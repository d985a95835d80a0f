package graft

import graft.core.Core
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** What a repeated run may reuse: the generated classes of a query that
  * already ran in this JVM, and a plan that is already cached. */
class ReuseSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def compiled: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Classes compiled by one build-and-write of `name`, released after
    * the write as the harnesses do. */
  private def classesOf(name: String): Long = {
    val before = compiled
    SparkEntry.queries(name)(spark, TestSpark.sfDir)
      .write.format("noop").mode("overwrite").save()
    Core.releaseShared()
    compiled - before
  }

  // curation's four queries, then every query a router decides at
  // build: sim_ann_lsh_auto, sim_pq_topk, sim_ivfpq_topk,
  // sim_ann_ivf_rerank, dedup_semdedup and pipeline_curate on a footer
  // row count, dedup_near_auto and txt_containment on the df-skew
  // sample
  private val queries = Seq("dedup_cluster_cc", "dedup_simhash_global",
    "dedup_near_auto", "txt_perplexity_filter", "sim_ann_lsh_auto",
    "sim_pq_topk", "sim_ivfpq_topk", "sim_ann_ivf_rerank",
    "dedup_semdedup", "pipeline_curate", "txt_containment")

  test("a second run of a query compiles no generated class") {
    val second = queries.map { q => classesOf(q); q -> classesOf(q) }
    assert(second.forall(_._2 == 0L),
      "classes compiled by a second run: " +
        second.filter(_._2 != 0L).mkString(", "))
  }

  test("shared registers a plan that is already cached once") {
    Core.releaseShared()
    val df = spark.range(10).select((col("id") * 2).as("x"))
    Core.shared(df)
    Core.shared(df)
    assert(Core.sharedPending == 1)
    Core.releaseShared()
    assert(Core.sharedPending == 0)
  }
}
