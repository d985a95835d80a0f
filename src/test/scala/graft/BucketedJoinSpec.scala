package graft

import graft.core.Core
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Bucketing: the pre-shuffle co-location story. Writing both join
  * sides bucketed by the join key lets the sort-merge join read
  * bucket-aligned files with NO Exchange on either side — at 100 TB
  * this converts every recurring fact-fact join on that key from a
  * full shuffle into a local merge. */
class BucketedJoinSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("bucketed-by-key tables join without a shuffle exchange") {
    val dir = TestSpark.sfDir
    spark.sql("DROP TABLE IF EXISTS li_b")
    spark.sql("DROP TABLE IF EXISTS ord_b")
    Core.table(spark, dir, "lineitem")
      .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .mode("overwrite").saveAsTable("li_b")
    Core.table(spark, dir, "orders")
      .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .mode("overwrite").saveAsTable("ord_b")

    val joined = spark.table("li_b")
      .join(spark.table("ord_b"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"))

    val plan = joined.queryExecution.executedPlan.toString
    // the join itself must run on bucket-aligned reads: no shuffle
    // between the scans and the SortMergeJoin
    assert(plan.contains("SortMergeJoin") || plan.contains("BroadcastHashJoin"),
      plan)
    if (plan.contains("SortMergeJoin")) {
      val beforeAgg = plan.substring(plan.indexOf("SortMergeJoin"))
      assert(!beforeAgg.contains("Exchange hashpartitioning(l_orderkey"),
        s"unexpected shuffle on bucketed side:\n$plan")
      assert(!beforeAgg.contains("Exchange hashpartitioning(o_orderkey"),
        s"unexpected shuffle on bucketed side:\n$plan")
    }
    // and it computes the right answer
    val expected = Core.table(spark, dir, "lineitem")
      .join(Core.table(spark, dir, "orders"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderstatus").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = joined.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == expected)
    spark.sql("DROP TABLE IF EXISTS li_b")
    spark.sql("DROP TABLE IF EXISTS ord_b")
  }

  private val BroadcastThreshold = "spark.sql.autoBroadcastJoinThreshold"

  /** Runs `body` with the broadcast threshold at `value`, restoring the
    * session's value afterwards. */
  private def withBroadcastThreshold(value: String)(body: => Unit): Unit = {
    val before = spark.conf.get(BroadcastThreshold)
    try { spark.conf.set(BroadcastThreshold, value); body }
    finally spark.conf.set(BroadcastThreshold, before)
  }

  /** Runs `body` once per candidate-join branch of the indexed
    * incremental dedup: the default plan, where the small index is
    * broadcast, and the merge join that an index above the threshold
    * gets (forced here with -1). */
  private def forEachJoinBranch(body: String => Unit): Unit = {
    body("broadcast")
    withBroadcastThreshold("-1")(body("merge"))
  }

  /** The indexed incremental dedup over `dir`, its executed plan, and
    * whether it returns exactly the contract query's rows. */
  private def indexedVsContract(dir: String,
      index: String): (String, Boolean) = {
    val indexed =
      graft.operators.DedupOps.dedupIncrementalIndexed(spark, dir, index)
    val plan = indexed.queryExecution.executedPlan.toString
    val contract = SparkEntry.queries("dedup_incremental")(spark, dir)
      .collect().map(_.toSeq).toSeq
    (plan, indexed.collect().map(_.toSeq).toSeq == contract)
  }

  test("incremental dedup over the pre-built inverted index: batch " +
    "ingest shuffles only the delta, corpus side reads bucket-aligned") {
    // sf0.001's documents as 4 files, so the index build has 4 writer
    // tasks
    val dir = java.nio.file.Files.createTempDirectory("graft_idx").toString
    Core.table(spark, TestSpark.sfDir, "documents").repartition(4)
      .write.parquet(s"$dir/documents.parquet")
    spark.sql("DROP TABLE IF EXISTS dedup_idx")
    // built ONCE (the recurring 100 TB ingest amortizes this across
    // every subsequent batch)
    graft.operators.DedupOps.buildIncrementalIndex(spark, dir, "dedup_idx")
    // one file per bucket (the bucket id is the file name's `_000NN`
    // suffix): a join opens each bucket once, not once per writer task
    val files = spark.table("dedup_idx").inputFiles.toSeq
    val bucketIds =
      files.map(f => "_(\\d{5})\\.".r.findFirstMatchIn(f).get.group(1))
    assert(files.nonEmpty && files.length <= 8, files)
    assert(bucketIds.distinct.length == files.length, files)

    // an index above the broadcast threshold (a corpus-scale one)
    withBroadcastThreshold("-1") {
      val (plan, matches) = indexedVsContract(dir, "dedup_idx")
      // The candidate join runs on (lang, tok). Exactly ONE exchange on
      // that key may exist — the DELTA side being shuffled into bucket
      // alignment. A second one would mean the corpus-side index is
      // being re-shuffled on every batch, which is the exact recurring
      // cost the index exists to eliminate.
      val langTokExchanges =
        "Exchange hashpartitioning\\(lang".r.findAllIn(plan).size
      assert(langTokExchanges <= 1,
        s"corpus-side index re-shuffled on ingest:\n$plan")
      // and the index really is read through its buckets, not as a
      // plain file scan that would force the join to re-shuffle both
      // sides
      assert(plan.contains("SelectedBucketsCount") ||
        plan.contains("Bucketed: true"),
        s"index table not read bucket-aligned:\n$plan")
      assert(plan.contains("SortMergeJoin"),
        s"an index above the broadcast threshold must merge-join (a " +
          s"broadcast would be driver-bound at corpus scale):\n$plan")
      // result-identical to the contract query (same corpus, same batch
      // boundary, same threshold)
      assert(matches)
    }
    spark.sql("DROP TABLE IF EXISTS dedup_idx")
  }

  test("incremental dedup over an index below the broadcast threshold " +
    "broadcasts the index: neither side shuffles on the join key") {
    spark.sql("DROP TABLE IF EXISTS dedup_idx_bc")
    graft.operators.DedupOps.buildIncrementalIndex(spark, TestSpark.sfDir,
      "dedup_idx_bc")
    val (plan, matches) = indexedVsContract(TestSpark.sfDir, "dedup_idx_bc")
    // the index is the build side of the LEFT candidate join
    assert(plan.contains("BroadcastHashJoin") &&
      plan.contains("LeftOuter, BuildRight") &&
      !plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("Exchange hashpartitioning(lang"), plan)
    assert(matches)
    spark.sql("DROP TABLE IF EXISTS dedup_idx_bc")
  }

  test("indexed incremental dedup decides every arriving doc exactly " +
    "once and matches the contract on edge inputs") {
    import spark.implicits._
    // (doc_id, lang, source, text): corpus = src0..src9, arriving =
    // src10+ (the contract's batch boundary)
    val corpus = Seq(
      (1L, "en", "src0", "the quick brown fox jumps"),
      (2L, "en", "src1", "a slow green turtle walks home"),
      (3L, "de", "src2", "der schnelle braune fuchs"),
      (4L, "en", "src3", null))
    val cases = Seq(
      "null text, unindexed lang, empty text" -> (corpus ++ Seq(
        (10L, "en", "src10", "the quick brown fox jumps"),
        (11L, "en", "src11", null),
        (12L, "xx", "src12", "the quick brown fox jumps"),
        (13L, "en", "src13", "a slow green turtle walks"),
        (14L, "en", "src14", ""))),
      "nothing matches" -> (corpus ++ Seq(
        (20L, "en", "src10", "entirely unrelated words here"),
        (21L, "de", "src11", "ganz andere woerter"))),
      "empty batch" -> corpus)
    for ((name, docs) <- cases) {
      val dir = java.nio.file.Files.createTempDirectory("graft_incr").toString
      docs.toDF("doc_id", "lang", "source", "text")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      spark.sql("DROP TABLE IF EXISTS dedup_idx_edge")
      graft.operators.DedupOps.buildIncrementalIndex(spark, dir,
        "dedup_idx_edge")
      val contract = SparkEntry.queries("dedup_incremental")(spark, dir)
        .collect().map(_.toSeq).toSeq
      Core.releaseShared()
      val arriving = docs.filter(_._3.drop(3).toInt >= 10).map(_._1)
      forEachJoinBranch { branch =>
        val df = graft.operators.DedupOps
          .dedupIncrementalIndexed(spark, dir, "dedup_idx_edge")
        val join = if (branch == "broadcast") "BroadcastHashJoin"
          else "SortMergeJoin"
        assert(df.queryExecution.executedPlan.toString.contains(join),
          s"$name, $branch")
        val indexed = df.collect().map(_.toSeq).toSeq
        assert(indexed.map(_.head) == arriving.sorted,
          s"$name, $branch: $indexed")
        assert(indexed == contract, s"$name, $branch: $indexed vs $contract")
      }
    }
    spark.sql("DROP TABLE IF EXISTS dedup_idx_edge")
  }
}
