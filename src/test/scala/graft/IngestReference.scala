package graft

import graft.operators.{DedupOps, IngestIndex}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The batch side the ingest specs compare the stream against: the
  * `dedup_incremental` split decided in one run of the stream's own
  * decision core ([[DedupOps.dedupAgainstIndex]]). */
object IngestReference {

  /** `dedup_incremental` semantics over a pre-built bucketed index
    * ([[DedupOps.buildIncrementalIndex]]): the arriving split (sources
    * src10+) decided against `indexTable`, in the contract's `doc_id`
    * order. The per-batch core stays unordered; the sort is applied
    * here only. */
  def dedupIncrementalIndexed(s: SparkSession, dir: String,
      indexTable: String): DataFrame =
    DedupOps.dedupAgainstIndex(s,
      graft.core.Core.table(s, dir, "documents")
        .filter(substring(col("source"), 4, 10).cast("int") >=
          DedupOps.IncrementalCorpusSrcs)
        .select(col("doc_id"), col("lang"), col("source"),
          array_distinct(split(lower(col("text")), " ")).as("toks")),
      new IngestIndex(s, indexTable))
      .orderBy("doc_id")
}
