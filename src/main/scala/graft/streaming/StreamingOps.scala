package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

/** The ingest stream: arriving documents are watermark-deduped on
  * `doc_id` and each micro-batch is decided against a pre-built corpus
  * index. The reference's own refresh loop is [[WeatherPipeline]];
  * this is the stream the `ingest_dedup` workload drives. Verified with
  * MemoryStream in StreamingOpsSpec against the batch decision core
  * (a stream cannot be replayed in the DuckDB oracle; its batch shape
  * is the `dedup_incremental` contract query).
  */
object StreamingOps {

  /** An arriving document in the streaming-ingest dedup pipeline:
    * the `documents` shape plus an event-time column for the
    * watermark. */
  case class IncomingDoc(doc_id: Long, lang: String, source: String,
    text: String, ts: java.sql.Timestamp)

  /** Streaming twin of `dedup_incremental` — what a real ingest
    * pipeline runs: an arriving document stream is first
    * watermark-deduped on doc_id (at-least-once sources redeliver;
    * `dropDuplicatesWithinWatermark` bounds that state by event time
    * instead of keeping every key forever), then each micro-batch is
    * decided against the PRE-BUILT bucketed corpus index
    * (DedupOps.buildIncrementalIndex) via the one decision core
    * (DedupOps.dedupAgainstIndex) — so per-batch decisions match one
    * batch run of that core over the whole delta (asserted in
    * StreamingOpsSpec against the `dedup_incremental` split), and the corpus side is never
    * shuffled. The stream holds one [[graft.operators.IngestIndex]],
    * loaded here, before the stream starts; it must therefore exist
    * when this is called. An index under `autoBroadcastJoinThreshold`
    * is read by one collect job into a broadcast probe table, and read
    * again only when its file set changes (a rebuilt index is picked up
    * by the next batch). The micro-batch, already hash-partitioned on
    * `doc_id` by the watermark dedup, is decided by a projection inside
    * the state-store stage: a batch runs 1 job of 2 stages (source
    * exchange, dedup + decide), with no join, no exchange after the
    * dedup and no read of the index (StreamingOpsSpec pins all three).
    * A larger index keeps the bucket-aligned merge join, where only the
    * delta explodes and shuffles. `onBatch` receives each
    * micro-batch's decision rows (doc_id, source, dup_of, is_new), one
    * per document and unordered: a global sort would cost every batch
    * a range exchange and a sampling job.
    *
    * Invariant: a `foreachBatch` body reads its micro-batch ONCE. The
    * micro-batch is the stateful watermark-dedup plan, and every extra
    * read of it (a self-join, a second action) re-runs that dedup and
    * re-commits its state store — doubling the state rows updated and
    * the commit time of every batch. The decision core is written to
    * that rule (one projection, or one LEFT candidate join, and no join
    * back to the batch); StreamingOpsSpec checks it on the stream's own progress
    * (numRowsUpdated == new documents). */
  def incrementalDedup(docs: DataFrame, watermark: String,
      indexTable: String)(
      onBatch: (DataFrame, Long) => Unit): DataStreamWriter[Row] = {
    val s = docs.sparkSession
    val index = new graft.operators.IngestIndex(s, indexTable)
    docs.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("doc_id")
      .writeStream
      .foreachBatch { (b: DataFrame, id: Long) =>
        val decisions = graft.operators.DedupOps.dedupAgainstIndex(s,
          b.select(col("doc_id"), col("lang"), col("source"),
            array_distinct(split(lower(col("text")), " ")).as("toks")),
          index)
        onBatch(decisions, id)
      }
  }
}
