package graft.operators

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** The corpus index of an incremental-dedup ingest
  * ([[DedupOps.buildIncrementalIndex]]) as the per-batch decision core
  * ([[DedupOps.dedupAgainstIndex]]) reads it: once per index snapshot,
  * not once per batch.
  *
  * An index whose relation the planner would broadcast (its
  * `sizeInBytes` at most `spark.sql.autoBroadcastJoinThreshold`, the
  * planner's own test) is read by ONE collect job into an
  * [[IndexProbe]] and shipped by ONE `SparkContext.broadcast`; every
  * batch then decides its documents by probing that table in a
  * projection. A larger index yields no probe table, and the batches
  * merge-join against it as before.
  *
  * A snapshot is the index's file set (`inputFiles`): [[probe]] lists
  * the files on every call, which runs no job, and reloads when they
  * changed, so an index rebuilt between two micro-batches is read by
  * the next one. A stream holds one instance for its lifetime
  * (streaming/StreamingOps.incrementalDedup); the constructor loads the
  * current snapshot, so that read runs before the stream's first batch.
  */
private[graft] final class IngestIndex(s: SparkSession, val table: String) {
  private var snapshot = load(s.table(table))

  /** The probe table of the index as it stands now, or None when the
    * index is above the broadcast threshold. */
  def probe(): Option[Broadcast[IndexProbe]] = synchronized {
    val rel = s.table(table)
    if (rel.inputFiles.toSet != snapshot._1) snapshot = load(rel)
    snapshot._2
  }

  private def load(rel: DataFrame)
      : (Set[String], Option[Broadcast[IndexProbe]]) = {
    val size = rel.queryExecution.optimizedPlan.stats.sizeInBytes
    val threshold = s.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.conf.autoBroadcastJoinThreshold
    (rel.inputFiles.toSet,
      if (size >= 0 && size <= threshold)
        Some(s.sparkContext.broadcast(IndexProbe.of(rel)))
      else None)
  }
}

/** The (lang, tok) → (c_id, c_sz) postings of a corpus index, compact:
  * `slots` maps a key to its number k, and key k's postings are pairs
  * `starts(k)` until `starts(k + 1)` of `pairs`, one primitive array
  * holding c_id at 2j and c_sz at 2j + 1. */
private[graft] final class IndexProbe private (
    slots: Map[String, Map[String, Int]], starts: Array[Int],
    pairs: Array[Long]) extends Serializable {

  /** The `dup_of` of a document in language `lang` with the distinct
    * tokens `toks`: the minimum c_id whose token-set Jaccard reaches
    * `threshold`, in the double arithmetic of the merge branch's SQL
    * (`inter.toDouble / (b_sz + c_sz - inter)`), or null when none
    * does. A null `lang` or `toks` matches no posting, as in the join. */
  def dupOf(lang: String, toks: Seq[String],
      threshold: Double): java.lang.Long = {
    val keys = if (lang == null || toks == null) Seq.empty[Int]
      else slots.get(lang).fold(Seq.empty[Int])(byTok => toks.flatMap(byTok.get))
    val inter = new scala.collection.mutable.LongMap[Int]()
    for (k <- keys; j <- starts(k) until starts(k + 1))
      inter(pairs(2 * j)) = inter.getOrElse(pairs(2 * j), 0) + 1
    val bSz = if (toks == null) 0 else toks.length
    var best: java.lang.Long = null
    for (k <- keys; j <- starts(k) until starts(k + 1)) {
      val (c, n) = (pairs(2 * j), inter(pairs(2 * j)))
      if (n.toDouble / (bSz + pairs(2 * j + 1) - n) >= threshold &&
          (best == null || c < best)) best = c
    }
    best
  }
}

private[graft] object IndexProbe {

  /** The probe table of `index`, a (lang, tok, c_id, c_sz) relation:
    * one collect job, grouped on the driver. Rows with a null `lang`
    * are dropped; no document can match them. */
  def of(index: DataFrame): IndexProbe = {
    val rows = index.where(col("lang").isNotNull)
      .select("lang", "tok", "c_id", "c_sz").collect()
    val keys = rows.groupBy(r => (r.getString(0), r.getString(1))).toArray
    val starts = keys.scanLeft(0)(_ + _._2.length)
    val pairs = new Array[Long](2 * rows.length)
    for (((_, posts), k) <- keys.zipWithIndex;
         (r, i) <- posts.zipWithIndex) {
      pairs(2 * (starts(k) + i)) = r.getLong(2)
      pairs(2 * (starts(k) + i) + 1) = r.getInt(3)
    }
    val slots = keys.indices.groupBy(k => keys(k)._1._1).map {
      case (lang, ks) => lang -> ks.map(k => keys(k)._1._2 -> k).toMap }
    new IndexProbe(slots, starts, pairs)
  }
}
