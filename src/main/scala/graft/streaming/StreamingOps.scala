package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode}

/** Streaming-only behaviors of the engine (SURVEY.md §2-B note):
  * watermarked tumbling windows with late-data drop, session windows,
  * and keyed state via mapGroupsWithState. Verified with MemoryStream in
  * scalatest (not DuckDB-oracle-able — a stream can't be replayed there;
  * the batch-equivalent shapes are in `stream_microbatch` /
  * `win_lag_sessionize`).
  *
  * Scale notes: state is keyed by high-cardinality keys (user_id /
  * place), partitioned by the state-store shuffle; watermarks bound
  * state size — without them a 100 TB stream accumulates unbounded
  * window state.
  */
object StreamingOps {

  /** A weather observation tick keyed by place (the reference is a
    * single-place loop; the engine generalizes to many keys). */
  case class Obs(place: String, ts: java.sql.Timestamp,
    temperature: Option[Double], code: Option[Int])

  case class PlaceFrame(place: String, temp_text: String, n_obs: Long)

  /** Tumbling refresh-window counts with late-data drop: events older
    * than the watermark relative to max seen ts never update a window. */
  def tumblingCounts(obs: DataFrame, watermark: String): DataFrame =
    obs.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "10 minutes").as("w"), col("place"))
      .agg(count(lit(1)).as("n"), max(col("temperature")).as("max_temp"))
      .select(col("w.start").as("window_start"), col("place"), col("n"),
        col("max_temp"))

  /** Session windows: activity bursts separated by `gap` of silence. */
  def sessionCounts(obs: DataFrame, gap: String): DataFrame =
    obs.withWatermark("ts", gap)
      .groupBy(session_window(col("ts"), gap).as("s"), col("place"))
      .agg(count(lit(1)).as("n"))
      .select(col("s.start").as("session_start"),
        col("s.end").as("session_end"), col("place"), col("n"))

  /** Streaming ingest dedup: drop repeated observation keys within the
    * watermark horizon — the stream-side analogue of `dedup_exact` for
    * an ingestion pipeline (at-least-once sources redeliver; this
    * bounds the dedup state by event time instead of keeping every key
    * forever, which a 100 TB/day stream cannot). */
  def dedupWithinWatermark(obs: DataFrame, watermark: String): DataFrame =
    obs.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("place", "ts")

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
    * (DedupOps.buildIncrementalIndex) via the SAME decision core as the
    * batch operator (DedupOps.dedupAgainstIndex) — so per-batch
    * decisions provably match the batch run on the same data
    * (asserted in StreamingOpsSpec), and the corpus side is never
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
    * back to the batch), and so is [[simhashDedupStream]];
    * StreamingOpsSpec checks it on the stream's own progress
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

  /** Streaming twin of `pipeline_dedup`'s GLOBAL candidate stage —
    * the real ingest shape for the corpus-wide sketch dedup: arriving
    * documents are watermark-deduped on doc_id (at-least-once sources
    * redeliver; the watermark bounds that state by event time), then
    * each micro-batch is SimHash-banded against the PRE-BUILT
    * corpus sketch index (DedupOps.buildSimhashIndex — 62-bit
    * sketches in 4 pigeonhole-exact 16-bit bands, bucketed on the
    * band key) via the SAME decision core as a batch delta run
    * (DedupOps.dedupAgainstSimhashIndex), so per-batch decisions
    * provably match the batch run on the same data (asserted in
    * StreamingOpsSpec) and the corpus side reads exchange-free on
    * every batch: only the micro-batch's sketch rows shuffle — 4
    * 16-byte rows per arriving doc, never text. `onBatch` receives
    * each batch's decision rows (doc_id, source, dup_of, is_new), one
    * per document and unordered; the batch is read once (the
    * [[incrementalDedup]] invariant). A full ingest loop would
    * append the new docs' sketch rows to the index between batches —
    * kept out of the operator (index maintenance policy, not decision
    * semantics), exactly like `incrementalDedup`. */
  def simhashDedupStream(docs: DataFrame, watermark: String,
      indexTable: String)(
      onBatch: (DataFrame, Long) => Unit): DataStreamWriter[Row] = {
    val s = docs.sparkSession
    docs.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("doc_id")
      .writeStream
      .foreachBatch { (b: DataFrame, id: Long) =>
        val decisions = graft.operators.DedupOps.dedupAgainstSimhashIndex(
          s, b.select("doc_id", "lang", "source", "text"), indexTable)
        onBatch(decisions, id)
      }
  }

  /** One ingest step of STREAMING CLUSTER MAINTENANCE — the state
    * fold behind [[clusterMaintenanceStream]], exposed so specs and a
    * batch-driven nightly job can run it directly: fold an arriving
    * batch of documents into the standing (corpus sketches, cluster
    * labels) state. Batch docs are 62-bit sketched
    * ([[graft.operators.DedupOps.simhash64SketchesOf]]), candidate
    * edges come from [[graft.operators.DedupOps
    * .incrementalSimhashDelta]] (batch-internal + batch×corpus-rep —
    * never corpus×corpus), and the labeling updates by supernode
    * contraction ([[graft.operators.DedupOps.ccIncrementalUpdate]]),
    * so a bridging doc MERGES existing clusters in place — the
    * transition the per-doc decision stream
    * ([[simhashDedupStream]]) cannot express. Both state relations
    * are `localCheckpoint`ed: one row per doc of 2–3 longs, never
    * text, and no batch re-derives its predecessors' lineage; at
    * cluster scale the same state is a checkpointed/Delta table
    * keyed by doc_id. Each carries a size estimate from its own row
    * count ([[graft.operators.DedupOps.checkpointSized]]): the
    * estimate a plain checkpoint inherits from the fold's joins
    * multiplied every fold. Returns (sketches ∪ batch, updated
    * labels). */
  def clusterMaintainStep(corpusSk: DataFrame, labels: DataFrame,
      batch: DataFrame): (DataFrame, DataFrame) = {
    // defend the state against re-folds the watermark dedup missed
    // (redelivery past the watermark, a foreachBatch retry after
    // state.set): an already-known doc must not duplicate its sketch
    // row — ccIncrementalUpdate anti-joins known docs out of its node
    // set for the same reason (round-12 self-review #2)
    val bSk = graft.operators.DedupOps.simhash64SketchesOf(batch)
      .join(corpusSk.select("doc_id"), Seq("doc_id"), "left_anti")
      .localCheckpoint()
    val delta = graft.operators.DedupOps
      .incrementalSimhashDelta(corpusSk, bSk)
    val newLabels = graft.operators.DedupOps.checkpointSized(
      graft.operators.DedupOps.ccIncrementalUpdate(
        labels, bSk.select("doc_id"), delta))
    (graft.operators.DedupOps.checkpointSized(corpusSk.unionByName(bSk)),
      newLabels)
  }

  /** STREAMING CLUSTER MAINTENANCE: the ingest twin of a full
    * `pipeline_dedup` rebuild — every watermark-deduped micro-batch
    * folds into the standing labeling via [[clusterMaintainStep]].
    * `state` holds (corpus sketches, labels) across batches (the
    * MemoryStream-testable stand-in for a checkpointed state table);
    * `onBatch` receives the post-batch labeling. Per-batch labels are
    * asserted ≡ a full-graph fixpoint rebuild over everything
    * ingested so far in StreamingOpsSpec, including a batch that
    * bridges two standing clusters.
    *
    * CONCURRENCY (ADVICE r12, closed round 14): each micro-batch's
    * [[graft.operators.DedupOps.ccIncrementalUpdate]] runs its
    * AQE-off (P,S) jobs in a CLONED session, so the conf flip is
    * invisible to concurrent queries on this SparkSession — a
    * concurrent poll during maintenance observes AQE on throughout
    * (asserted in StreamingOpsSpec). */
  def clusterMaintenanceStream(docs: DataFrame, watermark: String,
      state: java.util.concurrent.atomic.AtomicReference[
        (DataFrame, DataFrame)])(
      onBatch: (DataFrame, Long) => Unit): DataStreamWriter[Row] = {
    // ownership boundary (ADVICE r13): the stream frees only state it
    // PRODUCED. The caller's seed pair — captured here, before any
    // batch runs — is never freed, so reading the seed after the
    // stream starts (a previously valid pattern) keeps working; the
    // retention fix (ADVICE r12: one corpus-sized block set leaked per
    // micro-batch until GC) still applies to every stream-produced
    // superseded pair.
    val seed = state.get()
    def streamOwned(df: DataFrame): Boolean =
      seed == null || ((df ne seed._1) && (df ne seed._2))
    docs.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("doc_id")
      .writeStream
      .foreachBatch { (b: DataFrame, id: Long) =>
        val (sk, labels) = state.get()
        val (nsk, nlabels) = clusterMaintainStep(sk, labels,
          b.select("doc_id", "lang", "source", "text"))
        state.set((nsk, nlabels))
        onBatch(nlabels, id)
        // the superseded pair is materialized away (eager
        // localCheckpoints in clusterMaintainStep), so if the stream
        // produced it, its checkpoint blocks have no later reader —
        // free now (the ccPsLoop retention class, ADVICE r12); the
        // caller-owned seed pair is skipped and stays readable.
        if (streamOwned(sk))
          graft.operators.DedupOps.freeLocalCheckpoint(sk)
        if (streamOwned(labels))
          graft.operators.DedupOps.freeLocalCheckpoint(labels)
        graft.core.Core.releaseShared()
      }
  }

  /** Streaming twin of `pipeline_curate`: the curation manifest over an
    * arriving document stream. The quality/repetition flag chain and
    * the split/shard assignment hashes are STATELESS map-side
    * projections (TextOps.curateMapSide — the identical expressions the
    * batch operator ships), so they apply to a stream unchanged — no
    * state, no watermark, append mode; at 100 TB/day this is the
    * filter pass that runs as data lands. Decontamination checks each
    * doc's gram set against the EXTERNAL benchmark (bench_id, gram)
    * list (bounded by benchmark size — the same boundedness argument
    * as the batch broadcast) as a map-side `exists`, excluding
    * self-matches (`bench_id =!= doc_id`) exactly like the batch
    * operator's join predicate — so the streaming decision is
    * identical to the batch one for EVERY input, including a
    * benchmark doc arriving in the stream, which a bare gram-set
    * intersect would have flagged as contaminated by its own grams
    * (ADVICE round 7; asserted per batch in StreamingOpsSpec). */
  def curateStream(docs: DataFrame,
      benchGrams: Seq[(Long, String)]): DataFrame =
    graft.operators.TextOps.curateManifest(
      graft.operators.TextOps.curateMapSide(docs)
        .withColumn("drop_reason", coalesce(col("map_drop"),
          when(exists(typedLit(benchGrams), p =>
            array_contains(col("grams"), p.getField("_2"))
              && p.getField("_1") =!= col("doc_id")), "contaminated"))))

  /** Train the drift-monitor REFERENCE on a static events corpus —
    * the config a deployment persists at training time and every
    * later ingest is scored against: the `agg_drift_psi` boundary
    * ((min+max) DIV 2 epoch micros), per-type integer-cents bin edges
    * ((max−min) DIV 10 + 1 wide), and the period-A (pre-boundary)
    * count of every observed (type, bin). One row per observed A-bin
    * carrying its edges — bounded by types × 10 bins, broadcastable
    * at any corpus scale. Types with no pre-boundary rows would drop
    * their edges (none exist in this corpus; a deployment trains on a
    * complete period). */
  def driftRef(events: DataFrame): DataFrame = {
    val ev = events.select(col("event_type"),
      unix_micros(col("ts")).as("us"),
      graft.core.Core.cents(col("value")).as("vc"))
    val bound = ev.agg(min(col("us")).as("mn"), max(col("us")).as("mx"))
      .select(expr("(mn + mx) DIV 2").as("bus"))
    val edges = ev.groupBy("event_type")
      .agg(min(col("vc")).as("bmin"), max(col("vc")).as("bmax"))
      .select(col("event_type"), col("bmin"),
        expr("(bmax - bmin) DIV 10 + 1").as("w"))
    ev.crossJoin(broadcast(bound))
      .filter(col("us") < col("bus"))
      .join(broadcast(edges), "event_type")
      .withColumn("bin", expr("CAST((vc - bmin) DIV w AS INT)"))
      .groupBy("event_type", "bin")
      .agg(count(lit(1)).as("ref_cnt"),
        first(col("bmin")).as("bmin"), first(col("w")).as("w"))
  }

  /** Score a batch of events against a [[driftRef]] reference: bin
    * with the reference's edges, full-outer the (type, bin) counts
    * against the reference's, then the IDENTICAL add-1-smoothed
    * bin-sorted PSI fold as the `agg_drift_psi` contract query — fed
    * the post-boundary events with a reference trained on the full
    * corpus, the output is value-identical to the contract query's
    * (asserted exactly in StreamingOpsSpec). Shape: one batch scan +
    * a broadcast edges join + a (type, bin) agg vs the bounded
    * reference — linear in the batch, never touching the corpus.
    *
    * Batch types ABSENT from the reference (no pre-boundary rows, or a
    * brand-new type appearing mid-stream — the strongest drift signal
    * there is) must not vanish through the edges inner join (ADVICE
    * round 8): they surface as a SENTINEL row — n_a = 0, n_b = the
    * type's batch count, n_bins = 0, psi = null (PSI against an empty
    * reference is undefined, and null is un-ignorable in a metrics
    * store where any numeric sentinel could be graphed as a value). */
  def driftPsi(batch: DataFrame, ref: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{DoubleType, IntegerType}
    val edges = ref.select("event_type", "bmin", "w").distinct()
    val binned = batch
      .select(col("event_type"), graft.core.Core.cents(col("value")).as("vc"))
    val cb = binned
      .join(broadcast(edges), "event_type")
      .withColumn("bin", expr("CAST((vc - bmin) DIV w AS INT)"))
      .groupBy("event_type", "bin").agg(count(lit(1)).as("cb"))
    // the novel-type sentinel leg: one extra broadcast anti-join over
    // the same micro-batch projection — still linear in the batch
    val novel = binned
      .join(broadcast(edges.select("event_type")), Seq("event_type"),
        "left_anti")
      .groupBy("event_type")
      .agg(lit(0L).as("n_a"), count(lit(1)).as("n_b"),
        lit(0).cast(IntegerType).as("n_bins"),
        lit(null).cast(DoubleType).as("psi"))
    ref.select(col("event_type"), col("bin"), col("ref_cnt").as("ca"))
      .join(cb, Seq("event_type", "bin"), "full_outer")
      .select(col("event_type"), col("bin"),
        coalesce(col("ca"), lit(0L)).as("ca"),
        coalesce(col("cb"), lit(0L)).as("cb"))
      .groupBy("event_type")
      .agg(sum(col("ca")).as("n_a"), sum(col("cb")).as("n_b"),
        count(lit(1)).cast(IntegerType).as("n_bins"),
        sort_array(collect_list(
          struct(col("bin"), col("ca"), col("cb")))).as("bs"))
      .select(col("event_type"), col("n_a"), col("n_b"), col("n_bins"),
        round(aggregate(col("bs"), lit(0.0d), (acc, x) => {
          val pa = (x.getField("ca") + lit(1L)).cast(DoubleType) /
            (col("n_a") + col("n_bins")).cast(DoubleType)
          val pb = (x.getField("cb") + lit(1L)).cast(DoubleType) /
            (col("n_b") + col("n_bins")).cast(DoubleType)
          acc + (pa - pb) * log(pa / pb)
        }), 9).as("psi"))
      .unionByName(novel)
      .orderBy("event_type")
  }

  /** Streaming drift monitor — the `agg_drift_psi` twin for an
    * arriving event stream: each micro-batch is scored against the
    * broadcast [[driftRef]] reference with [[driftPsi]] and the PSI
    * rows handed to `sink` (a deployment writes them to its metrics
    * store; the spec collects them). Per-batch ≡ batch is structural
    * (the same driftPsi runs on the same rows) and asserted in
    * StreamingOpsSpec, alongside the exact identity with the
    * contract query when the stream delivers the post-boundary
    * period. */
  def driftStream(stream: DataFrame, ref: DataFrame)
      (sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[Row] =
    stream.writeStream.outputMode("append")
      .foreachBatch((b: DataFrame, id: Long) => sink(driftPsi(b, ref), id))

  /** Streaming BPE encode — the train-once / encode-forever shape a
    * tokenization service runs: the merge RULES trained once on the
    * static corpus ([[graft.operators.TextOps.bpeTrainOf]]'s merge
    * table — the artifact) are applied to every arriving micro-batch
    * by the rule-based encoder ([[graft.operators.TextOps
    * .bpeEncodeByRules]] — one shared definition with the batch form,
    * so batch ≡ stream is structural and asserted in
    * StreamingOpsSpec). RULES, not a vocabulary join, because a stream
    * carries UNSEEN words: the vocab inner join would silently drop
    * them (a doc of only OOV words would vanish entirely), while the
    * rule chain segments any word — whatever trained merges apply,
    * apply, the rest stays characters, exactly a real tokenizer's OOV
    * behavior. Map-side per batch: explode + literal replace chain +
    * per-doc agg over batch rows only — no state, no corpus access
    * after training. */
  def bpeEncodeStream(stream: DataFrame, merges: DataFrame)
      (sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[Row] =
    stream.writeStream.outputMode("append")
      .foreachBatch((b: DataFrame, id: Long) =>
        sink(graft.operators.TextOps.bpeEncodeByRules(b, merges), id))

  /** A weather alert tick — the second stream of the stream-stream
    * join demo (a real deployment joins observations against an alert
    * or request stream arriving independently). */
  case class Alert(a_place: String, a_ts: java.sql.Timestamp,
    severity: Int)

  /** STREAM-STREAM interval join: each observation pairs with the
    * alerts raised for the same place within the preceding `horizon` —
    * both sides are unbounded streams, so this is the stateful join
    * Spark buffers BOTH sides for. The two watermarks plus the closed
    * time-range predicate are what make the state bounded: Spark
    * derives from them exactly how long an alert (resp. observation)
    * can still find a future partner and evicts older state — without
    * the interval bound a 100 TB/day pair of streams accumulates
    * forever. Inner join in append mode; per-batch results asserted
    * ≡ the batch join of the same rows in StreamingOpsSpec. */
  def obsAlertJoin(obs: DataFrame, alerts: DataFrame,
      watermark: String = "10 minutes",
      horizon: String = "10 minutes"): DataFrame =
    obs.withWatermark("ts", watermark)
      .join(alerts.withWatermark("a_ts", watermark),
        expr(s"place = a_place AND a_ts BETWEEN ts - INTERVAL $horizon" +
          " AND ts"))
      .select(col("place"), col("ts"), col("temperature"), col("a_ts"),
        col("severity"))

  /** One admission decision of [[tokenBudgetStream]] — the streaming
    * row shape of the batch `sample_token_budget` output. */
  case class BudgetDecision(doc_id: Long, source: String, n_tokens: Long,
    budget: Long, cum_before: Long, keep: Boolean)

  /** Streaming twin of `sample_token_budget`: per-source token-budget
    * ADMISSION over an arriving document stream, the running
    * cumulative token count held in keyed state (flatMapGroupsWithState
    * — one Long per source, bounded by the source count, never by
    * stream length). A doc is admitted iff the source's running count
    * is still under budget when it arrives; the boundary doc may
    * overshoot, everything after it is rejected — the batch operator's
    * greedy-fill rule applied online. Ordering semantics (documented,
    * not hidden): a stream fills in arrival order ACROSS micro-batches,
    * and WITHIN each micro-batch in the batch operator's own canonical
    * shuffle-hash order (groupByKey loses batch-internal order, so the
    * tie-break must be explicit to be deterministic — using the same
    * (h, doc_id) key the batch fill ranks by means micro-batches that
    * split the hash order cleanly reproduce the batch decisions
    * EXACTLY; asserted in StreamingOpsSpec, including cum carry-over
    * across micro-batches and a mid-batch budget boundary). `budgets`
    * is the per-source token budget the deployment computed at
    * planning time (the drift-monitor reference pattern: train on the
    * corpus, score the stream). */
  def tokenBudgetStream(docs: DataFrame, budgets: Map[String, Long])
      : Dataset[BudgetDecision] = {
    import docs.sparkSession.implicits._
    val P = graft.functions.TextHash.P
    val M = graft.operators.TextOps.ShuffleHashMul
    docs
      .select(col("doc_id"), col("source"),
        size(split(lower(col("text")), " ")).cast("long").as("n_tokens"))
      .as[(Long, String, Long)]
      .groupByKey(_._2)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) {
        (src: String, rows: Iterator[(Long, String, Long)],
            state: GroupState[Long]) =>
          var cum = state.getOption.getOrElse(0L)
          val budget = budgets.getOrElse(src, 0L)
          val out = rows.toSeq
            .sortBy { case (id, _, _) => (id % P * M % P * M % P, id) }
            .map { case (id, _, n) =>
              val dec = BudgetDecision(id, src, n, budget, cum,
                keep = cum < budget)
              cum += n
              dec
            }
          state.update(cum)
          out.iterator
      }
  }

  /** Keyed running state (mapGroupsWithState): latest rendered frame per
    * place plus how many observations contributed. The reference's
    * display shows only the latest frame (weather.py:329); this is that
    * semantics, generalized per key and kept in managed state. */
  def latestFrame(obs: Dataset[Obs]): Dataset[PlaceFrame] = {
    import obs.sparkSession.implicits._
    obs.groupByKey(_.place)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
        (place: String, ticks: Iterator[Obs], state: GroupState[(String, Long)]) =>
          val sorted = ticks.toSeq.sortBy(_.ts.getTime)
          val prev = state.getOption.getOrElse(("--", 0L))
          val latest = sorted.lastOption
          // math.rint = round-half-even, matching Python "{:.0f}"
          // (JVM %.0f alone would HALF_UP)
          val text = latest.flatMap(_.temperature)
            .map(t => s"${math.rint(t).toLong}°").getOrElse(prev._1)
          val n = prev._2 + sorted.size
          state.update((text, n))
          PlaceFrame(place, text, n)
      }
  }
}
