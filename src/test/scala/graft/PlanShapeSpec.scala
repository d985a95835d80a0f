package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted}
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan shape assertions for the 100 TB properties the prose
  * (docs/PLANS.md) claims: inequality joins must bin to equi-joins
  * (no cartesian), corpus-scaled candidate joins must be salted and
  * pinned shuffle-hash (no stats-driven broadcast), dimension lookups
  * must broadcast, and stateless per-row operators must not shuffle.
  * Asserted on the INITIAL physical plan — the shape Catalyst commits
  * to before AQE sees runtime stats, i.e. the plan that must already
  * be safe when the stats say "100 TB", not "test corpus".
  */
class PlanShapeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val dir = TestSpark.sfDir

  private def plan(q: String): String =
    SparkEntry.queries(q)(spark, dir).queryExecution.executedPlan.toString

  test("join_interval bins to an equi-join: no cartesian, no broadcast NL") {
    val p = plan("join_interval")
    assert(!p.contains("CartesianProduct"), "interval join went cartesian")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "interval join fell back to broadcast nested-loop")
    assert(p.contains("ShuffledHashJoin"), "candidate join lost its SHJ pin")
    assert(p.contains("__salt"), "candidate join lost its salting")
  }

  test("corpus-scaled candidate self-joins are salted + shuffle-hash pinned") {
    for (q <- Seq("dedup_near", "dedup_near_prefix", "dedup_ngram",
        "txt_containment", "dedup_minhash_lsh", "dedup_simhash",
        "dedup_simhash_global",
        "dedup_incremental")) {
      val p = plan(q)
      assert(p.contains("ShuffledHashJoin"), s"$q: no pinned SHJ in plan")
      assert(p.contains("__salt"), s"$q: candidate join not salted")
      assert(!p.contains("CartesianProduct"), s"$q: cartesian appeared")
    }
  }

  test("dedup_winnow joins on the salted fingerprint key, never broadcast") {
    val p = plan("dedup_winnow")
    assert(p.contains("ShuffledHashJoin"), "winnow candidate join lost SHJ")
    assert(p.contains("__salt"), "winnow candidate join not salted")
    assert(!p.contains("CartesianProduct"))
  }

  test("map-side expression operators stay shuffle-free bar the contract sort") {
    // txt_winnow (graft_winnow) and txt_repetition (graft_tok_stats)
    // are single-scan expression passes: a hash exchange appearing
    // here means the codegen'd-expression rewrite regressed to an
    // explode/groupBy shape
    for (q <- Seq("txt_winnow", "txt_repetition")) {
      val p = plan(q)
      assert(!p.contains("Exchange hashpartitioning"),
        s"$q reintroduced a hash shuffle:\n$p")
      assert(!p.contains("Generate"), s"$q exploded its payload:\n$p")
    }
  }

  test("drift/outlier monitors broadcast their type-dim stats back") {
    // the per-type stats relations are dimension-sized: the join back
    // to the fact scan must be a broadcast, never a fact-side shuffle
    // pairing with a window over the corpus
    for (q <- Seq("agg_drift_psi", "agg_iqr_outlier", "agg_zscore_outlier")) {
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin") ||
        p.contains("BroadcastNestedLoopJoin"),
        s"$q: stats join-back is not broadcast:\n$p")
      assert(!p.contains("Window"), s"$q windows over the corpus:\n$p")
    }
  }

  test("pipeline_pack's only corpus windows are shard-partitioned") {
    val p = plan("pipeline_pack")
    // the rank + cumulative-sum windows must partition by the shard
    // key (thousands of shards at 100 TB); an empty partition spec
    // would be a one-reducer global sort
    assert(p.contains("Window"), "pack lost its window")
    assert(p.contains("Exchange hashpartitioning(shard"),
      s"pack window not shard-partitioned:\n$p")
  }

  test("pipeline_tokenize keeps the shard-partitioned pack window and broadcasts the vocab") {
    val p = plan("pipeline_tokenize")
    // same invariant as pipeline_pack: the rank + cumulative-sum
    // windows partition by shard (parallel at thousands of shards),
    // never an empty partition spec
    assert(p.contains("Window"), "tokenize lost its pack window")
    assert(p.contains("Exchange hashpartitioning(shard"),
      s"tokenize window not shard-partitioned:\n$p")
    // the trained BPE vocabulary is vocabulary-bounded and must join
    // broadcast — a shuffled vocab join would re-exchange the exploded
    // token stream of the whole corpus
    assert(p.contains("BroadcastHashJoin"),
      s"tokenize vocab join is not broadcast:\n$p")
  }

  test("txt_split_assign never shuffles on a hash key (map-side + sort only)") {
    val p = plan("txt_split_assign")
    assert(!p.contains("Exchange hashpartitioning"),
      s"split assignment introduced a shuffle:\n$p")
  }

  test("txt_entropy is map-side: no hash exchange, only the contract sort") {
    val p = plan("txt_entropy")
    assert(!p.contains("Exchange hashpartitioning"),
      s"entropy reintroduced a hash shuffle (char explode shape?):\n$p")
    assert(!p.contains("Generate"),
      s"entropy reintroduced a per-character explode:\n$p")
  }

  test("global-rank bucketing has NO unpartitioned window: percentile " +
    "cut-points broadcast back instead") {
    // txt_quality_tier (deciles) and txt_perplexity_filter (terciles)
    // assign every doc a global quantile bucket. A global ntile would
    // funnel one row per doc through a single reducer (WindowExec with
    // an empty partitionSpec) — the one-reducer anti-pattern at 100 TB.
    // Both must instead aggregate cut-points and broadcast them back.
    for (q <- Seq("txt_quality_tier", "txt_perplexity_filter")) {
      val p = plan(q)
      assert(!p.contains("Window"),
        s"$q reintroduced a window (global ntile shape?):\n$p")
      assert(p.contains("BroadcastExchange") ||
        p.contains("BroadcastNestedLoopJoin"),
        s"$q lost its broadcast cut-point join:\n$p")
    }
  }

  test("dimension lookups broadcast; bounded benchmark set broadcasts") {
    assert(plan("join_code_dim").contains("BroadcastHashJoin"),
      "WMO dim lookup should broadcast")
    assert(plan("txt_decontaminate").contains("Broadcast"),
      "bounded benchmark gram relation should broadcast")
  }

  test("CC rounds shuffle only labels: the cached edge partitioning is " +
    "reused by every round's join") {
    // partition-once/join-many: ccUnrolled repartitions the cached edge
    // relation on the join key ONCE; each propagation round must then
    // add exactly ONE new m-keyed exchange (the node-sized label
    // relation) — an edges-side reshuffle per round would add two, and
    // at 100 TB would re-shuffle the corpus-scaled edge list every
    // round. Distinct attribute ids separate per-round label exchanges
    // (fresh ids) from re-prints of the one cached edge exchange (same
    // id on every reference). Tiny synthetic edges keep the unrolled
    // plan string un-truncated.
    import spark.implicits._
    val nodes = (0L to 30L).toDF("doc_id")
    val edges = (0L until 30L).flatMap(i =>
      Seq((i, i + 1), (i + 1, i))).toDF("n", "m")
    def mExchangeIds(rounds: Int): Set[String] = {
      val p = graft.operators.DedupOps.ccUnrolled(nodes, edges, rounds)
        .queryExecution.executedPlan.toString
      "Exchange hashpartitioning\\(m#\\d+".r.findAllIn(p).toSet
    }
    graft.core.Core.releaseShared()
    val r1 = mExchangeIds(1).size
    graft.core.Core.releaseShared()
    val r5 = mExchangeIds(5).size
    graft.core.Core.releaseShared()
    assert(r5 - r1 == 4,
      s"expected 1 new m-exchange per round (labels only); " +
        s"got $r1 at 1 round vs $r5 at 5")
  }

  test("doubled CC pairs reuse the cached edge partitioning and " +
    "compute each propagate exactly once") {
    // the eager (P,S) loop keeps ccUnrolled's partition-once/join-many
    // contract at 100 TB: the self-looped edge relation (|E| + n rows)
    // is shuffled ONCE, into the layout every segment's propagate
    // reads, and each segment is ONE job — the shortcut's two reads of
    // the propagate output hit its persisted relation instead of
    // running the edge join twice, and the certificate rides the
    // checkpoint job. Counted by a listener at two segment caps on a
    // chain that needs more segments than either: a stage that writes
    // |E| + n shuffle records shuffles the edges (label shuffles write
    // at most n), the extra segments must add one job each, and at
    // most one label-sized shuffle each (a second propagate would add
    // its own).
    import spark.implicits._
    val n = 64L
    val nodes = (0L until n).toDF("doc_id")
    val edges = (0L until n - 1).flatMap(i =>
      Seq((i, i + 1), (i + 1, i))).toDF("n", "m")
    val edgeRows = 2 * (n - 1) + n
    class Counts extends SparkListener {
      val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
      val edgeShuffles = new java.util.concurrent.atomic.AtomicInteger(0)
      val records = new java.util.concurrent.atomic.AtomicLong(0)
      val fenceSeen = new java.util.concurrent.CountDownLatch(1)
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(
            _.getProperty("spark.job.description") == "fence"))
          fenceSeen.countDown()
        else jobs.incrementAndGet()
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        Option(e.stageInfo.taskMetrics).foreach { m =>
          records.addAndGet(m.shuffleWriteMetrics.recordsWritten)
          if (m.shuffleWriteMetrics.recordsWritten == edgeRows)
            edgeShuffles.incrementAndGet()
        }
    }
    def run(cap: Int): (Int, Int, Int, Long) = {
      val c = new Counts
      val sc = spark.sparkContext
      sc.addSparkListener(c)
      val (labels, segments, _) =
        try graft.operators.DedupOps.ccPsLoop(nodes, edges, cap)
        finally {
          // the bus delivers in order: once the fence job is seen,
          // every event of the loop's jobs has been seen too
          sc.setJobDescription("fence")
          try sc.parallelize(Seq(1), 1).count()
          finally sc.setJobDescription(null)
          assert(c.fenceSeen.await(60, java.util.concurrent.TimeUnit.SECONDS))
          sc.removeSparkListener(c)
        }
      graft.operators.DedupOps.freeLocalCheckpoint(labels)
      graft.core.Core.releaseShared()
      (segments, c.jobs.get(), c.edgeShuffles.get(), c.records.get())
    }
    val (s2, jobs2, edge2, rec2) = run(2)
    val (s5, jobs5, edge5, rec5) = run(5)
    assert(s2 == 2 && s5 == 5, s"segments $s2 / $s5")
    assert(edge2 == 1 && edge5 == 1,
      s"expected the edge relation shuffled exactly once per loop; " +
        s"got $edge2 at 2 segments and $edge5 at 5")
    assert(jobs5 - jobs2 == 3,
      s"expected one job per segment: $jobs2 jobs at 2 segments, " +
        s"$jobs5 at 5")
    assert(rec5 - rec2 <= 3 * n,
      s"3 extra segments shuffled ${rec5 - rec2} records, more than " +
        s"one label relation ($n rows) each")
  }

  test("pipeline_dedup's CC loop reads its input row counts and seed " +
    "certificate off its input checkpoints: 24 jobs at sf0.001") {
    // the loop's two input checkpoint jobs carry the edge and node row
    // counts and the seed labels' certificate as observed metrics. A
    // separate count per input (2 jobs each under the caller's AQE: a
    // stage job, then the result) and a seed aggregate ran 5 more jobs
    // (32 in all). The query's three `documents` reads take their
    // schema from the Parquet footer on the driver; schema inference
    // ran one job per read (27 in all). Counted over build + collect of a second run, with
    // the shared caches released first, so that neither the first
    // read of a file in this JVM nor an earlier query's cache moves
    // the count.
    SparkEntry.queries("pipeline_dedup")(spark, dir).collect()
    graft.core.Core.releaseShared()
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val fenceSeen = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(
            _.getProperty("spark.job.description") == "fence"))
          fenceSeen.countDown()
        else jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    val manifest =
      try SparkEntry.queries("pipeline_dedup")(spark, dir).collect()
      finally {
        sc.setJobDescription("fence")
        try sc.parallelize(Seq(1), 1).count()
        finally sc.setJobDescription(null)
        assert(fenceSeen.await(60, java.util.concurrent.TimeUnit.SECONDS))
        sc.removeSparkListener(listener)
      }
    assert(jobs.get == 24, s"pipeline_dedup ran ${jobs.get} jobs")
    // the same segments and the same labels: the loop on the query's
    // own inputs certifies after 4 segments, and the manifest's clusters
    // are the plain-propagation fixpoint
    val nodes = graft.core.Core.table(spark, dir, "documents")
      .select("doc_id")
    val edges = graft.operators.DedupOps.simhashEdgesGlobal(spark, dir)
    val (labels, segments, converged) = graft.operators.DedupOps
      .ccPsLoop(nodes, edges, graft.operators.DedupOps.StarCcPairs)
    assert(segments == 4 && converged, s"$segments segments")
    graft.operators.DedupOps.freeLocalCheckpoint(labels)
    val reference = CcReference.ccFixpoint(nodes, edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(manifest.map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      reference)
    graft.core.Core.releaseShared()
  }

  test("partition-keyed writes prune partitions at the scan") {
    // the storage-layout lever every 100 TB corpus uses: write sharded
    // by the filter key, and a key predicate must become a partition
    // filter (directories skipped), never a post-scan filter
    val out = java.nio.file.Files
      .createTempDirectory("graft_part").toString
    graft.core.Core.table(spark, dir, "documents")
      .write.mode("overwrite").partitionBy("lang")
      .parquet(s"$out/docs_by_lang")
    val q = spark.read.parquet(s"$out/docs_by_lang")
      .filter(org.apache.spark.sql.functions.col("lang") === "en")
      .groupBy("source").count()
    val scan = q.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") &&
      scan.replaceAll("\\s", "").contains("PartitionFilters:[isnotnull(lang"),
      s"lang predicate did not reach the partition filters:\n$scan")
    assert(q.count() > 0)
  }
}
