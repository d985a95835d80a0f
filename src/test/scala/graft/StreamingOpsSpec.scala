package graft

import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import graft.streaming.StreamingOps
import graft.streaming.StreamingOps.Obs
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobStart, SparkListenerStageSubmitted}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery,
  StreamingQueryException}
import org.scalatest.funsuite.AnyFunSuite

/** MemoryStream-driven tests for watermark late-drop, session windows,
  * and keyed running state. */
class StreamingOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def ts(min: Int): Timestamp =
    Timestamp.valueOf(f"2026-08-12 10:$min%02d:00")

  /** The watermark dedup's state of the last micro-batch that carried
    * input (a watermark advance may run a no-data batch after it): it
    * updated exactly `updated` rows — the batch's new documents — and
    * holds `total`, every distinct document seen so far. A sink that
    * reads its micro-batch twice re-runs the dedup and doubles both. */
  private def assertStateOnce(q: StreamingQuery, updated: Int,
      total: Int): Unit = {
    val op = q.recentProgress.filter(_.numInputRows > 0).last
      .stateOperators(0)
    assert(op.numRowsUpdated == updated, op.json)
    assert(op.numRowsTotal == total, op.json)
  }

  /** The contract's arriving documents (src10+) at one event time. */
  private def arrivingDocs(): Array[StreamingOps.IncomingDoc] = {
    val t0 = Timestamp.valueOf("2026-08-12 10:00:00")
    graft.core.Core.table(spark, TestSpark.sfDir, "documents")
      .withColumn("src_idx", substring(col("source"), 4, 10).cast("int"))
      .filter(col("src_idx") >=
        graft.operators.DedupOps.IncrementalCorpusSrcs)
      .select("doc_id", "lang", "source", "text")
      .collect()
      .map(r => StreamingOps.IncomingDoc(r.getLong(0), r.getString(1),
        r.getString(2), r.getString(3), t0))
  }

  /** Counts the stages and the jobs each micro-batch runs, keyed by
    * (query id, batch id): the stream sets both as job properties, and
    * a job a batch starts (a broadcast's, a collect's) inherits them.
    * Also keeps each SQL execution's physical plan, to tell which jobs
    * read a given table. */
  private class BatchCounts extends SparkListener {
    private type ByBatch =
      java.util.concurrent.ConcurrentHashMap[(String, Long), Int]
    private val stages, jobs = new ByBatch
    private val plans =
      new java.util.concurrent.ConcurrentHashMap[Long, String]()
    private val jobExecutions =
      new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    private val fenceSeen = new java.util.concurrent.CountDownLatch(1)
    private def tally(into: ByBatch, p: java.util.Properties): Unit =
      for (p <- Option(p); q <- Option(p.getProperty("sql.streaming.queryId"));
           b <- Option(p.getProperty("streaming.sql.batchId")))
        into.merge((q, b.toLong), 1, _ + _)
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      tally(stages, e.properties)
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (Option(e.properties).exists(
          _.getProperty("spark.job.description") == "fence"))
        fenceSeen.countDown()
      else {
        tally(jobs, e.properties)
        Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .foreach(id => jobExecutions.add(id.toLong))
      }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart =>
        plans.put(x.executionId, x.physicalPlanDescription)
      case _ => ()
    }
    /** Waits until every event before this call has reached the
      * listener (the bus delivers in order, so a job started now is
      * seen after them). */
    private def fence(): Unit = {
      val sc = spark.sparkContext
      sc.setJobDescription("fence")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setJobDescription(null)
      assert(fenceSeen.await(60, java.util.concurrent.TimeUnit.SECONDS))
    }
    /** (stages, jobs) per batch of query `q`. */
    def of(q: StreamingQuery): (Map[Long, Int], Map[Long, Int]) = {
      fence()
      def mine(m: ByBatch) = m.asScala.collect {
        case ((id, b), n) if id == q.id.toString => b -> n }.toMap
      (mine(stages), mine(jobs))
    }
    /** Jobs whose SQL execution's plan names `table`. */
    def jobsReading(table: String): Int = {
      fence()
      jobExecutions.asScala.count(id =>
        Option(plans.get(id)).exists(_.contains(table)))
    }
  }

  test("watermarked tumbling window drops late data (append mode)") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val in = MemoryStream[Obs]
    val q = StreamingOps.tumblingCounts(in.toDF(), "20 minutes")
      .writeStream.format("memory").queryName("tumbling")
      .outputMode(OutputMode.Append()).start()

    in.addData(Obs("London", ts(5), Some(12.0), Some(63)),
      Obs("London", ts(15), Some(13.0), Some(63)))
    q.processAllAvailable()
    // advance watermark far: max ts 11:30 => watermark 11:10 closes
    // both earlier windows
    in.addData(Obs("London", Timestamp.valueOf("2026-08-12 11:30:00"),
      Some(20.0), Some(0)))
    q.processAllAvailable()
    // this event is behind the watermark -> dropped, never emitted
    in.addData(Obs("London", ts(7), Some(99.0), Some(0)))
    q.processAllAvailable()
    q.stop()

    val rows = spark.table("tumbling")
      .collect().map(r => (r.getTimestamp(0).toString, r.getLong(2),
        r.getDouble(3))).toSet
    assert(rows.contains(("2026-08-12 10:00:00.0", 1L, 12.0)))
    assert(rows.contains(("2026-08-12 10:10:00.0", 1L, 13.0)))
    // the late 99.0 must not appear anywhere
    assert(!rows.exists(_._3 == 99.0), rows)
  }

  test("session windows split on gap of inactivity") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val in = MemoryStream[Obs]
    val q = StreamingOps.sessionCounts(in.toDF(), "30 minutes")
      .writeStream.format("memory").queryName("sessions")
      .outputMode(OutputMode.Append()).start()
    in.addData(
      Obs("London", ts(0), Some(1.0), None),
      Obs("London", ts(10), Some(2.0), None),  // same session
      Obs("London", Timestamp.valueOf("2026-08-12 12:00:00"), Some(3.0), None))
    q.processAllAvailable()
    // push watermark forward to close the first session
    in.addData(Obs("London", Timestamp.valueOf("2026-08-12 14:00:00"),
      Some(4.0), None))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("sessions")
      .collect().map(r => (r.getTimestamp(0).toString, r.getLong(3))).toSet
    assert(rows.contains(("2026-08-12 10:00:00.0", 2L)), rows)
    assert(rows.contains(("2026-08-12 12:00:00.0", 1L)), rows)
  }

  test("dropDuplicatesWithinWatermark suppresses redelivered events") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val in = MemoryStream[Obs]
    val q = StreamingOps.dedupWithinWatermark(in.toDF(), "30 minutes")
      .writeStream.format("memory").queryName("stream_dedup")
      .outputMode(OutputMode.Append()).start()
    in.addData(Obs("London", ts(5), Some(12.0), Some(63)))
    q.processAllAvailable()
    // at-least-once redelivery of the same (place, ts) in a later batch
    in.addData(Obs("London", ts(5), Some(12.0), Some(63)),
      Obs("London", ts(15), Some(13.0), Some(63)))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("stream_dedup")
      .collect().map(r => (r.getString(0), r.getTimestamp(1).toString))
    assert(rows.length == 2, rows.toSeq) // the duplicate was dropped
    assert(rows.map(_._2).distinct.length == 2)
  }

  test("streaming incremental dedup over the bucketed index matches the " +
    "batch operator per batch, with redelivery suppressed") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val dir = TestSpark.sfDir
    spark.sql("DROP TABLE IF EXISTS dedup_idx_stream")
    graft.operators.DedupOps.buildIncrementalIndex(spark, dir,
      "dedup_idx_stream")

    // the contract's arriving-batch split (src10+), streamed in two
    // micro-batches with an event-time column
    val batchDocs = arrivingDocs()
    assert(batchDocs.length > 10)
    val (first, second) = batchDocs.splitAt(batchDocs.length / 2)

    val perBatch =
      new java.util.concurrent.ConcurrentHashMap[Long, Seq[Seq[Any]]]()
    val in = MemoryStream[StreamingOps.IncomingDoc]
    val q = StreamingOps.incrementalDedup(in.toDF(), "30 minutes",
        "dedup_idx_stream") { (df, id) =>
        perBatch.put(id, df.collect().map(_.toSeq).toSeq)
      }
      .start()
    in.addData(first.toIndexedSeq)
    q.processAllAvailable()
    assertStateOnce(q, updated = first.length, total = first.length)
    // batch 2: the remaining docs PLUS an at-least-once redelivery of a
    // batch-1 doc — the watermark dedup must suppress it, so it is
    // decided exactly once (in batch 1)
    in.addData((second :+ first.head).toIndexedSeq)
    q.processAllAvailable()
    assertStateOnce(q, updated = second.length, total = batchDocs.length)
    q.stop()

    val streamed = perBatch.values.asScala.flatten.toSeq
    // every doc decided exactly once across batches (redelivery
    // suppressed by dropDuplicatesWithinWatermark)
    assert(streamed.map(_.head).distinct.length == streamed.length)
    assert(streamed.length == batchDocs.length)
    // and the union of per-batch decisions IS the batch operator's
    // output on the same corpus + batch split
    val batch = graft.operators.DedupOps
      .dedupIncrementalIndexed(spark, dir, "dedup_idx_stream")
      .collect().map(_.toSeq).toSeq
    assert(streamed.toSet == batch.toSet)
    // non-degenerate: the corpus flags some arrivals as dups
    assert(batch.exists(r => r(3) == false))
    spark.sql("DROP TABLE IF EXISTS dedup_idx_stream")
  }

  test("an ingest micro-batch is decided inside the state-store stage: " +
    "no join, no exchange and no index read, 2 stages in 1 job") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    spark.sql("DROP TABLE IF EXISTS dedup_idx_shape")
    graft.operators.DedupOps.buildIncrementalIndex(spark, TestSpark.sfDir,
      "dedup_idx_shape")
    val (first, second) = arrivingDocs().splitAt(10)
    val plans = new java.util.concurrent.ConcurrentHashMap[Long, SparkPlan]()
    val counts = new BatchCounts
    spark.sparkContext.addSparkListener(counts)
    try {
      val in = MemoryStream[StreamingOps.IncomingDoc]
      val q = StreamingOps.incrementalDedup(in.toDF(), "30 minutes",
          "dedup_idx_shape") { (df, id) =>
          df.collect()
          plans.put(id, df.queryExecution.executedPlan)
        }
        .start()
      in.addData(first.toIndexedSeq)
      q.processAllAvailable()
      in.addData((second.take(10) :+ first.head).toIndexedSeq)
      q.processAllAvailable()
      in.addData(second.slice(10, 20).toIndexedSeq)
      q.processAllAvailable()
      q.stop()
      val dataBatches = q.recentProgress.filter(_.numInputRows > 0)
        .map(_.batchId).toSeq
      assert(dataBatches.length == 3, q.recentProgress.map(_.json).toSeq)

      // The batch arrives hash-partitioned on doc_id by the watermark
      // dedup, and the index was read into a broadcast probe table
      // before the stream started: each doc is decided by a projection
      // there. (A stream plans its batches without AQE, so the plan is
      // final.)
      for ((id, plan) <- plans.asScala) {
        assert(!plan.exists(_.isInstanceOf[BaseJoinExec]),
          s"batch $id joins:\n$plan")
        assert(!plan.exists(_.isInstanceOf[ShuffleExchangeExec]),
          s"batch $id shuffles after the dedup:\n$plan")
        assert(!plan.exists(_.isInstanceOf[FileSourceScanExec]),
          s"batch $id reads the index:\n$plan")
      }
      // source -> state exchange, dedup + decide: one job
      val (stages, jobs) = counts.of(q)
      for (b <- dataBatches) {
        assert(stages.get(b).exists(n => n >= 1 && n <= 2),
          s"batch $b ran ${stages.get(b)} stages: $stages")
        assert(jobs.get(b).contains(1), s"batch $b ran ${jobs.get(b)} " +
          s"jobs: $jobs")
      }
      assert(stages.values.forall(_ <= 2), stages)
      // the probe table's one collect, across all three batches
      assert(counts.jobsReading("dedup_idx_shape") == 1)
    } finally spark.sparkContext.removeSparkListener(counts)
    spark.sql("DROP TABLE IF EXISTS dedup_idx_shape")
  }

  test("a running ingest stream picks up an index rebuilt between two " +
    "micro-batches") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    spark.sql("DROP TABLE IF EXISTS dedup_idx_rebuilt")
    graft.operators.DedupOps.buildIncrementalIndex(spark, TestSpark.sfDir,
      "dedup_idx_rebuilt")
    // the rebuilt index's corpus: only sources src0..src4
    val half = java.nio.file.Files.createTempDirectory("graft_rebuilt")
      .toString
    graft.core.Core.table(spark, TestSpark.sfDir, "documents")
      .filter(substring(col("source"), 4, 10).cast("int") < 5)
      .write.parquet(s"$half/documents.parquet")
    val arriving = arrivingDocs()
    val (first, second) = arriving.splitAt(arriving.length / 2)
    // the second batch as the batch decision core sees it, run against
    // whatever `dedup_idx_rebuilt` holds when called
    def batchRun(): Set[Seq[Any]] = graft.operators.DedupOps
      .dedupAgainstIndex(spark, second.toSeq.toDF()
        .select(col("doc_id"), col("lang"), col("source"),
          array_distinct(split(lower(col("text")), " ")).as("toks")),
        new graft.operators.IngestIndex(spark, "dedup_idx_rebuilt"))
      .collect().map(_.toSeq).toSet

    val perBatch =
      new java.util.concurrent.ConcurrentHashMap[Long, Set[Seq[Any]]]()
    val in = MemoryStream[StreamingOps.IncomingDoc]
    val q = StreamingOps.incrementalDedup(in.toDF(), "30 minutes",
        "dedup_idx_rebuilt") { (df, id) =>
        perBatch.put(id, df.collect().map(_.toSeq).toSet)
      }
      .start()
    in.addData(first.toIndexedSeq)
    q.processAllAvailable()
    val before = batchRun()
    graft.operators.DedupOps.buildIncrementalIndex(spark, half,
      "dedup_idx_rebuilt")
    val after = batchRun()
    // non-degenerate: the smaller corpus changes some decisions
    assert(before != after)
    in.addData(second.toIndexedSeq)
    q.processAllAvailable()
    q.stop()
    val secondId = q.recentProgress.filter(_.numInputRows > 0).last.batchId
    assert(perBatch.get(secondId) == after)
    spark.sql("DROP TABLE IF EXISTS dedup_idx_rebuilt")
  }

  test("incremental dedup restarted after a sink failure replays the " +
    "failed batch with identical decisions and decides every doc once") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    // checkpoint files commit through FileSystem.rename, not the
    // FileContext manager that forks a readlink per file (build.sbt)
    assert(spark.conf.getOption("spark.sql.streaming.checkpointFileManagerClass")
      .exists(_.endsWith(".FileSystemBasedCheckpointFileManager")))
    val dir = TestSpark.sfDir
    spark.sql("DROP TABLE IF EXISTS dedup_idx_restart")
    graft.operators.DedupOps.buildIncrementalIndex(spark, dir,
      "dedup_idx_restart")
    val arriving = arrivingDocs()
    val third = arriving.length / 3
    val batches = Seq(arriving.take(third),
      arriving.slice(third, 2 * third),
      // the last batch redelivers a doc of the first: decided once
      arriving.drop(2 * third) :+ arriving.head)
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt").toString

    val decided =
      new java.util.concurrent.ConcurrentHashMap[Long, Set[Seq[Any]]]()
    // the sink fails on the batch that carries the second batch's docs
    // (its id is not fixed: a watermark advance may run a no-data batch)
    val failOnDoc = batches(1).head.doc_id
    val failed = new java.util.concurrent.atomic.AtomicReference(
      Option.empty[(Long, Set[Seq[Any]])])
    val in = MemoryStream[StreamingOps.IncomingDoc]
    def start(failing: Boolean): StreamingQuery =
      StreamingOps.incrementalDedup(in.toDF(), "30 minutes",
          "dedup_idx_restart") { (df, id) =>
          val rows = df.collect().map(_.toSeq).toSet
          // after collect the state store has committed this batch;
          // throwing now leaves the batch itself uncommitted
          if (failing && rows.exists(_.head == failOnDoc)) {
            failed.set(Some(id -> rows))
            throw new IllegalStateException(s"sink failed on batch $id")
          }
          decided.put(id, rows)
        }
        .option("checkpointLocation", ckpt)
        .start()

    val q1 = start(failing = true)
    in.addData(batches(0).toIndexedSeq)
    q1.processAllAvailable()
    in.addData(batches(1).toIndexedSeq)
    intercept[StreamingQueryException](q1.processAllAvailable())
    assert(!q1.isActive)
    val (failedId, failedRows) = failed.get.get
    assert(failedRows.size == batches(1).length)
    // the offsets of the failed batch are logged, its commit is not,
    // and its state version (batch id + 1) is on disk in every
    // partition
    assert(new java.io.File(s"$ckpt/offsets/$failedId").exists())
    assert(!new java.io.File(s"$ckpt/commits/$failedId").exists())
    val deltas = new java.io.File(s"$ckpt/state/0").listFiles()
      .filter(_.getName.forall(_.isDigit))
      .map(p => new java.io.File(p, s"${failedId + 1}.delta"))
    assert(deltas.nonEmpty && deltas.forall(_.exists()), deltas.toSeq)

    // restart on the same checkpoint and source: the failed batch
    // replays, overwriting its state delta files
    val q2 = start(failing = false)
    q2.processAllAvailable()
    assert(decided.get(failedId) == failedRows)
    assertStateOnce(q2, updated = batches(1).length,
      total = batches(0).length + batches(1).length)
    in.addData(batches(2).toIndexedSeq)
    q2.processAllAvailable()
    assertStateOnce(q2, updated = batches(2).length - 1,
      total = arriving.length)
    q2.stop()

    val streamed = decided.values.asScala.flatten.toSeq
    assert(streamed.map(_.head).distinct.length == streamed.length)
    assert(streamed.length == arriving.length)
    val batch = graft.operators.DedupOps
      .dedupIncrementalIndexed(spark, dir, "dedup_idx_restart")
      .collect().map(_.toSeq).toSeq
    assert(streamed.toSet == batch.toSet)
    spark.sql("DROP TABLE IF EXISTS dedup_idx_restart")
  }

  test("streaming SimHash dedup over the banded sketch index matches " +
    "the batch decision core and brute-force Hamming, redelivery " +
    "suppressed") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val dir = TestSpark.sfDir
    spark.sql("DROP TABLE IF EXISTS simhash_idx_stream")
    // corpus = the incremental convention's corpus split (src < K),
    // index built over it ONLY — arriving docs must not self-match
    val docsAll = graft.core.Core.table(spark, dir, "documents")
      .withColumn("src_idx", substring(col("source"), 4, 10).cast("int"))
    val corpus = docsAll
      .filter(col("src_idx") <
        graft.operators.DedupOps.IncrementalCorpusSrcs)
      .select("doc_id", "lang", "source", "text")
    graft.operators.DedupOps.buildSimhashIndex(spark, dir,
      "simhash_idx_stream", docs = Some(corpus))

    val t0 = Timestamp.valueOf("2026-08-12 10:00:00")
    val arriving = docsAll
      .filter(col("src_idx") >=
        graft.operators.DedupOps.IncrementalCorpusSrcs)
      .select("doc_id", "lang", "source", "text")
      .collect()
      .map(r => StreamingOps.IncomingDoc(r.getLong(0), r.getString(1),
        r.getString(2), r.getString(3), t0))
    assert(arriving.length > 10)
    val (first, second) = arriving.splitAt(arriving.length / 2)

    val perBatch =
      new java.util.concurrent.ConcurrentHashMap[Long, Seq[Seq[Any]]]()
    val in = MemoryStream[StreamingOps.IncomingDoc]
    val q = StreamingOps.simhashDedupStream(in.toDF(), "30 minutes",
        "simhash_idx_stream") { (df, id) =>
        perBatch.put(id, df.collect().map(_.toSeq).toSeq)
      }
      .start()
    in.addData(first.toIndexedSeq)
    q.processAllAvailable()
    assertStateOnce(q, updated = first.length, total = first.length)
    // batch 2 redelivers a batch-1 doc: decided exactly once overall
    in.addData((second :+ first.head).toIndexedSeq)
    q.processAllAvailable()
    assertStateOnce(q, updated = second.length, total = arriving.length)
    q.stop()

    val streamed = perBatch.values.asScala.flatten.toSeq
    assert(streamed.map(_.head).distinct.length == streamed.length)
    assert(streamed.length == arriving.length)
    // union of per-batch decisions == ONE batch run of the decision
    // core over the full delta (decisions depend only on (doc, index))
    val deltaDf = docsAll
      .filter(col("src_idx") >=
        graft.operators.DedupOps.IncrementalCorpusSrcs)
      .select("doc_id", "lang", "source", "text")
    val batchRun = graft.operators.DedupOps.dedupAgainstSimhashIndex(
      spark, deltaDf, "simhash_idx_stream")
      .collect().map(_.toSeq).toSeq
    assert(streamed.toSet == batchRun.toSet)
    // and the banded candidate rule is EXACT over sketches: dup_of ==
    // the min corpus doc within Hamming <= Simhash64HammingMax,
    // brute-forced over the collected sketch relations
    val bSk = graft.operators.DedupOps.simhash64SketchesOf(deltaDf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val cSk = graft.operators.DedupOps.simhash64SketchesOf(corpus)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq
    graft.core.Core.releaseShared()
    val expect = bSk.map { case (b, sh) =>
      val cands = cSk.filter { case (_, csh) =>
        java.lang.Long.bitCount(sh ^ csh) <=
          graft.operators.DedupOps.Simhash64HammingMax }
      b -> (if (cands.isEmpty) None else Some(cands.map(_._1).min))
    }
    streamed.foreach { r =>
      val (id, dup) = (r.head.asInstanceOf[Long], Option(r(2)))
      assert(dup.map(_.asInstanceOf[Long]) == expect(id),
        s"doc $id: dup_of $dup vs brute-force ${expect(id)}")
    }
    // non-degenerate both ways
    assert(streamed.exists(_(3) == false) && streamed.exists(_(3) == true))
    spark.sql("DROP TABLE IF EXISTS simhash_idx_stream")
  }

  test("streaming curation manifest matches the batch pipeline_curate " +
    "on the arriving docs") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val dir = TestSpark.sfDir
    val bench = graft.operators.TextOps.DecontaminateBenchDocs
    // the external benchmark (bench_id, gram) list: the batch
    // operator's bench-doc grams (docs 0..9) WITH their ids, so the
    // map-side exists predicate can exclude self-matches exactly like
    // the batch cross-doc join (ADVICE round 7) — arriving docs are
    // ALL docs, benchmark docs included
    val benchGrams = graft.operators.TextOps
      .curateMapSide(graft.core.Core.table(spark, dir, "documents")
        .select("doc_id", "text"))
      .filter(col("doc_id") < bench)
      .select(col("doc_id"), explode(col("grams")).as("g"))
      .distinct().collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val t0 = Timestamp.valueOf("2026-08-12 10:00:00")
    val arriving = graft.core.Core.table(spark, dir, "documents")
      .select("doc_id", "lang", "source", "text").collect()
      .map(r => StreamingOps.IncomingDoc(r.getLong(0), r.getString(1),
        r.getString(2), r.getString(3), t0))
    val (first, second) = arriving.splitAt(arriving.length / 2)

    val in = MemoryStream[StreamingOps.IncomingDoc]
    val q = StreamingOps.curateStream(in.toDF(), benchGrams)
      .writeStream.format("memory").queryName("curate_stream")
      .outputMode(OutputMode.Append()).start()
    in.addData(first.toIndexedSeq)
    q.processAllAvailable()
    in.addData(second.toIndexedSeq)
    q.processAllAvailable()
    q.stop()

    val streamed = spark.table("curate_stream")
      .collect().map(_.toSeq).toSet
    // the full batch manifest, benchmark docs included: a bench doc
    // arriving in the stream must get the batch decision too (its own
    // grams are not contamination — the self-match exclusion)
    val batch = SparkEntry.queries("pipeline_curate")(spark, dir)
      .collect().map(_.toSeq).toSet
    assert(streamed == batch)
    assert(streamed.size == arriving.length)
    // non-degenerate funnel: kept docs, and more than one drop reason
    val reasons = streamed.map(_(2)).filter(_ != null)
    assert(streamed.exists(_(1) == true) && reasons.size > 1)
  }

  test("weather micro-batch restart from checkpoint is exactly-once") {
    // Run 1 consumes two payload ticks against a checkpoint; run 2
    // restarts from that checkpoint with a third payload appended to
    // the source path. Offset replay must deliver each payload exactly
    // once across the restart — no gap, no duplicate.
    val fx = "src/test/resources/weather"
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()

    def run(paths: String): Unit = {
      val q = spark.readStream
        .format("weather-json")
        .option("endpoint", "forecast")
        .option("path", paths)
        .load()
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.select("current.time").collect()
            .foreach(r => seen.add(r.getString(0)))
        }
        .start()
      q.processAllAvailable()
      q.stop()
    }

    val two = s"$fx/forecast_clear.json,$fx/forecast_rain.json"
    run(two)
    assert(seen.toArray.toSeq ==
      Seq("2026-08-12T14:40", "2026-08-12T14:30"))

    run(s"$two,$fx/forecast_missing.json")
    // restart resumed at offset 2: first two payloads NOT re-emitted
    assert(seen.toArray.toSeq ==
      Seq("2026-08-12T14:40", "2026-08-12T14:30", "2026-08-12T14:50"))
  }

  test("mapGroupsWithState keeps the latest frame per place across batches") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val in = MemoryStream[Obs]
    val q = StreamingOps.latestFrame(in.toDS())
      .writeStream.format("memory").queryName("frames")
      .outputMode(OutputMode.Update()).start()
    in.addData(Obs("London", ts(0), Some(12.4), Some(63)),
      Obs("Paris", ts(0), Some(2.5), Some(0)))
    q.processAllAvailable()
    in.addData(Obs("London", ts(10), None, Some(63))) // no temp: keep last
    q.processAllAvailable()
    q.stop()
    val byPlace = spark.table("frames").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .groupBy(_._1).map { case (k, v) => k -> v.maxBy(_._3) }
    assert(byPlace("London") == (("London", "12°", 2L)))
    assert(byPlace("Paris") == (("Paris", "2°", 1L))) // %.0f half-even: 2.5 -> "2"
  }

  test("streaming drift monitor: post-boundary stream reproduces agg_drift_psi exactly") {
    import spark.implicits._
    val dir = TestSpark.sfDir
    val events = graft.core.Core.table(spark, dir, "events")
    val ref = StreamingOps.driftRef(events)
    // the batch identity: scoring the post-boundary period against the
    // full-corpus reference IS the contract query — value-identical
    val bus = events
      .agg((min(unix_micros(col("ts"))) + max(unix_micros(col("ts"))))
        .cast("long")).head().getLong(0) / 2
    val late = events.filter(unix_micros(col("ts")) >= bus)
    val viaRef = StreamingOps.driftPsi(late, ref).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getInt(3),
        r.getDouble(4))).toSet
    val contract = SparkEntry.queries("agg_drift_psi")(spark, dir)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getInt(3),
        r.getDouble(4))).toSet
    assert(viaRef == contract)

    // the streaming wiring: every micro-batch is scored with the same
    // driftPsi — per-batch output equals the batch call on its rows
    val in = MemoryStream[StreamingOpsSpec.Ev](spark)
    val got = scala.collection.mutable.Map.empty[Long, Set[(String, Long, Long, Int, Double)]]
    val q = StreamingOps.driftStream(in.toDF(), ref) { (psi, id) =>
      got(id) = psi.collect().map(r => (r.getString(0), r.getLong(1),
        r.getLong(2), r.getInt(3), r.getDouble(4))).toSet
    }.start()
    import StreamingOpsSpec.Ev
    val b1 = Seq(Ev("click", ts(10), 12.0), Ev("error", ts(11), 480.0))
    val b2 = Seq(Ev("click", ts(20), 1.0), Ev("view", ts(21), 250.0),
      Ev("view", ts(22), 0.5))
    in.addData(b1: _*); q.processAllAvailable()
    in.addData(b2: _*); q.processAllAvailable()
    q.stop()
    Seq(b1, b2).zipWithIndex.foreach { case (rows, i) =>
      val expect = StreamingOps.driftPsi(rows.toDF(), ref).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getInt(3),
          r.getDouble(4))).toSet
      assert(got(i.toLong) == expect, s"batch $i")
    }
    // a batch never touches types it contains no events for beyond the
    // reference's own bins: every type still gets a PSI row (n_b = 0)
    assert(got(0L).map(_._1) == contract.map(_._1))
  }

  test("streaming BPE encode matches the batch encode per micro-batch") {
    import spark.implicits._
    import graft.streaming.StreamingOps.IncomingDoc
    implicit val sc = spark.sqlContext
    val dir = TestSpark.sfDir
    // train ONCE on the static corpus — the merge table is the
    // artifact a tokenization service ships; every batch below
    // encodes against it by RULES (OOV-safe)
    val (_, merges) = graft.operators.TextOps.bpeTrainOf(
      graft.core.Core.table(spark, dir, "documents"))
    val rules = merges.orderBy("round").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val in = MemoryStream[IncomingDoc]
    val got = scala.collection.mutable.Map
      .empty[Long, Set[(Long, Long, Long)]]
    val q = graft.streaming.StreamingOps.bpeEncodeStream(in.toDF(), merges) {
      (df, id) =>
        got(id) = df.collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    }.start()
    val b1 = Seq(
      IncomingDoc(9000L, "en", "src0", "the data table join join", ts(1)),
      IncomingDoc(9001L, "en", "src1", "a", ts(2)))
    // batch 2 carries words the training corpus has NEVER seen — the
    // case the round-9 self-review caught: the vocab-join encode
    // dropped the OOV words ('zebra qux' docs vanished entirely); the
    // rule-based encode must keep every doc and count every word
    val b2 = Seq(
      IncomingDoc(9002L, "en", "src0", "spark spark spark", ts(3)),
      IncomingDoc(9003L, "en", "src1", "zebra the qux", ts(4)),
      IncomingDoc(9004L, "en", "src0", "zebra qux", ts(5)))
    in.addData(b1: _*); q.processAllAvailable()
    in.addData(b2: _*); q.processAllAvailable()
    q.stop()
    Seq(b1, b2).zipWithIndex.foreach { case (rows, i) =>
      val expect = graft.operators.TextOps
        .bpeEncodeByRules(rows.toDF(), merges).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got(i.toLong) == expect, s"batch $i")
      assert(got(i.toLong).nonEmpty, s"batch $i empty")
    }
    // driver-side replay of the rule chain (String.replace shares the
    // left-to-right non-overlapping semantics): exact OOV expectations
    def seg(word: String): Long = {
      var s = " " + word.flatMap(c => s"$c  ").dropRight(2) + " "
      rules.foreach { case (x, y) => s = s.replace(s" $x  $y ", s" $x$y ") }
      s.trim.split("  ").length.toLong
    }
    val byId = got(1L).map(t => t._1 -> ((t._2, t._3))).toMap
    assert(byId(9003L) == ((3L, seg("zebra") + seg("the") + seg("qux"))))
    assert(byId(9004L) == ((2L, seg("zebra") + seg("qux"))),
      "the all-OOV doc must not vanish")
    // subwords never undercut the word count
    got.values.flatten.foreach { case (_, nw, ns) => assert(ns >= nw) }
  }

  test("driftPsi emits a null-psi sentinel for batch types absent from the reference") {
    import spark.implicits._
    import StreamingOpsSpec.Ev
    val dir = TestSpark.sfDir
    val ref = StreamingOps.driftRef(graft.core.Core.table(spark, dir, "events"))
    val batch = Seq(Ev("click", ts(10), 12.0), Ev("brandnew", ts(11), 5.0),
      Ev("brandnew", ts(12), 7.5))
    val out = StreamingOps.driftPsi(batch.toDF(), ref).collect()
    // the novel type surfaces (the strongest drift signal there is —
    // ADVICE round 8: it used to vanish through the edges inner join)
    // as exactly one sentinel row: n_a = 0, n_b = its batch count,
    // n_bins = 0, psi null (undefined vs an empty reference)
    val novel = out.filter(_.getString(0) == "brandnew")
    assert(novel.length == 1)
    assert(novel.head.getLong(1) == 0L && novel.head.getLong(2) == 2L)
    assert(novel.head.getInt(3) == 0 && novel.head.isNullAt(4))
    // and the sentinel leg changes NOTHING for known types: the rest of
    // the output equals scoring the batch with the novel rows removed
    val known = StreamingOps.driftPsi(
      batch.filter(_.event_type != "brandnew").toDF(), ref).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getInt(3),
        r.getDouble(4))).toSet
    val outKnown = out.filter(_.getString(0) != "brandnew")
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getInt(3),
        r.getDouble(4))).toSet
    assert(outKnown == known)
  }

  test("stream-stream interval join matches the batch join and bounds state by watermark") {
    import spark.implicits._
    import graft.streaming.StreamingOps.Alert
    implicit val sc = spark.sqlContext
    val obs = MemoryStream[Obs]
    val alerts = MemoryStream[Alert]
    val q = StreamingOps.obsAlertJoin(obs.toDF(), alerts.toDF())
      .writeStream.format("memory").queryName("oaj")
      .outputMode(OutputMode.Append()).start()

    val oRows = Seq(
      Obs("London", ts(10), Some(12.0), Some(63)),
      Obs("London", ts(25), Some(13.0), Some(63)),
      Obs("Paris", ts(10), Some(2.0), Some(0)))
    val aRows = Seq(
      Alert("London", ts(5), 2),   // within 10 min of the 10:10 obs only
      Alert("London", ts(20), 3),  // within 10 min of the 10:25 obs only
      Alert("Paris", ts(10), 1))   // exactly at the Paris obs
    obs.addData(oRows: _*)
    alerts.addData(aRows: _*)
    q.processAllAvailable()

    // the streamed result equals the batch interval join of the same rows
    val batch = oRows.toDF().join(aRows.toDF(),
        expr("place = a_place AND a_ts BETWEEN ts - INTERVAL 10 MINUTES AND ts"))
      .select("place", "ts", "a_ts", "severity")
      .collect().map(r => (r.getString(0), r.getTimestamp(1).toString,
        r.getTimestamp(2).toString, r.getInt(3))).toSet
    def streamed() = spark.table("oaj")
      .collect().map(r => (r.getString(0), r.getTimestamp(1).toString,
        r.getTimestamp(3).toString, r.getInt(4))).toSet
    assert(streamed() == batch && batch.size == 3, streamed())

    // advance both watermarks far past the horizon, then deliver an
    // alert older than the watermark: its join state window is closed,
    // so it must never pair with anything
    obs.addData(Obs("London", Timestamp.valueOf("2026-08-12 12:00:00"),
      Some(20.0), Some(0)))
    alerts.addData(Alert("London",
      Timestamp.valueOf("2026-08-12 12:00:00"), 9))
    q.processAllAvailable()
    alerts.addData(Alert("London", ts(10), 7)) // late by > watermark
    q.processAllAvailable()
    q.stop()
    assert(!streamed().exists(_._4 == 7), streamed())
  }

  test("streaming token-budget admission matches the batch operator " +
    "when fed in its hash order; state carries across batches") {
    import StreamingOpsSpec.InDoc
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val dir = TestSpark.sfDir
    // ground truth: the batch operator's decisions and its per-source
    // budgets (recomputed here exactly as the query derives them)
    val batch = SparkEntry.queries("sample_token_budget")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getBoolean(5)))).toMap
    val budgets = batch.values
      .groupBy(_._1).map { case (src, rs) => src -> rs.head._3 }
    // feed the stream in the batch's fill order (shuffle-hash asc per
    // source — recovered from cum_before) split across TWO
    // micro-batches, so at least one source's budget boundary and
    // every source's running count must survive the batch cut
    val docs = graft.core.Core.table(spark, dir, "documents")
      .select("doc_id", "lang", "source", "text").collect()
      .map(r => InDoc(r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3)))
      .sortBy(d => batch(d.doc_id)._4)   // cum_before == fill position
    val (b1, b2) = docs.splitAt(docs.length / 2)
    val in = MemoryStream[InDoc]
    val q = StreamingOps.tokenBudgetStream(in.toDF(), budgets)
      .writeStream.format("memory").queryName("stream_budget")
      .outputMode(OutputMode.Append()).start()
    in.addData(b1.toSeq)
    q.processAllAvailable()
    in.addData(b2.toSeq)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("stream_budget")
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getBoolean(5)))).toMap
    // one decision per doc, identical to the batch manifest — keep,
    // budget, and the running cum_before all agree, which can only
    // hold if batch-2 groups resumed from batch-1 state
    assert(got.keySet == batch.keySet)
    got.foreach { case (id, dec) => assert(dec == batch(id), s"doc $id") }
    // the split is not vacuous: some source crosses its budget
    // boundary only in the second micro-batch
    val secondIds = b2.map(_.doc_id).toSet
    assert(got.exists { case (id, (_, _, _, _, keep)) =>
      secondIds(id) && keep })
    assert(got.exists { case (id, (_, _, _, _, keep)) =>
      secondIds(id) && !keep })
  }

  test("streaming cluster maintenance: per-batch labels == full-graph " +
    "fixpoint rebuild of everything ingested, redelivery suppressed") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val t0 = Timestamp.valueOf("2026-08-12 10:00:00")
    // standing corpus = even docs of the gate corpus; the odd docs
    // arrive in two micro-batches (batch 2 redelivers a batch-1 doc)
    val docsAll = graft.core.Core.table(spark, TestSpark.sfDir, "documents")
      .select("doc_id", "lang", "source", "text")
    val corpus = docsAll.filter(col("doc_id") % 2 === 0)
    val corpusSk = graft.operators.DedupOps.simhash64SketchesOf(corpus)
      .localCheckpoint()
    val labels0 = CcReference.ccFixpoint(
        corpusSk.select("doc_id"),
        graft.operators.DedupOps.edgesFromSketches(corpusSk))
      .localCheckpoint()
    val arriving = docsAll.filter(col("doc_id") % 2 === 1)
      .collect()
      .map(r => StreamingOps.IncomingDoc(r.getLong(0), r.getString(1),
        r.getString(2), r.getString(3), t0))
    val (b1, b2) = arriving.splitAt(arriving.length / 2)
    val state = new java.util.concurrent.atomic.AtomicReference(
      (corpusSk, labels0))
    val perBatch =
      new java.util.concurrent.ConcurrentHashMap[Long, Map[Long, Long]]()
    val in = MemoryStream[StreamingOps.IncomingDoc]
    val q = StreamingOps.clusterMaintenanceStream(in.toDF(), "30 minutes",
        state) { (labels, id) =>
        perBatch.put(id,
          labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
      }
      .start()
    in.addData(b1.toIndexedSeq)
    q.processAllAvailable()
    in.addData((b2 :+ b1.head).toIndexedSeq)   // redelivery
    q.processAllAvailable()
    q.stop()

    def rebuild(ids: Set[Long]): Map[Long, Long] = {
      val sk = graft.operators.DedupOps.simhash64SketchesOf(
        docsAll.filter(col("doc_id").isInCollection(ids)))
      val m = CcReference.ccFixpoint(sk.select("doc_id"),
          graft.operators.DedupOps.edgesFromSketches(sk))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      graft.core.Core.releaseShared()
      m
    }
    val corpusIds = corpus.select("doc_id").collect().map(_.getLong(0)).toSet
    val after1 = corpusIds ++ b1.map(_.doc_id)
    val after2 = after1 ++ b2.map(_.doc_id)
    // each data batch's labeling equals a FULL fixpoint rebuild over
    // everything ingested so far — the invariant that subsumes
    // in-place merges of standing clusters. Keyed by content, not
    // batch id: the stateful dedup op interleaves NO-DATA batches
    // (watermark-advance ticks whose fold is the identity), so batch
    // ids are not 1:1 with addData calls.
    val observed = perBatch.values.asScala.toSet
    assert(observed.contains(rebuild(after1)),
      "no batch produced the after-batch-1 rebuild labeling")
    assert(observed.contains(rebuild(after2)),
      "no batch produced the after-batch-2 rebuild labeling")
    // redelivery suppressed AND fold-once: the final state carries
    // exactly one row per ingested doc (a re-folded doc would appear
    // in both the old labeling and the delta — a duplicate row)
    val finalLabels = state.get()._2
    assert(finalLabels.count() == after2.size)
    assert(finalLabels.collect().map(r => r.getLong(0) -> r.getLong(1))
      .toMap == rebuild(after2))
    // ADVICE r13: the caller's SEED pair stays readable after the
    // stream has folded batches over it — the stream frees only state
    // it PRODUCED (pre-fix, these reads died on destroyed
    // local-checkpoint blocks)
    assert(labels0.count() == corpusIds.size)
    assert(corpusSk.count() == corpusIds.size)
  }

  test("cluster maintenance over 6 folds: labels == fixpoint rebuild " +
    "after every fold, state estimates stay at rows × row width") {
    // Each fold checkpoints a left-join ∪ join plan, and a join's
    // default estimate is the product of its inputs': a checkpoint that
    // kept its origin plan's estimate multiplied it fold after fold
    // (4.5e56 bytes for the 110 label rows after the first fold). The
    // folded state must carry an estimate from its own row count.
    val docsAll = graft.core.Core.table(spark, TestSpark.sfDir, "documents")
      .select("doc_id", "lang", "source", "text")
    def idsIn(lo: Long, hi: Long) =
      docsAll.filter(col("doc_id") >= lo && col("doc_id") < hi)
    var sk = graft.operators.DedupOps.simhash64SketchesOf(idsIn(0L, 100L))
      .localCheckpoint()
    var labels = CcReference.ccFixpoint(sk.select("doc_id"),
        graft.operators.DedupOps.edgesFromSketches(sk))
      .localCheckpoint()
    // 2 longs a row plus Spark's 8-byte row overhead
    val rowWidth = 24L
    for (fold <- 0 until 6) {
      val lo = 100L + 10L * fold
      val (nsk, nlabels) = StreamingOps.clusterMaintainStep(sk, labels,
        idsIn(lo, lo + 10L))
      graft.core.Core.releaseShared()
      val all = graft.operators.DedupOps.simhash64SketchesOf(
        idsIn(0L, lo + 10L))
      val rebuilt = CcReference.ccFixpoint(all.select("doc_id"),
          graft.operators.DedupOps.edgesFromSketches(all))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val got = nlabels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == rebuilt, s"fold $fold: labels != rebuild")
      for ((name, state) <- Seq("labels" -> nlabels, "sketches" -> nsk)) {
        val rows = state.count()
        assert(rows == lo + 10L, s"fold $fold: $rows $name rows")
        val est = state.queryExecution.optimizedPlan.stats.sizeInBytes
        assert(est <= BigInt(2 * rows * rowWidth),
          s"fold $fold: $name estimate $est bytes for $rows rows")
      }
      graft.core.Core.releaseShared()
      graft.operators.DedupOps.freeLocalCheckpoint(sk)
      graft.operators.DedupOps.freeLocalCheckpoint(labels)
      sk = nsk
      labels = nlabels
    }
  }

  test("cluster maintenance never flips AQE on the caller's session " +
    "(concurrent-query isolation, r13 verdict #7)") {
    import spark.implicits._
    // the (P,S) loop inside ccIncrementalUpdate runs AQE-off jobs; a
    // concurrent observer of THIS session's conf must never see the
    // flip (pre-round-14, withConf toggled it session-globally from
    // the maintenance thread). Poll every ms across the whole fold.
    val t1 = "alpha beta gamma delta epsilon"
    val t2 = "omicron rho sigma tau upsilon"
    val corpus = Seq((10L, "en", "src0", t1), (12L, "en", "src0", t1),
        (20L, "en", "src1", t2), (22L, "en", "src1", t2))
      .toDF("doc_id", "lang", "source", "text")
    val corpusSk = graft.operators.DedupOps.simhash64SketchesOf(corpus)
      .localCheckpoint()
    val labels0 = CcReference.ccFixpoint(
        corpusSk.select("doc_id"),
        graft.operators.DedupOps.edgesFromSketches(corpusSk))
      .localCheckpoint()
    val prev = spark.conf.getOption("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    val flips = new java.util.concurrent.atomic.AtomicInteger(0)
    val polls = new java.util.concurrent.atomic.AtomicInteger(0)
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    val poller = new Thread(() => {
      while (!done.get()) {
        polls.incrementAndGet()
        if (spark.conf.get("spark.sql.adaptive.enabled") != "true")
          flips.incrementAndGet()
        Thread.sleep(1)
      }
    })
    poller.setDaemon(true)
    poller.start()
    try {
      val batch = Seq((1L, "en", "src9", t1))
        .toDF("doc_id", "lang", "source", "text")
      val (nsk, l1) = StreamingOps.clusterMaintainStep(
        corpusSk, labels0, batch)
      assert(l1.count() == 5)
      graft.operators.DedupOps.freeLocalCheckpoint(nsk)
      graft.operators.DedupOps.freeLocalCheckpoint(l1)
    } finally {
      done.set(true)
      poller.join(2000)
      prev match {
        case Some(v) => spark.conf.set("spark.sql.adaptive.enabled", v)
        case None => spark.conf.unset("spark.sql.adaptive.enabled")
      }
    }
    assert(polls.get() > 50, s"poller only sampled ${polls.get()} times")
    assert(flips.get() == 0,
      s"caller session observed AQE off ${flips.get()}/${polls.get()} polls")
    graft.core.Core.releaseShared()
  }

  test("cluster maintenance step rewrites standing labels in place " +
    "when a smaller-id near-dup arrives") {
    import spark.implicits._
    // two standing identical-text clusters; an arriving doc with a
    // SMALLER id and cluster-A's text must rewrite A's standing
    // labels to its own id — the in-place state update a decision
    // stream cannot express. Fixture validity asserted (the two texts
    // must not be near each other).
    val t1 = "alpha beta gamma delta epsilon"
    val t2 = "omicron rho sigma tau upsilon"
    val corpus = Seq((10L, "en", "src0", t1), (12L, "en", "src0", t1),
        (20L, "en", "src1", t2), (22L, "en", "src1", t2))
      .toDF("doc_id", "lang", "source", "text")
    val corpusSk = graft.operators.DedupOps.simhash64SketchesOf(corpus)
      .localCheckpoint()
    val shs = corpusSk.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(java.lang.Long.bitCount(shs(10L) ^ shs(20L)) >
      graft.operators.DedupOps.Simhash64HammingMax,
      "fixture texts must not be near-dups of each other")
    val labels0 = CcReference.ccFixpoint(
      corpusSk.select("doc_id"),
      graft.operators.DedupOps.edgesFromSketches(corpusSk))
    val batch = Seq((1L, "en", "src9", t1))
      .toDF("doc_id", "lang", "source", "text")
    val (_, labels1) = StreamingOps.clusterMaintainStep(
      corpusSk, labels0, batch)
    val got = labels1.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    graft.core.Core.releaseShared()
    assert(got == Map(1L -> 1L, 10L -> 1L, 12L -> 1L,
      20L -> 20L, 22L -> 20L))
  }
}

object StreamingOpsSpec {
  /** An arriving event for the drift-monitor stream (events shape). */
  case class Ev(event_type: String, ts: Timestamp, value: Double)

  case class InDoc(doc_id: Long, lang: String, source: String,
    text: String)

}
