package graft

import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import graft.streaming.StreamingOps
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobStart, SparkListenerStageSubmitted}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryException}
import org.scalatest.funsuite.AnyFunSuite

/** MemoryStream-driven tests of the ingest stream
  * (StreamingOps.incrementalDedup) against its batch decision core, and
  * checkpoint replay of the weather source. */
class StreamingOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

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
    val batch = IngestReference
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
    val batch = IngestReference
      .dedupIncrementalIndexed(spark, dir, "dedup_idx_restart")
      .collect().map(_.toSeq).toSeq
    assert(streamed.toSet == batch.toSet)
    spark.sql("DROP TABLE IF EXISTS dedup_idx_restart")
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
}
