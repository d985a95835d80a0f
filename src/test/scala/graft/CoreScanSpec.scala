package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Core

/** The scan-parallelism floor (Core.scanFloor, optimization round 17):
  * a small single-row-group parquet table serializes its whole
  * pre-exchange segment onto the few natural scan splits, so
  * Core.table inserts one round-robin exchange — but ONLY inside its
  * gates (table set, byte caps, file count), because the exchange is
  * pure overhead where the downstream per-row work is cheap (measured
  * on the full bench: OPTIMIZATION_r17.md). The gate is a pure function
  * of (bytes, files, cores), tested at its boundaries; the plan checks
  * read a directory's own stat. */
class CoreScanSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val dir = TestSpark.sfDir

  private val MiB = 1024L * 1024
  private def fires(bytes: Long, files: Int = 1, cores: Int = 8) =
    Core.scanFloorFires(bytes, files, cores)

  private def roundRobins(df: DataFrame): Int =
    "RoundRobinPartitioning".r
      .findAllMatchIn(df.queryExecution.executedPlan.toString).size

  /** (parquet bytes, parquet files) under `dir/name.parquet`, walked
    * here independently of Core. */
  private def stat(dir: String, name: String): (Long, Int) = {
    val fs = java.nio.file.Files.walk(
        java.nio.file.Paths.get(s"$dir/$name.parquet"))
      .toArray.map(_.asInstanceOf[java.nio.file.Path].toFile)
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
    (fs.map(_.length).sum, fs.length)
  }

  /** A directory holding `documents` and `orders`, the same synthetic
    * single-file table under both names: 4,000 rows of 64 hex chars,
    * inside the byte gates on any layout. */
  private lazy val floored: String = {
    val d = java.nio.file.Files.createTempDirectory("graft_scan").toString
    val t = spark.range(4000).select(col("id").as("doc_id"),
      sha2(col("id").cast("string"), 256).as("text")).coalesce(1)
    t.write.parquet(s"$d/documents.parquet")
    t.write.parquet(s"$d/orders.parquet")
    d
  }

  test("a table under the byte floor gets no exchange") {
    assert(!fires(Core.ScanFloorMinBytes - 1))
    assert(fires(Core.ScanFloorMinBytes))
    assert(Core.ScanFloorMinBytes == 64L * 1024)
  }

  test("the large-input cap disables the exchange (the 100 TB regime: " +
      "natural splits already scan wide)") {
    assert(fires(Core.ScanFloorMaxBytes))
    assert(!fires(Core.ScanFloorMaxBytes + 1))
    assert(Core.ScanFloorMaxBytes == 32 * MiB)
  }

  test("the file-count gate: fires below half the cores, never on one core") {
    for (n <- Seq(4, 8, 9)) {
      assert(fires(MiB, files = n / 2 - 1, cores = n), s"n = $n")
      assert(!fires(MiB, files = n / 2, cores = n), s"n = $n")
    }
    assert(!fires(MiB, files = 0, cores = 1))
  }

  test("named table over the byte floor gets exactly one round-robin exchange; " +
      "other tables never do") {
    val cores = spark.sparkContext.defaultParallelism
    val (bytes, files) = stat(floored, "documents")
    assert(Core.scanFloorFires(bytes, files, cores),
      s"the fixture misses the gate: $bytes bytes, $files files, $cores cores")
    assert(Core.ScanFloorTables == Set("documents"))
    assert(roundRobins(Core.table(spark, floored, "documents")) == 1)
    assert(roundRobins(Core.table(spark, floored, "orders")) == 0,
      "a table outside Core.ScanFloorTables was repartitioned")
  }

  test("Core.table(documents) has a round-robin exchange iff the gate " +
      "fires for its directory's own bytes, files and cores") {
    val cores = spark.sparkContext.defaultParallelism
    for (d <- Seq(dir, floored)) {
      val (bytes, files) = stat(d, "documents")
      assert((roundRobins(Core.table(spark, d, "documents")) == 1) ==
        Core.scanFloorFires(bytes, files, cores),
        s"$d: $bytes bytes, $files files, $cores cores")
    }
  }

  test("result identity: the exchange moves rows, never changes them") {
    val on = Core.table(spark, floored, "documents")
    assert(roundRobins(on) == 1)
    val off = spark.read.parquet(s"$floored/documents.parquet")
    def rows(df: DataFrame) = df.collect().map(_.toString).sorted
    assert(rows(on).sameElements(rows(off)))
  }
}
