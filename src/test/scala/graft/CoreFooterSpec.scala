package graft

import graft.core.Core
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** `Core.table` reads each schema from a Parquet footer on the driver
  * instead of running Spark's one-task inference job, and
  * `Core.footerRows` sums row counts from the footers. Both must read
  * what Spark reads: the schema equals `s.read.parquet(path).schema`
  * after the same `events.ts` normalization, for every table of both
  * fixtures, and the row count equals `count()`. A partitioned table
  * reads its partition columns as inference does, and a
  * schema-merging session keeps Spark's inference. */
class CoreFooterSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val fixtures = Seq(TestSpark.sfDir,
    new java.io.File(TestSpark.sfDir).getParent + "/sf0.01")

  private def tables(dir: String): Seq[String] =
    new java.io.File(dir).listFiles().map(_.getName)
      .filter(_.endsWith(".parquet")).map(_.stripSuffix(".parquet"))
      .sorted.toSeq

  /** Spark's inferred read, normalized as `Core.table` normalizes it. */
  private def inferred(dir: String, name: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.parquet(s"$dir/$name.parquet")
    if (name != "events") raw
    else raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }
  }

  test("footer schema == Spark's inferred schema for every fixture table") {
    for (dir <- fixtures) assert(tables(dir).contains("events"), dir)
    for (dir <- fixtures; name <- tables(dir))
      assert(Core.table(spark, dir, name).schema == inferred(dir, name).schema,
        s"$dir/$name")
  }

  test("footer row count == count() for every fixture table") {
    for (dir <- fixtures; name <- tables(dir))
      assert(Core.footerRows(spark, dir, name, Long.MaxValue) ==
        inferred(dir, name).count(), s"$dir/$name")
  }

  test("Spark-written tables: the row metadata's schema, and the footer " +
    "count stops past its cap") {
    // four files of 10 rows each, written by Spark: each footer carries
    // Spark's row schema (timestamp, decimal, array, map, struct)
    val dir = java.nio.file.Files.createTempDirectory("graft-footer").toString
    try {
      spark.range(0, 40, 1, 4)
        .select(col("id"),
          timestamp_micros(col("id")).as("ts"),
          col("id").cast(DecimalType(12, 2)).as("dec"),
          array(col("id")).as("arr"),
          map(lit("k"), col("id")).as("mp"),
          struct(col("id").as("a"), lit("x").as("b")).as("st"))
        .write.parquet(s"$dir/wide.parquet")
      assert(Core.table(spark, dir, "wide").schema ==
        spark.read.parquet(s"$dir/wide.parquet").schema)
      assert(Core.footerRows(spark, dir, "wide", Long.MaxValue) == 40L)
      assert(Core.footerRows(spark, dir, "wide", 40L) == 40L)
      // past a cap of 15 the sum stops after the second 10-row file
      assert(Core.footerRows(spark, dir, "wide", 15L) == 20L)
      assert(Core.footerRows(spark, dir, "wide", 0L) == 10L)
    } finally
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("partitioned and schema-merging tables read Spark's inferred " +
    "schema") {
    val dir = java.nio.file.Files.createTempDirectory("graft-footer").toString
    try {
      // k=v directories add a column no footer holds; Spark appends it
      // to the footer's schema
      spark.range(0, 10).withColumn("k", col("id") % 2)
        .write.partitionBy("k").parquet(s"$dir/part.parquet")
      assert(Core.table(spark, dir, "part").schema ==
        spark.read.parquet(s"$dir/part.parquet").schema)
      assert(Core.table(spark, dir, "part").schema.fieldNames
        .sameElements(Seq("id", "k")))
      // two files with disjoint columns: merging reads both footers
      spark.range(0, 5).select(col("id").as("a"))
        .write.parquet(s"$dir/merged.parquet")
      spark.range(0, 5).select(col("id").as("b"))
        .write.mode("append").parquet(s"$dir/merged.parquet")
      spark.conf.set("spark.sql.parquet.mergeSchema", "true")
      try {
        val merged = Core.table(spark, dir, "merged").schema
        assert(merged == spark.read.parquet(s"$dir/merged.parquet").schema)
        assert(merged.fieldNames.sorted.sameElements(Seq("a", "b")))
      } finally spark.conf.unset("spark.sql.parquet.mergeSchema")
    } finally
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }
}
