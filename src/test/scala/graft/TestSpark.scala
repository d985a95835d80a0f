package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (sbt forks one test JVM). */
object TestSpark {
  private lazy val warehouse = {
    val d = java.nio.file.Files.createTempDirectory("graft-warehouse")
    sys.addShutdownHook(
      org.apache.commons.io.FileUtils.deleteQuietly(d.toFile))
    d
  }

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // a fresh warehouse per JVM: a spec that fails between
      // saveAsTable and DROP TABLE leaves its table directory behind,
      // and a shared ./spark-warehouse would fail every later run of
      // that spec with LOCATION_ALREADY_EXISTS
      .config("spark.sql.warehouse.dir", warehouse.toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sfDir = "/root/testdata/sf0.001"
}
