package graft

/** Smoke-run the flagship `SparkEntry.entry` exactly as the driver's t1
  * check does: build a local session, run, count, show a few rows. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = graft.core.Core.localSession()
    val df = SparkEntry.entry(spark)
    val n = df.count()
    df.show(10, truncate = false)
    println(s"[smoke] entry rows = $n")

    // Drive the weather-json DSv2 source + streaming loop end-to-end
    // (geocode-once -> per-tick fetch/render -> error fallback).
    val fx = "src/test/resources/weather"
    if (new java.io.File(fx).isDirectory) {
      val geo = graft.streaming.WeatherPipeline.geocodeTop1(
        spark, s"$fx/geocode_gb.json", "London", "GB")
      println(s"[smoke] geocode: $geo")
      val ticks = Seq("forecast_rain", "forecast_error", "forecast_clear")
        .map(f => s"$fx/$f.json").mkString(",")
      val ckpt = java.nio.file.Files.createTempDirectory("smoke-ckpt").toString
      val q = graft.streaming.WeatherPipeline.run(spark, ticks,
        geo.getAs[String]("name"),
        org.apache.spark.sql.streaming.Trigger.AvailableNow(), ckpt) {
        frames => frames.foreach(f => println(s"[smoke] frame: $f"))
      }
      q.awaitTermination(120000)
    }

    // Partitioned display sink: frames routed by icon category
    // (the draw_icon dispatch, weather.py:205-219, as partitioned parquet).
    val sinkDir = java.nio.file.Files.createTempDirectory("frames").toString
    graft.sources.DisplaySink.writeFrames(
      SparkEntry.queries("sink_display")(spark, "/root/testdata/sf0.001"),
      sinkDir)
    val parts = new java.io.File(sinkDir).listFiles()
      .map(_.getName).filter(_.startsWith("icon=")).sorted
    println(s"[smoke] display sink partitions: ${parts.mkString(", ")}")
    spark.stop()
  }
}
