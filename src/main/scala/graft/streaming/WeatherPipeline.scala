package graft.streaming

import graft.core.Core
import graft.functions.WeatherDims
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import scala.util.control.NonFatal

/** The reference's main loop (/root/reference/weather.py:315-333) as a
  * Structured Streaming pipeline:
  *
  *  - geocode once, before the loop (weather.py:321)       -> a cached
  *    static DataFrame, stream-static joined per micro-batch;
  *  - fetch -> transform -> draw, every REFRESH_SECONDS    -> readStream
  *    on the weather-json source (one payload per trigger) + foreachBatch
  *    display sink;
  *  - per-tick error => degraded frame, keep looping
  *    (weather.py:325-331)                                 -> try/catch
  *    inside foreachBatch emitting the fallback frame row. The reference
  *    carries NO state across ticks (an error drops the previous good
  *    frame), so the sink is deliberately stateless.
  */
object WeatherPipeline {

  case class Frame(title: String, temp_text: String, description: String,
    icon: String, rain_line: String, footer: String)

  /** The reference's 4-tuple fetch result (weather.py:85), as the typed
    * Dataset facade promised by SURVEY §1.3. */
  case class CurrentWeather(temperature: Option[Double], code: Option[Int],
    time: String, rain_prob: Option[Int])

  /** Typed view of a forecast batch: the fetch_current_weather shape. */
  def currentWeather(obs: DataFrame): org.apache.spark.sql.Dataset[CurrentWeather] = {
    import obs.sparkSession.implicits._
    obs.select(
        col("current.temperature_2m").as("temperature"),
        col("current.weather_code").as("code"),
        coalesce(col("current.time"), lit("")).as("time"),
        try_element_at(col("daily.precipitation_probability_max"), lit(1))
          .as("rain_prob"))
      .as[CurrentWeather]
  }

  /** Geocode lookup, hoisted out of the loop (weather.py:42-59,321):
    * filter + limit(1) push down to the source; empty => error, mirroring
    * the RuntimeError at weather.py:49-51. */
  def geocodeTop1(spark: SparkSession, path: String, name: String,
      country: String): Row = {
    val rows = spark.read.format("weather-json")
      .option("endpoint", "geocode").option("path", path).load()
      .filter(col("name") === name && col("country_code") === country)
      .limit(1)
      .collect()
    if (rows.isEmpty)
      throw new RuntimeException(s"No geocoding results for: $name")
    rows.head
  }

  /** One forecast payload per micro-batch. */
  def observations(spark: SparkSession, paths: String): DataFrame =
    spark.readStream.format("weather-json")
      .option("endpoint", "forecast").option("path", paths).load()

  /** The tick transform (weather.py:326-328): nested projection with
    * null defaults, WMO text lookup, icon classification. */
  def interpret(spark: SparkSession, obs: DataFrame): DataFrame = {
    val projected = obs.select(
      col("current.temperature_2m").as("temperature"),
      col("current.weather_code").as("code"),
      coalesce(col("current.time"), lit("")).as("updated"),
      try_element_at(col("daily.precipitation_probability_max"), lit(1))
        .as("rain_prob"))
    WeatherDims.withDescription(spark, projected)
      .withColumn("icon", WeatherDims.iconCol(col("code")))
  }

  /** draw_screen (weather.py:240-308) as a row of formatted columns. */
  def renderFrame(title: String, df: DataFrame): DataFrame =
    df.select(
      lit(title).as("title"),
      when(col("temperature").isNull, lit("--"))
        .otherwise(concat(Core.pyFmt0f(col("temperature")), lit("°")))
        .as("temp_text"),
      col("description"),
      col("icon"),
      when(col("rain_prob").isNotNull,
        format_string("Chance of rain: %d%%", col("rain_prob")))
        .otherwise(lit(null).cast("string")).as("rain_line"),
      when(length(col("updated")) > 0,
        concat(lit("Updated "), substring(col("updated"), -5, 5)))
        .otherwise(lit(null).cast("string")).as("footer"))

  /** Error frame of weather.py:331: null temp, Error text, unknown icon.
    * Unwraps Spark's task-failure layers to the root cause so the frame
    * reads like the reference's "Error: {e}" (e.g. "Error: HTTP 503:
    * service unavailable"), not a stage-failure stack preamble. */
  def errorFrame(title: String, e: Throwable): Frame = {
    @annotation.tailrec
    def root(t: Throwable): Throwable =
      if (t.getCause == null || t.getCause == t) t else root(t.getCause)
    Frame(title, "--", s"Error: ${root(e).getMessage}", "unknown", null, null)
  }

  /** Run the loop: each micro-batch renders one frame to `sink`; any
    * non-fatal tick failure emits the degraded frame and the query keeps
    * running. Fatal errors (out of memory, interrupts, linkage errors)
    * are not ticks gone wrong: they propagate and stop the query. */
  def run(spark: SparkSession, forecastPaths: String, title: String,
      trigger: Trigger, checkpoint: String)(sink: Seq[Frame] => Unit): StreamingQuery =
    observations(spark, forecastPaths).writeStream
      .trigger(trigger)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val frames =
          try {
            import org.apache.spark.sql.Encoders
            renderFrame(title, interpret(batch.sparkSession, batch))
              .as(Encoders.product[Frame]).collect().toSeq
          } catch {
            case NonFatal(e) => Seq(errorFrame(title, e))
          }
        sink(frames)
      }
      .start()
}
