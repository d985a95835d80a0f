package graft.functions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's two lookup dimensions, as data (not code):
  *   - WMO code -> description (/root/reference/weather.py:92-114), an
  *     18-entry map with a "Code {n}" default on miss;
  *   - code -> icon class (/root/reference/weather.py:117-130), six
  *     membership sets with first-match-wins and an "unknown" default.
  *
  * Spark-first mapping: the description lookup is a broadcast-hash LEFT
  * join against a tiny dimension table + COALESCE default; the icon
  * classification is a chained CASE WHEN ... IN expression (codegen'd,
  * no join needed). Both shapes scale: at 100 TB the dim stays broadcast
  * and the CASE is pure map-side compute.
  */
object WeatherDims {

  val wmo: Seq[(Int, String)] = Seq(
    0 -> "Clear", 1 -> "Mainly clear", 2 -> "Partly cloudy", 3 -> "Overcast",
    45 -> "Fog", 48 -> "Rime fog",
    51 -> "Light drizzle", 53 -> "Drizzle", 55 -> "Heavy drizzle",
    61 -> "Light rain", 63 -> "Rain", 65 -> "Heavy rain",
    71 -> "Light snow", 73 -> "Snow", 75 -> "Heavy snow",
    80 -> "Rain showers", 81 -> "Rain showers", 82 -> "Violent showers",
    95 -> "Thunderstorm")

  /** First-match-wins icon classes (weather.py:118-129). */
  val iconSets: Seq[(String, Seq[Int])] = Seq(
    "sun" -> Seq(0, 1),
    "cloud" -> Seq(2, 3),
    "fog" -> Seq(45, 48),
    "rain" -> Seq(51, 53, 55, 61, 63, 65, 80, 81, 82),
    "snow" -> Seq(71, 73, 75),
    "storm" -> Seq(95))

  def wmoDf(s: SparkSession): DataFrame = {
    import s.implicits._
    wmo.toDF("code", "description")
  }

  /** Broadcast lookup join with default — the weather.py:92-114 shape.
    * The default renders like Python's `"Code {}".format(code)`: a
    * missing code reads `Code None`. */
  def withDescription(s: SparkSession, df: DataFrame): DataFrame =
    df.join(broadcast(wmoDf(s)), Seq("code"), "left")
      .withColumn(
        "description",
        coalesce(col("description"), concat(lit("Code "),
          coalesce(col("code").cast("string"), lit("None")))))

  /** Chained CASE WHEN code IN (...) — the weather.py:117-130 shape. */
  def iconCol(code: Column): Column =
    iconSets
      .foldLeft(when(lit(false), lit(""))) { case (acc, (icon, codes)) =>
        acc.when(code.isin(codes.map(Integer.valueOf): _*), lit(icon))
      }
      .otherwise(lit("unknown"))

  // --- DuckDB oracle fragments (kept beside the data they derive from) ---

  val wmoValuesSql: String =
    wmo.map { case (c, d) => s"($c, '$d')" }
      .mkString("(VALUES ", ", ", ") AS wmo(wcode, description)")

  def iconCaseSql(codeCol: String): String =
    iconSets.map { case (icon, codes) =>
      s"WHEN $codeCol IN (${codes.mkString(",")}) THEN '$icon'"
    }.mkString("CASE ", " ", " ELSE 'unknown' END")

  def descSql(codeCol: String): String =
    s"COALESCE(description, 'Code ' || COALESCE(CAST($codeCol AS VARCHAR), 'None'))"
}
