package graft

import graft.functions.WeatherDims
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Golden tests for the reference's two lookup tables
  * (/root/reference/weather.py:92-130): every defined code, the
  * "Code {n}" default, every icon class, the "unknown" default. */
class WeatherDimsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // expected behavior per /root/reference/weather.py:93-113 (text) and
  // :118-129 (icon), including codes NOT in either table.
  private val expectedText: Map[Int, String] = WeatherDims.wmo.toMap
  private val expectedIcon: Map[Int, String] =
    WeatherDims.iconSets.flatMap { case (i, cs) => cs.map(_ -> i) }.toMap

  test("all 19 defined WMO codes map to their description") {
    val codes = WeatherDims.wmo.map(_._1)
    val out = codes.toDF("code")
      .transform(df => WeatherDims.withDescription(spark, df))
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    codes.foreach { c => assert(out(c) == expectedText(c), s"code $c") }
  }

  test("unknown codes fall back to 'Code {n}' (weather.py:114)") {
    val out = Seq(4, 42, 99, 100, -1).toDF("code")
      .transform(df => WeatherDims.withDescription(spark, df))
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(out(4) == "Code 4")
    assert(out(99) == "Code 99")
    assert(out(-1) == "Code -1")
  }

  test("a missing code falls back to 'Code None', as Python's " +
    "\"Code {}\".format(None)") {
    val out = Seq(Option.empty[Int], Some(4)).toDF("code")
      .transform(df => WeatherDims.withDescription(spark, df))
      .collect().map(r => Option(r.get(0)) -> r.getString(1)).toMap
    assert(out(None) == "Code None")
    assert(out(Some(4)) == "Code 4")
  }

  test("icon classification is total: every int maps, first-match-wins") {
    val domain = -5 to 105
    val out = domain.toDF("code")
      .select($"code", WeatherDims.iconCol($"code").as("icon"))
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    domain.foreach { c =>
      assert(out(c) == expectedIcon.getOrElse(c, "unknown"), s"code $c")
    }
  }
}
