package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Independent-replay checks for the data-profiling operators:
  * profile_table's per-column stats vs per-column Spark aggregates,
  * agg_zscore_outlier vs a driver-side moments fold. Runs on sf0.001
  * (the oracle gate re-checks both against DuckDB at sf0.01). */
class ProfilingOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val dir = TestSpark.sfDir

  test("profile_table rows match independent per-column aggregates") {
    val out = SparkEntry.queries("profile_table")(spark, dir)
      .collect().map(r => r.getString(1) -> ((r.getLong(0), r.getLong(2),
        r.getLong(3), r.getString(4), r.getString(5)))).toMap
    assert(out.keySet == Set("o_orderkey", "o_custkey", "o_orderstatus",
      "o_orderpriority", "o_totalprice_cents", "o_orderdate"))
    val o = graft.core.Core.table(spark, dir, "orders")
    val nRows = o.count()
    // every row carries the one table-level count
    out.values.foreach { case (n, _, _, _, _) => assert(n == nRows) }
    // per-column independent replays (one aggregate per column — the
    // operator's single-scan Expand must agree with the naive plans)
    def check(colName: String, c: org.apache.spark.sql.Column,
        render: org.apache.spark.sql.Column => org.apache.spark.sql.Column)
        : Unit = {
      val r = o.agg(
        sum(when(c.isNull, 1L).otherwise(0L)),
        countDistinct(c), render(min(c)), render(max(c))).head()
      val (nulls, dist, mn, mx) = (r.getLong(0), r.getLong(1),
        r.getString(2), r.getString(3))
      assert(out(colName) == ((nRows, nulls, dist, mn, mx)), colName)
    }
    check("o_orderkey", col("o_orderkey"), _.cast("string"))
    check("o_custkey", col("o_custkey"), _.cast("string"))
    check("o_orderstatus", col("o_orderstatus"), identity)
    check("o_orderpriority", col("o_orderpriority"), identity)
    check("o_totalprice_cents", graft.core.Core.cents(col("o_totalprice")),
      _.cast("string"))
    check("o_orderdate", col("o_orderdate"),
      date_format(_, "yyyy-MM-dd HH:mm:ss"))
  }

  test("profileTableApprox: same profile minus the Expand, distincts within 5%") {
    val exact = SparkEntry.queries("profile_table")(spark, dir)
    val approx = graft.operators.RelationalOps.profileTableWith(spark, dir,
      c => approx_count_distinct(c, rsd = 0.02))
    // the exact form pays the multi-distinct Expand; the HLL form must
    // NOT — that plan difference IS the 100 TB argument
    assert(exact.queryExecution.executedPlan.toString.contains("Expand"))
    assert(!approx.queryExecution.executedPlan.toString.contains("Expand"))
    val e = exact.collect().map(r => r.getString(1) ->
      ((r.getLong(0), r.getLong(2), r.getLong(3), r.getString(4),
        r.getString(5)))).toMap
    val a = approx.collect().map(r => r.getString(1) ->
      ((r.getLong(0), r.getLong(2), r.getLong(3), r.getString(4),
        r.getString(5)))).toMap
    assert(a.keySet == e.keySet)
    a.foreach { case (c, (nRows, nNulls, nDist, mn, mx)) =>
      val (eRows, eNulls, eDist, eMn, eMx) = e(c)
      // everything except the distinct estimate is EXACTLY the same
      assert(nRows == eRows && nNulls == eNulls && mn == eMn && mx == eMx, c)
      // rsd = 0.02 is a (relative) standard deviation, not a hard
      // bound — gate at 2.5 sigma
      assert(math.abs(nDist - eDist).toDouble / eDist <= 0.05,
        s"$c: approx $nDist vs exact $eDist")
    }
  }

  test("profile_docs: per-column replay; approx twin drops the Expand") {
    val out = SparkEntry.queries("profile_docs")(spark, dir)
      .collect().map(r => r.getString(1) -> ((r.getLong(0), r.getLong(2),
        r.getLong(3), r.getString(4), r.getString(5)))).toMap
    assert(out.keySet == Set("doc_id", "lang", "n_chars", "source", "text"))
    val d = graft.core.Core.table(spark, dir, "documents")
    val nRows = d.count()
    def check(colName: String, render: org.apache.spark.sql.Column
        => org.apache.spark.sql.Column): Unit = {
      val c = col(colName)
      val r = d.agg(sum(when(c.isNull, 1L).otherwise(0L)),
        countDistinct(c), render(min(c)), render(max(c))).head()
      assert(out(colName) == ((nRows, r.getLong(0), r.getLong(1),
        r.getString(2), r.getString(3))), colName)
    }
    check("doc_id", _.cast("string"))
    check("lang", identity)
    check("n_chars", _.cast("string"))
    check("source", identity)
    check("text", identity)
    // the scaled-table profile carries the same Expand-vs-HLL plan
    // contrast as profile_table
    val exact = SparkEntry.queries("profile_docs")(spark, dir)
    val approx = graft.operators.RelationalOps.profileDocsWith(spark, dir,
      c => approx_count_distinct(c, rsd = 0.02))
    assert(exact.queryExecution.executedPlan.toString.contains("Expand"))
    assert(!approx.queryExecution.executedPlan.toString.contains("Expand"))
    val a = approx.collect().map(r => r.getString(1) -> r.getLong(3)).toMap
    a.foreach { case (c, nDist) =>
      assert(math.abs(nDist - out(c)._3).toDouble
        / math.max(out(c)._3, 1L) <= 0.05, s"$c approx distinct")
    }
  }

  test("agg_zscore_outlier flags exactly the |z| >= 3 events of a driver-side fold") {
    val out = SparkEntry.queries("agg_zscore_outlier")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(3)))
    val ev = graft.core.Core.table(spark, dir, "events")
      .select("event_id", "event_type", "value").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    // population moments over exact cents, like the engine
    val byType = ev.groupBy(_._2).map { case (t, rs) =>
      val cents = rs.map(r => math.round(r._3 * 100))
      val n = cents.length.toDouble
      val sv = cents.map(BigInt(_)).sum.toDouble
      val svv = cents.map(c => BigInt(c) * BigInt(c)).sum.toDouble
      t -> ((sv / n, (svv - sv * sv / n) / n))
    }
    val expect = ev.flatMap { case (id, t, v) =>
      val (mean, variance) = byType(t)
      if (variance > 0) {
        val z = (math.round(v * 100).toDouble - mean) / math.sqrt(variance)
        if (math.abs(z) >= 3.0)
          Some((id, t, BigDecimal(z)
            .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble))
        else None
      } else None
    }.sortBy(_._1)
    assert(expect.nonEmpty, "corpus should contain outliers")
    assert(out.toSeq == expect.toSeq)
    // both tails appear: the screen catches spikes AND troughs... or at
    // least the heavy upper tail of the exponential-ish values
    assert(out.forall { case (_, _, z) => math.abs(z) >= 3.0 })
  }

  test("seasonDowHour: floor semantics hold either side of the 1970 epoch") {
    import spark.implicits._
    val day = 86400000000L
    // boundary-heavy probes: the last micro of 1969, midnight and the
    // day before it, epoch zero, and plain positive/negative offsets —
    // the naive truncating DIV/% arithmetic (ADVICE round 8) yields
    // negative dow/hour on every pre-1970 member of this list
    // the last two probes sit BEYOND ±2^53 µs (~years 1685–2255),
    // where the former Double-division day index could round and
    // shift dow by a day — the integer-DIV form (ADVICE round 9) is
    // exact over the full Long range
    val us = Seq(-1L, -day, -day - 1L, -3L * day + 3600000000L,
      0L, 1L, 3600000000L, day - 1L, 17L * day + 5L * 3600000000L + 7L,
      (1L << 60) + 12345L, -(1L << 60) + 7L)
    val (dowC, hourC) = graft.operators.RelationalOps.seasonDowHour(col("us"))
    val got = us.toDF("us").select(col("us"), dowC.as("dow"), hourC.as("hour"))
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2)))).toMap
    us.foreach { u =>
      val z = java.time.Instant.EPOCH
        .plus(u, java.time.temporal.ChronoUnit.MICROS)
        .atZone(java.time.ZoneOffset.UTC)
      // java.time DayOfWeek: MONDAY=1..SUNDAY=7; the operator's scheme
      // is 0=Sunday, so %7 aligns the two numberings
      assert(got(u) == ((z.getDayOfWeek.getValue % 7, z.getHour)), s"us=$u")
    }
  }
}
