package graft.operators

import graft.core.Core._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** SURVEY.md §2-B — capability joins / aggregations / windows / set ops
  * the reference only exercises trivially, demonstrated at engine scale.
  *
  * Scale design notes:
  *  - dimension joins (`nation`, `region`) are explicit `broadcast()`;
  *    fact-fact joins shuffle on their keys and AQE picks SMJ/broadcast
  *    and splits skewed partitions at runtime;
  *  - all money aggregations run in integer cents (exact, associative,
  *    shuffle-order independent — a double sum would be neither);
  *  - windows partition on high-cardinality keys (user_id, custkey), so
  *    state per partition stays bounded at 100 TB;
  *  - the as-of join is equi-join on the key plus a range filter and a
  *    per-left-row row_number, the standard Spark formulation (no
  *    cartesian anywhere).
  */
object RelationalOps {

  /** discount/tax as exact integer percent (values carry <=2 decimals). */
  private def pct(c: org.apache.spark.sql.Column) =
    round(c * 100).cast(LongType)

  /** join_interval window: pairs within 10 minutes, in µs (also the
    * time-bucket width — the bin-join adjacency argument needs
    * bucket width >= window). */
  val IntervalJoinUs: Long = 600000000L

  /** join_asof_nearest tolerance: ±30 minutes in µs. */
  val AsofNearestTolUs: Long = 1800000000L

  /** agg_seasonality's calendar cells from an epoch-micros column, with
    * EXPLICIT floor-division semantics (ADVICE round 8): Spark's `DIV`
    * and DuckDB's `//` both truncate toward zero, so the naive
    * `(us DIV day + 4) % 7` yields negative dow (and a wrong day index)
    * for pre-1970 timestamps. `dayidx` corrects truncation to floor
    * (subtract 1 when the remainder is negative), `pmod` folds both
    * cells into [0,7) / in-day micros into [0,day) for any epoch sign.
    * Unit-tested on pre-1970 literals in ProfilingOpsSpec; the oracle
    * SQL repeats the identical algebra with `//` and `((x%n)+n)%n`. */
  private[graft] def seasonDowHour(us: Column): (Column, Column) = {
    val day = lit(86400000000L)
    val hourUs = lit(3600000000L)
    // exact floor division: subtracting the (non-negative) pmod leaves
    // an exact multiple, and a double quotient of two exactly-
    // representable longs (< 2^53) with an integer result is exact
    val inDay = pmod(us, day)
    // integer DIV, not Double division: (us - inDay) is an exact
    // multiple of day, so Long DIV is exact for the FULL Long range —
    // the former Double quotient was only exact while |us| < 2^53 µs
    // (~years 1685–2255) and could shift dow by a day beyond that
    // (ADVICE round 9). Same for the in-day hour index.
    val dayidx = call_function("div", us - inDay, day).cast(LongType)
    val dow = pmod(dayidx + 4, lit(7L)).cast(IntegerType)
    // inDay is non-negative (pmod), so truncating DIV == floor here —
    // no subtract-remainder needed (that step only mattered for the
    // retired Double-division form, and for dayidx whose dividend can
    // be negative)
    val hour = call_function("div", inDay, hourUs).cast(IntegerType)
    (dow, hour)
  }

  /** table_diff's core: full-outer join two (doc_id, text) snapshots,
    * emit one row per added/removed/changed doc. added/removed key on
    * per-side PRESENCE markers (p1/p2), not on hash nullness:
    * md5(NULL) is NULL, so hash-keyed status would misreport a doc
    * whose text is NULL in BOTH snapshots as 'added', while the
    * oracle keys on doc_id nullness and drops the NULL<>NULL compare
    * (ADVICE round 9). With markers, a both-sides-NULL text falls
    * through to h1 =!= h2, which is NULL → filtered — identical to
    * the SQL CASE semantics (pinned on NULL-text rows in
    * CurationOpsSpec).
    *
    * DELIBERATE consequence (ADVICE round 10, kept as is): a doc whose
    * text transitions NULL→value or value→NULL in place reports NO
    * status — h1 =!= h2 is NULL and filters. That is the ANSI
    * inequality semantics the DuckDB oracle shares (oracle parity is
    * the contract), and NULL text is a sentinel for "no content" in
    * this corpus, not content. A consumer who wants NULL transitions
    * counted as 'changed' should diff on a presence-normalized
    * projection (e.g. coalesce(text, chr(0))) — changing the core to
    * null-safe inequality (NOT h1 <=> h2) would silently re-grade
    * every pinned oracle row instead. */
  private[graft] def snapshotDiff(v1: DataFrame, v2: DataFrame): DataFrame =
    v1.select(col("doc_id"), lit(1).as("p1"), md5(col("text")).as("h1"))
      .join(v2.select(col("doc_id"), lit(1).as("p2"),
          md5(col("text")).as("h2")),
        Seq("doc_id"), "full_outer")
      .withColumn("status",
        when(col("p1").isNull, "added")
          .when(col("p2").isNull, "removed")
          .when(col("h1") =!= col("h2"), "changed"))
      .filter(col("status").isNotNull)
      .select(col("doc_id"), col("status"))
      .orderBy("doc_id")

  /** profile_table's single-scan builder, parameterized by the
    * distinct-count aggregator. With `countDistinct` (the contract
    * query) the multi-distinct agg plans as ONE Expand — rows ×
    * profiled columns — which is exact but multiplies the scan; with
    * `approx_count_distinct` (the shape the operator scaladoc
    * prescribes at 100 TB) the HLL sketches merge in an ordinary
    * single-pass hash aggregate and the Expand disappears (plan-shape
    * + ±2% accuracy asserted in ProfilingOpsSpec). Everything else —
    * null counts, min/max rendering — is identical between the two
    * forms. */
  private[graft] def profileTableWith(s: SparkSession, dir: String,
      distinctAgg: Column => Column): DataFrame = {
    val priceCents = cents(col("o_totalprice"))
    // This ONE orders read takes the scan-parallelism floor
    // (Core.scanFloor, measured r17): the exact profile's
    // multi-distinct plans as an Expand of rows × profiled columns
    // BELOW the first exchange, so the single-split orders scan
    // multiplied 6× on one task while the session idled (the generic
    // orders consumers measured the exchange as a net tax, which is why
    // `orders` is not in Core.ScanFloorTables — OPTIMIZATION_r17.md).
    // Same byte gates as every floored read: at deployment input sizes
    // it is a no-op.
    val orders = graft.core.Core.scanFloor(s, dir, "orders",
      table(s, dir, "orders"))
    profileWith(orders, Seq(
      "o_orderkey" -> longProfile("o_orderkey", distinctAgg),
      "o_custkey" -> longProfile("o_custkey", distinctAgg),
      "o_orderstatus" -> strProfile("o_orderstatus", distinctAgg),
      "o_orderpriority" -> strProfile("o_orderpriority", distinctAgg),
      "o_totalprice_cents" -> Seq(
        nNullsOf("o_totalprice"), distinctAgg(priceCents),
        min(priceCents).cast(StringType),
        max(priceCents).cast(StringType)),
      "o_orderdate" -> Seq(
        nNullsOf("o_orderdate"), distinctAgg(col("o_orderdate")),
        date_format(min(col("o_orderdate")), "yyyy-MM-dd HH:mm:ss"),
        date_format(max(col("o_orderdate")), "yyyy-MM-dd HH:mm:ss"))))
  }

  /** The ONE profile builder behind profile_table and profile_docs
    * (and their HLL twins): each entry supplies a display name and its
    * four aggregates (n_nulls, n_distinct, min_v, max_v); the builder
    * assembles the single-scan multi-agg + stack() tall relation, so
    * the profile SHAPE cannot drift between the profiled tables. */
  private def profileWith(d: DataFrame,
      cols: Seq[(String, Seq[Column])]): DataFrame = {
    val aggs: Seq[Column] = Seq(count(lit(1)).as("n_rows")) ++
      cols.flatMap(_._2).zipWithIndex.map { case (c, i) => c.as(s"c$i") }
    val stackArgs = cols.map(_._1).zipWithIndex.map { case (name, i) =>
      s"'$name', c${i * 4}, c${i * 4 + 1}, c${i * 4 + 2}, c${i * 4 + 3}"
    }.mkString(", ")
    d.agg(aggs.head, aggs.tail: _*)
      .select(col("n_rows"), expr(s"stack(${cols.size}, $stackArgs) AS " +
        "(col_name, n_nulls, n_distinct, min_v, max_v)"))
      .orderBy("col_name")
  }

  private def nNullsOf(c: String): Column =
    sum(when(col(c).isNull, 1L).otherwise(0L))
  private def longProfile(c: String,
      distinctAgg: Column => Column): Seq[Column] = Seq(
    nNullsOf(c), distinctAgg(col(c)),
    min(col(c)).cast(StringType), max(col(c)).cast(StringType))
  private def strProfile(c: String,
      distinctAgg: Column => Column): Seq[Column] = Seq(
    nNullsOf(c), distinctAgg(col(c)), min(col(c)), max(col(c)))

  /** [[profileTableWith]]'s shape over `documents` — the CORPUS-SCALED
    * profile. `orders` is a fixed dimension the scale corpora never
    * grew, so profile_table had no 10× datapoint (round-8 verdict
    * watch item #3); this one was swept at sf1 in both regimes, exact
    * vs approx, and the scale ledger records the Expand-elimination
    * delta the HLL aggregator buys. The exact multi-distinct plans as
    * ONE Expand — rows × 5 profiled columns, including the full text
    * strings — which is precisely the term the HLL swap removes at
    * scale. */
  private[graft] def profileDocsWith(s: SparkSession, dir: String,
      distinctAgg: Column => Column): DataFrame =
    profileWith(table(s, dir, "documents"), Seq(
      "doc_id" -> longProfile("doc_id", distinctAgg),
      "lang" -> strProfile("lang", distinctAgg),
      "n_chars" -> longProfile("n_chars", distinctAgg),
      "source" -> strProfile("source", distinctAgg),
      "text" -> strProfile("text", distinctAgg)))

  def queries: Map[String, Q] = Map(
    // Multi-table equi join: orders ⋈ customer ⋈ nation ⋈ region,
    // revenue per nation. nation/region broadcast; orders⋈customer
    // shuffles on the key (AQE re-plans at runtime).
    "join_hash_inner" -> { (s, dir) =>
      table(s, dir, "orders")
        .join(table(s, dir, "customer"),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(table(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(table(s, dir, "region")),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(
          count(lit(1)).as("n_orders"),
          (sum(cents(col("o_totalprice"))) / 100.0).as("revenue"))
        .orderBy("r_name", "n_name")
    },

    // Semi + anti join: customers with / without orders.
    "join_semi_anti" -> { (s, dir) =>
      val c = table(s, dir, "customer")
      val o = table(s, dir, "orders")
      val semi = c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), lit("has_orders").as("tag"))
      val anti = c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), lit("no_orders").as("tag"))
      semi.unionAll(anti).orderBy("c_custkey", "tag")
    },

    // As-of join: latest click at-or-before each purchase, per user.
    // The scale-safe as-of-without-join rewrite: union clicks+purchases
    // into ONE stream of tagged events and take last(click, ignoreNulls)
    // over an ordered per-user window. Linear, a single shuffle on
    // user_id, no per-key fanout — the join formulation materializes
    // clicks×purchases rows per user before pruning, which is quadratic
    // on skewed human-behavior keys (a power user with 1e5 clicks and
    // 1e3 purchases would emit 1e8 intermediate rows).
    "join_range_asof" -> { (s, dir) =>
      val e = table(s, dir, "events")
        .filter(col("event_type").isin("click", "purchase"))
        .withColumn("us", unix_micros(col("ts")))
      // kind=0 clicks, kind=1 purchases: at equal timestamps the click
      // sorts first, so it is visible to the purchase's window frame
      // (the original range predicate was click_us <= purchase_us,
      // inclusive). event_id asc makes ties pick the max click_id, the
      // same row the (click_us DESC, click_id DESC) row_number kept.
      val tagged = e.select(
        col("user_id"),
        col("us"),
        when(col("event_type") === "purchase", 1).otherwise(0).as("kind"),
        col("event_id"))
      val w = Window.partitionBy("user_id")
        .orderBy(col("us"), col("kind"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val clickId = when(col("kind") === 0, col("event_id"))
      val clickUs = when(col("kind") === 0, col("us"))
      tagged
        // both window expressions in ONE select -> one Window operator
        .select(col("*"),
          last(clickId, ignoreNulls = true).over(w).as("click_id"),
          last(clickUs, ignoreNulls = true).over(w).as("click_us"))
        .filter(col("kind") === 1)
        .select(col("event_id").as("purchase_id"),
          col("us").as("purchase_us"), col("click_id"), col("click_us"))
        .orderBy("purchase_id")
    },

    // NEAREST-event as-of join (pandas merge_asof direction='nearest'
    // with tolerance): each purchase pairs with its closest click in
    // EITHER direction within ±30 min, backward preferred on distance
    // ties. Same scale-safe union+window rewrite as join_range_asof —
    // ONE shuffle on user_id, two frames (preceding last + following
    // first) in one Window operator pass each, no clicks×purchases
    // fanout. Tiebreaks are pinned: backward picks the latest click
    // (max id at equal ts — what `last` over (us, kind, id) yields),
    // forward the earliest (min id — `first`); equal-timestamp clicks
    // sort before the purchase, so they are backward candidates at
    // distance 0, never double-counted forward.
    "join_asof_nearest" -> { (s, dir) =>
      val tol = AsofNearestTolUs
      val e = table(s, dir, "events")
        .filter(col("event_type").isin("click", "purchase"))
        .withColumn("us", unix_micros(col("ts")))
      val tagged = e.select(col("user_id"), col("us"),
        when(col("event_type") === "purchase", 1).otherwise(0).as("kind"),
        col("event_id"))
      val back = Window.partitionBy("user_id")
        .orderBy(col("us"), col("kind"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val fwd = Window.partitionBy("user_id")
        .orderBy(col("us"), col("kind"), col("event_id"))
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      val clickId = when(col("kind") === 0, col("event_id"))
      val clickUs = when(col("kind") === 0, col("us"))
      tagged
        .select(col("*"),
          last(clickId, ignoreNulls = true).over(back).as("b_id"),
          last(clickUs, ignoreNulls = true).over(back).as("b_us"),
          first(clickId, ignoreNulls = true).over(fwd).as("f_id"),
          first(clickUs, ignoreNulls = true).over(fwd).as("f_us"))
        .filter(col("kind") === 1)
        .withColumn("b_ok",
          col("b_us").isNotNull && col("us") - col("b_us") <= tol)
        .withColumn("f_ok",
          col("f_us").isNotNull && col("f_us") - col("us") <= tol)
        .withColumn("pick_back", col("b_ok") && (!col("f_ok")
          || col("us") - col("b_us") <= col("f_us") - col("us")))
        .select(col("event_id").as("purchase_id"),
          col("us").as("purchase_us"),
          when(col("pick_back"), col("b_id"))
            .otherwise(when(col("f_ok"), col("f_id"))).as("click_id"),
          when(col("pick_back"), col("b_us"))
            .otherwise(when(col("f_ok"), col("f_us"))).as("click_us"),
          when(col("pick_back"), "back")
            .otherwise(when(col("f_ok"), "fwd")).as("direction"))
        .withColumn("delta_us", abs(col("purchase_us") - col("click_us")))
        .orderBy("purchase_id")
    },

    // TPC-H Q1 shape: grouped multi-aggregate over lineitem, fully in
    // integer cents/percent so every sum is exact and associative.
    "agg_group_multi" -> { (s, dir) =>
      table(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("2000-12-01").cast(TimestampType))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          (sum(cents(col("l_quantity"))) / 100.0).as("sum_qty"),
          (sum(cents(col("l_extendedprice"))) / 100.0).as("sum_base_price"),
          // extprice*(1-disc) in units of 1e-4: cents * (100 - pct)
          (sum(cents(col("l_extendedprice")) * (lit(100L) - pct(col("l_discount"))))
            / 10000.0).as("sum_disc_price"),
          // extprice*(1-disc)*(1+tax) in units of 1e-6
          (sum(cents(col("l_extendedprice")) * (lit(100L) - pct(col("l_discount")))
            * (lit(100L) + pct(col("l_tax")))) / 1000000.0).as("sum_charge"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    },

    // COUNT(DISTINCT) per group.
    "agg_distinct" -> { (s, dir) =>
      table(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          count_distinct(col("l_partkey")).as("n_parts"),
          count_distinct(col("l_suppkey")).as("n_supps"),
          count(lit(1)).as("n_rows"))
        .orderBy("l_returnflag")
    },

    // ROLLUP grouping sets with subtotal rows.
    "agg_rollup_cube" -> { (s, dir) =>
      table(s, dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(
          count(lit(1)).as("n"),
          (sum(cents(col("l_quantity"))) / 100.0).as("sum_qty"))
        .select(
          coalesce(col("l_returnflag"), lit("(all)")).as("flag"),
          coalesce(col("l_linestatus"), lit("(all)")).as("status"),
          col("n"), col("sum_qty"))
        .orderBy("flag", "status")
    },

    // Pagination: offset + limit over a total order.
    "sort_paginate" -> { (s, dir) =>
      table(s, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .offset(100)
        .limit(20)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    },

    // Map-typed columns used internally (scalar projections out — map
    // column order/hashing is not a stable wire format).
    "map_suite" -> { (s, dir) =>
      val m = map_from_arrays(
        array(lit("type"), lit("k")),
        array(col("event_type"),
          get_json_object(col("props"), "$.k")))
      table(s, dir, "events")
        .withColumn("m", m)
        .select(
          col("event_id"),
          element_at(col("m"), "type").as("typ"),
          element_at(col("m"), "k").as("k_str"),
          size(col("m")).as("n_entries"),
          array_join(map_keys(col("m")), ",").as("keys"))
        .orderBy("event_id")
    },

    // Unpivot wide measures to long (measure, value) format via stack.
    "unpivot_stack" -> { (s, dir) =>
      table(s, dir, "lineitem")
        .filter(col("l_orderkey") % 1000 === 0)
        .select(col("l_orderkey"), col("l_linenumber"),
          expr("stack(3, 'discount', l_discount, 'extendedprice', " +
            "l_extendedprice, 'quantity', l_quantity) AS (measure, value)"))
        .orderBy("l_orderkey", "l_linenumber", "measure")
    },

    // Deterministic collect: collect_set is unordered, so sort the
    // array before emitting (the only hash-stable way to ship a
    // collected group).
    "agg_collect_sorted" -> { (s, dir) =>
      table(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          array_join(sort_array(collect_set(col("l_linestatus"))), ",")
            .as("statuses"),
          array_join(sort_array(collect_set(col("l_suppkey"))), ",")
            .as("suppliers"))
        .orderBy("l_returnflag")
    },

    // Explicit cartesian product (crossJoin must be asked for by name).
    "join_cross" -> { (s, dir) =>
      val r1 = table(s, dir, "region")
        .select(col("r_regionkey").as("a"), col("r_name").as("a_name"))
      val r2 = table(s, dir, "region")
        .select(col("r_regionkey").as("b"), col("r_name").as("b_name"))
      r1.crossJoin(r2)
        .select(col("a"), col("b"),
          concat(col("a_name"), lit("-"), col("b_name")).as("pair"))
        .orderBy("a", "b")
    },

    // first_value / last_value / nth_value over an explicit full frame
    // (default frames make last_value a footgun — pin the frame).
    "win_first_last" -> { (s, dir) =>
      val full = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderkey").asc)
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      table(s, dir, "orders")
        .filter(col("o_custkey") % 200 === 0)
        .select(
          col("o_custkey"), col("o_orderkey"),
          first(col("o_totalprice")).over(full).as("first_price"),
          last(col("o_totalprice")).over(full).as("last_price"),
          nth_value(col("o_totalprice"), 2).over(full).as("second_price"))
        .orderBy("o_custkey", "o_orderkey")
    },

    // Ratio-to-report: each nation's share of its region's revenue —
    // a window sum over the grouped aggregate, one exact-cents division
    // at the end. The denominator window partitions by region, so the
    // share column needs no second aggregation pass.
    "win_share_of_total" -> { (s, dir) =>
      val byRegion = Window.partitionBy("r_name")
      table(s, dir, "orders")
        .join(table(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(table(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(table(s, dir, "region")),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(sum(cents(col("o_totalprice"))).as("rev_cents"))
        .withColumn("share",
          col("rev_cents").cast(DoubleType)
            / sum(col("rev_cents")).over(byRegion))
        .select(col("r_name"), col("n_name"),
          (col("rev_cents") / 100.0).as("revenue"), col("share"))
        .orderBy("r_name", "n_name")
    },

    // Cohort retention: users grouped by first-activity week, counted
    // per subsequent activity week — the classic retention matrix.
    // Weeks are epoch-days DIV 7 (integer, portable: week-of-year
    // dialects disagree across engines); the cohort assignment is a
    // per-user min window, the matrix a distinct-count per cell.
    "win_retention_cohort" -> { (s, dir) =>
      // floor, not cast-truncation: DuckDB's // floors, so pre-epoch
      // timestamps (negative day counts) would otherwise land one week
      // later on the Spark side (-25 days: floor -> -4, truncate -> -3)
      val wk = floor(datediff(to_date(col("ts")), lit("1970-01-01")) / 7)
        .cast(IntegerType)
      val byUser = Window.partitionBy("user_id")
      table(s, dir, "events")
        .withColumn("wk", wk)
        .withColumn("cohort_wk", min(col("wk")).over(byUser))
        .groupBy("cohort_wk", "wk")
        .agg(count_distinct(col("user_id")).as("n_users"),
          count(lit(1)).as("n_events"))
        .orderBy("cohort_wk", "wk")
    },

    // Statistical moments for data profiling: per-group mean, population
    // variance, and Pearson correlation of quantity vs extended price.
    // Spark's stddev/corr aggregate in doubles (merge-order dependent →
    // not oracle-exact); here every sum runs over EXACT integers
    // (cents, cents², decimal-38 accumulators so 100 TB row counts
    // can't overflow), is cast once to double (deterministic
    // round-to-nearest of the same exact integer in both engines), and
    // the closing arithmetic is the identical IEEE expression on both
    // sides — so even variance and correlation hash-match.
    "agg_stats_moments" -> { (s, dir) =>
      val d38 = DecimalType(38, 0)
      val qc = cents(col("l_quantity"))
      val pc = cents(col("l_extendedprice"))
      val g = table(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          count(lit(1)).as("n"),
          sum(qc.cast(d38)).as("sq"),
          sum(pc.cast(d38)).as("sp"),
          sum((qc * qc).cast(d38)).as("sqq"),
          sum((pc * pc).cast(d38)).as("spp"),
          sum((qc * pc).cast(d38)).as("sqp"))
      val (n, sq, sp, sqq, spp, sqp) = (
        col("n").cast(DoubleType), col("sq").cast(DoubleType),
        col("sp").cast(DoubleType), col("sqq").cast(DoubleType),
        col("spp").cast(DoubleType), col("sqp").cast(DoubleType))
      val varQ = (sqq - sq * sq / n) / n
      val varP = (spp - sp * sp / n) / n
      val cov = (sqp - sq * sp / n) / n
      g.select(
          col("l_returnflag"), col("n"),
          (sq / n / 100.0).as("mean_qty"),
          (varQ / 10000.0).as("var_qty"),
          (sp / n / 100.0).as("mean_price"),
          (varP / 10000.0).as("var_price"),
          // zero-variance group: correlation is undefined — NULL in
          // both engines (Spark would give NaN, DuckDB NULL, breaking
          // parity without this guard)
          when(varQ * varP > 0, cov / sqrt(varQ * varP))
            .otherwise(lit(null).cast(DoubleType)).as("corr_qty_price"))
        .orderBy("l_returnflag")
    },

    // Histogram binning for data profiling: l_quantity (1..50) into 10
    // fixed-width bins, computed in integer cents so bin edges are
    // exact in both engines (double floor-division at a boundary is a
    // cross-engine hazard; integer DIV is not).
    "agg_hist_bins" -> { (s, dir) =>
      table(s, dir, "lineitem")
        .withColumn("bin",
          least(expr("(CAST(round(l_quantity * 100) AS BIGINT) - 100) DIV 500"),
            lit(9L)))
        .groupBy("bin")
        .agg(count(lit(1)).as("n"),
          (sum(cents(col("l_quantity"))) / 100.0).as("sum_qty"))
        .orderBy("bin")
    },

    // Math-function suite: exact ops raw; transcendentals rounded to
    // 9 dp (libm last-ulp variance across engines).
    "math_suite" -> { (s, dir) =>
      table(s, dir, "lineitem")
        .filter(col("l_orderkey") % 1000 === 0)
        .select(
          col("l_orderkey"), col("l_linenumber"),
          abs(col("l_quantity") - 25).as("abs_dev"),
          signum(col("l_discount") - 0.05).as("sign_disc"),
          pmod(col("l_linenumber"), lit(3)).as("mod3"),
          ceil(col("l_quantity") / 7.0).as("ceil7"),
          floor(col("l_quantity") / 7.0).as("floor7"),
          round(sqrt(col("l_quantity")), 9).as("sqrt_qty"),
          round(exp(col("l_discount")), 9).as("exp_disc"),
          round(log(col("l_quantity") + 1.0), 9).as("ln_qty"))
        .orderBy("l_orderkey", "l_linenumber")
    },

    // Regex functions with dialect-safe patterns (plain digit classes
    // behave identically in Java regex and RE2): extract / replace /
    // match-flag over the JSON props string.
    "regex_extract" -> { (s, dir) =>
      table(s, dir, "events")
        .select(
          col("event_id"),
          regexp_extract(col("props"), "([0-9]+)", 1).as("digits"),
          regexp_replace(col("props"), "[0-9]", "#").as("masked"),
          col("props").rlike("[0-9][0-9]").as("has_2digits"))
        .orderBy("event_id")
    },

    // unionByName with missing columns: schema-mediated union where
    // position doesn't matter and absent columns null-fill.
    "union_by_name" -> { (s, dir) =>
      val a = table(s, dir, "customer")
        .select(col("c_custkey").as("id"), col("c_name").as("name"),
          col("c_acctbal").as("balance"))
      val b = table(s, dir, "supplier")
        .select(col("s_name").as("name"), col("s_suppkey").as("id"))
      a.withColumn("kind", lit("customer"))
        .unionByName(
          b.withColumn("kind", lit("supplier")), allowMissingColumns = true)
        .select(col("kind"), col("id"), col("name"),
          coalesce(col("balance"), lit(-1.0)).as("balance"))
        .orderBy("kind", "id")
    },

    // Interval arithmetic + calendar truncation on event time.
    "date_arith" -> { (s, dir) =>
      table(s, dir, "events")
        .select(
          col("event_id"),
          date_format(col("ts") + expr("INTERVAL 10 MINUTES"),
            "yyyy-MM-dd HH:mm:ss").as("plus_10m"),
          date_format(col("ts") - expr("INTERVAL 1 DAY"),
            "yyyy-MM-dd HH:mm:ss").as("minus_1d"),
          date_format(date_trunc("hour", col("ts")),
            "yyyy-MM-dd HH:mm:ss").as("hour_start"))
        .orderBy("event_id")
    },

    // Conditional aggregation: count_if / bool_or / bool_and / filtered
    // cents-sum per group.
    "agg_conditional" -> { (s, dir) =>
      table(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          count_if(col("l_quantity") > 25).as("n_bulk"),
          bool_or(col("l_discount") > 0.05).as("any_deep_discount"),
          bool_and(col("l_tax") >= 0.0).as("all_taxed"),
          (sum(when(col("l_discount") === 0.0,
            cents(col("l_extendedprice"))).otherwise(lit(0L))) / 100.0)
            .as("full_price_revenue"))
        .orderBy("l_returnflag")
    },

    // Custom typed Aggregator (UDAF surface): exact per-group
    // min/max/count/cents-total via graft.functions.RangeStats,
    // applied to an untyped DataFrame through functions.udaf.
    "agg_typed_custom" -> { (s, dir) =>
      val stats = udaf(graft.functions.RangeStats.aggregator)
      table(s, dir, "events")
        .groupBy("event_type")
        .agg(stats(col("value")).as("st"))
        .select(col("event_type"),
          col("st.min_v").as("min_v"), col("st.max_v").as("max_v"),
          col("st.n").as("n"), col("st.total").as("total"))
        .orderBy("event_type")
    },

    // GROUPING SETS through the SQL surface (beyond rollup/cube).
    "agg_grouping_sets" -> { (s, dir) =>
      table(s, dir, "lineitem").createOrReplaceTempView("lineitem_v")
      s.sql(
        """SELECT COALESCE(l_returnflag, '(all)') AS flag,
          |       COALESCE(l_linestatus, '(all)') AS status,
          |       CAST(COUNT(*) AS BIGINT) AS n,
          |       CAST(SUM(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT)
          |         / CAST(100.0 AS DOUBLE) AS sum_qty
          |FROM lineitem_v
          |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
          |ORDER BY flag, status""".stripMargin)
    },

    // Null-handling semantics: nullif / ifnull / nvl2 / coalesce chain
    // (the .get(..., default) idioms of the reference, relationally).
    "null_semantics" -> { (s, dir) =>
      table(s, dir, "events")
        .select(
          col("event_id"),
          nullif(col("value"), lit(0.0)).as("value_or_null"),
          ifnull(nullif(col("value"), lit(0.0)), lit(-1.0)).as("filled"),
          nvl2(nullif(col("value"), lit(0.0)), lit("has"), lit("zero"))
            .as("tag"),
          coalesce(nullif(col("event_type"), lit("error")), lit("degraded"))
            .as("kind"))
        .orderBy("event_id")
    },

    // Array-function suite: sort, slice, join, distinct sizes.
    "array_suite" -> { (s, dir) =>
      table(s, dir, "documents")
        .withColumn("toks", split(lower(col("text")), " "))
        .select(
          col("doc_id"),
          array_join(slice(sort_array(col("toks")), 1, 5), ",")
            .as("first5_sorted"),
          size(array_distinct(col("toks"))).as("n_distinct"),
          size(col("toks")).as("n_tokens"))
        .orderBy("doc_id")
    },

    // explode_outer: empty arrays keep their parent row (null-extended),
    // unlike plain explode which drops it.
    "explode_outer_keep" -> { (s, dir) =>
      val d = table(s, dir, "documents")
        .withColumn("toks", split(lower(col("text")), " "))
        .withColumn("l",
          when(col("doc_id") % 50 === 0,
            array().cast("array<string>"))
            .otherwise(slice(col("toks"), 1, 3)))
      d.select(col("doc_id"), posexplode_outer(col("l")).as(Seq("pos", "tok")))
        .select(col("doc_id"), (col("pos") + 1).cast(IntegerType).as("pos"),
          col("tok"))
        .orderBy(col("doc_id").asc, col("pos").asc_nulls_first)
    },

    // Approximate quantiles (sketch-based; no oracle — rows-only check,
    // accuracy asserted vs exact percentile in scalatest).
    "agg_approx_quantile" -> { (s, dir) =>
      table(s, dir, "orders")
        .groupBy("o_orderpriority")
        .agg(percentile_approx(col("o_totalprice"),
          array(lit(0.25), lit(0.5), lit(0.75)), lit(10000)).as("qs"))
        .select(col("o_orderpriority"),
          round(element_at(col("qs"), 1), 2).as("p25"),
          round(element_at(col("qs"), 2), 2).as("p50"),
          round(element_at(col("qs"), 3), 2).as("p75"))
        .orderBy("o_orderpriority")
    },

    // HLL++ approximate distinct — no DuckDB oracle (approximate);
    // rows-only check, exactness asserted ±5% in scalatest.
    "agg_approx_distinct" -> { (s, dir) =>
      table(s, dir, "events")
        .groupBy("event_type")
        .agg(approx_count_distinct(col("user_id")).as("approx_users"))
        .orderBy("event_type")
    },

    // Top-k per group: top-3 orders per customer.
    "win_rank_topk" -> { (s, dir) =>
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      table(s, dir, "orders")
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .select("o_custkey", "rnk", "o_orderkey", "o_totalprice")
        .orderBy("o_custkey", "rnk")
    },

    // Ranking-function suite: rank / dense_rank / ntile / percent_rank /
    // cume_dist over one window (exact formulas, identical both engines).
    "win_rank_suite" -> { (s, dir) =>
      val w = Window.partitionBy("o_orderpriority")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      table(s, dir, "orders")
        .filter(col("o_custkey") % 100 === 0)
        .select(
          col("o_orderpriority"), col("o_orderkey"),
          rank().over(w).cast(IntegerType).as("rnk"),
          dense_rank().over(w).cast(IntegerType).as("drnk"),
          ntile(4).over(w).cast(IntegerType).as("quartile"),
          percent_rank().over(w).as("prank"),
          cume_dist().over(w).as("cdist"))
        .orderBy("o_orderpriority", "o_orderkey")
    },

    // Gaps-and-islands sessionization: 30-min inactivity gap per user,
    // session id = running count of session starts (lag + cumulative sum).
    "win_lag_sessionize" -> { (s, dir) =>
      val byUser = Window.partitionBy("user_id")
        .orderBy(col("us").asc, col("event_id").asc)
      val cum = byUser.rowsBetween(Window.unboundedPreceding, 0)
      table(s, dir, "events")
        .withColumn("us", unix_micros(col("ts")))
        .withColumn("prev_us", lag(col("us"), 1).over(byUser))
        .withColumn(
          "new_session",
          when(col("prev_us").isNull ||
            col("us") - col("prev_us") > 30L * 60 * 1000000, 1L)
            .otherwise(0L))
        .withColumn("session_id", sum(col("new_session")).over(cum))
        .select("event_id", "user_id", "us", "session_id")
        .orderBy("event_id")
    },

    // UNION / INTERSECT / EXCEPT (distinct set semantics), tagged.
    "setop_union" -> { (s, dir) =>
      val a = table(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey"))
      val b = table(s, dir, "orders")
        .filter(col("o_totalprice") > 300000.0)
        .select(col("o_custkey").as("c_custkey"))
      a.union(b).distinct().withColumn("op", lit("union"))
        .unionAll(a.intersect(b).withColumn("op", lit("intersect")))
        .unionAll(a.except(b).withColumn("op", lit("except")))
        .select("op", "c_custkey")
        .orderBy("op", "c_custkey")
    },

    // Multi-key sort (mixed direction) + limit, with unique tiebreak.
    "sort_multi_key" -> { (s, dir) =>
      table(s, dir, "lineitem")
        .orderBy(col("l_returnflag").desc, col("l_shipdate").asc,
          col("l_orderkey").asc, col("l_linenumber").asc)
        .limit(100)
        .select(
          col("l_returnflag"),
          date_format(col("l_shipdate"), "yyyy-MM-dd").as("ship_date"),
          col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
    },

    // SQL surface + correlated scalar subquery (Catalyst decorrelates
    // it into an aggregate + join): orders priced above 2x their
    // customer's average. Average runs over integer cents so both
    // engines divide the same exact sum.
    "sql_correlated_subquery" -> { (s, dir) =>
      table(s, dir, "orders").createOrReplaceTempView("orders_v")
      s.sql(
        """SELECT o_orderkey, o_custkey, o_totalprice FROM orders_v o
          |WHERE CAST(round(o_totalprice * 100) AS BIGINT) > 2 * (
          |  SELECT AVG(CAST(round(o2.o_totalprice * 100) AS BIGINT))
          |  FROM orders_v o2 WHERE o2.o_custkey = o.o_custkey)
          |ORDER BY o_orderkey""".stripMargin)
    },

    // FULL OUTER join: every customer and every event user, matched
    // where possible (null-extended otherwise).
    "join_outer_full" -> { (s, dir) =>
      val users = table(s, dir, "events")
        .groupBy(col("user_id")).agg(count(lit(1)).as("n_events"))
      table(s, dir, "customer")
        .join(users, col("c_custkey") === col("user_id"), "full_outer")
        .select(
          coalesce(col("c_custkey"), lit(-1L)).as("custkey"),
          coalesce(col("user_id"), lit(-1L)).as("user_id"),
          coalesce(col("c_mktsegment"), lit("none")).as("segment"),
          coalesce(col("n_events"), lit(0L)).as("n_events"))
        .orderBy("custkey", "user_id")
    },

    // Sliding-frame window: 4-row moving average of order totals per
    // customer (exact: integer cents, one final division).
    "win_moving_avg" -> { (s, dir) =>
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
        .rowsBetween(-3, 0)
      table(s, dir, "orders")
        .withColumn("cents", cents(col("o_totalprice")))
        .select(
          col("o_custkey"), col("o_orderkey"),
          (sum(col("cents")).over(w)
            / (count(lit(1)).over(w) * 100.0)).as("moving_avg"))
        .orderBy("o_custkey", "o_orderkey")
    },

    // Pivot: event counts per user pivoted to one column per type
    // (portable oracle via conditional aggregation).
    "agg_pivot" -> { (s, dir) =>
      val types = Seq("click", "error", "purchase", "signup", "view")
      table(s, dir, "events")
        .groupBy("user_id")
        .pivot("event_type", types)
        .agg(count(lit(1)))
        .na.fill(0L, types)
        .orderBy("user_id")
    },

    // Exact median over integer cents (percentile with linear
    // interpolation — both engines interpolate identically on exact
    // integer inputs).
    "agg_median" -> { (s, dir) =>
      table(s, dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
          (expr("percentile(CAST(round(o_totalprice * 100) AS BIGINT), 0.5)")
            / 100.0).as("median_price"),
          count(lit(1)).as("n"))
        .orderBy("o_orderpriority")
    },

    // Tumbling-window aggregate keyed by event_type — the batch-checkable
    // shape of a streaming 10-minute windowed groupBy (Spark's
    // `window` over a watermarked stream gives the same windows).
    "stream_tumbling" -> { (s, dir) =>
      table(s, dir, "events")
        .groupBy(window(col("ts"), "10 minutes").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          (sum(cents(col("value"))) / 100.0).as("sum_value"))
        .select(
          date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss")
            .as("window_start"),
          col("event_type"), col("n"), col("sum_value"))
        .orderBy("window_start", "event_type")
    },

    // Session-window aggregate (batch form of the streaming
    // session_window): per-user sessions closing after 30 min of
    // inactivity. The oracle reproduces Spark's extend-on-every-event
    // semantics with the classic gaps-and-islands rewrite (break when
    // lag(ts) is more than the gap behind, cumulative-sum session ids).
    "win_session_agg" -> { (s, dir) =>
      table(s, dir, "events")
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(count(lit(1)).as("n"),
          (sum(cents(col("value"))) / 100.0).as("sum_value"))
        .select(
          col("user_id"),
          date_format(col("session_window.start"), "yyyy-MM-dd HH:mm:ss")
            .as("session_start"),
          col("n"), col("sum_value"))
        .orderBy("user_id", "session_start")
    },

    // Sliding (hopping) window aggregate: 10-minute windows every 5
    // minutes — each event lands in exactly two overlapping windows.
    // The batch-checkable shape of a streaming hopping-window groupBy;
    // the oracle reproduces Spark's epoch-aligned window starts by
    // unnesting the two 5-minute buckets each event belongs to.
    "stream_sliding" -> { (s, dir) =>
      table(s, dir, "events")
        .groupBy(window(col("ts"), "10 minutes", "5 minutes").as("w"))
        .agg(count(lit(1)).as("n"),
          (sum(cents(col("value"))) / 100.0).as("sum_value"))
        .select(
          date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss")
            .as("window_start"),
          col("n"), col("sum_value"))
        .orderBy("window_start")
    },

    // JSON path extraction from a string column (get_json_object path;
    // src_http_json covers the schema'd from_json path).
    "json_extract" -> { (s, dir) =>
      table(s, dir, "events")
        .select(
          col("event_id"),
          get_json_object(col("props"), "$.k").cast(IntegerType).as("k"),
          length(col("props")).as("props_len"))
        .orderBy("event_id")
    },

    // Interval (range) join via time-bucket binning: all same-user
    // event pairs within IntervalJoinUs of each other. The naive
    // |a.ts − b.ts| ≤ w predicate is a per-user cartesian for a
    // relational planner; bucketing time into w-wide cells turns it
    // into an EQUI-join — one side joins at its own cell, the other is
    // emitted into its cell and the next, and a pair within w always
    // spans same-or-adjacent cells. Each qualifying pair survives in
    // EXACTLY one orientation (same cell → the id-ordered one;
    // adjacent cells → the one probing from the later cell), so no
    // distinct is needed; the exact |Δ| ≤ w filter then removes cell
    // false positives. Work ∝ Σ per-(user, cell) density² — never
    // user² — and the join shuffles on high-cardinality (user_id,
    // cell) keys with bounded per-key chains: the salted candidate
    // join keeps the layout stats-independent and broadcast-free
    // (both sides are corpus-sized at 100 TB).
    "join_interval" -> { (s, dir) =>
      val w = IntervalJoinUs
      val e = table(s, dir, "events")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("us"))
        .withColumn("cell", expr(s"us DIV $w"))
      val a = e.select(col("user_id"), col("cell"),
        col("event_id").as("x_id"), col("us").as("x_us"),
        col("cell").as("x_cell"))
      val b = e.select(col("user_id"),
        col("event_id").as("y_id"), col("us").as("y_us"),
        col("cell").as("y_cell"),
        explode(array(col("cell"), col("cell") + 1)).as("cell"))
      SkewJoin.saltedCandidateJoin(a, b, Seq("user_id", "cell"),
          leftSaltBy = col("x_id"))
        .filter(abs(col("x_us") - col("y_us")) <= w)
        .filter(col("x_cell") > col("y_cell")
          || (col("x_cell") === col("y_cell") && col("x_id") < col("y_id")))
        .select(
          least(col("x_id"), col("y_id")).as("a_id"),
          greatest(col("x_id"), col("y_id")).as("b_id"),
          abs(col("x_us") - col("y_us")).as("gap_us"))
        .orderBy("a_id", "b_id")
    },

    // ORDERED-STAGE funnel conversion (the product-analytics staple):
    // users reaching view → click-AFTER-view → purchase-AFTER-click,
    // in that temporal order — per stage, the count and the fraction
    // of all users. Strictly ordered semantics via cascaded
    // first-qualifying-timestamp aggregations (each stage joins the
    // previous stage's time and keeps events strictly after it) — no
    // window over whole event histories, no per-user sort; three
    // user-keyed aggs + tiny stage-count relations. At 100 TB each
    // stage shuffles the (shrinking) qualifying-user set on user_id.
    "agg_funnel_conversion" -> { (s, dir) =>
      val e = table(s, dir, "events")
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("us"))
      val v = e.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min(col("us")).as("t1"))
      val c = e.filter(col("event_type") === "click").join(v, "user_id")
        .filter(col("us") > col("t1"))
        .groupBy("user_id").agg(min(col("us")).as("t2"))
      val p = e.filter(col("event_type") === "purchase").join(c, "user_id")
        .filter(col("us") > col("t2"))
        .groupBy("user_id").agg(min(col("us")).as("t3"))
      val tot = e.select("user_id").distinct()
        .agg(count(lit(1)).as("n_all"))
      val stages =
        tot.select(lit("0_all").as("stage"), col("n_all").as("n_users"))
          .union(v.agg(count(lit(1)).as("n_users"))
            .select(lit("1_view").as("stage"), col("n_users")))
          .union(c.agg(count(lit(1)).as("n_users"))
            .select(lit("2_click").as("stage"), col("n_users")))
          .union(p.agg(count(lit(1)).as("n_users"))
            .select(lit("3_purchase").as("stage"), col("n_users")))
      stages.crossJoin(broadcast(tot))
        .select(col("stage"), col("n_users"),
          round(col("n_users").cast(DoubleType) / col("n_all"), 9)
            .as("pct_of_all"))
        .orderBy("stage")
    },

    // Longest consecutive-day activity streak per user — the classic
    // gaps-and-islands window idiom: distinct (user, epoch-day) grain,
    // then day − row_number() is CONSTANT exactly within a consecutive
    // run, so one groupBy on that derived key measures every streak;
    // a per-user rank keeps the longest (earliest-start tiebreak).
    // Integer day arithmetic end to end — the only date↔string hop is
    // the final formatted output. All shuffles are user-keyed; the
    // user-day grain is the corpus bound (≤ users × days rows).
    "win_streaks" -> { (s, dir) =>
      val byDay = Window.partitionBy("user_id").orderBy("d")
      val best = Window.partitionBy("user_id")
        .orderBy(col("len").desc, col("start_d").asc)
      table(s, dir, "events")
        .select(col("user_id"),
          datediff(to_date(col("ts")), lit("1970-01-01")).as("d"))
        .distinct()
        .withColumn("grp", col("d") - row_number().over(byDay))
        .groupBy("user_id", "grp")
        .agg(count(lit(1)).as("len"), min(col("d")).as("start_d"))
        .withColumn("rk", row_number().over(best))
        .filter(col("rk") === 1)
        .select(col("user_id"),
          col("len").cast(IntegerType).as("longest_streak"),
          date_format(
            expr("date_add(DATE '1970-01-01', CAST(start_d AS INT))"),
            "yyyy-MM-dd").as("streak_start"))
        .orderBy("user_id")
    },

    // Column profiling — the first pass every ingestion pipeline runs
    // on an unknown table: per column, null count, exact distinct
    // count, and min/max, as ONE tall (column, stats) relation. One
    // table scan: the multi-distinct agg plans as a single Expand
    // (rows × profiled columns) + two-phase hash agg — no per-column
    // re-scan, no driver loop. At 100 TB the same plan holds; a
    // deployment swaps count_distinct for approx_count_distinct (HLL)
    // to drop the Expand, trading exactness it no longer needs —
    // exact is kept here because exact is what the oracle can check.
    // Min/max render cross-engine-exactly: integers verbatim, the
    // 2-dp price via integer cents, timestamps via an explicit format
    // string (a raw double/timestamp cast is engine-dependent).
    "profile_table" -> { (s, dir) =>
      profileTableWith(s, dir, c => countDistinct(c))
    },

    // The corpus-scaled profile (documents): same single-scan stack as
    // profile_table, over the one table corpora grow in — see
    // [[profileDocsWith]] for the Expand-vs-HLL scale story.
    "profile_docs" -> { (s, dir) =>
      profileDocsWith(s, dir, c => countDistinct(c))
    },

    // Snapshot diff — the corpus-version reconciliation every dataset
    // release runs ("what changed between v1 and v2?"): full-outer
    // join on the key, content compared by md5 (identical hex in both
    // engines), one status row per added/removed/changed doc,
    // unchanged rows never emitted. The v2 snapshot is derived
    // IN-QUERY by a deterministic mutation (drop doc_id ≡ 0 mod 97,
    // append-edit ≡ 0 mod 31, re-add ≡ 0 mod 101 under shifted ids) —
    // the txt_pii_redact injection convention: the corpus ships only
    // one version, so the machinery must manufacture its fixture in
    // BOTH engines to be observable rather than vacuous. Scale shape:
    // map-side hashing + ONE key-keyed full-outer join — linear; at
    // 100 TB both sides prune by partition (a versioned lake diffs
    // only changed partitions) and the hash column is bytes, not
    // documents, through the shuffle.
    "table_diff" -> { (s, dir) =>
      val v1 = table(s, dir, "documents").select(col("doc_id"), col("text"))
      val v2 = v1.filter(col("doc_id") % 97 =!= 0)
        .withColumn("text",
          when(col("doc_id") % 31 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")))
        .unionByName(v1.filter(col("doc_id") % 101 === 0)
          // the re-add offset is a HIGH BIT (2^40), not a round number:
          // +1e6 would collide with real ids on a 10⁶+-doc corpus and
          // fan the full-outer join out on the duplicate key
          .select((col("doc_id") + (1L << 40)).as("doc_id"), col("text")))
      snapshotDiff(v1, v2)
    },

    // Activity-seasonality profile — the (event type × day-of-week ×
    // hour) matrix an ops dashboard renders and a capacity planner /
    // anomaly baseline consumes: exact counts per cell plus each
    // cell's share of its type (9-dp). Portable calendar arithmetic:
    // dow = (epoch_days + 4) mod 7 (0 = Sunday — Spark's dayofweek and
    // DuckDB's dow disagree on numbering; integer epoch math doesn't),
    // hour = in-day micros DIV 3600000000. FLOOR-division semantics
    // throughout (ADVICE round 8): both engines' integer division
    // truncates toward zero, so a raw `us DIV day` day index and a raw
    // `%`-remainder go negative for pre-1970 timestamps — the explicit
    // floor correction + pmod make dow ∈ [0,7) and hour ∈ [0,24) for
    // ANY epoch sign (asserted on pre-1970 literals in
    // ProfilingOpsSpec via [[seasonDowHour]]). One groupBy, output
    // bounded by types × 7 × 24 at any corpus size; the per-type
    // totals broadcast back for the share division.
    "agg_seasonality" -> { (s, dir) =>
      val (dowC, hourC) = seasonDowHour(col("us"))
      val ev = shared(table(s, dir, "events")
        .select(col("event_type"), unix_micros(col("ts")).as("us"))
        .withColumn("dow", dowC)
        .withColumn("hour", hourC))
      val totals = ev.groupBy("event_type").agg(count(lit(1)).as("n_type"))
      ev.groupBy("event_type", "dow", "hour")
        .agg(count(lit(1)).as("n"))
        .join(broadcast(totals), "event_type")
        .select(col("event_type"), col("dow"), col("hour"), col("n"),
          round(col("n").cast(DoubleType) / col("n_type"), 9).as("share"))
        .orderBy("event_type", "dow", "hour")
    },

    // Robust outlier screen — Tukey-fence (IQR) anomalies per event
    // type: the median/quartile twin of agg_zscore_outlier for the
    // heavy-tailed distributions where mean/stddev are themselves
    // dragged by the outliers being hunted. Quartiles via exact
    // percentile over INTEGER cents (the agg_median recipe — integer
    // inputs ⇒ identical interpolation both engines), fences at
    // q1 − 1.5·IQR / q3 + 1.5·IQR in identical double arithmetic.
    // Shape: one scan → tiny type-dim quartile agg → broadcast back →
    // map-side flag; no window over the corpus — the same linear
    // monitoring class as the z-score screen.
    "agg_iqr_outlier" -> { (s, dir) =>
      val vc = cents(col("value"))
      val st = table(s, dir, "events")
        .groupBy("event_type")
        .agg(
          expr("percentile(CAST(round(value * 100) AS BIGINT), 0.25)")
            .as("q1"),
          expr("percentile(CAST(round(value * 100) AS BIGINT), 0.75)")
            .as("q3"))
        .select(col("event_type"), col("q1"), col("q3"),
          (col("q1") - (col("q3") - col("q1")) * 1.5).as("lo"),
          (col("q3") + (col("q3") - col("q1")) * 1.5).as("hi"))
      table(s, dir, "events")
        .join(broadcast(st), "event_type")
        .filter(vc.cast(DoubleType) < col("lo")
          || vc.cast(DoubleType) > col("hi"))
        .select(col("event_id"), col("event_type"), col("value"),
          when(vc.cast(DoubleType) < col("lo"), "low").otherwise("high")
            .as("side"))
        .orderBy("event_id")
    },

    // Distribution-drift monitor — Population Stability Index per
    // event type between the first and second half of the time range
    // (the PSI every model-monitoring pipeline computes before
    // retraining; PSI < 0.1 stable, > 0.25 shifted). All decisions are
    // exact integers: the period boundary is (min+max) DIV 2 of epoch
    // micros, bin edges are per-type fixed-width integer-cents cells
    // ((max−min) DIV 10 + 1 wide, so bins always land in 0..9), counts
    // are add-1 smoothed over the OBSERVED bin domain (keeps every ln
    // finite; both engines smooth identically). The PSI fold runs over
    // the bin-SORTED struct list — identical IEEE addition order both
    // engines — one 9-dp round at the end. Shape: one events scan +
    // two type-bounded broadcast aggs + one (type, bin) agg: linear,
    // nothing corpus-wide ever sorts or windows.
    "agg_drift_psi" -> { (s, dir) =>
      val ev = shared(table(s, dir, "events")
        .select(col("event_type"), unix_micros(col("ts")).as("us"),
          cents(col("value")).as("vc")))
      val bound = ev.agg(min(col("us")).as("mn"), max(col("us")).as("mx"))
        .select(expr("(mn + mx) DIV 2").as("bus"))
      val edges = ev.groupBy("event_type")
        .agg(min(col("vc")).as("bmin"), max(col("vc")).as("bmax"))
        .select(col("event_type"), col("bmin"),
          expr("(bmax - bmin) DIV 10 + 1").as("w"))
      val bins = ev.join(broadcast(edges), "event_type")
        .crossJoin(broadcast(bound))
        .withColumn("bin", expr("CAST((vc - bmin) DIV w AS INT)"))
        .groupBy("event_type", "bin")
        .agg(sum(when(col("us") < col("bus"), 1L).otherwise(0L)).as("ca"),
          sum(when(col("us") >= col("bus"), 1L).otherwise(0L)).as("cb"))
      bins.groupBy("event_type")
        .agg(sum(col("ca")).as("n_a"), sum(col("cb")).as("n_b"),
          count(lit(1)).cast(IntegerType).as("n_bins"),
          sort_array(collect_list(
            struct(col("bin"), col("ca"), col("cb")))).as("bs"))
        .select(col("event_type"), col("n_a"), col("n_b"), col("n_bins"),
          round(aggregate(col("bs"), lit(0.0d), (acc, x) => {
            val pa = (x.getField("ca") + lit(1L)).cast(DoubleType) /
              (col("n_a") + col("n_bins")).cast(DoubleType)
            val pb = (x.getField("cb") + lit(1L)).cast(DoubleType) /
              (col("n_b") + col("n_bins")).cast(DoubleType)
            acc + (pa - pb) * log(pa / pb)
          }), 9).as("psi"))
        .orderBy("event_type")
    },

    // Skew-safe dimension join AS a contract query: the salted
    // equi-join utility (SkewJoin.saltedEquiJoin — replicate the small
    // side across salt replicas, scatter the big side by a
    // distribution-only salt) run against the events table's
    // low-cardinality event_type key, then aggregated. The oracle is
    // the PLAIN join: salting must never change results, only where
    // rows land — that identity, spec'd synthetically in SkewJoinSpec,
    // is here pinned against DuckDB on real data every round. At
    // 100 TB this is the manual fallback when one key floods a task
    // and AQE's skew split can't apply (e.g. the build side already
    // exchanged); the salt fans one hot key across `salt` tasks at the
    // cost of replicating the bounded dim.
    "join_skew_salted" -> { (s, dir) =>
      import s.implicits._
      val dim = Seq(("click", 1), ("view", 1), ("signup", 2),
        ("purchase", 3), ("error", 0)).toDF("etype", "severity")
      SkewJoin.saltedEquiJoin(table(s, dir, "events"), dim,
          "event_type", "etype", salt = 8)
        .groupBy("event_type", "severity")
        .agg(count(lit(1)).as("n_events"),
          (sum(cents(col("value"))) / 100.0).as("sum_value"))
        .orderBy("event_type")
    },

    // Anomaly flagging — population z-score per event type, events
    // beyond |z| >= 3 reported with their score: the outlier screen a
    // metrics pipeline runs before aggregation. Spark's stddev is
    // merge-order-dependent in doubles, so the moments come from the
    // agg_stats_moments recipe: exact integer cents summed in
    // decimal-38 (no overflow at 100 TB row counts), ONE deterministic
    // cast to double, identical closing IEEE arithmetic both engines.
    // Shape: one events scan -> tiny per-type stats agg -> broadcast
    // back -> map-side score + filter. Linear, one shuffle the size of
    // the type dimension, no window over the full table.
    "agg_zscore_outlier" -> { (s, dir) =>
      val d38 = DecimalType(38, 0)
      val vc = cents(col("value"))
      val st = table(s, dir, "events")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(vc.cast(d38)).as("sv"),
          sum((vc * vc).cast(d38)).as("svv"))
      val (n, sv, svv) = (col("n").cast(DoubleType),
        col("sv").cast(DoubleType), col("svv").cast(DoubleType))
      val stats = st.select(col("event_type"), (sv / n).as("mean_c"),
        ((svv - sv * sv / n) / n).as("var_c"))
      table(s, dir, "events")
        .join(broadcast(stats), "event_type")
        // z is computed in cents-space; the scale factor cancels
        .withColumn("z", when(col("var_c") > 0,
          (vc.cast(DoubleType) - col("mean_c")) / sqrt(col("var_c"))))
        .filter(abs(col("z")) >= 3.0)
        .select(col("event_id"), col("event_type"), col("value"),
          round(col("z"), 9).as("z"))
        .orderBy("event_id")
    })

  def oracleSql: Map[String, String] = Map(
    "join_hash_inner" ->
      """SELECT r_name, n_name, CAST(COUNT(*) AS BIGINT) AS n_orders,
        |       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
        |            AS BIGINT) / 100.0 AS revenue
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin,

    "join_semi_anti" ->
      """SELECT * FROM (
        |  SELECT c_custkey, 'has_orders' AS tag FROM customer
        |  WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |  UNION ALL
        |  SELECT c_custkey, 'no_orders' AS tag FROM customer
        |  WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |) ORDER BY c_custkey, tag""".stripMargin,

    "join_range_asof" ->
      """WITH p AS (SELECT event_id, user_id, epoch_us(ts) AS us
        |           FROM events WHERE event_type = 'purchase'),
        |     c AS (SELECT event_id, user_id, epoch_us(ts) AS us
        |           FROM events WHERE event_type = 'click'),
        |     j AS (SELECT p.event_id AS purchase_id, p.us AS purchase_us,
        |                  c.event_id AS click_id, c.us AS click_us,
        |                  ROW_NUMBER() OVER (PARTITION BY p.event_id
        |                    ORDER BY c.us DESC, c.event_id DESC) AS rn
        |           FROM p LEFT JOIN c
        |             ON p.user_id = c.user_id AND c.us <= p.us)
        |SELECT purchase_id, purchase_us, click_id, click_us
        |FROM j WHERE rn = 1 ORDER BY purchase_id""".stripMargin,

    // join formulation of the nearest-asof (the oracle may pay the
    // fanout the engine's window rewrite avoids): rank candidates by
    // (distance, direction, direction-signed id) — identical tiebreaks
    // to the window form
    "join_asof_nearest" ->
      s"""WITH p AS (SELECT event_id, user_id, epoch_us(ts) AS us
         |           FROM events WHERE event_type = 'purchase'),
         |     c AS (SELECT event_id, user_id, epoch_us(ts) AS us
         |           FROM events WHERE event_type = 'click'),
         |     j AS (SELECT p.event_id AS purchase_id,
         |                  c.event_id AS click_id, c.us AS c_us,
         |                  abs(p.us - c.us) AS dist,
         |                  CASE WHEN c.us <= p.us THEN 0 ELSE 1 END
         |                    AS dir,
         |                  ROW_NUMBER() OVER (PARTITION BY p.event_id
         |                    ORDER BY abs(p.us - c.us),
         |                      CASE WHEN c.us <= p.us THEN 0 ELSE 1 END,
         |                      CASE WHEN c.us <= p.us THEN -c.event_id
         |                           ELSE c.event_id END) AS rn
         |           FROM p JOIN c ON p.user_id = c.user_id
         |             AND abs(p.us - c.us) <= $AsofNearestTolUs)
         |SELECT p.event_id AS purchase_id, p.us AS purchase_us,
         |       j.click_id, j.c_us AS click_us,
         |       CASE j.dir WHEN 0 THEN 'back' WHEN 1 THEN 'fwd' END
         |         AS direction,
         |       j.dist AS delta_us
         |FROM p LEFT JOIN (SELECT * FROM j WHERE rn = 1) j
         |  ON p.event_id = j.purchase_id
         |ORDER BY purchase_id""".stripMargin,

    "agg_group_multi" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(round(l_quantity*100) AS BIGINT)) AS BIGINT)
        |    / 100.0 AS sum_qty,
        |  CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT)
        |    / 100.0 AS sum_base_price,
        |  CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT)
        |    * (100 - CAST(round(l_discount*100) AS BIGINT))) AS BIGINT)
        |    / 10000.0 AS sum_disc_price,
        |  CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT)
        |    * (100 - CAST(round(l_discount*100) AS BIGINT))
        |    * (100 + CAST(round(l_tax*100) AS BIGINT))) AS BIGINT)
        |    / 1000000.0 AS sum_charge,
        |  CAST(COUNT(*) AS BIGINT) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "agg_distinct" ->
      """SELECT l_returnflag,
        |       CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_parts,
        |       CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS n_supps,
        |       CAST(COUNT(*) AS BIGINT) AS n_rows
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "agg_rollup_cube" ->
      """SELECT COALESCE(l_returnflag, '(all)') AS flag,
        |       COALESCE(l_linestatus, '(all)') AS status,
        |       CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(SUM(CAST(round(l_quantity*100) AS BIGINT)) AS BIGINT)
        |         / 100.0 AS sum_qty
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY flag, status""".stripMargin,

    // agg_approx_distinct: intentionally no oracle (approximate;
    // SURVEY.md §2-B / §7.3e) — driver records rows-only check.

    "win_rank_topk" ->
      """SELECT o_custkey, rnk, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |         CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey
        |           ORDER BY o_totalprice DESC, o_orderkey ASC) AS INTEGER)
        |           AS rnk
        |  FROM orders)
        |WHERE rnk <= 3 ORDER BY o_custkey, rnk""".stripMargin,

    "sort_paginate" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC
        |LIMIT 20 OFFSET 100""".stripMargin,

    "map_suite" ->
      """SELECT event_id,
        |       m['type'][1] AS typ,
        |       m['k'][1] AS k_str,
        |       CAST(cardinality(m) AS INTEGER) AS n_entries,
        |       array_to_string(map_keys(m), ',') AS keys
        |FROM (SELECT event_id,
        |        map(['type', 'k'],
        |            [event_type, json_extract_string(props, '$.k')]) AS m
        |      FROM events)
        |ORDER BY event_id""".stripMargin,

    "unpivot_stack" ->
      """SELECT l_orderkey, l_linenumber, measure, value FROM (
        |  SELECT l_orderkey, l_linenumber, 'discount' AS measure,
        |         l_discount AS value FROM lineitem
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 'extendedprice', l_extendedprice
        |  FROM lineitem
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 'quantity', l_quantity
        |  FROM lineitem)
        |WHERE l_orderkey % 1000 = 0
        |ORDER BY l_orderkey, l_linenumber, measure""".stripMargin,

    "agg_collect_sorted" ->
      """SELECT l_returnflag,
        |       array_to_string(list_sort(list(DISTINCT l_linestatus)), ',')
        |         AS statuses,
        |       array_to_string(list_sort(list(DISTINCT l_suppkey)), ',')
        |         AS suppliers
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "join_cross" ->
      """SELECT r1.r_regionkey AS a, r2.r_regionkey AS b,
        |       r1.r_name || '-' || r2.r_name AS pair
        |FROM region r1 CROSS JOIN region r2
        |ORDER BY a, b""".stripMargin,

    "win_first_last" ->
      """SELECT o_custkey, o_orderkey,
        |       first_value(o_totalprice) OVER w AS first_price,
        |       last_value(o_totalprice) OVER w AS last_price,
        |       nth_value(o_totalprice, 2) OVER w AS second_price
        |FROM orders WHERE o_custkey % 200 = 0
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey ASC
        |             ROWS BETWEEN UNBOUNDED PRECEDING
        |               AND UNBOUNDED FOLLOWING)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    "win_share_of_total" ->
      """WITH g AS (
        |  SELECT r_name, n_name,
        |         SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS rev_cents
        |  FROM orders
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  GROUP BY r_name, n_name)
        |SELECT r_name, n_name,
        |       CAST(rev_cents AS BIGINT) / 100.0 AS revenue,
        |       CAST(rev_cents AS DOUBLE)
        |         / CAST(SUM(rev_cents) OVER (PARTITION BY r_name) AS DOUBLE)
        |         AS share
        |FROM g ORDER BY r_name, n_name""".stripMargin,

    "win_retention_cohort" ->
      """WITH e AS (
        |  SELECT user_id,
        |         CAST((CAST(ts AS DATE) - DATE '1970-01-01') // 7 AS INTEGER)
        |           AS wk
        |  FROM events),
        |c AS (SELECT *, min(wk) OVER (PARTITION BY user_id) AS cohort_wk
        |      FROM e)
        |SELECT cohort_wk, wk,
        |       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
        |       CAST(COUNT(*) AS BIGINT) AS n_events
        |FROM c GROUP BY cohort_wk, wk
        |ORDER BY cohort_wk, wk""".stripMargin,

    "agg_stats_moments" ->
      """WITH g AS (
        |  SELECT l_returnflag,
        |         CAST(COUNT(*) AS BIGINT) AS n,
        |         SUM(CAST(round(l_quantity * 100) AS BIGINT)) AS sq,
        |         SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS sp,
        |         SUM(CAST(round(l_quantity * 100) AS BIGINT)
        |             * CAST(round(l_quantity * 100) AS BIGINT)) AS sqq,
        |         SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
        |             * CAST(round(l_extendedprice * 100) AS BIGINT)) AS spp,
        |         SUM(CAST(round(l_quantity * 100) AS BIGINT)
        |             * CAST(round(l_extendedprice * 100) AS BIGINT)) AS sqp
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, n,
        |       CAST(sq AS DOUBLE) / CAST(n AS DOUBLE) / 100.0 AS mean_qty,
        |       ((CAST(sqq AS DOUBLE)
        |         - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE) / CAST(n AS DOUBLE))
        |        / CAST(n AS DOUBLE)) / 10000.0 AS var_qty,
        |       CAST(sp AS DOUBLE) / CAST(n AS DOUBLE) / 100.0 AS mean_price,
        |       ((CAST(spp AS DOUBLE)
        |         - CAST(sp AS DOUBLE) * CAST(sp AS DOUBLE) / CAST(n AS DOUBLE))
        |        / CAST(n AS DOUBLE)) / 10000.0 AS var_price,
        |       CASE WHEN
        |           ((CAST(sqq AS DOUBLE)
        |             - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE)
        |               / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE))
        |         * ((CAST(spp AS DOUBLE)
        |             - CAST(sp AS DOUBLE) * CAST(sp AS DOUBLE)
        |               / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE)) > 0
        |       THEN
        |         ((CAST(sqp AS DOUBLE)
        |           - CAST(sq AS DOUBLE) * CAST(sp AS DOUBLE)
        |             / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE))
        |         / sqrt(
        |             ((CAST(sqq AS DOUBLE)
        |               - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE)
        |                 / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE))
        |           * ((CAST(spp AS DOUBLE)
        |               - CAST(sp AS DOUBLE) * CAST(sp AS DOUBLE)
        |                 / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE)))
        |       ELSE NULL END AS corr_qty_price
        |FROM g ORDER BY l_returnflag""".stripMargin,

    "agg_hist_bins" ->
      """SELECT least((CAST(round(l_quantity * 100) AS BIGINT) - 100) // 500,
        |             9) AS bin,
        |       CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(SUM(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT)
        |         / 100.0 AS sum_qty
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,

    "math_suite" ->
      """SELECT l_orderkey, l_linenumber,
        |       abs(l_quantity - 25) AS abs_dev,
        |       CAST(sign(l_discount - 0.05) AS DOUBLE) AS sign_disc,
        |       CAST(l_linenumber % 3 AS INTEGER) AS mod3,
        |       CAST(ceil(l_quantity / 7.0) AS BIGINT) AS ceil7,
        |       CAST(floor(l_quantity / 7.0) AS BIGINT) AS floor7,
        |       round(sqrt(l_quantity), 9) AS sqrt_qty,
        |       round(exp(l_discount), 9) AS exp_disc,
        |       round(ln(l_quantity + 1.0), 9) AS ln_qty
        |FROM lineitem WHERE l_orderkey % 1000 = 0
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "regex_extract" ->
      """SELECT event_id,
        |       regexp_extract(props, '([0-9]+)', 1) AS digits,
        |       regexp_replace(props, '[0-9]', '#', 'g') AS masked,
        |       regexp_matches(props, '[0-9][0-9]') AS has_2digits
        |FROM events ORDER BY event_id""".stripMargin,

    "union_by_name" ->
      """SELECT kind, id, name, COALESCE(balance, -1.0) AS balance FROM (
        |  SELECT 'customer' AS kind, c_custkey AS id, c_name AS name,
        |         c_acctbal AS balance FROM customer
        |  UNION ALL
        |  SELECT 'supplier', s_suppkey, s_name, NULL FROM supplier)
        |ORDER BY kind, id""".stripMargin,

    "date_arith" ->
      """SELECT event_id,
        |       strftime(ts + INTERVAL 10 MINUTE, '%Y-%m-%d %H:%M:%S')
        |         AS plus_10m,
        |       strftime(ts - INTERVAL 1 DAY, '%Y-%m-%d %H:%M:%S')
        |         AS minus_1d,
        |       strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
        |         AS hour_start
        |FROM events ORDER BY event_id""".stripMargin,

    "agg_conditional" ->
      """SELECT l_returnflag,
        |       CAST(COUNT(*) FILTER (l_quantity > 25) AS BIGINT) AS n_bulk,
        |       bool_or(l_discount > 0.05) AS any_deep_discount,
        |       bool_and(l_tax >= 0.0) AS all_taxed,
        |       CAST(SUM(CASE WHEN l_discount = 0.0
        |           THEN CAST(round(l_extendedprice * 100) AS BIGINT)
        |           ELSE 0 END) AS BIGINT) / 100.0 AS full_price_revenue
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "agg_typed_custom" ->
      """SELECT event_type,
        |       min(value) AS min_v, max(value) AS max_v,
        |       CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |         / 100.0 AS total
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "agg_grouping_sets" ->
      """SELECT COALESCE(l_returnflag, '(all)') AS flag,
        |       COALESCE(l_linestatus, '(all)') AS status,
        |       CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(SUM(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT)
        |         / 100.0 AS sum_qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY flag, status""".stripMargin,

    "null_semantics" ->
      """SELECT event_id,
        |       nullif(value, 0.0) AS value_or_null,
        |       ifnull(nullif(value, 0.0), -1.0) AS filled,
        |       CASE WHEN nullif(value, 0.0) IS NOT NULL
        |            THEN 'has' ELSE 'zero' END AS tag,
        |       COALESCE(nullif(event_type, 'error'), 'degraded') AS kind
        |FROM events ORDER BY event_id""".stripMargin,

    "array_suite" ->
      """SELECT doc_id,
        |       array_to_string(list_sort(string_split(lower(text), ' '))[1:5],
        |                       ',') AS first5_sorted,
        |       CAST(len(list_distinct(string_split(lower(text), ' ')))
        |         AS INTEGER) AS n_distinct,
        |       CAST(len(string_split(lower(text), ' ')) AS INTEGER)
        |         AS n_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,

    "explode_outer_keep" ->
      """WITH d AS (
        |  SELECT doc_id,
        |         CASE WHEN doc_id % 50 = 0 THEN CAST([] AS VARCHAR[])
        |              ELSE string_split(lower(text), ' ')[1:3] END AS l
        |  FROM documents),
        |x AS (SELECT doc_id,
        |        unnest(CASE WHEN len(l) = 0 THEN [NULL] ELSE l END) AS tok,
        |        generate_subscripts(
        |          CASE WHEN len(l) = 0 THEN [NULL] ELSE l END, 1) AS p
        |      FROM d)
        |SELECT doc_id,
        |       CAST(CASE WHEN tok IS NULL THEN NULL ELSE p END AS INTEGER)
        |         AS pos,
        |       tok
        |FROM x ORDER BY doc_id ASC, pos ASC NULLS FIRST""".stripMargin,

    "win_rank_suite" ->
      """SELECT o_orderpriority, o_orderkey,
        |  CAST(RANK() OVER w AS INTEGER) AS rnk,
        |  CAST(DENSE_RANK() OVER w AS INTEGER) AS drnk,
        |  CAST(NTILE(4) OVER w AS INTEGER) AS quartile,
        |  PERCENT_RANK() OVER w AS prank,
        |  CUME_DIST() OVER w AS cdist
        |FROM orders WHERE o_custkey % 100 = 0
        |WINDOW w AS (PARTITION BY o_orderpriority
        |             ORDER BY o_totalprice DESC, o_orderkey ASC)
        |ORDER BY o_orderpriority, o_orderkey""".stripMargin,

    "win_lag_sessionize" ->
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS us FROM events),
        |     l AS (SELECT *, lag(us) OVER
        |             (PARTITION BY user_id ORDER BY us, event_id) AS prev_us
        |           FROM e),
        |     f AS (SELECT *, CASE WHEN prev_us IS NULL
        |                       OR us - prev_us > 1800000000
        |                     THEN 1 ELSE 0 END AS new_session FROM l)
        |SELECT event_id, user_id, us,
        |       CAST(SUM(new_session) OVER (PARTITION BY user_id
        |         ORDER BY us, event_id
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |         AS BIGINT) AS session_id
        |FROM f ORDER BY event_id""".stripMargin,

    "setop_union" ->
      """WITH a AS (SELECT c_custkey FROM customer
        |           WHERE c_mktsegment = 'BUILDING'),
        |     b AS (SELECT o_custkey AS c_custkey FROM orders
        |           WHERE o_totalprice > 300000.0)
        |SELECT 'union' AS op, c_custkey
        |  FROM (SELECT c_custkey FROM a UNION SELECT c_custkey FROM b)
        |UNION ALL
        |SELECT 'intersect', c_custkey
        |  FROM (SELECT c_custkey FROM a INTERSECT SELECT c_custkey FROM b)
        |UNION ALL
        |SELECT 'except', c_custkey
        |  FROM (SELECT c_custkey FROM a EXCEPT SELECT c_custkey FROM b)
        |ORDER BY op, c_custkey""".stripMargin,

    "sort_multi_key" ->
      """SELECT l_returnflag, strftime(l_shipdate, '%Y-%m-%d') AS ship_date,
        |       l_orderkey, l_linenumber, l_quantity
        |FROM lineitem
        |ORDER BY l_returnflag DESC, l_shipdate ASC, l_orderkey ASC,
        |         l_linenumber ASC
        |LIMIT 100""".stripMargin,

    "sql_correlated_subquery" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders o
        |WHERE CAST(round(o_totalprice * 100) AS BIGINT) > 2 * (
        |  SELECT AVG(CAST(round(o2.o_totalprice * 100) AS BIGINT))
        |  FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
        |ORDER BY o_orderkey""".stripMargin,

    "join_outer_full" ->
      """SELECT COALESCE(c_custkey, -1) AS custkey,
        |       COALESCE(user_id, -1) AS user_id,
        |       COALESCE(c_mktsegment, 'none') AS segment,
        |       COALESCE(n_events, 0) AS n_events
        |FROM customer
        |FULL OUTER JOIN (SELECT user_id, CAST(COUNT(*) AS BIGINT)
        |                   AS n_events FROM events GROUP BY user_id) u
        |  ON c_custkey = user_id
        |ORDER BY custkey, user_id""".stripMargin,

    "win_moving_avg" ->
      """SELECT o_custkey, o_orderkey,
        |       CAST(SUM(cents) OVER w AS BIGINT)
        |         / (COUNT(*) OVER w * 100.0) AS moving_avg
        |FROM (SELECT o_custkey, o_orderkey, o_orderdate,
        |        CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |      FROM orders)
        |WINDOW w AS (PARTITION BY o_custkey
        |             ORDER BY o_orderdate ASC, o_orderkey ASC
        |             ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    "agg_pivot" ->
      """SELECT user_id,
        |  CAST(COUNT(*) FILTER (event_type = 'click') AS BIGINT) AS click,
        |  CAST(COUNT(*) FILTER (event_type = 'error') AS BIGINT) AS error,
        |  CAST(COUNT(*) FILTER (event_type = 'purchase') AS BIGINT) AS purchase,
        |  CAST(COUNT(*) FILTER (event_type = 'signup') AS BIGINT) AS signup,
        |  CAST(COUNT(*) FILTER (event_type = 'view') AS BIGINT) AS "view"
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    "agg_median" ->
      """SELECT o_orderpriority,
        |       quantile_cont(CAST(round(o_totalprice * 100) AS BIGINT), 0.5)
        |         / 100.0 AS median_price,
        |       CAST(COUNT(*) AS BIGINT) AS n
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "stream_tumbling" ->
      """SELECT strftime(time_bucket(INTERVAL '10 minutes', ts),
        |                '%Y-%m-%d %H:%M:%S') AS window_start,
        |       event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |         / 100.0 AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "win_session_agg" ->
      """WITH e AS (
        |  SELECT user_id, event_id, ts, value,
        |         CASE WHEN lag(ts) OVER w IS NULL
        |                OR ts - lag(ts) OVER w > INTERVAL '30 minutes'
        |              THEN 1 ELSE 0 END AS brk
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |g AS (
        |  SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM e)
        |SELECT user_id,
        |       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
        |       CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |         / 100.0 AS sum_value
        |FROM g GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin,

    "stream_sliding" ->
      """SELECT strftime(wstart, '%Y-%m-%d %H:%M:%S') AS window_start,
        |       CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |         / 100.0 AS sum_value
        |FROM (SELECT unnest([
        |        time_bucket(INTERVAL '5 minutes', ts),
        |        time_bucket(INTERVAL '5 minutes', ts) - INTERVAL '5 minutes'
        |      ]) AS wstart, value
        |      FROM events)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "json_extract" ->
      """SELECT event_id,
        |       CAST(json_extract_string(props, '$.k') AS INTEGER) AS k,
        |       CAST(length(props) AS INTEGER) AS props_len
        |FROM events ORDER BY event_id""".stripMargin,

    // the all-pairs inequality formulation the binned equi-join is
    // proven identical to (also asserted on-corpus in RangeJoinSpec)
    "join_interval" ->
      s"""SELECT a.event_id AS a_id, b.event_id AS b_id,
         |       abs(epoch_us(a.ts) - epoch_us(b.ts)) AS gap_us
         |FROM events a JOIN events b
         |  ON a.user_id = b.user_id AND a.event_id < b.event_id
         | AND abs(epoch_us(a.ts) - epoch_us(b.ts)) <= $IntervalJoinUs
         |ORDER BY a_id, b_id""".stripMargin,

    "agg_funnel_conversion" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us
        |           FROM events),
        |v AS (SELECT user_id, MIN(us) AS t1 FROM e
        |      WHERE event_type = 'view' GROUP BY 1),
        |c AS (SELECT e.user_id, MIN(us) AS t2 FROM e JOIN v USING (user_id)
        |      WHERE event_type = 'click' AND us > t1 GROUP BY 1),
        |p AS (SELECT e.user_id, MIN(us) AS t3 FROM e JOIN c USING (user_id)
        |      WHERE event_type = 'purchase' AND us > t2 GROUP BY 1),
        |tot AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_all
        |        FROM e),
        |st AS (
        |  SELECT '0_all' AS stage, n_all AS n_users FROM tot
        |  UNION ALL SELECT '1_view', CAST(COUNT(*) AS BIGINT) FROM v
        |  UNION ALL SELECT '2_click', CAST(COUNT(*) AS BIGINT) FROM c
        |  UNION ALL SELECT '3_purchase', CAST(COUNT(*) AS BIGINT) FROM p)
        |SELECT stage, n_users,
        |       round(CAST(n_users AS DOUBLE) / n_all, 9) AS pct_of_all
        |FROM st CROSS JOIN tot ORDER BY stage""".stripMargin,

    "win_streaks" ->
      """WITH days AS (
        |  SELECT DISTINCT user_id,
        |         CAST(ts AS DATE) - DATE '1970-01-01' AS d
        |  FROM events),
        |runs AS (
        |  SELECT user_id, d,
        |         d - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d)
        |           AS grp
        |  FROM days),
        |agg AS (
        |  SELECT user_id, grp, CAST(COUNT(*) AS INTEGER) AS len,
        |         MIN(d) AS start_d
        |  FROM runs GROUP BY 1, 2)
        |SELECT user_id, len AS longest_streak,
        |       strftime(DATE '1970-01-01'
        |         + CAST(start_d AS INTEGER), '%Y-%m-%d') AS streak_start
        |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
        |        ORDER BY len DESC, start_d ASC) AS rk FROM agg)
        |WHERE rk = 1 ORDER BY user_id""".stripMargin,

    "profile_table" ->
      """WITH t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows FROM orders),
        |p AS (
        |  SELECT 'o_orderkey' AS col_name,
        |         CAST(COUNT(*) - COUNT(o_orderkey) AS BIGINT) AS n_nulls,
        |         CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_distinct,
        |         CAST(MIN(o_orderkey) AS VARCHAR) AS min_v,
        |         CAST(MAX(o_orderkey) AS VARCHAR) AS max_v
        |  FROM orders
        |  UNION ALL
        |  SELECT 'o_custkey',
        |         CAST(COUNT(*) - COUNT(o_custkey) AS BIGINT),
        |         CAST(COUNT(DISTINCT o_custkey) AS BIGINT),
        |         CAST(MIN(o_custkey) AS VARCHAR),
        |         CAST(MAX(o_custkey) AS VARCHAR)
        |  FROM orders
        |  UNION ALL
        |  SELECT 'o_orderstatus',
        |         CAST(COUNT(*) - COUNT(o_orderstatus) AS BIGINT),
        |         CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT),
        |         MIN(o_orderstatus), MAX(o_orderstatus)
        |  FROM orders
        |  UNION ALL
        |  SELECT 'o_orderpriority',
        |         CAST(COUNT(*) - COUNT(o_orderpriority) AS BIGINT),
        |         CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT),
        |         MIN(o_orderpriority), MAX(o_orderpriority)
        |  FROM orders
        |  UNION ALL
        |  SELECT 'o_totalprice_cents',
        |         CAST(COUNT(*) - COUNT(o_totalprice) AS BIGINT),
        |         CAST(COUNT(DISTINCT CAST(round(o_totalprice * 100)
        |           AS BIGINT)) AS BIGINT),
        |         CAST(MIN(CAST(round(o_totalprice * 100) AS BIGINT))
        |           AS VARCHAR),
        |         CAST(MAX(CAST(round(o_totalprice * 100) AS BIGINT))
        |           AS VARCHAR)
        |  FROM orders
        |  UNION ALL
        |  SELECT 'o_orderdate',
        |         CAST(COUNT(*) - COUNT(o_orderdate) AS BIGINT),
        |         CAST(COUNT(DISTINCT o_orderdate) AS BIGINT),
        |         strftime(MIN(o_orderdate), '%Y-%m-%d %H:%M:%S'),
        |         strftime(MAX(o_orderdate), '%Y-%m-%d %H:%M:%S')
        |  FROM orders)
        |SELECT col_name, n_rows, n_nulls, n_distinct, min_v, max_v
        |FROM p, t ORDER BY col_name""".stripMargin,

    "table_diff" ->
      """WITH v1 AS (SELECT doc_id, text FROM documents),
        |v2 AS (
        |  SELECT doc_id,
        |         CASE WHEN doc_id % 31 = 0 THEN text || ' v2'
        |              ELSE text END AS text
        |  FROM v1 WHERE doc_id % 97 <> 0
        |  UNION ALL
        |  SELECT doc_id + 1099511627776 AS doc_id, text
        |  FROM v1 WHERE doc_id % 101 = 0),
        |d AS (SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
        |        CASE WHEN a.doc_id IS NULL THEN 'added'
        |             WHEN b.doc_id IS NULL THEN 'removed'
        |             WHEN md5(a.text) <> md5(b.text) THEN 'changed'
        |        END AS status
        |      FROM v1 a FULL OUTER JOIN v2 b ON a.doc_id = b.doc_id)
        |SELECT doc_id, status FROM d WHERE status IS NOT NULL
        |ORDER BY doc_id""".stripMargin,

    "profile_docs" ->
      """WITH t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows
        |           FROM documents),
        |p AS (
        |  SELECT 'doc_id' AS col_name,
        |         CAST(COUNT(*) - COUNT(doc_id) AS BIGINT) AS n_nulls,
        |         CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_distinct,
        |         CAST(MIN(doc_id) AS VARCHAR) AS min_v,
        |         CAST(MAX(doc_id) AS VARCHAR) AS max_v
        |  FROM documents
        |  UNION ALL
        |  SELECT 'lang', CAST(COUNT(*) - COUNT(lang) AS BIGINT),
        |         CAST(COUNT(DISTINCT lang) AS BIGINT),
        |         MIN(lang), MAX(lang)
        |  FROM documents
        |  UNION ALL
        |  SELECT 'n_chars', CAST(COUNT(*) - COUNT(n_chars) AS BIGINT),
        |         CAST(COUNT(DISTINCT n_chars) AS BIGINT),
        |         CAST(MIN(n_chars) AS VARCHAR),
        |         CAST(MAX(n_chars) AS VARCHAR)
        |  FROM documents
        |  UNION ALL
        |  SELECT 'source', CAST(COUNT(*) - COUNT(source) AS BIGINT),
        |         CAST(COUNT(DISTINCT source) AS BIGINT),
        |         MIN(source), MAX(source)
        |  FROM documents
        |  UNION ALL
        |  SELECT 'text', CAST(COUNT(*) - COUNT(text) AS BIGINT),
        |         CAST(COUNT(DISTINCT text) AS BIGINT),
        |         MIN(text), MAX(text)
        |  FROM documents)
        |SELECT col_name, n_rows, n_nulls, n_distinct, min_v, max_v
        |FROM p, t ORDER BY col_name""".stripMargin,

    "agg_seasonality" ->
      """WITH us0 AS (SELECT event_type, epoch_us(ts) AS us FROM events),
        |ev AS (
        |  SELECT event_type,
        |         CAST(((((us // 86400000000
        |             - CASE WHEN us % 86400000000 < 0 THEN 1 ELSE 0 END)
        |           + 4) % 7) + 7) % 7 AS INTEGER) AS dow,
        |         CAST(((us % 86400000000 + 86400000000) % 86400000000)
        |           // 3600000000 AS INTEGER) AS hour
        |  FROM us0),
        |t AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_type
        |      FROM ev GROUP BY 1)
        |SELECT ev.event_type, dow, hour, CAST(COUNT(*) AS BIGINT) AS n,
        |       round(CAST(COUNT(*) AS DOUBLE) / any_value(n_type), 9)
        |         AS share
        |FROM ev JOIN t USING (event_type)
        |GROUP BY 1, 2, 3
        |ORDER BY event_type, dow, hour""".stripMargin,

    "agg_iqr_outlier" ->
      """WITH st AS (
        |  SELECT event_type,
        |         quantile_cont(CAST(round(value * 100) AS BIGINT), 0.25)
        |           AS q1,
        |         quantile_cont(CAST(round(value * 100) AS BIGINT), 0.75)
        |           AS q3
        |  FROM events GROUP BY 1),
        |f AS (SELECT event_type, q1, q3,
        |        q1 - (q3 - q1) * 1.5 AS lo,
        |        q3 + (q3 - q1) * 1.5 AS hi
        |      FROM st)
        |SELECT e.event_id, e.event_type, e.value,
        |       CASE WHEN CAST(CAST(round(e.value * 100) AS BIGINT)
        |           AS DOUBLE) < f.lo THEN 'low' ELSE 'high' END AS side
        |FROM events e JOIN f USING (event_type)
        |WHERE CAST(CAST(round(e.value * 100) AS BIGINT) AS DOUBLE) < f.lo
        |   OR CAST(CAST(round(e.value * 100) AS BIGINT) AS DOUBLE) > f.hi
        |ORDER BY event_id""".stripMargin,

    "agg_drift_psi" ->
      """WITH ev AS (
        |  SELECT event_type, epoch_us(ts) AS us,
        |         CAST(round(value * 100) AS BIGINT) AS vc
        |  FROM events),
        |bd AS (SELECT (MIN(us) + MAX(us)) // 2 AS bus FROM ev),
        |ed AS (SELECT event_type, MIN(vc) AS bmin,
        |              (MAX(vc) - MIN(vc)) // 10 + 1 AS w
        |       FROM ev GROUP BY 1),
        |bins AS (
        |  SELECT ev.event_type, CAST((vc - bmin) // w AS INTEGER) AS bin,
        |         CAST(SUM(CASE WHEN us < bus THEN 1 ELSE 0 END)
        |           AS BIGINT) AS ca,
        |         CAST(SUM(CASE WHEN us >= bus THEN 1 ELSE 0 END)
        |           AS BIGINT) AS cb
        |  FROM ev JOIN ed USING (event_type) CROSS JOIN bd
        |  GROUP BY 1, 2),
        |ty AS (
        |  SELECT event_type, CAST(SUM(ca) AS BIGINT) AS n_a,
        |         CAST(SUM(cb) AS BIGINT) AS n_b,
        |         CAST(COUNT(*) AS INTEGER) AS n_bins,
        |         list(struct_pack(bin := bin, ca := ca, cb := cb)
        |           ORDER BY bin) AS bs
        |  FROM bins GROUP BY 1)
        |SELECT event_type, n_a, n_b, n_bins,
        |       round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |           list_transform(bs, x ->
        |             (CAST(x.ca + 1 AS DOUBLE) / CAST(n_a + n_bins AS DOUBLE)
        |              - CAST(x.cb + 1 AS DOUBLE)
        |                / CAST(n_b + n_bins AS DOUBLE))
        |             * ln((CAST(x.ca + 1 AS DOUBLE)
        |                   / CAST(n_a + n_bins AS DOUBLE))
        |                  / (CAST(x.cb + 1 AS DOUBLE)
        |                     / CAST(n_b + n_bins AS DOUBLE))))),
        |         (a, b) -> a + b), 9) AS psi
        |FROM ty ORDER BY event_type""".stripMargin,

    "join_skew_salted" ->
      """WITH dim(etype, severity) AS (VALUES ('click', 1), ('view', 1),
        |  ('signup', 2), ('purchase', 3), ('error', 0))
        |SELECT event_type, severity, CAST(COUNT(*) AS BIGINT) AS n_events,
        |       CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |         / 100.0 AS sum_value
        |FROM events JOIN dim ON event_type = etype
        |GROUP BY 1, 2 ORDER BY event_type""".stripMargin,

    "agg_zscore_outlier" ->
      """WITH st AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |         SUM(CAST(round(value * 100) AS BIGINT)) AS sv,
        |         SUM(CAST(round(value * 100) AS BIGINT)
        |             * CAST(round(value * 100) AS BIGINT)) AS svv
        |  FROM events GROUP BY 1),
        |ms AS (
        |  SELECT event_type,
        |         CAST(sv AS DOUBLE) / CAST(n AS DOUBLE) AS mean_c,
        |         (CAST(svv AS DOUBLE)
        |          - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE)
        |            / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE) AS var_c
        |  FROM st),
        |z AS (
        |  SELECT e.event_id, e.event_type, e.value,
        |         CASE WHEN m.var_c > 0 THEN
        |           (CAST(CAST(round(e.value * 100) AS BIGINT) AS DOUBLE)
        |            - m.mean_c) / sqrt(m.var_c) END AS z
        |  FROM events e JOIN ms m USING (event_type))
        |SELECT event_id, event_type, value, round(z, 9) AS z
        |FROM z WHERE abs(z) >= 3.0 ORDER BY event_id""".stripMargin)
}
