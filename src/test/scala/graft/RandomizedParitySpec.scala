package graft

import graft.operators.DedupOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The theorem-based plan rewrites (prefix filtering, banded SimHash)
  * must hold on ANY corpus, not just the driver testdata. Three seeded
  * synthetic corpora stress the edge cases the real corpus doesn't:
  * singleton-token docs, exact duplicates, disjoint docs, skewed token
  * frequencies. Adversarial corpora (empty, one document, identical,
  * null and empty texts, unicode, a hub token) hold the df-skew
  * routers' branches to one answer and their statistic to its SQL
  * form. */
class RandomizedParitySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** Deterministic pseudo-random corpus: `n` docs over a vocab of
    * `vocab` tokens with zipf-ish reuse; a few exact dups and
    * singletons mixed in. */
  private def corpus(seed: Int, n: Int, vocab: Int): String = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    val words = (0 until vocab).map(i => s"w$i")
    val docs = (0 until n).map { i =>
      val len = 1 + rnd.nextInt(8)
      val toks = Seq.fill(len)(words(
        // skew: low ids much more frequent
        math.min(vocab - 1, (math.abs(rnd.nextGaussian()) * vocab / 3).toInt)))
      val text =
        if (i % 11 == 0 && i > 0) null // replaced below by a dup
        else toks.mkString(" ")
      (i.toLong, text, "en", s"s${i % 2}", 0L)
    }
    // every 11th doc duplicates its predecessor exactly (text AND
    // source, so the pair lands in the same block)
    val fixed = docs.map {
      case (id, null, l, _, nc) =>
        val prev = docs((id - 1).toInt)
        (id, prev._2, l, prev._4, nc)
      case d => d
    }
    val dir = java.nio.file.Files
      .createTempDirectory(s"graft_rand$seed").toString
    fixed.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  /** Documents in the hub corpus below: its hub token's document
    * frequency. The count-join branches pair every two of them on the
    * hub (about 500k candidate pairs), which keeps the corpus inside
    * the tier-1 time budget. */
  private val HubDocs = 1000

  /** Adversarial corpora for the df-skew routers' branches, each with
    * the branch the rule must pick (true: the prefix join). */
  private lazy val adversarial: Seq[(String, String, Boolean)] = {
    def docs(texts: Seq[String]) = ScaleData.documentsDir(spark, texts)
    Seq(
      ("empty", docs(Nil), false),
      ("one document", docs(Seq("a lone document")), false),
      ("all identical", docs(Seq.fill(30)("the same words in every doc")),
        false),
      // "" and " " split to the empty token, "a  b c" carries one too
      ("null and empty texts", docs(Seq(null, "", "a b c", null, "",
        "a b c", " ", "a  b c", "x y", null)), false),
      ("unicode-heavy", docs(Seq(
        "café naïve résumé über straße", "café naïve résumé über strasse",
        "日本語のトークン 中文分词 한국어", "日本語のトークン 中文分词 한국어 追加",
        "emoji 😀😁 mixed🎉token plain", "emoji 😀😁 mixed🎉token",
        "😀 😀😀 x😀 😀x", "ÉCOLE École école", "ǅ ǆ Ǆ",
        "İstanbul ISTANBUL istanbul")), false),
      // pairs (2j, 2j+1) share the hub and two tokens: Jaccard exactly
      // 0.6; every tenth doc drops its own token, so it is contained
      // in its partner
      (s"hub token in all $HubDocs docs", docs((0 until HubDocs).map { i =>
        val shared = s"hub a${i / 2} b${i / 2}"
        if (i % 10 == 0) shared else s"$shared c$i"
      }), true))
  }

  test("prefix-filtered join == unfiltered join on random corpora " +
    "(with and without the positional rank bound)") {
    def rows(df: DataFrame) = df.collect().map(_.toSeq).toSeq
    // the seeded corpora's 40-word vocabularies read a df skew of
    // 0.25-0.57, above the prefix bound: the rule picks the count join
    val seeded = Seq(1, 2, 3).map(seed =>
      (s"seed=$seed", corpus(seed, n = 60, vocab = 40), false))
    for ((name, dir, prefixPicked) <- seeded ++ adversarial) {
      val full = rows(DedupOps.dedupNearRelational(spark, dir))
      assert(rows(DedupOps.dedupNearPrefix(spark, dir)) == full, name)
      assert(rows(DedupOps.dedupNearPrefix(spark, dir, positional = true))
        == full, s"$name (positional)")
      val contained = rows(DedupOps.txtContainmentCount(spark, dir))
      assert(rows(DedupOps.txtContainmentPrefix(spark, dir)) == contained,
        s"$name (containment)")
      val prefix = DedupOps.prefixJoinPays(DedupOps.dfSkewOf(spark, dir))
      info(s"$name: ${full.size} near pairs, ${contained.size} contained " +
        s"pairs; the rule picks ${if (prefix) "prefix" else "count"}")
      assert(prefix == prefixPicked, s"$name branch")
      if (name.startsWith("seed"))
        assert(full.nonEmpty, s"$name produced no pairs — weak test")
    }
  }

  test("dfSkewOf's driver fold == percentile_approx(df, 0.5, 10000) / " +
    "max(df) over the same sample") {
    // the reference: the statistic in Spark SQL over the collected
    // sample, as the routers computed it before the driver fold
    def sqlSkew(dir: String): Option[Double] = {
      val docs = graft.core.Core.table(spark, dir, "documents").select("text")
      val r = spark.createDataFrame(java.util.Arrays.asList(
          docs.head(DedupOps.DfSkewSampleDocs).toSeq: _*), docs.schema)
        .select(explode(array_distinct(split(lower(col("text")), " ")))
          .as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("df"))
        .agg(expr("percentile_approx(df, 0.5, 10000)").cast("double"),
          max(col("df")).cast("double"))
        .head()
      if (r.isNullAt(0) || r.isNullAt(1)) None
      else Some(r.getDouble(0) / r.getDouble(1))
    }
    val corpora = Seq("sf0.001" -> TestSpark.sfDir,
        "skewed near-dup" -> ScaleData.hotTokenDir(spark, "hot a0 b0 c0 e0"),
        "skewed containment" ->
          ScaleData.hotTokenDir(spark, "hot a0 b0 c0 d0 e0")) ++
      Seq(1, 2, 3).map(seed => s"seed=$seed" -> corpus(seed, 60, 40)) ++
      adversarial.map { case (name, dir, _) => name -> dir } :+
      // four tokens of df 1, 2, 3 and 4: the two middle frequencies
      // differ, and the SQL form answers the lower one (0.5, not 0.75)
      "df staircase" ->
        ScaleData.documentsDir(spark, Seq("a b c d", "b c d", "c d", "d"))
    for ((name, dir) <- corpora) {
      val fold = DedupOps.dfSkewOf(spark, dir)
      info(s"$name: ${fold.fold("none")(v => f"$v%.4f")}")
      assert(fold == sqlSkew(dir), name)
    }
  }

  test("banded SimHash == all-pairs on random corpora") {
    for (seed <- Seq(4, 5)) {
      val dir = corpus(seed, n = 60, vocab = 40)
      val banded = DedupOps.queries("dedup_simhash")(spark, dir)
        .collect().map(_.toSeq).toSeq
      val d = graft.core.Core.table(spark, dir, "documents")
        .select("doc_id", "source")
        .join(DedupOps.simhashSketches(spark, dir), "doc_id")
      val a = d.select(col("source"), col("doc_id").as("a_id"),
        col("simhash").as("a_sh"))
      val b = d.select(col("source"), col("doc_id").as("b_id"),
        col("simhash").as("b_sh"))
      val allPairs = a.join(b, Seq("source"))
        .filter(col("a_id") < col("b_id"))
        .withColumn("hamming",
          bit_count(col("a_sh").bitwiseXOR(col("b_sh"))).cast("int"))
        .filter(col("hamming") <= 10)
        .select("a_id", "b_id", "hamming")
        .orderBy("a_id", "b_id")
        .collect().map(_.toSeq).toSeq
      assert(banded == allPairs, s"seed=$seed")
      assert(allPairs.nonEmpty, s"seed=$seed produced no pairs — weak test")
    }
  }

  /** Long-document corpus for the char-window operators: docs well
    * over the 40-char window width, a shared ~100-char boilerplate
    * suffix on every 7th doc (cross-doc verbatim overlap), plus the
    * every-11th exact dup. */
  private def corpusLong(seed: Int, n: Int): String = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    val words = (0 until 30).map(i => s"word$i")
    val boiler = " copyright notice all rights reserved contact " +
      "support at example dot com for removal requests"
    val docs = (0 until n).map { i =>
      val len = 15 + rnd.nextInt(30)
      val body = Seq.fill(len)(words(rnd.nextInt(words.size)))
        .mkString(" ")
      val text =
        if (i % 7 == 3) body + boiler else body
      (i.toLong, text, "en", s"s${i % 2}", 0L)
    }
    val fixed = docs.map { case d @ (id, _, l, _, nc) =>
      if (id % 11 == 0 && id > 0) {
        val prev = docs((id - 1).toInt)
        (id, prev._2, l, prev._4, nc)
      } else d
    }
    val dir = java.nio.file.Files
      .createTempDirectory(s"graft_randlong$seed").toString
    fixed.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("dedup_substring == brute-force window/df recomputation on " +
    "random long-doc corpora") {
    for (seed <- Seq(6, 7)) {
      val dir = corpusLong(seed, n = 80)
      val rows = DedupOps.queries("dedup_substring")(spark, dir)
        .collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
      val texts = graft.core.Core.table(spark, dir, "documents")
        .select("doc_id", "text").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      val (w0, st) = (DedupOps.SubstrWidth, DedupOps.SubstrStride)
      val gramSets = texts.map { case (id, t) =>
        id -> (1 to math.max(t.length - w0 + 1, 0) by st)
          .map(p => t.substring(p - 1, p - 1 + w0)).toSet
      }
      val df = gramSets.values.flatten
        .groupBy(identity).map { case (g, o) => g -> o.size }
      rows.foreach { case (id, nGrams, dupGrams, isDup) =>
        val gs = gramSets(id)
        val expectDup = gs.count(df(_) >= 2)
        assert(nGrams == gs.size && dupGrams == expectDup
          && isDup == (expectDup > 0), s"seed=$seed doc $id")
      }
      // boilerplate suffixes must be caught as shared verbatim runs
      assert(rows.count(_._4) >= texts.size / 7 - 2,
        s"seed=$seed boilerplate undetected")
    }
  }

  test("banded aHash pair set == all-pairs on random corpora") {
    for (seed <- Seq(8, 9)) {
      val dir = corpusLong(seed, n = 80)
      val banded = graft.operators.MultimodalOps
        .queries("multimodal_phash_dedup")(spark, dir)
        .collect().map(_.toSeq).toSeq
      val texts = graft.core.Core.table(spark, dir, "documents")
        .select("doc_id", "source", "text").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      def ahash(t: String): Long = {
        val n = t.length
        val srcH = (n + 15) / 16
        val cells = (0 until 16).map { k =>
          t.charAt(
            math.min((k / 4) * srcH / 4 * 16 + (k % 4) * 4 + 1, n) - 1).toInt
        }
        val sum = cells.sum
        cells.zipWithIndex.map { case (c, k) =>
          if (16L * c > sum) 1L << k else 0L }.sum
      }
      val hs = texts.map { case (id, src, t) => (id, src, ahash(t)) }
      val allPairs = (for {
        (a, sa, ha) <- hs; (b, sb, hb) <- hs
        if sa == sb && a < b
        d = java.lang.Long.bitCount(ha ^ hb) if d <= 3
      } yield Seq[Any](a, b, d)).toSeq.sortBy(x =>
        (x.head.asInstanceOf[Long], x(1).asInstanceOf[Long]))
      assert(banded == allPairs, s"seed=$seed")
      assert(allPairs.nonEmpty, s"seed=$seed produced no pairs — weak test")
    }
  }

  /** Seeded random EVENTS corpus for the funnel/streak parity tests:
    * `users` users, `n` events spread over ~25 days with second
    * granularity, event types view/click/purchase plus an ignored
    * noise type. Timestamps are epoch-exact (java.sql.Timestamp is
    * epoch millis; the UTC session timezone makes to_date a pure
    * epoch-day floor). */
  private def eventsCorpus(seed: Int, users: Int, n: Int): String = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    val types = Seq("view", "click", "purchase", "other")
    val rows = (0 until n).map { i =>
      val us = rnd.nextInt(25).toLong * 86400000000L +
        rnd.nextInt(86400).toLong * 1000000L
      (i.toLong, rnd.nextInt(users).toLong, types(rnd.nextInt(types.size)),
        new java.sql.Timestamp(us / 1000))
    }
    val dir = java.nio.file.Files
      .createTempDirectory(s"graft_ev$seed").toString
    rows.toDF("event_id", "user_id", "event_type", "ts")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  /** Events corpus WITH values: heavy-tailed per-type scales plus a
    * constant-value type (bmax == bmin ⇒ single PSI bin, the edge the
    * real corpus never hits) and a rare type with very few rows. */
  private def valuedEventsCorpus(seed: Int, n: Int): String = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    val types = Seq("click", "view", "rare", "flat")
    val rows = (0 until n).map { i =>
      val t =
        if (i % 97 == 0) "rare"
        else types(rnd.nextInt(2)) // mostly click/view
      val tt = if (i % 31 == 0) "flat" else t
      val v = tt match {
        case "flat" => 7.0 // constant: one bin for the whole type
        case "rare" => rnd.nextInt(10) + 0.5
        case _ => math.pow(10.0, rnd.nextDouble() * 3) // heavy tail
      }
      val us = rnd.nextInt(25).toLong * 86400000000L +
        rnd.nextInt(86400).toLong * 1000000L
      (i.toLong, rnd.nextInt(40).toLong, tt,
        new java.sql.Timestamp(us / 1000), math.round(v * 100) / 100.0)
    }
    val dir = java.nio.file.Files
      .createTempDirectory(s"graft_vev$seed").toString
    rows.toDF("event_id", "user_id", "event_type", "ts", "value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  test("agg_drift_psi == an in-memory PSI fold on random event corpora " +
    "(incl. single-bin and rare types)") {
    for (seed <- Seq(21, 22, 23)) {
      val dir = valuedEventsCorpus(seed, n = 800)
      val got = SparkEntry.queries("agg_drift_psi")(spark, dir)
        .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
          r.getInt(3), r.getDouble(4)))).toMap
      val ev = graft.core.Core.table(spark, dir, "events")
        .select(col("event_type"), unix_micros(col("ts")),
          graft.core.Core.cents(col("value"))).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      val bus = (ev.map(_._2).min + ev.map(_._2).max) / 2
      val byType = ev.groupBy(_._1)
      assert(got.keySet == byType.keySet, s"seed=$seed")
      byType.foreach { case (t, rs) =>
        val (bmin, bmax) = (rs.map(_._3).min, rs.map(_._3).max)
        val w = (bmax - bmin) / 10 + 1
        val bins = rs.groupBy(r => ((r._3 - bmin) / w).toInt)
        val ca = bins.map { case (b, xs) => b -> xs.count(_._2 < bus).toLong }
        val cb = bins.map { case (b, xs) => b -> xs.count(_._2 >= bus).toLong }
        val (nA, nB, k) = (ca.values.sum, cb.values.sum, bins.size)
        val psi = bins.keys.toSeq.sorted.foldLeft(0.0) { (acc, b) =>
          val pa = (ca(b) + 1).toDouble / (nA + k)
          val pb = (cb(b) + 1).toDouble / (nB + k)
          acc + (pa - pb) * math.log(pa / pb)
        }
        val (gA, gB, gK, gPsi) = got(t)
        assert(gA == nA && gB == nB && gK == k, s"seed=$seed $t")
        assert(math.abs(gPsi - psi) < 1e-9 && gPsi >= -1e-12,
          s"seed=$seed $t")
      }
      // the single-bin type really collapsed to one bin
      assert(got("flat")._3 == 1, s"seed=$seed flat bins")
    }
  }

  /** Embeddings corpus with skewed label sizes INCLUDING singleton
    * labels — the pos_id-null branch of the contrastive ring and the
    * quota=1 regime of class balancing, which the driver corpus
    * (50 vectors/label) never exercises. */
  private def labeledCorpus(seed: Int, n: Int, labels: Int): String = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    val rows = (0 until n).map { i =>
      // labels 0/1 get most vectors; the top label ids get ~1 member
      val l =
        if (i < labels) i // guarantee every label has >= 1
        else rnd.nextInt(2)
      (i.toLong, l)
    }
    val dir = java.nio.file.Files
      .createTempDirectory(s"graft_lab$seed").toString
    rows.toDF("vec_id", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }

  test("sample_contrastive_pairs ring holds on random label corpora " +
    "incl. singleton labels") {
    val P = graft.functions.TextHash.P
    val mul = graft.operators.SimilarityOps.PairHashMul
    def h(id: Long): Long = (((id % P) * mul) % P) * mul % P
    for (seed <- Seq(31, 32, 33)) {
      val dir = labeledCorpus(seed, n = 50, labels = 8)
      val got = SparkEntry.queries("sample_contrastive_pairs")(spark, dir)
        .collect().map(r => (r.getLong(0), r.getInt(1),
          if (r.isNullAt(3)) None else Some(r.getLong(3)),
          r.getInt(4), r.getLong(5)))
      val vs = graft.core.Core.table(spark, dir, "embeddings")
        .select("vec_id", "label").collect()
        .map(r => (r.getLong(0), r.getInt(1)))
      val byLabel = vs.groupBy(_._2).view
        .mapValues(_.map(_._1).sortBy(id => (h(id), id))).toMap
      val labels = byLabel.keys.toSeq.sorted
      val nextLabel = labels.zip(labels.drop(1) :+ labels.head).toMap
      assert(got.length == vs.length, s"seed=$seed")
      var sawSingleton = false
      got.foreach { case (id, l, pos, negL, negId) =>
        val ring = byLabel(l)
        if (ring.length == 1) { sawSingleton = true
          assert(pos.isEmpty, s"seed=$seed vec $id singleton positive")
        } else {
          val idx = ring.indexOf(id)
          assert(pos.contains(ring((idx + 1) % ring.length)),
            s"seed=$seed vec $id")
        }
        assert(negL == nextLabel(l) && negId == byLabel(negL).head,
          s"seed=$seed vec $id negative")
      }
      assert(sawSingleton, s"seed=$seed no singleton label — weak test")
    }
  }

  test("sample_class_balance degrades to quota=1 on singleton-label corpora") {
    for (seed <- Seq(41, 42)) {
      val dir = labeledCorpus(seed, n = 50, labels = 8)
      val got = SparkEntry.queries("sample_class_balance")(spark, dir)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(4)))
      // singleton labels force quota 1: exactly one row per label
      assert(got.forall(_._3 == 1), s"seed=$seed")
      val labels = graft.core.Core.table(spark, dir, "embeddings")
        .select("label").distinct().count()
      assert(got.length == labels, s"seed=$seed")
      assert(got.map(_._2).distinct.length == labels, s"seed=$seed")
    }
  }

  test("agg_funnel_conversion == an in-memory reference fold on " +
    "random event corpora") {
    def round9(x: Double): Double =
      BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    for (seed <- Seq(11, 12, 13)) {
      val dir = eventsCorpus(seed, users = 40, n = 600)
      val got = SparkEntry.queries("agg_funnel_conversion")(spark, dir)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
        .toSeq
      val evs = graft.core.Core.table(spark, dir, "events")
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("us"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      val byUser = evs.groupBy(_._1)
      // strictly-ordered stage times: t1 = first view, t2 = first
      // click after t1, t3 = first purchase after t2
      val stageTimes = byUser.view.mapValues { es =>
        val t1 = es.filter(_._2 == "view").map(_._3).minOption
        val t2 = t1.flatMap(a =>
          es.filter(e => e._2 == "click" && e._3 > a).map(_._3).minOption)
        val t3 = t2.flatMap(a =>
          es.filter(e => e._2 == "purchase" && e._3 > a).map(_._3).minOption)
        (t1, t2, t3)
      }.toMap
      val nAll = byUser.size.toLong
      val n1 = stageTimes.values.count(_._1.isDefined).toLong
      val n2 = stageTimes.values.count(_._2.isDefined).toLong
      val n3 = stageTimes.values.count(_._3.isDefined).toLong
      val expected = Seq(
        ("0_all", nAll), ("1_view", n1), ("2_click", n2),
        ("3_purchase", n3)).map { case (st, c) =>
        (st, c, round9(c.toDouble / nAll)) }
      assert(got == expected, s"seed=$seed")
      // non-degenerate: the funnel narrows but doesn't vanish (at 15
      // events/user every user has a view; the strict ordering is what
      // thins the later stages)
      assert(n3 > 0 && n3 < nAll, s"seed=$seed degenerate funnel")
    }
  }

  test("win_streaks == an in-memory longest-consecutive-run fold on " +
    "random event corpora") {
    for (seed <- Seq(14, 15, 16)) {
      val dir = eventsCorpus(seed, users = 25, n = 500)
      val got = SparkEntry.queries("win_streaks")(spark, dir)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
        .toSeq
      val evs = graft.core.Core.table(spark, dir, "events")
        .select(col("user_id"),
          datediff(to_date(col("ts")), lit("1970-01-01")).as("d"))
        .collect().map(r => (r.getLong(0), r.getInt(1)))
      val expected = evs.groupBy(_._1).view.mapValues { ds =>
        val days = ds.map(_._2).distinct.sorted
        // split into consecutive runs, keep (longest, earliest start)
        val runs = days.foldLeft(List.empty[(Int, Int)]) { // (start, len)
          case ((s0, l) :: rest, d) if d == s0 + l => (s0, l + 1) :: rest
          case (acc, d) => (d, 1) :: acc
        }.reverse
        runs.maxBy { case (s0, l) => (l, -s0) }
      }.toSeq.map { case (u, (s0, l)) =>
        (u, l, java.time.LocalDate.ofEpochDay(s0.toLong).toString)
      }.sortBy(_._1)
      assert(got == expected, s"seed=$seed")
      // non-degenerate: multi-day streaks exist
      assert(expected.exists(_._2 >= 3), s"seed=$seed no real streaks")
    }
  }
}
