package graft

import graft.operators.{MultimodalOps, SimilarityOps, TextOps}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Independent-replay checks for the round-8 curation/monitoring
  * operators: every operator result at sf0.001 is recomputed with a
  * plain driver-side Scala fold over the collected inputs (no Spark,
  * no SQL) and compared exactly (integers) or to 1e-9 (doubles — the
  * engines' 9-dp rounding modes differ from BigDecimal's, the oracle
  * gate pins the exact bits). */
class CurationOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val dir = TestSpark.sfDir
  val P = graft.functions.TextHash.P

  private def docs(): Array[(Long, String)] =
    graft.core.Core.table(spark, dir, "documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))

  // the operator's winnowing algorithm, as a plain fold
  private def winnow(text: String): (Int, Seq[Long]) = {
    val (k, w) = (TextOps.WinnowK, TextOps.WinnowW)
    val codes = text.map(_.toLong)
    val gh =
      if (codes.length >= k)
        (0 to codes.length - k).map(i =>
          codes.slice(i, i + k).foldLeft(0L)((a, c) => (a * 31 + c) % P))
      else Seq.empty[Long]
    val fps =
      if (gh.nonEmpty)
        (0 until math.max(gh.length - w + 1, 1))
          .map(j => gh.slice(j, j + w).min).distinct
      else Seq.empty[Long]
    (gh.length, fps)
  }

  test("txt_winnow matches an in-memory winnowing fold on every doc") {
    val out = SparkEntry.queries("txt_winnow")(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getLong(3))))
      .toMap
    val ds = docs()
    assert(out.size == ds.length)
    ds.foreach { case (id, text) =>
      val (nGrams, fps) = winnow(text)
      assert(out(id) == ((nGrams, fps.length, fps.sum % P)), s"doc $id")
    }
  }

  test("winnowing guarantee: a shared >= K+W-1-char run shares a fingerprint") {
    val rnd = new scala.util.Random(42)
    def randText(n: Int): String =
      (1 to n).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    val shared = randText(TextOps.WinnowK + TextOps.WinnowW - 1)
    (1 to 20).foreach { _ =>
      val a = randText(30) + shared + randText(30)
      val b = randText(25) + shared + randText(35)
      val fa = winnow(a)._2.toSet
      val fb = winnow(b)._2.toSet
      assert(fa.intersect(fb).nonEmpty,
        s"guarantee violated for shared run '$shared'")
    }
  }

  test("agg_label_balance matches an in-memory distribution fold") {
    val out = SparkEntry.queries("agg_label_balance")(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getInt(2),
        r.getString(3), r.getDouble(4), r.getDouble(5)))).toMap
    val rows = graft.core.Core.table(spark, dir, "documents")
      .select("source", "lang").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val bySrc = rows.groupBy(_._1)
    assert(out.keySet == bySrc.keySet)
    bySrc.foreach { case (src, rs) =>
      val counts = rs.groupBy(_._2).map { case (l, xs) =>
        (l, xs.length.toLong) }
      val n = rs.length.toLong
      val top = counts.maxBy { case (l, c) => (c, l) }
      val ent = 0.0 - counts.values.toSeq.sorted
        .foldLeft(0.0)((a, c) => a + (c.toDouble / n)
          * (math.log(c.toDouble / n) / 0.6931471805599453))
      val (gN, gK, gTop, gFrac, gEnt) = out(src)
      assert(gN == n && gK == counts.size && gTop == top._1, src)
      assert(math.abs(gFrac - top._2.toDouble / n) < 1e-9, src)
      assert(math.abs(gEnt - ent) < 1e-9, src)
      assert(gEnt >= -1e-12 && gEnt <= math.log(counts.size.toDouble)
        / 0.6931471805599453 + 1e-9, src)
    }
  }

  test("agg_drift_psi matches an in-memory PSI fold and is non-negative") {
    val out = SparkEntry.queries("agg_drift_psi")(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getInt(3), r.getDouble(4)))).toMap
    val ev = graft.core.Core.table(spark, dir, "events")
      .select(col("event_type"), unix_micros(col("ts")),
        graft.core.Core.cents(col("value"))).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val bus = (ev.map(_._2).min + ev.map(_._2).max) / 2
    val byType = ev.groupBy(_._1)
    assert(out.keySet == byType.keySet)
    byType.foreach { case (t, rs) =>
      val (bmin, bmax) = (rs.map(_._3).min, rs.map(_._3).max)
      val w = (bmax - bmin) / 10 + 1
      val bins = rs.groupBy(r => ((r._3 - bmin) / w).toInt)
      val ca = bins.map { case (b, xs) =>
        b -> xs.count(_._2 < bus).toLong }
      val cb = bins.map { case (b, xs) =>
        b -> xs.count(_._2 >= bus).toLong }
      val (nA, nB, k) = (ca.values.sum, cb.values.sum, bins.size)
      val psi = bins.keys.toSeq.sorted.foldLeft(0.0) { (acc, b) =>
        val pa = (ca(b) + 1).toDouble / (nA + k)
        val pb = (cb(b) + 1).toDouble / (nB + k)
        acc + (pa - pb) * math.log(pa / pb)
      }
      val (gA, gB, gK, gPsi) = out(t)
      assert(gA == nA && gB == nB && gK == k, t)
      assert(math.abs(gPsi - psi) < 1e-9, t)
      assert(gPsi >= -1e-12, s"PSI must be non-negative ($t: $gPsi)")
    }
  }

  test("join_skew_salted equals the plain unsalted join") {
    import spark.implicits._
    val salted = SparkEntry.queries("join_skew_salted")(spark, dir)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2),
        r.getDouble(3))).toSet
    val dim = Seq(("click", 1), ("view", 1), ("signup", 2),
      ("purchase", 3), ("error", 0)).toDF("etype", "severity")
    val plain = graft.core.Core.table(spark, dir, "events")
      .join(dim, col("event_type") === col("etype"))
      .groupBy("event_type", "severity")
      .agg(count(lit(1)),
        sum(graft.core.Core.cents(col("value"))) / 100.0)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2),
        r.getDouble(3))).toSet
    assert(salted == plain)
  }

  test("txt_decontaminate_sem matches an in-memory max-cosine scan") {
    val out = SparkEntry.queries("txt_decontaminate_sem")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getBoolean(2)))
    val vs = graft.core.Core.table(spark, dir, "embeddings")
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0),
        r.getSeq[Float](1).map(_.toDouble).toArray))
    def dot(a: Array[Double], b: Array[Double]): Double =
      a.indices.foldLeft(0.0)((acc, i) => acc + a(i) * b(i))
    val bench = vs.filter(_._1 < SimilarityOps.SemBenchVecs)
    val corpus = vs.filter(_._1 >= SimilarityOps.SemBenchVecs).toMap
    assert(out.length == corpus.size)
    out.foreach { case (id, gotMax, flag) =>
      val v = corpus(id)
      val nv = math.sqrt(dot(v, v))
      val mc = bench.map { case (_, b) =>
        val r = dot(v, b) / (nv * math.sqrt(dot(b, b)))
        BigDecimal(r).setScale(9, BigDecimal.RoundingMode.HALF_UP)
          .toDouble
      }.max
      assert(math.abs(gotMax - mc) < 1e-9, s"vec $id")
      assert(flag == (gotMax >= SimilarityOps.SemDecontamTau), s"vec $id")
    }
  }

  test("sim_knn_eval matches an in-memory k-NN majority vote") {
    val out = SparkEntry.queries("sim_knn_eval")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3),
        r.getBoolean(4)))
    val vs = graft.core.Core.table(spark, dir, "embeddings")
      .select("vec_id", "label", "embedding").collect()
      .map(r => (r.getLong(0), r.getInt(1),
        r.getSeq[Float](2).map(_.toDouble).toArray))
    def dot(a: Array[Double], b: Array[Double]): Double =
      a.indices.foldLeft(0.0)((acc, i) => acc + a(i) * b(i))
    val norms = vs.map(v => v._1 -> math.sqrt(dot(v._3, v._3))).toMap
    val probes = vs.filter(_._1 < graft.operators.SimilarityOps.KnnEvalProbes)
    assert(out.length == probes.length)
    val byId = out.map(o => o._1 -> o).toMap
    probes.foreach { case (qId, trueL, qv) =>
      val scored = vs.filter(_._1 != qId).map { case (id, l, v) =>
        val c = BigDecimal(dot(qv, v) / (norms(qId) * norms(id)))
          .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
        (id, l, c)
      }
      val top = scored.sortBy { case (id, _, c) => (-c, id) }
        .take(graft.operators.SimilarityOps.KnnEvalK)
      val (predL, votes) = top.groupBy(_._2).view
        .mapValues(_.length.toLong).toSeq
        .minBy { case (l, n) => (-n, l) }
      val (_, gTrue, gPred, gVotes, gCorrect) = byId(qId)
      assert(gTrue == trueL && gPred == predL && gVotes == votes,
        s"probe $qId")
      assert(gCorrect == (predL == trueL), s"probe $qId")
    }
    // the synthetic embeddings' cosine neighborhoods align only weakly
    // with labels (like the langid corpus caveat: the HARNESS is the
    // deliverable, not synthetic accuracy) — assert the report is
    // non-degenerate, not a particular accuracy
    assert(out.exists(!_._5), "no incorrect probes — degenerate eval")
    assert(out.forall(o => o._4 >= 1
      && o._4 <= graft.operators.SimilarityOps.KnnEvalK))
  }

  test("sim_ann_recall is internally consistent and lands in the theory band") {
    val out = SparkEntry.queries("sim_ann_recall")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    assert(out.length == graft.operators.SimilarityOps.KnnEvalProbes)
    out.foreach { case (q, nExact, nAnn, nOv, recall) =>
      assert(nExact == 3, s"probe $q exact top-k size")
      assert(nAnn <= 3 && nOv <= math.min(nExact, nAnn), s"probe $q")
      assert(math.abs(recall - nOv / 3.0) < 1e-9, s"probe $q recall")
    }
    // the Goemans–Williamson collision bound for this corpus's
    // near-orthogonal neighbors (cos ~ 0.3) predicts ~0.10 mean
    // recall@3 under 8-plane ±1-bit multiprobe; gate a broad band so
    // a silently-broken index (→ ~0) or an accidentally exhaustive
    // scan (→ ~1) both fail loudly
    val mean = out.map(_._5).sum / out.length
    assert(mean > 0.03 && mean < 0.5, s"mean recall $mean out of band")
  }

  test("ANN recall on clustered vectors: the locality lever measured, not prose") {
    // the complement of the uniform-corpus band above (round-8 verdict
    // ask #1): on PLANTED neighbors at pairwise cos ≈ 0.94
    // (ScaleData.clusteredDir — 25 clusters × 20 members), per-plane
    // agreement p = 1 − θ/π ≈ 0.89, so 8-plane ±1-bit multiprobe
    // bounds single-bucket collision at p⁸ + 8p⁷(1−p) ≈ 0.79 from
    // below — measured 0.93/0.91/0.86/0.51 (full/qd3/qd2/single):
    // collision in ANY probed bucket beats the one-bucket bound.
    // This is the number a similarity deployment demands before
    // trusting the index: same code, same planes, same probe algebra
    // as the contract queries, only the corpus's angular locality
    // differs.
    val clustered = graft.ScaleData.clusteredDir(spark, 500, 25)
    val full = SimilarityOps.annRecallMean(spark, clustered)
    val qd3 = SimilarityOps.annRecallMean(spark, clustered, probePlanes = 3)
    val qd2 = SimilarityOps.annRecallMean(spark, clustered, probePlanes = 2)
    val single = SimilarityOps.annRecallMean(spark, clustered,
      multiprobe = false)
    info(f"clustered recall@3: full=$full%.3f qd3=$qd3%.3f " +
      f"qd2=$qd2%.3f single=$single%.3f")
    // the headline pin: >= 0.6 at the contract configuration on
    // locality-bearing vectors (vs ~0.13 on the uniform corpus)
    assert(full >= 0.6, s"full multiprobe recall $full")
    // probe breadth is a monotone recall lever (the tuning story):
    // ±1-over-all-planes >= query-directed 3 >= 2 >= bucket-only
    assert(full >= qd3 && qd3 >= qd2 && qd2 >= single,
      s"probe monotonicity: $full / $qd3 / $qd2 / $single")
    // query-directed probing keeps most of full multiprobe's recall at
    // under half the probe volume (Lv VLDB'07's selling point)
    assert(qd3 >= 0.8 * full, s"qd3 $qd3 vs full $full")
  }

  test("sample_hard_negatives matches an in-memory argmax scan") {
    val out = SparkEntry.queries("sample_hard_negatives")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getInt(3), r.getDouble(4)))
    val vs = graft.core.Core.table(spark, dir, "embeddings")
      .select("vec_id", "label", "embedding").collect()
      .map(r => (r.getLong(0), r.getInt(1),
        r.getSeq[Float](2).map(_.toDouble).toArray))
    def dot(a: Array[Double], b: Array[Double]): Double =
      a.indices.foldLeft(0.0)((acc, i) => acc + a(i) * b(i))
    val norms = vs.map(v => v._1 -> math.sqrt(dot(v._3, v._3))).toMap
    val probes = vs.filter(_._1 < graft.operators.SimilarityOps.KnnEvalProbes)
    assert(out.length == probes.length)
    val byId = out.map(o => o._1 -> o).toMap
    probes.foreach { case (qId, qL, qv) =>
      val best = vs.filter(_._2 != qL).map { case (id, l, v) =>
        val c = BigDecimal(dot(qv, v) / (norms(qId) * norms(id)))
          .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
        (id, l, c)
      }.minBy { case (id, _, c) => (-c, id) }
      val (_, gQl, gNeg, gNegL, gCos) = byId(qId)
      assert(gQl == qL && gNeg == best._1 && gNegL == best._2, s"probe $qId")
      assert(math.abs(gCos - best._3) < 1e-9, s"probe $qId")
      // hard means hard: the mined negative is at least as close as a
      // random different-label vector would be on average (cos > 0
      // on this corpus's near-orthogonal vectors)
      assert(gCos > 0.0, s"probe $qId cos $gCos")
    }
  }

  test("sample_contrastive_pairs matches the in-memory ring construction") {
    val out = SparkEntry.queries("sample_contrastive_pairs")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)),
        r.getInt(4), r.getLong(5)))
    val vs = graft.core.Core.table(spark, dir, "embeddings")
      .select("vec_id", "label").collect()
      .map(r => (r.getLong(0), r.getInt(1)))
    def h(id: Long): Long =
      (((id % P) * SimilarityOps.PairHashMul) % P)
        .*(SimilarityOps.PairHashMul) % P
    val byLabel = vs.groupBy(_._2).map { case (l, xs) =>
      l -> xs.map(_._1).sortBy(id => (h(id), id)) }
    val labels = byLabel.keys.toSeq.sorted
    val nextLabel = labels.zip(labels.drop(1) :+ labels.head).toMap
    assert(out.length == vs.length)
    out.foreach { case (id, label, gh, pos, negLabel, negId) =>
      assert(gh == h(id), s"vec $id hash")
      val ring = byLabel(label)
      val idx = ring.indexOf(id)
      val expectPos =
        if (ring.length == 1) None
        else Some(ring((idx + 1) % ring.length))
      assert(pos == expectPos, s"vec $id positive")
      pos.foreach(p => assert(p != id && byLabel(label).contains(p)))
      assert(negLabel == nextLabel(label), s"vec $id neg label")
      assert(negId == byLabel(negLabel).head, s"vec $id negative")
    }
  }

  test("dedup_winnow matches a brute-force shared-fingerprint count") {
    val out = SparkEntry.queries("dedup_winnow")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    val bySrc = graft.core.Core.table(spark, dir, "documents")
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getString(1), r.getLong(0), r.getString(2)))
      .groupBy(_._1)
    val expect = scala.collection.mutable.Map
      .empty[(Long, Long), (Long, Double)]
    bySrc.values.foreach { ds =>
      val fps = ds.map(d => d._2 -> winnow(d._3)._2.toSet).sortBy(_._1)
      for (i <- fps.indices; j <- (i + 1) until fps.length) {
        val ((aId, aF), (bId, bF)) = (fps(i), fps(j))
        val shared = aF.intersect(bF).size.toLong
        if (shared >= graft.operators.DedupOps.WinnowMinShared)
          expect((aId, bId)) =
            (shared, shared.toDouble / math.min(aF.size, bF.size))
      }
    }
    assert(out.keySet == expect.keySet)
    out.foreach { case (k, (s0, r0)) =>
      assert(s0 == expect(k)._1, k)
      assert(math.abs(r0 - expect(k)._2) < 1e-9, k)
    }
  }

  test("pipeline_pack agrees with its pieces and packs contiguously") {
    val out = SparkEntry.queries("pipeline_pack")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    // keep set == pipeline_curate's keeps
    val keeps = SparkEntry.queries("pipeline_curate")(spark, dir)
      .filter(col("keep")).select("doc_id", "shard").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(out.map(_._1).toSet == keeps.keySet)
    // shard == the curate manifest's (= txt_shuffle_shard's stream)
    out.foreach { case (id, shard, _, _, _, _, _) =>
      assert(shard == keeps(id), s"doc $id shard") }
    // shard assignment also matches txt_shuffle_shard for these docs
    val shuffleShard = SparkEntry.queries("txt_shuffle_shard")(spark, dir)
      .select("doc_id", "shard").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    out.foreach { case (id, shard, _, _, _, _, _) =>
      assert(shard == shuffleShard(id), s"doc $id vs txt_shuffle_shard") }
    // per-shard contiguity: in pos order, offsets accumulate exactly
    // and seq/offset derive from the running total
    out.groupBy(_._2).values.foreach { rows =>
      var offset = 0L
      rows.sortBy(_._3).foreach {
        case (id, _, _, n, start, seqId, offInSeq) =>
          assert(start == offset, s"doc $id start")
          assert(seqId == start / graft.operators.TextOps.PackBudget, s"doc $id")
          assert(offInSeq == start % graft.operators.TextOps.PackBudget,
            s"doc $id")
          offset += n
      }
    }
  }

  test("pipeline_tokenize agrees with its pieces and packs by subword budget") {
    val out = SparkEntry.queries("pipeline_tokenize")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    // keep set + shard == pipeline_curate's keeps (the shared
    // curateWithReasons core)
    val keeps = SparkEntry.queries("pipeline_curate")(spark, dir)
      .filter(col("keep")).select("doc_id", "shard").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(out.map(_._1).toSet == keeps.keySet)
    out.foreach { case (id, shard, _, _, _, _, _) =>
      assert(shard == keeps(id), s"doc $id shard") }
    // subword counts == txt_bpe_encode's (the shared bpeEncodeOf core)
    val enc = SparkEntry.queries("txt_bpe_encode")(spark, dir)
      .select("doc_id", "n_subwords").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    out.foreach { case (id, _, _, n, _, _, _) =>
      assert(n == enc(id), s"doc $id subwords") }
    // per-shard contiguity under the SUBWORD budget
    out.groupBy(_._2).values.foreach { rows =>
      var offset = 0L
      rows.sortBy(_._3).foreach {
        case (id, _, _, n, start, seqId, offInSeq) =>
          assert(start == offset, s"doc $id start")
          assert(seqId == start / graft.operators.TextOps.BpePackBudget,
            s"doc $id")
          assert(offInSeq == start % graft.operators.TextOps.BpePackBudget,
            s"doc $id")
          offset += n
      }
    }
    // and pack ORDER matches pipeline_pack's for the same shard (both
    // rank by the same shuffle stream, so positions must agree)
    val packPos = SparkEntry.queries("pipeline_pack")(spark, dir)
      .select("doc_id", "pos").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    out.foreach { case (id, _, pos, _, _, _, _) =>
      assert(pos == packPos(id), s"doc $id pos") }
  }

  test("table_diff reports exactly the manufactured v2 mutations") {
    val out = SparkEntry.queries("table_diff")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val ids = graft.core.Core.table(spark, dir, "documents")
      .select("doc_id").collect().map(_.getLong(0)).sorted
    val expect = (ids.filter(_ % 97 == 0).map(_ -> "removed") ++
      ids.filter(i => i % 97 != 0 && i % 31 == 0).map(_ -> "changed") ++
      ids.filter(_ % 101 == 0).map(i => (i + (1L << 40)) -> "added"))
      .sortBy(_._1)
    assert(out.toSeq == expect.toSeq)
  }

  test("snapshotDiff: NULL text compares like the SQL path") {
    import spark.implicits._
    // (id, text) fixtures exercising every NULL combination: 1 = text
    // NULL in BOTH snapshots (must NOT be reported — the former
    // hash-nullness keying misread it as 'added'), 2 = NULL→value
    // ('changed' is NOT emitted: md5(NULL) <> md5('x') is NULL in SQL
    // too, so both engines drop it — the documented CASE semantics),
    // 3 = unchanged, 4 = removed, 5 = added, 6 = changed.
    val v1 = Seq((1L, null), (2L, null), (3L, "same"), (4L, "gone"),
      (6L, "old")).toDF("doc_id", "text")
    val v2 = Seq((1L, null), (2L, "now set"), (3L, "same"),
      (5L, "new"), (6L, "edited")).toDF("doc_id", "text")
    val out = graft.operators.RelationalOps.snapshotDiff(v1, v2)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(out == Seq(4L -> "removed", 5L -> "added", 6L -> "changed"))
  }

  test("sample_token_budget: greedy fill matches a driver-side replay") {
    val out = SparkEntry.queries("sample_token_budget")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getBoolean(5)))
    // driver-side greedy replay over the same hash order
    val P = graft.functions.TextHash.P
    val M = graft.operators.TextOps.ShuffleHashMul
    val docs = graft.core.Core.table(spark, dir, "documents")
      .selectExpr("doc_id", "source",
        "CAST(size(split(lower(text), ' ')) AS LONG) AS n")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val bySrc = docs.groupBy(_._2)
    val expect = bySrc.flatMap { case (src, ds) =>
      val idx = src.drop(3).toInt
      val pct = if (idx % 3 == 0) 20L else if (idx % 3 == 1) 40L else 80L
      val budget = ds.map(_._3).sum * pct / 100
      var cum = 0L
      ds.sortBy { case (id, _, _) => (id % P * M % P * M % P, id) }
        .map { case (id, _, n) =>
          val row = (id, src, n, budget, cum, cum < budget)
          cum += n; row
        }.toSeq
    }.toSeq.sortBy(_._1)
    assert(out.toSeq == expect)
    // the budget bites: every source keeps some and drops some
    bySrc.keys.foreach { src =>
      val rows = out.filter(_._2 == src)
      assert(rows.exists(_._6) && rows.exists(!_._6), src)
    }
  }

  test("txt_perplexity_filter: terciles partition the corpus by LM fit") {
    val out = SparkEntry.queries("txt_perplexity_filter")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getString(3), r.getBoolean(4)))
    val lm = SparkEntry.queries("txt_bigram_logprob")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    // one decision row per doc; logprob is the LM operator's verbatim
    assert(out.map(_._1).toSet == lm.keySet)
    out.foreach { case (id, _, lp, _, _) => assert(lp == lm(id)) }
    // keep follows the bucket exactly (head/middle ship, tail/empty drop)
    out.foreach { case (_, _, _, b, keep) =>
      assert(keep == (b == "head" || b == "middle"), b) }
    // terciles: near-equal sizes over the scored docs (boundary ties
    // share a bucket, so sizes may drift by the tie multiplicity —
    // here by at most 2 around n/3), boundaries respect the logprob
    // ordering, and equal-logprob docs are NEVER split across buckets
    // (the total-order-free property the percentile-broadcast recipe
    // guarantees and a global ntile does not)
    val byB = out.filter(_._2 > 0).groupBy(_._4)
      .map { case (b, rs) => b -> rs.map(_._3) }
    assert(Set("head", "middle", "tail").subsetOf(byB.keySet))
    val sizes = Seq("head", "middle", "tail").map(byB(_).length)
    assert(sizes.max - sizes.min <= 2, s"tercile sizes $sizes")
    assert(byB("head").min >= byB("middle").max - 1e-12)
    assert(byB("middle").min >= byB("tail").max - 1e-12)
    out.filter(_._2 > 0).groupBy(_._3).foreach { case (lp, rs) =>
      assert(rs.map(_._4).distinct.length == 1,
        s"logprob $lp split across buckets") }
    // zero-bigram docs (if any) are 'empty' and dropped
    out.filter(_._2 == 0).foreach { case (_, _, _, b, keep) =>
      assert(b == "empty" && !keep) }
  }

  test("agg_iqr_outlier matches an in-memory Tukey-fence fold") {
    val out = SparkEntry.queries("agg_iqr_outlier")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(3))).toMap
    val ev = graft.core.Core.table(spark, dir, "events")
      .select("event_id", "event_type", "value").collect()
      .map(r => (r.getLong(0), r.getString(1),
        math.round(r.getDouble(2) * 100)))
    def quantile(sorted: Array[Long], p: Double): Double = {
      val idx = p * (sorted.length - 1)
      val lo = idx.toInt
      val hi = math.ceil(idx).toInt
      sorted(lo) + (sorted(hi) - sorted(lo)) * (idx - lo)
    }
    val expect = ev.groupBy(_._2).toSeq.flatMap { case (_, rs) =>
      val s0 = rs.map(_._3).sorted
      val (q1, q3) = (quantile(s0, 0.25), quantile(s0, 0.75))
      val (lo, hi) = (q1 - (q3 - q1) * 1.5, q3 + (q3 - q1) * 1.5)
      rs.toSeq.collect {
        case (id, _, c) if c < lo => id -> "low"
        case (id, _, c) if c > hi => id -> "high"
      }
    }.toMap
    assert(out == expect)
    assert(out.nonEmpty)
  }

  test("txt_pmi_colloc matches an in-memory PMI ranking") {
    val out = SparkEntry.queries("txt_pmi_colloc")(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3)))
    val tokLists = docs().map(_._2.toLowerCase.split(" ", -1).toSeq)
    val uni = tokLists.flatten.groupBy(identity)
      .map { case (t, xs) => t -> xs.length.toLong }
    val tTot = uni.values.sum
    val bgs = tokLists.flatMap(ts => ts.zip(ts.drop(1)))
    val c12 = bgs.groupBy(identity)
      .map { case (b, xs) => b -> xs.length.toLong }
    val bTot = bgs.length.toLong
    val expect = c12.toSeq
      .filter(_._2 >= graft.operators.TextOps.PmiMinCount)
      .map { case ((w1, w2), c) =>
        val pmi = math.log(c.toDouble) - math.log(bTot.toDouble) -
          math.log(uni(w1).toDouble) - math.log(uni(w2).toDouble) +
          2.0 * math.log(tTot.toDouble)
        (w1, w2, c, pmi)
      }
      .sortBy { case (w1, w2, _, pmi) => (-pmi, w1, w2) }
      .take(graft.operators.TextOps.PmiTopK)
    assert(out.length == expect.length)
    out.zip(expect).foreach { case (g, e) =>
      assert(g._1 == e._1 && g._2 == e._2 && g._3 == e._3, s"$g vs $e")
      assert(math.abs(g._4 - e._4) < 1e-9, s"$g vs $e")
    }
  }

  test("sample_class_balance keeps exactly the min-class quota per label") {
    val out = SparkEntry.queries("sample_class_balance")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    val labels = graft.core.Core.table(spark, dir, "embeddings")
      .select("vec_id", "label").collect()
      .map(r => (r.getLong(0), r.getInt(1)))
    val byLabel = labels.groupBy(_._2)
    val quota = byLabel.values.map(_.length).min
    // every label contributes exactly quota rows
    assert(out.groupBy(_._2).values.forall(_.length == quota))
    assert(out.length == quota * byLabel.size)
    // and they are the quota LOWEST under the deterministic hash order
    def h(id: Long): Long =
      (id % P) * graft.operators.SimilarityOps.BalanceHashMul % P
    byLabel.foreach { case (l, xs) =>
      val expect = xs.map(_._1).sortBy(id => (h(id), id)).take(quota).toSet
      assert(out.filter(_._2 == l).map(_._1).toSet == expect, s"label $l")
    }
  }

  test("txt_bm25_rank matches an in-memory Okapi fold") {
    val out = SparkEntry.queries("txt_bm25_rank")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val q = graft.operators.TextOps.Bm25QueryTerms
    val tokLists = docs().map { case (id, t) =>
      id -> t.toLowerCase.split(" ", -1).toSeq }
    val n = tokLists.length.toLong
    val tToks = tokLists.map(_._2.length.toLong).sum
    val avgdl = tToks.toDouble / n
    val dfm = q.map(t =>
      t -> tokLists.count(_._2.contains(t)).toLong).toMap
    val scored = tokLists.flatMap { case (id, toks) =>
      val ts0 = q.sorted.flatMap { t =>
        val tf = toks.count(_ == t).toLong
        if (tf > 0) Some((t, tf, dfm(t))) else None
      }
      if (ts0.isEmpty) None
      else {
        val dl = toks.length.toLong
        val s0 = ts0.foldLeft(0.0) { case (acc, (_, tf, df)) =>
          val idf = math.log((n - df + 0.5) / (df + 0.5) + 1.0)
          acc + idf * (tf * 2.2) /
            (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
        }
        Some((id, dl, s0))
      }
    }
    val expect = scored.sortBy { case (id, _, s0) => (-s0, id) }
      .take(graft.operators.TextOps.Bm25TopK)
    assert(out.length == expect.length)
    out.zip(expect).foreach { case ((gId, gDl, gS), (eId, eDl, eS)) =>
      assert(gId == eId && gDl == eDl, s"doc $gId vs $eId")
      assert(math.abs(gS - eS) < 1e-9, s"doc $gId")
    }
    // the rare high-idf term dominates: docs containing 'dup' rank first
    val dupDocs = tokLists.filter(_._2.contains("dup")).map(_._1).toSet
    assert(dupDocs.nonEmpty && out.take(3).forall(r => dupDocs(r._1)))
  }

  test("agg_seasonality matches an in-memory calendar fold") {
    val out = SparkEntry.queries("agg_seasonality")(spark, dir).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2)) ->
        ((r.getLong(3), r.getDouble(4)))).toMap
    val ev = graft.core.Core.table(spark, dir, "events")
      .select(col("event_type"), unix_micros(col("ts"))).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val expect = ev.groupBy { case (t, us) =>
      (t, ((us / 86400000000L + 4) % 7).toInt,
        ((us % 86400000000L) / 3600000000L).toInt)
    }.view.mapValues(_.length.toLong).toMap
    val totals = ev.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    assert(out.keySet == expect.keySet)
    out.foreach { case (k @ (t, _, _), (n, share)) =>
      assert(n == expect(k), k)
      assert(math.abs(share - n.toDouble / totals(t)) < 1e-9, k)
    }
    // shares per type sum to ~1
    out.groupBy(_._1._1).values.foreach { cells =>
      assert(math.abs(cells.map(_._2._2).sum - 1.0) < 1e-6)
    }
  }

  test("txt_source_overlap matches a brute-force vocabulary Jaccard") {
    val out = SparkEntry.queries("txt_source_overlap")(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))))
      .toMap
    val vocab = graft.core.Core.table(spark, dir, "documents")
      .select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
      .groupBy(_._1).view
      .mapValues(_.flatMap(_._2.toLowerCase.split(" ", -1)).toSet).toMap
    val srcs = vocab.keys.toSeq.sorted
    val expect = (for {
      i <- srcs.indices; j <- (i + 1) until srcs.length
      (a, b) = (srcs(i), srcs(j))
      inter = vocab(a).intersect(vocab(b)).size.toLong
      if inter > 0
    } yield (a, b) -> ((inter, vocab(a).size.toLong, vocab(b).size.toLong,
      inter.toDouble / (vocab(a).size + vocab(b).size - inter)))).toMap
    assert(out.keySet == expect.keySet)
    out.foreach { case (k, (i0, a0, b0, j0)) =>
      val (ei, ea, eb, ej) = expect(k)
      assert(i0 == ei && a0 == ea && b0 == eb, k)
      assert(math.abs(j0 - ej) < 1e-9, k)
    }
  }

  test("multimodal_audio_segments matches an in-memory gaps-and-islands fold") {
    val out = SparkEntry.queries("multimodal_audio_segments")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
        r.getInt(3), r.getInt(4), r.getLong(5)))
    val expect = docs().filter(_._2.nonEmpty).flatMap { case (id, text) =>
      val frames = (1 to text.length by 8).map { pos =>
        val bytes = text.substring(pos - 1,
          math.min(pos - 1 + 16, text.length)).getBytes("UTF-8")
        (pos, (pos - 1) / 8, bytes.length,
          bytes.foldLeft(0L)((a, b) => a + (b & 0xff)))
      }
      val active = frames.filter { case (_, _, flen, en) =>
        en >= MultimodalOps.AudioActivePerByte.toLong * flen }
      // islands: consecutive fidx runs
      val segs = active.foldLeft(List.empty[List[(Int, Int, Int, Long)]]) {
        case (acc, f) => acc match {
          case cur :: rest if cur.head._2 == f._2 - 1 =>
            (f :: cur) :: rest
          case _ => List(f) :: acc
        }
      }.reverse.map(_.reverse)
      segs.zipWithIndex.map { case (fs, i) =>
        (id, i + 1, fs.map(_._1).min, fs.map(_._1).max, fs.length,
          fs.map(_._4).sum)
      }
    }.toSet
    assert(out.toSet == expect)
  }
}
