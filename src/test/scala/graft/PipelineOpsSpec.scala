package graft

import graft.operators._
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Property-style checks for the sketch-based pipeline operators that
  * have no (or weaker) DuckDB oracles: LSH recall vs the exact
  * baseline, HLL accuracy, ANN vs brute force, mapPartitions decode vs
  * the expression form. Runs on sf0.001. */
class PipelineOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val dir = TestSpark.sfDir

  private def pairs(q: String): Set[(Long, Long)] =
    SparkEntry.queries(q)(spark, dir)
      .select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("multimodal_resize samples the exact nearest-neighbor grid cells") {
    val rows = SparkEntry.queries("multimodal_resize")(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(5)))
    assert(rows.nonEmpty)
    val texts = graft.core.Core.table(spark, dir, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    rows.take(25).foreach { case (id, n, srcH, thumb) =>
      val t = texts(id)
      assert(n == t.length && srcH == (t.length + 15) / 16)
      // independent nearest-neighbor reconstruction: out(i,j) samples
      // src row (i*H)/4, col j*4, index clamped into the payload
      val expect = (0 until 16).map { k =>
        val idx = math.min((k / 4) * srcH / 4 * 16 + (k % 4) * 4 + 1, n)
        t.charAt(idx - 1)
      }.mkString
      assert(thumb == expect, s"doc $id")
      assert(thumb.length == 16)
    }
  }

  test("txt_unigram_logprob matches an independent fold; scores are proper logprobs") {
    val rows = SparkEntry.queries("txt_unigram_logprob")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rows.nonEmpty)
    // every score is a mean ln-probability: strictly negative (no token
    // has probability 1 in a multi-token corpus) and bounded below by
    // ln(min_gtf / T)
    val docs = graft.core.Core.table(spark, dir, "documents")
      .select(col("doc_id"), split(lower(col("text")), " ").as("toks"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val gtf = docs.values.flatten.groupBy(identity).map { case (t, o) =>
      t -> o.size.toLong }
    val t = gtf.values.sum.toDouble
    val floor = math.log(gtf.values.min / t)
    assert(rows.forall { case (_, _, lp) => lp < 0.0 && lp >= floor - 1e-9 })
    // independent per-doc fold (same sorted-pair order as the engine)
    rows.take(25).foreach { case (id, n, lp) =>
      val ts = docs(id)
      assert(n == ts.size)
      val pairsSorted = ts.groupBy(identity).toSeq.map { case (tok, o) =>
        (gtf(tok), o.size.toLong) }.sorted
      val sum = pairsSorted.foldLeft(0.0) { case (acc, (g, tfv)) =>
        acc + tfv * math.log(g.toDouble) }
      val expect = BigDecimal((sum - n * math.log(t)) / n)
        .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(expect - lp) <= 1e-9, s"doc $id: $expect vs $lp")
    }
  }

  test("sample_temperature damps head languages and fills quotas exactly") {
    val kept = SparkEntry.queries("sample_temperature")(spark, dir).collect()
    val perLang = kept.groupBy(_.getString(1)).map { case (l, rs) =>
      l -> (rs.head.getLong(2), rs.head.getInt(3), rs.length) }
    val langs = graft.core.Core.table(spark, dir, "documents")
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(perLang.keySet == langs.keySet)
    perLang.foreach { case (l, (nl, quota, n)) =>
      assert(nl == langs(l))
      // rn <= quota picks exactly min(n_l, quota) docs — a quota above
      // the corpus slice caps at the slice (the oversample-by-epochs
      // case at real scale)
      assert(n == math.min(nl, quota.toLong))
    }
    // the POINT of alpha < 1: bigger languages get bigger quotas but
    // lower sampling RATES (quota_a/n_a <= quota_b/n_b when n_a > n_b)
    // — integer cross-multiplication, no float compare. The FLOORED
    // quotas get a +1 tolerance: for near-equal language sizes the
    // exact rate gap (~0.3% here) is smaller than the quota flooring
    // granularity (~1/29), so a corpus whose quotas straddle an integer
    // boundary could fail the strict compare even though the pre-floor
    // rates are monotone (ADVICE round 5). The pre-floor rates
    // themselves ARE strictly monotone (n^0.3/n decreasing), checked
    // exactly via double cross-multiplication on w = n^0.3.
    val qs = perLang.values.toSeq
    for (Seq((na, qa, _), (nb, qb, _)) <- qs.combinations(2).map(_.sortBy(-_._1)))
      if (na > nb) {
        assert(qa + 1 >= qb, s"quota must grow with corpus size: $qa < $qb")
        assert(qa.toLong * nb <= (qb.toLong + 1) * na,
          s"rate must shrink with corpus size: $qa/$na vs $qb/$nb")
        assert(math.pow(na.toDouble, 0.3) * nb <=
          math.pow(nb.toDouble, 0.3) * na + 1e-9,
          s"pre-floor rate must shrink: n=$na vs n=$nb")
      }
    // deterministic: a rebuild selects the identical doc set
    val again = SparkEntry.queries("sample_temperature")(spark, dir)
      .collect().map(_.getLong(0)).toSet
    assert(again == kept.map(_.getLong(0)).toSet)
  }

  test("MinHash-LSH dedup flags the younger doc of high-Jaccard pairs") {
    val exact = SparkEntry.queries("dedup_near")(spark, dir)
      .filter(col("jaccard") >= 0.9)
      .select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val decisions = SparkEntry.queries("dedup_minhash_lsh")(spark, dir)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(exact.nonEmpty, "test data should contain >=0.9-Jaccard pairs")
    assert(decisions.nonEmpty && decisions.values.exists(_._2))
    // a<b share a bucket w.p. 1-(1-j^4)^4 ≈ 0.99 at j=0.9, and then b's
    // canonical <= a < b, so b must be flagged duplicate.
    val flagged = exact.count { case (_, b) => decisions(b)._2 }
    val recall = flagged.toDouble / exact.size
    assert(recall >= 0.85, s"LSH dedup recall $recall (${exact.size} pairs)")
    // is_dup is the VERIFIED decision: flagged implies jaccard >= 0.5
    val verified = SparkEntry.queries("dedup_minhash_lsh")(spark, dir)
      .filter(col("is_dup") && col("jaccard") < 0.5).count()
    assert(verified == 0, s"$verified flagged docs failed jaccard verify")
  }

  test("SimHash near pairs overlap token-Jaccard near pairs") {
    val sim = pairs("dedup_simhash")
    val exact = pairs("dedup_near")
    assert(sim.nonEmpty, "simhash should find near pairs")
    val precision = (sim & exact).size.toDouble / sim.size
    assert(precision >= 0.5, s"simhash precision vs jaccard-0.6: $precision")
  }

  test("minhash estimator tracks exact Jaccard (unbiased within tolerance)") {
    val rows = SparkEntry.queries("dedup_minhash_est")(spark, dir)
      .select("est", "jaccard", "abs_err").collect()
    assert(rows.length > 100, s"only ${rows.length} candidate pairs")
    // k=16 permutations: per-pair sd ~ sqrt(j(1-j)/16) <= 0.125, so the
    // MEAN |err| over thousands of pairs must land well under it, and
    // the signed mean error near 0 (unbiasedness)
    val meanAbs = rows.map(_.getDouble(2)).sum / rows.length
    val meanSigned = rows.map(r => r.getDouble(0) - r.getDouble(1))
      .sum / rows.length
    assert(meanAbs < 0.13, s"mean |est - jaccard| = $meanAbs")
    assert(math.abs(meanSigned) < 0.05, s"estimator biased: $meanSigned")
  }

  test("approx_count_distinct within 5% of exact") {
    val approx = SparkEntry.queries("agg_approx_distinct")(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = graft.core.Core.table(spark, dir, "events")
      .groupBy("event_type").agg(count_distinct(col("user_id")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (k, n) =>
      val a = approx(k)
      assert(math.abs(a - n).toDouble / n <= 0.05, s"$k: approx=$a exact=$n")
    }
  }

  test("approx quantiles within 2% of exact percentiles") {
    val approx = SparkEntry.queries("agg_approx_quantile")(spark, dir)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap // p50
    val exact = graft.core.Core.table(spark, dir, "orders")
      .groupBy("o_orderpriority")
      .agg(expr("percentile(o_totalprice, 0.5)").as("m"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    exact.foreach { case (k, m) =>
      assert(math.abs(approx(k) - m) / m <= 0.02, s"$k: ${approx(k)} vs $m")
    }
  }

  test("ANN-LSH neighbors are true near neighbors (sanity vs brute force)") {
    val brute = SparkEntry.queries("sim_topk_cosine")(spark, dir)
      .filter(col("rank") === 1)
      .select("a_id", "cos").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val ann = SparkEntry.queries("sim_ann_lsh")(spark, dir)
      .filter(col("rank") === 1)
      .select("a_id", "cos").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(ann.nonEmpty, "ANN should return neighbors")
    // every ANN top-1 cos must be <= the true (within-label) top-1 only
    // when the bucket is within the label; globally it can exceed — so
    // just sanity-check the cosine range and coverage.
    ann.values.foreach(c => assert(c <= 1.0 + 1e-9 && c >= -1.0 - 1e-9))
  }

  test("mapPartitions decode stub == expression-form multimodal_decode") {
    import spark.implicits._
    val assets = graft.core.Core.table(spark, dir, "documents")
      .limit(50)
      .select(col("doc_id"), lit("text/plain").as("media_type"),
        encode(col("text"), "UTF-8").as("bytes"))
      .as[MultimodalOps.Asset]
    val viaPartitions = MultimodalOps.decode(assets)
      .collect().map(f => f.doc_id -> ((f.n_bytes, f.first_byte, f.checksum)))
      .toMap
    val viaExpr = SparkEntry.queries("multimodal_decode")(spark, dir)
      .filter(col("doc_id").isin(viaPartitions.keys.toSeq: _*))
      .collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getLong(3))))
      .toMap
    assert(viaPartitions == viaExpr)
  }

  test("decode plumbing is codec-agnostic: a second decoder plugs in") {
    import spark.implicits._
    // a different fake codec: "decodes" to byte-xor instead of byte-sum
    object XorDecoder extends MultimodalOps.AssetDecoder {
      def decodeBatch(it: Iterator[MultimodalOps.Asset])
          : Iterator[MultimodalOps.AssetFeatures] =
        it.map { a =>
          val x = a.bytes.foldLeft(0L)((acc, b) => acc ^ (b & 0xff))
          MultimodalOps.AssetFeatures(a.doc_id, a.media_type,
            a.bytes.length, -2, x)
        }
    }
    val assets = graft.core.Core.table(spark, dir, "documents")
      .limit(10)
      .select(col("doc_id"), lit("text/plain").as("media_type"),
        encode(col("text"), "UTF-8").as("bytes"))
      .as[MultimodalOps.Asset]
    val out = MultimodalOps.decode(assets, XorDecoder).collect()
    assert(out.length == 10)
    assert(out.forall(_.first_byte == -2)) // the new codec's signature
  }

  test("real PNG codec decodes actual pixels through the same seam") {
    import spark.implicits._
    import java.awt.image.BufferedImage
    // real PNGs rendered in-JVM and round-tripped through the codec
    def png(w: Int, h: Int, rgb: (Int, Int) => Int): Array[Byte] = {
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rgb(x, y))
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val gradient = png(3, 2, (x, y) => (x * 40 << 16) | (y * 90 << 8) | 17)
    val solid = png(5, 4, (_, _) => 0xCAFE42)
    val textBytes = "not a png".getBytes("UTF-8")
    val assets = Seq(
      MultimodalOps.Asset(1L, "image/png", gradient),
      MultimodalOps.Asset(2L, "image/png", solid),
      MultimodalOps.Asset(3L, "text/plain", textBytes)).toDS()
    val out = MultimodalOps.decode(assets, MultimodalOps.PngImageDecoder)
      .collect().map(f => f.doc_id -> f).toMap
    // real pixel dimensions out of a real decode
    assert(out(1L).width == 3 && out(1L).height == 2)
    assert(out(2L).width == 5 && out(2L).height == 4)
    // checksum over DECODED ARGB pixels, independently computable
    val argb = (0xFF000000L | 0xCAFE42L) & 0xffffffffL
    assert(out(2L).checksum == argb * 20 % 2147483647L)
    // every PNG byte stream opens with the 0x89 signature byte
    assert(out(1L).first_byte == 0x89)
    // non-image bytes degrade to the stub's byte stats, never throw
    assert(out(3L).width == -1)
    assert(out(3L).checksum ==
      textBytes.foldLeft(0L)((a, b) => a + (b & 0xff)) % 256)
  }

  test("real WAV codec decodes actual PCM samples through the same seam") {
    import spark.implicits._
    // real RIFF/WAVE containers built byte-by-byte (no audio lib on
    // either side): the decoder must parse genuine chunk structure,
    // including a LIST chunk before data (players emit those) and the
    // odd-length word-alignment rule
    def le16(v: Int): Array[Byte] =
      Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
    def le32(v: Int): Array[Byte] = Array(
      (v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    def fmtChunk(channels: Int, rate: Int): Array[Byte] =
      "fmt ".getBytes("US-ASCII") ++ le32(16) ++ le16(1) ++
        le16(channels) ++ le32(rate) ++
        le32(rate * channels * 2) ++ le16(channels * 2) ++ le16(16)
    def wav(channels: Int, samples: Seq[Int],
        extraChunk: Array[Byte] = Array.empty): Array[Byte] = {
      val data = "data".getBytes("US-ASCII") ++
        le32(samples.size * 2) ++ samples.flatMap(le16).toArray
      val body = "WAVE".getBytes("US-ASCII") ++
        fmtChunk(channels, 8000) ++ extraChunk ++ data
      "RIFF".getBytes("US-ASCII") ++ le32(body.length) ++ body
    }
    // odd-length LIST chunk: the next chunk starts on the padded
    // word boundary — an unaligned walker misses `data` entirely
    val list = "LIST".getBytes("US-ASCII") ++ le32(5) ++
      "INFOx".getBytes("US-ASCII") ++ Array(0.toByte)
    val mono = Seq(100, -200, 300, -400, 500, -600)
    val stereo = Seq(1000, -1000, 2000, -2000) // 2 frames x 2 channels
    val assets = Seq(
      MultimodalOps.Asset(1L, "audio/wav", wav(1, mono)),
      MultimodalOps.Asset(2L, "audio/wav", wav(2, stereo, list)),
      MultimodalOps.Asset(3L, "text/plain", "not audio".getBytes("UTF-8")))
      .toDS()
    val out = MultimodalOps.decode(assets, MultimodalOps.WavAudioDecoder)
      .collect().map(f => f.doc_id -> f).toMap
    // real geometry out of a real decode: samples/channel + channels
    assert(out(1L).width == 6 && out(1L).height == 1)
    assert(out(2L).width == 2 && out(2L).height == 2)
    // checksum over DECODED signed samples, independently computable
    def ck(ss: Seq[Int]): Long =
      ((ss.map(_.toLong).sum % 2147483647L) + 2147483647L) % 2147483647L
    assert(out(1L).checksum == ck(mono))
    assert(out(2L).checksum == ck(stereo))
    assert(out(1L).first_byte == 'R'.toInt)
    // non-audio bytes degrade to the stub's byte stats, never throw
    val nb = "not audio".getBytes("UTF-8")
    assert(out(3L).width == -1 &&
      out(3L).checksum == nb.foldLeft(0L)((a, b) => a + (b & 0xff)) % 256)
    // a PCM-but-24-bit container also degrades (unsupported width):
    val w24 = {
      val b = wav(1, mono)
      // patch bitsPerSample (offset: 12 RIFF+WAVE header, 8 fmt tag,
      // then 14 bytes into fmt payload)
      b(12 + 8 + 14) = 24.toByte; b
    }
    val out2 = MultimodalOps.decode(
      Seq(MultimodalOps.Asset(9L, "audio/wav", w24)).toDS(),
      MultimodalOps.WavAudioDecoder).collect().head
    assert(out2.width == -1)
  }

  test("PNG codec on checked-in fixture payloads: dimensions + pixel " +
    "checksums match independently-computed constants") {
    import spark.implicits._
    // Byte payloads checked into src/test/resources/png/, written by a
    // stdlib-only generator (zlib scanlines, no ImageIO involved on the
    // encode side — so this is NOT an ImageIO round-trip: the decoder
    // must parse real externally-produced PNG structure). The expected
    // constants were computed from the fixture pixel values with the
    // PngImageDecoder formula: sum of (ARGB & 0xffffffff) over pixels,
    // mod 2147483647.
    def fixture(name: String): Array[Byte] = {
      val in = getClass.getResourceAsStream(s"/png/$name")
      assert(in != null, s"missing test resource png/$name")
      try in.readAllBytes() finally in.close()
    }
    val assets = Seq(
      MultimodalOps.Asset(1L, "image/png", fixture("rgb_3x2.png")),
      MultimodalOps.Asset(2L, "image/png", fixture("rgb_1x1.png")),
      MultimodalOps.Asset(3L, "image/png", fixture("pal_4x4.png")),
      MultimodalOps.Asset(4L, "image/png", fixture("corrupt.png"))).toDS()
    val out = MultimodalOps.decode(assets, MultimodalOps.PngImageDecoder)
      .collect().map(f => f.doc_id -> f).toMap
    // 3x2 true-color: six primaries
    assert(out(1L).width == 3 && out(1L).height == 2)
    assert(out(1L).checksum == 2097152008L)
    // 1x1 true-color (128,64,32)
    assert(out(2L).width == 1 && out(2L).height == 1)
    assert(out(2L).checksum == 2139111457L)
    // 4x4 palette (color type 3): indexed decode is exact sRGB
    // passthrough (a grayscale fixture would NOT be — ImageIO maps
    // linear-gray through a colorspace transform, so gray g decodes to
    // something other than (g,g,g))
    assert(out(3L).width == 4 && out(3L).height == 4)
    assert(out(3L).checksum == 2013265655L)
    // all real PNGs lead with the 0x89 signature byte
    assert(Seq(1L, 2L, 3L).forall(out(_).first_byte == 0x89))
    // a truncated PNG body degrades to the stub byte stats, never throws
    assert(out(4L).width == -1 && out(4L).n_bytes == 27)
    assert(out(4L).checksum == 166L)
  }

  test("real-pixel 4x4 thumbnails on the PNG fixtures match " +
    "independently-computed ARGB constants; corrupt bytes yield an " +
    "error row") {
    import spark.implicits._
    def fixture(name: String): Array[Byte] = {
      val in = getClass.getResourceAsStream(s"/png/$name")
      assert(in != null, s"missing test resource png/$name")
      try in.readAllBytes() finally in.close()
    }
    val assets = Seq(
      MultimodalOps.Asset(1L, "image/png", fixture("rgb_3x2.png")),
      MultimodalOps.Asset(2L, "image/png", fixture("rgb_1x1.png")),
      MultimodalOps.Asset(3L, "image/png", fixture("pal_4x4.png")),
      MultimodalOps.Asset(4L, "image/png", fixture("corrupt.png"))).toDS()
    val out = MultimodalOps.thumbnails(assets)
      .collect().map(t => t.doc_id -> t).toMap
    // Expected thumbs computed OUTSIDE the JVM decode path (stdlib
    // Python zlib PNG parse + the NN formula out(r,c) =
    // src(r*h div 4, c*w div 4), ARGB = 0xFF000000 | r<<16|g<<8|b):
    // 3x2 six primaries — rows (R,G,B)/(Y,C,M), NN duplicates
    // row 0 twice / col 0 twice
    assert(out(1L).ok && out(1L).width == 3 && out(1L).height == 2)
    assert(out(1L).thumb == Seq(
      4294901760L, 4294901760L, 4278255360L, 4278190335L,
      4294901760L, 4294901760L, 4278255360L, 4278190335L,
      4294967040L, 4294967040L, 4278255615L, 4294902015L,
      4294967040L, 4294967040L, 4278255615L, 4294902015L))
    // 1x1: all 16 cells the single pixel (128,64,32)
    assert(out(2L).thumb == Seq.fill(16)(4286595104L))
    // 4x4 palette: NN 4x4-to-4x4 is the identity mapping — the thumb
    // IS the indexed-decode pixel grid
    assert(out(3L).ok && out(3L).thumb == Seq(
      4278255360L, 4279365173L, 4280474986L, 4281584799L,
      4282694612L, 4283804169L, 4284913982L, 4286023795L,
      4287133608L, 4288243421L, 4289352978L, 4290462791L,
      4291572604L, 4292682417L, 4293792230L, 4294901787L))
    // corrupt bytes: recorded, not thrown — error row with empty thumb
    assert(!out(4L).ok && out(4L).width == -1 && out(4L).thumb.isEmpty)
  }

  test("phash: stub convention == real PNG decode, bit-identical " +
    "sketches on payload-grid gradients") {
    import spark.implicits._
    import java.awt.image.BufferedImage
    // A 16x4 payload grid renders both ways: as TEXT under the stub
    // convention (pixel = payload char) and as a real PNG whose pixel
    // (x,y) has r=g=b = ascii of the char at y*16+x. The stub sampling
    // (row (k DIV 4)*src_h DIV 4, col (k%4)*4; src_h=4) and the
    // thumbnail sampling (y = r*h DIV 4 = r, x = c*w DIV 4 = c*4) hit
    // THE SAME cells, and realPhashSketch reads the red channel, so
    // the aHash comparisons must agree bit-for-bit — the seam really
    // is a decoder swap, not a different operator.
    val rnd = new scala.util.Random(42)
    def payload(): String =
      Array.fill(64)((32 + rnd.nextInt(95)).toChar).mkString
    def pngOf(text: String): Array[Byte] = {
      val img = new BufferedImage(16, 4, BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 4; x <- 0 until 16) {
        val v = text(y * 16 + x).toInt
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val texts = (0L until 24L).map(i => i -> payload())
    val stub = MultimodalOps.stubPhashSketch(
        texts.toDF("doc_id", "text"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val real = MultimodalOps.realPhashSketch(
        texts.map { case (i, t) =>
          MultimodalOps.Asset(i, "image/png", pngOf(t)) }.toDS())
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(stub.size == 24 && real.size == 24)
    texts.foreach { case (i, _) => assert(stub(i) == real(i), s"doc $i") }
    // non-degenerate: the gradients produce varied sketches
    assert(stub.values.toSet.size > 1)
  }

  test("real-pixel phash pairs reproduce the brute-force Hamming set " +
    "through the banded machinery") {
    import spark.implicits._
    import java.awt.image.BufferedImage
    val rnd = new scala.util.Random(7)
    def png(cells: Array[Int]): Array[Byte] = {
      val img = new BufferedImage(16, 4, BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 4; x <- 0 until 16) {
        val v = cells(y * 16 + x)
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val base = Array.fill(64)(rnd.nextInt(256))
    val nearDup = base.clone()
    nearDup(4) = (nearDup(4) + 8) min 255   // one sampled cell nudged
    val assets = (Seq(
      0L -> base, 1L -> base.clone(), 2L -> nearDup) ++
      (3L until 10L).map(_ -> Array.fill(64)(rnd.nextInt(256))))
      .map { case (i, c) => MultimodalOps.Asset(i, "image/png", png(c)) }
    val sketches = MultimodalOps.realPhashSketch(assets.toDS())
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val brute = (for {
      a <- sketches.keys; b <- sketches.keys if a < b
      h = java.lang.Long.bitCount(sketches(a) ^ sketches(b)) if h <= 3
    } yield (a, b, h)).toSet
    val banded = MultimodalOps.realPhashPairs(spark, dir, assets.toDS())
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // the pigeonhole-banded plan loses nothing vs all-pairs
    assert(banded == brute)
    // the exact duplicate is always caught (Hamming 0)
    assert(banded.contains((0L, 1L, 0)))
    assert(banded.nonEmpty)
  }

  test("pipeline_dedup manifest composes the GLOBAL cluster pass with " +
    "the canonical quality pick") {
    val manifest = SparkEntry.queries("pipeline_dedup")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getBoolean(2),
          if (r.isNullAt(3)) None else Some(r.getLong(3)),
          if (r.isNullAt(4)) None else Some(r.getString(4)))).toMap
    // independent replay of the GLOBAL scoping (round-9 verdict #1):
    // CC over the source-blind 62-bit edge set, then the same
    // quality-desc/doc_id-asc pick the standalone operator ranks by
    val nodes = graft.core.Core.table(spark, dir, "documents")
      .select("doc_id")
    val clusters = graft.operators.DedupOps.ccPsLoop(nodes,
        graft.operators.DedupOps.simhashEdgesGlobal(spark, dir),
        graft.operators.DedupOps.StarCcPairs)._1
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val quality = SparkEntry.queries("txt_quality_score")(spark, dir)
      .select("doc_id", "quality")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val keptOf = clusters.groupBy(_._2).map { case (cl, members) =>
      cl -> members.keys.minBy(id => (-quality(id), id.toDouble)) }
    // one decision row per doc, cluster labels identical to the global
    // CC replay, keep == "I am my cluster's best member"
    assert(manifest.keySet == clusters.keySet)
    assert(manifest.forall { case (id, (cl, _, _, _)) => clusters(id) == cl })
    assert(manifest.forall { case (id, (cl, keep, _, _)) =>
      keep == (keptOf(cl) == id) })
    // dropped docs point at their cluster's kept member; kept docs at
    // nothing
    assert(manifest.forall {
      case (_, (cl, false, dupOf, reason)) =>
        dupOf.contains(keptOf(cl)) && reason.contains("near_dup")
      case (_, (_, true, dupOf, reason)) => dupOf.isEmpty && reason.isEmpty
    })
    // non-degenerate on this corpus: real drops exist, and the global
    // scope is doing real work — at least one cluster spans sources
    // (the cross-crawl duplication mode the within-source pass missed)
    assert(manifest.values.exists(!_._2))
    val srcOf = graft.core.Core.table(spark, dir, "documents")
      .select("doc_id", "source")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(clusters.groupBy(_._2).values
      .exists(m => m.keys.map(srcOf).toSet.size > 1),
      "no cross-source cluster found — global scoping is vacuous here")
  }

  test("StarCcPairs has converged on the gate corpus: the bounded " +
    "contract labels equal the true-component fixpoint's") {
    // the bounded (propagate, shortcut) unroll is the oracle-checkable
    // CONTRACT form; this pins that on the corpus the hash gate runs
    // against, it also IS the exact answer, so the manifest never
    // under-merges where the oracle can see it. The fixpoint reference
    // is the PLAIN-propagation loop — a different schedule — so
    // agreement here also pins that the shortcut rounds change the
    // convergence SPEED, never the converged labels.
    val nodes = graft.core.Core.table(spark, dir, "documents")
      .select("doc_id")
    val edges = graft.operators.DedupOps.simhashEdgesGlobal(spark, dir)
    val (labels, pairs, converged) = graft.operators.DedupOps.ccPsLoop(
      nodes, edges, graft.operators.DedupOps.StarCcPairs)
    val unrolled = labels
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val (fix, _) = CcReference
      .ccFixpointWithRounds(nodes, edges)
    val fixed = fix.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(unrolled == fixed,
      s"${graft.operators.DedupOps.StarCcPairs} (P,S) pairs differ " +
        "from the plain-propagation fixpoint — bump StarCcPairs")
    // and the doubled schedule's own fixpoint must sit within the
    // contract bound: the loop certified it (pairs includes the
    // certifying no-change pass)
    assert(converged && pairs <= graft.operators.DedupOps.StarCcPairs,
      s"no certified fixpoint within the bound: $pairs segments")
  }

  test("fingerprint is order-aware") {
    import spark.implicits._
    import graft.functions.TextHash
    val fp = (t: String) => Seq(t).toDF("text")
      .select((aggregate(
        transform(split(lower(col("text")), " "),
          (tok, i) => (TextHash.tokHash(tok) % TextHash.P) * (i + 1)),
        lit(0L), (acc, x) => acc + x) % TextHash.P).as("fp"))
      .as[Long].head()
    assert(fp("spark engine fast") != fp("fast engine spark"))
    assert(fp("spark engine fast") == fp("spark engine fast"))
  }

  test("txt_repetition: fractions match a hand fold; pathological docs " +
    "flag, varied docs don't") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_rep").toString
    Seq(
      (0L, "spam spam spam spam ham", "en", "web", 0L),      // top 4/5
      (1L, "a b a b a b a b", "en", "web", 0L),              // dup bigrams
      (2L, "one two three four five six seven", "en", "web", 0L),
      (3L, "solo", "en", "web", 0L))                          // 1 token
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("txt_repetition")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        ((r.getDouble(2), r.getDouble(3), r.getBoolean(4)))).toMap
    assert(out(0L)._1 == 0.8 && out(0L)._3)
    // "a b a b a b a b": 7 bigrams, 2 distinct -> dup frac 5/7
    assert(math.abs(out(1L)._2 - 5.0 / 7) < 1e-9 && out(1L)._3)
    assert(!out(2L)._3, "all-distinct doc must not flag")
    assert(out(3L)._1 == 1.0 && out(3L)._2 == 0.0,
      "single-token doc: top frac 1, bigram frac defined as 0")
    // and on the real corpus a nonempty strict minority flags
    val real = SparkEntry.queries("txt_repetition")(spark, TestSpark.sfDir)
    val n = real.count()
    val flagged = real.filter(col("repetitive")).count()
    assert(flagged > 0 && flagged < n / 2, s"$flagged/$n flagged")
  }

  test("txt_chunk: window geometry and full-coverage reconstruction") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_chunk").toString
    val twenty = (1 to 20).map(i => s"w$i").mkString(" ")
    Seq((0L, twenty, "en", "web", 0L), (1L, "tiny doc", "en", "web", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("txt_chunk")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
        r.getString(3)))
    // 20 tokens, width 16 stride 8 -> windows at 0 (16 toks) and 8 (12)
    val d0 = out.filter(_._1 == 0L)
    assert(d0.map(c => (c._2, c._3)).toSeq == Seq((0, 16), (1, 12)))
    assert(d0(0)._4.startsWith("w1 w2 ") && d0(1)._4.startsWith("w9 "))
    // short doc: exactly one chunk, the doc itself
    assert(out.filter(_._1 == 1L).toSeq == Seq((1L, 0, 2, "tiny doc")))
    // coverage on the real corpus: stride-sized prefixes of each doc's
    // chunks plus the last chunk reconstruct the document exactly
    val real = SparkEntry.queries("txt_chunk")(spark, TestSpark.sfDir)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(3)))
      .groupBy(_._1)
    val docs = graft.core.Core.table(spark, TestSpark.sfDir, "documents")
      .selectExpr("doc_id", "lower(text) AS text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    docs.foreach { case (id, text) =>
      val cs = real(id).sortBy(_._2).map(_._3)
      val rebuilt = (cs.init.map(_.split(" ").take(TextOps.ChunkStride)
        .mkString(" ")) :+ cs.last).mkString(" ")
      assert(rebuilt == text, s"doc $id chunk reconstruction")
    }
  }

  test("txt_pack: offsets are contiguous per source and bin math holds") {
    val rows = SparkEntry.queries("txt_pack")(spark, TestSpark.sfDir)
      .collect().map(r => (r.getString(1), r.getLong(0), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (_, rs) =>
      val seq = rs.sortBy(_._2)
      assert(seq.head._4 == 0L, "first doc starts the stream")
      seq.sliding(2).foreach {
        case Array(a, b) =>
          assert(b._4 == a._4 + a._3, "concat stream has no gaps")
        case _ =>
      }
    }
    rows.foreach { case (_, _, _, off, seqId, inSeq) =>
      assert(seqId == off / TextOps.PackBudget
        && inSeq == off % TextOps.PackBudget)
    }
  }

  test("txt_decontaminate: exact shared-gram counting vs a hand-built " +
    "contamination") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_dec").toString
    // doc 0 is benchmark; doc 20 copies one of its 4-gram runs, doc 21
    // shares only a 3-gram run (must NOT flag), doc 5 is benchmark and
    // identical to doc 0 (bench-vs-bench contamination counts too)
    Seq(
      (0L, "alpha beta gamma delta epsilon", "en", "web", 0L),
      (5L, "alpha beta gamma delta epsilon", "en", "web", 0L),
      (20L, "x alpha beta gamma delta y", "en", "web", 0L),
      (21L, "x beta gamma delta y z", "en", "web", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("txt_decontaminate")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
      .toSeq.sortBy(_._1)
    // doc 0/5: each shares both its 4-grams with the other benchmark doc
    assert(out(0) == ((0L, 2L, true)) && out(1) == ((5L, 2L, true)))
    // doc 20 carries exactly "alpha beta gamma delta"
    assert(out(2) == ((20L, 1L, true)))
    // 3-token overlap is below the gram width: clean
    assert(out(3) == ((21L, 0L, false)))
  }

  test("txt_quality_gopher: every rule flag matches an independent " +
    "recomputation and the battery discriminates") {
    val rows = SparkEntry.queries("txt_quality_gopher")(spark, dir)
      .collect()
    assert(rows.nonEmpty)
    val texts = graft.core.Core.table(spark, dir, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    rows.foreach { r =>
      val toks = texts(r.getLong(0)).toLowerCase.split(" ", -1).toSeq
      val n = toks.size
      assert(r.getInt(1) == n)
      val meanLen = BigDecimal(toks.map(_.length).sum.toDouble / n)
        .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(r.getDouble(2) - meanLen) <= 1e-9)
      val nStop = toks.distinct.count(TextOps.GopherStopwords.contains)
      assert(r.getInt(5) == nStop)
      assert(r.getBoolean(6) ==
        (n >= TextOps.GopherMinWords && n <= TextOps.GopherMaxWords))
      assert(r.getBoolean(10) == (nStop >= TextOps.GopherMinStopHits))
      assert(r.getBoolean(11) == (r.getBoolean(6) && r.getBoolean(7)
        && r.getBoolean(8) && r.getBoolean(9) && r.getBoolean(10)))
      // this all-alphabetic single-space corpus: symbol/alpha rules
      // degenerate to 0.0 / 1.0 — both must still pass their checks
      assert(r.getDouble(3) == 0.0 && r.getDouble(4) == 1.0)
    }
    // the battery must separate the corpus, not rubber-stamp it
    assert(rows.exists(_.getBoolean(11)) && rows.exists(!_.getBoolean(11)))
  }

  test("txt_shuffle_shard: a permutation — every doc exactly once, " +
    "contiguous per-shard positions, independent hash stream") {
    val rows = SparkEntry.queries("txt_shuffle_shard")(spark, dir)
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3)))
    val ids = graft.core.Core.table(spark, dir, "documents")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(rows.map(_._1).toSet == ids && rows.length == ids.size)
    rows.foreach { case (id, h, shard, _) =>
      val P = 2147483647L
      val eh = id % P * TextOps.ShuffleHashMul % P *
        TextOps.ShuffleHashMul % P
      assert(h == eh && shard == (eh % TextOps.ShuffleShards).toInt)
    }
    // the double-round stream genuinely permutes: within at least one
    // shard the hash order must differ from doc_id order (single-round
    // 69621 is monotone for every id below ~31k — the degeneracy the
    // doubleRoundHash scaladoc documents)
    assert(rows.groupBy(_._3).values.exists { rs =>
      val byPos = rs.sortBy(_._4).map(_._1).toSeq
      byPos != byPos.sorted
    })
    // positions are 1..count within each shard (a dense manifest), and
    // ordered by the hash — the deterministic global shuffle property
    rows.groupBy(_._3).foreach { case (_, rs) =>
      val sorted = rs.sortBy(_._4)
      assert(sorted.map(_._4).toSeq == (1 to rs.length))
      assert(sorted.map(_._2).toSeq == sorted.map(_._2).sortBy(identity).toSeq)
    }
    // the stream must not correlate with the split/sampling hashes:
    // different multipliers by construction
    assert(TextOps.ShuffleHashMul != TextOps.SplitHashMul)
  }

  test("txt_pii_redact: injected spans are counted and scrubbed; " +
    "clean docs pass through byte-identical") {
    val rows = SparkEntry.queries("txt_pii_redact")(spark, dir).collect()
    val texts = graft.core.Core.table(spark, dir, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (id, ne, ni, has, red) = (r.getLong(0), r.getInt(1), r.getInt(2),
        r.getBoolean(3), r.getString(4))
      assert(ne == (if (id % 5 == 0) 1 else 0), s"doc $id emails")
      assert(ni == (if (id % 7 == 0) 1 else 0), s"doc $id ips")
      assert(has == (ne > 0 || ni > 0))
      if (ne > 0) assert(red.contains("<EMAIL>")
        && !red.contains("@example.com"))
      if (ni > 0) assert(red.contains("<IP>") && !red.contains(" from 10."))
      if (!has) assert(red == texts(id))
    }
    assert(rows.exists(_.getBoolean(3)) && rows.exists(!_.getBoolean(3)))
  }

  test("dedup_substring: exact parity with a hand-built window/df " +
    "recomputation; no pairwise blowup in the counts") {
    val rows = SparkEntry.queries("dedup_substring")(spark, dir)
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
      assert(nGrams == gs.size, s"doc $id n_grams")
      val expectDup = gs.count(df(_) >= 2)
      assert(dupGrams == expectDup && isDup == (expectDup > 0), s"doc $id")
    }
    assert(rows.exists(_._4))
  }

  test("agg_funnel_conversion stages are monotonically shrinking and " +
    "win_streaks are genuine consecutive runs") {
    val f = SparkEntry.queries("agg_funnel_conversion")(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(f.keySet == Set("0_all", "1_view", "2_click", "3_purchase"))
    // ordered-funnel law: each stage is a subset of the previous
    assert(f("0_all") >= f("1_view") && f("1_view") >= f("2_click")
      && f("2_click") >= f("3_purchase"))
    assert(f("1_view") > 0)

    val streaks = SparkEntry.queries("win_streaks")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
    val userDays = graft.core.Core.table(spark, dir, "events")
      .select(col("user_id"), to_date(col("ts")).as("d")).distinct()
      .collect().map(r => (r.getLong(0), r.getDate(1).toLocalDate))
      .groupBy(_._1).map { case (u, ds) => u -> ds.map(_._2).toSet }
    assert(streaks.map(_._1).toSet == userDays.keySet)
    streaks.foreach { case (u, len, start) =>
      val days = userDays(u)
      val s0 = java.time.LocalDate.parse(start)
      // the reported streak really is consecutive and maximal-length
      assert((0 until len).forall(i => days.contains(s0.plusDays(i))),
        s"user $u streak not consecutive")
      val longest = days.toSeq.map { d =>
        Iterator.iterate(d)(_.plusDays(1)).takeWhile(days.contains).size
      }.max
      assert(len == longest, s"user $u: $len vs $longest")
    }
  }

  test("pipeline_curate composes the standalone filters verbatim: " +
    "manifest agrees with every per-operator output") {
    val m = SparkEntry.queries("pipeline_curate")(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getBoolean(1), Option(r.getString(2)),
        Option(r.getString(3)),
        if (r.isNullAt(4)) None else Some(r.getInt(4)))).toMap
    val gopher = SparkEntry.queries("txt_quality_gopher")(spark, dir)
      .collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(6), r.getBoolean(10)))).toMap
    val rep = SparkEntry.queries("txt_repetition")(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getBoolean(4)).toMap
    val cont = SparkEntry.queries("txt_decontaminate")(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    val split = SparkEntry.queries("txt_split_assign")(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    val shard = SparkEntry.queries("txt_shuffle_shard")(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(m.keySet == gopher.keySet)
    m.foreach { case (id, (keep, reason, sp, sh)) =>
      val (passWords, passStop) = gopher(id)
      val expect =
        if (!passWords) Some("words")
        else if (!passStop) Some("stopwords")
        else if (rep(id)) Some("repetitive")
        else if (cont(id)) Some("contaminated")
        else None
      assert(reason == expect, s"doc $id: $reason vs $expect")
      assert(keep == expect.isEmpty)
      if (keep) assert(sp.contains(split(id)) && sh.contains(shard(id)))
      else assert(sp.isEmpty && sh.isEmpty)
    }
    // non-degenerate funnel: kept docs exist and >1 distinct reason fires
    assert(m.values.exists(_._1)
      && m.values.flatMap(_._2).toSet.size > 1)
  }

  test("multimodal_phash_dedup: banded pair set equals an independent " +
    "all-pairs aHash recomputation") {
    val out = SparkEntry.queries("multimodal_phash_dedup")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    val docs = graft.core.Core.table(spark, dir, "documents")
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    def ahash(t: String): Long = {
      val n = t.length
      val srcH = (n + 15) / 16
      val cells = (0 until 16).map { k =>
        t.charAt(math.min((k / 4) * srcH / 4 * 16 + (k % 4) * 4 + 1, n) - 1)
          .toInt
      }
      val sum = cells.sum
      cells.zipWithIndex.map { case (c, k) =>
        if (16L * c > sum) 1L << k else 0L }.sum
    }
    val hashes = docs.map { case (id, src, t) => (id, src, ahash(t)) }
    val expect = (for {
      (a, sa, ha) <- hashes; (b, sb, hb) <- hashes
      if sa == sb && a < b
      d = java.lang.Long.bitCount(ha ^ hb) if d <= 3
    } yield (a, b) -> d).toMap
    assert(out == expect, s"${out.size} banded vs ${expect.size} all-pairs")
    assert(out.nonEmpty)
  }

  test("txt_bigram_logprob matches an independent fold; proper " +
    "conditional log-probabilities") {
    val rows = SparkEntry.queries("txt_bigram_logprob")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rows.nonEmpty)
    val docs = graft.core.Core.table(spark, dir, "documents")
      .select(col("doc_id"), split(lower(col("text")), " ").as("toks"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val allBg = docs.values.flatMap(ts => ts.zip(ts.drop(1))).toSeq
    val c12 = allBg.groupBy(identity).map { case (k, o) => k -> o.size.toLong }
    val c1 = allBg.groupBy(_._1).map { case (k, o) => k -> o.size.toLong }
    rows.foreach { case (_, _, lp) => assert(lp <= 0.0 && !lp.isNaN) }
    rows.take(25).foreach { case (id, n, lp) =>
      val bgs = docs(id).zip(docs(id).drop(1))
      assert(n == bgs.size)
      if (bgs.nonEmpty) {
        val triples = bgs.groupBy(identity).toSeq.map { case (bgk, o) =>
          (c12(bgk), c1(bgk._1), o.size.toLong) }.sorted
        val sum = triples.foldLeft(0.0) { case (acc, (a, b, tf)) =>
          acc + tf * (math.log(a.toDouble) - math.log(b.toDouble)) }
        val expect = BigDecimal(sum / n)
          .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
        assert(math.abs(expect - lp) <= 1e-9, s"doc $id: $expect vs $lp")
      }
    }
  }

  test("dedup_semdedup: cluster ids match the trained quantizer and " +
    "keep/drop is exactly the min-id near-dup rule") {
    val out = SparkEntry.queries("dedup_semdedup")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)), r.getBoolean(3)))
    val assign = SparkEntry.queries("sim_centroid_assign")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.map(_._1).toSet == assign.keySet)
    out.foreach { case (id, cid, _, _) => assert(cid == assign(id)) }
    val vecs = graft.core.Core.table(spark, dir, "embeddings")
      .collect().map { r =>
        r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray
      }.toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      val na = math.sqrt(a.map(x => x * x).sum)
      val nb = math.sqrt(b.map(x => x * x).sum)
      BigDecimal(d / (na * nb))
        .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    out.foreach { case (id, cid, dupOf, keep) =>
      val partners = out.filter(o => o._2 == cid && o._1 < id)
        .map(_._1).filter(p =>
          cos(vecs(id), vecs(p)) >= SimilarityOps.SemDedupTau)
      val expect = if (partners.isEmpty) None else Some(partners.min)
      assert(dupOf == expect, s"vec $id")
      assert(keep == expect.isEmpty)
    }
    assert(out.exists(_._4) && out.exists(!_._4))
  }

  test("txt_span_dedup: keep-first span semantics and in-order reconstruction") {
    val out = SparkEntry.queries("txt_span_dedup")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3)))
    val docs = graft.core.Core.table(spark, dir, "documents")
      .select(col("doc_id"), lower(col("text")).as("t"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out.map(_._1).toSet == docs.keySet)
    // independent keep-first replay over (doc_id, span_id) order
    val w = TextOps.SpanWidth
    def spansOf(t: String): Seq[String] =
      t.split(" ").grouped(w).map(_.mkString(" ")).toSeq
    val seen = scala.collection.mutable.Set[String]()
    val expect = out.map(_._1).sorted.map { id =>
      val sp = spansOf(docs(id))
      val kept = sp.filter(s => seen.add(s))
      id -> ((sp.size.toLong, kept.size.toLong, kept.mkString(" ")))
    }.toMap
    out.foreach { case (id, nSpans, nKept, clean) =>
      val (en, ek, ec) = expect(id)
      assert(nSpans == en && nKept == ek && clean == ec, s"doc $id")
    }
    // every distinct span survives exactly once corpus-wide
    val allSpans = docs.toSeq.sortBy(_._1).flatMap(d => spansOf(d._2))
    assert(out.map(_._3).sum == allSpans.distinct.size)
    // and something was actually dropped on this 70%-near-dup corpus
    assert(out.map(_._3).sum < allSpans.size)
  }

  test("txt_quality_tier: tiers are quality-monotone deciles with honest sizes") {
    val out = SparkEntry.queries("txt_quality_tier")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getLong(3)))
    assert(out.map(_._1).distinct.size == out.size)
    assert(out.forall(r => r._3 >= 1 && r._3 <= TextOps.QualityTiers))
    // monotone: higher quality never lands in a lower tier
    val byQ = out.sortBy(_._2)
    byQ.iterator.zip(byQ.iterator.drop(1)).foreach { case (a, b) =>
      assert(a._3 <= b._3)
    }
    // boundary-equal docs share a tier (ties never split)
    out.groupBy(_._2).values.foreach { g =>
      assert(g.map(_._3).distinct.size == 1)
    }
    // n_in_tier is the true tier occupancy and sums to the corpus
    val sizes = out.groupBy(_._3).map { case (t, g) => t -> g.size.toLong }
    out.foreach { case (_, _, t, n) => assert(n == sizes(t)) }
    assert(sizes.values.sum == out.size)
    // deciles: every tier within 3x of the uniform share (ties skew,
    // never vanish) and at least 5 distinct tiers materialize
    assert(sizes.size >= 5)
    assert(sizes.values.forall(_ <= out.size * 3 / TextOps.QualityTiers))
  }

  test("pipeline_mix: copy counts realize the per-source weights; " +
    "decisions are partition-independent") {
    val out = SparkEntry.queries("pipeline_mix")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getBoolean(4)))
    out.foreach { case (id, src, wMicro, n, inc) =>
      val idx = src.drop(3).toInt
      val expectW = (idx % 3) match {
        case 0 => TextOps.MixDownMicro
        case 1 => TextOps.MixKeepMicro
        case _ => TextOps.MixUpMicro
      }
      assert(wMicro == expectW, s"doc $id")
      // copy count brackets floor(w)..ceil(w)
      assert(n >= wMicro / 1000000 && n <= wMicro / 1000000 + 1)
      assert(inc == (n > 0))
    }
    // realized mass per regime tracks the target within a loose band
    // (hash-Bernoulli on ~160 docs/regime)
    Seq(TextOps.MixDownMicro, TextOps.MixKeepMicro, TextOps.MixUpMicro)
      .foreach { w =>
        val g = out.filter(_._3 == w)
        val realized = g.map(_._4).sum.toDouble / g.size
        assert(math.abs(realized - w / 1e6) < 0.15,
          s"weight $w realized $realized")
      }
    // rerun-stability: the decision depends only on (doc_id, source),
    // so a fresh plan reproduces the manifest exactly
    val again = SparkEntry.queries("pipeline_mix")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(3))).toMap
    out.foreach { case (id, _, _, n, _) => assert(again(id) == n) }
  }

  test("txt_vocab_coverage: OOV counts match an independent top-K vocab replay") {
    val out = SparkEntry.queries("txt_vocab_coverage")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3)))
    val docs = graft.core.Core.table(spark, dir, "documents")
      .select(col("doc_id"), lower(col("text")).as("t"))
      .collect().map(r => r.getLong(0) -> r.getString(1).split(" ").toSeq)
      .toMap
    val vocab = docs.values.flatten.groupBy(identity).toSeq
      .map { case (t, o) => (t, o.size) }
      .sortBy { case (t, n) => (-n, t) }.take(TextOps.VocabTopK)
      .map(_._1).toSet
    assert(out.map(_._1).toSet == docs.keySet)
    out.foreach { case (id, n, oov, rate) =>
      val ts = docs(id)
      val expectOov = ts.count(t => !vocab.contains(t)).toLong
      assert(n == ts.size && oov == expectOov, s"doc $id")
      val expectRate = BigDecimal(expectOov.toDouble / ts.size)
        .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(rate - expectRate) <= 1e-9)
    }
    // both in- and out-of-vocab mass exist on this corpus
    assert(out.exists(_._3 > 0) && out.exists(r => r._3 < r._2))
  }

  test("join_asof_nearest: nearest-within-tolerance vs a brute-force replay") {
    val out = SparkEntry.queries("join_asof_nearest")(spark, dir)
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(2)) None else Some(r.getLong(2)),
        if (r.isNullAt(4)) None else Some(r.getString(4))))
    val ev = graft.core.Core.table(spark, dir, "events")
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("us"), col("event_type"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3)))
    val clicks = ev.filter(_._4 == "click").groupBy(_._2)
    val tol = RelationalOps.AsofNearestTolUs
    out.foreach { case (pid, clickId, dirn) =>
      val (_, uid, pus, _) = ev.find(_._1 == pid).get
      val cands = clicks.getOrElse(uid, Array.empty)
        .filter(c => math.abs(c._3 - pus) <= tol)
      if (cands.isEmpty) assert(clickId.isEmpty && dirn.isEmpty, s"p $pid")
      else {
        // rank by (distance, back-before-fwd, direction-signed id)
        val best = cands.minBy(c => (math.abs(c._3 - pus),
          if (c._3 <= pus) 0 else 1,
          if (c._3 <= pus) -c._1 else c._1))
        assert(clickId.contains(best._1), s"p $pid")
        assert(dirn.contains(if (best._3 <= pus) "back" else "fwd"))
      }
    }
    // both directions and the no-candidate case all occur
    assert(out.exists(_._3.contains("back")) &&
      out.exists(_._3.contains("fwd")) && out.exists(_._2.isEmpty))
  }

  test("pipeline_full manifest is composition-identical to the three standalone legs") {
    val full = SparkEntry.queries("pipeline_full")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getBoolean(1),
        if (r.isNullAt(2)) None else Some(r.getString(2)),
        if (r.isNullAt(3)) None else Some(r.getLong(3)),
        r.getLong(4),
        if (r.isNullAt(5)) None else Some(r.getString(5))))
    val cur = SparkEntry.queries("pipeline_curate")(spark, dir)
      .collect().map(r => r.getLong(0) -> ((r.getBoolean(1),
        if (r.isNullAt(2)) None else Some(r.getString(2)),
        if (r.isNullAt(3)) None else Some(r.getString(3))))).toMap
    val ded = SparkEntry.queries("pipeline_dedup")(spark, dir)
      .collect().map(r => r.getLong(0) -> ((r.getBoolean(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3))))).toMap
    val mix = SparkEntry.queries("pipeline_mix")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(full.map(_._1).toSet == cur.keySet)
    full.foreach { case (id, keep, reason, dupOf, nCopies, split) =>
      val (cKeep, cReason, cSplit) = cur(id)
      val (dKeep, dDupOf) = ded(id)
      assert(nCopies == mix(id), s"doc $id")
      assert(keep == (cKeep && dKeep && nCopies > 0), s"doc $id")
      val expectReason = cReason
        .orElse(if (!dKeep) Some("near_dup") else None)
        .orElse(if (nCopies == 0) Some("mixed_out") else None)
      assert(reason == expectReason, s"doc $id")
      assert(dupOf == dDupOf, s"doc $id")
      assert(split == (if (keep) cSplit else None), s"doc $id")
    }
    // every reason class materializes on this corpus
    val reasons = full.flatMap(_._3).toSet
    assert(reasons.contains("near_dup") && reasons.contains("mixed_out"),
      reasons)
  }

  test("multimodal_align_filter: keep is exactly the centroid-cosine rule") {
    val out = SparkEntry.queries("multimodal_align_filter")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2),
        r.getDouble(3), r.getBoolean(4)))
    assert(out.size == 500 && out.exists(_._5) && out.exists(!_._5))
    val vecs = graft.core.Core.table(spark, dir, "embeddings")
      .collect().map { r => (r.getLong(0),
        r.getSeq[Float](1).map(_.toDouble).toArray, r.getInt(2)) }
    // independent centroid replay: micro-quantized component means
    val cents = vecs.groupBy(_._3).map { case (l, vs) =>
      val dims = vs.head._2.length
      l -> Array.tabulate(dims) { d =>
        vs.map(v => math.round(v._2(d) * 1e6)).sum / (vs.size * 1e6)
      }
    }
    out.foreach { case (id, _, label, align, keep) =>
      val (_, v, l) = vecs.find(_._1 == id).get
      assert(l == label)
      val c = cents(l)
      val d = v.zip(c).map { case (x, y) => x * y }.sum
      val expect = BigDecimal(d / (math.sqrt(v.map(x => x * x).sum)
          * math.sqrt(c.map(x => x * x).sum)))
        .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(align - expect) <= 1e-9, s"vec $id")
      assert(keep == (align >= SimilarityOps.AlignTau))
    }
  }

  test("pipeline_stats attrition agrees with a fold over the pipeline_curate manifest") {
    val stats = SparkEntry.queries("pipeline_stats")(spark, dir)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(stats.map(_._1).toSeq ==
      Seq("words", "stopwords", "repetitive", "contaminated"))
    // independent replay: count first-failing reasons in the manifest
    // and walk the funnel in stage order
    val reasons = SparkEntry.queries("pipeline_curate")(spark, dir)
      .collect().map(r =>
        if (r.isNullAt(2)) None else Some(r.getString(2)))
    val byReason = reasons.flatten.groupBy(identity)
      .map { case (k, v) => k -> v.size.toLong }
    var nIn = reasons.size.toLong
    stats.foreach { case (stage, _, in, dropped, out) =>
      assert(in == nIn, stage)
      assert(dropped == byReason.getOrElse(stage, 0L), stage)
      assert(out == in - dropped, stage)
      nIn = out
    }
    // the funnel's final survivor count is exactly the kept docs
    assert(nIn == reasons.count(_.isEmpty))
  }

  test("sample_reservoir is the exact top-K of the independent hash stream") {
    val out = SparkEntry.queries("sample_reservoir")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(3)))
    val ids = graft.core.Core.table(spark, dir, "documents")
      .select("doc_id").collect().map(_.getLong(0))
    val P = graft.functions.TextHash.P
    def h2(id: Long, mul: Long): Long = id % P * mul % P * mul % P
    val expect = ids
      .map(id => (id, h2(id, TextOps.ReservoirHashMul)))
      .sortBy { case (id, h) => (h, id) }
      .take(TextOps.ReservoirK)
      .sortBy(_._1)
    assert(out.toSeq == expect.toSeq)
    // the double-round stream genuinely PERMUTES the id range (the
    // single-round streams are monotone for small ids — the exact trap
    // the operator scaladoc documents)...
    val ranking = ids.map(id => (id, h2(id, TextOps.ReservoirHashMul)))
      .sortBy { case (id, h) => (h, id) }.map(_._1).toSeq
    assert(ranking != ids.sorted.toSeq)
    // ...and is independent of the split/shard/mix streams: a
    // different multiplier yields a different corpus ordering
    for (mul <- Seq(TextOps.SplitHashMul, TextOps.ShuffleHashMul,
        TextOps.MixHashMul)) {
      val other = ids.map(id => (id, h2(id, mul)))
        .sortBy { case (id, h) => (h, id) }.map(_._1).toSeq
      assert(ranking != other)
    }
  }
  test("curate fusion gate: fused and rescan regimes produce identical " +
    "drop reasons (round-16 size gate)") {
    // the gate's fused outcome (the contract corpus's) persists the
    // corpus-sized grams arrays; the rescan outcome persists only
    // narrow funnel columns and the gram branch rescans the parquet
    // pruned. The regime must be invisible in the OUTPUT: same funnel,
    // same contamination set, same hashes.
    def collectReasons(fused: Boolean) = {
      val out = graft.operators.TextOps
        .curateWithReasonsGated(spark, dir, fused)
        .select("doc_id", "n", "map_drop", "drop_reason",
          "h_split", "h_shard")
        .collect()
        .map(r => r.getLong(0) -> (r.get(1), Option(r.getString(2)),
          Option(r.getString(3)), r.get(4), r.get(5)))
        .toMap
      graft.core.Core.releaseShared()
      out
    }
    val fused = collectReasons(fused = true)
    val rescan = collectReasons(fused = false)
    assert(fused.nonEmpty && fused == rescan,
      "fused and rescan curate regimes diverged")
  }
}
