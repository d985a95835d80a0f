package graft.operators

import graft.core.Core._
import graft.functions.TextHash
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text-analysis operators for a large-scale training-data pipeline
  * (north-star extensions; SURVEY.md §2-B `txt_*`): tokenize/TF,
  * n-grams, language ID, quality scoring, token counting, document
  * fingerprinting — all over `documents`.
  *
  * Scale notes: everything here is embarrassingly parallel per document
  * (map-side, no shuffle except the final groupBy/word counts, which are
  * partially aggregated before the exchange). No UDFs — higher-order
  * array functions keep it inside whole-stage codegen.
  */
object TextOps {

  /** ln(2) as its correctly-rounded double literal, shared by the
    * Spark and DuckDB sides of txt_entropy so the log2 divisor is the
    * SAME bits in both engines. */
  private[operators] val Ln2: Double = 0.6931471805599453

  private def toks(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "documents")
      .withColumn("toks", split(lower(col("text")), " "))

  /** Per-language marker-word profiles for the n-gram/stopword language
    * heuristic. Real-world function words; the synthetic corpus only
    * contains English-ish tokens, so most docs resolve to 'en' or
    * 'unknown' — the operator (profile join + per-doc argmax) is the
    * deliverable, not the synthetic accuracy. */
  val langProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "is"),
    "es" -> Seq("el", "la", "de", "que", "y"),
    "fr" -> Seq("le", "les", "des", "et", "une"),
    "de" -> Seq("der", "die", "und", "nicht", "ist"),
    "zh" -> Seq("de5", "shi4", "le5", "zai4", "wo3"))

  private def profilesDf(s: SparkSession): DataFrame = {
    import s.implicits._
    langProfiles.flatMap { case (l, ws) => ws.map(w => (w, l)) }
      .toDF("marker", "cand_lang")
  }

  private val profilesValuesSql: String =
    langProfiles.flatMap { case (l, ws) => ws.map(w => s"('$w', '$l')") }
      .mkString("(VALUES ", ", ", ") AS prof(marker, cand_lang)")

  /** Characteristic character bigrams per language (n-gram profile
    * method); the synthetic corpus is English-ish ASCII, so this mostly
    * resolves to 'en'/'unknown' — the operator shape is the point. */
  val charProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("th", "he", "er", "in", "re"),
    "es" -> Seq("ll", "rr", "ci", "os", "ar"),
    "fr" -> Seq("ou", "le", "es", "ai", "qu"),
    "de" -> Seq("ch", "ei", "en", "sc", "un"),
    "zh" -> Seq("zh", "ng", "sh", "xi", "ao"))

  private def charProfilesDf(s: SparkSession): DataFrame = {
    import s.implicits._
    charProfiles.flatMap { case (l, gs) => gs.map(g => (g, l)) }
      .toDF("gram", "cand_lang")
  }

  private val charProfilesValuesSql: String =
    charProfiles.flatMap { case (l, gs) => gs.map(g => s"('$g', '$l')") }
      .mkString("(VALUES ", ", ", ") AS prof(gram, cand_lang)")

  /** The quality-score derivation (doc_id, n_tokens, stop_hits,
    * avg_tok_len, stop_ratio, quality) — ONE definition shared by the
    * txt_quality_score contract query and dedup_canonical_pick's
    * ranking, so the weights/stoplist cannot drift between operators. */
  private[operators] def qualityParts(s: SparkSession, dir: String): DataFrame = {
    val stop = Seq("the", "a", "of", "and", "to", "in", "is", "on")
    toks(s, dir)
      .withColumn("n_tokens", size(col("toks")))
      .withColumn("stop_hits",
        size(filter(col("toks"), t => t.isin(stop: _*))))
      .withColumn("avg_tok_len",
        (length(col("text")) - (col("n_tokens") - 1)).cast(DoubleType)
          / col("n_tokens"))
      .withColumn("stop_ratio",
        col("stop_hits").cast(DoubleType) / col("n_tokens"))
      .withColumn(
        "quality",
        lit(0.4) * least(col("n_tokens") / 100.0, lit(1.0))
          + lit(0.3) * (lit(1.0) - col("stop_ratio"))
          + lit(0.3) * least(col("avg_tok_len") / 8.0, lit(1.0)))
  }

  /** DuckDB twin of [[qualityParts]]: a full SELECT producing
    * (doc_id, n_tokens, stop_hits, avg_tok_len, stop_ratio, quality),
    * usable as a CTE body. */
  private[operators] val qualityPartsSql: String =
    """SELECT doc_id, n_tokens, stop_hits, avg_tok_len, stop_ratio,
      |       0.4 * least(n_tokens / 100.0, 1.0)
      |         + 0.3 * (1.0 - stop_ratio)
      |         + 0.3 * least(avg_tok_len / 8.0, 1.0) AS quality
      |FROM (
      |  SELECT doc_id, n_tokens, stop_hits,
      |         CAST(length(text) - (n_tokens - 1) AS DOUBLE) / n_tokens
      |           AS avg_tok_len,
      |         CAST(stop_hits AS DOUBLE) / n_tokens AS stop_ratio
      |  FROM (
      |    SELECT doc_id, text,
      |           CAST(len(string_split(lower(text), ' ')) AS INTEGER)
      |             AS n_tokens,
      |           CAST(len(list_filter(string_split(lower(text), ' '),
      |             t -> t IN ('the','a','of','and','to','in','is','on')))
      |             AS INTEGER) AS stop_hits
      |    FROM documents))""".stripMargin

  /** txt_repetition flag thresholds (fractions of the doc): chosen so a
    * meaningful minority (~13%) of the synthetic corpus flags; the
    * operator shape — per-doc repetition fractions thresholded into a
    * keep/drop signal — is the Gopher-style repetition filter (Rae et
    * al. 2021, "Scaling Language Models", §A.1.1 repetition rules)
    * every LLM curation pipeline runs. */
  val RepTopTokFrac = 0.15
  val RepDupBigramFrac = 0.08

  /** txt_decontaminate n-gram width. Production decontamination uses
    * 8-13-token grams (GPT-3 appendix C methodology); this corpus's
    * 31-word vocabulary makes exact long grams vanishingly rare outside
    * true near-dups, so the contract pins 4 — the relational shape
    * (bounded benchmark gram set, broadcast, distinct-overlap count) is
    * identical at any width. */
  val DecontaminateGram = 4

  /** Benchmark set for txt_decontaminate: the bounded doc_id prefix
    * standing in for an eval suite's documents. */
  val DecontaminateBenchDocs = 10

  /** txt_chunk window geometry: 16-token windows, stride 8 (50%
    * overlap) — real pipelines use e.g. 2048/1024; the relational
    * shape is width-independent. */
  val ChunkWidth = 16
  val ChunkStride = 8

  /** txt_pack training-sequence token budget. */
  val PackBudget = 256

  /** pipeline_tokenize training-sequence SUBWORD budget: the contract
    * corpus segments to ~3.8 subwords per word under the 8-round BPE
    * vocab, so 4× [[PackBudget]] keeps sequence counts comparable to
    * the whitespace-token packing. */
  val BpePackBudget = 1024

  /** txt_split_assign percent boundaries: bucket < 90 → train,
    * < 95 → val, else test. */
  val SplitTrainPct = 90
  val SplitValPct = 95

  /** txt_split_assign hash multiplier: MINSTD / Park–Miller 48271 — a
    * public full-period multiplier mod 2³¹−1, deliberately different
    * from sample_stratified's Knuth constant so split assignment and
    * sampling are independent hash streams. */
  val SplitHashMul = 48271L

  /** txt_quality_gopher rule battery (Rae et al. 2021, "Scaling
    * Language Models: Gopher", §A.1.1 quality rules): word-count
    * bounds, mean-word-length band, symbol-token ratio cap, alphabetic
    * fraction floor, and the ≥2-distinct-stopwords requirement. The
    * bounds are the paper's (50 ≤ words ≤ 100k, 3 ≤ mean len ≤ 10,
    * symbols ≤ 10%, ≥80% alphabetic); the synthetic corpus's 10–110
    * token docs make the word-count and stopword rules the
    * discriminating ones, which is the point — each rule reports its
    * own flag alongside the combined verdict. */
  val GopherMinWords = 50
  val GopherMaxWords = 100000
  val GopherMinMeanLen = 3.0
  val GopherMaxMeanLen = 10.0
  val GopherMaxSymbolRatio = 0.1
  val GopherMinAlphaFrac = 0.8
  val GopherMinStopHits = 2
  /** The paper's stopword list (§A.1.1: "contains at least two of the
    * following English words") plus the article "a": the synthetic
    * 31-word vocabulary contains only {"the", "a"} of the function
    * words, so the verbatim list would leave the ≥2-hit rule
    * constant-false and the combined verdict untestable. The rule
    * itself (≥ [[GopherMinStopHits]] DISTINCT hits) is unchanged. */
  val GopherStopwords: Seq[String] =
    Seq("the", "a", "be", "to", "of", "and", "that", "have", "with")

  /** txt_shuffle_shard configuration: 8 output shards (a deployment
    * sizes this to its writer parallelism — thousands of shards at
    * 100 TB; the plan is shard-parallel either way), hashed with a
    * FOURTH independent full-period multiplier mod 2³¹−1 (L'Ecuyer's
    * 69621, public LCG literature) so training order never correlates
    * with sampling, temperature balancing, or split assignment. */
  val ShuffleShards = 8
  val ShuffleHashMul = 69621L

  /** Rank-by-hash streams take TWO Lehmer rounds; low-bit streams take
    * one. id·mul stays below the modulus for id < P/mul, so ONE round
    * is monotone in doc_id there — harmless when only h mod small-n is
    * consumed (split buckets, mix Bernoulli: the residues stride
    * through a full coprime cycle either way), but fatal when docs are
    * ORDERED by h: "pseudo-random training order" silently degenerates
    * to doc_id order for every id below ~P/mul (≈31k at 69621 — i.e.
    * every corpus this repo tests). The second multiplication wraps P
    * thousands of times and genuinely permutes the range, and the
    * shard/order hash (ShuffleHashMul) and the reservoir stream both
    * rank, so both are double-round; the large-multiplier streams
    * (stratified 2654435761, temperature 1103515245) wrap P from id≈2
    * and never had the degeneracy. */
  private[graft] def doubleRoundHash(mul: Long): Column =
    ((col("doc_id") % lit(TextHash.P)) * lit(mul)) % lit(TextHash.P) *
      lit(mul) % lit(TextHash.P)

  /** txt_span_dedup span width: non-overlapping token windows (a
    * PARTITION of the doc, unlike txt_chunk's 50%-overlap windows —
    * dedup must assign every token to exactly one span so dropping a
    * span never drops text twice). 8 tokens makes the 10–110-token
    * corpus yield 2–14 spans per doc; the plan is width-independent. */
  val SpanWidth = 8

  /** pipeline_mix per-source weights in exact integer MICRO-units
    * (1e6 = weight 1.0): the mixture a training run actually configures
    * — down-sample (0.25×), keep (1×), up-sample (2.5×) — keyed by
    * src_idx % 3 so all three regimes appear on the synthetic corpus.
    * Micro-ints keep every comparison exact cross-engine. */
  val MixDownMicro = 250000L
  val MixKeepMicro = 1000000L
  val MixUpMicro = 2500000L

  /** pipeline_mix hash multiplier: the original Lehmer/MINSTD 16807 —
    * a FIFTH independent full-period multiplier mod 2³¹−1, disjoint
    * from split (48271), shard (69621), stratified (Knuth) and
    * temperature (glibc) streams, so mixture inclusion never
    * correlates with any other sampled decision. */
  val MixHashMul = 16807L

  /** sample_reservoir size and hash multiplier: fixed-size corpus-wide
    * uniform sample — the distributed reservoir. Ranking by a
    * deterministic per-doc hash and keeping the K smallest is the
    * relational form of reservoir sampling (each doc's rank is an
    * independent uniform draw), and Spark plans sort+limit as
    * TakeOrderedAndProject: per-partition top-K, one K-row merge,
    * never a global sort — the shape that holds at 100 TB. 40692 is
    * L'Ecuyer's second MINSTD-family full-period multiplier mod 2³¹−1
    * (public LCG literature) — a SIXTH independent hash stream,
    * disjoint from split/shard/stratified/temperature/mix. */
  val ReservoirK = 300
  val ReservoirHashMul = 40692L

  /** txt_quality_tier tier count (deciles) and the boundary fractions,
    * rendered from ONE Seq so the Spark `percentile` array and the
    * DuckDB `quantile_cont` list carry bit-identical double literals
    * (3 * 1.0/10 prints 0.30000000000000004 in both). */
  val QualityTiers = 10
  val TierFractions: Seq[Double] =
    (1 until QualityTiers).map(_ * 1.0 / QualityTiers)

  /** txt_perplexity_filter tercile boundary fractions, rendered from
    * ONE Seq by the [[TierFractions]] convention so the Spark
    * `percentile` array and the DuckDB `quantile_cont` list carry
    * bit-identical double literals (1.0/3 prints 0.3333333333333333
    * in both engines and parses back to the same double). */
  val PerplexityTerciles: Seq[Double] = (1 until 3).map(_ * 1.0 / 3)

  /** txt_bm25_rank configuration: the standard Okapi constants
    * (k1 = 1.2, b = 0.75 — Robertson et al., the Lucene defaults, as
    * exact double literals shared with the oracle) and a fixed query
    * mixing common terms with the corpus's one rare discriminator
    * ('dup', df ≈ 5% — high idf, so ranking exercises both the tf
    * saturation and the idf separation). A deployment binds the query
    * per request; the plan is query-independent. */
  val Bm25QueryTerms: Seq[String] = Seq("dup", "query", "spark", "vector")
  val Bm25TopK = 20

  /** txt_pmi_colloc thresholds: bigrams below the count floor are PMI
    * noise (a 1-count bigram of two rare words gets an enormous PMI —
    * the classic pathology every collocation extractor floors away);
    * top-K bounds the contract output. Both vocabulary-bounded — the
    * relation never exceeds vocab² rows at any corpus scale. */
  val PmiMinCount = 5
  val PmiTopK = 50

  /** txt_winnow fingerprint geometry (Schleimer–Wilkerson–Aiken
    * winnowing, SIGMOD'03): rolling hashes of every K-char gram, then
    * the minimum hash of each W-consecutive-gram window is SELECTED as
    * a fingerprint. The paper's guarantee: any verbatim run of at
    * least K + W − 1 characters (here 11) shared by two documents
    * shares at least one selected fingerprint — so matching on the
    * selected set (a ~1/W sample of all grams) loses no long overlap,
    * the same pigeonhole structure as dedup_substring's sampled
    * windows but position-robust (selection follows hash minima, not
    * fixed strides, so an insertion near the start of a doc does not
    * shift every later sample). K = 8 chars, W = 4 grams — defined on
    * the codegen'd expression (plans/Winnow.scala) the contract query
    * ships; the HOF twin in DotProductSpec pins the semantics. */
  val WinnowK: Int = graft.plans.Winnow.K
  val WinnowW: Int = graft.plans.Winnow.W

  /** DuckDB CTE body producing `(doc_id, source, fps)` — each doc's
    * winnowing fingerprint set under the contract geometry. ONE
    * definition shared by txt_winnow's and dedup_winnow's oracles so
    * the selection scheme cannot drift between them. */
  private[operators] val winnowFpsSql: String =
    s"""SELECT doc_id, source, CASE WHEN len(gh) >= 1 THEN
       |    list_distinct(list_transform(
       |      generate_series(1,
       |        greatest(CAST(len(gh) AS INTEGER) - ${WinnowW - 1}, 1)),
       |      j -> list_min(list_slice(gh, j, j + ${WinnowW - 1}))))
       |  ELSE CAST([] AS BIGINT[]) END AS fps
       |FROM (
       |  SELECT doc_id, source,
       |    CASE WHEN len(codes) >= $WinnowK THEN
       |      list_transform(
       |        generate_series(1, CAST(len(codes) AS INTEGER)
       |          - ${WinnowK - 1}),
       |        i -> list_reduce(list_prepend(CAST(0 AS BIGINT),
       |               list_slice(codes, i, i + ${WinnowK - 1})),
       |             (a, c) -> (a * 31 + c) % ${TextHash.P}))
       |    ELSE CAST([] AS BIGINT[]) END AS gh
       |  FROM (SELECT doc_id, source,
       |          list_transform(list_filter(string_split(text, ''),
       |              c -> c <> ''),
       |            c -> CAST(unicode(c) AS BIGINT)) AS codes
       |        FROM documents))""".stripMargin

  /** txt_vocab_coverage vocabulary size: top-K corpus tokens by global
    * frequency (deterministic (gtf desc, tok) tie-order). 16 of the
    * synthetic 31-word vocabulary, so in- and out-of-vocab tokens both
    * occur; a deployment passes its tokenizer's vocab instead — the
    * plan (vocab-bounded broadcast + one linear pass) is identical. */
  val VocabTopK = 16

  /** txt_pii_redact patterns. Both regexes restrict to constructs with
    * IDENTICAL semantics in Java's regex (Spark) and RE2 (DuckDB) —
    * character classes, bounded repetition, \b word boundaries; no
    * backreferences or lookaround — so counts and replacements match
    * byte-for-byte cross-engine. */
  val EmailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  val IpRe = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** Map-side curation columns over any (doc_id, text) relation — the
    * flag chain `pipeline_curate` ships, a stateless projection: Gopher
    * word-count/stopword rules and the repetition filter as a
    * first-failing `map_drop` reason, the
    * doc's distinct decontamination grams, and both assignment hashes.
    * Every expression is verbatim the standalone operator's, so
    * composed and per-operator outputs provably agree. */
  private[graft] def curateMapSide(docs: DataFrame): DataFrame = {
    // repetition counts via the codegen'd graft_tok_stats: the nested
    // HOF top-token scan + per-bigram string building profiled as a
    // 7.4 s single-task stage under every curate-family query (the
    // map-side chain runs at split parallelism — docs/PLANS.md); one
    // primitive interning pass replaces both. HOF parity is asserted
    // in DotProductSpec; the DuckDB oracles keep the list-lambda form.
    graft.plans.TokStats.register(docs.sparkSession)
    val g = DecontaminateGram
    val lastStart = s"greatest(size(toks) - ${g - 1}, 0)"
    val gramExprs = (1 until g).map(k => s"toks[i + $k]").mkString(", ")
    docs
      .withColumn("toks", split(lower(col("text")), " "))
      .withColumn("grams", array_distinct(expr(
        s"transform(slice(toks, 1, $lastStart), " +
          s"(t, i) -> concat_ws(' ', t, $gramExprs))")))
      .withColumn("ts",
        call_function("graft_tok_stats", lower(col("text"))))
      .withColumn("n", col("ts.n"))
      .withColumn("n_stop",
        size(array_intersect(array_distinct(col("toks")),
          typedLit(GopherStopwords))))
      .withColumn("top_cnt", col("ts.top_cnt"))
      .withColumn("top_tok_frac",
        round(col("top_cnt").cast(DoubleType) / col("n"), 9))
      .withColumn("dup_bigram_frac",
        when(col("n") > 1,
          round(lit(1.0)
            - col("ts.n_distinct_bigrams").cast(DoubleType)
              / col("ts.n_bigrams"), 9))
          .otherwise(lit(0.0)))
      .withColumn("map_drop",
        when(!(col("n") >= GopherMinWords && col("n") <= GopherMaxWords),
          "words")
          .when(col("n_stop") < GopherMinStopHits, "stopwords")
          .when(col("top_tok_frac") >= RepTopTokFrac
            || col("dup_bigram_frac") >= RepDupBigramFrac, "repetitive"))
      .withColumn("h_split",
        ((col("doc_id") % lit(TextHash.P)) * lit(SplitHashMul))
          % lit(TextHash.P))
      .withColumn("h_shard", doubleRoundHash(ShuffleHashMul))
  }

  /** doc_id + first-failing curate drop_reason (the ordered funnel:
    * words → stopwords → repetitive → contaminated) plus the
    * assignment hashes — the curate-funnel core SHARED by
    * `pipeline_curate`, `pipeline_full`'s curate leg and
    * `pipeline_stats`: one map-side flag pass + the bounded broadcast
    * gram join. One definition, three consumers — composed outputs
    * cannot drift from the standalone operator by construction. */
  /** Fused-curate cache gate (round-15 verdict weak #2): UP TO this
    * doc count the curate pass persists the corpus-sized grams arrays
    * — one cache, one corpus text scan for both the gram and flag
    * branches, measured −20 s/run on the pipeline family at sf0.1.
    * ABOVE it only the narrow funnel columns persist and the gram
    * branch re-scans the parquet column-pruned: at the 100 TB design
    * point a MEMORY_AND_DISK persist of ~corpus-sized gram arrays is a
    * multi-copy local-disk write a second pruned scan beats (the
    * round-3 wide-cache trap class). 2M docs ≈ a few GB of cached
    * gram arrays on the measured corpus shape — the working-set size
    * where cache build + eviction pressure starts losing to the
    * rescan. Decided at build from the `documents` footer row count
    * ([[footerRows]]: driver IO that stops past the gate, no job). */
  private[graft] val CurateFuseMaxDocs = 2000000L

  private def curateWithReasons(s: SparkSession, dir: String): DataFrame =
    curateWithReasonsGated(s, dir,
      footerRows(s, dir, "documents", CurateFuseMaxDocs) <= CurateFuseMaxDocs)

  /** [[curateWithReasons]] in the regime the gate's outcome `fused`
    * names — specs force both regimes on the same corpus and assert
    * identical output. */
  private[graft] def curateWithReasonsGated(s: SparkSession,
      dir: String, fused: Boolean): DataFrame = {
    // ONE curate pass shared by both branches (round-15 A/B): the
    // gram branch and the flag branch previously each carried their
    // own curateMapSide subtree — two corpus text scans per
    // curate-family query (column pruning kept tok_stats out of the
    // gram branch, but the scan + lower/split ran twice). Below the
    // gate, cm persists the pass once with exactly the columns the two
    // branches union (grams for contamination, n/map_drop/hashes for
    // the funnel); both branches read it via columnar cache pruning,
    // and the exploded (doc_id, g) relation is NOT persisted — both
    // gram consumers re-explode from cm's columnar cache (ADVICE r15:
    // persisting both forms roughly doubled cached gram bytes for one
    // saved explode). Above the gate, no corpus-sized relation is
    // cached at all: the funnel cache drops `grams` and the gram
    // branch is its own column-pruned rescan.
    val docs = table(s, dir, "documents").select("doc_id", "text")
    val (cmNarrow, grams) =
      if (fused) {
        val cm = shared(curateMapSide(docs)
          .select(col("doc_id"), col("grams"), col("n"), col("map_drop"),
            col("h_split"), col("h_shard")))
        (cm.drop("grams"),
          cm.select(col("doc_id"), explode(col("grams")).as("g")))
      } else {
        val cm = shared(curateMapSide(docs)
          .select(col("doc_id"), col("n"), col("map_drop"),
            col("h_split"), col("h_shard")))
        // pruned rescan: only doc_id + the gram transform's inputs
        // survive column pruning; the tok-stats expression tree is
        // projected away by Catalyst
        (cm, curateMapSide(docs)
          .select(col("doc_id"), explode(col("grams")).as("g")))
      }
    val bench = grams.filter(col("doc_id") < DecontaminateBenchDocs)
      .select(col("doc_id").as("bench_id"), col("g"))
    val contaminated = grams.join(broadcast(bench), Seq("g"))
      .filter(col("bench_id") =!= col("doc_id"))
      .select("doc_id").distinct()
      .withColumn("contaminated", lit(true))
    cmNarrow
      .join(contaminated, Seq("doc_id"), "left")
      .withColumn("drop_reason", coalesce(col("map_drop"),
        when(coalesce(col("contaminated"), lit(false)),
          "contaminated")))
  }

  /** The manifest projection over a relation carrying `drop_reason` +
    * the assignment hashes: keep/drop, and split/shard only for kept
    * docs. */
  private[graft] def curateManifest(df: DataFrame): DataFrame = df
    .withColumn("keep", col("drop_reason").isNull)
    .select(col("doc_id"), col("keep"), col("drop_reason"),
      when(col("keep"),
        when((col("h_split") % 100) < SplitTrainPct, "train")
          .when((col("h_split") % 100) < SplitValPct, "val")
          .otherwise("test")).as("split"),
      when(col("keep"), (col("h_shard") % ShuffleShards)
        .cast(IntegerType)).as("shard"))

  /** txt_bpe_vocab merge-round count. The oracle unrolls exactly this
    * many CTE rounds (the sim_ivf_knn convention), so changing it
    * without regenerating the oracle cannot silently diverge — the SQL
    * is generated from the same constant. 8 rounds on the contract
    * corpus never exhausts the pair table (words run to 8 chars). */
  val BpeRounds = 8

  /** txt_bpe_vocab64 configuration: 64 merges trained BATCHED at
    * batchK = 8 with [[bpeTrainBatchedOf]]'s fixedWant structure, so
    * every driver round is structurally identical (select ≤ 8
    * non-conflicting pairs from the top 32 candidates, apply in one
    * chained-replace pass) and the DuckDB oracle can mirror the
    * batched algorithm round-for-round in statically-unrolled CTEs.
    * Bpe64Rounds is the ORACLE's unroll depth — an upper bound on the
    * driver rounds the trainer can need for 64 merges (conflicts only
    * DEFER picks, and ≥ 1 merge lands per non-exhausted round, so 16
    * rounds cover any corpus the 8-round measured spill never
    * approached; BpeSpec pins the real corpus at ≤ 16). */
  val Bpe64Merges = 64
  val Bpe64BatchK = 8
  val Bpe64Rounds = 16

  /** BPE (byte-pair-encoding) vocabulary induction — tokenizer training
    * as a relational fixpoint (Sennrich et al. 2016, arXiv:1508.07909):
    * k rounds of (count adjacent symbol pairs, weighted by word
    * frequency → argmax (count desc, pair asc) → merge that pair
    * left-to-right in every word). Returns (final word relation with
    * its merged symbol sequence, the merge table).
    *
    * The symbol sequence is a STRING — symbols separated by TWO
    * spaces with one leading/trailing space (" c  a  t ") — because
    * then the greedy left-to-right non-overlapping merge BPE specifies
    * is exactly `replace(seq, " x  y ", " xy ")`: both engines'
    * replace() scans left-to-right and resumes after each replacement,
    * and the shared boundary space of an overlapping occurrence is
    * consumed, so "a a a" merges to "aa a", never "aa aa". The
    * representation is what makes the oracle bit-identical without a
    * sequential UDF.
    *
    * 100 TB shape — the reason real BPE trainers scale: the corpus is
    * scanned ONCE into the word histogram (vocabulary-bounded — the
    * 31-row contract corpus, a few million rows on a web corpus), and
    * every merge round iterates over the HISTOGRAM: a map-side pair
    * explode (≤ word-length structs per word), a partially-aggregated
    * pair count, a 1-row TakeOrdered argmax broadcast back into a
    * map-side replace. No round touches the corpus; encoding
    * ([[queries]] txt_bpe_encode) is one broadcast join of the final
    * vocabulary against the token stream. Exhaustion-safe: when no
    * pair remains, the argmax relation is EMPTY and the left join
    * leaves every word unchanged (asserted in BpeSpec).
    *
    * DRIVER-COORDINATED iteration, the MLlib iterative-estimator
    * pattern (MLlib's own KMeans collects the cluster centers to the
    * driver every Lloyd round): each round's argmax is ONE collected
    * row, which the next round embeds as merge LITERALS. Two dead ends
    * are documented here because both were measured: (a) a fully-lazy
    * relational unroll references the previous round's relation twice
    * (pair count + merge join), so the logical plan DOUBLES per round —
    * 2⁸ copies of the histogram subtree by round 8, and Catalyst
    * analysis/canonicalization/stringification pinned a driver core
    * for 15+ minutes; (b) `localCheckpoint(eager=false)` truncates the
    * plan but AQE materializes the checkpoint's shuffle stages at
    * BUILD time (16 multi-stage jobs), an eager-build behavior worse
    * than the 8 bounded argmax jobs this form runs. With literals the
    * merge step is a pure map-side string replace over the CACHED
    * histogram — no join at all — and plan growth is linear in rounds.
    * These two training queries are the documented LazinessSpec
    * exemption: training is allowed bounded per-round driver state;
    * contract QUERIES stay zero-job at build. */
  private[graft] def bpeTrainOf(docs: DataFrame): (DataFrame, DataFrame) = {
    val s = docs.sparkSession
    import s.implicits._
    val chars = filter(split(col("word"), ""), c => length(c) > 0)
    var words = shared(docs
      .select(explode(split(lower(col("text")), " ")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("wc"))
      .withColumn("seq",
        concat(lit(" "), array_join(chars, "  "), lit(" "))))
    val merges =
      scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    for (r <- 1 to BpeRounds) {
      val syms = split(trim(col("seq")), "  ")
      val n = size(syms)
      // per-round argmax: partial-aggregated pair counts over the
      // cached histogram, TakeOrdered(1) — a bounded 1-row collect
      val top = words
        .filter(n >= 2)
        .select(col("wc"), explode(zip_with(
          slice(syms, lit(1), n - 1), slice(syms, lit(2), n - 1),
          (x, y) => struct(x.as("x"), y.as("y")))).as("p"))
        .groupBy(col("p.x").as("x"), col("p.y").as("y"))
        .agg(sum(col("wc")).as("cnt"))
        .orderBy(col("cnt").desc, col("x"), col("y")).limit(1)
        .collect()
      // exhaustion (no pair anywhere): no merge row, words unchanged
      top.headOption.foreach { row =>
        val (x, y) = (row.getString(0), row.getString(1))
        merges += ((r, x, y, row.getLong(2)))
        words = words.select(col("word"), col("wc"),
          call_function("replace", col("seq"),
            lit(s" $x  $y "), lit(s" $x$y ")).as("seq"))
      }
    }
    (words, merges.toSeq.toDF("round", "x", "y", "cnt"))
  }

  /** BATCHED BPE training (round-9 verdict #5) — the standard
    * parallel-BPE trick that removes the per-merge driver round-trip a
    * 30k-merge production tokenizer cannot afford: each driver round
    * selects the top `batchK` MUTUALLY NON-CONFLICTING pairs (greedy
    * by (count desc, x, y) — the sequential trainer's exact ordering —
    * skipping any pair that shares a symbol with an already-selected
    * one) and applies them in ONE map-side pass of chained literal
    * replaces. Why symbol-disjointness is the right condition:
    * replacing " x  y " with " xy " only creates/destroys adjacencies
    * whose member symbols include x or y, so the counts of
    * symbol-disjoint pairs are INVARIANT under each other's merges —
    * within a batch, every selected pair still has the count it was
    * ranked by when its turn comes. Equivalence to the sequential
    * trainer additionally needs the NEWLY-CREATED pairs (those
    * containing a merged symbol) not to overtake the batch's tail —
    * true by construction on non-conflicting corpora (asserted in
    * BpeSpec; batchK = 1 degenerates to [[bpeTrainOf]] exactly, also
    * asserted) and the documented approximation everywhere else.
    * Driver rounds: ceil(merges/batchK) instead of `merges` — the
    * rounds-vs-wall-time datapoint is in SCALE.md ("Batched BPE").
    * Same bounded-driver-state exemption as [[bpeTrainOf]]: each
    * round collects ≤ 4·batchK candidate rows, never corpus data. */
  private[graft] def bpeTrainBatchedOf(docs: DataFrame, totalMerges: Int,
      batchK: Int,
      roundsOut: java.util.concurrent.atomic.AtomicInteger = null,
      fixedWant: Boolean = false)
      : (DataFrame, DataFrame) = {
    val s = docs.sparkSession
    import s.implicits._
    val chars = filter(split(col("word"), ""), c => length(c) > 0)
    var words = shared(docs
      .select(explode(split(lower(col("text")), " ")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("wc"))
      .withColumn("seq",
        concat(lit(" "), array_join(chars, "  "), lit(" "))))
    val merges =
      scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var exhausted = false
    while (merges.size < totalMerges && !exhausted) {
      if (roundsOut != null) roundsOut.incrementAndGet()
      val syms = split(trim(col("seq")), "  ")
      val n = size(syms)
      // fixedWant makes EVERY round's selection structurally identical
      // (want = batchK, candidate cap = 4·batchK) — the property the
      // statically-unrolled txt_bpe_vocab64 oracle mirrors; the final
      // round may overshoot and the merge table is truncated below.
      // The default (shrinking want) never overshoots — the ergonomic
      // form when no SQL mirror is needed.
      val want = if (fixedWant) batchK
        else math.min(batchK, totalMerges - merges.size)
      // 4x headroom: conflicts thin the prefix; a round that selects
      // fewer than `want` merges is still correct, just less parallel
      val top = words
        .filter(n >= 2)
        .select(col("wc"), explode(zip_with(
          slice(syms, lit(1), n - 1), slice(syms, lit(2), n - 1),
          (x, y) => struct(x.as("x"), y.as("y")))).as("p"))
        .groupBy(col("p.x").as("x"), col("p.y").as("y"))
        .agg(sum(col("wc")).as("cnt"))
        .orderBy(col("cnt").desc, col("x"), col("y")).limit(4 * want)
        .collect()
      val used = scala.collection.mutable.Set.empty[String]
      val picked = top.iterator
        .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
        .filter { case (x, y, _) =>
          // a candidate conflicts if it shares a symbol with an
          // already-selected pair OR with a selected pair's MERGED
          // symbol x+y: without the latter, a batch could co-select
          // (a, b) and ("ab", c) — distinct strings, but the first
          // replace creates the very " ab " occurrences the second
          // consumes, so the second's ranked count is no longer
          // invariant within the batch (ADVICE round 10)
          val ok = !used(x) && !used(y) && !used(x + y)
          if (ok) { used += x; used += y; used += x + y }
          ok
        }
        .take(want).toSeq
      if (picked.isEmpty) exhausted = true
      else {
        picked.foreach { case (x, y, cnt) =>
          merges += ((merges.size + 1, x, y, cnt)) }
        // one map-side pass: chained replaces in priority order (the
        // order is immaterial on disjoint symbols, but keeping the
        // ranking order makes the plan text deterministic)
        words = words.select(col("word"), col("wc"),
          picked.foldLeft(col("seq")) { case (acc, (x, y, _)) =>
            call_function("replace", acc, lit(s" $x  $y "), lit(s" $x$y "))
          }.as("seq"))
      }
    }
    (words, merges.take(totalMerges).toSeq.toDF("round", "x", "y", "cnt"))
  }

  /** DuckDB mirror of [[bpeTrainOf]]: CTE chain w0 → (p1, best1, w1) →
    * … → w[[BpeRounds]], generated from the same constant. */
  private def bpeSqlCtes: String = {
    val w0 =
      """w0 AS (
        |  SELECT word, CAST(count(*) AS BIGINT) AS wc,
        |         ' ' || array_to_string(string_split(word, ''), '  ') ||
        |           ' ' AS seq
        |  FROM (SELECT unnest(string_split(lower(text), ' ')) AS word
        |        FROM documents)
        |  GROUP BY word)""".stripMargin
    val rounds = (1 to BpeRounds).map { r =>
      s"""p$r AS (
         |  SELECT p.x AS x, p.y AS y, CAST(SUM(wc) AS BIGINT) AS cnt
         |  FROM (SELECT wc, unnest(list_transform(
         |          generate_series(1, len(s) - 1),
         |          i -> struct_pack(x := s[i], y := s[i + 1]))) AS p
         |        FROM (SELECT wc, string_split(trim(seq), '  ') AS s
         |              FROM w${r - 1}))
         |  GROUP BY 1, 2),
         |best$r AS (SELECT $r AS round, x, y, cnt
         |           FROM p$r ORDER BY cnt DESC, x, y LIMIT 1),
         |w$r AS (SELECT word, wc,
         |          CASE WHEN b.x IS NULL THEN seq
         |               ELSE replace(seq, ' ' || b.x || '  ' || b.y || ' ',
         |                            ' ' || b.x || b.y || ' ') END AS seq
         |        FROM w${r - 1} LEFT JOIN best$r b ON TRUE)""".stripMargin
    }
    (w0 +: rounds).mkString(",\n")
  }

  /** DuckDB mirror of the BATCHED trainer ([[bpeTrainBatchedOf]] with
    * fixedWant): [[Bpe64Rounds]] statically-unrolled rounds, each
    * round = pair-count CTE → top-(4·K) ranked candidate CTE → K
    * greedy selection CTEs (each picks the best-ranked candidate not
    * conflicting — sharing x, y, or the merged x||y — with any
    * EARLIER selection of the same round, exactly the Scala conflict
    * rule) → one chained-replace apply CTE. The flattened selections
    * in (round, slot) order, truncated to [[Bpe64Merges]], are the
    * merge table. Batched BPE is NOT sequential BPE on this corpus
    * (measured: the conservative symbol-sharing rule defers (o,r)
    * behind (e,r) where sequential interleaves them — BpeSpec pins
    * the divergence), so the oracle mirrors the algorithm actually
    * shipped, not the sequential one. */
  private def bpeBatchedSqlCtes: String = {
    val k = Bpe64BatchK
    val w0 =
      """bw0 AS MATERIALIZED (
        |  SELECT word, CAST(count(*) AS BIGINT) AS wc,
        |         ' ' || array_to_string(string_split(word, ''), '  ') ||
        |           ' ' AS seq
        |  FROM (SELECT unnest(string_split(lower(text), ' ')) AS word
        |        FROM documents)
        |  GROUP BY word)""".stripMargin
    def conflict(c: String, s: String): String =
      s"""($c.x IN ($s.x, $s.y, $s.x || $s.y)
         | OR $c.y IN ($s.x, $s.y, $s.x || $s.y)
         | OR ($c.x || $c.y) IN ($s.x, $s.y, $s.x || $s.y))"""
        .stripMargin.replace("\n", "")
    val rounds = (1 to Bpe64Rounds).map { r =>
      val pairs =
        s"""bp$r AS (
           |  SELECT p.x AS x, p.y AS y, CAST(SUM(wc) AS BIGINT) AS cnt
           |  FROM (SELECT wc, unnest(list_transform(
           |          generate_series(1, len(s) - 1),
           |          i -> struct_pack(x := s[i], y := s[i + 1]))) AS p
           |        FROM (SELECT wc, string_split(trim(seq), '  ') AS s
           |              FROM bw${r - 1}))
           |  GROUP BY 1, 2),
           |bc$r AS MATERIALIZED (
           |  SELECT x, y, cnt,
           |         row_number() OVER (ORDER BY cnt DESC, x, y) AS rn
           |  FROM bp$r QUALIFY rn <= ${4 * k})""".stripMargin
      val sels = (1 to k).map { j =>
        val excl = (1 until j).map(i =>
          s"""AND NOT EXISTS (SELECT 1 FROM bs${r}_$i s
             |    WHERE ${conflict("c", "s")})""".stripMargin)
          .mkString("\n  ")
        s"""bs${r}_$j AS MATERIALIZED (
           |  SELECT x, y, cnt, rn FROM bc$r c
           |  WHERE TRUE
           |  $excl
           |  ORDER BY rn LIMIT 1)""".stripMargin
      }
      val applyChain = (1 to k).foldLeft("seq") { (acc, j) =>
        s"""CASE WHEN s$j.x IS NULL THEN $acc
           |ELSE replace($acc, ' ' || s$j.x || '  ' || s$j.y || ' ',
           |             ' ' || s$j.x || s$j.y || ' ') END"""
          .stripMargin.replace("\n", " ")
      }
      val joins = (1 to k)
        .map(j => s"LEFT JOIN bs${r}_$j s$j ON TRUE").mkString("\n  ")
      val apply =
        s"""bw$r AS MATERIALIZED (
           |  SELECT word, wc, $applyChain AS seq
           |  FROM bw${r - 1}
           |  $joins)""".stripMargin
      (Seq(pairs) ++ sels ++ Seq(apply)).mkString(",\n")
    }
    val sel =
      s"""bsel AS (
         |${(for (r <- 1 to Bpe64Rounds; j <- 1 to k) yield
             s"  SELECT $r AS r, $j AS slot, x, y, cnt FROM bs${r}_$j")
           .mkString("\n  UNION ALL\n")})""".stripMargin
    (Seq(w0) ++ rounds ++ Seq(sel)).mkString(",\n")
  }

  /** Apply a trained BPE vocabulary (the `words` relation of
    * [[bpeTrainOf]]) to a SAME-CORPUS documents relation: one
    * broadcast join of the per-word subword counts against the
    * exploded token stream — the memoized fast path (every word is in
    * the training vocabulary by construction, so the inner join is
    * total). It is not an encoder for unseen input: the inner
    * vocabulary join would silently DROP an out-of-vocabulary word
    * (and a doc of only such words entirely). BpeSpec checks it against
    * a rule-based encode on the training corpus. */
  private[graft] def bpeEncodeOf(docs: DataFrame,
      words: DataFrame): DataFrame = {
    val vocab = words.select(col("word"),
      size(split(trim(col("seq")), "  ")).as("n_sub"))
    docs
      .select(col("doc_id"),
        explode(split(lower(col("text")), " ")).as("word"))
      .join(broadcast(vocab), "word")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_sub")).as("n_subwords"))
      .orderBy("doc_id")
  }

  /** Per-doc mean bigram log-probability under the corpus-trained
    * bigram LM — the scoring core shared by `txt_bigram_logprob` and
    * `txt_perplexity_filter` (one derivation, two surfaces: the raw
    * score and the CCNet tercile filter). Columns: (doc_id,
    * n_bigrams, logprob 9-dp). */
  private[graft] def bigramLogprobOf(s: SparkSession, dir: String)
      : DataFrame = {
      val bg = toks(s, dir)
        .select(col("doc_id"), explode(expr(
          "transform(slice(toks, 1, greatest(size(toks) - 1, 0)), " +
            "(t, i) -> struct(t AS w1, toks[i + 1] AS w2))")).as("bg"))
        .select(col("doc_id"), col("bg.w1"), col("bg.w2"))
      val c12 = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
      val c1 = bg.groupBy("w1").agg(count(lit(1)).as("c1"))
      val scored = bg.groupBy("doc_id", "w1", "w2")
        .agg(count(lit(1)).as("tf"))
        .join(broadcast(c12), Seq("w1", "w2"))
        .join(broadcast(c1), Seq("w1"))
        .groupBy("doc_id")
        .agg(
          sum(col("tf")).as("n_bigrams"),
          sort_array(collect_list(
            struct(col("c12"), col("c1"), col("tf")))).as("triples"))
        .select(col("doc_id"), col("n_bigrams"),
          round(
            aggregate(col("triples"), lit(0.0d),
              (acc, t) => acc + t.getField("tf").cast(DoubleType)
                * (log(t.getField("c12").cast(DoubleType))
                  - log(t.getField("c1").cast(DoubleType))))
              / col("n_bigrams").cast(DoubleType), 9)
            .as("logprob"))
      table(s, dir, "documents").select(col("doc_id"))
        .join(scored, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
          (coalesce(col("logprob"), lit(0.0d)) + 0.0).as("logprob"))
        .orderBy("doc_id")
  }

  def queries: Map[String, Q] = Map(
    // BPE vocabulary induction (tokenizer training): the merge table —
    // round, pair, merged symbol, weighted pair count. See
    // [[bpeTrainOf]] for the representation trick and the 100 TB shape
    // (one corpus scan; every round iterates the vocab-bounded word
    // histogram only).
    "txt_bpe_vocab" -> { (s, dir) =>
      val (_, merges) = bpeTrainOf(table(s, dir, "documents"))
      merges
        .select(col("round"), col("x").as("lhs"), col("y").as("rhs"),
          concat(col("x"), col("y")).as("merged"),
          col("cnt").as("pair_count"))
        .orderBy("round")
    },

    // BATCHED BPE at production depth: 64 merges in ~ceil(64/8) driver
    // rounds instead of 64 — the round-trip division a 30k-merge
    // tokenizer train needs (see [[bpeTrainBatchedOf]]). The oracle
    // mirrors the batched algorithm itself ([[bpeBatchedSqlCtes]]):
    // batched ≠ sequential BPE on this corpus (the symbol-sharing
    // conflict rule defers overlapping pairs — BpeSpec pins the
    // divergence), so gating it against the sequential table would
    // test the wrong function.
    "txt_bpe_vocab64" -> { (s, dir) =>
      val (_, merges) = bpeTrainBatchedOf(table(s, dir, "documents"),
        totalMerges = Bpe64Merges, batchK = Bpe64BatchK,
        fixedWant = true)
      merges
        .select(col("round"), col("x").as("lhs"), col("y").as("rhs"),
          concat(col("x"), col("y")).as("merged"),
          col("cnt").as("pair_count"))
        .orderBy("round")
    },

    // BPE encode: apply the learned merge table to the corpus — per
    // document, the token count before (words) and after (subwords)
    // segmentation. One broadcast join of the trained vocabulary's
    // final symbol sequences against the exploded token stream: the
    // map-side shape a 100 TB tokenization job runs (training never
    // re-runs per batch; the vocab relation is the artifact).
    "txt_bpe_encode" -> { (s, dir) =>
      val (words, _) = bpeTrainOf(table(s, dir, "documents"))
      bpeEncodeOf(table(s, dir, "documents"), words)
    },

    // Repetition filtering (Gopher-style quality signal): fraction of
    // the doc taken by its most frequent token, and the duplicate
    // fraction of its token bigrams; docs over either threshold flag
    // `repetitive`. Entirely map-side higher-order-function arithmetic
    // (no explode, no shuffle except the contract sort): per-row cost
    // is O(n_tokens · n_distinct), bounded for natural documents —
    // the embarrassingly-parallel shape a 100 TB filter pass needs.
    // Exact integer counts; one rounded division per fraction.
    // Counts via the codegen'd graft_tok_stats (plans/TokStats.scala):
    // one primitive interning pass replaces the O(n·distinct) nested
    // HOF scan + per-bigram string building that ran interpreted on a
    // single no-exchange task (the txt_entropy mechanism; HOF parity
    // in DotProductSpec). Fractions and thresholds unchanged — the
    // DuckDB oracle keeps the list-lambda formulation.
    "txt_repetition" -> { (s, dir) =>
      graft.plans.TokStats.register(s)
      table(s, dir, "documents")
        .withColumn("ts",
          call_function("graft_tok_stats", lower(col("text"))))
        .withColumn("n", col("ts.n"))
        .withColumn("top_tok_frac",
          round(col("ts.top_cnt").cast(DoubleType) / col("n"), 9))
        .withColumn("dup_bigram_frac",
          when(col("n") > 1,
            round(lit(1.0)
              - col("ts.n_distinct_bigrams").cast(DoubleType)
                / col("ts.n_bigrams"), 9))
            .otherwise(lit(0.0)))
        .select(col("doc_id"), col("n").as("n_tokens"),
          col("top_tok_frac"), col("dup_bigram_frac"),
          (col("top_tok_frac") >= RepTopTokFrac
            || col("dup_bigram_frac") >= RepDupBigramFrac).as("repetitive"))
        .orderBy("doc_id")
    },

    // Context-window chunking: split each document into fixed-width
    // token windows with 50% stride overlap — the training-prep step
    // that turns variable-length documents into model-sized pieces.
    // One map-side transform + explode per doc (window starts are a
    // generated integer sequence; slice truncates at the tail in both
    // engines), so the pass is linear and shuffle-free bar the
    // contract sort. Short docs (< width tokens) emit exactly one
    // chunk.
    "txt_chunk" -> { (s, dir) =>
      val (w0, st) = (ChunkWidth, ChunkStride)
      toks(s, dir)
        .withColumn("n", size(col("toks")))
        // last window start index i (0-based): ceil((n - W)/S), >= 0
        .withColumn("last_i", greatest(
          expr(s"CAST(ceil((n - $w0) / CAST($st AS DOUBLE)) AS INT)"),
          lit(0)))
        .select(col("doc_id"),
          explode(expr(
            s"transform(sequence(0, last_i), i -> struct(" +
              s"i AS chunk_id, " +
              s"size(slice(toks, i * $st + 1, $w0)) AS chunk_tokens, " +
              s"concat_ws(' ', slice(toks, i * $st + 1, $w0)) AS chunk_text))"))
            .as("c"))
        .select(col("doc_id"), col("c.chunk_id").as("chunk_id"),
          col("c.chunk_tokens").as("chunk_tokens"),
          col("c.chunk_text").as("chunk_text"))
        .orderBy("doc_id", "chunk_id")
    },

    // Sequence-packing manifest (concat-and-cut): documents are
    // concatenated in (source, doc_id) order and the token stream cut
    // into fixed-budget training sequences — this computes where each
    // document lands: its start offset in the stream, the sequence id
    // it starts in, and its offset within that sequence. One window
    // cumulative sum over exact integer token counts (partitioned by
    // source — the shard key — so state is bounded per partition);
    // every output column is an integer, so the manifest is
    // hash-exact cross-engine.
    "txt_pack" -> { (s, dir) =>
      val w = Window.partitionBy("source").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      toks(s, dir)
        .withColumn("n_tokens", size(col("toks")).cast(LongType))
        .withColumn("start_offset",
          sum(col("n_tokens")).over(w) - col("n_tokens"))
        .select(col("doc_id"), col("source"), col("n_tokens"),
          col("start_offset"),
          expr(s"start_offset DIV $PackBudget").as("seq_id"),
          expr(s"start_offset % $PackBudget").as("offset_in_seq"))
        .orderBy("source", "doc_id")
    },

    // Benchmark decontamination: flag any document sharing a token
    // n-gram with the (bounded) benchmark document set — the GPT-3-
    // style eval-overlap removal a training pipeline must run. The
    // benchmark gram relation is bounded by the benchmark size, never
    // the corpus, so it BROADCASTS at any corpus scale and the pass
    // stays one linear map-side join; n_shared counts the doc's
    // distinct grams that any OTHER benchmark doc contains.
    "txt_decontaminate" -> { (s, dir) =>
      val g = DecontaminateGram
      val lastStart = s"greatest(size(toks) - ${g - 1}, 0)"
      val gramExprs = (1 until g).map(k => s"toks[i + $k]").mkString(", ")
      // doc-distinct grams; referenced as both join sides
      val grams = shared(toks(s, dir)
        .select(col("doc_id"), explode(array_distinct(expr(
          s"transform(slice(toks, 1, $lastStart), " +
            s"(t, i) -> concat_ws(' ', t, $gramExprs))"))).as("g")))
      val bench = grams.filter(col("doc_id") < DecontaminateBenchDocs)
        .select(col("doc_id").as("bench_id"), col("g"))
      val sharedGrams = grams.join(broadcast(bench), Seq("g"))
        .filter(col("bench_id") =!= col("doc_id"))
        .groupBy("doc_id")
        .agg(countDistinct(col("g")).as("n_shared"))
      table(s, dir, "documents").select("doc_id")
        .join(sharedGrams, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_shared"), lit(0L)).as("n_shared"),
          (coalesce(col("n_shared"), lit(0L)) > 0).as("contaminated"))
        .orderBy("doc_id")
    },

    // Deterministic stratified sampling: per (lang, source) stratum
    // keep the 10 docs ranking lowest under a fixed multiplicative
    // hash of doc_id — the per-stratum quota sampling a curation
    // pipeline uses to balance sources/languages. Integer arithmetic
    // end to end (Knuth multiplier mod 2³¹−1), so the "random" order
    // is identical in both engines and across runs/partitionings;
    // rank ties cannot occur (hash is injective per stratum) but
    // doc_id tiebreaks anyway. Both factors are reduced mod P BEFORE
    // multiplying — identical residues by modular arithmetic, but the
    // product stays < 2^60 for ARBITRARY int64 doc_id (the unreduced
    // doc_id * 2654435761 overflows at doc_id ~3.5e9: an ANSI throw in
    // Spark, an error in DuckDB — unacceptable in a 100 TB curation
    // primitive).
    "sample_stratified" -> { (s, dir) =>
      val w = Window.partitionBy("lang", "source")
        .orderBy(col("h"), col("doc_id"))
      table(s, dir, "documents")
        .withColumn("h",
          ((col("doc_id") % lit(2147483647L)) * lit(2654435761L % 2147483647L))
            % lit(2147483647L))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 10)
        .select(col("doc_id"), col("lang"), col("source"), col("h"),
          col("rn").cast(IntegerType).as("rn"))
        .orderBy("lang", "source", "rn")
    },

    // Unigram language-model score per doc (CCNet/Gopher-style LM
    // quality proxy): mean token log-probability under the corpus's
    // own unigram model, logprob = (Σ_tok tf_doc·ln(gtf/T)) / n_tok.
    // Low scores = rare-token-heavy docs (gibberish, OCR noise, wrong
    // language); curation filters threshold on it. Cross-engine
    // exactness by the proven recipe: all counts are exact integers
    // (per-doc tf, global gtf, corpus total T); the only float ops are
    // ln on integer ratios, folded per doc over the (gtf, tf)-SORTED
    // pair list (identical addition order in DuckDB's
    // list(... ORDER BY)), one closing division, one 9-dp round. Work:
    // two integer aggregations + a broadcast of the vocabulary-bounded
    // unigram dictionary — linear, the same shape as txt_tfidf_topk.
    "txt_unigram_logprob" -> { (s, dir) =>
      val terms = toks(s, dir)
        .select(col("doc_id"), explode(col("toks")).as("tok"))
      val tf = terms.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
      val gtf = terms.groupBy("tok").agg(count(lit(1)).as("gtf"))
      val tot = gtf.agg(sum(col("gtf")).as("t_toks"))
      val scored = tf.join(broadcast(gtf), "tok")
        .crossJoin(broadcast(tot))
        .groupBy("doc_id")
        .agg(
          sum(col("tf")).as("n_tokens"),
          sort_array(collect_list(struct(col("gtf"), col("tf"))))
            .as("pairs"),
          first(col("t_toks")).as("t_toks"))
        .select(col("doc_id"), col("n_tokens"),
          round(
            (aggregate(col("pairs"), lit(0.0d),
              (acc, p) => acc + p.getField("tf").cast(DoubleType)
                * log(p.getField("gtf").cast(DoubleType)))
              - col("n_tokens").cast(DoubleType)
                * log(col("t_toks").cast(DoubleType)))
              / col("n_tokens").cast(DoubleType), 9)
            .as("logprob"))
      table(s, dir, "documents").select(col("doc_id"))
        .join(scored, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
          (coalesce(col("logprob"), lit(0.0d)) + 0.0).as("logprob"))
        .orderBy("doc_id")
    },

    // Temperature-scaled source balancing (the multilingual-training
    // sampler of XLM-R/mT5: p_l ∝ n_l^α with α < 1 — rare languages
    // oversampled RELATIVE to size, head languages damped): per-lang
    // quota = target (200) · w_l DIV Σw with w_l = round(n_l^0.3 · 1e6) as
    // exact integer micro-weights, then the deterministic
    // multiplicative-hash order picks exactly quota docs per lang —
    // rerun/partition-stable like txt_split_assign, never rand(). The
    // single pow lands on an integer after the 1e-6 round (ulp-safe,
    // the cents pattern); quota arithmetic is pure int64 (product
    // ≤ target·Σw < 2^60), so both engines cut identical quotas. The
    // hash multiplier (1103515245, mod-P-reduced) is a third
    // independent stream — disjoint from the stratified-sampling and
    // split-assignment constants, so composed pipelines don't
    // correlate their selections. Map-side except two tiny aggs and
    // the per-lang rank — the one-pass 100 TB sampling shape.
    // Token-budget mixing — the "assemble N tokens" step of a
    // pretraining data build (the epoch/budget table of every
    // LLaMA/GPT-style mixture spec): each source gets a token BUDGET
    // (a tier percentage of its own token mass — down 20% / keep 40%
    // / up 80%, the pipeline_mix tiers as budget rates), and docs
    // fill it greedily in the deterministic shuffle-hash order until
    // the budget is hit — a doc ships iff its cumulative-sum START
    // lies within budget (the standard greedy fill: the boundary doc
    // may overshoot, nothing after it ships). All integer arithmetic:
    // token counts, budgets (integer DIV), one per-source cumsum
    // window — both engines agree bitwise. Scale shape: one scan →
    // source-bounded broadcast of budgets → ONE source-keyed window;
    // the decision output is one row per doc and the window input is
    // doc-level rows, the same shape as pipeline_pack's shard window.
    "sample_token_budget" -> { (s, dir) =>
      val d = table(s, dir, "documents")
        .withColumn("n_tokens",
          size(split(lower(col("text")), " ")).cast(LongType))
        .withColumn("src_idx",
          substring(col("source"), 4, 10).cast(IntegerType))
        .withColumn("h", doubleRoundHash(ShuffleHashMul))
      val budgets = d.groupBy("source")
        .agg(sum(col("n_tokens")).as("src_tokens"),
          max(col("src_idx")).as("src_idx"))
        .withColumn("pct",
          when(col("src_idx") % 3 === 0, 20L)
            .when(col("src_idx") % 3 === 1, 40L)
            .otherwise(80L))
        .select(col("source"),
          expr("CAST(src_tokens * pct DIV 100 AS BIGINT)").as("budget"))
      val w = Window.partitionBy("source").orderBy(col("h"), col("doc_id"))
      d.join(broadcast(budgets), "source")
        .withColumn("cum_before",
          coalesce(sum(col("n_tokens"))
            .over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select(col("doc_id"), col("source"), col("n_tokens"),
          col("budget"), col("cum_before"),
          (col("cum_before") < col("budget")).as("keep"))
        .orderBy("doc_id")
    },

    "sample_temperature" -> { (s, dir) =>
      val target = 200L
      val byLang = table(s, dir, "documents")
        .groupBy("lang").agg(count(lit(1)).as("n_l"))
        .withColumn("w",
          round(pow(col("n_l").cast(DoubleType), 0.3) * 1e6)
            .cast(LongType))
      val quotas = byLang
        .crossJoin(broadcast(byLang.agg(sum(col("w")).as("tw"))))
        .withColumn("quota", expr(s"CAST(($target * w) DIV tw AS INT)"))
        .select(col("lang"), col("n_l"), col("quota"))
      val w = Window.partitionBy("lang").orderBy(col("h"), col("doc_id"))
      table(s, dir, "documents")
        .withColumn("h",
          ((col("doc_id") % lit(2147483647L)) * lit(1103515245L % 2147483647L))
            % lit(2147483647L))
        .join(broadcast(quotas), "lang")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= col("quota"))
        .select(col("doc_id"), col("lang"), col("n_l"), col("quota"),
          col("h"), col("rn").cast(IntegerType).as("rn"))
        .orderBy("lang", "rn")
    },

    // Character-level Shannon entropy per document — the gibberish /
    // compression-ratio quality signal curation pipelines threshold on
    // (low entropy = repeated chars/boilerplate, high = random noise).
    // Entirely map-side: the per-doc char-frequency multiset is built
    // PER ROW with higher-order functions (distinct chars → count each
    // — instead of exploding one row per CHARACTER of the corpus
    // through two hash shuffles. At 100 TB the explode form shuffles
    // ~corpus-bytes rows to compute a value derivable per-row; this
    // form shuffles nothing but the contract sort (PlanShapeSpec
    // asserts no hash exchange). The count multiset comes from the
    // codegen'd graft_char_counts expression (plans/CharCounts.scala):
    // the first map-side form — count via a nested filter+size per
    // DISTINCT char, O(len·distinct) lambda scans — measured 6× SLOWER
    // than the explode it replaced (8.4 s vs 1.4 s at sf0.1, caught by
    // the in-run bench tripwire, round 5), because a shuffle-free plan
    // also FORFEITS the shuffle's parallelism on a single-split input
    // and the per-row cost is the whole query. One primitive counting
    // pass is the fix that survives both regimes; parity with the HOF
    // forms is asserted in DotProductSpec. Same count multiset, so the
    // fold and the oracle are untouched.
    // Cross-engine determinism: the double sum folds over char counts
    // in SORTED order (sort_array here, DuckDB's list(... ORDER BY) in
    // the oracle — identical count multiset ⇒ identical sorted
    // sequence ⇒ identical addition order). log2 is expressed as
    // ln(x) / <ln2 literal> in BOTH engines — Spark's log2 and DuckDB's
    // std::log2 are different compositions with a systematic ulp
    // offset, while ln÷literal leaves only random ln last-ulp variance,
    // which the 9-dp round absorbs (the proven trig/cosine pattern);
    // `+ 0.0` kills -0.0 and makes the empty-text fold (-0.0) match the
    // oracle's COALESCE(…, 0.0).
    "txt_entropy" -> { (s, dir) =>
      graft.plans.CharCounts.register(s)
      table(s, dir, "documents")
        .select(col("doc_id"),
          length(col("text")).cast(DoubleType).as("n"),
          call_function("graft_char_counts", col("text")).as("cnts"))
        .select(col("doc_id"),
          (round(-aggregate(col("cnts"), lit(0.0d),
            (acc, c) => acc + (c / col("n"))
              * (log(c / col("n")) / lit(Ln2))), 9)
            + 0.0).as("entropy"))
        .orderBy("doc_id")
    },

    // TF-IDF keyword extraction: top-3 terms per document by
    // tf · ln(N/df) — the classic salience score a curation pipeline
    // uses for topic tagging and keyword search. All counts are exact
    // integers; the single ln is the only float op, rounded to 9 dp
    // before ranking (term-asc tiebreak), so the top-k is
    // deterministic cross-engine. Work: two integer aggregations and a
    // broadcast of the term-df dictionary — linear, one shuffle each.
    "txt_tfidf_topk" -> { (s, dir) =>
      val terms = toks(s, dir)
        .select(col("doc_id"), explode(col("toks")).as("term"))
      val tf = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val df_ = terms.select("doc_id", "term").distinct()
        .groupBy("term").agg(count(lit(1)).as("df"))
      val n = table(s, dir, "documents").agg(count(lit(1)).as("n_docs"))
      val w = Window.partitionBy("doc_id")
        .orderBy(col("score").desc, col("term"))
      tf.join(broadcast(df_), "term")
        .crossJoin(n)
        .withColumn("score",
          round(col("tf") * log(col("n_docs").cast(DoubleType) / col("df")),
            9))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("doc_id"), col("rk").cast(IntegerType).as("rk"),
          col("term"), col("score"))
        .orderBy("doc_id", "rk")
    },

    // Tokenize + global term frequency.
    "txt_tokenize_tf" -> { (s, dir) =>
      toks(s, dir)
        .select(explode(col("toks")).as("word"))
        .groupBy("word")
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("word").asc)
    },

    // Bigram generation over token arrays + frequency.
    "txt_ngram" -> { (s, dir) =>
      toks(s, dir)
        .select(explode(expr(
          "transform(slice(toks, 1, size(toks) - 1), " +
            "(t, i) -> concat(t, ' ', toks[i + 1]))")).as("bigram"))
        .groupBy("bigram")
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("bigram").asc)
    },

    // Language ID: explode tokens, join the marker profiles (broadcast),
    // count hits per candidate language, argmax per doc with
    // deterministic tiebreak, 'unknown' when no marker matched.
    "txt_langid" -> { (s, dir) =>
      val d = toks(s, dir)
      val hits = d.select(col("doc_id"), explode(col("toks")).as("marker"))
        .join(broadcast(profilesDf(s)), Seq("marker"))
        .groupBy("doc_id", "cand_lang")
        .agg(count(lit(1)).as("hits"))
      val w = Window.partitionBy("doc_id")
        .orderBy(col("hits").desc, col("cand_lang").asc)
      val best = hits.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("cand_lang"), col("hits"))
      d.select(col("doc_id"), col("lang").as("actual"))
        .join(best, Seq("doc_id"), "left")
        .select(
          col("doc_id"), col("actual"),
          coalesce(col("cand_lang"), lit("unknown")).as("predicted"),
          coalesce(col("hits"), lit(0L)).as("hits"))
        .orderBy("doc_id")
    },

    // Language ID, character-n-gram variant: score each candidate
    // language by occurrences of its characteristic char-bigrams over
    // the raw text (classic n-gram profile method; the word-marker
    // variant is txt_langid). Bigrams come from a positional substring
    // transform — no char-split arrays materialize.
    "txt_langid_ngram" -> { (s, dir) =>
      val d = table(s, dir, "documents")
      val grams = d.select(col("doc_id"),
        // greatest(...,1): Spark's sequence(1,0) would run DESCENDING
        // (DuckDB's generate_series(1,0) is empty) — pin both to [1]
        // for single-char texts, whose 1-char "gram" matches no profile.
        explode(expr(
          "transform(sequence(1, greatest(length(text) - 1, 1)), " +
            "i -> substring(text, i, 2))")).as("gram"))
      val hits = grams
        .join(broadcast(charProfilesDf(s)), Seq("gram"))
        .groupBy("doc_id", "cand_lang")
        .agg(count(lit(1)).as("hits"))
      val w = Window.partitionBy("doc_id")
        .orderBy(col("hits").desc, col("cand_lang").asc)
      val best = hits.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("cand_lang"), col("hits"))
      d.select(col("doc_id"), col("lang").as("actual"))
        .join(best, Seq("doc_id"), "left")
        .select(
          col("doc_id"), col("actual"),
          coalesce(col("cand_lang"), lit("unknown")).as("predicted"),
          coalesce(col("hits"), lit(0L)).as("hits"))
        .orderBy("doc_id")
    },

    // Quality scoring: length / average-token-length / stopword ratios
    // combined into a bounded score. Pure per-row arithmetic on exact
    // integer inputs, so the doubles are bit-identical cross-engine.
    "txt_quality_score" -> { (s, dir) =>
      qualityParts(s, dir)
        .select("doc_id", "n_tokens", "stop_hits", "avg_tok_len",
          "stop_ratio", "quality")
        .orderBy("doc_id")
    },

    // Token counting: whitespace tokens + a BPE-ish estimate
    // (ceil(len/4) subword pieces per word).
    "txt_token_count" -> { (s, dir) =>
      toks(s, dir)
        .select(
          col("doc_id"),
          size(col("toks")).as("ws_tokens"),
          aggregate(
            transform(col("toks"),
              t => ((length(t) + 3) / 4).cast(LongType)),
            lit(0L), (acc, x) => acc + x).as("bpe_tokens"))
        .orderBy("doc_id")
    },

    // Document fingerprint: order-aware rolling hash over token hashes
    // (position-weighted sum mod P) — cheap near-identity for shingling
    // and incremental dedup. The mod is applied INSIDE the fold so the
    // accumulator stays < P + max_term: an end-only mod would overflow
    // int64 past ~1e5 tokens, where DuckDB's list_sum promotes to
    // HUGEINT but Spark's long wraps (or throws under ANSI).
    "txt_fingerprint" -> { (s, dir) =>
      toks(s, dir)
        .select(
          col("doc_id"),
          aggregate(
            transform(col("toks"),
              (t, i) => (TextHash.tokHash(t) % TextHash.P) * (i + 1)),
            lit(0L), (acc, x) => (acc + x) % TextHash.P).as("fingerprint"))
        .orderBy("doc_id")
    },

    // Deterministic train/val/test split assignment: multiplicative
    // hash of doc_id mod 100 against fixed 90/5/5 quota boundaries.
    // Same overflow-safe scheme as sample_stratified (both factors
    // reduced mod P BEFORE multiplying — safe for arbitrary int64
    // doc_id) with an independent public multiplier, so the split
    // never correlates with the sampling hash. Pure map-side integer
    // arithmetic: the one-pass, shuffle-free, rerun-stable assignment
    // a 100 TB corpus split needs — membership depends only on the
    // row, never on partitioning, row order, or corpus size (docs
    // added later cannot move existing docs between splits, unlike
    // randomSplit/rand()). Production pipelines hash a stable content
    // key to survive re-crawls; doc_id is this corpus's stable key.
    "txt_split_assign" -> { (s, dir) =>
      table(s, dir, "documents")
        .withColumn("h",
          ((col("doc_id") % lit(TextHash.P)) * lit(SplitHashMul))
            % lit(TextHash.P))
        .withColumn("bucket", (col("h") % 100).cast(IntegerType))
        .select(col("doc_id"), col("bucket"),
          when(col("bucket") < SplitTrainPct, "train")
            .when(col("bucket") < SplitValPct, "val")
            .otherwise("test").as("split"))
        .orderBy("doc_id")
    },

    // The full Gopher rule battery (Rae et al. 2021 §A.1.1) as one
    // pass: per-doc word count, mean word length, symbol-token ratio,
    // alphabetic-token fraction and distinct-stopword count, each
    // thresholded into its own flag plus the combined keep/drop
    // verdict. Entirely map-side higher-order-function arithmetic over
    // exact integer counts (the single-space corpus makes mean word
    // length (len(text) − (n−1))/n — no second tokenize pass); every
    // ratio is one 9-dp-rounded division, so the flags compare
    // identical doubles in both engines. The embarrassingly-parallel
    // 100 TB filter-pass shape, like txt_repetition.
    "txt_quality_gopher" -> { (s, dir) =>
      toks(s, dir)
        .withColumn("n", size(col("toks")))
        .withColumn("mean_word_len",
          round((length(col("text")) - (col("n") - 1)).cast(DoubleType)
            / col("n"), 9))
        .withColumn("symbol_ratio",
          round(size(filter(col("toks"),
            t => t === "#" || t === "...")).cast(DoubleType) / col("n"), 9))
        .withColumn("alpha_frac",
          round(size(filter(col("toks"),
            t => t.rlike("[a-z]"))).cast(DoubleType) / col("n"), 9))
        .withColumn("n_stop",
          size(array_intersect(array_distinct(col("toks")),
            typedLit(GopherStopwords))))
        .withColumn("pass_words",
          col("n") >= GopherMinWords && col("n") <= GopherMaxWords)
        .withColumn("pass_len",
          col("mean_word_len") >= GopherMinMeanLen
            && col("mean_word_len") <= GopherMaxMeanLen)
        .withColumn("pass_symbol", col("symbol_ratio") <= GopherMaxSymbolRatio)
        .withColumn("pass_alpha", col("alpha_frac") >= GopherMinAlphaFrac)
        .withColumn("pass_stop", col("n_stop") >= GopherMinStopHits)
        .select(col("doc_id"), col("n").cast(IntegerType).as("n_words"),
          col("mean_word_len"), col("symbol_ratio"), col("alpha_frac"),
          col("n_stop").cast(IntegerType).as("n_stop"),
          col("pass_words"), col("pass_len"), col("pass_symbol"),
          col("pass_alpha"), col("pass_stop"),
          (col("pass_words") && col("pass_len") && col("pass_symbol")
            && col("pass_alpha") && col("pass_stop")).as("quality_pass"))
        .orderBy("doc_id")
    },

    // Deterministic global training-order shuffle + shard manifest:
    // every doc gets a pseudo-random hash position (fourth independent
    // multiplicative-hash stream, same overflow-safe mod-P scheme as
    // the samplers), a shard = h mod nShards, and its position within
    // the shard under (h, doc_id) order — the manifest a training job
    // reads shard-parallel with a well-mixed, rerun-stable order.
    // rand()/repartition-based shuffles are neither rerun- nor
    // growth-stable; this is, for the same reason as txt_split_assign.
    // The only shuffle is the per-shard rank window, partitioned by
    // shard — at 100 TB nShards is thousands, so the window
    // parallelizes; nothing is ever globally single-partition sorted
    // except the bounded contract output.
    "txt_shuffle_shard" -> { (s, dir) =>
      val w = Window.partitionBy("shard").orderBy(col("h"), col("doc_id"))
      table(s, dir, "documents")
        .withColumn("h", doubleRoundHash(ShuffleHashMul))
        .withColumn("shard", (col("h") % ShuffleShards).cast(IntegerType))
        .withColumn("pos", row_number().over(w).cast(IntegerType))
        .select(col("doc_id"), col("h"), col("shard"), col("pos"))
        .orderBy("shard", "pos")
    },

    // The end-product COMPOSITION: one pass producing the curation
    // manifest a training job actually consumes. Chains the shipped
    // filters — Gopher word-count/stopword rules, the repetition
    // filter, benchmark decontamination — into keep/drop with the
    // FIRST failing filter as drop_reason (the debuggable funnel every
    // curation pipeline reports), then assigns the kept docs their
    // train/val/test split and training shard from the independent
    // hash streams. Every flag is the IDENTICAL expression its
    // standalone operator ships (same rounded comparisons, same
    // constants), so the composed result provably agrees with the
    // per-operator outputs. Work: the map-side filters fuse into one
    // pass over `documents`; only decontamination adds its (bounded,
    // broadcast) benchmark gram join — the whole manifest is one
    // corpus scan + one broadcast join at 100 TB.
    "pipeline_curate" -> { (s, dir) =>
      curateManifest(curateWithReasons(s, dir)).orderBy("doc_id")
    },

    // The funnel ATTRITION table — the monitoring output every curation
    // job ships next to its manifest: per ordered stage, how many docs
    // reached it, how many it dropped (reason = FIRST failing stage,
    // so stage counts partition the drops), how many survived, and the
    // stage's conditional drop rate. Derived from the SAME
    // [[curateWithReasons]] core as pipeline_curate, then one tiny
    // reason-count agg; the stage walk is a window over a CONSTANT
    // 4-row stage dimension (not the corpus), so the one-reducer
    // cumulative sum is a constant-size frame at any scale.
    "pipeline_stats" -> { (s, dir) =>
      val counts = curateWithReasons(s, dir)
        .groupBy("drop_reason").agg(count(lit(1)).as("n"))
      val total = counts.agg(sum(col("n")).as("total"))
      val stageDim = s.range(1).select(explode(typedLit(Seq(
          ("words", 1), ("stopwords", 2), ("repetitive", 3),
          ("contaminated", 4)))).as("st"))
        .select(col("st._1").as("stage"), col("st._2").as("ord"))
      val cum = Window.orderBy("ord")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      stageDim
        .join(counts, stageDim("stage") === counts("drop_reason"), "left")
        .withColumn("n_dropped", coalesce(col("n"), lit(0L)))
        .crossJoin(broadcast(total))
        .withColumn("cumdrop", sum(col("n_dropped")).over(cum))
        .select(col("stage"), col("ord"),
          (col("total") - col("cumdrop") + col("n_dropped")).as("n_in"),
          col("n_dropped"),
          (col("total") - col("cumdrop")).as("n_out"))
        .withColumn("drop_pct", when(col("n_in") > 0,
          round(col("n_dropped").cast(DoubleType) / col("n_in"), 9)))
        .orderBy("ord")
    },

    // Fixed-size uniform corpus sample — the distributed reservoir
    // (see [[ReservoirK]]): rank every doc by an independent
    // deterministic hash stream, keep the K smallest. Plans as
    // TakeOrderedAndProject — per-partition top-K then one K-row
    // merge; no global sort, no shuffle of the corpus. Rerun- and
    // partition-layout-stable, unlike rand()-based sampling.
    // TWO Lehmer rounds, not one: id·mul stays below the modulus for
    // id < P/mul ≈ 52k, so a single round is MONOTONE in doc_id there
    // and "top-K by hash" silently degenerates to "lowest K doc_ids";
    // the second multiplication wraps P thousands of times and
    // actually permutes the id range. (The split/shard/mix streams
    // take h mod small-n — low-bit uses a single round serves fine —
    // but rank-by-h needs the full-range scatter.)
    "sample_reservoir" -> { (s, dir) =>
      table(s, dir, "documents")
        .withColumn("h", doubleRoundHash(ReservoirHashMul))
        .orderBy(col("h"), col("doc_id"))
        .limit(ReservoirK)
        .select(col("doc_id"), col("lang"), col("source"), col("h"))
        .orderBy("doc_id")
    },

    // Okapi BM25 retrieval ranking — the scorer behind every lexical
    // search / RAG-retrieval pass over a curated corpus: for a bounded
    // query-term set, score = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 −
    // b + b·dl/avgdl)) with the Lucene idf form ln((N−df+0.5)/(df+0.5)
    // + 1), top-K docs. Exactness: tf/df/dl/N are exact integers; the
    // per-doc Σ folds over the term-SORTED struct list (identical IEEE
    // addition order both engines), one 9-dp round before the ranked
    // sort with a doc_id tiebreak. Shape: query terms are BOUNDED —
    // df/tf filter to |q| terms before any shuffle, the corpus stats
    // (N, Σdl) are a 1-row broadcast, and top-K plans as TakeOrdered —
    // one linear scan at any corpus size, the inverted-index-free
    // relational form (a deployment materializes `terms` once as its
    // index and reuses it per query).
    "txt_bm25_rank" -> { (s, dir) =>
      val q = Bm25QueryTerms
      val terms = shared(toks(s, dir)
        .select(col("doc_id"), explode(col("toks")).as("tok")))
      val dl = terms.groupBy("doc_id").agg(count(lit(1)).as("dl"))
      val stats = dl.agg(count(lit(1)).as("n_docs"),
        sum(col("dl")).as("t_toks"))
      val df = terms.filter(col("tok").isin(q: _*))
        .groupBy("tok").agg(countDistinct(col("doc_id")).as("df"))
      val tf = terms.filter(col("tok").isin(q: _*))
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
      tf.join(broadcast(df), "tok")
        .join(dl, "doc_id")
        .crossJoin(broadcast(stats))
        .groupBy("doc_id")
        .agg(first(col("dl")).as("dl"),
          first(col("n_docs")).as("n_docs"),
          first(col("t_toks")).as("t_toks"),
          sort_array(collect_list(
            struct(col("tok"), col("tf"), col("df")))).as("ts0"))
        .select(col("doc_id"), col("dl"),
          round(aggregate(col("ts0"), lit(0.0d), (acc, x) => {
            val ndD = col("n_docs").cast(DoubleType)
            val dfD = x.getField("df").cast(DoubleType)
            val tfD = x.getField("tf").cast(DoubleType)
            val idf = log((ndD - dfD + lit(0.5)) / (dfD + lit(0.5))
              + lit(1.0))
            val norm = tfD + lit(1.2) * (lit(1.0) - lit(0.75)
              + lit(0.75) * col("dl").cast(DoubleType)
                / (col("t_toks").cast(DoubleType) / ndD))
            acc + idf * (tfD * lit(2.2)) / norm
          }), 9).as("score"))
        .orderBy(col("score").desc, col("doc_id"))
        .limit(Bm25TopK)
    },

    // Collocation extraction by pointwise mutual information — the
    // corpus-linguistics staple (Church & Hanks 1990) a tokenizer/
    // phrase-mining pipeline runs to find multi-word units worth
    // merging: PMI(w1, w2) = ln(p(w1,w2) / (p(w1)p(w2))) over the
    // corpus's bigram and unigram MLEs, count-floored (see
    // [[PmiMinCount]]) and top-K by (pmi, w1, w2) for a deterministic
    // cross-engine ranking. All counts exact integers; the ln
    // decomposition (ln c12 − ln B − ln c1 − ln c2 + 2 ln T) keeps
    // every intermediate in double range at ANY corpus size (the
    // integer product c12·T² overflows int64 past ~10^9 tokens), with
    // the identical operation order in both engines + one 9-dp round.
    // Work: two vocabulary-bounded aggs broadcast + a vocab²-bounded
    // join — linear scan, bounded output, the txt_tfidf_topk class.
    "txt_pmi_colloc" -> { (s, dir) =>
      val terms = shared(toks(s, dir)
        .select(col("doc_id"), explode(col("toks")).as("tok")))
      val uni = terms.groupBy("tok").agg(count(lit(1)).as("c"))
      val tot = uni.agg(sum(col("c")).as("t_toks"))
      val bg = shared(toks(s, dir)
        .select(explode(expr(
          "transform(slice(toks, 1, greatest(size(toks) - 1, 0)), " +
            "(t, i) -> struct(t AS w1, toks[i + 1] AS w2))")).as("b"))
        .select(col("b.w1").as("w1"), col("b.w2").as("w2")))
      val c12 = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
      val btot = bg.agg(count(lit(1)).as("b_toks"))
      c12.filter(col("c12") >= PmiMinCount)
        .join(broadcast(uni.select(col("tok").as("w1"), col("c").as("c1"))),
          "w1")
        .join(broadcast(uni.select(col("tok").as("w2"), col("c").as("c2"))),
          "w2")
        .crossJoin(broadcast(tot)).crossJoin(broadcast(btot))
        .select(col("w1"), col("w2"), col("c12"),
          round(log(col("c12").cast(DoubleType))
            - log(col("b_toks").cast(DoubleType))
            - log(col("c1").cast(DoubleType))
            - log(col("c2").cast(DoubleType))
            + lit(2.0) * log(col("t_toks").cast(DoubleType)), 9).as("pmi"))
        .orderBy(col("pmi").desc, col("w1"), col("w2"))
        .limit(PmiTopK)
    },

    // Winnowing document fingerprints (Schleimer et al., SIGMOD'03 —
    // the MOSS plagiarism-detector selection scheme; see [[WinnowK]]):
    // per doc, rolling 31-base hashes of every K-char gram mod P, then
    // the min hash of each W-gram window is selected; the distinct
    // selected set is the doc's fingerprint sample. Guarantees every
    // ≥ K+W−1-char shared run is represented while storing ~1/W of the
    // grams — the index a copy-detection / near-dup service persists.
    // Entirely map-side via the codegen'd `graft_winnow` expression
    // (plans/Winnow.scala: O(n) rolling hash + window minima in one
    // primitive pass — the HOF formulation runs interpreted at
    // per-gram slice-allocation cost, and a no-exchange plan executes
    // at split parallelism, so per-row cost IS the query; same
    // mechanism and fix as txt_entropy's graft_char_counts). The
    // payload is never exploded into rows; output is the bounded
    // per-doc summary (counts + digest), so nothing wide shuffles.
    // The 100 TB shape: linear scan, per-doc state ≤ doc length.
    "txt_winnow" -> { (s, dir) =>
      graft.plans.Winnow.register(s)
      table(s, dir, "documents")
        .withColumn("fps", call_function("graft_winnow", col("text")))
        .select(col("doc_id"),
          when(length(col("text")) >= WinnowK,
            length(col("text")) - (WinnowK - 1)).otherwise(0)
            .as("n_grams"),
          size(col("fps")).as("n_fps"),
          (aggregate(col("fps"), lit(0L), (a, x) => a + x)
            % TextHash.P).as("fp_digest"))
        .orderBy("doc_id")
    },

    // The TRAINING-ORDER PACKING composition — what the tokenizer jobs
    // downstream of a curation manifest actually read: only the
    // curate-KEPT docs (the shared curateWithReasons core, so the keep
    // set provably equals pipeline_curate's), laid out in the
    // deterministic shuffle order (txt_shuffle_shard's double-round
    // hash stream) and packed into fixed-budget training sequences per
    // shard (txt_pack's single cumulative-sum window, partitioned by
    // the shard key — parallel at thousands of shards). One row per
    // kept doc: shard, training position, token offsets, sequence id.
    // Composes three shipped operators into the end-product; agreement
    // with each standalone piece is asserted in CurationOpsSpec.
    // The TOKENIZER-AWARE packing endgame: curate-kept docs, measured
    // in SUBWORDS of the trained BPE vocabulary (not whitespace
    // tokens — what the training job actually consumes), packed into
    // fixed-subword-budget sequences per shard in the deterministic
    // shuffle order. Composes three trained/derived artifacts through
    // their SHARED definitions (curateWithReasons keep set ≡
    // pipeline_curate's; bpeTrainOf/bpeEncodeOf ≡ txt_bpe_vocab/
    // _encode's; the pack window ≡ pipeline_pack's), so the
    // composition provably equals its pieces. Scale shape: the curate
    // scan + the BPE broadcast-join encode + ONE shard-partitioned
    // cumulative-sum window — pipeline_pack's linear class plus the
    // histogram-bounded training.
    "pipeline_tokenize" -> { (s, dir) =>
      val (words, _) = bpeTrainOf(table(s, dir, "documents"))
      val enc = bpeEncodeOf(table(s, dir, "documents"), words)
        .select(col("doc_id"), col("n_subwords"))
      val kept = curateWithReasons(s, dir)
        .filter(col("drop_reason").isNull)
        .select(col("doc_id"),
          (col("h_shard") % ShuffleShards).cast(IntegerType).as("shard"),
          col("h_shard").as("h"))
      val w = Window.partitionBy("shard").orderBy(col("h"), col("doc_id"))
      kept.join(enc, "doc_id")
        .withColumn("pos", row_number().over(w).cast(IntegerType))
        .withColumn("start_offset",
          sum(col("n_subwords")).over(w.rowsBetween(
            Window.unboundedPreceding, Window.currentRow))
            - col("n_subwords"))
        .select(col("doc_id"), col("shard"), col("pos"),
          col("n_subwords"), col("start_offset"),
          expr(s"start_offset DIV $BpePackBudget").as("seq_id"),
          expr(s"start_offset % $BpePackBudget").as("offset_in_seq"))
        .orderBy("shard", "pos")
    },

    "pipeline_pack" -> { (s, dir) =>
      val kept = curateWithReasons(s, dir)
        .filter(col("drop_reason").isNull)
        .select(col("doc_id"),
          (col("h_shard") % ShuffleShards).cast(IntegerType).as("shard"),
          col("h_shard").as("h"),
          col("n").cast(LongType).as("n_tokens"))
      val w = Window.partitionBy("shard").orderBy(col("h"), col("doc_id"))
      kept
        .withColumn("pos", row_number().over(w).cast(IntegerType))
        .withColumn("start_offset",
          sum(col("n_tokens")).over(w.rowsBetween(
            Window.unboundedPreceding, Window.currentRow))
            - col("n_tokens"))
        .select(col("doc_id"), col("shard"), col("pos"), col("n_tokens"),
          col("start_offset"),
          expr(s"start_offset DIV $PackBudget").as("seq_id"),
          expr(s"start_offset % $PackBudget").as("offset_in_seq"))
        .orderBy("shard", "pos")
    },

    // Per-source language-balance report — the dataset-composition
    // monitor shipped next to every multilingual curation manifest
    // (the numbers a temperature sampler like sample_temperature is
    // later tuned against): docs per source, distinct languages, the
    // majority language + its share, and the Shannon entropy of the
    // source's language distribution (0 = monolingual, log2(k) =
    // uniform over k). Exactness by the txt_entropy recipe: exact
    // integer counts, the fold runs over the count-SORTED list
    // (identical addition order both engines), one 9-dp round per
    // double. Work: one (source, lang) groupBy + one source-bounded
    // agg — two partial-aggregated exchanges, output bounded by
    // sources × langs at any corpus scale.
    "agg_label_balance" -> { (s, dir) =>
      val counts = table(s, dir, "documents")
        .groupBy("source", "lang").agg(count(lit(1)).as("cnt"))
      counts.groupBy("source")
        .agg(
          sum(col("cnt")).as("n_docs"),
          count(lit(1)).cast(IntegerType).as("n_langs"),
          max(struct(col("cnt"), col("lang"))).as("top"),
          sort_array(collect_list(col("cnt"))).as("cs"))
        .select(col("source"), col("n_docs"), col("n_langs"),
          col("top.lang").as("top_lang"),
          round(col("top.cnt").cast(DoubleType) / col("n_docs"), 9)
            .as("top_frac"),
          round(lit(0.0) - aggregate(col("cs"), lit(0.0d),
            (a, c) => a + (c.cast(DoubleType) / col("n_docs"))
              * (log(c.cast(DoubleType) / col("n_docs")) / lit(Ln2))), 9)
            .as("lang_entropy"))
        .orderBy("source")
    },

    // Bigram LM quality score — the KenLM-style upgrade of
    // txt_unigram_logprob (CCNet trains an actual n-gram LM; the
    // corpus's own bigram MLE is its relational stand-in): per-doc mean
    // log P(w_i | w_{i-1}) = mean over doc bigrams of
    // ln C(w1,w2) − ln C(w1), with all counts exact corpus-level
    // integers. No smoothing is needed for well-definedness: every doc
    // bigram contributes to the corpus counts, so C(w1,w2) ≥ 1 and the
    // score is finite and ≤ 0 (a proper mean log-probability).
    // Cross-engine exactness by the unigram recipe: integer counts,
    // per-doc fold over the (c12, c1, tf)-SORTED triple list (identical
    // addition order in DuckDB's list(... ORDER BY)), one division +
    // 9-dp round + `+ 0.0`. Work: two vocabulary-bounded aggregations
    // broadcast as dictionaries + one per-doc agg — linear, the same
    // 100 TB shape as txt_tfidf_topk.
    "txt_bigram_logprob" -> { (s, dir) => bigramLogprobOf(s, dir) },

    // CCNet-style perplexity filtering (Wenzek et al. 2020,
    // arXiv:1911.00359 §3.3): score every doc with the corpus bigram
    // LM and bucket into head/middle/tail TERCILES of model fit —
    // head+middle ship, tail (and empty docs) drop. Kept exp-free on
    // purpose: perplexity = exp(−logprob) is MONOTONE in logprob, so
    // the terciles are computed on the already-9-dp-rounded logprob
    // and no cross-engine libm exp can perturb the hash. Scale shape:
    // the LM legs are txt_bigram_logprob's (vocab-bounded broadcast
    // stats over one corpus scan); the tercile boundaries are the
    // txt_quality_tier recipe — ONE exact-percentile aggregation over
    // NANO-quantized logprob (9-dp-rounded doubles ×1e9 are exact
    // integers, so both engines interpolate identically) broadcast to
    // a map-side threshold — NOT a global ntile window, whose single
    // unpartitioned reducer is the one-reducer anti-pattern at 100 TB
    // (PlanShapeSpec pins the no-Window plan). Boundary-tied docs
    // share a bucket, so the assignment is total-order-free.
    "txt_perplexity_filter" -> { (s, dir) =>
      // shared(): the LM relation is referenced THREE times (the
      // percentile agg, the bucket projection, and the empty-doc
      // union leg) — un-persisted, the full bigram-LM derivation
      // (explode + three groupBys + two broadcast joins) would
      // execute once per reference
      val lp = shared(bigramLogprobOf(s, dir))
      val nz = lp.filter(col("n_bigrams") > 0)
        .withColumn("lp_nano",
          expr("CAST(round(logprob * 1e9) AS BIGINT)"))
      val bounds = nz.agg(expr(
        s"percentile(lp_nano, array(${PerplexityTerciles.mkString(", ")}))")
        .as("bs"))
      nz.crossJoin(broadcast(bounds))
        .withColumn("t", lit(1) + size(filter(col("bs"),
          b => col("lp_nano").cast(DoubleType) > b)))
        .select(col("doc_id"), col("n_bigrams"), col("logprob"),
          when(col("t") === 3, "head").when(col("t") === 2, "middle")
            .otherwise("tail").as("bucket"),
          (col("t") >= 2).as("keep"))
        .unionByName(lp.filter(col("n_bigrams") === 0)
          .select(col("doc_id"), col("n_bigrams"), col("logprob"),
            lit("empty").as("bucket"), lit(false).as("keep")))
        .orderBy("doc_id")
    },

    // PII detection + redaction (email / IPv4): per-doc match counts
    // via regexp_extract_all and a redacted text via two chained
    // regexp_replace passes — the scrubbing step every
    // publicly-trained corpus runs. The synthetic corpus contains no
    // PII, so the query first INJECTS deterministic spans (emails on
    // doc_id ≡ 0 mod 5, dotted quads on ≡ 0 mod 7, both derived from
    // doc_id) — the injection is part of the query in BOTH engines, so
    // the redaction machinery is observable and oracle-checked rather
    // than vacuously matching on zero hits. Map-side, shuffle-free bar
    // the contract sort; regex evaluation stays inside whole-stage
    // codegen (no UDF).
    "txt_pii_redact" -> { (s, dir) =>
      table(s, dir, "documents")
        .withColumn("injected", concat(col("text"),
          when(col("doc_id") % 5 === 0,
            concat(lit(" contact user"), col("doc_id"),
              lit("@example.com"))).otherwise(lit("")),
          when(col("doc_id") % 7 === 0,
            concat(lit(" from 10."), col("doc_id") % 256, lit(".0."),
              col("doc_id") % 100)).otherwise(lit(""))))
        .withColumn("n_emails",
          size(regexp_extract_all(col("injected"), lit(EmailRe), lit(0))))
        .withColumn("n_ips",
          size(regexp_extract_all(col("injected"), lit(IpRe), lit(0))))
        .select(col("doc_id"), col("n_emails"), col("n_ips"),
          (col("n_emails") > 0 || col("n_ips") > 0).as("has_pii"),
          regexp_replace(
            regexp_replace(col("injected"), EmailRe, "<EMAIL>"),
            IpRe, "<IP>").as("redacted"))
        .orderBy("doc_id")
    },

    // Cross-document exact SPAN dedup with reconstruction (the C4/
    // Lee-et-al. span-removal step, relationally): partition each doc
    // into non-overlapping SpanWidth-token spans, keep only the FIRST
    // corpus occurrence of each distinct span (lexicographic
    // (doc_id, span_id) — deterministic, partition-independent), and
    // rebuild each doc's cleaned text from its surviving spans in
    // order. Unlike dedup_substring (which only FLAGS overlap), this
    // emits the edited corpus a training job actually reads. Keep-first
    // is a partially-aggregated groupBy argmin (min struct), NEVER a
    // span-partitioned window — a viral boilerplate span adds rows to
    // one reduce key but the partial agg bounds the skew; the join-back
    // on the span key is the standard AQE-skew-split equi-join. Linear:
    // each token belongs to exactly one span, spans never pair.
    "txt_span_dedup" -> { (s, dir) =>
      val w0 = SpanWidth
      val spans = shared(toks(s, dir)
        .withColumn("n", size(col("toks")))
        .select(col("doc_id"), explode(expr(
          s"transform(sequence(0, (n - 1) DIV $w0), i -> struct(" +
            s"i AS span_id, " +
            s"concat_ws(' ', slice(toks, i * $w0 + 1, $w0)) AS span))"))
          .as("sp"))
        .select(col("doc_id"), col("sp.span_id").as("span_id"),
          col("sp.span").as("span")))
      val firsts = spans.groupBy("span")
        .agg(min(struct(col("doc_id"), col("span_id"))).as("f"))
      spans.join(firsts, "span")
        .withColumn("is_first", col("doc_id") === col("f.doc_id")
          && col("span_id") === col("f.span_id"))
        .groupBy("doc_id")
        .agg(
          count(lit(1)).as("n_spans"),
          sum(when(col("is_first"), 1L).otherwise(0L)).as("n_kept"),
          concat_ws(" ", expr(
            "transform(array_sort(collect_list(" +
              "CASE WHEN is_first THEN struct(span_id, span) END)), " +
              "x -> x.span)")).as("clean_text"))
        .orderBy("doc_id")
    },

    // Curriculum/quality tiering: assign every doc its global quality
    // DECILE — the bucketing a curriculum schedule or quality-stratified
    // sampler consumes. NOT ntile: a global ntile is a single-partition
    // total sort (the one-reducer anti-pattern at 100 TB). Instead the
    // 9 tier boundaries come from ONE exact-percentile aggregation over
    // MICRO-QUANTIZED quality (integer inputs ⇒ both engines
    // interpolate identically, the agg_median recipe), broadcast to a
    // map-side tier assignment (count of boundaries strictly below the
    // doc) — one scan + one 9-double broadcast at any corpus scale.
    // Ties share a tier (boundary-equal docs are never split), so the
    // assignment is total-order-free and deterministic.
    "txt_quality_tier" -> { (s, dir) =>
      val q = qualityParts(s, dir)
        .select(col("doc_id"),
          expr("CAST(round(quality * 1e6) AS BIGINT)").as("q_micro"))
      val bounds = q.agg(expr(
        s"percentile(q_micro, array(${TierFractions.mkString(", ")}))")
        .as("bs"))
      val tiered = q.crossJoin(broadcast(bounds))
        .select(col("doc_id"), col("q_micro"),
          (lit(1) + size(filter(col("bs"),
            b => col("q_micro").cast(DoubleType) > b)))
            .cast(IntegerType).as("tier"))
      val sizes = tiered.groupBy("tier")
        .agg(count(lit(1)).as("n_in_tier"))
      tiered.join(broadcast(sizes), "tier")
        .select(col("doc_id"), col("q_micro"), col("tier"),
          col("n_in_tier"))
        .orderBy("doc_id")
    },

    // Mixture-weight sampling manifest: the domain-reweighting step
    // (DoReMi/Pile-style source mixing) that turns per-source target
    // weights into a per-doc COPY COUNT — down-sampled sources keep a
    // hash-selected fraction, up-sampled sources repeat every doc
    // floor(w) times plus a hash-selected extra. All arithmetic is
    // exact integer micro-units with a fifth independent hash stream,
    // so the manifest is rerun/partition/corpus-growth stable (adding
    // docs never flips an existing decision — the property a resumable
    // 100 TB mixing pass needs). Map-side, shuffle-free bar the sort.
    "pipeline_mix" -> { (s, dir) =>
      table(s, dir, "documents")
        .withColumn("src_idx",
          substring(col("source"), 4, 10).cast(IntegerType))
        .withColumn("weight_micro",
          when(col("src_idx") % 3 === 0, MixDownMicro)
            .when(col("src_idx") % 3 === 1, MixKeepMicro)
            .otherwise(MixUpMicro))
        .withColumn("h",
          ((col("doc_id") % lit(TextHash.P)) * lit(MixHashMul))
            % lit(TextHash.P))
        .withColumn("n_copies",
          expr("weight_micro DIV 1000000")
            + when(col("h") % 1000000L < col("weight_micro") % 1000000L,
              1L).otherwise(0L))
        .select(col("doc_id"), col("source"), col("weight_micro"),
          col("n_copies"), (col("n_copies") > 0).as("included"))
        .orderBy("doc_id")
    },

    // Tokenizer-vocabulary coverage: per-doc out-of-vocabulary rate
    // against the corpus's top-K token vocabulary — the check a
    // pipeline runs before committing a tokenizer (high OOV = wrong
    // language, OCR noise, or a vocab that won't fit the corpus).
    // The vocab is vocabulary-bounded (top-K of a token groupBy), so
    // it BROADCASTS at any corpus scale and the scoring pass is one
    // linear left join + per-doc agg — the txt_tfidf_topk shape.
    "txt_vocab_coverage" -> { (s, dir) =>
      val terms = shared(toks(s, dir)
        .select(col("doc_id"), explode(col("toks")).as("tok")))
      val vocab = terms.groupBy("tok").agg(count(lit(1)).as("gtf"))
        .orderBy(col("gtf").desc, col("tok")).limit(VocabTopK)
        .select(col("tok"), lit(1).as("in_vocab"))
      terms.join(broadcast(vocab), Seq("tok"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
        .withColumn("oov_rate",
          round(col("n_oov").cast(DoubleType) / col("n_tokens"), 9))
        .orderBy("doc_id")
    },

    // THE corpus-build manifest: curation funnel + near-dup dedup +
    // mixture sampling composed into one decision row per document —
    // keep iff it passes the curation filters AND survives dedup AND
    // draws a nonzero mixture copy count, with the FIRST failing stage
    // as `reason` (filters → near_dup → mixed_out, the order a real
    // pipeline applies them), `dup_of` for dedup casualties, the copy
    // count, and split/shard for the final kept set. Every leg is the
    // standalone operator's identical derivation (curate: the fused
    // map-side chain + bounded broadcast gram join; dedup: SimHash →
    // bounded CC → per-cluster quality argmax; mix: the independent
    // hash stream) — composition agreement asserted leg-by-leg in
    // PipelineOpsSpec. Scale shape: the union of the legs' shapes, one
    // corpus-wide equi-join spine on doc_id at the end.
    "pipeline_full" -> { (s, dir) =>
      // curate leg (the shared curateWithReasons core = verbatim
      // pipeline_curate)
      val curate = curateManifest(curateWithReasons(s, dir))
      // dedup leg (verbatim pipeline_dedup)
      val q = qualityParts(s, dir).select("doc_id", "quality")
      val ordered = Window.partitionBy("cluster")
        .orderBy(col("quality").desc, col("doc_id"))
      val nodes = table(s, dir, "documents").select("doc_id")
      // GLOBAL edges since round 10: the manifest's dedup leg matches
      // pipeline_dedup's corpus-wide scoping (verdict #1)
      val ded = DedupOps.ccPsLoop(nodes,
          DedupOps.simhashEdgesGlobal(s, dir), DedupOps.StarCcPairs)._1
        .join(q, "doc_id")
        .withColumn("dedup_keep", row_number().over(ordered) === 1)
        .withColumn("canon", first(col("doc_id")).over(ordered))
        .select(col("doc_id"), col("dedup_keep"),
          when(!col("dedup_keep"), col("canon")).as("dup_of"))
      // mix leg (verbatim pipeline_mix)
      val mix = table(s, dir, "documents")
        .withColumn("src_idx",
          substring(col("source"), 4, 10).cast(IntegerType))
        .withColumn("weight_micro",
          when(col("src_idx") % 3 === 0, MixDownMicro)
            .when(col("src_idx") % 3 === 1, MixKeepMicro)
            .otherwise(MixUpMicro))
        .withColumn("h",
          ((col("doc_id") % lit(TextHash.P)) * lit(MixHashMul))
            % lit(TextHash.P))
        .select(col("doc_id"),
          (expr("weight_micro DIV 1000000")
            + when(col("h") % 1000000L < col("weight_micro") % 1000000L,
              1L).otherwise(0L)).as("n_copies"))
      curate.join(ded, "doc_id").join(mix, "doc_id")
        .withColumn("keep_final",
          col("keep") && col("dedup_keep") && col("n_copies") > 0)
        .select(col("doc_id"), col("keep_final").as("keep"),
          coalesce(col("drop_reason"),
            when(!col("dedup_keep"), "near_dup"),
            when(col("n_copies") === 0, "mixed_out")).as("reason"),
          col("dup_of"), col("n_copies"),
          when(col("keep_final"), col("split")).as("split"),
          when(col("keep_final"), col("shard")).as("shard"))
        .orderBy("doc_id")
    })

  def oracleSql: Map[String, String] = {
   val base = Map(
    "txt_unigram_logprob" ->
      """WITH terms AS (
        |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
        |  FROM documents),
        |tf AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
        |       FROM terms GROUP BY 1, 2),
        |gtf AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS gtf
        |        FROM terms GROUP BY 1),
        |tot AS (SELECT CAST(SUM(gtf) AS BIGINT) AS t_toks FROM gtf),
        |sc AS (
        |  SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_tokens,
        |         list(struct_pack(gtf := gtf, tf := tf)
        |           ORDER BY gtf, tf) AS pairs,
        |         any_value(t_toks) AS t_toks
        |  FROM tf JOIN gtf USING (tok) CROSS JOIN tot
        |  GROUP BY doc_id),
        |s2 AS (
        |  SELECT doc_id, n_tokens,
        |         round((list_reduce(list_transform(pairs,
        |               p -> CAST(p.tf AS DOUBLE)
        |                 * ln(CAST(p.gtf AS DOUBLE))),
        |             (a, b) -> a + b)
        |           - CAST(n_tokens AS DOUBLE)
        |             * ln(CAST(t_toks AS DOUBLE)))
        |           / CAST(n_tokens AS DOUBLE), 9) AS logprob
        |  FROM sc)
        |SELECT d.doc_id, COALESCE(s2.n_tokens, 0) AS n_tokens,
        |       COALESCE(s2.logprob, 0.0) + 0.0 AS logprob
        |FROM documents d LEFT JOIN s2 USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    "sample_token_budget" ->
      s"""WITH d AS (
         |  SELECT doc_id, source,
         |         CAST(len(string_split(lower(text), ' ')) AS BIGINT)
         |           AS n_tokens,
         |         CAST(substr(source, 4) AS INTEGER) AS src_idx,
         |         ((((doc_id % ${TextHash.P}) * $ShuffleHashMul)
         |           % ${TextHash.P}) * $ShuffleHashMul) % ${TextHash.P}
         |           AS h
         |  FROM documents),
         |b AS (SELECT source,
         |        CAST(SUM(n_tokens)
         |          * (CASE WHEN MAX(src_idx) % 3 = 0 THEN 20
         |                  WHEN MAX(src_idx) % 3 = 1 THEN 40
         |                  ELSE 80 END) // 100 AS BIGINT) AS budget
         |      FROM d GROUP BY source),
         |w AS (SELECT d.doc_id, d.source, d.n_tokens, b.budget,
         |        CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY d.source
         |          ORDER BY h, doc_id ROWS BETWEEN UNBOUNDED PRECEDING
         |          AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
         |      FROM d JOIN b USING (source))
         |SELECT doc_id, source, n_tokens, budget, cum_before,
         |       cum_before < budget AS keep
         |FROM w ORDER BY doc_id""".stripMargin,

    "sample_temperature" ->
      """WITH bylang AS (
        |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_l,
        |         CAST(round(pow(CAST(COUNT(*) AS DOUBLE), 0.3)
        |           * 1000000.0) AS BIGINT) AS w
        |  FROM documents GROUP BY 1),
        |tot AS (SELECT CAST(SUM(w) AS BIGINT) AS tw FROM bylang),
        |q AS (SELECT lang, n_l, CAST((200 * w) // tw AS INTEGER) AS quota
        |      FROM bylang CROSS JOIN tot)
        |SELECT doc_id, lang, n_l, quota, h, CAST(rn AS INTEGER) AS rn
        |FROM (
        |  SELECT d.doc_id, d.lang, q.n_l, q.quota,
        |         ((d.doc_id % 2147483647) * 1103515245) % 2147483647 AS h,
        |         ROW_NUMBER() OVER (PARTITION BY d.lang
        |           ORDER BY ((d.doc_id % 2147483647) * 1103515245)
        |             % 2147483647, d.doc_id) AS rn
        |  FROM documents d JOIN q USING (lang))
        |WHERE rn <= quota ORDER BY lang, rn""".stripMargin,

    // list_slice(l, 1, k) is end-INDEX based (Spark's slice is
    // length-based) — identical here because begin is 1; greatest(k, 0)
    // keeps the end non-negative (a negative end would flip DuckDB into
    // from-the-back indexing). DuckDB lambdas index 1-based, so
    // x = toks[i] and the following tokens are toks[i+1..].
    "txt_repetition" ->
      s"""WITH t AS (
         |  SELECT doc_id, string_split(lower(text), ' ') AS toks
         |  FROM documents),
         |s AS (
         |  SELECT doc_id, CAST(len(toks) AS INTEGER) AS n,
         |         list_max(list_transform(list_distinct(toks),
         |           u -> len(list_filter(toks, x -> x = u)))) AS top_cnt,
         |         list_transform(
         |           list_slice(toks, 1, greatest(len(toks) - 1, 0)),
         |           (x, i) -> x || ' ' || toks[i + 1]) AS bg
         |  FROM t)
         |SELECT doc_id, n AS n_tokens,
         |       round(CAST(top_cnt AS DOUBLE) / n, 9) AS top_tok_frac,
         |       CASE WHEN n > 1 THEN
         |         round(CAST(1 AS DOUBLE)
         |           - CAST(len(list_distinct(bg)) AS DOUBLE) / len(bg), 9)
         |       ELSE CAST(0 AS DOUBLE) END AS dup_bigram_frac,
         |       round(CAST(top_cnt AS DOUBLE) / n, 9)
         |           >= CAST($RepTopTokFrac AS DOUBLE)
         |         OR (CASE WHEN n > 1 THEN
         |               round(CAST(1 AS DOUBLE)
         |                 - CAST(len(list_distinct(bg)) AS DOUBLE)
         |                   / len(bg), 9)
         |             ELSE CAST(0 AS DOUBLE) END)
         |           >= CAST($RepDupBigramFrac AS DOUBLE) AS repetitive
         |FROM s ORDER BY doc_id""".stripMargin,

    "txt_chunk" -> {
      val (w0, st) = (ChunkWidth, ChunkStride)
      s"""WITH t AS (
         |  SELECT doc_id, string_split(lower(text), ' ') AS toks,
         |         CAST(len(string_split(lower(text), ' ')) AS INTEGER)
         |           AS n
         |  FROM documents),
         |u AS (
         |  SELECT doc_id, toks, unnest(generate_series(0, greatest(
         |    CAST(ceil((n - $w0) / CAST($st AS DOUBLE)) AS INTEGER), 0)))
         |    AS i
         |  FROM t)
         |SELECT doc_id, CAST(i AS INTEGER) AS chunk_id,
         |       CAST(len(list_slice(toks, i * $st + 1, i * $st + $w0))
         |         AS INTEGER) AS chunk_tokens,
         |       array_to_string(
         |         list_slice(toks, i * $st + 1, i * $st + $w0), ' ')
         |         AS chunk_text
         |FROM u ORDER BY doc_id, chunk_id""".stripMargin
    },

    // SUM() OVER on BIGINT yields HUGEINT in DuckDB — cast back so the
    // offset columns stay int64 like Spark's
    "txt_pack" ->
      s"""SELECT doc_id, source, n_tokens, start_offset,
         |       start_offset // $PackBudget AS seq_id,
         |       start_offset % $PackBudget AS offset_in_seq
         |FROM (
         |  SELECT doc_id, source, n_tokens,
         |         CAST(SUM(n_tokens) OVER (PARTITION BY source
         |           ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
         |           AND CURRENT ROW) AS BIGINT) - n_tokens
         |           AS start_offset
         |  FROM (SELECT doc_id, source,
         |          CAST(len(string_split(lower(text), ' ')) AS BIGINT)
         |            AS n_tokens
         |        FROM documents))
         |ORDER BY source, doc_id""".stripMargin,

    "txt_decontaminate" -> {
      val g = DecontaminateGram
      val gramConcat = (1 until g).map(k => s"toks[i + $k]")
        .mkString(" || ' ' || ")
      s"""WITH t AS (
         |  SELECT doc_id, string_split(lower(text), ' ') AS toks
         |  FROM documents),
         |dg AS (
         |  SELECT DISTINCT doc_id, unnest(list_distinct(list_transform(
         |    list_slice(toks, 1, greatest(len(toks) - ${g - 1}, 0)),
         |    (x, i) -> x || ' ' || $gramConcat))) AS g
         |  FROM t),
         |bench AS (SELECT doc_id AS bench_id, g FROM dg
         |          WHERE doc_id < $DecontaminateBenchDocs),
         |sh AS (
         |  SELECT dg.doc_id, CAST(COUNT(DISTINCT dg.g) AS BIGINT)
         |           AS n_shared
         |  FROM dg JOIN bench USING (g)
         |  WHERE bench.bench_id <> dg.doc_id
         |  GROUP BY dg.doc_id)
         |SELECT d.doc_id, COALESCE(sh.n_shared, 0) AS n_shared,
         |       COALESCE(sh.n_shared, 0) > 0 AS contaminated
         |FROM documents d LEFT JOIN sh ON d.doc_id = sh.doc_id
         |ORDER BY d.doc_id""".stripMargin
    },

    "txt_bm25_rank" -> {
      val inList = Bm25QueryTerms.map(t => s"'$t'").mkString(", ")
      s"""WITH terms AS (
         |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
         |  FROM documents),
         |dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl
         |       FROM terms GROUP BY 1),
         |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         |              CAST(SUM(dl) AS BIGINT) AS t_toks FROM dl),
         |df AS (SELECT tok, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
         |       FROM terms WHERE tok IN ($inList) GROUP BY 1),
         |tf AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
         |       FROM terms WHERE tok IN ($inList) GROUP BY 1, 2),
         |g AS (SELECT tf.doc_id, any_value(dl.dl) AS dl,
         |        any_value(n_docs) AS n_docs,
         |        any_value(t_toks) AS t_toks,
         |        list(struct_pack(tok := tf.tok, tf := tf.tf,
         |          df := df.df) ORDER BY tf.tok) AS ts0
         |      FROM tf JOIN df USING (tok) JOIN dl USING (doc_id)
         |      CROSS JOIN st GROUP BY 1)
         |SELECT doc_id, dl,
         |       round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |           list_transform(ts0, x ->
         |             ln((CAST(n_docs AS DOUBLE) - CAST(x.df AS DOUBLE)
         |                  + 0.5) / (CAST(x.df AS DOUBLE) + 0.5) + 1.0)
         |             * (CAST(x.tf AS DOUBLE) * 2.2)
         |             / (CAST(x.tf AS DOUBLE) + 1.2 * (1.0 - 0.75
         |                + 0.75 * CAST(dl AS DOUBLE)
         |                  / (CAST(t_toks AS DOUBLE)
         |                     / CAST(n_docs AS DOUBLE)))))),
         |         (a, b) -> a + b), 9) AS score
         |FROM g ORDER BY score DESC, doc_id LIMIT $Bm25TopK""".stripMargin
    },

    "txt_pmi_colloc" ->
      s"""WITH terms AS (
         |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
         |  FROM documents),
         |uni AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c
         |        FROM terms GROUP BY 1),
         |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS t_toks FROM uni),
         |t2 AS (SELECT doc_id, string_split(lower(text), ' ') AS toks
         |       FROM documents),
         |bg AS (
         |  SELECT unnest(list_transform(
         |    list_slice(toks, 1, greatest(len(toks) - 1, 0)),
         |    (x, i) -> struct_pack(w1 := x, w2 := toks[i + 1]))) AS b
         |  FROM t2),
         |c12 AS (SELECT b.w1 AS w1, b.w2 AS w2,
         |          CAST(COUNT(*) AS BIGINT) AS c12
         |        FROM bg GROUP BY 1, 2),
         |btot AS (SELECT CAST(COUNT(*) AS BIGINT) AS b_toks FROM bg)
         |SELECT w1, w2, c12,
         |       round(ln(CAST(c12 AS DOUBLE)) - ln(CAST(b_toks AS DOUBLE))
         |             - ln(CAST(c1 AS DOUBLE)) - ln(CAST(c2 AS DOUBLE))
         |             + 2.0 * ln(CAST(t_toks AS DOUBLE)), 9) AS pmi
         |FROM c12
         |JOIN (SELECT tok AS w1, c AS c1 FROM uni) USING (w1)
         |JOIN (SELECT tok AS w2, c AS c2 FROM uni) USING (w2)
         |CROSS JOIN tot CROSS JOIN btot
         |WHERE c12 >= $PmiMinCount
         |ORDER BY pmi DESC, w1, w2 LIMIT $PmiTopK""".stripMargin,

    "txt_winnow" ->
      s"""WITH wfp AS ($winnowFpsSql)
         |SELECT d.doc_id,
         |       CASE WHEN length(d.text) >= $WinnowK
         |         THEN CAST(length(d.text) - ${WinnowK - 1} AS INTEGER)
         |         ELSE 0 END AS n_grams,
         |       CAST(len(w.fps) AS INTEGER) AS n_fps,
         |       CAST(COALESCE(list_sum(w.fps), 0) % ${TextHash.P}
         |         AS BIGINT) AS fp_digest
         |FROM documents d JOIN wfp w USING (doc_id)
         |ORDER BY doc_id""".stripMargin,

    "agg_label_balance" ->
      s"""WITH c AS (
         |  SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS cnt
         |  FROM documents GROUP BY 1, 2),
         |s AS (
         |  SELECT source, CAST(SUM(cnt) AS BIGINT) AS n_docs,
         |         CAST(COUNT(*) AS INTEGER) AS n_langs,
         |         max(struct_pack(cnt := cnt, lang := lang)) AS top,
         |         list(cnt ORDER BY cnt) AS cs
         |  FROM c GROUP BY 1)
         |SELECT source, n_docs, n_langs, top.lang AS top_lang,
         |       round(CAST(top.cnt AS DOUBLE) / n_docs, 9) AS top_frac,
         |       round(0.0 - list_reduce(list_transform(cs,
         |           c -> (CAST(c AS DOUBLE) / n_docs)
         |             * (ln(CAST(c AS DOUBLE) / n_docs)
         |                / CAST($Ln2 AS DOUBLE))),
         |         (a, b) -> a + b), 9) AS lang_entropy
         |FROM s ORDER BY source""".stripMargin,

    "txt_tfidf_topk" ->
      """WITH terms AS (
        |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
        |       FROM terms GROUP BY 1, 2),
        |idf AS (SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
        |        FROM terms GROUP BY 1),
        |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents)
        |SELECT doc_id, rk, term, score FROM (
        |  SELECT doc_id, term,
        |         round(tf * ln(CAST(n_docs AS DOUBLE) / df), 9) AS score,
        |         CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
        |           ORDER BY round(tf * ln(CAST(n_docs AS DOUBLE) / df), 9)
        |             DESC, term) AS INTEGER) AS rk
        |  FROM tf JOIN idf USING (term) CROSS JOIN n)
        |WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin,

    "txt_entropy" ->
      s"""WITH chars AS (
         |  SELECT doc_id, CAST(length(text) AS DOUBLE) AS n,
         |         unnest(string_split(text, '')) AS c
         |  FROM documents),
         |freq AS (SELECT doc_id, n, c, CAST(COUNT(*) AS DOUBLE) AS cnt
         |         FROM chars WHERE c <> '' GROUP BY doc_id, n, c),
         |ent AS (
         |  SELECT doc_id,
         |         round(-list_reduce(list_transform(list(cnt ORDER BY cnt),
         |             c -> (c / n) * (ln(c / n) / CAST($Ln2 AS DOUBLE))),
         |           (a, b) -> a + b), 9)
         |           + 0.0 AS entropy
         |  FROM freq GROUP BY doc_id, n)
         |SELECT d.doc_id, COALESCE(e.entropy, 0.0) AS entropy
         |FROM documents d LEFT JOIN ent e ON d.doc_id = e.doc_id
         |ORDER BY d.doc_id""".stripMargin,

    "sample_stratified" ->
      """SELECT doc_id, lang, source, h, CAST(rn AS INTEGER) AS rn FROM (
        |  SELECT doc_id, lang, source,
        |         ((doc_id % 2147483647) * 506952114) % 2147483647 AS h,
        |         ROW_NUMBER() OVER (PARTITION BY lang, source
        |           ORDER BY ((doc_id % 2147483647) * 506952114) % 2147483647,
        |             doc_id) AS rn
        |  FROM documents)
        |WHERE rn <= 10 ORDER BY lang, source, rn""".stripMargin,

    "txt_tokenize_tf" ->
      """SELECT word, CAST(COUNT(*) AS BIGINT) AS n
        |FROM (SELECT unnest(string_split(lower(text), ' ')) AS word
        |      FROM documents)
        |GROUP BY word ORDER BY n DESC, word ASC""".stripMargin,

    "txt_ngram" ->
      """SELECT bigram, CAST(COUNT(*) AS BIGINT) AS n
        |FROM (SELECT unnest(list_filter(
        |        list_transform(string_split(lower(text), ' '),
        |          (t, i) -> t || ' ' || string_split(lower(text), ' ')[i + 1]),
        |        x -> x IS NOT NULL)) AS bigram
        |      FROM documents)
        |GROUP BY bigram ORDER BY n DESC, bigram ASC""".stripMargin,

    "txt_langid" ->
      s"""WITH hits AS (
         |  SELECT doc_id, cand_lang, CAST(COUNT(*) AS BIGINT) AS hits
         |  FROM (SELECT doc_id, unnest(string_split(lower(text), ' '))
         |          AS marker FROM documents) t
         |  JOIN $profilesValuesSql USING (marker)
         |  GROUP BY doc_id, cand_lang),
         |best AS (
         |  SELECT doc_id, cand_lang, hits FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
         |      ORDER BY hits DESC, cand_lang ASC) AS rn FROM hits)
         |  WHERE rn = 1)
         |SELECT d.doc_id, d.lang AS actual,
         |       COALESCE(b.cand_lang, 'unknown') AS predicted,
         |       COALESCE(b.hits, 0) AS hits
         |FROM documents d LEFT JOIN best b ON d.doc_id = b.doc_id
         |ORDER BY d.doc_id""".stripMargin,

    "txt_langid_ngram" ->
      s"""WITH hits AS (
         |  SELECT doc_id, cand_lang, CAST(COUNT(*) AS BIGINT) AS hits
         |  FROM (SELECT doc_id, unnest(list_transform(
         |          generate_series(1, greatest(length(text) - 1, 1)),
         |          i -> substr(text, i, 2))) AS gram FROM documents) t
         |  JOIN $charProfilesValuesSql USING (gram)
         |  GROUP BY doc_id, cand_lang),
         |best AS (
         |  SELECT doc_id, cand_lang, hits FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
         |      ORDER BY hits DESC, cand_lang ASC) AS rn FROM hits)
         |  WHERE rn = 1)
         |SELECT d.doc_id, d.lang AS actual,
         |       COALESCE(b.cand_lang, 'unknown') AS predicted,
         |       COALESCE(b.hits, 0) AS hits
         |FROM documents d LEFT JOIN best b ON d.doc_id = b.doc_id
         |ORDER BY d.doc_id""".stripMargin,

    "txt_quality_score" ->
      s"""SELECT * FROM ($qualityPartsSql)
         |ORDER BY doc_id""".stripMargin,

    "txt_token_count" ->
      """SELECT doc_id,
        |       CAST(len(string_split(lower(text), ' ')) AS INTEGER)
        |         AS ws_tokens,
        |       CAST(list_sum(list_transform(string_split(lower(text), ' '),
        |         t -> (length(t) + 3) // 4)) AS BIGINT) AS bpe_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,

    // list_reduce folds left with the FIRST element as the initial
    // accumulator; that matches Spark's 0-init fold because the first
    // term (position weight 1) is already < P, so x1 ≡ (0+x1) % P.
    // string_split never yields an empty list ('' -> ['']), so the
    // empty-list error case of list_reduce cannot occur.
    "txt_fingerprint" ->
      s"""SELECT doc_id,
         |  CAST(list_reduce(list_transform(string_split(lower(text), ' '),
         |    (t, i) -> (${TextHash.tokHashSql("t")} % ${TextHash.P}) * i),
         |    (acc, x) -> (acc + x) % ${TextHash.P}) AS BIGINT) AS fingerprint
         |FROM documents ORDER BY doc_id""".stripMargin,

    "txt_split_assign" ->
      s"""SELECT doc_id, bucket,
         |  CASE WHEN bucket < $SplitTrainPct THEN 'train'
         |       WHEN bucket < $SplitValPct THEN 'val'
         |       ELSE 'test' END AS split
         |FROM (SELECT doc_id,
         |        CAST(((doc_id % ${TextHash.P}) * $SplitHashMul)
         |          % ${TextHash.P} % 100 AS INTEGER) AS bucket
         |      FROM documents)
         |ORDER BY doc_id""".stripMargin,

    "txt_quality_gopher" -> {
      val stopLit = GopherStopwords.map(w => s"'$w'").mkString("[", ", ", "]")
      s"""WITH t AS (
         |  SELECT doc_id, text, string_split(lower(text), ' ') AS toks
         |  FROM documents),
         |m AS (
         |  SELECT doc_id, CAST(len(toks) AS INTEGER) AS n_words,
         |    round(CAST(length(text) - (len(toks) - 1) AS DOUBLE)
         |      / len(toks), 9) AS mean_word_len,
         |    round(CAST(len(list_filter(toks,
         |        x -> x IN ('#', '...'))) AS DOUBLE) / len(toks), 9)
         |      AS symbol_ratio,
         |    round(CAST(len(list_filter(toks,
         |        x -> regexp_matches(x, '[a-z]'))) AS DOUBLE) / len(toks), 9)
         |      AS alpha_frac,
         |    CAST(len(list_intersect(list_distinct(toks), $stopLit))
         |      AS INTEGER) AS n_stop
         |  FROM t)
         |SELECT doc_id, n_words, mean_word_len, symbol_ratio, alpha_frac,
         |  n_stop,
         |  n_words >= $GopherMinWords AND n_words <= $GopherMaxWords
         |    AS pass_words,
         |  mean_word_len >= $GopherMinMeanLen
         |    AND mean_word_len <= $GopherMaxMeanLen AS pass_len,
         |  symbol_ratio <= $GopherMaxSymbolRatio AS pass_symbol,
         |  alpha_frac >= $GopherMinAlphaFrac AS pass_alpha,
         |  n_stop >= $GopherMinStopHits AS pass_stop,
         |  (n_words >= $GopherMinWords AND n_words <= $GopherMaxWords)
         |    AND (mean_word_len >= $GopherMinMeanLen
         |         AND mean_word_len <= $GopherMaxMeanLen)
         |    AND symbol_ratio <= $GopherMaxSymbolRatio
         |    AND alpha_frac >= $GopherMinAlphaFrac
         |    AND n_stop >= $GopherMinStopHits AS quality_pass
         |FROM m ORDER BY doc_id""".stripMargin
    },

    "txt_shuffle_shard" ->
      s"""SELECT doc_id, h, shard,
         |  CAST(ROW_NUMBER() OVER (PARTITION BY shard
         |    ORDER BY h, doc_id) AS INTEGER) AS pos
         |FROM (SELECT doc_id, h,
         |        CAST(h % $ShuffleShards AS INTEGER) AS shard
         |      FROM (SELECT doc_id,
         |              ((doc_id % ${TextHash.P}) * $ShuffleHashMul)
         |                % ${TextHash.P} * $ShuffleHashMul
         |                % ${TextHash.P} AS h
         |            FROM documents))
         |ORDER BY shard, pos""".stripMargin,

    "pipeline_curate" -> {
      val g = DecontaminateGram
      val stopLit = GopherStopwords.map(w => s"'$w'").mkString("[", ", ", "]")
      s"""WITH t AS (
         |  SELECT doc_id, string_split(lower(text), ' ') AS toks
         |  FROM documents),
         |f AS (
         |  SELECT doc_id, CAST(len(toks) AS INTEGER) AS n,
         |    CAST(len(list_intersect(list_distinct(toks), $stopLit))
         |      AS INTEGER) AS n_stop,
         |    list_max(list_transform(list_distinct(toks),
         |      u -> len(list_filter(toks, x -> x = u)))) AS top_cnt,
         |    list_transform(
         |      list_slice(toks, 1, greatest(len(toks) - 1, 0)),
         |      (x, i) -> x || ' ' || toks[i + 1]) AS bg
         |  FROM t),
         |fl AS (
         |  SELECT doc_id,
         |    n >= $GopherMinWords AND n <= $GopherMaxWords AS pass_words,
         |    n_stop >= $GopherMinStopHits AS pass_stop,
         |    round(CAST(top_cnt AS DOUBLE) / n, 9)
         |        >= CAST($RepTopTokFrac AS DOUBLE)
         |      OR (CASE WHEN n > 1 THEN
         |            round(CAST(1 AS DOUBLE)
         |              - CAST(len(list_distinct(bg)) AS DOUBLE) / len(bg), 9)
         |          ELSE CAST(0 AS DOUBLE) END)
         |        >= CAST($RepDupBigramFrac AS DOUBLE) AS repetitive
         |  FROM f),
         |grams AS (
         |  SELECT DISTINCT doc_id, unnest(list_distinct(list_transform(
         |    list_slice(toks, 1, greatest(len(toks) - ${g - 1}, 0)),
         |    (x, i) -> ${(0 until g).map(k =>
              if (k == 0) "x" else s"toks[i + $k]")
              .mkString(" || ' ' || ")}))) AS g
         |  FROM t),
         |cont AS (
         |  SELECT DISTINCT c.doc_id, TRUE AS contaminated
         |  FROM grams c JOIN grams b USING (g)
         |  WHERE b.doc_id < $DecontaminateBenchDocs
         |    AND b.doc_id <> c.doc_id),
         |m AS (
         |  SELECT fl.doc_id,
         |    CASE WHEN NOT pass_words THEN 'words'
         |         WHEN NOT pass_stop THEN 'stopwords'
         |         WHEN repetitive THEN 'repetitive'
         |         WHEN COALESCE(cont.contaminated, FALSE)
         |           THEN 'contaminated'
         |    END AS drop_reason
         |  FROM fl LEFT JOIN cont ON cont.doc_id = fl.doc_id)
         |SELECT doc_id, drop_reason IS NULL AS keep, drop_reason,
         |  CASE WHEN drop_reason IS NULL THEN
         |    CASE WHEN ((doc_id % ${TextHash.P}) * $SplitHashMul)
         |               % ${TextHash.P} % 100 < $SplitTrainPct THEN 'train'
         |         WHEN ((doc_id % ${TextHash.P}) * $SplitHashMul)
         |               % ${TextHash.P} % 100 < $SplitValPct THEN 'val'
         |         ELSE 'test' END
         |  END AS split,
         |  CASE WHEN drop_reason IS NULL THEN
         |    CAST(((doc_id % ${TextHash.P}) * $ShuffleHashMul)
         |      % ${TextHash.P} * $ShuffleHashMul
         |      % ${TextHash.P} % $ShuffleShards AS INTEGER)
         |  END AS shard
         |FROM m ORDER BY doc_id""".stripMargin
    },

    "txt_bigram_logprob" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS toks
        |  FROM documents),
        |bg AS (
        |  SELECT doc_id, unnest(list_transform(
        |    list_slice(toks, 1, greatest(len(toks) - 1, 0)),
        |    (x, i) -> struct_pack(w1 := x, w2 := toks[i + 1]))) AS b
        |  FROM t),
        |b2 AS (SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM bg),
        |c12 AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
        |        FROM b2 GROUP BY 1, 2),
        |c1 AS (SELECT w1, CAST(COUNT(*) AS BIGINT) AS c1
        |       FROM b2 GROUP BY 1),
        |tf AS (SELECT doc_id, w1, w2, CAST(COUNT(*) AS BIGINT) AS tf
        |       FROM b2 GROUP BY 1, 2, 3),
        |sc AS (
        |  SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_bigrams,
        |         list(struct_pack(c12 := c12, c1 := c1, tf := tf)
        |           ORDER BY c12, c1, tf) AS triples
        |  FROM tf JOIN c12 USING (w1, w2) JOIN c1 USING (w1)
        |  GROUP BY doc_id),
        |s2 AS (
        |  SELECT doc_id, n_bigrams,
        |         round(list_reduce(list_transform(triples,
        |               p -> CAST(p.tf AS DOUBLE)
        |                 * (ln(CAST(p.c12 AS DOUBLE))
        |                    - ln(CAST(p.c1 AS DOUBLE)))),
        |             (a, b) -> a + b)
        |           / CAST(n_bigrams AS DOUBLE), 9) AS logprob
        |  FROM sc)
        |SELECT d.doc_id, COALESCE(s2.n_bigrams, 0) AS n_bigrams,
        |       COALESCE(s2.logprob, 0.0) + 0.0 AS logprob
        |FROM documents d LEFT JOIN s2 USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    // DuckDB's regexp_replace replaces only the FIRST match without
    // the 'g' flag (Spark's always replaces all) — the flag is the
    // cross-engine equivalence, not an option.
    "txt_pii_redact" ->
      s"""WITH inj AS (
         |  SELECT doc_id, text
         |    || CASE WHEN doc_id % 5 = 0 THEN ' contact user'
         |         || CAST(doc_id AS VARCHAR) || '@example.com'
         |       ELSE '' END
         |    || CASE WHEN doc_id % 7 = 0 THEN ' from 10.'
         |         || CAST(doc_id % 256 AS VARCHAR) || '.0.'
         |         || CAST(doc_id % 100 AS VARCHAR)
         |       ELSE '' END AS injected
         |  FROM documents)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(injected, '$EmailRe')) AS INTEGER)
         |    AS n_emails,
         |  CAST(len(regexp_extract_all(injected, '$IpRe')) AS INTEGER)
         |    AS n_ips,
         |  (len(regexp_extract_all(injected, '$EmailRe')) > 0
         |    OR len(regexp_extract_all(injected, '$IpRe')) > 0) AS has_pii,
         |  regexp_replace(regexp_replace(injected, '$EmailRe', '<EMAIL>',
         |    'g'), '$IpRe', '<IP>', 'g') AS redacted
         |FROM inj ORDER BY doc_id""".stripMargin,

    // ROW_NUMBER keep-first mirrors Spark's min-struct argmin exactly:
    // (doc_id, span_id) is unique per occurrence, so rn = 1 ⟺ the
    // lexicographic minimum. string_agg's FILTER-free CASE drops NULLs
    // like collect_list does.
    "txt_span_dedup" -> {
      val w0 = SpanWidth
      s"""WITH t AS (
         |  SELECT doc_id, string_split(lower(text), ' ') AS toks
         |  FROM documents),
         |u AS (
         |  SELECT doc_id, toks,
         |         unnest(generate_series(0, (len(toks) - 1) // $w0)) AS i
         |  FROM t),
         |sp AS (
         |  SELECT doc_id, CAST(i AS INTEGER) AS span_id,
         |         array_to_string(
         |           list_slice(toks, i * $w0 + 1, i * $w0 + $w0), ' ')
         |           AS span
         |  FROM u),
         |r AS (
         |  SELECT doc_id, span_id, span,
         |         ROW_NUMBER() OVER (PARTITION BY span
         |           ORDER BY doc_id, span_id) AS rn
         |  FROM sp)
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
         |       CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |         AS n_kept,
         |       COALESCE(string_agg(CASE WHEN rn = 1 THEN span END, ' '
         |         ORDER BY span_id), '') AS clean_text
         |FROM r GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },

    "txt_quality_tier" ->
      s"""WITH q AS (
         |  SELECT doc_id, CAST(round(quality * 1e6) AS BIGINT) AS q_micro
         |  FROM ($qualityPartsSql)),
         |b AS (
         |  SELECT quantile_cont(q_micro,
         |    [${TierFractions.mkString(", ")}]) AS bs
         |  FROM q),
         |t AS (
         |  SELECT doc_id, q_micro,
         |         CAST(1 + len(list_filter(b.bs,
         |           x -> CAST(q_micro AS DOUBLE) > x)) AS INTEGER) AS tier
         |  FROM q CROSS JOIN b),
         |s AS (
         |  SELECT tier, CAST(COUNT(*) AS BIGINT) AS n_in_tier
         |  FROM t GROUP BY tier)
         |SELECT doc_id, q_micro, tier, n_in_tier
         |FROM t JOIN s USING (tier) ORDER BY doc_id""".stripMargin,

    "pipeline_mix" ->
      s"""SELECT doc_id, source, weight_micro, n_copies,
         |       n_copies > 0 AS included
         |FROM (
         |  SELECT doc_id, source, weight_micro,
         |         CAST(weight_micro // 1000000
         |           + CASE WHEN h % 1000000 < weight_micro % 1000000
         |               THEN 1 ELSE 0 END AS BIGINT) AS n_copies
         |  FROM (
         |    SELECT doc_id, source,
         |           CAST(CASE WHEN src_idx % 3 = 0 THEN $MixDownMicro
         |                     WHEN src_idx % 3 = 1 THEN $MixKeepMicro
         |                     ELSE $MixUpMicro END AS BIGINT)
         |             AS weight_micro,
         |           ((doc_id % ${TextHash.P}) * $MixHashMul)
         |             % ${TextHash.P} AS h
         |    FROM (SELECT doc_id, source,
         |            CAST(substr(source, 4, 10) AS INTEGER) AS src_idx
         |          FROM documents)))
         |ORDER BY doc_id""".stripMargin,

    "txt_vocab_coverage" ->
      s"""WITH t AS (
         |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
         |  FROM documents),
         |v AS (
         |  SELECT tok FROM (
         |    SELECT tok, COUNT(*) AS gtf FROM t GROUP BY tok)
         |  ORDER BY gtf DESC, tok LIMIT $VocabTopK)
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
         |       CAST(SUM(CASE WHEN tok IN (SELECT tok FROM v)
         |         THEN 0 ELSE 1 END) AS BIGINT) AS n_oov,
         |       round(CAST(SUM(CASE WHEN tok IN (SELECT tok FROM v)
         |           THEN 0 ELSE 1 END) AS DOUBLE) / COUNT(*), 9)
         |         AS oov_rate
         |FROM t GROUP BY doc_id ORDER BY doc_id""".stripMargin)

   // the composed corpus-build manifest replays the three legs' own
   // oracles verbatim as CTEs — composition at the SQL level too, so
   // the oracle can't drift from the per-leg oracles it wraps
   base + ("pipeline_full" ->
     s"""WITH cur AS (SELECT * FROM (${base("pipeline_curate")})),
        |ded AS (SELECT * FROM (${
          DedupOps.oracleSql("pipeline_dedup")})),
        |mix AS (SELECT * FROM (${base("pipeline_mix")}))
        |SELECT cur.doc_id,
        |  (cur.keep AND ded.keep AND mix.n_copies > 0) AS keep,
        |  COALESCE(cur.drop_reason,
        |    CASE WHEN NOT ded.keep THEN 'near_dup' END,
        |    CASE WHEN mix.n_copies = 0 THEN 'mixed_out' END) AS reason,
        |  ded.dup_of, mix.n_copies,
        |  CASE WHEN cur.keep AND ded.keep AND mix.n_copies > 0
        |    THEN cur.split END AS split,
        |  CASE WHEN cur.keep AND ded.keep AND mix.n_copies > 0
        |    THEN cur.shard END AS shard
        |FROM cur
        |JOIN ded ON cur.doc_id = ded.doc_id
        |JOIN mix ON cur.doc_id = mix.doc_id
        |ORDER BY cur.doc_id""".stripMargin) +
   ("pipeline_stats" ->
     s"""WITH cur AS (SELECT * FROM (${base("pipeline_curate")})),
        |cnt AS (SELECT drop_reason, CAST(COUNT(*) AS BIGINT) AS n
        |        FROM cur GROUP BY 1),
        |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM cnt),
        |dim(stage, ord) AS (VALUES ('words', 1), ('stopwords', 2),
        |                           ('repetitive', 3), ('contaminated', 4)),
        |j AS (SELECT d.stage, d.ord,
        |        CAST(COALESCE(c.n, 0) AS BIGINT) AS n_dropped
        |      FROM dim d LEFT JOIN cnt c ON c.drop_reason = d.stage),
        |w AS (SELECT stage, ord, n_dropped,
        |        CAST(SUM(n_dropped) OVER (ORDER BY ord
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |          AS BIGINT) AS cumdrop FROM j)
        |SELECT stage, ord, total - cumdrop + n_dropped AS n_in,
        |       n_dropped, total - cumdrop AS n_out,
        |       CASE WHEN total - cumdrop + n_dropped > 0 THEN
        |         round(CAST(n_dropped AS DOUBLE)
        |           / (total - cumdrop + n_dropped), 9) END AS drop_pct
        |FROM w, tot ORDER BY ord""".stripMargin) +
   ("sample_reservoir" ->
     s"""SELECT doc_id, lang, source, h FROM (
        |  SELECT doc_id, lang, source,
        |         (((doc_id % ${TextHash.P}) * $ReservoirHashMul)
        |           % ${TextHash.P}) * $ReservoirHashMul
        |           % ${TextHash.P} AS h
        |  FROM documents ORDER BY h, doc_id LIMIT $ReservoirK)
        |ORDER BY doc_id""".stripMargin) +
   ("pipeline_pack" ->
     s"""WITH cur AS (SELECT * FROM (${base("pipeline_curate")})),
        |tok AS (SELECT doc_id, CAST(len(string_split(lower(text), ' '))
        |          AS BIGINT) AS n_tokens FROM documents),
        |k AS (SELECT cur.doc_id, cur.shard, tok.n_tokens,
        |        ((((cur.doc_id % ${TextHash.P}) * $ShuffleHashMul)
        |          % ${TextHash.P}) * $ShuffleHashMul) % ${TextHash.P} AS h
        |      FROM cur JOIN tok USING (doc_id) WHERE cur.keep),
        |w AS (SELECT doc_id, shard, n_tokens, h,
        |        CAST(ROW_NUMBER() OVER (PARTITION BY shard
        |          ORDER BY h, doc_id) AS INTEGER) AS pos,
        |        CAST(SUM(n_tokens) OVER (PARTITION BY shard
        |          ORDER BY h, doc_id ROWS BETWEEN UNBOUNDED PRECEDING
        |          AND CURRENT ROW) AS BIGINT) - n_tokens AS start_offset
        |      FROM k)
        |SELECT doc_id, shard, pos, n_tokens, start_offset,
        |       start_offset // $PackBudget AS seq_id,
        |       start_offset % $PackBudget AS offset_in_seq
        |FROM w ORDER BY shard, pos""".stripMargin) +
   ("pipeline_tokenize" ->
     s"""WITH $bpeSqlCtes,
        |enc AS (
        |  SELECT d.doc_id,
        |         CAST(SUM(len(string_split(trim(wv.seq), '  ')))
        |           AS BIGINT) AS n_subwords
        |  FROM (SELECT doc_id, unnest(string_split(lower(text), ' '))
        |          AS word FROM documents) d
        |  JOIN w$BpeRounds wv USING (word)
        |  GROUP BY d.doc_id),
        |cur AS (SELECT * FROM (${base("pipeline_curate")})),
        |k AS (SELECT cur.doc_id, cur.shard, enc.n_subwords,
        |        ((((cur.doc_id % ${TextHash.P}) * $ShuffleHashMul)
        |          % ${TextHash.P}) * $ShuffleHashMul) % ${TextHash.P} AS h
        |      FROM cur JOIN enc USING (doc_id) WHERE cur.keep),
        |pk AS (SELECT doc_id, shard, n_subwords, h,
        |        CAST(ROW_NUMBER() OVER (PARTITION BY shard
        |          ORDER BY h, doc_id) AS INTEGER) AS pos,
        |        CAST(SUM(n_subwords) OVER (PARTITION BY shard
        |          ORDER BY h, doc_id ROWS BETWEEN UNBOUNDED PRECEDING
        |          AND CURRENT ROW) AS BIGINT) - n_subwords
        |          AS start_offset
        |      FROM k)
        |SELECT doc_id, shard, pos, n_subwords, start_offset,
        |       start_offset // $BpePackBudget AS seq_id,
        |       start_offset % $BpePackBudget AS offset_in_seq
        |FROM pk ORDER BY shard, pos""".stripMargin) +
   ("txt_bpe_vocab" ->
     s"""WITH $bpeSqlCtes
        |SELECT round, x AS lhs, y AS rhs, x || y AS merged,
        |       cnt AS pair_count
        |FROM (${(1 to BpeRounds)
            .map(r => s"SELECT * FROM best$r").mkString(" UNION ALL ")})
        |ORDER BY round""".stripMargin) +
   ("txt_bpe_vocab64" ->
     s"""WITH $bpeBatchedSqlCtes
        |SELECT CAST(row_number() OVER (ORDER BY r, slot) AS INTEGER)
        |         AS round,
        |       x AS lhs, y AS rhs, x || y AS merged, cnt AS pair_count
        |FROM bsel
        |QUALIFY round <= $Bpe64Merges
        |ORDER BY round""".stripMargin) +
   ("txt_bpe_encode" ->
     s"""WITH $bpeSqlCtes,
        |enc AS (
        |  SELECT d.doc_id, w.seq
        |  FROM (SELECT doc_id, unnest(string_split(lower(text), ' '))
        |          AS word FROM documents) d
        |  JOIN w$BpeRounds w USING (word))
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
        |       CAST(SUM(len(string_split(trim(seq), '  '))) AS BIGINT)
        |         AS n_subwords
        |FROM enc GROUP BY doc_id ORDER BY doc_id""".stripMargin) +
   // the CCNet tercile filter wraps the bigram-LM oracle verbatim —
   // composition at the SQL level, like pipeline_full's legs; the
   // tercile boundaries mirror txt_quality_tier's quantile_cont form
   ("txt_perplexity_filter" ->
     s"""WITH lp AS (${base("txt_bigram_logprob")}),
        |nz AS (SELECT doc_id, n_bigrams, logprob,
        |         CAST(round(logprob * 1e9) AS BIGINT) AS lp_nano
        |       FROM lp WHERE n_bigrams > 0),
        |b AS (SELECT quantile_cont(lp_nano,
        |        [${PerplexityTerciles.mkString(", ")}]) AS bs
        |      FROM nz),
        |t AS (SELECT doc_id, n_bigrams, logprob,
        |        1 + len(list_filter(b.bs,
        |          x -> CAST(lp_nano AS DOUBLE) > x)) AS t
        |      FROM nz CROSS JOIN b)
        |SELECT doc_id, n_bigrams, logprob,
        |       CASE t WHEN 3 THEN 'head' WHEN 2 THEN 'middle'
        |            ELSE 'tail' END AS bucket,
        |       t >= 2 AS keep
        |FROM t
        |UNION ALL
        |SELECT doc_id, n_bigrams, logprob, 'empty' AS bucket,
        |       false AS keep
        |FROM lp WHERE n_bigrams = 0
        |ORDER BY doc_id""".stripMargin)
  }
}
