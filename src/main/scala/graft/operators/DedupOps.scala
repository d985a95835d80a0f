package graft.operators

import graft.core.Core._
import graft.functions.TextHash
import graft.functions.TextHash._
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.collection.mutable

/** Deduplication operators for a training-data pipeline (north-star
  * extensions): exact keep-first, token-set Jaccard, bigram-shingle
  * Jaccard, MinHash+LSH, SimHash. All hash arithmetic is the
  * cross-engine-exact integer scheme of [[TextHash]], so even the
  * sketch-based operators are DuckDB-oracle-checked exactly.
  *
  * Scale notes:
  *  - the exact pairwise variants (`dedup_near`, `dedup_ngram`) block by
  *    `source` — O(block²), the SURVEY §7.3 bound; they are the
  *    correctness baseline;
  *  - `dedup_minhash_lsh` is the 100 TB path: per-doc signatures (one
  *    linear pass, map-side), then a shuffle keyed on (band, band-key) —
  *    candidate generation never compares all pairs; verification runs
  *    only on bucket collisions;
  *  - `dedup_simhash` similarly reduces each doc to one 31-bit sketch
  *    before any pairing.
  */
object DedupOps {

  /** dedup_incremental corpus/batch boundary: sources src0..src9 are
    * the existing corpus, src10+ the arriving batch. */
  val IncrementalCorpusSrcs = 10

  /** Build-time salt fanout of the incremental-dedup index
    * ([[buildIncrementalIndex]]): each corpus token occurrence lands in
    * ONE of this many salt sub-keys (by hash(c_id)), so a hot token's
    * posting chain is physically split across `salt` bucketed keys and
    * the per-ingest merge join's Σk² output spreads over `salt`× more
    * merge-join runs. The merge branch of [[dedupAgainstIndex]] and the
    * build MUST agree on this value (the merge branch replicates its
    * delta across exactly these salt values); it is a single constant
    * so they cannot diverge. The probe branch ignores the salt. Same
    * default spread factor as [[SkewJoin.saltedCandidateJoin]]. */
  val IncrementalIndexSalt = 8

  /** dedup_substring window geometry: character windows of
    * [[SubstrWidth]] sampled every [[SubstrStride]] characters. The
    * exact-substring method (Lee et al. 2021, "Deduplicating Training
    * Data Makes Language Models Better") uses 50-token spans over a
    * suffix array; the relational equivalent samples fixed-width
    * character windows — a doc sharing any verbatim ≥(W+S)-char run
    * with another doc is guaranteed to share a sampled window (a full
    * window fits inside the run at some stride offset), so recall for
    * long verbatim overlap is structural, not probabilistic. */
  val SubstrWidth = 40
  val SubstrStride = 10

  /** dedup_winnow pair threshold: minimum shared winnowing
    * fingerprints for a reported pair. 25 is the corpus's ~p99 of
    * within-source shared-fingerprint counts (median 8, p90 17 at
    * sf0.01), so reported pairs are the genuinely overlap-heavy tail;
    * a deployment tunes this against its gram geometry — the plan
    * (explode → salted candidate join → count) is
    * threshold-independent. */
  val WinnowMinShared = 25

  /** txt_source_overlap_topv's per-source vocabulary cap. 10 < the
    * corpus's 31-word vocabulary, so the cap genuinely prunes on the
    * contract corpus (a V ≥ vocab setting would make the capped query
    * indistinguishable from the exact one — that equality is the SPEC
    * assertion, not the contract). */
  val SourceOverlapTopV = 10

  /** Per-source top-`v` vocabulary by raw term frequency (ties by
    * token asc): the bounded (source, tok) relation the capped overlap
    * pairs on — sources × v rows regardless of corpus vocabulary. */
  private[graft] def sourceTopV(s: SparkSession, dir: String,
      v: Int): DataFrame = {
    val tf = table(s, dir, "documents")
      .select(col("source"),
        explode(split(lower(col("text")), " ")).as("tok"))
      .groupBy("source", "tok").agg(count(lit(1)).as("tf"))
    val byTf = Window.partitionBy("source")
      .orderBy(col("tf").desc, col("tok"))
    shared(tf.withColumn("rn", row_number().over(byTf))
      .filter(col("rn") <= v).select("source", "tok"))
  }

  /** Capped source overlap at an explicit V — the spec entry
    * point ([[queries]] txt_source_overlap_topv pins
    * [[SourceOverlapTopV]]). */
  private[graft] def sourceJaccardTopV(s: SparkSession, dir: String,
      v: Int): DataFrame =
    sourceJaccard(sourceTopV(s, dir, v))

  /** The pairwise source-Jaccard tail shared by txt_source_overlap and
    * its top-V capped variant: per-source vocabulary sizes, salted
    * per-token candidate join (tok is the canonical skewed key —
    * near-universal tokens chain across every source), intersection
    * counts, Jaccard. Input: a deduplicated (source, tok) relation. */
  private def sourceJaccard(st: DataFrame): DataFrame = {
    val sizes = st.groupBy("source").agg(count(lit(1)).as("sz"))
    val inter = SkewJoin.saltedCandidateJoin(
        st.select(col("tok"), col("source").as("a_src")),
        st.select(col("tok"), col("source").as("b_src")),
        Seq("tok"), leftSaltBy = col("a_src"))
      .filter(col("a_src") < col("b_src"))
      .groupBy("a_src", "b_src").agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("source").as("a_src"), col("sz").as("a_sz")),
        "a_src")
      .join(sizes.select(col("source").as("b_src"), col("sz").as("b_sz")),
        "b_src")
      .select(col("a_src"), col("b_src"), col("inter"), col("a_sz"),
        col("b_sz"),
        round(col("inter").cast(DoubleType)
          / (col("a_sz") + col("b_sz") - col("inter")), 9).as("jaccard"))
      .orderBy("a_src", "b_src")
  }

  /** doc_id, source, distinct lowercase token set. */
  private def tokSets(s: SparkSession, dir: String): DataFrame =
    tokSetsOf(table(s, dir, "documents"))

  /** [[tokSets]] over an explicit documents-shaped relation: the
    * operators that take an optional `source` in place of the
    * `documents` table read it through here. */
  private def tokSetsOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("source"), distinctToks.as("toks"))

  /** The distinct lowercase token array of a documents-shaped row —
    * the ONE tokenization every sketch/token operator derives from. */
  private def distinctToks: Column =
    array_distinct(split(lower(col("text")), " "))

  private val tokSetsSql =
    """SELECT doc_id, source,
      |       list_distinct(string_split(lower(text), ' ')) AS toks
      |FROM documents""".stripMargin

  /** Reference formulation of token-set Jaccard; the hot verify paths
    * use the codegen'd merge equivalent (plans/SortedJaccard.scala,
    * parity-spec'd in DotProductSpec) over per-doc-sorted arrays. */
  private[graft] def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast(DoubleType) / size(array_union(a, b))

  private val jaccardSql =
    "CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) " +
      "/ len(list_distinct(a.toks || b.toks))"

  /** doc_id -> base token hash rows (distinct tokens, mod P) over an
    * explicit (doc_id, toks) relation. The fold-based token hash
    * evaluates once per DISTINCT token (tiny dictionary), then
    * broadcast-joins back onto the (doc, token) rows — not once per
    * occurrence. Same values as hashing in place, so the DuckDB oracle
    * (which hashes in place) is unaffected. */
  private def docTokHashOf(tokSets: DataFrame): DataFrame = {
    // NOT shared, measured (round 12): persisting the exploded token
    // relation so the vocab-dim subtree and the join probe tokenize
    // once instead of twice showed no reliable win at sf0.1 (the
    // cache write costs what the saved tokenize saves on this
    // corpus), and a persisted corpus-wide token relation is real
    // memory pressure at deployment scale — the round-10 fan-out
    // lesson again: measured, rejected, recorded.
    val toks = tokSets
      .select(col("doc_id"), explode(col("toks")).as("tok"))
    val hashed = toks.select("tok").distinct()
      .withColumn("base", TextHash.tokHash(col("tok")) % P)
    toks.join(broadcast(hashed), "tok").select("doc_id", "base")
  }

  private val docTokHashSql =
    s"""SELECT doc_id, ${tokHashSql("tok")} % $P AS base
       |FROM (SELECT doc_id, unnest(list_distinct(
       |        string_split(lower(text), ' '))) AS tok FROM documents)""".stripMargin

  /** Token-set Jaccard >= 0.6 near-dup pairs within `source` blocks,
    * as a lazy relational set-similarity join (see the `dedup_near`
    * entry in [[queries]]). */
  def dedupNearRelational(s: SparkSession, dir: String): DataFrame = {
    // three references (both join sides + sizes): compute the exploded
    // token relation once, not once per reference
    val toks = shared(tokSetsOf(table(s, dir, "documents"))
      .select(col("doc_id"), col("source"), explode(col("toks")).as("tok")))
    val sizes = toks.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    SkewJoin.saltedCandidateJoin(
        toks.select(col("source"), col("doc_id").as("a_id"), col("tok")),
        toks.select(col("source"), col("doc_id").as("b_id"), col("tok")),
        Seq("source", "tok"), leftSaltBy = col("a_id"))
      .filter(col("a_id") < col("b_id"))
      .groupBy("a_id", "b_id")
      .agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("doc_id").as("a_id"), col("sz").as("a_sz")), "a_id")
      .join(sizes.select(col("doc_id").as("b_id"), col("sz").as("b_sz")), "b_id")
      .withColumn("jaccard",
        col("inter").cast(DoubleType)
          / (col("a_sz") + col("b_sz") - col("inter")))
      .filter(col("jaccard") >= 0.6)
      .select("a_id", "b_id", "jaccard")
      .orderBy("a_id", "b_id")
  }

  /** Prefix-filtered set-similarity join (the AllPairs/PPJoin family,
    * Bayardo et al., "Scaling Up All Pairs Similarity Search", WWW'07):
    * for Jaccard >= t, any qualifying pair must share a token within
    * each side's PREFIX of size |A| − ⌈t·|A|⌉ + 1 when tokens are
    * ordered globally by ascending document frequency (rarest first).
    * So the candidate join runs only over prefix tokens — the rare
    * ones, with small df — collapsing the Σk² candidate work; the full
    * token sets are consulted only to exact-verify the (few) candidate
    * pairs. Emits the IDENTICAL result set as [[dedupNearRelational]]
    * (same oracle), asserted in DedupOpsSpec along with the candidate
    * reduction. Fully lazy: the df ranking is a window inside the
    * plan. */
  def dedupNearPrefix(s: SparkSession, dir: String,
      threshold: Double = 0.6, positional: Boolean = false): DataFrame = {
    // docs feeds the token explode AND both verify joins; toks feeds the
    // df agg AND the prefix join; prefix is both sides of the candidate
    // self-join. Without `shared`, lineage re-derives the token relation
    // ~4x (the round-2 bench regression); with it each is computed once.
    // Cached relations are kept NARROW: the exploded rows carry size(
    // toks) as one int, never the token array itself — caching the
    // array per exploded row would columnar-encode a |toks|x blowup of
    // every document on every cold run (the round-3 interim regression).
    val docs = shared(tokSetsOf(table(s, dir, "documents")))
    val toks = shared(docs
      .select(col("doc_id"), col("source"), size(col("toks")).as("sz"),
        explode(col("toks")).as("tok")))
    val df_ = toks.groupBy("tok").agg(count(lit(1)).as("df"))
    val byRarity = Window.partitionBy("doc_id")
      .orderBy(col("df"), col("tok"))
    // under the positional variant rk/sz ride along (two ints) to
    // power the rank-bound filter; otherwise the cache stays minimal
    val prefixCols =
      if (positional)
        Seq(col("source"), col("doc_id"), col("tok"), col("rk"), col("sz"))
      else Seq(col("source"), col("doc_id"), col("tok"))
    val prefix = shared(toks
      .join(df_, "tok")
      .withColumn("rk", row_number().over(byRarity))
      // prefix length |A| - ceil(t*|A|) + 1
      .filter(col("rk") <= col("sz") - ceil(col("sz") * threshold) + 1)
      .select(prefixCols: _*))
    // The candidate self-join must NEVER broadcast (the prefix relation
    // grows with the corpus — a driver OOM at scale) and must never let
    // AQE coalesce its input shuffles: the shuffle is input-byte-small
    // (rare-token prefixes) while the probe OUTPUT is Σk² — coalescing
    // legally serialized the probe stage onto 1-2 tasks, the round-3
    // 453 s driver bench. The salted, explicitly-partitioned join pins
    // layout as well as strategy (SkewJoin.saltedCandidateJoin).
    // The distinct candidate set is persisted: (1) the physical plan
    // otherwise consumes the (multi-million-row) partial-distinct
    // exchange TWICE; (2) the cache boundary splits what would be the
    // repo's largest fused codegen pipeline (final distinct + both
    // verify joins + array Jaccard) into two small stages — generated
    // methods the JIT compiles before the stage ends, where the fused
    // giant measurably ran interpreted (docs/BENCH_NOTES.md round 4b).
    // The cached rows are two longs per candidate pair.
    // POSITIONAL filter (opt-in; the PPJoin companion to the prefix
    // filter, Xiao et al., "Efficient Similarity Joins for Near
    // Duplicate Detection"): a collision at ranks (rk_a, rk_b) under
    // the same global token order admits at most
    // min(|A|−rk_a, |B|−rk_b)+1 common tokens, and Jaccard ≥ t needs
    // O·(1+t) ≥ t·(|A|+|B|) — rows violating the bound are dropped
    // INSIDE the probe stage, before the distinct maps and exchange.
    // Exact: the pair's rarest common token carries the loosest bound,
    // so every qualifying pair keeps ≥ 1 collision row (the 1e-6 slack
    // only loosens the bound — float noise can keep a doomed candidate
    // for the verify step to kill, never drop a qualifying one).
    // Result identity vs the rank-free join is asserted on randomized
    // corpora (DedupOpsSpec). OPT-IN because its economics mirror the
    // prefix filter's: on a skewed-df corpus it prunes candidates
    // superlinearly, while on this dense benchmark corpus (~every
    // collision a true candidate) it prunes almost nothing and pays
    // two extra ints per prefix row through the cache and candidate
    // shuffle — measured ~+30% on dedup_near_prefix at sf0.1. The
    // contract query runs rank-free; dedupNearAuto's skew-triggered
    // branch (the shape that benefits) enables it.
    def sided(side: String, idAs: String) = {
      val base = Seq(col("source"), col("doc_id").as(idAs), col("tok"))
      val ranks = Seq(col("rk").as(s"${side}_rk"), col("sz").as(s"${side}_sz"))
      prefix.select((if (positional) base ++ ranks else base): _*)
    }
    val pairFilter = if (positional) {
      val overlapUpperBound =
        least(col("a_sz") - col("a_rk"), col("b_sz") - col("b_rk")) + 1
      col("a_id") < col("b_id") &&
        (overlapUpperBound * (1 + threshold) >=
          (col("a_sz") + col("b_sz")) * threshold - 1e-6)
    } else col("a_id") < col("b_id")
    val cand = shared(SkewJoin.saltedCandidateJoin(
        sided("a", "a_id"), sided("b", "b_id"),
        Seq("source", "tok"), leftSaltBy = col("a_id"))
      .filter(pairFilter)
      .select("a_id", "b_id").distinct())
    // exact verify via the codegen'd merge Jaccard: sort once per DOC
    // (map-side, before the pair fanout), compare with a zero-
    // allocation two-pointer loop per candidate PAIR — the built-in
    // array_intersect/array_union pair builds hash sets per candidate
    // and was this stage's CPU (plans/SortedJaccard.scala; same
    // integer counts, bit-identical division, spec'd in DotProductSpec)
    graft.plans.SortedJaccard.register(s)
    val ts = docs.select(col("doc_id"), sort_array(col("toks")).as("toks"))
    cand
      .join(ts.select(col("doc_id").as("a_id"), col("toks").as("a_toks")),
        "a_id")
      .join(ts.select(col("doc_id").as("b_id"), col("toks").as("b_toks")),
        "b_id")
      .withColumn("jaccard", graft.plans.SortedJaccard
        .jaccardSorted(col("a_toks"), col("b_toks")))
      .filter(col("jaccard") >= threshold)
      .select("a_id", "b_id", "jaccard")
      .orderBy("a_id", "b_id")
  }

  /** Documents in the df-skew sample ([[dfSkewOf]]): a plan-choice
    * statistic in the spirit of AQE's runtime stats, never
    * corpus-scaled. */
  val DfSkewSampleDocs = 2048

  /** Below this df skew the prefix join pays ([[prefixJoinPays]]):
    * Zipf-like vocabularies score near 0, uniform ones near 1 (the
    * contract corpora's sample reads 0.94-0.98). */
  val DfSkewPrefixBelow = 0.2

  /** The df-skew statistic of [[dedupNearAuto]] and
    * [[txtContainmentAuto]]: median(df)/max(df) over the distinct
    * lower-cased space-split tokens of the first [[DfSkewSampleDocs]]
    * documents, None when the sample holds no token (an empty table, or
    * only null texts). Its one bounded job is the sample's `head`,
    * which also tokenizes; the document frequencies, the median and the
    * max fold on the driver. The median is the lower one, at rank
    * ⌈n/2⌉ of the n sorted frequencies: the value
    * `percentile_approx(df, 0.5, 10000)` returns while its summary is
    * exact, below 5,000 distinct sample tokens (past that the SQL form
    * may answer a neighbouring rank). Evaluated eagerly, so a query's
    * plan holds only the branch it runs. */
  private[graft] def dfSkewOf(s: SparkSession, dir: String)
      : Option[Double] = {
    // the sample is a top-level `head` (CollectLimitExec, which is not
    // code-generated) rather than a `limit` inside the plan: Spark names
    // each generated limit's counter from a JVM-global sequence, so a
    // mid-plan limit compiled a class no earlier call had compiled
    val df = table(s, dir, "documents")
      .select(array_distinct(split(lower(col("text")), " ")))
      .head(DfSkewSampleDocs)
      .filterNot(_.isNullAt(0)).flatMap(_.getSeq[String](0))
      .groupMapReduce(identity)(_ => 1L)(_ + _).values.toArray.sorted
    if (df.isEmpty) None
    else Some(df((df.length - 1) / 2).toDouble / df.last)
  }

  /** The df-skew rule of [[dedupNearAuto]] and [[txtContainmentAuto]]:
    * prefix filtering (AllPairs/PPJoin) pays exactly when token document
    * frequency is SKEWED — rare tokens then anchor selective prefixes
    * and the candidate join shrinks superlinearly. On a dense corpus
    * where every token is ubiquitous (df uniform and high) the prefix
    * keeps a constant fraction of every doc, pruning little, and the
    * plain count-join avoids the df-ranking window, candidate distinct
    * and verify passes it would pay for nothing. An empty sample routes
    * to the count join, whose result is empty there anyway. */
  private[graft] def prefixJoinPays(skew: Option[Double]): Boolean =
    skew.exists(_ < DfSkewPrefixBelow)

  /** Near-dup pairs with the count-join vs prefix-join choice CODIFIED
    * (the BENCH_NOTES round-3 prose rule as code): [[prefixJoinPays]]
    * over [[dfSkewOf]], decided eagerly. Both branches emit the
    * IDENTICAL result set (same oracle SQL; asserted in DedupOpsSpec on
    * a uniform AND a skewed corpus, and in RandomizedParitySpec on
    * adversarial ones), so the choice is pure planning. */
  def dedupNearAuto(s: SparkSession, dir: String): DataFrame =
    if (prefixJoinPays(dfSkewOf(s, dir)))
      dedupNearPrefix(s, dir, positional = true)
    else dedupNearRelational(s, dir)

  /** Bitmask fast path for dedup_near: dictionary-encode each token set
    * into ONE long and compute Jaccard as bit_count(a&b)/bit_count(a|b)
    * — codegen'd integer ops, no per-pair set allocation. ONLY valid
    * when the caller knows the vocabulary fits 63 bits (a table
    * statistic, supplied explicitly rather than discovered by an eager
    * driver-side count — plan construction must stay lazy). Results are
    * bit-identical to [[dedupNearRelational]] on such corpora
    * (asserted by DedupOpsSpec). If the vocabulary turns out larger,
    * the plan FAILS LOUDLY at execution time via an in-plan
    * raise_error — shiftleft would otherwise wrap mod 64 and the
    * sum-based mask build would corrupt silently. */
  def dedupNearBitmask(s: SparkSession, dir: String): DataFrame = {
    val toks = tokSets(s, dir)
      .select(col("doc_id"), col("source"), explode(col("toks")).as("tok"))
    val vocab = toks.select("tok").distinct()
      // the partition-less window funnels the vocabulary through ONE
      // task — acceptable ONLY because this opt-in helper is contractually
      // bounded to <= 63 distinct tokens (raise_error below); the general
      // path (dedupNearRelational/Prefix) never global-sorts a vocabulary
      .withColumn("idx", row_number().over(Window.orderBy("tok")) - 1)
      .withColumn("idx", expr(
        "CASE WHEN idx > 62 THEN CAST(raise_error(" +
          "'dedupNearBitmask: vocabulary exceeds 63 distinct tokens; " +
          "use dedupNearRelational') AS INT) ELSE idx END"))
    val masks = toks.join(broadcast(vocab), "tok")
      .groupBy("doc_id", "source")
      .agg(sum(expr("shiftleft(CAST(1 AS BIGINT), idx)")).as("mask"))
    val a = masks.select(col("source"), col("doc_id").as("a_id"),
      col("mask").as("a_mask"))
    val b = masks.select(col("source"), col("doc_id").as("b_id"),
      col("mask").as("b_mask"))
    a.join(b, Seq("source"))
      .filter(col("a_id") < col("b_id"))
      .withColumn("jaccard",
        bit_count(col("a_mask").bitwiseAND(col("b_mask"))).cast(DoubleType)
          / bit_count(col("a_mask").bitwiseOR(col("b_mask"))))
      .filter(col("jaccard") >= 0.6)
      .select("a_id", "b_id", "jaccard")
      .orderBy("a_id", "b_id")
  }

  /** Bigram-shingle Jaccard >= 0.3 near-dup pairs within `source`
    * blocks, as a relational set-similarity join: explode distinct
    * shingles, equi-join on (source, shingle) to count the intersection
    * per candidate pair, derive |A∪B| = |A|+|B|−|A∩B|. No arrays cross
    * a shuffle, everything codegen's, and work is proportional to Σk²
    * over shingle document frequencies k.
    *
    * The Σk² bound needs a guard: ONE shingle occurring in 1M docs
    * would alone contribute 10¹² join rows. `maxDfFrac` drops shingles
    * whose document frequency exceeds that fraction of the corpus
    * (stop-shingle removal — ubiquitous shingles carry no near-dup
    * signal anyway) from BOTH the intersection and the set sizes, so
    * the Jaccard stays a true Jaccard over the kept-shingle universe.
    * Both engines apply the identical cap (mirrored in the oracle SQL),
    * and the default 0.1 lies above this corpus's max df (9.2% at
    * sf0.01, 6.8% at sf0.1) so current results are unchanged. The hot
    * set is computed lazily inside the plan (one agg, broadcast
    * left_anti) — no driver-side action at build time. */
  def dedupNgram(s: SparkSession, dir: String,
      maxDfFrac: Double = 0.1): DataFrame = {
    val ex = shared(table(s, dir, "documents")
      .withColumn("t", split(lower(col("text")), " "))
      .select(col("doc_id"), col("source"),
        explode(array_distinct(expr(
          "transform(slice(t, 1, size(t) - 1), " +
            "(x, i) -> concat(x, ' ', t[i + 1]))"))).as("g")))
    val ndocs = table(s, dir, "documents").agg(count(lit(1)).as("ndocs"))
    // shingles are distinct per doc, so count(*) == document frequency
    val hot = ex.groupBy("g").agg(count(lit(1)).as("df"))
      .crossJoin(ndocs)
      .filter(col("df") > col("ndocs") * maxDfFrac)
      .select("g")
    // referenced by sizes + both sides of the intersection join
    val kept = shared(ex.join(broadcast(hot), Seq("g"), "left_anti"))
    val sizes = kept.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val inter = SkewJoin.saltedCandidateJoin(
        kept.select(col("source"), col("doc_id").as("a_id"), col("g")),
        kept.select(col("source"), col("doc_id").as("b_id"), col("g")),
        Seq("source", "g"), leftSaltBy = col("a_id"))
      .filter(col("a_id") < col("b_id"))
      .groupBy("a_id", "b_id")
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("doc_id").as("a_id"), col("sz").as("a_sz")), "a_id")
      .join(sizes.select(col("doc_id").as("b_id"), col("sz").as("b_sz")), "b_id")
      .withColumn("jaccard",
        col("inter").cast(DoubleType)
          / (col("a_sz") + col("b_sz") - col("inter")))
      .filter(col("jaccard") >= 0.3)
      .select("a_id", "b_id", "jaccard")
      .orderBy("a_id", "b_id")
  }

  /** Sign-aggregated SimHash sketch per doc (doc_id, `carry`…,
    * simhash) at any bit width — since round 18 ONE map-side
    * projection: the native
    * [[graft.plans.TokSketch]] fold over the per-doc distinct token
    * array, bit-identical to the former explode + dictionary join +
    * bit-sum aggregate (parity asserted in TokSketchSpec; the legacy
    * relational formulation is kept below as the spec's reference).
    * No explode, no dictionary exchange, no 62-column aggregate
    * exchange — the sketch relation is now as cheap as a column. */
  private def sketchOf(docs: DataFrame, bits: Int): DataFrame = {
    graft.plans.TokSketch.register(docs.sparkSession)
    docs.select(col("doc_id"),
      graft.plans.TokSketch.simhashOf(distinctToks, bits).as("simhash"))
  }

  /** LEGACY relational sketch derivation (explode + distinct-token
    * dictionary + bit-sum aggregate) — retained ONLY as TokSketchSpec's
    * independent reference for the expression fold above; no query path
    * builds it. */
  private[graft] def sketchFromTokHashLegacy(tokHash: DataFrame,
      widen: Column => Column, bits: Int): DataFrame = {
    val bitSums = (0 until bits).map { j =>
      sum(when(shiftright(col("b"), j).bitwiseAND(lit(1L)) === 1L,
        lit(1L)).otherwise(lit(-1L))).as(s"s$j")
    }
    tokHash
      .withColumn("b", widen(col("base")))
      .groupBy("doc_id")
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"),
        (0 until bits)
          .map(j => when(col(s"s$j") > 0, lit(1L << j)).otherwise(lit(0L)))
          .reduce(_ + _).as("simhash"))
  }

  /** Legacy exploded (doc_id, base) relation for [[sketchFromTokHashLegacy]]
    * / [[minhashSigLegacyOf]] — spec-only, see above. */
  private[graft] def docTokHashLegacyOf(docs: DataFrame): DataFrame =
    docTokHashOf(tokSetsOf(docs))

  /** 16-permutation MinHash signature per doc (columns m0..m15) — one
    * map-side [[graft.plans.TokSketch]] projection since round 18
    * (formerly explode + dictionary join + 16-min aggregate; parity in
    * TokSketchSpec). Shared by the LSH dedup decision query and the
    * accuracy estimator. */
  private def minhashSig(s: SparkSession, dir: String): DataFrame = {
    graft.plans.TokSketch.register(s)
    table(s, dir, "documents")
      .select(col("doc_id"),
        graft.plans.TokSketch.minhashOf(distinctToks).as("__sig"))
      .select(col("doc_id") +:
        (0 until MinhashK).map(j =>
          element_at(col("__sig"), j + 1).as(s"m$j")): _*)
  }

  /** LEGACY MinHash signature derivation — TokSketchSpec's reference
    * twin of [[sketchFromTokHashLegacy]]; no query path builds it. */
  private[graft] def minhashSigLegacyOf(docs: DataFrame): DataFrame = {
    val minExprs = (0 until MinhashK)
      .map(j => min(permute(j, col("base"))).as(s"m$j"))
    docTokHashLegacyOf(docs).groupBy("doc_id")
      .agg(minExprs.head, minExprs.tail: _*)
  }

  /** One (band, bkey) struct per LSH band of a signature row. */
  private def minhashBandStructs: Column = array((0 until Bands).map { b =>
    val ms = (0 until RowsPerBand).map(r => col(s"m${b * RowsPerBand + r}"))
    struct(lit(b).as("band"), concat_ws("-", ms: _*).as("bkey"))
  }: _*)

  /** 31-bit sketch; shared by the dedup_simhash query and its
    * banding-exactness spec. */
  private[graft] def simhashSketches(s: SparkSession, dir: String): DataFrame =
    sketchOf(table(s, dir, "documents"), SimhashBits)

  /** 62-bit production-width sketch ([[TextHash.base62]] high half). */
  private[graft] def simhash64Sketches(s: SparkSession, dir: String): DataFrame =
    sketchOf(table(s, dir, "documents"), Simhash64Bits)

  def queries: Map[String, Q] = Map(
    // Exact duplicate removal: keep-first by doc_id within identical
    // text (deterministic row_number, not dropDuplicates — SURVEY §7.3).
    "dedup_exact" -> { (s, dir) =>
      val w = Window.partitionBy("text").orderBy("doc_id")
      table(s, dir, "documents")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    },

    // Near-dup pairs: token-set Jaccard >= 0.6, pairwise within source
    // blocks (exact baseline for the LSH variant).
    //
    // Expressed as a relational set-similarity join: explode distinct
    // tokens, equi-join on (source, token) to count each candidate
    // pair's intersection, derive |A∪B| = |A|+|B|−|A∩B|. Fully lazy
    // (no driver-side action at plan-construction time — building the
    // DataFrame runs ZERO Spark jobs, asserted by DedupOpsSpec), no
    // arrays cross the shuffle, and work is ∝ Σk² over token document
    // frequencies rather than block² — pairs sharing no token are never
    // materialized. A pair with Jaccard >= 0.6 necessarily shares a
    // token, so skipping empty intersections loses nothing.
    "dedup_near" -> { (s, dir) => dedupNearRelational(s, dir) },

    // The same near-dup pair set via prefix filtering (AllPairs/PPJoin)
    // — candidates only from each doc's rarest-token prefix, exact
    // verification after. See [[dedupNearPrefix]]; result-identity vs
    // the unfiltered join is asserted in DedupOpsSpec and the oracle is
    // the same SQL as dedup_near.
    "dedup_near_prefix" -> { (s, dir) => dedupNearPrefix(s, dir) },

    // Adaptive plan choice: a bounded-sample df-skew statistic picks
    // count-join (dense vocabularies — this corpus) or prefix-join
    // (skewed df), result-identical either way, so the oracle is the
    // same SQL as dedup_near. The statistic is read eagerly at build,
    // so the plan holds only the chosen branch; see [[dedupNearAuto]],
    // exercised on both corpus shapes in DedupOpsSpec.
    "dedup_near_auto" -> { (s, dir) => dedupNearAuto(s, dir) },

    // Near-dup pairs on bigram shingles (order-sensitive n-gram
    // Jaccard), as a relational set-similarity join with a
    // document-frequency cap (stop-shingle guard). See [[dedupNgram]].
    "dedup_ngram" -> { (s, dir) => dedupNgram(s, dir) },

    // Near-dup pairs on WINNOWING fingerprints — the char-level twin
    // of dedup_ngram: each doc's SIGMOD'03-selected fingerprint set
    // (the codegen'd graft_winnow expression txt_winnow ships — ~1/W
    // of the char grams, every ≥ 11-char shared run represented), then
    // pairs within `source` sharing ≥ [[WinnowMinShared]] fingerprints,
    // with resemblance = shared / min(|A|, |B|). This is how real
    // copy-detection services index: match on the winnowed sample, not
    // all grams — the explode is W× smaller than a full-gram join and
    // the candidate join uses the same salted/pinned discipline as
    // every corpus-scaled candidate join in this repo. Catches
    // char-level boilerplate overlap that token-set Jaccard dilutes,
    // at a fraction of dedup_substring's gram volume.
    "dedup_winnow" -> { (s, dir) =>
      graft.plans.Winnow.register(s)
      val ex = shared(table(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          explode(call_function("graft_winnow", col("text"))).as("fp")))
      val sizes = ex.groupBy("doc_id").agg(count(lit(1)).as("sz"))
      val inter = SkewJoin.saltedCandidateJoin(
          ex.select(col("source"), col("doc_id").as("a_id"), col("fp")),
          ex.select(col("source"), col("doc_id").as("b_id"), col("fp")),
          Seq("source", "fp"), leftSaltBy = col("a_id"))
        .filter(col("a_id") < col("b_id"))
        .groupBy("a_id", "b_id").agg(count(lit(1)).as("shared"))
        .filter(col("shared") >= WinnowMinShared)
      inter
        .join(sizes.select(col("doc_id").as("a_id"), col("sz").as("a_sz")),
          "a_id")
        .join(sizes.select(col("doc_id").as("b_id"), col("sz").as("b_sz")),
          "b_id")
        .select(col("a_id"), col("b_id"), col("shared"),
          round(col("shared").cast(DoubleType)
            / least(col("a_sz"), col("b_sz")), 9).as("resemblance"))
        .orderBy("a_id", "b_id")
    },

    // SOURCE-level vocabulary overlap — the crawl-dedup screen run at
    // corpus-composition time ("are these two sources the same
    // underlying site / mirrored dump?"): per-source distinct-token
    // vocabulary, pairwise Jaccard across ALL source pairs. Sources
    // are bounded (thousands, not billions), so the OUTPUT is bounded;
    // the work term is the per-token source-list join — near-universal
    // tokens (stopwords) make `tok` the canonical skewed key, so the
    // join is the salted/pinned candidate join like every
    // corpus-scaled pairing here. At real scale the vocabulary is
    // capped per source (top-V by tf) before pairing — the relational
    // shape is identical; this corpus's 31-word vocab needs no cap.
    "txt_source_overlap" -> { (s, dir) =>
      sourceJaccard(shared(table(s, dir, "documents")
        .select(col("source"),
          explode(array_distinct(split(lower(col("text")), " ")))
            .as("tok"))
        .distinct()))
    },

    // The 100 TB form of txt_source_overlap (round-8 verdict ask #2 —
    // previously prose in SURVEY.md only): cap each source's
    // vocabulary at its top-[[SourceOverlapTopV]] tokens by term
    // frequency (ties by token asc — deterministic cross-engine)
    // BEFORE the pairwise join. On a real web vocabulary the uncapped
    // per-token source-list join is sources²-universal on stopwords
    // even salted; the cap bounds every token chain at the number of
    // sources that rank it top-V, and the st relation itself at
    // sources × V rows — the join input no longer grows with
    // vocabulary at all. Same pairing tail as the exact variant
    // ([[sourceJaccard]] — shared code, so the algebra cannot drift);
    // capped-vs-exact agreement when V ≥ vocab and the WIDE-regime
    // delta are asserted/measured in DedupOpsSpec + docs/SCALE.md. */
    "txt_source_overlap_topv" -> { (s, dir) =>
      sourceJaccardTopV(s, dir, SourceOverlapTopV)
    },

    // MinHash + LSH dedup: 16 permuted min-hashes per doc -> 4 bands of
    // 4 -> per-bucket keep-min canonical -> each doc's canonical = min
    // over its buckets -> verify doc-vs-canonical Jaccard. Output is one
    // DECISION row per document (linear!), not candidate pairs — this
    // corpus is ~70% mutual near-dups, so any pair listing is inherently
    // O(n²) rows; a dedup operator at 100 TB must emit keep/drop
    // decisions. (Pairwise listings are dedup_near / dedup_ngram, which
    // block by source to stay bounded.)
    "dedup_minhash_lsh" -> { (s, dir) =>
      val sig = minhashSig(s, dir)
      // single-pass banding: one inline-explode of (band, bkey) structs
      // per signature row — the signature relation is read once, not
      // re-scanned per band by a unionAll
      val bandStructs = minhashBandStructs
      // banded feeds the bucket-min agg and the canonical join; ts both
      // sides of the verify join — compute each once
      val banded = shared(sig
        .select(col("doc_id"), explode(bandStructs).as("bs"))
        .select(col("doc_id"), col("bs.band").as("band"),
          col("bs.bkey").as("bkey")))
      val bucketMin = banded.groupBy("band", "bkey")
        .agg(min(col("doc_id")).as("bmin"))
      // bucket keys are duplicate-heavy on dup-dense corpora and both
      // sides scale with the corpus — salted, explicitly-partitioned
      // join (see dedupNearPrefix's coalesce/broadcast note)
      val canon = SkewJoin.saltedCandidateJoin(banded, bucketMin,
          Seq("band", "bkey"), leftSaltBy = col("doc_id"))
        .groupBy("doc_id")
        .agg(min(col("bmin")).as("canonical_id"))
      graft.plans.SortedJaccard.register(s)
      val ts = shared(tokSets(s, dir)
        .select(col("doc_id"), sort_array(col("toks")).as("toks")))
      canon
        .join(ts, "doc_id")
        .join(ts.select(col("doc_id").as("canonical_id"),
          col("toks").as("c_toks")), "canonical_id")
        .withColumn("jaccard", graft.plans.SortedJaccard
          .jaccardSorted(col("toks"), col("c_toks")))
        .select(
          col("doc_id"), col("canonical_id"),
          // verified decision: LSH proposes, exact Jaccard confirms —
          // bucket false positives (band-signature collisions) keep
          // their doc.
          (col("canonical_id") < col("doc_id") && col("jaccard") >= 0.5)
            .as("is_dup"),
          col("jaccard"))
        .orderBy("doc_id")
    },

    // MinHash accuracy estimator: for every same-source LSH candidate
    // pair, the signature-agreement Jaccard estimate (matching
    // permutations / 16) next to the EXACT Jaccard and the absolute
    // error — the measurement a pipeline runs to tune its banding
    // scheme (threshold, bands × rows) before committing a 100 TB
    // dedup pass to it. Candidates come from the same single-pass
    // banding as dedup_minhash_lsh (never all-pairs) and the listing
    // is source-blocked like every pairwise baseline; the exact side
    // is the codegen'd merge Jaccard. est = k/16 is an exact binary
    // fraction and the exact-Jaccard division is the proven
    // bit-identical pattern, so est/err hash-match cross-engine.
    "dedup_minhash_est" -> { (s, dir) =>
      graft.plans.SortedJaccard.register(s)
      val sig = shared(minhashSig(s, dir)
        .join(table(s, dir, "documents").select("doc_id", "source"),
          "doc_id"))
      val banded = sig
        .select(col("doc_id"), col("source"),
          explode(minhashBandStructs).as("bs"))
        .select(col("doc_id"), col("source"), col("bs.band").as("band"),
          col("bs.bkey").as("bkey"))
      val cand = SkewJoin.saltedCandidateJoin(
          banded.select(col("source"), col("band"), col("bkey"),
            col("doc_id").as("a_id")),
          banded.select(col("source"), col("band"), col("bkey"),
            col("doc_id").as("b_id")),
          Seq("source", "band", "bkey"), leftSaltBy = col("a_id"))
        .filter(col("a_id") < col("b_id"))
        .select("a_id", "b_id").distinct()
      val aSig = sig.select(col("doc_id").as("a_id") +:
        (0 until MinhashK).map(j => col(s"m$j").as(s"a_m$j")): _*)
      val bSig = sig.select(col("doc_id").as("b_id") +:
        (0 until MinhashK).map(j => col(s"m$j").as(s"b_m$j")): _*)
      val agree = (0 until MinhashK)
        .map(j => when(col(s"a_m$j") === col(s"b_m$j"), 1).otherwise(0))
        .reduce(_ + _)
      val ts = shared(tokSets(s, dir)
        .select(col("doc_id"), sort_array(col("toks")).as("toks")))
      cand
        .join(aSig, "a_id")
        .join(bSig, "b_id")
        .withColumn("est", round(agree.cast(DoubleType) / MinhashK, 9))
        .select("a_id", "b_id", "est")
        .join(ts.select(col("doc_id").as("a_id"), col("toks").as("a_toks")),
          "a_id")
        .join(ts.select(col("doc_id").as("b_id"), col("toks").as("b_toks")),
          "b_id")
        .withColumn("jaccard", graft.plans.SortedJaccard
          .jaccardSorted(col("a_toks"), col("b_toks")))
        .select(col("a_id"), col("b_id"), col("est"), col("jaccard"),
          round(abs(col("est") - col("jaccard")), 9).as("abs_err"))
        .orderBy("a_id", "b_id")
    },

    // SimHash: 31-bit sign-aggregated sketch per doc; near-dup pairs =
    // same-source pairs with Hamming distance <= 10.
    //
    // Candidate generation is banded LSH over the sketch bits, not
    // all-pairs: split the 31 bits into 11 disjoint bands (10×3 bits +
    // 1×1 bit). Pigeonhole: a pair with <= 10 differing bits leaves at
    // least one of the 11 bands untouched, so it ALWAYS collides in
    // some band — recall is exactly 1.0 and the pair set is identical
    // to the all-pairs formulation (which remains the DuckDB oracle).
    // Exact Hamming on the colliding candidates then removes false
    // positives, and groupBy(a,b) dedupes multi-band collisions.
    // (At this loose 10/31 threshold the bands are necessarily narrow;
    // a production 64-bit/k<=3 config gets 4×16-bit bands and far more
    // selective buckets — the shape is what matters here.)
    "dedup_simhash" -> { (s, dir) =>
      simhashPairs(s, dir).orderBy("a_id", "b_id")
    },

    // Production-width SimHash: 62-bit sketch (TextHash.base62), pairs
    // at Hamming <= 3 via 4 pigeonhole-exact 16-bit bands. The tight
    // threshold over a wide sketch is what a real corpus runs — each
    // band is a selective bucket key, so candidate generation stays
    // near-linear even when the corpus is near-dup-dense. See
    // [[simhash64Pairs]].
    "dedup_simhash64" -> { (s, dir) =>
      simhash64Pairs(s, dir).orderBy("a_id", "b_id")
    },

    // GLOBAL-scope SimHash pairs — the corpus-wide candidate pass
    // (round-9 verdict #1): the production-width 62-bit sketch at
    // Hamming <= 3 (see [[simhashPairsGlobal]] for why the loose demo
    // sketch cannot run globally), no `source` in the bucket key, so
    // cross-crawl duplicates surface. Since round 11 the candidates
    // come from the identical-sketch collapse + Manku combination
    // keys ([[Simhash64Blocks]]): the sf10wide sweep falsified the
    // earlier "band keys are hash-random so global ≈ per-source"
    // claim — global 16-bit buckets grow with the corpus and the
    // candidate mass went quadratic (docs/SCALE.md round 11). Work is
    // now candidates-over-distinct-sketches + output-bound expansion;
    // the join keeps its salt + SHJ pin.
    "dedup_simhash_global" -> { (s, dir) =>
      simhashPairsGlobal(s, dir).orderBy("a_id", "b_id")
    },

    // The BOUNDED twin of the global pair listing (round-11 verdict
    // #4): per-doc top-K nearest sketches corpus-wide — n·K output
    // rows and sketch-level-bounded work where the listing is Σk²
    // (and at sf100wide not materializable at all). See
    // [[simhashTopKGlobal]] for the exactness argument.
    "dedup_simhash_topk" -> { (s, dir) => simhashTopKGlobal(s, dir) },

    // Near-dup cluster canonicalization: connected components over the
    // SimHash near-dup edge set via bounded label propagation — each
    // round every doc takes the min cluster label among itself and its
    // neighbors (CcRounds unrolled rounds; exact for components of
    // diameter <= CcRounds, and this corpus's near-dup clusters are
    // dense so they converge much earlier — asserted in DedupOpsSpec by
    // extra-round idempotence; ccPsLoop covers unbounded chains). The
    // decision output a real pipeline needs: doc -> canonical cluster,
    // one row per doc, no pair listing. Each round is two equi-joins +
    // a min agg on the (sparse) edge list — linear in |E| per round,
    // and min-label propagation is exact associative integer work, so
    // the DuckDB oracle reproduces it bit-for-bit.
    "dedup_cluster_cc" -> { (s, dir) => dedupClusterCC(s, dir) },

    // The end product of the dedup pipeline: per near-dup cluster,
    // KEEP exactly the highest-quality member (txt_quality_score's
    // formula; doc_id tiebreak) and mark the rest dropped — one
    // decision row per document, the table a curation job feeds to its
    // filter stage. Quality is a double from identical-order
    // arithmetic over exact integers, so the cross-engine ranking is
    // deterministic.
    "dedup_canonical_pick" -> { (s, dir) =>
      // ONE quality definition: TextOps.qualityParts is the same
      // derivation txt_quality_score ships, so the ranking cannot
      // drift from the scored operator
      val q = TextOps.qualityParts(s, dir).select("doc_id", "quality")
      val w = Window.partitionBy("cluster")
        .orderBy(col("quality").desc, col("doc_id"))
      // ccRouted, not dedupClusterCC: the standalone operator's
      // total-order sort would be a full range exchange the quality
      // join immediately destroys — the pick re-sorts once, at the end
      ccRouted(s, dir, CcRounds)
        .join(q, "doc_id")
        .withColumn("is_kept", row_number().over(w) === 1)
        .select("doc_id", "cluster", "quality", "is_kept")
        .orderBy("doc_id")
    },

    // The composed end-product of the DEDUP pipeline (round-7 verdict
    // #4) — the twin of pipeline_curate: sketch-based candidates
    // (SimHash banded join) -> connected components -> canonical pick
    // -> ONE decision row per document: its cluster, keep/drop, and
    // for dropped docs WHICH doc supersedes it (dup_of = the cluster's
    // canonical member) plus the reason. This is the manifest a
    // curation job actually consumes; the pieces are the standalone
    // operators above, and composition agreement (manifest ≡
    // dedup_cluster_cc labels + dedup_canonical_pick keeps) is
    // asserted in PipelineOpsSpec. Scale shape: everything the pieces
    // already measured — linear sketches, salted banded candidate
    // join, labels-only CC shuffles, one quality scan — topped by a
    // single cluster-partitioned window where row_number and
    // first_value share one frame (one exchange, two decisions).
    // GLOBAL candidate scope (round-9 verdict #1): the manifest's CC
    // runs over simhashEdgesGlobal — source-blind banded buckets — so
    // a doc duplicated across crawls collapses into one cluster and
    // exactly one copy ships. The within-source scoping stays
    // contract-visible through dedup_simhash / dedup_cluster_cc /
    // dedup_canonical_pick; the global pair listing through
    // dedup_simhash_global. Same sketch-linear scale shape (SCALE.md
    // "Global vs within-source banding").
    "pipeline_dedup" -> { (s, dir) =>
      val q = TextOps.qualityParts(s, dir).select("doc_id", "quality")
      val ordered = Window.partitionBy("cluster")
        .orderBy(col("quality").desc, col("doc_id"))
      val nodes = table(s, dir, "documents").select("doc_id")
      ccPsLoop(nodes, simhashEdgesGlobal(s, dir), StarCcPairs)._1
        .join(q, "doc_id")
        .withColumn("is_kept", row_number().over(ordered) === 1)
        .withColumn("canon", first(col("doc_id")).over(ordered))
        .select(col("doc_id"), col("cluster"),
          col("is_kept").as("keep"),
          when(!col("is_kept"), col("canon")).as("dup_of"),
          when(!col("is_kept"), lit("near_dup")).as("drop_reason"))
        .orderBy("doc_id")
    },

    // Directional token containment |A∩B|/|A| >= 0.9 within source
    // blocks: catches subset/boilerplate duplication (doc A nearly
    // contained in B) that symmetric Jaccard misses — e.g. a page vs
    // the page plus navigation chrome. AUTO-ROUTED like dedup_near_auto
    // (round-5 verdict #2): the same eager df-skew rule picks the plain
    // count-join on dense corpora (this one — the output IS ~n² rows,
    // pruning can't help) or the A-side prefix variant on skewed-df
    // corpora, where SCALE.md measured the count-join at 73x DENSE
    // growth with the prefix escape hatch result-identical. Both
    // branches share one oracle; see [[txtContainmentAuto]].
    "txt_containment" -> { (s, dir) => txtContainmentAuto(s, dir) },

    // Incremental (new-batch vs existing-corpus) near-dup dedup — the
    // daily-ingest shape of a production pipeline: the corpus is
    // already deduped, only the arriving delta needs checking, and
    // nothing ever re-scans corpus×corpus. Batch = sources src10+,
    // corpus = src0–src9 (standing in for today's crawl vs
    // yesterday's shards); blocking is per `lang` — the language-shard
    // boundary a real pipeline dedups within. Each batch doc gets ONE
    // decision row: dup_of = the lowest corpus doc_id whose token-set
    // Jaccard reaches 0.6, or null (is_new). Same lazy set-similarity
    // count-join as dedup_near, but STRICTLY batch×corpus (never
    // corpus×corpus — the incremental saving), salted and explicitly
    // partitioned like every corpus-scaled candidate join here. At
    // 100 TB the corpus-side token relation is a pre-built inverted
    // index read bucketed from storage, so only the delta explodes
    // and shuffles per ingest.
    "dedup_incremental" -> { (s, dir) =>
      val d = table(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("source"),
          array_distinct(split(lower(col("text")), " ")).as("toks"))
        .withColumn("src_idx",
          substring(col("source"), 4, 10).cast(IntegerType))
      val toks = shared(d
        .select(col("doc_id"), col("lang"), col("src_idx"),
          explode(col("toks")).as("tok")))
      val sizes = toks.groupBy("doc_id").agg(count(lit(1)).as("sz"))
      val dupOf = SkewJoin.saltedCandidateJoin(
          toks.filter(col("src_idx") >= IncrementalCorpusSrcs)
            .select(col("lang"), col("doc_id").as("b_id"), col("tok")),
          toks.filter(col("src_idx") < IncrementalCorpusSrcs)
            .select(col("lang"), col("doc_id").as("c_id"), col("tok")),
          Seq("lang", "tok"), leftSaltBy = col("b_id"))
        .groupBy("b_id", "c_id")
        .agg(count(lit(1)).as("inter"))
        .join(sizes.select(col("doc_id").as("b_id"), col("sz").as("b_sz")),
          "b_id")
        .join(sizes.select(col("doc_id").as("c_id"), col("sz").as("c_sz")),
          "c_id")
        .filter(col("inter").cast(DoubleType)
          / (col("b_sz") + col("c_sz") - col("inter")) >= 0.6)
        .groupBy("b_id")
        .agg(min(col("c_id")).as("dup_of"))
        .withColumnRenamed("b_id", "doc_id")
      d.filter(col("src_idx") >= IncrementalCorpusSrcs)
        .select("doc_id", "source")
        .join(dupOf, Seq("doc_id"), "left")
        .select(col("doc_id"), col("source"), col("dup_of"),
          col("dup_of").isNull.as("is_new"))
        .orderBy("doc_id")
    },

    // EXACT-substring duplication (Lee et al. 2021 exact-substring
    // dedup, relationally): sample fixed-width character windows every
    // `stride` chars, count per window-gram how many DISTINCT docs
    // contain it, and report per doc how many of its distinct grams
    // also appear verbatim in another doc. Catches copy-paste /
    // boilerplate overlap that token-set Jaccard dilutes away. The
    // shape is strictly linear: docs never pair (no Σk² candidate
    // join anywhere) — and because every gram occurrence needs exactly
    // ITS OWN gram's df, the df lookup is not a join at all but a
    // count window over the gram key: one exchange on `g` computes
    // n_docs in place of the groupBy + corpus-scaled join-back a
    // naive formulation would pay (and that a salted-candidate join
    // would 8x-replicate for no Σk² to spread). Hot ubiquitous grams
    // skew that one exchange; output stays 1 row per occurrence, the
    // case AQE's skew split handles. At 100 TB the gram key would be
    // a 64-bit rolling hash instead of the 40-char string (same plan,
    // 5x narrower shuffle); the contract keys on the string so the
    // oracle is exact without a hash scheme.
    "dedup_substring" -> { (s, dir) =>
      val W = SubstrWidth
      val S = SubstrStride
      // guarded start sequence: greatest(..,1) keeps sequence() legal
      // for docs shorter than W; the pos filter then drops the one
      // out-of-range window those docs generate
      val grams = table(s, dir, "documents")
        .select(col("doc_id"),
          explode(array_distinct(expr(
            s"""transform(
               |  filter(sequence(1, greatest(length(text) - ${W - 1}, 1),
               |                  $S),
               |         p -> p + ${W - 1} <= length(text)),
               |  p -> substring(text, p, $W))""".stripMargin)))
            .as("g"))
      // grams are per-doc distinct (array_distinct before the explode),
      // so the window count IS the distinct-doc count
      val perDoc = grams
        .withColumn("n_docs",
          count(lit(1)).over(Window.partitionBy("g")))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"),
          count(when(col("n_docs") >= 2, lit(1))).as("dup_grams"))
      table(s, dir, "documents").select("doc_id")
        .join(perDoc, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_grams"), lit(0L)).as("n_grams"),
          coalesce(col("dup_grams"), lit(0L)).as("dup_grams"),
          (coalesce(col("dup_grams"), lit(0L)) > 0).as("is_dup"))
        .orderBy("doc_id")
    })

  /** documents with parsed source index and distinct token sets — the
    * shared shape of the incremental-dedup paths. */
  private def incrementalDocs(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("source"),
        array_distinct(split(lower(col("text")), " ")).as("toks"))
      .withColumn("src_idx",
        substring(col("source"), 4, 10).cast(IntegerType))

  /** Build the pre-computed corpus-side inverted index the
    * `dedup_incremental` scaladoc promises for 100 TB: the corpus token
    * relation (lang, tok, __salt, c_id, c_sz), written ONCE, bucketed +
    * sorted by the SALTED candidate-join key (lang, tok, __salt), one
    * file per bucket (the rows are hash-partitioned on the bucket key
    * into `buckets` partitions first, so each writer task holds exactly
    * one bucket). No later ingest shuffles the corpus: an index under
    * Spark's `autoBroadcastJoinThreshold` is read once per snapshot into
    * a broadcast probe table ([[IngestIndex]]) that each batch probes in
    * a projection, and a larger one is merge-joined against the exploded
    * delta on bucket-aligned reads (both branches asserted in
    * BucketedJoinSpec). `c_sz` (the doc's distinct-token count) is
    * denormalized into the index so the Jaccard denominator needs no
    * corpus-side aggregation at ingest time either.
    *
    * The salt is the skew defense bucketing alone lacks, learned the
    * measured way (docs/SCALE.md round 7: the unsalted index ran 534.8 s
    * at sf1-dense vs 444.3 s for the salted-SHJ contract join — a hot
    * token's whole posting chain sat in ONE bucketed merge run, so the
    * Σk² probe output and the SMJ's duplicate-run buffering serialized
    * per key). Here each corpus occurrence gets ONE salt value
    * (hash(c_id) — [[IncrementalIndexSalt]] sub-keys), splitting every
    * hot chain across `salt` physical keys AT BUILD TIME: index size is
    * unchanged (no replication — the probe side, the small delta, is
    * what replicates), the corpus still never re-shuffles, and per-key
    * merge runs shrink `salt`×. At 100 TB, size `buckets` to the
    * cluster's parallelism (buckets are the merge-join's task count)
    * and df-cap ubiquitous tokens before indexing (the [[dedupNgram]]
    * stop-shingle guard) — salt bounds the per-run chain, buckets bound
    * the per-task key count. */
  def buildIncrementalIndex(s: SparkSession, dir: String,
      tableName: String, buckets: Int = 8,
      salt: Int = IncrementalIndexSalt): Unit =
    incrementalDocs(s, dir)
      .filter(col("src_idx") < IncrementalCorpusSrcs)
      .select(col("lang"), explode(col("toks")).as("tok"),
        col("doc_id").as("c_id"), size(col("toks")).as("c_sz"))
      .withColumn("__salt", pmod(hash(col("c_id")), lit(salt)))
      .repartition(buckets, col("lang"), col("tok"), col("__salt"))
      .write.bucketBy(buckets, "lang", "tok", "__salt")
      .sortBy("lang", "tok", "__salt")
      .mode("overwrite").saveAsTable(tableName)

  /** The per-batch decision core of the ingest stream
    * (streaming/StreamingOps.incrementalDedup) against a pre-built
    * index ([[buildIncrementalIndex]]): `batchDocs` is any (doc_id,
    * lang, source, toks) relation — ONE MICRO-BATCH in the stream, the
    * whole `dedup_incremental` delta in the specs that compare the two.
    * A doc's decision depends only on (doc, corpus index), never on its
    * batch-mates, so per-batch decisions match one run over the whole
    * delta by construction (asserted on data in StreamingOpsSpec and
    * BucketedJoinSpec). Emits (doc_id, source, dup_of, is_new), one row
    * per doc, in no particular order.
    *
    * `batchDocs` is read ONCE, and its `toks` are distinct. The branch
    * is chosen by the index's size, the statistic the planner's
    * broadcast rule reads ([[IngestIndex]]):
    *  - probe: an index under `autoBroadcastJoinThreshold` was read
    *    once per snapshot into a broadcast [[IndexProbe]], and each doc
    *    is decided by one projection over (lang, toks) — no join, no
    *    aggregation, no exchange, and no read of the index. In a stream
    *    the projection runs inside the state-store stage, so a batch
    *    runs 2 stages (source exchange, dedup + decide) in 1 job;
    *  - merge: a larger index is merge-joined on bucket-aligned reads,
    *    where only the salted delta shuffles. Every doc reaches the
    *    decision through the LEFT candidate join itself (explode_outer
    *    keeps a doc with no tokens, the outer join keeps a doc with no
    *    candidates), so no join back to the batch is needed.
    * Inside a streaming `foreachBatch` the batch is the stateful
    * watermark-dedup plan, and a second read would re-run that dedup
    * and re-commit its state store on every micro-batch. Both branches
    * return the same rows (BucketedJoinSpec's edge cases). */
  private[graft] def dedupAgainstIndex(s: SparkSession,
      batchDocs: DataFrame, index: IngestIndex,
      threshold: Double = 0.6): DataFrame = {
    val decided = index.probe() match {
      case Some(probe) =>
        val dupOf = udf((lang: String, toks: Seq[String]) =>
          probe.value.dupOf(lang, toks, threshold))
        batchDocs.select(col("doc_id"), col("source"),
          dupOf(col("lang"), col("toks")).as("dup_of"))
      case None =>
        // b_sz rides along map-side (tokens are distinct, so size(toks)
        // IS the contract's per-doc exploded-token count): the delta needs
        // no size aggregation, mirroring the denormalized c_sz. The delta
        // — the SMALL side of an incremental ingest by definition — then
        // replicates across all [[IncrementalIndexSalt]] salt values: each
        // corpus occurrence carries exactly one __salt (baked into the
        // bucketed layout at build time), so every (batch-occ, corpus-occ)
        // pair still meets exactly once, but a hot token's merge-run
        // buffering spreads over salt× more bucketed keys. Cost: salt× the
        // DELTA's rows and shuffle volume — the side that is tiny relative
        // to the corpus.
        val delta = batchDocs.select(col("doc_id"), col("source"),
            col("lang"), explode_outer(col("toks")).as("tok"),
            size(col("toks")).as("b_sz"))
          .withColumn("__salt",
            explode(array((0 until IncrementalIndexSalt).map(lit): _*)))
        val jaccard = col("inter").cast(DoubleType) /
          (col("b_sz") + col("c_sz") - col("inter"))
        delta
          .join(s.table(index.table), Seq("lang", "tok", "__salt"), "left")
          .groupBy("doc_id", "source", "c_id", "b_sz", "c_sz")
          .agg(count(lit(1)).as("inter"))
          .groupBy("doc_id", "source")
          .agg(min(when(jaccard >= threshold, col("c_id"))).as("dup_of"))
    }
    decided.select(col("doc_id"), col("source"), col("dup_of"),
      col("dup_of").isNull.as("is_new"))
  }

  /** Directional token containment |A∩B|/|A| >= `threshold` within
    * `source` blocks as a plain relational count-join over the one
    * cached exploded-token relation — the optimal shape on dense-df
    * corpora, where ~every same-source pair is a true containment and
    * the output itself is ~n² rows (candidate pruning cannot beat the
    * output lower bound). The contract `txt_containment` routes here on
    * such corpora via [[txtContainmentAuto]]. */
  def txtContainmentCount(s: SparkSession, dir: String,
      threshold: Double = 0.9): DataFrame = {
    val toks = shared(tokSetsOf(table(s, dir, "documents"))
      .select(col("doc_id"), col("source"), explode(col("toks")).as("tok")))
    val sizes = toks.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    // |A∩B| is SYMMETRIC, so the pair stream carries each unordered
    // pair ONCE (a < b) and both DIRECTIONS materialize only after the
    // count, by an explode over the aggregated row (optimization round
    // 17, guide §2.3 "shuffle fewer bytes"): the former
    // filter(a ≠ b) kept both orientations of every collision through
    // the probe emit, the pair exchange and the aggregate — measured
    // at sf0.1 as 16.9M pair rows, the query's dominant stage (73 s
    // exec / 37 s cpu); a < b halves all three. Output rows are
    // IDENTICAL: direction (a→b) divides by a_sz, (b→a) by b_sz, the
    // same division the one-directional form computed per orientation
    // (DuckDB oracle unchanged, count≡prefix identity spec unchanged).
    SkewJoin.saltedCandidateJoin(
        toks.select(col("source"), col("doc_id").as("a_id"), col("tok")),
        toks.select(col("source"), col("doc_id").as("b_id"), col("tok")),
        Seq("source", "tok"), leftSaltBy = col("a_id"))
      .filter(col("a_id") < col("b_id"))
      .groupBy("a_id", "b_id")
      .agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("doc_id").as("a_id"), col("sz").as("a_sz")),
        "a_id")
      .join(sizes.select(col("doc_id").as("b_id"), col("sz").as("b_sz")),
        "b_id")
      .select(explode(array(
        struct(col("a_id"), col("b_id"),
          (col("inter").cast(DoubleType) / col("a_sz")).as("containment")),
        struct(col("b_id").as("a_id"), col("a_id").as("b_id"),
          (col("inter").cast(DoubleType) / col("b_sz")).as("containment"))))
        .as("p"))
      .select(col("p.a_id").as("a_id"), col("p.b_id").as("b_id"),
        col("p.containment").as("containment"))
      .filter(col("containment") >= threshold)
      .orderBy("a_id", "b_id")
  }

  /** Directional containment with the count-join vs prefix-join choice
    * CODIFIED, exactly like [[dedupNearAuto]]: [[prefixJoinPays]] over
    * [[dfSkewOf]] picks one branch, so the plan holds only that branch,
    * and both branches emit the IDENTICAL result set at the builders'
    * threshold 0.9 (same oracle SQL — asserted in DedupOpsSpec on a
    * dense AND a skewed corpus). docs/SCALE.md measured why this
    * routing matters: on the DENSE 10x corpus the count-join grew 73x
    * (388.6 s) while the prefix variant's candidate work stays anchored
    * to rare-token prefixes — on a df-skewed real corpus the operator
    * must make that measured-right choice itself. */
  def txtContainmentAuto(s: SparkSession, dir: String): DataFrame =
    if (prefixJoinPays(dfSkewOf(s, dir))) txtContainmentPrefix(s, dir)
    else txtContainmentCount(s, dir)

  /** Directional token containment |A∩B|/|A| >= `threshold` within
    * `source` blocks, with an A-side prefix filter: order tokens
    * globally by ascending document frequency; if NONE of A's first
    * |A| − ⌈t·|A|⌉ + 1 tokens (rarest first) occur in B, then
    * |A∩B| <= ⌈t·|A|⌉ − 1 < t·|A| and the pair cannot qualify — so
    * candidates come from A-prefix tokens only. Unlike the symmetric
    * Jaccard case the B side must stay unfiltered (the shared token may
    * sit anywhere in B), but the A-side explode shrinks ~10x at t=0.9,
    * which is what bounds the Σk² candidate work. Exact verification
    * (array_intersect over the full token sets) then decides each
    * candidate. Same lazy relational shape as [[dedupNearPrefix]];
    * catches subset/boilerplate duplication (a page vs the page plus
    * navigation chrome) that symmetric Jaccard misses; both (a,b) and
    * (b,a) emit when containment holds in that direction.
    *
    * WHEN to pick this over the contract count-join: prefix filtering
    * pays exactly when token df is skewed (rare tokens exist to anchor
    * prefixes) and the true-pair density is low. On a corpus where
    * ~every pair qualifies the verify step dominates regardless and
    * the count-join wins; the two are result-identical (asserted), so
    * the choice is pure planning. */
  def txtContainmentPrefix(s: SparkSession, dir: String,
      threshold: Double = 0.9): DataFrame = {
    val docs = shared(tokSetsOf(table(s, dir, "documents")))
    val toks = shared(docs
      .select(col("doc_id"), col("source"), size(col("toks")).as("sz"),
        explode(col("toks")).as("tok")))
    val df_ = toks.groupBy("tok").agg(count(lit(1)).as("df"))
    val byRarity = Window.partitionBy("doc_id")
      .orderBy(col("df"), col("tok"))
    val prefix = toks
      .join(df_, "tok")
      .withColumn("rk", row_number().over(byRarity))
      .filter(col("rk") <= col("sz") - ceil(col("sz") * threshold) + 1)
      .select(col("source"), col("doc_id"), col("tok"))
    // same no-broadcast/no-coalesce rule as [[dedupNearPrefix]]'s
    // candidate join: both sides grow with the corpus and the keys are
    // vocabulary-bounded
    val cand = SkewJoin.saltedCandidateJoin(
        prefix.select(col("source"), col("doc_id").as("a_id"), col("tok")),
        toks.select(col("source"), col("doc_id").as("b_id"), col("tok")),
        Seq("source", "tok"), leftSaltBy = col("a_id"))
      .filter(col("a_id") =!= col("b_id"))
      .select("a_id", "b_id").distinct()
    val ts = docs.select(col("doc_id"), col("toks"))
    cand
      .join(ts.select(col("doc_id").as("a_id"), col("toks").as("a_toks")),
        "a_id")
      .join(ts.select(col("doc_id").as("b_id"), col("toks").as("b_toks")),
        "b_id")
      .withColumn("containment",
        size(array_intersect(col("a_toks"), col("b_toks"))).cast(DoubleType)
          / size(col("a_toks")))
      .filter(col("containment") >= threshold)
      .select("a_id", "b_id", "containment")
      .orderBy("a_id", "b_id")
  }

  /** Max Hamming distance for a SimHash near-dup pair. */
  val SimhashHammingMax = 10

  /** Max Hamming distance for the production-width 62-bit sketch:
    * <= 3 differing bits over 62 — the selectivity a real corpus needs
    * (4 bands of 16 bits, each a strong bucket key). */
  val Simhash64HammingMax = 3

  /** Unrolled propagation rounds in the contract CC query — exact for
    * component diameter <= CcRounds. Bounded by the oracle contract
    * (DuckDB mirrors the same unrolled CTE chain); [[ccPsLoop]] is
    * the unbounded-diameter path. */
  val CcRounds = 5

  /** (propagate, shortcut) PAIR bound for CC over the STAR-REDUCED
    * global edge set ([[simhashEdgesGlobal]]) — the [[ccPsLoop]]
    * schedule. The round-11 `fixpointstar` census first measured plain
    * min-label propagation needing 11 / 10 / 14 rounds at sf0.1 /
    * sf1wide / sf10wide (cross-source near-dup CHAINS run long even
    * when within-source components stay under [[CcRounds]]) — a
    * LINEAR-in-diameter bound whose safety margin (18 rounds) priced
    * every manifest build at 18 corpus-wide EDGE joins. Interleaving a
    * pointer-jumping shortcut after every propagate round
    * (Shiloach–Vishkin hooking + shortcutting, the FastSV schedule —
    * Zhang, Azad & Buluç 2020) cuts the EDGE-join rounds — the term
    * that dominates at 100 TB, since the shortcut is a node-sized
    * label self-join that never touches the edge relation. How much
    * it cuts is MEASURED, not assumed (DedupOpsSpec's path probe): on
    * a monotone-id chain reach doubles per pair (a 64-path converges
    * in 7 pairs), while on an adversarial shuffled-id chain the gain
    * is a constant factor (~2.2x fewer rounds, 17 pairs vs 37 plain
    * rounds at 64 nodes) — so the honest claim is "half the edge
    * joins at equal diameter coverage", not O(log d). On the real
    * sweep corpora the census (the loop's fixpoint segment count,
    * `cc_fixpoint_star_ps` rows) measured 5 / 5 / 6 pairs to fixpoint
    * at sf0.1 / sf1wide / sf10wide; 8 = measured max + 2, and with
    * corpus diameter growing ~log in corpus size (11 → 14 propagate
    * rounds per 100x) and >= 2.2 rounds of progress per pair, the +2
    * margin absorbs more than another 100x decade. The census is no
    * standing gate (its harness is retired, docs/SCALE.md): a corpus
    * whose star graph outruns StarCcPairs ships the bounded, under-
    * merged manifest, identically in both engines. Hash parity with
    * DuckDB does NOT rest on the bound: the pipeline_dedup /
    * pipeline_full oracles mirror the SAME star-reduced edge set
    * through the SAME (P,S) schedule (ccCteGlobal), so both engines
    * compute identical labels at any pair count; PipelineOpsSpec
    * asserts the bounded labels match the plain-propagation
    * fixpoint (a schedule-independent reference in its test sources) on
    * the gate corpus, so the bounded contract answer IS the
    * true-component answer — and, as the census measured, on the
    * swept corpora too.
    *
    * RE-SIZED 8 → 17 by the round-12 ADVERSARIAL census
    * (`fixpointadv`): 500k nodes in 16-node chains with ids scattered
    * by a multiplicative permutation measured 15 (P,S) pairs to
    * fixpoint — at that geometry the shortcut gains NOTHING (the
    * chain minimum sits one hop ahead of every label, so jumps land
    * on already-known territory), confirming the honest "constant
    * factor, not O(log d)" claim the hard way. The uniform corpora
    * (5/5/6/7 pairs) never exercised adversarial id order; a real
    * crawl's ids are assignment-order and CAN form such chains.
    * Raising the cap is FREE at contract scale since round 12's
    * early-exit loop ([[ccPsLoop]]): every corpus runs to its own
    * certified fixpoint (7 segments for `pipeline_dedup` at sf0.01)
    * and the bound is only the safety cap and the oracle CTE's unroll
    * depth (DuckDB at sf0.01 — cheap). */
  val StarCcPairs = 17

  /** Shortcut (pointer-jump) rounds per propagate round, in [[ccPsLoop]]
    * and in its SQL mirror (`ccPairsSql`) alike. Jumps never touch the
    * edge relation, so extra jumps would trade the corpus-scaled edge
    * join for cheap label joins — but MEASURED on all three census corpora, jumps = 2
    * converges in exactly the same round count as jumps = 1 (the min
    * hook leaves the label forest at depth <= 2, so one jump already
    * flattens it and a second jump is an identity pass). Keep 1; a
    * future schedule change re-measures instead of assuming. */
  val StarCcJumps = 1

  /** Block count for the combination-keyed global candidate join
    * ([[comboJoin]]) — Manku, Jain & Das Sarma, WWW'07 §3 ("Detecting
    * near-duplicates for web crawling"): split the 62-bit sketch into
    * 6 blocks; a pair within Hamming [[Simhash64HammingMax]] = 3 has
    * all differing bits inside <= 3 blocks, so it agrees EXACTLY on
    * >= 3 blocks and collides in >= one of the C(6,3) = 20 three-block
    * combination keys (~31 bits each). Against the 4x16-bit banding,
    * the wider keys trade 5x more bucket rows for a key space 2^15x
    * larger — the difference between bucket occupancy that grows with
    * corpus size (quadratic candidates; the round-11 sf10wide OOM) and
    * occupancy that stays flat until |distinct sketches| ~ 2^31. */
  val Simhash64Blocks = 6

  /** Neighbors per document in the bounded global near-dup REPORT
    * ([[simhashTopKGlobal]], `dedup_simhash_topk`): the per-doc top-K
    * that caps the report at n·K rows where the full pair LISTING is
    * Σk² (1.9e11 pairs at sf100wide — not materializable). */
  val SimhashTopK = 5

  /** Banded bucket join over SimHash sketches: verified near-dup pairs
    * with `pred` deciding the id predicate (a<b for the pair listing,
    * a≠b for the symmetric edge list). Band count and width DERIVE
    * from the constants so the pigeonhole guarantee (bands ≥
    * threshold+1, bands tile every sketch bit) survives any future
    * change to SimhashBits or the threshold. */
  /** Generic-sketch entry (multimodal pHash): `sketch` is an arbitrary
    * (doc_id, simhash) relation joined back onto documents for the
    * `source` block key. The text-sketch queries use [[bandedJoinToks]],
    * whose sketch is a map-side projection (no join). */
  private[operators] def bandedJoin(s: SparkSession, dir: String,
      sketch: DataFrame, bits: Int, hammingMax: Int,
      pred: (Column, Column) => Column): DataFrame =
    bandedJoinOf(
      table(s, dir, "documents").select("doc_id", "source")
        .join(sketch, "doc_id"),
      bits, hammingMax, pred)

  private def bandedJoinToks(s: SparkSession, dir: String,
      bits: Int, hammingMax: Int,
      pred: (Column, Column) => Column): DataFrame = {
    graft.plans.TokSketch.register(s)
    // the sketch is a map-side TokSketch projection (round 18), so the
    // former documents ⋈ sketch self-join is now one select — no join,
    // no sketch-side exchanges
    bandedJoinOf(
      table(s, dir, "documents").select(col("doc_id"), col("source"),
        graft.plans.TokSketch.simhashOf(distinctToks, bits).as("simhash")),
      bits, hammingMax, pred)
  }

  private def bandedJoinOf(base: DataFrame,
      bits: Int, hammingMax: Int,
      pred: (Column, Column) => Column): DataFrame = {
    val nBands = hammingMax + 1                             // pigeonhole
    val width = (bits + nBands - 1) / nBands                // tiles all bits
    val mask = (1L << width) - 1
    val bandStructs = array((0 until nBands).map { j =>
      struct(lit(j).as("band"),
        shiftright(col("simhash"), j * width).bitwiseAND(lit(mask))
          .as("bbits"))
    }: _*)
    // Candidate-blocking scope: within-`source` — the contract bound
    // the pair-listing queries document. (The GLOBAL corpus-wide pass
    // lives in [[comboJoin]] from round 11 on: dropping `source` from
    // a 16-bit band key saturates the bucket space once the corpus
    // outgrows 2^16 sketches, which the sf10wide sweep measured as
    // quadratic candidate growth — the wider combination keys are the
    // corpus-scale form.)
    val blockKeys = Seq("source", "band", "bbits")
    val srcCols = Seq(col("source"))
    val d = shared(base
      .select(srcCols ++ Seq(col("doc_id"), col("simhash"),
        explode(bandStructs).as("bs")): _*)
      .select(srcCols ++ Seq(col("doc_id"), col("simhash"),
        col("bs.band").as("band"), col("bs.bbits").as("bbits")): _*))
    def side(idPfx: String) = d.select(
      srcCols ++ Seq(col("band"), col("bbits"),
        col("doc_id").as(s"${idPfx}_id"),
        col("simhash").as(s"${idPfx}_sh")): _*)
    val a = side("a")
    val b = side("b")
    // A qualifying pair collides in every band where its sketch bits
    // agree, so the raw bucket join emits it once PER colliding band —
    // ~nBands× duplication on a near-dup-dense corpus (measured 8.4M
    // rows for ~0.7M distinct edges at sf0.1). Deduplicate WITHOUT an
    // aggregation: both full sketches ride along in the join, so "is
    // this the pair's FIRST colliding band" is pure bit arithmetic —
    // keep the row only when no earlier band's bits also agree. Every
    // surviving row is then globally unique (pigeonhole guarantees ≥1
    // colliding band; exactly one is first), which deletes the
    // 8.4M-row partial agg + exchange + final agg the groupBy(min)
    // needed. The clause chain is static (nBands is a constant), all
    // shifts/masks — stays inside whole-stage codegen, unlike an
    // exists() HOF which would drop the probe loop to CodegenFallback.
    def bandBits(c: Column, j: Int): Column =
      shiftright(c, j * width).bitwiseAND(lit(mask))
    // foldLeft, not reduce: at nBands == 1 (hammingMax = 0) the clause
    // list is empty and reduce would throw at plan-build time; the
    // lit(false) seed makes the single-band case a no-op filter
    val earlierBandCollides = (0 until nBands - 1)
      .map(j => col("band") > j &&
        bandBits(col("a_sh"), j) === bandBits(col("b_sh"), j))
      .foldLeft(lit(false))(_ || _)
    // corpus-scaled self-join over band-bounded bucket keys: salted +
    // explicitly partitioned so neither a stats-driven broadcast (a
    // driver OOM at scale) nor AQE input-byte coalescing (which
    // serialized the Σk² probe stages feeding dedup_cluster_cc /
    // dedup_canonical_pick in round 3) can reshape it.
    SkewJoin.saltedCandidateJoin(a, b, blockKeys,
        leftSaltBy = col("a_id"))
      .filter(pred(col("a_id"), col("b_id")))
      .withColumn("hamming",
        bit_count(col("a_sh").bitwiseXOR(col("b_sh"))).cast(IntegerType))
      .filter(col("hamming") <= hammingMax)
      .filter(!earlierBandCollides)
      .select(col("a_id"), col("b_id"), col("hamming"))
  }

  private def simhashJoin(s: SparkSession, dir: String,
      pred: (Column, Column) => Column): DataFrame =
    bandedJoinToks(s, dir, SimhashBits, SimhashHammingMax, pred)

  /** Near-dup pairs (a_id < b_id, hamming <= 10). */
  private def simhashPairs(s: SparkSession, dir: String): DataFrame =
    simhashJoin(s, dir, _ < _)

  /** GLOBAL-scope near-dup pairs over the PRODUCTION-WIDTH sketch
    * (62-bit, Hamming <= [[Simhash64HammingMax]], 4 pigeonhole-exact
    * 16-bit bands), no `source` in the bucket key — the corpus-wide
    * pass. The width choice is load-bearing, not cosmetic: the loose
    * 31-bit/<=10 demo sketch run globally matches ~99.4% of ALL pairs
    * on this corpus (124,005 of 124,750 at sf0.01 — measured before
    * this was switched), i.e. one giant cluster and a manifest that
    * "dedups" 499 of 500 docs. A corpus-wide pass needs the selective
    * configuration; within-source scoping is what made the loose
    * sketch usable. Superset of the within-source
    * [[simhash64Pairs]] (asserted in DedupOpsSpec). */
  /** Combination-keyed candidate join over a (doc_id, simhash)
    * relation — the GLOBAL-scope candidate generator (see
    * [[Simhash64Blocks]] for the Manku WWW'07 scheme and why the
    * 16-bit banding cannot run corpus-wide). Pigeonhole-exact: every
    * pair within `hammingMax` agrees exactly on >= blocks - hammingMax
    * blocks, so it collides in >= one combination key; exact Hamming
    * then removes false positives, and the first-agreeing-combination
    * clause (same static-bit-arithmetic trick as [[bandedJoin]]'s
    * first-colliding-band — stays in whole-stage codegen) keeps each
    * surviving pair exactly once WITHOUT an aggregation. Returns
    * (a_id, b_id, a_sh, b_sh, hamming); both sketches ride along so
    * callers can expand sketch-level pairs to member pairs. */
  /** The Manku combination-key scheme's bit geometry of the
    * self-join [[comboJoin]]. */
  private case class ComboScheme(bits: Int, hammingMax: Int, blocks: Int) {
    require(blocks > hammingMax, "need more blocks than differing bits")
    private val base = bits / blocks
    private val rem = bits % blocks
    val widths: IndexedSeq[Int] =
      (0 until blocks).map(j => base + (if (j < rem) 1 else 0))
    val offsets: IndexedSeq[Int] = widths.scanLeft(0)(_ + _).init
    def blockBits(c: Column, j: Int): Column =
      shiftright(c, offsets(j)).bitwiseAND(lit((1L << widths(j)) - 1))
    val combos: IndexedSeq[IndexedSeq[Int]] =
      (0 until blocks).combinations(blocks - hammingMax)
        .map(_.toIndexedSeq).toIndexedSeq
    /** (doc_id, simhash) -> one row per combination key. */
    def explodeKeys(sketch: DataFrame): DataFrame = {
      val comboStructs = array(combos.zipWithIndex.map { case (cb, i) =>
        // pack the selected blocks' bits into one long key (<= 32 bits)
        val key = cb.foldLeft(lit(0L))((acc, j) =>
          shiftleft(acc, widths(j)) + blockBits(col("simhash"), j))
        struct(lit(i).as("combo"), key.as("kbits"))
      }: _*)
      sketch
        .select(col("doc_id"), col("simhash"),
          explode(comboStructs).as("cs"))
        .select(col("doc_id"), col("simhash"),
          col("cs.combo").as("combo"), col("cs.kbits").as("kbits"))
    }
    def side(d: DataFrame, p: String): DataFrame =
      d.select(col("combo"), col("kbits"),
        col("doc_id").as(s"${p}_id"), col("simhash").as(s"${p}_sh"))
    /** "an earlier combination's selected blocks also all agree" — the
      * static-bit-arithmetic dedup clause (one surviving row per
      * pair, no aggregation, stays in whole-stage codegen). */
    def earlierComboCollides: Column =
      combos.zipWithIndex.map { case (cb, i) =>
        (col("combo") > i) && cb.map(j =>
            blockBits(col("a_sh"), j) === blockBits(col("b_sh"), j))
          .reduce(_ && _)
      }.foldLeft(lit(false))(_ || _)
    def verify(joined: DataFrame): DataFrame = joined
      .withColumn("hamming",
        bit_count(col("a_sh").bitwiseXOR(col("b_sh"))).cast(IntegerType))
      .filter(col("hamming") <= hammingMax)
      .filter(!earlierComboCollides)
      .select(col("a_id"), col("b_id"), col("a_sh"), col("b_sh"),
        col("hamming"))
  }

  private[graft] def comboJoin(sketch: DataFrame, bits: Int,
      hammingMax: Int, blocks: Int,
      pred: (Column, Column) => Column): DataFrame = {
    val sch = ComboScheme(bits, hammingMax, blocks)
    val d = shared(sch.explodeKeys(sketch))
    sch.verify(
      SkewJoin.saltedCandidateJoin(sch.side(d, "a"), sch.side(d, "b"),
          Seq("combo", "kbits"), leftSaltBy = col("a_id"))
        .filter(pred(col("a_id"), col("b_id"))))
  }

  /** One representative per DISTINCT sketch value: (simhash, rep_id =
    * min member doc_id). The identical-sketch collapse both global
    * passes start from — same-sketch groups are distance-0 duplicate
    * classes (Hamming depends only on the sketch VALUE), and on a
    * duplicate-heavy corpus the quadratic doc-level pair mass lives in
    * GROUP SIZES, not sketch-space structure (round-11 sf10wide
    * measurement at 500k docs / 262,795 distinct sketches: 297M
    * same-sketch pairs plus 1.59B cross-sketch member pairs that
    * expand from just 8.3M sketch-VALUE pairs; max group 22,208
    * docs). Only representatives enter the candidate join; members
    * rejoin by sketch value afterwards. */
  private def sketchReps(sk: DataFrame): DataFrame =
    sk.groupBy("simhash").agg(min(col("doc_id")).as("rep_id"))

  /** Sketch-VALUE near pairs (a_sh < b_sh, plus rep ids): the
    * combination-keyed join over one row per distinct sketch. */
  private def sketchValuePairsGlobal(s: SparkSession, sk: DataFrame)
      : DataFrame =
    comboJoin(sketchReps(sk)
        .select(col("rep_id").as("doc_id"), col("simhash")),
      Simhash64Bits, Simhash64HammingMax, Simhash64Blocks, _ < _)

  /** GLOBAL-scope near-dup doc pairs (a_id < b_id, hamming): the
    * corpus-wide pair LISTING. Work = candidate verification over
    * DISTINCT sketches + an expansion that is proportional to the
    * OUTPUT (same-sketch groups expand to their C(k,2) distance-0
    * pairs; near sketch-value pairs expand to |A| x |B| member pairs)
    * — the information-theoretic floor for a pair listing, whose
    * cardinality is itself Sum k^2 on a duplicate-heavy corpus. The
    * manifest path ([[simhashEdgesGlobal]]) avoids that floor by
    * emitting star edges instead. Output identical to the all-pairs
    * formulation (the DuckDB oracle). */
  private[graft] def simhashPairsGlobal(s: SparkSession, dir: String)
      : DataFrame = {
    val sk = shared(simhash64Sketches(s, dir))
    // distance-0 pairs: all (a<b) within a same-sketch group — salted
    // on the skewed simhash key, output-bound by construction. Salt =
    // the session's parallelism, NOT the default 8: one hot sketch
    // group (22k docs at sf10wide) alone emits C(k,2) ≈ 245M pairs,
    // so its chain must spread over every core, and the replication
    // cost (sketch rows, two longs) is noise next to the output
    val wideSalt = SkewJoin.defaultParts(s)
    val same = SkewJoin.saltedCandidateJoin(
        sk.select(col("simhash"), col("doc_id").as("a_id")),
        sk.select(col("simhash"), col("doc_id").as("b_id")),
        Seq("simhash"), leftSaltBy = col("a_id"), salt = wideSalt)
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        lit(0).cast(IntegerType).as("hamming"))
    // cross-sketch pairs: sketch-value pairs expanded to members — the
    // same duplicate-chain candidate shape as the joins above (a hot
    // sketch's 22k members all hash to ONE a_sh key), so both
    // expansions go through the salted join: chains spread over salt
    // sub-keys and the strategy/layout is pinned, scale-invariant for
    // the plan-shape gate. Pair order is by doc id, not by sketch,
    // hence least/greatest.
    val cross = SkewJoin.saltedCandidateJoin(
        sketchValuePairsGlobal(s, sk)
          .select(col("a_sh"), col("b_sh"), col("hamming")),
        sk.select(col("simhash").as("a_sh"), col("doc_id").as("x")),
        Seq("a_sh"), leftSaltBy = col("b_sh"), salt = wideSalt)
    val expanded = SkewJoin.saltedCandidateJoin(
        cross,
        sk.select(col("simhash").as("b_sh"), col("doc_id").as("y")),
        Seq("b_sh"), leftSaltBy = col("x"), salt = wideSalt)
      .select(least(col("x"), col("y")).as("a_id"),
        greatest(col("x"), col("y")).as("b_id"), col("hamming"))
    same.unionByName(expanded)
  }

  /** GLOBAL symmetric edge list — what [[queries]]' `pipeline_dedup`
    * (and pipeline_full's dedup leg) consume from round 10 on: a doc
    * duplicated across two crawls now lands in one cluster and one
    * copy survives the canonical pick. STAR-REDUCED from round 11 on:
    * same-sketch members connect to their representative (exact —
    * distance-0 is an equivalence class) and only representatives
    * enter the candidate join, so |E| is linear in the corpus plus the
    * sketch-value near-pair count instead of Sum k^2 over duplicate
    * group sizes. Connected components are IDENTICAL to the all-pairs
    * edge set's (any member path a~b becomes a <= L+2 path through the
    * reps), which is all the CC consumers read — run them with
    * [[ccPsLoop]] at [[StarCcPairs]]. At sf10wide this replaced
    * ~600M doc-level edges
    * with 0.5M star + 17M rep edges and turned an
    * AGGREGATE_OUT_OF_MEMORY into a linear pass (docs/SCALE.md round
    * 11). */
  private[graft] def simhashEdgesGlobal(s: SparkSession, dir: String)
      : DataFrame =
    edgesFromSketches(shared(simhash64Sketches(s, dir)))

  /** The star-reduced symmetric edge relation over an explicit
    * (doc_id, simhash) relation — [[simhashEdgesGlobal]]'s core,
    * factored so the incremental operator can run it over the corpus
    * and batch partitions separately. */
  private[graft] def edgesFromSketches(sk: DataFrame): DataFrame = {
    // one rep aggregation, shared: the star join AND the rep-level
    // combo join both read it — un-persisted, each reference would run
    // its own distinct-sketch aggregate over the corpus (round 18; the
    // cache is one (simhash, rep_id) row per DISTINCT sketch, narrower
    // than the already-cached sk relation it derives from)
    val reps = shared(sketchReps(sk))
    // member -> rep lookup: one row per key on the reps side; the
    // shuffle_hash hint keeps the plan scale-invariant (reps are
    // corpus-scaled — a stats-driven broadcast here would be a driver
    // OOM at real scale)
    val stars = sk.hint("shuffle_hash").join(reps, "simhash")
      .filter(col("doc_id") =!= col("rep_id"))
      .select(col("doc_id").as("n"), col("rep_id").as("m"))
    val starsSym = stars.unionByName(
      stars.select(col("m").as("n"), col("n").as("m")))
    val repEdges = comboJoin(reps
        .select(col("rep_id").as("doc_id"), col("simhash")),
      Simhash64Bits, Simhash64HammingMax, Simhash64Blocks, _ =!= _)
      .select(col("a_id").as("n"), col("b_id").as("m"))
    starsSym.unionByName(repEdges)
  }

  /** BOUNDED global near-dup report: each document's top-K nearest
    * neighbors by sketch Hamming distance (ties by neighbor id) among
    * all docs within Hamming <= [[Simhash64HammingMax]] of it,
    * corpus-wide — the report a 100 TB user actually consumes where
    * the full pair listing ([[simhashPairsGlobal]]) is output-bound
    * (Σk² pairs on a duplicate-heavy corpus; 1.9e11 at sf100wide).
    * Output <= n·K rows, and the WORK is bounded the same way by
    * ranking at the SKETCH level before any member expansion:
    *
    *  1. per distinct sketch, the K+1 lowest member doc_ids (`topm`) —
    *     any member's top-K same-sketch neighbors lie within these
    *     (everything ranks (0, id), a member beyond the K+1 lowest has
    *     >= K+1 strictly better candidates of which at most one is the
    *     doc itself);
    *  2. sketch-VALUE near pairs from [[comboJoin]] over distinct
    *     sketches (both directions);
    *  3. per-sketch candidate POOL: own members at distance 0 plus
    *     near sketches' `topm` at their Hamming distance, ranked by
    *     (distance, cand_id) and cut to K+1 — exact by the same
    *     argument: a candidate outside the pool's top K+1 has >= K+1
    *     better candidates, at most one of which is the doc itself,
    *     so it can never enter any member's top-K;
    *  4. members join their sketch's <= K+1 pool rows (salted — the
    *     sketch key is the canonical skewed key), drop self, rank
    *     per doc, keep K.
    *
    * So the quadratic term lives only in the sketch-value graph (the
    * same place the manifests put it) and every doc-level relation is
    * <= n·(K+1) rows. Exactness vs the brute-force per-doc top-K is
    * the DuckDB oracle; docs with NO neighbor within the threshold are
    * absent by contract (their pool is only themselves). */
  private[graft] def simhashTopKGlobal(s: SparkSession, dir: String,
      k: Int = SimhashTopK): DataFrame =
    simhashTopKGlobalOf(simhash64Sketches(s, dir), k)

  /** The operator core over an explicit (doc_id, simhash) relation —
    * factored (round 13) so the prescribed-degree hub corpus (test
    * fixture `ScaleData.hubSketchesDf`) and its brute-force spec can
    * drive the IDENTICAL plan with a synthetic sketch graph: a true
    * 10k-near-value hub cannot arise from document text (near-dup text
    * collapses to equal/near sketch VALUES — that is the sketch's
    * purpose — and only a template's low-margin bits are reachable by
    * token edits; measured ceiling ~520 distinct near values whatever
    * the template length), so the degree-adversarial evidence is
    * sketch-level by necessity. */
  private[graft] def simhashTopKGlobalOf(sketches: DataFrame,
      k: Int = SimhashTopK): DataFrame = {
    val sk = shared(sketches)
    val byId = Window.partitionBy("simhash").orderBy("doc_id")
    val topm = shared(sk
      .withColumn("rk", row_number().over(byId))
      .filter(col("rk") <= k + 1)
      .select(col("simhash"), col("doc_id").as("cand_id")))
    val near = comboJoin(sketchReps(sk)
        .select(col("rep_id").as("doc_id"), col("simhash")),
      Simhash64Bits, Simhash64HammingMax, Simhash64Blocks, _ =!= _)
    val selfPool = topm.select(col("simhash"),
      lit(0).cast(IntegerType).as("hamming"), col("cand_id"))
    // prune the near-sketch list per sketch BEFORE any member
    // expansion (round-12 sf100wide lesson: expanding ALL near
    // sketch pairs by K+1 members put 1.5B rows through the pool
    // window at 5M docs — 33x/decade against the edge band's 23x).
    // Rank A's near sketches by the BEST entry each can offer — that
    // is (hamming, rep(B)), because rep(B) IS B's minimum member id
    // (comboJoin's b_id) — and keep K+1. Exact by the same argument
    // as the pool cut: if B is not among the K+1 best-by-first-entry
    // sketches, K+1 sketches each offer an entry strictly better
    // than ANYTHING B offers, at most one of those K+1 entries is
    // the probe doc itself, so no member of B can enter any doc's
    // top-K. The window input is the sketch-pair relation itself
    // (the irreducible sketch-graph term the manifests also pay) and
    // Spark's WindowGroupLimit cuts it to K+1 per sketch map-side
    // before the exchange; the member expansion then joins
    // (K+1 near) x (K+1 members) per sketch instead of
    // (all near) x (K+1).
    val byBest = Window.partitionBy("a_sh")
      .orderBy(col("hamming"), col("b_id"))
    val nearTop = near
      .withColumn("nrk", row_number().over(byBest))
      .filter(col("nrk") <= k + 1)
      .select(col("a_sh").as("simhash"), col("hamming"), col("b_sh"))
    val crossPool = nearTop
      .join(topm.select(col("simhash").as("b_sh"), col("cand_id"))
          .hint("shuffle_hash"),
        "b_sh")
      .select(col("simhash"), col("hamming"), col("cand_id"))
    val poolW = Window.partitionBy("simhash")
      .orderBy(col("hamming"), col("cand_id"))
    val pool = selfPool.unionByName(crossPool)
      .withColumn("prk", row_number().over(poolW))
      .filter(col("prk") <= k + 1)
      .select(col("simhash"), col("hamming"), col("cand_id"))
    val docW = Window.partitionBy("doc_id")
      .orderBy(col("hamming"), col("cand_id"))
    SkewJoin.saltedCandidateJoin(
        sk.select(col("doc_id"), col("simhash")), pool,
        Seq("simhash"), leftSaltBy = col("doc_id"))
      .filter(col("cand_id") =!= col("doc_id"))
      .withColumn("nbr_rank", row_number().over(docW))
      .filter(col("nbr_rank") <= k)
      .select(col("doc_id"), col("nbr_rank"), col("cand_id").as("nbr_id"),
        col("hamming"))
      .orderBy("doc_id", "nbr_rank")
  }

  /** Production-width pairs: 62-bit sketch, 4 bands of 16 bits,
    * Hamming <= [[Simhash64HammingMax]] — the selective configuration a
    * real corpus runs ([[SimhashHammingMax]]=10/31 needs 11 one-to-
    * three-bit bands, which bucket weakly; 3/62 gets 16-bit bands).
    * Same pigeonhole-exact banding, asserted vs all-pairs in
    * DedupOpsSpec. */
  private[graft] def simhash64Pairs(s: SparkSession, dir: String): DataFrame =
    bandedJoinToks(s, dir, Simhash64Bits, Simhash64HammingMax, _ < _)

  /** Symmetric near-dup edges (n, m): both directions in one pass. */
  private def simhashEdges(s: SparkSession, dir: String): DataFrame =
    simhashJoin(s, dir, _ =!= _)
      .select(col("a_id").as("n"), col("b_id").as("m"))

  /** One synchronous min-label-propagation pass over a self-looped
    * symmetric edge relation `selfEdges(n, m)` (every node carries its
    * (v, v) loop): new_label(v) = min over (v, m) edges of old_label(m)
    * — the self-loop folds "keep my own label" into the same min, so
    * the previous labels are referenced exactly ONCE per round and the
    * unrolled chain stays a linear plan (no per-round branch doubling,
    * no per-round cache barrier). One equi-join + one min agg — linear
    * in |E|, no arrays, exact associative integer work. */
  private[graft] def ccRound(labels: DataFrame, selfEdges: DataFrame)
      : DataFrame =
    selfEdges
      // build side = the node-sized label relation, pinned: a broadcast
      // of labels is corpus-sized at scale (one row per doc), and the
      // pin also keeps every round's plan identical regardless of
      // which caches have materialized (round-3 warm-plan flips)
      .join(labels.select(col("doc_id").as("m"), col("cluster").as("mc"))
          .hint("shuffle_hash"),
        "m")
      .groupBy("n").agg(min(col("mc")).as("cluster"))
      .withColumnRenamed("n", "doc_id")

  /** Symmetric edges plus a (v, v) loop per node — the propagation
    * relation [[ccRound]] consumes. */
  private[graft] def withSelfLoops(nodes: DataFrame, edges: DataFrame)
      : DataFrame =
    edges.unionByName(
      nodes.select(col("doc_id").as("n"), col("doc_id").as("m")))

  /** Bounded-diameter connected components over the SimHash edge set
    * (see the `dedup_cluster_cc` entry in [[queries]]). The symmetric
    * edge list comes from ONE pass of the bucket join (filter a≠b
    * instead of a&lt;b then union-swap), so the sketch/bucket subplan is
    * referenced once per propagation round, not twice. */
  def dedupClusterCC(s: SparkSession, dir: String,
      rounds: Int = CcRounds): DataFrame = {
    // The (self-looped) edge list is referenced once per round: without
    // `shared`, the plan would re-derive the whole SimHash edge
    // pipeline per round (~100 parquet scans at 3 rounds in round 2).
    // With it, edges materialize once and the unrolled rounds are a
    // linear chain of join+agg over the cached relation — which is what
    // makes 5 rounds affordable.
    //
    // k rounds are exact for components of diameter <= k (the min label
    // travels one hop per round); components of larger diameter
    // under-merge. For corpora whose duplicate chains may exceed
    // CcRounds, [[ccPsLoop]] runs to a certified fixpoint — the
    // unrolled form here is the oracle-checkable contract configuration.
    ccRouted(s, dir, rounds).orderBy("doc_id")
  }

  /** The contract CC labels of `dedup_cluster_cc` and
    * `dedup_canonical_pick`: `rounds` min-label rounds over the
    * documents and their SimHash edges, in one task ([[ccOneTask]])
    * when [[ccFitsOneTask]] holds for the documents' footer row count
    * ([[footerRows]], driver IO only, stopped past the bound), else as
    * the relational chain ([[ccUnrolled]]). Both give the same labels. */
  private def ccRouted(s: SparkSession, dir: String, rounds: Int)
      : DataFrame = {
    val nodes = table(s, dir, "documents").select("doc_id")
    val edges = simhashEdges(s, dir)
    if (ccFitsOneTask(footerRows(s, dir, "documents", CcOneTaskDocs)))
      ccOneTask(nodes, edges, rounds)
    else ccUnrolled(nodes, edges, rounds)
  }

  /** Whether `nodeRows` documents take the one-task CC kernel: at most
    * [[CcOneTaskDocs]]. Above it the rounds stay relational, the only
    * path for inputs one task cannot hold. */
  private[graft] def ccFitsOneTask(nodeRows: Long): Boolean =
    nodeRows <= CcOneTaskDocs

  /** Documents up to which the contract rounds run in one task. The task
    * holds the loop rows, |E| + n, and n documents give at most n² of
    * them (every pair an edge), so the bound covers the worst case too.
    * Measured on 4 cores with a 2 GB heap (`CcCrossover`, SCALE.md): on
    * sf0.1's 5,000 documents (1.24M loop rows) the kernel beat the
    * relational chain, 1.69 s to 2.01 s; the 25M loop rows of 5,000
    * documents whose every pair is an edge completed in it, 2x slower
    * than the chain. Synthetic graphs put the crossover near 5M rows. */
  private val CcOneTaskDocs = 5000L

  /** [[ccUnrolled]]'s labels from one task of fixed Scala code: the
    * rows of [[withSelfLoops]], each flagged as a node's loop or an
    * edge, go through one exchange into one partition, and
    * [[ccLocalRounds]] runs the `rounds` synchronous rounds on primitive
    * arrays. Lazy, and no round compiles a class of its own: at
    * contract scale the relational chain's cost is its jobs (two
    * exchanges and an aggregate per round), not its data. The flag is
    * what a bare self-loop cannot say: whether `v` starts labelled, or
    * is an explicit (v, v) edge whose `v` is missing from `nodes`. */
  private[graft] def ccOneTask(nodes: DataFrame, edges: DataFrame,
      rounds: Int): DataFrame = {
    val s = nodes.sparkSession
    import s.implicits._
    edges.select(col("n"), col("m"), lit(false).as("node"))
      .unionByName(nodes.select(col("doc_id").as("n"),
        col("doc_id").as("m"), lit(true).as("node")))
      .repartition(1)
      .as[(java.lang.Long, java.lang.Long, Boolean)]
      .mapPartitions(rows => ccLocalRounds(rows, rounds))
      .toDF("doc_id", "cluster")
  }

  /** `rounds` synchronous min-label rounds over rows (n, m, node), the
    * relational semantics of [[ccUnrolled]] exactly: the nodes start
    * labelled with their own id, and each round label'(n) = min of
    * label(m) over the rows (n, m) whose `m` has a label — an `n` with
    * no labelled `m` has no label, whether or not it is a node. A null
    * `m` never matches, and the null `n` is one more group, as in the
    * join and the `groupBy`. Round 0 returns the node rows as given.
    * Memory is primitive arrays only: the rows' ids once as longs, then
    * an int index pair per row and two labels per distinct id. */
  private def ccLocalRounds(
      rows: Iterator[(java.lang.Long, java.lang.Long, Boolean)],
      rounds: Int): Iterator[(java.lang.Long, java.lang.Long)] =
    if (rounds == 0) rows.collect { case (v, _, true) => (v, v) }
    else {
      val (nm, seeds, nullNs) = ccLocalRows(rows)
      // the distinct ids, sorted: a row's endpoints become positions
      val ids = {
        val v = nm.clone()
        java.util.Arrays.sort(v)
        var k = 0
        for (i <- v.indices) if (k == 0 || v(i) != v(k - 1)) {
          v(k) = v(i); k += 1
        }
        java.util.Arrays.copyOf(v, k)
      }
      def at(v: Long) = java.util.Arrays.binarySearch(ids, v)
      val nmi = nm.map(at) // n at 2e, m at 2e + 1
      val nullMi = nullNs.map(at)
      var (label, has) = (new Array[Long](ids.length),
        new Array[Boolean](ids.length))
      var (next, nextHas) = (new Array[Long](ids.length),
        new Array[Boolean](ids.length))
      seeds.foreach { v => label(at(v)) = v; has(at(v)) = true }
      var nullLabel = Option.empty[Long]
      for (_ <- 1 to rounds) {
        // synchronous: every row reads the previous round's labels
        java.util.Arrays.fill(nextHas, false)
        var e = 0
        while (e < nmi.length) {
          val (n, m) = (nmi(e), nmi(e + 1))
          if (has(m) && (!nextHas(n) || label(m) < next(n))) {
            next(n) = label(m); nextHas(n) = true
          }
          e += 2
        }
        nullLabel = nullMi.filter(i => i >= 0 && has(i)).map(label).minOption
        val (l, h) = (label, has)
        label = next; has = nextHas; next = l; nextHas = h
      }
      ids.indices.iterator.filter(has)
        .map(i => (Long.box(ids(i)), Long.box(label(i)))) ++
        nullLabel.iterator.map(l => (null: java.lang.Long, Long.box(l)))
    }

  /** [[ccLocalRounds]]'s input as primitive arrays: the (n, m) rows
    * with both ids, interleaved; the node ids, which start labelled;
    * and the `m` of each row whose `n` is null. A null `m` never
    * matches, so its row is dropped. */
  private def ccLocalRows(
      rows: Iterator[(java.lang.Long, java.lang.Long, Boolean)])
      : (Array[Long], Array[Long], Array[Long]) = {
    val (nm, seeds, nullNs) = (new mutable.ArrayBuilder.ofLong,
      new mutable.ArrayBuilder.ofLong, new mutable.ArrayBuilder.ofLong)
    rows.foreach { case (n, m, node) =>
      if (m != null) {
        if (node) seeds += m
        if (n == null) nullNs += m else { nm += n; nm += m }
      }
    }
    (nm.result(), seeds.result(), nullNs.result())
  }

  /** The unrolled propagation core of [[dedupClusterCC]] over an
    * explicit (nodes, edges) pair — also the unit PlanShapeSpec holds
    * the partition-once/labels-only-shuffle assertion against (tiny
    * synthetic edges keep the plan string un-truncated). Pure lazy:
    * at [[CcRounds]] the chain is short enough that nested-plan
    * analysis cost never shows, and the lazy shape keeps the plan-pin
    * specs byte-stable. Deep chains belong to [[ccPsLoop]]. */
  private[graft] def ccUnrolled(nodes: DataFrame, edges: DataFrame,
      rounds: Int): DataFrame = {
    // hash-partition the cached edges on the join key ONCE, with an
    // EXPLICIT partition count (a user-specified exchange AQE never
    // coalesces — the cached layout must not depend on runtime stats):
    // the InMemoryRelation keeps its partitioning, so every round's
    // join shuffles only the (node-sized) label relation, never the
    // edges — the partition-once/join-many shape an iterative
    // algorithm needs at scale
    // KNOWN Spark 4.1 limitation, measured round 18: consumers insert
    // an ENSURE_REQUIREMENTS exchange over this cache every round even
    // though it is explicitly hash-partitioned on m — InMemoryTableScan
    // does not expose the cached REPARTITION_BY_NUM partitioning at
    // planning time (repro'd standalone; canChangeCachedPlanOutput-
    // Partitioning=false at persist AND at consumer planning both
    // leave the exchange, and the session-wide flip regressed
    // dedup_winnow 2-4x). The partition-once property at scale lives
    // in the EAGER loop (ccPsLoop), whose localCheckpoint handoff
    // preserves LogicalRDD partitioning — the lazy contract chain
    // keeps the per-round node-sized label exchange plus this
    // edge-sized one (OPTIMIZATION_r18.md, measured-and-rejected).
    val selfEdges = shared(withSelfLoops(nodes, edges)
      .repartition(SkewJoin.defaultParts(nodes.sparkSession), col("m")))
    var labels = nodes.select(col("doc_id"), col("doc_id").as("cluster"))
    for (_ <- 1 to rounds)
      labels = ccRound(labels, selfEdges)
    labels
  }

  /** One pointer-jumping (shortcut) pass: new_label(v) =
    * label(label(v)) — the Shiloach–Vishkin / FastSV contraction step.
    * Labels always hold a node id (they start as doc_id and every pass
    * takes a min over node ids), so the composition is total: each
    * cluster value has exactly one label row and the inner equi-join
    * rewrites every node. Labels also only ever DECREASE
    * (label(u) <= u by induction), so the jump is monotone — it can
    * only move v's label closer to its component minimum, never past
    * it or out of the component. One node-sized equi-join, no
    * aggregation, no edge relation touched. */
  private def ccShortcut(labels: DataFrame): DataFrame =
    labels
      .join(labels.select(col("doc_id").as("c"), col("cluster").as("cc"))
          .hint("shuffle_hash"),
        col("cluster") === col("c"))
      .select(col("doc_id"), col("cc").as("cluster"))

  /** Loop rows per partition in [[ccPsLoop]]: 2M rows of 2–3 longs is
    * about 50 MB, inside the "fewer, larger partitions" range. */
  private val CcRowsPerPart = 2000000L

  /** [[ccPsLoop]]'s partition count for `rows` loop rows: one partition
    * per [[CcRowsPerPart]] rows, at least 1 and at most the session's
    * `defaultParts`. The loop's unit of work is a label join over
    * max(|E| + n, n) rows of 2–3 longs; at contract scale that is a few
    * MB, yet every segment ran at the session's 32 shuffle partitions —
    * ~50 stages × 32 tasks of sub-ms work per manifest, measured as the
    * dominant cost of the pipeline family (pipeline_full 14.7 s warm at
    * 32 parts vs 4.5 s at 4, OPTIMIZATION_r17.md). At deployment row
    * counts the rule saturates to `defaultParts`. */
  private[graft] def ccLoopParts(rows: Long, defaultParts: Int): Int =
    math.max(1L, math.min(defaultParts.toLong,
      (rows + CcRowsPerPart - 1) / CcRowsPerPart)).toInt

  /** Min-label connected components with shortcutting, run eagerly to a
    * certified fixpoint or to `maxPairs` segments — the one CC loop
    * behind `pipeline_dedup` and `pipeline_full`. Each (P,S) segment
    * is one propagate ([[ccRound]]) and [[StarCcJumps]] shortcuts
    * ([[ccShortcut]]):
    * hooking + shortcutting, the FastSV schedule (Zhang, Azad & Buluç
    * 2020; Shiloach–Vishkin 1982). On a monotone-id chain each segment
    * doubles covered distance (a 64-path converges in 7 segments); on
    * adversarial shuffled-id chains the jump target is the ball MINIMUM
    * rather than the ball edge, and the gain is a ~2.2x constant factor
    * in rounds (see [[StarCcPairs]]). Either way the shortcut never
    * touches the edge relation, so the schedule halves the edge-join
    * rounds needed for the same diameter coverage. The edge relation is
    * hash-partitioned on `m` and checkpointed ONCE; each segment
    * shuffles only node-sized label relations (2 longs/doc).
    *
    * Each segment is ONE job: the propagate output is lazily
    * local-checkpointed (the shortcut reads it twice, and
    * un-materialized it would execute the edge join twice), and the
    * segment's output is `localCheckpoint`ed, which truncates lineage
    * so every segment's plan is constant-size — the GraphX/Pregel
    * per-superstep persist. The segments run with
    * AQE off in a CLONED session (body comment): each is a fixed-shape
    * label join whose strategy the explicit repartition and
    * shuffle_hash hints already pin, and per-segment AQE re-planning
    * was the measured dominant cost of the sf0.1 manifests (most of
    * pipeline_full's 16 s was driver work between stages).
    *
    * The convergence certificate rides each segment's checkpoint job
    * as observed metrics — row count and label sum — so it costs no
    * job of its own; the input row counts and the seed certificate
    * ride the two input checkpoint jobs the same way. Labels are per-node NON-INCREASING under both
    * steps (propagate's min includes the node's own label via the
    * self-loop; the jump is monotone, label(label(v)) <= label(v)), so
    * the exact sum strictly decreases unless no label changed, and an
    * unchanged sum certifies the true fixpoint (after one no-change
    * segment every later segment is the identity). Returns (labels,
    * segments run INCLUDING the certifying no-change segment,
    * converged).
    *
    * Oracle parity is schedule-exact: post-fixpoint segments are the
    * identity, so early-exit labels equal the oracle's full
    * [[StarCcPairs]]-pair CTE whenever the oracle converges within its
    * pairs, and a corpus that needs MORE than `maxPairs` segments gets
    * the identical bounded schedule in both engines (hash parity cannot
    * catch that under-merge; PipelineOpsSpec pins convergence on the
    * gate corpus). The contract callers run these labels-only jobs
    * (never text) during query construction and carry a documented
    * LazinessSpec exemption. */
  private[graft] def ccPsLoop(nodes: DataFrame, edges: DataFrame,
      maxPairs: Int): (DataFrame, Int, Boolean) = {
    val origin = nodes.sparkSession
    // Materialize both loop inputs under the CALLER's session/conf,
    // then run the fixed-shape segments in a CLONED session with AQE
    // off: flipping `spark.sql.adaptive.enabled` on the caller's
    // session would let any concurrent query on it run with AQE off,
    // and racing restores could leave it flipped. The clone shares the
    // SparkContext and block manager (localCheckpoints and frees cross
    // the boundary untouched) but owns its conf, so the flip is
    // invisible outside the loop — asserted by a concurrent-poll spec
    // over `pipeline_dedup` in DedupOpsSpec. The two checkpointed
    // inputs cross via GLOBAL temp views.
    //
    // Certificate sum in DECIMAL(38,0), not LONG: a long sum over
    // arbitrary 64-bit doc ids can wrap, and a wrapped collision would
    // falsely certify convergence. decimal(38,0) holds n·2^63 exactly
    // to n ≈ 1.08e19 docs; past that Spark yields NULL, which fails
    // LOUD below instead of comparing equal. Empty
    // node sets are a genuine (trivially converged) zero, told apart
    // from overflow by the row count in the same aggregate.
    val cert = Seq(count(lit(1)).as("n"),
      sum(col("cluster").cast(DecimalType(38, 0))).as("s"))
    def certOf(r: Row): java.math.BigDecimal =
      if (r.getLong(0) == 0L) java.math.BigDecimal.ZERO
      else Option(r.getDecimal(1)).getOrElse(
        throw new IllegalStateException(
          "ccPsLoop: label-sum certificate overflowed decimal(38,0) " +
            "— corpus beyond the 1e19-doc id-sum bound; the fixpoint " +
            "certificate cannot be trusted"))
    // the row counts and the seed labels' certificate ride the two
    // input checkpoint jobs: the seed's cluster column is doc_id
    val (eIn, eObs) =
      checkpointObserving(withSelfLoops(nodes, edges), Seq(count(lit(1))))
    val tag = java.util.UUID.randomUUID().toString.replace("-", "")
    val (vE, vL) = (s"graft_cc_e_$tag", s"graft_cc_l_$tag")
    val gdb = origin.conf.get("spark.sql.globalTempDatabase", "global_temp")
    // whichever edge checkpoint is live, and the seed labels once they
    // exist; the finally frees both on every path, so a failure
    // anywhere below, the seed's own checkpoint job included, leaks
    // neither
    var eLive = eIn
    var l0Opt: Option[DataFrame] = None
    var scopedOpt: Option[SparkSession] = None
    var segments = 0
    var ok = false
    try {
      val (l0, l0Obs) = checkpointObserving(
        nodes.select(col("doc_id"), col("doc_id").as("cluster")), cert)
      l0Opt = Some(l0)
      val (eRows, nRows) = (eObs.getLong(0), l0Obs.getLong(0))
      val parts = ccLoopParts(math.max(eRows, nRows),
        SkewJoin.defaultParts(origin))
      // GLOBAL temp views cross the session boundary (plain temp views
      // are per-session, and SparkSession.cloneSession is private[sql]);
      // UUID-named, dropped in the finally. newSession() + a runtime-conf
      // copy is the public-API clone: every modifiable conf the caller
      // has set (shuffle partitions, timezone, AQE) carries over, then
      // only the clone's AQE and shuffle partitions change.
      eIn.createOrReplaceGlobalTempView(vE)
      l0.createOrReplaceGlobalTempView(vL)
      val scoped = origin.newSession()
      scopedOpt = Some(scoped)
      origin.conf.getAll.foreach { case (k, v) =>
        // isModifiable instead of try/catch: a long-lived session carries
        // hundreds of static entries, and per-key exception construction
        // was measurable per-loop overhead
        if (scoped.conf.isModifiable(k)) scoped.conf.set(k, v)
      }
      scoped.conf.set("spark.sql.adaptive.enabled", "false")
      scoped.conf.set("spark.sql.shuffle.partitions", parts.toString)
      // The edge layout every segment's propagate reads: shuffled ONCE
      // on `m`, to the count the row count sets ([[ccLoopParts]]), and
      // checkpointed in the clone. With AQE off the checkpoint records
      // that hash partitioning; under AQE it records
      // UnknownPartitioning, and every segment would re-shuffle the
      // edges. Every relation the segments read carries a row-count estimate
      // ([[withRowCountStats]]); the inherited ones multiply per
      // segment, and at one partition a single-partition input past
      // `spark.sql.maxSinglePartitionBytes` is re-shuffled — the edges
      // included.
      val e = withRowCountStats(scoped.table(s"$gdb.$vE")
        .repartition(parts, col("m")).localCheckpoint(), eRows)
      eLive = e
      freeLocalCheckpoint(eIn)
      var labels = scoped.table(s"$gdb.$vL")
      var prevSum = certOf(l0Obs)
      var converged = false
      while (!converged && segments < maxPairs) {
        // Each shortcut reads its input twice. A LAZY local checkpoint
        // gives both reads one RDD, computed once inside the segment's
        // job; a persisted Dataset does not: the self-join re-instances
        // the right side's plan, and over the hash-partitioned edge
        // checkpoint the re-instanced plan no longer matches the cache
        // entry, so the propagate would run twice. Every label relation
        // has one row per node.
        var step = ccRound(labels, e)
        val intermediates = scala.collection.mutable.Buffer.empty[DataFrame]
        for (_ <- 1 to StarCcJumps) {
          val p = withRowCountStats(step.localCheckpoint(eager = false),
            nRows)
          intermediates += p
          step = ccShortcut(p)
        }
        val (next, observed) = checkpointObserving(step, cert)
        // no reader once the checkpoint has materialized the segment
        intermediates.foreach(freeLocalCheckpoint)
        segments += 1
        val s2 = certOf(observed)
        converged = s2.compareTo(prevSum) == 0
        prevSum = s2
        // previous segment's labels: last read was ccRound above
        freeLocalCheckpoint(labels)
        labels = withRowCountStats(next, observed.getLong(0))
      }
      ok = true
      (labels, segments, converged)
    } finally {
      // the edge relation's last read is the final segment's propagate;
      // the seed labels were superseded by the first segment's output
      // unless no segment ran, and are freed via the ORIGIN handle (the
      // clone's view wrapper is not a LogicalRDD root)
      freeLocalCheckpoint(eLive)
      if (!ok || segments > 0) l0Opt.foreach(freeLocalCheckpoint)
      scopedOpt.foreach { scoped =>
        // the returned labels Dataset belongs to the clone: restore its
        // AQE and shuffle partitions to the caller's current values so
        // anything a caller chains onto the result (cluster window,
        // final sort) plans under identical conf values
        scoped.conf.set("spark.sql.adaptive.enabled",
          origin.conf.get("spark.sql.adaptive.enabled", "true"))
        origin.conf.getOption("spark.sql.shuffle.partitions") match {
          case Some(v) => scoped.conf.set("spark.sql.shuffle.partitions", v)
          case None => scoped.conf.unset("spark.sql.shuffle.partitions")
        }
      }
      // dropGlobalTempView is a no-op false when the view was never
      // created — safe on every failure path
      origin.catalog.dropGlobalTempView(vE)
      origin.catalog.dropGlobalTempView(vL)
    }
  }

  /** `localCheckpoint` `df` and read the aggregates `metrics` off that
    * same job as observed metrics: one job, no second pass over the
    * rows. The read is synchronous — the checkpoint action has
    * completed, so CollectMetricsExec's accumulator already holds the
    * row (an Observation waits on the listener bus, measured at ~2 s
    * per [[ccPsLoop]] segment at sf0.1). Throws if the row is missing. */
  private[graft] def checkpointObserving(df: DataFrame,
      metrics: Seq[Column]): (DataFrame, Row) = {
    val name = "graft_obs_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    val observed = df.observe(name, metrics.head, metrics.tail: _*)
    val ck = observed.localCheckpoint()
    val row = observed.queryExecution.observedMetrics.getOrElse(name,
      throw new IllegalStateException(
        s"observed metrics $name did not arrive with the checkpoint job"))
    (ck, row)
  }

  /** The local checkpoint `ck`, holding `rows` rows, with a size
    * estimate of `rows` times Spark's per-row width for its schema. A
    * local checkpoint otherwise keeps the estimate of the plan it was
    * computed from, and a join's default estimate is the product of
    * its inputs', so relations re-derived through joins iteration
    * after iteration — the CC loop's labels — would multiply their
    * estimate every iteration. The estimate matters to
    * the plan: a single-partition input is shuffled anyway once its
    * estimate passes `spark.sql.maxSinglePartitionBytes`. */
  private[graft] def withRowCountStats(ck: DataFrame, rows: Long)
      : DataFrame = {
    val session =
      ck.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val lr = ck.queryExecution.analyzed
      .asInstanceOf[org.apache.spark.sql.execution.LogicalRDD]
    val stats = org.apache.spark.sql.catalyst.plans.logical.Statistics(
      sizeInBytes = org.apache.spark.sql.catalyst.plans.logical
        .statsEstimation.EstimationUtils.getOutputSize(lr.output, rows),
      rowCount = Some(BigInt(rows)))
    new org.apache.spark.sql.classic.Dataset[Row](session,
      lr.copy()(session, Some(stats), None),
      org.apache.spark.sql.Encoders.row(ck.schema))
  }

  /** Release a `localCheckpoint`ed relation's storage blocks (ADVICE
    * r12: [[ccPsLoop]] retained every segment's and every jump's
    * node-sized checkpoint until GC-driven ContextCleaner reclaim —
    * linear growth in segments × jumps; at deployment scale, billions
    * of label rows × ~24–68 dead copies). Unpersisting a local
    * checkpoint destroys its ONLY copy — callers must guarantee the
    * relation has no later reader (the loop's invariant: only the
    * newest labels relation is ever read again). No-op on plans that
    * are not a materialized checkpoint, so a refactor that drops the
    * checkpoint upstream degrades to the old GC behavior rather than
    * breaking. */
  private[graft] def freeLocalCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }

  private lazy val dedupNearOracle: String =
    s"""WITH t AS ($tokSetsSql)
       |SELECT a.doc_id AS a_id, b.doc_id AS b_id, $jaccardSql AS jaccard
       |FROM t a JOIN t b ON a.source = b.source AND a.doc_id < b.doc_id
       |WHERE $jaccardSql >= 0.6
       |ORDER BY a_id, b_id""".stripMargin

  def oracleSql: Map[String, String] = {
    val minCols = (0 until MinhashK)
      .map(j => s"min(${permuteSql(j, "base")}) AS m$j").mkString(", ")
    val bandSelects = (0 until Bands).map { b =>
      val key = (0 until RowsPerBand).map(r => s"m${b * RowsPerBand + r}")
        .mkString(" || '-' || ")
      s"SELECT doc_id, $b AS band, $key AS bkey FROM sig"
    }.mkString(" UNION ALL ")
    val bitSums = (0 until SimhashBits)
      .map(j => s"SUM(CASE WHEN (base >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS s$j")
      .mkString(", ")
    val bitVal = (0 until SimhashBits)
      .map(j => s"CASE WHEN s$j > 0 THEN ${1L << j} ELSE 0 END")
      .mkString(" + ")
    // all-pairs formulation (banded Spark plan proven identical in
    // DedupOpsSpec); shared by dedup_simhash and dedup_cluster_cc
    val simhashPairsCte =
      s"""th AS ($docTokHashSql),
         |bits AS (SELECT doc_id, $bitSums FROM th GROUP BY doc_id),
         |sk AS (SELECT doc_id, CAST($bitVal AS BIGINT) AS simhash FROM bits),
         |d AS (SELECT doc_id, source, simhash
         |      FROM documents JOIN sk USING (doc_id)),
         |pairs AS (
         |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |         CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER)
         |           AS hamming
         |  FROM d a JOIN d b ON a.source = b.source AND a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.simhash, b.simhash))
         |          <= $SimhashHammingMax)""".stripMargin

    // k unrolled min-label-propagation rounds over an `edges` CTE,
    // ending in l&lt;k&gt;(doc_id, cluster) — the exact SQL mirror of one
    // [[ccRound]] per round (LEFT JOIN + least ≡ the self-loop), so
    // Spark and DuckDB compute IDENTICAL labels at any round count,
    // converged or not. AS MATERIALIZED (the txt_bpe_vocab64 lesson):
    // each l&lt;i&gt; is referenced twice (nbr&lt;i+1&gt; and l&lt;i+1&gt;), so an
    // inlining planner doubles the subtree per round — at the
    // round-11 18-round chain DuckDB inlined its way into thousands of
    // parquet re-opens ("Too many open files") before materialization
    // was forced; semantics and hashes are unchanged
    def ccRoundsSql(k: Int): String = (1 to k).map { i =>
      s"""nbr$i AS MATERIALIZED (SELECT e.n, min(x.cluster) AS nbr_min
         |  FROM edges e JOIN l${i - 1} x ON x.doc_id = e.m GROUP BY e.n),
         |l$i AS MATERIALIZED (SELECT l.doc_id,
         |  least(l.cluster, coalesce(nb.nbr_min, l.cluster)) AS cluster
         |  FROM l${i - 1} l LEFT JOIN nbr$i nb ON nb.n = l.doc_id)"""
        .stripMargin
    }.mkString(",\n")
    // k unrolled (propagate, shortcut ×StarCcJumps) rounds — the exact
    // SQL mirror of [[ccPsLoop]]: h&lt;i&gt;_0 is the propagate round
    // (identical to ccRoundsSql's l&lt;i&gt;), each h&lt;i&gt;_&lt;j&gt; a
    // pointer jump label(label(v)) — an inner self-join, total because
    // every label value is a doc_id with its own row — and l&lt;i&gt;
    // aliases the round's final state. Same MATERIALIZED rationale;
    // Spark and DuckDB compute identical labels at any pair count,
    // converged or not.
    def ccPairsSql(k: Int): String = (1 to k).map { i =>
      val jumpCtes = (1 to StarCcJumps).map { j =>
        s"""h${i}_$j AS MATERIALIZED (SELECT l.doc_id, x.cluster AS cluster
           |  FROM h${i}_${j - 1} l JOIN h${i}_${j - 1} x
           |    ON x.doc_id = l.cluster)""".stripMargin
      }.mkString(",\n")
      s"""nbr$i AS MATERIALIZED (SELECT e.n, min(x.cluster) AS nbr_min
         |  FROM edges e JOIN l${i - 1} x ON x.doc_id = e.m GROUP BY e.n),
         |h${i}_0 AS MATERIALIZED (SELECT l.doc_id,
         |  least(l.cluster, coalesce(nb.nbr_min, l.cluster)) AS cluster
         |  FROM l${i - 1} l LEFT JOIN nbr$i nb ON nb.n = l.doc_id),
         |$jumpCtes,
         |l$i AS (SELECT doc_id, cluster FROM h${i}_$StarCcJumps)"""
        .stripMargin
    }.mkString(",\n")
    // shared by dedup_cluster_cc and dedup_canonical_pick
    val ccRounds = ccRoundsSql(CcRounds)
    val ccCte =
      s"""$simhashPairsCte,
         |edges AS MATERIALIZED (SELECT a_id AS n, b_id AS m FROM pairs
         |          UNION ALL SELECT b_id, a_id FROM pairs),
         |l0 AS (SELECT doc_id, doc_id AS cluster FROM documents),
         |$ccRounds""".stripMargin

    // GLOBAL scoping: the PRODUCTION-WIDTH 62-bit sketch (the loose
    // 31-bit demo sketch is near-vacuous corpus-wide — see
    // simhashPairsGlobal's scaladoc), source equality dropped from the
    // pair join — the oracle twin of simhashPairsGlobal /
    // simhashEdgesGlobal (round-9 verdict #1)
    val bitSums64g = (0 until Simhash64Bits)
      .map(j => s"SUM(CASE WHEN (b >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS s$j")
      .mkString(", ")
    val bitVal64g = (0 until Simhash64Bits)
      .map(j => s"CASE WHEN s$j > 0 THEN ${1L << j} ELSE 0 END")
      .mkString(" + ")
    val simhashSketchGlobalCte =
      s"""th AS ($docTokHashSql),
         |th64 AS (SELECT doc_id, ${base62Sql("base")} AS b FROM th),
         |bits64 AS (SELECT doc_id, $bitSums64g FROM th64 GROUP BY doc_id),
         |sk AS (SELECT doc_id, CAST($bitVal64g AS BIGINT) AS simhash
         |       FROM bits64)""".stripMargin
    val simhashPairsGlobalCte =
      s"""$simhashSketchGlobalCte,
         |pairs AS (
         |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |         CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER)
         |           AS hamming
         |  FROM sk a JOIN sk b ON a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.simhash, b.simhash))
         |          <= $Simhash64HammingMax)""".stripMargin
    // STAR-REDUCED edge set, mirroring [[simhashEdgesGlobal]] term for
    // term (reps = min doc_id per distinct sketch; members connect
    // through their rep; reps pair all-pairs at Hamming <=
    // Simhash64HammingMax — the quadratic formulation is fine for the
    // oracle's 500-doc gate corpus, while Spark's comboJoin emits the
    // pigeonhole-exact SAME rep-pair set), run through the same
    // [[StarCcPairs]] (propagate, shortcut) pairs: both engines
    // execute the identical bounded computation, so labels agree
    // exactly — parity never rests on either side having converged
    val ccCteGlobal =
      s"""$simhashSketchGlobalCte,
         |reps AS (SELECT simhash, min(doc_id) AS rep_id
         |         FROM sk GROUP BY simhash),
         |stars AS (SELECT s.doc_id AS n, r.rep_id AS m
         |          FROM sk s JOIN reps r USING (simhash)
         |          WHERE s.doc_id <> r.rep_id),
         |rp AS (SELECT a.rep_id AS a_id, b.rep_id AS b_id
         |       FROM reps a JOIN reps b ON a.rep_id < b.rep_id
         |       WHERE bit_count(xor(a.simhash, b.simhash))
         |               <= $Simhash64HammingMax),
         |edges AS MATERIALIZED (SELECT n, m FROM stars
         |          UNION ALL SELECT m, n FROM stars
         |          UNION ALL SELECT a_id, b_id FROM rp
         |          UNION ALL SELECT b_id, a_id FROM rp),
         |l0 AS (SELECT doc_id, doc_id AS cluster FROM documents),
         |${ccPairsSql(StarCcPairs)}""".stripMargin

    Map(
      "dedup_exact" ->
        """SELECT doc_id, lang, source FROM (
          |  SELECT doc_id, lang, source, ROW_NUMBER() OVER
          |    (PARTITION BY text ORDER BY doc_id) AS rn FROM documents)
          |WHERE rn = 1 ORDER BY doc_id""".stripMargin,

      "dedup_near" -> dedupNearOracle,

      // identical result contract: prefix filtering changes the plan,
      // not the answer
      "dedup_near_prefix" -> dedupNearOracle,

      // identical result contract: the sampled-statistic plan choice
      // never changes the answer
      "dedup_near_auto" -> dedupNearOracle,

      "dedup_ngram" ->
        """WITH ex AS (
          |  SELECT doc_id, source, unnest(list_distinct(list_filter(
          |    list_transform(string_split(lower(text), ' '),
          |      (x, i) -> x || ' ' || string_split(lower(text), ' ')[i + 1]),
          |    x -> x IS NOT NULL))) AS g
          |  FROM documents),
          |hot AS (SELECT g FROM (SELECT g, count(*) AS df FROM ex GROUP BY g)
          |        WHERE df > (SELECT count(*) FROM documents) * 0.1),
          |kept AS (SELECT * FROM ex WHERE g NOT IN (SELECT g FROM hot)),
          |sizes AS (SELECT doc_id, count(*) AS sz FROM kept GROUP BY doc_id),
          |inter AS (
          |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
          |  FROM kept a JOIN kept b
          |    ON a.source = b.source AND a.g = b.g AND a.doc_id < b.doc_id
          |  GROUP BY 1, 2)
          |SELECT a_id, b_id, jaccard FROM (
          |  SELECT a_id, b_id,
          |         CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) AS jaccard
          |  FROM inter
          |  JOIN sizes sa ON sa.doc_id = a_id
          |  JOIN sizes sb ON sb.doc_id = b_id)
          |WHERE jaccard >= 0.3
          |ORDER BY a_id, b_id""".stripMargin,

      "txt_source_overlap" ->
        """WITH st AS (
          |  SELECT DISTINCT source,
          |         unnest(list_distinct(string_split(lower(text), ' ')))
          |           AS tok
          |  FROM documents),
          |sz AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS sz
          |       FROM st GROUP BY 1),
          |i AS (SELECT a.source AS a_src, b.source AS b_src,
          |        CAST(COUNT(*) AS BIGINT) AS inter
          |      FROM st a JOIN st b
          |        ON a.tok = b.tok AND a.source < b.source
          |      GROUP BY 1, 2)
          |SELECT a_src, b_src, inter, sa.sz AS a_sz, sb.sz AS b_sz,
          |       round(CAST(inter AS DOUBLE)
          |             / (sa.sz + sb.sz - inter), 9) AS jaccard
          |FROM i
          |JOIN sz sa ON sa.source = a_src
          |JOIN sz sb ON sb.source = b_src
          |ORDER BY a_src, b_src""".stripMargin,

      "txt_source_overlap_topv" ->
        s"""WITH tf AS (
           |  SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS tf
           |  FROM (SELECT source, unnest(string_split(lower(text), ' '))
           |          AS tok FROM documents)
           |  GROUP BY 1, 2),
           |st AS (SELECT source, tok FROM (
           |         SELECT source, tok, ROW_NUMBER() OVER (
           |           PARTITION BY source ORDER BY tf DESC, tok) AS rn
           |         FROM tf)
           |       WHERE rn <= $SourceOverlapTopV),
           |sz AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS sz
           |       FROM st GROUP BY 1),
           |i AS (SELECT a.source AS a_src, b.source AS b_src,
           |        CAST(COUNT(*) AS BIGINT) AS inter
           |      FROM st a JOIN st b
           |        ON a.tok = b.tok AND a.source < b.source
           |      GROUP BY 1, 2)
           |SELECT a_src, b_src, inter, sa.sz AS a_sz, sb.sz AS b_sz,
           |       round(CAST(inter AS DOUBLE)
           |             / (sa.sz + sb.sz - inter), 9) AS jaccard
           |FROM i
           |JOIN sz sa ON sa.source = a_src
           |JOIN sz sb ON sb.source = b_src
           |ORDER BY a_src, b_src""".stripMargin,

      "dedup_winnow" ->
        s"""WITH wfp AS (${TextOps.winnowFpsSql}),
           |e AS (SELECT doc_id, source, CAST(len(fps) AS BIGINT) AS sz,
           |        unnest(fps) AS fp FROM wfp),
           |p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           |        CAST(COUNT(*) AS BIGINT) AS shared,
           |        any_value(a.sz) AS a_sz, any_value(b.sz) AS b_sz
           |      FROM e a JOIN e b ON a.source = b.source AND a.fp = b.fp
           |        AND a.doc_id < b.doc_id
           |      GROUP BY 1, 2)
           |SELECT a_id, b_id, shared,
           |       round(CAST(shared AS DOUBLE) / least(a_sz, b_sz), 9)
           |         AS resemblance
           |FROM p WHERE shared >= $WinnowMinShared
           |ORDER BY a_id, b_id""".stripMargin,

      "dedup_minhash_lsh" ->
        s"""WITH th AS ($docTokHashSql),
           |sig AS (SELECT doc_id, $minCols FROM th GROUP BY doc_id),
           |banded AS ($bandSelects),
           |bucketmin AS (SELECT band, bkey, min(doc_id) AS bmin
           |              FROM banded GROUP BY band, bkey),
           |canon AS (SELECT doc_id, min(bmin) AS canonical_id
           |          FROM banded JOIN bucketmin USING (band, bkey)
           |          GROUP BY doc_id),
           |t AS ($tokSetsSql)
           |SELECT c.doc_id, c.canonical_id,
           |       c.canonical_id < c.doc_id AND
           |         CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
           |           / len(list_distinct(a.toks || b.toks)) >= 0.5 AS is_dup,
           |       CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
           |         / len(list_distinct(a.toks || b.toks)) AS jaccard
           |FROM canon c
           |JOIN t a ON a.doc_id = c.doc_id
           |JOIN t b ON b.doc_id = c.canonical_id
           |ORDER BY c.doc_id""".stripMargin,

      "dedup_minhash_est" -> {
        val agreeSql = (0 until MinhashK)
          .map(j => s"(CASE WHEN sa.m$j = sb.m$j THEN 1 ELSE 0 END)")
          .mkString(" + ")
        s"""WITH th AS ($docTokHashSql),
           |sig AS (SELECT doc_id, $minCols FROM th GROUP BY doc_id),
           |banded AS ($bandSelects),
           |bs AS (SELECT banded.*, d.source
           |       FROM banded JOIN documents d USING (doc_id)),
           |cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
           |         FROM bs a JOIN bs b
           |           ON a.source = b.source AND a.band = b.band
           |          AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
           |est AS (SELECT c.a_id, c.b_id,
           |          round(CAST($agreeSql AS DOUBLE) / $MinhashK, 9) AS est
           |        FROM cand c
           |        JOIN sig sa ON sa.doc_id = c.a_id
           |        JOIN sig sb ON sb.doc_id = c.b_id),
           |t AS ($tokSetsSql)
           |SELECT a_id, b_id, est, jaccard,
           |       round(abs(est - jaccard), 9) AS abs_err
           |FROM (SELECT e.a_id, e.b_id, e.est, $jaccardSql AS jaccard
           |      FROM est e
           |      JOIN t a ON a.doc_id = e.a_id
           |      JOIN t b ON b.doc_id = e.b_id)
           |ORDER BY a_id, b_id""".stripMargin
      },

      "dedup_simhash" ->
        s"""WITH $simhashPairsCte
           |SELECT a_id, b_id, hamming FROM pairs
           |ORDER BY a_id, b_id""".stripMargin,

      "dedup_simhash64" -> {
        val bitSums64 = (0 until Simhash64Bits)
          .map(j =>
            s"SUM(CASE WHEN (b >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS s$j")
          .mkString(", ")
        val bitVal64 = (0 until Simhash64Bits)
          .map(j => s"CASE WHEN s$j > 0 THEN ${1L << j} ELSE 0 END")
          .mkString(" + ")
        // all-pairs formulation (banded Spark plan proven identical in
        // DedupOpsSpec)
        s"""WITH th AS ($docTokHashSql),
           |th64 AS (SELECT doc_id, ${base62Sql("base")} AS b FROM th),
           |bits AS (SELECT doc_id, $bitSums64 FROM th64 GROUP BY doc_id),
           |sk AS (SELECT doc_id, CAST($bitVal64 AS BIGINT) AS simhash
           |       FROM bits),
           |d AS (SELECT doc_id, source, simhash
           |      FROM documents JOIN sk USING (doc_id))
           |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           |       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER)
           |         AS hamming
           |FROM d a JOIN d b ON a.source = b.source AND a.doc_id < b.doc_id
           |WHERE bit_count(xor(a.simhash, b.simhash)) <= $Simhash64HammingMax
           |ORDER BY a_id, b_id""".stripMargin
      },

      "dedup_simhash_global" ->
        s"""WITH $simhashPairsGlobalCte
           |SELECT a_id, b_id, hamming FROM pairs
           |ORDER BY a_id, b_id""".stripMargin,

      // brute-force per-doc top-K over the symmetric near relation —
      // the sketch-level pool pruning changes the plan, not the answer
      "dedup_simhash_topk" ->
        s"""WITH $simhashSketchGlobalCte,
           |cand AS (
           |  SELECT a.doc_id AS doc_id, b.doc_id AS nbr_id,
           |         CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER)
           |           AS hamming
           |  FROM sk a JOIN sk b ON a.doc_id <> b.doc_id
           |  WHERE bit_count(xor(a.simhash, b.simhash))
           |          <= $Simhash64HammingMax),
           |ranked AS (
           |  SELECT doc_id, nbr_id, hamming,
           |         CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
           |           ORDER BY hamming, nbr_id) AS INTEGER) AS nbr_rank
           |  FROM cand)
           |SELECT doc_id, nbr_rank, nbr_id, hamming FROM ranked
           |WHERE nbr_rank <= $SimhashTopK
           |ORDER BY doc_id, nbr_rank""".stripMargin,

      "dedup_cluster_cc" ->
        s"""WITH $ccCte
           |SELECT doc_id, cluster FROM l$CcRounds ORDER BY doc_id""".stripMargin,

      "dedup_canonical_pick" ->
        s"""WITH $ccCte,
           |q AS (SELECT doc_id, quality FROM (${TextOps.qualityPartsSql}))
           |SELECT doc_id, cluster, quality,
           |       ROW_NUMBER() OVER (PARTITION BY cluster
           |         ORDER BY quality DESC, doc_id) = 1 AS is_kept
           |FROM l$CcRounds JOIN q USING (doc_id)
           |ORDER BY doc_id""".stripMargin,

      // GLOBAL ccCte: the manifest dedups corpus-wide (verdict #1)
      "pipeline_dedup" ->
        s"""WITH $ccCteGlobal,
           |q AS (SELECT doc_id, quality FROM (${TextOps.qualityPartsSql})),
           |r AS (SELECT doc_id, cluster,
           |        ROW_NUMBER() OVER (PARTITION BY cluster
           |          ORDER BY quality DESC, doc_id) AS rn,
           |        FIRST_VALUE(doc_id) OVER (PARTITION BY cluster
           |          ORDER BY quality DESC, doc_id) AS canon
           |      FROM l$StarCcPairs JOIN q USING (doc_id))
           |SELECT doc_id, cluster, rn = 1 AS keep,
           |       CASE WHEN rn > 1 THEN canon END AS dup_of,
           |       CASE WHEN rn > 1 THEN 'near_dup' END AS drop_reason
           |FROM r ORDER BY doc_id""".stripMargin,

      "txt_containment" ->
        s"""WITH ex AS (
           |  SELECT doc_id, source, unnest(list_distinct(
           |    string_split(lower(text), ' '))) AS tok
           |  FROM documents),
           |sizes AS (SELECT doc_id, count(*) AS sz FROM ex GROUP BY doc_id),
           |inter AS (
           |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
           |  FROM ex a JOIN ex b
           |    ON a.source = b.source AND a.tok = b.tok
           |       AND a.doc_id <> b.doc_id
           |  GROUP BY 1, 2)
           |SELECT a_id, b_id, containment FROM (
           |  SELECT a_id, b_id, CAST(inter AS DOUBLE) / sa.sz AS containment
           |  FROM inter JOIN sizes sa ON sa.doc_id = a_id)
           |WHERE containment >= 0.9
           |ORDER BY a_id, b_id""".stripMargin,

      "dedup_incremental" ->
        s"""WITH t AS (SELECT doc_id, lang, source,
           |             CAST(substr(source, 4) AS INTEGER) AS src_idx,
           |             list_distinct(string_split(lower(text), ' ')) AS toks
           |           FROM documents),
           |m AS (SELECT b.doc_id, min(c.doc_id) AS dup_of
           |      FROM t b JOIN t c ON b.lang = c.lang
           |       AND b.src_idx >= $IncrementalCorpusSrcs
           |       AND c.src_idx < $IncrementalCorpusSrcs
           |       AND CAST(len(list_intersect(b.toks, c.toks)) AS DOUBLE)
           |           / len(list_distinct(b.toks || c.toks)) >= 0.6
           |      GROUP BY b.doc_id)
           |SELECT b.doc_id, b.source, m.dup_of, m.dup_of IS NULL AS is_new
           |FROM t b LEFT JOIN m ON m.doc_id = b.doc_id
           |WHERE b.src_idx >= $IncrementalCorpusSrcs
           |ORDER BY b.doc_id""".stripMargin,

      "dedup_substring" ->
        s"""WITH starts AS (
           |  SELECT doc_id, text,
           |         unnest(generate_series(1,
           |           greatest(length(text) - ${SubstrWidth - 1}, 0),
           |           $SubstrStride)) AS gs
           |  FROM documents),
           |wins AS (
           |  SELECT DISTINCT doc_id, substr(text, gs, $SubstrWidth) AS g
           |  FROM starts),
           |df AS (SELECT g, COUNT(*) AS n_docs FROM wins GROUP BY 1),
           |per AS (
           |  SELECT doc_id, COUNT(*) AS n_grams,
           |         COUNT(*) FILTER (WHERE n_docs >= 2) AS dup_grams
           |  FROM wins JOIN df USING (g) GROUP BY 1)
           |SELECT d.doc_id,
           |       COALESCE(per.n_grams, 0) AS n_grams,
           |       COALESCE(per.dup_grams, 0) AS dup_grams,
           |       COALESCE(per.dup_grams, 0) > 0 AS is_dup
           |FROM documents d LEFT JOIN per USING (doc_id)
           |ORDER BY doc_id""".stripMargin)
  }
}
