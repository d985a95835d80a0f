package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Hand-checked BPE semantics (graft.operators.TextOps.bpeTrainOf):
  * frequency-weighted pair counts, (count desc, pair asc) tiebreaks,
  * greedy left-to-right merging, and exhaustion safety — the properties
  * the DuckDB oracle alone can't localize when they break. */
class BpeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** Exact BPE segmentation from the merge RULES: rebuild the word's
    * spaced symbol string and apply the trained merges in order as
    * chained literal replaces. Whatever trained merges apply, apply;
    * the rest stays characters, so an unseen word segments too. */
  private def bpeSegment(wordCol: Column,
      rules: Seq[(String, String)]): Column = {
    val chars = filter(split(wordCol, ""), c => length(c) > 0)
    val seq0 = concat(lit(" "), array_join(chars, "  "), lit(" "))
    rules.foldLeft(seq0) { case (acc, (x, y)) =>
      call_function("replace", acc, lit(s" $x  $y "), lit(s" $x$y "))
    }
  }

  /** The rule-based reference encode: every word segments by the
    * trained merge rules, with no vocabulary join, so n_words is always
    * the true pre-segmentation token count. */
  private def bpeEncodeByRules(docs: DataFrame,
      mergesDf: DataFrame): DataFrame = {
    val rules = mergesDf.orderBy("round").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    docs
      .select(col("doc_id"),
        explode(split(lower(col("text")), " ")).as("word"))
      .withColumn("n_sub",
        size(split(trim(bpeSegment(col("word"), rules)), "  ")))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_sub")).as("n_subwords"))
      .orderBy("doc_id")
  }

  test("merge sequence matches the hand-computed BPE on a tiny corpus") {
    import spark.implicits._
    // histogram: abab ×2, ab ×1. Round 1: pair (a,b) counts 2·2+1 = 5,
    // (b,a) counts 2 → merge 'ab'. Round 2: only (ab,ab) = 2 remains →
    // merge 'abab'. Rounds 3..8: every word is one symbol — exhausted,
    // the argmax relation is empty and no further merge rows appear.
    val docs = Seq("abab ab", "abab").toDF("text")
    val (words, merges) = graft.operators.TextOps.bpeTrainOf(docs)
    val m = merges.orderBy("round").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(m.toSeq == Seq((1, "a", "b", 5L), (2, "ab", "ab", 2L)))
    // exhaustion leaves the word relation INTACT (the merge step is a
    // LEFT join against the possibly-empty argmax — a plain cross join
    // would erase the vocabulary and with it every later encode)
    val w = words.collect().map(r => r.getString(0) -> r.getString(2)).toMap
    assert(w == Map("abab" -> " abab ", "ab" -> " ab "))
  }

  test("overlapping pair merges are greedy left-to-right, not simultaneous") {
    import spark.implicits._
    // 'aaaa aaa aa' (one doc, each word once). Round 1: (a,a) occurs
    // 3+2+1 = 6 times; greedy merge gives aaaa→[aa,aa], aaa→[aa,a]
    // (NEVER [aa,aa] — the shared middle 'a' is consumed), aa→[aa].
    // Round 2: (aa,aa)=1 vs (aa,a)=1 tie → pair-asc picks (aa,a) →
    // 'aaa'. Round 3: (aa,aa)=1 → 'aaaa'. Then exhausted.
    val docs = Seq("aaaa aaa aa").toDF("text")
    val (words, merges) = graft.operators.TextOps.bpeTrainOf(docs)
    val m = merges.orderBy("round").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(m.toSeq == Seq((1, "a", "a", 6L), (2, "aa", "a", 1L),
      (3, "aa", "aa", 1L)))
    val w = words.collect().map(r => r.getString(0) -> r.getString(2)).toMap
    assert(w == Map("aaaa" -> " aaaa ", "aaa" -> " aaa ", "aa" -> " aa "))
  }

  test("rule-based encode equals the vocab-join fast path on the training corpus") {
    // bpeEncodeByRules re-derives every word's segmentation from the
    // merge rules; bpeEncodeOf memoizes it through the trained words
    // relation. On the training corpus (where every word is in-vocab
    // by construction) the two must be IDENTICAL — the equality that
    // licenses the fast path for the contract query.
    val dir = TestSpark.sfDir
    val docs = graft.core.Core.table(spark, dir, "documents")
    val (words, merges) = graft.operators.TextOps.bpeTrainOf(docs)
    val fast = graft.operators.TextOps.bpeEncodeOf(docs, words)
      .collect().map(_.toSeq).toSeq
    val ruled = bpeEncodeByRules(docs, merges)
      .collect().map(_.toSeq).toSeq
    assert(fast == ruled)
  }

  test("contract corpus: full merge table, non-increasing counts, encode bounds") {
    val dir = TestSpark.sfDir
    val vocab = SparkEntry.queries("txt_bpe_vocab")(spark, dir).collect()
    assert(vocab.length == graft.operators.TextOps.BpeRounds,
      "the contract corpus must not exhaust inside the round budget")
    // argmax counts never increase round-over-round: a post-merge pair
    // (xy, z) occurs at most as often as (y, z) did pre-merge
    val counts = vocab.sortBy(_.getInt(0)).map(_.getLong(4))
    assert(counts.zip(counts.tail).forall { case (a, b) => b <= a })
    // encode: every word segments to >= 1 and <= len(word) subwords
    val enc = SparkEntry.queries("txt_bpe_encode")(spark, dir).collect()
    val docs = graft.core.Core.table(spark, dir, "documents")
      .selectExpr("doc_id",
        "size(split(lower(text), ' ')) AS nw",
        "aggregate(split(lower(text), ' '), 0, (a, w) -> a + length(w)) AS nc")
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2)))).toMap
    assert(enc.length == docs.size)
    enc.foreach { r =>
      val (nw, nc) = docs(r.getLong(0))
      assert(r.getLong(1) == nw.toLong, s"doc ${r.getLong(0)} word count")
      assert(r.getLong(2) >= nw && r.getLong(2) <= nc,
        s"doc ${r.getLong(0)} subword bounds")
    }
  }

  test("batched trainer with batchK=1 degenerates to the sequential " +
    "trainer exactly") {
    val dir = TestSpark.sfDir
    val docs = graft.core.Core.table(spark, dir, "documents")
    val seq = graft.operators.TextOps.bpeTrainOf(docs)._2
      .orderBy("round").collect().map(_.toSeq).toSeq
    val one = graft.operators.TextOps.bpeTrainBatchedOf(docs,
        totalMerges = graft.operators.TextOps.BpeRounds, batchK = 1)._2
      .orderBy("round").collect().map(_.toSeq).toSeq
    assert(seq.nonEmpty && one == seq)
  }

  test("batched == sequential on a symbol-disjoint corpus, in a " +
    "quarter of the driver rounds") {
    import spark.implicits._
    // four words whose top pairs are pairwise symbol-DISJOINT with
    // strictly decreasing counts: (a,b)=9, (c,d)=8, (e,f)=7, (g,h)=6.
    // Merging any of them creates single-symbol words (no new pairs),
    // so one batched round of 4 must equal 4 sequential rounds.
    val docs = Seq.fill(9)("ab") ++ Seq.fill(8)("cd") ++
      Seq.fill(7)("ef") ++ Seq.fill(6)("gh")
    val df = docs.toDF("text")
    val rcSeq = new java.util.concurrent.atomic.AtomicInteger(0)
    val rcBat = new java.util.concurrent.atomic.AtomicInteger(0)
    val seq = graft.operators.TextOps.bpeTrainBatchedOf(df,
        totalMerges = 4, batchK = 1, roundsOut = rcSeq)
    val bat = graft.operators.TextOps.bpeTrainBatchedOf(df,
        totalMerges = 4, batchK = 4, roundsOut = rcBat)
    val seqM = seq._2.orderBy("round").collect().map(_.toSeq).toSeq
    val batM = bat._2.orderBy("round").collect().map(_.toSeq).toSeq
    assert(seqM == batM)
    assert(batM.map(_(1)) == Seq("a", "c", "e", "g"))
    // the titled claim, asserted: all four merges in ONE driver round
    // (disjoint pairs batch together) vs four sequentially — the
    // round-trip division the batched trainer exists for
    assert(rcBat.get() == 1, s"batched rounds = ${rcBat.get()}")
    assert(rcSeq.get() == 4, s"sequential rounds = ${rcSeq.get()}")
    // the final vocabulary states agree too
    def vocab(t: (org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.DataFrame)) =
      t._1.collect().map(r => r.getString(0) -> r.getString(2)).toMap
    assert(vocab(seq) == vocab(bat))
  }

  test("batched trainer defers CONFLICTING pairs to the next round " +
    "instead of merging through a shared symbol") {
    import spark.implicits._
    // 'abc' x5: pairs (a,b)=5 and (b,c)=5 SHARE b. Sequential: round 1
    // merges (a,b) (pair-asc tiebreak) -> ' ab  c ', round 2 merges
    // (ab,c)=5. A naive simultaneous batch would try (b,c) against a
    // consumed b; the conflict rule must instead pick ONLY (a,b) in
    // round 1, then find (ab,c) — reproducing the sequential table
    // even though batchK admits two merges per round.
    val df = Seq.fill(5)("abc").toDF("text")
    val seqM = graft.operators.TextOps.bpeTrainBatchedOf(df,
        totalMerges = 2, batchK = 1)._2
      .orderBy("round").collect().map(_.toSeq).toSeq
    val rc = new java.util.concurrent.atomic.AtomicInteger(0)
    val batM = graft.operators.TextOps.bpeTrainBatchedOf(df,
        totalMerges = 2, batchK = 2, roundsOut = rc)._2
      .orderBy("round").collect().map(_.toSeq).toSeq
    assert(batM == seqM)
    // the conflict defers: TWO driver rounds despite batchK = 2
    assert(rc.get() == 2, s"conflicted batch rounds = ${rc.get()}")
    assert(batM.map(r => (r(1), r(2))) == Seq(("a", "b"), ("ab", "c")))
  }

  test("batched K=8 at 64 merges: full table in <= 1/4 the driver " +
    "rounds, DIVERGING from sequential by the conflict-defer rule") {
    // the txt_bpe_vocab64 contract facts, pinned: (a) the corpus
    // supports 64 merges; (b) the batched trainer delivers all 64 in
    // at most a quarter of the sequential driver rounds and within
    // the oracle's Bpe64Rounds unroll depth; (c) batched BPE is NOT
    // sequential BPE here — the conservative symbol-sharing rule
    // defers e.g. (o,r) behind (e,r) where sequential interleaves
    // them — which is WHY the DuckDB oracle mirrors the batched
    // algorithm (bpeBatchedSqlCtes) rather than the sequential table;
    // (d) both tables open with the same undisputed top pair.
    val dir = TestSpark.sfDir
    val docs = graft.core.Core.table(spark, dir, "documents")
    val rcSeq = new java.util.concurrent.atomic.AtomicInteger(0)
    val seqM = graft.operators.TextOps.bpeTrainBatchedOf(docs,
        totalMerges = 64, batchK = 1, roundsOut = rcSeq)._2
      .orderBy("round").collect().map(_.toSeq).toSeq
    val rcBat = new java.util.concurrent.atomic.AtomicInteger(0)
    val batM = graft.operators.TextOps.bpeTrainBatchedOf(docs,
        totalMerges = 64, batchK = 8, roundsOut = rcBat,
        fixedWant = true)._2
      .orderBy("round").collect().map(_.toSeq).toSeq
    assert(seqM.size == 64, s"corpus exhausted at ${seqM.size} merges")
    assert(batM.size == 64, s"batched stopped at ${batM.size} merges")
    assert(rcBat.get() <= rcSeq.get() / 4,
      s"batched rounds ${rcBat.get()} vs sequential ${rcSeq.get()}")
    assert(rcBat.get() <= graft.operators.TextOps.Bpe64Rounds,
      s"oracle unroll depth exceeded: ${rcBat.get()} rounds")
    assert(batM.head == seqM.head)
    assert(batM != seqM, "divergence premise changed — if batched now " +
      "equals sequential, the vocab64 oracle could use the plain CTEs")
    // merge indexes are 1..64 in both
    assert(batM.map(_(0)) == (1 to 64).toSeq)
  }

  test("batched rule table drives the rule-based encode identically " +
    "to sequential rules") {
    // the merge TABLE is the tokenizer artifact: training mode must
    // not leak into encode results when the tables agree
    val dir = TestSpark.sfDir
    val docs = graft.core.Core.table(spark, dir, "documents")
    val seqRules = graft.operators.TextOps.bpeTrainOf(docs)._2
    val batRules = graft.operators.TextOps.bpeTrainBatchedOf(docs,
      totalMerges = graft.operators.TextOps.BpeRounds, batchK = 1)._2
    val a = bpeEncodeByRules(docs, seqRules)
      .collect().map(_.toSeq).toSeq
    val b = bpeEncodeByRules(docs, batRules)
      .collect().map(_.toSeq).toSeq
    assert(a == b && a.nonEmpty)
  }
}
