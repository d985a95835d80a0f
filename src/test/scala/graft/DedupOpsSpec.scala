package graft

import graft.operators.{DedupOps, RelationalOps}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-2 guarantees for the dedup family and the as-of join:
  * lazy plan construction, bitmask/relational parity, the stop-shingle
  * document-frequency cap, banded-SimHash exactness, and the
  * join-free as-of plan. */
class DedupOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("bitmask fast path == relational dedup_near on a small-vocab corpus") {
    val rel = DedupOps.dedupNearRelational(spark, TestSpark.sfDir)
      .collect().map(_.toSeq).toSeq
    val bit = DedupOps.dedupNearBitmask(spark, TestSpark.sfDir)
      .collect().map(_.toSeq).toSeq
    assert(rel.nonEmpty, "corpus should contain near-dup pairs")
    assert(rel == bit)
  }

  test("prefix-filtered join == unfiltered join, with fewer candidates") {
    val full = DedupOps.dedupNearRelational(spark, TestSpark.sfDir)
      .collect().map(_.toSeq).toSeq
    val pref = DedupOps.dedupNearPrefix(spark, TestSpark.sfDir)
      .collect().map(_.toSeq).toSeq
    assert(pref == full)
    // the prefix join touches strictly fewer (source, tok) rows than
    // the full token join: count candidate rows each way
    val toks = graft.core.Core.table(spark, TestSpark.sfDir, "documents")
      .select(col("doc_id"), col("source"),
        explode(array_distinct(split(lower(col("text")), " "))).as("tok"))
    val fullCand = toks.select(col("source"), col("doc_id").as("a"), col("tok"))
      .join(toks.select(col("source"), col("doc_id").as("b"), col("tok")),
        Seq("source", "tok"))
      .filter(col("a") < col("b")).select("a", "b").distinct().count()
    val df_ = toks.groupBy("tok").agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("df"), col("tok"))
    val prefix = toks.join(df_, "tok")
      .withColumn("sz", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("doc_id")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= col("sz") - ceil(col("sz") * 0.6) + 1)
    val prefCand = prefix.select(col("source"), col("doc_id").as("a"), col("tok"))
      .join(prefix.select(col("source"), col("doc_id").as("b"), col("tok")),
        Seq("source", "tok"))
      .filter(col("a") < col("b")).select("a", "b").distinct().count()
    assert(prefCand < fullCand,
      s"prefix filter did not reduce candidates: $prefCand vs $fullCand")
    // and no qualifying pair was lost (already implied by pref == full)
    assert(pref.nonEmpty)
  }

  test("bitmask path fails loudly past 63 distinct tokens") {
    val dir = java.nio.file.Files.createTempDirectory("graft_wide").toString
    // 80-token vocabulary: the bitmask encoding cannot hold it
    (0 until 20).map(i =>
      (i.toLong, (0 until 4).map(j => s"tok${(i * 4 + j) % 80}")
        .mkString(" "), "en", "web", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val e = intercept[Exception] {
      DedupOps.dedupNearBitmask(spark, dir).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("exceeds 63 distinct tokens")), e)
  }

  test("dedup_ngram df cap: default does not bind on this corpus") {
    val capped = DedupOps.dedupNgram(spark, TestSpark.sfDir)
      .collect().map(_.toSeq).toSeq
    val uncapped = DedupOps.dedupNgram(spark, TestSpark.sfDir, maxDfFrac = 1.0)
      .collect().map(_.toSeq).toSeq
    assert(capped.nonEmpty)
    assert(capped == uncapped)
  }

  test("dedup_ngram df cap drops a synthetic ubiquitous shingle") {
    val dir = java.nio.file.Files.createTempDirectory("graft_hot").toString
    // every doc ends with the hot shingle "the end"; docs 0 and 1 are
    // additionally REAL near-dups (share the rare shingles p-q, q-r,
    // r-s) so a qualifying pair survives the cap — the cap must change
    // that pair's jaccard (hot shingle excluded from the universe)
    // without dropping it, and must not conjure pairs from the hot
    // shingle alone.
    val docs = (0 until 40).map { i =>
      val text =
        if (i == 0) "p q r s x the end"
        else if (i == 1) "p q r s y the end"
        else s"u$i v$i w$i the end"
      (i.toLong, text, "en", "web", 0L)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def pairs(frac: Double): Map[(Long, Long), Double] =
      DedupOps.dedupNgram(spark, dir, maxDfFrac = frac).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val uncapped = pairs(1.0)
    val capped = pairs(0.5)
    // only the genuine near-dup pair qualifies either way; the hot
    // shingle alone (jaccard 1/7) never creates a pair
    assert(uncapped.keySet == Set((0L, 1L)), uncapped)
    assert(capped.keySet == Set((0L, 1L)), capped)
    // and the cap visibly binds: 4 shared / (6+6-4) = 0.5 uncapped vs
    // 3 shared / (5+5-3) ≈ 0.4286 over the capped shingle universe
    assert(uncapped((0L, 1L)) > capped((0L, 1L)))
    assert(math.abs(capped((0L, 1L)) - 3.0 / 7.0) < 1e-12)
    // bounded join size is observable on the candidate relation itself:
    // rebuild the pair-count stage with and without the cap
    def candidateRows(frac: Double): Long = {
      val ex = graft.core.Core.table(spark, dir, "documents")
        .withColumn("t", split(lower(col("text")), " "))
        .select(col("doc_id"), col("source"),
          explode(array_distinct(expr(
            "transform(slice(t, 1, size(t) - 1), " +
              "(x, i) -> concat(x, ' ', t[i + 1]))"))).as("g"))
      val ndocs = graft.core.Core.table(spark, dir, "documents")
        .agg(count(lit(1)).as("ndocs"))
      val hot = ex.groupBy("g").agg(count(lit(1)).as("df"))
        .crossJoin(ndocs).filter(col("df") > col("ndocs") * frac).select("g")
      val kept = ex.join(broadcast(hot), Seq("g"), "left_anti")
      kept.select(col("source"), col("doc_id").as("a_id"), col("g"))
        .join(kept.select(col("source"), col("doc_id").as("b_id"), col("g")),
          Seq("source", "g"))
        .filter(col("a_id") < col("b_id"))
        .count()
    }
    // hot shingle alone contributes all C(40,2) join rows; docs 0/1's 3
    // rare shared shingles add 3 more
    assert(candidateRows(1.0) == 40L * 39 / 2 + 3)
    // cap: only the 3 rare shared shingles survive -> join bounded
    assert(candidateRows(0.5) == 3)
  }

  test("banded SimHash emits the identical pair set as all-pairs") {
    val banded = DedupOps.queries("dedup_simhash")(spark, TestSpark.sfDir)
      .collect().map(_.toSeq).toSeq
    // reference: all-pairs join over the same sketches
    val d = graft.core.Core.table(spark, TestSpark.sfDir, "documents")
      .select("doc_id", "source")
      .join(DedupOps.simhashSketches(spark, TestSpark.sfDir), "doc_id")
    val a = d.select(col("source"), col("doc_id").as("a_id"),
      col("simhash").as("a_sh"))
    val b = d.select(col("source"), col("doc_id").as("b_id"),
      col("simhash").as("b_sh"))
    val allPairs = a.join(b, Seq("source"))
      .filter(col("a_id") < col("b_id"))
      .withColumn("hamming", bit_count(col("a_sh").bitwiseXOR(col("b_sh")))
        .cast("int"))
      .filter(col("hamming") <= 10)
      .select("a_id", "b_id", "hamming")
      .orderBy("a_id", "b_id")
      .collect().map(_.toSeq).toSeq
    assert(banded.nonEmpty)
    assert(banded == allPairs)
  }

  test("62-bit banded SimHash emits the identical pair set as all-pairs") {
    val banded = DedupOps.queries("dedup_simhash64")(spark, TestSpark.sfDir)
      .collect().map(_.toSeq).toSeq
    val d = graft.core.Core.table(spark, TestSpark.sfDir, "documents")
      .select("doc_id", "source")
      .join(DedupOps.simhash64Sketches(spark, TestSpark.sfDir), "doc_id")
    val a = d.select(col("source"), col("doc_id").as("a_id"),
      col("simhash").as("a_sh"))
    val b = d.select(col("source"), col("doc_id").as("b_id"),
      col("simhash").as("b_sh"))
    val allPairs = a.join(b, Seq("source"))
      .filter(col("a_id") < col("b_id"))
      .withColumn("hamming", bit_count(col("a_sh").bitwiseXOR(col("b_sh")))
        .cast("int"))
      .filter(col("hamming") <= DedupOps.Simhash64HammingMax)
      .select("a_id", "b_id", "hamming")
      .orderBy("a_id", "b_id")
      .collect().map(_.toSeq).toSeq
    // the tight threshold must be SELECTIVE (strict subset of the loose
    // 31-bit pair set) yet non-degenerate on this near-dup corpus
    assert(banded.nonEmpty)
    assert(banded == allPairs)
    val loose = DedupOps.queries("dedup_simhash")(spark, TestSpark.sfDir)
      .count()
    assert(banded.size < loose)
  }

  test("GLOBAL banded SimHash: all-pairs-identical, strict superset of " +
    "within-source, and catches cross-source pairs") {
    val global = DedupOps.queries("dedup_simhash_global")(
        spark, TestSpark.sfDir)
      .collect().map(_.toSeq).toSeq
    // reference: source-blind all-pairs join over the same 62-bit
    // sketches
    val d = DedupOps.simhash64Sketches(spark, TestSpark.sfDir)
    val allPairs = d.select(col("doc_id").as("a_id"),
        col("simhash").as("a_sh"))
      .crossJoin(d.select(col("doc_id").as("b_id"),
        col("simhash").as("b_sh")))
      .filter(col("a_id") < col("b_id"))
      .withColumn("hamming", bit_count(col("a_sh").bitwiseXOR(col("b_sh")))
        .cast("int"))
      .filter(col("hamming") <= DedupOps.Simhash64HammingMax)
      .select("a_id", "b_id", "hamming")
      .orderBy("a_id", "b_id")
      .collect().map(_.toSeq).toSeq
    assert(global.nonEmpty)
    assert(global == allPairs)
    // superset of the within-source listing over the same sketch, and
    // strictly larger: cross-source duplicates exist on this corpus
    // (the pairs the within-source contract bound cannot see)
    val within = DedupOps.queries("dedup_simhash64")(spark, TestSpark.sfDir)
      .collect().map(_.toSeq).toSet
    assert(within.subsetOf(global.toSet))
    assert(global.size > within.size,
      "no cross-source pair on this corpus — global scope untestable")
  }

  test("cluster label propagation converges within CcRounds on this corpus") {
    val rK = DedupOps.dedupClusterCC(spark, TestSpark.sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rK1 = DedupOps.dedupClusterCC(spark, TestSpark.sfDir,
        rounds = DedupOps.CcRounds + 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rK == rK1,
      s"round ${DedupOps.CcRounds + 1} changed labels: " +
        s"diameter > ${DedupOps.CcRounds}, raise CcRounds")
    // a real clustering: at least one non-singleton cluster, and every
    // cluster id is a member doc's id (the component minimum)
    assert(rK.values.toSet.size < rK.size)
    assert(rK.values.forall(c => rK.contains(c) && rK(c) == c))
  }

  test("prefix-filtered containment == unguarded directional join") {
    import graft.core.Core.table
    val toks = table(spark, TestSpark.sfDir, "documents")
      .select(col("doc_id"), col("source"),
        explode(array_distinct(split(lower(col("text")), " "))).as("tok"))
    val sizes = toks.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val unguarded = toks
      .select(col("source"), col("doc_id").as("a_id"), col("tok"))
      .join(toks.select(col("source"), col("doc_id").as("b_id"), col("tok")),
        Seq("source", "tok"))
      .filter(col("a_id") =!= col("b_id"))
      .groupBy("a_id", "b_id")
      .agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("doc_id").as("a_id"), col("sz").as("a_sz")),
        "a_id")
      .withColumn("containment", col("inter").cast("double") / col("a_sz"))
      .filter(col("containment") >= 0.9)
      .select("a_id", "b_id", "containment")
      .orderBy("a_id", "b_id")
      .collect().map(_.toSeq).toSeq
    val guarded = DedupOps.txtContainmentPrefix(spark, TestSpark.sfDir)
      .collect().map(_.toSeq).toSeq
    assert(guarded.nonEmpty)
    assert(guarded == unguarded)
  }

  test("txtContainmentAuto: df-skew rule picks count on dense, prefix on " +
    "skewed; branches result-identical on both corpora") {
    def rows(df: DataFrame) = df.collect().map(_.toSeq).toSeq
    // Dense contract corpus: uniform vocabulary df, skew ~ 1 — the
    // count-join branch is optimal (output is ~n² rows; pruning can't
    // beat the output lower bound). The rule picks it, and the router's
    // plan is that branch's plan.
    val sf = TestSpark.sfDir
    assert(!DedupOps.prefixJoinPays(DedupOps.dfSkewOf(spark, sf)))
    val dense = DedupOps.txtContainmentAuto(spark, sf)
    assert(dense.sameSemantics(DedupOps.txtContainmentCount(spark, sf)))
    assert(!dense.sameSemantics(DedupOps.txtContainmentPrefix(spark, sf)))
    val denseRows = rows(dense)
    assert(denseRows.nonEmpty)
    assert(rows(DedupOps.txtContainmentPrefix(spark, sf)) == denseRows)

    // Skewed corpus: doc 0 is fully contained in doc 1 (plus one extra
    // token) via rare tokens.
    val dir = ScaleData.hotTokenDir(spark, "hot a0 b0 c0 d0 e0")
    assert(DedupOps.prefixJoinPays(DedupOps.dfSkewOf(spark, dir)))
    val skew = DedupOps.txtContainmentAuto(spark, dir)
    assert(skew.sameSemantics(DedupOps.txtContainmentPrefix(spark, dir)))
    assert(!skew.sameSemantics(DedupOps.txtContainmentCount(spark, dir)))
    val skewRows = rows(skew)
    // result-identical to the count-join branch on the same corpus
    assert(skewRows == rows(DedupOps.txtContainmentCount(spark, dir)))
    // exactly the genuine containment: doc 0's 5 tokens all inside
    // doc 1 (containment 1.0); the reverse direction is 5/6 < 0.9 and
    // the hot token alone is 1/5 per pair
    assert(skewRows == Seq(Seq(0L, 1L, 1.0)), skewRows)
  }

  test("ccFixpoint is exact on long chains where the bounded unroll is not") {
    import spark.implicits._
    def chainEdges(ids: Seq[Long]): Seq[(Long, Long)] =
      ids.zip(ids.tail).flatMap { case (a, b) => Seq(a -> b, b -> a) }

    // Deterministic worst case: a diameter-8 path with ids ascending
    // away from the minimum. k propagate rounds move the min label k
    // hops, so the far end is provably unreached for k < 8.
    val path = (0L to 8L)
    val nodes = path.toDF("doc_id")
    val edges = chainEdges(path).toDF("n", "m")
    val bounded = CcReference.ccFixpoint(nodes, edges, maxRounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(bounded(8L) != 0L,
      "3 bounded rounds unexpectedly merged a diameter-8 chain")
    val (exactDf, rounds) = CcReference.ccFixpointWithRounds(nodes, edges)
    val exact = exactDf
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(exact.values.forall(_ == 0L),
      s"fixpoint under-merged the chain: $exact")
    // rounds-to-convergence is exactly diameter + 1: the min label
    // travels one hop per round (8 hops to the far end), plus the final
    // no-change round that certifies the fixpoint
    assert(rounds == 9, s"diameter-8 chain converged in $rounds rounds")

    // Randomized: multi-component corpora of permuted-id chains
    // (diameter up to 12) must match brute-force union-find exactly.
    val rnd = new scala.util.Random(42)
    (1 to 3).foreach { _ =>
      val comps = (0 until 4).map(_ => rnd.nextInt(12) + 2)
      val ids = rnd.shuffle((0L until comps.sum.toLong).toList)
      val chains = comps.foldLeft((List.empty[Seq[Long]], ids)) {
        case ((acc, rest), n) => (acc :+ rest.take(n), rest.drop(n))
      }._1
      val es = chains.flatMap(chainEdges)
      val ns = chains.flatten.toDF("doc_id")
      val got = CcReference.ccFixpoint(ns, es.toDF("n", "m"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val want = chains.flatMap(c => c.map(_ -> c.min)).toMap
      assert(got == want, s"fixpoint != union-find on chains $chains")
    }
  }

  test("doubled CC: reach doubles per (P,S) pair on a monotone chain") {
    // the StarCcPairs geometry evidence: on a 64-node path with ids
    // ascending away from the minimum, plain propagation needs 63
    // rounds (one hop per round), while the (propagate, shortcut)
    // schedule doubles covered distance per pair — so the fixpoint
    // arrives in ~log2(63) pairs. (The adversarial SHUFFLED-id chain
    // was measured too: 17 pairs vs 37 plain rounds at 64 nodes — a
    // constant ~2.2x, which is why StarCcPairs documents "half the
    // edge joins", not O(log d); that slow measurement isn't re-run
    // here.) Also pins exactness: the doubled labels must equal the
    // known component minimum everywhere.
    import spark.implicits._
    val n = 64L
    val nodes = (0L until n).toDF("doc_id")
    val edges = (0L until n - 1).flatMap(i =>
      Seq((i, i + 1), (i + 1, i))).toDF("n", "m")
    val (labels, pairs, converged) = DedupOps.ccPsLoop(nodes, edges, 32)
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(converged, s"no certified fixpoint within 32 pairs")
    assert(got.forall(_._2 == 0L), "doubled CC under-merged the chain")
    assert(pairs <= 8,
      s"expected ~log2(63)+cert pairs on a monotone 64-chain, got $pairs")
    graft.core.Core.releaseShared()
  }

  test("ccPsLoop frees superseded checkpoint blocks (ADVICE r12)") {
    // freeLocalCheckpoint must actually release a local checkpoint's
    // storage, and the (P,S) loop must not retain one block set per
    // segment × jump: after a multi-segment run, the persisted-RDD
    // registry should hold only O(1) relations (the returned labels;
    // anything the loop freed is gone), not the ~(jumps+1)·segments
    // intermediates the round-12 loop kept alive until GC.
    import spark.implicits._
    val before = spark.sparkContext.getPersistentRDDs.keySet
    // direct check of the helper's release-vs-no-op contract
    val ck = (0L until 100L).toDF("doc_id").localCheckpoint()
    val ckIds = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(ckIds.nonEmpty, "localCheckpoint should register a persisted RDD")
    DedupOps.freeLocalCheckpoint(ck)
    // non-checkpoint plans are a no-op, never a crash
    DedupOps.freeLocalCheckpoint((0L until 3L).toDF("doc_id"))
    // loop-level: a 64-chain runs ~7 segments × (1+jumps) checkpoints
    val nodes = (0L until 64L).toDF("doc_id")
    val edges = (0L until 63L).flatMap(i =>
      Seq((i, i + 1), (i + 1, i))).toDF("n", "m")
    val (labels, pairs, _) = DedupOps.ccPsLoop(nodes, edges, 32)
    labels.collect()
    val after = spark.sparkContext.getPersistentRDDs.keySet -- before
    // retained: the returned labels' checkpoint (1) plus any unpersist
    // still in flight (non-blocking) — far below one per step
    assert(pairs >= 5, s"chain should need multiple segments, got $pairs")
    assert(after.size <= 3,
      s"expected <=3 retained checkpoint RDDs after the loop " +
        s"(returned labels + in-flight), got ${after.size}")
    graft.core.Core.releaseShared()
  }

  test("ccPsLoop frees its edge checkpoint when the seed checkpoint " +
      "job fails") {
    import spark.implicits._
    // String ids: the edge checkpoint (a union of the edges and the
    // nodes' self-loops) only moves them, while the seed's certificate
    // casts each to DECIMAL(38,0), which fails under ANSI on "x". So
    // the seed's checkpoint job is the one that fails.
    val nodes = Seq("0", "1", "x").toDF("doc_id")
    val edges = Seq(("0", "1"), ("1", "0")).toDF("n", "m")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val err = intercept[Exception](DedupOps.ccPsLoop(nodes, edges, 4))
    assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage).contains("CAST_INVALID_INPUT")),
      s"the seed checkpoint did not fail on its cast: $err")
    // the failed job's own RDD stays registered (Spark gives no handle
    // to it), but it never materialized; every checkpoint the loop
    // completed is freed
    val left = spark.sparkContext.getPersistentRDDs
      .filter { case (id, _) => !before(id) }
    assert(left.values.forall(!_.isCheckpointed),
      s"checkpoint RDDs left registered: ${left.keys.mkString(", ")}")
  }

  test("ccPsLoop sizes its loop parallelism to the measured input rows, " +
      "saturates to the session count, and restores the caller's conf " +
      "(optimization r17)") {
    import spark.implicits._
    // the rule at both ends: one partition per 2M loop rows, at least
    // one, never more than the session's count
    assert(DedupOps.ccLoopParts(190L, 32) == 1)
    assert(DedupOps.ccLoopParts(0L, 32) == 1)
    assert(DedupOps.ccLoopParts(2000001L, 32) == 2)
    assert(DedupOps.ccLoopParts(32L * 2000000L, 32) == 32)
    assert(DedupOps.ccLoopParts(32L * 2000000L + 1L, 32) == 32)
    assert(DedupOps.ccLoopParts(Long.MaxValue / 2, 32) == 32)
    val nodes = (0L until 64L).toDF("doc_id")
    val edges = (0L until 63L).flatMap(i =>
      Seq((i, i + 1), (i + 1, i))).toDF("n", "m")
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    // ~190 loop rows -> the loop runs at ONE partition instead of the
    // session's count
    val (small, _, _) = DedupOps.ccPsLoop(nodes, edges, 17)
    assert(small.rdd.getNumPartitions == 1,
      s"a 190-row loop should derive 1 partition, " +
        s"got ${small.rdd.getNumPartitions}")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == before,
      "ccPsLoop leaked its derived partition count into the session")
    // labels are partitioning-independent: the plain-propagation
    // reference at the session's count agrees
    assert(small.orderBy("doc_id").collect()
      .sameElements(CcReference.ccFixpoint(nodes, edges)
        .orderBy("doc_id").collect()),
      "loop parallelism changed the CC labels")
    graft.core.Core.releaseShared()
  }

  test("ccPsLoop folds the certificate into the checkpoint job and " +
      "certifies the same fixpoint (optimization r18)") {
    import spark.implicits._
    // the certificate is read off the checkpoint job as observed
    // metrics, and the loop throws if they are missing: pin that this
    // Spark build reports them, for an empty and a non-empty relation
    val cert = Seq(count(lit(1)).as("n"), sum(col("doc_id")).as("s"))
    val (e0, r0) = DedupOps.checkpointObserving(
      Seq.empty[Long].toDF("doc_id"), cert)
    assert(r0.getLong(0) == 0L && r0.isNullAt(1))
    val (e5, r5) = DedupOps.checkpointObserving(
      (1L to 5L).toDF("doc_id"), cert)
    assert(r5.getLong(0) == 5L && r5.getLong(1) == 15L)
    assert(e5.count() == 5L)
    DedupOps.freeLocalCheckpoint(e0)
    DedupOps.freeLocalCheckpoint(e5)
    // the certificate fires exactly at the fixpoint: the run that
    // certifies after `pairs` segments is NOT certified one segment
    // earlier, and its labels are the component minimum
    val nodes = (0L until 64L).toDF("doc_id")
    val edges = (0L until 63L).flatMap(i =>
      Seq((i, i + 1), (i + 1, i))).toDF("n", "m")
    val (labels, pairs, converged) = DedupOps.ccPsLoop(nodes, edges, 32)
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(converged && got.forall(_._2 == 0L),
      "folded certificate changed the labels")
    assert(pairs <= 8, s"fixpoint detection drifted: $pairs segments")
    val (_, early, earlyConverged) =
      DedupOps.ccPsLoop(nodes, edges, pairs - 1)
    assert(early == pairs - 1 && !earlyConverged,
      s"certified a fixpoint before segment $pairs")
    graft.core.Core.releaseShared()
  }

  test("as-of join: no Join node, single window, parity with join form") {
    val df = RelationalOps.queries("join_range_asof")(spark, TestSpark.sfDir)
    val joins = df.queryExecution.optimizedPlan.collect { case j: Join => j }
    assert(joins.isEmpty, "as-of rewrite must not contain a join")

    // parity vs the classic join+row_number formulation
    val e = graft.core.Core.table(spark, TestSpark.sfDir, "events")
      .withColumn("us", unix_micros(col("ts")))
    val p = e.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("us").as("purchase_us"))
    val c = e.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"),
        col("user_id").as("c_user_id"), col("us").as("click_us"))
    val w = Window.partitionBy("purchase_id")
      .orderBy(col("click_us").desc, col("click_id").desc)
    val joined = p.join(c,
        col("user_id") === col("c_user_id") &&
          col("click_us") <= col("purchase_us"), "left")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("purchase_id", "purchase_us", "click_id", "click_us")
      .orderBy("purchase_id")
      .collect().map(_.toSeq).toSeq
    val unioned = df.collect().map(_.toSeq).toSeq
    assert(unioned.nonEmpty)
    assert(unioned == joined)
  }

  test("dedupNearAuto: df-skew rule picks count on uniform, prefix on " +
    "skewed; branches result-identical on both corpora") {
    def rows(df: DataFrame) = df.collect().map(_.toSeq).toSeq
    // Uniform contract corpus: every token is vocabulary-frequent, so
    // median(df)/max(df) ~ 1, the rule picks the count join, and the
    // router's plan is that branch's plan.
    val sf = TestSpark.sfDir
    assert(!DedupOps.prefixJoinPays(DedupOps.dfSkewOf(spark, sf)))
    val uniform = DedupOps.dedupNearAuto(spark, sf)
    assert(uniform.sameSemantics(DedupOps.dedupNearRelational(spark, sf)))
    assert(!uniform.sameSemantics(
      DedupOps.dedupNearPrefix(spark, sf, positional = true)))
    val uniformRows = rows(uniform)
    assert(uniformRows == rows(DedupOps.dedupNearPrefix(spark, sf)))
    assert(uniformRows.nonEmpty)

    // Skewed corpus: rare tokens anchor the one true near-dup pair.
    val dir = ScaleData.hotTokenDir(spark, "hot a0 b0 c0 e0")
    assert(DedupOps.prefixJoinPays(DedupOps.dfSkewOf(spark, dir)))
    val skew = DedupOps.dedupNearAuto(spark, dir)
    assert(skew.sameSemantics(
      DedupOps.dedupNearPrefix(spark, dir, positional = true)))
    assert(!skew.sameSemantics(DedupOps.dedupNearRelational(spark, dir)))
    val skewRows = rows(skew)
    assert(skewRows == rows(DedupOps.dedupNearRelational(spark, dir)))
    // only the genuinely-similar pair qualifies (jaccard 4/6)
    assert(skewRows.map(r => (r.head, r(1))) == Seq((0L, 1L)))

    // and on THIS corpus the prefix actually prunes: the hot token
    // (most frequent, so never in any rarest-token prefix) would alone
    // contribute all-pairs 80*79/2 candidate pairs to the full join;
    // the prefix join's candidates collapse to the rare-token matches.
    val toks = graft.core.Core.table(spark, dir, "documents")
      .select(col("doc_id"), col("source"),
        explode(array_distinct(split(lower(col("text")), " "))).as("tok"))
    val fullCand = toks.select(col("source"), col("doc_id").as("a"), col("tok"))
      .join(toks.select(col("source"), col("doc_id").as("b"), col("tok")),
        Seq("source", "tok"))
      .filter(col("a") < col("b")).select("a", "b").distinct().count()
    val df_ = toks.groupBy("tok").agg(count(lit(1)).as("df"))
    val w2 = Window.partitionBy("doc_id").orderBy(col("df"), col("tok"))
    val prefix = toks.join(df_, "tok")
      .withColumn("sz", count(lit(1)).over(Window.partitionBy("doc_id")))
      .withColumn("rk", row_number().over(w2))
      .filter(col("rk") <= col("sz") - ceil(col("sz") * 0.6) + 1)
    val prefCand = prefix
      .select(col("source"), col("doc_id").as("a"), col("tok"))
      .join(prefix.select(col("source"), col("doc_id").as("b"), col("tok")),
        Seq("source", "tok"))
      .filter(col("a") < col("b")).select("a", "b").distinct().count()
    assert(fullCand == 80L * 79 / 2, s"hot token should pair everyone: $fullCand")
    assert(prefCand == 1L, s"prefix candidates should collapse: $prefCand")
  }

  test("source overlap top-V cap: exact at V >= vocab, bounded below it") {
    val dir = TestSpark.sfDir
    // V past the corpus's whole vocabulary: the cap selects every
    // (source, token) pair the exact query pairs on, so the capped
    // operator IS the exact one — the agreement that licenses swapping
    // it in at scale
    val exact = SparkEntry.queries("txt_source_overlap")(spark, dir)
      .collect().map(_.toSeq).toSeq
    val wide = graft.operators.DedupOps.sourceJaccardTopV(spark, dir, 1000)
      .collect().map(_.toSeq).toSeq
    assert(wide == exact)
    // the contract V = 10 genuinely prunes: every capped vocabulary is
    // exactly V (each source has >= V distinct tokens here), so the
    // join input is sources x V regardless of corpus vocabulary
    val capped = SparkEntry.queries("txt_source_overlap_topv")(spark, dir)
      .collect()
    assert(capped.nonEmpty)
    capped.foreach { r =>
      assert(r.getLong(3) == graft.operators.DedupOps.SourceOverlapTopV
        && r.getLong(4) == graft.operators.DedupOps.SourceOverlapTopV)
      assert(r.getLong(2) <= graft.operators.DedupOps.SourceOverlapTopV)
    }
  }

  test("comboJoin is pigeonhole-exact and exactly-once on adversarial " +
    "sketches (planted boundary pairs + random corpus vs brute force)") {
    // the 62/6 split is 11,11,10,10,10,10-bit blocks at offsets
    // 0,11,22,32,42,52 — plant pairs whose differing bits land in
    // EXACTLY hammingMax distinct blocks (the pigeonhole boundary:
    // they agree on exactly blocks-hammingMax blocks, so exactly ONE
    // combination key catches them), pairs differing inside one block,
    // a Hamming-4 pair that must be filtered even when it collides,
    // and multi-combo pairs that must surface exactly once
    val base = 0x2AB54FF00123456L // arbitrary 62-bit value
    val planted = Seq(
      base,
      base ^ (1L << 0) ^ (1L << 11) ^ (1L << 22), // blocks {0,1,2}, ham 3
      base ^ (1L << 61),                          // block {5}, ham 1
      base ^ (1L << 0) ^ (1L << 1) ^ (1L << 11) ^ (1L << 22), // ham 4 vs base
      base ^ (1L << 10) ^ (1L << 21) ^ (1L << 31) // block-END bits {0,1,2}
    )
    val rnd = new scala.util.Random(11)
    // random corpus clustered around few centers so near pairs exist
    val centers = Seq.fill(8)(rnd.nextLong() & ((1L << 62) - 1))
    val randoms = Seq.fill(200) {
      val c = centers(rnd.nextInt(centers.size))
      (0 until rnd.nextInt(4)).foldLeft(c)((s, _) => s ^ (1L << rnd.nextInt(62)))
    }
    val all = (planted ++ randoms).zipWithIndex
      .map { case (sh, i) => (i.toLong, sh) }
    val df = all.toDF("doc_id", "simhash")
    val got = DedupOps.comboJoin(df, bits = 62, hammingMax = 3,
        blocks = DedupOps.Simhash64Blocks, pred = _ < _)
      .select("a_id", "b_id", "hamming")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val want = for {
      (ia, sa) <- all; (ib, sb) <- all if ia < ib
      h = java.lang.Long.bitCount(sa ^ sb) if h <= 3
    } yield (ia, ib, h)
    // exactly-once: no duplicate surviving pairs from multi-combo hits
    assert(got.length == got.distinct.length)
    assert(got.toSet == want.toSet)
    // the planted boundary pair and the in-block pair are present; the
    // Hamming-4 pair is not
    assert(got.toSet.contains((0L, 1L, 3)))
    assert(got.toSet.contains((0L, 2L, 1)))
    assert(!got.exists(p => p._1 == 0L && p._2 == 3L))
  }

  test("eager CC loop == a driver-side simulation of the bounded (P,S) " +
    "schedule, below and at the fixpoint") {
    // the early-exit loop must compute exactly the bounded schedule the
    // DuckDB oracle unrolls (ccPairsSql): at a cap BELOW the fixpoint
    // the labels are the same under-merged state, and at the fixpoint
    // post-fixpoint pairs are the identity, so early exit is invisible
    // in the answer. The reference is plain Scala over the edge list:
    // per pair, a min over each node's closed neighbourhood, then
    // StarCcJumps pointer jumps label(label(v)).
    import spark.implicits._
    def simulate(ids: Seq[Long], es: Seq[(Long, Long)],
        pairs: Int): Map[Long, Long] = {
      val nbrs = es.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
      var l = ids.map(v => v -> v).toMap
      for (_ <- 1 to pairs) {
        l = ids.map(v => v -> (v +: nbrs.getOrElse(v, Nil)).map(l).min).toMap
        for (_ <- 1 to DedupOps.StarCcJumps)
          l = l.map { case (v, c) => v -> l(c) }
      }
      l
    }
    def chainEdges(ids: Seq[Long]): Seq[(Long, Long)] =
      ids.zip(ids.tail).flatMap { case (a, b) => Seq(a -> b, b -> a) }
    // a monotone 40-chain and two shuffled-id chains (the adversarial
    // geometry) in one graph, plus an isolated node
    val rnd = new scala.util.Random(7)
    val mono = (0L until 40L)
    val shuffled = rnd.shuffle((100L until 160L).toList)
    val chains = Seq(mono, shuffled.take(25), shuffled.drop(25))
    val ids = chains.flatten :+ 500L
    val es = chains.flatMap(chainEdges)
    val nodes = ids.toDF("doc_id")
    val edges = es.toDF("n", "m")
    val componentMin = chains.flatMap(c => c.map(_ -> c.min)).toMap +
      (500L -> 500L)
    for (cap <- Seq(1, 2, 3)) {
      val (df, segments, converged) = DedupOps.ccPsLoop(nodes, edges, cap)
      val got = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val want = simulate(ids, es, cap)
      assert(segments == cap && !converged, s"cap $cap: $segments segments")
      assert(want != componentMin, s"cap $cap must stay under-merged")
      assert(got == want, s"cap $cap: loop $got != simulation $want")
    }
    val (df, segments, converged) = DedupOps.ccPsLoop(nodes, edges, 32)
    val got = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(converged && segments < 32)
    assert(got == simulate(ids, es, segments))
    assert(got == simulate(ids, es, 32), "post-fixpoint pairs moved labels")
    assert(got == componentMin)
    graft.core.Core.releaseShared()
  }

  test("global top-K report == brute-force per-doc top-K on the corpus") {
    // the sketch-level pool pruning (topm + K+1 pool cut) must be
    // invisible in the answer: compare against per-doc brute force
    // over the collected sketches, including tie order (hamming, id)
    val k = DedupOps.SimhashTopK
    val sks = DedupOps.simhash64Sketches(spark, TestSpark.sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val want = sks.flatMap { case (d, sh) =>
      sks.filter { case (o, osh) =>
          o != d && java.lang.Long.bitCount(sh ^ osh) <= DedupOps.Simhash64HammingMax }
        .map { case (o, osh) => (o, java.lang.Long.bitCount(sh ^ osh)) }
        .sortBy { case (o, h) => (h, o) }
        .take(k).zipWithIndex
        .map { case ((o, h), i) => (d, i + 1, o, h) }
    }.toSet
    val got = DedupOps.queries("dedup_simhash_topk")(spark, TestSpark.sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3)))
      .toSet
    assert(want.nonEmpty, "gate corpus has no near-dup neighbors at all")
    assert(got == want)
    graft.core.Core.releaseShared()
  }

  test("global top-K report == brute force on a HUB sketch-degree corpus") {
    // round-12 verdict #5: the pool cut's exactness argument had only
    // been exercised on degree-benign sketch graphs. ScaleData's hub
    // generator (one template doc + token-edit variants) realizes a
    // heavy-tailed sketch-degree geometry — the (1 + degree)·(K+1)
    // pool-window input — at in-test size here; the same generator
    // ran at 200k docs in the topkhub census (docs/SCALE.md).
    val dir = java.nio.file.Files.createTempDirectory("graft_hub").toString
    ScaleData.hubDocsDf(spark, TestSpark.sfDir, nDocs = 1500,
        nVariants = 700, nSources = 10, variant = 11)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val k = DedupOps.SimhashTopK
    val sks = DedupOps.simhash64Sketches(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    // the hub must have MATERIALIZED: some sketch value with many near
    // sketch VALUES (the degree term, not the same-sketch group size)
    val distinctSh = sks.map(_._2).distinct
    val maxDeg = distinctSh.map { sh =>
      distinctSh.count(o => o != sh &&
        java.lang.Long.bitCount(sh ^ o) <= DedupOps.Simhash64HammingMax)
    }.max
    assert(maxDeg >= 30,
      s"hub did not materialize: max sketch degree $maxDeg")
    val want = sks.flatMap { case (d, sh) =>
      sks.filter { case (o, osh) =>
          o != d && java.lang.Long.bitCount(sh ^ osh) <= DedupOps.Simhash64HammingMax }
        .map { case (o, osh) => (o, java.lang.Long.bitCount(sh ^ osh)) }
        .sortBy { case (o, h) => (h, o) }
        .take(k).zipWithIndex
        .map { case ((o, h), i) => (d, i + 1, o, h) }
    }.toSet
    val got = DedupOps.queries("dedup_simhash_topk")(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3)))
      .toSet
    assert(want.nonEmpty)
    assert(got == want)
    graft.core.Core.releaseShared()
  }

  test("top-K core == brute force on a PRESCRIBED-degree sketch hub") {
    // degree ≫ K by construction (500 distinct near values around one
    // template — text cannot realize this; see hubSketchesDf) so the
    // nearTop and pool K+1 cuts actually discard thousands of
    // candidates; any exactness error in either cut surfaces here
    val k = DedupOps.SimhashTopK
    val sk = ScaleData.hubSketchesDf(spark, hubDegree = 500,
      membersPerValue = 2, hubMembers = 300, nBackground = 1500)
    val sks = sk.collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(sks.map(_._1).distinct.length == sks.length, "doc_id collision")
    val want = sks.flatMap { case (d, sh) =>
      sks.filter { case (o, osh) =>
          o != d && java.lang.Long.bitCount(sh ^ osh) <= DedupOps.Simhash64HammingMax }
        .map { case (o, osh) => (o, java.lang.Long.bitCount(sh ^ osh)) }
        .sortBy { case (o, h) => (h, o) }
        .take(k).zipWithIndex
        .map { case ((o, h), i) => (d, i + 1, o, h) }
    }.toSet
    val got = DedupOps.simhashTopKGlobalOf(sk)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3)))
      .toSet
    assert(want.nonEmpty)
    assert(got == want)
    graft.core.Core.releaseShared()
  }

  test("the CC loop never flips AQE on the caller's session while " +
    "pipeline_dedup builds and collects") {
    // ccPsLoop runs its segments with AQE off in a CLONED session; a
    // concurrent observer of THIS session's conf must never see the
    // flip. Poll every ms across the whole build and collect.
    val prev = spark.conf.getOption("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    val flips = new java.util.concurrent.atomic.AtomicInteger(0)
    val polls = new java.util.concurrent.atomic.AtomicInteger(0)
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    val poller = new Thread(() => {
      while (!done.get()) {
        polls.incrementAndGet()
        if (spark.conf.get("spark.sql.adaptive.enabled") != "true")
          flips.incrementAndGet()
        Thread.sleep(1)
      }
    })
    poller.setDaemon(true)
    poller.start()
    try {
      val rows = SparkEntry.queries("pipeline_dedup")(spark, TestSpark.sfDir)
        .collect()
      assert(rows.nonEmpty)
    } finally {
      done.set(true)
      poller.join(2000)
      prev match {
        case Some(v) => spark.conf.set("spark.sql.adaptive.enabled", v)
        case None => spark.conf.unset("spark.sql.adaptive.enabled")
      }
      graft.core.Core.releaseShared()
    }
    assert(polls.get() > 50, s"poller only sampled ${polls.get()} times")
    assert(flips.get() == 0,
      s"caller session observed AQE off ${flips.get()}/${polls.get()} polls")
  }
}
