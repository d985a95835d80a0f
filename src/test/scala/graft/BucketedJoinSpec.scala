package graft

import graft.core.Core
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Bucketing: the pre-shuffle co-location story. Writing both join
  * sides bucketed by the join key lets the sort-merge join read
  * bucket-aligned files with NO Exchange on either side — at 100 TB
  * this converts every recurring fact-fact join on that key from a
  * full shuffle into a local merge. */
class BucketedJoinSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("bucketed-by-key tables join without a shuffle exchange") {
    val dir = TestSpark.sfDir
    spark.sql("DROP TABLE IF EXISTS li_b")
    spark.sql("DROP TABLE IF EXISTS ord_b")
    Core.table(spark, dir, "lineitem")
      .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .mode("overwrite").saveAsTable("li_b")
    Core.table(spark, dir, "orders")
      .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .mode("overwrite").saveAsTable("ord_b")

    val joined = spark.table("li_b")
      .join(spark.table("ord_b"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"))

    val plan = joined.queryExecution.executedPlan.toString
    // the join itself must run on bucket-aligned reads: no shuffle
    // between the scans and the SortMergeJoin
    assert(plan.contains("SortMergeJoin") || plan.contains("BroadcastHashJoin"),
      plan)
    if (plan.contains("SortMergeJoin")) {
      val beforeAgg = plan.substring(plan.indexOf("SortMergeJoin"))
      assert(!beforeAgg.contains("Exchange hashpartitioning(l_orderkey"),
        s"unexpected shuffle on bucketed side:\n$plan")
      assert(!beforeAgg.contains("Exchange hashpartitioning(o_orderkey"),
        s"unexpected shuffle on bucketed side:\n$plan")
    }
    // and it computes the right answer
    val expected = Core.table(spark, dir, "lineitem")
      .join(Core.table(spark, dir, "orders"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderstatus").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = joined.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == expected)
    spark.sql("DROP TABLE IF EXISTS li_b")
    spark.sql("DROP TABLE IF EXISTS ord_b")
  }

  private val BroadcastThreshold = "spark.sql.autoBroadcastJoinThreshold"

  /** Runs `body` with the broadcast threshold at `value`, restoring the
    * session's value afterwards. */
  private def withBroadcastThreshold(value: String)(body: => Unit): Unit = {
    val before = spark.conf.get(BroadcastThreshold)
    try { spark.conf.set(BroadcastThreshold, value); body }
    finally spark.conf.set(BroadcastThreshold, before)
  }

  /** Runs `body` once per branch of the indexed incremental dedup:
    * "probe", where the small index is read into a broadcast probe
    * table, and "merge", the merge join that an index above the
    * threshold gets (forced here with -1). */
  private def forEachBranch(body: String => Unit): Unit = {
    body("probe")
    withBroadcastThreshold("-1")(body("merge"))
  }

  /** The indexed incremental dedup over `dir`, its executed plan, and
    * whether it returns exactly the contract query's rows. */
  private def indexedVsContract(dir: String,
      index: String): (String, Boolean) = {
    val indexed =
      IngestReference.dedupIncrementalIndexed(spark, dir, index)
    val plan = indexed.queryExecution.executedPlan.toString
    val contract = SparkEntry.queries("dedup_incremental")(spark, dir)
      .collect().map(_.toSeq).toSeq
    (plan, indexed.collect().map(_.toSeq).toSeq == contract)
  }

  test("incremental dedup over the pre-built inverted index: batch " +
    "ingest shuffles only the delta, corpus side reads bucket-aligned") {
    // sf0.001's documents as 4 files, so the index build has 4 writer
    // tasks
    val dir = java.nio.file.Files.createTempDirectory("graft_idx").toString
    Core.table(spark, TestSpark.sfDir, "documents").repartition(4)
      .write.parquet(s"$dir/documents.parquet")
    spark.sql("DROP TABLE IF EXISTS dedup_idx")
    // built ONCE (the recurring 100 TB ingest amortizes this across
    // every subsequent batch)
    graft.operators.DedupOps.buildIncrementalIndex(spark, dir, "dedup_idx")
    // one file per bucket (the bucket id is the file name's `_000NN`
    // suffix): a join opens each bucket once, not once per writer task
    val files = spark.table("dedup_idx").inputFiles.toSeq
    val bucketIds =
      files.map(f => "_(\\d{5})\\.".r.findFirstMatchIn(f).get.group(1))
    assert(files.nonEmpty && files.length <= 8, files)
    assert(bucketIds.distinct.length == files.length, files)

    // an index above the broadcast threshold (a corpus-scale one)
    withBroadcastThreshold("-1") {
      val (plan, matches) = indexedVsContract(dir, "dedup_idx")
      // The candidate join runs on (lang, tok). Exactly ONE exchange on
      // that key may exist — the DELTA side being shuffled into bucket
      // alignment. A second one would mean the corpus-side index is
      // being re-shuffled on every batch, which is the exact recurring
      // cost the index exists to eliminate.
      val langTokExchanges =
        "Exchange hashpartitioning\\(lang".r.findAllIn(plan).size
      assert(langTokExchanges <= 1,
        s"corpus-side index re-shuffled on ingest:\n$plan")
      // and the index really is read through its buckets, not as a
      // plain file scan that would force the join to re-shuffle both
      // sides
      assert(plan.contains("SelectedBucketsCount") ||
        plan.contains("Bucketed: true"),
        s"index table not read bucket-aligned:\n$plan")
      assert(plan.contains("SortMergeJoin"),
        s"an index above the broadcast threshold must merge-join (a " +
          s"broadcast would be driver-bound at corpus scale):\n$plan")
      // result-identical to the contract query (same corpus, same batch
      // boundary, same threshold)
      assert(matches)
    }
    spark.sql("DROP TABLE IF EXISTS dedup_idx")
  }

  test("incremental dedup over an index below the broadcast threshold " +
    "broadcasts the index: neither side shuffles on the join key") {
    spark.sql("DROP TABLE IF EXISTS dedup_idx_bc")
    graft.operators.DedupOps.buildIncrementalIndex(spark, TestSpark.sfDir,
      "dedup_idx_bc")
    val (plan, matches) = indexedVsContract(TestSpark.sfDir, "dedup_idx_bc")
    // the index was read once into a broadcast probe table: the plan
    // decides each doc in a projection, with no join and no read of the
    // index's files, and nothing shuffles on the candidate key
    assert(!plan.contains("Join"), plan)
    assert(!plan.contains("dedup_idx_bc"), plan)
    assert(!plan.contains("Exchange hashpartitioning(lang"), plan)
    assert(matches)
    spark.sql("DROP TABLE IF EXISTS dedup_idx_bc")
  }

  test("indexed incremental dedup decides every arriving doc exactly " +
    "once and matches the contract on edge inputs") {
    import spark.implicits._
    // (doc_id, lang, source, text): corpus = src0..src9, arriving =
    // src10+ (the contract's batch boundary)
    val corpus = Seq(
      (1L, "en", "src0", "the quick brown fox jumps"),
      (2L, "en", "src1", "a slow green turtle walks home"),
      (3L, "de", "src2", "der schnelle braune fuchs"),
      (4L, "en", "src3", null))
    // each case: its documents, and the dup_of it must decide for some
    // of its arriving docs (None = new)
    val cases = Seq[(String, Seq[(Long, String, String, String)],
        Map[Long, Option[Long]])](
      ("null text, unindexed lang, empty text", corpus ++ Seq(
        (10L, "en", "src10", "the quick brown fox jumps"),
        (11L, "en", "src11", null),
        (12L, "xx", "src12", "the quick brown fox jumps"),
        (13L, "en", "src13", "a slow green turtle walks"),
        (14L, "en", "src14", "")),
        Map(10L -> Some(1L), 11L -> None, 12L -> None, 13L -> Some(2L),
          14L -> None)),
      ("nothing matches", corpus ++ Seq(
        (20L, "en", "src10", "entirely unrelated words here"),
        (21L, "de", "src11", "ganz andere woerter")),
        Map(20L -> None, 21L -> None)),
      ("empty batch", corpus, Map.empty[Long, Option[Long]]),
      // a null lang matches nothing, not even a null-lang corpus doc of
      // the same text; the empty text is the single token "" and
      // matches a corpus doc that is "" too
      ("null lang, empty text against an empty corpus doc", corpus ++ Seq(
        (0L, null, "src4", "the quick brown fox jumps"),
        (6L, "en", "src5", ""),
        (30L, null, "src10", "the quick brown fox jumps"),
        (31L, "de", "src11", "der schnelle braune fuchs"),
        (32L, "en", "src12", "")),
        Map(30L -> None, 31L -> Some(3L), 32L -> Some(6L))),
      ("unicode-heavy tokens", corpus ++ Seq(
        (7L, "ja", "src6", "東京 の 天気 は 晴れ 😀"),
        (8L, "fr", "src7", "naïve café über straße ǅemal"),
        (40L, "ja", "src10", "東京 の 天気 は 晴れ 😀"),
        (41L, "fr", "src11", "NAÏVE CAFÉ ÜBER STRASSE ǅemal"),
        (42L, "fr", "src12", "Naïve Café Über Straße ǅEMAL"),
        (43L, "ja", "src13", "大阪 の 天気 は 雨 😀")),
        // 41: "strasse" is not "straße", 4/6 >= 0.6; 43: 4/8 < 0.6
        Map(40L -> Some(7L), 41L -> Some(8L), 42L -> Some(8L),
          43L -> None)),
      ("a batch of all-identical texts", corpus ++
        (50L to 55L).map(id =>
          (id, "en", s"src${id - 40}", "a slow green turtle walks home")),
        (50L to 55L).map(_ -> Some(2L)).toMap),
      // 3 shared of 4 and 4 distinct tokens: 3 / 5 == 0.6 qualifies
      ("a Jaccard of exactly 0.6", corpus ++ Seq(
        (9L, "en", "src8", "alpha beta gamma delta"),
        (60L, "en", "src10", "alpha beta gamma epsilon"),
        (61L, "en", "src11", "alpha beta zeta epsilon")),
        Map(60L -> Some(9L), 61L -> None)),
      // both corpus docs qualify (8: 5/6, 9: 5/5): the lower c_id wins,
      // not the closer match
      ("two qualifying candidates", corpus ++ Seq(
        (8L, "en", "src8", "one two three four five six"),
        (9L, "en", "src9", "one two three four five"),
        (70L, "en", "src10", "one two three four five")),
        Map(70L -> Some(8L))))
    for ((name, docs, expect) <- cases) {
      val dir = java.nio.file.Files.createTempDirectory("graft_incr").toString
      docs.toDF("doc_id", "lang", "source", "text")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      spark.sql("DROP TABLE IF EXISTS dedup_idx_edge")
      graft.operators.DedupOps.buildIncrementalIndex(spark, dir,
        "dedup_idx_edge")
      val contract = SparkEntry.queries("dedup_incremental")(spark, dir)
        .collect().map(_.toSeq).toSeq
      Core.releaseShared()
      val arriving = docs.filter(_._3.drop(3).toInt >= 10).map(_._1)
      val byBranch = scala.collection.mutable.Map.empty[String, Seq[Seq[Any]]]
      forEachBranch { branch =>
        val df = IngestReference
          .dedupIncrementalIndexed(spark, dir, "dedup_idx_edge")
        val plan = df.queryExecution.executedPlan.toString
        if (branch == "probe") assert(!plan.contains("Join"), s"$name:\n$plan")
        else assert(plan.contains("SortMergeJoin"), s"$name:\n$plan")
        val indexed = df.collect().map(_.toSeq).toSeq
        assert(indexed.map(_.head) == arriving.sorted,
          s"$name, $branch: $indexed")
        assert(indexed == contract, s"$name, $branch: $indexed vs $contract")
        byBranch(branch) = indexed
      }
      assert(byBranch("probe") == byBranch("merge"), name)
      val decided = contract.map(r => r.head -> Option(r(2))).toMap
      for ((id, dup) <- expect)
        assert(decided(id) == dup, s"$name: doc $id decided ${decided(id)}")
    }
    spark.sql("DROP TABLE IF EXISTS dedup_idx_edge")
  }
}
