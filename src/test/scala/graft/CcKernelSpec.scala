package graft

import graft.core.Core
import graft.operators.DedupOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.MapPartitions
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

/** The one-task CC kernel (`DedupOps.ccOneTask`) against the relational
  * rounds it replaces below one partition's rows (`ccUnrolled`) and the
  * driver-side k-round reference (`CcReference.labelsAfter`), on seeded
  * random graphs and the adversarial shapes of the contract rounds:
  * chains longer than k (all three must under-merge alike), isolated
  * nodes, one hub, shuffled ids, no edges, and edge endpoints missing
  * from the node set. Then the router: a pure rule over the documents'
  * footer row count, and the plan it returns. */
class CcKernelSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def rows(df: DataFrame): Seq[(Long, Long)] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq.sorted

  /** Symmetric edges: both directions of each pair. */
  private def sym(pairs: Seq[(Long, Long)]): Seq[(Long, Long)] =
    pairs.flatMap { case (a, b) => Seq((a, b), (b, a)) }

  /** (name, nodes, symmetric edges) — every graph the property checks. */
  private val graphs: Seq[(String, Seq[Long], Seq[(Long, Long)])] = {
    val rnd = new Random(15)
    def shuffledIds(n: Int): Seq[Long] =
      rnd.shuffle((0 until n).map(i => i * 7919L - 40000L))
    def chain(ids: Seq[Long]) = sym(ids.zip(ids.tail))
    val random = (1 to 6).map { g =>
      val ids = shuffledIds(20 + rnd.nextInt(40))
      val pairs = Seq.fill(ids.size * g / 4)(
        (ids(rnd.nextInt(ids.size)), ids(rnd.nextInt(ids.size))))
        .filter { case (a, b) => a != b }
      (s"random-$g", ids, sym(pairs))
    }
    val longChain = shuffledIds(14)
    val monotone = (100L until 113L).toSeq
    val hubIds = shuffledIds(30)
    val withIsolated = shuffledIds(25)
    val missing = Seq(5L, 9L, 14L, 20L)
    random ++ Seq(
      ("chain-shuffled-14", longChain, chain(longChain)),
      ("chain-monotone-13", monotone.reverse, chain(monotone)),
      ("hub", hubIds, sym(hubIds.tail.map(v => (hubIds.head, v)))),
      ("isolated", withIsolated, chain(withIsolated.take(8))),
      ("no-edges", shuffledIds(10), Seq.empty),
      ("extreme-ids", Seq(Long.MinValue, -1L, 0L, Long.MaxValue),
        sym(Seq((Long.MaxValue, 0L), (0L, Long.MinValue)))),
      // endpoints outside the node set: a path through a missing node,
      // an edge between two missing nodes, and an explicit self-edge
      // on a missing node
      ("missing-endpoints", missing,
        sym(Seq((5L, 3L), (3L, 9L), (14L, 1L), (7L, 8L))) ++
          Seq((2L, 2L), (2L, 20L), (20L, 2L))))
  }

  test("kernel labels == ccUnrolled == CcReference k-round labels on " +
    "random and adversarial graphs") {
    for ((name, nodeIds, edgeRows) <- graphs; k <- Seq(1, 3, DedupOps.CcRounds)) {
      val nodes = nodeIds.toDF("doc_id")
      val edges = edgeRows.toDF("n", "m")
      val reference = CcReference.labelsAfter(nodeIds, edgeRows, k)
        .toSeq.sorted
      val kernel = rows(DedupOps.ccOneTask(nodes, edges, k))
      val unrolled = rows(DedupOps.ccUnrolled(nodes, edges, k))
      Core.releaseShared()
      assert(unrolled == reference, s"$name k=$k: ccUnrolled vs reference")
      assert(kernel == reference, s"$name k=$k: kernel vs reference")
    }
  }

  test("chains longer than k under-merge alike in all three") {
    // a monotone chain of 13 nodes: after k rounds node i holds
    // max(first, i - k), so k < 12 leaves more than one cluster
    val ids = (100L until 113L).toSeq
    val edgeRows = sym(ids.zip(ids.tail))
    val k = 3
    val (nodes, edges) = (ids.toDF("doc_id"), edgeRows.toDF("n", "m"))
    val expected = ids.map(v => v -> math.max(100L, v - k))
    assert(expected.map(_._2).distinct.size > 1)
    assert(rows(DedupOps.ccOneTask(nodes, edges, k)) == expected)
    assert(rows(DedupOps.ccUnrolled(nodes, edges, k)) == expected)
    Core.releaseShared()
    assert(CcReference.labelsAfter(ids, edgeRows, k).toSeq.sorted == expected)
  }

  test("kernel == ccUnrolled on null ids and on zero rounds") {
    // a null doc_id, a null endpoint on each side, duplicate node rows
    val nodes = Seq(Option(1L), Option(2L), Option(2L), None)
      .toDF("doc_id")
    val edges = Seq((Option(1L), Option(2L)), (Option(2L), Option(1L)),
      (None, Option(2L)), (Option(3L), None)).toDF("n", "m")
    def asSet(df: DataFrame) = df.collect()
      .map(r => (Option(r.get(0)), Option(r.get(1)))).toSeq
      .sortBy(_.toString)
    for (k <- Seq(0, 1, 2)) {
      val kernel = asSet(DedupOps.ccOneTask(nodes, edges, k))
      val unrolled = asSet(DedupOps.ccUnrolled(nodes, edges, k))
      Core.releaseShared()
      assert(kernel == unrolled, s"k=$k")
    }
  }

  test("router rule: one task up to 5,000 documents, relational " +
    "rounds past it") {
    assert(DedupOps.ccFitsOneTask(0L))
    assert(DedupOps.ccFitsOneTask(5000L))
    assert(!DedupOps.ccFitsOneTask(5001L))
  }

  test("dedup_cluster_cc routes to the kernel on the fixture, with the " +
    "relational branch's labels") {
    val dir = TestSpark.sfDir
    val docs = Core.footerRows(spark, dir, "documents", Long.MaxValue)
    assert(DedupOps.ccFitsOneTask(docs))
    val routed = DedupOps.dedupClusterCC(spark, dir)
    // the closure inside the kernel's MapPartitions is a new instance
    // per build, so sameSemantics cannot match the kernel branch; the
    // MapPartitions node is the kernel's own, and the cached self-looped
    // edge relation (n, m) is the relational branch's
    def kernelNodes(df: DataFrame) = df.queryExecution.optimizedPlan
      .collect { case m: MapPartitions => m }.size
    def cachedEdges(df: DataFrame) = df.queryExecution.optimizedPlan
      .collect { case r: InMemoryRelation
        if r.output.map(_.name) == Seq("n", "m") => r }.size
    assert(kernelNodes(routed) == 1)
    assert(cachedEdges(routed) == 0)
    val nodes = Core.table(spark, dir, "documents").select("doc_id")
    val edges = DedupOps.queries("dedup_simhash")(spark, dir)
    val simhash = edges.select($"a_id".as("n"), $"b_id".as("m"))
    val unrolled = DedupOps.ccUnrolled(nodes,
      simhash.union(simhash.select($"m".as("n"), $"n".as("m"))),
      DedupOps.CcRounds).orderBy("doc_id")
    assert(kernelNodes(unrolled) == 0)
    assert(cachedEdges(unrolled) > 0) // one reference per round
    assert(!routed.sameSemantics(unrolled))
    assert(rows(routed) == rows(unrolled))
    Core.releaseShared()
  }
}
