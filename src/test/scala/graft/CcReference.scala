package graft

import graft.operators.{DedupOps, SkewJoin}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The plain-propagation connected-components reference the CC specs
  * compare against: one propagate round per iteration, no shortcut —
  * a different schedule from the production (P,S) loop
  * ([[DedupOps.ccPsLoop]]), so agreement at fixpoint pins that the
  * shortcut changes convergence speed, never the converged labels. */
object CcReference {

  /** The labels after exactly `k` synchronous min-label rounds, on the
    * driver over Scala maps: the nodes start labelled with their own
    * id, and each round label'(n) = min of label(m) over the edges and
    * node loops (n, m) whose `m` has a label. The k-round reference of
    * the contract rounds ([[DedupOps.ccUnrolled]] and
    * [[DedupOps.ccOneTask]]); edge endpoints missing from `nodes`
    * start unlabelled. */
  def labelsAfter(nodes: Seq[Long], edges: Seq[(Long, Long)],
      k: Int): Map[Long, Long] = {
    val loops = edges ++ nodes.map(v => (v, v))
    (1 to k).foldLeft(nodes.map(v => v -> v).toMap) { (l, _) =>
      loops.filter(e => l.contains(e._2))
        .groupMapReduce(_._1)(e => l(e._2))(math.min)
    }
  }

  /** Exact connected components over an ARBITRARY symmetric edge
    * relation, iterated to fixpoint — exact at any duplicate-chain
    * diameter (the contract query's unrolled
    * [[DedupOps.dedupClusterCC]] is exact only to diameter
    * [[DedupOps.CcRounds]]). `nodes` is one row per node id;
    * `edges(n, m)` must contain both directions of each edge. Each iteration is one
    * propagate pass plus one driver-side convergence check (a count —
    * this is a utility with a loop, deliberately outside the lazy
    * oracle contract); iterations = component diameter in the worst
    * case, and each one joins only the cached edge relation, so total
    * work is O(d·|E|) with the corpus read once. Labels decrease
    * monotonically, so "no label changed" certifies the true CC
    * fixpoint regardless of diameter. */
  def ccFixpoint(nodes: DataFrame, edges: DataFrame,
      maxRounds: Int = 64): DataFrame =
    ccFixpointWithRounds(nodes, edges, maxRounds)._1

  /** [[ccFixpoint]] plus the number of propagate rounds it ran
    * (including the final no-change round that certifies convergence) —
    * the number DedupOpsSpec asserts equals diameter + 1 on known
    * chains.
    *
    * Each round's labels are `localCheckpoint`ed, NOT persisted:
    * persist caches the DATA, but round i+1's LOGICAL plan still
    * nests round i's entire lineage (including the full candidate-join
    * derivation of `edges`, re-referenced every round), so analysis
    * time and plan strings grow O(rounds²) and an open-ended loop dies
    * on plan bloat long before data size matters — measured in the
    * round-11 census: 697 s for 12 rounds over a 5k-doc graph, then a
    * listener-thread heap OOM at 50k docs. `localCheckpoint` truncates
    * the plan to the materialized partitions (the GraphX/Pregel
    * iterative-lineage lesson), making every round's plan
    * constant-size. Eager (the default) so the convergence count never
    * recomputes a round. The per-round label checkpoints are a few MB
    * each and are freed with the JVM's block manager; the bounded
    * contract path ([[DedupOps.ccUnrolled]]) keeps its pure lazy shape — at
    * [[DedupOps.CcRounds]] the nesting is fixed and oracle-mirrored. */
  def ccFixpointWithRounds(nodes: DataFrame, edges: DataFrame,
      maxRounds: Int = 64): (DataFrame, Int) = {
    val e = DedupOps.withSelfLoops(nodes, edges)
      .repartition(SkewJoin.defaultParts(nodes.sparkSession), col("m"))
      .localCheckpoint()
    var labels = nodes.select(col("doc_id"), col("doc_id").as("cluster"))
      .localCheckpoint()
    var converged = false
    var i = 0
    while (!converged && i < maxRounds) {
      val next = DedupOps.ccRound(labels, e).localCheckpoint()
      val changed = next.join(labels.withColumnRenamed("cluster", "prev"),
        "doc_id")
        .filter(col("cluster") =!= col("prev"))
        .count()
      converged = changed == 0
      labels = next
      i += 1
    }
    (labels, i)
  }
}
