package graft

import graft.core.Core
import graft.operators.DedupOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Times the two branches of the contract CC rounds against each other:
  * the one-task kernel (`DedupOps.ccOneTask`) and the relational chain
  * (`DedupOps.ccUnrolled`), at `CcRounds`, on the same input. This is
  * the run that sets `CcOneTaskDocs` (docs/SCALE.md). Not a spec: no
  * suite runs it.
  *
  * {{{
  * # the SimHash edges of fixture corpora, one directory each
  * SPARK_DRIVER_MEM=2g sbt "Test/runMain graft.CcCrossover real \
  *   <sf0.001 dir> <sf0.1 dir>"
  * # clustered synthetic graphs: documents, then rows per document
  * SPARK_DRIVER_MEM=2g sbt "Test/runMain graft.CcCrossover synthetic \
  *   100000 64"
  * }}}
  * Each branch runs `Reps` times into the `noop` sink, alternating; the
  * line printed per input gives the loop rows and each branch's median
  * seconds, or the error that stopped it. */
object CcCrossover {
  private val Reps = 3

  def main(args: Array[String]): Unit = {
    val s = Core.localSession()
    args.toList match {
      case "real" :: dirs => dirs.foreach { dir =>
        val nodes = Core.table(s, dir, "documents").select("doc_id")
        val pairs = DedupOps.queries("dedup_simhash")(s, dir)
          .select(col("a_id").as("n"), col("b_id").as("m"))
        report(s, dir, nodes,
          pairs.unionByName(pairs.select(col("m").as("n"), col("n").as("m"))))
      }
      case "synthetic" :: docs :: perDoc :: Nil =>
        val (n, d) = (docs.toLong, perDoc.toInt)
        val (nodes, edges) = clustered(s, n, d)
        report(s, s"synthetic n=$n rows/doc=$d", nodes, edges)
      case _ => sys.error("usage: real <dir>... | synthetic <docs> <rows/doc>")
    }
    s.stop()
  }

  /** `n` documents in clusters of 64 consecutive ids, each document with
    * `perDoc / 2` hashed partners in its cluster, both directions. */
  private def clustered(s: SparkSession, n: Long, perDoc: Int)
      : (DataFrame, DataFrame) = {
    val nodes = s.range(n).select(col("id").as("doc_id"))
    val half = s.range(n * (perDoc / 2)).select(
      (col("id") / (perDoc / 2)).cast("long").as("n"),
      (col("id") % (perDoc / 2)).as("r"))
      .select(col("n"), (col("n") - col("n") % 64 +
        pmod(xxhash64(col("n"), col("r")), lit(64L))).as("m"))
      .filter(col("m") =!= col("n") && col("m") < n)
    (nodes, half.unionByName(half.select(col("m").as("n"), col("n").as("m"))))
  }

  private def report(s: SparkSession, tag: String, nodes: DataFrame,
      edges: DataFrame): Unit = {
    val loopRows = edges.count() + nodes.count()
    def time(run: => DataFrame): Either[String, Double] =
      try {
        val t0 = System.nanoTime()
        run.write.format("noop").mode("overwrite").save()
        Right((System.nanoTime() - t0) / 1e9)
      } catch { case e: Throwable => Left(e.getClass.getSimpleName) }
      finally Core.releaseShared()
    val runs = (1 to Reps).map { _ =>
      (time(DedupOps.ccOneTask(nodes, edges, DedupOps.CcRounds)),
        time(DedupOps.ccUnrolled(nodes, edges, DedupOps.CcRounds)))
    }
    def median(xs: Seq[Either[String, Double]]): String =
      xs.collectFirst { case Left(e) => e }.getOrElse {
        val v = xs.collect { case Right(x) => x }.sorted
        f"${v(v.size / 2)}%.2f s"
      }
    println(s"[crossover] $tag: ${nodes.count()} docs, $loopRows loop " +
      s"rows, kernel ${median(runs.map(_._1))}, " +
      s"unrolled ${median(runs.map(_._2))}, " +
      s"heap ${Runtime.getRuntime.maxMemory >> 20} MB")
  }
}
