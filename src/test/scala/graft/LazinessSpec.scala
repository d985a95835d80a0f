package graft

import org.scalatest.funsuite.AnyFunSuite

/** Systemic laziness guarantee: constructing ANY contract query must
  * not execute data. Outside the documented exemptions below, a build
  * runs no job at all: table schemas and the routers' row counts come
  * from Parquet footers read on the driver (`Core.table`,
  * `Core.footerRows`), so any job during construction means a builder
  * ran an eager action (the round-1 dedup_near defect, now a
  * regression guard for every query). */
class LazinessSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("every contract query builds without a multi-stage job") {
    // One documented exemption class: iterative TRAINING operators
    // (txt_bpe_*) materialize bounded per-round argmax state at build —
    // the MLlib iterative-estimator pattern (KMeans collects centers
    // every Lloyd round). Their jobs are 1-row TakeOrdered collects
    // over a cached vocabulary histogram, never corpus-scaled results;
    // see TextOps.bpeTrainOf for why the lazy alternatives are worse
    // (exponential plan growth / AQE eager checkpoint stages). Every
    // other query is zero-multi-stage-job at build.
    // sim_ivfpq_topk trains two quantizers (IvfK coarse centroids +
    // PqM·PqK sub-centroids per Lloyd round) — same bounded-state
    // collect pattern; its fully-lazy form measured 2,671 broadcast
    // exchanges from multiplicative plan duplication
    // pipeline_dedup / pipeline_full: their global CC loop (ccPsLoop)
    // runs EAGERLY at build — per-segment localCheckpoints, each
    // carrying the fixpoint-certifying label sum as observed metrics,
    // AQE off for the loop's fixed-shape label joins. The build-time
    // jobs are labels-only (2 longs per doc, never text); the eager
    // loop replaced the lazy-truncated AQE chain whose per-segment
    // driver re-planning was the measured dominant manifest cost
    // (docs/PLANS.md round 12), and early-exits at the corpus's own
    // measured fixpoint (7 segments at sf0.01 vs the 17-pair cap).
    // sim_pq_topk (round 16): flat-PQ sub-centroids now train via the
    // same bounded driver-side literal rounds as sim_ivfpq_topk
    // (pqCentroidsLit — the measured 5th decade retired the relational
    // chain's n·M exchanges); identical bounded-state rationale.
    // Round 18 (VERDICT r17 #1, the codegen/plan-size floor):
    // kmeansCentroids hands its trained k-row state to consumers as a
    // driver-side LITERAL relation — the same bounded-state collect
    // class as sim_ivfpq_topk/sim_pq_topk's quantizer training (k rows
    // of one array, never corpus-scaled results). That moves the
    // training execution to build time for every k-means consumer, so
    // sim_ivf_knn, sim_centroid_assign, dedup_semdedup and
    // sim_ann_ivf_rerank are exempt; their former lazy plans carried
    // the full nested training lineage into every consumer stage
    // (1,137-line formatted plans, 2-3 MiB task binaries —
    // OPTIMIZATION_r18.md).
    // dedup_near_auto / txt_containment: the df-skew rule reads its
    // statistic at build from one bounded 2048-doc sample job
    // (DedupOps.dfSkewOf), so the plan holds only the branch it runs —
    // a plan holding both carried the dead branch's df-ranking window,
    // salted candidate join and verify passes through every execution.
    val exempt = Set("txt_bpe_vocab", "txt_bpe_vocab64", "txt_bpe_encode",
      "sim_pq_topk",
      "sim_ivfpq_topk", "dedup_semdedup", "sim_ann_ivf_rerank",
      "sim_ivf_knn", "sim_centroid_assign",
      "dedup_near_auto", "txt_containment",
      "pipeline_tokenize", "pipeline_dedup", "pipeline_full")
    val tracker = spark.sparkContext.statusTracker
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1)
      .filterNot(kv => exempt(kv._1)).flatMap {
      case (name, fn) =>
        val before = tracker.getJobIdsForGroup(null).toSet
        fn(spark, TestSpark.sfDir)
        val jobs = tracker.getJobIdsForGroup(null).toSet -- before
        if (jobs.nonEmpty) Some(name -> jobs.size)
        else None
    }
    assert(offenders.isEmpty,
      s"eager jobs at build time: $offenders")
  }
}
