package graft

import org.scalatest.funsuite.AnyFunSuite

/** Surface-wide physical-plan audit: EVERY declared query key is planned
  * at sf0.001 and screened for the one plan shape that is categorically
  * fatal at 100 TB — an unbounded `CartesianProduct`. PlanSpec pins the
  * *intended* plan of individual keys; this sweep guarantees no key —
  * present or future — ships a quadratic pair space by accident. A new
  * operator whose join degenerates (e.g. a lost equi-key after a refactor)
  * fails here with its name, not in production.
  *
  * Keys in `boundedCartesian` are the audited exceptions: each is a
  * cartesian over frames bounded BY CONSTRUCTION (documented per key), so
  * the product is O(model²), never O(corpus²). The sweep still asserts
  * every OTHER key is cartesian-free, and that the allowlist doesn't rot:
  * an allowlisted key whose plan no longer contains a cartesian must be
  * removed (it would silently shadow a future regression).
  */
class PlanSweepSpec extends AnyFunSuite {
  private val spark = SparkFixture.spark

  /** key → why its cartesian is bounded (reviewed, not waived). */
  private val boundedCartesian: Map[String, String] = Map.empty

  test("no declared query plans an unbounded CartesianProduct " +
      s"(${SparkEntry.queries.size} keys swept)") {
    val offenders = scala.collection.mutable.ListBuffer.empty[String]
    val staleAllow = scala.collection.mutable.ListBuffer.empty[String]
    SparkEntry.queries.keys.toSeq.sorted.foreach { k =>
      val p = SparkEntry.queries(k)(spark, SparkFixture.sf0001)
        .queryExecution.executedPlan.toString
      val hasCartesian = p.contains("CartesianProduct")
      if (boundedCartesian.contains(k)) {
        if (!hasCartesian) staleAllow += k
      } else if (hasCartesian) offenders += k
      // iterative ops persist localCheckpoint generations during plan
      // construction — drain per key, the Verify/Bench discipline
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }
    assert(offenders.isEmpty,
      s"unbounded CartesianProduct in: ${offenders.mkString(", ")} — " +
        "restore the equi-join key, or (only with a boundedness proof) " +
        "add to boundedCartesian with the argument")
    assert(staleAllow.isEmpty,
      s"allowlisted keys no longer plan a cartesian: " +
        s"${staleAllow.mkString(", ")} — remove them from boundedCartesian")
  }

  /** key → why its un-partitioned window frame is bounded BY
    * CONSTRUCTION (reviewed, not waived). A window with no partition key
    * funnels its whole input through ONE task — fine over a model-sized
    * stats frame, fatal over the corpus (the hazard graft.api.Overlap
    * exists to avoid). Every entry names the bounded frame. */
  private val boundedGlobalWindow: Map[String, String] = Map(
    "llm_dsir_sample" -> "rank over the ≤k-row top-k selection (dsirSelect: per-partition heaps, never a global sort)",
    "llm_dsir_select" -> "rank over the ≤k-row top-k selection",
    "llm_filter_funnel" -> "rank over the per-stage funnel stats frame (|stages| rows)",
    "llm_heavy_hitters_cms" -> "rank over the ≤k heavy-hitter rows probed from the d×w sketch",
    "llm_mixture_apply" -> "largest-remainder rank over the per-source share frame (|sources| rows)",
    "llm_mixture_plan" -> "largest-remainder rank over the per-source share frame",
    "llm_pq_encode" -> "codebook ordinal over the k-means centroid frame (k ≤ 256 rows)",
    "llm_quality_active_sample" -> "rank over the ≤k-row uncertainty selection (Quality.uncertaintySample)",
    "llm_quality_auc" -> "running totals over the score-bin frame (bounded bin count)",
    "llm_quality_pr_curve" -> "running totals over the threshold-bin frame",
    "llm_quality_top_features" -> "rank over the ≤k rows of TakeOrderedAndProject",
    "llm_sample_temperature" -> "per-source temperature weights (|sources| rows)",
    "llm_sim_topk_ivfpq" -> "codebook/centroid ordinals (k-means fit frames, ≤ 256 rows)",
    "llm_sim_topk_pq" -> "codebook ordinal over the centroid frame",
    "llm_vocab_coverage" -> "running coverage over FREQUENCY CLASSES — distinct freq values are ≤ ~√(2N) (Σ f·count(f) = N), a sub-linear stats frame, never tokens",
    "window_cumsum_global" -> "the Overlap two-phase prefix sum's TOTALS frame (≤ buckets rows by construction — the data-path window is group-partitioned)",
    "window_row_number_global" -> "the same Overlap totals frame (running count of ones)",
    "window_dense_rank_global" -> "the Overlap denseRank distinct-count TOTALS frame (≤ buckets rows; data-path dense_rank is group-partitioned)",
    "window_ntile_global" -> "the Overlap prefix-sum totals frame behind ntile's global row_number",
    "window_rank_stats_global" -> "the Overlap prefix-sum totals frame behind rankGlobal's key-level cum counts (the prefix machinery only touches the distinct-key frame)",
    "window_sessionize_global" -> "the Overlap prefix-sum totals frame behind the composed sessionizer (halo'd lag flags feed runningSum)"
  )

  test("no declared query plans an un-partitioned WindowExec outside " +
      "the reviewed bounded-frame allowlist") {
    import org.apache.spark.sql.execution.window.WindowExec
    val offenders = scala.collection.mutable.ListBuffer.empty[String]
    val staleAllow = scala.collection.mutable.ListBuffer.empty[String]
    SparkEntry.queries.keys.toSeq.sorted.foreach { k =>
      // sparkPlan = the physical plan BEFORE the AQE wrapper: typed
      // collect works without executing the query
      val hasGlobalWindow = SparkEntry.queries(k)(spark, SparkFixture.sf0001)
        .queryExecution.sparkPlan.collect {
          case w: WindowExec if w.partitionSpec.isEmpty => w
        }.nonEmpty
      if (boundedGlobalWindow.contains(k)) {
        if (!hasGlobalWindow) staleAllow += k
      } else if (hasGlobalWindow) offenders += k
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }
    assert(offenders.isEmpty,
      s"un-partitioned WindowExec in: ${offenders.mkString(", ")} — " +
        "partition the window (or route global order through " +
        "graft.api.Overlap), or add to boundedGlobalWindow with the " +
        "bounded-frame argument")
    assert(staleAllow.isEmpty,
      s"allowlisted keys no longer plan a global window: " +
        s"${staleAllow.mkString(", ")} — remove them from " +
        "boundedGlobalWindow")
  }
}
