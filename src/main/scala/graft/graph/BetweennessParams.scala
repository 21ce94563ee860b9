package graft.graph

/** Single source of truth for the sampled-betweenness configuration and
  * its accuracy contract — shared by the `betweenness_top50` query
  * registration ([[graft.SparkEntry]]), the DuckDB replay oracle (same
  * source draw in SQL) and the CI accuracy floors (PropertyOracleSpec),
  * the [[graft.pipeline.IvfParams]] discipline.
  *
  * Exact betweenness is O(V·E) — a non-starter at 100 TB; sampling k
  * sources (Bader et al. 2007) with a depth bound is the published
  * scalable estimator. The floors below quantify what that buys: they
  * are CONTRACTS derived from values measured ON sf0.001 against exact
  * Brandes (all sources, unbounded depth, same directed-dependency
  * definition), set below the measurement so jitter passes but a real
  * estimator regression (source draw, σ/δ accumulation, depth handling)
  * fails CI loudly.
  */
object BetweennessParams {
  /** Deterministic md5-argmin supplier sources drawn for the estimator. */
  val NumSources = 4
  /** Depth bound of the sampled estimator (levels of Brandes forward). */
  val MaxDepth = 4

  /** Accuracy of the sampled estimator vs exact Brandes on sf0.001
    * (the scale where exact — all ~210 sources, unbounded depth — is
    * cheap enough for CI). Measured by PropertyOracleSpec live.
    */
  object AccuracySf0001 {
    /** Measured |top50(sampled) ∩ top50(exact)| = 50 (4 sources of ~210,
      * depth 4) with ties decided to a 256-ulp tolerance, the same under
      * AQE on/off, coalescing off, broadcast joins off and 7 shuffle
      * partitions (plan-order summation noise measured ≤ 33 ulps). The
      * exact top-50 tail is heavily tied; with exact-equality ties the
      * figure followed the plan (24–50). Floor 27. */
    val MeasuredTop50Overlap = 50
    val Top50OverlapFloor = 27
    /** Measured Kendall tau-b = 0.937 over exact's top-50 vertices, same
      * tie rule and plans (conc 431 / disc 14; ties dominate — tieE 780,
      * tieS 780 of 1225 pairs). ×1000, truncated. */
    val MeasuredTauMilli = 937
    /** Floor on tau-b (scaled ×1000). */
    val TauMilliFloor = 700
  }
}
