package perfbench

/** The frozen query lists of the two query workloads (perfbench/README.md
  * records how they were chosen and what they cost). */
object QuerySets {

  /** query-small, at sf0.001: a family-stratified share of the corpus,
    * two queries per small family (Relational, Windows, Scalars, TextVec),
    * six of ScaleOps (123 queries) and seven of Analytics (164): in each
    * family, the queries whose sf0.001 time in a recorded full-corpus run
    * was closest to the family's median among those that return rows on
    * the bench's tables, so each stands for a typical query of its family
    * and its output check pins a non-empty result. At this size nearly all of a query's time is
    * fixed per-query cost: analysis, optimizer rules, planning, codegen and
    * job/stage scheduling. */
  val small: Seq[String] = Seq(
    "q05_null_logic", "q12_left_join", "q35_ntile_dist", "q43b_except_all",
    "q47_math_funcs", "q50_json", "q66_similar_pairs", "q67_geomean",
    "q81_salted_join", "q139_regr_aggs", "q85_custdist", "q90_quantize_int8",
    "q91_redact_pii", "q89_profit_by_nation", "q156_corr_matrix",
    "q172_incremental_rollup", "q176_random_projection", "q184_zipf_slope",
    "q275_paired_t", "q251_decayed_sum", "q253_attribution_credits")

  /** Warm-up of query-small: eight other queries, evenly spaced through
    * the families, so the timed queries still pay their own per-query
    * compilation but less of the JVM's first compilation of Spark. */
  val smallWarmup: Seq[String] = Seq(
    "q24_rollup", "q42_intersect", "q53_collect_list", "q65_lang_stats",
    "q92_repetition", "q163_funnel", "q238_cohen_kappa", "q274_cohens_d")

  /** query-heavy, at sf0.1: the queries with the most data-dependent work
    * (sf0.1 time minus sf0.001 time in a recorded full-corpus run) among
    * those that take at most about 3 s at sf0.1 on 4 cores and whose
    * planning is not a large share of their time, so that one pass fits
    * the run. Most of their time is task execution. Their warm-up is the
    * same queries at sf0.1, so the JVM has compiled their hot loops before
    * the timed pass. */
  val heavy: Seq[String] = Seq(
    "q162_winsorize", "q168_rolling_distinct", "q199_gini", "q243_trimmed_mean")
}
