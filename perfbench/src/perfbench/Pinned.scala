package perfbench

/** The query list the closed-loop workload runs, pinned here so that a
  * query added to `SparkEntry.queries` later does not change the workload.
  * It was chosen by a stated rule from the warm latencies in
  * `perfbench/survey.tsv` (see WORKLOADS.md, "How the mix was chosen"). */
object Pinned {
  /** `memoCold` queries build `Memo` serving tables; set-up runs them
    * first so the measured window reads written tables. */
  final case class QuerySet(names: Vector[String], memoCold: Vector[String])

  /** Fixed: the reference dashboard (A1-A3 as KQL text, and the one
    * `ref_*` builder query that is no twin of them, for the `ops` build
    * layer) and one `Memo` reader. Then, from each set of the survey, the
    * query nearest the median of each equal-count warm-latency stratum
    * below the set's p75: six octiles of the `kql_*`/`ref_*` set, three
    * quartiles of the extension set. */
  val queryMix: QuerySet = QuerySet(Vector(
    "kql_avg_by_city", "kql_total_by_city", "kql_count_by_city", "ref_top5_orders",
    "sim_ivf_topk_partitioned",
    "kql_geo_s2", "kql_geo_h3_compact", "kql_format_datetime", "kql_series_seasonal",
    "kql_sliding_window", "kql_as_union",
    "text_token_stats", "mm_scene_cuts", "sim_pq_train"),
    Vector("sim_ivf_topk_partitioned"))

  /** The module whose build call a query's `<module>.build` span times. */
  def module(name: String): String =
    if (name.startsWith("kql_")) "kql" else if (name.startsWith("ref_")) "ops" else "ext"
}
