package perfbench

/** The benchmark's workloads: fixed query lists from `graft.queries.Registry`,
  * each chosen to load a different layer (see perfbench/README.md). The seed
  * only permutes the order of each pass; the data never changes. */
object Workloads {
  val all: Map[String, Seq[String]] = Map(
    // the reference's preprocessing stages: alignment, lag, rolling stats,
    // anomaly scoring. Scan-, window- and stage-bound; few jobs per query.
    "kiln_features" -> Seq(
      "q29_align_wide", "q22_resample_ffill", "q30_lag_features", "q31_rolling_mean_std",
      "q32_rolling_minmax", "q97_rolling_median", "q33_diff_gradient", "q35_cooling_trend",
      "q36_anomaly_zscore", "q37_drift", "q70_early_warning"),
    // iterative operators: BPE training (25 merge rounds, each a small
    // aggregate, a collect and a localCheckpoint), Louvain rounds with a
    // localCheckpoint each, and DBSCAN over LSH-banded similarity pairs with
    // persisted intermediates. Many small jobs issued while the plan is
    // built; shuffles, broadcasts and block writes on every round.
    "iterative_graph" -> Seq("q301_bpe_train", "q337_louvain", "q344_dbscan_lsh"))
}
