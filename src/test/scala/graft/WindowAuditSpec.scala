package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.window.WindowExec

/** Repo-wide guard against the silent scale-killer: a window with no
  * PARTITION BY moves its whole input through one task. Every gate
  * query's physical plan is swept; the only unpartitioned windows
  * allowed are the ones whose input is provably aggregate-sized, each
  * with its justification here. A new offender — or an exemption that
  * stops being needed — fails the build either way.
  */
class WindowAuditSpec extends SparkSpec {

  /** query → why an all-to-one window is safe there. */
  private val exempt: Map[String, String] = Map(
    "analytics_yoy_growth" ->
      ("lag over per-year order counts: the window input is one row " +
        "per calendar year (dozens of rows at any corpus size) — the " +
        "aggregation below it already reduced the data"),
    "text_vocabulary" ->
      ("global rank over per-token aggregates: the window input is " +
        "one row per distinct token (vocabulary-sized, orders smaller " +
        "than the corpus) — both shuffles below it are partial-agg'd"),
    "text_pmi_bigrams" ->
      ("global rank over the min-count-filtered distinct-bigram " +
        "aggregate (vocabulary-scale, orders smaller than the " +
        "corpus) — the doc-partitioned lead window and three " +
        "partial-agg'd groupBys below it already collapsed the " +
        "token stream; same device as text_vocabulary"),
    "search_spell" ->
      ("inherits text_vocabulary's vocabulary-sized rank window (the " +
        "500-term cut feeding the delete index); the candidate " +
        "ranking window is partitioned by query"),
    "text_quantile_cut" ->
      ("running count over the value HISTOGRAM (one row per distinct " +
        "token count, bounded by max doc length) — the groupBy below " +
        "already collapsed the corpus; the window input is " +
        "domain-sized, not data-sized"),
    // analytics_rfm retired (r16): its three bandedNtile passes now
    // checkpoint between folds, so the (still tiny, band-count-sized)
    // offset windows sit behind the checkpoint barrier and no longer
    // appear in the gate's audited plan — the stale-exemption
    // assertion below is what forced this removal
    "olap_share_of_total" ->
      ("grand total OVER () on the per-status aggregate frame " +
        "(|statuses| = 3 rows at any corpus size) — the groupBy " +
        "below already collapsed the orders scan; same " +
        "aggregate-sized-frame exemption as the banded cumsum"),
    "olap_histogram_equidepth" ->
      ("bandedNtile's exclusive-prefix offset window over the " +
        "per-band count frame (≤ 13 $50k-cent bands at any corpus " +
        "size) — the order-sized ranking window is partitioned by " +
        "band; same device as analytics_rfm"),
    "events_cusum_hours" ->
      ("prefix sum + row_number over the gap-filled HOURLY spine " +
        "(calendar-bounded, ~88k rows a decade) — the per-hour " +
        "aggregation below already reduced the corpus; an ordered " +
        "scan of the spine is the CUSUM's semantics"),
    // events_anomaly_hours / events_wma_hours migrated onto
    // Events.bandedSpine (r12): their trailing windows now run
    // partitionBy(__band), so the exemptions retired — the stale-
    // exemption assertion below is what enforces their removal
    "events_autocorrelation" ->
      ("one 24-lag window pass over the gap-filled HOURLY spine " +
        "(calendar-bounded) — the per-hour aggregation below already " +
        "reduced the corpus; same spine rationale as events_cusum_hours"),
    "events_forecast_eval" ->
      ("three lag columns in one window pass over the gap-filled " +
        "HOURLY spine (calendar-bounded) — same spine rationale as " +
        "events_autocorrelation"),
    "events_runs_test" ->
      ("one sign-lag window over the gap-filled HOURLY spine " +
        "(calendar-bounded) — same spine rationale as " +
        "events_autocorrelation"),
    "olap_ks_test" ->
      ("cumulative ECDF sums over the VALUE HISTOGRAM (one row per " +
        "distinct doc length, bounded by max doc length) — the " +
        "groupBy below collapsed the corpus; same domain-sized-frame " +
        "rationale as text_quantile_cut"),
    "olap_mannwhitney" ->
      ("midrank prefix sums over the VALUE HISTOGRAM (one row per " +
        "distinct doc length) — identical domain-sized-frame shape " +
        "and rationale as olap_ks_test"),
    "olap_kruskal" ->
      ("the same midrank prefix sums over the VALUE HISTOGRAM as " +
        "olap_mannwhitney, generalized to k groups — the value-level " +
        "cumulative frame stays domain-sized"),
    "profile_psi" ->
      ("decile-edge crossing sums over the baseline VALUE HISTOGRAM " +
        "(one row per distinct value) — the groupBy below collapsed " +
        "both populations; same domain-sized-frame rationale as " +
        "olap_ks_test"),
    "events_crosscorr" ->
      ("one 49-shift window pass over the shared gap-filled HOURLY " +
        "spine (calendar-bounded) — same spine rationale as " +
        "events_autocorrelation"),
    "events_locf_hours" ->
      ("running max of the last observed hour over the gap-filled " +
        "HOURLY spine (calendar-bounded) — same spine rationale as " +
        "events_autocorrelation; the carried value itself arrives by " +
        "a domain-sized equi-join, not the window"),
    "ml_pr_curve" ->
      ("cumulative tp/fp over the SCORE HISTOGRAM (one row per " +
        "distinct quality-model score) — identical domain-sized-frame " +
        "shape and rationale as ml_auc"),
    "ml_gains" ->
      ("cumulative counts over the SCORE HISTOGRAM feeding the " +
        "decile-threshold ladder — identical domain-sized-frame " +
        "shape and rationale as ml_pr_curve"),
    "ml_conformal" ->
      ("order-statistic crossing over the scaled-RESIDUAL value " +
        "histogram (one row per distinct |s·n−Σ|, bounded by the " +
        "score domain) — same crossing device and rationale as " +
        "text_quantile_cut"),
    "sample_neyman" ->
      ("largest-remainder seat rank over the per-SOURCE stratum " +
        "census (|sources| rows at any corpus size) — the groupBy " +
        "below collapsed the corpus; same aggregate-sized-frame " +
        "rationale as olap_share_of_total"),
    "events_binseg" ->
      ("prefix moments + candidate argmin over the observed DAILY " +
        "spine (calendar-bounded, ≤3653 rows/decade) — same spine " +
        "rationale as events_cusum_hours"),
    "ml_ks_separation" ->
      ("cumulative class counts over the SCORE HISTOGRAM — " +
        "identical domain-sized-frame shape and rationale as " +
        "ml_auc"),
    "olap_hill_tail" ->
      ("descending exclusive prefix sums over the revenue VALUE " +
        "HISTOGRAM to split the top-k boundary bucket exactly — " +
        "same domain-sized-frame rationale as olap_ks_test"),
    "analytics_logrank" ->
      ("exclusive prefix sums over the per-group DURATION HISTOGRAM " +
        "(one row per distinct duration) — the same KM at-risk " +
        "device and rationale as analytics_survival_km"),
    "analytics_nelson_aalen" ->
      ("at-risk and hazard prefix sums over the DURATION HISTOGRAM " +
        "— the same KM at-risk device and rationale as " +
        "analytics_survival_km"),
    "ml_auc" ->
      ("cumulative negatives over the SCORE HISTOGRAM (one row per " +
        "distinct quality-model score, bounded by max doc length × " +
        "max |weight|) — identical domain-sized-frame shape and " +
        "rationale as olap_mannwhitney"),
    "events_peak_hours" ->
      ("one lag/lead pass over the gap-filled HOURLY spine " +
        "(calendar-bounded) — same spine rationale as " +
        "events_autocorrelation"),
    "sample_temporal_split" ->
      ("running count over the event-time VALUE HISTOGRAM (one row " +
        "per distinct epoch second with events — calendar-bounded) " +
        "to draw one exact percentile cutoff; same domain-sized-" +
        "frame rationale as olap_ks_test"),
    "features_user_asof" ->
      ("the same event-time value-histogram cutoff device as " +
        "sample_temporal_split; the feature windows themselves are " +
        "partitioned by user"),
    "events_session_stats" ->
      ("percentile prefix sums over the session-DURATION value " +
        "histogram (bounded by distinct durations, not sessions); " +
        "the sessionization windows are partitioned by user"),
    // events_anomaly_robust's median/MAD rank scans run EAGERLY at
    // gate construction over the hourly COUNT histogram (domain-
    // sized) — the returned plan carries no window, so no exemption
    // (the lake_sorted_export precedent)
    "olap_abc_parts" ->
      ("band-offset window over the revenue-band AGGREGATE (coarse " +
        "magnitude bands — dozens of rows at any corpus size); the " +
        "part-sized cumulative window is partitioned by band — same " +
        "banded-cumsum device as analytics_rfm"),
    "sample_pps" ->
      ("ppsSystematic's exclusive-prefix offset window over the " +
        "≤1000-row band-total frame — the groupBy below already " +
        "collapsed the corpus; the corpus-sized running sum is " +
        "partitioned by band (same banded-cumsum device as " +
        "capTokensPerSource)"),
    "analytics_survival_km" ->
      ("the at-risk prefix sum and the ln-survival running sum both " +
        "run over the DURATION HISTOGRAM (one row per distinct " +
        "whole-hour duration — calendar-bounded) — the per-user " +
        "duration window is partitioned by user; same domain-sized-" +
        "frame rationale as olap_ks_test"),
    "sample_unimax" ->
      ("the UniMax capped-prefix scan runs its row_number/prefix-sum " +
        "window over the per-SOURCE token-total aggregate (|sources| " +
        "rows at any corpus size) — the corpus collapses in the " +
        "partial-agg'd groupBy below; same aggregate-sized-frame " +
        "rationale as analytics_yoy_growth"),
    "er_sorted_neighborhood" ->
      ("w−1 lead columns over the DISTINCT-NAME vocabulary " +
        "(vocabulary-sized, orders smaller than the corpus — same " +
        "domain rationale as the other ER operators); at corpus " +
        "scale the sort becomes the range-partitioned total order " +
        "of SortedExport with per-partition windows"),
    "text_quality_qnorm" ->
      ("cumulative counts over the quality-score VALUE HISTOGRAM " +
        "(one row per distinct integer score, bounded by max doc " +
        "length × max |weight|) — same domain-sized-frame rationale " +
        "as olap_ks_test; the corpus-sized ranking window is " +
        "partitioned by source"),
    "olap_skyline" ->
      ("running strict-min over the per-SIZE best-price aggregate " +
        "(≤ 50 distinct sizes at any corpus size) — the groupBy " +
        "below already collapsed the part scan; the 2-d skyline's " +
        "linear scan IS an ordered pass over the domain frame")
    // lake_sorted_export's disjointness lag runs EAGERLY inside gate
    // construction over the per-file stats frame (`files` rows) — the
    // returned plan carries no window, so no exemption is needed here
  )

  /** Every gate's executed plan with AQE off (the static plan is the
    * one the audits read), built once for both sweeps. Gates whose
    * input is missing on this host are left out.
    */
  private lazy val plans: Map[String, SparkPlan] = {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try SparkEntry.queries.toSeq.sortBy(_._1).collect {
      case (q, fn) if SparkSpec.missingInput(q).isEmpty =>
        q -> fn(spark, SF).queryExecution.executedPlan
    }.toMap finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  /** (gate, count) for each audited gate whose plan holds `count` > 0
    * offending nodes.
    */
  private def sweep(offending: SparkPlan => Int): Seq[(String, Int)] =
    gatesWithInputs(SparkEntry.queries.keys.toSeq.sorted).flatMap { q =>
      val n = offending(plans(q))
      if (n > 0) Some(q -> n) else None
    }

  test("no gate query has an unpartitioned window outside the exempt set") {
    val offenders = sweep(_.collect {
      case w: WindowExec if w.partitionSpec.isEmpty => w
    }.length)
    val unexplained = offenders.filterNot { case (q, _) => exempt.contains(q) }
    val stale = exempt.keySet -- offenders.map(_._1).toSet
    assert(unexplained.isEmpty,
      s"unpartitioned WindowExec in non-exempt queries: $unexplained")
    assert(stale.isEmpty,
      s"exemptions no longer needed (remove them): $stale")
  }

  // ── the skewed-key variant of the same failure ────────────────────
  // A window PARTITIONED by a handful-of-values column is only
  // formally parallel: `partitionBy(source)` over the corpus puts all
  // of a dominant crawl source through ONE sorter at 100 TB. The rule:
  // a window whose partition keys are all known low-cardinality corpus
  // columns must take its input from an AGGREGATION (group-sized rows,
  // e.g. a histogram or per-band totals), never from corpus rows.

  /** Corpus columns with ~dozens of distinct values. `k` is the group
    * alias quantileCutByOf gives its key (lang in the gate).
    */
  private val lowCardCols = Set("source", "lang", "k")

  /** Low-card-partitioned windows in `plan` whose input is NOT
    * aggregate-sized (no aggregation anywhere below the window).
    */
  private def lowCardOffenders(plan: SparkPlan): Seq[WindowExec] = {
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    // ReusedExchangeExec is a LEAF that points at another exchange —
    // follow it, or a histogram window whose aggregation got
    // deduplicated into a reused exchange is falsely flagged
    def hasAggBelow(p: SparkPlan): Boolean =
      p.collectFirst { case a: BaseAggregateExec => a }.nonEmpty ||
        p.collect { case r: ReusedExchangeExec => r.child }
          .exists(hasAggBelow)
    plan.collect {
      case w: WindowExec
          if w.partitionSpec.nonEmpty &&
            w.partitionSpec.flatMap(_.references.map(_.name))
              .forall(lowCardCols) &&
            !hasAggBelow(w.child) =>
        w
    }
  }

  /** query → why a low-card-partitioned window is safe there (none
    * needed today: every such window in the gate set sits on an
    * aggregate — quantile histograms, band totals — which the rule
    * recognizes directly; an entry here documents any future case the
    * structural check can't see).
    */
  private val lowCardExempt: Map[String, String] = Map.empty

  test("no gate query runs a corpus-sized window partitioned by a low-cardinality key") {
    val offenders = sweep(lowCardOffenders(_).length)
    val unexplained = offenders.filterNot { case (q, _) => lowCardExempt.contains(q) }
    val stale = lowCardExempt.keySet -- offenders.map(_._1).toSet
    assert(unexplained.isEmpty,
      s"corpus-sized window on a low-cardinality key: $unexplained")
    assert(stale.isEmpty,
      s"low-card exemptions no longer needed (remove them): $stale")
  }

  test("the low-cardinality rule fires on a deliberately bad window and passes the aggregate-input form") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{count, lit, sum}
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // parallelize, not a local Seq: a LocalTableScan would let the
      // optimizer collapse the plan the audit needs to see
      val docs = spark.createDataFrame(spark.sparkContext.parallelize(
          (1L to 100L).map(i => (i, if (i <= 90) "crawl" else "books", i % 7)), 4))
        .toDF("doc_id", "source", "n_tokens")
      val bad = docs.withColumn("cum",
        sum($"n_tokens").over(Window.partitionBy($"source").orderBy($"doc_id")))
      assert(lowCardOffenders(bad.queryExecution.executedPlan).nonEmpty,
        "rule must flag a per-source running sum over raw corpus rows")
      // the sanctioned shape — the same key, but over an aggregate
      val ok = docs.groupBy($"source", $"n_tokens")
        .agg(count(lit(1)).as("cnt"))
        .withColumn("cum",
          sum($"cnt").over(Window.partitionBy($"source").orderBy($"n_tokens")))
      assert(lowCardOffenders(ok.queryExecution.executedPlan).isEmpty,
        "rule must pass a low-card window whose input is aggregate-sized")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }
}
