package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Statistical-inference operators over the event stream — the experiment
  * readout, churn/survival, and model-split primitives a training-data
  * pipeline runs AFTER the descriptive analytics (EventQueries) say the
  * data is sane. The reference has no statistics surface at all (its only
  * aggregate is a collection count, /root/reference/app.py:475); these are
  * the absence-list ops a production replacement needs.
  *
  * House exactness rules throughout: counts stay integer to the end;
  * closed-form double chains (z-statistic) mirror the oracle op-for-op so
  * both engines produce bit-identical IEEE doubles before one terminal
  * rounding (the trend_forecast precedent); sequential recurrences
  * (Kaplan-Meier's product) run as integer-floored recursions under
  * `WITH RECURSIVE` on BOTH engines (the recursive_cte precedent), so no
  * cross-engine product-order question exists.
  */
object StatQueries {

  /** A/B experiment readout — the two-proportion z-test over a
    * DETERMINISTIC unit assignment (user_id parity stands in for the
    * salted-hash bucketing an experiment platform uses; parity is the
    * fixture-stable form). Unit = user; conversion = the user fired at
    * least one high-value purchase (value > 250 — ~8% of users at sf0.01,
    * non-degenerate at every SF, see FIXTURES.md).
    *
    * Plan: ONE user-keyed partial-aggregated shuffle collapses events to
    * per-user conversion flags (shuffle volume = |users|, not |events|),
    * then ONE single-row aggregate with conditional sums (the
    * filter_funnel pattern) yields all four cell counts — no second
    * shuffle, no expand for multi-distinct. The z chain
    * (p̂ pooled, Wald SE, z = (p0−p1)/se) is a fixed-order double
    * expression evaluated on those four BIGINTs; sqrt and division are
    * correctly-rounded IEEE ops on both engines, so round(z·10⁶) is
    * hash-stable. Conversion rates export as exact integer ratios
    * (c·10⁶ div n — positive, so Spark `div` == DuckDB `//`).
    * `significant` compares |z_e6| against the two-sided 5% critical
    * value as an integer literal (1959964 = ⌊z₀.₉₇₅·10⁶⌋) — no quantile
    * function on the gate. Degenerate pools (all or none converted)
    * yield NULL z by the same CASE on both sides. */
  def abExperiment(spark: SparkSession, dir: String): DataFrame =
    abExperimentOf(Tables.events(spark, dir))

  def abExperimentOf(events: DataFrame): DataFrame = {
    val perUser = events
      .groupBy(col("user_id"))
      .agg(max(when(col("event_type") === "purchase" && col("value") > 250, 1L)
        .otherwise(0L)).as("conv"))
      .select((col("user_id") % 2).cast("long").as("arm"), col("conv"))
    perUser
      .agg(
        sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n0"),
        sum(when(col("arm") === 0, col("conv")).otherwise(0L)).as("c0"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n1"),
        sum(when(col("arm") === 1, col("conv")).otherwise(0L)).as("c1"))
      .select(
        col("n0"), col("c0"), col("n1"), col("c1"),
        expr("(c0 * 1000000) div n0").as("rate0_e6"),
        expr("(c1 * 1000000) div n1").as("rate1_e6"),
        expr(
          """CASE WHEN c0 + c1 > 0 AND c0 + c1 < n0 + n1 THEN
            |  CAST(round(
            |    (CAST(c0 AS DOUBLE) / CAST(n0 AS DOUBLE)
            |     - CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE))
            |    / sqrt(
            |        (CAST(c0 + c1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE))
            |        * (1.0 - CAST(c0 + c1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE))
            |        * (1.0 / CAST(n0 AS DOUBLE) + 1.0 / CAST(n1 AS DOUBLE)))
            |    * 1000000) AS BIGINT)
            |ELSE NULL END""".stripMargin).as("z_e6"))
      .withColumn("significant",
        when(col("z_e6").isNull, lit(0L))
          .otherwise((abs(col("z_e6")) >= 1959964L).cast("long")))
  }

  /** CUPED variance-reduced experiment readout (Deng et al. 2013, WSDM —
    * "Improving the sensitivity of online controlled experiments") — the
    * standard experimentation-platform companion to [[abExperiment]]:
    * the post-period revenue metric Y is adjusted by the PRE-period
    * covariate X (Yadj = Y − θ(X − X̄), θ = cov(X,Y)/var(X)), which
    * shrinks metric variance by ρ² without biasing the treatment
    * difference. Unit = user; pre = Jan days ≤ 15, post = days > 15;
    * revenue in exact e2 integers; arms by user parity.
    *
    * Exactness: per-user (x, y) from ONE user-keyed partial-aggregated
    * shuffle; ALL second moments (Σx, Σy, Σxy, Σx², Σy², per-arm sums)
    * accumulate as DECIMAL(38,0)/HUGEINT in ONE single-row aggregate
    * (n·Σxy − ΣxΣy ≈ 2.4·10¹⁹ at sf0.1 — past BIGINT, the value_moments
    * pattern); θ, the adjusted difference, and the variance-reduction
    * ratio 1 − ρ² are fixed-order double chains over those exact
    * integers (a DECIMAL(38,0)→DOUBLE cast rounds-to-nearest identically
    * on both engines), rounded once at e6. The fixture's iid generator
    * gives a near-zero reduction (ρ² ≈ 0.03) — the CONTRACT is what's
    * pinned; StatQueriesSpec plants a correlated population where CUPED
    * cuts the variance ~4× and leaves the true lift untouched. */
  def cupedExperiment(spark: SparkSession, dir: String): DataFrame =
    cupedExperimentOf(Tables.events(spark, dir))

  def cupedExperimentOf(events: DataFrame): DataFrame = {
    val d38 = "decimal(38,0)"
    val perUser = events
      .groupBy(col("user_id"))
      .agg(
        sum(when(col("event_type") === "purchase" && dayofmonth(col("ts")) <= 15,
          expr("CAST(round(value * 100) AS BIGINT)")).otherwise(0L)).as("x"),
        sum(when(col("event_type") === "purchase" && dayofmonth(col("ts")) > 15,
          expr("CAST(round(value * 100) AS BIGINT)")).otherwise(0L)).as("y"))
      .select((col("user_id") % 2).cast("long").as("arm"), col("x"), col("y"))
    perUser
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n0"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n1"),
        sum(col("x").cast(d38)).as("sx"),
        sum(col("y").cast(d38)).as("sy"),
        sum((col("x") * col("y")).cast(d38)).as("sxy"),
        sum((col("x") * col("x")).cast(d38)).as("sxx"),
        sum((col("y") * col("y")).cast(d38)).as("syy"),
        sum(when(col("arm") === 0, col("x")).otherwise(0L).cast(d38)).as("sx0"),
        sum(when(col("arm") === 1, col("x")).otherwise(0L).cast(d38)).as("sx1"),
        sum(when(col("arm") === 0, col("y")).otherwise(0L).cast(d38)).as("sy0"),
        sum(when(col("arm") === 1, col("y")).otherwise(0L).cast(d38)).as("sy1"))
      .select(col("n"), col("n0"), col("n1"),
        expr(
          """CAST(round(
            |  (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
            |   - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
            |  / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
            |     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
            |  * 1000000) AS BIGINT)""".stripMargin).as("theta_e6"),
        expr(
          """CAST(round(
            |  (CAST(sy0 AS DOUBLE) / CAST(n0 AS DOUBLE)
            |   - CAST(sy1 AS DOUBLE) / CAST(n1 AS DOUBLE)) * 10000) AS BIGINT)
            |""".stripMargin).as("diff_e4"),
        expr(
          """CAST(round(
            |  ((CAST(sy0 AS DOUBLE) / CAST(n0 AS DOUBLE)
            |    - CAST(sy1 AS DOUBLE) / CAST(n1 AS DOUBLE))
            |   - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
            |       - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
            |      / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
            |         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
            |     * (CAST(sx0 AS DOUBLE) / CAST(n0 AS DOUBLE)
            |        - CAST(sx1 AS DOUBLE) / CAST(n1 AS DOUBLE))) * 10000)
            |  AS BIGINT)""".stripMargin).as("adj_diff_e4"),
        expr(
          """CAST(round(
            |  (1.0
            |   - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
            |       - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
            |      * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
            |         - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)))
            |     / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
            |         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
            |        * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
            |           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))))
            |  * 1000000) AS BIGINT)""".stripMargin).as("var_red_e6"))
  }

  /** Kaplan-Meier survival / discrete-hazard table with REAL right
    * censoring — time-to-first-high-value-purchase from first signup.
    * Subjects are users with a signup; the event is the first purchase
    * with value > 250 on/after that signup; a user with no such purchase
    * is censored at the corpus horizon (max event date), so observation
    * windows are heterogeneous (signup days spread over the first ~10
    * days — FIXTURES.md) and the fixture carries both outcomes at every
    * SF (12 events / 138 censored at sf0.01). One row per distinct event
    * tenure t: n_t (at risk: observed tenure ≥ t — deaths-before-censoring
    * at equal t, the standard KM convention), d_t (events at t),
    * hazard_e6 = ⌊10⁶·d/n⌋, and the KM survival S_t = Π(1 − d_i/n_i)
    * carried as an integer e6 recursion S_t = ⌊S_{t−1}·(n−d)/n⌋ — on the
    * DuckDB oracle under `WITH RECURSIVE`, on the Spark side as ONE
    * `aggregate()` HOF fold over the t-sorted risk table (state = one
    * BIGINT; the fold starts at S = 10⁶ so the first step reproduces the
    * recursion's anchor exactly); per-step floors make both engines
    * exact-identical (the recursive_cte precedent); all operands
    * positive, so Spark `div` == DuckDB `//`.
    *
    * Scale shape: two partial-aggregated user-keyed passes (signup-min,
    * then conversion-min gated on it) joined on user_id; everything
    * downstream — tenure counts, the ≥-tenure risk sums, the fold —
    * operates on a CALENDAR-BOUNDED frame (≤ one row per day of corpus
    * span), so the quadratic-looking self-join is constant-size
    * regardless of corpus rows, and the whole query is one job (the
    * round-10 version spent ~3 s on per-iteration scheduler latency). */
  def survivalKm(spark: SparkSession, dir: String): DataFrame =
    survivalKmOf(Tables.events(spark, dir))

  def survivalKmOf(events: DataFrame): DataFrame =
    survivalRiskXs(events)
      .select(explode(expr(
        """aggregate(xs,
          |  CAST(array() AS
          |    ARRAY<STRUCT<t: INT, d: BIGINT, n: BIGINT, s: BIGINT>>),
          |  (a, x) -> array_append(a, named_struct(
          |    't', x.t, 'd', x.d, 'n', x.n,
          |    's', ((CASE WHEN size(a) = 0 THEN CAST(1000000 AS BIGINT)
          |           ELSE element_at(a, -1).s END) * (x.n - x.d)) div x.n)))"""
          .stripMargin)).as("r"))
      .select(col("r.t").as("tenure_days"), col("r.n").as("n_risk"),
        col("r.d").as("d_events"),
        expr("(1000000 * r.d) div r.n").as("hazard_e6"),
        col("r.s").as("survival_e6"))
      .orderBy(col("tenure_days"))

  /** The t-sorted survival risk table collected to one array — shared by
    * the Kaplan-Meier product ([[survivalKmOf]]) and the Nelson-Aalen
    * cumulative hazard ([[nelsonAalenOf]]). */
  private def survivalRiskXs(events: DataFrame): DataFrame = {
    events.createOrReplaceTempView("graft_events_surv")
    val spark = events.sparkSession
    spark.sql(
      """WITH subj AS (
        |  SELECT user_id,
        |    MIN(CASE WHEN event_type = 'signup' THEN to_date(ts) END) AS s0
        |  FROM graft_events_surv GROUP BY user_id),
        |conv AS (
        |  SELECT e.user_id, MIN(to_date(e.ts)) AS p0
        |  FROM graft_events_surv e JOIN subj s ON e.user_id = s.user_id
        |  WHERE e.event_type = 'purchase' AND e.value > 250
        |    AND to_date(e.ts) >= s.s0
        |  GROUP BY e.user_id),
        |hz AS (SELECT MAX(to_date(ts)) AS hmax FROM graft_events_surv),
        |life AS (
        |  SELECT s.user_id,
        |    CASE WHEN c.p0 IS NOT NULL THEN datediff(c.p0, s.s0)
        |         ELSE datediff((SELECT hmax FROM hz), s.s0) END AS t_obs,
        |    CASE WHEN c.p0 IS NOT NULL THEN 1L ELSE 0L END AS ev
        |  FROM subj s LEFT JOIN conv c ON s.user_id = c.user_id
        |  WHERE s.s0 IS NOT NULL),
        |tc AS (
        |  SELECT t_obs, COUNT(*) AS ending, SUM(ev) AS d
        |  FROM life GROUP BY t_obs),
        |risk AS (
        |  SELECT e.t_obs AS t, MAX(e.d) AS d, SUM(c.ending) AS n
        |  FROM (SELECT t_obs, d FROM tc WHERE d > 0) e
        |  JOIN tc c ON c.t_obs >= e.t_obs
        |  GROUP BY e.t_obs)
        |SELECT sort_array(collect_list(struct(t, d, n))) AS xs FROM risk"""
        .stripMargin)
  }

  /** Nelson-Aalen cumulative hazard (X229) — the estimator reported
    * NEXT TO Kaplan-Meier in every survival readout: where KM multiplies
    * survival down, NA sums hazard up (H_t = Σ d_i/n_i), which is the
    * quantity variance estimates and hazard-ratio eyeballing want. Same
    * risk table, same single-job fold; the cumulative sum adds per-step
    * e6 FLOORS ((10⁶·d) div n — all positive), so both engines agree
    * term for term and the DuckDB oracle can use a plain windowed sum
    * over the identical floored terms. */
  def nelsonAalen(spark: SparkSession, dir: String): DataFrame =
    nelsonAalenOf(Tables.events(spark, dir))

  def nelsonAalenOf(events: DataFrame): DataFrame =
    survivalRiskXs(events)
      .select(explode(expr(
        """aggregate(xs,
          |  CAST(array() AS
          |    ARRAY<STRUCT<t: INT, d: BIGINT, n: BIGINT, h: BIGINT>>),
          |  (a, x) -> array_append(a, named_struct(
          |    't', x.t, 'd', x.d, 'n', x.n,
          |    'h', (CASE WHEN size(a) = 0 THEN CAST(0 AS BIGINT)
          |          ELSE element_at(a, -1).h END) + (1000000 * x.d) div x.n)))"""
          .stripMargin)).as("r"))
      .select(col("r.t").as("tenure_days"), col("r.n").as("n_risk"),
        col("r.d").as("d_events"), col("r.h").as("cumhaz_e6"))
      .orderBy(col("tenure_days"))

  /** Seasonal-naive forecast evaluation (X230) — the backtest every
    * forecasting ladder (exp_smooth → holt → holt_winters) should be
    * judged against: over the evaluation days (t ≥ 8), compare the
    * lag-7 seasonal-naive forecast's absolute-error sum to the lag-1
    * naive's. rmae_e6 < 10⁶ means weekly seasonality carries real
    * signal (relative MAE, Davydenko & Fildes 2013 — same eval window
    * for both, so no in-sample/out-of-sample split convention to
    * disagree on). Pure integer sums over the calendar-bounded series;
    * one fold, one job. */
  def seasonalNaiveEval(spark: SparkSession, dir: String): DataFrame =
    seasonalNaiveEvalOf(Tables.events(spark, dir))

  def seasonalNaiveEvalOf(events: DataFrame): DataFrame =
    dailySeries(events)
      .select((size(col("xs")) - 7).cast("long").as("n_eval"),
        expr(
          """aggregate(sequence(8, size(xs)),
            |  named_struct('s7', CAST(0 AS BIGINT), 's1', CAST(0 AS BIGINT)),
            |  (a, t) -> named_struct(
            |    's7', a.s7 + abs(element_at(xs, t).rev
            |                     - element_at(xs, t - 7).rev),
            |    's1', a.s1 + abs(element_at(xs, t).rev
            |                     - element_at(xs, t - 1).rev)))""".stripMargin)
          .as("r"))
      .select(col("n_eval"), col("r.s7").as("sae_seasonal_e2"),
        col("r.s1").as("sae_naive_e2"),
        expr("(r.s7 * 1000000) div r.s1").as("rmae_e6"))

  /** Contingency effect sizes (X231) — the "is it LARGE" companion to
    * chi2_independence's "is it significant": φ², Cramér's V, and
    * Tschuprow's T over the (event type × high-value) table. χ² itself
    * is the exact integer sum of the per-cell e6-floored contributions
    * (chi2_independence's DECIMAL(38) recipe) over the DENSIFIED
    * row×col grid — structural zeros contribute (0−E)²/E = RC/n, and a
    * perfectly dependent table is made OF structural zeros (skipping
    * them caps V at 1/√(min dim), the planted-spec bite); the three effect
    * sizes are fixed-order double chains over that one integer + the
    * table dimensions, so the only rounding is the terminal e6. One
    * partial-aggregated pass builds the cells; everything else is
    * broadcast math. */
  def contingencyEffects(spark: SparkSession, dir: String): DataFrame =
    contingencyEffectsOf(Tables.events(spark, dir))

  def contingencyEffectsOf(events: DataFrame): DataFrame = {
    val d38 = "decimal(38,0)"
    val cells = events
      .select(col("event_type"), (col("value") > 250).cast("int").as("hi"))
      .groupBy(col("event_type"), col("hi"))
      .agg(count(lit(1)).as("o"))
    val rows = cells.groupBy(col("event_type")).agg(sum(col("o")).as("r"))
    val cols = cells.groupBy(col("hi")).agg(sum(col("o")).as("c"))
    val total = cells.agg(sum(col("o")).as("n"))
    // DENSIFY the grid before scoring: a structurally-zero cell (never
    // observed) still contributes (0−E)²/E = RC/n — exactly the cells a
    // strongly dependent table has, so skipping them caps V at 1/√2 on
    // a perfect 2×2 association (the planted-spec bite)
    rows.crossJoin(broadcast(cols))
      .join(cells, Seq("event_type", "hi"), "left")
      .withColumn("o", coalesce(col("o"), lit(0L)))
      .crossJoin(broadcast(total))
      .agg(
        max(col("n")).as("n"),
        countDistinct(col("event_type")).as("n_rows"),
        countDistinct(col("hi")).as("n_cols"),
        sum(expr(s"CAST((CAST(n AS $d38) * o - CAST(r AS $d38) * c) *" +
          s" (CAST(n AS $d38) * o - CAST(r AS $d38) * c) * 1000000" +
          s" div (CAST(n AS $d38) * r * c) AS BIGINT)")).as("chi2_e6"))
      .select(col("n"), col("n_rows"), col("n_cols"), col("chi2_e6"),
        ((col("n_rows") - 1) * (col("n_cols") - 1)).as("dof"),
        expr(effectSql("sqrt(phi2)")).as("phi_e6"),
        expr(effectSql(
          "sqrt(phi2 / CAST(least(n_rows - 1, n_cols - 1) AS DOUBLE))"))
          .as("cramers_v_e6"),
        expr(effectSql(
          "sqrt(phi2 / sqrt(CAST((n_rows - 1) * (n_cols - 1) AS DOUBLE)))"))
          .as("tschuprow_e6"))
  }

  /** Shared effect-size chain: `phi2` = (χ²_e6 / 10⁶) / n as one
    * fixed-order double expression — identical text on both engines. */
  private def effectSql(body: String): String = {
    val phi2 = "(CAST(chi2_e6 AS DOUBLE) / 1000000.0 / CAST(n AS DOUBLE))"
    s"CAST(round(${body.replace("phi2", phi2)} * 1000000) AS BIGINT)"
  }

  /** Deterministic Poisson-bootstrap CI for the mean event value (X223)
    * — bootstrap WITHOUT resampling passes: each row contributes a
    * Poisson(1) weight to each of B = 32 replicates (Chamandy et al.
    * 2012, "Estimating Uncertainty for Massive Data Streams" — the
    * Google large-scale bootstrap), so the whole thing is ONE
    * partial-aggregated scan with 64 conditional sums, at any corpus
    * size. Weights are DETERMINISTIC: replicate b's weight for a row is
    * the inverse-CDF bucket of the first 13 hex nibbles of
    * md5('boot:b:' ++ event_id), compared LEXICOGRAPHICALLY against the
    * ⌊CDF·2⁵²⌋ thresholds rendered as 13-char lowercase hex — equal-
    * length hex compares identically to priority_sample's numeric fold
    * at ONE md5 per replicate instead of the fold's 13 (the fold form
    * cost 8 s at sf0.1; this one ~1 s), so both
    * engines draw THE SAME bootstrap and the oracle is exact, not
    * statistical. Replicate means floor at e6; the CI is the 2nd/31st
    * order statistic of the 32 sorted means (the percentile-bootstrap
    * ⌈α(B+1)⌉ rule at α ≈ 6%). The SQL body is engine-shared
    * ([[bootSql]]), parameterized on the source and the idiv token. */
  def poissonBootstrap(spark: SparkSession, dir: String): DataFrame =
    poissonBootstrapOf(Tables.events(spark, dir))

  def poissonBootstrapOf(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    // r17 parallelism guard (guide §2.5 input skew): the 32-md5-per-row
    // weight pass is the query's real CPU, but a small parquet fixture
    // arrives as 1-2 splits and would serialize it on one core. Raise
    // tiny scans to core count — never LOWER existing parallelism (at
    // warehouse scale the scan already has more splits than cores and
    // this is a no-op); the shuffled frame is (event_id, v), ~16 bytes
    // a row, so the exchange is noise next to the hash work it spreads.
    val src = events.select(col("event_id"),
      expr("CAST(round(value * 100) AS BIGINT)").as("v"))
    val minParts = spark.sparkContext.defaultParallelism
    (if (src.rdd.getNumPartitions < minParts) src.repartition(minParts)
     else src)
      .createOrReplaceTempView("graft_boot_src")
    // r17: the one-query form re-inlined the 130-column corpus aggregate
    // `m` into each of 34 references (32 replicate branches + 2 scalar
    // subqueries) — execution deduped them via exchange reuse (2 jobs,
    // 26 ms of tasks) but Catalyst paid ~1.5-2 s PLANNING 34 copies of
    // the md5/CASE tree. Staging the ONE-ROW `m` as a checkpointed view
    // leaves every reference a LocalTableScan; same stage texts on both
    // engines (the DuckDB oracle chains them as CTEs of one query),
    // bit-identical rows out. NOTE the staging also makes the BENCH
    // measurement honest: under the old one-query form the bench's
    // count() action let Catalyst prune every w-column — the md5 pass
    // was never executed in the timed run (guide §1.4's count() trap);
    // the eager checkpoint computes what the query declares.
    spark.sql(bootMSql("SELECT event_id, v FROM graft_boot_src"))
      .coalesce(1).localCheckpoint().createOrReplaceTempView("graft_boot_m")
    spark.sql(bootRepsSql("div"))
  }

  /** ⌊P(Pois(1) ≤ k)·2⁵²⌋ for k = 0..5 as 13-char hex (weight 6 beyond
    * — P < 10⁻⁴). Spec cross-checks against the integer form. */
  private[queries] val PoisThresholdsHex = Seq("5e2d58d8b3bce",
    "bc5ab1b16779c", "eb715e1dc1583", "fb23979734a25", "ff1025f59174e",
    "ffd90f3ba4056")

  private val BootReplicates = 32

  /** The corpus-scan half of the bootstrap: ONE partial-aggregated pass
    * producing the single row (n, sv, c0, s0, …, c31, s31). Shared text
    * — Spark stages it as a checkpointed view, DuckDB chains it as the
    * `graft_boot_m` CTE ([[bootSql]]). */
  def bootMSql(source: String): String = {
    // r17: no per-replicate substring — comparing the FULL 32-char md5
    // hex lexicographically against a 13-char threshold is equivalent to
    // comparing its 13-char prefix (prefix < t ⇒ full < t; prefix = t ⇒
    // full ≥ t since it is strictly longer; prefix > t ⇒ full > t), so
    // the drawn weights are bit-identical on both engines while 32
    // substring allocations per row disappear from the hot scan.
    val hCols = (0 until BootReplicates).map { b =>
      s"md5(concat('boot:$b:', CAST(event_id AS STRING))) AS h$b"
    }.mkString(",\n    ")
    val wCase = PoisThresholdsHex.zipWithIndex
      .map { case (t, k) => s"WHEN h%d < '$t' THEN $k" }.mkString(" ")
    val wCols = (0 until BootReplicates).map { b =>
      s"CAST(CASE ${wCase.replace("%d", b.toString)} ELSE 6 END AS BIGINT) AS w$b"
    }.mkString(",\n    ")
    val sums = (0 until BootReplicates).map { b =>
      s"CAST(SUM(w$b) AS BIGINT) AS c$b, CAST(SUM(w$b * v) AS BIGINT) AS s$b"
    }.mkString(",\n    ")
    s"""WITH src AS ($source),
       |h AS (
       |  SELECT v,
       |    $hCols
       |  FROM src),
       |w AS (
       |  SELECT v,
       |    $wCols
       |  FROM h)
       |SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(v) AS BIGINT) AS sv,
       |    $sums
       |  FROM w""".stripMargin
  }

  /** The replicate-ordering half over the staged `graft_boot_m` row —
    * shared logic, parameterized on the idiv token (Spark `div`, DuckDB
    * `//`; the token also selects each dialect's array sort/index
    * spelling). r17: the 32 replicate means sort as ONE in-row array —
    * the former 32-branch UNION + ROW_NUMBER window read `m` 32 times
    * and ran an unpartitioned window (bounded here, but the exact shape
    * PlanSpec bans because a refactor can silently unbound it); the
    * sorted-array 2nd/31st elements are the same order statistics. */
  def bootRepsSql(idiv: String): String = {
    val mvs = (0 until BootReplicates).map { b =>
      s"(s$b * 10000) $idiv c$b"
    }.mkString(",\n      ")
    val (sorted, lo, hi) =
      if (idiv == "div") // Spark spelling
        (s"sort_array(array(\n      $mvs))", "element_at(a, 2)",
          s"element_at(a, ${BootReplicates - 1})")
      else // DuckDB spelling
        (s"list_sort([\n      $mvs])", "a[2]", s"a[${BootReplicates - 1}]")
    s"""SELECT (SELECT n FROM graft_boot_m) AS n,
       |  (SELECT (sv * 10000) $idiv n FROM graft_boot_m) AS mean_e6,
       |  CAST($lo AS BIGINT) AS boot_lo_e6,
       |  CAST($hi AS BIGINT) AS boot_hi_e6,
       |  CAST($BootReplicates AS BIGINT) AS n_replicates
       |FROM (SELECT $sorted AS a FROM graft_boot_m) o""".stripMargin
  }

  /** The engine-shared Poisson-bootstrap body over `source(event_id, v)`
    * — generated once for Spark (`div`) and DuckDB (`//`), assembled
    * from the SAME two stage texts the Spark runner stages. */
  def bootSql(source: String, idiv: String): String =
    s"""WITH graft_boot_m AS (
       |${bootMSql(source)})
       |${bootRepsSql(idiv)}""".stripMargin

  /** Mutual information between two columns (event type × coarse value
    * bucket) — the model-free dependence screen feature selection runs
    * (mRMR-style): MI = Σ p(x,y)·ln(p(x,y)/(p(x)p(y))), plus both
    * marginal entropies and the normalized MI. The fixture's iid
    * generator puts MI ≈ 0 — exactly what the screen should report for
    * an uninformative feature; the spec plants a dependent pair and
    * watches MI rise.
    *
    * Exactness (the char_entropy X80 recipe, widened to two variables):
    * every log argument is an exact integer ratio (products ≤ 10¹⁰ are
    * exact doubles), quantized PER CELL at e6 — ≤ |X|·|Y| + |X| + |Y| + 1
    * libm calls total — so n·MI and n·H are order-free integer sums;
    * one integer division at the export boundary (both engines truncate
    * identically, even on the ±rounding-noise negatives an MI ≈ 0 sum
    * can produce). ONE (x, y) partial-aggregated rollup is the scan;
    * marginals fold from the ≤50-cell frame. */
  def mutualInfo(spark: SparkSession, dir: String): DataFrame =
    mutualInfoOf(Tables.events(spark, dir))

  def mutualInfoOf(events: DataFrame): DataFrame = {
    events
      .select(col("event_type").as("x"),
        (floor(col("value").cast("double") / 50) * 50).cast("long").as("y"))
      .groupBy(col("x"), col("y")).agg(count(lit(1)).as("c"))
      // materialize the bounded frame ONCE: a temp view is a plan, and
      // every scalar-subquery reference in the body would otherwise
      // re-run the corpus rollup (measured 4-38 s/query at sf0.1);
      // lazy — the first subquery execution fills the blocks (r17)
      .localCheckpoint(false)
      .createOrReplaceTempView("graft_mi_cells")
    events.sparkSession.sql(miSql("SELECT x, y, c FROM graft_mi_cells", "div"))
  }

  /** Engine-shared MI body (`cellSource` supplies (x, y, c); `idiv` is
    * the integer-division token — Spark `div`, DuckDB `//`). */
  def miSql(cellSource: String, idiv: String): String =
    s"""WITH cells AS ($cellSource),
       |mx AS (SELECT x, CAST(SUM(c) AS BIGINT) AS cx FROM cells GROUP BY x),
       |my AS (SELECT y, CAST(SUM(c) AS BIGINT) AS cy FROM cells GROUP BY y),
       |t AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM cells),
       |mi AS (
       |  SELECT CAST(SUM(cells.c * CAST(round(1000000 * ln(
       |      (CAST(cells.c AS DOUBLE) * CAST((SELECT n FROM t) AS DOUBLE))
       |      / (CAST(mx.cx AS DOUBLE) * CAST(my.cy AS DOUBLE))))
       |    AS BIGINT)) AS BIGINT) AS mi_num
       |  FROM cells JOIN mx ON mx.x = cells.x JOIN my ON my.y = cells.y),
       |hx AS (
       |  SELECT CAST((SELECT n FROM t)
       |      * CAST(round(1000000 * ln(CAST((SELECT n FROM t) AS DOUBLE))) AS BIGINT)
       |    - SUM(cx * CAST(round(1000000 * ln(CAST(cx AS DOUBLE))) AS BIGINT))
       |    AS BIGINT) AS hx_num
       |  FROM mx),
       |hy AS (
       |  SELECT CAST((SELECT n FROM t)
       |      * CAST(round(1000000 * ln(CAST((SELECT n FROM t) AS DOUBLE))) AS BIGINT)
       |    - SUM(cy * CAST(round(1000000 * ln(CAST(cy AS DOUBLE))) AS BIGINT))
       |    AS BIGINT) AS hy_num
       |  FROM my)
       |SELECT (SELECT n FROM t) AS n,
       |  (SELECT hx_num FROM hx) $idiv (SELECT n FROM t) AS h_x_e6,
       |  (SELECT hy_num FROM hy) $idiv (SELECT n FROM t) AS h_y_e6,
       |  (SELECT mi_num FROM mi) $idiv (SELECT n FROM t) AS mi_e6,
       |  ((SELECT mi_num FROM mi) * 1000000)
       |    $idiv (CASE WHEN (SELECT hx_num FROM hx) < (SELECT hy_num FROM hy)
       |      THEN (SELECT hx_num FROM hx) ELSE (SELECT hy_num FROM hy) END)
       |    AS nmi_e6""".stripMargin

  /** Population stability index (PSI) — the industry-standard binned
    * drift monitor (Siddiqi, credit-scorecard practice; the ML-ops
    * complement of ks_drift's exact two-sample statistic): reference =
    * first two weeks' value distribution, current = the rest, 50-wide
    * buckets, PSI = Σ (pᵢ − qᵢ)·ln(pᵢ/qᵢ) with +1 Laplace smoothing so
    * empty cells never reach ln. Per-bucket contributions are the
    * reviewable artifact (which band drifted), conventional flags at
    * 0.1 / 0.25.
    *
    * Exactness: shares rationalized to the common denominator
    * D = (n_ref+B)(n_cur+B); each bucket's ln is one exact-double
    * integer ratio quantized at e6 (≤ B libm calls); contribution
    * numerators ((aᵢ+1)(n_cur+B) − (bᵢ+1)(n_ref+B))·Lᵢ stay in BIGINT
    * (≤ ~10¹⁷ at sf0.1); one div at the export. ONE conditional-count
    * rollup per bucket is the whole scan. */
  def psiDrift(spark: SparkSession, dir: String): DataFrame =
    psiDriftOf(Tables.events(spark, dir))

  def psiDriftOf(events: DataFrame): DataFrame = {
    events
      .select((floor(col("value").cast("double") / 50) * 50).cast("long").as("bucket"),
        (dayofmonth(col("ts")) <= 14).cast("long").as("is_ref"))
      .groupBy(col("bucket"))
      .agg(sum(col("is_ref")).as("a"),
        sum(lit(1L) - col("is_ref")).as("b"))
      .localCheckpoint(false) // bounded frame, materialized once (see miSql note)
      .createOrReplaceTempView("graft_psi_cells")
    events.sparkSession.sql(psiSql("SELECT bucket, a, b FROM graft_psi_cells", "div"))
  }

  /** Engine-shared PSI body (`cellSource` supplies (bucket, a, b);
    * `idiv` as in [[miSql]]). */
  def psiSql(cellSource: String, idiv: String): String =
    s"""WITH cells AS ($cellSource),
       |t AS (
       |  SELECT CAST(SUM(a) AS BIGINT) AS na, CAST(SUM(b) AS BIGINT) AS nb,
       |    CAST(COUNT(*) AS BIGINT) AS nbuckets
       |  FROM cells),
       |d AS (
       |  SELECT cells.bucket, CAST(cells.a AS BIGINT) AS n_ref,
       |    CAST(cells.b AS BIGINT) AS n_cur,
       |    (cells.a + 1) * (t.nb + t.nbuckets)
       |      - (cells.b + 1) * (t.na + t.nbuckets) AS diff_num,
       |    CAST(round(1000000 * ln(
       |      (CAST(cells.a + 1 AS DOUBLE) * CAST(t.nb + t.nbuckets AS DOUBLE))
       |      / (CAST(cells.b + 1 AS DOUBLE) * CAST(t.na + t.nbuckets AS DOUBLE))))
       |      AS BIGINT) AS l_e6,
       |    (t.na + t.nbuckets) * (t.nb + t.nbuckets) AS den
       |  FROM cells CROSS JOIN t)
       |SELECT bucket, n_ref, n_cur,
       |  ((n_ref + 1) * 1000000) $idiv ((SELECT na + nbuckets FROM t)) AS ref_share_e6,
       |  ((n_cur + 1) * 1000000) $idiv ((SELECT nb + nbuckets FROM t)) AS cur_share_e6,
       |  (diff_num * l_e6) $idiv den AS contrib_e6,
       |  CASE WHEN (SELECT SUM((d2.diff_num * d2.l_e6) $idiv d2.den) FROM d d2) >= 250000
       |      THEN 'major'
       |    WHEN (SELECT SUM((d2.diff_num * d2.l_e6) $idiv d2.den) FROM d d2) >= 100000
       |      THEN 'moderate' ELSE 'stable' END AS psi_verdict
       |FROM d ORDER BY bucket""".stripMargin

  /** Split-conformal prediction interval (Vovk's conformal prediction;
    * Lei et al. 2018 split form) — distribution-free uncertainty for the
    * daily-revenue forecaster: the 7-day-mean forecast's absolute errors
    * on a CALIBRATION window (days 8-21) yield the conformal quantile
    * q = k-th smallest error with k = ⌈(n+1)(1−α)⌉ (α = 1/5 held as the
    * exact integer ceiling — no float quantile), and the interval
    * forecast ± q is then scored on the HELD-OUT days 22-30. Marginal
    * coverage ≥ 1−α is the exchangeability guarantee; the output is the
    * audit row (n_cal, n_test, k, q, covered, coverage).
    *
    * Exactness: everything is integer — e2 revenues, div-7 forecast,
    * absolute errors, the order statistic via a ≤14×14 rank self-join
    * ((err, day) lexicographic, so the k-th row is unique), the coverage
    * ratio's one terminal div. No window function anywhere (the
    * PlanSpec unpartitioned-window guard binds even on calendar-bounded
    * frames); the daily rollup is the only corpus-sized work. Engine-
    * shared SQL body (prefix + idiv parameterized). */
  def conformalForecast(spark: SparkSession, dir: String): DataFrame =
    conformalForecastOf(Tables.events(spark, dir))

  def conformalForecastOf(events: DataFrame): DataFrame = {
    events
      .groupBy(to_date(col("ts")).as("day"))
      .agg(sum(expr("CAST(round(value * 100) AS BIGINT)")).as("rev"))
      .localCheckpoint(false) // bounded frame, materialized once (see miSql note)
      .createOrReplaceTempView("graft_conf_daily")
    events.sparkSession.sql(conformalSql(
      """idx AS (
        |  SELECT datediff(day, (SELECT MIN(day) FROM graft_conf_daily)) + 1 AS i,
        |    rev
        |  FROM graft_conf_daily)""".stripMargin, "div"))
  }

  /** Engine-shared conformal body — `prefix` must define `idx(i, rev)`
    * (1-based contiguous day index, e2 revenue); `idiv` as in [[miSql]]. */
  def conformalSql(prefix: String, idiv: String): String =
    s"""WITH $prefix,
       |f AS (
       |  SELECT a.i, a.rev, CAST(SUM(b.rev) AS BIGINT) $idiv 7 AS fc
       |  FROM idx a JOIN idx b ON b.i >= a.i - 7 AND b.i <= a.i - 1
       |  WHERE a.i >= 8
       |  GROUP BY a.i, a.rev),
       |e AS (
       |  SELECT i, CASE WHEN rev >= fc THEN rev - fc ELSE fc - rev END AS err
       |  FROM f),
       |cal AS (SELECT i, err FROM e WHERE i <= 21),
       |tst AS (SELECT i, err FROM e WHERE i >= 22),
       |nc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cal FROM cal),
       |kk AS (SELECT ((n_cal + 1) * 4 + 4) $idiv 5 AS k FROM nc),
       |ranked AS (
       |  SELECT c.i, c.err, CAST(COUNT(*) AS BIGINT) AS r
       |  FROM cal c JOIN cal c2
       |    ON c2.err < c.err OR (c2.err = c.err AND c2.i <= c.i)
       |  GROUP BY c.i, c.err),
       |q AS (SELECT err AS q_e2 FROM ranked WHERE r = (SELECT k FROM kk))
       |SELECT (SELECT n_cal FROM nc) AS n_cal,
       |  (SELECT CAST(COUNT(*) AS BIGINT) FROM tst) AS n_test,
       |  (SELECT k FROM kk) AS k,
       |  (SELECT q_e2 FROM q) AS q_e2,
       |  (SELECT CAST(SUM(CASE WHEN err <= (SELECT q_e2 FROM q)
       |     THEN 1 ELSE 0 END) AS BIGINT) FROM tst) AS covered,
       |  ((SELECT CAST(SUM(CASE WHEN err <= (SELECT q_e2 FROM q)
       |     THEN 1 ELSE 0 END) AS BIGINT) FROM tst) * 1000000)
       |    $idiv (SELECT CAST(COUNT(*) AS BIGINT) FROM tst) AS coverage_e6""".stripMargin

  /** Offline policy evaluation by inverse-propensity scoring (Horvitz &
    * Thompson 1952; Li et al. 2011's offline bandit replay) — "what would
    * this TARGET policy have earned on the logged traffic?", the
    * counterfactual readout a recommendation/ranking platform runs
    * before any online test. Logged data: events as (context = user
    * segment user_id % 3, action = event_type, reward = high-value flag
    * value > 250). Logging propensities p(a|x) are the empirical action
    * frequencies per segment (integer ratios from the log itself — the
    * stand-in for recorded propensities); the target policy is the
    * deterministic map segment → action (0 → purchase, 1 → view,
    * 2 → click). IPS: V = (1/n) Σ r·1[π(x)=a]/p(a|x); with a
    * deterministic target the per-segment term collapses to
    * sum_r·n_x / (c_x·n) — an EXACT integer rational, floored once at
    * e6 (all operands positive ⇒ Spark `div` == DuckDB `//`; binary
    * reward keeps 10⁶·sum_r·n_x inside BIGINT through sf1 — beyond,
    * widen to DECIMAL(38,0)/HUGEINT, the value_moments pattern).
    * Output per segment: n_x, matched count c_x, propensity_e6, the
    * direct (on-action mean) estimate and the IPS contribution — the
    * per-stratum audit an OPE report shows.
    *
    * Plan: ONE partial-aggregated (segment, action) rollup is the whole
    * scan; propensities, matching, and both estimators are column
    * arithmetic on that ≤ |segments|·|actions| frame. */
  def ipsPolicyEval(spark: SparkSession, dir: String): DataFrame =
    ipsPolicyEvalOf(Tables.events(spark, dir))

  def ipsPolicyEvalOf(events: DataFrame): DataFrame = {
    val cells = events
      .select((col("user_id") % 3).cast("long").as("segment"),
        col("event_type").as("action"),
        (col("value") > 250).cast("long").as("r"))
      .groupBy(col("segment"), col("action"))
      .agg(count(lit(1)).as("c"), sum(col("r")).as("sum_r"))
    val segTotals = cells.groupBy(col("segment")).agg(sum(col("c")).as("n_x"))
    val total = cells.agg(sum(col("c")).as("n"))
    cells
      .withColumn("target_action",
        when(col("segment") === 0, "purchase")
          .when(col("segment") === 1, "view").otherwise("click"))
      .filter(col("action") === col("target_action"))
      .join(broadcast(segTotals), "segment")
      .crossJoin(broadcast(total))
      .select(col("segment"), col("target_action"), col("n_x"),
        col("c").as("matched"),
        expr("(c * 1000000) div n_x").as("propensity_e6"),
        expr("(sum_r * 1000000) div c").as("direct_mean_e6"),
        expr("(sum_r * n_x * 1000000) div (c * n)").as("ips_contrib_e6"))
      .orderBy(col("segment"))
  }

  /** Holt linear (double-exponential) smoothing of the daily revenue
    * series at α = β = ½ — the level+trend forecaster one step up from
    * exp_smooth's EWMA (which cannot track a drifting slope). The
    * recurrence is a COUPLED two-variable system
    * (l_t = ⌊(y_t + l_{t−1} + b_{t−1})/2⌋,
    * b_t = ⌊(b_{t−1} + (l_t − l_{t−1}))/2⌋) with per-step floors — like
    * recursive_cte, nonlinear and window-irreducible. The corpus work is
    * ONE daily rollup; the recursion itself is a single LINEAR-state
    * pass over `sort_array(collect_list(...))` of the series
    * ([[graft.core.HoltLinearTrajectory]], state = two BIGINTs, O(days))
    * — one job instead of a 30-iteration `WITH RECURSIVE` paying
    * ~130 ms of scheduler latency per step (the round-10 bench
    * finding; the DuckDB oracle keeps the recursive form, and `div` /
    * `//` / Scala `Long./` all truncate toward zero on the negative
    * trend values — the probed pin). Forecast = l + b. Steps advance by
    * DAY RANK, not
    * calendar offset, so a missing day can't truncate the series (the
    * round-10 advisor finding); the oracle ranks identically. */
  def holtLinear(spark: SparkSession, dir: String): DataFrame =
    holtLinearOf(Tables.events(spark, dir))

  def holtLinearOf(events: DataFrame): DataFrame = {
    // LINEAR-state fold ([[graft.core.HoltLinearTrajectory]]): the HOF
    // `array_append` form copied the full accumulated trajectory per step
    // (O(days²) element copies — round-11 verdict #2); the expression
    // walks the sorted series once with O(1) state, any grain
    graft.core.GraftFunctions.register(events.sparkSession)
    events
      .groupBy(to_date(col("ts")).as("day"))
      .agg(expr("CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)")
        .as("rev"))
      .agg(sort_array(collect_list(struct(col("day"), col("rev")))).as("xs"))
      .select(explode(expr("holt_linear_fold(xs)")).as("r"))
      .select(col("r.day").as("day"), col("r.rev").as("rev_e2"),
        col("r.lvl").as("level_e2"), col("r.trd").as("trend_e2"),
        (col("r.lvl") + col("r.trd")).as("forecast_e2"))
      .orderBy(col("day"))
  }

  /** Holt-Winters ADDITIVE SEASONAL smoothing (α = β = γ = ½, weekly
    * season) — the third rung of the forecasting ladder (EWMA →
    * holt_linear → this): level, trend, AND a 7-slot day-of-week
    * component update jointly, so a recurring weekly bump stops leaking
    * into the trend. On the Spark side the whole recursion is ONE
    * LINEAR-state pass over the sorted series
    * ([[graft.core.HoltWintersTrajectory]] — the seasonal vector rides
    * the O(1) fold state as a 7-slot array, 9 integers total); the DuckDB
    * oracle keeps the `WITH RECURSIVE` form with the vector as SEVEN
    * WIDE COLUMNS (the markov_attribution trick). Every update is a
    * floor recursion (l_t = ⌊(y − s_dow + l + b)/2⌋, b as in Holt,
    * s_dow' = ⌊(y − l_t + s_dow)/2⌋), integer-exact on both engines
    * including negative seasonal/trend values (div and // both truncate
    * toward zero — the probed pin). Forecast = l + b + s(next dow).
    * Steps advance by DAY RANK (gap-proof, the advisor finding); dow
    * stays the true calendar day-of-week. */
  def holtWinters(spark: SparkSession, dir: String): DataFrame =
    holtWintersOf(Tables.events(spark, dir))

  def holtWintersOf(events: DataFrame): DataFrame = {
    // LINEAR-state fold ([[graft.core.HoltWintersTrajectory]]) — state is
    // (lvl, trd, 7-slot seasonal vector), one pass over the sorted series
    // (the HOF array_append form was O(days²); round-11 verdict #2)
    graft.core.GraftFunctions.register(events.sparkSession)
    events
      .groupBy(to_date(col("ts")).as("day"))
      .agg(expr("CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)")
        .as("rev"))
      .withColumn("dow",
        expr("CAST(datediff(day, DATE '1970-01-01') % 7 AS BIGINT)"))
      .agg(sort_array(collect_list(struct(col("day"), col("rev"),
        col("dow")))).as("xs"))
      .select(explode(expr("holt_winters_fold(xs)")).as("r"))
      .select(col("r.day").as("day"), col("r.rev").as("rev_e2"),
        col("r.lvl").as("level_e2"), col("r.trd").as("trend_e2"),
        expr("element_at(r.s, CAST(r.dow + 1 AS INT))").as("seasonal_e2"),
        expr("r.lvl + r.trd + element_at(r.s, CAST((r.dow + 1) % 7 + 1 AS INT))")
          .as("forecast_next_e2"))
      .orderBy(col("day"))
  }

  /** The `WITH RECURSIVE` Holt-Winters body over `idx(day, rev, t,
    * dow)` — the DuckDB oracle's form (the Spark side folds instead);
    * `idiv` as in [[miSql]], and the spec cross-checks this text on
    * Spark against the fold. */
  def holtWintersSql(idxView: String, idiv: String): String = {
    val sInit = (0 to 6).map(k => s"CAST(0 AS BIGINT) AS s$k").mkString(", ")
    val sPick = (0 to 6).map(k => s"WHEN i.dow = $k THEN h.s$k").mkString(" ")
    val sNext = (0 to 6).map(k => s"WHEN (x.dow + 1) % 7 = $k THEN x.s$k")
      .mkString(" ")
    val sStep = (0 to 6).map(k =>
      s"""CASE WHEN i.dow = $k THEN
         |  (i.rev - ((i.rev - (CASE $sPick END) + h.lvl + h.trd) $idiv 2)
         |   + h.s$k) $idiv 2
         |ELSE h.s$k END""".stripMargin.replace("\n", " ")).mkString(",\n    ")
    s"""WITH RECURSIVE
       |hw AS (
       |  SELECT t, day, dow, rev, rev AS lvl, CAST(0 AS BIGINT) AS trd, $sInit
       |  FROM $idxView WHERE t = 1
       |  UNION ALL
       |  SELECT i.t, i.day, i.dow, i.rev,
       |    (i.rev - (CASE $sPick END) + h.lvl + h.trd) $idiv 2,
       |    (h.trd + ((i.rev - (CASE $sPick END) + h.lvl + h.trd) $idiv 2 - h.lvl)) $idiv 2,
       |    $sStep
       |  FROM hw h JOIN $idxView i ON i.t = h.t + 1)
       |SELECT x.day, x.rev AS rev_e2, x.lvl AS level_e2, x.trd AS trend_e2,
       |  (CASE ${(0 to 6).map(k => s"WHEN x.dow = $k THEN x.s$k").mkString(" ")}
       |   END) AS seasonal_e2,
       |  x.lvl + x.trd + (CASE $sNext END) AS forecast_next_e2
       |FROM hw x ORDER BY x.day""".stripMargin
  }

  /** Decision-stump split finding over a histogram — the distributed
    * core of GBDT/random-forest training (XGBoost's approximate split
    * algorithm): ONE partial-aggregated pass buckets the feature
    * (⌊value/10⌋·10 — 50 cells over the [0, 490] fixture range) into
    * (count, positives) per cell, and every downstream step — candidate
    * prefix sums, scoring, argmax — runs on that ≤50-row histogram, so
    * split search costs one scan at ANY corpus size. Label: the event is
    * a purchase.
    *
    * Exactness: minimizing weighted Gini n_L·g_L + n_R·g_R is equivalent
    * to maximizing Q = (p_L²+q_L²)/n_L + (p_R²+q_R²)/n_R; each candidate
    * carries Q's EXACT rational as score_num/score_den BIGINTs
    * (num = (p_L²+q_L²)·n_R + (p_R²+q_R²)·n_L ≤ ~10¹⁵ at sf0.1 — beyond
    * ~10⁶ rows these widen to DECIMAL(38,0)/HUGEINT with string export,
    * the value_moments pattern). The argmax never divides: `is_best`
    * marks the candidate no rival beats under the cross-multiplied
    * integer compare num_o·den_c > num_c·den_o (products ~10²⁵, carried
    * in DECIMAL(38,0)/HUGEINT only inside the comparison), ties broken
    * to the smaller threshold — a broadcast anti-join over the ≤50-row
    * candidate frame. Thresholds with an empty side never materialize
    * (the prefix join is strict `<`). */
  def giniSplit(spark: SparkSession, dir: String): DataFrame =
    giniSplitOf(Tables.events(spark, dir))

  def giniSplitOf(events: DataFrame): DataFrame = {
    val d38 = "decimal(38,0)"
    val hist = events
      .select((floor(col("value") / 10) * 10).cast("long").as("bucket"),
        (col("event_type") === "purchase").cast("long").as("pos"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"), sum(col("pos")).as("p"))
    val total = hist.agg(sum(col("n")).as("nt"), sum(col("p")).as("pt"))
    // the ≤50-row candidate frame feeds the rival list and both argmax
    // branches — cache it so the events scan runs once (basket_lift's
    // incidence-frame precedent)
    val cand = hist.select(col("bucket").as("thr"))
      .join(hist, col("bucket") < col("thr"))
      .groupBy(col("thr"))
      .agg(sum(col("n")).as("n_left"), sum(col("p")).as("pos_left"))
      .crossJoin(broadcast(total))
      .select(col("thr"), col("n_left"), col("pos_left"),
        (col("nt") - col("n_left")).as("n_right"),
        (col("pt") - col("pos_left")).as("pos_right"))
      .select(col("thr"), col("n_left"), col("pos_left"), col("n_right"),
        col("pos_right"),
        expr("""(pos_left * pos_left
            |   + (n_left - pos_left) * (n_left - pos_left)) * n_right
            |+ (pos_right * pos_right
            |   + (n_right - pos_right) * (n_right - pos_right)) * n_left
            |""".stripMargin).as("score_num"),
        expr("n_left * n_right").as("score_den"))
      .cache()
    val rivals = cand.select(col("thr").as("o_thr"),
      col("score_num").as("o_num"), col("score_den").as("o_den"))
    cand
      .join(broadcast(rivals),
        expr(s"""CAST(o_num AS $d38) * CAST(score_den AS $d38)
             |  > CAST(score_num AS $d38) * CAST(o_den AS $d38)
             |OR (CAST(o_num AS $d38) * CAST(score_den AS $d38)
             |    = CAST(score_num AS $d38) * CAST(o_den AS $d38)
             |    AND o_thr < thr)""".stripMargin),
        "left_anti")
      .withColumn("is_best", lit(1L))
      .unionByName(
        cand.join(broadcast(rivals),
          expr(s"""CAST(o_num AS $d38) * CAST(score_den AS $d38)
               |  > CAST(score_num AS $d38) * CAST(o_den AS $d38)
               |OR (CAST(o_num AS $d38) * CAST(score_den AS $d38)
               |    = CAST(score_num AS $d38) * CAST(o_den AS $d38)
               |    AND o_thr < thr)""".stripMargin),
          "left_semi")
          .withColumn("is_best", lit(0L)))
      .orderBy(col("thr"))
  }

  /** Two rounds of exact AdaBoost over decision stumps (Freund &
    * Schapire 1997) — distributed BOOSTING, not just the single split
    * [[giniSplit]] finds: round 1 picks the min-error stump under
    * uniform weights; re-weighting then gives every row one of exactly
    * TWO rational weights (correct → 1/(2(n−e)), wrong → 1/(2e) — each
    * class sums to ½, the classic identity), so round 2's weighted error
    * for any candidate is the EXACT rational
    * (a·e + b·(n−e)) / (2e(n−e)) with a = wrong-now∧right-before,
    * b = wrong-now∧wrong-before — and since the denominator is the SAME
    * for every candidate, the round-2 argmin is a pure integer argmin of
    * a·e + b·(n−e). No row-level float weight ever exists. The ensemble
    * vote sign(α₁h₁ + α₂h₂) is also exact: h₁, h₂ agree or the larger α
    * wins, and α₁ > α₂ ⇔ ε₁ < ε₂ ⇔ e·den₂ < num₂·n — an integer
    * cross-multiplication (α is strictly decreasing in ε). The two α
    * values are ½ln((1−ε)/ε), e6-quantized ONCE each (the fs_linkage
    * budget: 2 libm calls total). Output: one row per round — stump
    * (threshold, polarity), exact error rational, α_e6, and the
    * cumulative training-correct count.
    *
    * Everything after ONE partial-aggregated (bucket, label) histogram
    * (≤ 100 cells) is bounded-frame SQL: the SAME text runs on Spark and
    * DuckDB (only the histogram source differs), so the oracle is the
    * mirror by construction. Assumes 0 < ε < ½ each round (the fixture's
    * ~20% purchase rate guarantees it; StatQueriesSpec pins it).
    *
    * Honest two-voter limit: with two stumps the ensemble vote IS the
    * larger-α stump (agreement is trivial, disagreement goes to the
    * bigger α), so `n_correct` cannot exceed the better stump until a
    * third round — which keeps the same integer form (the four
    * (ok₁, ok₂) classes carry weights (ok₁ ? e : n−e)·(ok₂ ? num :
    * den−num) over a shared denominator, so round-3 selection is again
    * an integer argmin, in DECIMAL(38,0) past sf0.1). The spec pins the
    * re-weighting identity that makes all of this work: h₁'s OWN
    * round-2 weighted error is exactly ½. */
  def adaboostStumps(spark: SparkSession, dir: String): DataFrame =
    adaboostStumpsOf(Tables.events(spark, dir))

  def adaboostStumpsOf(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    events
      .select((floor(col("value").cast("double") / 10) * 10).cast("long").as("bucket"),
        when(col("event_type") === "purchase", 1L).otherwise(-1L).as("yy"))
      .groupBy(col("bucket"), col("yy")).agg(count(lit(1)).as("c"))
      .localCheckpoint(false) // bounded frame, materialized once (see miSql note)
      .createOrReplaceTempView("graft_ada_h")
    // r17 (guide §1.2 "per-task work" applied to the DRIVER): the body's
    // ~24 scalar-subquery references each re-inline their CTE's whole
    // subplan, and Catalyst paid ~3.3 s PLANNING the one-query form
    // (profiled: 14 jobs, 0.3 s of tasks, 3.4 s driver gap). The
    // MULTIPLY-REFERENCED bounded frames (tot, h1, cls, h2) are staged
    // as checkpointed temp views so every scalar-subquery reference
    // resolves to a 1-row/≤100-row LocalTableScan; the once-used chains
    // (thr/pre/cand1, cand2, vote/corr2) stay CTEs of their consumer.
    // Identical stage texts on both engines (the DuckDB oracle chains
    // ALL of them as CTEs of one query), same rows out, ~3× less driver
    // time; each staged frame is histogram-bounded, so the extra jobs
    // are sub-ms of task work.
    val texts = AdaStages.toMap
    def withCtes(target: String, ctes: Seq[String]): String =
      if (ctes.isEmpty) texts(target)
      else "WITH " + ctes.map(n => s"$n AS (${texts(n)})").mkString(",\n") +
        "\n" + texts(target)
    val groups = Seq(
      "graft_ada_tot" -> Nil,
      "graft_ada_h1" -> Seq("graft_ada_thr", "graft_ada_pre", "graft_ada_cand1"),
      "graft_ada_cls" -> Nil,
      "graft_ada_h2" -> Seq("graft_ada_thr", "graft_ada_cand2"))
    for ((target, ctes) <- groups)
      spark.sql(withCtes(target, ctes))
        .coalesce(1).localCheckpoint(false).createOrReplaceTempView(target)
    spark.sql("WITH " +
      Seq("graft_ada_vote", "graft_ada_corr2")
        .map(n => s"$n AS (${texts(n)})").mkString(",\n") + "\n" + AdaFinal)
  }

  /** The engine-shared AdaBoost stages — each references only the
    * histogram view `graft_ada_h` and earlier stage names, so Spark can
    * run them as checkpointed temp views while the DuckDB oracle chains
    * the SAME texts as CTEs of one query ([[adaboostSql]]). */
  private[queries] val AdaStages: Seq[(String, String)] = Seq(
    "graft_ada_tot" ->
      """SELECT CAST(SUM(CASE WHEN yy = 1 THEN c ELSE 0 END) AS BIGINT) AS np,
        |    CAST(SUM(CASE WHEN yy = -1 THEN c ELSE 0 END) AS BIGINT) AS nn,
        |    CAST(SUM(c) AS BIGINT) AS n
        |  FROM graft_ada_h""".stripMargin,
    "graft_ada_thr" ->
      """SELECT bucket AS t FROM graft_ada_h GROUP BY bucket
        |  HAVING bucket > (SELECT MIN(bucket) FROM graft_ada_h)""".stripMargin,
    "graft_ada_pre" ->
      """SELECT thr.t,
        |    CAST(SUM(CASE WHEN h.bucket < thr.t AND h.yy = 1 THEN h.c ELSE 0 END) AS BIGINT) AS lpos,
        |    CAST(SUM(CASE WHEN h.bucket < thr.t AND h.yy = -1 THEN h.c ELSE 0 END) AS BIGINT) AS lneg
        |  FROM graft_ada_thr thr CROSS JOIN graft_ada_h h GROUP BY thr.t""".stripMargin,
    "graft_ada_cand1" ->
      """SELECT t, CAST(1 AS BIGINT) AS pol,
        |    lneg + (SELECT np FROM graft_ada_tot) - lpos AS wrong
        |  FROM graft_ada_pre
        |  UNION ALL
        |  SELECT t, CAST(-1 AS BIGINT),
        |    lpos + (SELECT nn FROM graft_ada_tot) - lneg
        |  FROM graft_ada_pre""".stripMargin,
    "graft_ada_h1" ->
      """SELECT t, pol, wrong AS e FROM graft_ada_cand1
        |  ORDER BY wrong, t, pol DESC LIMIT 1""".stripMargin,
    "graft_ada_cls" ->
      """SELECT h.bucket, h.yy, CAST(h.c AS BIGINT) AS c,
        |    CASE WHEN (CASE WHEN h.bucket < (SELECT t FROM graft_ada_h1)
        |        THEN (SELECT pol FROM graft_ada_h1) ELSE -(SELECT pol FROM graft_ada_h1) END) = h.yy
        |      THEN 1 ELSE 0 END AS ok1
        |  FROM graft_ada_h h""".stripMargin,
    "graft_ada_cand2" ->
      """SELECT thr.t, p.pol,
        |    CAST(SUM(CASE WHEN (CASE WHEN cls.bucket < thr.t THEN p.pol ELSE -p.pol END) <> cls.yy
        |      AND cls.ok1 = 1 THEN cls.c ELSE 0 END) AS BIGINT) AS a,
        |    CAST(SUM(CASE WHEN (CASE WHEN cls.bucket < thr.t THEN p.pol ELSE -p.pol END) <> cls.yy
        |      AND cls.ok1 = 0 THEN cls.c ELSE 0 END) AS BIGINT) AS b
        |  FROM graft_ada_thr thr CROSS JOIN (SELECT CAST(1 AS BIGINT) AS pol
        |    UNION ALL SELECT CAST(-1 AS BIGINT)) p CROSS JOIN graft_ada_cls cls
        |  GROUP BY thr.t, p.pol""".stripMargin,
    "graft_ada_h2" ->
      """SELECT t, pol,
        |    a * (SELECT e FROM graft_ada_h1)
        |      + b * ((SELECT n FROM graft_ada_tot) - (SELECT e FROM graft_ada_h1)) AS num,
        |    2 * (SELECT e FROM graft_ada_h1)
        |      * ((SELECT n FROM graft_ada_tot) - (SELECT e FROM graft_ada_h1)) AS den
        |  FROM graft_ada_cand2
        |  ORDER BY a * (SELECT e FROM graft_ada_h1)
        |    + b * ((SELECT n FROM graft_ada_tot) - (SELECT e FROM graft_ada_h1)), t, pol DESC
        |  LIMIT 1""".stripMargin,
    "graft_ada_vote" ->
      """SELECT cls.yy, cls.c,
        |    CASE WHEN cls.bucket < (SELECT t FROM graft_ada_h1)
        |      THEN (SELECT pol FROM graft_ada_h1) ELSE -(SELECT pol FROM graft_ada_h1) END AS p1,
        |    CASE WHEN cls.bucket < (SELECT t FROM graft_ada_h2)
        |      THEN (SELECT pol FROM graft_ada_h2) ELSE -(SELECT pol FROM graft_ada_h2) END AS p2
        |  FROM graft_ada_cls cls""".stripMargin,
    "graft_ada_corr2" ->
      """SELECT CAST(SUM(CASE WHEN (CASE WHEN p1 = p2 THEN p1
        |      WHEN (SELECT e FROM graft_ada_h1) * (SELECT den FROM graft_ada_h2)
        |        < (SELECT num FROM graft_ada_h2) * (SELECT n FROM graft_ada_tot) THEN p1
        |      ELSE p2 END) = yy THEN c ELSE 0 END) AS BIGINT) AS nc
        |  FROM graft_ada_vote""".stripMargin)

  private[queries] val AdaFinal: String =
    """SELECT CAST(1 AS BIGINT) AS round, t AS thr, pol AS polarity,
      |  e AS err_num, (SELECT n FROM graft_ada_tot) AS err_den,
      |  CAST(round(500000 * ln(
      |    CAST((SELECT n FROM graft_ada_tot) - e AS DOUBLE) / CAST(e AS DOUBLE)))
      |    AS BIGINT) AS alpha_e6,
      |  (SELECT n FROM graft_ada_tot) - e AS n_correct
      |FROM graft_ada_h1
      |UNION ALL
      |SELECT CAST(2 AS BIGINT), t, pol, num, den,
      |  CAST(round(500000 * ln(
      |    CAST(den - num AS DOUBLE) / CAST(num AS DOUBLE))) AS BIGINT),
      |  (SELECT nc FROM graft_ada_corr2)
      |FROM graft_ada_h2
      |ORDER BY round""".stripMargin

  /** The engine-shared AdaBoost body — `hSource` supplies the
    * (bucket, yy, c) histogram (temp views on Spark, one chained-CTE
    * query on DuckDB); everything else is dialect-free SQL assembled
    * from the SAME [[AdaStages]] texts the Spark runner stages. */
  def adaboostSql(hSource: String): String =
    s"WITH graft_ada_h AS ($hSource),\n" +
      AdaStages.map { case (n, s) => s"$n AS ($s)" }.mkString(",\n") +
      "\n" + AdaFinal

  /** K-anonymity audit (Sweeney 1998/2002) — the release gate before a
    * dataset with quasi-identifiers leaves the fence: group the table by
    * the QI tuple, k = the SMALLEST group (an attacker who knows a
    * target's QI values narrows them to k candidates), and report the
    * violating mass under the conventional k ≥ 5 bar. Audited at two
    * generalization levels side by side: FINE (nation, segment,
    * 100-currency balance band) re-identifies essentially everyone
    * (k = 1, all 1500 rows at risk at sf0.01); COARSE (segment,
    * 1000-currency band) clears the bar (k = 18) — the
    * generalize-until-k-safe loop privacy engineering actually runs,
    * shown as data. Pure integer counting; balance bands use the
    * shifted-positive div so Spark and DuckDB floor identically on
    * negative balances. ONE partial-aggregated rollup per level; the
    * audit frame is QI-cardinality-bounded at any table size. */
  def kAnonymity(spark: SparkSession, dir: String): DataFrame =
    kAnonymityOf(Tables.customer(spark, dir))

  def kAnonymityOf(customer: DataFrame): DataFrame = {
    def audit(level: String, keys: Seq[org.apache.spark.sql.Column]) =
      customer.groupBy(keys: _*).agg(count(lit(1)).as("n"))
        .agg(count(lit(1)).as("n_groups"), min(col("n")).as("min_k"),
          sum(when(col("n") < 5, 1L).otherwise(0L)).as("n_groups_below5"),
          sum(when(col("n") < 5, col("n")).otherwise(0L)).as("n_rows_at_risk"))
        .select(lit(level).as("level"), col("n_groups"), col("min_k"),
          col("n_groups_below5"), col("n_rows_at_risk"))
    def band(width: Long) = expr(
      s"(CAST(round(c_acctbal * 100) AS BIGINT) + 100000) div $width")
    audit("fine", Seq(col("c_nationkey"), col("c_mktsegment"),
        band(10000L).as("band")))
      .unionByName(audit("coarse", Seq(col("c_mktsegment"),
        band(100000L).as("band"))))
      .orderBy(col("level"))
  }

  /** Kruskal-Wallis H (X292 — the rank one-way ANOVA, Kruskal & Wallis
    * 1952): does `value` differ in DISTRIBUTION across event types,
    * without mann_whitney's two-group limit or any normality
    * assumption? Ranks are exact integers in DOUBLED form (2·avg-rank =
    * 2·count_below + count_eq + 1 — ties need no fractions), computed
    * per DISTINCT e2 value (value-cardinality-bounded window, never a
    * row-wise global sort) and broadcast back onto the rows; per-group
    * rank sums accumulate DECIMAL(38,0). The statistic folds the
    * doubled form: H = 3·T/(N(N+1)) − 3(N+1) with T = Σ_c R2_c² div
    * n_c (exact integer quotients — 12/(N(N+1))·Σ(R2/2)²/n = 3·Σ
    * R2²/n/(N(N+1))), and the tie-corrected H divides by 1 − Σ(t³−t)/
    * (N³−N) from exact tie counts. Magnitude bound (the d38 contract):
    * R2_c² div n_c ≤ 4N³ must fit BIGINT — exact while N < 1.3e6 rows
    * per audited slice; shard the audit beyond that. One data-sized
    * rollup (value histogram); everything after is bounded. */
  def kruskalWallis(spark: SparkSession, dir: String): DataFrame =
    kruskalWallisOf(Tables.events(spark, dir)
      .select(col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("v")))

  private[graft] def kruskalWallisOf(ev: DataFrame): DataFrame = {
    val spark = ev.sparkSession
    import spark.implicits._
    val d38 = "decimal(38,0)"
    val byVal = ev.filter(col("v").isNotNull)
      .groupBy(col("v")).agg(count(lit(1)).as("cnt"))
    // doubled average rank per distinct value (2·below + eq + 1) by
    // BAND-partitioned prefix sums: band = v div 100 is a pure function
    // of the value, so each window partition holds ≤ 100 histogram rows
    // BY CONSTRUCTION (never an enum key, never a single-reducer global
    // sort — PlanSpec's scale guards), cross-band offsets come from one
    // bounded driver fold over the band totals (band count ≤ domain/100
    // — a property of the VALUE RANGE, not the row count), and an
    // array-building HOF fold (the first cut, O(values²) interpreted)
    // is avoided entirely.
    val banded = byVal.withColumn("band", expr("v div 100"))
    val bandTotals = banded.groupBy(col("band")).agg(sum(col("cnt")).as("bt"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    var acc = 0L
    val offsets = bandTotals.map { case (b, bt) =>
      val o = (b, acc); acc += bt; o
    }.toSeq.toDF("band", "off")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("band")).orderBy(col("v"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val ranked = banded
      .withColumn("lb", coalesce(sum(col("cnt")).over(w), lit(0L)))
      .join(broadcast(offsets), "band")
      .select(col("v"),
        (lit(2L) * (col("lb") + col("off")) + col("cnt") + 1L).as("r2"),
        col("cnt"))
    val grp = ev.join(broadcast(ranked.select(col("v"), col("r2"))), "v")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_c"),
        sum(expr(s"CAST(r2 AS $d38)")).as("rs2"))
    val ties = ranked.agg(sum(expr(
      s"CAST(cnt AS $d38) * CAST(cnt AS $d38) * CAST(cnt AS $d38) " +
        s"- CAST(cnt AS $d38)")).as("ts"))
    grp.agg(sum(col("n_c")).as("n"), count(lit(1)).as("n_groups"),
        sum(expr("(rs2 * rs2) div n_c")).as("t"))
      .crossJoin(broadcast(ties))
      .select(col("n"), col("n_groups"),
        expr(
          """CAST(round(
            |  (3.0 * CAST(t AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n + 1 AS DOUBLE))
            |   - 3.0 * CAST(n + 1 AS DOUBLE)) * 1000000) AS BIGINT)""".stripMargin)
          .as("h_e6"),
        expr(
          """CAST(round(
            |  (3.0 * CAST(t AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n + 1 AS DOUBLE))
            |   - 3.0 * CAST(n + 1 AS DOUBLE))
            |  / (1.0 - CAST(ts AS DOUBLE)
            |     / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
            |        - CAST(n AS DOUBLE)))
            |  * 1000000) AS BIGINT)""".stripMargin).as("h_tie_e6"))
  }

  /** L-diversity audit (X293 — Machanavajjhala et al. 2006, the
    * k-anonymity companion): k-anonymity bounds group SIZE, but a group
    * of 50 rows that all share one sensitive value still discloses it —
    * l-diversity requires every QI group to carry ≥ l DISTINCT
    * sensitive values. Same two generalization levels as
    * [[kAnonymity]] (sensitive attribute: nation), reporting the
    * minimum l, the groups below the conventional l ≥ 3 bar, and the
    * row mass at risk. Pure integer counting, QI-cardinality-bounded
    * after one partial-aggregated rollup per level. */
  def lDiversity(spark: SparkSession, dir: String): DataFrame =
    lDiversityOf(Tables.customer(spark, dir))

  def lDiversityOf(customer: DataFrame): DataFrame = {
    def audit(level: String, keys: Seq[org.apache.spark.sql.Column]) =
      customer.groupBy(keys: _*)
        .agg(count(lit(1)).as("n"),
          countDistinct(col("c_nationkey")).as("l"))
        .agg(count(lit(1)).as("n_groups"), min(col("l")).as("min_l"),
          sum(when(col("l") < 3, 1L).otherwise(0L)).as("n_groups_below3"),
          sum(when(col("l") < 3, col("n")).otherwise(0L)).as("n_rows_at_risk"))
        .select(lit(level).as("level"), col("n_groups"), col("min_l"),
          col("n_groups_below3"), col("n_rows_at_risk"))
    def band(width: Long) = expr(
      s"(CAST(round(c_acctbal * 100) AS BIGINT) + 100000) div $width")
    audit("fine", Seq(col("c_mktsegment"), band(10000L).as("band")))
      .unionByName(audit("coarse", Seq(band(100000L).as("band"))))
      .orderBy(col("level"))
  }

  /** T-closeness audit (X306 — Li, Li & Venkatasubramanian 2007,
    * completing the privacy triple with [[kAnonymity]] and
    * [[lDiversity]]): l-diversity counts distinct sensitive values but
    * a group can still SKEW toward one (50 rows, 49 of one nation) —
    * t-closeness bounds the DISTANCE between each QI group's sensitive
    * distribution and the global one. For the categorical attribute the
    * distance is total variation ½Σ|p_g − p| computed as the exact
    * rational Σ|c_gn·n − c_n·n_g| / (2·n_g·n): per-group numerators are
    * integer sums over the group's PRESENT nations plus the closed-form
    * absent-nation mass (n − Σ_present c_n)·n_g — never a dense
    * group×nation cross. Per level: worst/best t (e6 quotients), the
    * groups above the conventional t > 0.5 bar, and the row mass at
    * risk. DECIMAL(38,0) products carry any table size. */
  def tCloseness(spark: SparkSession, dir: String): DataFrame =
    tClosenessOf(Tables.customer(spark, dir))

  def tClosenessOf(customer: DataFrame): DataFrame = {
    val d38 = "decimal(38,0)"
    val globalDist = customer.groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("c_n"))
    val n = customer.count()
    def band(width: Long) = expr(
      s"(CAST(round(c_acctbal * 100) AS BIGINT) + 100000) div $width")
    def audit(level: String, qi: org.apache.spark.sql.Column): DataFrame = {
      val cells = customer.select(qi.as("qi"), col("c_nationkey"))
        .groupBy(col("qi"), col("c_nationkey"))
        .agg(count(lit(1)).as("c_gn"))
      val sizes = cells.groupBy(col("qi")).agg(sum(col("c_gn")).as("n_g"))
      val ts = cells
        .join(broadcast(globalDist), "c_nationkey")
        .join(broadcast(sizes), "qi")
        .groupBy(col("qi"))
        .agg(max(col("n_g")).as("n_g"),
          sum(expr(s"abs(CAST(c_gn AS $d38) * $n " +
            s"- CAST(c_n AS $d38) * n_g)")).as("present_num"),
          sum(col("c_n")).as("present_cn"))
        .select(col("n_g"),
          expr(s"CAST(((present_num + CAST($n - present_cn AS $d38) * n_g) " +
            s"* 1000000) div (2 * CAST(n_g AS $d38) * $n) AS BIGINT)")
            .as("t_e6"))
      ts.agg(count(lit(1)).as("n_groups"),
          max(col("t_e6")).as("max_t_e6"), min(col("t_e6")).as("min_t_e6"),
          sum(when(col("t_e6") > 500000L, 1L).otherwise(0L))
            .as("n_groups_above"),
          sum(when(col("t_e6") > 500000L, col("n_g")).otherwise(0L))
            .as("n_rows_at_risk"))
        .select(lit(level).as("level"), col("n_groups"), col("max_t_e6"),
          col("min_t_e6"), col("n_groups_above"), col("n_rows_at_risk"))
    }
    audit("fine", concat(col("c_mktsegment"), lit("#"),
        band(10000L).cast("string")))
      .unionByName(audit("coarse", band(100000L).cast("string")))
      .orderBy(col("level"))
  }

  /** Cohen's kappa inter-rater agreement (X302 — Cohen 1960, the
    * chance-corrected agreement every labeling pipeline reports before
    * trusting a heuristic labeler against a reference): rater A is the
    * plain high-value rule (v ≥ 250e2), rater B the same rule over a
    * user-perturbed score — a realistic noisy second labeler. The four
    * confusion counts and both marginals are exact integers from ONE
    * partial-aggregated pass; κ = (p_o − p_e)/(1 − p_e) is a single
    * fixed-order double chain, e6-rounded (NULL when chance agreement
    * is total — κ undefined). */
  def cohensKappa(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(
        (expr("CAST(round(value * 100) AS BIGINT)") >= 25000L).as("a"),
        (expr("CAST(round(value * 100) AS BIGINT)") +
          lit(1000L) * (col("user_id") % 5) >= 25000L).as("b"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("a"), 1L).otherwise(0L)).as("a_hi"),
        sum(when(col("b"), 1L).otherwise(0L)).as("b_hi"),
        sum(when(col("a") === col("b"), 1L).otherwise(0L)).as("agree"))
      .select(col("n"), col("a_hi"), col("b_hi"), col("agree"),
        expr(
          """CASE WHEN
            |  1.0 - (CAST(a_hi AS DOUBLE) * CAST(b_hi AS DOUBLE)
            |         + CAST(n - a_hi AS DOUBLE) * CAST(n - b_hi AS DOUBLE))
            |        / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) <> 0.0
            |THEN CAST(round(
            |  (CAST(agree AS DOUBLE) / CAST(n AS DOUBLE)
            |   - (CAST(a_hi AS DOUBLE) * CAST(b_hi AS DOUBLE)
            |      + CAST(n - a_hi AS DOUBLE) * CAST(n - b_hi AS DOUBLE))
            |     / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
            |  / (1.0 - (CAST(a_hi AS DOUBLE) * CAST(b_hi AS DOUBLE)
            |            + CAST(n - a_hi AS DOUBLE) * CAST(n - b_hi AS DOUBLE))
            |           / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
            |  * 1000000) AS BIGINT) END""".stripMargin).as("kappa_e6"))

  /** The t-ranked daily revenue series collected to ONE sorted array —
    * the shared bounded frame the pairwise estimators (Theil-Sen,
    * Kendall) fold over: at any corpus size the array is ≤ one element
    * per calendar day, so the O(days²) pair math is constant work after
    * the single partial-aggregated rollup. */
  private def dailySeries(events: DataFrame): DataFrame =
    events
      .groupBy(to_date(col("ts")).as("day"))
      .agg(expr("CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)")
        .as("rev"))
      .agg(sort_array(collect_list(struct(col("day"), col("rev")))).as("xs"))

  /** Theil-Sen robust trend (X227) — the median of all pairwise slopes
    * of the daily revenue series: the slope estimator that shrugs off
    * the outlier days OLS (`trend_regression`) chases (breakdown point
    * 29%, Sen 1968). Slopes quantize to e6 BY RANK STEP ((Δrev·10⁶) div
    * Δt — both engines truncate toward zero on the negative slopes, the
    * probed pin; rank steps are gap-proof like the Holt recursions),
    * and the median is the exact pair of middle order statistics of the
    * ≤ C(days,2) slope array — reported as lo/hi so even-count medians
    * need no cross-engine averaging convention. Everything after the
    * one daily rollup is array math on a calendar-bounded frame. */
  def theilSen(spark: SparkSession, dir: String): DataFrame =
    theilSenOf(Tables.events(spark, dir))

  def theilSenOf(events: DataFrame): DataFrame =
    dailySeries(events)
      .select(expr(
        """sort_array(flatten(transform(xs, (x, i) ->
          |  transform(slice(xs, i + 2, size(xs)), (y, k) ->
          |    ((y.rev - x.rev) * 1000000) div CAST(k + 1 AS BIGINT)))))"""
          .stripMargin).as("ss"))
      .select(
        size(col("ss")).cast("long").as("n_pairs"),
        expr("element_at(ss, CAST((size(ss) + 1) DIV 2 AS INT))")
          .as("slope_lo_e6"),
        expr("element_at(ss, CAST(size(ss) DIV 2 + 1 AS INT))")
          .as("slope_hi_e6"))

  /** Kendall rank correlation (X228) of daily revenue against time —
    * the nonparametric monotone-trend readout (tau-a over the same
    * pair frame as [[theilSen]]; day ranks are strictly increasing so
    * x-ties don't exist and tau-a is the natural form; y-ties are
    * counted and reported). C/D/T are exact integer pair counts; tau_e6
    * is one integer division (truncation toward zero matches on the
    * negative taus). The Mann-Kendall trend test is C − D with a known
    * null variance — reported as the exact integer `s_stat`. */
  def kendallTau(spark: SparkSession, dir: String): DataFrame =
    kendallTauOf(Tables.events(spark, dir))

  def kendallTauOf(events: DataFrame): DataFrame =
    dailySeries(events)
      .select(expr(
        """flatten(transform(xs, (x, i) ->
          |  transform(slice(xs, i + 2, size(xs)), y ->
          |    CAST(sign(y.rev - x.rev) AS BIGINT))))""".stripMargin).as("sg"))
      .select(
        size(col("sg")).cast("long").as("n_pairs"),
        expr("size(filter(sg, v -> v > 0))").cast("long").as("concordant"),
        expr("size(filter(sg, v -> v < 0))").cast("long").as("discordant"),
        expr("size(filter(sg, v -> v = 0))").cast("long").as("y_ties"))
      .select(col("n_pairs"), col("concordant"), col("discordant"),
        col("y_ties"),
        (col("concordant") - col("discordant")).as("s_stat"),
        expr("((concordant - discordant) * 1000000) div n_pairs")
          .as("tau_a_e6"))

  /** Mann-Whitney U / Wilcoxon rank-sum (X224) between the two
    * experiment cohorts (user parity) over INTEGER VALUE BANDS
    * (⌊value⌋ — 491 possible bands, so the rank table is bounded by the
    * value DOMAIN, never by rows): are treatment values stochastically
    * larger? Midranks come from one fold over the sorted band
    * histogram; everything is carried ×2 so midranks stay integral
    * (u2_* = 2U). The identity u2_a + u2_b = 2·n_a·n_b is a built-in
    * audit; z uses the tie-corrected normal approximation as a mirrored
    * fixed-order double chain over exact integers (ties are heavy by
    * construction — the correction is load-bearing, not cosmetic).
    * Scale shape: one partial-aggregated groupBy on the bounded band
    * domain, then array math. */
  def mannWhitney(spark: SparkSession, dir: String): DataFrame =
    mannWhitneyOf(Tables.events(spark, dir))

  def mannWhitneyOf(events: DataFrame): DataFrame =
    events
      .select(expr("CAST(floor(value) AS BIGINT)").as("band"),
        (col("user_id") % 2).as("g"))
      .groupBy(col("band"))
      .agg(sum(when(col("g") === 0, 1L).otherwise(0L)).as("na"),
        sum(when(col("g") === 1, 1L).otherwise(0L)).as("nb"))
      .agg(sort_array(collect_list(struct(col("band"), col("na"),
        col("nb")))).as("xs"))
      .select(explode(expr(
        """aggregate(xs,
          |  named_struct('cum', CAST(0 AS BIGINT), 'r2a', CAST(0 AS BIGINT),
          |    'r2b', CAST(0 AS BIGINT), 'na', CAST(0 AS BIGINT),
          |    'nb', CAST(0 AS BIGINT), 'tc', CAST(0 AS BIGINT)),
          |  (a, x) -> named_struct(
          |    'cum', a.cum + x.na + x.nb,
          |    'r2a', a.r2a + x.na * (2 * a.cum + x.na + x.nb + 1),
          |    'r2b', a.r2b + x.nb * (2 * a.cum + x.na + x.nb + 1),
          |    'na', a.na + x.na, 'nb', a.nb + x.nb,
          |    'tc', a.tc + (x.na + x.nb) * (x.na + x.nb) * (x.na + x.nb)
          |          - (x.na + x.nb)),
          |  a -> array(a))""".stripMargin)).as("r"))
      .select(col("r.na").as("n_a"), col("r.nb").as("n_b"),
        (col("r.r2a") - col("r.na") * (col("r.na") + 1)).as("u2_a"),
        (col("r.r2b") - col("r.nb") * (col("r.nb") + 1)).as("u2_b"),
        col("r.tc").as("tie_cubes"))
      .select(col("n_a"), col("n_b"), col("u2_a"), col("u2_b"),
        col("tie_cubes"),
        expr(mwZSql).as("z_e6"))

  /** The tie-corrected z chain shared verbatim with the oracle:
    * U = u2_a/2, E[U] = n_a·n_b/2,
    * Var = (n_a·n_b/12)·((n+1) − Σ(t³−t)/(n(n−1))). Fixed-order IEEE
    * ops over exact integers ⇒ bit-identical doubles on both engines. */
  private val mwZSql: String =
    """CAST(round(
      |  (CAST(u2_a AS DOUBLE) / 2.0
      |   - CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 2.0)
      |  / sqrt(
      |      CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12.0
      |      * (CAST(n_a + n_b + 1 AS DOUBLE)
      |         - CAST(tie_cubes AS DOUBLE)
      |           / (CAST(n_a + n_b AS DOUBLE) * CAST(n_a + n_b - 1 AS DOUBLE))))
      |  * 1000000) AS BIGINT)""".stripMargin

  /** Sample-ratio-mismatch audit (X225) — the first guardrail any
    * experiment platform runs: do the UNIT counts match the intended
    * 50/50 split? For two cells the χ² GOF statistic collapses to
    * (n0−n1)²/n — one exact integer rational, floored at e6; the gate
    * compares against ⌊χ²₁,₀.₀₅·10⁶⌋ = 3841459 as an integer literal.
    * An SRM flag means the assignment channel is broken and every
    * downstream readout (ab_experiment, cuped, DiD) is void — which is
    * why it's its own declared query, not a column on them. One
    * user-keyed partial-aggregated pass. */
  def srmCheck(spark: SparkSession, dir: String): DataFrame =
    srmCheckOf(Tables.events(spark, dir))

  def srmCheckOf(events: DataFrame): DataFrame =
    events
      .select((col("user_id") % 2).as("g"), col("user_id"))
      .groupBy(col("user_id")).agg(max(col("g")).as("g"))
      .agg(sum(when(col("g") === 0, 1L).otherwise(0L)).as("n0"),
        sum(when(col("g") === 1, 1L).otherwise(0L)).as("n1"))
      .select(col("n0"), col("n1"),
        expr("((n0 - n1) * (n0 - n1) * 1000000) div (n0 + n1)")
          .as("chi2_e6"))
      .select(col("n0"), col("n1"), col("chi2_e6"),
        (col("chi2_e6") >= 3841459L).cast("long").as("srm_flag"))

  /** Difference-in-differences (X226) — the quasi-experimental
    * estimator when assignment isn't randomized: treatment = user
    * parity, pre/post = first/second half of the month, outcome =
    * per-event value. The 2×2 cell means floor at e6 (revenue is e2 →
    * ×10⁴, all positive) and the DiD estimate is pure integer
    * arithmetic on them — the parallel-trends counterfactual
    * (treat_post − treat_pre) − (ctrl_post − ctrl_pre). One
    * partial-aggregated rollup is the only corpus-sized work. */
  def diffInDiff(spark: SparkSession, dir: String): DataFrame =
    diffInDiffOf(Tables.events(spark, dir))

  def diffInDiffOf(events: DataFrame): DataFrame =
    events
      .select((col("user_id") % 2).as("g"),
        (dayofmonth(col("ts")) > 15).cast("long").as("p"),
        expr("CAST(round(value * 100) AS BIGINT)").as("v"))
      .agg(
        sum(when(col("g") === 0 && col("p") === 0, 1L).otherwise(0L)).as("n00"),
        sum(when(col("g") === 0 && col("p") === 0, col("v")).otherwise(0L)).as("s00"),
        sum(when(col("g") === 0 && col("p") === 1, 1L).otherwise(0L)).as("n01"),
        sum(when(col("g") === 0 && col("p") === 1, col("v")).otherwise(0L)).as("s01"),
        sum(when(col("g") === 1 && col("p") === 0, 1L).otherwise(0L)).as("n10"),
        sum(when(col("g") === 1 && col("p") === 0, col("v")).otherwise(0L)).as("s10"),
        sum(when(col("g") === 1 && col("p") === 1, 1L).otherwise(0L)).as("n11"),
        sum(when(col("g") === 1 && col("p") === 1, col("v")).otherwise(0L)).as("s11"))
      .select(
        expr("(s00 * 10000) div n00").as("ctrl_pre_e6"),
        expr("(s01 * 10000) div n01").as("ctrl_post_e6"),
        expr("(s10 * 10000) div n10").as("treat_pre_e6"),
        expr("(s11 * 10000) div n11").as("treat_post_e6"),
        expr("""((s11 * 10000) div n11 - (s10 * 10000) div n10)
          |- ((s01 * 10000) div n01 - (s00 * 10000) div n00)"""
          .stripMargin.replace("\n", " ")).as("did_e6"))

  /** Croston's method for intermittent demand (X238 — Croston 1972):
    * the forecaster for series that are MOSTLY ZERO, where EWMA/Holt
    * bias toward zero after every empty period (spare parts, rare-SKU
    * demand; here the SF-stable sparse slice of high-value error events
    * from the doc-sliced user cohort — 2/3/5 demand days at
    * sf0.001/0.01/0.1, probed). Two coupled EWMAs at α = ½ with integer
    * floors update ONLY on demand occurrences: size ẑ' = ⌊(z+ẑ)/2⌋ and
    * inter-arrival interval q̂' = ⌊(Δdays+q̂)/2⌋ (init ẑ = z₁, q̂ = 1 —
    * the documented first-demand convention); the demand-rate forecast
    * is the exact integer rational ẑ/q̂ at e6. One filtered rollup then
    * a single fold over the sparse array — the same one-job envelope as
    * the Holt family. */
  def crostonDemand(spark: SparkSession, dir: String): DataFrame =
    crostonOf(Tables.events(spark, dir))

  def crostonOf(events: DataFrame): DataFrame =
    events
      .filter(col("event_type") === "error" && col("value") > 200 &&
        col("user_id") < 15)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(expr("CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)")
        .as("z"))
      .agg(sort_array(collect_list(struct(col("day"), col("z")))).as("xs"))
      .select(explode(expr(
        """aggregate(xs,
          |  named_struct('n', CAST(0 AS BIGINT), 'zh', CAST(0 AS BIGINT),
          |    'qh', CAST(0 AS BIGINT), 'lt', CAST(NULL AS DATE)),
          |  (a, x) -> IF(a.n = 0,
          |    named_struct('n', CAST(1 AS BIGINT), 'zh', x.z,
          |      'qh', CAST(1 AS BIGINT), 'lt', x.day),
          |    named_struct('n', a.n + 1, 'zh', (x.z + a.zh) div 2,
          |      'qh', (CAST(datediff(x.day, a.lt) AS BIGINT) + a.qh) div 2,
          |      'lt', x.day)),
          |  a -> array(a))""".stripMargin)).as("r"))
      .select(col("r.n").as("n_demand_days"), col("r.zh").as("z_hat_e2"),
        col("r.qh").as("q_hat_days"),
        expr("(r.zh * 1000000) div r.qh").as("croston_rate_e6"))

  /** Spearman rank correlation (X239) between daily revenue and daily
    * event count — the monotone-association readout robust to the value
    * distribution (are busy days rich days?). Midranks carried ×2 stay
    * integral (computed by exact pair counting inside the bounded daily
    * array — 2·less + ties + 1, the mann_whitney convention), so the
    * five sums are exact integers and ρ is one mirrored Pearson double
    * chain over them (tie-safe: Pearson-on-midranks IS the tie-corrected
    * Spearman). One rollup, one job. */
  def spearmanDaily(spark: SparkSession, dir: String): DataFrame =
    spearmanOf(Tables.events(spark, dir))

  def spearmanOf(events: DataFrame): DataFrame =
    events
      .groupBy(to_date(col("ts")).as("day"))
      .agg(expr("CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)")
        .as("rev"), count(lit(1)).as("cnt"))
      .agg(sort_array(collect_list(struct(col("day"), col("rev"),
        col("cnt")))).as("xs"))
      .select(expr(
        """aggregate(
          |  transform(xs, x -> named_struct(
          |    'rx', CAST(2 * size(filter(xs, y -> y.rev < x.rev))
          |          + size(filter(xs, y -> y.rev = x.rev)) AS BIGINT),
          |    'ry', CAST(2 * size(filter(xs, y -> y.cnt < x.cnt))
          |          + size(filter(xs, y -> y.cnt = x.cnt)) AS BIGINT))),
          |  named_struct('n', CAST(0 AS BIGINT), 'sx', CAST(0 AS BIGINT),
          |    'sy', CAST(0 AS BIGINT), 'sxy', CAST(0 AS BIGINT),
          |    'sxx', CAST(0 AS BIGINT), 'syy', CAST(0 AS BIGINT)),
          |  (a, r) -> named_struct('n', a.n + 1, 'sx', a.sx + r.rx,
          |    'sy', a.sy + r.ry, 'sxy', a.sxy + r.rx * r.ry,
          |    'sxx', a.sxx + r.rx * r.rx, 'syy', a.syy + r.ry * r.ry))"""
          .stripMargin).as("s"))
      .select(col("s.n").as("n_days"),
        expr(
          """CAST(round(
            |  (CAST(s.n AS DOUBLE) * CAST(s.sxy AS DOUBLE)
            |   - CAST(s.sx AS DOUBLE) * CAST(s.sy AS DOUBLE))
            |  / sqrt(
            |      (CAST(s.n AS DOUBLE) * CAST(s.sxx AS DOUBLE)
            |       - CAST(s.sx AS DOUBLE) * CAST(s.sx AS DOUBLE))
            |      * (CAST(s.n AS DOUBLE) * CAST(s.syy AS DOUBLE)
            |         - CAST(s.sy AS DOUBLE) * CAST(s.sy AS DOUBLE)))
            |  * 1000000) AS BIGINT)""".stripMargin).as("rho_e6"))

  /** O'Brien-Fleming group-sequential monitor (X240) — the peeking
    * discipline a weekly-checked experiment needs: four interim looks
    * (days ≤7/≤14/≤21/≤30) at the cumulative conversion z, each gated
    * against the OBF boundary z·√(K/k) with z_K = 2.024 (Jennison &
    * Turnbull's K = 4, α = .05 two-sided design) — early looks demand
    * ~4σ, the final look spends the full α. One per-user rollup (min
    * conversion day), ONE aggregate row of conditional sums, four
    * exploded look rows; z chains and boundaries are mirrored
    * fixed-order double expressions over exact integers; degenerate
    * looks (no conversions yet) carry NULL z and never reject. */
  def obfSequential(spark: SparkSession, dir: String): DataFrame =
    obfOf(Tables.events(spark, dir))

  def obfOf(events: DataFrame): DataFrame = {
    val u = events.groupBy(col("user_id"))
      .agg(min(when(col("event_type") === "purchase" && col("value") > 250,
        dayofmonth(col("ts")))).as("cd"))
      .select((col("user_id") % 2).as("g"), col("cd"))
    val cells = u.agg(
      sum(when(col("g") === 0, 1L).otherwise(0L)).as("n0"),
      (1 to 4).flatMap(k => Seq(
        sum(when(col("g") === 0 && col("cd") <= k * 7, 1L).otherwise(0L))
          .as(s"c0_$k"),
        sum(when(col("g") === 1 && col("cd") <= k * 7, 1L).otherwise(0L))
          .as(s"c1_$k"))) :+
        sum(when(col("g") === 1, 1L).otherwise(0L)).as("n1"): _*)
    val z = (k: Int) =>
      s"""CASE WHEN c0_$k + c1_$k > 0 AND c0_$k + c1_$k < n0 + n1 THEN
         |  CAST(round(
         |    (CAST(c0_$k AS DOUBLE) / CAST(n0 AS DOUBLE)
         |     - CAST(c1_$k AS DOUBLE) / CAST(n1 AS DOUBLE))
         |    / sqrt(
         |        (CAST(c0_$k + c1_$k AS DOUBLE) / CAST(n0 + n1 AS DOUBLE))
         |        * (1.0 - CAST(c0_$k + c1_$k AS DOUBLE) / CAST(n0 + n1 AS DOUBLE))
         |        * (1.0 / CAST(n0 AS DOUBLE) + 1.0 / CAST(n1 AS DOUBLE)))
         |    * 1000000) AS BIGINT)
         |ELSE NULL END""".stripMargin.replace("\n", " ")
    val bound = (k: Int) =>
      s"CAST(round(2.024 * sqrt(4.0 / $k.0) * 1000000) AS BIGINT)"
    cells.select(explode(array((1 to 4).map(k => struct(
        lit(k.toLong).as("look"), lit(k * 7L).as("day_cut"),
        col("n0"), col(s"c0_$k").as("c0"),
        col("n1"), col(s"c1_$k").as("c1"),
        expr(z(k)).as("z_e6"), expr(bound(k)).as("bound_e6"))): _*)).as("r"))
      .select(col("r.look"), col("r.day_cut"), col("r.n0"), col("r.c0"),
        col("r.n1"), col("r.c1"), col("r.z_e6"), col("r.bound_e6"),
        coalesce(abs(col("r.z_e6")) >= col("r.bound_e6"), lit(false))
          .cast("long").as("reject"))
      .orderBy(col("look"))
  }

  /** RFM segmentation (X241) — the classical customer triage (recency /
    * frequency / monetary terciles): per-user (R = days since last
    * event, F = event count, M = revenue), tercile edges by EXACT
    * percentile over the per-user rollup (winsorized_mean's
    * quantile_cont == percentile cross-engine pin; at open-domain scale
    * swap in KllQuantile, same two-pass shape), scores 0–2 per axis
    * with R inverted (recent = high). Output: the ≤27 segment cells
    * with user counts and revenue. One user-keyed partial-aggregated
    * pass + one broadcast edge row. */
  def rfmSegments(spark: SparkSession, dir: String): DataFrame =
    rfmOf(Tables.events(spark, dir))

  def rfmOf(events: DataFrame): DataFrame = {
    val hz = events.agg(max(to_date(col("ts"))).as("h"))
    val u = events.crossJoin(broadcast(hz))
      .groupBy(col("user_id"))
      .agg(expr("CAST(datediff(MAX(h), MAX(to_date(ts))) AS BIGINT)").as("r"),
        count(lit(1)).as("f"),
        expr("CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)").as("m"))
    val edges = u.agg(
      expr("percentile(r, array(CAST(1 AS DOUBLE)/3, CAST(2 AS DOUBLE)/3))").as("re"),
      expr("percentile(f, array(CAST(1 AS DOUBLE)/3, CAST(2 AS DOUBLE)/3))").as("fe"),
      expr("percentile(m, array(CAST(1 AS DOUBLE)/3, CAST(2 AS DOUBLE)/3))").as("me"))
    def tercile(v: String, e: String) =
      s"CASE WHEN CAST($v AS DOUBLE) <= $e[0] THEN 0 " +
        s"WHEN CAST($v AS DOUBLE) <= $e[1] THEN 1 ELSE 2 END"
    u.crossJoin(broadcast(edges))
      .select(col("user_id"), col("m"),
        expr(s"CAST(2 - (${tercile("r", "re")}) AS BIGINT)").as("r_score"),
        expr(s"CAST(${tercile("f", "fe")} AS BIGINT)").as("f_score"),
        expr(s"CAST(${tercile("m", "me")} AS BIGINT)").as("m_score"))
      .groupBy(col("r_score"), col("f_score"), col("m_score"))
      .agg(count(lit(1)).as("n_users"), sum(col("m")).as("rev_e2"))
      .orderBy(col("r_score"), col("f_score"), col("m_score"))
  }

  /** Gini concentration of per-user purchase revenue (X252) — the
    * inequality readout (Gini 1912; the "do 10% of users drive 90% of
    * revenue" audit every marketplace runs). EXACT integer identity
    * G·n·Σx = 2·Σᵢ i·xᵢ − (n+1)·Σx over ascending ranks; ties are
    * rank-order-invariant (equal x contribute the same Σ regardless of
    * permutation), so the readout is deterministic. SCALE SHAPE: the
    * global rank is NEVER a global sort — users band by EQUAL-FREQUENCY
    * revenue boundaries ([[withEqualFreqBand]] — sketch-derived, so a
    * heavy tail cannot collapse the banding; VERDICT r12 #3), local
    * ranks come from a window PARTITIONED on the band, and band offsets
    * join back from the broadcast band histogram (the two-level
    * order-statistics recipe; an unpartitioned window over the user
    * rollup would serialize on one reducer — PlanSpec's guard).
    * Also exports the top-decile revenue share. */
  def giniConcentration(spark: SparkSession, dir: String): DataFrame =
    giniConcentrationOf(Tables.events(spark, dir))

  def giniConcentrationOf(events: DataFrame): DataFrame = {
    val d38 = "decimal(38,0)"
    val u = withEqualFreqBand(events
      .filter(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(expr("CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)")
        .as("x")), "x", 32)
    val bandHist = u.groupBy(col("band")).agg(count(lit(1)).as("m"))
      .localCheckpoint(false) // lazy: first consumer materializes (r17)
    val offsets = bandHist.as("a")
      .join(bandHist.as("b"), col("b.band") < col("a.band"), "left")
      .groupBy(col("a.band").as("band"))
      .agg(coalesce(sum(col("b.m")), lit(0L)).as("off"))
    val ranked = u
      .withColumn("lr", row_number().over(Window.partitionBy(col("band"))
        .orderBy(col("x").asc, col("user_id").asc)))
      .join(broadcast(offsets), "band")
      .select(col("x"), (col("off") + col("lr")).as("i"))
    ranked
      .crossJoin(broadcast(ranked.agg(count(lit(1)).as("n"))))
      .agg(max(col("n")).as("n"), sum(col("x")).as("t"),
        expr(s"SUM(CAST(i AS $d38) * x)").as("r"),
        sum(when(col("i") > col("n") - expr("n div 10"), col("x"))
          .otherwise(lit(0L))).as("top"))
      .select(col("n").as("n_users"), col("t").as("total_rev_e2"),
        expr(s"CAST((2 * r - (CAST(n AS $d38) + 1) * t) * 1000000" +
          s" div (CAST(n AS $d38) * t) AS BIGINT)").as("gini_e6"),
        // top is an e2 revenue sum — widen before the e6 scale-up or the
        // BIGINT product wraps past ~9.2e12 total (ADVICE r12)
        expr(s"CAST((CAST(top AS $d38) * 1000000) div t AS BIGINT)")
          .as("top_decile_share_e6"))
  }

  /** Equal-frequency band assignment for the banded two-level order-
    * statistics recipe (VERDICT r12 #3): band boundaries come from ONE
    * partial-aggregated [[graft.core.NtileBoundaries]] sketch pass (X38 —
    * exact ntile semantics below its cap, KLL-envelope estimates above),
    * broadcast as a ≤(buckets−1)-element array; each row's band is the
    * count of boundaries strictly below its key. Assignment is monotone
    * in the key and tie-stable (equal keys share a band), so
    * offset + local-rank still composes the EXACT global rank whatever
    * the boundary placement. The previous fixed-width `x div c` bands
    * degenerate on heavy-tailed revenue — most users land in the bottom
    * band and the per-band rank window re-becomes a single-reducer
    * sort; equal-frequency bands keep every window ≈ n/buckets rows by
    * construction (the heavy-tail spec's pin). */
  private[graft] def withEqualFreqBand(u: DataFrame, keyCol: String,
      buckets: Int): DataFrame = {
    val bounds = udaf(new graft.core.NtileBoundaries(buckets, 8192),
      org.apache.spark.sql.Encoders.scalaLong)
    val bs = u.agg(bounds(col(keyCol)).as("bs"))
    u.crossJoin(broadcast(bs))
      .withColumn("band",
        size(filter(col("bs"), b => b < col(keyCol))).cast("long"))
      .drop("bs")
  }

  /** Jensen-Shannon divergence (X253) between the event-type mix of the
    * first and second half-month — the SYMMETRIC, bounded [0, ln 2]
    * companion to the KL/PSI drift family (Lin 1991): robust to zeros
    * and the standard "did the traffic mix shift" scorecard number.
    * Per-type contributions export individually (ordered — no
    * cross-engine sum-order ambiguity): ½·[p·ln(p/m) + q·ln(q/m)] with
    * p/m = 2aB/(aB+bA) an EXACT integer ratio before the one ln, the
    * mutual_info quantization recipe. One partial-aggregated scan. */
  def jsDivergence(spark: SparkSession, dir: String): DataFrame =
    jsDivergenceOf(Tables.events(spark, dir))

  def jsDivergenceOf(events: DataFrame): DataFrame = {
    val half = events
      .select(col("event_type"),
        (col("ts") < lit("2024-01-16").cast("timestamp")).cast("int").as("h1"))
      .groupBy(col("event_type"))
      .agg(sum(col("h1")).as("a"), sum(lit(1) - col("h1")).as("b"))
    half
      .crossJoin(broadcast(half.agg(sum(col("a")).as("ta"),
        sum(col("b")).as("tb"))))
      .select(col("event_type"), col("a"), col("b"),
        // 0·ln(0/m) = 0 by the JS convention — a type absent from one
        // half must contribute its other half's term, not NaN
        expr("""CAST(round((
          |  CASE WHEN a = 0 THEN 0.0 ELSE CAST(a AS DOUBLE) / ta
          |    * ln(2.0 * a * tb / (CAST(a AS DOUBLE) * tb + CAST(b AS DOUBLE) * ta)) END
          |  + CASE WHEN b = 0 THEN 0.0 ELSE CAST(b AS DOUBLE) / tb
          |    * ln(2.0 * b * ta / (CAST(a AS DOUBLE) * tb + CAST(b AS DOUBLE) * ta)) END
          |) * 500000) AS BIGINT)""".stripMargin.replace("\n", " "))
          .as("jsd_contrib_e6"))
      .orderBy(col("event_type"))
  }

  /** A/B-test power planning (X254) from OBSERVED variance — the
    * pre-experiment sizing every launch review asks for: required
    * per-arm n for 80% power at two-sided α = 5% to detect a 5% lift in
    * mean purchase value, and the minimum detectable effect at a fixed
    * n = 1000/arm (Cohen's classic normal-approximation sizing;
    * n = (z_{α/2}+z_β)²·2σ²/δ²). Moments are exact integer sums (the
    * value_moments discipline); the single double chain mirrors the
    * oracle term-for-term. */
  def abPower(spark: SparkSession, dir: String): DataFrame =
    abPowerOf(Tables.events(spark, dir))

  def abPowerOf(events: DataFrame): DataFrame = {
    val d38 = "decimal(38,0)"
    events
      .filter(col("event_type") === "purchase")
      .agg(count(lit(1)).as("n"),
        expr("CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)").as("s"),
        expr(s"SUM(CAST(CAST(round(value * 100) AS BIGINT) AS $d38)" +
          " * CAST(round(value * 100) AS BIGINT))").as("q"))
      .select(col("n").as("n_obs"),
        expr("""CAST(ceil(
          |  pow(1.959964 + 0.841621, 2) * 2.0
          |  * (CAST(q AS DOUBLE) / n - pow(CAST(s AS DOUBLE) / n, 2))
          |  / pow(0.05 * CAST(s AS DOUBLE) / n, 2)) AS BIGINT)"""
          .stripMargin.replace("\n", " ")).as("n_required_per_arm"),
        expr("""CAST(round(
          |  (1.959964 + 0.841621)
          |  * sqrt(2.0 * (CAST(q AS DOUBLE) / n
          |                - pow(CAST(s AS DOUBLE) / n, 2)) / 1000.0)
          |  / (CAST(s AS DOUBLE) / n) * 1000000) AS BIGINT)"""
          .stripMargin.replace("\n", " ")).as("mde_rel_e6_at_1000"))
  }

  /** Isotonic calibration via the MINIMAX identity (X255) — the
    * monotone purchase-rate-vs-value curve (PAVA's closed form:
    * ĝ(d) = max_{i≤d} min_{j≥d} mean(y over bins i..j); Barlow et al.
    * 1972) — the calibration step every score-to-probability pipeline
    * runs, here EXACT: bins are the 10 fixed-width value bands, segment
    * means are exact integer fractions compared through a 10^12-scaled
    * integer key (granularity ≥ 1/(N_a·N_b) ≫ 10^-12, so the integer
    * order IS the rational order), and the export floor-composes
    * (key div 10^6 = ⌊P/N·10^6⌋ exactly). Everything after the one
    * corpus rollup runs on the ≤10-row bin frame (all pair/triple
    * enumeration is 10³-bounded). Output is monotone by construction —
    * the spec's pin. */
  def isotonicCalibration(spark: SparkSession, dir: String): DataFrame =
    isotonicCalibrationOf(Tables.events(spark, dir))

  def isotonicCalibrationOf(events: DataFrame): DataFrame = {
    val bins = events
      .select(expr("least(CAST(floor(value / 50) AS INT), 9)").as("bin"),
        (col("event_type") === "purchase").cast("long").as("y"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("nb"), sum(col("y")).as("pb"))
      .localCheckpoint(false) // ≤ 10 rows
    // segment sums P_ij / N_ij for every i ≤ j (≤ 55 rows)
    val seg = bins.as("l").crossJoin(bins.as("m")).crossJoin(bins.as("r"))
      .filter(col("l.bin") <= col("m.bin") && col("m.bin") <= col("r.bin"))
      .groupBy(col("l.bin").as("i"), col("r.bin").as("j"))
      .agg(sum(col("m.pb")).as("p"), sum(col("m.nb")).as("nn"))
      // p is a corpus-wide purchase count — widen before the 10^12
      // scale-up or the BIGINT product wraps past ~9.2e6 rows (ADVICE
      // r12); the integral quotient itself is ≤ 10^12, back to BIGINT
      .withColumn("key",
        expr("CAST((CAST(p AS decimal(38,0)) * 1000000000000) div nn" +
          " AS BIGINT)"))
    // g_d = max over i ≤ d of (min over j ≥ d of key(i, j))
    val inner = bins.select(col("bin").as("d"))
      .join(broadcast(seg), col("i") <= col("d") && col("j") >= col("d"))
      .groupBy(col("d"), col("i")).agg(min(col("key")).as("mn"))
    val iso = inner.groupBy(col("d")).agg(max(col("mn")).as("g"))
    bins.join(iso, col("bin") === col("d"))
      .select(col("bin"), col("nb").as("n"), col("pb").as("purchases"),
        expr("(pb * 1000000) div nb").as("rate_e6"),
        expr("g div 1000000").as("iso_rate_e6"))
      .orderBy(col("bin"))
  }

  /** Odds ratio / relative risk with Wald CI (X264) — the 2×2
    * case-control readout (exposure = high-value event, outcome =
    * purchase) every epidemiology-style product analysis starts from:
    * OR = ad/bc as an EXACT e6 integer ratio, RR likewise, and the
    * 95% CI on ln OR via Wald's ±1.96·√(1/a+1/b+1/c+1/d) as ONE
    * mirrored double chain over the four exact cell counts. One
    * partial-aggregated scan builds the cells. */
  def oddsRatio(spark: SparkSession, dir: String): DataFrame =
    oddsRatioOf(Tables.events(spark, dir))

  def oddsRatioOf(events: DataFrame): DataFrame = {
    val d38 = "decimal(38,0)"
    events
      .select((col("value") > 250).cast("int").as("hi"),
        (col("event_type") === "purchase").cast("int").as("y"))
      .agg(sum(expr("hi * y")).as("a"), sum(expr("hi * (1 - y)")).as("b"),
        sum(expr("(1 - hi) * y")).as("c"),
        sum(expr("(1 - hi) * (1 - y)")).as("d"))
      .select(col("a"), col("b"), col("c"), col("d"),
        expr(s"CAST(CAST(a AS $d38) * d * 1000000 div (CAST(b AS $d38) * c)" +
          " AS BIGINT)").as("or_e6"),
        expr(s"CAST(CAST(a AS $d38) * (c + d) * 1000000" +
          s" div (CAST(c AS $d38) * (a + b)) AS BIGINT)").as("rr_e6"),
        expr("""CAST(round((
          |  ln(CAST(a AS DOUBLE) * d / (CAST(b AS DOUBLE) * c))
          |  - 1.959964 * sqrt(1.0/a + 1.0/b + 1.0/c + 1.0/d)) * 1000000)
          |AS BIGINT)""".stripMargin.replace("\n", " ")).as("ln_or_ci_lo_e6"),
        expr("""CAST(round((
          |  ln(CAST(a AS DOUBLE) * d / (CAST(b AS DOUBLE) * c))
          |  + 1.959964 * sqrt(1.0/a + 1.0/b + 1.0/c + 1.0/d)) * 1000000)
          |AS BIGINT)""".stripMargin.replace("\n", " ")).as("ln_or_ci_hi_e6"))
  }

  /** ABC / Pareto classification (X265) — the 80/15/5 revenue-band
    * segmentation (A while cumulative share ≤ 80%, B to 95%, C the
    * tail): the inventory-analysis classic, all INTEGER threshold
    * compares (cum·100 vs T·80 — no share division ever happens).
    * SCALE: the descending cumulative revenue is the gini_concentration
    * recipe inverted — equal-frequency-band-partitioned local cumsums
    * ([[withEqualFreqBand]], VERDICT r12 #3) + broadcast band-offset
    * sums, never a global-sort window; (x desc, user_id) tie order is
    * pinned on both engines. */
  def abcClassification(spark: SparkSession, dir: String): DataFrame =
    abcClassificationOf(Tables.events(spark, dir))

  def abcClassificationOf(events: DataFrame): DataFrame = {
    val d38 = "decimal(38,0)"
    val u = withEqualFreqBand(events.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(expr("CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)")
        .as("x")), "x", 32)
    val bandSums = u.groupBy(col("band")).agg(sum(col("x")).as("bx"))
      .localCheckpoint(false) // lazy: first consumer materializes (r17)
    // revenue landing in STRICTLY HIGHER bands precedes every row of
    // this band in the descending order
    val offsets = bandSums.as("a")
      .join(bandSums.as("b"), col("b.band") > col("a.band"), "left")
      .groupBy(col("a.band").as("band"))
      .agg(coalesce(sum(col("b.bx")), lit(0L)).as("off"))
    val cum = u
      .withColumn("lc", sum(col("x")).over(Window.partitionBy(col("band"))
        .orderBy(col("x").desc, col("user_id").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .join(broadcast(offsets), "band")
      .select(col("x"), (col("off") + col("lc")).as("cum"))
    cum
      .crossJoin(broadcast(cum.agg(max(col("cum")).as("t"))))
      .select(col("x"),
        when(col("cum") * 100 <= col("t") * 80, "A")
          .when(col("cum") * 100 <= col("t") * 95, "B")
          .otherwise("C").as("cls"), col("t"))
      .groupBy(col("cls"))
      .agg(count(lit(1)).as("n_users"), sum(col("x")).as("rev_e2"),
        // class revenue is an e2 sum — widen before the e6 scale-up or
        // the BIGINT product wraps past ~9.2e12 total (ADVICE r12)
        expr(s"CAST((CAST(SUM(x) AS $d38) * 1000000) div MAX(t) AS BIGINT)")
          .as("share_e6"))
      .orderBy(col("cls"))
  }

  /** Hurst exponent via rescaled-range analysis (X268 — Hurst 1951 /
    * Mandelbrot-Wallis R/S): the long-memory diagnostic of the daily
    * revenue series (H ≈ ½ random walk, > ½ trending, < ½ mean-
    * reverting). Block ranks come from `posexplode` of the ONE collected
    * calendar-bounded series (the holt discipline — no unpartitioned
    * window); every block statistic then runs under (size, block)-
    * partitioned windows. EXACTNESS: the range of cumulative deviations
    * clears its rational denominator — m_t = n·cum_t − t·Σx is an exact
    * INTEGER, so R/S = (max m − min m)/√(n·Σx² − (Σx)²) has exact
    * integers inside its one sqrt; each full block contributes a
    * (ln n, ln R/S) point quantized e6, and H is the heaps_law-style
    * integer five-sum OLS slope. Degenerate (constant) blocks drop on
    * both engines. */
  def hurstExponent(spark: SparkSession, dir: String): DataFrame =
    hurstExponentOf(Tables.events(spark, dir))

  def hurstExponentOf(events: DataFrame): DataFrame = {
    val d38 = "decimal(38,0)"
    val series = events
      .groupBy(to_date(col("ts")).as("day"))
      .agg(expr("CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)")
        .as("rev"))
      .agg(sort_array(collect_list(struct(col("day"), col("rev")))).as("xs"))
      .select(posexplode(col("xs")).as(Seq("pos", "r")))
      .select(col("pos"), col("r.rev").as("x"))
    val blocks = series
      .crossJoin(broadcast(
        spark_sizes(events.sparkSession)))
      .select(col("n"), expr("pos div n").as("b"),
        (expr("pos % n") + 1).as("t"), col("x"))
    val wOrd = Window.partitionBy(col("n"), col("b"))
      .orderBy(col("t").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col("n"), col("b"))
    val pts = blocks
      .withColumn("cum", sum(col("x")).over(wOrd))
      .withColumn("tot", sum(col("x")).over(wAll))
      .withColumn("cnt", count(lit(1)).over(wAll))
      .withColumn("m", col("n") * col("cum") - col("t") * col("tot"))
      .groupBy(col("n"), col("b"))
      .agg((max(col("m")) - min(col("m"))).as("rn"),
        max(col("tot")).as("sx"), max(col("cnt")).as("k"),
        expr(s"SUM(CAST(x AS $d38) * x)").as("sxx"))
      // n·Σx² − (Σx)² in DECIMAL(38,0): the raw BIGINT form would wrap
      // once per-day revenue grows past ~1e9 e2 (the >64-bit discipline)
      .withColumn("varn",
        expr(s"CAST(n AS $d38) * sxx - CAST(sx AS $d38) * sx"))
      .filter(col("k") === col("n") && col("varn") > 0)
      .select(
        expr("CAST(round(ln(CAST(n AS DOUBLE)) * 1000000) AS BIGINT)").as("px"),
        expr("""CAST(round(ln(CAST(rn AS DOUBLE)
          |/ sqrt(CAST(varn AS DOUBLE))) * 1000000) AS BIGINT)"""
          .stripMargin.replace("\n", " ")).as("py"))
    pts.agg(count(lit(1)).as("n_points"), sum(col("px")).as("sx"),
        sum(col("py")).as("sy"), sum(col("px") * col("py")).as("sxy"),
        sum(col("px") * col("px")).as("sxx"))
      .select(col("n_points"),
        expr(s"""CAST((CAST(n_points AS $d38) * sxy
          |- CAST(sx AS $d38) * sy) * 1000000
          |div (CAST(n_points AS $d38) * sxx - CAST(sx AS $d38) * sx)
          |AS BIGINT)""".stripMargin.replace("\n", " ")).as("hurst_e6"))
  }

  /** The R/S block sizes as a one-column frame (5/10/15/30-day blocks —
    * spans the fixture month; larger corpora would extend the ladder). */
  private def spark_sizes(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq(5L, 10L, 15L, 30L).toDF("n")
  }

  /** Shewhart control chart (X270 — the SPC classic, Shewhart 1931):
    * the daily-revenue monitor every ops dashboard runs — control
    * limits mean±3σ from the FIRST-half baseline (days ≤ 15, exact
    * integer moments → one mirrored double chain), then every
    * second-half day reads in-control or out. Exported per monitored
    * day with its z-score at e6, so the oracle compares the whole
    * decision series, not just a count. One partial-aggregated rollup;
    * the baseline is a broadcast one-row frame. */
  def controlChart(spark: SparkSession, dir: String): DataFrame =
    controlChartOf(Tables.events(spark, dir))

  def controlChartOf(events: DataFrame): DataFrame = {
    val d38 = "decimal(38,0)"
    val daily = events
      .groupBy(to_date(col("ts")).as("day"))
      .agg(expr("CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)")
        .as("rev"))
    val base = daily.filter(col("day") < lit("2024-01-16").cast("date"))
      .agg(count(lit(1)).as("n"), sum(col("rev")).as("s"),
        expr(s"SUM(CAST(rev AS $d38) * rev)").as("q"))
    daily.filter(col("day") >= lit("2024-01-16").cast("date"))
      .crossJoin(broadcast(base))
      .select(col("day"), col("rev"),
        expr("""CAST(round((CAST(rev AS DOUBLE) - CAST(s AS DOUBLE) / n)
          |/ sqrt(CAST(q AS DOUBLE) / n - pow(CAST(s AS DOUBLE) / n, 2))
          |* 1000000) AS BIGINT)""".stripMargin.replace("\n", " "))
          .as("z_e6"))
      .withColumn("out_of_control",
        (col("z_e6") > 3000000L) || (col("z_e6") < -3000000L))
      .orderBy(col("day"))
  }

  /** Multi-feature OLS by normal equations (X283 — the closed-form
    * two-regressor linear model, Cramer's rule over X'X): daily purchase
    * revenue regressed on daily click and error counts with an
    * intercept — the capacity-planning / marketing-mix baseline one
    * feature ([[trendRegression]]) cannot express. The data-sized work
    * is ONE daily rollup; the normal-equation sums accumulate
    * DECIMAL(38,0) in a single-row aggregate (triple products of
    * day-scale sums pass BIGINT long before 100 TB), the four 3×3
    * determinants expand in exact decimal arithmetic, and betas / R²
    * are fixed-order double chains over those exact integers, rounded
    * once (the cuped_experiment recipe — a DECIMAL(38,0)→DOUBLE cast
    * rounds-to-nearest identically on both engines). */
  def olsFeatures(spark: SparkSession, dir: String): DataFrame =
    olsFeaturesOf(Tables.events(spark, dir))

  def olsFeaturesOf(events: DataFrame): DataFrame = {
    val d38 = "decimal(38,0)"
    val daily = events
      .groupBy(to_date(col("ts")).as("day"))
      .agg(
        sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("x1"),
        sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("x2"),
        sum(when(col("event_type") === "purchase",
          expr("CAST(round(value * 100) AS BIGINT)")).otherwise(0L)).as("y"))
    def c(e: String) = expr(s"CAST($e AS $d38)")
    val sums = daily.agg(
      count(lit(1)).as("n"),
      sum(c("x1")).as("s1"), sum(c("x2")).as("s2"), sum(c("y")).as("sy"),
      sum(c("x1 * x1")).as("s11"), sum(c("x1 * x2")).as("s12"),
      sum(c("x2 * x2")).as("s22"),
      sum(c("x1 * y")).as("s1y"), sum(c("x2 * y")).as("s2y"),
      sum(c("y") * c("y")).as("syy"))
    // 3×3 Cramer in EXACT decimal; A = [(n,s1,s2),(s1,s11,s12),(s2,s12,s22)]
    sums
      .withColumn("det", expr(
        """CAST(n AS decimal(38,0)) * (s11 * s22 - s12 * s12)
          |- s1 * (s1 * s22 - s12 * s2)
          |+ s2 * (s1 * s12 - s11 * s2)""".stripMargin))
      .withColumn("det0", expr(
        """sy * (s11 * s22 - s12 * s12)
          |- s1 * (s1y * s22 - s12 * s2y)
          |+ s2 * (s1y * s12 - s11 * s2y)""".stripMargin))
      .withColumn("det1", expr(
        """CAST(n AS decimal(38,0)) * (s1y * s22 - s12 * s2y)
          |- sy * (s1 * s22 - s12 * s2)
          |+ s2 * (s1 * s2y - s1y * s2)""".stripMargin))
      .withColumn("det2", expr(
        """CAST(n AS decimal(38,0)) * (s11 * s2y - s1y * s12)
          |- s1 * (s1 * s2y - s1y * s2)
          |+ sy * (s1 * s12 - s11 * s2)""".stripMargin))
      // degenerate inputs guard: collinear/underdetermined regressors
      // make det = 0 and a constant y makes SST = 0 — NULL, never a
      // NaN/Infinity cast that silently lands as garbage (xcorr's rule)
      .selectExpr("n",
        "CASE WHEN det <> 0 THEN CAST(round(CAST(det0 AS DOUBLE) / CAST(det AS DOUBLE) * 10000) AS BIGINT) END AS beta0_e4",
        "CASE WHEN det <> 0 THEN CAST(round(CAST(det1 AS DOUBLE) / CAST(det AS DOUBLE) * 10000) AS BIGINT) END AS beta1_e4",
        "CASE WHEN det <> 0 THEN CAST(round(CAST(det2 AS DOUBLE) / CAST(det AS DOUBLE) * 10000) AS BIGINT) END AS beta2_e4",
        // R2 = 1 - SSE/SST with SSE = syy - beta'X'y, SST = syy - sy^2/n
        """CASE WHEN det <> 0 AND CAST(n AS decimal(38,0)) * syy <> sy * sy
          |THEN CAST(round((1.0 -
          |  (CAST(syy AS DOUBLE)
          |   - (CAST(det0 AS DOUBLE) / CAST(det AS DOUBLE) * CAST(sy AS DOUBLE)
          |      + CAST(det1 AS DOUBLE) / CAST(det AS DOUBLE) * CAST(s1y AS DOUBLE)
          |      + CAST(det2 AS DOUBLE) / CAST(det AS DOUBLE) * CAST(s2y AS DOUBLE)))
          |  / (CAST(syy AS DOUBLE)
          |     - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)))
          |  * 1000000) AS BIGINT) END AS r2_e6""".stripMargin)
  }

  /** Simpson's paradox audit (X287 — Simpson 1951, the aggregation trap
    * every experiment rollup must check): the exposure→outcome
    * association (user parity → purchase) is scored PER STRATUM
    * (first/second half of month) and OVERALL, each as the exact integer
    * cross-product sign sgn(n11·n00 − n10·n01) — no rates, no floats, so
    * both engines agree digit-for-digit. The paradox flag fires when
    * every stratum's association points AGAINST the pooled one (the
    * direction-reversal that makes pooled dashboards lie). One
    * partial-aggregated pass builds all cells; DECIMAL(38,0) products
    * (cell counts at 100 TB put n11·n00 past BIGINT). */
  def simpsonParadox(spark: SparkSession, dir: String): DataFrame =
    simpsonParadoxOf(Tables.events(spark, dir))

  def simpsonParadoxOf(events: DataFrame): DataFrame = {
    val d38 = "decimal(38,0)"
    val cells = events
      .select(
        when(dayofmonth(col("ts")) <= 15, "h1").otherwise("h2").as("stratum"),
        (col("user_id") % 2 === 0).cast("int").as("exposed"),
        (col("event_type") === "purchase").cast("int").as("success"))
    def rollup(df: DataFrame, label: String) = df
      .agg(
        sum(expr("CAST(exposed * success AS BIGINT)")).as("n11"),
        sum(expr("CAST(exposed * (1 - success) AS BIGINT)")).as("n10"),
        sum(expr("CAST((1 - exposed) * success AS BIGINT)")).as("n01"),
        sum(expr("CAST((1 - exposed) * (1 - success) AS BIGINT)")).as("n00"))
      .select(lit(label).as("scope"), col("n11"), col("n10"), col("n01"),
        col("n00"),
        expr(s"CAST(sign(CAST(n11 AS $d38) * CAST(n00 AS $d38) " +
          s"- CAST(n10 AS $d38) * CAST(n01 AS $d38)) AS BIGINT)").as("assoc_sign"))
    val h1 = rollup(cells.filter(col("stratum") === "h1"), "h1")
    val h2 = rollup(cells.filter(col("stratum") === "h2"), "h2")
    val all = rollup(cells, "overall")
    val strata = h1.unionByName(h2)
    val flag = strata
      .crossJoin(broadcast(all.select(col("assoc_sign").as("o_sign"))))
      .agg((count(lit(1)) ===
        sum(when(col("assoc_sign") === -col("o_sign") && col("o_sign") =!= 0, 1L)
          .otherwise(0L))).cast("long").as("paradox"))
    strata.unionByName(all)
      .crossJoin(broadcast(flag))
      .orderBy(col("scope"))
  }

  /** Herfindahl-Hirschman market concentration (X288 — the HHI every
    * antitrust/market-share rollup reports, the square-sum companion to
    * gini_concentration's Lorenz view): supplier revenue shares squared
    * and summed, as ONE exact integer quotient HHI_e6 = (Σx²·10⁶) div
    * (Σx)² over DECIMAL(38,0) sums (revenue squares pass BIGINT at
    * fraction of 100 TB), plus the equivalent-competitor count 1/HHI
    * and the top share — all positive-operand exact divisions. One
    * partial-aggregated rollup; the squares fold in a single-row
    * aggregate. */
  def hhiConcentration(spark: SparkSession, dir: String): DataFrame =
    hhiOf(Tables.lineitem(spark, dir)
      .groupBy(col("l_suppkey").as("s"))
      .agg(expr("CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)")
        .as("rev")))

  /** [[hhiConcentration]] over an explicit (s, rev) rollup — the seam
    * the closed-form spec drives.
    *
    * Magnitude bound (the d38 contract, ADVICE r13): with positive
    * revenues, sq = Σx² ≤ (Σx)² = tot², so every product below fits
    * DECIMAL(38,0) while tot < 10¹⁶ (tot² ≤ 10³², sq·10⁶ ≤ 10³⁸) —
    * total revenue up to 10¹⁴ currency units in e2 cents, comfortably
    * past a 100 TB lineitem. Beyond that, Spark's non-ANSI DECIMAL
    * silently nulls where DuckDB's HUGEINT keeps going: switch to
    * per-supplier `share_e6 = rev·10⁶ div tot` sums (coarser rounding)
    * before raising the bound. */
  private[graft] def hhiOf(su: DataFrame): DataFrame = {
    val d38 = "decimal(38,0)"
    su.agg(
        count(lit(1)).as("n_suppliers"),
        sum(expr(s"CAST(rev AS $d38)")).as("tot"),
        sum(expr(s"CAST(rev AS $d38) * CAST(rev AS $d38)")).as("sq"),
        max(col("rev")).as("top_rev"))
      .select(col("n_suppliers"),
        expr("CAST(sq * 1000000 div (tot * tot) AS BIGINT)").as("hhi_e6"),
        expr("CAST((tot * tot) * 1000 div sq AS BIGINT)")
          .as("equiv_competitors_e3"),
        expr(s"CAST(CAST(top_rev AS $d38) * 1000000 div tot AS BIGINT)")
          .as("top_share_e6"))
  }

  /** Index of dispersion / burstiness per event type (X289 — the
    * Cox-Lewis variance-to-mean ratio, the standard "is this arrival
    * process Poisson?" screen): D = s²/x̄ over the daily count series,
    * with the coefficient of variation alongside. D ≈ 1 means
    * Poisson-like arrivals (autoscaling can assume memorylessness);
    * D ≫ 1 means bursty days (provision for spikes); D ≪ 1 means
    * quota-regular traffic. One daily rollup is the only data-sized
    * pass; per-type moments accumulate DECIMAL(38,0) in a single-row
    * aggregate per type and the two ratios are fixed-order double
    * chains over the exact integers (sample variance, n−1), e4-rounded,
    * NULL on degenerate series. */
  def dispersionIndex(spark: SparkSession, dir: String): DataFrame =
    dispersionIndexOf(Tables.events(spark, dir))

  def dispersionIndexOf(events: DataFrame): DataFrame = {
    val d38 = "decimal(38,0)"
    events
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"),
        sum(expr(s"CAST(c AS $d38)")).as("sc"),
        sum(expr(s"CAST(c AS $d38) * CAST(c AS $d38)")).as("scc"))
      .select(col("event_type"), col("n_days"),
        expr("CAST(sc div n_days AS BIGINT)").as("mean_per_day"),
        expr(
          """CASE WHEN n_days > 1 AND CAST(sc AS DOUBLE) > 0
            |THEN CAST(round(
            |  (CAST(scc AS DOUBLE)
            |   - CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE) / CAST(n_days AS DOUBLE))
            |  / CAST(n_days - 1 AS DOUBLE)
            |  / (CAST(sc AS DOUBLE) / CAST(n_days AS DOUBLE))
            |  * 10000) AS BIGINT) END""".stripMargin).as("dispersion_e4"),
        expr(
          """CASE WHEN n_days > 1 AND CAST(sc AS DOUBLE) > 0
            |THEN CAST(round(
            |  sqrt((CAST(scc AS DOUBLE)
            |        - CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE) / CAST(n_days AS DOUBLE))
            |       / CAST(n_days - 1 AS DOUBLE))
            |  / (CAST(sc AS DOUBLE) / CAST(n_days AS DOUBLE))
            |  * 10000) AS BIGINT) END""".stripMargin).as("cv_e4"))
      .orderBy(col("event_type"))
  }

  /** One-way ANOVA F (X309 — Fisher's between/within variance ratio,
    * the k-group location test every A/B/n readout starts from; the
    * rank-free sibling of `kruskal_wallis`): quantity by return flag.
    * ONE partial-aggregated pass collects per-group integer moments
    * (the group set {A,N,R} is fixed by the schema, so groups pivot to
    * columns — no second shuffle); SSB/SSW/F run as a single fixed-
    * order double chain over the exact DECIMAL sums, mirrored
    * op-for-op in the oracle (the cuped closed-form regime). */
  def anovaOneway(spark: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val li = Tables.lineitem(spark, dir)
      .select(col("l_returnflag").as("g"), col("l_quantity").cast("long").as("x"))
    li.agg(
        count(lit(1)).as("n"),
        sum(when(col("g") === "A", 1L).otherwise(0L)).as("na"),
        sum(when(col("g") === "N", 1L).otherwise(0L)).as("nn"),
        sum(when(col("g") === "R", 1L).otherwise(0L)).as("nr"),
        sum(when(col("g") === "A", col("x")).otherwise(0L).cast(d38)).as("sa"),
        sum(when(col("g") === "N", col("x")).otherwise(0L).cast(d38)).as("sn"),
        sum(when(col("g") === "R", col("x")).otherwise(0L).cast(d38)).as("sr"),
        sum((col("x") * col("x")).cast(d38)).as("q"))
      .select(col("n"), col("na"), col("nn"), col("nr"),
        expr(AnovaSsb).as("ssb_e4"), expr(AnovaSsw).as("ssw_e4"),
        expr(AnovaF).as("f_e4"))
  }

  // shared double-chain fragments — the Spark projection and the DuckDB
  // oracle splice the IDENTICAL text, so operand order (the only IEEE
  // determinism lever) cannot drift between the two engines
  private val AnovaSb =
    """(CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE) / CAST(na AS DOUBLE)
      | + CAST(sn AS DOUBLE) * CAST(sn AS DOUBLE) / CAST(nn AS DOUBLE)
      | + CAST(sr AS DOUBLE) * CAST(sr AS DOUBLE) / CAST(nr AS DOUBLE))""".stripMargin
  private val AnovaS = "(CAST(sa AS DOUBLE) + CAST(sn AS DOUBLE) + CAST(sr AS DOUBLE))"
  private val AnovaSsb =
    s"CAST(round(($AnovaSb - $AnovaS * $AnovaS / CAST(n AS DOUBLE)) * 10000) AS BIGINT)"
  private val AnovaSsw =
    s"CAST(round((CAST(q AS DOUBLE) - $AnovaSb) * 10000) AS BIGINT)"
  private val AnovaF =
    s"""CAST(round(
       |  (($AnovaSb - $AnovaS * $AnovaS / CAST(n AS DOUBLE)) / CAST(2 AS DOUBLE))
       |  / ((CAST(q AS DOUBLE) - $AnovaSb) / CAST(n - 3 AS DOUBLE))
       |  * 10000) AS BIGINT)""".stripMargin

  /** Brown-Forsythe test (X310 — Levene's variance-homogeneity screen
    * with the MEDIAN center, the robust form): are quantity spreads
    * equal across return flags? z = |x − median_g| per row, then the
    * one-way F machinery over z. Group medians are EXACT (50 distinct
    * integer values — the group_quantiles pin) and .5-granular, so
    * z2 = |2x − 2·median| is a pure integer and the F statistic on z2
    * equals the F on z (scale cancels). One broadcast of a 3-row
    * median frame + one aggregate pass. */
  def leveneBrownForsythe(spark: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val li = Tables.lineitem(spark, dir)
      .select(col("l_returnflag").as("g"), col("l_quantity").cast("long").as("x"))
    val med = li.groupBy(col("g"))
      .agg(expr("CAST(round(percentile(x, 0.5D) * 2) AS BIGINT)").as("m2"))
    li.join(broadcast(med), "g")
      .select(col("g"), abs(col("x") * 2 - col("m2")).as("z"))
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("g") === "A", 1L).otherwise(0L)).as("na"),
        sum(when(col("g") === "N", 1L).otherwise(0L)).as("nn"),
        sum(when(col("g") === "R", 1L).otherwise(0L)).as("nr"),
        sum(when(col("g") === "A", col("z")).otherwise(0L).cast(d38)).as("sa"),
        sum(when(col("g") === "N", col("z")).otherwise(0L).cast(d38)).as("sn"),
        sum(when(col("g") === "R", col("z")).otherwise(0L).cast(d38)).as("sr"),
        sum((col("z") * col("z")).cast(d38)).as("q"))
      .select(col("n"), col("na"), col("nn"), col("nr"),
        expr(AnovaF).as("w_e4"))
  }

  /** Durbin-Watson statistic (X311 — serial correlation of regression
    * residuals, the "is the trend model missing structure?" audit):
    * daily revenue regressed on the day index; DW = Σ(e_t − e_{t−1})² /
    * Σe_t². Residuals use the den-SCALED integer form (the
    * series_decompose recipe: R_t = y_t·den − num_a − num_b·t is a pure
    * long, and the common scale cancels in the ratio), so both sums are
    * exact DECIMAL integers and dw_e6 is one positive integer floor
    * division. Consecutive-day pairs come from a calendar join
    * (contiguous fixture series, the recursive_cte assumption). */
  def durbinWatson(spark: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val daily = Tables.events(spark, dir)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(sum(expr("CAST(round(value * 100) AS BIGINT)")).as("y"))
    val base = daily
      .crossJoin(broadcast(daily.agg(min(col("day")).as("d0"))))
      .select(col("day"), col("y"),
        datediff(col("day"), col("d0")).cast("long").as("t"))
    val m = base.agg(count(lit(1)).as("n"), sum(col("t")).as("st"),
        sum(col("y").cast(d38)).as("sy"), sum(col("t") * col("t")).as("stt"),
        sum((col("t") * col("y")).cast(d38)).as("sty"))
      .select(col("n"),
        (col("n") * col("stt") - col("st") * col("st")).cast(d38).as("den"),
        (col("n") * col("sty") - col("st") * col("sy")).cast(d38).as("numb"),
        (col("sy") * col("stt") - col("st") * col("sty")).cast(d38).as("numa"))
    val resid = base.crossJoin(broadcast(m))
      .select(col("day"),
        (col("y").cast(d38) * col("den") - col("numa") - col("numb") * col("t"))
          .cast(d38).as("r"))
    val prev = resid.select(date_add(col("day"), 1).as("day"), col("r").as("rp"))
    val num = resid.join(prev, "day")
      .agg(sum(((col("r") - col("rp")) * (col("r") - col("rp"))).cast(d38)).as("nm"))
    val den2 = resid.agg(sum((col("r") * col("r")).cast(d38)).as("dn"),
      count(lit(1)).as("n_days"))
    num.crossJoin(broadcast(den2))
      .select(col("n_days"),
        expr("CAST((nm * 1000000) div dn AS BIGINT)").as("dw_e6"))
  }

  /** Grubbs outlier statistic (X312 — the max studentized deviation,
    * the single-outlier screen on a daily KPI): G = max|y − ȳ| / s over
    * daily revenue, with the peak day reported (deterministic min-day
    * tie-break). The deviation max runs on the n-SCALED integer
    * |y·n − Σy| (exact DECIMAL compare — no float enters the argmax);
    * G itself is one fixed-order double chain over exact moments. */
  def grubbsTest(spark: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val daily = Tables.events(spark, dir)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(sum(expr("CAST(round(value * 100) AS BIGINT)")).as("y"))
    val st = daily.agg(count(lit(1)).as("n"), sum(col("y").cast(d38)).as("sy"),
      sum((col("y") * col("y")).cast(d38)).as("q"))
    daily.crossJoin(broadcast(st))
      .select(col("day"), col("n"), col("sy"), col("q"),
        abs(col("y").cast(d38) * col("n") - col("sy")).as("dev"))
      .orderBy(col("dev").desc, col("day"))
      .limit(1)
      .select(col("day").as("peak_day"), col("n"),
        expr(
          """CAST(round(
            |  (CAST(dev AS DOUBLE) / CAST(n AS DOUBLE))
            |  / sqrt((CAST(n AS DOUBLE) * CAST(q AS DOUBLE)
            |          - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
            |         / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)))
            |  * 10000) AS BIGINT)""".stripMargin).as("g_e4"))
  }

  /** Wald-Wolfowitz runs test (X313 — randomness of a daily KPI around
    * its median: too FEW runs means trending/sticky days, too many
    * means oscillation; the model-free "is this series i.i.d.?" gate
    * before forecasting): days above/below the exact median (ties
    * dropped, standard), runs counted against each kept day's
    * PREDECESSOR from a calendar-bounded max-join (≤ days² pairs — a
    * property of the calendar, not the data; no global-sort window),
    * then the normal approximation as one fixed-order double chain. */
  def runsTest(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(sum(expr("CAST(round(value * 100) AS BIGINT)")).as("y"))
    val med = daily.agg(
      expr("CAST(round(percentile(y, 0.5D) * 2) AS BIGINT)").as("m2"))
    val signed = daily.crossJoin(broadcast(med))
      .filter(col("y") * 2 =!= col("m2"))
      .select(col("day"), (col("y") * 2 > col("m2")).cast("long").as("s"))
    val prevDay = signed.as("a")
      .join(signed.as("b"), col("b.day") < col("a.day"))
      .groupBy(col("a.day").as("day")).agg(max(col("b.day")).as("pday"))
    val pairs = signed
      .join(prevDay, Seq("day"), "left")
      .join(signed.select(col("day").as("pday"), col("s").as("sp")),
        Seq("pday"), "left")
    pairs.agg(
        sum(col("s")).as("n_pos"),
        sum(lit(1L) - col("s")).as("n_neg"),
        (lit(1L) + sum(when(col("sp").isNotNull && col("s") =!= col("sp"), 1L)
          .otherwise(0L))).as("n_runs"))
      .select(col("n_pos"), col("n_neg"), col("n_runs"),
        expr(
          """CAST(round(
            |  (CAST(n_runs AS DOUBLE)
            |   - (CAST(2 AS DOUBLE) * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE)
            |      / CAST(n_pos + n_neg AS DOUBLE) + CAST(1 AS DOUBLE)))
            |  / sqrt(CAST(2 AS DOUBLE) * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE)
            |         * (CAST(2 AS DOUBLE) * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE)
            |            - CAST(n_pos + n_neg AS DOUBLE))
            |         / (CAST(n_pos + n_neg AS DOUBLE) * CAST(n_pos + n_neg AS DOUBLE)
            |            * CAST(n_pos + n_neg - 1 AS DOUBLE)))
            |  * 10000) AS BIGINT)""".stripMargin).as("z_e4"))
  }

  /** Partial autocorrelation (X314 — PACF at lags 1-3 via the
    * Durbin-Levinson recursion, the AR-order probe of Box-Jenkins
    * model selection that raw ACF cannot answer): daily event counts,
    * centered as the exact integers c_t = n·x_t − Σx (the autocorr
    * recipe), lag products joined on the calendar; r₁..r₃ become
    * doubles only in the final closed-form chain, mirrored op-for-op
    * in the oracle. */
  def pacfDaily(spark: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val daily = Tables.events(spark, dir)
      .groupBy(to_date(col("ts")).as("day")).agg(count(lit(1)).as("x"))
    val stats = daily.agg(count(lit(1)).as("n"), sum(col("x")).as("s"))
    val c = daily.crossJoin(broadcast(stats))
      .select(col("day"), (col("n") * col("x") - col("s")).as("c"))
    val den = c.agg(sum((col("c") * col("c")).cast(d38)).as("den"))
    def lagNum(k: Int) = c
      .join(c.select(date_sub(col("day"), k).as("day"), col("c").as("ck")), "day")
      .agg(sum((col("c") * col("ck")).cast(d38)).as(s"num$k"))
    lagNum(1).crossJoin(broadcast(lagNum(2))).crossJoin(broadcast(lagNum(3)))
      .crossJoin(broadcast(den))
      .select(
        expr(s"CAST(round($R1 * 1000000) AS BIGINT)").as("pacf1_e6"),
        expr(s"CAST(round($Phi22 * 1000000) AS BIGINT)").as("pacf2_e6"),
        expr(
          s"""CAST(round(
             |  (($R3) - ($R1 * (CAST(1 AS DOUBLE) - $Phi22)) * ($R2) - ($Phi22) * ($R1))
             |  / (CAST(1 AS DOUBLE) - ($R1 * (CAST(1 AS DOUBLE) - $Phi22)) * ($R1)
             |     - ($Phi22) * ($R2))
             |  * 1000000) AS BIGINT)""".stripMargin).as("pacf3_e6"))
  }

  private val R1 = "(CAST(num1 AS DOUBLE) / CAST(den AS DOUBLE))"
  private val R2 = "(CAST(num2 AS DOUBLE) / CAST(den AS DOUBLE))"
  private val R3 = "(CAST(num3 AS DOUBLE) / CAST(den AS DOUBLE))"
  private val Phi22 =
    s"(($R2 - $R1 * $R1) / (CAST(1 AS DOUBLE) - $R1 * $R1))"

  /** 2-D PCA by exact eigendecomposition (X315 — the
    * variance-structure probe of the (quantity, price) plane: how much
    * variance one axis explains and which way it points, the sanity
    * check before any learned projection): scaled covariance entries
    * a = n·Σx² − (Σx)², b = n·Σxy − ΣxΣy, c = n·Σy² − (Σy)² are EXACT
    * DECIMAL integers from one aggregate pass; the eigenvalue uses
    * only correctly-rounded IEEE ops (+,−,×,÷,sqrt — no trig, whose
    * cross-engine bit-identity is NOT guaranteed), so the explained-
    * variance ratio and principal-axis slope replay digit-exactly. */
  def pca2d(spark: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val li = Tables.lineitem(spark, dir).select(
      col("l_quantity").cast("long").as("x"),
      expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("y"))
    li.agg(count(lit(1)).as("n"),
        sum(col("x").cast(d38)).as("sx"), sum(col("y").cast(d38)).as("sy"),
        sum((col("x") * col("x")).cast(d38)).as("sxx"),
        sum((col("y") * col("y")).cast(d38)).as("syy"),
        sum((col("x") * col("y")).cast(d38)).as("sxy"))
      .select(col("n"),
        (col("n") * col("sxx") - col("sx") * col("sx")).cast(d38).as("a"),
        (col("n") * col("sxy") - col("sx") * col("sy")).cast(d38).as("b"),
        (col("n") * col("syy") - col("sy") * col("sy")).cast(d38).as("c"))
      .select(col("n"),
        expr(
          s"""CAST(round(
             |  ($Pca2dLam1) / (CAST(a AS DOUBLE) + CAST(c AS DOUBLE))
             |  * 1000000) AS BIGINT)""".stripMargin).as("evr_e6"),
        expr(
          s"""CAST(round(
             |  (($Pca2dLam1) - CAST(a AS DOUBLE)) / CAST(b AS DOUBLE)
             |  * 1000000) AS BIGINT)""".stripMargin).as("slope_e6"))
  }

  private val Pca2dLam1 =
    """((CAST(a AS DOUBLE) + CAST(c AS DOUBLE)
      |  + sqrt((CAST(a AS DOUBLE) - CAST(c AS DOUBLE))
      |         * (CAST(a AS DOUBLE) - CAST(c AS DOUBLE))
      |         + CAST(4 AS DOUBLE) * CAST(b AS DOUBLE) * CAST(b AS DOUBLE)))
      | / CAST(2 AS DOUBLE))""".stripMargin

  /** McNemar's paired test (X321 — the within-subject 2×2: did the SAME
    * users' purchasing switch on or off between the two half-months?
    * The paired design removes between-user variance that a two-sample
    * test would drown in): per user, purchase presence in each half;
    * the discordant counts b (first-half only) and c (second-half only)
    * carry all the information, and χ² = (b−c)²/(b+c) — with the
    * continuity-corrected (|b−c|−1)² form alongside — is EXACT integer
    * arithmetic to the e4 export (positive operands, div == //). */
  def mcnemarTest(spark: SparkSession, dir: String): DataFrame = {
    val split = lit("2024-01-15").cast("date")
    // BIG-TICKET purchases (value > 90): plain purchase presence is
    // saturated (every fixture user buys in both halves — b = c = 0,
    // a vacuous and division-by-zero test); the rare behavior gives
    // genuine discordant pairs at every SF (probed: 1/1 at sf0.001,
    // 36/35 at sf0.01, 339/342 at sf0.1)
    val perUser = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase" && col("value") > 90)
      .groupBy(col("user_id"))
      .agg(max(when(to_date(col("ts")) <= split, 1L).otherwise(0L)).as("a1"),
        max(when(to_date(col("ts")) > split, 1L).otherwise(0L)).as("a2"))
    perUser.agg(
        sum(when(col("a1") === 1 && col("a2") === 0, 1L).otherwise(0L)).as("b"),
        sum(when(col("a1") === 0 && col("a2") === 1, 1L).otherwise(0L)).as("c"),
        sum(when(col("a1") === 1 && col("a2") === 1, 1L).otherwise(0L)).as("n_both"))
      .select(col("b"), col("c"), col("n_both"),
        expr("((b - c) * (b - c) * 10000) div (b + c)").as("chi2_e4"),
        expr("((abs(b - c) - 1) * (abs(b - c) - 1) * 10000) div (b + c)")
          .as("chi2_cc_e4"))
  }

  /** Cochran-Armitage trend test (X322 — is return probability MONOTONE
    * in order size? The dose-response screen for an ordered exposure,
    * strictly sharper than the unordered χ² when the alternative is a
    * trend): quantity bands s = quantity div 10 as ordered scores,
    * outcome = returnflag 'R'. The trend numerator exports as the EXACT
    * integer T' = Σ sᵢ(rᵢ·n − nᵢ·r) (DECIMAL — n·rᵢ products brush
    * 2⁶³); z = T'/√(r(n−r)(nΣs²nᵢ − (Σsnᵢ)²)/n) is one fixed-order
    * double chain over exact moments (binomial-variance form). */
  def cochranArmitage(spark: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val li = Tables.lineitem(spark, dir).select(
      expr("CAST(l_quantity AS BIGINT) div 10").as("s"),
      when(col("l_returnflag") === "R", 1L).otherwise(0L).as("y"))
    val bands = li.groupBy(col("s"))
      .agg(count(lit(1)).as("ni"), sum(col("y")).as("ri"))
    bands.agg(
        sum(col("ni")).as("n"), sum(col("ri")).as("r"),
        sum((col("s") * col("ni")).cast(d38)).as("sn"),
        sum((col("s") * col("s") * col("ni")).cast(d38)).as("ssn"),
        sum((col("s") * col("ri")).cast(d38)).as("sr"))
      .select(col("n"), col("r"),
        (col("sr") * col("n") - col("sn") * col("r")).cast(d38).as("t_num"),
        col("sn"), col("ssn"))
      .select(col("n"), col("r"), expr("CAST(t_num AS BIGINT)").as("t_num"),
        expr(
          """CAST(round(
            |  CAST(t_num AS DOUBLE)
            |  / sqrt(CAST(r AS DOUBLE) * CAST(n - r AS DOUBLE)
            |         * (CAST(n AS DOUBLE) * CAST(ssn AS DOUBLE)
            |            - CAST(sn AS DOUBLE) * CAST(sn AS DOUBLE))
            |         / CAST(n AS DOUBLE))
            |  * 10000) AS BIGINT)""".stripMargin).as("z_e4"))
  }

  /** Cohen's d effect size (X323 — the standardized mean difference an
    * experiment readout reports NEXT TO its p-value: how big is the
    * effect in pooled-SD units, the number meta-analyses consume):
    * quantity of returned ('R') vs accepted ('A') lines. Exact integer
    * moments per arm in one pass; d = (m₁−m₂)/s_pooled as one
    * fixed-order double chain. */
  def cohensD(spark: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    Tables.lineitem(spark, dir)
      .filter(col("l_returnflag").isin("A", "R"))
      .select(col("l_returnflag").as("g"), col("l_quantity").cast("long").as("x"))
      .agg(
        sum(when(col("g") === "A", 1L).otherwise(0L)).as("n1"),
        sum(when(col("g") === "R", 1L).otherwise(0L)).as("n2"),
        sum(when(col("g") === "A", col("x")).otherwise(0L).cast(d38)).as("s1"),
        sum(when(col("g") === "R", col("x")).otherwise(0L).cast(d38)).as("s2"),
        sum(when(col("g") === "A", col("x") * col("x")).otherwise(0L).cast(d38)).as("q1"),
        sum(when(col("g") === "R", col("x") * col("x")).otherwise(0L).cast(d38)).as("q2"))
      .select(col("n1"), col("n2"),
        expr(
          """CAST(round(
            |  (CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
            |   - CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE))
            |  / sqrt(((CAST(q1 AS DOUBLE)
            |           - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE))
            |          + (CAST(q2 AS DOUBLE)
            |             - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE)))
            |         / CAST(n1 + n2 - 2 AS DOUBLE))
            |  * 1000000) AS BIGINT)""".stripMargin).as("d_e6"))
  }

  /** Join-key skew audit (X324 — the pre-join screen a distributed
    * planner wants per key column: one hot key turns a shuffle join
    * into a straggler, and salting/AQE-skew handling should be decided
    * from MEASURED concentration, not after the stage hangs): per
    * candidate key, row count, distinct keys, the hottest key's
    * frequency and share, and the median frequency (exact — dyadic
    * quantile over integer counts, doubled to stay integral). Each key
    * is one partial-aggregated histogram pass; the frequency rollup is
    * key-cardinality-bounded. */
  def joinSkewAudit(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    def one(c: String): DataFrame =
      li.groupBy(col(c).as("k")).agg(count(lit(1)).as("f"))
        .agg(count(lit(1)).as("n_keys"), sum(col("f")).as("n_rows"),
          max(col("f")).as("max_freq"),
          expr("CAST(round(percentile(f, 0.5D) * 2) AS BIGINT)").as("med_freq_x2"))
        .select(lit(c).as("key_col"), col("n_rows"), col("n_keys"),
          col("max_freq"), col("med_freq_x2"),
          expr("(max_freq * 1000000) div n_rows").as("top1_share_e6"))
    Seq("l_orderkey", "l_partkey", "l_suppkey").map(one)
      .reduce(_.unionByName(_)).orderBy(col("key_col"))
  }

  /** Process-capability indexes Cp/Cpk (X327 — the SPC complement of
    * `control_chart`: the chart asks "is the process stable?", Cp/Cpk
    * ask "does a stable process FIT the spec?" — Cp the spread ratio,
    * Cpk the centering-penalized one every manufacturing/data-SLA
    * scorecard quotes): quantity against spec limits [5, 45]. One pass
    * of exact moments; both indexes are fixed-order double chains. */
  def cpkCapability(spark: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    Tables.lineitem(spark, dir).select(col("l_quantity").cast("long").as("x"))
      .agg(count(lit(1)).as("n"), sum(col("x").cast(d38)).as("s"),
        sum((col("x") * col("x")).cast(d38)).as("q"))
      .select(col("n"),
        expr("CAST((s * 10000) div n AS BIGINT)").as("mean_e4"),
        expr(s"CAST(round((CAST(45 AS DOUBLE) - CAST(5 AS DOUBLE)) / (CAST(6 AS DOUBLE) * $CpkSd) * 10000) AS BIGINT)")
          .as("cp_e4"),
        expr(
          s"""CAST(round(
             |  least(CAST(45 AS DOUBLE) - $CpkMean, $CpkMean - CAST(5 AS DOUBLE))
             |  / (CAST(3 AS DOUBLE) * $CpkSd) * 10000) AS BIGINT)""".stripMargin)
          .as("cpk_e4"))
  }

  private val CpkMean = "(CAST(s AS DOUBLE) / CAST(n AS DOUBLE))"
  private val CpkSd =
    """sqrt((CAST(q AS DOUBLE)
      |  - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
      | / CAST(n - 1 AS DOUBLE))""".stripMargin

  /** Friedman test on midranks (X328 — the repeated-measures sibling of
    * [[kruskalWallis]]: blocks are DAYS, treatments the five event
    * types, so between-day traffic level cancels and the question is
    * purely "do the types keep a consistent volume ORDER day after
    * day?"): per-day event-type counts rank within each day by the
    * bounded pair-compare (k = 5 ⇒ 25 pairs/day — never a sort), ties
    * as doubled midranks (exact integers); the statistic is the
    * standard midrank plug-in χ² = 12/(nk(k+1))·ΣR_j² − 3n(k+1), one
    * double chain over exact DECIMAL rank sums. A missing (day, type)
    * cell counts zero via the explicit grid — k is fixed by schema. */
  def friedmanTest(spark: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val types = Seq("click", "error", "purchase", "signup", "view")
    val ev = Tables.events(spark, dir)
      .groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("c"))
    val grid = ev.select(col("day")).distinct()
      .crossJoin(broadcast(
        ev.sparkSession.createDataFrame(types.map(Tuple1(_))).toDF("event_type")))
      .join(ev, Seq("day", "event_type"), "left")
      .select(col("day"), col("event_type"), coalesce(col("c"), lit(0L)).as("c"))
    // doubled midrank: 2·#less + #eq(incl self) + 1, from the per-day
    // 5×5 pair compare
    val r2 = grid.as("a").join(grid.as("b"), col("a.day") === col("b.day"))
      .groupBy(col("a.day").as("day"), col("a.event_type").as("event_type"))
      .agg((sum(when(col("b.c") < col("a.c"), 2L).otherwise(0L)) +
        sum(when(col("b.c") === col("a.c"), 1L).otherwise(0L)) + lit(1L)).as("r2"))
    val sums = r2.groupBy(col("event_type"))
      .agg(sum(col("r2")).as("rj2"), count(lit(1)).as("n"))
    sums.agg(max(col("n")).as("n_days"),
        sum((col("rj2") * col("rj2")).cast(d38)).as("srr"))
      .select(col("n_days"), expr(FriedmanChi2).as("chi2_e4"))
  }

  private val FriedmanChi2 =
    """CAST(round(
      |  (CAST(12 AS DOUBLE) * (CAST(srr AS DOUBLE) / CAST(4 AS DOUBLE))
      |   / (CAST(n_days AS DOUBLE) * CAST(5 AS DOUBLE) * CAST(6 AS DOUBLE))
      |   - CAST(3 AS DOUBLE) * CAST(n_days AS DOUBLE) * CAST(6 AS DOUBLE))
      |  * 10000) AS BIGINT)""".stripMargin

  /** Page-Hinkley drift detector (X329 — Page 1954 / Hinkley 1971, the
    * SEQUENTIAL mean-shift monitor streaming pipelines run where
    * [[graft.queries.EventQueries.changepointCusum]] is the offline
    * argmax: PH_t = cum_t − min_{i≤t} cum_i with cum the running sum of
    * deviations from the RUNNING mean): daily revenue, everything on
    * the e6 integer grid — the running mean quantizes per prefix as
    * (S_t·10⁶) div t, so cumulative deviations and the PH envelope are
    * ORDER-FREE integer sums both engines replay digit-exactly. Prefix
    * sums ride calendar-bounded self-joins (days², a property of the
    * month, not the row count). Alarm bar λ = 3× the global mean daily
    * revenue (data-defined, SF-stable). */
  def pageHinkley(spark: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val daily = Tables.events(spark, dir)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(sum(expr("CAST(round(value * 100) AS BIGINT)")).as("x"))
      .localCheckpoint(false) // feeds three bounded self-joins below
    // running mean per prefix, e6-quantized
    val pre = daily.as("a").join(daily.as("b"), col("b.day") <= col("a.day"))
      .groupBy(col("a.day").as("day"), col("a.x").as("x"))
      .agg(count(lit(1)).as("t"), sum(col("b.x").cast(d38)).as("st"))
      .select(col("day"), col("x"),
        expr("CAST((st * 1000000) div t AS BIGINT)").as("m_e6"))
    val dev = pre.select(col("day"),
      (col("x") * lit(1000000L) - col("m_e6")).as("dev_e6"))
    val cum = dev.as("a").join(dev.as("b"), col("b.day") <= col("a.day"))
      .groupBy(col("a.day").as("day"))
      .agg(sum(col("b.dev_e6").cast(d38)).as("cum_e6"))
    val ph = cum.as("a").join(cum.as("b"), col("b.day") <= col("a.day"))
      .groupBy(col("a.day").as("day"), col("a.cum_e6").as("cum_e6"))
      .agg(min(col("b.cum_e6")).as("mn"))
      .select(col("day"), expr("CAST(cum_e6 - mn AS BIGINT)").as("ph_e6"))
    // λ = mean daily revenue / 4 (probed: alarms fire at sf0.001/0.01,
    // not at sf0.1 — CLT shrinks the stationary envelope relative to
    // the mean as samples grow; both alarm branches are exercised
    // across the tested SFs and the oracle replays each exactly)
    val lambda = daily.agg(
      expr("CAST((CAST(SUM(x) AS DECIMAL(38,0)) * 250000) div COUNT(*) AS BIGINT)")
        .as("lambda_e6"))
    val mx = ph.agg(max(col("ph_e6")).as("mx"))
    ph.crossJoin(broadcast(lambda)).crossJoin(broadcast(mx))
      .agg(count(lit(1)).as("n_days"),
        max(col("ph_e6")).as("max_ph_e6"),
        min(when(col("ph_e6") === col("mx"), col("day"))).as("peak_day"),
        sum(when(col("ph_e6") > col("lambda_e6"), 1L).otherwise(0L)).as("n_alarms"),
        coalesce(min(when(col("ph_e6") > col("lambda_e6"), col("day"))),
          lit("1970-01-01").cast("date")).as("first_alarm_day"))
  }

  /** Sequential probability ratio test monitor (Wald's SPRT — the
    * always-valid sequential decision rule experiment platforms run so
    * a metric can be called WITHOUT a fixed horizon): for each metric,
    * the running log-likelihood ratio of H1 (p = p1) against H0
    * (p = p0) over Bernoulli outcomes, read at each day close against
    * the Wald bounds U = ln((1−β)/α), L = ln(β/(1−α)) (α = .05,
    * β = .2). Day-end state ∈ {accept_h1, continue, accept_h0}; the
    * stopped variant is the first non-continue day. Two monitors run
    * side by side — purchase rate against (.15, .25), whose true ~.20
    * rate drifts the LLR UP, and error rate against (.25, .35), whose
    * same ~.20 drifts DOWN — so both decision branches are exercised by
    * the data (the fixture's daily volume decides how fast each bound
    * is reached across SFs).
    *
    * Determinism: the two per-event increments ln(p1/p0) and
    * ln((1−p1)/(1−p0)) are CONSTANTS — each computed once in double
    * from exact literals and e6-quantized on both engines (the house
    * ln-point recipe) — so the running LLR is pure integer arithmetic:
    * day_llr = h·a + (n−h)·b, cum via the calendar-bounded prefix join
    * (≤ 31 rows per metric, never a global window). O(one events
    * aggregation) at any scale. */
  def sprtMonitor(spark: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val ev = Tables.events(spark, dir)
      .select(to_date(col("ts")).as("day"), col("event_type"))
    def daily(metric: String, hit: String, p0: String, p1: String) = {
      // explicit DOUBLE casts: bare decimal literals divide under the
      // engine's decimal rules (Spark rounds the quotient to a fixed
      // scale BEFORE ln under some configs) — forcing double on both
      // sides makes the ln-point constants configuration-independent
      val a = s"CAST(round(ln(CAST($p1 AS DOUBLE) / CAST($p0 AS DOUBLE)) * 1000000) AS BIGINT)"
      val b = s"CAST(round(ln((1.0 - CAST($p1 AS DOUBLE)) / (1.0 - CAST($p0 AS DOUBLE))) * 1000000) AS BIGINT)"
      ev.groupBy(col("day"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("event_type") === hit, 1L).otherwise(0L)).as("h"))
        .select(lit(metric).as("metric"), col("day"), col("n"),
          expr(s"h * ($a) + (n - h) * ($b)").as("day_llr_e6"))
    }
    val d = daily("purchase_lift", "purchase", "0.15", "0.25")
      .unionByName(daily("error_rate", "error", "0.25", "0.35"))
      .localCheckpoint(false) // feeds both sides of the prefix join
    val cum = d.as("a").join(d.as("b"),
        col("b.metric") === col("a.metric") && col("b.day") <= col("a.day"))
      .groupBy(col("a.metric").as("metric"), col("a.day").as("day"),
        col("a.n").as("n"), col("a.day_llr_e6").as("day_llr_e6"))
      .agg(sum(col("b.day_llr_e6").cast(d38)).as("c"))
      .select(col("metric"), col("day"), col("n"), col("day_llr_e6"),
        expr("CAST(c AS BIGINT)").as("cum_llr_e6"))
    val U = "CAST(round(ln((1.0 - CAST(0.2 AS DOUBLE)) / CAST(0.05 AS DOUBLE)) * 1000000) AS BIGINT)"
    val L = "CAST(round(ln(CAST(0.2 AS DOUBLE) / (1.0 - CAST(0.05 AS DOUBLE))) * 1000000) AS BIGINT)"
    cum.select(col("metric"), col("day"), col("n"), col("day_llr_e6"),
      col("cum_llr_e6"),
      expr(s"CASE WHEN cum_llr_e6 >= ($U) THEN 'accept_h1' " +
        s"WHEN cum_llr_e6 <= ($L) THEN 'accept_h0' " +
        "ELSE 'continue' END").as("state"))
      .orderBy(col("metric"), col("day"))
  }

  /** TOST equivalence test (two one-sided tests, Schuirmann 1987 — the
    * test an experiment platform runs to claim two variants are the
    * SAME, which a non-significant t-test cannot: absence of evidence
    * isn't evidence of absence): the per-user revenue difference
    * between parity arms is declared equivalent iff BOTH one-sided
    * tests reject — (d+δ)/se ≥ z and (d−δ)/se ≤ −z at one-sided 5%
    * (z = 1.644854, e6 integer literal on the gate) — with margin
    * δ = 5% of the pooled per-user mean, the relative-margin convention.
    *
    * Exactness: per-user y from ONE user-keyed shuffle; per-arm n, Σy,
    * Σy² accumulate as DECIMAL(38,0) in ONE single-row aggregate; d,
    * se (Welch), δ, and both t statistics are a fixed-order double
    * chain over those exact integers, each rounded once at e6/e4.
    * Degenerate arms (n ≤ 1 or zero variance) yield NULL t's and
    * equivalent = 0 by the same CASE on both engines. Whether the
    * fixture lands equivalent is data-decided (iid parity arms: yes at
    * large SF where se beats δ; small SF may stay inconclusive) — the
    * oracle replays the exact readout either way. */
  def tostEquivalence(spark: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val perUser = Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .agg(sum(when(col("event_type") === "purchase",
        expr("CAST(round(value * 100) AS BIGINT)")).otherwise(0L)).as("y"))
      .select((col("user_id") % 2).cast("long").as("arm"), col("y"))
    val chain =
      """CAST(n0 AS DOUBLE) * CAST(q0 AS DOUBLE) - CAST(s0 AS DOUBLE) * CAST(s0 AS DOUBLE)
        | + CAST(n1 AS DOUBLE) * CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)""".stripMargin.replace("\n", "")
    perUser.agg(
        sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n0"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n1"),
        sum(when(col("arm") === 0, col("y")).otherwise(0L).cast(d38)).as("s0"),
        sum(when(col("arm") === 1, col("y")).otherwise(0L).cast(d38)).as("s1"),
        sum(when(col("arm") === 0, col("y") * col("y")).otherwise(0L).cast(d38)).as("q0"),
        sum(when(col("arm") === 1, col("y") * col("y")).otherwise(0L).cast(d38)).as("q1"))
      .select(col("n0"), col("n1"),
        expr("CAST(round((CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE) " +
          "- CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)) * 100) AS BIGINT)").as("d_e2"),
        expr("CAST(round(0.25 * (CAST(s0 + s1 AS DOUBLE) " +
          "/ CAST(n0 + n1 AS DOUBLE)) * 100) AS BIGINT)").as("delta_e2"),
        expr(s"""CASE WHEN n0 > 1 AND n1 > 1
          |  AND ($chain) > 0 THEN
          |  CAST(round(
          |    ((CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE)
          |      - CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE))
          |     + 0.25 * (CAST(s0 + s1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE)))
          |    / sqrt(
          |        (CAST(n0 AS DOUBLE) * CAST(q0 AS DOUBLE)
          |          - CAST(s0 AS DOUBLE) * CAST(s0 AS DOUBLE))
          |        / (CAST(n0 AS DOUBLE) * CAST(n0 AS DOUBLE) * (CAST(n0 AS DOUBLE) - 1.0))
          |        + (CAST(n1 AS DOUBLE) * CAST(q1 AS DOUBLE)
          |          - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
          |        / (CAST(n1 AS DOUBLE) * CAST(n1 AS DOUBLE) * (CAST(n1 AS DOUBLE) - 1.0)))
          |    * 1000000) AS BIGINT)
          |ELSE NULL END""".stripMargin).as("t_lower_e6"),
        expr(s"""CASE WHEN n0 > 1 AND n1 > 1
          |  AND ($chain) > 0 THEN
          |  CAST(round(
          |    ((CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE)
          |      - CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE))
          |     - 0.25 * (CAST(s0 + s1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE)))
          |    / sqrt(
          |        (CAST(n0 AS DOUBLE) * CAST(q0 AS DOUBLE)
          |          - CAST(s0 AS DOUBLE) * CAST(s0 AS DOUBLE))
          |        / (CAST(n0 AS DOUBLE) * CAST(n0 AS DOUBLE) * (CAST(n0 AS DOUBLE) - 1.0))
          |        + (CAST(n1 AS DOUBLE) * CAST(q1 AS DOUBLE)
          |          - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
          |        / (CAST(n1 AS DOUBLE) * CAST(n1 AS DOUBLE) * (CAST(n1 AS DOUBLE) - 1.0)))
          |    * 1000000) AS BIGINT)
          |ELSE NULL END""".stripMargin).as("t_upper_e6"))
      .withColumn("equivalent",
        when(col("t_lower_e6").isNull || col("t_upper_e6").isNull, lit(0L))
          .otherwise((col("t_lower_e6") >= 1644854L &&
            col("t_upper_e6") <= -1644854L).cast("long")))
  }

  /** Fleiss' kappa (X337) — chance-corrected agreement among m > 2
    * raters, the multi-annotator generalization of the 2-rater
    * [[cohensKappa]] an LLM labeling pipeline needs when several
    * heuristic or model judges score the same documents. Raters here
    * are three REAL quality heuristics over each document (length,
    * lexical diversity, stopword presence — each binary good/bad), so
    * the statistic measures how much the pipeline's screens actually
    * agree beyond chance. n = 3 raters, k = 2 categories: per doc the
    * good-vote count g gives Σⱼ nᵢⱼ² = g² + (3−g)², so
    * P̄ = (S − 3N)/(6N) with S = Σ(g² + (3−g)²) an EXACT integer, and
    * P̄ₑ = p² + (1−p)² with p = B/3N from exact vote totals. κ is one
    * fixed-order double chain over (N, B, S), rounded at e6. One doc
    * pass + one single-row aggregate at any scale. */
  def fleissKappa(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("n_chars"),
        split(col("text"), " ").as("l"))
      .select(
        when(col("n_chars") > 200, 1L).otherwise(0L).as("r1"),
        when(size(array_distinct(col("l"))) * 2 > size(col("l")), 1L)
          .otherwise(0L).as("r2"),
        when(array_contains(col("l"), "the"), 1L).otherwise(0L).as("r3"))
      .select((col("r1") + col("r2") + col("r3")).as("g"))
    docs.agg(
        count(lit(1)).as("n_docs"),
        sum(col("g")).as("good_votes"),
        sum(col("g") * col("g") + (lit(3L) - col("g")) * (lit(3L) - col("g")))
          .as("s_sq"))
      .select(col("n_docs"), col("good_votes"), col("s_sq"),
        expr("""CAST(round(
          |  ((CAST(s_sq AS DOUBLE) - 3.0 * CAST(n_docs AS DOUBLE))
          |     / (6.0 * CAST(n_docs AS DOUBLE))
          |   - ((CAST(good_votes AS DOUBLE) / (3.0 * CAST(n_docs AS DOUBLE)))
          |        * (CAST(good_votes AS DOUBLE) / (3.0 * CAST(n_docs AS DOUBLE)))
          |      + (1.0 - CAST(good_votes AS DOUBLE) / (3.0 * CAST(n_docs AS DOUBLE)))
          |        * (1.0 - CAST(good_votes AS DOUBLE) / (3.0 * CAST(n_docs AS DOUBLE)))))
          |  / (1.0
          |   - ((CAST(good_votes AS DOUBLE) / (3.0 * CAST(n_docs AS DOUBLE)))
          |        * (CAST(good_votes AS DOUBLE) / (3.0 * CAST(n_docs AS DOUBLE)))
          |      + (1.0 - CAST(good_votes AS DOUBLE) / (3.0 * CAST(n_docs AS DOUBLE)))
          |        * (1.0 - CAST(good_votes AS DOUBLE) / (3.0 * CAST(n_docs AS DOUBLE)))))
          |  * 1000000) AS BIGINT)""".stripMargin).as("kappa_e6"))
  }

  /** Holm–Bonferroni step-down correction (X338) — the multiple-testing
    * control an experiment platform applies when one readout fires m
    * hypotheses at once (here: is each language's corpus share equal to
    * the uniform 1/5?). Per-language one-sample proportion z from exact
    * counts; families are ranked by |z| (ties broken by language) with
    * a bounded 5×5 pair join — never a global window — and Holm rejects
    * rank i iff EVERY rank j ≤ i clears its own stepped bound
    * z(α/(m−j+1)), enforced by a second bounded prefix join (the
    * monotonicity step naive per-rank thresholding gets wrong). The
    * five two-sided critical values are e6 integer literals (no
    * quantile function on the gate); plain Bonferroni rides along for
    * contrast. The fixture's English-heavy mix rejects the top ranks
    * and clears the tail at sf0.001 (both branches), and everything at
    * larger SFs. */
  def holmBonferroni(spark: SparkSession, dir: String): DataFrame = {
    val per = Tables.documents(spark, dir)
      .groupBy(col("lang")).agg(count(lit(1)).as("n"))
    val tot = per.agg(sum(col("n")).as("nt"))
    val z = per.crossJoin(broadcast(tot))
      .select(col("lang"), col("n"),
        expr("""CAST(round(
          |  (CAST(n AS DOUBLE) / CAST(nt AS DOUBLE) - 0.2)
          |  / sqrt(0.2 * 0.8 / CAST(nt AS DOUBLE))
          |  * 1000000) AS BIGINT)""".stripMargin).as("z_e6"))
      .localCheckpoint(false) // 5 rows: feeds both bounded pair joins
    val ranked = z.as("a").join(z.as("b"),
        abs(col("b.z_e6")) > abs(col("a.z_e6")) ||
          (abs(col("b.z_e6")) === abs(col("a.z_e6")) &&
            col("b.lang") < col("a.lang")), "left")
      .groupBy(col("a.lang").as("lang"), col("a.n").as("n"),
        col("a.z_e6").as("z_e6"))
      .agg((count(col("b.lang")) + 1L).as("rnk"))
      .withColumn("crit_e6",
        expr("""CASE rnk WHEN 1 THEN 2575829 WHEN 2 THEN 2497705
          | WHEN 3 THEN 2393980 WHEN 4 THEN 2241403
          | ELSE 1959964 END""".stripMargin))
    ranked.as("a").join(ranked.as("b"), col("b.rnk") <= col("a.rnk"))
      .groupBy(col("a.lang").as("lang"), col("a.n").as("n"),
        col("a.z_e6").as("z_e6"), col("a.rnk").as("rnk"),
        col("a.crit_e6").as("crit_e6"))
      .agg(min(abs(col("b.z_e6")) - col("b.crit_e6")).as("worst"))
      .select(col("lang"), col("n"), col("z_e6"), col("rnk"), col("crit_e6"),
        (col("worst") >= 0L).cast("long").as("reject_holm"),
        (abs(col("z_e6")) >= 2575829L).cast("long").as("reject_bonferroni"))
      .orderBy(col("rnk"))
  }

  /** Decile-style uplift readout with a Qini accumulation (X339 — the
    * heterogeneous-treatment-effect table an experimentation platform
    * prints before shipping a targeted rollout: not "did the treatment
    * work on average" ([[abExperiment]]) but "on WHICH users"): users
    * bucket by pre-period activity (events in days ≤ 15, div-6 capped
    * at 9 — the stand-in for a model's uplift score), arms by user
    * parity, conversion = any high-value purchase. Per kept bucket
    * (both arms non-empty): exact per-arm counts, EXACT integer uplift
    * (c·10⁶ div n, positive operands), then buckets rank by observed
    * uplift (bounded ≤10-row pair join) and the Qini statistic
    * cₜ − c_c·nₜ/n_c accumulates in rank order through a second bounded
    * prefix join — e4, one double chain per bucket. Shape: one
    * user-keyed shuffle + one bucket aggregate; the pair joins touch
    * ≤ 10 rows at ANY corpus size. */
  def upliftQini(spark: SparkSession, dir: String): DataFrame = {
    val perUser = Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .agg(
        sum(when(dayofmonth(col("ts")) <= 15, 1L).otherwise(0L)).as("np"),
        max(when(col("event_type") === "purchase" && col("value") > 250, 1L)
          .otherwise(0L)).as("conv"))
      .select(least(expr("np div 6"), lit(9L)).as("bucket"),
        (col("user_id") % 2).cast("long").as("arm"), col("conv"))
    val per = perUser.groupBy(col("bucket"))
      .agg(
        sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n_t"),
        sum(when(col("arm") === 0, col("conv")).otherwise(0L)).as("c_t"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n_c"),
        sum(when(col("arm") === 1, col("conv")).otherwise(0L)).as("c_c"))
      .filter(col("n_t") > 0 && col("n_c") > 0)
      .select(col("bucket"), col("n_t"), col("c_t"), col("n_c"), col("c_c"),
        (expr("(c_t * 1000000) div n_t") - expr("(c_c * 1000000) div n_c"))
          .as("uplift_e6"),
        expr("""CAST(round(
          |  (CAST(c_t AS DOUBLE)
          |   - CAST(c_c AS DOUBLE) * CAST(n_t AS DOUBLE) / CAST(n_c AS DOUBLE))
          |  * 10000) AS BIGINT)""".stripMargin).as("qini_inc_e4"))
      .localCheckpoint(false) // ≤ 10 rows: feeds both bounded pair joins
    val ranked = per.as("a").join(per.as("b"),
        col("b.uplift_e6") > col("a.uplift_e6") ||
          (col("b.uplift_e6") === col("a.uplift_e6") &&
            col("b.bucket") < col("a.bucket")), "left")
      .groupBy(col("a.bucket").as("bucket"), col("a.n_t").as("n_t"),
        col("a.c_t").as("c_t"), col("a.n_c").as("n_c"), col("a.c_c").as("c_c"),
        col("a.uplift_e6").as("uplift_e6"), col("a.qini_inc_e4").as("qini_inc_e4"))
      .agg((count(col("b.bucket")) + 1L).as("rnk"))
    ranked.as("a").join(ranked.as("b"), col("b.rnk") <= col("a.rnk"))
      .groupBy(col("a.bucket").as("bucket"), col("a.rnk").as("rnk"),
        col("a.n_t").as("n_t"), col("a.c_t").as("c_t"),
        col("a.n_c").as("n_c"), col("a.c_c").as("c_c"),
        col("a.uplift_e6").as("uplift_e6"))
      .agg(sum(col("b.qini_inc_e4")).as("cum_qini_e4"))
      .orderBy(col("rnk"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "uplift_qini" -> (upliftQini _),
    "holm_bonferroni" -> (holmBonferroni _),
    "fleiss_kappa" -> (fleissKappa _),
    "tost_equivalence" -> (tostEquivalence _),
    "sprt_monitor" -> (sprtMonitor _),
    "cpk_capability" -> (cpkCapability _),
    "friedman_test" -> (friedmanTest _),
    "page_hinkley" -> (pageHinkley _),
    "mcnemar_test" -> (mcnemarTest _),
    "cochran_armitage" -> (cochranArmitage _),
    "cohens_d" -> (cohensD _),
    "join_skew_audit" -> (joinSkewAudit _),
    "anova_oneway" -> (anovaOneway _),
    "levene_bf" -> (leveneBrownForsythe _),
    "durbin_watson" -> (durbinWatson _),
    "grubbs_test" -> (grubbsTest _),
    "runs_test" -> (runsTest _),
    "pacf_daily" -> (pacfDaily _),
    "pca_2d" -> (pca2d _),
    "dispersion_index" -> (dispersionIndex _),
    "simpson_paradox" -> (simpsonParadox _),
    "hhi_concentration" -> (hhiConcentration _),
    "ols_features" -> (olsFeatures _),
    "control_chart" -> (controlChart _),
    "hurst_exponent" -> (hurstExponent _),
    "odds_ratio" -> (oddsRatio _),
    "abc_classification" -> (abcClassification _),
    "croston_demand" -> (crostonDemand _),
    "spearman_daily" -> (spearmanDaily _),
    "obf_sequential" -> (obfSequential _),
    "rfm_segments" -> (rfmSegments _),
    "gini_concentration" -> (giniConcentration _),
    "js_divergence" -> (jsDivergence _),
    "ab_power" -> (abPower _),
    "isotonic_calibration" -> (isotonicCalibration _),
    "poisson_bootstrap" -> (poissonBootstrap _),
    "nelson_aalen" -> (nelsonAalen _),
    "seasonal_naive_eval" -> (seasonalNaiveEval _),
    "contingency_effects" -> (contingencyEffects _),
    "theil_sen" -> (theilSen _),
    "kendall_tau" -> (kendallTau _),
    "mann_whitney" -> (mannWhitney _),
    "srm_check" -> (srmCheck _),
    "diff_in_diff" -> (diffInDiff _),
    "k_anonymity" -> (kAnonymity _),
    "kruskal_wallis" -> (kruskalWallis _),
    "l_diversity" -> (lDiversity _),
    "cohens_kappa" -> (cohensKappa _),
    "t_closeness" -> (tCloseness _),
    "ab_experiment" -> (abExperiment _),
    "cuped_experiment" -> (cupedExperiment _),
    "survival_km" -> (survivalKm _),
    "holt_linear" -> (holtLinear _),
    "holt_winters" -> (holtWinters _),
    "ips_policy_eval" -> (ipsPolicyEval _),
    "adaboost_stumps" -> (adaboostStumps _),
    "mutual_info" -> (mutualInfo _),
    "psi_drift" -> (psiDrift _),
    "conformal_forecast" -> (conformalForecast _),
    "gini_split" -> (giniSplit _)
  )

  val oracles: Map[String, String] = Map(
    // same buckets, same exact integer uplift, same rank + prefix joins
    "uplift_qini" ->
      """WITH u AS (
        |  SELECT user_id % 2 AS arm,
        |    least(CAST(SUM(CASE WHEN day(ts) <= 15 THEN 1 ELSE 0 END) AS BIGINT) // 6,
        |      9) AS bucket,
        |    CAST(MAX(CASE WHEN event_type = 'purchase' AND value > 250
        |      THEN 1 ELSE 0 END) AS BIGINT) AS conv
        |  FROM events GROUP BY user_id),
        |per AS (
        |  SELECT bucket,
        |    CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
        |    CAST(SUM(CASE WHEN arm = 0 THEN conv ELSE 0 END) AS BIGINT) AS c_t,
        |    CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_c,
        |    CAST(SUM(CASE WHEN arm = 1 THEN conv ELSE 0 END) AS BIGINT) AS c_c
        |  FROM u GROUP BY bucket
        |  HAVING SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) > 0
        |    AND SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) > 0),
        |q AS (
        |  SELECT bucket, n_t, c_t, n_c, c_c,
        |    (c_t * 1000000) // n_t - (c_c * 1000000) // n_c AS uplift_e6,
        |    CAST(round(
        |      (CAST(c_t AS DOUBLE)
        |       - CAST(c_c AS DOUBLE) * CAST(n_t AS DOUBLE) / CAST(n_c AS DOUBLE))
        |      * 10000) AS BIGINT) AS qini_inc_e4
        |  FROM per),
        |rk AS (
        |  SELECT a.bucket, a.n_t, a.c_t, a.n_c, a.c_c, a.uplift_e6,
        |    a.qini_inc_e4, CAST(1 + COUNT(b.bucket) AS BIGINT) AS rnk
        |  FROM q a LEFT JOIN q b
        |    ON b.uplift_e6 > a.uplift_e6
        |    OR (b.uplift_e6 = a.uplift_e6 AND b.bucket < a.bucket)
        |  GROUP BY 1, 2, 3, 4, 5, 6, 7)
        |SELECT a.bucket, a.rnk, a.n_t, a.c_t, a.n_c, a.c_c, a.uplift_e6,
        |  CAST(SUM(b.qini_inc_e4) AS BIGINT) AS cum_qini_e4
        |FROM rk a JOIN rk b ON b.rnk <= a.rnk
        |GROUP BY 1, 2, 3, 4, 5, 6, 7
        |ORDER BY a.rnk""".stripMargin,
    // same z chain, same pair-join rank, same stepped e6 literals
    "holm_bonferroni" ->
      """WITH per AS (
        |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n FROM documents GROUP BY 1),
        |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nt FROM per),
        |z AS (
        |  SELECT lang, n,
        |    CAST(round(
        |      (CAST(n AS DOUBLE) / CAST(nt AS DOUBLE) - 0.2)
        |      / sqrt(0.2 * 0.8 / CAST(nt AS DOUBLE))
        |      * 1000000) AS BIGINT) AS z_e6
        |  FROM per CROSS JOIN tot),
        |rk AS (
        |  SELECT a.lang, a.n, a.z_e6,
        |    CAST(1 + COUNT(b.lang) AS BIGINT) AS rnk
        |  FROM z a LEFT JOIN z b
        |    ON abs(b.z_e6) > abs(a.z_e6)
        |    OR (abs(b.z_e6) = abs(a.z_e6) AND b.lang < a.lang)
        |  GROUP BY 1, 2, 3),
        |cr AS (
        |  SELECT *, CASE rnk WHEN 1 THEN 2575829 WHEN 2 THEN 2497705
        |    WHEN 3 THEN 2393980 WHEN 4 THEN 2241403
        |    ELSE 1959964 END AS crit_e6
        |  FROM rk)
        |SELECT a.lang, a.n, a.z_e6, a.rnk, a.crit_e6,
        |  CAST(CASE WHEN MIN(abs(b.z_e6) - b.crit_e6) >= 0 THEN 1 ELSE 0 END
        |    AS BIGINT) AS reject_holm,
        |  CAST(CASE WHEN abs(a.z_e6) >= 2575829 THEN 1 ELSE 0 END
        |    AS BIGINT) AS reject_bonferroni
        |FROM cr a JOIN cr b ON b.rnk <= a.rnk
        |GROUP BY 1, 2, 3, 4, 5
        |ORDER BY a.rnk""".stripMargin,
    // same three heuristic raters, same exact (N, B, S), same chain
    "fleiss_kappa" ->
      """WITH r AS (
        |  SELECT
        |    CASE WHEN n_chars > 200 THEN 1 ELSE 0 END
        |    + CASE WHEN len(list_distinct(string_split(text, ' '))) * 2
        |        > len(string_split(text, ' ')) THEN 1 ELSE 0 END
        |    + CASE WHEN list_contains(string_split(text, ' '), 'the')
        |        THEN 1 ELSE 0 END AS g
        |  FROM documents),
        |m AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(g) AS BIGINT) AS good_votes,
        |    CAST(SUM(g * g + (3 - g) * (3 - g)) AS BIGINT) AS s_sq
        |  FROM r)
        |SELECT n_docs, good_votes, s_sq,
        |  CAST(round(
        |    ((CAST(s_sq AS DOUBLE) - 3.0 * CAST(n_docs AS DOUBLE))
        |       / (6.0 * CAST(n_docs AS DOUBLE))
        |     - ((CAST(good_votes AS DOUBLE) / (3.0 * CAST(n_docs AS DOUBLE)))
        |          * (CAST(good_votes AS DOUBLE) / (3.0 * CAST(n_docs AS DOUBLE)))
        |        + (1.0 - CAST(good_votes AS DOUBLE) / (3.0 * CAST(n_docs AS DOUBLE)))
        |          * (1.0 - CAST(good_votes AS DOUBLE) / (3.0 * CAST(n_docs AS DOUBLE)))))
        |    / (1.0
        |     - ((CAST(good_votes AS DOUBLE) / (3.0 * CAST(n_docs AS DOUBLE)))
        |          * (CAST(good_votes AS DOUBLE) / (3.0 * CAST(n_docs AS DOUBLE)))
        |        + (1.0 - CAST(good_votes AS DOUBLE) / (3.0 * CAST(n_docs AS DOUBLE)))
        |          * (1.0 - CAST(good_votes AS DOUBLE) / (3.0 * CAST(n_docs AS DOUBLE)))))
        |    * 1000000) AS BIGINT) AS kappa_e6
        |FROM m""".stripMargin,
    // identical exact moments (HUGEINT = the DECIMAL(38,0) twin),
    // identical fixed-order double chains, same z literal
    "tost_equivalence" ->
      """WITH u AS (
        |  SELECT user_id % 2 AS arm,
        |    CAST(SUM(CASE WHEN event_type = 'purchase'
        |      THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS y
        |  FROM events GROUP BY user_id),
        |m AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
        |    CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(SUM(CASE WHEN arm = 0 THEN y ELSE 0 END) AS HUGEINT) AS s0,
        |    CAST(SUM(CASE WHEN arm = 1 THEN y ELSE 0 END) AS HUGEINT) AS s1,
        |    CAST(SUM(CASE WHEN arm = 0 THEN y * y ELSE 0 END) AS HUGEINT) AS q0,
        |    CAST(SUM(CASE WHEN arm = 1 THEN y * y ELSE 0 END) AS HUGEINT) AS q1
        |  FROM u),
        |t AS (
        |  SELECT n0, n1, s0, s1, q0, q1,
        |    CAST(n0 AS DOUBLE) * CAST(q0 AS DOUBLE) - CAST(s0 AS DOUBLE) * CAST(s0 AS DOUBLE)
        |      + CAST(n1 AS DOUBLE) * CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) AS vsum,
        |    CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE) - CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS d,
        |    0.25 * (CAST(s0 + s1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE)) AS del,
        |    sqrt(
        |      (CAST(n0 AS DOUBLE) * CAST(q0 AS DOUBLE) - CAST(s0 AS DOUBLE) * CAST(s0 AS DOUBLE))
        |        / (CAST(n0 AS DOUBLE) * CAST(n0 AS DOUBLE) * (CAST(n0 AS DOUBLE) - 1.0))
        |      + (CAST(n1 AS DOUBLE) * CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
        |        / (CAST(n1 AS DOUBLE) * CAST(n1 AS DOUBLE) * (CAST(n1 AS DOUBLE) - 1.0))) AS se
        |  FROM m)
        |SELECT n0, n1,
        |  CAST(round(d * 100) AS BIGINT) AS d_e2,
        |  CAST(round(del * 100) AS BIGINT) AS delta_e2,
        |  CASE WHEN n0 > 1 AND n1 > 1 AND vsum > 0
        |    THEN CAST(round((d + del) / se * 1000000) AS BIGINT)
        |    ELSE NULL END AS t_lower_e6,
        |  CASE WHEN n0 > 1 AND n1 > 1 AND vsum > 0
        |    THEN CAST(round((d - del) / se * 1000000) AS BIGINT)
        |    ELSE NULL END AS t_upper_e6,
        |  CASE WHEN n0 <= 1 OR n1 <= 1 OR vsum <= 0 THEN 0
        |    WHEN round((d + del) / se * 1000000) >= 1644854
        |      AND round((d - del) / se * 1000000) <= -1644854 THEN 1
        |    ELSE 0 END AS equivalent
        |FROM t""".stripMargin,
    // identical e6 ln-point constants, identical calendar prefix sums
    "sprt_monitor" ->
      """WITH ev AS (SELECT CAST(ts AS DATE) AS day, event_type FROM events),
        |d AS (
        |  SELECT 'purchase_lift' AS metric, day,
        |    CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS h,
        |    CAST(round(ln(CAST(0.25 AS DOUBLE) / CAST(0.15 AS DOUBLE)) * 1000000) AS BIGINT) AS a,
        |    CAST(round(ln((1.0 - CAST(0.25 AS DOUBLE)) / (1.0 - CAST(0.15 AS DOUBLE))) * 1000000) AS BIGINT) AS b
        |  FROM ev GROUP BY day
        |  UNION ALL
        |  SELECT 'error_rate', day, CAST(COUNT(*) AS BIGINT),
        |    CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT),
        |    CAST(round(ln(CAST(0.35 AS DOUBLE) / CAST(0.25 AS DOUBLE)) * 1000000) AS BIGINT),
        |    CAST(round(ln((1.0 - CAST(0.35 AS DOUBLE)) / (1.0 - CAST(0.25 AS DOUBLE))) * 1000000) AS BIGINT)
        |  FROM ev GROUP BY day),
        |ll AS (
        |  SELECT metric, day, n, h * a + (n - h) * b AS day_llr_e6 FROM d),
        |c AS (
        |  SELECT x.metric, x.day, x.n, x.day_llr_e6,
        |    CAST(SUM(y.day_llr_e6) AS BIGINT) AS cum_llr_e6
        |  FROM ll x JOIN ll y ON y.metric = x.metric AND y.day <= x.day
        |  GROUP BY 1, 2, 3, 4)
        |SELECT metric, day, n, day_llr_e6, cum_llr_e6,
        |  CASE WHEN cum_llr_e6 >= CAST(round(ln((1.0 - CAST(0.2 AS DOUBLE)) / CAST(0.05 AS DOUBLE)) * 1000000) AS BIGINT)
        |      THEN 'accept_h1'
        |    WHEN cum_llr_e6 <= CAST(round(ln(CAST(0.2 AS DOUBLE) / (1.0 - CAST(0.05 AS DOUBLE))) * 1000000) AS BIGINT)
        |      THEN 'accept_h0'
        |    ELSE 'continue' END AS state
        |FROM c ORDER BY metric, day""".stripMargin,
    "cpk_capability" ->
      s"""WITH m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS HUGEINT) AS s,
         |  CAST(SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT))
         |    AS HUGEINT) AS q
         |  FROM lineitem)
         |SELECT n, CAST((s * 10000) // n AS BIGINT) AS mean_e4,
         |  CAST(round((CAST(45 AS DOUBLE) - CAST(5 AS DOUBLE)) / (CAST(6 AS DOUBLE) * $CpkSd) * 10000) AS BIGINT) AS cp_e4,
         |  CAST(round(
         |    least(CAST(45 AS DOUBLE) - $CpkMean, $CpkMean - CAST(5 AS DOUBLE))
         |    / (CAST(3 AS DOUBLE) * $CpkSd) * 10000) AS BIGINT) AS cpk_e4
         |FROM m""".stripMargin,
    "friedman_test" ->
      s"""WITH ev AS (SELECT CAST(ts AS DATE) AS day, event_type,
         |  CAST(COUNT(*) AS BIGINT) AS c FROM events GROUP BY 1, 2),
         |grid AS (
         |  SELECT d.day, t.event_type, COALESCE(ev.c, 0) AS c
         |  FROM (SELECT DISTINCT day FROM ev) d
         |  CROSS JOIN (VALUES ('click'), ('error'), ('purchase'), ('signup'),
         |    ('view')) t(event_type)
         |  LEFT JOIN ev ON ev.day = d.day AND ev.event_type = t.event_type),
         |r2 AS (
         |  SELECT a.day, a.event_type,
         |    SUM(CASE WHEN b.c < a.c THEN 2 ELSE 0 END)
         |      + SUM(CASE WHEN b.c = a.c THEN 1 ELSE 0 END) + 1 AS r2
         |  FROM grid a JOIN grid b ON b.day = a.day
         |  GROUP BY a.day, a.event_type, a.c),
         |sums AS (SELECT event_type, CAST(SUM(r2) AS BIGINT) AS rj2,
         |  CAST(COUNT(*) AS BIGINT) AS n FROM r2 GROUP BY event_type),
         |m AS (SELECT MAX(n) AS n_days,
         |  CAST(SUM(rj2 * rj2) AS HUGEINT) AS srr FROM sums)
         |SELECT CAST(n_days AS BIGINT) AS n_days, $FriedmanChi2 AS chi2_e4
         |FROM m""".stripMargin,
    "page_hinkley" ->
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day,
        |    CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
        |  FROM events GROUP BY 1),
        |pre AS (SELECT a.day AS day, a.x AS x, COUNT(*) AS t,
        |  CAST(SUM(b.x) AS HUGEINT) AS st
        |  FROM daily a JOIN daily b ON b.day <= a.day GROUP BY a.day, a.x),
        |dev AS (SELECT day,
        |  x * 1000000 - CAST((st * 1000000) // t AS BIGINT) AS dev_e6 FROM pre),
        |cum AS (SELECT a.day AS day, CAST(SUM(b.dev_e6) AS HUGEINT) AS cum_e6
        |  FROM dev a JOIN dev b ON b.day <= a.day GROUP BY a.day),
        |ph AS (SELECT a.day AS day, CAST(a.cum_e6 - MIN(b.cum_e6) AS BIGINT) AS ph_e6
        |  FROM cum a JOIN cum b ON b.day <= a.day GROUP BY a.day, a.cum_e6),
        |lam AS (SELECT CAST((CAST(SUM(x) AS HUGEINT) * 250000) // COUNT(*)
        |  AS BIGINT) AS lambda_e6 FROM daily),
        |mx AS (SELECT MAX(ph_e6) AS mx FROM ph)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
        |  CAST(MAX(ph_e6) AS BIGINT) AS max_ph_e6,
        |  MIN(CASE WHEN ph_e6 = mx THEN day END) AS peak_day,
        |  CAST(SUM(CASE WHEN ph_e6 > lambda_e6 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_alarms,
        |  COALESCE(MIN(CASE WHEN ph_e6 > lambda_e6 THEN day END),
        |    DATE '1970-01-01') AS first_alarm_day
        |FROM ph, lam, mx""".stripMargin,
    "mcnemar_test" ->
      """WITH u AS (
        |  SELECT user_id,
        |    MAX(CASE WHEN CAST(ts AS DATE) <= DATE '2024-01-15'
        |      THEN 1 ELSE 0 END) AS a1,
        |    MAX(CASE WHEN CAST(ts AS DATE) > DATE '2024-01-15'
        |      THEN 1 ELSE 0 END) AS a2
        |  FROM events WHERE event_type = 'purchase' AND value > 90
        |  GROUP BY user_id),
        |m AS (SELECT
        |  CAST(SUM(CASE WHEN a1 = 1 AND a2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS b,
        |  CAST(SUM(CASE WHEN a1 = 0 AND a2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c,
        |  CAST(SUM(CASE WHEN a1 = 1 AND a2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_both
        |  FROM u)
        |SELECT b, c, n_both,
        |  CAST(((b - c) * (b - c) * 10000) // (b + c) AS BIGINT) AS chi2_e4,
        |  CAST(((ABS(b - c) - 1) * (ABS(b - c) - 1) * 10000) // (b + c)
        |    AS BIGINT) AS chi2_cc_e4
        |FROM m""".stripMargin,
    "cochran_armitage" ->
      """WITH li AS (SELECT CAST(l_quantity AS BIGINT) // 10 AS s,
        |  CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y FROM lineitem),
        |bands AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS ni,
        |  CAST(SUM(y) AS BIGINT) AS ri FROM li GROUP BY s),
        |m AS (SELECT CAST(SUM(ni) AS BIGINT) AS n, CAST(SUM(ri) AS BIGINT) AS r,
        |  CAST(SUM(s * ni) AS HUGEINT) AS sn,
        |  CAST(SUM(s * s * ni) AS HUGEINT) AS ssn,
        |  CAST(SUM(s * ri) AS HUGEINT) AS sr FROM bands),
        |t AS (SELECT n, r, sr * n - sn * r AS t_num, sn, ssn FROM m)
        |SELECT n, r, CAST(t_num AS BIGINT) AS t_num,
        |  CAST(round(
        |    CAST(t_num AS DOUBLE)
        |    / sqrt(CAST(r AS DOUBLE) * CAST(n - r AS DOUBLE)
        |           * (CAST(n AS DOUBLE) * CAST(ssn AS DOUBLE)
        |              - CAST(sn AS DOUBLE) * CAST(sn AS DOUBLE))
        |           / CAST(n AS DOUBLE))
        |    * 10000) AS BIGINT) AS z_e4
        |FROM t""".stripMargin,
    "cohens_d" ->
      """WITH li AS (SELECT l_returnflag AS g, CAST(l_quantity AS BIGINT) AS x
        |  FROM lineitem WHERE l_returnflag IN ('A', 'R')),
        |m AS (SELECT
        |  CAST(SUM(CASE WHEN g = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |  CAST(SUM(CASE WHEN g = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS n2,
        |  CAST(SUM(CASE WHEN g = 'A' THEN x ELSE 0 END) AS HUGEINT) AS s1,
        |  CAST(SUM(CASE WHEN g = 'R' THEN x ELSE 0 END) AS HUGEINT) AS s2,
        |  CAST(SUM(CASE WHEN g = 'A' THEN x * x ELSE 0 END) AS HUGEINT) AS q1,
        |  CAST(SUM(CASE WHEN g = 'R' THEN x * x ELSE 0 END) AS HUGEINT) AS q2
        |  FROM li)
        |SELECT n1, n2,
        |  CAST(round(
        |    (CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
        |     - CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE))
        |    / sqrt(((CAST(q1 AS DOUBLE)
        |             - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE))
        |            + (CAST(q2 AS DOUBLE)
        |               - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE)))
        |           / CAST(n1 + n2 - 2 AS DOUBLE))
        |    * 1000000) AS BIGINT) AS d_e6
        |FROM m""".stripMargin,
    "join_skew_audit" ->
      Seq("l_orderkey", "l_partkey", "l_suppkey").map { c =>
        s"""SELECT '$c' AS key_col, CAST(SUM(f) AS BIGINT) AS n_rows,
           |  CAST(COUNT(*) AS BIGINT) AS n_keys,
           |  CAST(MAX(f) AS BIGINT) AS max_freq,
           |  CAST(round(quantile_cont(f, 0.5) * 2) AS BIGINT) AS med_freq_x2,
           |  CAST((MAX(f) * 1000000) // SUM(f) AS BIGINT) AS top1_share_e6
           |FROM (SELECT $c, CAST(COUNT(*) AS BIGINT) AS f
           |      FROM lineitem GROUP BY $c)""".stripMargin
      }.mkString("SELECT * FROM (\n", "\nUNION ALL\n", "\n) ORDER BY key_col"),
    // one pass of per-group integer moments, then the SPLICED double
    // chain (the Scala constants guarantee identical operand order)
    "anova_oneway" ->
      s"""WITH li AS (SELECT l_returnflag AS g, CAST(l_quantity AS BIGINT) AS x
         |            FROM lineitem),
         |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |  CAST(SUM(CASE WHEN g = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS na,
         |  CAST(SUM(CASE WHEN g = 'N' THEN 1 ELSE 0 END) AS BIGINT) AS nn,
         |  CAST(SUM(CASE WHEN g = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS nr,
         |  CAST(SUM(CASE WHEN g = 'A' THEN x ELSE 0 END) AS HUGEINT) AS sa,
         |  CAST(SUM(CASE WHEN g = 'N' THEN x ELSE 0 END) AS HUGEINT) AS sn,
         |  CAST(SUM(CASE WHEN g = 'R' THEN x ELSE 0 END) AS HUGEINT) AS sr,
         |  CAST(SUM(x * x) AS HUGEINT) AS q FROM li)
         |SELECT n, na, nn, nr, $AnovaSsb AS ssb_e4, $AnovaSsw AS ssw_e4,
         |  $AnovaF AS f_e4
         |FROM m""".stripMargin,
    "levene_bf" ->
      s"""WITH li AS (SELECT l_returnflag AS g, CAST(l_quantity AS BIGINT) AS x
         |            FROM lineitem),
         |med AS (SELECT g, CAST(round(quantile_cont(x, 0.5) * 2) AS BIGINT) AS m2
         |        FROM li GROUP BY g),
         |z AS (SELECT li.g, ABS(x * 2 - m2) AS z FROM li JOIN med ON med.g = li.g),
         |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |  CAST(SUM(CASE WHEN g = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS na,
         |  CAST(SUM(CASE WHEN g = 'N' THEN 1 ELSE 0 END) AS BIGINT) AS nn,
         |  CAST(SUM(CASE WHEN g = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS nr,
         |  CAST(SUM(CASE WHEN g = 'A' THEN z ELSE 0 END) AS HUGEINT) AS sa,
         |  CAST(SUM(CASE WHEN g = 'N' THEN z ELSE 0 END) AS HUGEINT) AS sn,
         |  CAST(SUM(CASE WHEN g = 'R' THEN z ELSE 0 END) AS HUGEINT) AS sr,
         |  CAST(SUM(z * z) AS HUGEINT) AS q FROM z)
         |SELECT n, na, nn, nr, $AnovaF AS w_e4
         |FROM m""".stripMargin,
    "durbin_watson" ->
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day,
        |    CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
        |  FROM events GROUP BY 1),
        |base AS (SELECT day, y,
        |  CAST(day - (SELECT MIN(day) FROM daily) AS BIGINT) AS t FROM daily),
        |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, SUM(t) AS st,
        |  CAST(SUM(y) AS HUGEINT) AS sy, SUM(t * t) AS stt,
        |  CAST(SUM(t * y) AS HUGEINT) AS sty FROM base),
        |mm AS (SELECT CAST(n * stt - st * st AS HUGEINT) AS den,
        |  CAST(n * sty - st * sy AS HUGEINT) AS numb,
        |  CAST(sy * stt - st * sty AS HUGEINT) AS numa FROM m),
        |resid AS (SELECT day, CAST(y AS HUGEINT) * den - numa - numb * t AS r
        |          FROM base, mm),
        |prev AS (SELECT day + 1 AS day, r AS rp FROM resid),
        |num AS (SELECT CAST(SUM((r - rp) * (r - rp)) AS HUGEINT) AS nm
        |        FROM resid JOIN prev USING (day)),
        |den2 AS (SELECT CAST(SUM(r * r) AS HUGEINT) AS dn,
        |  CAST(COUNT(*) AS BIGINT) AS n_days FROM resid)
        |SELECT n_days, CAST((nm * 1000000) // dn AS BIGINT) AS dw_e6
        |FROM num, den2""".stripMargin,
    "grubbs_test" ->
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day,
        |    CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
        |  FROM events GROUP BY 1),
        |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(y) AS HUGEINT) AS sy,
        |  CAST(SUM(y * y) AS HUGEINT) AS q FROM daily),
        |dev AS (SELECT day, n, sy, q, ABS(CAST(y AS HUGEINT) * n - sy) AS dev
        |        FROM daily, st)
        |SELECT day AS peak_day, n,
        |  CAST(round(
        |    (CAST(dev AS DOUBLE) / CAST(n AS DOUBLE))
        |    / sqrt((CAST(n AS DOUBLE) * CAST(q AS DOUBLE)
        |            - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
        |           / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)))
        |    * 10000) AS BIGINT) AS g_e4
        |FROM dev ORDER BY dev DESC, day LIMIT 1""".stripMargin,
    "runs_test" ->
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day,
        |    CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
        |  FROM events GROUP BY 1),
        |med AS (SELECT CAST(round(quantile_cont(y, 0.5) * 2) AS BIGINT) AS m2
        |        FROM daily),
        |signed AS (SELECT day,
        |    CASE WHEN y * 2 > (SELECT m2 FROM med) THEN 1 ELSE 0 END AS s
        |  FROM daily WHERE y * 2 <> (SELECT m2 FROM med)),
        |prevday AS (SELECT a.day AS day, MAX(b.day) AS pday
        |  FROM signed a JOIN signed b ON b.day < a.day GROUP BY a.day),
        |pairs AS (SELECT s.day, s.s, p2.s AS sp
        |  FROM signed s LEFT JOIN prevday p ON p.day = s.day
        |  LEFT JOIN signed p2 ON p2.day = p.pday),
        |agg AS (SELECT CAST(SUM(s) AS BIGINT) AS n_pos,
        |  CAST(SUM(1 - s) AS BIGINT) AS n_neg,
        |  CAST(1 + SUM(CASE WHEN sp IS NOT NULL AND s <> sp THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_runs FROM pairs)
        |SELECT n_pos, n_neg, n_runs,
        |  CAST(round(
        |    (CAST(n_runs AS DOUBLE)
        |     - (CAST(2 AS DOUBLE) * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE)
        |        / CAST(n_pos + n_neg AS DOUBLE) + CAST(1 AS DOUBLE)))
        |    / sqrt(CAST(2 AS DOUBLE) * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE)
        |           * (CAST(2 AS DOUBLE) * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE)
        |              - CAST(n_pos + n_neg AS DOUBLE))
        |           / (CAST(n_pos + n_neg AS DOUBLE) * CAST(n_pos + n_neg AS DOUBLE)
        |              * CAST(n_pos + n_neg - 1 AS DOUBLE)))
        |    * 10000) AS BIGINT) AS z_e4
        |FROM agg""".stripMargin,
    "pacf_daily" ->
      s"""WITH daily AS (
         |  SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS x
         |  FROM events GROUP BY 1),
         |stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, SUM(x) AS s FROM daily),
         |c AS (SELECT day, n * x - s AS c FROM daily, stats),
         |dent AS (SELECT CAST(SUM(c * c) AS HUGEINT) AS den FROM c),
         |n1 AS (SELECT CAST(SUM(a.c * b.c) AS HUGEINT) AS num1
         |       FROM c a JOIN c b ON b.day = a.day + 1),
         |n2 AS (SELECT CAST(SUM(a.c * b.c) AS HUGEINT) AS num2
         |       FROM c a JOIN c b ON b.day = a.day + 2),
         |n3 AS (SELECT CAST(SUM(a.c * b.c) AS HUGEINT) AS num3
         |       FROM c a JOIN c b ON b.day = a.day + 3)
         |SELECT CAST(round($R1 * 1000000) AS BIGINT) AS pacf1_e6,
         |  CAST(round($Phi22 * 1000000) AS BIGINT) AS pacf2_e6,
         |  CAST(round(
         |    (($R3) - ($R1 * (CAST(1 AS DOUBLE) - $Phi22)) * ($R2) - ($Phi22) * ($R1))
         |    / (CAST(1 AS DOUBLE) - ($R1 * (CAST(1 AS DOUBLE) - $Phi22)) * ($R1)
         |       - ($Phi22) * ($R2))
         |    * 1000000) AS BIGINT) AS pacf3_e6
         |FROM n1, n2, n3, dent""".stripMargin,
    "pca_2d" ->
      s"""WITH li AS (SELECT CAST(l_quantity AS BIGINT) AS x,
         |  CAST(round(l_extendedprice * 100) AS BIGINT) AS y FROM lineitem),
         |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |  CAST(SUM(x) AS HUGEINT) AS sx, CAST(SUM(y) AS HUGEINT) AS sy,
         |  CAST(SUM(x * x) AS HUGEINT) AS sxx, CAST(SUM(y * y) AS HUGEINT) AS syy,
         |  CAST(SUM(x * y) AS HUGEINT) AS sxy FROM li),
         |cm AS (SELECT n, n * sxx - sx * sx AS a, n * sxy - sx * sy AS b,
         |  n * syy - sy * sy AS c FROM m)
         |SELECT n,
         |  CAST(round(
         |    ($Pca2dLam1) / (CAST(a AS DOUBLE) + CAST(c AS DOUBLE))
         |    * 1000000) AS BIGINT) AS evr_e6,
         |  CAST(round(
         |    (($Pca2dLam1) - CAST(a AS DOUBLE)) / CAST(b AS DOUBLE)
         |    * 1000000) AS BIGINT) AS slope_e6
         |FROM cm""".stripMargin,
    // same daily rollup, HUGEINT moments, fixed-order ratio chains
    "dispersion_index" ->
      """WITH d AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(COUNT(*) AS HUGEINT) AS c
        |  FROM events GROUP BY 1, 2),
        |m AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
        |        SUM(c) AS sc, SUM(c * c) AS scc
        |      FROM d GROUP BY 1)
        |SELECT event_type, n_days,
        |  CAST(sc // n_days AS BIGINT) AS mean_per_day,
        |  CASE WHEN n_days > 1 AND CAST(sc AS DOUBLE) > 0
        |  THEN CAST(round(
        |    (CAST(scc AS DOUBLE)
        |     - CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE) / CAST(n_days AS DOUBLE))
        |    / CAST(n_days - 1 AS DOUBLE)
        |    / (CAST(sc AS DOUBLE) / CAST(n_days AS DOUBLE))
        |    * 10000) AS BIGINT) END AS dispersion_e4,
        |  CASE WHEN n_days > 1 AND CAST(sc AS DOUBLE) > 0
        |  THEN CAST(round(
        |    sqrt((CAST(scc AS DOUBLE)
        |          - CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE) / CAST(n_days AS DOUBLE))
        |         / CAST(n_days - 1 AS DOUBLE))
        |    / (CAST(sc AS DOUBLE) / CAST(n_days AS DOUBLE))
        |    * 10000) AS BIGINT) END AS cv_e4
        |FROM m ORDER BY event_type""".stripMargin,
    // exact cross-product signs per stratum + pooled, one paradox flag
    "simpson_paradox" ->
      """WITH c AS (
        |  SELECT CASE WHEN EXTRACT(day FROM ts) <= 15 THEN 'h1' ELSE 'h2' END AS stratum,
        |    CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS exposed,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS success
        |  FROM events),
        |r AS (
        |  SELECT stratum AS scope,
        |    CAST(SUM(exposed * success) AS BIGINT) AS n11,
        |    CAST(SUM(exposed * (1 - success)) AS BIGINT) AS n10,
        |    CAST(SUM((1 - exposed) * success) AS BIGINT) AS n01,
        |    CAST(SUM((1 - exposed) * (1 - success)) AS BIGINT) AS n00
        |  FROM c GROUP BY stratum
        |  UNION ALL
        |  SELECT 'overall',
        |    CAST(SUM(exposed * success) AS BIGINT),
        |    CAST(SUM(exposed * (1 - success)) AS BIGINT),
        |    CAST(SUM((1 - exposed) * success) AS BIGINT),
        |    CAST(SUM((1 - exposed) * (1 - success)) AS BIGINT)
        |  FROM c),
        |sg AS (SELECT scope, n11, n10, n01, n00,
        |    CAST(sign(CAST(n11 AS HUGEINT) * n00 - CAST(n10 AS HUGEINT) * n01)
        |      AS BIGINT) AS assoc_sign FROM r),
        |o AS (SELECT assoc_sign AS o_sign FROM sg WHERE scope = 'overall'),
        |fl AS (
        |  SELECT CAST(CASE WHEN COUNT(*) =
        |    SUM(CASE WHEN sg.assoc_sign = -o.o_sign AND o.o_sign <> 0
        |        THEN 1 ELSE 0 END) THEN 1 ELSE 0 END AS BIGINT) AS paradox
        |  FROM sg, o WHERE sg.scope <> 'overall')
        |SELECT sg.scope, sg.n11, sg.n10, sg.n01, sg.n00, sg.assoc_sign,
        |  fl.paradox
        |FROM sg, fl ORDER BY sg.scope""".stripMargin,
    // exact integer HHI over HUGEINT square sums
    "hhi_concentration" ->
      """WITH su AS (
        |  SELECT l_suppkey,
        |    CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS HUGEINT) AS rev
        |  FROM lineitem GROUP BY 1),
        |s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_suppliers,
        |        SUM(rev) AS tot, SUM(rev * rev) AS sq,
        |        MAX(rev) AS top_rev FROM su)
        |SELECT n_suppliers,
        |  CAST(sq * 1000000 // (tot * tot) AS BIGINT) AS hhi_e6,
        |  CAST((tot * tot) * 1000 // sq AS BIGINT)
        |    AS equiv_competitors_e3,
        |  CAST(top_rev * 1000000 // tot AS BIGINT) AS top_share_e6
        |FROM s""".stripMargin,
    // HUGEINT mirrors the decimal Cramer expansion term for term; betas
    // and R2 replay the same fixed-order double chain
    "ols_features" ->
      """WITH d AS (
        |  SELECT CAST(ts AS DATE) AS day,
        |    CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS HUGEINT) AS x1,
        |    CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS HUGEINT) AS x2,
        |    CAST(SUM(CASE WHEN event_type = 'purchase'
        |      THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS HUGEINT) AS y
        |  FROM events GROUP BY 1),
        |s AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n,
        |        SUM(x1) AS s1, SUM(x2) AS s2, SUM(y) AS sy,
        |        SUM(x1 * x1) AS s11, SUM(x1 * x2) AS s12, SUM(x2 * x2) AS s22,
        |        SUM(x1 * y) AS s1y, SUM(x2 * y) AS s2y, SUM(y * y) AS syy
        |      FROM d),
        |dets AS (SELECT n, sy, s1y, s2y, syy,
        |    n * (s11 * s22 - s12 * s12)
        |      - s1 * (s1 * s22 - s12 * s2)
        |      + s2 * (s1 * s12 - s11 * s2) AS det,
        |    sy * (s11 * s22 - s12 * s12)
        |      - s1 * (s1y * s22 - s12 * s2y)
        |      + s2 * (s1y * s12 - s11 * s2y) AS det0,
        |    n * (s1y * s22 - s12 * s2y)
        |      - sy * (s1 * s22 - s12 * s2)
        |      + s2 * (s1 * s2y - s1y * s2) AS det1,
        |    n * (s11 * s2y - s1y * s12)
        |      - s1 * (s1 * s2y - s1y * s2)
        |      + sy * (s1 * s12 - s11 * s2) AS det2
        |  FROM s)
        |SELECT CAST(n AS BIGINT) AS n,
        |  CASE WHEN det <> 0 THEN CAST(round(CAST(det0 AS DOUBLE) / CAST(det AS DOUBLE) * 10000) AS BIGINT) END AS beta0_e4,
        |  CASE WHEN det <> 0 THEN CAST(round(CAST(det1 AS DOUBLE) / CAST(det AS DOUBLE) * 10000) AS BIGINT) END AS beta1_e4,
        |  CASE WHEN det <> 0 THEN CAST(round(CAST(det2 AS DOUBLE) / CAST(det AS DOUBLE) * 10000) AS BIGINT) END AS beta2_e4,
        |  CASE WHEN det <> 0 AND n * syy <> sy * sy
        |  THEN CAST(round((1.0 -
        |    (CAST(syy AS DOUBLE)
        |     - (CAST(det0 AS DOUBLE) / CAST(det AS DOUBLE) * CAST(sy AS DOUBLE)
        |        + CAST(det1 AS DOUBLE) / CAST(det AS DOUBLE) * CAST(s1y AS DOUBLE)
        |        + CAST(det2 AS DOUBLE) / CAST(det AS DOUBLE) * CAST(s2y AS DOUBLE)))
        |    / (CAST(syy AS DOUBLE)
        |       - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)))
        |    * 1000000) AS BIGINT) END AS r2_e6
        |FROM dets""".stripMargin,
    // first-half baseline moments, mirrored z chain, ±3σ decisions
    "control_chart" ->
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day,
        |    CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS rev
        |  FROM events GROUP BY 1),
        |base AS (
        |  SELECT COUNT(*) AS n, CAST(SUM(rev) AS BIGINT) AS s,
        |    SUM(CAST(rev AS HUGEINT) * rev) AS q
        |  FROM daily WHERE day < DATE '2024-01-16'),
        |z AS (
        |  SELECT d.day, d.rev,
        |    CAST(round((CAST(d.rev AS DOUBLE) - CAST(b.s AS DOUBLE) / b.n)
        |      / sqrt(CAST(b.q AS DOUBLE) / b.n
        |             - pow(CAST(b.s AS DOUBLE) / b.n, 2))
        |      * 1000000) AS BIGINT) AS z_e6
        |  FROM daily d CROSS JOIN base b
        |  WHERE d.day >= DATE '2024-01-16')
        |SELECT day, rev, z_e6,
        |  (z_e6 > 3000000 OR z_e6 < -3000000) AS out_of_control
        |FROM z ORDER BY day""".stripMargin,
    // identical block arithmetic under plain windows; m_t integer-exact
    "hurst_exponent" ->
      """WITH d AS (
        |  SELECT CAST(ts AS DATE) AS day,
        |    CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
        |  FROM events GROUP BY 1),
        |r AS (SELECT x, row_number() OVER (ORDER BY day) - 1 AS pos FROM d),
        |sz AS (SELECT unnest([5, 10, 15, 30]) AS n),
        |bl AS (SELECT sz.n, r.pos // sz.n AS b, r.pos % sz.n + 1 AS t, r.x
        |  FROM r CROSS JOIN sz),
        |w AS (SELECT n, b, t, x,
        |  SUM(x) OVER (PARTITION BY n, b ORDER BY t
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |  SUM(x) OVER (PARTITION BY n, b) AS tot,
        |  COUNT(*) OVER (PARTITION BY n, b) AS k
        |  FROM bl),
        |g AS (SELECT n, b,
        |  CAST(MAX(n * cum - t * tot) - MIN(n * cum - t * tot) AS BIGINT) AS rn,
        |  CAST(MAX(tot) AS BIGINT) AS sx, CAST(MAX(k) AS BIGINT) AS k,
        |  CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx
        |  FROM w GROUP BY 1, 2),
        |p AS (SELECT
        |  CAST(round(ln(CAST(n AS DOUBLE)) * 1000000) AS BIGINT) AS px,
        |  CAST(round(ln(CAST(rn AS DOUBLE)
        |    / sqrt(CAST(CAST(n AS HUGEINT) * sxx
        |           - CAST(sx AS HUGEINT) * sx AS DOUBLE))) * 1000000)
        |    AS BIGINT) AS py
        |  FROM g
        |  WHERE k = n AND CAST(n AS HUGEINT) * sxx
        |    - CAST(sx AS HUGEINT) * sx > 0),
        |s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_points,
        |  CAST(SUM(px) AS BIGINT) AS sx, CAST(SUM(py) AS BIGINT) AS sy,
        |  SUM(CAST(px AS HUGEINT) * py) AS sxy,
        |  SUM(CAST(px AS HUGEINT) * px) AS sxx FROM p)
        |SELECT n_points,
        |  CAST((CAST(n_points AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy)
        |    * 1000000
        |    // (CAST(n_points AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx)
        |    AS BIGINT) AS hurst_e6
        |FROM s""".stripMargin,
    // four exact cells; the one double chain mirrors term-for-term
    "odds_ratio" ->
      """WITH cells AS (SELECT
        |  CAST(SUM(CASE WHEN value > 250 AND event_type = 'purchase'
        |    THEN 1 ELSE 0 END) AS BIGINT) AS a,
        |  CAST(SUM(CASE WHEN value > 250 AND event_type <> 'purchase'
        |    THEN 1 ELSE 0 END) AS BIGINT) AS b,
        |  CAST(SUM(CASE WHEN value <= 250 AND event_type = 'purchase'
        |    THEN 1 ELSE 0 END) AS BIGINT) AS c,
        |  CAST(SUM(CASE WHEN value <= 250 AND event_type <> 'purchase'
        |    THEN 1 ELSE 0 END) AS BIGINT) AS d
        |FROM events)
        |SELECT a, b, c, d,
        |  CAST(CAST(a AS HUGEINT) * d * 1000000
        |    // (CAST(b AS HUGEINT) * c) AS BIGINT) AS or_e6,
        |  CAST(CAST(a AS HUGEINT) * (c + d) * 1000000
        |    // (CAST(c AS HUGEINT) * (a + b)) AS BIGINT) AS rr_e6,
        |  CAST(round((ln(CAST(a AS DOUBLE) * d / (CAST(b AS DOUBLE) * c))
        |    - 1.959964 * sqrt(1.0/a + 1.0/b + 1.0/c + 1.0/d)) * 1000000)
        |    AS BIGINT) AS ln_or_ci_lo_e6,
        |  CAST(round((ln(CAST(a AS DOUBLE) * d / (CAST(b AS DOUBLE) * c))
        |    + 1.959964 * sqrt(1.0/a + 1.0/b + 1.0/c + 1.0/d)) * 1000000)
        |    AS BIGINT) AS ln_or_ci_hi_e6
        |FROM cells""".stripMargin,
    // global desc cumsum oracle-side; the engine banded it
    "abc_classification" ->
      """WITH u AS (
        |  SELECT user_id,
        |    CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
        |  FROM events WHERE event_type = 'purchase' GROUP BY user_id),
        |c AS (SELECT x, CAST(SUM(x) OVER (ORDER BY x DESC, user_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cum FROM u),
        |t AS (SELECT CAST(SUM(x) AS BIGINT) AS t FROM u)
        |SELECT CASE WHEN cum * 100 <= t.t * 80 THEN 'A'
        |    WHEN cum * 100 <= t.t * 95 THEN 'B' ELSE 'C' END AS cls,
        |  CAST(COUNT(*) AS BIGINT) AS n_users,
        |  CAST(SUM(x) AS BIGINT) AS rev_e2,
        |  CAST((CAST(SUM(x) AS HUGEINT) * 1000000) // MAX(t.t) AS BIGINT)
        |    AS share_e6
        |FROM c, t GROUP BY 1 ORDER BY 1""".stripMargin,
    // a plain global rank is fine ORACLE-side; the engine banded it
    "gini_concentration" ->
      """WITH u AS (
        |  SELECT user_id,
        |    CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
        |  FROM events WHERE event_type = 'purchase' GROUP BY user_id),
        |r AS (SELECT x, row_number() OVER (ORDER BY x, user_id) AS i FROM u),
        |s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS t,
        |  SUM(CAST(i AS HUGEINT) * x) AS rr FROM r),
        |tp AS (SELECT CAST(SUM(CASE WHEN r.i > s.n - s.n // 10
        |    THEN r.x ELSE 0 END) AS BIGINT) AS top FROM r, s)
        |SELECT s.n AS n_users, s.t AS total_rev_e2,
        |  CAST((2 * s.rr - (CAST(s.n AS HUGEINT) + 1) * s.t) * 1000000
        |    // (CAST(s.n AS HUGEINT) * s.t) AS BIGINT) AS gini_e6,
        |  CAST((CAST(tp.top AS HUGEINT) * 1000000) // s.t AS BIGINT)
        |    AS top_decile_share_e6
        |FROM s, tp""".stripMargin,
    // per-type contributions: exact integer ratios before the one ln
    "js_divergence" ->
      """WITH h AS (
        |  SELECT event_type,
        |    CAST(SUM(CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS a,
        |    CAST(SUM(CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 0 ELSE 1 END)
        |      AS BIGINT) AS b
        |  FROM events GROUP BY event_type),
        |t AS (SELECT CAST(SUM(a) AS BIGINT) AS ta,
        |  CAST(SUM(b) AS BIGINT) AS tb FROM h)
        |SELECT h.event_type, h.a, h.b,
        |  CAST(round((
        |    CASE WHEN a = 0 THEN 0.0 ELSE CAST(a AS DOUBLE) / ta
        |      * ln(2.0 * a * tb / (CAST(a AS DOUBLE) * tb + CAST(b AS DOUBLE) * ta)) END
        |    + CASE WHEN b = 0 THEN 0.0 ELSE CAST(b AS DOUBLE) / tb
        |      * ln(2.0 * b * ta / (CAST(a AS DOUBLE) * tb + CAST(b AS DOUBLE) * ta)) END
        |  ) * 500000) AS BIGINT) AS jsd_contrib_e6
        |FROM h, t ORDER BY event_type""".stripMargin,
    // mirrored double chain over exact integer moments
    "ab_power" ->
      """WITH m AS (
        |  SELECT COUNT(*) AS n,
        |    CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS s,
        |    SUM(CAST(CAST(round(value * 100) AS BIGINT) AS HUGEINT)
        |        * CAST(round(value * 100) AS BIGINT)) AS q
        |  FROM events WHERE event_type = 'purchase')
        |SELECT CAST(n AS BIGINT) AS n_obs,
        |  CAST(ceil(
        |    pow(1.959964 + 0.841621, 2) * 2.0
        |    * (CAST(q AS DOUBLE) / n - pow(CAST(s AS DOUBLE) / n, 2))
        |    / pow(0.05 * CAST(s AS DOUBLE) / n, 2)) AS BIGINT)
        |    AS n_required_per_arm,
        |  CAST(round(
        |    (1.959964 + 0.841621)
        |    * sqrt(2.0 * (CAST(q AS DOUBLE) / n
        |                  - pow(CAST(s AS DOUBLE) / n, 2)) / 1000.0)
        |    / (CAST(s AS DOUBLE) / n) * 1000000) AS BIGINT)
        |    AS mde_rel_e6_at_1000
        |FROM m""".stripMargin,
    // minimax identity on the 10-bin frame; 10^12 integer fraction keys
    "isotonic_calibration" ->
      """WITH bins AS (
        |  SELECT least(CAST(floor(value / 50) AS INT), 9) AS bin,
        |    CAST(COUNT(*) AS BIGINT) AS nb,
        |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS pb
        |  FROM events GROUP BY 1),
        |seg AS (
        |  SELECT l.bin AS i, r.bin AS j, CAST(SUM(m.pb) AS BIGINT) AS p,
        |    CAST(SUM(m.nb) AS BIGINT) AS nn
        |  FROM bins l, bins m, bins r
        |  WHERE l.bin <= m.bin AND m.bin <= r.bin GROUP BY 1, 2),
        |keyed AS (SELECT i, j,
        |  CAST((CAST(p AS HUGEINT) * 1000000000000) // nn AS BIGINT) AS key
        |  FROM seg),
        |im AS (
        |  SELECT b.bin AS d, k.i, MIN(k.key) AS mn
        |  FROM bins b JOIN keyed k ON k.i <= b.bin AND k.j >= b.bin
        |  GROUP BY 1, 2),
        |iso AS (SELECT d, CAST(MAX(mn) AS BIGINT) AS g FROM im GROUP BY d)
        |SELECT b.bin, b.nb AS n, b.pb AS purchases,
        |  CAST((b.pb * 1000000) // b.nb AS BIGINT) AS rate_e6,
        |  CAST(iso.g // 1000000 AS BIGINT) AS iso_rate_e6
        |FROM bins b JOIN iso ON iso.d = b.bin ORDER BY b.bin""".stripMargin,
    // the same coupled floor EWMAs under WITH RECURSIVE; // == div
    "croston_demand" ->
      """WITH RECURSIVE d AS (
        |  SELECT CAST(ts AS DATE) AS day,
        |    CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS z
        |  FROM events
        |  WHERE event_type = 'error' AND value > 200 AND user_id < 15
        |  GROUP BY 1),
        |idx AS (SELECT day, z, ROW_NUMBER() OVER (ORDER BY day) AS i FROM d),
        |c AS (
        |  SELECT i, day, z AS zh, CAST(1 AS BIGINT) AS qh
        |  FROM idx WHERE i = 1
        |  UNION ALL
        |  SELECT x.i, x.day, (x.z + c.zh) // 2,
        |    (date_diff('day', c.day, x.day) + c.qh) // 2
        |  FROM c JOIN idx x ON x.i = c.i + 1)
        |SELECT CAST(i AS BIGINT) AS n_demand_days, zh AS z_hat_e2,
        |  qh AS q_hat_days,
        |  CAST((zh * 1000000) // qh AS BIGINT) AS croston_rate_e6
        |FROM c ORDER BY i DESC LIMIT 1""".stripMargin,
    // identical pair-count midranks (x2, constant-shift immaterial to
    // Pearson-on-ranks) and the identical double chain
    "spearman_daily" ->
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day,
        |    CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS rev,
        |    CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM events GROUP BY 1),
        |r AS (
        |  SELECT
        |    2 * (SELECT COUNT(*) FROM daily b WHERE b.rev < a.rev)
        |      + (SELECT COUNT(*) FROM daily b WHERE b.rev = a.rev) AS rx,
        |    2 * (SELECT COUNT(*) FROM daily b WHERE b.cnt < a.cnt)
        |      + (SELECT COUNT(*) FROM daily b WHERE b.cnt = a.cnt) AS ry
        |  FROM daily a),
        |s AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(rx) AS BIGINT) AS sx,
        |    CAST(SUM(ry) AS BIGINT) AS sy, CAST(SUM(rx * ry) AS BIGINT) AS sxy,
        |    CAST(SUM(rx * rx) AS BIGINT) AS sxx,
        |    CAST(SUM(ry * ry) AS BIGINT) AS syy
        |  FROM r)
        |SELECT n AS n_days,
        |  CAST(round(
        |    (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |     - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |    / sqrt(
        |        (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |        * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
        |           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
        |    * 1000000) AS BIGINT) AS rho_e6
        |FROM s""".stripMargin,
    // four looks from one rollup; z chains + OBF boundaries mirrored
    "obf_sequential" -> {
      val z = (k: Int) =>
        s"""CASE WHEN c0_$k + c1_$k > 0 AND c0_$k + c1_$k < n0 + n1 THEN
           |  CAST(round(
           |    (CAST(c0_$k AS DOUBLE) / CAST(n0 AS DOUBLE)
           |     - CAST(c1_$k AS DOUBLE) / CAST(n1 AS DOUBLE))
           |    / sqrt(
           |        (CAST(c0_$k + c1_$k AS DOUBLE) / CAST(n0 + n1 AS DOUBLE))
           |        * (1.0 - CAST(c0_$k + c1_$k AS DOUBLE) / CAST(n0 + n1 AS DOUBLE))
           |        * (1.0 / CAST(n0 AS DOUBLE) + 1.0 / CAST(n1 AS DOUBLE)))
           |    * 1000000) AS BIGINT)
           |ELSE NULL END""".stripMargin.replace("\n", " ")
      val bound = (k: Int) =>
        s"CAST(round(2.024 * sqrt(4.0 / $k.0) * 1000000) AS BIGINT)"
      val looks = (1 to 4).map { k =>
        s"""SELECT CAST($k AS BIGINT) AS look, CAST(${k * 7} AS BIGINT) AS day_cut,
           |  n0, c0_$k AS c0, n1, c1_$k AS c1,
           |  ${z(k)} AS z_e6, ${bound(k)} AS bound_e6,
           |  CAST(COALESCE(ABS(${z(k)}) >= ${bound(k)}, FALSE) AS BIGINT)
           |    AS reject
           |FROM cells""".stripMargin
      }.mkString("\n  UNION ALL ")
      s"""WITH u AS (
         |  SELECT user_id % 2 AS g,
         |    MIN(CASE WHEN event_type = 'purchase' AND value > 250
         |        THEN day(ts) END) AS cd
         |  FROM events GROUP BY user_id),
         |cells AS (
         |  SELECT
         |    CAST(SUM(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
         |    CAST(SUM(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         |${(1 to 4).map(k =>
          s"    CAST(SUM(CASE WHEN g = 0 AND cd <= ${k * 7} THEN 1 ELSE 0 END) AS BIGINT) AS c0_$k,\n" +
          s"    CAST(SUM(CASE WHEN g = 1 AND cd <= ${k * 7} THEN 1 ELSE 0 END) AS BIGINT) AS c1_$k")
          .mkString(",\n")}
         |  FROM u)
         |SELECT * FROM (
         |  $looks) ORDER BY look""".stripMargin
    },
    // exact-percentile edges (quantile_cont == percentile, the
    // winsorized_mean pin); same tercile CASEs and R inversion
    "rfm_segments" ->
      """WITH hz AS (SELECT MAX(CAST(ts AS DATE)) AS h FROM events),
        |u AS (
        |  SELECT user_id,
        |    CAST(date_diff('day', MAX(CAST(ts AS DATE)), (SELECT h FROM hz))
        |      AS BIGINT) AS r,
        |    CAST(COUNT(*) AS BIGINT) AS f,
        |    CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS m
        |  FROM events GROUP BY user_id),
        |e AS (
        |  SELECT quantile_cont(r, [1.0/3, 2.0/3]) AS re,
        |    quantile_cont(f, [1.0/3, 2.0/3]) AS fe,
        |    quantile_cont(m, [1.0/3, 2.0/3]) AS me
        |  FROM u),
        |scored AS (
        |  SELECT m,
        |    CAST(2 - (CASE WHEN CAST(r AS DOUBLE) <= e.re[1] THEN 0
        |      WHEN CAST(r AS DOUBLE) <= e.re[2] THEN 1 ELSE 2 END) AS BIGINT)
        |      AS r_score,
        |    CAST(CASE WHEN CAST(f AS DOUBLE) <= e.fe[1] THEN 0
        |      WHEN CAST(f AS DOUBLE) <= e.fe[2] THEN 1 ELSE 2 END AS BIGINT)
        |      AS f_score,
        |    CAST(CASE WHEN CAST(m AS DOUBLE) <= e.me[1] THEN 0
        |      WHEN CAST(m AS DOUBLE) <= e.me[2] THEN 1 ELSE 2 END AS BIGINT)
        |      AS m_score
        |  FROM u, e)
        |SELECT r_score, f_score, m_score,
        |  CAST(COUNT(*) AS BIGINT) AS n_users, CAST(SUM(m) AS BIGINT) AS rev_e2
        |FROM scored GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    // the SAME generated body — identical hashes, thresholds, floors
    "poisson_bootstrap" -> bootSql(
      """SELECT event_id, CAST(round(value * 100) AS BIGINT) AS v
        |  FROM events""".stripMargin, "//"),
    // cumulative sum of the identical per-step e6 floors, windowed
    "nelson_aalen" ->
      """WITH subj AS (
        |  SELECT user_id,
        |    MIN(CASE WHEN event_type = 'signup' THEN CAST(ts AS DATE) END) AS s0
        |  FROM events GROUP BY user_id),
        |conv AS (
        |  SELECT e.user_id, MIN(CAST(e.ts AS DATE)) AS p0
        |  FROM events e JOIN subj s ON e.user_id = s.user_id
        |  WHERE e.event_type = 'purchase' AND e.value > 250
        |    AND CAST(e.ts AS DATE) >= s.s0
        |  GROUP BY e.user_id),
        |hz AS (SELECT MAX(CAST(ts AS DATE)) AS hmax FROM events),
        |life AS (
        |  SELECT s.user_id,
        |    CASE WHEN c.p0 IS NOT NULL THEN date_diff('day', s.s0, c.p0)
        |         ELSE date_diff('day', s.s0, (SELECT hmax FROM hz)) END AS t_obs,
        |    CASE WHEN c.p0 IS NOT NULL THEN CAST(1 AS BIGINT)
        |         ELSE CAST(0 AS BIGINT) END AS ev
        |  FROM subj s LEFT JOIN conv c ON s.user_id = c.user_id
        |  WHERE s.s0 IS NOT NULL),
        |tc AS (
        |  SELECT t_obs, COUNT(*) AS ending, SUM(ev) AS d
        |  FROM life GROUP BY t_obs),
        |risk AS (
        |  SELECT e.t_obs AS t, MAX(e.d) AS d, SUM(c.ending) AS n
        |  FROM (SELECT t_obs, d FROM tc WHERE d > 0) e
        |  JOIN tc c ON c.t_obs >= e.t_obs
        |  GROUP BY e.t_obs)
        |SELECT CAST(t AS BIGINT) AS tenure_days, CAST(n AS BIGINT) AS n_risk,
        |  CAST(d AS BIGINT) AS d_events,
        |  CAST(SUM((1000000 * d) // n)
        |    OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumhaz_e6
        |FROM risk ORDER BY tenure_days""".stripMargin,
    // lag-7 vs lag-1 absolute-error sums over the same eval window
    "seasonal_naive_eval" ->
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day,
        |    CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS rev
        |  FROM events GROUP BY 1),
        |idx AS (SELECT rev, ROW_NUMBER() OVER (ORDER BY day) AS t FROM daily)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_eval,
        |  CAST(SUM(ABS(c.rev - s.rev)) AS BIGINT) AS sae_seasonal_e2,
        |  CAST(SUM(ABS(c.rev - p.rev)) AS BIGINT) AS sae_naive_e2,
        |  CAST((SUM(ABS(c.rev - s.rev)) * 1000000) // SUM(ABS(c.rev - p.rev))
        |    AS BIGINT) AS rmae_e6
        |FROM idx c
        |JOIN idx s ON s.t = c.t - 7
        |JOIN idx p ON p.t = c.t - 1
        |WHERE c.t >= 8""".stripMargin,
    // chi2 = exact integer sum of the e6-floored cell contributions;
    // effect sizes are the identical double chains over it
    "contingency_effects" ->
      """WITH base AS (
        |  SELECT event_type, CASE WHEN value > 250 THEN 1 ELSE 0 END AS hi
        |  FROM events),
        |cells AS (
        |  SELECT event_type, hi, CAST(COUNT(*) AS BIGINT) AS o
        |  FROM base GROUP BY 1, 2),
        |rr AS (SELECT event_type, CAST(SUM(o) AS BIGINT) AS r FROM cells GROUP BY 1),
        |cc AS (SELECT hi, CAST(SUM(o) AS BIGINT) AS c FROM cells GROUP BY 1),
        |nn AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM cells),
        |dense AS (
        |  SELECT rr.event_type, rr.r, cc.hi, cc.c, COALESCE(cells.o, 0) AS o
        |  FROM rr CROSS JOIN cc
        |  LEFT JOIN cells ON cells.event_type = rr.event_type
        |    AND cells.hi = cc.hi),
        |m AS (
        |  SELECT MAX(nn.n) AS n,
        |    CAST(COUNT(DISTINCT dense.event_type) AS BIGINT) AS n_rows,
        |    CAST(COUNT(DISTINCT dense.hi) AS BIGINT) AS n_cols,
        |    CAST(SUM(((CAST(nn.n AS HUGEINT) * o - CAST(r AS HUGEINT) * c)
        |       * (CAST(nn.n AS HUGEINT) * o - CAST(r AS HUGEINT) * c)
        |       * 1000000)
        |      // (CAST(nn.n AS HUGEINT) * r * c)) AS BIGINT) AS chi2_e6
        |  FROM dense, nn)
        |SELECT n, n_rows, n_cols, chi2_e6,
        |  (n_rows - 1) * (n_cols - 1) AS dof,
        |  CAST(round(sqrt((CAST(chi2_e6 AS DOUBLE) / 1000000.0
        |      / CAST(n AS DOUBLE))) * 1000000) AS BIGINT) AS phi_e6,
        |  CAST(round(sqrt((CAST(chi2_e6 AS DOUBLE) / 1000000.0
        |      / CAST(n AS DOUBLE))
        |    / CAST(least(n_rows - 1, n_cols - 1) AS DOUBLE)) * 1000000)
        |    AS BIGINT) AS cramers_v_e6,
        |  CAST(round(sqrt((CAST(chi2_e6 AS DOUBLE) / 1000000.0
        |      / CAST(n AS DOUBLE))
        |    / sqrt(CAST((n_rows - 1) * (n_cols - 1) AS DOUBLE))) * 1000000)
        |    AS BIGINT) AS tschuprow_e6
        |FROM m""".stripMargin,
    // pairwise slopes by rank step, exact middle order statistics;
    // integer // truncates toward zero like Spark div on negatives
    "theil_sen" ->
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day,
        |    CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS rev
        |  FROM events GROUP BY 1),
        |idx AS (SELECT rev, ROW_NUMBER() OVER (ORDER BY day) AS t FROM daily),
        |p AS (
        |  SELECT ((b.rev - a.rev) * 1000000) // (b.t - a.t) AS s
        |  FROM idx a JOIN idx b ON b.t > a.t),
        |o AS (SELECT s, ROW_NUMBER() OVER (ORDER BY s) AS r,
        |  COUNT(*) OVER () AS n FROM p)
        |SELECT CAST(MAX(n) AS BIGINT) AS n_pairs,
        |  CAST(MAX(CASE WHEN r = (n + 1) // 2 THEN s END) AS BIGINT)
        |    AS slope_lo_e6,
        |  CAST(MAX(CASE WHEN r = n // 2 + 1 THEN s END) AS BIGINT)
        |    AS slope_hi_e6
        |FROM o""".stripMargin,
    // exact pair counts; tau-a = (C-D)/n_pairs floored toward zero
    "kendall_tau" ->
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day,
        |    CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS rev
        |  FROM events GROUP BY 1),
        |idx AS (SELECT rev, ROW_NUMBER() OVER (ORDER BY day) AS t FROM daily),
        |p AS (
        |  SELECT CAST(sign(b.rev - a.rev) AS BIGINT) AS sg
        |  FROM idx a JOIN idx b ON b.t > a.t),
        |c AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |    CAST(SUM(CASE WHEN sg > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS concordant,
        |    CAST(SUM(CASE WHEN sg < 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS discordant,
        |    CAST(SUM(CASE WHEN sg = 0 THEN 1 ELSE 0 END) AS BIGINT) AS y_ties
        |  FROM p)
        |SELECT n_pairs, concordant, discordant, y_ties,
        |  concordant - discordant AS s_stat,
        |  CAST(((concordant - discordant) * 1000000) // n_pairs AS BIGINT)
        |    AS tau_a_e6
        |FROM c""".stripMargin,
    // banded midranks carried x2 (integral); tie-corrected z mirrors the
    // Spark chain op-for-op over the same exact integers
    "mann_whitney" ->
      """WITH h AS (
        |  SELECT CAST(floor(value) AS BIGINT) AS band,
        |    CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS na,
        |    CAST(SUM(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS nb
        |  FROM events GROUP BY 1),
        |c AS (
        |  SELECT band, na, nb,
        |    COALESCE(SUM(na + nb) OVER (ORDER BY band
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
        |  FROM h),
        |m AS (
        |  SELECT CAST(SUM(na) AS BIGINT) AS n_a, CAST(SUM(nb) AS BIGINT) AS n_b,
        |    CAST(SUM(na * (2 * cum + na + nb + 1)) AS BIGINT) AS r2a,
        |    CAST(SUM(nb * (2 * cum + na + nb + 1)) AS BIGINT) AS r2b,
        |    CAST(SUM((na + nb) * (na + nb) * (na + nb) - (na + nb)) AS BIGINT)
        |      AS tie_cubes
        |  FROM c)
        |SELECT n_a, n_b,
        |  r2a - n_a * (n_a + 1) AS u2_a,
        |  r2b - n_b * (n_b + 1) AS u2_b,
        |  tie_cubes,
        |  CAST(round(
        |    (CAST(r2a - n_a * (n_a + 1) AS DOUBLE) / 2.0
        |     - CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 2.0)
        |    / sqrt(
        |        CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12.0
        |        * (CAST(n_a + n_b + 1 AS DOUBLE)
        |           - CAST(tie_cubes AS DOUBLE)
        |             / (CAST(n_a + n_b AS DOUBLE)
        |                * CAST(n_a + n_b - 1 AS DOUBLE))))
        |    * 1000000) AS BIGINT) AS z_e6
        |FROM m""".stripMargin,
    // two-cell GOF collapses to (n0-n1)^2/n; 3841459 = floor(1e6*chi2_1,0.05)
    "srm_check" ->
      """WITH u AS (
        |  SELECT user_id % 2 AS g FROM events GROUP BY user_id, user_id % 2),
        |c AS (
        |  SELECT CAST(SUM(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
        |    CAST(SUM(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1
        |  FROM u)
        |SELECT n0, n1,
        |  CAST(((n0 - n1) * (n0 - n1) * 1000000) // (n0 + n1) AS BIGINT)
        |    AS chi2_e6,
        |  CAST(CASE WHEN ((n0 - n1) * (n0 - n1) * 1000000) // (n0 + n1)
        |    >= 3841459 THEN 1 ELSE 0 END AS BIGINT) AS srm_flag
        |FROM c""".stripMargin,
    // 2x2 cell means at e6 (positive, floor); DiD is integer arithmetic
    "diff_in_diff" ->
      """WITH c AS (
        |  SELECT user_id % 2 AS g,
        |    CASE WHEN day(ts) > 15 THEN 1 ELSE 0 END AS p,
        |    CAST(round(value * 100) AS BIGINT) AS v
        |  FROM events),
        |m AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN g = 0 AND p = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n00,
        |    CAST(SUM(CASE WHEN g = 0 AND p = 0 THEN v ELSE 0 END) AS BIGINT) AS s00,
        |    CAST(SUM(CASE WHEN g = 0 AND p = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n01,
        |    CAST(SUM(CASE WHEN g = 0 AND p = 1 THEN v ELSE 0 END) AS BIGINT) AS s01,
        |    CAST(SUM(CASE WHEN g = 1 AND p = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n10,
        |    CAST(SUM(CASE WHEN g = 1 AND p = 0 THEN v ELSE 0 END) AS BIGINT) AS s10,
        |    CAST(SUM(CASE WHEN g = 1 AND p = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n11,
        |    CAST(SUM(CASE WHEN g = 1 AND p = 1 THEN v ELSE 0 END) AS BIGINT) AS s11
        |  FROM c)
        |SELECT
        |  (s00 * 10000) // n00 AS ctrl_pre_e6,
        |  (s01 * 10000) // n01 AS ctrl_post_e6,
        |  (s10 * 10000) // n10 AS treat_pre_e6,
        |  (s11 * 10000) // n11 AS treat_post_e6,
        |  ((s11 * 10000) // n11 - (s10 * 10000) // n10)
        |    - ((s01 * 10000) // n01 - (s00 * 10000) // n00) AS did_e6
        |FROM m""".stripMargin,
    // four integer cells from one per-user rollup; z is the mirrored
    // fixed-order double chain; 1959964 = floor(1e6 * z_{0.975})
    "ab_experiment" ->
      """WITH u AS (
        |  SELECT user_id,
        |    MAX(CASE WHEN event_type = 'purchase' AND value > 250
        |        THEN 1 ELSE 0 END) AS conv
        |  FROM events GROUP BY user_id),
        |cells AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
        |    CAST(SUM(CASE WHEN user_id % 2 = 0 THEN conv ELSE 0 END) AS BIGINT) AS c0,
        |    CAST(SUM(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(SUM(CASE WHEN user_id % 2 = 1 THEN conv ELSE 0 END) AS BIGINT) AS c1
        |  FROM u)
        |SELECT n0, c0, n1, c1,
        |  (c0 * 1000000) // n0 AS rate0_e6,
        |  (c1 * 1000000) // n1 AS rate1_e6,
        |  CASE WHEN c0 + c1 > 0 AND c0 + c1 < n0 + n1 THEN
        |    CAST(round(
        |      (CAST(c0 AS DOUBLE) / CAST(n0 AS DOUBLE)
        |       - CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE))
        |      / sqrt(
        |          (CAST(c0 + c1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE))
        |          * (1.0 - CAST(c0 + c1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE))
        |          * (1.0 / CAST(n0 AS DOUBLE) + 1.0 / CAST(n1 AS DOUBLE)))
        |      * 1000000) AS BIGINT)
        |  ELSE NULL END AS z_e6,
        |  CASE WHEN c0 + c1 > 0 AND c0 + c1 < n0 + n1 THEN
        |    CAST(abs(CAST(round(
        |      (CAST(c0 AS DOUBLE) / CAST(n0 AS DOUBLE)
        |       - CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE))
        |      / sqrt(
        |          (CAST(c0 + c1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE))
        |          * (1.0 - CAST(c0 + c1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE))
        |          * (1.0 / CAST(n0 AS DOUBLE) + 1.0 / CAST(n1 AS DOUBLE)))
        |      * 1000000) AS BIGINT)) >= 1959964 AS BIGINT)
        |  ELSE 0 END AS significant
        |FROM cells""".stripMargin,
    // exact HUGEINT moments from one per-user rollup; θ / adjusted diff /
    // 1−ρ² are the mirrored double chains (HUGEINT→DOUBLE rounds to
    // nearest on both engines)
    "cuped_experiment" ->
      """WITH u AS (
        |  SELECT user_id,
        |    CAST(SUM(CASE WHEN event_type = 'purchase' AND day(ts) <= 15
        |      THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS x,
        |    CAST(SUM(CASE WHEN event_type = 'purchase' AND day(ts) > 15
        |      THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS y
        |  FROM events GROUP BY user_id),
        |m AS (
        |  SELECT
        |    CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
        |    CAST(SUM(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
        |    SUM(CAST(x AS HUGEINT) * y) AS sxy,
        |    SUM(CAST(x AS HUGEINT) * x) AS sxx,
        |    SUM(CAST(y AS HUGEINT) * y) AS syy,
        |    SUM(CASE WHEN user_id % 2 = 0 THEN CAST(x AS HUGEINT) ELSE 0 END) AS sx0,
        |    SUM(CASE WHEN user_id % 2 = 1 THEN CAST(x AS HUGEINT) ELSE 0 END) AS sx1,
        |    SUM(CASE WHEN user_id % 2 = 0 THEN CAST(y AS HUGEINT) ELSE 0 END) AS sy0,
        |    SUM(CASE WHEN user_id % 2 = 1 THEN CAST(y AS HUGEINT) ELSE 0 END) AS sy1
        |  FROM u)
        |SELECT n, n0, n1,
        |  CAST(round(
        |    (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |     - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |    / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |    * 1000000) AS BIGINT) AS theta_e6,
        |  CAST(round(
        |    (CAST(sy0 AS DOUBLE) / CAST(n0 AS DOUBLE)
        |     - CAST(sy1 AS DOUBLE) / CAST(n1 AS DOUBLE)) * 10000) AS BIGINT)
        |    AS diff_e4,
        |  CAST(round(
        |    ((CAST(sy0 AS DOUBLE) / CAST(n0 AS DOUBLE)
        |      - CAST(sy1 AS DOUBLE) / CAST(n1 AS DOUBLE))
        |     - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |         - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |        / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
        |       * (CAST(sx0 AS DOUBLE) / CAST(n0 AS DOUBLE)
        |          - CAST(sx1 AS DOUBLE) / CAST(n1 AS DOUBLE))) * 10000)
        |    AS BIGINT) AS adj_diff_e4,
        |  CAST(round(
        |    (1.0
        |     - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |         - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |        * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |           - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)))
        |       / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |          * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
        |             - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))))
        |    * 1000000) AS BIGINT) AS var_red_e6
        |FROM m""".stripMargin,
    // the same calendar-bounded risk table + e6-floored KM recursion;
    // integer // on positives == Spark div
    "survival_km" ->
      """WITH RECURSIVE
        |subj AS (
        |  SELECT user_id,
        |    MIN(CASE WHEN event_type = 'signup' THEN CAST(ts AS DATE) END) AS s0
        |  FROM events GROUP BY user_id),
        |conv AS (
        |  SELECT e.user_id, MIN(CAST(e.ts AS DATE)) AS p0
        |  FROM events e JOIN subj s ON e.user_id = s.user_id
        |  WHERE e.event_type = 'purchase' AND e.value > 250
        |    AND CAST(e.ts AS DATE) >= s.s0
        |  GROUP BY e.user_id),
        |hz AS (SELECT MAX(CAST(ts AS DATE)) AS hmax FROM events),
        |life AS (
        |  SELECT s.user_id,
        |    CASE WHEN c.p0 IS NOT NULL THEN date_diff('day', s.s0, c.p0)
        |         ELSE date_diff('day', s.s0, (SELECT hmax FROM hz)) END AS t_obs,
        |    CASE WHEN c.p0 IS NOT NULL THEN CAST(1 AS BIGINT)
        |         ELSE CAST(0 AS BIGINT) END AS ev
        |  FROM subj s LEFT JOIN conv c ON s.user_id = c.user_id
        |  WHERE s.s0 IS NOT NULL),
        |tc AS (
        |  SELECT t_obs, COUNT(*) AS ending, SUM(ev) AS d
        |  FROM life GROUP BY t_obs),
        |risk AS (
        |  SELECT e.t_obs AS t, MAX(e.d) AS d, SUM(c.ending) AS n
        |  FROM (SELECT t_obs, d FROM tc WHERE d > 0) e
        |  JOIN tc c ON c.t_obs >= e.t_obs
        |  GROUP BY e.t_obs),
        |idx AS (
        |  SELECT r.t, MAX(r.d) AS d, MAX(r.n) AS n, COUNT(*) AS i
        |  FROM risk r JOIN risk r2 ON r2.t <= r.t
        |  GROUP BY r.t),
        |km AS (
        |  SELECT i, t, d, n, (1000000 * (n - d)) // n AS s
        |  FROM idx WHERE i = 1
        |  UNION ALL
        |  SELECT x.i, x.t, x.d, x.n, (k.s * (x.n - x.d)) // x.n
        |  FROM km k JOIN idx x ON x.i = k.i + 1)
        |SELECT CAST(t AS BIGINT) AS tenure_days, CAST(n AS BIGINT) AS n_risk,
        |  CAST(d AS BIGINT) AS d_events,
        |  CAST((1000000 * d) // n AS BIGINT) AS hazard_e6,
        |  CAST(s AS BIGINT) AS survival_e6
        |FROM km ORDER BY tenure_days""".stripMargin,
    "conformal_forecast" -> conformalSql(
      """daily AS (
        |  SELECT CAST(ts AS DATE) AS day,
        |    CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS rev
        |  FROM events GROUP BY 1),
        |idx AS (
        |  SELECT date_diff('day', (SELECT MIN(day) FROM daily), day) + 1 AS i,
        |    rev
        |  FROM daily)""".stripMargin, "//"),
    "mutual_info" -> miSql(
      """SELECT event_type AS x,
        |    CAST(floor(CAST(value AS DOUBLE) / 50) * 50 AS BIGINT) AS y,
        |    CAST(COUNT(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2""".stripMargin, "//"),
    "psi_drift" -> psiSql(
      """SELECT CAST(floor(CAST(value AS DOUBLE) / 50) * 50 AS BIGINT) AS bucket,
        |    CAST(SUM(CASE WHEN day(ts) <= 14 THEN 1 ELSE 0 END) AS BIGINT) AS a,
        |    CAST(SUM(CASE WHEN day(ts) > 14 THEN 1 ELSE 0 END) AS BIGINT) AS b
        |  FROM events GROUP BY 1""".stripMargin, "//"),
    // exact variational-distance rationals per QI group; absent-nation
    // mass via the closed form, never a dense group×nation cross
    "t_closeness" ->
      """WITH g AS (SELECT c_nationkey, COUNT(*) AS c_n FROM customer GROUP BY 1),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM customer),
        |fine AS (
        |  SELECT c_mktsegment || '#' || CAST(
        |    (CAST(round(c_acctbal * 100) AS BIGINT) + 100000) // 10000
        |    AS VARCHAR) AS qi, c_nationkey FROM customer),
        |coarse AS (
        |  SELECT CAST(
        |    (CAST(round(c_acctbal * 100) AS BIGINT) + 100000) // 100000
        |    AS VARCHAR) AS qi, c_nationkey FROM customer),
        |fc AS (SELECT qi, c_nationkey, COUNT(*) AS c_gn FROM fine GROUP BY 1, 2),
        |cc AS (SELECT qi, c_nationkey, COUNT(*) AS c_gn FROM coarse GROUP BY 1, 2),
        |fs AS (SELECT qi, SUM(c_gn) AS n_g FROM fc GROUP BY 1),
        |cs AS (SELECT qi, SUM(c_gn) AS n_g FROM cc GROUP BY 1),
        |ft AS (
        |  SELECT fc.qi, MAX(n_g) AS n_g,
        |    SUM(abs(CAST(c_gn AS HUGEINT) * n - CAST(c_n AS HUGEINT) * n_g)) AS pn,
        |    SUM(c_n) AS pc
        |  FROM fc JOIN g USING (c_nationkey) JOIN fs USING (qi), tot
        |  GROUP BY fc.qi),
        |ct AS (
        |  SELECT cc.qi, MAX(n_g) AS n_g,
        |    SUM(abs(CAST(c_gn AS HUGEINT) * n - CAST(c_n AS HUGEINT) * n_g)) AS pn,
        |    SUM(c_n) AS pc
        |  FROM cc JOIN g USING (c_nationkey) JOIN cs USING (qi), tot
        |  GROUP BY cc.qi),
        |fx AS (
        |  SELECT n_g, ((pn + CAST(n - pc AS HUGEINT) * n_g) * 1000000)
        |    // (2 * CAST(n_g AS HUGEINT) * n) AS t_e6
        |  FROM ft, tot),
        |cx AS (
        |  SELECT n_g, ((pn + CAST(n - pc AS HUGEINT) * n_g) * 1000000)
        |    // (2 * CAST(n_g AS HUGEINT) * n) AS t_e6
        |  FROM ct, tot),
        |a AS (
        |  SELECT 'fine' AS level, CAST(COUNT(*) AS BIGINT) AS n_groups,
        |    CAST(MAX(t_e6) AS BIGINT) AS max_t_e6,
        |    CAST(MIN(t_e6) AS BIGINT) AS min_t_e6,
        |    CAST(SUM(CASE WHEN t_e6 > 500000 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_groups_above,
        |    CAST(SUM(CASE WHEN t_e6 > 500000 THEN n_g ELSE 0 END) AS BIGINT)
        |      AS n_rows_at_risk
        |  FROM fx
        |  UNION ALL
        |  SELECT 'coarse', CAST(COUNT(*) AS BIGINT),
        |    CAST(MAX(t_e6) AS BIGINT), CAST(MIN(t_e6) AS BIGINT),
        |    CAST(SUM(CASE WHEN t_e6 > 500000 THEN 1 ELSE 0 END) AS BIGINT),
        |    CAST(SUM(CASE WHEN t_e6 > 500000 THEN n_g ELSE 0 END) AS BIGINT)
        |  FROM cx)
        |SELECT * FROM a ORDER BY level""".stripMargin,
    // exact confusion counts; the kappa chain replayed operand-for-operand
    "cohens_kappa" ->
      """WITH r AS (
        |  SELECT CAST(round(value * 100) AS BIGINT) >= 25000 AS a,
        |    CAST(round(value * 100) AS BIGINT)
        |      + 1000 * (user_id % 5) >= 25000 AS b
        |  FROM events),
        |c AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS a_hi,
        |    CAST(SUM(CASE WHEN b THEN 1 ELSE 0 END) AS BIGINT) AS b_hi,
        |    CAST(SUM(CASE WHEN a = b THEN 1 ELSE 0 END) AS BIGINT) AS agree
        |  FROM r)
        |SELECT n, a_hi, b_hi, agree,
        |  CASE WHEN
        |    1.0 - (CAST(a_hi AS DOUBLE) * CAST(b_hi AS DOUBLE)
        |           + CAST(n - a_hi AS DOUBLE) * CAST(n - b_hi AS DOUBLE))
        |          / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) <> 0.0
        |  THEN CAST(round(
        |    (CAST(agree AS DOUBLE) / CAST(n AS DOUBLE)
        |     - (CAST(a_hi AS DOUBLE) * CAST(b_hi AS DOUBLE)
        |        + CAST(n - a_hi AS DOUBLE) * CAST(n - b_hi AS DOUBLE))
        |       / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
        |    / (1.0 - (CAST(a_hi AS DOUBLE) * CAST(b_hi AS DOUBLE)
        |              + CAST(n - a_hi AS DOUBLE) * CAST(n - b_hi AS DOUBLE))
        |             / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
        |    * 1000000) AS BIGINT) END AS kappa_e6
        |FROM c""".stripMargin,
    // doubled integer ranks (2·below + eq + 1), HUGEINT quotients per
    // group, the H chain replayed in the same operand order
    "kruskal_wallis" ->
      """WITH ev AS (
        |  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS v
        |  FROM events),
        |byval AS (SELECT v, COUNT(*) AS cnt FROM ev GROUP BY v),
        |ranked AS (
        |  SELECT v,
        |    2 * COALESCE(SUM(cnt) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      + cnt + 1 AS r2,
        |    cnt
        |  FROM byval),
        |grp AS (
        |  SELECT event_type, COUNT(*) AS n_c,
        |    SUM(CAST(r2 AS HUGEINT)) AS rs2
        |  FROM ev JOIN ranked USING (v) GROUP BY 1),
        |ties AS (
        |  SELECT SUM(CAST(cnt AS HUGEINT) * cnt * cnt - cnt) AS ts
        |  FROM ranked),
        |top AS (
        |  SELECT SUM(n_c) AS n, COUNT(*) AS n_groups,
        |    SUM((rs2 * rs2) // n_c) AS t
        |  FROM grp)
        |SELECT CAST(n AS BIGINT) AS n, CAST(n_groups AS BIGINT) AS n_groups,
        |  CAST(round(
        |    (3.0 * CAST(t AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n + 1 AS DOUBLE))
        |     - 3.0 * CAST(n + 1 AS DOUBLE)) * 1000000) AS BIGINT) AS h_e6,
        |  CAST(round(
        |    (3.0 * CAST(t AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n + 1 AS DOUBLE))
        |     - 3.0 * CAST(n + 1 AS DOUBLE))
        |    / (1.0 - CAST(ts AS DOUBLE)
        |       / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
        |          - CAST(n AS DOUBLE)))
        |    * 1000000) AS BIGINT) AS h_tie_e6
        |FROM top, ties""".stripMargin,
    // same QI bands as k_anonymity; sensitive attribute = nation
    "l_diversity" ->
      """WITH fine AS (
        |  SELECT c_mktsegment,
        |    (CAST(round(c_acctbal * 100) AS BIGINT) + 100000) // 10000 AS band,
        |    COUNT(*) AS n, COUNT(DISTINCT c_nationkey) AS l
        |  FROM customer GROUP BY 1, 2),
        |coarse AS (
        |  SELECT (CAST(round(c_acctbal * 100) AS BIGINT) + 100000) // 100000 AS band,
        |    COUNT(*) AS n, COUNT(DISTINCT c_nationkey) AS l
        |  FROM customer GROUP BY 1),
        |a AS (
        |  SELECT 'fine' AS level, CAST(COUNT(*) AS BIGINT) AS n_groups,
        |    CAST(MIN(l) AS BIGINT) AS min_l,
        |    CAST(SUM(CASE WHEN l < 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_groups_below3,
        |    CAST(SUM(CASE WHEN l < 3 THEN n ELSE 0 END) AS BIGINT) AS n_rows_at_risk
        |  FROM fine
        |  UNION ALL
        |  SELECT 'coarse', CAST(COUNT(*) AS BIGINT), CAST(MIN(l) AS BIGINT),
        |    CAST(SUM(CASE WHEN l < 3 THEN 1 ELSE 0 END) AS BIGINT),
        |    CAST(SUM(CASE WHEN l < 3 THEN n ELSE 0 END) AS BIGINT)
        |  FROM coarse)
        |SELECT * FROM a ORDER BY level""".stripMargin,
    // shifted-positive div floors identically on negative balances
    "k_anonymity" ->
      """WITH fine AS (
        |  SELECT c_nationkey, c_mktsegment,
        |    (CAST(round(c_acctbal * 100) AS BIGINT) + 100000) // 10000 AS band,
        |    COUNT(*) AS n
        |  FROM customer GROUP BY 1, 2, 3),
        |coarse AS (
        |  SELECT c_mktsegment,
        |    (CAST(round(c_acctbal * 100) AS BIGINT) + 100000) // 100000 AS band,
        |    COUNT(*) AS n
        |  FROM customer GROUP BY 1, 2),
        |a AS (
        |  SELECT 'fine' AS level, CAST(COUNT(*) AS BIGINT) AS n_groups,
        |    CAST(MIN(n) AS BIGINT) AS min_k,
        |    CAST(SUM(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_groups_below5,
        |    CAST(SUM(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT) AS n_rows_at_risk
        |  FROM fine
        |  UNION ALL
        |  SELECT 'coarse', CAST(COUNT(*) AS BIGINT), CAST(MIN(n) AS BIGINT),
        |    CAST(SUM(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT),
        |    CAST(SUM(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT)
        |  FROM coarse)
        |SELECT * FROM a ORDER BY level""".stripMargin,
    // SAME body as the Spark side (adaboostSql) — only the histogram
    // source differs; ln quantized once per alpha
    "adaboost_stumps" -> adaboostSql(
      """SELECT CAST(floor(CAST(value AS DOUBLE) / 10) * 10 AS BIGINT) AS bucket,
        |    CASE WHEN event_type = 'purchase' THEN CAST(1 AS BIGINT)
        |      ELSE CAST(-1 AS BIGINT) END AS yy,
        |    CAST(COUNT(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2""".stripMargin),
    // one (segment, action) rollup; both estimators exact integer
    // rationals floored at e6 on positive operands
    "ips_policy_eval" ->
      """WITH cells AS (
        |  SELECT user_id % 3 AS segment, event_type AS action,
        |    CAST(COUNT(*) AS BIGINT) AS c,
        |    CAST(SUM(CASE WHEN value > 250 THEN 1 ELSE 0 END) AS BIGINT) AS sum_r
        |  FROM events GROUP BY 1, 2),
        |seg AS (SELECT segment, CAST(SUM(c) AS BIGINT) AS n_x FROM cells GROUP BY 1),
        |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM cells),
        |m AS (
        |  SELECT c.segment,
        |    CASE WHEN c.segment = 0 THEN 'purchase'
        |      WHEN c.segment = 1 THEN 'view' ELSE 'click' END AS target_action,
        |    c.action, c.c, c.sum_r, s.n_x
        |  FROM cells c JOIN seg s ON s.segment = c.segment)
        |SELECT segment, target_action, n_x, c AS matched,
        |  (c * 1000000) // n_x AS propensity_e6,
        |  (sum_r * 1000000) // c AS direct_mean_e6,
        |  (sum_r * n_x * 1000000) // (c * (SELECT n FROM tot)) AS ips_contrib_e6
        |FROM m WHERE action = target_action ORDER BY segment""".stripMargin,
    // the same seven-wide-column recursion text, DuckDB dialect prefix
    "holt_winters" -> (
      "WITH RECURSIVE daily AS (\n" +
      "  SELECT CAST(ts AS DATE) AS day,\n" +
      "    CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS rev\n" +
      "  FROM events GROUP BY 1),\n" +
      "idx AS (\n" +
      "  SELECT day, rev, ROW_NUMBER() OVER (ORDER BY day) AS t,\n" +
      "    CAST((day - DATE '1970-01-01') % 7 AS BIGINT) AS dow\n" +
      "  FROM daily)\n" +
      holtWintersSql("idx", "//").replaceFirst("^WITH RECURSIVE", ",")),
    // the same coupled floor recursion; integer // truncation matches
    // Spark div on the negative trend values too (probed)
    "holt_linear" ->
      """WITH RECURSIVE
        |daily AS (
        |  SELECT CAST(ts AS DATE) AS day,
        |    CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS rev
        |  FROM events GROUP BY 1),
        |idx AS (
        |  SELECT day, rev, ROW_NUMBER() OVER (ORDER BY day) AS t
        |  FROM daily),
        |holt AS (
        |  SELECT t, day, rev, rev AS lvl, CAST(0 AS BIGINT) AS trd
        |  FROM idx WHERE t = 1
        |  UNION ALL
        |  SELECT i.t, i.day, i.rev,
        |    (i.rev + h.lvl + h.trd) // 2,
        |    (h.trd + ((i.rev + h.lvl + h.trd) // 2 - h.lvl)) // 2
        |  FROM holt h JOIN idx i ON i.t = h.t + 1)
        |SELECT day, CAST(rev AS BIGINT) AS rev_e2,
        |  CAST(lvl AS BIGINT) AS level_e2, CAST(trd AS BIGINT) AS trend_e2,
        |  CAST(lvl + trd AS BIGINT) AS forecast_e2
        |FROM holt ORDER BY day""".stripMargin,
    // exact rational scores; argmax via HUGEINT cross-multiplication
    "gini_split" ->
      """WITH h AS (
        |  SELECT CAST(floor(value / 10) * 10 AS BIGINT) AS bucket,
        |    COUNT(*) AS n,
        |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS p
        |  FROM events GROUP BY 1),
        |tot AS (SELECT SUM(n) AS nt, SUM(p) AS pt FROM h),
        |cand AS (
        |  SELECT t.thr,
        |    CAST(SUM(h.n) AS BIGINT) AS n_left,
        |    CAST(SUM(h.p) AS BIGINT) AS pos_left,
        |    CAST((SELECT nt FROM tot) - SUM(h.n) AS BIGINT) AS n_right,
        |    CAST((SELECT pt FROM tot) - SUM(h.p) AS BIGINT) AS pos_right
        |  FROM (SELECT bucket AS thr FROM h) t
        |  JOIN h ON h.bucket < t.thr
        |  GROUP BY t.thr),
        |scored AS (
        |  SELECT thr, n_left, pos_left, n_right, pos_right,
        |    CAST((pos_left * pos_left
        |          + (n_left - pos_left) * (n_left - pos_left)) * n_right
        |       + (pos_right * pos_right
        |          + (n_right - pos_right) * (n_right - pos_right)) * n_left
        |      AS BIGINT) AS score_num,
        |    CAST(n_left * n_right AS BIGINT) AS score_den
        |  FROM cand)
        |SELECT c.thr, c.n_left, c.pos_left, c.n_right, c.pos_right,
        |  c.score_num, c.score_den,
        |  CASE WHEN NOT EXISTS (
        |    SELECT 1 FROM scored o
        |    WHERE CAST(o.score_num AS HUGEINT) * CAST(c.score_den AS HUGEINT)
        |        > CAST(c.score_num AS HUGEINT) * CAST(o.score_den AS HUGEINT)
        |      OR (CAST(o.score_num AS HUGEINT) * CAST(c.score_den AS HUGEINT)
        |          = CAST(c.score_num AS HUGEINT) * CAST(o.score_den AS HUGEINT)
        |          AND o.thr < c.thr))
        |  THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS is_best
        |FROM scored c ORDER BY c.thr""".stripMargin
  )
}
