"""Event/statistics analytics extension queries + DuckDB oracles.

Every ``q<n>_``/``x_`` function defined here is a registry key (the
``mapr_plugins_spark.discovery`` rule); ``oracles()`` maps keys to
their DuckDB SQL.
"""

from __future__ import annotations
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from mapr_plugins_spark.catalog import table as _t
from mapr_plugins_spark.functions.portable_hash import seeded_hash60_sql
from mapr_plugins_spark.operators.sampling import poisson_weight_sql
from mapr_plugins_spark.operators import text as X
from mapr_plugins_spark.operators.reg_common import _EN_STOP, _TOKS_SQL


def x_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit screen over order totals — exact integer
    digit extraction (cents → decimal string, no log10 float path),
    integer-rational observed shares vs the embedded literal expected
    table."""
    from mapr_plugins_spark.operators.analytics import benford_profile

    o = _t(spark, sf_dir, "orders").select("o_totalprice")
    return benford_profile(o, "o_totalprice")


def _benford_oracle() -> str:
    from mapr_plugins_spark.operators.analytics import BENFORD_MICRO

    exp = " UNION ALL ".join(
        f"SELECT {d} AS digit, CAST({p} AS BIGINT) AS p_benford_micro"
        for d, p in BENFORD_MICRO
    )
    return f"""
        WITH c AS (
            SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100)
                                         AS BIGINT)
                                    AS VARCHAR), 1, 1) AS INTEGER) AS digit
            FROM orders WHERE o_totalprice > 0
        ),
        k AS (SELECT digit, COUNT(*) AS n_obs FROM c GROUP BY digit),
        t AS (SELECT SUM(n_obs) AS N FROM k),
        e AS ({exp})
        SELECT k.digit, CAST(k.n_obs AS BIGINT) AS n_obs,
               CAST((k.n_obs * 1000000) // t.N AS BIGINT) AS p_obs_micro,
               e.p_benford_micro,
               CAST(abs((k.n_obs * 1000000) // t.N - e.p_benford_micro)
                    AS BIGINT) AS dev_micro
        FROM k CROSS JOIN t JOIN e USING (digit)
    """


def x_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order event-type Markov transition matrix over per-user
    journeys — counts + exact integer-rational conditional
    probabilities (micro-units, DIV not float). One lead window + one
    aggregate."""
    from mapr_plugins_spark.operators.analytics import markov_transitions

    ev = _t(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type")
    return markov_transitions(ev, "user_id", ["ts", "event_id"], "event_type")


def x_churn_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based churn labels (7-day horizon) per event with honest
    right-censoring at the corpus edge — the supervised label a
    retention model trains on. Integer epoch-micro arithmetic."""
    from mapr_plugins_spark.operators.analytics import churn_labels

    ev = _t(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    return churn_labels(ev, "user_id", "ts", "event_id", horizon_days=7)


def x_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation weighted lower median of customer balances
    (deterministic integer weights 1 + custkey mod 5) — cumulative-
    weight integer test, no percentile interpolation convention."""
    from mapr_plugins_spark.operators.analytics import weighted_median

    c = _t(spark, sf_dir, "customer").select(
        "c_nationkey",
        "c_acctbal",
        (F.lit(1) + F.col("c_custkey") % 5).alias("w"),
    )
    return weighted_median(c, "c_nationkey", "c_acctbal", "w")


def x_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive Holt-Winters (level + trend + 4-slot season) per user
    over the event value series — α=1/2, β=1/4, γ=1/2 binary-exact;
    one JVM-side HOF fold; the recursive-CTE oracle replays the full
    state (including all four season slots) bit-for-bit."""
    from mapr_plugins_spark.operators.analytics import holt_winters_additive

    ev = _t(spark, sf_dir, "events").select("user_id", "ts", "event_id", "value")
    return holt_winters_additive(
        ev, "user_id", ["ts", "event_id"], "value", m=4, horizons=(1, 2)
    )


def _holt_winters_oracle(m: int = 4, horizons=(1, 2)) -> str:
    """Recursive-CTE replay of the additive Holt-Winters fold. The
    l_new expression is textually duplicated into the trend and season
    updates — the same duplicated IEEE op sequence the Spark fold
    evaluates (the HOLT_TREND precedent)."""
    scols = ", ".join(f"s{k}" for k in range(m))
    zeros = ", ".join(f"CAST(0.0 AS DOUBLE) AS s{k}" for k in range(m))
    sel_prev = (
        f"CASE (nx.rn - 1) % {m} "
        + " ".join(f"WHEN {k} THEN r.s{k}" for k in range(m - 1))
        + f" ELSE r.s{m - 1} END"
    )
    lnew = f"0.5 * (nx.value - {sel_prev}) + 0.5 * (r.l + r.b)"
    supd = ", ".join(
        f"CASE WHEN (nx.rn - 1) % {m} = {k} "
        f"THEN 0.5 * (nx.value - ({lnew})) + 0.5 * r.s{k} "
        f"ELSE r.s{k} END"
        for k in range(m)
    )
    fcs = []
    for h in horizons:
        sel_h = (
            f"CASE (n + {h - 1}) % {m} "
            + " ".join(f"WHEN {k} THEN s{k}" for k in range(m - 1))
            + f" ELSE s{m - 1} END"
        )
        fcs.append(f"l + {float(h)} * b + {sel_h} AS forecast_{h}")
    season_out = ", ".join(f"s{k} AS season_{k}" for k in range(m))
    return f"""
            WITH RECURSIVE s AS (
                SELECT user_id, value,
                       row_number() OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id) AS rn,
                       CAST(COUNT(*) OVER (PARTITION BY user_id) AS BIGINT) AS n
                FROM events
            ),
            r AS (
                SELECT user_id, rn, n, CAST(value AS DOUBLE) AS l,
                       CAST(0.0 AS DOUBLE) AS b, {zeros}
                FROM s WHERE rn = 1
                UNION ALL
                SELECT nx.user_id, nx.rn, nx.n,
                       {lnew},
                       0.25 * (({lnew}) - r.l) + 0.75 * r.b,
                       {supd}
                FROM r JOIN s nx
                  ON nx.user_id = r.user_id AND nx.rn = r.rn + 1
            )
            SELECT user_id, n AS n_obs, l AS level, b AS trend,
                   {season_out},
                   {", ".join(fcs)}
            FROM r WHERE rn = n
        """


def x_zscore_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user prefix z-score anomaly flags over the event value
    series — what an online monitor knows at each event's arrival
    time. Exact integer arithmetic (squared z-test over micro-units,
    DECIMAL(38,0)/HUGEINT); the streaming GroupState twin s22 shares
    ZSCORE_ORACLE_SQL verbatim."""
    from mapr_plugins_spark.operators.analytics import zscore_prefix_anomaly

    ev = _t(spark, sf_dir, "events").select("user_id", "ts", "event_id", "value")
    return zscore_prefix_anomaly(
        ev, "user_id", ["ts", "event_id"], "event_id", "value", z=3, min_n=5
    )


def x_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user EWMA of event values (alpha=0.25, ts then event_id
    order) — bucketed sequential fold (operators/analytics.py::ewma),
    recursive-CTE full-value oracle."""
    from mapr_plugins_spark.operators.analytics import ewma

    ev = _t(spark, sf_dir, "events").select("user_id", "ts", "event_id", "value")
    out = ewma(ev, "user_id", ["ts", "event_id"], "value", alpha=0.25)
    # no explicit rounding: the fold is bit-identical IEEE arithmetic in
    # both engines, and the harness rounds symmetrically; engine-side
    # round() differs at half-ulp boundaries (HALF_UP on binary doubles)
    return out.select("user_id", "event_id", "ewma")


def x_assoc_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules (a-priori at the pair level,
    Agrawal & Srikant 1994): directed rules over parts co-ordered in
    the same order, with exact-count support/confidence/lift. The
    item prune runs BEFORE the per-basket self-join (a-priori
    property), so the pair space never sees infrequent items."""
    from mapr_plugins_spark.operators.analytics import association_rules

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    return association_rules(li, "l_orderkey", "l_partkey", min_support=2)


def x_holt_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double exponential smoothing (level+trend) per user over
    the event value series (α=1/2, β=1/4 — binary-exact), with 1- and
    3-step forecasts. JVM-side HOF fold; recursive-CTE full-value
    oracle replays the state bit-for-bit (same duplicated-l_new IEEE
    op sequence on both engines)."""
    from mapr_plugins_spark.operators.analytics import holt_linear

    ev = _t(spark, sf_dir, "events").select("user_id", "ts", "event_id", "value")
    return holt_linear(ev, "user_id", ["ts", "event_id"], "value",
                       alpha=0.5, beta=0.25, horizons=(1, 3))


def x_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Poisson-bootstrap ~94% CI for the mean order price
    (Chamandy et al. 2012's Poisson bootstrap): 32 replicates, weights
    drawn by portable hash against integer Poisson(1) CDF thresholds —
    zero RNG state, O(R) memory, full-value oracle replays every
    replicate mean bit-for-bit."""
    from mapr_plugins_spark.operators.sampling import poisson_bootstrap_mean_ci

    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    return poisson_bootstrap_mean_ci(o, "o_orderkey", "o_totalprice")


def x_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-touch conversion attribution on the event log: each
    purchase claims the click/view touches since the user's previous
    purchase; first/last/linear credit in one pass of window algebra
    (all shuffles share the user-key partitioning)."""
    from mapr_plugins_spark.operators.analytics import conversion_attribution

    ev = _t(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type", "value"
    )
    return conversion_attribution(
        ev, "user_id", "ts", "event_id", "event_type",
        touch_types=("click", "view"), conversion_type="purchase",
        value_col="value",
    )


def x_dq_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality profile of ``orders`` in ONE pass (conditional
    aggregates, no per-column jobs): row count, per-column null counts,
    numeric min/max/mean, key cardinality. The guardrail stage every
    100 TB ingest runs before publishing a partition."""
    o = _t(spark, sf_dir, "orders")
    return o.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.when(F.col("o_custkey").isNull(), 1)).alias("null_custkey"),
        F.count(F.when(F.col("o_orderdate").isNull(), 1)).alias("null_orderdate"),
        F.count(F.when(F.col("o_totalprice").isNull(), 1)).alias("null_totalprice"),
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
        F.avg(F.col("o_totalprice").cast("decimal(18,6)")).cast("double").alias("mean_price"),
        F.countDistinct("o_orderkey").alias("n_keys"),
        (F.count(F.lit(1)) - F.countDistinct("o_orderkey")).alias("dup_keys"),
    )


def x_ref_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit via anti-joins: orphan counts for
    each FK edge of the star schema (orders→customer, lineitem→orders,
    lineitem→part). Anti-joins broadcast the PK side's keys when small;
    at 100 TB they plan as shuffled joins on the FK — either way ONE
    pass per edge, no collect."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    c = _t(spark, sf_dir, "customer").select(F.col("c_custkey").alias("o_custkey"))
    ok = o.select(F.col("o_orderkey").alias("l_orderkey"))
    p = _t(spark, sf_dir, "part").select(F.col("p_partkey").alias("l_partkey"))
    rows = [
        ("orders_to_customer", o.join(c, "o_custkey", "left_anti")),
        ("lineitem_to_orders", li.join(ok, "l_orderkey", "left_anti")),
        ("lineitem_to_part", li.join(p, "l_partkey", "left_anti")),
    ]
    out = None
    for name, df in rows:
        one = df.agg(F.count(F.lit(1)).alias("orphans")).select(
            F.lit(name).alias("edge"), "orphans"
        )
        out = one if out is None else out.unionByName(one)
    return out


def x_quality_lr_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-weight linear quality-classifier inference (the
    fastText-style shipped-model pattern): four exact micro-unit
    integer features, fixed integer weights, BIGINT score, integer
    keep cut — classifier inference as a zero-shuffle codegen scan
    with a bit-exact oracle."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return X.lr_quality_score(docs).select(
        "doc_id", "f_cap", "f_stop", "f_ttr", "f_wlen", "score_micro", "keep"
    )


def _lr_scored_labeled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LR quality scores + binary label (lang = 'en') — shared input of
    the two classifier-eval operators."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    return X.lr_quality_score(docs).select(
        "doc_id", "score_micro", (F.col("lang") == "en").alias("y")
    )


def x_classifier_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT ROC-AUC of the quality classifier against the lang='en'
    label — Mann-Whitney with average-rank ties in pure integer
    arithmetic over the per-score histogram (never raw rows)."""
    from mapr_plugins_spark.operators.analytics import auc_exact

    return auc_exact(_lr_scored_labeled(spark, sf_dir), "score_micro", "y")


def x_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability table of the quality classifier: 10 equal-frequency
    score bins (deterministic ntile order), per-bin positive rate as
    an integer rational — the calibration-curve data an eval pipeline
    persists."""
    from mapr_plugins_spark.operators.analytics import calibration_bins

    return calibration_bins(
        _lr_scored_labeled(spark, sf_dir), "score_micro", "y", "doc_id", n_bins=10
    )


#: shared scored+labeled CTE chain for the classifier-eval oracles —
#: the x_quality_lr_score formula verbatim, plus the lang label.
def _lr_scored_sql() -> str:
    return f"""t AS (SELECT doc_id, lang, {{toks}} AS toks FROM documents),
            f AS (
                SELECT doc_id, lang,
                       LEAST(len(toks), 100) * 10000 AS f_cap,
                       (len(list_filter(toks, x -> list_contains([{{stop}}], x)))
                        * 1000000) // GREATEST(len(toks), 1) AS f_stop,
                       (len(list_distinct(toks)) * 1000000)
                        // GREATEST(len(toks), 1) AS f_ttr,
                       LEAST((list_sum(list_transform(toks, x -> strlen(x)))
                              * 1000000) // GREATEST(len(toks), 1), 8000000)
                        // 8 AS f_wlen
                FROM t
            ),
            sc AS (
                SELECT doc_id,
                       CAST(3*f_cap + 2*f_stop + 3*f_ttr + 2*f_wlen AS BIGINT)
                           AS s,
                       (lang = 'en') AS y
                FROM f
            )""".replace("{toks}", _TOKS_SQL).replace("{stop}", _EN_STOP)


def x_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type robust outliers by Hampel's |x − median| > 3·MAD
    rule at exact lower-median order statistics (integer rank
    arithmetic — no percentile-interpolation convention)."""
    from mapr_plugins_spark.operators.analytics import mad_outliers

    return mad_outliers(_t(spark, sf_dir, "events"), "event_type", "value", "event_id")


def x_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit (k=10) over the (nation, market-segment)
    quasi-identifier of the customer table — the re-identification
    gate a data release runs; equivalence classes below k are
    flagged."""
    from mapr_plugins_spark.operators.analytics import k_anonymity

    return k_anonymity(
        _t(spark, sf_dir, "customer"), ["c_nationkey", "c_mktsegment"], k=10
    )


def _events_ntz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events with ts as UTC-wall TIMESTAMP_NTZ (the catalog contract —
    pass-through; kept as a named seam so tz handling stays one place)."""
    return _t(spark, sf_dir, "events")


def x_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense hourly grid per user with LOCF fill over the events table."""
    from mapr_plugins_spark.operators.analytics import gap_fill

    out = gap_fill(_events_ntz(spark, sf_dir), "user_id", "ts", "value")
    return out.select(
        "user_id",
        F.date_format("bucket", "yyyy-MM-dd HH:mm:ss").alias("bucket_ts"),
        "v_filled",
        "is_gap",
    )


def x_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered view→click→purchase funnel over events (per-user first
    qualifying timestamps; instant comparisons are tz-free)."""
    from mapr_plugins_spark.operators.analytics import funnel

    ev = _t(spark, sf_dir, "events")
    return funnel(
        ev,
        "user_id",
        "ts",
        [
            F.col("event_type") == "view",
            F.col("event_type") == "click",
            F.col("event_type") == "purchase",
        ],
    )


def x_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention matrix over events. cohort_week goes out
    as an ISO string (raw DATE columns can't hash-match under pandas
    materialization — DuckDB DATE becomes a midnight Timestamp)."""
    from mapr_plugins_spark.operators.analytics import cohort_retention

    out = cohort_retention(_events_ntz(spark, sf_dir), "user_id", "ts")
    return out.withColumn("cohort_week", F.date_format("cohort_week", "yyyy-MM-dd"))


def x_dq_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality contract on orders: not_null / unique /
    accepted_values / referential expectations, each compiled to one
    aggregate or anti-join, verdicts as data. (The injected
    accepted_values rule excludes status 'P' so a real violation count
    shows up at every sf.)"""
    from mapr_plugins_spark.operators.expectations import dq_expectations

    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    return dq_expectations(
        orders,
        not_null=("o_custkey", "o_orderdate"),
        unique=("o_orderkey",),
        accepted_values={"o_orderstatus": ("O", "F")},
        references={"o_custkey": (cust, "c_custkey")},
    )


def x_drift_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """χ² distribution-drift report between two event populations
    (click = reference wave, purchase = current wave) over equal-width
    value bins — the ingest-monitoring primitive that alerts when a new
    wave's distribution walks away from the corpus baseline. (On the
    synthetic data the two types share a generator, so the statistic
    sits near the null — the injected-shift test proves it responds.)"""
    from mapr_plugins_spark.operators.analytics import drift_chi2

    ev = _t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    return drift_chi2(ev, F.col("event_type") == "click", "value", n_bins=10, lo=0.0, hi=100.0)


def x_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between the click and purchase value
    populations (10 equal-width bins, add-one smoothing) — the
    industry scorecard drift number, with the single ln computed by
    the DSIR ln-micro recipe so the full table (shares, ln-ratios,
    terms, PSI) replays exactly."""
    from mapr_plugins_spark.operators.analytics import psi_drift

    ev = _t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    return psi_drift(ev, F.col("event_type") == "click", "value",
                     n_bins=10, lo=0.0, hi=500.0)


def _psi_oracle(n_bins: int = 10, lo: float = 0.0, hi: float = 500.0) -> str:
    from mapr_plugins_spark.functions.portable_hash import (
        portable_ln_micro_sql,
    )

    bw = (hi - lo) / n_bins
    return f"""
        WITH tagged AS (
            SELECT LEAST({n_bins - 1}, GREATEST(0,
                       CAST(floor((value - {lo}) / {bw}) AS INTEGER)))
                       AS bin,
                   CASE WHEN event_type = 'click' THEN 1 ELSE 0 END
                       AS is_ref
            FROM events WHERE event_type IN ('click', 'purchase')
        ),
        cells0 AS (
            SELECT bin, SUM(is_ref) AS rb, SUM(1 - is_ref) AS cb
            FROM tagged GROUP BY bin
        ),
        bins AS (SELECT unnest(range(0, {n_bins})) AS bin),
        cells AS (
            SELECT b.bin, COALESCE(c.rb, 0) AS rb, COALESCE(c.cb, 0) AS cb
            FROM bins b LEFT JOIN cells0 c USING (bin)
        ),
        tot AS (
            SELECT bin, rb, cb,
                   SUM(rb) OVER () AS R, SUM(cb) OVER () AS C
            FROM cells
        ),
        terms AS (
            SELECT CAST(bin AS INTEGER) AS bin,
                   CAST(rb AS BIGINT) AS rb, CAST(cb AS BIGINT) AS cb,
                   CAST(((rb + 1) * 1000000) // (R + {n_bins}) AS BIGINT)
                       AS p_micro,
                   CAST(((cb + 1) * 1000000) // (C + {n_bins}) AS BIGINT)
                       AS q_micro,
                   {portable_ln_micro_sql(
                       f"(CAST(rb + 1 AS DOUBLE) * CAST(C + {n_bins} AS DOUBLE))"
                       f" / (CAST(cb + 1 AS DOUBLE) * CAST(R + {n_bins} AS DOUBLE))")} AS ln_ratio_micro
            FROM tot
        ),
        with_t AS (
            SELECT *,
                   CAST(CASE WHEN (p_micro - q_micro) * ln_ratio_micro >= 0
                        THEN ((p_micro - q_micro) * ln_ratio_micro)
                             // 1000000
                        ELSE -((-((p_micro - q_micro) * ln_ratio_micro))
                             // 1000000) END AS BIGINT) AS term_micro
            FROM terms
        )
        SELECT *, CAST(SUM(term_micro) OVER () AS BIGINT) AS psi_micro
        FROM with_t
    """


def x_ab_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch t² between the click and purchase value populations in
    exact rational arithmetic (deci-quantized, split integer division,
    overflow-free significance cut) — the A/B-test primitive with
    zero run-to-run drift."""
    from mapr_plugins_spark.operators.analytics import welch_t2

    ev = _t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    return welch_t2(ev, F.col("event_type") == "click", "value", scale=10)


def _ab_ttest_oracle(scale: int = 10) -> str:
    d = "(CAST(s1a AS HUGEINT) * n_b - CAST(s1b AS HUGEINT) * n_a)"
    num = f"({d} * {d} * (n_a - 1) * (n_b - 1))"
    den = (
        "((CAST(n_a AS HUGEINT) * s2a - CAST(s1a AS HUGEINT) * s1a)"
        " * n_b * n_b * (n_b - 1)"
        " + (CAST(n_b AS HUGEINT) * s2b - CAST(s1b AS HUGEINT) * s1b)"
        " * n_a * n_a * (n_a - 1))"
    )
    q = f"({num} // {den})"
    return f"""
        WITH g AS (
            SELECT CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS ga,
                   CAST(floor(value * {float(scale)}) AS BIGINT) AS x
            FROM events WHERE event_type IN ('click', 'purchase')
        ),
        a AS (
            SELECT SUM(ga) AS n_a, SUM(1 - ga) AS n_b,
                   SUM(ga * x) AS s1a, SUM((1 - ga) * x) AS s1b,
                   SUM(CAST(ga AS HUGEINT) * x * x) AS s2a,
                   SUM(CAST(1 - ga AS HUGEINT) * x * x) AS s2b
            FROM g
        )
        SELECT CAST(n_a AS BIGINT) AS n_a,
               CAST(n_b AS BIGINT) AS n_b,
               CAST({q} * 1000000
                    + (({num} - {q} * {den}) * 1000000) // {den}
                    AS BIGINT) AS t2_micro,
               {num} > 4 * {den} AS significant
        FROM a
    """


def x_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binned two-sample KS drift statistic between the click and
    purchase value populations — the cumulative-shape monitor beside
    the χ² per-bin one; exact integer D over unit value buckets."""
    from mapr_plugins_spark.operators.analytics import ks_drift

    ev = _t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    return ks_drift(ev, F.col("event_type") == "click", "value", bucket_scale=1)


def x_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event_type winsorization of event values at the exact P1/P99
    order statistics (rank arithmetic, not percentile interpolation —
    engine-convention-free, bit-exact)."""
    from mapr_plugins_spark.operators.analytics import winsorize

    return winsorize(
        _t(spark, sf_dir, "events"), "event_type", "value", "event_id"
    )


#: token-budget oracle — shared verbatim by the streaming twin
#: (s16_stream_token_budget): the per-source running-total state fold
#: over doc_id-ordered waves finishes at exactly the batch cumsums.
#: Shared by the batch x_markov_transitions and the streaming s23
#: twin — one oracle constant, verbatim (the s16/s20/s21/s22 pattern).
#: Every transition count is commutative; the only stateful streaming
#: concern (batch-boundary pairs) changes WHICH batch emits a pair,
#: never the pair itself.
MARKOV_ORACLE_SQL = """
            WITH p AS (
                SELECT event_type AS from_state,
                       lead(event_type) OVER (PARTITION BY user_id
                                              ORDER BY ts, event_id)
                           AS to_state
                FROM events
            ),
            c AS (
                SELECT from_state, to_state, COUNT(*) AS n_pair
                FROM p WHERE to_state IS NOT NULL GROUP BY 1, 2
            ),
            t AS (
                SELECT from_state, SUM(n_pair) AS n_from
                FROM c GROUP BY 1
            )
            SELECT c.from_state, c.to_state,
                   CAST(n_pair AS BIGINT) AS n_pair,
                   CAST(n_from AS BIGINT) AS n_from,
                   CAST((n_pair * 1000000) // n_from AS BIGINT) AS p_micro
            FROM c JOIN t USING (from_state)
        """


#: Shared by the batch x_zscore_anomaly and the streaming s22 twin —
#: one oracle constant, verbatim (the s16/s20/s21 sharing pattern).
#: Pure integer arithmetic: the z-test is squared into
#: (n·x − S1)² > z²·(n·S2 − S1²) over BIGINT micro-units, HUGEINT
#: products — no float epsilon, no stddev convention.
ZSCORE_ORACLE_SQL = """
            SELECT user_id, event_id, x_micro, n_prev,
                   CASE WHEN n_prev >= 5
                             AND (CAST(n_prev AS HUGEINT) * x_micro - s1)
                                 * (CAST(n_prev AS HUGEINT) * x_micro - s1)
                                 > 9 * (CAST(n_prev AS HUGEINT) * s2
                                        - CAST(s1 AS HUGEINT) * s1)
                        THEN true ELSE false END AS is_anomaly
            FROM (
                SELECT user_id, event_id, x_micro,
                       COUNT(x_micro) OVER w AS n_prev,
                       SUM(x_micro) OVER w AS s1,
                       SUM(CAST(x_micro AS HUGEINT) * x_micro) OVER w AS s2
                FROM (
                    SELECT user_id, event_id, ts,
                           CAST(floor(value * 1000000) AS BIGINT) AS x_micro
                    FROM events
                )
                WINDOW w AS (PARTITION BY user_id
                             ORDER BY ts ASC, event_id ASC
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND 1 PRECEDING)
            )
"""


#: Shared by the batch x_holt_trend and the streaming s21 twin —
#: one oracle constant, verbatim (the s16/s20 sharing pattern).
HOLT_TREND_ORACLE_SQL = """
            WITH RECURSIVE s AS (
                SELECT user_id, value,
                       row_number() OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id) AS rn,
                       CAST(COUNT(*) OVER (PARTITION BY user_id) AS BIGINT) AS n
                FROM events
            ),
            r AS (
                SELECT user_id, rn, n, CAST(value AS DOUBLE) AS l,
                       CAST(0.0 AS DOUBLE) AS b
                FROM s WHERE rn = 1
                UNION ALL
                SELECT nx.user_id, nx.rn, nx.n,
                       0.5 * nx.value + 0.5 * (r.l + r.b),
                       0.25 * ((0.5 * nx.value + 0.5 * (r.l + r.b)) - r.l)
                           + 0.75 * r.b
                FROM r JOIN s nx
                  ON nx.user_id = r.user_id AND nx.rn = r.rn + 1
            )
            SELECT user_id, n AS n_obs, l AS level, b AS trend,
                   l + 1.0 * b AS forecast_1,
                   l + 3.0 * b AS forecast_3
            FROM r WHERE rn = n
        """

#: χ² drift oracle — shared verbatim by the streaming twin
#: (s15_stream_drift): the commutative histogram fold finishes at
#: exactly the batch counts.
DRIFT_CHI2_ORACLE_SQL = """
            WITH t AS (
                SELECT LEAST(9, GREATEST(0,
                           CAST(floor((value - 0.0) / 10.0) AS INTEGER))) AS bin,
                       CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS is_ref
                FROM events WHERE event_type IN ('click', 'purchase')
            ),
            cells AS (
                SELECT bin,
                       CAST(SUM(is_ref) AS BIGINT) AS n_ref,
                       CAST(SUM(1 - is_ref) AS BIGINT) AS n_cur
                FROM t GROUP BY 1
            ),
            tot AS (
                SELECT CAST(SUM(n_ref) AS BIGINT) AS t_ref,
                       CAST(SUM(n_cur) AS BIGINT) AS t_cur
                FROM cells
            )
            SELECT bin, n_ref, n_cur,
                   round(CAST(n_ref AS DOUBLE) * t_cur / t_ref, 6) AS expected6,
                   CASE WHEN n_ref > 0 THEN round(
                       (CAST(n_cur AS DOUBLE) - CAST(n_ref AS DOUBLE) * t_cur / t_ref)
                     * (CAST(n_cur AS DOUBLE) - CAST(n_ref AS DOUBLE) * t_cur / t_ref)
                     / (CAST(n_ref AS DOUBLE) * t_cur / t_ref), 6)
                   END AS chi2_contrib6
            FROM cells, tot
        """


def oracles() -> dict[str, str]:
    """DuckDB oracles for the analytics family keys."""
    from mapr_plugins_spark.operators.reg_common import _EN_STOP, _TOKS_SQL

    return {
        "x_dq_expectations": """
            SELECT 'accepted_values:o_orderstatus' AS rule,
                   CAST((SELECT COUNT(*) FROM orders
                         WHERE o_orderstatus IS NOT NULL
                           AND o_orderstatus NOT IN ('O', 'F')) AS BIGINT)
                       AS n_violations,
                   (SELECT COUNT(*) FROM orders
                    WHERE o_orderstatus IS NOT NULL
                      AND o_orderstatus NOT IN ('O', 'F')) = 0 AS passed
            UNION ALL
            SELECT 'not_null:o_custkey',
                   CAST((SELECT COUNT(*) FROM orders WHERE o_custkey IS NULL)
                        AS BIGINT),
                   (SELECT COUNT(*) FROM orders WHERE o_custkey IS NULL) = 0
            UNION ALL
            SELECT 'not_null:o_orderdate',
                   CAST((SELECT COUNT(*) FROM orders WHERE o_orderdate IS NULL)
                        AS BIGINT),
                   (SELECT COUNT(*) FROM orders WHERE o_orderdate IS NULL) = 0
            UNION ALL
            SELECT 'references:o_custkey',
                   CAST((SELECT COUNT(*) FROM orders o
                         WHERE o.o_custkey IS NOT NULL
                           AND o.o_custkey NOT IN
                               (SELECT c_custkey FROM customer)) AS BIGINT),
                   (SELECT COUNT(*) FROM orders o
                    WHERE o.o_custkey IS NOT NULL
                      AND o.o_custkey NOT IN (SELECT c_custkey FROM customer))
                       = 0
            UNION ALL
            SELECT 'unique:o_orderkey',
                   CAST((SELECT COUNT(*) - COUNT(DISTINCT o_orderkey)
                         FROM orders) AS BIGINT),
                   (SELECT COUNT(*) - COUNT(DISTINCT o_orderkey)
                    FROM orders) = 0
        """,
        "x_drift_chi2": DRIFT_CHI2_ORACLE_SQL,
        "x_psi_drift": _psi_oracle(n_bins=10, lo=0.0, hi=500.0),
        "x_ab_ttest": _ab_ttest_oracle(scale=10),
        "x_ks_drift": """
            WITH b AS (
                SELECT CAST(floor(value * 1.0) AS BIGINT) AS bucket,
                       CASE WHEN event_type = 'click' THEN 1 ELSE 0 END
                           AS is_ref
                FROM events WHERE event_type IN ('click', 'purchase')
            ),
            per AS (
                SELECT bucket, SUM(is_ref) AS rb, SUM(1 - is_ref) AS cb
                FROM b GROUP BY bucket
            ),
            cum AS (
                SELECT SUM(rb) OVER (ORDER BY bucket ASC
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW) AS c_ref,
                       SUM(cb) OVER (ORDER BY bucket ASC
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW) AS c_cur
                FROM per
            ),
            tot AS (SELECT SUM(rb) AS n_ref, SUM(cb) AS n_cur FROM per),
            d AS (
                SELECT abs(CAST(t.n_cur AS HUGEINT) * c.c_ref
                           - CAST(t.n_ref AS HUGEINT) * c.c_cur) AS dn,
                       t.n_ref, t.n_cur
                FROM cum c CROSS JOIN tot t
            )
            SELECT CAST(MAX(n_ref) AS BIGINT) AS n_ref,
                   CAST(MAX(n_cur) AS BIGINT) AS n_cur,
                   CAST(MAX(dn) AS BIGINT) AS d_num,
                   CAST((MAX(dn) * 1000000)
                        // (CAST(MAX(n_ref) AS HUGEINT) * MAX(n_cur))
                        AS BIGINT) AS d_micro
            FROM d
        """,
        "x_winsorize": """
            WITH r AS (
                SELECT event_type, event_id, value,
                       row_number() OVER (PARTITION BY event_type
                                          ORDER BY value ASC NULLS LAST,
                                                   event_id ASC NULLS LAST) AS rn,
                       COUNT(*) OVER (PARTITION BY event_type) AS n
                FROM events
            ),
            b AS (
                SELECT event_type,
                       MAX(CASE WHEN rn = (1 * n + 99) // 100 THEN value END) AS lo,
                       MAX(CASE WHEN rn = (99 * n + 99) // 100 THEN value END) AS hi
                FROM r GROUP BY 1
            )
            SELECT e.event_type, e.event_id,
                   CASE WHEN e.value < b.lo THEN b.lo
                        WHEN e.value > b.hi THEN b.hi
                        ELSE e.value END AS value_w,
                   (e.value < b.lo OR e.value > b.hi) AS clipped
            FROM events e JOIN b USING (event_type)
        """,
        "x_gap_fill": """
            WITH agg AS (
                SELECT user_id, date_trunc('hour', ts) AS bucket,
                       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS v
                FROM events GROUP BY 1, 2
            ),
            bounds AS (
                SELECT user_id, MIN(bucket) AS lo, MAX(bucket) AS hi FROM agg GROUP BY 1
            ),
            grid AS (
                SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket
                FROM bounds
            ),
            j AS (
                SELECT g.user_id, g.bucket, a.v
                FROM grid g LEFT JOIN agg a
                  ON a.user_id = g.user_id AND a.bucket = g.bucket
            )
            SELECT user_id, strftime(bucket, '%Y-%m-%d %H:%M:%S') AS bucket_ts,
                   round(last_value(v IGNORE NULLS) OVER (
                       PARTITION BY user_id ORDER BY bucket
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS v_filled,
                   v IS NULL AS is_gap
            FROM j
        """,
        "x_funnel": """
            WITH s1 AS (
                SELECT user_id, MIN(CASE WHEN event_type = 'view' THEN ts END) AS t1
                FROM events GROUP BY 1
            ),
            s2 AS (
                SELECT e.user_id,
                       MIN(CASE WHEN e.event_type = 'click' AND e.ts >= s1.t1
                                THEN e.ts END) AS t2
                FROM events e JOIN s1 ON s1.user_id = e.user_id GROUP BY 1
            ),
            s3 AS (
                SELECT e.user_id,
                       MIN(CASE WHEN e.event_type = 'purchase' AND e.ts >= s2.t2
                                THEN e.ts END) AS t3
                FROM events e JOIN s2 ON s2.user_id = e.user_id GROUP BY 1
            )
            SELECT 1 AS step, COUNT(t1) AS n_keys FROM s1
            UNION ALL SELECT 2, COUNT(t2) FROM s2
            UNION ALL SELECT 3, COUNT(t3) FROM s3
        """,
        "x_cohort_retention": """
            WITH weeks AS (
                SELECT DISTINCT user_id, date_trunc('week', CAST(ts AS DATE)) AS week
                FROM events
            ),
            firstw AS (SELECT user_id, MIN(week) AS cohort_week FROM weeks GROUP BY 1)
            SELECT strftime(cohort_week, '%Y-%m-%d') AS cohort_week,
                   CAST((week - cohort_week) // 7 AS INT) AS week_offset,
                   COUNT(DISTINCT w.user_id) AS n_keys
            FROM weeks w JOIN firstw f ON f.user_id = w.user_id
            GROUP BY 1, 2
        """,
        # a-priori prune is correctness-neutral (pair_count >= S
        # implies both item counts >= S), so brute-force pairs ARE the
        # oracle; metrics are single divisions of the same BIGINTs
        "x_assoc_rules": """
            WITH bi AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i
                        FROM lineitem),
            ic AS (SELECT i, CAST(COUNT(*) AS BIGINT) AS c FROM bi GROUP BY 1),
            pr AS (
                SELECT a.i AS item_a, b.i AS item_b,
                       CAST(COUNT(*) AS BIGINT) AS pair_count
                FROM bi a JOIN bi b ON a.b = b.b AND a.i < b.i
                GROUP BY 1, 2 HAVING COUNT(*) >= 2
            ),
            nb AS (SELECT CAST(COUNT(DISTINCT b) AS BIGINT) AS n FROM bi),
            und AS (
                SELECT pr.*, ca.c AS count_a, cb.c AS count_b, nb.n
                FROM pr JOIN ic ca ON ca.i = pr.item_a
                        JOIN ic cb ON cb.i = pr.item_b CROSS JOIN nb
            ),
            rules AS (
                SELECT item_a AS antecedent, item_b AS consequent,
                       pair_count, count_a AS ante_count,
                       count_b AS cons_count, n AS n_baskets FROM und
                UNION ALL
                SELECT item_b, item_a, pair_count, count_b, count_a, n
                FROM und
            )
            SELECT antecedent, consequent, pair_count, ante_count,
                   cons_count, n_baskets,
                   CAST(pair_count AS DOUBLE) / CAST(n_baskets AS DOUBLE)
                       AS support,
                   CAST(pair_count AS DOUBLE) / ante_count AS confidence,
                   CAST(pair_count * n_baskets AS DOUBLE)
                       / CAST(ante_count * cons_count AS DOUBLE) AS lift
            FROM rules
        """,
        "x_holt_trend": HOLT_TREND_ORACLE_SQL,
        "x_bootstrap_ci": f"""
            WITH base AS (SELECT o_totalprice AS v,
                                 CAST(o_orderkey AS STRING) AS k FROM orders),
            reps AS (SELECT CAST(range AS INT) AS r FROM range(0, 32)),
            hsh AS (SELECT v, r,
                    {seeded_hash60_sql("concat(k, ':', CAST(r AS STRING))", "'29'")}
                        AS h
                    FROM base CROSS JOIN reps),
            wts AS (SELECT v, r, {poisson_weight_sql("h")} AS w FROM hsh),
            m AS (SELECT r, CAST(SUM(w * v) AS DOUBLE)
                             / CAST(SUM(w) AS DOUBLE) AS mean_r
                  FROM wts GROUP BY r),
            ms AS (SELECT list_sort(list(mean_r)) AS ms FROM m)
            SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM orders) AS n_rows,
                   32 AS n_replicates,
                   (SELECT CAST(SUM(o_totalprice) AS DOUBLE)
                           / COUNT(o_totalprice) FROM orders) AS point_mean,
                   ms[2] AS ci_lo,
                   ms[31] AS ci_hi
            FROM ms
        """,
        "x_attribution": """
            WITH seq AS (
                SELECT user_id, ts, event_id, event_type, value,
                       SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                           OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS ci
                FROM events
            ),
            touches AS (
                SELECT user_id, ci + 1 AS conv_idx, event_id AS touch_event_id,
                       event_type AS touch_type, ts AS tts
                FROM seq WHERE event_type IN ('click', 'view')
            ),
            convs AS (
                SELECT user_id, ci AS conv_idx, event_id AS conv_event_id,
                       value AS conv_value
                FROM seq WHERE event_type = 'purchase'
            ),
            j AS (
                SELECT t.user_id, t.conv_idx, conv_event_id, touch_event_id,
                       touch_type, tts, conv_value
                FROM touches t JOIN convs c
                  ON c.user_id = t.user_id AND c.conv_idx = t.conv_idx
            ),
            ranked AS (
                SELECT user_id, conv_event_id, touch_event_id, touch_type,
                       row_number() OVER (PARTITION BY user_id, conv_idx
                                          ORDER BY tts, touch_event_id) AS rk,
                       CAST(COUNT(*) OVER (PARTITION BY user_id, conv_idx)
                            AS BIGINT) AS n_touches,
                       conv_value
                FROM j
            )
            SELECT user_id, conv_event_id, touch_event_id, touch_type,
                   n_touches,
                   rk = 1 AS first_credit,
                   rk = n_touches AS last_credit,
                   CAST(conv_value AS DOUBLE) / CAST(n_touches AS DOUBLE)
                       AS linear_value
            FROM ranked
        """,
        "x_zscore_anomaly": ZSCORE_ORACLE_SQL,
        "x_holt_winters": _holt_winters_oracle(m=4, horizons=(1, 2)),
        "x_benford_digits": _benford_oracle(),
        "x_classifier_auc": f"""
            WITH {_lr_scored_sql()},
            per AS (
                SELECT s, COUNT(*) AS n_s,
                       SUM(CASE WHEN y THEN 1 ELSE 0 END) AS pos_s
                FROM sc GROUP BY s
            ),
            c AS (
                SELECT s, n_s, pos_s,
                       COALESCE(SUM(n_s) OVER (ORDER BY s ASC
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND 1 PRECEDING), 0) AS cum_before
                FROM per
            ),
            a AS (
                SELECT SUM(CAST(pos_s AS HUGEINT)
                           * (2 * cum_before + n_s + 1)) AS sum_r2,
                       SUM(pos_s) AS n_pos, SUM(n_s - pos_s) AS n_neg
                FROM c
            )
            SELECT CAST(n_pos AS BIGINT) AS n_pos,
                   CAST(n_neg AS BIGINT) AS n_neg,
                   CAST((sum_r2 - CAST(n_pos AS HUGEINT) * (n_pos + 1))
                        * 1000000
                        // (2 * CAST(n_pos AS HUGEINT) * n_neg)
                        AS BIGINT) AS auc_micro
            FROM a
        """,
        "x_calibration_bins": f"""
            WITH {_lr_scored_sql()},
            b AS (
                SELECT s, doc_id, CASE WHEN y THEN 1 ELSE 0 END AS yy,
                       ntile(10) OVER (ORDER BY s ASC, doc_id ASC) AS bin
                FROM sc
            )
            SELECT CAST(bin AS INTEGER) AS bin,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(yy) AS BIGINT) AS n_pos,
                   CAST((SUM(yy) * 1000000) // COUNT(*) AS BIGINT)
                       AS pos_rate_micro,
                   MIN(s) AS score_lo, MAX(s) AS score_hi
            FROM b GROUP BY bin
        """,
        "x_markov_transitions": MARKOV_ORACLE_SQL,
        "x_churn_label": """
            WITH b AS (
                SELECT user_id, event_id, epoch_us(ts) AS ts_us,
                       lead(epoch_us(ts)) OVER (PARTITION BY user_id
                                                ORDER BY epoch_us(ts),
                                                         event_id) AS next_us
                FROM events
            ),
            m AS (SELECT MAX(epoch_us(ts)) AS corpus_max_us FROM events)
            SELECT user_id, event_id,
                   (corpus_max_us - ts_us < 604800000000) AS censored,
                   CASE WHEN corpus_max_us - ts_us < 604800000000 THEN false
                        ELSE COALESCE(next_us - ts_us > 604800000000, true)
                   END AS churned
            FROM b CROSS JOIN m
        """,
        "x_weighted_median": """
            WITH r AS (
                SELECT c_nationkey, c_acctbal,
                       SUM(1 + c_custkey % 5) OVER (
                           PARTITION BY c_nationkey ORDER BY c_acctbal
                       ) AS cum_w,
                       SUM(1 + c_custkey % 5) OVER (
                           PARTITION BY c_nationkey
                       ) AS total_w
                FROM customer
            )
            SELECT c_nationkey, c_acctbal AS weighted_median,
                   CAST(cum_w AS BIGINT) AS cum_w,
                   CAST(total_w AS BIGINT) AS total_w
            FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY c_nationkey ORDER BY c_acctbal
                ) AS rn
                FROM r WHERE 2 * cum_w >= total_w
            ) WHERE rn = 1
        """,
        "x_ewma": """
            WITH RECURSIVE s AS (
                SELECT user_id, event_id, value,
                       row_number() OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id) AS rn
                FROM events
            ),
            r AS (
                SELECT user_id, event_id, rn, value AS e FROM s WHERE rn = 1
                UNION ALL
                SELECT n.user_id, n.event_id, n.rn,
                       0.25 * n.value + 0.75 * r.e
                FROM r JOIN s n ON n.user_id = r.user_id AND n.rn = r.rn + 1
            )
            SELECT user_id, event_id, e AS ewma FROM r
        """,
        "x_dq_profile": """
            SELECT count(*) AS n_rows,
                   count(*) FILTER (WHERE o_custkey IS NULL) AS null_custkey,
                   count(*) FILTER (WHERE o_orderdate IS NULL) AS null_orderdate,
                   count(*) FILTER (WHERE o_totalprice IS NULL) AS null_totalprice,
                   min(o_totalprice) AS min_price,
                   max(o_totalprice) AS max_price,
                   CAST(avg(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS mean_price,
                   count(DISTINCT o_orderkey) AS n_keys,
                   count(*) - count(DISTINCT o_orderkey) AS dup_keys
            FROM orders
        """,
        "x_ref_integrity": """
            SELECT 'orders_to_customer' AS edge,
                   (SELECT count(*) FROM orders o
                    WHERE NOT EXISTS (SELECT 1 FROM customer c
                                      WHERE c.c_custkey = o.o_custkey)) AS orphans
            UNION ALL
            SELECT 'lineitem_to_orders',
                   (SELECT count(*) FROM lineitem l
                    WHERE NOT EXISTS (SELECT 1 FROM orders o
                                      WHERE o.o_orderkey = l.l_orderkey))
            UNION ALL
            SELECT 'lineitem_to_part',
                   (SELECT count(*) FROM lineitem l
                    WHERE NOT EXISTS (SELECT 1 FROM part p
                                      WHERE p.p_partkey = l.l_partkey))
        """,
        "x_quality_lr_score": f"""
            WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
            f AS (
                SELECT doc_id,
                       LEAST(len(toks), 100) * 10000 AS f_cap,
                       (len(list_filter(toks, x -> list_contains([{_EN_STOP}], x)))
                        * 1000000) // GREATEST(len(toks), 1) AS f_stop,
                       (len(list_distinct(toks)) * 1000000)
                        // GREATEST(len(toks), 1) AS f_ttr,
                       LEAST((list_sum(list_transform(toks, x -> strlen(x)))
                              * 1000000) // GREATEST(len(toks), 1), 8000000)
                        // 8 AS f_wlen
                FROM t
            )
            SELECT doc_id,
                   CAST(f_cap AS BIGINT) AS f_cap,
                   CAST(f_stop AS BIGINT) AS f_stop,
                   CAST(f_ttr AS BIGINT) AS f_ttr,
                   CAST(f_wlen AS BIGINT) AS f_wlen,
                   CAST(3*f_cap + 2*f_stop + 3*f_ttr + 2*f_wlen AS BIGINT)
                       AS score_micro,
                   (3*f_cap + 2*f_stop + 3*f_ttr + 2*f_wlen) > 4300000 AS keep
            FROM f
        """,
        "x_mad_outliers": """
            WITH r AS (
                SELECT event_type, event_id, value,
                       row_number() OVER (PARTITION BY event_type
                                          ORDER BY value ASC NULLS LAST,
                                                   event_id ASC NULLS LAST) AS rn,
                       COUNT(value) OVER (PARTITION BY event_type) AS n
                FROM events
            ),
            m AS (
                SELECT event_type,
                       MAX(CASE WHEN rn = (n + 1) // 2 THEN value END) AS med
                FROM r GROUP BY 1
            ),
            d AS (
                SELECT e.event_type, e.event_id, e.value,
                       ABS(e.value - m.med) AS dev
                FROM events e JOIN m USING (event_type)
            ),
            r2 AS (
                SELECT event_type, event_id, dev,
                       row_number() OVER (PARTITION BY event_type
                                          ORDER BY dev ASC NULLS LAST,
                                                   event_id ASC NULLS LAST) AS rn2,
                       COUNT(dev) OVER (PARTITION BY event_type) AS n2
                FROM d
            ),
            md AS (
                SELECT event_type,
                       MAX(CASE WHEN rn2 = (n2 + 1) // 2 THEN dev END) AS mad
                FROM r2 GROUP BY 1
            )
            SELECT d.event_type, d.event_id, d.value,
                   ROUND(d.dev, 6) AS dev6,
                   d.dev > 3 * md.mad AS is_outlier
            FROM d JOIN md USING (event_type)
        """,
        "x_k_anonymity": """
            SELECT c_nationkey, c_mktsegment,
                   CAST(COUNT(*) AS BIGINT) AS class_size,
                   COUNT(*) >= 10 AS is_anonymous,
                   CAST((COUNT(*) * 1000000)
                        // (SELECT COUNT(*) FROM customer) AS BIGINT)
                       AS share_micro
            FROM customer GROUP BY 1, 2
        """,
    }
