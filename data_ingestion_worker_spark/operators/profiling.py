"""Data-profiling, stratified-sampling and anomaly-detection operators.

Pipeline-hygiene primitives a 100 TB ingest needs around the core engine:

- ``profile_columns``: per-column null/distinct/min/max profile of a fact
  table in ONE scan (the "describe" a data contract check runs nightly).
- ``sample_stratified``: exactly-k-per-stratum deterministic sample —
  hash-ordered, so stable across runs, engines and partitionings.
- ``ev_anomaly_zscore``: hourly event-count outliers per event type via
  exact integer power sums (no floating accumulation order anywhere).

The reference has no profiling surface at all — its only data-quality
loop is the per-row validator (``src/validators/row_validator.py:47-107``);
these operators are the set-based, corpus-level generalization.

The hourly event-type detectors (z-scores, CUSUM, runs test,
autocorrelation, ACF) build on the per-type pieces of ``events.py``:
the count series ``_type_series``, its window moments
``_type_moments``, the lag fan-out ``_lag_pairs`` and the Pearson sums
``_pearson_sums``.  The spike and drop CUSUMs share one builder,
``_cusum``, and differ only in the statistic passed to it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.hashing import hash64, hash64_sql
from ..functions.text import ws_token_count
from ..spec import QuerySpec
from ..tables import load_table
from ..functions.checkpoint import cut_lineage
from .events import (
    _HOUR_INDEX_SQL,
    _PEARSON_R,
    _hour_index,
    _lag_pairs,
    _lag_pairs_sql,
    _pearson_sums,
    _pearson_sums_sql,
    _type_moments,
    _type_moments_sql,
    _type_series,
    _type_series_sql,
)

#: Numeric lineitem measures profiled by ``profile_columns``.
PROFILE_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]

#: Per-stratum sample size for ``sample_stratified``.
STRATUM_K = 20


def profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null / distinct / min / max profile of the lineitem measures.

    One ``stack`` unpivot feeds a single hash aggregate, so the table is
    scanned once regardless of how many columns are profiled.  Partial
    aggregation collapses the unpivoted rows to (#cols × #partitions)
    before the shuffle; only the distinct count needs the values
    themselves shuffled, grouped by (col_name, value) first so the
    per-key cardinality work distributes instead of concentrating on
    #cols reducers.
    """
    li = load_table(spark, sf_dir, "lineitem")
    pairs = ", ".join(f"'{c}', {c}" for c in PROFILE_COLS)
    long = li.select(
        F.expr(f"stack({len(PROFILE_COLS)}, {pairs}) AS (col_name, v)")
    )
    # (col, value) pre-aggregation: distinct-count becomes a count of
    # group rows — two shuffles of shrinking size, no expand operator.
    per_val = long.groupBy("col_name", "v").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    return per_val.groupBy("col_name").agg(
        F.sum(F.when(F.col("v").isNotNull(), F.col("cnt")).otherwise(0))
        .cast("bigint").alias("n_non_null"),
        F.sum(F.when(F.col("v").isNull(), F.col("cnt")).otherwise(0))
        .cast("bigint").alias("n_null"),
        F.count(F.when(F.col("v").isNotNull(), F.lit(1)))
        .cast("bigint").alias("n_distinct"),
        F.min("v").alias("min_val"),
        F.max("v").alias("max_val"),
    )


_PROFILE_ONE = """
SELECT '{c}' AS col_name,
       CAST(count({c}) AS BIGINT) AS n_non_null,
       CAST(count(*) - count({c}) AS BIGINT) AS n_null,
       CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct,
       min({c}) AS min_val,
       max({c}) AS max_val
FROM lineitem
"""

PROFILE_ORACLE = " UNION ALL ".join(
    _PROFILE_ONE.format(c=c) for c in PROFILE_COLS
)


def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly ``STRATUM_K`` customers per market segment, chosen by
    keyed-hash order.

    Deterministic equivalent of ``df.sampleBy``: the k smallest hashes
    within each stratum form a uniform sample that never changes across
    runs or engines.  At scale the window is a bottom-k per group —
    partial top-k per partition bounds what the shuffle carries to
    k·#partitions rows per stratum, and strata parallelize the reduction
    (contrast one global sample, which funnels into a single reducer).
    """
    c = load_table(spark, sf_dir, "customer")
    h = hash64(F.concat(F.lit("strat:"), F.col("c_custkey").cast("string")))
    w = Window.partitionBy("c_mktsegment").orderBy(h.asc(), F.col("c_custkey"))
    return (
        c.select("c_mktsegment", "c_custkey")
        .withColumn("stratum_rank", F.row_number().over(w).cast("int"))
        .filter(F.col("stratum_rank") <= STRATUM_K)
    )


STRATIFIED_ORACLE = f"""
SELECT c_mktsegment, c_custkey, CAST(r AS INT) AS stratum_rank FROM (
  SELECT c_mktsegment, c_custkey,
         row_number() OVER (
           PARTITION BY c_mktsegment
           ORDER BY {hash64_sql("'strat:' || CAST(c_custkey AS VARCHAR)")},
                    c_custkey) AS r
  FROM customer
) WHERE r <= {STRATUM_K}
"""


def ev_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly event-count anomalies per event type (|z| > 2).

    The z-score is computed from integer power sums only:
    ``z = (n·c − Σc) / sqrt(n·Σc² − (Σc)²)``  — numerator and radicand
    are exact BIGINTs, so the one double division + sqrt is bit-identical
    in any engine.  Even the |z| > 2 cut is taken on the *integer*
    inequality ``(n·c − Σc)² > 4·(n·Σc² − (Σc)²)`` so no float boundary
    can flip a row between engines.

    Scale shape: groupBy(type, hour) is a partial-aggregated shuffle of
    one row per bucket; the per-type power sums are an unbounded window
    over that already-tiny hourly frame, so events is scanned exactly
    once (a stats-side self-join would scan and aggregate it twice).
    """
    st = _type_moments(_type_series(spark, sf_dir, "hour"))
    num = F.col("n") * F.col("c") - F.col("sx")
    rad = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    return (
        st.filter((num * num > 4 * rad) & (F.col("n") > 1))
        .select(
            "event_type", "hour", F.col("c").alias("hour_count"),
            F.round(num.cast("double") / F.sqrt(rad.cast("double")), 6)
            .alias("zscore"),
        )
    )


ANOMALY_ORACLE = f"""
WITH hourly AS ({_type_series_sql("hour")}),
st AS ({_type_moments_sql("hourly")})
SELECT event_type, hour, c AS hour_count,
       round(CAST(n * c - sx AS DOUBLE)
             / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)), 6) AS zscore
FROM st
WHERE (n * c - sx) * (n * c - sx) > 4 * (n * sxx - sx * sx) AND n > 1
"""


#: CUSUM alarm threshold in per-type count standard deviations.
CUSUM_H_SIGMA = 3


def _cusum(spark: SparkSession, sf_dir: str, s: Column) -> DataFrame:
    """One-sided CUSUM over the hourly counts: ``s`` is the statistic,
    a column over ``p``, the per-type running sum (ordered by hour) of
    the n-scaled deviations ``n·c − Σc``.  The alarm and the reported
    sigma units divide ``s`` by the scaled standard deviation."""
    wo = Window.partitionBy("event_type").orderBy("hour")
    d = F.col("n") * F.col("c") - F.col("sx")
    pre = _type_moments(_type_series(spark, sf_dir, "hour")).select(
        "event_type", "hour", "c", "n", "sx", "sxx",
        F.sum(d).over(wo).alias("p"),
    )
    run = pre.select("event_type", "hour", "c", "n", "sxx", "sx",
                     s.alias("s"))
    rad = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    sigma = F.sqrt(rad.cast("double"))
    return run.filter(rad > 0).select(
        "event_type", "hour", F.col("c").alias("hour_count"),
        F.col("s").cast("bigint").alias("cusum_scaled"),
        F.round(F.col("s").cast("double") / sigma, 6).alias("cusum_sigma"),
        (F.col("s").cast("double")
         > F.lit(float(CUSUM_H_SIGMA)) * sigma).alias("alarm"),
    )


def _cusum_oracle(s: str) -> str:
    """SQL twin of :func:`_cusum` for the statistic ``s`` over ``p``
    and the ordered window ``wo``."""
    return f"""
WITH hourly AS ({_type_series_sql("hour")}),
st AS ({_type_moments_sql("hourly")}),
pre AS (
  SELECT event_type, hour, c, n, sx, sxx,
         CAST(sum(n * c - sx) OVER wo AS BIGINT) AS p
  FROM st
  WINDOW wo AS (PARTITION BY event_type ORDER BY hour)
),
run AS (
  SELECT event_type, hour, c, n, sx, sxx, {s} AS s
  FROM pre
  WINDOW wo AS (PARTITION BY event_type ORDER BY hour)
)
SELECT event_type, hour, c AS hour_count,
       CAST(s AS BIGINT) AS cusum_scaled,
       round(CAST(s AS DOUBLE)
             / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)), 6) AS cusum_sigma,
       CAST(s AS DOUBLE) > {float(CUSUM_H_SIGMA)}
         * sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) AS alarm
FROM run
WHERE n * sxx - sx * sx > 0
"""


def ev_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upper-CUSUM change-point detection on hourly event counts.

    The textbook CUSUM recursion ``S_t = max(0, S_{t-1} + (x_t - mean))``
    looks inherently sequential, but one-sided CUSUM has a closed form:
    ``S_t = P_t - min_{j<=t} P_j`` where ``P`` is the prefix sum of the
    deviations — so the whole detector is two ordered window functions
    over the (tiny) hourly aggregate, never a sequential scan.  All
    deviations are pre-scaled by ``n`` (``d_t = n*c_t - sx``) so ``P``
    and the running min stay exact BIGINTs; the alarm
    ``S > H*sigma_scaled`` and the reported sigma-units value divide
    identical integer operands, so both engines agree bit-for-bit.

    Scale shape: one partial-aggregated shuffle of events into hourly
    buckets; the per-type power sums and both ordered windows run over
    that bounded frame (|types| x |hours| rows), so the fact table is
    scanned exactly once — same single-scan contract as
    :func:`ev_anomaly_zscore`.
    """
    # S_t = P_t - min(0, min_{j<=t} P_j): the 0 term is the empty prefix
    # (S_0 = 0), without which an immediately-positive drift would be
    # absorbed into the baseline instead of raising the statistic.
    run_min = F.min("p").over(Window.partitionBy("event_type").orderBy("hour"))
    return _cusum(spark, sf_dir,
                  F.col("p") - F.least(F.lit(0).cast("bigint"), run_min))


CUSUM_ORACLE = _cusum_oracle("p - least(CAST(0 AS BIGINT), min(p) OVER wo)")


#: Wald–Wolfowitz z-statistic from integer run/sign counts.  ONE shared
#: SQL fragment evaluated verbatim by both engines: identical expression
#: tree → identical IEEE doubles (the cross-engine float contract).
_RUNS_Z = (
    "(CAST(r AS DOUBLE) - (2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)"
    " / CAST(n1 + n2 AS DOUBLE) + 1.0))"
    " / sqrt(2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)"
    " * (2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)"
    " - CAST(n1 + n2 AS DOUBLE))"
    " / (CAST(n1 + n2 AS DOUBLE) * CAST(n1 + n2 AS DOUBLE)"
    " * CAST(n1 + n2 - 1 AS DOUBLE)))"
)


def ev_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald–Wolfowitz runs test per event type: are the hourly
    above/below-mean deviations randomly ordered, or do they clump
    (trend / regime shifts)?  The nonparametric companion to
    ``ev_anomaly_zscore`` (pointwise outliers) and
    ``ev_cusum_changepoint`` (cumulative drift): a too-small run count
    says the series is autocorrelated even when no single point alarms.

    Signs come from the integer inequality ``n·c − sx > 0`` (exact-mean
    crossing, zeros excluded); runs are counted with one lag window
    over the hourly aggregate; the z-statistic evaluates ONE shared SQL
    fragment from the three integer counts on both engines.  Single
    scan of events, everything after the hourly groupBy is bounded.
    """
    st = _type_moments(_type_series(spark, sf_dir, "hour"))
    signed = st.filter(F.col("n") * F.col("c") != F.col("sx")).select(
        "event_type", "hour",
        (F.col("n") * F.col("c") > F.col("sx")).alias("pos"),
    )
    wo = Window.partitionBy("event_type").orderBy("hour")
    lagged = signed.select(
        "event_type", "pos",
        F.lag("pos").over(wo).alias("prev"),
    )
    agg = lagged.groupBy("event_type").agg(
        F.sum(F.col("pos").cast("bigint")).alias("n1"),
        F.sum((~F.col("pos")).cast("bigint")).alias("n2"),
        (F.lit(1) + F.sum(
            F.when(F.col("prev").isNull(), 0)
            .when(F.col("pos") != F.col("prev"), 1)
            .otherwise(0)
        )).cast("bigint").alias("r"),
    )
    return agg.filter((F.col("n1") > 0) & (F.col("n2") > 0)
                      & (F.col("n1") + F.col("n2") > 1)).select(
        "event_type",
        F.col("n1").alias("n_pos"), F.col("n2").alias("n_neg"),
        F.col("r").alias("n_runs"),
        F.round(F.expr(_RUNS_Z), 6).alias("z"),
    )


RUNS_TEST_ORACLE = f"""
WITH hourly AS ({_type_series_sql("hour")}),
st AS ({_type_moments_sql("hourly")}),
signed AS (
  SELECT event_type, hour, n * c > sx AS pos
  FROM st WHERE n * c <> sx
),
lagged AS (
  SELECT event_type, pos,
         lag(pos) OVER (PARTITION BY event_type ORDER BY hour) AS prev
  FROM signed
),
agg AS (
  SELECT event_type,
         CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         CAST(sum(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS n2,
         CAST(1 + sum(CASE WHEN prev IS NULL THEN 0
                           WHEN pos <> prev THEN 1 ELSE 0 END)
              AS BIGINT) AS r
  FROM lagged GROUP BY 1
)
SELECT event_type, n1 AS n_pos, n2 AS n_neg, r AS n_runs,
       round({_RUNS_Z}, 6) AS z
FROM agg
WHERE n1 > 0 AND n2 > 0 AND n1 + n2 > 1
"""


def ev_cusum_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lower-CUSUM: cumulative detection of volume DROPS — the outage /
    broken-producer alarm (operationally the more urgent direction than
    the spike detector ``ev_cusum_changepoint`` mirrors).

    Closed form of the mirror recursion
    ``S⁻_t = max(0, S⁻_{t-1} − d_t)``:
    ``S⁻_t = max(0, max_{j≤t} P_j) − P_t`` — the running MAX replacing
    the running min.  Same integer-exact machinery, same single scan.
    """
    run_max = F.max("p").over(Window.partitionBy("event_type").orderBy("hour"))
    return _cusum(spark, sf_dir,
                  F.greatest(F.lit(0).cast("bigint"), run_max) - F.col("p"))


CUSUM_DROP_ORACLE = _cusum_oracle(
    "greatest(CAST(0 AS BIGINT), max(p) OVER wo) - p")


def ev_anomaly_seasonal_zscore(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Seasonality-aware anomaly detection: each hour is z-scored
    against the SAME hour-of-day's historical distribution for its
    event type (3 am compares with other 3 ams), so the daily cycle —
    which plain ``ev_anomaly_zscore`` reports as 24 recurring false
    alarms — is absorbed into the baseline and only true deviations
    from the seasonal pattern surface.

    Same exact-integer machinery as the flat z-score (power sums per
    (type, hour-of-day) group; the |z| > 2 cut is an integer
    inequality), one extra grouping key.  Single scan; everything
    after the hourly groupBy is bounded by |types| x 24 x |days|.
    """
    st = _type_moments(_type_series(spark, sf_dir, "hour"),
                       hod=F.hour("hour"))
    num = F.col("n") * F.col("c") - F.col("sx")
    rad = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    return (
        st.filter((num * num > 4 * rad) & (F.col("n") > 1) & (rad > 0))
        .select(
            "event_type", "hour", F.col("hod").cast("int").alias("hod"),
            F.col("c").alias("hour_count"),
            F.round(num.cast("double") / F.sqrt(rad.cast("double")), 6)
            .alias("zscore"),
        )
    )


SEASONAL_ANOMALY_ORACLE = f"""
WITH hourly AS ({_type_series_sql("hour")}),
st AS ({_type_moments_sql("hourly", "hour(hour)")})
SELECT event_type, hour, CAST(hour(hour) AS INT) AS hod, c AS hour_count,
       round(CAST(n * c - sx AS DOUBLE)
             / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)), 6) AS zscore
FROM st
WHERE (n * c - sx) * (n * c - sx) > 4 * (n * sxx - sx * sx)
  AND n > 1 AND n * sxx - sx * sx > 0
"""


def ev_autocorr_lag1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 autocorrelation of hourly event counts per type — the
    persistence number that completes the time-series family (z-score:
    pointwise, CUSUM: drift, runs test: randomness, forecast: trend).
    High positive autocorrelation says load clusters hour-to-hour
    (capacity must follow the wave); near zero says hours are
    independent.

    One lag window pairs each hour with its successor; the five
    Pearson moments are exact BIGINT sums over those integer pairs,
    and the correlation evaluates one shared SQL fragment.  Single
    scan; everything after the hourly groupBy is bounded.
    """
    wo = Window.partitionBy("event_type").orderBy("hour")
    pairs = _type_series(spark, sf_dir, "hour").select(
        "event_type",
        F.lag("c").over(wo).alias("x"),
        F.col("c").alias("y"),
    ).filter(F.col("x").isNotNull())
    return _pearson_sums(pairs, "event_type").select(
        "event_type", F.col("n").alias("n_pairs"),
        F.round(F.expr(_PEARSON_R), 6).alias("autocorr"),
    )


#: Lags (hours) the multi-lag ACF evaluates.
ACF_MAX_LAG = 6


def ev_acf_lags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function of hourly volume per event type at lags
    1..6 hours — the full ACF diagnostics table behind
    :func:`ev_autocorr_lag1`'s single number (the decay shape is what
    distinguishes short memory from the long-range dependence
    :func:`ev_hurst_exponent` prices, and picks the seasonal lag).

    Calendar semantics: pairs join on hour-bucket arithmetic
    (``eh + lag``), so a silent gap hour breaks the pair instead of
    sliding the series together (the lag-window ROWS semantics would).
    The per-(type, lag) Pearson moments are exact BIGINT sums; the
    correlation evaluates the shared fragment, rounded at 6.

    Scale: the hourly aggregate is calendar-bounded; the lag fan-out is
    |hours| × ACF_MAX_LAG map-side rows joined back on the bucketed
    hour key — corpus size enters only through the first groupBy.
    """
    hourly = _hour_index(_type_series(spark, sf_dir, "hour")) \
        .transform(cut_lineage)   # both sides of the lag join
    pairs = _lag_pairs(hourly, ACF_MAX_LAG, "x", "y")
    return _pearson_sums(pairs, "event_type", "lag").select(
        "event_type", F.col("lag").cast("int").alias("lag"),
        F.col("n").alias("n_pairs"),
        F.round(F.expr(_PEARSON_R), 6).alias("acf"),
    )


ACF_LAGS_ORACLE = f"""
WITH hourly AS ({_HOUR_INDEX_SQL}),
pairs AS ({_lag_pairs_sql("hourly", ACF_MAX_LAG)}),
agg AS ({_pearson_sums_sql("pairs", "event_type",
                            "CAST(lag AS INT) AS lag")})
SELECT event_type, lag, n AS n_pairs, round({_PEARSON_R}, 6) AS acf
FROM agg
"""


AUTOCORR_ORACLE = f"""
WITH hourly AS ({_type_series_sql("hour")}),
pairs AS (
  SELECT event_type,
         lag(c) OVER (PARTITION BY event_type ORDER BY hour) AS x,
         c AS y
  FROM hourly
),
agg AS ({_pearson_sums_sql("pairs WHERE x IS NOT NULL", "event_type")})
SELECT event_type, n AS n_pairs, round({_PEARSON_R}, 6) AS autocorr
FROM agg
"""


#: Join-key columns profiled for skew, and heavy-hitter depth.
SKEW_COLS = ["l_orderkey", "l_partkey", "l_suppkey"]
SKEW_TOP_K = 3


def profile_join_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter report per join-key column of the fact table — the
    diagnostic a pipeline runs *before* choosing a skew mitigation
    (AQE split vs explicit salting, ``operators/skew.py``): for each
    candidate shuffle key, the top-3 hottest values with their row
    share.

    Scale shape: ONE pass — each row explodes to |columns| (key, value)
    pairs and a single groupBy counts them (map-side combine sees the
    expansion locally), instead of one full scan + shuffle per column.
    The rank window partitions by column name — |columns| partitions,
    each ranking its own counts.  Shares divide integers, floored at 6
    decimals; ties break on key value.
    """
    li = load_table(spark, sf_dir, "lineitem")
    pairs = li.select(
        F.explode(F.array(*[
            F.struct(F.lit(c).alias("col"),
                     F.col(c).cast("bigint").alias("key"))
            for c in SKEW_COLS
        ])).alias("p")
    ).select("p.col", "p.key")
    # counts feeds both the rank window and the total (every fact row
    # contributes exactly one pair per column, so summing one column's
    # counts IS the row total — no second fact-table scan); checkpoint
    # so the explode+groupBy runs once for both consumers.
    counts = pairs.groupBy("col", "key").agg(
        F.count(F.lit(1)).alias("cnt")
    ).transform(cut_lineage)
    total = counts.filter(F.col("col") == SKEW_COLS[0]).agg(
        F.sum("cnt").alias("n")
    )
    w = Window.partitionBy("col").orderBy(F.desc("cnt"), "key")
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= SKEW_TOP_K)
        .crossJoin(F.broadcast(total))
        .select(
            "col", "key", "cnt", "rank",
            (F.floor(F.col("cnt").cast("double") / F.col("n").cast("double")
                     * 1000000.0) / 1000000.0).alias("share"),
        )
    )


SKEW_PROFILE_ORACLE = f"""
WITH pairs AS (
  {' UNION ALL '.join(
      f"SELECT '{c}' AS col, CAST({c} AS BIGINT) AS key FROM lineitem"
      for c in SKEW_COLS)}
),
counts AS (
  SELECT col, key, CAST(count(*) AS BIGINT) AS cnt
  FROM pairs GROUP BY 1, 2
),
total AS (SELECT count(*) AS n FROM lineitem),
ranked AS (
  SELECT col, key, cnt,
         CAST(row_number() OVER (PARTITION BY col
                                 ORDER BY cnt DESC, key) AS INT) AS rank
  FROM counts
)
SELECT col, key, cnt, rank,
       floor(CAST(cnt AS DOUBLE) / CAST(n AS DOUBLE) * 1000000.0)
         / 1000000.0 AS share
FROM ranked CROSS JOIN total
WHERE rank <= {SKEW_TOP_K}
"""


def dq_validate_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality expectation suite (the Deequ idea):
    evaluate a fixed rule set over ``orders`` in one pass and report
    one row per rule — metric value + pass/fail.

    Rules: non-empty table, primary-key uniqueness, completeness of the
    FK column, value-range checks on price and date, and referential
    integrity against ``customer`` (orphan count).  The scan-side rules
    compile to ONE stacked aggregate over a single table scan
    (conditional counts — no per-rule passes); referential integrity is
    one anti-join, the only second data touch.  At 100 TB this is the
    ingestion gate you run before publishing a partition: cost = one
    scan + one hash join, independent of rule count.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    date_lo, date_hi = "1992-01-01", "1998-12-31"
    agg = o.agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct("o_orderkey").alias("n_keys"),
        F.sum(F.when(F.col("o_custkey").isNull(), 1).otherwise(0))
         .alias("null_cust"),
        F.sum(F.when(F.col("o_totalprice") < 0, 1).otherwise(0))
         .alias("neg_price"),
        F.sum(F.when((F.col("o_orderdate") < date_lo)
                     | (F.col("o_orderdate") > date_hi), 1).otherwise(0))
         .alias("date_oob"),
    )
    orphans = (
        o.join(c, o.o_custkey == c.c_custkey, "left_anti")
        .agg(F.count(F.lit(1)).alias("orphans"))
    )
    s = agg.crossJoin(F.broadcast(orphans))
    rules = [
        ("non_empty", F.col("n"), F.col("n") > 0),
        ("orderkey_unique", F.col("n") - F.col("n_keys"),
         F.col("n") == F.col("n_keys")),
        ("custkey_complete", F.col("null_cust"), F.col("null_cust") == 0),
        ("price_non_negative", F.col("neg_price"), F.col("neg_price") == 0),
        ("orderdate_in_range", F.col("date_oob"), F.col("date_oob") == 0),
        ("custkey_references_customer", F.col("orphans"),
         F.col("orphans") == 0),
    ]
    out = None
    for name, metric, passed in rules:
        row = s.select(
            F.lit(name).alias("rule"),
            metric.cast("long").alias("metric"),
            passed.alias("passed"),
        )
        out = row if out is None else out.unionByName(row)
    return out


DQ_ORACLE = """
WITH agg AS (
  SELECT count(*) AS n,
         count(DISTINCT o_orderkey) AS n_keys,
         sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS null_cust,
         sum(CASE WHEN o_totalprice < 0 THEN 1 ELSE 0 END) AS neg_price,
         sum(CASE WHEN o_orderdate < DATE '1992-01-01'
                    OR o_orderdate > DATE '1998-12-31'
                  THEN 1 ELSE 0 END) AS date_oob
  FROM orders
),
orph AS (
  SELECT count(*) AS orphans
  FROM orders o
  WHERE NOT EXISTS (SELECT 1 FROM customer c
                    WHERE c.c_custkey = o.o_custkey)
),
s AS (SELECT * FROM agg CROSS JOIN orph)
SELECT 'non_empty' AS rule, CAST(n AS BIGINT) AS metric, n > 0 AS passed
FROM s
UNION ALL
SELECT 'orderkey_unique', CAST(n - n_keys AS BIGINT), n = n_keys FROM s
UNION ALL
SELECT 'custkey_complete', CAST(null_cust AS BIGINT), null_cust = 0 FROM s
UNION ALL
SELECT 'price_non_negative', CAST(neg_price AS BIGINT), neg_price = 0
FROM s
UNION ALL
SELECT 'orderdate_in_range', CAST(date_oob AS BIGINT), date_oob = 0 FROM s
UNION ALL
SELECT 'custkey_references_customer', CAST(orphans AS BIGINT),
       orphans = 0
FROM s
"""


#: Language domain the corpus gate accepts.
DQ_LANGS = ("en", "zh", "fr", "es", "de")


def dq_validate_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-ingestion twin of :func:`dq_validate_orders`: the
    expectation suite a training-data pipeline gates document batches
    on, adding the rule classes the orders suite lacks —
    cross-column CONSISTENCY (``n_chars`` must equal the text length
    the loader claims to have counted) and PATTERN/DOMAIN membership
    (language whitelist, source-id format).  All six rules stack into
    one aggregate over a single scan — rule count never adds passes.
    """
    d = load_table(spark, sf_dir, "documents")
    s = d.agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct("doc_id").alias("n_keys"),
        F.sum(F.when(F.col("text").isNull() | (F.col("text") == ""), 1)
              .otherwise(0)).alias("empty_text"),
        F.sum(F.when(F.col("n_chars") != F.length("text"), 1)
              .otherwise(0)).alias("nchars_bad"),
        F.sum(F.when(~F.col("lang").isin(*DQ_LANGS), 1).otherwise(0))
         .alias("lang_oob"),
        F.sum(F.when(~F.col("source").rlike("^src[0-9]+$"), 1)
              .otherwise(0)).alias("src_bad"),
    )
    rules = [
        ("non_empty", F.col("n"), F.col("n") > 0),
        ("doc_id_unique", F.col("n") - F.col("n_keys"),
         F.col("n") == F.col("n_keys")),
        ("text_complete", F.col("empty_text"), F.col("empty_text") == 0),
        ("n_chars_consistent", F.col("nchars_bad"),
         F.col("nchars_bad") == 0),
        ("lang_in_domain", F.col("lang_oob"), F.col("lang_oob") == 0),
        ("source_id_format", F.col("src_bad"), F.col("src_bad") == 0),
    ]
    out = None
    for name, metric, passed in rules:
        row = s.select(
            F.lit(name).alias("rule"),
            metric.cast("long").alias("metric"),
            passed.alias("passed"),
        )
        out = row if out is None else out.unionByName(row)
    return out


DQ_DOCS_ORACLE = f"""
WITH s AS (
  SELECT count(*) AS n,
         count(DISTINCT doc_id) AS n_keys,
         sum(CASE WHEN text IS NULL OR text = '' THEN 1 ELSE 0 END)
           AS empty_text,
         sum(CASE WHEN n_chars <> length(text) THEN 1 ELSE 0 END)
           AS nchars_bad,
         sum(CASE WHEN lang NOT IN {DQ_LANGS!r} THEN 1 ELSE 0 END)
           AS lang_oob,
         sum(CASE WHEN NOT regexp_matches(source, '^src[0-9]+$')
                  THEN 1 ELSE 0 END) AS src_bad
  FROM documents
)
SELECT 'non_empty' AS rule, CAST(n AS BIGINT) AS metric, n > 0 AS passed
FROM s
UNION ALL
SELECT 'doc_id_unique', CAST(n - n_keys AS BIGINT), n = n_keys FROM s
UNION ALL
SELECT 'text_complete', CAST(empty_text AS BIGINT), empty_text = 0 FROM s
UNION ALL
SELECT 'n_chars_consistent', CAST(nchars_bad AS BIGINT), nchars_bad = 0
FROM s
UNION ALL
SELECT 'lang_in_domain', CAST(lang_oob AS BIGINT), lang_oob = 0 FROM s
UNION ALL
SELECT 'source_id_format', CAST(src_bad AS BIGINT), src_bad = 0 FROM s
"""


def profile_drift_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day profile drift of the event stream: row count, null
    rate, distinct users, and integer-exact mean value per day, each
    with its delta vs the previous day — the schema/volume drift
    monitor that catches upstream breakage (a field suddenly null, a
    producer gone quiet) before any distribution test would
    (``stats_psi_drift`` watches the VALUES; this watches the SHAPE).

    One scan to per-day aggregates; the day-over-day lag runs over the
    calendar-bounded daily frame (≤ observation-window rows), so the
    single-partition window is constant-size, never data-sized.
    """
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("value").isNull(), 1).otherwise(0))
        .alias("n_null_value"),
        F.countDistinct("user_id").alias("n_users"),
        F.expr("(1000 * sum(cast(cast(value as decimal(14,2)) * 100"
               " as bigint))) div count(1)").alias("mean_millicents"),
    )
    w = Window.orderBy("day")
    return daily.select(
        "day", "n", "n_null_value", "n_users", "mean_millicents",
        (F.col("n") - F.lag("n").over(w)).alias("d_n"),
        (F.col("n_users") - F.lag("n_users").over(w)).alias("d_users"),
        (F.col("mean_millicents") - F.lag("mean_millicents").over(w))
        .alias("d_mean_millicents"),
    )


DRIFT_DAILY_ORACLE = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_null_value,
         CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
         CAST((1000 * sum(CAST(CAST(value AS DECIMAL(14,2)) * 100
              AS BIGINT))) // count(*) AS BIGINT) AS mean_millicents
  FROM events GROUP BY 1
)
SELECT day, n, n_null_value, n_users, mean_millicents,
       n - lag(n) OVER w AS d_n,
       n_users - lag(n_users) OVER w AS d_users,
       mean_millicents - lag(mean_millicents) OVER w
         AS d_mean_millicents
FROM daily
WINDOW w AS (ORDER BY day)
"""


#: Partition-balance probe: simulated partition count (a typical
#: shuffle width) for the hash-layout diagnostic.
PB_PARTITIONS = 32


def profile_partition_balance(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Hash-partition balance diagnostic: simulate partitioning the
    fact table on a join key (``pmod(hash64(key), P)``) and report each
    simulated partition's row count plus its load factor vs the
    perfectly-even share — the planning readout behind "will this key
    skew a 1000-executor shuffle" (``profile_join_key_skew`` finds hot
    KEYS; this measures the resulting PARTITION imbalance, which is
    what actually stalls a stage).

    One scan, one P-group aggregate (map-side combined); the total for
    the load factor is a window over the constant-P rows.
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey")
    bucket = F.pmod(
        hash64(F.concat(F.lit("pb:"), F.col("l_orderkey").cast("string"))),
        F.lit(PB_PARTITIONS),
    )
    counts = li.groupBy(bucket.cast("int").alias("partition_id")).agg(
        F.count(F.lit(1)).alias("n_rows")
    )
    total = counts.agg(F.sum("n_rows").alias("total"))
    return counts.crossJoin(F.broadcast(total)).select(
        "partition_id", "n_rows",
        F.expr(f"floor(CAST(n_rows AS DOUBLE) * {PB_PARTITIONS}"
               " / CAST(total AS DOUBLE) * CAST(10000 AS DOUBLE))"
               " / CAST(10000 AS DOUBLE)").alias("load_factor"),
    )


PARTITION_BALANCE_ORACLE = f"""
WITH counts AS (
  SELECT CAST({hash64_sql("'pb:' || CAST(l_orderkey AS VARCHAR)")}
              % {PB_PARTITIONS} AS INT) AS partition_id,
         CAST(count(*) AS BIGINT) AS n_rows
  FROM lineitem GROUP BY 1
)
SELECT partition_id, n_rows,
       floor(CAST(n_rows AS DOUBLE) * {PB_PARTITIONS}
             / CAST(sum(n_rows) OVER () AS DOUBLE)
             * CAST(10000 AS DOUBLE)) / CAST(10000 AS DOUBLE)
         AS load_factor
FROM counts
"""


def dq_freshness_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source freshness & completeness monitor — the two pager
    questions for an ingest pipeline: *is this source stale* (how far
    does its newest event lag the global watermark) and *is it
    under-delivering* (how does its final observed day compare to its
    own prior-7-day daily average)?

    All quantities are exact integers: the lag in whole seconds, the
    completeness ratio in micro-units via ``(n_last·7·10⁶) div Σprior7``
    (NULL when the source has no prior-7-day history).  The global
    watermark is a one-row broadcast scalar; per-source daily counts
    are the (day × type)-bounded table, so everything after the first
    aggregation is constant-sized.
    """
    from .events import _epoch_s

    e = load_table(spark, sf_dir, "events").select(
        "event_type", F.col("ts"), F.to_date("ts").alias("day")
    )
    wm = e.agg(F.max("ts").alias("gmax"),
               F.max("day").alias("gday"))
    per_type = e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.max("ts").alias("last_ts"),
    )
    daily = e.groupBy("event_type", "day").agg(
        F.count(F.lit(1)).alias("n")
    )
    windows = daily.join(F.broadcast(wm), F.lit(True)).groupBy(
        "event_type"
    ).agg(
        F.sum(F.when(F.col("day") == F.col("gday"), F.col("n"))
              .otherwise(F.lit(0))).alias("n_last_day"),
        F.sum(F.when(
            (F.col("day") >= F.date_sub(F.col("gday"), 7))
            & (F.col("day") < F.col("gday")), F.col("n")
        ).otherwise(F.lit(0))).alias("prior7_total"),
    )
    return (
        per_type.join(windows, "event_type")
        .join(F.broadcast(wm), F.lit(True))
        .select(
            "event_type", "n_rows",
            (_epoch_s(F.col("gmax")) - _epoch_s(F.col("last_ts")))
            .alias("last_seen_lag_s"),
            "n_last_day", "prior7_total",
            F.when(F.col("prior7_total") > 0, F.expr(
                "(n_last_day * 7 * 1000000) div prior7_total"
            )).alias("completeness_micro"),
        )
    )


DQ_FRESHNESS_ORACLE = """
WITH e AS (
  SELECT event_type, ts, CAST(ts AS DATE) AS day FROM events
),
wm AS (SELECT max(ts) AS gmax, max(day) AS gday FROM e),
per_type AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_rows,
         max(ts) AS last_ts
  FROM e GROUP BY 1
),
daily AS (
  SELECT event_type, day, CAST(count(*) AS BIGINT) AS n
  FROM e GROUP BY 1, 2
),
windows AS (
  SELECT event_type,
         sum(CASE WHEN day = gday THEN n ELSE 0 END) AS n_last_day,
         sum(CASE WHEN day >= gday - INTERVAL 7 DAY AND day < gday
                  THEN n ELSE 0 END) AS prior7_total
  FROM daily CROSS JOIN wm GROUP BY 1
)
SELECT p.event_type, n_rows,
       date_diff('second', last_ts, gmax) AS last_seen_lag_s,
       CAST(n_last_day AS BIGINT) AS n_last_day,
       CAST(prior7_total AS BIGINT) AS prior7_total,
       CASE WHEN prior7_total > 0
            THEN (n_last_day * 7 * 1000000) // prior7_total
       END AS completeness_micro
FROM per_type p JOIN windows USING (event_type) CROSS JOIN wm
"""


#: Columns profiled by the HLL NDV twin (name, SQL cast-to-string).
_NDV_COLS = [
    ("o_orderpriority", "o_orderpriority"),
    ("o_custkey", "CAST(o_custkey AS STRING)"),
    ("o_totalprice", "CAST(o_totalprice AS STRING)"),
    ("o_orderdate", "CAST(o_orderdate AS STRING)"),
]


def profile_ndv_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approx-NDV profiling twin: per-column HyperLogLog distinct
    estimates next to the exact count — the scale path for profiling a
    wide table (``profile_columns``' exact ``countDistinct`` buffers
    per-distinct-value state per column; the HLL register set is HLL_M
    bytes per column regardless of cardinality, and registers MERGE, so
    per-file profiles roll up without rescans).

    Reuses the sketch module's engine-exact register rule
    (``_hll_rho_buckets`` — same bucket/rho/harmonic-sum codification as
    ``sketch_hll_distinct``, oracle CTEs mirror it verbatim).  The
    exact yardstick half (`.distinct()` first) exists to make rel_err
    visible and is what a production deployment drops.
    """
    from .sketches import (
        _hll_estimate,
        _hll_rho_buckets,
        _hll_z_present,
    )

    o = load_table(spark, sf_dir, "orders")
    stacked = o.select(F.expr(
        f"stack({len(_NDV_COLS)}, " + ", ".join(
            f"'{n}', {expr}" for n, expr in _NDV_COLS
        ) + ") AS (col, val)"
    )).distinct()
    hashed = stacked.select("col", hash64(F.col("val")).alias("h"))
    regs = _hll_rho_buckets(hashed, "col").groupBy("col", "bucket").agg(
        F.max("rho").alias("r"), F.count(F.lit(1)).alias("c")
    )
    per_col = regs.groupBy("col").agg(
        F.sum("c").alias("exact_distinct"),
        F.count(F.lit(1)).alias("n_buckets"),
        _hll_z_present().alias("z_present"),
    )
    est = _hll_estimate(F.col("z_present"), F.col("n_buckets"))
    return per_col.select(
        "col", F.col("exact_distinct").cast("bigint").alias("exact_distinct"),
        F.col("n_buckets").cast("bigint").alias("n_buckets"),
        est.alias("hll_est"),
        (F.floor(
            F.abs(est.cast("double") - F.col("exact_distinct"))
            / F.col("exact_distinct") * 10000.0
        ) / 10000.0).alias("rel_err"),
    )


def _ndv_oracle() -> str:
    from .sketches import HLL_ALPHA_NUM, HLL_M, HLL_REST_BITS

    unions = " UNION ALL ".join(
        f"SELECT '{n}' AS col, "
        + expr.replace("AS STRING", "AS VARCHAR") + " AS val FROM orders"
        for n, expr in _NDV_COLS
    )
    return f"""
WITH stacked AS (
  SELECT DISTINCT col, val FROM ({unions})
),
hashed AS (
  SELECT col, {hash64_sql('val')} AS h FROM stacked
),
buckets AS (
  SELECT col, h % {HLL_M} AS bucket,
         CASE WHEN h // {HLL_M} = 0 THEN {HLL_REST_BITS + 1}
              ELSE {HLL_REST_BITS + 1} - length(bin(h // {HLL_M}))
         END AS rho
  FROM hashed
),
regs AS (
  SELECT col, bucket, max(rho) AS r, count(*) AS c
  FROM buckets GROUP BY 1, 2
),
per_col AS (
  SELECT col, sum(c) AS exact_distinct, count(*) AS n_buckets,
         sum(1::BIGINT << ({HLL_REST_BITS} - r)) AS z_present
  FROM regs GROUP BY 1
),
scored AS (
  SELECT col, CAST(exact_distinct AS BIGINT) AS exact_distinct,
         CAST(n_buckets AS BIGINT) AS n_buckets,
         CAST(floor({HLL_ALPHA_NUM!r} / CAST(z_present
              + ({HLL_M} - n_buckets) * (1::BIGINT << {HLL_REST_BITS})
              AS DOUBLE)) AS BIGINT) AS hll_est
  FROM per_col
)
SELECT col, exact_distinct, n_buckets, hll_est,
       floor(abs(CAST(hll_est AS DOUBLE) - exact_distinct)
             / exact_distinct * 10000.0) / 10000.0 AS rel_err
FROM scored
"""


#: Doc-length bucket width (chars) for the incremental stats merge.
STATS_BUCKET_CHARS = 64


def corpus_stats_incremental_merge(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """Incremental corpus-statistics maintenance: merge a new batch's
    per-bucket stats into the existing corpus stats table WITHOUT
    rescanning the corpus — the production shape for keeping profile
    tables current at 100 TB (the ``scd2_incremental_merge`` proof
    pattern applied to profiling).

    Stats are deliberately restricted to *mergeable* aggregates
    (counts, sums, min/max): old ⊕ delta == full is then an algebraic
    identity, and the DuckDB oracle IS the full recompute over
    corpus ∪ batch — the driver-graded row proves incremental == full.
    Corpus/batch split follows ``dedup_incremental``: ``src0`` is the
    already-ingested corpus, every other source the new batch.

    Scale shape: one scan of each side into a bounded (10-bucket)
    aggregate; the merge is a full outer join of two constant-size
    frames.  The corpus side would in production be the PERSISTED stats
    table, i.e. zero corpus I/O.
    """
    d = load_table(spark, sf_dir, "documents")
    bucket = F.least(F.lit(9), F.floor(F.length("text")
                                       / STATS_BUCKET_CHARS)).cast("int")

    def _stats(side: DataFrame) -> DataFrame:
        return side.groupBy(bucket.alias("len_bucket")).agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(ws_token_count(F.col("text")).cast("bigint"))
            .alias("n_tokens"),
            F.sum(F.length("text").cast("bigint")).alias("sum_chars"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )

    old = _stats(d.filter(F.col("source") == "src0"))
    delta = _stats(d.filter(F.col("source") != "src0"))
    o, n = old.alias("o"), delta.alias("n")
    merged = o.join(n, F.col("o.len_bucket") == F.col("n.len_bucket"),
                    "full_outer")

    def _sum(col: str) -> F.Column:
        return (F.coalesce(F.col(f"o.{col}"), F.lit(0))
                + F.coalesce(F.col(f"n.{col}"), F.lit(0))).cast("bigint")

    return merged.select(
        F.coalesce(F.col("o.len_bucket"), F.col("n.len_bucket"))
        .alias("len_bucket"),
        _sum("n_docs").alias("n_docs"),
        _sum("n_tokens").alias("n_tokens"),
        _sum("sum_chars").alias("sum_chars"),
        F.least(F.col("o.min_doc_id"), F.col("n.min_doc_id"))
        .alias("min_doc_id"),
        F.greatest(F.col("o.max_doc_id"), F.col("n.max_doc_id"))
        .alias("max_doc_id"),
    )


#: The oracle is the FULL recompute over corpus ∪ batch — a hash match
#: proves the incremental merge path equals a from-scratch rebuild.
_WS_COUNT_DOC_SQL = ("CASE WHEN length(trim(lower(text))) = 0 THEN 0 "
                     "ELSE len(string_split_regex(trim(lower(text)), "
                     "'\\s+')) END")
CORPUS_STATS_MERGE_ORACLE = f"""
SELECT CAST(least(9, length(text) // {STATS_BUCKET_CHARS}) AS INT)
         AS len_bucket,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum({_WS_COUNT_DOC_SQL}) AS BIGINT) AS n_tokens,
       CAST(sum(length(text)) AS BIGINT) AS sum_chars,
       min(doc_id) AS min_doc_id,
       max(doc_id) AS max_doc_id
FROM documents
GROUP BY 1
"""


#: k-anonymity threshold: equivalence classes smaller than this leak.
K_ANON = 5

def dq_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit of the customer table under the
    (nation, market-segment) quasi-identifier: the privacy gate a
    governance pipeline runs before publishing a dataset — any
    equivalence class smaller than k re-identifies its members.

    Output is the class-size histogram (one row per distinct class
    size: how many classes, how many rows, and whether that size is
    below k) — the shape an auditor reads off directly, and the same
    two-hash-aggregate plan at any scale: groupBy the quasi-identifier,
    then groupBy the class size.  No per-class row ever leaves the
    cluster (reporting the risky classes themselves would be the leak).
    """
    c = load_table(spark, sf_dir, "customer")
    classes = c.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("class_size")
    )
    return (
        classes.groupBy("class_size")
        .agg(F.count(F.lit(1)).alias("n_classes"))
        .select(
            "class_size", "n_classes",
            (F.col("class_size") * F.col("n_classes")).alias("n_rows"),
            (F.col("class_size") < K_ANON).alias("below_k"),
        )
    )


K_ANONYMITY_ORACLE = f"""
WITH classes AS (
  SELECT c_nationkey, c_mktsegment, count(*) AS class_size
  FROM customer GROUP BY 1, 2
)
SELECT CAST(class_size AS BIGINT) AS class_size,
       CAST(count(*) AS BIGINT) AS n_classes,
       CAST(class_size * count(*) AS BIGINT) AS n_rows,
       class_size < {K_ANON} AS below_k
FROM classes GROUP BY class_size
"""


#: l-diversity threshold: every quasi-identifier class must see at least
#: this many distinct sensitive values, or an attacker who locates a
#: person's class learns their sensitive attribute outright.
L_DIV = 3


def dq_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit — the companion gate to ``dq_k_anonymity``:
    k-anonymity alone is defeated by a *homogeneous* class (every member
    shares the sensitive value), so governance checks the number of
    DISTINCT sensitive values per quasi-identifier class.  Here the
    quasi-identifier is (nation, market segment) on customers and the
    sensitive attribute is the order priority of their purchases —
    sensitive facts living in a joined fact table is the realistic
    shape (medical events against patient demographics, etc.).  A
    balance bucket joins the quasi-identifier so classes are small
    enough that the audit actually finds homogeneous ones (the k-audit
    keeps the coarser 2-attribute key on purpose — two audits, two
    grains).

    Output is the l-value histogram (how many classes have exactly
    ``l`` distinct sensitive values, how many people that covers, and
    the below-threshold flag) — like the k-audit, no per-class row
    leaves the cluster.

    Scale: join on the class key after aggregating BOTH sides to
    per-(customer, priority) distinct pairs — the join carries one row
    per (customer, priority), never per order; then two hash
    aggregates.  All shuffles are on the customer key.
    """
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    pairs = o.select(
        F.col("o_custkey").alias("c_custkey"),
        F.col("o_orderpriority").alias("sens"),
    ).distinct()
    classes = (
        c.withColumn(
            "bal_bucket", F.floor(F.col("c_acctbal") / 2000).cast("long"))
        .join(pairs, "c_custkey")
        .groupBy("c_nationkey", "c_mktsegment", "bal_bucket")
        .agg(
            F.countDistinct("sens").alias("l_value"),
            F.countDistinct("c_custkey").alias("class_people"),
        )
    )
    return (
        classes.groupBy("l_value")
        .agg(
            F.count(F.lit(1)).alias("n_classes"),
            F.sum("class_people").cast("long").alias("n_people"),
        )
        .select(
            "l_value", "n_classes", "n_people",
            (F.col("l_value") < L_DIV).alias("below_l"),
        )
    )


L_DIVERSITY_ORACLE = f"""
WITH pairs AS (
  SELECT DISTINCT o_custkey AS c_custkey, o_orderpriority AS sens
  FROM orders
),
classes AS (
  SELECT c.c_nationkey, c.c_mktsegment,
         CAST(floor(c.c_acctbal / 2000) AS BIGINT) AS bal_bucket,
         count(DISTINCT p.sens) AS l_value,
         count(DISTINCT c.c_custkey) AS class_people
  FROM customer c JOIN pairs p USING (c_custkey)
  GROUP BY 1, 2, 3
)
SELECT CAST(l_value AS BIGINT) AS l_value,
       CAST(count(*) AS BIGINT) AS n_classes,
       CAST(sum(class_people) AS BIGINT) AS n_people,
       l_value < {L_DIV} AS below_l
FROM classes GROUP BY l_value
"""


#: ε for the DP release (count queries, sensitivity 1 ⇒ Laplace b=1/ε).
DP_EPSILON_MILLI = 1000


def dq_dp_noisy_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ε-differentially-private release of the per-type event counts via
    the Laplace mechanism — the third leg of the governance suite
    (k-anonymity asks "is the class big enough", l-diversity "is it
    varied enough", DP "what may the published AGGREGATE itself leak").
    Count queries have sensitivity 1, so noise ~ Laplace(1/ε).

    The draw is the engine's deterministic hash-uniform (re-shard-stable
    like every random draw in this repo) pushed through the Laplace
    inverse CDF ``-sign(u-½)·ln(1-2|u-½|)/ε``; the ln term is floor-
    quantized to milli on its own row (the LLR convention), so the
    released integers are bit-identical cross-engine.  Accepted risk:
    ``ln`` is libm-dependent; if the milli product lands exactly on an
    integer boundary a 1-ulp JVM/DuckDB divergence flips the floor by
    ±1.  The argument domain here is the finite grid
    {2k/1e6 : k ≤ 499999}, none of whose ln·1e6/ε values is integral
    (boundary landings are structurally excluded, not just unlikely).  A production
    release would draw fresh randomness per release and track an ε
    budget across queries — both seams are the salt literal and the
    constant below.

    Scale: one combiner-friendly count aggregate; the mechanism is a
    per-row expression on the |types|-row result.
    """
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("true_n"))
    # u in (0,1), never exactly 0 (k in 1..999999) — ln stays finite.
    u = (F.pmod(hash64(F.concat(F.lit("dp:"), F.col("event_type"))),
                F.lit(999999)) + 1).cast("double") / F.lit(1000000.0)
    centered = u - F.lit(0.5)
    # X = -sign(c)·ln(1-2|c|)/ε; ln(·) ≤ 0, so the magnitude is
    # floor(-ln·1e6/ε_milli) and the sign follows c.
    lap_milli = (
        F.signum(centered)
        * F.floor(F.log(F.lit(1.0) - 2 * F.abs(centered))
                  * F.lit(-1000000.0) / F.lit(DP_EPSILON_MILLI))
    ).cast("long")
    return counts.select(
        "event_type",
        (F.col("true_n") * 1000 + lap_milli).alias("noisy_count_milli"),
        F.lit(DP_EPSILON_MILLI).cast("int").alias("epsilon_milli"),
    )


DP_NOISY_ORACLE = f"""
WITH counts AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS true_n
  FROM events GROUP BY 1
),
mech AS (
  SELECT event_type, true_n,
         (({hash64_sql("'dp:' || event_type")} % 999999 + 1)
          / 1000000.0) - 0.5 AS centered
  FROM counts
)
SELECT event_type,
       CAST(true_n * 1000
            + sign(centered)
              * CAST(floor(ln(1.0 - 2 * abs(centered))
                           * (-1000000.0) / {DP_EPSILON_MILLI}) AS BIGINT)
            AS BIGINT) AS noisy_count_milli,
       CAST({DP_EPSILON_MILLI} AS INT) AS epsilon_milli
FROM mech
"""


#: Candidate columns for functional-dependency discovery over orders —
#: the schema-inference profile (Metanome/HoloClean family): which
#: column pairs satisfy A -> B, exactly or approximately.
#: (label, expression) — expressions are valid verbatim in both
#: engines.  year(o_orderdate) -> o_orderstatus is the interesting
#: approximate FD (TPC-H statuses correlate with order age); the
#: high-cardinality o_custkey leg exercises the ndv-heavy direction.
FD_CANDIDATES = [("o_orderstatus", "o_orderstatus"),
                 ("o_orderpriority", "o_orderpriority"),
                 ("order_year", "year(o_orderdate)"),
                 ("o_custkey", "o_custkey")]


def profile_functional_deps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact + approximate functional-dependency discovery over the
    candidate columns: ``A -> B`` holds iff every A value maps to one B
    value, i.e. ``ndv(A) == ndv(A, B)``; the violation ratio
    ``(ndv(A,B) − ndv(A)) / ndv(A)`` (ppm) grades the approximate FDs
    data-repair tools act on.  The classic single-table profiling pass
    a pipeline runs before trusting a column as a join/partition key or
    a derivable attribute (the o_custkey legs exercise the
    high-cardinality direction; order_year -> o_orderstatus is the
    gradable approximate FD — statuses correlate with order age).

    Scale shape: one pass per directed pair in a constant-size UNION —
    each leg is a combiner-friendly distinct-count aggregate (grouped
    partials, no global expand), and the readout is |pairs| rows.
    Integer ppm readout (one floor over one exact-integer division).
    """
    o = load_table(spark, sf_dir, "orders")
    outs = []
    for lhs, le in FD_CANDIDATES:
        for rhs, re_ in FD_CANDIDATES:
            if lhs == rhs:
                continue
            agg = o.agg(
                F.countDistinct(F.expr(le)).alias("n_lhs"),
                F.countDistinct(F.expr(le), F.expr(re_)).alias("n_pair"),
            )
            outs.append(agg.select(
                F.lit(lhs).alias("lhs"), F.lit(rhs).alias("rhs"),
                F.col("n_lhs").cast("long").alias("n_lhs"),
                F.col("n_pair").cast("long").alias("n_pair"),
                (F.col("n_pair") == F.col("n_lhs")).alias("holds"),
                F.expr("(1000000 * (n_pair - n_lhs)) div n_lhs")
                .cast("long").alias("violation_ppm"),
            ))
    result = outs[0]
    for d in outs[1:]:
        result = result.unionByName(d)
    return result


def _fd_oracle() -> str:
    legs = []
    for lhs, le in FD_CANDIDATES:
        for rhs, re_ in FD_CANDIDATES:
            if lhs == rhs:
                continue
            legs.append(f"""
SELECT '{lhs}' AS lhs, '{rhs}' AS rhs,
       CAST(count(DISTINCT {le}) AS BIGINT) AS n_lhs,
       CAST(count(DISTINCT ({le}, {re_})) AS BIGINT) AS n_pair,
       count(DISTINCT ({le}, {re_})) = count(DISTINCT {le}) AS holds,
       (1000000 * (CAST(count(DISTINCT ({le}, {re_})) AS BIGINT)
                   - CAST(count(DISTINCT {le}) AS BIGINT)))
         // CAST(count(DISTINCT {le}) AS BIGINT) AS violation_ppm
FROM orders""")
    return " UNION ALL ".join(legs)


FD_ORACLE = _fd_oracle()


#: KMV sketch size for cross-column content matching.
KMV_COL_K = 64

#: Columns whose value domains the content matcher sketches — the key
#: columns a schema-matching pass would test (true FK twins, the
#: reverse legs, and unrelated keys the matcher must score low).
KMV_COL_CANDIDATES = [
    ("orders", "o_orderkey"), ("orders", "o_custkey"),
    ("customer", "c_custkey"), ("customer", "c_nationkey"),
    ("lineitem", "l_orderkey"), ("lineitem", "l_partkey"),
    ("part", "p_partkey"), ("supplier", "s_suppkey"),
]


def profile_column_kmv_overlap(spark: SparkSession, sf_dir: str) \
        -> DataFrame:
    """Cross-table column-content matching from KMV sketches — the
    approximate, symmetric complement to
    :func:`profile_inclusion_deps`: instead of testing a directed
    "every value appears" claim, estimate the JACCARD of every column
    pair's value domain from bottom-K sketches alone (Beyer et al.
    2007).  This is how a schema matcher ranks "these two columns hold
    the same kind of identifier" across tables it has never joined —
    o_custkey/c_custkey must score high, c_nationkey/p_partkey low.

    Scale: each column contributes ONE bounded sketch (distinct →
    hash → two-phase bottom-K, the ``sketch_kmv_distinct`` shape);
    every pairwise comparison afterwards touches only K-sized arrays
    broadcast-joined — no cross-table value join ever forms.
    Determinism: k-minima of the keyed md5 hash are grouping-invariant;
    the Jaccard readout floors one exact integer ratio.
    """
    parts = []
    for t, c in KMV_COL_CANDIDATES:
        parts.append(
            load_table(spark, sf_dir, t).select(
                F.lit(f"{t}.{c}").alias("col"),
                F.col(c).cast("bigint").cast("string").alias("v"),
            ).distinct()
        )
    vals = parts[0]
    for p in parts[1:]:
        vals = vals.unionByName(p)
    hashed = vals.select("col", hash64(F.col("v")).alias("h")) \
        .transform(cut_lineage)   # sketch build + per-column counts
    mins = (
        hashed.groupBy("col", F.spark_partition_id().alias("salt"))
        .agg(
            F.count(F.lit(1)).alias("c"),
            F.slice(F.array_sort(F.collect_list("h")), 1, KMV_COL_K)
            .alias("mins"),
        )
    )
    sk = (
        mins.groupBy("col")
        .agg(
            F.sum("c").alias("n"),
            F.slice(F.array_sort(F.flatten(F.collect_list("mins"))),
                    1, KMV_COL_K).alias("arr"),
        )
        .transform(cut_lineage)   # consumed as both pair sides
    )
    a = sk.select(F.col("col").alias("c1"),
                  F.col("arr").alias("arr1"), F.col("n").alias("n1"))
    b = sk.select(F.col("col").alias("c2"),
                  F.col("arr").alias("arr2"), F.col("n").alias("n2"))
    pairs = a.join(F.broadcast(b), F.col("c1") < F.col("c2")) \
        .withColumn(
            "merged",
            F.expr(f"slice(array_sort(array_union(arr1, arr2)), "
                   f"1, {KMV_COL_K})"),
        )
    cnt = F.size(F.array_intersect(
        F.array_intersect(F.col("merged"), F.col("arr1")), F.col("arr2")
    )).cast("long")
    k_used = F.size("merged").cast("long")
    return pairs.select(
        "c1", "c2",
        F.col("n1").cast("long").alias("n1"),
        F.col("n2").cast("long").alias("n2"),
        k_used.alias("k_used"),
        cnt.alias("inter_cnt"),
        F.expr(f"(1000000 * size(array_intersect(array_intersect(merged, "
               f"arr1), arr2))) div size(merged)")
        .cast("long").alias("jaccard_ppm"),
    )


def _kmv_col_oracle() -> str:
    branches = " UNION ALL ".join(
        f"SELECT DISTINCT '{t}.{c}' AS col, "
        f"CAST(CAST({c} AS BIGINT) AS VARCHAR) AS v FROM {t}"
        for t, c in KMV_COL_CANDIDATES)
    return f"""
WITH vals AS ({branches}),
hashed AS (
  SELECT col, {hash64_sql('v')} AS h FROM vals
),
sz AS (SELECT col, CAST(count(*) AS BIGINT) AS n FROM hashed GROUP BY 1),
rk AS (
  SELECT col, h FROM (
    SELECT col, h,
           row_number() OVER (PARTITION BY col ORDER BY h) AS r
    FROM hashed
  ) WHERE r <= {KMV_COL_K}
),
prs AS (
  SELECT a.col AS c1, b.col AS c2, a.n AS n1, b.n AS n2
  FROM sz a JOIN sz b ON a.col < b.col
),
uh AS (
  SELECT DISTINCT p.c1, p.c2, s.h
  FROM prs p JOIN rk s ON s.col = p.c1 OR s.col = p.c2
),
uk AS (
  SELECT c1, c2, h FROM (
    SELECT c1, c2, h,
           row_number() OVER (PARTITION BY c1, c2 ORDER BY h) AS r
    FROM uh
  ) WHERE r <= {KMV_COL_K}
),
ust AS (
  SELECT u.c1, u.c2, CAST(count(*) AS BIGINT) AS k_used,
         CAST(sum(CASE WHEN a.h IS NOT NULL AND b.h IS NOT NULL
                       THEN 1 ELSE 0 END) AS BIGINT) AS inter_cnt
  FROM uk u
  LEFT JOIN rk a ON a.col = u.c1 AND a.h = u.h
  LEFT JOIN rk b ON b.col = u.c2 AND b.h = u.h
  GROUP BY 1, 2
)
SELECT p.c1, p.c2, p.n1, p.n2, u.k_used, u.inter_cnt,
       (1000000 * u.inter_cnt) // u.k_used AS jaccard_ppm
FROM prs p JOIN ust u ON p.c1 = u.c1 AND p.c2 = u.c2
"""


KMV_COL_OVERLAP_ORACLE = _kmv_col_oracle()


#: Candidate column combinations the key profiler tests (single
#: columns, the true composite key of lineitem, and non-keys the
#: algorithm must grade rather than bless).
UCC_CANDIDATES = [
    ("orders", ["o_orderkey"]),
    ("orders", ["o_custkey"]),
    ("orders", ["o_custkey", "o_orderdate"]),
    ("lineitem", ["l_orderkey"]),
    ("lineitem", ["l_orderkey", "l_linenumber"]),
    ("lineitem", ["l_partkey", "l_suppkey"]),
    ("customer", ["c_custkey"]),
    ("customer", ["c_nationkey", "c_mktsegment"]),
]


def profile_unique_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unique-column-combination (candidate-key) discovery — the third
    leg of the Metanome profiling trio next to
    :func:`profile_functional_deps` (FDs) and
    :func:`profile_inclusion_deps` (INDs): a column set is a key iff
    its distinct count equals the row count; near-keys are graded by
    duplication ppm (how many rows share an already-seen key value),
    which is what decides whether a column set can serve as a merge/
    upsert key on dirty data.

    NULL semantics (r7 ADVICE): the distinct count is over the
    NULL-SAFE composite — ``countDistinct(struct(*cols))`` here,
    ``count(DISTINCT ROW(...))`` in the oracle — so a tuple containing
    NULLs counts as a value and two all-NULL rows are duplicates.
    That is the Metanome UCC convention for dirty data (bare
    ``countDistinct(a, b)`` silently DROPS any row with a NULL in any
    column, which both inflates is_key and diverges from the tuple
    count the SQL oracle computes); SQL UNIQUE-constraint semantics
    (NULLs never conflict) would instead need a NULL-row filter on
    both sides.

    Scale shape: one combiner-friendly distinct-count aggregate per
    candidate in a constant-size UNION; integer ppm readout.
    """
    outs = []
    for t, cols in UCC_CANDIDATES:
        tb = load_table(spark, sf_dir, t)
        agg = tb.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct(F.struct(*[F.col(c) for c in cols]))
            .alias("n_distinct"),
        )
        outs.append(agg.select(
            F.lit(f"{t}({', '.join(cols)})").alias("candidate"),
            F.col("n_rows").cast("long").alias("n_rows"),
            F.col("n_distinct").cast("long").alias("n_distinct"),
            (F.col("n_distinct") == F.col("n_rows")).alias("is_key"),
            F.expr("(1000000 * (n_rows - n_distinct)) div n_rows")
            .cast("long").alias("duplication_ppm"),
        ))
    result = outs[0]
    for d in outs[1:]:
        result = result.unionByName(d)
    return result


def _ucc_oracle() -> str:
    legs = []
    for t, cols in UCC_CANDIDATES:
        tup = ", ".join(cols)
        legs.append(f"""
SELECT '{t}({tup})' AS candidate,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(DISTINCT ROW({tup})) AS BIGINT) AS n_distinct,
       count(DISTINCT ROW({tup})) = count(*) AS is_key,
       (1000000 * (CAST(count(*) AS BIGINT)
                   - CAST(count(DISTINCT ROW({tup})) AS BIGINT)))
         // CAST(count(*) AS BIGINT) AS duplication_ppm
FROM {t}""")
    return " UNION ALL ".join(legs)


UNIQUE_KEYS_ORACLE = _ucc_oracle()


#: String columns the pattern profiler scans.
PATTERN_COLUMNS = [("customer", "c_name"), ("part", "p_name"),
                   ("orders", "o_orderpriority")]

_LOWER = "abcdefghijklmnopqrstuvwxyz"
_UPPER = _LOWER.upper()


def _pattern_expr(col: F.Column) -> F.Column:
    """Collapsed value pattern (profiler classic): digits → 9, lower →
    a, upper → A, runs of each meta-char collapsed (6 replace passes
    cover values to length 64); punctuation passes through."""
    p = F.translate(col, "0123456789", "9" * 10)
    p = F.translate(p, _LOWER, "a" * 26)
    p = F.translate(p, _UPPER, "A" * 26)
    for _ in range(6):
        for ch in "9aA":
            p = F.replace(p, F.lit(ch * 2), F.lit(ch))
    return p


def _pattern_sql(expr: str) -> str:
    p = f"translate({expr}, '0123456789', '{'9' * 10}')"
    p = f"translate({p}, '{_LOWER}', '{'a' * 26}')"
    p = f"translate({p}, '{_UPPER}', '{'A' * 26}')"
    for _ in range(6):
        for ch in "9aA":
            p = f"replace({p}, '{ch * 2}', '{ch}')"
    return p


def profile_value_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-pattern histogram (the classic data-profiler feature:
    'this column is 99.8% ``Aa#9``, plus 40 rows of something else'):
    map every string value to its collapsed character-class pattern and
    report the top 5 patterns per column with counts — the fastest way
    to spot mixed formats, stray whitespace, or an upstream schema
    drift in a column that is 'just strings'.

    The pattern itself is a translate/replace Catalyst chain (the
    soundex idiom — no UDF, identical algebra in both engines); cost is
    one map-side pass per column plus a hash aggregate whose output is
    pattern-domain-bounded, and the top-5 window runs over that bounded
    aggregate, never over rows.
    """
    outs = []
    for t, c in PATTERN_COLUMNS:
        outs.append(
            load_table(spark, sf_dir, t).select(
                F.lit(f"{t}.{c}").alias("col"),
                _pattern_expr(F.col(c).cast("string")).alias("pattern"),
            )
        )
    vals = outs[0]
    for o in outs[1:]:
        vals = vals.unionByName(o)
    per = vals.groupBy("col", "pattern").agg(
        F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("col").orderBy(F.desc("n"), "pattern")
    return (
        per.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("col", "pattern", F.col("n").cast("long").alias("n"),
                F.col("rank").cast("int").alias("rank"))
    )


def _pattern_oracle() -> str:
    branches = " UNION ALL ".join(
        f"SELECT '{t}.{c}' AS col, "
        f"{_pattern_sql(f'CAST({c} AS VARCHAR)')} AS pattern FROM {t}"
        for t, c in PATTERN_COLUMNS)
    return f"""
WITH vals AS ({branches}),
per AS (
  SELECT col, pattern, CAST(count(*) AS BIGINT) AS n
  FROM vals GROUP BY 1, 2
)
SELECT col, pattern, n, CAST(rank AS INT) AS rank FROM (
  SELECT col, pattern, n,
         row_number() OVER (PARTITION BY col
                            ORDER BY n DESC, pattern) AS rank
  FROM per
) WHERE rank <= 5
"""


VALUE_PATTERNS_ORACLE = _pattern_oracle()


#: Relative-difference bucket edges (ppm) for the reconciliation report.
RECONCILE_EDGES = (0, 100, 1000, 10000, 100000, 1000000)


def dq_reconcile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table reconciliation audit: does ``orders.o_totalprice``
    equal the order's summed line charges
    ``Σ extendedprice·(1−discount)·(1+tax)``?  The classic
    header-vs-detail consistency gate a warehouse runs before trusting
    either table (on this driver's synthetic data the invariant does
    NOT hold, and the report says so loudly — that is the point of the
    audit).

    Output is the relative-difference histogram (one row per ppm
    bucket + one for headerless/detail-less orders), not per-order
    rows: the auditor's readout, and constant-size at any scale.
    Exactness: charges are exact DECIMAL sums; the single relative
    division per order is double with identical operands; bucketing
    compares the floored ppm to integer edges.
    """
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    ep = F.col("l_extendedprice").cast("decimal(18,2)")
    dc = F.col("l_discount").cast("decimal(18,2)")
    tx = F.col("l_tax").cast("decimal(18,2)")
    charges = li.groupBy("l_orderkey").agg(
        F.sum((ep * (F.lit(1) - dc) * (F.lit(1) + tx))
              .cast("decimal(38,6)")).alias("charge"))
    j = o.select(
        "o_orderkey",
        F.col("o_totalprice").cast("decimal(18,2)").alias("total"),
    ).join(charges, o["o_orderkey"] == charges["l_orderkey"], "left")
    ppm = F.floor(
        F.abs(F.col("total").cast("double")
              - F.col("charge").cast("double"))
        / F.col("total").cast("double") * F.lit(1000000.0)
    ).cast("long")
    bucket = F.when(F.col("charge").isNull(), F.lit("no_lineitems"))
    lo = None
    for edge in RECONCILE_EDGES:
        label = f"<={edge}ppm" if edge else "exact"
        cond = (ppm <= edge) if edge else (ppm == 0)
        bucket = bucket.when(cond, F.lit(label))
        lo = edge
    bucket = bucket.otherwise(F.lit(f">{lo}ppm"))
    return (
        j.select(bucket.alias("bucket"))
        .groupBy("bucket").agg(F.count(F.lit(1)).alias("n_orders"))
    )


def _reconcile_bucket_sql() -> str:
    cases = ["WHEN charge IS NULL THEN 'no_lineitems'"]
    for edge in RECONCILE_EDGES:
        if edge:
            cases.append(f"WHEN ppm <= {edge} THEN '<={edge}ppm'")
        else:
            cases.append("WHEN ppm = 0 THEN 'exact'")
    cases.append(f"ELSE '>{RECONCILE_EDGES[-1]}ppm'")
    return "CASE " + " ".join(cases) + " END"


RECONCILE_ORACLE = f"""
WITH charges AS (
  SELECT l_orderkey,
         sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                  * (1 - CAST(l_discount AS DECIMAL(18,2)))
                  * (1 + CAST(l_tax AS DECIMAL(18,2)))
                  AS DECIMAL(38,6))) AS charge
  FROM lineitem GROUP BY 1
),
j AS (
  SELECT CAST(floor(abs(CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE)
                        - CAST(charge AS DOUBLE))
                    / CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE)
                    * 1000000.0) AS BIGINT) AS ppm,
         charge
  FROM orders LEFT JOIN charges ON o_orderkey = l_orderkey
)
SELECT {_reconcile_bucket_sql()} AS bucket,
       CAST(count(*) AS BIGINT) AS n_orders
FROM j GROUP BY 1
"""


#: t-closeness threshold (ppm of the [0,1] ordered-EMD scale): classes
#: whose sensitive-attribute distribution sits further than this from
#: the global one leak attribute information even when k-anonymous.
T_CLOSE_PPM = 150000


def dq_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit — the third rung of the k-anonymity /
    l-diversity ladder: a class can be large (k) and diverse (l) yet
    still leak if its sensitive-value DISTRIBUTION differs from the
    table's (e.g. a class that is 90% '1-URGENT' when the corpus is
    20%).  Distance is the Earth Mover's Distance for ordered
    attributes (Li et al. 2007): ``t = (1/(m−1)) Σᵢ |CumP_i − CumQ_i|``
    over the m ordinal sensitive values.

    Exactness + shape: the global distribution is a bounded-domain
    m-row aggregate collected to the driver (the BPE-argmax
    control-plane pattern), so the per-class EMD becomes m conditional
    sums with LITERAL global cumulatives — ONE hash aggregate per
    class, no densifying (class × domain) fan-out, no window.  Every
    cumulative difference ``cumg_j·N − cum_j·n_g`` is an exact
    DECIMAL(38,0) product; the single division happens once per class
    at readout, floored to integer ppm.
    """
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    joined = o.join(
        c, o["o_custkey"] == c["c_custkey"]
    ).select("c_nationkey", "c_mktsegment",
             F.col("o_orderpriority").alias("sens"))
    glob = (
        joined.groupBy("sens").agg(F.count(F.lit(1)).alias("ct"))
        .orderBy("sens").collect()
    )  # bounded sensitive domain (5 priorities) — control-plane collect
    if len(glob) < 2:
        raise ValueError("t-closeness needs >= 2 sensitive values")
    n_total = sum(r["ct"] for r in glob)
    cums, run = [], 0
    for r in glob:
        run += r["ct"]
        cums.append((r["sens"], run))
    m = len(cums)
    counts = joined.groupBy("c_nationkey", "c_mktsegment", "sens").agg(
        F.count(F.lit(1)).alias("cnt"))
    cg = [
        F.sum(F.when(F.col("sens") <= F.lit(p), F.col("cnt"))
              .otherwise(F.lit(0))).alias(f"cg{i}")
        for i, (p, _) in enumerate(cums)
    ]
    per_class = counts.groupBy("c_nationkey", "c_mktsegment").agg(
        F.sum("cnt").alias("ng"), *cg)
    diff_sum = None
    for i, (_, cum_j) in enumerate(cums):
        d = F.abs(
            F.col(f"cg{i}").cast("decimal(38,0)") * F.lit(n_total)
            - F.lit(cum_j) * F.col("ng").cast("decimal(38,0)")
        )
        diff_sum = d if diff_sum is None else diff_sum + d
    t_ppm = F.floor(
        F.lit(1000000.0) * diff_sum.cast("double")
        / (F.lit(float(m - 1)) * F.col("ng").cast("double")
           * F.lit(float(n_total)))
    ).cast("long")
    return per_class.select(
        "c_nationkey", "c_mktsegment",
        F.col("ng").cast("long").alias("n_rows"),
        t_ppm.alias("t_ppm"),
        (t_ppm > T_CLOSE_PPM).alias("above_t"),
    )


T_CLOSENESS_ORACLE = f"""
WITH joined AS (
  SELECT c_nationkey, c_mktsegment, o_orderpriority AS sens
  FROM orders JOIN customer ON o_custkey = c_custkey
),
gdist AS (
  SELECT sens, count(*) AS ct FROM joined GROUP BY 1
),
gcum AS (
  SELECT sens, sum(ct) OVER (ORDER BY sens) AS cum,
         sum(ct) OVER () AS n_total,
         count(*) OVER () AS m
  FROM gdist
),
counts AS (
  SELECT c_nationkey, c_mktsegment, sens, count(*) AS cnt
  FROM joined GROUP BY 1, 2, 3
),
classes AS (
  SELECT c_nationkey, c_mktsegment, sum(cnt) AS ng
  FROM counts GROUP BY 1, 2
),
dense AS (
  SELECT cl.c_nationkey, cl.c_mktsegment, cl.ng,
         g.sens, g.cum, g.n_total, g.m
  FROM classes cl CROSS JOIN gcum g
),
cumg AS (
  SELECT d.c_nationkey, d.c_mktsegment, d.ng, d.cum, d.n_total, d.m,
         (SELECT coalesce(sum(c.cnt), 0) FROM counts c
          WHERE c.c_nationkey = d.c_nationkey
            AND c.c_mktsegment = d.c_mktsegment
            AND c.sens <= d.sens) AS cg
  FROM dense d
),
per_class AS (
  SELECT c_nationkey, c_mktsegment, max(ng) AS ng,
         max(n_total) AS n_total, max(m) AS m,
         sum(abs(CAST(cg AS DECIMAL(38,0)) * n_total
                 - CAST(cum AS DECIMAL(38,0)) * ng)) AS diff_sum
  FROM cumg GROUP BY 1, 2
)
SELECT c_nationkey, c_mktsegment,
       CAST(ng AS BIGINT) AS n_rows,
       CAST(floor(1000000.0 * CAST(diff_sum AS DOUBLE)
                  / (CAST(m - 1 AS DOUBLE) * ng * n_total))
            AS BIGINT) AS t_ppm,
       CAST(floor(1000000.0 * CAST(diff_sum AS DOUBLE)
                  / (CAST(m - 1 AS DOUBLE) * ng * n_total))
            AS BIGINT) > {T_CLOSE_PPM} AS above_t
FROM per_class
"""


#: Directed inclusion-dependency candidates (dependent column ⊆
#: referenced column) — the foreign-key discovery matrix: the six real
#: FK edges of the schema, the reverse direction of two of them (held
#: only when every referenced row is used), and one type-compatible
#: nonsense pair the algorithm must reject.
IND_CANDIDATES = [
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation", "n_regionkey", "region", "r_regionkey"),
    ("customer", "c_custkey", "orders", "o_custkey"),
    ("part", "p_partkey", "lineitem", "l_partkey"),
    ("orders", "o_orderkey", "customer", "c_custkey"),
]


def profile_inclusion_deps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inclusion-dependency (foreign-key candidate) discovery across the
    schema — the cross-table companion to
    :func:`profile_functional_deps`: ``A ⊆ B`` holds iff every distinct
    value of the dependent column appears in the referenced column.
    Reports exact INDs and grades the near-misses by containment ppm
    (Metanome-style), which is how profilers rank FK candidates on
    dirty data.

    Scale shape: one leg per candidate in a constant-size UNION; each
    leg aggregates BOTH sides to distinct values first (combiner-
    friendly, so the join carries one row per distinct key, never per
    row), then one left join + one count — AQE picks broadcast for the
    small dimension sides.  Integer ppm readout.
    """
    outs = []
    for dt, dc, rt, rc_ in IND_CANDIDATES:
        da = load_table(spark, sf_dir, dt).select(
            F.col(dc).cast("long").alias("v")).distinct()
        db = load_table(spark, sf_dir, rt).select(
            F.col(rc_).cast("long").alias("v")).distinct() \
            .withColumn("present", F.lit(1))
        agg = da.join(db, "v", "left").agg(
            F.count(F.lit(1)).alias("n_distinct"),
            F.sum(F.when(F.col("present").isNull(), F.lit(1))
                  .otherwise(F.lit(0))).alias("n_missing"),
        )
        outs.append(agg.select(
            F.lit(f"{dt}.{dc}").alias("dep"),
            F.lit(f"{rt}.{rc_}").alias("ref"),
            F.col("n_distinct").cast("long").alias("n_distinct"),
            F.col("n_missing").cast("long").alias("n_missing"),
            (F.col("n_missing") == 0).alias("holds"),
            F.expr("(1000000 * (n_distinct - n_missing)) div n_distinct")
            .cast("long").alias("contained_ppm"),
        ))
    result = outs[0]
    for d in outs[1:]:
        result = result.unionByName(d)
    return result


def _ind_oracle() -> str:
    legs = []
    for dt, dc, rt, rc_ in IND_CANDIDATES:
        legs.append(f"""
SELECT '{dt}.{dc}' AS dep, '{rt}.{rc_}' AS ref,
       CAST(count(*) AS BIGINT) AS n_distinct,
       CAST(count(*) FILTER (WHERE r.v IS NULL) AS BIGINT) AS n_missing,
       count(*) FILTER (WHERE r.v IS NULL) = 0 AS holds,
       (1000000 * (CAST(count(*) AS BIGINT)
                   - CAST(count(*) FILTER (WHERE r.v IS NULL) AS BIGINT)))
         // CAST(count(*) AS BIGINT) AS contained_ppm
FROM (SELECT DISTINCT CAST({dc} AS BIGINT) AS v FROM {dt}) d
LEFT JOIN (SELECT DISTINCT CAST({rc_} AS BIGINT) AS v FROM {rt}) r
  USING (v)""")
    return " UNION ALL ".join(legs)


INCLUSION_DEPS_ORACLE = _ind_oracle()


SPECS: dict[str, QuerySpec] = {
    "dq_t_closeness": QuerySpec(dq_t_closeness, T_CLOSENESS_ORACLE),
    "dq_reconcile_orders": QuerySpec(dq_reconcile_orders,
                                     RECONCILE_ORACLE),
    "profile_value_patterns": QuerySpec(profile_value_patterns,
                                        VALUE_PATTERNS_ORACLE),
    "profile_unique_keys": QuerySpec(profile_unique_keys,
                                     UNIQUE_KEYS_ORACLE),
    "ev_acf_lags": QuerySpec(ev_acf_lags, ACF_LAGS_ORACLE),
    "profile_column_kmv_overlap": QuerySpec(profile_column_kmv_overlap,
                                             KMV_COL_OVERLAP_ORACLE),
    "profile_inclusion_deps": QuerySpec(profile_inclusion_deps,
                                        INCLUSION_DEPS_ORACLE),
    "dq_k_anonymity": QuerySpec(dq_k_anonymity, K_ANONYMITY_ORACLE),
    "dq_l_diversity": QuerySpec(dq_l_diversity, L_DIVERSITY_ORACLE),
    "dq_dp_noisy_counts": QuerySpec(dq_dp_noisy_counts, DP_NOISY_ORACLE),
    "profile_ndv_hll": QuerySpec(profile_ndv_hll, _ndv_oracle()),
    "corpus_stats_incremental_merge": QuerySpec(
        corpus_stats_incremental_merge, CORPUS_STATS_MERGE_ORACLE),
    "dq_freshness_events": QuerySpec(dq_freshness_events,
                                     DQ_FRESHNESS_ORACLE),
    "profile_partition_balance": QuerySpec(profile_partition_balance,
                                           PARTITION_BALANCE_ORACLE),
    "profile_drift_daily": QuerySpec(profile_drift_daily,
                                     DRIFT_DAILY_ORACLE),
    "profile_columns": QuerySpec(profile_columns, PROFILE_ORACLE),
    "dq_validate_orders": QuerySpec(dq_validate_orders, DQ_ORACLE),
    "dq_validate_documents": QuerySpec(dq_validate_documents,
                                       DQ_DOCS_ORACLE),
    "sample_stratified": QuerySpec(sample_stratified, STRATIFIED_ORACLE),
    "profile_functional_deps": QuerySpec(profile_functional_deps,
                                           FD_ORACLE),
    "profile_join_key_skew": QuerySpec(profile_join_key_skew,
                                       SKEW_PROFILE_ORACLE),
    "ev_anomaly_zscore": QuerySpec(ev_anomaly_zscore, ANOMALY_ORACLE),
    "ev_cusum_changepoint": QuerySpec(ev_cusum_changepoint, CUSUM_ORACLE),
    "ev_runs_test": QuerySpec(ev_runs_test, RUNS_TEST_ORACLE),
    "ev_autocorr_lag1": QuerySpec(ev_autocorr_lag1, AUTOCORR_ORACLE),
    "ev_anomaly_seasonal_zscore": QuerySpec(ev_anomaly_seasonal_zscore,
                                            SEASONAL_ANOMALY_ORACLE),
    "ev_cusum_drop": QuerySpec(ev_cusum_drop, CUSUM_DROP_ORACLE),
}
