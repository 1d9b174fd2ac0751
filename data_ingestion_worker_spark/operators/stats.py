"""Statistical aggregates with engine-exact determinism.

Two classes of statistics and how each stays reproducible:

- **Order statistics** (``percentile``): Spark's exact ``percentile`` and
  DuckDB's ``quantile_cont`` share linear-interpolation semantics, so the
  values agree bit-for-bit.  (At 100 TB you would switch to
  ``approx_percentile`` — t-digest — and accept engine-specific results;
  the exact form is the verifiable baseline.)
- **Moment statistics** (variance, correlation): the built-in one-pass
  implementations accumulate doubles in shuffle order — not reproducible
  across engines or even across runs under AQE.  Here they are computed
  from exact DECIMAL power sums (n, Σx, Σx², Σxy) via the algebraic
  identities, with a single double division/sqrt at the end: associative,
  order-independent, identical in both engines.  The power sums are also
  the *distributed-friendly* form — each is a map-side-combinable SUM.

The event-type pair tests (Welch, Cohen's d, TOST, two-proportion z)
enumerate pairs with ``events._type_pairs``, the first three over the
milli-quantized sums ``events._milli_type_stats``; ``stats_ljung_box``
builds on ``events._type_series`` and ``events._lag_pairs``.  Outputs
are floor-truncated with ``text._floor6``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.checkpoint import cut_lineage
from ..functions.quantiles import distributed_exact_quantiles
from ..spec import QuerySpec
from ..tables import load_table
from .events import (
    _HOUR_INDEX_SQL,
    _MILLI_TYPE_STATS_SQL,
    _TYPE_PAIR_KEYS_SQL,
    _TYPE_PAIRS_FROM_SQL,
    _epoch_s,
    _hour_index,
    _lag_pairs,
    _lag_pairs_sql,
    _milli_type_stats,
    _side,
    _side_mean,
    _side_sem2,
    _side_ssd,
    _type_pairs,
    _type_series,
)
from .text import _floor6


def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact p50/p90/p99 order totals per priority.

    Computed via the distributed order-statistic helper (range
    partition + per-partition rank + offset broadcast) instead of the
    ``percentile`` aggregate: bit-identical readout, but no
    per-distinct-value buffer on a single reducer per group.
    """
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("priority"), "o_totalprice"
    )
    return distributed_exact_quantiles(
        o, "o_totalprice",
        [("p50", 0.5), ("p90", 0.9), ("p99", 0.99)],
        group_cols=["priority"],
    )


PERCENTILES_ORACLE = """
SELECT o_orderpriority AS priority,
       quantile_cont(o_totalprice, 0.5) AS p50,
       quantile_cont(o_totalprice, 0.9) AS p90,
       quantile_cont(o_totalprice, 0.99) AS p99
FROM orders GROUP BY 1
"""


def agg_variance_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population variance of order totals per priority, from exact
    DECIMAL power sums: var = (n·Σx² − (Σx)²) / n²."""
    o = load_table(spark, sf_dir, "orders")
    x = F.col("o_totalprice").cast("decimal(18,2)")
    agg = o.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum((x * x).cast("decimal(38,4)")).alias("sxx"),
    )
    num = (F.col("n") * F.col("sxx")).cast("decimal(38,4)") \
        - (F.col("sx") * F.col("sx")).cast("decimal(38,4)")
    # Round to 3 decimals: the DECIMAL(38)->double conversion may differ
    # by one ulp between engines (Java BigDecimal vs DuckDB int128 path);
    # the statistic itself is exact far beyond that.
    return agg.select(
        "priority", "n",
        F.round(
            num.cast("double") / (F.col("n") * F.col("n")).cast("double"), 3
        ).alias("var_pop"),
    )


VARIANCE_ORACLE = """
SELECT priority, n,
       round(CAST(CAST(n AS DECIMAL(38,4)) * sxx - sx * sx AS DOUBLE)
             / CAST(n * n AS DOUBLE), 3) AS var_pop
FROM (
  SELECT o_orderpriority AS priority, CAST(count(*) AS BIGINT) AS n,
         sum(CAST(o_totalprice AS DECIMAL(18,2))) AS sx,
         sum(CAST(CAST(o_totalprice AS DECIMAL(18,2))
                  * CAST(o_totalprice AS DECIMAL(18,2)) AS DECIMAL(38,4)))
         AS sxx
  FROM orders GROUP BY 1
)
"""


def agg_corr_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation of quantity vs extended price per return flag,
    from exact power sums:
    corr = (n·Σxy − Σx·Σy) / sqrt(n·Σx² − (Σx)²) / sqrt(n·Σy² − (Σy)²)."""
    li = load_table(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("decimal(18,2)")
    y = F.col("l_extendedprice").cast("decimal(18,2)")
    agg = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum((x * x).cast("decimal(38,4)")).alias("sxx"),
        F.sum((y * y).cast("decimal(38,4)")).alias("syy"),
        F.sum((x * y).cast("decimal(38,4)")).alias("sxy"),
    )
    n = F.col("n")
    num = (n * F.col("sxy")).cast("decimal(38,4)") \
        - (F.col("sx") * F.col("sy")).cast("decimal(38,4)")
    denx = (n * F.col("sxx")).cast("decimal(38,4)") \
        - (F.col("sx") * F.col("sx")).cast("decimal(38,4)")
    deny = (n * F.col("syy")).cast("decimal(38,4)") \
        - (F.col("sy") * F.col("sy")).cast("decimal(38,4)")
    corr = num.cast("double") / (
        F.sqrt(denx.cast("double")) * F.sqrt(deny.cast("double"))
    )
    return agg.select("l_returnflag", "n", F.round(corr, 10).alias("corr_qp"))


CORR_ORACLE = """
SELECT l_returnflag, n,
       round(CAST(CAST(n AS DECIMAL(38,4)) * sxy - sx * sy AS DOUBLE)
             / (sqrt(CAST(CAST(n AS DECIMAL(38,4)) * sxx - sx * sx AS DOUBLE))
                * sqrt(CAST(CAST(n AS DECIMAL(38,4)) * syy - sy * sy
                            AS DOUBLE))), 10) AS corr_qp
FROM (
  SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
         sum(CAST(l_quantity AS DECIMAL(18,2))) AS sx,
         sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS sy,
         sum(CAST(CAST(l_quantity AS DECIMAL(18,2))
                  * CAST(l_quantity AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS sxx,
         sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                  * CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS syy,
         sum(CAST(CAST(l_quantity AS DECIMAL(18,2))
                  * CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS sxy
  FROM lineitem GROUP BY 1
)
"""


def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS with grouping_id disambiguation.

    Complements the CUBE/ROLLUP operators: only the requested grouping
    combinations are computed (one Expand branch each), and grouping_id
    lets the consumer tell a genuine NULL from an aggregated-out column
    — both engines share the first-column-is-MSB bitmask convention.
    """
    from ..tables import register_views
    register_views(spark, sf_dir, ["orders"])
    return spark.sql("""
        SELECT o_orderstatus, o_orderpriority,
               CAST(count(*) AS BIGINT) AS n,
               CAST(grouping_id(o_orderstatus, o_orderpriority) AS INT)
                 AS gid
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """)


GROUPING_SETS_ORACLE = """
SELECT o_orderstatus, o_orderpriority, CAST(count(*) AS BIGINT) AS n,
       CAST(GROUPING(o_orderstatus, o_orderpriority) AS INT) AS gid
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
"""

HIST_WIDTH = 25000


def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of order totals.

    Bucketing is ``floor(x / width)`` — one exact double division per
    row, no data-dependent bucket boundaries, so the aggregation is a
    single partial+final hash agg (the same shape at any scale; compare
    equi-depth histograms, which need a percentile pre-pass).
    """
    o = load_table(spark, sf_dir, "orders")
    b = F.floor(F.col("o_totalprice") / F.lit(float(HIST_WIDTH)))
    return o.groupBy(b.cast("bigint").alias("bucket")).agg(
        F.count(F.lit(1)).alias("n"),
        F.min("o_totalprice").alias("lo"),
        F.max("o_totalprice").alias("hi"),
    )


HISTOGRAM_ORACLE = f"""
SELECT CAST(floor(o_totalprice / {HIST_WIDTH}.0) AS BIGINT) AS bucket,
       CAST(count(*) AS BIGINT) AS n,
       min(o_totalprice) AS lo, max(o_totalprice) AS hi
FROM orders GROUP BY 1
"""


def stats_linreg_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OLS regression of extended price on quantity per return flag,
    from the same exact DECIMAL power sums as :func:`agg_corr_exact`:

    slope     = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)
    intercept = (Σy − slope·Σx) / n

    Every accumulator is a map-side-combinable DECIMAL SUM (one shuffle
    of one row per flag, any cluster size); only the final two divisions
    run in double, and IEEE division is correctly rounded, so both
    engines produce bit-identical statistics regardless of row order.
    """
    li = load_table(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("decimal(18,2)")
    y = F.col("l_extendedprice").cast("decimal(18,2)")
    agg = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum((x * x).cast("decimal(38,4)")).alias("sxx"),
        F.sum((x * y).cast("decimal(38,4)")).alias("sxy"),
    )
    n = F.col("n")
    num = (n * F.col("sxy")).cast("decimal(38,4)") \
        - (F.col("sx") * F.col("sy")).cast("decimal(38,4)")
    den = (n * F.col("sxx")).cast("decimal(38,4)") \
        - (F.col("sx") * F.col("sx")).cast("decimal(38,4)")
    slope = num.cast("double") / den.cast("double")
    intercept = (F.col("sy").cast("double") - slope
                 * F.col("sx").cast("double")) / n.cast("double")
    return agg.select(
        "l_returnflag", "n",
        F.round(slope, 6).alias("slope"),
        F.round(intercept, 4).alias("intercept"),
    )


LINREG_ORACLE = """
SELECT l_returnflag, n,
       round(slope, 6) AS slope,
       round((CAST(sy AS DOUBLE) - slope * CAST(sx AS DOUBLE))
             / CAST(n AS DOUBLE), 4) AS intercept
FROM (
  SELECT *,
         CAST(CAST(n AS DECIMAL(38,4)) * sxy - sx * sy AS DOUBLE)
         / CAST(CAST(n AS DECIMAL(38,4)) * sxx - sx * sx AS DOUBLE) AS slope
  FROM (
    SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
           sum(CAST(l_quantity AS DECIMAL(18,2))) AS sx,
           sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS sy,
           sum(CAST(CAST(l_quantity AS DECIMAL(18,2))
                    * CAST(l_quantity AS DECIMAL(18,2))
                    AS DECIMAL(38,4))) AS sxx,
           sum(CAST(CAST(l_quantity AS DECIMAL(18,2))
                    * CAST(l_extendedprice AS DECIMAL(18,2))
                    AS DECIMAL(38,4))) AS sxy
    FROM lineitem GROUP BY 1
  )
)
"""


def agg_mode_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modal order priority per order status with a pinned tie-break.

    The built-in ``mode()`` in both engines picks an arbitrary winner on
    ties, so the operator is specified as the deterministic composition:
    count per (group, value), then rank by (count DESC, value ASC) and
    keep rank 1.  The count pre-aggregation means the window runs over
    |statuses|×|priorities| rows — constant-size whatever the fact-table
    scale — instead of windowing the raw scan.
    """
    from pyspark.sql.window import Window

    o = load_table(spark, sf_dir, "orders")
    cnt = o.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.col("cnt").desc(), F.col("o_orderpriority").asc())
    return (
        cnt.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_orderstatus",
            F.col("o_orderpriority").alias("modal_priority"),
            F.col("cnt").alias("modal_count"),
        )
    )


MODE_ORACLE = """
SELECT o_orderstatus, o_orderpriority AS modal_priority,
       cnt AS modal_count
FROM (
  SELECT o_orderstatus, o_orderpriority, CAST(count(*) AS BIGINT) AS cnt,
         row_number() OVER (PARTITION BY o_orderstatus
                            ORDER BY count(*) DESC, o_orderpriority ASC)
           AS rn
  FROM orders GROUP BY 1, 2
)
WHERE rn = 1
"""


HIST_BINS = 64
HQ_PCTS = [("p50", 0.5), ("p90", 0.9), ("p99", 0.99)]


def sketch_hist_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram-sketch quantiles vs the exact order statistics — the
    mergeable scale path for percentiles, with its error made visible.

    The equi-width bin counts are an algebraic aggregate (per-partition
    partials add), so at 100 TB the shuffle carries HIST_BINS counters
    per group instead of every value; the quantile readout is a
    cumulative scan over the tiny (group x bins) table.  Exact
    ``percentile`` runs alongside as ground truth (Spark's exact
    percentile and DuckDB's quantile_cont share interpolation semantics)
    — the histogram's abs_err column is the accuracy contract, exactly
    as rel_err is for the KMV/HLL sketches.  Assumes hi > lo per group
    (degenerate groups would need a one-bin special case).
    """
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events").select("event_type", "value")
    stats = e.groupBy("event_type").agg(
        F.min("value").alias("lo"), F.max("value").alias("hi"),
        F.count(F.lit(1)).alias("n"),
    )
    bin_ = F.least(
        F.lit(HIST_BINS - 1),
        F.floor((F.col("value") - F.col("lo"))
                / (F.col("hi") - F.col("lo")) * HIST_BINS),
    ).cast("int")
    counts = (
        e.join(F.broadcast(stats), "event_type")
        .groupBy("event_type", "lo", "hi", "n", bin_.alias("bin"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    wc = Window.partitionBy("event_type").orderBy("bin")
    pp = F.explode(F.array(*[
        F.struct(F.lit(name).alias("pct"), F.lit(p).alias("p"))
        for name, p in HQ_PCTS
    ])).alias("pp")
    hit = (
        counts.withColumn("cum", F.sum("cnt").over(wc))
        .select("event_type", "lo", "hi", "n", "bin", "cum", pp)
        .select("event_type", "lo", "hi", "bin", "cum", "pp.pct", "pp.p",
                (F.col("p") * F.col("n")).alias("target"))
        .filter(F.col("cum") >= F.col("target"))
        .groupBy("event_type", "pct")
        .agg(F.min("bin").alias("qbin"),
             F.max("lo").alias("lo"), F.max("hi").alias("hi"))
    )
    est = hit.select(
        "event_type", "pct",
        (F.col("lo") + (F.col("qbin") + 0.5)
         * (F.col("hi") - F.col("lo")) / HIST_BINS).alias("est_raw"),
    )
    # Ground-truth half via the distributed order-statistic helper —
    # same bits as the percentile aggregate, no per-group value buffer.
    exact = (
        distributed_exact_quantiles(
            e, "value", HQ_PCTS, group_cols=["event_type"]
        )
        .select(
            "event_type",
            F.expr("stack(3, " + ", ".join(
                f"'{name}', {name}" for name, _ in HQ_PCTS
            ) + ") as (pct, exact_raw)"),
        )
    )
    err = F.abs(F.col("est_raw") - F.col("exact_raw"))
    return est.join(exact, ["event_type", "pct"]).select(
        "event_type", "pct",
        (F.floor(F.col("est_raw") * 10000.0) / 10000.0).alias("est_value"),
        (F.floor(F.col("exact_raw") * 10000.0) / 10000.0).alias("exact_value"),
        (F.floor(err * 10000.0) / 10000.0).alias("abs_err"),
    )


_HQ_EXACT_SELECTS = " UNION ALL ".join(
    f"SELECT event_type, '{name}' AS pct, quantile_cont(value, {p}) "
    f"AS exact_raw FROM events GROUP BY 1"
    for name, p in HQ_PCTS
)
_HQ_PCT_VALUES = ", ".join(f"('{name}', {p})" for name, p in HQ_PCTS)

HIST_QUANTILES_ORACLE = f"""
WITH stats AS (
  SELECT event_type, min(value) AS lo, max(value) AS hi, count(*) AS n
  FROM events GROUP BY 1
),
counts AS (
  SELECT e.event_type, lo, hi, n,
         CAST(least({HIST_BINS - 1},
                    floor((value - lo) / (hi - lo) * {HIST_BINS})) AS INT)
         AS bin,
         count(*) AS cnt
  FROM events e JOIN stats USING (event_type)
  GROUP BY 1, 2, 3, 4, 5
),
cum AS (
  SELECT *, sum(cnt) OVER (PARTITION BY event_type ORDER BY bin) AS cum
  FROM counts
),
pp AS (SELECT * FROM (VALUES {_HQ_PCT_VALUES}) v(pct, p)),
hit AS (
  SELECT event_type, pct, min(bin) AS qbin,
         max(lo) AS lo, max(hi) AS hi
  FROM cum CROSS JOIN pp
  WHERE cum >= p * n
  GROUP BY 1, 2
),
est AS (
  SELECT event_type, pct,
         lo + (qbin + 0.5) * (hi - lo) / {HIST_BINS} AS est_raw
  FROM hit
),
exact AS ({_HQ_EXACT_SELECTS})
SELECT est.event_type AS event_type, est.pct AS pct,
       floor(est_raw * 10000.0) / 10000.0 AS est_value,
       floor(exact_raw * 10000.0) / 10000.0 AS exact_value,
       floor(abs(est_raw - exact_raw) * 10000.0) / 10000.0 AS abs_err
FROM est JOIN exact ON est.event_type = exact.event_type
                   AND est.pct = exact.pct
"""


def stats_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence test of event_type x hour-of-day.

    Every per-cell quantity is derived from exact integer counts; the
    per-cell terms are integer-scaled (floor(term * 1e6)) before the
    global sum so no float accumulation order exists — the reduction is
    a bigint SUM, order-independent and map-side combinable.  Zero-count
    cells still contribute their expected mass: the full type x hour
    domain is generated by crossing the two (tiny, aggregated) margins.
    At petabyte counts the r*c products would move to DECIMAL; doubles
    are exact here because every count fits well under 2^26.
    """
    e = load_table(spark, sf_dir, "events").select(
        "event_type", F.hour("ts").alias("h")
    )
    obs = e.groupBy("event_type", "h").agg(F.count(F.lit(1)).alias("o"))
    rows_t = e.groupBy("event_type").agg(F.count(F.lit(1)).alias("r"))
    cols_h = e.groupBy("h").agg(F.count(F.lit(1)).alias("c"))
    tot = e.agg(F.count(F.lit(1)).alias("n"))
    cells = (
        rows_t.crossJoin(F.broadcast(cols_h))
        .crossJoin(F.broadcast(tot))
        .join(obs, ["event_type", "h"], "left")
        .withColumn("o", F.coalesce(F.col("o"), F.lit(0)))
    )
    eexp = (F.col("r") * F.col("c")).cast("double") / F.col("n")
    term = (F.col("o") - eexp) * (F.col("o") - eexp) / eexp
    scaled = F.floor(term * 1000000.0).cast("bigint")
    return (
        cells.agg(
            F.max("n").alias("n"),
            F.count_distinct("event_type").alias("n_types"),
            F.count_distinct("h").alias("n_hours"),
            F.sum(scaled).alias("chi2_scaled"),
        )
        .select(
            "n",
            ((F.col("n_types") - 1) * (F.col("n_hours") - 1))
            .cast("int").alias("df"),
            (F.col("chi2_scaled").cast("double") / 1000000.0).alias("chi2"),
        )
    )


CHI2_ORACLE = """
WITH e AS (SELECT event_type, hour(ts) AS h FROM events),
obs AS (SELECT event_type, h, count(*) AS o FROM e GROUP BY 1, 2),
rows_t AS (SELECT event_type, count(*) AS r FROM e GROUP BY 1),
cols_h AS (SELECT h, count(*) AS c FROM e GROUP BY 1),
tot AS (SELECT count(*) AS n FROM e),
cells AS (
  SELECT rows_t.event_type, cols_h.h, r, c, n, coalesce(o, 0) AS o
  FROM rows_t CROSS JOIN cols_h CROSS JOIN tot
  LEFT JOIN obs ON obs.event_type = rows_t.event_type AND obs.h = cols_h.h
),
terms AS (
  SELECT n, event_type, h,
         CAST(floor((o - CAST(r * c AS DOUBLE) / n)
                    * (o - CAST(r * c AS DOUBLE) / n)
                    / (CAST(r * c AS DOUBLE) / n) * 1000000.0) AS BIGINT)
         AS scaled
  FROM cells
)
SELECT CAST(max(n) AS BIGINT) AS n,
       CAST((count(DISTINCT event_type) - 1) * (count(DISTINCT h) - 1)
            AS INT) AS df,
       CAST(sum(scaled) AS DOUBLE) / 1000000.0 AS chi2
FROM terms
"""


def stats_g_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G-test (log-likelihood-ratio) of independence for event_type ×
    hour-of-day — Pearson chi-square's likelihood-based twin
    (``stats_chi2_independence``), the form additive across partitions
    of the table and preferred when any expected count is small.

    G = 2 Σ O·ln(O·N / (R·C)) over OBSERVED cells only: a zero cell
    contributes exactly 0 (x·ln x → 0), so unlike chi2 the full
    type×hour domain never needs to be generated — the margins join
    back by key and only the grand total is a scalar cross.

    Exactness: per-cell term = O × (lnq(O·N) − lnq(R·C)) with lnq(x)
    = floor(ln(x)·1e6) over EXACT BIGINT products (O·N and R·C fit
    well under 2^53, so the double passed to ln is exact) — the house
    ln-of-exact-BIGINT convention; the reduction is an order-free
    BIGINT sum, map-side combinable, and ``g_micro`` = 2·Σ term is
    exact given the quantized logs.
    """
    e = load_table(spark, sf_dir, "events").select(
        "event_type", F.hour("ts").alias("h"))
    obs = e.groupBy("event_type", "h").agg(F.count(F.lit(1)).alias("o"))
    rows_t = e.groupBy("event_type").agg(F.count(F.lit(1)).alias("r"))
    cols_h = e.groupBy("h").agg(F.count(F.lit(1)).alias("c"))
    tot = e.agg(F.count(F.lit(1)).alias("n"))
    lnq = (lambda col: F.floor(F.log(col.cast("double"))
                               * F.lit(1000000.0)).cast("long"))
    cells = (
        obs.join(rows_t, "event_type").join(cols_h, "h")
        .crossJoin(F.broadcast(tot))
    )
    term = F.col("o") * (lnq(F.col("o") * F.col("n"))
                         - lnq(F.col("r") * F.col("c")))
    return (
        cells.agg(
            F.max("n").cast("long").alias("n"),
            F.count_distinct("event_type").alias("n_types"),
            F.count_distinct("h").alias("n_hours"),
            F.sum(term).alias("s"),
        )
        .select(
            "n",
            ((F.col("n_types") - 1) * (F.col("n_hours") - 1))
            .cast("int").alias("df"),
            (F.lit(2) * F.col("s")).cast("long").alias("g_micro"),
        )
    )


G_TEST_ORACLE = """
WITH e AS (SELECT event_type, hour(ts) AS h FROM events),
obs AS (SELECT event_type, h, CAST(count(*) AS BIGINT) AS o
        FROM e GROUP BY 1, 2),
rows_t AS (SELECT event_type, CAST(count(*) AS BIGINT) AS r
           FROM e GROUP BY 1),
cols_h AS (SELECT h, CAST(count(*) AS BIGINT) AS c FROM e GROUP BY 1),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM e),
terms AS (
  SELECT n, obs.event_type, obs.h,
         o * (CAST(floor(ln(o * n) * 1000000) AS BIGINT)
              - CAST(floor(ln(r * c) * 1000000) AS BIGINT)) AS term
  FROM obs JOIN rows_t ON rows_t.event_type = obs.event_type
  JOIN cols_h ON cols_h.h = obs.h
  CROSS JOIN tot
)
SELECT CAST(max(n) AS BIGINT) AS n,
       CAST((count(DISTINCT event_type) - 1) * (count(DISTINCT h) - 1)
            AS INT) AS df,
       CAST(2 * sum(term) AS BIGINT) AS g_micro
FROM terms
"""


def stats_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's t statistic (+ Satterthwaite df) for every pair of event
    types, from integer power sums.

    Values are quantized to milli-units (``floor(value·1000)`` — the t
    statistic is scale-invariant, so the quantization only snaps inputs
    to a grid both engines agree on); n, Σq, Σq² are then exact integer
    sums (Σq² in DECIMAL(38) — BIGINT would overflow past ~10⁵ rows of
    q≈5·10⁵).  One shuffle aggregates the fact to a |types|-row stats
    table; the pair enumeration is a broadcast self cross join of that
    tiny table — the fact table is scanned once and never joined.
    All post-aggregate math is IEEE doubles over identical expression
    trees, truncated (not rounded) to 6 decimals.
    """
    se_a, se_b = _side_sem2("a"), _side_sem2("b")
    t = (_side_mean("a") - _side_mean("b")) / F.sqrt(se_a + se_b)
    dof = ((se_a + se_b) * (se_a + se_b)) / (
        (se_a * se_a) / (_side("a", "n") - F.lit(1.0))
        + (se_b * se_b) / (_side("b", "n") - F.lit(1.0))
    )
    return _type_pairs(_milli_type_stats(spark, sf_dir),
                       _floor6(t).alias("t_stat"),
                       _floor6(dof).alias("welch_df"))


WELCH_ORACLE = f"""
WITH st AS ({_MILLI_TYPE_STATS_SQL}),
pairs AS (
  SELECT {_TYPE_PAIR_KEYS_SQL},
         CAST(a.n * a.ss - a.s * a.s AS DOUBLE)
           / (CAST(a.n AS DOUBLE) * (CAST(a.n AS DOUBLE) - 1.0))
           / CAST(a.n AS DOUBLE) AS se_a,
         CAST(b.n * b.ss - b.s * b.s AS DOUBLE)
           / (CAST(b.n AS DOUBLE) * (CAST(b.n AS DOUBLE) - 1.0))
           / CAST(b.n AS DOUBLE) AS se_b,
         CAST(a.s AS DOUBLE) / CAST(a.n AS DOUBLE)
           - CAST(b.s AS DOUBLE) / CAST(b.n AS DOUBLE) AS dm
  {_TYPE_PAIRS_FROM_SQL}
)
SELECT type_a, type_b, n_a, n_b,
       floor(dm / sqrt(se_a + se_b) * 1000000.0) / 1000000.0 AS t_stat,
       floor(((se_a + se_b) * (se_a + se_b))
             / ((se_a * se_a) / (CAST(n_a AS DOUBLE) - 1.0)
                + (se_b * se_b) / (CAST(n_b AS DOUBLE) - 1.0))
             * 1000000.0) / 1000000.0 AS welch_df
FROM pairs
"""


def stats_cochran_armitage(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    """Cochran–Armitage trend test: does the returned-order RATE move
    monotonically with order priority (scores w = 1..5)?  The right
    test when the grouping is ORDERED — a plain chi-square ignores the
    ordering and wastes power, which is why dose-response and
    funnel-stage analyses use CA instead.

    Exactness: with per-bin trials n_i and events x_i (exact integer
    counts), scores w_i = priority rank, N = Σn, X = Σx:

        A = Σ w_i·(x_i·N − n_i·X)                (T scaled by N)
        V = N·Σw²n − (Σwn)²                      (score variance term)
        z = A / √( (X·(N−X)/N... )·V /N )  ≡  A·√N / √(X·(N−X)·V)

    A and V are exact DECIMAL(38,0) (A ≈ 1e23 at sf100); the final z
    multiplies exact-integer-derived doubles (X·(N−X)·V would pass 38
    digits, so the product is double by construction — the same
    expression both engines).  Two-sided rejection at the shared
    z = 1.96 literal.

    Scale: one 5-row bin aggregate (semi-join returned flag shared
    with :func:`feat_woe_iv`'s construction), constant-size reduction.
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority")
    returned = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select(F.col("l_orderkey").alias("o_orderkey")).distinct()
    )
    flagged = o.join(
        returned.withColumn("bad", F.lit(1)), "o_orderkey", "left"
    ).select(
        # '1-URGENT'..'5-LOW': the leading digit IS the ordinal score.
        F.substring("o_orderpriority", 1, 1).cast("long").alias("w"),
        F.coalesce("bad", F.lit(0)).alias("x"),
    )
    bins = flagged.groupBy("w").agg(
        F.count(F.lit(1)).alias("n"), F.sum("x").alias("x"))
    dec = "decimal(38,0)"
    agg = bins.agg(
        F.count(F.lit(1)).cast("int").alias("k_bins"),
        F.sum("n").cast(dec).alias("nn"),
        F.sum("x").cast(dec).alias("xx"),
        F.sum(F.col("w").cast(dec) * F.col("n")).alias("swn"),
        F.sum((F.col("w") * F.col("w")).cast(dec) * F.col("n"))
        .alias("swwn"),
        F.sum(F.col("w").cast(dec) * F.col("x")).alias("swx"),
    )
    # A = Σw·x·N − Σw·n·X ; V = N·Σw²n − (Σwn)²  — exact decimals.
    a = (F.col("swx") * F.col("nn")
         - F.col("swn") * F.col("xx")).cast(dec).cast("double")
    v = (F.col("nn") * F.col("swwn")
         - F.col("swn") * F.col("swn")).cast(dec).cast("double")
    nd = F.col("nn").cast("double")
    xd = F.col("xx").cast("double")
    z = a * F.sqrt(nd) / F.sqrt(xd * (nd - xd) * v)
    return agg.filter(xd * (nd - xd) * v > 0).select(
        "k_bins",
        F.col("nn").cast("long").alias("n_orders"),
        F.col("xx").cast("long").alias("n_returned"),
        _floor6(z).alias("ca_z"),
        (F.abs(z) > F.lit(1.959963984540054)).alias("reject_95"),
    )


COCHRAN_ARMITAGE_ORACLE = """
WITH returned AS (
  SELECT DISTINCT l_orderkey AS o_orderkey FROM lineitem
  WHERE l_returnflag = 'R'
),
flagged AS (
  SELECT CAST(substring(o.o_orderpriority, 1, 1) AS BIGINT) AS w,
         CASE WHEN r.o_orderkey IS NULL THEN 0 ELSE 1 END AS x
  FROM orders o LEFT JOIN returned r USING (o_orderkey)
),
bins AS (
  SELECT w, CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS x
  FROM flagged GROUP BY 1
),
agg AS (
  SELECT CAST(count(*) AS INT) AS k_bins,
         CAST(sum(n) AS DECIMAL(38,0)) AS nn,
         CAST(sum(x) AS DECIMAL(38,0)) AS xx,
         CAST(sum(CAST(w AS DECIMAL(38,0)) * n) AS DECIMAL(38,0)) AS swn,
         CAST(sum(CAST(w * w AS DECIMAL(38,0)) * n)
              AS DECIMAL(38,0)) AS swwn,
         CAST(sum(CAST(w AS DECIMAL(38,0)) * x) AS DECIMAL(38,0)) AS swx
  FROM bins
),
mom AS (
  SELECT k_bins, nn, xx,
         CAST(CAST(swx * nn - swn * xx AS DECIMAL(38,0)) AS DOUBLE) AS a,
         CAST(CAST(nn * swwn - swn * swn AS DECIMAL(38,0)) AS DOUBLE)
           AS v,
         CAST(nn AS DOUBLE) AS nd, CAST(xx AS DOUBLE) AS xd
  FROM agg
)
SELECT k_bins, CAST(nn AS BIGINT) AS n_orders,
       CAST(xx AS BIGINT) AS n_returned,
       floor(a * sqrt(nd) / sqrt(xd * (nd - xd) * v) * 1000000.0)
         / 1000000.0 AS ca_z,
       abs(a * sqrt(nd) / sqrt(xd * (nd - xd) * v))
         > 1.959963984540054 AS reject_95
FROM mom
WHERE xd * (nd - xd) * v > 0
"""


def stats_cohens_d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's d and Hedges' g effect sizes for every event-type pair —
    the magnitude companion the Welch/TOST family needs at scale: with
    millions of rows every t is "significant", and d (difference in
    pooled-SD units) plus the rule-of-thumb label is what decides
    whether anyone should care.  g is d times the small-sample
    correction J = 1 − 3/(4(n_a+n_b) − 9) (Hedges 1981) — negligible
    here, shipped because reviewers ask.

    Same construction as :func:`stats_welch_ttest` (milli-quantized
    values, exact DECIMAL power sums, |types|-row self pair join);
    pooled variance uses the classical (n_a−1)s_a² + (n_b−1)s_b² over
    n_a+n_b−2.  Readout doubles are identical expression trees,
    floored at 6.
    """
    # (n−1)·s² per side: Σ(x−x̄)² = (n·Σx² − S²)/n, exact-int.
    ssq_a = _side_ssd("a") / _side("a", "n")
    ssq_b = _side_ssd("b") / _side("b", "n")
    n_ab = _side("a", "n") + _side("b", "n")
    d = (_side_mean("a") - _side_mean("b")) \
        / F.sqrt((ssq_a + ssq_b) / (n_ab - F.lit(2.0)))
    jj = F.lit(1.0) - F.lit(3.0) / (F.lit(4.0) * n_ab - F.lit(9.0))
    label = (F.when(F.abs(d) < 0.2, "negligible")
             .when(F.abs(d) < 0.5, "small")
             .when(F.abs(d) < 0.8, "medium")
             .otherwise("large"))
    return _type_pairs(_milli_type_stats(spark, sf_dir),
                       _floor6(d).alias("cohens_d"),
                       _floor6(d * jj).alias("hedges_g"),
                       label.alias("magnitude"))


COHENS_D_ORACLE = f"""
WITH st AS ({_MILLI_TYPE_STATS_SQL}),
pairs AS (
  SELECT {_TYPE_PAIR_KEYS_SQL},
         CAST(a.s AS DOUBLE) / CAST(a.n AS DOUBLE)
           - CAST(b.s AS DOUBLE) / CAST(b.n AS DOUBLE) AS dm,
         CAST(a.n * a.ss - a.s * a.s AS DOUBLE)
           / CAST(a.n AS DOUBLE) AS ssq_a,
         CAST(b.n * b.ss - b.s * b.s AS DOUBLE)
           / CAST(b.n AS DOUBLE) AS ssq_b
  {_TYPE_PAIRS_FROM_SQL}
),
eff AS (
  SELECT type_a, type_b, n_a, n_b,
         dm / sqrt((ssq_a + ssq_b)
                   / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) - 2.0))
           AS d,
         1.0 - 3.0 / (4.0 * (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE))
                      - 9.0) AS j
  FROM pairs
)
SELECT type_a, type_b, n_a, n_b,
       floor(d * 1000000.0) / 1000000.0 AS cohens_d,
       floor(d * j * 1000000.0) / 1000000.0 AS hedges_g,
       CASE WHEN abs(d) < 0.2 THEN 'negligible'
            WHEN abs(d) < 0.5 THEN 'small'
            WHEN abs(d) < 0.8 THEN 'medium'
            ELSE 'large' END AS magnitude
FROM eff
"""


#: TOST equivalence margin as a fraction of the first group's mean, and
#: the one-sided z critical value at alpha = 0.05 (normal approximation
#: — a shared literal, so no incomplete-beta/libm t-quantile is ever in
#: the result).
TOST_MARGIN_FRAC = 0.1
TOST_Z_CRIT = 1.645


def stats_tost_equivalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOST (two one-sided tests) equivalence readout for every pair of
    event types: are the two value means *demonstrably within* ±10% of
    the reference mean, rather than merely "not significantly
    different"?  The absence-of-evidence trap in A/B readouts — a
    non-significant Welch t does NOT mean equivalent — is exactly what
    this operator exists to close.

    Same one-shuffle integer-power-sum shape as
    :func:`stats_welch_ttest` (milli-quantized values, |types|-row
    stats table, broadcast pair enumeration); the margin is
    ``TOST_MARGIN_FRAC·|mean_a|`` and both one-sided statistics use the
    shared normal-approximation critical literal :data:`TOST_Z_CRIT`,
    so every comparison happens on bit-identical doubles in both
    engines.
    """
    se = F.sqrt(_side_sem2("a") + _side_sem2("b"))
    dm = _side_mean("a") - _side_mean("b")
    delta = F.abs(_side_mean("a")) * F.lit(TOST_MARGIN_FRAC)
    t_lower = (dm + delta) / se
    t_upper = (dm - delta) / se
    return _type_pairs(
        _milli_type_stats(spark, sf_dir),
        _floor6(delta).alias("margin"),
        _floor6(t_lower).alias("t_lower"),
        _floor6(t_upper).alias("t_upper"),
        ((t_lower > TOST_Z_CRIT) & (t_upper < -TOST_Z_CRIT))
        .cast("int").alias("equivalent"),
    )


TOST_ORACLE = f"""
WITH st AS ({_MILLI_TYPE_STATS_SQL}),
pairs AS (
  SELECT {_TYPE_PAIR_KEYS_SQL},
         sqrt(CAST(a.n * a.ss - a.s * a.s AS DOUBLE)
              / (CAST(a.n AS DOUBLE) * (CAST(a.n AS DOUBLE) - 1.0))
              / CAST(a.n AS DOUBLE)
              + CAST(b.n * b.ss - b.s * b.s AS DOUBLE)
              / (CAST(b.n AS DOUBLE) * (CAST(b.n AS DOUBLE) - 1.0))
              / CAST(b.n AS DOUBLE)) AS se,
         CAST(a.s AS DOUBLE) / CAST(a.n AS DOUBLE)
           - CAST(b.s AS DOUBLE) / CAST(b.n AS DOUBLE) AS dm,
         abs(CAST(a.s AS DOUBLE) / CAST(a.n AS DOUBLE))
           * CAST({TOST_MARGIN_FRAC} AS DOUBLE) AS delta
  {_TYPE_PAIRS_FROM_SQL}
)
SELECT type_a, type_b, n_a, n_b,
       floor(delta * 1000000.0) / 1000000.0 AS margin,
       floor((dm + delta) / se * 1000000.0) / 1000000.0 AS t_lower,
       floor((dm - delta) / se * 1000000.0) / 1000000.0 AS t_upper,
       CAST(CASE WHEN (dm + delta) / se > CAST({TOST_Z_CRIT} AS DOUBLE)
                  AND (dm - delta) / se < -CAST({TOST_Z_CRIT} AS DOUBLE)
            THEN 1 ELSE 0 END AS INT) AS equivalent
FROM pairs
"""


KS_TYPE_A, KS_TYPE_B = "click", "purchase"
#: ECDF prefix-sum bucket width on the milli-quantized value axis.
KS_BUCKET = 65536


def stats_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov distance between the value
    distributions of two event types — the distribution-drift gate a
    data pipeline runs between snapshots.

    Exactness: D is computed as ``max |n_b·cum_a − n_a·cum_b|`` over
    the pooled support, all integers (values milli-quantized as in the
    Welch test), divided once at the end — no float ECDF accumulates.
    The products are DECIMAL(38) so petabyte-scale sample sizes cannot
    overflow the cross terms.  The 95% rejection flag compares the
    *integer* D numerator squared against the Smirnov critical value,
    via one identical double expression in both engines.

    Scale shape — no global sort: the cumulative counts use a two-phase
    prefix sum.  Distinct quantized values are bucketed into fixed
    value ranges; within-bucket cumulative sums run as per-bucket
    windows (parallel across buckets), and each bucket's starting
    offset comes from a window over the |buckets|-row totals table —
    the only serial step scans one row per bucket, never one per value.
    This is the distributed-ECDF construction, verified against the
    oracle's single-window formulation.
    """
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin([KS_TYPE_A, KS_TYPE_B])
    )
    q = F.floor(F.col("value") * F.lit(1000.0))
    counts = (
        ev.select(
            q.alias("q"),
            F.when(F.col("event_type") == KS_TYPE_A, F.lit(1))
            .otherwise(F.lit(0)).alias("ia"),
        )
        .groupBy("q")
        .agg(
            F.sum("ia").alias("ca"),
            F.sum(1 - F.col("ia")).alias("cb"),
        )
        .withColumn("bucket", F.expr(f"q div {KS_BUCKET}"))
        # counts feeds the per-bucket window, the bucket totals, and the
        # sample-size scalar; materialize the events groupBy once.
        .transform(cut_lineage)
    )
    win = (
        Window.partitionBy("bucket").orderBy("q")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    local = counts.select(
        "q", "bucket",
        F.sum("ca").over(win).alias("la"),
        F.sum("cb").over(win).alias("lb"),
    )
    btot = counts.groupBy("bucket").agg(
        F.sum("ca").alias("ta"), F.sum("cb").alias("tb")
    )
    bwin = (
        Window.orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    boffs = btot.select(
        "bucket",
        F.coalesce(F.sum("ta").over(bwin), F.lit(0)).alias("oa"),
        F.coalesce(F.sum("tb").over(bwin), F.lit(0)).alias("ob"),
    )
    n = counts.agg(
        F.sum("ca").alias("na"), F.sum("cb").alias("nb")
    )
    cum = (
        local.join(F.broadcast(boffs), "bucket")
        .crossJoin(F.broadcast(n))
        .select(
            "na", "nb",
            F.abs(
                F.col("nb").cast("decimal(38,0)")
                * (F.col("oa") + F.col("la")).cast("decimal(38,0)")
                - F.col("na").cast("decimal(38,0)")
                * (F.col("ob") + F.col("lb")).cast("decimal(38,0)")
            ).alias("dev"),
        )
    )
    agg = cum.groupBy("na", "nb").agg(F.max("dev").alias("dnum_dec"))
    dnum = F.col("dnum_dec").cast("double")
    na_d, nb_d = F.col("na").cast("double"), F.col("nb").cast("double")
    return agg.select(
        F.col("na").alias("n_a"),
        F.col("nb").alias("n_b"),
        F.col("dnum_dec").cast("bigint").alias("d_num"),
        (F.floor(dnum / (na_d * nb_d) * 1000000.0) / 1000000.0).alias("d"),
        (dnum * dnum
         > F.lit(1.358 * 1.358) * (na_d * nb_d) * (na_d * nb_d)
         * ((na_d + nb_d) / (na_d * nb_d))).alias("reject_95"),
    )


KS_ORACLE = f"""
WITH counts AS (
  SELECT CAST(floor(value * 1000.0) AS BIGINT) AS q,
         sum(CASE WHEN event_type = '{KS_TYPE_A}' THEN 1 ELSE 0 END) AS ca,
         sum(CASE WHEN event_type = '{KS_TYPE_B}' THEN 1 ELSE 0 END) AS cb
  FROM events WHERE event_type IN ('{KS_TYPE_A}', '{KS_TYPE_B}')
  GROUP BY 1
),
cum AS (
  SELECT sum(ca) OVER (ORDER BY q) AS cum_a,
         sum(cb) OVER (ORDER BY q) AS cum_b,
         sum(ca) OVER () AS na, sum(cb) OVER () AS nb
  FROM counts
),
agg AS (
  SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
         max(abs(nb * cum_a - na * cum_b)) AS dnum
  FROM cum GROUP BY 1, 2
)
SELECT n_a, n_b, CAST(dnum AS BIGINT) AS d_num,
       floor(CAST(dnum AS DOUBLE)
             / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))
             * 1000000.0) / 1000000.0 AS d,
       CAST(dnum AS DOUBLE) * CAST(dnum AS DOUBLE)
         > {1.358 * 1.358} * (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))
           * (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))
           * ((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE))
              / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)))
         AS reject_95
FROM agg
"""


#: Event types compared by the Mann–Whitney test (distinct from the KS
#: pair so the two drift gates exercise different slices).
MW_TYPE_A, MW_TYPE_B = "signup", "error"


def with_cumulative_tv(counts: DataFrame,
                       bucket_width: int = KS_BUCKET) -> DataFrame:
    """Adds the inclusive cumulative sum ``cum`` of column ``tv`` in
    ``q`` order — the distributed-ECDF prefix sum (per-bucket windows,
    parallel across fixed value-range buckets, plus a |buckets|-row
    offset window as the only serial step).  Input columns are
    preserved; the intermediate is lazily checkpointed because it feeds
    both the window and the bucket-totals aggregate."""
    c = counts.withColumn(
        "bucket", F.expr(f"q div {bucket_width}")
    ).transform(cut_lineage)
    win = (
        Window.partitionBy("bucket").orderBy("q")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    local = c.withColumn("lt", F.sum("tv").over(win))
    btot = c.groupBy("bucket").agg(F.sum("tv").alias("tt"))
    bwin = (
        Window.orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    boffs = btot.select(
        "bucket", F.coalesce(F.sum("tt").over(bwin), F.lit(0)).alias("ot")
    )
    return (
        local.join(F.broadcast(boffs), "bucket")
        .withColumn("cum", F.col("ot") + F.col("lt"))
        .drop("bucket", "lt", "ot")
    )


def rank_sum_stats(counts: DataFrame,
                   bucket_width: int = KS_BUCKET) -> DataFrame:
    """Distributed rank-sum core shared by the Mann–Whitney test and the
    ROC-AUC operator (AUC = U normalized).

    Input: one row per distinct quantized value with columns
    ``q`` (the value), ``cp`` (positive/sample-A count at q) and
    ``cn`` (negative/sample-B count).  Output: ONE row
    ``(np, nn, r2, tcorr)`` where ``r2 = 2·R₊`` (twice the average-rank
    sum of the positive class, exact DECIMAL) and
    ``tcorr = Σ(tv³ − tv)`` (tie-correction term).

    Construction: cumulative pooled counts via per-bucket windows plus
    a |buckets|-row offset window (the stats_ks_test distributed-ECDF
    shape) — ranks never exist per row, the only serial step scans one
    row per fixed value-range bucket.
    """
    cum = with_cumulative_tv(
        counts.withColumn("tv", F.col("cp") + F.col("cn")),
        bucket_width,
    ).transform(cut_lineage)  # feeds per-value sums + class sizes
    n = cum.agg(F.sum("cp").alias("np"), F.sum("cn").alias("nn"))
    two_avg = (
        F.lit(2) * F.col("cum") - F.col("tv") + F.lit(1)
    )
    per_value = (
        cum.crossJoin(F.broadcast(n))
        .select(
            "np", "nn",
            (F.col("cp").cast("decimal(38,0)")
             * two_avg.cast("decimal(38,0)")).alias("r2c"),
            (F.col("tv").cast("decimal(38,0)")
             * F.col("tv") * F.col("tv") - F.col("tv")).alias("tc"),
        )
    )
    return per_value.groupBy("np", "nn").agg(
        F.sum("r2c").alias("r2"), F.sum("tc").alias("tcorr")
    )


def stats_mannwhitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Mann–Whitney U (rank-sum) test between the value
    distributions of two event types — the nonparametric companion to
    the Welch t gate (no normality assumption, robust to outliers).

    Exactness: ranks never exist as per-row floats.  Because tied
    values share one average rank, every rank statistic is a function
    of the per-distinct-value counts alone: with ``cum_t`` the
    cumulative pooled count through value v and ``tv`` the count at v,
    twice the average rank is ``2·cum_t − tv + 1`` (an integer), so
    twice the rank sum ``2R₁`` and the tie-correction term
    ``Σ(tv³ − tv)`` are exact DECIMAL sums.  The z statistic (normal
    approximation with tie correction) is one identical double
    expression in both engines, floored at 4 decimals.

    Scale shape — same distributed-ECDF construction as
    :func:`stats_ks_test`: per-value counts from one groupBy, cumulative
    pooled counts via per-bucket windows plus a |buckets|-row offset
    window; the only serial step scans one row per fixed value-range
    bucket, never one per row or per distinct value.
    """
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin([MW_TYPE_A, MW_TYPE_B])
    )
    q = F.floor(F.col("value") * F.lit(1000.0))
    counts = (
        ev.select(
            q.alias("q"),
            F.when(F.col("event_type") == MW_TYPE_A, F.lit(1))
            .otherwise(F.lit(0)).alias("ia"),
        )
        .groupBy("q")
        .agg(
            F.sum("ia").alias("cp"),
            F.sum(1 - F.col("ia")).alias("cn"),
        )
    )
    agg = rank_sum_stats(counts)
    u_x2 = (
        F.col("r2") - F.col("np").cast("decimal(38,0)")
        * (F.col("np") + F.lit(1))
    )
    renamed = agg.select(
        F.col("np").alias("n_a"),
        F.col("nn").alias("n_b"),
        u_x2.cast("bigint").alias("u_x2"),
        F.col("tcorr").cast("bigint").alias("tie_term"),
    )
    nad, nbd = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    nd = nad + nbd
    u1d = F.col("u_x2").cast("double") / F.lit(2.0)
    mu = nad * nbd / F.lit(2.0)
    var = (
        nad * nbd / F.lit(12.0)
        * ((nd + F.lit(1.0))
           - F.col("tie_term").cast("double") / (nd * (nd - F.lit(1.0))))
    )
    z = (u1d - mu) / F.sqrt(var)
    return renamed.select(
        "n_a", "n_b", "u_x2", "tie_term",
        (F.floor(z * F.lit(10000.0)) / F.lit(10000.0)).alias("z"),
        (z * z > F.lit(3.8414588206941254)).alias("reject_95"),
    )


MANNWHITNEY_ORACLE = f"""
WITH counts AS (
  SELECT CAST(floor(value * 1000.0) AS BIGINT) AS q,
         sum(CASE WHEN event_type = '{MW_TYPE_A}' THEN 1 ELSE 0 END) AS ca,
         sum(CASE WHEN event_type = '{MW_TYPE_B}' THEN 1 ELSE 0 END) AS cb
  FROM events WHERE event_type IN ('{MW_TYPE_A}', '{MW_TYPE_B}')
  GROUP BY 1
),
cum AS (
  SELECT ca, ca + cb AS tv,
         sum(ca + cb) OVER (ORDER BY q) AS cum_t,
         sum(ca) OVER () AS na, sum(cb) OVER () AS nb
  FROM counts
),
agg AS (
  SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
         sum(ca * (2 * cum_t - tv + 1)) AS r2,
         sum(tv * tv * tv - tv) AS tcorr
  FROM cum GROUP BY 1, 2
),
stat AS (
  SELECT n_a, n_b,
         CAST(r2 - n_a * (n_a + 1) AS BIGINT) AS u_x2,
         CAST(tcorr AS BIGINT) AS tie_term,
         CAST(n_a AS DOUBLE) AS nad, CAST(n_b AS DOUBLE) AS nbd
  FROM agg
),
zval AS (
  SELECT n_a, n_b, u_x2, tie_term,
         (CAST(u_x2 AS DOUBLE) / 2.0 - nad * nbd / 2.0)
         / sqrt(nad * nbd / 12.0
                * ((nad + nbd + 1.0)
                   - CAST(tie_term AS DOUBLE)
                     / ((nad + nbd) * (nad + nbd - 1.0)))) AS zr
  FROM stat
)
SELECT n_a, n_b, u_x2, tie_term,
       floor(zr * 10000.0) / 10000.0 AS z,
       zr * zr > 3.8414588206941254 AS reject_95
FROM zval
"""


def _avg_rank2_table(per: DataFrame, qcol: str,
                     bucket_width: int) -> DataFrame:
    """(value → 2·average-rank) lookup for one variable: per-distinct-
    value counts, distributed prefix sum, ``2·avg = 2·cum − tv + 1``."""
    counts = per.groupBy(F.col(qcol).alias("q")).agg(
        F.count(F.lit(1)).alias("tv")
    )
    return with_cumulative_tv(counts, bucket_width).select(
        F.col("q").alias(qcol),
        (F.lit(2) * F.col("cum") - F.col("tv") + F.lit(1))
        .alias(f"r2_{qcol}"),
    )


def stats_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between an order's total price and its
    line count — the monotone-association check run when Pearson is
    distorted by heavy tails (as prices are).

    Exactness: per-row ranks are never floats.  Twice the average rank
    of a value is the integer ``2·cum − tv + 1`` from the distributed
    prefix sum, and with ``Σ 2R = n(n+1)`` the correlation reduces to
    three exact DECIMAL sums of rank products:

        ρ = (Sxy − n(n+1)²) / sqrt((Sxx − n(n+1)²)(Syy − n(n+1)²))

    computed with one identical double expression per engine, floored
    at 6 decimals.  (This is the tie-aware Pearson-on-ranks form — the
    d²-difference shortcut is biased under ties.)

    Scale shape: two per-distinct-value rank tables built via the
    shared prefix-sum core (no global row sort); each joins back to the
    fact on its value key (the y table — line counts — is tiny and
    broadcasts; the x table shuffles on price quanta); one final
    partial-aggregated scalar.
    """
    li = load_table(spark, sf_dir, "lineitem").groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("qy")
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        (F.col("o_totalprice").cast("decimal(14,2)") * 100)
        .cast("bigint").alias("qx"),
    )
    per = o.join(li, o.o_orderkey == li.l_orderkey).select("qx", "qy") \
        .transform(cut_lineage)  # feeds both rank tables + join
    rx = _avg_rank2_table(per, "qx", KS_BUCKET)
    ry = _avg_rank2_table(per, "qy", 64)
    ranked = (
        per.join(rx, "qx")
        .join(F.broadcast(ry), "qy")
    )
    d38 = "decimal(38,0)"
    agg = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("r2_qx").cast(d38) * F.col("r2_qy"))).alias("sxy"),
        F.sum((F.col("r2_qx").cast(d38) * F.col("r2_qx"))).alias("sxx"),
        F.sum((F.col("r2_qy").cast(d38) * F.col("r2_qy"))).alias("syy"),
    )
    nd = F.col("n").cast("double")
    center = nd * (nd + 1.0) * (nd + 1.0)
    rho = (
        (F.col("sxy").cast("double") - center)
        / F.sqrt((F.col("sxx").cast("double") - center)
                 * (F.col("syy").cast("double") - center))
    )
    return agg.select(
        "n",
        (F.floor(rho * 1000000.0) / 1000000.0).alias("rho"),
    )


SPEARMAN_ORACLE = """
WITH per AS (
  SELECT CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT) AS qx,
         l.qy
  FROM orders
  JOIN (SELECT l_orderkey, CAST(count(*) AS BIGINT) AS qy
        FROM lineitem GROUP BY 1) l
    ON o_orderkey = l.l_orderkey
),
ranked AS (
  SELECT 2 * rank() OVER (ORDER BY qx)
           + count(*) OVER (PARTITION BY qx) - 1 AS r2x,
         2 * rank() OVER (ORDER BY qy)
           + count(*) OVER (PARTITION BY qy) - 1 AS r2y
  FROM per
),
sums AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         sum(r2x * r2y) AS sxy,
         sum(r2x * r2x) AS sxx,
         sum(r2y * r2y) AS syy
  FROM ranked
)
SELECT n,
       floor((CAST(sxy AS DOUBLE)
              - CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0)
                * (CAST(n AS DOUBLE) + 1.0))
             / sqrt((CAST(sxx AS DOUBLE)
                     - CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0)
                       * (CAST(n AS DOUBLE) + 1.0))
                    * (CAST(syy AS DOUBLE)
                       - CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0)
                         * (CAST(n AS DOUBLE) + 1.0)))
             * 1000000.0) / 1000000.0 AS rho
FROM sums
"""


def stats_hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl–Hirschman revenue-concentration index per nation:
    HHI = Σ (supplier share)² over each nation's suppliers — the
    standard market-concentration read (1/n_suppliers = perfectly
    even, 1.0 = monopoly).

    Exactness: per-supplier revenues are DECIMAL sums; the identity
    ``Σ(rᵢ/T)² = Σrᵢ² / T²`` lets both the numerator (Σ of DECIMAL
    squares) and denominator stay exact until ONE double division of
    identical operands.  Scale shape: lineitem aggregates once by
    (nation, supplier) — supplier→nation broadcast — then |nations|
    rows collapse the shares; no window, no self-join.
    """
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    sn = s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey) \
        .select("s_suppkey", "n_name")
    rev = F.col("l_extendedprice").cast("decimal(12,2)")
    per = (
        li.join(F.broadcast(sn), li.l_suppkey == sn.s_suppkey)
        .groupBy("n_name", "s_suppkey")
        .agg(F.sum(rev).alias("r"))
    )
    agg = per.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        F.sum((F.col("r") * F.col("r")).cast("decimal(38,4)")).alias("num"),
        F.sum("r").alias("tot"),
    )
    hhi = (F.col("num").cast("double")
           / (F.col("tot").cast("double") * F.col("tot").cast("double")))
    return agg.select(
        "n_name", "n_suppliers", F.round(hhi, 6).alias("hhi")
    )


HHI_ORACLE = """
WITH per AS (
  SELECT n_name, s_suppkey,
         sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS r
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  GROUP BY 1, 2
),
agg AS (
  SELECT n_name, CAST(count(*) AS BIGINT) AS n_suppliers,
         sum(CAST(r * r AS DECIMAL(38,4))) AS num,
         sum(r) AS tot
  FROM per GROUP BY 1
)
SELECT n_name, n_suppliers,
       round(CAST(num AS DOUBLE)
             / (CAST(tot AS DOUBLE) * CAST(tot AS DOUBLE)), 6) AS hhi
FROM agg
"""


#: Benford first-digit expectations log10(1 + 1/d), rounded to 6 by
#: Python ONCE and embedded as identical literals in both engines (a
#: runtime log10 could differ by one ulp between libm implementations).
import math as _math  # noqa: E402

BENFORD = {d: round(_math.log10(1 + 1 / d), 6) for d in range(1, 10)}


def stats_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-significant-digit conformance of order totals —
    the classic synthetic-data / fraud / unit-mixup smell test a data
    contract runs on money columns.

    The leading digit comes from the DECIMAL(18,2) string rendering
    (no log10 on data — float log at power-of-ten boundaries is an
    engine-dependent coin flip).  Shares divide exact integers and
    floor at 6; the expected shares are Python-precomputed literals, so
    ``delta`` subtracts two identical doubles on both engines.

    Scale shape: one scan partial-aggregated to ≤9 digit rows; the
    total rides a window over that bounded frame.
    """
    o = load_table(spark, sf_dir, "orders")
    digit = F.substring(
        F.col("o_totalprice").cast("decimal(18,2)").cast("string"), 1, 1
    ).cast("int")
    counts = (
        o.select(digit.alias("digit"))
        .filter(F.col("digit").between(1, 9))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    total = F.sum("n").over(Window.partitionBy())
    share = F.floor(F.col("n").cast("double") / F.col("total")
                    * 1000000.0) / 1000000.0
    expected = F.element_at(
        F.create_map(*[F.lit(x) for d, e in BENFORD.items()
                       for x in (d, e)]),
        F.col("digit"),
    )
    return (
        counts.withColumn("total", total)
        .select(
            "digit", "n",
            share.alias("share"),
            expected.alias("benford"),
            F.round(share - expected, 6).alias("delta"),
        )
    )


_BENFORD_CASE = "CASE digit " + " ".join(
    f"WHEN {d} THEN {e}" for d, e in BENFORD.items()) + " END"

BENFORD_ORACLE = f"""
WITH counts AS (
  SELECT CAST(substr(CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR),
              1, 1) AS INT) AS digit,
         CAST(count(*) AS BIGINT) AS n
  FROM orders
  GROUP BY 1
),
tot AS (
  SELECT digit, n, sum(n) OVER () AS total
  FROM counts WHERE digit BETWEEN 1 AND 9
)
SELECT digit, n,
       floor(CAST(n AS DOUBLE) / total * 1000000.0) / 1000000.0 AS share,
       CAST({_BENFORD_CASE} AS DOUBLE) AS benford,
       round(floor(CAST(n AS DOUBLE) / total * 1000000.0) / 1000000.0
             - CAST({_BENFORD_CASE} AS DOUBLE), 6) AS delta
FROM tot
"""


#: Pre/post boundary for the CUPED experiment readout (mid-range of the
#: generated January 2024 event window at every SF).
CUPED_SPLIT = "2024-01-16 00:00:00"


def stats_cuped_uplift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED-adjusted A/B uplift readout (variance-reduced experiment
    analysis).

    Treatment assignment is ``user_id % 2``; the pre-period covariate X
    is each user's value sum before :data:`CUPED_SPLIT`, the outcome Y
    their value sum after it.  CUPED (Deng et al., WSDM'13) replaces Y
    with Y - θ·X where θ = cov(X,Y)/var(X) over all users pooled; the
    group-mean difference of the adjusted outcome has variance reduced
    by the squared X,Y correlation.  Both the raw and adjusted uplift
    collapse to group-sum algebra — uplift_cuped = (Ȳ₁-Ȳ₀) -
    θ·(X̄₁-X̄₀) — so the whole readout is ONE aggregation over the
    per-user table: values quantized to milli-units, n/ΣX/ΣY per arm as
    exact integers, ΣX²/ΣXY/ΣY² in DECIMAL(38), doubles only in the
    final one-row expression (floor-truncated to 6 dp).

    Scale shape: one shuffle to per-user sums, one partial-agg collapse
    to a single row.  Nothing per-row happens after the first
    aggregation.
    """
    e = load_table(spark, sf_dir, "events")
    q = F.floor(F.col("value") * F.lit(1000.0))
    split = F.expr(f"TIMESTAMP_NTZ '{CUPED_SPLIT}'")
    per_user = e.groupBy("user_id").agg(
        F.sum(F.when(F.col("ts") < split, q).otherwise(F.lit(0)))
        .alias("x"),
        F.sum(F.when(F.col("ts") >= split, q).otherwise(F.lit(0)))
        .alias("y"),
    ).select(
        (F.col("user_id") % 2 == 1).cast("long").alias("t"), "x", "y",
    )
    xd = F.col("x").cast("decimal(19,0)")
    yd = F.col("y").cast("decimal(19,0)")
    is_t = F.col("t") == 1
    s = per_user.agg(
        F.sum(F.when(is_t, 1).otherwise(0)).alias("n1"),
        F.sum(F.when(~is_t, 1).otherwise(0)).alias("n0"),
        F.sum(F.when(is_t, F.col("x")).otherwise(0)).alias("sx1"),
        F.sum(F.when(~is_t, F.col("x")).otherwise(0)).alias("sx0"),
        F.sum(F.when(is_t, F.col("y")).otherwise(0)).alias("sy1"),
        F.sum(F.when(~is_t, F.col("y")).otherwise(0)).alias("sy0"),
        F.sum(xd * xd).alias("sxx"),
        F.sum(xd * yd).alias("sxy"),
        F.sum(yd * yd).alias("syy"),
    )
    n = (F.col("n1") + F.col("n0")).cast("decimal(38,0)")
    sx = (F.col("sx1") + F.col("sx0")).cast("decimal(38,0)")
    sy = (F.col("sy1") + F.col("sy0")).cast("decimal(38,0)")
    cov_n = (n * F.col("sxy") - sx * sy).cast("double")
    varx_n = (n * F.col("sxx") - sx * sx).cast("double")
    vary_n = (n * F.col("syy") - sy * sy).cast("double")
    theta = cov_n / varx_n
    mean_dx = (F.col("sx1").cast("double") / F.col("n1").cast("double")
               - F.col("sx0").cast("double") / F.col("n0").cast("double"))
    mean_dy = (F.col("sy1").cast("double") / F.col("n1").cast("double")
               - F.col("sy0").cast("double") / F.col("n0").cast("double"))

    return s.select(
        F.col("n1").alias("n_treat"),
        F.col("n0").alias("n_ctrl"),
        _floor6(mean_dy / 1000.0).alias("uplift_raw"),
        _floor6(theta).alias("theta"),
        _floor6((mean_dy - theta * mean_dx) / 1000.0).alias("uplift_cuped"),
        _floor6(cov_n * cov_n / (varx_n * vary_n)).alias("var_reduction"),
    )


CUPED_ORACLE = f"""
WITH per_user AS (
  SELECT CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END AS t,
         sum(CASE WHEN ts < TIMESTAMP '{CUPED_SPLIT}'
                  THEN CAST(floor(value * 1000.0) AS BIGINT)
                  ELSE 0 END) AS x,
         sum(CASE WHEN ts >= TIMESTAMP '{CUPED_SPLIT}'
                  THEN CAST(floor(value * 1000.0) AS BIGINT)
                  ELSE 0 END) AS y
  FROM events GROUP BY user_id
),
s AS (
  SELECT CAST(sum(CASE WHEN t = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         CAST(sum(CASE WHEN t = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
         CAST(sum(CASE WHEN t = 1 THEN x ELSE 0 END) AS BIGINT) AS sx1,
         CAST(sum(CASE WHEN t = 0 THEN x ELSE 0 END) AS BIGINT) AS sx0,
         CAST(sum(CASE WHEN t = 1 THEN y ELSE 0 END) AS BIGINT) AS sy1,
         CAST(sum(CASE WHEN t = 0 THEN y ELSE 0 END) AS BIGINT) AS sy0,
         sum(CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0))) AS sxx,
         sum(CAST(x AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0))) AS sxy,
         sum(CAST(y AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0))) AS syy
  FROM per_user
),
d AS (
  SELECT n1, n0,
         CAST(CAST(n1 + n0 AS DECIMAL(38,0)) * sxy
              - CAST(sx1 + sx0 AS DECIMAL(38,0))
                * CAST(sy1 + sy0 AS DECIMAL(38,0)) AS DOUBLE) AS cov_n,
         CAST(CAST(n1 + n0 AS DECIMAL(38,0)) * sxx
              - CAST(sx1 + sx0 AS DECIMAL(38,0))
                * CAST(sx1 + sx0 AS DECIMAL(38,0)) AS DOUBLE) AS varx_n,
         CAST(CAST(n1 + n0 AS DECIMAL(38,0)) * syy
              - CAST(sy1 + sy0 AS DECIMAL(38,0))
                * CAST(sy1 + sy0 AS DECIMAL(38,0)) AS DOUBLE) AS vary_n,
         CAST(sx1 AS DOUBLE) / CAST(n1 AS DOUBLE)
           - CAST(sx0 AS DOUBLE) / CAST(n0 AS DOUBLE) AS mean_dx,
         CAST(sy1 AS DOUBLE) / CAST(n1 AS DOUBLE)
           - CAST(sy0 AS DOUBLE) / CAST(n0 AS DOUBLE) AS mean_dy
  FROM s
)
SELECT n1 AS n_treat, n0 AS n_ctrl,
       floor(mean_dy / 1000.0 * 1000000.0) / 1000000.0 AS uplift_raw,
       floor(cov_n / varx_n * 1000000.0) / 1000000.0 AS theta,
       floor((mean_dy - cov_n / varx_n * mean_dx) / 1000.0 * 1000000.0)
         / 1000000.0 AS uplift_cuped,
       floor(cov_n * cov_n / (varx_n * vary_n) * 1000000.0) / 1000000.0
         AS var_reduction
FROM d
"""


#: Poisson(1) bootstrap: replicate count and the inverse-CDF thresholds
#: on a 16-bit hash-uniform (floor(CDF(k) · 2¹⁶), k = 0..5, capped at
#: 6).  Constants are computed once here and embedded verbatim in BOTH
#: engines' expressions, so every (row, replicate) weight is identical.
#: 16 bits give threshold granularity ~1.5e-5 — statistically
#: indistinguishable for a bootstrap — and let ONE md5 digest (32 hex
#: chars) serve EIGHT replicates via disjoint 4-hex slices, cutting the
#: dominant per-(row, replicate) hash cost 8× (the md5 columns are
#: materialized before the replicate explode, so each digest is
#: computed once per row, not once per fanned-out row).
B_RESAMPLES = 32
_H_SPACE = 1 << 16
_DRAWS_PER_MD5 = 8
_BOOT_BLOCKS = B_RESAMPLES // _DRAWS_PER_MD5


def _poisson1_thresholds() -> list[int]:
    from math import exp, factorial

    cdf, out = 0.0, []
    for k in range(6):
        cdf += exp(-1.0) / factorial(k)
        out.append(int(cdf * _H_SPACE))
    return out


_POISSON1_T = _poisson1_thresholds()


def _poisson_weight_case(h_expr: str) -> str:
    """SQL CASE mapping a 16-bit hash-uniform to its Poisson(1) draw."""
    arms = " ".join(
        f"WHEN {h_expr} < {t} THEN {k}"
        for k, t in enumerate(_POISSON1_T)
    )
    return f"(CASE {arms} ELSE 6 END)"


def stats_bootstrap_means(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap of the mean order value: ``B_RESAMPLES``
    replicates, each reweighting every order by an independent
    Poisson(1) draw — the streaming-friendly bootstrap (Chamandy et al.,
    "Estimating Uncertainty for Massive Data Streams") that needs no
    global resample pass, so it scales to any corpus.

    Determinism: the draw is a pure function of ``md5(b, o_orderkey)``
    through fixed integer CDF thresholds; the replicate mean is exact
    integer arithmetic — ``(10⁶·Σ w·cents) div Σw`` — so the 32 output
    rows are bit-stable under any shuffle order.  The spread of
    ``mean_microcents`` across replicates IS the standard error readout.

    Scale shape: one scan fans out ×B via ``explode(sequence(...))``;
    map-side partial aggregation collapses each partition to ≤B rows
    before the (tiny, B-key) shuffle.  No driver-side loop, no global
    sort.
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        (F.col("o_totalprice").cast("decimal(14,2)") * 100)
        .cast("bigint").alias("cents"),
        *[F.expr(f"md5(concat('boot:', '{blk}', ':', "
                 "cast(o_orderkey as string)))").alias(f"h{blk}")
          for blk in range(_BOOT_BLOCKS)],
    )
    r = o.select(
        "cents", *[f"h{blk}" for blk in range(_BOOT_BLOCKS)],
        F.explode(F.sequence(F.lit(1), F.lit(B_RESAMPLES))).alias("b"),
    )
    digest = "".join(
        f"WHEN {blk} THEN h{blk} " for blk in range(_BOOT_BLOCKS)
    )
    h = (f"conv(substring(CASE (b - 1) div {_DRAWS_PER_MD5} {digest}END, "
         f"1 + 4 * ((b - 1) % {_DRAWS_PER_MD5}), 4), 16, 10)")
    weighted = r.withColumn(
        "w", F.expr(_poisson_weight_case(f"cast({h} as bigint)"))
    )
    # The summand is promoted to DECIMAL(38,0) BEFORE the sum (the
    # engine convention): at SF1 ``10⁶·Σ w·cents`` already exceeds
    # int64 and Spark (ANSI off) would wrap silently, while DuckDB's
    # HUGEINT sum stays exact — a parity break only visible past the
    # test SFs.
    return weighted.groupBy("b").agg(
        F.sum("w").alias("n_eff"),
        F.expr("cast((1000000 * sum(cast(w * cents as decimal(38,0))))"
               " div sum(w) as bigint)").alias("mean_microcents"),
    )


_BOOT_DIGEST_SQL = "".join(
    f"WHEN {blk} THEN h{blk} " for blk in range(_BOOT_BLOCKS)
)
_BOOT_H_SQL = (
    f"(('0x' || substr(CASE (b - 1) // {_DRAWS_PER_MD5} "
    f"{_BOOT_DIGEST_SQL}END, "
    f"1 + 4 * ((b - 1) % {_DRAWS_PER_MD5}), 4))::BIGINT)"
)

BOOTSTRAP_MEANS_ORACLE = f"""
WITH o AS (
  SELECT o_orderkey,
         CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT) AS cents,
         {", ".join(
             f"md5('boot:' || '{blk}' || ':' || CAST(o_orderkey AS VARCHAR))"
             f" AS h{blk}" for blk in range(_BOOT_BLOCKS))}
  FROM orders
),
r AS (
  SELECT cents, {", ".join(f"h{blk}" for blk in range(_BOOT_BLOCKS))},
         CAST(unnest(range(1, {B_RESAMPLES} + 1)) AS INT) AS b
  FROM o
),
weighted AS (
  SELECT b, cents, {_poisson_weight_case(_BOOT_H_SQL)} AS w FROM r
)
SELECT b, CAST(sum(w) AS BIGINT) AS n_eff,
       CAST((1000000 * sum(w * cents)) // sum(w) AS BIGINT)
         AS mean_microcents
FROM weighted GROUP BY b
"""


#: Permutation-test replicates (same md5-draw machinery as the
#: bootstrap: _DRAWS_PER_MD5 four-hex-digit draws per digest).
PERM_RESAMPLES = 64
_PERM_BLOCKS = PERM_RESAMPLES // _DRAWS_PER_MD5
#: The two event-type groups the test compares.
PERM_GROUPS = ("click", "view")


def stats_permutation_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monte-Carlo permutation (randomization) test for the mean-value
    difference between two event types — the distribution-free
    companion of :func:`stats_welch_ttest`: instead of trusting the
    t reference distribution, relabel the pooled sample B times and
    ask how often a relabeling beats the observed difference.  The
    relabeling is the scalable independent-Bernoulli form (each pooled
    row joins group 1 with probability n1/n via a deterministic
    md5-threshold draw; replicate group sizes are Binomial, not fixed
    — documented, standard for one-pass engines), and the p-value uses
    the add-one convention p = (1 + #extreme)/(B + 1).

    Exactness: the p-value is EXACTLY integer — "replicate b is at
    least as extreme" is decided by the cross-multiplied comparison
    |S1_b·n0_b − S0_b·n1_b|·(n1·n0) ≥ |S1·n0 − S0·n1|·(n1_b·n0_b)
    over DECIMAL(38,0) products of integer milli-quantized sums, so no
    division ever happens inside the decision; the reported observed
    difference is an integer-micro readout.  Draws are pure functions
    of md5(block, event_id) hex substrings (the bootstrap idiom), so
    every replicate is bit-stable under any shuffle order.

    Scale: one scan fans out ×B via explode, map-side combine
    collapses each partition to ≤B rows before the B-key shuffle; the
    observed row and the group-size threshold are one-row broadcasts.
    """
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin(*PERM_GROUPS))
    q = F.floor(F.col("value") * F.lit(1000.0)).cast("long")
    base = ev.select(
        (F.col("event_type") == PERM_GROUPS[0]).alias("g_obs"),
        q.alias("q"),
        *[F.expr(f"md5(concat('perm:', '{blk}', ':', "
                 "cast(event_id as string)))").alias(f"h{blk}")
          for blk in range(_PERM_BLOCKS)],
    ).transform(cut_lineage)
    obs = base.agg(
        F.sum(F.when(F.col("g_obs"), 1).otherwise(0)).cast("long")
        .alias("n1"),
        F.sum(F.when(~F.col("g_obs"), 1).otherwise(0)).cast("long")
        .alias("n0"),
        F.sum(F.when(F.col("g_obs"), F.col("q")).otherwise(0))
        .cast("long").alias("s1"),
        F.sum(F.when(~F.col("g_obs"), F.col("q")).otherwise(0))
        .cast("long").alias("s0"),
    ).withColumn("thr", F.expr("(65536 * n1) div (n1 + n0)"))
    r = base.select(
        "q", *[f"h{blk}" for blk in range(_PERM_BLOCKS)],
        F.explode(F.sequence(F.lit(1), F.lit(PERM_RESAMPLES))).alias("b"),
    ).crossJoin(F.broadcast(obs.select("thr")))
    digest = "".join(
        f"WHEN {blk} THEN h{blk} " for blk in range(_PERM_BLOCKS))
    h = (f"conv(substring(CASE (b - 1) div {_DRAWS_PER_MD5} {digest}END, "
         f"1 + 4 * ((b - 1) % {_DRAWS_PER_MD5}), 4), 16, 10)")
    tagged = r.withColumn("g", F.expr(f"cast({h} as bigint)")
              < F.col("thr"))
    reps = tagged.groupBy("b").agg(
        F.sum(F.when(F.col("g"), 1).otherwise(0)).cast("long")
        .alias("n1b"),
        F.sum(F.when(~F.col("g"), 1).otherwise(0)).cast("long")
        .alias("n0b"),
        F.sum(F.when(F.col("g"), F.col("q")).otherwise(0)).cast("long")
        .alias("s1b"),
        F.sum(F.when(~F.col("g"), F.col("q")).otherwise(0)).cast("long")
        .alias("s0b"),
    )
    j = reps.crossJoin(F.broadcast(obs))
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    lhs = (F.abs(dec("s1b") * dec("n0b") - dec("s0b") * dec("n1b"))
           * (dec("n1") * dec("n0")))
    rhs = (F.abs(dec("s1") * dec("n0") - dec("s0") * dec("n1"))
           * (dec("n1b") * dec("n0b")))
    extreme = j.filter((F.col("n1b") > 0) & (F.col("n0b") > 0)) \
        .agg(F.sum(F.when(lhs >= rhs, 1).otherwise(0)).cast("long")
             .alias("n_extreme"))
    out = obs.crossJoin(F.broadcast(extreme))
    return out.select(
        "n1", "n0",
        F.expr("(1000000 * s1) div n1 - (1000000 * s0) div n0")
        .cast("long").alias("diff_obs_micro"),
        F.lit(PERM_RESAMPLES).cast("long").alias("b_resamples"),
        "n_extreme",
        F.expr(f"(1000000 * (1 + n_extreme)) div ({PERM_RESAMPLES} + 1)")
        .cast("long").alias("p_ppm"),
    )


_PERM_DIGEST_SQL = "".join(
    f"WHEN {blk} THEN h{blk} " for blk in range(_PERM_BLOCKS))
_PERM_H_SQL = (
    f"(('0x' || substr(CASE (b - 1) // {_DRAWS_PER_MD5} "
    f"{_PERM_DIGEST_SQL}END, "
    f"1 + 4 * ((b - 1) % {_DRAWS_PER_MD5}), 4))::BIGINT)"
)

PERMUTATION_ORACLE = f"""
WITH base AS (
  SELECT event_type = '{PERM_GROUPS[0]}' AS g_obs,
         CAST(floor(value * 1000.0) AS BIGINT) AS q,
         {", ".join(
             f"md5('perm:' || '{blk}' || ':' || CAST(event_id AS VARCHAR))"
             f" AS h{blk}" for blk in range(_PERM_BLOCKS))}
  FROM events WHERE event_type IN ('{PERM_GROUPS[0]}', '{PERM_GROUPS[1]}')
),
obs AS (
  SELECT CAST(sum(CASE WHEN g_obs THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         CAST(sum(CASE WHEN g_obs THEN 0 ELSE 1 END) AS BIGINT) AS n0,
         CAST(sum(CASE WHEN g_obs THEN q ELSE 0 END) AS BIGINT) AS s1,
         CAST(sum(CASE WHEN g_obs THEN 0 ELSE q END) AS BIGINT) AS s0
  FROM base
),
obs_t AS (SELECT *, (65536 * n1) // (n1 + n0) AS thr FROM obs),
r AS (
  SELECT q, {", ".join(f"h{blk}" for blk in range(_PERM_BLOCKS))},
         CAST(unnest(range(1, {PERM_RESAMPLES} + 1)) AS INT) AS b,
         thr
  FROM base CROSS JOIN obs_t
),
reps AS (
  SELECT b,
         CAST(sum(CASE WHEN {_PERM_H_SQL} < thr THEN 1 ELSE 0 END)
              AS BIGINT) AS n1b,
         CAST(sum(CASE WHEN {_PERM_H_SQL} < thr THEN 0 ELSE 1 END)
              AS BIGINT) AS n0b,
         CAST(sum(CASE WHEN {_PERM_H_SQL} < thr THEN q ELSE 0 END)
              AS BIGINT) AS s1b,
         CAST(sum(CASE WHEN {_PERM_H_SQL} < thr THEN 0 ELSE q END)
              AS BIGINT) AS s0b
  FROM r GROUP BY 1
),
ext AS (
  SELECT CAST(sum(CASE WHEN
           abs(CAST(s1b AS DECIMAL(38,0)) * n0b
               - CAST(s0b AS DECIMAL(38,0)) * n1b)
             * (CAST(n1 AS DECIMAL(38,0)) * n0)
           >= abs(CAST(s1 AS DECIMAL(38,0)) * n0
                  - CAST(s0 AS DECIMAL(38,0)) * n1)
             * (CAST(n1b AS DECIMAL(38,0)) * n0b)
           THEN 1 ELSE 0 END) AS BIGINT) AS n_extreme
  FROM reps CROSS JOIN obs
  WHERE n1b > 0 AND n0b > 0
)
SELECT n1, n0,
       (1000000 * s1) // n1 - (1000000 * s0) // n0 AS diff_obs_micro,
       CAST({PERM_RESAMPLES} AS BIGINT) AS b_resamples,
       n_extreme,
       (1000000 * (1 + n_extreme)) // ({PERM_RESAMPLES} + 1) AS p_ppm
FROM obs CROSS JOIN ext
"""


#: Power analysis constants: two-sided α = 0.05, power = 0.80, and the
#: minimum detectable effect as a fraction of the metric mean.  The z
#: quantiles are Python-computed once and embedded as identical
#: literals in both engines' expressions.
_POWER_Z_ALPHA = 1.959963984540054    # Φ⁻¹(0.975)
_POWER_Z_BETA = 0.8416212335729143    # Φ⁻¹(0.80)
POWER_MDE_FRACTION = 0.05

#: Final power-analysis math over DECIMAL(38,0) power sums — ONE
#: fragment shared verbatim by both engines.  mean/var are in milli
#: units (values floor-quantized ×1000 per row), which cancel in the
#: n-formula since it divides variance by mean².
_POWER_MEAN = "(CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))"
_POWER_VAR = ("(CAST(n * s2 - s1 * s1 AS DOUBLE)"
              " / CAST(n * (n - 1) AS DOUBLE))")
_POWER_N = (
    f"CAST(ceil(2.0 * {_POWER_VAR}"
    f" * CAST({_POWER_Z_ALPHA!r} + {_POWER_Z_BETA!r} AS DOUBLE)"
    f" * CAST({_POWER_Z_ALPHA!r} + {_POWER_Z_BETA!r} AS DOUBLE)"
    f" / (CAST({POWER_MDE_FRACTION!r} AS DOUBLE) * {_POWER_MEAN}"
    f" * CAST({POWER_MDE_FRACTION!r} AS DOUBLE) * {_POWER_MEAN}))"
    " AS BIGINT)"
)


def stats_power_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B test sample-size calculator per event type: the per-arm N
    needed to detect a 5% relative change of the mean event value at
    α = 0.05, power = 0.80 — the pre-experiment readout every
    experimentation platform serves (``n = 2σ²(z_α+z_β)²/δ²``).

    Values are floor-quantized to milli units per row; the three power
    sums are exact DECIMAL(38,0); the closed-form N is one shared
    double fragment, so both engines produce the identical integer.
    """
    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.expr("cast(floor(value * 1000.0) as bigint)").alias("q"),
    )
    # DECIMAL(38,0) summands (not a post-sum cast): Σq² wraps int64
    # long before 100 TB row counts; DuckDB sums in HUGEINT.
    sums = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum(F.col("q").cast("decimal(38,0)")).alias("s1"),
        F.sum(F.expr("cast(q as decimal(38,0)) * q")).alias("s2"),
    ).filter(F.col("n") >= 2)
    return sums.select(
        "event_type",
        F.col("n").cast("bigint").alias("n_events"),
        F.expr(f"floor({_POWER_MEAN} * CAST(10 AS DOUBLE))"
               " / CAST(10000 AS DOUBLE)").alias("mean_value"),
        F.expr(_POWER_N).alias("needed_per_arm"),
    )


POWER_ANALYSIS_ORACLE = f"""
WITH e AS (
  SELECT event_type,
         CAST(floor(value * 1000.0) AS BIGINT) AS q
  FROM events
),
sums AS (
  SELECT event_type, CAST(count(*) AS DECIMAL(38,0)) AS n,
         CAST(sum(q) AS DECIMAL(38,0)) AS s1,
         CAST(sum(q * q) AS DECIMAL(38,0)) AS s2
  FROM e GROUP BY 1
)
SELECT event_type, CAST(n AS BIGINT) AS n_events,
       floor({_POWER_MEAN} * CAST(10 AS DOUBLE)) / CAST(10000 AS DOUBLE)
         AS mean_value,
       {_POWER_N} AS needed_per_arm
FROM sums WHERE n >= 2
"""


#: PSI: decile buckets cut from the reference half's exact percentiles.
PSI_BUCKETS = 10

#: Bucket assignment from the 9 broadcast cut columns — strict ``>`` so
#: boundary values land in the lower band in both engines (RFM rule).
_PSI_BUCKET = "1 + " + " + ".join(
    f"CAST(cents > c{k} AS INT)" for k in range(1, PSI_BUCKETS)
)

#: Per-bucket PSI term over (n_ref, n_cur, tr, tc) — ONE fragment shared
#: verbatim by both engines; empty buckets take the standard 1e-6 floor
#: so the log stays finite, and the term is floor-quantized to micro
#: units on its own row before any summation by the consumer.
_PSI_P = ("(CASE WHEN n_ref = 0 THEN CAST(0.000001 AS DOUBLE) "
          "ELSE CAST(n_ref AS DOUBLE) / CAST(tr AS DOUBLE) END)")
_PSI_Q = ("(CASE WHEN n_cur = 0 THEN CAST(0.000001 AS DOUBLE) "
          "ELSE CAST(n_cur AS DOUBLE) / CAST(tc AS DOUBLE) END)")
_PSI_TERM = (f"CAST(floor(CAST(1000000 AS DOUBLE) * ({_PSI_Q} - {_PSI_P})"
             f" * ln({_PSI_Q} / {_PSI_P})) AS BIGINT)")


def psi_cuts(ref_cents: DataFrame) -> DataFrame:
    """One-row decile-cut frame (``c1``..``c9``) from a reference
    ``cents`` column — shared by the batch PSI and the streaming drift
    monitor (``streaming/windows.py::psi_buckets_stream``) so bucket
    boundaries have exactly one definition.

    Round 6: the decile scalars go through the distributed
    order-statistic helper — bit-identical to ``percentile`` but with
    no corpus-wide single aggregation buffer (over billions of distinct
    cents the exact-percentile map was the one remaining 100× risk).
    Round 7: histogram mode — cents repeat heavily (sf0.1: 100k events,
    ~18k distinct cents), so the reference half pre-aggregates to
    ``(cents, count)`` and the helper's sampling pass / range shuffle /
    rank window all run over distinct values (domain-bounded) instead
    of events; the count aggregate itself is map-side combinable.
    """
    hist = ref_cents.groupBy("cents").agg(F.count(F.lit(1)).alias("_w"))
    return distributed_exact_quantiles(
        hist, "cents",
        [(f"c{k}", k / PSI_BUCKETS) for k in range(1, PSI_BUCKETS)],
        weight_col="_w",
    )


def stats_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index of the event-value distribution,
    second half of the observation window vs the first — THE model-
    monitoring drift metric (PSI < 0.1 stable, > 0.25 action).

    The reference half's exact deciles become one 9-column scalar row
    broadcast back for bucket assignment (the RFM no-ntile pattern);
    each bucket's ``(q−p)·ln(q/p)`` term is floor-quantized to 1e-6 on
    its own row, so the reported per-bucket terms are bit-stable and
    their sum is the PSI at micro grain.

    Scale shape: one fact scan feeds the split + bucket assignment
    (pre-split epoch bounds and the decile row are one-row broadcast
    scalars); the distribution compare runs on PSI_BUCKETS rows.
    """
    e = load_table(spark, sf_dir, "events").select(
        (F.col("value").cast("decimal(14,2)") * 100)
        .cast("bigint").alias("cents"),
        _epoch_s(F.col("ts")).alias("s"),
    )
    span = e.agg(F.min("s").alias("s0"), F.max("s").alias("s1"))
    tagged = e.crossJoin(F.broadcast(span)).select(
        "cents",
        F.expr("CASE WHEN 2 * s < s0 + s1 THEN 'ref' ELSE 'cur' END")
        .alias("half"),
    ).transform(cut_lineage)   # feeds the cut row + the assign
    cuts = psi_cuts(tagged.filter(F.col("half") == "ref"))
    b = tagged.crossJoin(F.broadcast(cuts)).select(
        "half", F.expr(_PSI_BUCKET).alias("bucket")
    )
    counts = b.groupBy("bucket").agg(
        F.sum(F.when(F.col("half") == "ref", 1).otherwise(0))
        .alias("n_ref"),
        F.sum(F.when(F.col("half") == "cur", 1).otherwise(0))
        .alias("n_cur"),
    )
    # Totals via a window over the PSI_BUCKETS-row counts frame (a
    # constant-size relation — the allowlisted bounded-domain SP-window
    # pattern), saving the separate scalar-broadcast job.
    wall = Window.partitionBy()
    return counts.select(
        "bucket", "n_ref", "n_cur",
        F.sum("n_ref").over(wall).alias("tr"),
        F.sum("n_cur").over(wall).alias("tc"),
    ).select(
        "bucket", "n_ref", "n_cur",
        F.expr(_PSI_TERM).alias("psi_term_micro"),
    )


_PSI_EPOCH_SQL = "date_diff('second', TIMESTAMP '1970-01-01', ts)"

PSI_DRIFT_ORACLE = f"""
WITH e AS (
  SELECT CAST(CAST(value AS DECIMAL(14,2)) * 100 AS BIGINT) AS cents,
         {_PSI_EPOCH_SQL} AS s
  FROM events
),
span AS (SELECT min(s) AS s0, max(s) AS s1 FROM e),
tagged AS (
  SELECT cents,
         CASE WHEN 2 * s < s0 + s1 THEN 'ref' ELSE 'cur' END AS half
  FROM e CROSS JOIN span
),
cuts AS (
  SELECT {", ".join(f"quantile_cont(cents, {k / PSI_BUCKETS}) AS c{k}"
                    for k in range(1, PSI_BUCKETS))}
  FROM tagged WHERE half = 'ref'
),
b AS (
  SELECT half, {_PSI_BUCKET} AS bucket FROM tagged CROSS JOIN cuts
),
counts AS (
  SELECT bucket,
         sum(CASE WHEN half = 'ref' THEN 1 ELSE 0 END) AS n_ref,
         sum(CASE WHEN half = 'cur' THEN 1 ELSE 0 END) AS n_cur
  FROM b GROUP BY 1
),
tot AS (SELECT sum(n_ref) AS tr, sum(n_cur) AS tc FROM counts)
SELECT CAST(bucket AS INT) AS bucket,
       CAST(n_ref AS BIGINT) AS n_ref, CAST(n_cur AS BIGINT) AS n_cur,
       {_PSI_TERM} AS psi_term_micro
FROM counts CROSS JOIN tot
"""


#: Conversion threshold for the two-proportion z-test: an event
#: "converts" when its value exceeds this (≈40% of rows at the synthetic
#: exponential(50) distribution — far from the degenerate 0%/100% edges).
PROP_THRESHOLD = 50.0


def stats_two_proportion_z(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test (pooled SE) for every pair of event types:
    does the share of high-value events (value > :data:`PROP_THRESHOLD`)
    differ between the two types?  The binary-metric sibling of
    :func:`stats_welch_ttest` — conversion readouts are proportions, not
    means, and the pooled-variance z is the standard launch-review test.

    Counts (n, k) per type are exact integers from ONE fact aggregation;
    the pair enumeration is a broadcast self cross join of the |types|-row
    stats table, so the fact is scanned once and never joined.  All
    post-aggregate math is IEEE doubles over identical expression trees,
    floor-truncated to 6 dp.

    Parity note: the reference's analytics surface stops at row counts
    (/root/reference/src/repositories/staging_contact_repository.py);
    this is scale-extension surface.
    """
    st = load_table(spark, sf_dir, "events").groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("value") > F.lit(PROP_THRESHOLD)).cast("long"))
        .alias("k"),
    )
    pa = _side("a", "k") / _side("a", "n")
    pb = _side("b", "k") / _side("b", "n")
    pp = (_side("a", "k") + _side("b", "k")) \
        / (_side("a", "n") + _side("b", "n"))
    z = (pa - pb) / F.sqrt(
        pp * (F.lit(1.0) - pp) * (F.lit(1.0) / _side("a", "n")
                                  + F.lit(1.0) / _side("b", "n"))
    )
    return _type_pairs(st, _floor6(pa).alias("p_a"),
                       _floor6(pb).alias("p_b"),
                       _floor6(z).alias("z_pooled"))


TWO_PROP_ORACLE = f"""
WITH st AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN value > {PROP_THRESHOLD} THEN 1 ELSE 0 END)
              AS BIGINT) AS k
  FROM events GROUP BY 1
),
pairs AS (
  SELECT {_TYPE_PAIR_KEYS_SQL},
         CAST(a.k AS DOUBLE) / CAST(a.n AS DOUBLE) AS pa,
         CAST(b.k AS DOUBLE) / CAST(b.n AS DOUBLE) AS pb,
         (CAST(a.k AS DOUBLE) + CAST(b.k AS DOUBLE))
           / (CAST(a.n AS DOUBLE) + CAST(b.n AS DOUBLE)) AS pp
  {_TYPE_PAIRS_FROM_SQL}
)
SELECT type_a, type_b, n_a, n_b,
       floor(pa * 1000000.0) / 1000000.0 AS p_a,
       floor(pb * 1000000.0) / 1000000.0 AS p_b,
       floor((pa - pb) / sqrt(pp * (1.0 - pp)
                              * (1.0 / CAST(n_a AS DOUBLE)
                                 + 1.0 / CAST(n_b AS DOUBLE)))
             * 1000000.0) / 1000000.0 AS z_pooled
FROM pairs
"""


def stats_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences readout: treatment = odd ``user_id``
    (the :func:`stats_cuped_uplift` assignment), post-period = events at
    or after :data:`CUPED_SPLIT`.  DiD = (T̄post − T̄pre) − (C̄post −
    C̄pre) removes any fixed group-level offset that would bias the
    naive post-period compare; its SE is the root of the four cell
    variance-of-mean terms (unpooled, Welch-style).

    Values are milli-quantized; each of the four (group × period) cells
    contributes exact integer n/Σq and DECIMAL(38) Σq² from ONE fact
    aggregation (4-row shuffle), pivoted to a single row by conditional
    sums.  Doubles only in the final one-row expression, floor-truncated
    to 6 dp.  Scale shape: one scan, one 4-row shuffle, one scalar row.
    """
    e = load_table(spark, sf_dir, "events")
    q = F.floor(F.col("value") * F.lit(1000.0))
    split = F.expr(f"TIMESTAMP_NTZ '{CUPED_SPLIT}'")
    cells = e.select(
        (F.col("user_id") % 2 == 1).cast("int").alias("t"),
        (F.col("ts") >= split).cast("int").alias("post"),
        q.alias("q"),
    ).groupBy("t", "post").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("q").alias("s"),
        F.sum((F.col("q") * F.col("q")).cast("decimal(38,0)")).alias("ss"),
    )

    def _cell(col: str, t: int, post: int) -> F.Column:
        return F.sum(
            F.when((F.col("t") == t) & (F.col("post") == post),
                   F.col(col)).otherwise(F.lit(0))
        )

    one = cells.agg(
        *[_cell("n", t, p).alias(f"n{t}{p}") for t in (0, 1) for p in (0, 1)],
        *[_cell("s", t, p).alias(f"s{t}{p}") for t in (0, 1) for p in (0, 1)],
        *[_cell("ss", t, p).cast("decimal(38,0)").alias(f"ss{t}{p}")
          for t in (0, 1) for p in (0, 1)],
    )

    def _mean(t: int, p: int) -> F.Column:
        return (F.col(f"s{t}{p}").cast("double")
                / F.col(f"n{t}{p}").cast("double"))

    def _semsq(t: int, p: int) -> F.Column:
        # var/n with sample variance from exact power sums; the s·s
        # product is DECIMAL-promoted BEFORE multiplying (BIGINT s² would
        # overflow past ~3·10⁹ milli-units).
        s_dec = F.col(f"s{t}{p}").cast("decimal(38,0)")
        n_d = F.col(f"n{t}{p}").cast("double")
        num = (F.col(f"n{t}{p}") * F.col(f"ss{t}{p}") - s_dec * s_dec
               ).cast("double")
        return num / (n_d * (n_d - F.lit(1.0))) / n_d

    did = (_mean(1, 1) - _mean(1, 0)) - (_mean(0, 1) - _mean(0, 0))
    se = F.sqrt(_semsq(1, 1) + _semsq(1, 0) + _semsq(0, 1) + _semsq(0, 0))

    return one.select(
        F.col("n00").alias("n_ctrl_pre"), F.col("n01").alias("n_ctrl_post"),
        F.col("n10").alias("n_treat_pre"), F.col("n11").alias("n_treat_post"),
        _floor6(did / 1000.0).alias("did_estimate"),
        _floor6(se / 1000.0).alias("did_se"),
        _floor6(did / se).alias("did_z"),
    )


DIFF_IN_DIFF_ORACLE = f"""
WITH cells AS (
  SELECT CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END AS t,
         CASE WHEN ts >= TIMESTAMP '{CUPED_SPLIT}' THEN 1 ELSE 0 END AS post,
         CAST(count(*) AS BIGINT) AS n,
         sum(CAST(floor(value * 1000.0) AS BIGINT)) AS s,
         sum(CAST(CAST(floor(value * 1000.0) AS BIGINT)
                  * CAST(floor(value * 1000.0) AS BIGINT)
                  AS DECIMAL(38,0))) AS ss
  FROM events GROUP BY 1, 2
),
one AS (
  SELECT
    {", ".join(
        f"CAST(sum(CASE WHEN t = {t} AND post = {p} THEN n ELSE 0 END) "
        f"AS BIGINT) AS n{t}{p}, "
        f"CAST(sum(CASE WHEN t = {t} AND post = {p} THEN s ELSE 0 END) "
        f"AS BIGINT) AS s{t}{p}, "
        f"sum(CASE WHEN t = {t} AND post = {p} THEN ss ELSE 0 END) AS ss{t}{p}"
        for t in (0, 1) for p in (0, 1))}
  FROM cells
),
d AS (
  SELECT n00, n01, n10, n11,
         (CAST(s11 AS DOUBLE) / CAST(n11 AS DOUBLE)
          - CAST(s10 AS DOUBLE) / CAST(n10 AS DOUBLE))
         - (CAST(s01 AS DOUBLE) / CAST(n01 AS DOUBLE)
            - CAST(s00 AS DOUBLE) / CAST(n00 AS DOUBLE)) AS did,
         sqrt(
           {" + ".join(
               f"CAST(CAST(n{t}{p} AS DECIMAL(38,0)) * ss{t}{p} "
               f"- CAST(s{t}{p} AS DECIMAL(38,0)) "
               f"* CAST(s{t}{p} AS DECIMAL(38,0)) AS DOUBLE) "
               f"/ (CAST(n{t}{p} AS DOUBLE) * (CAST(n{t}{p} AS DOUBLE) - 1.0)) "
               f"/ CAST(n{t}{p} AS DOUBLE)"
               for t in (0, 1) for p in (0, 1))}
         ) AS se
  FROM one
)
SELECT n00 AS n_ctrl_pre, n01 AS n_ctrl_post,
       n10 AS n_treat_pre, n11 AS n_treat_post,
       floor(did / 1000.0 * 1000000.0) / 1000000.0 AS did_estimate,
       floor(se / 1000.0 * 1000000.0) / 1000000.0 AS did_se,
       floor(did / se * 1000000.0) / 1000000.0 AS did_z
FROM d
"""


#: Wald SPRT: H0 p=0.18 vs H1 p=0.22 on the daily purchase-conversion
#: rate, α = β = 0.05.  The per-observation log-likelihood-ratio
#: increments and the two decision boundaries are *Python-precomputed*
#: micro-quantized integers embedded in BOTH query texts — the whole
#: test is then exact BIGINT arithmetic (k·C1 + (n−k)·C2 prefix sums),
#: no engine ever evaluates a log.
SPRT_P0, SPRT_P1 = 0.18, 0.22
import math as _math  # noqa: E402  (module-scope constant derivation)
SPRT_C1 = _math.floor(1_000_000 * _math.log(SPRT_P1 / SPRT_P0))
SPRT_C2 = _math.floor(
    1_000_000 * _math.log((1 - SPRT_P1) / (1 - SPRT_P0)))
SPRT_A = _math.floor(1_000_000 * _math.log(0.95 / 0.05))   # accept H1
SPRT_B = _math.floor(1_000_000 * _math.log(0.05 / 0.95))   # accept H0

_SPRT_DECISION = (
    f"CASE WHEN cum_llr_q >= {SPRT_A} THEN 'accept_h1' "
    f"WHEN cum_llr_q <= {SPRT_B} THEN 'accept_h0' "
    "ELSE 'continue' END"
)


def stats_sprt_sequential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald's Sequential Probability Ratio Test over the daily purchase
    conversion rate — the always-valid sequential monitor that lets an
    experimenter stop the moment the evidence crosses a boundary
    instead of waiting for a fixed horizon.

    Each day contributes ``k·C1 + (n−k)·C2`` to the running
    log-likelihood ratio (k purchases of n events; C1/C2 the
    micro-quantized per-observation increments); the cumulative LLR and
    the accept-H1/accept-H0/continue decision are emitted per day.
    Everything after the daily aggregate is exact BIGINT arithmetic.

    Scale shape: one fact scan collapses to one row per day; the
    prefix sum is an ordered window over the bounded
    observation-window domain (the ``profile_drift_daily`` shape).
    """
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .alias("n_purchases"),
    )
    llr = (F.col("n_purchases") * F.lit(SPRT_C1)
           + (F.col("n_events") - F.col("n_purchases")) * F.lit(SPRT_C2))
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return (
        daily.withColumn("llr_day_q", llr)
        .withColumn("cum_llr_q", F.sum("llr_day_q").over(w))
        .select(
            "day", "n_events", "n_purchases", "llr_day_q", "cum_llr_q",
            F.expr(_SPRT_DECISION).alias("decision"),
        )
    )


SPRT_ORACLE = f"""
WITH daily AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
         CAST(count(*) AS BIGINT) AS n_events,
         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_purchases
  FROM events GROUP BY 1
),
scored AS (
  SELECT day, n_events, n_purchases,
         n_purchases * {SPRT_C1}
           + (n_events - n_purchases) * {SPRT_C2} AS llr_day_q
  FROM daily
),
cum AS (
  SELECT day, n_events, n_purchases, llr_day_q,
         CAST(sum(llr_day_q) OVER (ORDER BY day) AS BIGINT) AS cum_llr_q
  FROM scored
)
SELECT day, n_events, n_purchases,
       CAST(llr_day_q AS BIGINT) AS llr_day_q, cum_llr_q,
       {_SPRT_DECISION} AS decision
FROM cum
"""


#: Wilcoxon z from the BIGINT triple (n_pairs, w2_plus, tie_term) —
#: ONE double fragment shared verbatim by both engines.  With
#: W⁺ = w2_plus / 2 (twice the average-rank sum keeps ½-ranks exact),
#: z = (W⁺ − n(n+1)/4) / sqrt(n(n+1)(2n+1)/24 − Σ(t³−t)/48).
_WSR_Z = (
    "(CAST(w2_plus AS DOUBLE) / 2.0"
    " - CAST(n_pairs AS DOUBLE) * (CAST(n_pairs AS DOUBLE) + 1.0) / 4.0)"
    " / sqrt(CAST(n_pairs AS DOUBLE) * (CAST(n_pairs AS DOUBLE) + 1.0)"
    " * (2.0 * CAST(n_pairs AS DOUBLE) + 1.0) / 24.0"
    " - CAST(tie_term AS DOUBLE) / 48.0)"
)


def stats_wilcoxon_signed_rank(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Paired Wilcoxon signed-rank test: per-user spend, second half of
    the observation window vs the first — the nonparametric paired
    companion to :func:`stats_mannwhitney_u` (which compares two
    *independent* samples; this one tests a *within-subject* shift, the
    before/after readout an experimenter wants when each user is their
    own control).

    Exactness: each pair's difference is an exact BIGINT (cent sums);
    zero differences are dropped per the classic procedure, and the
    signed ranks reuse :func:`rank_sum_stats` over |d| with the
    positive-difference count as the "positive class" — so twice the
    average-rank sum W⁺·2 and the tie term Σ(t³−t) are exact DECIMAL
    sums, and the tie-corrected normal approximation is one shared
    double fragment floored at 4 decimals.

    Scale shape: the pre/post split bound is a one-row broadcast scalar
    (the stats_psi_drift pattern); pairs come from one user-keyed
    aggregate; ranks use the distributed-ECDF prefix sum — per-bucket
    windows plus a |buckets|-row offset window, never a global sort.
    """
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        (F.col("value").cast("decimal(14,2)") * 100)
        .cast("bigint").alias("cents"),
        _epoch_s(F.col("ts")).alias("s"),
    )
    span = e.agg(F.min("s").alias("s0"), F.max("s").alias("s1"))
    pre = F.expr("2 * s < s0 + s1")
    per_user = (
        e.crossJoin(F.broadcast(span))
        .groupBy("user_id")
        .agg(
            F.sum(F.when(pre, F.col("cents")).otherwise(F.lit(0)))
            .alias("sum1"),
            F.sum(F.when(~pre, F.col("cents")).otherwise(F.lit(0)))
            .alias("sum2"),
            F.sum(F.when(pre, 1).otherwise(0)).alias("n1"),
            F.sum(F.when(~pre, 1).otherwise(0)).alias("n2"),
        )
        .filter((F.col("n1") > 0) & (F.col("n2") > 0))
        .select((F.col("sum2") - F.col("sum1")).alias("d"))
        .filter(F.col("d") != 0)
    )
    counts = (
        per_user.select(
            F.abs(F.col("d")).alias("q"),
            F.when(F.col("d") > 0, F.lit(1)).otherwise(F.lit(0))
            .alias("ip"),
        )
        .groupBy("q")
        .agg(F.sum("ip").alias("cp"), F.sum(1 - F.col("ip")).alias("cn"))
    )
    agg = rank_sum_stats(counts)
    stat = agg.select(
        (F.col("np") + F.col("nn")).cast("bigint").alias("n_pairs"),
        F.col("r2").cast("bigint").alias("w2_plus"),
        F.col("tcorr").cast("bigint").alias("tie_term"),
    )
    return stat.select(
        "n_pairs", "w2_plus", "tie_term",
        F.expr(f"floor(({_WSR_Z}) * CAST(10000 AS DOUBLE))"
               " / CAST(10000 AS DOUBLE)").alias("z"),
        F.expr(f"(({_WSR_Z}) * ({_WSR_Z})) > 3.8414588206941254")
        .alias("reject_95"),
    )


WILCOXON_ORACLE = f"""
WITH e AS (
  SELECT user_id,
         CAST(CAST(value AS DECIMAL(14,2)) * 100 AS BIGINT) AS cents,
         date_diff('second', TIMESTAMP '1970-01-01', ts) AS s
  FROM events
),
span AS (SELECT min(s) AS s0, max(s) AS s1 FROM e),
per_user AS (
  SELECT user_id,
         sum(CASE WHEN 2 * s < s0 + s1 THEN cents ELSE 0 END) AS sum1,
         sum(CASE WHEN 2 * s >= s0 + s1 THEN cents ELSE 0 END) AS sum2,
         sum(CASE WHEN 2 * s < s0 + s1 THEN 1 ELSE 0 END) AS n1,
         sum(CASE WHEN 2 * s >= s0 + s1 THEN 1 ELSE 0 END) AS n2
  FROM e CROSS JOIN span
  GROUP BY user_id
),
diffs AS (
  SELECT sum2 - sum1 AS d FROM per_user
  WHERE n1 > 0 AND n2 > 0 AND sum2 - sum1 <> 0
),
counts AS (
  SELECT abs(d) AS q,
         sum(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS cp,
         sum(CASE WHEN d < 0 THEN 1 ELSE 0 END) AS cn
  FROM diffs GROUP BY 1
),
cum AS (
  SELECT cp, cp + cn AS tv,
         sum(cp + cn) OVER (ORDER BY q) AS cum_t
  FROM counts
),
agg AS (
  SELECT CAST(sum(tv) AS BIGINT) AS n_pairs,
         CAST(sum(cp * (2 * cum_t - tv + 1)) AS BIGINT) AS w2_plus,
         CAST(sum(tv * tv * tv - tv) AS BIGINT) AS tie_term
  FROM cum
)
SELECT n_pairs, w2_plus, tie_term,
       floor(({_WSR_Z}) * CAST(10000 AS DOUBLE)) / CAST(10000 AS DOUBLE) AS z,
       (({_WSR_Z}) * ({_WSR_Z})) > 3.8414588206941254 AS reject_95
FROM agg
"""


def stats_anova_f(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F-test: does mean order value differ across the five
    order priorities?  (The k-group generalisation of the Welch/t tests
    in this module — the reference's per-status aggregate counts
    (``/root/reference/src/processor.py:630-672``) are the degenerate
    "compare groups" shape; this is the inferential version.)

    Exactness: per-group power sums (n, Σx, Σx²) in DECIMAL — one
    map-side-combinable hash aggregate over orders, then a 5-row
    reduction.  The between/within sum-of-squares need per-group
    divisions (Σx_g²/n_g); each group's quotient is ONE division of
    exact decimal-derived doubles (bit-identical in both engines), and
    is floor-quantized to a BIGINT on its own row BEFORE the cross-group
    sum — so the reduction is an integer sum, independent of shuffle
    order (the chi2 convention; a raw double Σ of the quotients would
    be order-dependent).  Unit grain keeps the sum < 2^63 even at
    sf100 (px ~ 1e18); the ≤ k units of quantisation are identical in
    both engines and ~1e-12 relative, far below the 1e-6 readout grain.

    Scale: the expensive part is the first aggregate (partial-agg
    combine, one shuffle of k rows per partition); everything after is
    a constant-size k-row reduction.
    """
    o = load_table(spark, sf_dir, "orders")
    x = F.col("o_totalprice").cast("decimal(18,2)")
    per_group = o.groupBy(F.col("o_orderpriority").alias("g")).agg(
        F.count(F.lit(1)).alias("ng"),
        F.sum(x).alias("sx"),
        F.sum((x * x).cast("decimal(38,4)")).alias("sxx"),
    )
    red = per_group.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("ng").alias("n"),
        F.sum("sx").cast("decimal(38,4)").alias("s_tot"),
        F.sum("sxx").cast("decimal(38,4)").alias("sxx_tot"),
        F.sum(
            F.floor(
                (F.col("sx") * F.col("sx")).cast("decimal(38,4)")
                .cast("double") / F.col("ng")
            ).cast("long")
        ).alias("px_units"),
    ).withColumn("px", F.col("px_units").cast("double"))
    ssb = F.col("px") - (
        (F.col("s_tot") * F.col("s_tot")).cast("decimal(38,4)").cast("double")
        / F.col("n")
    )
    ssw = F.col("sxx_tot").cast("double") - F.col("px")
    f_stat = (ssb / (F.col("k") - 1)) / (ssw / (F.col("n") - F.col("k")))
    return red.select(
        F.col("k").cast("long").alias("k"),
        F.col("n").cast("long").alias("n"),
        (F.col("k") - 1).cast("long").alias("df1"),
        (F.col("n") - F.col("k")).cast("long").alias("df2"),
        F.round(f_stat, 6).alias("f_stat"),
        F.round(ssb / (ssb + ssw), 6).alias("eta_sq"),
    )


ANOVA_ORACLE = """
WITH per_group AS (
  SELECT o_orderpriority AS g, count(*) AS ng,
         sum(CAST(o_totalprice AS DECIMAL(18,2))) AS sx,
         sum(CAST(CAST(o_totalprice AS DECIMAL(18,2))
                  * CAST(o_totalprice AS DECIMAL(18,2))
                  AS DECIMAL(38,4))) AS sxx
  FROM orders GROUP BY 1
),
red AS (
  SELECT count(*) AS k, sum(ng) AS n,
         CAST(sum(sx) AS DECIMAL(38,4)) AS s_tot,
         CAST(sum(sxx) AS DECIMAL(38,4)) AS sxx_tot,
         CAST(sum(CAST(floor(CAST(CAST(sx * sx AS DECIMAL(38,4)) AS DOUBLE)
                             / ng) AS BIGINT)) AS DOUBLE) AS px
  FROM per_group
)
SELECT CAST(k AS BIGINT) AS k, CAST(n AS BIGINT) AS n,
       CAST(k - 1 AS BIGINT) AS df1, CAST(n - k AS BIGINT) AS df2,
       round(((px - CAST(CAST(s_tot * s_tot AS DECIMAL(38,4)) AS DOUBLE) / n)
              / (k - 1))
             / ((CAST(sxx_tot AS DOUBLE) - px) / (n - k)), 6) AS f_stat,
       round((px - CAST(CAST(s_tot * s_tot AS DECIMAL(38,4)) AS DOUBLE) / n)
             / (CAST(sxx_tot AS DOUBLE)
                - CAST(CAST(s_tot * s_tot AS DECIMAL(38,4)) AS DOUBLE) / n),
             6) AS eta_sq
FROM red
"""


#: (column, decimal cast) pairs for the correlation matrix — the four
#: numeric lineitem measures, each cast to the smallest exact DECIMAL
#: that holds it (discount/tax are 2-decimal rates).
_CORR_MATRIX_COLS = [
    ("l_quantity", "18,2"),
    ("l_extendedprice", "18,2"),
    ("l_discount", "4,2"),
    ("l_tax", "4,2"),
]


def stats_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full pairwise Pearson correlation matrix of the four lineitem
    measures (upper triangle, 6 pairs) in ONE pass: a single hash
    aggregate computes every power sum (n, Σx_i, Σx_i², Σx_ix_j) in
    exact DECIMAL, then the 6 correlations are derived on the one
    result row and unpivoted with ``stack``.  This is the feature-
    correlation screen a training pipeline runs before model fitting —
    and the one-pass form is the 100 TB shape: one scan, one
    map-side-combinable aggregate, zero joins, however many columns.
    """
    li = load_table(spark, sf_dir, "lineitem")
    cols = _CORR_MATRIX_COLS
    dec = {c: F.col(c).cast(f"decimal({s})") for c, s in cols}
    aggs = [F.count(F.lit(1)).alias("n")]
    for c, _ in cols:
        aggs.append(F.sum(dec[c]).alias(f"s_{c}"))
        aggs.append(
            F.sum((dec[c] * dec[c]).cast("decimal(38,4)")).alias(f"ss_{c}"))
    pairs = [(a[0], b[0]) for i, a in enumerate(cols) for b in cols[i + 1:]]
    for cx, cy in pairs:
        aggs.append(
            F.sum((dec[cx] * dec[cy]).cast("decimal(38,4)"))
            .alias(f"sp_{cx}_{cy}"))
    one = li.agg(*aggs)
    n = F.col("n")
    out = one
    for cx, cy in pairs:
        num = (n * F.col(f"sp_{cx}_{cy}")).cast("decimal(38,6)") \
            - (F.col(f"s_{cx}") * F.col(f"s_{cy}")).cast("decimal(38,6)")
        dx = (n * F.col(f"ss_{cx}")).cast("decimal(38,6)") \
            - (F.col(f"s_{cx}") * F.col(f"s_{cx}")).cast("decimal(38,6)")
        dy = (n * F.col(f"ss_{cy}")).cast("decimal(38,6)") \
            - (F.col(f"s_{cy}") * F.col(f"s_{cy}")).cast("decimal(38,6)")
        corr = num.cast("double") / (
            F.sqrt(dx.cast("double")) * F.sqrt(dy.cast("double")))
        out = out.withColumn(f"c_{cx}_{cy}", F.round(corr, 10))
    stack_args = ", ".join(
        f"'{cx}', '{cy}', c_{cx}_{cy}" for cx, cy in pairs)
    return out.selectExpr(
        "CAST(n AS BIGINT) AS n",
        f"stack({len(pairs)}, {stack_args}) AS (col_x, col_y, corr)",
    ).select("col_x", "col_y", "n", "corr")


def _corr_matrix_oracle() -> str:
    cols = _CORR_MATRIX_COLS
    sums = ["count(*) AS n"]
    for c, s in cols:
        sums.append(f"sum(CAST({c} AS DECIMAL({s}))) AS s_{c}")
        sums.append(
            f"sum(CAST(CAST({c} AS DECIMAL({s})) * CAST({c} AS DECIMAL({s}))"
            f" AS DECIMAL(38,4))) AS ss_{c}")
    pairs = [(a, b) for i, (a, _) in enumerate(cols)
             for (b, _) in cols[i + 1:]]
    scale = {c: s for c, s in cols}
    for cx, cy in pairs:
        sums.append(
            f"sum(CAST(CAST({cx} AS DECIMAL({scale[cx]}))"
            f" * CAST({cy} AS DECIMAL({scale[cy]}))"
            f" AS DECIMAL(38,4))) AS sp_{cx}_{cy}")
    rows = []
    for cx, cy in pairs:
        num = (f"CAST(CAST(n AS DECIMAL(38,6)) * sp_{cx}_{cy}"
               f" AS DECIMAL(38,6)) - CAST(s_{cx} * s_{cy} AS DECIMAL(38,6))")
        dx = (f"CAST(CAST(n AS DECIMAL(38,6)) * ss_{cx} AS DECIMAL(38,6))"
              f" - CAST(s_{cx} * s_{cx} AS DECIMAL(38,6))")
        dy = (f"CAST(CAST(n AS DECIMAL(38,6)) * ss_{cy} AS DECIMAL(38,6))"
              f" - CAST(s_{cy} * s_{cy} AS DECIMAL(38,6))")
        rows.append(
            f"SELECT '{cx}' AS col_x, '{cy}' AS col_y,"
            f" CAST(n AS BIGINT) AS n,"
            f" round(CAST({num} AS DOUBLE)"
            f" / (sqrt(CAST({dx} AS DOUBLE)) * sqrt(CAST({dy} AS DOUBLE))),"
            f" 10) AS corr FROM agg")
    return ("WITH agg AS (SELECT " + ", ".join(sums)
            + " FROM lineitem) " + " UNION ALL ".join(rows))


CORR_MATRIX_ORACLE = _corr_matrix_oracle()


#: BH-FDR level α = 5% (as a micro fraction, exact integer compares).
BH_ALPHA_MICRO = 50000

#: Abramowitz & Stegun 26.2.17 coefficients for Φ(x), |err| < 7.5e-8 —
#: both engines evaluate the identical polynomial over identical doubles.
_AS_B = (0.319381530, -0.356563782, 1.781477937,
         -1.821255978, 1.330274429)
_AS_T = 0.2316419
_INV_SQRT_2PI = 0.3989422804014327


def _phi_tail_sql(absz: str) -> str:
    """1 − Φ(|z|) as an engine-neutral SQL expression string."""
    t = f"(1.0 / (1.0 + {_AS_T} * {absz}))"
    poly = (f"({_AS_B[0]} * {t} + {_AS_B[1]} * {t} * {t} "
            f"+ {_AS_B[2]} * {t} * {t} * {t} "
            f"+ {_AS_B[3]} * {t} * {t} * {t} * {t} "
            f"+ {_AS_B[4]} * {t} * {t} * {t} * {t} * {t})")
    return (f"({_INV_SQRT_2PI} * exp(-0.5 * {absz} * {absz}) * {poly})")


def stats_bh_fdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini–Hochberg FDR control over the two-proportion test
    family: the multiple-comparisons step every launch review needs
    once it runs a test per metric pair (the raw per-pair z-tests of
    :func:`stats_two_proportion_z` inflate false positives ~m·α).

    Mechanics: two-sided p = 2(1−Φ(|z|)) via the A&S polynomial CDF
    (identical IEEE expression both engines), floor-quantized to micro
    on its own row (accepted risk: the polynomial uses ``exp``, which
    is libm-dependent — a p_micro landing exactly on an integer
    boundary could floor apart by 1 ulp cross-engine; unobserved across
    the 3-SF sweep, and a flip only matters if it also crosses the
    step-up threshold); BH then ranks p ascending and rejects every pair
    up to the LARGEST rank i with ``p_i ≤ i·α/m`` — the step-up rule,
    decided with exact integer cross-multiplication on the quantized
    values (``p_micro·m ≤ i·α_micro``).

    Scale: the family is the |types|-pair table (bounded domain), so
    the rank window and the step-up max run over ≤C(|types|,2) rows;
    the fact table is aggregated once by the underlying test.
    """
    pairs = stats_two_proportion_z(spark, sf_dir).select(
        "type_a", "type_b",
        F.col("z_pooled").alias("z"),
    )
    tail = F.expr(_phi_tail_sql("abs(z)"))
    p_micro = F.floor(2.0 * tail * 1000000.0).cast("long")
    scored = pairs.select(
        "type_a", "type_b", "z",
        F.least(p_micro, F.lit(1000000).cast("long")).alias("p_micro"),
    )
    w = Window.orderBy("p_micro", "type_a", "type_b")
    wall = Window.partitionBy()
    ranked = scored.select(
        "*",
        F.row_number().over(w).alias("rank"),
        F.count(F.lit(1)).over(wall).alias("m"),
    ).withColumn(
        "raw_le",
        (F.col("p_micro") * F.col("m"))
        <= (F.col("rank").cast("long") * BH_ALPHA_MICRO),
    ).withColumn(
        "i_star",
        F.max(F.when(F.col("raw_le"), F.col("rank"))
              .otherwise(F.lit(0))).over(wall),
    )
    return ranked.select(
        "type_a", "type_b", "z", "p_micro",
        F.col("rank").cast("int").alias("rank"),
        F.col("m").cast("int").alias("m"),
        (F.col("rank") <= F.col("i_star")).alias("rejected"),
    )


def stats_holm_bonferroni(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holm–Bonferroni step-DOWN over the same two-proportion family —
    the FWER-controlling companion to :func:`stats_bh_fdr`'s FDR
    step-up: Holm guarantees P(any false rejection) ≤ α (the bar for
    ship/no-ship decisions), where BH only bounds the expected
    false-discovery fraction (the bar for screening).  Running both on
    one family is exactly how a launch review reads a metric batch.

    Mechanics: same A&S-polynomial p-values floor-quantized per row
    (the exp-ulp caveat carries over); Holm rejects ranks below the
    FIRST i with ``p_(i) > α/(m−i+1)`` — decided with exact integer
    cross-multiplication ``p_micro·(m−rank+1) > α_micro`` and one
    min-window over the bounded pair family.
    """
    pairs = stats_two_proportion_z(spark, sf_dir).select(
        "type_a", "type_b",
        F.col("z_pooled").alias("z"),
    )
    tail = F.expr(_phi_tail_sql("abs(z)"))
    p_micro = F.floor(2.0 * tail * 1000000.0).cast("long")
    scored = pairs.select(
        "type_a", "type_b", "z",
        F.least(p_micro, F.lit(1000000).cast("long")).alias("p_micro"),
    )
    w = Window.orderBy("p_micro", "type_a", "type_b")
    wall = Window.partitionBy()
    ranked = scored.select(
        "*",
        F.row_number().over(w).alias("rank"),
        F.count(F.lit(1)).over(wall).alias("m"),
    ).withColumn(
        "viol",
        (F.col("p_micro") * (F.col("m") - F.col("rank") + 1))
        > F.lit(BH_ALPHA_MICRO).cast("long"),
    ).withColumn(
        "i_stop",
        F.min(F.when(F.col("viol"), F.col("rank"))
              .otherwise(F.col("m") + 1)).over(wall),
    )
    return ranked.select(
        "type_a", "type_b", "z", "p_micro",
        F.col("rank").cast("int").alias("rank"),
        F.col("m").cast("int").alias("m"),
        (F.col("rank") < F.col("i_stop")).alias("rejected"),
    )


HOLM_ORACLE = f"""
WITH pairs AS ({TWO_PROP_ORACLE}),
scored AS (
  SELECT type_a, type_b, z_pooled AS z,
         least(CAST(floor(2.0 * {_phi_tail_sql("abs(z_pooled)")}
                          * 1000000.0) AS BIGINT),
               1000000) AS p_micro
  FROM pairs
),
ranked AS (
  SELECT *,
         row_number() OVER (ORDER BY p_micro, type_a, type_b) AS rank,
         count(*) OVER () AS m
  FROM scored
),
flagged AS (
  SELECT *,
         min(CASE WHEN p_micro * (m - rank + 1) > {BH_ALPHA_MICRO}
                  THEN rank ELSE m + 1 END) OVER () AS i_stop
  FROM ranked
)
SELECT type_a, type_b, z, p_micro,
       CAST(rank AS INT) AS rank, CAST(m AS INT) AS m,
       rank < i_stop AS rejected
FROM flagged
"""


BH_FDR_ORACLE = f"""
WITH pairs AS ({TWO_PROP_ORACLE}),
scored AS (
  SELECT type_a, type_b, z_pooled AS z,
         least(CAST(floor(2.0 * {_phi_tail_sql("abs(z_pooled)")}
                          * 1000000.0) AS BIGINT),
               1000000) AS p_micro
  FROM pairs
),
ranked AS (
  SELECT *,
         row_number() OVER (ORDER BY p_micro, type_a, type_b) AS rank,
         count(*) OVER () AS m
  FROM scored
),
flagged AS (
  SELECT *,
         max(CASE WHEN p_micro * m <= rank * {BH_ALPHA_MICRO}
                  THEN rank ELSE 0 END) OVER () AS i_star
  FROM ranked
)
SELECT type_a, type_b, z, p_micro,
       CAST(rank AS INT) AS rank, CAST(m AS INT) AS m,
       rank <= i_star AS rejected
FROM flagged
"""


def stats_jarque_bera(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jarque–Bera normality test on order totals: skewness and excess
    kurtosis from exact power sums, JB = n/6·(S² + K²/4) — the gate a
    pipeline runs before applying any z-score/t-test machinery that
    assumes normal-ish tails (order values are right-skewed, and this
    test says so with a number).

    Exactness: values floor to WHOLE currency units so the 4th power
    sum stays inside DECIMAL(38,0) through sf100 (x⁴ ≈ 6e22 per row ×
    1.5e11 rows ≈ 1e34); Σx..Σx⁴ are exact DECIMAL in one combiner-
    friendly aggregate, and every moment identity afterwards is the
    same double expression in both engines, floored at 4 decimals.
    """
    o = load_table(spark, sf_dir, "orders")
    x = F.floor(F.col("o_totalprice").cast("decimal(18,2)")) \
        .cast("decimal(38,0)")
    agg = o.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("s1"),
        F.sum((x * x).cast("decimal(38,0)")).alias("s2"),
        F.sum((x * x * x).cast("decimal(38,0)")).alias("s3"),
        F.sum((x * x * x * x).cast("decimal(38,0)")).alias("s4"),
    )
    nd = F.col("n").cast("double")
    mean = F.col("s1").cast("double") / nd
    r2 = F.col("s2").cast("double") / nd
    r3 = F.col("s3").cast("double") / nd
    r4 = F.col("s4").cast("double") / nd
    m2 = r2 - mean * mean
    m3 = r3 - F.lit(3.0) * mean * r2 + F.lit(2.0) * mean * mean * mean
    m4 = (r4 - F.lit(4.0) * mean * r3
          + F.lit(6.0) * mean * mean * r2
          - F.lit(3.0) * mean * mean * mean * mean)
    skew = m3 / (m2 * F.sqrt(m2))
    exkurt = m4 / (m2 * m2) - F.lit(3.0)
    jb = nd / F.lit(6.0) * (skew * skew
                            + exkurt * exkurt / F.lit(4.0))
    f4 = lambda c: F.floor(c * F.lit(10000.0)) / F.lit(10000.0)  # noqa
    return agg.select(
        F.col("n").cast("long").alias("n"),
        f4(skew).alias("skewness"),
        f4(exkurt).alias("excess_kurtosis"),
        f4(jb).alias("jb_stat"),
        (jb > F.lit(5.991464547107979)).alias("reject_95"),  # chi2(2)
    )


JARQUE_BERA_ORACLE = """
WITH agg AS (
  SELECT count(*) AS n,
         sum(CAST(floor(CAST(o_totalprice AS DECIMAL(18,2)))
                  AS DECIMAL(38,0))) AS s1,
         sum(CAST(CAST(floor(CAST(o_totalprice AS DECIMAL(18,2)))
                       AS DECIMAL(38,0))
                  * CAST(floor(CAST(o_totalprice AS DECIMAL(18,2)))
                         AS DECIMAL(38,0)) AS DECIMAL(38,0))) AS s2,
         sum(CAST(CAST(floor(CAST(o_totalprice AS DECIMAL(18,2)))
                       AS DECIMAL(38,0))
                  * CAST(floor(CAST(o_totalprice AS DECIMAL(18,2)))
                         AS DECIMAL(38,0))
                  * CAST(floor(CAST(o_totalprice AS DECIMAL(18,2)))
                         AS DECIMAL(38,0)) AS DECIMAL(38,0))) AS s3,
         sum(CAST(CAST(floor(CAST(o_totalprice AS DECIMAL(18,2)))
                       AS DECIMAL(38,0))
                  * CAST(floor(CAST(o_totalprice AS DECIMAL(18,2)))
                         AS DECIMAL(38,0))
                  * CAST(floor(CAST(o_totalprice AS DECIMAL(18,2)))
                         AS DECIMAL(38,0))
                  * CAST(floor(CAST(o_totalprice AS DECIMAL(18,2)))
                         AS DECIMAL(38,0)) AS DECIMAL(38,0))) AS s4
  FROM orders
),
m AS (
  SELECT CAST(n AS BIGINT) AS n,
         CAST(s1 AS DOUBLE) / n AS mean,
         CAST(s2 AS DOUBLE) / n AS r2,
         CAST(s3 AS DOUBLE) / n AS r3,
         CAST(s4 AS DOUBLE) / n AS r4
  FROM agg
),
mm AS (
  SELECT n, r2 - mean * mean AS m2,
         r3 - 3.0 * mean * r2 + 2.0 * mean * mean * mean AS m3,
         r4 - 4.0 * mean * r3 + 6.0 * mean * mean * r2
            - 3.0 * mean * mean * mean * mean AS m4
  FROM m
),
stat AS (
  SELECT n,
         m3 / (m2 * sqrt(m2)) AS skew,
         m4 / (m2 * m2) - 3.0 AS exkurt
  FROM mm
)
SELECT n,
       floor(skew * 10000.0) / 10000.0 AS skewness,
       floor(exkurt * 10000.0) / 10000.0 AS excess_kurtosis,
       floor((CAST(n AS DOUBLE) / 6.0
              * (skew * skew + exkurt * exkurt / 4.0)) * 10000.0)
         / 10000.0 AS jb_stat,
       (CAST(n AS DOUBLE) / 6.0
        * (skew * skew + exkurt * exkurt / 4.0))
         > 5.991464547107979 AS reject_95
FROM stat
"""


def stats_wilson_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """95% Wilson score interval for each event type's share of total
    traffic — the binomial CI that stays inside [0,1] and behaves at
    small counts, i.e. what a dashboard should show instead of the
    Wald ±1.96·√(p̂q̂/n) taught-but-wrong interval.

    Exactness: k and n are exact integers from one aggregate; the
    interval is a single double expression of (k, n, z²) with the
    z-critical literal shared with the rest of the module, floored to
    ppm per bound.

    Scale: one map-side-combinable count aggregate (k rows out), one
    one-row total broadcast back — the events table is read once.
    """
    ev = load_table(spark, sf_dir, "events")
    per = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("k")) \
        .transform(cut_lineage)   # feeds the total + the readout
    tot = per.agg(F.sum("k").cast("long").alias("n"))
    j = per.crossJoin(F.broadcast(tot))
    z2 = F.lit(3.8414588206941254)      # 1.959964² — module convention
    kd, nd = F.col("k").cast("double"), F.col("n").cast("double")
    p = kd / nd
    denom = F.lit(1.0) + z2 / nd
    center = (p + z2 / (F.lit(2.0) * nd)) / denom
    half = F.sqrt(z2) * F.sqrt(
        p * (F.lit(1.0) - p) / nd
        + z2 / (F.lit(4.0) * nd * nd)
    ) / denom
    return j.select(
        "event_type",
        F.col("k").cast("long").alias("k"),
        F.col("n").cast("long").alias("n"),
        F.floor(p * F.lit(1000000.0)).cast("long").alias("p_ppm"),
        F.floor((center - half) * F.lit(1000000.0)).cast("long")
        .alias("lo_ppm"),
        F.floor((center + half) * F.lit(1000000.0)).cast("long")
        .alias("hi_ppm"),
    )


WILSON_CI_ORACLE = """
WITH per AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS k
  FROM events GROUP BY 1
),
tot AS (SELECT CAST(sum(k) AS BIGINT) AS n FROM per)
SELECT event_type, k, n,
       CAST(floor(CAST(k AS DOUBLE) / n * 1000000.0) AS BIGINT) AS p_ppm,
       CAST(floor(((CAST(k AS DOUBLE) / n
                    + 3.8414588206941254 / (2.0 * n))
                   / (1.0 + 3.8414588206941254 / n)
                   - sqrt(3.8414588206941254)
                     * sqrt((CAST(k AS DOUBLE) / n)
                            * (1.0 - CAST(k AS DOUBLE) / n) / n
                            + 3.8414588206941254
                              / (4.0 * CAST(n AS DOUBLE) * n))
                     / (1.0 + 3.8414588206941254 / n))
                  * 1000000.0) AS BIGINT) AS lo_ppm,
       CAST(floor(((CAST(k AS DOUBLE) / n
                    + 3.8414588206941254 / (2.0 * n))
                   / (1.0 + 3.8414588206941254 / n)
                   + sqrt(3.8414588206941254)
                     * sqrt((CAST(k AS DOUBLE) / n)
                            * (1.0 - CAST(k AS DOUBLE) / n) / n
                            + 3.8414588206941254
                              / (4.0 * CAST(n AS DOUBLE) * n))
                     / (1.0 + 3.8414588206941254 / n))
                  * 1000000.0) AS BIGINT) AS hi_ppm
FROM per CROSS JOIN tot
"""


def stats_cronbach_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cronbach's alpha — internal-consistency reliability of a
    composite score, here the three per-order charge components (gross,
    discounted, final charged — the q1 pricing identities) treated as
    items of an "order value" scale.  The measurement-theory statistic
    a feature pipeline checks before averaging correlated signals into
    one index (α near 1 ⇒ the components measure one construct; α near
    0 ⇒ averaging them is meaningless).

    Exactness: α = k/(k−1) · (1 − Σᵢ(n·Σxᵢ² − (Σxᵢ)²)/(n·ΣT² − (ΣT)²))
    — the n² variance denominators cancel.  Each per-order item (and
    the row total T) is floor-quantized to WHOLE currency units before
    squaring — the jarque-bera convention — so every power sum is an
    exact DECIMAL(38,0) integer in BOTH engines (squaring the scale-4/
    scale-6 decimals directly would hit Spark's precision-loss rounding
    at scale 6 while DuckDB keeps the exact scale-8 product: a per-row
    double-rounding divergence, r7 ADVICE).  Item values are ~1e5, so
    the whole-unit grain costs ~1e-5 relative — invisible at the
    6-decimal readout, and bit-identical across engines by
    construction.  The statistic is ONE double expression at readout.

    Scale: one map-side-combinable per-order aggregate (items derive
    from lineitem columns row-wise), one constant-size reduction;
    Σx² ≈ 1e11 per row × 1.5e11 rows (sf100) ≈ 1e22 ≪ 38 digits.
    """
    li = load_table(spark, sf_dir, "lineitem")
    ep = F.col("l_extendedprice").cast("decimal(18,2)")
    dc = F.col("l_discount").cast("decimal(18,2)")
    tx = F.col("l_tax").cast("decimal(18,2)")
    per_order = li.groupBy("l_orderkey").agg(
        F.sum(ep).cast("decimal(38,4)").alias("x1"),
        F.sum((ep * (F.lit(1) - dc)).cast("decimal(38,4)")).alias("x2"),
        F.sum((ep * (F.lit(1) - dc) * (F.lit(1) + tx))
              .cast("decimal(38,6)")).cast("decimal(38,6)").alias("x3"),
    )
    u1 = F.floor("x1").cast("decimal(38,0)")
    u2 = F.floor("x2").cast("decimal(38,0)")
    u3 = F.floor("x3").cast("decimal(38,0)")
    ut = F.floor(F.col("x1").cast("decimal(38,6)") + F.col("x2")
                 + F.col("x3")).cast("decimal(38,0)")
    red = per_order.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(u1).alias("s1"),
        F.sum((u1 * u1).cast("decimal(38,0)")).alias("q1"),
        F.sum(u2).alias("s2"),
        F.sum((u2 * u2).cast("decimal(38,0)")).alias("q2"),
        F.sum(u3).alias("s3"),
        F.sum((u3 * u3).cast("decimal(38,0)")).alias("q3"),
        F.sum(ut).alias("st"),
        F.sum((ut * ut).cast("decimal(38,0)")).alias("qt"),
    )
    nd = F.col("n").cast("double")

    def _var_num(s: str, q: str) -> F.Column:
        return (nd * F.col(q).cast("double")
                - F.col(s).cast("double") * F.col(s).cast("double"))

    item_vars = (_var_num("s1", "q1") + _var_num("s2", "q2")
                 + _var_num("s3", "q3"))
    tot_var = _var_num("st", "qt")
    alpha = F.lit(1.5) * (F.lit(1.0) - item_vars / tot_var)  # k/(k-1)=1.5
    return red.select(
        F.col("n").cast("long").alias("n_orders"),
        F.lit(3).cast("int").alias("k_items"),
        F.round(alpha, 6).alias("alpha"),
    )


CRONBACH_ORACLE = """
WITH per_order AS (
  SELECT l_orderkey,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)))
              AS DECIMAL(38,4)) AS x1,
         sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                  * (1 - CAST(l_discount AS DECIMAL(18,2)))
                  AS DECIMAL(38,4))) AS x2,
         CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                       * (1 - CAST(l_discount AS DECIMAL(18,2)))
                       * (1 + CAST(l_tax AS DECIMAL(18,2)))
                       AS DECIMAL(38,6))) AS DECIMAL(38,6)) AS x3
  FROM lineitem GROUP BY 1
),
units AS (
  SELECT CAST(floor(x1) AS DECIMAL(38,0)) AS u1,
         CAST(floor(x2) AS DECIMAL(38,0)) AS u2,
         CAST(floor(x3) AS DECIMAL(38,0)) AS u3,
         CAST(floor(CAST(x1 AS DECIMAL(38,6)) + x2 + x3)
              AS DECIMAL(38,0)) AS ut
  FROM per_order
),
red AS (
  SELECT count(*) AS n,
         sum(u1) AS s1, sum(CAST(u1 * u1 AS DECIMAL(38,0))) AS q1,
         sum(u2) AS s2, sum(CAST(u2 * u2 AS DECIMAL(38,0))) AS q2,
         sum(u3) AS s3, sum(CAST(u3 * u3 AS DECIMAL(38,0))) AS q3,
         sum(ut) AS st, sum(CAST(ut * ut AS DECIMAL(38,0))) AS qt
  FROM units
)
SELECT CAST(n AS BIGINT) AS n_orders, CAST(3 AS INT) AS k_items,
       round(1.5 * (1.0 -
         ((CAST(n AS DOUBLE) * CAST(q1 AS DOUBLE)
           - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
          + (CAST(n AS DOUBLE) * CAST(q2 AS DOUBLE)
             - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE))
          + (CAST(n AS DOUBLE) * CAST(q3 AS DOUBLE)
             - CAST(s3 AS DOUBLE) * CAST(s3 AS DOUBLE)))
         / (CAST(n AS DOUBLE) * CAST(qt AS DOUBLE)
            - CAST(st AS DOUBLE) * CAST(st AS DOUBLE))), 6) AS alpha
FROM red
"""


def stats_levene_bf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown–Forsythe test (Levene's test with group MEDIANS) for equal
    variances across the five order priorities — the assumption check
    that decides whether :func:`stats_anova_f`'s pooled-variance F is
    trustworthy (classic ANOVA is anti-conservative under heteroscedas-
    ticity; Brown–Forsythe's median centers are the robust variant).

    Construction: per-group medians come from the house
    :func:`distributed_exact_quantiles` helper (bounded state at any
    scale, bit-identical to Spark's ``percentile``); each row's
    absolute deviation ``|x − med_g|`` is floor-quantized to integer
    WHOLE currency units on its own row (coarse enough that the
    per-group ``(Σz)²/n_g`` quotient stays inside BIGINT through
    sf1000; deviations here are ~1e5, so the grain costs ~1e-5
    relative), and the test is then EXACTLY the
    one-way ANOVA of those integers — the same DECIMAL power-sum /
    per-group-quotient-floored reduction as :func:`stats_anova_f`.

    Scale: one ranged quantile pass (helper), one broadcast join of the
    5-row median table, one combiner-friendly power-sum aggregate, one
    k-row reduction.
    """
    o = load_table(spark, sf_dir, "orders")
    base = o.select(
        F.col("o_orderpriority").alias("g"),
        F.col("o_totalprice").cast("decimal(18,2)").cast("double")
        .alias("x"),
    ).transform(cut_lineage)  # feeds the quantile pass + the join
    med = distributed_exact_quantiles(
        base, "x", [("med", 0.5)], group_cols=["g"])
    z = base.join(F.broadcast(med), "g").select(
        "g",
        F.floor(F.abs(F.col("x") - F.col("med"))).cast("long").alias("z"),
    )
    per_group = z.groupBy("g").agg(
        F.count(F.lit(1)).alias("ng"),
        F.sum(F.col("z").cast("decimal(38,0)")).alias("sz"),
        F.sum(F.col("z").cast("decimal(38,0)") * F.col("z")).alias("szz"),
    )
    red = per_group.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("ng").alias("n"),
        F.sum("sz").cast("decimal(38,0)").alias("s_tot"),
        F.sum("szz").cast("decimal(38,0)").alias("szz_tot"),
        F.sum(
            F.floor(
                (F.col("sz") * F.col("sz")).cast("decimal(38,0)")
                .cast("double") / F.col("ng")
            ).cast("long")
        ).alias("px_units"),
    ).withColumn("px", F.col("px_units").cast("double"))
    ssb = F.col("px") - (
        (F.col("s_tot") * F.col("s_tot")).cast("decimal(38,0)")
        .cast("double") / F.col("n")
    )
    ssw = F.col("szz_tot").cast("double") - F.col("px")
    f_stat = (ssb / (F.col("k") - 1)) / (ssw / (F.col("n") - F.col("k")))
    return red.select(
        F.col("k").cast("long").alias("k"),
        F.col("n").cast("long").alias("n"),
        (F.col("k") - 1).cast("long").alias("df1"),
        (F.col("n") - F.col("k")).cast("long").alias("df2"),
        F.round(f_stat, 6).alias("f_stat"),
    )


LEVENE_BF_ORACLE = """
WITH base AS (
  SELECT o_orderpriority AS g,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS x
  FROM orders
),
med AS (
  SELECT g, quantile_cont(x, 0.5) AS med FROM base GROUP BY 1
),
z AS (
  SELECT g, CAST(floor(abs(x - med)) AS BIGINT) AS z
  FROM base JOIN med USING (g)
),
per_group AS (
  SELECT g, count(*) AS ng,
         sum(CAST(z AS DECIMAL(38,0))) AS sz,
         sum(CAST(z AS DECIMAL(38,0)) * z) AS szz
  FROM z GROUP BY 1
),
red AS (
  SELECT count(*) AS k, sum(ng) AS n,
         CAST(sum(sz) AS DECIMAL(38,0)) AS s_tot,
         CAST(sum(szz) AS DECIMAL(38,0)) AS szz_tot,
         CAST(sum(CAST(floor(CAST(CAST(sz * sz AS DECIMAL(38,0)) AS DOUBLE)
                             / ng) AS BIGINT)) AS DOUBLE) AS px
  FROM per_group
)
SELECT CAST(k AS BIGINT) AS k, CAST(n AS BIGINT) AS n,
       CAST(k - 1 AS BIGINT) AS df1, CAST(n - k AS BIGINT) AS df2,
       round(((px - CAST(CAST(s_tot * s_tot AS DECIMAL(38,0)) AS DOUBLE) / n)
              / (k - 1))
             / ((CAST(szz_tot AS DOUBLE) - px) / (n - k)), 6) AS f_stat
FROM red
"""


def stats_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal–Wallis H test: do the event-value distributions differ
    across the k event types?  The k-group generalisation of
    :func:`stats_mannwhitney_u` (rank-based one-way ANOVA — the
    nonparametric twin of :func:`stats_anova_f`, robust to the heavy
    right tail event values actually have).

    Exactness: same no-per-row-ranks trick as Mann–Whitney — with tied
    values sharing one average rank, twice the group rank sum is
    ``2R_g = Σ_q c_gq·(2·cum_q − tv_q + 1)``, a function of the
    per-(group, distinct-value) counts alone, so every rank statistic
    is an exact DECIMAL sum.  The per-group quotient ``R_g²/n_g`` is
    ONE division of decimal-derived doubles floor-quantized to a BIGINT
    on its own row BEFORE the cross-group sum (the
    :func:`stats_anova_f` convention, so the k-row reduction is an
    integer sum in any shuffle order).  H and its tie-corrected variant
    are then one identical double expression in both engines, floored
    at 4 decimals.

    Scale shape — one (group × distinct-value) hash aggregate, the
    distributed-ECDF prefix sum over pooled per-value counts
    (:func:`with_cumulative_tv`: per-bucket windows + a |buckets|-row
    offset window as the only serial step), a broadcast join back, and
    a k-row reduction.  Never a global sort, never per-row ranks.
    """
    ev = load_table(spark, sf_dir, "events")
    q = F.floor(F.col("value") * F.lit(1000.0))
    counts = (
        ev.groupBy(F.col("event_type").alias("g"), q.alias("q"))
        .agg(F.count(F.lit(1)).alias("c"))
        .transform(cut_lineage)  # feeds pooled ECDF + the join back
    )
    pooled = counts.groupBy("q").agg(F.sum("c").alias("tv"))
    cum = with_cumulative_tv(pooled).transform(cut_lineage)
    ties = cum.agg(
        F.sum("tv").cast("long").alias("n"),
        F.sum(
            F.col("tv").cast("decimal(38,0)") * F.col("tv") * F.col("tv")
            - F.col("tv")
        ).cast("long").alias("tcorr"),
    )
    two_avg = F.lit(2) * F.col("cum") - F.col("tv") + F.lit(1)
    per_group = (
        counts.join(cum.select("q", "tv", "cum"), "q")
        .groupBy("g")
        .agg(
            F.sum("c").alias("ng"),
            F.sum(
                F.col("c").cast("decimal(38,0)")
                * two_avg.cast("decimal(38,0)")
            ).alias("r2"),
        )
    )
    red = per_group.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum(
            F.floor(
                (F.col("r2") * F.col("r2")).cast("decimal(38,0)")
                .cast("double") / (F.lit(4) * F.col("ng"))
            ).cast("long")
        ).alias("px_units"),
    ).crossJoin(F.broadcast(ties))
    nd = F.col("n").cast("double")
    h = (
        F.lit(12.0) * F.col("px_units").cast("double")
        / (nd * (nd + F.lit(1.0)))
        - F.lit(3.0) * (nd + F.lit(1.0))
    )
    cfac = F.lit(1.0) - F.col("tcorr").cast("double") / (
        nd * nd * nd - nd
    )
    return red.select(
        "k", "n",
        (F.col("k") - 1).cast("long").alias("df"),
        (F.floor(h * F.lit(10000.0)) / F.lit(10000.0)).alias("h"),
        (F.floor(h / cfac * F.lit(10000.0)) / F.lit(10000.0))
        .alias("h_tie_corrected"),
    )


KRUSKAL_ORACLE = """
WITH counts AS (
  SELECT event_type AS g, CAST(floor(value * 1000.0) AS BIGINT) AS q,
         CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
),
cum AS (
  SELECT q, sum(c) AS tv,
         sum(sum(c)) OVER (ORDER BY q) AS cum
  FROM counts GROUP BY q
),
ties AS (
  SELECT CAST(sum(tv) AS BIGINT) AS n,
         CAST(sum(CAST(tv AS DECIMAL(38,0)) * tv * tv - tv) AS BIGINT)
           AS tcorr
  FROM cum
),
per_group AS (
  SELECT g, sum(c) AS ng,
         sum(CAST(c AS DECIMAL(38,0))
             * CAST(2 * cum - tv + 1 AS DECIMAL(38,0))) AS r2
  FROM counts JOIN cum USING (q) GROUP BY g
),
red AS (
  SELECT CAST(count(*) AS BIGINT) AS k,
         sum(CAST(floor(CAST(CAST(r2 * r2 AS DECIMAL(38,0)) AS DOUBLE)
                        / (4 * ng)) AS BIGINT)) AS px_units
  FROM per_group
)
SELECT k, n, CAST(k - 1 AS BIGINT) AS df,
       floor((12.0 * px_units / (CAST(n AS DOUBLE) * (n + 1.0))
              - 3.0 * (n + 1.0)) * 10000.0) / 10000.0 AS h,
       floor((12.0 * px_units / (CAST(n AS DOUBLE) * (n + 1.0))
              - 3.0 * (n + 1.0))
             / (1.0 - CAST(tcorr AS DOUBLE)
                      / (CAST(n AS DOUBLE) * n * n - n))
             * 10000.0) / 10000.0 AS h_tie_corrected
FROM red CROSS JOIN ties
"""


def stats_mcnemar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's test for paired binary outcomes: did each user's
    propensity to purchase CHANGE between the first and second half of
    their own observed lifetime?  The within-subject companion to the
    two-proportion z test (which compares *independent* groups and is
    invalid on before/after pairs of the same users).

    Pairing: per user, the midpoint of their observed span (min/max
    event time in integer microseconds); ``x`` = any purchase at or
    before the midpoint, ``y`` = any purchase after.  The statistic
    only involves the discordant counts ``b = Σ(x ∧ ¬y)`` and
    ``c = Σ(¬x ∧ y)``: with continuity correction
    ``χ² = (|b−c|−1)²/(b+c)`` — all integers except one final division,
    floored at 4 decimals.  The midpoint comparison ``2·ts ≤ mn+mx``
    stays in integer microseconds, so there is no rounding boundary to
    disagree on cross-engine.

    Scale: one per-user aggregate for the bounds, one key-co-partitioned
    join of the purchase slice back onto those bounds, one per-user
    flag aggregate, then a single-row reduction with map-side combine.
    """
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    bounds = ev.groupBy("user_id").agg(
        F.min(us).alias("mn"), F.max(us).alias("mx")
    ).transform(cut_lineage)  # feeds the join AND the left spine
    pur = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", us.alias("us"))
    flags = (
        pur.join(bounds, "user_id")
        .groupBy("user_id")
        .agg(
            F.max(
                F.when(F.lit(2) * F.col("us") <= F.col("mn") + F.col("mx"),
                       F.lit(1)).otherwise(F.lit(0))
            ).alias("x"),
            F.max(
                F.when(F.lit(2) * F.col("us") > F.col("mn") + F.col("mx"),
                       F.lit(1)).otherwise(F.lit(0))
            ).alias("y"),
        )
    )
    full = bounds.join(flags, "user_id", "left").select(
        F.coalesce(F.col("x"), F.lit(0)).alias("x"),
        F.coalesce(F.col("y"), F.lit(0)).alias("y"),
    )
    red = full.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("n_both"),
        F.sum(F.col("x") * (1 - F.col("y"))).cast("long").alias("b_first"),
        F.sum((1 - F.col("x")) * F.col("y")).cast("long").alias("c_second"),
    )
    b, c = F.col("b_first"), F.col("c_second")
    num = (F.abs(b - c) - F.lit(1))
    stat = F.when(
        b + c > 0,
        (num * num).cast("double") / (b + c).cast("double"),
    ).otherwise(F.lit(0.0))
    return red.select(
        "n_users", "n_both", "b_first", "c_second",
        (F.floor(stat * F.lit(10000.0)) / F.lit(10000.0)).alias("chi2"),
        (stat > F.lit(3.8414588206941254)).alias("reject_95"),
    )


MCNEMAR_ORACLE = """
WITH bounds AS (
  SELECT user_id, min(epoch_us(ts)) AS mn, max(epoch_us(ts)) AS mx
  FROM events GROUP BY user_id
),
flags AS (
  SELECT e.user_id,
         max(CASE WHEN 2 * epoch_us(e.ts) <= b.mn + b.mx
                  THEN 1 ELSE 0 END) AS x,
         max(CASE WHEN 2 * epoch_us(e.ts) > b.mn + b.mx
                  THEN 1 ELSE 0 END) AS y
  FROM events e JOIN bounds b USING (user_id)
  WHERE e.event_type = 'purchase'
  GROUP BY e.user_id
),
paired AS (
  SELECT coalesce(f.x, 0) AS x, coalesce(f.y, 0) AS y
  FROM bounds b LEFT JOIN flags f USING (user_id)
),
red AS (
  SELECT CAST(count(*) AS BIGINT) AS n_users,
         CAST(sum(x * y) AS BIGINT) AS n_both,
         CAST(sum(x * (1 - y)) AS BIGINT) AS b_first,
         CAST(sum((1 - x) * y) AS BIGINT) AS c_second
  FROM paired
)
SELECT n_users, n_both, b_first, c_second,
       floor(CASE WHEN b_first + c_second > 0
                  THEN CAST((abs(b_first - c_second) - 1)
                            * (abs(b_first - c_second) - 1) AS DOUBLE)
                       / (b_first + c_second)
                  ELSE 0.0 END * 10000.0) / 10000.0 AS chi2,
       CASE WHEN b_first + c_second > 0
            THEN CAST((abs(b_first - c_second) - 1)
                      * (abs(b_first - c_second) - 1) AS DOUBLE)
                 / (b_first + c_second)
            ELSE 0.0 END > 3.8414588206941254 AS reject_95
FROM red
"""


#: Ljung–Box portmanteau test: lags evaluated and the chi-square 95%
#: quantile at df = LB_MAX_LAG (scipy.stats.chi2.ppf(0.95, 6)).
LB_MAX_LAG = 6
LB_CHI2_95_DF6 = 12.591587243743977


def stats_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung–Box portmanteau whiteness test on hourly event volume per
    event type — "is there ANY autocorrelation in the first 6 lags?",
    the omnibus gate a forecaster runs before trusting residuals where
    :func:`ev_acf_lags` reads individual lags.

    Construction: the textbook statistic assumes a REGULAR series, so
    the hourly counts are zero-filled onto the contiguous hour spine
    (min..max per type) — complementary to ``ev_acf_lags``'s
    gap-dropping calendar semantics.  Exactness: with S = Σx, Q = Σx²
    and per-lag pair sums A_k = Σ x·y, B_k = Σx, C_k = Σy over the
    (n−k) pairs, the centered ACF is the exact integer ratio

        ρ_k = (n²·A_k − n·S·(B_k + C_k) + (n−k)·S²) / (n²·Q − n·S²)

    (multiply the textbook fixed-denominator estimator through by n²).
    Every term is a DECIMAL(38,0) power sum (n²·A ≈ 1e22 at sf100);
    each lag's contribution ρ_k²/(n−k) is floored to pico units on its
    own row, so the cross-lag reduction is an order-free BIGINT sum,
    and Q_LB = n(n+2)·Σ is one double readout.

    Scale: one partial-aggregated shuffle into hourly buckets; the
    spine, lag fan-out (|hours|×6) and power sums are calendar-bounded.
    """
    hourly = _hour_index(_type_series(spark, sf_dir, "hour"))
    span = hourly.groupBy("event_type").agg(
        F.min("eh").alias("h0"), F.max("eh").alias("h1"))
    spine = span.select(
        "event_type", F.explode(F.expr("sequence(h0, h1)")).alias("eh"))
    x = spine.join(hourly, ["event_type", "eh"], "left").select(
        "event_type", "eh",
        F.coalesce("c", F.lit(0)).cast("long").alias("c"),
    ).transform(cut_lineage)    # spine feeds base AND both join sides
    base = x.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c").cast("decimal(38,0)").alias("s"),
        F.sum(F.col("c") * F.col("c")).cast("decimal(38,0)").alias("q"),
    )
    pairs = _lag_pairs(x, LB_MAX_LAG, "xv", "yv")
    per = pairs.groupBy("event_type", "lag").agg(
        F.count(F.lit(1)).alias("m"),
        F.sum(F.col("xv") * F.col("yv")).cast("decimal(38,0)").alias("a"),
        F.sum("xv").cast("decimal(38,0)").alias("bx"),
        F.sum("yv").cast("decimal(38,0)").alias("by"),
    )
    j = per.join(base, "event_type")
    nd = F.col("n").cast("decimal(38,0)")
    md = F.col("m").cast("decimal(38,0)")
    num = (nd * nd * F.col("a")
           - nd * F.col("s") * (F.col("bx") + F.col("by"))
           + md * F.col("s") * F.col("s")).cast("decimal(38,0)")
    den = (nd * nd * F.col("q")
           - nd * F.col("s") * F.col("s")).cast("decimal(38,0)")
    rho = num.cast("double") / den.cast("double")
    contrib = F.floor(
        rho * rho / (F.col("n") - F.col("lag")).cast("double")
        * F.lit(1000000000000.0)
    ).cast("long")
    terms = j.filter(den > 0).select(
        "event_type", "n", contrib.alias("pico"))
    out = terms.groupBy("event_type").agg(
        F.max("n").alias("n_hours"),
        F.count(F.lit(1)).cast("int").alias("df"),
        F.sum("pico").alias("cp"),
    )
    qlb = (F.col("n_hours").cast("double")
           * (F.col("n_hours") + 2).cast("double")
           * (F.col("cp").cast("double") / F.lit(1000000000000.0)))
    return out.select(
        "event_type", "n_hours", "df",
        (F.floor(qlb * 10000.0) / 10000.0).alias("lb_stat"),
        F.when(F.col("df") == LB_MAX_LAG,
               qlb > F.lit(LB_CHI2_95_DF6))
        .otherwise(F.lit(None).cast("boolean")).alias("reject_95"),
    )


LJUNG_BOX_ORACLE = f"""
WITH hourly AS ({_HOUR_INDEX_SQL}),
span AS (
  SELECT event_type, min(eh) AS h0, max(eh) AS h1 FROM hourly GROUP BY 1
),
spine AS (
  SELECT event_type, unnest(range(h0, h1 + 1)) AS eh FROM span
),
x AS (
  SELECT s.event_type, s.eh, CAST(coalesce(h.c, 0) AS BIGINT) AS c
  FROM spine s LEFT JOIN hourly h
    ON h.event_type = s.event_type AND h.eh = s.eh
),
base AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(c) AS DECIMAL(38,0)) AS s,
         CAST(sum(c * c) AS DECIMAL(38,0)) AS q
  FROM x GROUP BY 1
),
pairs AS ({_lag_pairs_sql("x", LB_MAX_LAG)}),
per AS (
  SELECT event_type, lag,
         CAST(count(*) AS BIGINT) AS m,
         CAST(sum(x * y) AS DECIMAL(38,0)) AS a,
         CAST(sum(x) AS DECIMAL(38,0)) AS bx,
         CAST(sum(y) AS DECIMAL(38,0)) AS by
  FROM pairs GROUP BY 1, 2
),
terms AS (
  SELECT p.event_type, b.n,
         floor(
           (CAST(CAST(CAST(b.n AS DECIMAL(38,0)) * b.n * p.a
                      - CAST(b.n AS DECIMAL(38,0)) * b.s * (p.bx + p.by)
                      + CAST(p.m AS DECIMAL(38,0)) * b.s * b.s
                      AS DECIMAL(38,0)) AS DOUBLE)
            / CAST(CAST(CAST(b.n AS DECIMAL(38,0)) * b.n * b.q
                        - CAST(b.n AS DECIMAL(38,0)) * b.s * b.s
                        AS DECIMAL(38,0)) AS DOUBLE))
           * (CAST(CAST(CAST(b.n AS DECIMAL(38,0)) * b.n * p.a
                        - CAST(b.n AS DECIMAL(38,0)) * b.s * (p.bx + p.by)
                        + CAST(p.m AS DECIMAL(38,0)) * b.s * b.s
                        AS DECIMAL(38,0)) AS DOUBLE)
              / CAST(CAST(CAST(b.n AS DECIMAL(38,0)) * b.n * b.q
                          - CAST(b.n AS DECIMAL(38,0)) * b.s * b.s
                          AS DECIMAL(38,0)) AS DOUBLE))
           / CAST(b.n - p.lag AS DOUBLE) * 1000000000000.0
         )::BIGINT AS pico
  FROM per p JOIN base b USING (event_type)
  WHERE CAST(CAST(b.n AS DECIMAL(38,0)) * b.n * b.q
             - CAST(b.n AS DECIMAL(38,0)) * b.s * b.s
             AS DECIMAL(38,0)) > 0
),
agg AS (
  SELECT event_type, max(n) AS n_hours,
         CAST(count(*) AS INT) AS df,
         CAST(sum(pico) AS BIGINT) AS cp
  FROM terms GROUP BY 1
)
SELECT event_type, n_hours, df,
       floor(CAST(n_hours AS DOUBLE) * (n_hours + 2)
             * (CAST(cp AS DOUBLE) / 1000000000000.0) * 10000.0)
         / 10000.0 AS lb_stat,
       CASE WHEN df = {LB_MAX_LAG}
            THEN CAST(n_hours AS DOUBLE) * (n_hours + 2)
                 * (CAST(cp AS DOUBLE) / 1000000000000.0)
                 > {LB_CHI2_95_DF6!r}
            ELSE NULL END AS reject_95
FROM agg
"""


def stats_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V — the [0, 1] effect size behind
    :func:`stats_chi2_independence`'s raw χ²: V = √(χ² / (n·min(r−1,
    c−1))).  A petabyte-scale χ² is ALWAYS "significant"; V is the
    number that says whether the association is worth acting on
    (rule-of-thumb 0.1/0.3/0.5 = weak/moderate/strong), which is what a
    drift monitor should alert on instead of the p-value.

    Reuses the chi-square plan verbatim (single codification) plus one
    two-scalar margin aggregate; the readout is one double expression
    over exact-integer-derived operands in both engines.
    """
    chi = stats_chi2_independence(spark, sf_dir)
    e = load_table(spark, sf_dir, "events").select(
        "event_type", F.hour("ts").alias("h"))
    m = e.agg(F.count_distinct("event_type").alias("r"),
              F.count_distinct("h").alias("cc"))
    k = F.least(F.col("r") - 1, F.col("cc") - 1).cast("double")
    v = F.sqrt(F.col("chi2") / (F.col("n").cast("double") * k))
    return chi.crossJoin(F.broadcast(m)).select(
        "n",
        F.col("r").cast("long").alias("n_types"),
        F.col("cc").cast("long").alias("n_hours"),
        "df",
        F.round(v, 6).alias("cramers_v"),
    )


CRAMERS_V_ORACLE = f"""
WITH chi AS ({CHI2_ORACLE}),
m AS (
  SELECT CAST(count(DISTINCT event_type) AS BIGINT) AS r,
         CAST(count(DISTINCT hour(ts)) AS BIGINT) AS cc
  FROM events
)
SELECT n, r AS n_types, cc AS n_hours, df,
       round(sqrt(chi2 / (CAST(n AS DOUBLE)
                          * CAST(least(r - 1, cc - 1) AS DOUBLE))), 6)
         AS cramers_v
FROM chi CROSS JOIN m
"""


def stats_theil_inequality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil T inequality index of document length (n_chars) with its
    exact between/within-source DECOMPOSITION — the property Gini
    (:func:`ev_gini_user_activity`) famously lacks, and the reason a
    corpus team reaches for Theil: "is token-mass inequality driven by
    a few huge sources, or by huge documents inside each source?" —
    here over character mass (n_chars), the storage-cost axis, which is
    why the share column is named ``char_share_ppm``.

    Identity (μ = S/n):  T = (1/S)·Σ xᵢ·ln(xᵢ) + ln(n/S)
        = T_between + Σ_g (S_g/S)·T_within_g, where
        T_between  = (1/S)·Σ_g S_g·(ln S_g − ln n_g) + ln(n) − ln(S)
        T_within_g = (1/S_g)·Σ_{i∈g} xᵢ·ln(xᵢ) + ln(n_g) − ln(S_g)

    Exactness: the only data-dependent transcendentals are ln of exact
    BIGINTs (the MI/entropy convention); each row's xᵢ·ln(xᵢ) is
    floored to micro units on its own row so every Σ is an order-free
    BIGINT, and the readouts are fixed double expressions over those
    integers (documented ulp-at-floor risk, same as the other
    transcendental sites).  Zero-token docs contribute 0·ln 0 = 0.

    Output: one row per source (n_docs, token share, within-source
    Theil) plus the corpus-constant readouts (t_total, t_between,
    t_within_weighted) repeated per row — the entropy-identity output
    convention.  Scale: one corpus scan into per-source power sums.
    """
    d = load_table(spark, sf_dir, "documents").filter(
        F.col("n_chars") > 0)
    u = F.floor(F.col("n_chars").cast("double")
                * F.log(F.col("n_chars").cast("double"))
                * 1000000.0).cast("long")
    g = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("ng"),
        F.sum("n_chars").alias("sg"),
        F.sum(u).alias("ug"),
    )
    tot = g.agg(F.sum("ng").alias("n"), F.sum("sg").alias("s"),
                F.sum("ug").alias("ut"),
                F.sum(F.floor(F.col("sg").cast("double")
                              * (F.log(F.col("sg").cast("double"))
                                 - F.log(F.col("ng").cast("double")))
                              * 1000000.0).cast("long")).alias("bt"))
    j = g.crossJoin(F.broadcast(tot))
    f6 = lambda c: F.floor(c * 1000000.0) / 1000000.0  # noqa: E731
    sd, nd = F.col("s").cast("double"), F.col("n").cast("double")
    sgd, ngd = F.col("sg").cast("double"), F.col("ng").cast("double")
    t_total = (F.col("ut").cast("double") / 1000000.0 / sd
               + F.log(nd) - F.log(sd))
    t_between = (F.col("bt").cast("double") / 1000000.0 / sd
                 + F.log(nd) - F.log(sd))
    t_within_g = (F.col("ug").cast("double") / 1000000.0 / sgd
                  + F.log(ngd) - F.log(sgd))
    return j.select(
        "source",
        F.col("ng").cast("long").alias("n_docs"),
        F.expr("(1000000 * sg) div s").cast("long")
        .alias("char_share_ppm"),
        f6(t_within_g).alias("t_within"),
        f6(t_total).alias("t_total"),
        f6(t_between).alias("t_between"),
        f6(t_total - t_between).alias("t_within_weighted"),
    )


THEIL_ORACLE = """
WITH d AS (SELECT source, n_chars FROM documents WHERE n_chars > 0),
g AS (
  SELECT source, CAST(count(*) AS BIGINT) AS ng,
         CAST(sum(n_chars) AS BIGINT) AS sg,
         CAST(sum(floor(CAST(n_chars AS DOUBLE)
                        * ln(CAST(n_chars AS DOUBLE))
                        * 1000000.0)::BIGINT) AS BIGINT) AS ug
  FROM d GROUP BY 1
),
tot AS (
  SELECT CAST(sum(ng) AS BIGINT) AS n, CAST(sum(sg) AS BIGINT) AS s,
         CAST(sum(ug) AS BIGINT) AS ut,
         CAST(sum(floor(CAST(sg AS DOUBLE)
                        * (ln(CAST(sg AS DOUBLE))
                           - ln(CAST(ng AS DOUBLE)))
                        * 1000000.0)::BIGINT) AS BIGINT) AS bt
  FROM g
)
SELECT source, ng AS n_docs,
       (1000000 * sg) // s AS char_share_ppm,
       floor((CAST(ug AS DOUBLE) / 1000000.0 / CAST(sg AS DOUBLE)
              + ln(CAST(ng AS DOUBLE)) - ln(CAST(sg AS DOUBLE)))
             * 1000000.0) / 1000000.0 AS t_within,
       floor((CAST(ut AS DOUBLE) / 1000000.0 / CAST(s AS DOUBLE)
              + ln(CAST(n AS DOUBLE)) - ln(CAST(s AS DOUBLE)))
             * 1000000.0) / 1000000.0 AS t_total,
       floor((CAST(bt AS DOUBLE) / 1000000.0 / CAST(s AS DOUBLE)
              + ln(CAST(n AS DOUBLE)) - ln(CAST(s AS DOUBLE)))
             * 1000000.0) / 1000000.0 AS t_between,
       floor(((CAST(ut AS DOUBLE) / 1000000.0 / CAST(s AS DOUBLE)
               + ln(CAST(n AS DOUBLE)) - ln(CAST(s AS DOUBLE)))
              - (CAST(bt AS DOUBLE) / 1000000.0 / CAST(s AS DOUBLE)
                 + ln(CAST(n AS DOUBLE)) - ln(CAST(s AS DOUBLE))))
             * 1000000.0) / 1000000.0 AS t_within_weighted
FROM g CROSS JOIN tot
"""


SPECS: dict[str, QuerySpec] = {
    "stats_ljung_box": QuerySpec(stats_ljung_box, LJUNG_BOX_ORACLE),
    "stats_cramers_v": QuerySpec(stats_cramers_v, CRAMERS_V_ORACLE),
    "stats_theil_inequality": QuerySpec(stats_theil_inequality,
                                        THEIL_ORACLE),
    "stats_anova_f": QuerySpec(stats_anova_f, ANOVA_ORACLE),
    "stats_kruskal_wallis": QuerySpec(stats_kruskal_wallis, KRUSKAL_ORACLE),
    "stats_levene_bf": QuerySpec(stats_levene_bf, LEVENE_BF_ORACLE),
    "stats_cronbach_alpha": QuerySpec(stats_cronbach_alpha,
                                      CRONBACH_ORACLE),
    "stats_wilson_ci": QuerySpec(stats_wilson_ci, WILSON_CI_ORACLE),
    "stats_jarque_bera": QuerySpec(stats_jarque_bera,
                                   JARQUE_BERA_ORACLE),
    "stats_holm_bonferroni": QuerySpec(stats_holm_bonferroni,
                                       HOLM_ORACLE),
    "stats_mcnemar": QuerySpec(stats_mcnemar, MCNEMAR_ORACLE),
    "stats_corr_matrix": QuerySpec(stats_corr_matrix, CORR_MATRIX_ORACLE),
    "stats_cuped_uplift": QuerySpec(stats_cuped_uplift, CUPED_ORACLE),
    "stats_wilcoxon_signed_rank": QuerySpec(stats_wilcoxon_signed_rank,
                                            WILCOXON_ORACLE),
    "stats_sprt_sequential": QuerySpec(stats_sprt_sequential,
                                       SPRT_ORACLE),
    "stats_two_proportion_z": QuerySpec(stats_two_proportion_z,
                                        TWO_PROP_ORACLE),
    "stats_bh_fdr": QuerySpec(stats_bh_fdr, BH_FDR_ORACLE),
    "stats_diff_in_diff": QuerySpec(stats_diff_in_diff,
                                    DIFF_IN_DIFF_ORACLE),
    "stats_bootstrap_means": QuerySpec(stats_bootstrap_means,
                                       BOOTSTRAP_MEANS_ORACLE),
    "stats_permutation_test": QuerySpec(stats_permutation_test,
                                        PERMUTATION_ORACLE),
    "stats_psi_drift": QuerySpec(stats_psi_drift, PSI_DRIFT_ORACLE),
    "stats_power_analysis": QuerySpec(stats_power_analysis,
                                      POWER_ANALYSIS_ORACLE),
    "stats_ks_test": QuerySpec(stats_ks_test, KS_ORACLE),
    "stats_benford": QuerySpec(stats_benford, BENFORD_ORACLE),
    "stats_hhi_concentration": QuerySpec(stats_hhi_concentration,
                                         HHI_ORACLE),
    "stats_spearman_corr": QuerySpec(stats_spearman_corr, SPEARMAN_ORACLE),
    "stats_mannwhitney_u": QuerySpec(stats_mannwhitney_u,
                                     MANNWHITNEY_ORACLE),
    "stats_welch_ttest": QuerySpec(stats_welch_ttest, WELCH_ORACLE),
    "stats_cohens_d": QuerySpec(stats_cohens_d, COHENS_D_ORACLE),
    "stats_cochran_armitage": QuerySpec(stats_cochran_armitage,
                                        COCHRAN_ARMITAGE_ORACLE),
    "stats_tost_equivalence": QuerySpec(stats_tost_equivalence,
                                        TOST_ORACLE),
    "agg_grouping_sets": QuerySpec(agg_grouping_sets, GROUPING_SETS_ORACLE),
    "stats_linreg_exact": QuerySpec(stats_linreg_exact, LINREG_ORACLE),
    "agg_mode_deterministic": QuerySpec(agg_mode_deterministic, MODE_ORACLE),
    "agg_histogram": QuerySpec(agg_histogram, HISTOGRAM_ORACLE),
    "agg_percentiles": QuerySpec(agg_percentiles, PERCENTILES_ORACLE),
    "agg_variance_exact": QuerySpec(agg_variance_exact, VARIANCE_ORACLE),
    "agg_corr_exact": QuerySpec(agg_corr_exact, CORR_ORACLE),
    "sketch_hist_quantiles": QuerySpec(sketch_hist_quantiles,
                                       HIST_QUANTILES_ORACLE),
    "stats_chi2_independence": QuerySpec(stats_chi2_independence,
                                         CHI2_ORACLE),
    "stats_g_test": QuerySpec(stats_g_test, G_TEST_ORACLE),
}
