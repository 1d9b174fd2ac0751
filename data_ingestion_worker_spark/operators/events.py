"""Event-time windowing operators over the ``events`` table.

The reference's stream is a control stream (one SQS message per job —
SURVEY.md §2.7) with no event-time semantics; these operators add the
standard event-time surface a data pipeline needs: tumbling / sliding /
session windows and keyed deduplication.  The same column logic is reused
by the Structured Streaming path (``streaming/``) — in batch mode it is
fully oracle-verifiable, in stream mode it gains watermarks.

Determinism: value sums go through DECIMAL(14,2); timestamps are compared
at microsecond grain (tables.load_table truncates the nanos source
exactly as DuckDB does).

The per-event-type statistics that this module, ``profiling.py``,
``stats.py`` and ``graph.py`` build on are defined here once, each next
to its DuckDB twin:

- ``_type_series``: the hourly or daily count series per event type;
- ``_type_moments``: its per-type window moments n, Σc, Σc²;
- ``_day_index``: the day index of a daily series row;
- ``_hour_index`` / ``_lag_pairs``: the epoch-hour key and the lag
  fan-out self-join of an hourly series;
- ``_pearson_sums`` / ``_PEARSON_R``: the integer power sums of (x, y)
  pairs with both variances positive, and the correlation over them;
- ``_transition_counts``: the per-user Markov transition pair counts;
- ``_milli_type_stats`` / ``_type_pairs`` and the ``_side*`` columns:
  the milli-quantized per-type value sums and the unordered type-pair
  enumeration over them.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.quantiles import distributed_exact_quantiles
from ..spec import QuerySpec
from ..tables import load_table
from ..functions.checkpoint import cut_lineage

def _val() -> F.Column:
    return F.col("value").cast("decimal(14,2)")


def _epoch_s(c: F.Column) -> F.Column:
    """Epoch seconds (truncated) of a TIMESTAMP_NTZ column.

    NTZ won't cast to BIGINT directly; with the session pinned to UTC the
    NTZ->LTZ cast is value-preserving, and LTZ->BIGINT truncates to whole
    seconds — the same floor DuckDB's date_diff('second', ...) boundary
    count produces for positive epochs.
    """
    return c.cast("timestamp").cast("long")


def _type_series(spark: SparkSession, sf_dir: str, unit: str) -> DataFrame:
    """Event count ``c`` per event type and ``unit`` bucket (``"hour"``
    or ``"day"``); the bucket start is the column named ``unit``.  One
    partial-aggregated shuffle of events; every statistic over the
    series runs on this calendar-bounded frame."""
    return load_table(spark, sf_dir, "events").groupBy(
        "event_type",
        F.window("ts", f"1 {unit}").getField("start").alias(unit),
    ).agg(F.count(F.lit(1)).alias("c"))


def _type_series_sql(unit: str) -> str:
    """SQL twin of :func:`_type_series`, as a CTE body."""
    return f"""
  SELECT event_type, time_bucket(INTERVAL '1 {unit}', ts) AS {unit},
         CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
"""


def _type_moments(series: DataFrame, **by: Column) -> DataFrame:
    """``series`` plus the window moments n, sx = Σc and sxx = Σc² of
    its counts per event type and the extra keys ``by``, each also kept
    as a column named by its keyword.  Exact BIGINT sums over the
    bounded series."""
    w = Window.partitionBy("event_type", *by.values())
    c = F.col("c")
    return series.select(
        "*", *[key.alias(name) for name, key in by.items()],
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum("c").over(w).alias("sx"),
        F.sum(c * c).over(w).alias("sxx"),
    )


def _type_moments_sql(src: str, *by: str) -> str:
    """SQL twin of :func:`_type_moments` over the CTE ``src``, as a CTE
    body; ``by`` are extra partition keys only."""
    return f"""
  SELECT *,
         CAST(count(*) OVER w AS BIGINT) AS n,
         CAST(sum(c) OVER w AS BIGINT) AS sx,
         CAST(sum(c * c) OVER w AS BIGINT) AS sxx
  FROM {src}
  WINDOW w AS (PARTITION BY {", ".join(("event_type", *by))})
"""


def _day_index() -> Column:
    """``x``: days from the first day of the row's event type to its
    ``day`` — the exact integer time axis of a daily series."""
    first = F.min("day").over(Window.partitionBy("event_type"))
    return F.datediff(F.col("day"), first).cast("bigint").alias("x")


_DAY_INDEX_SQL = ("CAST(date_diff('day', min(day) OVER "
                  "(PARTITION BY event_type), day) AS BIGINT) AS x")


def _hour_index(hourly: DataFrame) -> DataFrame:
    """An hourly series keyed by its epoch hour ``eh`` instead of its
    start timestamp, so lag arithmetic is integer addition."""
    return hourly.select(
        "event_type",
        F.expr("cast(cast(hour as timestamp) as long) div 3600")
        .alias("eh"),
        "c",
    )


#: SQL twin of :func:`_hour_index` over the hourly series, as a CTE body.
_HOUR_INDEX_SQL = f"""
  SELECT event_type, epoch(hour)::BIGINT // 3600 AS eh, c
  FROM ({_type_series_sql("hour")})
"""


def _lag_pairs(series: DataFrame, max_lag: int, x: str, y: str
               ) -> DataFrame:
    """(event_type, lag, x, y) for every two rows of an ``eh``-keyed
    series ``lag`` = 1..max_lag hours apart: the earlier count is named
    ``x``, the later ``y``.  Calendar semantics — a silent gap hour
    breaks the pair instead of sliding the series together.  The fan-out
    is |hours| × max_lag map-side rows joined back on the hour key."""
    fan = series.select(
        "event_type", "eh", F.col("c").alias(x),
        F.explode(F.array(*[F.lit(k) for k in
                            range(1, max_lag + 1)])).alias("lag"),
    )
    b = series.select("event_type", F.col("eh").alias("ehb"),
                      F.col("c").alias(y))
    return fan.join(
        b,
        (fan["event_type"] == b["event_type"])
        & (F.col("ehb") == F.col("eh") + F.col("lag")),
    ).select(fan["event_type"], "lag", x, y)


def _lag_pairs_sql(src: str, max_lag: int) -> str:
    """SQL twin of :func:`_lag_pairs` over the CTE ``src``, as a CTE
    body with the counts named x and y."""
    return f"""
  SELECT f.event_type, l.lag, f.c AS x, h.c AS y
  FROM {src} f
  CROSS JOIN (SELECT unnest(range(1, {max_lag + 1})) AS lag) l
  JOIN {src} h ON h.event_type = f.event_type AND h.eh = f.eh + l.lag
"""


#: Pearson r from the power sums of :func:`_pearson_sums` — ONE SQL
#: fragment both engines evaluate verbatim.
_PEARSON_R = (
    "(CAST(n * sxy - sx * sy AS DOUBLE))"
    " / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)"
    " * CAST(n * syy - sy * sy AS DOUBLE))"
)


def _pearson_sums(pairs: DataFrame, *keys: str) -> DataFrame:
    """Per ``keys``: n, sx, sy, sxx, syy and sxy of the integer pairs
    (x, y), kept where both variances are positive.  Exact BIGINT sums
    in one partial aggregate."""
    x, y = F.col("x"), F.col("y")
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    return pairs.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"), F.sum("y").alias("sy"),
        F.sum(x * x).alias("sxx"),
        F.sum(y * y).alias("syy"),
        F.sum(x * y).alias("sxy"),
    ).filter((n * F.col("sxx") - sx * sx > 0)
             & (n * F.col("syy") - sy * sy > 0))


def _pearson_sums_sql(src: str, *keys: str) -> str:
    """SQL twin of :func:`_pearson_sums` over ``src``, as a CTE body;
    ``keys`` are the group keys as select items."""
    head = "".join(f"{k}, " for k in keys)
    return f"""
  SELECT * FROM (
    SELECT {head}CAST(count(*) AS BIGINT) AS n,
           CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
           CAST(sum(x * x) AS BIGINT) AS sxx,
           CAST(sum(y * y) AS BIGINT) AS syy,
           CAST(sum(x * y) AS BIGINT) AS sxy
    FROM {src} GROUP BY ALL
  ) WHERE n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
"""


def _transition_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count ``n`` of every (from_type, to_type) step between adjacent
    events of one user's (ts, event_id)-ordered stream: one lead()
    window per user, then a partial-agg shuffle of |types|² rows."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        load_table(spark, sf_dir, "events").select(
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(w).alias("to_type"),
        )
        .filter(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


#: SQL twin of :func:`_transition_counts`, as a CTE body.
_TRANSITION_COUNTS_SQL = """
  SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
  FROM (
    SELECT event_type AS from_type,
           lead(event_type) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS to_type
    FROM events
  )
  WHERE to_type IS NOT NULL
  GROUP BY 1, 2
"""


def _milli_type_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per event type: n, s = Σq and ss = Σq² of the milli-quantized
    value q = floor(1000·value).  q snaps values to a grid both engines
    agree on; the sums are then exact integers."""
    q = F.floor(F.col("value") * F.lit(1000.0))
    return load_table(spark, sf_dir, "events").groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(q).alias("s"),
        # Square in DECIMAL(38), not LONG: Spark silently wraps int64
        # overflow while the DuckDB oracle raises, so milli-quantized
        # values above ~3e9 would diverge instead of failing loudly.
        F.sum(q.cast("decimal(38,0)") * q.cast("decimal(38,0)")).alias("ss"),
    )


#: SQL twin of :func:`_milli_type_stats`, as a CTE body.
_MILLI_TYPE_STATS_SQL = """
  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         sum(CAST(floor(value * 1000.0) AS BIGINT)) AS s,
         sum(CAST(floor(value * 1000.0) AS BIGINT)
             * CAST(floor(value * 1000.0) AS BIGINT)) AS ss
  FROM events GROUP BY 1
"""


def _type_pairs(st: DataFrame, *cols: Column) -> DataFrame:
    """Every unordered pair of event types in the per-type table ``st``
    as type_a, type_b, n_a, n_b, then ``cols`` (over the sides ``a`` and
    ``b``).  A broadcast self cross join of the |types|-row table: the
    fact table is scanned once and never joined."""
    a, b = st.alias("a"), st.alias("b")
    return (
        a.crossJoin(F.broadcast(b))
        .filter(F.col("a.event_type") < F.col("b.event_type"))
        .select(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
            F.col("a.n").alias("n_a"),
            F.col("b.n").alias("n_b"),
            *cols,
        )
    )


#: SQL twin of :func:`_type_pairs` over the CTE ``st``: the head of the
#: select list and the FROM clause.
_TYPE_PAIR_KEYS_SQL = ("a.event_type AS type_a, b.event_type AS type_b,"
                       " a.n AS n_a, b.n AS n_b")
_TYPE_PAIRS_FROM_SQL = ("FROM st a CROSS JOIN st b"
                        " WHERE a.event_type < b.event_type")


def _side(side: str, col: str) -> Column:
    """Column ``col`` of the pair side ``side`` (``"a"`` or ``"b"``) as
    a double."""
    return F.col(f"{side}.{col}").cast("double")


def _side_mean(side: str) -> Column:
    return _side(side, "s") / _side(side, "n")


def _side_ssd(side: str) -> Column:
    """n·Σq² − (Σq)² of one pair side, as a double (n times the sum of
    squared deviations)."""
    # Cast BEFORE multiplying: s·s on raw BIGINTs overflows around
    # sf1 (s ≈ 3·10⁹ ⇒ s² ≈ 10¹⁹ > 2⁶³); DECIMAL(38) does not.
    s_dec = F.col(f"{side}.s").cast("decimal(38,0)")
    return (F.col(f"{side}.n") * F.col(f"{side}.ss")
            - s_dec * s_dec).cast("double")


def _side_sem2(side: str) -> Column:
    """Squared standard error of one pair side's mean (sample variance
    over n)."""
    n = _side(side, "n")
    return _side_ssd(side) / (n * (n - F.lit(1.0))) / n


def ev_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour windows per event type (F.window — the native
    Spark operator; in streaming mode add a watermark and it runs
    incrementally with partial state)."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.window("ts", "1 hour").getField("start").alias("bucket_start"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(_val()).cast("double").alias("total_value"),
        )
    )


TUMBLING_ORACLE = """
SELECT time_bucket(INTERVAL '1 hour', ts) AS bucket_start, event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS total_value
FROM events GROUP BY 1, 2
"""


def ev_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (1 h length, 30 min slide): every event lands in 2
    overlapping windows — Spark's F.window handles replication natively."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.window("ts", "1 hour", "30 minutes").getField("start")
            .alias("window_start")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(_val()).cast("double").alias("total_value"),
        )
    )


SLIDING_ORACLE = """
SELECT window_start, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS total_value
FROM (
  SELECT unnest([time_bucket(INTERVAL '30 minutes', ts),
                 time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes'])
         AS window_start,
         value
  FROM events
) GROUP BY 1
"""


def ev_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30-min inactivity gap) via gaps-and-islands.

    A new session starts when the gap to the previous event of the same
    user is > 30 min; the cumulative start-marker sum labels each island.
    This is the batch mirror of ``session_window`` in streaming mode; at
    scale it is one shuffle on user_id plus two window passes.
    """
    e = load_table(spark, sf_dir, "events")
    order = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(order)
    gap_s = _epoch_s(F.col("ts")) - _epoch_s(prev_ts)
    is_new = F.when(prev_ts.isNull() | (gap_s > 30 * 60), 1).otherwise(0)
    running = Window.partitionBy("user_id").orderBy("ts", "event_id") \
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sessions = e.withColumn("session_seq", F.sum(is_new).over(running))
    return (
        sessions.groupBy("user_id", "session_seq")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum(_val()).cast("double").alias("total_value"),
        )
    )


SESSION_ORACLE = """
WITH marked AS (
  SELECT user_id, ts, event_id, value,
    CASE WHEN lag(ts) OVER w IS NULL
           OR date_diff('second', lag(ts) OVER w, ts) > 1800
         THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
labeled AS (
  SELECT *, CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
            AS session_seq
  FROM marked
)
SELECT user_id, session_seq,
       min(ts) AS session_start, max(ts) AS session_end,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS total_value
FROM labeled GROUP BY 1, 2
"""


def ev_dedup_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed dedup, keep-earliest (streaming ``dropDuplicates`` analogue,
    re-specified with an explicit deterministic order)."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_type", "event_id", "ts")
    )


DEDUP_FIRST_ORACLE = """
SELECT user_id, event_type, event_id, ts FROM (
  SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                               ORDER BY ts, event_id) AS rn
  FROM events
) WHERE rn = 1
"""


def ev_gap_seconds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival gap per user (lag on the time axis) — the building
    block for latency/SLA monitoring on the job stream (reference
    progress-heartbeat T4 analogue)."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = _epoch_s(F.col("ts")) - _epoch_s(F.lag("ts").over(w))
    return e.select("event_id", "user_id", gap.alias("gap_seconds"))


GAP_ORACLE = """
SELECT event_id, user_id,
       date_diff('second', lag(ts) OVER (PARTITION BY user_id
                 ORDER BY ts, event_id), ts) AS gap_seconds
FROM events
"""


def ev_funnel_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel view -> click -> purchase per user.

    Each stage's entry time is the first event of that type *after* the
    previous stage's entry time (strict event-time ordering, not mere
    co-occurrence).  Expressed as three chained whole-partition windows
    over ONE partitioning of events by user_id: the naive
    aggregate-then-join formulation re-reads the events table once per
    stage (Catalyst does not dedupe common subplans), which at 100 TB
    means six scans; this shape is one scan, one exchange, and a final
    aggregate that reuses the window's partitioning.
    """
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_type"
    )
    w = Window.partitionBy("user_id")
    staged = (
        e.withColumn(
            "t_view",
            F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w),
        )
        .withColumn(
            "t_click",
            F.min(F.when((F.col("event_type") == "click")
                         & (F.col("ts") > F.col("t_view")),
                         F.col("ts"))).over(w),
        )
        .withColumn(
            "t_purchase",
            F.min(F.when((F.col("event_type") == "purchase")
                         & (F.col("ts") > F.col("t_click")),
                         F.col("ts"))).over(w),
        )
    )
    stage = (
        F.lit(1)
        + F.when(F.col("t_click").isNotNull(), 1).otherwise(0)
        + F.when(F.col("t_purchase").isNotNull(), 1).otherwise(0)
    ).cast("int")
    return (
        staged.groupBy("user_id")
        .agg(
            F.max("t_view").alias("t_view"),
            F.max("t_click").alias("t_click"),
            F.max("t_purchase").alias("t_purchase"),
        )
        .filter(F.col("t_view").isNotNull())
        .select("user_id", "t_view", "t_click", "t_purchase",
                stage.alias("funnel_stage"))
    )


FUNNEL_ORACLE = """
WITH v AS (
  SELECT user_id, min(ts) AS t_view FROM events
  WHERE event_type = 'view' GROUP BY 1
),
c AS (
  SELECT e.user_id, min(ts) AS t_click
  FROM events e JOIN v USING (user_id)
  WHERE event_type = 'click' AND ts > t_view
  GROUP BY 1
),
p AS (
  SELECT e.user_id, min(ts) AS t_purchase
  FROM events e JOIN c USING (user_id)
  WHERE event_type = 'purchase' AND ts > t_click
  GROUP BY 1
)
SELECT v.user_id AS user_id, t_view, t_click, t_purchase,
       CAST(1 + (t_click IS NOT NULL)::INT + (t_purchase IS NOT NULL)::INT
            AS INT) AS funnel_stage
FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)
"""


def ev_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention triangle: users cohorted by first-activity day, counted
    on each later active day by day offset.

    Distinct (user, day) first — the classic cardinality reducer: the
    retention aggregate then runs on |users| x |active days| rows, not
    |events| rows.  Both shuffles key on user_id/cohort and are partial-
    aggregated map-side.
    """
    e = load_table(spark, sf_dir, "events")
    cohort = e.groupBy("user_id").agg(
        F.to_date(F.min("ts")).alias("cohort_day")
    )
    days = e.select("user_id", F.to_date("ts").alias("day")).distinct()
    return (
        days.join(cohort, "user_id")
        .groupBy(
            "cohort_day",
            F.datediff("day", "cohort_day").alias("day_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_active"))
    )


RETENTION_ORACLE = """
WITH cohort AS (
  SELECT user_id, CAST(date_trunc('day', min(ts)) AS DATE) AS cohort_day
  FROM events GROUP BY 1
),
days AS (
  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
  FROM events
)
SELECT cohort_day,
       CAST(date_diff('day', cohort_day, day) AS INT) AS day_offset,
       CAST(count(*) AS BIGINT) AS n_active
FROM days JOIN cohort USING (user_id)
GROUP BY 1, 2
"""


def win_time_range_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 1-hour rolling sum per user — a RANGE window frame.

    ROWS frames (win_running_sum) count physical rows; this is the
    *time* frame: all events within the preceding 3600 s, however many
    there are.  RANGE frames treat same-timestamp peers identically in
    every engine, so no tie-break is needed; the sum runs in DECIMAL so
    accumulation order can't matter either.
    """
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(_epoch_s(F.col("ts")))
        .rangeBetween(-3600, 0)
    )
    return ev.select(
        "event_id", "user_id",
        F.sum(F.col("value").cast("decimal(14,2)")).over(w)
        .cast("double").alias("trailing_1h"),
    )


TIME_RANGE_ORACLE = """
SELECT event_id, user_id,
       CAST(sum(CAST(value AS DECIMAL(14,2))) OVER (
         PARTITION BY user_id
         ORDER BY date_diff('second', TIMESTAMP '1970-01-01', ts)
         RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW
       ) AS DOUBLE) AS trailing_1h
FROM events
"""


def ev_props_map_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON props → typed map → explode → per-(type, key) aggregate.

    The semi-structured column pattern: ``from_json`` parses once into a
    real MapType (SURVEY §1.1 notes the reference's only nested value is
    a JSON body it parses per-message), the map explodes to (key, value)
    rows, and the aggregate is an ordinary hash agg.  Sums run in
    BIGINT — exact at any scale.
    """
    ev = load_table(spark, sf_dir, "events")
    m = F.from_json("props", "map<string,int>")
    return (
        ev.select("event_type", F.explode(m).alias("prop_key", "v"))
        .groupBy("event_type", "prop_key")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("v").cast("bigint")).alias("v_sum"),
            F.min("v").alias("v_min"),
            F.max("v").alias("v_max"),
        )
    )


PROPS_MAP_ORACLE = """
SELECT event_type, k AS prop_key, CAST(count(*) AS BIGINT) AS n,
       sum(CAST(json_extract(props, '$.' || k) AS BIGINT)) AS v_sum,
       CAST(min(CAST(json_extract(props, '$.' || k) AS INT)) AS INT)
         AS v_min,
       CAST(max(CAST(json_extract(props, '$.' || k) AS INT)) AS INT)
         AS v_max
FROM (SELECT event_type, props, unnest(json_keys(props)) AS k FROM events)
GROUP BY 1, 2
"""


def ev_date_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar arithmetic surface: truncate-to-date, extract fields,
    day offsets, month ends, day differences vs a fixed anchor —
    SURVEY §2.6 notes the reference has no date arithmetic at all;
    this pins the engine's (all whole-stage-codegen expressions)."""
    ev = load_table(spark, sf_dir, "events")
    d = F.to_date("ts")
    return ev.select(
        "event_id",
        d.alias("d"),
        F.year(d).cast("int").alias("y"),
        F.month(d).cast("int").alias("m"),
        F.date_add(d, 30).alias("due_30d"),
        F.last_day(d).alias("month_end"),
        F.datediff(F.lit("2026-06-01").cast("date"), d).cast("int")
        .alias("days_to_anchor"),
    )


DATE_MATH_ORACLE = """
SELECT event_id, CAST(ts AS DATE) AS d,
       CAST(extract(year FROM ts) AS INT) AS y,
       CAST(extract(month FROM ts) AS INT) AS m,
       CAST(ts AS DATE) + 30 AS due_30d,
       last_day(CAST(ts AS DATE)) AS month_end,
       CAST(datediff('day', CAST(ts AS DATE), DATE '2026-06-01') AS INT)
         AS days_to_anchor
FROM events
"""


def ev_seasonal_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day seasonality profile per event type: count, mean value
    and the type's share of traffic landing in that hour.

    The time-series decomposition baseline (observed = seasonal + resid):
    subtracting this profile from the hourly series is what turns
    :func:`ev_anomaly_zscore` from "daily rhythm detector" into a true
    outlier detector.  Shape: one groupBy over ≤ |types|×24 buckets
    (partial-agg shuffle), then the share via a window over that tiny
    frame — the raw events table is scanned exactly once.  Mean is a
    DECIMAL-sum ÷ BIGINT-count double division (order-independent); the
    share is integer-over-integer (exact inputs, one IEEE division).
    """
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.hour("ts").cast("int").alias("hod")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(_val()).alias("sv"),
    )
    w = Window.partitionBy("event_type")
    return hourly.select(
        "event_type", "hod", "n",
        F.round(F.col("sv").cast("double") / F.col("n").cast("double"), 6)
        .alias("mean_value"),
        F.round(F.col("n").cast("double")
                / F.sum("n").over(w).cast("double"), 6).alias("hour_share"),
    )


SEASONAL_ORACLE = """
SELECT event_type, hod, n,
       round(CAST(sv AS DOUBLE) / CAST(n AS DOUBLE), 6) AS mean_value,
       round(CAST(n AS DOUBLE)
             / CAST(sum(n) OVER (PARTITION BY event_type) AS DOUBLE), 6)
         AS hour_share
FROM (
  SELECT event_type, CAST(hour(ts) AS INT) AS hod,
         CAST(count(*) AS BIGINT) AS n,
         sum(CAST(value AS DECIMAL(14,2))) AS sv
  FROM events GROUP BY 1, 2
)
"""


def ev_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event streams.

    The behavioural-model building block: P(next event type | current
    event type), estimated from every adjacent pair in each user's
    (ts, event_id)-ordered stream.  One partitioning of events by user
    feeds a single lead() window; the pair counts are a partial-agg
    shuffle of |types|² rows; the row-normalizing totals come from a
    window over that tiny matrix — the fact is scanned once.  The
    probability is one IEEE division of two exact counts, truncated to
    6 decimals, so both engines emit identical doubles.
    """
    pairs = _transition_counts(spark, sf_dir)
    tot = Window.partitionBy("from_type")
    prob = F.col("n").cast("double") / F.sum("n").over(tot).cast("double")
    return pairs.select(
        "from_type", "to_type", "n",
        (F.floor(prob * 1000000.0) / 1000000.0).alias("p"),
    )


def ev_markov_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entropy rate of the per-user behavioural Markov chain: the
    conditional entropy H(next | current) per state, occupancy-weighted
    into the chain's bits-per-event rate — the compressibility number
    for a behaviour stream (how predictable users are; the information-
    theoretic sibling of :func:`ev_markov_transitions`).

    Exactness: every entropy term is ``n_ij·(log₂n_i − log₂n_ij)/n_i``
    over exact integer counts, floor-quantized to micro-bits on its own
    pair row; per-state sums and the occupancy weighting
    ``Σ n_i·H_i / N`` are then exact integer arithmetic.  Accepted
    risk: ``log₂`` is libm-dependent, so if a term's micro-bit product
    lands EXACTLY on an integer boundary a 1-ulp JVM/DuckDB divergence
    flips the floor by ±1 (see ``graph._AA_WEIGHTS``).  Integer-count
    log arguments make boundary landings measure-zero in practice; no
    flake observed across the 3-SF sweep.

    Scale: the pair counts are the transitions op's |types|²-row
    aggregate; everything after runs on that bounded matrix, with the
    total-pairs scalar attached as a one-row broadcast.
    """
    pairs = _transition_counts(spark, sf_dir)
    tot = Window.partitionBy("from_type")
    with_row = pairs.select(
        "from_type", "n",
        F.sum("n").over(tot).cast("bigint").alias("n_i"),
    )
    term = F.floor(
        F.col("n").cast("double")
        * (F.log2(F.col("n_i")) - F.log2(F.col("n")))
        * F.lit(1000000.0) / F.col("n_i").cast("double")
    ).cast("long")
    per_state = (
        with_row.select("from_type", "n_i", term.alias("t"))
        .groupBy("from_type")
        .agg(F.max("n_i").alias("n_from"),
             F.sum("t").alias("h_cond_micro"))
        .transform(cut_lineage)   # rows AND the rate scalar
    )
    rate = per_state.agg(
        F.sum("n_from").alias("n_total"),
        F.expr("CAST(sum(n_from * h_cond_micro) div sum(n_from) "
               "AS BIGINT)").alias("rate_micro"),
    )
    return per_state.crossJoin(F.broadcast(rate)).select(
        "from_type",
        F.col("n_from").cast("long").alias("n_from"),
        F.col("h_cond_micro").cast("long").alias("h_cond_micro"),
        F.expr("(1000000 * n_from) div n_total").alias("occupancy_ppm"),
        F.col("rate_micro").cast("long").alias("entropy_rate_micro"),
    )


MARKOV_ENTROPY_ORACLE = f"""
WITH pairs AS ({_TRANSITION_COUNTS_SQL}),
with_row AS (
  SELECT from_type, n,
         CAST(sum(n) OVER (PARTITION BY from_type) AS BIGINT) AS n_i
  FROM pairs
),
per_state AS (
  SELECT from_type, max(n_i) AS n_from,
         sum(CAST(floor(CAST(n AS DOUBLE)
                        * (log2(n_i) - log2(n))
                        * 1000000.0 / CAST(n_i AS DOUBLE)) AS BIGINT))
           AS h_cond_micro
  FROM with_row GROUP BY 1
),
rate AS (
  SELECT sum(n_from) AS n_total,
         sum(n_from * h_cond_micro) // sum(n_from) AS rate_micro
  FROM per_state
)
SELECT from_type,
       CAST(n_from AS BIGINT) AS n_from,
       CAST(h_cond_micro AS BIGINT) AS h_cond_micro,
       (1000000 * CAST(n_from AS BIGINT)) // CAST(n_total AS BIGINT)
         AS occupancy_ppm,
       CAST(rate_micro AS BIGINT) AS entropy_rate_micro
FROM per_state, rate
"""


MARKOV_ORACLE = f"""
WITH pairs AS ({_TRANSITION_COUNTS_SQL})
SELECT from_type, to_type, n,
       floor(CAST(n AS DOUBLE)
             / CAST(sum(n) OVER (PARTITION BY from_type) AS DOUBLE)
             * 1000000.0) / 1000000.0 AS p
FROM pairs
"""


#: Stationary-distribution mass scale and power-iteration count.
MS_SCALE = 1_000_000_000_000
MS_ITERS = 4


def ev_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Steady-state event-type mix of the first-order Markov chain —
    the long-run behavioural equilibrium implied by the transition
    matrix (``ev_markov_transitions``), via MS_ITERS power-iteration
    steps from the uniform distribution.

    Determinism: mass is a BIGINT scaled by 10¹² and every step is
    ``(mass · count) div row_total`` summed as integers — the PageRank
    idiom — so shuffle order cannot perturb a bit.  The chain is closed
    on the states that have outgoing transitions (transitions into a
    state that never transitions out are dropped) so mass only leaks
    through integer truncation.

    Scale shape: one scan of events builds the pair counts (a lead()
    window per user, then a partial-agg shuffle of |types|² rows);
    every iteration joins bounded |types|-sized frames — the fact table
    is never touched again.
    """
    raw = _transition_counts(spark, sf_dir)
    states = raw.select(F.col("from_type").alias("t")).distinct() \
        .transform(cut_lineage)
    c = raw.join(
        states.withColumnRenamed("t", "to_type"), "to_type", "left_semi"
    ).transform(cut_lineage)
    r = c.groupBy("from_type").agg(F.sum("n").alias("r")) \
        .transform(cut_lineage)
    k = states.agg(F.count(F.lit(1)).alias("k"))
    pi = states.crossJoin(F.broadcast(k)).select(
        "t", F.expr(f"{MS_SCALE} div k").alias("mass")
    )
    for _ in range(MS_ITERS):
        pi = (
            pi.join(c, pi.t == c.from_type)
            .join(F.broadcast(r), "from_type")
            .select(F.col("to_type").alias("t"),
                    F.expr("(mass * n) div r").alias("term"))
            .groupBy("t")
            .agg(F.sum("term").alias("mass"))
        )
    return pi.select(
        F.col("t").alias("event_type"),
        F.col("mass").alias("pi_scaled"),
        F.round(F.col("mass").cast("double") / MS_SCALE, 6).alias("pi"),
    )


def _markov_stationary_oracle() -> str:
    iters = []
    prev = "pi0"
    for i in range(1, MS_ITERS + 1):
        iters.append(f""",
pi{i} AS MATERIALIZED (
  SELECT c.to_type AS t, CAST(sum((p.mass * c.n) // r.r) AS BIGINT) AS mass
  FROM {prev} p JOIN c ON p.t = c.from_type
  JOIN r ON c.from_type = r.from_type
  GROUP BY 1
)""")
        prev = f"pi{i}"
    return f"""
WITH raw AS MATERIALIZED ({_TRANSITION_COUNTS_SQL}),
states AS MATERIALIZED (SELECT DISTINCT from_type AS t FROM raw),
c AS MATERIALIZED (
  SELECT from_type, to_type, n FROM raw
  WHERE to_type IN (SELECT t FROM states)
),
r AS MATERIALIZED (SELECT from_type, sum(n) AS r FROM c GROUP BY 1),
k AS (SELECT CAST(count(*) AS BIGINT) AS k FROM states),
pi0 AS (
  SELECT t, CAST({MS_SCALE} // k AS BIGINT) AS mass
  FROM states CROSS JOIN k
){"".join(iters)}
SELECT t AS event_type, mass AS pi_scaled,
       round(CAST(mass AS DOUBLE) / {MS_SCALE}, 6) AS pi
FROM {prev}
"""


MARKOV_STATIONARY_ORACLE = _markov_stationary_oracle()


def ev_user_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-active-day streak per user, reported as the
    corpus-wide distribution (streak length → user count) — the
    engagement metric behind retention dashboards, and the canonical
    *gaps-and-islands* SQL pattern: consecutive days collapse to one
    island key via ``day − row_number`` (consecutive days advance both
    by 1, so their difference is constant), turning streak detection
    into two plain groupBys.

    All arithmetic is dates and integers — no floats anywhere.  Scale
    shape: distinct (user, day) is one shuffle; the row_number window
    partitions by user (parallel across users); the two follow-up
    aggregations shrink monotonically; the final distribution is
    |streak lengths| rows, bounded by the time range, not the data.
    """
    ev = load_table(spark, sf_dir, "events")
    days = ev.select("user_id", F.to_date("ts").alias("day")).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    islands = days.select(
        "user_id",
        F.date_sub(F.col("day"), F.row_number().over(w)).alias("grp"),
    )
    streaks = islands.groupBy("user_id", "grp").agg(
        F.count(F.lit(1)).alias("len")
    )
    longest = streaks.groupBy("user_id").agg(F.max("len").alias("streak_len"))
    return longest.groupBy("streak_len").agg(
        F.count(F.lit(1)).alias("n_users")
    )


USER_STREAKS_ORACLE = """
WITH days AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
),
islands AS (
  SELECT user_id,
         day - CAST(row_number() OVER (PARTITION BY user_id ORDER BY day)
                    AS INTEGER) AS grp
  FROM days
),
streaks AS (
  SELECT user_id, grp, count(*) AS len FROM islands GROUP BY 1, 2
),
longest AS (
  SELECT user_id, CAST(max(len) AS BIGINT) AS streak_len
  FROM streaks GROUP BY 1
)
SELECT streak_len, CAST(count(*) AS BIGINT) AS n_users
FROM longest GROUP BY 1
"""


#: Gini from grouped (value, frequency) rows — ONE shared SQL fragment:
#: G = 2S/(N·W) − (N+1)/N, every input an exact integer.
_GINI_EXPR = (
    "CAST(2 * s AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(w AS DOUBLE))"
    " - CAST(n + 1 AS DOUBLE) / CAST(n AS DOUBLE)"
)


def ev_gini_user_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-user activity, per event type — how
    concentrated each behaviour is in its heaviest users (0 = everyone
    equal, →1 = a handful of users generate everything).  The
    power-user / bot-screening inequality read.

    Exact at any scale WITHOUT a per-user global sort: users collapse
    to a (count value, frequency) table — bounded by the activity
    range, not the user count — and the grouped-data rank identity
    ``Σᵢ i·xᵢ = Σ_groups c·(f·R + f(f+1)/2)`` (R = users below the
    group) turns the Lorenz sum into integer window arithmetic over
    that tiny frame.  One shared SQL fragment computes G from the
    three integer totals on both engines.
    """
    ev = load_table(spark, sf_dir, "events")
    per = ev.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).alias("c")
    )
    vf = per.groupBy("event_type", "c").agg(F.count(F.lit(1)).alias("f"))
    wo = Window.partitionBy("event_type").orderBy("c") \
        .rowsBetween(Window.unboundedPreceding, -1)
    ranked = vf.select(
        "event_type", "c", "f",
        F.coalesce(F.sum("f").over(wo), F.lit(0)).alias("r0"),
    )
    term = F.col("c") * (F.col("f") * F.col("r0")
                         + F.expr("(f * (f + 1)) div 2"))
    agg = ranked.groupBy("event_type").agg(
        F.sum(term).alias("s"),
        F.sum("f").alias("n"),
        F.sum(F.col("c") * F.col("f")).alias("w"),
    )
    return agg.filter(F.col("n") > 0).select(
        F.col("event_type"),
        F.col("n").alias("n_users"),
        F.col("w").alias("n_events"),
        F.round(F.expr(_GINI_EXPR), 6).alias("gini"),
    )


GINI_ORACLE = f"""
WITH per AS (
  SELECT event_type, user_id, CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
),
vf AS (
  SELECT event_type, c, CAST(count(*) AS BIGINT) AS f
  FROM per GROUP BY 1, 2
),
ranked AS (
  SELECT event_type, c, f,
         CAST(COALESCE(sum(f) OVER (PARTITION BY event_type ORDER BY c
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS r0
  FROM vf
),
agg AS (
  SELECT event_type,
         CAST(sum(c * (f * r0 + (f * (f + 1)) // 2)) AS BIGINT) AS s,
         CAST(sum(f) AS BIGINT) AS n,
         CAST(sum(c * f) AS BIGINT) AS w
  FROM ranked GROUP BY 1
)
SELECT event_type, n AS n_users, w AS n_events,
       round({_GINI_EXPR}, 6) AS gini
FROM agg WHERE n > 0
"""


def ev_forecast_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Next-day volume forecast per event type: OLS trend over the
    daily counts, extrapolated one day past the observed range — the
    capacity-planning number an ingest owner reads every morning.

    Determinism: day index and count are exact integers, so all five
    OLS accumulators are integer sums; slope/intercept/forecast are a
    fixed chain of IEEE divisions over identical operands (the
    ``stats_linreg_exact`` recipe on the time axis).  Scale shape: one
    partial-agg shuffle of events into (type, day) buckets; the index
    windows and the per-type regression run over that bounded frame —
    the fact table is scanned once.
    """
    idx = _type_series(spark, sf_dir, "day").select(
        "event_type", "c", _day_index())
    agg = idx.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("c").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("c")).alias("sxy"),
        F.max("x").alias("mx"),
    )
    n = F.col("n")
    num = n * F.col("sxy") - F.col("sx") * F.col("sy")
    den = n * F.col("sxx") - F.col("sx") * F.col("sx")
    slope = num.cast("double") / den.cast("double")
    intercept = (F.col("sy").cast("double")
                 - slope * F.col("sx").cast("double")) / n.cast("double")
    forecast = intercept + slope * (F.col("mx") + 1).cast("double")
    return agg.filter(den > 0).select(
        "event_type", "n",
        F.round(slope, 6).alias("slope"),
        F.round(intercept, 4).alias("intercept"),
        F.round(forecast, 4).alias("forecast_next"),
    )


FORECAST_LINEAR_ORACLE = f"""
WITH daily AS ({_type_series_sql("day")}),
idx AS (SELECT event_type, c, {_DAY_INDEX_SQL} FROM daily),
agg AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         sum(x) AS sx, sum(c) AS sy,
         sum(x * x) AS sxx, sum(x * c) AS sxy, max(x) AS mx
  FROM idx GROUP BY 1
)
SELECT event_type, n,
       round(CAST(n * sxy - sx * sy AS DOUBLE)
             / CAST(n * sxx - sx * sx AS DOUBLE), 6) AS slope,
       round((CAST(sy AS DOUBLE)
              - (CAST(n * sxy - sx * sy AS DOUBLE)
                 / CAST(n * sxx - sx * sx AS DOUBLE))
                * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE), 4) AS intercept,
       round((CAST(sy AS DOUBLE)
              - (CAST(n * sxy - sx * sy AS DOUBLE)
                 / CAST(n * sxx - sx * sx AS DOUBLE))
                * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE)
             + (CAST(n * sxy - sx * sy AS DOUBLE)
                / CAST(n * sxx - sx * sx AS DOUBLE))
               * CAST(mx + 1 AS DOUBLE), 4) AS forecast_next
FROM agg
WHERE n * sxx - sx * sx > 0
"""


def ev_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency / frequency / monetary) user segmentation over
    purchase events — the standard marketing-analytics cut.

    Scale shape: per-user metrics are one groupBy; the quintile cutoffs
    are ONE exact-percentile scalar row broadcast back (no ntile window
    over the full user table — ntile would funnel every user through a
    single partition and its tie behavior is engine-specific, while
    fixed cutoffs + comparisons are embarrassingly parallel and
    deterministic).  Users on a cutoff boundary go to the lower band in
    both engines (strict ``>`` comparisons).

    Determinism: recency is integer day counts from epoch-second
    arithmetic; monetary is a DECIMAL sum; the percentile interpolation
    (Spark ``percentile`` ≡ DuckDB ``quantile_cont``) happens once on
    the scalar row, not per user.
    """
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    # per_user feeds the ref-ts scalar, the cutoff aggregate, and the
    # final projection; the lazy checkpoint materializes the events
    # groupBy once instead of re-scanning the fact table per reference.
    per_user = ev.groupBy("user_id").agg(
        F.max(_epoch_s(F.col("ts"))).alias("last_s"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(_val()).alias("mon"),
    ).transform(cut_lineage)
    ref = per_user.agg(F.max("last_s").alias("ref_s"))
    with_rec = per_user.crossJoin(F.broadcast(ref)).select(
        "user_id",
        F.expr("(ref_s - last_s) div 86400").alias("recency_days"),
        "frequency",
        F.col("mon").cast("double").alias("monetary"),
    )
    # Quintile cutoffs via the distributed order-statistic helper: the
    # three metrics are melted to (metric, value) rows so ONE grouped
    # pass computes all 12 cuts — bit-identical to the percentile
    # aggregate, but no |users|-sized buffer on a single reducer.
    melted = with_rec.select(F.explode(F.array(
        F.struct(F.lit("r").alias("k"),
                 F.col("recency_days").cast("double").alias("x")),
        F.struct(F.lit("f").alias("k"),
                 F.col("frequency").cast("double").alias("x")),
        F.struct(F.lit("m").alias("k"), F.col("monetary").alias("x")),
    )).alias("e")).select(F.col("e.k").alias("k"), F.col("e.x").alias("x"))
    qs = distributed_exact_quantiles(
        melted, "x",
        [("q1", 0.2), ("q2", 0.4), ("q3", 0.6), ("q4", 0.8)],
        group_cols=["k"],
    )
    cuts = qs.agg(*[
        F.max(F.when(F.col("k") == pfx, F.col(f"q{i}"))).alias(f"{pfx}{i}")
        for pfx in ("r", "f", "m") for i in (1, 2, 3, 4)
    ])

    def _band_up(col: str, pfx: str) -> F.Column:
        c = F.col(col).cast("double")
        s = F.lit(1)
        for i in (1, 2, 3, 4):
            s = s + F.when(c > F.col(f"{pfx}{i}"), 1).otherwise(0)
        return s

    def _band_down(col: str, pfx: str) -> F.Column:
        c = F.col(col).cast("double")
        s = F.lit(5)
        for i in (1, 2, 3, 4):
            s = s - F.when(c > F.col(f"{pfx}{i}"), 1).otherwise(0)
        return s

    return (
        with_rec.crossJoin(F.broadcast(cuts))
        .select(
            "user_id", "recency_days", "frequency", "monetary",
            _band_down("recency_days", "r").alias("r_score"),
            _band_up("frequency", "f").alias("f_score"),
            _band_up("monetary", "m").alias("m_score"),
        )
        .withColumn(
            "segment",
            F.concat_ws("", F.col("r_score"), F.col("f_score"),
                        F.col("m_score")),
        )
    )


RFM_ORACLE = """
WITH per_user AS (
  SELECT user_id,
         CAST(max(date_diff('second', TIMESTAMP '1970-01-01',
                            ts)) AS BIGINT) AS last_s,
         CAST(count(*) AS BIGINT) AS frequency,
         CAST(sum(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS monetary
  FROM events WHERE event_type = 'purchase' GROUP BY 1
),
with_rec AS (
  SELECT user_id,
         ((SELECT max(last_s) FROM per_user) - last_s) // 86400
           AS recency_days,
         frequency, monetary
  FROM per_user
),
cuts AS (
  SELECT quantile_cont(CAST(recency_days AS DOUBLE), 0.2) AS r1,
         quantile_cont(CAST(recency_days AS DOUBLE), 0.4) AS r2,
         quantile_cont(CAST(recency_days AS DOUBLE), 0.6) AS r3,
         quantile_cont(CAST(recency_days AS DOUBLE), 0.8) AS r4,
         quantile_cont(CAST(frequency AS DOUBLE), 0.2) AS f1,
         quantile_cont(CAST(frequency AS DOUBLE), 0.4) AS f2,
         quantile_cont(CAST(frequency AS DOUBLE), 0.6) AS f3,
         quantile_cont(CAST(frequency AS DOUBLE), 0.8) AS f4,
         quantile_cont(monetary, 0.2) AS m1,
         quantile_cont(monetary, 0.4) AS m2,
         quantile_cont(monetary, 0.6) AS m3,
         quantile_cont(monetary, 0.8) AS m4
  FROM with_rec
),
scored AS (
  SELECT user_id, recency_days, frequency, monetary,
         5 - (CASE WHEN CAST(recency_days AS DOUBLE) > r1 THEN 1 ELSE 0 END)
           - (CASE WHEN CAST(recency_days AS DOUBLE) > r2 THEN 1 ELSE 0 END)
           - (CASE WHEN CAST(recency_days AS DOUBLE) > r3 THEN 1 ELSE 0 END)
           - (CASE WHEN CAST(recency_days AS DOUBLE) > r4 THEN 1 ELSE 0 END)
           AS r_score,
         1 + (CASE WHEN CAST(frequency AS DOUBLE) > f1 THEN 1 ELSE 0 END)
           + (CASE WHEN CAST(frequency AS DOUBLE) > f2 THEN 1 ELSE 0 END)
           + (CASE WHEN CAST(frequency AS DOUBLE) > f3 THEN 1 ELSE 0 END)
           + (CASE WHEN CAST(frequency AS DOUBLE) > f4 THEN 1 ELSE 0 END)
           AS f_score,
         1 + (CASE WHEN monetary > m1 THEN 1 ELSE 0 END)
           + (CASE WHEN monetary > m2 THEN 1 ELSE 0 END)
           + (CASE WHEN monetary > m3 THEN 1 ELSE 0 END)
           + (CASE WHEN monetary > m4 THEN 1 ELSE 0 END)
           AS m_score
  FROM with_rec CROSS JOIN cuts
)
SELECT user_id, recency_days, frequency, monetary,
       r_score, f_score, m_score,
       CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR)
         || CAST(m_score AS VARCHAR) AS segment
FROM scored
"""


def ev_path_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 user journey prefixes: each user's first five event types
    (event-time order, event_id tie-break) joined with ``>``, ranked by
    how many users share the prefix.

    Scale shape: the row-number window is partitioned by user (parallel
    across users), the per-user path is a bounded collect (≤5 structs),
    and the final ranking compiles to TakeOrderedAndProject — no global
    sort materializes.  Ties at the top-20 boundary break on the path
    string, so the row *set* is engine-independent.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    first5 = (
        ev.select("user_id", "ts", "event_id", "event_type",
                  F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 5)
    )
    paths = first5.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("ts", "event_id", "event_type"))
                ),
                lambda s: s.event_type,
            ),
            ">",
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy(F.desc("n_users"), "path")
        .limit(20)
    )


PATH_TOPK_ORACLE = """
WITH r AS (
  SELECT user_id, ts, event_id, event_type,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rn
  FROM events
),
p AS (
  SELECT user_id,
         string_agg(event_type, '>' ORDER BY ts, event_id) AS path
  FROM r WHERE rn <= 5 GROUP BY 1
)
SELECT path, CAST(count(*) AS BIGINT) AS n_users
FROM p GROUP BY 1
ORDER BY n_users DESC, path
LIMIT 20
"""


def ev_windowed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-2 event types per tumbling hour by total value (windowed
    heavy hitters — the dashboard query behind every "trending now"
    panel).

    Scale shape: one windowed groupBy shrinks the fact table to
    |hours|×|types| rows; the rank window then partitions by hour —
    parallel across hours, each partition a handful of rows.  Ties
    break on (value, type) so the row set is engine-independent.
    """
    e = load_table(spark, sf_dir, "events")
    hourly = e.groupBy(
        F.window("ts", "1 hour").getField("start").alias("bucket_start"),
        "event_type",
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(_val()).alias("total_dec"),
    )
    w = Window.partitionBy("bucket_start").orderBy(
        F.desc("total_dec"), "event_type"
    )
    return (
        hourly.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 2)
        .select("bucket_start", "event_type", "n",
                F.col("total_dec").cast("double").alias("total_value"),
                "rank")
    )


WINDOWED_TOPK_ORACLE = """
WITH hourly AS (
  SELECT time_bucket(INTERVAL '1 hour', ts) AS bucket_start, event_type,
         CAST(count(*) AS BIGINT) AS n,
         sum(CAST(value AS DECIMAL(14,2))) AS total_dec
  FROM events GROUP BY 1, 2
),
ranked AS (
  SELECT bucket_start, event_type, n,
         CAST(total_dec AS DOUBLE) AS total_value,
         CAST(row_number() OVER (PARTITION BY bucket_start
                                 ORDER BY total_dec DESC, event_type)
              AS INT) AS rank
  FROM hourly
)
SELECT bucket_start, event_type, n, total_value, rank
FROM ranked WHERE rank <= 2
"""


def ev_conversion_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution of the view→purchase conversion delay: per user,
    seconds from first view to the first purchase strictly after it;
    exact p25/p50/p90 over converting users — the latency half of the
    funnel story (``ev_funnel_stages`` gives rates, this gives how
    long).

    One partitioning of events by user (two conditional min-windows
    chained, same shape as the funnel); delays are integer epoch-second
    differences, the percentiles exact order statistics, so both
    engines agree bit-for-bit.
    """
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_type"
    )
    w = Window.partitionBy("user_id")
    t_view = F.min(
        F.when(F.col("event_type") == "view", F.col("ts"))
    ).over(w)
    staged = e.withColumn("t_view", t_view).withColumn(
        "t_purchase",
        F.min(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("ts") > F.col("t_view")),
                F.col("ts"),
            )
        ).over(w),
    )
    delays = (
        staged.groupBy("user_id")
        .agg(
            F.first(_epoch_s(F.col("t_view"))).alias("v_s"),
            F.first(_epoch_s(F.col("t_purchase"))).alias("p_s"),
        )
        .filter(F.col("p_s").isNotNull())
        .select((F.col("p_s") - F.col("v_s")).alias("delay_s"))
    )
    # Distributed order statistics (bit-identical to the percentile
    # aggregate) — converting-user counts grow with the corpus, so the
    # quantile scalars must not buffer every distinct delay in one task.
    return distributed_exact_quantiles(
        delays, "delay_s",
        [("p25_s", 0.25), ("p50_s", 0.5), ("p90_s", 0.9)],
        count_alias="n_converted",
    ).select("n_converted", "p25_s", "p50_s", "p90_s")


CONVERSION_TIME_ORACLE = """
WITH staged AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'view' THEN ts END) AS t_view
  FROM events GROUP BY 1
),
conv AS (
  SELECT s.user_id,
         date_diff('second', s.t_view, min(e.ts)) AS delay_s
  FROM staged s
  JOIN events e
    ON e.user_id = s.user_id
   AND e.event_type = 'purchase'
   AND e.ts > s.t_view
  GROUP BY s.user_id, s.t_view
)
SELECT CAST(count(*) AS BIGINT) AS n_converted,
       quantile_cont(CAST(delay_s AS DOUBLE), 0.25) AS p25_s,
       quantile_cont(CAST(delay_s AS DOUBLE), 0.5) AS p50_s,
       quantile_cont(CAST(delay_s AS DOUBLE), 0.9) AS p90_s
FROM conv
"""


def ev_dau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily active users, rolling-7-day active users, and the DAU/WAU
    stickiness ratio — the engagement KPI of every product dashboard.

    Rolling *distinct* counts don't decompose like sums, so the rolling
    window is computed by a bounded fan-out instead of a window
    function: each distinct (user, day) activity row contributes to at
    most 7 target days (day..day+6), the expansion is de-duplicated per
    (user, target day) and counted — work scales with activity × 7,
    never days × full-history rescans.  Target days are restricted to
    observed days so the trailing edge of the calendar doesn't emit
    partial windows.  Stickiness divides two integers, floored at 6
    decimals.
    """
    ev = load_table(spark, sf_dir, "events")
    pairs = ev.select(
        "user_id", F.to_date("ts").alias("day")
    ).distinct().transform(cut_lineage)  # feeds DAU, WAU, day set
    dau = pairs.groupBy("day").agg(
        F.count(F.lit(1)).alias("dau")
    )
    days = pairs.select("day").distinct()
    expanded = (
        pairs.select(
            "user_id",
            F.explode(F.sequence(F.lit(0), F.lit(6))).alias("off"),
            "day",
        )
        .select("user_id", F.expr("date_add(day, off)").alias("tday"))
        .distinct()
    )
    wau = (
        expanded.join(days, expanded.tday == days.day)
        .groupBy("tday")
        .agg(F.count(F.lit(1)).alias("wau7"))
    )
    return (
        dau.join(wau, dau.day == wau.tday)
        .select(
            "day", "dau", "wau7",
            (F.floor(F.col("dau").cast("double") / F.col("wau7")
                     * 1000000.0) / 1000000.0).alias("stickiness"),
        )
    )


DAU_STICKINESS_ORACLE = """
WITH pairs AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
),
dau AS (
  SELECT day, CAST(count(*) AS BIGINT) AS dau FROM pairs GROUP BY 1
),
days AS (SELECT DISTINCT day FROM pairs),
expanded AS (
  SELECT DISTINCT user_id,
         day + CAST(gs.off AS INT) AS tday
  FROM pairs CROSS JOIN generate_series(0, 6) AS gs(off)
),
wau AS (
  SELECT tday, CAST(count(*) AS BIGINT) AS wau7
  FROM expanded JOIN days ON expanded.tday = days.day
  GROUP BY 1
)
SELECT dau.day AS day, dau, wau7,
       floor(CAST(dau AS DOUBLE) / wau7 * 1000000.0) / 1000000.0
         AS stickiness
FROM dau JOIN wau ON dau.day = wau.tday
"""


def ev_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative value per user by acquisition cohort and age — the
    LTV curve behind every retention-payback decision.

    Users are cohorted by first-event date; each event lands at
    ``age_day`` = days since the cohort date; per (cohort, age) the
    day's DECIMAL value sum accumulates into a running total, divided
    by the cohort's user count for the per-user LTV (floor-truncated
    to 4 dp).  The cumulative window partitions by cohort (bounded by
    the observation window, never by table size), so the plan is two
    shuffles — user extents, then the (cohort, age) rollup — plus a
    per-cohort window.
    """
    e = load_table(spark, sf_dir, "events")
    cohorts = e.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("cohort_day")
    )
    aged = (
        e.join(cohorts, "user_id")
        .select(
            "cohort_day",
            F.datediff(F.to_date("ts"), F.col("cohort_day"))
            .alias("age_day"),
            _val().alias("v"),
        )
    )
    daily = aged.groupBy("cohort_day", "age_day").agg(
        F.sum("v").alias("day_value")
    )
    sizes = cohorts.groupBy("cohort_day").agg(
        F.count(F.lit(1)).alias("n_users")
    )
    w = (
        Window.partitionBy("cohort_day").orderBy("age_day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("day_value").over(w)
    ltv = F.floor(cum.cast("double") / F.col("n_users").cast("double")
                  * 10000.0) / 10000.0
    return (
        daily.join(sizes, "cohort_day")
        .select(
            "cohort_day", "age_day", "n_users",
            cum.cast("double").alias("cum_value"),
            ltv.alias("ltv_per_user"),
        )
    )


COHORT_LTV_ORACLE = """
WITH cohorts AS (
  SELECT user_id, min(CAST(ts AS DATE)) AS cohort_day
  FROM events GROUP BY 1
),
aged AS (
  SELECT c.cohort_day,
         CAST(date_diff('day', c.cohort_day, CAST(e.ts AS DATE))
              AS INTEGER) AS age_day,
         CAST(e.value AS DECIMAL(14,2)) AS v
  FROM events e JOIN cohorts c ON e.user_id = c.user_id
),
daily AS (
  SELECT cohort_day, age_day, sum(v) AS day_value
  FROM aged GROUP BY 1, 2
),
sizes AS (
  SELECT cohort_day, CAST(count(*) AS BIGINT) AS n_users
  FROM cohorts GROUP BY 1
)
SELECT d.cohort_day, d.age_day, s.n_users,
       CAST(sum(d.day_value) OVER w AS DOUBLE) AS cum_value,
       floor(CAST(sum(d.day_value) OVER w AS DOUBLE)
             / CAST(s.n_users AS DOUBLE) * 10000.0) / 10000.0
         AS ltv_per_user
FROM daily d JOIN sizes s ON d.cohort_day = s.cohort_day
WINDOW w AS (PARTITION BY d.cohort_day ORDER BY d.age_day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""


#: Range partitions for the concurrency sweep's two-phase running sum.
CONC_PARTITIONS = 64


def ev_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent sessions per hour — the capacity-planning sweep.

    Each session (30-min-gap windows from :func:`ev_sessionize`)
    becomes +1 at its start and −1 at its end; the running sum of the
    time-ordered deltas is the live concurrency, and the hourly max of
    that level is the peak (hours containing at least one boundary).
    Starts sort before ends at equal timestamps, so back-to-back
    sessions overlap at the boundary instant.

    The global running sum uses the ABC two-phase form (range
    repartition + constant-size partition offsets) instead of the
    banned SinglePartition window.  Tie-groups of identical
    (t, delta) rows produce the same *set* of prefix values under any
    internal order — and range boundaries may split a tie-group — so
    the hourly max is order- and partitioning-invariant.
    """
    sess = ev_sessionize(spark, sf_dir)
    deltas = sess.select(
        F.col("session_start").alias("t"), F.lit(1).alias("delta")
    ).unionAll(sess.select(
        F.col("session_end").alias("t"), F.lit(-1).alias("delta")
    ))
    srt = (
        deltas.repartitionByRange(CONC_PARTITIONS, F.col("t"),
                                  F.col("delta").desc())
        .sortWithinPartitions("t", F.col("delta").desc())
        .withColumn("_pid", F.spark_partition_id())
        .transform(cut_lineage)   # offsets + the running pass
    )
    psums = srt.groupBy("_pid").agg(F.sum("delta").alias("_ps"))
    wo = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offs = psums.select(
        "_pid", F.coalesce(F.sum("_ps").over(wo), F.lit(0)).alias("_off")
    )
    win = (
        Window.partitionBy("_pid").orderBy("t", F.col("delta").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    level = (F.col("_off") + F.sum("delta").over(win)).cast("long")
    return (
        srt.join(F.broadcast(offs), "_pid")
        .select(F.date_trunc("hour", F.col("t")).alias("hour_ts"),
                level.alias("c"))
        .groupBy("hour_ts")
        .agg(F.max("c").alias("peak_concurrency"))
    )


PEAK_CONCURRENCY_ORACLE = """
WITH sess AS ({session_oracle}),
deltas AS (
  SELECT session_start AS t, 1 AS delta FROM sess
  UNION ALL
  SELECT session_end AS t, -1 AS delta FROM sess
),
run AS (
  SELECT t, sum(delta) OVER (ORDER BY t, delta DESC
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS c
  FROM deltas
)
SELECT date_trunc('hour', t) AS hour_ts,
       CAST(max(c) AS BIGINT) AS peak_concurrency
FROM run GROUP BY 1
"""


#: Users whose last event falls within this many days of the observation
#: horizon are right-censored (still active), not churned.
SURVIVAL_CENSOR_DAYS = 3


def ev_survival_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival table of user lifetimes (churn analysis).

    Lifetime = days between a user's first and last event; a user whose
    last event is within :data:`SURVIVAL_CENSOR_DAYS` of the global
    horizon (max event date) is right-censored — still active, so they
    leave the risk set without counting as a death.  Output, per
    lifetime day: the at-risk count (users with lifetime >= day, minus
    earlier exits), deaths, censored exits, and the KM hazard
    d_t / n_t.  The cumulative survival product is deliberately left to
    the consumer: hazard and at-risk are integer-exact cross-engine,
    while a 30-term float product is libm-dependent.

    Scale shape: one shuffle to per-user extents, one to the per-day
    table (bounded by the observation window, here <= 31 rows); the
    horizon is a one-row broadcast scalar and the cumulative windows run
    over the bounded day table only.
    """
    e = load_table(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("first_day"),
        F.max(F.to_date("ts")).alias("last_day"),
    )
    horizon = e.agg(F.max(F.to_date("ts")).alias("_h"))
    marked = per_user.crossJoin(F.broadcast(horizon)).select(
        F.datediff("last_day", "first_day").alias("day"),
        (F.datediff(F.col("_h"), F.col("last_day"))
         >= SURVIVAL_CENSOR_DAYS).cast("long").alias("died"),
    )
    tbl = marked.groupBy("day").agg(
        F.sum("died").alias("deaths"),
        (F.count(F.lit(1)) - F.sum("died")).alias("censored"),
    )
    exits = F.col("deaths") + F.col("censored")
    w_all = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    w_before = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, -1
    )
    at_risk = (F.sum(exits).over(w_all)
               - F.coalesce(F.sum(exits).over(w_before), F.lit(0)))
    hazard = F.floor(F.col("deaths").cast("double")
                     / F.col("at_risk").cast("double") * 10000.0) / 10000.0
    return (
        tbl.withColumn("at_risk", at_risk)
        .select("day", "at_risk", "deaths", "censored",
                hazard.alias("hazard"))
    )


SURVIVAL_ORACLE = f"""
WITH pu AS (
  SELECT user_id, min(CAST(ts AS DATE)) AS fd, max(CAST(ts AS DATE)) AS ld
  FROM events GROUP BY 1
),
h AS (SELECT max(CAST(ts AS DATE)) AS hd FROM events),
marked AS (
  SELECT CAST(date_diff('day', fd, ld) AS INTEGER) AS day,
         CASE WHEN date_diff('day', ld, hd) >= {SURVIVAL_CENSOR_DAYS}
              THEN 1 ELSE 0 END AS died
  FROM pu, h
),
tbl AS (
  SELECT day, CAST(sum(died) AS BIGINT) AS deaths,
         CAST(count(*) - sum(died) AS BIGINT) AS censored
  FROM marked GROUP BY 1
)
SELECT day,
       CAST(sum(deaths + censored) OVER ()
            - coalesce(sum(deaths + censored)
                       OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
                             AND 1 PRECEDING), 0) AS BIGINT) AS at_risk,
       deaths, censored,
       floor(CAST(deaths AS DOUBLE)
             / CAST(sum(deaths + censored) OVER ()
                    - coalesce(sum(deaths + censored)
                               OVER (ORDER BY day ROWS BETWEEN UNBOUNDED
                                     PRECEDING AND 1 PRECEDING), 0)
               AS DOUBLE) * 10000.0) / 10000.0 AS hazard
FROM tbl
"""


def ev_attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution: each purchase's value is split
    equally across the user's click/view touches in the preceding 24
    hours; touchless purchases credit a ``direct`` channel in full — the
    marketing-mix readout behind channel budgeting.

    Money determinism: the purchase value becomes integer cents via
    DECIMAL(14,2) before any split, and the per-touch credit is floor
    division (``cents div n``), so both engines assign identical integer
    credits regardless of summation order (the sub-cent remainder is
    deliberately dropped, never redistributed — documented lossy floor).

    Scale shape: purchases ⋈ touches is an equi join on ``user_id`` with
    the 24 h band as a post-join filter — per-user partitions are bounded
    by user activity, never by table size.  The touch count per purchase
    is a window over one purchase's 24 h touch set (bounded by a user's
    daily activity), and the final rollup is a 3-row channel aggregate
    with map-side partial combine.
    """
    e = load_table(spark, sf_dir, "events")
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
        (_val() * 100).cast("bigint").alias("cents"),
    )
    t = e.filter(F.col("event_type").isin("click", "view")).select(
        F.col("user_id").alias("t_user"),
        F.col("ts").alias("t_ts"),
        F.col("event_type").alias("channel"),
    )
    j = p.join(
        t,
        (F.col("p_user") == F.col("t_user"))
        & (F.col("t_ts") < F.col("p_ts"))
        & (F.col("t_ts") >= F.col("p_ts") - F.expr("INTERVAL 24 HOURS")),
        "left",
    )
    n = F.count("channel").over(Window.partitionBy("p_id"))
    credited = j.withColumn("n", n).select(
        F.coalesce(F.col("channel"), F.lit("direct")).alias("channel"),
        F.when(F.col("channel").isNull(), F.col("cents"))
        .otherwise(F.expr("cents div n")).alias("credit_cents"),
    )
    return credited.groupBy("channel").agg(
        F.count(F.lit(1)).alias("n_credits"),
        F.sum("credit_cents").alias("attributed_cents"),
    )


ATTRIBUTION_ORACLE = """
WITH p AS (
  SELECT event_id AS p_id, user_id AS p_user, ts AS p_ts,
         CAST(CAST(value AS DECIMAL(14,2)) * 100 AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase'
),
t AS (
  SELECT user_id AS t_user, ts AS t_ts, event_type AS channel
  FROM events WHERE event_type IN ('click', 'view')
),
j AS (
  SELECT p.p_id, p.cents, t.channel
  FROM p LEFT JOIN t
    ON t.t_user = p.p_user
   AND t.t_ts < p.p_ts
   AND t.t_ts >= p.p_ts - INTERVAL 24 HOURS
),
c AS (
  SELECT p_id, cents, channel,
         count(channel) OVER (PARTITION BY p_id) AS n
  FROM j
)
SELECT coalesce(channel, 'direct') AS channel,
       CAST(count(*) AS BIGINT) AS n_credits,
       CAST(sum(CASE WHEN channel IS NULL THEN cents
                     ELSE cents // n END) AS BIGINT) AS attributed_cents
FROM c GROUP BY 1
"""


def ev_attribution_position(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """Position-based (U-shaped, 40/20/40) multi-touch attribution —
    the other standard credit rule next to
    :func:`ev_attribution_linear`: the FIRST touch (discovery) and the
    LAST touch (conversion) each get 40% of the purchase value, the
    middles split the remaining 20%; one touch gets 100%, two touches
    50/50; touchless purchases credit ``direct`` in full.  Same
    24-hour lookback and channel rollup as the linear rule, so the two
    outputs are directly comparable — which is exactly how marketing
    uses them (a channel whose credit collapses under U-shape was
    harvesting mid-funnel noise).

    Money determinism: integer cents; every positional share is an
    independent floor division (``cents*40 div 100``, middles
    ``cents*20 div (100·(n−2))``) — the linear rule's documented lossy
    floor, never redistributed.  Touch order within a purchase is
    pinned by (ts, touch event_id).

    Scale shape: identical to the linear rule (user-keyed equi join,
    24 h band filter, per-purchase windows bounded by a user's daily
    activity, 3-row rollup).
    """
    e = load_table(spark, sf_dir, "events")
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
        (_val() * 100).cast("bigint").alias("cents"),
    )
    t = e.filter(F.col("event_type").isin("click", "view")).select(
        F.col("user_id").alias("t_user"),
        F.col("ts").alias("t_ts"),
        F.col("event_id").alias("t_id"),
        F.col("event_type").alias("channel"),
    )
    j = p.join(
        t,
        (F.col("p_user") == F.col("t_user"))
        & (F.col("t_ts") < F.col("p_ts"))
        & (F.col("t_ts") >= F.col("p_ts") - F.expr("INTERVAL 24 HOURS")),
        "left",
    )
    wp = Window.partitionBy("p_id")
    wo = Window.partitionBy("p_id").orderBy("t_ts", "t_id")
    ranked = j.select(
        "p_id", "cents", "channel",
        F.count("channel").over(wp).alias("n"),
        F.row_number().over(wo).alias("rk"),
    )
    credit = (
        F.when(F.col("channel").isNull(), F.col("cents"))
        .when(F.col("n") == 1, F.col("cents"))
        .when(F.col("n") == 2, F.expr("(cents * 50) div 100"))
        .when(F.col("rk") == 1, F.expr("(cents * 40) div 100"))
        .when(F.col("rk") == F.col("n"), F.expr("(cents * 40) div 100"))
        .otherwise(F.expr("(cents * 20) div (100 * (n - 2))"))
    )
    return ranked.select(
        F.coalesce(F.col("channel"), F.lit("direct")).alias("channel"),
        credit.alias("credit_cents"),
    ).groupBy("channel").agg(
        F.count(F.lit(1)).alias("n_credits"),
        F.sum("credit_cents").alias("attributed_cents"),
    )


ATTRIBUTION_POSITION_ORACLE = """
WITH p AS (
  SELECT event_id AS p_id, user_id AS p_user, ts AS p_ts,
         CAST(CAST(value AS DECIMAL(14,2)) * 100 AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase'
),
t AS (
  SELECT user_id AS t_user, ts AS t_ts, event_id AS t_id,
         event_type AS channel
  FROM events WHERE event_type IN ('click', 'view')
),
j AS (
  SELECT p.p_id, p.cents, t.channel, t.t_ts, t.t_id
  FROM p LEFT JOIN t
    ON t.t_user = p.p_user
   AND t.t_ts < p.p_ts
   AND t.t_ts >= p.p_ts - INTERVAL 24 HOURS
),
c AS (
  SELECT p_id, cents, channel,
         count(channel) OVER (PARTITION BY p_id) AS n,
         row_number() OVER (PARTITION BY p_id
                            ORDER BY t_ts, t_id) AS rk
  FROM j
)
SELECT coalesce(channel, 'direct') AS channel,
       CAST(count(*) AS BIGINT) AS n_credits,
       CAST(sum(CASE
                WHEN channel IS NULL THEN cents
                WHEN n = 1 THEN cents
                WHEN n = 2 THEN (cents * 50) // 100
                WHEN rk = 1 THEN (cents * 40) // 100
                WHEN rk = n THEN (cents * 40) // 100
                ELSE (cents * 20) // (100 * (n - 2)) END)
            AS BIGINT) AS attributed_cents
FROM c GROUP BY 1
"""


#: Entropy terms are floor-quantized to integer micro-nats-of-log2 BEFORE
#: summation (summation order can never matter); the Gini–Simpson column
#: is exact integer arithmetic end to end.
_ENTROPY_TERM_SQL = (
    "CAST(floor(-1000000.0 * (CAST(c AS DOUBLE) / n)"
    " * log2(CAST(c AS DOUBLE) / n)) AS BIGINT)"
)


def ev_user_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral diversity per user: Shannon entropy (bits) of the
    user's event-type mix, plus the exact-rational Gini–Simpson index —
    the standard engagement-breadth features for churn/segmentation
    models.

    Determinism: each ``-p·log₂p`` term is floor-quantized to 1e-6 on its
    own row before the per-user sum (micro-bit grain; a 1-ulp libm
    disagreement moves a term by ~1e-10 of a quantum — see
    ``token_bigram_pmi`` for the precedent), and Gini–Simpson is computed
    entirely in BIGINT: ``(10⁶·(n² − Σc²)) div n²``.

    Scale shape: one shuffle to (user, type) counts; the per-user total
    is a window over ≤|event types| rows; the final per-user rollup
    reuses the same partitioning.  Nothing funnels to one task.
    """
    e = load_table(spark, sf_dir, "events")
    ct = e.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("c")
    )
    u = ct.withColumn(
        "n", F.sum("c").over(Window.partitionBy("user_id"))
    )
    return u.groupBy("user_id").agg(
        F.max("n").alias("n_events"),
        F.count(F.lit(1)).alias("n_types"),
        F.sum(F.expr(_ENTROPY_TERM_SQL)).alias("entropy_microbits"),
        F.expr(
            "(1000000 * (max(n) * max(n) - sum(c * c)))"
            " div (max(n) * max(n))"
        ).alias("simpson_micro"),
    )


USER_ENTROPY_ORACLE = f"""
WITH ct AS (
  SELECT user_id, event_type, count(*) AS c FROM events GROUP BY 1, 2
),
u AS (
  SELECT user_id, c, sum(c) OVER (PARTITION BY user_id) AS n FROM ct
)
SELECT user_id,
       CAST(max(n) AS BIGINT) AS n_events,
       CAST(count(*) AS BIGINT) AS n_types,
       CAST(sum({_ENTROPY_TERM_SQL}) AS BIGINT) AS entropy_microbits,
       CAST((1000000 * (max(n) * max(n) - sum(c * c)))
            // (max(n) * max(n)) AS BIGINT) AS simpson_micro
FROM u GROUP BY 1
"""


def _dense_daily(e: DataFrame) -> DataFrame:
    """Zero-filled (day, event_type, n) over the dense calendar ×
    event-type spine — THE single codification shared by the EWMA and
    rolling-median trend operators (missing days must count as zero in
    both, and a future change to spine semantics must hit both at
    once).  The (min, max)-day span is a one-row broadcast scalar; the
    spine is calendar × type bounded."""
    daily = e.groupBy(
        F.to_date("ts").alias("day"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    span = e.agg(
        F.min(F.to_date("ts")).alias("d0"),
        F.max(F.to_date("ts")).alias("d1"),
    )
    days = span.select(
        F.explode(F.sequence("d0", "d1")).alias("day")
    )
    types = e.select("event_type").distinct()
    return (
        days.crossJoin(F.broadcast(types))
        .join(daily, ["day", "event_type"], "left")
        .select("day", "event_type",
                F.coalesce("n", F.lit(0)).alias("n"))
    )


#: DuckDB rendering of :func:`_dense_daily` (single oracle-side
#: codification of the same spine).
_DENSE_DAILY_SQL = """daily AS (
  SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS n
  FROM events GROUP BY 1, 2
),
span AS (
  SELECT min(CAST(ts AS DATE)) AS d0, max(CAST(ts AS DATE)) AS d1
  FROM events
),
days AS (
  SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day
  FROM span
),
dense AS (
  SELECT days.day, t.event_type, coalesce(daily.n, 0) AS n
  FROM days
  CROSS JOIN (SELECT DISTINCT event_type FROM events) t
  LEFT JOIN daily ON daily.day = days.day
                 AND daily.event_type = t.event_type
)"""


#: MacKinnon (2010) 5% response-surface coefficients for the
#: constant-only Dickey–Fuller tau: crit = β∞ + β1/m + β2/m² + β3/m³.
DF_MACKINNON_5PCT = (-2.86154, -2.8903, -4.234, -40.04)


def ev_dickey_fuller(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dickey–Fuller unit-root test (constant, no lag terms) on the
    zero-filled daily volume per event type — the STATIONARITY gate of
    the time-series battery: Mann–Kendall asks "is there a trend?",
    Ljung–Box "is there autocorrelation?", DF asks "does the series
    mean-revert at all?" — the precondition for every ARMA-ish model
    and for CUSUM's fixed-baseline assumption.

    Regression Δx_t = α + ρ·x_{t−1}: with the m-scaled exact integer
    moments A = m·Σz² − (Σz)², B = m·Σzy − Σz·Σy, C = m·Σy² − (Σy)²
    (z = lag, y = diff), the t statistic collapses to

        τ = B·√(m−2) / √(A·C − B²)

    — A, B, C are exact DECIMAL(38,0); the final expression is shared
    doubles (A·C would pass 38 digits, so the product is double by
    construction — identical in both engines).  The 5% critical value
    uses MacKinnon's published response surface in m, a shared literal
    polynomial; ``stationary_95`` = τ < crit (reject unit root).

    Scale: the spine is the :func:`_dense_daily` single codification
    (calendar × type bounded); one keyed lag window + one power-sum
    aggregate.
    """
    dense = _dense_daily(load_table(spark, sf_dir, "events"))
    wo = Window.partitionBy("event_type").orderBy("day")
    p = dense.select(
        "event_type",
        F.lag("n").over(wo).alias("z"),
        F.col("n").alias("x"),
    ).filter(F.col("z").isNotNull())
    zd = F.col("z").cast("decimal(38,0)")
    yd = (F.col("x") - F.col("z")).cast("decimal(38,0)")
    agg = p.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("m"),
        F.sum(zd).alias("sz"), F.sum(yd).alias("sy"),
        F.sum((zd * zd).cast("decimal(38,0)")).alias("szz"),
        F.sum((zd * yd).cast("decimal(38,0)")).alias("szy"),
        F.sum((yd * yd).cast("decimal(38,0)")).alias("syy"),
    )
    md = F.col("m").cast("decimal(38,0)")
    a = (md * F.col("szz") - F.col("sz") * F.col("sz")) \
        .cast("decimal(38,0)").cast("double")
    bb = (md * F.col("szy") - F.col("sz") * F.col("sy")) \
        .cast("decimal(38,0)").cast("double")
    c = (md * F.col("syy") - F.col("sy") * F.col("sy")) \
        .cast("decimal(38,0)").cast("double")
    t = (bb * F.sqrt((F.col("m") - 2).cast("double"))
         / F.sqrt(a * c - bb * bb))
    b0, b1, b2, b3 = DF_MACKINNON_5PCT
    mdd = F.col("m").cast("double")
    crit = (F.lit(b0) + F.lit(b1) / mdd + F.lit(b2) / (mdd * mdd)
            + F.lit(b3) / (mdd * mdd * mdd))
    f4 = lambda col: F.floor(col * 10000.0) / 10000.0  # noqa: E731
    return agg.filter((a > 0) & (a * c - bb * bb > 0)).select(
        "event_type", F.col("m").cast("long").alias("n_pairs"),
        f4(t).alias("df_tau"),
        f4(crit).alias("crit_5pct"),
        (t < crit).alias("stationary_95"),
    )


DICKEY_FULLER_ORACLE = f"""
WITH {_DENSE_DAILY_SQL},
p AS (
  SELECT event_type,
         lag(n) OVER (PARTITION BY event_type ORDER BY day) AS z,
         n AS x
  FROM dense
),
agg AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS m,
         CAST(sum(CAST(z AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sz,
         CAST(sum(CAST(x - z AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sy,
         CAST(sum(CAST(CAST(z AS DECIMAL(38,0)) * z AS DECIMAL(38,0)))
              AS DECIMAL(38,0)) AS szz,
         CAST(sum(CAST(CAST(z AS DECIMAL(38,0)) * (x - z)
                       AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS szy,
         CAST(sum(CAST(CAST(x - z AS DECIMAL(38,0)) * (x - z)
                       AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS syy
  FROM p WHERE z IS NOT NULL GROUP BY 1
),
mom AS (
  SELECT event_type, m,
         CAST(CAST(CAST(m AS DECIMAL(38,0)) * szz - sz * sz
                   AS DECIMAL(38,0)) AS DOUBLE) AS a,
         CAST(CAST(CAST(m AS DECIMAL(38,0)) * szy - sz * sy
                   AS DECIMAL(38,0)) AS DOUBLE) AS b,
         CAST(CAST(CAST(m AS DECIMAL(38,0)) * syy - sy * sy
                   AS DECIMAL(38,0)) AS DOUBLE) AS c
  FROM agg
)
SELECT event_type, m AS n_pairs,
       floor(b * sqrt(CAST(m - 2 AS DOUBLE)) / sqrt(a * c - b * b)
             * 10000.0) / 10000.0 AS df_tau,
       floor(({DF_MACKINNON_5PCT[0]!r} + {DF_MACKINNON_5PCT[1]!r}
              / CAST(m AS DOUBLE)
              + {DF_MACKINNON_5PCT[2]!r}
                / (CAST(m AS DOUBLE) * CAST(m AS DOUBLE))
              + {DF_MACKINNON_5PCT[3]!r}
                / (CAST(m AS DOUBLE) * CAST(m AS DOUBLE)
                   * CAST(m AS DOUBLE))) * 10000.0) / 10000.0
         AS crit_5pct,
       b * sqrt(CAST(m - 2 AS DOUBLE)) / sqrt(a * c - b * b)
         < ({DF_MACKINNON_5PCT[0]!r} + {DF_MACKINNON_5PCT[1]!r}
            / CAST(m AS DOUBLE)
            + {DF_MACKINNON_5PCT[2]!r}
              / (CAST(m AS DOUBLE) * CAST(m AS DOUBLE))
            + {DF_MACKINNON_5PCT[3]!r}
              / (CAST(m AS DOUBLE) * CAST(m AS DOUBLE)
                 * CAST(m AS DOUBLE))) AS stationary_95
FROM mom
WHERE a > 0 AND a * c - b * b > 0
"""



def ev_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-origin backtest of the next-day OLS forecast: for every
    day with ≥2 prior days, fit the trend on the strictly-preceding
    prefix and score the prediction against the actual — the question a
    capacity planner asks BEFORE trusting ``ev_forecast_linear``
    ("how wrong has this forecast been historically?").

    Instead of refitting per cutoff (K separate regressions), the five
    OLS accumulators are *expanding-window prefix sums* over the dense
    daily spine — one pass, closed form at every origin.  Runs entirely
    on the calendar × type bounded frame; the fact table is scanned
    once by the spine build.

    Determinism: counts and day indexes are exact integers; the
    accumulator products are promoted to DECIMAL(38) before multiplying
    (LONG would wrap at real daily volumes — the TOST lesson); slope /
    intercept / prediction are a fixed chain of IEEE divisions over
    identical operands in both engines, and outputs are
    floor-quantized, never rounded.
    """
    dense = _dense_daily(load_table(spark, sf_dir, "events"))
    w0 = Window.partitionBy("event_type")
    di = dense.select(
        "event_type", "day", "n",
        F.datediff("day", F.min("day").over(w0)).cast("bigint").alias("x"),
    )
    wp = Window.partitionBy("event_type").orderBy("x") \
        .rowsBetween(Window.unboundedPreceding, -1)
    dec = "decimal(38,0)"
    pre = di.select(
        "event_type", "day", "x", "n",
        F.count(F.lit(1)).over(wp).cast(dec).alias("cn"),
        F.coalesce(F.sum("x").over(wp), F.lit(0)).cast(dec).alias("sx"),
        F.coalesce(F.sum("n").over(wp), F.lit(0)).cast(dec).alias("sy"),
        F.coalesce(F.sum(F.col("x") * F.col("x")).over(wp), F.lit(0))
        .cast(dec).alias("sxx"),
        F.coalesce(F.sum(F.col("x") * F.col("n")).over(wp), F.lit(0))
        .cast(dec).alias("sxy"),
    )
    num = (F.col("cn") * F.col("sxy") - F.col("sx") * F.col("sy")) \
        .cast(dec)
    den = (F.col("cn") * F.col("sxx") - F.col("sx") * F.col("sx")) \
        .cast(dec)
    slope = num.cast("double") / den.cast("double")
    intercept = (F.col("sy").cast("double")
                 - slope * F.col("sx").cast("double")) \
        / F.col("cn").cast("double")
    pred = intercept + slope * F.col("x").cast("double")
    err = F.abs(F.col("n").cast("double") - pred)
    return pre.filter(den > 0).select(
        "event_type", "day", "x", "n",
        (F.floor(pred * 10000.0) / 10000.0).alias("pred4"),
        (F.floor(err * 10000.0) / 10000.0).alias("abs_err4"),
    )


FORECAST_BACKTEST_ORACLE = f"""
WITH {_DENSE_DAILY_SQL},
di AS (
  SELECT event_type, day, n,
         CAST(date_diff('day',
              min(day) OVER (PARTITION BY event_type), day) AS BIGINT)
           AS x
  FROM dense
),
pre AS (
  SELECT event_type, day, x, n,
         count(*) OVER w AS cn,
         coalesce(sum(x) OVER w, 0) AS sx,
         coalesce(sum(n) OVER w, 0) AS sy,
         coalesce(sum(x * x) OVER w, 0) AS sxx,
         coalesce(sum(x * n) OVER w, 0) AS sxy
  FROM di
  WINDOW w AS (PARTITION BY event_type ORDER BY x
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
),
fit AS (
  SELECT event_type, day, x, n,
         CAST(cn * sxy - sx * sy AS DOUBLE)
           / CAST(cn * sxx - sx * sx AS DOUBLE) AS slope,
         cn, sx, sy, sxx, sxy
  FROM pre WHERE cn * sxx - sx * sx > 0
)
SELECT event_type, day, x, CAST(n AS BIGINT) AS n,
       floor(((CAST(sy AS DOUBLE) - slope * CAST(sx AS DOUBLE))
              / CAST(cn AS DOUBLE) + slope * CAST(x AS DOUBLE))
             * 10000.0) / 10000.0 AS pred4,
       floor(abs(CAST(n AS DOUBLE)
                 - ((CAST(sy AS DOUBLE) - slope * CAST(sx AS DOUBLE))
                    / CAST(cn AS DOUBLE) + slope * CAST(x AS DOUBLE)))
             * 10000.0) / 10000.0 AS abs_err4
FROM fit
"""


#: Lead-lag scan range: correlations are computed at day offsets
#: -LEADLAG_MAX .. +LEADLAG_MAX.
LEADLAG_MAX = 3

#: Pearson r over exact integer power sums — shared fragment (the
#: assortativity pattern); sums stay int64-safe because the series is
#: the calendar-bounded daily aggregate, not raw rows.
_LEADLAG_R = (
    "floor(CAST(n * sxy - sx * sy AS DOUBLE)"
    " / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)"
    " * CAST(n * syy - sy * sy AS DOUBLE))"
    " * CAST(1000000 AS DOUBLE)) / CAST(1000000 AS DOUBLE)"
)


def ev_lead_lag_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lead-lag cross-correlation between event-type daily series:
    Pearson r of (type_a at day t, type_b at day t+lag) for every
    unordered type pair at lags −3..+3 — the "does clicking today
    predict buying tomorrow" diagnostic behind funnel latency and
    campaign-effect analyses (a max-|r| off lag 0 IS the lead time).

    Runs entirely on the shared dense daily spine (``_dense_daily`` —
    zero-filled, calendar × type bounded), so the lag join, the power
    sums and the final r are all constant-sized work; degenerate pairs
    (a constant series in the overlap window) are dropped rather than
    divided by zero.
    """
    dense = _dense_daily(load_table(spark, sf_dir, "events")) \
        .transform(cut_lineage)   # both sides of the lag join
    a = dense.select(F.col("event_type").alias("type_a"),
                     F.col("day").alias("day"),
                     F.col("n").alias("x"))
    b = dense.select(F.col("event_type").alias("type_b"),
                     F.col("day").alias("b_day"),
                     F.col("n").alias("y"))
    lags = spark.range(-LEADLAG_MAX, LEADLAG_MAX + 1) \
        .select(F.col("id").cast("int").alias("lag"))
    paired = (
        a.crossJoin(F.broadcast(lags))
        .join(b, (F.expr("date_add(day, lag)") == F.col("b_day"))
              & (F.col("type_a") < F.col("type_b")))
    )
    sums = paired.groupBy("type_a", "type_b", "lag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.expr("x * x")).alias("sxx"),
        F.sum(F.expr("y * y")).alias("syy"),
        F.sum(F.expr("x * y")).alias("sxy"),
    )
    nondeg = sums.filter(
        (F.expr("n * sxx - sx * sx") > 0)
        & (F.expr("n * syy - sy * sy") > 0)
    )
    return nondeg.select(
        "type_a", "type_b", "lag",
        F.col("n").alias("n_days"),
        F.expr(_LEADLAG_R).alias("r"),
    )


LEADLAG_ORACLE = f"""
WITH {{dense_sql}},
lags AS (
  SELECT CAST(unnest(range(-{LEADLAG_MAX}, {LEADLAG_MAX} + 1)) AS INT)
    AS lag
),
paired AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b, l.lag,
         a.n AS x, b.n AS y
  FROM dense a
  CROSS JOIN lags l
  JOIN dense b
    ON CAST(a.day + to_days(l.lag) AS DATE) = b.day
   AND a.event_type < b.event_type
),
sums AS (
  SELECT type_a, type_b, lag, count(*) AS n,
         sum(x) AS sx, sum(y) AS sy, sum(x * x) AS sxx,
         sum(y * y) AS syy, sum(x * y) AS sxy
  FROM paired GROUP BY 1, 2, 3
)
SELECT type_a, type_b, lag, CAST(n AS BIGINT) AS n_days,
       {_LEADLAG_R} AS r
FROM sums
WHERE n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
"""


#: EWMA lookback: 8 daily lags with half-life-one-day weights 2^(7-k) —
#: powers of two, so the weighted sum is exact in BIGINT.
EWMA_LAGS = 8


def ev_ewma_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted daily event volume per type (half-life =
    1 day, 8-lag truncation) over a *dense* day spine — the smoothed
    trend line behind anomaly thresholds and capacity planning.

    Missing days must count as zero, so the series is completed against
    a generated ``sequence(min_day, max_day)`` spine crossed with the
    event-type domain before the lag windows run.  Weights are powers of
    two (2⁷ for today … 2⁰ for 7 days back) making the numerator an
    exact BIGINT; the reported ``ewma_milli`` is floor-scaled by the sum
    of *available* lag weights, so series-start rows normalize by what
    they can actually see.

    Scale shape: the spine is |days|×|types| — bounded by the calendar
    and the type domain, not by table size; the one-row (min,max) day
    scalar broadcasts.  Lag windows partition by type over day-ordered
    rows (bounded partitions).  The only table-sized work is the initial
    daily groupBy.
    """
    dense = _dense_daily(load_table(spark, sf_dir, "events"))
    w = Window.partitionBy("event_type").orderBy("day")
    num = sum(
        F.coalesce(F.lag("n", k).over(w), F.lit(0))
        * F.lit(2 ** (EWMA_LAGS - 1 - k))
        for k in range(EWMA_LAGS)
    )
    den = sum(
        F.when(F.lag("n", k).over(w).isNotNull() | F.lit(k == 0),
               F.lit(2 ** (EWMA_LAGS - 1 - k))).otherwise(F.lit(0))
        for k in range(EWMA_LAGS)
    )
    return (
        dense.withColumn("num", num).withColumn("den", den)
        .select(
            "day", "event_type", "n",
            F.expr("(1000 * num) div den").alias("ewma_milli"),
        )
    )


def _ewma_oracle() -> str:
    num_terms = " + ".join(
        f"coalesce(lag(n, {k}) OVER w, 0) * {2 ** (EWMA_LAGS - 1 - k)}"
        for k in range(EWMA_LAGS)
    )
    den_terms = " + ".join(
        f"CASE WHEN lag(n, {k}) OVER w IS NOT NULL OR {str(k == 0).upper()}"
        f" THEN {2 ** (EWMA_LAGS - 1 - k)} ELSE 0 END"
        for k in range(EWMA_LAGS)
    )
    return f"""
WITH {_DENSE_DAILY_SQL}
SELECT day, event_type, CAST(n AS BIGINT) AS n,
       CAST((1000 * ({num_terms})) // ({den_terms}) AS BIGINT)
         AS ewma_milli
FROM dense
WINDOW w AS (PARTITION BY event_type ORDER BY day)
"""


EWMA_ORACLE = _ewma_oracle()


#: Burstiness/CV² arithmetic over the exact power sums — ONE fragment
#: shared verbatim by both engines (DECIMAL(38,0) sums cast to DOUBLE
#: once; every double op then happens in the same order).  CV² > 1 and
#: B > 0 flag bursty arrivals; a Poisson process sits at CV² ≈ 1, B ≈ 0.
_BURST_MEAN = "(CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))"
_BURST_VAR = ("(CAST(n * s2 - s1 * s1 AS DOUBLE)"
              " / CAST(n * (n - 1) AS DOUBLE))")
_BURST_CV2 = (f"floor({_BURST_VAR} / ({_BURST_MEAN} * {_BURST_MEAN})"
              " * CAST(1000000 AS DOUBLE)) / CAST(1000000 AS DOUBLE)")
_BURST_B = (f"floor((sqrt({_BURST_VAR}) - {_BURST_MEAN})"
            f" / (sqrt({_BURST_VAR}) + {_BURST_MEAN})"
            " * CAST(1000000 AS DOUBLE)) / CAST(1000000 AS DOUBLE)")


def ev_interarrival_burstiness(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Arrival-process characterization per event type: CV² and the
    Goh–Barabási burstiness ``B = (σ−μ)/(σ+μ)`` of per-user
    inter-arrival gaps — tells capacity planning whether traffic is
    Poisson-like (B≈0) or bursty (B→1), which no mean rate reveals.

    Gaps come from a lag window over (user, type) partitions (bounded
    by one user's activity, never table size); the three power sums
    are exact integers promoted to DECIMAL(38,0) before the shared
    final-math fragment, so both engines run the identical double
    sequence.
    """
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type") \
        .orderBy("ts", "event_id")
    gap = _epoch_s(F.col("ts")) - _epoch_s(F.lag("ts").over(w))
    gaps = e.select("event_type", gap.alias("g")) \
        .filter(F.col("g").isNotNull())
    # Summands promote to DECIMAL(38,0) BEFORE the sum: at the row
    # counts the docstring claims, Σg² exceeds int64 and Spark (ANSI
    # off) would wrap silently while DuckDB sums in HUGEINT.
    sums = gaps.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum(F.col("g").cast("decimal(38,0)")).alias("s1"),
        F.sum(F.expr("cast(g as decimal(38,0)) * g")).alias("s2"),
    ).filter(F.col("n") >= 2)
    return sums.select(
        "event_type",
        F.col("n").cast("bigint").alias("n_gaps"),
        F.expr(f"floor({_BURST_MEAN} * CAST(100 AS DOUBLE))"
               " / CAST(100 AS DOUBLE)").alias("mean_gap_s"),
        F.expr(_BURST_CV2).alias("cv2"),
        F.expr(_BURST_B).alias("burstiness"),
    )


INTERARRIVAL_ORACLE = f"""
WITH gaps AS (
  SELECT event_type,
         date_diff('second', lag(ts) OVER (PARTITION BY user_id,
                   event_type ORDER BY ts, event_id), ts) AS g
  FROM events
),
sums AS (
  SELECT event_type, CAST(count(*) AS DECIMAL(38,0)) AS n,
         CAST(sum(g) AS DECIMAL(38,0)) AS s1,
         CAST(sum(g * g) AS DECIMAL(38,0)) AS s2
  FROM gaps WHERE g IS NOT NULL GROUP BY 1
)
SELECT event_type, CAST(n AS BIGINT) AS n_gaps,
       floor({_BURST_MEAN} * CAST(100 AS DOUBLE)) / CAST(100 AS DOUBLE)
         AS mean_gap_s,
       {_BURST_CV2} AS cv2,
       {_BURST_B} AS burstiness
FROM sums WHERE n >= 2
"""


def ev_funnel_strict_window(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """Time-bounded conversion funnel: view → click within 1 hour →
    purchase within 24 hours of the click.  The unbounded funnel
    (``ev_funnel_stages``) answers "did they ever convert"; marketing
    attribution and UX funnels need the bounded form — a click three
    days after the view is a new journey, not a conversion.

    Same one-partitioning chained-window shape as the unbounded funnel
    (one scan, one exchange); the bound is an extra predicate inside
    each stage's conditional min.  Output is the per-stage user counts
    plus floor-4 stage-to-stage conversion rates.
    """
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_type"
    )
    w = Window.partitionBy("user_id")
    staged = (
        e.withColumn(
            "t_view",
            F.min(F.when(F.col("event_type") == "view",
                         F.col("ts"))).over(w),
        )
        .withColumn(
            "t_click",
            F.min(F.when(
                (F.col("event_type") == "click")
                & (F.col("ts") > F.col("t_view"))
                & (F.col("ts") <= F.col("t_view")
                   + F.expr("INTERVAL 1 HOUR")),
                F.col("ts"))).over(w),
        )
        .withColumn(
            "t_purchase",
            F.min(F.when(
                (F.col("event_type") == "purchase")
                & (F.col("ts") > F.col("t_click"))
                & (F.col("ts") <= F.col("t_click")
                   + F.expr("INTERVAL 24 HOURS")),
                F.col("ts"))).over(w),
        )
    )
    per_user = staged.groupBy("user_id").agg(
        F.max("t_view").alias("t_view"),
        F.max("t_click").alias("t_click"),
        F.max("t_purchase").alias("t_purchase"),
    )
    f4 = "floor({x} * CAST(10000 AS DOUBLE)) / CAST(10000 AS DOUBLE)"
    return per_user.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count("t_view").alias("n_viewed"),
        F.count("t_click").alias("n_clicked_1h"),
        F.count("t_purchase").alias("n_purchased_24h"),
        F.expr(f4.format(
            x="CAST(count(t_click) AS DOUBLE)"
              " / CAST(count(t_view) AS DOUBLE)"
        )).alias("view_to_click"),
        F.expr(f4.format(
            x="CAST(count(t_purchase) AS DOUBLE)"
              " / CAST(count(t_click) AS DOUBLE)"
        )).alias("click_to_purchase"),
    )


FUNNEL_STRICT_ORACLE = """
WITH staged AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'view' THEN ts END)
           OVER (PARTITION BY user_id) AS t_view,
         ts, event_type
  FROM events
),
c AS (
  SELECT user_id, t_view,
         min(CASE WHEN event_type = 'click' AND ts > t_view
                   AND ts <= t_view + INTERVAL 1 HOUR THEN ts END)
           OVER (PARTITION BY user_id) AS t_click,
         ts, event_type
  FROM staged
),
p AS (
  SELECT user_id, t_view, t_click,
         min(CASE WHEN event_type = 'purchase' AND ts > t_click
                   AND ts <= t_click + INTERVAL 24 HOURS THEN ts END)
           OVER (PARTITION BY user_id) AS t_purchase
  FROM c
),
per_user AS (
  SELECT user_id, max(t_view) AS t_view, max(t_click) AS t_click,
         max(t_purchase) AS t_purchase
  FROM p GROUP BY 1
)
SELECT CAST(count(*) AS BIGINT) AS n_users,
       CAST(count(t_view) AS BIGINT) AS n_viewed,
       CAST(count(t_click) AS BIGINT) AS n_clicked_1h,
       CAST(count(t_purchase) AS BIGINT) AS n_purchased_24h,
       floor(CAST(count(t_click) AS DOUBLE)
             / CAST(count(t_view) AS DOUBLE)
             * CAST(10000 AS DOUBLE)) / CAST(10000 AS DOUBLE)
         AS view_to_click,
       floor(CAST(count(t_purchase) AS DOUBLE)
             / CAST(count(t_click) AS DOUBLE)
             * CAST(10000 AS DOUBLE)) / CAST(10000 AS DOUBLE)
         AS click_to_purchase
FROM per_user
"""


#: Rolling-median window length in days (trailing, inclusive).
ROLLMED_DAYS = 7


def ev_rolling_median_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day rolling MEDIAN of daily volume per event type —
    the robust trend line (a one-day spike shifts a rolling mean for a
    week; it barely moves the rolling median).  Spark windows cannot
    compute percentiles over a frame, so the window is re-expressed as
    a bounded offset fan-out: each day contributes itself to the 7
    target days it participates in (the ``ev_dau_stickiness`` /
    ``ev_sliding_uniques_hll`` pattern), and each target day takes an
    exact ``percentile`` over its ≤7 contributions.

    Exactness: the median of ≤7 integers is integer or half-integer,
    so ``2·median`` is an exact BIGINT (the ``ev_anomaly_mad`` trick).
    Missing days count as zero via the dense calendar spine, so a
    silent day drags the median down as it should.

    Scale shape: the spine is calendar × type bounded; the fan-out is a
    constant ×7 on that bounded frame.  Only the initial daily groupBy
    touches table-sized data.
    """
    e = load_table(spark, sf_dir, "events")
    dense = _dense_daily(e).transform(cut_lineage)
    fanned = dense.select(
        "event_type", "n",
        F.explode(F.expr(
            f"transform(sequence(0, {ROLLMED_DAYS - 1}), "
            "o -> date_add(day, o))"
        )).alias("target_day"),
        F.col("day").alias("src_day"),
    )
    spine_days = dense.select(
        F.col("day").alias("target_day")
    ).distinct()
    return (
        fanned.join(spine_days, "target_day")   # drop beyond-horizon
        .groupBy(F.col("target_day").alias("day"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_days_in_window"),
            F.expr("cast(percentile(n, 0.5) * 2 as bigint)")
            .alias("median2"),
        )
    )


def _rollmed_oracle() -> str:
    return f"""
WITH {_DENSE_DAILY_SQL},
fanned AS (
  SELECT event_type, n, CAST(day + to_days(CAST(o AS INTEGER)) AS DATE) AS target_day
  FROM dense, unnest(range(0, {ROLLMED_DAYS})) AS oo(o)
)
SELECT f.target_day AS day, f.event_type,
       CAST(count(*) AS BIGINT) AS n_days_in_window,
       CAST(quantile_cont(f.n, 0.5) * 2 AS BIGINT) AS median2
FROM fanned f JOIN days d ON f.target_day = d.day
GROUP BY 1, 2
"""


ROLLING_MEDIAN_ORACLE = _rollmed_oracle()


#: Churn horizon: a user is labeled churned after this many days of
#: silence measured from the corpus reference timestamp.
CHURN_DAYS = 7


def ev_churn_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Churn-model training set in one query: per-user behavioral
    features (recency / frequency / monetary / active-day count /
    distinct event types) plus the churn label — the feature-store
    build step every retention model starts from.

    Determinism: recency is integer epoch-second arithmetic against a
    one-row broadcast reference timestamp (the RFM pattern); monetary
    goes through DECIMAL; the label is an integer comparison.  One
    shuffle on user_id; everything else is map-side.
    """
    e = load_table(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.max(_epoch_s(F.col("ts"))).alias("last_s"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(_val()).cast("double").alias("monetary"),
        F.countDistinct(F.to_date("ts")).alias("active_days"),
        F.countDistinct("event_type").alias("n_types"),
    )
    ref = e.agg(F.max(_epoch_s(F.col("ts"))).alias("ref_s"))
    return per_user.crossJoin(F.broadcast(ref)).select(
        "user_id",
        F.expr("(ref_s - last_s) div 86400").alias("recency_days"),
        "frequency", "monetary", "active_days", "n_types",
        F.expr(f"CAST((ref_s - last_s) div 86400 > {CHURN_DAYS} AS INT)")
        .alias("churned"),
    )


CHURN_FEATURES_ORACLE = f"""
WITH e AS (
  SELECT user_id, ts, event_type, value,
         date_diff('second', TIMESTAMP '1970-01-01', ts) AS s
  FROM events
),
per_user AS (
  SELECT user_id, max(s) AS last_s,
         CAST(count(*) AS BIGINT) AS frequency,
         CAST(sum(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS monetary,
         CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS active_days,
         CAST(count(DISTINCT event_type) AS BIGINT) AS n_types
  FROM e GROUP BY 1
),
ref AS (SELECT max(s) AS ref_s FROM e)
SELECT user_id,
       CAST((ref_s - last_s) // 86400 AS BIGINT) AS recency_days,
       frequency, monetary, active_days, n_types,
       CAST((ref_s - last_s) // 86400 > {CHURN_DAYS} AS INT) AS churned
FROM per_user CROSS JOIN ref
"""


def ev_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust daily-volume anomaly flags per event type via median /
    MAD — the outlier-resistant twin of ``ev_anomaly_zscore`` (one bad
    day inflates a stddev and hides itself; it barely moves a median).

    Exactness trick: a median of integers is always integer or
    half-integer, so ``2·median`` is an exact BIGINT — deviations are
    carried doubled (``dev2 = |2n − med2|``) and the MAD quadrupled
    (``mad4 = 2·median(dev2)``), making the 3-MAD rule
    ``|n−med| > 3·MAD ⇔ 2·dev2 > 3·mad4`` pure integer arithmetic that
    no engine or shuffle order can perturb.

    Scale shape: one fact scan to (day, type) counts; medians aggregate
    over the bounded calendar×type domain; the per-type median rows
    broadcast back.  No windows, no single-partition funnel.
    """
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        F.to_date("ts").alias("day"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    med = daily.groupBy("event_type").agg(
        F.expr("cast(percentile(n, 0.5) * 2 as bigint)").alias("med2")
    )
    dev = daily.join(F.broadcast(med), "event_type").withColumn(
        "dev2", F.abs(2 * F.col("n") - F.col("med2"))
    )
    mad = dev.groupBy("event_type").agg(
        F.expr("cast(percentile(dev2, 0.5) * 2 as bigint)").alias("mad4")
    )
    return dev.join(F.broadcast(mad), "event_type").select(
        "event_type", "day", "n", "dev2",
        F.when(2 * F.col("dev2") > 3 * F.col("mad4"), 1)
        .otherwise(0).cast("int").alias("is_anomaly"),
    )


ANOMALY_MAD_ORACLE = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS n
  FROM events GROUP BY 1, 2
),
med AS (
  SELECT event_type, CAST(quantile_cont(n, 0.5) * 2 AS BIGINT) AS med2
  FROM daily GROUP BY 1
),
dev AS (
  SELECT d.event_type, d.day, d.n, abs(2 * d.n - m.med2) AS dev2
  FROM daily d JOIN med m ON d.event_type = m.event_type
),
mad AS (
  SELECT event_type, CAST(quantile_cont(dev2, 0.5) * 2 AS BIGINT) AS mad4
  FROM dev GROUP BY 1
)
SELECT d.event_type, d.day, CAST(d.n AS BIGINT) AS n,
       CAST(d.dev2 AS BIGINT) AS dev2,
       CAST(CASE WHEN 2 * d.dev2 > 3 * m.mad4 THEN 1 ELSE 0 END AS INT)
         AS is_anomaly
FROM dev d JOIN mad m ON d.event_type = m.event_type
"""


#: Micro-unit scale for Theil–Sen slopes: pairwise slopes are rationals,
#: so they are floor-quantized to integer micro-slopes BEFORE the median
#: (identical double divide + floor on both engines; the median of
#: integers doubled stays an exact integer).
THEIL_SCALE = 1_000_000


#: Aggregation block sizes (days) for the Hurst variance-plot — powers
#: of two so every log2(m) regressor is an EXACT small integer.
HURST_BLOCKS = (1, 2, 4, 8)


def ev_hurst_exponent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hurst exponent of each event type's daily volume series by the
    aggregated-variance method: block the series at sizes m ∈
    {1,2,4,8}, regress log2 Var(block mean) on log2 m — the slope β
    gives H = 1 + β/2 (H ≈ 0.5 ⇒ memoryless traffic; H → 1 ⇒
    long-range-dependent load, which breaks naive capacity planning
    and i.i.d.-based anomaly thresholds).

    Exactness: block sums are integers; each size's variance numerator
    ``B·Σs² − (Σs)²`` is exact DECIMAL; the per-size ``log2`` readout
    is floor-quantized to micro-units on its own row (house float
    rule; the log2-ulp-at-floor-boundary caveat of
    :func:`ev_fft_periodogram` applies); and because the block sizes
    are powers of two the OLS regressors x = log2 m are EXACT integers
    0..3, so the slope is a ratio of exact integer sums — one double
    division, floored at 4 decimals.

    Scale shape: the fan-out is |spine| × |HURST_BLOCKS| map-side rows
    over the calendar-bounded dense daily spine, then two bounded hash
    aggregates and a k-row OLS reduction — corpus size never enters.
    """
    dense = _dense_daily(load_table(spark, sf_dir, "events"))
    w = Window.partitionBy("event_type")
    di = dense.select(
        "event_type",
        F.datediff("day", F.min("day").over(w)).alias("i"),
        "n",
    )
    fan = di.select(
        "event_type", "i", "n",
        F.explode(F.array(*[
            F.struct(F.lit(m).alias("m"), F.lit(x).alias("x"))
            for x, m in enumerate(HURST_BLOCKS)
        ])).alias("blk"),
    ).select("event_type", "i", "n",
             F.col("blk.m").alias("m"), F.col("blk.x").alias("x"))
    blocks = (
        fan.groupBy("event_type", "m", "x",
                    F.expr("i div m").alias("b"))
        .agg(F.sum("n").alias("s"), F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") == F.col("m"))   # complete blocks only
    )
    vs = blocks.groupBy("event_type", "m", "x").agg(
        F.count(F.lit(1)).alias("nb"),
        F.sum(F.col("s").cast("decimal(38,0)")).alias("ss"),
        F.sum(F.col("s").cast("decimal(38,0)") * F.col("s")).alias("sq"),
    )
    var_num = (F.col("nb") * F.col("sq")
               - F.col("ss") * F.col("ss")).cast("decimal(38,0)")
    vmean = var_num.cast("double") / (
        F.col("nb").cast("double") * F.col("nb")
        * F.col("m") * F.col("m"))
    pts = vs.filter(var_num > 0).select(
        "event_type", "x",
        F.floor(F.log2(vmean) * F.lit(1000000.0)).cast("long").alias("y"),
    )
    ols = pts.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("k_points"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    ).filter(F.col("k_points") >= 2)
    slope = (
        (F.col("k_points") * F.col("sxy") - F.col("sx") * F.col("sy"))
        .cast("double")
        / (F.col("k_points") * F.col("sxx")
           - F.col("sx") * F.col("sx")).cast("double")
    )
    h = F.lit(1.0) + slope / F.lit(2000000.0)
    return ols.select(
        "event_type", "k_points",
        (F.floor(h * F.lit(10000.0)) / F.lit(10000.0)).alias("hurst"),
    )


_HURST_SIZES_SQL = ", ".join(
    f"({m}, {x})" for x, m in enumerate(HURST_BLOCKS))
HURST_ORACLE = f"""
WITH {_DENSE_DAILY_SQL},
di AS (
  SELECT event_type,
         date_diff('day', min(day) OVER (PARTITION BY event_type), day)
           AS i,
         n
  FROM dense
),
fan AS (
  SELECT event_type, i, n, t.m, t.x
  FROM di CROSS JOIN (VALUES {_HURST_SIZES_SQL}) t(m, x)
),
blocks AS (
  SELECT event_type, m, x, i // m AS b,
         CAST(sum(n) AS BIGINT) AS s, count(*) AS c
  FROM fan GROUP BY 1, 2, 3, 4
  HAVING count(*) = m
),
vs AS (
  SELECT event_type, m, x, count(*) AS nb,
         sum(CAST(s AS DECIMAL(38,0))) AS ss,
         sum(CAST(s AS DECIMAL(38,0)) * s) AS sq
  FROM blocks GROUP BY 1, 2, 3
),
pts AS (
  SELECT event_type, x,
         CAST(floor(log2(CAST(CAST(nb * sq - ss * ss AS DECIMAL(38,0))
                              AS DOUBLE)
                         / (CAST(nb AS DOUBLE) * nb * m * m))
                    * 1000000.0) AS BIGINT) AS y
  FROM vs WHERE CAST(nb * sq - ss * ss AS DECIMAL(38,0)) > 0
),
ols AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS k_points,
         sum(x) AS sx, sum(x * x) AS sxx, sum(y) AS sy, sum(x * y) AS sxy
  FROM pts GROUP BY 1 HAVING count(*) >= 2
)
SELECT event_type, k_points,
       floor((1.0 + (CAST(k_points * sxy - sx * sy AS DOUBLE)
                     / (k_points * sxx - sx * sx)) / 2000000.0)
             * 10000.0) / 10000.0 AS hurst
FROM ols
"""


def ev_trend_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Kendall trend test on the daily volume of each event type —
    the SIGNIFICANCE half of the robust-trend pair
    (:func:`ev_trend_theil_sen` gives the slope; MK says whether a
    monotone trend exists at all, with no distributional assumption).

    Exactness: everything up to the last line is integer —
    ``S = Σ_{i<j} sign(n_j − n_i)`` over day pairs, and the
    tie-corrected variance ``18·Var = N(N−1)(2N+5) − Σ_t t(t−1)(2t+5)``
    over the tie groups of equal daily counts.  The continuity-
    corrected z is one identical double expression, floored at 4
    decimals.

    Scale shape — the :func:`ev_trend_theil_sen` contract: the pair
    blow-up is over the *calendar spine* (C(days, 2) per type,
    corpus-size-independent), the raw table collapses to the dense
    daily aggregate first, and the tie groups come from one more
    bounded aggregate of that spine.
    """
    dense = _dense_daily(load_table(spark, sf_dir, "events")) \
        .transform(cut_lineage)  # feeds the pair join twice + ties
    a, b = dense.alias("a"), dense.alias("b")
    s = (
        a.join(
            b,
            (F.col("a.event_type") == F.col("b.event_type"))
            & (F.col("b.day") > F.col("a.day")),
        )
        .groupBy(F.col("a.event_type").alias("event_type"))
        .agg(F.sum(F.signum(F.col("b.n") - F.col("a.n")).cast("long"))
             .alias("s"))
    )
    ties = (
        dense.groupBy("event_type", "n")
        .agg(F.count(F.lit(1)).alias("t"))
        .groupBy("event_type")
        .agg(
            F.sum("t").cast("long").alias("n_days"),
            F.sum(
                F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
            ).cast("long").alias("tie_term"),
        )
    )
    j = s.join(ties, "event_type")
    nd = F.col("n_days")
    var18 = (nd * (nd - 1) * (2 * nd + 5) - F.col("tie_term"))
    sigma = F.sqrt(var18.cast("double") / F.lit(18.0))
    z = (
        F.when(F.col("s") > 0, (F.col("s") - 1).cast("double") / sigma)
        .when(F.col("s") < 0, (F.col("s") + 1).cast("double") / sigma)
        .otherwise(F.lit(0.0))
    )
    return j.select(
        "event_type", "n_days", "s",
        var18.cast("long").alias("var18"),
        (F.floor(z * F.lit(10000.0)) / F.lit(10000.0)).alias("z"),
        (z * z > F.lit(3.8414588206941254)).alias("reject_95"),
    )


MANN_KENDALL_ORACLE = f"""
WITH {_DENSE_DAILY_SQL},
s AS (
  SELECT a.event_type,
         CAST(sum(CASE WHEN b.n > a.n THEN 1
                       WHEN b.n < a.n THEN -1 ELSE 0 END) AS BIGINT) AS s
  FROM dense a JOIN dense b
    ON a.event_type = b.event_type AND b.day > a.day
  GROUP BY 1
),
ties AS (
  SELECT event_type,
         CAST(sum(t) AS BIGINT) AS n_days,
         CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_term
  FROM (SELECT event_type, n, count(*) AS t FROM dense GROUP BY 1, 2)
  GROUP BY 1
),
j AS (
  SELECT event_type, n_days, s,
         n_days * (n_days - 1) * (2 * n_days + 5) - tie_term AS var18
  FROM s JOIN ties USING (event_type)
),
zz AS (
  SELECT event_type, n_days, s, CAST(var18 AS BIGINT) AS var18,
         CASE WHEN s > 0
              THEN CAST(s - 1 AS DOUBLE) / sqrt(CAST(var18 AS DOUBLE) / 18.0)
              WHEN s < 0
              THEN CAST(s + 1 AS DOUBLE) / sqrt(CAST(var18 AS DOUBLE) / 18.0)
              ELSE 0.0 END AS zraw
  FROM j
)
SELECT event_type, n_days, s, var18,
       floor(zraw * 10000.0) / 10000.0 AS z,
       zraw * zraw > 3.8414588206941254 AS reject_95
FROM zz
"""


def ev_trend_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend of daily volume per event type: the
    median of all pairwise day-slopes, plus the median-residual
    intercept — the outlier-immune alternative to the OLS line of
    :func:`ev_forecast_linear` (one corrupted ingest day moves OLS but
    not the pairwise-slope median).

    Scale shape: the pairwise blow-up is over the *calendar spine*,
    never over raw events — C(days, 2) pairs per type (435 at a
    30-day span, ~66k at a year) regardless of corpus size.  The raw
    table collapses to the dense daily aggregate first (one shuffle);
    everything after is bounded-domain arithmetic.  Slopes are
    floor-quantized micro-units so the doubled medians are exact
    integers on both engines; the final unit conversions are single
    identical-operand double divisions.
    """
    dense = _dense_daily(load_table(spark, sf_dir, "events"))
    w = Window.partitionBy("event_type")
    di = dense.select(
        "event_type",
        F.datediff("day", F.min("day").over(w)).alias("i"),
        "n",
    ).transform(cut_lineage)
    a, b = di.alias("a"), di.alias("b")
    pairs = a.join(
        b,
        (F.col("a.event_type") == F.col("b.event_type"))
        & (F.col("b.i") > F.col("a.i")),
    ).select(
        F.col("a.event_type").alias("event_type"),
        F.floor(
            ((F.col("b.n") - F.col("a.n")) * THEIL_SCALE).cast("double")
            / (F.col("b.i") - F.col("a.i"))
        ).cast("bigint").alias("slope_q"),
    )
    slope = pairs.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.expr("cast(percentile(slope_q, 0.5) * 2 as bigint)")
        .alias("slope2"),
    )
    resid = di.join(F.broadcast(slope), "event_type").select(
        "event_type", "n_pairs", "slope2",
        (2 * THEIL_SCALE * F.col("n")
         - F.col("slope2") * F.col("i")).alias("r_q"),
    )
    return resid.groupBy("event_type", "n_pairs", "slope2").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.expr("cast(percentile(r_q, 0.5) * 2 as bigint)").alias("icept4"),
    ).select(
        "event_type", "n_days", "n_pairs", "slope2", "icept4",
        (F.col("slope2")
         / F.expr(f"cast({2 * THEIL_SCALE} as double)")).alias("slope"),
        (F.col("icept4")
         / F.expr(f"cast({4 * THEIL_SCALE} as double)")).alias("intercept"),
    )


TREND_THEIL_SEN_ORACLE = f"""
WITH {_DENSE_DAILY_SQL},
di AS (
  SELECT event_type,
         datediff('day', min(day) OVER (PARTITION BY event_type), day) AS i,
         n
  FROM dense
),
pairs AS (
  SELECT a.event_type,
         CAST(floor(CAST((b.n - a.n) * {THEIL_SCALE} AS DOUBLE)
                    / (b.i - a.i)) AS BIGINT) AS slope_q
  FROM di a JOIN di b ON a.event_type = b.event_type AND b.i > a.i
),
slope AS (
  SELECT event_type, count(*) AS n_pairs,
         CAST(quantile_cont(slope_q, 0.5) * 2 AS BIGINT) AS slope2
  FROM pairs GROUP BY 1
),
resid AS (
  SELECT di.event_type, s.n_pairs, s.slope2,
         2 * {THEIL_SCALE} * di.n - s.slope2 * di.i AS r_q
  FROM di JOIN slope s ON s.event_type = di.event_type
)
SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
       CAST(n_pairs AS BIGINT) AS n_pairs,
       CAST(slope2 AS BIGINT) AS slope2,
       CAST(quantile_cont(r_q, 0.5) * 2 AS BIGINT) AS icept4,
       CAST(slope2 AS DOUBLE) / CAST({2 * THEIL_SCALE} AS DOUBLE) AS slope,
       CAST(CAST(quantile_cont(r_q, 0.5) * 2 AS BIGINT) AS DOUBLE)
         / CAST({4 * THEIL_SCALE} AS DOUBLE) AS intercept
FROM resid
GROUP BY event_type, n_pairs, slope2
"""


def ev_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STL-lite additive decomposition of daily volume per event type:
    ``n = trend + seasonal + remainder`` with a centered 7-day
    moving-average trend and a weekly seasonal profile — the readout
    that separates "traffic is actually growing" from "it's just
    Saturday" before any anomaly rule fires.

    Determinism: the trend is kept as its integer 7-day window SUM
    (``trend7``), the detrended series as exact sevenths
    (``7*n - trend7``), and the seasonal profile as an integer
    (sum, count) pair — every division happens once, at the edge of
    the query, on identical operands in both engines, and the exposed
    doubles are floor-quantized to 4 decimals.  Weekly position is the
    spine index mod 7 (engine-neutral), not a locale dayofweek.

    Scale shape: raw events collapse to the calendar-bounded dense
    spine first; the 7-way offset fan-out and the |type| x 7 seasonal
    table are spine-sized, so cost is independent of corpus row count.
    """
    dense = _dense_daily(load_table(spark, sf_dir, "events"))
    w = Window.partitionBy("event_type")
    di = dense.select(
        "event_type", "day",
        (F.datediff("day", F.min("day").over(w)) % 7).alias("i7"),
        "n",
    ).transform(cut_lineage)
    fan = di.select(
        "event_type", "n",
        F.explode(F.sequence(F.lit(-3), F.lit(3))).alias("o"), "day",
    ).select(
        "event_type", "n", F.date_add("day", F.col("o")).alias("center"),
    )
    trend = fan.groupBy("event_type", F.col("center").alias("day")).agg(
        F.sum("n").alias("trend7"), F.count(F.lit(1)).alias("w_cnt"),
    ).filter(F.col("w_cnt") == 7).drop("w_cnt")
    interior = di.join(trend, ["event_type", "day"])
    seas = interior.groupBy("event_type", "i7").agg(
        F.sum(7 * F.col("n") - F.col("trend7")).alias("seas_sum"),
        F.count(F.lit(1)).alias("seas_cnt"),
    )
    out = di.join(trend, ["event_type", "day"], "left") \
            .join(F.broadcast(seas), ["event_type", "i7"], "left")
    trend_d = F.col("trend7") / F.expr("cast(7 as double)")
    seas_d = (F.col("seas_sum")
              / (F.col("seas_cnt") * 7).cast("double"))

    def fl4(c):
        return F.floor(c * 10000.0) / 10000.0

    return out.select(
        "event_type", "day", "i7", "n", "trend7",
        "seas_sum", "seas_cnt",
        fl4(trend_d).alias("trend"),
        fl4(seas_d).alias("seasonal"),
        fl4(F.col("n") - trend_d - seas_d).alias("remainder"),
    )


SEASONAL_DECOMPOSE_ORACLE = f"""
WITH {_DENSE_DAILY_SQL},
di AS (
  SELECT event_type, day,
         datediff('day', min(day) OVER (PARTITION BY event_type), day) % 7
           AS i7,
         n
  FROM dense
),
fan AS (
  SELECT event_type, n, day + CAST(o AS INT) AS center
  FROM di CROSS JOIN (SELECT unnest(range(-3, 4)) AS o) offs
),
trend AS (
  SELECT event_type, center AS day, sum(n) AS trend7
  FROM fan GROUP BY 1, 2 HAVING count(*) = 7
),
interior AS (
  SELECT di.event_type, di.i7, di.n, t.trend7
  FROM di JOIN trend t ON t.event_type = di.event_type AND t.day = di.day
),
seas AS (
  SELECT event_type, i7, sum(7 * n - trend7) AS seas_sum,
         count(*) AS seas_cnt
  FROM interior GROUP BY 1, 2
)
SELECT di.event_type, di.day, CAST(di.i7 AS INT) AS i7,
       CAST(di.n AS BIGINT) AS n, CAST(t.trend7 AS BIGINT) AS trend7,
       CAST(s.seas_sum AS BIGINT) AS seas_sum,
       CAST(s.seas_cnt AS BIGINT) AS seas_cnt,
       floor((CAST(t.trend7 AS DOUBLE) / CAST(7 AS DOUBLE)) * 10000)
         / 10000 AS trend,
       floor((CAST(s.seas_sum AS DOUBLE) / CAST(s.seas_cnt * 7 AS DOUBLE))
             * 10000) / 10000 AS seasonal,
       floor((di.n - CAST(t.trend7 AS DOUBLE) / CAST(7 AS DOUBLE)
              - CAST(s.seas_sum AS DOUBLE) / CAST(s.seas_cnt * 7 AS DOUBLE))
             * 10000) / 10000 AS remainder
FROM di
LEFT JOIN trend t ON t.event_type = di.event_type AND t.day = di.day
LEFT JOIN seas s ON s.event_type = di.event_type AND s.i7 = di.i7
"""


#: A user with no activity for more than CHURN_GAP days is counted
#: churned, attributed to ``last_active + CHURN_GAP``.
CHURN_GAP = 7


def ev_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily growth accounting: every active user-day is classified
    ``new`` (first ever), ``resurrected`` (returning after more than
    :data:`CHURN_GAP` idle days) or ``retained``; a ``churned`` event
    is emitted at ``day + CHURN_GAP`` when the next activity is beyond
    the gap (or never arrives within the observation window).  The
    output is the day × state user-count table — the standard
    DAU-decomposition behind "is growth new users or resurrection?".

    Scale shape: events collapse to distinct (user, day) first — the
    only corpus-sized shuffle; lag/lead run per-user (naturally keyed
    windows, no funnel); the observation-window end is a one-row
    broadcast scalar.  All arithmetic is dates and integers.
    """
    e = load_table(spark, sf_dir, "events")
    ud = e.select("user_id", F.to_date("ts").alias("day")).distinct()
    end = e.agg(F.max(F.to_date("ts")).alias("end_day"))
    w = Window.partitionBy("user_id").orderBy("day")
    lagged = ud.select(
        "user_id", "day",
        F.lag("day").over(w).alias("prev_day"),
        F.lead("day").over(w).alias("next_day"),
    ).crossJoin(F.broadcast(end))
    active = lagged.select(
        "day",
        F.when(F.col("prev_day").isNull(), F.lit("new"))
        .when(F.datediff("day", "prev_day") > CHURN_GAP,
              F.lit("resurrected"))
        .otherwise(F.lit("retained")).alias("state"),
    )
    churn = lagged.filter(
        (F.col("next_day").isNull()
         & (F.datediff("end_day", "day") > CHURN_GAP))
        | (F.datediff("next_day", "day") > CHURN_GAP)
    ).select(
        F.date_add("day", CHURN_GAP).alias("day"),
        F.lit("churned").alias("state"),
    )
    return (
        active.unionByName(churn)
        .groupBy("day", "state")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


GROWTH_ACCOUNTING_ORACLE = f"""
WITH ud AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
),
span AS (SELECT max(CAST(ts AS DATE)) AS end_day FROM events),
lagged AS (
  SELECT user_id, day,
         lag(day) OVER (PARTITION BY user_id ORDER BY day) AS prev_day,
         lead(day) OVER (PARTITION BY user_id ORDER BY day) AS next_day,
         (SELECT end_day FROM span) AS end_day
  FROM ud
),
active AS (
  SELECT day,
         CASE WHEN prev_day IS NULL THEN 'new'
              WHEN datediff('day', prev_day, day) > {CHURN_GAP}
                THEN 'resurrected'
              ELSE 'retained' END AS state
  FROM lagged
),
churn AS (
  SELECT day + {CHURN_GAP} AS day, 'churned' AS state
  FROM lagged
  WHERE (next_day IS NULL
         AND datediff('day', day, end_day) > {CHURN_GAP})
     OR datediff('day', day, next_day) > {CHURN_GAP}
)
SELECT day, state, CAST(count(*) AS BIGINT) AS n_users
FROM (SELECT * FROM active UNION ALL SELECT * FROM churn)
GROUP BY 1, 2
"""


def ev_kendall_tau_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b rank correlation between a type's daily event
    volume and its daily revenue (value sum) — the monotone-association
    check that, unlike Pearson, is insensitive to the heavy right tail
    of the value distribution and exact under ties.

    Both series are exact integers (count; cents via DECIMAL), so the
    concordant/discordant/tie pair counts are integers and tau-b needs
    only one final double division — bit-stable in both engines,
    floor-truncated to 6 dp.

    Scale shape: the fact collapses to the (day × type)-bounded daily
    table in one shuffle; the O(days²) pair enumeration is a broadcast
    self-join of that *calendar-bounded* table (435 pairs per type at a
    31-day window — constant work, never touching raw rows).  At an
    unbounded window you'd switch to the O(n log n) inversion-count
    formulation; the calendar bound is what licenses the pair join.
    """
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(F.to_date("ts").alias("day"), "event_type").agg(
        F.count(F.lit(1)).alias("x"),
        F.sum(F.expr(
            "CAST(CAST(value AS DECIMAL(14,2)) * 100 AS BIGINT)"
        )).alias("y"),
    ).transform(cut_lineage)   # both sides of the pair self-join
    a = daily.select("event_type", F.col("day").alias("d1"),
                     F.col("x").alias("x1"), F.col("y").alias("y1"))
    b = daily.select(F.col("event_type").alias("et2"),
                     F.col("day").alias("d2"),
                     F.col("x").alias("x2"), F.col("y").alias("y2"))
    pairs = a.join(F.broadcast(b),
                   (F.col("event_type") == F.col("et2"))
                   & (F.col("d1") < F.col("d2")))
    cx = F.col("x2") - F.col("x1")
    cy = F.col("y2") - F.col("y1")

    def _n(cond: F.Column) -> F.Column:
        return F.sum(cond.cast("long"))

    sums = pairs.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n0"),
        _n(((cx > 0) & (cy > 0)) | ((cx < 0) & (cy < 0)))
        .alias("concordant"),
        _n(((cx > 0) & (cy < 0)) | ((cx < 0) & (cy > 0)))
        .alias("discordant"),
        _n(cx == 0).alias("ties_x"),
        _n(cy == 0).alias("ties_y"),
    )
    tau = (
        (F.col("concordant") - F.col("discordant")).cast("double")
        / F.sqrt(
            (F.col("n0") - F.col("ties_x")).cast("double")
            * (F.col("n0") - F.col("ties_y")).cast("double")
        )
    )
    n_days = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days")
    )
    return sums.join(F.broadcast(n_days), "event_type").select(
        "event_type", "n_days", "concordant", "discordant",
        "ties_x", "ties_y",
        (F.floor(tau * 1000000.0) / 1000000.0).alias("tau_b"),
    )


KENDALL_ORACLE = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, event_type,
         CAST(count(*) AS BIGINT) AS x,
         sum(CAST(CAST(value AS DECIMAL(14,2)) * 100 AS BIGINT)) AS y
  FROM events GROUP BY 1, 2
),
pairs AS (
  SELECT a.event_type,
         b.x - a.x AS cx, b.y - a.y AS cy
  FROM daily a JOIN daily b
    ON a.event_type = b.event_type AND a.day < b.day
),
sums AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n0,
         CAST(sum(CASE WHEN (cx > 0 AND cy > 0) OR (cx < 0 AND cy < 0)
                  THEN 1 ELSE 0 END) AS BIGINT) AS concordant,
         CAST(sum(CASE WHEN (cx > 0 AND cy < 0) OR (cx < 0 AND cy > 0)
                  THEN 1 ELSE 0 END) AS BIGINT) AS discordant,
         CAST(sum(CASE WHEN cx = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ties_x,
         CAST(sum(CASE WHEN cy = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ties_y
  FROM pairs GROUP BY 1
),
nd AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_days
  FROM daily GROUP BY 1
)
SELECT s.event_type, n_days, concordant, discordant, ties_x, ties_y,
       floor(CAST(concordant - discordant AS DOUBLE)
             / sqrt(CAST(n0 - ties_x AS DOUBLE)
                    * CAST(n0 - ties_y AS DOUBLE))
             * CAST(1000000 AS DOUBLE)) / CAST(1000000 AS DOUBLE) AS tau_b
FROM sums s JOIN nd ON s.event_type = nd.event_type
"""


def ev_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized mean of event value per type: clamp every value into
    its type's [p5, p95] band before averaging — the robust-mean
    readout that keeps a fat-tailed metric (revenue, latency) reportable
    without letting single outliers own the average.

    Determinism: the p5/p95 cuts come from the distributed
    order-statistic helper (bit-identical to exact ``percentile``,
    no corpus-wide single-reducer buffer); each clamped value is
    floored back to an exact BIGINT on its own row, so the final mean
    is integer arithmetic — shuffle-order-proof in both engines.

    Scale shape: one fact scan feeds the cuts and the clamp (lazy
    checkpoint); the |types|-row cut table re-attaches as a broadcast;
    the readout is a |types|-row aggregate.
    """
    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        (F.col("value").cast("decimal(14,2)") * 100)
        .cast("bigint").alias("cents"),
    ).transform(cut_lineage)   # feeds the cut rows AND the clamp
    cuts = distributed_exact_quantiles(
        e, "cents", [("lo", 0.05), ("hi", 0.95)],
        group_cols=["event_type"],
    )
    clamp = ("CAST(floor(greatest(least(CAST(cents AS DOUBLE), hi), lo))"
             " AS BIGINT)")
    clamped = e.join(F.broadcast(cuts), "event_type").select(
        "event_type", F.expr(clamp).alias("wq")
    )
    return clamped.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("wq").alias("win_sum"),
        F.expr("(sum(wq) * 1000) div count(1)").alias("win_mean_milli"),
    )


WINSORIZED_MEAN_ORACLE = """
WITH e AS (
  SELECT event_type,
         CAST(CAST(value AS DECIMAL(14,2)) * 100 AS BIGINT) AS cents
  FROM events
),
cuts AS (
  SELECT event_type,
         quantile_cont(cents, 0.05) AS lo,
         quantile_cont(cents, 0.95) AS hi
  FROM e GROUP BY 1
),
clamped AS (
  SELECT e.event_type,
         CAST(floor(greatest(least(CAST(cents AS DOUBLE), hi), lo))
              AS BIGINT) AS wq
  FROM e JOIN cuts USING (event_type)
)
SELECT event_type, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(wq) AS BIGINT) AS win_sum,
       CAST((sum(wq) * 1000) // count(*) AS BIGINT) AS win_mean_milli
FROM clamped GROUP BY 1
"""


def ev_binseg_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-segmentation change-point LOCATION on the daily series,
    per event type — CUSUM (``ev_cusum_changepoint``) answers *whether*
    the level shifted; this answers *where*: the split ``t`` maximizing
    the standardized between-segment contrast
    ``|t·S_n − n·S_t| / sqrt(t(n−t))`` (the first step of the classic
    binary-segmentation recursion; one split, the dominant use).

    Determinism: the contrast numerator is exact integer (prefix sums
    scaled by n); the standardization squares it into a double ratio
    ``num²/(t(n−t))`` — both operands exact integers, so the IEEE
    division is bit-identical and the argmax ranks identically in both
    engines (ties break on earlier t).

    Scale: one shuffle into (type, day); prefix sums and the argmax
    window run over the calendar-bounded daily frame.
    """
    daily = _type_series(spark, sf_dir, "day")
    w = Window.partitionBy("event_type")
    wo = Window.partitionBy("event_type").orderBy("day")
    pref = daily.select(
        "event_type", "day", "c",
        F.sum("c").over(wo).cast("bigint").alias("st"),
        F.row_number().over(wo).cast("bigint").alias("t"),
        F.count(F.lit(1)).over(w).cast("bigint").alias("n"),
        F.sum("c").over(w).cast("bigint").alias("sn"),
    ).where(F.col("t") < F.col("n"))
    num = F.col("t") * F.col("sn") - F.col("n") * F.col("st")
    contrast = (num.cast("double") * num.cast("double")) / (
        (F.col("t") * (F.col("n") - F.col("t"))).cast("double"))
    scored = pref.select(
        "event_type", "day", "t", "n", contrast.alias("g2"))
    wr = Window.partitionBy("event_type").orderBy(
        F.desc("g2"), F.col("t"))
    return (
        scored.withColumn("rk", F.row_number().over(wr))
        .where(F.col("rk") == 1)
        .select(
            "event_type",
            F.col("t").alias("split_t"),
            "day", "n",
            F.round(F.sqrt(F.col("g2")) / F.col("n"), 6)
            .alias("contrast_per_n"),
        )
    )


BINSEG_ORACLE = f"""
WITH daily AS ({_type_series_sql("day")}),
pref AS (
  SELECT event_type, day, c,
         CAST(sum(c) OVER (PARTITION BY event_type ORDER BY day)
              AS BIGINT) AS st,
         CAST(row_number() OVER (PARTITION BY event_type ORDER BY day)
              AS BIGINT) AS t,
         CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n,
         CAST(sum(c) OVER (PARTITION BY event_type) AS BIGINT) AS sn
  FROM daily
),
scored AS (
  SELECT event_type, day, t, n,
         (CAST(t * sn - n * st AS DOUBLE)
          * CAST(t * sn - n * st AS DOUBLE))
         / CAST(t * (n - t) AS DOUBLE) AS g2
  FROM pref WHERE t < n
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY event_type
                               ORDER BY g2 DESC, t) AS rk
  FROM scored
)
SELECT event_type, t AS split_t, day, n,
       round(sqrt(g2) / n, 6) AS contrast_per_n
FROM ranked WHERE rk = 1
"""


#: Candidate periods (days) for the periodogram, and the micro scale of
#: the precomputed trig literals.
FFT_PERIODS = tuple(range(2, 11))


def _angle_literals() -> list[tuple[int, int, int, int]]:
    """(p, k, cos_micro, sin_micro) for every phase k of every candidate
    period p — Python-precomputed ONCE (the ``stats_benford`` literal
    convention), so neither engine evaluates trig at query time and the
    DFT terms are exact integer products."""
    import math as _m
    out = []
    for p in FFT_PERIODS:
        for k in range(p):
            a = 2.0 * _m.pi * k / p
            out.append((p, k, round(_m.cos(a) * 1e6), round(_m.sin(a) * 1e6)))
    return out


def ev_fft_periodogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Goertzel/DFT periodogram over the daily volume series, per event
    type: the power of each candidate period 2..10 days on the MEAN-
    REMOVED series, with the winning period flagged — how a pipeline
    detects weekly seasonality without ever materializing a dense
    spectrum.

    Exactness: the series is demeaned in scaled integers
    (``r = n·c − Σc``, the CUSUM trick — no fractional mean), the trig
    factors are precomputed micro literals, so every DFT term is an
    exact integer product and the two accumulators are exact integer
    sums — carried in DECIMAL(38,0), since ``r·cos_micro`` is ~1e18
    per term and a skewed daily count would wrap BIGINT at the 100 TB
    target (the layout-advisor/Welch squaring convention); only the
    final ``sc² + ss²`` runs in doubles (test-SF sums ≪ 2⁵³, so the
    decimal→double conversion is exact in both engines).

    Scale: one shuffle into (type, day); the period fan-out is a
    54-row broadcast literal table (days × 9 periods), and the
    argmax window runs over the 9-row-per-type period domain.
    """
    w = Window.partitionBy("event_type")
    idx = _type_series(spark, sf_dir, "day").select(
        "event_type", "c", _day_index(),
        F.count(F.lit(1)).over(w).cast("bigint").alias("n"),
        F.sum("c").over(w).cast("bigint").alias("sct"),
    ).withColumn("r", F.col("n") * F.col("c") - F.col("sct"))
    angles = spark.createDataFrame(
        _angle_literals(), "p int, k int, cos_micro long, sin_micro long")
    periods = angles.select("p").distinct()
    terms = (
        idx.join(F.broadcast(periods))
        .withColumn("k", F.pmod(F.col("x"), F.col("p")).cast("int"))
        .join(F.broadcast(angles), ["p", "k"])
    )
    spec = terms.groupBy("event_type", "p").agg(
        F.sum(F.col("r").cast("decimal(38,0)")
              * F.col("cos_micro")).alias("sc"),
        F.sum(F.col("r").cast("decimal(38,0)")
              * F.col("sin_micro")).alias("ss"),
    )
    power = (F.col("sc").cast("double") * F.col("sc").cast("double")
             + F.col("ss").cast("double") * F.col("ss").cast("double"))
    wt = Window.partitionBy("event_type")
    return spec.select(
        "event_type", "p",
        F.round(power / F.lit(1e18), 6).alias("power_e18"),
    ).withColumn(
        "dominant",
        F.col("power_e18")
        == F.max("power_e18").over(wt),
    )


def _fft_oracle() -> str:
    vals = ", ".join(f"({p}, {k}, {c}, {s})"
                     for p, k, c, s in _angle_literals())
    return f"""
WITH daily AS ({_type_series_sql("day")}),
idx AS (
  SELECT event_type, c,
         {_DAY_INDEX_SQL},
         CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n,
         CAST(sum(c) OVER (PARTITION BY event_type) AS BIGINT) AS sct
  FROM daily
),
angles(p, k, cos_micro, sin_micro) AS (VALUES {vals}),
terms AS (
  SELECT i.event_type, a.p,
         CAST(i.n * i.c - i.sct AS DECIMAL(38,0)) * a.cos_micro AS tc,
         CAST(i.n * i.c - i.sct AS DECIMAL(38,0)) * a.sin_micro AS ts
  FROM idx i JOIN angles a ON a.k = i.x % a.p
),
spec AS (
  SELECT event_type, p,
         CAST(sum(tc) AS DECIMAL(38,0)) AS sc,
         CAST(sum(ts) AS DECIMAL(38,0)) AS ss
  FROM terms GROUP BY 1, 2
),
powered AS (
  SELECT event_type, CAST(p AS INT) AS p,
         round((CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE)
                + CAST(ss AS DOUBLE) * CAST(ss AS DOUBLE)) / 1e18, 6)
           AS power_e18
  FROM spec
)
SELECT event_type, p, power_e18,
       power_e18 = max(power_e18) OVER (PARTITION BY event_type)
         AS dominant
FROM powered
"""


FFT_PERIODOGRAM_ORACLE = _fft_oracle()


#: Split-conformal miscoverage target (α = 10% → 90% intervals) and the
#: train share of the daily series (first 70% of the day range).
CONF_ALPHA_NUM, CONF_ALPHA_DEN = 9, 10   # (1-α) as a rational
CONF_TRAIN_NUM, CONF_TRAIN_DEN = 7, 10


def stats_conformal_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal 90% prediction interval for the next-day volume
    forecast, per event type — the distribution-free uncertainty wrapper
    modern forecasting ships instead of Gaussian ±2σ: fit OLS on the
    first 70% of days (train), take the ⌈(n+1)(1−α)⌉-th smallest
    absolute residual on the held-out 30% (calibration), and report
    ``forecast ± q̂``.  Marginal coverage ≥ 1−α holds by exchangeability
    with NO distributional assumption (Vovk et al.; Lei et al. 2018).

    Determinism: the OLS chain is the ``ev_forecast_linear`` recipe
    (integer power sums, one fixed division chain), residuals are the
    identical IEEE expression in both engines, and the conformal rank
    ``k = ceil((n_cal+1)·(1−α))`` is pure integer arithmetic; the order
    statistic ties-break on the day index.

    Scale: one partial-agg shuffle into (type, day); everything after
    runs on the calendar-bounded daily frame (the
    ``profile_drift_daily`` window class), with the |types|-row model
    broadcast back onto calibration days.
    """
    w = Window.partitionBy("event_type")
    idx = _type_series(spark, sf_dir, "day").select(
        "event_type", "c", _day_index(),
    ).select(
        "event_type", "c", "x",
        F.max("x").over(w).alias("mx"),
    ).withColumn(
        "x_split",
        F.expr(f"(mx * {CONF_TRAIN_NUM}) div {CONF_TRAIN_DEN}"),
    ).transform(cut_lineage)  # consumed by train agg AND cal scan
    train = idx.where(F.col("x") <= F.col("x_split")).groupBy(
        "event_type").agg(
        F.count(F.lit(1)).alias("n_train"),
        F.sum("x").alias("sx"),
        F.sum("c").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("c")).alias("sxy"),
    )
    n = F.col("n_train")
    num = n * F.col("sxy") - F.col("sx") * F.col("sy")
    den = n * F.col("sxx") - F.col("sx") * F.col("sx")
    model = train.where(den > 0).select(
        "event_type", "n_train",
        (num.cast("double") / den.cast("double")).alias("slope"),
        ((F.col("sy").cast("double")
          - (num.cast("double") / den.cast("double"))
          * F.col("sx").cast("double")) / n.cast("double"))
        .alias("intercept"),
    )
    cal = (
        idx.where(F.col("x") > F.col("x_split"))
        .join(F.broadcast(model), "event_type")
        .select(
            "event_type", "x", "mx", "n_train", "slope", "intercept",
            F.abs(F.col("c").cast("double")
                  - (F.col("intercept")
                     + F.col("slope") * F.col("x").cast("double")))
            .alias("abs_r"),
        )
    )
    wr = Window.partitionBy("event_type").orderBy("abs_r", "x")
    ranked = cal.select(
        "*",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(w).alias("n_cal"),
    ).withColumn(
        "k",
        F.least(
            F.expr(f"((n_cal + 1) * {CONF_ALPHA_NUM} + "
                   f"{CONF_ALPHA_DEN - 1}) div {CONF_ALPHA_DEN}"),
            F.col("n_cal"),
        ),
    )
    forecast = (F.col("intercept")
                + F.col("slope") * (F.col("mx") + 1).cast("double"))
    return ranked.where(F.col("rn") == F.col("k")).select(
        "event_type",
        F.col("n_train").cast("long").alias("n_train"),
        F.col("n_cal").cast("long").alias("n_cal"),
        F.round(F.col("abs_r"), 4).alias("q_hat"),
        F.round(forecast - F.col("abs_r"), 4).alias("lo_next"),
        F.round(forecast + F.col("abs_r"), 4).alias("hi_next"),
    )


CONFORMAL_ORACLE = f"""
WITH daily AS ({_type_series_sql("day")}),
idx AS (SELECT event_type, c, {_DAY_INDEX_SQL} FROM daily),
idx2 AS (
  SELECT *, max(x) OVER (PARTITION BY event_type) AS mx,
         (max(x) OVER (PARTITION BY event_type) * {CONF_TRAIN_NUM})
           // {CONF_TRAIN_DEN} AS x_split
  FROM idx
),
train AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_train,
         sum(x) AS sx, sum(c) AS sy,
         sum(x * x) AS sxx, sum(x * c) AS sxy
  FROM idx2 WHERE x <= x_split GROUP BY 1
),
model AS (
  SELECT event_type, n_train,
         CAST(n_train * sxy - sx * sy AS DOUBLE)
         / CAST(n_train * sxx - sx * sx AS DOUBLE) AS slope,
         (CAST(sy AS DOUBLE)
          - (CAST(n_train * sxy - sx * sy AS DOUBLE)
             / CAST(n_train * sxx - sx * sx AS DOUBLE))
            * CAST(sx AS DOUBLE)) / CAST(n_train AS DOUBLE) AS intercept
  FROM train WHERE n_train * sxx - sx * sx > 0
),
cal AS (
  SELECT i.event_type, i.x, i.mx, m.n_train, m.slope, m.intercept,
         abs(CAST(i.c AS DOUBLE)
             - (m.intercept + m.slope * CAST(i.x AS DOUBLE))) AS abs_r
  FROM idx2 i JOIN model m USING (event_type)
  WHERE i.x > i.x_split
),
ranked AS (
  SELECT *,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY abs_r, x) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n_cal
  FROM cal
)
SELECT event_type,
       CAST(n_train AS BIGINT) AS n_train,
       CAST(n_cal AS BIGINT) AS n_cal,
       round(abs_r, 4) AS q_hat,
       round((intercept + slope * CAST(mx + 1 AS DOUBLE)) - abs_r, 4)
         AS lo_next,
       round((intercept + slope * CAST(mx + 1 AS DOUBLE)) + abs_r, 4)
         AS hi_next
FROM ranked
WHERE rn = least(((n_cal + 1) * {CONF_ALPHA_NUM} + {CONF_ALPHA_DEN - 1})
                 // {CONF_ALPHA_DEN}, n_cal)
"""


def ev_decomposition_strength(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Trend and seasonal STRENGTH (Hyndman's F_T / F_S, the fpp3
    feature-based readout) per event type, computed from
    :func:`ev_seasonal_decompose`'s components:

        F_T = max(0, 1 − Var(R)/Var(T+R))
        F_S = max(0, 1 − Var(R)/Var(S+R))

    One number per series answering "is there a trend/seasonality worth
    modeling?" — the triage a forecasting platform runs over thousands
    of series before picking per-series models, where eyeballing the
    decomposition (or the raw ACF) doesn't scale.

    Exactness: built on the decompose output's RAW INTEGER columns
    (single codification — n, trend7, seas_sum, seas_cnt), with each
    component floored to micro units by INTEGER division on its own row
    (``div`` truncates toward zero in BOTH engines, verified for the
    negative seasonal sums); the variance ratio is the n²-scaled
    integer identity (m·Σx² − (Σx)²) in DECIMAL(38,0), so F is one
    double division at readout, floored at 6.

    Scale: interior spine rows only — calendar-bounded; one
    combiner-friendly power-sum aggregate.
    """
    dec = ev_seasonal_decompose(spark, sf_dir).filter(
        F.col("trend7").isNotNull() & F.col("seas_sum").isNotNull())
    x = F.col("n") * F.lit(1000000).cast("long")
    t = F.expr("(1000000 * trend7) div 7")
    s = F.expr("(1000000 * seas_sum) div (7 * seas_cnt)")
    comp = dec.select(
        "event_type",
        (x - t - s).alias("r"),
        (x - s).alias("tr"),
        (x - t).alias("sr"),
    )

    def sums(c: str) -> list:
        cd = F.col(c).cast("decimal(38,0)")
        return [F.sum(cd).alias(f"s_{c}"),
                F.sum((cd * cd).cast("decimal(38,0)")).alias(f"q_{c}")]

    agg = comp.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("m"),
        *sums("r"), *sums("tr"), *sums("sr"),
    )
    md = F.col("m").cast("decimal(38,0)")

    def var_scaled(c: str) -> F.Column:
        return (md * F.col(f"q_{c}")
                - F.col(f"s_{c}") * F.col(f"s_{c}")) \
            .cast("decimal(38,0)").cast("double")

    f6 = lambda c: F.floor(c * 1000000.0) / 1000000.0  # noqa: E731
    ft = F.greatest(F.lit(0.0),
                    F.lit(1.0) - var_scaled("r") / var_scaled("tr"))
    fs = F.greatest(F.lit(0.0),
                    F.lit(1.0) - var_scaled("r") / var_scaled("sr"))
    return agg.filter((var_scaled("tr") > 0) & (var_scaled("sr") > 0)) \
        .select(
            "event_type", F.col("m").cast("long").alias("n_days"),
            f6(ft).alias("trend_strength"),
            f6(fs).alias("seasonal_strength"),
        )


DECOMPOSITION_STRENGTH_ORACLE = f"""
WITH dec AS ({SEASONAL_DECOMPOSE_ORACLE}),
comp AS (
  SELECT event_type,
         (1000000 * n) - ((1000000 * trend7) // 7)
           - ((1000000 * seas_sum) // (7 * seas_cnt)) AS r,
         (1000000 * n)
           - ((1000000 * seas_sum) // (7 * seas_cnt)) AS tr,
         (1000000 * n) - ((1000000 * trend7) // 7) AS sr
  FROM dec WHERE trend7 IS NOT NULL AND seas_sum IS NOT NULL
),
agg AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS m,
         CAST(sum(CAST(r AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s_r,
         CAST(sum(CAST(CAST(r AS DECIMAL(38,0)) * r AS DECIMAL(38,0)))
              AS DECIMAL(38,0)) AS q_r,
         CAST(sum(CAST(tr AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s_tr,
         CAST(sum(CAST(CAST(tr AS DECIMAL(38,0)) * tr AS DECIMAL(38,0)))
              AS DECIMAL(38,0)) AS q_tr,
         CAST(sum(CAST(sr AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s_sr,
         CAST(sum(CAST(CAST(sr AS DECIMAL(38,0)) * sr AS DECIMAL(38,0)))
              AS DECIMAL(38,0)) AS q_sr
  FROM comp GROUP BY 1
)
SELECT event_type, m AS n_days,
       floor(greatest(0.0, 1.0
             - CAST(CAST(CAST(m AS DECIMAL(38,0)) * q_r - s_r * s_r
                         AS DECIMAL(38,0)) AS DOUBLE)
               / CAST(CAST(CAST(m AS DECIMAL(38,0)) * q_tr - s_tr * s_tr
                           AS DECIMAL(38,0)) AS DOUBLE))
             * 1000000.0) / 1000000.0 AS trend_strength,
       floor(greatest(0.0, 1.0
             - CAST(CAST(CAST(m AS DECIMAL(38,0)) * q_r - s_r * s_r
                         AS DECIMAL(38,0)) AS DOUBLE)
               / CAST(CAST(CAST(m AS DECIMAL(38,0)) * q_sr - s_sr * s_sr
                           AS DECIMAL(38,0)) AS DOUBLE))
             * 1000000.0) / 1000000.0 AS seasonal_strength
FROM agg
WHERE CAST(CAST(m AS DECIMAL(38,0)) * q_tr - s_tr * s_tr
           AS DECIMAL(38,0)) > 0
  AND CAST(CAST(m AS DECIMAL(38,0)) * q_sr - s_sr * s_sr
           AS DECIMAL(38,0)) > 0
"""


def ev_interrupted_ts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interrupted time-series (segmented regression) readout per
    event type: split the zero-filled daily series at the midpoint day
    t0 (a deterministic stand-in for a deploy/policy date), fit exact
    OLS separately pre and post, and report the LEVEL jump at t0 and
    the SLOPE change — the workhorse quasi-experimental design when an
    A/B was impossible and all you have is before/after (completes the
    causal family next to diff-in-diff and CUPED, which both need a
    control group; ITS's control is the pre-period trend itself).

    Exactness: with integer day index t and integer daily counts y,
    each segment's OLS is pure power sums — D = mΣt²−(Σt)²,
    slope = (mΣty−ΣtΣy)/D, fitted value at t0 =
    (ΣyΣt²−ΣtΣty + t0·(mΣty−ΣtΣy))/D — every numerator an exact
    DECIMAL(38,0) product (the stats_linreg_exact convention), one
    double division per readout, floored at 6 decimals.  Segments with
    D ≤ 0 (under two distinct days) are excluded in both engines.

    Scale: one dense-spine aggregate into TWO power-sum rows per event
    type (conditional aggregation, no second scan); the day-span
    scalar is a one-row broadcast.
    """
    e = load_table(spark, sf_dir, "events")
    dense = _dense_daily(e)
    span = e.agg(F.min(F.to_date("ts")).alias("d0"),
                 F.max(F.to_date("ts")).alias("d1"))
    with_t = dense.crossJoin(F.broadcast(span)).select(
        "event_type", "n",
        F.datediff("day", "d0").cast("long").alias("t"),
        F.expr("datediff(d1, d0) div 2").cast("long").alias("t0"),
    )
    seg = with_t.withColumn("post", (F.col("t") >= F.col("t0"))
                            .cast("int"))
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731

    def sums(flag: int, suffix: str) -> list:
        p = F.col("post") == flag
        z = F.lit(0).cast("long")
        return [
            F.sum(F.when(p, 1).otherwise(0)).cast("long")
            .alias(f"m{suffix}"),
            F.sum(F.when(p, F.col("t")).otherwise(z)).cast("long")
            .alias(f"st{suffix}"),
            F.sum(F.when(p, F.col("n")).otherwise(z)).cast("long")
            .alias(f"sy{suffix}"),
            F.sum(F.when(p, F.col("t") * F.col("n")).otherwise(z))
            .cast("long").alias(f"sty{suffix}"),
            F.sum(F.when(p, F.col("t") * F.col("t")).otherwise(z))
            .cast("long").alias(f"stt{suffix}"),
        ]

    g = seg.groupBy("event_type").agg(
        *sums(0, "_pre"), *sums(1, "_post"), F.max("t0").alias("t0"))
    d_pre = dec("m_pre") * dec("stt_pre") - dec("st_pre") * dec("st_pre")
    d_post = (dec("m_post") * dec("stt_post")
              - dec("st_post") * dec("st_post"))
    slope_num_pre = (dec("m_pre") * dec("sty_pre")
                     - dec("st_pre") * dec("sy_pre"))
    slope_num_post = (dec("m_post") * dec("sty_post")
                      - dec("st_post") * dec("sy_post"))
    fit_num_pre = (dec("sy_pre") * dec("stt_pre")
                   - dec("st_pre") * dec("sty_pre")
                   + dec("t0") * slope_num_pre)
    fit_num_post = (dec("sy_post") * dec("stt_post")
                    - dec("st_post") * dec("sty_post")
                    + dec("t0") * slope_num_post)
    f6 = lambda c: F.floor(c * 1000000.0) / 1000000.0  # noqa: E731
    pre_slope = f6(slope_num_pre.cast("double") / d_pre.cast("double"))
    post_slope = f6(slope_num_post.cast("double") / d_post.cast("double"))
    level_change = f6(fit_num_post.cast("double") / d_post.cast("double")
                      - fit_num_pre.cast("double") / d_pre.cast("double"))
    slope_change = f6(slope_num_post.cast("double") / d_post.cast("double")
                      - slope_num_pre.cast("double") / d_pre.cast("double"))
    return g.filter((d_pre > 0) & (d_post > 0)).select(
        "event_type",
        F.col("m_pre").alias("n_pre"), F.col("m_post").alias("n_post"),
        "t0",
        pre_slope.alias("pre_slope"), post_slope.alias("post_slope"),
        slope_change.alias("slope_change"),
        level_change.alias("level_change"),
    )


INTERRUPTED_TS_ORACLE = f"""
WITH {_DENSE_DAILY_SQL},
sp AS (
  SELECT min(CAST(ts AS DATE)) AS d0, max(CAST(ts AS DATE)) AS d1
  FROM events
),
wt AS (
  SELECT event_type, n,
         CAST(date_diff('day', d0, day) AS BIGINT) AS t,
         CAST(date_diff('day', d0, d1) // 2 AS BIGINT) AS t0
  FROM dense CROSS JOIN sp
),
g AS (
  SELECT event_type,
         CAST(sum(CASE WHEN t < t0 THEN 1 ELSE 0 END) AS BIGINT) AS m_pre,
         CAST(sum(CASE WHEN t < t0 THEN t ELSE 0 END) AS BIGINT) AS st_pre,
         CAST(sum(CASE WHEN t < t0 THEN n ELSE 0 END) AS BIGINT) AS sy_pre,
         CAST(sum(CASE WHEN t < t0 THEN t * n ELSE 0 END) AS BIGINT)
           AS sty_pre,
         CAST(sum(CASE WHEN t < t0 THEN t * t ELSE 0 END) AS BIGINT)
           AS stt_pre,
         CAST(sum(CASE WHEN t >= t0 THEN 1 ELSE 0 END) AS BIGINT)
           AS m_post,
         CAST(sum(CASE WHEN t >= t0 THEN t ELSE 0 END) AS BIGINT)
           AS st_post,
         CAST(sum(CASE WHEN t >= t0 THEN n ELSE 0 END) AS BIGINT)
           AS sy_post,
         CAST(sum(CASE WHEN t >= t0 THEN t * n ELSE 0 END) AS BIGINT)
           AS sty_post,
         CAST(sum(CASE WHEN t >= t0 THEN t * t ELSE 0 END) AS BIGINT)
           AS stt_post,
         CAST(max(t0) AS BIGINT) AS t0
  FROM wt GROUP BY 1
),
r AS (
  SELECT event_type, m_pre, m_post, t0,
         CAST(m_pre AS DECIMAL(38,0)) * stt_pre
           - CAST(st_pre AS DECIMAL(38,0)) * st_pre AS d_pre,
         CAST(m_post AS DECIMAL(38,0)) * stt_post
           - CAST(st_post AS DECIMAL(38,0)) * st_post AS d_post,
         CAST(m_pre AS DECIMAL(38,0)) * sty_pre
           - CAST(st_pre AS DECIMAL(38,0)) * sy_pre AS sn_pre,
         CAST(m_post AS DECIMAL(38,0)) * sty_post
           - CAST(st_post AS DECIMAL(38,0)) * sy_post AS sn_post,
         CAST(sy_pre AS DECIMAL(38,0)) * stt_pre
           - CAST(st_pre AS DECIMAL(38,0)) * sty_pre
           + CAST(t0 AS DECIMAL(38,0))
             * (CAST(m_pre AS DECIMAL(38,0)) * sty_pre
                - CAST(st_pre AS DECIMAL(38,0)) * sy_pre) AS fn_pre,
         CAST(sy_post AS DECIMAL(38,0)) * stt_post
           - CAST(st_post AS DECIMAL(38,0)) * sty_post
           + CAST(t0 AS DECIMAL(38,0))
             * (CAST(m_post AS DECIMAL(38,0)) * sty_post
                - CAST(st_post AS DECIMAL(38,0)) * sy_post) AS fn_post
  FROM g
)
SELECT event_type, m_pre AS n_pre, m_post AS n_post, t0,
       floor(CAST(sn_pre AS DOUBLE) / CAST(d_pre AS DOUBLE)
             * 1000000.0) / 1000000.0 AS pre_slope,
       floor(CAST(sn_post AS DOUBLE) / CAST(d_post AS DOUBLE)
             * 1000000.0) / 1000000.0 AS post_slope,
       floor((CAST(sn_post AS DOUBLE) / CAST(d_post AS DOUBLE)
              - CAST(sn_pre AS DOUBLE) / CAST(d_pre AS DOUBLE))
             * 1000000.0) / 1000000.0 AS slope_change,
       floor((CAST(fn_post AS DOUBLE) / CAST(d_post AS DOUBLE)
              - CAST(fn_pre AS DOUBLE) / CAST(d_pre AS DOUBLE))
             * 1000000.0) / 1000000.0 AS level_change
FROM r WHERE d_pre > 0 AND d_post > 0
"""


def ev_logrank_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-rank (Mantel–Cox) test comparing the churn-survival curves
    of two user cohorts — users who ever emitted an ``error`` event vs
    users who never did: "does a bad experience shorten lifetime?"
    The two-sample companion of :func:`ev_survival_curve` (same
    lifetime/censoring conventions — lifetime = last−first day, death
    = inactive for the final :data:`SURVIVAL_CENSOR_DAYS`), and the
    categorical-exposure sibling of the cohort-LTV readout.

    Identity: at each lifetime day t with d_t total deaths, n_t at
    risk and (d1_t, n1_t) the error cohort's share, the expected
    cohort-1 deaths are E_t = d_t·n1_t/n_t and the hypergeometric
    variance V_t = d_t·(n1_t/n_t)·(1−n1_t/n_t)·(n_t−d_t)/(n_t−1);
    z = Σ(d1_t−E_t)/√ΣV_t, χ² = z².

    Exactness: E_t is a pure integer division
    ``(1e6·d_t·n1_t) div n_t`` (micro units, truncation == floor on
    non-negatives); V_t is one fixed double product chain floored to
    micro units per row, so both Σ are order-free BIGINT sums; z and
    χ² are single shared double readouts floored at 6 decimals
    (documented ulp-at-floor risk, the transcendental-site
    convention).  V_t = 0 when n_t ≤ 1 by the CASE guard both engines
    share.  100 TB note: the integer E_t numerator is
    1e6·d_t·n1_t — promote to DECIMAL(38,0) before multiplying if
    cohort sizes approach 1e6 users per lifetime-day row.

    Scale: one per-user aggregate, a ≤31-row lifetime-day table
    (observation-window-bounded), cumulative windows over that
    bounded table only (the survival-curve precedent), one-row
    readout.
    """
    e = load_table(spark, sf_dir, "events")
    pu = e.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("first_day"),
        F.max(F.to_date("ts")).alias("last_day"),
        F.max((F.col("event_type") == "error").cast("long")).alias("grp"),
    )
    horizon = e.agg(F.max(F.to_date("ts")).alias("_h"))
    marked = pu.crossJoin(F.broadcast(horizon)).select(
        "grp",
        F.datediff("last_day", "first_day").alias("day"),
        (F.datediff(F.col("_h"), F.col("last_day"))
         >= SURVIVAL_CENSOR_DAYS).cast("long").alias("died"),
    )
    tbl = marked.groupBy("day").agg(
        F.sum("died").alias("d"),
        F.count(F.lit(1)).alias("x"),
        F.sum(F.col("died") * F.col("grp")).alias("d1"),
        F.sum("grp").alias("x1"),
    )
    w_all = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
    w_before = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, -1)
    n = (F.sum("x").over(w_all)
         - F.coalesce(F.sum("x").over(w_before), F.lit(0)))
    n1 = (F.sum("x1").over(w_all)
          - F.coalesce(F.sum("x1").over(w_before), F.lit(0)))
    t = tbl.select("day", "d", "d1", n.alias("n"), n1.alias("n1"))
    e1 = F.expr("(1000000 * d * n1) div n").cast("long")
    v = F.when(
        F.col("n") > 1,
        F.floor(F.col("d").cast("double") * F.col("n1")
                * (F.col("n") - F.col("n1")) * (F.col("n") - F.col("d"))
                / (F.col("n").cast("double") * F.col("n")
                   * (F.col("n") - 1)) * 1000000.0),
    ).otherwise(F.lit(0)).cast("long")
    agg = t.agg(
        F.sum("d1").cast("long").alias("deaths_err"),
        F.sum("d").cast("long").alias("deaths_all"),
        F.sum(e1).cast("long").alias("e1_micro"),
        F.sum(v).cast("long").alias("v_micro"),
    )
    users = marked.agg(
        F.sum("grp").cast("long").alias("n_err_users"),
        F.count(F.lit(1)).cast("long").alias("n_users"),
    )
    j = agg.crossJoin(F.broadcast(users))
    z_raw = ((F.lit(1000000.0) * F.col("deaths_err") - F.col("e1_micro"))
             / (F.lit(1000.0) * F.sqrt(F.col("v_micro").cast("double"))))
    z = F.when(F.col("v_micro") > 0,
               F.floor(z_raw * 1000000.0) / 1000000.0).otherwise(F.lit(0.0))
    chi2 = F.when(F.col("v_micro") > 0,
                  F.floor(z_raw * z_raw * 1000000.0) / 1000000.0) \
        .otherwise(F.lit(0.0))
    return j.select(
        "n_users", "n_err_users", "deaths_all", "deaths_err",
        "e1_micro", "v_micro", z.alias("z"), chi2.alias("chi2"),
    )


LOGRANK_ORACLE = f"""
WITH pu AS (
  SELECT user_id, min(CAST(ts AS DATE)) AS fd, max(CAST(ts AS DATE)) AS ld,
         CAST(max(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
              AS BIGINT) AS grp
  FROM events GROUP BY 1
),
h AS (SELECT max(CAST(ts AS DATE)) AS hd FROM events),
marked AS (
  SELECT grp, CAST(date_diff('day', fd, ld) AS INTEGER) AS day,
         CASE WHEN date_diff('day', ld, hd) >= {SURVIVAL_CENSOR_DAYS}
              THEN 1 ELSE 0 END AS died
  FROM pu, h
),
tbl AS (
  SELECT day, CAST(sum(died) AS BIGINT) AS d,
         CAST(count(*) AS BIGINT) AS x,
         CAST(sum(died * grp) AS BIGINT) AS d1,
         CAST(sum(grp) AS BIGINT) AS x1
  FROM marked GROUP BY 1
),
t AS (
  SELECT day, d, d1,
         CAST(sum(x) OVER ()
              - coalesce(sum(x) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED
                         PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS n,
         CAST(sum(x1) OVER ()
              - coalesce(sum(x1) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED
                         PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS n1
  FROM tbl
),
agg AS (
  SELECT CAST(sum(d1) AS BIGINT) AS deaths_err,
         CAST(sum(d) AS BIGINT) AS deaths_all,
         CAST(sum((1000000 * d * n1) // n) AS BIGINT) AS e1_micro,
         CAST(sum(CASE WHEN n > 1 THEN
           CAST(floor(CAST(d AS DOUBLE) * n1 * (n - n1) * (n - d)
                      / (CAST(n AS DOUBLE) * n * (n - 1)) * 1000000.0)
                AS BIGINT) ELSE 0 END) AS BIGINT) AS v_micro
  FROM t
),
users AS (
  SELECT CAST(sum(grp) AS BIGINT) AS n_err_users,
         CAST(count(*) AS BIGINT) AS n_users
  FROM marked
)
SELECT n_users, n_err_users, deaths_all, deaths_err, e1_micro, v_micro,
       CASE WHEN v_micro > 0 THEN
         floor((1000000.0 * deaths_err - e1_micro)
               / (1000.0 * sqrt(CAST(v_micro AS DOUBLE)))
               * 1000000.0) / 1000000.0
       ELSE 0.0 END AS z,
       CASE WHEN v_micro > 0 THEN
         floor(((1000000.0 * deaths_err - e1_micro)
                / (1000.0 * sqrt(CAST(v_micro AS DOUBLE))))
               * ((1000000.0 * deaths_err - e1_micro)
                  / (1000.0 * sqrt(CAST(v_micro AS DOUBLE))))
               * 1000000.0) / 1000000.0
       ELSE 0.0 END AS chi2
FROM agg CROSS JOIN users
"""


def ev_friedman_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman rank test across event types, blocked by calendar day —
    the nonparametric repeated-measures ANOVA: "do the event types
    carry systematically different daily volume, judged only by their
    WITHIN-day ordering?"  Blocking by day removes the day-to-day
    global swing that an unblocked Kruskal–Wallis (which this suite
    also ships) would count as noise; the pair is the standard
    paired-vs-unpaired duo.

    Exactness: within-day AVERAGE ranks over the zero-filled
    :func:`_dense_daily` spine, kept integer as DOUBLED ranks —
    2R = rank_asc + (k − rank_desc + 1), which equals twice the
    mid-rank on ties with no fractions.  With S_j = Σ_days 2R_j and
    the uncorrected statistic (no tie-correction term; documented),
    χ² = (3·ΣS_j² − 3·n²·k·(k+1)²) / (n·k·(k+1)) — every term an
    exact DECIMAL(38,0) product, one double division floored at 6
    decimals.  Sanity identity: Σ_j S_j = n·k·(k+1) by construction.

    Scale: the day×type rank windows partition by day (calendar-
    bounded rows per partition); per-type sums are a |types|-row
    aggregate; the corpus-constant readout is a one-row broadcast
    cross, the entropy-identity output convention.
    """
    e = load_table(spark, sf_dir, "events")
    dense = _dense_daily(e)
    wup = Window.partitionBy("day").orderBy("n")
    wdn = Window.partitionBy("day").orderBy(F.desc("n"))
    wd = Window.partitionBy("day")
    r = dense.select(
        "day", "event_type",
        (F.rank().over(wup)
         + F.count(F.lit(1)).over(wd) - F.rank().over(wdn) + 1)
        .cast("long").alias("r2"),
    )
    g = r.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("r2").alias("s2r"),
    )
    tot = g.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.max("n_days").alias("n"),
        F.sum(F.col("s2r").cast("decimal(38,0)") * F.col("s2r"))
        .alias("ss"),
    )
    j = g.crossJoin(F.broadcast(tot))
    nd = F.col("n").cast("decimal(38,0)")
    kd = F.col("k").cast("decimal(38,0)")
    num = (F.lit(3).cast("decimal(38,0)") * F.col("ss")
           - F.lit(3).cast("decimal(38,0)") * nd * nd * kd
           * (kd + 1) * (kd + 1))
    den = nd * kd * (kd + 1)
    chi2 = F.floor(num.cast("double") / den.cast("double")
                   * 1000000.0) / 1000000.0
    return j.select(
        "event_type", "n_days",
        F.col("k").cast("long").alias("k_types"),
        F.col("s2r").cast("long").alias("s2r"),
        F.expr("(1000 * s2r) div (2 * n_days)").cast("long")
        .alias("mean_rank_milli"),
        chi2.alias("chi2"),
        (F.col("k") - 1).cast("long").alias("df"),
    )


FRIEDMAN_ORACLE = f"""
WITH {_DENSE_DAILY_SQL},
r AS (
  SELECT day, event_type,
         CAST(rank() OVER (PARTITION BY day ORDER BY n)
              + count(*) OVER (PARTITION BY day)
              - rank() OVER (PARTITION BY day ORDER BY n DESC) + 1
              AS BIGINT) AS r2
  FROM dense
),
g AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
         CAST(sum(r2) AS BIGINT) AS s2r
  FROM r GROUP BY 1
),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS k, CAST(max(n_days) AS BIGINT) AS n,
         CAST(sum(CAST(s2r AS DECIMAL(38,0)) * s2r) AS DECIMAL(38,0))
           AS ss
  FROM g
)
SELECT event_type, n_days, k AS k_types, s2r,
       (1000 * s2r) // (2 * n_days) AS mean_rank_milli,
       floor(CAST(CAST(3 AS DECIMAL(38,0)) * ss
                  - CAST(3 AS DECIMAL(38,0)) * CAST(n AS DECIMAL(38,0))
                    * n * k * (k + 1) * (k + 1) AS DOUBLE)
             / CAST(CAST(n AS DECIMAL(38,0)) * k * (k + 1) AS DOUBLE)
             * 1000000.0) / 1000000.0 AS chi2,
       k - 1 AS df
FROM g CROSS JOIN tot
"""


#: χ²(1) 5% critical value in micro units — Python-precomputed literal
#: shared verbatim by both engines (3.8414588206941245, the Benford
#: convention; df is 1 by construction for the pooled 2×2 test).
CMH_CRIT_MICRO = 3841458


def ev_cmh_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran–Mantel–Haenszel stratified 2×2 test: does the CLICK
    share differ between morning (hour < 12) and afternoon traffic,
    CONTROLLING for calendar day — the confounder-adjusted version of
    the marginal chi-square: day-of-launch effects shift both traffic
    mix and click rate, and the marginal table can show an association
    the within-day tables don't have (Simpson's pattern).  CMH is the
    stratified A/B readout an experimentation platform runs when
    randomization is by time-of-day.

    Per stratum k (day): a_k = morning clicks, E_k = n1_k·m1_k/N_k,
    V_k = n1_k·n0_k·m1_k·m0_k / (N_k²(N_k−1)); the statistic is the
    continuity-corrected (|Σa − ΣE| − ½)² / ΣV on 1 df.

    Exactness: strata counts are exact integers; E_k and V_k are
    floor-quantized to micro units PER STRATUM (the chi2 per-cell
    convention — one shared double expression, identical association
    order in both engines) before the order-free integer sums; the
    final statistic is one shared double readout floored to milli, and
    the decision compares against the precomputed χ²(1) literal.
    Degenerate strata (N_k < 2: V undefined) are excluded by the
    shared filter.  Scale: one (day, exposure, outcome) count
    aggregate — |days| stratum rows — then a one-row reduction.
    """
    e = load_table(spark, sf_dir, "events").select(
        F.to_date("ts").alias("d"),
        (F.hour("ts") < 12).cast("int").alias("exp"),
        (F.col("event_type") == "click").cast("int").alias("out"),
    )
    s = e.groupBy("d").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("exp").alias("n1"),
        F.sum(F.col("exp") * F.col("out")).alias("a"),
        F.sum("out").alias("m1"),
    ).filter(F.col("n") >= 2)
    e_micro = F.floor(
        (F.col("n1") * F.col("m1")).cast("double")
        / F.col("n").cast("double") * F.lit(1000000.0)).cast("long")
    v_micro = F.floor(
        (F.col("n1") * (F.col("n") - F.col("n1"))).cast("double")
        * (F.col("m1") * (F.col("n") - F.col("m1"))).cast("double")
        / (F.col("n").cast("double") * F.col("n").cast("double")
           * (F.col("n") - 1).cast("double"))
        * F.lit(1000000.0)).cast("long")
    agg = s.select(
        (F.col("a") * 1000000 - e_micro).alias("d_micro"),
        v_micro.alias("v_micro"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_strata"),
        F.sum("d_micro").cast("long").alias("sum_d_micro"),
        F.sum("v_micro").cast("long").alias("sum_v_micro"),
    )
    cmh = (F.greatest(F.abs(F.col("sum_d_micro")) - F.lit(500000),
                      F.lit(0)).cast("double")
           * F.greatest(F.abs(F.col("sum_d_micro")) - F.lit(500000),
                        F.lit(0)).cast("double")
           / (F.lit(1000000.0) * F.col("sum_v_micro").cast("double")))
    return agg.select(
        "n_strata", "sum_d_micro", "sum_v_micro",
        F.when(F.col("sum_v_micro") > 0, F.floor(cmh * F.lit(1000.0)))
        .otherwise(F.lit(0)).cast("long").alias("cmh_milli"),
        F.lit(CMH_CRIT_MICRO).cast("long").alias("crit_micro"),
        (F.when(F.col("sum_v_micro") > 0,
                F.floor(cmh * F.lit(1000.0))).otherwise(F.lit(0))
         * 1000 > F.lit(CMH_CRIT_MICRO)).cast("int").alias("reject"),
    )


CMH_ORACLE = f"""
WITH e AS (
  SELECT CAST(ts AS DATE) AS d,
         CAST(hour(ts) < 12 AS INT) AS exp,
         CAST(event_type = 'click' AS INT) AS outc
  FROM events
),
s AS (
  SELECT d, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(exp) AS BIGINT) AS n1,
         CAST(sum(exp * outc) AS BIGINT) AS a,
         CAST(sum(outc) AS BIGINT) AS m1
  FROM e GROUP BY 1 HAVING count(*) >= 2
),
q AS (
  SELECT a * 1000000
         - CAST(floor(CAST(n1 * m1 AS DOUBLE) / CAST(n AS DOUBLE)
                      * 1000000.0) AS BIGINT) AS d_micro,
         CAST(floor(CAST(n1 * (n - n1) AS DOUBLE)
                    * CAST(m1 * (n - m1) AS DOUBLE)
                    / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                       * CAST(n - 1 AS DOUBLE))
                    * 1000000.0) AS BIGINT) AS v_micro
  FROM s
),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_strata,
         CAST(sum(d_micro) AS BIGINT) AS sum_d_micro,
         CAST(sum(v_micro) AS BIGINT) AS sum_v_micro
  FROM q
)
SELECT n_strata, sum_d_micro, sum_v_micro,
       CASE WHEN sum_v_micro > 0 THEN
         CAST(floor(CAST(greatest(abs(sum_d_micro) - 500000, 0) AS DOUBLE)
                    * CAST(greatest(abs(sum_d_micro) - 500000, 0) AS DOUBLE)
                    / (1000000.0 * CAST(sum_v_micro AS DOUBLE))
                    * 1000.0) AS BIGINT)
       ELSE 0 END AS cmh_milli,
       CAST({CMH_CRIT_MICRO} AS BIGINT) AS crit_micro,
       CAST((CASE WHEN sum_v_micro > 0 THEN
         CAST(floor(CAST(greatest(abs(sum_d_micro) - 500000, 0) AS DOUBLE)
                    * CAST(greatest(abs(sum_d_micro) - 500000, 0) AS DOUBLE)
                    / (1000000.0 * CAST(sum_v_micro AS DOUBLE))
                    * 1000.0) AS BIGINT)
       ELSE 0 END) * 1000 > {CMH_CRIT_MICRO} AS INT) AS reject
FROM agg
"""


def ev_odds_ratio_mh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mantel–Haenszel common odds-ratio ESTIMATE over the same
    day-stratified morning/afternoon × click 2×2 tables as
    :func:`ev_cmh_test` — the test says WHETHER the association
    survives confounder adjustment, this says HOW BIG it is:
    OR_MH = Σ_k(a_k·d_k/N_k) / Σ_k(b_k·c_k/N_k).

    Exactness: each stratum's a·d/N and b·c/N quotients are
    floor-quantized to micro units on their own rows (exact integer
    products ≤ N², then one integer division by N after the ×1e6
    scale — no floating point at all), the sums are order-free BIGINT
    reductions, and ``or_mh_ppm`` is one final integer division.
    Scale: the |days|-row strata table again; one-row reduction.
    """
    e = load_table(spark, sf_dir, "events").select(
        F.to_date("ts").alias("d"),
        (F.hour("ts") < 12).cast("int").alias("exp"),
        (F.col("event_type") == "click").cast("int").alias("out"),
    )
    s = e.groupBy("d").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("exp").alias("n1"),
        F.sum(F.col("exp") * F.col("out")).alias("a"),
        F.sum("out").alias("m1"),
    ).filter(F.col("n") >= 2)
    # a=morning clicks, b=morning non-clicks, c=afternoon clicks,
    # d=afternoon non-clicks (standard 2x2 letters).
    q = s.select(
        F.expr("(1000000 * (a * ((n - n1) - (m1 - a)))) div n")
        .alias("ad_micro"),
        F.expr("(1000000 * ((n1 - a) * (m1 - a))) div n")
        .alias("bc_micro"),
    )
    return q.agg(
        F.count(F.lit(1)).cast("long").alias("n_strata"),
        F.sum("ad_micro").cast("long").alias("num_micro"),
        F.sum("bc_micro").cast("long").alias("den_micro"),
    ).select(
        "n_strata", "num_micro", "den_micro",
        F.when(F.col("den_micro") > 0,
               F.expr("(1000000 * num_micro) div den_micro"))
        .otherwise(F.lit(0)).cast("long").alias("or_mh_ppm"),
    )


OR_MH_ORACLE = """
WITH e AS (
  SELECT CAST(ts AS DATE) AS d,
         CAST(hour(ts) < 12 AS INT) AS exp,
         CAST(event_type = 'click' AS INT) AS outc
  FROM events
),
s AS (
  SELECT d, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(exp) AS BIGINT) AS n1,
         CAST(sum(exp * outc) AS BIGINT) AS a,
         CAST(sum(outc) AS BIGINT) AS m1
  FROM e GROUP BY 1 HAVING count(*) >= 2
),
q AS (
  SELECT (1000000 * (a * ((n - n1) - (m1 - a)))) // n AS ad_micro,
         (1000000 * ((n1 - a) * (m1 - a))) // n AS bc_micro
  FROM s
),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_strata,
         CAST(sum(ad_micro) AS BIGINT) AS num_micro,
         CAST(sum(bc_micro) AS BIGINT) AS den_micro
  FROM q
)
SELECT n_strata, num_micro, den_micro,
       CASE WHEN den_micro > 0
            THEN (1000000 * num_micro) // den_micro
            ELSE 0 END AS or_mh_ppm
FROM agg
"""


def ev_poisson_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson overdispersion (variance-to-mean ratio) of the daily
    event counts per type — the burstiness gate run before modelling
    arrivals as Poisson: D ≈ 1 is Poisson-like, D ≫ 1 means bursty
    days (retries, campaigns), D < 1 means throttled/regular traffic.

    Identity: with x the daily counts over the n-day GLOBAL calendar
    span, D = s²/x̄ = (n·Σx² − (Σx)²) / ((n−1)·Σx) — EXACTLY integer
    arithmetic end-to-end, because days where a type has zero events
    contribute 0 to both Σx and Σx², so only the global day count n
    (one broadcast scalar) is needed to zero-fill; ``d_milli`` is one
    integer division.  100 TB note: promote n·Σx² and (Σx)² to
    DECIMAL(38,0) once per-type daily totals pass ~2^31.
    Scale: one (type, day) partial-agg shuffle of |types|×|days|
    rows, one |types|-row reduction, one one-row day-count scalar.
    """
    e = load_table(spark, sf_dir, "events").select(
        "event_type", F.to_date("ts").alias("d"))
    daily = e.groupBy("event_type", "d").agg(
        F.count(F.lit(1)).alias("x"))
    per = daily.groupBy("event_type").agg(
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    ndays = e.agg(F.count_distinct("d").alias("n"))
    return per.crossJoin(F.broadcast(ndays)).select(
        "event_type",
        F.col("n").cast("long").alias("n_days"),
        F.col("sx").cast("long").alias("n_events"),
        F.expr("(1000 * (n * sxx - sx * sx)) div ((n - 1) * sx)")
        .cast("long").alias("d_milli"),
    )


POISSON_DISPERSION_ORACLE = """
WITH e AS (SELECT event_type, CAST(ts AS DATE) AS d FROM events),
daily AS (
  SELECT event_type, d, CAST(count(*) AS BIGINT) AS x
  FROM e GROUP BY 1, 2
),
per AS (
  SELECT event_type, CAST(sum(x) AS BIGINT) AS sx,
         CAST(sum(x * x) AS BIGINT) AS sxx
  FROM daily GROUP BY 1
),
nd AS (SELECT CAST(count(DISTINCT d) AS BIGINT) AS n FROM e)
SELECT event_type, n AS n_days, sx AS n_events,
       (1000 * (n * sxx - sx * sx)) // ((n - 1) * sx) AS d_milli
FROM per CROSS JOIN nd
"""


#: Page–Hinkley alarm threshold λ in micro-units (50 events of
#: accumulated above-running-mean mass) — a config knob, emitted next
#: to the statistic so the readout is self-describing.
PH_LAMBDA_MICRO = 50_000_000


def ev_page_hinkley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page–Hinkley upward mean-shift detector over daily volume per
    event type — the running-mean sibling of ``ev_cusum_changepoint``:
    CUSUM scores deviations from a FIXED baseline mean (someone must
    choose the baseline period); PH scores deviations from the
    RUNNING prefix mean, so it needs no baseline at all.  m_t =
    Σ_{i≤t}(x_i − x̄_i) with x̄_i the mean of the first i days; the
    alarm statistic is g_t = m_t − min_{i≤t} m_i (an upward shift
    makes m climb away from its historical minimum), reported as its
    maximum over the window with the alarm decision against the
    ``PH_LAMBDA_MICRO`` literal.

    Exactness: the prefix mean enters ONLY as ``(1e6·S_i) div i`` —
    one integer division on its own row BEFORE the prefix sum — so
    m, the running min, and ``ph_max_micro`` are exact BIGINTs
    end-to-end; no floating point anywhere.  Days with zero events
    for a type are skipped (both engines derive the same observed-day
    sequence).  Scale: |types|×|days| window rows, partitioned by
    type — never a single-partition funnel.
    """
    e = load_table(spark, sf_dir, "events").select(
        "event_type", F.to_date("ts").alias("d"))
    daily = e.groupBy("event_type", "d").agg(
        F.count(F.lit(1)).alias("x"))
    w = Window.partitionBy("event_type").orderBy("d") \
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    pre = daily.select(
        "event_type", "d", "x",
        F.row_number().over(
            Window.partitionBy("event_type").orderBy("d")).alias("i"),
        F.sum("x").over(w).alias("s"),
    ).select(
        "event_type", "d",
        (F.col("x") * 1000000
         - F.expr("(1000000 * s) div i")).alias("term"),
    )
    m = pre.select(
        "event_type", "d",
        F.sum("term").over(w).alias("m"),
    ).select(
        "event_type", "d", "m",
        (F.col("m") - F.min("m").over(w)).alias("g"),
    )
    return m.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.max("g").cast("long").alias("ph_max_micro"),
    ).select(
        "event_type", "n_days", "ph_max_micro",
        F.lit(PH_LAMBDA_MICRO).cast("long").alias("lambda_micro"),
        (F.col("ph_max_micro") > PH_LAMBDA_MICRO).cast("int")
        .alias("alarm"),
    )


PAGE_HINKLEY_ORACLE = f"""
WITH e AS (SELECT event_type, CAST(ts AS DATE) AS d FROM events),
daily AS (
  SELECT event_type, d, CAST(count(*) AS BIGINT) AS x
  FROM e GROUP BY 1, 2
),
pre AS (
  SELECT event_type, d,
         x * 1000000
         - (1000000 * sum(x) OVER (PARTITION BY event_type ORDER BY d
                                   ROWS UNBOUNDED PRECEDING))
           // (row_number() OVER (PARTITION BY event_type ORDER BY d))
           AS term
  FROM daily
),
m AS (
  SELECT event_type, d,
         sum(term) OVER (PARTITION BY event_type ORDER BY d
                         ROWS UNBOUNDED PRECEDING) AS m
  FROM pre
),
g AS (
  SELECT event_type, d, m,
         m - min(m) OVER (PARTITION BY event_type ORDER BY d
                          ROWS UNBOUNDED PRECEDING) AS g
  FROM m
)
SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
       CAST(max(g) AS BIGINT) AS ph_max_micro,
       CAST({PH_LAMBDA_MICRO} AS BIGINT) AS lambda_micro,
       CAST(max(g) > {PH_LAMBDA_MICRO} AS INT) AS alarm
FROM g
GROUP BY 1
"""


SPECS: dict[str, QuerySpec] = {
    "ev_cmh_test": QuerySpec(ev_cmh_test, CMH_ORACLE),
    "ev_odds_ratio_mh": QuerySpec(ev_odds_ratio_mh, OR_MH_ORACLE),
    "ev_poisson_dispersion": QuerySpec(ev_poisson_dispersion,
                                       POISSON_DISPERSION_ORACLE),
    "ev_page_hinkley": QuerySpec(ev_page_hinkley, PAGE_HINKLEY_ORACLE),
    "ev_decomposition_strength": QuerySpec(ev_decomposition_strength,
                                           DECOMPOSITION_STRENGTH_ORACLE),
    "ev_attribution_position": QuerySpec(ev_attribution_position,
                                         ATTRIBUTION_POSITION_ORACLE),
    "ev_friedman_test": QuerySpec(ev_friedman_test, FRIEDMAN_ORACLE),
    "ev_logrank_test": QuerySpec(ev_logrank_test, LOGRANK_ORACLE),
    "ev_interrupted_ts": QuerySpec(ev_interrupted_ts,
                                   INTERRUPTED_TS_ORACLE),
    "ev_dickey_fuller": QuerySpec(ev_dickey_fuller,
                                  DICKEY_FULLER_ORACLE),
    "stats_conformal_interval": QuerySpec(stats_conformal_interval,
                                          CONFORMAL_ORACLE),
    "ev_fft_periodogram": QuerySpec(ev_fft_periodogram,
                                    FFT_PERIODOGRAM_ORACLE),
    "ev_binseg_changepoint": QuerySpec(ev_binseg_changepoint,
                                       BINSEG_ORACLE),
    "ev_markov_entropy_rate": QuerySpec(ev_markov_entropy_rate,
                                        MARKOV_ENTROPY_ORACLE),
    "ev_winsorized_mean": QuerySpec(ev_winsorized_mean,
                                    WINSORIZED_MEAN_ORACLE),
    "ev_kendall_tau_daily": QuerySpec(ev_kendall_tau_daily, KENDALL_ORACLE),
    "ev_markov_transitions": QuerySpec(ev_markov_transitions,
                                       MARKOV_ORACLE),
    "ev_markov_stationary": QuerySpec(ev_markov_stationary,
                                      MARKOV_STATIONARY_ORACLE),
    "ev_forecast_linear": QuerySpec(ev_forecast_linear,
                                    FORECAST_LINEAR_ORACLE),
    "ev_forecast_backtest": QuerySpec(ev_forecast_backtest,
                                      FORECAST_BACKTEST_ORACLE),
    "ev_hurst_exponent": QuerySpec(ev_hurst_exponent, HURST_ORACLE),
    "ev_trend_mann_kendall": QuerySpec(ev_trend_mann_kendall,
                                        MANN_KENDALL_ORACLE),
    "ev_trend_theil_sen": QuerySpec(ev_trend_theil_sen,
                                    TREND_THEIL_SEN_ORACLE),
    "ev_seasonal_decompose": QuerySpec(ev_seasonal_decompose,
                                       SEASONAL_DECOMPOSE_ORACLE),
    "ev_growth_accounting": QuerySpec(ev_growth_accounting,
                                      GROWTH_ACCOUNTING_ORACLE),
    "ev_user_streaks": QuerySpec(ev_user_streaks, USER_STREAKS_ORACLE),
    "ev_gini_user_activity": QuerySpec(ev_gini_user_activity, GINI_ORACLE),
    "ev_dau_stickiness": QuerySpec(ev_dau_stickiness,
                                   DAU_STICKINESS_ORACLE),
    "ev_conversion_time": QuerySpec(ev_conversion_time,
                                    CONVERSION_TIME_ORACLE),
    "ev_windowed_topk": QuerySpec(ev_windowed_topk, WINDOWED_TOPK_ORACLE),
    "ev_seasonal_profile": QuerySpec(ev_seasonal_profile, SEASONAL_ORACLE),
    "win_time_range_sum": QuerySpec(win_time_range_sum, TIME_RANGE_ORACLE),
    "ev_props_map_stats": QuerySpec(ev_props_map_stats, PROPS_MAP_ORACLE),
    "ev_date_math": QuerySpec(ev_date_math, DATE_MATH_ORACLE),
    "ev_funnel_stages": QuerySpec(ev_funnel_stages, FUNNEL_ORACLE),
    "ev_retention_cohorts": QuerySpec(ev_retention_cohorts, RETENTION_ORACLE),
    "ev_tumbling_hourly": QuerySpec(ev_tumbling_hourly, TUMBLING_ORACLE),
    "ev_sliding_windows": QuerySpec(ev_sliding_windows, SLIDING_ORACLE),
    "ev_sessionize": QuerySpec(ev_sessionize, SESSION_ORACLE),
    "ev_dedup_keep_first": QuerySpec(ev_dedup_keep_first, DEDUP_FIRST_ORACLE),
    "ev_gap_seconds": QuerySpec(ev_gap_seconds, GAP_ORACLE),
    "ev_rfm_segmentation": QuerySpec(ev_rfm_segmentation, RFM_ORACLE),
    "ev_path_topk": QuerySpec(ev_path_topk, PATH_TOPK_ORACLE),
    "ev_survival_curve": QuerySpec(ev_survival_curve, SURVIVAL_ORACLE),
    "ev_cohort_ltv": QuerySpec(ev_cohort_ltv, COHORT_LTV_ORACLE),
    "ev_peak_concurrency": QuerySpec(
        ev_peak_concurrency,
        PEAK_CONCURRENCY_ORACLE.format(session_oracle=SESSION_ORACLE),
    ),
    "ev_attribution_linear": QuerySpec(ev_attribution_linear,
                                       ATTRIBUTION_ORACLE),
    "ev_user_entropy": QuerySpec(ev_user_entropy, USER_ENTROPY_ORACLE),
    "ev_ewma_daily": QuerySpec(ev_ewma_daily, EWMA_ORACLE),
    "ev_anomaly_mad": QuerySpec(ev_anomaly_mad, ANOMALY_MAD_ORACLE),
    "ev_rolling_median_7d": QuerySpec(ev_rolling_median_7d,
                                      ROLLING_MEDIAN_ORACLE),
    "ev_lead_lag_corr": QuerySpec(
        ev_lead_lag_corr,
        LEADLAG_ORACLE.format(dense_sql=_DENSE_DAILY_SQL),
    ),
    "ev_interarrival_burstiness": QuerySpec(ev_interarrival_burstiness,
                                            INTERARRIVAL_ORACLE),
    "ev_churn_features": QuerySpec(ev_churn_features,
                                   CHURN_FEATURES_ORACLE),
    "ev_funnel_strict_window": QuerySpec(ev_funnel_strict_window,
                                         FUNNEL_STRICT_ORACLE),
}
