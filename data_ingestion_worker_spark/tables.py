"""Loaders for the driver's parquet tables (TESTDATA.md).

Tables: region nation customer supplier part orders lineitem events
documents embeddings — one parquet file each under
``/root/testdata/sf{0.001,0.01,0.1}``.

The only quirk is ``events.ts``: physically INT64 TIMESTAMP(NANOS,false),
which Spark's parquet reader rejects outright.  With
``spark.sql.legacy.parquet.nanosAsLong=true`` it surfaces as a nanos
LongType; we convert to a microsecond TIMESTAMP_NTZ by integer division
(truncation toward zero for the positive epochs used here) — exactly what
DuckDB does when it reads the same file, so oracle comparisons see
identical values.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .session import configure

TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def _layout_key(path: str) -> tuple | None:
    """Cheap layout fingerprint for per-path memos: a rewritten file
    (different row-group layout, regenerated fixture) changes mtime/size
    and invalidates the entry, so the memos never serve stale stats.
    ``None`` when ``os.stat`` cannot see the path (e.g. an object-store
    URI): no fingerprint, so callers must not memoize."""
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (path, st.st_mtime_ns, st.st_size)


#: (layout fingerprint, defaultParallelism) -> scan partition count,
#: memoized so the spread_scan probe compiles each table's scan plan
#: once per layout.
_SCAN_PARTS: dict[tuple, int] = {}


def spread_scan(df: DataFrame, *keys: str, memo: str | None = None) -> DataFrame:
    """Repartition a scan whose file layout yields fewer partitions than
    the session has cores (optimization guide §2.5 "input skew: one huge
    unsplittable file … repartition immediately after the read", §6
    small files).

    Parquet splits are row-group-granular; a table written as one row
    group arrives as ONE non-empty task, serializing every pre-exchange
    per-row stage (tokenize/explode, per-position hashing, Arrow→Python
    codec batches) onto a single core.  Hash-repartitioning on ``keys``
    is deterministic under task retry (no round-robin, no
    sort-before-repartition) and spreads that work across the cluster.

    Scale-adaptive by construction: the partition-count probe makes this
    a structural no-op once the input arrives in >= defaultParallelism
    splits — at 100 TB the corpus scans as thousands of splits and no
    shuffle is ever added.  The target follows the session master
    (``defaultParallelism``), so benching at a lower core count keeps
    the same plan shape at proportional width.
    """
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    layout = _layout_key(memo) if memo is not None else None
    cache_key = (layout, target) if layout is not None else None
    n = _SCAN_PARTS.get(cache_key) if cache_key else None
    if n is None:
        n = df.rdd.getNumPartitions()
        if cache_key:
            _SCAN_PARTS[cache_key] = n
    if n >= target:
        return df
    return df.repartition(target, *[F.col(k) for k in keys])


#: Fact/corpus tables spread by default (key chosen for downstream
#: exchange reuse: lineitem⋈orders join keys, sessionize's user_id
#: window).  Dimension tables stay unspread — they ride broadcast
#: joins, where an added exchange is pure overhead.
_SPREAD_DEFAULT = {
    "documents": "doc_id",
    "lineitem": "l_orderkey",
    "orders": "o_orderkey",
    "events": "user_id",
    "embeddings": "vec_id",
}


def load_table(spark: SparkSession, sf_dir: str, name: str,
               spread: bool | str = True) -> DataFrame:
    """Load one driver table, normalizing types to match the DuckDB view.

    ``spread``: hash-spread the scan when the file layout
    under-parallelizes it (see :func:`spread_scan`; no-op at production
    split counts).  ``True`` uses the table's default key
    (fact/corpus tables only), a string overrides the key, ``False``
    disables — pass ``False`` where the first thing a plan does is
    collapse the table to a few rows anyway.
    """
    configure(spark)
    path = f"{sf_dir.rstrip('/')}/{name}.parquet"
    df = spark.read.parquet(path)
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # nanos long -> micros TIMESTAMP_NTZ (truncating, like DuckDB).
        df = df.withColumn(
            "ts", F.expr("cast(timestamp_micros(ts div 1000) as timestamp_ntz)")
        )
    key = _SPREAD_DEFAULT.get(name) if spread is True else spread
    if key:
        df = spread_scan(df, key, memo=path)
    return df


def load_tables(spark: SparkSession, sf_dir: str,
                names: list[str] | None = None) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in (names or TABLE_NAMES)}


def register_views(spark: SparkSession, sf_dir: str,
                   names: list[str] | None = None) -> None:
    """Register each table as a temp view so ``spark.sql`` can use it."""
    for name, df in load_tables(spark, sf_dir, names).items():
        df.createOrReplaceTempView(name)
