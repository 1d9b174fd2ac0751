"""Similarity search over the ``embeddings`` table (array<float>, 64-d).

- **brute-force cosine top-k**: the correctness baseline.  Query vectors
  broadcast against the corpus; per-pair cosine via array higher-order
  functions (zip_with + aggregate — JVM-side, no Python).
- **hyperplane LSH buckets**: the scale path — 8 deterministic random
  hyperplanes give a 256-bucket partitioning; ANN = brute force within a
  bucket (plus neighbor probes).  At 100 TB the bucket id becomes the
  shuffle/partition key, turning an O(N) scan per query into an O(N/256)
  bucket lookup.

Determinism across engines: float32 sums are order-sensitive, so vectors
are first quantized to integers (round(x * 10000)) — dot products and
norms are then exact integers on both engines, and the final cosine is a
single double division with identical operands.  The quantization is part
of the operator spec, not an approximation of it.

The top-k search stack is said once per engine, each Spark piece next
to its DuckDB twin, and every query composes them:

- the quantized vector: ``_QVEC`` and its exploded ``(d, v)`` frame
  :func:`_qdims`, twin :func:`_qv_sql`;
- the exact cosine top-k: :func:`_cosine_topk` under
  :func:`_brute_topk`, twin :func:`_exact_topk_sql`; and the recall of
  an approximate top-k against it, :func:`_recall_vs_exact`, twin
  :func:`_recall_sql`;
- the signed random projections of LSH, JL and the embedding-dedup
  bands: :func:`_projections`, twin :func:`_proj_sql`;
- the PQ lookup table and ADC top-k: :func:`_pq_query_lut` and
  :func:`_adc_topk`, twins ``_PQ_LUT_CTES`` and :func:`_adc_topk_sql`.

The oracles spell each rule in their own SQL rather than deriving it
from the Spark side, so a change to one engine breaks parity instead of
moving both.
"""

from __future__ import annotations

import math as _math

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.hashing import hash64, hash64_sql
from ..spec import QuerySpec
from ..tables import load_table
from .text import doc_bm25_rank
from ..functions.checkpoint import cut_lineage

N_QUERIES = 5       # vec_id < N_QUERIES act as query vectors
TOP_K = 5
N_PLANES = 8
QUANT = 10000

#: Spark-side: array<float> -> array<bigint> quantized.
_QVEC = ("transform(embedding, x -> cast(round(cast(x as double) * "
         f"{QUANT}) as bigint))")


def _int_dot(a: str, b: str) -> Column:
    """Exact integer dot product of two quantized-vector columns."""
    return F.expr(f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), "
                  "cast(0 as bigint), (acc, v) -> acc + v)")


def _norm2(a: str) -> Column:
    """Exact integer squared norm of a quantized-vector column."""
    return F.expr(f"aggregate(transform({a}, x -> x * x), "
                  "cast(0 as bigint), (acc, v) -> acc + v)")


def _int_cosine(a: str, b: str) -> Column:
    """Cosine of two quantized-vector columns rounded to 6 decimals: the
    dot product and norms are exact integers, so the one double division
    has identical operands on both engines."""
    na, nb = _norm2(a).cast("double"), _norm2(b).cast("double")
    return F.round(
        _int_dot(a, b).cast("double") / (F.sqrt(na) * F.sqrt(nb)), 6
    )


def _qdims(e: DataFrame, *keep: str, vec: str = _QVEC) -> DataFrame:
    """``(*keep, d, v)``: one row per component of the quantized vector
    ``vec`` (the ``_QVEC`` expression, or a column already holding it),
    with ``d`` the 0-based dimension."""
    return e.select(*keep, F.posexplode(F.expr(vec)).alias("d", "v"))


def _qv_sql(cols: str = "vec_id", d0: bool = False) -> str:
    """DuckDB twin of :func:`_qdims` over ``embeddings``: ``(cols, d, v)``
    with ``d`` 1-based, or 0-based like ``posexplode`` when ``d0``.  The
    caller names the CTE and may append a WHERE clause."""
    base = " - 1" if d0 else ""
    return (f"SELECT {cols}, generate_subscripts(embedding, 1){base} AS d, "
            f"CAST(round(CAST(unnest(embedding) AS DOUBLE) * {QUANT}) "
            "AS BIGINT) AS v FROM embeddings")


def _signed_coin(prefix: str) -> Column:
    """``v`` or ``-v`` at dimension ``d`` by the parity of
    ``hash64(prefix || d)``: the cross-engine md5 coin of the signed
    random projections (LSH planes, JL planes, the embedding-dedup
    bands)."""
    coin = hash64(F.concat(F.lit(prefix), F.col("d").cast("string")))
    return F.when(coin % 2 == 0, F.col("v")).otherwise(-F.col("v"))


def _projections(dims: DataFrame, n_planes: int,
                 prefix: str = "") -> DataFrame:
    """``(vec_id, proj0 .. proj{n_planes-1})``: the signed random
    projections of each vector's exploded dims, plane p's coin keyed
    ``{prefix}{p}:``.  The planes are parallel aggregate expressions
    over one pass of the dims — no dims x planes row explosion (8x less
    shuffle input; the hash arithmetic stays in codegen either way)."""
    return dims.groupBy("vec_id").agg(*[
        F.sum(_signed_coin(f"{prefix}{p}:")).alias(f"proj{p}")
        for p in range(n_planes)
    ])


def _proj_sql(n_planes: int, prefix: str = "") -> str:
    """DuckDB twin of :func:`_projections` over the 0-based ``qv`` CTE:
    one ``(vec_id, p, proj)`` row per vector and plane."""
    key = f"'{prefix}' || CAST(p AS VARCHAR) || ':' || CAST(d AS VARCHAR)"
    return f"""SELECT vec_id, p,
         sum((CASE WHEN {hash64_sql(key)} % 2 = 0 THEN 1 ELSE -1 END) * v)
           AS proj
  FROM qv, unnest(range(0, {n_planes})) AS pl(p)
  GROUP BY 1, 2"""


def _cosine_topk(pairs: DataFrame) -> DataFrame:
    """Each query's TOP_K candidates by :func:`_int_cosine` of its
    vector ``qq`` and the candidate's ``qv``, ties on vec_id:
    ``(query_id, vec_id, cosine, rank)``."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id")
    )
    return (
        pairs.select("query_id", "vec_id",
                     _int_cosine("qq", "qv").alias("cosine"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
    )


def _brute_topk(spark: SparkSession, sf_dir: str,
                vec_expr: str = _QVEC) -> DataFrame:
    """Brute-force cosine top-k for the first N_QUERIES vectors, over an
    arbitrary quantized-vector expression (full vectors by default;
    prefix slices for the matryoshka harness).

    Plan shape: tiny query side broadcast; corpus scanned once; per-row
    zip_with/aggregate dot product inside codegen; per-query top-k via
    rank window (partition count = N_QUERIES, trivially parallel).
    """
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.expr(vec_expr).alias("qv")
    )
    q = e.filter(F.col("vec_id") < N_QUERIES) \
        .withColumnRenamed("vec_id", "query_id").withColumnRenamed("qv", "qq")
    return _cosine_topk(
        e.join(F.broadcast(q), F.col("vec_id") != F.col("query_id")))


def _exact_topk_sql(name: str, qv: str = "qv",
                    pairs: str = f"a.vec_id < {N_QUERIES}",
                    k: int = TOP_K) -> str:
    """DuckDB twin of :func:`_brute_topk`: the CTEs ``{name}_norms``,
    ``{name}_dots`` and ``{name}``, each query's exact cosine top-``k``
    ``(query_id, vec_id, cosine, rank)`` over the quantized-vector CTE
    ``qv``.  ``pairs`` picks the (query ``a``, candidate ``b``) pairs:
    the first N_QUERIES vectors against all others by default, the kNN
    probe's held-out queries against the labeled corpus otherwise."""
    return f"""
{name}_norms AS (SELECT vec_id, sum(v * v) AS n FROM {qv} GROUP BY 1),
{name}_dots AS (
  SELECT a.vec_id AS query_id, b.vec_id AS vec_id, sum(a.v * b.v) AS dot
  FROM {qv} a JOIN {qv} b ON a.d = b.d AND a.vec_id <> b.vec_id
  WHERE {pairs}
  GROUP BY 1, 2
),
{name} AS (
  SELECT query_id, vec_id, cosine, rank FROM (
    SELECT *, CAST(row_number() OVER (PARTITION BY query_id
              ORDER BY cosine DESC, vec_id) AS INT) AS rank
    FROM (
      SELECT t.query_id, t.vec_id,
             round(CAST(t.dot AS DOUBLE) / (sqrt(CAST(nq.n AS DOUBLE))
                   * sqrt(CAST(nv.n AS DOUBLE))), 6) AS cosine
      FROM {name}_dots t
      JOIN {name}_norms nq ON nq.vec_id = t.query_id
      JOIN {name}_norms nv ON nv.vec_id = t.vec_id
    )
  ) WHERE rank <= {k}
)"""


def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k (full 64-d vectors) — see
    :func:`_brute_topk` for the plan shape."""
    return _brute_topk(spark, sf_dir)


#: Matryoshka prefix lengths measured against the full 64-d truth.
MRL_DIMS = (16, 32)


def _recall_vs_exact(exact: DataFrame,
                     approx_runs: list[tuple[int, DataFrame]],
                     label_col: str) -> DataFrame:
    """Per-query recall@k of each approximate top-k vs the exact top-k.

    ``exact`` is (query_id, vec_id); each entry of ``approx_runs`` is a
    (setting value, top-k DataFrame) pair — the setting lands in
    ``label_col``.  Shared by the IVF-nprobe and matryoshka harnesses so
    "recall" has exactly one definition (count of exact hits via a left
    join, over TOP_K).
    """
    out = None
    for setting, topk in approx_runs:
        a = topk.select("query_id", F.col("vec_id").alias("a_vec_id"))
        hits = exact.join(
            a,
            (exact["query_id"] == a["query_id"])
            & (exact["vec_id"] == a["a_vec_id"]),
            "left",
        ).groupBy(exact["query_id"].alias("query_id")).agg(
            F.count("a_vec_id").alias("n_hits")
        )
        row = hits.select(
            "query_id",
            F.lit(setting).cast("int").alias(label_col),
            F.col("n_hits").cast("bigint").alias("n_hits"),
            (F.col("n_hits").cast("double") / TOP_K).alias("recall"),
        )
        out = row if out is None else out.unionByName(row)
    return out


def _recall_sql(exact: str, approx_runs: list[tuple[int, str]],
                label_col: str) -> str:
    """DuckDB twin of :func:`_recall_vs_exact`: the final SELECT over
    the exact top-k CTE ``exact`` and one (setting, top-k CTE name)
    pair per approximate run."""
    settings = ", ".join(str(s) for s, _ in approx_runs)
    runs = "\n  UNION ALL\n".join(
        f"  SELECT {s} AS {label_col}, query_id, vec_id FROM {cte}"
        for s, cte in approx_runs)
    return f"""
SELECT e.query_id, s.{label_col},
       CAST(count(t.vec_id) AS BIGINT) AS n_hits,
       CAST(count(t.vec_id) AS DOUBLE) / {TOP_K} AS recall
FROM {exact} e
CROSS JOIN (SELECT CAST(unnest([{settings}]) AS INT) AS {label_col}) s
LEFT JOIN (
{runs}
) t ON t.query_id = e.query_id AND t.vec_id = e.vec_id
   AND t.{label_col} = s.{label_col}
GROUP BY 1, 2
"""


def emb_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of prefix-truncated embeddings vs the full-dimension
    ground truth — the quality gate for Matryoshka-style dimension
    reduction (store/search the first d dims, keep the rest cold).

    For each prefix length in :data:`MRL_DIMS`, runs the same
    brute-force top-k on ``slice(vec, 1, d)`` and measures
    ``|trunc_topk ∩ full_topk| / k`` per query.  At scale the truncated
    index is d/64 of the scan bytes and shuffle width; this harness is
    the number that says what that saving costs in recall — same
    measurement (:func:`_recall_vs_exact`) as :func:`ann_ivf_recall`.
    """
    exact = _brute_topk(spark, sf_dir).select("query_id", "vec_id")
    return _recall_vs_exact(
        exact,
        [(dim, _brute_topk(spark, sf_dir, f"slice({_QVEC}, 1, {dim})"))
         for dim in MRL_DIMS],
        "mrl_dim",
    )


EMB_MATRYOSHKA_ORACLE = (
    f"WITH qv AS ({_qv_sql()}),{_exact_topk_sql('exact_topk')},"
    + ",".join(f"\nqv{d} AS (SELECT * FROM qv WHERE d <= {d}),"
               + _exact_topk_sql(f"mtopk{d}", f"qv{d}") for d in MRL_DIMS)
    + _recall_sql("exact_topk", [(d, f"mtopk{d}") for d in MRL_DIMS],
                  "mrl_dim"))


ANN_TOPK_ORACLE = f"""
WITH qv AS ({_qv_sql()}),{_exact_topk_sql("topk")}
SELECT query_id, vec_id, cosine, rank FROM topk
"""


def ann_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH bucket assignment (the ANN scale path).

    Plane p's weight for dimension d is +-1 from the cross-engine hash64
    of "p:d" — a deterministic signed random projection.  Bucket id packs
    the 8 sign bits.  Integer arithmetic end-to-end.
    """
    e = load_table(spark, sf_dir, "embeddings")
    proj = _projections(_qdims(e, "vec_id"), N_PLANES)
    bucket = sum(
        (F.when(F.col(f"proj{p}") > 0,
                F.lit(1 << p).cast("bigint")).otherwise(F.lit(0).cast("bigint"))
         for p in range(N_PLANES)),
        F.lit(0).cast("bigint"),
    )
    return proj.select("vec_id", bucket.alias("bucket"))


ANN_LSH_ORACLE = f"""
WITH qv AS ({_qv_sql(d0=True)}),
proj AS ({_proj_sql(N_PLANES)})
SELECT vec_id,
       CAST(sum(CASE WHEN proj > 0 THEN 1::BIGINT << p ELSE 0 END) AS BIGINT)
       AS bucket
FROM proj GROUP BY vec_id
"""


def ann_bucket_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket occupancy histogram — the skew diagnostic for the LSH path."""
    return (
        ann_lsh_buckets(spark, sf_dir)
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_vectors"))
    )


ANN_BUCKET_STATS_ORACLE = f"""
SELECT bucket, CAST(count(*) AS BIGINT) AS n_vectors
FROM ({ANN_LSH_ORACLE}) GROUP BY 1
"""


def emb_label_centroid_dot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label quantized centroid magnitude — the IVF building block
    (coarse quantizer = per-label mean vector).  Integer sums keep it
    engine-exact; the final scale division is one double op."""
    dims = _qdims(load_table(spark, sf_dir, "embeddings"), "label")
    return (
        dims.groupBy("label", "d")
        .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
        .groupBy("label")
        .agg(
            F.sum(F.col("s") * F.col("s")).alias("sum_sq"),
            F.max("n").alias("n_vectors"),
        )
    )


EMB_CENTROID_ORACLE = f"""
WITH qv AS ({_qv_sql("label")}),
per_dim AS (
  SELECT label, d, sum(v) AS s, count(*) AS n FROM qv GROUP BY 1, 2
)
SELECT label, CAST(sum(s * s) AS BIGINT) AS sum_sq,
       CAST(max(n) AS BIGINT) AS n_vectors
FROM per_dim GROUP BY label
"""


def emb_silhouette_simplified(spark: SparkSession, sf_dir: str) \
        -> DataFrame:
    """Simplified (centroid-based) silhouette of the gold labels in
    embedding space — a(i) = distance to the OWN label's centroid,
    b(i) = distance to the nearest OTHER centroid, s = (b−a)/max(a,b)
    — the cluster-separation audit next to ARI/margin: ARI grades a
    clustering against the labels, the silhouette grades whether the
    labels are even geometrically coherent (the full silhouette's
    O(n²) pairwise distances replaced by the standard centroid
    approximation — the 100 TB-viable form).

    Exactness: with S_c the integer SUM vector of cluster c (never the
    fractional mean), ‖x − S_c/n_c‖²·n_c² = n_c²‖x‖² − 2n_c(x·S_c) +
    ‖S_c‖² is an exact BIGINT per (row, cluster); dist² = that/(n_c²)
    is one double division shared verbatim by both engines, sqrt is
    IEEE-correctly-rounded, and each row's s is floor-quantized to
    micro units BEFORE the per-label mean (order-free integer sum; the
    mean is one integer division, truncation identical across engines
    on negatives).  100 TB note: promote the n_c² products to
    DECIMAL(38,0) when clusters approach 1e6 rows.

    Scale: one exploded-dims scan builds centroids (|labels|×dim
    rows); the per-(row, cluster) dot is a dim-key join whose volume
    is rows × |labels| × dim — |labels| is the bounded domain, so the
    shape is linear in the corpus; the centroid stats broadcast.

    Degenerate single-cluster convention (r9 ADVICE): when the corpus
    holds exactly one label there is no OTHER centroid, so b2 is NULL,
    the per-row s is NULL, and SUM skips it — ``sil_sum_micro`` (and
    hence ``sil_mean_micro``) reads 0-ish over rows that contributed
    nothing while ``n_vecs`` still counts every row.  Identical in
    both engines (SQL SUM ignores NULLs), and consistent with the
    standard convention that the silhouette of a single-cluster
    labelling is undefined/0 (sklearn raises; we emit the degenerate
    aggregate rather than failing the job).  Callers needing a hard
    signal should test ``count(distinct label) > 1`` upstream.
    """
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.expr(_QVEC).alias("qv")
    ).transform(cut_lineage, eager=True)
    dims = _qdims(e, "vec_id", "label", vec="qv")
    cent = dims.groupBy(F.col("label").alias("c"), "d").agg(
        F.sum("v").alias("s"), F.count(F.lit(1)).alias("nc"))
    cstat = cent.groupBy("c").agg(
        F.sum(F.col("s") * F.col("s")).alias("ss2"),
        F.max("nc").alias("nc"))
    xnorm = dims.groupBy("vec_id", "label").agg(
        F.sum(F.col("v") * F.col("v")).alias("x2"))
    dots = dims.join(cent.select("c", "d", "s"), "d").groupBy(
        "vec_id", "c").agg(F.sum(F.col("v") * F.col("s")).alias("dot"))
    dist = (
        dots.join(F.broadcast(cstat), "c").join(xnorm, "vec_id")
        .select(
            "vec_id", "label", "c",
            ((F.col("nc") * F.col("nc") * F.col("x2")
              - F.lit(2) * F.col("nc") * F.col("dot") + F.col("ss2"))
             .cast("double")
             / (F.col("nc") * F.col("nc")).cast("double")).alias("d2"),
        )
    )
    per = dist.groupBy("vec_id", "label").agg(
        F.min(F.when(F.col("c") == F.col("label"), F.col("d2")))
        .alias("a2"),
        F.min(F.when(F.col("c") != F.col("label"), F.col("d2")))
        .alias("b2"),
    )
    s_raw = ((F.sqrt("b2") - F.sqrt("a2"))
             / F.greatest(F.sqrt("a2"), F.sqrt("b2")))
    s_micro = F.when(F.greatest(F.col("a2"), F.col("b2")) > 0,
                     F.floor(s_raw * 1000000.0)) \
        .otherwise(F.lit(0)).cast("long")
    out = per.select("label", s_micro.alias("sm")).groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        F.sum("sm").cast("long").alias("sil_sum_micro"),
    )
    return out.select(
        "label", "n_vecs", "sil_sum_micro",
        F.expr("sil_sum_micro div n_vecs").cast("long")
        .alias("sil_mean_micro"),
    )


SILHOUETTE_ORACLE = f"""
WITH dims AS ({_qv_sql("vec_id, label")}),
cent AS (
  SELECT label AS c, d, CAST(sum(v) AS BIGINT) AS s,
         CAST(count(*) AS BIGINT) AS nc
  FROM dims GROUP BY 1, 2
),
cstat AS (
  SELECT c, CAST(sum(s * s) AS BIGINT) AS ss2,
         CAST(max(nc) AS BIGINT) AS nc
  FROM cent GROUP BY 1
),
xnorm AS (
  SELECT vec_id, label, CAST(sum(v * v) AS BIGINT) AS x2
  FROM dims GROUP BY 1, 2
),
dots AS (
  SELECT dims.vec_id, cent.c, CAST(sum(dims.v * cent.s) AS BIGINT) AS dot
  FROM dims JOIN cent USING (d) GROUP BY 1, 2
),
dist AS (
  SELECT dots.vec_id, xnorm.label, dots.c,
         CAST(cstat.nc * cstat.nc * xnorm.x2
              - 2 * cstat.nc * dots.dot + cstat.ss2 AS DOUBLE)
           / CAST(cstat.nc * cstat.nc AS DOUBLE) AS d2
  FROM dots JOIN cstat USING (c) JOIN xnorm USING (vec_id)
),
per AS (
  SELECT vec_id, label,
         min(CASE WHEN c = label THEN d2 END) AS a2,
         min(CASE WHEN c <> label THEN d2 END) AS b2
  FROM dist GROUP BY 1, 2
),
sm AS (
  SELECT label,
         CASE WHEN greatest(a2, b2) > 0 THEN
           CAST(floor((sqrt(b2) - sqrt(a2))
                      / greatest(sqrt(a2), sqrt(b2)) * 1000000.0)
                AS BIGINT)
         ELSE 0 END AS s_micro
  FROM per
)
SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
       CAST(sum(s_micro) AS BIGINT) AS sil_sum_micro,
       CAST(sum(s_micro) AS BIGINT) // count(*) AS sil_mean_micro
FROM sm GROUP BY 1
"""


def _ivf_index(spark: SparkSession, sf_dir: str):
    """The IVF index shared by the plain IVF search, its recall harness
    and the composed IVF-PQ index: returns ``(e, cells)`` where ``e`` is
    the checkpointed quantized corpus and ``cells(nprobe)`` the
    (query_id, cell) pairs of each query's ``nprobe`` best cells.

    The centroid of label L is mean(vectors of L); since cosine is
    scale-invariant, cos(q, mean) == cos(q, sum) and the *sum* vector
    keeps everything integer-exact until one final double division.  At
    100 TB the cell id becomes the partition key: a query touches
    nprobe/n_cells of the corpus instead of all of it, and the centroid
    table (n_cells x dim) broadcasts everywhere.  nprobe is the standard
    IVF recall/latency dial (FAISS semantics): more probed cells, higher
    recall, linearly more candidates scanned.

    The quantized corpus is localCheckpoint-ed once up front — the index
    build.  Centroids, query norms, cell assignment and the candidate
    scan are four consumers of it; without the materialization each one
    re-reads and re-quantizes the embeddings table (six full scans at
    corpus scale, since Catalyst does not dedupe common subplans).  Each
    query's cells are ranked once; every nprobe setting filters that
    one ranking.
    """
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.expr(_QVEC).alias("qv0")
    ).transform(cut_lineage, eager=True)
    dims = _qdims(e, "vec_id", "label", vec="qv0")
    cent = dims.groupBy(F.col("label").alias("c_label"), "d").agg(
        F.sum("v").alias("s")
    )
    cent_norm = cent.groupBy("c_label").agg(
        F.sum(F.col("s") * F.col("s")).alias("ns")
    )
    qdims = dims.filter(F.col("vec_id") < N_QUERIES)
    qnorm = qdims.groupBy(F.col("vec_id").alias("qn_id")).agg(
        F.sum(F.col("v") * F.col("v")).alias("nq")
    )
    assign = (
        qdims.join(F.broadcast(cent), "d")
        .groupBy(F.col("vec_id").alias("query_id"), "c_label")
        .agg(F.sum(F.col("v") * F.col("s")).alias("dot"))
        .join(F.broadcast(cent_norm), "c_label")
        .join(F.broadcast(qnorm), F.col("query_id") == F.col("qn_id"))
        .withColumn(
            "cell_cos",
            F.col("dot").cast("double")
            / (F.sqrt(F.col("nq").cast("double"))
               * F.sqrt(F.col("ns").cast("double"))),
        )
    )
    wa = Window.partitionBy("query_id").orderBy(
        F.col("cell_cos").desc(), F.col("c_label")
    )
    ranked = assign.withColumn("cr", F.row_number().over(wa))

    def cells(nprobe: int) -> DataFrame:
        return ranked.filter(F.col("cr") <= nprobe).select(
            "query_id", F.col("c_label").alias("cell"))

    return e, cells


def _ivf_topk(e: DataFrame, cells: DataFrame) -> DataFrame:
    """IVF-style ANN over the index of :func:`_ivf_index`: the exact
    integer-cosine top-k inside each query's probed ``cells``."""
    q = (
        e.filter(F.col("vec_id") < N_QUERIES)
        .select(F.col("vec_id").alias("query_id"), F.col("qv0").alias("qq"))
        .join(F.broadcast(cells), "query_id")
    )
    return _cosine_topk(
        e.select("vec_id", "label", F.col("qv0").alias("qv"))
        .join(F.broadcast(q),
              (F.col("label") == F.col("cell"))
              & (F.col("vec_id") != F.col("query_id")))
    )


def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN at nprobe=1 (fastest, lowest recall)."""
    e, cells = _ivf_index(spark, sf_dir)
    return _ivf_topk(e, cells(1))


def ann_ivf_probe2_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN at nprobe=2 — the recall/latency dial one notch up."""
    e, cells = _ivf_index(spark, sf_dir)
    return _ivf_topk(e, cells(2))


def ann_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the IVF index vs the brute-force ground truth, per
    query and per nprobe in {1, 2} — the measurement harness that turns
    'approximate' into a number.  recall = |ivf_topk ∩ exact_topk| / k.
    Both settings search the one index build.
    """
    exact = ann_cosine_topk(spark, sf_dir).select("query_id", "vec_id")
    e, cells = _ivf_index(spark, sf_dir)
    return _recall_vs_exact(
        exact,
        [(nprobe, _ivf_topk(e, cells(nprobe))) for nprobe in (1, 2)],
        "nprobe",
    )


def _ivf_cells_sql(nprobe: int) -> str:
    """DuckDB ``cells{nprobe}`` CTE: each query's nprobe best cells."""
    return f"""
cells{nprobe} AS (
  SELECT query_id, c_label AS cell FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY cell_cos DESC, c_label) AS cr FROM assign
  ) WHERE cr <= {nprobe}
)"""


#: Shared IVF CTE chain, parameterized by nprobe; ends with a CTE named
#: ``ivf{nprobe}`` holding that setting's top-k (query_id, vec_id, cosine,
#: rank).  Kept composable so the recall oracle can stack two settings.
def _ivf_ctes(nprobe: int) -> str:
    return _ivf_cells_sql(nprobe) + f""",
scored{nprobe} AS (
  SELECT c.query_id, b.vec_id,
         round(CAST(sum(a.v * b.v) AS DOUBLE)
               / (sqrt(CAST(max(na.n) AS DOUBLE))
                  * sqrt(CAST(max(nb.n) AS DOUBLE))), 6) AS cosine
  FROM cells{nprobe} c
  JOIN qv a ON a.vec_id = c.query_id
  JOIN qv b ON b.d = a.d AND b.label = c.cell AND b.vec_id <> c.query_id
  JOIN norms na ON na.vec_id = a.vec_id
  JOIN norms nb ON nb.vec_id = b.vec_id
  GROUP BY 1, 2
),
ivf{nprobe} AS (
  SELECT query_id, vec_id, cosine, rank FROM (
    SELECT *, CAST(row_number() OVER (PARTITION BY query_id
              ORDER BY cosine DESC, vec_id) AS INT) AS rank
    FROM scored{nprobe}
  ) WHERE rank <= {TOP_K}
)"""


_IVF_BASE = f"""
WITH qv AS ({_qv_sql("vec_id, label")}),
cent AS (SELECT label AS c_label, d, sum(v) AS s FROM qv GROUP BY 1, 2),
cent_norm AS (SELECT c_label, sum(s * s) AS ns FROM cent GROUP BY 1),
qnorm AS (SELECT vec_id, sum(v * v) AS nq FROM qv
          WHERE vec_id < {N_QUERIES} GROUP BY 1),
assign AS (
  SELECT qv.vec_id AS query_id, cent.c_label,
         CAST(sum(qv.v * cent.s) AS DOUBLE)
         / (sqrt(CAST(max(qnorm.nq) AS DOUBLE))
            * sqrt(CAST(max(cent_norm.ns) AS DOUBLE))) AS cell_cos
  FROM qv
  JOIN cent ON qv.d = cent.d
  JOIN cent_norm ON cent_norm.c_label = cent.c_label
  JOIN qnorm ON qnorm.vec_id = qv.vec_id
  WHERE qv.vec_id < {N_QUERIES}
  GROUP BY 1, 2
),
norms AS (SELECT vec_id, sum(v * v) AS n FROM qv GROUP BY 1)"""


def _ivf_oracle(nprobe: int) -> str:
    return (_IVF_BASE + "," + _ivf_ctes(nprobe)
            + f"\nSELECT query_id, vec_id, cosine, rank FROM ivf{nprobe}\n")


ANN_IVF_ORACLE = _ivf_oracle(1)
ANN_IVF_PROBE2_ORACLE = _ivf_oracle(2)

ANN_IVF_RECALL_ORACLE = (
    _IVF_BASE + "," + _ivf_ctes(1) + "," + _ivf_ctes(2) + ","
    + _exact_topk_sql("exact_topk")
    + _recall_sql("exact_topk", [(1, "ivf1"), (2, "ivf2")], "nprobe"))


KM_K = 8        # k-means cluster count
KM_ITERS = 2    # assignment rounds (unrolled — each is one shuffle)


def cluster_kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic spherical k-means over the embeddings — the explicit
    form of the IVF coarse-quantizer training step.

    Seeds are the KM_K vectors with the smallest cross-engine hash of
    their id (a reproducible "random" init); each round assigns every
    vector to its max-cosine centroid, then recomputes centroids as the
    per-cluster *sum* vector (cosine is scale-invariant, so the sum
    stands in for the mean and everything stays integer-exact — the only
    doubles are the final sqrt/divide on identical int operands).

    Scale shape: centroids are k x dim and broadcast; assignment is one
    map-side join + groupBy per round; the corpus is localCheckpoint-ed
    once and never self-joins.  This is exactly how k-means is run on a
    1000-executor cluster — the iteration count is fixed and small, and
    each iteration is one shuffle of (vec_id, cluster) pairs.
    """
    scores, assign = _kmeans_pipeline(spark, sf_dir)
    return assign.select(
        "vec_id", "cluster",
        (F.floor(F.col("cosd") * 10000.0) / 10000.0).alias("cos_q"),
    )


def _kmeans_pipeline(spark: SparkSession, sf_dir: str):
    """Quantized dims + seed centroids + the fixed rounds; returns
    (final-round scores, final assignment)."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.expr(_QVEC).alias("qv0")
    ).transform(cut_lineage, eager=True)
    dims = _qdims(e, "vec_id", vec="qv0")
    vnorm = dims.groupBy("vec_id").agg(
        F.sum(F.col("v") * F.col("v")).alias("nv")
    )
    seed_h = hash64(F.concat(F.lit("kmeans:"), F.col("vec_id").cast("string")))
    # Bottom-k seed pick compiles to TakeOrderedAndProject (per-partition
    # top-k + tiny driver merge) — no global sort; the rank window that
    # numbers the clusters then runs over only KM_K rows.
    ws = Window.orderBy(F.col("sh").asc(), F.col("vec_id"))
    seeds = (
        e.select("vec_id", seed_h.alias("sh"))
        .orderBy(F.col("sh").asc(), F.col("vec_id"))
        .limit(KM_K)
        .withColumn("cluster", (F.row_number().over(ws) - 1).cast("int"))
        .select("vec_id", "cluster")
    )
    cent = (
        dims.join(F.broadcast(seeds), "vec_id")
        .select("cluster", "d", F.col("v").alias("s"))
    )
    return _kmeans_scores_and_assign(dims, vnorm, cent)


def _kmeans_scores_and_assign(dims, vnorm, cent):
    """Run the fixed k-means rounds; return (final-round scores, final
    assignment).  ``scores`` is the full (vec_id, cluster, cosd) table
    against the LAST round's centroids — the assignment is its per-vec
    argmax, and the cluster-quality margin reads the runner-up from the
    same table."""
    scores, assign = None, None
    for it in range(KM_ITERS):
        cnorm = cent.groupBy("cluster").agg(
            F.sum(F.col("s") * F.col("s")).alias("ns")
        )
        dots = (
            dims.join(F.broadcast(cent), "d")
            .groupBy("vec_id", "cluster")
            .agg(F.sum(F.col("v") * F.col("s")).alias("dot"))
        )
        cosd = (
            F.col("dot").cast("double")
            / (F.sqrt(F.col("nv").cast("double"))
               * F.sqrt(F.col("ns").cast("double")))
        )
        wa = Window.partitionBy("vec_id").orderBy(
            F.col("cosd").desc(), F.col("cluster")
        )
        scores = (
            dots.join(F.broadcast(cnorm), "cluster")
            .join(vnorm, "vec_id")
            .select("vec_id", "cluster", cosd.alias("cosd"))
        )
        assign = (
            scores
            .withColumn("r", F.row_number().over(wa))
            .filter(F.col("r") == 1)
            .drop("r")
        )
        if it < KM_ITERS - 1:
            # Each round's centroid table is consumed TWICE in the next
            # round (cnorm + dots) and would otherwise re-plan every
            # earlier round — the HITS lineage lesson; the lazy
            # checkpoint makes each round one materialized superstep.
            cent = (
                dims.join(assign.select("vec_id", "cluster"), "vec_id")
                .groupBy("cluster", "d")
                .agg(F.sum("v").alias("s"))
                .transform(cut_lineage)
            )
    return scores, assign


def _kmeans_iter_ctes(i: int, cent: str) -> str:
    """One assignment round as CTEs: cnorm{i}/dots{i}/assign{i} off ``cent``."""
    cosd = (f"CAST(dot AS DOUBLE) / (sqrt(CAST(nv AS DOUBLE)) "
            f"* sqrt(CAST(ns AS DOUBLE)))")
    return f"""
cnorm{i} AS (SELECT cluster, sum(s * s) AS ns FROM {cent} GROUP BY 1),
dots{i} AS (
  SELECT q.vec_id, c.cluster, sum(q.v * c.s) AS dot
  FROM qv q JOIN {cent} c ON q.d = c.d
  GROUP BY 1, 2
),
assign{i} AS (
  SELECT vec_id, cluster, cosd FROM (
    SELECT d.vec_id, d.cluster, {cosd} AS cosd,
           row_number() OVER (PARTITION BY d.vec_id
             ORDER BY {cosd} DESC, d.cluster) AS r
    FROM dots{i} d
    JOIN vnorm USING (vec_id)
    JOIN cnorm{i} USING (cluster)
  ) WHERE r = 1
)"""


def _kmeans_assign_ctes() -> str:
    """The shared WITH-body computing ``assign{KM_ITERS-1}`` (final
    cluster per vec) — the prefix of both the k-means oracle and the
    semantic-dedup oracle."""
    parts = [f"""
WITH qv AS ({_qv_sql()}),
vnorm AS (SELECT vec_id, sum(v * v) AS nv FROM qv GROUP BY 1),
seeds AS (
  SELECT vec_id, CAST(r - 1 AS INT) AS cluster FROM (
    SELECT vec_id, row_number() OVER (
      ORDER BY {hash64_sql("'kmeans:' || CAST(vec_id AS VARCHAR)")}, vec_id
    ) AS r FROM embeddings
  ) WHERE r <= {KM_K}
),
cent0 AS (
  SELECT s.cluster, q.d, q.v AS s FROM seeds s JOIN qv q USING (vec_id)
)"""]
    for i in range(KM_ITERS):
        parts.append("," + _kmeans_iter_ctes(i, f"cent{i}"))
        if i < KM_ITERS - 1:
            parts.append(f""",
cent{i + 1} AS (
  SELECT a.cluster, q.d, sum(q.v) AS s
  FROM assign{i} a JOIN qv q USING (vec_id)
  GROUP BY 1, 2
)""")
    return "".join(parts)


def _kmeans_oracle() -> str:
    return _kmeans_assign_ctes() + f"""
SELECT vec_id, cluster, floor(cosd * 10000.0) / 10000.0 AS cos_q
FROM assign{KM_ITERS - 1}
"""


CLUSTER_KMEANS_ORACLE = _kmeans_oracle()


def emb_cluster_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-quality margins for the k-means result — the silhouette-
    style readout that tells an index owner whether the coarse
    quantizer's cells are separated or mushy.

    Per vector, margin = cos(own centroid) − cos(best OTHER centroid),
    read from the SAME final-round score table the assignment argmaxes
    over (no recomputation).  Per cluster: size, mean margin, and the
    weakest member's margin — a near-zero min flags boundary vectors
    that IVF probing must compensate for (nprobe>1).

    Determinism: the cosines are the k-means expressions verbatim;
    each margin is floor-quantized to 1e-6 BEFORE aggregation, so the
    per-cluster mean is an exact integer sum divided once — float
    summation order never matters.
    """
    scores, assign = _kmeans_pipeline(spark, sf_dir)
    scores = scores.transform(cut_lineage)   # argmax + runner-up
    a = assign.select("vec_id", F.col("cluster").alias("_ac"),
                      F.col("cosd").alias("_a"))
    b = (
        scores.join(a.select("vec_id", "_ac"), "vec_id")
        .filter(F.col("cluster") != F.col("_ac"))
        .groupBy("vec_id")
        .agg(F.max("cosd").alias("_b"))
    )
    q = F.floor((F.col("_a") - F.col("_b")) * 1000000.0).cast("long")
    per_vec = a.join(b, "vec_id").select(
        F.col("_ac").alias("cluster"), q.alias("q")
    )
    return per_vec.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        (F.floor(F.sum("q").cast("double") / F.count(F.lit(1))
                 .cast("double") / 100.0) / 10000.0).alias("mean_margin"),
        (F.floor(F.min("q").cast("double") / 100.0) / 10000.0)
        .alias("min_margin"),
    )


def _cluster_margin_oracle() -> str:
    last = KM_ITERS - 1
    cosd = ("CAST(dot AS DOUBLE) / (sqrt(CAST(nv AS DOUBLE)) "
            "* sqrt(CAST(ns AS DOUBLE)))")
    return _kmeans_assign_ctes() + f""",
scores AS (
  SELECT d.vec_id, d.cluster, {cosd} AS cosd
  FROM dots{last} d
  JOIN vnorm USING (vec_id)
  JOIN cnorm{last} USING (cluster)
),
bb AS (
  SELECT s.vec_id, max(s.cosd) AS b
  FROM scores s JOIN assign{last} a
    ON s.vec_id = a.vec_id AND s.cluster <> a.cluster
  GROUP BY 1
),
mm AS (
  SELECT a.cluster,
         CAST(floor((a.cosd - bb.b) * 1000000.0) AS BIGINT) AS q
  FROM assign{last} a JOIN bb USING (vec_id)
)
SELECT cluster, CAST(count(*) AS BIGINT) AS n_vecs,
       floor(CAST(sum(q) AS DOUBLE) / CAST(count(*) AS DOUBLE) / 100.0)
         / 10000.0 AS mean_margin,
       floor(CAST(min(q) AS DOUBLE) / 100.0) / 10000.0 AS min_margin
FROM mm GROUP BY 1
"""


CLUSTER_MARGIN_ORACLE = _cluster_margin_oracle()


def emb_cluster_ari(spark: SparkSession, sf_dir: str) -> DataFrame:
    """External cluster validation: Adjusted Rand Index and purity of
    the k-means clusters against the embeddings' ground-truth labels.

    ARI is pure pair combinatorics over the (cluster × label)
    contingency table — Σ C(n_ij,2) vs the chance-expected agreement —
    so with the identity scaled through by 2·C(n,2) every term is an
    exact integer:  ARI = (2C·S_ij − 2·S_a·S_b) / (C·(S_a+S_b) −
    2·S_a·S_b), DECIMAL(38) products, one double division, floor6.
    Purity = Σ_clusters max_j n_ij / n, same discipline.  One row out.

    Scale shape: the contingency table is |clusters|×|labels| (tiny);
    everything after the assignment join is constant-size aggregation.
    """
    _, assign = _kmeans_pipeline(spark, sf_dir)
    lab = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    ct = (
        assign.select("vec_id", "cluster").join(lab, "vec_id")
        .groupBy("cluster", "label")
        .agg(F.count(F.lit(1)).alias("nij"))
        .transform(cut_lineage)   # feeds three aggregates
    )

    s = ct.agg(
        F.sum(F.expr("(nij * (nij - 1)) div 2")).alias("s_ij"),
        F.sum("nij").alias("n"),
    )
    sa = (
        ct.groupBy("cluster").agg(F.sum("nij").alias("a"))
        .agg(F.sum(F.expr("(a * (a - 1)) div 2")).alias("s_a"),
             F.count(F.lit(1)).alias("k_clusters"))
    )
    sb = (
        ct.groupBy("label").agg(F.sum("nij").alias("b"))
        .agg(F.sum(F.expr("(b * (b - 1)) div 2")).alias("s_b"),
             F.count(F.lit(1)).alias("k_labels"))
    )
    pur = (
        ct.groupBy("cluster").agg(F.max("nij").alias("m"))
        .agg(F.sum("m").alias("maj"))
    )
    j = (
        s.crossJoin(F.broadcast(sa)).crossJoin(F.broadcast(sb))
        .crossJoin(F.broadcast(pur))
    )
    d38 = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    cn2 = F.expr("(n * (n - 1)) div 2").cast("decimal(38,0)")
    num = (2 * cn2 * d38("s_ij") - 2 * d38("s_a") * d38("s_b"))
    den = (cn2 * (d38("s_a") + d38("s_b")) - 2 * d38("s_a") * d38("s_b"))
    floor6 = lambda c: F.floor(c * 1000000.0) / 1000000.0  # noqa: E731
    return j.select(
        F.col("n").alias("n_vecs"),
        F.col("k_clusters").alias("n_clusters"),
        F.col("k_labels").alias("n_labels"),
        floor6(num.cast("double") / den.cast("double")).alias("ari"),
        floor6(F.col("maj").cast("double") / F.col("n").cast("double"))
        .alias("purity"),
    )


def _cluster_ari_oracle() -> str:
    last = KM_ITERS - 1
    return _kmeans_assign_ctes() + f""",
ct AS (
  SELECT a.cluster, e.label, CAST(count(*) AS BIGINT) AS nij
  FROM assign{last} a JOIN embeddings e USING (vec_id)
  GROUP BY 1, 2
),
s AS (SELECT CAST(sum((nij * (nij - 1)) // 2) AS BIGINT) AS s_ij,
             CAST(sum(nij) AS BIGINT) AS n FROM ct),
sa AS (SELECT CAST(sum((a * (a - 1)) // 2) AS BIGINT) AS s_a,
              CAST(count(*) AS BIGINT) AS k_clusters
       FROM (SELECT cluster, sum(nij) AS a FROM ct GROUP BY 1)),
sb AS (SELECT CAST(sum((b * (b - 1)) // 2) AS BIGINT) AS s_b,
              CAST(count(*) AS BIGINT) AS k_labels
       FROM (SELECT label, sum(nij) AS b FROM ct GROUP BY 1)),
pur AS (SELECT CAST(sum(m) AS BIGINT) AS maj
        FROM (SELECT cluster, max(nij) AS m FROM ct GROUP BY 1))
SELECT s.n AS n_vecs, sa.k_clusters AS n_clusters, sb.k_labels AS n_labels,
       floor(CAST(2 * CAST((n * (n - 1)) // 2 AS DECIMAL(38,0))
                      * CAST(s_ij AS DECIMAL(38,0))
                  - 2 * CAST(s_a AS DECIMAL(38,0))
                      * CAST(s_b AS DECIMAL(38,0)) AS DOUBLE)
             / CAST(CAST((n * (n - 1)) // 2 AS DECIMAL(38,0))
                      * (CAST(s_a AS DECIMAL(38,0))
                         + CAST(s_b AS DECIMAL(38,0)))
                  - 2 * CAST(s_a AS DECIMAL(38,0))
                      * CAST(s_b AS DECIMAL(38,0)) AS DOUBLE)
             * 1000000.0) / 1000000.0 AS ari,
       floor(CAST(maj AS DOUBLE) / CAST(s.n AS DOUBLE) * 1000000.0)
         / 1000000.0 AS purity
FROM s CROSS JOIN sa CROSS JOIN sb CROSS JOIN pur
"""


CLUSTER_ARI_ORACLE = _cluster_ari_oracle()

SEM_TAU = 0.35  # within-cluster near-dup cosine (synthetic corpus max ~0.51)


def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-shaped semantic dedup: k-means cluster the embeddings,
    then prune near-duplicates *within each cluster only*.

    The scale story is the clustering itself: pairwise cosine across a
    corpus is O(N²), but after a k-means partition the self-join key is
    the cluster id, so cost is Σ|cluster|² ≈ N²/k — the published
    SemDeDup recipe (Abbas et al. 2023), which runs at k ≈ √N so bucket
    pair-counts stay bounded; here k is the engine-wide KM_K.  The
    decision rule is deterministic: a vector is dropped iff a
    smaller-id vector in the same cluster has cosine ≥ SEM_TAU, so no
    iterative closure is needed and the whole operator is one Catalyst
    plan over the (checkpointed) assignment.

    Returns one row per vector: (vec_id, cluster, kept).
    """
    # The k-means result feeds THREE consumers (both pair sides and the
    # final labeling); without the checkpoint Catalyst re-executes the
    # whole two-round training per consumer (measured: 45 exchanges in
    # the executed plan vs 13 after — the PERF.md §8 rule).
    assign = cluster_kmeans_embeddings(spark, sf_dir) \
        .select("vec_id", "cluster").transform(cut_lineage)
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.expr(_QVEC).alias("qv")
    )
    member = e.join(assign, "vec_id").transform(cut_lineage)
    a = member.select("cluster", F.col("vec_id").alias("v1"),
                      F.col("qv").alias("qa"))
    b = member.select("cluster", F.col("vec_id").alias("v2"),
                      F.col("qv").alias("qb"))
    # Within-cluster pairs only: the equi-join on cluster is the
    # SemDeDup blocking step (shuffle by cluster, pairwise inside).
    pairs = a.join(b, "cluster").filter(F.col("v1") < F.col("v2"))
    cos = _int_cosine("qa", "qb")
    dropped = (
        pairs.select("v2", cos.alias("cosine"))
        .filter(F.col("cosine") >= SEM_TAU)
        .select(F.col("v2").alias("vec_id"))
        .distinct()
    )
    return (
        assign.join(dropped.withColumn("_drop", F.lit(1)),
                    "vec_id", "left")
        .select("vec_id", "cluster",
                F.col("_drop").isNull().alias("kept"))
    )


def _semantic_oracle() -> str:
    last = f"assign{KM_ITERS - 1}"
    return _kmeans_assign_ctes() + f""",
qpairs AS (
  SELECT a.vec_id AS v1, b.vec_id AS v2,
         round(CAST(sum(qa.v * qb.v) AS DOUBLE)
               / (sqrt(CAST(max(na.nv) AS DOUBLE))
                  * sqrt(CAST(max(nb.nv) AS DOUBLE))), 6) AS cosine
  FROM {last} a JOIN {last} b
    ON a.cluster = b.cluster AND a.vec_id < b.vec_id
  JOIN qv qa ON qa.vec_id = a.vec_id
  JOIN qv qb ON qb.vec_id = b.vec_id AND qb.d = qa.d
  JOIN vnorm na ON na.vec_id = a.vec_id
  JOIN vnorm nb ON nb.vec_id = b.vec_id
  GROUP BY 1, 2
),
dropped AS (
  SELECT DISTINCT v2 AS vec_id FROM qpairs WHERE cosine >= {SEM_TAU}
)
SELECT a.vec_id, a.cluster, (d.vec_id IS NULL) AS kept
FROM {last} a LEFT JOIN dropped d USING (vec_id)
"""


DEDUP_SEMANTIC_ORACLE = _semantic_oracle()


# --------------------------------------------------------------------------
# Product quantization (PQ): the vector-compression half of a production
# ANN index (IVF-PQ).  The 64-d space is split into PQ_M orthogonal
# subspaces; each subspace gets its own PQ_K-codeword L2 codebook (seeded
# + one Lloyd refinement — the same deterministic-k-means recipe as the
# coarse quantizer, but per-subspace), and every vector is stored as
# PQ_M small codes.  At 100 TB this is what makes the index fit in
# memory: 64 floats -> 4 bytes per vector, and search becomes integer
# LUT lookups (see ``ann_pq_adc_topk``).
# --------------------------------------------------------------------------

#: Narrow subspaces (4 dims) with a wider codebook are the classic PQ
#: regime (Jégou et al. 2011 use 8 bits over 4-8 dims): on this corpus
#: 16x4-d/32 codes reaches ~0.4 ADC recall@5 where 4x16-d/8 codes gave
#: 0.04 — measured with an independent numpy mirror of the training.
PQ_M = 16     # subspaces
PQ_SUB = 4    # dims per subspace (PQ_M * PQ_SUB = 64)
PQ_K = 32     # codewords per subspace

#: Codeword-distance score (lower = closer): with centroid kept as the
#: exact integer member-sum ``s`` over ``cnt`` members, the L2 distance
#: to the *mean* centroid decomposes as ``||v||² + ns/cnt² - 2·dot/cnt``;
#: the rank-relevant part below uses only the two division terms (the
#: ``||v||²`` offset is constant per vector-subspace).  Every operand is
#: an exact integer, so the two divisions and one subtraction produce
#: bit-identical doubles on both engines.
_PQ_SCORE = ("CAST(ns AS DOUBLE) / CAST(cnt * cnt AS DOUBLE) "
             "- 2.0 * CAST(dot AS DOUBLE) / CAST(cnt AS DOUBLE)")


def _pq_state(spark: SparkSession, sf_dir: str):
    """Train the per-subspace codebooks; return the final state.

    Returns ``(dims, vnorm, cent, msize, assign)`` where ``assign`` is
    the final (vec_id, m, code, score) assignment and ``cent``/``msize``
    are the codebook it was computed against (needed by the ADC LUT).

    Scale shape: codebooks are PQ_M x PQ_K rows and always broadcast;
    each training round is one broadcast join + one partial-agg shuffle
    of (vec_id, m, code) candidates — the corpus never self-joins, and
    the exploded dim table is checkpointed once and reused by every
    round (and by both PQ operators' downstream joins).
    """
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.expr(_QVEC).alias("qv0")
    )
    dims = _qdims(e, "vec_id", vec="qv0").select(
        "vec_id", (F.col("d") / PQ_SUB).cast("int").alias("m"), "d", "v"
    ).transform(cut_lineage, eager=True)
    vnorm = dims.groupBy("vec_id", "m").agg(
        F.sum(F.col("v") * F.col("v")).alias("nv")
    )
    seed_h = hash64(F.concat(F.lit("pq:"), F.col("vec_id").cast("string")))
    ws = Window.orderBy(F.col("sh").asc(), F.col("vec_id"))
    seeds = (
        e.select("vec_id", seed_h.alias("sh"))
        .orderBy(F.col("sh").asc(), F.col("vec_id"))
        .limit(PQ_K)
        .withColumn("code", (F.row_number().over(ws) - 1).cast("int"))
        .select("vec_id", "code")
    )
    # Round-0 codebook: the seed vectors themselves (each code has
    # exactly one member per subspace; cnt derives from the PQ_SUB rows
    # each member contributes, so the count algebra is uniform across
    # rounds).
    cent = dims.join(F.broadcast(seeds), "vec_id").select(
        "m", "code", "d", F.col("v").alias("s")
    )
    msize = cent.groupBy("m", "code").agg(
        (F.count(F.lit(1)) / PQ_SUB).cast("bigint").alias("cnt")
    )
    assign = None
    for it in range(2):
        cnorm = cent.groupBy("m", "code").agg(
            F.sum(F.col("s") * F.col("s")).alias("ns")
        )
        dots = (
            dims.join(F.broadcast(cent), ["m", "d"])
            .groupBy("vec_id", "m", "code")
            .agg(F.sum(F.col("v") * F.col("s")).alias("dot"))
        )
        sc = (
            dots.join(F.broadcast(cnorm), ["m", "code"])
            .join(F.broadcast(msize), ["m", "code"])
            .withColumn("score", F.expr(_PQ_SCORE))
        )
        # argmin as min(struct(score, code, ...)) — a hash aggregate
        # with map-side combine instead of a sort window over the
        # N x M x K candidate rows; the struct's lexicographic order IS
        # the (score ASC, code ASC) tie-break, bit-for-bit.
        assign = (
            sc.groupBy("vec_id", "m")
            .agg(F.min(F.struct("score", "code", "dot", "ns", "cnt"))
                 .alias("b"))
            .select("vec_id", "m",
                    F.col("b.code").alias("code"),
                    F.col("b.score").alias("score"),
                    F.col("b.dot").alias("dot"),
                    F.col("b.ns").alias("ns"),
                    F.col("b.cnt").alias("cnt"))
        )
        if it == 0:
            # The round-0 assignment feeds ONLY the cent1 rebuild, so it
            # needs no lineage cut of its own — cent1's cut (below)
            # already stops round 1 from re-deriving round 0, and one
            # fewer cut is one fewer eager physical-plan compile on the
            # driver (the profiled cost of this training chain at bench
            # scale is plan compilation, not execution).
            # cent1 carries the member count per (m, code, d) row (each
            # member contributes exactly one row per dim), so msize1
            # derives from cent1's tiny frame — no second shuffle over
            # the assignment.
            cent = (
                dims.join(assign.select("vec_id", "m", "code"),
                          ["vec_id", "m"])
                .groupBy("m", "code", "d")
                .agg(F.sum("v").alias("s"),
                     F.count(F.lit(1)).alias("cnt_d"))
                .transform(cut_lineage)
            )
            msize = cent.groupBy("m", "code").agg(
                F.max("cnt_d").cast("bigint").alias("cnt")
            )
            cent = cent.select("m", "code", "d", "s")
    return dims, vnorm, cent, msize, assign


def emb_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector PQ codes + per-subspace quantization distortion.

    One row per (vector, subspace): the assigned codeword, its cluster
    size, and the distortion as the EXACT integer numerator of the L2²
    distance to the mean centroid scaled by cnt²
    (``nv·cnt² + ns − 2·dot·cnt`` — always ≥ 0); dividing by the
    returned ``cnt²`` recovers the real-unit value.  Kept integral
    because a 6-decimal rounding of the ~1e7-magnitude double hits the
    engines' differing decimal-rounding implementations at the 14th
    significant digit.  The distortion is the index-quality metric a
    pipeline tracks when tuning PQ_M/PQ_K.
    """
    dims, vnorm, cent, msize, assign = _pq_state(spark, sf_dir)
    dist_num = (F.col("nv") * F.col("cnt") * F.col("cnt") + F.col("ns")
                - 2 * F.col("dot") * F.col("cnt"))
    return (
        assign.join(vnorm, ["vec_id", "m"])
        .select(
            "vec_id", F.col("m").alias("subspace"), "code", "cnt",
            dist_num.cast("bigint").alias("dist_num"),
        )
    )


def ann_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ search via asymmetric distance computation (ADC).

    For each query, the exact distance from the query subvector to every
    codeword is precomputed into a PQ_M x PQ_K lookup table (quantized
    to integer milli-units — the LUT-quantization used by SIMD PQ
    implementations, and what makes the per-candidate sum an exact
    integer, immune to float accumulation order).  A candidate's
    approximate distance is then the sum of PQ_M LUT entries — no
    vector math touches the corpus at query time.

    Scale shape: the LUT is |queries| x PQ_M x PQ_K rows and broadcast;
    the scan side is the *codes* table (PQ_M small ints per vector, not
    the embeddings), one broadcast join + one partial-agg shuffle, then
    a per-query top-k window.  This is exactly the IVF-PQ query path of
    a production vector index, minus the cell pruning already modeled by
    ``ann_ivf_topk``.
    """
    dims, vnorm, cent, msize, assign = _pq_state(spark, sf_dir)
    lut = _pq_query_lut(dims, vnorm, cent, msize)
    return _adc_topk(
        assign.select("vec_id", "m", "code")
        .join(F.broadcast(lut), ["m", "code"])
        .filter(F.col("vec_id") != F.col("query_id"))
    )


def _adc_topk(scan: DataFrame) -> DataFrame:
    """Each query's TOP_K candidates by ADC distance, the sum of the
    candidate's ``lut_milli`` entries over the ``scan`` rows
    (query_id, vec_id, lut_milli), ties on vec_id:
    ``(query_id, vec_id, rank, adc_milli)``."""
    adc = scan.groupBy("query_id", "vec_id").agg(
        F.sum("lut_milli").alias("adc_milli"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_milli").asc(), F.col("vec_id")
    )
    return (
        adc.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "vec_id", "rank", "adc_milli")
    )


def _pq_query_lut(dims, vnorm, cent, msize) -> DataFrame:
    """Per-query ADC lookup table (query_id, m, code, lut_milli) —
    shared by the flat PQ scan and the composed IVF-PQ index."""
    cnorm = cent.groupBy("m", "code").agg(
        F.sum(F.col("s") * F.col("s")).alias("ns")
    )
    qd = dims.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "m", "d", "v"
    )
    qdots = (
        qd.join(F.broadcast(cent), ["m", "d"])
        .groupBy("query_id", "m", "code")
        .agg(F.sum(F.col("v") * F.col("s")).alias("dot"))
    )
    qn = vnorm.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "m", F.col("nv").alias("nq")
    )
    return (
        qdots.join(F.broadcast(cnorm), ["m", "code"])
        .join(F.broadcast(msize), ["m", "code"])
        .join(F.broadcast(qn), ["query_id", "m"])
        .withColumn(
            "lut_milli",
            F.expr(f"CAST(round((CAST(nq AS DOUBLE) + {_PQ_SCORE}) "
                   "* 1000.0) AS BIGINT)"),
        )
        .select("query_id", "m", "code", "lut_milli")
    )


#: IVF-PQ probes this many coarse cells per query (the FAISS default
#: regime is nprobe ≪ n_cells; 2 of this corpus's label cells).
IVFPQ_NPROBE = 2


def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPOSED production vector index — IVF-PQ (Jégou et al.
    2011; the FAISS IndexIVFPQ shape): the coarse quantizer prunes the
    corpus to each query's ``IVFPQ_NPROBE`` best cells, and only those
    cells' members are scored, via the PQ/ADC integer-milli lookup
    table instead of their raw vectors.  ``ann_ivf_topk`` models the
    pruning alone and ``ann_pq_adc_topk`` the compression alone; this
    operator is their composition, which is what actually runs in a
    production ANN service.

    Scale shape: cells cut candidates to ~nprobe/n_cells of the corpus
    BEFORE any scoring; the scan side is the codes table (PQ_M small
    ints per vector) filtered by a broadcast of the (query, cell)
    pairs; the LUT broadcasts; one partial-agg shuffle, then the
    per-query top-k window.
    """
    e, cells = _ivf_index(spark, sf_dir)
    dims, vnorm, cent, msize, assign = _pq_state(spark, sf_dir)
    lut = _pq_query_lut(dims, vnorm, cent, msize)
    labels = e.select("vec_id", "label")
    return _adc_topk(
        assign.select("vec_id", "m", "code")
        .join(labels, "vec_id")
        .join(F.broadcast(cells(IVFPQ_NPROBE)),
              F.col("label") == F.col("cell"))
        .filter(F.col("vec_id") != F.col("query_id"))
        .join(F.broadcast(lut), ["query_id", "m", "code"])
    )


def ann_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the PQ/ADC search vs the exact quantized-L2 ground
    truth — the harness that prices the 64-floats→16-codes compression
    in accuracy (mirror of ``ann_ivf_recall`` for the PQ index).

    The ground truth is ALL-INTEGER: L2² = ‖a‖² + ‖b‖² − 2·a·b over the
    quantized vectors, so the exact top-k needs no float tolerance at
    all; the ADC side is the operator under test.
    """
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.expr(_QVEC).alias("qv")
    )
    q = e.filter(F.col("vec_id") < N_QUERIES) \
        .withColumnRenamed("vec_id", "query_id").withColumnRenamed("qv", "qq")
    pairs = e.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
    dot, na, nb = _int_dot("qq", "qv"), _norm2("qq"), _norm2("qv")
    w = Window.partitionBy("query_id").orderBy(F.col("dist2"), F.col("vec_id"))
    exact = (
        pairs.select("query_id", "vec_id", (na + nb - 2 * dot).alias("dist2"))
        .withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= TOP_K)
        .select("query_id", "vec_id")
    )
    adc = ann_pq_adc_topk(spark, sf_dir).select("query_id", "vec_id")
    return _recall_vs_exact(exact, [(TOP_K, adc)], "k")


#: Coreset size for the maxmin (farthest-point / k-center) traversal.
CORESET_K = 8


def emb_coreset_maxmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy farthest-point coreset: CORESET_K maximally-diverse
    representatives, each chosen as the vector farthest (quantized L2)
    from everything already selected — the classic 2-approximation for
    k-center, and the diversity-sampling primitive of data curation
    (pick the spanning exemplars of an embedding space before labeling
    / fine-tuning).

    Determinism: distances are exact integers (norm + dot sums of
    quantized components), the seed is the smallest keyed hash, and
    every argmax breaks ties on vec_id — no float anywhere.  Scale
    shape: each of the K-1 rounds is one broadcast of the single new
    center, one map-side distance update, and one scalar argmax — the
    corpus is never self-joined, and the running min-distance column
    rides a lazily checkpointed frame (K passes total, the textbook
    distributed maxmin).

    Output: (sel_order, vec_id, d2_sel) — d2_sel is the squared
    distance to the previously-selected set at the moment of selection
    (NULL for the seed), i.e. the k-center radius ladder.
    """
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.expr(_QVEC).alias("qv")
    )
    base = e.select("vec_id", "qv", _norm2("qv").alias("nv")) \
        .transform(cut_lineage, eager=True)
    seed_h = hash64(F.concat(F.lit("coreset:"),
                             F.col("vec_id").cast("string")))
    seed = base.select("vec_id", "qv", "nv", seed_h.alias("sh")) \
        .orderBy("sh", "vec_id").limit(1) \
        .select("vec_id", "qv", "nv")
    picked_rows = [seed.select(
        F.lit(0).alias("sel_order"), "vec_id",
        F.lit(None).cast("bigint").alias("d2_sel"),
    )]
    center = seed
    rem = base
    dot = _int_dot("qv", "cv")
    for i in range(1, CORESET_K):
        c = center.select(F.col("vec_id").alias("cid"),
                          F.col("qv").alias("cv"),
                          F.col("nv").alias("cnv"))
        d2 = F.col("nv") + F.col("cnv") - 2 * dot
        upd = (
            rem.crossJoin(F.broadcast(c))
            .filter(F.col("vec_id") != F.col("cid"))
            .select("vec_id", "qv", "nv",
                    (F.least(F.col("dm"), d2) if i > 1 else d2)
                    .alias("dm"))
            .transform(cut_lineage)
        )
        far = upd.agg(
            F.max(F.struct(F.col("dm"), (-F.col("vec_id")).alias("nid")))
            .alias("m")
        ).select(F.col("m.dm").alias("d2_sel"),
                 (-F.col("m.nid")).cast("bigint").alias("vec_id"))
        center = upd.join(F.broadcast(far.select("vec_id")), "vec_id") \
            .select("vec_id", "qv", "nv")
        picked_rows.append(far.select(
            F.lit(i).alias("sel_order"), "vec_id", "d2_sel"))
        rem = upd
    out = picked_rows[0]
    for p in picked_rows[1:]:
        out = out.unionByName(p)
    return out


def _coreset_oracle() -> str:
    parts = [f"""
WITH dims AS MATERIALIZED ({_qv_sql()}),
nrm AS MATERIALIZED (SELECT vec_id, sum(v * v) AS nv FROM dims GROUP BY 1),
seed AS (
  SELECT vec_id FROM (
    SELECT vec_id, row_number() OVER (
      ORDER BY {hash64_sql("'coreset:' || CAST(vec_id AS VARCHAR)")},
               vec_id
    ) AS r FROM embeddings
  ) WHERE r = 1
)"""]
    prev_c = "seed"
    for i in range(1, CORESET_K):
        base_expr = "na.nv + c.cnv - 2 * t.dot"
        dm_expr = f"least(p.dm, {base_expr})" if i > 1 else base_expr
        join_prev = (f"JOIN d{i - 1} p ON p.vec_id = t.vec_id"
                     if i > 1 else "")
        parts.append(f""",
dt{i} AS MATERIALIZED (
  SELECT a.vec_id, sum(a.v * b.v) AS dot
  FROM dims a
  JOIN {prev_c} s ON a.vec_id <> s.vec_id
  JOIN dims b ON b.vec_id = s.vec_id AND b.d = a.d
  GROUP BY 1
),
d{i} AS MATERIALIZED (
  SELECT t.vec_id, {dm_expr} AS dm
  FROM dt{i} t
  JOIN nrm na ON na.vec_id = t.vec_id
  CROSS JOIN (SELECT n.nv AS cnv FROM nrm n
              JOIN {prev_c} s ON n.vec_id = s.vec_id) c
  {join_prev}
),
c{i} AS (
  SELECT vec_id, dm FROM d{i} ORDER BY dm DESC, vec_id LIMIT 1
)""")
        prev_c = f"c{i}"
    sel = ["SELECT CAST(0 AS INT) AS sel_order, vec_id, "
           "CAST(NULL AS BIGINT) AS d2_sel FROM seed"]
    for i in range(1, CORESET_K):
        sel.append(f"SELECT CAST({i} AS INT), vec_id, CAST(dm AS BIGINT) "
                   f"FROM c{i}")
    return "".join(parts) + "\n" + "\nUNION ALL\n".join(sel)


def _pq_ctes() -> str:
    """The WITH-body training the PQ codebooks (mirrors ``_pq_state``)."""
    score = _PQ_SCORE
    return f"""
WITH raw AS ({_qv_sql()}),
dims AS (
  SELECT vec_id, CAST((d - 1) // {PQ_SUB} AS INT) AS m, d, v FROM raw
),
vnorm AS (SELECT vec_id, m, sum(v * v) AS nv FROM dims GROUP BY 1, 2),
seeds AS (
  SELECT vec_id, CAST(r - 1 AS INT) AS code FROM (
    SELECT vec_id, row_number() OVER (
      ORDER BY {hash64_sql("'pq:' || CAST(vec_id AS VARCHAR)")}, vec_id
    ) AS r FROM embeddings
  ) WHERE r <= {PQ_K}
),
cent0 AS (
  SELECT d.m, s.code, d.d, d.v AS s
  FROM seeds s JOIN dims d USING (vec_id)
),
msize0 AS (
  SELECT m, code, CAST(count(*) // {PQ_SUB} AS BIGINT) AS cnt
  FROM cent0 GROUP BY 1, 2
),
cnorm0 AS (SELECT m, code, sum(s * s) AS ns FROM cent0 GROUP BY 1, 2),
dots0 AS (
  SELECT q.vec_id, q.m, c.code, sum(q.v * c.s) AS dot
  FROM dims q JOIN cent0 c ON q.m = c.m AND q.d = c.d
  GROUP BY 1, 2, 3
),
assign0 AS (
  SELECT vec_id, m, code, score, dot, ns, cnt FROM (
    SELECT d.vec_id, d.m, d.code, {score} AS score, dot, ns, cnt,
           row_number() OVER (PARTITION BY d.vec_id, d.m
                              ORDER BY {score}, d.code) AS r
    FROM dots0 d
    JOIN cnorm0 USING (m, code)
    JOIN msize0 USING (m, code)
  ) WHERE r = 1
),
cent1 AS (
  SELECT a.m, a.code, d.d, sum(d.v) AS s
  FROM assign0 a JOIN dims d ON a.vec_id = d.vec_id AND a.m = d.m
  GROUP BY 1, 2, 3
),
msize1 AS (
  SELECT m, code, CAST(count(*) AS BIGINT) AS cnt FROM assign0 GROUP BY 1, 2
),
cnorm1 AS (SELECT m, code, sum(s * s) AS ns FROM cent1 GROUP BY 1, 2),
dots1 AS (
  SELECT q.vec_id, q.m, c.code, sum(q.v * c.s) AS dot
  FROM dims q JOIN cent1 c ON q.m = c.m AND q.d = c.d
  GROUP BY 1, 2, 3
),
assign1 AS (
  SELECT vec_id, m, code, score, dot, ns, cnt FROM (
    SELECT d.vec_id, d.m, d.code, {score} AS score, dot, ns, cnt,
           row_number() OVER (PARTITION BY d.vec_id, d.m
                              ORDER BY {score}, d.code) AS r
    FROM dots1 d
    JOIN cnorm1 USING (m, code)
    JOIN msize1 USING (m, code)
  ) WHERE r = 1
)"""


EMB_PQ_CODES_ORACLE = _pq_ctes() + """
SELECT a.vec_id, a.m AS subspace, a.code, a.cnt,
       CAST(nv * a.cnt * a.cnt + a.ns - 2 * a.dot * a.cnt AS BIGINT)
         AS dist_num
FROM assign1 a JOIN vnorm n ON a.vec_id = n.vec_id AND a.m = n.m
"""


#: DuckDB twin of :func:`_pq_query_lut` over the :func:`_pq_ctes`
#: codebook: the per-query lookup table ``lut`` (query_id, m, code,
#: lut_milli).
_PQ_LUT_CTES = f"""
qd AS (
  SELECT vec_id AS query_id, m, d, v FROM dims WHERE vec_id < {N_QUERIES}
),
qdots AS (
  SELECT q.query_id, q.m, c.code, sum(q.v * c.s) AS dot
  FROM qd q JOIN cent1 c ON q.m = c.m AND q.d = c.d
  GROUP BY 1, 2, 3
),
qn AS (
  SELECT vec_id AS query_id, m, nv AS nq
  FROM vnorm WHERE vec_id < {N_QUERIES}
),
lut AS (
  SELECT query_id, m, code,
         CAST(round((CAST(nq AS DOUBLE) + {_PQ_SCORE}) * 1000.0) AS BIGINT)
           AS lut_milli
  FROM qdots
  JOIN cnorm1 USING (m, code)
  JOIN msize1 USING (m, code)
  JOIN qn USING (query_id, m)
)"""

#: The flat PQ scan: every coded vector but the query, with its LUT entry.
_PQ_SCAN_SQL = """SELECT l.query_id, a.vec_id, l.lut_milli
      FROM assign1 a JOIN lut l ON a.m = l.m AND a.code = l.code
      WHERE a.vec_id <> l.query_id"""


def _adc_topk_sql(scan: str) -> str:
    """DuckDB twin of :func:`_adc_topk` over the ``scan`` query's
    (query_id, vec_id, lut_milli) rows."""
    return f"""
SELECT query_id, vec_id, CAST(r AS INT) AS rank, adc_milli FROM (
  SELECT query_id, vec_id, adc_milli,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY adc_milli, vec_id) AS r
  FROM (
    SELECT query_id, vec_id, CAST(sum(lut_milli) AS BIGINT) AS adc_milli
    FROM ({scan})
    GROUP BY 1, 2
  )
) WHERE r <= {TOP_K}"""


ANN_PQ_ADC_ORACLE = (_pq_ctes() + "," + _PQ_LUT_CTES
                     + _adc_topk_sql(_PQ_SCAN_SQL) + "\n")


def _ivfpq_oracle() -> str:
    """Composed IVF-PQ oracle: the PQ training chain + the IVF coarse
    assignment chain (disjoint CTE names by construction), then the ADC
    scan restricted to each query's probed cells."""
    ivf_body = _IVF_BASE.strip()
    assert ivf_body.startswith("WITH ")
    ivf_body = ivf_body[len("WITH "):]
    return (_pq_ctes() + ",\n" + ivf_body + ","
            + _ivf_cells_sql(IVFPQ_NPROBE) + "," + _PQ_LUT_CTES
            + _adc_topk_sql(f"""SELECT c.query_id, a.vec_id, l.lut_milli
      FROM assign1 a
      JOIN embeddings e ON a.vec_id = e.vec_id
      JOIN cells{IVFPQ_NPROBE} c ON c.cell = e.label
      JOIN lut l ON a.m = l.m AND a.code = l.code
                AND l.query_id = c.query_id
      WHERE a.vec_id <> c.query_id""") + "\n")


ANN_IVFPQ_ORACLE = _ivfpq_oracle()


ANN_PQ_RECALL_ORACLE = _pq_ctes() + "," + _PQ_LUT_CTES + f""",
adck AS ({_adc_topk_sql(_PQ_SCAN_SQL)}
),
tot AS (SELECT vec_id, sum(nv) AS nv FROM vnorm GROUP BY 1),
dotsq AS (
  SELECT q.query_id, a.vec_id, sum(q.v * a.v) AS dot
  FROM qd q JOIN dims a ON q.d = a.d AND a.vec_id <> q.query_id
  GROUP BY 1, 2
),
exact AS (
  SELECT query_id, vec_id FROM (
    SELECT d.query_id, d.vec_id,
           row_number() OVER (PARTITION BY d.query_id
             ORDER BY tq.nv + ta.nv - 2 * d.dot, d.vec_id) AS r
    FROM dotsq d
    JOIN tot tq ON tq.vec_id = d.query_id
    JOIN tot ta ON ta.vec_id = d.vec_id
  ) WHERE r <= {TOP_K}
)""" + _recall_sql("exact", [(TOP_K, "adck")], "k")

HYBRID_QUERY_VEC = 0  # the query embedding: vec_id 0 (ANN-query idiom)


def hybrid_search_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage hybrid retrieval: lexical candidates, semantic re-rank.

    Stage 1 is the engine's BM25 top-k (``doc_bm25_rank`` — scatter/
    gather-topk, candidates ≤ BM25_TOPK rows).  Stage 2 joins the tiny
    candidate set to the embeddings table on ``doc_id = vec_id`` and
    re-ranks by integer-exact cosine against one broadcast query vector
    — the standard retrieve-then-rerank shape of a production RAG /
    search stack, where the expensive vector math runs on dozens of
    rows, never the corpus.  Candidates without an embedding drop out
    (inner join), mirroring a partially-embedded corpus.

    Scale shape: stage 1 is the documented BM25 plan; stage 2's join
    input is ≤ top-k rows, so the embedding side prunes to a hash-join
    probe of k keys and the one-row query vector is a broadcast scalar
    attach.
    """
    cand = doc_bm25_rank(spark, sf_dir)
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.expr(_QVEC).alias("qa")
    )
    qvec = e.filter(F.col("vec_id") == HYBRID_QUERY_VEC) \
        .select(F.col("qa").alias("qb"))
    cos = _int_cosine("qa", "qb")
    return (
        cand.join(e, cand.doc_id == e.vec_id)
        .crossJoin(F.broadcast(qvec))
        .select("doc_id", F.col("score").alias("bm25"),
                cos.alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col("doc_id").asc())
    )


def _hybrid_oracle() -> str:
    from .text import BM25_ORACLE
    return f"""
WITH cand AS ({BM25_ORACLE}),
hq AS ({_qv_sql()}),
hn AS (SELECT vec_id, sum(v * v) AS nv FROM hq GROUP BY 1),
qry AS (SELECT d, v FROM hq WHERE vec_id = {HYBRID_QUERY_VEC}),
qn AS (SELECT sum(v * v) AS nq FROM qry)
SELECT c.doc_id, c.score AS bm25,
       round(CAST(sum(a.v * q.v) AS DOUBLE)
             / (sqrt(CAST(max(na.nv) AS DOUBLE))
                * sqrt(CAST(max(qn.nq) AS DOUBLE))), 6) AS cosine
FROM cand c
JOIN hq a ON a.vec_id = c.doc_id
JOIN qry q ON q.d = a.d
JOIN hn na ON na.vec_id = c.doc_id
CROSS JOIN qn
GROUP BY 1, 2
"""


#: Reciprocal-rank-fusion damping constant (the published RRF default).
RRF_K = 60


def hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion of the lexical and semantic rankings.

    Takes the hybrid candidate set (:func:`hybrid_search_rerank` — BM25
    top-k joined to integer-exact cosine) and fuses the two orderings
    with the standard RRF score ``1/(K+r_bm25) + 1/(K+r_cos)`` — the
    score-free fusion used when the two retrievers' scores aren't
    calibrated against each other (Cormack et al., SIGIR 2009).  Ranks
    are integers with pinned tie-breaks, so the fused score is a fixed
    two-term double expression — deterministic on both engines.

    Scale shape: both rank windows run over the ≤ BM25_TOPK candidate
    rows (a constant — the gather stage of the scatter/gather top-k),
    never the corpus; all the heavy lifting happened in the candidate
    generators.
    """
    scored = hybrid_search_rerank(spark, sf_dir)
    wb = Window.orderBy(F.col("bm25").desc(), F.col("doc_id"))
    wc = Window.orderBy(F.col("cosine").desc(), F.col("doc_id"))
    ranked = scored.select(
        "doc_id",
        F.row_number().over(wb).alias("bm25_rank"),
        F.row_number().over(wc).alias("cos_rank"),
    )
    rrf = (F.lit(1.0) / (F.lit(RRF_K) + F.col("bm25_rank"))
           + F.lit(1.0) / (F.lit(RRF_K) + F.col("cos_rank")))
    return ranked.select(
        "doc_id", "bm25_rank", "cos_rank",
        F.round(rrf, 6).alias("rrf"),
    )


def _hybrid_rrf_oracle() -> str:
    return f"""
WITH scored AS ({_hybrid_oracle()}),
ranked AS (
  SELECT doc_id,
         CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS INT)
           AS bm25_rank,
         CAST(row_number() OVER (ORDER BY cosine DESC, doc_id) AS INT)
           AS cos_rank
  FROM scored
)
SELECT doc_id, bm25_rank, cos_rank,
       round(1.0 / ({RRF_K} + bm25_rank)
             + 1.0 / ({RRF_K} + cos_rank), 6) AS rrf
FROM ranked
"""


#: nDCG evaluation depth and the per-position discount 1/log2(i+1) in
#: micro units — Python-precomputed literals shared VERBATIM by both
#: engines (the Benford convention), so DCG is an exact integer sum.
NDCG_K = 10
_NDCG_DISC_MICRO = [round(1_000_000 / _math.log2(i + 1))
                    for i in range(1, NDCG_K + 1)]


def rank_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nDCG@10 of the three retrieval rankings the engine produces —
    lexical BM25, semantic cosine re-rank, and RRF fusion
    (:func:`hybrid_search_rrf`) — against a deterministic graded
    relevance label: rel(doc) = number of distinct query terms the
    document contains (0..3), gain 2^rel − 1.  The eval harness a
    search team runs on every ranker change; fused rankings are only
    worth shipping if this number says so.

    Exactness: gains are integers, the position discounts are shared
    micro literals, so DCG and the ideal DCG (same candidate pool
    sorted by rel DESC, doc_id ASC) are order-free integer sums and
    nDCG is an integer ppm division — no floating point anywhere.

    Scale: the candidate pool is ≤ BM25_TOPK rows (the scatter/gather
    top-k did the heavy lifting); relevance labels join k doc_ids
    against the documents scan (semi-join pruned).
    """
    cand = _ranked_with_rel(spark, sf_dir)
    gain = F.expr("CAST(shiftleft(CAST(1 AS BIGINT), rel) - 1 "
                  "AS BIGINT)")
    wi = Window.orderBy(F.col("rel").desc(), F.col("doc_id"))
    cand = cand.withColumn("gain", gain).withColumn(
        "ideal_rank", F.row_number().over(wi).cast("int"))
    disc_arr = F.array(*[F.lit(x).cast("long")
                         for x in _NDCG_DISC_MICRO])

    def dcg(rank_col: str) -> F.Column:
        return F.sum(
            F.when(F.col(rank_col) <= NDCG_K,
                   F.col("gain") * F.element_at(disc_arr,
                                                F.col(rank_col)))
            .otherwise(F.lit(0).cast("long"))
        )

    agg = cand.agg(
        dcg("bm25_rank").alias("dcg_bm25"),
        dcg("cos_rank").alias("dcg_cosine"),
        dcg("rrf_rank").alias("dcg_rrf"),
        dcg("ideal_rank").alias("idcg"),
    )
    rows = agg.select(
        F.expr("stack(3, 'bm25', dcg_bm25, 'cosine', dcg_cosine, "
               "'rrf', dcg_rrf) AS (ranker, dcg_micro)"),
        F.col("idcg").alias("idcg_micro"),
    )
    return rows.select(
        "ranker", F.lit(NDCG_K).cast("int").alias("k"),
        F.col("dcg_micro").cast("long").alias("dcg_micro"),
        F.col("idcg_micro").cast("long").alias("idcg_micro"),
        F.expr("(1000000 * dcg_micro) div idcg_micro").cast("long")
        .alias("ndcg_ppm"),
    )


def _ndcg_oracle() -> str:
    disc_csv = ", ".join(str(x) for x in _NDCG_DISC_MICRO)

    def dcg_sql(col: str) -> str:
        return (f"CAST(sum(CASE WHEN {col} <= {NDCG_K} THEN gain * "
                f"list_extract([{disc_csv}], {col}) ELSE 0 END) "
                f"AS BIGINT)")

    legs = " UNION ALL ".join(
        f"SELECT '{name}' AS ranker, CAST({NDCG_K} AS INT) AS k, "
        f"d_{name} AS dcg_micro, idcg AS idcg_micro, "
        f"(1000000 * d_{name}) // idcg AS ndcg_ppm FROM agg"
        for name in ["bm25", "cosine", "rrf"]
    )
    return f"""{_ranked_rel_oracle_ctes()},
gained AS (
  SELECT cand.*, CAST((1 << rel) - 1 AS BIGINT) AS gain,
         CAST(row_number() OVER (ORDER BY rel DESC, doc_id) AS INT)
           AS ideal_rank
  FROM cand
),
agg AS (
  SELECT {dcg_sql("bm25_rank")} AS d_bm25,
         {dcg_sql("cos_rank")} AS d_cosine,
         {dcg_sql("rrf_rank")} AS d_rrf,
         {dcg_sql("ideal_rank")} AS idcg
  FROM gained
)
{legs}
"""


#: Binary-relevance threshold for MRR/MAP: a doc is "relevant" when it
#: contains at least REL_MIN of the query's distinct terms (the graded
#: 0..3 label rank_ndcg_eval uses, binarized the way TREC qrels
#: binarize graded judgments for MAP/MRR).
REL_MIN = 2


def _rrf_ranked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The candidate pool with its bm25, cosine and RRF ranks."""
    ranked = hybrid_search_rrf(spark, sf_dir)
    wr = Window.orderBy(F.col("rrf").desc(), F.col("doc_id"))
    return ranked.withColumn(
        "rrf_rank", F.row_number().over(wr).cast("int"))


def _ranked_with_rel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate pool with all three retrieval ranks + the graded
    relevance label — the shared scaffold of the ranking-eval suite."""
    from .text import BM25_QUERY, tokens

    ranked = _rrf_ranked(spark, sf_dir)
    d = load_table(spark, sf_dir, "documents")
    rel_expr = sum(
        F.when(F.array_contains(tokens(F.col("text")), t), 1)
        .otherwise(0)
        for t in BM25_QUERY
    ).cast("int")
    return ranked.join(d.select("doc_id", rel_expr.alias("rel")),
                       "doc_id")


def _ranked_rel_oracle_ctes() -> str:
    """The rr/rel/cand CTE prefix of the ranking-eval oracles (twin of
    :func:`_rrf_ranked` and :func:`_ranked_with_rel`)."""
    from .text import _TOKENS_SQL, BM25_QUERY

    rel_sql = " + ".join(
        f"(CASE WHEN list_contains({_TOKENS_SQL}, '{t}') "
        f"THEN 1 ELSE 0 END)" for t in BM25_QUERY)
    return f"""
WITH r AS ({_hybrid_rrf_oracle()}),
rr AS (
  SELECT doc_id, bm25_rank, cos_rank,
         CAST(row_number() OVER (ORDER BY rrf DESC, doc_id) AS INT)
           AS rrf_rank
  FROM r
),
rel AS (
  SELECT doc_id, CAST({rel_sql} AS INT) AS rel FROM documents
),
cand AS (
  SELECT rr.*, rel.rel FROM rr JOIN rel USING (doc_id)
)"""


def rank_mrr_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MRR@10 of the three retrieval rankings (BM25 / cosine re-rank /
    RRF fusion) against the binarized relevance label — the
    first-right-answer metric QA/agentic retrieval teams track next to
    nDCG (nDCG rewards the whole top-k; MRR only the first hit, which
    is what matters when the consumer reads one document).

    Exactness: the first relevant rank is an integer MIN; the
    reciprocal is one integer ppm division (0 when no relevant doc
    lands in the top k).  Scale: one aggregate over the ≤ BM25_TOPK
    candidate pool — the scatter/gather top-k upstream did the heavy
    lifting.

    Reference for parity scope: the reference engine has no retrieval
    eval; this extends the Spark engine's eval suite
    (rank_ndcg_eval's category).
    """
    cand = _ranked_with_rel(spark, sf_dir)

    def first_rel(rank_col: str) -> F.Column:
        return F.coalesce(
            F.min(F.when((F.col("rel") >= REL_MIN)
                         & (F.col(rank_col) <= NDCG_K),
                         F.col(rank_col))),
            F.lit(0),
        ).cast("long")

    agg = cand.agg(
        first_rel("bm25_rank").alias("f_bm25"),
        first_rel("cos_rank").alias("f_cosine"),
        first_rel("rrf_rank").alias("f_rrf"),
    )
    rows = agg.select(F.expr(
        "stack(3, 'bm25', f_bm25, 'cosine', f_cosine, 'rrf', f_rrf) "
        "AS (ranker, first_rel_rank)"))
    return rows.select(
        "ranker", F.lit(NDCG_K).cast("int").alias("k"),
        "first_rel_rank",
        F.when(F.col("first_rel_rank") > 0,
               F.expr("1000000 div first_rel_rank"))
        .otherwise(F.lit(0)).cast("long").alias("rr_ppm"),
    )


def _mrr_oracle() -> str:
    def first_rel(col: str) -> str:
        return (f"CAST(coalesce(min(CASE WHEN rel >= {REL_MIN} AND "
                f"{col} <= {NDCG_K} THEN {col} END), 0) AS BIGINT)")

    legs = " UNION ALL ".join(
        f"SELECT '{name}' AS ranker, CAST({NDCG_K} AS INT) AS k, "
        f"f_{name} AS first_rel_rank, "
        f"CASE WHEN f_{name} > 0 THEN 1000000 // f_{name} "
        f"ELSE 0 END AS rr_ppm FROM agg"
        for name in ["bm25", "cosine", "rrf"]
    )
    return f"""{_ranked_rel_oracle_ctes()},
agg AS (
  SELECT {first_rel("bm25_rank")} AS f_bm25,
         {first_rel("cos_rank")} AS f_cosine,
         {first_rel("rrf_rank")} AS f_rrf
  FROM cand
)
{legs}
"""


def rank_map_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAP@10 (here AP@10 of the single benchmark query) for the three
    rankings — the area-under-precision metric that, unlike MRR,
    rewards EVERY relevant doc's position: AP = (1/R)·Σ_{hit k}
    precision@k with R = min(#relevant in pool, k).

    Exactness: precision@k = hits_k/k is quantized per hit position as
    ``(1e6·hits_k) div k`` (integer), the sum of those terms is an
    order-free BIGINT, and the final /R is one more integer division —
    the whole metric is integer arithmetic (house ppm convention).

    Scale: three cumulative-hit windows over the ≤ BM25_TOPK candidate
    rows (constant k — the gather stage), one aggregate.
    """
    cand = _ranked_with_rel(spark, sf_dir).withColumn(
        "is_rel", (F.col("rel") >= REL_MIN).cast("long"))
    for name, rank_col in [("bm25", "bm25_rank"), ("cosine", "cos_rank"),
                           ("rrf", "rrf_rank")]:
        w = Window.orderBy(F.col(rank_col))
        cand = cand.withColumn(f"cum_{name}", F.sum("is_rel").over(w))
        cand = cand.withColumn(
            f"t_{name}",
            F.when((F.col("is_rel") == 1) & (F.col(rank_col) <= NDCG_K),
                   F.expr(f"(1000000 * cum_{name}) div {rank_col}"))
            .otherwise(F.lit(0)).cast("long"))
    agg = cand.agg(
        F.sum("t_bm25").alias("s_bm25"),
        F.sum("t_cosine").alias("s_cosine"),
        F.sum("t_rrf").alias("s_rrf"),
        F.least(F.sum("is_rel"), F.lit(NDCG_K).cast("long"))
        .cast("long").alias("n_rel"),
    )
    rows = agg.select(
        F.expr("stack(3, 'bm25', s_bm25, 'cosine', s_cosine, "
               "'rrf', s_rrf) AS (ranker, sum_prec_micro)"),
        "n_rel",
    )
    return rows.select(
        "ranker", F.lit(NDCG_K).cast("int").alias("k"),
        F.col("n_rel").cast("long").alias("n_rel"),
        F.expr("sum_prec_micro div greatest(n_rel, 1)").cast("long")
        .alias("ap_ppm"),
    )


def _map_oracle() -> str:
    terms = []
    for name, col in [("bm25", "bm25_rank"), ("cosine", "cos_rank"),
                      ("rrf", "rrf_rank")]:
        terms.append(
            f"CAST(sum(CASE WHEN is_rel = 1 AND {col} <= {NDCG_K} "
            f"THEN (1000000 * cum_{name}) // {col} ELSE 0 END) "
            f"AS BIGINT) AS s_{name}")
    legs = " UNION ALL ".join(
        f"SELECT '{name}' AS ranker, CAST({NDCG_K} AS INT) AS k, "
        f"n_rel, s_{name} // greatest(n_rel, 1) AS ap_ppm FROM agg"
        for name in ["bm25", "cosine", "rrf"]
    )
    cums = ", ".join(
        f"CAST(sum(CASE WHEN rel >= {REL_MIN} THEN 1 ELSE 0 END) "
        f"OVER (ORDER BY {col}) AS BIGINT) AS cum_{name}"
        for name, col in [("bm25", "bm25_rank"), ("cosine", "cos_rank"),
                          ("rrf", "rrf_rank")])
    return f"""{_ranked_rel_oracle_ctes()},
cumu AS (
  SELECT cand.*,
         CASE WHEN rel >= {REL_MIN} THEN 1 ELSE 0 END AS is_rel,
         {cums}
  FROM cand
),
agg AS (
  SELECT {", ".join(terms)},
         CAST(least(sum(is_rel), {NDCG_K}) AS BIGINT) AS n_rel
  FROM cumu
)
{legs}
"""


#: Rank-biased-overlap persistence parameter (Webber et al., TOIS
#: 2010 — p=0.9 weights the top ~10 ranks, the published default) and
#: the eval depth.
RBO_P = 0.9
RBO_K = 10
#: w_d = (1−p)·p^(d−1)/d in nano units, then SUFFIX-SUMMED so each
#: doc contributes one array lookup at max(rank_a, rank_b): a doc in
#: both prefixes from depth m on adds Σ_{d=m..K} w_d.  Python-
#: precomputed literals shared verbatim by both engines (the Benford
#: convention), so the whole metric is one integer sum.
_RBO_W_NANO = [round(1e9 * (1 - RBO_P) * RBO_P ** (d - 1) / d)
               for d in range(1, RBO_K + 1)]
_RBO_SUFFIX_NANO = [sum(_RBO_W_NANO[m - 1:]) for m in range(1, RBO_K + 1)]


def rank_rbo_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-biased overlap (truncated prefix RBO@10, the RBO_MIN lower
    bound without the extrapolation tail) between each pair of the
    three retrieval rankings — the ranker-agreement diagnostic run
    before swapping retrievers: a high-nDCG candidate ranker that
    DISAGREES with production everywhere is a riskier ship than the
    same nDCG with high overlap.

    Identity: RBO@K = Σ_{d=1..K} (1−p)·p^(d−1)·|A_d ∩ B_d|/d.  A doc
    with ranks (r_a, r_b) is in both depth-d prefixes iff
    max(r_a, r_b) ≤ d, so its total contribution is the SUFFIX sum of
    the weight series from max(r_a, r_b) — one precomputed-literal
    array lookup per doc, one integer SUM per pair, no per-depth
    explode.  Identical top-10s score 1−p^10 ≈ 0.651 by construction
    (the truncated form's ceiling; documented, not normalized away).

    Scale: one aggregate over the ≤ BM25_TOPK candidate pool.
    """
    cand = _ranked_with_rel(spark, sf_dir)
    suffix = F.array(*[F.lit(x).cast("long") for x in _RBO_SUFFIX_NANO])

    def contrib(ra: str, rb: str) -> F.Column:
        m = F.greatest(F.col(ra), F.col(rb)).cast("int")
        return F.sum(
            F.when(m <= RBO_K, F.element_at(suffix, m))
            .otherwise(F.lit(0).cast("long")))

    agg = cand.agg(
        contrib("bm25_rank", "cos_rank").alias("n_bm25_cosine"),
        contrib("bm25_rank", "rrf_rank").alias("n_bm25_rrf"),
        contrib("cos_rank", "rrf_rank").alias("n_cosine_rrf"),
    )
    rows = agg.select(F.expr(
        "stack(3, 'bm25_cosine', n_bm25_cosine, "
        "'bm25_rrf', n_bm25_rrf, 'cosine_rrf', n_cosine_rrf) "
        "AS (pair, rbo_nano)"))
    return rows.select(
        "pair", F.lit(RBO_K).cast("int").alias("k"),
        F.lit(int(RBO_P * 1000)).cast("int").alias("p_milli"),
        F.col("rbo_nano").cast("long").alias("rbo_nano"),
        F.expr("rbo_nano div 1000").cast("long").alias("rbo_ppm"),
    )


def _rbo_oracle() -> str:
    suffix_csv = ", ".join(str(x) for x in _RBO_SUFFIX_NANO)

    def contrib(ra: str, rb: str, name: str) -> str:
        return (f"CAST(sum(CASE WHEN greatest({ra}, {rb}) <= {RBO_K} "
                f"THEN list_extract([{suffix_csv}], "
                f"greatest({ra}, {rb})) ELSE 0 END) AS BIGINT) "
                f"AS n_{name}")

    legs = " UNION ALL ".join(
        f"SELECT '{name}' AS pair, CAST({RBO_K} AS INT) AS k, "
        f"CAST({int(RBO_P * 1000)} AS INT) AS p_milli, "
        f"n_{name} AS rbo_nano, n_{name} // 1000 AS rbo_ppm FROM agg"
        for name in ["bm25_cosine", "bm25_rrf", "cosine_rrf"]
    )
    return f"""{_ranked_rel_oracle_ctes()},
agg AS (
  SELECT {contrib("bm25_rank", "cos_rank", "bm25_cosine")},
         {contrib("bm25_rank", "rrf_rank", "bm25_rrf")},
         {contrib("cos_rank", "rrf_rank", "cosine_rrf")}
  FROM cand
)
{legs}
"""


def rank_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall rank correlation (τ) between each pair of the three
    retrieval rankings — the rank-eval suite's correlation member next
    to the overlap member (``rank_rbo_eval``): RBO asks "how much do
    the PREFIXES agree", τ asks "how consistently do the FULL
    orderings agree", and a candidate ranker with high nDCG but
    near-zero τ against production reorders everything it touches.
    (``ev_kendall_tau_daily`` is the time-series trend twin over daily
    aggregates; this one compares rankers over a shared candidate
    pool.)

    Exactness: the three rankings are tie-free row_number permutations
    of the same pool, so τ-b degenerates to τ-a = (C − D)/(k(k−1)/2)
    with C, D exact integer pair counts and C + D = k(k−1)/2;
    ``tau_ppm`` is one integer division (``div`` and ``//`` both
    truncate toward zero, verified on negatives — the house rule).

    Scale: the pair enumeration is pool × pool over the CONSTANT
    ≤ BM25_TOPK candidate set (≤ k(k−1)/2 = 190 unordered pairs) —
    the same bounded-pool argument as the whole rank-eval suite; the
    corpus-sized work happened in the candidate generators.
    """
    pool = _rrf_ranked(spark, sf_dir).select(
        "doc_id", "bm25_rank", "cos_rank", "rrf_rank")
    a = pool.select(F.col("doc_id").alias("id_a"),
                    F.col("bm25_rank").alias("b_a"),
                    F.col("cos_rank").alias("c_a"),
                    F.col("rrf_rank").alias("r_a"))
    b = pool.select(F.col("doc_id").alias("id_b"),
                    F.col("bm25_rank").alias("b_b"),
                    F.col("cos_rank").alias("c_b"),
                    F.col("rrf_rank").alias("r_b"))
    # Broadcast the right side: the pure range condition would
    # otherwise materialize as a CartesianProduct (banned outright by
    # the hygiene suite); as a broadcast nested-loop over the constant
    # pool it is the reviewed BNLJ shape the allowlist documents.
    pairs = a.join(F.broadcast(b), F.col("id_a") < F.col("id_b"))

    def conc(x: str, y: str) -> F.Column:
        return F.sum(((F.col(f"{x}_a") < F.col(f"{x}_b"))
                      == (F.col(f"{y}_a") < F.col(f"{y}_b")))
                     .cast("long"))

    agg = pairs.agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        conc("b", "c").alias("c_bc"),
        conc("b", "r").alias("c_br"),
        conc("c", "r").alias("c_cr"),
    )
    rows = agg.select(
        F.expr("stack(3, 'bm25_cosine', c_bc, 'bm25_rrf', c_br, "
               "'cosine_rrf', c_cr) AS (pair, concordant)"),
        "n_pairs",
    )
    return rows.select(
        "pair", "n_pairs",
        F.col("concordant").cast("long").alias("concordant"),
        (F.col("n_pairs") - F.col("concordant")).cast("long")
        .alias("discordant"),
        F.expr("(1000000 * (2 * concordant - n_pairs)) div n_pairs")
        .cast("long").alias("tau_ppm"),
    )


def rank_pr_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision@k / Recall@k / F1@k of the three retrieval rankings
    against the binarized relevance label (rel ≥ REL_MIN, the MRR/MAP
    convention) — the set-based members that complete the eval suite:
    nDCG grades positions, MRR the first hit, MAP the averaged sweep;
    P/R@k is the number a filtering consumer (rerank budget, context
    window packing) actually acts on.

    Recall's denominator is the relevant docs in the CANDIDATE POOL
    (the union the generators retrieved), documented — pool recall,
    not corpus recall; the corpus-recall question is what the
    ann_*_recall harnesses answer.

    Exactness: hits and the relevant count are integers;
    P = hits/k and R = hits/n_rel make F1 = 2·hits/(k + n_rel)
    EXACTLY, so all three readouts are single integer ppm divisions —
    no floating point anywhere.  Scale: one aggregate over the
    constant ≤ BM25_TOPK pool.
    """
    cand = _ranked_with_rel(spark, sf_dir)

    def hits(rank_col: str) -> F.Column:
        return F.sum(((F.col("rel") >= REL_MIN)
                      & (F.col(rank_col) <= NDCG_K)).cast("long"))

    agg = cand.agg(
        F.sum((F.col("rel") >= REL_MIN).cast("long")).alias("n_rel"),
        hits("bm25_rank").alias("h_bm25"),
        hits("cos_rank").alias("h_cosine"),
        hits("rrf_rank").alias("h_rrf"),
    )
    rows = agg.select(
        F.expr("stack(3, 'bm25', h_bm25, 'cosine', h_cosine, "
               "'rrf', h_rrf) AS (ranker, hits)"),
        "n_rel",
    )
    return rows.select(
        "ranker", F.lit(NDCG_K).cast("int").alias("k"),
        F.col("n_rel").cast("long").alias("n_rel"),
        F.col("hits").cast("long").alias("hits"),
        F.expr(f"(1000000 * hits) div {NDCG_K}").cast("long")
        .alias("precision_ppm"),
        F.when(F.col("n_rel") > 0,
               F.expr("(1000000 * hits) div n_rel"))
        .otherwise(F.lit(0)).cast("long").alias("recall_ppm"),
        F.expr(f"(2000000 * hits) div ({NDCG_K} + n_rel)").cast("long")
        .alias("f1_ppm"),
    )


def _pr_at_k_oracle() -> str:
    def hits(col: str) -> str:
        return (f"CAST(sum(CASE WHEN rel >= {REL_MIN} AND "
                f"{col} <= {NDCG_K} THEN 1 ELSE 0 END) AS BIGINT)")

    legs = " UNION ALL ".join(
        f"SELECT '{name}' AS ranker, CAST({NDCG_K} AS INT) AS k, "
        f"n_rel, h_{name} AS hits, "
        f"(1000000 * h_{name}) // {NDCG_K} AS precision_ppm, "
        f"CASE WHEN n_rel > 0 THEN (1000000 * h_{name}) // n_rel "
        f"ELSE 0 END AS recall_ppm, "
        f"(2000000 * h_{name}) // ({NDCG_K} + n_rel) AS f1_ppm FROM agg"
        for name in ["bm25", "cosine", "rrf"]
    )
    return f"""{_ranked_rel_oracle_ctes()},
agg AS (
  SELECT CAST(sum(CASE WHEN rel >= {REL_MIN} THEN 1 ELSE 0 END)
              AS BIGINT) AS n_rel,
         {hits('bm25_rank')} AS h_bm25,
         {hits('cos_rank')} AS h_cosine,
         {hits('rrf_rank')} AS h_rrf
  FROM cand
)
{legs}
"""


def _kendall_oracle() -> str:
    legs = " UNION ALL ".join(
        f"SELECT '{name}' AS pair, n_pairs, {col} AS concordant, "
        f"n_pairs - {col} AS discordant, "
        f"(1000000 * (2 * {col} - n_pairs)) // n_pairs AS tau_ppm "
        f"FROM agg"
        for name, col in [("bm25_cosine", "c_bc"), ("bm25_rrf", "c_br"),
                          ("cosine_rrf", "c_cr")]
    )
    return f"""{_ranked_rel_oracle_ctes()},
pairs AS (
  SELECT CAST(a.bm25_rank < b.bm25_rank AS INT) AS pb,
         CAST(a.cos_rank < b.cos_rank AS INT) AS pc,
         CAST(a.rrf_rank < b.rrf_rank AS INT) AS pr
  FROM rr a JOIN rr b ON a.doc_id < b.doc_id
),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_pairs,
         CAST(sum(CASE WHEN pb = pc THEN 1 ELSE 0 END) AS BIGINT) AS c_bc,
         CAST(sum(CASE WHEN pb = pr THEN 1 ELSE 0 END) AS BIGINT) AS c_br,
         CAST(sum(CASE WHEN pc = pr THEN 1 ELSE 0 END) AS BIGINT) AS c_cr
  FROM pairs
)
{legs}
"""


def emb_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label norm² distribution — the embedding-quality diagnostic
    run before any ANN/index build: a collapsed encoder shows up as
    near-zero norm variance, a mis-scaled source as a shifted mean,
    unnormalized vectors as a wide min/max band.

    Quantized-integer norm² sums are exact (the QUANT idiom shared by
    every op in this module), so min/max/sum hash identically across
    engines; only the derived mean is floating, floored to 4 decimals.
    One scan, one partial-agg shuffle of |labels| rows.
    """
    e = load_table(spark, sf_dir, "embeddings").select(
        "label", F.expr(_QVEC).alias("qv")
    )
    per = e.select("label", _norm2("qv").alias("n2"))
    agg = per.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.min("n2").alias("min_norm2"),
        F.max("n2").alias("max_norm2"),
        F.sum("n2").alias("sum_norm2"),
    )
    mean4 = (F.floor(F.col("sum_norm2").cast("double")
                     / F.col("n_vecs") * 10000.0) / 10000.0)
    return agg.select("label", "n_vecs", "min_norm2", "max_norm2",
                      "sum_norm2", mean4.alias("mean_norm2"))


EMB_NORM_ORACLE = f"""
WITH q AS ({_qv_sql("vec_id, label")}),
norms AS (SELECT vec_id, label, sum(v * v) AS n2 FROM q GROUP BY 1, 2)
SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
       CAST(min(n2) AS BIGINT) AS min_norm2,
       CAST(max(n2) AS BIGINT) AS max_norm2,
       CAST(sum(n2) AS BIGINT) AS sum_norm2,
       floor(CAST(sum(n2) AS DOUBLE) / count(*) * 10000.0) / 10000.0
         AS mean_norm2
FROM norms GROUP BY 1
"""


#: Embedding dimensionality of the test corpus (the operators below
#: derive shapes from the data; the constant only sizes the oracle's
#: index-pair domain).
EMB_DIM = 64
#: Fixed power-iteration count for the PCA component (deterministic
#: unroll).  The test corpus' Gram spectrum has λ₂/λ₁ ≈ 0.93, so ~260
#: iterations reach 1e-8; 500 leaves margin while still being ~2 ms of
#: driver arithmetic on a 64×64 matrix.
PCA_ITERATIONS = 500


def _gram_partials(batches):
    """Arrow-batch kernel: exact int64 partial Gram per batch.

    Receives already-quantized ``array<bigint>`` vectors (quantization
    stays in Spark so the engine's ``round`` semantics, not numpy's
    banker's rounding, define the integers).  Each batch contributes
    ``mᵀm`` — exact integer math, so partial-sum order cannot change
    the result — and each *partition* emits at most d(d+1)/2 rows.
    """
    import numpy as np
    import pandas as pd

    acc = None
    for pdf in batches:
        if len(pdf) == 0:
            continue
        m = np.array(pdf["q"].tolist(), dtype=np.int64)
        g = m.T @ m
        acc = g if acc is None else acc + g
    if acc is not None:
        iu, ju = np.triu_indices(acc.shape[0])
        yield pd.DataFrame({
            "i": iu.astype("int32"),
            "j": ju.astype("int32"),
            "partial": acc[iu, ju],
        })


def emb_gram_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Gram matrix Σ qᵥqᵥᵀ of the quantized embeddings — the one
    d×d summary every linear preprocessing step (PCA whitening, OPQ
    rotation, covariance diagnostics) needs before an index build.

    Scale shape: ONE scan; each Arrow batch folds into a local d×d
    int64 accumulator via numpy matmul (``mapInPandas`` — the sanctioned
    vectorized seam; 2080 independent SQL ``sum()`` aggregates fall out
    of codegen and ran 6× slower, and an explode+self-join moves n·d
    rows through a shuffle this formulation never performs).  Each
    partition emits d(d+1)/2 partial rows — the shuffle is O(d²·
    partitions), independent of corpus size.  The global merge sums in
    DECIMAL so petabyte-row corpora cannot overflow the int64 partials.

    Determinism: quantization happens in Spark SQL (engine ``round``),
    the kernel is pure integer math, and integer addition is
    associative — bit-identical under any partitioning, verified
    against the oracle's unnest-based recomputation.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.selectExpr(f"{_QVEC} AS q")
    partials = q.mapInPandas(_gram_partials, "i int, j int, partial long")
    return (
        partials.groupBy("i", "j")
        .agg(F.sum(F.col("partial").cast("decimal(38,0)"))
             .cast("bigint").alias("g"))
    )


EMB_GRAM_ORACLE = f"""
WITH q AS (
  SELECT list_transform(embedding,
           x -> CAST(round(CAST(x AS DOUBLE) * {QUANT}) AS BIGINT)) AS q
  FROM embeddings
),
idx AS (
  SELECT CAST(i.range AS INT) AS i, CAST(j.range AS INT) AS j
  FROM range(0, {EMB_DIM}) i, range(0, {EMB_DIM}) j
  WHERE j.range >= i.range
)
SELECT idx.i, idx.j, CAST(sum(q.q[idx.i + 1] * q.q[idx.j + 1]) AS BIGINT) AS g
FROM q CROSS JOIN idx
GROUP BY 1, 2
"""


def emb_pca_top_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction of the embedding cloud via power
    iteration on the distributed Gram matrix — the first step of PCA
    whitening / dimensionality triage before an IVF or OPQ index.

    The heavy half is :func:`emb_gram_matrix` (one corpus scan); the
    iteration then runs on the collected d×d summary — a *bounded*
    d(d+1)/2-row collect, constant in corpus size, which is the
    legitimate driver-side step (same class as the CC convergence
    scalar).  A fixed ``PCA_ITERATIONS``-step unroll in pure Python
    floats keeps the result a deterministic function of the Gram
    integers; the sign is fixed by making the largest-|loading|
    coordinate (lowest index on ties) positive.

    No SQL oracle: an eigenvector is not SQL-expressible (the driver
    records the rows-only check); the pytest contract verifies against
    ``numpy.linalg.eigh`` instead.

    Laziness: the iteration runs inside a single-partition
    ``mapInPandas`` stage over the d(d+1)/2 Gram rows, so constructing
    the operator builds a plan without executing anything (the
    engine-wide side-effect-free-construction rule) and the whole
    computation — scan, partial Grams, eigen-iteration — fires on the
    first action as one job.
    """
    gram = emb_gram_matrix(spark, sf_dir)
    return gram.coalesce(1).mapInPandas(
        _pca_power_kernel, "i int, loading double"
    )


def _pca_power_kernel(batches):
    """Single-task kernel: assemble the (bounded, d×d) Gram matrix from
    its upper-triangle rows and power-iterate ``PCA_ITERATIONS`` times.
    Pure-python float arithmetic — deterministic independent of the
    host BLAS — and sign pinned by the largest-|loading| coordinate
    (lowest index on ties)."""
    import pandas as pd

    rows: list[tuple[int, int, int]] = []
    for pdf in batches:
        rows.extend(zip(pdf["i"], pdf["j"], pdf["g"]))
    if not rows:
        return
    d = max(j for _, j, _ in rows) + 1
    g = [[0.0] * d for _ in range(d)]
    for i, j, val in rows:
        g[i][j] = float(val)
        g[j][i] = float(val)
    v = [1.0] * d
    for _ in range(PCA_ITERATIONS):
        w = [sum(g[i][k] * v[k] for k in range(d)) for i in range(d)]
        norm = sum(x * x for x in w) ** 0.5
        if norm == 0.0:
            break
        v = [x / norm for x in w]
    pivot = max(range(d), key=lambda i: (abs(v[i]), -i))
    if v[pivot] < 0:
        v = [-x for x in v]
    yield pd.DataFrame({"i": list(range(d)),
                        "loading": [float(x) for x in v]})


#: kNN classifier: the first KNN_N_QUERIES vectors are the held-out
#: queries; the rest are the labeled corpus they vote from.
KNN_N_QUERIES = 50
KNN_K = 9


def emb_knn_label_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN label classification of held-out embeddings: each of the
    first ``KNN_N_QUERIES`` vectors is classified by majority vote of
    its ``KNN_K`` nearest labeled neighbors (cosine over the quantized
    vectors) — the standard embedding-quality eval (a kNN probe) a
    training-data pipeline runs after producing an embedding table.

    Determinism: cosine is the same integer-dot/round-6 score as
    :func:`ann_cosine_topk` with (cosine desc, vec_id) neighbor
    tie-break; the vote picks (max votes, then smallest label) via a
    single ``max(struct(votes, -label))`` aggregate — no window needed.

    Scale shape: the query side is a constant ``KNN_N_QUERIES``-row
    broadcast against one corpus scan (the deliberate BNLJ of the ANN
    family); the per-query top-k is a rank window over KNN_N_QUERIES
    partitions, and everything after operates on ≤ queries × k rows.
    """
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.expr(_QVEC).alias("qv")
    )
    q = e.filter(F.col("vec_id") < KNN_N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("true_label"),
        F.col("qv").alias("qq"),
    )
    c = e.filter(F.col("vec_id") >= KNN_N_QUERIES)
    pairs = c.crossJoin(F.broadcast(q))
    cos = _int_cosine("qq", "qv")
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id")
    )
    topk = (
        pairs.select("query_id", "true_label", "vec_id", "label",
                     cos.alias("cosine"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= KNN_K)
    )
    votes = topk.groupBy("query_id", "true_label", "label").agg(
        F.count(F.lit(1)).alias("votes")
    )
    best = votes.groupBy("query_id", "true_label").agg(
        F.max(F.struct(
            F.col("votes"),
            (-F.col("label")).alias("neg_label"),
        )).alias("m")
    )
    return best.select(
        "query_id", "true_label",
        (-F.col("m.neg_label")).cast("int").alias("predicted_label"),
        F.col("m.votes").alias("votes"),
        F.when(-F.col("m.neg_label") == F.col("true_label"), 1)
        .otherwise(0).cast("bigint").alias("correct"),
    )


#: Outlier audit: sample size and the neighbor depth of the distance.
OUT_SAMPLE = 100
OUT_K = 5


def emb_outlier_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN-distance outlier audit: for a deterministic sample of
    vectors, the exact integer L2² to the ``OUT_K``-th nearest
    neighbor, flagged against the sample's p95 — the embedding-space
    junk detector (mis-embedded, truncated, or off-distribution rows
    sit far from their 5th neighbor long before any index notices).

    Scale shape: the constant ``OUT_SAMPLE``-row query block broadcasts
    against one corpus scan (the ANN-family BNLJ); per-query rank
    windows are OUT_SAMPLE bounded partitions; the p95 cut is a scalar
    over the 100-row result.  Distances are exact BIGINT sums of
    squared quantized components — no float anywhere until the flag.
    """
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.expr(_QVEC).alias("qv")
    )
    q = e.filter(F.col("vec_id") < OUT_SAMPLE) \
        .withColumnRenamed("vec_id", "query_id") \
        .withColumnRenamed("qv", "qq")
    pairs = e.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
    d2 = F.expr(
        "aggregate(zip_with(qq, qv, (x, y) -> (x - y) * (x - y)), "
        "cast(0 as bigint), (acc, v) -> acc + v)"
    )
    w = Window.partitionBy("query_id").orderBy("d2", "vec_id")
    kth = (
        pairs.select("query_id", "vec_id", d2.alias("d2"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") == OUT_K)
        .select("query_id", F.col("d2").alias("d2_k"))
    )
    cut = kth.agg(
        F.expr("percentile(d2_k, 0.95)").alias("p95")
    )
    return kth.crossJoin(F.broadcast(cut)).select(
        "query_id", "d2_k",
        F.expr("CAST(CAST(d2_k AS DOUBLE) > p95 AS INT)")
        .alias("is_outlier"),
    )


EMB_OUTLIER_ORACLE = f"""
WITH qv AS ({_qv_sql()}),
d2 AS (
  SELECT a.vec_id AS query_id, b.vec_id AS vec_id,
         sum((a.v - b.v) * (a.v - b.v)) AS d2
  FROM qv a JOIN qv b ON a.d = b.d AND a.vec_id <> b.vec_id
  WHERE a.vec_id < {OUT_SAMPLE}
  GROUP BY 1, 2
),
kth AS (
  SELECT query_id, CAST(d2 AS BIGINT) AS d2_k FROM (
    SELECT query_id, d2, row_number() OVER (PARTITION BY query_id
      ORDER BY d2, vec_id) AS rank
    FROM d2
  ) WHERE rank = {OUT_K}
),
cut AS (SELECT quantile_cont(d2_k, 0.95) AS p95 FROM kth)
SELECT query_id, d2_k,
       CAST(CAST(d2_k AS DOUBLE) > p95 AS INT) AS is_outlier
FROM kth CROSS JOIN cut
"""


def emb_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid stability between the even- and odd-id halves
    of the embedding corpus: cosine between the two half-centroids —
    the embedding-drift gate run between pipeline versions or data
    refreshes (a label whose halves disagree flags embedding or
    labeling instability before the index is rebuilt).

    The centroid cosine needs no division by counts — scaling a vector
    doesn't change its angle — so both centroids stay *integer sum
    vectors* of the quantized embeddings and the cosine is one round-6
    double over exact BIGINT dot products.

    Scale shape: one posexplode scan into a (label, dim) aggregate
    (map-side combined, |labels|·|dims| groups) and a |labels|-row
    rollup.  No broadcast, no window, nothing driver-side.
    """
    e = _qdims(load_table(spark, sf_dir, "embeddings"), "vec_id", "label")
    per_dim = e.groupBy("label", "d").agg(
        F.sum(F.when(F.col("vec_id") % 2 == 0, F.col("v"))
              .otherwise(0)).alias("sa"),
        F.sum(F.when(F.col("vec_id") % 2 == 1, F.col("v"))
              .otherwise(0)).alias("sb"),
    )
    counts = load_table(spark, sf_dir, "embeddings").groupBy("label").agg(
        F.sum(F.when(F.col("vec_id") % 2 == 0, 1).otherwise(0))
        .alias("n_even"),
        F.sum(F.when(F.col("vec_id") % 2 == 1, 1).otherwise(0))
        .alias("n_odd"),
    )
    rolled = per_dim.groupBy("label").agg(
        F.sum(F.expr("sa * sb")).alias("dot"),
        F.sum(F.expr("sa * sa")).alias("na"),
        F.sum(F.expr("sb * sb")).alias("nb"),
    )
    return rolled.join(counts, "label").select(
        "label", "n_even", "n_odd",
        F.round(
            F.col("dot").cast("double")
            / (F.sqrt(F.col("na").cast("double"))
               * F.sqrt(F.col("nb").cast("double"))), 6
        ).alias("centroid_cosine"),
    )


CENTROID_DRIFT_ORACLE = f"""
WITH qv AS ({_qv_sql("vec_id, label")}),
per_dim AS (
  SELECT label, d,
         sum(CASE WHEN vec_id % 2 = 0 THEN v ELSE 0 END) AS sa,
         sum(CASE WHEN vec_id % 2 = 1 THEN v ELSE 0 END) AS sb
  FROM qv GROUP BY 1, 2
),
counts AS (
  SELECT label,
         CAST(sum(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_even,
         CAST(sum(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_odd
  FROM embeddings GROUP BY 1
),
rolled AS (
  SELECT label, sum(sa * sb) AS dot, sum(sa * sa) AS na,
         sum(sb * sb) AS nb
  FROM per_dim GROUP BY 1
)
SELECT r.label, c.n_even, c.n_odd,
       round(CAST(dot AS DOUBLE)
             / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))), 6)
         AS centroid_cosine
FROM rolled r JOIN counts c ON r.label = c.label
"""


KNN_LABEL_VOTE_ORACLE = f"""
WITH qv AS ({_qv_sql()}),
labels AS (SELECT vec_id, label FROM embeddings),{_exact_topk_sql(
    "topk", pairs=f"a.vec_id < {KNN_N_QUERIES} AND b.vec_id >= {KNN_N_QUERIES}",
    k=KNN_K)},
votes AS (
  SELECT t.query_id, l.label, count(*) AS votes
  FROM topk t JOIN labels l ON l.vec_id = t.vec_id
  GROUP BY 1, 2
),
best AS (
  SELECT query_id, label AS predicted_label, votes FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
      ORDER BY votes DESC, label) AS r
    FROM votes
  ) WHERE r = 1
)
SELECT b.query_id, ql.label AS true_label,
       CAST(b.predicted_label AS INTEGER) AS predicted_label,
       CAST(b.votes AS BIGINT) AS votes,
       CAST(CASE WHEN b.predicted_label = ql.label THEN 1 ELSE 0 END
            AS BIGINT) AS correct
FROM best b JOIN labels ql ON ql.vec_id = b.query_id
"""


# ---------------------------------------------------------------------------
# Binary sign codes + Hamming-distance search
#
# The 32x-compression scale path: each 64-d float vector collapses to 64
# sign bits (two 32-bit words packed into BIGINTs so no sum ever touches
# the sign bit of a 64-bit word).  At 100 TB the code table is ~16 bytes
# per vector instead of 256 — it broadcasts where the float table cannot,
# the scan is pure integer xor/popcount inside codegen, and Hamming
# distance needs no norms, no division, no floats: the whole search is
# exact integer arithmetic, trivially engine-identical.

#: bit i of the word at ``off`` is set iff embedding[off + i] > 0.
_SIGN_BITS = 64
_SIGN_WORD = 32


def _sign_word_spark(off: int) -> str:
    return (
        f"aggregate(sequence(0, {_SIGN_WORD - 1}), cast(0 as bigint), "
        f"(acc, i) -> acc + IF(cast(element_at(embedding, i + {off + 1}) "
        f"as double) > 0D, shiftleft(cast(1 as bigint), i), "
        f"cast(0 as bigint)))"
    )


def _sign_word_duck(off: int) -> str:
    return (
        f"CAST(list_sum(list_transform(range({_SIGN_WORD}), i -> "
        f"CASE WHEN CAST(embedding[i + {off + 1}] AS DOUBLE) > 0 "
        f"THEN (1::BIGINT << i) ELSE 0::BIGINT END)) AS BIGINT)"
    )


def emb_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k nearest neighbours by Hamming distance over binary sign
    codes — the binary-quantization ANN baseline.

    Plan shape: codes computed in one codegen pass over the scan
    (aggregate over a constant 32-long sequence — no explode); the
    N_QUERIES query codes broadcast; distance is two xor+popcount
    integer ops per candidate; per-query top-k is a rank window over
    N_QUERIES bounded partitions.  Nothing in the hot path leaves the
    JVM or touches a float.
    """
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr(_sign_word_spark(0)).alias("lo"),
        F.expr(_sign_word_spark(_SIGN_WORD)).alias("hi"),
    )
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("lo").alias("qlo"),
        F.col("hi").alias("qhi"),
    )
    pairs = e.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
    ham = F.expr("cast(bit_count(qlo ^ lo) + bit_count(qhi ^ hi) as int)")
    w = Window.partitionBy("query_id").orderBy(
        F.col("hamming").asc(), F.col("vec_id").asc())
    return (
        pairs.select("query_id", "vec_id", ham.alias("hamming"))
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "vec_id", "hamming", "rank")
    )


def ann_hamming_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the Hamming binary-code search vs the exact
    quantized-cosine truth — the number that prices the 32x memory
    saving, measured by the same :func:`_recall_vs_exact` harness as
    the IVF and matryoshka dials."""
    exact = _brute_topk(spark, sf_dir).select("query_id", "vec_id")
    return _recall_vs_exact(
        exact, [(_SIGN_BITS, emb_hamming_topk(spark, sf_dir))], "n_bits")


_HAMMING_CODES_CTE = f"""
codes AS (
  SELECT vec_id,
         {_sign_word_duck(0)} AS lo,
         {_sign_word_duck(_SIGN_WORD)} AS hi
  FROM embeddings
),
hpairs AS (
  SELECT q.vec_id AS query_id, v.vec_id AS vec_id,
         CAST(bit_count(xor(q.lo, v.lo)) + bit_count(xor(q.hi, v.hi))
              AS INT) AS hamming
  FROM codes q JOIN codes v ON v.vec_id <> q.vec_id
  WHERE q.vec_id < {N_QUERIES}
),
htopk AS (
  SELECT query_id, vec_id, hamming, rank FROM (
    SELECT *, CAST(row_number() OVER (PARTITION BY query_id
              ORDER BY hamming, vec_id) AS INT) AS rank
    FROM hpairs
  ) WHERE rank <= {TOP_K}
)"""


EMB_HAMMING_ORACLE = f"""
WITH {_HAMMING_CODES_CTE}
SELECT query_id, vec_id, hamming, rank FROM htopk
"""


ANN_HAMMING_RECALL_ORACLE = (
    f"WITH qv AS ({_qv_sql()}),{_exact_topk_sql('exact_topk')},"
    + _HAMMING_CODES_CTE
    + _recall_sql("exact_topk", [(_SIGN_BITS, "htopk")], "n_bits"))


MMR_POOL = 24   # relevance-ranked candidate window fed to the reranker
MMR_K = 6       # diverse results selected
MMR_LAM = 7     # λ numerator of 10: score = 7·rel − 3·max_sim


def emb_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-Marginal-Relevance rerank (Carbonell & Goldstein 1998):
    from the MMR_POOL most query-relevant vectors, greedily pick MMR_K
    maximizing ``λ·relevance − (1−λ)·max-similarity-to-selected`` — the
    retrieval-side dedup every RAG/eval pipeline runs so the context
    window isn't five near-copies of the same document.

    Query = vec_id 0's embedding; relevance and similarity are both
    quantized-integer dot products, λ = 0.7 applied as the exact
    integer combination ``7·rel − 3·ms`` (common scale 10), ties on
    vec_id — no float anywhere, so selection is engine-independent.

    Scale shape: the ONLY corpus-sized work is the relevance top-pool
    (one broadcast of the query vector + one TakeOrdered); the greedy
    loop runs on the constant-size pool (broadcast joins over ≤24
    rows), exactly how a reranker sits behind an ANN index at 100 TB —
    index narrows, reranker never touches the corpus again.
    """
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.expr(_QVEC).alias("qv"))
    qvec = e.filter(F.col("vec_id") == 0) \
        .select(F.col("qv").alias("kv"))
    dot_rel = _int_dot("qv", "kv")
    pool = (
        e.filter(F.col("vec_id") > 0)
        .crossJoin(F.broadcast(qvec))
        .select("vec_id", "qv", dot_rel.alias("rel"))
        .orderBy(F.col("rel").desc(), "vec_id").limit(MMR_POOL)
        .transform(cut_lineage, eager=True)
    )
    dot_sim = _int_dot("qv", "cv")
    best = F.max(F.struct("score", (-F.col("vec_id")).alias("nid"),
                          "rel", "ms")).alias("m")
    pick_cols = [(-F.col("m.nid")).cast("bigint").alias("vec_id"),
                 F.col("m.rel").alias("rel"), F.col("m.ms").alias("ms"),
                 F.col("m.score").alias("mmr_score")]
    seed = pool.select(
        "vec_id", "rel", F.lit(0).cast("bigint").alias("ms"),
        (MMR_LAM * F.col("rel")).alias("score"),
    ).agg(best).select(F.lit(0).alias("sel_order"), *pick_cols)
    picked_rows = [seed]
    sel = seed.select("vec_id")
    rem = pool
    for i in range(1, MMR_K):
        newest = rem.join(
            F.broadcast(picked_rows[-1].select("vec_id")), "vec_id"
        ).select(F.col("vec_id").alias("cid"), F.col("qv").alias("cv"))
        rem = (
            rem.join(F.broadcast(sel.select(
                F.col("vec_id").alias("cid"))), F.col("vec_id") == F.col("cid"),
                "left_anti")
            .crossJoin(F.broadcast(newest.drop("cid")))
            .select("vec_id", "qv", "rel",
                    (F.greatest(F.col("ms"), dot_sim) if i > 1
                     else dot_sim).alias("ms"))
            .transform(cut_lineage)
        )
        pick = rem.select(
            "vec_id", "rel", "ms",
            (MMR_LAM * F.col("rel") - (10 - MMR_LAM) * F.col("ms"))
            .alias("score"),
        ).agg(best).select(F.lit(i).alias("sel_order"), *pick_cols)
        picked_rows.append(pick)
        sel = sel.unionByName(pick.select("vec_id"))
    out = picked_rows[0]
    for p in picked_rows[1:]:
        out = out.unionByName(p)
    return out


def _mmr_oracle() -> str:
    head = f"""
WITH dims AS MATERIALIZED ({_qv_sql()}),
pool AS MATERIALIZED (
  SELECT vec_id, rel FROM (
    SELECT a.vec_id, sum(a.v * q.v) AS rel,
           row_number() OVER (ORDER BY sum(a.v * q.v) DESC, a.vec_id) AS r
    FROM dims a JOIN dims q ON q.vec_id = 0 AND q.d = a.d
    WHERE a.vec_id > 0
    GROUP BY a.vec_id
  ) WHERE r <= {MMR_POOL}
),
pairdot AS MATERIALIZED (
  SELECT a.vec_id AS i, b.vec_id AS j, sum(da.v * db.v) AS dot
  FROM pool a JOIN pool b ON a.vec_id <> b.vec_id
  JOIN dims da ON da.vec_id = a.vec_id
  JOIN dims db ON db.vec_id = b.vec_id AND db.d = da.d
  GROUP BY 1, 2
),
s0 AS (
  SELECT vec_id, rel, CAST(0 AS BIGINT) AS ms,
         {MMR_LAM} * rel AS score
  FROM pool ORDER BY rel DESC, vec_id LIMIT 1
)"""
    parts = [head]
    prev_sel = "s0"
    sels = ["s0"]
    for i in range(1, MMR_K):
        in_sel = " UNION ALL ".join(
            f"SELECT vec_id FROM {s}" for s in sels)
        parts.append(f""",
m{i} AS (
  SELECT p.vec_id, p.rel,
         max(d.dot) AS ms
  FROM pool p
  JOIN pairdot d ON d.i = p.vec_id
                AND d.j IN (SELECT vec_id FROM ({in_sel}))
  WHERE p.vec_id NOT IN (SELECT vec_id FROM ({in_sel}))
  GROUP BY 1, 2
),
s{i} AS (
  SELECT vec_id, rel, ms,
         {MMR_LAM} * rel - {10 - MMR_LAM} * ms AS score
  FROM m{i}
  ORDER BY {MMR_LAM} * rel - {10 - MMR_LAM} * ms DESC, vec_id
  LIMIT 1
)""")
        prev_sel = f"s{i}"
        sels.append(prev_sel)
    tail = "\nUNION ALL\n".join(
        f"SELECT CAST({i} AS INT) AS sel_order, vec_id, rel, ms, "
        f"CAST(score AS BIGINT) AS mmr_score FROM s{i}"
        for i in range(MMR_K))
    return "".join(parts) + "\n" + tail


#: Johnson-Lindenstrauss check: number of signed (Achlioptas ±1)
#: projections and the pair-sampling stride.
K_JL = 16
JL_PAIR_STEP = 10


def emb_rp_distance_preserve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss distance preservation audit: project the
    64-d quantized embeddings onto ``K_JL`` deterministic ±1 hyperplanes
    (a database-friendly Achlioptas random projection) and report, for a
    deterministic sample of vector pairs, the squared distance before
    and after projection plus the integer-milli ratio
    ``proj_d2 / (K_JL · orig_d2)`` — expected ≈ 1.0 by the JL lemma.
    This is the go/no-go check before swapping full vectors for cheap
    projections in a 100 TB dedup/ANN pass.

    Scale: the projections are K_JL parallel aggregate expressions over
    one pass of the exploded dims (no dims × planes row explosion);
    the pair sample is stride-based so the audit's join carries
    ``n_vectors / JL_PAIR_STEP`` rows regardless of corpus size.  All
    arithmetic is integer (quantized components, integer projections,
    integer div) — exact in both engines.
    """
    dims = _qdims(load_table(spark, sf_dir, "embeddings"), "vec_id").where(
        (F.col("vec_id") % JL_PAIR_STEP == 0)
        | (F.col("vec_id") % JL_PAIR_STEP == 1)
    )
    da = dims.where(F.col("vec_id") % JL_PAIR_STEP == 0).select(
        F.col("vec_id").alias("a_id"), "d", F.col("v").alias("va"))
    db = dims.where(F.col("vec_id") % JL_PAIR_STEP == 1).select(
        F.col("vec_id").alias("b_id"), "d", F.col("v").alias("vb"))
    diff = F.col("va") - F.col("vb")
    orig = (
        da.join(db, (db.b_id == da.a_id + 1) & (da.d == db.d))
        .groupBy("a_id", "b_id")
        .agg(F.sum(diff * diff).alias("orig_d2"))
    )
    # The ``jl:`` prefix keeps the JL planes independent of the LSH ones.
    proj = _projections(dims, K_JL, "jl:")
    pa = proj.where(F.col("vec_id") % JL_PAIR_STEP == 0).select(
        F.col("vec_id").alias("a_id"),
        *[F.col(f"proj{p}").alias(f"pa{p}") for p in range(K_JL)])
    pb = proj.where(F.col("vec_id") % JL_PAIR_STEP == 1).select(
        F.col("vec_id").alias("b_id"),
        *[F.col(f"proj{p}").alias(f"pb{p}") for p in range(K_JL)])
    proj_d2 = sum(
        ((F.col(f"pa{p}") - F.col(f"pb{p}"))
         * (F.col(f"pa{p}") - F.col(f"pb{p}"))).cast("long")
        for p in range(K_JL)
    )
    pd2 = (
        pa.join(pb, F.col("b_id") == F.col("a_id") + 1)
        .select("a_id", proj_d2.alias("proj_d2"))
    )
    return (
        orig.join(pd2, "a_id")
        .where(F.col("orig_d2") > 0)
        .select(
            "a_id", "b_id", "orig_d2", "proj_d2",
            F.expr(f"(1000 * proj_d2) div ({K_JL} * orig_d2)")
            .alias("ratio_milli"),
        )
    )


def _jl_oracle() -> str:
    return f"""
WITH qv AS ({_qv_sql(d0=True)}
            WHERE vec_id % {JL_PAIR_STEP} IN (0, 1)),
orig AS (
  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         sum((a.v - b.v) * (a.v - b.v)) AS orig_d2
  FROM qv a JOIN qv b ON b.vec_id = a.vec_id + 1 AND a.d = b.d
  WHERE a.vec_id % {JL_PAIR_STEP} = 0
  GROUP BY 1, 2
),
proj AS ({_proj_sql(K_JL, "jl:")}),
pd AS (
  SELECT a.vec_id AS a_id,
         sum((a.proj - b.proj) * (a.proj - b.proj)) AS proj_d2
  FROM proj a JOIN proj b ON b.vec_id = a.vec_id + 1 AND a.p = b.p
  WHERE a.vec_id % {JL_PAIR_STEP} = 0
  GROUP BY 1
)
SELECT o.a_id, o.b_id, CAST(o.orig_d2 AS BIGINT) AS orig_d2,
       CAST(p.proj_d2 AS BIGINT) AS proj_d2,
       (1000 * CAST(p.proj_d2 AS BIGINT))
       // ({K_JL} * CAST(o.orig_d2 AS BIGINT)) AS ratio_milli
FROM orig o JOIN pd p USING (a_id)
WHERE o.orig_d2 > 0
"""


JL_PRESERVE_ORACLE = _jl_oracle()


SPECS: dict[str, QuerySpec] = {
    "emb_rp_distance_preserve": QuerySpec(emb_rp_distance_preserve,
                                          JL_PRESERVE_ORACLE),
    "ann_cosine_topk": QuerySpec(ann_cosine_topk, ANN_TOPK_ORACLE),
    "emb_gram_matrix": QuerySpec(emb_gram_matrix, EMB_GRAM_ORACLE),
    "emb_pca_top_component": QuerySpec(emb_pca_top_component, None),
    "emb_knn_label_vote": QuerySpec(emb_knn_label_vote,
                                    KNN_LABEL_VOTE_ORACLE),
    "emb_centroid_drift": QuerySpec(emb_centroid_drift,
                                    CENTROID_DRIFT_ORACLE),
    "emb_outlier_knn": QuerySpec(emb_outlier_knn, EMB_OUTLIER_ORACLE),
    "emb_norm_stats": QuerySpec(emb_norm_stats, EMB_NORM_ORACLE),
    "ann_ivf_topk": QuerySpec(ann_ivf_topk, ANN_IVF_ORACLE),
    "ann_ivf_probe2_topk": QuerySpec(ann_ivf_probe2_topk,
                                     ANN_IVF_PROBE2_ORACLE),
    "ann_ivf_recall": QuerySpec(ann_ivf_recall, ANN_IVF_RECALL_ORACLE),
    "ann_lsh_buckets": QuerySpec(ann_lsh_buckets, ANN_LSH_ORACLE),
    "ann_bucket_stats": QuerySpec(ann_bucket_stats, ANN_BUCKET_STATS_ORACLE),
    "emb_label_centroid_dot": QuerySpec(emb_label_centroid_dot,
                                        EMB_CENTROID_ORACLE),
    "cluster_kmeans_embeddings": QuerySpec(cluster_kmeans_embeddings,
                                           CLUSTER_KMEANS_ORACLE),
    "emb_cluster_margin": QuerySpec(emb_cluster_margin,
                                    CLUSTER_MARGIN_ORACLE),
    "emb_cluster_ari": QuerySpec(emb_cluster_ari, CLUSTER_ARI_ORACLE),
    "dedup_semantic": QuerySpec(dedup_semantic, DEDUP_SEMANTIC_ORACLE),
    "emb_matryoshka_recall": QuerySpec(emb_matryoshka_recall,
                                       EMB_MATRYOSHKA_ORACLE),
    "hybrid_search_rerank": QuerySpec(hybrid_search_rerank,
                                      _hybrid_oracle()),
    "hybrid_search_rrf": QuerySpec(hybrid_search_rrf,
                                   _hybrid_rrf_oracle()),
    "rank_ndcg_eval": QuerySpec(rank_ndcg_eval, _ndcg_oracle()),
    "rank_mrr_eval": QuerySpec(rank_mrr_eval, _mrr_oracle()),
    "emb_silhouette_simplified": QuerySpec(emb_silhouette_simplified,
                                           SILHOUETTE_ORACLE),
    "rank_map_eval": QuerySpec(rank_map_eval, _map_oracle()),
    "rank_rbo_eval": QuerySpec(rank_rbo_eval, _rbo_oracle()),
    "rank_kendall_tau": QuerySpec(rank_kendall_tau, _kendall_oracle()),
    "rank_pr_at_k": QuerySpec(rank_pr_at_k, _pr_at_k_oracle()),
    "emb_pq_codes": QuerySpec(emb_pq_codes, EMB_PQ_CODES_ORACLE),
    "ann_pq_adc_topk": QuerySpec(ann_pq_adc_topk, ANN_PQ_ADC_ORACLE),
    "ann_ivfpq_topk": QuerySpec(ann_ivfpq_topk, ANN_IVFPQ_ORACLE),
    "ann_pq_recall": QuerySpec(ann_pq_recall, ANN_PQ_RECALL_ORACLE),
    "emb_coreset_maxmin": QuerySpec(emb_coreset_maxmin, _coreset_oracle()),
    "emb_hamming_topk": QuerySpec(emb_hamming_topk, EMB_HAMMING_ORACLE),
    "ann_hamming_recall": QuerySpec(ann_hamming_recall,
                                    ANN_HAMMING_RECALL_ORACLE),
    "emb_mmr_rerank": QuerySpec(emb_mmr_rerank, _mmr_oracle()),
}
