"""Corpus-curation operators: the steps between "cleaned documents" and
"training batches" in a 100 TB pretraining pipeline.

Five operators, each a pure DataFrame plan with a DuckDB oracle:

- ``split_train_holdout`` — deterministic hash split (train/val/test).
  The split must be a *function of the document*, never of partitioning
  or arrival order, so re-runs and backfills land every doc in the same
  split (no eval leakage when the corpus is re-sharded).
- ``split_balance`` — per-(split, source) occupancy: the stratification
  audit run after every split change.
- ``pack_sequences`` — concat-and-split sequence packing: documents are
  concatenated in deterministic order and cut into fixed token-budget
  packs (the standard GPT-style pretraining layout).  Packing is done
  per (source, shard) where shard is a hash bucket: a window over a
  low-cardinality ``source`` alone would sort whole sources in single
  tasks at 100 TB, exactly the skew the KMV fix removed; 256 shards
  per source restore embarrassing parallelism and bound every sort.
- ``dedup_keep_best`` — canonical-document selection inside exact-dup
  groups: rank by quality (desc) with doc_id as the tie-break, keep the
  winner.  Composes ``doc_fingerprint`` grouping with the
  ``doc_quality_score`` expression — one shuffle on the fingerprint.
- ``token_bigram_pmi`` — collocation mining: pointwise mutual
  information of adjacent token pairs, min-support filtered, top-50.
  Corpus totals attach via one-row cross joins (lazy, no eager count —
  the doc_salient_terms lesson) and unigram counts broadcast to the
  bigram side (vocab is small; the fact table never re-shuffles).

Plus ``emb_int8_quantize`` — max-abs int8 quantization of embeddings
(the storage/bandwidth step before ANN serving).  All-integer outputs
except the scale, so hashes are exact; the quantized vector is emitted
as a comma-joined string (driver canonicalizers cannot hash arrays —
the agg_collect_sorted lesson).

Reference: the reference engine has no corpus layer (it is a contacts
ETL worker); these extend SURVEY.md §2's scale block alongside
operators/dedup.py and operators/text.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.hashing import hash64, hash64_sql
from ..functions.text import (
    STOPWORDS,
    bpe_token_count,
    fingerprint,
    marker_count,
    ws_token_count,
)
from ..spec import QuerySpec
from ..tables import load_table
from .text import (
    _BUCKET_SQL,
    _NORM_SQL,
    _TOKENS_SQL,
    _WS_COUNT_SQL,
    _bucket_sql,
    _floor4,
    _floor6,
    _marker_sql,
    _split_bucket,
    _split_label,
    _split_label_sql,
)


# ---------------------------------------------------------------------------
# Deterministic train/holdout split
# ---------------------------------------------------------------------------

# The split rule itself (salt, cuts, bucket expression and its DuckDB
# mirror) lives in operators/text.py, whose held-out LM oracles need it
# at import time.


def _split_of(doc_id: F.Column) -> F.Column:
    """train/val/test label as a pure expression over any doc_id column."""
    return _split_label(_split_bucket(doc_id))


def split_train_holdout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assign every document to train/val/test by content-independent hash.

    bucket = hash64(salt || doc_id) mod 100; 96/2/2 split.  Pure
    per-row expression — no shuffle, no state, stable under re-sharding
    and backfill (the property that prevents eval-set leakage).
    """
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id", "source",
        _split_bucket(F.col("doc_id")).cast("int").alias("bucket"),
        _split_of(F.col("doc_id")).alias("split"),
    )


SPLIT_ORACLE = f"""
SELECT doc_id, source,
       {_BUCKET_SQL} AS bucket,
       {_split_label_sql(_BUCKET_SQL)} AS split
FROM documents
"""


#: k-fold CV: fold count and the salt namespacing the fold hash away
#: from the train/val/test split hash (same leakage-safety argument).
KFOLD_K = 5
_KFOLD_SALT = "kfold:v1:"


def split_kfold_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-fold cross-validation assignment: fold =
    hash64(salt || doc_id) mod K — the CV companion to
    :func:`split_train_holdout` with the same stability property (a
    document's fold never changes under re-sharding or backfill, so
    fold models never train on their own eval data across reruns).

    Pure per-row expression, no shuffle; the fold distribution check
    rides :func:`split_balance`'s pattern downstream.
    """
    d = load_table(spark, sf_dir, "documents")
    fold = F.pmod(
        hash64(F.concat(F.lit(_KFOLD_SALT), F.col("doc_id").cast("string"))),
        F.lit(KFOLD_K),
    )
    return d.select("doc_id", "source",
                    fold.cast("int").alias("fold"))


_KFOLD_EXPR = f"'{_KFOLD_SALT}' || CAST(doc_id AS VARCHAR)"

KFOLD_ORACLE = f"""
SELECT doc_id, source,
       CAST({hash64_sql(_KFOLD_EXPR)} % {KFOLD_K} AS INT) AS fold
FROM documents
"""


def split_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratification audit: doc count per (split, source) and its share
    of the split.  Two shrinking aggregations — the second input is
    |splits|×|sources| rows, so the window is trivially small."""
    assigned = split_train_holdout(spark, sf_dir)
    counts = assigned.groupBy("split", "source").agg(
        F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("split")
    return counts.select(
        "split", "source", "n",
        _floor4(F.col("n").cast("double") / F.sum("n").over(w)).alias("share"),
    )


SPLIT_BALANCE_ORACLE = f"""
WITH assigned AS ({SPLIT_ORACLE}),
counts AS (
  SELECT split, source, CAST(count(*) AS BIGINT) AS n
  FROM assigned GROUP BY 1, 2
)
SELECT split, source, n,
       floor((CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY split))
             * 10000.0) / 10000.0 AS share
FROM counts
"""


# ---------------------------------------------------------------------------
# Sequence packing (concat-and-split)
# ---------------------------------------------------------------------------

PACK_BUDGET = 2048   #: tokens per pack
PACK_SHARDS = 256    #: hash shards per source — bounds every packing sort


def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-split packing: deterministic doc order within a
    (source, shard), exclusive running token total, pack = total DIV
    budget, offset = total MOD budget.

    A document may straddle a pack boundary — that is the *definition*
    of concat-and-split pretraining layout (the trainer cuts mid-doc),
    not an approximation.  The shard key bounds each window sort to
    ~1/256 of a source: at 100 TB no single task ever sorts a whole
    source (window-over-low-cardinality-key is the same trap the KMV
    sketch fix removed).
    """
    d = load_table(spark, sf_dir, "documents")
    shard = F.pmod(hash64(F.concat(F.lit("pack:"),
                                   F.col("doc_id").cast("string"))),
                   F.lit(PACK_SHARDS))
    n_tok = bpe_token_count(F.col("text"))
    base = d.select(
        "doc_id", "source",
        shard.cast("int").alias("shard"),
        n_tok.cast("long").alias("n_tok"),
    )
    w = (Window.partitionBy("source", "shard").orderBy("doc_id")
         .rowsBetween(Window.unboundedPreceding, -1))
    cum = F.coalesce(F.sum("n_tok").over(w), F.lit(0))
    return base.select(
        "doc_id", "source", "shard", "n_tok",
        (cum / PACK_BUDGET).cast("long").alias("pack_id"),
        (cum % PACK_BUDGET).cast("long").alias("pack_offset"),
    )


def _bpe_sql() -> str:
    # operators/text.py pins BPE_REGEX; re-render here to avoid an import
    # cycle on module constants.
    from ..functions.text import BPE_REGEX
    return f"CAST(len(regexp_extract_all(text, '{BPE_REGEX}')) AS BIGINT)"


PACK_ORACLE_TEMPLATE = """
WITH base AS (
  SELECT doc_id, source,
         CAST({bucket} % {shards} AS INT) AS shard,
         {ntok} AS n_tok
  FROM documents
),
cum AS (
  SELECT *,
         coalesce(sum(n_tok) OVER (
           PARTITION BY source, shard ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS c
  FROM base
)
SELECT doc_id, source, shard, n_tok,
       CAST(c // {budget} AS BIGINT) AS pack_id,
       CAST(c % {budget} AS BIGINT) AS pack_offset
FROM cum
"""


# ---------------------------------------------------------------------------
# Canonical-document selection in duplicate groups
# ---------------------------------------------------------------------------

def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within each exact-fingerprint group keep the best-quality doc.

    Ranking: quality desc (the doc_quality_score expression, floored to
    4 decimals so cross-engine ordering has no float ties), then doc_id
    asc as the total-order tie-break.  One shuffle, on the fingerprint;
    partial aggregation does not apply to the rank window but the group
    sizes are duplicate-cluster-sized (tiny), so no skew risk.
    """
    d = load_table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    n_tok = ws_token_count(F.col("text"))
    stop = marker_count(F.col("text"), STOPWORDS)
    alpha = F.length(F.regexp_replace("text", r"[^A-Za-z]", ""))
    quality = _floor4(
        (stop.cast("double") / n_tok) * 0.4
        + (alpha.cast("double") / F.length("text")) * 0.3
        + F.least(F.lit(1.0), n_tok.cast("double") / 100.0) * 0.3
    )
    scored = d.select(
        "doc_id",
        fingerprint(F.col("text")).alias("fp"),
        quality.alias("quality"),
    )
    w = Window.partitionBy("fp")
    rank = F.row_number().over(
        w.orderBy(F.desc("quality"), F.asc("doc_id")))
    return scored.select(
        "doc_id", "fp", "quality",
        F.count(F.lit(1)).over(w).alias("group_size"),
        (rank == 1).alias("kept"),
    )


KEEP_BEST_ORACLE = f"""
WITH scored AS (
  SELECT doc_id,
         md5({_NORM_SQL}) AS fp,
         floor(((CAST({_marker_sql(STOPWORDS)} AS DOUBLE) / {_WS_COUNT_SQL}) * 0.4
                + (CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
                   / length(text)) * 0.3
                + least(1.0, CAST({_WS_COUNT_SQL} AS DOUBLE) / 100.0) * 0.3)
               * 10000.0) / 10000.0 AS quality
  FROM documents WHERE length(text) > 0
)
SELECT doc_id, fp, quality,
       CAST(count(*) OVER (PARTITION BY fp) AS BIGINT) AS group_size,
       (row_number() OVER (PARTITION BY fp ORDER BY quality DESC, doc_id ASC)
        = 1) AS kept
FROM scored
"""


# ---------------------------------------------------------------------------
# Bigram PMI collocations
# ---------------------------------------------------------------------------

PMI_MIN_COUNT = 5
PMI_TOP_K = 50


def token_bigram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 adjacent-token collocations by pointwise mutual information.

    PMI(a,b) = ln( p(ab) / (p(a) p(b)) ) with p from corpus unigram /
    bigram totals.  The double-arithmetic tree is written identically in
    Spark and the oracle (same association order), then floored to 4
    decimals before the rank so ordering is engine-stable.

    Scale shape: explode → two shrinking hash aggregations (token and
    bigram counts, both partial-agg friendly); corpus totals attach as
    one-row cross joins (lazy scalar subqueries, no eager action); the
    unigram side is vocabulary-sized and broadcasts.  The final rank
    window runs over ≤ the min-support survivors, a tiny relation.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        F.expr(
            "CASE WHEN length(trim(lower(text))) = 0 "
            "THEN cast(array() as array<string>) "
            "ELSE split(trim(lower(text)), '\\\\s+') END"
        ).alias("t"))
    uni = (toks.select(F.explode("t").alias("tok"))
           .groupBy("tok").agg(F.count(F.lit(1)).alias("c_uni")))
    big = (toks.select(F.explode(F.expr(
        "transform(slice(t, 1, size(t) - 1), (x, i) -> "
        "concat(x, ' ', t[i + 1]))")).alias("bigram"))
        .groupBy("bigram").agg(F.count(F.lit(1)).alias("c_bi"))
        .filter(F.col("c_bi") >= PMI_MIN_COUNT))
    n_uni = uni.agg(F.sum("c_uni").alias("n_uni"))
    n_bi_tot = (toks.select(
        F.greatest(F.size("t") - 1, F.lit(0)).alias("nb"))
        .agg(F.sum("nb").alias("n_bi")))
    parts = F.split("bigram", " ")
    scored = (
        big.withColumn("w1", parts.getItem(0))
        .withColumn("w2", parts.getItem(1))
        .join(F.broadcast(uni.withColumnRenamed("tok", "w1")
                          .withColumnRenamed("c_uni", "c1")), "w1")
        .join(F.broadcast(uni.withColumnRenamed("tok", "w2")
                          .withColumnRenamed("c_uni", "c2")), "w2")
        .crossJoin(F.broadcast(n_uni))
        .crossJoin(F.broadcast(n_bi_tot))
    )
    pmi = _floor4(F.log(
        ((F.col("c_bi").cast("double") * F.col("n_uni")) / F.col("n_bi"))
        * ((F.col("n_uni").cast("double") / F.col("c1")) / F.col("c2"))
    ))
    ranked = scored.select(
        "bigram", "c_bi", pmi.alias("pmi"),
    ).withColumn(
        "r", F.row_number().over(
            Window.orderBy(F.desc("pmi"), F.asc("bigram"))))
    return ranked.filter(F.col("r") <= PMI_TOP_K).select(
        "bigram", "c_bi", "pmi", F.col("r").cast("int").alias("r"))


PMI_ORACLE = f"""
WITH toks AS (
  SELECT {_TOKENS_SQL} AS t FROM documents
),
uni AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS c_uni
  FROM (SELECT unnest(t) AS tok FROM toks) GROUP BY 1
),
big AS (
  SELECT bigram, CAST(count(*) AS BIGINT) AS c_bi
  FROM (SELECT unnest(list_transform(range(1, len(t)),
                                     i -> t[i] || ' ' || t[i + 1])) AS bigram
        FROM toks)
  GROUP BY 1 HAVING count(*) >= {PMI_MIN_COUNT}
),
tot AS (
  SELECT (SELECT sum(c_uni) FROM uni) AS n_uni,
         (SELECT sum(greatest(len(t) - 1, 0)) FROM toks) AS n_bi
),
scored AS (
  SELECT b.bigram, b.c_bi,
         floor(ln(((CAST(b.c_bi AS DOUBLE) * t.n_uni) / t.n_bi)
                  * ((CAST(t.n_uni AS DOUBLE) / u1.c_uni) / u2.c_uni))
               * 10000.0) / 10000.0 AS pmi
  FROM big b
  JOIN uni u1 ON u1.tok = string_split(b.bigram, ' ')[1]
  JOIN uni u2 ON u2.tok = string_split(b.bigram, ' ')[2]
  CROSS JOIN tot t
)
SELECT bigram, c_bi, pmi, CAST(r AS INT) AS r
FROM (SELECT *, row_number() OVER (ORDER BY pmi DESC, bigram ASC) AS r
      FROM scored)
WHERE r <= {PMI_TOP_K}
"""


#: Co-occurrence context width for the windowed PMI (ordered pairs
#: (t_i, t_j) with 0 < j − i <= W — the skip-gram context shape).
PMI_WINDOW = 3


def token_window_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 windowed co-occurrence collocations by PMI — the
    skip-gram-context statistic behind word2vec/GloVe co-occurrence
    matrices, next to :func:`token_bigram_pmi`'s adjacent-only twin:
    pairs are ORDERED (first token before second) within a
    ``PMI_WINDOW``-token context, so "data ... pipeline" counts at
    gaps 1..3 and long-range collocations surface that the bigram
    misses.

    Exactness: integer pair/unigram counts; the per-document pair
    total has the closed form Σ_{k=1..L−1} min(W, k) (no second scan
    of the exploded pairs); the PMI double tree is written with the
    SAME association order in both engines and floored to 4 decimals
    before the rank (the bigram twin's convention).

    Scale shape: one explode of tokens × ≤W gaps (bounded fan-out),
    two shrinking hash aggregations, one-row totals as broadcast
    scalars, rank window over the min-support survivors only.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        F.expr(
            "CASE WHEN length(trim(lower(text))) = 0 "
            "THEN cast(array() as array<string>) "
            "ELSE split(trim(lower(text)), '\\\\s+') END"
        ).alias("t"))
    uni = (toks.select(F.explode("t").alias("tok"))
           .groupBy("tok").agg(F.count(F.lit(1)).alias("c_uni")))
    pair_expr = (
        "flatten(transform(slice(t, 1, size(t) - 1), (x, i) -> "
        f"transform(sequence(1, least({PMI_WINDOW}, size(t) - i - 1)), "
        "g -> concat(x, ' ', t[i + g]))))"
    )
    pairs = (toks.select(F.explode(F.expr(pair_expr)).alias("pair"))
             .groupBy("pair").agg(F.count(F.lit(1)).alias("c_p"))
             .filter(F.col("c_p") >= PMI_MIN_COUNT))
    n_uni = uni.agg(F.sum("c_uni").alias("n_uni"))
    w = PMI_WINDOW
    per_doc = (
        f"CASE WHEN size(t) - 1 <= {w} "
        f"THEN (size(t) - 1) * size(t) div 2 "
        f"ELSE {w * (w + 1) // 2} + (size(t) - 1 - {w}) * {w} END"
    )
    n_pairs = toks.select(
        F.greatest(F.expr(per_doc), F.lit(0)).alias("np")
    ).agg(F.sum("np").alias("n_p"))
    parts = F.split("pair", " ")
    scored = (
        pairs.withColumn("w1", parts.getItem(0))
        .withColumn("w2", parts.getItem(1))
        .join(F.broadcast(uni.withColumnRenamed("tok", "w1")
                          .withColumnRenamed("c_uni", "c1")), "w1")
        .join(F.broadcast(uni.withColumnRenamed("tok", "w2")
                          .withColumnRenamed("c_uni", "c2")), "w2")
        .crossJoin(F.broadcast(n_uni))
        .crossJoin(F.broadcast(n_pairs))
    )
    pmi = _floor4(F.log(
        ((F.col("c_p").cast("double") * F.col("n_uni")) / F.col("n_p"))
        * ((F.col("n_uni").cast("double") / F.col("c1")) / F.col("c2"))
    ))
    ranked = scored.select(
        "pair", "c_p", pmi.alias("pmi"),
    ).withColumn(
        "r", F.row_number().over(
            Window.orderBy(F.desc("pmi"), F.asc("pair"))))
    return ranked.filter(F.col("r") <= PMI_TOP_K).select(
        "pair", "c_p", "pmi", F.col("r").cast("int").alias("r"))


WINDOW_PMI_ORACLE = f"""
WITH toks AS (
  SELECT {_TOKENS_SQL} AS t FROM documents
),
uni AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS c_uni
  FROM (SELECT unnest(t) AS tok FROM toks) GROUP BY 1
),
pr AS (
  SELECT pair, CAST(count(*) AS BIGINT) AS c_p
  FROM (SELECT unnest(flatten(list_transform(range(1, len(t)),
                i -> list_transform(range(1, least({PMI_WINDOW},
                                                   len(t) - i) + 1),
                                    g -> t[i] || ' ' || t[i + g]))))
               AS pair
        FROM toks)
  GROUP BY 1 HAVING count(*) >= {PMI_MIN_COUNT}
),
tot AS (
  SELECT (SELECT sum(c_uni) FROM uni) AS n_uni,
         (SELECT sum(greatest(CASE WHEN len(t) - 1 <= {PMI_WINDOW}
                  THEN (len(t) - 1) * len(t) // 2
                  ELSE {PMI_WINDOW * (PMI_WINDOW + 1) // 2}
                       + (len(t) - 1 - {PMI_WINDOW}) * {PMI_WINDOW} END,
                  0))
          FROM toks) AS n_p
),
scored AS (
  SELECT p.pair, p.c_p,
         floor(ln(((CAST(p.c_p AS DOUBLE) * t.n_uni) / t.n_p)
                  * ((CAST(t.n_uni AS DOUBLE) / u1.c_uni) / u2.c_uni))
               * 10000.0) / 10000.0 AS pmi
  FROM pr p
  JOIN uni u1 ON u1.tok = string_split(p.pair, ' ')[1]
  JOIN uni u2 ON u2.tok = string_split(p.pair, ' ')[2]
  CROSS JOIN tot t
)
SELECT pair, c_p, pmi, CAST(r AS INT) AS r
FROM (SELECT *, row_number() OVER (ORDER BY pmi DESC, pair ASC) AS r
      FROM scored)
WHERE r <= {PMI_TOP_K}
"""


# ---------------------------------------------------------------------------
# Embedding int8 quantization
# ---------------------------------------------------------------------------

def emb_int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Max-abs int8 quantization of each embedding vector.

    q_i = floor(x_i * 127 / scale + 0.5) — floor-based half-up rounding
    because round() on doubles is not engine-stable at exact halves
    (the _floor4 lesson applies to rounding too).  Outputs are exact
    integers (joined as a string: array outputs are not hashable by the
    driver canonicalizer) plus the floored scale; the integer L1 norm
    replaces a float reconstruction error so no float summation order
    can diverge.
    """
    e = load_table(spark, sf_dir, "embeddings")
    dv = F.expr("transform(embedding, x -> cast(x as double))")
    scale = F.greatest(F.array_max(F.expr(
        "transform(embedding, x -> abs(cast(x as double)))")),
        F.lit(1e-12))
    q = F.transform(dv, lambda x: F.floor(x * 127.0 / scale + 0.5)
                    .cast("int"))
    return e.select(
        "vec_id",
        _floor6(scale).alias("scale"),
        F.concat_ws(",", F.transform(q, lambda x: x.cast("string")))
        .alias("q_vec"),
        F.aggregate(q, F.lit(0).cast("bigint"),
                    lambda acc, x: acc + F.abs(x)).alias("q_l1"),
        F.array_max(F.transform(q, F.abs)).cast("int").alias("q_max"),
    )


QUANTIZE_ORACLE = """
WITH s AS (
  SELECT vec_id, embedding,
         greatest(list_max(list_transform(embedding,
                                          x -> abs(CAST(x AS DOUBLE)))),
                  1e-12) AS scale
  FROM embeddings
),
q AS (
  SELECT vec_id, scale,
         list_transform(embedding,
                        x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 / scale
                                        + 0.5) AS INT)) AS qv
  FROM s
)
SELECT vec_id,
       floor(scale * 1000000.0) / 1000000.0 AS scale,
       array_to_string(qv, ',') AS q_vec,
       CAST(list_sum(list_transform(qv, x -> abs(x))) AS BIGINT) AS q_l1,
       CAST(list_max(list_transform(qv, x -> abs(x))) AS INT) AS q_max
FROM q
"""


def _pack_oracle() -> str:
    bucket = hash64_sql("'pack:' || CAST(doc_id AS VARCHAR)")
    return PACK_ORACLE_TEMPLATE.format(
        bucket=bucket, shards=PACK_SHARDS, ntok=_bpe_sql(),
        budget=PACK_BUDGET)


def pack_efficiency_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What PACK_SHARDS costs in tail waste — the efficiency audit of
    :func:`pack_sequences`'s concat-and-split layout.  Within a stream
    (one (source, shard) concatenation) there is no padding by
    construction; waste exists ONLY at each stream's tail (the last
    pack is part-filled).  More shards = more parallel sort streams =
    more tails: this report prices that dial per source —
    ``packs_used = Σ_streams ⌈stream_tokens/budget⌉`` vs the
    single-stream ideal ``⌈total_tokens/budget⌉``, and
    ``waste_ppm = 1e6·(packs_used·budget − total)/(packs_used·budget)``
    — the fraction of trained-token slots that would be padding.

    Exactness: ceilings are ``(x + budget − 1) div budget`` integer
    divisions; everything else is integer sums.  Scale: reuses the
    packer's per-(source, shard) aggregate — one extra reduction, no
    new sort.
    """
    d = load_table(spark, sf_dir, "documents")
    shard = F.pmod(hash64(F.concat(F.lit("pack:"),
                                   F.col("doc_id").cast("string"))),
                   F.lit(PACK_SHARDS))
    n_tok = bpe_token_count(F.col("text"))
    streams = (
        d.select("source", shard.cast("int").alias("shard"),
                 n_tok.cast("long").alias("n_tok"))
        .groupBy("source", "shard")
        .agg(F.count(F.lit(1)).alias("docs"),
             F.sum("n_tok").alias("tok"))
    )
    per_src = streams.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_streams"),
        F.sum("docs").cast("long").alias("n_docs"),
        F.sum("tok").cast("long").alias("total_tokens"),
        # Σ⌈tok/b⌉: sum of per-stream integer ceilings.
        F.sum(F.expr(f"(tok + {PACK_BUDGET} - 1) div {PACK_BUDGET}"))
        .cast("long").alias("packs_used"),
    )
    ideal = F.expr(
        f"(total_tokens + {PACK_BUDGET} - 1) div {PACK_BUDGET}")
    waste = (F.col("packs_used") * PACK_BUDGET - F.col("total_tokens"))
    return per_src.select(
        "source", "n_docs", "n_streams", "total_tokens", "packs_used",
        ideal.cast("long").alias("packs_ideal"),
        waste.cast("long").alias("tail_waste_tokens"),
        F.expr(f"(1000000 * (packs_used * {PACK_BUDGET} - total_tokens))"
               f" div (packs_used * {PACK_BUDGET})").cast("long")
        .alias("waste_ppm"),
    )


def _pack_efficiency_oracle() -> str:
    bucket = hash64_sql("'pack:' || CAST(doc_id AS VARCHAR)")
    return f"""
WITH base AS (
  SELECT doc_id, source,
         CAST({bucket} % {PACK_SHARDS} AS INT) AS shard,
         {_bpe_sql()} AS n_tok
  FROM documents
),
streams AS (
  SELECT source, shard, CAST(count(*) AS BIGINT) AS docs,
         CAST(sum(n_tok) AS BIGINT) AS tok
  FROM base GROUP BY 1, 2
),
per_src AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_streams,
         CAST(sum(docs) AS BIGINT) AS n_docs,
         CAST(sum(tok) AS BIGINT) AS total_tokens,
         CAST(sum((tok + {PACK_BUDGET} - 1) // {PACK_BUDGET}) AS BIGINT)
           AS packs_used
  FROM streams GROUP BY 1
)
SELECT source, n_docs, n_streams, total_tokens, packs_used,
       (total_tokens + {PACK_BUDGET} - 1) // {PACK_BUDGET} AS packs_ideal,
       packs_used * {PACK_BUDGET} - total_tokens AS tail_waste_tokens,
       (1000000 * (packs_used * {PACK_BUDGET} - total_tokens))
         // (packs_used * {PACK_BUDGET}) AS waste_ppm
FROM per_src
"""


# ---------------------------------------------------------------------------
# Deterministic training order (shuffle-shards)
# ---------------------------------------------------------------------------

_SHARD_SALT = "shard:v1:"
_ORDER_SALT = "order:v1:"
N_SHARDS = 64


def corpus_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training order as (shard, position) pairs.

    Training wants the corpus in a fixed pseudo-random order that every
    re-run reproduces.  shard = hash(doc) mod N; position = rank of a
    second, independent hash within the shard.  Both are functions of
    the document alone, so backfills and re-shards cannot perturb the
    order (the split_train_holdout property, applied to ordering).

    Scale: the per-shard rank is a sort of |corpus|/N_SHARDS rows per
    task — the sort is inherent to producing an order, and sharding IS
    the scalable layout for it: pick N_SHARDS ≈ corpus/shard-budget so
    each sort fits an executor (64 here for test-sized data; a 100 TB
    corpus uses tens of thousands and writes one file per shard).
    """
    d = load_table(spark, sf_dir, "documents")
    shard = F.pmod(hash64(F.concat(F.lit(_SHARD_SALT),
                                   F.col("doc_id").cast("string"))),
                   F.lit(N_SHARDS))
    order_key = hash64(F.concat(F.lit(_ORDER_SALT),
                                F.col("doc_id").cast("string")))
    w = Window.partitionBy("shard").orderBy("order_key", "doc_id")
    return (
        d.select(
            "doc_id",
            shard.cast("int").alias("shard"),
            order_key.alias("order_key"),
        )
        .withColumn("pos", F.row_number().over(w))
        .select("doc_id", "shard", "pos")
    )


_SHARD_SQL = hash64_sql(f"'{_SHARD_SALT}' || CAST(doc_id AS VARCHAR)")
_ORDER_SQL = hash64_sql(f"'{_ORDER_SALT}' || CAST(doc_id AS VARCHAR)")

SHUFFLE_SHARDS_ORACLE = f"""
SELECT doc_id,
       CAST({_SHARD_SQL} % {N_SHARDS} AS INT) AS shard,
       CAST(row_number() OVER (
           PARTITION BY {_SHARD_SQL} % {N_SHARDS}
           ORDER BY {_ORDER_SQL}, doc_id) AS INT) AS pos
FROM documents
"""


# ---------------------------------------------------------------------------
# Sequence-length histogram (packing-efficiency planning)
# ---------------------------------------------------------------------------

_LEN_BUCKET = 32


def doc_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token-length distribution in fixed integer buckets.

    The input to choosing ``pack_sequences``' token budget: how much of
    each source is short-tail vs long-tail.  Integer-division buckets
    (width 32) keep bucket edges exact across engines (a log2 bucket
    would put boundary docs on different sides per float rounding).
    One groupBy over (source, bucket) — partial aggregation shrinks it
    map-side; output is |sources| × |buckets|.
    """
    d = load_table(spark, sf_dir, "documents")
    n_tok = ws_token_count(F.col("text"))
    return (
        d.select("source", n_tok.alias("n_tok"))
        .groupBy("source", (F.col("n_tok") - F.col("n_tok") % _LEN_BUCKET)
                 .cast("int").alias("bucket_lo"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("sum_tokens"),
        )
    )


LENGTH_HIST_ORACLE = f"""
SELECT source,
       CAST({_WS_COUNT_SQL} - {_WS_COUNT_SQL} % {_LEN_BUCKET} AS INT)
         AS bucket_lo,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum({_WS_COUNT_SQL}) AS BIGINT) AS sum_tokens
FROM documents
GROUP BY 1, 2
"""


def split_leakage_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-integrity gate: do any near-duplicate pairs straddle the
    train/holdout boundary?

    Labels the exact near-dup pairs (word-3-gram Jaccard >= 0.2, the
    same sub-quadratic inverted-index pairing the dedup ladder uses)
    with the deterministic split of each side and reports the pair
    count per unordered split combination.  Any row with ``is_leak``
    true means a holdout document has a near-twin in train — the check
    a pipeline owner runs *after* splitting and *before* training,
    since hash-splitting is content-independent by design and therefore
    cannot see near-dups on its own.

    Scale: the pair set is the already-bounded near-dup output (work
    follows collisions); the split is a pure per-row hash of doc_id, so
    both labels evaluate directly on the pair columns — no lookup join
    against the corpus at all, and no shuffle beyond the pairing
    itself.
    """
    from .dedup import _jaccard_pairs, _shingles

    pairs = _jaccard_pairs(_shingles(spark, sf_dir)).select("d1", "d2")
    s1, s2 = _split_of(F.col("d1")), _split_of(F.col("d2"))
    return (
        pairs
        .groupBy(F.least(s1, s2).alias("split_a"),
                 F.greatest(s1, s2).alias("split_b"))
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .withColumn("is_leak", F.col("split_a") != F.col("split_b"))
    )


def _leakage_oracle() -> str:
    from .dedup import _SHINGLES_SQL

    return f"""
WITH {_SHINGLES_SQL.strip()},
sizes AS (SELECT doc_id, count(*) AS n FROM shingles GROUP BY doc_id),
jp AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
  FROM shingles a JOIN shingles b
    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT d1, d2 FROM jp
  JOIN sizes sa ON d1 = sa.doc_id
  JOIN sizes sb ON d2 = sb.doc_id
  WHERE floor(CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) * 10000.0)
        / 10000.0 >= 0.2
),
sp AS (
  SELECT doc_id, {_split_label_sql(_BUCKET_SQL)} AS split
  FROM documents
)
SELECT least(a.split, b.split) AS split_a,
       greatest(a.split, b.split) AS split_b,
       CAST(count(*) AS BIGINT) AS n_pairs,
       least(a.split, b.split) <> greatest(a.split, b.split) AS is_leak
FROM pairs
JOIN sp a ON pairs.d1 = a.doc_id
JOIN sp b ON pairs.d2 = b.doc_id
GROUP BY 1, 2
"""


#: Salt for the cluster-keyed split (distinct from the doc-keyed salt so
#: the two splits are independent hash functions).
_SPLIT_SALT_CLUSTER = "splitc:v1:"


def split_by_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-free train/val/test split: hash the near-dup CLUSTER id,
    not the doc id — the FIX for what ``split_leakage_check`` measures.

    Hash-splitting on doc_id is content-independent by design, so a
    holdout document can have a near-twin in train (eval contamination).
    Keying the same 96/2/2 hash split on the connected-component label
    from the dedup ladder puts every member of a near-dup cluster in
    the SAME split by construction — zero straddling pairs, proven by
    ``tests/test_curation.py::test_split_by_cluster_has_zero_leakage``
    (the leakage checker's own pair set finds nothing to flag).

    Scale shape: inherits the CC labels (edge-incident docs only, then
    isolated docs attached); the split itself is a pure per-row hash of
    the label.  Re-shard-stable like the doc split; adding documents
    can merge clusters and move a cluster between splits — the standard
    and accepted behavior for cluster-keyed splits (the alternative,
    pinning old members, reintroduces leakage).
    """
    from .dedup import dedup_connected_components

    cc = dedup_connected_components(spark, sf_dir)
    bucket = _split_bucket(F.col("cluster_id"), _SPLIT_SALT_CLUSTER)
    return cc.select(
        "doc_id", "cluster_id", _split_label(bucket).alias("split"),
    )


def _split_by_cluster_oracle() -> str:
    from .dedup import _CC_ORACLE_WITH

    b = _bucket_sql("cluster_id", _SPLIT_SALT_CLUSTER)
    return f"""
{_CC_ORACLE_WITH}
SELECT doc_id, cluster_id, {_split_label_sql(b)} AS split
FROM labels
"""


#: Token budget for the mixture plan (total tokens the training run will
#: draw across all sources).
TOKEN_BUDGET = 100_000
#: Milli-unit quantization of sqrt weights (see determinism note below).
_SQRT_SCALE = 1000


def corpus_token_budget_plan(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """Temperature-scaled source-mixture plan under a token budget.

    Given a total training budget of ``TOKEN_BUDGET`` tokens, assign
    each source a target share ∝ sqrt(its token count) — the standard
    temperature-sampling mix (τ=2) that up-weights small sources
    relative to proportional sampling without letting any single crawl
    dominate — then convert shares to per-source sampling rates.  A
    source whose allocation exceeds its actual size caps at rate 1.0
    and is flagged (the signal to re-normalize or upsample via epochs).

    Determinism: raw sqrt weights are doubles whose *sum* would depend
    on reduction order, so the weights are quantized to integer
    milli-units first (floor(sqrt(tokens)·1000)); the normalizing total
    is then an exact integer sum and every derived ratio divides
    integers ≤ 2⁵³ — bit-identical in both engines.

    Scale shape: one groupBy(source) over token counts, a one-row
    integer total broadcast back, pure arithmetic after — the plan is a
    |sources|-row table no matter the corpus size.
    """
    d = load_table(spark, sf_dir, "documents")
    per = d.groupBy("source").agg(
        F.sum(ws_token_count(F.col("text")).cast("bigint"))
        .alias("n_tokens")
    )
    q = per.withColumn(
        "qw", F.floor(F.sqrt(F.col("n_tokens").cast("double"))
                      * _SQRT_SCALE).cast("bigint")
    )
    tot = q.agg(F.sum("qw").alias("qtot"))
    share = F.col("qw").cast("double") / F.col("qtot")
    alloc = share * TOKEN_BUDGET
    rate = F.least(F.lit(1.0), alloc / F.col("n_tokens").cast("double"))
    return (
        q.crossJoin(F.broadcast(tot))
        .select(
            "source", "n_tokens",
            (F.floor(share * 1e6) / 1e6).alias("target_share"),
            (F.floor(rate * 1e6) / 1e6).alias("sampling_rate"),
            F.floor(rate * F.col("n_tokens").cast("double"))
            .cast("bigint").alias("expected_tokens"),
            (alloc > F.col("n_tokens").cast("double"))
            .alias("oversubscribed"),
        )
    )


TOKEN_BUDGET_ORACLE = f"""
WITH per AS (
  SELECT source, CAST(sum({_WS_COUNT_SQL}) AS BIGINT) AS n_tokens
  FROM documents GROUP BY 1
),
q AS (
  SELECT source, n_tokens,
         CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * {_SQRT_SCALE})
              AS BIGINT) AS qw
  FROM per
),
tot AS (SELECT sum(qw) AS qtot FROM q)
SELECT source, n_tokens,
       floor(CAST(qw AS DOUBLE) / qtot * 1e6) / 1e6 AS target_share,
       floor(least(1.0, CAST(qw AS DOUBLE) / qtot * {TOKEN_BUDGET}
                        / CAST(n_tokens AS DOUBLE)) * 1e6) / 1e6
         AS sampling_rate,
       CAST(floor(least(1.0, CAST(qw AS DOUBLE) / qtot * {TOKEN_BUDGET}
                             / CAST(n_tokens AS DOUBLE))
                  * CAST(n_tokens AS DOUBLE)) AS BIGINT)
         AS expected_tokens,
       CAST(qw AS DOUBLE) / qtot * {TOKEN_BUDGET}
         > CAST(n_tokens AS DOUBLE) AS oversubscribed
FROM q CROSS JOIN tot
"""


SPECS: dict[str, QuerySpec] = {
    "split_train_holdout": QuerySpec(split_train_holdout, SPLIT_ORACLE),
    "split_by_cluster": QuerySpec(split_by_cluster,
                                  _split_by_cluster_oracle()),
    "split_kfold_assign": QuerySpec(split_kfold_assign, KFOLD_ORACLE),
    "split_leakage_check": QuerySpec(split_leakage_check,
                                     _leakage_oracle()),
    "corpus_shuffle_shards": QuerySpec(corpus_shuffle_shards,
                                       SHUFFLE_SHARDS_ORACLE),
    "doc_length_histogram": QuerySpec(doc_length_histogram,
                                      LENGTH_HIST_ORACLE),
    "split_balance": QuerySpec(split_balance, SPLIT_BALANCE_ORACLE),
    "pack_sequences": QuerySpec(pack_sequences, _pack_oracle()),
    "pack_efficiency_report": QuerySpec(pack_efficiency_report,
                                        _pack_efficiency_oracle()),
    "dedup_keep_best": QuerySpec(dedup_keep_best, KEEP_BEST_ORACLE),
    "token_bigram_pmi": QuerySpec(token_bigram_pmi, PMI_ORACLE),
    "token_window_pmi": QuerySpec(token_window_pmi, WINDOW_PMI_ORACLE),
    "corpus_token_budget_plan": QuerySpec(corpus_token_budget_plan,
                                          TOKEN_BUDGET_ORACLE),
    "emb_int8_quantize": QuerySpec(emb_int8_quantize, QUANTIZE_ORACLE),
}
