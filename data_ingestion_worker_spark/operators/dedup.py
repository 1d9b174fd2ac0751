"""Document deduplication operators (BASELINE.json north star).

Four levels, in increasing fuzziness — the standard large-corpus dedup
ladder (exact -> near-dup):

- **exact**: canonicalize text -> md5 fingerprint -> window-min canonical id.
- **n-gram Jaccard**: word-3-gram shingles, inverted-index self-join,
  Jaccard over distinct shingle sets.
- **MinHash + LSH**: 8 universal-hash permutations ((a*h+b) mod 2^31-1
  over one md5-derived base hash per shingle), 4 bands of 2 rows;
  candidate pairs share a band signature.  This is the 100 TB scale
  path: cost is O(docs x shingles), never O(docs^2) — the banding join
  only groups documents with colliding signatures.
- **SimHash**: 16-bit signature from token-hash bit votes; Hamming-near
  docs get equal/similar signatures.

Every step is reproduced bit-identically in the DuckDB oracles because the
underlying hash is md5-based (functions/hashing.py), not engine murmur.

Scale notes: high-document-frequency shingles are boilerplate — they
connect unrelated documents and quadratically inflate the inverted-index
join (a shingle in k docs emits k^2/2 candidate pairs).  The DF cutoff
(``dedup_jaccard_df_cutoff``) drops them *before* the self-join; the DF
count reuses the same shuffle key as the join itself, so the filter is
one extra window over an exchange the plan already pays for.  At real
corpus sizes the cutoff is relative (>0.1% of docs); the verified query
pins an absolute df<=3 that is non-degenerate on the synthetic corpus.
Hot band keys on the LSH path are handled by the ``salts`` knob of
:func:`dedup_minhash_lsh` (triangle-cell salting, pair-set preserving).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.hashing import hash64, hash64_sql
from ..functions.text import fingerprint
from ..spec import QuerySpec
from ..tables import load_table
from ..functions.checkpoint import cut_lineage
from .similarity import (_QVEC, _int_cosine, _proj_sql, _projections,
                         _qdims, _qv_sql)
from .text import _NORM_SQL, _TOKENS_SQL

N_PERM = 8          # minhash permutations
BAND_ROWS = 2       # rows per LSH band -> 4 bands
SIMHASH_BITS = 16

# (doc_id, shingle) pairs, distinct — DuckDB side (1-based list indexing).
_SHINGLES_SQL = f"""
shingles AS (
  SELECT DISTINCT doc_id,
         toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS shingle
  FROM (SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents),
       unnest(range(1, len(toks) - 1)) AS t(i)
  WHERE len(toks) >= 3
)
"""


def _shingles(spark: SparkSession, sf_dir: str,
              max_df: int | None = None,
              toks: DataFrame | None = None) -> DataFrame:
    """(doc_id, shingle) distinct word-3-gram pairs — Spark side.

    Built with array higher-order functions (no UDF); the explode is the
    only row-multiplying step and it precedes the shuffle, so partial
    aggregation sees the expanded rows locally.

    ``max_df`` drops shingles appearing in more than that many documents
    (boilerplate cutoff).  The DF window partitions by the same key the
    downstream inverted-index join shuffles on, so it rides the exchange
    that join already needs instead of adding one.

    ``toks``: an existing (doc_id, t: array<string>) token frame to
    build from (the ``functions.text.tokens`` convention) — lets a
    composed plan tokenize the corpus once for both its shingle and its
    LM legs.
    """
    sh = F.expr(
        "transform(sequence(0, size(toks) - 3), "
        "i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))"
    )
    if toks is None:
        d = load_table(spark, sf_dir, "documents")
        tok_col = F.expr(
            "CASE WHEN length(trim(lower(text))) = 0 THEN array() "
            "ELSE split(trim(lower(text)), '\\\\s+') END"
        )
        base = d.select("doc_id", tok_col.alias("toks"))
    else:
        base = toks.select("doc_id", F.col("t").alias("toks"))
    # array_distinct dedups within the doc BEFORE the explode, and doc_id
    # disambiguates across docs — (doc_id, shingle) pairs are already
    # distinct, so no post-explode .distinct() shuffle is needed.
    out = (
        base
        .filter(F.size("toks") >= 3)
        .select("doc_id", F.explode(F.array_distinct(sh)).alias("shingle"))
    )
    if max_df is not None:
        w = Window.partitionBy("shingle")
        out = (
            out.withColumn("df", F.count(F.lit(1)).over(w))
            .filter(F.col("df") <= max_df)
            .drop("df")
        )
    return out


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: canonical doc = min doc_id per normalized-text
    fingerprint (reference identity-hash skip J5, applied to documents)."""
    d = load_table(spark, sf_dir, "documents")
    fp = fingerprint(F.col("text"))
    w = Window.partitionBy("fp")
    return (
        d.select("doc_id", fp.alias("fp"))
        .withColumn("canonical_doc_id", F.min("doc_id").over(w))
        .withColumn("is_dup", F.col("doc_id") != F.col("canonical_doc_id"))
        .select("doc_id", "canonical_doc_id", "is_dup")
    )


DEDUP_EXACT_ORACLE = f"""
SELECT doc_id,
       min(doc_id) OVER (PARTITION BY md5({_NORM_SQL})) AS canonical_doc_id,
       doc_id <> min(doc_id) OVER (PARTITION BY md5({_NORM_SQL})) AS is_dup
FROM documents
"""


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by word-3-gram Jaccard >= 0.2.

    Inverted-index self-join on the shingle (never all-pairs): pairs are
    generated only for documents sharing at least one shingle, then scored
    inter / (|A| + |B| - inter).
    """
    return _jaccard_pairs(_shingles(spark, sf_dir))


DF_CUTOFF = 3       # absolute shingle document-frequency cutoff


def dedup_jaccard_df_cutoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram Jaccard near-dup with boilerplate shingles removed first.

    Shingles in more than DF_CUTOFF documents are excluded *before* the
    inverted-index join — both from candidate generation and from the
    set sizes, i.e. Jaccard is computed over the filtered shingle sets.
    This is the operator that keeps the join sub-quadratic on real
    corpora, where header/footer boilerplate appears in a large fraction
    of documents.
    """
    return _jaccard_pairs(_shingles(spark, sf_dir, max_df=DF_CUTOFF))


def dedup_jaccard_prefix_filter(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard >= 0.2 via *prefix filtering* (the
    ssjoin / PPJoin family): identical output to
    :func:`dedup_ngram_jaccard`, but candidate pairs are generated from
    a small per-document prefix instead of every posting.

    Order all shingles by global document frequency ascending (rarest
    first, shingle text tie-break — one total order both sides of a
    pair agree on).  A document with n shingles keeps only its first
    ``n − ceil(0.2·n) + 1`` as its *prefix*: any pair with Jaccard >=
    0.2 has intersection >= ceil(0.2·max(|A|,|B|)), and two sets with
    that much overlap must collide inside these prefixes (the standard
    prefix-filter lemma).  Candidates come from prefix posting lists
    only — on boilerplate-heavy corpora the frequent shingles (the fat,
    skewed posting lists) fall *outside* every prefix, so the candidate
    join touches a fraction of the index while remaining lossless,
    unlike the DF-cutoff variant which changes the scores.  Survivors
    are then verified with the true intersection.

    The oracle is the naive all-postings self-join — parity proves the
    filter drops no qualifying pair.

    Round-10 shape (before/after plans in plans/r10/): ONE per-doc
    ranked-array frame replaces the window-ranked posting table — the
    DF join rides the shingle exchange, the (df, shingle) order is a
    local ``sort_array`` inside each doc's bucket, the prefix is a
    ``slice``, and the same frame serves both verification legs.
    Verification is a per-pair ``array_intersect`` against that frame
    instead of re-joining every candidate pair against the full posting
    table — at sf0.1 that join streamed ~41 M (pair × shingle) rows to
    verify 788 k candidates.

    Round-11 verification joins SHUFFLE by doc id (no broadcast): the
    r10 broadcast guard shipped the full per-doc shingle arrays twice,
    and building those two array-of-strings broadcast relations costs
    more than the joins save — measured 4.3 s broadcast vs 0.9–1.5 s
    shuffled for the same candidate set at sf0.1.  The shuffle moves
    |cand| id-pairs plus |docs| array rows, never pair × posting; it is
    also the only shape that cannot OOM on a long-document corpus
    (the r10 count-based guard underestimated broadcast bytes — each
    row carries the doc's whole shingle array).

    Round-11: PPJoin+-style pruning inside candidate generation, both
    lossless for J >= t:

    - *size filter*: a qualifying pair needs min(n1,n2) >= t·max(n1,n2)
      (else J <= min/max < t) — with t = 0.2, ``5·min >= max``.
    - *positional filter*: prefix postings carry each shingle's
      0-based rank position p; a collision at (p1, p2) bounds the
      intersection reachable from the FIRST common shingle by
      ``min(n1−p1, n2−p2)``, and J >= t needs
      inter >= ceil(t·(n1+n2)/(1+t)) — with t = 0.2,
      ``6·min(n1−p1, n2−p2) >= n1+n2``.  For any qualifying pair the
      first common shingle in the global (df, shingle) order lies in
      BOTH prefixes (the prefix lemma) and no common shingle precedes
      it, so its collision row always passes — keeping pairs with ANY
      passing collision drops no qualifying pair.  Verification then
      touches only the survivors (788 k → measured drop logged in
      OPTIMIZATION_r11.md); the final exact-Jaccard filter is
      unchanged, so false survivors cost work, never correctness.
    """
    sh = _shingles(spark, sf_dir)
    df_tab = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    # prefix length n - ceil(n/5) + 1; ceil(n/5) = (n+4) div 5
    arrs = (
        sh.join(df_tab, "shingle")
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list(F.struct("df", "shingle")))
             .alias("rk"))
        .select("doc_id",
                F.expr("transform(rk, x -> x.shingle)").alias("arr"),
                F.size("rk").alias("n"))
        .select("doc_id", "arr", "n",
                F.expr("slice(arr, 1, n - (n + 4) div 5 + 1)")
                .alias("pref"))
        .transform(cut_lineage)   # postings + both verify legs
    )
    postings = arrs.select(
        "doc_id", "n", F.posexplode("pref").alias("p", "shingle")
    )
    buckets = (
        postings.groupBy("shingle")
        .agg(F.sort_array(F.collect_list(F.struct("doc_id", "p", "n")))
             .alias("ds"))
        .filter(F.size("ds") >= 2)
    )
    collisions = (
        buckets.select(F.explode(
            F.expr(_TRIANGLE.format(ids="ds"))
        ).alias("q"))
        .select(F.col("q.d1.doc_id").alias("d1"),
                F.col("q.d1.p").alias("p1"), F.col("q.d1.n").alias("n1"),
                F.col("q.d2.doc_id").alias("d2"),
                F.col("q.d2.p").alias("p2"), F.col("q.d2.n").alias("n2"))
    )
    cand = (
        collisions
        .filter(5 * F.least("n1", "n2") >= F.greatest("n1", "n2"))
        .filter(6 * F.least(F.col("n1") - F.col("p1"),
                            F.col("n2") - F.col("p2"))
                >= F.col("n1") + F.col("n2"))
        .select("d1", "d2")
        .distinct()
    )
    # SHUFFLE_HASH pins the verify joins against AQE's
    # broadcast-conversion: the arrs side reads "small" (tens of MB) so
    # AQE would otherwise rebuild it as two array-of-strings broadcast
    # relations — the exact cost the shuffle shape avoids.
    a1 = arrs.select(F.col("doc_id").alias("d1"),
                     F.col("arr").alias("arr1"), F.col("n").alias("n1")) \
        .hint("shuffle_hash")
    a2 = arrs.select(F.col("doc_id").alias("d2"),
                     F.col("arr").alias("arr2"), F.col("n").alias("n2")) \
        .hint("shuffle_hash")
    inter = (
        cand.join(a1, "d1").join(a2, "d2")
        .select("d1", "d2",
                F.size(F.array_intersect("arr1", "arr2")).alias("inter"),
                "n1", "n2")
    )
    jac = F.col("inter").cast("double") / (
        F.col("n1") + F.col("n2") - F.col("inter")
    )
    return (
        inter.select("d1", "d2",
                     (F.floor(jac * 10000.0) / 10000.0).alias("jaccard"))
        .filter(F.col("jaccard") >= 0.2)
    )


def corpus_dedup_threshold_curve(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Near-dup pair counts at every Jaccard threshold 0.2..1.0 — the
    calibration curve a pipeline owner reads before picking the dedup
    cutoff (too low and distinct revisions merge; too high and
    boilerplate twins survive).

    One pass over the existing sub-quadratic pair table: pairs bucket
    by floor(10·J), and the at-or-above counts come from a cumulative
    window over the ≤9-row bucket aggregate — the whole curve costs one
    tiny window more than the pair join itself.
    """
    pairs = dedup_ngram_jaccard(spark, sf_dir)
    bucket = F.least(F.lit(9), F.floor(F.col("jaccard") * 10.0)) \
        .cast("int")
    per = pairs.select(bucket.alias("bucket")).groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_bucket")
    )
    w = Window.orderBy(F.desc("bucket")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    return per.select(
        (F.col("bucket").cast("double") / 10.0).alias("threshold"),
        F.sum("n_bucket").over(w).cast("bigint")
        .alias("n_pairs_at_or_above"),
    )


#: (bands, rows) configurations the LSH planner prices — every MinHash
#: budget from 16 to 32 hashes, steep to shallow s-curves.
LSH_PLAN_CONFIGS = [
    (16, 1), (8, 2), (4, 4), (2, 8), (1, 16),
    (32, 1), (16, 2), (8, 4), (4, 8), (2, 16),
]


def _lsh_detect_micro(b: int, r: int, s: float) -> int:
    """P(candidate | similarity s) = 1 − (1 − s^r)^b, in micro-units.
    Python-precomputed at plan-build time (the Benford convention), so
    neither engine evaluates a transcendental at query time."""
    return int((1.0 - (1.0 - s ** r) ** b) * 1000000)


def corpus_lsh_band_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price every (bands, rows) MinHash-LSH configuration against the
    corpus's OWN observed pair-similarity histogram: expected recall of
    the near-dup pairs each config would catch, plus its s-curve
    midpoint — the planning table an engineer reads before committing a
    signature budget at 100 TB (where re-running LSH with the wrong
    (b, r) costs a full corpus pass).

    Construction: the sub-quadratic pair table buckets by floor(10·J)
    (the :func:`corpus_dedup_threshold_curve` shape); detection
    probabilities ``1 − (1 − s^r)^b`` at each bucket midpoint are
    Python-precomputed micro-literals (config × bucket, ≤100 rows,
    broadcast), so the expected-recall readout is exact integer
    products and one integer division per config.
    """
    pairs = dedup_ngram_jaccard(spark, sf_dir)
    bucket = F.least(F.lit(9), F.floor(F.col("jaccard") * 10.0)) \
        .cast("int")
    per = pairs.select(bucket.alias("bucket")).groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_bucket")
    )
    lookup = spark.createDataFrame(
        [(b, r, bk, _lsh_detect_micro(b, r, (bk + 0.5) / 10.0),
          int(((1.0 / b) ** (1.0 / r)) * 1000))
         for b, r in LSH_PLAN_CONFIGS for bk in range(10)],
        "b int, r int, bucket int, p_micro bigint, s50_milli int")
    j = per.join(F.broadcast(lookup), "bucket")
    agg = j.groupBy("b", "r").agg(
        F.max("s50_milli").alias("s50_milli"),
        F.sum("n_bucket").cast("long").alias("n_pairs"),
        F.sum(F.col("n_bucket") * F.col("p_micro")).alias("caught_micro"),
    )
    return agg.select(
        "b", "r", "s50_milli", "n_pairs",
        F.expr("caught_micro div n_pairs").cast("long")
        .alias("expected_recall_ppm"),
    )


def _lsh_planner_oracle() -> str:
    rows = ", ".join(
        f"({b}, {r}, {bk}, {_lsh_detect_micro(b, r, (bk + 0.5) / 10.0)}, "
        f"{int(((1.0 / b) ** (1.0 / r)) * 1000)})"
        for b, r in LSH_PLAN_CONFIGS for bk in range(10))
    return f"""
WITH per AS (
  SELECT least(9, CAST(floor(jaccard * 10.0) AS INT)) AS bucket,
         CAST(count(*) AS BIGINT) AS n_bucket
  FROM (
    WITH {_SHINGLES_SQL.strip()},{_jaccard_oracle_body('shingles')}
  ) jac
  GROUP BY 1
),
lookup(b, r, bucket, p_micro, s50_milli) AS (VALUES {rows})
SELECT b, r, max(s50_milli) AS s50_milli,
       CAST(sum(n_bucket) AS BIGINT) AS n_pairs,
       (sum(n_bucket * p_micro) // sum(n_bucket)) AS expected_recall_ppm
FROM per JOIN lookup USING (bucket)
GROUP BY 1, 2
"""


def corpus_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix: for every (source, source) pair,
    how many near-dup document pairs straddle it — the provenance
    diagnostic that shows which feeds mirror each other (and how much
    of a source is internal boilerplate, on the diagonal).

    Built on the existing sub-quadratic pair table; sources attach via
    two joins on doc_id and the pair is canonicalized (least, greatest)
    so the matrix is upper-triangular regardless of pair orientation.
    """
    pairs = dedup_ngram_jaccard(spark, sf_dir)
    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    s1, s2 = d.alias("s1"), d.alias("s2")
    tagged = (
        pairs.join(s1, F.col("d1") == F.col("s1.doc_id"))
        .join(s2, F.col("d2") == F.col("s2.doc_id"))
        .select(
            F.least(F.col("s1.source"), F.col("s2.source")).alias("src_a"),
            F.greatest(F.col("s1.source"), F.col("s2.source"))
            .alias("src_b"),
        )
    )
    return tagged.groupBy("src_a", "src_b").agg(
        F.count(F.lit(1)).alias("n_dup_pairs")
    )


def _jaccard_pairs(sh: DataFrame, *, shared: bool = False) -> DataFrame:
    # The shingle table feeds both the size aggregate and the posting
    # buckets; materialize the tokenize+explode once (the multi-consumer
    # localCheckpoint rule — benefits every caller, including the
    # curation funnel's near-dup leg).  ``shared=True`` means the caller
    # already checkpointed the frame (and shares it with other legs of a
    # bigger plan, e.g. pipeline_curation_v3) — re-checkpointing would
    # copy the materialized rows a second time for nothing.
    if not shared:
        sh = sh.transform(cut_lineage)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    # Bucket aggregation, not a self-join: one shuffle groups the posting
    # list per shingle and the candidate pairs expand *locally* inside
    # each bucket (sorted, i<j) — the same pattern dedup_minhash_lsh uses
    # for band buckets.  The self-join formulation shuffles the shingle
    # table twice and materializes Σ df² rows through the exchange; here
    # the expansion happens after the shuffle, so only |postings| rows
    # move.  Production corpora bound the per-bucket list with the DF
    # cutoff (``_shingles(max_df=...)``) — a boilerplate shingle with an
    # unbounded posting list is a skew hazard under either formulation.
    buckets = (
        sh.groupBy("shingle")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("docs"))
        .filter(F.size("docs") >= 2)
    )
    pairs = (
        buckets.select(F.explode(
            F.expr(_TRIANGLE.format(ids="docs"))
        ).alias("p"))
        .groupBy(F.col("p.d1").alias("d1"), F.col("p.d2").alias("d2"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    jac = F.col("inter").cast("double") / (
        F.col("sa.n") + F.col("sb.n") - F.col("inter")
    )
    # floor (not round) to 4 decimals: round() diverges across engines on
    # terminating-decimal ties (see operators/text.py::_floor4).
    return (
        pairs.join(sa, F.col("d1") == F.col("sa.doc_id"))
        .join(sb, F.col("d2") == F.col("sb.doc_id"))
        .select("d1", "d2",
                (F.floor(jac * 10000.0) / 10000.0).alias("jaccard"))
        .filter(F.col("jaccard") >= 0.2)
    )


def _jaccard_oracle_body(src: str) -> str:
    return f"""
sizes AS (SELECT doc_id, count(*) AS n FROM {src} GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
  FROM {src} a JOIN {src} b
    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT d1, d2,
       floor(CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) * 10000.0)
       / 10000.0 AS jaccard
FROM pairs
JOIN sizes sa ON d1 = sa.doc_id
JOIN sizes sb ON d2 = sb.doc_id
WHERE floor(CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) * 10000.0)
      / 10000.0 >= 0.2
"""


DEDUP_JACCARD_ORACLE = (
    f"WITH {_SHINGLES_SQL.strip()},{_jaccard_oracle_body('shingles')}"
)


DEDUP_THRESHOLD_CURVE_ORACLE = f"""
WITH per AS (
  SELECT least(9, CAST(floor(jaccard * 10.0) AS INT)) AS bucket,
         count(*) AS n_bucket
  FROM (
    WITH {_SHINGLES_SQL.strip()},{_jaccard_oracle_body('shingles')}
  ) jac
  GROUP BY 1
)
SELECT CAST(bucket AS DOUBLE) / 10.0 AS threshold,
       CAST(sum(n_bucket) OVER (ORDER BY bucket DESC) AS BIGINT)
         AS n_pairs_at_or_above
FROM per
"""


SOURCE_OVERLAP_ORACLE = f"""
WITH tagged AS (
  SELECT least(s1.source, s2.source) AS src_a,
         greatest(s1.source, s2.source) AS src_b
  FROM (
    WITH {_SHINGLES_SQL.strip()},{_jaccard_oracle_body('shingles')}
  ) jac
  JOIN documents s1 ON jac.d1 = s1.doc_id
  JOIN documents s2 ON jac.d2 = s2.doc_id
)
SELECT src_a, src_b, CAST(count(*) AS BIGINT) AS n_dup_pairs
FROM tagged GROUP BY 1, 2
"""


DEDUP_JACCARD_DF_ORACLE = f"""
WITH {_SHINGLES_SQL.strip()},
shingles_df AS (
  SELECT doc_id, shingle FROM (
    SELECT doc_id, shingle, count(*) OVER (PARTITION BY shingle) AS df
    FROM shingles
  ) WHERE df <= {DF_CUTOFF}
),{_jaccard_oracle_body('shingles_df')}"""


def corpus_dup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source exact-duplication health report: how much of each
    source is duplicated content, and how concentrated the duplication
    is (largest cluster).  The number a curation pipeline tracks per
    ingest batch to catch a crawler loop or a boilerplate source early.

    One shuffle on the fingerprint (cluster sizes), one partial-agg
    shuffle of |sources| rows; the fraction is floored to 4 decimals
    (engine-stable, see _floor4 note in operators/text.py).
    """
    d = load_table(spark, sf_dir, "documents")
    fp = d.select("doc_id", "source", fingerprint(F.col("text")).alias("fp"))
    cluster = F.count(F.lit(1)).over(Window.partitionBy("fp"))
    flagged = fp.select(
        "source", (cluster > 1).cast("int").alias("is_dup"),
        cluster.alias("cluster_size"),
    )
    dup_rate = (F.floor(F.sum("is_dup").cast("double")
                        / F.count(F.lit(1)) * 10000.0) / 10000.0)
    return flagged.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("is_dup").cast("bigint").alias("n_dup_docs"),
        F.max("cluster_size").cast("bigint").alias("max_cluster"),
        dup_rate.alias("dup_rate"),
    )


CORPUS_DUP_STATS_ORACLE = f"""
WITH fp AS (
  SELECT doc_id, source, md5({_NORM_SQL}) AS fp FROM documents
),
sized AS (
  SELECT source,
         CASE WHEN count(*) OVER (PARTITION BY fp) > 1 THEN 1 ELSE 0 END
           AS is_dup,
         count(*) OVER (PARTITION BY fp) AS cluster_size
  FROM fp
)
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(is_dup) AS BIGINT) AS n_dup_docs,
       CAST(max(cluster_size) AS BIGINT) AS max_cluster,
       floor(CAST(sum(is_dup) AS DOUBLE) / count(*) * 10000.0) / 10000.0
         AS dup_rate
FROM sized GROUP BY 1
"""


def corpus_dup_quality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-by-duplication cross diagnostic: mean quality score per
    *near-dup* cluster-size bucket — the "is dedup removing template
    junk, or deleting good content?" question a curation owner asks
    before committing a dedup pass.  Composes the LSH + connected-
    components clustering (``dedup_connected_components``) with the
    pinned quality formula (``operators/text._quality_raw``) — both
    single-sourced, so this diagnostic can never drift from the
    operators it audits.  (Exact-fingerprint clusters would be the
    cheaper grouping, but this corpus — like most crawls — duplicates
    at the near-dup level, where exact buckets are degenerate.)

    Determinism: quality is floored to an integer at 1e4 scale per doc,
    so per-bucket means are exact integer divisions (``sum div n``) —
    no float accumulation anywhere.  Scale shape: the CC cost dominates
    (documented there); on top of it, one window per cluster for sizes
    and a partial-agg shuffle of |buckets| (≤4) rows.
    """
    from .text import _quality_raw

    cc = dedup_connected_components(spark, sf_dir)
    qd = (
        load_table(spark, sf_dir, "documents")
        .filter(F.length("text") > 0)
        .select("doc_id",
                F.floor(_quality_raw() * 10000.0).cast("bigint").alias("q"))
    )
    size = F.count(F.lit(1)).over(Window.partitionBy("cluster_id"))
    bucket = (
        F.when(F.col("size") == 1, F.lit("unique"))
        .when(F.col("size") == 2, F.lit("pair"))
        .when(F.col("size") <= 4, F.lit("small"))
        .otherwise(F.lit("large"))
    )
    return (
        cc.withColumn("size", size)
        .join(qd, "doc_id")
        .select(bucket.alias("size_bucket"), "cluster_id", "q")
        .groupBy("size_bucket")
        .agg(
            F.countDistinct("cluster_id").alias("n_clusters"),
            F.count(F.lit(1)).alias("n_docs"),
            F.expr("sum(q) div count(1)").alias("mean_q"),
        )
    )


def doc_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty: the fraction of a doc's word-3-grams whose
    FIRST corpus occurrence (min doc_id over the shingle) is this doc —
    the "how much new content does each document contribute" signal used
    to spot mirrored feeds and stale re-crawls during corpus growth.

    Shares the engine-wide shingle core (one explode, one shuffle on
    the shingle); first-occurrence is a min window partitioned by
    shingle — the same key the shuffle already established — then one
    partial-agg shuffle back to doc granularity.  The ratio divides two
    exact integers and floors at 6 (the engine-stable _floor idiom).
    """
    sh = _shingles(spark, sf_dir)
    per = sh.withColumn(
        "first_doc", F.min("doc_id").over(Window.partitionBy("shingle"))
    )
    novel = F.sum((F.col("doc_id") == F.col("first_doc")).cast("bigint"))
    return per.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_shingles"),
        novel.alias("n_novel"),
    ).select(
        "doc_id", "n_shingles", "n_novel",
        (F.floor(F.col("n_novel").cast("double")
                 / F.col("n_shingles") * 1000000.0) / 1000000.0)
        .alias("novelty"),
    )


DOC_NOVELTY_ORACLE = f"""
WITH {_SHINGLES_SQL.strip()},
firsts AS (
  SELECT doc_id,
         min(doc_id) OVER (PARTITION BY shingle) AS first_doc
  FROM shingles
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
       CAST(sum(CASE WHEN doc_id = first_doc THEN 1 ELSE 0 END) AS BIGINT)
         AS n_novel,
       floor(CAST(sum(CASE WHEN doc_id = first_doc THEN 1 ELSE 0 END)
                  AS DOUBLE) / count(*) * 1000000.0) / 1000000.0 AS novelty
FROM firsts GROUP BY 1
"""


def corpus_growth_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps-law vocabulary growth: new distinct shingles contributed by
    each doc-id decile of the corpus, plus the cumulative vocabulary —
    the curve a corpus owner reads to see whether further crawling still
    buys new content or only re-collects what's already there.

    Each shingle is attributed to its FIRST document (min doc_id over
    the shingle — one shuffle on the shingle key, shared shape with
    ``doc_ngram_novelty``); deciles cut the doc-id range with integer
    division against a one-row max scalar, and the cumulative sum rides
    an ordered window over the ≤10 bucket rows.
    """
    sh = _shingles(spark, sf_dir)
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    mx = d.agg(F.max("doc_id").alias("mx"))
    bucket = F.least(
        F.lit(9), F.expr("(doc_id * 10) div (mx + 1)")
    ).cast("int")
    firsts = sh.groupBy("shingle").agg(F.min("doc_id").alias("doc_id"))
    vocab = (
        firsts.crossJoin(F.broadcast(mx))
        .select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("vocab_added"))
    )
    docs = (
        d.crossJoin(F.broadcast(mx))
        .select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    w = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        docs.join(vocab, "bucket", "left")
        .withColumn("vocab_added",
                    F.coalesce(F.col("vocab_added"), F.lit(0))
                    .cast("bigint"))
        .select("bucket", "n_docs", "vocab_added",
                F.sum("vocab_added").over(w).alias("vocab_cum"))
    )


GROWTH_CURVE_ORACLE = f"""
WITH {_SHINGLES_SQL.strip()},
mx AS (SELECT max(doc_id) AS mx FROM documents),
firsts AS (
  SELECT shingle, min(doc_id) AS doc_id FROM shingles GROUP BY 1
),
vocab AS (
  SELECT least(9, (doc_id * 10) // (mx + 1)) AS bucket,
         CAST(count(*) AS BIGINT) AS vocab_added
  FROM firsts CROSS JOIN mx GROUP BY 1
),
docs AS (
  SELECT least(9, (doc_id * 10) // (mx + 1)) AS bucket,
         CAST(count(*) AS BIGINT) AS n_docs
  FROM documents CROSS JOIN mx GROUP BY 1
)
SELECT CAST(d.bucket AS INT) AS bucket, d.n_docs,
       COALESCE(v.vocab_added, 0) AS vocab_added,
       CAST(sum(COALESCE(v.vocab_added, 0))
            OVER (ORDER BY d.bucket ROWS UNBOUNDED PRECEDING) AS BIGINT)
         AS vocab_cum
FROM docs d LEFT JOIN vocab v ON d.bucket = v.bucket
"""


def _dup_quality_oracle() -> str:
    from .text import _QUALITY_RAW_SQL

    return f"""
{_CC_ORACLE_WITH}
, qd AS (
  SELECT doc_id, CAST(floor({_QUALITY_RAW_SQL} * 10000.0) AS BIGINT) AS q
  FROM documents WHERE length(text) > 0
),
sized AS (
  SELECT doc_id, cluster_id,
         count(*) OVER (PARTITION BY cluster_id) AS size
  FROM labels
)
SELECT CASE WHEN size = 1 THEN 'unique' WHEN size = 2 THEN 'pair'
            WHEN size <= 4 THEN 'small' ELSE 'large' END AS size_bucket,
       CAST(count(DISTINCT cluster_id) AS BIGINT) AS n_clusters,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(q) // count(*) AS BIGINT) AS mean_q
FROM sized JOIN qd USING (doc_id)
GROUP BY 1
"""


CONTAIN_CUTOFF = 0.5


def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric shingle-containment pairs: c(A→B) = |A∩B| / |A|.

    Catches what symmetric Jaccard structurally misses — a short
    document quoted or templated inside a much longer one (the
    intersection is small relative to the UNION but large relative to
    the SHORT side).  Emits both directions per pair; kept when either
    containment >= 0.5.  Same inverted-index candidate generation as
    the Jaccard ladder (pairs only for docs sharing a shingle —
    sub-quadratic, DF-cutoff composable), one extra projection.
    """
    sh = _shingles(spark, sf_dir)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    pairs = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("d1"),
                 F.col("b.doc_id").alias("d2"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa, sb = sizes.alias("sa"), sizes.alias("sb")
    c1 = F.floor(F.col("inter").cast("double") / F.col("sa.n")
                 * 10000.0) / 10000.0
    c2 = F.floor(F.col("inter").cast("double") / F.col("sb.n")
                 * 10000.0) / 10000.0
    return (
        pairs.join(sa, F.col("d1") == F.col("sa.doc_id"))
        .join(sb, F.col("d2") == F.col("sb.doc_id"))
        .select("d1", "d2", c1.alias("c_d1_in_d2"), c2.alias("c_d2_in_d1"))
        .filter((F.col("c_d1_in_d2") >= CONTAIN_CUTOFF)
                | (F.col("c_d2_in_d1") >= CONTAIN_CUTOFF))
    )


DEDUP_CONTAINMENT_ORACLE = f"""
WITH {_SHINGLES_SQL.strip()},
sizes AS (SELECT doc_id, count(*) AS n FROM shingles GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
  FROM shingles a JOIN shingles b
    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT d1, d2,
       floor(CAST(inter AS DOUBLE) / sa.n * 10000.0) / 10000.0
         AS c_d1_in_d2,
       floor(CAST(inter AS DOUBLE) / sb.n * 10000.0) / 10000.0
         AS c_d2_in_d1
FROM pairs
JOIN sizes sa ON d1 = sa.doc_id
JOIN sizes sb ON d2 = sb.doc_id
WHERE floor(CAST(inter AS DOUBLE) / sa.n * 10000.0) / 10000.0
        >= {CONTAIN_CUTOFF}
   OR floor(CAST(inter AS DOUBLE) / sb.n * 10000.0) / 10000.0
        >= {CONTAIN_CUTOFF}
"""


#: Universal-hash permutation constants: mh_p = (A[p]*h + B[p]) mod MERSENNE
#: over ONE 32-bit base hash per shingle — the textbook minhash family.
#: 8 md5s/shingle collapse to 1 md5 + 8 multiply-mods (the hash is the
#: minhash bottleneck at corpus scale).  A[p]*h fits int64: h < 2^32,
#: A[p] < 2^27.
PERM_A = [1299721, 15485863, 32452843, 49979687,
          67867967, 86028121, 104395301, 122949823]
PERM_B = [7, 101, 1009, 10007, 100003, 1000003, 4999999, 9999991]
MERSENNE = 2147483647


def minhash_signatures(spark: SparkSession, sf_dir: str,
                       sh: DataFrame | None = None) -> DataFrame:
    """(doc_id, mh0..mh{N_PERM-1}) — min over shingles of the p-th
    universal-hash permutation of the shingle's base hash.

    The N_PERM permutations are parallel aggregate expressions over ONE
    pass of the shingle set — not an exploded (shingle x perm) row blowup.
    At 100 TB that is the difference between shuffling |shingles| rows and
    shuffling |shingles| x N_PERM rows for the same result.

    ``sh``: pass an already-built (doc_id, shingle) frame to share the
    tokenize+explode leaf with other legs of a composed plan.
    """
    if sh is None:
        sh = _shingles(spark, sf_dir)
    base = F.conv(F.substring(F.md5(F.col("shingle")), 1, 8), 16, 10) \
        .cast("bigint")
    withh = sh.select("doc_id", base.alias("h"))
    return withh.groupBy("doc_id").agg(*[
        F.min((F.lit(PERM_A[p]) * F.col("h") + F.lit(PERM_B[p]))
              % F.lit(MERSENNE)).alias(f"mh{p}")
        for p in range(N_PERM)
    ])


#: Intra-bucket triangle expansion over a sorted id array: all pairs
#: (x, y) with x < y, as a pure array expression.
_TRIANGLE = (
    "flatten(transform({ids}, (x, i) -> "
    "transform(slice({ids}, i + 2, size({ids}) - i - 1), "
    "y -> struct(x AS d1, y AS d2))))"
)


def _band_pairs(bands: DataFrame, salts: int = 1) -> DataFrame:
    """Candidate pairs from a (doc_id, band, m1, m2) table.

    ``salts=1``: one groupBy on the band signature, triangle expansion
    inside each bucket.  ``salts>1``: the triangle-cell scheme for hot
    band keys — each doc gets a deterministic salt in [0, salts) and is
    replicated into the ``salts`` cells pairing its salt with every
    other; a cell (c1, c2) pairs its c1-docs against its c2-docs (c1=c2
    cells use the triangle).  Every unordered pair lands in exactly one
    cell, a bucket of n docs becomes salts*(salts+1)/2 cells of ~n/salts
    docs, and the per-task state for a hot band shrinks by the salt
    factor while the pair set stays identical (tests/test_skew.py).
    """
    if salts <= 1:
        # Bucket-aggregate pairing: one shuffle of the band table
        # (groupBy on the band signature) instead of the two a self-join
        # would need, then intra-bucket pair expansion as an array
        # expression.  sort_array guarantees d1 < d2 without a
        # comparison join predicate.  Bucket sizes are the LSH collision
        # counts — bounded on real corpora, so the quadratic expansion
        # stays local and small.
        buckets = bands.groupBy("band", "m1", "m2").agg(
            F.sort_array(F.collect_list("doc_id")).alias("ids")
        )
        return (
            buckets.filter(F.size("ids") > 1)
            .select(F.explode(F.expr(_TRIANGLE.format(ids="ids"))).alias("p"))
            .select("p.d1", "p.d2")
            .distinct()
        )
    cells = (
        bands.withColumn("s", F.pmod("doc_id", F.lit(salts)))
        .select(
            "band", "m1", "m2", "doc_id", "s",
            F.explode(F.sequence(F.lit(0), F.lit(salts - 1))).alias("t"),
        )
        .select(
            "band", "m1", "m2", "doc_id", "s",
            F.least("s", "t").alias("c1"), F.greatest("s", "t").alias("c2"),
        )
    )
    buckets = cells.groupBy("band", "m1", "m2", "c1", "c2").agg(
        F.collect_list(F.struct("s", "doc_id")).alias("members")
    )
    ids1 = ("sort_array(transform(filter(members, m -> m.s = c1), "
            "m -> m.doc_id))")
    ids2 = ("sort_array(transform(filter(members, m -> m.s = c2), "
            "m -> m.doc_id))")
    cross = (f"flatten(transform({ids1}, x -> transform({ids2}, "
             "y -> struct(least(x, y) AS d1, greatest(x, y) AS d2))))")
    pairs = F.when(
        F.col("c1") == F.col("c2"), F.expr(_TRIANGLE.format(ids=ids1))
    ).otherwise(F.expr(cross))
    return (
        buckets.select(F.explode(pairs).alias("p"))
        .select("p.d1", "p.d2")
        .distinct()
    )


def _minhash_bands(spark: SparkSession, sf_dir: str,
                   sh: DataFrame | None = None) -> DataFrame:
    sig = minhash_signatures(spark, sf_dir, sh=sh)
    band_structs = F.array(*[
        F.struct(
            F.lit(b * BAND_ROWS).alias("band"),
            F.least(*[F.col(f"mh{b * BAND_ROWS + r}")
                      for r in range(BAND_ROWS)]).alias("m1"),
            F.greatest(*[F.col(f"mh{b * BAND_ROWS + r}")
                         for r in range(BAND_ROWS)]).alias("m2"),
        )
        for b in range(N_PERM // BAND_ROWS)
    ])
    return (
        sig.select("doc_id", F.explode(band_structs).alias("bs"))
        .select("doc_id", "bs.band", "bs.m1", "bs.m2")
    )


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str,
                      salts: int = 1,
                      sh: DataFrame | None = None) -> DataFrame:
    """LSH candidate pairs: docs sharing any band of the MinHash signature.

    Bands of BAND_ROWS rows; with r=2 the band signature is simply the
    (min, max) of its two minhash values — no string assembly needed.
    At 100 TB this is the only pairing operator that survives: its join
    key is the band signature, so work scales with collisions, not docs^2.
    ``salts`` spreads hot band keys across triangle cells (see
    :func:`_band_pairs`) without changing the pair set.
    """
    return _band_pairs(_minhash_bands(spark, sf_dir, sh=sh), salts=salts)


def dedup_minhash_lsh_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The salted variant as a graded query: same oracle, same pair set,
    hot-band state spread across 4x4 triangle cells."""
    return dedup_minhash_lsh(spark, sf_dir, salts=4)


_SIG_COLS = ", ".join(
    f"min(({PERM_A[p]} * h + {PERM_B[p]}) % {MERSENNE}) AS mh{p}"
    for p in range(N_PERM)
)
_BAND_SELECTS = " UNION ALL ".join(
    f"SELECT doc_id, {b * BAND_ROWS} AS band, "
    f"least(mh{b * BAND_ROWS}, mh{b * BAND_ROWS + 1}) AS m1, "
    f"greatest(mh{b * BAND_ROWS}, mh{b * BAND_ROWS + 1}) AS m2 FROM sig"
    for b in range(N_PERM // BAND_ROWS)
)
_MINHASH_SQL = f"""
sh AS (
  SELECT doc_id, ('0x' || substr(md5(shingle), 1, 8))::BIGINT AS h
  FROM shingles
),
sig AS (SELECT doc_id, {_SIG_COLS} FROM sh GROUP BY doc_id),
bands AS ({_BAND_SELECTS})
"""

DEDUP_MINHASH_ORACLE = f"""
WITH {_SHINGLES_SQL.strip()},
{_MINHASH_SQL.strip()}
SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
FROM bands a JOIN bands b
  ON a.band = b.band AND a.m1 = b.m1 AND a.m2 = b.m2
 AND a.doc_id < b.doc_id
"""


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash signature per document (token-hash bit votes).

    Tokens vote +-1 per bit position according to their hash64 bit; the
    signature sets each bit whose vote total is positive.  Near-duplicate
    documents land at small Hamming distance; equality buckets give the
    cheap first-pass grouping.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = F.expr(
        "CASE WHEN length(trim(lower(text))) = 0 THEN array() "
        "ELSE split(trim(lower(text)), '\\\\s+') END"
    )
    tok = (
        d.select("doc_id", F.explode(toks).alias("token"))
        .withColumn("h", hash64(F.col("token")))
    )
    # One aggregation pass: the SIMHASH_BITS bit-votes are parallel
    # conditional-sum expressions over the token hashes (no token x bit
    # row explosion — 16x less shuffle input at corpus scale).
    votes = tok.groupBy("doc_id").agg(*[
        F.sum(F.expr(f"CASE WHEN (shiftright(h, {b}) & 1) = 1 "
                     "THEN 1 ELSE -1 END")).alias(f"v{b}")
        for b in range(SIMHASH_BITS)
    ])
    sig = sum(
        (F.when(F.col(f"v{b}") > 0,
                F.lit(1 << b).cast("bigint")).otherwise(F.lit(0).cast("bigint"))
         for b in range(SIMHASH_BITS)),
        F.lit(0).cast("bigint"),
    )
    return votes.select("doc_id", sig.alias("simhash"))


DEDUP_SIMHASH_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, {hash64_sql('token')} AS h
  FROM (SELECT doc_id, unnest({_TOKENS_SQL}) AS token FROM documents)
),
votes AS (
  SELECT doc_id, bit,
         sum(CASE WHEN (h >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS votes
  FROM tok, unnest(range(0, {SIMHASH_BITS})) AS b(bit)
  GROUP BY 1, 2
)
SELECT doc_id,
       CAST(sum(CASE WHEN votes > 0 THEN 1::BIGINT << bit ELSE 0 END)
            AS BIGINT) AS simhash
FROM votes GROUP BY doc_id
"""


EMB_PLANES = 8      # hyperplanes for the banded embedding LSH
EMB_BAND_ROWS = 2   # planes per band -> 4 bands
EMB_COS_MIN = 0.35  # near-dup cosine threshold (synthetic corpus max ~0.51)


def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup: banded hyperplane-LSH candidates, then
    exact quantized cosine >= EMB_COS_MIN.

    The scale path of semantic dedup: each vector gets 4 band keys (sign
    bits of 2 random hyperplane projections per band); candidate pairs
    share at least one (band, key) — so the self-join key is the band
    signature and cost follows collisions, never vectors^2.  Candidates
    are then verified with the exact integer dot product.  Recall at the
    threshold is 1-(1-p^2)^4 with p = 1 - theta/pi (~0.84 at cos 0.35);
    more planes/bands tighten it without changing the plan shape.
    """
    e = load_table(spark, sf_dir, "embeddings")
    proj = _projections(_qdims(e, "vec_id"), EMB_PLANES)
    band_structs = F.array(*[
        F.struct(
            F.lit(b * EMB_BAND_ROWS).alias("band"),
            sum((F.when(F.col(f"proj{b * EMB_BAND_ROWS + r}") > 0,
                        F.lit(1 << r).cast("bigint"))
                 .otherwise(F.lit(0).cast("bigint"))
                 for r in range(EMB_BAND_ROWS)),
                F.lit(0).cast("bigint")).alias("key"),
        )
        for b in range(EMB_PLANES // EMB_BAND_ROWS)
    ])
    bands = (
        proj.select("vec_id", F.explode(band_structs).alias("bs"))
        .select("vec_id", "bs.band", "bs.key")
    )
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(b, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.key") == F.col("b.key"))
               & (F.col("a.vec_id") < F.col("b.vec_id")))
        .select(F.col("a.vec_id").alias("v1"), F.col("b.vec_id").alias("v2"))
        .distinct()
    )
    vecs = e.select("vec_id", F.expr(_QVEC).alias("qv"))
    e1 = vecs.select(F.col("vec_id").alias("v1"), F.col("qv").alias("qa"))
    e2 = vecs.select(F.col("vec_id").alias("v2"), F.col("qv").alias("qb"))
    # No broadcast hint: the verification side is the FULL embeddings
    # table, which exceeds any broadcast budget at real corpus size.
    # AQE broadcasts it when (and only when) it actually fits; otherwise
    # this is a shuffle hash join keyed on vec_id.
    pairs = cand.join(e1, "v1").join(e2, "v2")
    return (
        pairs.select("v1", "v2", _int_cosine("qa", "qb").alias("cosine"))
        .filter(F.col("cosine") >= EMB_COS_MIN)
    )


DEDUP_EMB_ORACLE = f"""
WITH qv AS ({_qv_sql(d0=True)}),
proj AS ({_proj_sql(EMB_PLANES)}),
bands AS (
  SELECT vec_id, p - (p % {EMB_BAND_ROWS}) AS band,
         CAST(sum(CASE WHEN proj > 0
                  THEN 1::BIGINT << (p % {EMB_BAND_ROWS}) ELSE 0 END)
              AS BIGINT) AS key
  FROM proj GROUP BY 1, 2
),
cand AS (
  SELECT DISTINCT a.vec_id AS v1, b.vec_id AS v2
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id
),
norms AS (SELECT vec_id, sum(v * v) AS n FROM qv GROUP BY 1),
scored AS (
  SELECT c.v1, c.v2,
         round(CAST(sum(a.v * b.v) AS DOUBLE)
               / (sqrt(CAST(max(na.n) AS DOUBLE))
                  * sqrt(CAST(max(nb.n) AS DOUBLE))), 6) AS cosine
  FROM cand c
  JOIN qv a ON a.vec_id = c.v1
  JOIN qv b ON b.vec_id = c.v2 AND b.d = a.d
  JOIN norms na ON na.vec_id = c.v1
  JOIN norms nb ON nb.vec_id = c.v2
  GROUP BY 1, 2
)
SELECT v1, v2, cosine FROM scored WHERE cosine >= {EMB_COS_MIN}
"""


def dedup_connected_components(spark: SparkSession, sf_dir: str,
                               max_iter: int = 25,
                               sh: DataFrame | None = None) -> DataFrame:
    """Cluster near-dup candidate pairs into components; canonical doc =
    min doc_id of the component (isolated docs are their own cluster).

    The dedup endgame: pairwise candidates (here the MinHash-LSH pairs)
    only become a dedup *decision* once grouped into clusters.  Connected
    components run as iterative min-label propagation — each round every
    node takes min(own label, neighbors' labels) via one join + one
    aggregate, converging in graph-diameter rounds (near-dup clusters
    are shallow, so single digits).  This is the Pregel shape on plain
    DataFrames: driver-side loop, executor-side set operations, nothing
    per-row on the driver.

    Each round's label frame is lineage-cut (``cut_lineage``): iterative
    plans otherwise grow by one join+aggregate of *lineage* per round
    (round N re-analyzes rounds 1..N-1 — quadratic planning cost, and
    the printed plan re-derives the LSH pipeline hundreds of times),
    while checkpointing both materializes the frame and truncates its
    lineage to a leaf.  Clusters that cannot eat a full job restart on
    executor loss set a checkpoint directory and every cut switches to
    reliable ``checkpoint()`` (see ``functions/checkpoint.py``).

    The DuckDB oracle computes the same fixpoint as a recursive
    reachability CTE — feasible because test clusters are tiny, while the
    Spark path scales to graphs that would explode an all-pairs closure.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    pairs = dedup_minhash_lsh(spark, sf_dir, sh=sh)
    edges = (
        pairs.select(F.col("d1").alias("src"), F.col("d2").alias("dst"))
        .unionByName(
            pairs.select(F.col("d2").alias("src"), F.col("d1").alias("dst"))
        )
        .transform(cut_lineage)  # LSH pipeline runs exactly once
    )                                  # (materialized by round 1's job)
    # Only vertices incident to an edge can ever change label, so the
    # propagation loop runs on the edge subgraph alone; isolated docs
    # (the overwhelming majority of a mostly-unique corpus) are attached
    # afterwards with label = own id.  On a 100 TB corpus this shrinks
    # every round's join from |corpus| to |near-dup docs|.
    labels = (
        edges.select("src").distinct()
        .select(F.col("src").alias("doc_id"),
                F.col("src").alias("cluster_id"))
        .transform(cut_lineage)  # materialized by round 1's job
    )
    converged = False
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges.src == labels.doc_id)
            .groupBy(F.col("dst").alias("doc_id"))
            .agg(F.min("cluster_id").alias("nmin"))
        )
        # The convergence flag rides the label frame (computed in the
        # same pass), so the check is a filter over the rows — no
        # old-vs-new join.  The checkpoint is LAZY and the flag count
        # is full (no limit): the count computes every partition, which
        # both materializes the checkpoint and answers convergence in
        # ONE job per round instead of the eager-checkpoint-then-count
        # two (r10: halves the loop's fixed job latency; on a cluster
        # the saving is one scheduler round-trip per iteration).
        new_labels = (
            labels.join(neighbor_min, "doc_id")
            .select(
                "doc_id",
                F.least("cluster_id", "nmin").alias("cluster_id"),
                (F.col("nmin") < F.col("cluster_id")).alias("chg"),
            )
            .transform(cut_lineage)
        )
        changed = new_labels.filter("chg").count()
        labels = new_labels.drop("chg")
        if changed == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"connected components did not converge in {max_iter} rounds "
            "(a component's diameter exceeds the iteration budget; raise "
            "max_iter)"
        )
    return docs.join(labels, "doc_id", "left").select(
        "doc_id",
        F.coalesce("cluster_id", F.col("doc_id")).alias("cluster_id"),
    )


#: Unrolled min-label-propagation rounds for the CC oracle.  Empirical
#: rounds-to-fixpoint on the fixture LSH graph: 3 at sf0.001, 2 at
#: sf0.01, 3 at sf0.1 (near-dup clusters are shallow — diameter 2-3);
#: 8 is a ~3× margin.  If a component's diameter ever exceeded the
#: unroll, the oracle does NOT silently grade a wrong fixpoint: the
#: ``labels`` CTE appends (-1, -1) sentinel rows whenever the last two
#: rounds still differ, so the driver's hash compare fails loudly.
_CC_ORACLE_ROUNDS = 8


def _cc_label_rounds() -> str:
    """One CTE per propagation round over edge-incident nodes only:
    ``new(v) = min(old(v), min over edges (u,v) of old(u))`` — the same
    superstep the Spark loop in :func:`dedup_connected_components`
    executes, unrolled to a bounded chain (the ALS/SSSP oracle pattern
    from ``tpch_ext``) instead of DuckDB's recursive all-pairs
    reachability, which took 1-2 min at sf0.01 seeding the closure from
    every document.  Each round is one join + one aggregate over the
    edge subgraph.
    """
    rounds = []
    prev = "l0"
    for i in range(1, _CC_ORACLE_ROUNDS + 1):
        cur = f"l{i}"
        # AS MATERIALIZED is load-bearing: each round references its
        # predecessor twice, so inlining would re-expand the whole
        # LSH pipeline 2^rounds times (observed as a file-handle
        # explosion before DuckDB even planned the query).
        rounds.append(f"""{cur} AS MATERIALIZED (
  SELECT e.dst AS doc_id,
         min(least(ld.cluster_id, ls.cluster_id)) AS cluster_id
  FROM edges e
  JOIN {prev} ls ON ls.doc_id = e.src
  JOIN {prev} ld ON ld.doc_id = e.dst
  GROUP BY e.dst
)""")
        prev = cur
    return ",\n".join(rounds)


#: Shared WITH-prefix: LSH pairs -> undirected edges -> bounded
#: label-propagation rounds.  ``labels`` is the CC fixpoint both the
#: plain CC oracle and the cluster-representative oracle select from
#: (isolated docs attach with label = own id, mirroring the Spark op).
_CC_ORACLE_WITH = f"""
WITH {_SHINGLES_SQL.strip()},
{_MINHASH_SQL.strip()},
pairs AS MATERIALIZED (
  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.m1 = b.m1 AND a.m2 = b.m2
   AND a.doc_id < b.doc_id
),
edges AS MATERIALIZED (
  SELECT d1 AS src, d2 AS dst FROM pairs
  UNION SELECT d2, d1 FROM pairs
),
l0 AS MATERIALIZED (
  SELECT DISTINCT src AS doc_id, src AS cluster_id FROM edges
),
{_cc_label_rounds()},
labels AS (
  SELECT d.doc_id, COALESCE(lk.cluster_id, d.doc_id) AS cluster_id
  FROM documents d
  LEFT JOIN l{_CC_ORACLE_ROUNDS} lk ON d.doc_id = lk.doc_id
  UNION ALL
  SELECT -1 AS doc_id, -1 AS cluster_id
  FROM l{_CC_ORACLE_ROUNDS} a
  JOIN l{_CC_ORACLE_ROUNDS - 1} b ON a.doc_id = b.doc_id
  WHERE a.cluster_id <> b.cluster_id
)
"""

DEDUP_CC_ORACLE = f"""
{_CC_ORACLE_WITH}
SELECT doc_id, cluster_id FROM labels
"""


def dedup_cluster_representative(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """The dedup endgame made actionable: connected components over the
    LSH candidate pairs, plus a deterministic *representative* per
    cluster (longest document, doc_id tie-break) and a drop flag.

    ``dedup_connected_components`` answers "which docs form one
    near-dup group"; this operator answers the question a pipeline
    actually executes on: "which row do I keep".  Keep-longest is the
    common pretraining policy (the longest variant usually subsumes the
    truncated ones).

    Scale shape: the representative choice is one row_number window
    partitioned by cluster — parallel across clusters, and cluster
    sizes are bounded by the near-dup group size, not corpus size.
    """
    cc = dedup_connected_components(spark, sf_dir)
    d = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    sized = cc.join(d, "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("n_chars"), "doc_id"
    )
    reps = (
        sized.select("cluster_id", "doc_id",
                     F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") == 1)
        .select("cluster_id", F.col("doc_id").alias("rep_doc_id"))
    )
    return (
        sized.join(reps, "cluster_id")
        .select(
            "doc_id", "cluster_id", "rep_doc_id",
            (F.col("doc_id") != F.col("rep_doc_id")).alias("is_dup"),
        )
    )


DEDUP_CLUSTER_REP_ORACLE = f"""
{_CC_ORACLE_WITH}
, sized AS (
  SELECT l.doc_id, l.cluster_id, d.n_chars
  FROM labels l JOIN documents d USING (doc_id)
),
reps AS (
  SELECT cluster_id, doc_id AS rep_doc_id
  FROM (
    SELECT cluster_id, doc_id,
           row_number() OVER (PARTITION BY cluster_id
                              ORDER BY n_chars DESC, doc_id) AS rn
    FROM sized
  ) WHERE rn = 1
)
SELECT s.doc_id, s.cluster_id, r.rep_doc_id,
       s.doc_id <> r.rep_doc_id AS is_dup
FROM sized s JOIN reps r USING (cluster_id)
"""


EVAL_MOD = 97       # doc_id % EVAL_MOD == 0 -> held-out eval set


def doc_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination: flag training docs sharing any word
    3-gram with a held-out eval set.

    The benchmark-leakage guard every training corpus needs: the eval
    set here is the deterministic slice ``doc_id % 97 == 0``; in
    production it is the benchmark suite.  Contamination = a left-semi
    join from training shingles to the (distinct, comparatively tiny)
    eval shingle set — Spark broadcasts the eval side, so the training
    corpus is never shuffled at all; cost is one scan of the training
    shingles regardless of corpus size.

    Scale caveat (r7 verdict #4): because the fixture's eval slice is a
    ~1% MODULUS of the corpus, this broadcast grows linearly with the
    corpus and holds only while that slice fits the broadcast
    threshold.  A real benchmark suite is fixed-size (broadcast is the
    right call); an eval set that scales with the corpus should drop
    the ``F.broadcast`` hint and let AQE pick the join — a shuffle
    semi-join on ``shingle`` where only shingle keys move, never
    documents.
    """
    sh = _shingles(spark, sf_dir)
    is_eval = F.col("doc_id") % EVAL_MOD == 0
    eval_sh = sh.filter(is_eval).select("shingle").distinct()
    train_sh = sh.filter(~is_eval)
    contaminated = (
        train_sh.join(F.broadcast(eval_sh), "shingle", "left_semi")
        .select("doc_id").distinct()
    )
    d = load_table(spark, sf_dir, "documents")
    return (
        d.filter(~is_eval)
        .join(contaminated.withColumn("contaminated", F.lit(True)),
              "doc_id", "left")
        .select("doc_id",
                F.coalesce("contaminated", F.lit(False))
                .alias("contaminated"))
    )


DECONTAMINATE_ORACLE = f"""
WITH {_SHINGLES_SQL.strip()},
eval_sh AS (
  SELECT DISTINCT shingle FROM shingles WHERE doc_id % {EVAL_MOD} = 0
),
contaminated AS (
  SELECT DISTINCT doc_id FROM shingles
  WHERE doc_id % {EVAL_MOD} <> 0
    AND shingle IN (SELECT shingle FROM eval_sh)
)
SELECT d.doc_id AS doc_id,
       (c.doc_id IS NOT NULL) AS contaminated
FROM documents d LEFT JOIN contaminated c ON d.doc_id = c.doc_id
WHERE d.doc_id % {EVAL_MOD} <> 0
"""


LEV_MAX = 3


def dedup_fuzzy_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy matching: part-name pairs within edit distance 3.

    The entity-resolution shape: collapse the corpus to DISTINCT names
    first (the cheap exact dedup), block on a stable key (here the noun
    — last token — of the name) so candidate pairs are generated only
    inside blocks, then score survivors with levenshtein.  Cost is
    Σ|block|², never |corpus|² — the blocking key takes the role the
    band signature plays in MinHash-LSH.  levenshtein is the classical
    DP edit distance in both engines, so the oracle is exact.
    """
    p = load_table(spark, sf_dir, "part")
    names = (
        p.select(F.col("p_name").alias("name"))
        .distinct()
        .withColumn("noun", F.element_at(F.split("name", " "), -1))
    )
    a, b = names.alias("a"), names.alias("b")
    return (
        a.join(b, (F.col("a.noun") == F.col("b.noun"))
               & (F.col("a.name") < F.col("b.name")))
        .select(F.col("a.name").alias("n1"), F.col("b.name").alias("n2"),
                F.levenshtein(F.col("a.name"), F.col("b.name"))
                .alias("dist"))
        .filter(F.col("dist") <= LEV_MAX)
    )


DEDUP_FUZZY_ORACLE = f"""
WITH names AS (
  SELECT DISTINCT p_name AS name,
         split_part(p_name, ' ', -1) AS noun
  FROM part
)
SELECT a.name AS n1, b.name AS n2,
       CAST(levenshtein(a.name, b.name) AS INT) AS dist
FROM names a JOIN names b ON a.noun = b.noun AND a.name < b.name
WHERE levenshtein(a.name, b.name) <= {LEV_MAX}
"""


#: Translate-based simplified American Soundex (the common SQL
#: variant): letter -> digit map over a-z; 0 marks vowels/h/w/y, which
#: are dropped after run-collapsing.  Both engines build the code from
#: the SAME column algebra, so parity is by construction — there is no
#: builtin to disagree with (Spark's F.soundex has no DuckDB twin).
_SOUNDEX_MAP = "01230120022455012623010202"
_SOUNDEX_ALPHA = "abcdefghijklmnopqrstuvwxyz"


def _soundex_expr(col: F.Column) -> F.Column:
    """Soundex code of a lowercase word as pure Catalyst string algebra:
    translate to digits, collapse runs (fixed replace chain — each pass
    halves a run, 5 passes cover words to length 32), drop the first
    code, drop zeros, pad to first-letter + 3 digits."""
    d = F.translate(col, _SOUNDEX_ALPHA, _SOUNDEX_MAP)
    for _ in range(5):
        for digit in "0123456":
            d = F.replace(d, F.lit(digit * 2), F.lit(digit))
    tail = F.replace(F.substring(d, 2, 32), F.lit("0"), F.lit(""))
    return F.concat(
        F.upper(F.substring(col, 1, 1)),
        F.substring(F.concat(tail, F.lit("000")), 1, 3),
    )


def _soundex_sql(expr: str) -> str:
    """DuckDB rendering of the SAME construction, operand for operand."""
    d = f"translate({expr}, '{_SOUNDEX_ALPHA}', '{_SOUNDEX_MAP}')"
    for _ in range(5):
        for digit in "0123456":
            d = f"replace({d}, '{digit * 2}', '{digit}')"
    return (f"upper(substr({expr}, 1, 1)) || "
            f"substr(replace(substr({d}, 2, 32), '0', '') || '000', 1, 3)")


def dedup_phonetic_blocking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phonetic-key blocking for entity resolution: block part names on
    the SOUNDEX of their final token instead of the token itself — the
    classic way misspelled/variant name records ("SMITH"/"SMYTHE") land
    in the same candidate block when exact-key blocking
    (:func:`dedup_fuzzy_names`) would miss them.  Survivors are scored
    with the same edit-distance gate.

    Cost shape is the blocking contract again: distinct names first,
    pairs generated only inside phonetic blocks (Σ|block|², never
    |corpus|²), levenshtein only on candidates.  The soundex key itself
    is one chain of translate/replace string expressions — map-side,
    no UDF, identical algebra in both engines.
    """
    p = load_table(spark, sf_dir, "part")
    names = (
        p.select(F.col("p_name").alias("name"))
        .distinct()
        .withColumn("noun", F.element_at(F.split("name", " "), -1))
        .withColumn("code", _soundex_expr(F.col("noun")))
    )
    a, b = names.alias("a"), names.alias("b")
    return (
        a.join(b, (F.col("a.code") == F.col("b.code"))
               & (F.col("a.name") < F.col("b.name")))
        .select(F.col("a.code").alias("code"),
                F.col("a.name").alias("n1"), F.col("b.name").alias("n2"),
                F.levenshtein(F.col("a.name"), F.col("b.name"))
                .alias("dist"))
        .filter(F.col("dist") <= LEV_MAX)
    )


DEDUP_PHONETIC_ORACLE = f"""
WITH names AS (
  SELECT name, {_soundex_sql('noun')} AS code
  FROM (
    SELECT DISTINCT p_name AS name, split_part(p_name, ' ', -1) AS noun
    FROM part
  )
)
SELECT a.code AS code, a.name AS n1, b.name AS n2,
       CAST(levenshtein(a.name, b.name) AS INT) AS dist
FROM names a JOIN names b ON a.code = b.code AND a.name < b.name
WHERE levenshtein(a.name, b.name) <= {LEV_MAX}
"""


def dedup_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall of the MinHash-LSH candidate pairs against the
    exact-Jaccard (>= 0.2) ground truth — the measurement harness that
    turns "approximate dedup" into a number, exactly as
    :func:`ann_ivf_recall` does for the ANN index.

    Both pair sets are produced by already-scale-safe operators (inverted
    index / band buckets); the comparison is one full-outer join on the
    pair key and a single global aggregate.  At corpus scale you run this
    on a sampled partition to *choose* the band configuration before
    committing the full dedup job.
    """
    exact = _jaccard_pairs(_shingles(spark, sf_dir)) \
        .select("d1", "d2", F.lit(1).alias("in_exact"))
    lsh = dedup_minhash_lsh(spark, sf_dir) \
        .select("d1", "d2", F.lit(1).alias("in_lsh"))
    j = exact.join(lsh, ["d1", "d2"], "full_outer")
    hit = (F.col("in_exact").isNotNull()
           & F.col("in_lsh").isNotNull()).cast("bigint")
    return j.agg(
        F.count("in_exact").alias("n_exact"),
        F.count("in_lsh").alias("n_lsh"),
        F.sum(hit).alias("n_hits"),
    ).select(
        "n_exact", "n_lsh", "n_hits",
        (F.floor(F.col("n_hits").cast("double")
                 / F.col("n_lsh") * 10000.0) / 10000.0).alias("precision"),
        (F.floor(F.col("n_hits").cast("double")
                 / F.col("n_exact") * 10000.0) / 10000.0).alias("recall"),
    )


DEDUP_LSH_RECALL_ORACLE = f"""
WITH {_SHINGLES_SQL.strip()},
sizes AS (SELECT doc_id, count(*) AS n FROM shingles GROUP BY doc_id),
jpairs AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
  FROM shingles a JOIN shingles b
    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
exact AS (
  SELECT d1, d2 FROM jpairs
  JOIN sizes sa ON d1 = sa.doc_id
  JOIN sizes sb ON d2 = sb.doc_id
  WHERE floor(CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) * 10000.0)
        / 10000.0 >= 0.2
),
{_MINHASH_SQL.strip()},
lsh AS (
  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.m1 = b.m1 AND a.m2 = b.m2
   AND a.doc_id < b.doc_id
),
j AS (
  SELECT e.d1 AS ed1, l.d1 AS ld1
  FROM exact e FULL JOIN lsh l ON e.d1 = l.d1 AND e.d2 = l.d2
)
SELECT count(ed1) AS n_exact, count(ld1) AS n_lsh,
       CAST(sum(CASE WHEN ed1 IS NOT NULL AND ld1 IS NOT NULL
                THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
       floor(CAST(sum(CASE WHEN ed1 IS NOT NULL AND ld1 IS NOT NULL
                      THEN 1 ELSE 0 END) AS DOUBLE)
             / count(ld1) * 10000.0) / 10000.0 AS precision,
       floor(CAST(sum(CASE WHEN ed1 IS NOT NULL AND ld1 IS NOT NULL
                      THEN 1 ELSE 0 END) AS DOUBLE)
             / count(ed1) * 10000.0) / 10000.0 AS recall
FROM j
"""


SPAN_TOKENS = 16    # fixed-width span granularity for block-level dedup


def dedup_span_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-span ratio at SPAN_TOKENS granularity —
    the fixed-width form of line-level dedup (RefinedWeb/Gopher style):
    a span is "duplicated" when its exact text occurs anywhere else in
    the corpus (another doc or a repeat within the same doc).

    Spans are non-overlapping SPAN_TOKENS-token blocks built with array
    slicing before the explode; the occurrence count rides ONE window
    shuffle on the span text (at corpus scale you'd key the exchange on
    a span hash instead of the raw text — same plan, smaller rows).
    """
    d = load_table(spark, sf_dir, "documents")
    toks = F.expr(
        "CASE WHEN length(trim(lower(text))) = 0 THEN array() "
        "ELSE split(trim(lower(text)), '\\\\s+') END"
    )
    blocks = F.expr(
        f"transform(sequence(0, size(toks) div {SPAN_TOKENS} - 1), "
        f"i -> concat_ws(' ', slice(toks, i * {SPAN_TOKENS} + 1, "
        f"{SPAN_TOKENS})))"
    )
    blk = (
        d.select("doc_id", toks.alias("toks"))
        .filter(F.size("toks") >= SPAN_TOKENS)
        .select("doc_id", F.explode(blocks).alias("block"))
    )
    w = Window.partitionBy("block")
    return (
        blk.withColumn("cnt", F.count(F.lit(1)).over(w))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum((F.col("cnt") >= 2).cast("bigint")).alias("n_dup_spans"),
        )
        .select(
            "doc_id", "n_spans", "n_dup_spans",
            (F.floor(F.col("n_dup_spans").cast("double")
                     / F.col("n_spans") * 10000.0) / 10000.0)
            .alias("dup_ratio"),
        )
    )


DEDUP_SPAN_ORACLE = f"""
WITH blocks AS (
  SELECT doc_id,
         array_to_string(list_slice(toks, i * {SPAN_TOKENS} + 1,
                                    i * {SPAN_TOKENS} + {SPAN_TOKENS}), ' ')
         AS block
  FROM (SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents),
       unnest(range(0, len(toks) // {SPAN_TOKENS})) AS t(i)
  WHERE len(toks) >= {SPAN_TOKENS}
),
counted AS (
  SELECT doc_id, count(*) OVER (PARTITION BY block) AS cnt FROM blocks
)
SELECT doc_id, count(*) AS n_spans,
       CAST(sum(CASE WHEN cnt >= 2 THEN 1 ELSE 0 END) AS BIGINT)
       AS n_dup_spans,
       floor(CAST(sum(CASE WHEN cnt >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*) * 10000.0) / 10000.0 AS dup_ratio
FROM counted GROUP BY doc_id
"""


def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest dedup: new batch vs the already-ingested corpus.

    THE production dedup shape at 100 TB: a new crawl/batch (here: every
    source but ``src0``) is admitted only if its content fingerprint is
    (a) absent from the existing corpus (``src0``) and (b) first within
    the batch itself.  Status precedence: corpus duplicate beats
    in-batch duplicate.

    Scale: the corpus contributes ONLY its distinct fingerprint column
    to a left join — at real scale that column is a pre-computed,
    bucketed fingerprint index, so the join is bucket-local and the
    corpus text is never read, let alone shuffled.  The in-batch
    first-wins window shuffles just the new batch, partitioned by
    fingerprint (duplicate-cluster-sized groups, no skew).
    """
    d = load_table(spark, sf_dir, "documents")
    new = d.filter(F.col("source") != "src0").select(
        "doc_id", "source", fingerprint(F.col("text")).alias("fp")
    )
    corpus_fps = (
        d.filter(F.col("source") == "src0")
        .select(fingerprint(F.col("text")).alias("fp"))
        .distinct()
        .withColumn("in_corpus", F.lit(True))
    )
    first_in_batch = F.min("doc_id").over(Window.partitionBy("fp"))
    return (
        new.join(corpus_fps, "fp", "left")
        .select(
            "doc_id", "source", "fp",
            F.when(F.col("in_corpus").isNotNull(), F.lit("dup_of_corpus"))
            .when(F.col("doc_id") != first_in_batch, F.lit("dup_in_batch"))
            .otherwise(F.lit("kept")).alias("status"),
        )
    )


def dedup_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered incremental dedup: the corpus fingerprint set
    is summarized into a broadcast Bloom bit set; batch documents the
    filter definitely excludes skip the corpus-index join entirely, and
    only "maybe" candidates pay the exact verification probe.

    The production point at 100 TB: the corpus index join is the
    expensive half of :func:`dedup_incremental` (a shuffle against a
    billion-row fingerprint index), while the Bloom set is a few MiB
    that broadcasts — so the join's probe side shrinks to the true-dup
    rate plus the bounded false-positive rate.  Because Bloom filters
    have NO false negatives, the final statuses are *exactly*
    :func:`dedup_incremental`'s (the oracle recomputes the same bits
    and asserts it); ``bloom_pruned``/``bloom_false_positive`` expose
    the pruning economics per row.
    """
    from .sketches import BLOOM_K, BLOOM_M

    d = load_table(spark, sf_dir, "documents")
    new = d.filter(F.col("source") != "src0").select(
        "doc_id", "source", fingerprint(F.col("text")).alias("fp")
    )
    corpus_fps = (
        d.filter(F.col("source") == "src0")
        .select(fingerprint(F.col("text")).alias("fp"))
        .distinct()
        .transform(cut_lineage)   # feeds bit build + verify join
    )
    icol = F.explode(F.sequence(F.lit(0), F.lit(BLOOM_K - 1))).alias("i")
    bit = hash64(
        F.concat(F.col("i").cast("string"), F.lit(":"), F.col("fp"))
    ) % BLOOM_M
    bits = corpus_fps.select(icol, "fp").select(bit.alias("bit")) \
        .distinct()
    probe_bits = new.select("doc_id", "source", "fp", icol) \
        .select("doc_id", "source", "fp", bit.alias("bit"))
    probed = (
        probe_bits.join(
            F.broadcast(bits.withColumn("set_", F.lit(1))), "bit", "left"
        )
        .groupBy("doc_id", "source", "fp")
        .agg((F.count("set_") == BLOOM_K).alias("maybe"))
    )
    cand = probed.filter(F.col("maybe"))
    verified = cand.join(
        corpus_fps.withColumn("in_corpus", F.lit(1)), "fp", "left"
    )
    fastpath = probed.filter(~F.col("maybe")) \
        .withColumn("in_corpus", F.lit(None).cast("int"))
    merged = verified.unionByName(fastpath)
    first_in_batch = F.min("doc_id").over(Window.partitionBy("fp"))
    return merged.select(
        "doc_id", "source", "fp",
        F.when(F.col("in_corpus").isNotNull(), F.lit("dup_of_corpus"))
        .when(F.col("doc_id") != first_in_batch, F.lit("dup_in_batch"))
        .otherwise(F.lit("kept")).alias("status"),
        (~F.col("maybe")).cast("int").alias("bloom_pruned"),
        (F.col("maybe") & F.col("in_corpus").isNull())
        .cast("int").alias("bloom_false_positive"),
    )


def _bloom_prefilter_oracle() -> str:
    from .sketches import BLOOM_K, BLOOM_M

    bit_sql = (hash64_sql("CAST(i AS VARCHAR) || ':' || fp")
               + f" % {BLOOM_M}")
    return f"""
WITH new_batch AS (
  SELECT doc_id, source, md5({_NORM_SQL}) AS fp
  FROM documents WHERE source <> 'src0'
),
corpus AS (
  SELECT DISTINCT md5({_NORM_SQL}) AS fp FROM documents
  WHERE source = 'src0'
),
bits AS (
  SELECT DISTINCT {bit_sql} AS bit
  FROM corpus, unnest(range(0, {BLOOM_K})) AS ii(i)
),
probe_bits AS (
  SELECT doc_id, source, fp, {bit_sql} AS bit
  FROM new_batch, unnest(range(0, {BLOOM_K})) AS ii(i)
),
probed AS (
  SELECT pb.doc_id, pb.source, pb.fp,
         count(b.bit) = {BLOOM_K} AS maybe
  FROM probe_bits pb LEFT JOIN bits b ON pb.bit = b.bit
  GROUP BY 1, 2, 3
),
merged AS (
  SELECT p.doc_id, p.source, p.fp, p.maybe,
         CASE WHEN p.maybe THEN c.fp END AS corpus_fp
  FROM probed p LEFT JOIN corpus c ON p.fp = c.fp
)
SELECT doc_id, source, fp,
       CASE WHEN corpus_fp IS NOT NULL THEN 'dup_of_corpus'
            WHEN doc_id <> min(doc_id) OVER (PARTITION BY fp)
              THEN 'dup_in_batch'
            ELSE 'kept' END AS status,
       CAST(NOT maybe AS INT) AS bloom_pruned,
       CAST(maybe AND corpus_fp IS NULL AS INT) AS bloom_false_positive
FROM merged
"""


DEDUP_BLOOM_PREFILTER_ORACLE = _bloom_prefilter_oracle()


DEDUP_INCREMENTAL_ORACLE = f"""
WITH new_batch AS (
  SELECT doc_id, source, md5({_NORM_SQL}) AS fp
  FROM documents WHERE source <> 'src0'
),
corpus AS (
  SELECT DISTINCT md5({_NORM_SQL}) AS fp FROM documents
  WHERE source = 'src0'
)
SELECT n.doc_id, n.source, n.fp,
       CASE WHEN c.fp IS NOT NULL THEN 'dup_of_corpus'
            WHEN n.doc_id <> min(n.doc_id) OVER (PARTITION BY n.fp)
              THEN 'dup_in_batch'
            ELSE 'kept' END AS status
FROM new_batch n LEFT JOIN corpus c ON n.fp = c.fp
"""


def dedup_incremental_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental *near*-dup: new batch vs the corpus's LSH band index.

    The approximate sibling of :func:`dedup_incremental` — the shape a
    production crawl actually needs, since exact fingerprints miss
    boilerplate-wrapped and lightly-edited recrawls.  Every document
    contributes its MinHash band signatures once; the corpus side
    (``src0``) acts as the *band-signature index* (at 100 TB a
    maintained index table, bucketed by band signature, built
    incrementally at each ingest — the corpus text is never re-read),
    and the new batch probes it with an equi-join on the signature.
    Candidate volume follows collisions, never |batch| x |corpus|.

    Output: every batch document with its corpus-candidate count, the
    smallest matching corpus doc_id (deterministic representative), and
    the near-dup verdict.  Documents too short to shingle produce no
    bands and fall through as not-near-dup, preserved by the left join.
    """
    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    bands = _minhash_bands(spark, sf_dir).join(d, "doc_id")
    batch_bands = bands.filter(F.col("source") != "src0")
    corpus_idx = bands.filter(F.col("source") == "src0").select(
        "band", "m1", "m2", F.col("doc_id").alias("corpus_doc_id")
    )
    cand = (
        batch_bands.join(corpus_idx, ["band", "m1", "m2"])
        .select("doc_id", "corpus_doc_id")
        .distinct()
    )
    agg = cand.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_corpus_candidates"),
        F.min("corpus_doc_id").alias("first_corpus_match"),
    )
    base = d.filter(F.col("source") != "src0")
    return base.join(agg, "doc_id", "left").select(
        "doc_id", "source",
        F.coalesce(F.col("n_corpus_candidates"), F.lit(0)).cast("bigint")
        .alias("n_corpus_candidates"),
        F.col("first_corpus_match").cast("bigint")
        .alias("first_corpus_match"),
        F.col("n_corpus_candidates").isNotNull().alias("is_near_dup"),
    )


DEDUP_INCREMENTAL_LSH_ORACLE = f"""
WITH {_SHINGLES_SQL.strip()},
{_MINHASH_SQL.strip()},
src AS (SELECT doc_id, source FROM documents),
batch_bands AS (
  SELECT b.* FROM bands b JOIN src USING (doc_id) WHERE source <> 'src0'
),
corpus_bands AS (
  SELECT b.* FROM bands b JOIN src USING (doc_id) WHERE source = 'src0'
),
cand AS (
  SELECT DISTINCT bb.doc_id AS doc_id, cb.doc_id AS corpus_doc_id
  FROM batch_bands bb
  JOIN corpus_bands cb
    ON bb.band = cb.band AND bb.m1 = cb.m1 AND bb.m2 = cb.m2
),
agg AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_corpus_candidates,
         CAST(min(corpus_doc_id) AS BIGINT) AS first_corpus_match
  FROM cand GROUP BY 1
)
SELECT d.doc_id, d.source,
       COALESCE(a.n_corpus_candidates, 0) AS n_corpus_candidates,
       a.first_corpus_match,
       a.n_corpus_candidates IS NOT NULL AS is_near_dup
FROM src d LEFT JOIN agg a ON a.doc_id = d.doc_id
WHERE d.source <> 'src0'
"""


#: Doc-sampling rate in thousandths for the dup-rate estimator
#: (250 = 25%, so the 1/p² pair scale-up is the exact integer 16).
DUPRATE_P_MILLI = 250
_DUPRATE_SCALE = 1000**2 // DUPRATE_P_MILLI**2   # 1/p² = 16


def dedup_rate_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled duplicate-rate estimate — the cost-model probe a 100 TB
    deployment runs BEFORE committing to a full dedup pass (the DOULION
    idea applied to duplicate pairs: a dup pair survives doc-sampling at
    rate p with probability p², so ``pairs_sampled / p²`` is unbiased).

    The coin is a deterministic md5 gate on ``doc_id`` (reproducible in
    DuckDB, re-shard-stable); the sampled side runs the same exact
    fingerprint grouping as ``dedup_exact``.  p = 0.25 makes the
    scale-up the exact integer 16 — the estimate is BIGINT end-to-end.
    Accuracy vs the exact pair count is pinned by
    ``tests/test_curation.py::test_dedup_rate_estimate_error_bound``.
    """
    return _dup_rate_estimate(load_table(spark, sf_dir, "documents"))


def _dup_rate_estimate(d: DataFrame) -> DataFrame:
    """Core estimator over any (doc_id, text) frame — factored out so
    the accuracy contract test can drive it with a synthetic corpus of
    known duplicate structure (the fixture corpus has almost no exact
    dups, which is realistic but makes error bounds degenerate)."""
    coin = F.pmod(
        hash64(F.concat(F.lit("dr:"), F.col("doc_id").cast("string"))),
        F.lit(1000),
    )
    sample = d.filter(coin < DUPRATE_P_MILLI).select(
        "doc_id", fingerprint(F.col("text")).alias("fp")
    )
    pairs_s = (
        sample.groupBy("fp").agg(F.count(F.lit(1)).alias("k"))
        .agg(
            F.count(F.lit(1)).alias("n_fps_sampled"),
            F.sum(F.expr("k * (k - 1) DIV 2")).alias("dup_pairs_sampled"),
            F.sum("k").alias("n_docs_sampled"),
        )
    )
    totals = d.agg(F.count(F.lit(1)).alias("n_docs"))
    return pairs_s.crossJoin(F.broadcast(totals)).select(
        "n_docs", "n_docs_sampled", "n_fps_sampled", "dup_pairs_sampled",
        (F.col("dup_pairs_sampled") * F.lit(_DUPRATE_SCALE))
        .cast("bigint").alias("dup_pairs_est"),
    )


DEDUP_RATE_EST_ORACLE = f"""
WITH sample AS (
  SELECT doc_id, md5({_NORM_SQL}) AS fp FROM documents
  WHERE {hash64_sql("'dr:' || CAST(doc_id AS VARCHAR)")} % 1000
        < {DUPRATE_P_MILLI}
),
grp AS (
  SELECT fp, count(*) AS k FROM sample GROUP BY 1
),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_fps_sampled,
         CAST(sum(k * (k - 1) // 2) AS BIGINT) AS dup_pairs_sampled,
         CAST(sum(k) AS BIGINT) AS n_docs_sampled
  FROM grp
)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_docs,
       n_docs_sampled, n_fps_sampled, dup_pairs_sampled,
       CAST(dup_pairs_sampled * {_DUPRATE_SCALE} AS BIGINT)
         AS dup_pairs_est
FROM agg
"""


def corpus_ngram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set n-gram coverage — decontamination's complement: for every
    held-out eval document, the fraction of its distinct word-3-grams
    that occur ANYWHERE in the training corpus.  Decontamination asks
    "does training leak into eval"; coverage asks "does the corpus even
    speak eval's language" — the corpus-adequacy number a model team
    reads before blaming the sampler for a bad benchmark.

    Scale: the eval slice here is ``doc_id % EVAL_MOD == 0`` (~1% of
    corpus shingles), so the broadcast holds only while that slice fits
    the broadcast threshold — a fixture-friendly hint, not a 100 TB
    invariant.  At the 100 TB target the eval side grows with the
    corpus: drop the ``F.broadcast`` and let AQE pick the join (a
    shuffle semi-join on ``shingle`` is the real shape; the training
    corpus is still scanned once, and only shingle keys shuffle — never
    documents).  Integer ppm readout.  (Real decontamination against a
    FIXED benchmark suite — ``doc_decontaminate`` — does stay
    broadcast-sized, since benchmarks don't grow with the corpus.)
    """
    sh = _shingles(spark, sf_dir)
    is_eval = F.col("doc_id") % EVAL_MOD == 0
    eval_sh = sh.filter(is_eval).transform(cut_lineage)
    covered = (
        sh.filter(~is_eval)
        .join(F.broadcast(eval_sh.select("shingle").distinct()),
              "shingle", "left_semi")
        .select("shingle").distinct()
    )
    return (
        eval_sh
        .join(covered.withColumn("cov", F.lit(1)), "shingle", "left")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shingles"),
             F.coalesce(F.sum("cov"), F.lit(0)).cast("long")
             .alias("n_covered"))
        .select(
            "doc_id", "n_shingles", "n_covered",
            F.expr("(1000000 * n_covered) div n_shingles")
            .alias("coverage_ppm"),
        )
    )


NGRAM_COVERAGE_ORACLE = f"""
WITH {_SHINGLES_SQL.strip()},
eval_sh AS (
  SELECT doc_id, shingle FROM shingles WHERE doc_id % {EVAL_MOD} = 0
),
covered AS (
  SELECT DISTINCT s.shingle
  FROM shingles s
  WHERE s.doc_id % {EVAL_MOD} <> 0
    AND s.shingle IN (SELECT shingle FROM eval_sh)
)
SELECT e.doc_id,
       CAST(count(*) AS BIGINT) AS n_shingles,
       CAST(count(c.shingle) AS BIGINT) AS n_covered,
       (1000000 * CAST(count(c.shingle) AS BIGINT)) // count(*)
         AS coverage_ppm
FROM eval_sh e LEFT JOIN covered c ON e.shingle = c.shingle
GROUP BY 1
"""


#: Anchor gram length for substring-duplication detection: a shared
#: span shorter than this is invisible; every span >= SUBSTR_L chars is
#: detected exactly (stride 1).  Production substring dedup uses 50-100
#: token anchors (Lee et al. 2022); 30 chars fits the fixture docs.
SUBSTR_L = 30


def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT substring-duplication detection (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better" — the
    suffix-array ExactSubstr dedup, re-expressed relationally): for
    every ordered doc pair sharing at least one SUBSTR_L-char gram,
    the number of distinct shared anchor grams and the length of the
    LONGEST exactly-shared character span.

    Relational shape instead of a suffix array: every char position
    emits its L-gram's hash64 (one row per position — the text is never
    re-shuffled, only 8-byte anchors); anchors join on equality
    (collision-bounded, the LSH-bands argument); aligned matches on one
    diagonal (pa − pb) with consecutive positions form gaps-and-islands
    runs, and a run of length m anchors is an exactly-shared span of
    L + m − 1 chars.  Within-pair work is bounded by true duplication,
    not document length.

    At 100 TB: anchor rows scale with corpus CHARS — winnowing (keep
    only window-minimum anchor hashes) or a position stride S drops the
    constant while still catching every span >= L + S − 1; the join
    stays collision-bounded either way.  Self-pairs (within-doc
    repetition) are excluded here (``doc_repetition_signals`` covers
    within-doc); hash64 anchor collisions are the standard accepted
    false-positive rate (~n²/2⁶⁰).
    """
    d = load_table(spark, sf_dir, "documents") \
        .filter(F.length("text") >= SUBSTR_L)
    grams = d.select(
        "doc_id",
        F.explode(F.expr(
            f"transform(sequence(1, length(text) - {SUBSTR_L} + 1), "
            f"i -> struct(i AS pos, "
            f"substring(text, i, {SUBSTR_L}) AS gram))"
        )).alias("g"),
    ).select("doc_id", F.col("g.pos").alias("pos"),
             hash64(F.col("g.gram")).alias("gh"))
    a = grams.alias("a")
    b = grams.alias("b")
    hits = a.join(b, (F.col("a.gh") == F.col("b.gh"))
                  & (F.col("a.doc_id") < F.col("b.doc_id"))).select(
        F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"),
        F.col("a.gh").alias("gh"),
        F.col("a.pos").alias("pa"), F.col("b.pos").alias("pb"),
    ).transform(cut_lineage)   # feeds the run windows + the count
    shared = hits.groupBy("d1", "d2").agg(
        F.countDistinct("gh").alias("n_shared_grams"))
    w = Window.partitionBy("d1", "d2", "diag").orderBy("pa")
    runs = (
        hits.select("d1", "d2", (F.col("pa") - F.col("pb")).alias("diag"),
                    "pa").distinct()
        .withColumn("grp", F.col("pa") - F.row_number().over(w))
        .groupBy("d1", "d2", "diag", "grp")
        .agg(F.count(F.lit(1)).alias("run_len"))
        .groupBy("d1", "d2")
        .agg((F.max("run_len") + F.lit(SUBSTR_L) - 1).cast("bigint")
             .alias("longest_span_chars"))
    )
    return shared.join(runs, ["d1", "d2"])


SUBSTRING_SPANS_ORACLE = f"""
WITH grams AS (
  SELECT doc_id, CAST(i AS BIGINT) AS pos,
         {hash64_sql(f"substr(text, i, {SUBSTR_L})")} AS gh
  FROM documents
  CROSS JOIN UNNEST(range(1, length(text) - {SUBSTR_L} + 2)) AS u(i)
  WHERE length(text) >= {SUBSTR_L}
),
hits AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, a.gh, a.pos AS pa, b.pos AS pb
  FROM grams a JOIN grams b
    ON a.gh = b.gh AND a.doc_id < b.doc_id
),
shared AS (
  SELECT d1, d2, CAST(count(DISTINCT gh) AS BIGINT) AS n_shared_grams
  FROM hits GROUP BY 1, 2
),
isl AS (
  SELECT d1, d2, diag, pa,
         pa - row_number() OVER (PARTITION BY d1, d2, diag
                                 ORDER BY pa) AS grp
  FROM (SELECT DISTINCT d1, d2, pa - pb AS diag, pa FROM hits)
),
runs AS (
  SELECT d1, d2,
         CAST(max(run_len) + {SUBSTR_L} - 1 AS BIGINT)
           AS longest_span_chars
  FROM (SELECT d1, d2, diag, grp, count(*) AS run_len
        FROM isl GROUP BY 1, 2, 3, 4)
  GROUP BY 1, 2
)
SELECT s.d1, s.d2, s.n_shared_grams, r.longest_span_chars
FROM shared s JOIN runs r ON s.d1 = r.d1 AND s.d2 = r.d2
"""


#: Winnowing window (Schleimer et al. 2003, the MOSS fingerprinter):
#: keeping only each window's minimum anchor hash guarantees detection
#: of every shared span >= SUBSTR_L + WINNOW_W - 1 chars while keeping
#: ~2/(W+1) of the anchor rows.
WINNOW_W = 8


def dedup_substring_winnowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowed substring-duplication detection — the 100 TB form of
    :func:`dedup_substring_spans` with the volume knob made real
    instead of a docstring claim: each document keeps only the MINIMUM
    anchor hash of every ``WINNOW_W``-position window (ties broken by
    rightmost position, the robust-winnowing rule), cutting anchor rows
    to ~2/(W+1) while guaranteeing any exactly-shared span of at least
    ``SUBSTR_L + WINNOW_W − 1`` chars still collides (both documents
    must select the same minimum inside a fully-shared window).

    Emits per colliding pair the count of distinct shared winnowed
    fingerprints.  Span-length reconstruction stays with the exact
    variant; the contract between the two —
    winnowed pairs ⊆ exact pairs, and every exact pair whose span meets
    the guarantee appears here — is pinned by
    ``tests/test_curation.py::test_winnowing_detection_contract``.

    Shapes: the window minimum is one bounded window frame per document
    (rows-between over positions — partition size is document length,
    never corpus); everything after runs on the winnowed ~2/(W+1)
    subset, and the pair join is collision-bounded like the exact
    variant.
    """
    d = load_table(spark, sf_dir, "documents") \
        .filter(F.length("text") >= SUBSTR_L)
    grams = d.select(
        "doc_id",
        F.explode(F.expr(
            f"transform(sequence(1, length(text) - {SUBSTR_L} + 1), "
            f"i -> struct(i AS pos, "
            f"substring(text, i, {SUBSTR_L}) AS gram))"
        )).alias("g"),
    ).select("doc_id", F.col("g.pos").alias("pos"),
             hash64(F.col("g.gram")).alias("gh"))
    # TRUE winnowing: every full window of W consecutive anchors
    # selects its minimum hash, rightmost position on ties (struct-min
    # over (gh, -pos) — lexicographic struct ordering gives min hash,
    # then max position).  Selection is per-window, so a window fully
    # inside a shared region picks the SAME fingerprint in both
    # documents — that is the detection guarantee; a per-position
    # neighbor-comparison shortcut would make selection depend on
    # hashes outside the shared region and silently weaken it.
    frame = Window.partitionBy("doc_id").orderBy("pos") \
        .rowsBetween(Window.currentRow, WINNOW_W - 1)
    sel = grams.select(
        "doc_id",
        F.min(F.struct(F.col("gh"), (-F.col("pos")).alias("np")))
        .over(frame).alias("fp"),
        F.count(F.lit(1)).over(frame).alias("wlen"),
    ).filter(F.col("wlen") == WINNOW_W) \
        .select("doc_id", F.col("fp.gh").alias("gh")).distinct()
    a = sel.alias("a")
    b = sel.alias("b")
    return a.join(b, (F.col("a.gh") == F.col("b.gh"))
                  & (F.col("a.doc_id") < F.col("b.doc_id"))).groupBy(
        F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"),
    ).agg(F.countDistinct(F.col("a.gh")).alias("n_shared_fps"))


SUBSTRING_WINNOW_ORACLE = f"""
WITH grams AS (
  SELECT doc_id, CAST(i AS BIGINT) AS pos,
         {hash64_sql(f"substr(text, i, {SUBSTR_L})")} AS gh
  FROM documents
  CROSS JOIN UNNEST(range(1, length(text) - {SUBSTR_L} + 2)) AS u(i)
  WHERE length(text) >= {SUBSTR_L}
),
marked AS (
  SELECT doc_id,
         min({{'g': gh, 'np': -pos}}) OVER (
           PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN CURRENT ROW
           AND {WINNOW_W - 1} FOLLOWING) AS fp,
         count(*) OVER (
           PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN CURRENT ROW
           AND {WINNOW_W - 1} FOLLOWING) AS wlen
  FROM grams
),
sel AS (
  SELECT DISTINCT doc_id, fp.g AS gh FROM marked
  WHERE wlen = {WINNOW_W}
)
SELECT a.doc_id AS d1, b.doc_id AS d2,
       CAST(count(DISTINCT a.gh) AS BIGINT) AS n_shared_fps
FROM sel a JOIN sel b ON a.gh = b.gh AND a.doc_id < b.doc_id
GROUP BY 1, 2
"""


SPECS: dict[str, QuerySpec] = {
    "corpus_ngram_coverage": QuerySpec(corpus_ngram_coverage,
                                       NGRAM_COVERAGE_ORACLE),
    "dedup_rate_estimate": QuerySpec(dedup_rate_estimate,
                                     DEDUP_RATE_EST_ORACLE),
    "dedup_exact": QuerySpec(dedup_exact, DEDUP_EXACT_ORACLE),
    "dedup_substring_winnowed": QuerySpec(dedup_substring_winnowed,
                                           SUBSTRING_WINNOW_ORACLE),
    "dedup_substring_spans": QuerySpec(dedup_substring_spans,
                                        SUBSTRING_SPANS_ORACLE),
    "dedup_incremental_lsh": QuerySpec(dedup_incremental_lsh,
                                       DEDUP_INCREMENTAL_LSH_ORACLE),
    "dedup_bloom_prefilter": QuerySpec(dedup_bloom_prefilter,
                                       DEDUP_BLOOM_PREFILTER_ORACLE),
    "dedup_incremental": QuerySpec(dedup_incremental,
                                   DEDUP_INCREMENTAL_ORACLE),
    "dedup_fuzzy_names": QuerySpec(dedup_fuzzy_names, DEDUP_FUZZY_ORACLE),
    "dedup_phonetic_blocking": QuerySpec(dedup_phonetic_blocking,
                                          DEDUP_PHONETIC_ORACLE),
    "doc_decontaminate": QuerySpec(doc_decontaminate, DECONTAMINATE_ORACLE),
    "dedup_connected_components": QuerySpec(dedup_connected_components,
                                            DEDUP_CC_ORACLE),
    "dedup_embedding_cosine": QuerySpec(dedup_embedding_cosine,
                                        DEDUP_EMB_ORACLE),
    "dedup_ngram_jaccard": QuerySpec(dedup_ngram_jaccard, DEDUP_JACCARD_ORACLE),
    "corpus_lsh_band_planner": QuerySpec(corpus_lsh_band_planner,
                                         _lsh_planner_oracle()),
    "dedup_jaccard_prefix_filter": QuerySpec(dedup_jaccard_prefix_filter,
                                             DEDUP_JACCARD_ORACLE),
    "dedup_cluster_representative": QuerySpec(dedup_cluster_representative,
                                              DEDUP_CLUSTER_REP_ORACLE),
    "dedup_containment": QuerySpec(dedup_containment,
                                   DEDUP_CONTAINMENT_ORACLE),
    "corpus_dup_stats": QuerySpec(corpus_dup_stats,
                                  CORPUS_DUP_STATS_ORACLE),
    "corpus_dup_quality_profile": QuerySpec(corpus_dup_quality_profile,
                                            _dup_quality_oracle()),
    "doc_ngram_novelty": QuerySpec(doc_ngram_novelty, DOC_NOVELTY_ORACLE),
    "corpus_growth_curve": QuerySpec(corpus_growth_curve,
                                     GROWTH_CURVE_ORACLE),
    "corpus_dedup_threshold_curve": QuerySpec(
        corpus_dedup_threshold_curve, DEDUP_THRESHOLD_CURVE_ORACLE),
    "corpus_source_overlap": QuerySpec(corpus_source_overlap,
                                       SOURCE_OVERLAP_ORACLE),
    "dedup_jaccard_df_cutoff": QuerySpec(dedup_jaccard_df_cutoff,
                                         DEDUP_JACCARD_DF_ORACLE),
    "dedup_minhash_lsh": QuerySpec(dedup_minhash_lsh, DEDUP_MINHASH_ORACLE),
    "dedup_minhash_lsh_salted": QuerySpec(dedup_minhash_lsh_salted,
                                          DEDUP_MINHASH_ORACLE),
    "dedup_simhash": QuerySpec(dedup_simhash, DEDUP_SIMHASH_ORACLE),
    "dedup_lsh_recall": QuerySpec(dedup_lsh_recall, DEDUP_LSH_RECALL_ORACLE),
    "dedup_span_exact": QuerySpec(dedup_span_exact, DEDUP_SPAN_ORACLE),
}
