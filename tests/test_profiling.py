"""Contracts for the profiling / sampling / anomaly / matching operators
beyond oracle parity: invariants a user relies on, plus the plan shapes
that make them viable at scale.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from data_ingestion_worker_spark.operators.dedup import (
    LEV_MAX,
    dedup_fuzzy_names,
)
from data_ingestion_worker_spark.operators.profiling import (
    PROFILE_COLS,
    STRATUM_K,
    ev_anomaly_zscore,
    profile_columns,
    sample_stratified,
)
from data_ingestion_worker_spark.operators.text import doc_salient_terms
from data_ingestion_worker_spark.tables import load_table


def test_profile_single_scan_no_expand(spark, sf_dir):
    """Any number of profiled columns must cost exactly one table scan,
    and the distinct counts must not plan an Expand (the multi-distinct
    fallback that multiplies shuffle rows by #aggregates)."""
    df = profile_columns(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1, plan
    assert "Expand" not in plan, plan
    rows = {r["col_name"]: r for r in df.collect()}
    assert set(rows) == set(PROFILE_COLS)
    li = load_table(spark, sf_dir, "lineitem")
    n = li.count()
    for r in rows.values():
        assert r["n_non_null"] + r["n_null"] == n
        assert r["n_distinct"] <= r["n_non_null"]
        assert r["min_val"] is None or r["min_val"] <= r["max_val"]


def test_stratified_sample_exact_k_and_stability(spark, sf_dir):
    """Every stratum yields exactly min(K, |stratum|) rows, and the
    sample is identical across runs (keyed hash, no RNG)."""
    s1 = sample_stratified(spark, sf_dir)
    per = {r["c_mktsegment"]: r["n"] for r in
           s1.groupBy("c_mktsegment").agg(F.count("*").alias("n")).collect()}
    sizes = {r["c_mktsegment"]: r["n"] for r in
             load_table(spark, sf_dir, "customer")
             .groupBy("c_mktsegment").agg(F.count("*").alias("n")).collect()}
    assert set(per) == {seg for seg, n in sizes.items() if n > 0}
    for seg, n in per.items():
        assert n == min(STRATUM_K, sizes[seg]), seg
    s2 = sample_stratified(spark, sf_dir)
    assert sorted(map(tuple, s1.collect())) == sorted(map(tuple, s2.collect()))


def test_anomaly_zscore_magnitude_and_single_scan(spark, sf_dir):
    """Every reported bucket really has |z| > 2, and events is scanned
    exactly once (power sums ride a window, not a second aggregate)."""
    df = ev_anomaly_zscore(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1, plan
    for r in df.collect():
        assert abs(r["zscore"]) > 2.0 - 1e-6, r


def test_fuzzy_names_symmetric_blocking(spark, sf_dir):
    """Pairs are canonical (n1 < n2), within the distance bound, and
    only ever share a blocking noun."""
    rows = dedup_fuzzy_names(spark, sf_dir).collect()
    assert rows, "expected some fuzzy pairs on the part names"
    for r in rows:
        assert r["n1"] < r["n2"]
        assert 0 < r["dist"] <= LEV_MAX
        assert r["n1"].rsplit(" ", 1)[-1] == r["n2"].rsplit(" ", 1)[-1]


def test_salient_terms_topk_contract(spark, sf_dir):
    """≤ k terms per doc, ranks contiguous from 1, and the weight
    ordering tf*N/df is non-increasing within a doc."""
    df = doc_salient_terms(spark, sf_dir)
    n_docs = load_table(spark, sf_dir, "documents").count()
    by_doc: dict[int, list] = {}
    for r in df.collect():
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert by_doc
    for doc, rs in by_doc.items():
        rs.sort(key=lambda r: r["rk"])
        assert [r["rk"] for r in rs] == list(range(1, len(rs) + 1))
        weights = [r["tf"] * n_docs / r["df"] for r in rs]
        assert all(a >= b - 1e-9 for a, b in zip(weights, weights[1:]))


def test_cusum_matches_sequential_recursion_and_single_scan(spark, sf_dir):
    """The windowed closed form (prefix sum minus running min, with the
    empty-prefix 0) must equal the textbook sequential recursion
    ``S_t = max(0, S_{t-1} + d_t)`` exactly, and events is scanned once."""
    from data_ingestion_worker_spark.operators.profiling import (
        CUSUM_H_SIGMA,
        ev_cusum_changepoint,
    )

    df = ev_cusum_changepoint(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1, plan
    rows = df.collect()
    assert rows, "no CUSUM rows produced"
    by_type: dict[str, list] = {}
    for r in rows:
        by_type.setdefault(r.event_type, []).append(r)
    for et, rs in by_type.items():
        rs.sort(key=lambda r: r.hour)
        n = len(rs)
        sx = sum(r.hour_count for r in rs)
        s = 0
        for r in rs:
            s = max(0, s + n * r.hour_count - sx)
            assert r.cusum_scaled == s, (et, r.hour)
        # alarm flag is exactly the H-sigma exceedance
        sxx = sum(r.hour_count ** 2 for r in rs)
        import math
        sigma = math.sqrt(n * sxx - sx * sx)
        for r in rs:
            assert r.alarm == (r.cusum_scaled > CUSUM_H_SIGMA * sigma), r


def test_runs_test_counts_match_python_scan(spark, sf_dir):
    """Run/sign counts recomputed with a plain-Python scan over the
    hourly series, and the z against the scipy-free closed form."""
    import math
    from collections import Counter

    from data_ingestion_worker_spark.operators.profiling import ev_runs_test
    from data_ingestion_worker_spark.tables import load_table

    got = {r.event_type: r for r in ev_runs_test(spark, sf_dir).collect()}
    assert got
    ev = load_table(spark, sf_dir, "events") \
        .select("event_type", "ts").collect()
    hourly: Counter = Counter(
        (r.event_type, r.ts.replace(minute=0, second=0, microsecond=0))
        for r in ev)
    by_type: dict[str, dict] = {}
    for (et, h), c in hourly.items():
        by_type.setdefault(et, {})[h] = c
    for et, m in by_type.items():
        n = len(m)
        sx = sum(m.values())
        signs = [n * c > sx for _, c in sorted(m.items())
                 if n * c != sx]
        n1 = sum(signs)
        n2 = len(signs) - n1
        runs = 1 + sum(a != b for a, b in zip(signs, signs[1:]))
        if not (n1 > 0 and n2 > 0 and n1 + n2 > 1):
            assert et not in got
            continue
        r = got[et]
        assert (r.n_pos, r.n_neg, r.n_runs) == (n1, n2, runs), et
        nn = n1 + n2
        mu = 2 * n1 * n2 / nn + 1
        var = 2 * n1 * n2 * (2 * n1 * n2 - nn) / (nn * nn * (nn - 1))
        assert abs(r.z - (runs - mu) / math.sqrt(var)) < 1e-5, et


def test_autocorr_matches_python_pearson(spark, sf_dir):
    """Lag-1 autocorrelation recomputed from the collected hourly
    series with exact Python integers; bounded to [-1, 1]."""
    import math
    from collections import Counter

    from data_ingestion_worker_spark.operators.profiling import (
        ev_autocorr_lag1,
    )
    from data_ingestion_worker_spark.tables import load_table

    got = {r.event_type: r for r in
           ev_autocorr_lag1(spark, sf_dir).collect()}
    assert got
    ev = load_table(spark, sf_dir, "events") \
        .select("event_type", "ts").collect()
    hourly: Counter = Counter(
        (r.event_type, r.ts.replace(minute=0, second=0, microsecond=0))
        for r in ev)
    series: dict[str, list[int]] = {}
    for (et, h), c in sorted(hourly.items()):
        series.setdefault(et, []).append(c)
    for et, ys in series.items():
        xs, zs = ys[:-1], ys[1:]
        n = len(xs)
        sx, sy = sum(xs), sum(zs)
        sxx = sum(v * v for v in xs)
        syy = sum(v * v for v in zs)
        sxy = sum(a * b for a, b in zip(xs, zs))
        den = (n * sxx - sx * sx) * (n * syy - sy * sy)
        if den <= 0:
            assert et not in got
            continue
        expect = (n * sxy - sx * sy) / math.sqrt(den)
        r = got[et]
        assert r.n_pairs == n
        assert abs(r.autocorr - expect) < 1e-5, et
        assert -1.0 - 1e-9 <= r.autocorr <= 1.0 + 1e-9


def test_seasonal_zscore_within_hod_groups(spark, sf_dir):
    """Every reported anomaly really exceeds |z| > 2 within its own
    (type, hour-of-day) peer group, recomputed in Python."""
    from collections import Counter, defaultdict

    from data_ingestion_worker_spark.operators.profiling import (
        ev_anomaly_seasonal_zscore,
    )
    from data_ingestion_worker_spark.tables import load_table

    rows = ev_anomaly_seasonal_zscore(spark, sf_dir).collect()
    assert rows
    ev = load_table(spark, sf_dir, "events") \
        .select("event_type", "ts").collect()
    hourly: Counter = Counter(
        (r.event_type, r.ts.replace(minute=0, second=0, microsecond=0))
        for r in ev)
    groups: dict = defaultdict(list)
    for (et, h), c in hourly.items():
        groups[(et, h.hour)].append(c)
    for r in rows:
        peers = groups[(r.event_type, r.hod)]
        n = len(peers)
        sx, sxx = sum(peers), sum(c * c for c in peers)
        num = n * r.hour_count - sx
        rad = n * sxx - sx * sx
        assert num * num > 4 * rad and n > 1 and rad > 0, r
        assert abs(r.zscore) > 2.0 - 1e-6


def test_cusum_drop_matches_mirror_recursion(spark, sf_dir):
    """The lower CUSUM closed form must equal the mirror recursion
    ``S = max(0, S - d)`` exactly."""
    from data_ingestion_worker_spark.operators.profiling import (
        ev_cusum_drop,
    )

    rows = ev_cusum_drop(spark, sf_dir).collect()
    assert rows
    by_type: dict[str, list] = {}
    for r in rows:
        by_type.setdefault(r.event_type, []).append(r)
    for et, rs in by_type.items():
        rs.sort(key=lambda r: r.hour)
        n = len(rs)
        sx = sum(r.hour_count for r in rs)
        s = 0
        for r in rs:
            s = max(0, s - (n * r.hour_count - sx))
            assert r.cusum_scaled == s, (et, r.hour)


def test_l_diversity_matches_pandas(spark, sf_dir):
    """The l-value histogram recomputed with pandas groupby/nunique on
    the joined (customer × distinct order priority) pairs; people totals
    must sum to the number of customers with ≥1 order."""
    from data_ingestion_worker_spark.operators.profiling import (
        L_DIV, dq_l_diversity,
    )
    from data_ingestion_worker_spark.tables import load_table

    got = {r.l_value: r for r in dq_l_diversity(spark, sf_dir).collect()}
    c = load_table(spark, sf_dir, "customer").toPandas()
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderpriority").toPandas().drop_duplicates()
    import numpy as np
    c["bal_bucket"] = np.floor(c.c_acctbal / 2000).astype("int64")
    merged = c.merge(o, left_on="c_custkey", right_on="o_custkey")
    cls = merged.groupby(["c_nationkey", "c_mktsegment", "bal_bucket"]).agg(
        l_value=("o_orderpriority", "nunique"),
        class_people=("c_custkey", "nunique"),
    )
    hist = cls.groupby("l_value").agg(
        n_classes=("l_value", "size"), n_people=("class_people", "sum"))
    assert set(got) == set(hist.index)
    for l_val, row in hist.iterrows():
        r = got[l_val]
        assert (r.n_classes, r.n_people) == (row.n_classes, row.n_people)
        assert r.below_l == (l_val < L_DIV)
    assert sum(r.n_people for r in got.values()) == \
        merged.c_custkey.nunique()


def test_dp_noisy_counts_mechanism_matches_python(spark, sf_dir):
    """Laplace mechanism recomputed in plain Python (same hash-uniform,
    same inverse CDF, same milli quantization); noise must be bounded
    by the mechanism's tail at the fixture's u values and the true
    count must never be released exactly (noise ≠ 0 w.p. 1 here)."""
    import hashlib
    import math

    from data_ingestion_worker_spark.operators.profiling import (
        DP_EPSILON_MILLI, dq_dp_noisy_counts,
    )
    from data_ingestion_worker_spark.tables import load_table

    got = {r.event_type: r for r in dq_dp_noisy_counts(spark, sf_dir).collect()}
    ev = load_table(spark, sf_dir, "events")
    true = {r.event_type: r.n
            for r in ev.groupBy("event_type").count()
            .withColumnRenamed("count", "n").collect()}
    assert set(got) == set(true)
    for et, r in got.items():
        h = int(hashlib.md5(f"dp:{et}".encode()).hexdigest()[:15], 16)
        u = (h % 999999 + 1) / 1e6
        c = u - 0.5
        mag = math.floor(math.log(1.0 - 2 * abs(c))
                         * (-1e6) / DP_EPSILON_MILLI)
        lap = int(math.copysign(1, c)) * mag if c != 0 else 0
        assert r.noisy_count_milli == true[et] * 1000 + lap, et
        assert r.epsilon_milli == DP_EPSILON_MILLI
        # Laplace(1) at these u draws stays within ±14 counts
        assert abs(r.noisy_count_milli - true[et] * 1000) <= 14000


def test_type_series_matches_python_counter(spark, sf_dir):
    """The shared per-type count series and its window moments: every
    (event_type, hour or day) bucket holds the number of events whose
    ts truncates to it, and n, Σc, Σc² are per-type sums over the
    buckets."""
    from collections import Counter

    from data_ingestion_worker_spark.operators.events import (
        _type_moments,
        _type_series,
    )

    events = load_table(spark, sf_dir, "events") \
        .select("event_type", "ts").collect()
    trunc = {"hour": dict(minute=0, second=0, microsecond=0),
             "day": dict(hour=0, minute=0, second=0, microsecond=0)}
    for unit, zero in trunc.items():
        want = Counter((r.event_type, r.ts.replace(**zero)) for r in events)
        series = _type_series(spark, sf_dir, unit)
        assert {(r.event_type, r[unit]): r.c
                for r in series.collect()} == dict(want), unit
        for r in _type_moments(series).collect():
            cs = [c for (t, _), c in want.items() if t == r.event_type]
            assert (r.n, r.sx, r.sxx) \
                == (len(cs), sum(cs), sum(c * c for c in cs)), r
