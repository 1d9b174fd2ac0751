"""``spread_scan``'s partition-count memo is keyed by a local layout
fingerprint; a path ``os.stat`` cannot see (an object-store URI) has no
fingerprint and must never be memoized — its layout could change under
the same key."""

from __future__ import annotations

from data_ingestion_worker_spark import tables


def test_unstatable_path_leaves_no_memo_entry(spark):
    uri = "s3a://bucket/contacts/part-0.parquet"
    assert tables._layout_key(uri) is None
    before = dict(tables._SCAN_PARTS)
    tables.spread_scan(spark.range(8).toDF("k"), "k", memo=uri)
    assert tables._SCAN_PARTS == before


def test_local_path_is_memoized_by_layout(spark, tmp_path):
    f = tmp_path / "t.parquet"
    f.write_bytes(b"x")
    tables.spread_scan(spark.range(8).toDF("k"), "k", memo=str(f))
    key = tables._layout_key(str(f))
    assert key is not None and key[0] == str(f)
    assert (key, spark.sparkContext.defaultParallelism) in tables._SCAN_PARTS
