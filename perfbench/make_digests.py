"""Establish query_mix's expected digests against the DuckDB oracle.

Runs each query_mix query's oracle SQL in DuckDB over the benchmark's
tables and records its digest; then runs the Spark query and refuses to
write the file unless ``tools/check_oracle.py``'s comparison (columns,
row count, sorted normalised rows) passes for every query.

Usage (from the repository root):  python3 perfbench/make_digests.py
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from data_ingestion_worker_spark.registry import all_specs  # noqa: E402
from data_ingestion_worker_spark.session import get_spark  # noqa: E402
from tools.check_oracle import canon, duck_connection  # noqa: E402

import digest  # noqa: E402
from workload import DATA_DIR, QUERY_MIX  # noqa: E402


def main() -> int:
    specs = all_specs()
    con = duck_connection(DATA_DIR)
    spark = get_spark("perfbench-digests")
    digests, failed = {}, []
    try:
        for name in QUERY_MIX:
            res = con.execute(specs[name].oracle)
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
            sdf = specs[name].fn(spark, DATA_DIR)
            srows = [tuple(r) for r in sdf.collect()]
            same = (sorted(sdf.columns) == sorted(dcols)
                    and canon(srows, sdf.columns) == canon(drows, dcols))
            print(f"{'ok  ' if same else 'FAIL'} {name}: {len(drows)} rows")
            if not same:
                failed.append(name)
            digests[name] = digest.digest(dcols, drows)
    finally:
        spark.stop()
    if failed:
        print(f"Spark disagrees with the oracle on {failed}; not written")
        return 1
    with open(digest.EXPECTED_PATH, "w") as f:
        json.dump({"data": os.path.relpath(DATA_DIR, HERE),
                   "source": "DuckDB oracle (registry oracle SQL)",
                   "digests": digests}, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
