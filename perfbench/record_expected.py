"""Record the expected result of every ``catalog_stream`` query.

    python3 perfbench/record_expected.py

The workload's tables are seed-free, so each query has one right result.
This script checks every query against its DuckDB oracle with
``oracle.compare`` (exact rows after canonicalization) on those tables,
and only when all of them match writes each result's row count and hash
to ``expected_sf<sf>.json``, which the workload's output check reads.
Running the oracles takes minutes at sf0.1 (q49's recursive closure most
of all), too long to repeat in every run. Re-run it when the table
generator or a query's specified result changes.
"""

from __future__ import annotations

import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(1, os.path.dirname(HERE))
sys.path.insert(2, os.path.join(os.path.dirname(HERE), "tools"))

from common import WORK, Session, clean, prepare_env  # noqa: E402
from wl_catalog import EXPECTED, QUERIES, result_digest, tables  # noqa: E402


def main() -> int:
    work = os.path.join(WORK, f"record-{os.getpid()}")
    prepare_env(work, False)
    session = Session("perfbench-record")
    try:
        from geospatial_etl_pipeline_spark.oracle import compare
        from geospatial_etl_pipeline_spark.plans import catalog

        spark = session.spark
        catalog.load_all_plans()
        sf_dir = tables(spark)
        out, bad = {}, 0
        for name in QUERIES:
            spec = catalog.QUERIES[name]
            oracle = spec.oracle or catalog.QUERIES[spec.oracle_twin].oracle
            t = time.perf_counter()
            r = compare(name, spark, sf_dir, spec.fn, oracle)
            print(f"{r} ({time.perf_counter() - t:.1f} s)", flush=True)
            bad += not r.ok
            out[name] = list(result_digest(spec.fn(spark, sf_dir)))
    finally:
        session.stop()
        clean(work)
    if bad:
        print(f"{bad} queries differ from their oracle; {EXPECTED} left as it was")
        return 1
    with open(EXPECTED, "w") as f:
        json.dump(out, f, indent=1)
        f.write("\n")
    print(f"wrote {EXPECTED}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
