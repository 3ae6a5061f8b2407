#!/usr/bin/env python3
"""Pin the expected output of every benchmark query at the vendored fixture.

For each query named in ``workloads.json`` this script runs the engine's
query and, where one exists, its DuckDB oracle. It compares the two with
``testing.compare_frames`` (sorted canonical rows) and refuses to pin a
query that differs. A query without an oracle is pinned to its own
canonical output. It then records the engine-side fingerprint that each
benchmark run checks (see ``check.py``), plus the fixture's file digests.

Run it from the repository root, only when the fixture, a workload's query
list or a query's intended output changes:

    python3 perfbench/pin_expected.py
"""

from __future__ import annotations

import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import check  # noqa: E402


def main() -> int:
    from distributed_system_mapreduce_spark.registry import ORACLES, QUERIES
    from distributed_system_mapreduce_spark.session import get_spark
    from distributed_system_mapreduce_spark.testing import (
        canonical_rows,
        compare_frames,
        duck_connection,
    )

    workloads = check.load_json(check.WORKLOADS_PATH)["workloads"]
    names = sorted({q for w in workloads.values() for q in w["queries"]})
    missing = [n for n in names if n not in QUERIES]
    if missing:
        sys.exit(f"not in registry.QUERIES: {missing}")

    expected = {"queries": {}}
    spark = get_spark("perfbench-pin", cpus=os.cpu_count())
    spark.sparkContext.setLogLevel("ERROR")
    con = duck_connection(check.FIXTURE_DIR)
    con.execute("set threads = 2")  # leave cores for the Spark side
    failed = []
    try:
        for name in names:
            t0 = time.perf_counter()
            pdf = QUERIES[name](spark, check.FIXTURE_DIR).toPandas()
            rows = canonical_rows(pdf)
            if name in ORACLES:
                odf = con.execute(ORACLES[name]).df()
                problems = compare_frames(pdf, odf, name)
                if problems:
                    failed.append(name)
                    print(json.dumps({"query": name, "problems": problems}), flush=True)
                    continue
            entry = {
                "oracle": name in ORACLES,
                "rows": len(rows),
                "canonical_sha256": check.canonical_digest(rows),
                "fingerprint": check.fingerprint(
                    QUERIES[name](spark, check.FIXTURE_DIR)
                ),
            }
            expected["queries"][name] = entry
            print(json.dumps({"query": name, "s": round(time.perf_counter() - t0, 2),
                              "rows": entry["rows"]}), flush=True)
    finally:
        con.close()
        spark.stop()
    expected["fixture_sha256"] = check.fixture_digests()
    with open(check.EXPECTED_PATH, "w") as fh:
        json.dump(expected, fh, indent=1, sort_keys=True)
        fh.write("\n")
    if failed:
        print(f"not pinned, output differs from oracle: {failed}", file=sys.stderr)
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
