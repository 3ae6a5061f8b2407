"""Output and fixture checks shared by ``run.py`` and ``pin_expected.py``.

A benchmark run cannot afford to collect every output and compare it row by
row with its DuckDB oracle: some outputs have 600k rows, and some graph
oracles take minutes in DuckDB at sf0.1. So the comparison with the oracle
is made once per fixture by ``pin_expected.py``, which records the
engine's output fingerprint next to the oracle's canonical digest. Each run
recomputes the fingerprint inside Spark and compares it with the pinned one.

A fingerprint is the sorted column names, the row count and the sum of a
64-bit hash of every row. The sum is order-insensitive but counts
duplicate rows, like ``testing.canonical_rows``.
"""

from __future__ import annotations

import hashlib
import json
import os

HERE = os.path.dirname(os.path.abspath(__file__))
FIXTURE_DIR = os.path.join(HERE, "data", "sf0.1")
EXPECTED_PATH = os.path.join(HERE, "expected.json")
WORKLOADS_PATH = os.path.join(HERE, "workloads.json")


def load_json(path: str) -> dict:
    with open(path) as fh:
        return json.load(fh)


def fingerprint(df) -> dict:
    """Column names, row count and order-insensitive row-hash sum of ``df``.

    Map columns go through ``to_json`` first because Spark refuses to hash
    maps; every other type hashes natively.
    """
    from pyspark.sql import functions as F  # not at import: run.py times it

    cols = sorted(df.columns)
    exprs = [
        F.to_json(F.col(c)) if "map<" in df.schema[c].dataType.simpleString()
        else F.col(c)
        for c in cols
    ]
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*exprs).cast("decimal(38,0)")).alias("h"),
    ).first()
    return {"columns": cols, "rows": int(row["n"]), "hash": str(row["h"] or 0)}


def fixture_digests(sf_dir: str = FIXTURE_DIR) -> dict[str, str]:
    """sha256 of every parquet file of the fixture, by file name."""
    out = {}
    for name in sorted(os.listdir(sf_dir)):
        with open(os.path.join(sf_dir, name), "rb") as fh:
            out[name] = hashlib.sha256(fh.read()).hexdigest()
    return out


def canonical_digest(rows: list[tuple]) -> str:
    """sha256 of ``testing.canonical_rows`` output."""
    h = hashlib.sha256()
    for row in rows:
        h.update("\x1f".join(row).encode())
        h.update(b"\n")
    return h.hexdigest()
