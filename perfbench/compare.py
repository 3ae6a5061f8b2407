#!/usr/bin/env python3
"""Summarise benchmark records, or compare two sets of them.

Every run writes its full record to ``.perfbench/results/*.json``. This
script prints, per workload, the median and quartiles of each end-to-end
metric plus ``cached_mb`` and ``failed_ratio`` with their units, and the
tracing overhead (median traced ``cold_s`` minus median untraced
``cold_s``). With ``--vs``, it compares those medians with a second set and
flags any metric worse by more than its bound in ``BENCHMARK.json``.

Records taken at different ``cpus`` are never compared: the script refuses.

    python3 perfbench/compare.py .perfbench/results/*.json [--vs OTHER.json ...]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SUMMARY_UNITS = {"setup_s": "s", "cold_s": "s", "warm_s": "s",
                 "cached_mb": "MiB", "failed_ratio": "ratio"}


def load_records(paths: list[str]) -> list[dict]:
    records = []
    for p in paths:
        with open(p) as fh:
            records.append(json.load(fh))
    return records


def check_same_cpus(records: list[dict]) -> int:
    cpus = {r["cpus"] for r in records}
    if len(cpus) != 1:
        raise ValueError(f"records span different cpus {sorted(cpus)}; not comparable")
    return cpus.pop()


def spread(values: list[float]) -> dict:
    """Median, quartiles and the quartile distance as a share of the median."""
    med = statistics.median(values)
    if len(values) < 2:
        return {"n": len(values), "median": med, "q1": med, "q3": med, "spread": 0.0}
    q1, _, q3 = statistics.quantiles(values, n=4)
    return {"n": len(values), "median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else 0.0}


def summarise(records: list[dict]) -> dict:
    """{workload: {metric: spread stats}} over untraced records, plus the
    tracing overhead where traced records exist."""
    by_wl: dict[str, dict[str, list]] = defaultdict(lambda: defaultdict(list))
    for r in records:
        values = by_wl[r["workload"]]
        if r["trace"]:
            values["traced_cold_s"].append(r["end_to_end"]["cold_s"])
            continue
        for k in SUMMARY_UNITS:
            values[k].append(r["end_to_end"].get(k, r["run_level"].get(k)))
    out = {}
    for wl, values in sorted(by_wl.items()):
        traced = values.pop("traced_cold_s", None)
        out[wl] = {k: spread(v) for k, v in values.items()}
        if traced and "cold_s" in out[wl]:
            out[wl]["trace_overhead_s"] = (
                statistics.median(traced) - out[wl]["cold_s"]["median"]
            )
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("records", nargs="+")
    ap.add_argument("--vs", nargs="+", default=[],
                    help="records of the other side (e.g. the parent commit)")
    args = ap.parse_args(argv)
    a = load_records(args.records)
    b = load_records(args.vs)
    try:
        cpus = check_same_cpus(a + b)
    except ValueError as ex:
        print(f"compare: {ex}", file=sys.stderr)
        return 2
    sa = summarise(a)
    print(f"cpus={cpus}")
    for wl, metrics in sa.items():
        for k, s in metrics.items():
            if k == "trace_overhead_s":
                print(f"{wl:16} {k:16} {s:10.3f} s")
                continue
            print(f"{wl:16} {k:16} median {s['median']:10.3f} {SUMMARY_UNITS[k]:5} "
                  f"q1 {s['q1']:10.3f} q3 {s['q3']:10.3f} spread {s['spread']:.3f} n={s['n']}")
    if not b:
        return 0
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bounds = {m["name"]: m["bound"] for m in json.load(fh)["end_to_end"]}
    sb = summarise(b)
    worse = 0
    for wl in sorted(set(sa) & set(sb)):
        for k, bound in bounds.items():
            ma, mb = sa[wl][k]["median"], sb[wl][k]["median"]
            change = (ma - mb) / mb
            flag = "WORSE" if change > bound else "ok"
            worse += flag == "WORSE"
            print(f"{wl:16} {k:10} {mb:10.3f} -> {ma:10.3f} ({change:+.1%}, bound {bound:.0%}) {flag}")
    return 1 if worse else 0


if __name__ == "__main__":
    sys.exit(main())
