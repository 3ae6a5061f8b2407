"""Tests of the benchmark's own code (no Spark session is started).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re

import pytest

import check
import compare
import run

ROOT = os.path.dirname(check.HERE)
NAME = re.compile(r"[A-Za-z0-9_.-]+")


@pytest.fixture(scope="module")
def bench_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


@pytest.fixture(scope="module")
def workloads():
    return check.load_json(check.WORKLOADS_PATH)["workloads"]


def test_pinned_names_exist_in_registry(workloads):
    from distributed_system_mapreduce_spark.registry import QUERIES

    for wl, spec in workloads.items():
        missing = [q for q in spec["queries"] if q not in QUERIES]
        assert not missing, (wl, missing)


def test_every_pinned_name_has_expected_output(workloads):
    expected = check.load_json(check.EXPECTED_PATH)["queries"]
    for wl, spec in workloads.items():
        assert len(set(spec["queries"])) == len(spec["queries"]), wl
        assert all(q in expected for q in spec["queries"]), wl


def test_workloads_match_benchmark_json(bench_spec, workloads):
    assert [w["name"] for w in bench_spec["workloads"]] == list(workloads)
    for wl, spec in workloads.items():
        assert isinstance(spec["warm_passes"], int) and spec["warm_passes"] >= 1, wl


def test_fixture_matches_pinned_digests():
    assert check.fixture_digests() == check.load_json(check.EXPECTED_PATH)["fixture_sha256"]


def test_same_seed_same_order(workloads):
    names = workloads["mr_classic"]["queries"]
    assert run.query_order(names, 7) == run.query_order(list(reversed(names)), 7)
    assert sorted(run.query_order(names, 7)) == sorted(names)
    orders = {tuple(run.query_order(names, seed)) for seed in range(5)}
    assert len(orders) > 1


@pytest.mark.parametrize("trace", [0, 1])
def test_result_line_carries_every_metric(bench_spec, trace):
    key = "per_layer" if trace else "end_to_end"
    units = run.PER_LAYER_UNITS if trace else run.END_TO_END_UNITS
    declared = {m["name"]: m["unit"] for m in bench_spec[key]}
    assert declared == units
    line = run.result_line(True, 3, 0, {k: 1.5 for k in units}, units)
    out = json.loads(line)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert set(out["metrics"]) == set(declared)
    for name, m in out["metrics"].items():
        assert NAME.fullmatch(name) and len(name) <= 64, name
        assert m["unit"] == declared[name]


def test_benchmark_names_are_valid(bench_spec):
    names = [m["name"] for k in ("end_to_end", "per_layer") for m in bench_spec[k]]
    names += [w["name"] for w in bench_spec["workloads"]]
    assert len(names) == len(set(names))
    assert all(NAME.fullmatch(n) and len(n) <= 64 for n in names)
    setup = next(m for m in bench_spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in bench_spec["end_to_end"])


def test_compare_refuses_mixed_cpus():
    with pytest.raises(ValueError):
        compare.check_same_cpus([{"cpus": 4}, {"cpus": 8}])
    assert compare.check_same_cpus([{"cpus": 4}, {"cpus": 4}]) == 4


def test_tracer_rebinds_every_import_site():
    import distributed_system_mapreduce_spark  # noqa: F401
    from distributed_system_mapreduce_spark import cache
    from distributed_system_mapreduce_spark.operators import graph
    from distributed_system_mapreduce_spark.sources import io

    from spans import Tracer

    load, track = io.load, cache.track
    tracer = Tracer("t")
    tracer.install()
    try:
        assert tracer.rebind_sites["load"] >= 20
        assert io.load is not load and graph.load is io.load
        assert cache.track is not track
    finally:
        tracer.uninstall()
    assert io.load is load and graph.load is load and cache.track is track
