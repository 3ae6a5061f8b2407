#!/usr/bin/env python3
"""Cold and warm job time of one MapReduce workload, with its output check.

Run from the repository root:

    python3 perfbench/run.py --workload mr_classic --seed 1 --seconds 30 --trace 0

One run is one fresh process, one client issuing one query at a time:

1. set-up: package import plus ``session.get_spark`` at ``local[nproc]``
   with the factory's defaults (``setup_s``);
2. the ``cold`` pass: every query of the workload's pinned list, in the
   order the seed permutes, built and written to the ``noop`` sink;
3. the output check, untimed: each query's fingerprint against the one
   ``pin_expected.py`` pinned after comparing with the DuckDB oracle. It
   runs every query once more, so it is also the warm-up for step 4: the
   first two passes after ``cold`` run up to 1.5x slower than later ones
   while the JVM's JIT settles, and their times vary from run to run;
4. the ``warm`` passes of the same list in the same session, reported as
   the median pass. Their number is fixed per workload in
   ``workloads.json`` (``warm_passes``): every run of every commit times
   the same work, and ``--seconds`` is recorded but does not size it. A
   workload of short jobs gets more passes, because its pass times follow
   the shared host's load, which comes and goes over tens of seconds;
5. the release: ``cache.clear_tracked_caches()`` must leave no persisted
   RDD behind.

``--trace 1`` adds spans around build, plan and execution, counters around
``sources.io.load`` and ``cache.track``, and Spark's status-store counters
per job group; it reports the per-layer metrics instead of the end-to-end
ones. The last stdout line is the result; the line before it is the full
record, also written under ``.perfbench/`` with the trace.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import statistics
import subprocess
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "distributed_system_mapreduce_spark"
STATE_DIR = os.path.join(ROOT, ".perfbench")
#: per-pass layer metrics (reported as ``cold.<name>`` and ``warm.<name>``)
PASS_UNITS = {
    "sources.load_calls": "count", "sources.load_s": "s",
    "build.s": "s", "build.jobs": "count", "plan.s": "s",
    "exec.s": "s", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.task_run_s": "s", "exec.task_cpu_s": "s",
    "exec.gc_s": "s", "exec.shuffle_write_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes", "exec.spill_bytes": "bytes",
    "exec.core_util": "ratio",
    "cache.track_calls": "count", "cache.track_new": "count",
    "cache.track_hit_ratio": "ratio", "cache.checkpoint_calls": "count",
    "cache.persisted_rdds": "count", "cache.stored_bytes": "bytes",
}
#: per-run metrics of the traced run
RUN_UNITS = {
    "session.import_s": "s", "session.start_s": "s", "cache.released": "count",
    "cache.after_release": "count", "jvm.peak_rss_mb": "MiB", "cached_mb": "MiB",
    "failed_ratio": "ratio", "trace.cold_s": "s", "trace.warm_s": "s",
}
END_TO_END_UNITS = {"setup_s": "s", "cold_s": "s", "warm_s": "s"}
PER_LAYER_UNITS = {
    **{f"{p}.{k}": u for p in ("cold", "warm") for k, u in PASS_UNITS.items()},
    **RUN_UNITS,
}


# --- set-up --------------------------------------------------------------


def bench_env() -> dict:
    """Environment that keeps Spark's, Python's and the JVM's scratch files
    inside the checkout and lets Spark's Python workers import the package."""
    tmp = os.path.join(STATE_DIR, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return {
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
    }


def start_session():
    """Import the package and start the session; returns (spark, timings)."""
    t0 = time.perf_counter()
    __import__(PKG)
    from distributed_system_mapreduce_spark.session import get_spark

    t1 = time.perf_counter()
    spark = get_spark("perfbench", cpus=len(os.sched_getaffinity(0)))
    t2 = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")
    return spark, {"import_s": t1 - t0, "start_s": t2 - t1, "setup_s": t2 - t0}


def stop_session(spark) -> None:
    """Stop Spark and wait for the gateway JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
        proc.wait(timeout=60)


# --- host context --------------------------------------------------------


def read_first_line(path: str) -> str | None:
    try:
        with open(path) as fh:
            return fh.readline().strip()
    except OSError:
        return None


def host_snapshot() -> dict:
    return {
        "loadavg": read_first_line("/proc/loadavg"),
        "cpu_pressure": read_first_line("/proc/pressure/cpu"),
        "cpu_jiffies": read_first_line("/proc/stat"),
    }


def steal_share(start: dict, end: dict) -> float | None:
    """Share of CPU time the hypervisor stole between two snapshots: on a
    shared host this is what makes one run slower than the next."""
    try:
        a, b = ([int(x) for x in snap["cpu_jiffies"].split()[1:]] for snap in (start, end))
    except (AttributeError, ValueError):
        return None
    total = sum(b) - sum(a)
    return (b[7] - a[7]) / total if total > 0 else None


def git_state() -> dict:
    env = dict(os.environ, GIT_CEILING_DIRECTORIES=os.path.dirname(ROOT))

    def git(*args):
        try:
            return subprocess.run(
                ["git", *args], cwd=ROOT, env=env, capture_output=True,
                text=True, timeout=30, check=True,
            ).stdout.strip()
        except (OSError, subprocess.SubprocessError):
            return None

    status = git("status", "--porcelain")
    return {"git_head": git("rev-parse", "HEAD"),
            "git_dirty": None if status is None else bool(status)}


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM missing from /proc status")


# --- passes --------------------------------------------------------------


def query_order(names: list[str], seed: int) -> list[str]:
    """The seed's permutation of a workload's query list."""
    order = sorted(names)
    random.Random(seed).shuffle(order)
    return order


def run_pass(spark, queries, order, sf_dir, label, tracer, failures, query_s) -> float:
    """One timed pass over ``order``; returns its wall time in seconds and
    records each query's wall time in ``query_s``."""
    sc = spark.sparkContext
    t0 = time.perf_counter()
    for name in order:
        tq = time.perf_counter()
        try:
            if tracer is None:
                queries[name](spark, sf_dir).write.format("noop").mode(
                    "overwrite").save()
            else:
                traced_query(sc, queries[name], spark, sf_dir, label, name, tracer)
        except Exception as ex:  # noqa: BLE001 - a failing query is counted, not fatal
            failures.setdefault(name, f"{label}: {type(ex).__name__}: {str(ex)[:300]}")
        query_s[name] = time.perf_counter() - tq
    wall = time.perf_counter() - t0
    if tracer is not None:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return wall


def traced_query(sc, query, spark, sf_dir, label, name, tracer) -> None:
    """Build, plan and execute one query under spans and job groups."""
    with tracer.span("query", query=name):
        sc.setJobGroup(f"{tracer.run_id}/{label}/{name}/build", name)
        with tracer.span("build", query=name):
            df = query(spark, sf_dir)
        sc.setJobGroup(f"{tracer.run_id}/{label}/{name}/exec", name)
        with tracer.span("plan", query=name):
            df._jdf.queryExecution().executedPlan()
        with tracer.span("exec", query=name):
            df.write.format("noop").mode("overwrite").save()


def storage_state(spark) -> dict:
    jsc = spark.sparkContext._jsc.sc()
    infos = jsc.getRDDStorageInfo()
    stored = sum(i.memSize() + i.diskSize() for i in infos)
    return {"persisted_rdds": jsc.getPersistentRDDs().size(), "stored_bytes": stored}


def pass_layers(spark, tracer, label: str, cpus: int) -> dict:
    """Per-layer counters of one traced pass (read after the pass)."""
    from spans import job_group_metrics

    m = dict.fromkeys(PASS_UNITS, 0.0)
    spans = [s for s in tracer.spans if s["pass"] == label]
    for s in spans:
        if s["name"] in ("build", "plan", "exec"):
            m[f"{s['name']}.s"] += s["end"] - s["start"]
        if s["name"] in ("build", "exec"):
            g = job_group_metrics(spark, f"{tracer.run_id}/{label}/{s['query']}/{s['name']}")
            s["spark"] = g
            if s["name"] == "build":
                m["build.jobs"] += g.get("jobs", 0)
            else:
                for k, v in g.items():
                    m[f"exec.{k}"] += v
    for k, v in tracer.totals[label].items():
        m[k] += v
    m["exec.core_util"] = m["exec.task_run_s"] / (m["exec.s"] * cpus) if m["exec.s"] else 0.0
    calls = m["cache.track_calls"]
    m["cache.track_hit_ratio"] = (calls - m["cache.track_new"]) / calls if calls else 0.0
    st = storage_state(spark)
    m["cache.persisted_rdds"] = st["persisted_rdds"]
    m["cache.stored_bytes"] = st["stored_bytes"]
    return m


def check_outputs(spark, queries, order, sf_dir, expected, failures) -> None:
    import check

    for name in order:
        if name in failures:
            continue
        try:
            got = check.fingerprint(queries[name](spark, sf_dir))
        except Exception as ex:  # noqa: BLE001
            failures[name] = f"check: {type(ex).__name__}: {str(ex)[:300]}"
            continue
        want = expected[name]["fingerprint"]
        if got != want:
            failures[name] = f"check: output {got} != pinned {want}"


# --- main ----------------------------------------------------------------


def result_line(correct: bool, attempted: int, failed: int, metrics: dict,
                units: dict) -> str:
    """The last stdout line: exactly the keys the benchmark contract names."""
    return json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    })


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=30.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if ROOT not in sys.path:
        sys.path.insert(1, ROOT)
    if not os.path.isfile(os.path.join(ROOT, PKG, "__init__.py")):
        print(f"perfbench: package {PKG} not found under {ROOT}", file=sys.stderr)
        return 2
    import check

    workloads = check.load_json(check.WORKLOADS_PATH)["workloads"]
    if args.workload not in workloads:
        print(f"perfbench: unknown workload {args.workload!r}; known: "
              f"{sorted(workloads)}", file=sys.stderr)
        return 2
    expected = check.load_json(check.EXPECTED_PATH)
    if check.fixture_digests() != expected["fixture_sha256"]:
        print("perfbench: fixture differs from the pinned digests", file=sys.stderr)
        return 1
    names = workloads[args.workload]["queries"]
    warm_passes = workloads[args.workload]["warm_passes"]
    unpinned = [n for n in names if n not in expected["queries"]]
    if unpinned:
        print(f"perfbench: no pinned output for {unpinned}", file=sys.stderr)
        return 1

    run_id = uuid.uuid4().hex[:12]
    cpus = len(os.sched_getaffinity(0))
    record = {"run": run_id, "workload": args.workload, "seed": args.seed,
              "trace": args.trace, "seconds": args.seconds, "cpus": cpus,
              **git_state(), "host_start": host_snapshot()}
    os.environ.update(bench_env())
    spark, setup = start_session()
    from distributed_system_mapreduce_spark import cache
    from distributed_system_mapreduce_spark.registry import QUERIES

    missing = [n for n in names if n not in QUERIES]
    if missing:
        stop_session(spark)
        print(f"perfbench: not in registry.QUERIES: {missing}", file=sys.stderr)
        return 1

    tracer = None
    if args.trace:
        from spans import Tracer

        tracer = Tracer(run_id)
        tracer.install()
        record["rebind_sites"] = tracer.rebind_sites
    order = query_order(names, args.seed)
    sf_dir = check.FIXTURE_DIR
    failures: dict[str, str] = {}
    layers = {}
    query_s: dict[str, dict] = {}

    def timed_pass(label):
        query_s[label] = {}
        if tracer is None:
            return run_pass(spark, QUERIES, order, sf_dir, label, None, failures,
                            query_s[label])
        tracer.pass_name = label
        with tracer.span("pass", label=label):
            wall = run_pass(spark, QUERIES, order, sf_dir, label, tracer, failures,
                            query_s[label])
        layers[label] = pass_layers(spark, tracer, label, cpus)
        return wall

    cold_s = timed_pass("cold")
    if tracer is not None:
        tracer.pass_name = "check"
    t_check = time.perf_counter()
    check_outputs(spark, QUERIES, order, sf_dir, expected["queries"], failures)
    record["check_s"] = time.perf_counter() - t_check
    warm = [timed_pass(f"warm{i}") for i in range(1, warm_passes + 1)]
    storage = storage_state(spark)
    if tracer is not None:
        tracer.uninstall()
    released = cache.clear_tracked_caches()
    after_release = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    peak_rss = jvm_peak_rss_mb(spark)
    t_stop = time.perf_counter()
    stop_session(spark)
    record["stop_s"] = time.perf_counter() - t_stop

    e2e = {
        "setup_s": setup["setup_s"],
        "cold_s": cold_s,
        "warm_s": statistics.median(warm),
    }
    run_level = {
        "session.import_s": setup["import_s"],
        "session.start_s": setup["start_s"],
        "cache.released": released,
        "cache.after_release": after_release,
        "jvm.peak_rss_mb": peak_rss,
        "cached_mb": storage["stored_bytes"] / 2**20,
        "failed_ratio": len(failures) / len(names),
    }
    record.update(
        order=order, warm_pass_s=warm, query_s=query_s,
        failures=failures, end_to_end=e2e, run_level=run_level,
        host_end=host_snapshot(),
    )
    record["cpu_steal_share"] = steal_share(record["host_start"], record["host_end"])
    if tracer is not None:
        warm_labels = [k for k in layers if k.startswith("warm")]
        record["passes"] = layers
        per_layer = {f"cold.{k}": layers["cold"][k] for k in PASS_UNITS}
        for k in PASS_UNITS:
            per_layer[f"warm.{k}"] = statistics.median(layers[w][k] for w in warm_labels)
        per_layer.update(run_level)
        per_layer.update({"trace.cold_s": e2e["cold_s"], "trace.warm_s": e2e["warm_s"]})
        metrics, units = per_layer, PER_LAYER_UNITS
    else:
        metrics, units = e2e, END_TO_END_UNITS
    ok = not failures and after_release == 0
    record["correct"] = ok

    os.makedirs(os.path.join(STATE_DIR, "results"), exist_ok=True)
    stem = f"{args.workload}-s{args.seed}-t{args.trace}-{run_id}"
    with open(os.path.join(STATE_DIR, "results", stem + ".json"), "w") as fh:
        json.dump(record, fh, indent=1)
    if tracer is not None:
        os.makedirs(os.path.join(STATE_DIR, "traces"), exist_ok=True)
        tracer.dump(os.path.join(STATE_DIR, "traces", stem + ".json"),
                    {"workload": args.workload, "seed": args.seed})
    print(json.dumps(record))
    print(result_line(ok, len(names), len(failures), metrics, units))
    return 0


if __name__ == "__main__":
    sys.exit(main())
