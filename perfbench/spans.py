"""In-memory spans and layer counters for a traced benchmark run.

Every measurement is taken from outside the program: spans wrap the calls
the benchmark makes into each layer, and counters wrap the package's
public ``sources.io.load``, ``cache.track`` and
``cache.checkpoint_generation`` by rebinding those names in every package
module that imported them. Spark's own counters come from its status
store, read by job group after each pass, outside the timed region.
Nothing is written until ``dump`` at the end of the run.
"""

from __future__ import annotations

import contextlib
import json
import sys
import time
from collections import defaultdict

PKG = "distributed_system_mapreduce_spark"

#: status-store fields summed per job group; name -> (StageData getter, scale)
STAGE_FIELDS = {
    "task_run_s": ("executorRunTime", 1e-3),
    "task_cpu_s": ("executorCpuTime", 1e-9),
    "gc_s": ("jvmGcTime", 1e-3),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "shuffle_read_bytes": ("shuffleReadBytes", 1),
    "spill_bytes": ("diskBytesSpilled", 1),
}


def job_group_metrics(spark, group: str) -> dict:
    """Jobs, stages, tasks and summed stage metrics of one job group.

    Stages a job skipped (their shuffle output already existed) ran no
    tasks and are not counted.
    """
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    out = defaultdict(float)
    job_ids = sc.statusTracker().getJobIdsForGroup(group)
    out["jobs"] = len(job_ids)
    for jid in job_ids:
        stage_ids = store.job(jid).stageIds()
        for i in range(stage_ids.size()):
            try:
                stage = store.lastStageAttempt(stage_ids.apply(i))
            except Exception:  # noqa: BLE001 - stage evicted or never attempted
                continue
            done = stage.numCompleteTasks()
            if done == 0:
                continue
            out["stages"] += 1
            out["tasks"] += done
            for name, (getter, scale) in STAGE_FIELDS.items():
                out[name] += getattr(stage, getter)() * scale
    return dict(out)


class Tracer:
    """Spans (name, start, end, parent, shared run id) plus layer counters.

    Counters accumulate into the innermost open span and into per-pass
    totals (``totals[pass][key]``).
    """

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self.totals: dict[str, dict] = defaultdict(lambda: defaultdict(float))
        self.pass_name = "setup"
        self._stack: list[dict] = []
        self._rebound: list[tuple] = []
        self.rebind_sites: dict[str, int] = {}

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "run": self.run_id,
            "id": len(self.spans),
            "parent": self._stack[-1]["id"] if self._stack else None,
            "name": name,
            "pass": self.pass_name,
            **attrs,
            "counts": {},
        }
        self.spans.append(rec)
        self._stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def count(self, key: str, n: float = 1) -> None:
        self.totals[self.pass_name][key] += n
        if self._stack:
            counts = self._stack[-1]["counts"]
            counts[key] = counts.get(key, 0) + n

    # --- counters around the package's public functions ------------------

    def install(self) -> None:
        from distributed_system_mapreduce_spark import cache
        from distributed_system_mapreduce_spark.sources import io

        load, track, ckpt = io.load, cache.track, cache.checkpoint_generation

        def counted_load(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return load(*args, **kwargs)
            finally:
                self.count("sources.load_calls")
                self.count("sources.load_s", time.perf_counter() - t0)

        def counted_track(*args, **kwargs):
            before = cache.tracked_count()
            try:
                return track(*args, **kwargs)
            finally:
                self.count("cache.track_calls")
                self.count("cache.track_new", cache.tracked_count() - before)

        def counted_ckpt(*args, **kwargs):
            self.count("cache.checkpoint_calls")
            return ckpt(*args, **kwargs)

        self.rebind_sites = {
            "load": self._rebind("load", load, counted_load),
            "track": self._rebind("track", track, counted_track),
            "checkpoint_generation": self._rebind(
                "checkpoint_generation", ckpt, counted_ckpt
            ),
        }

    def _rebind(self, attr: str, orig, wrapper) -> int:
        mods = [
            m for name, m in list(sys.modules.items())
            if (name == PKG or name.startswith(PKG + "."))
            and getattr(m, attr, None) is orig
        ]
        for m in mods:
            setattr(m, attr, wrapper)
            self._rebound.append((m, attr, orig))
        return len(mods)

    def uninstall(self) -> None:
        for m, attr, orig in reversed(self._rebound):
            setattr(m, attr, orig)
        self._rebound.clear()

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump({"run": self.run_id, **extra, "spans": self.spans}, fh)
