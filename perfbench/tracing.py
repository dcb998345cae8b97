"""Per-layer measurement for traced runs, taken from outside the package.

Two sources, both enabled only in a traced run:

* Spans. :class:`Tracer` wraps the public entry points in ``SPANS`` with
  span recorders, in every loaded module that resolves the name, so a
  caller's ``from ... import name`` alias is wrapped too. Each span sets a
  Spark job group and restores the outer group on exit, so every job is
  attributed to the innermost span that launched it. Spans stay in memory
  until the run writes them out.
* The Spark event log (uncompressed), read after the session stops: jobs,
  stages and tasks per job group, with task metrics and the SQL metrics of
  the Python boundary.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import importlib
import inspect
import json
import os
import sys
import time
from collections import defaultdict
from dataclasses import asdict, dataclass

from pyspark.sql import DataFrame

# span name -> (module, attribute). Names under ``etl_pack_spark`` are the
# package's public entry points; ``sink.noop`` is the benchmark's own sink.
SPANS = {
    "plans.transfer.run_transfer": ("etl_pack_spark.plans.transfer", "run_transfer"),
    "sources.reader.windowed_read": ("etl_pack_spark.sources.reader", "windowed_read"),
    "sources.reader.read_table": ("etl_pack_spark.sources.reader", "read_table"),
    "sinks.fsio.exists": ("etl_pack_spark.sinks.fsio", "exists"),
    "operators.dedup.snapshot_hashes": ("etl_pack_spark.operators.dedup", "snapshot_hashes"),
    "operators.dedup.incremental_filter": ("etl_pack_spark.operators.dedup", "incremental_filter"),
    "sinks.writers.append_table": ("etl_pack_spark.sinks.writers", "append_table"),
    "plans.pretrain.prepare_pretraining_corpus": ("etl_pack_spark.plans.pretrain", "prepare_pretraining_corpus"),
    "plans.curate.curate_corpus": ("etl_pack_spark.plans.curate", "curate_corpus"),
    "operators.partitioning.spread_small_scan": ("etl_pack_spark.operators.partitioning", "spread_small_scan"),
    "operators.neardup.simhash_neardup_pairs": ("etl_pack_spark.operators.neardup", "simhash_neardup_pairs"),
    "operators.components.neardup_clusters": ("etl_pack_spark.operators.components", "neardup_clusters"),
    "operators.components.cluster_dedup": ("etl_pack_spark.operators.components", "cluster_dedup"),
    "operators.packing.pack_sequences": ("etl_pack_spark.operators.packing", "pack_sequences"),
    "operators.cache.pooled_persist": ("etl_pack_spark.operators.cache", "pooled_persist"),
    "operators.cache.truncated_persist": ("etl_pack_spark.operators.cache", "truncated_persist"),
    "operators.retrieval.bm25_topk_batch": ("etl_pack_spark.operators.retrieval", "bm25_topk_batch"),
    "operators.similarity.ivf_topk": ("etl_pack_spark.operators.similarity", "ivf_topk"),
    "operators.retrieval.rrf_fuse": ("etl_pack_spark.operators.retrieval", "rrf_fuse"),
    "sink.noop": ("perfbench.workloads", "sink_noop"),
}
ROOT = "op"  # the benchmark's span around one whole op
# calls whose arguments or result are inspected after the op
_HELD = {
    "operators.dedup.incremental_filter", "operators.neardup.simhash_neardup_pairs",
    "sinks.writers.append_table", "sink.noop",
}
_GROUP = "spark.jobGroup.id"


@dataclass
class Span:
    name: str
    op: int
    parent: int | None
    start: float
    end: float = 0.0
    epoch: tuple[float, float] = (0.0, 0.0)  # wall-clock start and end, s

    @property
    def group(self) -> str:
        return f"perfbench-span-{id(self)}"


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self.held: list[tuple[str, int, dict, object]] = []
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []
        self.op = -1

    @contextlib.contextmanager
    def span(self, name: str):
        epoch0 = time.time()
        s = Span(name, self.op, self._stack[-1] if self._stack else None, time.perf_counter())
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        outer = self.sc.getLocalProperty(_GROUP)
        self.sc.setLocalProperty(_GROUP, s.group)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            s.epoch = (epoch0, time.time())
            self._stack.pop()
            self.sc.setLocalProperty(_GROUP, outer)

    def _wrap(self, name: str, fn):
        sig = inspect.signature(fn)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                out = fn(*args, **kwargs)
            if name in _HELD:
                self.held.append((name, self.op, sig.bind(*args, **kwargs).arguments, out))
            return out
        return traced

    def install(self) -> None:
        for name, (mod_name, attr) in SPANS.items():
            orig = getattr(importlib.import_module(mod_name), attr)
            traced = self._wrap(name, orig)
            for mod_key, mod in list(sys.modules.items()):
                if mod_key.split(".")[0] in ("etl_pack_spark", "perfbench") and \
                        getattr(mod, attr, None) is orig:
                    setattr(mod, attr, traced)
                    self._patched.append((mod, attr, orig))

    def uninstall(self) -> None:
        for mod, attr, orig in reversed(self._patched):
            setattr(mod, attr, orig)
        self._patched.clear()

    def inspect(self, op: int, count_pairs: bool) -> dict:
        """Layer facts of op ``op`` read from the calls it made, after the
        op's timed interval: the snapshot estimate and prefilter verdict of
        each anti-join, the near-dup pair count, and the sink frame's
        Catalyst phase times. Drops the op's held frames. The estimate is
        the one the anti-join itself reads when it picks its plan."""
        from etl_pack_spark.operators.dedup import _estimated_rows

        facts = {"snapshot_est": [], "prefilter": 0, "pairs": None, "catalyst_s": 0.0}
        keep = []
        for name, o, args, out in self.held:
            if o != op:
                keep.append((name, o, args, out))
                continue
            if name == "operators.dedup.incremental_filter" and args["snapshot"] is not None:
                facts["snapshot_est"].append(_estimated_rows(args["snapshot"]))
                plan = out._jdf.queryExecution().logical().toString()
                facts["prefilter"] += int("__h_bkt" in plan)
            elif name == "operators.neardup.simhash_neardup_pairs" and count_pairs:
                facts["pairs"] = out.count()
            elif name in ("sinks.writers.append_table", "sink.noop"):
                facts["catalyst_s"] += catalyst_seconds(args["df"])
        self.held = keep
        return facts

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({**asdict(s), "group": s.group}) + "\n")


def catalyst_seconds(df: DataFrame) -> float:
    """Analysis (paid when the frame was built) plus optimization and
    planning of ``df``'s own query execution, from its phase tracker."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    it = phases.keySet().iterator()
    total = 0
    while it.hasNext():
        total += phases.get(it.next()).get().durationMs()
    return total / 1e3


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the time its child spans cover."""
    child = [0.0] * len(spans)
    for s in spans:
        if s.parent is not None:
            child[s.parent] += s.end - s.start
    return [s.end - s.start - c for s, c in zip(spans, child)]


# --------------------------------------------------------------------------
# event log
# --------------------------------------------------------------------------

_PY_TIME = {"time to run Python workers": "python_run_ms",
            "time to start Python workers": "python_boot_ms"}
_PY_BYTES = ("data sent to Python workers", "data returned from Python workers")


def read_event_log(log_dir: str) -> dict[str, dict]:
    """Per job group: job and stage counts, job and stage intervals (epoch
    ms) and summed task metrics."""
    groups: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    intervals: dict[str, list] = defaultdict(list)
    jobs: dict[str, list] = defaultdict(list)
    job_start: dict[int, tuple[str, int]] = {}
    stage_group: dict[int, str] = {}
    # one file per app, or an eventlog_v2_* directory of rolled events_* files
    paths = sorted(p for p in glob.glob(f"{log_dir}/**", recursive=True)
                   if os.path.isfile(p) and not os.path.basename(p).startswith("appstatus"))
    for path in paths:
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    g = (e.get("Properties") or {}).get(_GROUP) or ""
                    groups[g]["jobs"] += 1
                    job_start[e["Job ID"]] = (g, e["Submission Time"])
                elif kind == "SparkListenerJobEnd":
                    g, t0 = job_start.pop(e["Job ID"])
                    jobs[g].append((t0, e["Completion Time"]))
                elif kind == "SparkListenerStageSubmitted":
                    g = (e.get("Properties") or {}).get(_GROUP) or ""
                    stage_group[e["Stage Info"]["Stage ID"]] = g
                elif kind == "SparkListenerStageCompleted":
                    info = e["Stage Info"]
                    g = stage_group.get(info["Stage ID"], "")
                    groups[g]["stages"] += 1
                    groups[g]["tasks"] += info["Number of Tasks"]
                    intervals[g].append((info["Submission Time"], info["Completion Time"]))
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(e["Stage ID"], "")
                    _add_task(groups[g], e)
    for g, iv in intervals.items():
        groups[g]["intervals"] = iv
    for g, iv in jobs.items():
        groups[g]["job_intervals"] = iv
    return groups


def _add_task(acc: dict, e: dict) -> None:
    m = e.get("Task Metrics") or {}
    acc["executor_run_ms"] += m.get("Executor Run Time", 0)
    acc["executor_cpu_ns"] += m.get("Executor CPU Time", 0)
    acc["gc_ms"] += m.get("JVM GC Time", 0)
    acc["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
    acc["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    acc["output_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
    sr = m.get("Shuffle Read Metrics") or {}
    acc["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    acc["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    for a in e["Task Info"].get("Accumulables", []):
        name = a.get("Name")
        if name in _PY_TIME:
            acc[_PY_TIME[name]] += float(a.get("Update") or 0)
        elif name in _PY_BYTES:
            acc["python_bytes"] += float(a.get("Update") or 0)


def union_seconds(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for lo, hi in sorted(intervals):
        if hi <= end:
            continue
        total += hi - max(lo, end)
        end = hi
    return total / 1e3
