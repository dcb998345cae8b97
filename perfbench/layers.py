"""Per-layer metrics of a traced run, as per-op means over its timed ops
unless a metric says otherwise."""

from __future__ import annotations

import statistics
from collections import defaultdict

from perfbench.tracing import ROOT, SPANS, self_times, union_seconds

MB = 2**20

# name -> (event-log field, scale, unit), summed over the op's job groups
ENGINE = {
    "spark.jobs": ("jobs", 1, "count"),
    "spark.stages": ("stages", 1, "count"),
    "spark.tasks": ("tasks", 1, "count"),
    "spark.executor_run_s": ("executor_run_ms", 1e-3, "s"),
    "spark.executor_cpu_s": ("executor_cpu_ns", 1e-9, "s"),
    "spark.gc_s": ("gc_ms", 1e-3, "s"),
    "spark.scan_mb": ("input_bytes", 1 / MB, "MB"),
    "spark.shuffle_write_mb": ("shuffle_write_bytes", 1 / MB, "MB"),
    "spark.shuffle_read_mb": ("shuffle_read_bytes", 1 / MB, "MB"),
    "spark.spill_mb": ("spill_bytes", 1 / MB, "MB"),
    "spark.output_mb": ("output_bytes", 1 / MB, "MB"),
    "python.worker_s": ("python_run_ms", 1e-3, "s"),
    "python.boot_s": ("python_boot_ms", 1e-3, "s"),
    "python.arrow_mb": ("python_bytes", 1 / MB, "MB"),
}


def attribution_errors(spans, groups: dict, tol_ms: float = 5.0) -> list[str]:
    """Jobs and stages whose event-log interval leaves the span that owns
    their job group: each job a span launched must run inside it."""
    errors = []
    for s in spans:
        lo, hi = s.epoch[0] * 1e3 - tol_ms, s.epoch[1] * 1e3 + tol_ms
        g = groups.get(s.group, {})
        for kind in ("job_intervals", "intervals"):
            for t0, t1 in g.get(kind, []):
                if t0 < lo or t1 > hi:
                    errors.append(f"op {s.op}: {kind} entry {t0:.0f}..{t1:.0f} ms of span {s.name} "
                                  f"leaves the span's {s.epoch[0] * 1e3:.0f}..{s.epoch[1] * 1e3:.0f} ms")
    return errors


def per_layer(plain, traced, tracer, groups: dict) -> dict[str, tuple[float, str]]:
    ops, facts, spans = traced.ops, traced.facts, tracer.spans
    n = len(ops)
    selfs = self_times(spans)
    out: dict[str, tuple[float, str]] = {}

    by_name: dict[str, list[int]] = defaultdict(list)
    op_groups: dict[int, list[str]] = defaultdict(list)
    for idx, s in enumerate(spans):
        by_name[s.name].append(idx)
        op_groups[s.op].append(s.group)
    for name in SPANS:
        idxs = by_name.get(name, [])
        out[f"{name}.calls"] = (len(idxs) / n, "count")
        out[f"{name}.self_s"] = (sum(selfs[i] for i in idxs) / n, "s")
        out[f"{name}.jobs"] = (sum(groups.get(spans[i].group, {}).get("jobs", 0) for i in idxs) / n, "count")

    per_op = []
    for rec in ops:
        gs = [groups[g] for g in op_groups[rec["op"]] if g in groups]
        row = {k: sum(g.get(field, 0) for g in gs) * scale for k, (field, scale, _) in ENGINE.items()}
        row["spark.stage_busy_s"] = union_seconds([iv for g in gs for iv in g.get("intervals", [])])
        row["driver.gap_s"] = rec["wall_s"] - row["spark.stage_busy_s"]
        per_op.append(row)
    for k, (_, _, unit) in ENGINE.items():
        out[k] = (statistics.fmean(r[k] for r in per_op), unit)
    out["spark.stage_busy_s"] = (statistics.fmean(r["spark.stage_busy_s"] for r in per_op), "s")
    out["driver.gap_s"] = (statistics.fmean(r["driver.gap_s"] for r in per_op), "s")
    out["spark.output_files"] = (statistics.fmean(r["files_written"] for r in ops), "count")
    out["catalyst.s"] = (statistics.fmean(f["catalyst_s"] for f in facts), "s")

    scanned = [(r["units"], r["rows_written"]) for r in ops if r.get("snapshot_rows") is not None]
    total = sum(u for u, _ in scanned)
    out["dedup.drop_ratio"] = (
        sum(u - w for u, w in scanned) / total if total else 0.0, "ratio")
    biggest = max(range(n), key=lambda i: ops[i].get("snapshot_rows") or 0)
    out["dedup.snapshot_rows"] = (float(ops[biggest].get("snapshot_rows") or 0), "rows")
    out["dedup.snapshot_rows_est"] = (float(max(facts[biggest]["snapshot_est"], default=0)), "rows")
    out["dedup.prefilter_firings"] = (float(sum(f["prefilter"] for f in facts)), "count")
    out["neardup.pairs"] = (float(facts[0]["pairs"] or 0), "count")
    curated = [r["rows_written"] / r["curated_docs"] for r in ops
               if r["curated_docs"] and r["rows_written"] is not None]
    out["pretrain.survivor_ratio"] = (statistics.fmean(curated) if curated else 0.0, "ratio")
    mem = traced.summary()
    out["mem.driver_peak_rss_mb"] = (mem["driver_peak_rss_mb"], "MB")
    out["mem.jvm_peak_rss_mb"] = (mem["jvm_peak_rss_mb"], "MB")
    out["mem.jvm_retained_mb"] = (mem["jvm_retained_mb"], "MB")
    out["cache.persisted_rdds"] = (float(ops[-1]["persisted_rdds"]), "count")
    out["cache.storage_mb"] = (ops[-1]["storage_mb"], "MB")

    # op wall not covered by any named span, and jobs that no named span
    # launched: both fall to the root span around the whole op
    roots = [(idx, s) for idx, s in enumerate(spans) if s.name == ROOT]
    out["trace.unattributed_s"] = (statistics.fmean(selfs[idx] for idx, _ in roots), "s")
    out["trace.unattributed_jobs"] = (
        statistics.fmean(groups.get(s.group, {}).get("jobs", 0) for _, s in roots), "count")
    out["trace.overhead_ratio"] = (
        traced.summary()["op_s_p50"] / plain.summary()["op_s_p50"], "ratio")
    attempted = len(plain.ops) + n
    failed = plain.summary()["failed"] + traced.summary()["failed"]
    out["failed_frac"] = (failed / attempted, "ratio")
    return out
