"""Benchmark entry point: one workload, one seed, one process.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The run generates its inputs from the
seed, then sets up: imports the package, starts one ``SparkSession`` of
``local[nproc]`` through its ``get_spark`` and runs one untimed warm-up op
(``setup_s``). It then runs the workload's ops as a closed loop with one
client for ``--seconds`` seconds, clearing Spark's cache between ops, and
checks every op's output after the timed phase.

``--trace 0`` prints every end-to-end metric. ``--trace 1`` starts the
session with the event log on, runs the timed phase once plainly and once
more with the package's entry points wrapped in spans
(``perfbench.tracing``), and prints the per-layer metrics. The last stdout line is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. Everything the run
writes stays under ``.bench_work/`` in the checkout; the full record,
with the box stamp, is ``.bench_work/<workload>-<seed>-<trace>/record.json``.

Seeds: develop a change against seed 1 and confirm a claimed gain on the
held-out seed 97, which the change was not tuned on.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
OP_TIMEOUT_S = 90.0
NOT_COMPARABLE = (
    "Measured on this box at local[nproc]; not comparable with the 32-core "
    "BENCH_r*.json trajectory or bench.py's headline_suite_wall_sec."
)


def _box_env(work: Path) -> dict:
    """Pin the session to this box and keep every file the run writes
    (Spark scratch, temp files, the package archive, JVM perf data) inside
    ``work``."""
    nproc = len(os.sched_getaffinity(0))
    mem_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    driver_mem = "2g" if mem_gb >= 8 else "1g"
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(nproc),
        "SPARK_GRAFT_DRIVER_MEM": driver_mem,
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        "TMPDIR": str(tmp),
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    })
    tempfile.tempdir = str(tmp)
    return {"nproc": nproc, "SPARK_GRAFT_CPUS": nproc, "driver_memory": driver_mem,
            "mem_total_gb": round(mem_gb, 1)}


def start_session(work: Path, event_log: bool):
    """A session from the package's ``get_spark``; the event log only when
    the run is traced."""
    from etl_pack_spark import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
    }
    if event_log:
        (work / "eventlog").mkdir(exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": (work / "eventlog").as_uri(),
            "spark.eventLog.compress": "false",
        })
    return get_spark("perfbench", extra_conf=conf)


def stop_jvm(spark) -> None:
    """Stop the session, then end the JVM and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:  # the JVM must not outlive the run
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


# --------------------------------------------------------------------------
# memory and storage probes
# --------------------------------------------------------------------------

def _pids(spark) -> list[int]:
    return [os.getpid(), int(spark._jvm.java.lang.ProcessHandle.current().pid())]


def reset_peak_rss(pids: list[int]) -> None:
    for pid in pids:
        with open(f"/proc/{pid}/clear_refs", "w") as f:
            f.write("5")


def peak_rss_mb(pids: list[int]) -> float:
    total = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total += int(line.split()[1])
    return total / 1024


def host_steal_s() -> float:
    """CPU time, summed over cores, that the hypervisor has given to other
    guests since boot (the ``steal`` column of /proc/stat)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def jvm_retained_mb(spark) -> float:
    """Heap and non-heap memory the JVM still holds: a full GC, a pause for
    Spark's cleaner to drop the broadcast and shuffle blocks that GC found
    unreachable, then a second full GC. Unlike the JVM's resident size,
    which follows how far the collector happened to grow the heap, this
    follows what the run keeps alive."""
    mx = spark._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    mx.gc()
    time.sleep(1.0)
    mx.gc()
    return (mx.getHeapMemoryUsage().getUsed() + mx.getNonHeapMemoryUsage().getUsed()) / 2**20


def storage(spark) -> tuple[int, float]:
    """Cached RDDs in the block manager and the storage they hold (MB)."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return len(infos), sum(i.memSize() + i.diskSize() for i in infos) / 2**20


# --------------------------------------------------------------------------
# the closed loop
# --------------------------------------------------------------------------

class Phase:
    """One timed phase: ops run back to back until ``seconds`` have passed
    and the workload may stop; checks run afterwards."""

    def __init__(self, spark, wl, seconds: float, first_op: int, tracer=None):
        self.spark, self.wl, self.tracer = spark, wl, tracer
        self.ops: list[dict] = []
        self.facts: list[dict] = []
        pids = _pids(spark)
        reset_peak_rss(pids)
        steal0 = host_steal_s()
        t_phase = time.perf_counter()
        i = first_op
        while True:
            self.ops.append(self._one(i))
            i += 1
            if time.perf_counter() - t_phase >= seconds and wl.may_stop(i):
                break
        self.next_op = i
        self.steal_s = host_steal_s() - steal0
        self.driver_peak_mb = peak_rss_mb(pids[:1])
        self.jvm_peak_mb = peak_rss_mb(pids[1:])
        self.jvm_retained_mb = jvm_retained_mb(spark)

    def run_checks(self) -> None:
        """Check every op's output, outside the timed interval."""
        for rec in self.ops:
            if rec["error"] is None:
                try:
                    rec["error"] = rec.pop("check")(rec.pop("result"))
                except Exception as e:  # noqa: BLE001 — a crashing check is a failed op
                    rec["error"] = f"check raised {e!r}"[:500]
            rec.pop("check", None)
            rec.pop("result", None)

    def _one(self, i: int) -> dict:
        spark, tracer = self.spark, self.tracer
        op = self.wl.op(spark, i)
        watchdog = threading.Timer(OP_TIMEOUT_S, spark.sparkContext.cancelAllJobs)
        error = result = None
        if tracer is not None:
            tracer.op = i
        epoch0 = time.time()
        t0 = time.perf_counter()
        watchdog.start()
        try:
            if tracer is not None:
                with tracer.span("op"):
                    result = op.run()
            else:
                result = op.run()
        except Exception as e:  # noqa: BLE001 — a raising op is a failed op
            error = f"raised {e!r}"[:500]
        finally:
            wall = time.perf_counter() - t0
            watchdog.cancel()
        if wall > OP_TIMEOUT_S and error is None:
            error = f"timed out after {wall:.1f}s"
        rec = {"op": i, "label": op.label, "wall_s": wall, "units": op.units,
               "epoch": (epoch0, epoch0 + wall), "error": error, "check": op.check,
               "result": result, "rows_written": op.rows_written(result) if error is None else None,
               "files_written": op.files_written(), "snapshot_rows": op.snapshot_rows,
               "curated_docs": op.curated_docs}
        if tracer is not None:
            self.facts.append(tracer.inspect(i, count_pairs=not self.facts))
        spark.catalog.clearCache()
        rec["persisted_rdds"], rec["storage_mb"] = storage(spark)
        return rec

    def summary(self) -> dict:
        walls = [r["wall_s"] for r in self.ops]
        failed = sum(r["error"] is not None for r in self.ops)
        done_units = sum(r["units"] for r in self.ops if r["error"] is None)
        return {
            "ops": len(self.ops),
            "failed": failed,
            "op_s_p50": statistics.median(walls),
            "op_s_tail": op_s_tail(walls),
            "rows_per_s": done_units / sum(walls),
            "failed_frac": failed / len(self.ops),
            "footprint_mb": self.driver_peak_mb + self.jvm_retained_mb,
            "driver_peak_rss_mb": self.driver_peak_mb,
            "jvm_peak_rss_mb": self.jvm_peak_mb,
            "jvm_retained_mb": self.jvm_retained_mb,
            "host_steal_s": self.steal_s,
        }


def op_s_tail(walls: list[float]) -> dict | None:
    """The highest percentile with at least 10 ops beyond it, if any."""
    n = len(walls)
    if n < 11:
        return None
    pct = int(100 * (n - 10) / n)
    return {"pct": pct, "value": statistics.quantiles(walls, n=100)[pct - 1]}


# --------------------------------------------------------------------------
# the run
# --------------------------------------------------------------------------

def run(workload: str, seed: int, seconds: float, trace: bool, scale: float = 1.0) -> dict:
    """One benchmark run; returns the full record (the printed JSON line is
    ``record['result']``). ``scale`` shrinks the inputs for the smoke test."""
    work = ROOT / ".bench_work" / f"{workload}-{seed}-{int(trace)}"
    shutil.rmtree(work, ignore_errors=True)
    box = _box_env(work)
    t_import = time.perf_counter()
    from perfbench import workloads
    import_s = time.perf_counter() - t_import

    t_gen = time.perf_counter()
    wl = workloads.WORKLOADS[workload](work, seed, scale)
    input_gen_s = time.perf_counter() - t_gen
    box["calibration"] = _calibration()

    t_setup = time.perf_counter()
    spark = start_session(work, event_log=trace)
    wl.warmup(spark)
    spark.catalog.clearCache()
    setup_s = import_s + time.perf_counter() - t_setup
    box.update(_versions(spark))

    plain = Phase(spark, wl, seconds, first_op=0)
    plain.run_checks()
    record = {
        "workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
        "box": box, "note": NOT_COMPARABLE, "unit": wl.unit,
        "input_gen_s": input_gen_s, "setup_s": setup_s, "plain": plain.summary(),
        "ops": plain.ops,
    }
    phases = [plain]
    if trace:
        # same session, so the traced phase differs from the plain one only
        # by the spans; the event log is on in both
        from perfbench import tracing
        from perfbench.layers import attribution_errors, per_layer

        tracer = tracing.Tracer(spark.sparkContext)
        tracer.install()
        try:
            traced = Phase(spark, wl, seconds, first_op=plain.next_op, tracer=tracer)
        finally:
            tracer.uninstall()
        traced.run_checks()
        phases.append(traced)
    stop_jvm(spark)  # also flushes the event log
    if trace:
        tracer.dump(str(work / "spans.jsonl"))
        record["traced"] = traced.summary()
        record["traced_ops"] = traced.ops
        groups = tracing.read_event_log(str(work / "eventlog"))
        record["layers"] = per_layer(plain, traced, tracer, groups)
        record["attribution_errors"] = attribution_errors(tracer.spans, groups)

    attempted = sum(len(p.ops) for p in phases)
    failed = sum(p.summary()["failed"] for p in phases)
    s = plain.summary()
    record["end_to_end"] = {
        "setup_s": (setup_s, "s"),
        "op_s_p50": (s["op_s_p50"], "s"),
        "rows_per_s": (s["rows_per_s"], "1/s"),
        "ok_frac": (1.0 - s["failed_frac"], "ratio"),
        "footprint_mb": (s["footprint_mb"], "MB"),
    }
    chosen = record["layers"] if trace else record["end_to_end"]
    metrics = {k: {"value": v, "unit": u} for k, (v, u) in chosen.items()}
    record["result"] = {"correct": failed == 0, "attempted": attempted,
                        "failed": failed, "metrics": metrics}
    for path in work.iterdir():  # keep the record and spans, drop inputs and outputs
        if path.name == "spans.jsonl":
            continue
        if path.is_dir():
            shutil.rmtree(path)
        else:
            path.unlink()
    with open(work / "record.json", "w") as f:
        json.dump(record, f, indent=1, default=str)
    return record


def _calibration() -> dict:
    """bench.py's fixed-work CPU/disk stamp, imported, not copied."""
    from bench import _calibrate

    return _calibrate()


def _versions(spark) -> dict:
    import pyspark

    return {
        "spark": spark.version,
        "pyspark": pyspark.__version__,
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
    }


def report(record: dict) -> list[str]:
    """Human-readable lines: every metric by name and unit."""
    p = record["plain"]
    lines = [
        f"perfbench {record['workload']} seed={record['seed']} trace={int(record['trace'])} "
        f"(closed loop, 1 client; unit: {record['unit']})",
        f"box: {json.dumps(record['box'], sort_keys=True)}",
        f"note: {record['note']}",
        f"input_gen_s = {record['input_gen_s']:.3f} s (not in setup_s)",
        f"setup_s = {record['setup_s']:.3f} s (package import, get_spark and one warm-up op)",
        f"op_s_p50 = {p['op_s_p50']:.4f} s over {p['ops']} ops",
        f"op_s_tail = {p['op_s_tail'] or 'n/a (fewer than 11 ops)'}",
        f"rows_per_s = {p['rows_per_s']:.2f} 1/s",
        f"host steal = {p['host_steal_s']:.1f} s during the timed ops (CPU time other guests "
        "took from this box; a run slowed from outside shows it)",
        f"failed_frac = {p['failed_frac']:.4f} ratio ({p['failed']}/{p['ops']}); ok_frac = {1 - p['failed_frac']:.4f} ratio",
        f"footprint_mb = {p['footprint_mb']:.1f} MB (driver peak RSS {p['driver_peak_rss_mb']:.1f} "
        f"+ JVM retained after the ops {p['jvm_retained_mb']:.1f}; JVM peak RSS {p['jvm_peak_rss_mb']:.1f})",
        "storage after each op (persisted_rdds, storage_mb): "
        + json.dumps([(r["persisted_rdds"], round(r["storage_mb"], 2)) for r in record["ops"]]),
    ]
    for r in record["ops"] + record.get("traced_ops", []):
        if r["error"]:
            lines.append(f"FAILED op {r['op']} ({r['label']}): {r['error']}")
    if record["trace"]:
        lines += [f"ATTRIBUTION {e}" for e in record["attribution_errors"]]
        for k, (v, u) in record["layers"].items():
            lines.append(f"{k} = {v:.6g} {u}")
    return lines


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    sys.path.insert(0, str(ROOT))
    record = run(args.workload, args.seed, args.seconds, bool(args.trace))
    for line in report(record):
        print(line)
    print(json.dumps(record["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
