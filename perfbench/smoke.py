"""The benchmark's own smoke test, on tiny inputs (a few minutes, one JVM
at a time):

    python3 perfbench/smoke.py

For every workload it makes one traced run and checks that

1. every metric ``BENCHMARK.json`` names is emitted with its unit, end to
   end and per layer;
2. every job and stage a span launched (its job group, in the event log)
   ran inside that span's interval, so the spans' jobs, stage busy time
   and ``driver.gap_s`` all split the op's own wall time. The op wall is
   printed split both ways: span self times plus the unattributed
   remainder, and stage busy time plus ``driver.gap_s``; the jobs no named
   span launched are printed too.

It then injects a wrong output into ``cron_incremental_load`` (the anti-join
drops rows it should keep) and checks that the run counts the failed ops.
Exits non-zero if any check fails.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench import run  # noqa: E402

SCALE = 0.01
SEED = 11


def _fail(problems: list[str], msg: str) -> None:
    problems.append(msg)
    print(f"FAIL {msg}")


def check_run(name: str, spec: dict, problems: list[str]) -> None:
    rec = run.run(name, SEED, 1, True, scale=SCALE)
    for section, key in (("end_to_end", "end_to_end"), ("per_layer", "layers")):
        got = rec[key]
        for m in spec[section]:
            if m["name"] not in got:
                _fail(problems, f"{name}: {section} metric {m['name']} not emitted")
            elif got[m["name"]][1] != m["unit"]:
                _fail(problems, f"{name}: {m['name']} unit {got[m['name']][1]} != {m['unit']}")
    layers = rec["layers"]
    wall = sum(r["wall_s"] for r in rec["traced_ops"]) / len(rec["traced_ops"])
    spans = sum(v for k, (v, _) in layers.items() if k.endswith(".self_s"))
    rest = layers["trace.unattributed_s"][0]
    busy, gap = layers["spark.stage_busy_s"][0], layers["driver.gap_s"][0]
    print(f"{name}: op wall {wall:.4f}s = span self {spans:.4f}s + unattributed {rest:.4f}s "
          f"({rest / wall:.1%}); = stage busy {busy:.4f}s + driver gap {gap:.4f}s; "
          f"jobs no named span launched {layers['trace.unattributed_jobs'][0]:.2f} per op")
    for err in rec["attribution_errors"]:
        _fail(problems, f"{name}: {err}")
    if not layers["spark.jobs"][0]:
        _fail(problems, f"{name}: no job was attributed to any op")
    if rec["result"]["failed"]:
        _fail(problems, f"{name}: {rec['result']['failed']} ops failed on correct code")


def check_wrong_output_counted(problems: list[str]) -> None:
    import etl_pack_spark.plans.transfer as transfer
    from pyspark.sql import functions as F

    orig = transfer.incremental_filter

    def lossy(*args, **kwargs):
        return orig(*args, **kwargs).where(F.col("l_linenumber") != 1)

    transfer.incremental_filter = lossy
    try:
        rec = run.run("cron_incremental_load", SEED, 1, False, scale=SCALE)
    finally:
        transfer.incremental_filter = orig
    res = rec["result"]
    print(f"wrong output: attempted {res['attempted']}, failed {res['failed']}, "
          f"ok_frac {res['metrics']['ok_frac']['value']:.3f}")
    if res["failed"] == 0 or res["correct"] or res["metrics"]["ok_frac"]["value"] >= 1.0:
        _fail(problems, "a deliberately wrong output was not counted as failed")


def main() -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    problems: list[str] = []
    from perfbench.workloads import WORKLOADS

    for name in WORKLOADS:
        check_run(name, spec, problems)
    check_wrong_output_counted(problems)
    print("smoke:", "FAILED" if problems else "passed")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
