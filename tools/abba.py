"""Interleaved two-tree ABBA — the STANDING attribution probe (r14).

The house protocol (SCALE.md r11-r13): when two rounds' bench records
ran on differently-degraded boxes, the record-to-record delta is not
interpretable alone. Interleaving fresh-process legs of the two CODE
trees on the SAME box at the SAME time isolates the code delta from
the box: A B B A A B B A, one process per leg, each leg timing the
probe queries once, cold cache, noop sink. A box regression is UNIFORM
across queries; a code regression is query-shaped.

    python tools/abba.py BASE_TREE [sf_dir] [n_legs_per_arm] [out.json] [q1,q2,...]

BASE_TREE is a checkout of the comparison commit (e.g. a git worktree
of the previous round's end state). Writes every raw leg sample to
``out.json`` (default tools/abba_latest.json).

The last argument is a comma-separated list of registry or retired
query names to probe (a round's changed rows, say); it defaults to the
standing probe set ``QUERIES`` (round-13 VERDICT #8): the four standing
probes PLUS ``tpch_q5_like`` and ``sessionize`` — both swung ~2x
between same-tree legs of the r13 driver record and needed manual
first-attempt archaeology to clear; carrying them here keeps future
attribution one artifact away.
"""

from __future__ import annotations

import json
import statistics
import subprocess
import sys
import tempfile
from pathlib import Path

QUERIES = [
    "p2_window", "corpus_curate", "neardup_components", "text_signals",
    # r14 additions (round-13 VERDICT #8): the r13 driver-record swing
    # rows — 2.11x / 1.86x between legs of the SAME tree on a degraded
    # box, i.e. exactly the shape this probe exists to classify
    "tpch_q5_like", "sessionize",
]

LEG_SCRIPT = r"""
import json, sys, time
sys.path.insert(0, sys.argv[1])
from etl_pack_spark.session import get_spark
from etl_pack_spark import suite
spark = get_spark("abba_leg")
out = {}
for name in json.loads(sys.argv[3]):
    if name not in suite.QUERIES and name not in suite.RETIRED_QUERIES:
        out[name] = None  # absent in this tree (older round): recorded, not fatal
        continue
    fn = suite.QUERIES.get(name) or suite.RETIRED_QUERIES[name]
    spark.catalog.clearCache()
    t0 = time.perf_counter()
    fn(spark, sys.argv[2]).write.format("noop").mode("overwrite").save()
    out[name] = round(time.perf_counter() - t0, 3)
print("LEG_RESULT " + json.dumps(out))
"""


def run_leg(tree: str, sf_dir: str, queries: list[str]) -> dict:
    with tempfile.NamedTemporaryFile("w", suffix=".py", delete=False) as f:
        f.write(LEG_SCRIPT)
        script = f.name
    r = subprocess.run(
        [sys.executable, script, tree, sf_dir, json.dumps(queries)],
        capture_output=True, text=True, timeout=1800,
    )
    for line in r.stdout.splitlines():
        if line.startswith("LEG_RESULT "):
            return json.loads(line[len("LEG_RESULT "):])
    raise RuntimeError(f"leg failed for {tree}:\n{r.stderr[-2000:]}")


def main() -> None:
    if len(sys.argv) < 2:
        raise SystemExit(__doc__)
    b_tree = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    n = int(sys.argv[3]) if len(sys.argv) > 3 else 4
    out_name = sys.argv[4] if len(sys.argv) > 4 else "abba_latest.json"
    queries = sys.argv[5].split(",") if len(sys.argv) > 5 else QUERIES
    a_tree = str(Path(__file__).resolve().parent.parent)  # this HEAD
    legs: list[dict] = []
    # A B B A repeated: adjacent pairs see the same ambient window twice
    order = ("A" + "BBAA" * n)[: 2 * n]
    for i, arm in enumerate(order):
        tree = a_tree if arm == "A" else b_tree
        res = run_leg(tree, sf_dir, queries)
        legs.append({"i": i, "arm": arm, **res})
        print(json.dumps(legs[-1]))
    summary = {}
    for q in queries:
        a = [r[q] for r in legs if r["arm"] == "A" and r.get(q) is not None]
        b = [r[q] for r in legs if r["arm"] == "B" and r.get(q) is not None]
        summary[q] = {
            "A_head": sorted(a), "B_base": sorted(b),
            "median_ratio_A_over_B": (
                round(statistics.median(a) / statistics.median(b), 3)
                if a and b else None
            ),
        }
    out = {"order": order, "sf_dir": sf_dir, "a_tree": a_tree,
           "b_tree": b_tree, "queries": queries, "legs": legs,
           "summary": summary}
    Path(__file__).with_name(out_name).write_text(
        json.dumps(out, indent=1) + "\n")
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
