"""Partitioning helpers: spread small scans, leave big scans alone.

The test fixtures are single small parquet files that scan as 1-3
tasks, so CPU-bound per-row stages (canonical hashing, tokenize +
explode) underuse a 32-core cluster without an explicit repartition.
On a production many-split scan the same repartition is a PURE EXTRA
full shuffle whenever downstream stages don't reuse its partitioning —
at 100 TB that's the difference between a map-only pipeline and
shuffling the whole corpus once for nothing.

:func:`spread_small_scan` makes the spread conditional: repartition by
the key only when the input's planned partition count underuses the
cluster's default parallelism. (Operators whose downstream stages DO
reuse the key partitioning — shingling windows, per-doc signature
aggregates — keep their unconditional repartition: there, one compact
doc-row shuffle REPLACES a strictly larger exploded-row shuffle, which
is the right trade at any scale.)
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_pack_spark.operators.guards import plan_stats

# Bytes of (column-pruned, plan-estimated) input per spread partition
# (r16, round-15 VERDICT #4): the r15 spread always widened to
# defaultParallelism, which on a tiny frame makes every downstream
# Python stage pay ~32 near-empty Arrow batches + worker round-trips —
# measurably why the 8-core suite beat the 32-core one at sf0.1. Width
# now scales with the data: ceil(est_bytes / floor), capped at
# defaultParallelism, so a 50 KB frame spreads a few ways, the sf0.1
# fixtures still reach full width, and the 10x/30x probes are
# unchanged. The floor is calibrated on the fixture sweep recorded in
# OPTIMIZATION_r16.md — a bytes-per-task constant like
# spark.sql.files.maxPartitionBytes, not a core-count one.
SPREAD_FLOOR_BYTES = 24 * 1024


def spread_width(df: DataFrame) -> int | None:
    """The data-proportionate spread width (r16):
    ``min(defaultParallelism, ceil(est_bytes / SPREAD_FLOOR_BYTES))``,
    never below 1, from the (column-pruned) plan's byte estimate.
    Unknown/huge estimates (opaque lineage) saturate the width at
    defaultParallelism, the pre-r16 behavior. ``None`` when the plan
    stats cannot be read — callers fall back to their conservative
    behavior."""
    stats = plan_stats(df)
    if stats is None:
        return None
    target = df.sparkSession.sparkContext.defaultParallelism
    return min(target, max(1, math.ceil(stats.bytes / SPREAD_FLOOR_BYTES)))


def spread_small_scan(
    df: DataFrame, key_col: str, full_width: bool = False
) -> DataFrame:
    """Repartition by ``key_col`` only when the scan underuses the
    cluster (planned partitions < the data-proportionate width below).
    Falls back to a plain keyed repartition if the partition count or
    the plan stats cannot be read.

    The spread pins an EXPLICIT partition count (r15): a keyed
    ``repartition(col)`` without one is an AQE-coalescible exchange,
    and the fixture frames are so small by bytes (a few MB) that AQE
    collapsed them right back to 1-2 partitions — bytes-based
    coalescing cannot see that the rows feed a CPU-bound stage (row
    hashing, pair fan-out through a Python boundary) whose cost is not
    proportional to input bytes. An explicit count is exempt from
    coalescing, and this path only fires when the scan underuses the
    cluster, so a production many-split scan is never touched.

    The count itself is data-proportionate (r16, round-15 VERDICT #4):
    ``min(defaultParallelism, ceil(est_bytes / floor))`` — tiny frames
    no longer fan out to one near-empty Arrow batch per core, while
    anything bigger than ``floor × defaultParallelism`` still spreads
    to full width. ``full_width=True`` opts a call site out of the
    bytes floor (r16): a spread feeding work that is NOT proportional
    to input bytes (the exact-Jaccard O(n²) pair fan-out) would be
    under-provisioned by any bytes-per-task sizing."""
    try:
        n_parts = df.rdd.getNumPartitions()
    except Exception:  # noqa: BLE001 — conservative: keep fixture behavior
        return df.repartition(F.col(key_col))
    width = (
        df.sparkSession.sparkContext.defaultParallelism
        if full_width else spread_width(df)
    )
    if width is None:
        return df.repartition(F.col(key_col))
    if n_parts < width:
        return df.repartition(width, F.col(key_col))
    return df
