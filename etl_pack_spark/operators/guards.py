"""Size facts for adaptive plan choices: the package's one plan-stats
reader and one bounded row probe, plus the broadcast guard built on them.

* :func:`plan_stats` — one optimized-plan ``stats()`` read: the byte
  estimate every size heuristic uses (spread width, the anti-join
  prefilter window) and the EXACT row count of plans that optimize to a
  driver-local leaf. ``None`` instead of raising; each caller keeps its
  own conservative fallback for that case.
* :func:`bounded_count` — that exact count when known (no job), else
  ``limit(bound + 1).count()``, which never scans past the bound. Probe
  a persisted/pooled frame, or the probe and the consumer run the
  lineage twice.
* :func:`maybe_broadcast` — hints VOCABULARY-sized model frames (unigram
  token model, NB log-likelihood table) joined onto corpus-sized
  exploded tokens. Zipf keeps clean-corpus models tiny, but a 100 TB raw
  crawl's vocabulary can reach tens of GB, and a forced broadcast
  ignores ``spark.sql.autoBroadcastJoinThreshold`` (driver and executor
  OOM). Past the bound the frame stays UNHINTED and AQE picks the join
  from runtime sizes (a shuffled hash join for a genuinely huge model).
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# ~2M rows ≈ low hundreds of MB at typical (token, double) widths:
# comfortably broadcastable on executors sized for 100 TB inputs, and
# far past the point where zipf says a real vocabulary has gone wrong.
MAX_BROADCAST_MODEL_ROWS = 2_000_000

# with CBO off, only these leaves carry a rowCount, and it is exact by
# construction (createDataFrame output, range, anything constant-folded
# onto them); the gate keeps estimated CBO rowCounts out if a future
# config turns them on
_EXACT_LEAVES = ("LocalRelation", "OneRowRelation", "Range")


class PlanStats(NamedTuple):
    rows: int | None  # exact, for driver-local leaves only
    bytes: int  # Catalyst's sizeInBytes estimate of the optimized plan


def plan_stats(df: DataFrame) -> PlanStats | None:
    """Catalyst's plan statistics for ``df``, free driver-side (no
    job): the EXACT row count when the optimized plan is a driver-local
    leaf (``None`` for every distributed plan), and the plan's
    ``sizeInBytes`` estimate. Returns ``None`` when the stats cannot
    be read.

    The plan is optimized in a throwaway query execution: optimizing
    ``df``'s own would pin a pooled frame's cached physical plan in
    driver memory after ``clearCache()``."""
    try:
        session = df.sparkSession
        mode = session._jvm.org.apache.spark.sql.execution.CommandExecutionMode
        plan = session._jsparkSession.sessionState().executePlan(
            df._jdf.logicalPlan(), mode.ALL()
        ).optimizedPlan()
        stats = plan.stats()
        rows = None
        if plan.getClass().getSimpleName() in _EXACT_LEAVES:
            rc = stats.rowCount()
            rows = int(str(rc.get())) if rc.isDefined() else None
        return PlanStats(rows, int(str(stats.sizeInBytes())))
    except Exception:  # noqa: BLE001 — any introspection hiccup
        return None


def bounded_count(df: DataFrame, bound: int) -> int:
    """``df``'s row count when its plan stats know it exactly (no
    job), else ``min(count, bound + 1)`` from one bounded probe job.
    Either way the result exceeds ``bound`` iff the frame does."""
    stats = plan_stats(df)
    if stats is not None and stats.rows is not None:
        return stats.rows
    return df.limit(bound + 1).count()


def maybe_broadcast(model: DataFrame, max_rows: int | None = None) -> DataFrame:
    """``F.broadcast(model)`` only when :func:`bounded_count` proves the
    model fits; otherwise the frame unhinted (AQE decides).

    ``max_rows`` defaults to the CURRENT ``MAX_BROADCAST_MODEL_ROWS``
    (read at call time, so tests and callers can tune the bound)."""
    if max_rows is None:
        max_rows = MAX_BROADCAST_MODEL_ROWS
    if bounded_count(model, max_rows) > max_rows:
        return model
    return F.broadcast(model)
