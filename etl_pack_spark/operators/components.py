"""Connected components over near-duplicate pair graphs, and
cluster-based dedup survivor selection.

The near-dup operators (:mod:`etl_pack_spark.operators.neardup`,
:mod:`~.similarity`) emit PAIRS (id_a, id_b). A curation pipeline needs
CLUSTERS: duplicate groups under transitive closure (a~b, b~c ⇒
{a,b,c}), one survivor kept per group. (The reference has no graph op
at all — its only dedup is whole-row hashing, etl.go:59-68; this is
part of the SURVEY §7.3 extension family.)

Scale design — iterative min-label propagation ("hash-to-min"):
  * State per iteration is one (node, label) row per node — never an
    adjacency list or a per-component row set, so no aggregation buffer
    scales with component size.
  * Each iteration is ONE groupBy-min over the label frame joined
    through the (static, persisted) bidirectional edge list: labels
    flow along edges; a node keeps min(own, neighbors'). Converges in
    O(graph diameter) iterations; near-dup graphs are dense clumps with
    tiny diameters, so 3-5 iterations is typical regardless of corpus
    size.
  * Convergence is checked with a count of CHANGED labels per
    iteration (a cheap aggregate over the already-shuffled frame), and
    each iteration's result is persisted + localCheckpointed so the
    lineage stays O(1) deep instead of O(iterations) — the classic
    iterative-algorithm failure on Spark is an exponentially growing
    plan, not the data.

Determinism: labels are node ids and every step is a min — the final
labeling is the min node id per component, independent of execution
order, partitioning, and iteration count at convergence. The DuckDB
oracle twin (``connected_components_sql``) computes the same min-id
label by recursive reachability, so results hash-match cross-engine.

Hybrid execution: the pair graph is orders of magnitude smaller than
the corpus that produced it (pairs exist only where near-dups do), so
below ``MAX_DRIVER_PAIRS`` the component labeling runs as an exact
union-find on the driver — O(E α(N)) in milliseconds, zero Spark jobs
per iteration — and the distributed loop is reserved for genuinely
large graphs. Same guarded-bounded-path pattern as the cosine block
matrix's single-block broadcast shortcut (similarity.BLOCK_ROWS) and
bpe.MAX_TRAIN_VOCAB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_pack_spark.operators import guards

# Above this many edges the driver union-find gives way to the
# distributed loop. The collect is Arrow-batched (toPandas): 2M long
# edges land as two numpy int64 columns ≈ 32 MB; the union-find's
# parent dict then holds Python objects only for nodes that are NOT
# their own root (near-dup graphs are mostly tiny clumps, so that
# is a fraction of the nodes). A row-at-a-time collect() of the same
# edges would build ~2M pyspark Row objects — hundreds of MB of
# Python heap — which is why this path must stay on Arrow.
MAX_DRIVER_PAIRS = 2_000_000


def _driver_union_find(
    edges: DataFrame, src: str, dst: str, pdf=None
) -> DataFrame:
    """Exact union-find over a bounded edge list (roots = min id).
    ``pdf``: the edges already collected (the auto path's bounded
    probe-collect, r15) — the final labeling is min-id per component
    regardless of edge processing order, so any row order works."""
    import pandas as pd

    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:  # path compression
            parent[x], x = root, parent[x]
        return root

    # Arrow collect: two columnar arrays, not per-row Row objects
    if pdf is None:
        pdf = edges.select(src, dst).toPandas()
    src_arr, dst_arr = pdf[src].to_numpy(), pdf[dst].to_numpy()
    for a0, b0 in zip(src_arr, dst_arr):
        a, b = find(a0), find(b0)
        if a != b:
            # min id becomes the root → labels match the min-label loop
            lo, hi = (a, b) if a < b else (b, a)
            parent[hi] = lo
    nodes = sorted(set(src_arr) | set(dst_arr))
    # id dtype follows the edge columns (string/UUID graphs work the
    # same as longs — min-root comparisons match F.least's ordering)
    id_type = edges.schema[src].dataType.simpleString()
    out = pd.DataFrame({"id": nodes, "cluster_id": [find(n) for n in nodes]})
    return edges.sparkSession.createDataFrame(
        out, f"id {id_type}, cluster_id {id_type}"
    )


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
    method: str = "auto",
) -> DataFrame:
    """Label every node reachable through ``edges`` with the MIN node id
    of its component. Returns ``(id, cluster_id)`` — one row per
    distinct node appearing in the edge list.

    ``method``: ``auto`` (driver union-find when the edge list is under
    ``MAX_DRIVER_PAIRS``, distributed loop otherwise), ``driver``, or
    ``distributed``. Both paths produce the identical min-id labeling.
    ``max_iter`` bounds the loop (diameter of the graph); hitting it
    raises rather than silently returning a partial labeling.
    """
    if method not in ("auto", "driver", "distributed"):
        raise ValueError(f"unknown method {method!r}")
    if method == "driver":
        return _driver_union_find(edges, src, dst)
    released = True
    if method == "auto":
        # persist around the probe: edge lists are usually the product
        # of a whole near-dup pipeline, and the size probe would
        # otherwise re-execute that pipeline once more for the labeling
        edges = edges.persist()
        released = False
        # (r15 note: a merged limit(n+1).toPandas() was tried and
        # REVERTED — CollectLimit executes incrementally, 1 then 4×
        # then 16× partitions, so the "one action" ran as up to 8
        # jobs; the probe + full collect pair is 2.)
        probe = guards.bounded_count(edges.select(src), MAX_DRIVER_PAIRS)
        if probe <= MAX_DRIVER_PAIRS:
            try:
                return _driver_union_find(edges, src, dst)
            finally:
                edges.unpersist(False)
        # large graph: fall through to the loop; edges stays persisted
        # until bi (its only remaining consumer) materializes
    # bidirectional edge list, persisted once — every iteration reuses
    # it. Repartitioned by v BEFORE the persist (r6): the per-iteration
    # join keys on v, and a cached frame keeps its outputPartitioning,
    # so every iteration's join satisfies its edge-side distribution
    # from the cache and shuffles ONLY the (much smaller) labels frame
    # — one exchange per iteration instead of re-exchanging the static
    # edge list every time. At 100 TB the edge frame dominates the
    # labels frame by the average degree, so this removes the loop's
    # largest repeated shuffle.
    fwd = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    rev = edges.select(F.col(dst).alias("u"), F.col(src).alias("v"))
    bi = fwd.union(rev).distinct().repartition(F.col("v")).persist()
    try:
        labels = bi.select(F.col("u").alias("id")).distinct().select(
            "id", F.col("id").alias("cluster_id")
        )
        labels = labels.persist()
        labels.count()  # materialize before entering the loop
        if not released:
            # bi (cached above) now holds the edges; the upstream
            # pipeline's cache is no longer needed
            edges.unpersist(False)
            released = True
        for _ in range(max_iter):
            # neighbor labels flow one hop: node u sees label(v) for each
            # edge (u,v); new label = min(own, incoming). Equi-join +
            # groupBy-min — both map-side combinable, one shuffle each.
            incoming = (
                bi.join(labels.withColumnRenamed("id", "v"), "v")
                .groupBy("u")
                .agg(F.min("cluster_id").alias("nbr_min"))
                .withColumnRenamed("u", "id")
            )
            updated = (
                labels.join(incoming, "id", "left")
                .select(
                    "id",
                    F.least(
                        F.col("cluster_id"), F.coalesce("nbr_min", F.col("cluster_id"))
                    ).alias("cluster_id"),
                    (F.col("nbr_min") < F.col("cluster_id")).alias("__chg"),
                )
            )
            # localCheckpoint truncates lineage so the plan stays O(1)
            # deep across iterations (eager=False: materialized by the
            # changed-count below, one pass)
            updated = updated.localCheckpoint(eager=False).persist()
            changed = updated.where(F.col("__chg")).count()
            labels.unpersist(False)
            labels = updated.drop("__chg")
            if changed == 0:
                return labels
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} iterations "
            f"(graph diameter exceeds max_iter; raise max_iter)"
        )
    finally:
        bi.unpersist(False)


def connected_components_sql(edges_sql: str, src: str = "id_a", dst: str = "id_b") -> str:
    """DuckDB oracle twin: min reachable node id per node via a
    recursive CTE (UNION dedups rows, so the recursion terminates on
    cyclic graphs)."""
    return f"""
    WITH RECURSIVE bi AS (
        SELECT {src} AS u, {dst} AS v FROM ({edges_sql})
        UNION
        SELECT {dst} AS u, {src} AS v FROM ({edges_sql})
    ),
    reach AS (
        SELECT u AS id, u AS r FROM bi
        UNION
        SELECT bi.u AS id, reach.r
        FROM bi JOIN reach ON bi.v = reach.id
    )
    SELECT id, min(r) AS cluster_id FROM reach GROUP BY id
    """


def update_clusters(
    labels: DataFrame,
    new_pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    method: str = "auto",
) -> DataFrame:
    """INCREMENTAL component maintenance: fold a batch of NEW pairs
    into an existing ``(id, cluster_id)`` labeling without replaying
    the full pair history — the cluster-level completion of the
    incremental near-dup story (signature store → per-batch match
    pairs → this). Returns the updated ``(id, cluster_id)`` frame,
    min-id labels as always.

    Why it is exact: an existing labeling connects exactly the same
    node sets as the historical pairs did (each component becomes a
    star around its min-id label), so components over
    ``label-edges ∪ new_pairs`` equal components over
    ``all historical pairs ∪ new_pairs`` — and min-id labels are
    canonical (independent of history/iteration order), so untouched
    components keep their labels bit-for-bit. The input edge volume is
    O(previously-clustered nodes + new pairs) instead of O(all pairs
    ever matched): at a 100 TB corpus under continuous ingest the pair
    history grows without bound but the label frame is bounded by the
    clustered-node count — this is the difference between a
    maintenance firing that scales with the corpus and one that scales
    with its entire ingest history. Self-label rows (id ==
    cluster_id) carry no connectivity and are filtered before the
    union; every labeled node still reappears because each ≥2-member
    cluster's members reach their min id through the star edges.
    """
    label_edges = labels.where(
        F.col("id") != F.col("cluster_id")
    ).select(F.col("id").alias(src), F.col("cluster_id").alias(dst))
    merged = label_edges.unionByName(
        new_pairs.select(F.col(src), F.col(dst))
    )
    # ``method`` (r16): a caller that already bounded the TOTAL pair
    # volume (one probe covering every batch) passes "driver" and both
    # this fold and the initial labeling skip their per-call
    # persist+probe pair — the merged edge list here is ≤ 2x the total
    # pairs (label edges ≤ labeled nodes ≤ 2x batch-1 pairs), so the
    # caller's bound transfers. Default "auto" probes as before.
    return connected_components(merged, src, dst, method=method)


def neardup_clusters(
    pairs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Near-dup pairs → duplicate clusters: ``(id_col, cluster_id)``
    for every doc appearing in at least one pair, cluster_id = min doc
    id in the transitive-closure group."""
    out = connected_components(pairs, "id_a", "id_b")
    return out.select(F.col("id").alias(id_col), "cluster_id")


def cluster_dedup(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    clusters: DataFrame | None = None,
    survivor_by: str | None = None,
) -> DataFrame:
    """Keep ONE survivor per near-dup cluster, pass through every doc
    not in any pair.

    Survivor rule: the min-id doc by default; with ``survivor_by`` (a
    numeric column of ``df`` — a quality score, a length, a recency
    stamp) the HIGHEST-scoring member survives instead, min-id
    tie-break — the curation posture real pipelines take (keep the
    best copy of a near-duplicated page, not an arbitrary one; NULL
    scores sort lowest, and an all-NULL cluster falls back to min-id).

    Join strategy (r8): the clusters frame is NOT assumed small — on
    the web-crawl corpora this engine targets, 30-50% of documents
    near-dup something, so clusters/members/losers are corpus-fraction
    scale. ONE :func:`~.guards.bounded_count` probe decides the
    strategy for every join here:
    members, best, winners, and losers are all row-bounded by the
    clusters frame (one row per clustered doc, or one per cluster), so
    proving clusters small proves them all broadcastable; past the
    bound NOTHING is hinted and AQE picks the join from real runtime
    sizes (a shuffled hash join — the correct plan for a
    billion-loser anti-join). The best/winner picks stay map-side-
    combinable aggregates either way. Pass ``clusters`` (a prior
    :func:`neardup_clusters` output, ideally persisted — the probe
    and the joins re-execute an unpersisted lineage) when the caller
    already labeled the graph — the components computation is the one
    iterative stage and must not silently run twice.
    """
    if clusters is None:
        # connected_components returns its labels frame persisted (the
        # distributed loop) or driver-local (the union-find path), so
        # the size probe below never re-runs the iterative stage
        clusters = neardup_clusters(pairs, id_col)
    bound = guards.MAX_BROADCAST_MODEL_ROWS
    small = guards.bounded_count(clusters, bound) <= bound

    def hint(frame: DataFrame) -> DataFrame:
        return F.broadcast(frame) if small else frame

    if survivor_by is None:
        losers = clusters.where(F.col(id_col) != F.col("cluster_id")).select(
            id_col
        )
    else:
        score = F.coalesce(
            F.col(survivor_by).cast("double"), F.lit(float("-inf"))
        )
        members = df.join(hint(clusters), id_col).select(
            F.col(id_col), F.col("cluster_id"), score.alias("__score")
        )
        if small:
            # members feeds THREE consumers (best, winners, losers) —
            # unpersisted, each broadcast build re-runs the docs⋈
            # clusters join (3 extra scan stages measured at fixture
            # scale, r16). The persist is gated on the SAME bounded
            # probe verdict as the hints: proven-small clusters bound
            # members' rows, so the cache is bounded; past the bound
            # the frames stay lazy exactly as before (r8 posture).
            from etl_pack_spark.operators.cache import pooled_persist

            members = pooled_persist(members)
        best = members.groupBy("cluster_id").agg(
            F.max("__score").alias("__best")
        )
        winners = (
            members.join(hint(best), "cluster_id")
            .where(F.col("__score") == F.col("__best"))
            .groupBy("cluster_id")
            .agg(F.min(id_col).alias("__win"))
        )
        losers = (
            members.join(hint(winners), "cluster_id")
            .where(F.col(id_col) != F.col("__win"))
            .select(id_col)
        )
    return df.join(hint(losers), id_col, "left_anti")
