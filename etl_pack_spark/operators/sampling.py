"""Deterministic sampling & dataset splitting for training pipelines.

Every decision derives from a 28-bit md5 key hash compared against
integer thresholds — no RNG state, no ``rand()``. That makes sampling
(a) reproducible run-to-run, (b) stable under repartitioning (the
decision depends only on the row's key, never on task layout — Spark's
``df.sample`` is per-partition-seeded and reshuffles change it), and
(c) cross-engine checkable: the DuckDB oracle evaluates the identical
arithmetic. At 100 TB this is a map-only filter/projection over the
scan — no shuffle, no driver coordination; the same hash rule also
means a document keeps its split assignment when the corpus is
re-ingested or appended to.

Reference parity note: the reference has no sampler (SURVEY §2 scope
boundary) — this is a training-data extension (SURVEY §7.3).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# 28-bit hash space: first 7 hex chars of md5. Integer thresholds in
# this space make fraction comparisons exact (no float rounding drift).
SPACE = 1 << 28


def _h28_spark(key: str, seed: str) -> str:
    return f"CAST(conv(substr(md5(concat('{seed}:', CAST({key} AS STRING))), 1, 7), 16, 10) AS BIGINT)"


def _h28_sql(key: str, seed: str) -> str:
    return f"CAST('0x' || substr(md5(concat('{seed}:', CAST({key} AS VARCHAR))), 1, 7) AS BIGINT)"


def hash_unit(key_col: str, seed: str = "s0") -> Column:
    """Uniform-ish [0,1) score from the key — for ad-hoc thresholding."""
    return F.expr(_h28_spark(key_col, seed)) / F.lit(float(SPACE))


def stratified_sample(
    df: DataFrame,
    key_col: str,
    stratum_col: str,
    fractions: dict[str, float],
    seed: str = "s0",
) -> DataFrame:
    """Keep ~fraction[stratum] of each stratum's rows, chosen by key
    hash. Strata not listed get fraction 0. Map-only: the predicate is
    a codegen'd expression over the scan, so Catalyst can push it and
    the sample never shuffles."""
    h = F.expr(_h28_spark(key_col, seed))
    thresh = F.lit(None).cast("bigint")
    cond = None
    for stratum, frac in sorted(fractions.items()):
        t = int(frac * SPACE)
        branch = (F.col(stratum_col) == stratum) & (h < F.lit(t))
        cond = branch if cond is None else (cond | branch)
    return df.where(cond if cond is not None else F.lit(False))


def stratified_sample_sql(
    table: str,
    key_col: str,
    stratum_col: str,
    fractions: dict[str, float],
    seed: str = "s0",
    select: str = "*",
) -> str:
    h = _h28_sql(key_col, seed)
    branches = " OR ".join(
        f"({stratum_col} = '{s}' AND {h} < {int(f * SPACE)})"
        for s, f in sorted(fractions.items())
    )
    return f"SELECT {select} FROM {table} WHERE {branches or 'FALSE'}"


def split_assign(
    df: DataFrame,
    key_col: str,
    splits: list[tuple[str, float]] = (("train", 0.90), ("val", 0.05), ("test", 0.05)),
    seed: str = "split",
) -> DataFrame:
    """Assign each row to a named split by contiguous hash ranges
    (cumulative integer thresholds). Appending new data never moves an
    existing row's split; the last split absorbs the rounding tail."""
    h = F.expr(_h28_spark(key_col, seed))
    expr = F.lit(splits[-1][0])
    cum = 0
    cases = []
    for name, frac in splits[:-1]:
        cum += int(frac * SPACE)
        cases.append((cum, name))
    for cum_t, name in reversed(cases):
        expr = F.when(h < F.lit(cum_t), F.lit(name)).otherwise(expr)
    return df.withColumn("split", expr)


def split_assign_sql(
    table: str,
    key_col: str,
    splits: list[tuple[str, float]] = (("train", 0.90), ("val", 0.05), ("test", 0.05)),
    seed: str = "split",
    select: str = "*",
) -> str:
    h = _h28_sql(key_col, seed)
    cum = 0
    whens = []
    for name, frac in splits[:-1]:
        cum += int(frac * SPACE)
        whens.append(f"WHEN {h} < {cum} THEN '{name}'")
    case = "CASE " + " ".join(whens) + f" ELSE '{splits[-1][0]}' END"
    return f"SELECT {select}, {case} AS split FROM {table}"


def mixture_resample(
    df: DataFrame,
    key_col: str,
    domain_col: str,
    weights: dict[str, float],
    target_total: int | None = None,
    seed: str = "mix",
) -> DataFrame:
    """Resample to a target DOMAIN MIXTURE: each domain ``d`` ends up
    with ~``weights[d] * target_total`` rows (default target_total =
    current corpus size), repeating rows where a domain must be
    upweighted ("epochs per domain") and hash-thinning where it must
    shrink. Domains absent from ``weights`` are dropped.

    Output = input columns + ``copy_n`` (1..k within a repeated row),
    so downstream shuffles see distinct rows and the multiset is
    well-defined.

    Deterministic: the per-domain repeat rate is (weight * total /
    domain_count); every row emits floor(rate) copies, plus one more
    when its 28-bit key hash lands under the fractional remainder —
    no RNG, stable under repartitioning and append (same rule as
    :func:`stratified_sample`).

    Scale shape: per-domain counts are a map-side-combinable aggregate
    computed ONLY for the listed domains, so the broadcast build side
    is bounded by ``len(weights)`` BY CONSTRUCTION (r8 — a raw crawl
    keyed by site domain has tens of millions of DISTINCT domains, but
    only the listed ones ever join back; unlisted rows are dropped by
    the inner join exactly as the NULL-rate filter dropped them). The
    resample itself is a map-only expression + explode. No corpus-wide
    shuffle, no driver collect.
    """
    wmap = F.create_map(
        *[x for d, w in sorted(weights.items()) for x in (F.lit(d), F.lit(float(w)))]
    )
    counts = (
        df.where(F.col(domain_col).isin(*sorted(weights)))
        .groupBy(domain_col)
        .agg(F.count("*").alias("__dn"))
    )
    if target_total is None:
        # the default target is the FULL corpus size (all domains, as
        # before) — only the broadcast counts frame is domain-filtered
        total = df.agg(F.count("*").alias("__tot"))
    else:
        total = df.sparkSession.range(1).select(
            F.lit(int(target_total)).cast("long").alias("__tot")
        )
    rate = (
        F.element_at(wmap, F.col(domain_col)) * F.col("__tot").cast("double")
        / F.col("__dn").cast("double")
    )
    h = F.expr(_h28_spark(key_col, seed))
    copies = (
        F.floor(rate)
        + F.when(h.cast("double") < (rate - F.floor(rate)) * SPACE, 1).otherwise(0)
    ).cast("int")
    out_cols = df.columns
    return (
        # bounded by construction: counts ≤ len(weights) rows, total = 1
        df.join(F.broadcast(counts), domain_col)
        .crossJoin(F.broadcast(total))
        .withColumn("__copies", copies)
        .where(F.col("__copies") >= 1)  # also drops unlisted domains (NULL rate)
        .select(*out_cols, F.explode(F.sequence(F.lit(1), F.col("__copies"))).alias("copy_n"))
    )


def mixture_resample_sql(
    table: str,
    key_col: str,
    domain_col: str,
    weights: dict[str, float],
    target_total: int | None = None,
    seed: str = "mix",
    select: str = "*",
) -> str:
    """DuckDB oracle twin of :func:`mixture_resample` — identical
    double arithmetic (weight * total / count), identical hash rule."""
    h = _h28_sql(key_col, seed)
    wcase = " ".join(
        f"WHEN '{d}' THEN CAST({float(w)!r} AS DOUBLE)" for d, w in sorted(weights.items())
    )
    tot = (
        f"CAST({int(target_total)} AS DOUBLE)"
        if target_total is not None
        else f"CAST((SELECT count(*) FROM {table}) AS DOUBLE)"
    )
    return f"""
    WITH __dn AS (
        SELECT {domain_col} AS __d, count(*) AS __dn FROM {table} GROUP BY 1
    ),
    __rated AS (
        SELECT t.*, (CASE t.{domain_col} {wcase} END) * {tot} / CAST(d.__dn AS DOUBLE) AS __rate
        FROM {table} t JOIN __dn d ON t.{domain_col} = d.__d
    ),
    __copied AS (
        SELECT *, CAST(floor(__rate) +
               (CASE WHEN CAST({h} AS DOUBLE) < (__rate - floor(__rate)) * {SPACE}
                     THEN 1 ELSE 0 END) AS INT) AS __copies
        FROM __rated
    )
    SELECT {select}, unnest(generate_series(1, __copies)) AS copy_n
    FROM __copied WHERE __copies >= 1
    """


def budget_select(
    df: DataFrame,
    budget: int,
    score_col: str = "quality",
    weight_col: str = "n_tokens",
    id_col: str = "doc_id",
    buckets: int = 32,
) -> DataFrame:
    """Exact token-budget curation: order the corpus by
    (``score_col`` DESC, ``id_col`` ASC) and keep the maximal PREFIX
    whose cumulative ``weight_col`` stays ≤ ``budget`` — "take the best
    documents until the token budget is spent", the selection step of
    quality-pruning recipes (e.g. ordering by a CCNet/classifier
    score). Rows with NULL score or weight are excluded. Returns
    ``(id, score, weight, cum_weight)``.

    A global running sum naively needs a single-partition window — the
    classic driver-shaped bottleneck. This runs it DISTRIBUTED and
    still exact: ``buckets`` approx-quantile cuts of the score split
    the global order into contiguous score ranges; per-range totals
    (a tiny ``buckets``-row aggregate) prefix-sum on the driver into
    per-range offsets, and each range then windows only over its own
    rows (offset + within-range running sum == the global running sum,
    because ranges are contiguous in the order and bucket assignment is
    a pure function of score — ties can never straddle a range).
    Max rows per window task ≈ n/buckets + ties; weights are cast to
    long so the decomposed sum is bit-exact regardless of grouping.
    The cuts themselves only affect load balance, never the result.
    """
    base = df.select(
        F.col(id_col),
        F.col(score_col),
        F.col(weight_col).cast("long").alias("__w"),
    ).where(F.col(score_col).isNotNull() & F.col(weight_col).isNotNull())
    # Greenwald-Khanna sketch: deterministic, one pass, driver gets
    # `buckets-1` doubles — bounded by construction. buckets=1 is the
    # degenerate single-range case (plain global window).
    if buckets > 1:
        cuts = base.stat.approxQuantile(
            score_col, [i / buckets for i in range(1, buckets)], 0.001
        )
        cuts = sorted(set(cuts))
    else:
        cuts = []
    # descending-range index: 0 = scores above every cut
    b_expr = F.lit(0)
    for c in cuts:
        b_expr = b_expr + F.when(F.col(score_col) <= F.lit(c), 1).otherwise(0)
    ranged = base.withColumn("__b", b_expr)
    totals = {
        r["__b"]: r["t"]
        for r in ranged.groupBy("__b").agg(F.sum("__w").alias("t")).collect()
    }
    offset_of, acc = {}, 0
    for bi in sorted(totals):
        offset_of[bi] = acc
        acc += totals[bi]
    off_expr = F.lit(0).cast("long")
    for bi, off in offset_of.items():
        off_expr = F.when(F.col("__b") == bi, F.lit(off).cast("long")).otherwise(off_expr)
    w = (
        Window.partitionBy("__b")
        .orderBy(F.desc(score_col), F.asc(id_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        ranged.withColumn("cum_weight", F.sum("__w").over(w) + off_expr)
        .where(F.col("cum_weight") <= F.lit(int(budget)))
        .select(
            id_col, score_col, F.col("__w").alias(weight_col), "cum_weight"
        )
    )


def budget_select_sql(
    table: str,
    budget: int,
    score_col: str = "quality",
    weight_col: str = "n_tokens",
    id_col: str = "doc_id",
) -> str:
    """Oracle twin of :func:`budget_select` — the naive global window
    the distributed decomposition must equal exactly."""
    return f"""
    SELECT {id_col}, {score_col}, {weight_col},
           -- SUM(BIGINT) is HUGEINT in DuckDB → pandas float64; the
           -- driver's frame compare needs the engine's BIGINT
           CAST(cum_weight AS BIGINT) AS cum_weight
    FROM (
        SELECT {id_col}, {score_col},
               CAST({weight_col} AS BIGINT) AS {weight_col},
               SUM(CAST({weight_col} AS BIGINT)) OVER (
                   ORDER BY {score_col} DESC, {id_col}
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS cum_weight
        FROM {table}
        WHERE {score_col} IS NOT NULL AND {weight_col} IS NOT NULL
    ) WHERE cum_weight <= {budget}
    """


def grouped_split_assign(
    df: DataFrame,
    pairs: DataFrame | None = None,
    id_col: str = "doc_id",
    splits: list[tuple[str, float]] = (("train", 0.90), ("val", 0.05), ("test", 0.05)),
    seed: str = "split",
    clusters: DataFrame | None = None,
) -> DataFrame:
    """Leakage-safe train/val/test split: every member of a near-dup
    GROUP lands in the same split. ``pairs`` is any near-dup edge list
    ``(id_a, id_b)`` — minhash-LSH, simhash, or SemDeDup output; docs
    in no pair are their own singleton group. The split key is the
    group's cluster_id (min member id), hashed with the SAME
    contiguous-range rule as :func:`split_assign`, so assignment is
    append-stable: new docs never move an existing group unless a new
    edge merges two groups — which then coherently re-lands the merged
    group on ONE split.

    Why a distinct op: random per-doc splits leak near-duplicates
    across the train/eval boundary (Lee et al. 2021, arXiv:2107.06499
    §5 measures ~1% of eval continuations exactly duplicated in train
    at web scale); splitting by duplicate cluster makes that leakage
    structurally impossible rather than statistically unlikely.

    Scale shape: the cluster map holds only docs appearing in ≥1 pair
    (a small fraction of the corpus), is persisted once (the probe and
    the join reuse it), and joins to the corpus via
    :func:`~etl_pack_spark.operators.guards.maybe_broadcast` —
    broadcast under the bounded row probe, AQE-chosen shuffled join
    past it. The split expression itself stays map-only. Returns the
    input columns + ``cluster_id`` + ``split``.

    Pass ``clusters`` (a prior, ideally persisted
    :func:`~etl_pack_spark.operators.components.neardup_clusters`
    result) instead of ``pairs`` when the pipeline already labeled the
    graph — components is the one iterative stage and a pipeline that
    also dedups from the same pairs must compute it exactly once.
    """
    from etl_pack_spark.operators.cache import pooled_persist
    from etl_pack_spark.operators.components import neardup_clusters
    from etl_pack_spark.operators.guards import maybe_broadcast, plan_stats

    if clusters is None:
        if pairs is None:
            raise ValueError("grouped_split_assign needs pairs or clusters")
        clusters = neardup_clusters(pairs, id_col)
        # a driver-local labeling (the union-find path) needs no cache
        # — and skipping the persist keeps its LocalRelation plan, so
        # maybe_broadcast below reads the exact rowCount from plan
        # stats instead of running a probe job (r16)
        stats = plan_stats(clusters)
        if stats is None or stats.rows is None:
            clusters = pooled_persist(clusters)
    clusters = clusters.withColumnRenamed(id_col, "__gid")
    joined = df.join(
        maybe_broadcast(clusters), F.col(id_col) == F.col("__gid"), "left"
    ).drop("__gid")
    out = joined.withColumn(
        "cluster_id", F.coalesce(F.col("cluster_id"), F.col(id_col))
    )
    return split_assign(out, "cluster_id", splits, seed)


def grouped_split_sql(
    table: str,
    pairs_sql: str,
    id_col: str = "doc_id",
    splits: list[tuple[str, float]] = (("train", 0.90), ("val", 0.05), ("test", 0.05)),
    seed: str = "split",
    select: str = "d.*",
) -> str:
    """DuckDB oracle twin of :func:`grouped_split_assign`: recursive-CTE
    components + identical md5 hash-range arithmetic on cluster_id."""
    from etl_pack_spark.operators.components import connected_components_sql

    base = f"""(
        SELECT {select}, COALESCE(c.cluster_id, d.{id_col}) AS cluster_id
        FROM {table} d
        LEFT JOIN ({connected_components_sql(pairs_sql)}) c
          ON d.{id_col} = c.id
    )"""
    return split_assign_sql(base, "cluster_id", splits, seed, select="*")


def domain_cap(
    df: DataFrame,
    id_col: str = "doc_id",
    domain_col: str = "source",
    score_col: str | None = None,
    max_per_domain: int = 100,
) -> DataFrame:
    """Per-domain quota: keep at most ``max_per_domain`` docs per
    ``domain_col``, preferring high ``score_col`` (ties and the
    unscored case break on ascending id — fully deterministic). The
    C4/Gopher-style cap that stops a single crawled site from
    dominating the mixture.

    Scale shape: a naive ``row_number() OVER (PARTITION BY domain)``
    funnels a megadomain's every row through ONE task. This runs the
    standard two-phase top-N instead: phase 1 ranks within (domain,
    input partition) — per-task state bounded by the scan partition —
    and keeps at most ``max_per_domain`` per pair, so the one domain
    shuffle in phase 2 carries ≤ cap × n_partitions rows per domain,
    not the domain's full row count. Top-N of per-partition top-Ns ==
    global top-N because the order key is total (score DESC, id ASC).
    Returns the input columns + ``domain_rank`` (1-based).
    """
    order = (
        [F.col(score_col).desc(), F.col(id_col).asc()]
        if score_col
        else [F.col(id_col).asc()]
    )
    w_local = Window.partitionBy(
        F.col(domain_col), F.spark_partition_id()
    ).orderBy(*order)
    survivors = (
        df.withColumn("__lr", F.row_number().over(w_local))
        .where(F.col("__lr") <= max_per_domain)
        .drop("__lr")
    )
    w_global = Window.partitionBy(domain_col).orderBy(*order)
    return (
        survivors.withColumn("domain_rank", F.row_number().over(w_global))
        .where(F.col("domain_rank") <= max_per_domain)
    )


def domain_cap_sql(
    table: str,
    id_col: str = "doc_id",
    domain_col: str = "source",
    score_col: str | None = None,
    max_per_domain: int = 100,
    select: str = "*",
) -> str:
    """Oracle twin of :func:`domain_cap` — the naive global window the
    two-phase decomposition must equal exactly."""
    order = f"{score_col} DESC, {id_col} ASC" if score_col else f"{id_col} ASC"
    return f"""
    SELECT {select} FROM (
        SELECT *, CAST(ROW_NUMBER() OVER (
            PARTITION BY {domain_col} ORDER BY {order}
        ) AS INTEGER) AS domain_rank
        FROM {table}
    ) WHERE domain_rank <= {max_per_domain}
    """
