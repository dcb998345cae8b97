"""Keyword retrieval over the corpus: inverted-index postings, TF-IDF
weights, and BM25 ranked search.

The ANN family (`operators/similarity.py`) answers "what is *semantically*
near this embedding"; this module answers the complementary retrieval
question "which documents match these *terms*" — the other half of a
training-data curation stack (targeted corpus probes, contamination
spot-checks by keyword, boosted sampling of topical slices).

Scale design — everything is explode + hash aggregation, the same shape
Spark uses for word count at any scale:

  * Postings build: one ``posexplode`` of the token array feeds
    ``groupBy(term, id)`` — partial (map-side) aggregation combines
    duplicate terms within a document before the single hash exchange
    on ``(term, id)``. Document length comes from a map-only
    ``size(tokens)`` projection, no extra shuffle.
  * Term statistics (document frequency → idf) are a second bounded
    aggregation whose output is VOCABULARY-sized, not corpus-sized.
  * BM25 search: the query is tokenized driver-side (a query is a few
    words — this is not a ``collect()`` of data), postings are filtered
    to query terms *before* any join (at 100 TB with postings stored
    term-bucketed, that filter is partition pruning), and the
    term→idf map for ONLY the query terms rides a broadcast join.
    Final ranking is one more map-side-combined sum per document.

Cross-engine determinism: tf / df / dl are integers (hash-exact); idf
and BM25 scores involve ``ln`` whose last-bit rounding may differ
between the JVM and DuckDB's libm, so the in-test oracles compare
scores with a 1e-9 relative tolerance and compare the *ranking* by
(round(score, 6), id) total order, which both engines agree on.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_pack_spark.operators.tokenize import tokens, tokens_sql

# Lucene/BM25+ style idf: ln(1 + (N - df + 0.5) / (df + 0.5)) — always
# positive, so high-df terms dampen rather than flip sign.
_IDF_SQL = "ln(1.0 + ({n} - cast({df} AS DOUBLE) + 0.5) / (cast({df} AS DOUBLE) + 0.5))"


def build_postings(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Inverted-index postings ``(term, id, tf, dl)``.

    tf = occurrences of term in doc, dl = doc length in tokens. ``dl``
    rides the exploded rows as a grouping column (it is functionally
    dependent on ``id``), so the whole build is one explode + ONE
    map-side-combined hash aggregation — no join, no second shuffle.
    """
    postings, _ = _observed_postings(df, id_col, text_col, observe=False)
    return postings


def _observed_postings(
    df: DataFrame, id_col: str, text_col: str, observe: bool = True
):
    """Postings build with the corpus stats riding the SAME scan (r15).

    The BM25 entry points used to pay a second full corpus tokenize
    for ``(n_docs, avgdl)`` (a separate ``agg(count, avg(dl)).first()``
    pass — at 100 TB, a whole extra read+regex pass over every
    document). An ``Observation`` on the pre-explode token frame now
    collects ``count(*)``, ``count(dl)`` and ``sum(dl)`` as a
    side-effect of the postings scan; the returned ``stats(hits)``
    callable forces the (persisted) term-filtered postings once and
    reads the metrics off that same pass. ``float(sum)/float(count)``
    is exactly Spark's ``avg`` (both cast the exact integer sum and
    count to double, then divide once), and the zero-token/NULL-text
    accounting matches: count(*) spans all docs, sum/count skip NULL
    dl — so n_docs, avgdl, and every downstream score are unchanged.

    The observation name is per-call unique, which also makes each
    call's plan semantically unique — the pooled persist can therefore
    never hand this call a cached frame whose (already-completed)
    metrics belong to an earlier observation.
    """
    toks = df.select(
        F.col(id_col).alias("id"), tokens(text_col).alias("__toks")
    ).select("id", F.size("__toks").alias("dl"), F.col("__toks"))
    obs = None
    if observe:
        from pyspark.sql import Observation

        obs = Observation()
        toks = toks.observe(
            obs,
            F.count(F.lit(1)).alias("n_docs"),
            F.count("dl").alias("n_dl"),
            F.sum("dl").alias("sum_dl"),
        )
    postings = (
        toks.select("id", "dl", F.explode("__toks").alias("term"))
        .groupBy("term", "id", "dl")
        .agg(F.count("*").cast("int").alias("tf"))
        .select("term", "id", "tf", "dl")
    )

    def stats(hits: DataFrame):
        # materialize the term-filtered postings (persisted by the
        # scoring core) — this runs the observed scan exactly once and
        # everything downstream reuses the cache
        if hits.count() == 0:
            # degenerate: no posting matches any query term (empty
            # corpus included). The result is empty under ANY finite
            # (n_docs, avgdl), so skip the metrics read — an
            # empty-propagated plan (e.g. limit(0) input) may have
            # optimized the CollectMetrics node away entirely, and
            # zero hits is the one case where that can happen.
            return 0, 1.0
        m = obs.get
        avgdl = (
            float(m["sum_dl"]) / float(m["n_dl"]) if m["n_dl"] else 1.0
        )
        return int(m["n_docs"]), avgdl

    return postings, stats


def build_postings_sql(table: str, id_col: str, text_col: str) -> str:
    """DuckDB oracle twin of :func:`build_postings`."""
    return f"""
    WITH t AS (SELECT {id_col} AS id, {tokens_sql(text_col)} AS toks FROM {table}),
    e AS (SELECT id, unnest(toks) AS term, len(toks) AS dl FROM t)
    SELECT term, id, CAST(count(*) AS INT) AS tf, dl
    FROM e GROUP BY term, id, dl
    """


def term_stats(postings: DataFrame, n_docs: int) -> DataFrame:
    """Per-term document frequency and BM25 idf: ``(term, df, idf)``.

    Output is vocabulary-sized; the aggregation is map-side combined.
    """
    return postings.groupBy("term").agg(
        F.count("*").cast("int").alias("df")
    ).select(
        "term",
        "df",
        F.expr(_IDF_SQL.format(n=f"CAST({n_docs} AS DOUBLE)", df="df")).alias("idf"),
    )


def tfidf_weights(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Sparse TF-IDF document vectors as rows ``(id, term, weight)``
    with ln-damped tf: ``(1 + ln(tf)) * idf``.

    Row-sparse output composes with any downstream join/agg without a
    dense vocabulary-width materialization (at 100 TB the vocabulary is
    millions wide — dense vectors are not an option).

    The postings feed TWO consumers (the vocabulary-sized idf
    aggregation and the weight join), so they are pooled-persisted:
    unpersisted, each consumer re-executes the corpus-wide
    tokenize+explode+groupBy build — the identical double-scan lineage
    the BM25 forms closed in r10/r11 (exchange reuse does not kick in:
    the executed plans there showed two full document scans and zero
    ReusedExchange). Here the persisted frame is corpus-sized but slim
    (term, id, tf, dl — no text), the narrowest thing that cuts the
    second scan.
    """
    from etl_pack_spark.operators.cache import pooled_persist

    postings = pooled_persist(build_postings(df, id_col, text_col))
    n_docs = df.count()
    stats = term_stats(postings, n_docs)
    return (
        postings.join(stats, "term")
        .select(
            "id",
            "term",
            ((1.0 + F.log("tf")) * F.col("idf")).alias("weight"),
        )
    )


def bm25_topk(
    df: DataFrame,
    id_col: str,
    text_col: str,
    query: str,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Top-k documents for ``query`` under BM25: ``(id, score)``.

    The per-(term, doc) contribution is
    ``idf * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))`` summed over
    query terms. Postings are filtered to the query's terms before the
    idf join (broadcast — the filtered stats table has at most
    len(query) rows), so the heavy side never carries non-query terms
    through a shuffle.
    """
    q_terms = sorted({t for t in _tokenize_py(query) if t})
    if not q_terms:
        raise ValueError("query has no tokens")
    # ONE corpus pass (r15): n_docs/avgdl ride the postings scan as an
    # Observation instead of a second full tokenize — avgdl still
    # averages over ALL docs (zero-token docs included), exactly as
    # the oracle does, and an empty corpus still resolves avgdl=1.0
    # (result empty under any finite damping denominator).
    postings, stats = _observed_postings(df, id_col, text_col)
    return _bm25_score_single(postings, stats, q_terms, k, k1, b)


def _bm25_score_single(
    postings: DataFrame,
    stats,
    q_terms: list[str],
    k: int,
    k1: float,
    b: float,
) -> DataFrame:
    """Scoring core shared by :func:`bm25_topk` (postings rebuilt from
    the corpus) and the persisted-store query path (r14 — postings read
    back from a :mod:`postings_store`); one implementation guarantees
    the two are bit-identical given the same (postings, n_docs, avgdl).
    ``stats``: either a ``(n_docs, avgdl)`` tuple (store path — the
    store knows them without touching the corpus) or a callable taking
    the persisted ``hits`` frame (rebuild path — resolves off the same
    scan via the r15 Observation, see :func:`_observed_postings`).
    """
    # the term-filtered postings feed TWO consumers (the idf stats agg
    # and the contribution join); unpersisted, each re-executes the
    # full corpus-wide tokenize+explode+groupBy postings build — the
    # same double-scan lineage the batch form closed in r10 (executed
    # plans there showed two full document scans, zero ReusedExchange).
    # hits is bounded by the query terms' postings, not corpus-sized.
    from etl_pack_spark.operators.cache import pooled_persist

    hits = pooled_persist(postings.where(F.col("term").isin(q_terms)))
    n_docs, avgdl = stats(hits) if callable(stats) else stats
    tstats = term_stats(hits, n_docs)
    contrib = (
        hits
        # bounded by construction: tstats has one row per QUERY term
        .join(F.broadcast(tstats), "term")
        .select(
            "id",
            (
                F.col("idf")
                * (F.col("tf") * (k1 + 1.0))
                / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / float(avgdl)))
            ).alias("c"),
        )
    )
    return (
        contrib.groupBy("id")
        .agg(F.sum("c").alias("score"))
        .orderBy(F.round("score", 6).desc(), F.col("id"))
        .limit(k)
    )


def bm25_topk_sql(
    table: str,
    id_col: str,
    text_col: str,
    query: str,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> str:
    """DuckDB oracle twin of :func:`bm25_topk` (same idf, same damping,
    same round-then-id tie-break)."""
    q_terms = sorted({t for t in _tokenize_py(query) if t})
    term_list = ", ".join(f"'{t}'" for t in q_terms)
    idf = _IDF_SQL.format(n="(SELECT CAST(count(*) AS DOUBLE) FROM t)", df="df")
    return f"""
    WITH t AS (SELECT {id_col} AS id, {tokens_sql(text_col)} AS toks FROM {table}),
    p AS (
        SELECT id, term, CAST(count(*) AS INT) AS tf, any_value(dl) AS dl
        FROM (SELECT id, unnest(toks) AS term, len(toks) AS dl FROM t)
        WHERE term IN ({term_list})
        GROUP BY id, term
    ),
    full_p AS (
        SELECT id, term FROM (SELECT id, unnest(toks) AS term FROM t)
        WHERE term IN ({term_list}) GROUP BY id, term
    ),
    s AS (SELECT term, CAST(count(*) AS INT) AS df, {idf} AS idf
          FROM full_p GROUP BY term),
    avg_l AS (SELECT avg(len(toks)) AS avgdl FROM t)
    SELECT id, sum(idf * (tf * ({k1} + 1.0))
                   / (tf + {k1} * (1.0 - {b} + {b} * dl / avgdl))) AS score
    FROM p JOIN s USING (term), avg_l
    GROUP BY id
    ORDER BY round(score, 6) DESC, id
    LIMIT {k}
    """


def _tokenize_py(text: str) -> list[str]:
    """Driver-side twin of tokenize.tokens for query strings."""
    import re

    return [t for t in re.split("[^a-z0-9]+", text.lower()) if t]


def bm25_topk_batch(
    df: DataFrame,
    queries: DataFrame,
    id_col: str,
    text_col: str,
    q_id_col: str = "q_id",
    q_text_col: str = "text",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    exclude_self: bool = False,
) -> DataFrame:
    """Top-k documents PER QUERY ROW under BM25 — the query-by-example
    batch form of :func:`bm25_topk`: ``queries`` is a DataFrame of
    ``(q_id, text)`` rows (e.g. seed documents for "more like this"
    retrieval, eval prompts for contamination probes), tokenized
    IN-ENGINE (no driver round-trip per query, unlike the single-query
    form's argument string). Returns ``(q_id, id, score, rk)`` with
    the identical scoring, idf, and (round(score,6) DESC, id) ranking
    as the single-query operator. ``exclude_self=True`` drops the
    query's own document before ranking (ids shared between queries
    and corpus — the query-by-example posture).

    Scale: postings are semi-joined down to the union of all query
    terms BEFORE any scoring join. Join strategy is the one-bounded-
    probe pattern (cluster_dedup's r8 posture): the persisted
    query-term frame gets ONE :func:`~.guards.bounded_count` probe, and
    its verdict hints every join here — ``used`` (distinct terms) and the
    restricted idf ``stats`` are row-bounded by ``q_terms`` by
    construction, so proving it small proves them all, with no
    separate probe re-executing the postings aggregation. Past the
    bound nothing is hinted and AQE plans from runtime sizes (the r8
    candidate-verify lesson). The per-query ranking window partitions
    on ``q_id`` — thousands of concurrent queries spread across
    tasks; one query's candidate set is bounded by its term postings.

    Degenerate inputs (one deliberate divergence from the single-query
    form, r9 ADVICE): a query ROW whose text tokenizes to nothing
    yields no output rows — in a thousand-query batch one degenerate
    row must not kill the job the way ``bm25_topk``'s ValueError
    does; callers wanting the strict behavior pre-assert
    ``size(tokens(text)) > 0`` on the queries frame. An EMPTY corpus
    returns an empty result (same as the single-query form).
    """
    q_terms = (
        queries.select(
            F.col(q_id_col).alias("q_id"),
            F.explode(tokens(q_text_col)).alias("term"),
        )
        .distinct()
    )
    # ONE corpus pass (r15): n_docs/avgdl ride the postings scan as an
    # Observation instead of a second full tokenize (empty corpus
    # still resolves avgdl=1.0 — the r9 ADVICE float(None) guard lives
    # in _observed_postings now)
    postings, stats = _observed_postings(df, id_col, text_col)
    return _bm25_score_batch(
        postings, stats, q_terms, k, k1, b, exclude_self
    )


def _bm25_score_batch(
    postings: DataFrame,
    stats,
    q_terms: DataFrame,
    k: int,
    k1: float,
    b: float,
    exclude_self: bool,
) -> DataFrame:
    """Batch scoring core shared by :func:`bm25_topk_batch` and the
    persisted-store path (r14) — see :func:`_bm25_score_single` for
    the ``stats`` tuple-or-callable contract."""
    from etl_pack_spark.operators import guards

    # persisted through the pool: the probe, the semi-join build side,
    # and the contribution join all read it
    from etl_pack_spark.operators.cache import pooled_persist

    q_terms = pooled_persist(q_terms)
    bound = guards.MAX_BROADCAST_MODEL_ROWS
    small = guards.bounded_count(q_terms, bound) <= bound

    def hint(frame: DataFrame) -> DataFrame:
        return F.broadcast(frame) if small else frame

    used = q_terms.select("term").distinct()
    # hits feeds TWO consumers (the idf stats agg and the scoring
    # join); unpersisted, each re-executes the full postings build —
    # a second corpus-wide tokenize+explode+shuffle (the recurring
    # multi-consumer lineage trap; executed-plan check r10 showed two
    # full document scans and zero ReusedExchange). hits itself is
    # bounded by the query terms' postings, not corpus-sized.
    hits = pooled_persist(postings.join(hint(used), "term", "left_semi"))
    n_docs, avgdl = stats(hits) if callable(stats) else stats
    tstats = term_stats(hits, n_docs)
    contrib = (
        hits.join(hint(q_terms), "term")
        .join(hint(tstats), "term")
        .select(
            "q_id",
            "id",
            (
                F.col("idf")
                * (F.col("tf") * (k1 + 1.0))
                / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / float(avgdl)))
            ).alias("c"),
        )
    )
    if exclude_self:
        contrib = contrib.where(F.col("q_id") != F.col("id"))
    from pyspark.sql.window import Window

    scored = contrib.groupBy("q_id", "id").agg(F.sum("c").alias("score"))
    w = Window.partitionBy("q_id").orderBy(
        F.round("score", 6).desc(), F.col("id")
    )
    return scored.withColumn("rk", F.row_number().over(w)).where(
        F.col("rk") <= k
    )


def bm25_topk_batch_sql(
    table: str,
    queries_sql: str,
    id_col: str,
    text_col: str,
    q_id_col: str = "q_id",
    q_text_col: str = "text",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    exclude_self: bool = False,
) -> str:
    """DuckDB oracle twin of :func:`bm25_topk_batch` (same idf, same
    damping, same per-query round-then-id ranking)."""
    idf = _IDF_SQL.format(n="(SELECT CAST(count(*) AS DOUBLE) FROM t)", df="df")
    self_pred = f"AND q.q_id != p.id" if exclude_self else ""
    return f"""
    WITH t AS (SELECT {id_col} AS id, {tokens_sql(text_col)} AS toks FROM {table}),
    q AS (
        SELECT DISTINCT {q_id_col} AS q_id, unnest({tokens_sql(q_text_col)}) AS term
        FROM ({queries_sql})
    ),
    p AS (
        SELECT id, term, CAST(count(*) AS INT) AS tf, any_value(dl) AS dl
        FROM (SELECT id, unnest(toks) AS term, len(toks) AS dl FROM t)
        WHERE term IN (SELECT term FROM q)
        GROUP BY id, term
    ),
    s AS (
        SELECT term, CAST(count(*) AS INT) AS df, {idf} AS idf
        FROM (SELECT DISTINCT id, term FROM p) GROUP BY term
    ),
    avg_l AS (SELECT avg(len(toks)) AS avgdl FROM t),
    scored AS (
        SELECT q.q_id, p.id,
               sum(s.idf * (p.tf * ({k1} + 1.0))
                   / (p.tf + {k1} * (1.0 - {b} + {b} * p.dl / avgdl))) AS score
        FROM p JOIN q USING (term) JOIN s USING (term), avg_l
        WHERE TRUE {self_pred}
        GROUP BY q.q_id, p.id
    )
    SELECT q_id, id, score, rk FROM (
        SELECT q_id, id, score,
               ROW_NUMBER() OVER (PARTITION BY q_id
                                  ORDER BY round(score, 6) DESC, id) AS rk
        FROM scored
    ) WHERE rk <= {k}
    """


# rrf output columns an arm name must not shadow: <name>_rk is the
# per-arm rank column, so a name of "q_id"/"doc_id"/... would make the
# arm column collide with (or be mistaken for) a core output column,
# and rrf_fuse_sql interpolates names into SQL identifiers and string
# literals — identifier-shaped names only (r9 ADVICE).
_RESERVED_ARM_NAMES = frozenset({"q_id", "doc_id", "rk", "rrf_score", "arm"})


def _check_arm_names(names) -> None:
    import re

    for name in names:
        if not re.fullmatch(r"[A-Za-z][A-Za-z0-9_]*", name or ""):
            raise ValueError(
                f"rrf arm name {name!r} is not a plain identifier "
                "([A-Za-z][A-Za-z0-9_]*) — it is interpolated into "
                "output column names and oracle SQL"
            )
        if name in _RESERVED_ARM_NAMES:
            raise ValueError(
                f"rrf arm name {name!r} collides with a fused output "
                f"column (reserved: {sorted(_RESERVED_ARM_NAMES)})"
            )


def rrf_fuse(
    arms: dict[str, DataFrame],
    k: int = 10,
    rrf_k: int = 60,
    q_col: str = "q_id",
    id_col: str = "doc_id",
    rank_col: str = "rk",
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack/Clarke/Buettcher 2009) of named
    ranked lists: each arm is a ``(q_id, doc_id, rk)`` frame (a BM25
    ranking, a dense-cosine ranking, ...); the fused score per
    (query, doc) is ``Σ_arms 1/(rrf_k + rk)``, docs absent from an arm
    simply contribute nothing — rank-only fusion needs NO score
    calibration between arms, which is exactly why it is the standard
    hybrid-retrieval combiner. Returns ``(q_id, doc_id, <arm>_rk ...,
    rrf_score, rk)`` — one nullable rank column per arm (NULL = the
    arm didn't surface that doc), rrf_score rounded to 9 dp, ranked
    (rrf DESC, doc_id) per query, top-k.

    Scale: a union + ONE combinable groupBy on (q, doc) + the
    per-query ranking window — no join at all between arms, so adding
    an arm adds a scan, not a shuffle stage.
    """
    from pyspark.sql.window import Window

    if not arms:
        raise ValueError("rrf_fuse needs at least one ranked arm")
    _check_arm_names(arms)
    tagged = None
    for name, arm in arms.items():
        part = arm.select(
            F.col(q_col).alias("q_id"),
            F.col(id_col).alias("doc_id"),
            F.col(rank_col).cast("int").alias("rk"),
            F.lit(name).alias("__arm"),
        )
        tagged = part if tagged is None else tagged.unionByName(part)
    fused = tagged.groupBy("q_id", "doc_id").agg(
        F.round(
            F.sum(1.0 / (F.lit(float(rrf_k)) + F.col("rk"))), 9
        ).alias("rrf_score"),
        *[
            F.min(F.when(F.col("__arm") == name, F.col("rk"))).alias(
                f"{name}_rk"
            )
            for name in arms
        ],
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("rrf_score").desc(), F.col("doc_id")
    )
    return (
        fused.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select(
            "q_id", "doc_id", *[f"{n}_rk" for n in arms], "rrf_score", "rk"
        )
    )


def rrf_fuse_sql(
    arms: dict[str, tuple[str, str, str, str]],
    k: int = 10,
    rrf_k: int = 60,
) -> str:
    """DuckDB twin of :func:`rrf_fuse`. ``arms`` maps arm name →
    ``(subquery_sql, q_col, id_col, rank_col)``."""
    if not arms:
        raise ValueError("rrf_fuse_sql needs at least one ranked arm")
    _check_arm_names(arms)
    unions = "\nUNION ALL\n".join(
        f"SELECT {q} AS q_id, {i} AS doc_id, CAST({r} AS INT) AS rk, "
        f"'{name}' AS arm FROM ({sql})"
        for name, (sql, q, i, r) in arms.items()
    )
    arm_cols = ", ".join(
        f"min(CASE WHEN arm = '{name}' THEN rk END) AS {name}_rk"
        for name in arms
    )
    out_cols = ", ".join(f"{name}_rk" for name in arms)
    return f"""
    WITH u AS ({unions}),
    fused AS (
        SELECT q_id, doc_id,
               round(sum(1.0 / ({float(rrf_k)} + rk)), 9) AS rrf_score,
               {arm_cols}
        FROM u GROUP BY q_id, doc_id
    )
    SELECT q_id, doc_id, {out_cols}, rrf_score, rk FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
                                     ORDER BY rrf_score DESC, doc_id) AS rk
        FROM fused
    ) WHERE rk <= {k}
    """
