"""The benchmark's user jobs, each a closed loop with one client.

A workload turns a seed into inputs (``perfbench.inputs``) and then hands
the runner one op at a time: ``op(spark, i)`` prepares op ``i`` (untimed
file moves), returning an :class:`Op` whose ``run`` is the timed call into
the package's public entry points and whose ``check`` verifies the output
after the timed phase. The runner starts op ``i + 1`` only after op ``i``
has returned, the way a scheduler fires a job or a caller waits for a batch.
"""

from __future__ import annotations

import shutil
from dataclasses import dataclass
from pathlib import Path
from typing import Any, Callable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from etl_pack_spark.plans.pretrain import prepare_pretraining_corpus
from etl_pack_spark.plans.transfer import TransferConfig, run_transfer
from etl_pack_spark.sources.reader import read_table

from perfbench import inputs


@dataclass
class Op:
    label: str
    units: int                               # input units the op completes
    run: Callable[[], Any]                   # the timed call
    check: Callable[[Any], str | None]       # untimed; an error text, or None
    rows_written: Callable[[Any], int | None] = lambda res: res.get("rows_out")
    files_written: Callable[[], int] = lambda: 0
    snapshot_rows: int | None = None         # true rows an anti-join compares against
    curated_docs: int | None = None          # documents handed to the curation plan


def sink_noop(df: DataFrame) -> None:
    """The noop sink: runs the whole plan and discards the rows."""
    df.write.format("noop").mode("overwrite").save()


def _observed_noop(df: DataFrame, *exprs) -> dict:
    """Write ``df`` to the noop sink, returning aggregates observed on the
    same job, so checking an output costs no second execution."""
    obs = Observation("perfbench")
    sink_noop(df.observe(obs, *exprs))
    return obs.get


def _row_digest(df: DataFrame) -> list:
    """Order-independent digest of a frame's rows: count and xor of row hashes."""
    cols = sorted(df.columns)
    return [
        F.count(F.lit(1)).alias("rows_out"),
        F.bit_xor(F.xxhash64(*cols)).alias("digest"),
    ]


class CronIncrementalLoad:
    """The reference's own job: ``run_transfer`` fired on sliding windows of
    a lineitem-shaped source, then one full-range reconcile that picks up
    late-arriving rows. One cycle is 8 sliding firings plus the reconcile,
    and the runner stops only at a cycle boundary."""

    name = "cron_incremental_load"
    unit = "source rows scanned"
    # sf0.05: the reconcile's snapshot is still above the dedup prefilter's
    # engagement floor, and one cycle (~15-20 s on 4 cores) keeps a run
    # under a minute
    ROWS = 300_000

    def __init__(self, work: Path, seed: int, scale: float = 1.0):
        self.timed = _CronCycles(work, seed, rows=max(4_000, int(self.ROWS * scale)))
        # The warm-up is one whole cycle over a quarter-size source of its
        # own: after a single warm-up firing, a session's first cycle ran
        # 20-25% slower than its second, and by how much varied from run
        # to run.
        self.warm = _CronCycles(work / "warm", seed, rows=max(4_000, int(self.ROWS * scale / 4)))

    def warmup(self, spark: SparkSession) -> None:
        for i in range(self.warm.cycle_len):
            self.warm.op(spark, i).run()

    def may_stop(self, next_op: int) -> bool:
        return next_op % self.timed.cycle_len == 0

    def op(self, spark: SparkSession, i: int) -> Op:
        return self.timed.op(spark, i)


class _CronCycles:
    """Cycles of firings over one seeded source, each cycle into a fresh
    target."""

    def __init__(self, work: Path, seed: int, rows: int):
        self.work = work
        self.inp = inputs.make_cron(work, seed, rows=rows)
        self.cycle_len = len(self.inp.windows) + 1
        self.target = work
        self.n_cycles = 0

    def _cfg(self, target: Path, lo: int, hi: int) -> TransferConfig:
        return TransferConfig(
            source_dir=self.inp.source_dir, table="lineitem", target_path=str(target),
            window=("l_shipdate", *self.inp.window_bounds(lo, hi)),
        )

    def op(self, spark: SparkSession, i: int) -> Op:
        k = i % self.cycle_len
        late = Path(self.inp.source_dir) / "lineitem.parquet" / "part-late.parquet"
        if k == 0:
            # earlier targets stay: their cycle's re-fire check reads them
            late.unlink(missing_ok=True)
            self.target = self.work / f"target{self.n_cycles}"
            self.n_cycles += 1
        target = self.target
        if k < len(self.inp.windows):
            lo, hi = self.inp.windows[k]
            expected = self.inp.expected_new(k)
            label = f"slide{k}"
        else:
            shutil.copy(self.inp.late_part, late)
            lo, hi = 0, inputs.N_DAYS - 1
            expected = self.inp.n_late
            label = "reconcile"
        cfg = self._cfg(target, lo, hi)
        files_before = _n_files(target)

        def check(res) -> str | None:
            if res.rows != expected:
                return f"{label} appended {res.rows} rows, expected {expected}"
            if label == "reconcile":
                # re-firing a window of the finished cycle must append nothing
                rlo, rhi = self.inp.windows[self.inp.refire]
                again = run_transfer(spark, self._cfg(target, rlo, rhi)).rows
                if again != 0:
                    return f"re-firing window {self.inp.refire} appended {again} rows, expected 0"
            return None

        return Op(
            label, self.inp.scanned(lo, hi, late=label == "reconcile"),
            lambda: run_transfer(spark, cfg), check,
            rows_written=lambda res: res.rows,
            files_written=lambda: _n_files(target) - files_before,
            snapshot_rows=self._snapshot_rows(k),
        )

    def _snapshot_rows(self, k: int) -> int:
        """Rows of the target inside firing ``k``'s window: the true size of
        the snapshot it anti-joins against."""
        if k == len(self.inp.windows):
            return len(self.inp.days)
        if k == 0:
            return 0
        lo, hi = self.inp.windows[k][0], self.inp.windows[k - 1][1]
        return self.inp.scanned(lo, hi, late=False)


def _n_files(path: Path) -> int:
    return sum(1 for p in path.glob("*.parquet")) if path.exists() else 0


WARMUP_OP = 1_000_000  # the warm-up's query batch is one no timed op draws


class CurateAndRetrieve:
    """The LLM-data job. One op curates a pretraining corpus with planted
    exact and near duplicates, ``prepare_pretraining_corpus(docs,
    leakage_safe_split=True)``, then answers one batch of seeded
    query-by-example ids with a hybrid retrieval over a second corpus:
    sparse ``bm25_topk_batch`` and dense ``ivf_topk`` arms fused by
    ``rrf_fuse``. Both halves are written to the noop sink.

    The curated output must be identical in every op and in the warm-up,
    and every batch must match the DuckDB twins."""

    name = "curate_and_retrieve"
    unit = "documents (curated + indexed)"
    # x4 = 1,000 curation docs; both halves are driver-bound (an op is
    # ~15-20 s on 4 cores), so larger corpora add little but wall time
    BASE_DOCS = 250
    RET_DOCS, RET_VECTORS = 1_000, 400
    K_EACH, K, BATCH = 20, 10, 32

    def __init__(self, work: Path, seed: int, scale: float = 1.0):
        self.seed = seed
        self.cur = inputs.make_curation(work, seed, base_docs=max(100, int(self.BASE_DOCS * scale)))
        self.ret = inputs.make_retrieval(
            work, seed, n_docs=max(500, int(self.RET_DOCS * scale)),
            n_vectors=max(200, int(self.RET_VECTORS * scale)),
        )
        self.batch = min(self.BATCH, self.ret.n_vectors // 4)
        self.reference: tuple | None = None

    def _curate(self, spark: SparkSession) -> dict:
        docs = read_table(spark, self.cur.data_dir, "documents")
        out = prepare_pretraining_corpus(docs, leakage_safe_split=True)
        return _observed_noop(
            out, *_row_digest(out), F.sort_array(F.collect_list("doc_id")).alias("ids"),
        )

    def _retrieve(self, spark: SparkSession, ids: list[int]) -> dict:
        from etl_pack_spark.operators.retrieval import bm25_topk_batch, rrf_fuse
        from etl_pack_spark.operators.similarity import ivf_topk

        docs = read_table(spark, self.ret.data_dir, "documents")
        emb = read_table(spark, self.ret.data_dir, "embeddings")
        q = spark.createDataFrame([(x,) for x in ids], "vec_id long")
        q_text = docs.join(
            F.broadcast(q.withColumnRenamed("vec_id", "doc_id")), "doc_id", "left_semi"
        ).select(F.col("doc_id").alias("q_id"), "text")
        sparse = bm25_topk_batch(
            docs, q_text, "doc_id", "text", k=self.K_EACH, exclude_self=True
        )
        dense = ivf_topk(emb, k=self.K_EACH, queries=q)
        out = rrf_fuse(
            {"bm25": sparse.withColumnRenamed("id", "doc_id"),
             "dense": dense.withColumnRenamed("n_id", "doc_id")},
            k=self.K,
        )
        return _observed_noop(
            out, F.collect_list(F.struct(*sorted(out.columns))).alias("results")
        )

    def _ids(self, i: int) -> list[int]:
        return inputs.query_ids(self.seed, i, self.ret.n_vectors, self.batch)

    def warmup(self, spark: SparkSession) -> None:
        """One untimed op; its curated output is the reference every timed
        op's output must equal."""
        cur = self._curate(spark)
        self.reference = (cur["rows_out"], cur["digest"])
        self._retrieve(spark, self._ids(WARMUP_OP))

    def may_stop(self, next_op: int) -> bool:
        return True

    def op(self, spark: SparkSession, i: int) -> Op:
        ids = self._ids(i)

        def run() -> dict:
            return {"curated": self._curate(spark), "retrieved": self._retrieve(spark, ids)}

        def check(res) -> str | None:
            return self._check_curated(res["curated"]) or self._check_retrieved(i, ids, res["retrieved"])

        return Op("curate+retrieve", self.cur.n_docs + self.ret.n_docs, run, check,
                  rows_written=lambda res: res["curated"]["rows_out"],
                  curated_docs=self.cur.n_docs)

    def _check_curated(self, res) -> str | None:
        ids = set(res["ids"])
        for orig, copies in self.cur.exact_groups.items():
            kept = len(ids.intersection([orig, *copies]))
            if kept > 1:
                return f"exact-duplicate group of doc {orig} kept {kept} survivors"
        digest = (res["rows_out"], res["digest"])
        if digest != self.reference:
            return f"curated output {digest} differs from the warm-up's {self.reference}"
        return None

    def _check_retrieved(self, i: int, ids: list[int], res) -> str | None:
        answered = {r["q_id"] for r in res["results"]}
        if len(answered) != len(ids):
            return f"{len(ids)} queries, results for {len(answered)}"
        if _canon([r.asDict() for r in res["results"]]) != _canon(self.oracle(ids)):
            return f"op {i}'s retrieval differs from the DuckDB twins"
        return None

    def oracle(self, ids: list[int]) -> list[dict]:
        import duckdb

        from etl_pack_spark.operators.retrieval import bm25_topk_batch_sql, rrf_fuse_sql
        from etl_pack_spark.operators.similarity import ivf_topk_sql

        id_list = ", ".join(map(str, ids))
        con = duckdb.connect()
        try:
            for t in ("documents", "embeddings"):
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.ret.data_dir}/{t}.parquet')"
                )
            sparse = bm25_topk_batch_sql(
                "documents",
                f"(SELECT doc_id AS q_id, text FROM documents WHERE doc_id IN ({id_list}))",
                "doc_id", "text", k=self.K_EACH, exclude_self=True,
            )
            # the twin frames queries as ids below a bound; probes are
            # per-query, so bounding at the corpus size and keeping this
            # batch's ids is the same result
            dense = (
                f"SELECT * FROM ({ivf_topk_sql('embeddings', k=self.K_EACH, query_max_id=self.ret.n_vectors)}) "
                f"WHERE q_id IN ({id_list})"
            )
            sql = rrf_fuse_sql(
                {"bm25": (sparse, "q_id", "id", "rk"), "dense": (dense, "q_id", "n_id", "rk")},
                k=self.K,
            )
            return con.sql(sql).df().to_dict("records")
        finally:
            con.close()


def _canon(rows: list[dict]) -> list[tuple]:
    """Rows in the oracle's canonical form, with NULL and NaN as None and
    whole numbers as int, so Spark's ints and DuckDB's nullable floats agree."""
    import pandas as pd

    from etl_pack_spark.oracle import canon_frame

    def norm(v):
        if v is None or v != v:
            return None
        f = float(v)
        return int(f) if f.is_integer() else f

    return canon_frame(pd.DataFrame([{k: norm(v) for k, v in r.items()} for r in rows], dtype=object))


WORKLOADS = {w.name: w for w in (CronIncrementalLoad, CurateAndRetrieve)}
