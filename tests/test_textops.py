"""Text analysis: langid, quality, token counts, fingerprint."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_pack_spark.operators import textops


def _df(spark):
    rows = [
        (1, "the cat and the dog sat in the house for a while and it was good"),
        (2, "der hund und die katze sind nicht in dem haus und das ist gut"),
        (3, "el perro y el gato en la casa es un animal que es bueno"),
        (4, "Hello, world!! How are you today?"),
        (5, ""),
    ]
    return spark.createDataFrame(rows, "doc_id int, text string")


def test_language_id(spark):
    got = {r["doc_id"]: r["lang_pred"] for r in
           textops.language_id(_df(spark), "doc_id", "text").collect()}
    assert got[1] == "en"
    assert got[2] == "de"
    assert got[3] == "es"
    assert got[5] == "de"  # zero scores everywhere → alphabetical tie-break


def test_quality_metrics(spark):
    rows = {r["doc_id"]: r for r in
            textops.quality_metrics(_df(spark), "doc_id", "text").collect()}
    r4 = rows[4]
    assert r4["n_chars"] == len("Hello, world!! How are you today?")
    assert r4["n_tokens"] == 6
    assert r4["n_punct"] == 4  # , !! ?
    r5 = rows[5]
    assert r5["n_tokens"] == 0 and r5["avg_token_len"] is None


def test_token_counts(spark):
    rows = {r["doc_id"]: r for r in
            textops.token_counts(_df(spark), "doc_id", "text").collect()}
    assert rows[4]["n_words"] == 6
    # pieces: Hello , world ! ! How are you today ?  → 10
    assert rows[4]["n_pieces"] == 10
    assert rows[5]["n_words"] == 0


def test_fingerprint_stable_under_identity(spark):
    df = _df(spark)
    a = {r["doc_id"]: r["fingerprint"] for r in
         textops.fingerprint(df, "doc_id", "text").collect()}
    b = {r["doc_id"]: r["fingerprint"] for r in
         textops.fingerprint(df, "doc_id", "text").collect()}
    assert a == b
    assert a[5] == ""  # empty doc → empty fingerprint, not null


def test_sentiment_polarity_signs(spark):
    df = spark.createDataFrame(
        [
            (1, "this is a good great excellent day"),
            (2, "a terrible awful bad broken mess"),
            (3, "neutral words only here"),
            (4, ""),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in textops.lexicon_sentiment(df, "doc_id", "text").collect()}
    assert out[1]["polarity"] == 3 and out[1]["sentiment"] > 0
    assert out[2]["polarity"] == -4 and out[2]["sentiment"] < 0
    assert out[3]["polarity"] == 0 and out[3]["sentiment"] == 0.0
    assert out[4]["n_toks"] == 0 and out[4]["sentiment"] == 0.0
    assert len(out) == 4  # empty doc kept


def test_text_signals_matches_component_operators(spark, sf_dir):
    """The one-scan composition must equal the four standalone
    operators joined on doc_id, column for column."""
    from etl_pack_spark.sources.reader import read_table

    docs = read_table(spark, sf_dir, "documents").limit(50)
    got = {r["doc_id"]: r.asDict() for r in
           textops.text_signals(docs, "doc_id", "text").collect()}
    lang = {r["doc_id"]: r.asDict() for r in
            textops.language_id(docs, "doc_id", "text").collect()}
    qual = {r["doc_id"]: r.asDict() for r in
            textops.quality_signals(docs, "doc_id", "text").collect()}
    toks = {r["doc_id"]: r.asDict() for r in
            textops.token_counts(docs, "doc_id", "text").collect()}
    fp = {r["doc_id"]: r.asDict() for r in
          textops.fingerprint(docs, "doc_id", "text").collect()}
    assert set(got) == set(lang) == set(qual) == set(toks) == set(fp)
    for d, row in got.items():
        for k, v in lang[d].items():
            if k != "doc_id":
                assert row[k] == v, (d, k)
        for k, v in qual[d].items():
            if k != "doc_id":
                assert row[k] == v, (d, k)
        assert row["n_pieces"] == toks[d]["n_pieces"]
        assert row["n_fp_hashes"] == fp[d]["n_grams"]
        assert row["fingerprint"] == fp[d]["fingerprint"]


def test_text_signals_single_scan_no_shuffle(spark, sf_dir):
    """Map-only plan: one FileScan, zero Exchange."""
    from etl_pack_spark.sources.reader import read_table

    docs = read_table(spark, sf_dir, "documents")
    plan = (
        textops.text_signals(docs, "doc_id", "text")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan
    assert plan.count("Scan parquet") == 1


def test_unigram_logprob_ranks_common_above_rare(spark):
    common = "the cat sat on the mat and the dog sat too"
    rare = "zyzzyva qoph xylyl vexillology"
    df = spark.createDataFrame(
        [(1, common), (2, common), (3, common), (4, rare)],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["mean_logprob"] for r in
           textops.unigram_logprob(df, "doc_id", "text").collect()}
    assert out[1] == out[2] == out[3] > out[4]


def test_unigram_logprob_oracle_parity(spark, sf_dir):
    import duckdb

    from etl_pack_spark.sources.reader import read_table

    docs = read_table(spark, sf_dir, "documents")
    got = (
        textops.unigram_logprob(docs, "doc_id", "text")
        .toPandas().sort_values("doc_id").reset_index(drop=True)
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf_dir}/documents.parquet')"
    )
    want = (
        con.execute(textops.unigram_logprob_sql("documents", "doc_id", "text"))
        .fetchdf().sort_values("doc_id").reset_index(drop=True)
    )
    assert len(got) == len(want) > 0
    assert (got["n_tokens"].values == want["n_tokens"].values).all()
    # ln() is libm-dependent: compare at tight relative tolerance
    import numpy as np

    a = got["mean_logprob"].to_numpy()
    b = want["mean_logprob"].to_numpy()
    assert np.allclose(a, b, rtol=1e-12, atol=0)


def test_bigram_logprob_hand_model(spark):
    """Interpolated-bigram scores against a by-hand model: corpus
    'a b a b c' + 'a' -> p_uni=(c+1)/10; bigrams ab=2, ba=1, bc=1;
    contexts a->2, b->2; first tokens score unigram-only; empty docs
    are absent."""
    import math

    rows = [(1, "a b a b c"), (2, "a"), (3, "")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: (r["n_tokens"], r["mean_logprob"])
           for r in textops.bigram_logprob(df, "doc_id", "text").collect()}
    pu = {"a": 0.4, "b": 0.3, "c": 0.2}

    def pb(w2, c12, c1):
        return 0.7 * (c12 / c1) + 0.3 * pu[w2]

    d1 = [math.log(pu["a"]), math.log(pb("b", 2, 2)), math.log(pb("a", 1, 2)),
          math.log(pb("b", 2, 2)), math.log(pb("c", 1, 2))]
    assert got[1][0] == 5 and abs(got[1][1] - sum(d1) / 5) < 1e-12
    assert got[2] == (1, math.log(pu["a"]))
    assert 3 not in got


def test_bigram_logprob_oracle_parity(spark, sf_dir):
    import duckdb
    import numpy as np

    from etl_pack_spark.sources.reader import read_table

    docs = read_table(spark, sf_dir, "documents")
    got = (
        textops.bigram_logprob(docs, "doc_id", "text")
        .toPandas().sort_values("doc_id").reset_index(drop=True)
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf_dir}/documents.parquet')"
    )
    want = (
        con.execute(textops.bigram_logprob_sql("documents", "doc_id", "text"))
        .fetchdf().sort_values("doc_id").reset_index(drop=True)
    )
    assert len(got) == len(want) > 0
    assert (got["n_tokens"].values == want["n_tokens"].values).all()
    a = got["mean_logprob"].to_numpy()
    b = want["mean_logprob"].to_numpy()
    assert np.allclose(a, b, rtol=1e-12, atol=0)


def test_bigram_logprob_repartition_stable(spark, sf_dir):
    from etl_pack_spark.sources.reader import read_table

    docs = read_table(spark, sf_dir, "documents")

    def rounded(d):
        return sorted(
            (r["doc_id"], r["n_tokens"], round(r["mean_logprob"], 6))
            for r in textops.bigram_logprob(d, "doc_id", "text").collect()
        )

    assert rounded(docs) == rounded(docs.repartition(13))


def test_bigram_ranks_fluent_above_shuffled(spark):
    """The point of the bigram rung: a doc reusing common words in
    UNSEEN orders scores below docs whose word ORDER matches the
    corpus — invisible to the unigram proxy. Corpus: many copies of a
    fluent sentence plus one doc of the same-frequency words
    scrambled; interpolation gives its unseen-order bigrams only the
    (1-lam) unigram mass."""
    fluent = "the cat sat on the mat"
    scrambled = "mat the on sat cat the"
    rows = [(i, fluent) for i in range(5)] + [(99, scrambled)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["mean_logprob"]
           for r in textops.bigram_logprob(df, "doc_id", "text").collect()}
    assert got[99] < got[0]
    uni = {r["doc_id"]: r["mean_logprob"]
           for r in textops.unigram_logprob(df, "doc_id", "text").collect()}
    assert abs(uni[99] - uni[0]) < 1e-12  # unigram can't tell them apart


def test_unigram_guard_fallback_matches_broadcast_path(spark):
    """Past MAX_BROADCAST_MODEL_ROWS the model join must drop the
    forced broadcast hint (AQE picks the strategy) and still produce
    identical results. Pinned by running the guard helper at a tiny
    bound against the same frame."""
    from etl_pack_spark.operators.guards import maybe_broadcast

    df = spark.createDataFrame(
        [(i, f"tok{i % 5} tok{(i + 1) % 5} common") for i in range(20)],
        "doc_id long, text string",
    )
    from etl_pack_spark.operators.textops import unigram_logprob

    want = sorted(map(tuple, unigram_logprob(df, "doc_id", "text").collect()))

    # helper behavior: small model → hinted; past the bound → unhinted
    model = spark.range(10).select(F.col("id").alias("tok"))
    hinted = maybe_broadcast(model, max_rows=100)
    unhinted = maybe_broadcast(model, max_rows=5)
    assert "UnresolvedHint" in hinted._jdf.queryExecution().logical().toString()
    assert "UnresolvedHint" not in unhinted._jdf.queryExecution().logical().toString()
    # r16 zero-job fast path: exact-leaf plans (driver-local relations,
    # bare range) expose an EXACT rowCount in plan stats (no probe
    # job); anything non-leaf (even a projection over range, without
    # CBO) and every distributed plan must return None so the bounded
    # probe still runs
    from etl_pack_spark.operators.guards import plan_stats

    assert plan_stats(spark.range(10)).rows == 10
    assert plan_stats(model).rows is None  # Project over Range
    # the Arrow/pandas createDataFrame path — what the components
    # union-find emits — plans as a LocalRelation (a tuple-list
    # createDataFrame goes through an RDD and correctly returns None)
    import pandas as pd

    local = spark.createDataFrame(pd.DataFrame({"id": [1, 2, 3]}))
    assert plan_stats(local).rows == 3
    assert plan_stats(local.where("id < 3")).rows == 2  # folded local
    assert plan_stats(df.groupBy("doc_id").count()).rows is None
    # and the fallback join still computes the same answer
    import etl_pack_spark.operators.guards as guards

    orig = guards.MAX_BROADCAST_MODEL_ROWS
    try:
        guards.MAX_BROADCAST_MODEL_ROWS = 2  # force fallback

        got = sorted(map(tuple, unigram_logprob(df, "doc_id", "text").collect()))
    finally:
        guards.MAX_BROADCAST_MODEL_ROWS = orig
    assert got == want


def _jobs_launched(spark, fn):
    """``(fn(), number of Spark jobs fn launched)``, counted through a
    job group once the listener bus has drained."""
    import uuid

    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job count")
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_bounded_count_jobs_and_plan_stats_failure(spark, tmp_path, monkeypatch):
    """bounded_count runs no job when the plan stats know the count
    exactly, one bounded probe otherwise (capped at bound + 1), and
    plan_stats reports an unreadable plan as None instead of raising."""
    import pandas as pd

    from etl_pack_spark.operators import guards

    local = spark.createDataFrame(pd.DataFrame({"id": [1, 2, 3]}))
    assert _jobs_launched(spark, lambda: guards.bounded_count(spark.range(10), 5)) == (10, 0)
    assert _jobs_launched(spark, lambda: guards.bounded_count(local, 5)) == (3, 0)

    path = str(tmp_path / "scan")
    spark.range(50).write.parquet(path)
    scan = spark.read.parquet(path)
    got, jobs = _jobs_launched(spark, lambda: guards.bounded_count(scan, 9))
    assert got == 10 and jobs >= 1
    assert guards.bounded_count(scan, 100) == 50

    class _Unreadable:
        def __getattr__(self, name):
            raise RuntimeError("plan unavailable")

    assert guards.plan_stats(_Unreadable()) is None
    # unreadable stats fall back to the probe, even on an exact leaf
    monkeypatch.setattr(guards, "plan_stats", lambda df: None)
    got, jobs = _jobs_launched(spark, lambda: guards.bounded_count(spark.range(10), 5))
    assert got == 6 and jobs >= 1


def test_ppl_bucket_split_oracle_parity(spark, sf_dir):
    """CCNet head/middle/tail split matches DuckDB bit-for-bit (the
    percentile cutoffs share the linear-interpolation definition)."""
    import duckdb

    from etl_pack_spark.operators.textops import ppl_bucket_split, ppl_bucket_split_sql
    from etl_pack_spark.sources.reader import read_table

    docs = read_table(spark, sf_dir, "documents")
    got = sorted(
        (r["doc_id"], r["bucket"]) for r in
        ppl_bucket_split(docs, "doc_id", "text").collect()
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf_dir}/documents.parquet')"
    )
    want = sorted(
        (r[0], r[3]) for r in
        con.execute(ppl_bucket_split_sql("documents", "doc_id", "text")).fetchall()
    )
    assert got == want and len(got) > 0
    # fraction sanity: ~30/40/30 split (interpolated cutoffs -> approximate)
    from collections import Counter

    frac = Counter(b for _, b in got)
    n = len(got)
    assert 0.2 <= frac["head"] / n <= 0.4
    assert 0.2 <= frac["tail"] / n <= 0.4


def test_ppl_bucket_split_no_global_sort(spark, sf_dir):
    """Bucketing must not funnel the corpus through a single-partition
    window (ntile); only the tiny cutoff aggregate may single-partition."""
    from etl_pack_spark.operators.textops import ppl_bucket_split
    from etl_pack_spark.sources.reader import read_table

    docs = read_table(spark, sf_dir, "documents")
    plan = (
        ppl_bucket_split(docs, "doc_id", "text")
        ._jdf.queryExecution().executedPlan().toString()
    )
    import re

    # word boundary: 'percentile(' itself contains 'ntile('
    assert not re.search(r"\bntile\(", plan.lower())
    assert "Window" not in plan


def test_ppl_bucket_split_rejects_bad_fractions(spark):
    import pytest

    from etl_pack_spark.operators.textops import ppl_bucket_split

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="fractions"):
        ppl_bucket_split(df, "doc_id", "text", head=0.6, tail=0.6)


def test_ppl_bucket_split_keeps_zero_token_docs(spark):
    """Empty / punctuation-only docs can't be scored — they must still
    appear in the split (routed to tail), not silently leak out."""
    import duckdb
    import pandas as pd

    from etl_pack_spark.operators.textops import ppl_bucket_split, ppl_bucket_split_sql

    rows = [(i, f"token{i} common words here") for i in range(10)] + [
        (100, ""), (101, "..!!.."), (102, None)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: (r["n_tokens"], r["bucket"]) for r in
           ppl_bucket_split(df, "doc_id", "text").collect()}
    assert len(got) == 13
    for d in (100, 101, 102):
        assert got[d] == (0, "tail")

    con = duckdb.connect()
    con.register("documents_ppl", pd.DataFrame(rows, columns=["doc_id", "text"]))
    want = {r[0]: (r[1], r[3]) for r in con.execute(
        ppl_bucket_split_sql("documents_ppl", "doc_id", "text")
    ).fetchall()}
    assert got == want


class TestNormalizeText:
    ROWS = [
        (1, "café"),                       # composed already
        (2, "café"),                      # e + combining acute -> composes
        (3, "a\r\nb\rc\nd"),                    # newline forms
        (4, "x\x00y\x1fz\x7f"),                 # control chars stripped
        (5, "tab\tkeeps\nnewline keeps"),
        (6, None),
        (7, "ＡA"),                    # fullwidth A stays distinct under NFC
    ]

    def _frames(self, spark):
        import pandas as pd

        pdf = pd.DataFrame(self.ROWS, columns=["doc_id", "text"])
        sdf = spark.createDataFrame(
            pdf.astype(object).where(pd.notnull(pdf), None),
            "doc_id long, text string",
        )
        return pdf, sdf

    def test_oracle_parity_synthetic(self, spark):
        import duckdb

        from etl_pack_spark.operators.textops import normalize_text, normalize_text_sql

        pdf, sdf = self._frames(spark)
        got = sorted(map(tuple, normalize_text(sdf, "doc_id", "text").collect()))
        con = duckdb.connect()
        con.register("t", pdf)
        want = sorted(map(tuple, con.execute(
            normalize_text_sql("t", "doc_id", "text")).fetchall()))
        assert got == want

    def test_oracle_parity_fixture(self, spark, sf_dir):
        from etl_pack_spark.operators.textops import normalize_text, normalize_text_sql
        from etl_pack_spark.oracle import duck_connect
        from etl_pack_spark.sources.reader import read_table

        docs = read_table(spark, sf_dir, "documents")
        got = sorted(map(tuple, normalize_text(docs, "doc_id", "text").collect()))
        want = sorted(map(tuple, duck_connect(sf_dir).execute(
            normalize_text_sql("documents", "doc_id", "text")).fetchall()))
        assert got == want
        assert len(got) == docs.count()

    def test_semantics(self, spark):
        from etl_pack_spark.operators.textops import normalize_text

        _, sdf = self._frames(spark)
        out = {r["id"]: r["text_norm"] for r in normalize_text(sdf, "doc_id", "text").collect()}
        assert out[1] == out[2] == "café"    # canonical equality -> literal
        assert out[3] == "a\nb\nc\nd"
        assert out[4] == "xyz"
        assert out[5] == "tab\tkeeps\nnewline keeps"
        assert out[6] is None
        assert out[7] == "ＡA"           # NFC (not NFKC): compatibility kept

    def test_arrow_not_row_python(self, spark, sf_dir):
        from etl_pack_spark.operators.textops import normalize_text
        from etl_pack_spark.sources.reader import read_table

        docs = read_table(spark, sf_dir, "documents")
        plan = normalize_text(docs, "doc_id", "text")._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan      # no per-row Python
        assert "ArrowEvalPython" in plan          # the NFC step, Arrow-batched
        assert "Exchange" not in plan             # map-only


def test_signal_output_cols_constant_matches_projection(spark):
    """r13: SIGNAL_OUTPUT_COLS is the carry-clash guard's source of
    truth — it must equal the projection's ACTUAL output set, so a new
    signal added without extending the constant fails here instead of
    silently un-reserving its name."""
    from etl_pack_spark.operators.textops import (
        SIGNAL_OUTPUT_COLS,
        text_signals,
    )

    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    out_cols = set(text_signals(docs, "doc_id", "text").columns) - {"doc_id"}
    assert out_cols == set(SIGNAL_OUTPUT_COLS)
    carried = set(text_signals(
        docs.withColumn("extra", docs.doc_id), "doc_id", "text",
        carry_cols=("extra",),
    ).columns) - {"doc_id"}
    assert carried == set(SIGNAL_OUTPUT_COLS) | {"extra"}
