"""Seeded input generators for the benchmark workloads.

Everything here is NumPy + pyarrow: inputs are written as parquet before
any Spark session exists, so generation cost stays out of ``setup_s`` and
out of every timed op. The same seed always gives byte-identical inputs.

Schemas follow the repository's fixtures (``FIXTURES.md``): lineitem,
documents and 64-dim embeddings. Sizes are set by ``perfbench.workloads``.
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH_DAY = dt.date(1995, 1, 2)
N_DAYS = 2498  # 1995-01-02 .. 2001-11-04, the fixture's l_shipdate range

# Language markers must agree with the curation gate's lexicons
# (operators.textops.MARKERS); each language uses only the markers no
# other language shares, so a document's labelled language is the one
# the gate predicts.
MARKERS = {
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "von", "zu"],
    "en": ["the", "and", "is", "of", "to", "in", "that", "it", "for", "was"],
    "es": ["el", "los", "las", "y", "en", "es"],
    "fr": ["le", "les", "et", "une", "est", "dans"],
}
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.40, 0.16, 0.16, 0.16, 0.12]  # zh has no markers: the gate drops it
_SYL = ["ka", "lo", "mi", "ne", "ru", "ta", "vo", "zi", "pe", "su", "da", "fo"]


def _vocab(rng: np.random.Generator, n: int = 600) -> np.ndarray:
    words: set[str] = set()
    while len(words) < n:
        k = int(rng.integers(2, 5))
        words.add("".join(rng.choice(_SYL, size=k)))
    return np.array(sorted(words))


def _doc_text(rng: np.random.Generator, vocab: np.ndarray, lang: str) -> str:
    n = int(rng.integers(8, 90))
    words = list(rng.choice(vocab, size=n))
    markers = MARKERS.get(lang)
    if markers:
        for i in rng.choice(n, size=max(1, n // 6), replace=False):
            words[i] = markers[int(rng.integers(len(markers)))]
    return " ".join(words)


def _mutate(rng: np.random.Generator, vocab: np.ndarray, text: str) -> str:
    """A near-duplicate: swap about one word in twenty-five."""
    words = text.split(" ")
    for i in rng.choice(len(words), size=max(1, len(words) // 25), replace=False):
        words[i] = str(rng.choice(vocab))
    return " ".join(words)


def documents(rng: np.random.Generator, n: int, vocab: np.ndarray) -> dict:
    langs = rng.choice(LANGS, size=n, p=LANG_P)
    texts = [_doc_text(rng, vocab, str(lang)) for lang in langs]
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": [str(x) for x in langs],
        "source": [f"src{i % 20}" for i in range(n)],
    }


def _docs_table(cols: dict) -> pa.Table:
    return pa.table({
        "doc_id": pa.array(cols["doc_id"], pa.int64()),
        "text": pa.array(cols["text"], pa.string()),
        "lang": pa.array(cols["lang"], pa.string()),
        "source": pa.array(cols["source"], pa.string()),
        "n_chars": pa.array([len(t) for t in cols["text"]], pa.int64()),
    })


# --------------------------------------------------------------------------
# cron_incremental_load
# --------------------------------------------------------------------------

@dataclass
class CronInputs:
    source_dir: str          # holds lineitem.parquet/ (a directory of parts)
    late_part: str           # staged late-arrival part, moved in before a reconcile
    days: np.ndarray         # base rows' ship day (days since EPOCH_DAY)
    n_late: int
    windows: list[tuple[int, int]]  # one cycle's sliding windows, inclusive days
    refire: int              # index of the window re-fired by the idempotence check

    @staticmethod
    def day_str(day: int) -> str:
        return (EPOCH_DAY + dt.timedelta(days=int(day))).isoformat() + " 00:00:00"

    def window_bounds(self, lo: int, hi: int) -> tuple[str, str]:
        return self.day_str(lo), self.day_str(hi)

    def expected_new(self, k: int) -> int:
        """Rows sliding firing ``k`` must append: base rows of its window
        that no earlier window of the cycle covered."""
        lo, hi = self.windows[k]
        if k > 0:
            lo = self.windows[k - 1][1] + 1
        return int(np.count_nonzero((self.days >= lo) & (self.days <= hi)))

    def scanned(self, lo: int, hi: int, late: bool) -> int:
        n = int(np.count_nonzero((self.days >= lo) & (self.days <= hi)))
        return n + (self.n_late if late else 0)


def _lineitem(rng: np.random.Generator, n: int, key0: int) -> tuple[pa.Table, np.ndarray]:
    days = rng.integers(0, N_DAYS, size=n)
    ship = (np.datetime64(EPOCH_DAY, "D") + days).astype("datetime64[us]")
    price = np.round(rng.uniform(900.0, 105000.0, size=n), 2)
    table = pa.table({
        # (l_orderkey, l_linenumber) is unique, so every source row has a
        # distinct canonical hash and expected counts are exact
        "l_orderkey": pa.array(key0 + np.arange(n) // 4 + 1, pa.int64()),
        "l_partkey": pa.array(rng.integers(1, 20001, size=n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(1, 1001, size=n), pa.int64()),
        "l_linenumber": pa.array(np.arange(n) % 4 + 1, pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, size=n).astype(np.float64)),
        "l_extendedprice": pa.array(price),
        "l_discount": pa.array(rng.integers(0, 11, size=n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, size=n) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], size=n)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], size=n)),
        "l_shipdate": pa.array(ship, pa.timestamp("us", tz="UTC")),
    })
    return table, days


def _windows(rng: np.random.Generator, n_windows: int = 8) -> list[tuple[int, int]]:
    """``n_windows`` sliding windows tiling [0, N_DAYS) with each window
    overlapping the previous one by a seeded 20-30% of its width."""
    overlap = rng.uniform(0.20, 0.30, size=n_windows - 1)
    width = N_DAYS / (n_windows - overlap.sum())
    out, lo = [], 0.0
    for k in range(n_windows):
        hi = lo + width
        out.append((int(round(lo)), int(round(hi)) - 1))
        if k < n_windows - 1:
            lo = hi - overlap[k] * width
    out[-1] = (out[-1][0], N_DAYS - 1)
    return out


# late-arriving rows, as a share of the base rows; an arbitrary choice
# (no measured late-arrival rate was at hand), small enough that the
# reconcile is dominated by its full-target snapshot
LATE_SHARE = 0.01


def make_cron(root: Path, seed: int, rows: int) -> CronInputs:
    rng = np.random.default_rng([seed, 1])
    src = root / "cron_src" / "lineitem.parquet"
    src.mkdir(parents=True)
    base, days = _lineitem(rng, rows, 0)
    # 64k-row groups: the scan splits across cores like a real many-block file
    pq.write_table(base, src / "part-00000.parquet", row_group_size=65_536)
    n_late = int(rows * LATE_SHARE)
    late, _ = _lineitem(rng, n_late, rows)
    late_part = root / "cron_late.parquet"
    pq.write_table(late, late_part)
    windows = _windows(rng)
    return CronInputs(
        source_dir=str(root / "cron_src"),
        late_part=str(late_part),
        days=days,
        n_late=n_late,
        windows=windows,
        refire=int(rng.integers(len(windows))),
    )


# --------------------------------------------------------------------------
# curate_and_retrieve: the curation corpus
# --------------------------------------------------------------------------

# Duplicates are 30% of the expanded corpus, the duplicate rate of a real
# web crawl quoted in SCALE.md ("a real crawl's dup rate (~30%)"). The even
# split between verbatim and near copies is an arbitrary choice.
EXACT_DUP_SHARE = 0.15   # of the expanded corpus: verbatim copies of a base doc
NEAR_DUP_SHARE = 0.15    # of the expanded corpus: ~4%-word-swap copies


@dataclass
class CurationInputs:
    data_dir: str            # holds documents.parquet
    n_docs: int
    exact_groups: dict[int, list[int]]   # base doc id -> ids of its verbatim copies


def make_curation(root: Path, seed: int, base_docs: int, expand: int = 4) -> CurationInputs:
    rng = np.random.default_rng([seed, 2])
    vocab = _vocab(rng)
    base = documents(rng, base_docs, vocab)
    n = base_docs * expand
    cols = {k: list(v) for k, v in base.items()}
    groups: dict[int, list[int]] = {}
    kinds = rng.choice(
        3, size=n - base_docs,
        p=[EXACT_DUP_SHARE * expand / (expand - 1),
           NEAR_DUP_SHARE * expand / (expand - 1),
           1 - (EXACT_DUP_SHARE + NEAR_DUP_SHARE) * expand / (expand - 1)],
    )
    fresh = documents(rng, int(np.count_nonzero(kinds == 2)), vocab)
    j = 0
    for i, kind in enumerate(kinds):
        doc_id = base_docs + i
        if kind == 2:
            text, lang, src = fresh["text"][j], fresh["lang"][j], fresh["source"][j]
            j += 1
        else:
            orig = int(rng.integers(base_docs))
            text, lang, src = base["text"][orig], base["lang"][orig], base["source"][orig]
            if kind == 0:
                groups.setdefault(orig, []).append(doc_id)
            else:
                text = _mutate(rng, vocab, text)
        cols["doc_id"].append(doc_id)
        cols["text"].append(text)
        cols["lang"].append(lang)
        cols["source"].append(src)
    data = root / "curation"
    data.mkdir()
    pq.write_table(_docs_table(cols), data / "documents.parquet", row_group_size=2_048)
    return CurationInputs(str(data), n, groups)


# --------------------------------------------------------------------------
# curate_and_retrieve: the retrieval corpus
# --------------------------------------------------------------------------

EMB_DIMS = 64


@dataclass
class RetrievalInputs:
    data_dir: str            # holds documents.parquet and embeddings.parquet
    n_docs: int
    n_vectors: int


def make_retrieval(root: Path, seed: int, n_docs: int, n_vectors: int) -> RetrievalInputs:
    rng = np.random.default_rng([seed, 3])
    vocab = _vocab(rng)
    docs = documents(rng, n_docs, vocab)
    labels = rng.integers(0, 10, size=n_vectors)
    centres = rng.normal(size=(10, EMB_DIMS))
    vecs = (centres[labels] + rng.normal(scale=1.5, size=(n_vectors, EMB_DIMS)))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True) * 0.5).astype(np.float32)
    emb = pa.table({
        "vec_id": pa.array(np.arange(n_vectors), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    data = root / "retrieval"
    data.mkdir()
    pq.write_table(_docs_table(docs), data / "documents.parquet", row_group_size=1_024)
    pq.write_table(emb, data / "embeddings.parquet", row_group_size=512)
    return RetrievalInputs(str(data), n_docs, n_vectors)


def query_ids(seed: int, op: int, n_vectors: int, batch: int = 64) -> list[int]:
    """The query-by-example ids of op ``op``: every op draws its own batch."""
    rng = np.random.default_rng([seed, 4, op])
    return sorted(int(x) for x in rng.choice(n_vectors, size=batch, replace=False))
