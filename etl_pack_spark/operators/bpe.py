"""BPE tokenizer induction and encoding (Sennrich et al. 2016,
"Neural Machine Translation of Rare Words with Subword Units" — the
public byte-pair-encoding recipe behind most LLM tokenizers).

Scale design mirrors how real tokenizer trainers work:

  * The only corpus-sized step is the WORD-COUNT aggregate — one
    map-side-combinable groupBy over exploded whitespace tokens. Zipf
    makes the distinct-word table orders of magnitude smaller than the
    corpus, so it collects to the trainer under an explicit bound
    (``MAX_TRAIN_VOCAB``, same guarded-bounded pattern as
    components.MAX_DRIVER_PAIRS / quantize.pq_train's sample limit).
  * Merge training is the standard frequency-greedy loop over that
    word-count table (pair counts are weighted by word frequency);
    ties break lexicographically, so the merge list is deterministic
    for a given corpus regardless of partitioning.
  * ENCODING is distributed and Arrow-batched: the learned merge ranks
    broadcast to executors (a dict of ~vocab_size entries), and a
    ``mapInPandas`` stage applies the classic greedy lowest-rank-first
    merge per word. No per-row Python UDF, no driver involvement.

Not SQL-expressible (iterative training) → pytest-pinned, no DuckDB
twin; determinism and round-trip invariants are the correctness story.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_pack_spark.operators.cache import pooled_persist
from etl_pack_spark.operators.guards import bounded_count
from etl_pack_spark.operators.tokenize import TOKEN_SPLIT_RE, tokens

# Word-boundary marker appended to each word's final symbol (the
# original word-level BPE convention; keeps merges from crossing words
# and makes detokenization exact).
END = "</w>"

MAX_TRAIN_VOCAB = 5_000_000  # distinct words; ~hundreds of MB at the bound


def word_counts(df: DataFrame, text_col: str) -> DataFrame:
    """Corpus word-frequency table — the one corpus-sized step."""
    return (
        df.select(F.explode(tokens(text_col)).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )


def _to_symbols(word: str) -> tuple[str, ...]:
    return tuple(word[:-1]) + (word[-1] + END,) if word else ()


def train_bpe(
    df: DataFrame,
    text_col: str,
    num_merges: int = 200,
    max_vocab: int = MAX_TRAIN_VOCAB,
) -> list[tuple[str, str]]:
    """Learn ``num_merges`` BPE merges from the corpus. Returns the
    ordered merge list (rank = position). Deterministic: greedy
    highest-count pair per round, ties broken lexicographically."""
    # pooled: the probe and the collect below otherwise run the
    # corpus-sized aggregate twice
    wc = pooled_persist(word_counts(df, text_col))
    if bounded_count(wc, max_vocab) > max_vocab:
        raise ValueError(
            f"corpus has more than {max_vocab} distinct words; raise "
            f"max_vocab or pre-filter (the word-count table must be "
            f"bounded for driver-side merge training)"
        )
    vocab: dict[tuple[str, ...], int] = {
        _to_symbols(r["word"]): r["cnt"] for r in wc.collect() if r["word"]
    }
    merges: list[tuple[str, str]] = []
    for _ in range(num_merges):
        pair_counts: dict[tuple[str, str], int] = {}
        for syms, cnt in vocab.items():
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                pair_counts[p] = pair_counts.get(p, 0) + cnt
        if not pair_counts:
            break
        # max count, lexicographic tie-break → deterministic
        best = min(pair_counts.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append(best)
        merged = best[0] + best[1]
        new_vocab: dict[tuple[str, ...], int] = {}
        for syms, cnt in vocab.items():
            out: list[str] = []
            i = 0
            while i < len(syms):
                if i + 1 < len(syms) and (syms[i], syms[i + 1]) == best:
                    out.append(merged)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + cnt
        vocab = new_vocab
    return merges


def bpe_encode(
    df: DataFrame,
    id_col: str,
    text_col: str,
    merges: list[tuple[str, str]],
) -> DataFrame:
    """Encode documents with a learned merge list: ``(id, pieces,
    n_pieces)`` where pieces applies greedy lowest-rank-first merging
    per word (the standard BPE encode). Arrow-batched mapInPandas; the
    rank table ships once per task via closure broadcast."""
    ranks = {pair: i for i, pair in enumerate(merges)}
    # id keeps the INPUT column's type (string doc ids crash Arrow
    # conversion if "id" is hardcoded long — same fix as pack_sequences)
    id_type = df.schema[id_col].dataType
    schema = T.StructType(
        [
            T.StructField("id", id_type, True),
            T.StructField("pieces", T.ArrayType(T.StringType()), True),
            T.StructField("n_pieces", T.IntegerType(), True),
        ]
    )

    end = END

    # nested so cloudpickle ships everything by value (no module-level
    # references: executors need not import this package)
    def encode_word(word: str) -> list[str]:
        if not word:
            return []
        syms = list(word[:-1]) + [word[-1] + end]
        while len(syms) > 1:
            best_rank, best_i = None, -1
            for i in range(len(syms) - 1):
                r = ranks.get((syms[i], syms[i + 1]))
                if r is not None and (best_rank is None or r < best_rank):
                    best_rank, best_i = r, i
            if best_rank is None:
                break
            syms[best_i : best_i + 2] = [syms[best_i] + syms[best_i + 1]]
        return syms

    split_re = TOKEN_SPLIT_RE

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import re as _re

        for pdf in batches:
            out = []
            for rid, text in zip(pdf["id"], pdf["text"]):
                if text is None:
                    out.append((rid, None, None))
                    continue
                words = [w for w in _re.split(split_re, text.lower()) if w]
                pieces = [p for w in words for p in encode_word(w)]
                out.append((rid, pieces, len(pieces)))
            yield pd.DataFrame(out, columns=["id", "pieces", "n_pieces"])

    return (
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("text"))
        .mapInPandas(run, schema=schema)
    )


def decode_pieces(pieces: list[str]) -> str:
    """Inverse of encode for one document: exact round-trip of the
    TOKEN stream (the lowercase ``[a-z0-9]+`` normalization shared by
    training and encoding; ``</w>`` cannot occur inside a token)."""
    return "".join(pieces).replace(END, " ").strip()
