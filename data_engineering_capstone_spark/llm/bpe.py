"""Distributed BPE merge learning (tokenizer training; BASELINE.json
extension surface — the step after ``llm_token_frequency``'s seed
vocabulary).

Standard Sennrich-style byte-pair encoding over the word-frequency
table: words become symbol sequences (characters, last one carrying the
``</w>`` end-of-word marker), and each round merges the corpus-wide
most frequent adjacent symbol pair, ties broken lexicographically so
the learned merge table is deterministic under any partitioning.

Scale notes (100 TB): the iteration state is the DISTINCT-WORD table
(vocabulary-sized, millions of rows at web scale — not the corpus), so
each round is one explode → hash-aggregate over pairs plus a map over
the vocab; the corpus itself is touched exactly once to build word
frequencies. Lineage is truncated per round with ``localCheckpoint``
(same discipline as llm/clustering.py — iterative plans otherwise grow
unboundedly and re-trigger CacheManager canonicalization).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.strings import tokens
from ..sources.readers import local_frame

END_MARK = "</w>"


def word_symbols(df: DataFrame, text_col: str) -> DataFrame:
    """(word, freq, syms): corpus word frequencies with each word as a
    character-symbol array, last symbol carrying the end-of-word marker.
    """
    vocab = (
        df.select(F.explode(tokens(text_col)).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    # between-char split: 'ab' -> [a, b]. Spark's split keeps trailing
    # empty strings (limit -1 semantics) — drop them or the end marker
    # becomes a standalone symbol.
    chars = F.filter(F.split(F.col("w"), r"(?!^)"), lambda c: c != "")
    syms = F.when(F.size(chars) == 1, F.array(F.concat(F.col("w"), F.lit(END_MARK)))).otherwise(
        F.concat(
            F.slice(chars, 1, F.size(chars) - 1),
            F.array(F.concat(F.element_at(chars, -1), F.lit(END_MARK))),
        )
    )
    return vocab.withColumn("syms", syms)


def _pair_counts(sym: DataFrame) -> DataFrame:
    """Adjacent-symbol pair frequencies, weighted by word frequency."""
    n = F.size("syms")
    pairs = F.zip_with(
        F.slice("syms", 1, n - 1),
        F.slice(F.col("syms"), 2, n - 1),
        lambda a, b: F.struct(a.alias("l"), b.alias("r")),
    )
    return (
        sym.filter(n >= 2)
        .select("freq", F.explode(pairs).alias("p"))
        .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
        .agg(F.sum("freq").alias("pair_freq"))
    )


def learn_bpe_merges(df: DataFrame, text_col: str, num_merges: int = 10) -> DataFrame:
    """Learn the first ``num_merges`` BPE merges from the corpus.

    Returns (rank, left, right, pair_freq) — the merge table a tokenizer
    ships. Each round: pair-count aggregate over the vocab table, one
    deterministic argmax (freq desc, then left/right ascending), and an
    Arrow-batched merge application. The argmax is a 1-row collect —
    the only driver involvement, O(num_merges) tiny actions.
    """
    from pyspark.sql.functions import pandas_udf

    spark = df.sparkSession
    sym = word_symbols(df, text_col).localCheckpoint()
    merges: list[tuple[int, str, str, int]] = []

    for rank in range(num_merges):
        top = (
            _pair_counts(sym)
            .orderBy(F.col("pair_freq").desc(), "l", "r")
            .limit(1)
            .collect()
        )
        if not top:
            break
        left, right, freq = top[0]["l"], top[0]["r"], int(top[0]["pair_freq"])
        merges.append((rank, left, right, freq))

        def make_apply(_l: str, _r: str):
            @pandas_udf("array<string>")
            def apply_merge(s: pd.Series) -> pd.Series:
                def m(lst):
                    out, i = [], 0
                    while i < len(lst):
                        if i + 1 < len(lst) and lst[i] == _l and lst[i + 1] == _r:
                            out.append(_l + _r)
                            i += 2
                        else:
                            out.append(lst[i])
                            i += 1
                    return out

                return s.map(m)

            return apply_merge

        sym = sym.withColumn("syms", make_apply(left, right)("syms")).localCheckpoint()

    return local_frame(
        spark, merges, "rank int, left string, right string, pair_freq bigint"
    )


def reference_bpe(word_freqs: dict[str, int], num_merges: int) -> list[tuple[str, str, int]]:
    """Sequential reference implementation (test oracle): identical
    semantics in plain Python for differential testing."""
    vocab = {}
    for w, f in word_freqs.items():
        syms = list(w[:-1]) + [w[-1] + END_MARK]
        vocab[tuple(syms)] = vocab.get(tuple(syms), 0) + f
    out: list[tuple[str, str, int]] = []
    for _ in range(num_merges):
        counts: dict[tuple[str, str], int] = {}
        for syms, f in vocab.items():
            for a, b in zip(syms, syms[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + f
        if not counts:
            break
        (left, right), freq = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        out.append((left, right, freq))
        new_vocab: dict[tuple[str, ...], int] = {}
        for syms, f in vocab.items():
            merged, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == left and syms[i + 1] == right:
                    merged.append(left + right)
                    i += 2
                else:
                    merged.append(syms[i])
                    i += 1
            t = tuple(merged)
            new_vocab[t] = new_vocab.get(t, 0) + f
        vocab = new_vocab
    return out


def bpe_encode_lengths(
    df: DataFrame, text_col: str, id_col: str, merges: list[tuple[str, str]]
) -> DataFrame:
    """Apply a learned merge table: per-document BPE token counts.

    The scale-shaped encode: each DISTINCT word is segmented once
    (vocabulary-sized work — the merge table rides in the UDF closure,
    broadcast with the task), then joined back to the exploded corpus
    and re-aggregated per document. Returns
    ``(id, n_words, n_bpe_tokens)``.
    """
    from pyspark.sql.functions import pandas_udf

    ordered = list(merges)

    @pandas_udf("int")
    def encode_len(words: pd.Series) -> pd.Series:
        def enc(w: str) -> int:
            syms = list(w[:-1]) + [w[-1] + END_MARK]
            for left, right in ordered:
                out, i = [], 0
                while i < len(syms):
                    if i + 1 < len(syms) and syms[i] == left and syms[i + 1] == right:
                        out.append(left + right)
                        i += 2
                    else:
                        out.append(syms[i])
                        i += 1
                syms = out
            return len(syms)

        return words.map(enc)

    doc_words = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("w"))
    vocab = doc_words.select("w").distinct().withColumn("n_sym", encode_len("w"))
    return (
        doc_words.join(F.broadcast(vocab), "w")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_sym").alias("n_bpe_tokens"),
        )
        .select(
            F.col(id_col),
            F.col("n_words").cast("bigint").alias("n_words"),
            F.col("n_bpe_tokens").cast("bigint").alias("n_bpe_tokens"),
        )
    )
