"""Model-based document scoring plumbing — hashed-feature linear
classifier over bag-of-tokens (the fastText-style quality-classifier
shape every pretraining pipeline runs after the cheap heuristics).

The *plumbing* is the engine's contribution: hash each token into a
weight-table slot, sum the looked-up weights, squash with a sigmoid —
one scan, no shuffle, whole plan a Column expression. Real deployments
broadcast a trained weight vector; here the weight table is a
deterministic pseudo-random stand-in derived from md5 so the DuckDB
oracle can recompute bit-identical scores (the engine-portability
contract every exact catalog entry keeps).

Scale: per-document work is linear in token count, embarrassingly
parallel, zero shuffles before the caller's own aggregation — the same
plan shape at 100 TB.

The logit fold is a higher-order ``F.aggregate`` lambda, which runs
interpreted (CodegenFallback). Measured at 64x sf0.1 (320k docs,
round 4): this form 4.9 s vs explode + groupBy integer-sum 14.1 s
(pays a doc_id shuffle) vs an Arrow pandas-UDF kernel 12.4 s (pays
per-token hashlib) vs the DuckDB oracle 25.5 s — the per-token md5
dominates all forms, the interpreted fold is NOT the bottleneck, and
the zero-shuffle lambda plan wins by 2.5-2.9x. Kept deliberately; the
repo's CodegenFallback rule (BASELINE.md) applies where the lambda IS
the hot loop (vector math), not here.

Round-10 kernel fix (BASELINE.md, round-10 kernel race): the weight lambda
referenced ``F.md5(tok)`` FOUR times, and interpreted higher-order
lambdas do not common-subexpression-eliminate — md5 ran 4× per token.
Chaining two transforms (tokens → md5 array → weight array) binds the
hash once per token with IDENTICAL doubles (oracle untouched):
8.04 → 5.06 s at the 64× replica, 1.35× vs the DuckDB oracle's 3.74 s.
Counter-measurement of record: pmod(xxhash64(tok), 2001) runs 2.20 s
(fully codegen'd hash), but DuckDB has no xxhash64 — shipping it would
demote the entry to rows-only, not worth the 2.3× on a sub-2× entry.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..functions.strings import tokens

#: weight-table modulus: token -> integer in [0, _SLOTS) -> centered weight
_SLOTS = 2001


def _hash_weight(m: Column) -> Column:
    """Deterministic pseudo-weight in [-1, 1] from one md5 hex digest.

    Mixes the first four hex characters with a base-31 fold —
    ``ascii``/``substr``/``md5`` exist with identical semantics in
    Spark and DuckDB, so the oracle reproduces the exact doubles.
    Takes the DIGEST, not the token: the caller binds md5 once per
    token (see the round-10 kernel note in the module docstring).
    """

    def a(i: int) -> Column:
        return F.ascii(F.substring(m, i, 1)).cast("long")

    h = ((a(1) * 31 + a(2)) * 31 + a(3)) * 31 + a(4)
    return (h % _SLOTS - F.lit(1000)) / F.lit(1000.0)


def trained_quality_weights(vocab_slots: int = 4096, seed: int = 42) -> list[float]:
    """Stand-in for a LOADED classifier checkpoint: a seeded ~N(0, 0.3)
    weight vector over ``vocab_slots`` hashed-feature slots. No training
    corpus ships in this container, so the vector is synthesized
    deterministically — but the loading path a real model takes
    (np.load → list → one array literal riding the plan broadcast) is
    byte-for-byte this one, and 4096 float64 slots ≈ 32 KB scales to a
    fastText-sized 2^20 table (~8 MB) without changing the plan."""
    import numpy as np

    return [float(w) for w in np.random.RandomState(seed).normal(0.0, 0.3, vocab_slots)]


def hashed_linear_score(
    text_col: Column | str,
    weights: list[float],
    slot_fn=None,
) -> Column:
    """PRODUCTION kernel of the quality classifier: token → weight-table
    slot → ``element_at`` lookup in ONE broadcast array literal → summed
    logit / sqrt(n) → sigmoid. Same zero-shuffle single-scan plan as
    :func:`quality_classifier_score`; the differences are (a) the weight
    VALUES come from a real (loaded) vector instead of the md5 formula,
    and (b) the default slot hash is ``pmod(xxhash64(token), V)`` — the
    round-10 counter-measurement kernel that measured 2.20 s vs the md5
    form's 5.06 s at 64× (fully codegen'd hash), rejected there only
    because DuckDB cannot replay xxhash64. This form is therefore
    rows-only in the catalog; its correctness is pinned differentially:
    installing the md5 slot function and the md5 twin's formula weights
    reproduces ``llm_quality_classifier``'s scores bit-for-bit
    (tests/test_llm.py), proving the lookup kernel is a drop-in for the
    arithmetic stand-in.

    ``slot_fn`` maps a token Column to a LONG slot in
    ``[0, len(weights))``.
    """
    vocab = len(weights)
    if slot_fn is None:
        def slot_fn(tok: Column) -> Column:
            return F.pmod(F.xxhash64(tok), F.lit(vocab))

    warr = F.lit(weights)  # ONE ArrayData literal — not |V| expressions
    t = tokens(text_col)
    n = F.size(t)
    # slots → looked-up weights as chained transforms (the round-10
    # md5-once discipline: interpreted lambdas do not CSE)
    logit_sum = F.aggregate(
        F.transform(
            F.transform(t, slot_fn),
            lambda s: F.element_at(warr, s.cast("int") + F.lit(1)),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    z = F.when(n > 0, logit_sum / F.sqrt(n.cast("double"))).otherwise(F.lit(0.0))
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-z))


def quality_classifier_score(text_col: Column | str) -> Column:
    """Linear-classifier quality score in (0, 1).

    ``sigmoid( sum(w[h(token)]) / sqrt(n_tokens) )`` — the 1/sqrt(n)
    scaling keeps long documents from saturating the logit, the
    standard bag-of-features normalization. Empty documents score 0.5
    (zero logit).
    """
    t = tokens(text_col)
    n = F.size(t)
    # tokens → digests → weights as CHAINED transforms so md5 is
    # evaluated once per token (interpreted lambdas don't CSE)
    logit_sum = F.aggregate(
        F.transform(F.transform(t, F.md5), _hash_weight),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    z = F.when(n > 0, logit_sum / F.sqrt(n.cast("double"))).otherwise(F.lit(0.0))
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
