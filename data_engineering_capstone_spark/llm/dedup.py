"""Document deduplication family (SURVEY.md §2 C-llm-dedup; BASELINE.json
extension surface): exact, MinHash-LSH, SimHash, n-gram Jaccard.

Column expressions over the JVM (higher-order array functions,
``xxhash64``) everywhere except the MinHash signature derivation, which
is one Arrow-batched vectorized numpy kernel (wraparound universal
hashing isn't expressible under ANSI SQL); everything else stays inside
whole-stage codegen and the whole family scales with executors.

Scale notes (100 TB):
* exact dedup groups on a 128-bit digest of normalized text — the
  shuffle moves 16-byte keys, not document bodies.
* MinHash-LSH is the linear-time near-dup path: signature computation is
  a map; candidate generation shuffles (band_idx, band_hash) pairs; only
  candidate pairs are verified. Banding bounds bucket sizes, and AQE
  skew-split handles pathological clusters.
* n-gram Jaccard uses the same candidate/verify split: an inverted
  index over shingles proposes pairs, exact verification joins back the
  distinct-shingle arrays — never an all-pairs product.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.strings import ngrams, tokens


def normalize_text(col: Column | str) -> Column:
    """Lowercase + whitespace-collapse: the canonical form for hashing."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))


def fingerprint_md5(col: Column | str) -> Column:
    """128-bit content fingerprint of normalized text (engine-portable)."""
    return F.md5(normalize_text(col))


def nfc_text(col: Column | str) -> Column:
    """Unicode canonical composition (NFC), Arrow-batched.

    Exact dedup hashes BYTES, but Unicode admits many byte encodings of
    the same rendered text (e.g. precomposed U+00E9 'é' vs 'e' +
    combining U+0301): without canonicalization, canonically-equivalent
    duplicates hash apart and survive dedup. Run this before
    :func:`fingerprint_md5` on any corpus that ever touched a non-ASCII
    source. Spark has no built-in normalizer, so this is the one
    justified Python hop in the dedup path — Arrow-batched, linear,
    shuffle-free; output is differential-checked byte-for-byte against
    DuckDB's utf8proc ``nfc_normalize`` via md5 digests
    (llm_unicode_nfc) and pinned by composed/decomposed dedup tests.
    (The pandas_udf is built lazily: the decorator parses its DDL return
    type against the ACTIVE session, so a module-level definition would
    break import order — same rule as every other Arrow kernel here.)
    """

    @F.pandas_udf("string")
    def _nfc(s: pd.Series) -> pd.Series:
        import unicodedata

        # str.isascii() is a C-speed flag check and ASCII is NFC-invariant:
        # the common case (clean English web text) skips normalize entirely
        return s.map(
            lambda x: x
            if x is None or x.isascii()
            else unicodedata.normalize("NFC", x)
        )

    return _nfc(F.col(col) if isinstance(col, str) else col)


def shingle_set(col: Column | str, n: int = 2) -> Column:
    """Distinct word n-gram shingles (array<string>)."""
    return F.array_distinct(ngrams(col, n))


def exact_dedup(
    df: DataFrame, text_col: str, id_col: str, nfc: bool = False
) -> DataFrame:
    """Exact dedup: keep the lowest-id row per normalized-text digest.

    ``nfc=True`` applies :func:`nfc_text` (unicode canonical
    composition) before fingerprinting, so canonically-equivalent
    byte-variants (precomposed vs combining accents) collapse too. Off
    by default because it is an Arrow hop over every byte of the corpus
    — pay it when the corpus ever touched a non-ASCII source, skip it
    on provably-ASCII data (the fixture entry measures the ASCII path;
    the flag is one argument away and pinned by test).

    (reference: notebook cell-7 'duplicate data' — scaled from
    dropDuplicates to digest-groupBy, SURVEY.md §2 B2/C-llm-dedup.)
    """
    src = F.col(text_col) if not nfc else nfc_text(text_col)
    fp = df.withColumn("__fp", F.md5(normalize_text(src)))
    winners = fp.groupBy("__fp").agg(F.min(id_col).alias(id_col))
    return fp.join(winners, [id_col, "__fp"], "left_semi").drop("__fp")


def minhash_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 64,
    shingle_n: int = 2,
    max_shingles_per_doc: int = 1 << 16,
) -> DataFrame:
    """(id, signature) via one JVM base hash + numpy affine derivation.

    Each shingle is hashed ONCE JVM-side (``xxhash64``, codegen); the
    ``num_hashes`` family members are the universal-hash derivations
    h_i = a_i·h + b_i over uint64 wraparound, computed as one vectorized
    numpy broadcast per document inside an Arrow-batched pandas UDF and
    reduced with a column-min. Measured 2.5× faster than the previous
    64-way ``min(xxhash64(s, i))`` aggregate at sf0.1 (1.4 s vs 3.4 s):
    the JVM plan paid 64 hash evaluations per shingle plus 64 aggregate
    buffers; here the shuffle carries one long per shingle and the
    64-way work is two SIMD ops. (a_i·h + b_i needs wraparound multiply
    — numpy uint64 gives it; ANSI SQL, kept on for oracle-faithful
    arithmetic, forbids it JVM-side.) Seeds are fixed → deterministic.
    """
    from pyspark.sql.functions import pandas_udf

    rng = np.random.RandomState(0x5EED)
    a_coef = rng.randint(1, 2**63, size=num_hashes, dtype=np.int64).astype(
        np.uint64
    ) | np.uint64(1)  # odd multipliers are invertible mod 2^64
    b_coef = rng.randint(0, 2**63, size=num_hashes, dtype=np.int64).astype(np.uint64)
    empty_sig = np.full(num_hashes, np.iinfo(np.int64).max, dtype=np.int64)

    @pandas_udf("array<long>")
    def _sig(hs: pd.Series) -> pd.Series:
        out = []
        for h in hs:
            if len(h) == 0:
                out.append(empty_sig)
                continue
            hv = np.asarray(h, dtype=np.int64).astype(np.uint64)
            m = (a_coef[None, :] * hv[:, None] + b_coef[None, :]).min(axis=0)
            out.append(m.astype(np.int64))
        return pd.Series(out)

    # CPU-bound per-row stage: byte-based file splitting often yields a
    # single scan partition for a small-but-expensive corpus slice, so
    # fan out to the cluster's parallelism before hashing.
    par = df.sparkSession.sparkContext.defaultParallelism
    sh = df.repartition(par).select(
        F.col(id_col), F.explode(shingle_set(text_col, shingle_n)).alias("s")
    )
    # Per-doc memory bound: the collect_list buffer (and the Arrow row it
    # becomes) holds one long per distinct shingle, so a pathological
    # multi-GB document would concentrate its whole shingle set in one
    # aggregation buffer. Cap at max_shingles_per_doc by keeping the
    # bottom-k raw hashes (array_sort + slice): a deterministic uniform
    # subsample of the shingle set (xxhash64 is uniform), so capped docs
    # get an unbiased minhash over a size-k sample while docs under the
    # cap — the entire normal corpus — are byte-identical to the uncapped
    # output. ~64 KiB-longs ≈ 512 KiB per worst-case row.
    base = sh.groupBy(id_col).agg(
        F.slice(
            F.array_sort(F.collect_set(F.xxhash64("s"))), 1, max_shingles_per_doc
        ).alias("__hs")
    )
    return base.select(F.col(id_col), _sig("__hs").alias("signature"))


def signature_similarity(sig_a: Column, sig_b: Column) -> Column:
    """Estimated Jaccard = fraction of agreeing signature components."""
    agree = F.size(F.filter(F.zip_with(sig_a, sig_b, lambda x, y: x == y), lambda b: b))
    return agree / F.size(sig_a)


def _static_band_array(sig_col: str, num_bands: int, num_hashes: int) -> Column:
    """The per-band bucket hashes of a signature as an array Column —
    ``F.hash`` over fixed ``element_at`` positions (whole-stage codegen,
    no array allocation). Shared by the in-session banding
    (:func:`lsh_candidate_pairs`) and the PERSISTED index
    (:func:`minhash_band_index`) so an index written yesterday buckets
    identically to a batch banded today."""
    # an indivisible signature would silently drop the trailing
    # num_hashes % num_bands lanes (and num_hashes < num_bands would
    # build F.hash() with zero args — an opaque plan-time error);
    # the streaming twin's band_hashes assumes divisibility too
    if num_hashes % num_bands != 0:
        raise ValueError(
            f"num_hashes ({num_hashes}) must be a multiple of "
            f"num_bands ({num_bands}): every signature lane must land "
            "in exactly one band"
        )
    rpb = num_hashes // num_bands
    return F.array(
        *[
            F.hash(
                *[
                    F.element_at(F.col(sig_col), b * rpb + j + 1)
                    for j in range(rpb)
                ]
            )
            for b in range(num_bands)
        ]
    )


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str,
    sig_col: str = "signature",
    num_bands: int = 16,
    *,
    num_hashes: int,
) -> DataFrame:
    """LSH banding: docs agreeing on any band become a candidate pair.

    Emits distinct (id_a, id_b) with id_a < id_b. The only shuffle keys
    are (band_idx, band_hash) — bounded-size buckets by construction.

    ``num_hashes`` is the signature length: each band hashes fixed
    ``element_at`` positions (:func:`_static_band_array` — whole-stage
    codegen, no array allocation).
    """
    bands = _static_band_array(sig_col, num_bands, num_hashes)
    banded = df.select(
        F.col(id_col),
        F.posexplode(bands).alias("band_idx", "band_hash"),
    )
    # NOTE (round 4): the postings-list fusion that won for
    # ngram_jaccard_pairs / duplicate_spans was tried here and measured
    # SLOWER (29.6 s vs 24.8 s end-to-end at 64× sf0.1) — banding's
    # buckets are small and uniform, so the sort-merge self-join is
    # already near-optimal while collect_list pays aggregation-buffer
    # overhead per bucket. Join form kept deliberately.
    a = banded.select(F.col(id_col).alias("id_a"), "band_idx", "band_hash")
    b = banded.select(F.col(id_col).alias("id_b"), "band_idx", "band_hash")
    return (
        a.join(b, ["band_idx", "band_hash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def minhash_near_dups(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.5,
    num_hashes: int = 64,
    num_bands: int = 16,
    shingle_n: int = 2,
    collapse_exact: bool = False,
) -> DataFrame:
    """MinHash-LSH near-duplicate pairs with estimated Jaccard >= threshold.

    shingle → minhash → band → bucket-join → estimate, the standard
    linear-scan near-dup pipeline for LLM corpus cleaning.

    ``collapse_exact`` is the TEMPLATE-SPAM guard (the mega-bucket
    failure mode): k byte-identical copies of one page share every band
    hash, so each of the 16 band buckets holds all k copies and the
    bucket self-join emits ~16·k²/2 candidate rows — measured 817M
    candidates for one 10k-copy template (SCALE.md §12). Since identical
    docs ARE duplicates by definition, no signature estimate is needed
    to pair them: with the flag on, the
    corpus is first collapsed to one representative per distinct
    normalized text (md5 fingerprint groupBy — the exact_dedup plan,
    linear, bodies never shuffle), LSH runs over representatives only,
    and the returned pairs carry ``n_a``/``n_b`` group sizes so callers
    can expand cluster membership (every member of a group is an exact
    dup of its representative and inherits its near-dup edges). Exact
    groups of size > 1 additionally emit a SELF-row
    (``id_a = id_b = rep``, ``est_jaccard = 1.0``) so a group whose
    representative gains no near-dup edge is still enumerable from the
    output (its k-1 members are duplicates even with no near neighbor).
    The mega-bucket collapses to ONE row per band. Output keeps the
    (id_a, id_b, est_jaccard) columns; the two size columns are
    appended only in this mode so the default stays oracle-compatible.
    """
    if collapse_exact:
        fp = df.withColumn("__fp", fingerprint_md5(text_col))
        groups = fp.groupBy("__fp").agg(
            F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("__n_members")
        )
        reps = fp.join(groups, [id_col, "__fp"], "left_semi").drop("__fp")
        pairs = minhash_near_dups(
            reps, text_col, id_col, threshold, num_hashes, num_bands, shingle_n
        )
        sizes = groups.select(id_col, "__n_members")
        edges = (
            pairs.join(
                sizes.select(
                    F.col(id_col).alias("id_a"), F.col("__n_members").alias("n_a")
                ),
                "id_a",
            )
            .join(
                sizes.select(
                    F.col(id_col).alias("id_b"), F.col("__n_members").alias("n_b")
                ),
                "id_b",
            )
            .select("id_a", "id_b", "est_jaccard", "n_a", "n_b")
        )
        # exact-dup groups whose representative gains no near-dup edge
        # would otherwise vanish from the output entirely (their k-1
        # members unrecoverable despite the docstring's membership
        # promise): emit a self-row (id_a = id_b = rep, jaccard 1.0)
        # per multi-member group so every group is enumerable from the
        # returned frame alone. Groups of size 1 are not duplicates of
        # anything and stay absent.
        self_rows = sizes.where(F.col("__n_members") > 1).select(
            F.col(id_col).alias("id_a"),
            F.col(id_col).alias("id_b"),
            F.lit(1.0).alias("est_jaccard"),
            F.col("__n_members").alias("n_a"),
            F.col("__n_members").alias("n_b"),
        )
        return edges.unionByName(self_rows)
    # Materialize signatures once (num_hashes longs per doc — tiny) and
    # TRUNCATE the lineage: localCheckpoint, not cache. A cached plan
    # stays registered with the CacheManager, which then canonicalizes
    # every later query's plan against this 64-column hash-agg tree —
    # measured as a 3-6x slowdown on unrelated queries in the same
    # session. (On a multi-node cluster prefer reliable checkpointing or
    # an explicit parquet materialization for fault tolerance.)
    sigs = minhash_signatures(df, text_col, id_col, num_hashes, shingle_n).localCheckpoint(eager=True)
    pairs = lsh_candidate_pairs(sigs, id_col, "signature", num_bands, num_hashes=num_hashes)
    sa = sigs.select(F.col(id_col).alias("id_a"), F.col("signature").alias("sig_a"))
    sb = sigs.select(F.col(id_col).alias("id_b"), F.col("signature").alias("sig_b"))
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("est_jaccard", signature_similarity(F.col("sig_a"), F.col("sig_b")))
        .filter(F.col("est_jaccard") >= threshold)
        .select("id_a", "id_b", "est_jaccard")
    )


def minhash_band_index(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 64,
    num_bands: int = 16,
    shingle_n: int = 2,
) -> tuple[DataFrame, DataFrame]:
    """The PERSISTABLE LSH index of a corpus: ``(index, sigs)``.

    ``index`` is ``(id, band_idx, band_hash)`` — one row per document
    per band, the equi-join key table; ``sigs`` is ``(id, signature)``
    — the verify-side lookup. Stored separately so the narrow band
    table (3 ints/row) is what the candidate join shuffles, and the
    wide signature array is joined only for surviving candidates. Write
    both to parquet and tomorrow's shard can be near-dup-checked
    against today's corpus WITHOUT recomputing it
    (:func:`minhash_delta_pairs`) — the batch twin of
    streaming/dedup.py's bucket state (round-5 verdict task 8).
    """
    sigs = minhash_signatures(df, text_col, id_col, num_hashes, shingle_n)
    index = sigs.select(
        F.col(id_col),
        F.posexplode(
            _static_band_array("signature", num_bands, num_hashes)
        ).alias("band_idx", "band_hash"),
    )
    return index, sigs.select(F.col(id_col), "signature")


def minhash_delta_pairs(
    new_df: DataFrame,
    text_col: str,
    id_col: str,
    index: DataFrame,
    sigs: DataFrame,
    threshold: float = 0.5,
    num_hashes: int = 64,
    num_bands: int = 16,
    shingle_n: int = 2,
) -> DataFrame:
    """Near-dup pairs of a NEW batch against an EXISTING persisted index
    — the incremental-crawl pattern: dedup today's shard against the
    corpus without recomputing the corpus.

    Emits every near-dup pair that TOUCHES a new document, as
    ``(id_a, id_b, est_jaccard)`` with ``id_a < id_b``:

    * new x corpus: the new batch's band hashes equi-join the persisted
      ``index`` on ``(band_idx, band_hash)``; candidates verify against
      the persisted ``sigs`` (estimated Jaccard over signature lanes);
    * new x new: in-batch LSH over the new signatures (same banding).

    Equals the new-doc-touching subset of a full
    :func:`minhash_near_dups` recompute over corpus+batch — pinned by
    tests/test_llm.py. Corpus-side work is one equi-join against the
    index; nothing corpus-sized is rehashed or reshuffled beyond the
    matching buckets.
    """
    new_sigs = minhash_signatures(
        new_df, text_col, id_col, num_hashes, shingle_n
    ).localCheckpoint(eager=True)  # reused 3x (see minhash_near_dups note)
    new_index = new_sigs.select(
        F.col(id_col),
        F.posexplode(
            _static_band_array("signature", num_bands, num_hashes)
        ).alias("band_idx", "band_hash"),
    )

    cand_cross = (
        new_index.select(
            F.col(id_col).alias("__new_id"), "band_idx", "band_hash"
        )
        .join(
            index.select(
                F.col(id_col).alias("__old_id"), "band_idx", "band_hash"
            ),
            ["band_idx", "band_hash"],
        )
        .filter(F.col("__new_id") != F.col("__old_id"))
        .select("__new_id", "__old_id")
        .distinct()
    )
    cross = (
        cand_cross.join(
            new_sigs.select(
                F.col(id_col).alias("__new_id"), F.col("signature").alias("sig_n")
            ),
            "__new_id",
        )
        .join(
            sigs.select(
                F.col(id_col).alias("__old_id"), F.col("signature").alias("sig_o")
            ),
            "__old_id",
        )
        .withColumn("est_jaccard", signature_similarity(F.col("sig_n"), F.col("sig_o")))
        .filter(F.col("est_jaccard") >= threshold)
        .select(
            F.least("__new_id", "__old_id").alias("id_a"),
            F.greatest("__new_id", "__old_id").alias("id_b"),
            "est_jaccard",
        )
    )

    within_cand = lsh_candidate_pairs(new_sigs, id_col, "signature", num_bands, num_hashes=num_hashes)
    sa = new_sigs.select(F.col(id_col).alias("id_a"), F.col("signature").alias("sig_a"))
    sb = new_sigs.select(F.col(id_col).alias("id_b"), F.col("signature").alias("sig_b"))
    within = (
        within_cand.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("est_jaccard", signature_similarity(F.col("sig_a"), F.col("sig_b")))
        .filter(F.col("est_jaccard") >= threshold)
        .select("id_a", "id_b", "est_jaccard")
    )
    return cross.unionByName(within).distinct()


def _shingle_overlaps(
    df: DataFrame, text_col: str, id_col: str, shingle_n: int, max_doc_freq: int
) -> DataFrame:
    """``(id_a, id_b, n_common, n_a, n_b)`` for every doc pair sharing a
    shingle that occurs in at most ``max_doc_freq`` docs: ``n_common``
    such shingles in common, ``n_a``/``n_b`` each doc's count of them.

    The index is built as POSTINGS LISTS — one groupBy(s) shuffle
    producing (shingle, doc-array), the cap a size filter on the array,
    pairs generated in-row by a double explode (bounded at cap²/2 per
    shingle), and the per-doc sizes derived from the same postings table
    (the exchange is reused across all three consumers — ReusedExchange,
    one shuffle of the index instead of three). This replaced a
    localCheckpoint + anti-join + a⋈b self-join pipeline; measured at
    16× sf0.1 (80k docs): 5.9 s → 2.9 s (with the round-4 zip_with
    ngrams rewrite, functions/strings.py, contributing most of the drop).
    The cap is mandatory: an unbounded postings array for a stop-shingle
    would concentrate a hot key's whole posting list in one aggregation
    buffer, and hot shingles can't discriminate anyway.
    """
    par = df.sparkSession.sparkContext.defaultParallelism
    sh = df.repartition(par).select(
        F.col(id_col), F.explode(shingle_set(text_col, shingle_n)).alias("s")
    )
    # two round-5 shuffle cuts, measured at 64x sf0.1 (320k docs,
    # 16M shingles):
    # 1. the index key is a 128-bit hash PAIR of the shingle
    #    (distinct literal folded first — independent lanes, see
    #    llm/spans.py), not the string: grouping/exchanging two
    #    longs beats 13-char strings by ~17% end-to-end; grouping
    #    by the hash pair IS grouping by the shingle at ~1e-18
    #    collision odds, so the oracle's string grouping matches.
    # 2. explicit fan-out after the cap: the capped postings table
    #    is byte-small, so AQE coalesces the shuffle output to ~1
    #    partition — but the downstream double-explode work is
    #    per-PAIR (bounded by cap^2/2 per shingle), which AQE's
    #    byte heuristic can't see (same fix as
    #    llm_fuzzy_prefix_pairs: 19 s single-core -> ~1 s).
    postings = (
        sh.select(
            id_col,
            F.xxhash64(F.lit(0), "s").alias("h1"),
            F.xxhash64(F.lit(1), "s").alias("h2"),
        )
        .groupBy("h1", "h2")
        .agg(F.collect_set(id_col).alias("ds"))
        .filter(F.size("ds") <= max_doc_freq)
        .repartition(par)
    )
    sizes = (
        postings.select(F.explode("ds").alias(id_col))
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_sh"))
    )
    common = (
        postings.select(F.explode("ds").alias("id_a"), "ds")
        .select("id_a", F.explode("ds").alias("id_b"))
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    na = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    nb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    return common.join(na, "id_a").join(nb, "id_b")


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.2,
    shingle_n: int = 2,
    max_doc_freq: int = 100,
) -> DataFrame:
    """EXACT n-gram Jaccard pairs >= threshold via candidate + verify.

    Candidates come from an inverted shingle index that drops shingles
    hotter than ``max_doc_freq`` (they can't discriminate and they drive
    join skew); each candidate's exact Jaccard is
    |A∩B| / (|A|+|B|-|A∩B|) counted from that index
    (:func:`_shingle_overlaps`). Never builds an all-pairs product.
    """
    return (
        _shingle_overlaps(df, text_col, id_col, shingle_n, max_doc_freq)
        .withColumn(
            "jaccard",
            F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def ngram_containment_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.6,
    shingle_n: int = 2,
    max_doc_freq: int = 100,
) -> DataFrame:
    """ASYMMETRIC near-dup: containment of the smaller shingle set in
    the larger, ``|A∩B| / min(|A|, |B|)``.

    Jaccard misses quote/subset duplication: a 50-token notice embedded
    verbatim in a 5,000-token page has Jaccard ≈ 0.01 but containment
    1.0 — this is the detector for boilerplate inclusions, quoted
    documents, and page-wraps-snippet spam that symmetric similarity
    can't see. Same capped postings index as :func:`ngram_jaccard_pairs`
    (:func:`_shingle_overlaps`: hot shingles are exactly the boilerplate
    being hunted, and they drive the join skew); emits
    ``(id_a, id_b, n_common, containment)``.
    """
    return (
        _shingle_overlaps(df, text_col, id_col, shingle_n, max_doc_freq)
        .withColumn(
            "containment",
            F.col("n_common") / F.least(F.col("n_a"), F.col("n_b")),
        )
        .filter(F.col("containment") >= threshold)
        .select("id_a", "id_b", "n_common", "containment")
    )


def simhash64(tokens_col: Column) -> Column:
    """64-bit SimHash of a token array, fully JVM-side.

    Per token: xxhash64 → ±1 per bit position; sum per position over the
    document; sign of each sum becomes the output bit. Near-duplicate
    docs land within a small Hamming distance.
    """
    # acc[i] += bit_i(hash(t)) ? 1 : -1, for i in 0..63
    sums = F.aggregate(
        tokens_col,
        F.array_repeat(F.lit(0).cast("long"), 64),
        lambda acc, t: F.zip_with(
            acc,
            _hash_bit_signs(F.xxhash64(t)),
            lambda a, b: a + b,
        ),
    )
    # fold sign bits into one BIGINT: OR of (1<<i) where sums[i] > 0.
    # shiftleft's PySpark wrapper only takes a static shift; the SQL
    # function accepts a column — route through call_function.
    return F.aggregate(
        F.zip_with(
            sums,
            F.sequence(F.lit(0), F.lit(63)),
            lambda v, i: F.when(
                v > 0, F.call_function("shiftleft", F.lit(1).cast("long"), i)
            ).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc.bitwiseOR(x),
    )


def _hash_bit_signs(h: Column) -> Column:
    """array<long> of ±1 per bit of a 64-bit hash."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(63)),
        lambda i: F.when(
            F.call_function("shiftrightunsigned", h, i).bitwiseAND(F.lit(1).cast("long")) == 1,
            F.lit(1).cast("long"),
        ).otherwise(F.lit(-1).cast("long")),
    )


def simhash_signatures(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, sh) SimHash table via the scalable explode/aggregate plan.

    Per exploded token one xxhash64; per bit position a SUM aggregate of
    ±1 (static shifts, whole-stage codegen, map-side partial sums — the
    shuffle carries 64 longs per doc). The Column-expression
    :func:`simhash64` is the ad-hoc form; this is the corpus-scale one.
    """
    par = df.sparkSession.sparkContext.defaultParallelism
    tok = df.repartition(par).select(F.col(id_col), F.explode(tokens(text_col)).alias("t"))
    h = F.xxhash64("t")
    one = F.lit(1).cast("long")
    sums = tok.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(F.shiftrightunsigned(h, i).bitwiseAND(one) == 1, one).otherwise(F.lit(-1).cast("long"))
            ).alias(f"__b{i}")
            for i in range(64)
        ]
    )
    sh = None
    for i in range(64):
        bit = F.when(F.col(f"__b{i}") > 0, F.lit(1 << i if i < 63 else -(1 << 63)).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        sh = bit if sh is None else sh.bitwiseOR(bit)
    return sums.select(F.col(id_col), sh.alias("sh"))


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def simhash_near_dups(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int | None = None,
    num_blocks: int = 8,
) -> DataFrame:
    """SimHash near-dup pairs within ``max_hamming`` bits.

    Candidate generation by block permutation: split the 64-bit hash into
    ``num_blocks`` byte blocks; by pigeonhole, any pair within
    ``num_blocks-1`` bit flips agrees on at least one block. Join on
    (block_idx, block_value), verify with exact Hamming distance.

    ``max_hamming`` defaults to ``num_blocks - 1``, the largest radius
    the blocking is complete for; larger values are rejected because
    pairs beyond the pigeonhole bound can silently be missed.
    """
    if max_hamming is None:
        max_hamming = num_blocks - 1
    if max_hamming > num_blocks - 1:
        raise ValueError(
            f"max_hamming={max_hamming} exceeds the pigeonhole completeness "
            f"bound num_blocks-1={num_blocks - 1}; raise num_blocks instead"
        )
    bits_per = 64 // num_blocks
    # Materialize the (tiny: one long per doc) signature table once —
    # the banded self-join would otherwise recompute the full simhash
    # plan on both sides of the join.
    hashed = simhash_signatures(df, text_col, id_col).localCheckpoint(eager=True)
    mask = F.lit((1 << bits_per) - 1).cast("long")

    # KEY WIDTH MUST SCALE WITH THE CORPUS: single-block keys have at
    # most 2^bits_per (256) distinct values per position — a structural
    # ceiling, so bucket occupancy (and candidate pairs, quadratically)
    # grows once n passes a few hundred per value. Pigeonhole
    # generalizes: a pair within max_hamming flips keeps >=
    # num_blocks - max_hamming blocks intact, so keying on every
    # r-combination of blocks stays COMPLETE while
    # r <= num_blocks - max_hamming — the candidate set shrinks but the
    # exact-verify output is IDENTICAL. Auto-pick the smallest r whose
    # expected key occupancy n / 2^(r*bits_per) is bounded, capped at
    # the completeness bound (callers wanting wide radii on huge
    # corpora need wider signatures, not deeper combinations).
    from itertools import combinations

    r_cap = num_blocks - max_hamming
    n_docs = hashed.count()
    r = 1
    while r < r_cap and n_docs / (1 << (r * bits_per)) > 256:
        r += 1
    block_vals = [
        F.shiftrightunsigned(F.col("sh"), b * bits_per).bitwiseAND(mask)
        for b in range(num_blocks)
    ]
    keys = []
    for combo in combinations(range(num_blocks), r):
        key = F.lit(0).cast("long")
        for i, b in enumerate(combo):
            key = key.bitwiseOR(F.shiftleft(block_vals[b], i * bits_per))
        keys.append(key)
    blocked = hashed.select(
        id_col,
        "sh",
        F.posexplode(F.array(*keys)).alias("block_idx", "block_val"),
    )
    a = blocked.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"), "block_idx", "block_val")
    b = blocked.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"), "block_idx", "block_val")
    return (
        a.join(b, ["block_idx", "block_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", hamming64(F.col("sh_a"), F.col("sh_b")).alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def hamming_band_pairs(
    hashes: DataFrame,
    id_col: str = "doc_id",
    hash_col: str = "h",
    threshold: int = 6,
) -> DataFrame:
    """Near-dup pairs over a 64-bit fingerprint column by banded LSH +
    exact Hamming verify — the shared engine behind image pHash and
    audio energy-fingerprint dedup (mm_phash_near_dup,
    mm_audio_fingerprint_dedup).

    Exact-hash groups are collapsed to their min-id representative
    first (the template-spam guard: a fingerprint repeated k times
    would otherwise put k rows in every band bucket — k^2 candidates),
    with group sizes carried through as n_a/n_b. The hash is split
    into 8 bands of 8 bits; a pair is a candidate iff some band
    matches, then verified with xor + bit_count JVM-side. Pigeonhole
    makes recall EXACT for threshold <= 7: 7 differing bits cannot
    occupy all 8 bands, so every true pair shares a clean band.

    100 TB: the exchange carries (id, 8-byte hash, band byte) — media
    bytes never shuffle; band buckets are bounded-occupancy after the
    exact collapse; verify is one bit_count per candidate.
    """
    if not 0 <= threshold <= 7:
        raise ValueError(f"threshold {threshold} breaks the 8-band pigeonhole bound")
    reps = hashes.groupBy(hash_col).agg(
        F.min(id_col).alias("id"), F.count(F.lit(1)).alias("n")
    )
    # r-combination band keys (same completeness argument and auto-r as
    # simhash_near_dups): a pair within `threshold` flips keeps >=
    # 8 - threshold bands intact, so keying every r-combination of
    # bands stays complete while r <= 8 - threshold — lifting the
    # structural 256-values-per-band occupancy ceiling on big corpora
    # with byte-identical output (candidates shrink; verify is exact).
    from itertools import combinations as _combos

    r_cap = 8 - threshold
    n_fp = reps.count()
    r = 1
    while r < r_cap and n_fp / (1 << (8 * r)) > 256:
        r += 1
    band_vals = [
        F.shiftrightunsigned(F.col(hash_col), 8 * i).bitwiseAND(F.lit(255))
        for i in range(8)
    ]
    keys = []
    for bi, combo in enumerate(_combos(range(8), r)):
        key = F.lit(0).cast("long")
        for i, bidx in enumerate(combo):
            key = key.bitwiseOR(F.shiftleft(band_vals[bidx], 8 * i))
        keys.append(F.struct(F.lit(bi).alias("band"), key.alias("val")))
    bands = reps.select(
        "id",
        F.col(hash_col).alias("h"),
        "n",
        F.explode(F.array(*keys)).alias("bv"),
    ).select("id", "h", "n", "bv.band", "bv.val")
    a = bands.select(
        F.col("id").alias("id_a"), F.col("h").alias("h_a"),
        F.col("n").alias("n_a"), "band", "val",
    )
    b = bands.select(
        F.col("id").alias("id_b"), F.col("h").alias("h_b"),
        F.col("n").alias("n_b"), "band", "val",
    )
    cand = (
        a.join(b, ["band", "val"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "h_a", "h_b", "n_a", "n_b")
        .distinct()
    )
    return (
        cand.withColumn(
            "hamming", F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b")))
        )
        .where(F.col("hamming") <= threshold)
        .select("id_a", "id_b", "hamming", "n_a", "n_b")
    )
