"""Corpus curation operators for training-data pipelines (BASELINE.json
extension surface; SURVEY.md §2 C-llm-text/C-llm-dedup adjacents):
repetition-based quality gating, benchmark decontamination, sequence
packing, and target-mix rebalancing.

All pure DataFrame plans — explode + hash-aggregate shapes that keep
whole-stage codegen and map-side partial combine (the nested
higher-order-lambda forms fall out of codegen; see SCALE.md §8).

Scale notes (100 TB):
* repetition metrics shuffle (doc_id, term) partial counts, never text;
* decontamination is an inverted-index equi-join on n-gram shingles —
  the benchmark side is tiny and broadcast;
* packing uses the two-phase prefix sum (operators/prefix.py) so no
  single-partition window ever sees the corpus;
* rebalancing computes per-group quotas from counts (tiny aggregate) and
  keeps a deterministic hash-ordered prefix per group.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.strings import ngrams, tokens
from ..operators.prefix import global_running_sum
from ..sources.readers import local_frame
from .dedup import shingle_set


def repetition_metrics(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Gopher-style repetition statistics per document.

    Returns (id, n_tokens, top_token_frac, dup_token_frac,
    top_bigram_frac): the fraction of tokens taken by the single most
    frequent token, the fraction of tokens that are repeats of an
    earlier token, and the fraction of bigrams taken by the most
    frequent bigram. High values flag boilerplate / spam for quality
    gating (Rae et al. 2021, "Scaling Language Models", table A1 — the
    public Gopher repetition rules).

    Plan shape: two explode → count aggregates (token and bigram level)
    joined per id; shuffles carry (id, term) counts, not documents.
    """
    tok = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("__t"))
    tok_counts = tok.groupBy(id_col, "__t").agg(F.count(F.lit(1)).alias("c"))
    tok_stats = tok_counts.groupBy(id_col).agg(
        F.sum("c").alias("n_tokens"),
        F.max("c").alias("top_c"),
        F.count(F.lit(1)).alias("n_distinct"),
    )

    big = df.select(F.col(id_col), F.explode(ngrams(text_col, 2)).alias("__b"))
    big_counts = big.groupBy(id_col, "__b").agg(F.count(F.lit(1)).alias("c"))
    big_stats = big_counts.groupBy(id_col).agg(
        F.sum("c").alias("n_bigrams"), F.max("c").alias("top_bc")
    )

    return tok_stats.join(big_stats, id_col, "left").select(
        F.col(id_col),
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.round(F.col("top_c") / F.col("n_tokens"), 6).alias("top_token_frac"),
        F.round(1 - F.col("n_distinct") / F.col("n_tokens"), 6).alias("dup_token_frac"),
        F.round(F.coalesce(F.col("top_bc") / F.col("n_bigrams"), F.lit(0.0)), 6).alias(
            "top_bigram_frac"
        ),
    )


def repetition_gate(
    metrics: DataFrame,
    max_top_token_frac: float = 0.15,
    max_dup_token_frac: float = 0.55,
    max_top_bigram_frac: float = 0.05,
) -> DataFrame:
    """Attach the pass/fail quality gate to repetition metrics."""
    return metrics.withColumn(
        "passes",
        (F.col("top_token_frac") <= max_top_token_frac)
        & (F.col("dup_token_frac") <= max_dup_token_frac)
        & (F.col("top_bigram_frac") <= max_top_bigram_frac),
    )


# The 8 Gopher required-stopwords (Rae et al. 2021, appendix A1.1):
# a document must contain >= 2 distinct members to pass the gate.
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_rules(
    df: DataFrame,
    text_col: str,
    id_col: str,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    max_bullet_ratio: float = 0.9,
    max_ellipsis_ratio: float = 0.3,
    min_alpha_frac: float = 0.8,
    min_stop_hits: int = 2,
) -> DataFrame:
    """The Gopher/MassiveText structural quality rules (Rae et al. 2021,
    appendix A1.1 — the public document-filter spec every modern
    pretraining pipeline descends from): word-count bounds, mean word
    length in [3, 10], symbol-to-word ratio ('#' and '...') <= 0.1,
    <= 90% of lines starting with a bullet, <= 30% ending with an
    ellipsis, >= 80% of words containing an alphabetic character, and
    >= 2 distinct hits in the 8-stopword set.

    Returns one row per document with every measured value, a 0/1
    column per rule, and the conjunctive ``pass_gate``. Pure Column
    expressions (JVM codegen, shuffle-free scan) chosen to be
    reproducible verbatim in ANSI/DuckDB SQL — complements
    :func:`repetition_metrics` (the frequency-based half of the Gopher
    filter) with the structural half.
    """
    t = F.col(text_col)
    toks = tokens(text_col)
    n_words = F.size(toks)
    mean_len = F.length(F.array_join(toks, "")) / n_words
    n_hash = F.length(t) - F.length(F.replace(t, F.lit("#"), F.lit("")))
    n_ell = (F.length(t) - F.length(F.replace(t, F.lit("..."), F.lit("")))) / 3
    symbol_ratio = (n_hash + n_ell) / n_words
    lines = F.filter(F.split(t, "\n"), lambda x: F.trim(x) != "")
    n_lines = F.size(lines)
    bullet_ratio = F.size(
        F.filter(
            lines,
            lambda x: F.trim(x).startswith("-")
            | F.trim(x).startswith("*")
            | F.trim(x).startswith("•"),
        )
    ) / n_lines
    ellipsis_ratio = F.size(
        F.filter(lines, lambda x: F.trim(x).endswith("..."))
    ) / n_lines
    alpha_frac = F.size(F.filter(toks, lambda x: x.rlike("[A-Za-z]"))) / n_words
    stop_hits = F.size(
        F.array_intersect(
            F.array_distinct(toks), F.array(*[F.lit(w) for w in GOPHER_STOPWORDS])
        )
    )

    rules = {
        "r_word_count": (n_words >= min_words) & (n_words <= max_words),
        "r_mean_word_len": (mean_len >= min_mean_word_len)
        & (mean_len <= max_mean_word_len),
        "r_symbol": symbol_ratio <= max_symbol_ratio,
        "r_bullet": bullet_ratio <= max_bullet_ratio,
        "r_ellipsis": ellipsis_ratio <= max_ellipsis_ratio,
        "r_alpha": alpha_frac >= min_alpha_frac,
        "r_stopwords": stop_hits >= min_stop_hits,
    }
    out = [
        F.col(id_col),
        n_words.cast("int").alias("n_words"),
        F.round(mean_len, 6).alias("mean_word_len"),
        F.round(symbol_ratio, 6).alias("symbol_ratio"),
        F.round(bullet_ratio, 6).alias("bullet_ratio"),
        F.round(ellipsis_ratio, 6).alias("ellipsis_ratio"),
        F.round(alpha_frac, 6).alias("alpha_frac"),
        stop_hits.cast("int").alias("stop_hits"),
    ]
    out += [c.cast("int").alias(name) for name, c in rules.items()]
    gate = None
    for c in rules.values():
        gate = c if gate is None else (gate & c)
    out.append(gate.cast("int").alias("pass_gate"))
    return df.select(*out)


def _shingled(df: DataFrame, text_col: str, id_col: str, n: int, alias: str) -> DataFrame:
    """One row per (doc, distinct ``n``-gram shingle): ``alias``, ``__s``."""
    return df.select(
        F.col(id_col).alias(alias), F.explode(shingle_set(text_col, n)).alias("__s")
    )


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str,
    id_col: str,
    ngram_n: int = 5,
) -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing any
    ``ngram_n``-gram with a held-out benchmark set (the test-set-overlap
    scrub every pretraining pipeline runs; 8–13-gram overlap in
    published pipelines, 5 here to suit the short synthetic docs).

    Returns (id, n_hit_shingles, n_bench_docs) for contaminated docs
    only. Plan: distinct-shingle explode on both sides, equi-join on the
    shingle string — the benchmark side is small and broadcast, so the
    corpus is never shuffled; at 100 TB hash the shingles to 8-byte keys
    first (same join shape, narrower key).
    """
    c = _shingled(corpus, text_col, id_col, ngram_n, "__cid")
    b = _shingled(benchmark, text_col, id_col, ngram_n, "__bid")
    return (
        c.join(F.broadcast(b), "__s")
        .groupBy("__cid")
        .agg(
            F.count(F.lit(1)).alias("n_hit_shingles"),
            F.countDistinct("__bid").alias("n_bench_docs"),
        )
        .select(
            F.col("__cid").alias(id_col),
            F.col("n_hit_shingles").cast("bigint").alias("n_hit_shingles"),
            F.col("n_bench_docs").cast("bigint").alias("n_bench_docs"),
        )
    )


def pack_sequences(
    df: DataFrame,
    id_col: str,
    n_tokens_col: str,
    seq_len: int = 512,
    bucket_size: int = 1024,
) -> DataFrame:
    """Assign documents to fixed-length training sequences by contiguous
    concatenation in ``id_col`` order (the standard pretraining packing:
    concatenate the token stream, cut every ``seq_len`` tokens).

    Adds ``start_pos`` (global token offset of the doc's first token),
    ``seq_first``/``seq_last`` (sequence indices the doc lands in; docs
    may straddle a boundary) and ``seq_offset`` (position within
    ``seq_first``). Built on the two-phase prefix sum — no
    single-partition window over the corpus (operators/prefix.py).
    """
    cum = global_running_sum(
        df, id_col, n_tokens_col, out_col="__cum", bucket_size=bucket_size
    )
    start = F.col("__cum") - F.col(n_tokens_col)
    return (
        cum.withColumn("start_pos", start.cast("bigint"))
        .withColumn("seq_first", F.floor(start / seq_len).cast("bigint"))
        .withColumn("seq_offset", (start % seq_len).cast("bigint"))
        .withColumn(
            "seq_last",
            F.floor((F.col("__cum") - 1) / seq_len).cast("bigint"),
        )
        .drop("__cum")
    )


def hash_bucket_histogram(
    df: DataFrame, group_col: str, id_col: str, prefix_len: int = 4
) -> DataFrame:
    """(group, __b, __n): row counts per (group, md5-prefix bucket) —
    ONE map-side-combined pass over the corpus, locally checkpointed
    because every consumer (quota decision, per-group totals, driver
    quota math) re-reads this ≤ |groups|·16^prefix_len-row table and
    must not re-scan the corpus per consumer (the lineage-reuse
    discipline of llm/spans.py / bloom bits)."""
    h = F.md5(F.col(id_col).cast("string"))
    bucket = F.conv(F.substring(h, 1, prefix_len), 16, 10).cast("long")
    return (
        df.select(F.col(group_col), bucket.alias("__b"))
        .groupBy(group_col, "__b")
        .agg(F.count(F.lit(1)).alias("__n"))
        # prefix_len rides the schema (column metadata, zero runtime
        # cost) so hash_quota_select can reject a histogram built at a
        # different prefix — bucket ids from mismatched prefixes
        # silently select the wrong row set (round-10 ADVICE).
        .select(
            group_col,
            F.col("__b").alias("__b", metadata={"prefix_len": prefix_len}),
            "__n",
        )
        .localCheckpoint()
    )


def group_counts(histogram: DataFrame, group_col: str) -> DataFrame:
    """(group, n_total) from a hash_bucket_histogram — no corpus scan."""
    return histogram.groupBy(group_col).agg(F.sum("__n").alias("n_total"))


def _tiny_quota_select(
    df: DataFrame,
    group_col: str,
    id_col: str,
    quotas: DataFrame,
    prefix_len: int,
    group_totals: DataFrame,
) -> DataFrame | None:
    """Adaptive tiny-quota arm of :func:`hash_quota_select` (round-10
    verdict task 2 — the `llm_source_cap` watch row).

    When every group's quota is ≤ 1/64 of its rows, the quota-smallest
    rows by (md5, id) almost surely carry an md5 prefix below
    ``cut_g = ceil(8 · quota_g · 16^L / n_g)`` (md5 uniform ⇒ the
    filtered set is Binomial with mean 8·quota_g; P(< quota_g) ≤
    exp(−49·quota_g/16) ≈ e^−92 at quota 30). Because fixed-width hex
    prefixes sort with the full hash, "≥ quota_g rows below the cutoff"
    PROVES the global quota-prefix lies wholly below it — so the rank
    over the filtered ~8·Σquota rows is exactly the row_number
    selection, and a verified per-group shortfall (the e^−92 tail, or a
    caller-supplied ``group_totals`` that overstates a group) returns
    None so the caller falls back to the histogram device. Exact for
    every outcome; uniformity buys only speed.

    Cost when armed: one broadcast of the dimension-scale cutoff table,
    ONE corpus pass (map-only broadcast-hash filter — the corpus never
    shuffles), a dimension-scale verification aggregate over the
    checkpointed filtered set, and a rank over ~8·Σquota rows. No
    16^L-per-group histogram state, no full/boundary union scans.
    """
    from pyspark.sql import types as T

    space = 16 ** prefix_len
    tot = {r[0]: r[1] for r in group_totals.collect()}
    q = {r[0]: r[1] for r in quotas.collect()}
    live = [g for g, n in q.items() if n and n > 0]
    if not live:
        # every quota is 0: keep nothing, matching the histogram
        # device's inner-join semantics
        return df.where(F.lit(False))
    if any(not tot.get(g, 0) for g in live):
        # a quota'd group is missing (or zero) in the caller-supplied
        # totals — stale/partial totals must never decide MEMBERSHIP, so
        # fall back to the histogram device, which reads df itself and
        # selects the group's prefix exactly (round-11 self-review: the
        # old code silently dropped such a group's entire quota)
        return None
    if any(q[g] * 64 > tot[g] for g in live):
        return None  # not tiny: the histogram device is the right plan
    margin = 8
    cut_rows = [
        (g, int(q[g]), min(space, -(-margin * int(q[g]) * space // int(tot[g]))))
        for g in live
    ]
    schema = T.StructType(
        [
            quotas.schema[group_col],
            T.StructField("__quota", T.LongType()),
            T.StructField("__cut", T.LongType()),
        ]
    )
    cut = local_frame(df.sparkSession, cut_rows, schema)
    tagged = df.withColumn("__h", F.md5(F.col(id_col).cast("string"))).withColumn(
        "__b", F.conv(F.substring(F.col("__h"), 1, prefix_len), 16, 10).cast("long")
    )
    c2 = cut.withColumnRenamed(group_col, "__cg")
    flt = (
        tagged.join(
            F.broadcast(c2),
            F.col(group_col).eqNullSafe(F.col("__cg"))
            & (F.col("__b") < F.col("__cut")),
        )
        .drop("__cg", "__cut")
        .localCheckpoint()  # one corpus pass serves verify AND rank
    )
    got = {r[0]: r[1] for r in flt.groupBy(group_col).count().collect()}
    if any(c < space and got.get(g, 0) < nq for g, nq, c in cut_rows):
        return None  # verified shortfall: exactness falls back, never degrades
    w = Window.partitionBy(group_col).orderBy("__h", id_col)
    return (
        flt.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= F.col("__quota"))
        .select(*df.columns)
    )


def hash_quota_select(
    df: DataFrame,
    group_col: str,
    id_col: str,
    quotas: DataFrame,
    prefix_len: int = 4,
    histogram: DataFrame | None = None,
    group_totals: DataFrame | None = None,
) -> DataFrame:
    """Keep the per-group ``quota`` smallest rows by ``(md5(id), id)``
    WITHOUT a per-group global sort — the two-pass hash-threshold quota
    device (round-9 verdict task 3).

    ``row_number() OVER (PARTITION BY group ORDER BY md5(id), id) <=
    quota`` sorts the whole corpus in ``|groups|`` tasks — with ~5
    languages that is a 5-way parallelism ceiling at 100 TB no matter
    how many executors exist. This device selects the IDENTICAL row set
    (so every existing oracle keeps its row_number form) via a bucket
    histogram over the hash prefix:

    1. Bucket each row by its first ``prefix_len`` md5 hex chars —
       fixed-length lowercase hex sorts lexicographically == numerically,
       so bucket b's rows all precede bucket b+1's in (md5, id) order.
    2. Count rows per (group, bucket): one map-side-combined aggregate
       whose output is at most ``|groups| * 16**prefix_len`` rows.
    3. A window over that DIMENSION-SCALE table (≤ 65536 rows per group
       at the default) finds, per group, the buckets wholly inside the
       quota ("full"), the single boundary bucket, and how many rows
       ``__take`` are still needed from it.
    4. Broadcast the kept-bucket decision table back onto the corpus:
       full-bucket rows pass with NO shuffle at all; only boundary-bucket
       rows (~n_g / 16**prefix_len each — ~300 MB per 20 TB group at
       prefix_len=4) get the bounded per-group rank for exact tie-free
       selection.

    Shuffle ledger at 100 TB: one tiny partial-agg exchange (pass 1),
    one broadcast, one rank over 1/65536 of the corpus — versus the
    full-corpus |groups|-task sort it replaces. Groups absent from
    ``quotas`` are dropped (inner join); quota 0 keeps nothing.

    ``quotas`` must be a small DataFrame ``(group_col, __quota long)``.
    Selection is exact and deterministic: ties in md5 are broken by the
    (unique-per-group) id, so membership is layout-independent. Ids
    must be NON-NULL: a null id hashes to a null bucket and silently
    drops at the bucket join, whereas the row_number form would sort it
    first — every caller keys on a primary-key column.

    Pass ``histogram`` (a :func:`hash_bucket_histogram` of the SAME df
    and prefix_len) when the caller already built it for quota math —
    every count the caller needs then derives from the checkpointed
    dimension-scale table. A histogram built at a DIFFERENT prefix_len
    is rejected (its schema records the prefix it was built with):
    bucket ids would not match the tags recomputed from the corpus and
    the device would silently select the wrong rows.

    Pass ``group_totals`` (``(group_col, n_total)``, dimension-scale,
    e.g. a plain ``groupBy(group).count()``) INSTEAD of a histogram to
    arm the ADAPTIVE TINY-QUOTA path (round-10 verdict task 2): when
    every group's quota is ≤ 1/64 of its rows, the histogram pass is
    skipped entirely — md5 is uniform, so the quota-smallest rows all
    live under a per-group hash-prefix cutoff sized at 8× the quota's
    expected share; ONE column-pruned corpus pass filters to that
    prefix (a broadcast hash join against the dimension-scale cutoff
    table, no shuffle of the corpus) and the surviving ~8·Σquota rows
    take the exact (md5, id) rank. Exactness does NOT rest on the md5
    uniformity assumption: the filtered per-group counts are verified
    against the quotas (a dimension-scale aggregate over the
    checkpointed filtered set), and any shortfall falls back to the
    histogram device — so the selected set is ALWAYS the global
    row_number prefix, and ``group_totals`` accuracy affects only the
    trigger and the cutoff margin, never membership. Shuffle ledger
    when armed: the totals pass the caller already needed, one
    broadcast, one rank over ~8·Σquota rows — two corpus passes
    total vs the classic three, and no 16^prefix_len-per-group
    aggregation state.

    Scan ledger (round-10 review, measured): THREE corpus passes — the
    histogram plus one column-pruned pass per union branch (full-bucket
    and boundary; Catalyst does not dedupe common subplans across
    union branches). The single-scan alternative (rank every kept row
    via a window partitioned by (group, bucket)) replaces the extra
    scan with a shuffle of ALL kept rows and measured SLOWER (5.15 vs
    6.44 s at 1024×/20% quota, tools log round 10) even on local[32]
    where shuffles never touch the network — the union form is kept
    deliberately: scans are cheap and pruned, exchanges are the scarce
    resource.
    """
    h = F.md5(F.col(id_col).cast("string"))

    if histogram is not None:
        meta = histogram.schema["__b"].metadata or {}
        hist_plen = meta.get("prefix_len")
        if hist_plen is not None and int(hist_plen) != prefix_len:
            raise ValueError(
                f"histogram was built with prefix_len={hist_plen} but "
                f"hash_quota_select was called with prefix_len={prefix_len}; "
                f"bucket ids would not match the tags recomputed from the corpus"
            )

    if histogram is None and group_totals is not None:
        selected = _tiny_quota_select(
            df, group_col, id_col, quotas, prefix_len, group_totals
        )
        if selected is not None:
            return selected

    counts = (
        histogram
        if histogram is not None
        else hash_bucket_histogram(df, group_col, id_col, prefix_len)
    )
    w_cum = (
        Window.partitionBy(group_col)
        .orderBy("__b")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # NULL-safe group joins throughout (round-10 review): the row_number
    # oracle form ranks a NULL group as its own partition, so a plain
    # equi-join here would silently drop a NULL stratum and diverge.
    decided = (
        counts.join(
            quotas.withColumnRenamed(group_col, "__qg"),
            F.col(group_col).eqNullSafe(F.col("__qg")),
        )
        .drop("__qg")
        .withColumn("__cum", F.sum("__n").over(w_cum))
        .withColumn("__before", F.col("__cum") - F.col("__n"))
        # buckets entirely past the quota are dropped here, so the
        # broadcast below carries only kept + boundary buckets
        .filter(F.col("__before") < F.col("__quota"))
        .select(
            group_col,
            "__b",
            F.when(F.col("__cum") <= F.col("__quota"), F.lit(None).cast("long"))
            .otherwise(F.col("__quota") - F.col("__before"))
            .alias("__take"),
        )
    )

    # The decision table is bounded by kept-buckets ≈ Σ_g quota_g /
    # (n_g / 16^prefix_len) — dimension-scale for every catalog use, but
    # UNBOUNDED in general (a proportional quota over a huge |groups|
    # inflates it toward the histogram size), so the broadcast hint is
    # SIZE-GATED, not forced (the anti_semi_customers review standard:
    # never force an unbounded build). decided derives from the
    # checkpointed histogram, so materializing + sizing it costs no
    # corpus work; past the gate the join ships hint-free and AQE picks
    # the strategy. The gate is a BYTE budget, not a row count
    # (round-10 ADVICE: 4M rows of wide group strings serialize to
    # hundreds of MB and the per-executor hash relation more) — q7's
    # convention: measured rows × (avg group width + 64 B hash-relation
    # footprint for the two longs + entry overhead) against 256 MB.
    decided = decided.localCheckpoint()
    _stats = decided.agg(
        F.count(F.lit(1)).alias("n"),
        F.avg(F.length(F.col(group_col).cast("string"))).alias("w"),
    ).first()
    _est = (_stats["n"] or 0) * (int(_stats["w"] or 0) + 64)
    if _est <= (256 << 20):
        decided = F.broadcast(decided)
    tagged = df.withColumn("__h", h).withColumn(
        "__b", F.conv(F.substring(F.col("__h"), 1, prefix_len), 16, 10).cast("long")
    )
    d2 = decided.withColumnRenamed(group_col, "__dg").withColumnRenamed("__b", "__db")
    joined = tagged.join(
        d2,
        F.col(group_col).eqNullSafe(F.col("__dg")) & (F.col("__b") == F.col("__db")),
    ).drop("__dg", "__db")
    full = joined.filter(F.col("__take").isNull())
    w_bnd = Window.partitionBy(group_col).orderBy("__h", id_col)
    boundary = (
        joined.filter(F.col("__take").isNotNull())
        .withColumn("__rn", F.row_number().over(w_bnd))
        .filter(F.col("__rn") <= F.col("__take"))
        .drop("__rn")
    )
    return full.unionByName(boundary).drop("__h", "__b", "__take")


def rebalance_mix(
    df: DataFrame,
    group_col: str,
    id_col: str,
    weights_bp: dict[str, int],
    histogram: DataFrame | None = None,
    prefix_len: int = 4,
) -> DataFrame:
    """Deterministic target-mix rebalancing: downsample each group to
    ``total * weight_bp // 10000`` documents (capped at the group's
    actual size), selecting members by content-hash order so the sample
    is reproducible across engines and layouts (same device as
    llm_stratified_sample; the domain-reweighting step of corpus
    assembly).

    Weights are integer basis points, and the quota is exact integer
    arithmetic — ``floor(0.12 * total)`` in binary doubles lands one ulp
    below the decimal-exact product and floors to quota-1, so float
    weights are a cross-engine divergence trap.

    Returns the kept rows. ``weights_bp`` groups absent from the data
    are ignored; groups absent from ``weights_bp`` are dropped.

    Selection rides :func:`hash_quota_select` (round-10 rewrite): same
    membership as the per-group row_number prefix, but the corpus is
    never sorted in ``|groups|`` tasks — the oracle keeps its
    row_number form because the selected row SET is identical. The
    corpus total comes from the device's own checkpointed histogram
    (one scan serves quota math AND bucket decisions — no separate
    count() pass).
    """
    # prefix_len threads to BOTH the histogram build and the selector
    # (round-10 ADVICE: a caller histogram at another prefix used to be
    # forwarded against the hardcoded default and silently selected the
    # wrong rows — now also rejected inside hash_quota_select via the
    # prefix recorded on the histogram's schema).
    hist = (
        histogram
        if histogram is not None
        else hash_bucket_histogram(df, group_col, id_col, prefix_len)
    )
    total = hist.agg(F.sum("__n")).first()[0] or 0
    quotas = local_frame(
        df.sparkSession,
        [(g, total * int(bp) // 10000) for g, bp in sorted(weights_bp.items())],
        f"{group_col} string, __quota long",
    )
    return hash_quota_select(
        df, group_col, id_col, quotas, prefix_len=prefix_len, histogram=hist
    )


def bloom_decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str,
    id_col: str,
    ngram_n: int = 5,
    num_bits: int = 1 << 18,
    num_hashes: int = 4,
) -> DataFrame:
    """Bloom-filter-gated decontamination — the bounded-memory form of
    :func:`decontaminate` for benchmark sets whose shingle inventory is
    itself too large to broadcast verbatim.

    The benchmark's n-gram shingles are folded into a Bloom filter of
    ``num_bits`` bits / ``num_hashes`` seeded xxhash64 functions,
    represented relationally as the distinct set of SET bit positions
    (at most ``min(num_hashes * |bench shingles|, num_bits)`` longs —
    bounded by the filter size no matter how big the benchmark grows).
    Corpus shingles probe it with ``num_hashes`` consecutive BROADCAST
    joins (one per hash function, all map-side: the corpus is never
    shuffled); a shingle is a Bloom hit when every probe matched.

    One-sided error: every truly contaminated document is flagged
    (no false negatives — superset of :func:`decontaminate`); false
    positives occur at the classic ``(1 - e^(-kn/m))^k`` rate and are
    deterministic given the seed family. Returns
    ``(id, n_bloom_hit_shingles)`` for flagged documents.
    Not SQL-portable (xxhash64) → rows-only in the catalog; the
    superset property and FP-rate bound are pinned in tests/test_llm.py.
    """

    def bit(col: Column, seed: int) -> Column:
        # seed folded SECOND, so every lane is a function of the one
        # 64-bit xxhash64(col) value — deliberately: that is the
        # standard double-hashing bloom construction (Kirsch &
        # Mitzenmacher 2006, g_i(x) = h1(x) + i*h2(x) generalized),
        # whose FP bound matches k independent hashes. Unlike
        # llm/spans.py (where 128 INDEPENDENT bits are the equality
        # key and lane dependence would merge distinct grams), a bloom
        # lane collision only nudges the FP rate, which the pinned
        # FP-bound test covers.
        return F.pmod(F.xxhash64(col, F.lit(seed)), F.lit(num_bits))

    # materialized once: the set-bit table feeds num_hashes probe joins —
    # left inline each join would re-run the benchmark shingle explode
    # (same lineage-reuse discipline as llm/spans.py / minhash)
    bits = (
        _shingled(benchmark, text_col, id_col, ngram_n, "__bid")
        .select(
            F.explode(
                F.array(*[bit(F.col("__s"), i) for i in range(num_hashes)])
            ).alias("__bit")
        )
        .distinct()
        .localCheckpoint()
    )

    probe = _shingled(corpus, text_col, id_col, ngram_n, "__cid")
    for i in range(num_hashes):
        set_i = bits.select(F.col("__bit").alias(f"__b{i}"))
        probe = probe.join(
            F.broadcast(set_i), bit(F.col("__s"), i) == F.col(f"__b{i}")
        ).drop(f"__b{i}")

    return (
        probe.groupBy("__cid")
        .agg(F.count(F.lit(1)).alias("n_bloom_hit_shingles"))
        .select(
            F.col("__cid").alias(id_col),
            F.col("n_bloom_hit_shingles").cast("bigint").alias("n_bloom_hit_shingles"),
        )
    )


def temperature_mix(
    df: DataFrame,
    group_col: str,
    id_col: str,
    keep_bp: int = 5000,
    alpha: float = 0.5,
    histogram: DataFrame | None = None,
    prefix_len: int = 4,
) -> DataFrame:
    """Temperature-based mixture reweighting: per-group quotas
    proportional to ``n_g ** alpha`` (alpha < 1 upsamples the tail
    relative to its natural share — the multilingual-corpus sampling
    rule), holding the kept total at ``total * keep_bp / 10000``.

    alpha defaults to 0.5 because ``sqrt`` is IEEE-correctly-rounded in
    every engine, which keeps ``floor(keep_total * sqrt(n)/Z)`` quota
    arithmetic bit-identical across Spark, Python, and the DuckDB
    oracle (fractional ``pow`` is correctly rounded on common libms but
    not guaranteed by the standard). Selection within a group is
    content-hash-ordered like :func:`rebalance_mix`, so membership is
    reproducible across engines and layouts.

    The group-count table is dimension-scale: quotas are computed on
    the driver from the device's OWN checkpointed histogram (one corpus
    scan serves quota math and bucket decisions) — at 100 TB the plan
    shape is unchanged.
    """
    import math

    hist = (
        histogram
        if histogram is not None
        else hash_bucket_histogram(df, group_col, id_col, prefix_len)
    )
    counts = {
        r[0]: r[1]
        for r in group_counts(hist, group_col).collect()
    }
    total = sum(counts.values())
    keep_total = total * int(keep_bp) // 10000
    # Normalizer summed as a LEFT FOLD IN SORTED GROUP-KEY ORDER: float
    # addition is order-sensitive at 1 ulp, and a quota floor() sitting
    # exactly on an integer boundary can flip if an oracle sums in a
    # different order (round-3 advice). The DuckDB oracle mirrors this
    # exact fold via list_reduce(list(sqrt(n) ORDER BY <group>), +).
    z = 0.0
    for _g, n in sorted(counts.items()):
        z += math.sqrt(n) if alpha == 0.5 else n**alpha
    # Selection rides hash_quota_select (round-10 rewrite): identical
    # membership to the per-group row_number prefix without the
    # |groups|-task corpus sort, so the oracle keeps its row_number form.
    quotas = local_frame(
        df.sparkSession,
        [
            (g, int(math.floor(keep_total * (math.sqrt(n) if alpha == 0.5 else n**alpha) / z)))
            for g, n in sorted(counts.items())
        ],
        f"{group_col} string, __quota long",
    )
    return hash_quota_select(
        df, group_col, id_col, quotas, prefix_len=prefix_len, histogram=hist
    )
