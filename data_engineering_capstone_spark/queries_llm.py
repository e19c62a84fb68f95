"""LLM-pipeline catalog queries (SURVEY.md §2 C-llm-*; BASELINE.json
extension surface) over ``documents`` and ``embeddings``.

Exact operators carry DuckDB oracles; hash-family operators (MinHash,
SimHash, LSH ANN) are deterministic but not SQL-portable (xxhash64), so
they register rows-only and their correctness is pinned by unit tests
against exact baselines (tests/test_llm.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .catalog import query
from .llm.dedup import (
    exact_dedup,
    fingerprint_md5,
    minhash_near_dups,
    ngram_containment_pairs,
    ngram_jaccard_pairs,
    simhash_near_dups,
)
from .llm.similarity import cosine_topk, ivf_ann_topk, lsh_ann_topk
from .llm.text import (
    bpe_ish_token_count,
    language_id,
    mean_token_len,
    punct_ratio,
    rolling_fingerprint,
)
from .functions.strings import ngrams, token_count
from .session import scratch_dir
from .sources.readers import local_frame
from .sources.testdata import load_table as _t


@query(
    "llm_exact_dedup",
    oracle="""
    WITH doubled AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000, text FROM documents
    ), fp AS (
      SELECT doc_id, md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS f
      FROM doubled
    )
    SELECT doc_id FROM fp
    WHERE doc_id = (SELECT MIN(doc_id) FROM fp f2 WHERE f2.f = fp.f)
    ORDER BY doc_id
    """,
)
def llm_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content digest: the corpus is doubled (planted
    duplicates with shifted ids), dedup must keep exactly the original
    ids. GroupBy on a 16-byte md5 of normalized text — the 100 TB-safe
    form of dropDuplicates (SURVEY.md §2 B2/C-llm-dedup).
    """
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    doubled = d.unionByName(d.select((F.col("doc_id") + 1000000).alias("doc_id"), "text"))
    return exact_dedup(doubled, "text", "doc_id").select("doc_id")  # no final orderBy: display-only on fact-grain output (SCALE.md final-sort policy)


@query(
    "llm_ngram_jaccard",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ') AS t
      FROM documents
    ), sh AS MATERIALIZED (
      SELECT DISTINCT doc_id,
             unnest(list_transform(generate_series(1, len(t) - 1),
                                   i -> t[i] || ' ' || t[i + 1])) AS s
      FROM toks WHERE len(t) >= 2
    ), okj AS (
      SELECT s FROM sh GROUP BY s HAVING COUNT(*) <= 100
    ), shf AS MATERIALIZED (
      SELECT sh.doc_id, sh.s FROM sh JOIN okj USING (s)
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS n FROM shf GROUP BY 1
    ), pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
      FROM shf a JOIN shf b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           ROUND(n_common * 1.0 / (sa.n + sb.n - n_common), 6) AS jaccard
    FROM pairs
    JOIN sizes sa ON id_a = sa.doc_id
    JOIN sizes sb ON id_b = sb.doc_id
    WHERE n_common * 1.0 / (sa.n + sb.n - n_common) >= 0.2
    ORDER BY id_a, id_b
    """,
)
def llm_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT bigram-shingle Jaccard pairs >= 0.2 via inverted-index
    candidates + exact verification — never an all-pairs product
    (SURVEY.md §2 C-llm-dedup; the oracle computes the same definition
    directly).

    Hot-shingle guard: shingles present in more than 100 documents are
    dropped from BOTH the index and the per-doc set sizes (the oracle
    mirrors the filter). A stop-bigram ("of the") carries no
    discrimination signal, and its inverted-index posting list pairs
    quadratically — at sf0.1 the 900 shingles with df>100 carried
    73.2M of the 73.2M candidate-pair work; dropping them removes
    99.997% of the join while Jaccard over the informative shingles is
    unchanged in what it detects. This is the same df-cap semantic the
    span-dedup family uses (llm/spans.py, cap=1000).
    """
    from .sources.pqmeta import fanout_starved_scan

    d = fanout_starved_scan(
        _t(spark, sf_dir, "documents"), spark, sf_dir, "documents"
    )  # guide §2.5: row-group-starved scan serializes the text kernel
    pairs = ngram_jaccard_pairs(
        d, "text", "doc_id", threshold=0.2, shingle_n=2, max_doc_freq=100
    )
    # no final orderBy: the driver's compare is order-insensitive and a
    # global sort range-samples its input, executing the plan twice
    return pairs.select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jaccard")
    )


@query(
    "llm_ngram_containment",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ') AS t
      FROM documents
    ), sh AS MATERIALIZED (
      SELECT DISTINCT doc_id,
             unnest(list_transform(generate_series(1, len(t) - 1),
                                   i -> t[i] || ' ' || t[i + 1])) AS s
      FROM toks WHERE len(t) >= 2
    ), okj AS (
      SELECT s FROM sh GROUP BY s HAVING COUNT(*) <= 100
    ), shf AS MATERIALIZED (
      SELECT sh.doc_id, sh.s FROM sh JOIN okj USING (s)
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS n FROM shf GROUP BY 1
    ), pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
      FROM shf a JOIN shf b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b, CAST(n_common AS BIGINT) AS n_common,
           ROUND(n_common * 1.0 / LEAST(sa.n, sb.n), 6) AS containment
    FROM pairs
    JOIN sizes sa ON id_a = sa.doc_id
    JOIN sizes sb ON id_b = sb.doc_id
    WHERE n_common * 1.0 / LEAST(sa.n, sb.n) >= 0.5
    ORDER BY id_a, id_b
    """,
)
def llm_ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC near-dup — shingle-set containment
    |A∩B| / min(|A|,|B|) >= 0.5: the quote/subset detector Jaccard is
    blind to (a snippet embedded verbatim in a long page has Jaccard
    ~0.01 but containment 1.0 — boilerplate inclusions, quoted docs,
    page-wraps-snippet spam). Same single-shuffle postings plan and
    hot-shingle cap as llm_ngram_jaccard (llm/dedup.py:
    ngram_containment_pairs); the oracle mirrors cap and definition.
    """
    from .sources.pqmeta import fanout_starved_scan

    d = fanout_starved_scan(
        _t(spark, sf_dir, "documents"), spark, sf_dir, "documents"
    )  # guide §2.5: row-group-starved scan serializes the gram explode
    pairs = ngram_containment_pairs(
        d, "text", "doc_id", threshold=0.5, shingle_n=2, max_doc_freq=100
    )
    # no final orderBy: order-insensitive compare; a global sort would
    # range-sample and execute the plan twice
    return pairs.select(
        "id_a",
        "id_b",
        F.col("n_common").cast("bigint").alias("n_common"),
        F.round("containment", 6).alias("containment"),
    )


@query("llm_minhash_near_dup", oracle=None)
def llm_minhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs (shingle → minhash → band → bucket-join
    → estimate >= 0.35). Deterministic (seeded xxhash64 family) but not
    SQL-portable → rows-only here; recall/precision vs the exact Jaccard
    baseline is asserted in tests/test_llm.py.
    """
    d = _t(spark, sf_dir, "documents")
    # no final orderBy (SCALE.md final-sort policy): the range partitioner
    # would sample-execute the pair stage twice for a display-only order;
    # rows-only entry, digest/recall checks are order-insensitive.
    # Measured 2.03 s → 1.76 s at sf0.1, identical row set.
    return minhash_near_dups(
        d, "text", "doc_id", threshold=0.35, num_hashes=64, num_bands=16
    ).select("id_a", "id_b", F.round("est_jaccard", 6).alias("est_jaccard"))


@query("llm_minhash_index_delta", oracle=None)
def llm_minhash_index_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental corpus dedup — the production crawl pattern (round-5
    verdict task 8): build the MinHash band index of the EXISTING corpus
    (doc_id % 10 != 0), PERSIST it to parquet (narrow band table +
    signature table, llm/dedup.py:minhash_band_index), then near-dup-
    check a NEW shard (doc_id % 10 == 0, plus one planted near-variant
    of corpus doc 1) against the index read back from disk — without
    recomputing the corpus. Emits every pair touching a new doc: the
    batch twin of stream_minhash_dedup's bucket state. Rows-only (hash
    family); incremental == full-recompute is pinned by
    tests/test_llm.py::test_minhash_index_delta_equals_full_recompute.
    """
    from .llm.dedup import minhash_band_index, minhash_delta_pairs

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    old = d.filter(F.col("doc_id") % 10 != 0)
    planted = old.filter(F.col("doc_id") == 1).select(
        (F.col("doc_id") + 20_000_000).alias("doc_id"),
        F.concat(F.lit("planted "), F.col("text")).alias("text"),
    )
    new = d.filter(F.col("doc_id") % 10 == 0).unionByName(planted)

    index_dir = scratch_dir(spark, "minhash_idx", "index")
    sigs_dir = scratch_dir(spark, "minhash_idx", "sigs")
    index, sigs = minhash_band_index(old, "text", "doc_id")
    index.write.mode("overwrite").parquet(index_dir)
    sigs.write.mode("overwrite").parquet(sigs_dir)
    index_r = spark.read.parquet(index_dir)
    sigs_r = spark.read.parquet(sigs_dir)

    pairs = minhash_delta_pairs(
        new, "text", "doc_id", index_r, sigs_r, threshold=0.35
    )
    return pairs.select(
        "id_a", "id_b", F.round("est_jaccard", 6).alias("est_jaccard")
    )


@query("llm_minhash_collapsed", oracle=None)
def llm_minhash_collapsed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Template-spam-guarded MinHash: the corpus plus a planted
    500-copy template (plus one near-variant) runs through
    minhash_near_dups(collapse_exact=True) — identical-fingerprint
    groups collapse to one representative BEFORE the signature stage,
    so the mega-bucket the copies would form (16·k²/2 candidate rows,
    measured 800M for k=10k — SCALE.md §12) never exists; group sizes
    ride along as n_a/n_b for membership expansion. Rows-only (hash
    family); the planted variant↔template pair and size accounting are
    pinned by tests/test_llm.py.
    """
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    template = (
        "breaking news subscribe to our newsletter for daily updates "
        "terms privacy contact copyright notice all rights reserved"
    )
    spam = spark.range(500).select(
        (F.col("id") + 20_000_000).alias("doc_id"), F.lit(template).alias("text")
    )
    variant = local_frame(
        spark,
        [(19_999_999, template.replace("daily updates", "weekly updates"))],
        "doc_id long, text string",
    )
    corpus = d.unionByName(spam).unionByName(variant)
    return (
        minhash_near_dups(
            corpus, "text", "doc_id", threshold=0.35, collapse_exact=True
        )
        .select(
            "id_a", "id_b", F.round("est_jaccard", 6).alias("est_jaccard"),
            "n_a", "n_b",
        )
        # no final orderBy: display-only on fact-grain output (SCALE.md final-sort policy)
    )


@query("llm_simhash_near_dup", oracle=None)
def llm_simhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs within Hamming distance 4 of the 64-bit
    signature, candidates by block pigeonhole (8 blocks → complete up to
    7 flips). Rows-only (hash family); pinned by tests against planted
    near-duplicates.
    """
    d = _t(spark, sf_dir, "documents")
    return simhash_near_dups(d, "text", "doc_id", max_hamming=4, num_blocks=8)


@query(
    "llm_cosine_topk",
    oracle="""
    WITH q AS (SELECT vec_id AS q_id, embedding FROM embeddings WHERE vec_id < 10),
    scored AS (
      SELECT q.q_id, e.vec_id AS neighbor_id,
             list_cosine_similarity(q.embedding::DOUBLE[], e.embedding::DOUBLE[]) AS sim
      FROM q JOIN embeddings e ON e.vec_id <> q.q_id
    ), ranked AS (
      SELECT q_id, neighbor_id, sim,
             ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, neighbor_id) AS rk
      FROM scored
    )
    SELECT q_id, neighbor_id, ROUND(sim, 6) AS cos_sim, CAST(rk AS INT) AS rk
    FROM ranked WHERE rk <= 5
    ORDER BY q_id, rk
    """,
)
def llm_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 for 10 query vectors: broadcast query
    set over one corpus scan, JVM-side vector math (zip_with/aggregate),
    per-query top-k via ranking window (SURVEY.md §2 C-llm-sim).
    """
    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 10)
    return cosine_topk(e, q, k=5)  # no final orderBy: display-only on fact-grain output (SCALE.md final-sort policy)


@query("llm_embedding_near_dup", oracle=None)
def llm_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (>= 0.42) the way they run at
    scale: LSH bucket candidate generation (12 tables × 4 hyperplanes,
    seed 42) followed by exact-cosine verification — the plan is a
    (table, bucket) equi-join, never an all-pairs product. Precision is
    exact by construction (verify stage); recall vs the quadratic
    all-pairs form (llm/similarity.py:embedding_near_dup_pairs, now the
    TEST oracle only — tests/test_llm.py) is asserted there. Rows-only
    in the driver because LSH recall is data-dependent by design.
    """
    from .llm.similarity import lsh_near_dup_pairs

    e = _t(spark, sf_dir, "embeddings")
    return lsh_near_dup_pairs(e, 0.42, dim=64)  # no final orderBy: display-only on fact-grain output (SCALE.md final-sort policy)


@query("llm_ann_lsh", oracle=None)
def llm_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 neighbors via random-hyperplane LSH (8 tables ×
    6 planes, seed 42) + exact rerank of candidates. Rows-only; recall
    vs llm_cosine_topk asserted in tests/test_llm.py. On real clustered
    embeddings recall is far higher than on this uniform-random testdata
    (neighbors at cos≈0.4 are near the LSH noise floor).
    """
    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 10)
    return lsh_ann_topk(e, q, k=5, dim=64)  # no final orderBy: display-only on fact-grain output (SCALE.md final-sort policy)


@query(
    "llm_text_stats",
    oracle="""
    SELECT doc_id,
           CAST(LENGTH(text) AS INT) AS n_chars,
           CAST(LEN(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')) AS INT) AS n_tokens,
           CAST(LEN(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS INT) AS n_bpe_tokens,
           ROUND(CASE WHEN LENGTH(text) > 0
                 THEN LENGTH(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) * 1.0 / LENGTH(text)
                 ELSE 0 END, 6) AS punct_ratio,
           ROUND(COALESCE(list_sum(list_transform(
                     list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> ''),
                     x -> LENGTH(x))), 0) * 1.0
                 / NULLIF(LEN(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')), 0),
                 6) AS mean_token_len
    FROM documents
    ORDER BY doc_id
    """,
)
def llm_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document text statistics: char/token/BPE-ish counts, punct
    ratio, mean token length — the cheap columns every corpus filter
    starts from (SURVEY.md §2 C-llm-text). All JVM-side expressions.

    No global sort: a total order over per-doc stats is presentation
    cost only (the driver compare is order-insensitive), and Spark's
    range-partitioned sort would evaluate the regex-heavy projection
    TWICE (sampling pass + real pass) — measured 13.8 s sorted vs 7.1 s
    unsorted at 64× sf0.1 (15.2 s before this round's mean_token_len
    arithmetic rewrite, llm/text.py).
    """
    from .sources.pqmeta import fanout_starved_scan

    d = fanout_starved_scan(
        _t(spark, sf_dir, "documents"), spark, sf_dir, "documents"
    )  # guide §2.5: row-group-starved scan serializes the regex kernel
    return d.select(
        "doc_id",
        F.length("text").cast("int").alias("n_chars"),
        token_count("text").cast("int").alias("n_tokens"),
        bpe_ish_token_count("text").cast("int").alias("n_bpe_tokens"),
        F.round(punct_ratio("text"), 6).alias("punct_ratio"),
        F.round(mean_token_len("text"), 6).alias("mean_token_len"),
    )


@query(
    "llm_quality_language",
    oracle="""
    WITH scored AS (
      SELECT doc_id, lang,
             LEN(list_intersect(list_distinct(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')),
                 ['der','die','das','und','ist','nicht','ein','zu'])) AS s_de,
             LEN(list_intersect(list_distinct(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')),
                 ['the','a','of','and','is','to','in','that'])) AS s_en,
             LEN(list_intersect(list_distinct(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')),
                 ['el','la','de','que','y','los','es','una'])) AS s_es,
             LEN(list_intersect(list_distinct(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')),
                 ['le','la','les','des','est','une','que','et'])) AS s_fr,
             LEN(list_intersect(list_distinct(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')),
                 ['的','是','不','了','在','人','有','我'])) AS s_zh
      FROM documents
    )
    SELECT lang,
           CASE WHEN s_de >= GREATEST(s_de, s_en, s_es, s_fr, s_zh) THEN 'de'
                WHEN s_en >= GREATEST(s_de, s_en, s_es, s_fr, s_zh) THEN 'en'
                WHEN s_es >= GREATEST(s_de, s_en, s_es, s_fr, s_zh) THEN 'es'
                WHEN s_fr >= GREATEST(s_de, s_en, s_es, s_fr, s_zh) THEN 'fr'
                ELSE 'zh' END AS predicted,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM scored
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def llm_quality_language(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic (stopword-profile argmax, deterministic
    tie-break) confusion counts vs the labeled lang column. The profile
    scorer is the plumbing; swap in fastText scores at the same shape.
    """
    d = _t(spark, sf_dir, "documents")
    return (
        d.select("lang", language_id("text").alias("predicted"))
        .groupBy("lang", "predicted")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("lang", "predicted")
    )


@query(
    "llm_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS content_fp,
           list_reduce(
             list_prepend(CAST(0 AS BIGINT),
               list_transform(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> ''),
                              x -> CAST(LENGTH(x) * 7 + ascii(x) AS BIGINT))),
             (a, b) -> (a * 31 + b) % 1000000007) AS rolling_fp
    FROM documents
    ORDER BY doc_id
    """,
)
def llm_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprints: order-insensitive md5 content digest +
    order-sensitive polynomial rolling hash (both ANSI-reproducible —
    the oracle computes identical values).
    """
    from .sources.pqmeta import fanout_starved_scan

    d = fanout_starved_scan(
        _t(spark, sf_dir, "documents"), spark, sf_dir, "documents"
    )  # guide §2.5: row-group-starved scan serializes the text kernel
    return d.select(
        "doc_id",
        fingerprint_md5("text").alias("content_fp"),
        rolling_fingerprint("text").alias("rolling_fp"),
    )  # no final orderBy: display-only on fact-grain output (SCALE.md final-sort policy)


@query(
    "llm_dedup_clusters",
    oracle="""
    WITH RECURSIVE toks AS (
      SELECT doc_id, string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ') AS t
      FROM documents
    ), sh AS MATERIALIZED (
      SELECT DISTINCT doc_id,
             unnest(list_transform(generate_series(1, len(t) - 1),
                                   i -> t[i] || ' ' || t[i + 1])) AS s
      FROM toks WHERE len(t) >= 2
    ), okj AS (
      SELECT s FROM sh GROUP BY s HAVING COUNT(*) <= 100
    ), shf AS MATERIALIZED (
      SELECT sh.doc_id, sh.s FROM sh JOIN okj USING (s)
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS n FROM shf GROUP BY 1
    ), raw_pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
      FROM shf a JOIN shf b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), pairs AS (
      SELECT id_a, id_b FROM raw_pairs
      JOIN sizes sa ON id_a = sa.doc_id
      JOIN sizes sb ON id_b = sb.doc_id
      WHERE n_common * 1.0 / (sa.n + sb.n - n_common) >= 0.2
    ), sym AS (
      SELECT id_a AS u, id_b AS v FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs
    ), reach(a, b) AS (
      SELECT u, v FROM sym
      UNION
      SELECT r.a, s.v FROM reach r JOIN sym s ON r.b = s.u
    )
    SELECT a AS doc_id,
           LEAST(a, MIN(b)) AS component,
           (LEAST(a, MIN(b)) = a) AS is_survivor
    FROM reach GROUP BY a ORDER BY doc_id
    """,
)
def llm_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS: exact bigram-Jaccard pairs (>= 0.2) closed
    under transitivity via iterative min-label propagation (llm/
    clustering.py), survivor = min doc_id per component. The class of
    iterative DataFrame algorithms beyond one-shot SQL — yet still
    oracle-checked: DuckDB rebuilds the same components with a recursive
    CTE over the same pair set.
    """
    from .llm.clustering import dedup_clusters

    d = _t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(
        d, "text", "doc_id", threshold=0.2, shingle_n=2, max_doc_freq=100
    )
    return dedup_clusters(pairs)  # no final orderBy: display-only on fact-grain output (SCALE.md final-sort policy)


@query("llm_ann_ivf", oracle=None)
def llm_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: seeded k-means coarse quantizer (16 cells), probe the 4
    nearest cells per query, exact cosine rerank inside them — probes
    ~25% of the corpus instead of 100%. Rows-only (k-means cell
    boundaries are model-internal); recall vs the exact baseline is
    asserted in tests/test_llm.py.
    """
    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 10)
    return ivf_ann_topk(e, q, k=5)  # no final orderBy: display-only on fact-grain output (SCALE.md final-sort policy)


@query(
    "llm_gopher_rules",
    oracle="""
    WITH base AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS toks,
             list_filter(string_split(text, chr(10)), x -> trim(x) <> '') AS lines,
             len(text) - len(replace(text, '#', '')) AS n_hash,
             (len(text) - len(replace(text, '...', ''))) / 3 AS n_ell,
             len(regexp_replace(trim(text), '\\s+', '', 'g')) AS tok_chars
      FROM documents
    ), vals AS (
      SELECT doc_id,
             len(toks) AS n_words,
             tok_chars / len(toks) AS mean_word_len,
             (n_hash + n_ell) / len(toks) AS symbol_ratio,
             len(list_filter(lines, x -> starts_with(trim(x), '-')
                 OR starts_with(trim(x), '*') OR starts_with(trim(x), '•')))
               / len(lines) AS bullet_ratio,
             len(list_filter(lines, x -> ends_with(trim(x), '...')))
               / len(lines) AS ellipsis_ratio,
             len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]')))
               / len(toks) AS alpha_frac,
             len(list_intersect(list_distinct(toks),
                 ['the','be','to','of','and','that','have','with'])) AS stop_hits
      FROM base
    )
    SELECT doc_id,
           CAST(n_words AS INT) AS n_words,
           ROUND(mean_word_len, 6) AS mean_word_len,
           ROUND(symbol_ratio, 6) AS symbol_ratio,
           ROUND(bullet_ratio, 6) AS bullet_ratio,
           ROUND(ellipsis_ratio, 6) AS ellipsis_ratio,
           ROUND(alpha_frac, 6) AS alpha_frac,
           CAST(stop_hits AS INT) AS stop_hits,
           CAST(n_words BETWEEN 20 AND 80 AS INT) AS r_word_count,
           CAST(mean_word_len BETWEEN 3.0 AND 10.0 AS INT) AS r_mean_word_len,
           CAST(symbol_ratio <= 0.1 AS INT) AS r_symbol,
           CAST(bullet_ratio <= 0.9 AS INT) AS r_bullet,
           CAST(ellipsis_ratio <= 0.3 AS INT) AS r_ellipsis,
           CAST(alpha_frac >= 0.8 AS INT) AS r_alpha,
           CAST(stop_hits >= 1 AS INT) AS r_stopwords,
           CAST(n_words BETWEEN 20 AND 80
                AND mean_word_len BETWEEN 3.0 AND 10.0
                AND symbol_ratio <= 0.1 AND bullet_ratio <= 0.9
                AND ellipsis_ratio <= 0.3 AND alpha_frac >= 0.8
                AND stop_hits >= 1 AS INT) AS pass_gate
    FROM vals ORDER BY doc_id
    """,
)
def llm_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/MassiveText structural quality gate (Rae et al. 2021,
    appendix A1.1): word-count bounds, mean-word-length [3,10],
    symbol-to-word ratio, bullet/ellipsis line ratios, alpha-word
    fraction >= 0.8, >= 2 distinct required stopwords — per-rule 0/1
    verdicts + conjunctive pass_gate (llm/curation.py:gopher_rules).
    Complements llm_repetition_filter (the frequency half of the Gopher
    filter). Word-count bounds scaled to the fixture's 10-99-word docs
    (production: 50..100k); the line-structure rules compute real
    ratios but cannot fail on this single-line punctuation-free
    fixture — the discriminating rules here are word-count (358/500
    pass) and the stopword minimum (1 here vs the published 2: the
    fixture vocabulary holds only 'the' from the 8-word set, splitting
    382/118). Shuffle-free single scan, pure codegen Columns.
    """
    from .llm.curation import gopher_rules
    from .sources.pqmeta import fanout_starved_scan

    d = fanout_starved_scan(
        _t(spark, sf_dir, "documents"), spark, sf_dir, "documents"
    )  # guide §2.5: row-group-starved scan serializes the regex kernel
    return gopher_rules(
        d, "text", "doc_id", min_words=20, max_words=80, min_stop_hits=1
    )  # no final orderBy: display-only on fact-grain output (SCALE.md final-sort policy)


@query(
    "llm_html_strip",
    oracle="""
    WITH marked AS (
      SELECT doc_id,
             '<html><body><h1>T</h1><p class="x">' || text || '</p>'
             || CASE WHEN doc_id % 2 = 0
                     THEN '<script>var x = 1 < 2;</script>'
                     ELSE '<style>p { color: red }</style>' END
             || CASE WHEN doc_id % 3 = 0
                     THEN '<p>Tom &amp; Jerry say 1 &lt; 2 &amp;&nbsp;more</p>'
                     ELSE '' END
             || '</body></html>' AS h
      FROM documents
    ), cleaned AS (
      SELECT doc_id,
             trim(regexp_replace(
               replace(replace(replace(replace(replace(replace(
                 regexp_replace(
                   regexp_replace(
                     regexp_replace(h, '<script[^>]*>.*?</script>', ' ', 'gis'),
                     '<style[^>]*>.*?</style>', ' ', 'gis'),
                   '<[^>]+>', ' ', 'gs'),
                 '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
                 '&#39;', chr(39)), '&nbsp;', ' '), '&amp;', '&'),
               '\\s+', ' ', 'g')) AS clean
      FROM marked
    )
    SELECT doc_id, CAST(len(clean) AS INT) AS n_chars_clean,
           md5(clean) AS clean_digest
    FROM cleaned ORDER BY doc_id
    """,
)
def llm_html_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl text extraction (llm/text.py:strip_markup): the fixture is
    plain text, so deterministic markup is synthesized per doc in BOTH
    engines (tag wrapper, a script-or-style block with droppable
    content by id parity, an entity-laden paragraph for ids % 3 = 0),
    then each side strips blocks → tags → decodes entities (amp LAST,
    after tag removal — decode-first would re-materialize '&lt;script&gt;'
    as a live tag) → collapses whitespace. md5 digests must agree
    byte-for-byte, proving the Java-regex and RE2 pipelines implement
    the same extraction. Fully codegen, shuffle-free scan.
    """
    from .llm.text import strip_markup
    from .sources.pqmeta import fanout_starved_scan

    d = fanout_starved_scan(
        _t(spark, sf_dir, "documents"), spark, sf_dir, "documents"
    )  # guide §2.5: row-group-starved scan serializes the regex kernel
    h = F.concat(
        F.lit('<html><body><h1>T</h1><p class="x">'),
        F.col("text"),
        F.lit("</p>"),
        F.when(
            F.col("doc_id") % 2 == 0, F.lit("<script>var x = 1 < 2;</script>")
        ).otherwise(F.lit("<style>p { color: red }</style>")),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.lit("<p>Tom &amp; Jerry say 1 &lt; 2 &amp;&nbsp;more</p>"),
        ).otherwise(F.lit("")),
        F.lit("</body></html>"),
    )
    return d.select(
        "doc_id",
        F.length(strip_markup(h)).cast("int").alias("n_chars_clean"),
        F.md5(strip_markup(h)).alias("clean_digest"),
    )  # no final orderBy: display-only on fact-grain output (SCALE.md final-sort policy)


@query(
    "llm_dedup_rate_report",
    oracle="""
    WITH corpus AS (
      SELECT doc_id, source, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000, source || '_m', text FROM documents
    ), fp AS (
      SELECT doc_id, source,
             md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS f
      FROM corpus
    ), k AS (
      SELECT f, MIN(doc_id) AS keeper FROM fp GROUP BY f
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN doc_id <> keeper THEN 1 ELSE 0 END) AS BIGINT) AS n_dupes,
           ROUND(AVG(CASE WHEN doc_id <> keeper THEN 1.0 ELSE 0.0 END), 6) AS dup_frac
    FROM fp JOIN k USING (f)
    GROUP BY source ORDER BY source
    """,
)
def llm_dedup_rate_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source dedup-rate report — the operational artifact a corpus
    owner reads after every crawl: for each source, how many documents
    it contributed and what fraction are duplicates of an
    earlier-keeper document ANYWHERE in the corpus (global keeper = min
    doc_id per content digest, so cross-source duplicates attribute to
    the later source — the mirrored '_m' sources here report
    dup_frac 1.0 while originals report their natural rate). Plan:
    digest groupBy for keepers + one narrow join back; document bodies
    shuffle only as 16-byte digests (SURVEY.md §2 C-llm-dedup
    reporting tier).
    """
    d = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    corpus = d.unionByName(
        d.select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            F.concat(F.col("source"), F.lit("_m")).alias("source"),
            "text",
        )
    )
    # one shuffle, not two: keeper-per-group via a window min instead of
    # aggregate + join-back, over a 128-bit xxhash64 pair instead of an
    # md5 hex string (half the exchange width, no hex encode; the
    # differentiating literal folds FIRST so the two lanes are
    # independent — see llm/spans.py). The oracle groups by md5: group
    # IDENTITY is what parity needs, not the same hash function.
    # Bodies are dropped before the exchange (text never shuffles).
    from .llm.dedup import normalize_text

    norm = normalize_text(F.col("text"))
    fp = corpus.select(
        "doc_id",
        "source",
        F.xxhash64(F.lit(0), norm).alias("__h1"),
        F.xxhash64(F.lit(1), norm).alias("__h2"),
    )
    w = Window.partitionBy("__h1", "__h2")
    flagged = fp.withColumn(
        "__is_dup", (F.col("doc_id") != F.min("doc_id").over(w)).cast("int")
    )
    return (
        flagged.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("__is_dup").cast("bigint").alias("n_dupes"),
            F.round(F.avg("__is_dup"), 6).alias("dup_frac"),
        )
        .orderBy("source")
    )


@query(
    "llm_unicode_nfc",
    oracle="""
    WITH seeded AS (
      SELECT doc_id,
             text || CASE WHEN doc_id % 3 = 0 THEN ' caf' || chr(101) || chr(769)
                          WHEN doc_id % 3 = 1 THEN ' caf' || chr(233)
                          ELSE '' END AS t2
      FROM documents
    )
    SELECT doc_id,
           CAST(nfc_normalize(t2) <> t2 AS INT) AS changed,
           md5(nfc_normalize(t2)) AS nfc_digest
    FROM seeded ORDER BY doc_id
    """,
)
def llm_unicode_nfc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode canonical composition (NFC) before content hashing: the
    fixture is ASCII, so a deterministic accent suffix is injected per
    doc_id residue (decomposed 'e'+U+0301 for 0 mod 3, precomposed
    U+00E9 for 1 mod 3, none otherwise) in BOTH engines, then each side
    normalizes with its own implementation — Python unicodedata
    (llm/dedup.py:nfc_text, Arrow-batched) vs DuckDB utf8proc
    nfc_normalize — and the md5 digests must agree byte-for-byte. Docs
    carrying the decomposed form must report changed=1 (NFC composes
    them); all others changed=0. Without this pre-pass,
    canonically-equivalent duplicates hash apart in llm_exact_dedup
    (pinned in tests/test_llm.py).
    """
    from .llm.dedup import nfc_text

    d = _t(spark, sf_dir, "documents")
    t2 = F.concat(
        F.col("text"),
        # explicit escapes: the source-file encoding must not decide which
        # form each branch carries (oracle: chr(101)||chr(769) vs chr(233))
        F.when(F.col("doc_id") % 3 == 0, F.lit(" caf" + "e\u0301"))
        .when(F.col("doc_id") % 3 == 1, F.lit(" caf\u00e9"))
        .otherwise(F.lit("")),
    )
    seeded = d.select("doc_id", t2.alias("t2"))
    # normalize ONCE: each nfc_text call is its own Arrow round-trip of
    # the full corpus, and deriving both output columns from one
    # normalized column halves the dominant cost (measured at 64x:
    # 3.46x -> see BASELINE.md round-5 NFC row)
    return (
        seeded.withColumn("__n", nfc_text(F.col("t2")))
        .select(
            "doc_id",
            (F.col("__n") != F.col("t2")).cast("int").alias("changed"),
            F.md5(F.col("__n")).alias("nfc_digest"),
        )
    )


@query("llm_ann_ivf_pq", oracle=None)
def llm_ann_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ compressed-index ANN (Jégou et al. 2011): coarse k-means
    cells + product-quantized residual codes (m=8 subspaces × 32
    codewords = 8 bytes/vector, a 32× scan-size cut vs raw 64-dim
    floats), ADC lookup-table scan over the 4 probed cells, exact
    cosine rerank of the 40-candidate shortlist
    (llm/similarity.py:ivf_pq_ann_topk). This is the 100 TB embedding-
    search plan: train on a driver sample, broadcast codebooks, scan
    CODES not vectors. Rows-only (k-means + code distortion are
    model-internal); recall vs the exact baseline decomposed and
    asserted in tests/test_llm.py (code+rerank quality 0.92 unpruned,
    0.72 with 4/8-cell pruning on this uniform-random testdata — the
    same noise-floor caveat as llm_ann_ivf/llm_ann_lsh).
    """
    from .llm.similarity import ivf_pq_ann_topk

    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 10)
    return ivf_pq_ann_topk(
        e, q, k=5, m=8, ks=32, num_cells=8, nprobe=4, refine=8
    )  # no final orderBy: display-only on fact-grain output (SCALE.md final-sort policy)


@query("llm_pq_index_delta", oracle=None)
def llm_pq_index_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental PQ index (the embedding twin of
    llm_minhash_index_delta): the daily-crawl pattern is "index today's
    shard against yesterday's corpus without re-encoding it". Codebooks
    are trained ONCE on the base corpus (pq_build_index); the new shard
    (ids shifted, vectors deterministically reversed) is encoded with
    the FROZEN model (llm/similarity.py:pq_encode) and its codes
    appended to the base index; queries run over the union. Rows-only
    (code geometry is model-internal); appended-delta == encode-
    everything equality and persist-reload equivalence pinned in
    tests/test_llm.py. Retrain is a measured decision (rising ADC
    residuals), not a per-shard cost.
    """
    from .llm.similarity import pq_build_index, pq_encode, pq_query_index

    e = _t(spark, sf_dir, "embeddings")
    base_index, model = pq_build_index(e, m=8, ks=32, num_cells=8)
    e = e.select("vec_id", "embedding")
    shard = e.select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.reverse(F.col("embedding")).alias("embedding"),
    )
    full_index = base_index.unionByName(pq_encode(shard, model))
    corpus = e.unionByName(shard)
    q = e.filter(F.col("vec_id") < 5)
    return pq_query_index(
        full_index, model, q, corpus, k=5, nprobe=4, refine=8
    )  # no final orderBy: display-only on fact-grain output (SCALE.md final-sort policy)


@query("llm_bpe_merges", oracle=None)
def llm_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer training: the first 12 BPE merges learned from the
    corpus word-frequency table (Sennrich-style, end-of-word marker,
    deterministic tie-break) — llm/bpe.py. Iterative: each round is one
    pair-count aggregate over the VOCABULARY table (never the corpus)
    plus an Arrow-batched merge map, lineage truncated per round.
    Rows-only (iterative, not SQL-expressible); differential-tested
    against a sequential reference implementation in tests/test_llm.py.
    """
    from .llm.bpe import learn_bpe_merges

    d = _t(spark, sf_dir, "documents")
    return learn_bpe_merges(d, "text", num_merges=12).orderBy("rank")


@query("llm_semantic_dedup", oracle=None)
def llm_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup: seeded k-means cells over the
    embeddings with multi-probe assignment (each vector lands in its 2
    nearest cells, recovering cross-cell near-dups), within-cell cosine
    >= 0.42 flags the higher id as a duplicate of the lowest matching
    keeper (llm/similarity.py). Rows-only (k-means cell boundaries are
    model-internal); precision + multi-probe recall vs the exact
    quadratic pair set asserted in tests/test_llm.py (0.556 -> 0.963
    recall at probes 1 -> 2 on sf0.001).
    """
    from .llm.similarity import semantic_dedup

    e = _t(spark, sf_dir, "embeddings")
    return semantic_dedup(e, threshold=0.42)  # no final orderBy: display-only on fact-grain output (SCALE.md final-sort policy)


@query(
    "llm_stratified_sample",
    oracle="""
    WITH ranked AS (
      SELECT doc_id, lang,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY lang) AS n_lang
      FROM documents
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_sampled,
           CAST(MIN(n_lang) AS BIGINT) AS n_total,
           CAST(SUM(doc_id) AS BIGINT) AS id_sum,
           MIN(md5(CAST(doc_id AS VARCHAR))) AS first_hash
    FROM ranked
    WHERE rn <= CEIL(n_lang * 0.2)
    GROUP BY lang ORDER BY lang
    """,
)
def llm_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: exactly ceil(20%) of each lang
    stratum, chosen by content-hash order — reproducible across engines,
    partitionings, and re-plans (training-data pipelines need the SAME
    sample every run; ``df.sampleBy`` is approximate and layout-
    dependent).

    Round-10 rewrite: selection rides the two-pass hash-threshold quota
    device (llm/curation.py:hash_quota_select) — the per-stratum
    row_number sort capped parallelism at |langs| tasks regardless of
    cluster size; the device keeps the IDENTICAL row set (ties broken by
    doc_id) with one tiny bucket-histogram exchange plus a rank over only
    the boundary bucket, so the oracle keeps its row_number form.
    """
    from .llm.curation import group_counts, hash_bucket_histogram, hash_quota_select

    d = _t(spark, sf_dir, "documents").select("lang", "doc_id")
    hist = hash_bucket_histogram(d, "lang", "doc_id")
    counts = group_counts(hist, "lang")  # no second corpus scan
    quotas = counts.select(
        "lang", F.ceil(F.col("n_total") * 0.2).cast("long").alias("__quota")
    )
    kept = hash_quota_select(d, "lang", "doc_id", quotas, histogram=hist)
    return (
        kept.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            # membership-sensitive digests: identical counts with different
            # members would still fail the comparison
            F.sum("doc_id").alias("id_sum"),
            F.min(F.md5(F.col("doc_id").cast("string"))).alias("first_hash"),
        )
        # NULL-SAFE report join (round-10 ADVICE): a plain equi-join
        # would drop a NULL-lang stratum that the row_number oracle
        # ranks as its own partition — undoing the null-safe joins
        # inside hash_quota_select.
        .join(
            F.broadcast(counts.withColumnRenamed("lang", "__cg")),
            F.col("lang").eqNullSafe(F.col("__cg")),
        )
        .drop("__cg")
        .select("lang", "n_sampled", "n_total", "id_sum", "first_hash")
        .orderBy("lang")
    )


@query(
    "llm_bm25_search",
    oracle="""
    WITH tok AS (
      SELECT doc_id,
             unnest(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')) AS term
      FROM documents
    ), dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY 1),
    stats AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dl),
    tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM tok
      WHERE term IN ('spark', 'query', 'batch') GROUP BY 1, 2
    ), dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
    scored AS (
      SELECT t.doc_id,
             (LN((s.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0) * (t.tf * 2.2))
             / (t.tf + 1.2 * (0.25 + 0.75 * l.dl / s.avgdl)) AS sc
      FROM tf t JOIN dl l USING (doc_id) JOIN dfreq d USING (term), stats s
    )
    SELECT doc_id, ROUND(SUM(sc), 6) AS bm25,
           CAST(COUNT(*) AS BIGINT) AS n_terms
    FROM scored GROUP BY doc_id
    ORDER BY bm25 DESC, doc_id LIMIT 10
    """,
)
def llm_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval (k1=1.2, b=0.75) for a 3-term query over
    the corpus — the classic lexical-search scorer (Robertson-Sparck
    Jones IDF with the +1 floor, as in Lucene). Plan: one token explode
    feeds doc-length, corpus stats, and per-term tf; df and the 1-row
    (N, avgdl) stats broadcast onto the tf table (same tiny-broadcast
    shape as llm_unigram_logprob); top-10 via rounded-score sort with
    doc_id tie-break so the cutoff is engine-exact. Both engines
    compute the identical fp expression tree (operation order mirrored
    term by term), rounded to 6 decimals.
    """
    return (
        _bm25_scored(spark, sf_dir, ["spark", "query", "batch"])
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(10)
    )


def _bm25_scored(spark: SparkSession, sf_dir: str, qterms: list[str]) -> DataFrame:
    """Per-document BM25 score table (doc_id, bm25 rounded 6, n_terms)
    for a fixed query — the shared retrieval stage behind
    ``llm_bm25_search`` and the hybrid-RRF entry."""
    from .functions.strings import tokens

    d = _t(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(tokens("text")).alias("term"))
    dl = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    tf = (
        tok.where(F.col("term").isin(qterms))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf.join(dl, "doc_id")
        .join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "sc",
            (
                F.log((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
                * (F.col("tf") * 2.2)
            )
            / (F.col("tf") + 1.2 * (0.25 + 0.75 * F.col("dl") / F.col("avgdl"))),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.round(F.sum("sc"), 6).alias("bm25"),
        F.count(F.lit(1)).cast("bigint").alias("n_terms"),
    )


@query(
    "llm_tfidf_top_terms",
    oracle="""
    WITH tok AS (
      SELECT DISTINCT doc_id,
             unnest(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')) AS term
      FROM documents
    ), n_docs AS (SELECT COUNT(DISTINCT doc_id) AS n FROM tok),
    df AS (SELECT term, COUNT(*) AS doc_freq FROM tok GROUP BY term),
    tf AS (
      SELECT doc_id,
             unnest(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')) AS term
      FROM documents
    ), tf_counts AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM tf GROUP BY 1, 2
    ), scored AS (
      SELECT t.doc_id, t.term,
             ROUND(t.tf * LN((SELECT n FROM n_docs) * 1.0 / d.doc_freq), 6) AS tfidf
      FROM tf_counts t JOIN df d USING (term)
    ), ranked AS (
      SELECT doc_id, term, tfidf,
             ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rk
      FROM scored
    )
    SELECT doc_id, term, tfidf, CAST(rk AS INT) AS rk
    FROM ranked WHERE rk <= 2 AND doc_id < 100
    ORDER BY doc_id, rk
    """,
)
def llm_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF top-2 terms per document (first 100 docs): term frequency
    per doc x ln(N/df) corpus weight, ranked per doc. Three distributed
    aggregations (tf, df, N) + one broadcast-sized join on the term
    vocabulary — the vocabulary/keyword-extraction primitive of corpus
    pipelines (SURVEY.md §2 C-llm-text). Scores are rounded to 6
    decimals BEFORE ranking on both sides (the llm_bm25_search rule,
    FLOATS.md): ln() is only faithfully rounded, so ranking raw doubles
    would let a 1-ulp libm difference flip a near-tie's row_number;
    on the rounded grid ties are exact and the term tie-break decides.
    """
    from pyspark.sql import Window

    from .functions.strings import tokens

    d = _t(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(tokens("text")).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tok.distinct().groupBy("term").agg(F.count(F.lit(1)).alias("doc_freq"))
    n_docs = tok.select("doc_id").distinct().count()
    scored = tf.join(F.broadcast(df_), "term").select(
        "doc_id", "term",
        F.round(
            F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("doc_freq")), 6
        ).alias("tfidf"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("term"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter((F.col("rk") <= 2) & (F.col("doc_id") < 100))
        .select("doc_id", "term", "tfidf", F.col("rk").cast("int").alias("rk"))
        .orderBy("doc_id", "rk")
    )


@query(
    "llm_token_frequency",
    oracle="""
    WITH tok AS (
      SELECT unnest(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')) AS term
      FROM documents
    )
    SELECT term, CAST(COUNT(*) AS BIGINT) AS freq
    FROM tok GROUP BY term
    ORDER BY freq DESC, term LIMIT 100
    """,
)
def llm_token_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token-frequency table, top 100 — the vocabulary-building
    primitive for tokenizer training (BPE seed vocab, frequency cutoffs).
    explode → map-side partial count → tiny shuffle on the term key; at
    100 TB the explode multiplies rows ~200x but the partial aggregate
    collapses them within each scan partition before any data moves.
    Ties broken by term so the top-100 cutoff is engine-independent.
    """
    from .functions.strings import tokens

    d = _t(spark, sf_dir, "documents")
    return (
        d.select(F.explode(tokens("text")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.col("freq").desc(), "term")
        .limit(100)
    )


@query(
    "llm_fuzzy_prefix_pairs",
    oracle="""
    WITH d AS MATERIALIZED (
      SELECT doc_id, lang, source,
             substr(trim(lower(text)), 1, 40) AS pfx,
             substr(trim(lower(text)), 1, 6) AS blk
      FROM documents
    ),
    ok AS MATERIALIZED (
      SELECT lang, source, blk FROM d
      GROUP BY lang, source, blk HAVING count(*) <= 64
    ),
    db AS MATERIALIZED (
      SELECT d.* FROM d JOIN ok USING (lang, source, blk)
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(levenshtein(a.pfx, b.pfx) AS INT) AS edit_dist
    FROM db a JOIN db b
      ON a.lang = b.lang AND a.source = b.source AND a.blk = b.blk
         AND a.doc_id < b.doc_id
    WHERE levenshtein(a.pfx, b.pfx) <= 24
    ORDER BY id_a, id_b
    """,
)
def llm_fuzzy_prefix_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance fuzzy matching with BOUNDED-OCCUPANCY blocking
    (round-5 rewrite of the round-2 scale-killer): candidate pairs are
    blocked on ``(lang, source, head)`` where ``head`` is the first 6
    chars of the normalized 40-char prefix — a content-derived key whose
    cardinality GROWS with the corpus (911 distinct heads / 5,000 docs
    at sf0.1, max block 10), unlike the old fixed-cardinality
    ``(lang, source)`` key whose block sizes grew linearly and made the
    within-block Levenshtein verify quadratic (judge-measured 49.9 s at
    16x). A ``max_block=64`` cap (mirrored in the oracle) bounds the
    worst case even under template spam, making total pairs provably
    linear: <= n_blocks * 64^2. Length-bucketing the prefix would NOT
    work here (nearly every prefix is exactly 40 chars — the bucket
    would again be fixed-cardinality); the head IS the cheap fingerprint
    the old docstring prescribed, chosen over a SimHash band because
    ``substr`` is byte-identical across Spark and DuckDB so the oracle
    mirrors exactly. Plan shape: ONE shuffle (groupBy block key ->
    postings list), cap as an array-size filter, in-row double-explode
    pair generation, codegen Levenshtein verify — the same postings-list
    fusion as ngram_jaccard_pairs (llm/dedup.py:214).
    """
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source",
        F.substring(F.trim(F.lower(F.col("text"))), 1, 40).alias("pfx"),
    ).withColumn("blk", F.substring("pfx", 1, 6))
    par = spark.sparkContext.defaultParallelism
    # the capped postings table is BYTE-small, so AQE coalesces the
    # groupBy output to one partition — and the downstream explode +
    # Levenshtein work is per-PAIR, not per-byte (measured at 64x
    # sf0.1: 1.8M verifies on 1 core = 19 s; repartitioned = ~1 s).
    # Explicit fan-out after the cap restores the parallelism AQE's
    # byte heuristic can't see. No final orderBy: the driver's compare
    # is order-insensitive and a global sort range-samples its input,
    # executing the whole plan twice (measured 20 s -> 39 s at 64x).
    posts = (
        d.groupBy("lang", "source", "blk")
        .agg(F.collect_list(F.struct("doc_id", "pfx")).alias("ps"))
        .where(F.size("ps") <= 64)
        .repartition(par)
    )
    return (
        posts.select(F.explode("ps").alias("a"), F.col("ps"))
        .select("a", F.explode("ps").alias("b"))
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .withColumn("edit_dist", F.levenshtein(F.col("a.pfx"), F.col("b.pfx")).cast("int"))
        .filter(F.col("edit_dist") <= 24)
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            "edit_dist",
        )
    )


@query(
    "llm_pii_redaction",
    oracle="""
    WITH seeded AS (
      SELECT doc_id,
             text || ' contact user' || doc_id ||
             '@example.com or +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
             AS text
      FROM documents WHERE doc_id % 10 = 0
    )
    SELECT doc_id,
           CAST(length(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS INT) AS n_emails,
           CAST(length(regexp_extract_all(text, '\\+1-555-[0-9]{4}')) AS INT) AS n_phones,
           CAST(length(regexp_replace(regexp_replace(text,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
                 '\\+1-555-[0-9]{4}', '[PHONE]', 'g')) AS BIGINT) AS red_len
    FROM seeded
    ORDER BY doc_id
    """,
)
def llm_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing: plant synthetic emails/phones into every 10th doc
    (the corpus has none), then detect and redact with anchored regexes
    — the pre-training scrub pass. Pure JVM regexp_extract_all /
    regexp_replace: stays in codegen, no Python in the hot path; the
    patterns are chosen to parse identically under Java regex and RE2
    so the oracle is engine-exact.
    """
    email_re = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
    phone_re = r"\+1-555-[0-9]{4}"
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    seeded = d.select(
        "doc_id",
        F.concat(
            F.col("text"), F.lit(" contact user"), F.col("doc_id").cast("string"),
            F.lit("@example.com or +1-555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        ).alias("text"),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(F.col("text"), email_re, "[EMAIL]"), phone_re, "[PHONE]"
    )
    return seeded.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(email_re), 0)).cast("int").alias("n_emails"),
        F.size(F.regexp_extract_all("text", F.lit(phone_re), 0)).cast("int").alias("n_phones"),
        F.length(redacted).cast("bigint").alias("red_len"),
    )  # no final orderBy: display-only on fact-grain output (SCALE.md final-sort policy)


@query(
    "llm_chunk_documents",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS tk
      FROM documents
    )
    SELECT doc_id,
           CAST(s // 15 AS INT) AS chunk_id,
           CAST(len(tk[CAST(s + 1 AS INT):CAST(s + 20 AS INT)]) AS INT) AS n_tokens,
           md5(array_to_string(tk[CAST(s + 1 AS INT):CAST(s + 20 AS INT)], ' ')) AS chunk_md5
    FROM toks, UNNEST(range(0, len(tk), 15)) AS u(s)
    WHERE len(tk) > 0
    ORDER BY doc_id, chunk_id
    """,
)
def llm_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-window chunking: 20-token windows, stride 15 (5-token
    overlap), one output row per chunk with its md5 identity. The
    explode happens partition-local (no shuffle); the md5 digest rather
    than the text keeps the output narrow — the shape a chunk-level
    dedup or packing stage consumes at 100 TB.
    """
    from .llm.chunking import chunk_by_tokens

    from .sources.pqmeta import fanout_starved_scan

    d = fanout_starved_scan(
        _t(spark, sf_dir, "documents"), spark, sf_dir, "documents"
    )  # guide §2.5: row-group-starved scan serializes the text kernel
    d = d.select("doc_id", "text")
    # no final orderBy: display-only on chunk-grain output (SCALE.md
    # final-sort policy)
    return chunk_by_tokens(d, "text", "doc_id", size=20, stride=15)


@query(
    "llm_repetition_filter",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             unnest(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')) AS t
      FROM documents
    ), tc AS (
      SELECT doc_id, t, COUNT(*) AS c FROM toks GROUP BY 1, 2
    ), tok_stats AS (
      SELECT doc_id, SUM(c) AS n_tokens, MAX(c) AS top_c, COUNT(*) AS n_distinct
      FROM tc GROUP BY 1
    ), tk AS (
      SELECT doc_id, list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS t
      FROM documents
    ), bg AS (
      SELECT doc_id,
             unnest(list_transform(generate_series(1, len(t) - 1), i -> t[i] || ' ' || t[i + 1])) AS b
      FROM tk WHERE len(t) >= 2
    ), bc AS (
      SELECT doc_id, b, COUNT(*) AS c FROM bg GROUP BY 1, 2
    ), big_stats AS (
      SELECT doc_id, SUM(c) AS n_bigrams, MAX(c) AS top_bc FROM bc GROUP BY 1
    ), m AS (
      SELECT ts.doc_id,
             CAST(ts.n_tokens AS BIGINT) AS n_tokens,
             ROUND(ts.top_c / ts.n_tokens, 6) AS top_token_frac,
             ROUND(1 - ts.n_distinct / ts.n_tokens, 6) AS dup_token_frac,
             ROUND(COALESCE(bs.top_bc / bs.n_bigrams, 0), 6) AS top_bigram_frac
      FROM tok_stats ts LEFT JOIN big_stats bs USING (doc_id)
    )
    SELECT *,
           (top_token_frac <= 0.15 AND dup_token_frac <= 0.55
            AND top_bigram_frac <= 0.05) AS passes
    FROM m ORDER BY doc_id
    """,
)
def llm_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality gate: per-doc top-token fraction,
    duplicate-token fraction, and top-bigram fraction, with the pass/
    fail gate attached (llm/curation.py). Two explode → hash-aggregate
    stages; the shuffles carry (doc_id, term) counts, never text — the
    boilerplate/spam pre-filter of corpus pipelines.
    """
    from .llm.curation import repetition_gate, repetition_metrics
    from .sources.pqmeta import fanout_starved_scan

    d = fanout_starved_scan(
        _t(spark, sf_dir, "documents"), spark, sf_dir, "documents"
    )  # guide §2.5: row-group-starved scan serializes the regex kernel
    return repetition_gate(repetition_metrics(d, "text", "doc_id"))  # no final orderBy: display-only on fact-grain output (SCALE.md final-sort policy)


@query(
    "llm_decontamination",
    oracle="""
    WITH tk AS (
      SELECT doc_id, list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS t
      FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(generate_series(1, len(t) - 4),
                    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4])) AS s
      FROM tk WHERE len(t) >= 5
    ), bench AS (SELECT * FROM sh WHERE doc_id % 10 = 0),
    corpus AS (SELECT * FROM sh WHERE doc_id % 10 <> 0)
    SELECT c.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_hit_shingles,
           CAST(COUNT(DISTINCT b.doc_id) AS BIGINT) AS n_bench_docs
    FROM corpus c JOIN bench b ON c.s = b.s
    GROUP BY 1 ORDER BY 1
    """,
)
def llm_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: every 10th doc plays the held-out eval
    set; corpus docs sharing any 5-gram shingle with it are flagged with
    hit counts (llm/curation.py). The benchmark shingle set is broadcast
    — the corpus side never shuffles, the scale shape of the test-set-
    overlap scrub.
    """
    from .llm.curation import decontaminate

    d = _t(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 10 == 0)
    corpus = d.filter(F.col("doc_id") % 10 != 0)
    return decontaminate(corpus, bench, "text", "doc_id", ngram_n=5)  # no final orderBy: display-only on fact-grain output (SCALE.md final-sort policy)


@query(
    "llm_pack_sequences",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             CAST(LEN(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')) AS BIGINT) AS n_tokens
      FROM documents
    ), c AS (
      SELECT doc_id, n_tokens,
             SUM(n_tokens) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM t
    )
    SELECT doc_id, n_tokens,
           CAST(cum - n_tokens AS BIGINT) AS start_pos,
           CAST((cum - n_tokens) // 512 AS BIGINT) AS seq_first,
           CAST((cum - n_tokens) % 512 AS BIGINT) AS seq_offset,
           CAST((cum - 1) // 512 AS BIGINT) AS seq_last
    FROM c WHERE doc_id < 300 ORDER BY doc_id
    """,
)
def llm_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for pretraining: concatenate the token stream in
    doc_id order, cut every 512 tokens; each doc gets its global token
    offset and first/last sequence index. The running total is the
    TWO-PHASE prefix sum (operators/prefix.py) — per-bucket partials,
    a bucket-level cumsum over ~N/64 tiny rows, then parallel
    intra-bucket windows — because a bare ``SUM OVER (ORDER BY)`` plans
    a single-partition sort that cannot survive 100 TB. The oracle IS
    that naive window (safe at DuckDB's scale), pinning equivalence.
    """
    from .llm.curation import pack_sequences

    d = _t(spark, sf_dir, "documents").select("doc_id", token_count("text").cast("bigint").alias("n_tokens"))
    packed = pack_sequences(d, "doc_id", "n_tokens", seq_len=512, bucket_size=64)
    return (
        packed.filter(F.col("doc_id") < 300)
        .select("doc_id", "n_tokens", "start_pos", "seq_first", "seq_offset", "seq_last")
        # no final orderBy: display-only on fact-grain output (SCALE.md final-sort policy)
    )


@query(
    "llm_mix_rebalance",
    oracle="""
    WITH n AS (SELECT COUNT(*) AS total FROM documents),
    ranked AS (
      SELECT doc_id, lang,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY lang) AS n_lang
      FROM documents
    ), kept AS (
      SELECT r.* FROM ranked r, n
      WHERE rn <= (total * (CASE lang WHEN 'en' THEN 2500 ELSE 1200 END)) // 10000
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_kept,
           CAST(MIN(n_lang) AS BIGINT) AS n_total,
           CAST(SUM(doc_id) AS BIGINT) AS id_sum,
           MIN(md5(CAST(doc_id AS VARCHAR))) AS first_hash
    FROM kept GROUP BY lang ORDER BY lang
    """,
)
def llm_mix_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Target-mix rebalancing: downsample each language to a target
    share of the corpus (en 25%, others 12% — integer basis points, so
    the quota arithmetic is engine-exact), members chosen by content-
    hash order (llm/curation.py). Membership-sensitive digests in the
    output catch quota-boundary divergence, not just counts.
    """
    from .llm.curation import group_counts, hash_bucket_histogram, rebalance_mix

    d = _t(spark, sf_dir, "documents")
    hist = hash_bucket_histogram(d, "lang", "doc_id")
    kept = rebalance_mix(
        d, "lang", "doc_id",
        {"de": 1200, "en": 2500, "es": 1200, "fr": 1200, "zh": 1200},
        histogram=hist,
    )
    n_lang = group_counts(hist, "lang")  # from the shared histogram, no scan
    return (
        kept.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("doc_id").alias("id_sum"),
            F.min(F.md5(F.col("doc_id").cast("string"))).alias("first_hash"),
        )
        .join(F.broadcast(n_lang), "lang")
        .select("lang", "n_kept", "n_total", "id_sum", "first_hash")
        .orderBy("lang")
    )


@query(
    "llm_prep_pipeline_e2e",
    oracle="""
    WITH base AS (
      SELECT doc_id, lang,
             list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS tk,
             md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
      FROM documents
    ), filt AS (
      SELECT * FROM base WHERE len(tk) >= 20
    ), dedup AS (
      SELECT * FROM filt
      WHERE doc_id = (SELECT MIN(doc_id) FROM filt f2 WHERE f2.fp = filt.fp)
    ), chunks AS (
      SELECT doc_id, lang,
             len(tk[CAST(s + 1 AS INT):CAST(s + 20 AS INT)]) AS n_tok
      FROM dedup, UNNEST(range(0, len(tk), 15)) AS u(s)
    )
    SELECT lang,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(SUM(n_tok) AS BIGINT) AS n_tokens
    FROM chunks
    GROUP BY lang ORDER BY lang
    """,
)
def llm_prep_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data prep: length gate (>= 20 tokens) →
    exact dedup (min doc_id per normalized-content md5) → token-window
    chunking (20/15) → per-language corpus stats. The full pipeline is
    ONE Catalyst plan: gate and digest are computed in the scan
    projection, the dedup is the only shuffle (16-byte key), the chunk
    explode is partition-local, and the final stats aggregate is
    map-side-partial over 5 language keys.
    """
    from .llm.chunking import chunk_by_tokens
    from .llm.dedup import exact_dedup

    d = _t(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    gated = d.filter(token_count("text") >= 20)
    deduped = exact_dedup(gated, "text", "doc_id")
    chunks = chunk_by_tokens(deduped, "text", "doc_id", size=20, stride=15,
                             keep_cols=("lang",))
    return (
        chunks.groupBy("lang")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum("n_tokens").alias("n_tokens"),
        )
        .orderBy("lang")
    )


@query(
    "llm_source_cap",
    oracle="""
    WITH ranked AS (
      SELECT source, doc_id,
             row_number() OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_total,
           CAST(COUNT(*) FILTER (WHERE rn <= 30) AS BIGINT) AS n_kept,
           CAST(SUM(doc_id) FILTER (WHERE rn <= 30) AS BIGINT) AS kept_id_sum
    FROM ranked GROUP BY source ORDER BY source
    """,
)
def llm_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document capping (web-crawl curation: bound any one
    domain's contribution to the corpus). Docs are ranked inside each
    source by a content-independent deterministic hash order
    (md5(doc_id), doc_id tiebreak) — an unbiased "random but
    reproducible" sample — and only the first 30 survive. kept_id_sum
    pins membership, not just counts.

    Round-10 rewrite: the cap rides the two-pass hash-threshold quota
    device (llm/curation.py:hash_quota_select) instead of a per-source
    row_number over the corpus — same selected rows (oracle unchanged),
    but no |sources|-task sort; only the per-source boundary bucket is
    ever ranked.

    Round-11 rewrite (the round-10 watch row): the entry passes
    ``group_totals`` instead of a pre-built histogram, arming the
    ADAPTIVE TINY-QUOTA path — a fixed cap of 30 over web-scale sources
    is exactly the quota/corpus ratio where the 16^4-bucket histogram
    pass is pure overhead. When every source's cap is ≤ 1/64 of its
    rows (every production corpus; NOT the 25-row sf0.01 groups, which
    exercise the classic fallback), the corpus sees ONE map-only
    broadcast-filtered pass instead of histogram + two union scans; the
    filtered ~8·30·|sources| rows take the exact (md5, id) rank, with a
    verified per-group fallback so membership is unconditionally the
    row_number prefix. The per-source totals the entry needs anyway are
    ONE map-side-combined count pass (20-row state, checkpointed — it
    feeds quota math, the device trigger, and the report join without
    re-scanning). The final report join is NULL-SAFE (round-10 ADVICE:
    a plain equi-join dropped a NULL-source stratum that the row_number
    oracle retains).
    """
    from .llm.curation import hash_quota_select

    d = _t(spark, sf_dir, "documents").select("source", "doc_id")
    counts = (
        d.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_total"))
        .localCheckpoint()
    )
    quotas = counts.select("source", F.lit(30).cast("long").alias("__quota"))
    kept = hash_quota_select(d, "source", "doc_id", quotas, group_totals=counts)
    return (
        kept.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("doc_id").alias("kept_id_sum"),
        )
        .join(
            F.broadcast(counts.withColumnRenamed("source", "__cg")),
            F.col("source").eqNullSafe(F.col("__cg")),
        )
        .drop("__cg")
        .select("source", "n_total", "n_kept", "kept_id_sum")
        .orderBy("source")
    )


@query(
    "llm_unigram_logprob",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             unnest(list_filter(string_split_regex(trim(text), '\\s+'),
                                x -> x <> '')) AS tok
      FROM documents
    ), vocab AS (
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS n FROM toks GROUP BY tok
    ), tot AS (
      SELECT CAST(SUM(n) AS BIGINT) AS t FROM vocab
    ), lp AS (
      SELECT tok,
             CAST(ln(CAST(n AS DOUBLE) / CAST(t AS DOUBLE))
                  AS DECIMAL(18,9)) AS lp
      FROM vocab, tot
    )
    SELECT d.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           ROUND(-CAST(SUM(l.lp) AS DOUBLE) / COUNT(*), 6) AS avg_neg_logprob
    FROM toks d JOIN lp l USING (tok)
    GROUP BY d.doc_id ORDER BY d.doc_id
    """,
)
def llm_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-LM quality scoring: every document scored by the average
    negative log-probability of its tokens under the corpus's own
    unigram model — the cheap perplexity proxy used to rank/filter
    training text. Two aggregations (vocab counts, per-doc score) and
    one broadcast-back of the vocab; ln() is only FAITHFULLY rounded
    (libm implementations legally differ by 1 ulp — FLOATS.md), so each
    logp is quantized to DECIMAL(18,9) (cell 1e-9 ≫ 1-ulp drift) and
    summed as DECIMAL so the per-doc total is order-independent — float
    sums would drift across partitionings. The final average is rounded
    to 6 decimals on both sides so even a decimal-cell flip under a
    different libm (~1e-9 in the sum) cannot move the hashed output.
    At 100 TB the vocab table is Zipf-small and broadcastable; the
    token explode is partition-local.

    Round-7 rewrite: tokens cross the wire as fixed-width hash keys,
    not strings (the jaccard/novelty postings device) — the vocab
    groupBy and the lp join-back both key on the hash, so the
    corpus-scale exchange carries fixed 16-byte keys instead of
    variable-length strings — measured 13.6 s → 8.2 s (3.08× → 1.93×,
    under the gate) at 256×. Round 8 widened the key from one xxhash64
    lane to a 128-bit struct of two independently-seeded lanes: the
    64-bit birthday collision (~V²/2⁶⁵) was already ~1e-9 at vocab
    V ≈ 10⁵ but grows quadratically with replica size; at 2¹²⁸ it is
    negligible at ANY corpus size, so parity vs the string-keyed
    oracle no longer carries a documented keyspace caveat.
    """
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    toks = d.select(
        "doc_id",
        F.explode(
            F.filter(F.split(F.trim(F.col("text")), r"\s+"), lambda x: x != "")
        ).alias("tok"),
    ).select(
        "doc_id",
        # 128-bit key: two independently-seeded xxhash64 lanes (the
        # round-8 ADVICE fix — 64-bit birthday collision at 64M grams is
        # ~1e-4 per replica run; two lanes push it below 1e-20 at any
        # replica size). Still fixed-width (16 B) on the wire.
        F.struct(
            F.xxhash64(F.lit(0), "tok").alias("h1"),
            F.xxhash64(F.lit(1), "tok").alias("h2"),
        ).alias("th"),
    )
    vocab = toks.groupBy("th").agg(F.count(F.lit(1)).alias("n"))
    total = vocab.agg(F.sum("n").alias("t"))
    lp = vocab.crossJoin(F.broadcast(total)).select(
        "th",
        F.log(F.col("n").cast("double") / F.col("t").cast("double"))
        .cast("decimal(18,9)")
        .alias("lp"),
    )
    return (
        toks.join(F.broadcast(lp), "th")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(
                -F.sum("lp").cast("double") / F.count(F.lit(1)), 6
            ).alias("avg_neg_logprob"),
        )
        # no final orderBy: display-only on fact-grain output (SCALE.md final-sort policy)
    )


@query(
    "llm_corpus_report",
    oracle="""
    WITH d AS (
      SELECT lang, source,
             len(list_filter(string_split_regex(trim(text), '\\s+'),
                             x -> x <> '')) AS n_tok,
             n_chars
      FROM documents
    )
    SELECT lang, source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
           CAST(quantile_cont(n_tok, 0.5) AS DOUBLE) AS tok_p50,
           CAST(quantile_cont(n_tok, 0.95) AS DOUBLE) AS tok_p95,
           CAST(MIN(n_chars) AS BIGINT) AS min_chars,
           CAST(MAX(n_chars) AS BIGINT) AS max_chars
    FROM d GROUP BY lang, source ORDER BY lang, source
    """,
)
def llm_corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus composition report — the first table anyone building a
    training mix asks for: per (language × source) document/token
    volumes with exact token-length percentiles and char bounds. One
    aggregation pass; token counts ride the scan projection. At 100 TB
    this is the job you schedule after every crawl snapshot, and the
    grain (lang × source) is exactly what mix rebalancing
    (llm_mix_rebalance) consumes downstream.
    """
    d = _t(spark, sf_dir, "documents")
    toks = token_count("text")
    return (
        d.select("lang", "source", toks.alias("n_tok"), "n_chars")
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("n_tokens"),
            F.percentile(F.col("n_tok"), F.lit(0.5)).alias("tok_p50"),
            F.percentile(F.col("n_tok"), F.lit(0.95)).alias("tok_p95"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
        .orderBy("lang", "source")
    )


@query(
    "llm_dedup_canonical",
    oracle="""
    WITH RECURSIVE toks AS (
      SELECT doc_id, string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ') AS t
      FROM documents
    ), sh AS MATERIALIZED (
      SELECT DISTINCT doc_id,
             unnest(list_transform(generate_series(1, len(t) - 1),
                                   i -> t[i] || ' ' || t[i + 1])) AS s
      FROM toks WHERE len(t) >= 2
    ), okj AS (
      SELECT s FROM sh GROUP BY s HAVING COUNT(*) <= 100
    ), shf AS MATERIALIZED (
      SELECT sh.doc_id, sh.s FROM sh JOIN okj USING (s)
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS n FROM shf GROUP BY 1
    ), raw_pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
      FROM shf a JOIN shf b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), pairs AS (
      SELECT id_a, id_b FROM raw_pairs
      JOIN sizes sa ON id_a = sa.doc_id
      JOIN sizes sb ON id_b = sb.doc_id
      WHERE n_common * 1.0 / (sa.n + sb.n - n_common) >= 0.2
    ), sym AS (
      SELECT id_a AS u, id_b AS v FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs
    ), reach(a, b) AS (
      SELECT u, v FROM sym
      UNION
      SELECT r.a, s.v FROM reach r JOIN sym s ON r.b = s.u
    ), comp AS (
      SELECT a AS doc_id, LEAST(a, MIN(b)) AS component
      FROM reach GROUP BY a
    ), ranked AS (
      SELECT c.component, c.doc_id, d.n_chars,
             row_number() OVER (PARTITION BY c.component
                                ORDER BY d.n_chars DESC, c.doc_id) AS rn
      FROM comp c JOIN documents d USING (doc_id)
    )
    SELECT component,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(MAX(CASE WHEN rn = 1 THEN doc_id END) AS BIGINT)
             AS canonical_doc,
           CAST(MAX(CASE WHEN rn = 1 THEN n_chars END) AS BIGINT)
             AS canonical_chars
    FROM ranked GROUP BY component ORDER BY component
    """,
)
def llm_dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-document selection per near-dup cluster — the step
    after cluster formation in every dedup pipeline: one representative
    survives, the rest are dropped. Clusters come from the iterative
    min-label propagation (llm/clustering.py); the representative is a
    deterministic argmax (longest doc, then lowest id) via max_by on a
    (n_chars, -doc_id) struct — no window over the corpus, just a
    cluster-count-sized aggregate. The oracle rebuilds components with
    a recursive CTE and ranks inside each.
    """
    from .llm.clustering import dedup_clusters

    d = _t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(
        d, "text", "doc_id", threshold=0.2, shingle_n=2, max_doc_freq=100
    )
    cl = dedup_clusters(pairs)
    joined = cl.join(d.select("doc_id", "n_chars"), "doc_id")
    pick = F.struct(F.col("n_chars"), (-F.col("doc_id")).alias("neg_id"))
    return (
        joined.groupBy("component")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.max_by("doc_id", pick).alias("canonical_doc"),
            F.max_by("n_chars", pick).alias("canonical_chars"),
        )
        # no final orderBy: display-only on fact-grain output (SCALE.md final-sort policy)
    )


@query(
    "llm_url_parse_cap",
    oracle="""
    WITH urls AS (
      SELECT doc_id,
             'https://' || source || '.example.com/docs/' ||
               CAST(doc_id AS VARCHAR) || '?lang=' || lang AS url
      FROM documents
    ), parsed AS (
      SELECT doc_id,
             regexp_extract(url, '^https?://([^/]+)', 1) AS host,
             regexp_extract(url, '^https?://[^/?]+(/[^?]*)', 1) AS path,
             regexp_extract(url, 'lang=([a-z]+)', 1) AS lang_param
      FROM urls
    )
    SELECT host,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT lang_param) AS BIGINT) AS n_langs,
           MIN(path) AS first_path
    FROM parsed GROUP BY host ORDER BY host
    """,
)
def llm_url_parse_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL decomposition for crawl curation (per-host statistics —
    the prerequisite of per-domain capping): built-in ``parse_url``
    extracts HOST / PATH / QUERY(lang) JVM-side; the oracle replicates
    with regexes. Per-host doc counts and language spread drive crawl
    frontier and cap policy; llm_source_cap applies the cap itself.
    """
    d = _t(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://"), F.col("source"), F.lit(".example.com/docs/"),
        F.col("doc_id").cast("string"), F.lit("?lang="), F.col("lang"),
    )
    parsed = d.select(
        "doc_id",
        F.parse_url(url, F.lit("HOST")).alias("host"),
        F.parse_url(url, F.lit("PATH")).alias("path"),
        F.parse_url(url, F.lit("QUERY"), F.lit("lang")).alias("lang_param"),
    )
    return (
        parsed.groupBy("host")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("lang_param").alias("n_langs"),
            F.min("path").alias("first_path"),
        )
        .orderBy("host")
    )


@query(
    "llm_feature_hashing",
    oracle="""
    WITH toks AS (
      SELECT doc_id, lang,
             unnest(list_filter(string_split_regex(trim(text), '\\s+'),
                                x -> x <> '')) AS tok
      FROM documents
    ), bucketed AS (
      SELECT lang,
             CAST(('0x' || substr(md5(tok), 1, 4))::BIGINT % 8 AS INT) AS bucket
      FROM toks
    )
    SELECT lang, bucket, CAST(COUNT(*) AS BIGINT) AS n_tokens
    FROM bucketed GROUP BY lang, bucket ORDER BY lang, bucket
    """,
)
def llm_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick featurization: tokens land in a fixed number of
    buckets via a portable hash (md5 prefix mod 8 here; xxhash64 JVM-
    side in production) — unbounded vocabulary becomes a fixed-width
    feature space with NO vocabulary table, no fit step, and no shuffle
    beyond the final count. The per-(lang, bucket) mass is the
    bag-of-hashed-words profile a linear classifier consumes.
    """
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "lang",
        F.explode(
            F.filter(F.split(F.trim(F.col("text")), r"\s+"), lambda x: x != "")
        ).alias("tok"),
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("tok")), 1, 4), 16, 10).cast("bigint") % 8
    ).cast("int")
    return (
        toks.select("lang", bucket.alias("bucket"))
        .groupBy("lang", "bucket")
        .agg(F.count(F.lit(1)).alias("n_tokens"))
        .orderBy("lang", "bucket")
    )


@query(
    "llm_dedup_graph_stats",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ') AS t
      FROM documents
    ), sh AS MATERIALIZED (
      SELECT DISTINCT doc_id,
             unnest(list_transform(generate_series(1, len(t) - 1),
                                   i -> t[i] || ' ' || t[i + 1])) AS s
      FROM toks WHERE len(t) >= 2
    ), okj AS (
      SELECT s FROM sh GROUP BY s HAVING COUNT(*) <= 100
    ), shf AS MATERIALIZED (
      SELECT sh.doc_id, sh.s FROM sh JOIN okj USING (s)
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS n FROM shf GROUP BY 1
    ), raw_pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
      FROM shf a JOIN shf b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), pairs AS (
      SELECT id_a, id_b FROM raw_pairs
      JOIN sizes sa ON id_a = sa.doc_id
      JOIN sizes sb ON id_b = sb.doc_id
      WHERE n_common * 1.0 / (sa.n + sb.n - n_common) >= 0.2
    ), deg AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS degree FROM (
        SELECT id_a AS doc_id FROM pairs
        UNION ALL SELECT id_b FROM pairs
      ) GROUP BY doc_id
    )
    SELECT degree,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM deg GROUP BY degree ORDER BY degree
    """,
)
def llm_dedup_graph_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the near-dup similarity graph — the
    diagnostic run BEFORE clustering: a heavy tail here means template
    spam (one page duplicated thousands of times), which blows up
    candidate buckets and is exactly what LSH band-size tuning and AQE
    skew handling have to absorb. Pairs are the same exact-Jaccard set
    the cluster queries use; the histogram is two tiny aggregates over
    the pair list.
    """
    d = _t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(
        d, "text", "doc_id", threshold=0.2, shingle_n=2, max_doc_freq=100
    )
    deg = (
        pairs.select(F.col("id_a").alias("doc_id"))
        .unionAll(pairs.select(F.col("id_b").alias("doc_id")))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    return (
        deg.groupBy("degree")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("degree")
    )


@query(
    "llm_duplicate_spans",
    oracle="""
    WITH toks AS (
      SELECT doc_id, list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS t
      FROM documents
    ), pg AS MATERIALIZED (
      SELECT doc_id,
             unnest(generate_series(1, len(t) - 4)) AS pos,
             unnest(list_transform(generate_series(1, len(t) - 4),
                    i -> array_to_string(t[i:i+4], ' '))) AS g
      FROM toks WHERE len(t) >= 5
    ), ok AS (
      SELECT g FROM pg GROUP BY g HAVING COUNT(DISTINCT doc_id) <= 1000
    ), pgf AS MATERIALIZED (
      SELECT pg.doc_id, pg.pos, pg.g FROM pg JOIN ok USING (g)
    ), seeds AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.pos AS pos_a, b.pos AS pos_b
      FROM pgf a JOIN pgf b ON a.g = b.g AND a.doc_id < b.doc_id
    ), isl AS (
      SELECT id_a, id_b, pos_a - pos_b AS diag, pos_a, pos_b,
             pos_a - ROW_NUMBER() OVER (
               PARTITION BY id_a, id_b, pos_a - pos_b ORDER BY pos_a) AS grp
      FROM seeds
    )
    SELECT id_a, id_b,
           CAST(MIN(pos_a) AS BIGINT) AS start_a,
           CAST(MIN(pos_b) AS BIGINT) AS start_b,
           CAST(COUNT(*) + 4 AS BIGINT) AS span_tokens
    FROM isl GROUP BY id_a, id_b, diag, grp
    ORDER BY id_a, id_b, start_a, start_b
    """,
)
def llm_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-substring spans (Lee et al. 2022 style): every
    maximal run of >= 5 verbatim shared tokens between two documents,
    via positioned 5-gram seed matching + diagonal gaps-and-islands
    merge — the distributable equivalent of suffix-array substring
    dedup (llm/spans.py). The oracle re-derives the same spans in SQL
    from raw text. Part of the training-data extension tier (SURVEY.md
    §2 C-llm-dedup).
    """
    from .llm.spans import duplicate_spans

    d = _t(spark, sf_dir, "documents")
    spans = duplicate_spans(d, "text", "doc_id", min_tokens=5, max_doc_freq=1000)
    return spans.select(
        "id_a",
        "id_b",
        F.col("start_a").cast("bigint").alias("start_a"),
        F.col("start_b").cast("bigint").alias("start_b"),
        F.col("span_tokens").cast("bigint").alias("span_tokens"),
    )  # no final orderBy: display-only on fact-grain output (SCALE.md final-sort policy)


@query(
    "llm_quality_classifier",
    oracle="""
    WITH toks AS (
      SELECT doc_id, list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS t
      FROM documents
    ), logits AS (
      SELECT doc_id,
             CASE WHEN len(t) > 0 THEN
               list_sum(list_transform(t, x ->
                 ((((ascii(substr(md5(x), 1, 1)) * 31 + ascii(substr(md5(x), 2, 1))) * 31
                    + ascii(substr(md5(x), 3, 1))) * 31 + ascii(substr(md5(x), 4, 1)))
                  % 2001 - 1000) / 1000.0)) / sqrt(len(t))
             ELSE 0.0 END AS z
      FROM toks
    )
    SELECT doc_id, ROUND(1.0 / (1.0 + exp(-z)), 6) AS quality_score
    FROM logits ORDER BY doc_id
    """,
)
def llm_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed-feature linear quality classifier (fastText-shape): token
    -> weight-table slot -> summed logit -> sigmoid, all one scan with
    zero shuffles (llm/scoring.py). The weight table is a deterministic
    md5-derived stand-in so the oracle recomputes identical doubles;
    a trained model drops in as a broadcast weight map at the same plan
    shape. Training-data extension tier (SURVEY.md §2 C-llm-text).
    """
    from .llm.scoring import quality_classifier_score

    from .sources.pqmeta import fanout_starved_scan

    d = fanout_starved_scan(
        _t(spark, sf_dir, "documents"), spark, sf_dir, "documents"
    )  # guide §2.5: row-group-starved scan serializes the text kernel
    return d.select(
        "doc_id", F.round(quality_classifier_score("text"), 6).alias("quality_score")
    )  # no final orderBy: display-only on fact-grain output (SCALE.md final-sort policy)


@query("llm_quality_classifier_trained", oracle=None)
def llm_quality_classifier_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION form of the quality classifier (round-10 verdict
    task 6): a real broadcast weight vector (seeded checkpoint stand-in,
    llm/scoring.py:trained_quality_weights) looked up by
    ``pmod(xxhash64(token), V)`` — the fully-codegen'd kernel the
    round-10 race measured at 2.20 s vs the shipped md5 form's 5.06 s
    and the DuckDB oracle's 3.74 s at 64× (UNDER the single-node
    baseline; BASELINE.md). Rows-only by contract: DuckDB cannot replay
    xxhash64, so the md5 twin (``llm_quality_classifier``) carries the
    oracle parity and THIS entry carries the production kernel, pinned
    differentially — the same lookup kernel with the md5 slot function
    and formula weights reproduces the twin's scores bit-for-bit
    (tests/test_llm.py::test_trained_classifier_kernel_drop_in).

    Plan: one scan, zero exchanges, per-doc work linear in tokens —
    unchanged at 100 TB; the weight table rides the plan broadcast
    (32 KB here, ~8 MB at a fastText-sized 2^20 vocabulary).
    """
    from .llm.scoring import hashed_linear_score, trained_quality_weights

    from .sources.pqmeta import fanout_starved_scan

    d = fanout_starved_scan(
        _t(spark, sf_dir, "documents"), spark, sf_dir, "documents"
    )  # guide §2.5: row-group-starved scan serializes the text kernel
    score = F.round(hashed_linear_score("text", trained_quality_weights()), 6)
    return d.select(
        "doc_id",
        score.alias("quality_score"),
        (score >= 0.5).alias("keep"),
    )  # no final orderBy: display-only on fact-grain output (SCALE.md final-sort policy)


@query(
    "llm_shard_manifest",
    oracle="""
    WITH keyed AS (
      SELECT doc_id, text, md5('shuf:' || CAST(doc_id AS VARCHAR)) AS k
      FROM documents
    ), sharded AS (
      SELECT doc_id, text,
             CAST(((ascii(substr(k, 1, 1)) * 31 + ascii(substr(k, 2, 1))) * 31
                   + ascii(substr(k, 3, 1))) % 16 AS INT) AS shard
      FROM keyed
    ), fp AS (
      SELECT shard, doc_id,
             CAST((((((CAST(ascii(substr(md5(text), 1, 1)) AS BIGINT) * 31
                 + ascii(substr(md5(text), 2, 1))) * 31
                 + ascii(substr(md5(text), 3, 1))) * 31
                 + ascii(substr(md5(text), 4, 1))) * 31
                 + ascii(substr(md5(text), 5, 1))) * 31
                 + ascii(substr(md5(text), 6, 1))) AS BIGINT) AS cfp
      FROM sharded
    )
    SELECT shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(doc_id) AS BIGINT) AS id_sum,
           CAST(SUM(cfp) AS BIGINT) AS content_digest,
           MIN(doc_id) AS min_doc,
           MAX(doc_id) AS max_doc
    FROM fp GROUP BY shard ORDER BY shard
    """,
)
def llm_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-shard PROVENANCE MANIFEST: for each of the 16
    deterministic shards (same seeded assignment as llm_corpus_shuffle)
    a membership digest — doc count, id sum, and an ORDER-INDEPENDENT
    content digest (sum of a base-31 fold of each doc's md5) — the
    artifact a reproducibility audit diffs to prove two pipeline runs
    shipped byte-identical training shards. Order-independent sums are
    the scale-honest digest form: they aggregate map-side in any order
    and merge across executors, where an ordered hash chain would
    serialize the shard. Pure Column expressions; oracle recomputes
    every digest independently.
    """
    d = _t(spark, sf_dir, "documents")
    k = F.md5(F.concat(F.lit("shuf:"), F.col("doc_id").cast("string")))

    def a(col, i):
        return F.ascii(F.substring(col, i, 1)).cast("long")

    keyed = d.select("doc_id", "text", k.alias("k"))
    shard = (((a(F.col("k"), 1) * 31 + a(F.col("k"), 2)) * 31 + a(F.col("k"), 3)) % 16).cast("int")
    m = F.md5("text")
    cfp = (
        ((((a(m, 1) * 31 + a(m, 2)) * 31 + a(m, 3)) * 31 + a(m, 4)) * 31 + a(m, 5)) * 31
        + a(m, 6)
    ).cast("bigint")
    # bigint digest: ~3.6e9 max per doc -> the shard sum stays inside
    # int64 to ~2.5e9 docs/shard; widen to DECIMAL(38) or sum modularly
    # beyond that. BIGINT keeps the artifact engine-portable — decimal
    # round-trips as Decimal objects from Spark but float from DuckDB's
    # pandas bridge, which breaks value-comparison harnesses.
    return (
        keyed.select(shard.alias("shard"), "doc_id", cfp.alias("cfp"))
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("doc_id").alias("id_sum"),
            F.sum("cfp").cast("bigint").alias("content_digest"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
        .orderBy("shard")
    )


@query(
    "llm_corpus_shuffle",
    oracle="""
    WITH keyed AS (
      SELECT doc_id, md5('shuf:' || CAST(doc_id AS VARCHAR)) AS k
      FROM documents
    ), sharded AS (
      SELECT doc_id, k,
             CAST(((ascii(substr(k, 1, 1)) * 31 + ascii(substr(k, 2, 1))) * 31
                   + ascii(substr(k, 3, 1))) % 16 AS INT) AS shard
      FROM keyed
    )
    SELECT doc_id, shard,
           CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY k) AS BIGINT) AS pos
    FROM sharded ORDER BY shard, pos
    """,
)
def llm_corpus_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global corpus shuffle for training-data ordering:
    every document gets a seeded md5 shuffle key, a shard (hash of the
    key, 16 shards), and a dense position within its shard — the
    reproducible shuffle+shard pass that feeds sequence packing. The
    only shuffle is the shard exchange itself (that IS the operation);
    per-shard windows sort locally, no global single-partition sort.
    """
    d = _t(spark, sf_dir, "documents")
    k = F.md5(F.concat(F.lit("shuf:"), F.col("doc_id").cast("string")))

    def a(i: int):
        return F.ascii(F.substring(F.col("k"), i, 1)).cast("long")

    keyed = d.select("doc_id", k.alias("k"))
    sharded = keyed.select(
        "doc_id",
        "k",
        (((a(1) * 31 + a(2)) * 31 + a(3)) % 16).cast("int").alias("shard"),
    )
    win = Window.partitionBy("shard").orderBy("k")
    return (
        sharded.select(
            "doc_id",
            "shard",
            F.row_number().over(win).cast("bigint").alias("pos"),
        )
        .orderBy("shard", "pos")
    )


@query("llm_bloom_decontamination", oracle=None)
def llm_bloom_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter-gated decontamination: the benchmark's 5-gram set is
    folded into a 2^18-bit / 4-hash Bloom filter and corpus shingles
    probe it via 4 broadcast joins — bounded build memory regardless of
    benchmark size, no corpus shuffle before the per-doc rollup
    (llm/curation.py:bloom_decontaminate). One-sided error: flags are a
    superset of exact decontamination (asserted in tests/test_llm.py
    with the FP-rate bound); xxhash64 family -> rows-only here.
    """
    from .llm.curation import bloom_decontaminate

    d = _t(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 10 == 0)
    corpus = d.filter(F.col("doc_id") % 10 != 0)
    return bloom_decontaminate(
        corpus, bench, "text", "doc_id", ngram_n=5
    )  # no final orderBy: display-only on fact-grain output (SCALE.md final-sort policy)


@query(
    "llm_bigram_lm",
    oracle="""
    WITH toks AS (
      SELECT list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS t
      FROM documents
    ), bg AS (
      SELECT unnest(list_transform(generate_series(1, len(t) - 1), i -> t[i])) AS w1,
             unnest(list_transform(generate_series(1, len(t) - 1), i -> t[i + 1])) AS w2
      FROM toks WHERE len(t) >= 2
    ), c AS (
      SELECT w1, w2, COUNT(*) AS n FROM bg GROUP BY 1, 2
    ), tot AS (
      SELECT w1, SUM(n) AS nt FROM c GROUP BY 1
    ), ranked AS (
      SELECT c.w1, c.w2, c.n, tot.nt,
             ROW_NUMBER() OVER (PARTITION BY c.w1 ORDER BY c.n DESC, c.w2) AS r
      FROM c JOIN tot USING (w1)
    )
    SELECT w1, w2, CAST(n AS BIGINT) AS n,
           ROUND(n * 1.0 / nt, 6) AS p,
           CAST(r AS BIGINT) AS rank
    FROM ranked WHERE r <= 3 ORDER BY w1, rank
    """,
)
def llm_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-based bigram language model estimation: maximum-likelihood
    P(w2|w1) over the corpus with the top-3 continuations per context
    (deterministic count-desc/word-asc tie-break). Two hash aggregates
    + a per-context window — counts shuffle, text never does; contexts
    partition the ranking so no global sort. The n-gram-LM scoring/
    perplexity counterpart to llm_unigram_logprob.
    """
    t = F.filter(F.split(F.trim(F.col("text")), r"\s+"), lambda x: x != "")
    d = _t(spark, sf_dir, "documents")
    bg = (
        d.select(t.alias("t"))
        .where(F.size("t") >= 2)
        .select(
            F.explode(
                F.arrays_zip(
                    F.slice("t", 1, F.size("t") - 1).alias("w1"),
                    F.slice(F.col("t"), 2, F.size("t") - 1).alias("w2"),
                )
            ).alias("z")
        )
        .select(F.col("z.w1").alias("w1"), F.col("z.w2").alias("w2"))
    )
    c = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n"))
    tot = c.groupBy("w1").agg(F.sum("n").alias("nt"))
    win = Window.partitionBy("w1").orderBy(F.col("n").desc(), F.col("w2"))
    return (
        c.join(tot, "w1")
        .withColumn("rank", F.row_number().over(win))
        .where(F.col("rank") <= 3)
        .select(
            "w1",
            "w2",
            F.col("n").cast("bigint").alias("n"),
            F.round(F.col("n") / F.col("nt"), 6).alias("p"),
            F.col("rank").cast("bigint").alias("rank"),
        )
        .orderBy("w1", "rank")
    )


@query(
    "llm_temperature_mix",
    oracle="""
    WITH cnt AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY 1),
    tot AS (
      -- z as a left fold in sorted-lang order: matches the engine's
      -- deterministic normalizer sum exactly (float + is order-sensitive)
      SELECT SUM(n) AS total,
             list_reduce(list(sqrt(n) ORDER BY lang), (acc, x) -> acc + x) AS z
      FROM cnt
    ), q AS (
      SELECT lang, n,
             CAST(FLOOR(((total * 5000) // 10000) * sqrt(n) / z) AS BIGINT) AS quota
      FROM cnt, tot
    ), ranked AS (
      SELECT doc_id, lang,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      FROM documents
    ), kept AS (
      SELECT r.doc_id, r.lang, q.n, q.quota
      FROM ranked r JOIN q USING (lang) WHERE r.rn <= q.quota
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_kept,
           CAST(MIN(n) AS BIGINT) AS n_total,
           CAST(MIN(quota) AS BIGINT) AS quota,
           CAST(SUM(doc_id) AS BIGINT) AS id_sum,
           MIN(md5(CAST(doc_id AS VARCHAR))) AS first_hash
    FROM kept GROUP BY lang ORDER BY lang
    """,
)
def llm_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-sampled corpus mix (alpha=0.5): per-language quotas
    proportional to sqrt(n_lang), kept total pinned at 50% — the
    tail-upsampling rule of multilingual pretraining mixes
    (llm/curation.py:temperature_mix; sqrt is IEEE-correctly-rounded so
    the quota floors are engine-exact). Membership-sensitive digests
    (id_sum, first_hash) catch quota-boundary divergence.
    """
    from .llm.curation import group_counts, hash_bucket_histogram, temperature_mix

    d = _t(spark, sf_dir, "documents")
    hist = hash_bucket_histogram(d, "lang", "doc_id")
    kept = temperature_mix(d, "lang", "doc_id", keep_bp=5000, alpha=0.5, histogram=hist)
    n_lang = group_counts(hist, "lang")  # from the shared histogram, no scan
    import math

    counts = {r["lang"]: r["n_total"] for r in n_lang.collect()}
    total = sum(counts.values())
    keep_total = total * 5000 // 10000
    z = 0.0  # sorted-order fold — must match curation.temperature_mix
    for _g, _n in sorted(counts.items()):
        z += math.sqrt(_n)
    quota_col = F.lit(None).cast("long")
    for g, n in sorted(counts.items()):
        quota_col = F.when(
            F.col("lang") == g,
            F.lit(int(math.floor(keep_total * math.sqrt(n) / z))),
        ).otherwise(quota_col)
    return (
        kept.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("doc_id").alias("id_sum"),
            F.min(F.md5(F.col("doc_id").cast("string"))).alias("first_hash"),
        )
        .join(F.broadcast(n_lang), "lang")
        .withColumn("quota", quota_col)
        .select("lang", "n_kept", "n_total", "quota", "id_sum", "first_hash")
        .orderBy("lang")
    )


@query("llm_dedup_pagerank", oracle=None)
def llm_dedup_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank centrality over the exact-Jaccard near-dup graph: the
    template-hub detector (a high-rank doc is the page its cluster
    duplicates). 10 damped power-iteration rounds, one join+aggregate
    per round with per-round lineage truncation
    (llm/clustering.py:pagerank). Floating iteration -> rows-only;
    values pinned against a sequential numpy power iteration in
    tests/test_llm.py.
    """
    from .llm.clustering import pagerank

    d = _t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(
        d, "text", "doc_id", threshold=0.2, shingle_n=2, max_doc_freq=100
    )
    ranks = pagerank(pairs, "id_a", "id_b", damping=0.85, iterations=10)
    return ranks.select(
        F.col("id").alias("doc_id"), F.round("rank", 8).alias("rank")
    ).orderBy(F.col("rank").desc(), "doc_id").limit(20)


@query(
    "llm_blocklist_filter",
    oracle="""
    WITH toks AS (
      SELECT doc_id, list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS t
      FROM documents
    )
    SELECT doc_id,
           CAST(len(list_filter(t, x -> x IN ('merge', 'drop', 'skew'))) AS BIGINT) AS n_hits,
           COALESCE(array_to_string(list_sort(list_intersect(list_distinct(t),
                           ['merge', 'drop', 'skew'])), ','), '') AS hit_terms,
           len(list_filter(t, x -> x IN ('merge', 'drop', 'skew'))) = 0 AS passes
    FROM toks ORDER BY doc_id
    """,
)
def llm_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocklist corpus gate: per-document occurrence counts and matched
    terms against a broadcast wordlist (the NSFW/spam wordlist filter
    every corpus pipeline runs before model-based scoring). Pure Column
    expressions over the token array — the wordlist rides in the plan
    as a literal (at 100 TB: a broadcast join against the list for
    wordlists too large to inline). Flattened hit_terms for the
    driver-hash array constraint.
    """
    block = ["merge", "drop", "skew"]
    d = _t(spark, sf_dir, "documents")
    t = F.filter(F.split(F.trim(F.col("text")), r"\s+"), lambda x: x != "")
    hits = F.filter(t, lambda x: x.isin(block))
    return (
        d.select(
            "doc_id",
            F.size(hits).cast("bigint").alias("n_hits"),
            F.array_join(
                F.array_sort(
                    F.array_intersect(
                        F.array_distinct(t), F.array(*[F.lit(w) for w in block])
                    )
                ),
                ",",
            ).alias("hit_terms"),
            (F.size(hits) == 0).alias("passes"),
        )
        # no final orderBy: display-only on fact-grain output (SCALE.md final-sort policy)
    )


@query(
    "llm_span_dedup_clean",
    oracle="""
    WITH toks AS (
      SELECT doc_id, list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS t
      FROM documents
    ), pg AS MATERIALIZED (
      SELECT doc_id,
             unnest(generate_series(1, len(t) - 4)) AS pos,
             unnest(list_transform(generate_series(1, len(t) - 4),
                    i -> array_to_string(t[i:i+4], ' '))) AS g
      FROM toks WHERE len(t) >= 5
    ), ok AS (
      SELECT g FROM pg GROUP BY g HAVING COUNT(DISTINCT doc_id) <= 1000
    ), pgf AS MATERIALIZED (
      SELECT pg.doc_id, pg.pos, pg.g FROM pg JOIN ok USING (g)
    ), seeds AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.pos AS pos_a, b.pos AS pos_b
      FROM pgf a JOIN pgf b ON a.g = b.g AND a.doc_id < b.doc_id
    ), isl AS (
      SELECT id_a, id_b, pos_a - pos_b AS diag, pos_a, pos_b,
             pos_a - ROW_NUMBER() OVER (
               PARTITION BY id_a, id_b, pos_a - pos_b ORDER BY pos_a) AS grp
      FROM seeds
    ), spans AS (
      SELECT id_b, MIN(pos_b) AS start_b, COUNT(*) + 4 AS n
      FROM isl GROUP BY id_a, id_b, diag, grp
    ), cover AS (
      SELECT DISTINCT id_b AS doc_id,
             unnest(generate_series(start_b, start_b + n - 1)) AS pos
      FROM spans
    ), tp AS (
      SELECT doc_id,
             unnest(generate_series(1, len(t))) AS pos,
             unnest(t) AS tok
      FROM toks
    ), kept AS (
      SELECT tp.doc_id, tp.pos, tp.tok
      FROM tp LEFT JOIN cover c ON tp.doc_id = c.doc_id AND tp.pos = c.pos
      WHERE c.pos IS NULL
    )
    SELECT t.doc_id,
           COALESCE((SELECT string_agg(k.tok, ' ' ORDER BY k.pos)
                     FROM kept k WHERE k.doc_id = t.doc_id), '') AS text,
           CAST(len(t.t) - (SELECT COUNT(*) FROM kept k
                            WHERE k.doc_id = t.doc_id) AS BIGINT) AS n_tokens_removed,
           EXISTS (SELECT 1 FROM cover c WHERE c.doc_id = t.doc_id) AS was_deduped
    FROM toks t ORDER BY t.doc_id
    """,
)
def llm_span_dedup_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The removal half of exact substring dedup (Lee et al. 2022 §4):
    every maximal >=5-token shared span is cut from its higher-id copy,
    lower-id occurrence kept canonical; text is rebuilt from the kept
    tokens JVM-side with an index-aware higher-order filter — the
    document table never shuffles (llm/spans.py:remove_duplicate_spans).
    The oracle re-derives spans AND the cleaned text independently via
    explode + anti-join + ordered string_agg.
    """
    from .llm.spans import remove_duplicate_spans

    d = _t(spark, sf_dir, "documents")
    return remove_duplicate_spans(
        d, "text", "doc_id", min_tokens=5, max_doc_freq=1000
    )  # no final orderBy: display-only on fact-grain output (SCALE.md final-sort policy)


@query(
    "llm_span_decontamination",
    oracle="""
    WITH toks AS (
      SELECT doc_id, list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS t
      FROM documents
    ), tc AS (
      SELECT * FROM toks WHERE doc_id % 10 <> 0
    ), tb AS (
      SELECT * FROM toks WHERE doc_id % 10 = 0
    ), pgc AS MATERIALIZED (
      SELECT doc_id,
             unnest(generate_series(1, len(t) - 4)) AS pos,
             unnest(list_transform(generate_series(1, len(t) - 4),
                    i -> array_to_string(t[i:i+4], ' '))) AS g
      FROM tc WHERE len(t) >= 5
    ), bg AS MATERIALIZED (
      SELECT DISTINCT unnest(list_transform(generate_series(1, len(t) - 4),
                    i -> array_to_string(t[i:i+4], ' '))) AS g
      FROM tb WHERE len(t) >= 5
    ), hits AS (
      SELECT pgc.doc_id, pgc.pos FROM pgc JOIN bg USING (g)
    ), isl AS (
      SELECT doc_id, pos,
             pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
      FROM hits
    ), spans AS (
      SELECT doc_id, MIN(pos) AS s, COUNT(*) + 4 AS n
      FROM isl GROUP BY doc_id, grp
    ), cover AS (
      SELECT DISTINCT doc_id,
             unnest(generate_series(s, s + n - 1)) AS pos
      FROM spans
    ), tp AS (
      SELECT doc_id,
             unnest(generate_series(1, len(t))) AS pos,
             unnest(t) AS tok
      FROM tc
    ), kept AS (
      SELECT tp.doc_id, tp.pos, tp.tok
      FROM tp LEFT JOIN cover c ON tp.doc_id = c.doc_id AND tp.pos = c.pos
      WHERE c.pos IS NULL
    ), rebuilt AS (
      -- group-join instead of per-row correlated subqueries: the
      -- correlated form OOMed DuckDB at 64x replication
      SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS text,
             COUNT(*) AS n_kept
      FROM kept GROUP BY doc_id
    ), flagged AS (
      SELECT DISTINCT doc_id FROM cover
    )
    SELECT t.doc_id,
           COALESCE(r.text, '') AS text,
           CAST(len(t.t) - COALESCE(r.n_kept, 0) AS BIGINT) AS n_tokens_removed,
           f.doc_id IS NOT NULL AS was_decontaminated
    FROM tc t
    LEFT JOIN rebuilt r ON t.doc_id = r.doc_id
    LEFT JOIN flagged f ON t.doc_id = f.doc_id
    ORDER BY t.doc_id
    """,
)
def llm_span_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURGICAL benchmark decontamination: every maximal >=5-token
    corpus span appearing verbatim anywhere in the benchmark set
    (every 10th doc plays the eval set, as in llm_decontamination) is
    CUT from the corpus document — keeping the uncontaminated majority
    of a page that merely quotes a benchmark item, where the
    document-drop form (llm_decontamination) would discard it whole.
    Scale shape (llm/spans.py:remove_contamination_spans): the
    benchmark collapses to its distinct gram-hash set so the probe is
    a bounded semi-join (output <= corpus gram count — no quadratic
    pair risk, no df cap needed); matched positions merge to maximal
    spans per doc via gaps-and-islands; removal rebuilds text with the
    index-aware filter and the doc table never shuffles. The oracle
    re-derives spans and cleaned text independently.
    """
    from .llm.spans import remove_contamination_spans

    d = _t(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 10 == 0)
    corpus = d.filter(F.col("doc_id") % 10 != 0)
    return remove_contamination_spans(
        corpus, bench, "text", "doc_id", min_tokens=5
    )  # no final orderBy: display-only on fact-grain output (SCALE.md final-sort policy)


@query("llm_bpe_encode", oracle=None)
def llm_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer APPLICATION: learn 10 BPE merges from the corpus, then
    encode it — each DISTINCT word segmented once in an Arrow-batched
    UDF (merge table rides in the closure), joined back to the exploded
    corpus, re-aggregated per doc (llm/bpe.py:bpe_encode_lengths).
    Rows-only (learned-state dependent); encode lengths match the
    sequential reference in tests/test_llm.py.
    """
    from .llm.bpe import bpe_encode_lengths, learn_bpe_merges

    d = _t(spark, sf_dir, "documents")
    merges_df = learn_bpe_merges(d, "text", num_merges=10)
    merges = [(r.left, r.right) for r in merges_df.orderBy("rank").collect()]
    return bpe_encode_lengths(d, "text", "doc_id", merges)  # no final orderBy: display-only on fact-grain output (SCALE.md final-sort policy)


@query(
    "llm_dataset_split",
    oracle="""
    WITH h AS (
      SELECT doc_id,
             ((ascii(substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 1)) * 31
               + ascii(substr(md5('split:' || CAST(doc_id AS VARCHAR)), 2, 1))) * 31
               + ascii(substr(md5('split:' || CAST(doc_id AS VARCHAR)), 3, 1))) % 100 AS b
      FROM documents
    )
    SELECT CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(doc_id) AS BIGINT) AS id_sum
    FROM h GROUP BY 1 ORDER BY 1
    """,
)
def llm_dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment (80/10/10) by seeded
    content-hash bucket — stable under reshuffling, re-ingestion and
    engine choice (the split must never depend on row order or
    partition count). Pure projection + one tiny aggregate; the
    membership-sensitive id_sum digest catches boundary divergence.
    """
    d = _t(spark, sf_dir, "documents")
    m = F.md5(F.concat(F.lit("split:"), F.col("doc_id").cast("string")))

    def a(i: int):
        return F.ascii(F.substring(m, i, 1)).cast("long")

    b = ((a(1) * 31 + a(2)) * 31 + a(3)) % 100
    split = (
        F.when(b < 80, F.lit("train")).when(b < 90, F.lit("val")).otherwise(F.lit("test"))
    )
    return (
        d.select(split.alias("split"), "doc_id")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("doc_id").alias("id_sum"),
        )
        .orderBy("split")
    )


@query(
    "llm_dedup_triangles",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ') AS t
      FROM documents
    ), sh AS MATERIALIZED (
      SELECT DISTINCT doc_id,
             unnest(list_transform(generate_series(1, len(t) - 1),
                                   i -> t[i] || ' ' || t[i + 1])) AS s
      FROM toks WHERE len(t) >= 2
    ), okj AS (
      SELECT s FROM sh GROUP BY s HAVING COUNT(*) <= 100
    ), shf AS MATERIALIZED (
      SELECT sh.doc_id, sh.s FROM sh JOIN okj USING (s)
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS n FROM shf GROUP BY 1
    ), raw_pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
      FROM shf a JOIN shf b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), e AS (
      SELECT id_a AS u, id_b AS v FROM raw_pairs
      JOIN sizes sa ON id_a = sa.doc_id
      JOIN sizes sb ON id_b = sb.doc_id
      WHERE n_common * 1.0 / (sa.n + sb.n - n_common) >= 0.2
    ), tri AS (
      SELECT e1.u AS a, e1.v AS b, e2.v AS c
      FROM e e1
      JOIN e e2 ON e2.u = e1.v
      JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles,
           CAST((SELECT COUNT(*) FROM e) AS BIGINT) AS n_edges,
           CAST((SELECT COUNT(DISTINCT u) FROM
                 (SELECT u FROM e UNION ALL SELECT v FROM e)) AS BIGINT) AS n_nodes
    FROM tri
    """,
)
def llm_dedup_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count of the near-dup graph — the cohesion diagnostic
    that separates template CLIQUES (every copy similar to every other:
    triangle-dense, safe to collapse to one canonical doc) from CHAINS
    (A~B~C but A!~C: triangle-free, where transitive dedup is lossy).
    Ordered-edge (u<v) two-join form — each triangle counted exactly
    once, join keys are node ids, never an all-pairs product. The
    third distributed-graph primitive alongside connected components
    and PageRank.
    """
    d = _t(spark, sf_dir, "documents")
    e = (
        ngram_jaccard_pairs(
            d, "text", "doc_id", threshold=0.2, shingle_n=2, max_doc_freq=100
        )
        .select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
        .localCheckpoint()
    )
    e1 = e.select(F.col("u").alias("a"), F.col("v").alias("b"))
    e2 = e.select(F.col("u").alias("b"), F.col("v").alias("c"))
    e3 = e.select(F.col("u").alias("a"), F.col("v").alias("c"))
    tri = e1.join(e2, "b").join(e3, ["a", "c"])
    nodes = e.select(F.col("u").alias("id")).unionAll(
        e.select(F.col("v").alias("id"))
    )
    n_tri = tri.count()
    n_edges = e.count()
    n_nodes = nodes.distinct().count()
    return local_frame(
        spark,
        [(n_tri, n_edges, n_nodes)],
        "n_triangles bigint, n_edges bigint, n_nodes bigint",
    )


@query(
    "llm_url_dedup_canonical",
    oracle="""
    WITH raw AS (
      SELECT doc_id, n_chars,
             'https://'
               || CASE WHEN doc_id % 2 = 0 THEN upper(source) ELSE source END
               || '.Example.COM'
               || CASE WHEN doc_id % 3 = 0 THEN ':443' ELSE '' END
               || '/docs/' || CAST(doc_id % 23 AS VARCHAR)
               || CASE WHEN doc_id % 2 = 0
                       THEN '?utm_source=feed&lang=' || lang
                       ELSE '?lang=' || lang || '&ref=tw' END
               || CASE WHEN doc_id % 5 = 0 THEN '#sec1' ELSE '' END AS url
      FROM documents
    ), canon AS (
      SELECT doc_id, n_chars,
             'https://'
               || lower(regexp_extract(url, '^https://([^/:?#]+)', 1))
               || regexp_extract(url, '^https://[^/?#]+(/[^?#]*)', 1)
               || '?lang=' || regexp_extract(url, '[?&]lang=([a-z]+)', 1)
               AS curl
      FROM raw
    )
    SELECT curl AS canonical_url,
           CAST(COUNT(*) AS BIGINT) AS n_dups,
           CAST(MIN(doc_id) AS BIGINT) AS keeper_doc,
           CAST(SUM(n_chars) AS BIGINT) AS dup_chars
    FROM canon GROUP BY curl ORDER BY curl
    """,
)
def llm_url_dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + dedup — the first dedup pass of every web
    crawl pipeline (reference capability tier: the notebook's
    'duplicate data' cleanup, Capstone Project Template.ipynb cell-7,
    applied to the crawl-URL domain): raw URLs carry case noise in the
    authority, explicit default ports, tracking parameters
    (utm_*/ref) and fragments, all of which alias the same resource.
    The fixture builds the noisy URL deterministically from doc fields;
    canonicalization is real string surgery on that URL (lowercase
    authority, strip :443, drop fragment and tracking params, keep the
    meaningful lang param) — both engines perform the identical
    regex pipeline, so parity proves the surgery, not the fixture.
    Dedup groups by canonical form keeping the smallest doc_id.

    100 TB: pure codegen column expressions plus ONE narrow shuffle on
    the canonical-URL hash (group keys only; bodies never move) — the
    same single-exchange shape as llm_exact_dedup. Per-host cap
    policy downstream is llm_url_parse_cap + llm_source_cap.
    """
    d = _t(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://"),
        F.when(F.col("doc_id") % 2 == 0, F.upper(F.col("source"))).otherwise(
            F.col("source")
        ),
        F.lit(".Example.COM"),
        F.when(F.col("doc_id") % 3 == 0, F.lit(":443")).otherwise(F.lit("")),
        F.lit("/docs/"),
        (F.col("doc_id") % 23).cast("string"),
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat(F.lit("?utm_source=feed&lang="), F.col("lang")),
        ).otherwise(F.concat(F.lit("?lang="), F.col("lang"), F.lit("&ref=tw"))),
        F.when(F.col("doc_id") % 5 == 0, F.lit("#sec1")).otherwise(F.lit("")),
    )
    curl = F.concat(
        F.lit("https://"),
        F.lower(F.regexp_extract(F.col("url"), r"^https://([^/:?#]+)", 1)),
        F.regexp_extract(F.col("url"), r"^https://[^/?#]+(/[^?#]*)", 1),
        F.lit("?lang="),
        F.regexp_extract(F.col("url"), r"[?&]lang=([a-z]+)", 1),
    )
    return (
        d.select("doc_id", "n_chars", url.alias("url"))
        .select("doc_id", "n_chars", curl.alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(
            F.count(F.lit(1)).alias("n_dups"),
            F.min("doc_id").alias("keeper_doc"),
            F.sum("n_chars").alias("dup_chars"),
        )
        # no final orderBy: display-only on fact-grain output (SCALE.md final-sort policy)
    )


@query(
    "llm_perplexity_filter",
    oracle="""
    WITH toks AS (
      SELECT doc_id, lang, source,
             unnest(list_filter(string_split_regex(trim(text), '\\s+'),
                                x -> x <> '')) AS tok
      FROM documents
    ), vocab AS (
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS n
      FROM toks WHERE source = 'src0' GROUP BY tok
    ), stats AS (
      SELECT CAST(SUM(n) AS BIGINT) AS t, CAST(COUNT(*) AS BIGINT) AS v
      FROM vocab
    ), lp AS (
      SELECT tok,
             CAST(ln((CAST(n AS DOUBLE) + 1.0) /
                     (CAST(t AS DOUBLE) + CAST(v AS DOUBLE)))
                  AS DECIMAL(18,9)) AS lp
      FROM vocab, stats
    ), scored AS (
      SELECT d.doc_id, d.lang,
             CAST(COUNT(*) AS BIGINT) AS n_tokens,
             ROUND(-CAST(SUM(COALESCE(l.lp,
                 CAST(ln(1.0 / (CAST(s.t AS DOUBLE) + CAST(s.v AS DOUBLE)))
                      AS DECIMAL(18,9)))) AS DOUBLE) / COUNT(*), 6) AS rnll
      FROM toks d LEFT JOIN lp l USING (tok) CROSS JOIN stats s
      GROUP BY d.doc_id, d.lang
    ), thr AS (
      SELECT lang, quantile_disc(rnll, 0.5) AS lang_median
      FROM scored GROUP BY lang
    )
    SELECT s.doc_id, s.lang, s.n_tokens, s.rnll
    FROM scored s JOIN thr USING (lang)
    WHERE s.rnll <= thr.lang_median
    ORDER BY s.doc_id
    """,
)
def llm_perplexity_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity gate: train an add-one-smoothed unigram
    LM on a trusted subset (source = 'src0' stands in for the
    'Wikipedia-quality' corpus), score EVERY document by average
    negative log-probability under that model (OOV tokens get the
    smoothed floor), then keep each language's best half — the
    per-language percentile split is the essential CCNet move
    (head/middle/tail by LM score WITHIN language, never across, so
    low-resource languages aren't starved by high-resource ones).
    Complements llm_unigram_logprob (self-scored, no gate) and
    llm_quality_classifier (feature-based): this is the
    reference-model family.

    Determinism: per-token logps sum as DECIMAL(18,9) (order-
    independent, same device as llm_unigram_logprob); the threshold is
    percentile_disc over ROUNDED doc scores, so the gate compares a
    score against an actual member value — no interpolation, no float
    drift at the boundary.

    100 TB: the trusted-subset vocab is Zipf-small -> broadcast back to
    the token stream (explode is partition-local, zero shuffle before
    the per-doc agg); the per-language median is over DOC-level rows
    (one per doc, not per token) and becomes a KLL quantile sketch
    (operators/sketches.py) when doc counts outgrow exact percentile.
    Round-6 rewrite, measured at 256× (1.28M docs / ~100M tokens):
    (a) the scored table is MATERIALIZED (localCheckpoint — it is
    doc-cardinality, a few MB) before the median gate, because the
    gate references it twice (threshold + filter) and an unmaterialized
    plan re-runs the whole token pipeline for each reference — the
    entry was paying its explode+join+agg TWICE (17.4 s); (b) the
    per-token sum runs in fixed-point LONGs (lp × 1e9 — exact, since
    lp is already DECIMAL(18,9)) instead of decimal, the integer-cents
    device (8.3 → 6.0 s for the scoring pass; 0 value diffs against
    the decimal form). Full entry 17.4 → 9.0 s at 256×,
    2.41× → 1.25× — under the gate.
    """
    d = _t(spark, sf_dir, "documents").select("doc_id", "lang", "source", "text")
    toks = d.select(
        "doc_id",
        "lang",
        "source",
        F.explode(
            F.filter(F.split(F.trim(F.col("text")), r"\s+"), lambda x: x != "")
        ).alias("tok"),
    )
    vocab = (
        toks.where(F.col("source") == "src0")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    stats = vocab.agg(
        F.sum("n").cast("bigint").alias("t"), F.count(F.lit(1)).alias("v")
    )
    # fixed-point: lp is DECIMAL(18,9), so lp*1e9 is an exact integer —
    # the per-token sum runs in codegen longs, identical values to the
    # decimal sum (measured 0 diffs at 256×)
    lp = vocab.crossJoin(F.broadcast(stats)).select(
        "tok",
        (
            F.log(
                (F.col("n").cast("double") + F.lit(1.0))
                / (F.col("t").cast("double") + F.col("v").cast("double"))
            ).cast("decimal(18,9)")
            * F.lit(1_000_000_000)
        )
        .cast("long")
        .alias("lpl"),
    )
    oov = (
        F.log(
            F.lit(1.0) / (F.col("t").cast("double") + F.col("v").cast("double"))
        ).cast("decimal(18,9)")
        * F.lit(1_000_000_000)
    ).cast("long")
    scored = (
        toks.join(F.broadcast(lp), "tok", "left")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(
                (-F.sum(F.coalesce(F.col("lpl"), oov)) / F.lit(1e9)).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("rnll"),
        )
        # doc-cardinality; materialize so the median gate's two
        # references don't each re-run the token pipeline
        .localCheckpoint(eager=True)
    )
    scored.createOrReplaceTempView("ppl_scored")
    return spark.sql(
        """
        WITH thr AS (
          SELECT lang,
                 percentile_disc(0.5) WITHIN GROUP (ORDER BY rnll)
                   AS lang_median
          FROM ppl_scored GROUP BY lang
        )
        SELECT s.doc_id, s.lang, s.n_tokens, s.rnll
        FROM ppl_scored s JOIN thr USING (lang)
        WHERE s.rnll <= thr.lang_median
        ORDER BY s.doc_id
        """
    )


@query(
    "llm_ngram_novelty",
    oracle="""
    -- Key-width note (round-8): the Spark side groups grams by a
    -- 128-bit struct of two seeded xxhash64 lanes while this oracle
    -- groups by the gram STRING; a collision would need both lanes to
    -- agree (~2^-128 per pair), negligible at any corpus size — the
    -- round-7 64-bit caveat (~1e-4 at 64M grams) no longer applies.
    WITH toks AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ') AS t
      FROM documents
    ), grams AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(generate_series(1, len(t) - 1),
                                   i -> t[i] || ' ' || t[i + 1])) AS g
      FROM toks WHERE len(t) >= 2
    ), first_seen AS (
      SELECT g, CAST(MIN(doc_id) AS BIGINT) AS first_doc FROM grams GROUP BY g
    )
    SELECT gr.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(CASE WHEN f.first_doc = gr.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel,
           ROUND(SUM(CASE WHEN f.first_doc = gr.doc_id THEN 1 ELSE 0 END)
                 * 1.0 / COUNT(*), 6) AS novelty
    FROM grams gr JOIN first_seen f USING (g)
    GROUP BY gr.doc_id ORDER BY gr.doc_id
    """,
)
def llm_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty — the curation signal behind
    dedup-aware sampling and memorization studies: each document is
    scored by the fraction of its distinct bigrams whose corpus-wide
    FIRST appearance (minimum doc_id, i.e. earliest in ingest order)
    is this document. Boilerplate-heavy or templated docs score near
    zero; fresh content scores near one — the ranking that decides
    which near-duplicates deserve a second epoch.

    100 TB: NO join-back of the gram table at all. Per-doc n_grams is
    a ROW-LOCAL scalar (size of the in-row distinct gram array — zero
    shuffle), and the novel count per doc is just how many grams chose
    it as their minimum: first_seen.groupBy(first_doc).count(). So the
    corpus-scale gram table crosses the wire ONCE (as 24-byte
    (doc_id, 128-bit gram key) rows — the jaccard postings device —
    not variable-length strings), feeds one MIN aggregate, and
    everything after is doc-cardinality. The previous join-back plan
    shuffled the gram table twice (64M × string rows at 256×) and
    measured 2.69× the baseline (19.0 s); this form measures 7.1 s =
    1.01× at the same size — the round-6 rewrite. Novelty stays an
    integer ratio: bit-exact across engines. Round 8 widened the gram
    key to 128 bits (two seeded xxhash64 lanes) so the 64-bit birthday
    collision (~1e-4 at 64M grams) cannot flip a novelty count at any
    replica size.
    """
    from .functions.strings import ngrams

    d = _t(spark, sf_dir, "documents")
    per_doc = d.select(
        "doc_id",
        F.size(F.array_distinct(ngrams("text", 2))).alias("n_grams"),
    ).filter(F.col("n_grams") >= 1)
    grams = d.select(
        "doc_id",
        F.explode(F.array_distinct(ngrams("text", 2))).alias("g"),
    ).select(
        "doc_id",
        # 128-bit gram key (two seeded xxhash64 lanes): a 64-bit
        # collision merges two gram types' first-seen rows and flips a
        # novelty numerator nondeterministically at large replicas
        # (~1e-4 at 64M grams); 128 bits make it negligible at any size
        F.struct(
            F.xxhash64(F.lit(0), "g").alias("h1"),
            F.xxhash64(F.lit(1), "g").alias("h2"),
        ).alias("gh"),
    )
    novel_counts = (
        grams.groupBy("gh")
        .agg(F.min("doc_id").alias("first_doc"))
        .groupBy("first_doc")
        .agg(F.count(F.lit(1)).alias("n_novel"))
    )
    return (
        per_doc.join(novel_counts, per_doc.doc_id == novel_counts.first_doc, "left")
        .select(
            "doc_id",
            F.col("n_grams").cast("bigint").alias("n_grams"),
            F.coalesce(F.col("n_novel"), F.lit(0)).cast("bigint").alias("n_novel"),
            F.round(
                F.coalesce(F.col("n_novel"), F.lit(0)) * F.lit(1.0) / F.col("n_grams"), 6
            ).alias("novelty"),
        )
        # no final orderBy: display-only on fact-grain output (SCALE.md final-sort policy)
    )


@query(
    "llm_split_leakage_safe",
    oracle="""
    WITH doubled AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000, text FROM documents
    ), fp AS (
      SELECT doc_id,
             md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS f
      FROM doubled
    ), h AS (
      SELECT doc_id, f,
             ((ascii(substr(md5('gsplit:' || f), 1, 1)) * 31
               + ascii(substr(md5('gsplit:' || f), 2, 1))) * 31
               + ascii(substr(md5('gsplit:' || f), 3, 1))) % 100 AS b
      FROM fp
    )
    SELECT CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val'
                ELSE 'test' END AS split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT f) AS BIGINT) AS n_groups,
           CAST(SUM(doc_id) AS BIGINT) AS id_sum
    FROM h GROUP BY 1 ORDER BY 1
    """,
)
def llm_split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split: the bucket hash is computed
    from the normalized-content FINGERPRINT, not the document id — so
    byte-identical duplicates (here: the same doubled-corpus fixture as
    llm_exact_dedup, where every text exists under two doc_ids) land in
    the SAME split by construction. Splitting by doc_id hash
    (llm_dataset_split) silently puts copy A in train and copy B in
    test — the classic eval-contamination bug this operator exists to
    prevent; near-dup leakage extends the same move to the MinHash
    cluster id (rows-only family). Per-split doc and group counts plus
    the membership-sensitive id_sum digest; zero cross-split groups is
    asserted in tests/test_llm.py.

    100 TB: fingerprint is a pure projection, split is a pure function
    of it — the only exchange is the final tiny aggregate (the
    COUNT DISTINCT group-count rides a two-phase partial agg on the
    fingerprint, and becomes an HLL sketch when exactness stops
    mattering).
    """
    d0 = _t(spark, sf_dir, "documents").select("doc_id", "text")
    doubled = d0.unionAll(
        d0.select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
    )
    fp = F.md5(
        F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    )
    withf = doubled.select("doc_id", fp.alias("f"))
    m = F.md5(F.concat(F.lit("gsplit:"), F.col("f")))

    def a(i: int):
        return F.ascii(F.substring(m, i, 1)).cast("long")

    b = ((a(1) * 31 + a(2)) * 31 + a(3)) % 100
    split = (
        F.when(b < 80, F.lit("train"))
        .when(b < 90, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return (
        withf.select(split.alias("split"), "doc_id", "f")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("f").alias("n_groups"),
            F.sum("doc_id").alias("id_sum"),
        )
        .orderBy("split")
    )


@query(
    "llm_boilerplate_lines",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS t
      FROM documents
    ), blocks AS (
      SELECT doc_id,
             unnest(generate_series(0, CAST(ceil(len(t) / 10.0) AS INT) - 1)) AS pos,
             unnest(list_transform(
               generate_series(0, CAST(ceil(len(t) / 10.0) AS INT) - 1),
               i -> array_to_string(t[i * 10 + 1 : i * 10 + 10], ' '))) AS ptext
      FROM toks WHERE len(t) >= 1
    ), flagged AS (
      SELECT doc_id, pos, ptext,
             COUNT(*) OVER (PARTITION BY md5(ptext)) AS n_occ,
             ROW_NUMBER() OVER (PARTITION BY md5(ptext)
                                ORDER BY doc_id, pos) AS rn
      FROM blocks
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_blocks,
           CAST(SUM(CASE WHEN n_occ >= 2 AND rn > 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dropped,
           md5(COALESCE(string_agg(
                 CASE WHEN n_occ = 1 OR rn = 1 THEN ptext END,
                 ' ' ORDER BY pos), '')) AS clean_digest
    FROM flagged GROUP BY doc_id ORDER BY doc_id
    """,
)
def llm_boilerplate_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document boilerplate removal, CCNet-style (Wenzek et al.
    2019): hash every paragraph, keep only the FIRST occurrence of any
    paragraph seen more than once anywhere in the corpus — the pass
    that strips nav bars, cookie banners, and license footers that
    within-doc repetition gates (llm_repetition_filter) and whole-doc
    dedup (llm_exact_dedup) both miss. The fixture text has no
    newlines, so the paragraph unit is a deterministic segmentation:
    consecutive 10-token blocks (final partial block kept) — same rule
    both engines.

    Plan: tokens -> block slices (codegen sequence+posexplode+slice,
    shuffle-free, same shape as llm/chunking.py), immediately PRUNED to
    (doc_id, pos, 128-bit xxhash64 digest) — block text never enters an
    exchange. One window over the digest key yields the occurrence
    count and the min-(doc,pos) keeper (unbounded frame only, no
    in-partition sort); the surviving-text reconstruction then runs
    against the UNSHUFFLED doc table by left-joining only the
    dropped-position sets and re-slicing kept blocks in place (the
    span_dedup_clean device). Measured at 64x sf0.1: 5.9 s -> 2.85 s;
    the first 3 s were the AQE byte-based coalesce folding the 34 MB
    narrow exchange to ONE partition before the window — the same trap
    as the capped-postings pair stage, fixed the same way (explicit
    repartition(defaultParallelism) on the digest key; SCALE.md §13).
    The oracle partitions by md5 and uses row_number — group IDENTITY
    and keeper identity match, not the hash or operator choice.

    100 TB: the exchange carries 28-byte rows, never text; a viral
    boilerplate block (nav bar in 10M docs) makes a hot window
    partition — at that skew, switch the stats side to a partial-agg
    groupBy (count + min-struct both partial-aggregable, map-side
    combine collapses hot keys) + broadcast join of the Zipf-small
    hot-digest set, the skew_salted_agg split. The dropped-set join is
    declared plain so AQE picks broadcast vs shuffle from its runtime
    size (dup-rate-proportional). Reference trail: extension tier
    (BASELINE.json north star); notebook cell-7 stops at whole-row
    dedup.
    """
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    base = d.withColumn(
        "__tk",
        F.filter(F.split(F.trim(F.col("text")), r"\s+"), lambda x: x != ""),
    ).filter(F.size("__tk") >= 1)
    nb = F.ceil(F.size("__tk") / F.lit(10.0)).cast("int")
    starts = F.sequence(F.lit(0), nb - 1)
    # 128-bit portable-identity key: differentiating literal folds FIRST
    # so the two lanes are independent (llm/spans.py lesson).
    pt = F.array_join(F.slice(F.col("__tk"), F.col("__i") * 10 + 1, 10), " ")
    narrow = (
        base.select("doc_id", F.posexplode(starts).alias("pos", "__i"), "__tk")
        .select(
            "doc_id",
            "pos",
            F.xxhash64(F.lit(0), pt).alias("__h1"),
            F.xxhash64(F.lit(1), pt).alias("__h2"),
        )
        .repartition(spark.sparkContext.defaultParallelism, "__h1", "__h2")
    )
    wu = Window.partitionBy("__h1", "__h2").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    flagged = narrow.select(
        "doc_id",
        "pos",
        F.count(F.lit(1)).over(wu).alias("n_occ"),
        F.min(F.struct("doc_id", "pos")).over(wu).alias("kp"),
    )
    is_keeper = (F.col("kp")["doc_id"] == F.col("doc_id")) & (
        F.col("kp")["pos"] == F.col("pos")
    )
    dropped = (
        flagged.where((F.col("n_occ") >= 2) & ~is_keeper)
        .groupBy("doc_id")
        .agg(
            F.collect_set("pos").alias("dp"),
            F.count(F.lit(1)).cast("bigint").alias("n_dropped"),
        )
    )
    dp = F.coalesce(F.col("dp"), F.array().cast("array<int>"))
    clean = F.array_join(
        F.filter(
            F.transform(
                F.sequence(F.lit(0), nb - 1),
                lambda i: F.when(
                    ~F.array_contains(dp, i.cast("int")),
                    F.array_join(F.slice(F.col("__tk"), i * 10 + 1, 10), " "),
                ),
            ),
            lambda x: x.isNotNull(),
        ),
        " ",
    )
    return (
        base.join(dropped, "doc_id", "left")
        .select(
            "doc_id",
            nb.alias("n_blocks"),
            F.coalesce("n_dropped", F.lit(0).cast("bigint")).alias("n_dropped"),
            F.md5(clean).alias("clean_digest"),
        )
        # no final orderBy: a display sort re-executes the whole plan to
        # sample ranges (SCALE.md §13); parity/driver compares are
        # order-insensitive
    )


@query(
    "llm_dsir_weights",
    oracle="""
    WITH toks AS (
      SELECT doc_id, lang, source,
             string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ') AS t
      FROM documents
    ), bg AS (
      SELECT doc_id, lang, source,
             CAST(('0x' || substr(md5(g), 1, 4))::BIGINT % 64 AS INT) AS b
      FROM (
        SELECT doc_id, lang, source,
               unnest(list_transform(generate_series(1, len(t) - 1),
                                     i -> t[i] || ' ' || t[i + 1])) AS g
        FROM toks WHERE len(t) >= 2
      )
    ), cr AS (
      SELECT b, CAST(COUNT(*) AS BIGINT) AS nr FROM bg GROUP BY b
    ), ct AS (
      SELECT b, CAST(COUNT(*) AS BIGINT) AS nt
      FROM bg WHERE source = 'src0' GROUP BY b
    ), tot AS (
      SELECT (SELECT SUM(nr) FROM cr) AS sr,
             (SELECT COALESCE(SUM(nt), 0) FROM ct) AS st
    ), lam AS (
      SELECT cr.b,
             CAST(ln((CAST(COALESCE(ct.nt, 0) AS DOUBLE) + 1.0) /
                     (CAST(st AS DOUBLE) + 64.0)) AS DECIMAL(18,9))
           - CAST(ln((CAST(cr.nr AS DOUBLE) + 1.0) /
                     (CAST(sr AS DOUBLE) + 64.0)) AS DECIMAL(18,9)) AS lam
      FROM cr LEFT JOIN ct USING (b) CROSS JOIN tot
    ), scored AS (
      SELECT bg.doc_id, bg.lang,
             CAST(COUNT(*) AS BIGINT) AS n_grams,
             ROUND(CAST(SUM(lam) AS DOUBLE), 6) AS w
      FROM bg JOIN lam USING (b)
      GROUP BY bg.doc_id, bg.lang
    ), thr AS (
      SELECT quantile_disc(w, 0.5) AS m FROM scored
    )
    SELECT doc_id, lang, n_grams, w,
           CAST(w >= (SELECT m FROM thr) AS INT) AS selected
    FROM scored ORDER BY doc_id
    """,
)
def llm_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (Xie et al. 2023, 'Data Selection for
    Language Models via Importance Resampling'): score every raw
    document by its hashed-n-gram importance weight
    log w(d) = sum_b c_d[b] * (ln p_target[b] - ln p_raw[b]), where the
    features are bigrams hashed into 64 buckets (hashing trick, no
    vocabulary fit — same portable md5-prefix bucket as
    llm_feature_hashing), p_target is add-one-smoothed over the
    trusted subset (source = 'src0', the same stand-in
    llm_perplexity_filter trains on) and p_raw over the whole corpus.
    High weight = looks like the target domain. Output: every scored
    doc with its weight and a selected flag for the top half —
    importance RESAMPLING at full fidelity replaces the flag with
    Gumbel-top-k over w, which is RNG-policy, not plan shape.

    Determinism: the two ln terms are each cast to DECIMAL(18,9) before
    subtraction and the per-doc sum runs in decimal (order-independent,
    the llm_perplexity_filter device); the selection threshold is
    percentile_disc over ROUNDED weights so the gate compares against
    an actual member value.

    Plan: one shuffle-free bigram explode -> 64-row bucket-count
    aggregates (map-side combine collapses each partition to <=64
    rows) -> broadcast lambda table joined back -> per-doc agg. The
    corpus never shuffles; only the per-doc score agg exchanges, and
    it exchanges (doc_id, bucket) pairs. 100 TB: bucket count B grows
    to 10k-1M buckets (paper uses 10k) and stays broadcastable;
    everything else is scan-shaped.
    """
    d = _t(spark, sf_dir, "documents").select("doc_id", "lang", "source", "text")
    bg = d.select(
        "doc_id",
        "lang",
        "source",
        F.explode(ngrams(F.col("text"), 2)).alias("g"),
    ).select(
        "doc_id",
        "lang",
        "source",
        (F.conv(F.substring(F.md5(F.col("g")), 1, 4), 16, 10).cast("bigint") % 64)
        .cast("int")
        .alias("b"),
    )
    cr = bg.groupBy("b").agg(F.count(F.lit(1)).cast("bigint").alias("nr"))
    ct = (
        bg.where(F.col("source") == "src0")
        .groupBy("b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("nt"))
    )
    tot = cr.agg(F.sum("nr").alias("sr")).crossJoin(
        ct.agg(F.coalesce(F.sum("nt"), F.lit(0)).alias("st"))
    )
    lam = (
        cr.join(ct, "b", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "b",
            (
                F.log(
                    (F.coalesce(F.col("nt"), F.lit(0)).cast("double") + F.lit(1.0))
                    / (F.col("st").cast("double") + F.lit(64.0))
                ).cast("decimal(18,9)")
                - F.log(
                    (F.col("nr").cast("double") + F.lit(1.0))
                    / (F.col("sr").cast("double") + F.lit(64.0))
                ).cast("decimal(18,9)")
            ).alias("lam"),
        )
    )
    scored = (
        bg.join(F.broadcast(lam), "b")
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.round(F.sum("lam").cast("double"), 6).alias("w"),
        )
    )
    scored.createOrReplaceTempView("dsir_scored")
    return spark.sql(
        """
        WITH thr AS (
          SELECT percentile_disc(0.5) WITHIN GROUP (ORDER BY w) AS m
          FROM dsir_scored
        )
        SELECT s.doc_id, s.lang, s.n_grams, s.w,
               CAST(s.w >= thr.m AS INT) AS selected
        FROM dsir_scored s CROSS JOIN thr
        ORDER BY s.doc_id
        """
    )


@query(
    "llm_kl_drift",
    oracle="""
    WITH tok AS (
      SELECT source,
             unnest(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')) AS term
      FROM documents
    ), st AS (
      SELECT source, term, COUNT(*) AS c_st FROM tok GROUP BY 1, 2
    ), src_tot AS (
      SELECT source, CAST(SUM(c_st) AS BIGINT) AS n_s FROM st GROUP BY 1
    ), corpus AS (
      SELECT term, CAST(SUM(c_st) AS BIGINT) AS c_t FROM st GROUP BY 1
    ), tot AS (
      SELECT CAST(SUM(c_st) AS BIGINT) AS n FROM st
    ), terms AS (
      SELECT s.source,
             CAST((s.c_st * 1.0 / t.n_s)
                  * LN((s.c_st * 1.0 / t.n_s) / (c.c_t * 1.0 / g.n))
                  AS DECIMAL(28, 15)) AS d
      FROM st s
      JOIN src_tot t USING (source)
      JOIN corpus c USING (term), tot g
    )
    SELECT s.source,
           ROUND(CAST(SUM(d) AS DOUBLE), 6) AS kl_unigram,
           CAST(MIN(t.n_s) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_terms
    FROM terms s JOIN src_tot t USING (source)
    GROUP BY s.source ORDER BY source
    """,
)
def llm_kl_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus drift: KL(P_source || P_corpus) over unigram
    distributions — the distribution-shift monitor a training-data
    pipeline runs per crawl shard / per source before mixing (a drifting
    source changes the token mix downstream models see). Every source
    term also appears in the corpus distribution, so KL is finite by
    construction. Plan: one token explode → (source, term) partial-
    aggregated counts; source totals and the 1-row corpus total
    broadcast back; per-term contributions are computed as an identical
    double expression tree in both engines, then summed as DECIMAL —
    decimal addition is exact and order-independent, so the sum is
    engine- and partitioning-exact (the llm_dsir_weights pattern). At
    100 TB the only shuffle is the (source, term) aggregate; the term-
    keyed corpus join shuffles vocab-sized tables, never documents.
    """
    from .functions.strings import tokens

    d = _t(spark, sf_dir, "documents")
    tok = d.select("source", F.explode(tokens("text")).alias("term"))
    st = tok.groupBy("source", "term").agg(F.count(F.lit(1)).alias("c_st"))
    src_tot = st.groupBy("source").agg(F.sum("c_st").cast("bigint").alias("n_s"))
    corpus = st.groupBy("term").agg(F.sum("c_st").cast("bigint").alias("c_t"))
    tot = st.agg(F.sum("c_st").cast("bigint").alias("n"))
    p = F.col("c_st") * 1.0 / F.col("n_s")
    q = F.col("c_t") * 1.0 / F.col("n")
    terms = (
        st.join(F.broadcast(src_tot), "source")
        .join(corpus, "term")
        .crossJoin(F.broadcast(tot))
        .select("source", (p * F.log(p / q)).cast("decimal(28,15)").alias("d"))
    )
    return (
        terms.join(F.broadcast(src_tot), "source")
        .groupBy("source")
        .agg(
            F.round(F.sum("d").cast("double"), 6).alias("kl_unigram"),
            F.min("n_s").cast("bigint").alias("n_tokens"),
            F.count(F.lit(1)).cast("bigint").alias("n_terms"),
        )
        .orderBy("source")
    )


@query(
    "llm_hybrid_rrf_search",
    oracle="""
    WITH tok AS (
      SELECT doc_id,
             unnest(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')) AS term
      FROM documents
    ), dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY 1),
    stats AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dl),
    tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM tok
      WHERE term IN ('spark', 'query', 'batch') GROUP BY 1, 2
    ), dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
    bscored AS (
      SELECT t.doc_id,
             (LN((s.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0) * (t.tf * 2.2))
             / (t.tf + 1.2 * (0.25 + 0.75 * l.dl / s.avgdl)) AS sc
      FROM tf t JOIN dl l USING (doc_id) JOIN dfreq d USING (term), stats s
    ), bagg AS (
      SELECT doc_id, ROUND(SUM(sc), 6) AS bm25 FROM bscored GROUP BY doc_id
    ), btop AS (
      SELECT doc_id, r_bm25 FROM (
        SELECT doc_id, ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS r_bm25
        FROM bagg
      ) WHERE r_bm25 <= 50
    ), dense AS (
      SELECT e.vec_id AS doc_id,
             ROUND(list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]), 6) AS sim
      FROM embeddings e, (SELECT embedding FROM embeddings WHERE vec_id = 0) q
      WHERE e.vec_id <> 0
    ), dtop AS (
      SELECT doc_id, r_dense FROM (
        SELECT doc_id, ROW_NUMBER() OVER (ORDER BY sim DESC, doc_id) AS r_dense
        FROM dense
      ) WHERE r_dense <= 50
    )
    SELECT COALESCE(b.doc_id, d.doc_id) AS doc_id,
           ROUND(COALESCE(1.0 / (60 + b.r_bm25), 0)
                 + COALESCE(1.0 / (60 + d.r_dense), 0), 6) AS rrf,
           CAST(b.r_bm25 AS INT) AS r_bm25,
           CAST(d.r_dense AS INT) AS r_dense
    FROM btop b FULL OUTER JOIN dtop d ON b.doc_id = d.doc_id
    ORDER BY rrf DESC, doc_id LIMIT 10
    """,
)
def llm_hybrid_rrf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via Reciprocal Rank Fusion (k=60): the lexical
    BM25 ranking (shared stage with llm_bm25_search) fused with a dense
    cosine ranking against a query embedding (vec_id 0), the standard
    first-stage retriever for RAG-style curation — each ranker's top-50
    contributes 1/(60+rank); docs surfaced by only one ranker keep the
    other term at 0. Plan: both rankings resolve as bounded top-k
    (TakeOrdered — per-partition heads then a 50-row merge, never a
    global sort), rank assignment is a window over 50 rows, and the
    fusion is a full-outer join of two 50-row lists — so the fusion
    stage is O(k) at any corpus size; the corpus-scale work is the two
    retrieval scans, each the proven shape of its standalone entry.
    Scores are rounded to 6 decimals BEFORE ranking in both engines so
    rank boundaries are engine-exact (doc_id tie-break).
    """
    from .llm.similarity import cosine

    bm = _bm25_scored(spark, sf_dir, ["spark", "query", "batch"])
    btop = bm.orderBy(F.col("bm25").desc(), "doc_id").limit(50)
    br = btop.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.col("bm25").desc(), "doc_id"))
        .alias("r_bm25"),
    )

    e = _t(spark, sf_dir, "embeddings")
    qv = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    dscored = (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qv))
        .select(
            F.col("vec_id").alias("doc_id"),
            F.round(cosine(F.col("embedding"), F.col("qv")), 6).alias("sim"),
        )
    )
    dtop = dscored.orderBy(F.col("sim").desc(), "doc_id").limit(50)
    dr = dtop.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.col("sim").desc(), "doc_id"))
        .alias("r_dense"),
    )

    fused = br.join(dr, "doc_id", "full_outer").select(
        "doc_id",
        F.round(
            F.coalesce(F.lit(1.0) / (F.lit(60) + F.col("r_bm25")), F.lit(0.0))
            + F.coalesce(F.lit(1.0) / (F.lit(60) + F.col("r_dense")), F.lit(0.0)),
            6,
        ).alias("rrf"),
        F.col("r_bm25").cast("int").alias("r_bm25"),
        F.col("r_dense").cast("int").alias("r_dense"),
    )
    return fused.orderBy(F.col("rrf").desc(), "doc_id").limit(10)


@query(
    "llm_semantic_decontamination",
    oracle="""
    WITH bench AS (
      SELECT vec_id AS b_id, embedding AS be FROM embeddings WHERE vec_id < 50
    ), corp AS (
      SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 50
    ), sims AS (
      SELECT c.vec_id, b.b_id,
             ROUND(list_cosine_similarity(c.embedding::DOUBLE[], b.be::DOUBLE[]), 6) AS cs
      FROM corp c, bench b
    ), agg AS (
      SELECT vec_id, MAX(cs) AS max_cos FROM sims GROUP BY 1
    )
    SELECT a.vec_id,
           CAST(MIN(s.b_id) AS BIGINT) AS nearest_bench_id,
           a.max_cos
    FROM agg a JOIN sims s ON s.vec_id = a.vec_id AND s.cs = a.max_cos
    WHERE a.max_cos >= 0.35
    GROUP BY a.vec_id, a.max_cos
    ORDER BY a.vec_id
    """,
)
def llm_semantic_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-level benchmark decontamination — the third member of
    the decontamination family (bloom = exact n-gram membership, span =
    surgical text removal, THIS = similarity gate that catches
    paraphrased eval leakage token filters miss, as in SemDeDup-style
    eval-overlap audits). Benchmark = vec_id < 50 (bounded by contract,
    like the cosine_topk query set); corpus rows with max cosine >= 0.35
    against any benchmark vector are flagged with their nearest
    benchmark id. Plan: broadcast benchmark matrix + one BLAS product
    per Arrow batch over a single corpus scan — linear, shuffle-free;
    rounding happens half-away-from-zero INSIDE the kernel so the
    max/argmax tie-break is engine-exact (llm/similarity.py).
    """
    from .llm.similarity import semantic_decontaminate

    e = _t(spark, sf_dir, "embeddings")
    bench = e.filter(F.col("vec_id") < 50)
    corpus = e.filter(F.col("vec_id") >= 50)
    return (
        semantic_decontaminate(corpus, bench, threshold=0.35)
        .select("vec_id", "nearest_bench_id", F.round("max_cos", 6).alias("max_cos"))
        .orderBy("vec_id")
    )


@query(
    "llm_zipf_fit",
    oracle="""
    WITH tok AS (
      SELECT unnest(list_filter(string_split_regex(trim(text), '\\s+'),
                                x -> x <> '')) AS term
      FROM documents
    ), tf AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY 1
    ), top AS (
      SELECT term, c, ROW_NUMBER() OVER (ORDER BY c DESC, term) AS r
      FROM tf QUALIFY r <= 1000
    ), xy AS (
      SELECT CAST(LN(r) AS DECIMAL(28, 15)) AS x,
             CAST(LN(c) AS DECIMAL(28, 15)) AS y,
             CAST(LN(r) * LN(r) AS DECIMAL(28, 15)) AS xx,
             CAST(LN(r) * LN(c) AS DECIMAL(28, 15)) AS xyp,
             CAST(LN(c) * LN(c) AS DECIMAL(28, 15)) AS yy
      FROM top
    ), s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
             CAST(SUM(xx) AS DOUBLE) AS sxx, CAST(SUM(xyp) AS DOUBLE) AS sxy,
             CAST(SUM(yy) AS DOUBLE) AS syy
      FROM xy
    )
    SELECT n AS n_terms,
           ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS zipf_slope,
           ROUND((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n, 6)
             AS intercept,
           ROUND(((n * sxy - sx * sy) * (n * sxy - sx * sy))
                 / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
    FROM s
    """,
)
def llm_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit over the corpus unigram distribution: least-
    squares slope of log(frequency) vs log(rank) for the top-1000
    terms — the corpus-health fingerprint (natural language sits near
    slope -1; template spam, boilerplate floods, or tokenizer damage
    bend the curve) reported next to llm_corpus_report before a crawl
    shard enters the mix. Plan: the corpus-scale work is one token
    explode + term aggregate (the llm_token_frequency shape); the
    top-1000 cut is a bounded TakeOrdered (freq desc, term asc — rank
    ties engine-exact), and the regression runs over 1000 rows. The
    log/product terms are identical double trees in both engines,
    CAST to DECIMAL per term and summed exactly (order-free), so the
    closed-form slope/intercept/r2 from those sums match bit-for-bit
    at the 6-decimal boundary regardless of partitioning.
    """
    from .functions.strings import tokens

    d = _t(spark, sf_dir, "documents")
    tf = (
        d.select(F.explode(tokens("text")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    top = tf.orderBy(F.col("c").desc(), "term").limit(1000)
    ranked = top.select(
        "c",
        F.row_number()
        .over(Window.orderBy(F.col("c").desc(), "term"))
        .alias("r"),
    )
    lx = F.log(F.col("r").cast("double"))
    ly = F.log(F.col("c").cast("double"))
    dec = lambda e: e.cast("decimal(28,15)")  # noqa: E731
    xy = ranked.select(
        dec(lx).alias("x"), dec(ly).alias("y"),
        dec(lx * lx).alias("xx"), dec(lx * ly).alias("xyp"),
        dec(ly * ly).alias("yy"),
    )
    s = xy.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum("xx").cast("double").alias("sxx"),
        F.sum("xyp").cast("double").alias("sxy"),
        F.sum("yy").cast("double").alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, sxy, syy = F.col("sxx"), F.col("sxy"), F.col("syy")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return s.select(
        n.alias("n_terms"),
        F.round(slope, 6).alias("zipf_slope"),
        F.round((sy - slope * sx) / n, 6).alias("intercept"),
        F.round(
            ((n * sxy - sx * sy) * (n * sxy - sx * sy))
            / ((n * sxx - sx * sx) * (n * syy - sy * sy)),
            6,
        ).alias("r2"),
    )


@query(
    "llm_embedding_drift",
    oracle="""
    WITH ex AS (
      SELECT label,
             unnest(range(1, len(embedding) + 1)) AS pos,
             unnest(embedding) AS v
      FROM embeddings
    ), lsum AS (
      SELECT label, pos,
             SUM(CAST(CAST(v AS DOUBLE) AS DECIMAL(28, 15))) AS s_dec,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM ex GROUP BY 1, 2
    ), csum AS (
      SELECT pos, SUM(s_dec) AS s_dec, SUM(n) AS n FROM lsum GROUP BY 1
    ), lmean AS (
      SELECT label, pos, CAST(s_dec AS DOUBLE) / n AS m, n FROM lsum
    ), cmean AS (
      SELECT pos, CAST(s_dec AS DOUBLE) / n AS m FROM csum
    ), dots AS (
      SELECT l.label, CAST(MIN(l.n) AS BIGINT) AS n_vecs,
             CAST(SUM(CAST(l.m * c.m AS DECIMAL(28, 15))) AS DOUBLE) AS dot,
             CAST(SUM(CAST(l.m * l.m AS DECIMAL(28, 15))) AS DOUBLE) AS nl,
             CAST(SUM(CAST(c.m * c.m AS DECIMAL(28, 15))) AS DOUBLE) AS nc
      FROM lmean l JOIN cmean c USING (pos) GROUP BY 1
    )
    SELECT label, n_vecs,
           ROUND(dot / (SQRT(nl) * SQRT(nc)), 6) AS cos_to_corpus,
           ROUND(SQRT(nl) / SQRT(nc), 6) AS norm_ratio
    FROM dots ORDER BY label
    """,
)
def llm_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic drift monitor in EMBEDDING space: for each label group
    (source/shard in production), the cosine between the group's mean
    vector and the corpus mean vector, plus the mean-norm ratio — the
    companion to token-level ``llm_kl_drift`` that catches topical /
    semantic shift token statistics miss (a feed can keep its unigram
    mix while its content drifts). Plan: ONE posexplode of the vectors
    into (label, pos) decimal-summed partials — the bounded-key
    aggregate (labels × dim) is the only corpus-scale shuffle; the
    corpus profile is DERIVED from the per-label partials by a second
    decimal-exact re-aggregate (decimal adds are associative, so
    sum-of-group-sums equals the whole — no second scan of the fact);
    the cosine reduces dim-sized mean tables. All float32 elements
    widen to double exactly, sums accumulate as DECIMAL (order-free),
    and products use identical double trees — bit-exact across engines
    and partitionings. n_vecs = group size rides the pos partials
    (MIN over equal per-pos counts).
    """
    e = _t(spark, sf_dir, "embeddings")
    ex = e.select(
        "label", F.posexplode("embedding").alias("pos0", "v")
    ).select("label", (F.col("pos0") + 1).alias("pos"), F.col("v").cast("double").alias("v"))
    lsum = ex.groupBy("label", "pos").agg(
        F.sum(F.col("v").cast("decimal(28,15)")).alias("s_dec"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    csum = lsum.groupBy("pos").agg(
        F.sum("s_dec").alias("s_dec"), F.sum("n").alias("n")
    )
    lmean = lsum.select(
        "label", "pos", (F.col("s_dec").cast("double") / F.col("n")).alias("m"), "n"
    )
    cmean = csum.select(
        "pos", (F.col("s_dec").cast("double") / F.col("n")).alias("cm")
    )
    dots = (
        lmean.join(cmean, "pos")
        .groupBy("label")
        .agg(
            F.min("n").cast("bigint").alias("n_vecs"),
            F.sum((F.col("m") * F.col("cm")).cast("decimal(28,15)"))
            .cast("double")
            .alias("dot"),
            F.sum((F.col("m") * F.col("m")).cast("decimal(28,15)"))
            .cast("double")
            .alias("nl"),
            F.sum((F.col("cm") * F.col("cm")).cast("decimal(28,15)"))
            .cast("double")
            .alias("nc"),
        )
    )
    return dots.select(
        "label", "n_vecs",
        F.round(F.col("dot") / (F.sqrt("nl") * F.sqrt("nc")), 6).alias("cos_to_corpus"),
        F.round(F.sqrt("nl") / F.sqrt("nc"), 6).alias("norm_ratio"),
    ).orderBy("label")
