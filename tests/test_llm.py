"""Tests for the LLM-pipeline operators: hash families verified against
exact baselines, planted duplicates recovered (SURVEY.md §7 P5)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_engineering_capstone_spark.llm.dedup import (
    exact_dedup,
    minhash_near_dups,
    ngram_jaccard_pairs,
    simhash_near_dups,
)
from data_engineering_capstone_spark.llm.similarity import (
    cosine_topk,
    embedding_near_dup_pairs,
    lsh_ann_topk,
)
from data_engineering_capstone_spark.llm.text import language_id, quality_score
from data_engineering_capstone_spark.sources.testdata import load_table


@pytest.fixture(scope="module")
def planted_docs(spark):
    base = "the quick brown fox jumps over the lazy dog while the cat sleeps on the warm mat near the door"
    near = base.replace("warm mat", "cold mat")          # 1-word change
    far = "completely different text about spark query engines and distributed joins at massive scale"
    exact = "  The QUICK brown fox jumps over the lazy dog while the cat sleeps on the warm mat near the door "
    rows = [(1, base), (2, near), (3, far), (4, exact), (5, base)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_planted(spark, planted_docs):
    kept = exact_dedup(planted_docs, "text", "doc_id")
    ids = sorted(r["doc_id"] for r in kept.collect())
    # 4 normalizes to 1 (case/whitespace), 5 is byte-identical to 1
    assert ids == [1, 2, 3]


def test_minhash_finds_planted_near_dup(spark, planted_docs):
    pairs = minhash_near_dups(planted_docs, "text", "doc_id", threshold=0.35)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (1, 2) in got or (1, 5) in got  # near-dup cluster detected
    assert not any(3 in p for p in got)    # unrelated doc untouched


def test_simhash_finds_planted_near_dup(spark, planted_docs):
    pairs = simhash_near_dups(planted_docs, "text", "doc_id", max_hamming=6)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (1, 2) in got
    assert not any(3 in p for p in got)


def test_simhash_rejects_radius_beyond_pigeonhole_bound(spark, planted_docs):
    import pytest

    with pytest.raises(ValueError, match="pigeonhole"):
        simhash_near_dups(planted_docs, "text", "doc_id", max_hamming=8, num_blocks=8)


def test_minhash_recall_vs_exact(spark, sf_dir):
    """Every exact-Jaccard>=0.5 pair must be recovered by MinHash-LSH at
    a lower estimate threshold (estimator noise margin)."""
    d = load_table(spark, sf_dir, "documents")
    exact = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(d, "text", "doc_id", threshold=0.5).collect()
    }
    assert exact, "no high-similarity pairs planted in testdata?"
    approx = {
        (r["id_a"], r["id_b"])
        for r in minhash_near_dups(d, "text", "doc_id", threshold=0.3).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, f"minhash recall {recall:.2f} over {len(exact)} pairs"


def test_lsh_ann_recall_vs_bruteforce(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 10)
    exact = {
        (r["q_id"], r["neighbor_id"])
        for r in cosine_topk(e, q, k=5).collect()
    }
    approx = {
        (r["q_id"], r["neighbor_id"])
        for r in lsh_ann_topk(e, q, k=5, dim=64).collect()
    }
    recall = len(exact & approx) / len(exact)
    # uniform-random gaussian embeddings put true neighbors at cos~0.4,
    # near the LSH noise floor; 8x6 tables measured 0.38 recall here —
    # the bar is "far above chance" (chance = 5/500 = 1%)
    assert recall >= 0.25, f"ANN recall {recall:.2f}"


def test_quality_score_bounds_and_ordering(spark):
    rows = [
        (1, "a well formed sentence with plenty of reasonable words inside it for scoring purposes today"),
        (2, "!!! ??? ### $$$ %%%"),
        (3, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["q"] for r in df.select("doc_id", quality_score("text").alias("q")).collect()}
    assert all(0.0 <= v <= 1.0 for v in got.values())
    assert got[1] > got[2] > got[3] or got[1] > got[2] >= got[3]


def test_language_id_deterministic(spark):
    rows = [
        (1, "the cat is on the mat and that is fine"),
        (2, "der hund ist nicht zu haus und das ist gut"),
        (3, "el perro es de la casa y que bien"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["p"] for r in df.select("doc_id", language_id("text").alias("p")).collect()}
    assert got == {1: "en", 2: "de", 3: "es"}


def test_embedding_near_dup_symmetric_with_topk(spark, sf_dir):
    """Pairs >= tau must appear in each other's full neighbor ranking."""
    e = load_table(spark, sf_dir, "embeddings")
    pairs = embedding_near_dup_pairs(e, 0.42).collect()
    assert pairs, "threshold produced no pairs"
    for r in pairs[:3]:
        q = e.filter(F.col("vec_id") == r["id_a"])
        top = cosine_topk(e, q, k=10).collect()
        assert any(t["neighbor_id"] == r["id_b"] for t in top) or r["cos_sim"] < top[-1]["cos_sim"]


def test_connected_components_planted_graph(spark):
    from data_engineering_capstone_spark.llm.clustering import connected_components, dedup_clusters

    # two chains and an isolated pair: {1-2-3-4}, {10-11}, {20-21-22}
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (21, 20), (21, 22)], "id_a long, id_b long"
    )
    comp = {r["id"]: r["component"] for r in connected_components(edges).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}
    clusters = dedup_clusters(edges).collect()
    survivors = {r["doc_id"] for r in clusters if r["is_survivor"]}
    assert survivors == {1, 10, 20}


def test_connected_components_long_chain_converges(spark):
    from data_engineering_capstone_spark.llm.clustering import connected_components

    # a 30-node path: worst-case diameter for label propagation
    edges = spark.createDataFrame([(i, i + 1) for i in range(30)], "id_a long, id_b long")
    comp = {r["id"]: r["component"] for r in connected_components(edges, max_iter=40).collect()}
    assert set(comp.values()) == {0} and len(comp) == 31


def test_ivf_ann_recall_vs_bruteforce(spark, sf_dir):
    from data_engineering_capstone_spark.llm.similarity import ivf_ann_topk

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 10)
    exact = {(r["q_id"], r["neighbor_id"]) for r in cosine_topk(e, q, k=5).collect()}
    approx = {
        (r["q_id"], r["neighbor_id"])
        for r in ivf_ann_topk(e, q, k=5, num_centroids=16, nprobe=4).collect()
    }
    recall = len(exact & approx) / len(exact)
    # probing 4/16 cells of uniform-random data ~ 25% of the corpus;
    # bar = meaningfully above the probe fraction and far above chance
    assert recall >= 0.3, f"IVF recall {recall:.2f}"


def test_nfc_makes_canonical_duplicates_dedup(spark):
    """Composed U+00E9 and decomposed e+U+0301 encode the same rendered
    text: exact dedup must miss the pair on raw bytes and catch it after
    the NFC pre-pass (llm/dedup.py:nfc_text)."""
    from data_engineering_capstone_spark.llm.dedup import exact_dedup, nfc_text

    docs = spark.createDataFrame(
        [(1, "un caf\u00e9 fort"), (2, "un cafe\u0301 fort"), (3, "other text")],
        "doc_id long, text string",
    )
    raw = exact_dedup(docs, "text", "doc_id")
    assert raw.count() == 3  # bytes differ: the pair survives
    normed = docs.withColumn("text", nfc_text("text"))
    deduped = exact_dedup(normed, "text", "doc_id")
    assert {r["doc_id"] for r in deduped.collect()} == {1, 3}
    # the engaged form: same result via the flag, no manual pre-pass
    flagged = exact_dedup(docs, "text", "doc_id", nfc=True)
    assert {r["doc_id"] for r in flagged.collect()} == {1, 3}


def test_gopher_rules_structural(spark):
    """The line/symbol rules the single-line fixture can't exercise:
    bullet-heavy, ellipsis-heavy, symbol-heavy, and numeric docs must
    each fail exactly their rule."""
    from data_engineering_capstone_spark.llm.curation import gopher_rules

    good = "the quick brown fox jumps over the lazy dog and that is it with ease"
    docs = spark.createDataFrame(
        [
            (1, good),
            (2, "- one\n- two\n- three\n* four\n• five"),  # all bullets
            (3, "first line...\nsecond line...\nthird one..."),  # ellipsis ends
            (4, "the ### tag ## and # more # hash # spam # here"),  # symbols
            (5, "1 2 3 4 5 6 7 8 9 10 11 12 the"),  # numeric words
        ],
        "doc_id int, text string",
    )
    r = {
        row["doc_id"]: row
        for row in gopher_rules(
            docs, "text", "doc_id", min_words=5, max_words=100
        ).collect()
    }
    assert r[1]["pass_gate"] == 1
    assert r[2]["r_bullet"] == 0 and r[2]["bullet_ratio"] == 1.0
    assert r[3]["r_ellipsis"] == 0 and r[3]["ellipsis_ratio"] == 1.0
    assert r[4]["r_symbol"] == 0 and r[4]["symbol_ratio"] > 0.1
    assert r[5]["r_alpha"] == 0 and r[5]["alpha_frac"] < 0.8
    # every failing doc fails the gate; rule columns are 0/1 ints
    for row in r.values():
        flags = [row[c] for c in row.asDict() if c.startswith("r_")]
        assert set(flags) <= {0, 1}
        assert row["pass_gate"] == int(all(flags))


def test_ivf_pq_recall_decomposed(spark, sf_dir):
    """IVF-PQ recall vs the exact baseline, with the two loss sources
    separated: unpruned (nprobe = all cells) isolates PQ code distortion
    + rerank quality; the pruned run adds the IVF cell-pruning loss that
    uniform-random data maximizes (no cluster structure)."""
    from data_engineering_capstone_spark.llm.similarity import ivf_pq_ann_topk

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 10)
    exact = {(r["q_id"], r["neighbor_id"]) for r in cosine_topk(e, q, k=5).collect()}

    full = ivf_pq_ann_topk(
        e, q, k=5, m=8, ks=32, num_cells=8, nprobe=8, refine=16
    ).collect()
    rec_unpruned = len(exact & {(r["q_id"], r["neighbor_id"]) for r in full}) / len(exact)
    assert rec_unpruned >= 0.75, f"PQ code+rerank recall {rec_unpruned:.2f}"

    pruned = ivf_pq_ann_topk(
        e, q, k=5, m=8, ks=32, num_cells=8, nprobe=4, refine=8
    ).collect()
    rec_pruned = len(exact & {(r["q_id"], r["neighbor_id"]) for r in pruned}) / len(exact)
    # probing 4/8 cells of uniform data; bar = above probe fraction
    assert rec_pruned >= 0.5, f"IVF-PQ pruned recall {rec_pruned:.2f}"

    # exact-rerank invariant: every reported cos_sim is the TRUE cosine
    # (ADC only shortlists; rank-1 must beat rank-5 within each query)
    by_q = {}
    for r in pruned:
        by_q.setdefault(r["q_id"], []).append((r["rk"], r["cos_sim"]))
    for sims in by_q.values():
        ordered = [s for _, s in sorted(sims)]
        assert ordered == sorted(ordered, reverse=True)


def test_ivf_pq_index_persist_roundtrip(spark, sf_dir, tmp_path):
    """Build-once/query-many: the PQ index written to parquet
    (partitioned by cell) and re-loaded must answer queries identically
    to the fused build+query path — the batch twin of the streaming/
    incremental index-reuse entries."""
    from data_engineering_capstone_spark.llm.similarity import (
        ivf_pq_ann_topk,
        pq_build_index,
        pq_query_index,
    )

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    fused = ivf_pq_ann_topk(e, q, k=4, num_cells=8, nprobe=4, refine=8).collect()

    index, model = pq_build_index(e, num_cells=8)
    path = str(tmp_path / "pq_index")
    index.write.partitionBy("cell").parquet(path)
    reloaded = spark.read.parquet(path)
    reread = pq_query_index(
        reloaded, model, q, e, k=4, nprobe=4, refine=8
    ).collect()
    assert sorted(map(tuple, fused)) == sorted(map(tuple, reread))
    # compression invariant: every stored code is exactly m bytes
    assert {len(r["code"]) for r in reloaded.collect()} == {8}


def test_pq_incremental_delta_equals_full_encode(spark, sf_dir):
    """Frozen-codebook shard encoding appended to the base index must
    answer queries identically to encoding the whole (base + shard)
    corpus with the same model — the contract that makes the index
    append-only for daily shards."""
    from data_engineering_capstone_spark.llm.similarity import (
        pq_build_index,
        pq_encode,
        pq_query_index,
    )

    e = load_table(spark, sf_dir, "embeddings")
    base_index, model = pq_build_index(e, m=8, ks=32, num_cells=8)
    e = e.select("vec_id", "embedding")
    shard = e.select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.reverse(F.col("embedding")).alias("embedding"),
    )
    corpus = e.unionByName(shard)
    q = e.filter(F.col("vec_id") < 5)

    delta = base_index.unionByName(pq_encode(shard, model))
    full = pq_encode(corpus, model)
    r_delta = pq_query_index(delta, model, q, corpus, k=5, nprobe=4, refine=8).collect()
    r_full = pq_query_index(full, model, q, corpus, k=5, nprobe=4, refine=8).collect()
    assert sorted(map(tuple, r_delta)) == sorted(map(tuple, r_full))
    assert len(r_delta) == 25


def test_ivf_pq_deterministic_and_codebook_shape(spark, sf_dir):
    import numpy as np

    from data_engineering_capstone_spark.llm.similarity import (
        _pq_train_codebooks,
        ivf_pq_ann_topk,
    )

    rng = np.random.RandomState(7)
    samp = rng.randn(300, 64)
    b1 = _pq_train_codebooks(samp, m=8, ks=16, seed=42)
    b2 = _pq_train_codebooks(samp, m=8, ks=16, seed=42)
    assert b1.shape == (8, 16, 8) and np.array_equal(b1, b2)
    with pytest.raises(ValueError):
        _pq_train_codebooks(samp, m=7, ks=16, seed=42)

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 3)
    r1 = ivf_pq_ann_topk(e, q, k=3, num_cells=4, nprobe=2).collect()
    r2 = ivf_pq_ann_topk(e, q, k=3, num_cells=4, nprobe=2).collect()
    assert sorted(map(tuple, r1)) == sorted(map(tuple, r2)) and len(r1) == 9


def test_chunking_covers_every_token_and_overlaps(spark):
    from data_engineering_capstone_spark.llm.chunking import chunk_by_tokens

    docs = spark.createDataFrame(
        [
            (1, " ".join(f"t{i}" for i in range(47))),   # 47 tokens -> starts 0,15,30,45
            (2, "a b c"),                                 # shorter than one window
            (3, "   "),                                   # whitespace only -> dropped
        ],
        "doc_id long, text string",
    )
    out = chunk_by_tokens(docs, "text", "doc_id", size=20, stride=15, with_text=True)
    rows = {(r.doc_id, r.chunk_id): r for r in out.collect()}

    assert sorted(k for k in rows if k[0] == 1) == [(1, 0), (1, 1), (1, 2), (1, 3)]
    # full windows are exactly `size`; the tail window holds the remainder
    assert rows[(1, 0)].n_tokens == 20
    assert rows[(1, 3)].n_tokens == 2            # tokens 45, 46
    # stride < size -> consecutive windows share size-stride tokens
    w0 = rows[(1, 0)].chunk_text.split(" ")
    w1 = rows[(1, 1)].chunk_text.split(" ")
    assert w0[15:] == w1[:5]
    # every token appears in some window, in order
    reassembled = []
    for cid in range(4):
        toks = rows[(1, cid)].chunk_text.split(" ")
        reassembled.extend(toks[5:] if cid else toks)
    assert reassembled == [f"t{i}" for i in range(47)]

    assert rows[(2, 0)].n_tokens == 3 and (2, 1) not in rows
    assert not any(k[0] == 3 for k in rows)


def test_semantic_dedup_precision_and_planted_recall(spark, sf_dir):
    """Every flagged dup must clear the threshold against its keeper
    (exact precision); a planted near-identical pair must be caught."""
    from data_engineering_capstone_spark.llm.similarity import cosine, semantic_dedup

    e = load_table(spark, sf_dir, "embeddings")
    # plant a near-identical copy of vec 0 with a fresh id
    planted = e.filter(F.col("vec_id") == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(1.001)).alias("embedding"),
    )
    corpus = e.select("vec_id", "embedding").unionByName(planted)
    dups = semantic_dedup(corpus, threshold=0.42, num_centroids=8)
    rows = dups.collect()
    # planted twin flagged, attributed to a keeper above threshold
    twin = [r for r in rows if r["vec_id"] == 100000]
    assert twin and twin[0]["dup_of"] == 0
    # multi-probe recall vs the exact quadratic baseline: the default
    # probes=2 must recover cross-cell pairs that single-assignment
    # misses (deterministic: measured 0.556 @ probes=1, 0.963 @ probes=2
    # on sf0.001; 0.531/0.875 on sf0.01)
    from data_engineering_capstone_spark.llm.similarity import embedding_near_dup_pairs

    exact_dup_ids = {
        r["id_b"] for r in embedding_near_dup_pairs(e, 0.42).collect()
    }
    flagged_p1 = {
        r["vec_id"]
        for r in semantic_dedup(e, 0.42, num_centroids=8, probes=1).collect()
    }
    flagged_p2 = {r["vec_id"] for r in rows if r["vec_id"] != 100000}
    rec1 = len(flagged_p1 & exact_dup_ids) / len(exact_dup_ids)
    rec2 = len(flagged_p2 & exact_dup_ids) / len(exact_dup_ids)
    assert rec2 >= 0.9, f"multi-probe recall {rec2:.2f}"
    assert rec2 > rec1, f"probes=2 ({rec2:.2f}) must beat probes=1 ({rec1:.2f})"
    # precision: re-verify every (dup_of, vec_id) pair exactly
    a = corpus.select(F.col("vec_id").alias("dup_of"), F.col("embedding").alias("__ea"))
    b = corpus.select(F.col("vec_id").alias("vec_id"), F.col("embedding").alias("__eb"))
    verified = (
        dups.join(a, "dup_of").join(b, "vec_id")
        .select(cosine(F.col("__ea"), F.col("__eb")).alias("sim"))
        .collect()
    )
    assert len(verified) == len(rows)
    assert all(r["sim"] >= 0.42 - 1e-9 for r in verified)


def test_bpe_merges_match_sequential_reference(spark, sf_dir):
    """Distributed BPE == the sequential reference on the same corpus."""
    from data_engineering_capstone_spark.llm.bpe import learn_bpe_merges, reference_bpe
    from data_engineering_capstone_spark.functions.strings import tokens as _tokens

    d = load_table(spark, sf_dir, "documents").limit(120)
    wf = {
        r["w"]: r["f"]
        for r in d.select(F.explode(_tokens("text")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("f"))
        .collect()
    }
    expected = reference_bpe(wf, 8)
    got = [
        (r["left"], r["right"], r["pair_freq"])
        for r in learn_bpe_merges(d, "text", num_merges=8).orderBy("rank").collect()
    ]
    assert got == expected
    # merged symbols really are concatenations of earlier symbols
    assert all(l + r for l, r, _ in got)


def test_minhash_shingle_cap_bounds_outlier_doc(spark):
    """max_shingles_per_doc caps the per-doc aggregation buffer; docs
    under the cap produce byte-identical signatures with or without it,
    and a capped outlier still gets a valid bottom-k-sampled signature
    that matches its duplicate twin."""
    from data_engineering_capstone_spark.llm.dedup import minhash_signatures

    big = " ".join(f"tok{i}" for i in range(3000))  # ~3k distinct shingles
    rows = [(1, big), (2, big), (3, "a short normal document here")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    uncapped = {
        r["doc_id"]: tuple(r["signature"])
        for r in minhash_signatures(df, "text", "doc_id").collect()
    }
    capped = {
        r["doc_id"]: tuple(r["signature"])
        for r in minhash_signatures(
            df, "text", "doc_id", max_shingles_per_doc=256
        ).collect()
    }
    # under-cap doc identical; identical outliers stay identical capped
    assert capped[3] == uncapped[3]
    assert capped[1] == capped[2]
    assert len(capped[1]) == 64


def test_lsh_near_dup_recall_and_exact_precision(spark, sf_dir):
    """The catalog's scale path (LSH candidates + exact verify) vs the
    quadratic all-pairs oracle: precision must be EXACT (verify stage
    recomputes true cosine), recall bounded below."""
    from data_engineering_capstone_spark.llm.similarity import lsh_near_dup_pairs

    e = load_table(spark, sf_dir, "embeddings")
    exact = {
        (r["id_a"], r["id_b"]): r["cos_sim"]
        for r in embedding_near_dup_pairs(e, 0.42).collect()
    }
    approx = {
        (r["id_a"], r["id_b"]): r["cos_sim"]
        for r in lsh_near_dup_pairs(e, 0.42, dim=64).collect()
    }
    assert exact, "threshold produced no pairs"
    # every emitted pair is a true pair with the true similarity
    for pair, sim in approx.items():
        assert pair in exact and abs(sim - exact[pair]) < 1e-6
    recall = len(approx) / len(exact)
    # deterministic (fixed seed + data): measured 0.889 @ sf0.001, 0.971 @ sf0.01
    assert recall >= 0.85, f"LSH near-dup recall {recall:.2f} over {len(exact)} pairs"


def test_duplicate_spans_planted(spark):
    from data_engineering_capstone_spark.llm.spans import duplicate_spans

    rows = [
        (1, "a b c d e f g h x1 y1"),
        (2, "q1 r1 a b c d e f g h z1"),
        (3, "m1 n1 o1 e f g h p1 s1 t1 u1"),  # only 4 shared tokens with 1/2
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    spans = duplicate_spans(df, "text", "doc_id", min_tokens=5).collect()
    assert len(spans) == 1
    s = spans[0]
    assert (s.id_a, s.id_b, s.start_a, s.start_b, s.span_tokens) == (1, 2, 1, 3, 8)


def test_duplicate_spans_maximal_and_stats(spark):
    from data_engineering_capstone_spark.llm.spans import duplicate_span_stats

    # two distinct shared runs: one of exactly 5 tokens, one of 6 tokens
    run5 = "r1 r2 r3 r4 r5"
    run6 = "s1 s2 s3 s4 s5 s6"
    rows = [
        (1, f"{run5} x1 x2 x3 {run6} x4"),
        (2, f"y1 {run5} y2 y3 {run6} y4 y5"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    stats = duplicate_span_stats(df, "text", "doc_id", min_tokens=5).collect()
    assert len(stats) == 1
    st = stats[0]
    # a 5-run is ONE maximal span (not several overlapping 5-gram hits),
    # the 6-run is one span of 6
    assert (st.n_spans, st.max_span_tokens, st.dup_tokens) == (2, 6, 11)


def test_bloom_decontaminate_superset_of_exact(spark, sf_dir):
    from data_engineering_capstone_spark.llm.curation import (
        bloom_decontaminate,
        decontaminate,
    )

    d = load_table(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 10 == 0)
    corpus = d.filter(F.col("doc_id") % 10 != 0)
    exact_ids = {
        r.doc_id for r in decontaminate(corpus, bench, "text", "doc_id").collect()
    }
    bloom_rows = bloom_decontaminate(corpus, bench, "text", "doc_id").collect()
    bloom_ids = {r.doc_id for r in bloom_rows}
    # one-sided error: every truly contaminated doc is flagged
    assert exact_ids <= bloom_ids
    # false positives bounded: 2^18 bits / 4 hashes on a tiny benchmark
    # -> fill ratio ~1e-2, per-gram FP ~1e-8; allow a loose margin
    n_corpus = corpus.count()
    assert len(bloom_ids - exact_ids) <= max(2, n_corpus // 20)
    # deterministic across runs
    again = {r.doc_id for r in
             bloom_decontaminate(corpus, bench, "text", "doc_id").collect()}
    assert again == bloom_ids


def test_quality_classifier_bounds_and_empty(spark):
    from data_engineering_capstone_spark.llm.scoring import quality_classifier_score

    rows = [(1, "the quick brown fox"), (2, ""), (3, "   "), (4, "spark")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: r.s
        for r in df.select("doc_id", quality_classifier_score("text").alias("s")).collect()
    }
    assert all(0.0 < v < 1.0 for v in out.values())
    assert out[2] == pytest.approx(0.5)
    assert out[3] == pytest.approx(0.5)
    # single-token score is sigmoid(weight) of that token: re-run identical
    out2 = {
        r.doc_id: r.s
        for r in df.select("doc_id", quality_classifier_score("text").alias("s")).collect()
    }
    assert out == out2


def test_corpus_shuffle_dense_positions(spark, sf_dir):
    from data_engineering_capstone_spark.queries_llm import llm_corpus_shuffle

    out = llm_corpus_shuffle(spark, sf_dir)
    n_docs = load_table(spark, sf_dir, "documents").count()
    assert out.count() == n_docs
    per_shard = (
        out.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("pos").alias("lo"),
            F.max("pos").alias("hi"),
            F.count_distinct("pos").alias("nd"),
        )
        .collect()
    )
    for r in per_shard:
        assert (r.lo, r.hi, r.nd) == (1, r.n, r.n)


def test_duplicate_spans_hot_gram_guard(spark):
    from data_engineering_capstone_spark.llm.spans import duplicate_spans

    # the same 5-token boilerplate in 4 docs: with max_doc_freq=3 the
    # gram is dropped from the inverted index entirely -> no spans;
    # default cap keeps all C(4,2)=6 pairs
    bp = "b1 b2 b3 b4 b5"
    rows = [(i, f"u{i}a u{i}b {bp} u{i}c") for i in range(4)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    capped = duplicate_spans(df, "text", "doc_id", min_tokens=5, max_doc_freq=3)
    assert capped.count() == 0
    full = duplicate_spans(df, "text", "doc_id", min_tokens=5, max_doc_freq=1000)
    assert full.count() == 6


def test_pagerank_matches_numpy_power_iteration(spark):
    import numpy as np

    from data_engineering_capstone_spark.llm.clustering import pagerank

    # two triangles bridged by one edge + a hub
    edges = [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (5, 6), (4, 6), (1, 7)]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r.id: r.rank for r in pagerank(df, iterations=10).collect()}

    ids = sorted({x for e in edges for x in e})
    idx = {v: i for i, v in enumerate(ids)}
    n = len(ids)
    A = np.zeros((n, n))
    for a, b in edges:
        A[idx[a], idx[b]] = A[idx[b], idx[a]] = 1.0
    deg = A.sum(axis=1)
    r = np.full(n, 1.0 / n)
    for _ in range(10):
        r = (1 - 0.85) / n + 0.85 * (A.T @ (r / deg))
    for v in ids:
        assert abs(got[v] - r[idx[v]]) < 1e-9
    # ranks sum to ~1 on a graph with no dangling mass
    assert abs(sum(got.values()) - 1.0) < 1e-9


def test_bpe_encode_matches_reference(spark):
    from data_engineering_capstone_spark.llm.bpe import (
        END_MARK,
        bpe_encode_lengths,
        learn_bpe_merges,
        reference_bpe,
    )

    rows = [(1, "low lower lowest low low"), (2, "newer newest new lower")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    merges_df = learn_bpe_merges(df, "text", num_merges=6)
    merges = [(r.left, r.right) for r in merges_df.orderBy("rank").collect()]

    out = {r.doc_id: r for r in bpe_encode_lengths(df, "text", "doc_id", merges).collect()}

    def ref_encode_len(w: str) -> int:
        syms = list(w[:-1]) + [w[-1] + END_MARK]
        for left, right in merges:
            res, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == left and syms[i + 1] == right:
                    res.append(left + right)
                    i += 2
                else:
                    res.append(syms[i])
                    i += 1
            syms = res
        return len(syms)

    for doc_id, text in rows:
        words = text.split()
        assert out[doc_id].n_words == len(words)
        assert out[doc_id].n_bpe_tokens == sum(ref_encode_len(w) for w in words)
    # merges actually compress: fewer symbols than raw chars+markers
    raw = sum(len(w) + 1 for w in "low lower lowest low low".split())
    assert out[1].n_bpe_tokens < raw


def test_remove_duplicate_spans_planted(spark):
    from data_engineering_capstone_spark.llm.spans import remove_duplicate_spans

    shared = "s1 s2 s3 s4 s5 s6"
    rows = [
        (1, f"a1 a2 {shared} a3"),
        (2, f"b1 {shared} b2 b3"),
        (3, "c1 c2 c3"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in
           remove_duplicate_spans(df, "text", "doc_id", min_tokens=5).collect()}
    # lower id keeps the span verbatim
    assert out[1].text == f"a1 a2 {shared} a3"
    assert out[1].n_tokens_removed == 0 and not out[1].was_deduped
    # higher id loses exactly the shared run
    assert out[2].text == "b1 b2 b3"
    assert out[2].n_tokens_removed == 6 and out[2].was_deduped
    # untouched doc passes through
    assert out[3].text == "c1 c2 c3" and out[3].n_tokens_removed == 0


def test_similarity_apis_accept_string_ids(spark):
    """The mapInPandas verify stages must derive their id schema from
    the input id type (round-3 advice: hardcoded `long` broke string
    ids at runtime) — exercised end-to-end with string doc ids."""
    import numpy as np

    from data_engineering_capstone_spark.llm.similarity import (
        cosine_topk,
        lsh_near_dup_pairs,
        semantic_dedup,
    )

    rng = np.random.RandomState(7)
    base = rng.randn(6, 16)
    base[1] = base[0] + 0.01 * rng.randn(16)  # planted near-dup of row 0
    rows = [(f"doc-{i:02d}", [float(v) for v in base[i]]) for i in range(6)]
    e = spark.createDataFrame(rows, "vec_id string, embedding array<float>")

    pairs = lsh_near_dup_pairs(e, 0.9, dim=16, num_tables=8, planes_per_table=2)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert ("doc-00", "doc-01") in got
    assert pairs.schema["id_a"].dataType.simpleString() == "string"

    topk = cosine_topk(e, e.limit(2), k=2)
    out = topk.collect()
    assert out and all(isinstance(r["neighbor_id"], str) for r in out)

    dups = semantic_dedup(e, 0.9, num_centroids=2)
    flagged = {r["vec_id"]: r["dup_of"] for r in dups.collect()}
    assert flagged.get("doc-01") == "doc-00"


def test_minhash_template_spam_collapse(spark):
    """Mega-bucket guard (round-3 verdict task 5): k identical template
    copies share every band hash, so the bucket self-join is ~16*k^2/2
    candidate rows (measured 800M raw / 50M distinct for k=10k,
    SCALE.md §12). collapse_exact=True collapses identical fingerprints
    to one representative before the signature stage — candidates stay
    corpus-sized and exact-group membership rides along as n_a/n_b."""
    from data_engineering_capstone_spark.llm.dedup import (
        lsh_candidate_pairs,
        minhash_near_dups,
        minhash_signatures,
    )

    k = 2000
    template = ("breaking news subscribe to our newsletter for daily "
                "updates terms privacy contact copyright notice")
    variant = template.replace("daily updates", "weekly updates")
    base = [(1, "the quick brown fox jumps over the lazy dog near the door"),
            (2, variant)]
    spam = [(100 + i, template) for i in range(k)]
    corpus = spark.createDataFrame(base + spam, "doc_id long, text string")

    # uncollapsed: the template group alone makes >= 16 * k*(k-1)/2 raw
    # candidate rows — the quadratic shuffle the collapse exists to kill
    sigs = minhash_signatures(corpus, "text", "doc_id")
    banded_raw = lsh_candidate_pairs(sigs, "doc_id", num_hashes=64)  # distinct pairs
    assert banded_raw.count() >= k * (k - 1) // 2

    collapsed = minhash_near_dups(
        corpus, "text", "doc_id", threshold=0.35, collapse_exact=True
    ).collect()
    # candidate/pair volume is representative-scale, not k^2
    assert len(collapsed) < 10
    by_pair = {(r["id_a"], r["id_b"]): r for r in collapsed}
    # the planted near-variant still pairs with the template's
    # representative (min id = 100), carrying the group size
    r = by_pair.get((2, 100))
    assert r is not None and r["n_a"] == 1 and r["n_b"] == k
    # the template group also emits a representative SELF-row so its
    # k-1 members stay enumerable even with no near-dup edge (ADVICE
    # round 4: edgeless exact groups used to vanish from the output)
    s = by_pair.get((100, 100))
    assert s is not None and s["n_a"] == k and s["est_jaccard"] == 1.0


def test_ngram_containment_detects_embedded_quote(spark):
    """Containment flags a snippet embedded verbatim in a long page
    even though their Jaccard is far below any near-dup threshold."""
    from data_engineering_capstone_spark.llm.dedup import (
        ngram_containment_pairs,
        ngram_jaccard_pairs,
    )

    snippet = "all your base are belong to us now"
    filler = " ".join(f"w{i} x{i}" for i in range(120))
    rows = [(1, snippet), (2, f"{filler} {snippet} {filler}"),
            (3, "totally unrelated text about spark joins and shuffles")]
    d = spark.createDataFrame(rows, "doc_id long, text string")

    cont = {(r["id_a"], r["id_b"]): r["containment"]
            for r in ngram_containment_pairs(d, "text", "doc_id", 0.6).collect()}
    assert cont.get((1, 2)) == 1.0  # snippet fully contained
    assert (1, 3) not in cont and (2, 3) not in cont

    jac = {(r["id_a"], r["id_b"]): r["jaccard"]
           for r in ngram_jaccard_pairs(d, "text", "doc_id", 0.01,
                                        max_doc_freq=100).collect()}
    # Jaccard sees the same pair at ~snippet/(page) scale — far below 0.2
    assert jac[(1, 2)] < 0.05


def test_span_decontamination_surgical(spark):
    """Surgical decontamination cuts exactly the benchmark-overlapping
    span and keeps the rest of the page (the doc-drop form would lose
    the whole document)."""
    from data_engineering_capstone_spark.llm.spans import (
        remove_contamination_spans,
    )

    bench = spark.createDataFrame(
        [(100, "what is the capital of france paris obviously")],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [
            # quotes a 7-token benchmark span mid-page
            (1, "intro words here what is the capital of france paris and more trailing content"),
            (2, "completely clean page about spark shuffles and joins"),
            (3, "short doc"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in remove_contamination_spans(
        corpus, bench, "text", "doc_id", min_tokens=5).collect()}
    # shared maximal span = "what is the capital of france paris" (7 tokens;
    # "...paris and" breaks the match before "and")
    assert out[1]["was_decontaminated"] and out[1]["n_tokens_removed"] == 7
    assert out[1]["text"] == "intro words here and more trailing content"
    assert not out[2]["was_decontaminated"] and out[2]["n_tokens_removed"] == 0
    assert out[3]["text"] == "short doc"


def test_minhash_index_delta_equals_full_recompute(spark, tmp_path):
    """Round-5 verdict task 8: near-dup-joining a NEW batch against the
    PERSISTED corpus index (parquet round-trip included) must produce
    exactly the new-doc-touching subset of a full minhash_near_dups
    recompute over corpus+batch — incremental == batch, so the index
    can be reused shard after shard without recomputation drift."""
    import os

    from data_engineering_capstone_spark.llm.dedup import (
        minhash_band_index,
        minhash_delta_pairs,
        minhash_near_dups,
    )

    base = ("the quick brown fox jumps over the lazy dog while the cat "
            "sleeps on the warm mat near the open door tonight")
    corpus_rows = [
        (1, base),
        (2, "unrelated page about spark joins shuffles and parquet files"),
        (3, base.replace("lazy dog", "lazy wolf")),  # near-dup inside corpus
    ]
    new_rows = [
        (10, base.replace("warm mat", "cold mat")),   # near-dup of 1 and 3
        (11, "totally fresh content on columnar encodings and bloom filters"),
        (12, "totally fresh content on columnar encodings and rice filters"),  # near-dup of 11
    ]
    corpus = spark.createDataFrame(corpus_rows, "doc_id long, text string")
    new = spark.createDataFrame(new_rows, "doc_id long, text string")

    tmp = str(tmp_path)
    index, sigs = minhash_band_index(corpus, "text", "doc_id")
    index.write.mode("overwrite").parquet(os.path.join(tmp, "index"))
    sigs.write.mode("overwrite").parquet(os.path.join(tmp, "sigs"))
    got = {
        (r["id_a"], r["id_b"]): round(r["est_jaccard"], 6)
        for r in minhash_delta_pairs(
            new, "text", "doc_id",
            spark.read.parquet(os.path.join(tmp, "index")),
            spark.read.parquet(os.path.join(tmp, "sigs")),
            threshold=0.35,
        ).collect()
    }

    full = minhash_near_dups(
        corpus.unionByName(new), "text", "doc_id", threshold=0.35
    ).collect()
    new_ids = {r[0] for r in new_rows}
    want = {
        (r["id_a"], r["id_b"]): round(r["est_jaccard"], 6)
        for r in full
        if r["id_a"] in new_ids or r["id_b"] in new_ids
    }
    assert (1, 10) in want and (11, 12) in want, "fixture must plant both shapes"
    assert got == want
    # and the corpus-internal pair is correctly NOT re-emitted
    assert (1, 3) not in got


def test_leakage_safe_split_never_splits_a_group(spark):
    """llm_split_leakage_safe: no content fingerprint may appear in
    more than one split (the operator's whole contract), and the
    doubled corpus must actually contain cross-id duplicates so the
    property is exercised, not vacuous."""
    from pyspark.sql import functions as F

    sf_dir = "/root/testdata/sf0.001"
    d0 = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    doubled = d0.unionAll(
        d0.select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
    )
    fp = F.md5(F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")))
    m = F.md5(F.concat(F.lit("gsplit:"), fp))

    def a(i):
        return F.ascii(F.substring(m, i, 1)).cast("long")

    b = ((a(1) * 31 + a(2)) * 31 + a(3)) % 100
    split = (
        F.when(b < 80, F.lit("train"))
        .when(b < 90, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    assigned = doubled.select(fp.alias("f"), split.alias("s"))
    # a group is leaked iff it has >1 distinct split
    leaked = (
        assigned.groupBy("f")
        .agg(F.countDistinct("s").alias("k"), F.count(F.lit(1)).alias("n"))
        .where(F.col("k") > 1)
        .count()
    )
    assert leaked == 0
    # fixture really has multi-member groups (every doc is doubled)
    multi = (
        assigned.groupBy("f").count().where(F.col("count") > 1).count()
    )
    assert multi > 0


def test_strip_markup_semantics(spark):
    """Script/style CONTENT is dropped, tag content is kept, entities
    decode only after tag removal (amp last)."""
    from data_engineering_capstone_spark.llm.text import strip_markup

    rows = [
        (1, "<p>keep me</p><script>drop();</script> tail"),
        (2, "<STYLE type='x'>p{a:1}</STYLE><b>bold</b>"),
        (3, "a &amp;lt; b"),                     # decodes to 'a &lt; b', NOT '<'
        (4, "x &lt;script&gt;alert()&lt;/script&gt; y"),  # stays literal text
        (5, "<div\nclass='m'>multi\nline</div>"),
    ]
    df = spark.createDataFrame(rows, "id long, h string")
    got = {r["id"]: r["c"] for r in df.select("id", strip_markup("h").alias("c")).collect()}
    assert got[1] == "keep me tail"
    assert got[2] == "bold"
    assert got[3] == "a &lt; b"
    assert got[4] == "x <script>alert()</script> y"
    assert got[5] == "multi line"


def _write_docs(spark, tmp_path, rows):
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    ).withColumn("n_chars", F.length("text"))
    df.coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    return str(tmp_path)


def test_boilerplate_lines_first_occurrence_kept(spark, tmp_path):
    """CCNet paragraph-hash semantics on the 10-token-block unit: a
    block shared by 3 docs survives only in its first (doc_id, pos)
    occurrence; unique text is untouched; the cleaned digest equals the
    md5 of the surviving blocks rejoined in order."""
    import hashlib

    from data_engineering_capstone_spark.queries_llm import llm_boilerplate_lines

    boiler = "nav bar link home about contact privacy terms copyright footer"
    u = [
        " ".join(f"w{d}x{i}" for i in range(10)) for d in range(4)
    ]  # unique 10-token blocks per doc
    rows = [
        (1, boiler + " " + u[0], "en", "src0"),   # first occurrence -> kept
        (2, boiler + " " + u[1], "en", "src0"),   # later copy -> dropped
        (3, u[2] + " " + boiler, "en", "src1"),   # later copy at pos 1 -> dropped
        (4, u[3] + " tail word trio", "en", "src1"),  # 13 tokens, all unique
    ]
    sf = _write_docs(spark, tmp_path, rows)
    r = {x["doc_id"]: x for x in llm_boilerplate_lines(spark, sf).collect()}
    assert (r[1]["n_blocks"], r[1]["n_dropped"]) == (2, 0)
    assert (r[2]["n_blocks"], r[2]["n_dropped"]) == (2, 1)
    assert (r[3]["n_blocks"], r[3]["n_dropped"]) == (2, 1)
    assert (r[4]["n_blocks"], r[4]["n_dropped"]) == (2, 0)
    assert r[2]["clean_digest"] == hashlib.md5(u[1].encode()).hexdigest()
    assert r[3]["clean_digest"] == hashlib.md5(u[2].encode()).hexdigest()
    assert r[1]["clean_digest"] == hashlib.md5(rows[0][1].encode()).hexdigest()


def test_dsir_weights_rank_target_like_docs_higher(spark, tmp_path):
    """DSIR importance weights: raw docs written in the target subset's
    vocabulary must outscore raw docs in a disjoint vocabulary, and the
    selected flag must equal (w >= median of rounded weights)."""
    from data_engineering_capstone_spark.queries_llm import llm_dsir_weights

    tgt = "alpha beta gamma delta epsilon zeta eta theta"
    off = "zonk quux blorp flerb snark grizzle wombat plonk"
    rows = (
        # the trusted subset (source=src0) defines the target distribution
        [(i, tgt, "en", "src0") for i in range(1, 5)]
        # raw pool: two target-like, two off-vocabulary
        + [
            (10, tgt, "en", "src1"),
            # rotated: same length, 6/7 bigrams shared with the target
            (11, "beta gamma delta epsilon zeta eta theta alpha", "en", "src1"),
        ]
        + [(20, off, "en", "src1"), (21, off + " zonk quux", "en", "src1")]
    )
    sf = _write_docs(spark, tmp_path, rows)
    r = {x["doc_id"]: x for x in llm_dsir_weights(spark, sf).collect()}
    assert len(r) == 8
    w_target_like = min(r[i]["w"] for i in (1, 2, 3, 4, 10, 11))
    w_off = max(r[i]["w"] for i in (20, 21))
    assert w_target_like > w_off
    med = sorted(x["w"] for x in r.values())[len(r) // 2 - 1]  # disc median (0.5)
    for x in r.values():
        assert x["selected"] == int(x["w"] >= med)
    # docs whose bigram distribution EQUALS the target's are always in
    # the kept half; off-vocabulary docs never are. (Doc 11 sits between:
    # its one novel boundary bigram may land either side of the discrete
    # median — the per-row flag check above already pins its behavior.)
    assert all(r[i]["selected"] == 1 for i in (1, 2, 3, 4, 10))
    assert all(r[i]["selected"] == 0 for i in (20, 21))


def test_kl_drift_zero_iff_source_matches_corpus(spark, tmp_path):
    """KL(P_s || Q) is 0 exactly when the source's unigram distribution
    equals the corpus mix, and strictly positive for a skewed source."""
    from data_engineering_capstone_spark.queries_llm import llm_kl_drift

    # two sources with IDENTICAL token distributions -> corpus mix ==
    # each source's distribution -> KL == 0 for both
    rows = [
        (1, "a a b c", "en", "s1"),
        (2, "a a b c", "en", "s2"),
    ]
    r = {x["source"]: x for x in llm_kl_drift(spark, _write_docs(spark, tmp_path, rows)).collect()}
    assert r["s1"]["kl_unigram"] == 0.0 and r["s2"]["kl_unigram"] == 0.0
    assert r["s1"]["n_tokens"] == 4 and r["s1"]["n_terms"] == 3

    # skew one source -> both diverge from the pooled corpus mix
    rows = [
        (1, "a a a a a a b", "en", "s1"),
        (2, "b b b b b b a", "en", "s2"),
    ]
    r = {x["source"]: x for x in llm_kl_drift(spark, _write_docs(spark, tmp_path, rows)).collect()}
    assert r["s1"]["kl_unigram"] > 0.0 and r["s2"]["kl_unigram"] > 0.0
    # symmetric construction -> identical divergences
    assert r["s1"]["kl_unigram"] == r["s2"]["kl_unigram"]


def test_hybrid_rrf_fuses_both_rankers(spark, tmp_path):
    """A doc ranked #1 by BOTH rankers must win the fusion, and every
    rrf value must equal 1/(60+r_bm25) + 1/(60+r_dense) with an absent
    rank contributing 0."""
    from data_engineering_capstone_spark.queries_llm import llm_hybrid_rrf_search

    # doc 1: strong lexical match AND embedding identical to the query
    # (vec_id 0); doc 2: lexical only; doc 3: dense only
    rows = [
        (1, "spark query batch spark query batch", "en", "s"),
        (2, "spark query batch filler words here", "en", "s"),
        (3, "nothing relevant lexically at all xx", "en", "s"),
    ]
    _write_docs(spark, tmp_path, rows)
    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0, 0.0], 0),     # the query vector
            (1, [1.0, 0.0, 0.0, 0.0], 0),     # cos = 1.0 -> dense rank 1
            (2, [0.0, 0.0, 0.0, 1.0], 0),     # orthogonal
            (3, [0.9, 0.1, 0.0, 0.0], 0),     # cos ~0.99 -> dense rank 2
        ],
        "vec_id long, embedding array<float>, label int",
    )
    emb.coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/embeddings.parquet")

    out = llm_hybrid_rrf_search(spark, str(tmp_path)).collect()
    byid = {r.doc_id: r for r in out}
    assert out[0].doc_id == 1  # top both rankers -> top fused
    for r in out:
        expect = (1.0 / (60 + r.r_bm25) if r.r_bm25 else 0.0) + (
            1.0 / (60 + r.r_dense) if r.r_dense else 0.0
        )
        assert abs(r.rrf - expect) < 1e-6
    assert byid[1].r_dense == 1 and byid[3].r_dense == 2
    # doc 2 beats doc 3 lexically; doc 3 has no bm25 rank at all
    assert byid[2].r_bm25 is not None and byid[3].r_bm25 is None


def test_semantic_decontamination_planted(spark, tmp_path):
    """A corpus vector equal to a benchmark vector is contaminated at
    cos == 1.0 with the right nearest id; an orthogonal one is clean;
    the min-id tie-break resolves equal similarities."""
    from data_engineering_capstone_spark.llm.similarity import (
        semantic_decontaminate,
    )

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),   # bench 0
        (1, [0.0, 1.0, 0.0, 0.0]),   # bench 1 (same direction as bench 2)
        (2, [0.0, 2.0, 0.0, 0.0]),   # bench 2 — cos-identical to bench 1
        (100, [3.0, 0.0, 0.0, 0.0]), # corpus: parallel to bench 0
        (101, [0.0, 0.0, 1.0, 0.0]), # corpus: orthogonal to all -> clean
        (102, [0.0, 5.0, 0.0, 0.0]), # corpus: ties bench 1 and 2 -> min id 1
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    bench = df.filter(F.col("vec_id") < 50)
    corpus = df.filter(F.col("vec_id") >= 50)
    out = {r.vec_id: r for r in semantic_decontaminate(corpus, bench, 0.5).collect()}
    assert set(out) == {100, 102}
    assert out[100].nearest_bench_id == 0 and out[100].max_cos == 1.0
    assert out[102].nearest_bench_id == 1 and out[102].max_cos == 1.0


def test_trained_classifier_kernel_drop_in(spark, sf_dir):
    """Round-11 (verdict task 6): the production lookup kernel
    (hashed_linear_score — broadcast weight array + slot hash) must be a
    bit-exact drop-in for the md5 arithmetic stand-in when the md5 slot
    function and formula weights are installed — the differential that
    lets llm_quality_classifier_trained ship rows-only while the md5
    twin carries the oracle."""
    from data_engineering_capstone_spark.catalog import load_all
    from data_engineering_capstone_spark.llm.scoring import (
        _SLOTS,
        hashed_linear_score,
        trained_quality_weights,
    )

    cat = load_all()
    twin = {
        (r["doc_id"], r["quality_score"])
        for r in cat["llm_quality_classifier"].fn(spark, sf_dir).collect()
    }

    def md5_slot(tok):
        m = F.md5(tok)

        def a(i):
            return F.ascii(F.substring(m, i, 1)).cast("long")

        return (((a(1) * 31 + a(2)) * 31 + a(3)) * 31 + a(4)) % _SLOTS

    formula_w = [(s - 1000) / 1000.0 for s in range(_SLOTS)]
    d = load_table(spark, sf_dir, "documents")
    mine = {
        (r["doc_id"], r["quality_score"])
        for r in d.select(
            "doc_id",
            F.round(hashed_linear_score("text", formula_w, md5_slot), 6).alias(
                "quality_score"
            ),
        ).collect()
    }
    assert mine == twin

    # the shipped trained entry: deterministic under relayout, bounded
    # scores, keep == score >= 0.5, and a shuffle-free single-scan plan
    ent = cat["llm_quality_classifier_trained"]
    out1 = ent.fn(spark, sf_dir)
    rows1 = out1.collect()
    assert all(0.0 < r["quality_score"] < 1.0 for r in rows1)
    assert all(r["keep"] == (r["quality_score"] >= 0.5) for r in rows1)
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        out1.explain()
    plan = buf.getvalue()
    assert "Exchange hashpartitioning" not in plan, "classifier must not shuffle"
    assert "BatchEvalPython" not in plan
    # weights really are the checkpoint stand-in (same seed -> same list)
    assert trained_quality_weights() == trained_quality_weights()
