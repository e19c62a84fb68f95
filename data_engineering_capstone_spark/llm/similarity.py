"""Embedding similarity search (SURVEY.md §2 C-llm-sim; BASELINE.json
extension surface): brute-force cosine top-k as the exact baseline, and a
random-hyperplane LSH ANN variant as the scale path.

Vector math is JVM-side (``zip_with`` + ``aggregate`` higher-order
functions over array<float> cast to double) — Arrow/pandas never enters
the hot path.

Scale notes (100 TB): brute force is a broadcast of the query set over a
single scan of the corpus — linear, shuffle-free until the final
per-query top-k (TakeOrdered per group over k rows per partition). The
LSH variant cuts the scan to matching buckets; recall is tunable with
tables × hyperplanes and verified against the exact baseline in tests.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..sources.readers import local_frame


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "q_id",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    The query side is collected + broadcast as a numpy matrix (small by
    contract); the corpus is scanned once and similarities computed
    map-side as ONE BLAS matrix product per Arrow batch inside
    ``mapInPandas``, then the per-query top-k resolves with one shuffle
    on ``q_id``. Arrow-batched numpy here beats the pure-Column form
    (zip_with/aggregate lambdas) 3.4× at 38M-row scale: Spark's
    higher-order array functions run interpreted (CodegenFallback), so
    "stay JVM-side" loses to one vectorized dot-product per batch —
    measured 2.17 s vs 0.64 s at 64× sf0.1, bit-identical output.
    """
    import numpy as np
    import pandas as pd

    # id columns keep their INPUT types end-to-end (round-3 advice: a
    # hardcoded `long` silently narrowed the id-type-generic API)
    nid_dt = corpus.schema[id_col].dataType.simpleString()
    qid_dt = queries.schema[id_col].dataType.simpleString()
    qrows = queries.select(F.col(id_col), F.col(vec_col)).collect()
    if not qrows:
        schema = f"{query_id_col} {qid_dt}, neighbor_id {nid_dt}, cos_sim double, rk int"
        return local_frame(corpus.sparkSession, [], schema)
    q_ids = np.array([r[id_col] for r in qrows])
    qm = np.array([r[vec_col] for r in qrows], dtype=np.float64)
    qn = qm / np.linalg.norm(qm, axis=1, keepdims=True)
    bq = corpus.sparkSession.sparkContext.broadcast((q_ids, qn))

    def _score(batches):
        ids_q, mat_q = bq.value
        for pdf in batches:
            cm = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            ids = pdf[id_col].to_numpy()
            cn = cm / np.linalg.norm(cm, axis=1, keepdims=True)
            sims = cn @ mat_q.T  # (batch, n_queries)
            frames = []
            for j in range(len(ids_q)):
                mask = ids != ids_q[j]
                frames.append(pd.DataFrame({
                    query_id_col: ids_q[j],
                    "neighbor_id": ids[mask],
                    "cos_sim": sims[mask, j],
                }))
            yield pd.concat(frames)

    scored = corpus.select(F.col(id_col), F.col(vec_col)).mapInPandas(
        _score, f"{query_id_col} {qid_dt}, neighbor_id {nid_dt}, cos_sim double"
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(query_id_col, "neighbor_id", F.round("cos_sim", 6).alias("cos_sim"), F.col("rk").cast("int").alias("rk"))
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact all-pairs cosine >= threshold (the dedup oracle/baseline).

    Quadratic by definition — run on a bounded corpus or as the verify
    stage behind LSH candidates (:func:`lsh_ann`); at 100 TB use
    ``minhash``/``lsh`` candidates first, this exact form second.
    """
    a = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    b = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", cosine(F.col("va"), F.col("vb")).alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
        .select("id_a", "id_b", F.round("cos_sim", 6).alias("cos_sim"))
    )


def lsh_near_dup_pairs(
    df: DataFrame,
    threshold: float,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_tables: int = 12,
    planes_per_table: int | None = None,
    seed: int = 42,
    target_bucket_rows: int = 32,
) -> DataFrame:
    """Near-dup pairs at scale: LSH bucket candidates → exact verify.

    The candidate stage buckets every vector in ``num_tables``
    random-hyperplane tables and equi-joins on (table, bucket) — the
    shuffle keys are bounded-size buckets, never the full cross product.
    The verify stage computes exact cosine only on candidates and keeps
    pairs >= ``threshold``. Same output schema as
    :func:`embedding_near_dup_pairs`, whose quadratic all-pairs form is
    the recall oracle in tests (tests/test_llm.py) — candidates can only
    MISS pairs (recall < 1 for bucket-unlucky pairs), never invent them,
    so precision is exact by construction.

    At 100 TB this is the only viable plan: per-table bucket join +
    map-side cosine; the quadratic form exists solely to verify it.
    """
    if planes_per_table is None:
        # BUCKET COUNT MUST SCALE WITH THE CORPUS or candidate pairs
        # grow quadratically: p planes give 2^p buckets per table, so a
        # FIXED p means expected bucket size n/2^p grows linearly and
        # within-bucket pairs grow as n² — the same fixed-cardinality
        # trap as blocking fuzzy matches on (lang, source). One count()
        # sizes p for ~target_bucket_rows expected rows per bucket.
        # Recall trade: per-table collision prob for a pair at angle θ
        # is (1-θ/π)^p, so deeper tables lower per-table recall — for
        # the production near-DUP regime (cos ≥ 0.9) twelve tables keep
        # recall ≈ 0.87 even at p=12; LOW thresholds at scale need more
        # tables, which parallelize horizontally (documented trade).
        import math

        n = df.count()
        planes_per_table = max(4, math.ceil(math.log2(max(n, 1) / target_bucket_rows)))
    import pandas as pd

    id_dt = df.schema[id_col].dataType.simpleString()
    planes = np.random.RandomState(seed).randn(
        num_tables * planes_per_table, dim
    )
    bits = (2 ** np.arange(planes_per_table, dtype=np.int64))
    bc_planes = df.sparkSession.sparkContext.broadcast((planes, bits))

    # Stage 1 — banding: ALL table buckets from ONE BLAS projection per
    # Arrow batch (v @ P.T over the (tables·planes, dim) plane matrix),
    # replacing num_tables·planes interpreted zip_with dot-folds per
    # vector. Vectors ride along as float32 (half the exchange width of
    # double; f4→f8 widening in the verify stage is exact).
    def _band(batches):
        P, bb = bc_planes.value
        for pdf in batches:
            if not len(pdf):
                continue
            v = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            signs = (v @ P.T) >= 0  # (n, tables*planes)
            signs = signs.reshape(len(v), num_tables, planes_per_table)
            bucket = (signs * bb[None, None, :]).sum(-1)  # (n, tables)
            frames = []
            for t in range(num_tables):
                frames.append(pd.DataFrame({
                    "table_idx": t,
                    "bucket": bucket[:, t],
                    id_col: pdf[id_col],
                    "__vec": pdf[vec_col],
                }))
            yield pd.concat(frames)

    banded = df.select(id_col, vec_col).mapInPandas(
        _band, f"table_idx int, bucket long, {id_col} {id_dt}, __vec array<float>"
    )

    # Stage 2 — per-bucket gram with FUSED exact verify: each
    # (table, bucket) group computes its cosine gram blockwise (4096²
    # tiles bound memory at any bucket size) and emits only pairs >=
    # threshold. This replaces the previous ids-only candidate
    # self-join + distinct + two vector-fetch joins, whose pair
    # materialization dominated at scale (85 s at 64×; measured after
    # in BASELINE.md). Trade documented: the group shuffle carries each
    # vector num_tables×, the right choice while bucket occupancy is
    # bounded (auto-scaled planes keep it ~target_bucket_rows);
    # exact-duplicate floods should be collapsed upstream (the
    # minhash exact-collapse guard pattern).
    thr = threshold

    def _bucket_pairs(pdf):
        m = len(pdf)
        if m < 2:
            return pd.DataFrame({"id_a": [], "id_b": [], "cos_sim": []})
        v = np.array(pdf["__vec"].tolist(), dtype=np.float64)
        v /= np.linalg.norm(v, axis=1, keepdims=True)
        ids = pdf[id_col].to_numpy()
        out_a, out_b, out_s = [], [], []
        B = 4096
        for i0 in range(0, m, B):
            vi = v[i0 : i0 + B]
            for j0 in range(i0, m, B):
                sims = vi @ v[j0 : j0 + B].T
                ii, jj = np.nonzero(sims >= thr)
                gi, gj = ii + i0, jj + j0
                keep = gi < gj
                out_a.append(ids[gi[keep]])
                out_b.append(ids[gj[keep]])
                out_s.append(sims[ii[keep], jj[keep]])
        ia = np.concatenate(out_a) if out_a else np.array([])
        ib = np.concatenate(out_b) if out_b else np.array([])
        ss = np.concatenate(out_s) if out_s else np.array([])
        lo, hi = np.minimum(ia, ib), np.maximum(ia, ib)
        return pd.DataFrame({"id_a": lo, "id_b": hi, "cos_sim": ss})

    pairs = banded.groupBy("table_idx", "bucket").applyInPandas(
        _bucket_pairs, f"id_a {id_dt}, id_b {id_dt}, cos_sim double"
    )
    # a pair meeting in several tables emits several identical rows —
    # one narrow group on the id pair dedups them
    return (
        pairs.groupBy("id_a", "id_b")
        .agg(F.round(F.max("cos_sim"), 6).alias("cos_sim"))
    )


def _hyperplanes(num_tables: int, planes_per_table: int, dim: int, seed: int = 42) -> list[list[list[float]]]:
    """Deterministic Gaussian hyperplanes: [table][plane][dim]."""
    rng = np.random.RandomState(seed)
    return rng.randn(num_tables, planes_per_table, dim).astype(float).tolist()


def _bucket_expr(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-bit bucket id of ``vec`` against one table's hyperplanes."""
    bucket = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        lit_plane = F.array(*[F.lit(v) for v in plane])
        bit = F.when(dot(vec, lit_plane) >= 0, F.shiftleft(F.lit(1).cast("long"), i)).otherwise(F.lit(0).cast("long"))
        bucket = bucket.bitwiseOR(bit)
    return bucket


def lsh_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "q_id",
    num_tables: int = 8,
    planes_per_table: int = 6,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: random-hyperplane LSH buckets → exact rerank.

    A corpus vector is a candidate for a query iff they share a bucket in
    ANY of the ``num_tables`` hash tables (union via explode+distinct).
    Exact cosine then reranks the candidates. Recall grows with tables
    and shrinks with planes_per_table; tests assert recall vs
    :func:`cosine_topk` on the same data.
    """
    tables = _hyperplanes(num_tables, planes_per_table, dim, seed)

    def with_buckets(df: DataFrame, idc: str, out_id: str) -> DataFrame:
        buckets = F.array(*[_bucket_expr(F.col(vec_col), t) for t in tables])
        return df.select(
            F.col(idc).alias(out_id), F.col(vec_col).alias(f"__{out_id}_vec"),
            F.posexplode(buckets).alias("table_idx", "bucket"),
        )

    c = with_buckets(corpus, id_col, "neighbor_id")
    q = with_buckets(queries, id_col, "q_id")
    cands = (
        q.join(c, ["table_idx", "bucket"])
        .filter(F.col("q_id") != F.col("neighbor_id"))
        .select("q_id", "__q_id_vec", "neighbor_id", "__neighbor_id_vec")
        .distinct()
    )
    scored = cands.select(
        "q_id",
        "neighbor_id",
        cosine(F.col("__q_id_vec"), F.col("__neighbor_id_vec")).alias("cos_sim"),
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("q_id", "neighbor_id", F.round("cos_sim", 6).alias("cos_sim"), F.col("rk").cast("int").alias("rk"))
    )


def ivf_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    num_centroids: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """IVF (inverted-file) ANN: k-means coarse quantizer → probe the
    ``nprobe`` nearest cells per query → exact cosine rerank inside the
    probed cells.

    The other classic ANN family next to LSH (:func:`lsh_ann_topk`):
    where LSH buckets by random projection, IVF clusters by the data's
    own geometry — on clustered real embeddings it probes ~nprobe/
    num_centroids of the corpus for near-exhaustive recall. Training
    uses Spark ML KMeans (seeded, deterministic); assignment + rerank
    are one broadcast of the centroid table and one equi-join on cell id
    — no all-pairs product.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector, vector_to_array

    dbl = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    train = corpus.select(F.col(id_col), array_to_vector(dbl).alias("features"))
    model = KMeans(k=num_centroids, seed=seed, maxIter=20).fit(train)

    # centroid table: (cell, centroid array) — tiny, broadcast everywhere
    centroids = [(i, [float(v) for v in c]) for i, c in enumerate(model.clusterCenters())]
    spark = corpus.sparkSession
    cent_df = local_frame(spark, centroids, "cell int, centroid array<double>")

    # corpus side: each vector lands in its ONE nearest cell
    assigned = model.transform(train).select(
        F.col(id_col).alias("neighbor_id"),
        vector_to_array("features").alias("__c_vec"),
        F.col("prediction").alias("cell"),
    )

    # query side: rank all cells by centroid distance, keep nprobe
    q = queries.select(F.col(id_col).alias("q_id"), dbl.alias("__q_vec"))
    q_cells = (
        q.crossJoin(F.broadcast(cent_df))
        .withColumn("dist", -cosine(F.col("__q_vec"), F.col("centroid")))
        .withColumn("cell_rank", F.row_number().over(
            Window.partitionBy("q_id").orderBy("dist", "cell")))
        .filter(F.col("cell_rank") <= nprobe)
        .select("q_id", "__q_vec", "cell")
    )

    scored = (
        q_cells.join(assigned, "cell")
        .filter(F.col("q_id") != F.col("neighbor_id"))
        .select("q_id", "neighbor_id", cosine(F.col("__q_vec"), F.col("__c_vec")).alias("cos_sim"))
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("q_id", "neighbor_id", F.round("cos_sim", 6).alias("cos_sim"), F.col("rk").cast("int").alias("rk"))
    )


def _pq_train_codebooks(
    sample: np.ndarray, m: int, ks: int, seed: int, iters: int = 15
) -> np.ndarray:
    """Driver-side Lloyd's k-means per subspace on a bounded sample —
    the standard PQ training recipe (train on a sample, broadcast the
    tiny codebooks; the corpus itself never feeds training). Returns
    codebooks shaped (m, ks, dim//m). Deterministic for a fixed seed.
    """
    n, d = sample.shape
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    dsub = d // m
    rng = np.random.RandomState(seed)
    books = np.empty((m, ks, dsub), dtype=np.float64)
    for j in range(m):
        sub = sample[:, j * dsub : (j + 1) * dsub]
        idx = rng.choice(n, size=min(ks, n), replace=False)
        cent = sub[idx].copy()
        if len(cent) < ks:  # degenerate tiny sample: pad with jitter
            pad = cent[rng.choice(len(cent), ks - len(cent))]
            cent = np.vstack([cent, pad + rng.randn(*pad.shape) * 1e-6])
        for _ in range(iters):
            d2 = ((sub[:, None, :] - cent[None, :, :]) ** 2).sum(-1)
            assign = d2.argmin(1)
            for c in range(ks):
                pts = sub[assign == c]
                if len(pts):
                    cent[c] = pts.mean(0)
        books[j] = cent
    return books


def _kmeans_driver(
    sample: np.ndarray, k: int, seed: int, iters: int = 15
) -> np.ndarray:
    """Seeded full-dimension Lloyd's k-means on a driver sample (the
    IVF coarse quantizer). Same training-on-a-sample contract as
    :func:`_pq_train_codebooks`."""
    rng = np.random.RandomState(seed)
    idx = rng.choice(len(sample), size=min(k, len(sample)), replace=False)
    cent = sample[idx].copy()
    for _ in range(iters):
        d2 = (
            (sample**2).sum(1, keepdims=True)
            - 2 * sample @ cent.T
            + (cent**2).sum(1)[None, :]
        )
        assign = d2.argmin(1)
        for c in range(len(cent)):
            pts = sample[assign == c]
            if len(pts):
                cent[c] = pts.mean(0)
    return cent


def pq_build_index(
    corpus: "DataFrame",
    m: int = 8,
    ks: int = 16,
    num_cells: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    sample_size: int = 20000,
) -> tuple["DataFrame", dict]:
    """TRAIN + ENCODE stages of IVF-PQ (Jégou et al. 2011): returns the
    compressed index DataFrame (neighbor_id, cell, code binary) plus the
    model payload {"cents", "books"} needed at query time.

    TRAIN runs driver-side on a seeded, bounded sample (the standard PQ
    recipe — the corpus never feeds training); ENCODE is one distributed
    scan: each L2-normalized vector lands in its nearest coarse cell and
    its RESIDUAL is product-quantized to ``m`` uint8 codes. The index
    stores ``m`` bytes + a cell id per vector — at dim=64/m=8 a 32×
    scan-size cut vs raw floats, which is WHY this survives 100 TB: ADC
    scans read codes, never embeddings. Persist the index with
    ``index.write.parquet(...)`` (partition by cell for cell-pruned
    scans) and re-query it without re-encoding — the same build-once/
    query-many shape as llm_minhash_index_delta.
    """
    samp_rows = corpus.select(vec_col).limit(sample_size).collect()
    samp = np.array([r[vec_col] for r in samp_rows], dtype=np.float64)
    samp /= np.linalg.norm(samp, axis=1, keepdims=True)
    cents = _kmeans_driver(samp, num_cells, seed)
    d2s = (
        (samp**2).sum(1, keepdims=True) - 2 * samp @ cents.T + (cents**2).sum(1)[None, :]
    )
    resid = samp - cents[d2s.argmin(1)]
    books = _pq_train_codebooks(resid, m, ks, seed)
    model = {"cents": cents, "books": books}
    return pq_encode(corpus, model, id_col=id_col, vec_col=vec_col), model


def pq_encode(
    df: "DataFrame",
    model: dict,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> "DataFrame":
    """ENCODE a batch of vectors against FROZEN codebooks: one
    distributed scan -> (neighbor_id, cell, m-byte code). This is the
    incremental-index primitive: train once (:func:`pq_build_index`),
    then encode each day's new shard with the same ``model`` and append
    the codes to the persisted index — no retrain, no recompute of the
    existing corpus (the embedding twin of llm_minhash_index_delta;
    appended-delta == encode-everything equality pinned in tests).
    Retrain only on measured codebook drift (rising ADC residuals).
    """
    import pandas as pd

    nid_dt = df.schema[id_col].dataType.simpleString()
    bc = df.sparkSession.sparkContext.broadcast((model["cents"], model["books"]))
    dsub = model["books"].shape[2]

    def _encode(batches):
        cents_, books_ = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            v = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            v /= np.linalg.norm(v, axis=1, keepdims=True)
            d2 = (
                (v**2).sum(1, keepdims=True) - 2 * v @ cents_.T + (cents_**2).sum(1)[None, :]
            )
            cell = d2.argmin(1)
            r = v - cents_[cell]
            codes = np.empty((len(v), books_.shape[0]), dtype=np.uint8)
            for j in range(books_.shape[0]):
                sub = r[:, j * dsub : (j + 1) * dsub]
                cd = (
                    (sub**2).sum(1, keepdims=True)
                    - 2 * sub @ books_[j].T
                    + (books_[j] ** 2).sum(1)[None, :]
                )
                codes[:, j] = cd.argmin(1)
            yield pd.DataFrame(
                {
                    "neighbor_id": pdf[id_col],
                    "cell": cell.astype(np.int32),
                    "code": [c.tobytes() for c in codes],
                }
            )

    return df.select(id_col, vec_col).mapInPandas(
        _encode, f"neighbor_id {nid_dt}, cell int, code binary"
    )


def pq_query_index(
    index: "DataFrame",
    model: dict,
    queries: "DataFrame",
    corpus: "DataFrame",
    k: int,
    nprobe: int = 3,
    refine: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "q_id",
) -> "DataFrame":
    """ADC SCAN + EXACT RERANK stages of IVF-PQ over a built (or
    re-loaded) index from :func:`pq_build_index`.

    Queries are collected (small by contract) and a lookup table
    LUT[q, cell, j, code] of subspace distances from (q − centroid[cell])
    to every codeword is precomputed on the driver and broadcast — the
    per-row ADC distance is then ``m`` table lookups, no float math, and
    only rows in each query's ``nprobe`` nearest cells are scanned. The
    ``refine * k`` ADC shortlist joins back to true vectors in ``corpus``
    for exact cosine, so the FINAL ordering is exact; recall is bounded
    by cell pruning + code distortion (decomposed in tests/test_llm.py).
    Output schema matches :func:`cosine_topk`:
    (q_id, neighbor_id, cos_sim, rk).
    """
    import pandas as pd

    spark = index.sparkSession
    cents, books = model["cents"], model["books"]
    num_cells, (m, ks, dsub) = len(cents), books.shape
    nid_dt = dict(index.dtypes)["neighbor_id"]
    qid_dt = queries.schema[id_col].dataType.simpleString()

    qrows = queries.select(id_col, vec_col).collect()
    if not qrows:
        return local_frame(
            spark, [], f"{query_id_col} {qid_dt}, neighbor_id {nid_dt}, cos_sim double, rk int"
        )
    q_ids = [r[id_col] for r in qrows]
    qm = np.array([r[vec_col] for r in qrows], dtype=np.float64)
    qm /= np.linalg.norm(qm, axis=1, keepdims=True)
    qd2 = (
        (qm**2).sum(1, keepdims=True) - 2 * qm @ cents.T + (cents**2).sum(1)[None, :]
    )
    probed = np.argsort(qd2, axis=1, kind="stable")[:, :nprobe]  # (nq, nprobe)
    # LUT[qi, ci, j, code]: ||(q - cent[cell])_j - codeword||^2 summed over
    # subspaces gives ||q - (cent + decoded residual)||^2 — ADC distance.
    nq = len(q_ids)
    lut = np.zeros((nq, num_cells, m, ks), dtype=np.float64)
    for qi in range(nq):
        for ci in probed[qi]:
            qr = qm[qi] - cents[ci]
            for j in range(m):
                sub = qr[j * dsub : (j + 1) * dsub]
                lut[qi, ci, j] = ((books[j] - sub) ** 2).sum(1)
    bq = spark.sparkContext.broadcast((q_ids, probed, lut))
    probe_rows = [(int(ci), qi) for qi in range(nq) for ci in probed[qi]]
    probe_df = local_frame(spark, probe_rows, "cell int, __qi int")

    def _adc(batches):
        q_ids_, _, lut_ = bq.value
        jj = np.arange(m)
        for pdf in batches:
            if not len(pdf):
                continue
            codes = np.frombuffer(
                b"".join(pdf["code"]), dtype=np.uint8
            ).reshape(len(pdf), m)
            qi = pdf["__qi"].to_numpy()
            cellv = pdf["cell"].to_numpy()
            dist = lut_[qi[:, None], cellv[:, None], jj[None, :], codes].sum(1)
            yield pd.DataFrame(
                {
                    "__qi": qi,
                    "neighbor_id": pdf["neighbor_id"],
                    "__adc": dist,
                }
            )

    shortlist_n = refine * k
    adc = (
        index.join(F.broadcast(probe_df), "cell")
        .select("__qi", "neighbor_id", "cell", "code")
        .mapInPandas(_adc, f"__qi int, neighbor_id {nid_dt}, __adc double")
    )
    wq = Window.partitionBy("__qi").orderBy(F.col("__adc").asc(), F.col("neighbor_id"))
    qid_df = local_frame(
        spark, list(zip(range(nq), q_ids)), f"__qi int, {query_id_col} {qid_dt}"
    )
    short = (
        adc.withColumn("__srk", F.row_number().over(wq))
        .filter(F.col("__srk") <= shortlist_n)
        .join(F.broadcast(qid_df), "__qi")
        .filter(F.col(query_id_col) != F.col("neighbor_id"))
        .select(query_id_col, "neighbor_id")
    )

    bqv = spark.sparkContext.broadcast({qid: qm[i] for i, qid in enumerate(q_ids)})

    def _rerank(batches):
        qv = bqv.value
        for pdf in batches:
            if not len(pdf):
                continue
            v = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            v /= np.linalg.norm(v, axis=1, keepdims=True)
            qmat = np.array([qv[q] for q in pdf[query_id_col]])
            sims = np.einsum("ij,ij->i", v, qmat)
            yield pd.DataFrame(
                {
                    query_id_col: pdf[query_id_col],
                    "neighbor_id": pdf["neighbor_id"],
                    "cos_sim": sims,
                }
            )

    reranked = short.join(
        corpus.select(F.col(id_col).alias("neighbor_id"), vec_col), "neighbor_id"
    ).mapInPandas(_rerank, f"{query_id_col} {qid_dt}, neighbor_id {nid_dt}, cos_sim double")
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        reranked.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(
            query_id_col,
            "neighbor_id",
            F.round("cos_sim", 6).alias("cos_sim"),
            F.col("rk").cast("int").alias("rk"),
        )
    )


def ivf_pq_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    m: int = 8,
    ks: int = 16,
    num_cells: int = 8,
    nprobe: int = 3,
    refine: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "q_id",
    seed: int = 42,
    sample_size: int = 20000,
) -> DataFrame:
    """IVF-PQ approximate top-k (Jégou et al. 2011, "Product
    Quantization for Nearest Neighbor Search"): the fused build+query
    composition of :func:`pq_build_index` (coarse k-means cells +
    product-quantized residual codes) and :func:`pq_query_index`
    (broadcast-LUT ADC scan over the probed cells + exact rerank of the
    shortlist). See those two for the stage-by-stage 100 TB design; use
    them directly to persist the index and query it many times.
    """
    index, model = pq_build_index(
        corpus, m=m, ks=ks, num_cells=num_cells, id_col=id_col,
        vec_col=vec_col, seed=seed, sample_size=sample_size,
    )
    return pq_query_index(
        index, model, queries, corpus, k, nprobe=nprobe, refine=refine,
        id_col=id_col, vec_col=vec_col, query_id_col=query_id_col,
    )


def semantic_dedup(
    corpus: DataFrame,
    threshold: float,
    num_centroids: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    probes: int = 2,
) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023): cluster the
    embeddings with a seeded k-means coarse quantizer, then compare
    pairs ONLY within shared cells; a document is a duplicate if a
    lower-id member of one of its cells sits above the cosine threshold.

    Multi-probe (round 3): each vector is assigned to its ``probes``
    nearest cells, not just the argmin — a pair straddling a k-means
    boundary still meets in the runner-up cell, which recovers most of
    the cross-cluster near-dups single-assignment misses. Cost is
    bounded: candidate volume grows ≤ probes² per pair, the pairwise
    stage stays an equi-join on cell id over cells of ~N/num_centroids
    rows — never an all-pairs product.

    Returns flagged duplicates: (id, cell, dup_of = lowest matching
    keeper id, cos_sim to it). Precision is exact (every flagged pair
    really clears the threshold); residual recall loss is pairs whose
    cells disagree in ALL ``probes`` assignments. The exact quadratic
    twin (:func:`embedding_near_dup_pairs`) is the verification
    baseline in tests (recall bound asserted).
    """
    import pandas as pd

    if num_centroids is None:
        # cells must MULTIPLY with the corpus (SemDeDup runs ~11k
        # clusters on LAION): a fixed k means cell size n/k grows
        # linearly and the within-cell pair stage grows n² — the
        # fixed-cardinality trap again. ~250 expected rows per cell
        # keeps the pairwise stage linear-per-cell at any n.
        num_centroids = max(8, corpus.count() // 250)
    id_dt = corpus.schema[id_col].dataType.simpleString()

    # TRAIN on a bounded driver sample (the PQ recipe — at 100 TB you
    # never run 20 full-corpus k-means passes) and ASSIGN with one BLAS
    # product per Arrow batch. The previous form (MLlib fit over the
    # whole corpus + an interpreted zip_with distance per (vector,
    # centroid) pair under a crossJoin+rank) was the rows-only sweep's
    # slowest entry: 116 s at 64× with k=512 — 65M CodegenFallback
    # lambda evaluations in the ranking alone. Measured after this
    # rewrite in BASELINE.md (rows-only sweep table).
    samp_rows = corpus.select(vec_col).limit(50_000).collect()
    samp = np.array([r[vec_col] for r in samp_rows], dtype=np.float64)
    cents = _kmeans_driver(samp, num_centroids, seed)
    bc_cents = corpus.sparkSession.sparkContext.broadcast(cents)

    def _assign(batches):
        cents_ = bc_cents.value
        for pdf in batches:
            if not len(pdf):
                continue
            v = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            d2 = (
                (v**2).sum(1, keepdims=True) - 2 * v @ cents_.T + (cents_**2).sum(1)[None, :]
            )
            # deterministic top-`probes`: full lexsort by (d2, cell) —
            # same tie-break as the previous row_number ordering
            order = np.lexsort((np.broadcast_to(np.arange(d2.shape[1]), d2.shape), d2), axis=1)
            frames = []
            for j in range(probes):
                frames.append(pd.DataFrame({
                    id_col: pdf[id_col],
                    "__vec": pdf[vec_col],
                    "cell": order[:, j].astype(np.int32),
                }))
            yield pd.concat(frames)

    assigned = (
        corpus.select(id_col, vec_col)
        .mapInPandas(_assign, f"{id_col} {id_dt}, __vec array<double>, cell int")
        # feeds both sides of the cell self-join: materialize once, or
        # the assignment subtree runs twice (lineage-reuse discipline,
        # see llm/spans.py)
        .localCheckpoint()
    )

    # within-cell pairs via ONE gram matrix per cell (applyInPandas):
    # the previous a⋈b cell self-join materialized ~probes²·n·cell/2
    # joined rows CARRYING BOTH VECTORS (≈65 GB through the shuffle at
    # 64×, the dominant cost of the rows-only sweep's slowest entry).
    # Here the only shuffle is the assigned table itself (n·probes rows)
    # grouped by cell; each cell computes its full cosine gram with one
    # BLAS product and emits ONLY pairs above threshold. Cell occupancy
    # is bounded in expectation by the auto-scaled k (~250·probes rows →
    # a ~500² gram, trivial); pathological k-means skew concentrates a
    # cell and is the operator's known caveat (same class as LSH
    # mega-buckets; the exact-collapse guard pattern applies upstream).
    thr = threshold

    def _cell_pairs(pdf):
        if len(pdf) < 2:
            return pd.DataFrame(
                {"cell": [], "__id_a": [], "__id_b": [], "__sim": []}
            )
        v = np.array(pdf["__vec"].tolist(), dtype=np.float64)
        ids = pdf[id_col].to_numpy()
        norms = np.linalg.norm(v, axis=1)
        sims = (v @ v.T) / np.outer(norms, norms)
        iu, ju = np.triu_indices(len(ids), k=1)
        flat = sims[iu, ju]
        keep = flat >= thr
        ia, ib = ids[iu[keep]], ids[ju[keep]]
        lo, hi = np.minimum(ia, ib), np.maximum(ia, ib)
        return pd.DataFrame(
            {
                "cell": pdf["cell"].iloc[0],
                "__id_a": lo,
                "__id_b": hi,
                "__sim": flat[keep],
            }
        )

    pairs = assigned.groupBy("cell").applyInPandas(
        _cell_pairs, f"cell int, __id_a {id_dt}, __id_b {id_dt}, __sim double"
    )
    return (
        pairs.groupBy("__id_b")
        .agg(
            F.min("cell").alias("cell"),
            F.min("__id_a").alias("dup_of"),
            F.max("__sim").alias("__best"),
        )
        .select(
            F.col("__id_b").alias(id_col),
            F.col("cell").cast("int").alias("cell"),
            "dup_of",
            F.round("__best", 6).alias("cos_sim"),
        )
    )


def semantic_decontaminate(
    corpus: DataFrame,
    bench: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-level benchmark decontamination: every corpus vector is
    scored by its max cosine against the (bounded, broadcastable)
    benchmark set; rows at or above ``threshold`` are returned as
    contaminated, with the nearest benchmark id.

    The embedding twin of the exact n-gram forms
    (``llm_bloom_decontamination`` / ``llm_span_decontamination``):
    paraphrased eval leakage survives token-level filters but not a
    similarity gate. Plan: ONE corpus scan, benchmark matrix broadcast,
    one BLAS product per Arrow batch — linear at any corpus size, no
    shuffle at all until the (tiny) contaminated output is sorted.
    Similarities are rounded HALF-UP to 6 decimals INSIDE the kernel
    (sign-aware floor(|x|*1e6+0.5), matching SQL ROUND) so the max and
    its min-id tie-break are engine-exact.
    """
    import pandas as pd

    nid_dt = corpus.schema[id_col].dataType.simpleString()
    brows = bench.select(F.col(id_col), F.col(vec_col)).collect()
    b_ids = np.array([r[id_col] for r in brows])
    bm = np.array([r[vec_col] for r in brows], dtype=np.float64)
    bn = bm / np.linalg.norm(bm, axis=1, keepdims=True)
    bcast = corpus.sparkSession.sparkContext.broadcast((b_ids, bn))

    def _score(batches):
        ids_b, mat_b = bcast.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            cm = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            cn = cm / np.linalg.norm(cm, axis=1, keepdims=True)
            sims = cn @ mat_b.T
            # SQL-ROUND (half away from zero) to 6, then tie-break the
            # argmax by MIN benchmark id on the ROUNDED values
            r = np.sign(sims) * np.floor(np.abs(sims) * 1e6 + 0.5) / 1e6
            mx = r.max(axis=1)
            big = np.where(r == mx[:, None], ids_b[None, :], np.iinfo(np.int64).max)
            nearest = big.min(axis=1)
            keep = mx >= threshold
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy()[keep],
                    "nearest_bench_id": nearest[keep],
                    "max_cos": mx[keep],
                }
            )

    return corpus.select(F.col(id_col), F.col(vec_col)).mapInPandas(
        _score, f"{id_col} {nid_dt}, nearest_bench_id {nid_dt}, max_cos double"
    )
