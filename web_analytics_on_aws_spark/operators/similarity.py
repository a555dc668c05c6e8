"""Similarity search over embedding columns (array<float>).

Extension surface (BASELINE.json north star): approximate-nearest-neighbor
search designed for 100 TB corpora.

- ``brute_force_topk`` — the exactness baseline: broadcast the (small) query
  set against the corpus scan, score with JVM HOF arithmetic, rank per
  query. One corpus pass regardless of query count; no corpus shuffle.
- ``lsh_bucket_topk`` — the scale path: random-hyperplane (sign) LSH
  (Charikar, "Similarity Estimation Techniques from Rounding Algorithms",
  STOC 2002).
  Hyperplanes are Gaussian vectors regenerated from a fixed seed inside the
  Arrow-batched banding UDF — reproducible across runs/executors with no
  stored or broadcast model. Corpus is bucketed once (cost O(n × planes));
  each query probes only its bucket (and optionally multi-probe neighbors),
  turning top-k from O(n) per query into O(n / 2^planes) expected.
- ``cosine_pairs`` — embedding near-duplicate detection: all pairs with
  cosine ≥ threshold, exact, computed block×block with vectorized scoring
  (the LSH variant prunes the same computation at scale and matches its
  scores bit-for-bit).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from web_analytics_on_aws_spark.functions import as_double_vec, cosine_similarity


def _with_prep(df, vec_col: str, dv: str, nrm: str):
    """Precompute the double-cast vector and its sqrt-norm once per row —
    pair/probe scoring then does only the dot per candidate. The arithmetic
    (dot / (sqrt(na)*sqrt(nb))) is unchanged, so scores stay bit-identical
    to the unprepped form and the DuckDB oracle."""
    v = as_double_vec(vec_col)
    return df.withColumn(dv, v).withColumn(
        nrm, F.sqrt(F.aggregate(F.col(dv), F.lit(0.0), lambda a, x: a + x * x))
    )


def _pair_sim(dv_a: str, nrm_a: str, dv_b: str, nrm_b: str) -> F.Column:
    from web_analytics_on_aws_spark.functions import vec_dot

    return F.round(
        vec_dot(F.col(dv_a), F.col(dv_b)) / (F.col(nrm_a) * F.col(nrm_b)), 6
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact cosine top-k per query vector.

    ``queries`` must be small (broadcast): (query_id, qv: array<float|double>).
    Output: (query_id, vec_id, sim, rank), rank 1..k, ties broken by vec_id.
    """
    prepped = _with_prep(corpus, vec_col, "__dv", "__nrm")
    q = _with_prep(queries, "qv", "__qdv", "__qnrm")
    scored = (
        prepped.join(F.broadcast(q))
        .filter(F.col(id_col) != F.col(query_id_col))
        .select(
            query_id_col,
            id_col,
            _pair_sim("__dv", "__nrm", "__qdv", "__qnrm").alias("sim"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("sim"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
    )


def hard_negative_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Hard-negative mining for contrastive training (the DPR / Contriever
    recipe, Karpukhin et al. 2020): for each query vector, the top-k most
    COSINE-SIMILAR candidates whose ``label_col`` DIFFERS from the query's
    — near-but-wrong examples, the negatives that actually move a
    contrastive loss (random negatives are trivially separable).

    ``queries``: (query_id, qv, qlabel) — broadcast-small, same contract
    as ``brute_force_topk``. Plan: one corpus pass, map-side score against
    the broadcast queries, label inequality fused into the join filter
    (pruned before any ranking state), per-query top-k window. At 100 TB
    swap the corpus pass for an IVF/LSH candidate stage and keep this as
    the re-rank — the output contract is identical.

    Output: (query_id, vec_id, neg_label, sim, rank), rank 1..k.
    """
    prepped = _with_prep(corpus, vec_col, "__dv", "__nrm")
    q = _with_prep(queries, "qv", "__qdv", "__qnrm")
    scored = (
        prepped.join(F.broadcast(q))
        .filter(
            (F.col(id_col) != F.col(query_id_col))
            & (F.col(label_col) != F.col("qlabel"))
        )
        .select(
            query_id_col,
            id_col,
            F.col(label_col).alias("neg_label"),
            _pair_sim("__dv", "__nrm", "__qdv", "__qnrm").alias("sim"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("sim"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
    )


_SRP_SEED = 0x5EED


def _srp_keys_np(v: np.ndarray, bands: int, planes: int, seed: int = _SRP_SEED):
    """Shared numpy kernel: (n × dim) rows → (n × bands) packed sign bits.
    Both the executor UDF and the driver-side query-banding path call this,
    so their keys are identical by construction."""
    rs = np.random.RandomState(seed)
    planes_mat = rs.standard_normal((v.shape[1], bands * planes))
    bits = (v @ planes_mat) > 0.0
    weights = np.left_shift(np.int64(1), np.arange(planes, dtype=np.int64))
    return (bits.reshape(len(v), bands, planes) * weights).sum(axis=2, dtype=np.int64)


def _srp_band_keys(bands: int, planes: int, seed: int = _SRP_SEED):
    """Arrow-vectorized sign-random-projection banding: one BLAS matmul per
    batch ((n × dim) @ (dim × bands·planes)), then bit-pack ``planes`` sign
    bits per band. The hyperplane matrix is regenerated from the fixed seed
    on every executor/batch (dim is known per batch) — reproducible across
    runs with no stored/broadcast model, same property the previous
    hash-derived ±1 planes had, at ~100× less per-row expression overhead
    (interpreted HOF lambdas → one vectorized product)."""
    @F.pandas_udf("array<long>")
    def srp_keys(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        v = np.stack(vecs.to_numpy()).astype(np.float64, copy=False)
        return pd.Series(list(_srp_keys_np(v, bands, planes, seed)))

    return srp_keys


def with_lsh_bands(
    df: DataFrame,
    vec_col: str = "embedding",
    bands: int = 8,
    planes: int = 4,
    out: str = "band_key",
) -> DataFrame:
    """OR-amplified sign-LSH: one bucket key per band (AND over ``planes``
    bits within a band, OR across ``bands`` tables). A pair/probe is a
    candidate if it collides in ANY band — recall for similarity s is
    1-(1-p^planes)^bands with p = 1 - θ(s)/π, the same S-curve construction
    as MinHash banding. Output: one row per (input row × band) with a
    struct ``(band, key)`` column ``out``."""
    srp = _srp_band_keys(bands, planes)
    return (
        df.withColumn("__keys", srp(F.col(vec_col)))
        .select("*", F.posexplode("__keys").alias("__band", "__key"))
        .withColumn(
            out,
            F.struct(
                F.col("__band").cast("int").alias("band"),
                F.col("__key").alias("key"),
            ),
        )
        .drop("__keys", "__band", "__key")
    )


def lsh_bucket_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    planes: int = 4,
    bands: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Approximate top-k: score only corpus vectors colliding with the query
    in ≥1 LSH band (OR-amplified — the recall dial is ``bands``, the cost
    dial is ``planes``).

    Probe plan: the corpus is scanned ONCE and never exploded — each row's
    ``bands`` keys are matched positionally (``arrays_zip`` + ``exists``)
    against the broadcast query keys, so every (corpus, query) candidate
    appears exactly once and no dedup pass is needed. The query side is
    broadcast-small by contract, so it is banded ON THE DRIVER with the
    same numpy kernel the executor UDF uses (no query-side scan/Arrow
    stage; the corpus is never collected). At 100 TB the candidate filter
    drops ~(1−2^−planes)^bands of the corpus before any dot product; for
    corpus-scale pair mining use lsh_cosine_pairs (banded bucket join).
    """
    from pyspark.sql import types as T

    c = _with_prep(corpus, vec_col, "__dv", "__nrm").withColumn(
        "__keys", _srp_band_keys(bands, planes)(F.col(vec_col))
    )
    spark = corpus.sparkSession
    qrows = queries.select(query_id_col, "qv").collect()
    qid_type = queries.schema[query_id_col].dataType
    if qrows:
        qm = np.array([list(r.qv) for r in qrows], dtype=np.float64)
        keys = _srp_keys_np(qm, bands, planes)
        nrms = np.sqrt((qm * qm).sum(axis=1))
        data = [
            (r[query_id_col], [int(x) for x in keys[i]],
             [float(x) for x in qm[i]], float(nrms[i]))
            for i, r in enumerate(qrows)
        ]
    else:
        data = []
    q = spark.createDataFrame(
        data,
        T.StructType(
            [
                T.StructField(query_id_col, qid_type),
                T.StructField("__qkeys", T.ArrayType(T.LongType())),
                T.StructField("__qdv", T.ArrayType(T.DoubleType())),
                T.StructField("__qnrm", T.DoubleType()),
            ]
        ),
    )
    collide = F.exists(
        F.arrays_zip(F.col("__keys"), F.col("__qkeys")),
        lambda x: x["__keys"] == x["__qkeys"],
    )
    cands = c.join(F.broadcast(q), collide & (F.col(id_col) != F.col(query_id_col)))
    w_rank = Window.partitionBy(query_id_col).orderBy(F.desc("sim"), F.asc(id_col))
    return (
        cands.select(
            query_id_col,
            id_col,
            _pair_sim("__dv", "__nrm", "__qdv", "__qnrm").alias("sim"),
        )
        .withColumn("rank", F.row_number().over(w_rank).cast("int"))
        .filter(F.col("rank") <= k)
    )


def lsh_cosine_pairs(
    df: DataFrame,
    threshold: float,
    bands: int = 8,
    planes: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """LSH-pruned embedding near-dup pairs: candidates collide in ≥1 band,
    then the exact cosine filter runs on the pruned set — same scores as
    ``cosine_pairs`` on every surviving pair, at O(Σ bucket²) candidate
    cost instead of O(n²).

    Scoring runs bucket-local via ``applyInPandas``: each vector crosses to
    Python once per band (O(n·bands) Arrow bytes), never once per candidate
    pair — a pair-level join would ship O(candidates)·2·dim doubles. Inside
    a bucket the n×n similarity block accumulates one dimension per step, so
    every pair's float-op sequence equals the JVM left-fold (vec_dot) and
    ``cosine_pairs``' scores bit-exactly; rounding happens JVM-side
    (HALF_UP, same as the exact twin — np.round is half-even). At 100 TB,
    buckets are the shuffle unit: planes is the bucket-size dial, and a
    degenerate hot bucket (all-near-identical corpus) is bounded by
    splitting on a second band's key before scoring."""
    id_type = df.schema[id_col].dataType.simpleString()
    banded = with_lsh_bands(
        df.select(id_col, vec_col), vec_col, bands, planes, "band_key"
    ).select(
        F.col("band_key.band").alias("__band"),
        F.col("band_key.key").alias("__key"),
        F.col(id_col).alias("__id"),
        as_double_vec(vec_col).alias("__v"),
    )
    # loose numpy-side prefilter; the authoritative threshold is applied
    # JVM-side on the HALF_UP-rounded score below
    pre = threshold - 1e-7

    def _score_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n < 2:
            return pd.DataFrame({"id_a": [], "id_b": [], "__raw": []})
        v = np.stack(pdf["__v"].to_numpy()).astype(np.float64, copy=False)
        ids = pdf["__id"].to_numpy()
        dots = np.zeros((n, n), dtype=np.float64)
        for d in range(v.shape[1]):
            col = v[:, d]
            dots = dots + col[:, None] * col[None, :]
        nrm = np.sqrt(np.diagonal(dots))  # diag = sequential Σv², as vec_norm_sq
        sim = dots / (nrm[:, None] * nrm[None, :])
        ia, ib = np.nonzero(
            np.triu(sim >= pre, 1) & (ids[:, None] != ids[None, :])
        )
        lo, hi = np.minimum(ids[ia], ids[ib]), np.maximum(ids[ia], ids[ib])
        return pd.DataFrame({"id_a": lo, "id_b": hi, "__raw": sim[ia, ib]})

    scored = banded.groupBy("__band", "__key").applyInPandas(
        _score_bucket, f"id_a {id_type}, id_b {id_type}, __raw double"
    )
    return (
        scored.dropDuplicates(["id_a", "id_b"])
        .select("id_a", "id_b", F.round("__raw", 6).alias("sim"))
        .filter(F.col("sim") >= threshold)
    )


def cosine_pairs(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_blocks: int = 8,
) -> DataFrame:
    """Exact all-pairs cosine ≥ threshold (embedding near-dup detection).

    O(n²) scores are unavoidable (it's the exact twin the LSH variant is
    measured against), but they're computed block-at-a-time: vectors hash
    into ``n_blocks`` groups, the block×block upper triangle becomes
    O(n_blocks²/2) tasks, and each task scores its pair of sub-matrices
    vectorized — every vector is shuffled O(n_blocks) times instead of
    O(n) times in a row-level theta-join, and no executor ever holds more
    than two blocks. The per-dimension accumulation loop keeps each pair's
    float-op sequence identical to the JVM left-fold (vec_dot), so scores
    match ``lsh_cosine_pairs``/_pair_sim bit-exactly; rounding and the
    authoritative threshold run JVM-side (HALF_UP). At larger n, raise
    n_blocks ∝ √n to keep blocks memory-bounded."""
    id_type = df.schema[id_col].dataType.simpleString()
    packed = (
        df.select(
            F.col(id_col).alias("__id"),
            as_double_vec(vec_col).alias("__v"),
            F.pmod(F.hash(F.col(id_col)), F.lit(n_blocks)).alias("__b"),
        )
        .groupBy("__b")
        .agg(F.collect_list(F.struct("__id", "__v")).alias("rows"))
    )
    left = packed.select(F.col("__b").alias("ba"), F.col("rows").alias("rows_a"))
    right = packed.select(F.col("__b").alias("bb"), F.col("rows").alias("rows_b"))
    block_pairs = left.join(right, F.col("ba") <= F.col("bb"))
    pre = threshold - 1e-7

    def _score_blocks(batches):
        for pdf in batches:
            for _, row in pdf.iterrows():
                same = row["ba"] == row["bb"]
                ra, rb = row["rows_a"], row["rows_b"]
                ids_a = np.array([r["__id"] for r in ra])
                ids_b = ids_a if same else np.array([r["__id"] for r in rb])
                va = np.stack([np.asarray(r["__v"]) for r in ra]).astype(
                    np.float64, copy=False
                )
                vb = va if same else np.stack(
                    [np.asarray(r["__v"]) for r in rb]
                ).astype(np.float64, copy=False)
                dots = np.zeros((len(va), len(vb)), dtype=np.float64)
                na = np.zeros(len(va), dtype=np.float64)
                nb = np.zeros(len(vb), dtype=np.float64)
                for d in range(va.shape[1]):
                    ca, cb = va[:, d], vb[:, d]
                    dots = dots + ca[:, None] * cb[None, :]
                    na = na + ca * ca
                    nb = nb + cb * cb
                sim = dots / (np.sqrt(na)[:, None] * np.sqrt(nb)[None, :])
                mask = sim >= pre
                if same:
                    mask &= ids_a[:, None] < ids_b[None, :]
                else:
                    mask &= ids_a[:, None] != ids_b[None, :]
                ia, ib = np.nonzero(mask)
                lo = np.minimum(ids_a[ia], ids_b[ib])
                hi = np.maximum(ids_a[ia], ids_b[ib])
                yield pd.DataFrame(
                    {"id_a": lo, "id_b": hi, "__raw": sim[ia, ib]}
                )

    scored = block_pairs.mapInPandas(
        _score_blocks, f"id_a {id_type}, id_b {id_type}, __raw double"
    )
    # each unordered pair is scored exactly once (block triangle + in-block
    # triangle), so no dedup shuffle is needed
    return scored.select(
        "id_a", "id_b", F.round("__raw", 6).alias("sim")
    ).filter(F.col("sim") >= threshold)


def deterministic_centroids(
    corpus: DataFrame,
    num_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Coarse IVF centroids: the ``num_centroids`` lowest-id corpus vectors.

    Deterministic and training-free (the point here is the *index structure*;
    a production deployment would refine these with k-means|| from MLlib and
    persist them — the assignment/probe machinery below is unchanged)."""
    return (
        corpus.orderBy(F.col(id_col))
        .limit(num_centroids)
        .select(
            F.col(id_col).alias("centroid_id"),
            as_double_vec(vec_col).alias("cv"),
        )
    )


def ivf_assign(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign every corpus vector to its nearest centroid (max cosine, ties
    to the higher centroid_id).

    The centroid table is tiny by construction (``num_centroids`` rows) and
    ships inside the Arrow kernel's closure — the same bytes a broadcast
    join would move, but assignment is then one (batch × dim) @ (dim × m)
    matmul per Arrow batch instead of |corpus|·m interpreted per-pair
    expressions (the join+max_by form measured ~10× slower). Map-only: no
    shuffle at all; at 100 TB the result is written
    ``partitionBy(centroid_id)`` once, so probes read ``nprobe`` partitions
    instead of the corpus."""
    cents = sorted(centroids.collect(), key=lambda r: r["centroid_id"])
    return _ivf_assign_rows(
        corpus, cents, centroids.schema["centroid_id"].dataType, id_col, vec_col
    )


def _ivf_assign_rows(
    corpus: DataFrame, cents: list, cid_type, id_col: str, vec_col: str
) -> DataFrame:
    """``ivf_assign`` over ALREADY-COLLECTED centroid rows (sorted by
    centroid_id ascending) — callers that also need the centroid matrix
    driver-side (ivfpq LUTs) collect once and share the rows instead of
    re-running the centroid job per consumer (r13, guide §1.2: don't
    compute things twice)."""
    cmat = np.stack([np.asarray(r["cv"]) for r in cents]).astype(np.float64)
    # descending id order: np.argmax keeps the FIRST max → ties resolve to
    # the higher centroid_id, matching the previous lexicographic struct max
    cmat = cmat[::-1]
    cids = np.array([r["centroid_id"] for r in cents])[::-1]
    cnorm = np.sqrt((cmat * cmat).sum(axis=1))

    @F.pandas_udf(cid_type)
    def assign(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype="int64")
        v = np.stack(vecs.to_numpy()).astype(np.float64, copy=False)
        sims = (v @ cmat.T) / (np.sqrt((v * v).sum(axis=1))[:, None] * cnorm)
        return pd.Series(cids[np.argmax(sims, axis=1)])

    return corpus.select(
        F.col(id_col), F.col(vec_col), assign(F.col(vec_col)).alias("centroid_id")
    )


def kmeans_refine(
    corpus: DataFrame,
    num_centroids: int = 16,
    iterations: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Spherical k-means (Lloyd's) refinement of the deterministic IVF seeds
    (coarse quantizer as in Jégou et al., "Product Quantization for Nearest
    Neighbor Search", TPAMI 2011 — the IVF part, without the PQ codes; int8
    quantization is the separate `embedding_quantize_error` operator).

    Each round: (1) map-only cosine assignment (the same Arrow matmul kernel
    as ``ivf_assign`` — no shuffle), (2) per-cluster mean direction via
    posexplode → partial-agg sum per (cluster, dim) — the shuffle carries at
    most ``num_centroids × dim`` doubles per executor after map-side
    combine, never vectors — (3) L2-normalize the mean (spherical variant:
    with unit centroids, assignment maximizes the summed-cosine objective,
    so the objective is monotone non-decreasing — pinned in pytest). Empty
    clusters keep their previous centroid.

    Centroids (num_centroids × dim doubles — KBs) are the ONLY driver-side
    state; each round re-plans from the materialized centroid rows, so
    lineage stays one round deep no matter how many iterations. Returns the
    refined (centroid_id, cv) table for ``ivf_topk(centroids=…)``/
    ``ivf_assign``.
    """
    spark = corpus.sparkSession
    cents = deterministic_centroids(corpus, num_centroids, id_col, vec_col)
    schema = cents.schema
    for _ in range(iterations):
        assigned = ivf_assign(corpus, cents, id_col, vec_col)
        sums = (
            assigned.select(
                "centroid_id", F.posexplode(as_double_vec(vec_col)).alias("pos", "x")
            )
            .groupBy("centroid_id", "pos")
            .agg(F.sum("x").alias("sx"))
            .groupBy("centroid_id")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "sx"))),
                    lambda s: s["sx"],
                ).alias("sv")
            )
        )
        nrm = F.sqrt(F.aggregate(F.col("sv"), F.lit(0.0), lambda a, x: a + x * x))
        refined = (
            cents.join(sums, "centroid_id", "left")
            .select(
                "centroid_id",
                F.when(
                    F.col("sv").isNotNull() & (nrm > 0),
                    F.transform(F.col("sv"), lambda x: x / nrm),
                )
                .otherwise(F.col("cv"))
                .alias("cv"),
            )
            .collect()
        )
        cents = spark.createDataFrame(refined, schema)
    return cents


def kmeans_objective(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> float:
    """Summed cosine similarity of every vector to its assigned centroid —
    the spherical-k-means objective (higher is better)."""
    assigned = ivf_assign(corpus, centroids, id_col, vec_col)
    row = (
        _with_prep(assigned, vec_col, "__dv", "__nrm")
        .join(F.broadcast(centroids), "centroid_id")
        .withColumn("__cnrm", F.sqrt(F.aggregate("cv", F.lit(0.0), lambda a, x: a + x * x)))
        .select(_pair_sim("__dv", "__nrm", "cv", "__cnrm").alias("sim"))
        .agg(F.sum("sim").alias("obj"))
        .collect()[0]
    )
    return float(row["obj"])


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    num_centroids: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF approximate top-k: probe only the ``nprobe`` clusters whose
    centroids are nearest each query, brute-force within. With
    ``nprobe == num_centroids`` this is exactly ``brute_force_topk``;
    smaller nprobe trades recall for a ~num_centroids/nprobe scan reduction.
    Pass ``centroids`` (e.g. from ``kmeans_refine``) to reuse a trained
    coarse quantizer; default is the training-free deterministic seed set.
    Output: (query_id, vec_id, sim, rank) like the other top-k operators."""
    cents = (
        centroids
        if centroids is not None
        else deterministic_centroids(corpus, num_centroids, id_col, vec_col)
    )
    assigned = ivf_assign(corpus, cents, id_col, vec_col)

    qscored = queries.join(F.broadcast(cents)).select(
        query_id_col,
        "qv",
        F.col("centroid_id"),
        cosine_similarity(as_double_vec("qv"), F.col("cv")).alias("csim"),
    )
    wq = Window.partitionBy(query_id_col).orderBy(F.desc("csim"), F.asc("centroid_id"))
    probes = (
        qscored.withColumn("__pr", F.row_number().over(wq))
        .filter(F.col("__pr") <= nprobe)
        .select(query_id_col, "qv", "centroid_id")
    )

    scored = (
        _with_prep(assigned, vec_col, "__dv", "__nrm")
        .join(F.broadcast(_with_prep(probes, "qv", "__qdv", "__qnrm")), "centroid_id")
        .filter(F.col(id_col) != F.col(query_id_col))
        .select(
            query_id_col,
            id_col,
            _pair_sim("__dv", "__nrm", "__qdv", "__qnrm").alias("sim"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("sim"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
    )


def semantic_prune(
    corpus: DataFrame,
    threshold: float = 0.4,
    num_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup (Abbas et al., "SemDeDup: Data-efficient learning at
    web-scale through semantic deduplication", 2023): cluster the embedding
    space with the coarse quantizer, then inside each cluster drop every
    vector that has a LOWER-id neighbor with cosine ≥ ``threshold`` (the
    deterministic keep-lowest-id form of the paper's keep-one-per-group).

    Scale shape: assignment is the same map-only Arrow matmul as
    ``ivf_assign`` (no corpus shuffle); the only shuffle is the
    groupBy(cluster), and the within-cluster all-pairs is the algorithm's
    contract — SemDeDup holds cluster size bounded by scaling k ∝ n
    (paper uses k=50k–110k for web corpora), so each task scores a
    bounded (|cluster| × |cluster|) block vectorized. No global all-pairs
    ever exists.

    Output: one row per corpus vector —
    (vec_id, cluster_id, max_lower_sim double, pruned boolean); the
    threshold compare runs JVM-side on round(sim, 6) (HALF_UP, matching
    the SQL oracle's ROUND).
    """
    cents = deterministic_centroids(corpus, num_centroids, id_col, vec_col)
    assigned = ivf_assign(corpus, cents, id_col, vec_col).select(
        id_col, vec_col, "centroid_id"
    )
    id_type = corpus.schema[id_col].dataType.simpleString()
    cid_type = assigned.schema["centroid_id"].dataType.simpleString()

    def _score(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf[id_col].to_numpy()
        order = np.argsort(ids)
        ids = ids[order]
        v = np.stack(pdf[vec_col].to_numpy()[order]).astype(np.float64, copy=False)
        dots = v @ v.T
        n = np.sqrt((v * v).sum(axis=1))
        sim = dots / (n[:, None] * n[None, :])
        # row i × columns j<i (lower ids); mask with -inf, never 0 — a
        # tril() of the sim matrix would clamp all-negative neighbor rows
        # to 0.0 and diverge from the oracle's true MAX
        mask = np.tril(np.ones_like(sim, dtype=bool), k=-1)
        best = np.where(mask, sim, -np.inf).max(axis=1, initial=-np.inf)
        # lowest id in the cluster has no lower neighbor → SQL NULL (never
        # NaN: Spark orders NaN above every number, which would flip the
        # threshold compare)
        vals = pd.array([None] + [float(x) for x in best[1:]], dtype="Float64")
        return pd.DataFrame(
            {
                id_col: ids,
                "centroid_id": pdf["centroid_id"].iloc[0],
                "__raw": vals,
            }
        )

    scored = assigned.groupBy("centroid_id").applyInPandas(
        _score, f"{id_col} {id_type}, centroid_id {cid_type}, __raw double"
    )
    return scored.select(
        F.col(id_col),
        F.col("centroid_id").alias("cluster_id"),
        F.round("__raw", 6).alias("max_lower_sim"),
        F.coalesce(F.round("__raw", 6) >= threshold, F.lit(False)).alias("pruned"),
    )


def pq_adc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = 8,
    num_codewords: int = 16,
    rerank: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Product-quantization ADC top-k with exact re-ranking (Jégou et al.,
    "Product Quantization for Nearest Neighbor Search", TPAMI 2011 — the
    ADC part; IVF composition is ``ivf_topk``).

    Index: vectors are L2-normalized and split into ``m`` subspaces;
    each subspace gets a ``num_codewords``-entry codebook taken from the
    lowest-id corpus vectors' subvectors (deterministic, training-free —
    the same contract as ``deterministic_centroids``; a production build
    would k-means each codebook, machinery unchanged). A vector's code is
    its nearest (L2) codeword per subspace → m small ints instead of dim
    floats (here 8 bytes vs 256 — the 32× memory shrink is the point at
    100 TB).

    Query: ADC — each query precomputes an (m × num_codewords) lookup
    table of subspace dot products; a vector's approximate cosine is the
    sum of m table lookups, never a full-vector product. The kernel keeps
    only the per-batch ADC top-``rerank`` candidates per query and scores
    those EXACTLY (re-rank with originals — the standard shortlist
    pattern), so emitted sims are exact cosines; only candidate *choice*
    is approximate. Map-only over the corpus; the sole shuffle ranks
    ≤ rerank·partitions rows per query.

    Output: (query_id, vec_id, sim, rank 1..k), sims exact.
    """
    cb_src = sorted(
        corpus.select(id_col, as_double_vec(vec_col).alias("__v"))
        .orderBy(F.col(id_col))
        .limit(num_codewords)
        .collect(),
        key=lambda r: r[id_col],
    )
    cbv = np.stack([np.asarray(r["__v"]) for r in cb_src]).astype(np.float64)
    cbv = cbv / np.sqrt((cbv * cbv).sum(axis=1))[:, None]
    dim = cbv.shape[1]
    sub = dim // m
    # codebooks[s]: (num_codewords × sub)
    codebooks = [cbv[:, s * sub : (s + 1) * sub].copy() for s in range(m)]

    qrows = sorted(
        queries.select(query_id_col, as_double_vec("qv").alias("__q")).collect(),
        key=lambda r: r[query_id_col],
    )
    qids = np.array([r[query_id_col] for r in qrows])
    qv = np.stack([np.asarray(r["__q"]) for r in qrows]).astype(np.float64)
    qn = qv / np.sqrt((qv * qv).sum(axis=1))[:, None]
    # luts: (nq × m × num_codewords) subspace dot products
    luts = np.stack(
        [qn[:, s * sub : (s + 1) * sub] @ codebooks[s].T for s in range(m)],
        axis=1,
    )
    id_type = corpus.schema[id_col].dataType.simpleString()
    qid_type = queries.schema[query_id_col].dataType.simpleString()

    def _scan(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf[id_col].to_numpy()
            v = np.stack(pdf[vec_col].to_numpy()).astype(np.float64, copy=False)
            norms = np.sqrt((v * v).sum(axis=1))
            vn = v / norms[:, None]
            adc = np.zeros((len(v), len(qids)), dtype=np.float64)
            for s in range(m):
                vs = vn[:, s * sub : (s + 1) * sub]
                # nearest codeword by L2 ≡ max (dot − ‖c‖²/2)
                scores = vs @ codebooks[s].T - 0.5 * (codebooks[s] ** 2).sum(axis=1)
                codes = np.argmax(scores, axis=1)
                adc += luts[:, s, codes].T
            out = []
            for qi in range(len(qids)):
                cand = np.argsort(-adc[:, qi])[: rerank + 1]
                cand = cand[ids[cand] != qids[qi]][:rerank]
                exact = (v[cand] @ qv[qi]) / (
                    norms[cand] * np.sqrt((qv[qi] * qv[qi]).sum())
                )
                out.append(
                    pd.DataFrame(
                        {
                            query_id_col: qids[qi],
                            id_col: ids[cand],
                            "__raw": exact,
                        }
                    )
                )
            yield pd.concat(out, ignore_index=True)

    scored = corpus.select(id_col, vec_col).mapInPandas(
        _scan, f"{query_id_col} {qid_type}, {id_col} {id_type}, __raw double"
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("sim"), F.asc(id_col))
    return (
        scored.select(query_id_col, id_col, F.round("__raw", 6).alias("sim"))
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
    )


def ivfpq_adc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    num_centroids: int = 16,
    nprobe: int = 4,
    m: int = 8,
    num_codewords: int = 16,
    rerank: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF-PQ: the composed production ANN stack (Jégou et al., TPAMI 2011
    — inverted file coarse quantizer + product-quantization ADC, with exact
    shortlist re-rank). IVF routes each query to its ``nprobe`` nearest
    coarse cells so only ~nprobe/num_centroids of the corpus is scored;
    within probed cells, scoring is ADC lookup sums over m-subspace codes
    (32× memory shrink); the per-batch top-``rerank`` shortlist is scored
    exactly, so emitted sims are exact cosines — only candidate choice is
    approximate, bounded by cell recall × ADC shortlist recall.

    Plan shape: ``ivf_assign``'s map-only Arrow matmul stamps cell ids; the
    scan kernel masks each Arrow batch per query to its probed cells and
    scores via the LUT — still map-only over the corpus, no join, no
    explosion; the sole shuffle ranks ≤ rerank·partitions rows per query.
    Queries and centroids are driver-side by the same broadcast-small
    contract as ``pq_adc_topk`` (LUT construction needs them in one place);
    at 100 TB the corpus side would additionally be written
    ``partitionBy(centroid_id)`` so probes prune at the FILE level and the
    non-probed ~ (1 − nprobe/num_centroids) of the corpus is never read.

    Output: (query_id, vec_id, sim, rank 1..k), sims exact.
    """
    id_dtype = corpus.schema[id_col].dataType
    if centroids is not None:
        cent_rows = sorted(centroids.collect(), key=lambda r: r["centroid_id"])
        cid_dtype = centroids.schema["centroid_id"].dataType
        # Codebooks: lowest-id corpus vectors' subvectors (same
        # training-free contract as pq_adc_topk; kmeans_refine slots in
        # unchanged).
        cb_src = sorted(
            corpus.select(id_col, as_double_vec(vec_col).alias("__v"))
            .orderBy(F.col(id_col))
            .limit(num_codewords)
            .collect(),
            key=lambda r: r[id_col],
        )
    else:
        # deterministic centroids AND PQ codebooks are both "the lowest-id
        # corpus vectors" (deterministic_centroids' contract) — ONE
        # head-by-id collect serves both instead of two identical jobs
        # per build (r13, guide §1.2); ivf_assign then reuses the same
        # rows instead of a third job.
        base = sorted(
            corpus.select(id_col, as_double_vec(vec_col).alias("__v"))
            .orderBy(F.col(id_col))
            .limit(max(num_centroids, num_codewords))
            .collect(),
            key=lambda r: r[id_col],
        )
        cent_rows = [
            {"centroid_id": r[id_col], "cv": r["__v"]}
            for r in base[:num_centroids]
        ]
        cid_dtype = id_dtype
        cb_src = base[:num_codewords]
    cmat = np.stack([np.asarray(r["cv"]) for r in cent_rows]).astype(np.float64)
    cnorm = np.sqrt((cmat * cmat).sum(axis=1))
    cids = np.array([r["centroid_id"] for r in cent_rows])

    assigned = _ivf_assign_rows(corpus, cent_rows, cid_dtype, id_col, vec_col)

    cbv = np.stack([np.asarray(r["__v"]) for r in cb_src]).astype(np.float64)
    cbv = cbv / np.sqrt((cbv * cbv).sum(axis=1))[:, None]
    dim = cbv.shape[1]
    sub = dim // m
    codebooks = [cbv[:, s * sub : (s + 1) * sub].copy() for s in range(m)]

    qrows = sorted(
        queries.select(query_id_col, as_double_vec("qv").alias("__q")).collect(),
        key=lambda r: r[query_id_col],
    )
    qids = np.array([r[query_id_col] for r in qrows])
    qv = np.stack([np.asarray(r["__q"]) for r in qrows]).astype(np.float64)
    qnorms = np.sqrt((qv * qv).sum(axis=1))
    qn = qv / qnorms[:, None]
    luts = np.stack(
        [qn[:, s * sub : (s + 1) * sub] @ codebooks[s].T for s in range(m)],
        axis=1,
    )
    # Per-query probe sets: top-nprobe cells by centroid cosine (ties to
    # the lower centroid_id, matching ivf_topk's ordering).
    csims = (qn @ cmat.T) / cnorm[None, :]
    probe_sets = []
    for qi in range(len(qids)):
        order = np.lexsort((cids, -csims[qi]))[:nprobe]
        probe_sets.append(np.sort(cids[order]))

    id_type = corpus.schema[id_col].dataType.simpleString()
    qid_type = queries.schema[query_id_col].dataType.simpleString()

    probed_union = np.unique(np.concatenate(probe_sets)) if probe_sets else None

    def _scan(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf[id_col].to_numpy()
            cell = pdf["centroid_id"].to_numpy()
            # rows in no query's probe set are never decoded or encoded —
            # the in-kernel analog of the partitionBy(centroid_id) file
            # prune a materialized index gets
            keep = np.nonzero(np.isin(cell, probed_union))[0]
            if len(keep) == 0:
                continue
            ids, cell = ids[keep], cell[keep]
            v = np.stack(pdf[vec_col].to_numpy()[keep]).astype(
                np.float64, copy=False
            )
            norms = np.sqrt((v * v).sum(axis=1))
            vn = v / norms[:, None]
            # PQ codes once per surviving batch row (shared across queries)
            codes = np.empty((len(v), m), dtype=np.int64)
            for s in range(m):
                vs = vn[:, s * sub : (s + 1) * sub]
                scores = vs @ codebooks[s].T - 0.5 * (codebooks[s] ** 2).sum(axis=1)
                codes[:, s] = np.argmax(scores, axis=1)
            out = []
            for qi in range(len(qids)):
                mask = np.isin(cell, probe_sets[qi]) & (ids != qids[qi])
                idx = np.nonzero(mask)[0]
                if len(idx) == 0:
                    continue
                adc = np.zeros(len(idx), dtype=np.float64)
                for s in range(m):
                    adc += luts[qi, s, codes[idx, s]]
                if len(adc) > rerank:
                    short = np.argpartition(-adc, rerank - 1)[:rerank]
                else:
                    short = np.arange(len(adc))
                cand = idx[short]
                exact = (v[cand] @ qv[qi]) / (norms[cand] * qnorms[qi])
                out.append(
                    pd.DataFrame(
                        {
                            query_id_col: qids[qi],
                            id_col: ids[cand],
                            "__raw": exact,
                        }
                    )
                )
            if out:
                yield pd.concat(out, ignore_index=True)

    scored = assigned.select(id_col, vec_col, "centroid_id").mapInPandas(
        _scan, f"{query_id_col} {qid_type}, {id_col} {id_type}, __raw double"
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("sim"), F.asc(id_col))
    return (
        scored.select(query_id_col, id_col, F.round("__raw", 6).alias("sim"))
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
    )
