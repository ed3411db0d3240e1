"""Similarity search over embedding columns (`array<float>`).

Baseline: brute-force cosine top-k (exact, the recall ceiling).
Scale path: IVF-style partitioned search — restrict the pair space to a
coarse bucket (here the `label` column stands in for a quantizer
assignment), so each probe touches 1/n_buckets of the corpus; the bucket
join co-partitions both sides on the bucket key, turning O(N²) into
O(N²/buckets) with no broadcast of the corpus.

Every exact top-k variant shares one core and keeps only its candidate
generator (same label, k-means cell, PQ shortlist, held-out split):
``probes`` builds the probe set with its norm, ``scored_pairs`` is the one
broadcast of that set plus the rounded cosine, and ``top_k`` is the
deterministic rank filter. The all-pairs baseline and its GEMM-pruned twin
need no join: ``streamed_top_k`` scores the collected probes inside one
Arrow pass over the corpus and hands ``cos_sim`` and ``top_k`` the
survivors.

Dot products are one sequential fold in doubles, element order fixed:
``dot()`` (`zip_with` + `aggregate`) in the candidate-join variants (ivf,
ivf_kmeans, pq, knn), and ``_fold`` — the same IEEE operations in the same
order, one dimension at a time across rows in numpy — inside the
corpus-streaming Arrow pass of ``q_similarity_topk`` and ``_np``, where the
vectors already are, so no interpreted lambda runs per probe×corpus pair.
Either way ``sqrt``, the division and the rounding stay JVM-side. Scores
are rounded to 6 decimals *before* ranking so rank boundaries are stable
across engines/partitionings (ranking on the rounded value with a vec_id
tie-break makes top-k deterministic).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from finegourmet_spark.operators.registry import ORACLES, QUERIES, query
from finegourmet_spark.sources.testdata import load_table as t

DIM = 64
TOP_K = 5
N_QUERIES = 20  # probe set: first 20 vec_ids


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ in doubles, sequential fold (deterministic order).

    r13 measured-and-rejected: unrolling this over the fixed DIM into a
    GetArrayItem chain (guarded by a size()==DIM dispatch for non-DIM
    callers) DID speed up execution — the HOF fold is CodegenFallback,
    interpreted per row — 0.649 s → 0.448 s on the q_similarity_topk
    scoring stage at sf0.1. But the ~400-node-per-call-site expression
    tree cost MORE than that in Catalyst analysis/optimization, paid on
    every query CONSTRUCTION: bench-methodology runs (rebuild per
    invocation, like the driver's) measured 1.714 s → 3.793 s, and the
    in-bench q_similarity_topk reading went 1.0 → 2.3 s. Planning cost
    scales with the expression tree; execution cost with the data — at
    bench scale planning dominates, and at 100 TB scale the brute-force
    baseline is not the route anyway (q_similarity_topk_np GEMM / IVF /
    PQ are). The fold stays. (OPTIMIZATION_r13.md §q_similarity_topk.)

    It scores the candidate-join variants (ivf, ivf_kmeans, pq re-rank,
    q_knn_classify, q_dedup_embedding) and the embedding audit, and is the
    test reference for ``_fold``, which replaced it in the streaming
    brute-force pass of q_similarity_topk and _np."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def probes(e: DataFrame, pred: Column, *carry: Column) -> DataFrame:
    """``query_id``, ``carry``, the vector ``qe`` and its norm ``qnorm`` of the
    rows matching ``pred``. The norm is projected per vector, below the join
    (a CollapseProject barrier), not per pair."""
    return e.filter(pred).select(
        F.col("vec_id").alias("query_id"),
        *carry,
        F.col("embedding").alias("qe"),
        norm(F.col("embedding")).alias("qnorm"),
    )


def scored_pairs(
    candidates: DataFrame, probe_df: DataFrame, on: Column | str | None, *keep: Column | str
) -> DataFrame:
    """``keep`` plus the rounded ``cos_sim`` of each candidate (carrying
    ``embedding`` and its norm ``enorm``) joined ``on`` its probe. The probe
    set is bounded by N_QUERIES or KNN_N_TEST rows, so it broadcasts.
    dot/(qnorm·enorm) is the oracles' per-pair IEEE expression, bit for bit."""
    return candidates.join(F.broadcast(probe_df), on).select(
        *keep,
        cos_sim(dot(F.col("qe"), F.col("embedding")), F.col("qnorm"), F.col("enorm")),
    )


def cos_sim(qe_dot: Column, qnorm: Column, enorm: Column) -> Column:
    """``round(dot / (qnorm·enorm), 6)`` as ``cos_sim``: JVM-side, so null,
    zero-divisor and ANSI behaviour are Spark's whoever computed the dot."""
    return F.round(qe_dot / (qnorm * enorm), 6).alias("cos_sim")


def top_k(
    df: DataFrame, k: int = TOP_K, score: str = "cos_sim", rank: str = "rank"
) -> DataFrame:
    """The ``k`` best rows per ``query_id`` by ``score``, ``neighbor_id``
    breaking ties, numbered in ``rank``."""
    w = Window.partitionBy("query_id").orderBy(F.col(score).desc(), F.col("neighbor_id"))
    return df.withColumn(rank, F.row_number().over(w)).filter(F.col(rank) <= k)


# Candidate-keep slack, in cosine units, of every per-batch prune. A pair
# whose 6-decimal score ties-or-beats that of the batch's k-th raw score is
# within 1e-6 of it (rounding is monotone), and BLAS pairwise summation vs
# the sequential fold drifts by < 1e-9 on 64-dim vectors; 2 ppm covers both,
# so the JVM rank sees a superset of the true global top-k.
GEMM_PRUNE_SLACK = 2e-6


def _fold(a: "np.ndarray", b: "np.ndarray") -> "np.ndarray":  # noqa: F821
    """Σ_d a[d]·b[d] over the LEADING axis (dimension-first operands that
    broadcast), one dimension at a time in float64: the IEEE operations of
    ``dot()``'s aggregate(zip_with) fold in its order, so bit-identical."""
    import numpy as np

    acc = np.zeros(np.broadcast_shapes(a.shape[1:], b.shape[1:]))
    for d in range(a.shape[0]):
        acc += a[d] * b[d]
    return acc


def _near_top(scores: "np.ndarray", eligible: "np.ndarray") -> "np.ndarray":  # noqa: F821
    """(probes, rows) mask: the ``eligible`` pairs scoring within
    GEMM_PRUNE_SLACK of their probe's TOP_K-th best eligible score. A NaN
    score means "not comparable" (null fold, zero divisor, NaN data): it
    never sets the boundary and is never pruned."""
    import numpy as np

    keep = eligible.copy()
    for p in range(len(scores)):
        s = scores[p][eligible[p] & ~np.isnan(scores[p])]
        if s.size > TOP_K:
            keep[p] &= ~(scores[p] < np.partition(s, -TOP_K)[-TOP_K] - GEMM_PRUNE_SLACK)
    return keep


def _fold_batch(rb, qids, qvecs, qq, gemm: bool):
    """One corpus Arrow batch (vec_id, embedding) → the pairs that can reach
    a probe's top-k, with their folds ``dqe`` = dot(q, e), ``qq`` = dot(q,
    q) and ``ee`` = dot(e, e). A null array, a null element or a length
    mismatch gives a null fold, as zip_with does; such pairs are never
    pruned, nor are zero divisors, so the JVM's null and ANSI behaviour
    sees every row it would have seen. With ``gemm`` one float64 GEMM over
    normalised vectors first picks the rows worth folding."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    ids_col, emb = rb.column(0), rb.column(1)
    ids = ids_col.fill_null(0).to_numpy()
    lens = pc.list_value_length(emb).fill_null(-1).to_numpy()
    off = emb.offsets.to_numpy()
    flat = emb.values
    vals = flat.to_numpy(zero_copy_only=False).astype(np.float64)
    nulls = np.concatenate([[0], np.cumsum(flat.is_null().to_numpy(zero_copy_only=False))])
    clean = (lens >= 0) & (nulls[off[1:]] == nulls[off[:-1]])

    n, qlen = len(ids), np.array([-1 if v is None else len(v) for v in qvecs], dtype=np.int64)
    ee = np.full(n, np.nan)
    dqe = np.full((len(qids), n), np.nan)
    eligible = ids_col.is_valid().to_numpy(zero_copy_only=False)[None, :] & (
        ids[None, :] != qids[:, None]
    )
    null_fold = np.ones_like(eligible)
    with np.errstate(all="ignore"):
        for L in np.unique(lens[clean]):
            rows = np.flatnonzero(clean & (lens == L))
            m = np.ascontiguousarray(vals[off[rows][:, None] + np.arange(L)].T)  # (L, rows)
            ee[rows] = _fold(m, m)
            qs = np.flatnonzero(qlen == L)
            if not qs.size:
                continue
            q = np.stack([qvecs[i] for i in qs], axis=1)  # (L, probes)
            block = np.ix_(qs, rows)
            null_fold[block] = False
            if gemm:
                sims = (q / np.linalg.norm(q, axis=0)).T @ (m / np.linalg.norm(m, axis=0))
                eligible[block] = _near_top(sims, eligible[block])
                wanted = eligible[block].any(axis=0)
                rows, m = rows[wanted], m[:, wanted]
            dqe[np.ix_(qs, rows)] = _fold(q[:, :, None], m[:, None, :])
        div = np.sqrt(qq)[:, None] * np.sqrt(ee)[None, :]
        raw = np.where(div == 0, np.nan, dqe / div)
    p, j = np.nonzero(_near_top(raw, eligible))
    return pa.RecordBatch.from_arrays(
        [
            pa.array(qids[p]),
            pa.array(ids[j]),
            pa.array(dqe[p, j], mask=null_fold[p, j]),
            pa.array(qq[p], mask=qlen[p] < 0),
            pa.array(ee[j], mask=~clean[j]),
        ],
        names=["query_id", "neighbor_id", "dqe", "qq", "ee"],
    )


def streamed_top_k(e: DataFrame, gemm: bool = False) -> DataFrame:
    """Exact brute-force cosine top-k of the first N_QUERIES vectors in one
    Arrow pass: the probe rows (metadata-scale) are collected and closed
    over, the corpus streams through mapInArrow, and each batch folds every
    probe×row pair with ``_fold`` and keeps the pairs within
    GEMM_PRUNE_SLACK of the batch's k-th raw cosine. ``cos_sim`` and
    ``top_k`` then run JVM-side on the survivors, so the result equals
    ``top_k(scored_pairs(...))`` over all pairs, bit for bit.

    mapInArrow, not mapInPandas: pandas turns a null array element into NaN
    and a returned NaN into null, and the fold must tell them apart."""
    import numpy as np

    probe_rows = (
        e.filter(F.col("vec_id") < N_QUERIES)
        .select("vec_id", "embedding")
        .collect()  # metadata-scale: N_QUERIES rows, not the corpus
    )
    qids = np.array([r["vec_id"] for r in probe_rows], dtype=np.int64)
    qvecs = [
        None
        if r["embedding"] is None or None in r["embedding"]
        else np.array(r["embedding"], dtype=np.float64)
        for r in probe_rows
    ]
    qq = np.array([np.nan if v is None else _fold(v, v) for v in qvecs])

    def fold_batches(batches):
        for rb in batches:
            yield _fold_batch(rb, qids, qvecs, qq, gemm)

    folds = e.select("vec_id", "embedding").mapInArrow(
        fold_batches, "query_id long, neighbor_id long, dqe double, qq double, ee double"
    )
    return top_k(
        folds.select(
            "query_id",
            "neighbor_id",
            cos_sim(F.col("dqe"), F.sqrt(F.col("qq")), F.sqrt(F.col("ee"))),
        )
    )


# DuckDB twins (same sequential element order via list_transform + explicit fold)
def _sql_dot(a: str, b: str) -> str:
    return (
        f"list_sum(list_transform(range(1, {DIM + 1}), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
    )


def _sql_cosine(a: str, b: str) -> str:
    return f"({_sql_dot(a, b)} / (sqrt({_sql_dot(a, a)}) * sqrt({_sql_dot(b, b)})))"


@query(
    "q_similarity_topk",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings
               WHERE vec_id < {N_QUERIES}),
         scored AS (
      SELECT q.query_id, e.vec_id AS neighbor_id,
             round({_sql_cosine('q.qe', 'e.embedding')}, 6) AS cos_sim
      FROM q JOIN embeddings e ON e.vec_id <> q.query_id
    ), ranked AS (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, neighbor_id) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, cos_sim, rank FROM ranked WHERE rank <= {TOP_K}
    """,
)
def q_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k: the probe set (N_QUERIES rows) is collected
    and the corpus streams once through ``streamed_top_k``'s Arrow pass —
    no corpus shuffle, no broadcast, a per-batch partial top-k, and the
    exact JVM rank on the survivors. This is the exact baseline an ANN
    variant (q_similarity_ivf) is measured against."""
    return streamed_top_k(t(spark, sf_dir, "embeddings"))


@query(
    "q_similarity_ivf",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, label AS qlabel, embedding AS qe
               FROM embeddings WHERE vec_id < {N_QUERIES}),
         scored AS (
      SELECT q.query_id, e.vec_id AS neighbor_id,
             round({_sql_cosine('q.qe', 'e.embedding')}, 6) AS cos_sim
      FROM q JOIN embeddings e
        ON e.label = q.qlabel AND e.vec_id <> q.query_id
    ), ranked AS (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, neighbor_id) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, cos_sim, rank FROM ranked WHERE rank <= {TOP_K}
    """,
)
def q_similarity_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed ANN: probe only the query's coarse cell (`label` = the
    quantizer assignment; a real IVF trains centroids with spark.ml KMeans
    and assigns via argmin — same plan shape). The bucket equi-join
    co-partitions corpus and probes on the cell id: each cell's scoring is
    local to one task, the full corpus is never cross-joined."""
    e = t(spark, sf_dir, "embeddings")
    corpus = e.select("vec_id", "label", "embedding", norm(F.col("embedding")).alias("enorm"))
    q = probes(e, F.col("vec_id") < N_QUERIES, F.col("label").alias("qlabel"))
    on = (F.col("label") == F.col("qlabel")) & (F.col("vec_id") != F.col("query_id"))
    return top_k(scored_pairs(corpus, q, on, "query_id", F.col("vec_id").alias("neighbor_id")))


# the embedding near-dup decision threshold — single-sourced: used by
# q_dedup_embedding's filter AND oracle, and by the semantic-CC oracle
# prelude below, so the twin queries cannot silently diverge (r3 review)
EMB_NEAR_THETA = 0.35

# Hot-cell sub-split cap (VERDICT r9 item 5 / r9 ROADMAP handoff): a cell
# with c members puts a c² candidate block through ONE task of the pair
# join — at 100 TB a skewed quantizer cell is a straggler-then-OOM. Cells
# above the cap are sub-split into s = ceil(c/cap) hash buckets and the
# join enumerates the s(s+1)/2 sub-block PAIRS, so every within-cell pair
# still meets exactly once (this op is exact dedup — pairs can't be
# SAMPLED away like the Jaccard hub cap does) while per-task work is
# bounded by ~cap². Replication cost: each hot-cell row joins ~s/2
# blocks; cells at-or-under the cap keep s=1 and pay nothing.
#
# Default choice (measured, sf10-mut 200k vectors / 436-member cells,
# identical 178,458 rows on every setting): finer blocking is FASTER
# locally — cap 64/160/256 → 26.5/30.0/33.8 s vs ~44-47 s plain — because
# the join's per-key match buffer goes quadratic in the cell size well
# before anything OOMs. But replication scales with c/(2·cap), so a tiny
# cap on a genuinely hot 100 TB cell (say 1M members) would multiply
# shuffle volume by hundreds. 4096 bounds the worst block to ~17M cosines
# (seconds of work) while keeping pathological-cell replication ≤ ~125×;
# corpora whose cells all fit stay on the plain join via the adaptive
# max-cell probe.
EMB_CELL_CAP = 4096


@query(
    "q_dedup_embedding",
    oracle=f"""
    WITH pairs AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             round({_sql_cosine('a.embedding', 'b.embedding')}, 6) AS cos_sim
      FROM embeddings a JOIN embeddings b
        ON a.label = b.label AND a.vec_id < b.vec_id
    )
    SELECT vec_a, vec_b, cos_sim FROM pairs WHERE cos_sim >= {EMB_NEAR_THETA}
    """,
)
def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate detection: candidate pairs from the
    coarse cell (label) bucket join, exact cosine filter at θ-threshold —
    the semantic-dedup step of a training-data pipeline (near-identical
    passages with different surface forms). Same O(N²/cells) shape as
    q_similarity_ivf; at 100 TB the cells come from a trained quantizer.

    Hot-cell bound (r10, ADAPTIVE): one support-scale action reads the
    max cell size; if every cell fits EMB_CELL_CAP the plain cell join
    runs untouched (measured: the sub-split plumbing alone cost ~30% at
    sf10-mut where no cell is hot). Otherwise hot cells are sub-split
    into s = ceil(c/cap) xxhash buckets and the candidate join runs on
    (label, sub_i, sub_j) BLOCK keys, i ≤ j — each unordered within-cell
    pair meets in exactly one block (its lower-sub member on the A side),
    diagonal blocks dedupe by vec_id order, cross blocks normalize with
    least/greatest — so the output pair set is IDENTICAL to the plain
    cell join (the DuckDB oracle is unchanged) while the worst task sees
    ~cap² candidate work instead of c². At 100 TB the max-cell probe
    comes from the quantizer's training stats instead of an agg. The
    block-pair machinery is shared (operators/cellpairs.py) — item-item
    CF's basket self-join carries the same exposure and uses the same
    guard."""
    from finegourmet_spark.operators.cellpairs import bounded_cell_self_join

    e = t(spark, sf_dir, "embeddings").select(
        "vec_id", "label", "embedding", norm(F.col("embedding")).alias("vnorm")
    )
    pairs = bounded_cell_self_join(e, "label", "vec_id", EMB_CELL_CAP)
    return pairs.select(
        F.least(F.col("a_vec_id"), F.col("b_vec_id")).alias("vec_a"),
        F.greatest(F.col("a_vec_id"), F.col("b_vec_id")).alias("vec_b"),
        F.round(
            dot(F.col("a_embedding"), F.col("b_embedding"))
            / (F.col("a_vnorm") * F.col("b_vnorm")),
            6,
        ).alias("cos_sim"),
    ).filter(F.col("cos_sim") >= EMB_NEAR_THETA)


@query("q_similarity_topk_np", oracle=ORACLES["q_similarity_topk"])
def q_similarity_topk_np(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k, GEMM-pruned: ``streamed_top_k``'s one
    Arrow pass, where each batch first scores ALL probes with one float64
    GEMM over normalised vectors and only the rows within
    GEMM_PRUNE_SLACK of a probe's batch k-th GEMM score go on to the exact
    sequential fold. BLAS does the O(N·d) work, the fold only touches the
    candidate set, and the result is bit-identical to q_similarity_topk
    (oracle-backed; ranking on the BLAS sums themselves could flip a
    6-decimal boundary, since pairwise summation changes the FP order)."""
    return streamed_top_k(t(spark, sf_dir, "embeddings"), gemm=True)


@query("q_similarity_ivf_kmeans")  # rows-only: trained centroids are engine-specific
def q_similarity_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with a TRAINED quantizer: spark.ml KMeans (fixed seed) learns the
    coarse cells instead of borrowing the `label` column — the real 100 TB
    recipe (train on a sample, assign via the model's broadcast centroids,
    then the same co-partitioned cell equi-join as q_similarity_ivf).
    Registered rows-only (centroids depend on the engine's KMeans); cell
    subset/recall properties are pytest-verified
    (tests/test_approx_and_lsh.py)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    e = t(spark, sf_dir, "embeddings")
    feats = e.select(
        "vec_id", "embedding", array_to_vector(F.col("embedding")).alias("features")
    )
    k_cells = 8
    # bounded probe job: a corpus with fewer points than cells can't train
    # the quantizer (KMeans requires ≥ k distinct-enough points) ⇒ empty
    # result, not a crash. take(k) reads at most k rows.
    if len(feats.take(k_cells)) < k_cells:
        return spark.createDataFrame(
            [], "query_id long, neighbor_id long, cell int, cos_sim double, rank int"
        )
    model = KMeans(k=k_cells, seed=42, featuresCol="features", predictionCol="cell").fit(
        feats.select("features")
    )
    assigned = model.transform(feats).select(
        "vec_id", "embedding", "cell", norm(F.col("embedding")).alias("enorm")
    )
    q = probes(assigned, F.col("vec_id") < N_QUERIES, F.col("cell").alias("qcell"))
    on = (F.col("cell") == F.col("qcell")) & (F.col("vec_id") != F.col("query_id"))
    keep = ("query_id", F.col("vec_id").alias("neighbor_id"), "cell")
    return top_k(scored_pairs(assigned, q, on, *keep))


PQ_M = 16  # subspaces (64 dims → 4 dims each)
PQ_K = 16  # centroids per subspace → 4 bits; code = 16 nibbles = 8 bytes


def _pq_train(sample: "np.ndarray", seed: int = 7, iters: int = 12):  # noqa: F821
    """Tiny deterministic k-means per subspace (numpy, driver-side) on a
    METADATA-SCALE sample — at 100 TB the codebooks come from spark.ml
    KMeans per subspace over a sampled fraction; the trained tables are a
    few KB either way and broadcast to executors."""
    import numpy as np

    rng = np.random.default_rng(seed)
    d_sub = sample.shape[1] // PQ_M
    books = []
    for m in range(PQ_M):
        sub = sample[:, m * d_sub : (m + 1) * d_sub]
        cent = sub[rng.choice(len(sub), PQ_K, replace=False)].copy()
        for _ in range(iters):
            d2 = ((sub[:, None, :] - cent[None, :, :]) ** 2).sum(-1)
            assign = d2.argmin(1)
            for k in range(PQ_K):
                pts = sub[assign == k]
                if len(pts):
                    cent[k] = pts.mean(0)
        books.append(cent)
    return books  # list of (PQ_K, d_sub)


@query("q_similarity_pq")  # rows-only: trained codebooks are run-specific
def q_similarity_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantized ANN (Jégou et al., "Product Quantization for
    Nearest Neighbor Search", TPAMI 2011): vectors are L2-normalized, split
    into 16 subspaces, each encoded as its nearest of 16 trained centroids
    — 8 BYTES per vector instead of 256, the memory/IO compression that
    makes billion-vector scans feasible. Query scoring is ADC (asymmetric
    distance computation): per probe, a 16×16 lookup table of partial dot
    products is precomputed once; each corpus vector's approximate cosine
    is 16 table lookups + adds — no float vector ever re-read. Corpus
    encoding + scoring stream through mapInPandas with per-batch partial
    top-k (same shuffle shape as q_similarity_topk_np).

    Final step is the standard RE-RANK: the ADC shortlist (4·k per probe)
    joins back to the full vectors of just those candidates and the exact
    cosine decides the top-k — compressed codes prune the corpus, floats
    only touch the shortlist. Recall vs the exact baseline is
    pytest-asserted (tests/test_approx_and_lsh.py)."""
    import numpy as np
    import pandas as pd

    e = t(spark, sf_dir, "embeddings")
    # training sample + probe set: metadata-scale collects (bounded, documented)
    sample_rows = e.select("embedding").limit(2048).collect()
    probe_rows = e.filter(F.col("vec_id") < N_QUERIES).select("vec_id", "embedding").collect()
    if len(sample_rows) < PQ_K or not probe_rows:
        # corpus too small to train PQ_K centroids per subspace (or no
        # probes at all) ⇒ empty result, not a crash
        return spark.createDataFrame(
            [], "query_id long, neighbor_id long, cos_sim double, rank int"
        )
    sample = np.array([r["embedding"] for r in sample_rows], dtype=np.float64)
    sample /= np.linalg.norm(sample, axis=1, keepdims=True)
    books = _pq_train(sample)

    probe_ids = np.array([r["vec_id"] for r in probe_rows], dtype=np.int64)
    probe = np.array([r["embedding"] for r in probe_rows], dtype=np.float64)
    probe /= np.linalg.norm(probe, axis=1, keepdims=True)
    d_sub = probe.shape[1] // PQ_M
    # ADC lookup tables: lut[q, m, k] = <probe_q_sub_m, centroid_m_k>
    lut = np.stack(
        [probe[:, m * d_sub : (m + 1) * d_sub] @ books[m].T for m in range(PQ_M)],
        axis=1,
    )  # (n_probes, M, K)

    out_schema = "query_id long, neighbor_id long, approx_sim double"

    def score(batches):
        for pdf in batches:
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            mat = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
            mat /= np.linalg.norm(mat, axis=1, keepdims=True)
            # encode: nearest centroid per subspace
            codes = np.empty((len(mat), PQ_M), dtype=np.int64)
            for m in range(PQ_M):
                sub = mat[:, m * d_sub : (m + 1) * d_sub]
                d2 = ((sub[:, None, :] - books[m][None, :, :]) ** 2).sum(-1)
                codes[:, m] = d2.argmin(1)
            # ADC: approx dot = Σ_m lut[q, m, code_m]
            for qi, qid in enumerate(probe_ids):
                sims = lut[qi, np.arange(PQ_M)[None, :], codes].sum(1)
                mask = ids != qid
                cand_ids, cand_sims = ids[mask], np.round(sims[mask], 6)
                take = min(TOP_K * 4, len(cand_ids))
                if take == 0:
                    continue
                part = np.argsort(-cand_sims, kind="stable")[:take]
                yield pd.DataFrame(
                    {
                        "query_id": qid,
                        "neighbor_id": cand_ids[part],
                        "approx_sim": cand_sims[part],
                    }
                )

    cand = e.select("vec_id", "embedding").mapInPandas(score, out_schema)
    shortlist = top_k(cand, TOP_K * 4, "approx_sim", "adc_rank")
    # exact re-rank: floats touch ONLY the shortlist (4k rows per probe)
    corpus = e.select(
        F.col("vec_id").alias("neighbor_id"),
        "embedding",
        norm(F.col("embedding")).alias("enorm"),
    )
    q = probes(e, F.col("vec_id") < N_QUERIES)
    pairs = shortlist.join(corpus, "neighbor_id")
    return top_k(scored_pairs(pairs, q, "query_id", "query_id", "neighbor_id"))


N_PLANES = 16  # 4 tables × 4 sign bits (floor; widens with corpus size)
N_TABLES = 4
BITS_PER_TABLE = N_PLANES // N_TABLES
# target mean bucket occupancy: bits/table grows with the corpus so the
# within-bucket pair space stays O(N · bucket) instead of O(N²/2^bits)
LSH_TARGET_BUCKET = 64


def lsh_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, table, bucket) sign-random-projection LSH assignments.

    Pseudo-random hyperplanes derived deterministically from
    xxhash64(dim_index, plane) (reproducible without a shared RNG — a real
    deployment would broadcast trained planes). 4 tables ×
    max(4, ⌈log₂(n/{LSH_TARGET_BUCKET})⌉) sign bits each: the bit width is
    CORPUS-ADAPTIVE (r9) — a fixed 4-bit code means N/16 vectors per
    bucket, whose within-bucket self-join is O(N²/16) pairs at any scale
    (the sf10 run at 200k vectors ground ~312M candidate pairs into a heap
    OOM). Sizing buckets to ~{LSH_TARGET_BUCKET} mean occupancy keeps the
    candidate set O(N·bucket) — the property that survives 100 TB — while
    true near-dups (cos ≥ 0.99, per-plane flip ≈ 0.45%) still agree on all
    bits of ≥1 table with overwhelming probability (miss ≈ 8e-6 at 12
    bits × 4 tables). Multiple tables give misses another chance — the
    classic banding trade-off. The projection is a per-row expression; the
    only shuffle is the candidate join on (table, bucket)."""
    import math

    e = t(spark, sf_dir, "embeddings")
    # width probe from parquet FOOTER stats (metadata-shaped — what catalog
    # statistics provide at 100 TB), count() scan only as fallback
    # (VERDICT r10 item 5; equality with the count path pytest-pinned)
    from finegourmet_spark.sources.testdata import table_row_count

    n = table_row_count(sf_dir, "embeddings")
    if n is None:
        n = e.count()
    bits = max(
        BITS_PER_TABLE, math.ceil(math.log2(max(1.0, n / LSH_TARGET_BUCKET)))
    )

    def plane_component(p: int, i: Column) -> Column:
        # deterministic pseudo-uniform in [-0.5, 0.5) from a 64-bit hash
        h = F.xxhash64(i, F.lit(p))
        return h.cast("double") / F.lit(float(2**64))

    idx = F.sequence(F.lit(1), F.lit(DIM))

    def sign_bit(p: int) -> Column:
        # r13 note: unrolling this fold (constant-folding the
        # xxhash64(lit(i), lit(p)) plane components at plan time) was
        # measured-and-rejected for the same reason as similarity.dot():
        # N_TABLES × bits sign bits × DIM terms ≈ a 2500-node projection
        # whose Catalyst planning cost exceeds the interpreted-eval win at
        # any scale this query runs at (see dot()'s docstring).
        proj = F.aggregate(
            F.zip_with(
                F.col("embedding"),
                idx,
                lambda x, i: x.cast("double") * plane_component(p, i),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        return F.when(proj > 0, F.lit(1)).otherwise(F.lit(0))

    tables = [
        F.struct(
            F.lit(tbl).alias("table"),
            sum(
                (
                    sign_bit(tbl * bits + b) * F.lit(1 << b)
                    for b in range(bits)
                ),
                F.lit(0),
            ).alias("bucket"),
        )
        for tbl in range(N_TABLES)
    ]
    return e.select("vec_id", F.explode(F.array(*tables)).alias("tb")).select(
        "vec_id", F.col("tb.table").alias("table"), F.col("tb.bucket").alias("bucket")
    )


@query("q_similarity_lsh")  # rows-only: hash-seeded planes are engine-specific
def q_similarity_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine-LSH candidate pairs: vectors sharing any (table, bucket). The
    pair space shrinks from O(N²) to colliding pairs; exact re-scoring of the
    candidates is then ``scored_pairs`` + ``top_k``'s job on the candidate set.
    Recall vs the exact top-1 neighbors is pytest-verified
    (tests/test_approx_and_lsh.py)."""
    assigned = lsh_tables(spark, sf_dir)
    a = assigned.alias("a")
    b = assigned.alias("b")
    return (
        a.join(
            b,
            (F.col("a.table") == F.col("b.table"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b"))
        .distinct()
    )


_SEMANTIC_CC_PRELUDE = f"""pairs AS (
  SELECT a.vec_id AS da, b.vec_id AS db
  FROM embeddings a JOIN embeddings b
    ON a.label = b.label AND a.vec_id < b.vec_id
  WHERE round({_sql_cosine('a.embedding', 'b.embedding')}, 6) >= {EMB_NEAR_THETA}
)"""


def _semantic_cc_oracle() -> str:
    from finegourmet_spark.operators.dedup import unrolled_min_label_sql

    return unrolled_min_label_sql(
        _SEMANTIC_CC_PRELUDE, "SELECT vec_id AS node FROM embeddings", "vec_id"
    )


@query("q_dedup_semantic_clusters", oracle=_semantic_cc_oracle())
def q_dedup_semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC dedup cluster resolution: connected components over the
    embedding-cosine near-dup pair graph (q_dedup_embedding, θ≥0.35 within
    coarse cells), canonical survivor = the component's minimum vec_id —
    the semantic twin of q_dedup_clusters (surface-form n-gram clusters).
    A training pipeline runs BOTH: n-gram CC catches copy-edit dups,
    semantic CC catches paraphrase dups; each yields keep/drop decisions
    via the same transitive-closure semantics.

    Distributed shape: the shared ``min_label_components`` loop (one
    equi-join + hash-agg per round, localCheckpoint lineage cuts) over the
    cell-bucketed pair join — no all-pairs stage anywhere; the oracle is
    the shared 15-round unrolled min-label SQL."""
    from finegourmet_spark.operators.dedup import min_label_components

    pairs = q_dedup_embedding(spark, sf_dir).select("vec_a", "vec_b")
    nodes = t(spark, sf_dir, "embeddings").select("vec_id")
    labels = min_label_components(pairs, nodes, "vec_id", pair_cols=("vec_a", "vec_b"))
    wc = Window.partitionBy("cluster_id")
    return labels.select(
        "vec_id",
        "cluster_id",
        F.count("*").over(wc).alias("cluster_size"),
        (F.col("vec_id") == F.col("cluster_id")).alias("is_survivor"),
    )


KNN_K = 5
KNN_N_TEST = 50  # probe set: vec_id < 50; train corpus: the rest


@query(
    "q_knn_classify",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS query_id, label AS true_label, embedding AS qe
      FROM embeddings WHERE vec_id < {KNN_N_TEST}
    ), scored AS (
      SELECT q.query_id, q.true_label, e.label AS nlabel,
             e.vec_id AS neighbor_id,
             round({_sql_cosine('q.qe', 'e.embedding')}, 6) AS cos_sim
      FROM q JOIN embeddings e ON e.vec_id >= {KNN_N_TEST}
    ), ranked AS (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, neighbor_id) AS rk
      FROM scored
    ), votes AS (
      SELECT query_id, true_label, nlabel, count(*) AS n_votes
      FROM ranked WHERE rk <= {KNN_K} GROUP BY 1, 2, 3
    ), pick AS (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY n_votes DESC, nlabel) AS pr
      FROM votes
    )
    SELECT query_id, true_label, nlabel AS pred_label,
           CAST(n_votes AS BIGINT) AS n_votes,
           (nlabel = true_label) AS correct
    FROM pick WHERE pr = 1
    """,
)
def q_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN majority-vote classification: each held-out probe (vec_id <
    {KNN_N_TEST}) is labeled by its {KNN_K} nearest train vectors' majority
    label (ties → smaller label id) — the standard embedding-quality probe a
    training-data pipeline runs after producing embeddings.

    Same scale shape as q_similarity_topk: the probe set broadcasts, the
    train corpus streams through once (per-partition partial top-k under the
    rank window), and the vote/argmax stages run on probes×k rows —
    metadata-scale. Determinism: cosine rounded to 6dp before ranking,
    neighbor_id tie-break, then (votes DESC, label) argmax."""
    e = t(spark, sf_dir, "embeddings")
    corpus = e.filter(F.col("vec_id") >= KNN_N_TEST).select(
        "vec_id",
        F.col("label").alias("nlabel"),
        "embedding",
        norm(F.col("embedding")).alias("enorm"),
    )
    q = probes(e, F.col("vec_id") < KNN_N_TEST, F.col("label").alias("true_label"))
    keep = ("query_id", "true_label", "nlabel", F.col("vec_id").alias("neighbor_id"))
    votes = (
        top_k(scored_pairs(corpus, q, None, *keep), KNN_K, rank="rk")
        .groupBy("query_id", "true_label", "nlabel")
        .agg(F.count(F.lit(1)).alias("n_votes"))
    )
    pr = Window.partitionBy("query_id").orderBy(
        F.col("n_votes").desc(), F.col("nlabel")
    )
    return (
        votes.withColumn("pr", F.row_number().over(pr))
        .filter(F.col("pr") == 1)
        .select(
            "query_id",
            "true_label",
            F.col("nlabel").alias("pred_label"),
            "n_votes",
            (F.col("nlabel") == F.col("true_label")).alias("correct"),
        )
    )


@query(
    "q_knn_confusion",
    oracle=f"""
    WITH knn AS ({ORACLES["q_knn_classify"]}),
    cells AS (
      SELECT true_label, pred_label, CAST(count(*) AS BIGINT) AS n
      FROM knn GROUP BY 1, 2
    ), rows_ AS (
      SELECT true_label, SUM(n) AS row_total FROM cells GROUP BY 1
    ), cols_ AS (
      SELECT pred_label, SUM(n) AS col_total FROM cells GROUP BY 1
    )
    SELECT c.true_label, c.pred_label, c.n,
           CAST((1000000 * c.n) // r.row_total AS BIGINT) AS recall_ppm,
           CAST((1000000 * c.n) // cl.col_total AS BIGINT) AS precision_ppm
    FROM cells c
    JOIN rows_ r USING (true_label)
    JOIN cols_ cl USING (pred_label)
    """,
)
def q_knn_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix + per-cell precision/recall for the k-NN
    classifier — the evaluation-metric layer every embedding-quality
    pipeline reports above raw predictions (q_knn_classify). Diagonal
    cells carry the per-class recall (n/row_total) and precision
    (n/col_total) in floor-ppm; off-diagonal cells localize WHICH labels
    confuse.

    Composes the registered classifier (one function call — the oracle
    wraps the classifier's oracle as a CTE, so both layers stay in
    lockstep if k or the probe split changes); everything after the
    predictions frame is |labels|²-bounded — metadata-scale."""
    knn = QUERIES["q_knn_classify"](spark, sf_dir)
    cells = knn.groupBy("true_label", "pred_label").agg(
        F.count(F.lit(1)).alias("n")
    )
    rows_ = cells.groupBy("true_label").agg(F.sum("n").alias("row_total"))
    cols_ = cells.groupBy("pred_label").agg(F.sum("n").alias("col_total"))
    return (
        cells.join(rows_, "true_label")
        .join(cols_, "pred_label")
        .select(
            "true_label",
            "pred_label",
            "n",
            F.expr("(1000000 * n) div row_total").cast("bigint").alias(
                "recall_ppm"
            ),
            F.expr("(1000000 * n) div col_total").cast("bigint").alias(
                "precision_ppm"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Round-4 wave 32: embedding-table quality audit
# ---------------------------------------------------------------------------


@query(
    "q_embedding_quality_audit",
    oracle=f"""
    WITH v AS (
      SELECT label,
             len(embedding) AS dim,
             {_sql_dot('embedding', 'embedding')} AS norm2
      FROM embeddings
    )
    SELECT label,
           CAST(count(*) AS BIGINT) AS n_vecs,
           CAST(count(*) FILTER (WHERE dim <> {DIM}) AS BIGINT)
             AS n_dim_anomalies,
           CAST(count(*) FILTER (WHERE norm2 = 0) AS BIGINT) AS n_zero_vecs,
           CAST(SUM(CAST(floor(norm2 * 1000000) AS BIGINT)) AS BIGINT)
             AS sum_norm2_ppm,
           CAST(MIN(CAST(floor(norm2 * 1000000) AS BIGINT)) AS BIGINT)
             AS min_norm2_ppm
    FROM v GROUP BY label
    """,
)
def q_embedding_quality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-table quality audit — the pre-flight every vector corpus
    needs before ANN/dedup runs trust it: per label, vector count,
    wrong-dimension count, zero-vector count (cosine is undefined on
    them — the exact rows q_dedup_minhash's sentinel guard exists for),
    and the norm² mass in floor-ppm integers. norm² is the shared
    sequential-fold dot (identical expression tree both engines →
    bit-identical doubles), floored PER VECTOR before summing — the
    two-level-floor rule, so the group sums hash-match exactly.

    Scale shape: pure projections + one label-keyed map-side-combined
    rollup; the 64-element fold is scan-side arithmetic."""
    e = t(spark, sf_dir, "embeddings")
    v = e.select(
        "label",
        F.size("embedding").alias("dim"),
        dot(F.col("embedding"), F.col("embedding")).alias("norm2"),
    )
    norm2_ppm = F.floor(F.col("norm2") * 1000000).cast("bigint")
    return v.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
        F.count(F.when(F.col("dim") != DIM, 1)).cast("bigint").alias("n_dim_anomalies"),
        F.count(F.when(F.col("norm2") == 0, 1)).cast("bigint").alias("n_zero_vecs"),
        F.sum(norm2_ppm).cast("bigint").alias("sum_norm2_ppm"),
        F.min(norm2_ppm).cast("bigint").alias("min_norm2_ppm"),
    )
