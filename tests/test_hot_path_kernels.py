"""The two LLM-curation kernels that replaced interpreted Catalyst lambdas
keep their results exactly:

  * ``dedup.shingle_seq`` (one regexp_extract_all) against the split +
    zip_with fold it replaced, kept below as the reference;
  * ``similarity.streamed_top_k`` (the numpy fold inside one Arrow pass,
    behind q_similarity_topk and _np) against the JVM ``scored_pairs``
    brute force, across Arrow batch boundaries and on degenerate vectors
    under both ANSI settings;
  * ``dedup.minhash_banded`` (one xxhash64 per shingle, then the numpy
    MinHash/band kernel, behind q_dedup_minhash and q_dedup_ngram_jaccard)
    against the relational signature pass it replaced, kept below as the
    reference, across Arrow batch boundaries and on degenerate documents.
"""

from __future__ import annotations

import contextlib
import random

import pytest
from pyspark.errors import PySparkException
from pyspark.sql import functions as F

import __spark_entry__ as contract
from finegourmet_spark.operators import similarity as sim
from finegourmet_spark.functions.partitioning import spread
from finegourmet_spark.operators import dedup
from finegourmet_spark.operators.dedup import normalized_text, shingle_seq, shingles
from finegourmet_spark.sources.testdata import load_table

QUERIES = contract.queries()


def split_fold_shingles(col, n):
    """The zip_with formulation shingle_seq replaced: shingle i folds
    tokens[i..i+n-1] of split(col, ' ') over shifted slices; incomplete
    trailing shingles are null and filtered out."""
    toks = F.split(col, " ")
    acc = toks
    for j in range(1, n):
        shifted = F.slice(toks, j + 1, F.greatest(F.size(toks) - j, F.lit(0)))
        acc = F.zip_with(acc, shifted, lambda a, b: F.concat(a, F.lit(" "), b))
    return F.filter(acc, lambda x: x.isNotNull())


EDGE_TEXTS = [
    "",
    None,
    "solo",
    "  leading and trailing  ",
    "runs   of    spaces",
    " ",
    "   ",
    "tabs\tand\nnewlines \t mixed\n",
    "😀 emoji 🎉 as whole tokens 😀",
    "emo😀ji in😀side tok🎉ens",
    "😀😀 😀",
    "café naïve résumé é",
    "a b c d e f g h",
]


@pytest.mark.parametrize("n", [1, 2, 3, 5])
def test_shingle_seq_equals_split_fold(spark, sf_dir, n):
    texts = spark.createDataFrame(list(enumerate(EDGE_TEXTS)), "doc_id long, text string")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    for frame in (texts, docs):
        for col in (F.col("text"), normalized_text()):
            got = frame.select("doc_id", shingle_seq(col, n).alias("s"))
            ref = frame.select("doc_id", split_fold_shingles(col, n).alias("s"))
            assert got.collect() == ref.collect(), (n, str(col))


@contextlib.contextmanager
def confs(spark, **kv):
    prev = {k: spark.conf.get(k) for k in kv}
    for k, v in kv.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


BATCH = "spark.sql.execution.arrow.maxRecordsPerBatch"
ANSI = "spark.sql.ansi.enabled"


@pytest.mark.parametrize("name", ["q_similarity_topk", "q_similarity_topk_np"])
def test_streamed_top_k_batch_size_invariant(spark, sf_dir, name):
    """Per-batch pruning across many batch boundaries (7 rows) keeps the
    result of one batch per partition (10000 rows)."""
    runs = []
    for size in ("7", "10000"):
        with confs(spark, **{BATCH: size}):
            runs.append(sorted(QUERIES[name](spark, sf_dir).collect()))
    assert runs[0] and runs[0] == runs[1]


@pytest.fixture(scope="module")
def degenerate_dir(tmp_path_factory):
    """Two parquet embeddings tables of 30 vectors: random 64-dim ones plus,
    on both the probe (vec_id < N_QUERIES) and corpus-only sides, a null
    array, a null element, a NaN element, a 63-dim vector and, in
    ``with_zero.parquet`` only, an all-zero vector. Written by pyarrow,
    read as one small file, so each stage is one task: when a job aborts
    on DIVIDE_BY_ZERO, tasks killed mid-stream in sibling Python workers
    could otherwise report their own error first."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    out = tmp_path_factory.mktemp("degenerate")
    for with_zero in (False, True):
        rnd = random.Random(3)
        vecs = []
        for i in range(30):
            v = [rnd.uniform(-1, 1) for _ in range(sim.DIM)]
            if i == 3:
                v = None
            elif i in (5, 25):
                v[10] = None
            elif i in (7, 27) and with_zero:
                v = [0.0] * sim.DIM
            elif i in (9, 29):
                v = v[:-1]
            elif i == 11:
                v[0] = float("nan")
            vecs.append(v)
        table = pa.table(
            {
                "vec_id": pa.array(range(30), pa.int64()),
                "embedding": pa.array(vecs, pa.list_(pa.float32())),
                "label": pa.array([i % 3 for i in range(30)], pa.int32()),
            }
        )
        pq.write_table(table, out / f"with_zero_{with_zero}.parquet")
    return out


def jvm_top_k(e):
    """The brute force streamed_top_k replaced: every probe × corpus pair
    scored by the JVM fold."""
    corpus = e.select("vec_id", "embedding", sim.norm(F.col("embedding")).alias("enorm"))
    q = sim.probes(e, F.col("vec_id") < sim.N_QUERIES)
    on = F.col("vec_id") != F.col("query_id")
    return sim.top_k(
        sim.scored_pairs(corpus, q, on, "query_id", F.col("vec_id").alias("neighbor_id"))
    )


def outcome(df):
    """Sorted rows (NaN-safe), or the error condition the job raised."""
    try:
        return sorted(repr(tuple(r)) for r in df.collect())
    except PySparkException as ex:
        return ex.getCondition()


@pytest.mark.parametrize("ansi", ["false", "true"])
@pytest.mark.parametrize("with_zero", [False, True])
def test_streamed_top_k_degenerate_vectors_equal_jvm(spark, degenerate_dir, ansi, with_zero):
    """Null arrays, null and NaN elements and a length mismatch give the
    JVM fold's null or NaN, and a zero vector its null score (ANSI off) or
    DIVIDE_BY_ZERO (ANSI on): pairs the numpy pass cannot rank are never
    pruned, so the JVM sees them exactly as in the brute force."""
    e = spark.read.parquet(str(degenerate_dir / f"with_zero_{with_zero}.parquet"))
    with confs(spark, **{ANSI: ansi}):
        want = outcome(jvm_top_k(e))
        if ansi == "false" or not with_zero:
            assert isinstance(want, list) and len(want) == 100
        else:
            assert want == "DIVIDE_BY_ZERO"
        for size in ("4", "10000"):
            with confs(spark, **{BATCH: size}):
                for gemm in (False, True):
                    assert outcome(sim.streamed_top_k(e, gemm)) == want, (size, gemm)


def jvm_minhash_banded(docs, n_hashes, n_bands):
    """The relational pass minhash_banded replaced: every signature row is
    ``min(xxhash64(shingle, lit(i)))`` over a groupBy(doc_id), and each
    band's bucket is ``xxhash64(lit(b), <the band's rows>)``."""
    rows_per_band = n_hashes // n_bands
    sh = spread(docs).select("doc_id", F.explode(shingles(normalized_text())).alias("shingle"))
    sig = sh.groupBy("doc_id").agg(
        *[F.min(F.xxhash64("shingle", F.lit(i))).alias(f"h{i}") for i in range(n_hashes)]
    )
    band_cols = [
        F.struct(
            F.lit(b).alias("band"),
            F.xxhash64(
                F.lit(b), *[F.col(f"h{b * rows_per_band + r}") for r in range(rows_per_band)]
            ).alias("bucket"),
        )
        for b in range(n_bands)
    ]
    return sig.select("doc_id", F.explode(F.array(*band_cols)).alias("bb")).select(
        "doc_id", "bb.band", "bb.bucket"
    )


LONG_DOC = " ".join(f"w{i % 13}x{i}" for i in range(40))
DEGENERATE_DOCS = [
    (None, "a null doc id has shingles too"),
    (1, None),
    (2, ""),
    (3, "   "),
    (4, "one"),
    (5, "two tokens"),
    (6, "three whole tokens"),
    (7, "😀 emoji 🎉 as whole tokens 😀 🎉"),
    (8, "emo😀ji in😀side tok🎉ens"),
    (9, LONG_DOC),  # 38 shingles: six Arrow batches of 7 rows
    (10, LONG_DOC.upper()),  # the same shingles after normalization
    (11, "three whole tokens"),
]


def banded_rows(df):
    try:
        return sorted(tuple(r) for r in df.collect())
    finally:
        df.unpersist()


@pytest.mark.parametrize("n_hashes,n_bands", [(32, 8), (128, 64)])
@pytest.mark.parametrize("frame", ["sf", "degenerate"])
def test_minhash_kernel_equals_jvm(spark, sf_dir, frame, n_hashes, n_bands):
    """Identical (doc_id, band, bucket) rows at 7 rows per Arrow batch
    (runs cut across batches) and 10000; rows with a null doc_id, which
    could never pair, are dropped before the kernel."""
    if frame == "sf":
        docs = load_table(spark, sf_dir, "documents")
    else:
        docs = spark.createDataFrame(DEGENERATE_DOCS, "doc_id long, text string")
    want = sorted(
        tuple(r) for r in jvm_minhash_banded(docs, n_hashes, n_bands).collect()
        if r["doc_id"] is not None
    )
    assert want and len({r[0] for r in want}) * n_bands == len(want)
    for size in ("7", "10000"):
        with confs(spark, **{BATCH: size}):
            assert banded_rows(dedup.minhash_banded(docs, n_hashes, n_bands)) == want, size


def test_minhash_kernel_carries_runs_across_any_cut():
    """The kernel alone: one stream of (doc_id, h) rows gives the same
    bands whether it arrives as one batch or cut at every row boundary into
    two, or into single rows (a document's run then spans many batches)."""
    import numpy as np
    import pyarrow as pa

    rnd = np.random.default_rng(5)
    ids = np.repeat(np.arange(6, dtype=np.int64), [1, 4, 2, 9, 1, 3])
    h = rnd.integers(-(2**63), 2**63 - 1, size=len(ids), dtype=np.int64)

    def run(cuts):
        bounds = [0, *cuts, len(ids)]
        batches = [
            pa.RecordBatch.from_arrays(
                [pa.array(ids[a:b]), pa.array(h[a:b])], names=["doc_id", "h"]
            )
            for a, b in zip(bounds, bounds[1:])
        ]
        out = pa.Table.from_batches(list(dedup._minhash_bands(iter(batches), 32, 8)))
        return sorted(zip(*(out.column(c).to_pylist() for c in range(3))))

    want = run([])
    assert len(want) == 6 * 8
    for cut in range(len(ids) + 1):
        assert run([cut]) == want, cut
    assert run(list(range(1, len(ids)))) == want
