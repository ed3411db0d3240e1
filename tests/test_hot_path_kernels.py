"""The two LLM-curation kernels that replaced interpreted Catalyst lambdas
keep their results exactly:

  * ``dedup.shingle_seq`` (one regexp_extract_all) against the split +
    zip_with fold it replaced, kept below as the reference;
  * ``similarity.streamed_top_k`` (the numpy fold inside one Arrow pass,
    behind q_similarity_topk and _np) against the JVM ``scored_pairs``
    brute force, across Arrow batch boundaries and on degenerate vectors
    under both ANSI settings.
"""

from __future__ import annotations

import contextlib
import random

import pytest
from pyspark.errors import PySparkException
from pyspark.sql import functions as F

import __spark_entry__ as contract
from finegourmet_spark.operators import similarity as sim
from finegourmet_spark.operators.dedup import normalized_text, shingle_seq
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
