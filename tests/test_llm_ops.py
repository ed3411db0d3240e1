"""Semantic tests for the LLM-pipeline operators: MinHash-LSH candidate
recall vs exact Jaccard, SimHash clustering, exact dedup, ANN vs brute force.

A synthetic corpus with KNOWN near-duplicates is written as a
`documents.parquet` in a tmp dir shaped like the driver testdata, so the
registered query functions run unchanged on it."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as contract

QUERIES = contract.queries()

BASE = (
    "the quick brown fox jumps over the lazy dog while the sun sets "
    "slowly behind the old stone bridge near the quiet river bank today"
)
NEAR_DUP = BASE.replace("quiet river", "silent river")  # 1-token change
FAR = (
    "completely different content about spark query engines and columnar "
    "execution with vectorized readers plus adaptive shuffle partitioning"
)


@pytest.fixture(scope="module")
def corpus_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("corpus"))
    rows = [
        (0, BASE, "en", "src0", len(BASE)),
        (1, NEAR_DUP, "en", "src0", len(NEAR_DUP)),
        (2, BASE, "en", "src1", len(BASE)),  # exact duplicate of 0
        (3, FAR, "en", "src0", len(FAR)),
        (4, "tiny", "en", "src0", 4),  # shorter than one shingle
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    return d


def test_exact_dedup_finds_identical_docs(spark, corpus_dir):
    rows = {r["doc_id"]: r for r in QUERIES["q_dedup_exact"](spark, corpus_dir).collect()}
    assert rows[0]["n_copies"] == 2 and rows[2]["n_copies"] == 2
    assert rows[0]["is_survivor"] and not rows[2]["is_survivor"]  # lowest id wins
    assert rows[1]["n_copies"] == 1  # near-dup is NOT an exact dup


def test_exact_jaccard_scores(spark, corpus_dir):
    pairs = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in QUERIES["q_dedup_ngram_jaccard"](spark, corpus_dir).collect()
    }
    assert pairs[(0, 2)] == 1.0  # identical
    assert 0.5 < pairs[(0, 1)] < 1.0  # near-dup: high but not 1
    assert (0, 3) not in pairs  # unrelated pair below threshold


def test_minhash_lsh_recalls_near_dups(spark, corpus_dir):
    """Every exact-Jaccard ≥0.5 pair must surface as an LSH candidate
    (32 hashes / 8 bands ⇒ band-collision prob ≈ 1-(1-s⁴)⁸ > 0.97 at s=0.8)."""
    candidates = {
        (r["doc_a"], r["doc_b"])
        for r in QUERIES["q_dedup_minhash"](spark, corpus_dir).collect()
    }
    assert (0, 2) in candidates  # identical docs always collide
    assert (0, 1) in candidates and (1, 2) in candidates  # near-dups recalled
    assert (0, 3) not in candidates  # unrelated docs don't collide


def test_lsh_gate_recalls_all_exact_jaccard_pairs(spark, sf_dir):
    """The registered q_dedup_ngram_jaccard is LSH-gated (32 bands × 2 rows):
    its result must still equal the CORPUS-WIDE exact formulation — i.e. the
    candidate set ⊇ every θ≥NEAR_DUP_THETA pair. Verified against the
    ungated exact shingle self-join on the real testdata."""
    from finegourmet_spark.operators.dedup import (
        NEAR_DUP_THETA,
        normalized_text,
        shingles,
    )

    gated = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in QUERIES["q_dedup_ngram_jaccard"](spark, sf_dir).collect()
    }
    d = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", shingles(normalized_text()).alias("sh"))
        .filter(F.size("sh") > 0)
    )
    a, b = d.alias("a"), d.alias("b")
    n_common = F.size(F.array_intersect("a.sh", "b.sh"))
    exact = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in (
            a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))  # corpus-wide, test-scale only
            .select(
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
                (n_common.cast("double") / (F.size("a.sh") + F.size("b.sh") - n_common)).alias(
                    "jaccard"
                ),
            )
            .filter(F.col("jaccard") >= NEAR_DUP_THETA)
        ).collect()
    }
    assert gated == exact  # gate loses no pair and invents none


def test_dedup_clusters_transitive_chain(spark, corpus_dir):
    """Docs 0,1,2 are pairwise near-dups → ONE cluster with survivor 0;
    unrelated doc 3 and sub-shingle doc 4 stay singletons."""
    rows = {r["doc_id"]: r for r in QUERIES["q_dedup_clusters"](spark, corpus_dir).collect()}
    assert rows[0]["cluster_id"] == rows[1]["cluster_id"] == rows[2]["cluster_id"] == 0
    assert rows[0]["cluster_size"] == 3
    assert rows[0]["is_survivor"] and not rows[1]["is_survivor"] and not rows[2]["is_survivor"]
    assert rows[3]["cluster_id"] == 3 and rows[3]["cluster_size"] == 1 and rows[3]["is_survivor"]
    assert rows[4]["cluster_id"] == 4 and rows[4]["is_survivor"]


def test_simhash_identical_docs_share_signature(spark, corpus_dir):
    sigs = {r["doc_id"]: r for r in QUERIES["q_dedup_simhash"](spark, corpus_dir).collect()}
    assert sigs[0]["simhash"] == sigs[2]["simhash"]
    assert sigs[0]["bucket_size"] >= 2
    assert sigs[0]["simhash"] != sigs[3]["simhash"]

    def hamming(a: int, b: int) -> int:
        return bin((a ^ b) & (2**64 - 1)).count("1")

    # near-dup within a few bits; unrelated doc far away
    assert hamming(sigs[0]["simhash"], sigs[1]["simhash"]) <= 8
    assert hamming(sigs[0]["simhash"], sigs[3]["simhash"]) > 10


def test_simhash_arrow_popcount_equals_jvm_fold_reference(spark, sf_dir):
    """The r14 Arrow mapInPandas popcount must be BIT-IDENTICAL to the
    pre-r14 JVM per-bit fold (the reference implementation, rebuilt here
    verbatim): 2·popcount_j > n ⇔ vote_j > 0, incl. bit 63 (sign bit)
    and null/empty-token docs. Guards the vectorized rewrite against any
    drift in bit order, vote tie behavior, or empty-doc handling."""
    from finegourmet_spark.functions.partitioning import spread
    from finegourmet_spark.operators.dedup import normalized_text
    from finegourmet_spark.sources.testdata import load_table

    d = spread(load_table(spark, sf_dir, "documents")).select(
        "doc_id", normalized_text().alias("txt")
    )
    toks = F.array_distinct(F.split(F.col("txt"), " "))
    d = d.select(
        "doc_id", F.transform(toks, lambda s: F.xxhash64(s)).alias("hashes")
    )

    def bit_vote(j: int) -> F.Column:
        mask = F.lit((1 << j) if j < 63 else -(1 << 63)).cast("long")
        vote = F.aggregate(
            F.col("hashes"),
            F.lit(0).cast("long"),
            lambda acc, h: acc
            + F.when(h.bitwiseAND(mask) != 0, 1).otherwise(-1),
        )
        return F.when(vote > 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )

    bits_high_to_low = F.array(*[bit_vote(j) for j in range(63, -1, -1)])
    sim = F.aggregate(
        bits_high_to_low,
        F.lit(0).cast("long"),
        lambda acc, b: F.shiftleft(acc, 1).bitwiseOR(b),
    )
    reference = {
        (r["doc_id"], r["simhash"])
        for r in d.select("doc_id", sim.alias("simhash")).collect()
    }
    shipped = {
        (r["doc_id"], r["simhash"])
        for r in QUERIES["q_dedup_simhash"](spark, sf_dir)
        .select("doc_id", "simhash")
        .collect()
    }
    assert shipped == reference


def test_ivf_subset_of_bruteforce_space(spark, sf_dir):
    """IVF probes only the query's cell — its neighbors are a subset of the
    corpus, all sharing the query's label."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    labels = {r["vec_id"]: r["label"] for r in emb.select("vec_id", "label").collect()}
    ivf = QUERIES["q_similarity_ivf"](spark, sf_dir).collect()
    assert ivf, "IVF returned no neighbors"
    for r in ivf:
        assert labels[r["neighbor_id"]] == labels[r["query_id"]]


def test_bruteforce_topk_is_exact_ceiling(spark, sf_dir):
    """Brute-force top-1 neighbor similarity ≥ IVF top-1 for every query."""
    bf = {
        r["query_id"]: r["cos_sim"]
        for r in QUERIES["q_similarity_topk"](spark, sf_dir).collect()
        if r["rank"] == 1
    }
    ivf = {
        r["query_id"]: r["cos_sim"]
        for r in QUERIES["q_similarity_ivf"](spark, sf_dir).collect()
        if r["rank"] == 1
    }
    for q, s in ivf.items():
        assert bf[q] >= s - 1e-9


def test_numpy_topk_matches_jvm_topk(spark, sf_dir):
    """The Arrow/numpy fast path must return the SAME top-k as the JVM fold
    baseline (same ids, sims within a rounding ulp)."""
    jvm = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["cos_sim"])
        for r in QUERIES["q_similarity_topk"](spark, sf_dir).collect()
    }
    np_ = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["cos_sim"])
        for r in QUERIES["q_similarity_topk_np"](spark, sf_dir).collect()
    }
    assert jvm.keys() == np_.keys()
    for k, (nid, sim) in jvm.items():
        nid2, sim2 = np_[k]
        assert nid == nid2, f"{k}: neighbor {nid} != {nid2}"
        assert abs(sim - sim2) <= 1e-6


def test_kmeans_ivf_neighbors_share_trained_cell(spark, sf_dir):
    """KMeans-IVF: every neighbor comes from the query's trained cell, and
    per-query top-1 never beats the brute-force ceiling."""
    rows = QUERIES["q_similarity_ivf_kmeans"](spark, sf_dir).collect()
    assert rows, "kmeans IVF returned nothing"
    bf = {
        r["query_id"]: r["cos_sim"]
        for r in QUERIES["q_similarity_topk"](spark, sf_dir).collect()
        if r["rank"] == 1
    }
    for r in rows:
        if r["rank"] == 1:
            assert bf[r["query_id"]] >= r["cos_sim"] - 1e-6


def test_minhash_ml_agrees_with_custom(spark, corpus_dir):
    """The spark.ml MinHashLSH path must recall the same known near-dup pairs
    as the custom relational MinHash."""
    ml_pairs = {
        (r["doc_a"], r["doc_b"])
        for r in QUERIES["q_dedup_minhash_ml"](spark, corpus_dir).collect()
    }
    assert (0, 2) in ml_pairs  # identical docs
    assert (0, 1) in ml_pairs and (1, 2) in ml_pairs  # near-dups
    assert (0, 3) not in ml_pairs  # unrelated


def test_multimodal_frames_empty_payload_emits_no_rows(spark, tmp_path_factory):
    """A zero-byte payload must produce ZERO frame rows — unguarded
    sequence(0, -1) would infer step -1 and emit two spurious frames
    (ADVICE r1)."""
    d = str(tmp_path_factory.mktemp("empty_doc"))
    rows = [(0, "", "en", "src0", 0), (1, "some real content here", "en", "src0", 22)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    frames = QUERIES["q_multimodal_frames"](spark, d).collect()
    assert all(r["doc_id"] != 0 for r in frames)  # empty doc: no frames
    assert any(r["doc_id"] == 1 for r in frames)
    assert all(r["frame_bytes"] > 0 and r["frame_no"] >= 0 for r in frames)


def test_multimodal_bmp_roundtrip_exact():
    """encode_bmp → decode_image is pixel-exact for arbitrary RGB content,
    including widths whose 3·w is not a multiple of 4 (row padding)."""
    import numpy as np

    from finegourmet_spark.operators.multimodal import decode_image, encode_bmp

    rng = np.random.RandomState(7)
    for w, h in [(1, 1), (2, 3), (5, 4), (33, 18), (64, 2)]:
        img = rng.randint(0, 256, size=(h, w, 3), dtype=np.uint8)
        payload = encode_bmp(img)
        dw, dh, out = decode_image(payload)
        assert (dw, dh) == (w, h)
        assert np.array_equal(out, img), f"pixel mismatch at {w}x{h}"
        # container size matches the closed-form header arithmetic
        assert len(payload) == 54 + h * ((3 * w + 3) // 4 * 4)


def test_multimodal_decode_rejects_non_bmp(spark, sf_dir):
    """decode_image fails loud on non-BMP payloads while the binary-column
    plumbing stays fully functional."""
    import pytest as _pytest

    from finegourmet_spark.operators.multimodal import decode_image, with_binary_payload

    for junk in (b"\x89PNG...", b"", b"BM" + b"\x00" * 10):
        with _pytest.raises(ValueError):
            decode_image(junk)
    d = with_binary_payload(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    row = d.limit(1).collect()[0]
    assert isinstance(row["payload"], (bytes, bytearray))
    assert row["meta"]["mime"] == "text/plain"


def test_multimodal_decoder_catches_orientation_and_channel_bugs():
    """The feature set is bug-sensitive by construction: hand-corrupting the
    pixel array the way a buggy decoder would (no flip / no channel swap)
    changes the features the oracle pins."""
    import numpy as np

    from finegourmet_spark.operators.multimodal import decode_image, encode_bmp

    w, h = 5, 4
    img = np.empty((h, w, 3), dtype=np.uint8)
    img[:, :, 0] = np.arange(w, dtype=np.uint8)[None, :]
    img[:, :, 1] = np.arange(h, dtype=np.uint8)[:, None]
    img[:, :, 2] = 200
    _, _, pix = decode_image(encode_bmp(img))
    assert int(pix[h - 1, 0, 1]) == h - 1  # bottom-up flip happened
    sums = pix.astype(np.int64).sum(axis=(0, 1))
    # R (column gradient) vs G (row gradient) asymmetry ⇒ a BGR swap or a
    # missing flip could not produce these sums simultaneously
    assert int(sums[0]) == h * (w * (w - 1) // 2)
    assert int(sums[1]) == w * (h * (h - 1) // 2)
    assert int(sums[2]) == w * h * 200


def _chain(spark, n):
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long"
    )
    return edges, spark.range(n).withColumnRenamed("id", "doc_id")


def test_min_label_raises_on_diameter_beyond_round_bound(spark):
    """min_label_components must FAIL LOUD (not return wrong labels) on a
    graph it cannot settle in CC_MAX_ROUNDS rounds: a 16-node chain needs
    15 label-changing rounds plus the round that sees no change."""
    import pytest as _pytest

    from finegourmet_spark.operators.dedup import (
        CC_MAX_ROUNDS,
        min_label_components,
    )

    with _pytest.raises(RuntimeError, match="did not converge"):
        min_label_components(*_chain(spark, CC_MAX_ROUNDS + 1), "doc_id")


def test_min_label_converges_at_round_bound(spark):
    """The longest chain the loop settles is CC_MAX_ROUNDS nodes (14
    changing rounds + the quiet one), the same graphs the oracle's 15
    unrolled rounds label fully."""
    from finegourmet_spark.operators.dedup import (
        CC_MAX_ROUNDS,
        min_label_components,
    )

    labels = min_label_components(*_chain(spark, CC_MAX_ROUNDS), "doc_id")
    assert {r["cluster_id"] for r in labels.collect()} == {0}


def test_min_label_ids_near_long_max_under_ansi(spark):
    """Ids near 2^62 under ANSI: the convergence witness counts label
    drops, so no sum over ids can overflow (a Σlabels witness raised
    ARITHMETIC_OVERFLOW here)."""
    from finegourmet_spark.operators.dedup import min_label_components

    base = 1 << 62
    edges = spark.createDataFrame(
        [(base, base + 1), (base + 1, base + 2)], "doc_a long, doc_b long"
    )
    nodes = spark.createDataFrame(
        [(base + i,) for i in range(4)], "doc_id long"
    )
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        got = {
            r["doc_id"]: r["cluster_id"]
            for r in min_label_components(edges, nodes, "doc_id").collect()
        }
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)
    assert got == {base: base, base + 1: base, base + 2: base, base + 3: base + 3}


def test_min_label_leaves_only_the_returned_pin(spark):
    """One call leaves exactly one new persistent RDD, the returned
    labels': each round releases the previous round's pin and the edge pin
    is released before returning. Compared as id sets, since the
    ContextCleaner may reclaim older RDDs mid-call."""
    from finegourmet_spark.operators.dedup import min_label_components

    def persistent_ids():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    edges, nodes = _chain(spark, 6)
    before = persistent_ids()
    labels = min_label_components(edges, nodes, "doc_id")
    own = labels._jdf.queryExecution().analyzed().rdd().id()
    assert persistent_ids() - before == {own}
    assert {r["cluster_id"] for r in labels.collect()} == {0}


@pytest.mark.parametrize(
    "name",
    ["q_dedup_clusters", "q_golden_record", "q_dedup_semantic_clusters", "q_geo_dbscan"],
)
def test_cc_queries_rerun_equal(spark, sf_dir, name):
    """Every CC query returns the same rows when run twice in one
    session: released round pins are never read again."""
    from collections import Counter

    first = Counter(QUERIES[name](spark, sf_dir).collect())
    assert first
    assert Counter(QUERIES[name](spark, sf_dir).collect()) == first
