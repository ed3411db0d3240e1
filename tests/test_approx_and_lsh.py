"""Semantic bounds for the rows-only queries the DuckDB oracle can't check:
approximate aggregates vs exact values, and cosine-LSH bucket sanity."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as contract

QUERIES = contract.queries()


def test_approx_count_distinct_within_rsd(spark, sf_dir):
    approx = {
        r["l_returnflag"]: r["approx_orders"]
        for r in QUERIES["q_agg_approx"](spark, sf_dir).collect()
    }
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    exact = {
        r["l_returnflag"]: r["n"]
        for r in li.groupBy("l_returnflag")
        .agg(F.countDistinct("l_orderkey").alias("n"))
        .collect()
    }
    for flag, n in exact.items():
        # HLL++ default rsd = 5%; allow 4 sigma
        assert abs(approx[flag] - n) <= max(0.2 * n, 10), (flag, approx[flag], n)


def test_pq_rerank_recall(spark, sf_dir):
    """PQ (8-byte codes) + exact shortlist re-rank: recall@5 ≥ 0.6 and
    top-1 agreement ≥ 60% vs the exact brute-force baseline (measured 0.8 /
    90% on this data; bounds are conservative). Deterministic: fixed
    k-means seed, fixed data."""
    pq = QUERIES["q_similarity_pq"](spark, sf_dir).collect()
    ex = QUERIES["q_similarity_topk"](spark, sf_dir).collect()
    exact_pairs = {(r["query_id"], r["neighbor_id"]) for r in ex}
    pq_pairs = {(r["query_id"], r["neighbor_id"]) for r in pq}
    assert len(pq_pairs & exact_pairs) / len(exact_pairs) >= 0.6
    exact1 = {r["query_id"]: r["neighbor_id"] for r in ex if r["rank"] == 1}
    pq1 = {r["query_id"]: r["neighbor_id"] for r in pq if r["rank"] == 1}
    agree = sum(1 for q in exact1 if pq1.get(q) == exact1[q])
    assert agree / len(exact1) >= 0.6


@pytest.mark.parametrize(
    "name",
    [
        "q_similarity_topk",
        "q_similarity_ivf",
        "q_similarity_topk_np",
        "q_similarity_ivf_kmeans",
        "q_similarity_pq",
    ],
)
def test_topk_variant_scores_equal_brute_force(spark, sf_dir, name):
    """Whatever a variant's candidate generator prunes, every row it returns
    carries exactly the brute-force score of its pair: the per-pair
    dot/(norm·norm) over all probe × corpus pairs, rounded to 6 decimals.
    pq and ivf_kmeans are otherwise checked only for recall and cells."""
    from finegourmet_spark.operators.similarity import N_QUERIES, dot, norm
    from finegourmet_spark.sources.testdata import load_table

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("a")
    )
    n = e.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("b"))
    a, b = F.col("a"), F.col("b")
    brute = q.crossJoin(n).select(
        "query_id", "neighbor_id", F.round(dot(a, b) / (norm(a) * norm(b)), 6).alias("exact")
    )
    exact = {(r["query_id"], r["neighbor_id"]): r["exact"] for r in brute.collect()}
    got = QUERIES[name](spark, sf_dir).collect()
    assert got
    mismatches = [r for r in got if r["cos_sim"] != exact[(r["query_id"], r["neighbor_id"])]]
    assert mismatches == []


def test_hll_rollup_estimates_match_exact(spark, sf_dir):
    """Hourly sketch-union estimates track exact per-hour distinct users
    (HLL default lgConfigK=12 ⇒ ~1.6% rsd; allow 5%)."""
    est = {
        (str(r["hour_start"]), r["event_type"]): r["n_users_est"]
        for r in QUERIES["q_hll_rollup"](spark, sf_dir).collect()
    }
    from pyspark.sql.functions import date_trunc

    from finegourmet_spark.sources.testdata import load_table

    e = load_table(spark, sf_dir, "events")
    exact = {
        (str(r["h"]), r["event_type"]): r["n"]
        for r in e.select(
            date_trunc("hour", "ts").alias("h"),
            "event_type",
            "user_id",
        )
        .groupBy("h", "event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert est.keys() == exact.keys()
    for k, n in exact.items():
        assert abs(est[k] - n) <= max(0.05 * n, 3), (k, est[k], n)


def test_percentile_approx_brackets_exact(spark, sf_dir):
    rows = {
        r["l_returnflag"]: (r["price_p50"], r["price_p95"])
        for r in QUERIES["q_agg_approx"](spark, sf_dir).collect()
    }
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    mins = {
        r["l_returnflag"]: (r["lo"], r["hi"])
        for r in li.groupBy("l_returnflag")
        .agg(F.min("l_extendedprice").alias("lo"), F.max("l_extendedprice").alias("hi"))
        .collect()
    }
    for flag, (p50, p95) in rows.items():
        lo, hi = mins[flag]
        assert lo <= p50 <= p95 <= hi


def test_cosine_lsh_candidate_recall(spark, sf_dir):
    """LSH candidate pairs must prune the pair space AND beat random recall
    of exact top-1 neighbors.

    Collision math: P[collide in ≥1 of 4 tables] = 1-(1-(1-θ/π)⁴)⁴. The
    synthetic embeddings are unclustered — top-1 cosines sit near 0.35
    (θ≈70°, per-plane agreement only 0.61), giving expected recall ≈0.45
    while random pairs collide at ≈0.23. This is sign-LSH's worst case;
    clustered real embeddings (cos ≥0.8 near-dups, the dedup use case) sit
    on the ≈0.97-recall end of the same curve. We assert the measured recall
    stays clearly above the random-collision floor."""
    n = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    pairs = {
        (r["vec_a"], r["vec_b"])
        for r in QUERIES["q_similarity_lsh"](spark, sf_dir).collect()
    }
    all_pairs = n * (n - 1) / 2
    collision_rate = len(pairs) / all_pairs
    assert 0 < collision_rate < 0.35  # real pruning
    top1 = {
        tuple(sorted((r["query_id"], r["neighbor_id"])))
        for r in QUERIES["q_similarity_topk"](spark, sf_dir).collect()
        if r["rank"] == 1
    }
    recalled = sum(1 for p in top1 if p in pairs)
    recall = recalled / len(top1)
    assert recall >= collision_rate + 0.05, (
        f"recall {recall:.2f} not above collision floor {collision_rate:.2f}"
    )


def test_salted_agg_matches_plain(spark, sf_dir):
    """The salted two-phase decomposition is exact (also oracle-checked; here
    against Spark's own single-phase plan for engine-internal consistency)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    from finegourmet_spark.functions.money import dec

    plain = {
        r["l_returnflag"]: (r["n"], r["revenue"])
        for r in li.groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n"),
            F.sum(dec("l_extendedprice")).cast("double").alias("revenue"),
        )
        .collect()
    }
    salted = {
        r["l_returnflag"]: (r["n"], r["revenue"])
        for r in QUERIES["q_agg_salted"](spark, sf_dir).collect()
    }
    assert plain == salted


def test_footer_row_count_matches_scan(spark, sf_dir):
    """The LSH width probe now sizes from parquet footer stats
    (table_row_count) with count() as fallback — the two paths must agree
    exactly on every fixture table, so the probe's bucket width is
    identical whichever path runs (VERDICT r10 item 5)."""
    from finegourmet_spark.sources.testdata import TABLES, load_table, table_row_count

    for name in TABLES:
        footer = table_row_count(sf_dir, name)
        assert footer is not None, name
        assert footer == load_table(spark, sf_dir, name).count(), name
    # missing table ⇒ None (fall back), never 0
    assert table_row_count(sf_dir, "no_such_table") is None


def test_footer_row_count_skips_staging_paths(spark, sf_dir, tmp_path):
    """table_row_count must ignore hidden/staging files the way Spark's
    reader does (ADVICE r11): an aborted write's _temporary/ part files
    and dot-prefixed files must not inflate the footer count past
    df.count()."""
    import os
    import shutil

    from finegourmet_spark.sources.testdata import table_row_count

    src = f"{sf_dir}/region.parquet"
    dst = tmp_path / "region.parquet"
    if os.path.isdir(src):
        shutil.copytree(src, dst)
        datafile = next(p for p in dst.rglob("*.parquet"))
    else:
        dst.mkdir()
        shutil.copy(src, dst / "part-00000.parquet")
        datafile = dst / "part-00000.parquet"
    clean = table_row_count(str(tmp_path), "region")
    staging = dst / "_temporary" / "0" / "task_1"
    staging.mkdir(parents=True)
    shutil.copy(datafile, staging / "part-duplicate.parquet")
    shutil.copy(datafile, dst / ".part-hidden.parquet")
    assert table_row_count(str(tmp_path), "region") == clean
    assert clean == spark.read.parquet(str(dst)).count()
