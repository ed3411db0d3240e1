"""q_dedup_embedding's hot-cell sub-split cap (VERDICT r9 item 5).

The cap bounds the per-task candidate block of the cell-bucketed pair
join WITHOUT changing the output pair set (exact dedup — pairs must not
be sampled away). Independent python model: brute-force all within-cell
pairs, sequential-fold cosine, 6-decimal round, θ-filter.
"""

from __future__ import annotations

import math

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import finegourmet_spark.operators.similarity as sim
from finegourmet_spark.operators.similarity import EMB_NEAR_THETA, q_dedup_embedding

N_HOT = 120  # one hot cell (label 7) with 120 vectors
N_COLD = 10  # a cold cell (label 3) under the test cap — must not split
DIM = 8
CAP = 16  # test-scale override: forces s = ceil(120/16) = 8 sub-buckets


def _vec(i: int) -> list[float]:
    # deterministic, spread: some near-dup pairs (2k, 2k+1 share a base)
    base = [math.sin(0.7 * (i // 2) + 0.13 * d) for d in range(DIM)]
    jitter = 0.01 if i % 2 else 0.0
    return [float(x + jitter * ((d % 3) - 1)) for d, x in enumerate(base)]


@pytest.fixture(scope="module")
def emb_dir(tmp_path_factory):
    out = tmp_path_factory.mktemp("hotcell")
    rows = []
    for i in range(N_HOT):
        rows.append((i, _vec(i), 7))
    for i in range(N_COLD):
        rows.append((1000 + i, _vec(i + 500), 3))
    tbl = pa.table(
        {
            "vec_id": pa.array([r[0] for r in rows], pa.int64()),
            "embedding": pa.array([r[1] for r in rows], pa.list_(pa.float32())),
            "label": pa.array([r[2] for r in rows], pa.int32()),
        }
    )
    pq.write_table(tbl, out / "embeddings.parquet")
    return str(out)


def _python_pairs(emb_dir):
    tbl = pq.read_table(f"{emb_dir}/embeddings.parquet")
    vecs = {
        r["vec_id"]: (r["label"], [float(x) for x in r["embedding"]])
        for r in tbl.to_pylist()
    }
    ids = sorted(vecs)
    out = {}
    for i, va in enumerate(ids):
        la, ea = vecs[va]
        # float32 storage round-trip: model what Spark reads
        for vb in ids[i + 1 :]:
            lb, eb = vecs[vb]
            if la != lb:
                continue
            dot = na = nb = 0.0
            for x, y in zip(ea, eb):
                dot += x * y
                na += x * x
                nb += y * y
            cos = round(dot / math.sqrt(na * nb + 0.0) if na and nb else 0.0, 6)
            if cos >= EMB_NEAR_THETA:
                out[(va, vb)] = cos
    return out


def test_hot_cell_cap_preserves_exact_pair_set(spark, emb_dir, monkeypatch):
    monkeypatch.setattr(sim, "EMB_CELL_CAP", CAP)
    got = {
        (r["vec_a"], r["vec_b"]): r["cos_sim"]
        for r in q_dedup_embedding(spark, emb_dir).collect()
    }
    want = _python_pairs(emb_dir)
    assert set(got) == set(want)
    for k, v in want.items():
        assert abs(got[k] - v) <= 2e-6, (k, got[k], v)
    # sanity: the fixture actually produces near-dup pairs in the hot cell
    assert any(a < 1000 for a, _ in want)


def test_under_cap_uses_plain_join(spark, emb_dir):
    """Adaptive dispatch: with the default cap no cell here is hot, so
    the plan must be the plain cell join — no Generate (explode) node,
    no sub-bucket machinery — and the pair set is the same."""
    df = q_dedup_embedding(spark, emb_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Generate" not in plan
    got = {(r["vec_a"], r["vec_b"]) for r in df.collect()}
    assert got == set(_python_pairs(emb_dir))


def test_bounded_cell_self_join_exact_pair_multiset(spark):
    """The shared helper (operators/cellpairs.py) must yield every
    unordered within-cell pair exactly once on BOTH paths — checked by
    comparing the full pair multiset against itertools at a cap that
    splits one cell several ways."""
    from itertools import combinations

    from finegourmet_spark.operators.cellpairs import bounded_cell_self_join

    rows = [(u, p) for u in range(4) for p in range(100 + u * 37)]
    df = spark.createDataFrame(rows, "u INT, pk INT")
    want = sorted(
        (u, a, b)
        for u in range(4)
        for a, b in combinations(range(100 + u * 37), 2)
    )
    for cap in (16, 1000):  # sub-split path, then plain path
        got = sorted(
            (r["a_u"], min(r["a_pk"], r["b_pk"]), max(r["a_pk"], r["b_pk"]))
            for r in bounded_cell_self_join(df, "u", "pk", cap).collect()
        )
        assert got == want, f"cap={cap}: {len(got)} vs {len(want)} pairs"


def test_bounded_bipartite_cell_join_exact_pair_set(spark):
    """The bipartite helper must yield every cross-side pair sharing the
    (multi-column) cell key exactly once on BOTH paths — compared against
    the itertools product, with asymmetric skew (one cell hot on the A
    side only, one on the B side only, one on both, one cold)."""
    from finegourmet_spark.operators.cellpairs import (
        bounded_bipartite_cell_join,
    )

    a_rows, b_rows = [], []
    # (cx, cy) -> (n_a, n_b): hot-A, hot-B, hot-both, cold, A-only cell
    shape = {(0, 0): (40, 3), (1, 0): (3, 40), (1, 1): (25, 25),
             (2, 2): (4, 4), (3, 3): (5, 0)}
    for (cx, cy), (na, nb) in shape.items():
        a_rows += [(100 * cx + i, cx, cy) for i in range(na)]
        b_rows += [(1000 + 100 * cy + i, cx, cy) for i in range(nb)]
    a = spark.createDataFrame(a_rows, "aid INT, cx INT, cy INT")
    b = spark.createDataFrame(b_rows, "bid INT, cx INT, cy INT")
    want = sorted(
        (100 * cx + i, 1000 + 100 * cy + j)
        for (cx, cy), (na, nb) in shape.items()
        for i in range(na)
        for j in range(nb)
    )
    for cap in (8, 1000):  # blocked path, then plain path
        got = sorted(
            (r["a_aid"], r["b_bid"])
            for r in bounded_bipartite_cell_join(
                a, b, ("cx", "cy"), "aid", "bid", cap
            ).collect()
        )
        assert got == want, f"cap={cap}: {len(got)} vs {len(want)} pairs"


def test_dbscan_hot_cell_invariant(spark, sf_dir, monkeypatch):
    """q_geo_dbscan through the stencil guard: forcing every grid cell to
    grid-block (cap=4) must reproduce the default-cap roles and clusters
    exactly — the neighbor pair set is a pure function of the geometry,
    not of the blocking."""
    import finegourmet_spark.operators.spatial as sp

    key = lambda r: r["c_custkey"]  # noqa: E731
    base = {key(r): (r["role"], r["cluster"])
            for r in sp.q_geo_dbscan(spark, sf_dir).collect()}
    monkeypatch.setattr(sp, "DBSCAN_CELL_CAP", 4)
    forced = {key(r): (r["role"], r["cluster"])
              for r in sp.q_geo_dbscan(spark, sf_dir).collect()}
    assert base == forced
    # sf0.001 is subcritical for (eps, minpts) — everything is noise there
    # (mean eps-degree ~1.8 only at sf0.01), so non-triviality is the
    # point count, not the presence of cores; the helper's pair-set
    # exactness under skew is pinned by the property test above.
    assert len(base) > 100


def test_item_item_cf_hot_basket_invariant(spark, sf_dir, monkeypatch):
    """q_item_item_cf through the basket cap: forcing every basket to
    sub-split (cap=2) must reproduce the default-cap result exactly —
    co-counts are a pure function of the data, not of the blocking."""
    import finegourmet_spark.operators.graph as g

    key = lambda r: (r["part_a"], r["part_b"])  # noqa: E731
    base = {key(r): (r["co_users"], r["cos2_ppm"], r["rank"])
            for r in g.q_item_item_cf(spark, sf_dir).collect()}
    monkeypatch.setattr(g, "CF_USER_CAP", 2)
    forced = {key(r): (r["co_users"], r["cos2_ppm"], r["rank"])
              for r in g.q_item_item_cf(spark, sf_dir).collect()}
    assert base == forced
    assert base  # non-trivial result at sf0.001


def test_item_item_cf_force_prune_invariant(spark, sf_dir):
    """q_item_item_cf with the min-support pre-prune FORCED must equal the
    probe-gated default exactly (VERDICT r11 item 3): the prune drops only
    (u, pk) rows of parts whose degree is < CF_MIN_CO, which by
    co ≤ min(deg) cannot appear in any surviving pair. On the uniform
    TPC-H fixture the tail is empty (probe skips the prune), so forcing
    exercises the anti-join path against the no-join plan."""
    import finegourmet_spark.operators.graph as g

    key = lambda r: (r["part_a"], r["part_b"])  # noqa: E731
    base = {key(r): (r["co_users"], r["cos2_ppm"], r["rank"])
            for r in g.q_item_item_cf(spark, sf_dir).collect()}
    forced = {key(r): (r["co_users"], r["cos2_ppm"], r["rank"])
              for r in g.item_item_cf(spark, sf_dir, force_prune=True).collect()}
    assert base == forced
    assert base


def test_item_item_cf_packed_key_fallback_invariant(spark, sf_dir):
    """The packed single-bigint pair key and the two-column fallback must
    agree exactly — ``pack_keys=False`` forces the fallback
    branch that max(pk) ≥ 2³¹ would select, so the >sf10⁴ key-range path
    is exercised on small fixtures."""
    import finegourmet_spark.operators.graph as g

    key = lambda r: (r["part_a"], r["part_b"])  # noqa: E731
    base = {key(r): (r["co_users"], r["cos2_ppm"], r["rank"])
            for r in g.q_item_item_cf(spark, sf_dir).collect()}
    unpacked = {key(r): (r["co_users"], r["cos2_ppm"], r["rank"])
                for r in g.item_item_cf(spark, sf_dir, pack_keys=False).collect()}
    assert base == unpacked
    assert base


def test_item_item_cf_grace_passes_invariant(spark, sf_dir, monkeypatch):
    """SPARK_GRAFT_CF_PASSES=K slices the pair-agg exchange into K
    hash-disjoint pair families (the scratch governor): every occurrence
    of a pair key lands in exactly one slice, so the sliced union must
    equal the single-exchange result exactly."""
    import finegourmet_spark.operators.graph as g

    key = lambda r: (r["part_a"], r["part_b"])  # noqa: E731
    base = {key(r): (r["co_users"], r["cos2_ppm"], r["rank"])
            for r in g.q_item_item_cf(spark, sf_dir).collect()}
    monkeypatch.setenv("SPARK_GRAFT_CF_PASSES", "3")
    sliced = {key(r): (r["co_users"], r["cos2_ppm"], r["rank"])
              for r in g.q_item_item_cf(spark, sf_dir).collect()}
    assert base == sliced
    assert base


def test_hot_cell_cap_bounds_sub_cells(spark, emb_dir, monkeypatch):
    """The hot cell must actually split: >1 sub-bucket, and no sub-bucket
    anywhere near the unsplit cell size (xxhash spread, not a hard bound —
    3× the cap target covers hash variance at this scale)."""
    from pyspark.sql import functions as F

    monkeypatch.setattr(sim, "EMB_CELL_CAP", CAP)
    e = spark.read.parquet(f"{emb_dir}/embeddings.parquet")
    cells = e.groupBy("label").agg(F.count(F.lit(1)).alias("c_sz"))
    es = e.join(
        cells.select(
            "label",
            F.greatest(F.lit(1), F.ceil(F.col("c_sz") / F.lit(CAP)))
            .cast("int")
            .alias("n_sub"),
        ),
        "label",
    ).withColumn(
        "sub", F.pmod(F.xxhash64(F.col("vec_id")), F.col("n_sub")).cast("int")
    )
    stats = {
        r["label"]: r["n"]
        for r in es.groupBy("label")
        .agg(F.countDistinct("sub").alias("n"))
        .collect()
    }
    # hot cell: s = ceil(120/16) = 8 sub-buckets populated (hash may leave
    # a couple empty at this scale — require a real split, not all 8)
    assert stats[7] >= 4
    # cold cell: untouched
    assert stats[3] == 1
    sub_sizes = [
        r["c"]
        for r in es.filter(F.col("label") == 7)
        .groupBy("sub")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    ]
    assert max(sub_sizes) <= 3 * CAP
    assert sum(sub_sizes) == N_HOT
