"""Independent-model checks for the round-3 second-wave ops (ordered
funnel, cohort retention, last-touch attribution, co-purchase graph):
each Spark result is recomputed in plain Python over the collected
sf0.001 tables and must match EXACTLY — a second net under the DuckDB
oracles, catching any case where query and oracle share a wrong
assumption.
"""

from __future__ import annotations

from collections import Counter, defaultdict
from decimal import Decimal

import __spark_entry__  # noqa: F401  — populates the full registry
from finegourmet_spark.operators.eventflow import FUNNEL_STEPS, N_CHANNELS
from finegourmet_spark.operators.graph import (
    PR_BASE,
    PR_INIT,
    PR_ROUNDS,
    PR_TOPN,
)
from finegourmet_spark.operators.registry import QUERIES
from finegourmet_spark.sources.testdata import load_table


def _events(spark, sf_dir):
    return load_table(spark, sf_dir, "events").collect()


def test_funnel_matches_python_model(spark, sf_dir):
    """Strict ordered funnel recomputed row-by-row: a user is at stage k
    when a step-k event follows (in the total (ts, event_id) order) an
    event completing stage k-1."""
    by_user = defaultdict(list)
    for r in _events(spark, sf_dir):
        if r["event_type"] in FUNNEL_STEPS:
            by_user[r["user_id"]].append((r["ts"], r["event_id"], r["event_type"]))
    reached = Counter()
    for evs in by_user.values():
        evs.sort()
        stage = 0
        for _, _, et in evs:
            if stage < len(FUNNEL_STEPS) and et == FUNNEL_STEPS[stage]:
                stage += 1
                if stage == len(FUNNEL_STEPS):
                    break
        for k in range(1, stage + 1):
            reached[k] += 1
    got = {r["stage"]: (r["step"], r["n_users"]) for r in QUERIES["q_funnel"](spark, sf_dir).collect()}
    assert got == {
        k + 1: (FUNNEL_STEPS[k], reached[k + 1]) for k in range(len(FUNNEL_STEPS))
    }
    # funnel counts are monotone non-increasing by construction
    ns = [got[k][1] for k in sorted(got)]
    assert ns == sorted(ns, reverse=True)


def test_retention_matches_python_model(spark, sf_dir):
    """Cohort triangle recomputed from distinct (user, day) pairs."""
    user_days = defaultdict(set)
    for r in _events(spark, sf_dir):
        user_days[r["user_id"]].add(r["ts"].date())
    expected = Counter()
    for days in user_days.values():
        cohort = min(days)
        for d in days:
            expected[(cohort, (d - cohort).days)] += 1
    rows = QUERIES["q_retention_cohorts"](spark, sf_dir).collect()
    got = {(r["cohort_day"], r["day_offset"]): r["n_users"] for r in rows}
    assert got == dict(expected)
    # day-offset 0 row exists for every cohort and counts its full size
    cohort_sizes = Counter(min(days) for days in user_days.values())
    for cohort, size in cohort_sizes.items():
        assert got[(cohort, 0)] == size


def test_attribution_matches_python_model(spark, sf_dir):
    """Last-touch credit recomputed per purchase; channel revenue must
    conserve total purchase revenue under the same decimal(18,2) rule."""
    import json

    by_user = defaultdict(list)
    for r in _events(spark, sf_dir):
        if r["event_type"] not in ("purchase", "click"):
            continue
        ch = json.loads(r["props"])["k"] % N_CHANNELS if r["event_type"] == "click" else None
        # purchases sort AFTER equal-ts clicks: is_probe 1 vs 0 in the order
        is_probe = 1 if r["event_type"] == "purchase" else 0
        by_user[r["user_id"]].append((r["ts"], is_probe, r["event_id"], ch, r["value"]))
    n = Counter()
    rev: dict[str, Decimal] = defaultdict(Decimal)
    for evs in by_user.values():
        evs.sort(key=lambda t: t[:3])
        last_ch = None
        for _, is_probe, _, ch, value in evs:
            if is_probe == 0:
                last_ch = ch
            else:
                channel = "direct" if last_ch is None else f"ch{last_ch}"
                n[channel] += 1
                rev[channel] += Decimal(str(round(value, 2)))
    got = {
        r["channel"]: (r["n_purchases"], r["revenue"])
        for r in QUERIES["q_attribution"](spark, sf_dir).collect()
    }
    assert set(got) == set(n)
    for channel in n:
        assert got[channel][0] == n[channel], channel
        assert abs(got[channel][1] - float(rev[channel])) < 1e-6, channel
    # conservation: channel revenues sum to total purchase revenue
    total = sum(rev.values())
    assert abs(sum(v for _, v in got.values()) - float(total)) < 1e-6


def _copurchase_edges(spark, sf_dir):
    order_parts = defaultdict(set)
    for r in load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").collect():
        order_parts[r["l_orderkey"]].add(r["l_partkey"])
    edges = set()
    for parts in order_parts.values():
        for a in parts:
            for b in parts:
                if a != b:
                    edges.add((a, b))
    return edges


def test_degree_dist_matches_python_model(spark, sf_dir):
    edges = _copurchase_edges(spark, sf_dir)
    deg = Counter(src for src, _ in edges)
    expected = Counter(deg.values())
    got = {
        r["degree"]: r["n_nodes"]
        for r in QUERIES["q_graph_degree_dist"](spark, sf_dir).collect()
    }
    assert got == dict(expected)
    # handshake identity: Σ degree·n_nodes = directed edge count
    assert sum(d * n for d, n in got.items()) == len(edges)


def test_pagerank_matches_python_model(spark, sf_dir):
    """Integer damped-mass propagation is exactly reproducible — floor
    division only, so the Python model must agree bit-for-bit."""
    edges = _copurchase_edges(spark, sf_dir)
    deg = Counter(src for src, _ in edges)
    mass = {pk: PR_INIT for pk in deg}
    for _ in range(PR_ROUNDS):
        incoming = defaultdict(int)
        for src, dst in edges:
            incoming[dst] += mass[src] // deg[src]
        mass = {pk: PR_BASE + (17 * s) // 20 for pk, s in incoming.items()}
    expected = sorted(mass.items(), key=lambda kv: (-kv[1], kv[0]))[:PR_TOPN]
    got = QUERIES["q_graph_pagerank"](spark, sf_dir).collect()
    assert [(r["part_id"], r["mass"]) for r in sorted(got, key=lambda r: r["rank"])] == expected
    assert [r["rank"] for r in sorted(got, key=lambda r: r["rank"])] == list(
        range(1, len(expected) + 1)
    )


def test_triangles_matches_python_model(spark, sf_dir):
    """Triangle census recomputed naively: every unordered node triple
    check is fine at sf0.001 scale via neighbor-set intersection."""
    edges = _copurchase_edges(spark, sf_dir)
    neigh = defaultdict(set)
    for a, b in edges:
        neigh[a].add(b)
    undirected = {(a, b) for a, b in edges if a < b}
    n_tri = 0
    for a, b in undirected:
        n_tri += len([c for c in neigh[a] & neigh[b] if c > b])
    # wedge count under degree orientation: sum C(out-deg, 2)
    deg = Counter(src for src, _ in edges)
    out = Counter()
    for a, b in edges:
        if (deg[a], a) < (deg[b], b):
            out[a] += 1
    n_wedges = sum(d * (d - 1) // 2 for d in out.values())
    row = QUERIES["q_graph_triangles"](spark, sf_dir).collect()[0]
    assert row["n_nodes"] == len(deg)
    assert row["n_edges"] == len(undirected)
    assert row["n_wedges"] == n_wedges
    assert row["n_triangles"] == n_tri
    assert row["closure_ppm"] == (3000000 * n_tri) // n_wedges


def _forced_passes(monkeypatch, budget_gb: str) -> list[int]:
    """Set the grace scratch budget and record every pass count the graph
    ops choose under it."""
    from finegourmet_spark.operators import graph

    chosen: list[int] = []
    real = graph._closure_passes

    def spy(*args):
        chosen.append(real(*args))
        return chosen[-1]

    monkeypatch.setattr(graph, "_closure_passes", spy)
    monkeypatch.setenv(graph._CLOSURE_SCRATCH_ENV, budget_gb)
    return chosen


def test_jaccard_grace_partitioned_slices_equal(spark, sf_dir, monkeypatch):
    """Forcing the scratch-bounded pair-evidence exchange (small budget →
    a few xxhash64(u, v) slices) reproduces both Jaccard forms exactly:
    each pair lives in one slice, so the union of per-slice top-k IS the
    global top-k."""
    exact = QUERIES["q_graph_jaccard_neighbors"](spark, sf_dir).collect()
    capped = QUERIES["q_graph_jaccard_capped"](spark, sf_dir).collect()
    # sf0.001: 801,656 exact and 225,600 capped pair rows x 25 B; a 5 MB
    # budget gives 4 and 2 passes (each pass waits ~2 s for the cleaner)
    passes = _forced_passes(monkeypatch, "0.005")
    exact_f = QUERIES["q_graph_jaccard_neighbors"](spark, sf_dir).collect()
    capped_f = QUERIES["q_graph_jaccard_capped"](spark, sf_dir).collect()
    assert len(passes) == 2 and all(2 <= k <= 4 for k in passes), passes
    assert [r.asDict() for r in exact_f] == [r.asDict() for r in exact]
    assert [r.asDict() for r in capped_f] == [r.asDict() for r in capped]


def test_triangles_grace_partitioned_closure_equal(spark, sf_dir, monkeypatch):
    """Forcing the scratch-bounded closure (a small budget → a few
    xxhash64(b, c) slices) reproduces the single-pass census exactly —
    the slices partition the wedge set, so the per-pass counts must sum
    to the one-pass total (the q_geo_nearest_grid forced-multilevel
    pinning pattern)."""
    one_pass = QUERIES["q_graph_triangles"](spark, sf_dir).collect()[0]
    # sf0.001: 234,314 wedges x 19 B; a 2 MB budget gives 3 passes
    passes = _forced_passes(monkeypatch, "0.002")
    forced = QUERIES["q_graph_triangles"](spark, sf_dir).collect()[0]
    assert len(passes) == 1 and 2 <= passes[0] <= 4, passes
    assert forced.asDict() == one_pass.asDict()


def test_interpolate_matches_python_model(spark, sf_dir):
    """Linear interpolation recomputed with exact integer arithmetic."""
    import math

    hourly = defaultdict(lambda: defaultdict(int))
    for r in _events(spark, sf_dir):
        if r["event_type"] == "purchase" and r["user_id"] % 2 == 0:
            h = r["ts"].replace(minute=0, second=0, microsecond=0)
            hourly[r["user_id"]][h] += math.floor(r["value"] * 100)
    expected = {}
    for uid, series in hourly.items():
        hs = sorted(series)
        h0, h1 = hs[0], hs[-1]
        t = h0
        while t <= h1:
            if t in series:
                expected[(uid, t)] = (series[t], False)
            else:
                ph = max(h for h in hs if h < t)
                nh = min(h for h in hs if h > t)
                num_p = int((nh - t).total_seconds()) // 3600
                num_n = int((t - ph).total_seconds()) // 3600
                den = int((nh - ph).total_seconds()) // 3600
                val = (series[ph] * num_p + series[nh] * num_n) // den
                expected[(uid, t)] = (val, True)
            t = t + __import__("datetime").timedelta(hours=1)
    got = {
        (r["user_id"], r["hour"]): (r["cents"], r["interpolated"])
        for r in QUERIES["q_timeseries_interpolate"](spark, sf_dir).collect()
    }
    assert got == expected


def test_quality_audit_matches_python_model(spark, sf_dir):
    """Every check's violation count recomputed from collected tables."""
    orders = load_table(spark, sf_dir, "orders").collect()
    lineitem = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity").collect()
    events = load_table(spark, sf_dir, "events").select("value").collect()
    ok_counts = Counter(r["o_orderkey"] for r in orders)
    ok_set = set(ok_counts)
    expected = {
        "orders_pk_unique": sum(n - 1 for n in ok_counts.values() if n > 1),
        "orders_custkey_complete": sum(1 for r in orders if r["o_custkey"] is None),
        "lineitem_fk_orders": sum(1 for r in lineitem if r["l_orderkey"] not in ok_set),
        "orders_status_domain": sum(
            1 for r in orders if r["o_orderstatus"] not in ("O", "F", "P")
        ),
        "lineitem_qty_range": sum(
            1 for r in lineitem if not (1 <= r["l_quantity"] <= 50)
        ),
        "events_value_nonnegative": sum(1 for r in events if r["value"] < 0),
    }
    got = {
        r["check_name"]: (r["n_violations"], r["passed"])
        for r in QUERIES["q_data_quality_audit"](spark, sf_dir).collect()
    }
    assert got == {k: (v, v == 0) for k, v in expected.items()}


def test_outlier_zscore_matches_python_model(spark, sf_dir):
    """Division-free 3-sigma predicate recomputed in arbitrary-precision
    Python ints — must match the Spark row set exactly, and every flagged
    row must satisfy the float z-score definition with margin."""
    import math

    by_type = defaultdict(list)
    for r in _events(spark, sf_dir):
        by_type[r["event_type"]].append((r["event_id"], math.floor(r["value"] * 100)))
    expected = set()
    for et, rows in by_type.items():
        n = len(rows)
        s1 = sum(c for _, c in rows)
        s2 = sum(c * c for _, c in rows)
        for eid, cents in rows:
            if (n * cents - s1) ** 2 > 9 * (n * s2 - s1 * s1):
                expected.add((eid, et, cents))
    got = {
        (r["event_id"], r["event_type"], r["cents"])
        for r in QUERIES["q_outlier_zscore"](spark, sf_dir).collect()
    }
    assert got == expected
    assert expected, "fixture should contain at least one 3-sigma outlier"


def test_rolling_active_users_matches_python_model(spark, sf_dir):
    """Exact trailing-7-day distinct-user counts per observed day."""
    from datetime import timedelta

    user_days = defaultdict(set)
    for r in _events(spark, sf_dir):
        user_days[r["user_id"]].add(r["ts"].date())
    observed = sorted({d for days in user_days.values() for d in days})
    expected = {}
    for rd in observed:
        lo = rd - timedelta(days=6)
        expected[rd] = sum(
            1 for days in user_days.values() if any(lo <= d <= rd for d in days)
        )
    got = {
        r["report_day"]: r["active_users_7d"]
        for r in QUERIES["q_rolling_active_users"](spark, sf_dir).collect()
    }
    assert got == expected
    # sanity: WAU >= DAU on every day
    dau = Counter()
    for days in user_days.values():
        for d in days:
            dau[d] += 1
    for rd in observed:
        assert got[rd] >= dau[rd]


def test_jaccard_capped_equals_exact_with_huge_cap(spark, sf_dir):
    """With the cap above every degree no center is sampled, all HT
    weights are exactly 1e6 ppm, and the capped pipeline must reproduce
    the exact top-20 — same pairs, same ranks, evidence scaled by 1e6,
    identical jaccard_ppm (the ppm numerator and denominator both carry
    the 1e6 factor, which cancels under floor division... but floor(a/b)
    == floor(ka/kb) exactly, so the scores match bit-for-bit)."""
    from finegourmet_spark.operators.graph import _jaccard_topk

    exact = _jaccard_topk(spark, sf_dir, None).collect()
    capped = _jaccard_topk(spark, sf_dir, 10**6).collect()
    assert [(r.rank, r.part_a, r.part_b) for r in exact] == [
        (r.rank, r.part_a, r.part_b) for r in capped
    ]
    for e, c in zip(exact, capped):
        assert c.common_ppm == 1_000_000 * e.common
        assert c.jaccard_ppm == e.jaccard_ppm
    assert exact, "fixture should produce a non-empty top-20"


def test_jaccard_capped_estimator_error_bound(spark, sf_dir):
    """HT estimator property in its VALID regime (evidence ≫ weight): for
    the 20 non-adjacent... actually all co-neighbor pairs with the LARGEST
    true common count (74–85 at sf0.001, vs inverse-inclusion weights
    ≈3.5), the ppm-weighted estimate stays within bounded relative error.
    Deterministic — the sampling permutation is a fixed md5, so measured
    errors (median 0.131, max 0.251) never drift; bounds carry ~2×
    headroom. This is the documented-approximate contract of
    q_graph_jaccard_capped: reliable where evidence is strong, noise
    where common is near MIN_COMMON (see its docstring's regime note)."""
    import pyspark.sql.functions as F

    from finegourmet_spark.operators.graph import (
        JACC_HUB_CAP,
        _degrees,
        _edges,
        _hub_capped,
    )

    edges = _edges(spark, sf_dir)
    deg = _degrees(edges)

    def evidence(adj, agg, name):
        x = adj.select(
            F.col("src").alias("c_"), F.col("dst").alias("u"),
            *(["w_ppm"] if name == "est_ppm" else []),
        )
        y = adj.select(F.col("src").alias("c2"), F.col("dst").alias("v"))
        return (
            x.join(y, (F.col("c_") == F.col("c2")) & (F.col("u") < F.col("v")))
            .groupBy("u", "v")
            .agg(agg.alias(name))
        )

    top_true = (
        evidence(edges, F.count(F.lit(1)), "true_c")
        .orderBy(F.desc("true_c"), "u", "v")
        .limit(20)
    )
    est = evidence(
        _hub_capped(edges, deg, JACC_HUB_CAP), F.sum("w_ppm"), "est_ppm"
    )
    rows = (
        top_true.join(est, ["u", "v"], "left")
        .select("true_c", F.coalesce("est_ppm", F.lit(0)).alias("est_ppm"))
        .collect()
    )
    assert len(rows) == 20
    rel = sorted(abs(r.est_ppm / 1e6 - r.true_c) / r.true_c for r in rows)
    assert rel[len(rel) // 2] <= 0.30, f"median rel err {rel[len(rel)//2]}"
    assert rel[-1] <= 0.50, f"max rel err {rel[-1]}"


def test_jaccard_evidence_partition_sizing():
    """The pair-evidence exchange is sized from the EXACT node-scale wedge
    count Σ C(d,2) — never below the session default, ~2M rows per task,
    capped at 4096 (the r6 48 GB-heap class: 1.25e9 wedges into 32
    partitions OOMed; 628 partitions of ≈80 MB agg maps fit 8 GB)."""
    from finegourmet_spark.operators.graph import _evidence_partitions

    assert _evidence_partitions(0, 32) == 32
    assert _evidence_partitions(10_000_000, 32) == 32  # sf0.01-scale: default
    assert _evidence_partitions(1_254_000_000, 32) == 628  # measured sf1
    assert _evidence_partitions(10**12, 32) == 4096  # clamp
    assert _evidence_partitions(1_254_000_000, 1024) == 1024  # never below base


def test_lpa_users_matches_python_model(spark, sf_dir):
    """User-user temporal-adjacency LPA against a pure-Python model:
    identical edge construction (lag within (event_type, day), ordered by
    (ts, event_id), self-pairs dropped, symmetrized+deduped) and the same
    synchronous min-tie-break rounds."""
    from finegourmet_spark.operators.graph import LPA_ROUNDS

    ev = sorted(
        load_table(spark, sf_dir, "events")
        .select("event_id", "ts", "user_id", "event_type")
        .collect(),
        key=lambda r: (r.event_type, r.ts.date(), r.ts, r.event_id),
    )
    edges = set()
    prev_key, prev_user = None, None
    for r in ev:
        k = (r.event_type, r.ts.date())
        if k == prev_key and prev_user is not None and prev_user != r.user_id:
            edges.add((r.user_id, prev_user))
            edges.add((prev_user, r.user_id))
        prev_key, prev_user = k, r.user_id
    nbrs = defaultdict(list)
    for s, d in edges:
        nbrs[s].append(d)
    labels = {n: n for n in nbrs}
    for _ in range(LPA_ROUNDS):
        nxt = {}
        for n in nbrs:
            cnt = Counter(labels[d] for d in nbrs[n])
            best = max(cnt.items(), key=lambda kv: (kv[1], -kv[0]))
            nxt[n] = best[0]
        labels = nxt
    sizes = Counter(labels.values())
    expected = {n: (lab, sizes[lab]) for n, lab in labels.items()}
    got = {
        r["node"]: (r["community"], r["community_size"])
        for r in QUERIES["q_graph_lpa_users"](spark, sf_dir).collect()
    }
    assert got == expected
    assert expected, "fixture should produce a non-trivial user graph"
    assert max(sizes.values()) > 1, "at least one multi-user community"


def test_closure_passes_warns_when_capped(monkeypatch):
    """When honoring the scratch budget would need >64 grace passes the
    helper caps at 64 but must WARN with the effective per-pass bytes
    (ADVICE r8: the host-too-small case has to be visible before the disk
    fills, not after)."""
    import warnings

    from finegourmet_spark.operators.graph import (
        _CLOSURE_SCRATCH_ENV,
        _closure_passes,
    )

    monkeypatch.setenv(_CLOSURE_SCRATCH_ENV, "1")  # 1 GB budget
    # 19 B/row x 4e9 rows = ~71 GB -> 71 passes needed, capped at 64
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        assert _closure_passes(4_000_000_000) == 64
    msgs = [str(w.message) for w in caught if w.category is RuntimeWarning]
    assert any("capped at 64" in m and "GB/pass" in m for m in msgs)
    # under-cap budgets stay silent
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        assert _closure_passes(100_000_000) == 2
    assert not [w for w in caught if w.category is RuntimeWarning]


def test_shuffle_scratch_probe_returns_bytes(spark):
    """The grace-pass cleaner poll reads the block-manager local dirs; the
    probe must return a non-negative byte count on a live local session
    (None would silently degrade every pass wait to the fixed fallback)."""
    from finegourmet_spark.operators.scratch import shuffle_scratch_bytes

    n = shuffle_scratch_bytes(spark)
    assert n is not None and n >= 0
