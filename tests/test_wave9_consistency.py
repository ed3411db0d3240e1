"""Independent-model checks for the round-3 ninth-wave ops (A/B readout,
DAU/MAU stickiness, OLS trend, out-of-order audit): plain-Python
recomputation over the collected sf0.001 tables, exact match required."""

from __future__ import annotations

import datetime as dt
import hashlib
from collections import Counter, defaultdict
from decimal import Decimal

import __spark_entry__  # noqa: F401  — populates the full registry
from finegourmet_spark.operators.eventflow import AB_SALT, MAU_DAYS
from finegourmet_spark.operators.registry import QUERIES
from finegourmet_spark.sources.testdata import load_table


def _cents(x: float) -> int:
    return int(Decimal(str(x)).quantize(Decimal("0.01")) * 100)


def test_ab_experiment_matches_python_model(spark, sf_dir):
    per_user = defaultdict(lambda: [0, 0])  # exposed, converted
    for r in load_table(spark, sf_dir, "events").collect():
        e = per_user[r["user_id"]]
        if r["event_type"] == "view":
            e[0] = 1
        if r["event_type"] == "purchase":
            e[1] = 1
    cells = Counter()
    for uid, (exp, conv) in per_user.items():
        if exp:
            h = hashlib.md5(f"{AB_SALT}{uid}".encode()).hexdigest()
            variant = "A" if ord(h[0]) % 2 == 0 else "B"
            cells[(variant, conv)] += 1
    n = sum(cells.values())
    rows = {v: cells[(v, 0)] + cells[(v, 1)] for v in ("A", "B")}
    cols = {c: cells[("A", c)] + cells[("B", c)] for c in (0, 1)}
    chi = {
        v: sum(
            0
            if rows[v] * cols[c] == 0
            else (1_000_000 * (n * cells[(v, c)] - rows[v] * cols[c]) ** 2)
            // (n * rows[v] * cols[c])
            for c in (0, 1)
        )
        for v in ("A", "B")
    }
    expected = {
        v: (
            rows[v],
            cells[(v, 1)],
            (1_000_000 * cells[(v, 1)]) // rows[v],
            chi[v],
        )
        for v in ("A", "B")
    }
    got = {
        r["variant"]: (
            r["n_exposed"],
            r["n_converted"],
            r["conv_ppm"],
            r["chi2_ppm"],
        )
        for r in QUERIES["q_ab_experiment"](spark, sf_dir).collect()
    }
    assert got == expected
    # the salt-keyed md5 split must populate both arms (balance tightens
    # with n; at sf0.001 only ~15 users are exposed)
    assert rows["A"] > 0 and rows["B"] > 0


def test_stickiness_matches_python_model(spark, sf_dir):
    user_days = set()
    for r in load_table(spark, sf_dir, "events").collect():
        user_days.add((r["user_id"], r["ts"].date()))
    days = {d for _, d in user_days}
    dau = Counter(d for _, d in user_days)
    expected = {}
    for rd in days:
        mau = len(
            {
                u
                for u, d in user_days
                if 0 <= (rd - d).days < MAU_DAYS
            }
        )
        expected[rd] = (dau[rd], mau, (1_000_000 * dau[rd]) // mau)
    rows = QUERIES["q_stickiness"](spark, sf_dir).collect()
    got = {
        r["report_day"]: (r["dau"], r["mau"], r["stickiness_ppm"]) for r in rows
    }
    assert got == expected
    assert all(0 < s <= 1_000_000 for _, _, s in got.values())


def test_ols_trend_matches_python_model(spark, sf_dir):
    daily = defaultdict(int)
    for r in load_table(spark, sf_dir, "orders").collect():
        daily[r["o_orderdate"].date().toordinal()] += _cents(r["o_totalprice"])
    x0 = min(daily)
    xs = [(x - x0, y) for x, y in daily.items()]
    n = len(xs)
    sx = sum(x for x, _ in xs)
    sy = sum(y for _, y in xs)
    sxy = sum(x * y for x, y in xs)
    sxx = sum(x * x for x, _ in xs)
    num, den = n * sxy - sx * sy, n * sxx - sx * sx
    slope = (
        (1_000_000 * num) // den if num >= 0 else -((1_000_000 * -num) // den)
    )
    [row] = QUERIES["q_ols_trend"](spark, sf_dir).collect()
    assert (row["n_days"], row["slope_e6_cents_per_day"]) == (n, slope)


def test_out_of_order_matches_python_model(spark, sf_dir):
    epoch = dt.datetime(1970, 1, 1)
    per_user = defaultdict(list)
    for r in load_table(spark, sf_dir, "events").collect():
        us = int((r["ts"] - epoch) / dt.timedelta(microseconds=1))
        per_user[r["user_id"]].append((r["event_id"], us))
    n_events = n_late = 0
    max_disorder = 0
    for evs in per_user.values():
        evs.sort()
        run_max = None
        for _, us in evs:
            n_events += 1
            if run_max is not None and us < run_max:
                n_late += 1
                max_disorder = max(max_disorder, run_max - us)
            run_max = us if run_max is None else max(run_max, us)
    [row] = QUERIES["q_out_of_order_events"](spark, sf_dir).collect()
    assert (
        row["n_events"],
        row["n_late"],
        row["late_ppm"],
        row["max_disorder_us"],
    ) == (n_events, n_late, (1_000_000 * n_late) // n_events, max_disorder)


def test_golden_record_matches_python_model(spark, sf_dir):
    """q_golden_record: python union-find over the same fuzzy pair graph +
    the same survivorship rule; also pins that min_label_components labels
    string node ids exactly like their integer twins."""
    from collections import Counter

    from finegourmet_spark.operators.dedup import (
        LEV_MAX,
        min_label_components,
    )
    from tests.test_wave5_consistency import _lev

    counts = Counter()
    first_id = {}
    for r in load_table(spark, sf_dir, "part").collect():
        counts[r["p_name"]] += 1
        k = first_id.get(r["p_name"])
        first_id[r["p_name"]] = r["p_partkey"] if k is None else min(k, r["p_partkey"])
    parent = {n: n for n in counts}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    names = list(counts)
    for a in names:
        for b in names:
            if (
                a < b
                and a.split(" ")[1] == b.split(" ")[1]
                and _lev(a, b) <= LEV_MAX
            ):
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[ra] = rb
    clusters = defaultdict(list)
    for n in names:
        clusters[find(n)].append(n)
    expected = {}
    for members in clusters.values():
        cid = min(first_id[n] for n in members)
        canon = sorted(members, key=lambda n: (-counts[n], n))[0]
        expected[cid] = (
            len(members),
            sum(counts[n] for n in members),
            canon,
        )
    rows = QUERIES["q_golden_record"](spark, sf_dir).collect()
    got = {
        r["cluster_id"]: (r["n_aliases"], r["n_parts_total"], r["canonical_name"])
        for r in rows
    }
    assert got == expected
    # string ids: zero-padded twins order like the integers, so the labels
    # must map one to one (a Σlabels witness summed strings to NULL and
    # froze after one round)
    edges = [(1, 2), (2, 3), (3, 4), (7, 6), (9, 8)]
    ids = range(1, 11)

    def labels(typ, key):
        out = min_label_components(
            spark.createDataFrame([(key(a), key(b)) for a, b in edges], f"x {typ}, y {typ}"),
            spark.createDataFrame([(key(i),) for i in ids], f"k {typ}"),
            "k",
            pair_cols=("x", "y"),
        )
        return {r["k"]: r["cluster_id"] for r in out.collect()}

    ints = labels("long", int)
    assert labels("string", "{:03d}".format) == {
        f"{k:03d}": f"{c:03d}" for k, c in ints.items()
    }
    assert len(set(ints.values())) == 5
