"""Fleet-wide plan audit: every registered query, one set of anti-pattern
checks plus a checked-in fingerprint of its optimized plan. The targeted
tests in test_plan_shapes.py assert the RIGHT plan for specific operators;
this sweep asserts the ABSENCE of the wrong ones everywhere, so a future
query can't quietly ship a scale-killer, and that no plan changed unseen.

Checked per query (sf0.001):
  * building it emits no UserWarning.
  * no CartesianProduct in the formatted physical plan — the non-broadcast
    cross join materializes |L|×|R|; only the explicit q_join_cross
    (5×25 dims) may carry one.
  * no row-at-a-time Python eval (BatchEvalPython) — the hot path must be
    JVM expressions or Arrow (ArrowEvalPython/MapInPandas); the single
    allowed site is q_udf_scalar's documented contrast case.
  * the fingerprint of the optimized logical plan equals the one in
    plan_fingerprints.json.

A change that means to alter plans regenerates the fingerprints:

    python tests/test_plan_audit.py

and the JSON diff names the queries whose plans changed. The hashes are
taken at one Spark version and one ``defaultParallelism`` (some plans embed
the partition count: ``Repartition N``, range splits, the ``_two_phase``
offset maps), so in a session that differs in either the per-query test
keeps its other checks, leaves the hash uncompared, and
test_fingerprints_comparable skips with the reason.
"""

from __future__ import annotations

import contextlib
import functools
import hashlib
import io
import json
import os
import re
import sys
import warnings

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
if __name__ == "__main__":  # run as a script: put the repo root on the path
    sys.path.insert(0, os.path.dirname(HERE))

import __spark_entry__ as contract  # noqa: E402

QUERIES = contract.queries()

ALLOW_CARTESIAN = {"q_join_cross"}
ALLOW_ROW_PYTHON = {"q_udf_scalar"}

FINGERPRINTS = os.path.join(HERE, "plan_fingerprints.json")

# Session counters the optimized plan prints; none of them is plan shape.
_COUNTERS = [
    (re.compile(r"#\d+L?"), "#"),  # exprIds
    (re.compile(r"\b(lambda \w+?)_\d+\b"), r"\1"),  # lambda-variable names
    (re.compile(r"plan_id=\d+"), "plan_id="),
    (re.compile(r"_common_expr_\d+"), "_common_expr_"),
]


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def fingerprint(df) -> str:
    """sha1 of the optimized logical plan with session counters stripped.
    Each line's characters are sorted: the distinct-aggregate rewrite
    numbers its Expand groups (``gid``) in an order that depends on what
    the session built before, and sorting makes a line independent of
    that order. A changed operator, column, expression or hint still
    changes the hash; only a reordering within one line goes unseen."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()  # noqa: SLF001
    for pattern, repl in _COUNTERS:
        plan = pattern.sub(repl, plan)
    canon = "\n".join("".join(sorted(line)) for line in _drop_cached_plans(plan))
    return hashlib.sha1(canon.encode()).hexdigest()


def _drop_cached_plans(plan: str) -> list[str]:
    """The plan's lines without the physical plan printed under each
    InMemoryRelation: that is the cached plan in whatever state earlier
    actions in the session left it (AQE's final plan once any query ran
    it), not this query's shape. The relation's own line stays. The cached
    plan's lines are the ones after it whose tree marker sits deeper."""
    kept, depth = [], None
    for line in plan.splitlines():
        marker = len(line) - len(line.lstrip(" :"))
        if depth is not None and marker > depth:
            continue
        kept.append(line)
        depth = marker if "InMemoryRelation [" in line else None
    return kept


def _session_key(spark) -> dict:
    return {
        "spark_version": spark.version,
        "default_parallelism": spark.sparkContext.defaultParallelism,
    }


@functools.cache
def _recorded() -> dict:
    with open(FINGERPRINTS) as f:
        return json.load(f)


def test_fingerprints_cover_registry():
    assert sorted(_recorded()["queries"]) == sorted(QUERIES)


def test_fingerprints_comparable(spark):
    """The per-query fingerprint comparison runs only in a session like the
    one the hashes were taken in; the anti-pattern checks run in any. This
    test makes a session that cannot compare them show as one skip."""
    recorded, session = _recorded()["session"], _session_key(spark)
    if recorded != session:
        pytest.skip(f"fingerprints taken at {recorded}, session is {session}")


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_no_scale_antipatterns(spark, sf_dir, name):
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        df = QUERIES[name](spark, sf_dir)
    user = [str(w.message) for w in caught if issubclass(w.category, UserWarning)]
    assert not user, f"{name}: building it warned {user}"
    plan = _plan(df)
    if name not in ALLOW_CARTESIAN:
        assert "CartesianProduct" not in plan, f"{name}: non-broadcast cross join"
    if name not in ALLOW_ROW_PYTHON:
        assert "BatchEvalPython" not in plan, f"{name}: row-at-a-time Python UDF"
    if _recorded()["session"] != _session_key(spark):
        return  # reported once by test_fingerprints_comparable
    assert fingerprint(df) == _recorded()["queries"][name], (
        f"{name}: optimized plan changed; if intended, regenerate with "
        "`python tests/test_plan_audit.py`"
    )


def regenerate() -> None:
    """Rewrite plan_fingerprints.json from the test session, in sorted order."""
    from conftest import SF_DIR, make_spark

    spark = make_spark()
    queries = {name: fingerprint(QUERIES[name](spark, SF_DIR)) for name in sorted(QUERIES)}
    with open(FINGERPRINTS, "w") as f:
        json.dump(
            {"session": _session_key(spark), "queries": queries}, f, indent=1, sort_keys=True
        )
        f.write("\n")
    print(f"wrote {len(queries)} fingerprints to {FINGERPRINTS}")


if __name__ == "__main__":
    regenerate()
