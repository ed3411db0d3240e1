"""Sampled registry sweep under ANSI-on (the driver's session default).

The engine's own session factory disables ANSI (reference-permissive cast
semantics, session.py), but the DRIVER hands every query a vanilla Spark 4
session — ANSI **on**. Round 3 proved that gap can hide a hard failure:
q_dedup_simhash's `acc * 2 + b` bit-fold threw ARITHMETIC_OVERFLOW only
under ANSI (CORRECTNESS_r03 ERR). This test pins a deliberately arithmetic-
heavy registry sample to ANSI-on so conf-dependent semantics can't ship
again; the full 198-query ANSI-on sweep runs once per round via the verify
recipe (vanilla driver-sim session, .claude/skills/verify/SKILL.md).

`spark.sql.ansi.enabled` is a runtime SQL conf, so the shared session is
flipped per-test and always restored — no second JVM.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as contract
from tests.oracle_harness import compare

QUERIES = contract.queries()
ORACLES = contract.oracle_sql()

# Arithmetic-/cast-heaviest corners of the registry: bit-folds, wraparound
# hashes, integer division, decimal money, try_* semantics, explicit casts,
# epoch/date arithmetic, UDTF fan-out — the shapes ANSI mode polices.
ANSI_SAMPLE = [
    "q_dedup_simhash",        # the r3 regression itself (bit-fold)
    "q_doc_fingerprint",      # rolling-hash modular arithmetic
    "q_try_arithmetic",       # try_* vs ANSI throw semantics
    "q_bitwise_agg",          # bit_and/or/xor aggregates
    "q_pack_sequences",       # bigint cents packing (r2 HUGEINT case)
    "q_percentile_cont_exact",# integer interpolation with div
    "q_lm_bigram_score",      # integer-ppm log-score arithmetic
    "q_business_days_sla",    # date sequence + modulus predicates
    "q_weighted_median",      # two-phase cumulative-weight div
    "q_math_funcs",           # raw scalar math surface
    "q_udtf_installments",    # Python fan-out of divmod cents
    "q_dedup_minhash",        # wrapping xxhash64 arithmetic in numpy
    "q_dedup_ngram_jaccard",  # the same kernel, 128 hashes / 64 bands
    "q_zorder" if "q_zorder" in QUERIES else "q_agg_basic",
]


@pytest.fixture()
def ansi_on(spark):
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    yield spark
    spark.conf.set("spark.sql.ansi.enabled", prev)


@pytest.mark.parametrize("name", sorted(set(ANSI_SAMPLE)))
def test_ansi_on_parity(ansi_on, sf_dir, name):
    df = QUERIES[name](ansi_on, sf_dir)
    if name in ORACLES:
        problems = compare(df, ORACLES[name], sf_dir)
        assert not problems, f"{name} (ANSI on):\n" + "\n".join(problems)
    else:
        assert df.count() >= 0


def test_ansi_conf_restored(spark):
    """The fixture must leave the shared session in its engine default."""
    assert spark.conf.get("spark.sql.ansi.enabled") == "false"
