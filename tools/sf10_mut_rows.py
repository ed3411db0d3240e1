"""Round-9 scale rows for the content-pair ops on the MUTATED sf10 fixture.

The plain replicator is fixture-quadratic for ops that pair documents /
embeddings on CONTENT (100 byte-identical copies ⇒ C(100,2) candidate
pairs per cluster — `tools/sf10_sweep.py` SF10_FIXTURE_QUADRATIC). The
near-dup-rate-controlled fixture (`make_sf_scale.py --mutate`) keeps the
near-dup pair count LINEAR in the factor (copies 2k/2k+1 form one
near-dup pair; distinct pair-groups are far below every threshold), which
is how a real corpus behaves — so these ops get measured sf10 rows
instead of documented skips (VERDICT r8 item 5).

Spark-side rows-only by design: the oracles for these ops are pair-bound
(documented r3/r4 carve-outs, DuckDB temp blows up at sf10); their
cross-engine parity is pinned at sf0.001/0.01 by the driver window and
the repo sweeps. What sf10 adds is the SCALE signal: wall time + output
rows + scratch high-water on a linear-pair corpus.

Usage: python tools/sf10_mut_rows.py [name ...]   (default: the full set)
"""

from __future__ import annotations

import os
import sys
import time

import __spark_entry__ as contract
from finegourmet_spark.operators.scratch import shuffle_scratch_bytes
from finegourmet_spark.session import get_spark

# SPARK_GRAFT_MUT_DIR points the same protocol at another decade's
# mutated fixture (r11: .scratch/sf100-mut at factor 1000)
SF10_MUT = os.environ.get("SPARK_GRAFT_MUT_DIR", "/root/repo/.scratch/sf10-mut")

DEFAULT = [
    "q_dedup_minhash",
    "q_dedup_ngram_jaccard",
    "q_dedup_clusters",
    "q_setsim_join_prefix",
    "q_containment_dedup",
    "q_dedup_chunks",
    "q_dedup_embedding",
    "q_dedup_semantic_clusters",
    "q_similarity_lsh",
]


def main() -> int:
    names = sys.argv[1:] or DEFAULT
    q = contract.queries()
    failed = []
    spark = None
    try:
        for name in names:
            # Fresh session per op (the sf1/sf10-sweep lesson, applied here
            # after it bit for real): persisted/localCheckpoint blocks from
            # the earlier ops accumulate in the shared block manager, and on
            # a tight 8 GB heap the NEXT op's broadcast build can fail with
            # "Not enough memory to build and broadcast" even though the op
            # passes standalone (observed for q_setsim_join_prefix on the
            # r10 reprovisioned host). A fresh session also makes each row a
            # clean measurement.
            if spark is not None:
                spark.stop()
            spark = get_spark()
            t0 = time.time()
            try:
                n = q[name](spark, SF10_MUT).count()
                dt = time.time() - t0
                scratch = shuffle_scratch_bytes(spark)
                gb = f"{scratch / 2**30:.1f}" if scratch is not None else "?"
                print(f"{name}: {n} rows in {dt:.1f}s (scratch now {gb} GB)",
                      flush=True)
            except Exception as e:  # noqa: BLE001 — report, not die
                dt = time.time() - t0
                print(f"{name}: FAILED after {dt:.1f}s: {type(e).__name__}: "
                      f"{str(e)[:300]}", flush=True)
                failed.append(name)
    finally:
        if spark is not None:
            spark.stop()  # explicit teardown for the final row (ADVICE r10)
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
