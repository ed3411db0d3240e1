"""Shuffle-scratch governor shared by the grace-partitioned operators.

Three ops independently grew the same pattern across r8-r12 — triangles'
closure passes (graph.py), item-item CF's pair-agg slices (graph.py) and
setsim/containment's prep+verify slices (dedup.py) — each needing to
(a) measure how much dead shuffle scratch has accumulated,
(b) decide whether releasing it is worth a GC-and-poll, and
(c) run an exchange in K hash-disjoint slices so peak scratch is
    ~exchange/K instead of the whole exchange at once.
VERDICT r12 item 4 consolidates the machinery here before a fourth copy
drifts. The functions were moved verbatim from operators/graph.py;
``phase_barrier`` moved from operators/dedup.py; ``sliced_exchange`` is
the shared slice loop that graph.py's CF and dedup.py's setsim prep /
verify phases previously each inlined.

Scale posture: everything here budgets LOCAL disk under the block
manager's dirs. On a real cluster each executor owns its scratch and the
same reclaim-ratio gate applies per executor; in local[32] (the test and
bench rig) all of it is one volume, which is exactly where the measured
ENOSPC deaths (r11 clusters, r12 setsim) happened.
"""

from __future__ import annotations

import gc
import os
import time
from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# scratch_pressure fires when dead shuffle files exceed this share of the
# scratch volume's reclaimable headroom (free + dead scratch).
RELEASE_FRAC = 0.15


def shuffle_scratch_bytes(spark: SparkSession) -> int | None:
    """Current on-disk bytes of SHUFFLE files under the block manager's
    local dirs (the scratch this module budgets). Counts only
    ``shuffle_*`` block files — DISK_ONLY-persisted rdd blocks live in the
    same dirs, and including them masks the cleaner's drain signal: the
    pinned adjacency never shrinks, so a poll watching total dir size
    waits its full timeout every pass (the r9 first re-run measured the
    cost: triangles sf10 465.8 s vs 282.7 s). Local-mode only by
    construction — the dirs live on this host; returns None if the py4j
    probe fails (e.g. a future Spark renames the accessor), so callers
    can fall back to a fixed wait."""
    try:
        jdirs = (
            spark.sparkContext._jvm.org.apache.spark.SparkEnv.get()  # noqa: SLF001
            .blockManager()
            .diskBlockManager()
            .localDirs()
        )
        roots = [jdirs[i].getAbsolutePath() for i in range(len(jdirs))]
    except Exception:
        return None
    total = 0
    for root in roots:
        for dirpath, _dirnames, filenames in os.walk(root):
            for fn in filenames:
                if not fn.startswith("shuffle_"):
                    continue
                try:
                    total += os.path.getsize(os.path.join(dirpath, fn))
                except OSError:
                    pass  # cleaner raced us: file deleted mid-walk
    return total


def scratch_pressure(spark: SparkSession, scratch_bytes: int) -> bool:
    """Is the accumulated dead shuffle scratch worth a release-and-poll
    (JVM GC + bounded drain wait, up to ~15 s)? The r11 gate was an
    absolute 8 GiB tuned to this host's 59 GB free scratch (ADVICE r11):
    a near-full small volume still hit ENOSPC under 8 GiB, while a
    multi-TB scratch host would pay the poll on every call for noise.
    Gate instead on the RECLAIM RATIO: releasing buys back
    ``scratch_bytes`` of the volume's headroom, so fire when the dead
    files exceed RELEASE_FRAC of (free + scratch) — os.statvfs on the
    first block-manager dir (local dirs share one volume in local mode; on
    a cluster each executor probes its own). Falls back to the old
    absolute gate if statvfs is unavailable."""
    try:
        jdirs = (
            spark.sparkContext._jvm.org.apache.spark.SparkEnv.get()  # noqa: SLF001
            .blockManager()
            .diskBlockManager()
            .localDirs()
        )
        st = os.statvfs(jdirs[0].getAbsolutePath())
        free = st.f_bavail * st.f_frsize
    except Exception:
        return scratch_bytes > 8 * 2**30
    return scratch_bytes > RELEASE_FRAC * (free + scratch_bytes)


def release_pass_shuffles(spark: SparkSession) -> None:
    """Between grace passes: drop the finished pass's shuffle files.
    Python refcounting alone leaves the JVM-side plan objects alive until
    py4j detach commands flush AND the driver JVM GCs, and the
    ContextCleaner only deletes shuffle files after that — the r8 capped
    sf10 run showed cleanup lagging ~2 passes (~42 GB high-water against
    a 12 GB/slice design). Forcing the Python GC first flushes the py4j
    detaches, then one JVM GC hands everything to the (blocking-by-
    default) cleaner. Rather than a fixed sleep (ADVICE r8: on a busy
    driver 2 s can leave pass i's files coexisting with pass i+1's
    writes), poll the block-manager scratch dirs with a bounded wait and
    return as soon as the cleaner visibly drained (two consecutive
    non-shrinking samples after an initial drop, or any sample below 25%
    of the starting size)."""
    gc.collect()
    before = shuffle_scratch_bytes(spark)
    spark.sparkContext._jvm.System.gc()  # noqa: SLF001
    if before is None or before < 2**30:
        # probe unavailable, or scratch too small for the poll's shrink
        # signal to register (test-scale passes) — the old fixed wait is
        # both sufficient and cheaper than a 15 s stabilization poll
        time.sleep(2)
        return
    start = time.monotonic()
    deadline = start + 15.0
    no_drop_bail = start + 4.0
    prev = before
    dropped = False
    while time.monotonic() < deadline:
        time.sleep(0.5)
        now = shuffle_scratch_bytes(spark)
        if now is None:
            time.sleep(1.5)
            return
        if now < before // 4:
            return  # drained well past one pass's share
        # deletion-rate decay, not equality: the cleaner deletes files
        # PROGRESSIVELY, so consecutive samples shrink by a little every
        # time and a strict shrank-then-stabilized test never fires. Once
        # a drop has been seen and a LATER sample's delta falls under 1%
        # of the starting size, the cleaner's queue is in its tail. The
        # tail check reads `dropped` BEFORE this sample updates it
        # (ADVICE r9): a single first drop smaller than 1% must not
        # satisfy its own tail test while the cleaner is still spinning
        # up — the sub-1% delta has to be observed on a sample AFTER the
        # one that first saw a drop.
        if dropped and prev - now < before // 100:
            return
        if now < prev:
            dropped = True
        # no-drop bailout: instrumented sf10 runs showed the cleaner often
        # does NOT touch the files inside this window at all — deletion
        # overlaps the next pass's compute instead (the r8 2 s-sleep runs
        # had bounded high-water exactly this way). Waiting the full 15 s
        # on every pass cost 108.8 s of pure idle on the 7-pass census;
        # after 4 s with zero shrinkage, stop stalling the pipeline and
        # let cleanup ride along — the scratch budget is best-effort
        # high-water, not a hard bound (see _closure_passes docstring).
        if not dropped and time.monotonic() > no_drop_bail:
            return
        prev = now


def pass_log(msg: str) -> None:
    """Per-pass progress line for multi-hour grace-partitioned runs, gated
    behind SPARK_GRAFT_GRACE_VERBOSE so query output stays clean in tests
    and the driver harness."""
    if os.environ.get("SPARK_GRAFT_GRACE_VERBOSE"):
        stamp = time.strftime("%H:%M:%S")
        print(f"[grace {stamp}] {msg}", flush=True)


def release_if_pressured(spark: SparkSession) -> None:
    """The probe-gate-release triple every barrier call site repeated:
    release dead pass shuffles only when the reclaim-ratio gate says the
    poll is worth it (no-op when the probe is unavailable)."""
    scratch = shuffle_scratch_bytes(spark)
    if scratch is not None and scratch_pressure(spark, scratch):
        release_pass_shuffles(spark)


def release(df: DataFrame) -> None:
    """Drop the blocks of a frame returned by ``localCheckpoint``: unpersist
    the RDD behind its LogicalRDD leaf now, instead of leaving it in
    ``getPersistentRDDs()`` until a JVM GC hands it to the ContextCleaner.
    Only for pins whose consumers have all run (an iterative loop's
    previous round once the next round has materialized, or any pin after
    its result was collected): a checkpoint's lineage is cut, so nothing
    can recompute the blocks."""
    df._jdf.queryExecution().analyzed().rdd().unpersist(False)  # noqa: SLF001


def phase_barrier(df: DataFrame) -> DataFrame:
    """Materialize a SMALL phase product (doc-scale: one row per doc, a
    few hundred bytes each — NEVER a shingle-exploded frame, that is the
    r11 localCheckpoint heap-promotion regime) with a lineage-truncating
    eager localCheckpoint, then release the now-dead upstream shuffle
    files if the scratch volume is under pressure.

    Why (r12, measured twice): q_setsim_join_prefix at sf100-mut (5M
    docs) died SPILL_OUT_OF_MEMORY/ENOSPC at ~47 GB and again at ~60 GB
    free scratch — the token-prep exchanges (df-count shuffle, the
    terms⋈dfreq join, the rarest-first collect_list, each ~320M rows)
    live in the SAME action as the candidate join and verify joins, so
    all of them coexist on disk. Pinning the doc-scale phase product
    truncates lineage, turning the prep shuffles dead; the release
    (pressure-gated, no-op at test scale) hands them back before the
    candidate/verify phase writes its own. Same pattern as
    min_label_components' post-pin release (operators/dedup.py)."""
    out = df.localCheckpoint(eager=True)
    release_if_pressured(df.sparkSession)
    return out


def sliced_exchange(
    df: DataFrame,
    keys: Sequence[str],
    passes: int,
    fn: Callable[[DataFrame], DataFrame],
    label: str = "slice",
) -> DataFrame:
    """Run ``fn`` over ``passes`` hash-disjoint slices of ``df`` (sliced
    by ``pmod(xxhash64(*keys), passes)``), pin each slice's (small!)
    product with ``phase_barrier`` and union the pins.

    This is the scratch-for-CPU trade every grace-partitioned exchange in
    the repo makes: because every occurrence of one key lands in exactly
    one slice, any per-key computation (a groupBy on ``keys``, a per-doc
    prep given global stats, a per-pair verify) is EXACT per slice and
    the union is exactly the unsliced result — while each slice's
    exchange writes ~1/passes of the scratch, and the eager pin +
    pressure-gated release retires it before the next slice writes.
    Upstream compute is re-paid per slice (Spark's shuffle reuse and any
    caller-side persist bound the re-pay); ``fn``'s output must be far
    below the 320M-row localCheckpoint heap-promotion regime (r11).

    Callers keep their own single-pass path: with ``passes == 1`` some
    want the barrier (setsim prep) and some want to stay lazy (CF), so
    this helper is only for the K > 1 loop. Previously inlined three
    times: graph.py item-item CF, dedup.py setsim prep and verify."""
    if passes < 2:
        raise ValueError("sliced_exchange is the K>1 loop; handle K=1 inline")
    keys = list(keys)
    slices = []
    for i in range(passes):
        sl = df.filter(F.pmod(F.xxhash64(*keys), F.lit(passes)) == i)
        slices.append(phase_barrier(fn(sl)))
        pass_log(f"{label} {i + 1}/{passes} done")
    out = slices[0]
    for s in slices[1:]:
        out = out.unionByName(s)
    return out
