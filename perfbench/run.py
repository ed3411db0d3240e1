"""Per-layer benchmark of finegourmet_spark on local[2].

Run from the repository root:

    python3 perfbench/run.py --workload llm_curation --seed 1 --seconds 20 --trace 0

Workloads (``workloads.py``): ``llm_curation`` (6 dedup / similarity / text
queries over the sf0.1 documents and embeddings) and ``etl_star`` (raw
sources -> star -> keyed merge -> 8 star queries). One run:

1. set-up, ``SETUP_REPS`` times: start the session from
   ``finegourmet_spark.session.get_spark``, lay out or generate the inputs
   inside the checkout (``.perfbench/``), touch them once. ``setup_s`` is
   the median;
2. a check pass, untimed: every operation runs once and its output is
   compared with an independent expectation (the DuckDB oracles of
   ``tests/oracle_harness``, pinned row counts, the ETL generator's totals);
   then the workload's ``warm_passes`` untimed warm-up passes;
3. with ``--trace 0``, timed passes for ``--seconds``, with the cache cleared
   before every operation; the end-to-end metrics come from these, and
   ``peak_rss_mb`` is the peak RSS of the Python processes (this one and
   the Python workers), sampled from ``/proc``: the JVM is left out;
4. with ``--trace 1``, untraced and traced passes alternate for
   ``--seconds`` instead (``tracing.py``); the per-layer metrics are the
   traced passes' totals (medians over passes), the spans go to
   ``.perfbench/spans/``, and ``trace.overhead_s`` is the median of each
   traced pass's time minus that of the untraced pass before it.

The metric names and units are those ``BENCHMARK.json`` declares. What each
per-layer metric should move, and where it is non-zero:

=================================  =======================  ==============
per-layer metrics                  should move              workloads
=================================  =======================  ==============
``sources.construct_*``            ``wall_s``               both
``catalyst.*``                     ``wall_s``               both
``exec.*``                         ``wall_s``               both
``arrow.*``                        ``wall_s``, RSS          llm_curation
``scratch.persisted_rdds_after``   ``wall_s``               both
``star.*``                         ``wall_s``, out/in       etl_star
``trace.*``                        none (the tracer's own)  both
=================================  =======================  ==============

The last line of stdout is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``; the lines before it describe the host and the
checks. ``error_rate`` (failed / attempted, failed checks included) is
printed there and carried by ``failed``/``attempted``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 5
# Spark's task slots and shuffle partitions. Two of the host's 4 cores are
# left to the JVM's compiler and collector threads, this process and the
# Python workers, so that no stage waits on a task whose core they hold.
CORES = 2
# The JVM compiles with C1 only. With C2 on these 4 cores, pass times keep
# falling for 40-50 s after the JVM starts, longer than a run can wait, and
# a run measured that slope instead of the program; with C1 they settle
# within a pass after the check pass.
JVM_OPTS = "-XX:-UsePerfData -XX:TieredStopAtLevel=1"

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    _SPEC = json.load(_f)
END_TO_END = {m["name"]: m["unit"] for m in _SPEC["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in _SPEC["per_layer"]}

# op record key -> per-layer metric; records are summed over a pass
_SUMMED = {
    "construct_s": "sources.construct_s",
    "construct_jobs": "sources.construct_jobs",
    "analysis_ms": "catalyst.analysis_ms",
    "optimization_ms": "catalyst.optimization_ms",
    "planning_ms": "catalyst.planning_ms",
    "exec_s": "exec.s",
    "exec_jobs": "exec.jobs",
    "exec_tasks": "exec.tasks",
    "persisted_rdds_after": "scratch.persisted_rdds_after",
}


def _start_spark(tmp: str):
    from finegourmet_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        master=f"local[{CORES}]",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": tmp,
        },
    )


def _stop_spark(spark) -> None:
    """Stop the session and its JVM, and wait for the JVM to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits on EOF of its stdin
        proc.wait(timeout=60)


def _passes(seconds: float, run_pass) -> list:
    """Run passes for ``seconds``, ending at the pass end nearest to it (at
    least one pass); return what each pass returned (its time)."""
    times: list = []
    last = 0.0
    start = time.perf_counter()
    while not times or time.perf_counter() - start + last / 2 < seconds:
        t0 = time.perf_counter()
        times.append(run_pass())
        last = time.perf_counter() - t0
    return times


class Runner:
    """Runs passes over a workload's operations, counting attempts and
    failures; a pass's time runs from its first cache clear to the end of
    its last operation, tracing included."""

    def __init__(self, spark, workload) -> None:
        self.spark, self.wl = spark, workload
        self.attempted = self.failed = 0
        self.by_op: dict[str, list[float]] = {}
        self.records: list[list[dict]] = []

    def _report(self, op, problems: list[str]) -> None:
        if problems:
            self.failed += 1
            print(f"FAILED {op.name}: " + "; ".join(problems)[:2000], flush=True)
        else:
            print(f"check ok  {op.name}", flush=True)

    def _run(self, op, keep: bool = False):
        """Clear the cache, then build and execute ``op``; return
        (latency, built, output), or None when it raised. With ``keep``
        the built result is cached for a check, and the cache is left
        alone: earlier outputs may still be under check."""
        self.attempted += 1
        if not keep:
            self.spark.catalog.clearCache()
        try:
            t0 = time.perf_counter()
            built = op.construct()
            if keep:
                built = op.keep(built)
            out = op.execute(built)
            return time.perf_counter() - t0, built, out
        except Exception:
            self._report(op, [traceback.format_exc()])
            return None

    def check_pass(self) -> None:
        """Untimed: every operation runs once and its output is compared,
        on a worker thread while the next operation runs when the
        workload's checks allow it."""
        with ThreadPoolExecutor(max_workers=1) as pool:
            pending = []
            for op in self.wl.ops():
                done = self._run(op, keep=True)
                if done:
                    pending.append((op, pool.submit(op.check, done[1], done[2])))
                    if not self.wl.concurrent_checks:
                        pending[-1][1].exception()  # wait for it
            for op, fut in pending:
                try:
                    problems = fut.result()
                except Exception:
                    problems = [traceback.format_exc()]
                self._report(op, problems)
        self.spark.catalog.clearCache()

    def timed_pass(self) -> float:
        ran = False
        t0 = time.perf_counter()
        for op in self.wl.ops():
            done = self._run(op)
            if done:
                ran = True
                self.by_op.setdefault(op.name, []).append(done[0])
        wall = time.perf_counter() - t0
        return wall if ran else 0.0

    def traced_pass(self, tracer) -> float:
        records = []
        t0 = time.perf_counter()
        for op in self.wl.ops():
            self.attempted += 1
            self.spark.catalog.clearCache()
            try:
                rec, _built, _out = tracer.run(self.attempted, op)
                records.append(rec)
            except Exception:
                self._report(op, [traceback.format_exc()])
        wall = time.perf_counter() - t0
        self.records.append(records)
        return wall


def _layer_metrics(pass_records: list[dict], workload) -> dict[str, float]:
    from tracing import PLAN_METRICS

    out: dict[str, float] = {m: 0.0 for m in PER_LAYER}
    for rec in pass_records:
        for key, metric in _SUMMED.items():
            out[metric] += rec[key]
        for metric in set(PLAN_METRICS.values()):
            out[metric] += rec[metric]
        out["exec.peak_memory_bytes"] = max(out["exec.peak_memory_bytes"], rec["peak_memory_bytes"])
    out["trace.min_coverage"] = min((r["coverage"] for r in pass_records), default=0.0)
    out.update(workload.layer_metrics(pass_records))
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["llm_curation", "etl_star"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="etl_star's input size relative to the benchmark's (the smoke test uses 0.01)")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "finegourmet_spark", "session.py")):
        print(f"perfbench: no finegourmet_spark package in {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tests")]
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    # Python workers import the package's UDFs by module path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    import host
    import workloads

    context = host.canary()
    print("host " + " ".join(f"{k}={v:.3f}" for k, v in context.items()), flush=True)
    # everything the run writes, Spark's and Python's temporary files
    # included, stays under run_dir, which is removed at the end
    run_dir = os.path.join(ROOT, ".perfbench", f"{args.workload}-{os.getpid()}")
    work, tmp = os.path.join(run_dir, "work"), os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"{JVM_OPTS} -Djava.io.tmpdir={tmp}"
    wl = workloads.make(args.workload, args.scale)
    spark = None
    try:
        setups = []
        for _ in range(SETUP_REPS):
            if spark is not None:
                spark.stop()
            shutil.rmtree(work, ignore_errors=True)
            t0 = time.perf_counter()
            spark = _start_spark(tmp)
            wl.setup(spark, work, args.seed)
            setups.append(time.perf_counter() - t0)
        print("setup_s reps " + " ".join(f"{s:.3f}" for s in setups), flush=True)

        run = Runner(spark, wl)
        run.check_pass()
        # untimed: the JIT is still compiling
        warm = [run.timed_pass() for _ in range(wl.warm_passes)]
        print("warm-up pass walls " + " ".join(f"{w:.3f}" for w in warm), flush=True)
        run.by_op.clear()
        if args.trace:
            from tracing import Tracer

            # untraced and traced passes alternate, so that the overhead is
            # not confounded with the session warming up over the run
            tracer = Tracer(spark)
            pairs = _passes(args.seconds, lambda: (run.timed_pass(), run.traced_pass(tracer)))
            tracer.close()
            spans = os.path.join(ROOT, ".perfbench", "spans")
            os.makedirs(spans, exist_ok=True)
            tracer.write(os.path.join(spans, f"{args.workload}-seed{args.seed}.json"))
            per_pass = [_layer_metrics(recs, wl) for recs in run.records]
            metrics = {m: statistics.median(p[m] for p in per_pass) for m in PER_LAYER}
            metrics["trace.overhead_s"] = statistics.median(t - u for u, t in pairs)
            units = PER_LAYER
            print("untraced, traced pass walls " + " ".join(f"{u:.3f},{t:.3f}" for u, t in pairs),
                  flush=True)
        else:
            # the JVM is left out: the collector sizes its heap by its own
            # heuristics, which swamp the program's own use of memory
            with host.PeakRss() as rss:
                walls = _passes(args.seconds, run.timed_pass)
            print("pass walls " + " ".join(f"{w:.3f}" for w in walls), flush=True)
            wall = statistics.median(walls) or float("nan")  # 0 only if every operation failed
            metrics = {
                "setup_s": statistics.median(setups),
                "wall_s": wall,
                "rows_per_s": wl.in_rows / wall,
                "peak_rss_mb": rss.peak / 2**20,
                "out_bytes_per_in_byte": wl.out_bytes / wl.in_bytes,
            }
            units = END_TO_END
        print("op median latency " + " ".join(
            f"{name}={statistics.median(ts):.3f}" for name, ts in sorted(run.by_op.items())
        ), flush=True)
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    print(f"error_rate {run.failed / run.attempted:.6f} ({run.failed} of {run.attempted} operations)")
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {m: {"value": v, "unit": units[m]} for m, v in metrics.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
