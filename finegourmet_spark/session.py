"""SparkSession factory.

Replaces the reference's ad-hoc session construction
(reference: etl/extract.py:44-52) with a tuned, reusable factory.

Scale posture (designed for a 1000-executor cluster, tested on local[*]):
  * AQE on: runtime shuffle-partition coalescing, skew-join splitting,
    dynamic broadcast conversion.
  * ANSI off: the engine preserves the reference's permissive cast-to-NULL
    semantics (SURVEY.md §2A F7); oracles use TRY_CAST explicitly.
  * Session timezone pinned to UTC so date/timestamp semantics are
    cluster-location independent (and match the DuckDB oracle).
  * Arrow enabled for the Pandas-UDF path (vectorized Python boundary).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "finegourmet_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    On a real cluster ``master`` comes from spark-submit; locally we default
    to ``local[$SPARK_GRAFT_CPUS]``.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or os.environ.get("SPARK_MASTER", f"local[{cpus}]"))
        # --- correctness-affecting semantics ---
        .config("spark.sql.session.timeZone", "UTC")
        # ANSI default off (reference-permissive casts), but every registered
        # query must ALSO run green under ANSI-on — the driver's harness uses
        # Spark 4 defaults (ANSI on) and r3 proved a conf-dependent query
        # (q_dedup_simhash ARITHMETIC_OVERFLOW) slips through otherwise.
        # SPARK_GRAFT_ANSI=true flips the whole engine session for sweeps;
        # tests/test_ansi_robustness.py pins a sampled subset permanently.
        .config(
            "spark.sql.ansi.enabled",
            os.environ.get("SPARK_GRAFT_ANSI", "false"),
        )
        # --- scale posture ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # session_window: merge sessions map-side BEFORE the shuffle (the
        # combiner analogue for session aggregation) — the shuffle carries
        # per-partition merged sessions, not raw events. At 100 TB event
        # volume that is the difference between shuffling events and
        # shuffling sessions. (r3 review caught a misspelled key here —
        # 'streaming.' segment is required; unknown SQL confs are accepted
        # silently, so always verify with spark.conf.get.)
        .config(
            "spark.sql.streaming.sessionWindow.merge.sessions.in.local.partition",
            "true",
        )
        # --- Python boundary: Arrow-vectorized, never row-at-a-time ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # --- liveness under long GC pauses (r13 scale class #5) ---
        # A 24 GB single-JVM driver paused >133 s under the sf100-mut CF
        # cell join; Spark's default 120 s network timeout let the
        # HeartbeatReceiver evict the (in-process!) executor and collapse
        # the job. Production clusters running GC-heavy shuffles raise
        # these the same way: tolerance here only delays true-failure
        # detection — it never changes results or plan shape.
        .config(
            "spark.network.timeout",
            os.environ.get("SPARK_GRAFT_NETWORK_TIMEOUT", "600s"),
        )
        .config(
            "spark.executor.heartbeatInterval",
            os.environ.get("SPARK_GRAFT_HEARTBEAT_INTERVAL", "20s"),
        )
        # Parquet sink codec (r14, guide §6 / VERDICT r13 item 3):
        # measured A/B/A/B at the 10,000x star rung — zstd writes the
        # same star 60.7 -> 22.0 MiB (-64%) at wall-neutral build times
        # (snappy 114.8/149.4 s vs zstd 118.7/115.5 s, canaries recorded
        # in OPTIMIZATION_r14.md). Write-side only: query results, the
        # bench (noop sink), and the driver's read paths are unaffected.
        # Env-tunable for deployments whose data compresses differently.
        .config(
            "spark.sql.parquet.compression.codec",
            os.environ.get("SPARK_GRAFT_PARQUET_CODEC", "zstd"),
        )
        # Generated-class cache (CodegenMetrics, perfbench on local[2]):
        # one etl_star pass builds about 190 distinct classes (write
        # 113-120, merge 17-18, the 8 dashboard queries about 55), and
        # Spark's default of 100 entries, evicted LRU, is smaller than
        # that, so every pass recompiled nearly all of them with Janino
        # (184-185 per later pass at 100; 3-5 at 1000 or 2000, which is
        # new code, not eviction). The recompiles hide in execution time,
        # not in Catalyst's phases. Kept classes are also not re-JITted:
        # JVM CodeCache after 3 passes 34.6 -> 19.6 MB, Metaspace
        # 150.0 -> 147.8 MB. (llm_curation's 91 classes per pass fit in
        # 100.) Static conf: it takes effect only when set before the
        # session starts. On a cluster every executor keeps the same
        # bounded cache and would recompile per task under the same thrash.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        # keep driver logs readable
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
