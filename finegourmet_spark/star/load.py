"""Star-schema sinks: partitioned Parquet (primary) + optional JDBC mirror.

vs the reference loader (etl/loader.py:50-96):
  * idempotent `overwrite` instead of blind `append` (re-running the ref
    duplicates every row; PK collisions are swallowed by a bare except —
    SURVEY.md §3.3.4);
  * fact partitioned by sale month → dynamic partition pruning for the
    month-rollup dashboard queries, and month-at-a-time backfill at scale;
  * no side-channel mysql.connector DDL socket (ref etl/loader.py:64-76) —
    FK ordering is write order (dims before fact), exactly as main.py:108-115
    already relies on.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DataType

from finegourmet_spark.star.schemas import STAR_SCHEMAS


def write_dim(df: DataFrame, out_dir: str, name: str) -> None:
    df.write.mode("overwrite").parquet(f"{out_dir}/{name}")


def _write_months(df: DataFrame, path: str, dynamic: bool, n_files: int | None = None) -> None:
    """Overwrite ``path`` partitioned by Sale_Month: one writer group per
    month (no tiny files), or ``n_files`` files. ``dynamic`` replaces only
    the months ``df`` holds. The mode is a writer option, so the session's
    ``partitionOverwriteMode`` never changes under a concurrent query."""
    parts = df.repartition(n_files) if n_files else df.repartition("Sale_Month")
    (
        parts.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic" if dynamic else "static")
        .partitionBy("Sale_Month")
        .parquet(path)
    )


def write_fact(fact: DataFrame, out_dir: str, name: str = "Fact_Sales") -> None:
    fact = fact.withColumn("Sale_Month", F.date_format("Date", "yyyy-MM"))
    _write_months(fact, f"{out_dir}/{name}", dynamic=False)


def write_star(
    star: dict[str, DataFrame], out_dir: str
) -> None:
    """Write dims first, fact last (FK write-order discipline)."""
    for name in ("Dim_Client", "Dim_Product", "Dim_Store"):
        write_dim(star[name], out_dir, name)
    write_fact(star["Fact_Sales"], out_dir)


def backfill_months(fact_delta: DataFrame, out_dir: str, name: str = "Fact_Sales") -> None:
    """Incremental month backfill: replace ONLY the partitions present in
    the delta (dynamic partition overwrite), leaving every other month
    untouched — the idempotent-rerun answer to the ref's duplicate-on-rerun
    append (etl/loader.py:79; SURVEY.md §3.3.4). At 100 TB a daily rerun
    rewrites one month, not the table."""
    delta = fact_delta.withColumn("Sale_Month", F.date_format("Date", "yyyy-MM"))
    _write_months(delta, f"{out_dir}/{name}", dynamic=True)


def read_star(spark: SparkSession, out_dir: str) -> dict[str, DataFrame]:
    """The written star, read with the pinned ``STAR_SCHEMAS``: building a
    query over it launches no Spark job."""
    return {
        name: spark.read.schema(schema).parquet(f"{out_dir}/{name}")
        for name, schema in STAR_SCHEMAS.items()
    }


_INTEGRAL_BYTES = {"tinyint": 1, "smallint": 2, "int": 4, "bigint": 8}


def _widens_to(have: DataType, want: DataType) -> bool:
    """``have`` is ``want``, or an integral type ``want`` holds losslessly."""
    if have == want:
        return True
    a = _INTEGRAL_BYTES.get(have.simpleString())
    b = _INTEGRAL_BYTES.get(want.simpleString())
    return a is not None and b is not None and a <= b


def _conform_delta(delta: DataFrame, name: str) -> DataFrame:
    """``delta`` cast to the table's pinned column types (partition column
    excluded), or ValueError when its columns differ or a type would not
    widen losslessly. Unchecked, ``unionByName`` would widen the merged
    rewrite to the delta's type (a double Price makes the touched months
    double) and the pinned reads would disagree with the files."""
    want = {f.name: f.dataType for f in STAR_SCHEMAS[name].fields if f.name != "Sale_Month"}
    have = {f.name: f.dataType for f in delta.schema.fields}
    if set(have) != set(want):
        problems = [f"columns {sorted(have)}, table has {sorted(want)}"]
    else:
        problems = [
            f"{c} is {have[c].simpleString()}, table has {t.simpleString()}"
            for c, t in want.items()
            if not _widens_to(have[c], t)
        ]
    if problems:
        raise ValueError(f"merge_by_key: delta does not match {name}: {'; '.join(problems)}")
    return delta.select(*[F.col(c).cast(t).alias(c) for c, t in want.items()])


def merge_by_key(
    spark: SparkSession,
    out_dir: str,
    delta: DataFrame,
    key: str = "Sale_ID",
    name: str = "Fact_Sales",
    validate_immutable_dates: bool = True,
) -> None:
    """Keyed MERGE (upsert) into the partitioned parquet fact: rows in
    ``delta`` replace same-key rows, new keys append — all scoped to the
    months the delta touches.

    Plan shape: read ONLY the affected partitions (partition filter on
    Sale_Month), anti-join out the superseded keys, union the delta, rewrite
    just those partitions via dynamic overwrite. At 100 TB the cost is
    proportional to the touched months, never the table. (On Delta/Iceberg
    this is the engine's MERGE INTO; this is the same algorithm expressed on
    plain parquet.)

    Three safety rails (ADVICE r1):
      * the conformed delta is eagerly localCheckpoint-ed once, up front.
        It has four consumers (the months collect, the stray-key check,
        the anti-join keys and the rewrite); unpinned, its plan would run
        once for each, and a nondeterministic delta could put a row in a
        month missing from ``months``, whose dynamic overwrite would
        replace that partition and lose its old rows. Evaluated once,
        every consumer sees the same rows.
      * ``kept`` is eagerly localCheckpoint-ed BEFORE the overwrite — its
        plan lazily reads the very partitions the dynamic overwrite rewrites,
        which is the read-and-overwrite-same-path hazard Spark normally
        rejects. Checkpointing materializes the survivor rows first, so the
        rewrite never depends on files it is replacing. (A crash inside the
        commit itself can still torch a partition — inherent to in-place
        parquet; a table format with a transaction log is the prod answer.)
      * month-scoping assumes a key NEVER moves months (Date immutable for
        existing keys) — otherwise the old row in the old month survives and
        the key is duplicated. ``validate_immutable_dates`` enforces this by
        scanning the UNTOUCHED months' (key, month) columns (column-pruned,
        broadcast semi-join, no shuffle) and failing loudly on violation;
        disable for bulk backfills where the full-table key-column scan is
        not worth it and the invariant is guaranteed upstream.

    The delta must carry the table's columns with its pinned types
    (``STAR_SCHEMAS``; narrower integral types are widened), else
    ValueError before anything is read or written.
    """
    delta = (
        _conform_delta(delta, name)
        .withColumn("Sale_Month", F.date_format("Date", "yyyy-MM"))
        .localCheckpoint(eager=True)
    )
    months = [r["Sale_Month"] for r in delta.select("Sale_Month").distinct().collect()]
    # NULL months (malformed dates land in the default partition) need an
    # explicit IS NULL arm — `isin` never matches NULL, which would silently
    # drop existing null-month rows from `kept` and lose them in the rewrite
    non_null = [m for m in months if m is not None]
    month_pred = F.col("Sale_Month").isin(non_null)
    if None in months:
        month_pred = month_pred | F.col("Sale_Month").isNull()
    keys = delta.select(key).distinct()
    # one read (one file listing / InMemoryFileIndex) reused by both the
    # validation scan and the kept-rows scan (r2 review: double LIST calls
    # over all partitions are a real object-store cost at scale)
    fact = spark.read.schema(STAR_SCHEMAS[name]).parquet(f"{out_dir}/{name}")
    if validate_immutable_dates:
        # out-of-scope = NOT month_pred, with NULL months folding to
        # out-of-scope unless the delta itself touches the null month
        stray = (
            fact.filter(~F.coalesce(month_pred, F.lit(False)))
            .select(key, "Sale_Month")
            .join(F.broadcast(keys), key, "left_semi")
        )
        sample = stray.limit(5).collect()
        if sample:
            raise ValueError(
                f"merge_by_key: delta keys exist in months outside the delta "
                f"(Date moved for an existing {key}) — month-scoped merge would "
                f"duplicate them. Examples: "
                f"{[(r[key], r['Sale_Month']) for r in sample]}"
            )
    existing = fact.filter(month_pred)
    kept = existing.join(F.broadcast(keys), key, "left_anti").localCheckpoint(eager=True)
    _write_months(kept.unionByName(delta), f"{out_dir}/{name}", dynamic=True)


def compact_partitions(
    spark: SparkSession,
    out_dir: str,
    name: str = "Fact_Sales",
    target_file_bytes: int = 128 * 1024 * 1024,
    months: list[str] | None = None,
) -> None:
    """Small-file compaction for the partitioned fact: rewrite each target
    month's many small files into ~target_file_bytes files. Streaming
    micro-batches and frequent merges accrete small files; at 100 TB the
    scan-task count (and NameNode/listing pressure) is proportional to file
    count, so periodic compaction is table maintenance, not an optimization.

    Per-partition file count = ceil(actual_partition_bytes / target),
    measured from the filesystem listing via the Hadoop FS API (works on
    any FS/object store; r2 review: a rows×constant estimate mis-sizes any
    fact whose rows aren't ~100 bytes). The rewrite goes through
    localCheckpoint for the same read-overwrite safety as merge_by_key;
    only the listed months (default: all) are touched."""
    import math

    fact = spark.read.schema(STAR_SCHEMAS[name]).parquet(f"{out_dir}/{name}")
    month_vals = months or [
        r["Sale_Month"] for r in fact.select("Sale_Month").distinct().collect()
    ]
    jvm = spark.sparkContext._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()

    def _partition_bytes(month: str | None) -> int:
        dirname = month if month is not None else "__HIVE_DEFAULT_PARTITION__"
        p = jvm.org.apache.hadoop.fs.Path(f"{out_dir}/{name}/Sale_Month={dirname}")
        fs = p.getFileSystem(hconf)
        if not fs.exists(p):
            return 0
        return fs.getContentSummary(p).getLength()

    for m in month_vals:
        part = fact.filter(
            F.col("Sale_Month").eqNullSafe(F.lit(m))
        ).localCheckpoint(eager=True)
        n_files = max(1, math.ceil(_partition_bytes(m) / target_file_bytes))
        _write_months(part, f"{out_dir}/{name}", dynamic=True, n_files=n_files)


def mirror_to_jdbc(
    star: dict[str, DataFrame], url: str, properties: dict[str, str]
) -> None:
    """Optional JDBC mirror (ref S6, etl/loader.py:79) — overwrite+truncate
    keeps the target idempotent. Requires the JDBC driver on the classpath;
    import/connectivity errors surface to the caller (no bare except)."""
    for name in ("Dim_Client", "Dim_Product", "Dim_Store", "Fact_Sales"):
        df = star[name]
        if name == "Fact_Sales":
            df = df.drop("Sale_Month")
        (
            df.write.mode("overwrite")
            .option("truncate", "true")
            .jdbc(url, name, properties=properties)
        )
