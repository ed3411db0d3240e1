"""The pinned-schema test-table catalog (``sources/testdata.py``): every pin
equals the schema Spark infers from the files, at every fixture scale
present, and reading the tables or building queries over them launches no
Spark job."""

from __future__ import annotations

import datetime as dt
import glob
import os

import pytest

import __spark_entry__ as contract
from finegourmet_spark.sources.testdata import TABLES, _read, load_table
from tests.conftest import SF_DIR

QUERIES = contract.queries()
PERFBENCH_FIXTURES = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench", "fixtures"
)
SCALES = sorted(glob.glob(os.path.join(os.path.dirname(SF_DIR), "sf*"))) + [
    PERFBENCH_FIXTURES
]
NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"


@pytest.mark.parametrize("scale", SCALES, ids=os.path.basename)
def test_pinned_schemas_equal_inferred(spark, scale):
    present = [t for t in TABLES if os.path.exists(f"{scale}/{t}.parquet")]
    assert present, scale
    for name in present:
        inferred = spark.read.parquet(f"{scale}/{name}.parquet").schema
        assert _read(spark, scale, name).schema == inferred, (scale, name)


@pytest.mark.parametrize("scale", SCALES, ids=os.path.basename)
def test_document_ids_are_keys(spark, scale):
    """``minhash_banded`` needs ``documents.doc_id`` to be the table's key
    (each document one contiguous run of shingle rows)."""
    if not os.path.exists(f"{scale}/documents.parquet"):
        pytest.skip(f"no documents table at {scale}")
    docs = load_table(spark, scale, "documents")
    assert docs.filter("doc_id IS NULL").count() == 0
    assert docs.groupBy("doc_id").count().filter("count > 1").count() == 0


@pytest.mark.parametrize("layout", ["micros", "utc", "int96"])
@pytest.mark.parametrize(
    "name, column", [("orders", "o_orderdate"), ("lineitem", "l_shipdate")]
)
def test_timestamp_columns_follow_the_footer(spark, sf_dir, tmp_path, name, column, layout):
    """The TPC-H date columns are typed from the footer too: a rewrite in
    another timestamp layout still reads as Spark infers it."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pq.read_table(f"{sf_dir}/{name}.parquet")
    i = table.schema.get_field_index(column)
    tz = None if layout == "micros" else "UTC"
    table = table.set_column(i, column, table[column].cast(pa.timestamp("us", tz=tz)))
    pq.write_table(
        table, tmp_path / f"{name}.parquet", use_deprecated_int96_timestamps=layout == "int96"
    )
    inferred = spark.read.parquet(str(tmp_path / f"{name}.parquet")).schema
    got = _read(spark, str(tmp_path), name)
    assert got.schema == inferred
    assert got.count() == table.num_rows


@pytest.fixture()
def nanos_as_long(spark):
    prev = spark.conf.get(NANOS_AS_LONG)
    yield
    spark.conf.set(NANOS_AS_LONG, prev)


@pytest.mark.parametrize("layout", ["micros", "nanos", "utc", "int96"])
def test_events_ts_follows_the_footer(spark, tmp_path, nanos_as_long, layout):
    """``events.ts`` is typed from the footer: each layout reads as Spark
    infers it, and ``load_table`` yields the same µs TimestampType values
    (nanos truncated, as DuckDB's cast does)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.types import TimestampType

    tz = "UTC" if layout == "utc" else None
    unit = "ns" if layout == "nanos" else "us"
    ts = [
        dt.datetime(2024, 3, 1, 12, 30, 15, 123456),
        None,
        dt.datetime(1999, 12, 31, 23, 59, 59, 999999),
    ]
    arr = pa.array(ts, pa.timestamp("us", tz=tz)).cast(pa.timestamp(unit, tz=tz))
    if layout == "nanos":  # sub-µs digits the read must truncate
        arr = pa.array(
            [None if v is None else v + 789 for v in arr.cast(pa.int64()).to_pylist()],
            pa.int64(),
        ).cast(pa.timestamp("ns"))
    table = pa.table(
        {
            "event_id": pa.array([1, 2, 3], pa.int64()),
            "ts": arr,
            "user_id": pa.array([7, 8, 9], pa.int64()),
            "event_type": ["a", "b", "c"],
            "value": [1.0, 2.0, 3.0],
            "props": ["{}", "{}", "{}"],
        }
    )
    pq.write_table(
        table, tmp_path / "events.parquet", use_deprecated_int96_timestamps=layout == "int96"
    )
    spark.conf.set(NANOS_AS_LONG, "true")  # the only way Spark infers nanos
    inferred = spark.read.parquet(str(tmp_path / "events.parquet")).schema
    spark.conf.unset(NANOS_AS_LONG)
    assert _read(spark, str(tmp_path), "events").schema == inferred
    df = load_table(spark, str(tmp_path), "events")
    assert df.schema["ts"].dataType == TimestampType()
    got = [r["ts"] for r in df.orderBy("event_id").collect()]
    assert [v and v.replace(tzinfo=None) for v in got] == ts


def jobs_launched(spark, group, build):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return list(sc.statusTracker().getJobIdsForGroup(group))


def test_loading_tables_launches_no_jobs(spark, sf_dir):
    assert jobs_launched(
        spark, "load-tables", lambda: [load_table(spark, sf_dir, t) for t in TABLES]
    ) == []


@pytest.mark.parametrize("name", ["q_dedup_exact", "q_text_stats", "q_explode_wordcount"])
def test_building_queries_launches_no_jobs(spark, sf_dir, name):
    assert jobs_launched(spark, f"build-{name}", lambda: QUERIES[name](spark, sf_dir)) == []
