"""Source readers for the delicatessen pipeline — single glob scans with
explicit schemas and a quarantine channel.

vs the reference (SURVEY.md §2A S1-S5, §4.3):
  * one glob scan per source family instead of a driver-side os.listdir loop
    unioning per-file scans (ref etl/extract.py:55-93) — at 100 TB the
    listing/planning is catalog work, not a Python loop;
  * no inferSchema (ref triggers an extra Spark job per file);
  * PERMISSIVE mode + _corrupt_record rescue column: malformed rows (e.g.
    the leading-space-before-quote rows the reference silently column-shifts,
    data/salesforces/202403_sfcc_sales.csv:8) and unparseable CEGID shards
    are quarantined, not mangled.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, DataFrameReader, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from finegourmet_spark.star.schemas import (
    CEGID_SCHEMA,
    CORRUPT_COL,
    PRODUCT_SCHEMA,
    SFCC_SCHEMA,
)


def _permissive(spark: SparkSession, schema: StructType) -> DataFrameReader:
    """Reader for ``schema`` plus the _corrupt_record rescue column, in
    PERMISSIVE mode."""
    # fresh StructType — StructType.add would mutate the shared module schema
    fields = list(schema.fields) + [StructField(CORRUPT_COL, StringType(), True)]
    return (
        spark.read.schema(StructType(fields))
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
    )


def read_sfcc(spark: SparkSession, pattern: str) -> DataFrame:
    """All SFCC monthly CSVs in one scan (``pattern`` like
    ``dir/*_sfcc_sales.csv``). Returns raw staging columns + _corrupt_record
    + _src_file provenance (replaces the per-file union loop,
    ref etl/extract.py:55-93)."""
    return (
        _permissive(spark, SFCC_SCHEMA)
        .option("header", "true")
        .csv(pattern)
        .withColumn("_src_file", F.input_file_name())
    )


def split_quarantine(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(clean, quarantined) — quarantined rows keep the raw record for audit
    (engine replacement for the ref's silent mangling / show() audits).

    Only the quarantine is cached. Spark refuses plans that reference ONLY
    the internal corrupt-record column (QUERY_ONLY_CORRUPT_RECORD_COLUMN —
    e.g. a pruned quarantine count()); the cache is built from unpruned
    rows. The clean side stays uncached: the pipeline caches the frames it
    conforms from it, so a raw-row cache would be a second copy of the
    source and one more job per pass. An audit that reads the quarantine
    parses the source once more."""
    clean = df.filter(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)
    quarantined = df.filter(F.col(CORRUPT_COL).isNotNull()).cache()
    return clean, quarantined


def read_cegid(spark: SparkSession, path: str) -> DataFrame:
    """CEGID yearly multiline-JSON arrays (ref etl/extract.py:95-104), one
    or more shards, with an explicit all-string schema (price arrives as
    number OR the literal 'x' — inference would make the column a string
    some years and a double others) + _corrupt_record.

    A shard that does not parse (truncated, or starting with a UTF-8 BOM,
    see below) is ONE corrupt record holding the shard's text; pass the
    result through ``split_quarantine``. Without the rescue column that
    record is an all-NULL row, which became a phantom Online sale with a
    NULL Sale_ID.

    The explicit ``encoding`` is for speed. Without it Spark detects the
    charset from the bytes and hands Jackson a byte stream; with
    ``spark.sql.json.enableExactStringParsing`` on (Spark 4.1's default),
    every JSON number read into a string column then costs one positioned
    re-read of the file to recover the token's exact text. With an encoding
    Spark gives Jackson a Reader and the token is copied from its buffer:
    reading one column of 30,049 seeded records (local[2] on a 4-core VM,
    warm), quantity went from 1.5 to 0.15 s and price from 1.3-1.5 to
    0.15-0.18 s, while the string columns stayed at 0.10-0.14 s. The rows
    are identical either way: the same token text lands in the column, and
    price and quantity only pass through ``try_cast`` downstream. What
    changes is the BOM: byte-stream detection skips it, the UTF-8 Reader
    hands it to Jackson as a character, so a BOM-prefixed shard is
    quarantined instead of read."""
    return (
        _permissive(spark, CEGID_SCHEMA)
        .option("multiline", "true")
        .option("encoding", "UTF-8")
        .json(path)
    )


def read_products(spark: SparkSession, pattern: str) -> DataFrame:
    """Product reference CSVs in one glob scan, with file provenance for the
    survivor policy (latest file wins — ref dropDuplicates keeps an arbitrary
    one, etl/transform.py:296)."""
    return (
        spark.read.schema(PRODUCT_SCHEMA)
        .option("header", "true")
        .csv(pattern)
        .withColumn("_src_file", F.input_file_name())
    )


def read_boutiques(spark: SparkSession, path: str) -> DataFrame:
    """Pipe-delimited store file with a misleading .csv extension, a
    comma-separated header line, and quoted comma-containing addresses
    (data/boutiques/2025_boutiques.csv:1-3).

    Spark-first replacement for the ref's text-scan + first() + regex
    (etl/extract.py:134-153): read with sep='|' and no header — the comma
    header parses into a single-field row (store_name IS NULL) and is
    filtered declaratively, no driver-side first() materialization."""
    df = (
        spark.read.schema("store_id string, store_name string, address string")
        .option("sep", "|")
        .option("quote", "")
        .csv(path)
    )
    from finegourmet_spark.functions.cleaning import unquote

    return df.filter(F.col("store_name").isNotNull()).select(
        F.col("store_id"),
        F.col("store_name"),
        unquote(F.col("address")).alias("address"),
    )
