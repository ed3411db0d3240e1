"""Python-boundary operators: vectorized Pandas UDFs and grouped UDAFs.

UDFs are the engine's slow path (SURVEY.md preamble): everything here is
Arrow-batched (`pandas_udf` / `applyInPandas`), never row-at-a-time Python.
Each UDF has a native-expression twin used as the DuckDB oracle, proving the
Python path computes exactly what the declarative path would (the ref's phone
normalizer X4, etl/transform.py:72-87, is validated the same way in
finegourmet_spark/star/).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType, LongType

from finegourmet_spark.operators.registry import query
from finegourmet_spark.sources.testdata import load_table as t


@pandas_udf(LongType())
def token_count_udf(text: pd.Series) -> pd.Series:
    """Vectorized token count (split on single space, keeping empties —
    exactly `len(string_split(text,' '))`). NULL in → NULL out, matching the
    declarative twin (a bare .map(len) would throw on the NaN a null
    becomes)."""
    return text.str.split(" ").map(lambda t: len(t) if isinstance(t, list) else None).astype(
        "Int64"
    )


@pandas_udf(DoubleType())
def char_per_token_udf(text: pd.Series) -> pd.Series:
    """chars / tokens as one IEEE double division (engine-portable);
    null-propagating like the SQL expression."""
    n_chars = text.str.len()
    n_toks = text.str.split(" ").map(lambda t: len(t) if isinstance(t, list) else None)
    return (n_chars.astype("float64") / n_toks.astype("float64")).where(text.notna())


@query(
    "q_udf_scalar",
    oracle="""
    SELECT doc_id,
           len(string_split(text, ' ')) AS n_tokens,
           CAST(length(text) AS DOUBLE) / len(string_split(text, ' ')) AS chars_per_token,
           CASE WHEN length(text) < 100 THEN 'short'
                WHEN length(text) < 300 THEN 'medium'
                ELSE 'long' END AS len_bucket
    FROM documents
    """,
)
def q_udf_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDF surface, both tiers against one declarative oracle:
    Arrow-vectorized pandas UDFs for the counts/ratios (the ONLY acceptable
    hot-path form) plus one row-at-a-time ``@udf`` (len_bucket) kept as the
    reference anti-pattern — same semantics, ~10-100× slower per the serde
    cost; its presence documents the surface, its docstring is the warning."""
    from pyspark.sql.functions import udf
    from pyspark.sql.types import StringType

    # no type hints: PySpark 4 reads them to infer an Arrow eval type and
    # warns when a row-at-a-time @udf carries them
    @udf(StringType())
    def len_bucket_udf(text):
        if text is None:
            return None
        n = len(text)
        return "short" if n < 100 else ("medium" if n < 300 else "long")

    d = t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        token_count_udf(F.col("text")).alias("n_tokens"),
        char_per_token_udf(F.col("text")).alias("chars_per_token"),
        len_bucket_udf(F.col("text")).alias("len_bucket"),
    )


@query(
    "q_udaf",
    oracle="""
    SELECT lang,
           COUNT(*) AS n_docs,
           MIN(n_chars) AS min_chars,
           MAX(n_chars) AS max_chars,
           COUNT(DISTINCT source) AS n_sources
    FROM documents
    GROUP BY lang
    """,
)
def q_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped custom aggregation via applyInPandas (UDAF surface). The
    aggregate outputs are order-independent statistics (count/min/max/
    distinct) so the Python path hash-matches the SQL oracle regardless of
    shuffle arrival order."""
    d = t(spark, sf_dir, "documents").select("lang", "n_chars", "source")

    def agg_group(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "lang": [pdf["lang"].iloc[0]],
                "n_docs": [len(pdf)],
                "min_chars": [pdf["n_chars"].min()],
                "max_chars": [pdf["n_chars"].max()],
                "n_sources": [pdf["source"].nunique()],
            }
        )

    return d.groupBy("lang").applyInPandas(
        agg_group,
        schema="lang string, n_docs bigint, min_chars bigint, max_chars bigint, n_sources bigint",
    )


@query(
    "q_map_in_pandas",
    oracle="""
    SELECT doc_id, length(text) AS text_len
    FROM documents WHERE length(text) > 200
    """,
)
def q_map_in_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInPandas: per-partition Arrow batch iterator (the escape hatch for
    custom scans/operators — SURVEY.md 'custom operators' tier (b))."""
    d = t(spark, sf_dir, "documents").select("doc_id", "text")

    def batches(it):
        for pdf in it:
            out = pd.DataFrame(
                {"doc_id": pdf["doc_id"], "text_len": pdf["text"].str.len().astype("int64")}
            )
            yield out[out["text_len"] > 200]

    return d.mapInPandas(batches, schema="doc_id long, text_len bigint")


# Installment plan fan-out: every order splits into N_INSTALLMENTS rows whose
# cents sum back to the order total exactly (largest-remainder distribution).
N_INSTALLMENTS = 3


@query(
    "q_udtf_installments",
    oracle=f"""
    WITH c AS (
      SELECT o_orderkey,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      FROM orders
    ), g AS (
      SELECT unnest(generate_series(1, {N_INSTALLMENTS})) AS inst_no
    )
    SELECT o_orderkey, CAST(g.inst_no AS INT) AS inst_no,
           CAST(cents // {N_INSTALLMENTS}
                + CASE WHEN g.inst_no <= cents % {N_INSTALLMENTS}
                       THEN 1 ELSE 0 END AS BIGINT) AS inst_cents
    FROM c CROSS JOIN g
    """,
)
def q_udtf_installments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (Spark 4 user-defined TABLE function) via LATERAL: each
    order fans out into N_INSTALLMENTS payment rows, cents distributed by
    largest remainder so each plan sums back to its order total exactly —
    the row-generating Python surface that completes the UDF (scalar) /
    UDAF (grouped) / mapInPandas (partition) family.

    The UDTF is declared ``useArrow=True``: the physical plan carries
    ArrowEvalPythonUDTF (Arrow-batched serialization like every Python
    boundary here), NOT the row-pickling BatchEvalPythonUDTF. The oracle
    is the declarative twin (generate_series cross join + CASE), proving
    the imperative generator emits exactly what the relational form would;
    the ×N fan-out is bounded, per-row independent, and shuffle-free.

    Scale posture, measured honestly: Arrow batching removes the
    serialization tax but a table function still EVALUATES per input row
    (~65 µs/row of Python generator overhead at sf1) — that is inherent
    to the UDTF contract, so (a) the input repartitions to full core
    count before the LATERAL (the scan alone under-splits: a 40 MB
    parquet file yields 6 tasks — shuffling 1.5M skinny rows costs ~1%
    of the Python time it parallelizes), and (b) at 100 TB you run the
    oracle's relational form (this op exists to verify the UDTF surface
    agrees with it, not to recommend the UDTF for bulk fan-out)."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="inst_no: int, inst_cents: bigint", useArrow=True)
    class Installments:
        def eval(self, cents: int):
            # NULL totals still emit N rows with NULL inst_cents — the exact
            # shape the oracle's CROSS JOIN produces (r3 ADVICE: returning
            # zero rows would make the order vanish on the Spark side only)
            if cents is None:
                for i in range(1, N_INSTALLMENTS + 1):
                    yield i, None
                return
            base, rem = divmod(cents, N_INSTALLMENTS)
            for i in range(1, N_INSTALLMENTS + 1):
                yield i, base + (1 if i <= rem else 0)

    spark.udtf.register("fg_installments", Installments)
    t(spark, sf_dir, "orders").select(
        "o_orderkey",
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("cents"),
    ).repartition(spark.sparkContext.defaultParallelism).createOrReplaceTempView(
        "orders_udtf"
    )
    return spark.sql(
        """
        SELECT o.o_orderkey, i.inst_no, i.inst_cents
        FROM orders_udtf o, LATERAL fg_installments(o.cents) i
        """
    )
