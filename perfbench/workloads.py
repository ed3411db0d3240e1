"""The benchmark's workloads and their output checks.

``llm_curation`` runs six registered queries over the engine's sf0.1
``documents`` and ``embeddings`` fixtures, committed under ``fixtures/``;
the seed permutes the order of the queries in each pass. ``etl_star`` runs
the delicatessen ETL on raw sources that ``stargen`` writes from the seed:
build and write the star, merge a keyed delta, then run the dashboard's
analytics over the written star.

Every operation is an ``Op``: ``construct`` builds (the benchmark's call
into the package that returns a plan), ``execute`` runs it, and ``check``
compares what came out with an independent expectation, untimed.
"""

from __future__ import annotations

import datetime as dt
import inspect
import os
import random
import shutil
from dataclasses import dataclass
from decimal import Decimal
from typing import Any, Callable

import stargen

LLM = [
    "q_dedup_exact", "q_dedup_minhash", "q_dedup_simhash", "q_similarity_topk",
    "q_text_stats", "q_explode_wordcount",
]
FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")
FIXTURE_TABLES = ("documents", "embeddings")
# Output rows, on the fixtures, of the two queries without a DuckDB oracle:
# the MinHash candidate pairs and one SimHash signature per document
EXPECTED_ROWS = {"q_dedup_minhash": 256, "q_dedup_simhash": 5000}


@dataclass
class Op:
    name: str
    construct: Callable[[], Any]
    execute: Callable[[Any], Any]
    check: Callable[[Any, Any], list[str]]
    # applied to what ``construct`` built before the checked execution, so
    # that ``check`` can read the executed result instead of recomputing it
    keep: Callable[[Any], Any] = lambda built: built


def _noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class LlmWorkload:
    """The LLM-data queries over the committed fixtures.

    Their checks read only the query's own output, so they may run on a
    worker thread while the next query executes."""

    concurrent_checks = True
    # pass times settle one pass after the check pass
    warm_passes = 1

    def __init__(self) -> None:
        self.out_bytes = 0

    def setup(self, spark, work_dir: str, seed: int) -> None:
        """Lay the fixtures out as an sf directory. The DuckDB oracles
        declare a view over every test table, so the tables these queries
        never read are written empty."""
        import pyarrow as pa
        import pyarrow.parquet as pq
        from finegourmet_spark.sources.testdata import TABLES, load_table

        self.spark = spark
        self.sf_dir = os.path.join(work_dir, "tables")
        os.makedirs(self.sf_dir, exist_ok=True)
        self.in_rows = self.in_bytes = 0
        for t in TABLES:
            path = os.path.join(self.sf_dir, f"{t}.parquet")
            if t in FIXTURE_TABLES:
                shutil.copyfile(os.path.join(FIXTURES, f"{t}.parquet"), path)
                self.in_rows += pq.ParquetFile(path).metadata.num_rows
                self.in_bytes += os.path.getsize(path)
            else:
                pq.write_table(pa.table({"unused": pa.array([], pa.int32())}), path)
        self.rng = random.Random(seed)
        for t in FIXTURE_TABLES:  # reads each footer, as a user's first query would
            load_table(spark, self.sf_dir, t)

    def ops(self) -> list[Op]:
        import __spark_entry__ as contract

        queries, oracles = contract.queries(), contract.oracle_sql()
        names = list(LLM)
        self.rng.shuffle(names)
        return [
            Op(n, lambda n=n: queries[n](self.spark, self.sf_dir), _noop_write,
               lambda df, _out, n=n: self._check(n, df, oracles.get(n)),
               keep=lambda df: df.cache())
            for n in names
        ]

    def _check(self, name: str, df, oracle: str | None) -> list[str]:
        from oracle_harness import compare

        try:
            table = df.toArrow()
            self.out_bytes += table.nbytes
            if oracle is not None:
                return compare(df, oracle, self.sf_dir)
            want = EXPECTED_ROWS[name]
            return [] if table.num_rows == want else [f"{table.num_rows} rows, expected {want}"]
        finally:
            df.unpersist()

    def layer_metrics(self, records: list[dict]) -> dict[str, float]:
        return {}


class StarWorkload:
    """Raw sources -> star (parquet, zstd) -> keyed merge -> analytics.

    Each step rewrites the star the next one reads, so each check runs
    before the next step."""

    concurrent_checks = False
    # pass times settle at the first pass after the check pass
    warm_passes = 0

    def __init__(self, scale: float) -> None:
        self.sales = max(240, int(30_000 * scale))

    def setup(self, spark, work_dir: str, seed: int) -> None:
        self.spark = spark
        self.gen = stargen.generate(os.path.join(work_dir, "sources"), self.sales, seed)
        self.out_dir = os.path.join(work_dir, "star")
        self.in_rows, self.in_bytes = self.gen["in_rows"], self.gen["in_bytes"]
        self.rng = random.Random(seed)
        for pattern in self.gen["paths"].values():
            spark.read.text(pattern).count()

    @property
    def out_bytes(self) -> int:
        total = 0
        for root, _dirs, files in os.walk(self.out_dir):
            total += sum(os.path.getsize(os.path.join(root, f)) for f in files if f.endswith(".parquet"))
        return total

    def out_files(self) -> int:
        return sum(
            f.endswith(".parquet") for _r, _d, files in os.walk(self.out_dir) for f in files
        )

    def ops(self) -> list[Op]:
        from finegourmet_spark.star import analytics, load, pipeline

        spark, out = self.spark, self.out_dir
        order = list(analytics.ALL)
        self.rng.shuffle(order)

        def build(name):
            star = load.read_star(spark, out)
            tables = {"fact": star["Fact_Sales"], "dim_product": star["Dim_Product"],
                      "dim_store": star["Dim_Store"], "dim_client": star["Dim_Client"]}
            fn = analytics.ALL[name]
            params = [p for p in inspect.signature(fn).parameters.values()
                      if p.default is inspect.Parameter.empty]
            return fn(*[tables[p.name] for p in params])

        return [
            Op("write", lambda: pipeline.run_pipeline(spark, **self.gen["paths"]),
               lambda res: load.write_star(res.star, out), self._check_write),
            Op("merge", self._delta,
               lambda delta: load.merge_by_key(spark, out, delta), self._check_merge),
        ] + [
            Op(f"analytics.{name}", lambda name=name: build(name), lambda df: df.collect(),
               lambda _df, rows, name=name: self._check_analytics(name, rows))
            for name in order
        ]

    def _delta(self):
        from pyspark.sql import types as T

        schema = T.StructType([
            T.StructField("Sale_ID", T.StringType()),
            T.StructField("Quantity", T.IntegerType()),
            T.StructField("Price", T.DecimalType(10, 2)),
            T.StructField("Type", T.StringType()),
            T.StructField("Date", T.DateType()),
            T.StructField("FK_Client_ID", T.IntegerType()),
            T.StructField("FK_Product_ID", T.StringType()),
            T.StructField("FK_Store_ID", T.StringType()),
        ])
        rows = [
            (sid, 1, price, "Online", dt.date.fromisoformat(date), None, pid, None)
            for sid, date, price, pid in self.gen["delta_rows"]
        ]
        return self.spark.createDataFrame(rows, schema)

    def _fact_totals(self) -> tuple[int, Decimal, int]:
        from pyspark.sql import functions as F

        row = self.spark.read.parquet(f"{self.out_dir}/Fact_Sales").agg(
            F.count(F.lit(1)).alias("n"), F.sum("Price").alias("revenue"),
            F.sum(F.col("FK_Product_ID").isNull().cast("long")).alias("orphans"),
        ).first()
        return row["n"], row["revenue"], row["orphans"]

    def _check_write(self, res, _out) -> list[str]:
        want = self.gen["expect"]
        got = {name: self.spark.read.parquet(f"{self.out_dir}/{name}").count()
               for name in ("Dim_Client", "Dim_Product", "Dim_Store")}
        got["Fact_Sales"], got["revenue"], got["orphan_fk"] = self._fact_totals()
        got["quarantine"] = res.audits["sfcc_quarantine"].count()
        self.fact_rows, self.quarantine_rows = got["Fact_Sales"], got["quarantine"]
        return [f"{k}: {v} != expected {want[k]}" for k, v in got.items() if v != want[k]]

    def _check_merge(self, _delta, _out) -> list[str]:
        want = self.gen["expect"]
        n, revenue, orphans = self._fact_totals()
        got = {"merged_rows": n, "merged_revenue": revenue, "orphan_fk": orphans}
        return [f"{k}: {v} != expected {want[k]}" for k, v in got.items() if v != want[k]]

    def _check_analytics(self, name: str, rows) -> list[str]:
        want = self.gen["expect"]
        total, stores = float(want["merged_revenue"]), float(want["store_revenue"])
        expected = {
            "total_revenue": total, "revenue_by_type": total, "revenue_by_month": total,
            "revenue_by_category": total, "store_share": stores,
            "revenue_by_store_address": stores,
        }
        if name in expected:
            got = sum(r["revenue"] or 0.0 for r in rows)
            return [] if abs(got - expected[name]) <= 0.005 else [f"revenue {got} != expected {expected[name]}"]
        if name == "top_products":
            want_rows = min(10, want["Dim_Product"])
            return [] if len(rows) == want_rows else [f"{len(rows)} rows, expected {want_rows}"]
        return [] if rows else ["no rows"]

    def layer_metrics(self, records: list[dict]) -> dict[str, float]:
        by_op = {r["op"]: r for r in records}
        write = by_op.get("write", {})
        return {
            "star.build_s": write.get("construct_span_s", 0.0),
            "star.write_s": write.get("exec_span_s", 0.0),
            "star.write_jobs": write.get("exec_jobs", 0),
            "star.merge_s": by_op.get("merge", {}).get("wall_s", 0.0),
            "star.analytics_s": sum(
                r["wall_s"] for r in records if r["op"].startswith("analytics.")
            ),
            "star.out_files": self.out_files(),
            "star.out_bytes": self.out_bytes,
            "star.fact_rows": self.fact_rows,
            "star.quarantine_rows": self.quarantine_rows,
        }


def make(name: str, scale: float):
    """The workload called ``name``; ``scale`` sizes ``etl_star``'s sources
    (1 is the benchmark's size)."""
    if name == "llm_curation":
        return LlmWorkload()
    if name == "etl_star":
        return StarWorkload(scale)
    raise ValueError(f"unknown workload {name!r}")
