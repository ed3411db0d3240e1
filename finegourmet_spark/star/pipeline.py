"""End-to-end delicatessen pipeline: extract → conform → dims → fact → sinks.

Engine re-expression of the reference orchestration (main.py:19-127) with
materialization discipline: conformed frames are cached once before the
dim/fact fan-out — the reference recomputes full lineage for each of its 8
show()s and 4 JDBC writes (SURVEY.md §3.1, §4.5)."""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from finegourmet_spark.star import conform, dims, fact, sources
from finegourmet_spark.star.load import write_star


@dataclass
class PipelineResult:
    star: dict[str, DataFrame]
    audits: dict[str, DataFrame] = field(default_factory=dict)
    observations: dict[str, Observation] = field(default_factory=dict)

    def metrics(self) -> dict[str, dict]:
        """Observed data-quality metrics. Collected by the Observation API
        DURING the main pass — zero extra scans, unlike the reference's
        eight count()/show() re-executions (SURVEY.md §3.1).

        WARNING: ``Observation.get`` BLOCKS until an action has materialized
        the observed frame. Call this only after ``write_star`` (run_pipeline
        with ``out_dir``) or any other action on the fact — calling it on a
        never-materialized pipeline hangs rather than erroring."""
        return {name: obs.get for name, obs in self.observations.items()}


def run_pipeline(
    spark: SparkSession,
    sfcc_glob: str,
    cegid_path: str,
    products_glob: str,
    boutiques_path: str,
    out_dir: str | None = None,
) -> PipelineResult:
    # extract (single glob scans, explicit schemas)
    raw_sfcc = sources.read_sfcc(spark, sfcc_glob)
    sfcc_clean, sfcc_quarantine = sources.split_quarantine(raw_sfcc)
    cegid_clean, cegid_quarantine = sources.split_quarantine(
        sources.read_cegid(spark, cegid_path)
    )
    raw_products = sources.read_products(spark, products_glob)
    boutiques = sources.read_boutiques(spark, boutiques_path)

    # dims that conforming depends on
    dim_product = dims.build_dim_product(raw_products).cache()
    dim_store = dims.build_dim_store(boutiques)

    # conform (cached: consumed by dim_client + fact + audits)
    c_sfcc = conform.conform_sfcc(sfcc_clean, dim_product).cache()
    c_cegid = conform.conform_cegid(cegid_clean, dim_product).cache()

    dim_client = dims.build_dim_client(c_sfcc, c_cegid).cache()
    fact_sales = fact.build_fact_sales(c_sfcc, c_cegid, dim_client, dim_product)

    # in-flight data-quality metrics, measured during whatever action first
    # materializes the fact (no extra scan)
    fact_obs = Observation("fact_quality")
    fact_sales = fact_sales.observe(
        fact_obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("FK_Product_ID").isNull().cast("long")).alias("n_orphan_product_fk"),
        F.sum(F.col("FK_Client_ID").isNull().cast("long")).alias("n_anonymous_sales"),
        F.sum(F.col("Price").isNull().cast("long")).alias("n_null_prices"),
    )

    star = {
        "Dim_Client": dim_client,
        "Dim_Product": dim_product,
        "Dim_Store": dim_store,
        "Fact_Sales": fact_sales,
    }
    audits = {
        "sfcc_quarantine": sfcc_quarantine,
        "cegid_quarantine": cegid_quarantine,
        "missing_products": conform.audit_missing_products(c_cegid),
    }
    if out_dir:
        write_star(star, out_dir)
    return PipelineResult(
        star=star, audits=audits, observations={"fact_quality": fact_obs}
    )
