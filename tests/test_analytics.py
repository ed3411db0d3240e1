"""Dashboard analytics (SURVEY.md §2C) verified against DuckDB SQL over the
same written star-schema parquet."""

from __future__ import annotations

import duckdb
import pytest

from finegourmet_spark.star import analytics
from finegourmet_spark.star.load import read_star, write_star
from finegourmet_spark.star.pipeline import run_pipeline
from tests.fixtures_gen import write_fixtures
from tests.oracle_harness import canonical_rows


@pytest.fixture(scope="module")
def star_dir(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("delicatessen"))
    out = str(tmp_path_factory.mktemp("star"))
    res = run_pipeline(spark, **write_fixtures(root))
    write_star(res.star, out)
    return out


@pytest.fixture(scope="module")
def star(spark, star_dir):
    return read_star(spark, star_dir)


@pytest.fixture(scope="module")
def ddb(star_dir):
    con = duckdb.connect()
    for name in ("Dim_Client", "Dim_Product", "Dim_Store", "Fact_Sales"):
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{star_dir}/{name}/**/*.parquet')"
        )
    return con


def _assert_match(df, con, sql):
    cur = con.execute(sql)
    ocols = [d[0] for d in cur.description]
    orows = cur.fetchall()
    scols = df.columns
    assert sorted(scols) == sorted(ocols)
    assert canonical_rows(scols, [tuple(r) for r in df.collect()]) == canonical_rows(
        ocols, orows
    )


DSUM = "CAST(SUM(CAST(Price AS DECIMAL(18,4))) AS DOUBLE)"


def test_total_revenue(star, ddb):
    _assert_match(
        analytics.total_revenue(star["Fact_Sales"]),
        ddb,
        f"SELECT {DSUM} AS revenue FROM Fact_Sales",
    )


def test_revenue_by_type(star, ddb):
    _assert_match(
        analytics.revenue_by_type(star["Fact_Sales"]),
        ddb,
        f"SELECT Type, {DSUM} AS revenue FROM Fact_Sales GROUP BY Type",
    )


def test_revenue_by_month(star, ddb):
    _assert_match(
        analytics.revenue_by_month(star["Fact_Sales"]),
        ddb,
        f"""SELECT CAST(date_trunc('month', Date) AS DATE) AS month,
                   {DSUM} AS revenue
            FROM Fact_Sales GROUP BY 1""",
    )


def test_revenue_by_category(star, ddb):
    _assert_match(
        analytics.revenue_by_category(star["Fact_Sales"], star["Dim_Product"]),
        ddb,
        f"""SELECT p.Category, {DSUM.replace('Price', 'f.Price')} AS revenue
            FROM Fact_Sales f LEFT JOIN Dim_Product p ON f.FK_Product_ID = p.Product_ID
            GROUP BY p.Category""",
    )


def test_top_products(star, ddb):
    _assert_match(
        analytics.top_products(star["Fact_Sales"], star["Dim_Product"], k=3),
        ddb,
        f"""SELECT p.Name, {DSUM.replace('Price', 'f.Price')} AS revenue
            FROM Fact_Sales f JOIN Dim_Product p ON f.FK_Product_ID = p.Product_ID
            GROUP BY p.Name ORDER BY revenue DESC, p.Name LIMIT 3""",
    )


def test_store_share(star, ddb):
    _assert_match(
        analytics.store_share(star["Fact_Sales"], star["Dim_Store"]),
        ddb,
        f"""SELECT s.Name, {DSUM.replace('Price', 'f.Price')} AS revenue
            FROM Fact_Sales f JOIN Dim_Store s ON f.FK_Store_ID = s.Store_ID
            WHERE s.Name IS NOT NULL GROUP BY s.Name""",
    )


def test_client_ranking(star, ddb):
    _assert_match(
        analytics.client_ranking(star["Fact_Sales"], star["Dim_Client"]),
        ddb,
        f"""SELECT c.First_Name, c.Last_Name,
                   {DSUM.replace('Price', 'f.Price')} AS revenue,
                   COUNT(*) AS n_purchases
            FROM Fact_Sales f JOIN Dim_Client c ON f.FK_Client_ID = c.Client_ID
            WHERE c.Last_Name IS NOT NULL GROUP BY c.First_Name, c.Last_Name""",
    )


def test_sql_views_match_dataframe_analytics(spark, star):
    """The SQL catalog (BI-tool surface) and the DataFrame functions are the
    same queries: identical results on every dashboard entry."""
    from finegourmet_spark.star import sql_views

    sql_views.register_star_views(spark, star)
    df_fns = {
        "total_revenue": lambda: analytics.total_revenue(star["Fact_Sales"]),
        "revenue_by_type": lambda: analytics.revenue_by_type(star["Fact_Sales"]),
        "revenue_by_month": lambda: analytics.revenue_by_month(star["Fact_Sales"]),
        "revenue_by_category": lambda: analytics.revenue_by_category(
            star["Fact_Sales"], star["Dim_Product"]
        ),
        "top_products": lambda: analytics.top_products(
            star["Fact_Sales"], star["Dim_Product"], 10
        ),
        "store_share": lambda: analytics.store_share(star["Fact_Sales"], star["Dim_Store"]),
        "revenue_by_store_address": lambda: analytics.revenue_by_store_address(
            star["Fact_Sales"], star["Dim_Store"]
        ),
        "client_ranking": lambda: analytics.client_ranking(
            star["Fact_Sales"], star["Dim_Client"]
        ),
    }
    for name, fn in df_fns.items():
        sql_df = sql_views.run_analytics_sql(spark, name)
        a = canonical_rows(sql_df.columns, [tuple(r) for r in sql_df.collect()])
        dfr = fn()
        b = canonical_rows(dfr.columns, [tuple(r) for r in dfr.collect()])
        assert a == b, f"SQL vs DataFrame mismatch for {name}"


def test_star_schemas_match_written_star(spark, star_dir):
    """The pinned schemas are exactly what Spark infers from the files
    write_star wrote."""
    from finegourmet_spark.star.schemas import STAR_SCHEMAS

    for name, schema in STAR_SCHEMAS.items():
        assert spark.read.parquet(f"{star_dir}/{name}").schema == schema, name


def test_building_dashboard_queries_launches_no_jobs(spark, star_dir):
    """read_star plus every dashboard query is built without a Spark job:
    the pinned schemas leave no footer to infer."""
    import inspect

    sc = spark.sparkContext
    group = "star-build-no-jobs"
    sc.setJobGroup(group, "build the dashboard queries")
    try:
        star = read_star(spark, star_dir)
        tables = {"fact": star["Fact_Sales"], "dim_product": star["Dim_Product"],
                  "dim_store": star["Dim_Store"], "dim_client": star["Dim_Client"]}
        for fn in analytics.ALL.values():
            params = inspect.signature(fn).parameters.values()
            fn(*[tables[p.name] for p in params if p.default is inspect.Parameter.empty])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
