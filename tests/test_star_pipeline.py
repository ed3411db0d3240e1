"""Golden end-to-end test of the delicatessen star-schema pipeline on
synthetic fixtures reproducing the reference's anomaly taxonomy
(FIXTURES.md §5 assertions)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from finegourmet_spark.star.pipeline import run_pipeline
from tests.fixtures_gen import write_fixtures
from tests.test_reference_data_integration import REF_DATA


@pytest.fixture(scope="module")
def result(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("delicatessen"))
    paths = write_fixtures(root)
    return run_pipeline(spark, **paths)


def test_dim_product_latest_file_wins(result):
    dim = {r["Product_ID"]: r for r in result.star["Dim_Product"].collect()}
    assert len(dim) == 5  # P000001-5: union of both files, deduped
    assert dim["P000001"]["Price"] == 11.50  # 2025 file survives, not 10.90
    assert dim["P000005"]["Category"] == "charcuterie"


def test_dim_store(result):
    stores = result.star["Dim_Store"].collect()
    assert len(stores) == 5
    byid = {r["Store_ID"]: r for r in stores}
    # quoted comma-containing address parsed intact through the pipe format
    assert byid["PA01"]["Address"] == "12 Rue des Francs Bourgeois, 75003 Paris"


def test_dim_client_collapse_and_keys(result):
    clients = result.star["Dim_Client"].collect()
    emails = sorted(r["Email"] for r in clients)
    # 5 sfcc clients (dupont counted once; leroy quarantined with his row;
    # emma normalized from mixed case) + 1 cegid-only store client
    assert emails == [
        "emma.bernard@gmail.com",
        "isabelle.dupont@gmail.com",
        "luc.martin@gmail.com",
        "nina.petit@gmail.com",
        "store.client@gmail.com",
    ]
    ids = sorted(r["Client_ID"] for r in clients)
    assert ids == list(range(1, len(clients) + 1))  # dense 1..N
    byemail = {r["Email"]: r for r in clients}
    # CEGID-only client has all-null attributes (ref etl/transform.py:327-331)
    store_client = byemail["store.client@gmail.com"]
    assert store_client["Last_Name"] is None and store_client["Phone"] is None
    # SFCC attributes survive the collapse deterministically
    assert byemail["isabelle.dupont@gmail.com"]["Last_Name"] == "Dupont"


def test_phone_normalization(result):
    byemail = {r["Email"]: r for r in result.star["Dim_Client"].collect()}
    assert byemail["isabelle.dupont@gmail.com"]["Phone"] == "+33612345678"
    # 8-digit-after-strip phone fails the 9-digit rule → NULL (ref X4)
    assert byemail["nina.petit@gmail.com"]["Phone"] is None


def test_quarantine_not_mangled(result):
    # the leading-space-before-quote SFCC row is quarantined, not column-shifted
    q = result.audits["sfcc_quarantine"].collect()
    assert len(q) == 1
    assert q[0]["sale_id"] == "S00006"


def test_control_chars_scrubbed(result):
    byemail = {r["Email"]: r for r in result.star["Dim_Client"].collect()}
    assert byemail["luc.martin@gmail.com"]["Last_Name"] == "Martin Jean"


def test_fact_rows_and_type_split(result):
    fact = result.star["Fact_Sales"].collect()
    # 5 clean SFCC rows (1 quarantined) + 7 CEGID rows
    assert len(fact) == 12
    by_id = {r["Sale_ID"]: r for r in fact}
    # Type rule: Online ⇔ FK_Store_ID IS NULL (ref etl/loader.py:55-57);
    # the unrepairable ZZZZ store lands Online by that rule
    assert by_id["ZZZZ240300002"]["Type"] == "Online"
    assert by_id["PA01240100001"]["Type"] == "Store"
    n_online = sum(1 for r in fact if r["Type"] == "Online")
    assert n_online == 5 + 1


def test_sale_id_repair_and_dedup_suffix(result):
    ids = {r["Sale_ID"] for r in result.star["Fact_Sales"].collect()}
    # XX repair preserves the reference's EXACT semantics (etl/transform.py:
    # 185-220): '{CODE}01' + substr(6) — the 5th char is dropped, so
    # XXMO240100002 → MO01 + '40100002' (reference quirk, reproduced)
    assert "MO0140100002" in ids and "XXMO240100002" not in ids
    assert "BO02240800001" in ids and "BO02240800001_2" in ids  # dup suffix
    # deterministic survivor: earliest date keeps the bare id
    rows = {
        r["Sale_ID"]: r
        for r in result.star["Fact_Sales"].collect()
        if r["Sale_ID"].startswith("BO02240800001")
    }
    assert str(rows["BO02240800001"]["Date"]) == "2024-08-01"


def test_price_semantics(result):
    by_id = {r["Sale_ID"]: r for r in result.star["Fact_Sales"].collect()}
    # CEGID price is the line total, kept as-is
    assert float(by_id["PA01240100001"]["Price"]) == 21.80
    # invalid "x" price → NULL → repaired with UNIT reference price (ref X8,
    # 2025 survivor price 11.50 — quantity NOT re-extended, ref semantics)
    assert float(by_id["LY01240200001"]["Price"]) == 11.50
    # SFCC price = unit price from product dim, Quantity forced to 1
    assert by_id["S00001"]["Quantity"] == 1
    assert float(by_id["S00001"]["Price"]) == 11.50


def test_fk_integrity_and_missing_product_audit(result):
    fact = result.star["Fact_Sales"]
    # exactly one orphan FK_Product_ID: the deliberately-missing product
    orphans = fact.filter(F.col("FK_Product_ID").isNull()).collect()
    assert len(orphans) == 1 and orphans[0]["Sale_ID"] == "ST01240300001"
    audit = result.audits["missing_products"].collect()
    assert len(audit) == 1 and audit[0]["Product_Name"] == "Produit Fantome"
    # every named client FK resolves
    n_clients = result.star["Dim_Client"].count()
    fks = {r["FK_Client_ID"] for r in fact.collect() if r["FK_Client_ID"] is not None}
    assert fks <= set(range(1, n_clients + 1))


def test_email_normalized_before_join(result):
    """The ref normalizes dim emails AFTER fact-side normalization (ordering
    bug, SURVEY.md §3.3.2). Engine normalizes once upstream: the mixed-case
    ' EMMA.Bernard@GMAIL.com ' row must join to its client."""
    fact = result.star["Fact_Sales"]
    emma_sale = fact.filter(F.col("Sale_ID") == "S00003").collect()[0]
    assert emma_sale["FK_Client_ID"] is not None


def test_roundtrip_parquet(spark, result, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("star_out"))
    from finegourmet_spark.star.load import read_star, write_star

    write_star(result.star, out)
    back = read_star(spark, out)
    assert back["Fact_Sales"].count() == 12
    assert "Sale_Month" in back["Fact_Sales"].columns  # partition column
    months = {r["Sale_Month"] for r in back["Fact_Sales"].select("Sale_Month").collect()}
    assert "2024-01" in months and "2024-08" in months


def test_backfill_replaces_only_target_month(spark, result, tmp_path_factory):
    """Dynamic partition overwrite: a delta containing only August rows
    rewrites the 2024-08 partition and leaves other months untouched."""
    from pyspark.sql import functions as F

    from finegourmet_spark.star.load import backfill_months, read_star, write_star

    out = str(tmp_path_factory.mktemp("star_backfill"))
    write_star(result.star, out)
    before = read_star(spark, out)["Fact_Sales"]
    n_before = before.count()
    n_aug_before = before.filter(F.col("Sale_Month") == "2024-08").count()

    # rerun August only — same rows, so totals must be unchanged (idempotent)
    aug = result.star["Fact_Sales"].filter(F.date_format("Date", "yyyy-MM") == "2024-08")
    backfill_months(aug, out)
    after = read_star(spark, out)["Fact_Sales"]
    assert after.count() == n_before
    assert after.filter(F.col("Sale_Month") == "2024-08").count() == n_aug_before
    # and a shrunken delta replaces (not appends to) its partition
    one_row = aug.limit(1)
    backfill_months(one_row, out)
    again = read_star(spark, out)["Fact_Sales"]
    assert again.filter(F.col("Sale_Month") == "2024-08").count() == 1
    assert again.filter(F.col("Sale_Month") != "2024-08").count() == n_before - n_aug_before


def test_jdbc_mirror_roundtrip(spark, result):
    """Real JDBC sink (S6): mirror the star to an embedded Derby database and
    read it back through spark.read.jdbc — proves the write path end-to-end
    without a MySQL server (the JDBC URL/driver are parameters; see
    star/load.py::mirror_to_jdbc)."""
    from finegourmet_spark.star.load import mirror_to_jdbc

    url = "jdbc:derby:memory:startest;create=true"
    props = {"driver": "org.apache.derby.iapi.jdbc.AutoloadedDriver"}
    mirror_to_jdbc(result.star, url, props)
    back = spark.read.jdbc(url, "Fact_Sales", properties=props)
    assert back.count() == result.star["Fact_Sales"].count()
    assert set(c.upper() for c in back.columns) == {
        "SALE_ID", "QUANTITY", "PRICE", "TYPE", "DATE",
        "FK_CLIENT_ID", "FK_PRODUCT_ID", "FK_STORE_ID",
    }
    # idempotent: mirroring again must not duplicate rows (overwrite, not
    # the reference's blind append — SURVEY.md §3.3.4)
    mirror_to_jdbc(result.star, url, props)
    assert spark.read.jdbc(url, "Fact_Sales", properties=props).count() == back.count()


def test_merge_by_key_upserts_within_month(spark, result, tmp_path_factory):
    """Keyed MERGE: an updated row replaces its key, a new key appends, other
    months untouched."""
    from pyspark.sql import functions as F

    from finegourmet_spark.star.load import merge_by_key, read_star, write_star

    out = str(tmp_path_factory.mktemp("star_merge"))
    write_star(result.star, out)
    fact = result.star["Fact_Sales"]
    n_before = fact.count()

    updated = (
        fact.filter(F.col("Sale_ID") == "PA01240100001")
        .drop("Sale_Month")
        .withColumn("Price", F.lit(99.99).cast("decimal(10,2)"))
    )
    new_row = (
        fact.filter(F.col("Sale_ID") == "PA01240100001")
        .drop("Sale_Month")
        .withColumn("Sale_ID", F.lit("PA01240100999"))
    )
    merge_by_key(spark, out, updated.unionByName(new_row))

    back = read_star(spark, out)["Fact_Sales"]
    assert back.count() == n_before + 1
    assert float(
        back.filter(F.col("Sale_ID") == "PA01240100001").collect()[0]["Price"]
    ) == 99.99
    assert back.filter(F.col("Sale_ID") == "PA01240100999").count() == 1
    # untouched month intact
    assert back.filter(F.col("Sale_Month") == "2024-08").count() == 2


def test_merge_by_key_rejects_month_moving_keys(spark, result, tmp_path_factory):
    """A delta that moves an existing Sale_ID to a different month must fail
    loudly (ADVICE r1: month-scoped merge would otherwise leave the old row
    alive in its original month → duplicate key)."""
    import pytest
    from pyspark.sql import functions as F

    from finegourmet_spark.star.load import merge_by_key, write_star

    out = str(tmp_path_factory.mktemp("star_merge_guard"))
    write_star(result.star, out)
    fact = result.star["Fact_Sales"]
    moved = (
        fact.filter(F.col("Sale_ID") == "PA01240100001")
        .drop("Sale_Month")
        .withColumn("Date", F.add_months(F.col("Date"), 6))
    )
    with pytest.raises(ValueError, match="months outside the delta"):
        merge_by_key(spark, out, moved)
    # with validation off the merge is the caller's responsibility
    merge_by_key(spark, out, moved, validate_immutable_dates=False)


def test_compact_partitions_reduces_files_preserves_rows(spark, result, tmp_path_factory):
    """Compaction rewrites a fragmented month into fewer files with
    identical content; untouched months keep their files."""
    import glob

    from pyspark.sql import functions as F

    from finegourmet_spark.star.load import compact_partitions, read_star, write_star

    out = str(tmp_path_factory.mktemp("star_compact"))
    write_star(result.star, out)
    # fragment one month: rewrite it as many tiny files
    fact = spark.read.parquet(f"{out}/Fact_Sales")
    frag = fact.filter(F.col("Sale_Month") == "2024-01").repartition(16)
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        frag.write.mode("overwrite").partitionBy("Sale_Month").parquet(f"{out}/Fact_Sales")
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    before_rows = sorted(
        tuple(r) for r in spark.read.parquet(f"{out}/Fact_Sales").collect()
    )
    n_frag = len(glob.glob(f"{out}/Fact_Sales/Sale_Month=2024-01/*.parquet"))
    assert n_frag > 1

    compact_partitions(spark, out, months=["2024-01"])
    n_compact = len(glob.glob(f"{out}/Fact_Sales/Sale_Month=2024-01/*.parquet"))
    assert n_compact == 1  # tiny month → single file
    after_rows = sorted(
        tuple(r) for r in spark.read.parquet(f"{out}/Fact_Sales").collect()
    )
    assert after_rows == before_rows  # content identical, all months intact


def test_observation_metrics_from_single_pass(spark, tmp_path_factory):
    """The Observation API collects fact-quality metrics during the write —
    no extra scans (vs the reference's 8 eager re-executions)."""
    from finegourmet_spark.star.pipeline import run_pipeline
    from tests.fixtures_gen import write_fixtures

    root = str(tmp_path_factory.mktemp("delic_obs"))
    out = str(tmp_path_factory.mktemp("star_obs"))
    res = run_pipeline(spark, **write_fixtures(root), out_dir=out)
    m = res.metrics()["fact_quality"]
    assert m["n_rows"] == 12
    assert m["n_orphan_product_fk"] == 1  # Produit Fantome
    assert m["n_null_prices"] == 0  # the "x" price was repaired


@pytest.mark.skipif(
    not os.path.isdir(REF_DATA), reason="reference data not available"
)
def test_star_scale_replicator_factor3(spark, tmp_path_factory):
    """tools/make_star_scale.py (the 1000x composed-run fixture generator)
    at factor 3: facts and clients scale exactly 3x the reference's real
    counts (580 fact rows, 2 quarantines per copy), per-copy anomaly
    semantics survive the remap (quarantine rows still quarantine, dup
    sale-ids still get _2 suffixes within each copy), and FK integrity
    holds (bounded product/store dims resolve in every copy)."""
    import subprocess
    import sys as _sys

    from finegourmet_spark.star.pipeline import run_pipeline

    root = str(tmp_path_factory.mktemp("star_scale3"))
    subprocess.run(
        [_sys.executable, "tools/make_star_scale.py", "3", root],
        check=True, cwd="/root/repo",
    )
    res = run_pipeline(
        spark,
        sfcc_glob=f"{root}/salesforces/*_sfcc_sales.csv",
        cegid_path=f"{root}/cegid/*.json",
        products_glob=f"{root}/product/*_product_reference.csv",
        boutiques_path=f"{root}/boutiques/2025_boutiques.csv",
    )
    fact = res.star["Fact_Sales"]
    assert fact.count() == 3 * 580
    assert res.audits["sfcc_quarantine"].count() == 3 * 2
    # client population scales: each copy remaps every email local part
    n_clients = res.star["Dim_Client"].count()
    base = run_pipeline(
        spark,
        sfcc_glob=f"{REF_DATA}/salesforces/*_sfcc_sales.csv",
        cegid_path=f"{REF_DATA}/cegid/*.json",
        products_glob=f"{REF_DATA}/product/*_product_reference.csv",
        boutiques_path=f"{REF_DATA}/boutiques/2025_boutiques.csv",
    )
    n_base_clients = base.star["Dim_Client"].count()
    # clients with a NULL email collapse to one anonymous row across copies
    assert n_clients == 3 * (n_base_clients - 1) + 1
    # per-copy dup-sale-id suffixing: same _2 count per copy as the reference
    from pyspark.sql import functions as F

    n_suffixed = fact.filter(F.col("Sale_ID").endswith("_2")).count()
    n_base_suffixed = base.star["Fact_Sales"].filter(
        F.col("Sale_ID").endswith("_2")
    ).count()
    assert n_suffixed == 3 * n_base_suffixed
    # FK integrity: bounded dims resolve identically in every copy
    assert fact.filter(F.col("FK_Product_ID").isNull()).count() == 3 * 0


def _without_encoding(spark, path):
    """The CEGID read as it was before the explicit encoding: Spark detects
    the charset and parses a byte stream."""
    from finegourmet_spark.star.schemas import CEGID_SCHEMA

    return spark.read.schema(CEGID_SCHEMA).option("multiline", "true").json(path)


def _assert_cegid_rows_unchanged(spark, path):
    from finegourmet_spark.star.schemas import CORRUPT_COL
    from finegourmet_spark.star.sources import read_cegid

    fast = read_cegid(spark, path).cache()
    try:
        assert fast.filter(F.col(CORRUPT_COL).isNotNull()).count() == 0
        got = sorted(tuple(r) for r in fast.drop(CORRUPT_COL).collect())
    finally:
        fast.unpersist()
    want = sorted(tuple(r) for r in _without_encoding(spark, path).collect())
    assert got and got == want


def test_cegid_encoding_keeps_rows_on_fixtures(spark, tmp_path_factory):
    paths = write_fixtures(str(tmp_path_factory.mktemp("cegid_fixtures")))
    _assert_cegid_rows_unchanged(spark, paths["cegid_path"])


def test_cegid_encoding_keeps_rows_on_generated_shards(spark, tmp_path_factory):
    """The benchmark's generated CEGID shards: numbers in price and
    quantity, the "x" price, null emails, 8 shards."""
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "perfbench"))
    try:
        import stargen
    finally:
        sys.path.pop(0)
    gen = stargen.generate(str(tmp_path_factory.mktemp("stargen")), 2400, 11)
    _assert_cegid_rows_unchanged(spark, gen["paths"]["cegid_path"])


def test_unparseable_cegid_shards_are_quarantined(spark, tmp_path_factory):
    """A truncated shard and a UTF-8 BOM-prefixed shard each parse as one
    corrupt record. Both land in the CEGID quarantine with their text; none
    becomes a phantom fact row with a NULL Sale_ID."""
    import json
    import os

    root = str(tmp_path_factory.mktemp("cegid_bad_shards"))
    paths = write_fixtures(root)
    cegid_dir = os.path.dirname(paths["cegid_path"])
    extra = [
        {"sale_id": "PA01240400001", "email": None, "transaction_date": "2024-04-02",
         "product_name": "Comte 18 mois", "quantity": 1, "price": 21.0},
    ]
    text = json.dumps(extra, indent=1)
    with open(os.path.join(cegid_dir, "2024_cegid_sales_truncated.json"), "w") as f:
        f.write(text[: len(text) // 2])
    with open(os.path.join(cegid_dir, "2024_cegid_sales_bom.json"), "w", encoding="utf-8-sig") as f:
        f.write(text)
    res = run_pipeline(spark, **{**paths, "cegid_path": os.path.join(cegid_dir, "*.json")})

    fact = res.star["Fact_Sales"].collect()
    assert len(fact) == 12  # the fixtures' 5 SFCC + 7 CEGID rows, nothing more
    assert all(r["Sale_ID"] is not None for r in fact)
    assert "PA01240400001" not in {r["Sale_ID"] for r in fact}
    quarantined = sorted(
        r["_corrupt_record"] for r in res.audits["cegid_quarantine"].collect()
    )
    assert len(quarantined) == 2
    assert quarantined[0].startswith("[") and quarantined[1].startswith("\ufeff[")
    assert all("PA01240400001" in q for q in quarantined)


def test_merge_by_key_rejects_delta_types(spark, result, tmp_path_factory):
    """The delta must carry Fact_Sales' pinned types: a double Price would
    widen the rewritten months to double, which the pinned reads disagree
    with. A narrower integral FK_Client_ID is widened and merges."""
    import pytest
    from pyspark.sql import functions as F

    from finegourmet_spark.star.load import merge_by_key, write_star
    from finegourmet_spark.star.schemas import STAR_SCHEMAS

    out = str(tmp_path_factory.mktemp("star_merge_types"))
    write_star(result.star, out)
    row = result.star["Fact_Sales"].filter(F.col("Sale_ID") == "PA01240100001")
    with pytest.raises(ValueError, match="Price is double, table has decimal"):
        merge_by_key(spark, out, row.withColumn("Price", F.lit(99.99)))
    with pytest.raises(ValueError, match="columns"):
        merge_by_key(spark, out, row.drop("Type"))

    merge_by_key(spark, out, row.withColumn("FK_Client_ID", F.col("FK_Client_ID").cast("int")))
    back = spark.read.parquet(f"{out}/Fact_Sales")
    assert back.schema == STAR_SCHEMAS["Fact_Sales"]
    assert back.count() == result.star["Fact_Sales"].count()


def test_merge_by_key_evaluates_delta_once(spark, result, tmp_path_factory):
    """The delta's plan runs once, however many consumers it has (months,
    stray-key check, anti-join keys, rewrite): a nondeterministic delta
    could otherwise land a row in a month the merge did not scope, and
    that month's dynamic overwrite would drop its old rows."""
    from pyspark.sql.types import BooleanType

    from finegourmet_spark.star.load import merge_by_key, write_star

    out = str(tmp_path_factory.mktemp("star_merge_once"))
    write_star(result.star, out)
    evaluated = spark.sparkContext.accumulator(0)

    def counted(_key):
        evaluated.add(1)
        return True

    # a filter, unlike a projected column, runs in every consumer's plan
    fact = result.star["Fact_Sales"]
    delta = fact.filter(F.udf(counted, BooleanType())("Sale_ID"))
    merge_by_key(spark, out, delta)
    assert evaluated.value == fact.count()


def test_second_etl_round_reuses_generated_code(spark, tmp_path_factory):
    """A second ETL round (pipeline, write, merge, the 8 dashboard queries)
    compiles almost no new classes: one round generates more than Spark's
    default codegen cache of 100 holds, so at that size every round
    recompiled them all (session.py sizes the cache)."""
    import inspect

    from finegourmet_spark.star import analytics
    from finegourmet_spark.star.load import merge_by_key, read_star, write_star

    paths = write_fixtures(str(tmp_path_factory.mktemp("codegen_sources")))
    out = str(tmp_path_factory.mktemp("codegen_star"))
    jvm = spark.sparkContext._jvm
    compiles = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def etl_round():
        spark.catalog.clearCache()
        res = run_pipeline(spark, **paths)
        write_star(res.star, out)
        merge_by_key(spark, out, res.star["Fact_Sales"].filter(F.col("Sale_ID") == "PA01240100001"))
        star = read_star(spark, out)
        tables = {"fact": star["Fact_Sales"], "dim_product": star["Dim_Product"],
                  "dim_store": star["Dim_Store"], "dim_client": star["Dim_Client"]}
        for fn in analytics.ALL.values():
            params = inspect.signature(fn).parameters.values()
            fn(*[tables[p.name] for p in params if p.default is inspect.Parameter.empty]).collect()

    etl_round()
    before = compiles.getCount()
    etl_round()
    assert compiles.getCount() - before <= 10
