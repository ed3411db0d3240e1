"""Explicit source schemas + canonical rename maps for the delicatessen
pipeline (replaces inferSchema double-scans, ref etl/extract.py:67,101,119;
SURVEY.md §1.3).

Renames are data, not code: one map per source instead of 12 chained
withColumnRenamed calls (ref etl/extract.py:70-81)."""

from __future__ import annotations

from pyspark.sql.types import (
    DataType,
    DateType,
    DecimalType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)


def _s(*names: str) -> StructType:
    """All-string staging schema: sources are dirty, so every column lands as
    string and is cast by a validity expression (quarantine-friendly), never
    by inference."""
    return StructType([StructField(n, StringType(), True) for n in names])


SFCC_SCHEMA = _s(
    "sale_id",
    "transaction_date",
    "product_id",
    "customer_id",
    "customer_last_name",
    "customer_first_name",
    "customer_email",
    "customer_address",
    "customer_phone",
    "email_optin",
    "sms_optin",
)

#: corrupt-record rescue column appended to SFCC and CEGID reads (the
#: reference silently mangles shifted rows — engine quarantines; SURVEY.md §5
#: item 2)
CORRUPT_COL = "_corrupt_record"

CEGID_SCHEMA = _s(
    "sale_id", "email", "transaction_date", "product_name", "quantity", "price"
)

PRODUCT_SCHEMA = _s("product_id", "product_name", "price", "category")

SFCC_RENAMES = {
    "sale_id": "Sale_ID",
    "transaction_date": "Transaction_Date",
    "product_id": "Product_ID",
    "customer_id": "Customer_ID",
    "customer_last_name": "Last_Name",
    "customer_first_name": "First_Name",
    "customer_email": "Email",
    "customer_address": "Address",
    "customer_phone": "Phone",
    "email_optin": "Email_Optin",
    "sms_optin": "Sms_Optin",
}

CEGID_RENAMES = {
    "sale_id": "Sale_ID",
    "email": "Email",
    "transaction_date": "Transaction_Date",
    "product_name": "Product_Name",
    "quantity": "Quantity",
    "price": "Price",
}

PRODUCT_RENAMES = {
    "product_id": "Product_ID",
    "product_name": "Name",
    "price": "Price",
    "category": "Category",
}


def _typed(*fields: tuple[str, DataType]) -> StructType:
    return StructType([StructField(n, t, True) for n, t in fields])


#: The star as ``load.write_star`` writes it, ``Sale_Month`` being
#: Fact_Sales' partition column. Every star read passes its schema to
#: ``spark.read.schema``: an unpinned ``spark.read.parquet`` launches a
#: footer-inference job per table reference, four per dashboard query.
STAR_SCHEMAS = {
    "Dim_Client": _typed(
        ("Client_ID", LongType()),
        ("Email", StringType()),
        ("Last_Name", StringType()),
        ("First_Name", StringType()),
        ("Phone", StringType()),
        ("Address", StringType()),
    ),
    "Dim_Product": _typed(
        ("Product_ID", StringType()),
        ("Name", StringType()),
        ("Category", StringType()),
        ("Price", DoubleType()),
    ),
    "Dim_Store": _typed(
        ("Store_ID", StringType()),
        ("Name", StringType()),
        ("Address", StringType()),
    ),
    "Fact_Sales": _typed(
        ("Sale_ID", StringType()),
        ("Quantity", IntegerType()),
        ("Price", DecimalType(10, 2)),
        ("Type", StringType()),
        ("Date", DateType()),
        ("FK_Client_ID", LongType()),
        ("FK_Product_ID", StringType()),
        ("FK_Store_ID", StringType()),
        ("Sale_Month", StringType()),
    ),
}
