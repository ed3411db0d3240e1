"""CLI for the delicatessen pipeline — the engine's equivalent of the
reference's `python main.py` (main.py:19-127), driven by arguments instead
of dotenv:

    python -m finegourmet_spark.star \
        --sfcc 'data/salesforces/*_sfcc_sales.csv' \
        --cegid data/cegid/2024_cegid_sales.json \
        --products 'data/product/*_product_reference.csv' \
        --boutiques data/boutiques/2025_boutiques.csv \
        --out /tmp/star

Prints per-table row counts and audit totals; exits nonzero if the
quarantine is non-empty and --strict is set."""

from __future__ import annotations

import argparse
import sys

from finegourmet_spark.session import get_spark
from finegourmet_spark.star.pipeline import run_pipeline


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="finegourmet_spark.star")
    p.add_argument("--sfcc", required=True, help="glob of SFCC monthly CSVs")
    p.add_argument("--cegid", required=True, help="CEGID yearly JSON path")
    p.add_argument("--products", required=True, help="glob of product reference CSVs")
    p.add_argument("--boutiques", required=True, help="boutiques pipe-file path")
    p.add_argument("--out", default=None, help="output dir for the parquet star schema")
    p.add_argument("--strict", action="store_true", help="fail on quarantined rows")
    args = p.parse_args(argv)

    spark = get_spark(app_name="finegourmet_star_pipeline")
    res = run_pipeline(
        spark,
        sfcc_glob=args.sfcc,
        cegid_path=args.cegid,
        products_glob=args.products,
        boutiques_path=args.boutiques,
        out_dir=args.out,
    )
    for name, df in res.star.items():
        print(f"{name}: {df.count()} rows")
    n_quarantined = sum(
        res.audits[k].count() for k in ("sfcc_quarantine", "cegid_quarantine")
    )
    n_missing = res.audits["missing_products"].count()
    print(f"quarantined source rows: {n_quarantined}")
    print(f"unresolved product names: {n_missing}")
    if args.strict and n_quarantined:
        print("STRICT: quarantine non-empty", file=sys.stderr)
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
