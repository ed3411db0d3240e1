"""Scale-up replicator for the star pipeline's RAW reference-shaped inputs
(VERDICT r5 item 4: compose the sf1 star+analytics run at ~1000x the
reference's data volume).

Reads the reference's real data files (/root/reference/data — PUBLIC
reference content, read-only) and writes N key-remapped copies in the SAME
raw formats the extract layer consumes (monthly SFCC CSVs, CEGID multiline
JSON arrays, pipe-delimited boutiques, product CSVs):

  * FACTS scale: every copy remaps sale ids (unique per copy) and client
    emails (``c{i:04d}.`` local-part prefix — stays inside the normalize
    alphabet, so each copy yields a distinct client) — fact AND dim_client
    volume grow by N while per-copy anomaly semantics (dup sale-ids,
    quarantine rows, price 'x' casts, repairable XX prefixes) are preserved
    verbatim.
  * DIMS stay bounded: product + boutique files are copied unchanged —
    exactly the 100 TB shape (bounded catalogs, unbounded sales).

Remap safety: CEGID sale-id suffixes append AFTER the tail counter, so the
4-char store prefix / XX-repair / dedup-window semantics are untouched;
SFCC sale-id suffix is inserted before the first comma, which also covers
the column-shifted quarantine rows (they still quarantine in every copy).

Usage: python tools/make_star_scale.py [factor] [out_dir]
  factor  : copies of the reference data (default 1000)
  out_dir : default .scratch/star_sf1 in the repository holding this script
"""

from __future__ import annotations

import json
import re
import shutil
import sys
from pathlib import Path

SRC = Path("/root/reference/data")
EMAIL_RE = re.compile(r"([A-Za-z0-9._%+-]+@)")

# CEGID shard size: copies per output JSON file — keeps each multiline JSON
# array a few MB so the multiline reader gets parallel file-level splits
# (one whole-file task per shard) instead of one giant single-task array.
COPIES_PER_SHARD = 100


def remap_sfcc_line(line: str, i: int) -> str:
    """Append a per-copy suffix to the sale id (field 1) and prefix the
    email local part so each copy is a distinct client population."""
    if "," not in line:
        return line
    line = line.replace(",", f"x{i:04d},", 1)
    return EMAIL_RE.sub(lambda m: f"c{i:04d}." + m.group(1), line, count=1)


def write_sfcc(out: Path, factor: int) -> int:
    n = 0
    (out / "salesforces").mkdir(parents=True, exist_ok=True)
    for f in sorted((SRC / "salesforces").glob("*_sfcc_sales.csv")):
        lines = f.read_text().splitlines()
        header, body = lines[0], [ln for ln in lines[1:] if ln.strip()]
        with open(out / "salesforces" / f.name, "w") as w:
            w.write(header + "\n")
            for i in range(factor):
                for ln in body:
                    w.write(remap_sfcc_line(ln, i) + "\n")
                n += len(body)
    return n


def write_cegid(out: Path, factor: int) -> int:
    recs = json.loads((SRC / "cegid" / "2024_cegid_sales.json").read_text())
    (out / "cegid").mkdir(parents=True, exist_ok=True)
    n = 0
    for shard_start in range(0, factor, COPIES_PER_SHARD):
        shard = []
        for i in range(shard_start, min(shard_start + COPIES_PER_SHARD, factor)):
            for r in recs:
                r2 = dict(r)
                r2["sale_id"] = f"{r['sale_id']}{i:04d}"
                if r2.get("email"):
                    r2["email"] = f"c{i:04d}." + r2["email"]
                shard.append(r2)
        with open(out / "cegid" / f"cegid_{shard_start:05d}.json", "w") as w:
            json.dump(shard, w, ensure_ascii=False)
        n += len(shard)
    return n


def main() -> int:
    factor = int(sys.argv[1]) if len(sys.argv) > 1 else 1000
    out = Path(sys.argv[2]) if len(sys.argv) > 2 else (
        Path(__file__).resolve().parent.parent / ".scratch" / "star_sf1"
    )
    if out.exists():
        shutil.rmtree(out)
    n_sfcc = write_sfcc(out, factor)
    n_cegid = write_cegid(out, factor)
    for sub in ("product", "boutiques"):
        shutil.copytree(SRC / sub, out / sub)
    print(
        f"wrote {out}: sfcc={n_sfcc} rows, cegid={n_cegid} rows, "
        f"dims copied verbatim (factor={factor})"
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
