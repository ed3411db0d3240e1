"""Freeze the reviewed set of explicit broadcast-hint call sites.

Round 6 removed every ``F.broadcast()`` hint on a frame that SCALES with
data volume (TPC-H customer/part, star dim_client — VERDICT r5 item 2): a
forced hint overrides AQE's size check and OOMs executors at 100 TB, so the
policy is *hints only on frames bounded at any scale factor*. Every site
listed below was audited against that policy; they fall into five shapes:

  * constant-size dims        — nation (25) / region (5) / store / product
                                catalogs, calendar & week spines (``n``,
                                ``r``, ``days``, ``wk``, ``p``, ``s``,
                                ``prod``, ``products``, ``price_lookup``)
  * single-row scalars        — grand totals / denominators (``tot``,
                                ``nd``, ``n_docs``, ``n_tot``, ``n_days``,
                                ``den``, ``scal``, ``v``, ``nb``)
  * limit-bounded heads       — orderBy+limit vocab / candidate / survivor
                                / anchor frames (``vocab`` x2 via VOCAB_K &
                                COOC_VOCAB, ``cand``, ``surv``, ``pick``,
                                ``target``, ``anch``, ``ks``, ``b``,
                                ``bands``, ``bounds``, ``weights``)
  * per-group small stats     — one row per group key of a bounded key
                                space (``med``, ``mad``, ``s`` event-type
                                stats, ``qdf`` query-term dfreq)
  * per-batch key sets        — MERGE/CDC incremental batches, bounded by
                                batch size not table size (``keys``,
                                ``cdc.filter``); the similarity probe set
                                (``probe_df``), bounded by N_QUERIES or
                                KNN_N_TEST rows

This test fails on ANY new ``F.broadcast(`` site (or a removed one) so a
hint on an sf-scaling frame cannot ship unreviewed: prove the new frame is
bounded at any SF, cite the bounding mechanism in its docstring, then add
it to the allowlist below.
"""

from __future__ import annotations

import pathlib
import re

PKG = pathlib.Path(__file__).resolve().parent.parent / "finegourmet_spark"

# first dotted identifier inside F.broadcast(...) — enough to pin the site's
# identity without being line-number brittle
_HINT = re.compile(r"F\.broadcast\(\s*([A-Za-z_][A-Za-z0-9_.]*)")

ALLOWED = {
    "operators/eventflow.py": ["anch", "b", "days", "days", "tot", "wk"],
    "operators/graph.py": ["nb"],
    "operators/quality.py": ["b", "bounds", "mad", "med", "s", "tot"],
    "operators/relational.py": [
        "bands", "cdc.filter", "n", "n", "n", "n", "n", "pick", "r", "r",
        "r", "surv", "target", "tot",
    ],
    "operators/similarity.py": ["probe_df"],
    "operators/temporal.py": ["days", "den", "ks", "n_days"],
    "operators/textops.py": [
        "cand", "n_docs", "n_tot", "nd", "qdf", "scal", "tot", "v",
        "vocab", "vocab", "weights",
    ],
    "star/analytics.py": ["p", "p", "s", "s"],
    "star/conform.py": ["price_lookup", "prod"],
    "star/fact.py": ["products"],
    "star/load.py": ["keys", "keys"],
}


def test_broadcast_hint_sites_match_reviewed_allowlist():
    found: dict[str, list[str]] = {}
    for p in sorted(PKG.rglob("*.py")):
        args = sorted(_HINT.findall(p.read_text()))
        if args:
            found[str(p.relative_to(PKG))] = args
    assert found == ALLOWED, (
        "F.broadcast() call sites changed. A forced broadcast hint on a "
        "frame that scales with data volume OOMs executors at 100 TB "
        "(AQE's 64MB size check is bypassed). Audit each new/changed site "
        "against the bounded-frame policy in this file's docstring, then "
        f"update ALLOWED.\n  found:   {found}\n  allowed: {ALLOWED}"
    )
