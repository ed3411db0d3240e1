"""Seeded raw-source generator for the star ETL, with the expected outputs.

Writes the four source families of the delicatessen pipeline with the
anomaly classes of FIXTURES.md §1-§4:

* SFCC monthly CSVs: tabs inside fields, optin values with a leading space,
  empty or invalid phones, and column-shifted rows (a space before a quoted
  address), which the pipeline quarantines;
* CEGID multiline JSON, sharded so that no single multiline task holds the
  whole year: ``XX??`` sale-id prefixes (repairable or not), duplicate
  sale_ids, the ``"x"`` price, product names missing from the reference,
  and mostly null emails;
* product reference CSVs for 2024 and 2025 that overlap, the 2025 price
  winning for shared ids;
* the pipe-delimited boutiques file with a comma header.

Because the generator plants every row, it also computes what the star must
hold: dimension and fact row counts, quarantine and orphan-FK counts, and the
exact decimal revenue, before and after the keyed merge of ``delta_rows``.
"""

from __future__ import annotations

import json
import os
import random
from decimal import Decimal

STORES = {
    "PA01": ("Epicerie Fine Paris Marais", "12 Rue des Francs Bourgeois, 75003 Paris"),
    "PA02": ("Epicerie Fine Paris Batignolles", "4 Rue des Dames, 75017 Paris"),
    "PA03": ("Epicerie Fine Paris Bastille", "7 Rue de la Roquette, 75011 Paris"),
    "BO01": ("Epicerie Fine Bordeaux", "18 Rue Sainte-Catherine, 33000 Bordeaux"),
    "BO02": ("Epicerie Fine Bordeaux 2", "5 Cours de l'Intendance, 33000 Bordeaux"),
    "MO01": ("Epicerie Fine Montpellier", "8 Place de la Comedie, 34000 Montpellier"),
    "LY01": ("Epicerie Fine Lyon", "22 Rue de la Republique, 69002 Lyon"),
    "LY02": ("Epicerie Fine Lyon Croix-Rousse", "3 Grande Rue, 69004 Lyon"),
    "MA01": ("Epicerie Fine Marseille", "40 La Canebiere, 13001 Marseille"),
    "LI01": ("Epicerie Fine Lille", "9 Rue de la Monnaie, 59800 Lille"),
    "RE01": ("Epicerie Fine Rennes", "2 Place des Lices, 35000 Rennes"),
    "ST01": ("Epicerie Fine Strasbourg", "3 Place Kleber, 67000 Strasbourg"),
    "CL01": ("Epicerie Fine Clermont", "6 Place de Jaude, 63000 Clermont-Ferrand"),
}
REPAIRABLE = ["MO", "CL", "LI", "RE", "ST", "PA", "BO", "LY"]
CATEGORIES = ["vin", "divers", "fromage", "confiserie", "charcuterie", "luxe"]
FIRST = ["Isabelle", "Jean", "Emma", "Luc", "Nina", "Paul", "Chloe", "Hugo", "Lea", "Louis"]
LAST = ["Dupont", "Martin", "Bernard", "Petit", "Leroy", "Moreau", "Simon", "Laurent"]
STREETS = ["Rue de Rivoli", "Av de l'Opera", "Rue du Bac", "Rue Cler", "Rue Oberkampf"]
SFCC_HEADER = (
    "sale_id,transaction_date,product_id,customer_id,customer_last_name,"
    "customer_first_name,customer_email,customer_address,customer_phone,"
    "email_optin,sms_optin"
)
CEGID_SHARDS = 8


def _cents(d: Decimal) -> Decimal:
    return d.quantize(Decimal("0.01"))


def _norm_email(e: str) -> str:
    return e.strip().lower()


def generate(root: str, sales: int, seed: int) -> dict:
    """Write the sources under ``root`` (about ``sales`` rows per channel)
    and return the pipeline paths, the input size and the expected star."""
    rng = random.Random(seed)
    dirs = {k: os.path.join(root, k) for k in ("salesforces", "cegid", "product", "boutiques")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)

    # --- products: 2024 and 2025 overlap; 2025 wins for shared ids --------
    n_prod = max(40, sales // 500)
    ids = rng.sample(range(1, 1_000_000), n_prod)
    catalog = []
    for k, pid in enumerate(ids):
        cat = CATEGORIES[k % len(CATEGORIES)]
        catalog.append((f"P{pid:06d}", f"Produit {cat} {k:05d}", cat, Decimal(rng.randint(150, 9000)) / 100))
    n_old = n_prod // 10
    in_2024 = catalog[: n_prod - n_old]  # last tenth is new in 2025
    in_2025 = catalog[n_old:]  # first tenth retired after 2024
    price_2025 = {}
    for pid, _name, _cat, price in in_2025:
        price_2025[pid] = price + Decimal("0.50") if rng.random() < 0.2 else price
    survivor = {pid: price for pid, _n, _c, price in in_2024}
    survivor.update(price_2025)
    for year, rows in (("2024", in_2024), ("2025", in_2025)):
        with open(os.path.join(dirs["product"], f"{year}_product_reference.csv"), "w") as f:
            f.write("product_id,product_name,price,category\n")
            for pid, name, cat, price in rows:
                p = price_2025[pid] if year == "2025" else price
                f.write(f"{pid},{name},{p:.2f},{cat}\n")

    with open(os.path.join(dirs["boutiques"], "2025_boutiques.csv"), "w") as f:
        f.write("store_id,store_name,address\n")
        for sid, (name, addr) in STORES.items():
            f.write(f'{sid}|{name}|"{addr}"\n')

    # --- clients shared by both channels -------------------------------------
    n_clients = max(20, sales // 8)
    clients = []
    for k in range(n_clients):
        first, last = rng.choice(FIRST), rng.choice(LAST)
        clients.append(
            (1_000_000 + k, first, last, f"{first.lower()}.{last.lower()}{k}@gmail.com",
             f"{rng.randint(1, 99)} {rng.choice(STREETS)}, 750{rng.randint(10, 20)} Paris")
        )

    # --- SFCC: one CSV per month ---------------------------------------------
    fact: dict[str, tuple[str, Decimal, str]] = {}  # clean online sale -> (date, price, product)
    emails: set[str] = set()
    quarantined = 0
    per_month = sales // 12
    seq = 0
    for month in range(1, 13):
        lines = [SFCC_HEADER]
        for _ in range(per_month):
            seq += 1
            sale_id = f"S{seq:07d}"
            date = f"2024-{month:02d}-{rng.randint(1, 28):02d}"
            pid = rng.choice(catalog)[0]
            cid, first, last, email, addr = rng.choice(clients)
            phone = rng.choice(["", "061234567", f"06{rng.randint(10_000_000, 99_999_999)}"])
            optin = rng.choice(["true", "false", " true", " false"])
            if rng.random() < 0.02:
                last = last + "\tJr"
            shown = f" {email.upper()} " if rng.random() < 0.05 else email
            shifted = rng.random() < 0.005
            quote = ' "' if shifted else '"'
            lines.append(
                f"{sale_id},{date},{pid},{cid},{last},{first},{shown},{quote}{addr}\",{phone},{optin},false"
            )
            if shifted:
                quarantined += 1
                continue
            fact[sale_id] = (date, survivor[pid], pid)
            emails.add(_norm_email(email))
        with open(os.path.join(dirs["salesforces"], f"2024{month:02d}_sfcc_sales.csv"), "w") as f:
            f.write("\n".join(lines) + "\n")
    online_ids = sorted(fact)

    # --- CEGID: sharded multiline JSON ----------------------------------------
    store_rev = Decimal(0)
    online_cegid_rev = Decimal(0)
    orphans = 0
    cegid_rows = 0
    shards: list[list[dict]] = [[] for _ in range(CEGID_SHARDS)]
    counters: dict[tuple[str, int], int] = {}
    for k in range(sales):
        month = 1 + k * 12 // sales
        store = rng.choice(list(STORES))
        n = counters[(store, month)] = counters.get((store, month), 0) + 1
        sale_id = f"{store}24{month:02d}{n:05d}"
        roll = rng.random()
        if roll < 0.003:
            sale_id = "XX" + rng.choice(REPAIRABLE) + sale_id[4:]
        elif roll < 0.004:
            sale_id = "ZZZZ" + sale_id[4:]  # unrepairable: NULL store, Online
        pid, name, _cat, _p = rng.choice(catalog)
        missing = rng.random() < 0.002
        if missing:
            name, pid = f"Produit Fantome {k}", None
        qty = rng.randint(1, 3)
        line = None if pid is None else _cents(survivor[pid] * qty)
        price: object = float(line) if line is not None else 5.0
        if pid is not None and rng.random() < 0.002:
            price, line = "x", survivor[pid]  # repaired with the UNIT price
        email = rng.choice(clients)[3] if rng.random() < 0.06 else None
        if email:
            emails.add(_norm_email(email))
        row = {"sale_id": sale_id, "email": email,
               "transaction_date": f"2024-{month:02d}-{rng.randint(1, 28):02d}",
               "product_name": name, "quantity": qty, "price": price}
        if missing:
            line = Decimal("5.00")
        shard = shards[k % CEGID_SHARDS]
        shard.append(row)
        cegid_rows += 1
        orphans += missing
        if rng.random() < 0.002:  # duplicate sale_id: the later one gets "_2"
            shard.append(dict(row, transaction_date=row["transaction_date"][:8] + "28"))
            cegid_rows += 1
            orphans += missing
            line = line * 2
        if sale_id.startswith("ZZZZ"):
            online_cegid_rev += line
        else:
            store_rev += line
    for i, rows in enumerate(shards):
        with open(os.path.join(dirs["cegid"], f"2024_cegid_sales_{i:02d}.json"), "w") as f:
            f.write("[\n" + ",\n".join(json.dumps(r) for r in rows) + "\n]\n")

    sfcc_rev = sum((p for _d, p, _pid in fact.values()), Decimal(0))
    total = sfcc_rev + store_rev + online_cegid_rev
    fact_rows = len(fact) + cegid_rows

    # --- delta for merge_by_key: re-priced online sales + late sales ----------
    # rows are (Sale_ID, Date, Price, FK_Product_ID) of anonymous online sales
    touched = [s for s in online_ids if fact[s][0][5:7] in ("03", "07")]
    delta = []
    for sid in touched[:: max(1, len(touched) // 50)]:
        date, old, pid = fact[sid]
        delta.append((sid, date, old + Decimal("1.00"), pid))
    updates = len(delta)
    for j in range(max(1, updates // 2)):
        pid = catalog[j % len(catalog)][0]
        delta.append((f"SD{j:06d}", f"2024-{('03', '07')[j % 2]}-15", survivor[pid], pid))
    inserts = len(delta) - updates
    delta_change = Decimal(updates) + sum((p for _s, _d, p, _pid in delta[updates:]), Decimal(0))

    in_bytes = sum(
        os.path.getsize(os.path.join(dirs[d], f)) for d in dirs for f in os.listdir(dirs[d])
    )
    return {
        "paths": {
            "sfcc_glob": os.path.join(dirs["salesforces"], "*_sfcc_sales.csv"),
            "cegid_path": os.path.join(dirs["cegid"], "*.json"),
            "products_glob": os.path.join(dirs["product"], "*_product_reference.csv"),
            "boutiques_path": os.path.join(dirs["boutiques"], "2025_boutiques.csv"),
        },
        "in_rows": seq + cegid_rows + len(in_2024) + len(in_2025) + len(STORES),
        "in_bytes": in_bytes,
        "delta_rows": delta,
        "expect": {
            "Dim_Product": n_prod,
            "Dim_Store": len(STORES),
            "Dim_Client": len(emails),
            "Fact_Sales": fact_rows,
            "quarantine": quarantined,
            "orphan_fk": orphans,
            "revenue": total,
            "store_revenue": store_rev,
            "merged_rows": fact_rows + inserts,
            "merged_revenue": total + delta_change,
        },
    }
