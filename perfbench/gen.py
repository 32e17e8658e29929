"""Seeded input generators for the benchmark.

Two families, both a pure function of the seed:

* `write_tables` writes the TPC-H-like star schema plus the `events`,
  `documents` and `embeddings` tables the catalog queries read, one
  parquet file per table, with the value domains the catalog expects.
* `plan_sales` / `write_sales` produce the 14-column sales files the
  pipeline ingests: CSV and NDJSON, some breaking one of the validator
  rules V1-V4, and about 30% of each file's uuids re-sending an earlier
  uuid with new values. `expected_sales` is the
  generator's own model of what the warehouse must hold afterwards.
"""
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SALES_COLUMNS = [
    "uuid", "Country", "ItemType", "SalesChannel", "OrderPriority",
    "OrderDate", "Region", "ShipDate", "UnitsSold", "UnitPrice",
    "UnitCost", "TotalRevenue", "TotalCost", "TotalProfit",
]
NUMERIC_COLUMNS = ["UnitsSold", "UnitPrice", "UnitCost",
                   "TotalRevenue", "TotalCost", "TotalProfit"]
COUNTRIES = ["Angola", "Belize", "Chile", "Denmark", "Estonia", "Fiji",
             "Ghana", "Hungary", "Iceland", "Jordan", "Kenya", "Laos"]
ITEMS = ["Beverages", "Cereal", "Clothes", "Cosmetics", "Fruits",
         "Household", "Meat", "OfficeSupplies", "PersonalCare", "Snacks"]
REGIONS = ["Asia", "Europe", "MiddleEastAndNorthAfrica", "NorthAmerica",
           "SubSaharanAfrica", "AustraliaAndOceania",
           "CentralAmericaAndCaribbean"]
RULES = ["V1", "V2", "V3", "V4"]
INVALID_ROWS = (1000, 5000)  # size range of a file that breaks a rule

WORDS = ["join", "hash", "row", "batch", "scan", "customer", "column",
         "filter", "small", "slow", "merge", "order", "vector", "line",
         "data", "table", "agg", "value", "key", "stream", "window",
         "spark", "a", "group", "part", "big", "sort", "query", "fast",
         "the"]
PART_ADJ = ["blue", "hot", "small", "old", "cold", "red", "new", "large"]
PART_NOUN = ["bolt", "gear", "ring", "widget", "rod", "plate", "anvil",
             "gizmo"]


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, end, n):
    span = (end - start).days
    base = np.datetime64(start, "ms")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]")


def _write(out_dir, name, table):
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def write_tables(out_dir, seed, sf):
    """Write every catalog table at scale factor `sf` (0.01 gives 60k
    lineitem rows) under `out_dir`."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = max(150, int(15_000 * sf))
    n_docs, n_vecs = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))

    _write(out_dir, "region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}))
    _write(out_dir, "nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}))
    _write(out_dir, "customer", pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n_cust)}))
    _write(out_dir, "supplier", pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)}))
    _write(out_dir, "part", pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO",
                              "SMALL", "STANDARD"], n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1)}))
    _write(out_dir, "orders", pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000, 500_000, n_ord),
        "o_orderdate": pa.array(_days(rng, dt.date(1995, 1, 1),
                                      dt.date(2001, 8, 1), n_ord), pa.timestamp("us")),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord)}))
    flags = rng.integers(0, 6, n_line)
    _write(out_dir, "lineitem", pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[flags // 2],
        "l_linestatus": np.array(["F", "O"])[flags % 2],
        "l_shipdate": pa.array(_days(rng, dt.date(1995, 1, 2),
                                     dt.date(2001, 11, 4), n_line), pa.timestamp("us"))}))
    gaps = rng.exponential(30 * 86_400e6 / n_ev, n_ev)
    ts = (np.datetime64("2024-01-01T00:00:00", "us")
          + np.cumsum(gaps).astype(np.int64).astype("timedelta64[us]"))
    _write(out_dir, "events", pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": rng.choice(["click", "error", "purchase", "signup",
                                  "view"], n_ev),
        "value": np.maximum(0.01, np.round(rng.exponential(50, n_ev), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]}))
    texts = []
    for i in range(n_docs):
        r = rng.random()
        if i > 0 and r < 0.05:  # near-duplicate of an earlier document
            texts.append(texts[rng.integers(0, i)] + " dup")
        elif i > 0 and r < 0.052:  # exact duplicate
            texts.append(texts[rng.integers(0, i)])
        else:
            texts.append(" ".join(rng.choice(WORDS, rng.integers(10, 100))))
    _write(out_dir, "documents", pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "de", "es", "fr", "zh"], n_docs,
                           p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}))
    vecs = rng.normal(size=(n_vecs, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out_dir, "embeddings", pa.table({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_vecs).astype(np.int32)}))


# ---------------------------------------------------------------------
# Sales files
# ---------------------------------------------------------------------

def _sales_columns(rng, uuids):
    """The 14 columns of one file, each a list of strings."""
    n = len(uuids)
    units = rng.integers(1, 10_000, n)
    price = np.round(rng.uniform(5, 650, n), 2)
    cost = np.round(price * rng.uniform(0.5, 0.95, n), 2)
    rev, tc = np.round(units * price, 2), np.round(units * cost, 2)
    order = _days(rng, dt.date(2010, 1, 1), dt.date(2017, 7, 1), n)
    ship = order + rng.integers(0, 50, n).astype("timedelta64[D]")

    def mdy(days):  # yyyy-mm-dd -> mm/dd/yyyy
        return [f"{d[5:7]}/{d[8:10]}/{d[:4]}" for d in np.datetime_as_string(days, unit="D")]

    def money(xs):
        return [f"{x:.2f}" for x in xs]

    return {
        "uuid": [str(u) for u in uuids],
        "Country": [COUNTRIES[i] for i in rng.integers(0, len(COUNTRIES), n)],
        "ItemType": [ITEMS[i] for i in rng.integers(0, len(ITEMS), n)],
        "SalesChannel": [("Online", "Offline")[i] for i in rng.integers(0, 2, n)],
        "OrderPriority": ["CHLM"[i] for i in rng.integers(0, 4, n)],
        "OrderDate": mdy(order),
        "Region": [REGIONS[i] for i in rng.integers(0, len(REGIONS), n)],
        "ShipDate": mdy(ship),
        "UnitsSold": [str(u) for u in units],
        "UnitPrice": money(price),
        "UnitCost": money(cost),
        "TotalRevenue": money(rev),
        "TotalCost": money(tc),
        "TotalProfit": money(np.round(rev - tc, 2)),
    }


def _break(rng, cols, rule):
    """Make a file violate exactly one validator rule."""
    n = len(cols["uuid"])
    i = int(rng.integers(0, n))
    if rule == "V1":  # a required column is missing (CSV only: the
        # positional reader then shifts a non-date into ShipDate)
        del cols[SALES_COLUMNS[1 + rng.integers(0, 6)]]
    elif rule == "V2":  # a measure is not numeric
        cols[NUMERIC_COLUMNS[rng.integers(0, len(NUMERIC_COLUMNS))]][i] = "n/a"
    elif rule == "V3":  # a date is not MM/dd/yyyy
        cols["OrderDate" if rng.random() < 0.5 else "ShipDate"][i] = "13/45/2016"
    else:  # V4: a uuid repeats within the file
        cols["uuid"][i] = cols["uuid"][(i + 1) % n]


def plan_sales(seed, sizes, n_invalid):
    """Return the ordered file plan: a list of dicts with `name`, `rule`
    (None when valid) and `cols` (column name to a list of strings).
    The seed decides the contents; the shape is the same for every
    seed, so runs differ in data, not in amount of work: the valid
    files have the given row counts in the given order, `n_invalid`
    smaller files each breaking one rule are spread evenly among them,
    and files alternate CSV and NDJSON. The rules are taken in turn
    from a seeded start, so all four occur once four files are
    invalid."""
    rng = np.random.default_rng([seed, 2])
    n_files = len(sizes) + n_invalid
    bad_at = {round((k + 1) * n_files / (n_invalid + 1)) for k in range(n_invalid)}
    valid_sizes = iter(sizes)
    first_rule = int(rng.integers(0, 4))
    next_uuid, sent, plan = 100_000_000, [], []
    for f in range(n_files):
        rule = RULES[(first_rule + sum(1 for p in plan if p["rule"])) % 4] if f in bad_at else None
        n = int(rng.integers(*INVALID_ROWS)) if rule else int(next(valid_sizes))
        # about 30% of the uuids re-send earlier ones with new values
        n_old = min(len(sent), int(n * 0.3))
        old = rng.choice(np.array(sent), n_old, replace=False).tolist() if n_old else []
        fresh = list(range(next_uuid, next_uuid + n - n_old))
        next_uuid += n - n_old
        uuids = np.array(old + fresh, dtype=np.int64)
        rng.shuffle(uuids)
        cols = _sales_columns(rng, uuids)
        if rule:
            _break(rng, cols, rule)
        else:
            sent.extend(fresh)
        ext = "csv" if f % 2 == 0 or rule == "V1" else "json"
        plan.append({"name": f"sales_{f:03d}.{ext}", "rule": rule, "cols": cols})
    return plan


def rows(p):
    """The rows of a planned file, as dicts of strings."""
    names = [c for c in SALES_COLUMNS if c in p["cols"]]
    return [dict(zip(names, vals)) for vals in zip(*(p["cols"][c] for c in names))]


def write_sales(out_dir, plan):
    os.makedirs(out_dir, exist_ok=True)
    for p in plan:
        names = [c for c in SALES_COLUMNS if c in p["cols"]]
        with open(os.path.join(out_dir, p["name"]), "w") as f:
            if p["name"].endswith(".csv"):
                f.write(",".join(names) + "\n")
                f.writelines(",".join(vals) + "\n" for vals in zip(*(p["cols"][c] for c in names)))
            else:
                f.writelines(json.dumps(r) + "\n" for r in rows(p))


def expected_sales(plan):
    """The warehouse the pipeline must leave behind: `sales_tgt` keyed
    keep-last over every valid file in order, and the `sales_summary`
    of the last valid file."""
    tgt = {}
    last = None
    for p in plan:
        if p["rule"] is None:
            last = rows(p)
            for r in last:
                tgt[int(r["uuid"])] = r
    summary = {}
    for r in last:
        s = summary.setdefault(r["Country"], {"n": 0, "max_units_sold": 0, "rev": 0.0,
                                              "cost": 0.0, "profit": 0.0})
        s["n"] += 1
        s["max_units_sold"] = max(s["max_units_sold"], int(r["UnitsSold"]))
        s["rev"] += float(r["TotalRevenue"])
        s["cost"] += float(r["TotalCost"])
        s["profit"] += float(r["TotalProfit"])
    return tgt, {c: {"max_units_sold": s["max_units_sold"],
                     "average_total_revenue": s["rev"] / s["n"],
                     "average_total_cost": s["cost"] / s["n"],
                     "average_total_profit": s["profit"] / s["n"]}
                 for c, s in summary.items()}
