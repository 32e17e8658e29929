"""Output checks, run once per benchmark run outside the timed region.

Each function returns a list of `(unit, message)` mismatches; an empty
list means the outputs are correct.
"""
import json
import math
import os

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def frames_equal(want, got):
    """The oracle comparison rule of `tools/check_oracle.py`: columns
    sorted by name, same row count, every cell equal as a string.
    Returns None when equal, else a message."""
    want = want.reindex(sorted(want.columns), axis=1)
    got = got.reindex(sorted(got.columns), axis=1)
    if list(want.columns) != list(got.columns):
        return f"columns differ: oracle={list(want.columns)} engine={list(got.columns)}"
    if len(want) != len(got):
        return f"rows differ: oracle={len(want)} engine={len(got)}"
    for c in want.columns:
        a, b = want[c], got[c]
        try:
            same = a.astype(str).values == b.astype(str).values
        except Exception:
            same = a.values == b.values
        if not same.all():
            i = int((~same).argmax())
            return f"value mismatch col={c} row={i} oracle={a.iloc[i]!r} engine={b.iloc[i]!r}"
    return None


def check_queries(data_dir, check_dir, units):
    """Compare each query's dumped result with its DuckDB oracle SQL
    over the same generated tables. Returns (mismatches, rows by query)."""
    with open(os.path.join(check_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data_dir, t + '.parquet')}')")
    bad, rows = [], {}
    for name in units:
        if name not in oracle:
            bad.append((name, "no oracle SQL"))
            continue
        try:
            got = pd.read_parquet(os.path.join(check_dir, name))
        except Exception as e:
            bad.append((name, f"engine output missing: {e}"))
            continue
        rows[name] = len(got)
        try:
            want = con.execute(oracle[name]).df()
        except Exception as e:
            bad.append((name, f"oracle error: {e}"))
            continue
        msg = frames_equal(want, got)
        if msg:
            bad.append((name, msg))
    con.close()
    return bad, rows


def _close(a, b):
    return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)


def check_sales(check_dir, pass_dir, plan, expected):
    """Compare the cold pass's warehouse with the generator's model:
    `sales_tgt` is the keep-last of all valid files, `sales_summary` is
    built from the last valid file, the quarantined files are exactly
    the planned invalid ones, and no raw file is left behind."""
    tgt_want, summary_want = expected
    bad = []
    try:
        tgt = pd.read_parquet(os.path.join(check_dir, "sales_tgt"))
        if len(tgt) != len(tgt_want) or tgt["uuid"].duplicated().any():
            bad.append(("sales_tgt", f"rows: engine={len(tgt)} model={len(tgt_want)}"))
        else:
            for r in tgt.itertuples(index=False):
                w = tgt_want.get(int(r.uuid))
                if w is None:
                    bad.append(("sales_tgt", f"unexpected uuid {r.uuid}"))
                    break
                got = r._asdict()
                diff = [c for c in w if c != "uuid" and not _same_cell(c, w[c], got[c])]
                if diff:
                    bad.append(("sales_tgt", f"uuid {r.uuid}: {diff[0]} engine={got[diff[0]]!r} "
                                             f"model={w[diff[0]]!r}"))
                    break
    except Exception as e:
        bad.append(("sales_tgt", f"unreadable: {e}"))
    try:
        summary = pd.read_parquet(os.path.join(check_dir, "sales_summary"))
        got = {r.Country: r for r in summary.itertuples(index=False)}
        if set(got) != set(summary_want):
            bad.append(("sales_summary", f"countries: engine={sorted(got)} model={sorted(summary_want)}"))
        else:
            for c, w in summary_want.items():
                g = got[c]._asdict()
                if int(g["max_units_sold"]) != w["max_units_sold"] or not all(
                        _close(g[k], w[k]) for k in w if k != "max_units_sold"):
                    bad.append(("sales_summary", f"{c}: engine={g} model={w}"))
                    break
    except Exception as e:
        bad.append(("sales_summary", f"unreadable: {e}"))
    quarantined = set()
    for root, _, files in os.walk(os.path.join(pass_dir, "lake", "quarantine")):
        quarantined.update(f for f in files if not f.startswith(".") and not f.endswith(".crc"))
    planned = {p["name"] for p in plan if p["rule"]}
    if quarantined != planned:
        bad.append(("quarantine", f"engine={sorted(quarantined)} planned={sorted(planned)}"))
    left = [f for f in os.listdir(os.path.join(pass_dir, "raw")) if not f.startswith(".")]
    if left:
        bad.append(("raw", f"raw files left behind: {sorted(left)}"))
    return bad


def _same_cell(col, want, got):
    if col in ("OrderDate", "ShipDate"):  # stored as yyyy-MM-dd
        m, d, y = want.split("/")
        return got == f"{y}-{m}-{d}"
    if col == "UnitsSold":
        return int(got) == int(want)
    if col in ("UnitPrice", "UnitCost", "TotalRevenue", "TotalCost", "TotalProfit"):
        return float(got) == float(want)
    return got == want
