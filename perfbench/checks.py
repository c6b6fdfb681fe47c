"""Output checks for the benchmark's workloads.

Every expected value is computed here, from the drop the run read:
DuckDB or pandas over the drop's parquet tables, or a property the
method must have. Nothing is compared with stored output. Each check
function returns a list of failure messages (empty = correct).
"""
import glob
import json
import os

import duckdb
import numpy as np
import pandas as pd

# the raw book's planted faults (operators/Etl.scala): one malformed
# month cell and one Total row off by +999
BAD_CELL = (1997, 2, "export")
BAD_TOTAL = (1998, "import")


class Missing(Exception):
    """An output the run did not write."""

    def __init__(self, stage):
        super().__init__(f"no output for {stage}")
        self.stage = stage


def read(path):
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        raise Missing(os.path.basename(path))
    return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)


def guarded(parts, failed_ops):
    """Runs each named check. An output missing because its operation
    failed (counted in `failed`) skips the check; any other missing
    output or error is a failure."""
    fails = []
    for name, fn in parts:
        try:
            fails += fn()
        except Missing as e:
            if e.stage not in failed_ops:
                fails.append(f"{name}: {e}")
        except Exception as e:
            fails.append(f"{name}: {type(e).__name__}: {e}")
    return fails


def connect(drop):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for f in glob.glob(os.path.join(drop, "*.parquet")):
        name = os.path.basename(f)[:-8]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{f}')")
    return con


def close(a, b, rel=1e-9):
    a = np.asarray(a, dtype=float)
    b = np.asarray(b, dtype=float)
    both_nan = np.isnan(a) & np.isnan(b)
    return bool(np.all(both_nan | np.isclose(a, b, rtol=rel, atol=1e-6)))


def frames_equal(a, b):
    cols = sorted(a.columns)
    if cols != sorted(b.columns) or len(a) != len(b):
        return False
    a = a[cols].sort_values(cols).reset_index(drop=True)
    b = b[cols].sort_values(cols).reset_index(drop=True)
    return bool(a.equals(b))


# ---- pipeline ----

def check_pipeline_pass(pass_dir, drop, note):
    con = connect(drop)

    def totals():
        fails = []
        trade = read(f"{pass_dir}/kpi_trade_long")
        got = trade.groupby(["yr", "flow"])["usd"].sum().sort_index()
        exp = con.sql("""
            SELECT CAST(year(o_orderdate) AS INT) AS yr,
                   CASE WHEN o_orderstatus = 'F' THEN 'export' ELSE 'import' END AS flow,
                   CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS usd
            FROM orders GROUP BY ALL""").df().set_index(["yr", "flow"])["usd"].sort_index()
        if list(got.index) != list(exp.index) or not close(got.values, exp.values):
            fails.append("kpi_trade_long: per-(year, flow) totals differ from DuckDB")
        return fails

    def category_totals():
        prod = read(f"{pass_dir}/kpi_prod_monthly")
        got = prod.groupby(["category", "yr"])[["exp", "imp"]].sum().sort_index()
        exp = con.sql("""
            SELECT p_type AS category, CAST(year(l_shipdate) AS INT) AS yr,
              CAST(sum(CASE WHEN l_linestatus = 'F' THEN CAST(l_extendedprice AS DECIMAL(18,2)) END) AS DOUBLE) AS exp,
              CAST(sum(CASE WHEN l_linestatus = 'O' THEN CAST(l_extendedprice AS DECIMAL(18,2)) END) AS DOUBLE) AS imp
            FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY ALL""").df() \
            .set_index(["category", "yr"]).sort_index()
        if list(got.index) != list(exp.index) or not (close(got["exp"], exp["exp"].fillna(0))
                                                      and close(got["imp"], exp["imp"].fillna(0))):
            return ["kpi_prod_monthly: per-(year, flow, category) totals differ from DuckDB"]
        return []

    def derived():
        # MoM / YoY, MA3 and the base-100 index, recomputed from the
        # written trade table
        fails = []
        trade = read(f"{pass_dir}/kpi_trade_long")
        wide = trade.pivot(index=["yr", "mon"], columns="flow", values="usd").sort_index()
        x, m = wide["export"], wide["import"]

        def pct(s, k):
            return ((s / s.shift(k)) - 1.0) * 100.0

        mom = read(f"{pass_dir}/kpi_mom_yoy").sort_values(["yr", "mon"])
        for col, want in [("export_mom", pct(x, 1)), ("export_yoy", pct(x, 12)),
                          ("import_mom", pct(m, 1)), ("import_yoy", pct(m, 12))]:
            if len(mom) != len(want) or not close(mom[col], want.values):
                fails.append(f"kpi_mom_yoy: {col} differs from the recomputation")
        ma = read(f"{pass_dir}/kpi_ma3").sort_values(["yr", "mon"])
        for col, s in [("export_ma3", x), ("import_ma3", m), ("balance_ma3", x - m)]:
            if len(ma) != len(s) or not close(ma[col], s.rolling(3, min_periods=1).mean().values):
                fails.append(f"kpi_ma3: {col} differs from the recomputation")
        idx = read(f"{pass_dir}/kpi_idx_base").sort_values(["yr", "mon"])
        for col, s in [("idx_export", x), ("idx_import", m)]:
            if len(idx) != len(s) or not close(idx[col], (s / s.iloc[0] * 100.0).values):
                fails.append(f"kpi_idx_base: {col} differs from the recomputation")
        return fails

    def book():
        # the raw book: xlsx-parsed == CSV-parsed, month cells == DuckDB
        # month sums, and the Total rows reconcile except where planted
        fails = []
        xlsx = read(f"{pass_dir}/etl_parse_xlsx")
        csv = read(f"{pass_dir}/etl_parse")
        if not frames_equal(xlsx, csv):
            fails.append("etl_parse_xlsx: the xlsx-parsed book differs from the CSV-parsed book")
        months = con.sql("""
            SELECT CAST(year(o_orderdate) AS INT) AS yr, CAST(month(o_orderdate) AS INT) AS mon,
                   CASE WHEN o_orderstatus = 'F' THEN 'export' ELSE 'import' END AS flow,
                   CAST(floor(sum(CAST(o_totalprice AS DECIMAL(18,2)))) AS BIGINT) AS want
            FROM orders GROUP BY ALL""").df()
        merged = xlsx.merge(months, on=["yr", "mon", "flow"], how="outer", indicator=True)
        nulls = {tuple(r) for r in merged.loc[merged["usd"].isna(), ["yr", "mon", "flow"]].values}
        if (merged["_merge"] != "both").any():
            fails.append("etl_parse_xlsx: book months differ from the drop's months")
        elif nulls != {BAD_CELL}:
            fails.append(f"etl_parse_xlsx: unparsable cells {sorted(nulls)}, planted {BAD_CELL}")
        else:
            ok = merged["usd"].notna()
            if not (merged.loc[ok, "usd"].astype("int64") == merged.loc[ok, "want"]).all():
                fails.append("etl_parse_xlsx: month cells differ from DuckDB month sums")
        bad_qa = {tuple(r) for r in xlsx.loc[~xlsx["qa_ok"].astype(bool), ["yr", "flow"]].values}
        if bad_qa != {BAD_CELL[::2], BAD_TOTAL}:
            fails.append(f"etl_parse_xlsx: unreconciled (year, flow) {sorted(bad_qa)}")
        return fails

    def catalog():
        # the catalog reads back with the written stages' row counts
        if "catalog.publish" in note["failed"]:
            return []
        written = {"trade": len(read(f"{pass_dir}/kpi_trade_long")),
                   "kpi_monthly": len(read(f"{pass_dir}/kpi_mom_yoy")),
                   "kpi_prod_monthly": len(read(f"{pass_dir}/kpi_prod_monthly"))}
        if note["catalog_rows"] != written:
            return [f"catalog rows {note['catalog_rows']} != written {written}"]
        return []

    def non_empty(q):
        return lambda: [f"{q}: empty output"] if read(f"{pass_dir}/{q}").empty else []

    parts = [("totals", totals), ("category totals", category_totals),
             ("derived KPIs", derived), ("raw book", book), ("catalog", catalog)]
    parts += [(q, non_empty(q)) for q in (
        "etl_parse_xlsx_prod", "etl_prod_qa", "kpi_qa_totals", "kpi_quick_stats",
        "kpi_seasonality", "kpi_outliers", "kpi_annual", "kpi_ranking",
        "kpi_insights_text", "kpi_trend")]
    return guarded(parts, note["failed"])


# ---- adhoc ----

def same_as_oracle(got, exp):
    """The comparison of tools/crosscheck.py: sorted columns, sorted
    rows, an integer column must stay integer on both sides, floats
    compare by value, everything else by its string form."""
    cols = sorted(got.columns)
    if cols != sorted(exp.columns) or len(got) != len(exp):
        return f"shape {cols}/{len(got)} vs oracle {sorted(exp.columns)}/{len(exp)}"
    g = got[cols].sort_values(cols).reset_index(drop=True)
    e = exp[cols].sort_values(cols).reset_index(drop=True)
    for c in cols:
        gv, ev = g[c], e[c]
        if (gv.dtype.kind in "iu") != (ev.dtype.kind in "iu"):
            return f"column {c}: dtype {gv.dtype} vs oracle {ev.dtype}"
        if gv.dtype.kind == "f" or ev.dtype.kind == "f":
            gv, ev = gv.astype(float), ev.astype(float)
            same = (gv == ev) | (gv.isna() & ev.isna())
        else:
            same = (gv.astype(str) == ev.astype(str)) | (gv.isna() & ev.isna())
        if not same.all():
            return f"column {c} differs from the oracle"
    return None


def check_adhoc_pass(pass_dir, drop, note, oracles):
    """Every query of the pass that has oracle SQL: its timed result
    equals DuckDB running that SQL over the same drop."""
    con = connect(drop)

    def one(q, sql):
        def fn():
            diff = same_as_oracle(read(f"{pass_dir}/{q}"), con.sql(sql).df())
            return [f"{q}: {diff}"] if diff else []
        return fn

    return guarded([(q, one(q, sql)) for q, sql in sorted(oracles.items())], note["failed"])


def check(workload, out, drop_of):
    """Checks every measured pass of a run against the drop `drop_of`
    gives for its note; returns the failure messages."""
    try:
        notes = [json.loads(l) for l in open(f"{out}/passes.jsonl")]
        oracles = json.load(open(f"{out}/oracles.json")) if workload == "adhoc" else None
    except Exception as e:
        return [f"unreadable run record: {type(e).__name__}: {e}"]
    if not notes:
        return ["no measured pass"]
    if workload == "adhoc" and not oracles:
        return ["no checked queries"]
    fails = []
    for note in notes:
        pass_dir = f"{out}/{note['pass']}"
        if workload == "pipeline":
            f = check_pipeline_pass(pass_dir, drop_of(note), note)
        else:
            f = check_adhoc_pass(pass_dir, drop_of(note), note, oracles)
        fails += [f"{note['pass']}: {x}" for x in f]
    return fails
