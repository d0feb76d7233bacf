"""Output checks, computed apart from the program.

Every reference here is written for the benchmark: DuckDB SQL or numpy
over the run's input tables, never the program's own oracle
SQL. `check` compares the program's cold-pass outputs (parquet, one
directory per step) with these references and with properties the
method must have, and returns a list of problems (empty when correct).

Doubles match when |got - want| <= TOL[column] + 1e-10 * |want|, where
TOL is half a unit of the column's output rounding (0.005 for a
2-decimal column, 5e-5 for 4, 5e-7 for 6) and 1e-6 otherwise; p-values
also allow the 1.5e-7 error of the program's erfc approximation.
Everything else matches exactly.
"""
import glob
import math

import duckdb
import numpy as np
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events"]
HOUR_US = 3_600_000_000
DAY_US = 24 * HOUR_US
# the two switchback tests of graft's reference DAG: zones, event types, dates
TESTS = [("test_sb_pricing", 0, 4, ("click", "view", "purchase"), "2024-01-05", "2024-01-25"),
         ("test_sb_dispatch", 5, 9, ("purchase", "signup", "error"), "2024-01-10", "2024-01-28")]
R2, R4, R6 = 0.005 + 1e-9, 5e-5 + 1e-12, 5e-7 + 1e-13
P_TOL = R6 + 1.5e-7


def connect(data_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    return con


def events(con):
    """Events with the switchback fields every switchback query derives."""
    e = con.sql("SELECT event_id, epoch_us(ts) AS us, user_id, event_type, value, props "
                "FROM events").df()
    e["zone"] = e.user_id % 10
    e["on_off"] = np.where((e.us // HOUR_US + e.zone) % 2 == 0, "On", "Off")
    # NULL where props has no "k", as the program reads it
    e["k"] = e.props.str.extract(r'"k": (\d+)', expand=False).astype(float)
    e["day"] = pd.to_datetime(e.us // DAY_US * DAY_US, unit="us").dt.date
    return e


def mann_whitney(values, on):
    """Two-sided Mann-Whitney U of the On group against the Off group with
    average ranks for ties, the tie-corrected variance and a continuity
    correction: (U_on, U_off, z, p)."""
    values = np.asarray(values, dtype=float)
    on = np.asarray(on, dtype=bool)
    ranks = pd.Series(values).rank(method="average").to_numpy()
    n1, n2 = int(on.sum()), int((~on).sum())
    n = n1 + n2
    u_on = ranks[on].sum() - n1 * (n1 + 1) / 2.0
    u_off = ranks[~on].sum() - n2 * (n2 + 1) / 2.0
    ties = pd.Series(values).value_counts().to_numpy(dtype=float)
    sd = math.sqrt(n1 * n2 / 12.0 * ((n + 1) - (ties ** 3 - ties).sum() / (n * (n - 1.0))))
    d = u_on - n1 * n2 / 2.0
    z = (d - math.copysign(0.5, d) if d else 0.0) / sd if sd else float("nan")
    p = min(1.0, math.erfc(abs(z) / math.sqrt(2.0))) if sd else float("nan")
    return u_on, u_off, z, p


# ───── switchback ──────────────────────────────────────────────────────

def ref_agg_groupby(con, e):
    return con.sql("""
        SELECT l_returnflag, l_linestatus, SUM(l_quantity) AS sum_qty,
          SUM(l_extendedprice) AS sum_base_price,
          SUM(l_extendedprice * (1 - l_discount)) AS sum_disc_price,
          AVG(l_quantity) AS avg_qty, COUNT(*) AS count_order
        FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-12-31'
        GROUP BY ALL""").df()


def ref_join_star(con, e):
    return con.sql("""
        SELECT r_name, c_mktsegment, COUNT(*) AS num_orders,
          SUM(o_totalprice) AS revenue, AVG(o_totalprice) AS avg_order_value
        FROM orders, customer, nation, region
        WHERE o_custkey = c_custkey AND c_nationkey = n_nationkey
          AND n_regionkey = r_regionkey
        GROUP BY ALL""").df()


def ref_sessionize(con, e):
    s = e.sort_values(["user_id", "us", "event_id"])
    gap = s.groupby("user_id").us.diff()
    s = s.assign(new=(gap.isna() | (gap > 1800 * 1_000_000)).astype(int))
    g = s.groupby("user_id").agg(n_events=("new", "size"), n_sessions=("new", "sum")).reset_index()
    g["events_per_session"] = g.n_events / g.n_sessions
    return g


def ref_asof_join(con, e):
    return con.sql("""
        SELECT p.event_id, p.user_id, epoch_us(c.ts) AS last_click_us,
          epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
        FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        ASOF LEFT JOIN (SELECT user_id, ts FROM events WHERE event_type = 'click') c
          ON p.user_id = c.user_id AND p.ts >= c.ts""").df()


def ref_sb_metrics(con, e):
    g = e.groupby(["event_type", "on_off"]).agg(
        n_orders=("value", "size"), value_per_order=("value", "mean"),
        value_total=("value", "sum"), k_per_order=("k", "mean"),
        k_total=("k", "sum")).reset_index()
    return g


def ref_mwu(con, e):
    rows = []
    for et, g in e.groupby("event_type"):
        u_on, u_off, z, p = mann_whitney(g.value, g.on_off == "On")
        n_on = int((g.on_off == "On").sum())
        rows.append((et, n_on, len(g) - n_on, u_on, z, p, u_off))
    return pd.DataFrame(rows, columns=["event_type", "n_on", "n_off", "u_stat", "z",
                                       "p_value", "u_off"])


def switchback_slice(e, test):
    """The events a switchback test keeps: its zones, types and days, k < 90."""
    name, lo, hi, types, start, end = test
    d0, d1 = pd.Timestamp(start).date(), pd.Timestamp(end).date()
    m = (e.zone.between(lo, hi) & e.event_type.isin(types) & (e.day >= d0)
         & (e.day <= d1) & (e.k < 90))
    s = e[m].copy()
    s["revenue_local"] = s.value * 0.8 + s.k * 0.01
    return s


def ref_sb_pipeline(con, e):
    rows = []
    for t in TESTS:
        s = switchback_slice(e, t)
        on = s.on_off == "On"
        u_on, u_off, z, p = mann_whitney(s.value, on)
        rows.append((t[0], int(on.sum()), int((~on).sum()),
                     s.value[on].mean(), s.value[~on].mean(),
                     s.revenue_local[on].mean(), s.revenue_local[~on].mean(),
                     u_on, z, p, u_off))
    return pd.DataFrame(rows, columns=[
        "test_name", "n_on", "n_off", "value_per_order_on", "value_per_order_off",
        "revenue_per_order_on", "revenue_per_order_off", "u_stat", "z", "p_value", "u_off"])


# step -> (reference, key columns, double tolerances)
SWITCHBACK = {
    "q_agg_groupby": (ref_agg_groupby, ["l_returnflag", "l_linestatus"],
                      {"sum_qty": 1e-6, "sum_base_price": 1e-6, "sum_disc_price": R4,
                       "avg_qty": 1e-6}),
    "q_join_star": (ref_join_star, ["r_name", "c_mktsegment"],
                    {"revenue": 1e-6, "avg_order_value": 1e-6}),
    "q_sessionize": (ref_sessionize, ["user_id"], {"events_per_session": R4}),
    "q_asof_join": (ref_asof_join, ["event_id"], {}),
    "q_sb_metrics": (ref_sb_metrics, ["event_type", "on_off"],
                     {"value_per_order": R2, "value_total": 1e-6, "k_per_order": R2}),
    "q_mwu": (ref_mwu, ["event_type"], {"u_stat": 1e-6, "z": R4, "p_value": P_TOL}),
    "q_sb_pipeline": (ref_sb_pipeline, ["test_name"],
                      {"value_per_order_on": R2, "value_per_order_off": R2,
                       "revenue_per_order_on": R2, "revenue_per_order_off": R2,
                       "u_stat": 1e-6, "z": R4, "p_value": P_TOL}),
}


def mwu_properties(step, got, want):
    """U_on + U_off = n_on * n_off for every test, and 0 <= p <= 1."""
    out = []
    m = got.merge(want[want.columns[:1].tolist() + ["u_off"]], on=want.columns[0], how="inner")
    for _, r in m.iterrows():
        if abs(r.u_stat + r.u_off - r.n_on * r.n_off) > 1e-6:
            out.append(f"{step}: U_on + U_off != n_on * n_off for {r.iloc[0]}")
        if not (0.0 <= r.p_value <= 1.0):
            out.append(f"{step}: p_value {r.p_value} outside [0, 1] for {r.iloc[0]}")
    return out


# ───── lakehouse ───────────────────────────────────────────────────────

def ref_daily_versions(e, params):
    """Version v of the daily table holds the first v landed days; the
    re-landing commit (the last version) holds all of them unchanged."""
    days = [pd.Timestamp(d).date() for d in params["land_days"]]
    per_day = []
    for t in TESTS:
        s = switchback_slice(e, t)
        s = s[s.day.isin(days)]
        g = s.groupby(["day", "on_off"]).agg(
            n=("value", "size"), sum_value=("value", "sum"),
            sum_revenue=("revenue_local", "sum")).reset_index()
        g.insert(0, "test_name", t[0])
        per_day.append(g)
    agg = pd.concat(per_day).rename(columns={"on_off": "on_or_off"})
    out = []
    for v in range(1, len(days) + 2):
        part = agg[agg.day.isin(days[:v])].copy()
        part.insert(0, "version", v)
        out.append(part)
    return pd.concat(out)


def ref_orders_versions(con, params):
    base = con.sql("SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders")
    ch = con.read_parquet(params["changes"])
    merged = con.sql("""
        SELECT * FROM base WHERE o_orderkey NOT IN (SELECT o_orderkey FROM ch)
        UNION ALL
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM ch WHERE op <> 'D'""")
    lo, hi = params["delete_lo"], params["delete_hi"]
    deleted = con.sql(f"SELECT * FROM merged WHERE o_orderkey NOT BETWEEN {lo} AND {hi}")
    return pd.concat([
        con.sql("SELECT 2 AS version, * FROM merged").df(),
        con.sql("SELECT 3 AS version, * FROM deleted").df(),
        con.sql("SELECT 4 AS version, * FROM deleted").df()])


def file_counts(facts):
    out = []
    if not facts.get("orders_files_v4", 0) < facts.get("orders_files_v3", 0):
        out.append("OPTIMIZE ZORDER did not reduce the file count: "
                   f"{facts.get('orders_files_v3')} -> {facts.get('orders_files_v4')}")
    return out


# ───── comparison ──────────────────────────────────────────────────────

def read_output(out_dir, step):
    files = sorted(glob.glob(f"{out_dir}/{step}/*.parquet"))
    if not files:
        return None
    return duckdb.sql(f"SELECT * FROM read_parquet({files!r})").df()


def _norm(col):
    """Dates and timestamps as text, so both sides compare alike."""
    if pd.api.types.is_datetime64_any_dtype(col):
        col = col.dt.strftime("%Y-%m-%d %H:%M:%S").str.replace(" 00:00:00", "")
    return col.map(lambda x: str(x) if hasattr(x, "isoformat") else x)


def compare(step, got, want, keys, tol):
    """Problems found comparing `got` with `want`, row by row on `keys`."""
    if got is None:
        return [f"{step}: no output"]
    cols = [c for c in want.columns if c != "u_off"]
    missing = [c for c in cols if c not in got.columns]
    if missing:
        return [f"{step}: output lacks columns {missing}"]
    if len(got) != len(want):
        return [f"{step}: {len(got)} rows, expected {len(want)}"]
    g = got[cols].copy()
    w = want[cols].copy()
    for k in keys:
        g[k], w[k] = _norm(g[k]), _norm(w[k])
    g = g.sort_values(keys).reset_index(drop=True)
    w = w.sort_values(keys).reset_index(drop=True)
    if not g[keys].equals(w[keys]):
        return [f"{step}: row keys differ from the reference"]
    out = []
    for c in cols:
        if c in keys:
            continue
        a, b = g[c], w[c]
        both_null = a.isna() & b.isna()
        if c in tol:
            af, bf = a.astype(float), b.astype(float)
            bad = ~both_null & ~((af - bf).abs() <= tol[c] + 1e-10 * bf.abs())
        else:
            bad = ~both_null & (_norm(a) != _norm(b))
            if pd.api.types.is_numeric_dtype(a) and pd.api.types.is_numeric_dtype(b):
                bad = ~both_null & (a.astype(float) != b.astype(float))
        if bad.any():
            i = int(np.flatnonzero(bad.to_numpy())[0])
            out.append(f"{step}.{c}: {int(bad.sum())} value(s) differ, "
                       f"first at {dict(g.loc[i, keys])}: got {a[i]!r}, want {b[i]!r}")
    return out


def check(kind, data_dir, out_dir, params=None, facts=None):
    con = connect(data_dir)
    e = events(con)
    problems = []
    if kind == "switchback":
        for step, (ref, keys, tol) in SWITCHBACK.items():
            want = ref(con, e)
            got = read_output(out_dir, step)
            problems += compare(step, got, want, keys, tol)
            if "u_off" in want.columns and got is not None and "u_stat" in got.columns:
                problems += mwu_properties(step, got, want)
    elif kind == "lakehouse":
        problems += compare("daily_versions", read_output(out_dir, "daily_versions"),
                            ref_daily_versions(e, params),
                            ["version", "test_name", "day", "on_or_off"],
                            {"sum_value": 1e-6, "sum_revenue": 1e-4})
        problems += compare("orders_versions", read_output(out_dir, "orders_versions"),
                            ref_orders_versions(con, params), ["version", "o_orderkey"], {})
        problems += file_counts(facts or {})
    else:
        problems.append(f"no checks for workload kind {kind}")
    return problems
