"""Answer checks for the three workloads.

Money (the q-series and the `etl_load` reports) is checked against a
reference computed exactly: DuckDB sums the inputs as DECIMAL, AVG is
SUM/COUNT in Python's decimal arithmetic, and rounding is HALF_UP, which is
Spark's rule for `round`. The engine aggregates money as DOUBLE, so a
rounded cell may differ from the exact reference by one unit in the last
place, but only when the exact value lies within the operation's
floating-point error bound of a half-unit tie; such cells are counted as
`rounding_ties`. An unrounded money cell must lie within that bound of the
exact value. Counts, keys, strings, row sets and ordering must match
exactly.

The x-series is checked against the engine's own DuckDB oracle SQL
(`SparkEntry.oracleSql`) with the rule of `tools/check.py`: same column
names, same row count, equal cells after sorting rows.
"""
import glob
import math
import os
import re
from decimal import ROUND_FLOOR, ROUND_HALF_UP, Decimal, localcontext

import duckdb
import pandas as pd

# Error of one IEEE double operation, with a factor-two margin (2 * 2^-53).
U = Decimal(2) ** -52


class Money:
    """An exact money value with the error bound of the engine's double
    computation of it; `scale` is the rounding scale, None if unrounded."""

    def __init__(self, exact, bound, scale):
        self.exact, self.bound, self.scale = exact, bound, scale

    def __repr__(self):
        return f"Money({self.exact}, ±{self.bound:.3g}, scale={self.scale})"


def half_up(x, scale):
    return x.quantize(Decimal(1).scaleb(-scale), rounding=ROUND_HALF_UP)


def sum_bound(n, abs_sum, ops_per_term=1):
    """Bound on |double sum - exact sum| for n terms, each the result of
    `ops_per_term` roundings, whose absolute values sum to abs_sum."""
    return (Decimal(int(n)) + ops_per_term + 1) * U * Decimal(abs_sum)


def money_sum(exact, n, abs_sum, scale, ops_per_term=1):
    return Money(Decimal(exact), sum_bound(n, abs_sum, ops_per_term), scale)


def money_avg(exact_sum, n, abs_sum, scale, ops_per_term=1):
    with localcontext() as ctx:
        ctx.prec = 50
        avg = Decimal(exact_sum) / Decimal(int(n))
        bound = sum_bound(n, abs_sum, ops_per_term) / Decimal(int(n)) + U * abs(avg)
    return Money(avg, bound, scale)


def check_money(got, ref):
    """Return (ok, is_tie) for a double cell `got` against Money `ref`."""
    if got is None or (isinstance(got, float) and math.isnan(got)):
        return False, False
    g = Decimal(repr(float(got)))
    if ref.scale is None:
        return abs(g - ref.exact) <= ref.bound + U * abs(ref.exact), False
    want = half_up(ref.exact, ref.scale)
    if g == want:
        return True, False
    unit = Decimal(1).scaleb(-ref.scale)
    half = unit / 2
    base = (ref.exact / unit).to_integral_value(rounding=ROUND_FLOOR) * unit
    tie = min((base - half, base + half), key=lambda m: abs(ref.exact - m))
    if abs(ref.exact - tie) <= ref.bound and g in (tie - half, tie + half):
        return True, True
    return False, False


def _same(a, b):
    if isinstance(b, Money):
        return check_money(a, b)
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b, False
        an, bn = a != a, b != b
        return (an and bn) or (not an and not bn and a == b), False
    return a == b, False


def compare(got_cols, got_rows, ref_cols, ref_rows, order=None):
    """Compare an answer with a reference. Rows are lists of cells; a
    reference cell may be a Money. Rows are paired after sorting on the
    non-money columns; `order` lists the (column, descending) keys the
    answer must be sorted by. Returns (errors, ties)."""
    if sorted(got_cols) != sorted(ref_cols):
        return [f"columns {sorted(got_cols)} != {sorted(ref_cols)}"], []
    idx = [got_cols.index(c) for c in ref_cols]
    got = [[r[i] for i in idx] for r in got_rows]
    if len(got) != len(ref_rows):
        return [f"rows {len(got)} != {len(ref_rows)}"], []
    money = [i for i, c in enumerate(ref_cols)
             if any(isinstance(r[i], Money) for r in ref_rows)]
    keys = [i for i in range(len(ref_cols)) if i not in money]

    def key(r):
        return tuple((v is None, "" if v is None else v) for v in (r[i] for i in keys))

    errors, ties = [], []
    if order:
        oi = [(ref_cols.index(c), desc) for c, desc in order]
        for n, (g, r) in enumerate(zip(got, sorted_rows(ref_rows, oi))):
            for i, _ in oi:
                ok, _ = _same(g[i], r[i])
                if not ok:
                    errors.append(f"order: row {n} {ref_cols[i]} {g[i]!r} != {r[i]!r}")
                    break
    for n, (g, r) in enumerate(zip(sorted(got, key=key), sorted(ref_rows, key=key))):
        for i, c in enumerate(ref_cols):
            ok, tie = _same(g[i], r[i])
            if not ok:
                errors.append(f"row {n} {c}: {g[i]!r} != {r[i]!r}")
            elif tie:
                ties.append({"row": n, "column": c, "got": g[i], "exact": str(r[i].exact),
                             "scale": r[i].scale})
    return errors[:5], ties


def sorted_rows(rows, order):
    """Sort rows by (index, descending) keys, money by its exact value."""
    def val(v):
        return v.exact if isinstance(v, Money) else v
    out = list(rows)
    for i, desc in reversed(order):
        out.sort(key=lambda r: (val(r[i]) is None, val(r[i])), reverse=desc)
    return out


def read_parquet_dir(path):
    """Rows of a Spark parquet output in file (= partition) order."""
    files = sorted(glob.glob(os.path.join(path, "part-*.parquet")))
    frames = [pd.read_parquet(f) for f in files]
    df = pd.concat(frames, ignore_index=True) if frames else pd.read_parquet(path)
    return list(df.columns), [[_py(v) for v in row] for row in df.itertuples(index=False)]


def _py(v):
    if v is None:
        return None
    if hasattr(v, "tolist"):
        v = v.tolist()
    if isinstance(v, float) and math.isnan(v):
        return float("nan")
    return v


def _views(con, input_dir):
    for p in sorted(glob.glob(os.path.join(input_dir, "*.parquet"))):
        name = os.path.basename(p)[:-len(".parquet")]
        con.sql(f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM '{p}'")


# Timezone-free oracles only: the same offset zone as tools/check.py.
TIMEZONE = "SET TimeZone='Asia/Tokyo'"


def connect(input_dir):
    con = duckdb.connect()
    con.execute(TIMEZONE)
    _views(con, input_dir)
    return con


# ---- q-series ---------------------------------------------------------------

def _d(c):
    return f"CAST({c} AS DECIMAL(18,2))"


DISC = f"{_d('l_extendedprice')} * (1 - {_d('l_discount')})"
DISC_D = "l_extendedprice * (1 - l_discount)"


def _m(name, dec, dbl):
    """SQL columns for one money aggregate: exact sum, term count, abs sum."""
    return (f"SUM({dec}) AS {name}, COUNT({dbl}) AS {name}__n, "
            f"SUM(ABS({dbl})) AS {name}__abs")


class Q:
    """Exact reference of one q-series query: `sql` returns exact sums
    (`<col>`, `<col>__n`, `<col>__abs`) for every money column listed in
    `money` as col -> (kind, scale, roundings per term)."""

    def __init__(self, sql, money, order, post=None):
        self.sql, self.money, self.order, self.post = sql, money, order, post

    def rows(self, con):
        names, recs = records(con, self.sql)
        cols = [c for c in names if "__" not in c]
        out = []
        for rec in recs:
            row = []
            for c in cols:
                if c in self.money:
                    kind, scale, k = self.money[c]
                    n = rec[f"{c}__n"]
                    s, a = rec[c], rec[f"{c}__abs"]
                    if n == 0 or s is None:
                        row.append(Money(Decimal(0), Decimal(0), scale))
                    elif kind == "avg":
                        row.append(money_avg(s, n, a, scale, k))
                    else:
                        row.append(money_sum(s, n, a, scale, k))
                else:
                    row.append(_py(rec[c]))
            out.append(row)
        if self.post:
            cols, out = self.post(cols, out)
        return cols, out


def records(con, sql):
    """Column names and rows (as dicts) of a DuckDB query, DECIMAL kept
    exact (a DataFrame would turn it into float)."""
    rel = con.sql(sql)
    cols = rel.columns
    return cols, [dict(zip(cols, r)) for r in rel.fetchall()]


def _rank_top(cols, rows, part, order, limit, rank_col=None):
    """Rank rows within `part` by `order` on HALF_UP-rounded money and keep
    the top `limit` (ROW_NUMBER semantics of the engine's query)."""
    def val(v):
        return half_up(v.exact, v.scale) if isinstance(v, Money) else v
    groups = {}
    for r in rows:
        groups.setdefault(tuple(r[cols.index(p)] for p in part), []).append(r)
    out = []
    for _, rs in sorted(groups.items()):
        for i, desc in reversed([(cols.index(c), d) for c, d in order]):
            rs.sort(key=lambda r: val(r[i]), reverse=desc)
        for n, r in enumerate(rs[:limit], 1):
            out.append(r + [n] if rank_col else r)
    return (cols + [rank_col] if rank_col else cols), out


def _q19_post(cols, rows):
    region = {}
    for r in rows:
        region[r[0]] = region.get(r[0], 0) + r[3]
    out = []
    for r in rows:
        with localcontext() as ctx:
            ctx.prec = 50
            share = Decimal(int(r[3])) / Decimal(int(region[r[0]]))
        out.append(r + [Money(share, U * share, 4)])
    return cols + ["revenue_share"], out


COMPLETED = "o_orderstatus = 'F'"
Q_REFS = {
    "q01_monthly_sales": Q(
        f"SELECT strftime(o_orderdate, '%Y-%m') AS month, COUNT(*) AS total_orders, "
        f"{_m('total_revenue', _d('o_totalprice'), 'o_totalprice')} "
        f"FROM orders WHERE {COMPLETED} GROUP BY 1",
        {"total_revenue": ("sum", 2, 1)}, [("month", False)]),
    "q02_segment_rollup": Q(
        f"SELECT c_mktsegment AS customer_segment, COUNT(*) AS customer_count, "
        f"{_m('avg_spent', _d('c_acctbal'), 'c_acctbal')}, "
        f"{_m('total_revenue', _d('c_acctbal'), 'c_acctbal')} FROM customer GROUP BY 1",
        {"avg_spent": ("avg", 2, 1), "total_revenue": ("sum", 2, 1)},
        [("total_revenue", True), ("customer_segment", False)]),
    "q03_top_products": Q(
        f"SELECT p.p_partkey, p.p_name, p.p_type, "
        f"{_m('total_sold', _d('l.l_quantity'), 'l.l_quantity')}, "
        f"{_m('total_revenue', DISC, DISC_D)} "
        f"FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey "
        f"JOIN part p ON l.l_partkey = p.p_partkey WHERE o.{COMPLETED} GROUP BY 1, 2, 3",
        {"total_sold": ("sum", 2, 1), "total_revenue": ("sum", 2, 3)},
        [("total_revenue", True), ("p_partkey", False)],
        post=lambda c, r: _rank_top(c, r, [], [("total_revenue", True), ("p_partkey", False)], 10)),
    "q04_customer_totals": Q(
        f"SELECT c.c_custkey, c.c_name, COUNT(o.o_orderkey) AS total_orders, "
        f"{_m('total_spent', _d('o.o_totalprice'), 'o.o_totalprice')} "
        f"FROM customer c LEFT JOIN (SELECT * FROM orders WHERE {COMPLETED}) o "
        f"ON c.c_custkey = o.o_custkey GROUP BY 1, 2",
        {"total_spent": ("sum", 2, 1)}, [("c_custkey", False)]),
    "q05_quality_summary": Q(
        f"SELECT event_type, COUNT(*) AS n_events, {_m('avg_value', _d('value'), 'value')}, "
        f"{_m('total_value', _d('value'), 'value')}, "
        f"strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS last_seen FROM events GROUP BY 1",
        {"avg_value": ("avg", 2, 1), "total_value": ("sum", 2, 1)},
        [("avg_value", True), ("event_type", False)]),
    "q06_recent_metrics": Q(
        f"SELECT COUNT(*) AS n_events, {_m('avg_value', _d('value'), 'value')}, "
        f"{_m('total_value', _d('value'), 'value')} FROM events "
        f"WHERE ts >= (SELECT MAX(ts) - INTERVAL 24 HOUR FROM events)",
        {"avg_value": ("avg", 2, 1), "total_value": ("sum", 2, 1)}, None),
    "q13_top_per_brand": Q(
        f"SELECT p.p_brand, p.p_partkey, p.p_name, {_m('revenue', DISC, DISC_D)} "
        f"FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey GROUP BY 1, 2, 3",
        {"revenue": ("sum", 2, 3)}, [("p_brand", False), ("rk", False)],
        post=lambda c, r: _rank_top(c, r, ["p_brand"], [("revenue", True), ("p_partkey", False)],
                                    2, rank_col="rk")),
    "q14_region_revenue": Q(
        f"SELECT r.r_name, COUNT(*) AS n_orders, "
        f"{_m('revenue', _d('o.o_totalprice'), 'o.o_totalprice')} "
        f"FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey "
        f"JOIN nation n ON c.c_nationkey = n.n_nationkey "
        f"JOIN region r ON n.n_regionkey = r.r_regionkey WHERE o.{COMPLETED} GROUP BY 1",
        {"revenue": ("sum", 2, 1)}, [("r_name", False)]),
    "q15_pricing_summary": Q(
        f"SELECT l_returnflag, l_linestatus, "
        f"{_m('sum_qty', _d('l_quantity'), 'l_quantity')}, "
        f"{_m('sum_base_price', _d('l_extendedprice'), 'l_extendedprice')}, "
        f"{_m('sum_disc_price', DISC, DISC_D)}, "
        f"{_m('sum_charge', DISC + ' * (1 + ' + _d('l_tax') + ')', DISC_D + ' * (1 + l_tax)')}, "
        f"{_m('avg_qty', _d('l_quantity'), 'l_quantity')}, "
        f"{_m('avg_price', _d('l_extendedprice'), 'l_extendedprice')}, "
        f"{_m('avg_disc', _d('l_discount'), 'l_discount')}, COUNT(*) AS count_order "
        f"FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-01-01' GROUP BY 1, 2",
        {"sum_qty": ("sum", 2, 1), "sum_base_price": ("sum", 2, 1),
         "sum_disc_price": ("sum", 2, 3), "sum_charge": ("sum", 2, 5),
         "avg_qty": ("avg", 2, 1), "avg_price": ("avg", 2, 1), "avg_disc": ("avg", 4, 1)},
        [("l_returnflag", False), ("l_linestatus", False)]),
    "q16_supplier_balances": Q(
        f"SELECT n.n_nationkey, n.n_name, COUNT(s.s_suppkey) AS n_suppliers, "
        f"{_m('total_balance', _d('s.s_acctbal'), 's.s_acctbal')}, "
        f"{_m('avg_balance', _d('s.s_acctbal'), 's.s_acctbal')} "
        f"FROM nation n LEFT JOIN supplier s ON n.n_nationkey = s.s_nationkey GROUP BY 1, 2",
        {"total_balance": ("sum", 2, 1), "avg_balance": ("avg", 2, 1)},
        [("n_nationkey", False)]),
    "q19_revenue_share": Q(
        f"SELECT r.r_name, na.n_name, COUNT(*) AS n_orders, "
        f"CAST(SUM(CAST(o.o_totalprice * 100 AS DECIMAL(18,0))) AS BIGINT) AS rev_cents "
        f"FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey "
        f"JOIN nation na ON c.c_nationkey = na.n_nationkey "
        f"JOIN region r ON na.n_regionkey = r.r_regionkey WHERE o.{COMPLETED} GROUP BY 1, 2",
        {}, [("r_name", False), ("n_name", False)], post=_q19_post),
}

# Queries without aggregated money use the engine's own DuckDB oracle with
# exact cells; these are their ORDER BY keys.
Q_ORDER = {
    "q07_profile_customer": None,
    "q08_clean_customer": [("c_custkey", False)],
    "q09_nation_map": [("n_nationkey", False)],
    "q10_line_totals": [("l_orderkey", False), ("l_linenumber", False)],
    "q11_completed_orders": [("o_orderkey", False)],
    "q12_rules_report": None,
    "q17_order_set_ops": [("o_custkey", False)],
    "q18_status_pivot": [("month", False)],
}


def reference(con, name, oracles):
    """(columns, rows, order) of the reference answer for one query."""
    if name in Q_REFS:
        q = Q_REFS[name]
        cols, rows = q.rows(con)
        return cols, rows, q.order
    df = con.sql(oracles[name]).df()
    return list(df.columns), [[_py(v) for v in r] for r in df.itertuples(index=False)], \
        Q_ORDER.get(name)


# ---- digests of timed ops ---------------------------------------------------

def digest_matches(op, checked, ties):
    """An op's answer digest against the digest of the answer that was
    checked: equal, or differing in floating columns by no more than one
    unit in the last place per rounding-tie cell of that column."""
    if op == checked:
        return True
    if op.get("n") != checked.get("n") or op.get("he") != checked.get("he"):
        return False
    per_col = {}
    for t in ties:
        per_col[t["column"]] = per_col.get(t["column"], 0) + 10 ** (4 - t["scale"])
    for k, v in checked.items():
        if k.startswith("f"):
            col = k.split(":", 1)[1]
            if abs(_int(op.get(k)) - _int(v)) > per_col.get(col, 0):
                return False
    return True


def _int(v):
    return 0 if v in (None, "null") else int(v)


# ---- etl_load ---------------------------------------------------------------

ETL_TYPES = {
    "customers": {"customer_id": "BIGINT", "first_name": "VARCHAR", "last_name": "VARCHAR",
                  "email": "VARCHAR", "phone": "VARCHAR", "registration_date": "VARCHAR",
                  "country": "VARCHAR", "city": "VARCHAR", "customer_segment": "VARCHAR"},
    "products": {"product_id": "BIGINT", "product_name": "VARCHAR", "category": "VARCHAR",
                 "subcategory": "VARCHAR", "brand": "VARCHAR", "unit_price": "DOUBLE",
                 "cost_price": "DOUBLE", "stock_quantity": "BIGINT", "weight_kg": "DOUBLE",
                 "supplier_id": "BIGINT"},
    "orders": {"order_id": "BIGINT", "customer_id": "BIGINT", "order_date": "VARCHAR",
               "order_status": "VARCHAR", "shipping_method": "VARCHAR",
               "payment_method": "VARCHAR", "subtotal": "DOUBLE", "tax_amount": "DOUBLE",
               "shipping_cost": "DOUBLE", "discount_amount": "DOUBLE",
               "total_amount": "DOUBLE", "shipping_address": "VARCHAR",
               "order_priority": "VARCHAR"},
    "order_items": {"item_id": "BIGINT", "order_id": "BIGINT", "product_id": "BIGINT",
                    "quantity": "BIGINT", "unit_price": "DOUBLE", "discount_percent": "DOUBLE",
                    "line_total": "DOUBLE"},
}

# The transform rules of etl.Transforms, restated in SQL with the same
# double arithmetic; the added columns of each table are listed so that
# the quality score counts the same cells.
ETL_TRANSFORM = {
    "customers": ("email LIKE '%@%'", 2),
    "products": ("unit_price > 0 AND cost_price > 0", 1),
    "orders": ("subtotal >= 0 AND tax_amount >= 0 AND shipping_cost >= 0 AND total_amount >= 0 "
               "AND abs(total_amount - (subtotal + tax_amount + shipping_cost - discount_amount))"
               " < 0.01", 0),
    "order_items": ("quantity > 0 AND unit_price >= 0 AND line_total >= 0 AND "
                    "abs(line_total - quantity * unit_price * (1.0 - discount_percent / 100.0))"
                    " < 0.01", 0),
}


def etl_reference(input_dir):
    """Expected metrics and reports of one `Pipeline.run` over the CSVs."""
    con = duckdb.connect()
    exp = {"tables": {}}
    for t, types in ETL_TYPES.items():
        cols = ", ".join(f"'{k}': '{v}'" for k, v in types.items())
        con.sql(f"CREATE TABLE raw_{t} AS SELECT * FROM read_csv("
                f"'{os.path.join(input_dir, f'sample_{t}.csv')}', header=true, "
                f"columns={{{cols}}}, quote='\"', escape='\"')")
        pred, added = ETL_TRANSFORM[t]
        trimmed = ", ".join(f"trim({c}) AS {c}" if v == "VARCHAR" else c for c, v in types.items())
        con.sql(f"CREATE TABLE {t} AS SELECT * FROM (SELECT {trimmed} FROM raw_{t}) WHERE {pred}")
        n = con.sql(f"SELECT COUNT(*) FROM {t}").fetchone()[0]
        nulls = con.sql("SELECT " + " + ".join(
            f"COUNT(*) - COUNT({c})" for c in types) + f" FROM {t}").fetchone()[0]
        distinct = con.sql(f"SELECT COUNT(*) FROM (SELECT DISTINCT * FROM {t})").fetchone()[0]
        ncols = len(types) + added
        cells = n * ncols
        raw = float(cells - nulls - (n - distinct) * ncols) / cells * 100.0
        exp["tables"][t] = {"rows": n, "score": max(0.0, round(raw * 100) / 100)}
    exp["total_records"] = sum(v["rows"] for v in exp["tables"].values())

    def rows(sql):
        return records(con, sql)[1]

    completed = "SELECT * FROM orders WHERE order_status = 'Completed'"
    monthly = [[r["month"], int(r["total_orders"]),
                money_sum(r["rev"], r["n"], r["a"], None)]
               for r in rows(f"SELECT strftime(CAST(order_date AS DATE), '%Y-%m') AS month, "
                             f"COUNT(*) AS total_orders, SUM({_d('total_amount')}) AS rev, "
                             f"COUNT(*) AS n, SUM(ABS(total_amount)) AS a FROM ({completed}) "
                             f"GROUP BY 1")]
    seg = []
    for r in rows(
            f"SELECT customer_segment, COUNT(*) AS cnt, SUM(COALESCE(s, 0)) AS s, "
            f"SUM(COALESCE(n, 0)) AS n, SUM(COALESCE(a, 0)) AS a FROM customers c LEFT JOIN "
            f"(SELECT customer_id, SUM({_d('total_amount')}) AS s, COUNT(*) AS n, "
            f"SUM(ABS(total_amount)) AS a FROM ({completed}) GROUP BY 1) o USING (customer_id) "
            f"GROUP BY 1"):
        terms = int(r["n"]) + int(r["cnt"])
        seg.append([r["customer_segment"], int(r["cnt"]),
                    money_avg(r["s"], r["cnt"], r["a"], None, terms - int(r["cnt"]) + 1),
                    money_sum(r["s"], terms, r["a"], None)])
    top = [[int(r["product_id"]), r["product_name"], r["category"], int(r["sold"]),
            money_sum(r["rev"], r["n"], r["a"], None)]
           for r in rows(f"SELECT p.product_id, p.product_name, p.category, "
                         f"SUM(i.quantity) AS sold, SUM({_d('i.line_total')}) AS rev, "
                         f"COUNT(*) AS n, SUM(ABS(i.line_total)) AS a FROM order_items i "
                         f"JOIN ({completed}) o USING (order_id) "
                         f"JOIN products p USING (product_id) GROUP BY 1, 2, 3")]
    exp["monthly_sales"] = (["month", "total_orders", "total_revenue"], monthly,
                            [("month", False)])
    exp["customer_segments"] = (["customer_segment", "customer_count", "avg_spent",
                                 "total_revenue"], seg, [("total_revenue", True)])
    exp["top_products"] = (["product_id", "product_name", "category", "total_sold",
                            "total_revenue"], top, [("total_revenue", True)])
    con.close()
    return exp


CHECKSUM = re.compile(r"^-?[0-9a-f]+-[0-9a-f]{16}$")


def check_etl_op(op, exp):
    """Errors and rounding ties of one `etl_load` op against the reference."""
    errors, ties = [], []
    m = op["metrics"]
    tables = exp["tables"]
    if m["tables_failed"] != 0 or m["tables_processed"] != len(tables):
        errors.append(f"tables failed {m['tables_failed']} processed {m['tables_processed']}")
    if m["total_records"] != exp["total_records"]:
        errors.append(f"total_records {m['total_records']} != {exp['total_records']}")
    for t, v in tables.items():
        if m["quality_scores"].get(t) != v["score"]:
            errors.append(f"quality {t} {m['quality_scores'].get(t)} != {v['score']}")
    rep = op["reports"]
    for name in ("monthly_sales", "customer_segments"):
        cols, rows, order = exp[name]
        e, t = compare(rep[name]["columns"], rep[name]["rows"], cols, rows, order)
        errors += [f"{name}: {x}" for x in e]
        ties += [dict(x, query=name) for x in t]
    # top 10 by revenue: every row must be its product's reference row, and
    # the revenue sequence must be the reference's top 10 (ties in revenue
    # may pick either product)
    cols, rows, _ = exp["top_products"]
    got = rep["top_products"]
    by_id = {r[0]: r for r in rows}
    ranked = sorted(rows, key=lambda r: r[4].exact, reverse=True)[:10]
    gi = [got["columns"].index(c) for c in cols]
    if len(got["rows"]) != len(ranked):
        errors.append(f"top_products: rows {len(got['rows'])} != {len(ranked)}")
    for n, g in enumerate(got["rows"]):
        g = [g[i] for i in gi]
        e, _ = compare(cols, [g], cols, [by_id.get(g[0], [None] * len(cols))])
        e2 = [] if n >= len(ranked) or check_money(g[4], ranked[n][4])[0] else [
            f"rank {n} revenue {g[4]} != {ranked[n][4]}"]
        errors += [f"top_products: {x}" for x in e + e2]
    runs = rep["recent_runs"]
    rc = runs["columns"]
    seen = {}
    for r in runs["rows"]:
        r = dict(zip(rc, r))
        seen[r["table_name"]] = r
        v = tables.get(r["table_name"])
        if (v is None or r["records_processed"] != v["rows"] or r["records_inserted"] != v["rows"]
                or r["records_updated"] != 0 or r["data_quality_score"] != v["score"]
                or not r["source_file"].endswith(f"sample_{r['table_name']}.csv")
                or not CHECKSUM.match(r["checksum"]) or not r["processing_time_seconds"] > 0):
            errors.append(f"recent_runs: bad row {r}")
    stamps = [dict(zip(rc, r))["etl_timestamp"] for r in runs["rows"]]
    if set(seen) != set(tables) or stamps != sorted(stamps, reverse=True):
        errors.append(f"recent_runs: tables {sorted(seen)} / order {stamps}")
    st = dict(zip(rep["stats_24h"]["columns"], rep["stats_24h"]["rows"][0]))
    mean = sum(Decimal(repr(v["score"])) for v in tables.values()) / len(tables)
    if (st["total_runs"] != len(tables) or st["total_records_processed"] != exp["total_records"]
            or not check_money(st["avg_quality_score"], Money(mean, 8 * U * mean, None))[0]
            or not st["avg_processing_time"] > 0):
        errors.append(f"stats_24h: {st}")
    return errors, ties
