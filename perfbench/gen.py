"""Seeded inputs for the three workloads.

Every value is drawn from numpy generators seeded by (seed, table), so the
same seed gives byte-identical files and another seed gives other values
(not just another row order). The inputs are generated here rather than by
the engine's own `etl.DataGen`, so that a change to the engine cannot change
the benchmark's inputs.

Shapes follow the engine's generators and the testdata of TESTDATA.md:
- etl:    the four CSVs of `DataGen.writeSampleData` (customers, products,
          orders, order items) with a few rows each transform rule drops and
          a few empty optional fields, so the quality score has work to do;
- tpch:   the TPC-H-ish star schema plus `events`, sized like sf0.01;
- corpus: `documents` and `embeddings` twins with the near-duplicate block
          structure of `DataGen.documentsLike` / `embeddingsLike`.
"""
import csv
import hashlib
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ETL_SIZES = {"customers": 20000, "products": 5000, "orders": 15000}
TPCH_SIZES = {"customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
              "lineitem": 60000, "events": 10000}
CORPUS_SIZES = {"documents": 1500, "embeddings": 600}


def _rng(seed, table):
    salt = int.from_bytes(hashlib.sha256(table.encode()).digest()[:4], "little")
    return np.random.default_rng([seed, salt])


def _cents(rng, n, lo, hi):
    """2-dp money as the double nearest each decimal (cents / 100)."""
    return rng.integers(int(round(lo * 100)), int(round(hi * 100)) + 1, n) / 100.0


def _pick(rng, n, values, p=None):
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)]


def _dates(rng, n, start, days):
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, days + 1, n)).astype(str)


def _fmt(x):
    if isinstance(x, float):
        return repr(float(x))
    return "" if x is None else str(x)


def _write_csv(path, columns):
    names = list(columns)
    with open(path, "w", newline="") as f:
        w = csv.writer(f, lineterminator="\n")
        w.writerow(names)
        for r in zip(*[columns[c] for c in names]):
            w.writerow([_fmt(v) for v in r])


def _blank(rng, values, rate):
    out = values.astype(object)
    out[rng.random(len(out)) < rate] = None
    return out


# ---- etl_load: the paper's four source CSVs --------------------------------

def etl_tables(seed):
    n_c, n_p, n_o = ETL_SIZES["customers"], ETL_SIZES["products"], ETL_SIZES["orders"]
    t = {}

    r = _rng(seed, "customers")
    ids = np.arange(1, n_c + 1)
    bad_email = r.random(n_c) < 0.02
    t["customers"] = {
        "customer_id": ids,
        "first_name": [f"Customer{i}" for i in ids],
        "last_name": [f"Lastname{i}" for i in ids],
        "email": [f"customer{i}email.com" if b else f"customer{i}@email.com"
                  for i, b in zip(ids, bad_email)],
        "phone": [f"+1-{a}-{b}-{c}" for a, b, c in zip(
            r.integers(200, 1000, n_c), r.integers(100, 1000, n_c), r.integers(1000, 10000, n_c))],
        "registration_date": _dates(r, n_c, "2023-01-01", 900),
        "country": _pick(r, n_c, ["US", "United States", "UK", "Britain", "Germany",
                                  "France", "Japan", "Canada"]),
        "city": _blank(r, _pick(r, n_c, ["New York", "London", "Berlin", "Paris",
                                         "Tokyo", "Toronto"]), 0.01),
        "customer_segment": _pick(r, n_c, ["Regular", "Premium", "VIP"], [0.6, 0.3, 0.1]),
    }

    r = _rng(seed, "products")
    ids = np.arange(1, n_p + 1)
    cat = _pick(r, n_p, ["Electronics", "Clothing", "Beauty", "Home", "Sports"])
    cost = _cents(r, n_p, 10.0, 250.0)
    cost[r.random(n_p) < 0.01] = 0.0                       # dropped: cost_price > 0
    markup = r.integers(120, 301, n_p) / 100.0
    t["products"] = {
        "product_id": ids,
        "product_name": [f"{c} Product {i}" for c, i in zip(cat, ids)],
        "category": cat,
        "subcategory": [f"{c} Sub{k}" for c, k in zip(cat, r.integers(1, 4, n_p))],
        "brand": _blank(r, _pick(r, n_p, ["BrandA", "BrandB", "BrandC", "BrandD", "BrandE"]), 0.01),
        "unit_price": np.round(cost * markup, 2),
        "cost_price": cost,
        "stock_quantity": r.integers(0, 1001, n_p),
        "weight_kg": _cents(r, n_p, 0.1, 20.0),
        "supplier_id": r.integers(1, 21, n_p),
    }

    r = _rng(seed, "orders")
    ids = np.arange(1, n_o + 1)
    sub = _cents(r, n_o, 20.0, 800.0)
    tax = np.round(sub * 0.08, 2)
    ship = _cents(r, n_o, 5.0, 25.0)
    disc = _cents(r, n_o, 0.0, 5.0)
    total = np.round(sub + tax + ship - disc, 2)
    total[r.random(n_o) < 0.01] += 1.0                     # dropped: total consistency
    t["orders"] = {
        "order_id": ids,
        "customer_id": r.integers(1, n_c + 1, n_o),
        "order_date": _dates(r, n_o, "2024-01-01", 600),
        "order_status": _pick(r, n_o, ["Completed", "Pending", "Shipped", "Cancelled", "Returned"],
                              [0.7, 0.1, 0.1, 0.05, 0.05]),
        "shipping_method": _pick(r, n_o, ["Standard", "Express", "Overnight"]),
        "payment_method": _pick(r, n_o, ["Credit Card", "PayPal", "Debit Card", "Bank Transfer"]),
        "subtotal": sub, "tax_amount": tax, "shipping_cost": ship,
        "discount_amount": disc, "total_amount": total,
        "shipping_address": _blank(r, np.array([f"Address {i}, City, Country" for i in ids]), 0.01),
        "order_priority": _pick(r, n_o, ["Low", "Medium", "High"], [0.3, 0.5, 0.2]),
    }

    r = _rng(seed, "order_items")
    per = r.integers(1, 6, n_o)
    n_i = int(per.sum())
    qty = r.integers(1, 6, n_i)
    qty[r.random(n_i) < 0.005] = 0                          # dropped: quantity > 0
    up = _cents(r, n_i, 5.0, 400.0)
    dp = _cents(r, n_i, 0.0, 15.0)
    line = np.round(qty * up * (1.0 - dp / 100.0), 2)
    line[r.random(n_i) < 0.01] += 2.0                      # dropped: line-total consistency
    t["order_items"] = {
        "item_id": np.arange(1, n_i + 1),
        "order_id": np.repeat(ids, per),
        "product_id": r.integers(1, n_p + 1, n_i),
        "quantity": qty, "unit_price": up, "discount_percent": dp, "line_total": line,
    }
    return t


def write_etl(seed, out):
    for name, cols in etl_tables(seed).items():
        _write_csv(os.path.join(out, f"sample_{name}.csv"), cols)


# ---- report_queries: TPC-H-ish tables + events at sf0.01 -------------------

def _ts(rng, n, start, seconds):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, seconds * 1_000_000, n).astype("timedelta64[us]")


def tpch_tables(seed):
    s = TPCH_SIZES
    t = {}
    t["region"] = {"r_regionkey": pa.array(range(5), pa.int32()),
                   "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}
    t["nation"] = {"n_nationkey": pa.array(range(25), pa.int32()),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}
    r = _rng(seed, "customer")
    n = s["customer"]
    t["customer"] = {
        "c_custkey": np.arange(n, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": r.integers(0, 25, n).astype(np.int32),
        "c_acctbal": _cents(r, n, -999.99, 9999.99),
        "c_mktsegment": _pick(r, n, ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]),
    }
    r = _rng(seed, "supplier")
    n = s["supplier"]
    t["supplier"] = {
        "s_suppkey": np.arange(n, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": r.integers(0, 25, n).astype(np.int32),
        "s_acctbal": _cents(r, n, -999.99, 9999.99),
    }
    r = _rng(seed, "part")
    n = s["part"]
    t["part"] = {
        "p_partkey": np.arange(n, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(
            _pick(r, n, ["small", "red", "blue", "large", "green", "steel"]),
            _pick(r, n, ["ring", "widget", "bolt", "gear", "plate", "valve"]))],
        "p_brand": [f"Brand#{k}" for k in r.integers(0, 25, n)],
        "p_type": _pick(r, n, ["ECONOMY", "SMALL", "STANDARD", "MEDIUM", "LARGE", "PROMO"]),
        "p_size": r.integers(1, 51, n).astype(np.int32),
        "p_retailprice": r.integers(9000, 10000, n) / 10.0,
    }
    r = _rng(seed, "orders")
    n = s["orders"]
    t["orders"] = {
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": r.integers(0, s["customer"], n),
        "o_orderstatus": _pick(r, n, ["P", "O", "F"]),
        "o_totalprice": _cents(r, n, 1000.0, 500000.0),
        "o_orderdate": np.datetime64("1995-01-01", "us")
        + (r.integers(0, 2404, n) * 86_400_000_000).astype("timedelta64[us]"),
        "o_orderpriority": _pick(r, n, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]),
    }
    r = _rng(seed, "lineitem")
    n = s["lineitem"]
    t["lineitem"] = {
        "l_orderkey": r.integers(0, s["orders"], n),
        "l_partkey": r.integers(0, s["part"], n),
        "l_suppkey": r.integers(0, s["supplier"], n),
        "l_linenumber": r.integers(1, 8, n).astype(np.int32),
        "l_quantity": r.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _cents(r, n, 1000.0, 100000.0),
        "l_discount": _cents(r, n, 0.0, 0.10),
        "l_tax": _cents(r, n, 0.0, 0.08),
        "l_returnflag": _pick(r, n, ["R", "A", "N"]),
        "l_linestatus": _pick(r, n, ["O", "F"]),
        "l_shipdate": np.datetime64("1995-01-02", "us")
        + (r.integers(0, 2498, n) * 86_400_000_000).astype("timedelta64[us]"),
    }
    r = _rng(seed, "events")
    n = s["events"]
    t["events"] = {
        "event_id": np.arange(n, dtype=np.int64),
        "ts": np.sort(_ts(r, n, "2024-01-01", 30 * 86400)),
        "user_id": r.integers(0, 150, n),
        "event_type": _pick(r, n, ["click", "view", "purchase", "signup", "error"]),
        "value": _cents(r, n, 0.0, 200.0),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n)],
    }
    return t


# ---- corpus_dedup: documents + embeddings twins ----------------------------

VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "dup", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]


EXACT_COPIES = (17, 43, 71)
NEAR_COPIES = (29, 59, 89)
VECTOR_COPIES = (13, 47, 83, 97)


def corpus_tables(seed):
    t = {}
    r = _rng(seed, "documents")
    n = CORPUS_SIZES["documents"]
    ids = np.arange(n, dtype=np.int64)
    # 3% exact copies and 3% near copies (two extra tokens) of their 100-doc
    # block's first document, so every dedup operator has duplicate
    # structure to find. Positions and the copied documents' length are
    # fixed, so that every seed gives the dedup operators the same amount
    # of duplicate work; the texts vary with the seed.
    pos = ids % 100
    near = np.isin(pos, NEAR_COPIES)
    src = np.where(np.isin(pos, EXACT_COPIES) | near, ids - pos, ids)
    body = {}
    texts = []
    for i in range(n):
        s = int(src[i])
        if s not in body:
            g = np.random.default_rng([seed, 7, s])
            perm = g.permutation(len(VOCAB))
            ln = 55 if s % 100 == 0 else int(g.integers(10, 101))
            ranks = np.floor(g.random(ln) ** 2 * len(VOCAB)).astype(int)
            body[s] = " ".join(VOCAB[perm[k]] for k in ranks)
        text = body[s]
        if near[i]:
            text += " " + VOCAB[r.integers(len(VOCAB))] + " " + VOCAB[r.integers(len(VOCAB))]
        texts.append(text)
    t["documents"] = {
        "doc_id": ids,
        "text": texts,
        "lang": _pick(r, n, ["en", "zh", "es", "fr", "de"], [0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": [f"src{k}" for k in r.integers(0, 20, n)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    }
    r = _rng(seed, "embeddings")
    n = CORPUS_SIZES["embeddings"]
    ids = np.arange(n, dtype=np.int64)
    # 4% exact duplicate vectors at fixed positions. The ten label anchors
    # are the same for every seed: their directions set how skewed the LSH
    # buckets are, and so how much work x08/x90 do. Labels and noise vary.
    src = np.where(np.isin(ids % 100, VECTOR_COPIES), ids - ids % 100, ids)
    anchors = (np.random.default_rng(0).random((10, 64)) - 0.5) * 0.3
    label = np.array([np.random.default_rng([seed, 11, int(s)]).integers(10) for s in src])
    noise = np.stack([(np.random.default_rng([seed, 13, int(s)]).random(64) - 0.5) * 0.2
                      for s in src])
    vecs = (anchors[label] + noise).astype(np.float32)
    t["embeddings"] = {
        "vec_id": ids,
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": label.astype(np.int32),
    }
    return t


def _write_parquet(tables, out):
    for name, cols in tables.items():
        pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


WRITERS = {
    "etl": write_etl,
    "tpch": lambda seed, out: _write_parquet(tpch_tables(seed), out),
    "corpus": lambda seed, out: _write_parquet(corpus_tables(seed), out),
}


def generate(kind, seed, out):
    """Write the `kind` inputs for `seed` into a fresh `out`; return the
    input digest (sha256 over file names and bytes)."""
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    WRITERS[kind](seed, out)
    return digest(out)


def digest(path):
    h = hashlib.sha256()
    for name in sorted(os.listdir(path)):
        h.update(name.encode())
        with open(os.path.join(path, name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def sizes(kind):
    if kind == "etl":
        return dict(ETL_SIZES)
    return dict(TPCH_SIZES if kind == "tpch" else CORPUS_SIZES)
