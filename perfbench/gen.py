"""Deterministic corpus for the benchmark: the four source tables the
workloads read (lineitem, orders, events, documents), with the column
names and types of the project's sf testdata. `scale` follows the
TPC-H convention: 0.1 gives 600k lineitem rows.
"""
import datetime
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The corpus is fixed per scale; the run seed only picks the op stream.
CORPUS_SEED = 20240101

WORDS = ("batch part spark line column order small sort fast value scan a "
         "hash slow group agg filter query big key window table vector "
         "customer stream join data the index merge file cache read write "
         "plan node shard log page row").split()
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.40, 0.15, 0.15, 0.15, 0.15]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]


def _ts(base, offsets_us):
    return pa.array(np.datetime64(base, "us") + offsets_us.astype("timedelta64[us]"),
                    type=pa.timestamp("us"))


def lineitem(rng, n_orders):
    per = rng.integers(1, 8, n_orders)
    n = int(per.sum())
    okey = np.repeat(np.arange(n_orders, dtype=np.int64), per)
    start = np.repeat(np.cumsum(per) - per, per)
    lnum = (np.arange(n) - start + 1).astype(np.int32)
    qty = rng.integers(1, 51, n).astype(np.float64)
    price = np.round(qty * rng.uniform(900, 2100, n), 2)
    ship_days = rng.integers(0, 2526, n)  # 1992-01-02 .. 1998-12-01
    flag = np.where(ship_days > 1300, "N", np.where(rng.random(n) < 0.5, "A", "R"))
    status = np.where(ship_days > 1280, "O", "F")
    return pa.table({
        "l_orderkey": okey,
        "l_partkey": rng.integers(1, 20001, n).astype(np.int64),
        "l_suppkey": rng.integers(1, 1001, n).astype(np.int64),
        "l_linenumber": lnum,
        "l_quantity": qty,
        "l_extendedprice": price,
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": flag.astype(object),
        "l_linestatus": status.astype(object),
        "l_shipdate": _ts("1992-01-02", ship_days * 86_400_000_000),
    })


def orders(rng, n):
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], dtype=object)
    return pa.table({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(1, max(2, n // 10) + 1, n).astype(np.int64),
        "o_orderstatus": np.array(["O", "F", "P"], dtype=object)[rng.integers(0, 3, n)],
        "o_totalprice": np.round(rng.uniform(850, 550000, n), 2),
        "o_orderdate": _ts("1992-01-01", rng.integers(0, 2405, n) * 86_400_000_000),
        "o_orderpriority": prio[rng.integers(0, 5, n)],
    })


def events(rng, n, n_users):
    offs = np.sort(rng.integers(0, 90 * 86_400_000_000, n))
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": _ts("2024-01-01", offs),
        "user_id": rng.integers(0, n_users, n).astype(np.int64),
        "event_type": np.array(EVENT_TYPES, dtype=object)[rng.integers(0, 5, n)],
        "value": np.round(rng.uniform(0, 560, n), 2),
        "props": np.array(['{"k": %d}' % k for k in rng.integers(0, 100, n)], dtype=object),
    })


def documents(rng, n):
    """Random word sequences with planted near-duplicates (a copy of an
    earlier document with up to two words replaced), so the dedup
    queries find pairs and clusters."""
    texts = []
    for i in range(n):
        if i > 10 and rng.random() < 0.08:
            toks = texts[int(rng.integers(0, i))].split(" ")
            for _ in range(int(rng.integers(0, 3))):
                toks[int(rng.integers(0, len(toks)))] = WORDS[int(rng.integers(0, len(WORDS)))]
        else:
            toks = [WORDS[j] for j in rng.integers(0, len(WORDS), int(rng.integers(8, 70)))]
        texts.append(" ".join(toks))
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": np.array(texts, dtype=object),
        "lang": np.array(LANGS, dtype=object)[rng.choice(5, n, p=LANG_P)],
        "source": np.array(["src%d" % s for s in rng.integers(0, 20, n)], dtype=object),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def generate(out_dir, scale):
    """Write the four tables as `<out_dir>/<table>.parquet`."""
    rng = np.random.default_rng(CORPUS_SEED)
    k = scale / 0.1
    os.makedirs(out_dir, exist_ok=True)
    n_orders = max(100, int(150_000 * k))
    tables = {
        "lineitem": lineitem(rng, n_orders),
        "orders": orders(rng, n_orders),
        "events": events(rng, max(1000, int(100_000 * k)), max(15, int(1500 * k))),
        "documents": documents(rng, max(50, int(400 * k))),
    }
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
