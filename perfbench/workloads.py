"""Seeded op streams for the workloads, and the answers they are
checked against. Answers come from DuckDB over the corpus parquet,
without the engine's pruning or rewrite. The pipeline queries are
compared with the repository's own oracle gate, tools/check.py."""
import json
import os
import sys

import duckdb
import numpy as np

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
from check import canon  # noqa: E402

# Traffic parameters (WORKLOADS.md, "Traffic parameters", gives the basis
# of each).
ALIASES = 40          # names per table: 11 tables x 40 = 440, four times the 100-entry caches
ZIPF_S = 0.99         # alias a has popularity ~ 1 / (a + 1)^s: YCSB's Zipfian constant
JOIN_SHARE = 0.05     # share of ops that join two tables (assumed)
LAKE_SHARE = 0.2      # share of ops on the two lake tables (assumed)
APPEND_SHARE = 0.25   # of those: 1 append to 3 reads
HOT = 10              # aliases per table planned before the window: 11 x 10 = 110 names, the caches hold 100
LAKE_EVERY = 5        # the lake tables start from every 5th corpus event
SKELETON_SEED = 20240101
BLOCK = 10
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
PIPELINE = ["d7_ngram_jaccard", "d8_dup_clusters", "g29_iceberg_mor"]


def _con(corpus):
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute("SET threads = 4")
    for t in ("lineitem", "orders", "events", "documents"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{corpus}/{t}.parquet'")
    return con


def _rows(con, sql):
    return ["|".join("null" if v is None else str(v) for v in r) for r in con.sql(sql).fetchall()]


def glue_cases(con):
    """Per table: whether the engine lists it with the file lister, and
    a fixed pool of cases (glue SQL with `{t}`, DuckDB SQL, partition
    predicates for `prunedFiles`)."""
    n_orders = con.sql("SELECT count(*) FROM orders").fetchone()[0]
    days = [f"2024-{m:02d}-{d:02d}" for m in range(1, 4) for d in range(2, 29, 3)]
    cases = {}

    def add(table, listed, items):
        cases[table] = {"listed": listed, "cases": items}

    add("lineitem_part", True, [
        (f"SELECT count(*) AS n, sum(l_orderkey) AS s FROM {{t}} WHERE l_returnflag = '{f}' AND l_linestatus = '{s}'",
         f"SELECT count(*), sum(l_orderkey) FROM lineitem WHERE l_returnflag = '{f}' AND l_linestatus = '{s}'",
         [f"l_returnflag = '{f}'", f"l_linestatus = '{s}'"])
        for f in "ANR" for s in "FO"])
    add("events_by_day", True, [
        (f"SELECT count(*) AS n, sum(user_id) AS s FROM {{t}} WHERE dt = '{d}'",
         f"SELECT count(*), sum(user_id) FROM events WHERE strftime(ts, '%Y-%m-%d') = '{d}'",
         [f"dt = '{d}'"]) for d in days])
    add("events_by_month", True, [
        (f"SELECT count(*) AS n, sum(event_id) AS s FROM {{t}} WHERE m = {m}",
         f"SELECT count(*), sum(event_id) FROM events WHERE month(ts) = {m}",
         [f"m = {m}"]) for m in range(1, 13)])
    add("docs_by_lang", True, [
        (f"SELECT count(*) AS n, sum(n_chars) AS s FROM {{t}} WHERE lang = '{g}'",
         f"SELECT count(*), sum(n_chars) FROM documents WHERE lang = '{g}'",
         [f"lang = '{g}'"]) for g in ("de", "en", "es", "fr", "zh")])
    add("iceberg_events", False, [
        (f"SELECT count(*) AS n, sum(user_id) AS s FROM {{t}} WHERE event_type = '{e}' AND user_id < {u}",
         f"SELECT count(*), sum(user_id) FROM events WHERE event_type = '{e}' AND user_id < {u}",
         [f"event_type = '{e}'"]) for e in EVENT_TYPES for u in (300, 900, 1500)])
    add("iceberg_orders_m", False, [
        (f"SELECT count(*) AS n, sum(o_custkey) AS s FROM {{t}} WHERE d = '1995-{m:02d}'",
         f"SELECT count(*), sum(o_custkey) FROM orders WHERE strftime(o_orderdate, '%Y-%m') = '1995-{m:02d}'",
         [f"d = '1995-{m:02d}'"]) for m in range(1, 13)])
    add("delta_events", False, [
        (f"SELECT count(*) AS n, sum(event_id) AS s FROM {{t}} WHERE event_type = '{e}' AND value > {v}",
         f"SELECT count(*), sum(event_id) FROM events WHERE event_type = '{e}' AND value > {v}",
         [f"event_type = '{e}'"]) for e in EVENT_TYPES for v in (100, 300, 500)])
    w = max(10, n_orders // 200)
    add("delta_lineitem", False, [
        (f"SELECT count(*) AS n, sum(l_partkey) AS s FROM {{t}} WHERE l_orderkey BETWEEN {a} AND {a + w}",
         f"SELECT count(*), sum(l_partkey) FROM lineitem WHERE l_orderkey BETWEEN {a} AND {a + w}",
         []) for a in range(0, n_orders - w, n_orders // 16)])
    add("hudi_lineitem", False, [
        (f"SELECT count(*) AS n, sum(l_suppkey) AS s FROM {{t}} WHERE l_returnflag = '{f}' AND l_quantity < {q}",
         f"SELECT count(*), sum(l_suppkey) FROM lineitem WHERE l_returnflag = '{f}' AND l_quantity < {q}",
         [f"l_returnflag = '{f}'"]) for f in "ANR" for q in (10, 25, 40)])
    add("orders_clustered_skip", True, [
        (f"SELECT count(*) AS n, sum(o_custkey) AS s FROM {{t}} WHERE o_orderkey BETWEEN {a} AND {a + w}",
         f"SELECT count(*), sum(o_custkey) FROM orders WHERE o_orderkey BETWEEN {a} AND {a + w}",
         []) for a in range(n_orders // 32, n_orders - w, n_orders // 16)])
    add("events_wide", True, [
        (f"SELECT count(*) AS n, sum(event_id) AS s FROM {{t}} WHERE bucket = {b} AND shard < {s}",
         f"SELECT count(*), sum(event_id) FROM events WHERE user_id % 10 = {b} AND event_id % 10 < {s}",
         [f"bucket = {b}", f"shard < {s}"]) for b, s in ((i % 10, 2 + i % 7) for i in range(20))])
    joins = [
        (f"SELECT count(*) AS n, sum(o.o_custkey) AS s FROM {{t}} l JOIN {{u}} o ON l.l_orderkey = o.o_orderkey "
         f"WHERE l.l_returnflag = 'R' AND l.l_linestatus = 'F' AND o.o_orderkey BETWEEN {a} AND {a + w}",
         f"SELECT count(*), sum(o.o_custkey) FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey "
         f"WHERE l.l_returnflag = 'R' AND l.l_linestatus = 'F' AND o.o_orderkey BETWEEN {a} AND {a + w}",
         [f"l_returnflag = 'R'", f"l_linestatus = 'F'"]) for a in range(0, n_orders - w, n_orders // 8)]
    return cases, joins


def glue_answers(corpus):
    """The case pools with their DuckDB answers; depends only on the corpus."""
    con = _con(corpus)
    cases, joins = glue_cases(con)
    out = {"tables": {}, "joins": []}
    for table, spec in cases.items():
        out["tables"][table] = {"listed": spec["listed"], "cases": [
            {"sql": g, "prune": p, "expect": _rows(con, d)} for g, d, p in spec["cases"]]}
    out["joins"] = [{"sql": g, "prune": p, "expect": _rows(con, d)} for g, d, p in joins]
    return out


def _zipf_weights(n):
    w = 1.0 / np.arange(1, n + 1) ** ZIPF_S
    return w / w.sum()


def _aliases(rng, lo, hi, size):
    """Aliases in [lo, hi), drawn with their Zipf weights."""
    w = _zipf_weights(ALIASES)[lo:hi]
    return lo + rng.choice(hi - lo, size=size, p=w / w.sum())


def glue_schedule(answers, corpus, seed, n_ops, warmup_s):
    """The op stream. Where the lake ops and joins fall, which table
    each read goes to and which alias it names come from a fixed
    skeleton, so every run has the same mix of tables, hits and misses;
    the seed orders the ops within blocks of BLOCK and picks every
    literal, join range, event type and appended batch.

    Every table has ALIASES names, alias a drawn with Zipf weight
    1 / (a + 1)^s. The HOT most popular aliases of every table are
    filled before the window; a read names a tail alias (a >= HOT) with
    the Zipf mass of the tail. Reads go to the tables in turn, and the
    tail reads are spaced evenly among them rather than at random, so
    any stretch of the stream has the same mix of cold reads by table."""
    skel = np.random.default_rng(SKELETON_SEED)
    rng = np.random.default_rng(seed)
    tables = sorted(answers["tables"])
    tail_share = float(_zipf_weights(ALIASES)[HOT:].sum())
    # Before the window the hot names are planned once, least popular
    # first, so the caches open the window full with the hot names and
    # tail reads evict.
    fill = [{"table": f"{t}__a{a:02d}",
             "sql": answers["tables"][t]["cases"][0]["sql"].format(t=f"glue.default.{t}__a{a:02d}")}
            for a in reversed(range(HOT)) for t in tables]
    hot, tail = _aliases(skel, 0, HOT, n_ops), _aliases(skel, HOT, ALIASES, n_ops)
    join_aliases = _aliases(skel, 0, HOT, 2 * n_ops)
    slots = []
    reads = 0
    for i in range(n_ops):
        r = skel.random()
        if r < LAKE_SHARE:
            slots.append(("lake", _Lake.TABLES[skel.integers(2)], skel.random() < APPEND_SHARE))
        elif r < LAKE_SHARE + JOIN_SHARE:
            slots.append(("join", f"lineitem_part__a{join_aliases[2 * i]:02d}",
                          f"orders_clustered_skip__a{join_aliases[2 * i + 1]:02d}"))
        else:
            # Table t's j-th read is a tail read when the running tail
            # share crosses a whole number; the phase t / len(tables)
            # staggers the tables.
            t, j = reads % len(tables), reads // len(tables)
            phase = t / len(tables)
            is_tail = int((j + 1) * tail_share + phase) > int(j * tail_share + phase)
            t = tables[t]
            slots.append(("read", t, f"{t}__a{(tail if is_tail else hot)[i]:02d}"))
            reads += 1
    order = np.concatenate([b + rng.permutation(min(BLOCK, n_ops - b)) for b in range(0, n_ops, BLOCK)])
    lake = _Lake(corpus)
    ops = []
    for slot in (slots[j] for j in order):
        if slot[0] == "lake":
            ops.append(lake.op(rng, slot[1], slot[2]))
        elif slot[0] == "join":
            case = answers["joins"][rng.integers(len(answers["joins"]))]
            ops.append({
                "kind": "read",
                "sql": case["sql"].format(t=f"glue.default.{slot[1]}", u=f"glue.default.{slot[2]}"),
                "refs": [{"db": "default", "table": slot[1], "prune": case["prune"]},
                         {"db": "default", "table": slot[2], "prune": []}],
                "listed": True, "expect": case["expect"]})
        else:
            spec = answers["tables"][slot[1]]
            case = spec["cases"][rng.integers(len(spec["cases"]))]
            ops.append({"kind": "read", "sql": case["sql"].format(t=f"glue.default.{slot[2]}"),
                        "refs": [{"db": "default", "table": slot[2], "prune": case["prune"]}],
                        "listed": spec["listed"], "expect": case["expect"]})
    return {"aliases": ALIASES, "lake_every": LAKE_EVERY, "warmup_s": warmup_s, "fill": fill, "ops": ops}


class _Lake:
    """The writer's side: 1 append to 3 reads over lake_delta and
    lake_iceberg. Each read carries the running (count, sum(event_id))
    of its event type, kept from the corpus and every batch appended
    before it."""

    TABLES = ("lake_delta", "lake_iceberg")

    def __init__(self, corpus):
        con = _con(corpus)
        self.ids, self.types = (np.array(c) for c in zip(*con.sql(
            f"SELECT event_id, event_type FROM events WHERE event_id % {LAKE_EVERY} = 0 "
            "ORDER BY event_id").fetchall()))
        base = {e: (int((self.types == e).sum()), int(self.ids[self.types == e].sum()))
                for e in EVENT_TYPES}
        self.totals = {t: dict(base) for t in self.TABLES}
        self.appends = 0

    def op(self, rng, table, append):
        n = len(self.ids)
        if append:
            size = int(rng.integers(max(2, n // 1000), max(3, n // 250)))
            start = int(rng.integers(0, n - size))
            self.appends += 1
            shift = int(self.ids[-1] + 1) * self.appends
            sl = slice(start, start + size)
            for e in EVENT_TYPES:
                m = self.types[sl] == e
                c, s = self.totals[table][e]
                self.totals[table][e] = (c + int(m.sum()), s + int((self.ids[sl][m] + shift).sum()))
            return {"kind": "append", "table": table, "from": int(self.ids[start]),
                    "until": int(self.ids[start + size - 1]) + 1, "shift": shift}
        e = EVENT_TYPES[rng.integers(len(EVENT_TYPES))]
        c, s = self.totals[table][e]
        return {"kind": "read", "listed": False,
                "sql": f"SELECT count(*) AS n, sum(event_id) AS s FROM glue.default.{table} "
                       f"WHERE event_type = '{e}'",
                "refs": [{"db": "default", "table": table, "prune": [f"event_type = '{e}'"]}],
                "expect": [f"{c}|{s}"]}


def pipeline_schedule(seed, n_passes, min_passes):
    """Each pass runs the pipeline queries in a seeded order."""
    rng = np.random.default_rng(seed)
    return {"min_ops": min_passes,
            "passes": [[PIPELINE[j] for j in rng.permutation(len(PIPELINE))] for _ in range(n_passes)]}


def _relation(rel):
    cols = [c.lower() for c in rel.columns]
    return cols, [str(t) for t in rel.types], canon(rel.fetchall(), cols)


def oracle_result(corpus, sql):
    con = _con(corpus)
    cols, types, rows = _relation(con.sql(sql))
    return {"types": dict(zip(cols, types)), "rows": rows}


def check_pipeline_output(out_dir, query, oracle):
    """Compare the first pass's dumped answer with the oracle's as
    tools/check.py does: column names, column types, then the strict
    canonical rows."""
    con = duckdb.connect()
    cols, types, rows = _relation(con.sql(f"SELECT * FROM parquet_scan('{out_dir}/{query}/*.parquet')"))
    # the oracle was read back from JSON, where tuples became lists
    return dict(zip(cols, types)) == oracle["types"] and json.loads(json.dumps(rows)) == oracle["rows"]
