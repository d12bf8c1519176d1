#!/usr/bin/env python3
"""Self-test for trend_gate's readers and failure rules.

Synthetic artifact pairs, one assertion per rule:
    python3 tools/test_trend_gate.py        # prints PASS/FAIL per case

Covers: a plain regression fails, the floor uses the box-speed-
normalized time, a real total regression fails, a flag fails whatever
external load the run carried, a query that fails (-1) in the new run
fails the gate and stays out of the total, the bench's one compact
line and the older queries_gz line read back from a driver tail with
short-key expansion, and the committed r17 driver artifacts read
every query.
"""
import base64
import gzip
import json
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
GATE = os.path.join(HERE, "trend_gate.py")

BASE = {"metric": "total", "value": 10.0, "unit": "sec",
        "calib_ms": 6400, "calib_end_ms": 6400}


def gate(po, pn):
    r = subprocess.run([sys.executable, GATE, po, pn],
                       capture_output=True, text=True)
    return r.returncode, r.stdout


def run(old, new):
    """Both sides plain artifacts over BASE."""
    with tempfile.TemporaryDirectory() as d:
        po, pn = os.path.join(d, "o.json"), os.path.join(d, "n.json")
        json.dump({**BASE, **old}, open(po, "w"))
        json.dump({**BASE, **new}, open(pn, "w"))
        return gate(po, pn)


def run_tail(old, tail):
    """Old side plain, new side a driver-shaped {"tail": ...} artifact."""
    with tempfile.TemporaryDirectory() as d:
        po, pn = os.path.join(d, "o.json"), os.path.join(d, "n.json")
        json.dump({**BASE, **old}, open(po, "w"))
        json.dump({"tail": tail}, open(pn, "w"))
        return gate(po, pn)


def case(name, want_exit, got, out):
    ok = got == want_exit
    print(f"{'PASS' if ok else 'FAIL'} {name} (exit {got}, want {want_exit})")
    if not ok:
        print(out)
    return ok


def main():
    results = []

    # 1. plain regression -> fail
    rc, out = run({"queries": {"q1": 2.0}}, {"queries": {"q1": 4.0}})
    results.append(case("plain 2x regression fails", 1, rc, out))

    # 2. floor uses the normalized time: raw 1.2 s that normalizes to
    #    0.8 s on a slow box sits under the 1.0 s floor -> ignored (a
    #    stable 20 s query keeps the shared-set total in bounds; only
    #    the per-query check is under test)
    rc, out = run(
        {"queries": {"q1": 0.4, "big": 20.0}},
        {"queries": {"q1": 1.2, "big": 20.0},
         "calib_ms": 9600, "calib_end_ms": 9600})
    results.append(case("floor applies post-normalization", 0, rc, out))

    # 3. a real total regression fails: big itself doubles
    rc, out = run(
        {"queries": {"q1": 2.0, "big": 5.0}},
        {"queries": {"q1": 9.0, "big": 10.0}})
    results.append(case("real total regression still fails", 1, rc, out))

    # 4. a flag from a run whose per-query witness shows elevated
    #    external load (ext_busy 0.15) fails like any other flag
    rc, out = run(
        {"queries": {"q1": 2.0}, "env": {"q1": [0.2, 0.01]}},
        {"queries": {"q1": 4.0}, "env": {"q1": [4.0, 0.15]}})
    results.append(case("ext_busy-elevated flag fails", 1, rc, out))

    # 5. a query that fails (-1) in the new run fails the gate, and its
    #    -1 stays out of both sides of the shared-set total
    rc, out = run(
        {"queries": {"q1_a": 5.0, "q2_b": 20.0}, "value": 25.0},
        {"queries": {"q1_a": -1.0, "q2_b": 20.0}, "value": -1})
    results.append(case("newly failing query fails", 1, rc, out))
    assert "q1_a: failed in the new run" in out and "20.0s -> 20.0s" in out, out

    # 6. the bench's one compact line, alone in the tail behind sbt's
    #    [info] prefix: integer centiseconds under short keys expand
    #    against the other side's full names
    line = json.dumps({**BASE, "value": 11.3, "n_queries": 2, "failed": 0,
                       "sf": "/data/sf0.1", "keys": "prefix", "cs": "q1:210,st7:920"},
                      separators=(",", ":"))
    rc, out = run_tail({"queries": {"q1_scan_agg": 2.0, "st7_stream_join": 9.0}},
                       "...log noise...\n[info] " + line + "\n[success] Total time: 9 s\n")
    results.append(case("compact line tail-only artifact compares clean", 0, rc, out))
    assert "2 queries" in out and "short keys" not in out, out

    # 7. queries_gz tail line (r16-r17 artifacts): a tail holding a
    #    head-truncated plain line but an intact queries_gz + headline
    #    line yields full coverage at 3-decimal precision
    payload = base64.b64encode(gzip.compress(b"q1:2.100;st7:9.200")).decode()
    gz_line = json.dumps({"metric": "queries_gz", "n": 2,
                          "codec": "b64.gzip", "keys": "prefix", "v": payload})
    short_line = json.dumps({**BASE, "n_queries": 2, "failed": 0})
    rc, out = run_tail({"queries": {"q1_scan_agg": 2.0, "st7_stream_join": 9.0}},
                       ':2.10;st7:9.20"}\n' + gz_line + "\n" + short_line)
    results.append(case("queries_gz tail-only artifact compares clean", 0, rc, out))
    assert "2 queries" in out and "short keys" not in out, out

    # 8. the committed r17 pair: both driver tails carry only the
    #    queries_gz line; every query is read on each side, and the
    #    13 slowed queries of the 32-core run fail the gate
    rc, out = gate(os.path.join(HERE, "..", "BENCH_r17_c8.json"),
                   os.path.join(HERE, "..", "BENCH_r17.json"))
    results.append(case("r17 driver artifacts read whole", 1, rc, out))
    assert out.count("(198 queries)") == 2, out
    assert out.split("TREND GATE FAILED:")[1].count("x)") == 13, out

    if not all(results):
        sys.exit(1)
    print(f"all {len(results)} cases pass")


if __name__ == "__main__":
    main()
