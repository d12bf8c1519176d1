#!/usr/bin/env python3
"""Per-query performance trend gate between two bench artifacts.

Usage:
    python3 tools/trend_gate.py OLD.json NEW.json [--ratio 1.5]
    python3 tools/trend_gate.py                  # two newest bench_history/sf1_*.json

Compares the per-query seconds of two `graft.Bench` JSON artifacts
and FAILS (exit 1) when any query shared by both runs slowed by more
than --ratio, when the total did, or when any query failed (-1) in the
NEW run. Queries faster than --floor seconds in the NEW run are
ignored — sub-second timings are scheduling noise, and a 0.2s -> 0.4s
"2x regression" would page on nothing. Superlinear regressions in the
pair-join queries (d7 first) are exactly what this catches; a human
reading raw JSON will not.

An artifact is read in one of three shapes:
  - plain: a JSON object with a full-named "queries" map (the bench's
    target/bench_summary.json, bench_history/*.json);
  - driver-shaped {"tail": ...} holding Bench's one stdout line
    {"metric":"total",...,"keys":"prefix","cs":"d7:233,q1:48,..."}
    (integer centiseconds under each query's short key);
  - driver-shaped {"tail": ...} holding a {"metric":"queries_gz"} line
    (base64 gzip of "key:sec;key:sec;...") plus the headline
    {"metric":"total"} line, the format of the r16-r17 artifacts.
Short keys (a query name's leading token) are expanded against the
other artifact's full names.
"""
import argparse
import base64
import binascii
import glob
import gzip
import json
import os
import re
import sys

# Justified regressions: query -> (max allowed ratio, recorded reason).
# Use sparingly — every entry must name the commit-level tradeoff.
ALLOW = {
    # r7 rewrote t5 from a single-partition global window (the 100 TB
    # anti-pattern) to a two-level cumulative-distribution aggregate;
    # the extra shuffle costs ~0.5s at sf1 and is the accepted price
    # of the scale-correct plan (verdict r6 task #3).
    "t5_length_quantiles": (2.5, "two-level rewrite, no global window (r7)"),
}


def parse_cs(cs):
    """'d7:233,q1:48' -> {key: seconds}; a failed query (-1) stays -1."""
    qs = {}
    for kv in filter(None, cs.split(",")):
        k, _, v = kv.rpartition(":")
        qs[k] = -1.0 if int(v) < 0 else int(v) / 100
    return qs


def decode_gz(path, line):
    """The queries_gz payload: base64 -> gzip -> 'key:sec;key:sec;...'."""
    try:
        raw = gzip.decompress(base64.b64decode(line["v"])).decode("utf-8")
        qs = {k: float(v) for k, _, v in
              (kv.rpartition(":") for kv in filter(None, raw.split(";")))}
    except (binascii.Error, ValueError, OSError, EOFError, KeyError) as e:
        print(f"note: {path}: queries_gz line does not decode: {e!r}")
        return None
    if line.get("n") is not None and len(qs) != line["n"]:
        print(f"note: {path}: queries_gz line holds {len(qs)} of {line['n']} queries")
        return None
    return qs


def load(path):
    with open(path) as f:
        d = json.load(f)
    if "queries" in d:
        return d
    if "tail" not in d:
        sys.exit(f"{path}: not a bench artifact (no 'queries' or 'tail' key)")
    # driver-shaped artifact (BENCH_r{N}.json): the last ~2 KB of the
    # process output, in which a long line may have lost its head
    cands = []
    for m in re.findall(r'\{"metric".*\}', d["tail"]):
        try:
            cands.append(json.loads(m))
        except json.JSONDecodeError:
            pass  # head-truncated line
    totals = [c for c in cands if c.get("metric") == "total"]
    line = next((c for c in reversed(totals) if "cs" in c), None)
    if line is not None:
        qs = parse_cs(line["cs"])
        if len(qs) != line.get("n_queries", len(qs)):
            sys.exit(f"{path}: the cs map holds {len(qs)} of "
                     f"{line['n_queries']} queries (two share a short key?)")
        return dict(line, queries=qs)
    gz = next((c for c in reversed(cands) if c.get("metric") == "queries_gz"), None)
    qs = decode_gz(path, gz) if gz is not None and totals else None
    if qs is None:
        sys.exit(f"{path}: no complete per-query line in the tail")
    return dict(totals[-1], queries=qs, keys=gz.get("keys", "prefix"))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("old", nargs="?")
    ap.add_argument("new", nargs="?")
    ap.add_argument("--ratio", type=float, default=1.5,
                    help="max allowed per-query slowdown (default 1.5x)")
    ap.add_argument("--total-ratio", type=float, default=1.3,
                    help="max allowed total slowdown (default 1.3x)")
    ap.add_argument("--floor", type=float, default=1.0,
                    help="ignore queries under this many seconds in the new run")
    ap.add_argument("--abs-floor", type=float, default=0.75,
                    help="a flagged query must also have slowed by at least this "
                         "many (normalized) seconds — sub-second queries whose OLD "
                         "time sits near the noise floor produce 1.5x 'regressions' "
                         "from scheduling jitter alone (measured r12: q8_setops ran "
                         "0.57/1.01/1.03s and s20_mmr_rerank 0.83/1.42s across runs "
                         "of IDENTICAL code); a genuine regression on any query "
                         "worth paging about clears this easily")
    args = ap.parse_args()

    if args.old and args.new:
        old_path, new_path = args.old, args.new
    else:
        hist = sorted(glob.glob(os.path.join(
            os.path.dirname(__file__), "..", "bench_history", "sf1_*.json")))
        if len(hist) < 2:
            sys.exit("need two artifacts: pass OLD NEW or keep >=2 bench_history/sf1_*.json")
        old_path, new_path = hist[-2], hist[-1]

    old, new = load(old_path), load(new_path)
    # expand compact short keys (unique leading token) against the
    # other artifact's full names; if both sides are short-keyed the
    # comparison proceeds on the short keys directly
    def expand_short(short_side, full_side):
        by_prefix = {}
        for k in full_side["queries"]:
            by_prefix.setdefault(k.split("_")[0], []).append(k)
        out = {}
        for k, v in short_side["queries"].items():
            hits = by_prefix.get(k, [])
            out[hits[0] if len(hits) == 1 else k] = v
        short_side["queries"] = out
    o_short, n_short = old.get("keys") == "prefix", new.get("keys") == "prefix"
    if o_short and not n_short:
        expand_short(old, new)
    elif n_short and not o_short:
        expand_short(new, old)
    elif o_short and n_short:
        print("note: both artifacts carry compact short-keyed timings; "
              "comparing on short keys")
    print(f"old: {old_path} total={old['value']}s ({len(old['queries'])} queries)")
    print(f"new: {new_path} total={new['value']}s ({len(new['queries'])} queries)")

    # Box-speed normalization: scale the new run's times by old/new box
    # speed before comparing. The guest cannot see host frequency state
    # (identical code+queries measured 67.6s / 75.2s / 95.3s across one
    # day at idle-100%/steal-0), so without this a host clock swing
    # reads as a code regression. The raw times are still printed; only
    # the COMPARISON is normalized.
    # The signal is the SUSTAINED calibration (calib_ms, r13+): it holds
    # all cores for ~6-8 s of fixed work plus a DRAM-bound phase, so it
    # measures the SETTLED box speed the suite actually runs at (burst
    # probes ride the boost window and read inverted on sustained turbo
    # drift, r12). Start/end pair -> mean, correcting by the box's
    # average state across the run. Pre-r13 artifacts carry only the
    # burst canaries (all-core preferred: hosts keep single-core turbo
    # while the all-core clock drops under co-tenant load); a mixed
    # pair falls back to the strongest signal BOTH carry.
    signals = ("calib_ms", "canary_all_ms", "canary_ms")
    def box_speed(art, key):
        if key == "calib_ms" and art.get("calib_end_ms"):
            return (art["calib_ms"] + art["calib_end_ms"]) / 2
        return art[key]
    o_key = next((k for k in signals if old.get(k)), None)
    n_key = next((k for k in signals if new.get(k)), None)
    key = o_key if o_key == n_key else next(
        (k for k in signals[1:] if old.get(k) and new.get(k)), None)
    scale = 1.0
    if key:
        o_speed, n_speed = box_speed(old, key), box_speed(new, key)
        if abs(1 - o_speed / n_speed) > 0.03:
            scale = o_speed / n_speed
            print(f"{key}: old={o_speed:.0f}ms new={n_speed:.0f}ms "
                  f"-> comparing at x{scale:.3f} box-speed normalization")

    # a query that fails in the new run fails the gate, whatever it
    # did before; the -1 stays out of the comparisons below
    failures = [f"{q}: failed in the new run (-1)"
                for q, n in sorted(new["queries"].items()) if n < 0]
    if new.get("value", 0) < 0 and not failures:
        failures.append("new total is -1: a query failed")
    shared = sorted(set(old["queries"]) & set(new["queries"]))
    for q in shared:
        o, n = old["queries"][q], new["queries"][q]
        if n < 0 or o <= 0 or n * scale < args.floor:
            continue
        r = n * scale / o
        limit, reason = ALLOW.get(q, (args.ratio, None))
        slowed = n * scale - o  # absolute normalized slowdown
        regressed = r > limit and slowed >= args.abs_floor
        flag = "REGRESSED" if regressed else (
            f"within abs-floor ({slowed:+.2f}s)" if r > limit else (
                f"allowed <= {limit}x: {reason}" if reason and r > args.ratio else ""))
        if regressed:
            failures.append(f"{q}: {o:.2f}s -> {n:.2f}s ({r:.2f}x)")
        if r > args.ratio or r < 1 / args.ratio:
            print(f"  {q:>24s}  {o:8.2f}s -> {n:8.2f}s  {r:5.2f}x  {flag}")

    # totals over the SHARED set only, so suite growth is not a
    # "regression", and without queries that failed (-1) on either side;
    # the comparison is normalized, raw seconds are printed
    counted = [q for q in shared if old["queries"][q] >= 0 and new["queries"][q] >= 0]
    o_tot = sum(old["queries"][q] for q in counted)
    n_tot = sum(new["queries"][q] for q in counted)
    if o_tot > 0:
        r_tot = n_tot * scale / o_tot
        print(f"shared-set total: {o_tot:.1f}s -> {n_tot:.1f}s ({r_tot:.2f}x normalized)")
        if r_tot > args.total_ratio:
            failures.append(f"shared-set total: {o_tot:.1f}s -> {n_tot:.1f}s ({r_tot:.2f}x)")

    dropped = set(old["queries"]) - set(new["queries"])
    if dropped:
        print(f"note: queries dropped from the suite: {sorted(dropped)}")

    if failures:
        print("\nTREND GATE FAILED:")
        for f in failures:
            print(f"  {f}")
        sys.exit(1)
    print("trend gate OK")


if __name__ == "__main__":
    main()
