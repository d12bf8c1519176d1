#!/usr/bin/env python3
"""The repository benchmark: one closed-loop client in one JVM against
the engine, on a named workload with a seed.

    python3 perfbench/run.py --workload glue_interactive --seed 1 --seconds 15 --trace 0

Run from the repository root. The first run in a checkout builds the
program with sbt, generates the corpus and writes the benchmark's
tables under perfbench/.work; later runs reuse them. Each run then
generates its op stream from the seed, runs the JVM, checks every
answer and prints the metrics, one per line, then one JSON object as
the last line. With --trace 1 it prints the per-layer metrics instead.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import stats  # noqa: E402

try:
    import workloads  # noqa: E402  (uses the repository's tools/check.py)
except ImportError as e:
    print(f"[perfbench] {e}: run from the repository root", file=sys.stderr)
    sys.exit(2)

ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
WORKLOADS = ("glue_interactive", "pipeline_heavy")
WARMUP_S = 2.0
JVM_HEAP = "3g"
RUN_TIMEOUT_S = 170

# (name, unit): every end-to-end metric, printed on every workload.
END_TO_END = [
    ("setup_s", "s"), ("ops_per_s", "1/s"),
    ("cold_p50_ms", "ms"), ("warm_p50_ms", "ms"),
    ("heap_live_mb", "MB"),
]

# Per-layer (name, unit), by denominator: ops in the window, traced ops,
# appends.
_PER_OP = [
    ("catalog.get_table.calls", "count/op"), ("catalog.get_table.ms", "ms/op"),
    ("catalog.get_partitions.calls", "count/op"), ("catalog.get_partitions.ms", "ms/op"),
    ("cache.meta_evictions", "count/op"),
    ("listing.list.calls", "count/op"), ("listing.list.ms", "ms/op"),
    ("listing.files_listed", "count/op"),
    ("resolve.rewrite.ms", "ms/op"), ("catalyst.analysis.ms", "ms/op"),
    ("catalyst.optimization.ms", "ms/op"), ("catalyst.planning.ms", "ms/op"),
    ("exec.ms", "ms/op"), ("exec.jobs", "count/op"), ("exec.stages", "count/op"),
    ("exec.tasks", "count/op"), ("exec.task_run_ms", "ms/op"), ("exec.task_cpu_ms", "ms/op"),
    ("exec.sched_delay_ms", "ms/op"), ("exec.gc_ms", "ms/op"),
    ("exec.shuffle_write_bytes", "B/op"), ("exec.shuffle_read_bytes", "B/op"),
    ("exec.spill_bytes", "B/op"), ("exec.files_read", "count/op"), ("exec.bytes_read", "B/op"),
]
_PER_TRACED = [("listing.replay.ms", "ms/op"), ("prune.ms", "ms/op"), ("prune.jobs", "count/op")]
_PER_APPEND = [("write.commit.ms", "ms/op"), ("write.checkpoint.ms", "ms/op"),
               ("write.checkpoints", "count/op")]
SPANS = ["op", "tableMetadata", "files", "prunedFiles", "query", "optimization",
         "planning", "collect", "commit", "checkpoint"]


def per_layer_names():
    """Every per-layer metric as (name, unit)."""
    out = [(n, u) for n, u in _PER_OP + _PER_TRACED + _PER_APPEND]
    out += [("exec.persisted_rdds", "count"),
            ("cache.meta_hit_ratio", "ratio"), ("cache.meta_hit_ratio.base", "count"),
            ("cache.listing_hit_ratio", "ratio"), ("cache.listing_hit_ratio.base", "count"),
            ("prune.files_kept_ratio", "ratio"), ("prune.files_kept_ratio.base", "count"),
            ("skip.files_read_ratio", "ratio"), ("skip.files_read_ratio.base", "count"),
            ("lake.delta_tail_commits", "count/op"), ("lake.iceberg_manifests", "count/op"),
            ("write.bytes_per_append", "B"), ("write.storage_amp", "ratio"),
            ("write.storage_amp.base", "B")]
    for q in workloads.PIPELINE:
        out += [(f"op.{q}.s", "s/op"), (f"op.{q}.jobs", "count/op"),
                (f"op.{q}.shuffle_bytes", "B/op")]
    out += [(f"self.{s}.ms", "ms/op") for s in SPANS]
    out += [("trace.overhead.cold_p50_ms", "ms"), ("trace.overhead.warm_p50_ms", "ms")]
    return out


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sh(cmd, cwd, timeout, env=None, out=None):
    """Run `cmd` to completion; on failure show its tail and exit 1."""
    with open(out or os.devnull, "w") as f:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE if out is None else f,
                             stderr=subprocess.STDOUT if out is None else f, text=True)
        try:
            stdout, _ = p.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            log(f"timed out after {timeout}s: {' '.join(cmd[:3])} ...")
            sys.exit(1)
    if p.returncode != 0:
        tail = stdout if out is None else open(out).read()
        log(f"failed ({p.returncode}): {' '.join(cmd[:3])} ...\n" + tail[-4000:])
        sys.exit(1)
    return stdout


def source_hash():
    h = hashlib.sha1()
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")):
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:12]


def build(tag):
    """Compile the program and the benchmark's JVM side; return the classpath."""
    cp_file = os.path.join(WORK, f"classpath-{tag}.txt")
    if os.path.exists(cp_file):
        return open(cp_file).read().strip()
    log("building with sbt (first run in this checkout)")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx3g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join([env.get("SBT_OPTS", "")] + opts).strip()
    out = sh(["sbt", "-batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
             cwd=HERE, timeout=800, env=env)
    cp = [ln for ln in out.splitlines() if ln.strip() and not ln.startswith("[")][-1].strip()
    for old in os.listdir(WORK):
        if old.startswith("classpath-"):
            os.remove(os.path.join(WORK, old))
    with open(cp_file, "w") as f:
        f.write(cp)
    return cp


def java(cp, args, cwd, log_file, timeout):
    opens = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
    cmd = ["java", f"-Xmx{JVM_HEAP}", "-XX:ReservedCodeCacheSize=512m",
           f"-Djava.io.tmpdir={os.path.join(cwd, 'tmp')}"]
    for o in opens:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    os.makedirs(os.path.join(cwd, "tmp"), exist_ok=True)
    sh(cmd + ["-cp", cp, "perfbench.Main"] + args, cwd=cwd, timeout=timeout, out=log_file)


def cores():
    return max(1, min(len(os.sched_getaffinity(0)), 4))


def file_hash(name):
    with open(os.path.join(HERE, name), "rb") as f:
        return hashlib.sha1(f.read()).hexdigest()[:8]


def prepare(cp, tag, scale):
    """Corpus, tables and answers: the same for every seed, built once."""
    corpus = os.path.join(WORK, f"corpus-sf{scale}-{file_hash('gen.py')}")
    if not os.path.exists(os.path.join(corpus, ".done")):
        log(f"generating the sf{scale} corpus")
        shutil.rmtree(corpus, ignore_errors=True)
        gen.generate(corpus, scale)
        open(os.path.join(corpus, ".done"), "w").close()
    fixtures = os.path.join(WORK, f"tables-sf{scale}-{tag}")
    for old in os.listdir(WORK):  # left by an older build or generator
        if old.startswith((f"tables-sf{scale}-", f"corpus-sf{scale}-")) and \
                old not in (os.path.basename(fixtures), os.path.basename(corpus)):
            shutil.rmtree(os.path.join(WORK, old), ignore_errors=True)
    oracles = os.path.join(fixtures, "oracle_sql.json")
    if not os.path.exists(os.path.join(fixtures, ".done")):
        log("writing the benchmark's tables")
        shutil.rmtree(fixtures, ignore_errors=True)
        os.makedirs(fixtures)
        scratch = os.path.join(WORK, "prepare")
        shutil.rmtree(scratch, ignore_errors=True)
        os.makedirs(scratch)
        java(cp, ["prepare", "--corpus", corpus, "--fixtures", fixtures, "--work", scratch,
                  "--cores", str(cores()), "--oracles", oracles],
             cwd=scratch, log_file=os.path.join(scratch, "jvm.log"), timeout=600)
        shutil.rmtree(scratch, ignore_errors=True)
        open(os.path.join(fixtures, ".done"), "w").close()
    answers_file = os.path.join(corpus, f"glue_answers-{file_hash('workloads.py')}.json")
    if not os.path.exists(answers_file):
        log("computing glue_interactive answers with DuckDB")
        with open(answers_file + ".tmp", "w") as f:
            json.dump(workloads.glue_answers(corpus), f)
        os.replace(answers_file + ".tmp", answers_file)
    with open(oracles) as f:
        oracle_sql = json.load(f)
    results = {}
    for q, sql in oracle_sql.items():
        path = os.path.join(corpus, f"oracle-{q}-{hashlib.sha1(sql.encode()).hexdigest()[:12]}-"
                                    f"{file_hash('workloads.py')}.json")
        if not os.path.exists(path):
            log(f"computing the {q} oracle with DuckDB")
            with open(path + ".tmp", "w") as f:
                json.dump(workloads.oracle_result(corpus, sql), f)
            os.replace(path + ".tmp", path)
        with open(path) as f:
            results[q] = json.load(f)
    return corpus, fixtures, answers_file, results


def schedule_for(workload, seed, seconds, corpus, answers_file):
    if workload == "glue_interactive":
        with open(answers_file) as f:
            answers = json.load(f)
        return workloads.glue_schedule(answers, corpus, seed, int(50 * (seconds + WARMUP_S)), WARMUP_S)
    # The cold pass and at least one warm one.
    return workloads.pipeline_schedule(seed, n_passes=200, min_passes=2)


def _lat(raw, kind, traced=None):
    return [o["ms"] for o in raw["ops"]
            if o["ok"] and o["kind"] == kind and traced in (None, o["traced"])]


def end_to_end(raw, traced=None):
    """End-to-end metrics from the window's ops (`traced`: only from
    traced or only from untraced ops)."""
    cold, warm = _lat(raw, "cold", traced), _lat(raw, "warm", traced)
    done = sum(1 for o in raw["ops"] if o["ok"])
    return {
        "setup_s": statistics.median(raw["setup_s"]),
        "ops_per_s": done / raw["window_s"],
        "cold_p50_ms": statistics.median(cold) if cold else None,
        "warm_p50_ms": statistics.median(warm) if warm else None,
        "heap_live_mb": raw["heap_live_mb"],
    }


def per_layer(raw):
    c = raw["counters"]
    ops = len(raw["ops"])
    traced = sum(1 for o in raw["ops"] if o["traced"])
    appends = sum(1 for o in raw["ops"] if o["kind"] == "append")
    passes = ops if raw["workload"] == "pipeline_heavy" else 0

    def per(v, n):
        return v / n if n else 0.0

    m = {}
    for n, _ in _PER_OP:
        m[n] = per(c.get(n, 0.0), ops)
    for n, _ in _PER_TRACED:
        m[n] = per(c.get(n, 0.0), traced)
    for n, _ in _PER_APPEND:
        m[n] = per(c.get(n, 0.0), appends)
    m["exec.persisted_rdds"] = raw["persisted_rdds"]
    reads = 0 if passes else sum(1 for o in raw["ops"] if o["kind"] in ("cold", "warm"))
    m["cache.meta_hit_ratio.base"] = reads
    m["cache.meta_hit_ratio"] = per(c.get("cache.meta_hits", 0.0), m["cache.meta_hit_ratio.base"])
    m["cache.listing_hit_ratio.base"] = c.get("cache.listed_ops", 0.0)
    m["cache.listing_hit_ratio"] = per(c.get("cache.listing_hits", 0.0), m["cache.listing_hit_ratio.base"])
    m["prune.files_kept_ratio.base"] = c.get("prune.files_listed", 0.0)
    m["prune.files_kept_ratio"] = per(c.get("prune.files_kept", 0.0), m["prune.files_kept_ratio.base"])
    m["skip.files_read_ratio.base"] = c.get("prune.files_kept", 0.0)
    m["skip.files_read_ratio"] = per(c.get("skip.files_read", 0.0), m["skip.files_read_ratio.base"])
    m["lake.delta_tail_commits"] = per(c.get("lake.delta_tail_commits", 0.0), c.get("lake.delta_reads", 0.0))
    m["lake.iceberg_manifests"] = per(c.get("lake.iceberg_manifests", 0.0), c.get("lake.iceberg_reads", 0.0))
    m["write.bytes_per_append"] = c.get("write.bytes_per_append", 0.0)
    m["write.storage_amp"] = c.get("write.storage_amp", 0.0)
    m["write.storage_amp.base"] = c.get("write.storage_amp.base", 0.0)
    for q in workloads.PIPELINE:
        m[f"op.{q}.s"] = per(c.get(f"op.{q}.s", 0.0), passes)
        m[f"op.{q}.jobs"] = per(c.get(f"op.{q}.jobs", 0.0), passes)
        m[f"op.{q}.shuffle_bytes"] = per(c.get(f"op.{q}.shuffle_write_bytes", 0.0), passes)
    for s in SPANS:
        m[f"self.{s}.ms"] = per(raw["self_ms"].get(s, 0.0), traced)
    m.update(trace_overhead(raw))
    return m


def trace_overhead(raw):
    """Traced median minus untraced median of each latency metric. A
    workload whose every op is traced (its traced ops make the same
    calls as untraced ones) reports the median of the tracer's own time
    per op instead."""
    out = {}
    every_traced = all(o["traced"] for o in raw["ops"])
    on, off = end_to_end(raw, traced=True), end_to_end(raw, traced=False)
    for n, kind in (("cold_p50_ms", "cold"), ("warm_p50_ms", "warm")):
        if every_traced:
            own = [o["tracer_ms"] for o in raw["ops"] if o["ok"] and o["kind"] == kind]
            out[f"trace.overhead.{n}"] = statistics.median(own) if own else None
        elif on[n] is not None and off[n] is not None:
            out[f"trace.overhead.{n}"] = on[n] - off[n]
        else:
            out[f"trace.overhead.{n}"] = None
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=0.1,
                    help="corpus scale factor (0.1: 600k lineitem rows)")
    a = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        log(f"no program sources beside {HERE}: run from the repository root")
        sys.exit(2)
    os.makedirs(WORK, exist_ok=True)
    tag = source_hash()
    cp = build(tag)
    corpus, fixtures, answers_file, oracles = prepare(cp, tag, a.scale)

    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    sched_file = os.path.join(run_dir, "schedule.json")
    with open(sched_file, "w") as f:
        json.dump(schedule_for(a.workload, a.seed, a.seconds, corpus, answers_file), f)
    out = os.path.join(run_dir, "raw.json")
    t0 = time.time()
    java(cp, ["run", "--workload", a.workload, "--schedule", sched_file, "--corpus", corpus,
              "--fixtures", fixtures, "--work", run_dir, "--cores", str(cores()),
              "--seconds", str(a.seconds), "--trace", str(a.trace), "--out", out],
         cwd=run_dir, log_file=os.path.join(run_dir, "jvm.log"), timeout=RUN_TIMEOUT_S)
    with open(out) as f:
        raw = json.load(f)
    log(f"jvm ran {time.time() - t0:.1f}s; first op {raw['jvm_start_to_first_op_s']:.2f}s after JVM start")

    errors = list(raw["errors"])
    failed = raw["failed"]
    if a.workload == "pipeline_heavy":
        for q, oracle in oracles.items():
            if not workloads.check_pipeline_output(os.path.join(run_dir, "pipeline_out"), q, oracle):
                failed += 1
                errors.append(f"{q}: first-pass answer differs from its DuckDB oracle")
    if raw["schedule_exhausted"]:
        errors.append("the op stream ran out before the window ended")
    every_traced = all(o["traced"] for o in raw["ops"])
    sel = None if every_traced else False  # the ops end-to-end figures come from
    e2e = end_to_end(raw, traced=sel)
    layers = per_layer(raw)
    missing = [n for n, v in e2e.items() if v is None]
    missing += [n for n, v in layers.items() if v is None and a.trace == 1]
    for n in missing:
        errors.append(f"no samples for {n}")
    for e in errors:
        log(f"FAIL {e}")
    report = {"e2e": e2e, "per_layer": layers, "errors": errors, "fill_s": raw["fill_s"],
              "samples": {k: len(_lat(raw, k, sel)) for k in ("cold", "warm", "append")},
              "tail": {k: stats.tail(_lat(raw, k, sel)) for k in ("cold", "warm", "append")
                       if _lat(raw, k, sel)}}
    with open(os.path.join(run_dir, "report.json"), "w") as f:
        json.dump(report, f, indent=1)
    print(f"fail_frac {failed / max(1, raw['attempted']):.6f} ({failed} of {raw['attempted']} ops)")
    for k, (p, v, n) in report["tail"].items():
        print(f"{k}_tail p{p if p is not None else 'max'} {v:.3f} ms over {n} samples")
    names = END_TO_END if a.trace == 0 else per_layer_names()
    values = e2e if a.trace == 0 else report["per_layer"]
    metrics = {n: {"value": values[n] if values[n] is not None else 0.0, "unit": u} for n, u in names}
    for n, m in metrics.items():
        print(f"{n} {m['value']:.6g} {m['unit']}")
    print(json.dumps({"correct": failed == 0 and not errors, "attempted": raw["attempted"],
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
