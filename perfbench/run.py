#!/usr/bin/env python3
"""The repo's benchmark: the validator's own run, clean and faulted, and a
mix of ANN and streaming gates.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout. The first run builds the program and
the harness (perfbench/src) from source with sbt into `.bench_build/`;
later runs reuse that build while the sources are unchanged. Each run
starts one JVM with `local[<cores>]` Spark, issues operations one after
another (a closed loop with one client), checks every operation's output,
and prints the metrics as one JSON object on the last line of stdout.

Workloads (see perfbench/README.md for why each exists):
  validate_faults  graft.Main.run over a quoted, pipe-delimited lineitem
                   CSV with planted faults; verdict FAIL with exact
                   per-check counts and bad-row sink sizes
  gate_mix         passes over two registered gates, order set by the
                   seed; each output must hash to the DuckDB oracle's
  validate_clean   the same CSV without faults; verdict PASS (a probe of
                   the happy path, not listed in BENCHMARK.json)

The read-only TPC-H tables come from SPARK_GRAFT_SF_DIR, or else from the
sf0.1 directory that TESTDATA.md names.
"""
import argparse
import hashlib
import json
import os
import random
import re
import shutil
import statistics
import subprocess
import sys
import time

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
LAUNCH = os.path.join(BUILD, "launch.txt")
STAMP = os.path.join(BUILD, "stamp")
# Sources whose change calls for a rebuild.
SOURCES = ["build.sbt", "project", "src/main", "perfbench/build.sbt",
           "perfbench/project", "perfbench/src"]
# Fixed per-process heap: the same on every run and every commit.
HEAP = "3g"
JVM_TIMEOUT_S = 150

# Rows of sf0.1 lineitem staged for the validate workloads.
VALIDATE_ROWS = 100_000
GATES = ["d219_ivfpq", "d208_changelog_dedup_expiry"]
WORKLOADS = ["validate_clean", "validate_faults", "gate_mix"]
DIGESTS = os.path.join(HERE, "oracle_digests.json")

# Each Main.run job's phase, from the innermost TableValidator method in
# its Spark call site.
PHASES = [("header", "actualColumns"), ("offender", "firstOffender"),
          ("fallback", "corruptRecordFallback"),
          ("typed", "typedCheckResults"), ("count", "fieldCountCheck")]

STREAM_DURATIONS = {"trigger_s": ["triggerExecution"],
                    "add_batch_s": ["addBatch"],
                    "log_commit_s": ["walCommit", "commitOffsets"],
                    "planning_s": ["queryPlanning"]}

END_TO_END = [("setup_s", "s"), ("run_s_p50", "s"), ("cpu_s_p50", "s"),
              ("peak_rss_mb", "MB")]


def per_layer_names():
    """(name, unit) of every per-layer metric, in BENCHMARK.json order."""
    names = [("meta.compile_s", "s"),
             ("io.read_bytes", "bytes"), ("io.read_amp", "ratio"),
             ("io.scan_width_min", "tasks"), ("io.write_bytes", "bytes"),
             ("io.write_rows", "rows"), ("io.write_width", "tasks"),
             ("validate.jobs", "count")]
    names += [(f"validate.{p}_s", "s")
              for p in ("header", "count", "offender", "fallback", "typed")]
    names += [("spark.jobs", "count"), ("spark.stages", "count"),
              ("spark.tasks", "count"), ("spark.task_s", "s"),
              ("spark.cpu_s", "s"), ("spark.util", "ratio"),
              ("spark.idle_s", "s"), ("spark.gc_s", "s"),
              ("spark.shuffle_read_bytes", "bytes"),
              ("spark.shuffle_write_bytes", "bytes"),
              ("spark.spill_bytes", "bytes"), ("spark.failed_tasks", "count")]
    for g in GATES:
        names += [(f"gate.{g}.s", "s"), (f"gate.{g}.jobs", "count"),
                  (f"gate.{g}.idle_s", "s")]
    names += [("streaming.batches", "count")]
    names += [(f"streaming.{k}", "s") for k in STREAM_DURATIONS]
    names += [("streaming.state_rows", "rows"),
              ("streaming.state_commit_s", "s"),
              ("streaming.state_mem_bytes", "bytes"),
              ("trace.run_s_p50", "s")]
    return names


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


# ------------------------------------------------------------------ build

def sources_stamp():
    h = hashlib.sha256()
    for top in SOURCES:
        path = os.path.join(ROOT, top)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path)
            if os.sep + "target" not in d for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def ensure_built():
    for need in ("build.sbt", "src/main/scala/graft"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"run from the root of a checkout: {need} is missing")
    stamp = sources_stamp()
    if os.path.exists(LAUNCH) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read() == stamp:
                return
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_DRIVER_MEM=HEAP,
               SPARK_GRAFT_TMPDIR=os.path.join(BUILD, "tmp"),
               PERFBENCH_LAUNCH=LAUNCH)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        rc = subprocess.run(
            ["sbt", "-batch", "-Dsbt.offline=true", "-Dsbt.log.noformat=true",
             "launcher"], cwd=HERE, env=env, stdout=out,
            stderr=subprocess.STDOUT, timeout=800).returncode
    if rc != 0:
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-30:]))
        fail(f"build failed (exit {rc}); see {log}", 3)
    with open(STAMP, "w") as f:
        f.write(stamp)


# ---------------------------------------------------------------- inputs

def sf_dir():
    d = os.environ.get("SPARK_GRAFT_SF_DIR")
    if not d:
        with open(os.path.join(ROOT, "TESTDATA.md")) as f:
            m = re.search(r"\|\s*0\.1\s*\|\s*`([^`]+)`", f.read())
        if not m:
            fail("TESTDATA.md names no sf0.1 directory")
        d = m.group(1)
    if not os.path.exists(os.path.join(d, "lineitem.parquet")):
        fail(f"no TPC-H tables in {d}")
    return d.rstrip("/")


def stage_validate(workload, seed, sf):
    """The seed's staged input, reused when the last run had the same seed."""
    base = os.path.join(BUILD, "data", workload)
    manifest = os.path.join(base, "manifest.json")
    if os.path.exists(manifest):
        with open(manifest) as f:
            m = json.load(f)
        if m["seed"] == seed and m["rows"] == VALIDATE_ROWS:
            return base, m
    shutil.rmtree(base, ignore_errors=True)
    m = gen.generate(os.path.join(sf, "lineitem.parquet"), base, seed,
                     workload == "validate_faults", VALIDATE_ROWS)
    return base, m


# ------------------------------------------------------------ the process

def launch(args, run_dir):
    with open(LAUNCH) as f:
        lines = f.read().splitlines()
    cmd = ["java", *lines[:-1], "-cp", lines[-1], "perfbench.Run", *args]
    log = os.path.join(run_dir, "jvm.log")
    started = time.time()
    with open(log, "w") as out:
        try:
            rc = subprocess.run(cmd, cwd=run_dir, stdout=out,
                                stderr=subprocess.STDOUT,
                                timeout=JVM_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            fail(f"the benchmark JVM ran over {JVM_TIMEOUT_S} s; see {log}", 4)
    if rc != 0:
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-30:]))
        fail(f"the benchmark JVM failed (exit {rc}); see {log}", 4)
    with open(os.path.join(run_dir, "result.json")) as f:
        return started, json.load(f)


# ----------------------------------------------------------- correctness

def validate_errors(op, manifest):
    """Every way one Main.run result differs from the manifest."""
    errs = []
    if op["exit_code"] != manifest["exit_code"]:
        errs.append(f"exit {op['exit_code']} != {manifest['exit_code']}")
    want = manifest["failed_count"]
    got = op["checks"]
    if set(got) != set(want):
        errs.append(f"checks {sorted(set(got) ^ set(want))} differ")
    for name, n in want.items():
        r = got.get(name)
        if r and (r["failed"] != n or r["passed"] != (n == 0)):
            errs.append(f"{name}: failed={r['failed']} passed={r['passed']},"
                        f" expected failed={n}")
    if op["sink_rows"] != manifest["sink_rows"]:
        errs.append(f"sinks {op['sink_rows']} != {manifest['sink_rows']}")
    return errs


def canonical_digest(con, sql):
    """sha256 of a result canonicalized as tools/check_oracle.py does:
    columns sorted by name, values as Python repr, rows sorted."""
    rel = con.sql(sql)
    cols = list(rel.columns)
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = sorted(tuple(repr(r[i]) for i in order) for r in rel.fetchall())
    blob = json.dumps([[cols[i] for i in order], rows])
    return {"rows": len(rows), "sha256": hashlib.sha256(blob.encode()).hexdigest()}


def gate_errors(op, digests):
    con = duckdb.connect()
    errs = []
    for g in GATES:
        got = canonical_digest(con, "SELECT * FROM read_parquet("
                               f"'{op['outputs']}/{g}/*.parquet')")
        if got != digests[g]:
            errs.append(f"{g}: {got} != oracle {digests[g]}")
    return errs


# ------------------------------------------------------- per-layer metrics

def union_s(intervals, lo, hi):
    """Seconds of [lo, hi] covered by the (start, end) ms intervals."""
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return covered / 1000.0


def phase_of(callsite):
    for line in callsite.splitlines():
        for phase, method in PHASES:
            if method in line:
                return phase
    return None


def layer_metrics(result, workload, cores, input_bytes):
    t = result["trace"]
    sql_callsite = {e["execution"]: e["callsite"] for e in t["executions"]}
    jobs = {}
    for e in t["jobs"]:
        j = jobs.setdefault(e["job"], {})
        if e["event"] == "start":
            j.update(start=e["t"], stages=e["stages"],
                     callsite=sql_callsite.get(e["execution"], e["callsite"]))
        else:
            j["end"] = e["t"]
    jobs = [j for j in jobs.values() if "start" in j and "end" in j]
    stages = {}
    for s in t["stages"]:
        stages.setdefault(s["stage"], []).append(s)

    def in_span(x, span):
        return span["start"] <= x <= span["end"]

    def job_stats(span):
        js = [j for j in jobs if in_span(j["start"], span)]
        ids = {i for j in js for i in j["stages"]}
        ss = [s for i in ids for s in stages.get(i, [])]
        idle = (span["end"] - span["start"]) / 1000.0 - union_s(
            [(j["start"], j["end"]) for j in js], span["start"], span["end"])
        return js, ss, idle

    measured = {i for i, op in enumerate(result["ops"])
                if op["phase"] == "measured"}
    op_spans = [s for s in t["spans"]
                if s["name"] == "op" and s["op"] in measured]
    per_op = []
    for span in op_spans:
        js, ss, idle = job_stats(span)
        wall = (span["end"] - span["start"]) / 1000.0
        task_s = sum(s["run_ms"] for s in ss) / 1000.0
        reads = [s for s in ss if s["read_bytes"] > 0]
        writes = [s for s in ss if s["write_bytes"] > 0]
        m = {
            "io.read_bytes": sum(s["read_bytes"] for s in ss),
            "io.read_amp": sum(s["read_bytes"] for s in ss) / input_bytes,
            "io.scan_width_min": min((s["tasks"] for s in reads), default=0),
            "io.write_bytes": sum(s["write_bytes"] for s in ss),
            "io.write_rows": sum(s["write_rows"] for s in ss),
            "io.write_width": min((s["tasks"] for s in writes), default=0),
            "spark.jobs": len(js),
            "spark.stages": len(ss),
            "spark.tasks": sum(s["tasks"] for s in ss),
            "spark.task_s": task_s,
            "spark.cpu_s": sum(s["cpu_ns"] for s in ss) / 1e9,
            "spark.util": task_s / (wall * cores),
            "spark.idle_s": idle,
            "spark.gc_s": sum(s["gc_ms"] for s in ss) / 1000.0,
            "spark.shuffle_read_bytes": sum(s["shuffle_read_bytes"] for s in ss),
            "spark.shuffle_write_bytes": sum(s["shuffle_write_bytes"] for s in ss),
            "spark.spill_bytes": sum(s["spill_bytes"] for s in ss),
            "spark.failed_tasks": sum(s["failed_tasks"] for s in ss),
        }
        validating = workload.startswith("validate")
        m["validate.jobs"] = len(js) if validating else 0
        for phase, _ in PHASES:
            m[f"validate.{phase}_s"] = sum(
                (j["end"] - j["start"]) / 1000.0 for j in js
                if validating and phase_of(j["callsite"]) == phase)
        for g in GATES:
            gs = [s for s in t["spans"]
                  if s["name"] == f"gate:{g}" and s["op"] == span["op"]]
            if gs:
                gjs, _, gidle = job_stats(gs[0])
                m[f"gate.{g}.s"] = (gs[0]["end"] - gs[0]["start"]) / 1000.0
                m[f"gate.{g}.jobs"] = len(gjs)
                m[f"gate.{g}.idle_s"] = gidle
            else:
                m[f"gate.{g}.s"] = m[f"gate.{g}.jobs"] = 0
                m[f"gate.{g}.idle_s"] = 0
        progress = [p for p in t["progress"] if in_span(p["t"], span)]
        m["streaming.batches"] = len(progress)
        for k, keys in STREAM_DURATIONS.items():
            m[f"streaming.{k}"] = sum(p["durations"].get(d, 0)
                                      for p in progress for d in keys) / 1000.0
        last = {}
        for p in sorted(progress, key=lambda p: p["t"]):
            last[p["run"]] = p
        m["streaming.state_rows"] = sum(o["rows"] for p in last.values()
                                        for o in p["state"])
        m["streaming.state_commit_s"] = sum(
            o["commit_ms"] for p in progress for o in p["state"]) / 1000.0
        m["streaming.state_mem_bytes"] = max(
            (sum(o["mem_bytes"] for o in p["state"]) for p in progress),
            default=0)
        per_op.append(m)

    metas = [(s["end"] - s["start"]) / 1000.0 for s in t["spans"]
             if s["name"] == "meta.compile" and s["op"] in measured]
    out = {k: statistics.median(m[k] for m in per_op) for k in per_op[0]}
    out["meta.compile_s"] = statistics.median(metas) if metas else 0
    out["trace.run_s_p50"] = statistics.median(
        result["ops"][i]["wall_s"] for i in measured)
    return out


# ------------------------------------------------------------------ main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    ensure_built()
    sf = sf_dir()
    cores = len(os.sched_getaffinity(0))
    run_dir = os.path.join(BUILD, "run", a.workload)
    # JVM scratch (java.io.tmpdir, so also Spark's local dirs and the
    # streaming gates' checkpoints) starts empty on every run.
    for d in (run_dir, os.path.join(BUILD, "tmp")):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    args = ["--out", run_dir, "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--cores", str(cores)]
    if a.workload == "gate_mix":
        gates = list(GATES)
        random.Random(a.seed).shuffle(gates)
        with open(DIGESTS) as f:
            digests = json.load(f)["digests"]
        args += ["--workload", "gates", "--sf", sf, "--gates", ",".join(gates),
                 "--warmup-ops", "1", "--min-ops", "1"]
        input_bytes = sum(
            os.path.getsize(os.path.join(sf, f)) for f in os.listdir(sf)
            if f.endswith(".parquet"))
    else:
        base, manifest = stage_validate(a.workload, a.seed, sf)
        args += ["--workload", "validate", "--input", base,
                 "--table", manifest["table"], "--warmup-ops", "2",
                 "--min-ops", "2"]
        input_bytes = manifest["bytes"]

    started, result = launch(args, run_dir)

    ops = result["ops"]
    failed = 0
    for i, op in enumerate(ops):
        if "error" in op:
            errs = [op["error"]]
        elif a.workload == "gate_mix":
            errs = gate_errors(op, digests)
        else:
            errs = validate_errors(op, manifest)
        if errs:
            failed += 1
            print(f"op {i} wrong: " + "; ".join(errs), file=sys.stderr)

    warm = [op for op in ops if op["phase"] == "measured"]
    walls = [op["wall_s"] for op in warm]
    e2e = {
        "setup_s": result["cold_end_epoch_ms"] / 1000.0 - started,
        "run_s_p50": statistics.median(walls),
        "cpu_s_p50": statistics.median(op["cpu_s"] for op in warm),
        "peak_rss_mb": result["peak_rss_kb"] / 1024.0,
    }
    quart = (statistics.quantiles(walls, n=4) if len(walls) > 1
             else [walls[0]] * 3)
    print(f"{a.workload} seed={a.seed} trace={a.trace} cores={cores}: "
          f"setup_s={e2e['setup_s']:.3f} "
          f"run_s_p50={e2e['run_s_p50']:.3f} (n={len(walls)}, "
          f"q1={quart[0]:.3f}, q3={quart[2]:.3f}) "
          f"cpu_s_p50={e2e['cpu_s_p50']:.3f} "
          f"peak_rss_mb={e2e['peak_rss_mb']:.1f} "
          f"error_ratio={failed}/{len(ops)}={failed / len(ops):.3f}")

    if a.trace:
        layers = layer_metrics(result, a.workload, cores, input_bytes)
        with open(os.path.join(run_dir, "layers.json"), "w") as f:
            json.dump(layers, f, indent=1)
        metrics = {n: {"value": layers[n], "unit": u}
                   for n, u in per_layer_names()}
    else:
        metrics = {n: {"value": e2e[n], "unit": u} for n, u in END_TO_END}
    print(json.dumps({"correct": failed == 0, "attempted": len(ops),
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
