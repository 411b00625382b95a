#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload reports --seed 1 --seconds 15 --trace 0

Run from the repository root. Builds the program and the harness with
sbt on first use (cached under .bench_build/), generates the
workload's inputs from the seed, runs the JVM harness, checks the
oracle pass against DuckDB, deletes everything the run wrote, and
prints one JSON object as the last line of standard output. See
README.md in this directory for the workloads and metrics.
"""
import argparse
import collections
import hashlib
import json
import math
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402

MB = 1024.0 * 1024.0
HEAP = "4g"
JVM_TIMEOUT_S = 150
BUILD_TIMEOUT_S = 840
# Spark on JDK 17 outside spark-submit needs these (same list as the
# program's own build file).
ADD_OPENS = [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar")
    for x in ("--add-opens", f"{p}=ALL-UNNAMED")]

# inputs per workload: tables to generate, and documents-tier copies
WORKLOADS = {
    "reports": (list(gen.TABLES), 1),
    "dedup-tier": (["documents"], 2),
}
# The program writes some intermediate sinks under fixed /tmp/graft_*
# paths keyed by its input directory (graft.queries.Tables.tmpKey).
PROGRAM_TMP = "/tmp"


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def die(msg, code=2):
    log(msg)
    sys.exit(code)


def source_digest():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, f) for f in sorted(fs)]
    for f in files:
        if os.path.isfile(f):
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile program + harness with sbt; return the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        die("program source (build.sbt, src/main/scala/graft) not found next to "
            "the benchmark; run from a full checkout of the repository")
    os.makedirs(BUILD, exist_ok=True)
    stamp, cp_file = os.path.join(BUILD, "build.stamp"), os.path.join(BUILD, "classpath")
    digest = source_digest()
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as f:
            if f.read() == digest:
                with open(cp_file) as g:
                    return g.read()
    log("building program and harness with sbt")
    try:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export perfbench/Runtime/fullClasspath"],
            cwd=HERE, stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
            stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
    except (OSError, subprocess.TimeoutExpired) as e:
        die(f"build failed: {e}", 3)
    lines = [x for x in r.stdout.splitlines() if x and not x.startswith("[")]
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stdout[-4000:])
        die("build failed", 3)
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp, "w") as f:
        f.write(digest)
    return lines[-1]


def tmp_key(d):
    """graft.queries.Tables.tmpKey: the dir's digits + md5 prefix."""
    return re.sub(r"[^0-9]", "", d) + "_" + hashlib.md5(d.encode()).hexdigest()[:8]


def clear_program_sinks(key):
    """Delete the program's /tmp/graft_* sinks written for this run's
    input directory (top level and one level down)."""
    try:
        tops = [os.path.join(PROGRAM_TMP, x) for x in os.listdir(PROGRAM_TMP)
                if x.startswith("graft_")]
    except OSError:
        return
    for top in tops:
        if key in os.path.basename(top):
            _rm(top)
        elif os.path.isdir(top) and not os.path.islink(top):
            for x in os.listdir(top):
                if key in x:
                    _rm(os.path.join(top, x))


def _rm(p):
    if os.path.isdir(p) and not os.path.islink(p):
        shutil.rmtree(p, ignore_errors=True)
    else:
        try:
            os.remove(p)
        except OSError:
            pass


def _betacf(a, b, x):
    """Continued fraction of the incomplete beta function (Lentz)."""
    tiny = 1e-300

    def nz(v):
        return v if abs(v) > tiny else tiny
    c, d = 1.0, 1.0 / nz(1.0 - (a + b) * x / (a + 1.0))
    h = d
    for m in range(1, 500):
        for aa in (m * (b - m) * x / ((a - 1.0 + 2 * m) * (a + 2 * m)),
                   -(a + m) * (a + b + m) * x / ((a + 2 * m) * (a + 1.0 + 2 * m))):
            d = 1.0 / nz(1.0 + aa * d)
            c = nz(1.0 + aa / c)
            h *= d * c
        if abs(d * c - 1.0) < 1e-13:
            break
    return h


def _betai(a, b, x):
    """Regularized incomplete beta function I_x(a, b)."""
    if x <= 0.0:
        return 0.0
    if x >= 1.0:
        return 1.0
    front = math.exp(math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
                     + a * math.log(x) + b * math.log1p(-x))
    if x < (a + 1.0) / (a + b + 2.0):
        return front * _betacf(a, b, x) / a
    return 1.0 - front * _betacf(b, a, 1.0 - x) / b


def quantile(xs, p):
    """Harrell-Davis estimate of the p-quantile: a Beta-weighted mean of
    all order statistics. A run has only a few executions of a fixed
    basket, so a plain order statistic jumps whenever two queries swap
    places; this estimate moves smoothly instead."""
    xs = sorted(xs)
    n = len(xs)
    a, b = p * (n + 1), (1 - p) * (n + 1)
    cdf = [_betai(a, b, i / n) for i in range(n + 1)]
    return sum((cdf[i + 1] - cdf[i]) * x for i, x in enumerate(xs))


def run_jvm(cp, args, tmp_dir):
    # -XX:-UsePerfData: no hsperfdata file outside the run directory
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData", *ADD_OPENS,
           f"-Djava.io.tmpdir={tmp_dir}", "-cp", cp, "perfbench.Harness"] + args
    p = subprocess.Popen(cmd, cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr,
                         stdin=subprocess.DEVNULL)
    try:
        return p.wait(timeout=JVM_TIMEOUT_S)
    finally:
        if p.poll() is None:
            p.kill()
            p.wait()


def main():
    # a terminated run still stops its JVM and deletes what it wrote
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    cp = build()
    main_entry_ms = int(time.time() * 1000)

    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    inputs, out = os.path.join(run_dir, "inputs"), os.path.join(run_dir, "out")
    key = tmp_key(inputs)
    clear_program_sinks(key)
    try:
        tables, copies = WORKLOADS[a.workload]
        sizes = gen.generate(inputs, a.seed, tables, doc_copies=copies)
        log(f"inputs generated in {time.time() - main_entry_ms / 1000:.2f} s")
        os.makedirs(os.path.join(run_dir, "tmp"))
        t = time.time()
        code = run_jvm(cp, ["--workload", a.workload, "--seed", str(a.seed),
                            "--seconds", str(a.seconds), "--trace", str(a.trace),
                            "--inputs", inputs, "--out", out,
                            "--main-entry-ms", str(main_entry_ms)],
                       os.path.join(run_dir, "tmp"))
        log(f"harness JVM {time.time() - t:.2f} s")
        if code != 0:
            die(f"harness exited with code {code}", 4)
        with open(os.path.join(out, "harness.json")) as f:
            h = json.load(f)
        t = time.time()
        checks = oracle.check(inputs, os.path.join(out, "results"),
                              h["oracle_sql"], h["expected_rows"])
        log(f"oracle check {time.time() - t:.2f} s")
        result = report(a, spec, h, sizes, checks)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        clear_program_sinks(key)
    print(json.dumps(result))


def report(a, spec, h, sizes, checks):
    execs = h["execs"]
    ran = collections.Counter(e["name"] for e in execs)
    failures = list(h["failures"])
    oracle_fail = sum(1 for x in failures if x["reason"].startswith("oracle pass"))
    mismatched = {n: r for n, r in checks.items() if r is not None}
    for n, r in sorted(mismatched.items()):
        failures.append({"query": n, "reason": "oracle: " + r})
    attempted = h["attempted_execs"] + len(h["expected_rows"]) + oracle_fail
    failed = (h["failed_execs"] + oracle_fail +
              sum(1 + h["warm_rounds"] + ran[n] for n in mismatched))
    residue = {e["name"]: {"leaked_blocks": e["leaked_blocks"],
                           "registered_after": e["registered_after"]}
               for e in execs if e["leaked_blocks"] or e["registered_after"]}

    def per_query(traced):
        """Each query's median over its timed executions of builder +
        action + release, and of builder + action: host and GC noise
        move single executions by 10-30%, the median of a run much less."""
        walls, lats = collections.defaultdict(list), collections.defaultdict(list)
        for e in execs:
            if e["traced"] == traced:
                walls[e["name"]].append(e["build_ns"] + e["action_ns"] + e["release_ns"])
                lats[e["name"]].append(e["build_ns"] + e["action_ns"])
        return ({n: statistics.median(v) / 1e9 for n, v in walls.items()},
                [statistics.median(v) / 1e9 for v in lats.values()])

    walls, lat = per_query(False)
    run_s = sum(walls.values())
    docs = sizes.get("documents", {}).get("rows", 0)
    doc_queries = sum(1 for n in walls if h["reads_docs"].get(n))
    pc, all_rounds = h["pass_counters"], max(h["rounds"], 1)
    e2e = {
        "setup_s": h["setup_s"],
        "run_s": run_s,
        "query_p50_s": quantile(lat, 0.5) if lat else 0.0,
        "query_p90_s": quantile(lat, 0.9) if lat else 0.0,
        "docs_per_s": docs * doc_queries / run_s if run_s else 0.0,
        "shuffle_write_mb": pc["shuffle_write"] / all_rounds / MB,
        "output_write_mb": pc["output_bytes"] / all_rounds / MB,
        "heap_retained_mb": max((e["heap_mb"] for e in execs), default=0.0),
    }
    layers = dict(h["layers"])
    traced = per_query(True)[0]
    layers["trace.overhead_s"] = (sum(traced.values()) - run_s
                                  if traced and walls else 0.0)
    wall = layers.get("trace.wall_s", 0.0)
    layers["trace.unattributed_share"] = (layers.get("trace.unattributed_s", 0.0) / wall
                                          if wall else 0.0)
    layers.update(h["staged"])

    provenance = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "cores": h["cores"], "heap_max_mb": round(h["heap_max_mb"], 1),
        "calib_start_ms": h["calib_start_ms"], "calib_end_ms": h["calib_end_ms"],
        "inputs": sizes, "rounds": h["rounds"], "queries_timed": len(lat),
        "basket": sorted(h["expected_rows"]),
    }
    details = {"error_rate": failed / attempted, "failures": failures,
               "cache_residue": residue,
               "rows_only_checked": sorted(n for n in h["expected_rows"]
                                           if n not in h["oracle_sql"]),
               "end_to_end": e2e}
    print(json.dumps({"provenance": provenance}))
    print(json.dumps({"details": details}))
    if a.trace:
        write_spans(a, h["spans"])
        print(json.dumps({"layers": layers}))
    names = spec["per_layer"] if a.trace else spec["end_to_end"]
    values = layers if a.trace else e2e
    metrics = {m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]}
               for m in names}
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics}


def write_spans(a, spans):
    d = os.path.join(BUILD, "traces")
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, f"{a.workload}-seed{a.seed}.jsonl")
    with open(path, "w") as f:
        for s in spans:
            f.write(json.dumps(s) + "\n")
    log(f"{len(spans)} spans written to {os.path.relpath(path, ROOT)}")


if __name__ == "__main__":
    main()
