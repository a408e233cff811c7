#!/usr/bin/env python3
"""Benchmark runner for the graft engine.

Usage (from the repository root):

    python3 graftbench/run.py --workload cdc_upsert --seed 1 --seconds 20 --trace 0

Builds the program and the workload drivers from source on first use
(sbt, cached under .bench_build/ by a hash of the sources), generates the
workload's inputs from the seed, runs one workload for `--seconds` of
timed work in a fresh JVM on a `local[<cores>]` session, checks the
outputs, and prints one JSON line last:
{"correct", "attempted", "failed", "metrics"}. With `--trace 0` the
metrics are the end-to-end metrics of BENCHMARK.json; with `--trace 1`
the per-layer ones, from spans the drivers record around each call into
the program. Every file a run writes lives under .bench_build/ and is
removed when the run ends. See README.md in this directory.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, BENCH)

import tables  # noqa: E402
import trace  # noqa: E402

WORKLOADS = ["cdc_upsert", "analytics_mix", "corpus_prep"]
ANALYTICS_SF = 0.01
TABLE_GEN_REPS = 3
RUN_LIMIT_S = 170

# the JDK module openings Spark needs outside spark-submit
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

# what each workload's generic end-to-end metrics measure (README.md):
# (primary op sample, secondary op sample, throughput field)
ROLES = {
    "cdc_upsert": ("merge", "lookup", "changes_per_s"),
    "analytics_mix": ("query", "pass", "queries_per_s"),
    "corpus_prep": ("prepare", "search", "docs_per_s"),
}


def primary_s(workload, samples):
    """Typical latency of the workload's primary operation: the median,
    except for the query mix, whose keys differ in cost by 10x; there it
    is the geometric mean over keys of each key's median latency."""
    if workload != "analytics_mix":
        return statistics.median(samples[ROLES[workload][0]])
    per_key = [statistics.median(xs) for k, xs in samples.items()
               if k.startswith("key.")]
    return statistics.geometric_mean(per_key)


def fail(msg):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def build():
    """Compiles the program and the drivers; returns the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail(f"no program sources at {ROOT} (build.sbt and src/main/scala)")
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx3g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        rc = subprocess.call(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=BENCH, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=840)
    with open(log) as f:
        lines = f.read().splitlines()
    cps = [l for l in lines if ":" in l and "graftbench" in l and l.startswith("/")]
    if rc != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (exit {rc}), log in {log}")
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1]


def percentile(xs, q):
    """The q-quantile by linear interpolation between order statistics."""
    s = sorted(xs)
    pos = (len(s) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def supported_p90(xs):
    """p90 only when at least ten samples lie beyond it."""
    return percentile(xs, 0.9) if len(xs) * 0.1 >= 10 else None


def run_jvm(cp, args, tmp, deadline):
    jvm = ["java", "-Xms2g", "-Xmx2g", "-Xss4m", "-XX:ReservedCodeCacheSize=512m",
           "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}/tmp",
           f"-Dspark.local.dir={tmp}/spark-local",
           f"-Dspark.sql.warehouse.dir={tmp}/warehouse",
           f"-Dderby.system.home={tmp}/derby",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Dlog4j2.configurationFile={BENCH}/log4j2.properties"]
    for p in ADD_OPENS:
        jvm += ["--add-opens", f"{p}=ALL-UNNAMED"]
    for d in ["tmp", "spark-local", "warehouse", "derby", "work"]:
        os.makedirs(os.path.join(tmp, d), exist_ok=True)
    log = os.path.join(tmp, "jvm.log")
    with open(log, "w") as out:
        proc = subprocess.Popen(jvm + ["-cp", cp, "graftbench.Main"] + args,
                                cwd=tmp, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    if rc != 0:
        with open(log, errors="replace") as f:
            sys.stderr.write("".join(f.readlines()[-60:]))
        fail(f"workload JVM ended with {rc}")


def oracle_compare(data_dir, results_dir):
    """Runs tools/compare.py (the DuckDB oracle compare) on the results
    the warm-up pass kept; returns {key: None or failure text}."""
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "compare.py"), data_dir,
         results_dir], capture_output=True, text=True, timeout=120)
    out = {}
    for line in proc.stdout.splitlines():
        m = re.match(r"(PASS|FAIL) (\S+?):?( .*)?$", line)
        if m:
            out[m.group(2)] = None if m.group(1) == "PASS" else line
    if not out:
        fail(f"oracle compare printed no results: {proc.stderr[-2000:]}")
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    start = time.time()
    cp = build()
    # a run ends within RUN_LIMIT_S of its start; only a long (first) build
    # gets more, and up to 30 s of build time counts against the run
    deadline = time.time() + RUN_LIMIT_S - min(time.time() - start, 30)
    tmp = os.path.join(BUILD, f"run-{os.getpid()}-{int(time.time() * 1000)}")
    os.makedirs(tmp)
    try:
        result = run(a, cp, tmp, deadline)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps(result))


def run(a, cp, tmp, deadline):
    out = os.path.join(tmp, "report.json")
    args = ["--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", os.path.join(tmp, "work"), "--out", out]
    gen_s = 0.0
    data_dir = os.path.join(tmp, "data")
    if a.workload == "analytics_mix":
        reps = []
        for _ in range(TABLE_GEN_REPS):
            t0 = time.perf_counter()
            digest = tables.write(a.seed, ANALYTICS_SF, data_dir)
            reps.append(time.perf_counter() - t0)
        gen_s = statistics.median(reps)
        args += ["--data", data_dir]
    run_jvm(cp, args, tmp, deadline)
    with open(out) as f:
        rep = json.load(f)
    if a.workload == "analytics_mix":
        rep["input_digest"] = digest
        rep["setup_s"] += gen_s
        for key, problem in sorted(oracle_compare(data_dir, rep["results_dir"]).items()):
            rep["attempted"] += 1
            if problem:
                rep["failed"] += 1
                rep["failures"].append(f"oracle {problem}")
    samples = rep["samples"]
    _, secondary, rate = ROLES[a.workload]
    if a.workload == "corpus_prep":
        rep["docs_per_s"] = rep["input_docs"] / statistics.median(samples["prepare"])

    # the workload's own metric names, with sample counts and p90 where
    # the sample supports one
    named = {"setup_s": (rep["setup_s"], "s", 1),
             "failed_frac": (rep["failed"] / max(1, rep["attempted"]), "1",
                             rep["attempted"]),
             "peak_rss_mb": (rep["peak_rss_mb"], "MiB", 1)}
    for name in samples:
        xs = samples[name]
        if name.endswith("traced") or name.startswith("key.") or not xs:
            continue
        named[f"{name}_p50_s"] = (statistics.median(xs), "s", len(xs))
        p90 = supported_p90(xs)
        if p90 is not None:
            named[f"{name}_p90_s"] = (p90, "s", len(xs))
    if a.workload == "analytics_mix":
        named["query_geomean_s"] = (primary_s(a.workload, samples), "s",
                                    len(samples["query"]))
    named[rate] = (rep[rate], "1/s", 1)
    if "bytes_per_live_byte" in rep:
        named["bytes_per_live_byte"] = (rep["bytes_per_live_byte"], "1", 1)
    print(json.dumps({
        "workload": a.workload, "seed": a.seed, "input_digest": rep["input_digest"],
        "metrics": {k: {"value": v, "unit": u, "n": n} for k, (v, u, n) in named.items()},
        "failures": rep["failures"]}))

    if a.trace:
        metrics, measured = trace.per_layer(trace.load(out + ".spans.jsonl"))
        metrics["trace.overhead_pct"] = trace.overhead_pct(samples)
        units = {name: m["unit"] for name, m in per_layer_spec().items()}
        missing = sorted(set(units) - set(metrics)) + trace.unmeasured(
            a.workload, measured, units)
        if missing:
            fail(f"per-layer metrics no span measured: {missing}")
        metrics = {k: {"value": metrics[k], "unit": units[k]} for k in units}
    else:
        metrics = {
            "setup_s": {"value": rep["setup_s"], "unit": "s"},
            "peak_rss_mb": {"value": rep["peak_rss_mb"], "unit": "MiB"},
            "primary_s": {"value": primary_s(a.workload, samples), "unit": "s"},
            "secondary_p50_s": {"value": statistics.median(samples[secondary]),
                                "unit": "s"},
            "work_per_s": {"value": rep[rate], "unit": "1/s"},
        }
    return {"correct": rep["failed"] == 0, "attempted": rep["attempted"],
            "failed": rep["failed"], "metrics": metrics}


def per_layer_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m for m in json.load(f)["per_layer"]}


if __name__ == "__main__":
    main()
