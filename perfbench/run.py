#!/usr/bin/env python3
"""Benchmark of the engine: one workload, one seed, one run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Run from the repository root. The first run builds the engine and the
harness from source with sbt (offline) and caches the classpath, keyed
by a hash of the sources. Each run then starts one JVM at
local[<nproc>], sets up the workload's seeded inputs, runs whole passes
of its operations in a closed loop with one client for --seconds,
checks every output against a computation made apart from the engine,
and prints one JSON line: {"correct", "attempted", "failed", "metrics"}.
--trace 1 reports the per-layer metrics instead of the end-to-end ones.
See perfbench/README.md.
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
sys.dont_write_bytecode = True  # runs leave the work tree as they found it

import oracle  # noqa: E402
import tables  # noqa: E402

WORKLOADS = ("rankings_etl", "curation", "catalog_rw", "streaming")
# Scale of the generated star-schema tables (1 = 500 documents, 10 000
# events, 60 000 line items).
TABLE_SCALE = 1
RUN_LIMIT_S = 175
BUILD_LIMIT_S = 840

ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def cores():
    return len(os.sched_getaffinity(0))


def source_hash(root):
    """Hash of every input of the build: engine and harness sources."""
    h = hashlib.sha256()
    files = [os.path.join(root, "build.sbt")]
    for top in (os.path.join(root, "project"), os.path.join(root, "src", "main"),
                os.path.join(HERE, "project"), os.path.join(HERE, "src")):
        for d, dirs, fs in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, f) for f in sorted(fs)]
    files.append(os.path.join(HERE, "build.sbt"))
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(root):
    """Compile engine and harness; return the runtime classpath."""
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(root, need)):
            sys.exit(f"[perfbench] no engine sources here: {need} is missing "
                     "(run from the repository root)")
    stamp = source_hash(root)
    cache = os.path.join(HERE, "target", "perfbench.classpath")
    if os.path.exists(cache):
        with open(cache) as f:
            lines = f.read().splitlines()
        if len(lines) == 2 and lines[0] == stamp:
            return lines[1]
    log("building engine and harness with sbt")
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" +
                   os.path.expanduser("~/.sbt/repositories") +
                   " -Dsbt.offline=true -Xmx3g")
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=sys.stderr,
        text=True, timeout=BUILD_LIMIT_S, stdin=subprocess.DEVNULL)
    cps = [l for l in p.stdout.splitlines()
           if ".jar" in l and not l.startswith("[") and ":" in l]
    if p.returncode != 0 or not cps:
        sys.stderr.write(p.stdout)
        sys.exit("[perfbench] build failed")
    os.makedirs(os.path.dirname(cache), exist_ok=True)
    with open(cache, "w") as f:
        f.write(f"{stamp}\n{cps[-1].strip()}\n")
    return cps[-1].strip()


def java(classpath, main, args, work, timeout):
    cmd = (["java", "-Xms2g", "-Xmx2g", "-XX:+UseG1GC",
            f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
            "-Dspark.sql.session.timeZone=UTC"] +
           [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] +
           ["-cp", classpath, main] + args)
    os.makedirs(f"{work}/tmp", exist_ok=True)
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr,
                            stdin=subprocess.DEVNULL)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        sys.exit(f"[perfbench] {main} exceeded {timeout:.0f} s")


def metric_units(root):
    """{"end_to_end": {name: unit}, "per_layer": {name: unit}} from the
    root's BENCHMARK.json, the one list of the metrics a run reports."""
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        b = json.load(f)
    return {kind: {m["name"]: m["unit"] for m in b[kind]}
            for kind in ("end_to_end", "per_layer")}


def run(a, root):
    units = metric_units(root)
    classpath = build(root)
    t_start = time.time()
    work = os.path.join(root, ".bench_build", f"work-{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        # Table generation is part of set-up; like the JVM-side staging it
        # is repeated and its median kept.
        tables_dir = os.path.join(work, "tables")
        gens = [0.0]
        if a.workload in ("curation", "streaming"):
            gens = []
            for _ in range(3):
                t0 = time.time()
                tables.write(a.seed, TABLE_SCALE, tables_dir)
                gens.append(time.time() - t0)
        gen_s = statistics.median(gens)
        out = os.path.join(work, "result.json")
        launch_ms = time.time() * 1000
        code = java(classpath, "perfbench.Main",
                    ["--workload", a.workload, "--seed", str(a.seed),
                     "--seconds", str(a.seconds), "--trace", str(a.trace),
                     "--work", work, "--tables", tables_dir, "--out", out,
                     "--cores", str(cores())],
                    work, RUN_LIMIT_S - (time.time() - t_start))
        if code != 0 or not os.path.exists(out):
            sys.exit(f"[perfbench] benchmark JVM exited with {code}")
        with open(out) as f:
            r = json.load(f)
        t_oracle = time.time()
        log(f"JVM ran {(t_oracle - launch_ms / 1000):.1f} s")
        bad = oracle.check(tables_dir, os.path.join(work, "results"),
                           r["oracle"], cores())
        log(f"oracle check {time.time() - t_oracle:.1f} s")
        for name, why in sorted(bad.items()):
            log(f"oracle mismatch: {name}: {why}")
        for note in r["notes"]:
            log(f"check: {note}")
        ops = r["ops"]
        failed = [o for o in ops if o["error"] or o["mismatch"] or o["name"] in bad]
        passes = r["pass_s"]
        k = r["measured_passes"]
        warm = [o["s"] for o in ops if 1 <= o["pass"] <= k]
        pass_s = statistics.median(passes[1:1 + k])
        log(f"{len(passes)} passes, {len(ops)} ops ({len(warm)} warm), "
            f"timed {r['timed_s']:.1f} s, passes "
            + " ".join(f"{x:.2f}" for x in passes))
        for name in dict.fromkeys(o["name"] for o in ops):
            cold = sum(o["s"] for o in ops if o["name"] == name and o["pass"] == 0)
            hot = [o["s"] for o in ops if o["name"] == name and o["pass"] > 0]
            log(f"  {name:28s} first pass {cold:7.3f} s, warm median "
                f"{statistics.median(hot) if hot else 0:7.3f} s")
        if a.trace:
            layers = dict(r["layers"], **{
                "trace.pass_s": pass_s, "trace.first_pass_s": passes[0],
                "trace.op_p50_ms": statistics.median(warm) * 1000})
            metrics = {k: {"value": layers.get(k, 0.0), "unit": u}
                       for k, u in units["per_layer"].items()}
        else:
            values = {
                "setup_s": gen_s + (r["session_ready_ms"] - launch_ms) / 1000
                + statistics.median(r["staging_s"]),
                "peak_rss_mb": r["peak_rss_mb"],
                "pass_s": pass_s,
            }
            metrics = {k: {"value": values[k], "unit": u}
                       for k, u in units["end_to_end"].items()}
        return {"correct": not bad and not r["notes"],
                "attempted": len(ops), "failed": len(failed),
                "metrics": metrics}
    finally:
        shutil.rmtree(work, ignore_errors=True)


def selftest(root):
    """Generators are deterministic, and generated pages parse to exactly
    the generator's triples."""
    classpath = build(root)
    work = os.path.join(root, ".bench_build", f"selftest-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        def digest(seed, name):
            d = os.path.join(work, name)
            tables.write(seed, TABLE_SCALE, d)
            h = hashlib.sha256()
            for f in sorted(os.listdir(d)):
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(fh.read())
            return h.hexdigest()
        first = digest(7, "a")
        ok = first == digest(7, "b") and first != digest(8, "c")
        log(f"tables: same seed, same bytes: {'ok' if ok else 'FAIL'}")
        code = java(classpath, "perfbench.SelfTest", [], work, RUN_LIMIT_S)
        return 0 if ok and code == 0 else 1
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--selftest", action="store_true")
    a = p.parse_args()
    root = os.getcwd()
    if a.selftest:
        sys.exit(selftest(root))
    if not a.workload:
        p.error("--workload is required")
    result = run(a, root)
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
