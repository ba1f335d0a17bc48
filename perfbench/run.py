#!/usr/bin/env python3
"""Runs one benchmark workload and prints one JSON result line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine and the
benchmark program (`perfbench/build.sbt`) into `.bench_build/`; later runs reuse the
build while the sources are unchanged. Workloads and metrics are listed in
`BENCHMARK.json`; `perfbench/README.md` says why each exists.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

START_MS = int(time.time() * 1000)
sys.dont_write_bytecode = True
ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("ingest", "query_mix")

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def source_stamp():
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
            os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compiles the engine and the benchmark program; returns the runtime classpath."""
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "-Dsbt.offline=true" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    log = open(os.path.join(BUILD, "build.log"), "w")
    try:
        out = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
            cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=log, text=True, timeout=840)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    log.write(out.stdout)
    log.close()
    lines = [l for l in out.stdout.splitlines() if l.strip() and not l.startswith("[")]
    if out.returncode != 0 or not lines:
        fail(f"build failed, see {log.name}")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:  # last: marks the build complete
        f.write(stamp)
    return lines[-1].strip()


def run_jvm(cp, workload, seed, seconds, trace, work, tables):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:-UsePerfData"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            "-Dspark.ui.enabled=false", "-cp", cp, "perfbench.Main",
            workload, str(seed), str(seconds), str(trace), work, tables, str(START_MS)]
    with open(os.path.join(BUILD, f"{workload}.log"), "w") as log:
        try:
            rc = subprocess.run(cmd, stdout=log, stderr=log, timeout=170 - (time.time() - START_MS / 1000)
                                ).returncode
        except subprocess.TimeoutExpired:
            fail(f"{workload} timed out, see {log.name}")
    result = os.path.join(work, "result.json")
    if rc != 0 or not os.path.exists(result):
        fail(f"{workload} exited with {rc}, see {log.name}")
    with open(result) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")) or not os.path.exists(spec_path):
        fail("run from the root of a repository checkout (engine sources not found)")
    if not os.environ.get("SPARK_HOME"):
        fail("SPARK_HOME must name the Spark distribution to build against")
    spec = json.load(open(spec_path))
    cp = build()

    work = os.path.join(BUILD, "work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        tables = "-"
        if a.workload == "query_mix":
            sys.path.insert(0, BENCH)
            import tables as gen_tables
            tables = gen_tables.ensure(os.path.join(BUILD, "tables"), a.seed)
        res = run_jvm(cp, a.workload, a.seed, a.seconds, a.trace, work, tables)
        errors = list(res["errors"])
        failed = res["failed"]
        if a.workload == "query_mix":
            import oracle
            bad = oracle.check(tables, os.path.join(work, "out"))
            errors += bad
            failed += len(bad)
        names = [m["name"] for m in spec["per_layer" if a.trace else "end_to_end"]]
        unknown = set(res["metrics"]) - {m["name"] for m in spec["end_to_end"] + spec["per_layer"]}
        if unknown:
            fail(f"the JVM reported metrics missing from BENCHMARK.json: {sorted(unknown)}")
        units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
        metrics = {}
        for n in names:
            v = res["metrics"].get(n)
            if v is None and not a.trace:
                fail(f"end-to-end metric {n} was not measured")
            metrics[n] = {"value": 0.0 if v is None else v, "unit": units[n]}
        for e in errors:
            print(f"perfbench: {e}", file=sys.stderr)
        print(json.dumps({"correct": not errors and failed == 0,
                          "attempted": res["attempted"], "failed": failed, "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
