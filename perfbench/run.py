#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout of the repository. The first run builds
the repository and the benchmark from source with sbt, into `.bench_build/`
(or `$CARGO_TARGET_DIR`); later runs reuse that build until a source file
changes. Each run then starts one JVM at `local[nproc]`, which prints a
`{"detail": ...}` line with the workload's own named figures and the result
line `{"correct", "attempted", "failed", "metrics"}`. This script checks the
result against BENCHMARK.json before printing it. Everything the run writes
stays under the build directory, and the run's scratch lake is removed.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH = ROOT / "perfbench"
JAVA_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# Spark on JDK 17 outside spark-submit needs these (the root build's list).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(code, msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_fingerprint():
    """Hash of every file the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", BENCH / "build.sbt"]
    for d in (ROOT / "project", BENCH / "project"):
        files += [p for p in d.glob("*") if p.is_file()]
    for d in (ROOT / "src" / "main", BENCH / "src" / "main"):
        files += [p for p in d.rglob("*") if p.is_file()]
    for p in sorted(files):
        if p.exists():
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def build(build_dir):
    """Compile with sbt once per source tree; return the runtime classpath."""
    stamp = build_dir / "classpath.json"
    fp = source_fingerprint()
    if stamp.exists():
        cached = json.loads(stamp.read_text())
        if cached.get("fingerprint") == fp:
            return cached["classpath"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    sbt_tmp = build_dir / "tmp" / "sbt"
    sbt_tmp.mkdir(parents=True, exist_ok=True)
    log = build_dir / "build.log"
    with open(log, "w") as out:
        try:
            r = subprocess.run(
                ["sbt", "--batch", "--no-server", "-Dsbt.log.noformat=true", f"-Djava.io.tmpdir={sbt_tmp}",
                 "export Runtime/fullClasspath"],
                cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=out, text=True, timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(2, f"build timed out; see {log}")
    out_lines = [l.strip() for l in r.stdout.splitlines() if l.strip()]
    with open(log, "a") as out:
        out.write(r.stdout)
    if r.returncode != 0 or not out_lines or ".jar" not in out_lines[-1]:
        fail(2, f"build failed (exit {r.returncode}); see {log}")
    cp = out_lines[-1]
    stamp.write_text(json.dumps({"fingerprint": fp, "classpath": cp}))
    return cp


def expected_metrics(trace):
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    a = ap.parse_args()

    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        fail(2, f"no repository sources at {ROOT}: run from a full checkout")
    if not (ROOT / "BENCHMARK.json").is_file():
        fail(2, "BENCHMARK.json is missing")

    build_dir = (ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")).resolve()
    build_dir.mkdir(parents=True, exist_ok=True)
    classpath = build(build_dir)

    tmp = build_dir / "tmp"
    work = build_dir / "work" / f"{a.workload}-{a.seed}-{os.getpid()}"
    for d in (tmp / "java", tmp / "spark", work):
        d.mkdir(parents=True, exist_ok=True)
    cmd = (["java"] + [f"--add-opens={m}=ALL-UNNAMED" for m in ADD_OPENS] + [
        "-Xmx3g",
        "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={tmp / 'java'}",
        f"-Dspark.local.dir={tmp / 'spark'}",
        f"-Dspark.hadoop.hadoop.tmp.dir={tmp / 'hadoop'}",
        f"-Dspark.sql.warehouse.dir={tmp / 'warehouse'}",
        "-Dspark.ui.enabled=false",
        "-cp", classpath, "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", a.trace,
        "--data", str(BENCH / "data" / "sf0.01"), "--work", str(work),
    ])
    log = build_dir / "logs" / f"{a.workload}-{a.seed}-t{a.trace}.log"
    log.parent.mkdir(exist_ok=True)
    t0 = time.monotonic()
    with open(log, "w") as err:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=err, text=True)
        try:
            stdout, _ = p.communicate(timeout=JAVA_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            shutil.rmtree(work, ignore_errors=True)
            fail(3, f"run exceeded {JAVA_TIMEOUT_S} s; see {log}")
    shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines:
        fail(3, f"run failed (exit {p.returncode}); see {log}")
    try:
        result = json.loads(lines[-1])
    except json.JSONDecodeError:
        fail(4, f"last line is not JSON; see {log}")
    want = expected_metrics(a.trace == "1")
    got = {k: v.get("unit") for k, v in result.get("metrics", {}).items()}
    if set(result) != {"correct", "attempted", "failed", "metrics"} or got != want:
        fail(4, "result does not match BENCHMARK.json's metric list")
    if any(not isinstance(v.get("value"), (int, float)) for v in result["metrics"].values()):
        fail(4, "a metric has no numeric value")
    for l in lines[:-1]:
        print(l)
    print(f"perfbench: {a.workload} ran {time.monotonic() - t0:.1f} s; log {log}", file=sys.stderr)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
