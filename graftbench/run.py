#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 graftbench/run.py --workload pipeline|serve_write \
        --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds the harness (the
engine's sources plus graftbench/harness) with sbt; later runs reuse the
build while no source changed. The last line of standard output is one
JSON object: {"correct", "attempted", "failed", "metrics"}; with --trace 0
the metrics are BENCHMARK.json's end_to_end metrics, with --trace 1 its
per_layer metrics. Everything the run writes stays under .graftbench/ in
the repository root. See graftbench/README.md.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
HARNESS = BENCH / "harness"
WORK = ROOT / ".graftbench"
ENGINE_SOURCES = ROOT / "src" / "main" / "scala"
CLASSES = HARNESS / "target" / "scala-2.13" / "classes"
WORKLOADS = ("pipeline", "serve_write")

# a run must end within 180 s; the first one may also build
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 800

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(1)


def sources():
    files = [HARNESS / "build.sbt", HARNESS / "project" / "build.properties"]
    for d in (ENGINE_SOURCES, HARNESS / "src" / "main"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    return files


def build():
    """Compile the harness unless the classes match the current sources;
    True when it compiled."""
    digest = hashlib.sha256()
    for f in sources():
        digest.update(str(f.relative_to(ROOT)).encode())
        digest.update(f.read_bytes())
    stamp = WORK / "build.stamp"
    if CLASSES.is_dir() and stamp.is_file() and stamp.read_text() == digest.hexdigest():
        return False
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = Path.home() / ".sbt" / "repositories"
    if "SBT_OPTS" not in env and repos.is_file():
        env["SBT_OPTS"] = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx3g")
    log = WORK / "build.log"
    with open(log, "w") as out:
        try:
            rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                                cwd=HARNESS, env=env, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, timeout=BUILD_LIMIT_S).returncode
        except subprocess.TimeoutExpired:
            fail(f"build timed out after {BUILD_LIMIT_S} s (log: {log})")
    if rc != 0:
        sys.stderr.write(log.read_text()[-3000:])
        fail(f"build failed (log: {log})")
    stamp.write_text(digest.hexdigest())
    return True


def calibrate():
    """host.calib_ms: a fixed single-thread compute loop, best of three.
    A diagnostic of host speed only; it never changes a measurement."""
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        acc = 0
        for i in range(1_000_000):
            acc = (acc * 31 + i) % 1_000_003
        best = min(best, (time.perf_counter() - t0) * 1000)
    return best


def run_jvm(args, deadline):
    run_dir = WORK / "run"
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home:
        fail("SPARK_HOME must name the Spark distribution")
    java = str(Path(os.environ["JAVA_HOME"]) / "bin" / "java") if os.environ.get("JAVA_HOME") else "java"
    cmd = [java]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Xmx3g", "-Duser.timezone=UTC", f"-Djava.io.tmpdir={run_dir / 'tmp'}",
            "-cp", f"{CLASSES}{os.pathsep}{Path(spark_home) / 'jars' / '*'}",
            "graftbench.Main", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace), "--work", str(run_dir)]
    env = dict(os.environ)
    env.pop("SPARK_LOCAL_DIRS", None)  # scratch space stays in the work directory
    log = WORK / "run.log"
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, stderr=err,
                                stdin=subprocess.DEVNULL, text=True, start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"run did not finish in time (log: {log})")
    if proc.returncode != 0:
        sys.stderr.write(log.read_text()[-3000:])
        fail(f"harness exited with {proc.returncode} (log: {log})")
    lines = [l for l in out.splitlines() if l.startswith("GRAFTBENCH_RESULT ")]
    if not lines:
        fail(f"harness printed no result (log: {log})")
    return json.loads(lines[-1].split(" ", 1)[1])


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()
    if not (ENGINE_SOURCES / "graft").is_dir():
        fail(f"no engine sources under {ENGINE_SOURCES}: run from a full checkout")
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    WORK.mkdir(exist_ok=True)

    start = time.monotonic()
    if build():
        start = time.monotonic()
    calib_ms = calibrate()
    result = run_jvm(args, start + RUN_LIMIT_S)

    metrics = result["metrics"]
    if args.trace:
        metrics["host.calib_ms"] = {"value": calib_ms, "unit": "ms"}
    expected = {m["name"]: m["unit"] for m in spec["per_layer" if args.trace else "end_to_end"]}
    got = {k: v["unit"] for k, v in metrics.items()}
    if got != expected:
        fail(f"metrics do not match BENCHMARK.json: missing {sorted(set(expected) - set(got))}, "
             f"unexpected {sorted(set(got) - set(expected))}, "
             f"units {[k for k in expected if k in got and got[k] != expected[k]]}")
    out = {k: result[k] for k in ("correct", "attempted", "failed", "metrics")}
    # host diagnostics beside every run, never applied to a measurement
    diag = dict(result["diagnostics"], workload=args.workload, seed=args.seed, trace=args.trace,
                ok_ratio=(result["attempted"] - result["failed"]) / result["attempted"])
    diag["host.calib_ms"] = calib_ms
    with open(WORK / "runs.jsonl", "a") as f:
        f.write(json.dumps(dict(diag, result=out)) + "\n")
    print("graftbench: " + " ".join(f"{k}={v:.4g}" if isinstance(v, float) else f"{k}={v}"
                                    for k, v in diag.items()))
    print(json.dumps(out))


if __name__ == "__main__":
    main()
