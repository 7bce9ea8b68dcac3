#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload extract_mem --seed 1 --seconds 10 --trace 0

Builds the harness together with the engine sources of the checkout it sits
in (once; rebuilt when any source changes), runs one workload in one JVM on
local[nproc], and prints the result JSON as the last line of stdout. The
harness's own progress lines come first; build and Spark logs go to stderr.
Exits non-zero, without a result line, when the build or any step fails.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
ENGINE_SRC = ROOT / "src" / "main" / "scala"
BUILD = ROOT / ".bench_build"
WORK = BUILD / "run"
WORKLOADS = ("extract_mem", "neardup")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800

# Spark 4 on JDK 17 outside spark-submit (see the engine's build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(submit).resolve().parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        fail("no Spark install found (set SPARK_HOME)")
    return home


def source_hash():
    h = hashlib.sha256()
    files = sorted(p for d in (ENGINE_SRC, BENCH / "src") for p in d.rglob("*.scala"))
    files += [BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build(env):
    """Compile once per source state; returns the runtime classpath."""
    stamp, cp_file = BUILD / "build.stamp", BUILD / "classpath.txt"
    digest = source_hash()
    if stamp.exists() and cp_file.exists() and stamp.read_text() == digest:
        return cp_file.read_text()
    BUILD.mkdir(parents=True, exist_ok=True)
    opts = env.get("SBT_OPTS", "")
    env = dict(env, COURSIER_MODE="offline",
               SBT_OPTS=f"{opts} -Dsbt.override.build.repos=true -Dsbt.offline=true".strip())
    (BUILD / "sbt-tmp").mkdir(exist_ok=True)
    try:
        out = subprocess.run(
            ["sbt", "--batch", "-Dsbt.server.autostart=false",
             f"-Djava.io.tmpdir={BUILD / 'sbt-tmp'}", "-J-XX:-UsePerfData", "compile",
             "export Runtime/fullClasspath"],
            cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
            text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out", 1)
    sys.stderr.write(out.stdout)
    lines = [l for l in out.stdout.splitlines() if ".jar" in l and not l.startswith("[")]
    if out.returncode != 0 or not lines:
        fail("build failed", 1)
    cp_file.write_text(lines[-1].strip())
    stamp.write_text(digest)
    return lines[-1].strip()


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("shape",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--scale", default="full", choices=("full", "tiny"))
    a = ap.parse_args()
    if not (ENGINE_SRC / "graft").is_dir():
        fail(f"engine sources not found under {ENGINE_SRC}; run from a checkout of the repo")

    env = dict(os.environ, SPARK_HOME=spark_home())
    env.pop("SPARK_LOCAL_DIRS", None)  # Spark's local dirs stay inside the checkout
    env.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    env.setdefault("SPARK_LOCAL_HOSTNAME", "localhost")
    classpath = build(env)

    for stale in ("checkpoint", "spark-local", "tmp", "warehouse", "result.json"):
        p = WORK / stale
        if p.is_dir():
            shutil.rmtree(p)
        elif p.exists():
            p.unlink()
    (WORK / "tmp").mkdir(parents=True, exist_ok=True)
    java = str(Path(env["JAVA_HOME"]) / "bin" / "java") if env.get("JAVA_HOME") else "java"
    cmd = [java, "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={WORK / 'tmp'}",
           f"-Dlog4j.configurationFile={BENCH / 'log4j2.properties'}"]
    for pkg in ADD_OPENS:
        cmd += ["--add-opens", f"{pkg}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--scale", a.scale,
            "--work", str(WORK)]
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"{a.workload} did not finish within {RUN_TIMEOUT_S} s", 1)
    sys.stdout.write(out)
    if proc.returncode != 0:
        fail(f"{a.workload} exited with code {proc.returncode}", 1)
    if a.workload == "shape":
        return
    result = WORK / "result.json"
    if not result.exists():
        fail("no result written", 1)
    print(result.read_text().strip(), flush=True)


if __name__ == "__main__":
    main()
