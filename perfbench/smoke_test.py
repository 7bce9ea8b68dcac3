#!/usr/bin/env python3
"""Smoke test of the benchmark harness, in the tiny configuration.

    python3 perfbench/smoke_test.py

For every workload, runs run.py untraced and traced at --scale tiny and
asserts that every metric BENCHMARK.json names is printed with its unit,
that all output checks pass and that the traced run wrote its span file,
with Spark jobs attached to the layer calls that caused them. Then runs the
held-out-seed load-shape check, and checks that the benchmark refuses to run
(non-zero exit, no result line) in a directory that holds only
BENCHMARK.json and the benchmark's own files. Exits non-zero on the first
failure.
"""
import json
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
SEED = 1


def run(*args, cwd=ROOT, runner=BENCH / "run.py"):
    p = subprocess.run([sys.executable, str(runner), *args], cwd=cwd,
                       stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=900)
    return p.returncode, p.stdout.strip().splitlines()


def check(ok, msg):
    if not ok:
        print(f"FAIL: {msg}")
        sys.exit(1)


def main():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    expected = {0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
                1: {m["name"]: m["unit"] for m in spec["per_layer"]}}
    for w in (x["name"] for x in spec["workloads"]):
        for trace in (0, 1):
            code, out = run("--workload", w, "--seed", str(SEED), "--seconds", "2",
                            "--trace", str(trace), "--scale", "tiny")
            check(code == 0 and out, f"{w} trace={trace} exited {code}")
            res = json.loads(out[-1])
            check(set(res) == {"correct", "attempted", "failed", "metrics"}, f"{w}: keys {set(res)}")
            check(res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1,
                  f"{w} trace={trace}: output checks failed: {out[-6:]}")
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            check(got == expected[trace], f"{w} trace={trace}: metrics/units {got}")
            check(all(isinstance(v["value"], (int, float)) for v in res["metrics"].values()),
                  f"{w} trace={trace}: non-numeric metric")
            if trace:
                spans_file = ROOT / ".bench_build" / "run" / "trace" / f"{w}-seed{SEED}.spans.jsonl"
                spans = [json.loads(l) for l in spans_file.read_text().splitlines()]
                layers = {s["id"] for s in spans if s["kind"] == "layer"}
                jobs = [s for s in spans if s["kind"] == "job"]
                check(jobs and all(j["parent"] in layers for j in jobs),
                      f"{w}: Spark jobs not attached to layer spans in {spans_file}")
                check(any(s["kind"] == "task" for s in spans), f"{w}: no task spans")
            print(f"ok {w} trace={trace}: {res['attempted']} passes")

    code, out = run("--workload", "shape", "--seed", str(SEED), "--seconds", "1", "--trace", "0")
    check(code == 0, f"held-out-seed load shape differs: {out}")
    print("ok load shape:", " ".join(out))

    bare = ROOT / ".bench_build" / "smoke_bare"
    shutil.rmtree(bare, ignore_errors=True)
    bare.mkdir(parents=True)
    shutil.copy(ROOT / "BENCHMARK.json", bare)
    shutil.copytree(BENCH, bare / BENCH.name,
                    ignore=shutil.ignore_patterns("target", "project/target", "__pycache__"))
    code, out = run("--workload", "extract_mem", "--seed", "1", "--seconds", "1", "--trace", "0",
                    cwd=bare, runner=bare / BENCH.name / "run.py")
    shutil.rmtree(bare)
    check(code != 0 and not any(l.startswith("{") for l in out),
          f"bare directory: exit {code}, output {out}")
    print("ok bare directory refused")


if __name__ == "__main__":
    main()
