#!/usr/bin/env python3
"""Self-test of the extraction benchmark at tiny sizes.

    python3 extractbench/selftest.py

For every workload, untraced and traced, it runs the benchmark at the tiny
scale and asserts that every metric BENCHMARK.json names is printed with its
unit, that every run passed its correctness check, and that every span of
the traced run has a self time of at least 0. It also asserts that the
benchmark refuses to run, without printing a result, in a directory that
holds only BENCHMARK.json and the benchmark's own files. Takes a few
minutes; the first call also builds the program.
"""
import json
import shutil
import subprocess
import sys
import tempfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SEED = 7


def run(workload, trace, cwd=ROOT, runner=HERE / "run.py"):
    cmd = [sys.executable, str(runner), "--workload", workload, "--seed", str(SEED),
           "--seconds", "1", "--trace", str(trace), "--scale", "tiny"]
    return subprocess.run(cmd, cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                          text=True, timeout=900)


def check_result(done, expected, label):
    assert done.returncode == 0, f"{label}: exit {done.returncode}\n{done.stderr[-3000:]}"
    result = json.loads(done.stdout.strip().splitlines()[-1])
    assert sorted(result) == ["attempted", "correct", "failed", "metrics"], label
    assert result["correct"] is True and result["failed"] == 0, f"{label}: {result}"
    assert result["attempted"] >= 1, label
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == expected, f"{label}: metrics {sorted(got)} != {sorted(expected)}"
    for name, m in result["metrics"].items():
        assert isinstance(m["value"], (int, float)), f"{label}: {name} = {m}"


def check_spans(workload):
    trace = ROOT / ".bench_build" / "extractbench" / "traces" / f"{workload}-tiny-seed{SEED}.json"
    spans = json.loads(trace.read_text())["spans"]
    assert spans, f"{workload}: no spans"
    for s in spans:
        assert {"id", "name", "parent", "run", "start_s", "end_s", "self_s", "counts"} <= set(s)
        assert s["self_s"] >= 0, f"{workload}: span {s['name']} self time {s['self_s']}"
    names = {s["name"] for s in spans}
    for layer in ("resume", "commit.spans", "commit.stats", "log.snapshots", "readat",
                  "scan", "decode", "parse", "merge", "sheet.corpus", "sheet.pivot"):
        assert layer in names, f"{workload}: no {layer} span"


def check_refuses_outside_checkout():
    with tempfile.TemporaryDirectory(dir=ROOT / ".bench_build") as d:
        shutil.copy(ROOT / "BENCHMARK.json", d)
        shutil.copytree(HERE, Path(d) / HERE.name,
                        ignore=shutil.ignore_patterns("target"))
        done = run("fresh", 0, cwd=d, runner=Path(d) / HERE.name / "run.py")
        assert done.returncode != 0, "ran without the program's sources"
        assert done.stdout.strip() == "", f"printed a result: {done.stdout}"


def main():
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    end_to_end = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    per_layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    (ROOT / ".bench_build").mkdir(exist_ok=True)
    check_refuses_outside_checkout()
    for w in (w["name"] for w in bench["workloads"]):
        check_result(run(w, 0), end_to_end, f"{w} untraced")
        check_result(run(w, 1), per_layer, f"{w} traced")
        check_spans(w)
        print(f"selftest: {w} ok", flush=True)
    print("selftest: ok")


if __name__ == "__main__":
    main()
