#!/usr/bin/env python3
"""Self-test of the benchmark: a small-size run of every workload.

    python3 perfbench/selftest.py

For each workload it runs perfbench/run.py at --size smoke untraced and
traced, and asserts that the run is correct, that every metric named in
BENCHMARK.json is printed with its unit, and that the layer table leaves
other.busy_s below the largest named layer. It also asserts that the
benchmark refuses to run, without printing a result, in a directory that
holds only BENCHMARK.json and perfbench/.
"""
import json
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def run(cwd, workload, trace):
    cmd = [*SPEC["command"], "--workload", workload, "--seed", "1", "--seconds", "1",
           "--trace", str(trace)]
    if cwd == ROOT:
        cmd += ["--size", "smoke"]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=900)


def last_json(stdout):
    lines = stdout.strip().splitlines()
    try:
        return json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        return None


def check_result(workload, trace, p):
    res = last_json(p.stdout)
    assert p.returncode == 0 and res, f"{workload} trace={trace}: exit {p.returncode}\n{p.stderr[-2000:]}"
    assert set(res) == {"correct", "attempted", "failed", "metrics"}, res.keys()
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1, res
    want = SPEC["per_layer" if trace else "end_to_end"]
    for m in want:
        got = res["metrics"].get(m["name"])
        assert got is not None, f"{workload}: {m['name']} missing"
        assert got["unit"] == m["unit"], f"{workload}: {m['name']} unit {got['unit']}"
        assert isinstance(got["value"], (int, float)), got
    assert set(res["metrics"]) == {m["name"] for m in want}, "extra metrics printed"
    if trace:
        busy = {k[:-len(".busy_s")]: v["value"] for k, v in res["metrics"].items()
                if k.endswith(".busy_s")}
        other = busy.pop("other")
        assert other < max(busy.values()), f"{workload}: other.busy_s {other} >= {busy}"
    else:
        assert all(v["value"] > 0 for v in res["metrics"].values()), res["metrics"]


def main():
    for w in SPEC["workloads"]:
        for trace in (0, 1):
            check_result(w["name"], trace, run(ROOT, w["name"], trace))
            print(f"ok {w['name']} trace={trace}", flush=True)
    bare = BENCH / ".work" / "bare"
    shutil.rmtree(bare, ignore_errors=True)
    bare.mkdir(parents=True)
    shutil.copy(ROOT / "BENCHMARK.json", bare)
    for rel in SPEC["paths"]:
        shutil.copytree(ROOT / rel, bare / rel, ignore=shutil.ignore_patterns(".work", "target"))
    p = run(bare, SPEC["workloads"][0]["name"], 0)
    assert p.returncode != 0 and last_json(p.stdout) is None, p.stdout
    shutil.rmtree(bare)
    print("ok refuses to run without the program's sources")


if __name__ == "__main__":
    sys.exit(main())
