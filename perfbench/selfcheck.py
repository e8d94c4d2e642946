#!/usr/bin/env python3
"""Self-check of the benchmark, at a tiny size. Run from the checkout root:

    python3 perfbench/selfcheck.py

For every workload in BENCHMARK.json it asserts that
  - an untraced run is correct and prints every end-to-end metric with its
    declared unit;
  - a traced run prints every per-layer metric with its unit and writes
    its span file;
  - a run whose expected values are deliberately corrupted fails the
    correctness check.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def run(workload, *extra):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--tiny", *extra]
    p = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, timeout=600)
    assert p.returncode == 0, f"{cmd} exited with {p.returncode}"
    return json.loads(p.stdout.strip().splitlines()[-1])


def assert_metrics(res, declared, what):
    got = res["metrics"]
    assert set(got) == {m["name"] for m in declared}, f"{what}: metric names differ"
    for m in declared:
        v = got[m["name"]]
        assert v["unit"] == m["unit"], f"{what}: {m['name']} unit {v['unit']}"
        assert isinstance(v["value"], (int, float)), f"{what}: {m['name']} not a number"


def main():
    bench = json.load(open("BENCHMARK.json"))
    for w in (x["name"] for x in bench["workloads"]):
        res = run(w, "--trace", "0")
        assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1, res
        assert_metrics(res, bench["end_to_end"], f"{w} untraced")
        assert all(v["value"] > 0 for v in res["metrics"].values()), res

        spans = os.path.join(HERE, ".work", w, "spans.jsonl")
        res = run(w, "--trace", "1")
        assert res["correct"], res
        assert_metrics(res, bench["per_layer"], f"{w} traced")
        assert os.path.getsize(spans) > 0, f"{w}: no spans written"

        res = run(w, "--trace", "0", "--corrupt-expected")
        assert not res["correct"] and res["failed"] >= 1, f"{w}: corruption not detected"
        print(f"selfcheck: {w} ok", file=sys.stderr)
    print("selfcheck: all workloads ok")


if __name__ == "__main__":
    main()
