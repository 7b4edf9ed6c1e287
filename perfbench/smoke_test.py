#!/usr/bin/env python3
"""Toy-size smoke test of the benchmark (about two minutes at local[4]).

    python3 perfbench/smoke_test.py

For each workload, one untraced toy run must report every end-to-end
metric of BENCHMARK.json with its unit and a failed_ops_frac of 0. Then a
traced toy run of replay_bulk whose expected state is deliberately
corrupted must report every per-layer metric and be reported incorrect.
Exits non-zero on the first failed assertion.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def run(workload, trace=0, corrupt=False):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "7",
           "--seconds", "4", "--trace", str(trace), "--toy"] + (["--corrupt-expected"] if corrupt else [])
    r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=300)
    lines = r.stdout.strip().splitlines()
    assert r.returncode == 0 and lines, f"{workload}: exit {r.returncode}\n{r.stderr[-3000:]}"
    validity = json.loads(lines[0])["validity"]
    return json.loads(lines[-1]), validity


def check_metrics(result, names, label):
    for m in SPEC[names]:
        got = result["metrics"].get(m["name"])
        assert got is not None, f"{label}: metric {m['name']} missing"
        assert got["unit"] == m["unit"], f"{label}: metric {m['name']} has unit {got['unit']}"
        assert isinstance(got["value"], (int, float)), f"{label}: metric {m['name']} is not a number"
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, f"{label}: keys {sorted(result)}"


def main():
    for w in [x["name"] for x in SPEC["workloads"]]:
        result, validity = run(w)
        check_metrics(result, "end_to_end", w)
        assert result["correct"] and result["failed"] == 0, f"{w}: {result['failed']} failed operations"
        assert validity["failed_ops_frac"] == 0, f"{w}: failed_ops_frac {validity['failed_ops_frac']}"
        assert all(k in validity for k in ("nproc", "seed", "spin_ms_pre", "spin_ms_post",
                                           "mem_gbs_pre", "mem_gbs_post", "git_sha")), f"{w}: validity {validity}"
        print(f"ok   {w}: {len(result['metrics'])} end-to-end metrics, failed_ops_frac 0")
    result, validity = run("replay_bulk", trace=1, corrupt=True)
    check_metrics(result, "per_layer", "replay_bulk traced")
    print(f"ok   replay_bulk traced: {len(result['metrics'])} per-layer metrics")
    assert not result["correct"] and result["failed"] >= 1, "corrupted expected state was not detected"
    assert validity["failed_ops_frac"] > 0
    print("ok   replay_bulk with a corrupted expected state is reported incorrect")


if __name__ == "__main__":
    main()
