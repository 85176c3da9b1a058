#!/usr/bin/env python3
"""Smoke test of the benchmark itself, at toy size (a few minutes):

- every workload, untraced and traced, passes its output check and emits
  every metric that BENCHMARK.json names, with the unit it names;
- a deliberately wrong expected state makes the output check fail;
- run from a directory that holds only the benchmark, it fails cleanly.

    python3 perfbench/smoke.py
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import metrics  # noqa: E402
import run  # noqa: E402


def bench(*args: str, cwd: str = ROOT) -> tuple[int, list[str]]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", *args, "--scale", "toy",
         "--seconds", "3"], cwd=cwd, stdout=subprocess.PIPE,
        stderr=subprocess.DEVNULL, text=True, timeout=600)
    return proc.returncode, proc.stdout.strip().splitlines()


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    declared = {
        0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
        1: {m["name"]: m["unit"] for m in spec["per_layer"]},
    }
    assert declared[0] == metrics.END_TO_END, "end_to_end drifted from code"
    assert declared[1] == metrics.PER_LAYER, "per_layer drifted from code"
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS)

    for w in run.WORKLOADS:
        for trace in (0, 1):
            code, lines = bench("--workload", w, "--seed", "7",
                                "--trace", str(trace))
            assert code == 0 and lines, f"{w} trace={trace}: exit {code}"
            res = json.loads(lines[-1])
            assert set(res) == {"correct", "attempted", "failed", "metrics"}
            assert res["correct"] is True and res["failed"] == 0, res
            assert res["attempted"] >= 1
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            assert got == declared[trace], f"{w} trace={trace}: {got}"
            print(f"ok   {w} trace={trace}", flush=True)

    code, lines = bench("--workload", "default", "--seed", "7",
                        "--corrupt-expected")
    res = json.loads(lines[-1])
    assert code != 0 and res["correct"] is False, "wrong state not detected"
    assert res["failed"] == res["attempted"]
    print("ok   a wrong expected state fails the check", flush=True)

    bare = os.path.join(ROOT, ".perfbench_work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        code, lines = bench("--workload", "default", "--seed", "7", cwd=bare)
        assert code != 0 and not lines, "ran without the package"
    finally:
        shutil.rmtree(bare)
        try:
            os.rmdir(os.path.dirname(bare))
        except OSError:
            pass  # a run is using it
    print("ok   without the package the benchmark fails cleanly", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
