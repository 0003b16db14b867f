#!/usr/bin/env python3
"""Fast self-test of the benchmark, run from the repository root:

    python3 perfbench/selftest.py

Runs every workload at the self-test size (`--size tiny`: a few hundred
entities and a few steps for `ecs_sim`, two `sources` and two
`operators` queries for `curation` on the smallest corpus), untraced
and traced, and asserts that the result line names every metric of
BENCHMARK.json with its unit, that `error_rate` is 0, and that the
benchmark refuses to run, printing no result, in a directory holding
only BENCHMARK.json and perfbench/.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STATE = os.path.join(ROOT, "perfbench", ".state")


def run(workload: str, trace: int, cwd: str = ROOT) -> subprocess.CompletedProcess:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", str(trace), "--size", "tiny"]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=900)


def check_result(spec: dict, workload: str, trace: int) -> None:
    proc = run(workload, trace)
    if proc.returncode != 0:
        raise AssertionError(f"{workload} trace={trace} exited {proc.returncode}:\n{proc.stderr[-3000:]}")
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result.keys()
    assert result["correct"] is True and result["failed"] == 0, result
    assert isinstance(result["attempted"], int) and result["attempted"] >= 1, result
    want = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    got = {name: m["unit"] for name, m in result["metrics"].items()}
    assert got == want, f"{workload} trace={trace}: metrics differ: {set(got) ^ set(want)} or units"
    for name, m in result["metrics"].items():
        assert isinstance(m["value"], (int, float)), (name, m)
        if not trace:
            assert m["value"] > 0, (workload, name, m)
    if trace:
        assert result["metrics"]["error_rate"]["value"] == 0, result["metrics"]["error_rate"]
    print(f"ok {workload} trace={trace}: {result['attempted']} operations", flush=True)


def check_refuses_without_program() -> None:
    os.makedirs(os.path.join(STATE, "tmp"), exist_ok=True)
    bare = tempfile.mkdtemp(dir=os.path.join(STATE, "tmp"))
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(os.path.join(ROOT, "perfbench"), os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns(".state", "__pycache__"))
        proc = run("ecs_sim", 0, cwd=bare)
        assert proc.returncode != 0, "ran without the program"
        assert '"metrics"' not in proc.stdout, "printed a result without the program"
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    print("ok refuses to run without the program", flush=True)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    check_refuses_without_program()
    for workload in [w["name"] for w in spec["workloads"]]:
        for trace in (0, 1):
            check_result(spec, workload, trace)
    return 0


if __name__ == "__main__":
    sys.exit(main())
