#!/usr/bin/env python3
"""Self-test of the benchmark at the tiny input size.

    python3 perfbench/selftest.py

For every workload in BENCHMARK.json it asserts that

- a run whose first warm output is deliberately damaged (``--corrupt``)
  prints every end-to-end metric with its unit, counts the damaged
  iteration as a failed op and reports ``correct: false``;
- a traced run prints every per-layer metric with its unit, fails no op,
  and its per-layer counts repeat across its traced iterations;

and that the benchmark exits non-zero, printing no result, from a directory
that holds only BENCHMARK.json and the benchmark's own files.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _run(cwd: str, workload: str, *extra: str) -> tuple[int, list[str]]:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--size", "tiny", *extra],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )
    return p.returncode, p.stdout.strip().splitlines()


def _metrics_match(result: dict, declared: list[dict]) -> None:
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    want = {m["name"]: m["unit"] for m in declared}
    assert got == want, f"metrics/units differ: {set(got.items()) ^ set(want.items())}"
    for k, v in result["metrics"].items():
        assert isinstance(v["value"], (int, float)), k


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for wl in (w["name"] for w in spec["workloads"]):
        code, out = _run(ROOT, wl, "--trace", "0", "--corrupt")
        assert code == 0, f"{wl}: exit {code}"
        res = json.loads(out[-1])
        _metrics_match(res, spec["end_to_end"])
        assert res["failed"] >= 1 and res["correct"] is False, f"{wl}: corruption not counted: {res}"
        print(f"{wl}: corrupted output counted ({res['failed']} of {res['attempted']} ops failed)")

        code, out = _run(ROOT, wl, "--trace", "1")
        assert code == 0, f"{wl}: exit {code}"
        res = json.loads(out[-1])
        _metrics_match(res, spec["per_layer"])
        detail = json.loads(out[-2][len("# detail "):])
        assert res["failed"] == 0 and res["correct"] is True, f"{wl}: {detail['failures']}"
        assert detail["counts_repeat"], f"{wl}: per-layer counts differ between iterations"
        print(f"{wl}: {len(res['metrics'])} per-layer metrics, all ops correct")

    bare = os.path.join(ROOT, ".bench_work", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    for path in spec["paths"]:
        shutil.copytree(os.path.join(ROOT, path), os.path.join(bare, path),
                        ignore=shutil.ignore_patterns("__pycache__"))
    code, out = _run(bare, spec["workloads"][0]["name"], "--trace", "0")
    shutil.rmtree(bare, ignore_errors=True)
    assert code != 0 and not any(line.startswith("{") for line in out), (code, out)
    print(f"without the program: exit {code}, no result printed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
