"""Smoke test of the benchmark itself, at a tiny input size.

    python3 perfbench/smoke.py [workload ...]

For each workload (default: all) it runs one traced run and one
untraced run whose read results are corrupted before checking, and
asserts that

- every end-to-end and per-layer metric is printed by name with its
  unit, and the final JSON line carries the ones ``BENCHMARK.json``
  declares with the declared units;
- the clean run reports ``correct: true`` with no failed ops;
- the corrupted run is caught: ``correct: false`` and a failed op.

Takes a few minutes; exits non-zero on the first failed assertion.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402
import workloads  # noqa: E402


def _run(workload: str, *flags: str) -> tuple[dict, str]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"),
           "--workload", workload, "--seed", "7", "--seconds", "1",
           "--size", "tiny", *flags]
    p = subprocess.run(cmd, cwd=run.CHECKOUT, capture_output=True,
                       text=True, timeout=600)
    assert p.returncode == 0, f"{cmd} exited {p.returncode}:\n{p.stderr}"
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-1]), p.stdout


def _assert_printed(workload: str, out: str, units: dict) -> None:
    for name, unit in units.items():
        pat = rf"^{workload} {re.escape(name)} = \S+ {re.escape(unit)} \(n="
        assert re.search(pat, out, re.M), f"{workload}: {name} not printed"


def _assert_json(workload: str, res: dict, section: str) -> None:
    with open(os.path.join(run.CHECKOUT, "BENCHMARK.json")) as fh:
        declared = {m["name"]: m["unit"] for m in json.load(fh)[section]}
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    assert got == declared, f"{workload} {section}: {got} != {declared}"
    for k, v in res["metrics"].items():
        assert isinstance(v["value"], (int, float)), f"{workload} {k}"


def smoke(workload: str) -> None:
    res, out = _run(workload, "--trace", "1")
    _assert_printed(workload, out, run.E2E_UNITS)
    _assert_printed(workload, out, run.LAYER_UNITS)
    _assert_json(workload, res, "per_layer")
    assert res["correct"] and res["failed"] == 0, f"{workload}: {res}"

    res, out = _run(workload, "--trace", "0", "--corrupt")
    _assert_json(workload, res, "end_to_end")
    assert not res["correct"] and res["failed"] > 0, (
        f"{workload}: corrupted results were not caught: {res}")
    print(f"smoke {workload}: ok")


if __name__ == "__main__":
    for name in sys.argv[1:] or sorted(workloads.WORKLOADS):
        smoke(name)
