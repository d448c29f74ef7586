"""Tiny-size smoke test of the benchmark.

    python3 perfbench/smoke.py

From the repository root, runs every workload in ``BENCHMARK.json`` at
``--size tiny`` with ``--trace 0`` and ``--trace 1`` and asserts that

- the last stdout line has exactly ``correct/attempted/failed/metrics``;
- every metric ``BENCHMARK.json`` names (end-to-end untraced, per-layer
  traced) is printed, with its unit, and nothing else;
- output checks ran (``attempted`` > 0) and all passed;
- the record line before it carries the environment and tail detail.

It also runs the benchmark in a directory holding only ``BENCHMARK.json``
and ``perfbench/``, where it must fail without printing a result.
Exits non-zero on the first failed assertion.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def _run(cwd, workload, trace, seconds=4):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
           "--seconds", str(seconds), "--trace", str(trace), "--size", "tiny"]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


def main() -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    for w in (w["name"] for w in spec["workloads"]):
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            p = _run(ROOT, w, trace)
            assert p.returncode == 0, f"{w} trace={trace} exited {p.returncode}:\n{p.stderr[-3000:]}"
            lines = p.stdout.strip().splitlines()
            result, record = json.loads(lines[-1]), json.loads(lines[-2])
            assert set(result) == {"correct", "attempted", "failed", "metrics"}, result.keys()
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            assert got == want, f"{w} trace={trace}: metrics differ: {set(got) ^ set(want)}"
            assert all(isinstance(v["value"], (int, float)) for v in result["metrics"].values())
            assert result["attempted"] > 0 and result["failed"] == 0 and result["correct"], (
                f"{w} trace={trace}: checks failed: {record.get('failed_checks')} "
                f"{record.get('failed_ops')}"
            )
            assert record["environment"]["nproc"] and record["environment"]["master"]
            if trace:
                assert record["environment"]["calibration_seconds"] is not None
            else:
                assert {"read", "write"} <= set(record["detail"]["tails"])
            print(f"ok {w} trace={trace}: {len(got)} metrics, {result['attempted']} checks")

    bare = ROOT / ".perfbench_work" / "bare"
    shutil.rmtree(bare, ignore_errors=True)
    bare.mkdir(parents=True)
    shutil.copy(ROOT / "BENCHMARK.json", bare)
    shutil.copytree(ROOT / "perfbench", bare / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(bare, spec["workloads"][0]["name"], 0)
    shutil.rmtree(bare, ignore_errors=True)
    assert p.returncode != 0 and '"metrics"' not in p.stdout, "bare directory run must fail"
    print("ok bare directory run fails without a result")
    return 0


if __name__ == "__main__":
    os.chdir(ROOT)
    sys.exit(main())
