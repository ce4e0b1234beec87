"""Quick self-test of the benchmark on tiny inputs (sf0.001 text plus a
few math docs): both workloads, untraced and traced. Asserts that every
metric named in BENCHMARK.json is printed with its unit, that the
correctness checks ran and passed, and that no operation failed.

    python3 perfbench/quick_check.py        # from the repo root, ~4 min
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def run(workload: str, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload",
         workload, "--seed", "7", "--seconds", "2", "--trace", str(trace),
         "--tiny"], capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    lines = out.stdout.strip().splitlines()
    ops = json.loads(lines[-2].removeprefix("ops "))
    assert ops["check"]["attempted"] > 0, f"{workload}: no checks ran"
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True, out.stdout[-3000:]
    assert result["failed"] == 0 and result["attempted"] >= 1, result
    return result


def main() -> None:
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    for w in [x["name"] for x in bench["workloads"]]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            got = run(w, trace)["metrics"]
            want = {m["name"]: m["unit"] for m in bench[key]}
            assert set(got) == set(want), (w, trace, set(want) ^ set(got))
            for name, unit in want.items():
                assert got[name]["unit"] == unit, (w, name)
                assert isinstance(got[name]["value"], float), (w, name)
            if trace == 0:
                assert all(v["value"] > 0 for v in got.values()), (w, got)
            print(f"ok {w} trace={trace}: {len(got)} metrics")


if __name__ == "__main__":
    main()
