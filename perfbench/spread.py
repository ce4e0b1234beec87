"""Run a workload once per seed and report, per end-to-end metric, the
quartiles of the per-run values and their spread (Q3 - Q1) / median.

    python3 perfbench/spread.py --workload stream_churn --seeds 1-10

Run from the repo root. Prints one line per run, then one JSON line.
Stops at the first run that fails, fails its checks, or leaves a
process behind (any process of this session started during the run
and still there when it has exited).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def pids() -> set[int]:
    """Processes of this session (a run's orphans keep its session)."""
    sid, out = os.getsid(0), set()
    for p in os.listdir("/proc"):
        try:
            with open(f"/proc/{p}/stat") as f:
                if int(f.read().rsplit(")", 1)[1].split()[3]) == sid:
                    out.add(int(p))
        except (OSError, ValueError, IndexError):
            continue
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="first-last")
    args = ap.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    lo, hi = (int(x) for x in args.seeds.split("-"))
    values: dict[str, list[float]] = {}
    shares, walls = set(), []
    for seed in range(lo, hi + 1):
        before = pids()
        t0 = time.perf_counter()
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload",
             args.workload, "--seed", str(seed), "--seconds",
             str(bench["run_seconds"]), "--trace", "0"],
            capture_output=True, text=True, timeout=180)
        walls.append(time.perf_counter() - t0)
        left = pids() - before
        if left:
            sys.exit(f"seed {seed}: processes left running: {sorted(left)}")
        if out.returncode:
            sys.exit(f"seed {seed}: exit {out.returncode}\n"
                     + out.stderr[-2000:])
        res = json.loads(out.stdout.strip().splitlines()[-1])
        print(f"seed {seed} wall {walls[-1]:.1f}s {json.dumps(res)}",
              flush=True)
        if not res["correct"]:
            sys.exit(f"seed {seed}: checks failed\n{out.stdout[-3000:]}")
        shares.add(res["failed"] / res["attempted"])
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    report = {"workload": args.workload, "seeds": args.seeds,
              "wall_s_median": statistics.median(walls),
              "failed_shares": sorted(shares), "metrics": {}}
    for m in bench["end_to_end"]:
        v = values[m["name"]]
        q1, q2, q3 = statistics.quantiles(v, n=4)
        report["metrics"][m["name"]] = {
            "q1": q1, "median": q2, "q3": q3,
            "spread": (q3 - q1) / q2, "bound": m["bound"]}
    print(json.dumps(report))


if __name__ == "__main__":
    main()
