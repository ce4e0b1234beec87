"""Benchmark entry point: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload query_serving --seed 1 \\
        --seconds 8 --trace 0

Run from the repository root (the directory holding ``mias_spark``).
``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the same
workload with per-layer timers and Spark job records and prints the
per-layer metrics. Everything the run writes goes under ``.bench_work/``
in the current directory, which is removed at the end. See
``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import sys
import time

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def prepare(work: str) -> None:
    """Keep Spark, the JVM and Python temp files inside ``work``; put the
    program on the path of the driver and of Spark's Python workers."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in [os.environ.get("PYTHONPATH")] if p])
    os.environ.setdefault("MIAS_DRIVER_MEM", "4g")
    sys.path[:0] = [ROOT, HERE]


def stop(spark) -> None:
    """Stop Spark, then end the JVM and wait for it."""
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    spark.sparkContext._gateway.shutdown()
    proc.stdin.close()          # the gateway JVM exits on stdin EOF
    try:
        proc.wait(timeout=30)
    except Exception:           # noqa: BLE001 - never leave it running
        proc.kill()
        proc.wait()


def adopt_orphans() -> None:
    """Make this process the reaper of its orphaned descendants (Linux
    ``PR_SET_CHILD_SUBREAPER``): a Spark Python worker or daemon whose
    parent ends is handed to this process, not to init, so that
    ``end_children`` can stop and reap it."""
    ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)


def _children() -> list[int]:
    """Pids of this process's children that have not yet ended."""
    me, out = os.getpid(), []
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as f:
                state, ppid = f.read().rsplit(")", 1)[1].split()[:2]
        except (OSError, ValueError):
            continue
        if int(ppid) == me and state != "Z":
            out.append(int(p))
    return out


def _names(pids: list[int]) -> list[str]:
    out = []
    for pid in pids:
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                out.append(f"{pid}:" + f.read().replace(b"\0", b" ")
                           .decode(errors="replace")[:80])
        except OSError:
            pass
    return out


def end_children(grace: float = 20.0) -> None:
    """Stop every process the run started and wait until each has
    ended: the multiprocessing resource tracker is told to stop, other
    children get SIGTERM, then SIGKILL after ``grace`` seconds; every
    child, orphans adopted on the way included, is reaped."""
    from multiprocessing import resource_tracker
    resource_tracker._resource_tracker._stop()
    deadline = time.monotonic() + grace
    sig, told = signal.SIGTERM, None
    while True:
        while True:                 # reap whatever has ended
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                pid = 0
            if not pid:
                break
        live = _children()
        if not live:
            break
        if time.monotonic() > deadline:
            sig = signal.SIGKILL
        if (sig, live) != told:
            told = (sig, live)
            print(f"perfbench: sending {sig.name} to {_names(live)}",
                  file=sys.stderr)
        for pid in live:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.1)
    while True:                     # last reap, blocking
        try:
            os.waitpid(-1, 0)
        except ChildProcessError:
            break


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["query_serving", "stream_churn"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="tiny inputs, for the quick self-test")
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "mias_spark", "search.py")):
        fail(f"no mias_spark package under {ROOT}; run from the repo root")

    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    prepare(work)
    adopt_orphans()
    import workloads
    from checks import KINDS
    sizes = workloads.Sizes.tiny() if args.tiny else workloads.Sizes()
    try:
        from mias_spark.session import get_spark
        t0 = time.perf_counter()
        spark = get_spark("perfbench", cpus=str(len(os.sched_getaffinity(0))))
        session_s = time.perf_counter() - t0
        spark.sparkContext.setLogLevel("ERROR")
        try:
            from layers import SparkJobs
            ctx = workloads.Ctx(
                spark, session_s, args.seed, args.seconds, work, sizes,
                SparkJobs(spark) if args.trace else None)
            e2e, per_layer = workloads.WORKLOADS[args.workload](ctx)
        finally:
            stop(spark)
    finally:
        end_children()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass

    ops = ctx.ops
    ctx.phases["session"] = round(session_s, 2)
    print("phases " + json.dumps(ctx.phases), file=sys.stderr)
    print("searches " + json.dumps(ctx.searches), file=sys.stderr)
    for p in ops.errors + ops.problems:
        print(f"FAILED: {p}")
    print("ops " + json.dumps(ops.summary()))
    if args.trace:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            units = {m["name"]: m["unit"]
                     for m in json.load(f)["per_layer"]}
        metrics = {k: {"value": float(v), "unit": units[k]}
                   for k, v in sorted(per_layer.items())}
    else:
        metrics = {k: {"value": float(v), "unit": u}
                   for k, (v, u) in e2e.items()}
    print(json.dumps({
        "correct": not ops.problems,
        "attempted": sum(ops.attempted[k] for k in KINDS),
        "failed": sum(ops.failed[k] for k in KINDS),
        "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
