"""Run one benchmark workload and print its result.

    python3 perfbench/run.py --workload replay_webcrawl --seed 1 --seconds 15 --trace 0

Run from the root of a source checkout: the engine is imported from
there and every file the run writes stays under ``.bench_work/`` (the
scratch, deleted again) and ``.bench_results/`` (one JSON result and,
with ``--trace 1``, one JSON-lines span file per run). The last line of
standard output is the result: ``correct``, ``attempted``, ``failed``
and ``metrics`` (end-to-end metrics with ``--trace 0``, per-layer
metrics with ``--trace 1``). The line before it is the run's detail
record: host, versions, seed, sample counts and tails. The exit code is
1 when a correctness gate failed and 2 when the engine is not there.

Every process the run starts (the Spark JVM, its Python workers, the
single-core baseline) is stopped and waited for before it exits, on
every path out: the run makes itself the reaper of its orphaned
descendants, closes the JVM's stdin (its signal to exit), and
terminates, then kills, whatever is still left.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import signal
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PR_SET_CHILD_SUBREAPER = 36
#: seconds the children get to exit on their own, then after SIGTERM
EXIT_GRACE_S = 20.0
TERM_GRACE_S = 5.0


def become_subreaper() -> None:
    """Have orphaned descendants (the Python workers of a JVM that has
    exited) re-parented to this process, so that it can wait for them."""
    try:
        ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def children() -> list[int]:
    """This process's live child processes, from ``/proc``."""
    me, out = os.getpid(), []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        if ppid == me:
            out.append(int(d))
    return out


def reap() -> None:
    """Collect the exit status of every child that has ended."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_children() -> None:
    """Ask the Spark JVM to exit, then wait until no child is left,
    escalating to SIGTERM and SIGKILL for those that do not end."""
    gateway = None
    if "pyspark" in sys.modules:
        from pyspark import SparkContext
        gateway = SparkContext._gateway
    if gateway is not None:
        try:
            gateway.shutdown()
        except Exception:
            pass
        proc = getattr(gateway, "proc", None)
        if proc is not None and proc.stdin is not None:
            try:
                proc.stdin.close()  # the JVM exits when its stdin ends
            except OSError:
                pass
    start, termed = time.monotonic(), set()
    while True:
        reap()
        kids = children()
        if not kids:
            return
        waited = time.monotonic() - start
        for pid in kids:
            if waited > EXIT_GRACE_S + TERM_GRACE_S:
                sig = signal.SIGKILL
            elif waited > EXIT_GRACE_S and pid not in termed:
                sig = signal.SIGTERM
                termed.add(pid)
            else:
                continue
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.05)


def on_sigterm(signum, frame):
    raise SystemExit(128 + signum)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--baseline-inputs", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        from perfbench import workloads
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
    if args.baseline_inputs:
        workloads.baseline_run(args, ROOT)
        return 0
    result, detail = workloads.run(args, ROOT)
    out = os.path.join(ROOT, ".bench_results")
    os.makedirs(out, exist_ok=True)
    stem = os.path.join(out, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    with open(stem + ".json", "w") as f:
        json.dump({"result": result, "detail": detail}, f, indent=1, default=str)
    print(json.dumps(detail, default=str))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    become_subreaper()
    signal.signal(signal.SIGTERM, on_sigterm)
    try:
        code = main()
    finally:
        stop_children()
    sys.exit(code)
