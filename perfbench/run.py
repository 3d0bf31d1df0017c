"""Benchmark entry point; run from the repository root:

    python3 perfbench/run.py --workload elt_batch --seed 1 --seconds 10 --trace 0

Prints one JSON object as the last line of standard output:
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0``
the metrics are the end-to-end metrics, with ``--trace 1`` the
per-layer ones. Everything the run writes stays under
``.perfbench_work/`` in the current directory. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("elt_batch", "cdc_stream", "corpus_curation")


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    root = os.getcwd()
    work = os.path.join(root, ".perfbench_work")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # keep Spark's, the JVM's and Python's temporary files inside the
    # checkout (-XX:-UsePerfData: no hsperfdata file under /tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    sys.path[:0] = [HERE, root]
    # a SIGTERM unwinds through the finally below, so the JVM still stops
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    import harness

    try:
        result = harness.run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    finally:
        stop_processes()
    print(json.dumps(result))
    return 0


def _children() -> dict[int, list[int]]:
    """{parent pid: [child pids]} of every process visible in /proc."""
    out: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            out.setdefault(ppid, []).append(int(d))
    return out


def _descendants(pid: int) -> list[int]:
    tree, todo, out = _children(), [pid], []
    while todo:
        kids = tree.get(todo.pop(), [])
        out += kids
        todo += kids
    return out


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def stop_processes(timeout: float = 30.0) -> None:
    """Stop the Spark session and its JVM, reap the JVM, and wait until
    every process this run started (Python workers included) has ended;
    whatever outlives ``timeout`` is killed. Exiting the interpreter
    alone leaves the JVM to notice its closed stdin some time later."""
    pyspark = sys.modules.get("pyspark")
    gateway = proc = None
    if pyspark is not None:
        sc = pyspark.SparkContext._active_spark_context
        gateway = pyspark.SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if sc is not None:
            try:
                sc.stop()
            except Exception:  # a broken session still has a JVM to end
                pass
    others = _descendants(os.getpid())
    if gateway is not None:
        try:
            gateway.shutdown()
        except Exception:
            pass
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + timeout
    for pid in others:
        while _running(pid):
            if time.time() > deadline:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            time.sleep(0.05)


if __name__ == "__main__":
    sys.exit(main())
