"""Benchmark entry point.

    python3 perfbench/run.py --workload build|serve --seed N --seconds S --trace 0|1 \
        --pagerank-iters I

Run from the repository root.  Builds every input from ``--seed``, starts
one ``local[nproc]`` Spark session through the engine's ``session``
module, runs the workload for ``--seconds`` and checks its outputs.  The
last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` -- the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``.  The line before
it carries details (sample counts, per-route latencies).  A traced run
also writes its spans to ``.perfbench/traces/``.

Every workload reports the same end-to-end metrics over its own two
operations:

    metric        build                        serve
    op_p50_s      one full index build         one query pair (WAND + exhaustive)
    ops_per_s     builds per second            query pairs per second
    second_op_s   one refresh (land, drain,    the 635-query batch (route,
                  merge, read back)            fuse, evaluate)

plus ``setup_s`` (start to the first timed operation, warm-up included),
``index_bytes_per_input_byte``, ``peak_rss_mb`` and ``success_frac``
(checked operations that were right, over those attempted).

Everything the run writes stays under ``.perfbench/`` in the working
directory; the Spark JVM and its Python workers are stopped before exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
PACKAGE = "information_retrieval_system_spark"
DRIVER_HEAP = "2g"

END_TO_END_UNITS = {
    "setup_s": "s",
    "op_p50_s": "s",
    "ops_per_s": "1/s",
    "second_op_s": "s",
    "index_bytes_per_input_byte": "ratio",
    "peak_rss_mb": "MB",
    "success_frac": "ratio",
}


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                # the command name may hold spaces: ppid follows the last ')'
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def pss_bytes(pid: int) -> int:
    """Proportional resident set: pages shared between processes are split
    among them, so a JVM forking a helper process is not counted twice."""
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


class RssSampler(threading.Thread):
    """Peak resident memory of this process and all its descendants (the
    Spark JVM and its Python workers), summed over their proportional
    resident sets and sampled from ``/proc``."""

    def __init__(self, interval: float = 0.5):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak = 0
        self._stop_evt = threading.Event()

    def sample(self) -> None:
        total = 0
        for pid in [os.getpid()] + descendants(os.getpid()):
            try:
                total += pss_bytes(pid)
            except (OSError, IndexError, ValueError):
                continue  # the process ended between listing and reading
        self.peak = max(self.peak, total)

    def run(self) -> None:
        while not self._stop_evt.wait(self.interval):
            self.sample()

    def stop(self) -> None:
        self._stop_evt.set()
        self.join()


def start_spark(root: str, work: str, workload: str):
    from information_retrieval_system_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Python workers import the engine and write temp files in the run dir
    os.environ["PYTHONPATH"] = root + os.pathsep + os.environ.get("PYTHONPATH", "")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = tmp
    # no JVM-wide perf-data files in the system temp dir, launcher included
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    spark = get_spark(
        f"perfbench-{workload}",
        parallelism=os.cpu_count() or 1,
        extra_conf={
            "spark.driver.memory": DRIVER_HEAP,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _start_time(pid: int) -> str | None:
    """Start time of ``pid`` (None once it has ended), so a reused pid is
    not mistaken for the process it replaced."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    return None if fields[0] == "Z" else fields[19]


def stop_spark(spark) -> None:
    """Stop the session, end the JVM and wait until it and every process
    it started (the Python daemon and workers) have ended."""
    from pyspark import SparkContext

    started = {pid: _start_time(pid) for pid in descendants(os.getpid())}
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()

    def alive() -> list[int]:
        return [p for p, t in started.items() if t is not None and _start_time(p) == t]

    deadline = time.monotonic() + 30
    while alive() and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in alive():
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    deadline = time.monotonic() + 30
    while alive() and time.monotonic() < deadline:
        time.sleep(0.1)


def main(argv=None) -> int:
    t_start = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--pagerank-iters", type=int, required=True,
                    help="EngineConfig.pagerank_max_iters: PageRank runs exactly this many iterations")
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE}/ in {root}; run from the repository root",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    sys.path.insert(0, HERE)
    import workloads
    from spans import Tracer

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    run_id = f"{args.workload}-s{args.seed}-{os.getpid()}-{int(time.time())}"
    base = os.path.join(root, ".perfbench")
    work = os.path.join(base, "runs", run_id)
    os.makedirs(work)
    rss = RssSampler()
    rss.start()
    spark = None
    try:
        t = time.perf_counter()
        spark = start_spark(root, work, args.workload)
        session_s = time.perf_counter() - t
        tracer = Tracer(spark.sparkContext, run_id, enabled=bool(args.trace))
        run = workloads.Run(spark=spark, tracer=tracer, work=work, seed=args.seed,
                            seconds=args.seconds, pagerank_iters=args.pagerank_iters,
                            t_start=t_start, session_s=session_s)
        e2e, layer = workloads.WORKLOADS[args.workload](run)
        rss.sample()
    finally:
        rss.stop()
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    e2e["peak_rss_mb"] = rss.peak / 2**20
    e2e["success_frac"] = (run.attempted - run.failed) / run.attempted
    if args.trace:
        os.makedirs(os.path.join(base, "traces"), exist_ok=True)
        path = os.path.join(base, "traces", run_id + ".jsonl")
        tracer.dump(path)
        run.detail["trace_file"] = os.path.relpath(path, root)
        metrics = {k: {"value": v, "unit": workloads.layer_unit(k)} for k, v in layer.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END_UNITS.items()}
    run.detail.update({"failed_frac": run.failed / run.attempted, "workload": args.workload,
                       "seed": args.seed})
    print(json.dumps({"detail": run.detail}))
    print(json.dumps({"correct": run.failed == 0, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
