"""Benchmark entry point.

    python3 perfbench/run.py --workload cdc_stream|batch_queries \
        --seed N --seconds S --trace 0|1

Run from the root of a source checkout.  The engine runs on
``local[nproc]`` from this one process.  The last line of standard
output is one JSON object with ``correct``, ``attempted``, ``failed``
and ``metrics``: the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``.  The line before it is a report
with host facts, input sizes, per-phase figures and the checks.  The
exit code is 0 only when every output check passed.

Everything the run writes goes under ``.perfbench/`` in the checkout:
a scratch directory removed at exit, and ``results/`` (untraced
``work_s`` per run with the source tree's fingerprint, kept so a traced
run can measure its own overhead against them; traces with their
spans).
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import layers  # noqa: E402
from perfbench.metrics import PER_LAYER, metric  # noqa: E402

WORKLOADS = ("cdc_stream", "batch_queries")

# the source a run measures: the engine, the declared queries and the
# benchmark itself
TREE = ("hermes_spark", "__spark_entry__.py", "perfbench")


class Context:
    """What a workload needs, and the two marks that bound its timed
    region."""

    def __init__(self, spark, seed: int, seconds: int, work: str, tracer) -> None:
        self.spark = spark
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.tracer = tracer
        self.setup_s: float | None = None
        self.marks: dict[str, float] = {}  # set-up step -> seconds since start
        self.timed_start: float | None = None
        self.timed_end: float | None = None

    def mark(self, step: str) -> None:
        self.marks[step] = time.perf_counter() - T_START

    def mark_setup_done(self) -> None:
        self.timed_start = time.perf_counter()
        self.setup_s = self.timed_start - T_START
        self._cpu0 = cpu_counters()

    def mark_timed_done(self) -> None:
        self.timed_end = time.perf_counter()
        self._cpu1 = cpu_counters()

    def steal_frac(self) -> float | None:
        """Share of the host's CPU time stolen by the hypervisor during
        the timed region — other tenants' load, which no code change
        here can move."""
        a, b = getattr(self, "_cpu0", None), getattr(self, "_cpu1", None)
        if a is None or b is None or b[1] == a[1]:
            return None
        return (b[0] - a[0]) / (b[1] - a[1])


def cpu_counters() -> tuple[int, int] | None:
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    try:
        with open("/proc/stat") as f:
            ticks = [int(x) for x in f.readline().split()[1:9]]
    except (OSError, ValueError):
        return None
    return ticks[7], sum(ticks)


def tree_fingerprint() -> str:
    """sha256 over the paths and contents of the measured Python
    sources, so results of different code are never mixed (a plain
    source tree has no git commit)."""
    h = hashlib.sha256()
    files = []
    for top in TREE:
        path = os.path.join(ROOT, top)
        if os.path.isfile(path):
            files.append(path)
        for root, dirs, names in os.walk(path):
            dirs[:] = sorted(d for d in dirs if d != "__pycache__")
            files.extend(os.path.join(root, n) for n in names if n.endswith(".py"))
    for path in sorted(files):
        h.update(os.path.relpath(path, ROOT).encode() + b"\0")
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def host_facts(nproc: int) -> dict:
    import pandas
    import pyarrow
    import pyspark

    commit = None
    try:
        commit = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10, check=True,
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        pass  # a plain source tree has no git metadata
    return {
        "nproc": nproc,
        "master": f"local[{nproc}]",
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "pyarrow": pyarrow.__version__,
        "pandas": pandas.__version__,
        "git_commit": commit,
        "source_tree": tree_fingerprint(),
    }


def start_session(name: str, nproc: int, work: str, trace: bool):
    from hermes_spark import build_session

    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # keep every trigger's progress (the default keeps the last 100)
        "spark.sql.streaming.numRecentProgressUpdates": "100000",
    }
    if trace:
        from perfbench.tracing import eventlog_conf

        conf.update(eventlog_conf(os.path.join(work, "eventlog")))
    return build_session(
        f"perfbench-{name}", master=f"local[{nproc}]",
        shuffle_partitions=nproc, extra_conf=conf,
    )


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM process to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except (OSError, AttributeError):
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    try:
        import hermes_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench", f"work-{args.workload}-{os.getpid()}")
    try:
        report, result = measure(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"report": report}))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


def measure(args, work: str) -> tuple[dict, dict]:
    nproc = len(os.sched_getaffinity(0))
    out_dir = os.path.join(ROOT, ".perfbench", "results")
    os.makedirs(out_dir, exist_ok=True)
    os.makedirs(work, exist_ok=True)
    # the Python workers import the engine from this checkout; temp
    # files stay inside it, and no JVM (launcher or driver) writes its
    # hsperfdata file under /tmp
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"

    tracer = None
    if args.trace:
        from perfbench.tracing import Tracer

        tracer = Tracer(f"{args.workload}-{args.seed}-{os.getpid()}-{int(time.time())}")

    spark = start_session(args.workload, nproc, work, bool(args.trace))
    listener = None
    try:
        if tracer is not None and args.workload == "cdc_stream":
            from perfbench.tracing import ProgressListener

            listener = ProgressListener()
            spark.streams.addListener(listener)
        ctx = Context(spark, args.seed, args.seconds, work, tracer)
        ctx.mark("session")
        if args.workload == "batch_queries":
            from perfbench import queries

            res = queries.run(ctx)
            summary = layers.batch_summary(res)
        else:
            from perfbench import cdc

            res = cdc.run(ctx)
            summary = layers.cdc_summary(res)
    finally:
        if listener is not None:
            spark.streams.removeListener(listener)
        stop_session(spark)

    e2e = layers.end_to_end(ctx.setup_s, summary)
    ops = res["ops"]
    correct = ops["failed"] == 0
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "host": {**host_facts(nproc), "cpu_steal_frac": ctx.steal_frac()},
        "setup_marks_s": ctx.marks,
        "sizes": summary["sizes"],
        "figures": summary["figures"],
        "checks": summary["checks"],
        "fail_frac": {"value": ops["failed"] / ops["attempted"], "unit": "ratio"},
        "end_to_end": e2e,
    }

    stamp = f"{args.workload}-seed{args.seed}-{os.getpid()}"
    results = os.path.join(out_dir, f"{args.workload}.jsonl")
    tree = report["host"]["source_tree"]
    if tracer is None:
        metrics = report["end_to_end"]
        with open(results, "a") as f:
            f.write(json.dumps({
                "seed": args.seed, "seconds": args.seconds, "tree": tree,
                "work_s": summary["work_s"],
            }) + "\n")
    else:
        values = layers.per_layer(
            args.workload, res, tracer.totals(ctx.timed_start, ctx.timed_end),
            len(tracer.spans), listener, work, summary["work_s"],
        )
        metrics = {k: metric(values[k], PER_LAYER[k]) for k in PER_LAYER}
        report["tracing_overhead"] = layers.tracing_overhead(
            results, tree, args.seconds, summary["work_s"]
        )
        tracer.dump(
            os.path.join(out_dir, f"trace-{stamp}.json"),
            per_layer=values,
            progress=listener.progress if listener is not None else [],
        )
    return report, {
        "correct": correct,
        "attempted": int(ops["attempted"]),
        "failed": int(ops["failed"]),
        "metrics": metrics,
    }


if __name__ == "__main__":
    sys.exit(main())
