"""Benchmark of record for knowledge-graph construction.

    python3 kgbench/run.py --workload web_build --seed 1 --seconds 6 --trace 0

Run from the repository root. One run starts a Spark session, generates the
workload's inputs from the seed, warms up, then performs timed operations
until ``--seconds`` of operation time have passed or the workload's
generated input is used up (at least one operation; with ``--trace 1`` at
least three, alternately plain and traced). Every operation's output is
checked with DuckDB outside the timed region. The last line on stdout is
one JSON object: the end-to-end metrics with ``--trace 0``, the per-layer
metrics of separately traced operations with ``--trace 1``. Everything the run writes lives under
``.kgbench_work/`` in the repository root and is removed at the end.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

GEN_REPEATS = 3
MAX_ATTEMPTS = 100


def start_session(work: str):
    """The engine's session factory with its defaults, on this host's cores,
    with every scratch location inside ``work``."""
    from ontoweaver_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_LAUNCHER_OPTS"] = java_opts
    cores = min(4, len(os.sched_getaffinity(0)))
    spark = get_spark(
        app_name="kgbench", master=f"local[{cores}]",
        extra_conf={
            "spark.ui.port": "0",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": java_opts,
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait until its JVM has exited."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if proc is None:
        return
    SparkContext._gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


class JvmMemory:
    """Peak resident memory of the Spark JVM, read from /proc."""

    def __init__(self):
        from pyspark import SparkContext

        self.pid = SparkContext._gateway.proc.pid

    def reset(self) -> None:
        try:
            with open(f"/proc/{self.pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            pass  # the peak then covers set-up too

    def peak_mb(self) -> float:
        with open(f"/proc/{self.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("VmHWM missing from /proc status")


def log(msg: str) -> None:
    print(f"[kgbench] {msg}", file=sys.stderr, flush=True)


@dataclass
class Ops:
    """The timed operations of one run and how they went."""

    plain: list = field(default_factory=list)
    traced: list = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    failures: list = field(default_factory=list)


def run_ops(wl, spark, checker, seconds: float, trace: bool) -> Ops:
    """Perform timed operations until ``seconds`` of operation time have
    passed or the workload has no input left, checking each one.

    With ``trace``: plain, traced, plain, ... (at least three). A plain
    operation then runs under one job-group span of its own, so that its
    Spark work can be compared with that of the traced operations."""
    from check import dir_bytes
    from spans import Tracer

    ops = Ops()
    spent = 0.0
    min_ops = 3 if trace else 1
    while ((spent < seconds or ops.attempted < min_ops)
           and ops.attempted < MAX_ATTEMPTS and not wl.exhausted()):
        tracer = Tracer(spark) if trace else None
        is_traced = trace and ops.attempted % 2 == 1
        ops.attempted += 1
        t = time.perf_counter()
        try:
            if is_traced:
                res = wl.op(spark, tracer)
            elif tracer is not None:
                with tracer.span("op"):
                    res = wl.op(spark)
                tracer.collect()
            else:
                res = wl.op(spark)
        except Exception:
            ops.failed += 1
            ops.failures.append(traceback.format_exc())
            spent += max(time.perf_counter() - t, 1.0)
            continue
        spent += res.seconds
        if tracer is not None:
            res.totals = tracer.totals()
        try:
            fails = wl.check(checker, res)
        except Exception:
            fails = [traceback.format_exc()]
        log(f"op {ops.attempted}: {res.seconds:.3f}s, {res.edges} edges"
            + (f", {'traced' if is_traced else 'plain'} {res.totals}" if trace else "")
            + (f", FAILED {fails}" if fails else ""))
        if fails:
            ops.failed += 1
            ops.failures += fails
        res.out_bytes = (dir_bytes(os.path.join(res.out_dir, "nodes"))
                         + dir_bytes(os.path.join(res.out_dir, "edges")))
        (ops.traced if is_traced else ops.plain).append(res)
        wl.discard(res)
    if wl.exhausted():
        log(f"{wl.name} has no input left after {ops.attempted} operations")
    return ops


def measure(args, work: str) -> dict:
    from check import Checker
    from metrics import END_TO_END, PER_LAYER
    from workloads import WORKLOADS

    wl = WORKLOADS[args.workload](work, args.seed)
    t0 = time.perf_counter()
    spark = start_session(work)
    start_s = time.perf_counter() - t0
    checker = Checker()
    try:
        gen_s = []
        for _ in range(GEN_REPEATS):
            t = time.perf_counter()
            wl.generate()
            gen_s.append(time.perf_counter() - t)
        t = time.perf_counter()
        wl.warmup(spark, checker)
        warm_s = time.perf_counter() - t
        setup_s = start_s + statistics.median(gen_s) + warm_s
        log(f"setup {setup_s:.2f}s (session {start_s:.2f}, inputs "
            f"{statistics.median(gen_s):.2f}, warm-up {warm_s:.2f})")

        mem = JvmMemory()
        mem.reset()
        ops = run_ops(wl, spark, checker, args.seconds, bool(args.trace))
        peak_mb = mem.peak_mb()
        try:
            final = wl.final_check(spark, checker)
        except Exception:
            final = [traceback.format_exc()]
        if args.trace and ops.plain and ops.traced:
            # the traced operation must do the Spark work the plain one does
            final += wl.drift([r.totals for r in ops.plain], [r.totals for r in ops.traced])
        if final:  # the run as a whole is wrong: charge one more operation
            ops.failures += final
            ops.failed = min(ops.attempted, ops.failed + 1)
    finally:
        checker.close()
        stop_session(spark)

    for f in ops.failures:
        log(f"failure: {f}")
    plain, traced = ops.plain, ops.traced
    if not plain or (args.trace and not traced):
        raise RuntimeError("too few operations succeeded to report")
    if args.trace:
        metrics = {"session.start_s": start_s}
        for name in list(traced[0].layers):
            metrics[name] = statistics.median(r.layers[name] for r in traced)
        metrics["trace.overhead_s"] = (statistics.median(r.seconds for r in traced)
                                       - statistics.median(r.seconds for r in plain[1:] or plain))
        units = PER_LAYER
    else:
        metrics = {
            "setup_s": setup_s,
            "build_s": statistics.median(r.seconds for r in plain),
            "triples_per_s": statistics.median(r.edges / r.seconds for r in plain),
            "rows_per_s": sum(r.rows for r in plain) / sum(r.seconds for r in plain),
            "peak_rss_mb": peak_mb,
            "output_bytes_per_triple": statistics.median(r.out_bytes / max(r.edges, 1)
                                                         for r in plain),
        }
        units = END_TO_END
    return {
        "correct": ops.failed == 0,
        "attempted": ops.attempted,
        "failed": ops.failed,
        "metrics": {k: {"value": float(v), "unit": units[k][0]} for k, v in metrics.items()},
    }


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["web_build", "table_wide", "web_upsert"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)

    sys.path.insert(0, HERE)
    sys.path.insert(1, ROOT)
    try:
        import ontoweaver_spark  # noqa: F401  (the engine under test)
    except ImportError as e:
        log(f"cannot import the engine from {ROOT}: {e}")
        return 2

    work = os.path.join(ROOT, ".kgbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    try:
        result = measure(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only when no other run uses it
        except OSError:
            pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
