#!/usr/bin/env python3
"""The repository benchmark.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 8 --trace 0

Run from the repository root.  Each run starts a fresh Spark JVM while
a child process generates the inputs from ``--seed`` under
``.perfbench_work/`` and computes every expected output with DuckDB.
It then sets up the workload's tables several times (``setup_s`` is
the median), warms up, and measures for ``--seconds`` seconds.  Every
op's output is checked; a wrong output, an exception or a timeout
counts as failed.

The last line of stdout is one JSON object: ``--trace 0`` reports the
end-to-end metrics, ``--trace 1`` the per-layer metrics (spans around
the public calls plus Spark's counters per op) and writes the raw spans
to ``.perfbench_work/<workload>/trace.json``.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import pickle
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback
import types

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Pinned session settings (perfbench/README.md lists them all).
DRIVER_MEMORY = "2g"       # session.py defaults to 32g, above a 15 GB host
OP_TIMEOUT_S = 60          # an op still running then is cancelled: failed
SETUP_REPS = 3             # setup_s is the median of this many set-ups


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--sf", type=float, default=0.1,
                   help="input scale: 0.1 = 5,000 documents")
    return p.parse_args(argv)


def pin_environment(work: str, cpus: int) -> None:
    """Keep every file the run writes inside the checkout and pin the
    session size; must run before pyspark starts the JVM."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    import tempfile
    tempfile.tempdir = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData'",
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "--conf spark.ui.showConsoleProgress=false",
        "pyspark-shell"])
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)


def shutdown(spark) -> None:
    """Stop Spark, end the JVM and wait until every process this run
    started (JVM, Python workers) has exited."""
    from pyspark import SparkContext

    from measure import process_tree
    started = process_tree()[1:]
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()      # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    while True:
        alive = [p for p in started if _running(p)]
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, 9)
                except OSError:
                    pass
            deadline = time.monotonic() + 30
        time.sleep(0.1)


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


class Runner:
    def __init__(self, ctx, wl, ops):
        self.ctx, self.wl, self.ops = ctx, wl, ops
        self.attempted = self.failed = 0

    def record(self, name: str, ok: bool) -> None:
        """Count a check made outside an op (a set-up read-back)."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"perfbench: {name}: wrong output", file=sys.stderr)

    def execute(self, op) -> dict:
        """Run ``op`` once: hygiene first, then the timed call (wall and
        process-tree CPU), then the output check."""
        from measure import tree_cpu_s
        sc = self.ctx.spark.sparkContext
        self.wl.between_ops()
        self.attempted += 1
        ok = False
        try:
            with self.ctx.tracer.op(self.ctx.workload, op.name) as rec:
                timer = threading.Timer(OP_TIMEOUT_S, sc.cancelJobGroup,
                                        [rec["group"]])
                timer.start()
                try:
                    c0 = tree_cpu_s()
                    t0 = time.perf_counter()
                    out, n_rows = op.run()
                    wall = time.perf_counter() - t0
                    cpu = tree_cpu_s() - c0
                finally:
                    timer.cancel()
            rec["result_rows"] = n_rows
            ok = op.check(out, op.expected)
            if not ok:
                print(f"perfbench: {op.name}: wrong output", file=sys.stderr)
        except Exception:
            print(f"perfbench: {op.name} failed:\n{traceback.format_exc()}",
                  file=sys.stderr)
        if not ok:
            self.failed += 1
            return {"op": op.name, "ok": False}
        return {"op": op.name, "ok": True, "wall": wall, "cpu": cpu}

    def schedule(self, seconds: float):
        """Start indices of the timed blocks: the op list is cycled
        through in blocks of ``wl.block()`` ops until ``seconds`` have
        passed and every op has run (timing stops on a block edge)."""
        i, t0 = 0, time.monotonic()
        while i < len(self.ops) or time.monotonic() - t0 < seconds:
            yield i
            i += self.wl.block()

    def run_block(self, i: int) -> list[dict]:
        return [self.execute(self.ops[j % len(self.ops)])
                for j in range(i, i + self.wl.block())]

    def pass_seconds(self, blocks: list[list[dict]], key: str) -> float:
        """One pass over the op list: the sum over its ops of the median
        ``key`` of the op's kind (a ``serve`` template, a ``mine`` op)
        over the timed runs."""
        from measure import per_op
        runs = per_op(blocks, key)
        return sum(statistics.median(runs[op.name]) for op in self.ops
                   if op.name in runs)


def percentile(xs: list[float], q: int) -> float:
    if len(xs) < 2:
        return xs[0] if xs else 0.0
    return statistics.quantiles(xs, n=100, method="inclusive")[q - 1]


def main(argv=None) -> int:
    t_start = time.monotonic()
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "cantera_table_spark")):
        print("perfbench: run from a checkout of the repository; "
              f"{ROOT}/cantera_table_spark not found", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    from workloads import WORKLOADS
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    cpus = len(os.sched_getaffinity(0))
    pin_environment(work, cpus)

    from measure import (Tracer, peak_rss_mb_by_process, steal_ticks,
                         tree_peak_rss_mb)

    # what a workload needs from the run: the session, inputs, tracer
    ctx = types.SimpleNamespace(workload=args.workload, seed=args.seed,
                                cpus=cpus, work=work,
                                sf_dir=os.path.join(work, "input"))
    # inputs and expected outputs come from a child process, which
    # runs while the JVM starts and the first set-up runs, and exits
    # before anything is measured
    expected = os.path.join(work, "expected.pickle")
    child = subprocess.Popen([
        sys.executable, os.path.join(HERE, "oracle.py"), args.workload,
        str(args.seed), str(args.sf), str(args.trace), ctx.sf_dir,
        expected],
        stdout=subprocess.PIPE, text=True)
    spark = None
    try:
        from cantera_table_spark.session import get_spark
        t0 = time.monotonic()
        spark = get_spark(f"perfbench-{args.workload}")
        t_session = time.monotonic() - t0
        spark.sparkContext.setLogLevel("ERROR")
        line = child.stdout.readline()
        if not line:
            raise RuntimeError("making the inputs failed "
                               f"(exit code {child.wait()})")
        ctx.expected = json.loads(line)
        ctx.spark = spark
        ctx.tracer = Tracer(spark, enabled=bool(args.trace))
        wl = WORKLOADS[args.workload](ctx)
        setups = []
        for rep in range(SETUP_REPS):
            if rep == 1:
                # the first, cold set-up is never the median; the
                # oracle is done before any set-up that can be
                if child.wait() != 0:
                    raise RuntimeError("making the expected outputs "
                                       f"failed (exit code "
                                       f"{child.returncode})")
                t_prepare = time.monotonic() - t_start
                with open(expected, "rb") as f:
                    ctx.expected.update(pickle.load(f))
            t0 = time.monotonic()
            wl.setup()
            setups.append(time.monotonic() - t0)
        runner = Runner(ctx, wl, wl.ops(bool(args.trace)))
        for name, ok in wl.read_back():
            runner.record(name, ok)
        t0 = time.monotonic()
        warm = [runner.execute(op)                # checked too
                for op in wl.warm_up_ops(bool(args.trace))]
        t_warm = time.monotonic() - t0
        print(f"perfbench: {args.workload}: session {t_session:.1f} s, "
              f"oracle ready at {t_prepare:.1f} s, set-ups "
              + " ".join(f"{t:.1f}" for t in setups)
              + f" s, warm-up {t_warm:.1f} s", file=sys.stderr)

        if args.trace:
            from layers import layer_metrics
            metrics = layer_metrics(ctx, wl, runner, args.seconds)
            ctx.tracer.dump(os.path.join(work, "trace.json"))
        else:
            s0 = steal_ticks()
            blocks = [runner.run_block(i)
                      for i in runner.schedule(args.seconds)]
            stolen, total = (b - a for a, b in zip(s0, steal_ticks()))
            lat = [x * 1e3 for x in wl.latencies(blocks)]
            metrics = {
                "setup_s": (statistics.median(setups), "s"),
                "pass_s": (runner.pass_seconds(blocks, "wall"), "s"),
                "pass_cpu_s": (runner.pass_seconds(blocks, "cpu"), "s"),
                "op_p50_ms": (percentile(lat, 50), "ms"),
                "op_p90_ms": (percentile(lat, 90), "ms"),
                "peak_rss_mb": (tree_peak_rss_mb(), "MB"),
                "index_bytes_per_input_byte": (
                    wl.index_bytes_per_input_byte(), "ratio"),
            }
            ms = {}
            for r in warm + [r for b in blocks for r in b]:
                ms.setdefault(r["op"], []).append(
                    f"{r['wall'] * 1e3:.0f}" if r["ok"] else "failed")
            print(f"perfbench: {args.workload}: "
                  f"{sum(map(len, blocks))} timed ops after {len(warm)} "
                  "warm-up ops; ms per op kind, in order: "
                  + "; ".join(f"{k} {' '.join(v)}" for k, v in ms.items())
                  + f"; host steal while timed {stolen / total:.1%}; "
                  "peak RSS MB by process: " + ", ".join(
                      f"{k} {v:.0f}"
                      for k, v in peak_rss_mb_by_process().items()),
                  file=sys.stderr)
    finally:
        if child.poll() is None:
            child.kill()
        child.wait()
        child.stdout.close()
        if spark is not None:
            t0 = time.monotonic()
            shutdown(spark)
            print(f"perfbench: {args.workload}: shutdown "
                  f"{time.monotonic() - t0:.1f} s, run "
                  f"{time.monotonic() - t_start:.1f} s", file=sys.stderr)

    ratio = runner.failed / runner.attempted
    for name, (value, unit) in metrics.items():
        print(f"{args.workload:6s} {name:40s} {value:14.4f} {unit}")
    print(f"{args.workload:6s} {'ops_failed_ratio':40s} {ratio:14.4f} ratio")
    print(json.dumps({
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
