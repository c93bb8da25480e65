#!/usr/bin/env python3
"""Layer-attributed benchmark of whitebox_tools_spark on the local host.

    python3 perfbench/run.py --workload flagship_tag --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. One client drives one SparkSession at
local[cores] (cores from SPARK_GRAFT_CPUS, else nproc) with shuffle
partitions equal to the core count, in a closed loop: the next pass
starts when the previous one has finished.

--trace 0 sets up several times (median reported as setup_s, plus the
untimed warm-up passes), runs passes for --seconds, checks the outputs
outside the timers, and prints the end-to-end metrics. --trace 1 sets up once
and checks the warm-up passes' outputs, then alternates traced and
span-free passes in a session that writes the Spark event log, and
prints the per-layer metrics; per-span records go to
a side file whose path is printed on the line before the result.

The last stdout line is one JSON object:
{"correct": bool, "attempted": int, "failed": int, "metrics": {name: {"value", "unit"}}}
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

T0 = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUP_CYCLES = 3

E2E_UNITS = {"wall_s": "s", "setup_s": "s", "docs_per_s": "1/s"}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


class Bench:
    """One benchmark process: its sessions, work directory and results."""

    def __init__(self, workload, seed: int, work: str):
        from perfbench import host

        self.wl = workload
        self.seed = seed
        self.work = work
        self.cores = host.cores()
        self.driver_memory = host.driver_memory()
        self.spark = None
        self.ctx_cur = None  # the context of the last set-up
        self.passes_run = 0
        self.attempted = 0
        self.failed = 0
        self.failed_ops: dict[str, int] = {}

    # ------------------------------------------------------------ sessions

    def start_session(self, master_cores: int | None = None, eventlog: bool = False):
        from whitebox_tools_spark.session import get_spark

        cores = master_cores or self.cores
        extra = {
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            # no hsperfdata file in the system temp directory
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.work}/tmp -XX:-UsePerfData",
            "spark.eventLog.enabled": str(eventlog).lower(),
            "spark.ui.showConsoleProgress": "false",
        }
        if eventlog:
            os.makedirs(self.eventlog_dir, exist_ok=True)
            extra["spark.eventLog.dir"] = "file://" + self.eventlog_dir
            extra["spark.eventLog.compress"] = "false"
        if self.spark is not None:
            self.spark.stop()
        self.spark = get_spark(
            cores=cores, shuffle_partitions=cores, app=f"perfbench-{self.wl.name}",
            driver_memory=self.driver_memory, extra=extra,
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    @property
    def eventlog_dir(self) -> str:
        return os.path.join(self.work, "eventlog")

    def ctx(self, tracer=None):
        from perfbench.trace import Tracer
        from perfbench.workloads import Ctx

        return Ctx(self.spark, self.seed, self.work, self.cores, tracer or Tracer())

    def shutdown(self) -> None:
        """Stop the session and wait for the JVM it launched to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None

    # -------------------------------------------------------------- passes

    def run_pass(self, ctx) -> dict:
        """One pass over the workload's ops; an op that raises is counted
        as failed and the pass goes on."""
        rec = {"ops": {}, "failed": []}
        t0 = time.perf_counter()
        with ctx.span("pass"):
            for op in self.wl.ops:
                o0 = time.perf_counter()
                try:
                    self.wl.run_op(ctx, op)
                except Exception:
                    traceback.print_exc()
                    rec["failed"].append(op)
                rec["ops"][op] = time.perf_counter() - o0
        rec["wall"] = time.perf_counter() - t0
        rec["counts"] = self.wl.pass_counts()
        self.passes_run += 1
        self.attempted += len(self.wl.ops)
        self.failed += len(rec["failed"])
        for op in rec["failed"]:
            self.failed_ops[op] = self.failed_ops.get(op, 0) + 1
        return rec

    def setup(self, cycles: int, warmups: int, tracer_factory=None, eventlog: bool = False):
        """``cycles`` times: start a fresh session, build the inputs and warm
        the caches; then ``warmups`` untimed passes, which let the JIT
        settle. Returns (median cycle wall + warm-up walls, cycle walls,
        warm-up walls)."""
        walls = []
        for _ in range(cycles):
            t_epoch, t0 = time.time(), time.perf_counter()
            self.start_session(eventlog=eventlog)
            ctx = self.ctx(tracer_factory(self.spark) if tracer_factory else None)
            ctx.tracer.record("session.start", t_epoch, time.time())
            with ctx.span("setup.prepare"):
                self.wl.prepare(ctx)
            walls.append(time.perf_counter() - t0)
        warm = []
        with ctx.span("setup.warmup"):
            for _ in range(warmups):
                warm.append(self.run_pass(ctx)["wall"])
        self.ctx_cur = ctx
        return statistics.median(walls) + sum(warm), walls, warm

    def window(self, ctx, seconds: float) -> list[dict]:
        passes = []
        t_end = time.perf_counter() + seconds
        while not passes or time.perf_counter() < t_end:
            passes.append(self.run_pass(ctx))
        return passes

    def paired_window(self, traced_ctx, plain_ctx, seconds: float):
        """Pairs of one traced and one span-free pass on one session until
        ``seconds`` have passed, the order within a pair flipping each time
        (ABBA), so both halves run with the same JIT state and host
        conditions and a linear drift cancels. Returns (traced passes,
        span-free passes)."""
        traced, plain = [], []
        t_end = time.perf_counter() + seconds
        while not plain or time.perf_counter() < t_end:
            if len(plain) % 2 == 0:
                traced.append(self.run_pass(traced_ctx))
                plain.append(self.run_pass(plain_ctx))
            else:
                plain.append(self.run_pass(plain_ctx))
                traced.append(self.run_pass(traced_ctx))
        return traced, plain

    def check(self, ctx) -> bool:
        """Output checks, outside every timer. A wrong output fails each
        execution of its op that had not already raised."""
        try:
            verdicts = self.wl.check(ctx)
        except Exception:
            traceback.print_exc()
            verdicts = {op: "check raised" for op in self.wl.ops}
        for op, problem in verdicts.items():
            if problem is not None:
                print(f"perfbench: check failed for {op}: {problem}", file=sys.stderr)
                self.failed += self.passes_run - self.failed_ops.get(op, 0)
        return all(p is None for p in verdicts.values())


def median_of(passes, key):
    return statistics.median(key(p) for p in passes)


def rate(b: Bench, passes, unit: str) -> float:
    """Median over passes of units of work per second of the ops doing it."""
    def one(p):
        n, s = b.wl.work(p["ops"])[unit]
        return n / s

    return median_of(passes, one)


def e2e_metrics(b: Bench, setup_s: float, passes) -> dict[str, float]:
    return {
        "wall_s": median_of(passes, lambda p: p["wall"]),
        "setup_s": setup_s,
        "docs_per_s": rate(b, passes, "docs"),
    }


def scaling_eff(b: Bench) -> dict[str, float]:
    """Flagship 1 -> cores scaling, each level in a fresh SparkContext,
    divided by the same ratio for the pure-JVM control."""
    from perfbench import host
    from perfbench.workloads import SCALING_DOCS

    walls, ctrl = {}, {}
    for level in (1, b.cores):
        b.start_session(master_cores=level)
        ctx = b.ctx()
        t0 = time.perf_counter()
        b.wl.frame(ctx, SCALING_DOCS).collect()
        walls[level] = time.perf_counter() - t0
        ctrl[level] = host.control_s(b.spark, 2 * level, reps=1)
    eff = walls[1] / walls[b.cores] / b.cores
    ctrl_eff = ctrl[1] / ctrl[b.cores] / b.cores
    return {"scaling_eff": eff / ctrl_eff, "scaling_engine_eff": eff, "scaling_control_eff": ctrl_eff}


def log(msg: str) -> None:
    print(f"perfbench [{time.perf_counter() - T0:7.1f}s] {msg}", file=sys.stderr, flush=True)


def print_metric(workload: str, name: str, value: float, unit: str) -> None:
    print(f"perfbench {workload} {name} = {value:.6g} {unit}")


def run_untraced(b: Bench, seconds: float) -> dict:
    from perfbench import host

    load_start = host.loadavg()
    setup_s, cycles, warm = b.setup(SETUP_CYCLES, b.wl.warmup_passes)
    log(f"set-up cycles {' '.join(f'{w:.2f}' for w in cycles)}, "
        f"warm-up passes {' '.join(f'{w:.2f}' for w in warm)}")
    ctx = b.ctx_cur
    ticks = host.cpu_ticks()
    passes = b.window(ctx, seconds)
    steal = host.steal_frac(ticks, host.cpu_ticks())
    log(f"timed window: {len(passes)} passes")
    e2e = e2e_metrics(b, setup_s, passes)
    correct = b.check(ctx)
    log("checks done")
    extra = {
        "peak_rss_mb": (host.peak_rss_mb(b.spark), "MB"),
        "host.control_s": (host.control_s(b.spark, b.cores), "s"),
        "host.loadavg_start": (load_start, "load"),
        "host.loadavg_end": (host.loadavg(), "load"),
        "host.steal_frac": (steal, "ratio"),
        "failed_frac": (b.failed / b.attempted, "ratio"),
    }
    if "cells" in b.wl.work(passes[0]["ops"]):
        extra["cells_per_s"] = (rate(b, passes, "cells"), "1/s")
    for k, v in e2e.items():
        print_metric(b.wl.name, k, v, E2E_UNITS[k])
    for k, (v, unit) in extra.items():
        print_metric(b.wl.name, k, v, unit)
    print(f"perfbench {b.wl.name}: {len(passes)} passes, pass walls "
          + " ".join(f"{p['wall']:.3f}" for p in passes) + "; median op walls "
          + " ".join(f"{op}={median_of(passes, lambda p: p['ops'][op]):.3f}" for op in b.wl.ops))
    return {"correct": correct, "metrics": {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}}


def run_traced(b: Bench, seconds: float) -> dict:
    """The untraced set-up and its warm-up passes, whose outputs are
    checked; then a session with the event log on, warmed by one pass, in
    which traced and span-free passes alternate for twice ``seconds``.
    trace.overhead_s is the difference of the two halves' median walls:
    the cost of the spans and their job groups. The event log is on in
    both halves, so its own cost, paid on the listener bus's thread, is
    not in it."""
    from perfbench import eventlog, host, layers
    from perfbench.trace import Tracer

    load_start = host.loadavg()
    b.setup(1, b.wl.warmup_passes)
    correct = b.check(b.ctx_cur)
    log("checks done")
    if b.wl.name == "flagship_tag":
        for k, v in scaling_eff(b).items():
            print_metric(b.wl.name, k, v, "ratio")
        log("scaling run done")
    b.setup(1, 1, tracer_factory=Tracer, eventlog=True)
    ctx = b.ctx_cur
    ticks = host.cpu_ticks()
    traced, untraced = b.paired_window(ctx, b.ctx(), 2 * seconds)
    steal = host.steal_frac(ticks, host.cpu_ticks())
    log(f"traced window: {len(traced)} + {len(untraced)} passes")
    hostinfo = {
        "control_s": host.control_s(b.spark, b.cores),
        "control_1part_s": host.control_s(b.spark, 1),
        "loadavg_start": load_start,
        "loadavg_end": host.loadavg(),
        "steal_frac": steal,
    }
    app_id = b.spark.sparkContext.applicationId
    b.spark.stop()  # flushes the event log
    b.spark = None
    groups = eventlog.summarize(eventlog.read_events(eventlog.log_files(b.eventlog_dir, app_id)))
    metrics, records = layers.per_layer(ctx.tracer.spans, groups, traced, untraced, hostinfo, b.cores)
    side = os.path.join(ROOT, ".perfbench", f"spans_{b.wl.name}_seed{b.seed}.json")
    with open(side, "w") as f:
        json.dump({"workload": b.wl.name, "seed": b.seed, "host": hostinfo,
                   "untraced_pass_walls": [p["wall"] for p in untraced],
                   "traced_pass_walls": [p["wall"] for p in traced],
                   "spans": records}, f, indent=1)
    for k, (v, unit) in metrics.items():
        print_metric(b.wl.name, k, v, unit)
    print(f"perfbench: span records: {os.path.relpath(side, ROOT)}")
    return {"correct": correct, "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}


def configure_env(work: str) -> None:
    """Before the JVM starts: Python workers import the engine from the
    checkout, and every temporary file stays under ``work``."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # the spark-submit launcher JVM


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "whitebox_tools_spark")):
        print("perfbench: no whitebox_tools_spark/ beside perfbench/ - run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench", f"work_{args.workload}_{args.seed}_{os.getpid()}")
    configure_env(work)
    b = Bench(WORKLOADS[args.workload](), args.seed, work)
    try:
        result = (run_traced if args.trace else run_untraced)(b, args.seconds)
    finally:
        b.shutdown()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": result["correct"] and b.failed == 0, "attempted": b.attempted,
                      "failed": b.failed, "metrics": result["metrics"]}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
