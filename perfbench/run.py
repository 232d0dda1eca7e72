"""Benchmark entry point: one run of one workload.

    python3 perfbench/run.py --workload tweets_w1w2 --seed 1 --seconds 15 --trace 0

Load model: this process is one closed-loop client. It issues the ops of a
pass one at a time, each to completion, against a Spark session at
``local[nproc]``. A run

1. generates (or reuses) the seed's inputs and computes the DuckDB oracle
   results, both outside every timed region;
2. sets up: starts the session, which launches the JVM, then runs one
   untimed warm-up pass whose outputs are collected and checked.
   ``setup_s`` is the time from the session start to the end of the
   warm-up pass. It is one sample per run: the JVM launch and its cold
   pass happen once per JVM, and a second JVM would cost the run budget
   another 30-50 s;
3. runs timed passes, each op to a ``noop`` sink, until ``--seconds`` have
   passed; a pass that starts inside the window runs to its end. With
   ``--trace 1`` untraced and traced passes alternate, so the tracing
   overhead is measured in the same run.

``job_s`` and ``setup_s`` are wall times net of host CPU steal: each is
multiplied by one minus ``host.steal_share`` over its own interval. On a
shared VM the host takes a varying share of the vCPUs' runnable time, and
raw pass times of the same code moved with it by up to 2.3x between runs.
The raw times and each interval's steal share are in the report line.

The last line of standard output is the result JSON; the line before it is
a report with the run's configuration, host weather, sample counts, the
error rate, and the canonical hashes of rows-only outputs. The program is
imported from the checkout this file sits in; without it the run exits 2
and prints no result.
"""

from __future__ import annotations

import argparse
import contextlib
import glob
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
import warnings

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "pyspark_mllib_twitter_spark"

#: Driver heap as a share of physical RAM, so the JVM cannot outgrow the host.
#: The whole heap is touched at launch, and every run here fits in an eighth.
HEAP_SHARE = 0.125
#: A run that has not finished by then is stopped (a run must end within 180 s).
DEADLINE_S = 170

MAX_REPORTED_FAILURES = 5

#: C1-only JIT. With tiered C2, compiling Spark's code base keeps two C2
#: threads busy for minutes after start, which on 4 cores takes CPU from the
#: task threads. Passes then read 6.5-12 s for the same tweets run,
#: depending on where the compile queue stands. C1 settles within the
#: warm-up pass: the same runs read 12.1-12.6 s.
JIT = "-XX:TieredStopAtLevel=1"
#: Touch the whole heap at JVM launch. Otherwise every timed pass that
#: reaches heap regions not used before pays their page faults, and peak RSS
#: grows with the number of passes that fit the window: ``stream_replay``
#: read 2.0-2.1 GB after one pass and 2.2-2.4 GB after two.
PRETOUCH = "-XX:+AlwaysPreTouch"

E2E_UNITS = {"job_s": "s", "setup_s": "s", "cpu_core_s": "s", "peak_rss_mb": "MB"}


def configure_env(work: str) -> dict:
    """Point every scratch location of Spark, the JVM and Python workers
    into this run's own directory inside the checkout, and fix the core
    count and heap. Scratch left by runs that have ended is removed."""
    import host

    for d in glob.glob(os.path.join(work, "run-*")):
        if not os.path.exists(f"/proc/{d.rsplit('-', 1)[1]}"):
            shutil.rmtree(d, ignore_errors=True)
    scratch = os.path.join(work, f"run-{os.getpid()}")
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp)
    cpus = len(os.sched_getaffinity(0))  # what nproc reports
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{max(1024, int(host.mem_total_mb() * HEAP_SHARE))}m",
        "SPARK_LOCAL_DIRS": os.path.join(scratch, "spark-local"),
        "SPARK_GRAFT_STREAM_CKPT_DIR": os.path.join(scratch, "ckpt"),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData {JIT} {PRETOUCH}",
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONWARNINGS": "ignore",
    }
    os.environ.update(env)
    return {
        "nproc": cpus,
        "SPARK_GRAFT_CPUS": cpus,
        "SPARK_GRAFT_DRIVER_MEM": env["SPARK_GRAFT_DRIVER_MEM"],
        "mem_total_mb": host.mem_total_mb(),
        "scratch": scratch,
    }


def reset_session(spark) -> None:
    """Drop what a pass left in the session: caches, persisted RDDs,
    streaming memory sinks and any stream still running."""
    for q in spark.streams.active:
        q.stop()
    spark.catalog.clearCache()
    for jrdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        jrdd.unpersist()
    for t in spark.catalog.listTables():
        if t.isTemporary:
            spark.catalog.dropTempView(t.name)


class Run:
    """The ops of one workload and the run's failure accounting."""

    def __init__(self, ops, input_dir, facts):
        self.ops = ops
        self.input_dir, self.facts = input_dir, facts
        self.attempted = 0
        self.failures: list[str] = []
        self.hashes: dict[str, str] = {}

    def one_pass(self, spark, collect: bool, span=None) -> float:
        """Run every op once; return the summed op wall time."""
        import checks
        from workloads import PassContext

        ctx = PassContext(spark, self.input_dir, self.facts, collect=collect)
        if span is not None:
            ctx.span = span
        wall = 0.0
        for op in self.ops:
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                out = op.run(ctx)
            except Exception:
                wall += time.perf_counter() - t0
                self.failures.append(f"{op.name}: {traceback.format_exc(limit=-2)}")
                continue
            wall += time.perf_counter() - t0
            if collect:
                try:
                    if op.check is not None:
                        op.check(out)
                    else:
                        self.hashes[op.name] = checks.canonical_hash(out)
                except Exception as e:
                    self.failures.append(f"{op.name}: {type(e).__name__}: {e}")
        reset_session(spark)
        return wall


def stop_spark(spark) -> None:
    """Stop the session and the JVM, and wait for every process this run
    started to end."""
    import host
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits on EOF of its stdin
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + 30
    while host.descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in host.descendants(os.getpid()):
        os.kill(pid, signal.SIGKILL)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: {PACKAGE} not found next to {HERE}; run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    warnings.filterwarnings("ignore")
    signal.alarm(DEADLINE_S)

    import gen
    import host
    import spans
    import workloads as wl

    if args.workload not in wl.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload}; one of {sorted(wl.WORKLOADS)}",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work")
    config = configure_env(work)
    workload = wl.WORKLOADS[args.workload]
    input_dir, facts = gen.ensure_inputs(work, args.seed)
    oracles = wl.oracle_results(list(workload.entries), input_dir)
    ops = workload.ops(args.seed, facts, oracles)

    from pyspark_mllib_twitter_spark.session import get_spark

    run = Run(ops, input_dir, facts)
    extra = {
        "spark.sql.warehouse.dir": os.path.join(config["scratch"], "warehouse"),
        # Initial heap = max heap. Left to grow, G1 settled on different heap
        # sizes run to run, and small-heap runs read 25% slower passes.
        # (Prepended to the program's own spark.driver.extraJavaOptions.)
        "spark.driver.defaultJavaOptions": f"-Xms{config['SPARK_GRAFT_DRIVER_MEM']}",
    }
    weather0 = host.cpu_times()
    me = os.getpid()

    # -- set-up: JVM launch and session start, then one checked warm-up pass
    t0 = time.perf_counter()
    spark = get_spark(extra_conf=extra)
    start_s = time.perf_counter() - t0
    span = lambda name: contextlib.nullcontext()  # noqa: E731
    if args.trace:
        listener = spans.ProgressListener(spark)
        tracer = spans.Tracer(spark, listener)
        span = tracer.span
    t0 = time.perf_counter()
    with span("session.warmup"):
        run.one_pass(spark, collect=True)
    warmup_s = time.perf_counter() - t0
    setup_steal = host.steal_share(weather0, host.cpu_times())
    setup_s = (start_s + warmup_s) * (1.0 - setup_steal)
    rss_setup = host.peak_rss_mb(host.descendants(me))
    # Each timed pass starts from a collected heap, so garbage a pass leaves
    # is not charged to the next one, and heap growth (peak RSS) repeats
    # from run to run.
    gc = spark.sparkContext._jvm.System.gc
    gc()
    if args.trace:
        start = spans.Span("session.start")
        start.wall = start_s
        setup_layers = spans.pass_totals([start] + tracer.take(), tracer.cores)

    # -- timed passes ------------------------------------------------------
    plain, traced, cpu, layers = [], [], [], []  # pass times net of steal
    raw_s, steal = [], []  # every timed pass, in order
    t_begin = time.perf_counter()
    while (time.perf_counter() - t_begin < args.seconds or not plain
           or (args.trace and not traced)):
        with_trace = bool(args.trace) and len(plain) > len(traced)
        c0 = host.cpu_seconds(host.descendants(me))
        w0 = host.cpu_times()
        if with_trace:
            with spans.wrapped(tracer, wl.wrap_targets()):
                wall = run.one_pass(spark, collect=False, span=tracer.span)
        else:
            wall = run.one_pass(spark, collect=False)
            cpu.append(host.cpu_seconds(host.descendants(me)) - c0)
        share = host.steal_share(w0, host.cpu_times())
        (traced if with_trace else plain).append(wall * (1.0 - share))
        raw_s.append(wall)
        steal.append(share)
        if with_trace:
            layers.append(spans.pass_totals(tracer.take(), tracer.cores))
        gc()
    rss = host.peak_rss_mb(host.descendants(me))
    if args.trace:
        listener.close()
    stop_spark(spark)
    shutil.rmtree(config.pop("scratch"), ignore_errors=True)

    # -- report ------------------------------------------------------------
    if args.trace:
        names = [n for n, _ in spans.layer_metrics()]
        units = dict(spans.layer_metrics())
        values = {}
        for n in names:
            pool = [setup_layers] if n.startswith("session.") else layers
            values[n] = median([p.get(n, 0.0) for p in pool])
        values["trace.job_s"] = median(traced)
        values["trace.untraced_job_s"] = median(plain)
        values["trace.overhead_frac"] = median(traced) / median(plain) - 1.0
    else:
        units = E2E_UNITS
        values = {
            "job_s": median(plain),
            "setup_s": setup_s,
            "cpu_core_s": median(cpu),
            "peak_rss_mb": rss,
        }
    failed = len(run.failures)
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "config": config,
        "weather": host.weather(weather0, host.cpu_times()),
        "samples": {"timed_passes": len(plain), "traced_passes": len(traced)},
        "pass_s": raw_s,
        "pass_steal_share": steal,
        "session_start_s": start_s,
        "warmup_s": warmup_s,
        "setup_steal_share": setup_steal,
        "rss_after_setup_mb": rss_setup,
        "error_rate": failed / run.attempted,
        "ops": [op.name for op in ops],
        "hashes": run.hashes,
        "failures": run.failures[:MAX_REPORTED_FAILURES],
    }
    print("perfbench-report " + json.dumps(report, sort_keys=True))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": run.attempted,
        "failed": failed,
        "metrics": {n: {"value": v, "unit": units[n]} for n, v in values.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
