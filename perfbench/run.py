"""The repository benchmark: one workload, one seed, one process.

    python3 perfbench/run.py --workload mirror_cdc --seed 7 --seconds 10 --trace 0

Run from the repository root.  The package is used unmodified, on
``local[nproc]`` in this one driver process.  After set-up the workload
runs whole rounds for about ``--seconds`` (at least one round), then
checks its outputs outside the timed window.  The last line of
standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` -- the end-to-end metrics with ``--trace 0``.
With ``--trace 1`` two rounds run instead (traced, then untraced) and
the metrics are the per-layer ones of the first.  Lines
before the JSON are a readable report (noise stamps, workload-native
figures and tails).
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: driver heap: fits a 15 GB host beside the Python workers
DRIVER_MEM = "4g"

#: end-to-end metric -> unit (BENCHMARK.json holds direction and bound)
END_TO_END = {
    "setup_s": "s",
    "op_cpu_s.mean": "s",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "mirror_lake_kusto_spark")):
        print(f"package mirror_lake_kusto_spark not found under {ROOT}", file=sys.stderr)
        return 2
    cores = len(os.sched_getaffinity(0))
    work_root = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(work_root, f"{args.workload}-{os.getpid()}")
    # read by the package's session builder at import time, and inherited
    # by the JVM and its Python workers
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p)
    sys.path[:0] = [HERE, ROOT]

    from workloads import WORKLOADS  # imports the package

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; known: {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    os.makedirs(os.environ["SPARK_LOCAL_DIRS"])
    try:
        return run(args, cores, work, WORKLOADS[args.workload])
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(work_root)
        except OSError:
            pass  # another run still uses it


def run(args, cores: int, work: str, workload_cls) -> int:
    from mirror_lake_kusto_spark.session import build_session
    from proc import cpu_stat, engine_cpu_s, rss_mb

    load0 = os.getloadavg()
    cpu0 = cpu_stat()
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    eventlog_dir = os.path.join(work, "eventlog")
    if args.trace:
        os.makedirs(eventlog_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + eventlog_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    t0 = time.perf_counter()
    spark = build_session(app_name=f"perfbench-{args.workload}", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    start_s = time.perf_counter() - t0
    jvm_pid = None
    try:
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        t0 = time.perf_counter()
        spark.range(0, 100_000, 1, cores).selectExpr("sum(id)").collect()
        warmup_s = time.perf_counter() - t0

        wl = workload_cls(spark, os.path.join(work, "wl"), args.seed,
                          cpu_clock=lambda: engine_cpu_s(jvm_pid))
        wl.setup()
        setup_s = time.perf_counter() - T_START

        if args.trace:
            finish = traced(wl, cores, eventlog_dir,
                            {"session.start_s": start_s, "session.warmup_s": warmup_s})
        else:
            # whole rounds, starting another only while it is expected to
            # end within --seconds, so the round count does not flip
            # between runs whose rounds take about --seconds
            t_win = time.perf_counter()
            while True:
                wl.round()
                elapsed = time.perf_counter() - t_win
                if elapsed + wl.round_walls[-1] > args.seconds:
                    break
        wl.check()
        peak = rss_mb() + rss_mb(jvm_pid)
    finally:
        stop_spark(spark)
    if args.trace:
        import layers

        metrics, units = finish(wl, peak), layers.PER_LAYER
    else:
        cpu_s = wl.samples["op_cpu_s"]
        metrics = {
            "setup_s": setup_s,
            # 0 only when every operation failed (the run is then incorrect)
            "op_cpu_s.mean": statistics.fmean(cpu_s) if cpu_s else 0.0,
        }
        units = END_TO_END
    cpu1 = cpu_stat()
    steal = 100.0 * (cpu1[1] - cpu0[1]) / max(1, cpu1[0] - cpu0[0])
    print_report(args, wl, cores, load0, steal, peak)
    result = {
        "correct": wl.failed == 0,
        "attempted": max(1, wl.attempted),
        "failed": wl.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


def stop_spark(spark, timeout_s: float = 60.0) -> None:
    """Stop the session, end the JVM (it exits when its stdin closes)
    and wait until it and its Python workers are gone, so no process
    outlives the run."""
    from pyspark import SparkContext

    from proc import descendants, running

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    children = descendants(proc.pid) if proc is not None else set()
    spark.stop()
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()
    proc.wait(timeout=timeout_s)
    deadline = time.monotonic() + timeout_s
    while any(running(p) for p in children):
        if time.monotonic() > deadline:
            raise TimeoutError(f"Spark worker processes still running: {sorted(children)}")
        time.sleep(0.05)


def traced(wl, cores, eventlog_dir, session):
    """A traced round, then an untraced one.  The traced round runs right
    after set-up, like the timed round of an untraced run, and gives the
    per-layer metrics; the tracing overhead compares the two rounds'
    wall times.  Rounds still get a little faster as the JIT compiles
    more, so the overhead reads somewhat high.  Returns a function of
    the checked workload giving the per-layer metrics (the event log can
    only be read once the session has stopped)."""
    import eventlog
    import layers
    from spans import Tracer

    def timed_round(tracer):
        if tracer is not None:
            layers.install(tracer)
            wl.tracer = tracer
        t0 = time.perf_counter()
        try:
            wl.round()
        finally:
            wall = time.perf_counter() - t0
            if tracer is not None:
                tracer.uninstall()
                wl.tracer = None
        return wall

    tracer = Tracer()
    w0 = time.time() * 1000
    traced_s = timed_round(tracer)
    w1 = time.time() * 1000
    untraced_s = timed_round(None)

    def finish(wl, peak_rss_mb):
        summary = eventlog.summarize(eventlog.read_events(eventlog_dir), w0, w1, cores)
        extra = dict(session)
        extra.update({
            "mirror.space_amp": wl.space_amp,
            "memory.peak_rss_mb": peak_rss_mb,
            "trace.wall_s": traced_s,
            "trace.overhead_pct": 100.0 * (traced_s / untraced_s - 1.0),
        })
        return layers.metrics(tracer, summary, extra)

    return finish


def print_report(args, wl, cores, load0, steal, peak_rss_mb) -> None:
    from stats import tail

    print(f"# perfbench {args.workload} seed={args.seed} trace={args.trace} "
          f"op={wl.op!r}")
    print(f"# noise: nproc={cores} loadavg_start={load0[0]:.2f} "
          f"loadavg_end={os.getloadavg()[0]:.2f} steal_pct={steal:.2f} "
          f"peak_rss_mb={peak_rss_mb:.0f} (driver Python + JVM)")
    print(f"# rounds={len(wl.round_walls)} ops={sum(wl.round_ops)} "
          f"attempted={wl.attempted} failed={wl.failed} "
          f"error_rate={wl.failed / max(1, wl.attempted):.4f}")
    if wl.round_walls:
        print(f"# ops_per_s [1/s]: {sum(wl.round_ops) / sum(wl.round_walls):.4f} (wall)")
    for name, (unit, values) in wl.report().items():
        if not values:
            continue
        t = tail(values)
        tail_txt = (f"tail={t[0]:.4f} (p{t[1]:.1f}, n={t[2]})" if t
                    else f"tail=n/a (n={len(values)} <= 10)")
        print(f"# {name} [{unit}]: p50={statistics.median(values):.4f} {tail_txt}")
    if wl.space_amp:
        print(f"# space_amp: {wl.space_amp:.4f}")
    for err in wl.errors:
        print(f"# FAILED {err}")


if __name__ == "__main__":
    sys.exit(main())
