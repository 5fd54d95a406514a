"""Benchmark entry point.

    python3 perfbench/run.py --workload batch_etl --seed 1 --seconds 6 --trace 0

Runs one workload from the checkout root: starts one Spark session
(``local[nproc]``, every other engine default unchanged), bootstraps
the workload's tables, runs untimed warm-up ops, then runs timed ops in
a closed loop (one client thread) for at least ``--seconds`` seconds
and at least the workload's ``min_timed_ops`` ops, checks the
outputs against DuckDB over the generated inputs, and prints one JSON
object as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with
``--trace 1`` they are the per-layer ones, from spans around the
engine's entry points and the Spark event log (see layers.py). The line
before it is a JSON record of the run: host, traffic dimensions, op
times, the warm-up check and, when traced, every span counter.

Everything the run writes stays under ``.perfbench_work/`` in the
current directory, which is removed when the run ends. Without the
engine package in the current directory the run fails before printing
a result.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
# The engine is imported from the current directory (the checkout
# root), so one copy of this benchmark can measure several checkouts.
sys.path[:0] = [HERE, os.getcwd()]

import gen  # noqa: E402
import hostinfo  # noqa: E402
import stats  # noqa: E402

# The percentile recorded as op_tail_s. A run reaches 2 (corpus_curation)
# or 5 (batch_etl, stream_ingest) timed ops (README "Tail percentile"),
# so no percentile has ten ops beyond it; each run records how many it
# has.
TAIL_PCT = 75
WORKLOADS = ("batch_etl", "stream_ingest", "corpus_curation")
WORK_DIR = ".perfbench_work"
# A run whose first-half median op time exceeds its second-half median
# by more than this factor was still warming up, and is flagged.
WARMUP_LIMIT = 1.10
# A run that has not finished by then kills its JVM and exits non-zero
# without a result (runs take 35-60 s; 180 s is the allowed maximum).
RUN_LIMIT_S = 170


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if args.seed < 0 or args.seconds <= 0:
        p.error("--seed must be >= 0 and --seconds > 0")
    return args


def _configure_env(work: str) -> None:
    """Host-sized parallelism and checkout-local scratch space; set
    before the engine is imported (session.py reads SPARK_GRAFT_CPUS at
    import, and defaults to 32 cores without it)."""
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    for d in ("tmp", "spark-local"):
        os.makedirs(f"{work}/{d}", exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = f"{work}/spark-local"
    os.environ["TMPDIR"] = f"{work}/tmp"


def _spark_conf(work: str, trace: bool) -> dict[str, str]:
    conf = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
    }
    if trace:
        os.makedirs(f"{work}/eventlog", exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{work}/eventlog",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


def _jvm_gc_s(spark) -> float:
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM this process launched to
    exit; `_end_jvm` in `main` kills it if this does not finish."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    if gateway.proc.stdin:
        gateway.proc.stdin.close()  # the gateway JVM exits on stdin EOF
    gateway.proc.wait(timeout=60)


def _end_jvm() -> None:
    """Kill the JVM this process launched if it is still running: the
    gateway JVM outlives a Python process that exits without stopping
    it."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None and proc.poll() is None:
        proc.kill()
        proc.wait(timeout=30)


def _abort(work: str) -> None:
    """Watchdog: kill the JVM, clean up and exit without a result."""
    _end_jvm()
    shutil.rmtree(work, ignore_errors=True)
    print(f"run exceeded {RUN_LIMIT_S} s", file=sys.stderr, flush=True)
    os._exit(3)


def main(argv: list[str]) -> int:
    age_at_main = hostinfo.process_age_s()
    t_main = time.monotonic()
    args = parse_args(argv)
    work = os.path.abspath(WORK_DIR)
    shutil.rmtree(work, ignore_errors=True)
    _configure_env(work)
    # SIGTERM unwinds through the finally blocks, which stop the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    watchdog = threading.Timer(RUN_LIMIT_S - hostinfo.process_age_s(), _abort, (work,))
    watchdog.daemon = True
    watchdog.start()
    try:
        record, result = run(args, work, lambda: age_at_main + time.monotonic() - t_main)
    finally:
        watchdog.cancel()
        _end_jvm()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(record, sort_keys=True))
    print(json.dumps(result))
    return 0


def run(args, work: str, since_start) -> tuple[dict, dict]:
    import pyspark

    import layers
    import workloads
    from group_2_shopware_enterprise_data_engineering_project_spark import session

    host = hostinfo.HostRecord()
    tracer = layers.Tracer()
    if args.trace:
        layers.wrap_engine(tracer)
    gen_s = 0.0

    pre_session_s = since_start()
    with tracer.span("session.get_spark") as s_spark:
        spark = session.get_spark("perfbench", extra_conf=_spark_conf(work, bool(args.trace)))
    spark.sparkContext.setLogLevel("ERROR")
    tracer.attach(spark.sparkContext)
    wl = workloads.WORKLOADS[args.workload](spark, args.seed, f"{work}/data")
    times: list[float] = []
    op_steal: list[float] = []  # host steal share during each timed op
    timed: list[int] = []
    errors: list[str] = []
    rows = failed = 0
    warmup_times: list[float] = []
    try:
        t = time.monotonic()
        gen_s += wl.bootstrap()
        bootstrap_s = time.monotonic() - t
        for i in range(wl.warmup_ops):
            t = time.monotonic()
            wl.prepare(i)
            t0 = time.monotonic()
            gen_s += t0 - t
            wl.op(i)
            warmup_times.append(time.monotonic() - t0)
            wl.after(i)
        setup_s = since_start() - gen_s

        from group_2_shopware_enterprise_data_engineering_project_spark.streaming import metrics as stream_metrics

        gc0 = _jvm_gc_s(spark)
        capture = stream_metrics.capture_progress(spark) if args.trace else contextlib.nullcontext()
        with capture as progress:
            t_phase, wall_phase = time.monotonic(), time.time()
            i = wl.warmup_ops
            while time.monotonic() - t_phase < args.seconds or i - wl.warmup_ops < wl.min_timed_ops:
                t = time.monotonic()
                wl.prepare(i)
                gen_s += time.monotonic() - t
                tracer.op = i
                j0 = hostinfo.cpu_jiffies()
                t0 = time.monotonic()
                try:
                    # the root span takes the jobs the op runs outside
                    # any layer span (e.g. the reads' collect)
                    with tracer.span("op") if args.trace else contextlib.nullcontext():
                        rows += wl.op(i)
                    times.append(time.monotonic() - t0)
                    op_steal.append(hostinfo.steal_pct(j0, hostinfo.cpu_jiffies()))
                    timed.append(i)
                except Exception as exc:  # counted against ops attempted
                    failed += 1
                    errors.append(f"op {i}: {type(exc).__name__}: {exc}"[:300])
                tracer.op = None
                wl.after(i)
                i += 1
            t_phase_end, wall_phase_end = time.monotonic(), time.time()
            gc_s = _jvm_gc_s(spark) - gc0
            if progress is not None:
                time.sleep(1.0)  # the listener bus delivers progress events asynchronously
        batches = list(progress.batches) if progress is not None else []

        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        peak_rss_mb = hostinfo.vm_hwm_mb(jvm_pid) + hostinfo.vm_hwm_mb("self")
        wl.snapshot()
        extras = wl.layer_extras() if args.trace else {}
        driver_mem = spark.conf.get("spark.driver.memory")
    finally:
        tracer.unwrap_all()
        _stop_spark(spark)

    t = time.monotonic()
    mismatches = wl.check()
    check_s = time.monotonic() - t
    attempted = len(times) + failed
    if mismatches:
        errors += mismatches
        failed = attempted  # the final state is wrong, so no op can be trusted
    if not times:
        raise RuntimeError(f"no timed op succeeded: {errors[:3]}")

    halves = stats.halves_ratio(times)
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "host": host.finish(driver_memory=driver_mem, pyspark=pyspark.__version__),
        "traffic": gen.traffic()[args.workload],
        "input_gen_s": round(gen_s, 4),
        "check_s": round(check_s, 4),
        "timed_phase_s": round(t_phase_end - t_phase, 4),
        "pre_session_s": round(pre_session_s, 4),
        "session_s": round(s_spark.t1 - s_spark.t0, 4),
        "bootstrap_s": round(bootstrap_s, 4),
        "warmup_op_times_s": [round(x, 4) for x in warmup_times],
        "op_times_s": [round(x, 4) for x in times],
        "op_steal_pct": [round(x, 2) for x in op_steal],
        "tail_percentile": TAIL_PCT,
        "ops_beyond_tail": stats.beyond(times, TAIL_PCT),
        "highest_percentile_with_10_beyond": stats.highest_supported_percentile(len(times)),
        "warmup_check": {
            "first_over_second_half_median": round(halves, 4),
            "limit": WARMUP_LIMIT,
            "passed": halves <= WARMUP_LIMIT,
        },
        "flags": [] if halves <= WARMUP_LIMIT else ["warmup_check_failed"],
        "errors": errors,
    }
    e2e = {
        "setup_s": (setup_s, "s"),
        "op_p50_s": (statistics.median(times), "s"),
        "rows_per_s": (rows / sum(times), "rows/s"),
    }
    record["end_to_end"] = {k: v for k, (v, _) in e2e.items()}
    # Recorded, not benchmark metrics (README "Bounds"): with 2-5 timed
    # ops the p75 is one op's time and spread past its bound between
    # runs of the same code; the JVM's high-water mark follows heap
    # growth, which GC timing decides, and repeated only within ~30%.
    record["op_tail_s"] = stats.percentile(times, TAIL_PCT)
    record["peak_rss_mb"] = peak_rss_mb
    metrics = e2e
    if args.trace:
        jobs = layers.parse_event_log(layers.event_log_file(f"{work}/eventlog"))
        unattributed = layers.attribute(tracer.spans, jobs)
        per_span = layers.layer_metrics(tracer.spans, jobs, timed)
        n = len(timed)
        # every workload prints every layer's metrics; a layer the
        # workload does not use reads 0
        metrics = {
            name: (per_span.get(span, {}).get(counter, 0.0), unit)
            for name, unit in layers.per_layer_names(WORKLOADS)
            for span, _, counter in [name.rpartition(".")]
        }
        metrics["session.get_spark.wall_s"] = (s_spark.t1 - s_spark.t0, "s")
        metrics["jvm.gc_s"] = (gc_s / n, "s")
        for k, v in {**layers.progress_metrics(batches, n), **extras}.items():
            if k in metrics:
                metrics[k] = (v, metrics[k][1])
        record["spans_per_op"] = per_span
        record["jobs_total"] = len(jobs)
        record["jobs_timed_unattributed"] = sum(
            1 for j in unattributed if wall_phase <= jobs[j].submit_s <= wall_phase_end
        )
        record["per_layer"] = {k: v for k, (v, _) in metrics.items()}
    result = {
        "correct": not errors,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return record, result


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
