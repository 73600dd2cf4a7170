"""Benchmark entry point.

    python3 perfbench/run.py --workload ingest_rollup --seed 1 \
        --seconds 15 --trace 0

Run from the repository root. One process, ``local[nproc]``, one
closed-loop client. Set-up (input generation, session start, a fixed
warm-up) is timed as ``setup_s``; then ops run until ``--seconds`` have
passed. The last stdout line is the result object; the line before it
(``{"info": ...}``) carries host telemetry, the kernel ledger and the
figures that are not gated metrics. With ``--trace 1`` alternate blocks
of iterations are traced and the per-layer metrics are reported instead of
the end-to-end ones. Exits non-zero without a result when the package
under test is not beside this directory. See NOTES.md.
"""

T0 = __import__("time").perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import time  # noqa: E402
import traceback  # noqa: E402

import probes  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "json_time_series_extractor_spark"
#: Untraced and traced blocks a traced run measures at least, even when
#: they outlast ``--seconds``.
TRACED_MIN_BLOCKS = 3


def _session(work: str, nproc: int, trace: bool, conf: dict):
    from json_time_series_extractor_spark.plans.session import get_spark

    tmp = os.path.join(work, "tmp")
    extra = {
        # The library default (16g) does not fit beside other processes.
        # The heap is fixed and pre-touched, so it is always exactly
        # resident and `peak_rss_nonheap_mb` can subtract it: left to G1,
        # the whole tree's peak moved by up to 24% between runs.
        "spark.driver.memory": "2g",
        "spark.ui.showConsoleProgress": "false",
        # Python workers import the package from this checkout.
        "spark.executorEnv.PYTHONPATH": ROOT,
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # C1 only (`TieredStopAtLevel=1`): with C2, PromQL queries kept
        # getting faster for 20+ rotations and settled at a speed that
        # differed by up to 25% between runs, so `op_p50_ms` spread 0.33
        # over five seeds; with C1 it is flat from the first rotation and
        # spread 0.05-0.10 (NOTES.md, "JIT").
        "spark.driver.extraJavaOptions":
            f"-Xms2g -XX:+AlwaysPreTouch -XX:-UsePerfData "
            f"-XX:TieredStopAtLevel=1 -Djava.io.tmpdir={tmp}",
        "spark.eventLog.enabled": "true" if trace else "false",
        **conf,
    }
    if trace:
        extra["spark.eventLog.dir"] = os.path.join(work, "events")
        extra["spark.eventLog.compress"] = "false"
        os.makedirs(extra["spark.eventLog.dir"])
    return get_spark(app_name="perfbench", master=f"local[{nproc}]",
                     shuffle_partitions=max(nproc, 8), extra_conf=extra)


def _stop(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
        gateway.shutdown()
    finally:
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = SparkContext._jvm = None


def _declared() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"{PACKAGE}/ not found beside perfbench/ (run from a "
              "checkout of the repository)", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; have {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    cls = WORKLOADS[args.workload]
    declared = _declared()
    nproc = probes.nproc()
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # The launcher JVM of spark-submit writes hsperfdata to /tmp otherwise.
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"

    # A terminated run still stops its JVM and removes its work directory.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    host = {"host.nproc": nproc, "host.loadavg_start": probes.loadavg()}
    cpu0 = probes.cpu_times()
    tracer = probes.Tracer()
    spark = None
    try:
        spark = _session(work, nproc, bool(args.trace),
                         cls.session_conf(nproc))
        w = cls(spark, work, args.seed, tracer, nproc)
        if args.trace:
            w.install_spans()
        w.setup()
        # Memory is sampled over the measuring window only: set-up also
        # holds the generator's data, which `setup` drops before it ends.
        with probes.PeakRss() as rss:
            result = _measure(w, args, tracer, spark)
        result["setup_s"] = result.pop("_first_op") - T0
        result["jvm_heap_mb"] = probes.heap_committed_mb(spark)
        ledger = w.ledger()
        layers = w.layer_metrics(ledger) if args.trace else {}
        host["host.calib_ms"] = probes.calib_ms(spark)
        _stop(spark)
        spark = None
        result["peak_rss_mb"] = rss.peak_mb
        result["peak_rss_nonheap_mb"] = rss.peak_mb - result["jvm_heap_mb"]
        result["rss_at_peak_mb"] = rss.split_mb()
        host["host.loadavg_end"] = probes.loadavg()
        host["host.steal_share"] = probes.steal_share(cpu0,
                                                      probes.cpu_times())
        if args.trace:
            layers.update(_spark_layers(w, result, tracer, work, nproc))
            traces = os.path.join(ROOT, ".perfbench_work", "traces")
            os.makedirs(traces, exist_ok=True)
            tracer.write(os.path.join(
                traces, f"{args.workload}-seed{args.seed}.json"))
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        try:
            if spark is not None:
                _stop(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)

    section = "per_layer" if args.trace else "end_to_end"
    values = {**result, **host, **ledger, **layers}
    metrics = {}
    for m in declared[section]:
        if m["name"] in values:
            v = values[m["name"]]
        elif section == "per_layer":
            v = 0.0  # layer not exercised by this workload
        else:
            raise KeyError(m["name"])
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    info = {k: v for k, v in values.items() if k not in metrics
            and not k.startswith("_")}
    print(json.dumps({"info": info}))
    print(json.dumps({"correct": result["_failed"] == 0,
                      "attempted": result["_attempted"],
                      "failed": result["_failed"], "metrics": metrics}))
    return 0


def _measure(w, args, tracer, spark) -> dict:
    """Closed loop: ``prepare`` (untimed), then ``op`` and ``noop``, until
    the window closes. A traced run alternates untraced and traced blocks
    of ``w.trace_block`` iterations; its ``trace.overhead_ms`` is the
    median traced iteration (traced op + no-ops) minus the median untraced
    one (op + no-ops), averaged over op keys."""
    times = {}        # op key -> untraced op seconds
    iters = ({}, {})  # untraced, traced: op key -> iteration seconds
    noops = []
    attempted = failed = 0
    gc_traced = 0.0
    errors = []

    def attempt(fn, i):
        nonlocal attempted, failed
        attempted += 1
        t0 = time.perf_counter()
        try:
            fn(i)
        except Exception as exc:  # counted, reported, never dropped
            failed += 1
            if len(errors) < 5:
                errors.append(f"{fn.__name__}#{i}: {exc!r}")
            return None
        return time.perf_counter() - t0

    i = 1
    least = (2 * TRACED_MIN_BLOCKS * w.trace_block if args.trace
             else w.min_iterations)
    first = time.perf_counter()
    deadline = first + args.seconds
    while time.perf_counter() < deadline or i <= least:
        w.prepare(i)
        traced = bool(args.trace) and (i - 1) // w.trace_block % 2 == 1
        t0 = time.perf_counter()
        if traced:
            tracer.enabled, tracer.iteration = True, i
            g0 = probes.gc_ms(spark)
            attempt(w.traced_op, i)
            gc_traced += probes.gc_ms(spark) - g0
            for _ in range(w.noops_per_op):
                attempt(w.traced_noop, i)
            tracer.enabled = False
            spark.sparkContext.setJobDescription(None)
        else:
            t = attempt(w.op, i)
            if t is not None:
                times.setdefault(w.op_key(i), []).append(t)
            for _ in range(w.noops_per_op):
                t = attempt(w.noop, i)
                if t is not None:
                    noops.append(t)
        iters[traced].setdefault(w.op_key(i), []).append(
            time.perf_counter() - t0)
        i += 1
    spark.sparkContext.setJobDescription(None)
    for e in errors:
        print("FAILED", e, file=sys.stderr)

    medians = [statistics.median(v) for v in times.values()]
    op_p50 = statistics.mean(medians) if medians else float("nan")
    out = {"_first_op": first, "_attempted": attempted, "_failed": failed,
           "_gc_traced_ms": gc_traced,
           "op_p50_ms": op_p50 * 1000.0,
           "noop_ms": statistics.median(noops) * 1000.0 if noops else 0.0,
           "throughput_per_s": w.items_per_op / op_p50,
           "ops": sum(len(v) for v in times.values()),
           "op_ms": {k: [round(t * 1000.0, 1) for t in v]
                     for k, v in times.items()},
           "error_rate": failed / max(attempted, 1)}
    both = [k for k in iters[True] if k in iters[False]]
    if both:
        out["trace.overhead_ms"] = 1000.0 * statistics.mean(
            statistics.median(iters[True][k])
            - statistics.median(iters[False][k]) for k in both)
    out.update(w.extra_metrics(times))
    return out


def _spark_layers(w, result, tracer, work, nproc) -> dict:
    """Event-log counts of the traced ops."""
    out = {}
    ops = {k: v for k, v in tracer.durations().items()
           if k == "op" or k.startswith("op.")}
    n_ops = sum(len(v) for v in ops.values())
    ev = probes.eventlog_summary(os.path.join(work, "events")).get("op")
    if ev and n_ops:
        op_ms = 1000.0 * sum(sum(v) for v in ops.values())
        out.update({
            "spark.jobs": ev["jobs"] / n_ops,
            "spark.tasks": ev["tasks"] / n_ops,
            "spark.shuffle_write_mb": ev["shuffle_write"] / n_ops / (1 << 20),
            "spark.task_busy_share": ev["task_ms"] / (op_ms * nproc),
            "spark.gc_ms": result["_gc_traced_ms"] / n_ops,
        })
        if w.jobs_metric:
            out[w.jobs_metric] = out["spark.jobs"]
    return out


if __name__ == "__main__":
    sys.exit(main())
