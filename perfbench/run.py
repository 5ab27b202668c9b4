"""Benchmark of the engine's index build and BM25 query paths.

Run from the root of a checkout:

    python3 perfbench/run.py --workload read --seed 1 --seconds 16 --trace 0

Workloads: read, write (see workloads.py), or ``all`` to run both in one
process and print the engine's fourteen named metrics.
``--trace 0`` prints the end-to-end metrics of BENCHMARK.json; ``--trace 1``
runs the same loop traced and prints the per-layer metrics.  ``--src DIR``
measures the engine source tree in DIR (for example a checkout of another
revision) with this benchmark's code; it goes on the path of the driver and
of the Python workers.  ``--tiny`` shrinks
every input so that a run takes seconds (the self-test).

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.  All scratch files stay
under ``.perfbench_work`` in the working directory and are removed at exit;
the span dump of a traced run is written to ``.perfbench_out``.  The
served index is built on first use, by a process of its own, and kept in
``.perfbench_cache`` for later runs of the same engine source.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

from proc import CpuClock, RssSampler

PKG = "kafka_elasticsearch_standalone_consumer_spark"
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CPUS = 4
DRIVER_MEM = "2g"
RUN_LIMIT_S = 170  # per workload; the benchmark contract allows 180 s a run

# Named end-to-end metrics of the engine, printed by every untraced run for
# the workloads it ran (all of them with --workload all).
NAMED_UNITS = {
    "setup_s": "s", "peak_rss_mb": "MB", "failed_op_ratio": "ratio",
    "build_turns_per_s": "turns/s", "index_bytes_per_text_byte": "ratio",
    "serve_p50_ms": "ms", "serve_p99_ms": "ms", "serve_qps": "queries/s",
    "spark_query_p50_ms": "ms", "spark_query_p90_ms": "ms",
    "batch_queries_per_s": "queries/s", "refresh_p50_s": "s",
    "ingest_query_p50_ms": "ms", "ingest_query_p99_ms": "ms",
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["read", "write", "all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--src", default=ROOT, help="engine source tree to measure")
    ap.add_argument("--tiny", action="store_true", help="self-test input sizes")
    ap.add_argument("--work", default=os.path.join(os.getcwd(), ".perfbench_work", str(os.getpid())),
                    help="scratch directory, removed at exit")
    ap.add_argument("--cache", default=os.path.join(os.getcwd(), ".perfbench_cache"),
                    help="where the served index is kept between runs")
    ap.add_argument("--build-served", action="store_true",
                    help="only build the served index into the cache")
    return ap.parse_args(argv)


def start_session(src: str, work: str, event_dir: str | None):
    """A local[4] session whose scratch, temp files and event log stay in
    ``work``; ``src`` is put on the driver's and the workers' path."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["KESC_SPARK_LOCAL_DIR"] = os.path.join(work, "spark-local")
    os.environ["KESC_DRIVER_MEM"] = DRIVER_MEM
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [src] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    from kafka_elasticsearch_standalone_consumer_spark.session import get_spark

    from spans import event_log_conf

    conf = {"spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
            # a heap committed and touched up front: the JVM's resident size
            # no longer depends on when the collector grows the heap, and
            # the engine's own JVM options (extraJavaOptions) stay in force
            "spark.driver.defaultJavaOptions": f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch"}
    if event_dir is not None:
        conf.update(event_log_conf(event_dir))
    return get_spark(app_name="perfbench", master=f"local[{CPUS}]", extra_conf=conf)


def stop_session(spark) -> None:
    """Stop Spark and wait until the driver JVM (and with it the Python
    workers it started) has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def abort(work: str) -> None:
    """A run that hangs (a stuck Spark job) must still end in time: kill
    the driver JVM and its workers, remove the scratch and exit non-zero."""
    print("perfbench: run exceeded its time limit; aborting", file=sys.stderr)
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        proc.kill()
        proc.wait()
    shutil.rmtree(work, ignore_errors=True)
    os._exit(3)


def cpu_jiffies() -> tuple[int, int]:
    """(all, steal) CPU time of the host so far, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return sum(ticks), ticks[7]


def tracing_overhead(b, wl) -> float:
    """Traced minus untraced search_local latency (medians), as a
    percentage of the untraced: alternating passes of the workload's queries
    on one index, so the host's drift between passes cancels."""
    from workloads import install_tracer

    lat: dict[bool, list[float]] = {False: [], True: []}
    for traced in (False, True, False, True):
        tracer = install_tracer(b) if traced else None
        for q in wl.queries:
            t0 = time.perf_counter()
            wl.timed_query(wl.idx, q)
            lat[traced].append(time.perf_counter() - t0)
        if tracer is not None:
            tracer.unwrap_all()
            b.tracer = None
    return 100.0 * (statistics.median(lat[True]) / statistics.median(lat[False]) - 1.0)


def run_workload(b, wl, seconds: float):
    """Set up, measure, check.  Returns (e2e, named, samples, tracer)."""
    from workloads import install_tracer

    t0 = time.perf_counter()
    wl.setup()
    t1 = time.perf_counter()
    cpu0 = cpu_jiffies()
    tracer = install_tracer(b) if b.traced else None
    smp = wl.loop(seconds)
    if tracer is not None:
        tracer.unwrap_all()
        b.tracer = None
        if hasattr(wl, "probes"):
            wl.probes(smp)
        wl.overhead_pct = tracing_overhead(b, wl)
    e2e, named = wl.e2e(smp)
    t2 = time.perf_counter()
    cpu1 = cpu_jiffies()
    wl.post_check()
    # CPU time the hypervisor gave to other guests during the loop: a slow
    # run with a high share was slowed by its neighbours, not by the engine
    steal = 100.0 * (cpu1[1] - cpu0[1]) / max(cpu1[0] - cpu0[0], 1)
    print(f"perfbench: {wl.name}: set-up {t1 - t0:.1f} s, loop {t2 - t1:.1f} s, "
          f"checks {time.perf_counter() - t2:.1f} s, cpu steal {steal:.1f} %", file=sys.stderr)
    return e2e, named, smp, tracer


def main(argv=None) -> int:
    args = parse_args(argv)
    src = os.path.abspath(args.src)
    if not os.path.isfile(os.path.join(src, PKG, "__init__.py")):
        print(f"perfbench: no {PKG} package under {src}", file=sys.stderr)
        return 2
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    with open(spec_path) as f:
        spec = json.load(f)
    sys.path.insert(0, src)
    import workloads as W

    size = W.SIZES["tiny" if args.tiny else "full"]
    if not args.build_served and not os.path.exists(W.served_paths(args.cache, size)["done"]):
        # built by a process of its own (which stops its JVM, also on a
        # time-out), so that the measuring JVM is as warm on the first run
        # of a checkout as on every later one
        subprocess.run([sys.executable, os.path.abspath(__file__), *sys.argv[1:],
                        "--build-served", "--work", os.path.join(args.work, "served")], check=True)
    shutil.rmtree(args.work, ignore_errors=True)
    os.makedirs(args.work)
    n_workloads = 2 if args.workload == "all" else 1
    watchdog = threading.Timer(RUN_LIMIT_S * n_workloads, abort, args=(args.work,))
    watchdog.daemon = True
    watchdog.start()
    rss = RssSampler()
    rss.start()
    try:
        return measure(args, spec, src, rss)
    finally:
        watchdog.cancel()
        if rss.is_alive():
            rss.stop()
        shutil.rmtree(args.work, ignore_errors=True)


def measure(args, spec, src: str, rss: RssSampler) -> int:
    import workloads as W
    from spans import EventLog

    mod = sys.modules[PKG]
    if not os.path.abspath(mod.__file__).startswith(src + os.sep):
        raise RuntimeError(f"{PKG} imported from {mod.__file__}, not from {src}")
    size = W.SIZES["tiny" if args.tiny else "full"]
    event_dir = os.path.join(args.work, "events") if args.trace else None
    t0 = time.perf_counter()
    spark = start_session(src, args.work, event_dir)
    session_s = time.perf_counter() - t0
    names = list(W.WORKLOADS) if args.workload == "all" else [args.workload]
    b = W.Bench(spark, CpuClock(rss), args.work, args.cache, args.seed, size, traced=bool(args.trace))
    if args.build_served:
        try:
            W.build_served(b)
        finally:
            stop_session(spark)
        return 0
    runs = []
    try:
        for name in names:
            wl = W.WORKLOADS[name](b)
            runs.append((wl, *run_workload(b, wl, args.seconds)))
    finally:
        stop_session(spark)
    mem = rss.stop()
    peak_mb = mem["total"]
    setup_s = session_s + sum(b.setup_parts.values())

    named = {"setup_s": setup_s, "peak_rss_mb": peak_mb,
             "failed_op_ratio": b.failed / max(b.attempted, 1)}
    for _wl, _e2e, nm, _smp, _tr in runs:
        named.update(nm)
    print("perfbench: peak PSS MB " + ", ".join(f"{k} {v:.0f}" for k, v in mem.items()), file=sys.stderr)
    print(f"perfbench: set-up s: session {session_s:.1f}, "
          + ", ".join(f"{k} {v:.1f}" for k, v in b.setup_parts.items()), file=sys.stderr)

    if args.trace:
        events = EventLog(event_dir)
        values = {"setup.session_s": session_s}
        values.update({f"setup.{part}_s": v for part, v in b.setup_parts.items()})
        values.update({f"mem.{part}_peak_mb": mem[part] for part in ("jvm", "driver", "workers")})
        for wl, _e2e, _nm, smp, tracer in runs:
            values.update(wl.layers(smp, tracer, events))
            tracer.dump(os.path.join(os.getcwd(), ".perfbench_out", f"spans-{wl.name}.jsonl"))
        values["trace.overhead_pct"] = statistics.median(wl.overhead_pct for wl, *_ in runs)
        wanted = spec["per_layer"]
        # a layer the workload's timed operations never enter reads 0
        values = {m["name"]: values.get(m["name"], 0.0) for m in wanted}
    elif args.workload == "all":
        wanted = [{"name": k, "unit": u} for k, u in NAMED_UNITS.items()]
        values = named
    else:
        wanted = spec["end_to_end"]
        values = dict(runs[0][1], setup_s=setup_s, peak_rss_mb=peak_mb)
    shown = {m["name"] for m in wanted}
    for k, v in named.items():
        if k not in shown and not args.trace:
            print(f"{k} {v:.6g} {NAMED_UNITS[k]}")
    for m in wanted:
        print(f"{m['name']} {values[m['name']]:.6g} {m['unit']}")
    result = {
        "correct": b.failed == 0,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    if os.environ.get("PYTHONHASHSEED") != "0":
        # string hashing (set and dict order) fixed, as the seed fixes the
        # inputs: one less thing that differs between two runs of one seed
        os.environ["PYTHONHASHSEED"] = "0"
        os.execv(sys.executable, [sys.executable, *sys.argv])
    sys.exit(main())
