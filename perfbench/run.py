"""The repository benchmark: one command, seeded inputs, checked outputs.

    python3 perfbench/run.py --workload kibana_panels --seed 1 --seconds 10 --trace 0

Generates every input from ``--seed``, sets the program up once on a fresh
JVM (``setup_s``), warms every op shape, then runs a closed loop
against the public API for ``--seconds`` (and to the end of the round of
requests in progress), checks every distinct output
against an independent computation, and prints a report followed by one JSON
line (the last line of stdout). ``--trace 0`` reports the end-to-end metrics;
``--trace 1`` traces every other request, the others on the next pass
(spans around the benchmark's calls into each layer plus Spark's per-job
stage metrics, one job group per op) and reports the per-layer metrics, including the tracing overhead measured
against the untraced ops of the same run. Exits 1 when an
op raises or an output check fails, 2 when the program cannot be imported,
3 when the run overruns.

Everything the run writes stays under ``.perfbench/`` at the repository
root: inputs, Spark local dirs and temp files (removed at exit), and the
report and span files (kept in ``.perfbench/results``).
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import resource
import shutil
import sys
import tempfile
import threading
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from latency import OpLog, OpRecord, median, percentile, summarize  # noqa: E402
from spans import GROUP_FIELDS, SparkJobMetrics, Tracer, self_time_by_name  # noqa: E402
from workload import schedule, span_median_ms, warm_ops  # noqa: E402

WORKLOADS = ("news_search", "kibana_panels", "ingest_ticks")
# The run must end within 180 s at the benchmark's 5-s window (the window
# runs on to the end of a round); longer windows get the same headroom.
WALL_HEADROOM_S = 160.0

# BENCHMARK.json's end_to_end. tail_ms and failed_ratio are printed but not
# listed: one round leaves kibana_panels' p75 only 11 samples beyond and
# ingest_ticks' tail is its p50, and a failed op already makes a run incorrect.
END_TO_END = {
    "setup_s": "s",
    "p50_ms": "ms",
    "ops_per_s": "1/s",
}

# Per-layer metrics every benchmark workload exercises (BENCHMARK.json's
# per_layer); a traced run's JSON line carries exactly these.
PER_LAYER = {
    "engine.plan_ms": "ms",
    "spark.exec_ms": "ms",
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.failed_tasks": "count",
    "tables.input_rows_per_op": "count",
    "tables.input_bytes_per_op": "bytes",
    "shuffle.write_bytes_per_op": "bytes",
    "shuffle.read_bytes_per_op": "bytes",
    "session.start_s": "s",
    "session.warmup_s": "s",
    "session.peak_rss_mb": "MB",
}

# Layers only one workload exercises (a time the other workload would read
# as 0 on every run), and the tracing overhead, which needs untraced ops in
# the same run. Printed and kept in the report, not in the JSON line.
WORKLOAD_LAYERS = {
    "trace.overhead_ms": "ms",
    "tables.register_s": "s",
    "search.postings_rows_per_hit": "count",
    "search.index_build_s": "s",
    "search.index_load_ms": "ms",
    "search.probe_ms": "ms",
    "streaming.owid_tick_ms": "ms",
    "streaming.dedup_tick_ms": "ms",
    "streaming.index_tick_ms": "ms",
    "streaming.addBatch_ms": "ms",
    "streaming.queryPlanning_ms": "ms",
    "streaming.walCommit_ms": "ms",
    "streaming.latestOffset_ms": "ms",
    "dedup.accept_ratio": "ratio",
    "io.bytes_written_per_input_byte": "ratio",
    "io.facts_bytes": "bytes",
    "io.corpus_bytes": "bytes",
    "io.sigstore_bytes": "bytes",
    "io.index_bytes": "bytes",
    "io.checkpoint_bytes": "bytes",
}


class Context:
    """What a workload's set-up and ops may use: the session, the tracer,
    the run's work directory and the generated inputs."""

    def __init__(self, spark, tracer: Tracer, work: str, inputs: dict) -> None:
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.inputs = inputs
        self.groups: dict[str, dict] = {}
        # Job groups besides "op<i>" whose jobs op i caused (streaming
        # queries run their jobs under their own run id).
        self.op_groups: dict[int, list[str]] = {}


# ------------------------------------------------------------ environment


def _mem_total_gb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // (1024 * 1024)
    return 4


def pin_environment(work: str) -> dict[str, str]:
    """Pin the session from here, not from the ambient environment: all
    usable cores, a driver heap sized to the box, and every Spark/Python
    scratch directory inside the run's work directory."""
    cpus = len(os.sched_getaffinity(0))
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "PK_DRIVER_MEMORY": f"{max(1, min(4, _mem_total_gb() // 6))}g",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "PK_WAREHOUSE_DIR": os.path.join(work, "warehouse"),
        "TMPDIR": os.path.join(work, "tmp"),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        # the launcher JVM that spark-submit starts first would write /tmp
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
    }
    for var in ("PK_SHUFFLE_PARTITIONS", "PK_S3_ENDPOINT", "SPARK_GRAFT_SF_DIR"):
        os.environ.pop(var, None)
    os.environ.update(env)
    for d in ("SPARK_LOCAL_DIRS", "PK_WAREHOUSE_DIR", "TMPDIR"):
        os.makedirs(env[d], exist_ok=True)
    tempfile.tempdir = None
    return env


def start_session(env: dict[str, str]):
    from pandemic_knowledge_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            # prepended to the program's own extraJavaOptions, not replacing them
            "spark.driver.defaultJavaOptions":
                f"-Djava.io.tmpdir={env['TMPDIR']} -XX:-UsePerfData",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _jvm_proc():
    from pyspark import SparkContext

    gw = SparkContext._gateway
    return getattr(gw, "proc", None) if gw is not None else None


def peak_rss_mb() -> float:
    """Peak resident memory of this process plus the Spark JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    proc = _jvm_proc()
    if proc is not None:
        try:
            with open(f"/proc/{proc.pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        jvm_kb = int(line.split()[1])
        except OSError:
            pass
    return (py_kb + jvm_kb) / 1024.0


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    from pyspark import SparkContext

    proc = _jvm_proc()
    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def _kill_jvm_and_exit(code: int) -> None:
    proc = _jvm_proc()
    if proc is not None:
        proc.kill()
        proc.wait()
    os._exit(code)


def _start_watchdog(limit_s: float) -> threading.Timer:
    def _overrun():
        print(f"perfbench: run exceeded {limit_s:.0f} s, aborting", file=sys.stderr)
        sys.stderr.flush()
        _kill_jvm_and_exit(3)

    t = threading.Timer(limit_s, _overrun)
    t.daemon = True
    t.start()
    return t


def _cpu_ticks() -> dict[str, int]:
    """Host CPU time split (clock ticks) from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:9]]
    return dict(zip(("user", "nice", "system", "idle", "iowait", "irq",
                     "softirq", "steal"), vals))


def _gc_ms(spark) -> int:
    """Total JVM garbage-collection time so far."""
    jvm = spark.sparkContext._jvm
    beans = jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans)


def _versions(spark) -> dict[str, str]:
    import pyspark

    jvm = spark.sparkContext._jvm
    return {"pyspark": pyspark.__version__,
            "java": jvm.java.lang.System.getProperty("java.version")}


# ------------------------------------------------------------- the loop


def run_window(ctx: Context, wl, seconds: float, log: OpLog,
               results: dict[str, list]) -> float:
    """Closed loop: ``wl.CLIENTS`` threads, one op in flight each, until the
    deadline and the end of a round (``ROUND_OPS`` requests, by default
    all of the workload's distinct requests). A traced run traces every
    other request. Returns the window length from first start to last end."""
    sc = ctx.spark.sparkContext
    if hasattr(wl, "schedule"):
        ops = wl.schedule(ctx)
    else:
        ops = schedule(ctx.inputs["seed"], ctx.inputs["requests"])
    # whole rounds: the window ends on one, so every run measures one mix
    block = getattr(wl, "ROUND_OPS", len(ctx.inputs["requests"]))
    lock = threading.Lock()
    counter = [0]
    ends = []
    t_begin = time.perf_counter()
    deadline = t_begin + seconds

    def client() -> None:
        while True:
            with lock:
                # past the deadline, finish the round in progress: every
                # run then measures whole rounds, the same mix each time
                if time.perf_counter() >= deadline and counter[0] % block == 0:
                    return
                op = next(ops, None)
                if op is None:
                    return
                i = counter[0]
                counter[0] += 1
            # every other request, the others on the next pass: traced and
            # untraced ops see one mix
            p, j = divmod(i, len(ctx.inputs["requests"]))
            traced = ctx.tracer.enabled and (p + j) % 2 == 0
            if ctx.tracer.enabled:
                if traced:
                    sc.setJobGroup(f"op{i}", op.kind)
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
            tr = ctx.tracer if traced else Tracer(False)
            rec = OpRecord(i, op.kind, op.key, time.perf_counter(), traced=traced)
            try:
                with tr.span(f"op.{op.kind}", i):
                    plan_s, exec_s, result = wl.run_op(ctx, op, tr, i)
                rec.latency_s = time.perf_counter() - rec.start_s
                rec.plan_s, rec.exec_s = plan_s, exec_s
                rec.rows = len(result) if isinstance(result, (list, tuple)) else 1
            except Exception as e:  # an op that raises is a failed op
                rec.error = f"{type(e).__name__}: {e}"[:500]
                result = None
            with lock:
                log.add(rec)
                ends.append(time.perf_counter())
                if result is not None:
                    seen = results.setdefault(op.key, [])
                    if result not in seen:
                        seen.append(result)

    threads = [threading.Thread(target=client, daemon=True) for _ in range(wl.CLIENTS)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=seconds + WALL_HEADROOM_S)
        if t.is_alive():
            raise RuntimeError("a client thread did not finish")
    log.records.sort(key=lambda r: r.index)
    return (max(ends) if ends else time.perf_counter()) - t_begin


# -------------------------------------------------------------- metrics


def traced_layer_metrics(ctx: Context, log: OpLog) -> dict[str, float]:
    """The per-layer numbers every workload shares, from the traced ops."""
    traced = [r for r in log.records if r.traced and r.latency_s is not None]
    untraced = log.latencies_s(traced=False)
    out = dict.fromkeys(PER_LAYER, 0.0)
    if not traced:
        return out
    names = {r.index: [f"op{r.index}", *ctx.op_groups.get(r.index, ())] for r in traced}
    by_group = SparkJobMetrics(ctx.spark).by_group({g for gs in names.values() for g in gs})
    groups = {f"op{i}": {f: sum(by_group[g][f] for g in gs) for f in GROUP_FIELDS}
              for i, gs in names.items()}
    n = len(traced)

    def per_op(field: str) -> float:
        return sum(g[field] for g in groups.values()) / n

    out.update({
        "engine.plan_ms": median([r.plan_s for r in traced]) * 1000.0,
        "spark.exec_ms": median([r.exec_s for r in traced]) * 1000.0,
        "spark.jobs_per_op": per_op("jobs"),
        "spark.stages_per_op": per_op("stages"),
        "spark.tasks_per_op": per_op("tasks"),
        "spark.failed_tasks": float(sum(g["failed_tasks"] for g in groups.values())),
        "tables.input_rows_per_op": per_op("input_rows"),
        "tables.input_bytes_per_op": per_op("input_bytes"),
        "shuffle.write_bytes_per_op": per_op("shuffle_write_bytes"),
        "shuffle.read_bytes_per_op": per_op("shuffle_read_bytes"),
    })
    if untraced:  # a workload-only layer: ingest_ticks traces every tick
        out["trace.overhead_ms"] = (
            percentile([r.latency_s for r in traced], 50.0)
            - percentile(untraced, 50.0)) * 1000.0
    ctx.groups = groups
    return out


# ----------------------------------------------------------------- main


def _fmt(v: float) -> str:
    return f"{v:.6g}"


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import pandemic_knowledge_spark.engine  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program under test: {e}",
              file=sys.stderr)
        return 2
    wl = importlib.import_module(args.workload)

    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"work-{os.getpid()}")
    results_dir = os.path.join(base, "results")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(results_dir, exist_ok=True)
    env = pin_environment(work)
    _start_watchdog(args.seconds + WALL_HEADROOM_S)
    load_start = os.getloadavg()[0]
    tracer = Tracer(args.trace == 1)
    spark = None
    try:
        t0 = time.perf_counter()
        inputs = wl.make_inputs(args.seed, os.path.join(work, "data"))
        gen_s = time.perf_counter() - t0

        # One cold set-up: a fresh JVM, as a user starting the program pays.
        t0 = time.perf_counter()
        with tracer.span("setup"):
            with tracer.span("session.start"):
                spark = start_session(env)
            ctx = Context(spark, tracer, os.path.join(work, "state"), inputs)
            wl.setup(ctx)
        setup_s = time.perf_counter() - t0
        versions = _versions(spark)

        t0 = time.perf_counter()
        with tracer.span("session.warmup"):
            warm = inputs["warm"] if "warm" in inputs else warm_ops(inputs["requests"])
            # concurrent on all cores: a cold plan's first run is mostly
            # codegen and JIT work, which a single client leaves cores idle for
            with ThreadPoolExecutor(max_workers=int(env["SPARK_GRAFT_CPUS"])) as pool:
                for f in [pool.submit(wl.run_op, ctx, op, Tracer(False), -1)
                          for op in warm]:
                    f.result()
        warmup_s = time.perf_counter() - t0

        log = OpLog()
        results: dict[str, list] = {}
        cpu0, gc0 = _cpu_ticks(), _gc_ms(spark)
        window_s = run_window(ctx, wl, args.seconds, log, results)
        cpu1, gc1 = _cpu_ticks(), _gc_ms(spark)
        host = {"window_cpu_ticks": {k: cpu1[k] - cpu0[k] for k in cpu0},
                "window_gc_ms": gc1 - gc0}

        t0 = time.perf_counter()
        check_error = None
        try:
            for key, msg in wl.check(ctx, results).items():
                log.mark_check_failure(key, msg)
        except Exception:
            check_error = traceback.format_exc(limit=5)
        check_s = time.perf_counter() - t0

        summary = summarize(log, window_s, wl.TAIL_P)
        summary["setup_s"] = setup_s
        layers = {}
        if tracer.enabled:
            layers = traced_layer_metrics(ctx, log)
            layers["session.start_s"] = span_median_ms(tracer.spans, "session.start") / 1000.0
            if any(sp.name == "tables.register" for sp in tracer.spans):
                layers["tables.register_s"] = span_median_ms(tracer.spans, "tables.register") / 1000.0
            layers["session.warmup_s"] = warmup_s
            layers["session.peak_rss_mb"] = peak_rss_mb()
            if hasattr(wl, "layer_metrics"):
                layers.update(wl.layer_metrics(ctx, log, tracer))
        extra = wl.extra_report(ctx, log) if hasattr(wl, "extra_report") else {}
    except Exception:
        traceback.print_exc()
        stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
        return 1
    stop_session(spark)
    shutil.rmtree(work, ignore_errors=True)
    load_end = os.getloadavg()[0]

    correct = (check_error is None and log.failed == 0 and summary["samples"] > 0)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "clients": wl.CLIENTS, "summary": summary,
        "setup_s": setup_s, "gen_s": gen_s, "warmup_s": warmup_s,
        "check_s": check_s, "window_s": window_s, "per_layer": layers,
        "host": host,
        "env": env, "versions": versions, "loadavg_1m": [load_start, load_end],
        "check_error": check_error,
        "failures": [{"index": r.index, "kind": r.kind, "key": r.key,
                      "error": r.error, "check_error": r.check_error}
                     for r in log.records if r.failed][:50],
        "ops": [{"index": r.index, "kind": r.kind, "latency_s": r.latency_s,
                 "plan_s": r.plan_s, "exec_s": r.exec_s, "traced": r.traced}
                for r in log.records],
    }
    if tracer.enabled:
        report["self_time_s"] = self_time_by_name(tracer.spans)
        tracer.write(os.path.join(results_dir, f"{tag}-spans.json"))
    with open(os.path.join(results_dir, f"{tag}.json"), "w") as f:
        json.dump(report, f, indent=1, default=str)

    n = summary["samples"]
    lines = [f"perfbench {args.workload} seed={args.seed} trace={args.trace} "
             f"clients={wl.CLIENTS} window={window_s:.2f}s"]
    lines.append(f"  setup_s       {_fmt(summary['setup_s'])} s  (one cold set-up)")
    if n:
        lines.append(f"  p50_ms        {_fmt(summary['p50_ms'])} ms  (n={n})")
        lines.append(f"  tail_ms       {_fmt(summary['tail_ms'])} ms  "
                     f"(p{summary['tail_percentile']:g}, n={n}, "
                     f"{summary['tail_beyond']} beyond)")
    lines.append(f"  ops_per_s     {_fmt(summary['ops_per_s'])} 1/s  "
                 f"({n} ops / {window_s:.2f} s)")
    lines.append(f"  failed_ratio  {_fmt(summary['failed_ratio'])}  "
                 f"({log.failed} of {log.attempted})")
    for k, v in extra.items():
        lines.append(f"  {k}  {_fmt(v[0])} {v[1]}")
    units = {**PER_LAYER, **WORKLOAD_LAYERS}
    for k, v in layers.items():
        lines.append(f"  {k}  {_fmt(v)} {units[k]}")
    lines.append(f"  env  {' '.join(f'{k}={v}' for k, v in env.items())}")
    lines.append(f"  versions  pyspark={versions['pyspark']} java={versions['java']}"
                 f"  loadavg_1m {load_start:.2f} -> {load_end:.2f}")
    for r in report["failures"][:5]:
        lines.append(f"  FAILED op {r['index']} {r['kind']} {r['key']}: "
                     f"{r['error'] or r['check_error']}")
    if check_error:
        lines.append(f"  CHECK ERROR {check_error}")
    print("\n".join(lines))

    if args.trace == 0:
        metrics = {k: {"value": summary.get(k, 0.0), "unit": u}
                   for k, u in END_TO_END.items()}
    else:
        metrics = {k: {"value": layers.get(k, 0.0), "unit": u}
                   for k, u in PER_LAYER.items()}
    print(json.dumps({"correct": correct, "attempted": log.attempted,
                      "failed": log.failed, "metrics": metrics}), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
