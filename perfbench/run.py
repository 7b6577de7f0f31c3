"""Benchmark runner: one named workload from a seed, in one process on
local[4].

    python3 perfbench/run.py --workload curation --seed 1 --seconds 12 \\
        --trace 0

Run from the root of a checkout. Prints one JSON object as the last line
of standard output: ``correct``, ``attempted``, ``failed`` and
``metrics`` — every end-to-end metric with ``--trace 0``, every per-layer
metric with ``--trace 1``. The line before it is a ``detail`` object
(sample counts, the host drift sentinel, the failed ratio, errors).
Exits 1 when an output check fails, 2 when the program is not there.
"""

T0 = __import__("time").perf_counter()  # setup_s counts from here

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import time  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "eirepolitic_data_pipeline_spark"
CORES = 4
TAIL_PCT = 90
WORKLOADS = ("curation", "refresh")

END_TO_END = {"setup_s": "s", "cold_s": "s", "warm_s": "s",
              "op_p50_s": "s", "op_tail_s": "s"}
STAGES = ("quality_gate", "line_dedup", "exact_dedup", "near_dup", "split")
SPARK_COUNTERS = {"jobs": "count", "stages": "count", "tasks": "count",
                  "task_run_s": "s", "task_cpu_s": "s", "gc_s": "s",
                  "scan_bytes": "B", "shuffle_write_bytes": "B",
                  "shuffle_read_bytes": "B", "spill_bytes": "B",
                  "python_bytes_sent": "B", "python_bytes_returned": "B"}
PER_LAYER = {
    "session.get_spark_s": "s",
    "peak_rss_mb": "MB",
    "workload.build_s": "s", "workload.build_jobs": "count",
    "workload.exec_s": "s", "workload.exec_jobs": "count",
    "workload.memo_hit_ratio": "ratio",
    **{f"operators.{m}.{k}": u
       for m in ("similarity", "vectors", "dedupe", "curation")
       for k, u in (("call_s", "s"), ("call_jobs", "count"))},
    **{f"operators.curation.stage.{st}_s": "s" for st in STAGES},
    **{f"spark.{k}": u for k, u in SPARK_COUNTERS.items()},
    "spark.core_busy_ratio": "ratio",
    "jobs.build_table_s": "s", "jobs.build_table_jobs": "count",
    "jobs.run_refresh_s": "s",
    "tables.silver_task_s": "s", "tables.gold_task_s": "s",
    "plans.dq_s": "s", "plans.dq_jobs": "count",
    "io.merge_write_s": "s", "io.merge_write_jobs": "count",
    "io.catalog_read_s": "s", "io.promote_s": "s",
    "io.bytes_written": "B", "io.files_written": "count",
    "io.write_amp": "ratio", "io.store_bytes_per_input_byte": "ratio",
    "streaming.add_batch_s": "s", "streaming.query_planning_s": "s",
    "streaming.wal_commit_s": "s", "streaming.state_rows": "count",
    "host.sentinel_s": "s",
    "bench.trace_overhead": "ratio",
}
# layer spans whose self time and (inclusive) job count are reported
SPANS = {"workload.build": "workload.build", "workload.exec": "workload.exec",
         "operators.similarity": "operators.similarity.call",
         "operators.vectors": "operators.vectors.call",
         "operators.dedupe": "operators.dedupe.call",
         "operators.curation": "operators.curation.call",
         "jobs.build_table": "jobs.build_table",
         "jobs.run_refresh": "jobs.run_refresh",
         "plans.dq": "plans.dq", "io.merge_write": "io.merge_write",
         "io.catalog_read": "io.catalog_read", "io.promote": "io.promote"}


def parse_args(argv):
    ap = argparse.ArgumentParser(prog="perfbench")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PKG, "__init__.py")):
        print(f"perfbench: {PKG} not found under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # Python workers import the package too, and every scratch file the
    # JVM and its workers write stays inside the run directory.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["JDK_JAVA_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}")
    sys.path.insert(0, ROOT)
    steal0, total0 = cpu_jiffies()
    try:
        out, detail = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run still uses it
            pass
    steal1, total1 = cpu_jiffies()
    # CPU time the hypervisor gave to other guests: host drift, like the
    # sentinel, that a later A/B can use to set a noisy run apart
    detail["host.steal_ratio"] = (steal1 - steal0) / max(total1 - total0, 1)
    print(json.dumps({"detail": detail}))
    print(json.dumps(out))
    return 0 if out["correct"] else 1


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies of the host's CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def run(args, work: str):
    from eirepolitic_data_pipeline_spark.session import get_spark

    from perfbench import workloads as wl

    log_dir = os.path.join(work, "eventlog") if args.trace else None
    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}", cores=CORES,
                      extra_conf=session_conf(work, log_dir))
    get_spark_s = time.perf_counter() - t0
    spark.range(1).count()
    setup_s = time.perf_counter() - T0
    try:
        ctx = wl.Ctx(spark=spark, work=work, seed=args.seed,
                     seconds=args.seconds, sizes=wl.SIZES["bench"],
                     cores=CORES)
        return measure(ctx, args.workload, wl.Result(), log_dir,
                       setup_s=setup_s, get_spark_s=get_spark_s)
    finally:
        stop_jvm(spark)


def stop_jvm(spark) -> None:
    """Stop the session, then end the JVM and wait for it: the JVM exits
    when its stdin closes, and its Python workers exit with it."""
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def session_conf(work: str, log_dir: str | None) -> dict:
    """Scratch directories inside ``work``; the event log when tracing."""
    conf = {"spark.local.dir": os.path.join(work, "local"),
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse")}
    if log_dir:
        os.makedirs(log_dir, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + log_dir,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    return conf


def measure(ctx, workload: str, res, log_dir: str | None, *,
            setup_s: float, get_spark_s: float):
    """Run ``workload`` in ``ctx``'s session; return (result line, detail).
    Traced when ``log_dir`` names the session's event-log directory."""
    from perfbench import trace, workloads as wl

    tracer = None
    if log_dir:
        tracer = ctx.tracer = trace.Tracer(ctx.spark)
        tracer.install_operators()
        tracer.install_pipeline()
    try:
        wl.WORKLOADS[workload](ctx, res)
    finally:
        if tracer is not None:
            tracer.uninstall()
    rss_mb = peak_rss_mb(ctx.spark)
    ops = res.ops
    detail = {"workload": workload, "seed": ctx.seed,
              "warm_units": len(res.units), "warm_ops": len(ops),
              "tail_pct": TAIL_PCT,
              "host.sentinel_s": statistics.median(res.sentinel),
              "failed_ratio": res.failed / max(res.attempted, 1),
              "store_bytes_per_input_byte": store_ratio(res),
              "check_s": res.layer.get("check_s"),
              "errors": res.errors[:8]}
    if tracer is not None:
        # job-end events flush the log; wait until the bus has written them
        ctx.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        metrics = per_layer(tracer, res, trace.read_event_log(log_dir),
                            get_spark_s, ctx.cores)
        metrics["peak_rss_mb"] = rss_mb
        units = PER_LAYER
    else:
        metrics = {"setup_s": setup_s, "cold_s": res.cold_s,
                   "warm_s": statistics.median(res.units),
                   "op_p50_s": statistics.median(ops),
                   "op_tail_s": statistics.quantiles(
                       ops, n=100, method="inclusive")[TAIL_PCT - 1]}
        units = END_TO_END
    out = {"correct": res.failed == 0 and not res.errors,
           "attempted": res.attempted, "failed": res.failed,
           "metrics": {k: {"value": metrics[k], "unit": u}
                       for k, u in units.items()}}
    return out, detail


def peak_rss_mb(spark) -> float:
    """Peak resident memory (VmHWM) of this process plus the driver JVM."""
    pids = [os.getpid(), spark.sparkContext._gateway.proc.pid]
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0


def store_ratio(res) -> float:
    return res.layer.get("store_bytes", 0) / max(res.input_bytes, 1)


def per_layer(tracer, res, jobs: dict, get_spark_s: float,
              cores: int) -> dict:
    """Per-layer metrics per traced warm unit, from spans and the event
    log. Spans and jobs started on other threads (streaming foreachBatch
    callbacks) are attributed to the traced unit whose interval holds
    their start."""
    spans = tracer.spans
    roots = {r for r, t in zip(res.roots, res.traced) if t and r is not None}
    n = max(len(roots), 1)
    windows = [(spans[r]["wall"], spans[r]["wall_end"]) for r in roots]

    def in_window(ts):
        return any(a <= ts <= b for a, b in windows)

    orphans = {s["id"] for s in spans if s["parent"] is None
               and s["id"] not in roots and s["name"] not in ("unit", "cold")
               and in_window(s["wall"])}
    under = tracer.descendants(roots | orphans)
    tag_of = {s["tag"]: s for s in spans}
    unit_jobs = []
    for job in jobs.values():
        mine = [tag_of[t] for t in job["tags"] if t in tag_of]
        if any(s["id"] in under for s in mine) or (
                not mine and in_window(job["start"])):
            unit_jobs.append((job, mine))

    m = {k: 0.0 for k in PER_LAYER}
    m["session.get_spark_s"] = get_spark_s
    selft = tracer.self_times(roots | orphans)
    for span_name, key in SPANS.items():
        m[f"{key}_s"] = selft.get(span_name, 0.0) / n
        if f"{key}_jobs" in m:
            m[f"{key}_jobs"] = sum(
                1 for _, mine in unit_jobs
                if any(s["name"] == span_name for s in mine)) / n
    for st in STAGES:
        m[f"operators.curation.stage.{st}_s"] = selft.get(
            f"operators.curation.stage.{st}", 0.0) / n
    hits, calls = res.layer.get("memo", (0, 0))
    m["workload.memo_hit_ratio"] = hits / calls if calls else 0.0

    for k in SPARK_COUNTERS:
        if k == "jobs":
            total = len(unit_jobs)
        elif k == "stages":
            total = sum(len(j["stages"]) for j, _ in unit_jobs)
        else:
            total = sum(j[k] for j, _ in unit_jobs)
        m[f"spark.{k}"] = total / n
    traced_wall = sum(w for w, t in zip(res.units, res.traced) if t)
    m["spark.core_busy_ratio"] = sum(
        j["task_run_s"] for j, _ in unit_jobs) / max(traced_wall * cores, 1e-9)
    for layer in ("silver", "gold"):
        m[f"tables.{layer}_task_s"] = sum(
            j["task_run_s"] for j, mine in unit_jobs
            if any(s["name"] == "jobs.build_table"
                   and str(s.get("table", "")).startswith(layer + "_")
                   for s in mine)) / n

    written = [w for w, t in zip(res.unit_written, res.traced) if t]
    in_bytes = [b for b, t in zip(res.unit_input_bytes, res.traced) if t]
    if written:
        m["io.bytes_written"] = sum(w[0] for w in written) / len(written)
        m["io.files_written"] = sum(w[1] for w in written) / len(written)
        m["io.write_amp"] = sum(w[0] for w in written) / max(sum(in_bytes), 1)
    m["io.store_bytes_per_input_byte"] = store_ratio(res)

    epochs = [p for traced, ps in res.layer.get("progress", []) if traced
              for p in ps]
    if epochs:
        for key, field in (("add_batch_s", "addBatch"),
                           ("query_planning_s", "queryPlanning"),
                           ("wal_commit_s", "walCommit")):
            m[f"streaming.{key}"] = statistics.mean(
                p["durationMs"].get(field, 0) for p in epochs) / 1000.0
        m["streaming.state_rows"] = statistics.fmean(
            sum(op.get("numRowsTotal", 0) for op in p.get(
                "stateOperators", [])) for p in epochs)
    m["host.sentinel_s"] = statistics.median(res.sentinel)
    m["bench.trace_overhead"] = trace_overhead(res)
    return m


def trace_overhead(res) -> float:
    """Median traced warm unit over the median untraced one."""
    on = [v for v, t in zip(res.units, res.traced) if t]
    off = [v for v, t in zip(res.units, res.traced) if not t]
    if not on or not off:
        return 0.0
    return statistics.median(on) / statistics.median(off)


if __name__ == "__main__":
    sys.exit(main())
