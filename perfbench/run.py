"""Commit-to-view refresh benchmark.

    python3 perfbench/run.py --workload append_join --seed 1 --seconds 12 --trace 0

Run from the root of a checkout of the repository. One committer
drives the chosen workload in a closed loop for ``--seconds`` (one
commit, then every dependent view brought current, then the next
commit), checks every output, and prints one JSON object as the last
line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs the
same loop with spans around every layer call and reports the
per-layer metrics instead, writing the spans to
``.perfbench_out/trace-<workload>-<seed>.jsonl``. See README.md.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_MEM_MB = 3072
WORKLOADS = ("append_join", "cdc_agg")  # workloads.WORKLOADS, importable only
                                        # once the environment is pinned
SETUP_REPS = 3


def physical_mb() -> int:
    with open("/proc/meminfo", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("no MemTotal in /proc/meminfo")


def pin_environment(work: str) -> dict:
    """Resources of this process and the JVM it launches, set through
    the environment before pyspark is imported. Everything Spark,
    Python and the JVM write goes under ``work``."""
    cpus = len(os.sched_getaffinity(0))
    mem = min(DRIVER_MEM_MB, physical_mb() // 2)
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    settings = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{mem}m",
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "SPARK_GRAFT_SPARK_CONF": (
            f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} "
            "-XX:-UsePerfData"),
        # the JVM spark-submit runs first to build the driver's command
        "SPARK_LAUNCHER_OPTS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    }
    os.environ.update(settings)
    return {"cpus": cpus, "driver_mem_mb": mem, "physical_mb": physical_mb(),
            "spark_local_dirs": os.path.relpath(local, ROOT),
            "scratch_root": os.path.relpath(work, ROOT)}


def stop_spark(spark) -> None:
    """Stop the session and wait for the driver JVM to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is None:
        return
    proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)


def run(args, work: str, settings: dict) -> dict:
    from datafusion_delta_queries_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}")
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    try:
        return measure(args, spark, work, settings, session_s)
    finally:
        stop_spark(spark)


def measure(args, spark, work, settings, session_s) -> dict:
    import spans
    import workloads

    tr = spans.Tracer(bool(args.trace), spark)
    phases = {"session_s": session_s}
    t0 = time.perf_counter()
    w = workloads.WORKLOADS[args.workload](spark, work, args.seed, tr)
    phases["generate_s"] = time.perf_counter() - t0

    # the set-up runs SETUP_REPS times, each into a fresh tables root;
    # the loop goes on from the last one
    setups = []
    for rep in range(SETUP_REPS):
        w.new_tables_root(rep)
        with tr.op(f"setup{rep}", "setup"):
            t0 = time.perf_counter()
            w.setup()
            setups.append(time.perf_counter() - t0)
    phases["setup_s"] = statistics.median(setups)
    phases["setup_reps_s"] = setups
    t0 = time.perf_counter()
    w.prepare()
    phases["prepare_s"] = time.perf_counter() - t0

    lat: list[float] = []
    attempted = failed = 0
    start = time.perf_counter()
    while not w.done() and (
        len(lat) < w.MIN_OPS
        or not w.can_stop()
        or time.perf_counter() - start < args.seconds
    ):
        w.stage_next()
        attempted += 1
        try:
            with tr.op(f"op{attempted}", "refresh"):
                lat.append(w.step())
            if len(lat) == w.MIN_OPS:
                w.measure_storage()
        except Exception:  # the views are now stale: stop the loop
            failed += 1
            traceback.print_exc()
            break
    phases["loop_s"] = time.perf_counter() - start
    if not lat:
        raise RuntimeError("no refresh completed")
    if "storage_bytes" not in w.extra:  # a refresh failed before MIN_OPS
        w.measure_storage()

    t0 = time.perf_counter()
    attempted += 1  # the recompute and the correctness gates
    w.finish()
    phases["finish_s"] = time.perf_counter() - t0
    if w.failures:
        failed += 1
        print("\n".join(w.failures), file=sys.stderr)

    pct, tail = spans.tail_percentile(lat)
    jvm = spans.jvm_pid(spark)
    rss_mb = (spans.vm_hwm_kb() + (spans.vm_hwm_kb(jvm) if jvm else 0)) / 1024
    e2e = {
        "setup_s": (session_s + phases["setup_s"], "s"),
        "refresh_p50_s": (statistics.median(lat), "s"),
        "refresh_tail_s": (tail, "s"),
        "change_rows_per_s": (sum(w.change_rows) / sum(lat), "rows/s"),
        "recompute_s": (w.extra["recompute_s"], "s"),
        "storage_bytes_per_input_byte": (
            w.extra["storage_bytes"] / w.extra["storage_user_bytes"], "ratio"),
    }
    summary = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "settings": settings, "refreshes": len(lat), "latencies_s": lat,
        "refresh_tail_pct": pct, "failed_share": failed / attempted,
        "peak_rss_mb": rss_mb, "phases": phases,
        "recompute_reps_s": w.extra["recompute_reps_s"],
        "e2e": {k: v for k, (v, _u) in e2e.items()},
    }
    if args.trace:
        metrics = layer_metrics(tr, lat, session_s, pct)
        metrics["process.peak_rss_mb"] = (rss_mb, "MB")
        summary["layers"] = {k: v for k, (v, _u) in metrics.items()}
        tr.dump(os.path.join(ROOT, ".perfbench_out",
                             f"trace-{args.workload}-{args.seed}.jsonl"),
                summary)
    else:
        metrics = e2e
    print(json.dumps({"summary": summary}))
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


# span name -> metric; each is a mean self time per measured refresh,
# except compile_plan, which runs in the recompute
LAYER_TIMES = (
    "versioned.write_version", "versioned.read_build", "versioned.checkpoint",
    "sql_frontend.sql_to_ir", "rewrite.rewrite_pos_delta",
    "compiler.compile_delta", "signed.compile_signed_delta",
    "continuous_agg.refresh_signed", "continuous_agg.read",
)
# counter name -> unit; a mean per measured refresh
LAYER_COUNTS = {
    "versioned.bytes_written": "B", "versioned.dirs_spanned": "count",
    "versioned.tail_commits": "count", "rewrite.branches": "count",
    "signed.rows_out": "rows", "continuous_agg.state_bytes": "B",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
}


def layer_metrics(tr, lat, session_s, pct) -> dict:
    """Per-layer metrics of a traced run."""
    import spans

    ops = [s["op"] for s in tr.spans
           if s["parent"] is None and str(s["op"]).startswith("op")]
    selfs = tr.self_times()
    counts = tr.per_op_counts()
    # an exec.action span wraps the layer call that runs the Spark
    # action, so the action time is the inclusive time of those spans
    actions: dict[str, dict[str, float]] = {}
    for s in tr.spans:
        if s["name"] == "exec.action" and s["op"]:
            d = actions.setdefault(s["op"], {})
            d["exec.action"] = d.get("exec.action", 0.0) + s["end"] - s["start"]
    out = {"session.start_s": (session_s, "s")}
    for name in LAYER_TIMES:
        out[f"{name}_s"] = (spans.mean_over_ops(selfs, ops, name), "s")
    recomputes = [o for o in selfs if o.startswith("recompute")]
    out["compiler.compile_plan_s"] = (
        spans.mean_over_ops(selfs, recomputes, "compiler.compile_plan"), "s")
    out["exec.action_s"] = (spans.mean_over_ops(actions, ops, "exec.action"), "s")
    for name, unit in LAYER_COUNTS.items():
        out[name] = (spans.mean_over_ops(counts, ops, name), unit)
    scan = sum(counts.get(o, {}).get("compiler.scan_bytes", 0) for o in ops)
    change = sum(counts.get(o, {}).get("compiler.change_bytes", 0) for o in ops)
    out["compiler.scan_bytes_per_change_byte"] = (
        scan / change if change else 0.0, "ratio")
    out["trace.refresh_p50_s"] = (statistics.median(lat), "s")
    out["trace.refreshes"] = (len(lat), "count")
    out["trace.tail_pct"] = (pct, "%")
    out["trace.spans"] = (len(tr.spans), "count")
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seconds <= 0:
        ap.error("--seconds must be positive")

    # The package under test lives beside this directory; without it
    # there is nothing to measure.
    if not os.path.isdir(os.path.join(ROOT, "datafusion_delta_queries_spark")):
        print("perfbench: datafusion_delta_queries_spark not found in "
              f"{ROOT}; run from a checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        settings = pin_environment(work)
        result = run(args, work, settings)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
