"""Per-job breakdown of cdc_agg refresh steps.

    python3 tools/refresh_jobs.py [--steps 4] [--seed 1]

Runs the benchmark's ``cdc_agg`` workload (``perfbench/workloads.py``,
imported as is) through its set-up and warm-up, then ``--steps``
refresh steps, each under its own Spark job group. For every step it
prints the step's latency and, for each Spark job the step ran, the
job id, its start offset from the step's start, its duration, its
stages (run and skipped), its tasks and its call site — read from
Spark's REST API (``/api/v1/applications/<app>/jobs``), which the
script switches on by adding ``spark.ui.enabled=true`` to
``SPARK_GRAFT_SPARK_CONF``.

Run from the root of a checkout. The environment is pinned the way
``perfbench/run.py`` pins it, under a scratch root in
``.perfbench_work/`` that is deleted on exit. Nothing is checked and
no benchmark metric is produced; use it to see which calls of a
refresh start Spark jobs and what each costs.
"""

from __future__ import annotations

import argparse
import datetime
import json
import os
import shutil
import sys
import time
import urllib.request

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PERFBENCH = os.path.join(ROOT, "perfbench")


def _epoch(ts: str) -> float:
    """Seconds since the epoch of a REST API time ('...T13:07:25.123GMT')."""
    dt = datetime.datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%f%Z")
    return dt.replace(tzinfo=datetime.timezone.utc).timestamp()


def _jobs(sc, group: str, want: int) -> list[dict]:
    """The REST API's records of the jobs in ``group``, once all
    ``want`` of them have reached the UI's listener."""
    url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/jobs"
    for _ in range(50):
        with urllib.request.urlopen(url, timeout=10) as resp:
            jobs = [j for j in json.load(resp) if j.get("jobGroup") == group]
        if len(jobs) >= want and all("completionTime" in j for j in jobs):
            return sorted(jobs, key=lambda j: j["jobId"])
        time.sleep(0.1)
    return sorted(jobs, key=lambda j: j["jobId"])


def _report(step: int, lat: float, t0: float, jobs: list[dict]) -> None:
    print(f"step {step}: {lat:.3f} s, {len(jobs)} jobs")
    print(f"  {'job':>5} {'start_s':>8} {'dur_s':>7} {'stages':>9} "
          f"{'tasks':>6}  call site")
    for j in jobs:
        start = _epoch(j["submissionTime"]) - t0
        dur = _epoch(j["completionTime"]) - _epoch(j["submissionTime"])
        stages = f"{len(j['stageIds']) - j['numSkippedStages']}+" \
                 f"{j['numSkippedStages']}s"
        tasks = j["numTasks"] - j["numSkippedTasks"]
        print(f"  {j['jobId']:>5} {start:>8.3f} {dur:>7.3f} {stages:>9} "
              f"{tasks:>6}  {j['name']}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--steps", type=int, default=4)
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args(argv)
    if args.steps < 1:
        ap.error("--steps must be at least 1")

    sys.path[:0] = [ROOT, PERFBENCH]
    import run  # perfbench/run.py: environment pinning and shutdown

    work = os.path.join(ROOT, ".perfbench_work",
                        f"refresh_jobs-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        settings = run.pin_environment(work)
        os.environ["SPARK_GRAFT_SPARK_CONF"] += ";spark.ui.enabled=true"
        print(json.dumps({"settings": settings}))

        import spans
        import workloads
        from datafusion_delta_queries_spark.session import get_spark

        spark = get_spark("refresh-jobs")
        spark.sparkContext.setLogLevel("ERROR")
        try:
            sc = spark.sparkContext
            w = workloads.CdcAgg(spark, work, args.seed,
                                 spans.Tracer(False, spark))
            w.new_tables_root(0)
            w.setup()
            w.prepare()
            for step in range(1, args.steps + 1):
                if w.done():
                    break
                w.stage_next()
                group = f"refresh-step{step}"
                sc.setJobGroup(group, f"cdc_agg refresh step {step}")
                t0 = time.time()
                try:
                    lat = w.step()
                finally:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                want = len(sc.statusTracker().getJobIdsForGroup(group))
                _report(step, lat, t0, _jobs(sc, group, want))
        finally:
            run.stop_spark(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
