"""Per-job breakdown of a query via the Spark event log (guide §1/§7).

Runs one query with spark.eventLog enabled, then parses the event log for
JobStart/JobEnd pairs, printing duration + job group/description so the
sequential-job structure of e2e replay queries becomes visible.

    python tools/job_trace.py [--sf DIR] q316_matview_join_dim
"""
from __future__ import annotations

import glob
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

EVDIR = "/tmp/spark-events-trace"


def main() -> None:
    args = sys.argv[1:]
    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    names = []
    i = 0
    while i < len(args):
        if args[i] == "--sf":
            sf = args[i + 1]; i += 2
        else:
            names.append(args[i]); i += 1

    shutil.rmtree(EVDIR, ignore_errors=True)
    os.makedirs(EVDIR, exist_ok=True)

    from stock_ops_spark import queries as Q
    from stock_ops_spark.session import get_spark

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(
        "job-trace",
        master=f"local[{cpus}]",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": EVDIR,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    for name in names:
        fn = Q.QUERIES[name]
        spark.sparkContext.setJobDescription(f"warmup:{name}")
        fn(spark, sf).count()  # warmup
        spark.sparkContext.setJobDescription(f"timed:{name}")
        t0 = time.perf_counter()
        fn(spark, sf).count()
        wall = time.perf_counter() - t0
        print(f"== {name}: wall {wall:.3f}s")
    spark.stop()

    # parse the event log
    logs = [
        p
        for p in sorted(
            glob.glob(os.path.join(EVDIR, "**", "*"), recursive=True),
            key=os.path.getmtime,
        )
        if os.path.isfile(p) and "appstatus" not in os.path.basename(p)
    ]
    if not logs:
        print("no event log found", file=sys.stderr)
        return
    jobs: dict[int, dict] = {}
    with open(logs[-1]) as f:
        for line in f:
            try:
                ev = json.loads(line)
            except json.JSONDecodeError:
                continue
            e = ev.get("Event")
            if e == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                sinfos = ev.get("Stage Infos", [])
                jobs[ev["Job ID"]] = {
                    "t0": ev["Submission Time"],
                    "desc": props.get("spark.job.description", ""),
                    "stages": len(ev.get("Stage IDs", [])),
                    "tasks": sum(s.get("Number of Tasks", 0) for s in sinfos),
                    "site": (sinfos[-1].get("Stage Name", "") if sinfos else ""),
                    # distinct per-stage callsites: the job-level site is
                    # the LAST stage only, which hides what a fat
                    # single-stage AQE job actually scans
                    "stage_sites": sorted(
                        {s.get("Stage Name", "") for s in sinfos}
                    ),
                }
            elif e == "SparkListenerJobEnd":
                j = jobs.get(ev["Job ID"])
                if j:
                    j["dt"] = (ev["Completion Time"] - j["t0"]) / 1000.0
    # print per-description rollup for the timed section only
    cur = None
    seq = 0
    for jid in sorted(jobs):
        j = jobs[jid]
        desc = j["desc"]
        phase = "timed" if desc.startswith("timed:") else (
            "warmup" if desc.startswith("warmup:") else "?")
        if phase != cur:
            cur = phase
            seq = 0
            print(f"-- {phase} --")
        seq += 1
        print(
            f"  job {jid:4d}  {j.get('dt', -1):7.3f}s  stages={j['stages']:2d} "
            f"tasks={j.get('tasks', 0):4d}  {j.get('site', '')[:70]}"
        )
        for s in j.get("stage_sites", []):
            if s != j.get("site"):
                print(f"        stage: {s[:76]}")


if __name__ == "__main__":
    main()
