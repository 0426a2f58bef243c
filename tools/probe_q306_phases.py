"""Phase-labelled job trace for the ManifestStore commit path (§1.5).

Monkeypatches setJobDescription labels around each phase of an ingest
commit — the attempt ``ManifestStore._commit`` runs for
``ingest_batch``: versioned delta, localCheckpoint, stat collect, batch
write — and around ``read_changes``, so the event-log jobs map to code,
answering which phase owns the fat 32-task jobs in the q306 trace.

Run: ``SPARK_GRAFT_SF_DIR=<sf dir> python tools/probe_q306_phases.py``.
"""
from __future__ import annotations

import glob
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

EVDIR = "/tmp/spark-events-phase"


def main() -> None:
    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    shutil.rmtree(EVDIR, ignore_errors=True)
    os.makedirs(EVDIR, exist_ok=True)

    from stock_ops_spark import queries as Q
    from stock_ops_spark.session import get_spark
    from stock_ops_spark.sources import commitlog as CL
    from stock_ops_spark.sources import ingest as ING

    spark = get_spark(
        "phase-probe",
        master="local[32]",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": EVDIR,
            "spark.eventLog.compress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext

    # label phases by wrapping the module functions used inside commits
    orig_vds = CL.versioned_delta_spark

    def vds(*a, **k):
        sc.setJobDescription("phase:versioned_delta_spark")
        return orig_vds(*a, **k)

    CL.versioned_delta_spark = vds

    # Delta.write resolves the Spark-write layout from sources.ingest at
    # call time (micro deltas write driver-side and run no job)
    orig_cfw = ING.cluster_for_write

    def cfw(*a, **k):
        sc.setJobDescription("phase:write")
        return orig_cfw(*a, **k)

    ING.cluster_for_write = cfw

    # localCheckpoint + _stat_rows happen inline; patch DataFrame methods
    from pyspark.sql import DataFrame

    orig_lc = DataFrame.localCheckpoint

    def lc(self, *a, **k):
        sc.setJobDescription("phase:localCheckpoint")
        out = orig_lc(self, *a, **k)
        sc.setJobDescription("phase:post-checkpoint")
        return out

    DataFrame.localCheckpoint = lc

    orig_collect = DataFrame.collect

    def coll(self, *a, **k):
        d = sc.getLocalProperty("spark.job.description") or ""
        if not d.startswith("phase:collect"):
            sc.setJobDescription(f"phase:collect[after {d[6:26]}]")
        out = orig_collect(self, *a, **k)
        return out

    DataFrame.collect = coll

    orig_rc = CL.ManifestStore.read_changes

    def rc(self, mode):
        sc.setJobDescription("phase:read_changes")
        return orig_rc(self, mode)

    CL.ManifestStore.read_changes = rc

    fn = Q.QUERIES["q306_commitlog_cdc_audit"]
    sc.setJobDescription("phase:start")
    fn(spark, sf).count()  # warmup
    sc.setJobDescription("phase:TIMED-start")
    t0 = time.perf_counter()
    df = fn(spark, sf)
    sc.setJobDescription("phase:final-count")
    df.count()
    print(f"wall {time.perf_counter() - t0:.3f}s")
    spark.stop()

    logs = [
        p
        for p in sorted(
            glob.glob(os.path.join(EVDIR, "**", "*"), recursive=True),
            key=os.path.getmtime,
        )
        if os.path.isfile(p) and "appstatus" not in os.path.basename(p)
    ]
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
                    "site": (
                        sinfos[-1].get("Stage Name", "") if sinfos else ""
                    ),
                }
            elif e == "SparkListenerJobEnd":
                j = jobs.get(ev["Job ID"])
                if j:
                    j["dt"] = (ev["Completion Time"] - j["t0"]) / 1000.0
    for jid in sorted(jobs):
        j = jobs[jid]
        print(
            f"  job {jid:4d}  {j.get('dt', -1):7.3f}s  stages={j['stages']:2d}"
            f" tasks={j.get('tasks', 0):4d}  [{j['desc'][:40]}] "
            f"{j.get('site', '')[:50]}"
        )


if __name__ == "__main__":
    main()
