"""Per-layer metrics of the traced run.

``install`` wraps the engine's public calls with spans, at the names the
callers resolve: the microcommit helpers as ``commitlog`` imported them,
``local_relation`` as ``services`` imported it.  ``per_layer`` turns the
spans, the op intervals and the Spark event log into the per-layer
metrics of ``BENCHMARK.json``; a layer a workload does not exercise
reads 0.  ``walk_store`` sizes the store on disk after the run.
"""

from __future__ import annotations

import os
import statistics

from perfbench.trace import jobs_in, read_jobs

#: workload -> (primary op, auxiliary op): the primary op is behind the
#: end-to-end op_p50_s; its p90 and the auxiliary op's median are too
#: few samples per run to bound, so they are per-layer (``demoted.*``)
OPS = {
    "live_stream": ("commit", "redelivery"),
    "query_mix": ("read", "mix_commit"),
}
#: every op type of every workload (request and refetch are query_mix's
#: set-up backfill), for the per-op-type metrics
OP_TYPES = (
    "commit", "late_commit", "redelivery", "request", "refetch",
    "read", "bar_read", "ohlc", "asof", "stats", "mix_commit",
)

PER_LAYER = [
    ("session.start_s", "s"),
    ("streaming.trigger_s", "s"),
    ("streaming.outside_store_s", "s"),
    ("services.fetch_s", "s"),
    ("localrel.local_relation_s", "s"),
    ("transform.rejected_rows", "rows/request"),
    ("commitlog.ingest_batch_s", "s"),
    ("commitlog.state_s", "s"),
    ("commitlog.state_calls_per_commit", "count"),
    ("commitlog.try_commit_s", "s"),
    ("commitlog.compactions", "1/commit"),
    ("commitlog.compact_s", "s"),
    ("commitlog.read_where_s", "s"),
    ("commitlog.dirs_read_frac", "ratio"),
    ("commitlog.live_dirs_max", "count"),
    ("commitlog.table_stats_s", "s"),
    ("microcommit.materialize_s", "s"),
    ("microcommit.write_s", "s"),
    ("microcommit.micro_frac", "ratio"),
    ("microcommit.declined_collect_s", "s/commit"),
    *[(f"spark.jobs_per_op.{k}", "count") for k in OP_TYPES],
    *[(f"spark.job_s_per_op.{k}", "s") for k in OP_TYPES],
    *[(f"driver.self_s.{k}", "s") for k in OP_TYPES],
    ("reader.read_dt_range_s", "s"),
    ("reader.to_pandas_s", "s"),
    ("reader.rows_returned", "rows/read"),
    ("ohlc.session_ohlc_s", "s"),
    ("asof.nearest_s", "s"),
    ("store.files_per_commit", "count"),
    ("store.bytes_per_row", "bytes"),
    ("store.log_bytes", "bytes/commit"),
    ("demoted.op_p90_s", "s"),
    ("demoted.aux_p50_s", "s"),
]


def install(tracer) -> None:
    from stock_ops_spark.sources import commitlog, services

    tracer.patch(commitlog.ManifestStore, "ingest_batch", "commitlog.ingest_batch")
    tracer.patch(commitlog.ManifestLog, "state", "commitlog.state",
                 outcome=lambda s: len(s["dirs"]))
    tracer.patch(commitlog.ManifestLog, "try_commit", "commitlog.try_commit")
    tracer.patch(commitlog.ManifestStore, "compact", "commitlog.compact",
                 outcome=lambda r: r.get("rewritten", 0))
    orig_rw = commitlog.ManifestStore.read_where

    def read_where(self, *a, **kw):
        # ask for the dir-pruning counts read_where reports through its
        # ``stats`` argument, and keep them on the span
        st = kw.get("stats")
        if st is None:
            kw["stats"] = st = {}
        with tracer.span("commitlog.read_where") as rec:
            out = orig_rw(self, *a, **kw)
            rec["outcome"] = dict(st)
            return out

    tracer.replace(commitlog.ManifestStore, "read_where", read_where)
    tracer.patch(commitlog, "materialize_micro", "microcommit.materialize",
                 outcome=lambda out: out[2] is not None)
    tracer.patch(commitlog, "write_micro", "microcommit.write", outcome=bool)
    tracer.patch(commitlog, "collect_micro", "microcommit.collect",
                 outcome=lambda out: out is not None)
    tracer.patch(services, "local_relation", "localrel.local_relation")


def walk_store(store) -> dict:
    """Files, bytes and commits of the store on disk."""
    from stock_ops_spark.sources.layout import MODES

    out = {"data_files": 0, "live_bytes": 0, "live_rows": 0,
           "commits": 0, "log_bytes": 0}
    for mode in MODES:
        log = store.log(mode)
        if not os.path.isdir(log.log_dir):
            continue
        state = log.state()
        out["commits"] += state["version"]
        live = set(state["dirs"])
        out["live_rows"] += sum((state["meta"].get(d) or {}).get("n") or 0 for d in live)
        for name in os.listdir(log.log_dir):
            if name.endswith(".json"):
                out["log_bytes"] += os.path.getsize(os.path.join(log.log_dir, name))
        root = store.data_path(mode)
        for d in os.listdir(root):
            for dirpath, _dirs, files in os.walk(os.path.join(root, d)):
                for f in files:
                    if f.endswith(".parquet"):
                        out["data_files"] += 1
                        if d in live:
                            out["live_bytes"] += os.path.getsize(os.path.join(dirpath, f))
    return out


def percentile(xs: list[float], p: float) -> float:
    """Linear interpolation between the closest ranks of ``xs`` (non-empty)."""
    s = sorted(xs)
    k = (len(s) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def _med(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def _by_name(spans) -> dict[str, list]:
    by: dict[str, list] = {}
    for s in spans:
        by.setdefault(s["name"], []).append(s)
    return by


def _durs(spans) -> list[float]:
    return [s["end"] - s["start"] for s in spans]


def per_layer(workload, run, setup_run, tracer, event_dir, session_s, walk) -> dict:
    """Per-layer metrics from the timed loop's spans, except the S1 layers
    (fetch, local relation, transform, declined collects), which come
    from the spans of the set-up backfill when the workload has one."""
    done = [s for s in tracer.spans if s["end"] is not None]
    by = _by_name(s for s in done if s["start"] >= run.t_start)
    bf = _by_name(
        s for s in done
        if setup_run is not None
        and setup_run.t_start <= s["start"] <= setup_run.t_start + setup_run.wall_s
    )

    def med(name):
        return _med(_durs(by.get(name, [])))

    ingests = by.get("commitlog.ingest_batch", [])
    n_ingest = len(ingests)
    states = by.get("commitlog.state", [])
    in_ingest = sum(
        1 for s in states
        if any(i["start"] <= s["start"] <= i["end"] for i in ingests)
    )
    compacts = [s for s in by.get("commitlog.compact", []) if s.get("outcome")]
    mats = by.get("microcommit.materialize", [])
    writes = by.get("microcommit.write", [])
    bf_ingests = len(bf.get("commitlog.ingest_batch", []))
    declined = [
        s for s in bf.get("microcommit.collect", []) + bf.get("microcommit.write", [])
        if not s.get("outcome")
    ]
    rw = [s.get("outcome") or {} for s in by.get("commitlog.read_where", [])]
    dirs_total = sum(o.get("dirs_total", 0) for o in rw)
    n_requests = len(run.ivals.get("request", [])) + len(run.ivals.get("refetch", []))
    primary, aux = OPS[workload]

    m: dict[str, float] = {
        "session.start_s": session_s,
        "services.fetch_s": _med(_durs(bf.get("services.fetch", []))),
        "localrel.local_relation_s": _med(_durs(bf.get("localrel.local_relation", []))),
        "transform.rejected_rows": (
            run.extra.get("rejected_rows", 0) / n_requests if n_requests else 0.0
        ),
        "commitlog.ingest_batch_s": med("commitlog.ingest_batch"),
        "commitlog.state_s": med("commitlog.state"),
        "commitlog.state_calls_per_commit": in_ingest / n_ingest if n_ingest else 0.0,
        "commitlog.try_commit_s": med("commitlog.try_commit"),
        "commitlog.compactions": len(compacts) / n_ingest if n_ingest else 0.0,
        "commitlog.compact_s": _med(_durs(compacts)),
        "commitlog.read_where_s": med("commitlog.read_where"),
        "commitlog.dirs_read_frac": (
            sum(o.get("dirs_read", 0) for o in rw) / dirs_total if dirs_total else 0.0
        ),
        "commitlog.live_dirs_max": float(max((s.get("outcome") or 0 for s in states), default=0)),
        "commitlog.table_stats_s": med("commitlog.table_stats"),
        "microcommit.materialize_s": med("microcommit.materialize"),
        "microcommit.write_s": _med(_durs([s for s in writes if s.get("outcome")])),
        "microcommit.micro_frac": (
            sum(1 for s in mats if s.get("outcome")) / len(mats) if mats else 0.0
        ),
        "microcommit.declined_collect_s": (
            sum(_durs(declined)) / bf_ingests if bf_ingests else 0.0
        ),
        "reader.read_dt_range_s": med("reader.read_dt_range"),
        "reader.to_pandas_s": med("reader.to_pandas"),
        "reader.rows_returned": (
            run.rows / len(run.ivals["read"]) if run.ivals.get("read") else 0.0
        ),
        "ohlc.session_ohlc_s": med("ohlc.session_ohlc"),
        "asof.nearest_s": med("asof.nearest"),
        "store.files_per_commit": walk["data_files"] / walk["commits"] if walk["commits"] else 0.0,
        "store.bytes_per_row": walk["live_bytes"] / walk["live_rows"] if walk["live_rows"] else 0.0,
        "store.log_bytes": walk["log_bytes"] / walk["commits"] if walk["commits"] else 0.0,
        "demoted.op_p90_s": (
            percentile(run.lat[primary], 90) if run.lat.get(primary) else 0.0
        ),
        "demoted.aux_p50_s": _med(run.lat.get(aux, [])),
    }

    # streaming: a trigger's time outside the store is its wall time
    # minus the ingest_batch call inside it (plain first deliveries)
    trig, outside = [], []
    for t0, t1 in run.ivals.get("commit", []):
        trig.append(t1 - t0)
        inside = sum(
            min(i["end"], t1) - i["start"] for i in ingests if t0 <= i["start"] <= t1
        )
        outside.append((t1 - t0) - inside)
    m["streaming.trigger_s"] = _med(trig)
    m["streaming.outside_store_s"] = _med(outside)

    jobs = read_jobs(event_dir)
    for kind in OP_TYPES:
        iv = run.ivals.get(kind, [])
        counts, busy, self_s = [], [], []
        for t0, t1 in iv:
            c, b = jobs_in(jobs, t0, t1)
            counts.append(c)
            busy.append(b)
            self_s.append((t1 - t0) - b)
        m[f"spark.jobs_per_op.{kind}"] = sum(counts) / len(counts) if counts else 0.0
        m[f"spark.job_s_per_op.{kind}"] = _med(busy)
        m[f"driver.self_s.{kind}"] = _med(self_s)
    units = dict(PER_LAYER)
    return {name: (float(m[name]), units[name]) for name, _u in PER_LAYER}

