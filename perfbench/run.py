"""perfbench: the repository's workload benchmark.

    python3 perfbench/run.py --workload live_stream --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  It starts one Spark session
(``local[N]``, N = min(2, cores)), sets up the workload from the seed,
warms it up, measures for ``--seconds`` with one closed-loop client,
checks every op's output, and prints a table followed by one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
metrics of a separate traced run (spans around the engine's public calls
plus a Spark event log).  Metric names and units are the ones in
``BENCHMARK.json``; ``perfbench/README.md`` says what each one means on
each workload.  Scratch data lives under ``.perfbench_work/`` in the
checkout and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench import gen, layers  # noqa: E402
from perfbench.layers import percentile  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402

#: percentiles a timing may be reported at, lowest first
LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)


def supported_percentile(n: int) -> float | None:
    """The highest ladder percentile with at least ten of ``n`` samples
    beyond it (None when even the median lacks them)."""
    best = None
    for p in LADDER:
        if n * (100.0 - p) / 100.0 >= 10.0 - 1e-9:
            best = p
    return best


def cores() -> int:
    """Spark's local threads: two, or one on a one-core machine.  A
    commit or read here is a few small tasks, and the cores left over
    keep the JVM's JIT and GC threads and the Python client off the task
    threads' cores."""
    return max(1, min(2, os.cpu_count() or 1))


def start_session(work: str, n: int, trace: bool):
    from stock_ops_spark.session import get_spark

    tmp = os.path.join(work, "jvmtmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # keep every batch's progress of a drain (the default keeps 100)
        "spark.sql.streaming.numRecentProgressUpdates": "1000",
    }
    if trace:
        os.makedirs(os.path.join(work, "events"), exist_ok=True)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + os.path.join(work, "events")
        conf["spark.eventLog.compress"] = "false"
    # shuffle partitions by get_spark's own rule for N cpus
    return get_spark(
        app_name="perfbench", master=f"local[{n}]",
        shuffle_partitions=max(n, 8), extra_conf=conf,
    )


def stop_session(spark) -> None:
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        # the gateway JVM exits when its stdin reaches EOF
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    SparkContext._gateway = None
    SparkContext._jvm = None


def timing_rows(run) -> list[dict]:
    """Every op type's latency summary: sample count, median, p90 and
    the percentile the sample count supports."""
    rows = []
    for kind, xs in sorted(run.lat.items()):
        rows.append({
            "op": kind, "n": len(xs), "p50": percentile(xs, 50),
            "p90": percentile(xs, 90),
            "supports": supported_percentile(len(xs)),
        })
    return rows


#: the per-workload names of the end-to-end numbers: (name, op type or
#: None for the workload's rows/s, percentile)
NAMED = {
    "live_stream": [
        ("stream_rows_per_s", None, None), ("commit_p50_s", "commit", 50),
        ("commit_p90_s", "commit", 90), ("late_commit_p50_s", "late_commit", 50),
        ("redelivery_p50_s", "redelivery", 50),
    ],
    "query_mix": [
        ("mix_ops_per_s", None, None), ("read_p50_s", "read", 50), ("read_p90_s", "read", 90),
        ("bar_read_p50_s", "bar_read", 50),
        ("ohlc_p50_s", "ohlc", 50), ("asof_p50_s", "asof", 50),
        ("mix_commit_p50_s", "mix_commit", 50),
    ],
}


def named_rows(name: str, run) -> list[tuple[str, float, str, int, str]]:
    """(name, value, unit, samples, supported percentile) per named metric;
    the workload's throughput is rows/s (live_stream) or ops/s."""
    out = []
    for metric, op, p in NAMED[name]:
        if op is None:
            per_s = run.rows if name == "live_stream" else run.counted
            unit = "rows/s" if name == "live_stream" else "1/s"
            v = per_s / run.wall_s if run.wall_s else float("nan")
            out.append((metric, v, unit, run.counted, "-"))
            continue
        xs = run.lat.get(op, [])
        sp = supported_percentile(len(xs))
        out.append((
            metric, percentile(xs, p) if xs else float("nan"), "s", len(xs),
            f"p{sp:g}" if sp else "none (n<20)",
        ))
    return out


def end_to_end(name: str, run, setup_s: float) -> dict[str, tuple[float, str]]:
    """The BENCHMARK.json end-to-end metrics of one workload's timed loop."""
    primary, _aux = layers.OPS[name]
    return {
        "setup_s": (setup_s, "s"),
        "ops_per_s": (run.counted / run.wall_s if run.wall_s else float("nan"), "1/s"),
        "op_p50_s": (percentile(run.lat.get(primary) or [float("nan")], 50), "s"),
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(layers.OPS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--spans", help="also write the traced run's spans here (JSON lines)")
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "stock_ops_spark", "__init__.py")):
        print("perfbench: run from the root of a stock_ops_spark checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    # bench.py's machine-state probe, taken before this run's JVM starts
    # so concurrent_jvms counts only other work on the machine
    from bench import _env_snapshot

    env = _env_snapshot()
    from perfbench.workloads import SIZES, WORKLOADS

    digest = gen.input_digest(args.workload, args.seed, SIZES[args.workload])
    n = cores()
    env["local_n"] = n
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"])
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    tempfile.tempdir = None
    tracer = Tracer(enabled=bool(args.trace))
    spark = None
    setup_table: list[dict] = []
    try:
        t0 = time.time()
        with tracer.span("session.start", op="setup"):
            spark = start_session(work, n, bool(args.trace))
        session_s = time.time() - t0
        if args.trace:
            layers.install(tracer)
        w = WORKLOADS[args.workload](spark, work, args.seed, tracer)
        t0 = time.time()
        with tracer.span("workload.setup", op="setup"):
            w.setup(args.seconds)
        data_s = time.time() - t0
        t0 = time.time()
        with tracer.span("workload.warm", op="setup"):
            w.warm()
        warm_s = time.time() - t0
        setup_s = session_s + data_s + warm_s
        try:
            t0 = time.time()
            run = w.run()
            loop_s = time.time() - t0
        finally:
            tracer.restore()
        e2e = end_to_end(args.workload, run, setup_s)
        table, named = timing_rows(run), named_rows(args.workload, run)
        # ops made during set-up (query_mix's warm-up cycle and traced
        # backfill) join the failure count and the traced run's per-op
        # metrics, not the timed loop's figures above
        setup_run = getattr(w, "setup_run", None)
        if setup_run is not None:
            setup_table = timing_rows(setup_run)
            run.absorb(setup_run)
        store_walk = layers.walk_store(w.store)
        stop_session(spark)
        spark = None
        if args.trace:
            metrics = layers.per_layer(
                args.workload, run, setup_run, tracer,
                os.path.join(work, "events"), session_s, store_walk,
            )
            if args.spans:
                tracer.write(args.spans)
        else:
            metrics = e2e
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass

    attempted = max(run.attempted, 1)
    print(f"workload={args.workload} seed={args.seed} seconds={args.seconds:g} "
          f"trace={args.trace} local[{n}] input_digest={digest}")
    print("env " + json.dumps(env, sort_keys=True))
    print(f"setup: session {session_s:.3f}s, data {data_s:.3f}s, warm-up {warm_s:.3f}s; "
          f"timed loop {loop_s:.3f}s, {run.wall_s:.3f}s of it in the engine")
    print(f"{'op':<16}{'n':>5}{'p50_s':>10}{'p90_s':>10}  supports")
    for prefix, rows in (("", table), ("set-up ", setup_table)):
        for t in rows:
            sp = f"p{t['supports']:g}" if t["supports"] else "none (n<20)"
            print(f"{prefix + t['op']:<16}{t['n']:>5}{t['p50']:>10.4f}{t['p90']:>10.4f}  {sp}")
    for metric, v, unit, n_s, sp in named:
        print(f"named {metric} = {v:.6g} {unit} (n={n_s}, supports {sp})")
    for k, (v, unit) in e2e.items():
        print(f"e2e {k} = {v!r} {unit}")
    print(f"failed_frac {run.failed / attempted:.4f} ({run.failed}/{run.attempted})")
    for note in run.notes[:20]:
        print("failure: " + note)
    # a metric with no samples (every op of its type failed) is NaN;
    # JSON has no NaN, so it reads 0 and the run is not correct
    finite = all(math.isfinite(v) for v, _u in metrics.values())
    out = {
        "correct": run.failed == 0 and finite,
        "attempted": attempted,
        "failed": run.failed,
        "metrics": {
            k: {"value": v if math.isfinite(v) else 0.0, "unit": u}
            for k, (v, u) in metrics.items()
        },
    }
    sys.stdout.flush()
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
