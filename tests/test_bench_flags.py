"""Load-aware bench flag adjudication (VERDICT r10 #2).

Two consecutive driver records (r9: 13 flags, r10: 9) flagged ONLY
phantom regressions because bench.py's in-session min-of-2 retime runs
under the same box load as the run it confirms.  The fix ships every
surviving flag WITH its adjudication data: a loaded box (load_avg > 1,
a concurrent JVM, or cpu_mark >15% over the baseline record's) marks
the flag ``suspect_env`` instead of a bare regression.  These tests
drive the pure helpers with synthetic loaded/idle records — no Spark.
"""
from __future__ import annotations

import importlib.util
import os
import sys


def _bench():
    # import bench.py as a module without triggering a SparkSession
    # (its top-level imports are registry-only and cheap)
    if "bench" in sys.modules:
        return sys.modules["bench"]
    spec = importlib.util.spec_from_file_location(
        "bench",
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "bench.py"
        ),
    )
    mod = importlib.util.module_from_spec(spec)
    sys.modules["bench"] = mod
    spec.loader.exec_module(mod)
    return mod


SLOW = {"q95_x": (1.38, 5.45), "q93_y": (0.85, 2.19)}


def test_loaded_box_marks_flags_suspect_env():
    B = _bench()
    env = {"load_avg_1m": 2.42, "cpu_mark_ms": 67.0, "concurrent_jvms": 0}
    base_env = {"cpu_mark_ms": 56.0, "load_avg_1m": 0.4}
    flags = B._build_flag_entries(SLOW, "BENCH_r10.json", env, base_env)
    assert len(flags) == 2
    assert all(f["status"] == "suspect_env" for f in flags)
    # the adjudication numbers ride the record
    assert all(f["load_avg_1m"] == 2.42 for f in flags)
    assert all(f["cpu_mark_ms"] == 67.0 for f in flags)
    assert all(f["baseline_cpu_mark_ms"] == 56.0 for f in flags)
    # most-severe first
    assert flags[0]["query"] == "q95_x"
    assert flags[0]["ratio"] == round(5.45 / 1.38, 2)


def test_cpu_mark_drift_alone_is_suspect():
    B = _bench()
    env = {"load_avg_1m": 0.3, "cpu_mark_ms": 80.0, "concurrent_jvms": 0}
    base_env = {"cpu_mark_ms": 56.0}
    suspect, detail = B._env_suspect(env, base_env)
    assert suspect is True
    assert detail["cpu_mark_ms"] == 80.0 and detail["baseline_cpu_mark_ms"] == 56.0


def test_concurrent_jvm_alone_is_suspect():
    B = _bench()
    suspect, detail = B._env_suspect(
        {"load_avg_1m": 0.2, "cpu_mark_ms": 56.0, "concurrent_jvms": 2},
        {"cpu_mark_ms": 56.0},
    )
    assert suspect is True
    assert detail["concurrent_jvms"] == 2


def test_idle_box_keeps_bare_regression():
    B = _bench()
    env = {"load_avg_1m": 0.43, "cpu_mark_ms": 58.0, "concurrent_jvms": 0}
    base_env = {"cpu_mark_ms": 56.0, "load_avg_1m": 0.5}
    flags = B._build_flag_entries(SLOW, "BENCH_r10.json", env, base_env)
    assert all(f["status"] == "regression" for f in flags)


def test_missing_baseline_env_uses_load_only():
    B = _bench()
    # a tail-parsed legacy record has no env: cpu_mark comparison is
    # skipped, load still decides
    suspect, _ = B._env_suspect({"load_avg_1m": 0.3, "cpu_mark_ms": 58.0}, {})
    assert suspect is False
    suspect, _ = B._env_suspect({"load_avg_1m": 1.7, "cpu_mark_ms": 58.0}, {})
    assert suspect is True
