"""Write the traced-run report, ``perfbench/REPORT.md``.

    python3 perfbench/report.py --seed 1 --seconds 25

Run from the root of a checkout.  For each workload it makes one
untraced run and one traced run with the same seed and seconds, then
writes one section per workload: the end-to-end numbers of both runs and
their difference (the tracing overhead), the per-layer metrics under
their ``BENCHMARK.json`` names, and the self time per span.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench import layers  # noqa: E402
from perfbench.trace import self_times  # noqa: E402


def _run(workload: str, seed: int, seconds: float, trace: int, spans: str | None):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    if spans:
        cmd += ["--spans", spans]
    out = subprocess.run(cmd, capture_output=True, text=True, timeout=600, check=True)
    lines = out.stdout.strip().splitlines()
    e2e = {}
    named = []
    env = ""
    for ln in lines:
        if ln.startswith("e2e "):
            name, rest = ln[4:].split(" = ", 1)
            val, unit = rest.rsplit(" ", 1)
            e2e[name] = (float(val), unit)
        elif ln.startswith("named "):
            named.append(ln[6:])
        elif ln.startswith("env "):
            env = ln[4:]
    return e2e, named, env, json.loads(lines[-1])


def _span_rows(path: str):
    with open(path) as f:
        spans = [json.loads(ln) for ln in f]
    st = self_times(spans)
    agg: dict[str, list] = {}
    for s in spans:
        if s["end"] is None:
            continue
        a = agg.setdefault(s["name"], [0, 0.0, 0.0])
        a[0] += 1
        a[1] += s["end"] - s["start"]
        a[2] += st[s["id"]]
    return sorted(agg.items(), key=lambda kv: -kv[1][2])


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=25)
    ap.add_argument("--out", default=os.path.join(HERE, "REPORT.md"))
    args = ap.parse_args(argv)

    spans_dir = os.path.join(os.getcwd(), ".perfbench_work")
    os.makedirs(spans_dir, exist_ok=True)
    md = [
        "# perfbench traced-run report",
        "",
        f"Seed {args.seed}, {args.seconds:g} s per run, written by "
        "`python3 perfbench/report.py`.  Per workload: one untraced and one",
        "traced run.  Overhead = traced minus untraced, on the end-to-end",
        "numbers.  Per-layer metrics that read 0 are layers the workload",
        "does not exercise.  Self time = span time not covered by child spans.",
        "The traced `query_mix` run also makes the S1 backfill in set-up,",
        "so its `setup_s` overhead is mostly that backfill, not tracing.",
        "",
    ]
    for workload in layers.OPS:
        spans = os.path.join(spans_dir, f"spans-{workload}.jsonl")
        e0, named0, env0, _ = _run(workload, args.seed, args.seconds, 0, None)
        e1, _named1, env1, j1 = _run(workload, args.seed, args.seconds, 1, spans)
        md += [f"## {workload}", "", f"Machine state, untraced run: `{env0}`",
               "", f"Machine state, traced run: `{env1}`", "",
               "| end-to-end | untraced | traced | overhead | overhead % |",
               "|---|---|---|---|---|"]
        for name, (v0, unit) in e0.items():
            v1 = e1[name][0]
            md.append(f"| {name} ({unit}) | {v0:.4g} | {v1:.4g} | {v1 - v0:+.4g} | "
                      f"{(v1 - v0) / v0 * 100 if v0 else float('nan'):+.1f} |")
        md += ["", "Named numbers (untraced run):", ""]
        md += [f"- {n}" for n in named0]
        md += ["", "| per-layer metric | value | unit |", "|---|---|---|"]
        zero = []
        for name, m in j1["metrics"].items():
            if m["value"] == 0:
                zero.append(name)
            else:
                md.append(f"| {name} | {m['value']:.4g} | {m['unit']} |")
        md += ["", "Not exercised here: " + ", ".join(f"`{z}`" for z in zero), "",
               "| span | calls | total s | self s |", "|---|---|---|---|"]
        for name, (calls, tot, self_s) in _span_rows(spans):
            md.append(f"| {name} | {calls} | {tot:.3f} | {self_s:.3f} |")
        md.append("")
        os.remove(spans)
    try:
        os.rmdir(spans_dir)
    except OSError:
        pass
    with open(args.out, "w") as f:
        f.write("\n".join(md))
    print(f"wrote {args.out}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
