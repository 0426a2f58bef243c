"""Summarize an ab_interleave run.

    python tools/ab_report.py OUT_base.json OUT_head.json
        bench.py pairs: per-query pairwise wins and min-over-pairs.

    python tools/ab_report.py --perfbench OUT.jsonl
        perfbench pairs: per workload and end-to-end metric of
        BENCHMARK.json, the median and quartiles of each side, the wins
        of HEAD out of N pairs, the claim rule (better in at least 9 of
        10 pairs, and in the median by more than the base's
        interquartile range) and the metric's regression bound; then
        each run's load and CPU mark.  A claim needs at least ten pairs.

    python tools/ab_report.py --record WORKLOAD SIDE PAIR SEED FIRST RC < stdout
        one perfbench run's stdout as one JSON line of OUT.jsonl (what
        ``tools/ab_interleave.sh --perfbench`` appends).
"""
from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(path: str) -> list[dict]:
    runs = []
    with open(path) as f:
        for line in f:
            line = line.strip()
            if line.startswith("{"):
                runs.append(json.loads(line))
    return runs


def bench_report(base_path: str, head_path: str) -> None:
    base_runs, head_runs = load(base_path), load(head_path)
    n = min(len(base_runs), len(head_runs))
    qs = sorted(base_runs[0]["queries"])
    print(f"{'query':38s} {'base(min)':>9s} {'head(min)':>9s} {'ratio':>6s} wins  pairs(base->head)")
    tot_b = tot_h = 0.0
    for q in qs:
        b = [r["queries"].get(q) for r in base_runs[:n]]
        h = [r["queries"].get(q) for r in head_runs[:n]]
        if any(v is None for v in b + h):
            continue
        wins = sum(1 for x, y in zip(b, h) if y < x)
        mb, mh = min(b), min(h)
        tot_b += mb
        tot_h += mh
        pairs = " ".join(f"{x:.2f}->{y:.2f}" for x, y in zip(b, h))
        print(f"{q:38s} {mb:9.3f} {mh:9.3f} {mh/max(mb,0.01):6.2f} {wins}/{n}   {pairs}")
    print(f"{'TOTAL(min-over-pairs)':38s} {tot_b:9.3f} {tot_h:9.3f} {tot_h/max(tot_b,0.01):6.2f}")
    for i, (rb, rh) in enumerate(zip(base_runs, head_runs)):
        eb, eh = rb.get("env", {}), rh.get("env", {})
        print(f"# pair {i+1}: base load={eb.get('load_avg_1m')} mark={eb.get('cpu_mark_ms')} | "
              f"head load={eh.get('load_avg_1m')} mark={eh.get('cpu_mark_ms')}")


def record(argv: list[str], text: str) -> dict:
    """One run's record: the ``env`` line and the final JSON line of
    perfbench's stdout (None when the run printed none)."""
    workload, side, pair, seed, first, rc = argv
    env, result = None, None
    for line in text.splitlines():
        if line.startswith("env "):
            env = json.loads(line[4:])
        elif line.startswith("{"):
            result = json.loads(line)
    return {"workload": workload, "side": side, "pair": int(pair),
            "seed": int(seed), "first": first, "rc": int(rc),
            "env": env, "result": result}


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3), linearly interpolated between closest ranks."""
    s = sorted(xs)

    def at(p):
        k = (len(s) - 1) * p
        lo = int(k)
        hi = min(lo + 1, len(s) - 1)
        return s[lo] + (s[hi] - s[lo]) * (k - lo)

    return at(0.25), at(0.5), at(0.75)


def perfbench_report(path: str) -> None:
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        metrics = json.load(f)["end_to_end"]
    runs = load(path)
    for w in sorted({r["workload"] for r in runs}):
        by = {(r["pair"], r["side"]): r for r in runs if r["workload"] == w}
        pairs = sorted(p for p, s in by if s == "base" and (p, "head") in by)
        for side in ("base", "head"):
            rs = [by[(p, side)] for p in pairs]
            att = sum((r["result"] or {}).get("attempted", 0) for r in rs)
            bad = sum((r["result"] or {}).get("failed", 0) for r in rs)
            wrong = sum(1 for r in rs if r["rc"] or not (r["result"] or {}).get("correct"))
            print(f"{w} {side}: {len(rs)} runs, {bad}/{att} ops failed, "
                  f"{wrong} runs not correct")
        print(f"{'metric':10s} {'base q1':>9s} {'median':>9s} {'q3':>9s}   "
              f"{'head q1':>9s} {'median':>9s} {'q3':>9s}  {'change':>7s} wins   claim  bound")
        # a run that printed no result drops its pair from the metrics
        done = [p for p in pairs if by[(p, "base")]["result"] and by[(p, "head")]["result"]]
        for m in metrics:
            name, lower = m["name"], m["better"] == "lower"
            vals = {
                side: [by[(p, side)]["result"]["metrics"][name]["value"] for p in done]
                for side in ("base", "head")
            }
            if not done:
                continue
            bq, hq = quartiles(vals["base"]), quartiles(vals["head"])
            wins = sum(
                1 for b, h in zip(vals["base"], vals["head"]) if (h < b if lower else h > b)
            )
            n = len(done)
            gain = (bq[1] - hq[1]) if lower else (hq[1] - bq[1])
            claim = n >= 10 and wins * 10 >= 9 * n and gain > bq[2] - bq[0]
            change = (hq[1] - bq[1]) / bq[1] if bq[1] else float("nan")
            worse = -change if not lower else change
            bound = "over" if worse > m["bound"] else "ok"
            print(f"{name:10s} {bq[0]:9.4g} {bq[1]:9.4g} {bq[2]:9.4g}   "
                  f"{hq[0]:9.4g} {hq[1]:9.4g} {hq[2]:9.4g}  {change:+7.1%} "
                  f"{wins:2d}/{n:<2d}  {'holds' if claim else 'no':5s}  {bound}")
        print()
    print("# run: workload pair side (first) load_avg_1m cpu_mark_ms")
    for r in runs:
        env = r.get("env") or {}
        print(f"# {r['workload']} {r['pair']} {r['side']} ({r.get('first', '?')}) "
              f"{env.get('load_avg_1m')} {env.get('cpu_mark_ms')}")


def main() -> None:
    if sys.argv[1] == "--record":
        print(json.dumps(record(sys.argv[2:], sys.stdin.read())))
    elif sys.argv[1] == "--perfbench":
        perfbench_report(sys.argv[2])
    else:
        bench_report(sys.argv[1], sys.argv[2])


if __name__ == "__main__":
    main()
