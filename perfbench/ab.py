#!/usr/bin/env python3
"""Steadiness, A/B and tracing-overhead runs of the graft benchmark.

    # spread of every end-to-end metric over ten seeds, against its bound
    python3 perfbench/ab.py steady

    # parent vs change: ten pairs, alternating which runs first, one seed per pair
    python3 perfbench/ab.py ab --parent ../graft-parent --change .

    # tracing overhead: traced vs untraced runs of three seeds
    python3 perfbench/ab.py overhead

Each run is `python3 perfbench/run.py` in the named checkout, with the
run length from BENCHMARK.json (the change's, for both sides of an A/B). Quartiles are statistics.quantiles(n=4);
spread is (q3 - q1) / median. Raw results are appended to --out as JSON
lines. The A/B verdicts follow perfbench/README.md ("Claiming a change"):
a gain needs the change to win at least 9 of the 10 pairs (ties, and pairs
where either side failed, count for neither side), no more failed
operations than the parent, and a median gap wider than the parent's own
quartile gap; a metric whose parent spread exceeds its bound is unresolved
unless every change run beats every parent run.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
STEADY_RUNS = 10
PAIRS = 10
OVERHEAD_RUNS = 3


def bench(checkout):
    return json.loads((Path(checkout) / "BENCHMARK.json").read_text())


def run_once(checkout, workload, seed, seconds, trace):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.monotonic()
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    try:
        res = json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        res = {"correct": False, "attempted": 1, "failed": 1, "metrics": {}}
    context = next((json.loads(l[len("perfbench context "):]) for l in lines
                    if l.startswith("perfbench context ")), {})
    res.update(checkout=str(checkout), workload=workload, seed=seed, trace=trace, exit=p.returncode,
               wall_s=round(time.monotonic() - t0, 2), context=context)
    if p.returncode != 0:
        sys.stderr.write(f"run failed: {workload} seed {seed} in {checkout} (exit {p.returncode})\n"
                         + p.stderr[-2000:])
    return res


def record(out, res):
    if out:
        with open(out, "a") as f:
            f.write(json.dumps(res) + "\n")


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def spread(xs):
    q1, q2, q3 = quartiles(xs)
    return (q3 - q1) / q2 if q2 else float("inf")


def values(results, name):
    return [r["metrics"][name]["value"] for r in results
            if r["exit"] == 0 and r["metrics"].get(name, {}).get("value") is not None]


def cmd_steady(a):
    b = bench(a.checkout)
    workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in b["workloads"]]
    ok = True
    for w in workloads:
        results = []
        for i in range(STEADY_RUNS):
            res = run_once(a.checkout, w, a.seed0 + i, b["run_seconds"], 0)
            record(a.out, res)
            results.append(res)
        failed = sum(r["exit"] != 0 for r in results)
        walls = [r["wall_s"] for r in results]
        print(f"\n{w}: {STEADY_RUNS} runs, {failed} failed, wall median {statistics.median(walls):.1f}s max {max(walls):.1f}s")
        print(f"  {'metric':24} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>8} {'bound':>6}  verdict")
        for m in b["end_to_end"]:
            xs = values(results, m["name"])
            if not xs:
                print(f"  {m['name']:24} no values")
                ok = False
                continue
            q1, q2, q3 = quartiles(xs)
            s = spread(xs)
            if s > m["bound"]:
                verdict, ok = "UNSTEADY", False
            else:
                verdict = "ok" if s < m["bound"] / 3 else "ok, above a third of the bound"
            print(f"  {m['name']:24} {q2:12.4f} {q1:12.4f} {q3:12.4f} {s:8.4f} {m['bound']:6.2f}  {verdict}")
        ok = ok and failed == 0
    return 0 if ok else 1


def cmd_ab(a):
    b = bench(a.change)
    workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in b["workloads"]]
    for w in workloads:
        par, chg = [], []
        for i in range(PAIRS):
            seed = a.seed0 + i
            order = [("parent", a.parent), ("change", a.change)]
            if i % 2:
                order.reverse()
            for side, checkout in order:
                res = run_once(checkout, w, seed, b["run_seconds"], 0)
                res["side"] = side
                record(a.out, res)
                (par if side == "parent" else chg).append(res)
        # a run that exited non-zero counts all its operations as failed
        fails = {side: sum(r["failed"] if r["exit"] == 0 else max(1, r["attempted"]) for r in rs)
                 for side, rs in (("parent", par), ("change", chg))}
        print(f"\n{w}: {PAIRS} pairs; failed operations: parent {fails['parent']}, change {fails['change']}")
        print(f"  {'metric':24} {'parent median [q1, q3]':>36} {'change median [q1, q3]':>36} {'wins':>6}  verdict")
        for m in b["end_to_end"]:
            name, lower = m["name"], m["better"] == "lower"
            pv, cv = values(par, name), values(chg, name)
            if not pv or not cv:
                print(f"  {name:24} missing values")
                continue
            better = (lambda c, p: c < p) if lower else (lambda c, p: c > p)
            # a pair where either side failed is no win for the change
            wins = sum(better(c["metrics"][name]["value"], p["metrics"][name]["value"])
                       for p, c in zip(par, chg) if p["exit"] == 0 and c["exit"] == 0)
            pq, cq = quartiles(pv), quartiles(cv)
            gap = cq[1] - pq[1]
            worse = (gap if lower else -gap) / pq[1] if pq[1] else 0.0
            gain = wins >= 0.9 * PAIRS and abs(gap) > pq[2] - pq[0] and better(cq[1], pq[1])
            if gain and fails["change"] <= fails["parent"]:
                verdict = "GAIN"
            elif spread(pv) > m["bound"] and not all(better(c, p) for c in cv for p in pv):
                verdict = "unresolved (parent spread above bound)"
            elif worse > m["bound"]:
                verdict = "REGRESSION (worse by more than the bound)"
            elif gain:
                verdict = "no gain claimed (the change failed more operations)"
            else:
                verdict = "no change beyond the bound"
            print(f"  {name:24} {pq[1]:12.4f} [{pq[0]:10.4f}, {pq[2]:10.4f}] {cq[1]:12.4f} [{cq[0]:10.4f}, {cq[2]:10.4f}]"
                  f" {wins:3d}/{PAIRS:<2d}  {verdict}")
    return 0


def cmd_overhead(a):
    b = bench(a.checkout)
    workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in b["workloads"]]
    for w in workloads:
        plain, traced = [], []
        for i in range(OVERHEAD_RUNS):
            for t, dest in ((0, plain), (1, traced)):
                res = run_once(a.checkout, w, a.seed0 + i, b["run_seconds"], t)
                record(a.out, res)
                dest.append(res)
        u, t = values(plain, "op_latency_p50_ms"), values(traced, "trace.op_latency_p50_ms")
        if u and t:
            um, tm = statistics.median(u), statistics.median(t)
            print(f"{w}: op latency p50 untraced {um:.2f} ms, traced {tm:.2f} ms, "
                  f"overhead {tm - um:+.2f} ms ({(tm - um) / um:+.1%})")
        else:
            print(f"{w}: no values")
    return 0


def main():
    ap = argparse.ArgumentParser(description="Steadiness, A/B and tracing-overhead runs.")
    sub = ap.add_subparsers(dest="cmd", required=True)
    for name in ("steady", "ab", "overhead"):
        p = sub.add_parser(name)
        p.add_argument("--workloads", help="comma-separated; default: all in BENCHMARK.json")
        p.add_argument("--seed0", type=int, default=1, help="first seed; run i uses seed0 + i")
        p.add_argument("--out", help="append every raw result to this JSON-lines file")
        if name == "ab":
            p.add_argument("--parent", required=True, help="checkout of the parent commit")
            p.add_argument("--change", required=True, help="checkout of the change")
        else:
            p.add_argument("--checkout", default=str(HERE.parent))
    a = ap.parse_args()
    return {"steady": cmd_steady, "ab": cmd_ab, "overhead": cmd_overhead}[a.cmd](a)


if __name__ == "__main__":
    sys.exit(main())
