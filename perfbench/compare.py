#!/usr/bin/env python3
"""Collect and compare sets of benchmark runs.

    python3 perfbench/compare.py collect OUT.jsonl --seeds 1-10 [--workloads a,b] [--trace]
    python3 perfbench/compare.py diff A.jsonl B.jsonl

`collect` runs run.py once per workload and seed and appends one line per
run: {"workload", "seed", "trace", "out"}, where "out" is run.py's result line (null
if the run failed). Run it on the parent commit and on the change, alternating if you can.

`diff` reports, per workload, each side's failures (failed ops and checks,
and runs without a result), and per end-to-end metric: each side's median
and quartiles over its correct runs, the fraction of seed-matched pairs the
change (B) wins, and a verdict against the metric's bound in BENCHMARK.json
(runs pair up by seed, so collect both sides with the same seeds):
  regressed   B's median is worse than A's by more than the bound, or B has
              more failures than A (a gain does not count then);
  unresolved  a side's spread (quartile distance over median) exceeds the
              bound and the runs do not separate completely;
  improved    B wins at least 9 in 10 pairs and the medians differ by more
              than A's quartile distance;
  same        otherwise.
Given traced runs (--trace), it also ranks the layers by how much their
self time per warm pass moved, so a gain can be placed in a layer.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def load(path):
    return [json.loads(line) for line in open(path) if line.strip()]


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def collect(args):
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    names = args.workloads.split(",") if args.workloads else [w["name"] for w in bench["workloads"]]
    for seed in seeds(args.seeds):
        for name in names:
            cmd = bench["command"] + ["--workload", name, "--seed", str(seed), "--seconds",
                                      str(bench["run_seconds"]), "--trace", str(int(args.trace))]
            r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
            lines = r.stdout.strip().splitlines()
            out = json.loads(lines[-1]) if r.returncode == 0 and lines else None
            with open(args.out, "a") as f:
                f.write(json.dumps({"workload": name, "seed": seed, "trace": args.trace,
                                    "out": out}) + "\n")
            print(f"{name} seed {seed}: {'ok' if out else f'exit {r.returncode}'}", file=sys.stderr)


def quartiles(v):
    if len(v) < 2:
        return v[0], v[0], v[0]
    q = statistics.quantiles(v, n=4)
    return q[0], statistics.median(v), q[2]


def series(runs, workload, metric):
    """Metric values by seed for one workload, from its correct runs."""
    return {r["seed"]: r["out"]["metrics"][metric]["value"] for r in runs
            if r["workload"] == workload and r["out"] and r["out"]["correct"]
            and metric in r["out"]["metrics"]}


def failures(runs):
    """Failed ops and checks over the runs; a run without a result counts
    as one failure."""
    return sum(r["out"]["failed"] if r["out"] else 1 for r in runs)


def verdict(a, b, bound, lower_better):
    qa, qb = quartiles(list(a.values())), quartiles(list(b.values()))
    sign = 1 if lower_better else -1
    worse = sign * (qb[1] - qa[1]) / qa[1] if qa[1] else 0.0
    # Pairs by seed when the sides share seeds, else by run order.
    common = sorted(set(a) & set(b))
    pairs = ([(a[s], b[s]) for s in common] if common
             else list(zip([a[s] for s in sorted(a)], [b[s] for s in sorted(b)])))
    pairs = [(x, y) for x, y in pairs if x != y]
    wins = sum(1 for x, y in pairs if sign * (y - x) < 0)
    win_frac = wins / len(pairs) if pairs else 0.0
    spread = max((qa[2] - qa[0]) / qa[1] if qa[1] else 0.0, (qb[2] - qb[0]) / qb[1] if qb[1] else 0.0)
    separated = (max(b.values()) < min(a.values())) if lower_better else (min(b.values()) > max(a.values()))
    if worse > bound:
        v = "regressed"
    elif spread > bound and not separated:
        v = "unresolved"
    elif win_frac >= 0.9 and abs(qb[1] - qa[1]) > (qa[2] - qa[0]):
        v = "improved"
    else:
        v = "same"
    return qa, qb, win_frac, len(pairs), worse, v


def traced(r):
    return r.get("trace", False) or "trace.overhead_s" in ((r["out"] or {}).get("metrics") or {})


def diff(args):
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    a, b = load(args.a), load(args.b)
    ok = True
    for w in [w["name"] for w in bench["workloads"]]:
        ta = [r for r in a if r["workload"] == w and not traced(r)]
        tb = [r for r in b if r["workload"] == w and not traced(r)]
        if ta and tb:
            fa, fb = failures(ta), failures(tb)
            print(f"\n{w}  (A {len(ta)} runs, {fa} failures; B {len(tb)} runs, {fb} failures)")
            print(f"  {'metric':16s} {'A q1/med/q3':>30s} {'B q1/med/q3':>30s} {'B wins':>9s} "
                  f"{'worse':>7s} {'bound':>6s}  verdict")
            for m in bench["end_to_end"]:
                sa, sb = series(ta, w, m["name"]), series(tb, w, m["name"])
                if not sa or not sb:
                    continue
                qa, qb, wf, n, worse, v = verdict(sa, sb, m["bound"], m["better"] == "lower")
                if fb > fa:
                    v = "regressed (more failures)"
                ok &= not v.startswith("regressed")
                sqa = "/".join(f"{x:.4g}" for x in qa)
                sqb = "/".join(f"{x:.4g}" for x in qb)
                print(f"  {m['name']:16s} {sqa:>30s} {sqb:>30s} {wf:>5.2f}/{n:<3d} "
                      f"{worse:>+7.3f} {m['bound']:>6.2f}  {v}")
        xa = [r for r in a if r["workload"] == w and traced(r)]
        xb = [r for r in b if r["workload"] == w and traced(r)]
        if xa and xb:
            print(f"\n{w}  traced (A {len(xa)} runs, B {len(xb)} runs)")
            moved = []
            keys = {k for r in xa + xb if r["out"] for k in r["out"]["metrics"]}
            for k in sorted(keys):
                sa, sb = series(xa, w, k), series(xb, w, k)
                if not k.startswith("self.") or not sa or not sb:
                    continue
                ma, mb = statistics.median(sa.values()), statistics.median(sb.values())
                moved.append((mb - ma, k[len("self."):-len("_s")], ma, mb))
            moved.sort(key=lambda t: -abs(t[0]))
            print("  layer self time per measured traced pass, largest move first:")
            for d, layer, ma, mb in moved[:6]:
                print(f"    {layer:16s} {ma:8.3f} s -> {mb:8.3f} s  ({d:+.3f} s)")
    return 0 if ok else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    c = sub.add_parser("collect")
    c.add_argument("out")
    c.add_argument("--seeds", default="1-10")
    c.add_argument("--workloads")
    c.add_argument("--trace", action="store_true")
    d = sub.add_parser("diff")
    d.add_argument("a")
    d.add_argument("b")
    args = ap.parse_args()
    if args.cmd == "collect":
        collect(args)
        return 0
    return diff(args)


if __name__ == "__main__":
    sys.exit(main())
