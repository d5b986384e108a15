"""Summarise and compare benchmark runs.

Each input file holds the captured stdout of one or more runs of
perfbench/run.py (a detail line followed by a result line per run).

  python3 perfbench/compare.py A.out            spread of each metric
  python3 perfbench/compare.py A.out B.out      B's medians against A's

For every workload and end-to-end metric it prints the median, the
quartiles and the spread (Q3 - Q1) / median, and with two files the change
of B's median against A's and whether it stays within the metric's bound in
BENCHMARK.json. Runs are paired only when their identity matches: a
comparison refuses runs taken with a different `cpus`, input sizes, run
length or trace mode.
"""
import json
import statistics
import sys
from collections import defaultdict

IDENTITY = ("cpus", "sizes", "seconds", "trace")


def load(path):
    """{workload: [(detail, result)]} from a file of captured run output."""
    runs = defaultdict(list)
    detail = None
    with open(path) as f:
        for line in f:
            line = line.strip()
            if not line.startswith("{"):
                continue
            rec = json.loads(line)
            if "workload" in rec:
                detail = rec
            elif "metrics" in rec and detail is not None:
                runs[detail["workload"]].append((detail, rec))
                detail = None
    return runs


def identity(runs):
    ids = {json.dumps({k: d[k] for k in IDENTITY}, sort_keys=True) for d, _ in runs}
    if len(ids) != 1:
        raise SystemExit(f"refusing to pool runs with different identities: {sorted(ids)}")
    return ids.pop()


def summary(values):
    q1, med, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (values * 3)
    return {"median": statistics.median(values), "q1": q1, "q3": q3,
            "spread": (q3 - q1) / statistics.median(values) if statistics.median(values) else 0.0}


def main(argv):
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    bounds = {m["name"]: m for m in bench["end_to_end"]}
    sets = [load(p) for p in argv[1:3]]
    ok = True
    for w in sorted(set(sets[0]) | (set(sets[1]) if len(sets) > 1 else set())):
        per = [s.get(w, []) for s in sets]
        ids = [identity(r) for r in per if r]
        if len(set(ids)) > 1:
            raise SystemExit(f"{w}: refusing to compare runs with different identities: {ids}")
        bad = sum(1 for r in per for _, res in r if not res["correct"])
        print(f"{w}: runs {[len(r) for r in per]}, incorrect {bad}")
        ok &= bad == 0
        names = sorted({k for r in per for _, res in r for k in res["metrics"]})
        for m in names:
            sums = [summary([res["metrics"][m]["value"] for _, res in r]) for r in per if r]
            line = f"  {m:14s}" + "".join(
                f" median {s['median']:.5g} [{s['q1']:.5g}, {s['q3']:.5g}] spread {s['spread']:.3f}"
                for s in sums)
            b = bounds.get(m)
            if b and len(sums) == 2:
                a, c = sums[0]["median"], sums[1]["median"]
                worse = (c - a) / a if b["better"] == "lower" else (a - c) / a
                within = worse <= b["bound"]
                ok &= within
                line += f" | worse by {worse:+.3f} (bound {b['bound']}) {'ok' if within else 'REGRESSION'}"
            elif b and m != "setup_s":
                within = sums[0]["spread"] <= b["bound"]
                ok &= within
                line += f" | bound {b['bound']} {'ok' if within else 'TOO NOISY'}"
            print(line)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv))
