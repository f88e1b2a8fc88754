#!/usr/bin/env python3
"""Compare two sets of benchmark records, e.g. a parent commit and a change.

    python3 perfbench/compare.py BASE_DIR CHANGE_DIR

Each directory holds the JSON records `run.py` writes to
`.bench_build/results/` (untraced runs; traced records are ignored). The
comparison is refused, with exit code 2, when the records' stamps differ
in anything but the commit (`rev`, `tree`), or when the two sides were
not run on the same seeds with the same inputs. Otherwise it prints, per
workload and end-to-end metric, each side's median and quartiles, the
change's ratio to the base, and whether it is worse than the bound in
BENCHMARK.json; per-query latencies are pooled over all runs.
"""
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import metrics as M  # noqa: E402

# Stamp fields that may differ between the sides or between runs of a side.
VARYING = {"rev", "tree", "seed", "input_digest"}


def stamp_mismatch(a, b):
    """Fields whose values differ between two stamps, ignoring VARYING."""
    keys = (set(a) | set(b)) - VARYING
    return sorted(k for k in keys if a.get(k) != b.get(k))


def load(dir_):
    recs = [json.load(open(f)) for f in sorted(glob.glob(f"{dir_}/*.json"))]
    return [r for r in recs if r["stamp"]["trace"] == 0]


def refusal(base, change):
    """Why the two sides must not be compared, or None."""
    ref = (base + change)[0]["stamp"]
    for r in base + change:
        bad = stamp_mismatch(ref, r["stamp"])
        if bad:
            return f"stamps differ in {bad} ({r['stamp']['workload']} seed {r['stamp']['seed']})"
    inputs = lambda rs: sorted((r["stamp"]["seed"], r["stamp"]["input_digest"]) for r in rs)
    if inputs(base) != inputs(change):
        return "the sides were not run on the same seeds and inputs"
    return None


def summary(values):
    q1, q2, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else values * 3
    return {"median": statistics.median(values), "q1": q1, "q3": q3, "n": len(values)}


def main():
    if len(sys.argv) != 3:
        raise SystemExit(__doc__)
    bounds = {m["name"]: m["bound"]
              for m in json.load(open(f"{os.path.dirname(HERE)}/BENCHMARK.json"))["end_to_end"]}
    base, change = load(sys.argv[1]), load(sys.argv[2])
    if not base or not change:
        raise SystemExit("no untraced records on one side")
    rows = []
    for w in sorted({r["stamp"]["workload"] for r in base + change}):
        b = [r for r in base if r["stamp"]["workload"] == w]
        c = [r for r in change if r["stamp"]["workload"] == w]
        why = refusal(b, c) if b and c else "workload missing on one side"
        if why:
            print(f"REFUSED {w}: {why}")
            sys.exit(2)
        for name, bound in bounds.items():
            sb = summary([r["end_to_end"][name] for r in b])
            sc = summary([r["end_to_end"][name] for r in c])
            ratio = sc["median"] / sb["median"]
            rows.append({"workload": w, "metric": name, "base": sb, "change": sc,
                         "ratio": ratio, "worse_than_bound": ratio > 1 + bound})
        for side, recs in (("base", b), ("change", c)):
            lat = [x for r in recs for x in r["query_latencies_s"]]
            tail = M.tail_percentile(lat)
            print(f"{w} {side}: {len(lat)} query samples, p50 {M.percentile(lat, 50):.4f} s, "
                  + (f"p{tail[0]} {tail[1]:.4f} s" if tail else "no tail percentile"))
    for r in rows:
        flag = "WORSE" if r["worse_than_bound"] else "ok"
        print(f"{r['workload']:15s} {r['metric']:14s} base {r['base']['median']:10.4f} "
              f"[{r['base']['q1']:.4f}, {r['base']['q3']:.4f}]  change {r['change']['median']:10.4f} "
              f"[{r['change']['q1']:.4f}, {r['change']['q3']:.4f}]  x{r['ratio']:.3f} {flag}")


if __name__ == "__main__":
    main()
