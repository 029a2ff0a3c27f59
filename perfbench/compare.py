#!/usr/bin/env python3
"""Compare two sets of benchmark runs.

    python3 perfbench/compare.py BASE NEW

BASE and NEW are each a directory of run records (the .json files that
perfbench/run.py leaves in .bench_build/runs) or a glob of them. For every
workload and end-to-end metric of BENCHMARK.json it prints both sides'
median and quartiles over the untraced runs, the ratio NEW/BASE and a
verdict:

  within bound  NEW's median is no worse than BASE's by more than the bound
  worse         NEW's median is worse by more than the bound
  unresolved    a side's quartile spread exceeds the bound, unless every NEW
                run reads better than every BASE run ("better")

From the traced runs it then prints, per workload, the median per-pass
self time of each layer on both sides and the difference.
"""
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(spec):
    files = sorted(glob.glob(os.path.join(spec, "*.json")) if os.path.isdir(spec) else glob.glob(spec))
    recs = []
    for f in files:
        with open(f) as fh:
            try:
                recs.append(json.load(fh))
            except ValueError:
                pass
    return recs


def stats(vals):
    vals = [v for v in vals if v is not None]
    if not vals:
        return None
    med = statistics.median(vals)
    q1, q3 = (statistics.quantiles(vals, n=4)[0::2] if len(vals) >= 2 else (vals[0], vals[0]))
    return {"n": len(vals), "median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else float("inf"), "vals": vals}


def verdict(b, n, bound, better):
    sign = 1 if better == "lower" else -1
    worse_by = sign * (n["median"] - b["median"]) / b["median"] if b["median"] else 0.0
    if b["spread"] > bound or n["spread"] > bound:
        beats = all(sign * (x - y) < 0 for x in n["vals"] for y in b["vals"])
        return "better" if beats else "unresolved"
    return "worse" if worse_by > bound else "within bound"


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    bench_file = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")
    with open(bench_file) as fh:
        bench = json.load(fh)
    base, new = load(sys.argv[1]), load(sys.argv[2])
    if not base or not new:
        sys.exit("no run records in %s" % (sys.argv[1] if not base else sys.argv[2]))
    print("%-16s %-13s %29s %29s %7s  %s" % ("workload", "metric", "base median [q1,q3]",
                                            "new median [q1,q3]", "ratio", "verdict"))
    for w in [x["name"] for x in bench["workloads"]]:
        for m in bench["end_to_end"]:
            k = m["name"]
            b = stats([r["metrics"].get(k) for r in base if r["workload"] == w and not r["trace"]])
            n = stats([r["metrics"].get(k) for r in new if r["workload"] == w and not r["trace"]])
            if not b or not n:
                print("%-16s %-13s %s" % (w, k, "no runs on one side"))
                continue
            fmt = lambda s: "%9.4g [%8.4g,%8.4g]" % (s["median"], s["q1"], s["q3"])
            print("%-16s %-13s %29s %29s %7.3f  %s (bound %.2f, n=%d/%d)" % (
                w, k, fmt(b), fmt(n), n["median"] / b["median"] if b["median"] else float("nan"),
                verdict(b, n, m["bound"], m["better"]), m["bound"], b["n"], n["n"]))
    print()
    print("per-pass self time by layer, traced runs (median)")
    for w in [x["name"] for x in bench["workloads"]]:
        bt = [r for r in base if r["workload"] == w and r["trace"]]
        nt = [r for r in new if r["workload"] == w and r["trace"]]
        if not bt or not nt:
            print("  %s: no traced runs on one side" % w)
            continue
        keys = sorted({k for r in bt + nt for k in r["layers"] if k.endswith("_ms") and "." in k
                       and k.split(".")[0] not in ("get", "multiget", "bulkget", "range", "small",
                                                   "filter", "write")} | {"remainder_ms", "wall_ms"})
        print("  %s (%d base, %d new traced runs)" % (w, len(bt), len(nt)))
        for k in keys:
            bm = stats([r["layers"].get(k) for r in bt])
            nm = stats([r["layers"].get(k) for r in nt])
            if bm and nm and (bm["median"] or nm["median"]):
                print("    %-26s %12.2f %12.2f %+12.2f ms" % (k, bm["median"], nm["median"],
                                                            nm["median"] - bm["median"]))


if __name__ == "__main__":
    main()
