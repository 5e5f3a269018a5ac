#!/usr/bin/env python3
"""Compare two sets of benchmark results (lines of the results file
`perfbench/.state/results.jsonl`, one JSON record per run).

    python3 perfbench/compare.py BASE.jsonl NEW.jsonl

Prints, per workload and metric, each side's median and quartile
spread and the change of the medians. Refuses results taken at
different core counts: a number is only comparable with numbers from
the same `cpus`.
"""
import json
import statistics
import sys


def load(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def main(base_path, new_path):
    base, new = load(base_path), load(new_path)
    cpus = {r["env"].get("cpus") for r in base + new}
    if len(cpus) != 1:
        print("refusing to compare results taken at different cpus: %s"
              % sorted(cpus, key=str))
        return 2
    for wl in sorted({r["workload"] for r in base} & {r["workload"] for r in new}):
        a = [r for r in base if r["workload"] == wl]
        b = [r for r in new if r["workload"] == wl]
        for m in sorted(a[0]["metrics"]):
            va = [r["metrics"][m]["value"] for r in a if m in r["metrics"]]
            vb = [r["metrics"][m]["value"] for r in b if m in r["metrics"]]
            if not va or not vb:
                continue

            def stat(v):
                med = statistics.median(v)
                if len(v) < 2 or med == 0:
                    return med, float("nan")
                q = statistics.quantiles(v, n=4)
                return med, (q[2] - q[0]) / med
            ma, sa = stat(va)
            mb, sb = stat(vb)
            change = (mb - ma) / ma if ma else float("nan")
            print("%-18s %-34s base %12.4g (spread %.3f, n=%d)  new %12.4g "
                  "(spread %.3f, n=%d)  change %+.3f"
                  % (wl, m, ma, sa, len(va), mb, sb, len(vb), change))
    return 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
