"""Summarise an interleaved parent/change perfbench A/B.

Usage: python3 plans/r08/ab_summary.py plans/r08/ab_runs.jsonl > plans/r08/ab.json

Each input line is one run: {"side": "parent"|"change", "workload", "seed",
"result"}, where "result" is the JSON line `perfbench/run.py --trace 0`
printed. Per workload and end-to-end metric: each side's median and
quartiles, the change/parent ratio of the medians, the parent's spread
(quartile distance over median), and in how many seed pairs the change
read better.
"""
import json
import statistics
import sys

LOWER_IS_BETTER = {"apply_events_per_s": False}


def quartiles(xs):
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], statistics.median(xs), q[2]


def main(path):
    runs = {}
    for line in open(path):
        r = json.loads(line)
        runs.setdefault(r["workload"], {}).setdefault(r["seed"], {})[r["side"]] = r["result"]
    out = {}
    for w, seeds in sorted(runs.items()):
        pairs = {s: r for s, r in seeds.items() if len(r) == 2}
        if not pairs:
            continue
        res = {"pairs": len(pairs), "seeds": sorted(pairs),
               "correct": all(r[s]["correct"] for r in pairs.values() for s in r),
               "failed_ops": {s: sum(r[s]["failed"] for r in pairs.values())
                              for s in ("parent", "change")},
               "attempted_ops": {s: sum(r[s]["attempted"] for r in pairs.values())
                                 for s in ("parent", "change")},
               "metrics": {}}
        names = sorted(next(iter(pairs.values()))["parent"]["metrics"])
        for m in names:
            par = [pairs[s]["parent"]["metrics"][m]["value"] for s in sorted(pairs)]
            chg = [pairs[s]["change"]["metrics"][m]["value"] for s in sorted(pairs)]
            low = LOWER_IS_BETTER.get(m, True)
            wins = sum((c < p) if low else (c > p) for p, c in zip(par, chg))
            pq, cq = quartiles(par), quartiles(chg)
            res["metrics"][m] = {
                "parent": {"q1": pq[0], "median": pq[1], "q3": pq[2], "runs": par},
                "change": {"q1": cq[0], "median": cq[1], "q3": cq[2], "runs": chg},
                "ratio": cq[1] / pq[1] if pq[1] else None,
                "parent_spread": (pq[2] - pq[0]) / pq[1] if pq[1] else None,
                "change_wins": wins,
            }
        out[w] = res
    json.dump(out, sys.stdout, indent=1, sort_keys=True)
    print()


if __name__ == "__main__":
    main(sys.argv[1])
