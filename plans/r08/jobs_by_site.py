"""Summarise perfbench traces: Spark jobs per span kind, by call site.

Usage: python3 plans/r08/jobs_by_site.py TRACE.json [TRACE.json ...]

For each trace (written by `perfbench/run.py --trace 1`) prints, per span
name (batch, maintain, lookup, ...), the number of spans, the jobs per
span grouped by the call site the trace recorded, and the end-to-end
`lake.files_added_per_commit` and `apply.jobs_per_batch` metrics.
"""
import collections
import json
import sys


def summarise(path):
    d = json.load(open(path))
    spans = d["spans"]
    named = {s["id"]: s["name"] for s in spans if s["kind"] == "span"}
    count = collections.Counter(named.values())
    by_site = collections.defaultdict(collections.Counter)
    for j in spans:
        if j["kind"] == "job" and j.get("parent", -1) in named:
            by_site[named[j["parent"]]][j["site"]] += 1
    pl = d["per_layer"]
    out = {
        "apply.jobs_per_batch": pl["apply.jobs_per_batch"][0],
        "lake.files_added_per_commit": pl["lake.files_added_per_commit"][0],
        "jobs_per_span": {
            name: {site: n / count[name] for site, n in sorted(sites.items())}
            for name, sites in sorted(by_site.items())
        },
        "spans": dict(sorted(count.items())),
    }
    return out


if __name__ == "__main__":
    print(json.dumps({p: summarise(p) for p in sys.argv[1:]}, indent=1, sort_keys=True))
