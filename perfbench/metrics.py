"""Metric arithmetic of the graft benchmark, kept free of I/O so that it can
be tested on its own: percentile selection, span self time, open-loop
freshness, and the derivation of every reported metric from the raw
measurements a run writes."""

import math
import statistics

# Percentiles a run may report above the median, highest first.
TAIL_CANDIDATES = (0.999, 0.99, 0.95, 0.9, 0.75)
MIN_BEYOND = 10


def nearest_rank(values, q):
    """The q-quantile by nearest rank: the smallest sample with at least a
    share q of the samples at or below it."""
    s = sorted(values)
    if not s:
        raise ValueError("no samples")
    return s[max(0, math.ceil(q * len(s)) - 1)]


def beyond(n, q):
    """Samples strictly beyond the nearest-rank q-quantile of n samples."""
    return n - max(1, math.ceil(q * n))


def tail_percentile(n):
    """The highest candidate percentile with at least MIN_BEYOND samples
    beyond it, or None when n samples support none."""
    for q in TAIL_CANDIDATES:
        if beyond(n, q) >= MIN_BEYOND:
            return q
    return None


def pct_name(q):
    """0.9 -> 'p90', 0.999 -> 'p99.9'."""
    v = q * 100
    return "p%d" % round(v) if abs(v - round(v)) < 1e-9 else ("p%g" % v)


def union_length(intervals):
    """Total length covered by a set of [start, end] intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted((s, e) for s, e in intervals if e > s):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span, children):
    """A span's duration minus the union of its children's intervals,
    each clipped to the span."""
    s, e = span
    clipped = [(max(s, cs), min(e, ce)) for cs, ce in children]
    return (e - s) - union_length(clipped)


def freshness_samples(model, batches):
    """Per event of an open loop that creates event base + i at i / rate
    seconds from loop start: return time of the commit that made it
    visible minus its scheduled creation time. Only committed batches
    count."""
    out = []
    step = 1000.0 / model["rate"]
    for b in batches:
        if not b.get("ok", True):
            continue
        # consecutive events are `step` ms apart
        first = b["end_ms"] - (b["lo"] - model["base"]) * step
        out.extend(first - i * step for i in range(b["hi"] - b["lo"]))
    return out


def timing(values, samples=None):
    """Median and supported tail of a timing. `samples` is the count the
    tail rule applies to, when it differs from len(values) (freshness
    counts commits, not events)."""
    n = len(values) if samples is None else samples
    q = tail_percentile(n)
    return {
        "p50": statistics.median(values) if values else float("nan"),
        "n": n,
        "tail": (pct_name(q), nearest_rank(values, q)) if q and values else None,
        "max": max(values) if values else float("nan"),
    }


def mean(xs):
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def ratio(a, b):
    return a / b if b else 0.0


def end_to_end(raw):
    """Every end-to-end metric of a run as name -> (value, unit, note)."""
    batches = [b for b in raw["batches"] if b.get("ok", True)]
    committed = sum(b["events"] for b in batches)
    c = timing([b["ms"] for b in raw["batches"]])
    reads = {k: timing(v) for k, v in raw["reads"].items()}
    m = {
        "setup_s": (raw["session_s"] + statistics.median(raw["setup_reps_s"]), "s",
                    "session %.2f s + median of %d set-ups" % (raw["session_s"], len(raw["setup_reps_s"]))),
        "apply_events_per_s": (ratio(committed, raw["loop_s"]), "events/s",
                               "%d events in %.2f s" % (committed, raw["loop_s"])),
        "commit_ms_p50": (c["p50"], "ms", "n=%d" % c["n"]),
        "lookup_ms_p50": (reads["lookup"]["p50"], "ms", "n=%d" % reads["lookup"]["n"]),
        "poll_ms_p50": (reads["poll"]["p50"], "ms", "n=%d" % reads["poll"]["n"]),
        "scan_ms_p50": (reads["scan"]["p50"], "ms", "n=%d" % reads["scan"]["n"]),
        "stored_bytes_ratio": (ratio(raw["stored_bytes"], raw["live_bytes"]), "ratio",
                               "%d B on disk / %d B live" % (raw["stored_bytes"], raw["live_bytes"])),
        "live_heap_mb": (raw["live_heap_mb"], "MB", "after full GC"),
        "failed_ratio": (ratio(raw["failed"], raw["attempted"]), "ratio",
                         "%d of %d operations" % (raw["failed"], raw["attempted"])),
    }
    timings = [("commit_ms", c), ("lookup_ms", reads["lookup"]),
               ("poll_ms", reads["poll"]), ("scan_ms", reads["scan"])]
    if raw["created"]:
        # open-loop freshness; the closed loops create no events on a clock
        f = timing(freshness_samples(raw["created"], batches), samples=len(batches))
        m["freshness_ms_p50"] = (f["p50"], "ms", "n=%d commits" % f["n"])
        timings.insert(0, ("freshness_ms", f))
    # tail percentiles, named by what the sample count supports
    for name, t in timings:
        if t["tail"]:
            m["%s_%s" % (name, t["tail"][0])] = (t["tail"][1], "ms", "n=%d" % t["n"])
        m[name + "_max"] = (t["max"], "ms", "n=%d" % t["n"])
    return m


def with_self_time(spans):
    """The spans, each benchmark span with `self_ms`: its duration minus
    the union of its child spans and Spark jobs."""
    children = {}
    for s in spans:
        if s["kind"] in ("span", "job") and s.get("parent", -1) >= 0:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return [dict(s, self_ms=self_time((s["start"], s["end"]), children.get(s["id"], [])))
            if s["kind"] == "span" else s for s in spans]


# Call sites (file:Class.method of the first library frame) of the steps
# the per-layer metrics name.
FENCE_SITES = ("CdcApplier.scala:CdcApplier.applyBatch",)
MERGE_WRITE_PREFIXES = ("LakeTable.scala:LakeTable.writeDataFiles",
                        "CdcApplier.scala:CdcApplier.cowMerge",
                        "CdcApplier.scala:CdcApplier.morMerge",
                        "CdcApplier.scala:CdcApplier.clusterForWrite")


def batch_breakdown(spans):
    """Per batch span: its jobs and stages, attributed by job group."""
    bench = [s for s in spans if s["kind"] == "span"]
    jobs = [s for s in spans if s["kind"] == "job"]
    stages = [s for s in spans if s["kind"] == "stage"]
    stages_by_job = {}
    for st in stages:
        stages_by_job.setdefault(st["job"], []).append(st)
    out = []
    for b in (s for s in bench if s["name"] == "batch"):
        js = [j for j in jobs if j["parent"] == b["id"]]
        sts = [st for j in js for st in stages_by_job.get(j["id"], [])]
        span = (b["start"], b["end"])
        iv = [(j["start"], j["end"]) for j in js]
        clip = lambda xs: [(max(span[0], s), min(span[1], e)) for s, e in xs]
        out.append({
            "ms": b["end"] - b["start"],
            "driver_ms": self_time(span, iv),
            "job_ms": union_length(clip(iv)),
            "jobs": len(js),
            "stages": len(sts),
            "tasks": sum(st["tasks"] for st in sts),
            "cpu_ms": sum(st["cpu_ms"] for st in sts),
            "shuffle_bytes": sum(st["shuffle_write_bytes"] for st in sts),
            "fence_ms": union_length(clip([(j["start"], j["end"]) for j in js
                                           if j["site"] in FENCE_SITES])),
            "merge_write_ms": union_length(clip([(j["start"], j["end"]) for j in js
                                                 if j["site"].startswith(MERGE_WRITE_PREFIXES)])),
        })
    return out


def per_layer(raw):
    """Every per-layer metric of a traced run as name -> (value, unit)."""
    batches = raw["batches"]
    n_b = max(1, len(batches))
    events = sum(b["events"] for b in batches)
    bd = batch_breakdown(raw["spans"])
    probes = raw.get("probes", [])
    rs = raw.get("round_stats", [])
    ss = raw.get("scan_stats", [])
    commits = raw.get("commits", [])
    lin = raw.get("lineage", {})
    mt = raw["maintain"]
    bms = [b["ms"] for b in batches]
    rf = raw["read_files"]
    return {
        "input.backlog_events_max": (raw["backlog_max"], "events"),
        "codec.decode_ms": (mean(p["decode_ms"] for p in probes), "ms/batch"),
        "codec.decoded_ratio": (ratio(sum(p["decoded_docs"] for p in probes),
                                      sum(p["generated_docs"] for p in probes)), "ratio"),
        "validate.route_self_ms": (mean(p["route_ms"] - p["decode_ms"] for p in probes), "ms/batch"),
        "validate.quarantine_ratio": (ratio(lin.get("quarantined", 0), lin.get("parsed", 0)), "ratio"),
        "repair.self_ms": (mean(p["repair_ms"] - p["route_ms"] for p in probes), "ms/batch"),
        "apply.batch_ms_p50": (statistics.median(bms) if bms else 0.0, "ms"),
        "apply.batch_ms_max": (max(bms) if bms else 0.0, "ms"),
        "apply.driver_ms_per_batch": (mean(x["driver_ms"] for x in bd), "ms/batch"),
        "apply.jobs_per_batch": (mean(x["jobs"] for x in bd), "count"),
        "apply.stages_per_batch": (mean(x["stages"] for x in bd), "count"),
        "apply.tasks_per_batch": (mean(x["tasks"] for x in bd), "count"),
        "apply.fence_stats_ms": (mean(x["fence_ms"] for x in bd), "ms/batch"),
        "apply.merge_write_ms": (mean(x["merge_write_ms"] for x in bd), "ms/batch"),
        "apply.effective_cores": (ratio(sum(x["cpu_ms"] for x in bd),
                                        sum(x["job_ms"] for x in bd)), "cores"),
        "apply.shuffle_bytes_per_event": (ratio(sum(x["shuffle_bytes"] for x in bd), events), "bytes/event"),
        "apply.task_cpu_us_per_event": (ratio(1000.0 * sum(x["cpu_ms"] for x in bd), events), "us/event"),
        "lake.bytes_written_per_event": (ratio(sum(b.get("data_bytes", 0) + b.get("meta_bytes", 0)
                                                   for b in batches), events), "bytes/event"),
        "lake.manifest_bytes_per_commit": (mean(b.get("meta_bytes", 0) for b in batches), "bytes"),
        "lake.snapshot_load_ms": (statistics.median([r["snapshot_load_ms"] for r in rs]) if rs else 0.0, "ms"),
        "lake.files_added_per_commit": (mean(c["added"] for c in commits), "count"),
        "lake.files_removed_per_commit": (mean(c["removed"] for c in commits), "count"),
        "lake.live_files": (rs[-1]["live_files"] if rs else 0, "count"),
        "lake.live_files_max": (max((r["live_files"] for r in rs), default=0), "count"),
        "lake.delete_files": (rs[-1]["delete_files"] if rs else 0, "count"),
        "lake.delete_files_max": (max((r["delete_files"] for r in rs), default=0), "count"),
        "lake.maintain_ms": (mean(x["ms"] for x in mt), "ms/call"),
        "lake.maintain_commits": (sum(x["commits"] for x in mt), "count"),
        "lake.lookup_files_scanned_ratio": (ratio(rf["lookup"][0], rf["lookup"][1]), "ratio"),
        "lake.poll_files_scanned_ratio": (ratio(rf["poll"][0], rf["poll"][1]), "ratio"),
        "sources.plan_ms": (statistics.median([s["plan_ms"] for s in ss]) if ss else 0.0, "ms"),
        "sources.files_scanned": (statistics.median([s["files_scanned"] for s in ss]) if ss else 0.0, "count"),
        "jvm.gc_ms_per_batch": (raw["gc_ms"] / n_b, "ms/batch"),
    }
