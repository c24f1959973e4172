"""Percentiles and trace summaries for the benchmark.

Percentile rule: a percentile p is reported only when at least 10 samples
lie beyond it, i.e. n * (1 - p) >= 10. `percentile` raises when a run has
fewer samples than the named percentile needs, and `tail_percentile`
names the highest standard percentile a sample count supports.

A trace is a JSON-lines file of spans written by a traced run
(`--trace 1`): id, parent, req (request id), name, layer, start_us,
end_us, attrs. `summarize` turns spans into per-layer busy time (union of
the layer's intervals), self time (duration minus the union of direct
children) and counts; `layer_metrics` derives the benchmark's per-layer
figures; `diff` compares two summaries, so a change can show where its
saving lands.

    python3 perfbench/tracestats.py summary <spans.jsonl> [values.json]
    python3 perfbench/tracestats.py diff <before> <after>   # spans or saved summaries
"""
import json
import math
import sys
from collections import defaultdict

LADDER = (0.5, 0.75, 0.9, 0.95, 0.99, 0.999)
BEYOND = 10


class InsufficientSamples(Exception):
    pass


def needed(p):
    """Fewest samples with at least BEYOND of them beyond percentile p."""
    return int(math.ceil(round(BEYOND / (1.0 - p), 9)))


def percentile(values, p):
    """Linear-interpolated percentile p (0..1) of values; raises
    InsufficientSamples when fewer than needed(p) values are given."""
    n = len(values)
    if n < needed(p):
        raise InsufficientSamples(
            "p%g needs %d samples (%d beyond it), run has %d" % (p * 100, needed(p), BEYOND, n))
    xs = sorted(values)
    pos = p * (n - 1)
    lo = int(math.floor(pos))
    hi = min(lo + 1, n - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n):
    """Highest percentile of LADDER that n samples support, or None."""
    best = None
    for p in LADDER:
        if n >= needed(p):
            best = p
    return best


def median(values):
    if not values:
        raise InsufficientSamples("median of no samples")
    xs = sorted(values)
    mid = len(xs) // 2
    return xs[mid] if len(xs) % 2 else (xs[mid - 1] + xs[mid]) / 2.0


# -- spans ----------------------------------------------------------------

def load_spans(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def union_us(intervals):
    """Total length of the union of [start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _clip(span, within):
    return max(span["start_us"], within["start_us"]), min(span["end_us"], within["end_us"])


def children_of(spans):
    kids = defaultdict(list)
    for s in spans:
        if s["parent"]:
            kids[s["parent"]].append(s)
    return kids


def self_us(span, kids):
    """Duration minus the union of its direct children (clipped to it)."""
    inner = [_clip(c, span) for c in kids.get(span["id"], [])]
    inner = [(a, b) for a, b in inner if b > a]
    return (span["end_us"] - span["start_us"]) - union_us(inner)


def descendants(span, kids):
    out, stack = [], list(kids.get(span["id"], []))
    while stack:
        s = stack.pop()
        out.append(s)
        stack.extend(kids.get(s["id"], []))
    return out


def summarize(spans):
    """Per layer: count, total_ms (sum of durations), busy_ms (union of
    intervals) and self_ms (sum of self times)."""
    kids = children_of(spans)
    by_layer = defaultdict(list)
    for s in spans:
        if s["layer"] != "phase":
            by_layer[s["layer"]].append(s)
    out = {}
    for layer, ss in sorted(by_layer.items()):
        out[layer] = {
            "count": len(ss),
            "total_ms": sum(s["end_us"] - s["start_us"] for s in ss) / 1000.0,
            "busy_ms": union_us([(s["start_us"], s["end_us"]) for s in ss]) / 1000.0,
            "self_ms": sum(self_us(s, kids) for s in ss) / 1000.0,
        }
    return out


# -- benchmark figures -------------------------------------------------------

def _window(spans, name):
    for s in spans:
        if s["layer"] == "phase" and s["name"] == name:
            return s["start_us"], s["end_us"]
    return None


def _inside(s, win):
    return win is not None and win[0] <= s["start_us"] < win[1]


def _named(spans, name, win=None):
    return [s for s in spans if s["name"] == name and s["layer"] != "phase"
            and (win is None or _inside(s, win))]


def _ms(ss):
    return sum(s["end_us"] - s["start_us"] for s in ss) / 1000.0


def _jobs_under(calls, kids):
    jobs = []
    for c in calls:
        jobs += [d for d in descendants(c, kids) if d["name"] == "job"]
    return jobs


def _job_ms_within(calls, kids, direct=False):
    """Per call, the union of its Spark jobs (all descendants, or only
    direct children) clipped to the call, summed."""
    total = 0
    for c in calls:
        under = kids.get(c["id"], []) if direct else descendants(c, kids)
        jobs = [_clip(d, c) for d in under if d["name"] == "job"]
        total += union_us([(a, b) for a, b in jobs if b > a])
    return total / 1000.0


def _attr(ss, key):
    return sum(s["attrs"].get(key, 0) for s in ss)


TOP_CALLS = {"pubsub_delivery": ("publishBatch",),
             "log_replay": ("getById", "getEvents", "save"),
             "query_pack": ("query",)}


def common_metrics(workload, spans, values):
    """The per-layer figures every workload reports (BENCHMARK.json
    `per_layer`), over the run's measured phase."""
    kids = children_of(spans)
    win = _window(spans, "measure")
    calls = [s for s in spans if s["name"] in TOP_CALLS[workload] and s["parent"] == 0
             and _inside(s, win)]
    call_ms = _ms(calls)
    call_job_ms = _job_ms_within(calls, kids)
    jobs = [s for s in spans if s["name"] == "job" and _inside(s, win)]
    stages = _attr(jobs, "stages")
    return {
        "calls": (len(calls), "count"),
        "call_ms": (call_ms, "ms"),
        "call_job_ms": (call_job_ms, "ms"),
        "call_driver_ms": (call_ms - call_job_ms, "ms"),
        "jobs_per_call": (len(_jobs_under(calls, kids)) / max(1, len(calls)), "count"),
        "spark.jobs": (len(jobs), "count"),
        "spark.stages": (stages, "count"),
        "spark.tasks": (_attr(jobs, "tasks"), "count"),
        "spark.task_ms": (_attr(jobs, "task_ms"), "ms"),
        "spark.ms_per_stage": (_ms(jobs) / max(1, stages), "ms"),
        "spark.input_bytes": (_attr(jobs, "input_bytes"), "bytes"),
        "jvm.gc_ms": (values.get("jvm_gc_ms", 0.0), "ms"),
    }


def _percentiles(prefix, values, unit="ms"):
    """Median and the highest supported tail of a sample list, named by
    the percentile they are (nothing when there are too few samples)."""
    out = {}
    if len(values) >= needed(0.5):
        out[prefix + "_p50_" + unit] = (percentile(values, 0.5), unit)
        tail = tail_percentile(len(values))
        if tail > 0.5:
            out[prefix + "_p%g_%s" % (tail * 100, unit)] = (percentile(values, tail), unit)
    out[prefix + "_samples"] = (len(values), "count")
    return out


def _pubsub(spans, values, samples):
    kids = children_of(spans)
    win = _window(spans, "measure")
    pubs = _named(spans, "publishBatch", win)
    publish_ms = _ms(pubs)
    # jobs a callback handler ran count under the fan-out, not the append
    append_ms = _job_ms_within(pubs, kids, direct=True)
    fanout_ms = _ms([d for p in pubs for d in kids.get(p["id"], []) if d["name"] == "fanout"])
    live = (win[0], max([s["end_us"] for s in _named(spans, "handler")] + [win[1]])) if win else None
    triggers = [t for t in _named(spans, "trigger") if _inside(t, live)]
    with_rows = [t for t in triggers if t["attrs"].get("rows", 0) > 0]
    phase = {name: _ms([c for t in triggers for c in kids.get(t["id"], []) if c["name"] == name])
             for name in ("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets")}
    starts = sorted(t["start_us"] for t in triggers)
    waits = []
    for p in pubs:
        if p["attrs"].get("streamed"):
            later = [s for s in starts if s >= p["end_us"]]
            if later:
                waits.append((later[0] - p["end_us"]) / 1000.0)
    handler_ms = _ms(_named(spans, "handler", live))
    retries = _named(spans, "retryDeadLetterEvent")
    return {
        "broker.publish_calls": (len(pubs), "count"),
        "broker.publish_ms": (publish_ms, "ms"),
        "broker.append_ms": (append_ms, "ms"),
        "broker.fanout_ms": (fanout_ms, "ms"),
        "broker.self_ms": (publish_ms - append_ms - fanout_ms, "ms"),
        "broker.generator_lag_ms": (max(samples.get("generator_lag_ms", [0.0])), "ms"),
        "stream.triggers": (len(with_rows), "count"),
        "stream.rows_per_trigger": (_attr(with_rows, "rows") / max(1, len(with_rows)), "count"),
        "stream.latest_offset_ms": (phase["latestOffset"], "ms"),
        "stream.get_batch_ms": (phase["getBatch"], "ms"),
        "stream.query_planning_ms": (phase["queryPlanning"], "ms"),
        "stream.add_batch_ms": (phase["addBatch"], "ms"),
        "stream.wal_commit_ms": (phase["walCommit"], "ms"),
        "stream.commit_offsets_ms": (phase["commitOffsets"], "ms"),
        "stream.handler_ms": (handler_ms, "ms"),
        "stream.queue_wait_p50_ms": (median(waits) if waits else 0.0, "ms"),
        "stream.backlog_end_events": (values.get("backlog_end_events", 0.0), "count"),
        "dlq.entries": (values.get("dlq_entries", 0.0), "count"),
        "dlq.attempts_per_delivered": (values.get("handler_calls", 0.0)
                                       / max(1.0, values.get("distinct_delivered", 0.0)), "count"),
        "dlq.retry_ms": (_ms(retries), "ms"),
        "dlq.retry_failed": (values.get("retry_failed", 0.0), "count"),
        **_percentiles("stream.deliver", samples.get("deliver_ms", [])),
        **_percentiles("broker.publish", samples.get("op_ms", [])),
    }


def _log_replay(spans, values, samples):
    kids = children_of(spans)
    win = _window(spans, "measure")
    saves = _named(spans, "save", win)
    gets = _named(spans, "getById", win)
    reads = gets + _named(spans, "getEvents", win)
    read_jobs = _jobs_under(reads, kids)
    folds = _named(spans, "foldAll")
    fold_jobs = _jobs_under(folds, kids)
    returned = sum(samples.get("rows_returned", []))
    return {
        "log.append_jobs": (len(_jobs_under(saves, kids)), "count"),
        "log.append_ms": (_job_ms_within(saves, kids), "ms"),
        "log.scan_jobs": (len(read_jobs), "count"),
        "log.scan_ms": (_job_ms_within(reads, kids), "ms"),
        "log.rows_scanned_per_returned": (_attr(read_jobs, "input_records") / max(1.0, returned), "count"),
        "log.files_end": (values.get("log_files_end", 0.0), "count"),
        "sourcing.rehydrate_self_ms": (_ms(gets) - _job_ms_within(gets, kids), "ms"),
        "sourcing.fold_all_stages": (_attr(fold_jobs, "stages") / max(1, len(folds)), "count"),
        "sourcing.fold_all_shuffle_bytes": (_attr(fold_jobs, "shuffle_write_bytes") / max(1, len(folds)), "bytes"),
        **_percentiles("sourcing.rehydrate", samples.get("get_ms", [])),
        **_percentiles("sources.scan", samples.get("scan_ms", [])),
        **_percentiles("sourcing.save", samples.get("save_ms", [])),
    }


def _query_pack(spans, values, samples):
    kids = children_of(spans)
    win = _window(spans, "measure")
    construct = _named(spans, "construct", win)
    return {
        "queries.construct_ms": (_ms(construct), "ms"),
        "queries.execute_ms": (_ms(_named(spans, "execute", win)), "ms"),
        "queries.construct_jobs": (len(_jobs_under(construct, kids)), "count"),
        "queries.pass_coverage": ((_ms(construct) + _ms(_named(spans, "execute", win)))
                                  / max(1e-9, 1000.0 * sum(samples.get("pass_s", [])) ), "ratio"),
        "store.builds": (values.get("store_builds", 0.0), "count"),
        "store.build_ms": (sum(samples.get("build_query_ms", [])), "ms"),
        "store.builds_warm": (len(samples.get("warm_builds", [])), "count"),
        "memo.report_touches": (values.get("memo_report_touches", 0.0), "count"),
        "cache.registry_size": (values.get("cache_registry_size", 0.0), "count"),
        "cache.cached_bytes": (values.get("cache_cached_bytes", 0.0), "bytes"),
    }


def _spark_all(spans):
    win = _window(spans, "measure")
    jobs = [s for s in spans if s["name"] == "job" and _inside(s, win)]
    return {
        "spark.shuffle_write_bytes": (_attr(jobs, "shuffle_write_bytes"), "bytes"),
        "spark.spill_bytes": (_attr(jobs, "spill_bytes"), "bytes"),
        "spark.task_gc_ms": (_attr(jobs, "gc_ms"), "ms"),
    }


def _jvm(values):
    return {"jvm.peak_rss_mb": (values.get("peak_rss_mb", 0.0), "MB")}


LAYERS = {"pubsub_delivery": _pubsub, "log_replay": _log_replay, "query_pack": _query_pack}


def layer_metrics(workload, spans, values, samples):
    """Every per-layer figure of a traced run: {name: (value, unit)}.
    The common ones come first; the workload's own layers follow."""
    out = common_metrics(workload, spans, values)
    out.update(_spark_all(spans))
    out.update(_jvm(values))
    out.update(LAYERS[workload](spans, values, samples))
    return out


def diff(before, after):
    """Per metric: before, after, delta and ratio (after / before)."""
    rows = {}
    for k in sorted(set(before) | set(after)):
        b, a = before.get(k), after.get(k)
        if isinstance(b, dict) or isinstance(a, dict):
            for kk, v in diff(b or {}, a or {}).items():
                rows["%s.%s" % (k, kk)] = v
            continue
        if isinstance(b, (list, tuple)):
            b = b[0]
        if isinstance(a, (list, tuple)):
            a = a[0]
        rows[k] = {"before": b, "after": a,
                   "delta": None if a is None or b is None else a - b,
                   "ratio": None if not b or a is None else a / b}
    return rows


def _load_summary(path):
    """A spans file summarizes to per-layer busy/self/count; a JSON file
    is taken as an already-saved summary or layer-metric map."""
    if path.endswith(".jsonl"):
        return summarize(load_spans(path))
    with open(path) as f:
        return json.load(f)


def main(argv):
    if len(argv) >= 2 and argv[0] == "summary":
        spans = load_spans(argv[1])
        json.dump(summarize(spans), sys.stdout, indent=1, sort_keys=True)
        print()
    elif len(argv) == 3 and argv[0] == "diff":
        for k, v in diff(_load_summary(argv[1]), _load_summary(argv[2])).items():
            ratio = "" if v["ratio"] is None else "x%.3f" % v["ratio"]
            print("%-40s %14s -> %14s %s" % (k, v["before"], v["after"], ratio))
    else:
        print(__doc__, file=sys.stderr)
        return 2
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
