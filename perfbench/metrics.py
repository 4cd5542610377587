"""End-to-end and per-layer metrics from one harness result.

Each function returns {name: (value, unit)}. The definitions are in
perfbench/README.md.
"""
import bisect
import collections
import json
import math
import os
import statistics

import numpy as np


def pct(values, q):
    return float(np.percentile(np.asarray(values, dtype=float), q)) if len(values) else 0.0


def geomean(values):
    return math.exp(statistics.fmean(math.log(max(v, 1e-3)) for v in values)) if len(values) else 0.0


def median(values):
    return float(statistics.median(values)) if len(values) else 0.0


# Every per-layer metric, in report order, with its unit. A layer that is
# idle on a workload reports 0.
LAYER_UNITS = {
    "source.connections": "count", "source.lag_lines_p99": "lines",
    "source.latest_offset_ms_p50": "ms", "source.backlog_lines_end": "lines",
    "gen.late_ms_p99": "ms", "parse.ms": "ms", "tokenize.ms": "ms", "classify.ms": "ms",
    "tokenize.tokens_out": "count", "classify.labels_out": "count",
    "trigger.count": "count", "trigger.ms_p50": "ms", "trigger.ms_p99": "ms",
    "trigger.add_batch_ms_p50": "ms", "trigger.query_planning_ms_p50": "ms",
    "trigger.wal_commit_ms_p50": "ms", "trigger.commit_offsets_ms_p50": "ms",
    "trigger.jobs": "count", "trigger.stages": "count", "trigger.tasks": "count",
    "state.operators": "count", "state.rows_end": "rows", "state.memory_bytes_end": "bytes",
    "state.update_ms_p50": "ms", "state.commit_ms_p50": "ms",
    "shuffle.write_bytes_per_trigger": "bytes",
    "sink.writes": "count", "sink.write_ms_p50": "ms", "sink.write_ms_p99": "ms",
    "sink.rows_per_write_mean": "rows", "sink.bytes_written": "bytes",
    "query.construct_s": "s", "query.action_s": "s", "query.jobs": "count",
    "query.stages": "count", "query.tasks": "count", "query.task_s": "s",
    "query.shuffle_read_bytes": "bytes", "query.shuffle_write_bytes": "bytes",
    "query.spill_bytes": "bytes", "query.gc_s": "s", "query.leaked_persisted": "count",
    "spark.task_busy_frac": "fraction", "jvm.gc_ms": "ms",
    "self_ms.source": "ms", "self_ms.trigger": "ms", "self_ms.state": "ms",
    "self_ms.sink": "ms", "self_ms.query": "ms",
}


def with_units(values):
    """{name: value} for some layers -> {name: (value, unit)} for all."""
    return {n: (values.get(n, 0.0), u) for n, u in LAYER_UNITS.items()}


# ------------------------------------------------------------------ streams

def _end_offset(p):
    return int(p["sources"][0]["endOffset"])


def query_batches(res, round_):
    """Per query of the round: sorted (batchId, endOffset, write end in
    epoch micros, progress) for every batch that read data."""
    writes = collections.defaultdict(dict)
    for w in res["writes"]:
        if w["batch"] is not None:
            key = int(w["batch"])
            writes[w["query"]][key] = max(writes[w["query"]].get(key, 0), w["end_us"])
    out = {}
    for qid, progress in zip(round_["queries"], round_["progress"]):
        rows = {}
        for p in progress:
            if p["numInputRows"] > 0 and p["batchId"] in writes[qid]:
                rows[p["batchId"]] = (p["batchId"], _end_offset(p), writes[qid][p["batchId"]], p)
        out[qid] = [rows[b] for b in sorted(rows)]
    return out


def line_reflections(res, slog):
    """Epoch seconds at which each timed message was reflected in every
    table (the later sink write wins), or None when it never was."""
    last = res["rounds"][-1]
    conns = res["server"]["active"]
    pre, first = conns[0]["pre"], conns[0]["first_msg"]
    batches = query_batches(res, last)
    lo, hi = res["window"]["first_msg"], last["end_msg"]
    out = []
    cols = [([b[1] for b in bs], [b[2] for b in bs]) for bs in batches.values()]
    for i in range(lo, hi):
        need = pre + (i - first) + 1
        t = 0
        for ends, times in cols:
            j = bisect.bisect_left(ends, need)
            if j == len(ends):
                t = None
                break
            t = max(t, times[j])
        out.append(None if t is None else t / 1e6)
    return lo, out


def stream_e2e(res, slog):
    lo, refl = line_reflections(res, slog)
    sched = slog["sched"]
    lat = [(r - sched[lo + k]) * 1e3 for k, r in enumerate(refl) if r is not None]
    # throughput: reflected timed lines over the time from the first due
    # line to the last reflection
    done = [r for r in refl if r is not None]
    busy = max(done) - sched[lo] if done else 0.0
    lines = len(done)
    return {
        "latency_geomean_ms": (geomean(lat), "ms"),
        "latency_p99_ms": (pct(lat, 99), "ms"),
        "items_per_s": (lines / busy if busy > 0 else 0.0, "1/s"),
        "setup_s": (res["session_build_s"] + median(res["setup_round_s"]), "s"),
        "heap_retained_mb": (res["heap_retained_mb"], "MB"),
    }


def self_times(spans_path, since_us):
    """Self time per layer (ms) of spans that start inside the window: a
    span's duration minus the part of it its child spans cover."""
    if not os.path.exists(spans_path):
        return {}
    spans = []
    with open(spans_path) as f:
        for line in f:
            spans.append(json.loads(line))
    children = collections.defaultdict(list)
    for s in spans:
        if s.get("parent"):
            children[s["parent"]].append((s["start_us"], s["end_us"]))
    out = collections.Counter()
    for s in spans:
        if s["start_us"] < since_us:
            continue
        a, b = s["start_us"], s["end_us"]
        covered, cur = 0, a
        for c0, c1 in sorted(children.get(s["id"], [])):
            c0, c1 = max(c0, cur), min(c1, b)
            if c1 > c0:
                covered += c1 - c0
                cur = c1
        out[s["layer"]] += max(0, b - a - covered) / 1e3
    return dict(out)


def stream_layers(res, slog, cores, work):
    last = res["rounds"][-1]
    w0, w1 = res["window"]["start_us"], res["window"]["end_us"]
    batches = query_batches(res, last)
    timed = []  # (qid, batchId, endOffset, write end, progress) started in the window
    for qid, bs in batches.items():
        for b, end, wend, p in bs:
            if _iso_us(p["timestamp"]) >= w0:
                timed.append((qid, b, end, wend, p))
    dur = lambda k: [p["durationMs"].get(k, 0) for *_, p in timed]
    ops = lambda p, k: sum(o.get(k, 0) for o in p.get("stateOperators", []))
    conns = res["server"]["active"]
    pre, first = conns[0]["pre"], conns[0]["first_msg"]
    emit = slog["emit"]
    lo = res["window"]["first_msg"]

    def sent_by(t_us):
        return pre + max(0, bisect.bisect_right(emit, t_us / 1e6, lo=first) - first)

    # lag at a trigger: lines sent to the connection by the trigger's start
    # minus the end offset the trigger read up to
    lags = [(_iso_us(p["timestamp"]), sent_by(_iso_us(p["timestamp"])) - end)
            for _, _, end, _, p in sorted(timed, key=lambda t: _iso_us(t[4]["timestamp"]))]
    last_emit = max(emit[lo:last["end_msg"]]) * 1e6 if last["end_msg"] > lo else w1
    backlog_end = [lag for t, lag in lags if t <= last_emit]
    late = [(e - s) * 1e3 for s, e in zip(slog["sched"][lo:], emit[lo:])]
    lst = res.get("listener", {})
    tags = [f"t:{q}:{b}" for q, b, *_ in timed]
    per_trig = lambda k: sum(lst.get(t, {}).get(k, 0.0) for t in tags) / max(1, len(tags))
    writes = [w for w in res["writes"] if w["end_us"] >= w0]
    rows_per_write = [ops(p, "numRowsTotal") for *_, p in timed]
    final = [bs[-1][3] for bs in batches.values() if bs]
    task_ms = sum(lst.get(t, {}).get("task_ms", 0.0) for t in tags)
    k = res.get("kernels", {})
    st = self_times(os.path.join(work, "spans.jsonl"), w0)
    out = {
        "source.connections": last["connections"],
        "source.lag_lines_p99": pct([lag for _, lag in lags], 99),
        "source.latest_offset_ms_p50": pct(dur("latestOffset"), 50),
        "source.backlog_lines_end": float(backlog_end[-1]) if backlog_end else 0.0,
        "gen.late_ms_p99": pct(late, 99),
        "parse.ms": k.get("parse_ms", 0.0),
        "tokenize.ms": k.get("tokenize_ms", 0.0),
        "classify.ms": k.get("classify_ms", 0.0),
        "tokenize.tokens_out": k.get("tokens_out", 0),
        "classify.labels_out": k.get("labels_out", 0),
        "trigger.count": len(timed),
        "trigger.ms_p50": pct(dur("triggerExecution"), 50),
        "trigger.ms_p99": pct(dur("triggerExecution"), 99),
        "trigger.add_batch_ms_p50": pct(dur("addBatch"), 50),
        "trigger.query_planning_ms_p50": pct(dur("queryPlanning"), 50),
        "trigger.wal_commit_ms_p50": pct(dur("walCommit"), 50),
        "trigger.commit_offsets_ms_p50": pct(dur("commitOffsets"), 50),
        "trigger.jobs": per_trig("jobs"),
        "trigger.stages": per_trig("stages"),
        "trigger.tasks": per_trig("tasks"),
        "state.operators": sum(len(p.get("stateOperators", [])) for p in final),
        "state.rows_end": sum(ops(p, "numRowsTotal") for p in final),
        "state.memory_bytes_end": sum(ops(p, "memoryUsedBytes") for p in final),
        "state.update_ms_p50": pct([ops(p, "allUpdatesTimeMs") for *_, p in timed], 50),
        "state.commit_ms_p50": pct([ops(p, "commitTimeMs") for *_, p in timed], 50),
        "shuffle.write_bytes_per_trigger": per_trig("shuffle_write_bytes"),
        "sink.writes": len(writes),
        "sink.write_ms_p50": pct([w["ms"] for w in writes], 50),
        "sink.write_ms_p99": pct([w["ms"] for w in writes], 99),
        "sink.rows_per_write_mean": statistics.fmean(rows_per_write) if rows_per_write else 0.0,
        "sink.bytes_written": sum(lst.get(t, {}).get("output_bytes", 0.0) for t in tags),
        "spark.task_busy_frac": task_ms / ((w1 - w0) / 1e3 * cores),
        "jvm.gc_ms": res["gc_ms"],
    }
    out.update({f"self_ms.{layer}": ms for layer, ms in st.items() if layer != "session"})
    return with_units(out)


def _iso_us(ts):
    """Spark progress timestamp (ISO-8601, UTC, millis) to epoch micros."""
    import datetime
    d = datetime.datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=datetime.timezone.utc)
    return int(d.timestamp() * 1e6)


# ------------------------------------------------------------------ query library

def library_e2e(res):
    ms = [(q["construct_s"] + q["action_s"]) * 1e3 for q in res["queries"]]
    total = sum(ms) / 1e3
    return {
        "latency_geomean_ms": (geomean(ms), "ms"),
        "latency_p99_ms": (pct(ms, 99), "ms"),
        "items_per_s": (len(ms) / total if total > 0 else 0.0, "1/s"),
        "setup_s": (res["session_build_s"] + res["warm_s"], "s"),
        "heap_retained_mb": (res["heap_retained_mb"], "MB"),
    }


def library_layers(res, cores, work):
    lst = res.get("listener", {})
    qs = res["queries"]
    qtags = [f"q:{q['name']}" for q in qs]
    # listener counters cover every timed pass; report them per pass
    tot = lambda k: sum(lst.get(t, {}).get(k, 0.0) for t in qtags) / res["window"]["passes"]
    w0, w1 = res["window"]["start_us"], res["window"]["end_us"]
    st = self_times(os.path.join(work, "spans.jsonl"), w0)
    return with_units({
        "query.construct_s": sum(q["construct_s"] for q in qs),
        "query.action_s": sum(q["action_s"] for q in qs),
        "query.jobs": tot("jobs"),
        "query.stages": tot("stages"),
        "query.tasks": tot("tasks"),
        "query.task_s": tot("task_ms") / 1e3,
        "query.shuffle_read_bytes": tot("shuffle_read_bytes"),
        "query.shuffle_write_bytes": tot("shuffle_write_bytes"),
        "query.spill_bytes": tot("spill_bytes"),
        "query.gc_s": tot("gc_ms") / 1e3,
        "query.leaked_persisted": sum(q["leaked"] for q in qs),
        "spark.task_busy_frac": tot("task_ms") * res["window"]["passes"] / ((w1 - w0) / 1e3 * cores),
        "jvm.gc_ms": res["gc_ms"],
        "self_ms.query": st.get("query", 0.0),
    })


# ------------------------------------------------------------------ report

def also_reported(res, e2e, workload, slog=None):
    """Per-workload figures printed and recorded without a bound: the
    median line latency and lines/s of a stream, the roster total and
    geometric mean of the query library."""
    if workload == "live-chat":
        lo, refl = line_reflections(res, slog)
        lat = [(r - slog["sched"][lo + k]) * 1e3 for k, r in enumerate(refl) if r is not None]
        return {"latency_p50_ms": (pct(lat, 50), "ms"),
                "lines_per_s": (e2e["items_per_s"][0], "lines/s")}
    secs = [q["construct_s"] + q["action_s"] for q in res["queries"]]
    return {"roster_s": (sum(secs), "s"),
            "query_geomean_ms": (e2e["latency_geomean_ms"][0], "ms")}
