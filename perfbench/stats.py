"""Turns one run's raw result (written by perfbench.Main) into metrics.

End-to-end metrics come from the untraced run; per-layer metrics from the
traced run. A traced `serve` run's untraced first phase (names prefixed
`base.`) gives its tracing overhead; a traced `churn` run times the same
searches with and without spans instead."""
import json
import math
import os
import statistics

# op type of a top-level span, for the Spark work attributed to it
OP_OF_SPAN = {
    "op.search": "search", "core.flush": "flush", "core.compact": "compact",
    "core.insert": "insert", "core.remove": "remove", "op.serve": "serve",
    "op.query": "query",
}
OPS = ("search", "flush", "compact", "insert", "remove", "serve", "query")
SPARK_COUNTS = ("jobs", "stages", "tasks", "input_bytes", "shuffle_bytes", "spill_bytes")
SERVED_OPS = ("vector", "filtered", "rank", "hybrid", "term")
QUERY_FAMILIES = ("relational", "vector", "search", "text", "dedup", "stream")


def query_spec():
    """query name -> {family, rows, digest}: the query surface that a
    traced `serve` run measures."""
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "queries.json")) as f:
        return json.load(f)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(samples, p, beyond=10):
    """The p-quantile (nearest rank) of `samples`, lowered until at least
    `beyond` samples lie strictly above its rank. Returns (value, p_used);
    (0.0, 0.0) when there are too few samples for any tail."""
    xs = sorted(samples)
    n = len(xs)
    if n <= beyond:
        return 0.0, 0.0
    rank = min(max(int(math.ceil(p * n)) - 1, 0), n - 1 - beyond)
    return xs[rank], (rank + 1) / n


def merged_cover(intervals, lo, hi):
    """Length of [lo, hi] covered by the union of `intervals`."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans):
    """span id -> self time (ns): duration minus the part of it that its
    child spans cover, overlapping children merged first."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"])
            - merged_cover(children.get(s["id"], []), s["start"], s["end"]) for s in spans}


def parse_spans(raw):
    out = []
    for row in raw["spans"]:
        s = {"id": row[0], "parent": row[1], "req": row[2], "name": row[3],
             "start": row[4], "end": row[5], "work": row[6] if len(row) > 6 else None}
        out.append(s)
    return out


def end_to_end(workload, raw, prefix=""):
    """name -> (value, unit) for every end-to-end metric."""
    v = raw["values"]
    smp = raw["samples"]
    if workload == "serve":
        throughput = v[prefix + "requests"] / v[prefix + "measured_s"]
        read = smp[prefix + "request_ms"]
    else:
        throughput = v[prefix + "ingested_docs"] / v[prefix + "loop_s"]
        read = smp[prefix + "search_ms"]
    return {
        "setup_s": (median(raw["setup_s"]), "s"),
        "throughput_per_s": (throughput, "1/s"),
        "read_p50_ms": (median(read), "ms"),
        "space_amp": (v["space_amp"], "ratio"),
    }


def per_layer(workload, raw):
    """name -> (value, unit) for every per-layer metric, from a traced run."""
    spans = parse_spans(raw)
    selft = self_times(spans)
    v = raw["values"]
    smp = raw["samples"]
    by_name = {}
    for s in spans:
        by_name.setdefault(s["name"], []).append(s)

    def ms(name):
        return median([selft[s["id"]] / 1e6 for s in by_name.get(name, [])])

    m = {}
    # api
    replay = {s["req"]: s for s in spans if s["name"].startswith("core.served.")}
    http_self = [(s["end"] - s["start"] - (replay[s["req"]]["end"] - replay[s["req"]]["start"])) / 1e6
                 for s in by_name.get("api.http", []) if s["req"] in replay]
    m["api.http_self_ms"] = (median(http_self), "ms")
    hits, builds = by_name.get("api.serve_user.hit", []), by_name.get("api.serve_user.build", [])
    m["api.serve_user_ms"] = (median([(s["end"] - s["start"]) / 1e6 for s in hits + builds]), "ms")
    # core, served path
    m["core.fingerprint_ms"] = (ms("api.serve_user.hit"), "ms")
    for op in SERVED_OPS:
        m["core.served.%s_ms" % op] = (ms("core.served." + op), "ms")
    m["core.served.build_ms"] = (ms("api.serve_user.build"), "ms")
    calls = len(hits) + len(builds)
    m["core.served.hit_ratio"] = (len(hits) / calls if calls else 0.0, "ratio")
    m["core.served.calls"] = (calls, "count")
    # core, write path and distributed reads
    m["core.insert_ms"] = (ms("core.insert"), "ms")
    m["core.remove_ms"] = (ms("core.remove"), "ms")
    m["core.flush_s"] = (ms("core.flush") / 1e3, "s")
    writer = sum(s["end"] - s["start"] for n in ("core.insert", "core.remove", "core.flush",
                                                   "core.compact") for s in by_name.get(n, []))
    flush = sum(s["end"] - s["start"] for s in by_name.get("core.flush", []))
    m["core.flush_share"] = (flush / writer if writer else 0.0, "ratio")
    m["core.compact_s"] = (ms("core.compact") / 1e3, "s")
    m["core.compact_bytes_rewritten"] = (_mean(smp.get("compact_bytes_rewritten", [])), "bytes")
    m["core.snapshot_ms"] = (ms("core.snapshot"), "ms")
    m["core.search_ms"] = (ms("core.search"), "ms")
    for k in ("segments_at_read", "tail_batches_at_read", "tomb_files_at_read"):
        m["core." + k] = (_mean(smp.get(k, [])), "count")
    # spark work per op call, by the top-level span that submitted it
    m.update(spark_per_op(workload, spans, v))
    m["spark.idle_share"] = (idle_share(spans, raw.get("epoch_offset_ms", 0.0)), "ratio")
    # storage and process
    ingested = v.get("ingested_bytes", 0.0)
    m["fs.write_amp"] = (v["io_write_bytes_measured"] / ingested if ingested else 0.0, "ratio")
    m["fs.bytes_stored"] = (v["bytes_stored"], "bytes")
    m["fs.files_stored"] = (v["files_stored"], "count")
    m["jvm.gc_s"] = (v["gc_s"], "s")
    m["jvm.heap_live_mb"] = (v["heap_live_mb"], "MB")
    writer_s = v.get("writer_s", 0.0)
    m["core.ingest_docs_per_writer_s"] = (v.get("ingested_docs", 0) / writer_s if writer_s else 0.0, "1/s")
    # read latency tail, kept per layer: churn cannot hold ten samples
    # beyond a high percentile in one run
    read = smp["request_ms" if workload == "serve" else "search_ms"]
    t, p = tail(read, 0.99)
    m["read.tail_ms"] = (t, "ms")
    m["read.tail_pct"] = (round(100 * p, 2), "%")
    m["read.samples"] = (len(read), "count")
    served = smp.get("request_ms" if workload == "serve" else "served_ms", [])
    m["served.read_p50_ms"] = (median(served), "ms")
    m.update(query_surface(smp))
    # tracing overhead
    if workload == "serve":
        # traced phase minus the untraced phase before it, same state
        traced, base = end_to_end(workload, raw), end_to_end(workload, raw, "base.")
        for k in ("throughput_per_s", "read_p50_ms"):
            m["overhead." + k] = (traced[k][0] - base[k][0], traced[k][1])
    else:
        # the same searches with and without spans, back to back; a churn
        # run holds one flush cycle, so its throughput cannot be measured
        # twice on the same state and its overhead reads 0
        m["overhead.throughput_per_s"] = (0.0, "1/s")
        m["overhead.read_p50_ms"] = (median(smp.get("overhead.traced_ms", []))
                                     - median(smp.get("overhead.untraced_ms", [])), "ms")
    return m


def query_surface(smp):
    """queries.<family>_s: per family, the sum of its queries' median
    noop-sink seconds; the noop and count() totals over all of them.
    All 0 on a run without the query phase."""
    fam = {f: 0.0 for f in QUERY_FAMILIES}
    noop = count = 0.0
    for name, q in query_spec().items():
        t = median(smp.get("query_s." + name, []))
        fam[q["family"]] += t
        noop += t
        count += median(smp.get("query_count_s." + name, []))
    m = {"queries.%s_s" % f: (v, "s") for f, v in fam.items()}
    m["queries.noop_total_s"] = (noop, "s")
    m["queries.count_total_s"] = (count, "s")
    return m


def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def op_span(s, by_id):
    """The op span `s` belongs to: itself or its nearest ancestor named in
    OP_OF_SPAN; None if it has none."""
    while s["name"] not in OP_OF_SPAN:
        if s["parent"] not in by_id:
            return None
        s = by_id[s["parent"]]
    return s


def spark_per_op(workload, spans, values):
    by_id = {s["id"]: s for s in spans}
    totals = {op: dict.fromkeys(SPARK_COUNTS, 0) for op in OPS}
    calls = dict.fromkeys(OPS, 0)
    for s in spans:
        if s["name"] in OP_OF_SPAN:
            calls[OP_OF_SPAN[s["name"]]] += 1
        root = op_span(s, by_id) if s["work"] else None
        if root:
            for k in SPARK_COUNTS:
                totals[OP_OF_SPAN[root["name"]]][k] += s["work"][k]
    if workload == "serve":
        # the served path runs on the server's threads, outside the
        # benchmark's spans: count every job of the measured phase
        calls["serve"] = values["requests"]
        for k in ("jobs", "stages", "tasks"):
            totals["serve"][k] = values["spark_%s_measured" % k]
    out = {}
    for op in OPS:
        for k in SPARK_COUNTS:
            unit = "bytes" if k.endswith("bytes") else "count"
            out["spark.%s.%s" % (k, op)] = (totals[op][k] / calls[op] if calls[op] else 0.0, unit)
    return out


def idle_share(spans, epoch_offset_ms):
    """Share of the wall time of Spark-running op spans with no task
    running: driver planning, codegen and round trips."""
    by_id = {s["id"]: s for s in spans}
    tasks = {}
    for s in spans:
        root = op_span(s, by_id) if s["work"] else None
        if root:
            tasks.setdefault(root["id"], []).extend(s["work"]["task_ms"])
    wall = idle = 0.0
    for sid, ivs in tasks.items():
        s = by_id[sid]
        lo, hi = s["start"] / 1e6 + epoch_offset_ms, s["end"] / 1e6 + epoch_offset_ms
        wall += hi - lo
        idle += (hi - lo) - merged_cover(ivs, lo, hi)
    return idle / wall if wall else 0.0
