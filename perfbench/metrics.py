"""Metric arithmetic over the raw observations of one benchmark run.

The JVM side writes one record per timed operation (a pipeline cycle or a
query) and, in a traced run, the spans around each layer call and the Spark
jobs attributed to them. Everything derived from those lives here, so it can
be tested without Spark.
"""
import statistics

CORES = 4
TAIL_LADDER = (99, 95, 90, 75, 50)
MIN_BEYOND = 10

LAYERS = ("capture", "log_append", "sync", "wipe", "compact", "builder", "plan", "exec")


def tail_percentile(n, ladder=TAIL_LADDER, min_beyond=MIN_BEYOND):
    """Highest percentile of `ladder` that leaves at least `min_beyond` of
    `n` observations above it, or None when no percentile does."""
    for p in sorted(ladder, reverse=True):
        if n * (100 - p) / 100.0 >= min_beyond:
            return p
    return None


def percentile(values, p):
    """Nearest-rank percentile (p in 0..100) of a non-empty sequence."""
    xs = sorted(values)
    rank = max(1, -(-len(xs) * p // 100))
    return xs[int(rank) - 1]


def self_times(spans):
    """Span id -> seconds spent in the span itself, outside its children."""
    child = {}
    for s in spans:
        if s["parent"] >= 0:
            child[s["parent"]] = child.get(s["parent"], 0) + s["end_ns"] - s["start_ns"]
    return {s["id"]: (s["end_ns"] - s["start_ns"] - child.get(s["id"], 0)) / 1e9
            for s in spans}


def count_failures(ops):
    """(attempted, failed): an op fails when it threw or failed its check."""
    return len(ops), sum(1 for o in ops if not o["ok"])


def end_to_end(res, datagen_s):
    """The user-visible metrics of an untraced run."""
    ok = [o for o in res["ops"] if o["ok"]]
    by_name = {}
    for o in ok:
        by_name.setdefault(o["name"], []).append(o["seconds"])
    return {
        "setup_s": (datagen_s + res["session_s"] + res["setup_s"] + res["warmup_s"], "s"),
        "op_p50_s": (statistics.median(statistics.median(v) for v in by_name.values()), "s"),
        "suite_s": (sum(statistics.median(v) for v in by_name.values()), "s"),
    }


def per_layer(res):
    """Per-layer metrics of a traced run, each normalised per timed op."""
    ops = res["ops"]
    n_ops = max(1, len(ops))
    spans = {s["id"]: s for s in res["spans"]}
    timed = [s for s in spans.values() if s["op"] >= 0]
    dur = lambda s: (s["end_ns"] - s["start_ns"]) / 1e9
    jobs = [j for j in res["jobs"] if j["span"] in spans]
    timed_jobs = [j for j in jobs if spans[j["span"]]["op"] >= 0]

    def span_s(name):
        return sum(dur(s) for s in timed if s["name"] == name)

    def layer_jobs(name):
        return [j for j in timed_jobs if spans[j["span"]]["name"] == name]

    m = {}
    for layer in LAYERS:
        m[f"{layer}.s"] = (span_s(layer) / n_ops, "s")
    for layer in ("capture", "sync", "wipe", "builder"):
        m[f"{layer}.jobs"] = (len(layer_jobs(layer)) / n_ops, "count")
    events = sum(o["rows"] for o in ops if o["kind"] == "cycle")
    m["capture.rows_read_per_event"] = (
        sum(j["input_records"] for j in layer_jobs("capture")) / max(1, events), "rows")
    m["log_append.bytes"] = (
        sum(o["bytes"] for o in ops if o["kind"] == "cycle") / n_ops, "B")
    m["sync.watermark_s"] = (span_s("sync.watermark") / n_ops, "s")
    scanned = sum(j["input_records"] for j in layer_jobs("sync"))
    m["sync.useful_ratio"] = (events / scanned if scanned else 0.0, "ratio")
    deleted = sum(max(0, o["extra"].get("wipe_rows_before", 0) - 1) for o in ops)
    wipe_s = span_s("wipe")
    m["wipe.rows_deleted_per_s"] = (deleted / wipe_s if wipe_s else 0.0, "1/s")
    m["compact.bytes_rewritten"] = (
        sum(o["extra"].get("compact_bytes", 0) for o in ops) / n_ops, "B")
    loads = [s for s in spans.values() if s["name"] == "tables.load"]
    load_ids = {s["id"] for s in loads}
    m["tables.load_ms"] = (1e3 * sum(dur(s) for s in loads) / max(1, len(loads)), "ms")
    m["tables.load_jobs"] = (
        sum(1 for j in jobs if j["span"] in load_ids) / max(1, len(loads)), "count")
    m["memo.build_s"] = (res["memo_build_s"], "s")
    wall_ms = 1e3 * sum(o["wall"] for o in ops)
    m["spark.jobs"] = (len(timed_jobs) / n_ops, "count")
    m["spark.tasks_per_job"] = (
        sum(j["tasks"] for j in timed_jobs) / max(1, len(timed_jobs)), "count")
    m["spark.util"] = (
        sum(j["run_ms"] for j in timed_jobs) / (CORES * wall_ms) if wall_ms else 0.0, "ratio")
    for key, field, scale, unit in (
            ("spark.shuffle_write_mb", "shuffle_write_bytes", 1 / 1048576, "MB"),
            ("spark.spill_mb", "spill_bytes", 1 / 1048576, "MB"),
            ("spark.gc_s", "gc_ms", 1e-3, "s"),
            ("spark.input_mb", "input_bytes", 1 / 1048576, "MB")):
        m[key] = (scale * sum(j[field] for j in timed_jobs) / n_ops, unit)
    attempted, failed = count_failures(ops)
    m["failed_ops"] = (failed / max(1, attempted), "ratio")
    m["retained_block_mb"] = (max((o["retained_block_mb"] for o in ops), default=0.0), "MB")
    secs = [o["seconds"] for o in ops if o["ok"]]
    m["rows_per_s"] = (sum(o["rows"] for o in ops if o["ok"]) / sum(secs) if secs else 0.0,
                       "1/s")
    p = tail_percentile(len(secs))
    m["op_tail_s"] = ((percentile(secs, p) if p else max(secs)) if secs else 0.0, "s")
    return m


def layer_self_times(res):
    """Layer name -> mean self seconds per timed op, for the trace artifact."""
    st = self_times(res["spans"])
    out = {}
    for s in res["spans"]:
        if s["op"] >= 0:
            out[s["name"]] = out.get(s["name"], 0.0) + st[s["id"]]
    n = max(1, len(res["ops"]))
    return {k: v / n for k, v in sorted(out.items())}
