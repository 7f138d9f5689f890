"""Statistics of a benchmark run: percentiles with their sample rule, span
self times, and the end-to-end and per-layer metrics computed from the
result file the JVM side writes."""

import math
import statistics

# a percentile is trusted only with this many samples above it
MIN_BEYOND = 10


def percentile(values, q):
    """Linearly interpolated q-th percentile (0 < q < 100) of `values`,
    with its sample count and the number of samples above its rank.
    Returns (value, n, beyond, enough); value is None without samples."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return None, 0, 0, False
    pos = (n - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, n - 1)
    value = xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)
    beyond = n - 1 - lo
    return value, n, beyond, beyond >= MIN_BEYOND


def union_length(intervals, start, end):
    """Length of the union of `intervals` clipped to [start, end]."""
    clipped = sorted((max(a, start), min(b, end)) for a, b in intervals)
    total, cur_a, cur_b = 0, None, None
    for a, b in clipped:
        if b <= a:
            continue
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
    """Map span id -> self time: its duration minus the part of it that its
    children cover. `spans` are dicts with id, parent, start_us, end_us."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(
            (s["start_us"], s["end_us"]))
    return {
        s["id"]: (s["end_us"] - s["start_us"]) - union_length(
            children.get(s["id"], []), s["start_us"], s["end_us"])
        for s in spans
    }


def median(xs):
    return statistics.median(xs) if xs else 0.0


def mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


# Which op kinds each workload's end-to-end metrics are taken over:
# query_p50_ms is the latency of the "latency" kinds, queries_per_s the
# throughput of the "rate" kinds over their own busy time, and batch_s one
# op of each "batch" label. For ingest these are the snapshot aggregates,
# the point lookups and the write work of one round, so each class of op
# has its own bounded metric whatever the mix. Closed loops count only
# complete passes; the open ingest loop counts every op.
WRITE_KINDS = {"append", "merge", "delete"}
KINDS = {
    "olap_gpx": {"latency": {"query"}, "rate": {"query"}, "batch": {"query"},
                 "closed": True},
    "pipeline": {"latency": {"row"}, "rate": {"row"}, "batch": {"row"},
                 "closed": True},
    "ingest": {"latency": {"aggregate"}, "rate": {"lookup"},
               "batch": WRITE_KINDS | {"compact"}, "closed": False},
}

SPAN_NAMES = ["op", "planner", "action", "job", "stage",
              "operators.construct", "format.write", "format.index.lookup",
              "format.index.refresh", "format.compact"]


def batch_s(res, ops):
    """Seconds of one batch: one op of every label (query shape, registry
    row, or write kind of an ingest round) back to back, estimated as the
    sum over labels of the label's median service time. A run's window
    holds only a few full passes, so per-label medians are steadier than
    timing passes."""
    kinds = KINDS[res["workload"]]["batch"]
    by_label = {}
    for o in complete_passes(res, ops):
        if o["kind"] in kinds:
            by_label.setdefault(o["label"] or o["kind"], []).append(
                o["service_ms"])
    return sum(median(xs) for xs in by_label.values()) / 1000.0, by_label


def complete_passes(res, ops):
    """The ops of a closed loop's complete passes (every label once); the
    pass the window cut short would skew the mix of labels. Open-loop ops
    are all kept."""
    if not KINDS[res["workload"]]["closed"]:
        return ops
    labels = {o["label"] for o in ops}
    by_batch = {}
    for o in ops:
        by_batch.setdefault(o["batch"], []).append(o)
    return [o for b in sorted(by_batch) for o in by_batch[b]
            if {x["label"] for x in by_batch[b]} == labels]


def query_stats(res, ops):
    """p50 latency of the workload's latency kinds, and ops of its rate
    kinds per second of their own service time."""
    kinds = KINDS[res["workload"]]
    ops = complete_passes(res, ops)
    lat = [o["latency_ms"] for o in ops if o["kind"] in kinds["latency"]]
    rated = [o["service_ms"] for o in ops if o["kind"] in kinds["rate"]]
    busy_s = sum(rated) / 1000.0
    return {
        "query_p50_ms": percentile(lat, 50),
        "queries_per_s": len(rated) / busy_s if busy_s > 0 else 0.0,
    }


def end_to_end(res):
    """(metrics, notes): the end-to-end metrics of an untraced run."""
    ops = res["ops"]
    q = query_stats(res, ops)
    notes = {}
    metrics = {"setup_s": (median(res["setup_s"]), "s")}
    value, n, beyond, enough = q["query_p50_ms"]
    metrics["query_p50_ms"] = (value if value is not None else 0.0, "ms")
    notes["query_p50_ms"] = "n=%d beyond=%d%s" % (
        n, beyond, "" if enough else " (fewer than %d beyond)" % MIN_BEYOND)
    metrics["queries_per_s"] = (q["queries_per_s"], "1/s")
    value, by_label = batch_s(res, ops)
    metrics["batch_s"] = (value, "s")
    notes["batch_s"] = "labels=%d min_n=%d" % (
        len(by_label), min((len(x) for x in by_label.values()), default=0))
    metrics["stored_bytes_per_user_byte"] = (
        res["stored_bytes_per_user_byte"], "ratio")
    metrics["rss_peak_mb"] = (res["rss_peak_mb"], "MB")
    return metrics, notes


def per_layer(res, spans):
    """The per-layer metrics of a traced run: per-op means of the traced
    ops' layer values, per-call means of layer calls, span self times per
    op, and the tracing overhead against the run's untraced half."""
    traced = [o for o in res["ops"] if o["traced"]]
    plain = [o for o in res["ops"] if not o["traced"]]
    n = max(len(traced), 1)

    def tot(k):
        return sum(o["values"].get(k, 0.0) for o in traced)

    def per_op(k):
        return tot(k) / n

    m = {}
    for k, unit in [
            ("operators.construct_ms", "ms"), ("operators.construct_jobs", "count"),
            ("planner.plan_ms", "ms"), ("planner.analysis_ms", "ms"),
            ("planner.optimization_ms", "ms"), ("planner.physical_ms", "ms"),
            ("exec.jobs", "count"), ("exec.stages", "count"),
            ("exec.tasks", "count"), ("exec.run_ms", "ms"),
            ("exec.cpu_ms", "ms"), ("exec.gc_ms", "ms"),
            ("exec.shuffle_write_bytes", "B"), ("exec.shuffle_read_bytes", "B"),
            ("exec.shuffle_records", "count"), ("exec.spill_bytes", "B"),
            ("exec.task_skew", "ratio"), ("driver.result_rows", "count"),
            ("format.scan.footer_reads", "count"),
            ("format.scan.pixels_decoded", "count"),
            ("format.scan.data_bytes_read", "B"),
            ("format.scan.cache_hits", "count"),
            ("format.scan.cache_misses", "count"),
            ("format.commit.head_reads", "count"),
            ("format.commit.manifest_parses", "count"),
            ("format.commit.manifest_bytes_written", "B"),
            ("format.index.mirror_hits", "count"),
            ("format.index.mirror_loads", "count"),
            ("format.index.refusals", "count")]:
        m[k] = (per_op(k), unit)
    hits, misses = tot("format.scan.cache_hits"), tot("format.scan.cache_misses")
    m["format.scan.cache_hit_ratio"] = (
        hits / (hits + misses) if hits + misses else 0.0, "ratio")
    rows = tot("driver.result_rows")
    m["format.scan.pixels_per_row_out"] = (
        tot("format.scan.pixels_decoded") / rows if rows else 0.0, "ratio")

    selfs = self_times(spans)
    by_name = {}
    for s in spans:
        by_name.setdefault(s["name"], []).append(s)

    def span_mean_ms(name):
        xs = by_name.get(name, [])
        return mean([(s["end_us"] - s["start_us"]) / 1000.0 for s in xs])

    def self_ms(name):
        return sum(selfs[s["id"]] for s in by_name.get(name, [])
                   if s["op"] > 0) / 1000.0 / n

    m["driver.outside_jobs_ms"] = (self_ms("action"), "ms")
    calls = res.get("calls", {})
    m["format.write.ms"] = (span_mean_ms("format.write"), "ms")
    m["format.write.bytes"] = (mean(calls.get("format.write.bytes", [])), "B")
    lookups = tot("format.index.lookups")
    m["format.index.lookup_ms"] = (
        tot("format.index.lookup_ms") / lookups if lookups else 0.0, "ms")
    m["format.index.refresh_ms"] = (span_mean_ms("format.index.refresh"), "ms")
    m["format.index.served_ratio"] = (
        tot("format.index.served") / lookups if lookups else 0.0, "ratio")
    m["format.compact.ms"] = (span_mean_ms("format.compact"), "ms")
    m["format.compact.bytes_rewritten"] = (
        mean(calls.get("format.compact.bytes_rewritten", [])), "B")
    m["format.compact.files_live"] = (float(res.get("files_live", 0)), "count")
    m["gen.late_ms"] = (
        mean([o["latency_ms"] - o["service_ms"] for o in traced]), "ms")
    for name in SPAN_NAMES:
        m["self_ms." + name] = (self_ms(name), "ms")

    qt, qp = query_stats(res, traced), query_stats(res, plain)
    p50t, p50p = qt["query_p50_ms"][0], qp["query_p50_ms"][0]
    m["trace.overhead.query_p50_ms"] = (
        p50t - p50p if p50t is not None and p50p is not None else 0.0, "ms")
    m["trace.overhead.queries_per_s"] = (
        qt["queries_per_s"] - qp["queries_per_s"], "1/s")
    m["trace.overhead.batch_s"] = (
        batch_s(res, traced)[0] - batch_s(res, plain)[0], "s")

    for cls, kinds in (("write", WRITE_KINDS), ("lookup", {"lookup"})):
        value = percentile(
            [o["latency_ms"] for o in res["ops"] if o["kind"] in kinds], 50)[0]
        m["%s_p50_ms" % cls] = (value if value is not None else 0.0, "ms")
    attempted, failed = counts(res)
    m["fail_frac"] = (failed / attempted, "ratio")
    return m


def counts(res):
    """(attempted, failed): every op plus the end-of-run check, if any."""
    attempted = len(res["ops"])
    failed = sum(1 for o in res["ops"] if not o["ok"])
    if res.get("final_check") is not None:
        attempted += 1
        failed += 0 if res["final_check"] else 1
    return max(attempted, 1), failed
