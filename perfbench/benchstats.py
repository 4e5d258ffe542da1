"""Metrics from the raw samples the benchmark's JVM writes.

Pure functions over plain data, so they can be tested without Spark:
medians, the tail-percentile rule, self times of nested spans, and the
end-to-end and per-layer metric sets of one run.
"""

import math
import statistics

TABLES = ("lineitem", "orders", "events", "customer")
STORE_CALLS = ("read", "watermark", "write")
SPARK_SUMS = ("stages", "tasks", "executor_run_s", "executor_cpu_s", "input_bytes",
              "shuffle_write_bytes", "shuffle_read_bytes", "output_bytes",
              "output_rows", "spill_bytes")
SELF_KINDS = (("op", "self.runner_s"), ("table", "self.syncjob_s"),
              ("store", "self.store_s"), ("job", "self.spark_job_s"))


def median(values):
    return statistics.median(values) if values else 0.0


def tail(samples, beyond=10):
    """The highest whole percentile of `samples` that has at least `beyond`
    samples above it, by the nearest-rank rule.

    Returns (percentile, value, samples above it). With `beyond` or fewer
    samples no percentile qualifies; the result is then (0, min, n - 1)
    with fewer than `beyond` samples above, and callers report it as such.
    """
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        return 0, 0.0, 0
    for pct in range(99, 0, -1):
        rank = math.ceil(pct / 100.0 * n)  # 1-based nearest rank
        value = xs[rank - 1]
        above = sum(1 for x in xs if x > value)
        if above >= beyond:
            return pct, value, above
    return 0, xs[0], sum(1 for x in xs if x > xs[0])


def covered(intervals):
    """Length of the union of half-open (start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """Self time of every span: its duration minus the part of it that its
    children cover. Children are clipped to the parent; overlapping
    children are counted once."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        clipped = [(max(c["start"], s["start"]), min(c["end"], s["end"]))
                   for c in children.get(s["id"], [])]
        out[s["id"]] = (s["end"] - s["start"]) - covered(clipped)
    return out


def failed_ops(result):
    """Cycles that raised or upserted the wrong row count; a failed final
    content check also fails the last cycle."""
    bad = [bool(op["error"]) for op in result["ops"]]
    if not all(v["only_source"] == 0 and v["only_dest"] == 0
               for v in result["check"].values()) and bad:
        bad[-1] = True
    return sum(bad)


def cycle_walls(result):
    """Wall times of the untraced cycles (all cycles of an untraced run)."""
    return [op["wall_s"] for op in result["ops"] if not op["traced"]]


def end_to_end(result):
    ops = [op for op in result["ops"] if not op["traced"]] or result["ops"]
    walls = [op["wall_s"] for op in ops]
    rows = sum(sum(op["rows"].values()) for op in ops)
    attempted = len(result["ops"])
    return {
        "setup_s": (result["setup_s"], "s"),
        "ok_ratio": ((attempted - failed_ops(result)) / attempted, "ratio"),
        "peak_rss_mb": (result["peak_rss_mb"], "MB"),
        "cycle_s.p50": (median(walls), "s"),
        "delta_rows_per_s": (rows / sum(walls), "rows/s"),
    }


def per_layer(result):
    spans = result["spans"]
    selfs = self_times(spans)
    by_trace = {}
    for s in spans:
        by_trace.setdefault(s["trace"], []).append(s)
    roots = [s for s in spans if s["parent"] == 0 and s["kind"] == "op"]
    facts = result["tables"]
    row_bytes = {t: f["sourceBytes"] / f["sourceRows"] for t, f in facts.items() if f["sourceRows"]}
    cores = result["cores"]

    per_op = []
    for root in roots:
        tree = by_trace.get(root["id"], [])
        wall = (root["end"] - root["start"]) / 1e6
        m = {}
        for t in TABLES:
            runs = [s for s in tree if s["name"] == "SyncJob.run:" + t]
            m["sync.SyncJob.run_s." + t] = sum(s["end"] - s["start"] for s in runs) / 1e6
            m["sync.SyncJob.rows." + t] = sum(s["attrs"].get("rows", 0) for s in runs)
        for call in STORE_CALLS:
            m["sync.TableStore.%s_s" % call] = sum(
                s["end"] - s["start"] for s in tree if s["name"] == "TableStore." + call) / 1e6
        jobs = [s for s in tree if s["kind"] == "job"]
        m["spark.jobs"] = len(jobs)
        for k in SPARK_SUMS:
            m["spark." + k] = sum(j["attrs"].get(k, 0) for j in jobs)
        m["spark.busy_ratio"] = m["spark.executor_run_s"] / (wall * cores)
        plans = [p for p in result["plans"] if root["start"] <= p["start_us"] <= root["end"]]
        m["sql.actions"] = len(plans)
        m["sql.planning_s"] = sum(p["planning_s"] for p in plans)
        total_self = 0
        for kind, name in SELF_KINDS:
            v = sum(selfs[s["id"]] for s in tree if s["kind"] == kind)
            m[name] = v / 1e6
            total_self += v
        m["trace.self_coverage"] = total_self / (root["end"] - root["start"])
        delta_rows = sum(m["sync.SyncJob.rows." + t] for t in TABLES)
        delta_bytes = sum(m["sync.SyncJob.rows." + t] * row_bytes.get(t, 0) for t in TABLES)
        m["_delta_rows"], m["_delta_bytes"] = delta_rows, delta_bytes
        per_op.append(m)

    def med(k):
        return median([m[k] for m in per_op])

    out = {k: med(k) for k in (per_op[0] if per_op else {}) if not k.startswith("_")}
    out["sync.rows_written_per_delta_row"] = (
        sum(m["spark.output_rows"] for m in per_op) /
        max(1, sum(m["_delta_rows"] for m in per_op)))
    out["sync.bytes_written_per_delta_byte"] = (
        sum(m["spark.output_bytes"] for m in per_op) /
        max(1.0, sum(m["_delta_bytes"] for m in per_op)))
    traced = [op["wall_s"] for op in result["ops"] if op["traced"]]
    plain = [op["wall_s"] for op in result["ops"] if not op["traced"]]
    out["trace.overhead_ratio"] = median(traced) / median(plain) - 1 if plain and traced else 0.0
    out["jvm.heap_used_mb"] = result["heap_used_mb"]
    return out


def _layer_units():
    units = {}
    for t in TABLES:
        units["sync.SyncJob.run_s." + t] = "s"
        units["sync.SyncJob.rows." + t] = "rows"
    for call in STORE_CALLS:
        units["sync.TableStore.%s_s" % call] = "s"
    units["sync.rows_written_per_delta_row"] = "ratio"
    units["sync.bytes_written_per_delta_byte"] = "ratio"
    units["spark.jobs"] = "count"
    units["spark.stages"] = "count"
    units["spark.tasks"] = "count"
    units["spark.executor_run_s"] = "s"
    units["spark.executor_cpu_s"] = "s"
    units["spark.busy_ratio"] = "ratio"
    for k in ("input", "shuffle_write", "shuffle_read", "output", "spill"):
        units["spark.%s_bytes" % k] = "bytes"
    units["spark.output_rows"] = "rows"
    units["sql.actions"] = "count"
    units["sql.planning_s"] = "s"
    for _, name in SELF_KINDS:
        units[name] = "s"
    units["trace.self_coverage"] = "ratio"
    units["trace.overhead_ratio"] = "ratio"
    units["jvm.heap_used_mb"] = "MB"
    return units


# Every per-layer metric a traced run reports, with its unit.
LAYER_UNITS = _layer_units()
