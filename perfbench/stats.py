"""Metrics from one benchmark process's result file.

End-to-end metrics come from the untraced runs, per-layer metrics from the
traced runs of a `--trace 1` invocation (which alternates untraced and traced
runs, so the tracing overhead is measured in one process).
"""
import math
import statistics
from collections import defaultdict

# Candidate percentiles for a tail figure, highest first.
PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)

CATALOG_FAMILIES = ("relational", "text", "dedup", "vector", "time", "sketch", "sample")
TXLOG_VERBS = ("append", "merge", "update", "delete", "optimize", "vacuum", "snapshot",
               "scan", "pruned_read", "time_travel", "change_feed", "stream_catchup")
MB = 1024.0 * 1024.0


def _rank(p, n):
    """1-based nearest rank of the p-th percentile of n samples."""
    return max(1, math.ceil(round(p * n / 100.0, 9)))


def nearest_rank(values, p):
    """The p-th percentile of `values` by the nearest-rank rule."""
    s = sorted(values)
    return s[_rank(p, len(s)) - 1]


def tail_percentile(n):
    """The highest of PERCENTILES that has at least ten of `n` samples
    beyond it, or None when there are fewer than twenty samples."""
    for p in PERCENTILES:
        if n - _rank(p, n) >= 10:
            return p
    return None


def latencies(ops, kinds=None):
    """Latency samples of the ops that succeeded. A failed op (it threw, or
    its output did not match) adds no sample: it counts only as failed."""
    return [o["lat_s"] for o in ops if o["ok"] and (kinds is None or o["kind"] in kinds)]


def failed_count(ops):
    return sum(1 for o in ops if not o["ok"])


def self_times(spans):
    """Span id -> self time in ns: the span's duration minus the part of it
    that its child spans cover (overlapping children are counted once)."""
    children = defaultdict(list)
    for s in spans:
        children[s["parent"]].append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ns"], s["end_ns"]
        ivs = sorted((max(c["start_ns"], lo), min(c["end_ns"], hi))
                     for c in children[s["id"]])
        covered, cur_lo, cur_hi = 0, None, None
        for a, b in ivs:
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (hi - lo) - covered
    return out


def layer_spans(spans, root_id):
    """The spans under `root_id` that time the program's layers: every
    descendant except the benchmark's own `bench.*` spans and everything
    that ran inside them (output checks against the model, file counting)."""
    kids = defaultdict(list)
    for s in spans:
        kids[s["parent"]].append(s)
    out, todo = [], [root_id]
    while todo:
        for c in kids[todo.pop()]:
            if not c["name"].startswith("bench."):
                out.append(c)
                todo.append(c["id"])
    return out


def setup_s(res):
    """Set-up time: JVM start to main, plus the median of the three session
    bring-ups (the first is cold, the other two warm), plus the workload's
    warmup. Seeded input generation and the box-speed calibration are not
    included."""
    return res["jvm_to_main_s"] + statistics.median(res["session_s"]) + res["warmup_s"]


def end_to_end(res):
    """The metrics BENCHMARK.json bounds, from the untraced runs."""
    runs = [r for r in res["runs"] if not r["traced"]]
    ops = [o for o in res["ops"] if not o["traced"]]
    lat = latencies(ops)
    return {
        "setup_s": (setup_s(res), "s"),
        "run_s": (statistics.median(r["run_s"] for r in runs), "s"),
        "op_p50_s": (statistics.median(lat) if lat else 0.0, "s"),
        "retained_heap_mb": (statistics.median(r["heap_mb"] for r in runs), "MB"),
    }


def tails(res):
    """Tail latencies by the percentile rule, each with its sample count,
    plus the txlog_rw write/read split and storage ratio. Reported beside
    the bounded metrics."""
    ops = [o for o in res["ops"] if not o["traced"]]
    out = {}
    groups = {"op": None, "write": ("write",), "read": ("read",)}
    for label, kinds in groups.items():
        lat = latencies(ops, kinds)
        if not lat or (label != "op" and res["workload"] != "txlog_rw"):
            continue
        out[f"{label}_p50_s"] = {"value": statistics.median(lat), "n": len(lat)}
        p = tail_percentile(len(lat))
        if p is not None:
            out[f"{label}_tail_s"] = {"value": nearest_rank(lat, p), "percentile": p,
                                      "n": len(lat)}
    if "stored_bytes_ratio" in res["extra"]:
        out["stored_bytes_ratio"] = {"value": statistics.median(res["extra"]["stored_bytes_ratio"]),
                                     "n": len(res["extra"]["stored_bytes_ratio"])}
    attempted = len(res["ops"])
    out["failed_ratio"] = {"value": failed_count(res["ops"]) / max(1, attempted),
                           "n": attempted}
    return out


PER_LAYER_UNITS = dict(
    [("spark.plan_ms", "ms"), ("spark.jobs", "count"), ("spark.stages", "count"),
     ("spark.tasks", "count"), ("spark.task_busy_s", "s"), ("spark.core_util", "ratio"),
     ("spark.input_mb", "MB"), ("spark.shuffle_write_mb", "MB"),
     ("spark.shuffle_read_mb", "MB"), ("spark.spill_mb", "MB"), ("spark.gc_ms", "ms"),
     ("spark.result_mb", "MB")]
    + [(f"catalog.{f}_s", "s") for f in CATALOG_FAMILIES]
    + [("api.prepare_full_s", "s"), ("ops.cc_rounds", "count")]
    + [(f"txlog.{v}_ms", "ms") for v in TXLOG_VERBS]
    + [("txlog.commits", "count"), ("txlog.files_added", "count"),
       ("txlog.files_removed", "count"), ("txlog.dv_files", "count"),
       ("txlog.log_mb", "MB"), ("txlog.write_amp", "ratio"), ("txlog.prune_ratio", "ratio"),
       ("txlog.commit_files_replayed", "count"), ("txlog.log_dir_listings", "count"),
       ("trace.run_s", "s"), ("trace.untraced_run_s", "s"), ("trace.overhead_s", "s"),
       ("trace.coverage", "ratio")])


def per_layer(res):
    """Per-layer metrics of the traced runs, averaged per run. Layers a
    workload does not call read 0."""
    spans = res["spans"]
    selfs = self_times(spans)
    m = dict.fromkeys(PER_LAYER_UNITS, 0.0)
    traced = [r for r in res["runs"] if r["traced"]]
    untraced = [r for r in res["runs"] if not r["traced"]]
    roots = [s for s in spans if s["name"] == "run"]
    n = max(1, len(roots))
    # engine work and counters of the program's layers only: the benchmark's
    # own work inside a run sits in `bench.*` spans and is left out, as it is
    # left out of run_s
    in_runs = [d for r in roots for d in layer_spans(spans, r["id"])] + roots

    def total(key, pool):
        return sum(s["counters"].get(key, 0.0) for s in pool)

    for key in ("jobs", "stages", "tasks", "plan_ms", "gc_ms"):
        m[f"spark.{key}"] = total(f"spark.{key}", in_runs) / n
    m["spark.task_busy_s"] = total("spark.task_busy_ms", in_runs) / 1e3 / n
    for name, key in (("input_mb", "input_bytes"), ("shuffle_write_mb", "shuffle_write_bytes"),
                      ("shuffle_read_mb", "shuffle_read_bytes"), ("spill_mb", "spill_bytes"),
                      ("result_mb", "result_bytes")):
        m[f"spark.{name}"] = total(f"spark.{key}", in_runs) / MB / n

    run_s = [r["run_s"] for r in traced]
    if run_s:
        m["trace.run_s"] = statistics.median(run_s)
        m["spark.core_util"] = m["spark.task_busy_s"] / (statistics.mean(run_s) * res["cpus"])
    if untraced:
        m["trace.untraced_run_s"] = statistics.median(r["run_s"] for r in untraced)
        m["trace.overhead_s"] = m["trace.run_s"] - m["trace.untraced_run_s"]
    # the self times of the layer spans under each run, against the run's
    # measured time (benchmark bookkeeping spans are excluded from both)
    cover = []
    for root, r in zip(roots, traced):
        layer = layer_spans(spans, root["id"])
        cover.append(sum(selfs[d["id"]] for d in layer) / 1e9 / r["run_s"])
    if cover:
        m["trace.coverage"] = statistics.median(cover)

    for fam in CATALOG_FAMILIES:
        m[f"catalog.{fam}_s"] = sum(s["end_ns"] - s["start_ns"] for s in in_runs
                                    if s["name"] == f"catalog.{fam}") / 1e9 / n
    # the corpus pipeline run of the catalog workload's traced invocation
    corpus = [s for s in spans if s["name"] == "api.prepare_full"]
    if corpus:
        m["api.prepare_full_s"] = (corpus[0]["end_ns"] - corpus[0]["start_ns"]) / 1e9
        m["ops.cc_rounds"] = corpus[0]["counters"].get("ops.cc_rounds", 0.0)

    for verb in TXLOG_VERBS:
        d = [selfs[s["id"]] for s in in_runs if s["name"] == f"txlog.{verb}"]
        if d:
            m[f"txlog.{verb}_ms"] = statistics.median(d) / 1e6
    for key in ("commits", "files_added", "files_removed", "dv_files",
                "commit_files_replayed", "log_dir_listings"):
        m[f"txlog.{key}"] = total(f"txlog.{key}", in_runs) / n
    m["txlog.log_mb"] = total("txlog.log_bytes", in_runs) / MB / n
    user = total("txlog.user_bytes", in_runs)
    if user:
        m["txlog.write_amp"] = total("txlog.bytes_written", in_runs) / user
    live = total("txlog.pruned_live_files", in_runs)
    if live:
        m["txlog.prune_ratio"] = total("txlog.pruned_files", in_runs) / live
    return {k: (v, PER_LAYER_UNITS[k]) for k, v in m.items()}


def layer_table(res):
    """Per span name: calls, total self seconds, and summed counters, over
    every traced span. Input of the layer-diff tool."""
    spans = res["spans"]
    selfs = self_times(spans)
    table = {}
    for s in spans:
        row = table.setdefault(s["name"], {"calls": 0, "self_s": 0.0, "counters": {}})
        row["calls"] += 1
        row["self_s"] += selfs[s["id"]] / 1e9
        for k, v in s["counters"].items():
            row["counters"][k] = row["counters"].get(k, 0.0) + v
    return table
