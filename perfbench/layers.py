"""Per-layer metrics from a traced run's spans and counters.

Spans are JSON records with id, parent, name, start and end (epoch ms).
Layer names follow the repository's modules: operators (the query
closures), tables, functions, layouts, sources, streaming and exec (Spark
running the plans). Every count and time is divided by the number of
traced queries, so runs of different length compare.
"""
import statistics
from collections import defaultdict

MB = 1048576.0


def union_length(intervals, lo, hi):
    """Length of the union of `intervals`, each clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
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
    """span id -> its duration minus the part its children cover (ms)."""
    children = defaultdict(list)
    for s in spans:
        if "id" in s and s.get("parent"):
            children[s["parent"]].append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"])
            - union_length(children[s["id"]], s["start"], s["end"])
            for s in spans if "id" in s}


def layout_writes(spans):
    """(materialisations, seconds) of write-once layouts among `spans`: jobs
    inside a layout's write that wrote output, and the time of all jobs
    inside one."""
    jobs = [s for s in spans if s.get("name") == "spark.job" and s["layout_write"]]
    ids = {j["id"] for j in jobs}
    wrote = {s["parent"] for s in spans if s.get("name") == "spark.stage"
             and s["parent"] in ids and s["bytes_written"] > 0}
    return len(wrote), sum(j["end"] - j["start"] for j in jobs) / 1000


def per_layer(res, spans):
    """name -> (value, unit, sample count) for every per-layer metric.

    Spans of the warm pass (phase "setup") only feed the set-up layout
    counts; everything else comes from the traced timed passes."""
    setup = [s for s in spans if s.get("phase") == "setup"]
    spans = [s for s in spans if s.get("phase") == "window"]
    by = defaultdict(list)
    for s in spans:
        by[s.get("name") or s.get("counter")].append(s)
    queries = by["query"]
    q = len(queries)
    if q == 0:
        raise ValueError("traced run recorded no queries")
    selft = self_times(spans)
    kind = {s["id"]: s["name"] for s in spans if "id" in s}
    jobs, stages = by["spark.job"], by["spark.stage"]
    job_of = {j["id"]: j for j in jobs}
    stage_job = [(st, job_of.get(st["parent"])) for st in stages]
    cores = res["cores"]

    def mb(x):
        return x / MB

    def stage_sum(field, pred=lambda st, j: True):
        return sum(st[field] for st, j in stage_job if pred(st, j))

    def in_module(m):
        return lambda st, j: j is not None and j["module"] == m

    traced_passes = [p for p in res["passes"] if p["traced"]]
    traced_ms = 1000.0 * sum(p["wall_s"] for p in traced_passes)
    rows_out = sum(s["rows_out"] for s in queries)
    rows_read = stage_sum("rows_read")
    tasks = stage_sum("tasks")
    batches = by["streaming.batch"]
    writes, write_s = layout_writes(spans)
    setup_writes, setup_write_s = layout_writes(setup)
    samples = [s for s in res["samples"] if s["pass"] >= 0 and s["ok"]]
    window_queries = max(1, sum(1 for s in res["samples"] if s["pass"] >= 0))

    def key_medians(traced):
        d = defaultdict(list)
        for s in samples:
            if s["traced"] == traced:
                d[s["key"]].append(s["latency_s"])
        return {k: statistics.median(v) for k, v in d.items()}

    on, off = key_medians(True), key_medians(False)
    common = sorted(set(on) & set(off))
    overhead = (statistics.geometric_mean([on[k] / off[k] for k in common]) - 1.0
                if common else float("nan"))
    unparented = [j for j in jobs if j["parent"] == 0 or kind.get(j["parent"]) is None]
    unattributed_ms = (sum(selft[s["id"]] for s in queries)
                       + sum(j["end"] - j["start"] for j in unparented))

    per_q = "count/query"
    m = {
        "operators.build_s": (sum(selft[s["id"]] for s in by["operators.build"]) / 1000 / q, "s/query"),
        "operators.eager_jobs": (sum(1 for j in jobs if kind.get(j["parent"]) == "operators.build") / q, per_q),
        "tables.rows_read": (rows_read / q, per_q),
        "tables.bytes_read_mb": (mb(stage_sum("bytes_read")) / q, "MB/query"),
        "tables.rows_read_per_row_out": (rows_read / max(1, rows_out), "ratio"),
        "functions.jobs": (sum(1 for j in jobs if j["module"] == "functions") / q, per_q),
        "functions.task_s": (stage_sum("task_ms", in_module("functions")) / 1000 / q, "s/query"),
        "functions.pins": (res.get("pinned_rdds", 0) / q, per_q),
        "functions.pinned_peak_mb": (res.get("pinned_peak_mb", 0.0), "MB"),
        "layouts.writes": (writes / q, per_q),
        "layouts.write_s": (write_s / q, "s/query"),
        "layouts.setup_writes": (setup_writes, "count"),
        "layouts.setup_write_s": (setup_write_s, "s"),
        "sources.pages_read": (stage_sum("tasks", lambda st, j: st["paged_scan"]) / q, per_q),
        "sources.scan_s": (stage_sum("task_ms", lambda st, j: st["paged_scan"]) / 1000 / q, "s/query"),
        "streaming.batches": (len(batches) / q, per_q),
        "streaming.trigger_s": (sum(b["trigger_ms"] for b in batches) / 1000 / q, "s/query"),
        "streaming.wal_commit_s": (sum(b["wal_ms"] for b in batches) / 1000 / q, "s/query"),
        "streaming.state_rows": (sum(b["state_rows"] for b in batches) / q, per_q),
        "exec.planning_s": (sum(c["ms"] for c in by["exec.planning"]) / 1000 / q, "s/query"),
        "exec.codegen_compiles": (sum(p["codegen_compiles"] for p in traced_passes) / q, per_q),
        "exec.codegen_s": (sum(p["codegen_s"] for p in traced_passes) / q, "s/query"),
        "exec.slot_busy_ratio": (stage_sum("busy_ms") / max(1.0, traced_ms * cores), "ratio"),
        "exec.task_queue_s": (stage_sum("queue_ms") / 1000 / max(1, tasks), "s/task"),
        "exec.shuffle_write_mb": (mb(stage_sum("shuffle_write")) / q, "MB/query"),
        "exec.shuffle_read_mb": (mb(stage_sum("shuffle_read")) / q, "MB/query"),
        "exec.spill_mb": (mb(stage_sum("spill")) / q, "MB/query"),
        "exec.bytes_written_mb": (mb(stage_sum("bytes_written")) / q, "MB/query"),
        "exec.jobs": (len(jobs) / q, per_q),
        "exec.stages": (len(stages) / q, per_q),
        "exec.tasks": (tasks / q, per_q),
        "exec.task_s": (stage_sum("task_ms") / 1000 / q, "s/query"),
        "exec.gc_s": (stage_sum("gc_ms") / 1000 / q, "s/query"),
        "exec.jit_s": (res["window_jvm"]["jit_s"] / window_queries, "s/query"),
        "exec.task_failures": (stage_sum("task_failures") / q, per_q),
        "exec.stage_retries": (sum(1 for st in stages if st["attempt"] > 0) / q, per_q),
        "trace.overhead_ratio": (overhead, "ratio"),
        "trace.unattributed_s": (unattributed_ms / 1000 / q, "s/query"),
    }
    return {k: (v, u, q) for k, (v, u) in m.items()}


def module_self_times(spans):
    """module -> total self time (s) of its Spark jobs, plus the driver-side
    self time of the harness spans; the per-layer breakdown of a trace."""
    selft = self_times(spans)
    out = defaultdict(float)
    for s in spans:
        if s.get("name") == "spark.job":
            out[s["module"]] += selft[s["id"]] / 1000
        elif s.get("name") in ("operators.build", "exec.action", "query"):
            out[s["name"] + " (driver)"] += selft[s["id"]] / 1000
        elif s.get("name") == "spark.stage":
            out["spark.stage"] += selft[s["id"]] / 1000
    return dict(out)
