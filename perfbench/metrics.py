"""Turns the JVM's record.json into the benchmark's metrics.

`end_to_end(rec)` gives the untraced metrics; `per_layer(rec)` gives the
layer metrics of a traced run from its spans and Spark counters.
"""
import statistics

from workloads import CONFIG, PAGES

SVC_OPS = PAGES + ["productSearch"]


def median(xs):
    return statistics.median(xs) if xs else 0.0


def mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def p90(xs):
    """90th percentile, interpolated between order statistics."""
    if len(xs) < 2:
        return xs[0] if xs else 0.0
    return statistics.quantiles(xs, n=10, method="inclusive")[8]


def passes(rec):
    """Wall time of each completed pass of the workload's fixed work."""
    ops = rec["ops"]
    by = {}
    for o in ops:
        by.setdefault(o["pass"], []).append(o)
    want = CONFIG[rec["workload"]]["pass_ops"]
    return [(max(o["t0"] + o["ms"] for o in g) - min(o["t0"] for o in g)) / 1000.0
            for g in by.values() if len(g) == want]


def write_amplification(rec):
    """Bytes landed on disk per unit of source parquet: under the
    warehouse per batch cycle, or by the dashboard's set-up landing.
    """
    src = rec["source_bytes"]
    if rec["workload"] == "batch":
        by = {}
        for o in rec["ops"]:
            by[o["pass"]] = by.get(o["pass"], 0) + o["landed_bytes"]
        return median([b / src for b in by.values()])
    return median([s["landed_bytes"] / src for s in rec["setups"]])


def end_to_end(rec):
    lat = [o["ms"] for o in rec["ops"]]
    ok = sum(1 for o in rec["ops"] if o["ok"])
    return {
        "setup_s": (median([s["total_ms"] for s in rec["setups"]]) / 1000.0, "s"),
        "latency_p50_ms": (median(lat), "ms"),
        "latency_p90_ms": (p90(lat), "ms"),
        "throughput_ops_s": (ok / (rec["window_ms"] / 1000.0), "1/s"),
        "wall_s": (median(passes(rec)), "s"),
        "peak_rss_mb": (rec["rss_hwm_kb"] / 1024.0, "MB"),
        "write_amplification": (write_amplification(rec), "ratio"),
    }


def _union_ms(intervals, lo=None, hi=None):
    """Length of the union of [t0, t1] intervals, clipped to [lo, hi]."""
    iv = sorted((max(a, lo) if lo is not None else a, min(b, hi) if hi is not None else b)
                for a, b in intervals)
    total, end = 0, None
    for a, b in iv:
        if b <= a:
            continue
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def per_layer(rec):
    tr = rec["trace"] or {"spans": [], "jobs": [], "stages": []}
    cores = rec["cores"]
    ops = {o["seq"]: o for o in rec["ops"]}
    spans = [s for s in tr["spans"] if s["op"] in ops]
    jobs = [j for j in tr["jobs"] if j["t1"] >= 0]
    job_of_span = {}
    for j in jobs:
        job_of_span.setdefault(j["span"], []).append(j)
    stages_of_job = {}
    for st in tr["stages"]:
        stages_of_job.setdefault(st["job"], []).append(st)

    def layer(name):
        return [s for s in spans if s["layer"] == name]

    def jobs_in(ss):
        return [j for s in ss for j in job_of_span.get(s["id"], [])]

    def tasks_in(ss):
        return [st for j in jobs_in(ss) for st in stages_of_job.get(j["id"], [])]

    def dur(s):
        return s["t1"] - s["t0"]

    def per(ss, n):
        return (ss / n) if n else 0.0

    traced = {s["op"] for s in spans}
    op_spans = {s["op"]: s for s in layer("op")}
    spans_of_op = {}
    for s in spans:
        spans_of_op.setdefault(s["op"], []).append(s)

    def is_tables(j):
        return "Tables.scala" in j["site"]

    # declared-query ops: their build resolves raw tables through Tables
    q_ops = [k for k in traced if ops[k]["label"].startswith("q ")]
    tables_ms = [_union_ms([(j["t0"], j["t1"]) for j in jobs_in(spans_of_op[k]) if is_tables(j)])
                 for k in q_ops]
    tables_jobs = [sum(1 for j in jobs_in(spans_of_op[k]) if is_tables(j)) for k in q_ops]
    q_op_ms = sum(dur(op_spans[k]) for k in q_ops if k in op_spans)

    build = layer("build")
    build_self, build_idle = [], []
    for s in build:
        js = jobs_in([s])
        build_self.append(dur(s) - _union_ms([(j["t0"], j["t1"]) for j in js if is_tables(j)],
                                             s["t0"], s["t1"]))
        build_idle.append(dur(s) - _union_ms([(j["t0"], j["t1"]) for j in js], s["t0"], s["t1"]))

    # the final action of a query or service call (the pipelines' own
    # writes are inside their etl / clustering spans)
    ex = layer("exec")
    ex_tasks = tasks_in(ex)
    ex_wall = sum(dur(s) for s in ex)
    n_ex = len(ex)
    busy = sum(t["busy_ms"] for t in ex_tasks)
    n_tasks = sum(t["tasks"] for t in ex_tasks)

    etl = [o for o in rec["ops"] if o["label"] == "etl"]
    clu = [o for o in rec["ops"] if o["label"] == "clustering"]
    stream = [o for o in rec["ops"] if o["label"] == "q q79_stream_stream_join"]
    stream_traced = [k for k in traced if ops[k]["label"] == "q q79_stream_stream_join"]
    svc = [k for k in traced if ops[k]["label"].split(" ")[0] in ("svc", "search")]

    def svc_label(o):
        w = o["label"].split(" ")
        return "productSearch" if w[0] == "search" else w[1] if w[0] == "svc" else None

    setups = rec["setups"]
    m = {
        "setup.session_ms": (median([s["session_ms"] for s in setups]), "ms"),
        "setup.warmup_ms": (rec["warmup_ms"], "ms"),
        "setup.warehouse_ms": (median([s["warehouse_ms"] for s in setups]), "ms"),
        "setup.cache_ms": (median([s["cache_ms"] for s in setups]), "ms"),
        # JVM start and the first set-up on a cold JIT, plus the warm-up
        # decks: what setup_s, a median of set-ups, leaves out
        "setup.cold_ms": (setups[0]["total_ms"] + rec["warmup_ms"], "ms"),
        "prebuild.ms": (median([s["prebuild_ms"] for s in setups]), "ms"),
        "prebuild.built": (setups[-1]["built"], "count"),
        "prebuild.reused": (setups[-1]["reused"], "count"),
        "tables.resolve_ms": (median(rec.get("tables_resolve_ms", [])), "ms"),
        "tables.jobs_per_op": (mean(tables_jobs), "count"),
        "tables.ms_per_op": (mean(tables_ms), "ms"),
        "tables.share_of_op": (per(sum(tables_ms), q_op_ms), "ratio"),
        "build.ms_per_op": (mean(build_self), "ms"),
        "build.jobs_per_op": (per(len(jobs_in(build)), len(build)), "count"),
        "build.stages_per_op": (per(sum(j["stages"] for j in jobs_in(build)), len(build)), "count"),
        "build.idle_ms_per_op": (mean(build_idle), "ms"),
        "plan.ms_per_op": (mean([dur(s) for s in layer("plan")]), "ms"),
        "exec.ms_per_op": (per(ex_wall, n_ex), "ms"),
        "exec.jobs_per_op": (per(len(jobs_in(ex)), n_ex), "count"),
        "exec.stages_per_op": (per(sum(j["stages"] for j in jobs_in(ex)), n_ex), "count"),
        "exec.tasks_per_op": (per(n_tasks, n_ex), "count"),
        "exec.task_busy_ms": (per(busy, n_ex), "ms"),
        "exec.slot_utilization": (per(busy, ex_wall * cores), "ratio"),
        "exec.task_wait_ms": (per(sum(t["wait_ms"] for t in ex_tasks), n_tasks), "ms"),
        "exec.input_bytes": (per(sum(t["input_bytes"] for t in ex_tasks), n_ex), "bytes"),
        "exec.shuffle_write_bytes": (per(sum(t["shuffle_write_bytes"] for t in ex_tasks), n_ex), "bytes"),
        "exec.spill_bytes": (per(sum(t["spill_bytes"] for t in ex_tasks), n_ex), "bytes"),
        "exec.gc_ms": (per(sum(t["gc_ms"] for t in ex_tasks), n_ex), "ms"),
        "etl.ms": (median([o["ms"] for o in etl]), "ms"),
        "etl.jobs": (per(len(jobs_in(layer("etl"))), len(layer("etl"))), "count"),
        "etl.output_bytes": (median([o["landed_bytes"] for o in etl]), "bytes"),
        "etl.files_written": (median([o["landed_files"] for o in etl]), "count"),
        "clustering.build_ms": (rec.get("clustering_build_ms", 0.0), "ms"),
        "clustering.ms": (median([o["ms"] for o in clu]), "ms"),
        "svc.input_bytes_per_op": (per(sum(t["input_bytes"] for t in tasks_in(
            [s for k in svc for s in spans_of_op[k]])), len(svc)), "bytes"),
        "stream.ms_per_op": (median([o["ms"] for o in stream]), "ms"),
        "stream.tasks_per_op": (per(sum(t["tasks"] for t in tasks_in(
            [s for k in stream_traced for s in spans_of_op[k]])), len(stream_traced)), "count"),
    }
    for name in SVC_OPS:
        m[f"svc.{name}_p50_ms"] = (median([o["ms"] for o in rec["ops"] if svc_label(o) == name]), "ms")
    m.update(overhead(rec))
    m["trace.self_ms_per_op"] = (per(rec.get("tracer_self_ms", 0.0), len(traced)), "ms")
    return m


def overhead(rec):
    """Tracing overhead: a traced dashboard run traces every other op,
    so each op label has traced and untraced samples in the same JVM;
    the overhead is traced minus untraced latency, label by label. A
    traced batch run traces every op of its one cycle: it has no pairs,
    so 0 here; trace.self_ms_per_op measures the tracer's own time there.
    """
    by = {}
    for o in rec["ops"]:
        by.setdefault(o["label"], {True: [], False: []})[o["traced"]].append(o["ms"])
    pairs = [(mean(v[True]), mean(v[False])) for v in by.values() if v[True] and v[False]]
    if not pairs:
        return {"trace.overhead_ms_per_op": (0.0, "ms"), "trace.overhead_pct": (0.0, "%")}
    return {
        "trace.overhead_ms_per_op": (mean([t - u for t, u in pairs]), "ms"),
        "trace.overhead_pct": (100.0 * (sum(t for t, _ in pairs) / sum(u for _, u in pairs) - 1), "%"),
    }
