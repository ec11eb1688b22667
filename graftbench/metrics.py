"""Turn one run's operation records into the benchmark's metrics.

End-to-end metrics come from the untraced phase. A --trace 1 run runs
the client untraced, traced and untraced again, each phase for the same
client time; per-layer metrics come from the traced phase, and the
ratio of its end-to-end numbers to the mean of the two untraced
phases' is the tracing overhead.
"""
import statistics

import datagen

TAIL_BEYOND = 10

END_TO_END = [("setup_s", "s"), ("read_p50_ms", "ms"), ("read_tail_ms", "ms"),
              ("ops_per_s", "1/s"), ("input_rows_per_s", "rows/s"), ("heap_peak_mb", "MiB")]
OVERHEAD = ["read_p50_ms", "read_tail_ms", "ops_per_s", "input_rows_per_s", "heap_peak_mb"]

# operation type -> the layer its DataFrame-building calls belong to
BUILD_LAYER = {**{q: "core" for q in datagen.ANALYTICS},
               "bm25_indexed": "ops", "ivfpq_indexed": "ops", "filebloom_lookup": "ops",
               "keyed_read": "streaming", "upsert": "streaming"}
OPS_MODULE = {"bm25_indexed": "Retrieval", "ivfpq_indexed": "Similarity"}

# (per-layer name, unit, record field), averaged per traced operation
PER_OP = [
    ("spark.plan.analysis_ms", "ms", "analysis_ms"),
    ("spark.plan.optimizer_ms", "ms", "optimizer_ms"),
    ("spark.plan.physical_ms", "ms", "physical_ms"),
    ("spark.plan.exchanges", "count", "exchanges"),
    ("spark.plan.single_partition_ops", "count", "single_partition_ops"),
    ("plans.kernel_nodes", "count", "kernel_nodes"),
    ("spark.exec.jobs", "count", "jobs"),
    ("spark.exec.stages", "count", "stages"),
    ("spark.exec.tasks", "count", "tasks"),
    ("spark.exec.no_stage_ms", "ms", "no_stage_ms"),
    ("spark.exec.task_ms", "ms", "task_ms"),
    ("spark.exec.cpu_ms", "ms", "cpu_ms"),
    ("spark.exec.gc_ms", "ms", "gc_ms"),
    ("spark.scan.bytes_read", "bytes", "scan_bytes"),
    ("spark.scan.files_read", "count", "scan_files"),
    ("spark.shuffle.bytes_written", "bytes", "shuffle_bytes"),
    ("spark.shuffle.records_written", "count", "shuffle_records"),
    ("spark.shuffle.fetch_wait_ms", "ms", "fetch_wait_ms"),
    ("spark.shuffle.spill_bytes", "bytes", "spill_bytes"),
]


# the per-layer metrics a traced run reports (BENCHMARK.json lists the
# same); every other layer number is printed as a line only
PER_LAYER = ["core.build_ms", "ops.build_ms", "ops.Retrieval.ms", "ops.Similarity.ms",
             "core.self_ms", "ops.self_ms", "streaming.self_ms",
             "spark.driver.self_ms", "spark.stages.self_ms",
             *[n for n, _, _ in PER_OP],
             "spark.exec.busy_share", "spark.exec.failed_tasks", "spark.scan.rows_per_result_row",
             "spark.cache.peak_bytes", "ops.FileBloomIndex.fp_file_rate",
             "streaming.commit_ms", "streaming.files_written", "streaming.bytes_written",
             "sources.live_files", "write_p50_ms", "write_tail_ms", "write_bytes_per_user_byte",
             "stored_bytes_per_user_byte", "error_rate",
             *[f"trace.overhead.{n}" for n in OVERHEAD]]


def tail(xs, beyond=TAIL_BEYOND):
    """The highest percentile that still has `beyond` samples above it:
    (value, percentile). With too few samples, (max, 100.0)."""
    s = sorted(xs)
    n = len(s)
    if n == 0:
        return 0.0, 0.0
    if n <= beyond:
        return s[-1], 100.0
    return s[n - 1 - beyond], 100.0 * (n - beyond) / n


def _mean(xs):
    return statistics.fmean(xs) if xs else 0.0


def end_to_end(recs, inrows):
    """The user-visible numbers of one phase's records."""
    reads = [r["lat_ms"] for r in recs if r["kind"] == "read" and r["ok"]]
    writes = [r["lat_ms"] for r in recs if r["kind"] == "write" and r["ok"]]
    busy_s = sum(r["busy_ms"] for r in recs) / 1000.0
    done = [r for r in recs if r["ok"]]
    rows = sum(inrows[r["op"]] if inrows[r["op"]] is not None else r["rows"] for r in done)
    rt, rp = tail(reads)
    wt, wp = tail(writes)
    return {
        "read_p50_ms": statistics.median(reads) if reads else 0.0,
        "read_tail_ms": rt, "read_tail_pct": rp, "reads": len(reads),
        "write_p50_ms": statistics.median(writes) if writes else 0.0,
        "write_tail_ms": wt, "write_tail_pct": wp, "writes": len(writes),
        "ops_per_s": len(done) / busy_s if busy_s else 0.0,
        "input_rows_per_s": rows / busy_s if busy_s else 0.0,
        "heap_peak_mb": max([r["heap_mb"] for r in recs] or [0.0]),
        "error_rate": (len(recs) - len(done)) / len(recs) if recs else 0.0,
    }


def self_times(recs):
    """Each operation's span split into the time no child layer took.

    graft's own calls are a read's `build` span and a write's
    `upsertBatch` (its `action`); Spark is called by the client in the
    other span. Time in those spans with none of the operation's stages
    running is the caller's self time: graft's (by the layer the
    operation uses), or Spark's driver (planning, scheduling, result
    collection). Time with a stage running is the stages' self time.
    Averages per operation of the layer; the three parts sum to the
    span."""
    def graft_span_free(r):
        return r["build_no_stage_ms"] if r["kind"] == "read" else r["action_no_stage_ms"]

    def spark_span_free(r):
        return r["action_no_stage_ms"] if r["kind"] == "read" else r["build_no_stage_ms"]

    m = {}
    for layer in ("core", "ops", "streaming"):
        m[f"{layer}.self_ms"] = _mean([graft_span_free(r) for r in recs
                                       if BUILD_LAYER[r["op"]] == layer])
    m["spark.driver.self_ms"] = _mean([spark_span_free(r) for r in recs])
    m["spark.stages.self_ms"] = _mean([max(0.0, r["busy_ms"] - graft_span_free(r) - spark_span_free(r))
                                       for r in recs])
    return m


def per_layer(recs, res, untraced):
    """Layer metrics of the traced phase, each an average per operation
    unless its name says otherwise."""
    m = {}
    for layer in ("core", "ops"):
        m[f"{layer}.build_ms"] = ("ms", _mean([r["build_ms"] for r in recs
                                               if BUILD_LAYER[r["op"]] == layer]))
    for mod in ("Retrieval", "Similarity"):
        m[f"ops.{mod}.ms"] = ("ms", _mean([r["busy_ms"] for r in recs
                                           if OPS_MODULE.get(r["op"]) == mod]))
    for name, v in self_times(recs).items():
        m[name] = ("ms", v)
    for name, unit, field in PER_OP:
        m[name] = (unit, _mean([r.get(field, 0) for r in recs]))
    cores = res["session"]["cores"]
    busy = sum(r["busy_ms"] for r in recs)
    m["spark.exec.busy_share"] = ("ratio", sum(r.get("task_ms", 0) for r in recs) / (busy * cores)
                                  if busy else 0.0)
    m["spark.exec.failed_tasks"] = ("count", float(sum(r.get("failed_tasks", 0) for r in recs)))
    reads = [r for r in recs if r["kind"] == "read"]
    out_rows = sum(r["rows"] for r in reads)
    m["spark.scan.rows_per_result_row"] = ("ratio", sum(r.get("scan_rows", 0) for r in reads) / out_rows
                                           if out_rows else 0.0)
    m["spark.cache.peak_bytes"] = ("bytes", float(max([r.get("cache_peak_bytes", 0) for r in recs] or [0])))
    opened = sum(r.get("opened_files", 0) for r in recs)
    m["ops.FileBloomIndex.fp_file_rate"] = ("ratio", sum(r.get("fp_files", 0) for r in recs) / opened
                                            if opened else 0.0)
    commits = [r for r in recs if r["kind"] == "write"]
    m["streaming.commit_ms"] = ("ms", _mean([r["lat_ms"] for r in commits]))
    m["streaming.files_written"] = ("count", _mean([r.get("files_written", 0) for r in commits]))
    m["streaming.bytes_written"] = ("bytes", _mean([r.get("bytes_written", 0) for r in commits]))
    m["sources.live_files"] = ("count", _mean([r.get("live_files", 0) for r in commits]))
    # the write path's user-visible numbers, from the untraced phase
    m["write_p50_ms"] = ("ms", untraced["write_p50_ms"])
    m["write_tail_ms"] = ("ms", untraced["write_tail_ms"])
    m["write_bytes_per_user_byte"] = ("ratio", res.get("write_bytes_per_user_byte", 0.0))
    m["stored_bytes_per_user_byte"] = ("ratio", res.get("stored_bytes_per_user_byte", 0.0))
    m["error_rate"] = ("ratio", untraced["error_rate"])
    return m


def report(res, rows, gen_s, oracle_s, traced):
    inrows = datagen.input_rows(rows)
    recs = res["records"]
    timed = [r for r in recs if r["phase"] == "timed"]
    tr = [r for r in recs if r["phase"] == "traced"]
    after = [r for r in recs if r["phase"] == "timed-after"]
    setup = res["setup"]
    setup_s = setup["start_s"] + setup["artifacts_s"] + setup["warmup_s"]
    e2e = end_to_end(timed, inrows)
    e2e["setup_s"] = setup_s
    lines = [f"# {k} = {v}" for k, v in res["session"].items()]
    lines.append(f"# setup: jvm+session {setup['start_s']:.3f} s, artifacts {setup['artifacts_s']:.3f} s, "
                 f"warm-up {setup['warmup_s']:.3f} s; not in setup_s: data generation {gen_s:.3f} s, reference answers {oracle_s:.3f} s, "
                 f"checks {res['check_s']:.3f} s, heap collections {res['heap_gc_s']:.3f} s")
    if "artifacts" in setup:
        lines.append("# artifacts: " + ", ".join(f"{k} {v:.3f} s" for k, v in setup["artifacts"].items()))
    lines.append(f"# read_tail_ms is p{e2e['read_tail_pct']:.1f} of {e2e['reads']} reads; "
                 f"write_tail_ms is p{e2e['write_tail_pct']:.1f} of {e2e['writes']} writes")
    for name, unit in END_TO_END + [("write_p50_ms", "ms"), ("write_tail_ms", "ms"),
                                    ("error_rate", "ratio")]:
        lines.append(f"{name} {e2e[name]:.6g} {unit}")
    for k in ("write_bytes_per_user_byte", "stored_bytes_per_user_byte"):
        if k in res:
            lines.append(f"{k} {res[k]:.6g} ratio")
    bad = [r for r in recs if not r["ok"]]
    for r in bad:
        lines.append(f"# FAILED {r['phase']} op {r['i']} {r['op']}: "
                     f"{r.get('error') or r.get('check', 'unchecked')}")
    if "final_table_ok" in res and not res["final_table_ok"]:
        lines.append("# FAILED the served table differs from the replay of the seeded deltas")
    correct = not bad and res.get("final_table_ok", True)
    counted = timed + tr + after
    failed = sum(1 for r in counted if not r["ok"])
    if not traced:
        metrics = {n: {"value": e2e[n], "unit": u} for n, u in END_TO_END}
    else:
        t = end_to_end(tr, inrows)
        a = end_to_end(after, inrows)
        layer = per_layer(tr, res, e2e)
        for n in OVERHEAD:
            base = (e2e[n] + a[n]) / 2
            layer[f"trace.overhead.{n}"] = ("ratio", t[n] / base - 1.0 if base else 0.0)
        for n, (u, v) in layer.items():
            lines.append(f"{n} {v:.6g} {u}")
        metrics = {n: {"value": layer[n][1], "unit": layer[n][0]} for n in PER_LAYER}
    return {"lines": lines, "metrics": metrics, "correct": bool(correct),
            "attempted": len(counted), "failed": failed}
