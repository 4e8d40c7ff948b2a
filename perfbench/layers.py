"""Per-layer metrics from one traced run's span file (see tracer/).

Jobs are attributed by the graft.* frames of their SQL execution's call
site (falling back to the result stage's call site for RDD jobs); the
innermost frame's package names the module. Micro-batch jobs belong to
`streaming`.
"""
import json

MB = 1 << 20
MODULES = ("cli", "ms", "ops", "expressions", "pipeline", "streaming", "queries")


def _union(intervals):
    total, end = 0.0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total / 1000.0


def _module(frames, batch):
    if batch:
        return "streaming"
    if not frames:
        return "spark"
    parts = frames[0].split(".")
    return parts[1] if len(parts) > 2 and parts[1] in MODULES else "entry"


def load(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def metrics(spans, launch_ms, wall_s, setup_s, manifest):
    by = {s["id"]: s for s in spans}
    sqls = {k: s for k, s in by.items() if s["kind"] == "sql"}
    jobs = [s for s in spans if s["kind"] == "job" and s.get("start") and s.get("end")]
    stages = [s for s in spans if s["kind"] == "stage"]
    job_stages = {}
    for st in stages:
        job_stages.setdefault(st["parent"], []).append(st)
    for j in jobs:
        sql = sqls.get(j["parent"]) or {}
        j["_frames"] = sql.get("frames") or j.get("frames") or []
        j["_module"] = _module(j["_frames"], j.get("batch"))
        j["_sql"] = sql

    def span_of(pred):
        return _union([(j["start"], j["end"]) for j in jobs if pred(j)])

    def has(prefix):
        return lambda j: any(f.startswith(prefix) for f in j["_frames"])

    def stage_sum(key, pred=lambda st: True):
        return sum(st.get(key, 0.0) for st in stages if pred(st))

    app = by.get("app", {})
    exit_ms = by["exit"]["start"]
    first_job = min((j["start"] for j in jobs), default=exit_ms)
    job_s = span_of(lambda j: True)
    m = {
        "cli.jvm_s": (app.get("start", launch_ms) - launch_ms) / 1000.0,
        "cli.session_s": (first_job - app.get("start", first_job)) / 1000.0,
        "spark.plan_s": sum(s.get("analysis_ms", 0) + s.get("optimization_ms", 0) +
                            s.get("planning_ms", 0) for s in spans if s["kind"] == "plan") / 1000.0,
        "spark.codegen_s": by["exit"].get("codegen_ns", 0) / 1e9,
        "spark.jobs": len(jobs),
        "spark.gap_s": (exit_ms - first_job) / 1000.0 - job_s,
        "spark.task_cpu_s": stage_sum("cpu_ns") / 1e9,
        "spark.gc_s": by["exit"].get("gc_ms", 0) / 1000.0,
        "spark.busy_cores": stage_sum("run_ms") / 1000.0 / job_s if job_s else 0.0,
        "spark.scan_mb": stage_sum("input_bytes") / MB,
        "spark.shuffle_write_mb": stage_sum("shuffle_write_bytes") / MB,
        "spark.shuffle_read_mb": stage_sum("shuffle_read_bytes") / MB,
        "spark.spill_mb": stage_sum("spill_disk_bytes") / MB,
    }
    m["trace.wall_s"] = wall_s
    m["trace.unaccounted_s"] = wall_s - setup_s - job_s - m["spark.gap_s"]

    # ms / ops: the xova paths
    writer = has("graft.ms.MsWriter")
    m["ms.write_s"] = span_of(writer)
    write_jobs = {j["id"] for j in jobs if writer(j)}
    m["ms.write_mb"] = sum(st.get("output_bytes", 0.0) for jid in write_jobs
                           for st in job_stages.get(jid, [])) / MB
    # the main table is the one table the pipeline's run() writes itself
    main_jobs = [j for j in jobs if j["_frames"][:1] == ["graft.ms.MsWriter$.writeTable"]
                 and j["_frames"][1:2] in (["graft.ops.Bda$.run"], ["graft.ops.Timechannel$.run"])]
    m["ms.write_tasks"] = 0
    if main_jobs:
        last = max(main_jobs, key=lambda j: int(j["id"].split(":")[1]))
        m["ms.write_tasks"] = sum(st.get("tasks", 0) for st in job_stages.get(last["id"], [])
                                  if st.get("stage") == last.get("result_stage"))
    m["ops.validate_s"] = span_of(has("graft.ops.Chunking"))

    def sizing(j):
        own = [f for f in j["_frames"] if not f.startswith("graft.pipeline.Caches")]
        return (bool(own) and own[0].startswith(("graft.ops.Bda$", "graft.ops.Timechannel$"))
                and not any(f.startswith(("graft.ms.", "graft.ops.Chunking", "graft.ops.Uvw"))
                            for f in j["_frames"]))
    m["ops.sizing_s"] = span_of(sizing)
    fix = [j["start"] for j in jobs if has("graft.ops.Uvw$.fixms")(j)]
    m["ops.fixms_s"] = (app.get("end", exit_ms) - min(fix)) / 1000.0 if fix else 0.0

    # expressions: stages that ran the partial visibility/row averages
    agg = {a for s in sqls.values() for a in s.get("agg_accums", [])}
    avg = lambda st: bool(agg.intersection(st.get("accums", [])))
    m["expressions.avg_stage_s"] = _union([(st["start"], st["end"]) for st in stages
                                           if avg(st) and st.get("start") and st.get("end")])
    m["expressions.avg_cpu_s"] = stage_sum("cpu_ns", avg) / 1e9
    cells = manifest.get("cross_vis_cells", 0)
    m["expressions.cells_per_cpu_s"] = (cells / m["expressions.avg_cpu_s"]
                                        if m["expressions.avg_cpu_s"] else 0.0)

    m["pipeline.materialize_s"] = span_of(has("graft.pipeline.Caches$.materialize"))

    batches = [s for s in spans if s["kind"] == "batch" and "triggerExecution_ms" in s]
    m["streaming.triggers"] = len(batches)
    bsum = lambda *keys: sum(b.get(k, 0) for b in batches for k in keys) / 1000.0
    m["streaming.add_batch_s"] = bsum("addBatch_ms")
    m["streaming.plan_s"] = bsum("queryPlanning_ms", "getBatch_ms")
    m["streaming.commit_s"] = bsum("walCommit_ms", "commitOffsets_ms")
    m["streaming.state_commit_s"] = bsum("state_commit_ms")
    ends = [s["end"] for s in spans if s["kind"] == "query" and s.get("end")]
    last_job = max((j["end"] for j in jobs), default=0)
    m["streaming.sink_s"] = max(0.0, (last_job - max(ends)) / 1000.0) if ends else 0.0
    m["streaming.state_rows_max"] = max((b.get("state_rows", 0) for b in batches), default=0)
    m["streaming.state_mb_max"] = max((b.get("state_bytes", 0) for b in batches), default=0) / MB

    split = {}
    for mod in sorted({j["_module"] for j in jobs}):
        split[mod] = span_of(lambda j, mod=mod: j["_module"] == mod)
    return m, split
