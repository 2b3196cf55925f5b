"""Metric arithmetic of the benchmark: the percentile rule, the end-to-end
metrics of each workload, and the per-layer metrics a traced run's event
record yields (each SQL execution attributed to the graft function that
issued it, from the call stack Spark records on the execution).
"""
import math
import re

# ------------------------------------------------------------ percentiles


def percentile(xs, p):
    """The p-th percentile (0..100) of xs by linear interpolation between
    the closest ranks, the rule numpy calls 'linear'; None when xs is empty."""
    s = sorted(xs)
    if not s:
        return None
    k = (len(s) - 1) * p / 100.0
    lo = math.floor(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def median(xs):
    return percentile(xs, 50)


def geomean(xs):
    xs = [x for x in xs if x > 0]
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else None


# ------------------------------------------------------------ end to end

def end_to_end(workload, rec):
    """(metrics, attempted, failed) from the JVM's run record. The operation
    each workload times:

    - ingest-trickle: a file, from its due time to its arrival in
      processed/ (which follows its SUCCESS audit row); a file not
      completed by the end of the drain is failed;
    - analytics-mix: one query execution, one state update (vocab and
      bigrams) or one state serve (the served LM and NLL reads).
    """
    if workload == "ingest-trickle":
        ops, attempted = rec["latency_s"], rec["files"]
        failed = rec["files"] - rec["completed"]
    elif workload == "analytics-mix":
        ops = [s for _, s in rec["ops"]]
        attempted, failed = len(ops), 0
    else:
        raise ValueError(workload)
    # a run holds 10 to 12 operations: too few for a tail percentile (one
    # needs ten samples beyond it), so the tail shows through the mean
    m = {"setup_s": median(rec["setup_s"]),
         "latency_p50_s": median(ops),
         "latency_mean_s": sum(ops) / len(ops)}
    return m, attempted, failed


# ------------------------------------------------------------ attribution

_FRAME = re.compile(r"^\s*(?:at\s+)?graft\.([A-Za-z0-9_$.]+)\(")


def issuer(details):
    """The graft function that issued an execution: the innermost `graft.`
    frame of its recorded call stack, as `module.Object.function` with
    Scala's name mangling removed; None when no graft frame is present."""
    for line in (details or "").splitlines():
        m = _FRAME.match(line)
        if not m:
            continue
        parts = [p for p in re.split(r"[.$]", m.group(1)) if p]
        parts = [p for p in parts if p != "anonfun" and not p.isdigit()
                 and not p.startswith("lzycompute")]
        return ".".join(parts)
    return None


def layer(func):
    """Repository module of an issuing function: `pipeline.Sinks`,
    `streaming.FileWatch`, `operators.Similarity`, ..."""
    if not func or func == "unattributed":
        return "unattributed"
    if func.startswith("SparkEntry."):
        return "SparkEntry"
    parts = func.split(".")
    return ".".join(parts[:2]) if len(parts) > 1 else parts[0]


# pipeline stage of each issuing function (processGroup's own two counts
# are told apart by their order within the group: validate, then lineage)
STAGES = {
    "streaming.FileWatch.processBatch": "read",
    "pipeline.Sinks.writeQuarantine": "quarantine",
    "pipeline.IngestPipeline.ParquetSink.writeFact": "fact_write",
    "pipeline.IngestPipeline.ParquetSink.writeAgg": "stats",
    "pipeline.Sinks.writeAudit": "audit",
    "pipeline.Audit.write": "audit",
}


def stage_of(func, nth_own):
    if func == "pipeline.IngestPipeline.processGroup":
        return "validate" if nth_own == 0 else "lineage"
    for k, v in STAGES.items():
        if func and func.startswith(k):
            return v
    return None


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def parse(events):
    """Index a traced run's events: executions (with issuer, jobs and
    Catalyst phases), jobs, stages, spans, streaming progress and storage
    samples. The issuer comes from the stack the planning hook kept, or
    else from the call site Spark recorded. An execution that others ran
    nested inside (a micro-batch's foreachBatch) is a container: its time
    is its children's, so it is kept apart from the leaves."""
    ex, jobs, stages = {}, {}, {}
    spans, progress, storage = [], [], []
    for e in events:
        k = e["kind"]
        if k == "exec_start":
            ex[e["id"]] = {"id": e["id"], "start": e["t"], "end": e["t"], "desc": e["desc"],
                           "details": e["details"], "jobs": [], "root": e.get("root"),
                           "phases": {}}
        elif k == "exec_end" and e["id"] in ex:
            x = ex[e["id"]]
            x["end"] = e["t"]
            x["stack"] = e.get("stack")
            x["phases"] = {p: e.get(p, 0) for p in ("analysis", "optimization", "planning")}
        elif k == "job":
            jobs[e["id"]] = e
        elif k == "stage":
            stages[e["id"]] = e
        elif k == "span":
            spans.append(e)
        elif k == "progress":
            progress.append(e)
        elif k == "storage":
            storage.append(e["mb"])
    for j in jobs.values():
        if j.get("exec") in ex:
            ex[j["exec"]]["jobs"].append(j["id"])
    parents = {x["root"] for x in ex.values() if x["root"] not in (None, x["id"])}
    for x in ex.values():
        x["func"] = issuer(x.get("stack")) or issuer(x["details"])
    leaves = {i: x for i, x in ex.items() if i not in parents}
    return {"ex": leaves, "containers": len(ex) - len(leaves), "jobs": jobs,
            "stages": stages, "spans": spans, "progress": progress, "storage": storage}


def engine(idx, exs, ops):
    """Engine metrics over executions `exs`, per operation."""
    jobs = [idx["jobs"][j] for x in exs for j in x["jobs"]]
    stage_ids = {s for j in jobs for s in j["stages"]}
    st = [idx["stages"][s] for s in stage_ids if s in idx["stages"]]
    tot = lambda key: sum(s.get(key) or 0 for s in st)
    gap = 0.0
    for x in exs:
        covered = union_length([(idx["jobs"][j]["start"], idx["jobs"][j]["end"])
                                for j in x["jobs"]])
        gap += max(0.0, (x["end"] - x["start"]) - covered) / 1000.0
    ph = lambda p: sum(x["phases"].get(p, 0) for x in exs)
    per = lambda v: v / ops if ops else 0.0
    return {
        "spark.sql_executions": per(len(exs)),
        "spark.jobs": per(len(jobs)),
        "spark.stages": per(len(st)),
        "spark.tasks": per(tot("tasks")),
        "spark.executor_cpu_s": per(tot("cpu_ns") / 1e9),
        "spark.gc_s": per(tot("gc_ms") / 1e3),
        "spark.input_bytes": per(tot("in_bytes")),
        "spark.shuffle_read_bytes": per(tot("sr_bytes")),
        "spark.shuffle_write_bytes": per(tot("sw_bytes")),
        "spark.spill_bytes": per(tot("spill")),
        "spark.output_bytes": per(tot("out_bytes")),
        "spark.driver_gap_s": per(gap),
        "catalyst.analysis_ms": per(ph("analysis")),
        "catalyst.optimization_ms": per(ph("optimization")),
        "catalyst.planning_ms": per(ph("planning")),
        "storage.peak_mb": max(idx["storage"], default=0.0),
    }


def groups(exs):
    """Split a stream's executions into file groups: a group ends with its
    audit write. Returns lists of (execution, stage)."""
    out, cur, own = [], [], 0
    for x in sorted(exs, key=lambda x: (x["start"], x["id"])):
        f = x["func"]
        if f == "streaming.FileWatch.processBatch":
            continue
        st = stage_of(f, own)
        if f == "pipeline.IngestPipeline.processGroup":
            own += 1
        cur.append((x, st))
        if st == "audit":
            out.append(cur)
            cur, own = [], 0
    return out


def pipeline_metrics(idx, exs, files, rec):
    gs = groups(exs)
    n = len(gs) or 1
    stage_s = {k: 0.0 for k in ("read", "validate", "lineage", "quarantine",
                                "fact_write", "stats", "audit")}
    for x in exs:
        if x["func"] == "streaming.FileWatch.processBatch":
            stage_s["read"] += (x["end"] - x["start"]) / 1000.0
    group_s, group_gap, group_n = [], [], []
    for g in gs:
        for x, st in g:
            if st:
                stage_s[st] += (x["end"] - x["start"]) / 1000.0
        s0, s1 = g[0][0]["start"], g[-1][0]["end"]
        group_s.append((s1 - s0) / 1000.0)
        covered = union_length([(idx["jobs"][j]["start"], idx["jobs"][j]["end"])
                                for x, _ in g for j in x["jobs"]])
        group_gap.append((s1 - s0 - covered) / 1000.0)
        group_n.append(len(g))
    add_batch = sum(p["dur"].get("addBatch", 0) for p in idx["progress"]) / 1000.0
    m = {"pipeline.group_s": median(group_s) or 0.0,
         "pipeline.group_sql_executions": median(group_n) or 0.0,
         "pipeline.group_driver_gap_s": median(group_gap) or 0.0,
         # the batch's time outside its groups and the arrival read: file
         # moves, schema loads and per-batch bookkeeping
         "pipeline.move_s": max(0.0, add_batch - sum(group_s) - stage_s["read"]) / n,
         "pipeline.files_written": rec.get("files_written", 0) / max(files, 1)}
    for k, v in stage_s.items():
        m[f"pipeline.{k}_s"] = v / n
    return m


def filewatch_metrics(idx, rec):
    busy = [p for p in idx["progress"] if p["rows"] > 0]
    d = lambda k: median([p["dur"].get(k, 0) for p in busy]) or 0.0
    lat = rec.get("generator_lateness_ms") or [0.0]
    return {"filewatch.batches": len(busy),
            "filewatch.files_per_batch_p50": median([p["rows"] for p in busy]) or 0.0,
            "filewatch.latest_offset_ms": d("latestOffset"),
            "filewatch.get_batch_ms": d("getBatch"),
            "filewatch.add_batch_ms": d("addBatch"),
            "filewatch.wal_commit_ms": d("walCommit"),
            "filewatch.backlog_max_files": rec.get("backlog_max_files", 0),
            "filewatch.generator_lag_ms": max(lat)}


def in_span(x, s):
    return s["start_ms"] <= x["start"] <= s["end_ms"]


# graft calls whose returned frame the benchmark itself executes
SPAN_CALLS = {"state.serve_lm": "streaming.CorpusStateStream.lmScoreAgainstState",
              "state.serve_nll": "streaming.CorpusStateStream.bigramNllAgainstState"}


def span_call(idx, x):
    """For an execution with no graft frame, the graft call whose result
    the benchmark was executing: the query or served read of the span that
    holds it."""
    for s in idx["spans"]:
        if in_span(x, s):
            if s["name"] == "query":
                return f"SparkEntry.{s['query']}"
            if s["name"] in SPAN_CALLS:
                return SPAN_CALLS[s["name"]]
    return "unattributed"


def _spanned(idx, spans):
    return [x for x in idx["ex"].values() if any(in_span(x, s) for s in spans)]


def op_times(rec, name):
    return [s for n, s in rec.get("ops", []) if n == name]


def operator_metrics(idx, rec, queries):
    m = {}
    qspans = [s for s in idx["spans"] if s["name"] == "query"]
    for q in queries:
        ss = [s for s in qspans if s.get("query") == q]
        exs = _spanned(idx, ss)
        runs = len(ss) or 1
        plan = sum(sum(x["phases"].values()) for x in exs)
        m[f"query.{q}.s"] = median(op_times(rec, q)) or 0.0
        m[f"query.{q}.jobs"] = sum(len(x["jobs"]) for x in exs) / runs
        m[f"query.{q}.plan_ms"] = plan / runs
    m["query.geomean_s"] = geomean([m[f"query.{q}.s"] for q in queries]) or 0.0
    return m


def state_metrics(idx, rec):
    up = [s for s in idx["spans"] if s["name"].startswith("state.update_")]
    exs = _spanned(idx, up)
    n = len(op_times(rec, "state.update")) or 1
    probes = [x for x in exs if (x["desc"] or "").startswith("count at")]
    return {"state.update_jobs": sum(len(x["jobs"]) for x in exs) / n,
            "state.probe_counts": len(probes) / n,
            "state.ledger_files": rec["ledger_files"],
            "state.delta_rows_before_fold": rec["fold_rows_before"],
            "state.fold_s": rec["fold_s"],
            "state.forget_s": rec["forget_s"],
            "state.dir_bytes": rec["state_bytes"],
            "state.update_p50_s": median(op_times(rec, "state.update")) or 0.0,
            "state.serve_p50_s": median(op_times(rec, "state.serve")) or 0.0}


def per_layer(workload, rec, events, names, queries):
    """Every per-layer metric in `names` (0 where the workload does not
    exercise the layer) from a traced run's events, and the executions,
    jobs and execution time of each issuing graft function."""
    idx = parse(events)
    # the executions of the window, not of the output checks after it
    window = [s for s in idx["spans"] if s["name"] == "window"]
    idx["ex"] = {i: x for i, x in idx["ex"].items() if any(in_span(x, s) for s in window)}
    exs = list(idx["ex"].values())
    ops = rec["completed"] if workload == "ingest-trickle" else len(rec["ops"])
    m = {k: 0.0 for k in names}
    m.update(engine(idx, exs, ops))
    if workload == "ingest-trickle":
        m.update(filewatch_metrics(idx, rec))
        m.update(pipeline_metrics(idx, exs, ops, rec))
    else:
        m.update(operator_metrics(idx, rec, queries))
        m.update(state_metrics(idx, rec))
    by_func = {}
    for x in exs:
        func = x["func"] or span_call(idx, x)
        f = by_func.setdefault(func, {"layer": layer(func), "executions": 0, "jobs": 0,
                                      "exec_s": 0.0})
        f["executions"] += 1
        f["jobs"] += len(x["jobs"])
        f["exec_s"] += (x["end"] - x["start"]) / 1000.0
    return {k: m[k] for k in names}, by_func
