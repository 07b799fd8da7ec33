"""Aggregation of one benchmark JVM's raw samples into metrics."""
import math

# modules with per-layer metrics: the program's query modules that some
# workload calls, plus the snapshot table format
MODULES = ["FilterQueries", "AggQueries", "JoinQueries", "WindowQueries",
           "SetQueries", "ScalarQueries", "UdfQueries", "LlmQueries",
           "TextQueries", "SimilarityQueries", "MultimodalQueries",
           "PipelineQueries", "SqlQueries", "TimeSeriesQueries",
           "StreamingQueries", "SnapshotTable"]
STREAM_DURATIONS = ["addBatch", "walCommit", "commitOffsets",
                    "queryPlanning", "latestOffset"]
# a reported percentile has at least this many samples above it; a run
# is sized for p80 (50 jobs), the highest percentile the time budget allows
BEYOND = 10


def min_samples(q, beyond=BEYOND):
    """Smallest n for which the nearest-rank q-quantile has at least
    `beyond` samples above it."""
    n = math.ceil(beyond / (1.0 - q) - 1e-9)
    while n - math.ceil(q * n - 1e-9) < beyond:
        n += 1
    return n


def percentile(values, q, beyond=BEYOND):
    """Nearest-rank q-quantile; None unless `beyond` samples lie above
    it (a tail estimate from fewer samples is not reported)."""
    xs = sorted(values)
    if len(xs) < min_samples(q, beyond):
        return None
    return xs[max(0, math.ceil(q * len(xs) - 1e-9) - 1)]


def union_length(intervals, lo, hi):
    """Total length of the union of intervals clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals
                       if min(e, hi) > max(s, lo)):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def attach_engine_spans(spans):
    """Give stage and micro-batch spans a parent: the call, action or
    write span (of their job group if they carry one) in which they
    started."""
    phases = [s for s in spans if s["kind"] in ("call", "action", "write")]
    by_group = {}
    for s in phases:
        by_group.setdefault(s["group"], []).append(s)
    for s in spans:
        if s["kind"] in ("stage", "batch") and not s["parent"]:
            cands = by_group.get(s["group"], phases)
            owner = [p for p in cands if p["start"] <= s["start"] <= p["end"]]
            if owner:
                s["parent"] = owner[0]["id"]
    return spans


def self_times(spans):
    """{span id: duration minus the union of its children's intervals}."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"]) -
            union_length(kids.get(s["id"], []), s["start"], s["end"])
            for s in spans}


def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def aggregate(setup, r, traced):
    """setup seconds + the JVM's result -> metrics, counts, notes."""
    jobs = r["jobs"]    # [module, name, call_s, action_s, ok, traced, pass]
    writes = r["writes"]  # [kind, seconds, ok, traced]
    failed = (sum(1 for j in jobs if not j[4]) +
              sum(1 for w in writes if not w[2]) + r["warmup_failed"])
    out = {"attempted": len(jobs) + len(writes) + r["warmup_jobs"],
           "failed": failed, "failures": r["failures"], "problems": [],
           "notes": ["pass_s " + " ".join(f"{p[2]:.2f}" for p in r["passes"])]}
    if traced:
        out["metrics"], out["spans"], out["self_s"] = per_layer(
            r, out["notes"], out["problems"])
        return out
    lat = [j[2] + j[3] for j in jobs]
    p50, p80 = percentile(lat, 0.5), percentile(lat, 0.8)
    if p80 is None:
        out["problems"].append(f"only {len(lat)} timed jobs; p80 needs "
                               f"{min_samples(0.8)}")
    out["metrics"] = {
        "setup_s": (setup, "s"),
        "job_p50_s": (p50 or 0.0, "s"),
        "job_p80_s": (p80 or 0.0, "s"),
        "jobs_per_s": (len(jobs) / r["timed_s"], "1/s"),
        "retained_heap_mb": (r["retained_heap_mb"], "MB")}
    out["notes"].append(f"timed jobs: {len(lat)}")
    by_job = {}
    for j in jobs:
        by_job.setdefault(f"{j[0]}.{j[1]}", []).append(j)
    for k, js in sorted(by_job.items()):
        out["notes"].append(
            f"job {k}: n={len(js)} call={_mean([j[2] for j in js]):.4f} s"
            f" action={_mean([j[3] for j in js]):.4f} s")
    return out


def per_layer(r, notes, problems):
    """Per-layer metrics of a traced run, from its traced passes. A layer
    the workload uses but no traced pass sampled is a problem, not 0."""
    keys = ("id", "parent", "kind", "name", "start", "end", "group")
    spans = attach_engine_spans([dict(zip(keys, s)) for s in r["spans"]])
    st = self_times(spans)
    byid = {s["id"]: s for s in spans}
    # module self time per job: call + action minus the engine spans
    # (stages, micro-batches) under them
    per_job = {}
    for s in spans:
        job = byid.get(s["parent"])
        if s["kind"] in ("call", "action") and job is not None:
            key = (s["name"], job["id"])
            per_job[key] = per_job.get(key, 0.0) + st[s["id"]] / 1e3
    self_s = {}
    for (mod, _), v in per_job.items():
        self_s.setdefault(mod, []).append(v)

    tjobs = [j for j in r["jobs"] if j[5]]
    for mod in sorted({j[0] for j in r["jobs"]} - {j[0] for j in tjobs}):
        problems.append(f"{mod}: no traced job")
    m = {"session.start_s": (r["start_s"], "s"),
         "session.warmup_s": (r["warmup_s"], "s"),
         "session.peak_rss_mb": (r["rss_mb"], "MB")}
    for mod in MODULES:
        js = [j for j in tjobs if j[0] == mod]
        m[f"{mod}.call_s"] = (_mean([j[2] for j in js]), "s")
        m[f"{mod}.action_s"] = (_mean([j[3] for j in js]), "s")
        m[f"{mod}.self_s"] = (_mean(self_s.get(mod, [])), "s")
        m[f"{mod}.jobs"] = (len(js), "count")
        m[f"{mod}.failed"] = (sum(1 for j in js if not j[4]), "count")

    # engine counters: per traced job, except the per-task wait and the
    # busy fraction of the Spark task slots over the traced passes
    e = r["engine"]
    n = max(1, len(tjobs))
    traced_wall = sum(p[2] for p in r["passes"] if p[1])
    m.update({
        "engine.stages": (e["stages"] / n, "count"),
        "engine.tasks": (e["tasks"] / n, "count"),
        "engine.task_run_s": (e["task_run_ms"] / 1e3 / n, "s"),
        "engine.task_cpu_s": (e["task_cpu_ns"] / 1e9 / n, "s"),
        "engine.gc_s": (e["gc_ms"] / 1e3 / n, "s"),
        "engine.scheduler_wait_s": (
            e["scheduler_wait_ms"] / 1e3 / max(1, e["tasks"]), "s"),
        "engine.cpu_busy_frac": (
            e["task_cpu_ns"] / 1e9 / max(1e-9, traced_wall * r["cores"]),
            "frac"),
        "engine.input_bytes": (e["input_bytes"] / n, "B"),
        "engine.input_records": (e["input_records"] / n, "count"),
        "engine.shuffle_write_bytes": (e["shuffle_write_bytes"] / n, "B"),
        "engine.shuffle_read_bytes": (e["shuffle_read_bytes"] / n, "B"),
        "engine.spill_bytes": (e["spill_bytes"] / n, "B"),
        "engine.output_bytes": (e["output_bytes"] / n, "B")})

    # streaming: per replay job and per micro-batch
    s = r["stream"]
    nb = max(1, s["batches"])
    nreplay = sum(1 for j in tjobs if j[0] == "StreamingQueries")
    if nreplay and not s["batches"]:
        problems.append("StreamingQueries: no traced micro-batch")
    nreplay = max(1, nreplay)
    m["StreamingQueries.batches"] = (s["batches"] / nreplay, "count")
    for k in STREAM_DURATIONS:
        m[f"StreamingQueries.{k}_s"] = (s[f"{k}_ms"] / 1e3 / nb, "s")
    m["StreamingQueries.state_rows"] = (s["state_rows"] / nb, "count")
    m["StreamingQueries.state_mem_bytes"] = (s["state_mem_bytes"] / nb, "B")
    m["StreamingQueries.state_commit_s"] = (
        s["state_commit_ms"] / 1e3 / nb, "s")

    # snapshot table writes (per kind: mean, max, count) and reads
    ing = r.get("ingest")
    for kind, plural in (("append", "appends"), ("compact", "compactions")):
        tw = [w[1] for w in r["writes"] if w[3] and w[0] == kind]
        if ing and not tw:
            problems.append(f"SnapshotTable: no traced {kind}")
        m[f"SnapshotTable.{kind}_s"] = (_mean(tw), "s")
        m[f"SnapshotTable.{kind}_max_s"] = (max(tw, default=0.0), "s")
        m[f"SnapshotTable.{plural}"] = (len(tw), "count")
    appended = m["SnapshotTable.appends"][0]
    m.update({
        "SnapshotTable.read_s": (
            _mean([j[2] + j[3] for j in tjobs if j[0] == "SnapshotTable"]), "s"),
        "SnapshotTable.commits": (ing["commits"] if ing else 0, "count"),
        "SnapshotTable.files_per_version": (
            ing["files_latest"] if ing else 0, "count"),
        "SnapshotTable.stored_bytes_per_input_byte": (
            ing["stored_bytes"] / max(1, ing["user_bytes"]) if ing else 0.0,
            "ratio"),
        "SnapshotTable.ingest_rows_per_s": (
            (appended * ing["batch_rows"] + s["input_rows"]) /
            max(1e-9, traced_wall) if ing else 0.0, "1/s")})

    traced_p = [p[2] for p in r["passes"] if p[1]]
    plain_p = [p[2] for p in r["passes"] if p[0] >= 1 and not p[1]]
    over = (_mean(traced_p) / _mean(plain_p) - 1.0
            if traced_p and plain_p else 0.0)
    m["trace.overhead_frac"] = (over, "frac")
    m["trace.spans"] = (len(spans), "count")
    notes.append(f"trace overhead: traced passes {_mean(traced_p):.3f} s, "
                 f"untraced {_mean(plain_p):.3f} s ({over:+.1%})")
    for mod, v in sorted(self_s.items()):
        notes.append(f"self time {mod}: {_mean(v):.4f} s per job")
    return m, spans, {k: _mean(v) for k, v in self_s.items()}
