"""The benchmark's arithmetic: summaries, span self time, job attribution,
and the end-to-end and per-layer metrics computed from one raw run record.

The raw record is what `graftbench.Main` writes: set-up times, one entry
per timed operation, run-level checks and, in a traced run, spans and
jobs. Nothing here talks to the engine.
"""
import math

# Engine modules (packages under `graft.`) and the benchmark's own phases.
# `transform` and `dedup` are left out: their calls only extend a plan, so
# they start no job of their own and their work runs inside other layers'
# jobs, where neither a span nor a call site can tell it apart.
ENGINE_LAYERS = ["sources", "schemes", "stream", "text", "ann", "operators", "queries"]
PHASE_LAYERS = ["plans", "exec"]
LAYERS = ENGINE_LAYERS + PHASE_LAYERS

# What one operation is, per workload: (op kind timed for op_p50_ms, its
# field).
WORKLOAD_OPS = {
    "train_stream": ("epoch", "epoch_ms"),
    "curate_corpus": ("pass", "total_ms"),
    "ann_index": ("probe", "probe_ms"),
    "query_mix": ("pass", "total_ms"),
}

END_TO_END = [("setup_s", "s"), ("op_p50_ms", "ms"), ("peak_rss_mb", "MB")]

EXEC_COUNTERS = [("stages", "stages", "count", 1), ("tasks", "tasks", "count", 1),
                 ("task_run_s", "run_ms", "s", 1e-3), ("gc_s", "gc_ms", "s", 1e-3),
                 ("shuffle_read_mb", "shuffle_read", "MB", 1 / 2**20),
                 ("shuffle_write_mb", "shuffle_write", "MB", 1 / 2**20),
                 ("spill_mb", "spill", "MB", 1 / 2**20),
                 ("input_mb", "input", "MB", 1 / 2**20),
                 ("output_mb", "output", "MB", 1 / 2**20)]


def per_layer_names():
    """Every per-layer metric as (name, unit), in report order."""
    out = []
    for layer in LAYERS:
        out += [(f"{layer}.calls", "count"), (f"{layer}.wall_ms", "ms"),
                (f"{layer}.self_ms", "ms"), (f"{layer}.jobs", "count"),
                (f"{layer}.task_cpu_s", "s")]
    out += [(f"exec.{name}", unit) for name, _, unit, _ in EXEC_COUNTERS]
    out += [("exec.peak_exec_mem_mb", "MB"), ("queries.construct_jobs", "count"),
            ("plans.plan_ms", "ms"), ("stream.first_batch_jobs", "count"),
            ("stream.fetch_jobs_per_epoch", "count"), ("stream.fetch_wait_s", "s"),
            ("ann.probe_jobs", "count"), ("ann.probe_input_mb", "MB"),
            ("ann.append_jobs", "count"), ("ann.append_bytes_written", "bytes"),
            ("ann.index_files", "count"), ("cache.rdds_live_after", "count"),
            ("cache.mb_live_after", "MB"), ("jobs.unattributed", "count"),
            ("traced.setup_s", "s"), ("overhead.op_p50_ms", "ratio")]
    return out


# ---------------------------------------------------------------- summaries

def median(xs):
    """Median of a non-empty sequence (mean of the middle two when even)."""
    s = sorted(xs)
    if not s:
        raise ValueError("median of no samples")
    m = len(s) // 2
    return s[m] if len(s) % 2 else (s[m - 1] + s[m]) / 2


def percentile(xs, p):
    """Nearest-rank percentile: the smallest sample with at least p% of the
    samples at or below it."""
    s = sorted(xs)
    if not s:
        raise ValueError("percentile of no samples")
    rank = max(1, math.ceil(p / 100 * len(s)))
    return s[rank - 1]


def tail_percentile(n):
    """The highest of p90/p99/p99.9 with at least ten samples beyond it in
    `n` samples, or None when even p90 has fewer."""
    best = None
    for permille in (900, 990, 999):
        if n * (1000 - permille) >= 10 * 1000:
            best = permille / 10
    return best


def fail_ratio(attempted, failed):
    """Operations failed over operations attempted."""
    if attempted <= 0:
        raise ValueError("no operation attempted")
    return failed / attempted


# -------------------------------------------------------------------- spans

def self_times(spans):
    """Self time (ns) of each span: its duration minus the part of it that
    its direct children cover. Children of one thread never overlap, but
    the union is taken anyway so that overlapping children count once."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered, end = 0, s["start_ns"]
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start_ns"]):
            lo, hi = max(c["start_ns"], end, s["start_ns"]), min(c["end_ns"], s["end_ns"])
            if hi > lo:
                covered += hi - lo
            end = max(end, c["end_ns"])
        out[s["id"]] = (s["end_ns"] - s["start_ns"]) - covered
    return out


# --------------------------------------------------------- job attribution

def frame_module(frame):
    """(module, file) of one call-site frame such as
    `graft.sources.PrefixSum$.withPrefixSumTotal(PrefixSum.scala:62)`.
    Engine classes in a subpackage map to that subpackage; classes directly
    in `graft` map to `graft`; benchmark classes map to `bench`; anything
    else is None."""
    head, _, rest = frame.partition("(")
    file = rest.split(":")[0].rstrip(")") or None
    parts = head.split(".")
    if parts[0] == "graftbench":
        return "bench", file
    if parts[0] != "graft" or len(parts) < 3:
        return None, None
    return (parts[1] if len(parts) > 3 else "graft"), file


def site_modules(site):
    """Engine modules on a job's call site, innermost first, each once, and
    the innermost engine file (None when no engine frame)."""
    mods, first_file, bench = [], None, False
    for frame in filter(None, site.split("\n")):
        mod, file = frame_module(frame.strip())
        if mod == "bench":
            bench = True
        elif mod is not None:
            if first_file is None:
                first_file = file
            if mod not in mods:
                mods.append(mod)
    return mods, first_file, bench


def job_layers(job, span_layer):
    """The layers a job counts towards: every engine module on its call site
    (inclusive, like a profiler's inclusive time); a job with no engine
    frame counts towards the layer of the span it was submitted under."""
    mods, _, _ = site_modules(job["site"])
    if mods:
        return mods
    layer = span_layer.get(job["span"])
    return [layer] if layer else []


# ------------------------------------------------------------------ metrics

def end_to_end(rec, ops=None):
    """The end-to-end metrics of one run record (or of a subset of its ops),
    with the workload-specific figures the report prints beside them."""
    wl = rec["workload"]
    kind, field = WORKLOAD_OPS[wl]
    ops = rec["ops"] if ops is None else ops
    timed = [o for o in ops if o["kind"] == kind and o["ok"]]
    lat = [o["fields"][field] for o in timed]
    out = {
        "setup_s": (median(rec["setup_s"]), len(rec["setup_s"])),
        "op_p50_ms": (median(lat) if lat else float("nan"), len(lat)),
        "peak_rss_mb": (rec["peak_rss_kb"] / 1024, 1),
    }
    tail = tail_percentile(len(lat))
    if tail is not None:
        out[f"op_p{tail:g}_ms"] = (percentile(lat, tail), len(lat))
    attempted = len(ops) + len(rec.get("checks", []))
    failed = sum(not o["ok"] for o in ops) + sum(not c["ok"] for c in rec.get("checks", []))
    specific = {"fail_ratio": (fail_ratio(attempted, failed), attempted, "ratio")}

    def med(kind_, f, scale=1.0, unit="ms"):
        xs = [o["fields"][f] * scale for o in ops if o["kind"] == kind_ and o["ok"]]
        return (median(xs) if xs else float("nan"), len(xs), unit)

    if wl == "train_stream":
        specific["stream.first_batch_s"] = med("epoch", "first_batch_ms", 1e-3, "s")
        ex = [o["fields"]["examples"] / (o["fields"]["epoch_ms"] / 1e3) for o in timed]
        specific["stream.examples_per_s"] = (median(ex), len(ex), "1/s")
    elif wl == "curate_corpus":
        docs = [o["fields"]["docs"] / (o["fields"]["total_ms"] / 1e3) for o in timed]
        specific["curate.docs_per_s"] = (median(docs), len(docs), "1/s")
    elif wl == "ann_index":
        specific["ann.probe_ms_p50"] = med("probe", "probe_ms")
        specific["ann.append_ms_p50"] = med("append", "append_ms")
        specific["ann.recall_at_10"] = (rec["repeatable"]["recall_at_10"], 1, "ratio")
    elif wl == "query_mix":
        specific["mix.total_s"] = med("pass", "total_ms", 1e-3, "s")
    return out, specific, attempted, failed


def per_layer(rec):
    """Per-layer metrics of a traced run record. Layer totals are means per
    traced timed operation, so runs of different lengths compare."""
    spans = rec["spans"]
    ops = {o["i"]: o for o in rec["ops"]}
    traced_ops = [o for o in rec["ops"] if o["traced"]]
    n = max(1, len(traced_ops))
    timed_spans = [s for s in spans if s["op"] in ops]
    selfs = self_times(spans)
    span_by_id = {s["id"]: s for s in spans}
    # span ids are unique across the run's SparkContexts; job ids are not
    span_layer = {i: s["layer"] for i, s in span_by_id.items()}
    job_op = {(j["ctx"], j["id"]): span_by_id[j["span"]]["op"] if j["span"] in span_by_id
              else None for j in rec["jobs"]}
    timed_jobs = [j for j in rec["jobs"] if job_op[(j["ctx"], j["id"])] in ops]
    m = {}
    for layer in LAYERS:
        ls = [s for s in timed_spans if s["layer"] == layer]
        m[f"{layer}.calls"] = len(ls) / n
        m[f"{layer}.wall_ms"] = sum(s["end_ns"] - s["start_ns"] for s in ls) / 1e6 / n
        m[f"{layer}.self_ms"] = sum(selfs[s["id"]] for s in ls) / 1e6 / n
        lj = [j for j in timed_jobs if layer in job_layers(j, span_layer)]
        m[f"{layer}.jobs"] = len(lj) / n
        m[f"{layer}.task_cpu_s"] = sum(j["cpu_ns"] for j in lj) / 1e9 / n
    exec_jobs = [j for j in timed_jobs if span_layer.get(j["span"]) == "exec"]
    for name, key, _, scale in EXEC_COUNTERS:
        m[f"exec.{name}"] = sum(j[key] for j in exec_jobs) * scale / n
    m["exec.jobs"] = len(exec_jobs) / n
    m["exec.task_cpu_s"] = sum(j["cpu_ns"] for j in exec_jobs) / 1e9 / n
    m["exec.peak_exec_mem_mb"] = max([j["peak_exec_mem"] for j in exec_jobs], default=0) / 2**20
    construct = {s["id"] for s in timed_spans if s["layer"] not in PHASE_LAYERS
                 and s["name"] not in ("next", "Ann.appendPqBatch")}
    m["queries.construct_jobs"] = sum(j["span"] in construct for j in timed_jobs) / n
    plans = [sum((s["end_ns"] - s["start_ns"]) / 1e6 for s in timed_spans
                 if s["layer"] == "plans" and s["op"] == o["i"]) for o in traced_ops]
    m["plans.plan_ms"] = median(plans) if plans else 0.0

    # stream: the first `next` of an epoch is the first batch, the rest fetch
    first_next, later_next = set(), set()
    seen = set()
    for s in sorted(timed_spans, key=lambda s: s["start_ns"]):
        if s["layer"] == "stream" and s["name"] == "next":
            (later_next if s["op"] in seen else first_next).add(s["id"])
            seen.add(s["op"])
    first_batch = first_next | {s["id"] for s in timed_spans if s["name"] == "epochIterator"}
    epochs = max(1, sum(o["kind"] == "epoch" for o in traced_ops))
    m["stream.first_batch_jobs"] = sum(j["span"] in first_batch for j in timed_jobs) / epochs
    m["stream.fetch_jobs_per_epoch"] = sum(j["span"] in later_next for j in timed_jobs) / epochs
    m["stream.fetch_wait_s"] = sum(selfs[i] for i in later_next) / 1e9 / epochs

    def kind_jobs(kind):
        ids = {o["i"] for o in traced_ops if o["kind"] == kind}
        js = [j for j in timed_jobs if job_op[(j["ctx"], j["id"])] in ids]
        return js, max(1, len(ids))
    pj, pn = kind_jobs("probe")
    aj, an = kind_jobs("append")
    m["ann.probe_jobs"] = len(pj) / pn
    m["ann.probe_input_mb"] = sum(j["input"] for j in pj) / 2**20 / pn
    m["ann.append_jobs"] = len(aj) / an
    m["ann.append_bytes_written"] = sum(j["output"] for j in aj) / an
    m["ann.index_files"] = rec["extra"].get("index_files", 0)
    cache = [c for c in rec["cache"] if c["op"] in ops]
    m["cache.rdds_live_after"] = sum(c["rdds"] for c in cache) / max(1, len(cache))
    m["cache.mb_live_after"] = sum(c["bytes"] for c in cache) / 2**20 / max(1, len(cache))
    sites = [site_modules(j["site"]) for j in timed_jobs]
    m["jobs.unattributed"] = sum(not mods and not bench for mods, _, bench in sites) / n
    m["traced.setup_s"] = median(rec["setup_s"])
    traced, _, _, _ = end_to_end(rec, [o for o in rec["ops"] if o["traced"]])
    plain, _, _, _ = end_to_end(rec, [o for o in rec["ops"] if not o["traced"]])
    m["overhead.op_p50_ms"] = traced["op_p50_ms"][0] / plain["op_p50_ms"][0] - 1
    return m


def jobs_by_file(rec):
    """Job count per timed operation, by innermost engine file on the job's
    call site: the trace's breakdown of which code starts jobs."""
    ops = {o["i"] for o in rec["ops"] if o["traced"]}
    span_op = {s["id"]: s["op"] for s in rec["spans"]}
    out = {}
    for j in rec["jobs"]:
        if span_op.get(j["span"]) not in ops:
            continue
        _, file, bench = site_modules(j["site"])
        key = file or ("benchmark" if bench else "unattributed")
        out[key] = out.get(key, 0) + 1 / max(1, len(ops))
    return dict(sorted(out.items(), key=lambda kv: -kv[1]))
