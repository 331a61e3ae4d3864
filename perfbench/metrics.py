"""Turns a harness run's raw observations into the benchmark's metrics.

Times in the raw record are epoch milliseconds on one clock shared by the
harness's own spans and Spark's listener events. Timed passes have
pass >= 0; setups have negative pass numbers and are never measured here.
"""
from collections import defaultdict

from stats import core_busy_share, driver_gap_ms, geometric_mean, highest_percentile, median

E2E = {"setup_s": "s", "pass_s": "s", "latency_p50_ms": "ms"}

LAYER = {
    "ops.build_ms": "ms", "ops.build_jobs": "count",
    "spark.plan_ms": "ms", "spark.driver_gap_ms": "ms", "spark.exec_ms": "ms",
    "spark.jobs": "count", "spark.tasks": "count", "spark.task_busy_ms": "ms",
    "spark.core_busy_share": "ratio", "spark.shuffle_bytes": "bytes",
    "spark.input_bytes": "bytes", "spark.spill_bytes": "bytes", "spark.gc_ms": "ms",
    "streaming.trigger_ms": "ms", "streaming.planning_ms": "ms",
    "streaming.commit_ms": "ms", "streaming.state_commit_ms": "ms",
    "streaming.nodata_trigger_ms": "ms", "streaming.nodata_triggers": "count",
    "streaming.add_batch_ms": "ms", "streaming.state_rows": "count",
    "streaming.state_bytes": "bytes", "sink.upsert_ms": "ms", "sink.rows": "count",
    "sink.empty_calls": "count", "streaming.dropped_late_rows": "count",
    "streaming.malformed_rows": "count", "streaming.generator_lag_ms": "ms",
}


def is_stream(raw):
    return "chunks" in raw


def timed(records):
    return [r for r in records if r["pass"] >= 0]


def landed_chunks(raw):
    """Per timed chunk: (pass, due, added, landed), where landed is the end
    of the sink call of the micro-batch that read the chunk's offset."""
    batch_of = {}
    for pr in raw["progress"]:
        if pr["input_rows"] > 0:
            for off in range(pr["start_offset"] + 1, pr["end_offset"] + 1):
                batch_of[(pr["pass"], off)] = pr["batch"]
    sink_end = {(c["pass"], c["batch"]): c["end"] for c in raw["sink_calls"]}
    out = []
    for c in timed(raw["chunks"]):
        batch = batch_of[(c["pass"], c["offset"])]
        out.append((c["pass"], c["due"], c["added"], sink_end[(c["pass"], batch)]))
    return out


def pass_windows(raw):
    """pass -> (start, end) in ms. A batch pass spans its query list; a
    stream pass runs from its first chunk's due time to its last landing."""
    if not is_stream(raw):
        return {p["pass"]: (p["start"], p["end"]) for p in timed(raw["passes"])}
    win = {}
    for p, due, _, landed in landed_chunks(raw):
        s, e = win.get(p, (due, landed))
        win[p] = (min(s, due), max(e, landed))
    return win


def latency_samples(raw):
    if is_stream(raw):
        return [landed - due for _, due, _, landed in landed_chunks(raw)]
    return [o["end"] - o["start"] for o in timed(raw["ops"])]


def typical_latency_ms(raw):
    """Stream: the median chunk latency. Batch: the geometric mean over the
    query list of each query's median latency. The median of all (query,
    pass) samples would fall in the gap between the list's short and long
    queries, so which query sits at it would set the figure."""
    if is_stream(raw):
        return median(latency_samples(raw))
    by_query = defaultdict(list)
    for o in timed(raw["ops"]):
        by_query[o["name"]].append(o["end"] - o["start"])
    return geometric_mean([median(v) for v in by_query.values()])


def end_to_end(raw):
    windows = pass_windows(raw)
    return {
        "setup_s": median(raw["setup_s"]),
        "pass_s": median([(e - s) / 1000.0 for s, e in windows.values()]),
        "latency_p50_ms": typical_latency_ms(raw),
    }


def stream_counts(raw):
    """pass -> (late rows dropped, malformed rows) as the engine reported."""
    out = defaultdict(lambda: [0, 0])
    for pr in raw["progress"]:
        out[pr["pass"]][0] += pr["dropped_late"]
        out[pr["pass"]][1] += pr["malformed"]
    return {p: tuple(v) for p, v in out.items()}


def summary(raw):
    """Figures printed beside the metrics: sample counts, every timed pass,
    the highest tail percentile the sample supports and the failure ratio."""
    lat = latency_samples(raw)
    tail = highest_percentile(lat)
    out = {"latency_samples": len(lat),
           "passes_s": [(e - s) / 1000.0 for _, (s, e) in sorted(pass_windows(raw).items())],
           "failed_ratio": len(raw["failures"]) / raw["attempted"]}
    if tail:
        out[f"latency_p{tail[0] * 100:g}_ms"] = tail[1]
    if not is_stream(raw):
        out["query_p50_s"] = median(lat) / 1000.0
    return out


def per_layer(raw):
    """Median over timed passes of each per-pass layer figure."""
    jobs = raw["trace"]["jobs"]
    plans = raw["trace"]["plans"]
    windows = pass_windows(raw)
    chunks = landed_chunks(raw) if is_stream(raw) else []
    rows = []
    for p, (lo, hi) in sorted(windows.items()):
        pj = [j for j in jobs if j["span"].startswith(f"p{p}/")]
        build_jobs = [j for j in pj if j["span"].endswith("/build")]
        ops = [o for o in raw["ops"] if o["pass"] == p]
        if is_stream(raw):
            actions = [(c["start"], c["end"], f"p{p}/b{c['batch']}/sink")
                       for c in raw["sink_calls"] if c["pass"] == p]
        else:
            actions = [(o["built"], o["end"], f"p{p}/{o['name']}/action") for o in ops]
        exec_ms = gap_ms = 0.0
        action_jobs = []
        for s, e, span in actions:
            js = [j for j in pj if j["span"] == span]
            action_jobs += js
            gap = driver_gap_ms(s, e, [(j["start"], j["end"]) for j in js])
            exec_ms += (e - s) - gap
            gap_ms += gap
        busy = sum(j["busy_ms"] for j in pj)
        r = {
            "ops.build_ms": sum(o["built"] - o["start"] for o in ops),
            "ops.build_jobs": len(build_jobs),
            "spark.plan_ms": sum(pl["plan_ms"] for pl in plans
                                 if any(s <= pl["start"] <= e for s, e, _ in actions)),
            "spark.driver_gap_ms": gap_ms,
            "spark.exec_ms": exec_ms,
            "spark.jobs": len(action_jobs),
            "spark.tasks": sum(j["tasks"] for j in pj),
            "spark.task_busy_ms": busy,
            "spark.core_busy_share": core_busy_share(busy, hi - lo, raw["cores"]),
            "spark.shuffle_bytes": sum(j["shuffle_bytes"] for j in pj),
            "spark.input_bytes": sum(j["input_bytes"] for j in pj),
            "spark.spill_bytes": sum(j["spill_bytes"] for j in pj),
            "spark.gc_ms": sum(j["gc_ms"] for j in pj),
        }
        r.update(stream_layers(raw, p, lo, chunks) if is_stream(raw)
                 else {k: 0 for k in LAYER if k.split(".")[0] in ("streaming", "sink")})
        rows.append(r)
    return {k: median([r[k] for r in rows]) for k in LAYER}


def pass_triggers(raw, p, start):
    """Triggers of pass p that started with or after its first chunk (the
    primer's triggers come before)."""
    return [pr for pr in raw["progress"] if pr["pass"] == p and pr["start"] >= start - 1]


def stream_layers(raw, p, start, chunks):
    prog = [pr for pr in raw["progress"] if pr["pass"] == p]
    trig = pass_triggers(raw, p, start)
    data = [pr for pr in trig if pr["input_rows"] > 0]
    nodata = [pr for pr in trig if pr["input_rows"] == 0]
    dur = lambda pr, k: pr["duration_ms"].get(k, 0)
    data_batches = {pr["batch"] for pr in data}
    calls = [c for c in raw["sink_calls"] if c["pass"] == p and c["start"] >= start - 1]
    input_batches = {pr["batch"] for pr in prog if pr["input_rows"] > 0}
    dropped, malformed = stream_counts(raw)[p]
    return {
        "streaming.trigger_ms": median([dur(pr, "triggerExecution") for pr in data]),
        "streaming.planning_ms": median([dur(pr, "queryPlanning") for pr in data]),
        "streaming.commit_ms": median(
            [dur(pr, "walCommit") + dur(pr, "commitOffsets") for pr in data]),
        "streaming.state_commit_ms": median([pr["state_commit_ms"] for pr in data]),
        "streaming.nodata_trigger_ms": sum(dur(pr, "triggerExecution") for pr in nodata),
        "streaming.nodata_triggers": len(nodata),
        "streaming.add_batch_ms": median([dur(pr, "addBatch") for pr in data]),
        "streaming.state_rows": max(pr["state_rows"] for pr in trig),
        "streaming.state_bytes": max(pr["state_bytes"] for pr in trig),
        "sink.upsert_ms": median(
            [c["end"] - c["start"] for c in calls if c["batch"] in data_batches]),
        "sink.rows": sum(pr["state_updated"] for pr in trig),
        "sink.empty_calls": sum(1 for c in calls if c["batch"] not in input_batches),
        "streaming.dropped_late_rows": dropped,
        "streaming.malformed_rows": malformed,
        "streaming.generator_lag_ms": max(
            max(added - due, 0.0) for q, due, added, _ in chunks if q == p),
    }


def spans(raw):
    """Flat span list (id, parent, name, start, end) with shared ids:
    pass > operation > build|action > job for batch workloads, and
    pass > chunk, pass > trigger > phase, trigger > sink > job for streams.
    Phase spans are laid end to end in the order a micro-batch runs them;
    Spark reports their durations, not their start times."""
    out = []

    def add(sid, parent, name, start, end):
        out.append({"id": sid, "parent": parent, "name": name, "start": start, "end": end})

    for p, (s, e) in pass_windows(raw).items():
        add(f"p{p}", None, "pass", s, e)
    for o in timed(raw["ops"]):
        op = f"p{o['pass']}/{o['name']}"
        add(op, f"p{o['pass']}", o["name"], o["start"], o["end"])
        add(op + "/build", op, "build", o["start"], o["built"])
        if not is_stream(raw):
            add(op + "/action", op, "action", o["built"], o["end"])
    if is_stream(raw):
        for i, (p, due, _, landed) in enumerate(landed_chunks(raw)):
            add(f"p{p}/c{i}", f"p{p}", "chunk", due, landed)
        phases = ["latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch",
                  "commitOffsets"]
        for pr in timed(raw["progress"]):
            trig = f"p{pr['pass']}/b{pr['batch']}"
            start = pr["start"]
            add(trig, f"p{pr['pass']}", "trigger", start,
                start + pr["duration_ms"].get("triggerExecution", 0))
            for ph in phases:
                d = pr["duration_ms"].get(ph, 0)
                add(f"{trig}/{ph}", trig, ph, start, start + d)
                start += d
        for c in timed(raw["sink_calls"]):
            add(f"p{c['pass']}/b{c['batch']}/sink", f"p{c['pass']}/b{c['batch']}", "sink",
                c["start"], c["end"])
    for j in raw["trace"]["jobs"]:
        if j["span"]:
            add(f"job{j['id']}", j["span"], "job", j["start"], j["end"])
    return out
