"""Turn one benchmark process's raw measurements into metrics.

Pure functions over the JSON that perfbench.Main writes; run.py calls
`end_to_end` for untraced runs and `per_layer` for traced ones. Percentiles
are nearest-rank, so every reported value is one that was measured.
"""
import math
import statistics

FAMILY_LAYERS = ("plan_ms", "exec_s", "jobs", "stages", "tasks", "cpu_s", "run_s", "gc_s",
                 "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "result_bytes")
PHASES = {"latest_offset_ms": "latestOffset", "get_batch_ms": "getBatch",
          "query_planning_ms": "queryPlanning", "add_batch_ms": "addBatch",
          "wal_commit_ms": "walCommit", "commit_offsets_ms": "commitOffsets"}


def percentile(values, p):
    """Nearest-rank p-th percentile (0 < p <= 100) of a non-empty sample."""
    s = sorted(values)
    if not s:
        raise ValueError("percentile of an empty sample")
    return s[max(1, math.ceil(p / 100.0 * len(s))) - 1]


def median(values):
    return statistics.median(values) if values else 0.0


def phases(raw):
    """The measured phases of a run: live and catch-up for the connector
    workload, the run itself otherwise."""
    return [raw["live"], raw["catchup"]] if raw["workload"] == "connector" else [raw]


def setup_s(raw):
    """Time spent setting up and warming up, over every phase."""
    return sum(p["setup_s"] for p in phases(raw))


# ---------------------------------------------------------------- streams

def drain_stats(drains, events):
    """Catch-up rates, medians over drains: events per second of the queue
    drains, which is the end-to-end throughput, and of the table drains."""
    out = {}
    for kind, name in (("connect", "publish_eps"), ("materialize", "materialize_eps")):
        rates = [events / (d["wall_ms"] / 1000.0) for d in drains if d["kind"] == kind]
        if rates:
            out[name] = median(rates)
    if "publish_eps" in out:
        out["throughput_per_s"] = out["publish_eps"]
    return out


def join_commits(files, epochs):
    """Each live file with the commit time of the epoch that published it:
    the file's epoch, read back from its collection's queue, joined to that
    collection's progress records. Unpublished files get None."""
    commits = {(coll, e["batch"]): e["commit_ms"] for coll, es in epochs.items() for e in es}
    return [dict(f, commit_ms=None if f.get("epoch") is None else commits.get((f["coll"], f["epoch"])))
            for f in files]


def file_latencies(f, file_events, file_ms):
    """Latencies (ms) of one live file's events: event k of n was created at
    due - file_ms + (k + 1) * file_ms / n and is visible once its epoch
    commits."""
    step = file_ms / file_events
    base = f["commit_ms"] - f["due_ms"] + file_ms
    return [base - (k + 1) * step for k in range(file_events)]


def live_stats(files, file_events, file_ms):
    """Per-event latency percentiles over committed files."""
    lat = [x for f in files if f.get("commit_ms") is not None
           for x in file_latencies(f, file_events, file_ms)]
    if not lat:
        return {}
    return {"latency_p50_ms": percentile(lat, 50), "latency_p95_ms": percentile(lat, 95)}


def backlog_max(files):
    """Most files of one collection written but not yet committed at the
    moment any file is written (unpublished files never commit)."""
    worst = 0
    for coll in {f["coll"] for f in files}:
        fs = [f for f in files if f["coll"] == coll]
        for f in fs:
            t = f["done_ms"]
            worst = max(worst, sum(1 for g in fs if g["done_ms"] <= t
                                   and (g.get("commit_ms") is None or g["commit_ms"] > t)))
    return worst


# --------------------------------------------------------------- curation

def family_sums(ops, families):
    """Sum of the operator walls of each family in one pass."""
    return {fam: sum(ops[k]["wall_s"] for k in keys) for fam, keys in families.items()}


def pass_stats(passes, families):
    """Curation figures over the passes in which every operator ran (a
    failed operator has no wall and is reported as a failed operation)."""
    passes = [p for p in passes if all(op["wall_s"] is not None for op in p["ops"].values())]
    if not passes:
        return {}
    walls = [sum(op["wall_s"] for op in p["ops"].values()) for p in passes]
    op_ms = [op["wall_s"] * 1000.0 for p in passes for op in p["ops"].values()]
    out = {"throughput_per_s": len(passes[0]["ops"]) / median(walls),
           "latency_p50_ms": percentile(op_ms, 50),
           "pass_s": median(walls)}
    sums = [family_sums(p["ops"], families) for p in passes]
    for fam in families:
        out[fam + "_s"] = median([s[fam] for s in sums])
    return out


# ---------------------------------------------------------------- results

E2E = ("throughput_per_s", "latency_p50_ms")


def workload_stats(raw, traced):
    """The end-to-end figures of the untraced (traced=False) or traced part
    of a run."""
    if raw["workload"] == "connector":
        live, catchup = raw["live"], raw["catchup"]
        files = join_commits(live["files"], live["epochs"])
        out = live_stats([f for f in files if f["measured"] and f["traced"] == traced],
                         live["file_events"], live["file_ms"])
        out.update(drain_stats([d for d in catchup["drains"] if d["traced"] == traced],
                               catchup["events"]))
        return out
    return pass_stats([p for p in raw["passes"] if p["traced"] == traced], raw["families"])


def end_to_end(raw):
    out = {k: v for k, v in workload_stats(raw, False).items() if k in E2E}
    out["setup_s"] = setup_s(raw)
    return out


def _phase_stats(epochs, out):
    if not epochs:
        return
    trig = [e["durations"].get("triggerExecution", 0) for e in epochs]
    out["streaming.rows_per_epoch_p50"] = percentile([e["rows"] for e in epochs], 50)
    out["streaming.trigger_ms_p50"] = percentile(trig, 50)
    out["streaming.trigger_ms_p95"] = percentile(trig, 95)
    for name, key in PHASES.items():
        out["streaming.%s_p50" % name] = percentile([e["durations"].get(key, 0) for e in epochs], 50)


def epoch_floors(epochs, sink_ms):
    """What each epoch of one drain cost beyond its publish call: trigger
    time minus publish time, joined on the epoch id. Epochs missing on
    either side are left out."""
    publish = {s["batch"]: s["ms"] for s in sink_ms}
    return [e["durations"].get("triggerExecution", 0) - publish[e["batch"]]
            for e in epochs if e["batch"] in publish]


def _catchup_layers(catchup, out):
    layers = catchup["layers"]
    traced = [d for d in catchup["drains"] if d["traced"]]
    queue = [d for d in traced if d["kind"] == "connect"]
    _phase_stats([e for d in queue for e in d["listener_epochs"]], out)
    out["streaming.epochs"] = median([len(d["listener_epochs"]) for d in queue])
    for kind, name in (("connect", "streaming.publish_ms_p50"),
                       ("materialize", "ops.Versioned.merge_ms_p50")):
        sink = [s["ms"] for d in traced if d["kind"] == kind for s in d["sink_ms"]]
        if sink:
            out[name] = percentile(sink, 50)
    floor = [ms for d in queue for ms in epoch_floors(d["listener_epochs"], d["sink_ms"])]
    if floor:
        out["streaming.epoch_floor_ms_p50"] = percentile(floor, 50)
    out["streaming.checkpoint_files"] = layers["checkpoint_files"]
    out["streaming.queue_bytes_per_input_byte"] = layers["queue_bytes"] / layers["input_bytes"]
    out["events.envelope_s"] = median(layers["envelope_s"])
    out["ops.Versioned.bytes_written_per_input_byte"] = layers["table_bytes"] / layers["table_input_bytes"]
    out["ops.Versioned.files_live"] = layers["files_live"]
    out["ops.Versioned.versions"] = layers["versions"]
    rates = drain_stats([d for d in catchup["drains"] if not d["traced"]], catchup["events"])
    for name in ("publish_eps", "materialize_eps"):
        if name in rates:
            out["catchup." + name] = rates[name]


def _live_layers(live, out):
    epochs = live["listener_epochs"]
    for coll in {f["coll"] for f in live["files"]}:
        mine = [e["durations"].get("triggerExecution", 0) for e in epochs
                if e["query"].endswith("." + coll)]
        if mine:
            out["live.%s.trigger_ms_p50" % coll] = percentile(mine, 50)
    state = [e for e in epochs if e.get("state_rows") is not None]
    if state:
        last = max(state, key=lambda e: e["commit_ms"])
        out["streaming.state_rows"] = last["state_rows"]
        out["streaming.state_bytes"] = last["state_bytes"]
        out["streaming.state_commit_ms_p50"] = percentile([e["state_commit_ms"] for e in state], 50)
    measured = [f for f in join_commits(live["files"], live["epochs"]) if f["measured"]]
    untraced = live_stats([f for f in measured if not f["traced"]], live["file_events"], live["file_ms"])
    out["live.latency_p95_ms"] = untraced["latency_p95_ms"]
    out["live.backlog_files_max"] = backlog_max(measured)
    out["live.generator_late_ms_max"] = max(f["done_ms"] - f["due_ms"] for f in measured)


def _curation_layers(raw, out):
    fams = raw["families"]
    complete = [p for p in raw["passes"] if all(op["wall_s"] is not None for op in p["ops"].values())]
    untraced = [p for p in complete if not p["traced"]]
    traced = [p for p in complete if p["traced"]]
    stats = pass_stats(untraced, fams)
    if stats:
        out["curation.pass_s"] = stats["pass_s"]
        for fam in fams:
            out["curation.%s_s" % fam] = stats[fam + "_s"]
    for key in (k for keys in fams.values() for k in keys):
        out["curation.op.%s_s" % key] = median([p["ops"][key]["wall_s"] for p in untraced])
    for fam, keys in fams.items():
        per_pass = []
        for p in traced:
            ops = [p["ops"][k] for k in keys]
            tot = lambda name: sum(o["stats"].get(name, 0) for o in ops)
            t = {name: tot(name) for name in ("jobs", "stages", "tasks", "shuffle_read_bytes",
                                              "shuffle_write_bytes", "spill_bytes", "result_bytes")}
            t["plan_ms"] = sum(o["plan_s"] for o in ops) * 1000.0
            t["exec_s"] = sum(o["wall_s"] - o["plan_s"] for o in ops)
            t["cpu_s"] = tot("cpu_ns") / 1e9
            t["run_s"] = tot("run_ms") / 1e3
            t["gc_s"] = tot("gc_ms") / 1e3
            per_pass.append(t)
        for name in FAMILY_LAYERS:
            out["ops.%s.%s" % (fam, name)] = median([t[name] for t in per_pass])
    out["Tables.scan_s"] = median(raw["layers"]["scan_s"])


def per_layer(raw):
    """Every per-layer figure this run measured, by metric name."""
    out = {}
    if raw["workload"] == "connector":
        _catchup_layers(raw["catchup"], out)
        _live_layers(raw["live"], out)
    else:
        _curation_layers(raw, out)
    untraced, traced = workload_stats(raw, False), workload_stats(raw, True)
    for k in E2E:
        if k in untraced and k in traced:
            out["trace.%s_delta" % k] = traced[k] - untraced[k]
    return out
