"""Turns the JVM's raw record into the benchmark's metrics.

End-to-end metrics come from an untraced run; per-layer metrics from the
traced passes of a traced run (see README.md for the layer map).
"""
import statistics

# Layers, in the order the first `graft.` frame of a job's call site is
# matched against them.
LAYERS = [
    ("graft.io.", "io"),
    ("graft.ops.Layout", "ops.layout"),
    ("graft.ops.Materialize", "ops.materialize"),
    ("graft.streaming.", "streaming"),
    ("graft.", "operators"),
]
PHASES = ("construct", "plan", "execute", "commit")
MIN_TAIL = 10


def tail_percentile(values, cap=90.0):
    """The highest percentile (at most `cap`) with at least ten samples
    beyond it. Returns (percentile, value), or (None, None) when there are
    too few samples for one at or above the median to have ten beyond it."""
    n = len(values)
    if n < 2 * MIN_TAIL:
        return None, None
    xs = sorted(values)
    rank = n - MIN_TAIL                      # samples at or below the value
    pct = 100.0 * rank / n
    if pct > cap:
        pct = cap
        rank = max(1, int(n * cap / 100.0))
    return pct, xs[rank - 1]


def classify(details):
    """Layer of a Spark job from its call-site text: the first `graft.`
    frame decides; a job with none was started by the benchmark's own sink
    (`perfbench.` frame) or by a Spark-internal thread (`unattributed`)."""
    lines = [ln.strip() for ln in (details or "").splitlines()]
    for ln in lines:
        if ln.startswith("graft."):
            for prefix, layer in LAYERS:
                if ln.startswith(prefix):
                    return layer
    if any(ln.startswith("perfbench.") for ln in lines):
        return "sink"
    return "unattributed"


def attribute(jobs, spans):
    """Maps each job id to the phase span that was open when the job was
    submitted. Submission times are whole milliseconds, so a phase matches
    if it overlaps the job's millisecond; the innermost (latest-starting)
    match wins. Jobs submitted outside every phase map to None."""
    phases = sorted((s for s in spans if s["kind"] in PHASES),
                    key=lambda s: s["start_us"])
    out = {}
    for j in jobs:
        lo = j["submit_ms"] * 1000
        hi = lo + 999
        best = None
        for s in phases:
            if s["start_us"] > hi:
                break
            if s["end_us"] >= lo:
                best = s
        out[j["id"]] = best
    return out


def self_times(spans, jobs, owner):
    """Self time of each span: its duration minus the part of it that its
    child spans (and, for a phase, its jobs) cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start_us"], s["end_us"]))
    for j in jobs:
        s = owner.get(j["id"])
        if s is not None and j["end_ms"] >= 0:
            kids.setdefault(s["id"], []).append(
                (max(j["submit_ms"] * 1000, s["start_us"]),
                 min(j["end_ms"] * 1000, s["end_us"])))
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0, None, None
        for lo, hi in sorted(kids.get(s["id"], [])):
            lo, hi = max(lo, s["start_us"]), min(hi, s["end_us"])
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (s["end_us"] - s["start_us"] - covered) / 1e6
    return out


def timed_calls(raw):
    """The calls of timed passes; warm-up calls carry pass -1."""
    return [c for c in raw["calls"] if c["pass"] >= 0]


def call_medians(calls):
    """Each distinct call's median latency over the run's passes. A pass
    runs every distinct call once, so percentiles across these weigh the
    calls as the passes do, and rest on as many samples however many
    passes the window held."""
    by_key = {}
    for c in calls:
        by_key.setdefault(c["key"], []).append(c["total_s"])
    return [statistics.median(v) for v in by_key.values()]


def end_to_end(raw, failed_keys):
    """The untraced run's metrics, plus the sample counts they rest on."""
    calls = timed_calls(raw)
    passes = raw["passes"]
    lat = call_medians(calls)
    pct, tail = tail_percentile(lat)
    window = sum((p["end_us"] - p["start_us"]) / 1e6 for p in passes)
    good = sum(1 for c in calls if c["ok"] and c["key"] not in failed_keys)
    metrics = {
        "setup_s": statistics.median(raw["setups_s"]),
        "latency_p50_s": statistics.median(lat),
        "latency_tail_s": tail if tail is not None else max(lat),
        "calls_per_s": good / window,
        "epoch_p50_s": statistics.median(
            [(p["end_us"] - p["start_us"]) / 1e6 for p in passes]),
        "driver_live_mb": raw["driver_live_mb"],
    }
    counts = {"calls": len(calls), "distinct": len(lat), "tail_percentile": pct,
              "passes": len(passes)}
    return metrics, counts


def per_layer(raw, cores):
    """Per-layer totals per traced pass, and the tracing overhead."""
    passes = [p for p in raw["passes"] if p["traced"]]
    n = max(1, len(passes))
    traced_ids = {p["pass"] for p in passes}
    timed = timed_calls(raw)
    calls = [c for c in timed if c["pass"] in traced_ids]
    spans, jobs = raw.get("spans", []), raw.get("jobs", [])
    owner = attribute(jobs, spans)
    stages = {s["id"]: s for s in raw.get("stages", [])}
    m = {}

    def add(name, v):
        m[name] = m.get(name, 0.0) + v

    for c in calls:
        for ph in PHASES:
            add(f"call.{ph}_s", c.get(f"{ph}_s", 0.0))
        add("call.unaccounted_s",
            abs(c["total_s"] - sum(c.get(f"{ph}_s", 0.0) for ph in PHASES)))
    busy_ms = 0
    for j in jobs:
        s = owner.get(j["id"])
        layer = classify(j["details"])
        dur = max(0, j["end_ms"] - j["submit_ms"]) / 1e3 if j["end_ms"] >= 0 else 0.0
        add(f"{layer}.jobs", 1)
        add(f"{layer}.job_s", dur)
        if s is not None:
            add(f"call.{s['kind']}_jobs", 1)
        js = [stages[i] for i in j["stages"] if i in stages]
        if layer == "ops.materialize":
            add("ops.materialize.collect_bytes", sum(st["result"] for st in js))
        for st in js:
            add("exec.stages", 1)
            add("exec.tasks", st["tasks"])
            add("exec.shuffle_write_bytes", st["shuffle_write"])
            add("exec.spill_bytes", st["spill"])
            add("exec.input_bytes", st["input"])
            add("exec.result_bytes", st["result"])
            busy_ms += st["run_ms"]
    wall = sum((p["end_us"] - p["start_us"]) / 1e6 for p in passes)
    for p in passes:
        add("ops.layout.builds", p["layout_builds"])
        add("ops.layout.refreshes", p["layout_refreshes"])
        add("ops.layout.build_s", p["layout_build_s"])
        add("jvm.gc_s", p["gc_s"])
    metrics = {k: v / n for k, v in m.items()}
    metrics["exec.task_busy_frac"] = busy_ms / 1e3 / (wall * cores) if wall else 0.0
    # streaming figures come from every timed epoch's progress, per epoch;
    # the indexes hold one shard per epoch, the set-up's and the warm-up's
    # included
    epochs = raw.get("epochs", 0)
    batches = raw.get("stream_batches", [])
    metrics["streaming.batch_s"] = sum(b["batch_s"] for b in batches) / max(1, epochs)
    metrics["streaming.rows_in"] = sum(b["rows_in"] for b in batches) / max(1, epochs)
    metrics["streaming.rows_appended"] = (
        raw.get("index_rows", 0) / max(1, raw.get("shards_indexed", 0)))
    metrics["streaming.replay_rows"] = float(raw.get("replay_rows", 0))
    metrics["host.sentinel_s"] = raw.get("sentinel_s", 0.0)
    # tracing overhead: call latency on traced passes against the untraced
    # passes of the same run
    plain = [c["total_s"] for c in timed if c["pass"] not in traced_ids]
    traced = [c["total_s"] for c in calls]
    metrics["trace.overhead_frac"] = (
        statistics.median(traced) / statistics.median(plain) - 1.0
        if plain and traced else 0.0)
    windows = [(p["start_us"], p["end_us"]) for p in passes]
    selfs = self_times(spans, jobs, owner)
    self_by_kind = {}
    for s in spans:
        if s["kind"] != "run" and any(lo <= s["start_us"] <= hi for lo, hi in windows):
            self_by_kind[s["kind"]] = self_by_kind.get(s["kind"], 0.0) + selfs[s["id"]]
    return metrics, {k: v / n for k, v in self_by_kind.items()}
