"""Pure helpers of the benchmark: percentiles, attribution of Spark
events to spans, the order-insensitive digest, and the fold of one
run's event log into its end-to-end and per-layer metrics."""
import hashlib
import math
import statistics

MB = 1e6

LAYERS = ["queries.core", "Dedup", "Ann", "Quality", "Mix", "Retrieval", "Graph",
          "Multimodal", "Behavior", "TextAnalysis", "Sketch", "Curate", "CurateMedia",
          "Ingest.cdc", "Ingest.curate"]
COUNTERS = [("busy_s", "s"), ("jobs", "count"), ("task_s", "s"),
            ("shuffle_write_mb", "MB"), ("input_mb", "MB"), ("storage_peak_mb", "MB")]
SCAN_LAYERS = ["Dedup", "TextAnalysis", "Mix", "Retrieval"]
STREAM_COUNTERS = [("add_batch_s", "s"), ("wal_commit_s", "s"),
                   ("query_planning_s", "s"), ("batches", "count"), ("state_mb", "MB")]


def per_layer_names():
    """(name, unit) of every per-layer metric, in report order."""
    out = [(f"{layer}.{c}", u) for layer in LAYERS for c, u in COUNTERS]
    out += [(f"{layer}.documents_scans", "count") for layer in SCAN_LAYERS]
    out += [(f"{layer}.{c}", u) for layer in ("Ingest.cdc", "Ingest.curate")
            for c, u in STREAM_COUNTERS]
    return out + [("Sessions.start_s", "s"), ("gen.busy_s", "s")]


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def tail(xs, min_beyond=10, percentiles=(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)):
    """Highest percentile with at least `min_beyond` samples above it.

    Returns (percentile, value, n) or None when there are too few samples.
    The value is the nearest-rank percentile of the sorted samples."""
    n = len(xs)
    s = sorted(xs)
    for p in percentiles:
        if n * (100.0 - p) / 100.0 >= min_beyond:
            rank = max(1, math.ceil(p / 100.0 * n))
            return p, s[rank - 1], n
    return None


def canon_cell(v):
    """Strict textual form of one value: no float tolerance, NULL for
    None and NaN."""
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "NULL"
    if isinstance(v, float):
        return repr(v)
    return str(v)


def digest(rows):
    """Order-insensitive digest of rows (each a sequence of values):
    (row count, sha256 over the sorted canonical rows)."""
    lines = sorted("\x1f".join(canon_cell(v) for v in r) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return len(lines), h.hexdigest()


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, end = 0.0, -math.inf
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def attribute(events):
    """Attribute jobs, stages and SQL plans to spans by job group.

    Each job belongs to the span whose id its group carries; a stage to
    the lowest-numbered job that lists it (a later job lists a stage it
    reuses but did not run); a plan to the span of the jobs that ran
    under its SQL execution id. Event delivery order does not matter.
    Returns {span_id: counters} of the span's own (self) work."""
    spans = {e["id"]: e for e in events if e["e"] == "span"}
    own = {sid: {"jobs": 0, "task_s": 0.0, "shuffle_write": 0, "input": 0,
                 "doc_scans": 0, "open_jobs": 0} for sid in spans}
    stage_group, exec_group = {}, {}
    ended = {e["job"] for e in events if e["e"] == "job_end"}
    for e in sorted((e for e in events if e["e"] == "job"), key=lambda e: e["job"]):
        if e["group"] not in own:
            continue
        c = own[e["group"]]
        c["jobs"] += 1
        if e["job"] not in ended:
            c["open_jobs"] += 1
        for s in e["stages"]:
            stage_group.setdefault(s, e["group"])
        if e["exec"]:
            exec_group.setdefault(e["exec"], e["group"])
    for e in events:
        if e["e"] == "stage" and e["stage"] in stage_group:
            c = own[stage_group[e["stage"]]]
            c["task_s"] += e["task_s"]
            c["shuffle_write"] += e["shuffle_write"]
            c["input"] += e["input"]
        elif e["e"] == "plan" and e["exec"] in exec_group:
            own[exec_group[e["exec"]]]["doc_scans"] += e["doc_scans"]
    return own


def storage_timeline(events):
    """[(t, total bytes in block storage after the update)], time-ordered."""
    size, total, out = {}, 0, []
    for e in sorted((e for e in events if e["e"] == "block"), key=lambda e: e["t"]):
        total += e["bytes"] - size.get(e["id"], 0)
        size[e["id"]] = e["bytes"]
        out.append((e["t"], total))
    return out


def storage_peak(timeline, t0, t1):
    """Peak storage bytes held at any time in [t0, t1]."""
    level, peak = 0, 0
    for t, total in timeline:
        if t < t0:
            level = total
        elif t <= t1:
            peak = max(peak, total)
        else:
            break
    return max(peak, level)


def self_time(span, children):
    return (span["t1"] - span["t0"]) - union_length(
        [(max(c["t0"], span["t0"]), min(c["t1"], span["t1"])) for c in children])


def setup_reps(spans):
    """Durations of the repeated input set-ups; [0.0] when there are none."""
    return [s["t1"] - s["t0"] for s in spans if s["layer"] == "gen" and "rep" in s] or [0.0]


def fold(events, failed_checks=()):
    """All metrics of one run, as {name: (value, unit)}, plus details."""
    env = next(e for e in events if e["e"] == "env")
    phase = {e["name"]: e["t"] for e in events if e["e"] == "phase"}
    run_t0, check_t0 = phase["run"], phase["check"]
    ops = [e for e in events if e["e"] == "op"]
    spans = [e for e in events if e["e"] == "span"]
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    own = attribute(events)
    timeline = storage_timeline(events)
    bad = {c["name"] for c in events if c["e"] == "check" and not c["ok"]} | set(failed_checks)
    stream = env["workload"] == "ingest_stream"

    def failed(o):
        if not o["ok"]:
            return True
        if stream:
            return bool(bad)
        return o["name"] in bad or f"{o['name']}#{o['pass']}" in bad

    def subtree(sid):
        out = [sid]
        for c in children.get(sid, []):
            out += subtree(c["id"])
        return out

    op_spans = [s for s in spans if s.get("op")]
    run_groups = [g for s in op_spans for g in subtree(s["id"])]
    total = {k: sum(own[g][k] for g in run_groups)
             for k in ("jobs", "task_s", "shuffle_write")}
    n_ops = len(ops)
    # A closed loop runs whole passes over a fixed op set; an open loop
    # is one pass of its ticks. Run totals are reported per pass.
    passes = 1 + max(o["pass"] for o in ops)
    lat = [o["t1"] - o["due"] for o in ops]
    t_first = min(o["due"] for o in ops)
    t_last = max(o["t1"] for o in ops)
    # An open loop's ticks wait for their due time; its wall time is the
    # time spent draining, so it does not floor at the tick interval.
    busy = union_length([(s["t0"], s["t1"]) for s in op_spans])
    wall = busy if stream else t_last - t_first
    reps = setup_reps(spans)
    m = {
        "setup_s": (run_t0 - env["jvm_start"] - sum(reps) + median(reps), "s"),
        "wall_s": (wall / passes, "s"),
        "cpu_s": (sum(o["cpu_s"] for o in ops) / passes, "s"),
        "jobs": (total["jobs"] / passes, "count"),
        "shuffle_write_mb": (total["shuffle_write"] / MB / passes, "MB"),
        "op_p50_s": (median(lat), "s"),
        "task_s": (total["task_s"] / passes, "s"),
        "storage_peak_mb": (storage_peak(timeline, run_t0, check_t0) / MB, "MB"),
        "failed_frac": (sum(failed(o) for o in ops) / n_ops, "ratio"),
    }
    tl = tail(lat)
    details = {"ops": n_ops, "failed": sum(failed(o) for o in ops), "bad_checks": sorted(bad),
               "op_tail": tl}
    if tl:
        m["op_tail_s"] = (tl[1], "s")
    if stream:
        cdc = [o["cdc_t1"] - o["due"] for o in ops]
        m["cdc_p50_s"] = (median(cdc), "s")
        m["docs_p50_s"] = (median(lat), "s")
        for name, xs in (("cdc_tail_s", cdc), ("docs_tail_s", lat)):
            t = tail(xs)
            if t:
                m[name] = (t[1], "s")
        m["busy_frac"] = (busy / (t_last - t_first), "ratio")
        m["state_mb"] = (sum(e["bytes"] for e in events if e["e"] == "state") / MB, "MB")
        late = [o["t0"] - o["due"] for o in ops]
        details["generator_lateness_s"] = {"p50": median(late), "max": max(late)}
    layers = fold_layers(events, spans, children, own, timeline, run_t0, env)
    return m, layers, details


def fold_layers(events, spans, children, own, timeline, run_t0, env):
    """Per-layer metrics from the spans opened after set-up: self time
    and self counters summed over each layer's spans."""
    acc = {name: 0.0 for name, _ in per_layer_names()}
    peak = {}
    for s in spans:
        layer = s["layer"]
        if s["t0"] < run_t0 or layer not in LAYERS:
            continue
        c = own[s["id"]]
        acc[f"{layer}.busy_s"] += self_time(s, children.get(s["id"], []))
        acc[f"{layer}.jobs"] += c["jobs"]
        acc[f"{layer}.task_s"] += c["task_s"]
        acc[f"{layer}.shuffle_write_mb"] += c["shuffle_write"] / MB
        acc[f"{layer}.input_mb"] += c["input"] / MB
        peak[layer] = max(peak.get(layer, 0), storage_peak(timeline, s["t0"], s["t1"]))
        if layer in SCAN_LAYERS:
            acc[f"{layer}.documents_scans"] += c["doc_scans"]
    for layer, p in peak.items():
        acc[f"{layer}.storage_peak_mb"] = p / MB
    layer_spans = {}
    for s in spans:
        if s["t0"] >= run_t0 and s["layer"] in ("Ingest.cdc", "Ingest.curate"):
            layer_spans.setdefault(s["layer"], []).append(s)
    for e in events:
        if e["e"] != "stream_batch" or not e["ran"]:
            continue
        for layer, ss in layer_spans.items():
            if any(s["t0"] - 0.5 <= e["t"] <= s["t1"] for s in ss):
                acc[f"{layer}.batches"] += 1
                for k in ("add_batch_s", "wal_commit_s", "query_planning_s"):
                    acc[f"{layer}.{k}"] += e[k]
                break
    for e in events:
        if e["e"] == "state":
            acc[f"{e['layer']}.state_mb"] += e["bytes"] / MB
    acc["Sessions.start_s"] = env["session_s"]
    acc["gen.busy_s"] = median(setup_reps(spans))
    return acc
