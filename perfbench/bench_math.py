"""The benchmark's arithmetic: percentiles, span self time, failure share,
output checksums, and the per-layer metrics built from a traced run's raw
records. Kept apart from run.py so test_bench_math.py can check it."""
import hashlib
import math
import statistics

MB = 1048576.0


def percentile(samples, p):
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it. Returns (value, n, beyond), where beyond
    counts the samples ranked above it; a percentile is worth reporting
    when beyond >= 10."""
    xs = sorted(samples)
    if not xs:
        raise ValueError("percentile of no samples")
    rank = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[rank - 1], len(xs), len(xs) - rank


def fail_frac(attempted, failed):
    """Share of attempted ops that threw or failed a check."""
    if attempted < 1:
        raise ValueError("no ops attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside [0, {attempted}]")
    return failed / attempted


def covered(intervals, lo, hi):
    """Length of the union of intervals, clipped to [lo, hi]."""
    segs = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in segs:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(span, children):
    """A span's duration minus the part of it its children cover."""
    return (span["end"] - span["start"]) - covered(
        [(c["start"], c["end"]) for c in children], span["start"], span["end"])


def checksum(df, norm):
    """Order-insensitive digest of a result frame. `norm` is
    check_parity.norm in strict mode: columns sorted by name, values
    rendered, floats rounded to 6 places, nulls tokenized, rows sorted."""
    n = norm(df)
    h = hashlib.sha256("|".join(n.columns).encode())
    for row in n.itertuples(index=False):
        h.update(("\x1f".join(map(str, row)) + "\n").encode())
    return h.hexdigest()[:16]


def median(xs):
    return statistics.median(xs) if xs else 0.0


# ---------------------------------------------------------------- traces

PHASES = ("analysis", "optimization", "planning")


def build_spans(trace):
    """All spans of a traced run, runner and listener ones alike, each
    with id, parent, kind, name, start, end (epoch ms) and the trace id
    they share (the workload span's id). Listener records
    are placed under the innermost span of their op that contains their
    start: a stream batch (for jobs), the fn call or the action, else the
    op itself."""
    spans = [dict(s) for s in trace["spans"]]
    by_id = {s["id"]: s for s in spans}
    ops = [s for s in spans if s["kind"] == "op"]
    inner = {}
    for s in spans:
        if s["kind"] in ("fn", "action"):
            inner.setdefault(s["parent"], []).append(s)
    next_id = [max(by_id, default=0) + 1]

    def add(kind, name, parent, start, end, **extra):
        s = dict(id=next_id[0], parent=parent, kind=kind, name=name,
                 start=start, end=end, **extra)
        next_id[0] += 1
        spans.append(s)
        by_id[s["id"]] = s
        return s

    def op_at(t):
        for o in ops:
            if o["start"] <= t <= o["end"]:
                return o["id"]
        return None

    def place(op, t):
        for c in inner.get(op, ()):
            if c["start"] <= t <= c["end"]:
                return c["id"]
        return op

    for q in trace["qes"]:
        ph = q.get("phases") or {}
        starts = [v["start"] for v in ph.values()]
        op = q["op"] if q["op"] != -1 else (op_at(min(starts)) if starts else None)
        if op is None or op not in by_id:
            continue
        for k in PHASES:
            if k in ph:
                add("phase", k, place(op, ph[k]["start"]), ph[k]["start"],
                    ph[k]["end"], op=op)
        if q["func"] != "fn":
            add("plan", q["func"], op, ph.get("planning", {}).get("end", 0.0),
                ph.get("planning", {}).get("end", 0.0), op=op,
                graft_nodes=q["graft_nodes"], broadcasts=q["broadcasts"],
                broadcast_bytes=q["broadcast_bytes"], obs_scans=q["obs_scans"])
    batches = {}
    for b in trace["batches"]:
        op = op_at(b["start"])
        if op is not None:
            batches.setdefault(op, []).append(add(
                "batch", f"{b['query'][:8]}.{b['batch']}", place(op, b["start"]),
                b["start"], b["end"], op=op, b=b))

    def place_job(op, t):
        for s in batches.get(op, ()):
            if s["start"] <= t <= s["end"]:
                return s["id"]
        return place(op, t)

    jobs = {}
    for j in trace["jobs"]:
        if j["phase"] == "start":
            jobs.setdefault(j["job"], {}).update(op=j["op"], start=j["start"])
        elif j["phase"] == "end":
            jobs.setdefault(j["job"], {})["end"] = j["end"]
    job_span = {}
    for jid, j in sorted(jobs.items()):
        op = j.get("op", -1)
        if op not in by_id or "start" not in j:
            op = op_at(j.get("start", 0.0))
        if op is None or "end" not in j:
            continue
        job_span[jid] = add("job", f"job{jid}", place_job(op, j["start"]),
                            j["start"], j["end"], op=op)
    for s in trace["jobs"]:
        if s["phase"] == "stage" and s["job"] in job_span:
            js = job_span[s["job"]]
            add("stage", f"stage{s['stage']}.{s['attempt']}", js["id"],
                s["start"] or js["start"], s["end"] or js["end"], op=js["op"],
                m=s["m"], failed=s["failed"])
    trace_id = next((s["id"] for s in spans if s["kind"] == "workload"), 0)
    for s in spans:
        s["trace"] = trace_id
    return spans


def op_of(span, by_id):
    if "op" in span:
        return span["op"]
    if span["kind"] == "op":
        return span["id"]
    if span["kind"] in ("fn", "action"):
        return span["parent"]
    return None


LAYER_KINDS = ("phase", "job", "batch")


def unattributed(spans):
    """Per op id: op time that no Catalyst phase, Spark job or stream
    batch below it covers: time of the registered call and the action
    that no listener accounts for."""
    by_id = {s["id"]: s for s in spans}
    layer = {}
    for s in spans:
        if s["kind"] in LAYER_KINDS:
            layer.setdefault(op_of(s, by_id), []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"]) -
            covered(layer.get(s["id"], ()), s["start"], s["end"])
            for s in spans if s["kind"] == "op"}


def self_times(spans):
    """Self time (ms) of every span, keyed by span id."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    return {s["id"]: self_time(s, [c for c in kids.get(s["id"], ())
                                   if c["kind"] != "plan"])
            for s in spans}


SELF_KINDS = ("op", "fn", "action", "phase", "job", "stage", "batch")


def layer_metrics(spans, pass_id, cores, rows_out, out_mb):
    """Per-layer metrics of one traced pass (see BENCHMARK.json)."""
    by_id = {s["id"]: s for s in spans}
    ps = by_id[pass_id]
    ops = [s for s in spans if s["kind"] == "op" and s["parent"] == pass_id]
    op_ids = {o["id"] for o in ops}
    mine = [s for s in spans if op_of(s, by_id) in op_ids]
    of = lambda kind: [s for s in mine if s["kind"] == kind]
    dur = lambda xs: sum(s["end"] - s["start"] for s in xs)
    st = self_times(spans)
    un = unattributed(spans)
    stages = of("stage")
    sm = lambda k: sum(s["m"][k] for s in stages)
    plans = of("plan")
    batches = [s["b"] for s in of("batch")]
    pass_ms = ps["end"] - ps["start"]
    skews = [s["m"]["task_max_ms"] / s["m"]["task_median_ms"]
             for s in stages if s["m"]["task_median_ms"] > 0]
    last_state = {}
    for b in sorted(batches, key=lambda b: b["start"]):
        last_state[b["query"]] = (b["state_rows"], b["state_bytes"])
    fource = [o for o in ops if o["name"] == "Cohort"]
    m = {
        "fource.cohort_ms": dur(fource),
        "fource.files_ms": dur(ops) - dur(fource) if fource else 0.0,
        "fource.obs_scans": sum(p["obs_scans"] for p in plans) if fource else 0,
        "fource.out_mb": out_mb if fource else 0.0,
        "query.build_ms": dur(of("fn")),
        "query.action_ms": dur(of("action")),
        "query.unattributed_ms": sum(un[o["id"]] for o in ops),
        "plans.graft_nodes": sum(p["graft_nodes"] for p in plans),
        "exec.jobs": len(of("job")),
        "exec.stages": len(stages),
        "exec.tasks": sm("tasks"),
        "exec.task_ms": sm("task_ms"),
        "exec.cpu_ms": sm("cpu_ms"),
        "exec.gc_ms": sm("gc_ms"),
        "exec.core_busy": sm("task_ms") / (pass_ms * cores) if pass_ms else 0.0,
        "exec.scan_mb": sm("in_bytes") / MB,
        "exec.scan_rows": sm("in_rows"),
        "exec.rows_read_per_row_out": sm("in_rows") / rows_out if rows_out else 0.0,
        "exec.shuffle_write_mb": sm("shuffle_write_bytes") / MB,
        "exec.shuffle_read_mb": sm("shuffle_read_bytes") / MB,
        "exec.shuffle_wait_ms": sm("shuffle_wait_ms"),
        "exec.spill_mb": sm("spill_bytes") / MB,
        "exec.task_skew_p90": percentile(skews, 90)[0] if skews else 1.0,
        "exec.task_retries": sm("retries") + sm("failed"),
        "exec.broadcasts": sum(p["broadcasts"] for p in plans),
        "exec.broadcast_mb": sum(p["broadcast_bytes"] for p in plans) / MB,
        "exec.write_mb": sm("out_bytes") / MB,
        "exec.write_rows": sm("out_rows"),
        "stream.batches": len(batches),
        "stream.input_rows": sum(b["input_rows"] for b in batches),
        "stream.batch_p50_ms": median([b["end"] - b["start"] for b in batches]),
        "stream.addbatch_ms": sum(b["addbatch_ms"] for b in batches),
        "stream.planning_ms": sum(b["planning_ms"] for b in batches),
        "stream.commit_ms": sum(b["commit_ms"] for b in batches),
        "stream.state_rows": sum(v[0] for v in last_state.values()),
        "stream.state_mb": sum(v[1] for v in last_state.values()) / MB,
    }
    for k in PHASES:
        m[f"catalyst.{k}_ms"] = dur([s for s in of("phase") if s["name"] == k])
    for k in SELF_KINDS:
        m[f"self.{k}_ms"] = sum(st[s["id"]] for s in
                                (ops if k == "op" else of(k)))
    return m


def op_unattributed(spans, pass_ids):
    """query.unattributed_ms of each op, by op name, over passes."""
    un = unattributed(spans)
    out = {}
    for s in spans:
        if s["kind"] == "op" and s["parent"] in pass_ids:
            out.setdefault(s["name"], []).append(un[s["id"]])
    return out
