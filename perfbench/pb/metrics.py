"""Turn the harness's raw record into the benchmark's metrics."""
from . import stats
from .spec import PER_LAYER, REPEAT_COUNTERS

CATALYST = ("analysis", "optimization", "planning")


def _setup_s(rec, warmup_cpu_ms):
    """CPU time of the engine's Java threads over the cold session build
    and the warm-up. CPU time, not wall: on a shared VM the wall of the
    same set-up moves with the CPU time the hypervisor withholds (the
    wall is reported as setup_wall_s)."""
    return (rec["session_build_cpu_ms"] + warmup_cpu_ms) / 1000.0


def _memory(rec):
    """(peak_mem_mb, peak_rss_mb). The heap is pinned and pre-touched, so
    the resident set minus the heap is the memory outside it at its peak;
    peak_mem_mb adds the largest heap occupancy seen right after a GC."""
    after_gc = max(rec["heap_after_gc_kb"], default=0)
    outside = rec["vm_hwm_kb"] - rec["heap_committed_kb"]
    return (outside + after_gc) / 1024.0, rec["vm_hwm_kb"] / 1024.0


# ---------------------------------------------------------------- batch

def batch_end_to_end(rec, phase="timed"):
    runs = [r for r in rec["runs"] if r["phase"] == phase]
    passes = [p for p in rec["passes"] if p["phase"] == phase]
    lat = [r["total_ms"] / 1000.0 for r in runs]
    by_query = {}
    for r in runs:
        by_query.setdefault(r["query"], []).append(r["total_ms"] / 1000.0)
    p50, n = stats.percentile(lat, 50)
    warm = next(p for p in rec["passes"] if p["phase"] == "warmup")
    mem, rss = _memory(rec)
    return {
        "setup_s": _setup_s(rec, warm["cpu_ms"]),
        "peak_mem_mb": mem,
    }, {
        "peak_rss_mb": rss,
        "setup_wall_s": (rec["session_build_ms"] + warm["ms"]) / 1000.0,
        "pass_cpu_s": stats.median([p["cpu_ms"] / 1000.0 for p in passes]),
        "pass_s": stats.median([p["ms"] / 1000.0 for p in passes]),
        "query_p50_s": p50,
        "query_p90_s": stats.percentile(lat, 90)[0],
        "query_geomean_s": stats.geomean(stats.median(v) for v in by_query.values()),
        "query_samples": n, "passes": len(passes),
    }


def batch_gate(rec, oracle, phase="timed"):
    """(attempted, failed runs, {query: reason}) for the runs of `phase`."""
    runs = [r for r in rec["runs"] if r["phase"] == phase]
    bad = {}
    failed = 0
    for r in runs:
        want = oracle.get(r["query"])
        if "error" in r:
            reason = r["error"]
        elif not isinstance(want, tuple):
            reason = want or "no oracle registered"
        elif r.get("hash") != want[0]:
            reason = f"hash mismatch ({r.get('rows')} rows vs oracle {want[1]})"
        else:
            continue
        failed += 1
        bad.setdefault(r["query"], reason)
    return len(runs), failed, bad


def batch_layers(rec):
    """Per-layer metrics of a traced batch run: per-pass sums over the
    traced passes (median across passes), Tables probe medians, session
    build median, span coverage and the tracing overhead."""
    traced = [r for r in rec["runs"] if r["phase"] == "traced"]
    per_pass = {}
    for r in traced:
        acc = per_pass.setdefault(r["pass"], {})
        for k, v in r.items():
            if "." in k and isinstance(v, (int, float)):
                acc[k] = acc.get(k, 0) + v
        acc["operators.construct_ms"] = acc.get("operators.construct_ms", 0) + r["construct_ms"]
    out = {}
    keys = set().union(*per_pass.values()) if per_pass else set()
    for k in keys:
        out[k] = stats.median([p.get(k, 0) for p in per_pass.values()])
    out["exec.run_share"] = (out["exec.run_ms"] / out["exec.task_ms"]
                             if out.get("exec.task_ms") else 0.0)
    out.update(_common_layers(rec))
    spans = rec.get("spans", [])
    out["trace.uncovered_share"] = uncovered(spans)
    base = [p["cpu_ms"] for p in rec["passes"] if p["phase"] == "untraced"]
    tr = [p["cpu_ms"] for p in rec["passes"] if p["phase"] == "traced"]
    out["trace.overhead_share"] = (stats.median(tr) - stats.median(base)) / stats.median(base)
    return complete(out)


def _common_layers(rec):
    """Cold session build and `Tables.t` probe medians."""
    probe = rec.get("tables_probe", [])
    return {
        "session.build_ms": rec["session_build_ms"],
        "tables.resolve_ms": stats.median([p["ms"] for p in probe]) if probe else 0.0,
        "tables.resolve_jobs": stats.median([p["jobs"] for p in probe]) if probe else 0.0,
    }


def uncovered(spans):
    """Share of summed query wall time outside every Catalyst phase and
    job span (driver-side glue: DataFrame building, result collection,
    scheduling gaps)."""
    leaves = {}
    for s in spans:
        if s["name"] in CATALYST or s["name"] == "job":
            leaves.setdefault(s["run"], []).append(s)
    total = covered = 0
    for q in (s for s in spans if s["name"] == "query"):
        dur = q["end"] - q["start"]
        total += dur
        covered += dur * (1 - stats.uncovered_share(q, leaves.get(q["run"], [])))
    return (total - covered) / total if total else 0.0


def repeatability(rec):
    """{query: [counter, ...]} for counters that differ between two traced
    runs of the same query."""
    by_query = {}
    for r in rec["runs"]:
        if r["phase"] == "traced":
            by_query.setdefault(r["query"], []).append(r)
    out = {}
    for q, rs in sorted(by_query.items()):
        a, b = rs[-2], rs[-1]
        diff = [c for c in REPEAT_COUNTERS if a.get(c) != b.get(c)]
        if diff:
            out[q] = {c: [a.get(c), b.get(c)] for c in diff}
    return out


# ---------------------------------------------------------------- stream

def _file_rows(rec):
    """Published files, each with the micro-batch that consumed it: the
    first batch whose source offset reached the file's log offset."""
    batches = sorted(rec["batches"], key=lambda b: b["batch"])
    out = []
    for f in rec["files"]:
        off = rec["file_offsets"].get(f["file"])
        b = next((b for b in batches if off is not None and b["end_offset"] >= off), None)
        out.append(dict(f, batch=b))
    return out


def stream_end_to_end(rec):
    files = _file_rows(rec)
    if any(f["batch"] is None for f in files):
        raise ValueError("a published file has no consuming micro-batch")
    open_files = [f for f in files if f["kind"] == "open"]
    event_ms = []
    for f in open_files:
        event_ms += [f["batch"]["end"] - f["due"]] * f["rows"]
    # the open loop's micro-batches: one population of equal-sized batches
    # (the drains' larger batches are timed by pass_s)
    timed = {f["batch"]["batch"]: f["batch"] for f in open_files}
    trig = [b["duration_ms"]["triggerExecution"] / 1000.0 for b in timed.values()]
    drains = []
    for r in range(len(rec["drain_starts"])):
        mine = [f for f in files if f.get("drain") == r]
        secs = (max(f["batch"]["end"] for f in mine)
                - min(f["batch"]["start"] for f in mine)) / 1000.0
        drains.append((secs, sum(f["rows"] for f in mine) / secs))
    p50, n = stats.percentile(trig, 50)
    e50, n_events = stats.percentile(event_ms, 50)
    mem, rss = _memory(rec)
    return {
        "setup_s": _setup_s(rec, rec["setup_cpu_ms"]),
        "peak_mem_mb": mem,
    }, {
        "peak_rss_mb": rss,
        "setup_wall_s": (rec["session_build_ms"] + rec["setup_ms"]) / 1000.0,
        "pass_cpu_s": stats.median(rec["drain_cpu_ms"]) / 1000.0,
        "pass_s": stats.median([d[0] for d in drains]),
        "query_p50_s": p50,
        "query_p90_s": stats.percentile(trig, 90)[0],
        "query_geomean_s": stats.geomean(trig),
        "event_p50_ms": e50,
        "event_p90_ms": stats.percentile(event_ms, 90)[0],
        "stream_eps": stats.median([d[1] for d in drains]),
        "query_samples": n, "event_samples": n_events,
        "files_open": len(open_files), "drains": len(drains),
    }


def stream_layers(rec):
    """Per-layer metrics of a traced stream run: per micro-batch medians
    over the open-loop batches that ran after the listener was added,
    plus run-level counts."""
    files = _file_rows(rec)
    installed = rec["trace_installed_at"]
    open_loop = {f["batch"]["batch"]: f["batch"] for f in files if f["kind"] == "open"}
    traced = [b for b in open_loop.values() if b["start"] >= installed]
    untraced = [b for b in open_loop.values() if b["start"] < installed]
    d = lambda b, k: b["duration_ms"].get(k, 0)
    med = lambda xs: stats.median(xs) if xs else 0.0
    out = {
        **_common_layers(rec),
        "operators.construct_ms": rec["construct_ms"],
        "streaming.trigger_ms": med([d(b, "triggerExecution") for b in traced]),
        "streaming.add_batch_ms": med([d(b, "addBatch") for b in traced]),
        "streaming.planning_ms": med([d(b, "queryPlanning") for b in traced]),
        "streaming.wal_commit_ms": med([d(b, "walCommit") for b in traced]),
        "streaming.latest_offset_ms": med([d(b, "latestOffset") for b in traced]),
        "streaming.batches": len([b for b in rec["batches"] if b["rows"] > 0]),
        "streaming.state_rows": rec["batches"][-1]["state_rows"],
        "streaming.state_mem_bytes": rec["batches"][-1]["state_mem_bytes"],
        "streaming.late_rows_dropped": sum(b["late_rows_dropped"] for b in rec["batches"]),
    }
    # files published but not yet consumed when each batch started
    pending = []
    for b in rec["batches"]:
        pending.append(sum(1 for f in files if f["released"] <= b["start"]
                           and f["batch"] is not None and f["batch"]["batch"] >= b["batch"]))
    out["streaming.backlog_files"] = med(pending)
    lags = [f["released"] - f["due"] for f in files if f["kind"] == "open"]
    out["gen.lag_ms"] = stats.percentile(lags, 90)[0] if lags else 0.0
    counters = rec.get("batch_counters", [])
    by_batch = {c["batch"]: c for c in counters}
    for k in {k for c in counters for k in c if "." in k}:
        out[k] = med([by_batch[b["batch"]].get(k, 0) for b in traced if b["batch"] in by_batch])
    if out.get("exec.task_ms"):
        out["exec.run_share"] = out["exec.run_ms"] / out["exec.task_ms"]
    spans = rec.get("spans", [])
    batch_spans = [s for s in spans if s["name"] == "batch"]
    total = sum(s["end"] - s["start"] for s in batch_spans)
    if total:
        own = stats.self_times(spans)
        out["trace.uncovered_share"] = sum(own[s["id"]] for s in batch_spans) / total
    if traced and untraced:
        t, u = (med([d(b, "triggerExecution") for b in xs]) for xs in (traced, untraced))
        out["trace.overhead_share"] = (t - u) / u if u else 0.0
    return complete(out)


def complete(out):
    """Every per-layer metric present: a layer a workload does not use
    reads 0."""
    return {name: float(out.get(name, 0.0)) for name, *_ in PER_LAYER}
