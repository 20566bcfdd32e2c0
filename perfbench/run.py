#!/usr/bin/env python3
"""The repository benchmark: one command per workload run.

    python3 perfbench/run.py --workload tpch|corpus|stream --seed N \
        --seconds S --trace 0|1

Run from the repository root. It builds the engine and the harness from
source (first run only), generates the workload's inputs from the seed,
runs the workload in one JVM (perfbench/src), checks every output
against the DuckDB oracle, prints a report, and prints as its last line
one JSON object: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones; with --trace 1 the
per-layer ones, and the full per-query / per-batch record and spans are
written under perfbench/.work/traces/.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

from pb import build, gate, gen, metrics, spec, stats  # noqa: E402

HEAP = "3g"
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(msg, code=2):
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(code)


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def git_commit():
    """The checkout's commit, when it is a git work tree (else "unknown")."""
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                              capture_output=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def stream_inputs(seed, seconds):
    """Stage the stream's event files in one directory: file 0 (set-up)
    and the open-loop files as `ev-*`, then each drain's backlog as
    `b<round>-*`, numbered on so event time keeps advancing."""
    s = spec.STREAM
    n_open = int(seconds * 1000 / s["period_ms"]) + 2 + s["warmup_files"]
    shape = "-".join(str(s[k]) for k in sorted(s))
    d = os.path.join(WORK, "stream", f"s{seed}-v{gen.GEN_VERSION}-n{n_open}-{shape}")
    if not os.path.isdir(d):
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        gen.write_stream_files(seed, tmp, 0, n_open, s["events_per_file"], "ev")
        for r in range(s["drains"]):
            gen.write_stream_files(seed, tmp, n_open + r * s["backlog_files"],
                                   s["backlog_files"], s["events_per_file"], f"b{r}")
        os.replace(tmp, d)
    return d


def cpu_ticks():
    """(busy, steal) jiffies of the whole machine, from /proc/stat."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return None
    return sum(v) - v[3] - v[4], v[7] if len(v) > 7 else 0


def run_jvm(cp, args, run_dir):
    # The heap is pinned and resident from the start, so VmHWM minus the
    # heap is the memory outside it. The collector settings make the
    # heap-after-GC readings follow live data: a small young generation
    # makes young collections frequent, and old-generation marking from
    # 8% occupancy with at most 1% of the heap left as garbage keeps
    # promoted garbage out of them.
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-XX:+UseG1GC",
            "-Xmn128m", "-XX:-G1UseAdaptiveIHOP", "-XX:InitiatingHeapOccupancyPercent=8",
            "-XX:G1HeapWastePercent=1", "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={run_dir}/tmp", "-Dspark.ui.enabled=false"]
           + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main"]
           + [x for k, v in args.items() for x in (f"--{k}", str(v))])
    os.makedirs(f"{run_dir}/tmp", exist_ok=True)
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, cwd=run_dir)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = "timeout"
        finally:
            # also on SIGTERM / Ctrl-C: never leave the engine running
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if code != 0:
        tail = open(log, errors="replace").read().splitlines()[-30:]
        sys.stderr.write("\n".join(tail) + "\n")
        fail(f"engine run failed ({code})", 1)
    with open(args["out"]) as f:
        return json.load(f)


def fmt(v):
    return f"{v:.4f}" if isinstance(v, float) else str(v)


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(spec.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    toggles = [t for t in spec.ENV_TOGGLES if t in os.environ]
    if toggles:
        fail(f"refusing to run with operator A/B toggles set: {', '.join(toggles)}")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("engine sources not found next to perfbench/ (run from a full checkout)")

    t_start = time.time()
    os.makedirs(WORK, exist_ok=True)
    try:
        cp = build.classpath(ROOT, WORK, BUILD_TIMEOUT_S)
    except (RuntimeError, OSError, subprocess.SubprocessError) as e:
        fail(f"build failed: {e}", 1)

    w = spec.WORKLOADS[a.workload]
    data = gen.write_dataset(a.seed, os.path.join(WORK, "data", f"s{a.seed}-v{gen.GEN_VERSION}"))
    slots = max(1, nproc() - (1 if a.workload == "stream" else 0))
    run_dir = os.path.join(WORK, "runs", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    args = {"workload": a.workload, "data": data, "seed": a.seed,
            "seconds": a.seconds, "trace": a.trace, "slots": slots,
            "work": run_dir, "out": os.path.join(run_dir, "record.json")}
    if a.workload == "stream":
        args.update({
            "stream-dir": stream_inputs(a.seed, a.seconds),
            "stream-period-ms": spec.STREAM["period_ms"],
            "stream-trigger-ms": spec.STREAM["trigger_ms"],
            "stream-rows-per-file": spec.STREAM["events_per_file"],
            "stream-drains": spec.STREAM["drains"],
            "stream-warmup-files": spec.STREAM["warmup_files"]})
    else:
        args.update({"queries": ",".join(w["queries"]), "tables": ",".join(w["tables"])})
    ticks0 = cpu_ticks()
    rec = run_jvm(cp, args, run_dir)
    ticks1 = cpu_ticks()

    prov = dict(rec["provenance"], commit=git_commit(), nproc=nproc(),
                seed=a.seed, sf_dir=os.path.relpath(data, ROOT), workload=a.workload)
    if ticks0 and ticks1 and ticks1[0] > ticks0[0]:
        # CPU time the hypervisor withheld while the engine ran: a window
        # stamp for reading a noisy run
        prov["steal_share"] = round((ticks1[1] - ticks0[1]) / (ticks1[0] - ticks0[0]), 3)
    report = {"provenance": prov}
    if a.workload == "stream":
        e2e, extra = metrics.stream_end_to_end(rec)
        published = rec["files"]
        paths = [os.path.join(args["stream-dir"], f["file"]) for f in published]
        want, _, counts = gate.stream_oracle(data, paths[0], paths)
        attempted = sum(f["rows"] for f in published)
        failed = 0 if rec["final_hash"] == want else max(
            1, gate.events_off(rec["final_table"], counts))
        bad = {} if failed == 0 else {"stream_windows": f"{failed} events lost or double-counted"}
    else:
        phase = "traced" if a.trace else "timed"
        e2e, extra = metrics.batch_end_to_end(rec, phase)
        oracle = gate.oracle_hashes(data, rec["oracle_sql"], gen.ALL_TABLES)
        attempted, failed, bad = metrics.batch_gate(rec, oracle, phase)
    extra["failed_frac"] = failed / attempted
    report.update(end_to_end=e2e, reported=extra, failed_by_name=bad)

    if a.trace:
        layers = (metrics.stream_layers(rec) if a.workload == "stream"
                  else metrics.batch_layers(rec))
        report["per_layer"] = layers
        report["self_ms_by_layer"] = stats.self_time_by(rec.get("spans", []), "layer")
        if a.workload != "stream":
            report["counters_not_repeating"] = metrics.repeatability(rec)
        trace_dir = os.path.join(WORK, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        with open(os.path.join(trace_dir, f"{a.workload}-{a.seed}.json"), "w") as f:
            json.dump({"report": report, "record": rec}, f)
        result = layers
        units = {n: u for n, u, *_ in spec.PER_LAYER}
    else:
        result = e2e
        units = {n: u for n, u, *_ in spec.END_TO_END}

    print(f"# perfbench {a.workload} seed={a.seed} trace={a.trace} "
          f"wall={time.time() - t_start:.1f}s")
    for k, v in sorted(prov.items()):
        print(f"#   {k}: {v}")
    for name, unit, *_ in spec.END_TO_END:
        print(f"  {name:<22} {fmt(e2e[name]):>14} {unit}")
    for name, unit, _ in spec.REPORTED:
        v = extra.get(name)
        print(f"  {name:<22} {fmt(v) if v is not None else 'n/a':>14} {unit}")
    print(f"  samples: {extra.get('query_samples')} query runs"
          + (f", {extra['event_samples']} events" if "event_samples" in extra else ""))
    for q, why in sorted(bad.items()):
        print(f"  FAILED {q}: {why}")
    if a.trace:
        for name, unit, *_ in spec.PER_LAYER:
            print(f"  {name:<28} {fmt(layers[name]):>16} {unit}")
        own = report["self_ms_by_layer"]
        print("  self time by layer (ms): " + ", ".join(
            f"{k} {v}" for k, v in sorted(own.items(), key=lambda kv: -kv[1])))
        if a.workload != "stream":
            diffs = report["counters_not_repeating"]
            print("  counters not repeating between two traced runs: "
                  + ("; ".join(f"{q} {d}" for q, d in sorted(diffs.items())) or "none"))
    shutil.copy(args["out"], os.path.join(WORK, f"last-{a.workload}.json"))
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in result.items()},
    }))


if __name__ == "__main__":
    main()
