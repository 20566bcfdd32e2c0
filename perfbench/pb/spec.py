"""What the benchmark runs and reports: workloads, their queries, and every
metric with its unit and the end-to-end metric it is expected to move.

`BENCHMARK.json` at the repository root lists the same workloads and
metrics; `tests/test_spec.py` keeps the two in step.
"""

# Each run pays a fixed ~20 s (JVM, session, JIT warm-up of the first
# query, oracle) and the benchmark's whole schedule must fit a fixed time
# budget, so each batch workload runs a fixed subset of its family that
# keeps the family's layer mix (perfbench/README.md lists what is left
# out and why).
TPCH = [
    "q07_tpch_q1", "q42_tpch_q3", "q43_tpch_q5", "q104_tpch_q6", "q106_tpch_q9",
    "q108_tpch_q11", "q110_tpch_q13", "q94_tpch_q21",
    # not TPC-H: a parquet write and re-read of part of lineitem, so the
    # sink layer is measured on a gated workload
    "q02_sink_roundtrip",
]

CORPUS = [
    "q27_dedup_minhash", "q28_dedup_embed", "q70_pii_redact",
    "q76_export_manifest", "q87_bigram_lm", "q88_dsir",
]

WORKLOADS = {
    "tpch": {
        "queries": TPCH,
        "tables": ["region", "nation", "customer", "supplier", "part", "orders",
                   "lineitem"],
        "why": "8 TPC-H queries and a parquet round-trip at sf0.1, closed "
               "loop, one client: table resolution, constructor prejobs, "
               "Catalyst and per-job scheduling outweigh task compute",
    },
    "corpus": {
        "queries": CORPUS,
        "tables": ["documents", "embeddings"],
        "why": "6 LLM-corpus operators at sf0.1, closed loop, one client: task "
               "compute, codegen'd expressions and exploded shuffles dominate; "
               "the export exercises the sink path",
    },
    "stream": {
        "queries": [],
        "tables": ["customer"],
        "why": "open-loop event files into one dedup -> static join -> "
               "watermarked window query: per-batch Catalyst, exchange, state "
               "store and WAL cost, then backlog drains",
    },
}

# stream workload shape: after the set-up batch, warmup_files files in
# two untimed batches; then one file every period_ms for the run's
# seconds, a trigger every trigger_ms, events_per_file events per file;
# then `drains` drains of backlog_files files each
STREAM = {"period_ms": 250, "trigger_ms": 2000, "events_per_file": 1000,
          "warmup_files": 16, "backlog_files": 60, "drains": 3}

# Gated end-to-end metrics: (name, unit, better, bound, meaning on batch
# workloads / on stream). Only figures that leave out stolen time held a
# bound of 25% or less over ten seeds on the VM this was built on: the
# hypervisor withheld 5% to 40% of the guest's CPU time (steal) between
# runs minutes apart, which moved tpch's pass wall from 10 s to 19 s, and
# even the engine threads' CPU time per stream drain moved by 30% within
# one set of ten runs. Every other end-to-end metric is printed
# (REPORTED below).
END_TO_END = [
    ("setup_s", "s", "lower", 0.25,
     "CPU time of the engine's Java threads over the cold session build "
     "plus the untimed warm-up pass / plus checkpoint init and the first "
     "micro-batch"),
    ("peak_mem_mb", "MB", "lower", 0.1,
     "memory the engine needs at its peak: the process's resident memory "
     "outside the Java heap at its peak (VmHWM minus the pinned, pre-touched "
     "heap) plus the largest heap occupancy right after a garbage collection"),
]

# reported by the command, not gated: times (see above), a share that is
# zero on a correct run, and metrics defined on the stream only
REPORTED = [
    ("setup_wall_s", "s", "wall time of the same set-up"),
    ("peak_rss_mb", "MB", "VmHWM of the engine process at the end of the "
     "workload; it holds the whole pinned heap"),
    ("pass_cpu_s", "s", "median CPU time of the engine's Java threads during one "
     "pass / during one drain: the compute the work costs (JIT compiler and GC "
     "threads are left out)"),
    ("pass_s", "s", "median wall of one closed-loop pass over the query list / "
     "median wall of the drain of a pre-generated backlog"),
    ("query_p50_s", "s", "median query latency, constructor plus action / "
     "median open-loop micro-batch trigger duration"),
    ("query_p90_s", "s", "90th percentile of the same samples"),
    ("query_geomean_s", "s", "geometric mean of per-query medians / of "
     "open-loop micro-batch durations"),
    ("failed_frac", "ratio", "failed or wrong-answer operations over operations "
     "attempted; stream: events lost or double-counted over events generated"),
    ("event_p50_ms", "ms", "stream: from the time an event's file was due to the "
     "end of the micro-batch that consumed it"),
    ("event_p90_ms", "ms", "stream: 90th percentile of the same"),
    ("stream_eps", "events/s", "stream: drain throughput over the backlog"),
]

# (name, unit, better, end-to-end metric it should move)
PER_LAYER = [
    ("session.build_ms", "ms", "lower", "setup_s, every workload"),
    ("tables.resolve_ms", "ms", "lower", "query_geomean_s on tpch"),
    ("tables.resolve_jobs", "count", "lower", "query_geomean_s on tpch"),
    ("scan.bytes_read", "bytes", "lower", "query_geomean_s on tpch"),
    ("scan.records_read", "count", "lower", "query_geomean_s on tpch"),
    ("operators.construct_ms", "ms", "lower",
     "query_geomean_s on tpch; pass_s on corpus"),
    ("operators.prejobs", "count", "lower",
     "query_geomean_s on tpch; pass_s on corpus"),
    ("catalyst.analysis_ms", "ms", "lower",
     "query_geomean_s on tpch; per trigger on stream"),
    ("catalyst.optimization_ms", "ms", "lower",
     "query_geomean_s on tpch; per trigger on stream"),
    ("catalyst.planning_ms", "ms", "lower",
     "query_geomean_s on tpch; per trigger on stream"),
    ("exec.ms", "ms", "lower", "pass_s on corpus; query_geomean_s on tpch"),
    ("exec.jobs", "count", "lower", "query_geomean_s on tpch"),
    ("exec.stages", "count", "lower", "query_geomean_s on tpch"),
    ("exec.tasks", "count", "lower", "query_geomean_s on tpch"),
    ("exec.task_ms", "ms", "lower", "pass_s on corpus"),
    ("exec.run_ms", "ms", "lower", "pass_s on corpus"),
    ("exec.cpu_ms", "ms", "lower", "pass_s on corpus"),
    ("exec.gc_ms", "ms", "lower", "pass_s on corpus"),
    ("exec.run_share", "ratio", "higher", "pass_s on corpus"),
    ("exchange.write_bytes", "bytes", "lower", "pass_s on corpus"),
    ("exchange.write_records", "count", "lower", "pass_s on corpus"),
    ("exchange.write_ms", "ms", "lower", "pass_s on corpus"),
    ("exchange.read_bytes", "bytes", "lower", "pass_s on corpus"),
    ("exchange.fetch_wait_ms", "ms", "lower", "pass_s on corpus"),
    ("exchange.spill_bytes", "bytes", "lower", "pass_s on corpus"),
    ("sink.bytes_written", "bytes", "lower",
     "pass_s on corpus (export); query_geomean_s on tpch (q02 round-trip)"),
    ("sink.write_ms", "ms", "lower",
     "pass_s on corpus (export); query_geomean_s on tpch (q02 round-trip)"),
    ("streaming.trigger_ms", "ms", "lower", "event_p50_ms, event_p90_ms on stream"),
    ("streaming.add_batch_ms", "ms", "lower",
     "event latency and stream_eps (pass_s) on stream"),
    ("streaming.planning_ms", "ms", "lower", "event latency on stream"),
    ("streaming.wal_commit_ms", "ms", "lower", "event latency on stream"),
    ("streaming.latest_offset_ms", "ms", "lower", "event latency on stream"),
    ("streaming.batches", "count", "lower", "event latency on stream"),
    ("streaming.state_rows", "count", "lower", "event latency on stream"),
    ("streaming.state_mem_bytes", "bytes", "lower", "event latency on stream"),
    ("streaming.late_rows_dropped", "count", "higher",
     "none; the late events the generator injected, all dropped"),
    ("streaming.backlog_files", "count", "lower", "event latency on stream"),
    ("gen.lag_ms", "ms", "lower", "none; validity check of event_* on stream"),
    ("trace.uncovered_share", "ratio", "lower",
     "none; share of query wall time no layer span covers"),
    ("trace.overhead_share", "ratio", "lower",
     "none; traced minus untraced pass CPU (batch) or batch time (stream)"),
]

# operator-path A/B toggles read inside the engine; a stray one silently
# changes the plans being measured, so the benchmark refuses to start
ENV_TOGGLES = ["SPARK_GRAFT_FANOUT", "SPARK_GRAFT_FANOUT_WIDTH",
               "SPARK_GRAFT_Q97_CKPT", "SPARK_GRAFT_BCAST", "SPARK_GRAFT_BCAST_AQE"]

# counters compared between two traced runs of each batch query
REPEAT_COUNTERS = ["exec.jobs", "exec.stages", "exec.tasks", "operators.prejobs",
                   "exchange.write_records"]
