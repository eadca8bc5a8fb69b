"""Workload definitions and the metric catalogue of the benchmark.

A workload maps a fixed list of registry keys to the module each key lives
in (``fn.__module__`` below the package, frozen here so metric names stay
stable if a key later moves). One client runs the list in a closed loop,
one key after another, in an order permuted by the run's seed.
``BENCHMARK.json`` names the same workloads and metrics; the tests in this
directory check that the two agree.
"""

from __future__ import annotations

WORKLOADS: dict[str, dict[str, str]] = {
    # The reference-parity path: the custom Python feed source with a resume
    # cursor and a restart, the foreachBatch upsert sink, checkpoints and a
    # state store. The only workload that writes.
    "listener_stream": {
        "q_stream_listener_e2e": "sources.feed",
        "q_stream_tumbling": "streaming.queries",
    },
    # JVM-only, read-only scans, exchanges and joins: no Python stage and no
    # state store. q_agg_time_rollup is the batch twin of q_stream_tumbling.
    "batch_analytics": {
        "q_agg_groupby": "operators.aggregations",
        "q_agg_time_rollup": "operators.aggregations",
        "q_join_star": "operators.joins",
        "q_tpch_q21ish": "operators.tpch",
        "q_tpch_q18_bucketed": "operators.storage",
    },
    # Arrow mapInPandas kernels (winnowing, MinHash signatures) and the
    # exchange-heavy LSH verify join over a small corpus.
    "llm_corpus": {
        "q_llm_exact_dedup": "llm.dedup",
        "q_llm_winnow": "llm.prep",
        "q_llm_minhash_bucketed": "llm.dedup",
    },
}

# Headline keys of bench.py that no workload times, with the reason.
_BUDGET = "a pass of every headline key does not fit the benchmark's time budget"
NOT_TIMED = dict.fromkeys(
    (
        "q_stream_upsert_latest",
        "q_win_topk_group",
        "q_agg_count_distinct",
        "q_evt_sessionize",
        "q_cdc_merge",
        "q_evt_rfm",
        "q_evt_survival",
        "q_join_bloom",
        "q_llm_corpus_prep",
        "q_llm_decontaminate",
        "q_llm_pq_adc",
        "q_llm_bigram_lm",
        "q_llm_cms_topk",
        "q_llm_kl_divergence",
        "q_llm_span_removal",
        "q_llm_char_entropy",
        "q_llm_repetition",
    ),
    _BUDGET,
)

# Fixture tables whose parquet footers each workload reads.
TABLES: dict[str, tuple[str, ...]] = {
    "listener_stream": ("events",),
    "batch_analytics": ("customer", "supplier", "orders", "lineitem", "events"),
    "llm_corpus": ("documents",),
}

# Keys whose construction builds a bucketed layout (operators.storage).
LAYOUT_KEYS: dict[str, tuple[str, ...]] = {
    "listener_stream": (),
    "batch_analytics": ("q_tpch_q18_bucketed",),
    "llm_corpus": ("q_llm_minhash_bucketed",),
}

# Workloads that start Python workers (feed source, foreachBatch, kernels).
PYTHON_WORKERS = {"listener_stream": True, "batch_analytics": False, "llm_corpus": True}

# Top-level modules of the package that Spark stages are attributed to.
MODULES = ("operators", "llm", "streaming", "sources")

SPARK_EXEC_METRICS = {
    "tasks": "count",
    "task_skew": "ratio",
    "executor_run_s": "s",
    "executor_cpu_s": "s",
    "gc_s": "s",
    "shuffle_write_bytes": "bytes",
    "shuffle_read_bytes": "bytes",
    "spill_bytes": "bytes",
    "input_rows": "count",
    "python_stage_s": "s",
}

STREAM_METRICS = {
    "streaming.batches": "count",
    "streaming.batch_latency_p50_s": "s",
    "streaming.batch_latency_tail_s": "s",
    "streaming.empty_batch_frac": "ratio",
    "streaming.add_batch_ms": "ms",
    "streaming.checkpoint_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.state_commit_ms": "ms",
    "streaming.state_store_instances": "count",
    "streaming.state_rows": "count",
    "streaming.bytes_written_per_event": "bytes",
    "sources.feed_rows_per_s": "1/s",
    "sources.get_batch_ms": "ms",
}

SETUP_METRICS = {
    "session.get_spark_s": "s",
    "scratch.replay_materialize_s": "s",
    "operators.storage.layout_build_s": "s",
    "operators.storage.layout_attach_s": "s",
    "operators.storage.layouts_cold": "count",
    "warmup_pass_s": "s",
}

PROCESS_METRICS = {
    "driver_cpu_s": "s",
    "python_worker_cpu_s": "s",
    "trace_overhead_frac": "ratio",
}

# The end-to-end metrics a run reports in its result line. Every report line
# also prints peak_rss_mb (JVM VmHWM plus the largest Python worker's) and,
# on listener_stream, the micro-batch latencies (triggerExecution p50 and
# tail), with quartiles and sample counts. Those three vary between runs on a
# 4-core box by more than the largest bound a benchmark may set (G1 sizes the
# growable heap by GC timing; a pass runs only nine micro-batches), so they
# are reported but not bounded; the latencies are also per-layer metrics of
# the traced run.
END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
}

# Which end-to-end metric, on which workloads, each layer metric should move.
PREDICTIONS = {
    "session.get_spark_s": ("setup_s", "all"),
    "scratch.replay_materialize_s": ("setup_s", "listener_stream"),
    "operators.storage.layout_build_s": ("setup_s", "batch_analytics llm_corpus"),
    "operators.storage.layout_attach_s": ("setup_s", "batch_analytics llm_corpus"),
    "operators.storage.layouts_cold": ("setup_s", "batch_analytics llm_corpus"),
    "warmup_pass_s": ("setup_s", "all"),
    "<module>.<key>.construct_s": ("pass_s", "the key's workload"),
    "<module>.<key>.execute_s": ("pass_s", "the key's workload"),
    "llm.shuffle_write_bytes": ("pass_s", "llm_corpus; no change on batch_analytics"),
    "llm.python_stage_s": ("pass_s", "llm_corpus; no change on batch_analytics"),
    "python_worker_cpu_s": ("pass_s", "llm_corpus; no change on batch_analytics"),
    "operators.task_skew": ("pass_s", "batch_analytics; barely llm_corpus"),
    "operators.tasks": ("pass_s", "batch_analytics; barely llm_corpus"),
    "*.gc_s": ("peak_rss_mb (reported) streaming.batch_latency_tail_s", "all"),
    "streaming.*": ("pass_s streaming.batch_latency_p50_s/tail_s", "listener_stream only"),
    "sources.feed_rows_per_s": ("pass_s streaming.batch_latency_p50_s", "listener_stream only"),
    "sources.get_batch_ms": ("pass_s streaming.batch_latency_p50_s", "listener_stream only"),
}


def all_keys() -> dict[str, str]:
    """Every workload key -> its module."""
    return {k: m for keys in WORKLOADS.values() for k, m in keys.items()}


def key_metric(key: str, part: str) -> str:
    return f"{all_keys()[key]}.{key}.{part}"


def per_layer_metrics() -> dict[str, str]:
    """Every per-layer metric name -> unit."""
    out = dict(SETUP_METRICS)
    for key in all_keys():
        out[key_metric(key, "construct_s")] = "s"
        out[key_metric(key, "execute_s")] = "s"
    for mod in MODULES:
        for name, unit in SPARK_EXEC_METRICS.items():
            out[f"{mod}.{name}"] = unit
    out.update(STREAM_METRICS)
    out.update(PROCESS_METRICS)
    return out
