"""Metric names, units and directions.  ``BENCHMARK.json`` lists the
same metrics; a self-test keeps the two in step."""

from __future__ import annotations

import statistics

# (name, unit, better, bound) — reported with tracing off, by every
# workload over its own kinds of call (NOTES.md defines each per workload)
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("op_p50_s", "s", "lower", 0.25),
    ("op_tail_s", "s", "lower", 0.25),
    ("work_per_s", "1/s", "higher", 0.25),
    ("write_amp", "ratio", "lower", 0.1),
]

# (name, unit) — reported with tracing on; 0 on a workload that
# bypasses the layer
PER_LAYER = [
    ("session.start_s", "s"),
    ("session.pinned_rdds", "count"),
    ("sources.vector_store.upsert.exec_s", "s"),
    ("sources.vector_store.upsert.bytes_written", "bytes"),
    ("sources.vector_store.upsert.files_written", "count"),
    ("sources.vector_store.upsert.partitions_rewritten", "count"),
    ("sources.vector_store.delete_batch.exec_s", "s"),
    ("sources.vector_store.get.plan_s", "s"),
    ("sources.vector_store.get.exec_s", "s"),
    ("sources.vector_store.get.input_bytes", "bytes"),
    ("operators.search.knn.build_s", "s"),
    ("operators.search.knn.plan_s", "s"),
    ("operators.search.knn.exec_s", "s"),
    ("operators.search.knn.cpu_s", "s"),
    ("operators.search.knn.tasks", "count"),
    ("operators.search.knn.input_bytes", "bytes"),
    ("operators.search.knn_batch.exec_s", "s"),
    ("operators.search.knn_batch.cpu_s", "s"),
    ("operators.search.knn_batch.tasks", "count"),
    ("operators.search.knn_batch.shuffle_write_bytes", "bytes"),
    ("functions.vector.dims_scored_per_cpu_s", "1/s"),
    ("operators.skew.scoring_tasks", "count"),
    ("operators.ann.kmeans_refine.exec_s", "s"),
    ("operators.ann.kmeans_refine.jobs", "count"),
    ("operators.ann.kmeans_refine.shuffle_write_bytes", "bytes"),
    ("operators.index.build_ivf_index.exec_s", "s"),
    ("operators.index.build_ivf_index.bytes_written", "bytes"),
    ("operators.index.search_ivf_index.build_s", "s"),
    ("operators.index.search_ivf_index.exec_s", "s"),
    ("operators.index.search_ivf_index.input_bytes", "bytes"),
    ("operators.index.search_ivf_index.candidates_per_query", "count"),
    ("operators.index.search_ivf_index.recall_at_10", "ratio"),
    ("operators.index.append_to_ivf_index.exec_s", "s"),
    ("sources.versioned.manifests_written", "count"),
    ("sources.versioned.manifest_bytes", "bytes"),
    ("sources.versioned.read.plan_s", "s"),
    ("operators.dedup.near_dedup.build_s", "s"),
    ("operators.dedup.near_dedup.exec_s", "s"),
    ("operators.dedup.near_dedup.jobs", "count"),
    ("operators.dedup.near_dedup.cpu_s", "s"),
    ("operators.dedup.near_dedup.python_stage_cpu_s", "s"),
    ("operators.dedup.near_dedup.shuffle_write_bytes", "bytes"),
    ("operators.dedup.near_dedup.spill_bytes", "bytes"),
    ("operators.dedup.verify_yield", "ratio"),
    ("operators.dedup.dup_pair_recall", "ratio"),
    ("operators.fingerprint_store.probe.exec_s", "s"),
    ("operators.fingerprint_store.probe.candidates", "count"),
    ("operators.fingerprint_store.append.exec_s", "s"),
    ("operators.fingerprint_store.append.bytes_written", "bytes"),
    ("streaming.batches", "count"),
    ("streaming.query_planning_ms", "ms"),
    ("streaming.get_batch_ms", "ms"),
    ("streaming.add_batch_ms", "ms"),
    ("streaming.wal_commit_ms", "ms"),
    ("streaming.state_rows_total", "count"),
    ("streaming.state_memory_bytes", "bytes"),
    ("trace.overhead_frac", "ratio"),
]

UNITS = {n: u for n, u, *_ in END_TO_END} | dict(PER_LAYER)


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def tail(xs) -> tuple[float, float, int]:
    """``(value, percentile, n)``: the highest percentile with at least
    ten samples beyond it, i.e. the 11th largest sample, at percentile
    100·(n-10)/n.  Below 40 samples that percentile falls under p75, which
    is no tail, and the maximum is reported at percentile 100."""
    xs = sorted(xs)
    n = len(xs)
    if n == 0:
        return 0.0, 0.0, 0
    if n < 40:
        return float(xs[-1]), 100.0, n
    return float(xs[n - 11]), 100.0 * (n - 10) / n, n
