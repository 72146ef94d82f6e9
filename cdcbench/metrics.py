"""The metric names the benchmark emits, with their units.  BENCHMARK.json
lists exactly these (checked by selftest.py)."""

from __future__ import annotations

WORKLOADS = ("cdc_ingest", "replica_serve", "llm_corpus")

# Reported by every workload with --trace 0.  What the throughput and the
# latency mean on each workload is given in README.md.
END_TO_END = (
    ("setup_s", "s"),
    ("throughput_per_s", "1/s"),
    ("latency_p50_s", "s"),
    ("latency_tail_s", "s"),
)

# Workload-specific end-to-end figures printed before the result line
# and kept in the sidecar.
DETAIL = {
    "cdc_ingest": ("events_per_s", "commit_p50_s", "commit_tail_s"),
    "replica_serve": (
        "lookup_p50_s", "lookup_tail_s", "scan_p50_s", "history_p50_s",
        "query_p50_s", "trickle_p50_s",
    ),
    "llm_corpus": ("corpus_docs_per_s", "vectors_per_s"),
}

CORPUS_STAGES = ("quality", "exact_dedup", "neardup_dedup", "span_removal", "pack")

# Reported by every workload with --trace 1; a layer the workload does not
# exercise reports 0 (it did no work there).
PER_LAYER = (
    ("streaming.pipeline.drain_s", "s"),
    ("streaming.pipeline.jobs_per_drain", "count"),
    ("streaming.pipeline.cpu_s_per_event", "s"),
    ("streaming.pipeline.gc_s_per_drain", "s"),
    ("streaming.pipeline.bronze_bytes_per_event", "B"),
    ("streaming.pipeline.dlq_capture", "ratio"),
    ("streaming.merge.buckets_touched_p50", "count"),
    ("streaming.merge.rewrite_bytes_per_event", "B"),
    ("streaming.merge.shuffle_bytes_per_commit", "B"),
    ("streaming.merge.spill_bytes", "B"),
    ("streaming.merge.trickle_s", "s"),
    ("streaming.merge.trickle_jobs", "count"),
    ("streaming.merge.lookup_s", "s"),
    ("streaming.merge.lookup_jobs", "count"),
    ("streaming.merge.lookup_rows_read", "count"),
    ("streaming.merge.scan_s", "s"),
    ("streaming.merge.scan_rows_read", "count"),
    ("streaming.merge.history_s", "s"),
    ("streaming.merge.changes_buckets_read", "count"),
    ("storage.manifests_retained", "count"),
    ("storage.space_amp", "ratio"),
    ("storage.files_per_bucket", "count"),
    ("queries.query_s", "s"),
    ("queries.cpu_s", "s"),
    *((f"operators.corpus_pipeline.{s}_s", "s") for s in CORPUS_STAGES),
    ("operators.corpus_pipeline.jobs_per_build", "count"),
    ("operators.corpus_pipeline.cpu_s", "s"),
    ("operators.corpus_pipeline.gc_s", "s"),
    ("operators.corpus_pipeline.shuffle_bytes", "B"),
    ("operators.corpus_pipeline.spill_bytes", "B"),
    ("operators.corpus_pipeline.neardup_recall", "ratio"),
    ("operators.ann_scale.dedup_s", "s"),
    ("operators.ann_scale.cpu_s", "s"),
    ("operators.ann_scale.python_worker_cpu_s", "s"),
    ("operators.similarity.decontam_s", "s"),
    ("session.start_s", "s"),
    ("process.pinned_mb_end", "MB"),
    ("process.pinned_rdds_end", "count"),
    ("process.rss_peak_mb", "MB"),
)
