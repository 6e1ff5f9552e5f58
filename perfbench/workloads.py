"""Op lists of the spark-graft benchmark's workloads.

Workload names, the reason each was chosen and the metric names and units
live in ``BENCHMARK.json`` at the repository root; this module only says
which registered queries (``core.registry``) each workload runs. The ops
read the read-only sf0.1 parquet fixtures, which sit beside the driver
contract's sf0.001 smoke fixtures (``__spark_entry__.SMOKE_SF_DIR``). The
seed never changes the data: it only sets the op order of every pass and the
inputs of the operator micro-timings, so every answer is seed-independent.
"""

from __future__ import annotations

OPS: dict[str, tuple[str, ...]] = {
    "metadata_planning": (
        "q_partition_filter",
        "q_minmax_prune",
        "q_skip_rate",
        "q_time_travel",
        "q_compaction",
        "q_partition_summary",
        "q_dv_hash_join",
        "q_equality_delete",
        "q_agg_stats",
        "q_cost_model",
        "q_top1",
    ),
    "corpus_ingest": (
        "q_khop",
        "q_corpus_select",
        "q_csv_roundtrip",
        "q_media_features",
        "q_dv_payload_roundtrip",
        "q_jsonl_roundtrip",
    ),
}
