"""The benchmark's metrics: name, unit, direction, and for each per-layer
metric the end-to-end metric it should move and the workloads where it
shows. ``BENCHMARK.json`` lists the same names; ``README.md`` explains them.

A per-layer metric reads 0 on a workload that does not call its layer."""

from __future__ import annotations

# name -> (unit, better, bound); what an operation is per workload: README.md
END_TO_END = {
    "setup_s": ("s", "lower", 0.25),
    "op_p50_s": ("s", "lower", 0.24),
    "items_per_s": ("1/s", "higher", 0.24),
}

_WRITER_MOVES = ("ingest.batch_p50_s, ingest.store_bytes_per_input_byte (ingest); "
                 "setup_s (cypher_read)")
_CYPHER_MOVES = ("read.stmt_p50_s, read.stmt_tail_s, op_p50_s (cypher_read); "
                 "ingest.batch_tail_s (ingest)")

# name -> (unit, end-to-end metric it should move, workloads where it shows)
PER_LAYER: dict[str, tuple[str, str, str]] = {
    "session.get_spark_s": ("s", "setup_s", "all"),
    "writer.merge_nodes_s": ("s", _WRITER_MOVES, "ingest, cypher_read"),
    "writer.merge_edges_s": ("s", _WRITER_MOVES, "ingest, cypher_read"),
    "writer.jobs_per_batch": ("count", _WRITER_MOVES, "ingest, cypher_read"),
    "writer.task_s_per_batch": ("s", _WRITER_MOVES, "ingest, cypher_read"),
    "writer.files_written_per_batch": ("count", _WRITER_MOVES, "ingest, cypher_read"),
    "writer.bytes_written_per_batch": ("bytes", _WRITER_MOVES, "ingest, cypher_read"),
    "writer.write_amp": ("ratio", _WRITER_MOVES, "ingest, cypher_read"),
    "cypher_text.compile_s": ("s", _CYPHER_MOVES, "cypher_read, ingest"),
    "cypher_text.compile_jobs": ("count", _CYPHER_MOVES, "cypher_read, ingest"),
    "cypher_text.plan_s": ("s", _CYPHER_MOVES, "cypher_read, ingest"),
    "cypher_text.exec_s": ("s", _CYPHER_MOVES, "cypher_read, ingest"),
    "cypher_text.jobs_per_stmt": ("count", _CYPHER_MOVES, "cypher_read, ingest"),
    "cypher_text.tasks_per_stmt": ("count", _CYPHER_MOVES, "cypher_read, ingest"),
}
# pagerank, connected_components, strongly_connected_components
ALGORITHMS = ("pagerank", "cc", "scc")
_ALGO_FIELDS = {"jobs": "count", "stages": "count", "tasks": "count", "task_s": "s",
                "gc_s": "s", "shuffle_read_bytes": "bytes", "shuffle_write_bytes": "bytes",
                "spill_bytes": "bytes", "utilization": "ratio"}
for _a in ALGORITHMS:
    for _f, _u in _ALGO_FIELDS.items():
        PER_LAYER[f"algorithms.{_a}.{_f}"] = (_u, f"analytics.{_a}_s", "batch")
# curation spans, named after the module and function they call
CURATION = ("html_extract.extract_articles", "dedup.exact_dedup", "dedup.minhash_lsh_pairs",
            "text.paragraph_dedup", "similarity.cosine_topk", "multimodal.extract_media_features")
for _p in CURATION:
    PER_LAYER[f"{_p}_s"] = ("s", "curation.docs_per_s", "batch")
    PER_LAYER[f"{_p}.tasks"] = ("count", "curation.docs_per_s", "batch")
    PER_LAYER[f"{_p}.task_s"] = ("s", "curation.docs_per_s", "batch")
    PER_LAYER[f"{_p}.shuffle_bytes"] = ("bytes", "curation.docs_per_s", "batch")
PER_LAYER["multimodal.task_s_per_row"] = ("s", "curation.docs_per_s", "batch")
PER_LAYER["host.steal_share"] = ("ratio", "none (context)", "all")
PER_LAYER["host.cpus"] = ("count", "none (context)", "all")
PER_LAYER["jvm.gc_s"] = ("s", "none (context)", "all")
