"""The benchmark's metrics: name -> (unit, better). BENCHMARK.json at the
repository root lists the same tables (a test keeps them equal)."""

END_TO_END = {
    "setup_s": ("s", "lower"),
    "build_s": ("s", "lower"),
    "triples_per_s": ("1/s", "higher"),
    "rows_per_s": ("1/s", "higher"),
    "peak_rss_mb": ("MB", "lower"),
    "output_bytes_per_triple": ("B", "lower"),
}

# Metrics of one traced operation, named after the engine's modules.
_OP_LAYERS = {
    "spec.parse_s": "s",
    "compiler.plan_s": "s",
    "compiler.extract_s": "s",
    "compiler.cpu_s": "s",
    "compiler.gc_s": "s",
    "compiler.rows_in": "count",
    "compiler.raw_nodes": "count",
    "compiler.raw_edges": "count",
    "compiler.staging_bytes": "B",
    "fusion.s": "s",
    "fusion.cpu_s": "s",
    "fusion.gc_s": "s",
    "fusion.shuffle_write_bytes": "B",
    "fusion.shuffle_read_bytes": "B",
    "fusion.spill_bytes": "B",
    "fusion.task_skew": "ratio",
    "fusion.node_dedup_ratio": "ratio",
    "fusion.edge_dedup_ratio": "ratio",
    "fusion.shuffle_bytes_per_raw_row": "B",
    "fusion.merge_s": "s",
    "fusion.merge_history_bytes_read": "B",
    "fusion.merge_shuffle_bytes": "B",
    "pipeline.write_s": "s",
    "pipeline.count_s": "s",
    "pipeline.output_bytes": "B",
    "pipeline.output_files": "count",
    "pipeline.jobs": "count",
    "pipeline.scan_amplification": "ratio",
    "pipeline.recompute_ratio": "ratio",
    "neo4j_export.s": "s",
    "neo4j_export.jobs": "count",
    "neo4j_export.shuffle_write_bytes": "B",
    "neo4j_export.output_bytes": "B",
    "rdf_export.s": "s",
    "rdf_export.triples": "count",
    "rdf_export.output_bytes": "B",
}
SHARES = ["share.compiler", "share.fusion", "share.pipeline", "share.exports"]

# every per-layer metric except the input it was given is better lower
_HIGHER = {"compiler.rows_in", "rdf_export.triples"}
PER_LAYER = {
    name: (unit, "higher" if name in _HIGHER else "lower")
    for name, unit in {"session.start_s": "s", **_OP_LAYERS,
                       **dict.fromkeys(SHARES, "ratio"),
                       "trace.overhead_s": "s"}.items()
}


def zero_layers() -> dict:
    """Per-operation layer metrics, all 0 (a layer a workload does not run
    reads 0)."""
    return dict.fromkeys(_OP_LAYERS, 0.0)
