"""Per-layer metrics: the workloads whose traced run measures each one,
and the end-to-end metric and workload it is expected to move. Names,
units and directions are in ``BENCHMARK.json``'s ``per_layer`` list.

``ALL`` in the workload column means every workload; any other workload's
traced run reports the metric as 0 and marks the layer bypassed.

There is no link workload (see README.md, "Why two workloads"): the
``dedup.*``, ``linking.*`` and ``materialize.*`` metrics come from link
passes that the traced ``export`` run makes after its own timed region, so
no end-to-end metric here moves with them.
"""

ALL = ("construct", "export")
C, E = ("construct",), ("export",)
LINK = "none here: link passes in export's traced run"

#: name: (workloads that measure it, what it moves)
LAYERS = {
    "scan.mb_read": (ALL, "wall_s, all workloads"),
    "scan.tasks": (ALL, "wall_s, all workloads"),
    "xmldom.parse_document_us": (C, "triples_per_s, construct"),
    "grammar.parse_rdfxml_us": (C, "triples_per_s, construct"),
    "grammar.self_us": (C, "triples_per_s, construct"),
    "grammar.triples_per_doc": (C, "triples_per_s, construct"),
    "grammar.error_docs": (C, "triples_per_s, construct"),
    "extract.python_total_s": (C, "wall_s, construct"),
    "extract.arrow_sent_mb": (C, "wall_s, construct"),
    "extract.arrow_received_mb": (C, "wall_s, construct"),
    "extract.udf_overhead_s": (C, "wall_s, construct"),
    "extract.task_skew": (C, "wall_s, construct"),
    "extract.python_boot_s": (ALL, "setup_s, all workloads"),
    "extract.python_init_s": (ALL, "setup_s, all workloads"),
    "extract.worker_crashes": (C, "failed share"),
    "pipeline.wall_over_python_per_core": (C, "triples_per_s, construct"),
    "pipeline.scaling_efficiency": (C, "triples_per_s, construct"),
    "dedup.rows_in": (E, LINK),
    "dedup.rows_out": (E, LINK),
    "dedup.useful_ratio": (E, LINK),
    "dedup.shuffle_write_mb": (E, LINK),
    "dedup.s": (E, LINK),
    "linking.terms": (E, LINK),
    "linking.dictionary_s": (E, LINK),
    "linking.encode_s": (E, LINK),
    "linking.broadcast_mb": (E, LINK),
    "linking.shuffle_write_mb": (E, LINK),
    "linking.fetch_wait_s": (E, LINK),
    "linking.reducer_skew": (E, LINK),
    "linking.spill_mb": (E, LINK),
    "materialize.s": (E, LINK),
    "materialize.files": (E, LINK),
    "materialize.mb_written": (E, LINK),
    "materialize.rows": (E, LINK),
    "materialize.commit_s": (E, LINK),
    "serialize.serialize_graph_us": (E, "wall_s, export"),
    "serialize.python_total_s": (E, "wall_s, export"),
    "serialize.arrow_sent_mb": (E, "wall_s, export"),
    "serialize.arrow_received_mb": (E, "wall_s, export"),
    "serialize.shuffle_write_mb": (E, "wall_s, export"),
    "serialize.sort_s": (E, "wall_s, export"),
    "serialize.spill_mb": (E, "wall_s, export"),
    "serialize.s": (E, "wall_s, export"),
    "spark.executor_run_s": (ALL, "wall_s and peak_heap_mb, all workloads"),
    "spark.executor_cpu_s": (ALL, "wall_s and peak_heap_mb, all workloads"),
    "spark.gc_s": (ALL, "wall_s and peak_heap_mb, all workloads"),
    "spark.cpu_over_run": (ALL, "wall_s and peak_heap_mb, all workloads"),
    "spark.tasks": (ALL, "wall_s and peak_heap_mb, all workloads"),
    "warmup.first_over_steady": (ALL, "setup_s, all workloads"),
    "host.calib_ms": (ALL, "none (diagnostic)"),
    "trace.overhead_s": (ALL, "none (diagnostic)"),
    "trace.overhead_share": (ALL, "none (diagnostic)"),
}


def bypassed(workload: str) -> list[str]:
    """Per-layer metrics whose layer the workload does not run."""
    return [name for name, (runs, _) in LAYERS.items() if workload not in runs]
