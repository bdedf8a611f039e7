"""Metric names and units the benchmark prints; BENCHMARK.json lists the
same names (perfbench/test_perfbench.py keeps the two equal)."""

from __future__ import annotations

# the 15 graph calls, each called with only the triples frame
GRAPH_OPS = (
    "degree", "two_hop", "pagerank", "components", "triangles", "clustering",
    "node_similarity", "kcore", "lpa", "harmonic", "stress", "distances",
    "conjunctive", "transe_eval", "optional",
)

# Times are CPU seconds of the process tree (driver, JVM, Python workers):
# unlike wall times they leave out the time a shared host gives to other
# tenants. Wall times are per-layer metrics (wall.*) and in the info line.
END_TO_END = {
    "setup_s": "s",
    "ingest_cpu_s": "s",
    "graph_mix_cpu_s": "s",
    "graph_op_cpu_geomean_s": "s",
    "driver_peak_rss_mb": "MB",
    "ok_ratio": "ratio",
}

PER_LAYER = {
    "session.get_spark_s": "s",
    "sources.synth_s": "s",
    "sources.load_docs_s": "s",
    "core.predict_doc_per_s": "docs/s",
    "extraction.extract_graph_s": "s",
    "extraction.mention_f1": "ratio",
    "extraction.triple_precision": "ratio",
    "extraction.triple_recall": "ratio",
    "extraction.mentions": "count",
    "extraction.triples_raw": "count",
    "linking.canonicalize_s": "s",
    "linking.rewrite_triples_s": "s",
    "linking.surfaces": "count",
    "linking.entities": "count",
    "materialize.run_extraction_s": "s",
    "materialize.write_overhead_s": "s",
    "materialize.files_written": "count",
    "materialize.bytes_written_mb": "MB",
    "materialize.finalize_graph_s": "s",
    "materialize.finalize_overhead_s": "s",
    "materialize.read_triples_s": "s",
    **{f"graph.{op}.{k}": u for op in GRAPH_OPS
       for k, u in (("s", "s"), ("cpu_s", "s"), ("jobs", "count"), ("shuffle_mb", "MB"))},
    "cache.released": "count",
    "spark.pass_jobs": "count",
    "spark.pass_tasks": "count",
    "spark.pass_shuffle_mb": "MB",
    "spark.pass_executor_cpu_s": "s",
    "wall.setup_s": "s",
    "wall.pass_s": "s",
    "wall.ingest_s": "s",
    "wall.graph_mix_s": "s",
    "wall.graph_op_geomean_s": "s",
    "trace.ingest_cpu_s": "s",
    "trace.graph_mix_cpu_s": "s",
}
