"""Per-layer metrics and what each one predicts.

For every per-layer metric: its unit, which direction is better, the
end-to-end metric it should move and the workloads it should move it on.
An empty workload list predicts no end-to-end change. ``BENCHMARK.json``'s
``per_layer`` list is exactly ``benchmark_entries()``; a later performance
change cites these names.
"""

from __future__ import annotations

from fixtures import CORPUS_COUNTS, CORPUS_TIMED

LOAD = ["load_fresh"]
QC = ["genic_qc"]
VCF = LOAD + QC
CORPUS = ["corpus_curation"]
ALL = VCF + CORPUS

#: span name -> (end-to-end metric, workloads) its self time should move
SPAN_PREDICTIONS = {
    "session.get_spark": ("setup_s", ALL),
    "session.tune_for_input": ("setup_s", ALL),
    "cli.command": ("op_s", ALL),
    "sources.vcf.read_vcf": ("op_s", VCF),
    "sources.store.read_store": ("op_s", VCF),
    "plans.load.run_load": ("op_s", LOAD),
    "sources.store.append_variants": ("op_s", LOAD),
    "sources.store.append_details": ("op_s", LOAD),
    "plans.load.load_metrics": ("op_s", LOAD),
    "plans.genic_qc.scope_from_vcf": ("op_s", QC),
    "plans.genic_qc.genic_qc": ("op_s", QC),
    "plans.genic_qc.updates_count": ("op_s", QC),
    "operators.upsert.merge_update": ("op_s", QC),
    "sources.store.commit_store_version": ("op_s", QC),
    "plans.corpus_pipeline.run_corpus_pipeline": ("op_s", CORPUS),
}
SPANS = tuple(SPAN_PREDICTIONS)
SPARK_COUNTS = ("jobs", "stages", "tasks")
#: spans that open before the SparkContext exists run under no job group
NO_JOB_GROUP = ("session.get_spark",)


def _table() -> dict[str, tuple[str, str, str, list[str]]]:
    t: dict[str, tuple[str, str, str, list[str]]] = {}
    for span, (moves, on) in SPAN_PREDICTIONS.items():
        t[f"{span}_s"] = ("s", "lower", moves, on)
        if span not in NO_JOB_GROUP:
            for c in SPARK_COUNTS:
                t[f"{span}.spark.{c}"] = ("count", "lower", moves, on)
    # the chain's own per-stage wall times and survivor counts
    for stage in CORPUS_COUNTS:
        if stage in CORPUS_TIMED:
            t[f"plans.corpus_pipeline.{stage}_s"] = ("s", "lower", "op_s", CORPUS)
        t[f"plans.corpus_pipeline.{stage}_rows"] = ("count", "higher", "op_s", CORPUS)
    t.update({
        # input size, from the fixture
        "sources.vcf.input_lines": ("count", "higher", "input_rows_per_s", VCF),
        "sources.store.files_added": ("count", "lower", "store_bytes_per_row", ALL),
        "sources.store.bytes_written": ("B", "lower", "store_bytes_per_row", ALL),
        "plans.load.variants_entered": ("count", "higher", "input_rows_per_s", LOAD),
        "plans.load.sample_details_entered": ("count", "higher", "input_rows_per_s", LOAD),
        "plans.load.existing_matched": ("count", "higher", "input_rows_per_s", LOAD),
        "plans.load.useful_detail_ratio": ("ratio", "higher", "input_rows_per_s", LOAD),
        # seen by the traced wrappers as the program computes them
        "plans.genic_qc.scope_ranges": ("count", "lower", "op_s", QC),
        "plans.genic_qc.route_binned": ("count", "lower", "op_s", QC),
        "plans.genic_qc.updated_rows": ("count", "higher", "op_s", QC),
        # probes x intervals per chromosome, from the fixture
        "operators.interval_join.comparisons": ("count", "lower", "op_s", QC),
        "sources.store.rows_rewritten_per_update": ("ratio", "lower", "store_bytes_per_row",
                                                    QC),
        "spark.failed_tasks": ("count", "lower", "op_s", ALL),
        "spark.persisted_rdds_leaked": ("count", "lower", "op_s", []),
        "process.peak_rss_mb": ("MiB", "lower", "op_s", []),
        "process.startup_s": ("s", "lower", "setup_s", ALL),
        # the traced op; less the untraced run's op_s it is the tracing
        # overhead. bookkeeping_s is the part the tracer's own code takes
        "trace.op_s": ("s", "lower", "op_s", []),
        "trace.bookkeeping_s": ("s", "lower", "op_s", []),
    })
    return t


LAYERS = _table()
PER_LAYER = {name: unit for name, (unit, _b, _m, _o) in LAYERS.items()}


def benchmark_entries() -> list[dict]:
    return [{"name": n, "unit": u, "better": b} for n, (u, b, _m, _o) in LAYERS.items()]


def predictions() -> dict[str, dict]:
    return {n: {"moves": m, "on": o} for n, (_u, _b, m, o) in LAYERS.items()}
