"""The benchmark's own checks: seeded fixtures, the expected-count model,
span arithmetic, and the metric names the benchmark emits.

    python3 -m pytest perfbench/tests -q

Only ``test_model_matches_program_on_tiny_fixture`` starts Spark.
"""

from __future__ import annotations

import hashlib
import json
import os
from pathlib import Path

import numpy as np
import pyarrow as pa
import pytest

import fixtures as fx
import layers
import run
import spans
from workloads import WORKLOADS

BENCHMARK = json.loads((Path(run.ROOT) / "BENCHMARK.json").read_text())


# ------------------------------------------------------------- fixtures


def tree_digest(root: Path) -> str:
    """sha256 over every file's relative path and bytes."""
    h = hashlib.sha256()
    for p in sorted(root.rglob("*")):
        if p.is_file():
            h.update(str(p.relative_to(root)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


@pytest.mark.parametrize("workload", sorted(fx.GENERATORS))
def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path, workload):
    digests = {}
    for tag, seed in (("a", 7), ("b", 7), ("c", 8)):
        root = tmp_path / tag
        root.mkdir()
        fx.GENERATORS[workload](root, seed)
        digests[tag] = tree_digest(root)
    assert digests["a"] == digests["b"]
    assert digests["a"] != digests["c"]


def test_fixture_cache_reuses_the_build(tmp_path):
    first = fx.fixture(tmp_path, "load_fresh", 3)
    stamp = (first.root / "fixture.json").stat().st_mtime_ns
    again = fx.fixture(tmp_path, "load_fresh", 3)
    assert again.root == first.root and again.expected == first.expected
    assert (again.root / "fixture.json").stat().st_mtime_ns == stamp
    assert not [p for p in tmp_path.iterdir() if p.name.startswith(".")]


# ---------------------------------------------------------------- model

TINY_SAMPLES = ["S1", "S2"]
TINY_HEADER = fx.FIXED_HEADER + "\tS1\tS2\tUNK\n"
TINY_LINES = [
    # S1 kept (AD[1]=5); S2 0/0; the unknown column never counts -> 1
    "chr1\t100\t.\tA\tG\t50\tPASS\t.\tGT:AD:DP\t0/1:2,5:7\t0/0:.:.\t1/1:2,9:11\n",
    # multi-allelic: S1 keeps both alleles (3, 4); S2's first allele has
    # zero depth, its second (6) is kept -> 3
    "chr1\t200\t.\tA\tG,T\t50\tPASS\t.\tGT:AD:DP\t1/2:2,3,4:9\t0/2:2,0,6:8\t1/2:2,1,1:4\n",
    # S1 ./.; S2 called with zero depth -> 0
    "chr2\t300\t.\tA\tG\t50\tPASS\t.\tGT:AD:DP\t./.:.:.\t1/1:2,0:2\t0/1:2,3:5\n",
    # DP '.' does not drop a called cell -> 2
    "chr2\t400\t.\tA\tG\t50\tPASS\t.\tGT:AD:DP\t0/1:2,4:.\t0/1:2,1:3\t0/1:2,2:4\n",
]
TINY_COUNTS = {"variants_entered": 5, "sample_details_entered": 6,
               "existing_matched": 0, "end_pos_drift_detected": 0}


def write_tiny(vdir: Path) -> None:
    vdir.mkdir(parents=True)
    fx.write_gzip_text(vdir / "tiny_part0_PASS.vcf.gz",
                       ["##fileformat=VCFv4.2\n", TINY_HEADER] + TINY_LINES[:2])
    fx.write_gzip_text(vdir / "tiny_part1_PASS.vcf.gz",
                       ["##fileformat=VCFv4.2\n", TINY_HEADER] + TINY_LINES[2:])


def test_model_matches_hand_count(tmp_path):
    write_tiny(tmp_path / "vcfs")
    rows = fx.read_vcf_text(tmp_path / "vcfs")
    assert fx.expected_load(rows, set(TINY_SAMPLES)) == TINY_COUNTS


def test_model_matches_program_on_tiny_fixture(tmp_path):
    """The model and ``cli.cmd_run_load`` agree on the hand-counted batch."""
    from hrdp_variant_load_pipeline_spark import cli, session

    write_tiny(tmp_path / "vcfs")
    genes = fx.gene_table("tiny", 1, 50)
    fx.write_parquet(genes, tmp_path / "genes" / "part-00000.parquet")
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    os.environ.setdefault("SPARK_DRIVER_MEM", "1g")
    spark = session.get_spark("perfbench-test")
    try:
        out = cli.cmd_run_load(spark, {
            "map_key": fx.MAP_KEY,
            "input_dir": str(tmp_path / "vcfs"),
            "samples": {"S1": 1, "S2": 2},
            "genes_path": str(tmp_path / "genes"),
            "variant_store": str(tmp_path / "variant_store"),
            "detail_store": str(tmp_path / "detail_store"),
        })
    finally:
        spark.stop()
    assert {k: out[k] for k in TINY_COUNTS} == TINY_COUNTS


def test_genic_truth_is_the_point_probe():
    r = np.random.default_rng(0)
    starts = r.integers(0, 1_000, 40)
    genes = pa.table({
        "gene_rgd_id": pa.array(range(40), pa.int32()),
        "chromosome": pa.array(["1"] * 40),
        "start_pos": pa.array(starts, pa.int64()),
        "stop_pos": pa.array(starts + r.integers(0, 60, 40), pa.int64()),
        "object_status": pa.array(["ACTIVE", "WITHDRAWN"] * 20),
        "map_key": pa.array([fx.MAP_KEY] * 40, pa.int32()),
    }, schema=fx.GENE_SCHEMA)
    pos = np.arange(-5, 1_100)
    got = fx.genic_truth(fx.active_intervals(genes), "1", pos)
    want = [any(s <= p <= e for s, e, st in zip(starts, genes["stop_pos"].to_pylist(),
                                                genes["object_status"].to_pylist())
                if st == "ACTIVE") for p in pos]
    assert got.tolist() == want
    assert not fx.genic_truth(fx.active_intervals(genes), "2", pos).any()


# ---------------------------------------------------------------- spans


def span(sid, start, end, parent=None):
    return spans.Span(sid, f"s{sid}", start, end, parent, "r", f"r:{sid}")


def test_self_time_subtracts_the_union_of_children():
    tree = [
        span(1, 0.0, 10.0),
        span(2, 1.0, 4.0, parent=1),
        span(3, 3.0, 6.0, parent=1),  # overlaps its sibling
        span(4, 2.0, 3.0, parent=2),
        span(5, 9.0, 12.0, parent=1),  # runs past its parent's end
    ]
    got = spans.self_times(tree)
    assert got == pytest.approx({1: 10 - 5 - 1, 2: 2.0, 3: 3.0, 4: 1.0, 5: 3.0})


def test_tracer_nests_spans_without_spark():
    t = spans.Tracer("run")
    with t.span("outer"):
        with t.span("inner"):
            pass
    inner, outer = t.spans
    assert (inner.name, inner.parent, outer.parent) == ("inner", outer.sid, None)
    assert outer.start <= inner.start <= inner.end <= outer.end
    assert t.overhead >= 0.0


def test_spans_before_the_session_have_no_job_group():
    t = spans.Tracer("run")
    with t.span("session.get_spark"):
        pass
    assert t.spans[0].group is None


def test_null_tracer_records_and_instruments_nothing():
    from hrdp_variant_load_pipeline_spark import cli

    t = spans.NullTracer()
    before = cli.read_vcf
    with t.span("x"):
        undo = spans.instrument(t)
    assert cli.read_vcf is before and not t.spans
    undo()


def test_instrument_wraps_and_restores_the_cli_calls():
    from importlib import import_module

    from hrdp_variant_load_pipeline_spark import cli

    qc = import_module("hrdp_variant_load_pipeline_spark.plans.genic_qc")
    cp = import_module("hrdp_variant_load_pipeline_spark.plans.corpus_pipeline")
    names = [(cli, n) for n in (
        "read_vcf", "read_store", "run_load", "append_to_store", "load_metrics",
        "scope_from_vcf", "genic_qc", "merge_update", "commit_store_version")]
    names += [(qc, "merge_scope_ranges"), (qc, "interval_join_binned"),
              (cp, "run_corpus_pipeline")]
    before = {n: getattr(m, n) for m, n in names}
    undo = spans.instrument(spans.Tracer("run"))
    try:
        assert all(getattr(m, n) is not before[n] for m, n in names)
    finally:
        undo()
    assert all(getattr(m, n) is before[n] for m, n in names)


# ---------------------------------------------------------------- corpus


def test_bench_pool_documents_are_plain_and_unshared():
    """A pool document shares no word 8-gram with any other document, so
    decontaminating against it removes exactly that document."""
    docs = fx.corpus_documents(fx.SIZES["corpus_curation"]["docs"]).to_pylist()
    owners: dict[tuple, set] = {}
    for d in docs:
        w = d["text"].split()
        for i in range(len(w) - 7):
            owners.setdefault(tuple(w[i:i + 8]), set()).add(d["doc_id"])
    shared = set().union(*(ids for ids in owners.values() if len(ids) > 1))
    for i in fx.BENCH_POOL:
        assert docs[i]["kind"] == "plain" and i not in shared, i


# -------------------------------------------------------- metric names


def test_benchmark_json_declares_what_the_code_emits():
    assert [w["name"] for w in BENCHMARK["workloads"]] == list(WORKLOADS)
    assert set(WORKLOADS) == set(fx.GENERATORS)
    e2e = {m["name"]: m["unit"] for m in BENCHMARK["end_to_end"]}
    assert e2e == run.END_TO_END
    assert BENCHMARK["per_layer"] == layers.benchmark_entries()


def synthetic_fixture(name: str) -> fx.Fixture:
    return fx.Fixture(Path("."), {
        "counters": dict(TINY_COUNTS), "vcf_rows": 4, "sample_cells": 12,
        "updated": 3, "store_rows": 30, "scope_ranges": 15, "comparisons": 99,
        "counts": dict(fx.CORPUS_COUNTS), "docs": 600,
    })


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_every_emitted_layer_metric_is_declared(name):
    wl = WORKLOADS[name]
    out = {**TINY_COUNTS, "genic_status_updated": 3,
           **{f"corpus.{k}": v for k, v in fx.CORPUS_COUNTS.items()},
           **{f"corpus.sec.{k}": 1.5 for k in fx.CORPUS_COUNTS}}
    counts = wl.layer_counts(synthetic_fixture(name), out,
                             {"scope_ranges": 15, "route_binned": 1})
    trace = [span(1, 0.0, 2.0), span(2, 0.5, 1.0, parent=1)]
    trace[0].name, trace[1].name = "cli.command", layers.SPANS[-1]
    trace[0].spark = {"jobs": 1, "stages": 2, "tasks": 8, "failed_tasks": 0}
    values = run.layer_values(trace, counts, files_added=2, bytes_written=10)
    values.update({
        "process.startup_s": 1.0, "process.peak_rss_mb": 900.0,
        "trace.op_s": 2.0, "trace.bookkeeping_s": 0.01, "spark.persisted_rdds_leaked": 0,
    })
    metrics = run.per_layer_metrics(values)
    assert list(metrics) == list(layers.PER_LAYER)
    assert metrics["cli.command.spark.tasks"]["value"] == 8
    assert metrics["cli.command_s"]["value"] == pytest.approx(1.5)


def test_every_layer_metric_predicts_an_end_to_end_metric():
    e2e = set(run.END_TO_END)
    for name, p in layers.predictions().items():
        assert p["moves"] in e2e, name
        assert set(p["on"]) <= set(WORKLOADS), name


def test_benchmark_json_meets_the_format():
    assert set(BENCHMARK) == {"command", "paths", "run_seconds", "workloads",
                              "end_to_end", "per_layer"}
    names = [m["name"] for m in BENCHMARK["end_to_end"] + BENCHMARK["per_layer"]]
    names += [w["name"] for w in BENCHMARK["workloads"]]
    assert len(names) == len(set(names))
    for n in names:
        assert len(n) <= 64 and n[0].isalnum()
        assert all(c.isalnum() or c in "_.-" for c in n), n
    for m in BENCHMARK["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25
    setup = next(m for m in BENCHMARK["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in BENCHMARK["end_to_end"])
    for w in BENCHMARK["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200

