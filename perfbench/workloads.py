"""The workloads: the config one CLI invocation gets, the command it
runs, and the check of its outputs against the fixture's model.

Outputs are read back with pyarrow from parquet footers and files, never
through the Spark session under test.
"""

from __future__ import annotations

import shutil
from dataclasses import dataclass
from pathlib import Path
from typing import Callable

import pyarrow.parquet as pq

import fixtures as fx

LOAD_COUNTERS = ("variants_entered", "sample_details_entered",
                 "existing_matched", "end_pos_drift_detected")

# ------------------------------------------------------------ store reads


def store_files(root: Path) -> list[Path]:
    """Data files a reader of the store sees: the highest committed version
    directory, else the flat files under the root."""
    if not root.exists():
        return []
    versions = sorted(
        p for p in root.iterdir()
        if p.is_dir() and p.name.startswith("v_") and (p / "_COMMITTED").exists()
    )
    base = versions[-1] if versions else root
    return sorted(
        p for p in base.iterdir()
        if p.is_file() and not p.name.startswith((".", "_"))
    )


def parquet_rows(files) -> int:
    return sum(pq.ParquetFile(p).metadata.num_rows for p in files)


# -------------------------------------------------------------- workloads


@dataclass
class Workload:
    name: str
    command: str  # attribute of hrdp_variant_load_pipeline_spark.cli
    config: Callable[[fx.Fixture, Path], dict]
    profile_dir: Callable[[fx.Fixture], str]  # what the CLI sizes the session by
    input_rows: Callable[[fx.Fixture], int]
    written: Callable[[dict], list[Path]]  # stores / outputs the op writes
    check: Callable[[fx.Fixture, dict, dict], list[str]]
    #: (fixture, command output, values the traced wrappers observed)
    layer_counts: Callable[[fx.Fixture, dict, dict], dict]


def _copy_mutable(fixture: fx.Fixture, cycle_dir: Path) -> dict[str, str]:
    """A fresh copy of every store the op mutates, per cycle."""
    out = {}
    for name in ("variant_store", "detail_store"):
        dst = cycle_dir / name
        if name in fixture.mutable:
            shutil.copytree(fixture.root / name, dst)
        out[name] = str(dst)
    return out


def _load_config(fixture: fx.Fixture, cycle_dir: Path) -> dict:
    return {
        "map_key": fx.MAP_KEY,
        "input_dir": str(fixture.root / "vcfs"),
        "samples": fx.sample_config(),
        "genes_path": str(fixture.root / "genes"),
        **_copy_mutable(fixture, cycle_dir),
    }


def _check_load(fixture: fx.Fixture, cfg: dict, out: dict) -> list[str]:
    errs = []
    want = fixture.expected["counters"]
    for k in LOAD_COUNTERS:
        if out.get(k) != want[k]:
            errs.append(f"{k}: got {out.get(k)}, model says {want[k]}")
    stored = {"variant_store": want["variants_entered"],
              "detail_store": want["sample_details_entered"]}
    for store, n in stored.items():
        got = parquet_rows(store_files(Path(cfg[store])))
        if got != n:
            errs.append(f"{store} rows after load: {got}, expected {n}")
    return errs


def _load_counts(fixture: fx.Fixture, out: dict, observed: dict) -> dict:
    cells = fixture.expected["sample_cells"]
    return {
        "sources.vcf.input_lines": fixture.expected["vcf_rows"],
        "plans.load.variants_entered": out.get("variants_entered", 0),
        "plans.load.sample_details_entered": out.get("sample_details_entered", 0),
        "plans.load.existing_matched": out.get("existing_matched", 0),
        "plans.load.useful_detail_ratio": out.get("sample_details_entered", 0) / cells,
    }


def _qc_config(fixture: fx.Fixture, cycle_dir: Path) -> dict:
    return {
        "map_key": fx.MAP_KEY,
        "input_dir": str(fixture.root / "scope_vcfs"),
        "genes_path": str(fixture.root / "genes"),
        **_copy_mutable(fixture, cycle_dir),
    }


def _check_qc(fixture: fx.Fixture, cfg: dict, out: dict) -> list[str]:
    errs = []
    want = fixture.expected["updated"]
    if out.get("genic_status_updated") != want:
        errs.append(f"genic_status_updated: got {out.get('genic_status_updated')}, "
                    f"model says {want}")
    files = store_files(Path(cfg["variant_store"]))
    rows = [pq.read_table(p, columns=["rgd_id", "genic_status"]) for p in files]
    ids = [i for t in rows for i in t.column("rgd_id").to_pylist()]
    st = [s for t in rows for s in t.column("genic_status").to_pylist()]
    if len(ids) != fixture.expected["store_rows"]:
        errs.append(f"store rows after QC: {len(ids)}, expected "
                    f"{fixture.expected['store_rows']}")
    elif fx.status_digest(ids, st) != fixture.expected["final_status_digest"]:
        errs.append("final genic_status differs from the point-probe truth")
    return errs


def _qc_counts(fixture: fx.Fixture, out: dict, observed: dict) -> dict:
    n = out.get("genic_status_updated", 0)
    return {
        "sources.vcf.input_lines": fixture.expected["vcf_rows"],
        "plans.genic_qc.scope_ranges": observed.get("scope_ranges", 0),
        "plans.genic_qc.route_binned": observed.get("route_binned", 0),
        "plans.genic_qc.updated_rows": n,
        "operators.interval_join.comparisons": fixture.expected["comparisons"],
        "sources.store.rows_rewritten_per_update":
            fixture.expected["store_rows"] / n if n else 0.0,
    }


def _corpus_config(fixture: fx.Fixture, cycle_dir: Path) -> dict:
    """``tools/corpus_chain_bench.py``'s chain; the seed is the shuffle seed."""
    return {"corpus": {
        "input": {"format": "parquet", "path": str(fixture.root / "docs")},
        "pii": True,
        "gates": {"min_quality": 0.3, "gopher": {"min_words": 5, "min_stopword_hits": 0}},
        "dedup": {"exact": True, "fuzzy": {"threshold": 0.8}},
        "lm_gate": {"min_count": 2},
        "decontaminate": {"path": str(fixture.root / "bench"), "n": 8},
        "selection": {"dsir": {"target_lang": "en", "n_buckets": 1024,
                               "keep_fraction": 0.6}},
        "mixture": {"temperature": 0.3, "total_tokens": 10**9},
        "chunk": {"chunk_tokens": 512, "overlap_tokens": 32},
        "pack": {"max_tokens": 2048},
        "output": {"dir": str(cycle_dir / "shards"), "n_shards": 16,
                   "shuffle_seed": fixture.expected["shuffle_seed"]},
        "checkpoint": {"dir": str(cycle_dir / "checkpoints")},
    }}


def _check_corpus(fixture: fx.Fixture, cfg: dict, out: dict) -> list[str]:
    errs = []
    want = fixture.expected["counts"]
    for stage, n in want.items():
        if out.get(f"corpus.{stage}") != n:
            errs.append(f"{stage}: got {out.get(f'corpus.{stage}')}, pinned {n}")
    files = store_files(Path(cfg["corpus"]["output"]["dir"]))
    ids = [i for p in files for i in pq.read_table(p, columns=["doc_id"])
           .column("doc_id").to_pylist()]
    if len(ids) != want["chunks_packed"]:
        errs.append(f"shard rows: {len(ids)}, expected {want['chunks_packed']}")
    leaked = set(ids) & set(fixture.expected["barred_ids"])
    if leaked:
        errs.append(f"{len(leaked)} gated, copied or contaminated documents in the shards")
    return errs


def _corpus_counts(fixture: fx.Fixture, out: dict, observed: dict) -> dict:
    counts = {}
    for stage in fx.CORPUS_COUNTS:
        counts[f"plans.corpus_pipeline.{stage}_rows"] = out.get(f"corpus.{stage}", 0)
        if stage in fx.CORPUS_TIMED:
            counts[f"plans.corpus_pipeline.{stage}_s"] = out.get(f"corpus.sec.{stage}", 0.0)
    return counts


WORKLOADS = {
    "load_fresh": Workload(
        "load_fresh", "cmd_run_load", _load_config,
        lambda f: str(f.root / "vcfs"),
        lambda f: f.expected["sample_cells"],
        lambda cfg: [Path(cfg["variant_store"]), Path(cfg["detail_store"])],
        _check_load, _load_counts,
    ),
    "genic_qc": Workload(
        "genic_qc", "cmd_genic_qc", _qc_config,
        lambda f: str(f.root / "scope_vcfs"),
        lambda f: f.expected["store_rows"],
        lambda cfg: [Path(cfg["variant_store"])],
        _check_qc, _qc_counts,
    ),
    "corpus_curation": Workload(
        "corpus_curation", "cmd_run_corpus", _corpus_config,
        lambda f: str(f.root / "docs"),
        lambda f: f.expected["docs"],
        lambda cfg: [Path(cfg["corpus"]["output"]["dir"])],
        _check_corpus, _corpus_counts,
    ),
}
