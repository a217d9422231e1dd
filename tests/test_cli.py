"""CLI dispatch parity: --runLoad then --genicQc against parquet stores."""

from __future__ import annotations

import gzip
import json
import os

from hrdp_variant_load_pipeline_spark import schemas
from hrdp_variant_load_pipeline_spark.cli import cmd_genic_qc, cmd_run_load

VCF = """##fileformat=VCFv4.2
#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tS1
chr1\t100\t.\tA\tG\t50\tPASS\t.\tGT:AD:DP\t0/1:5,5:10
chr1\t400\t.\tC\tT\t50\tPASS\t.\tGT:AD:DP\t1/1:0,9:9
"""


def test_cli_load_then_qc(spark, tmp_path):
    vdir = tmp_path / "vcfs"
    vdir.mkdir()
    with gzip.open(vdir / "BN_X_2020_v1_PASS.vcf.gz", "wt") as f:
        f.write(VCF)
    genes_path = str(tmp_path / "genes")
    spark.createDataFrame([(1, "1", 50, 150, "ACTIVE", 372)], schemas.GENE).write.parquet(
        genes_path
    )
    cfg = {
        "map_key": 372,
        "input_dir": str(vdir),
        "samples": {"S1": 1},
        "genes_path": genes_path,
        "variant_store": str(tmp_path / "variants"),
        "detail_store": str(tmp_path / "details"),
    }
    (tmp_path / "cfg.json").write_text(json.dumps(cfg))

    m = cmd_run_load(spark, cfg)
    assert m["variants_entered"] == 2 and m["sample_details_entered"] == 2

    # re-run: idempotent
    m2 = cmd_run_load(spark, cfg)
    assert m2["variants_entered"] == 0 and m2["sample_details_entered"] == 0

    # corrupt a genic status, then QC repairs exactly that row
    store = spark.read.parquet(cfg["variant_store"])
    from pyspark.sql import functions as F

    flipped = store.withColumn(
        "genic_status",
        F.when(F.col("start_pos") == 100, "INTERGENIC").otherwise(F.col("genic_status")),
    )
    rows = flipped.collect()
    spark.createDataFrame(rows, store.schema).write.mode("overwrite").parquet(
        cfg["variant_store"]
    )
    q = cmd_genic_qc(spark, cfg)
    assert q["genic_status_updated"] == 1
    # the repair commits a new store VERSION (sources/store.py): read
    # through the resolver, as every engine component does
    from hrdp_variant_load_pipeline_spark.sources.store import read_store

    fixed = read_store(spark, cfg["variant_store"])
    status = {r["start_pos"]: r["genic_status"] for r in fixed.collect()}
    assert status[100] == "GENIC" and status[400] == "INTERGENIC"

    # QC is now a fixpoint
    assert cmd_genic_qc(spark, cfg)["genic_status_updated"] == 0
    assert os.path.exists(str(tmp_path / "cfg.json"))


def test_cli_restage_first_load(spark, tmp_path):
    """With restage_dir set, the first load writes splittable parquet and
    later loads read it instead of re-scanning gzip (deleting the raw
    input between runs proves which source is scanned)."""
    vdir = tmp_path / "vcfs"
    vdir.mkdir()
    with gzip.open(vdir / "BN_X_2020_v1_PASS.vcf.gz", "wt") as f:
        f.write(VCF)
    genes_path = str(tmp_path / "genes")
    spark.createDataFrame([(1, "1", 50, 150, "ACTIVE", 372)], schemas.GENE).write.parquet(
        genes_path
    )
    cfg = {
        "map_key": 372,
        "input_dir": str(vdir),
        "samples": {"S1": 1},
        "genes_path": genes_path,
        "variant_store": str(tmp_path / "variants"),
        "detail_store": str(tmp_path / "details"),
        "restage_dir": str(tmp_path / "restage"),
    }

    m = cmd_run_load(spark, cfg)
    assert m["variants_entered"] == 2 and m["sample_details_entered"] == 2
    assert os.path.exists(os.path.join(cfg["restage_dir"], "_SUCCESS"))

    # remove the raw gzip input: a re-run must come from the restage only
    import shutil

    shutil.rmtree(vdir)
    m2 = cmd_run_load(spark, cfg)
    assert m2["variants_entered"] == 0 and m2["sample_details_entered"] == 0

    # genic QC scoping also reads the restage, not input_dir
    q = cmd_genic_qc(spark, cfg)
    assert q["genic_status_updated"] == 0


def test_cli_dual_catalog_namespaces(spark, tmp_path):
    """The reference talks to two Oracle datasources (default RGD +
    "CarpeNovo" variants, DAO.java:34-36); the engine maps both into the
    session catalog as databases of external tables, so a migrated
    deployment keeps its qualified names end-to-end."""
    vdir = tmp_path / "vcfs"
    vdir.mkdir()
    with gzip.open(vdir / "BN_X_2020_v1_PASS.vcf.gz", "wt") as f:
        f.write(VCF)
    genes_path = str(tmp_path / "genes")
    spark.createDataFrame([(1, "1", 50, 150, "ACTIVE", 372)], schemas.GENE).write.parquet(
        genes_path
    )
    cfg = {
        "map_key": 372,
        "input_dir": str(vdir),
        "samples": {"S1": 1},
        "genes_path": genes_path,
        "variant_store": str(tmp_path / "variants"),
        "detail_store": str(tmp_path / "details"),
        "catalogs": {
            "rgd_t": {"genes": genes_path},
            "carpenovo_t": {
                "variant": str(tmp_path / "variants"),
                "variant_sample_detail": str(tmp_path / "details"),
            },
        },
    }
    m = cmd_run_load(spark, cfg)
    assert m["variants_entered"] == 2

    from hrdp_variant_load_pipeline_spark.cli import _register_catalogs

    _register_catalogs(spark, cfg)
    try:
        # dims and the variant store answer through their own namespaces
        assert spark.table("rgd_t.genes").count() == 1
        assert spark.table("carpenovo_t.variant").count() == 2
        joined = spark.sql(
            """SELECT count(*) AS n
               FROM carpenovo_t.variant v JOIN rgd_t.genes g
                 ON v.chromosome = g.chromosome
                AND v.start_pos BETWEEN g.start_pos AND g.stop_pos"""
        ).collect()[0]["n"]
        assert joined == 1  # pos 100 falls in [50, 150]; pos 400 does not
        # re-registration is a no-op, not an error
        _register_catalogs(spark, cfg)
    finally:
        for db in ("rgd_t", "carpenovo_t"):
            spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


def test_cli_compact_stores_preserves_load_semantics(spark, tmp_path):
    """--compactStores folds append-accreted files into one version; a
    re-load after compaction still dedups against the store (0 new), and
    genic QC still reads it."""
    import gzip as _gzip

    from hrdp_variant_load_pipeline_spark.cli import cmd_compact
    from hrdp_variant_load_pipeline_spark.sources.store import (
        read_store,
        resolve_store,
    )

    vdir = tmp_path / "vcfs"
    vdir.mkdir()
    with _gzip.open(vdir / "BN_X_2020_v1_PASS.vcf.gz", "wt") as f:
        f.write(VCF)
    genes_path = str(tmp_path / "genes")
    spark.createDataFrame([(1, "1", 50, 150, "ACTIVE", 372)], schemas.GENE).write.parquet(
        genes_path
    )
    cfg = {
        "map_key": 372,
        "input_dir": str(vdir),
        "samples": {"S1": 1},
        "genes_path": genes_path,
        "variant_store": str(tmp_path / "variants"),
        "detail_store": str(tmp_path / "details"),
    }
    m = cmd_run_load(spark, cfg)
    assert m["variants_entered"] == 2

    out = cmd_compact(spark, cfg)
    assert out == {"variant_store_compacted": 1, "detail_store_compacted": 1}
    cur = resolve_store(spark, cfg["variant_store"])
    assert cur is not None and "/v_" in cur
    assert read_store(spark, cfg["variant_store"]).count() == 2

    # idempotent re-load against the compacted store
    m2 = cmd_run_load(spark, cfg)
    assert m2["variants_entered"] == 0 and m2["sample_details_entered"] == 0
    # QC fixpoint on the compacted store
    assert cmd_genic_qc(spark, cfg)["genic_status_updated"] == 0


def test_cli_load_constraints_check_and_strict(spark, tmp_path):
    """constraints="check" audits the batch before any append and reports
    per-rule counts; a clean batch loads normally in "strict" mode too."""
    vdir = tmp_path / "vcfs"
    vdir.mkdir()
    with gzip.open(vdir / "BN_X_2020_v1_PASS.vcf.gz", "wt") as f:
        f.write(VCF)
    genes_path = str(tmp_path / "genes")
    spark.createDataFrame(
        [(1, "1", 50, 150, "ACTIVE", 372)], schemas.GENE
    ).write.parquet(genes_path)
    cfg = {
        "map_key": 372,
        "input_dir": str(vdir),
        "samples": {"S1": 1},
        "genes_path": genes_path,
        "variant_store": str(tmp_path / "variants"),
        "detail_store": str(tmp_path / "details"),
        "constraints": "strict",
    }
    m = cmd_run_load(spark, cfg)
    assert m["variants_entered"] == 2
    assert m["constraint[not_null(rgd_id)]"] == 0
    assert m["constraint[unique(rgd_id)]"] == 0
    # idempotent re-run under strict: empty batch, still clean
    m2 = cmd_run_load(spark, cfg)
    assert m2["variants_entered"] == 0


def test_cli_strict_constraints_refuse_bad_batch(spark, tmp_path):
    """A violating batch must abort BEFORE the first append — both stores
    stay untouched (one batch = one transaction)."""
    import pytest

    from hrdp_variant_load_pipeline_spark.cli import _LOAD_CONSTRAINTS

    class FakeRes:
        def __init__(self, df):
            self.new_variants = df
            self.new_sample_details = df
            self.released = False

        def release(self):
            self.released = True

    # drive the same code path with a frame violating unique(rgd_id)
    from hrdp_variant_load_pipeline_spark.operators.quality import (
        check_constraints,
    )

    bad = spark.createDataFrame(
        [(1, "1", 10, 20), (1, "1", 10, 20)],
        "rgd_id long, chromosome string, start_pos long, end_pos long",
    )
    report = check_constraints(bad, _LOAD_CONSTRAINTS).collect()
    viol = {r["rule"]: r["violations"] for r in report if not r["ok"]}
    assert viol == {"unique(rgd_id)": 1}


def test_cli_load_append_cluster_by(spark, tmp_path):
    """config append_cluster_by: the load's appended variant files cover
    disjoint (chromosome, start_pos) ranges, so genic-QC's range-scoped
    probes can footer-prune fresh batches without waiting for
    --compactStores; load semantics (counts, idempotence) unchanged."""
    vdir = tmp_path / "vcfs"
    vdir.mkdir()
    with gzip.open(vdir / "BN_X_2020_v1_PASS.vcf.gz", "wt") as f:
        f.write(VCF)
    genes_path = str(tmp_path / "genes")
    spark.createDataFrame(
        [(1, "1", 50, 150, "ACTIVE", 372)], schemas.GENE
    ).write.parquet(genes_path)
    cfg = {
        "map_key": 372,
        "input_dir": str(vdir),
        "samples": {"S1": 1},
        "genes_path": genes_path,
        "variant_store": str(tmp_path / "variants"),
        "detail_store": str(tmp_path / "details"),
        "append_cluster_by": {
            "variant_store": ["chromosome", "start_pos"],
            "detail_store": ["rgd_id"],
        },
    }
    m = cmd_run_load(spark, cfg)
    assert m["variants_entered"] == 2 and m["sample_details_entered"] == 2
    assert cmd_run_load(spark, cfg)["variants_entered"] == 0  # idempotent

    from pyspark.sql import functions as F

    rows = (
        spark.read.parquet(cfg["variant_store"])
        .groupBy(F.input_file_name().alias("f"))
        .agg(
            F.min(F.struct("chromosome", "start_pos")).alias("lo"),
            F.max(F.struct("chromosome", "start_pos")).alias("hi"),
        )
        .collect()
    )
    ranges = sorted([((r.lo[0], r.lo[1]), (r.hi[0], r.hi[1])) for r in rows])
    for (_, prev_hi), (lo, _) in zip(ranges, ranges[1:]):
        assert prev_hi <= lo, ranges


def test_cli_run_corpus_chain(spark, tmp_path):
    from hrdp_variant_load_pipeline_spark.cli import cmd_run_corpus

    src = tmp_path / "jsonl"
    src.mkdir()
    rows = [
        {"doc_id": i,
         "text": f"the quick brown fox number {i} jumps over the lazy dog "
                 f"and the crew of document {i} went to town with the gang",
         "lang": "en"}
        for i in range(8)
    ] + [{"doc_id": 100, "text": "the quick brown fox number 0 jumps over the lazy dog "
                                 "and the crew of document 0 went to town with the gang",
          "lang": "en"}]  # exact dup of doc 0
    (src / "a.jsonl").write_text(
        "\n".join(json.dumps(r) for r in rows) + "\nnot json\n"
    )
    out_dir = str(tmp_path / "shards")
    cfg = {
        "corpus": {
            "input": {"format": "jsonl", "path": str(src)},
            "gates": {"gopher": {"min_words": 5, "min_stopword_hits": 1}},
            "dedup": {"exact": True},
            "chunk": {"chunk_tokens": 8, "overlap_tokens": 2},
            "pack": {"max_tokens": 32},
            "output": {"dir": out_dir, "n_shards": 2},
        }
    }
    m = cmd_run_corpus(spark, cfg)
    assert m["corpus.quarantined"] == 1
    assert m["corpus.ingested"] == 9
    assert m["corpus.exact_dedup"] == 8  # the dup collapsed
    assert m["corpus.chunks_packed"] > 0
    assert m["corpus.shard_dir"] == out_dir
    assert spark.read.parquet(out_dir).count() == m["corpus.chunks_packed"]


def test_cli_run_corpus_warc_kill_resume_e2e(spark, tmp_path):
    """The curation chain as a product, through the CLI: one --runCorpus
    over a fixture crawl (WARC -> gates -> dedup -> LM gate -> densify ->
    shards+manifest), SIGKILLed mid-chain after the first checkpoint
    commit, then resumed by rerunning the SAME command — the resumed run
    must report corpus.resumed_from, finish the chain, and produce shards
    identical to an uninterrupted reference run."""
    import gzip as _gzip
    import signal
    import subprocess
    import sys
    import time

    warc_dir = tmp_path / "crawl"
    warc_dir.mkdir()

    def rec(body, url):
        http = b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + body
        h = [b"WARC/1.0", b"WARC-Type: response",
             b"WARC-Target-URI: " + url.encode(),
             b"Content-Type: application/http;msgtype=response",
             b"Content-Length: " + str(len(http)).encode()]
        return b"\r\n".join(h) + b"\r\n\r\n" + http + b"\r\n\r\n"

    # 300 pages + planted exact dups so every stage has real work
    def page(i):
        words = " ".join(
            f"word{(i * 7 + j) % 97} the of and to in" for j in range(12)
        )
        return rec(
            f"<html><body>page {i} says {words}</body></html>".encode(),
            f"http://crawl.example/{i}",
        )

    blob = b"".join(page(i) for i in range(300))
    dup = b"".join(page(i) for i in range(10))  # exact dups of 0..9
    (warc_dir / "a.warc.gz").write_bytes(_gzip.compress(blob))
    (warc_dir / "b.warc.gz").write_bytes(_gzip.compress(dup))

    def cfg_for(tag):
        return {
            "corpus": {
                "input": {"format": "warc", "path": str(warc_dir)},
                "normalize": False,
                "gates": {"gopher": {"min_words": 5, "min_stopword_hits": 1}},
                "dedup": {"exact": True, "fuzzy": {"threshold": 0.9}},
                "lm_gate": {"min_count": 2},
                "chunk": {"chunk_tokens": 16, "overlap_tokens": 4,
                          "densify_ids": True},
                "pack": {"max_tokens": 64},
                "output": {"dir": str(tmp_path / f"shards_{tag}"),
                           "n_shards": 2},
                "checkpoint": {"dir": str(tmp_path / f"ck_{tag}")},
            }
        }

    import json as _json

    cfg_path = tmp_path / "cfg.json"
    cfg_path.write_text(_json.dumps(cfg_for("cli")))
    cmd = [
        sys.executable, "-m", "hrdp_variant_load_pipeline_spark.cli",
        "--runCorpus", "--config", str(cfg_path),
    ]
    env = dict(os.environ, SPARK_GRAFT_CPUS="4")

    # run 1: kill as soon as the first stage commits its marker. stderr
    # goes to a file so a flake under a loaded host (this test spawns two
    # extra JVMs beside the suite's) is diagnosable from the report.
    ck = tmp_path / "ck_cli"
    err1_path = tmp_path / "run1.stderr"
    with open(err1_path, "wb") as err1:
        p1 = subprocess.Popen(cmd, env=env, stdout=subprocess.PIPE,
                              stderr=err1, cwd="/root/repo")
        deadline = time.time() + 300
        killed = False
        while time.time() < deadline and p1.poll() is None:
            if ck.is_dir() and any(ck.glob("*/_STAGE_COMMITTED.json")):
                p1.send_signal(signal.SIGKILL)
                killed = True
                break
            time.sleep(0.2)
        p1.wait(timeout=60)
    assert killed, (
        "chain finished (rc=%s) or timed out before the kill window — "
        "grow the fixture; run-1 stderr tail: %s"
        % (p1.returncode, err1_path.read_bytes()[-2000:])
    )
    assert p1.returncode == -signal.SIGKILL

    # run 2: SAME command resumes and completes
    out2 = subprocess.run(cmd, env=env, capture_output=True, text=True,
                          timeout=600, cwd="/root/repo")
    assert out2.returncode == 0, out2.stderr[-2000:]
    kv = dict(
        line.split(": ", 1) for line in out2.stdout.splitlines() if ": " in line
    )
    assert "corpus.resumed_from" in kv, out2.stdout
    assert int(kv["corpus.chunks_packed"]) > 0
    assert kv["corpus.shard_dir"] == str(tmp_path / "shards_cli")

    # shards + manifest on disk, lossless vs the reported count
    shards = spark.read.parquet(str(tmp_path / "shards_cli"))
    assert shards.count() == int(kv["corpus.chunks_packed"])
    man = _json.loads((tmp_path / "shards_cli" / "_MANIFEST.json").read_text())
    assert man["counts"]["chunks_packed"] == int(kv["corpus.chunks_packed"])
    assert man["files"]

    # identical to an uninterrupted in-process reference run
    from hrdp_variant_load_pipeline_spark.plans.corpus_pipeline import (
        run_corpus_pipeline,
    )

    ref = run_corpus_pipeline(spark, cfg_for("ref")["corpus"])
    ref_chunks = sorted(
        r["chunk_text"]
        for r in spark.read.parquet(str(tmp_path / "shards_ref"))
        .select("chunk_text").collect()
    )
    got_chunks = sorted(r["chunk_text"] for r in shards.select("chunk_text").collect())
    assert got_chunks == ref_chunks
    ref.unpersist_all()


def test_cli_146_sample_production_shape(spark, tmp_path):
    """The reference's deployed workload shape (AppConfigure.xml:10-159):
    one joint VCF with 146 sample columns (plus an unknown column the
    sample-dim join must drop). The generator computes the expected
    metrics independently while emitting lines; the drill runs gzip load,
    restaged load, idempotent re-run, and the genic-QC fixpoint through
    the real CLI functions (tools/vcf146_bench.py is the timed version
    of this at 20k lines)."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
    from vcf146_bench import N_SAMPLES, drive, sample_config

    assert N_SAMPLES == 146 and len(sample_config()) == 146
    out = drive(spark, tmp_path, n_lines=120, n_files=2)
    assert out["all_assertions_pass"], out
    # the unpivot fan-out really happened: ~146 detail candidates/line
    assert out["expected"]["sample_details_entered"] > 120 * 80
    # first QC pass repairs the loader/QC multi-allelic probe divergence
    # (a faithful reference quirk), second is a fixpoint
    assert out["genic_qc_fixpoint_metrics"]["genic_status_updated"] == 0


FILE_B = """##fileformat=VCFv4.2
#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tS2
chr1\t100\t.\tA\tG\t50\tPASS\t.\tGT:AD:DP\t0/1:5,5:10
chr1\t700\t.\tT\tC\t50\tPASS\t.\tGT:AD:DP\t0/1:4,6:10
"""

COUNTERS = ("variants_entered", "sample_details_entered", "existing_matched")


def _load_cfg(spark, tmp_path, **extra):
    vdir = tmp_path / "vcfs"
    vdir.mkdir()
    genes_path = str(tmp_path / "genes")
    spark.createDataFrame(
        [(1, "1", 50, 150, "ACTIVE", 372)], schemas.GENE
    ).write.parquet(genes_path)
    return vdir, {
        "map_key": 372,
        "input_dir": str(vdir),
        "samples": {"S1": 1, "S2": 2},
        "genes_path": genes_path,
        "variant_store": str(tmp_path / "variants"),
        "detail_store": str(tmp_path / "details"),
        **extra,
    }


def _counters(m):
    return tuple(m[k] for k in COUNTERS)


def test_cli_load_counters_on_non_empty_store(spark, tmp_path):
    """The counters describe THIS run even when the stores already hold
    rows: a second file's new variant is entered, not miscounted as a
    dedup hit of itself."""
    from hrdp_variant_load_pipeline_spark.sources.store import read_store

    def persisted():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())

    before = persisted()
    vdir, cfg = _load_cfg(spark, tmp_path)
    with gzip.open(vdir / "A_X_2020_v1_PASS.vcf.gz", "wt") as f:
        f.write(VCF)
    assert _counters(cmd_run_load(spark, cfg)) == (2, 2, 0)

    with gzip.open(vdir / "B_Y_2020_v1_PASS.vcf.gz", "wt") as f:
        f.write(FILE_B)
    # B's chr1:100 and both of A's lines match; chr1:700 is new
    assert _counters(cmd_run_load(spark, cfg)) == (1, 2, 3)
    assert _counters(cmd_run_load(spark, cfg)) == (0, 0, 4)  # idempotent

    assert read_store(spark, cfg["variant_store"]).count() == 3
    assert read_store(spark, cfg["detail_store"]).count() == 4
    # the load's caches do not outlive the run (other tests' entries may
    # be cleaned meanwhile, so only look for new ones)
    assert not persisted() - before


def test_cli_load_counters_constraints_check_match_default(spark, tmp_path):
    """The audit action reads new_variants before the append; the counters
    still come from the appends, same as the default mode."""
    vdir, cfg = _load_cfg(spark, tmp_path, constraints="check")
    with gzip.open(vdir / "A_X_2020_v1_PASS.vcf.gz", "wt") as f:
        f.write(VCF)
    assert _counters(cmd_run_load(spark, cfg)) == (2, 2, 0)
    with gzip.open(vdir / "B_Y_2020_v1_PASS.vcf.gz", "wt") as f:
        f.write(FILE_B)
    m = cmd_run_load(spark, cfg)
    assert _counters(m) == (1, 2, 3)
    assert m["constraint[unique(rgd_id)]"] == 0


def test_cli_load_counters_batch_without_surviving_rows(spark, tmp_path):
    """Empty outputs still fill their observations: unplaced contigs only
    give all-zero counters; hom-ref / no-call cells only give variants but
    no sample rows. Neither raises nor blocks."""
    vdir, cfg = _load_cfg(spark, tmp_path)
    header = "##fileformat=VCFv4.2\n#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tS1\n"
    with gzip.open(vdir / "A_X_2020_v1_PASS.vcf.gz", "wt") as f:
        f.write(
            header
            + "chrUn_scaffold_1\t100\t.\tA\tG\t50\tPASS\t.\tGT:AD:DP\t0/1:5,5:10\n"
            + "chr1_unplaced\t400\t.\tC\tT\t50\tPASS\t.\tGT:AD:DP\t1/1:0,9:9\n"
        )
    m = cmd_run_load(spark, cfg)
    assert _counters(m) + (m["end_pos_drift_detected"],) == (0, 0, 0, 0)

    with gzip.open(vdir / "B_X_2020_v1_PASS.vcf.gz", "wt") as f:
        f.write(
            header
            + "chr1\t900\t.\tA\tG\t50\tPASS\t.\tGT:AD:DP\t0/0:9,0:9\n"
            + "chr1\t950\t.\tA\tG\t50\tPASS\t.\tGT:AD:DP\t./.:0,0:0\n"
        )
    assert _counters(cmd_run_load(spark, cfg)) == (2, 0, 0)


def test_load_observation_names_unique_per_run(spark, tmp_path):
    """Two loads in one session get distinct observation names, so one
    plan never holds two metric definitions of the same name."""
    from hrdp_variant_load_pipeline_spark.plans.load import run_load
    from hrdp_variant_load_pipeline_spark.sources.vcf import read_vcf

    vdir, cfg = _load_cfg(spark, tmp_path)
    with gzip.open(vdir / "A_X_2020_v1_PASS.vcf.gz", "wt") as f:
        f.write(VCF)
    genes = spark.read.parquet(cfg["genes_path"])
    samples = spark.createDataFrame([], schemas.SAMPLE)
    empty_v = spark.createDataFrame([], schemas.VARIANT)
    empty_d = spark.createDataFrame([], schemas.VARIANT_SAMPLE_DETAIL)
    runs = [
        run_load(read_vcf(spark, str(vdir)), genes, samples, empty_v, empty_d, 372)
        for _ in range(2)
    ]
    names = {o._name for r in runs for o in (r.variants_observed, r.details_observed)}
    for r in runs:
        r.release()
    assert len(names) == 4


def _qc_cfg(spark, tmp_path):
    """A --genicQc config over the VCF scope (chr1:100, chr1:400) and a
    versioned store: chr1:100 lies in the gene but is stored INTERGENIC
    (drift), chr1:400 is right, chr1:700 is outside the scope."""
    from hrdp_variant_load_pipeline_spark.sources.store import commit_store_version

    vdir, cfg = _load_cfg(spark, tmp_path)
    with gzip.open(vdir / "A_X_2020_v1_PASS.vcf.gz", "wt") as f:
        f.write(VCF)
    rows = [
        (i, "A", "G", None, None, "snv", 3, "1", None, pos, pos, status, 372)
        for i, pos, status in [(1, 100, "INTERGENIC"), (2, 400, "INTERGENIC"),
                               (3, 700, "GENIC")]
    ]
    commit_store_version(
        spark.createDataFrame(rows, schemas.VARIANT), cfg["variant_store"]
    )
    return cfg


def _seq(scala_seq):
    it = scala_seq.iterator()
    while it.hasNext():
        yield it.next()


def _plan_nodes(plan):
    """Every physical node of an executed plan, adaptive stages and
    reused exchanges included (cached relations are leaves)."""
    nodes, todo = [], [plan]
    while todo:
        node = todo.pop()
        nodes.append(node)
        kind = node.getClass().getSimpleName()
        if kind == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
        elif kind.endswith("QueryStageExec"):
            todo.append(node.plan())
        elif kind == "ReusedExchangeExec":
            todo.append(node.child())
        todo.extend(_seq(node.children()))
    return nodes


def test_cli_genic_qc_releases_caches(spark, tmp_path, monkeypatch):
    """A failed rewrite, a drifting run and a fixpoint run each leave the
    session's persisted RDDs as they found them; the fixpoint commits no
    new store version."""
    import pytest

    from hrdp_variant_load_pipeline_spark import cli

    def persisted():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())

    def versions():
        return sorted(p.name for p in (tmp_path / "variants").glob("v_*"))

    cfg = _qc_cfg(spark, tmp_path)
    # other tests' entries may be cleaned meanwhile: look for new ones only
    before = persisted()

    def refuse(df, root):
        raise RuntimeError("store unavailable")

    with monkeypatch.context() as m:
        m.setattr(cli, "commit_store_version", refuse)
        with pytest.raises(RuntimeError, match="store unavailable"):
            cmd_genic_qc(spark, cfg)
    assert not persisted() - before

    assert cmd_genic_qc(spark, cfg) == {"genic_status_updated": 1}
    assert not persisted() - before
    committed = versions()

    assert cmd_genic_qc(spark, cfg) == {"genic_status_updated": 0}
    assert not persisted() - before
    assert versions() == committed


def test_cli_genic_qc_rewrite_reads_cached_drift_set(spark, tmp_path, monkeypatch):
    """The store rewrite reads the drift set the count materialized: its
    executed plan scans the cache and never the VCF text again."""
    from hrdp_variant_load_pipeline_spark import cli

    cfg = _qc_cfg(spark, tmp_path)
    plans = []
    commit = cli.commit_store_version

    def inspect_then_commit(df, root):
        df.collect()
        plans.append(df._jdf.queryExecution().executedPlan())
        return commit(df, root)

    monkeypatch.setattr(cli, "commit_store_version", inspect_then_commit)
    assert cmd_genic_qc(spark, cfg) == {"genic_status_updated": 1}
    (plan,) = plans
    nodes = _plan_nodes(plan)
    cached = [
        n for n in nodes if n.getClass().getSimpleName() == "InMemoryTableScanExec"
    ]
    outputs = [sorted(a.name() for a in _seq(n.output())) for n in cached]
    assert ["genic_status", "rgd_id"] in outputs
    text_scans = [
        n
        for n in nodes
        if n.getClass().getSimpleName() == "FileSourceScanExec"
        and n.relation().fileFormat().getClass().getSimpleName() == "TextFileFormat"
    ]
    assert not text_scans
