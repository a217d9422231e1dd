"""Input-size-aware session profile + table DataFrame reuse.

Sub-second queries on small inputs are dominated by fixed per-job cost;
two of the cluster-profile defaults (AQE's stage-by-stage re-planning and
cores-sized shuffle partitioning) are the avoidable part. ``tune_for_input``
switches them per input dataset, and ``sources.tables.table`` hands every
caller the same immutable DataFrame so the file listing + parquet footer
read is paid once per (session, dir, table), not per query.
"""

from __future__ import annotations

import os

import pytest

from hrdp_variant_load_pipeline_spark import session as sess
from hrdp_variant_load_pipeline_spark.sources.tables import table

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


def test_small_input_profile(spark, tmp_path):
    small = tmp_path / "small"
    small.mkdir()
    (small / "t.parquet").write_bytes(b"x" * 1024)
    applied = sess.tune_for_input(spark, str(small))
    assert applied["spark.sql.adaptive.enabled"] == "false"
    sp = int(applied["spark.sql.shuffle.partitions"])
    assert 4 <= sp <= 32
    assert spark.conf.get("spark.sql.adaptive.enabled") == "false"


def test_large_input_restores_cluster_profile(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(sess, "_dir_bytes", lambda p, cap: cap)
    applied = sess.tune_for_input(spark, str(tmp_path))
    assert applied["spark.sql.adaptive.enabled"] == "true"
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    # restore default for other tests (session-scoped spark)
    assert int(applied["spark.sql.shuffle.partitions"]) >= 4


def test_dir_bytes_short_circuits_at_cap(tmp_path):
    for i in range(10):
        (tmp_path / f"f{i}").write_bytes(b"x" * 100)
    assert sess._dir_bytes(str(tmp_path), cap=250) >= 250
    assert sess._dir_bytes(str(tmp_path), cap=10**9) == 1000


@pytest.mark.skipif(
    not os.path.isdir(SF_DIR), reason="driver testdata fixture not present"
)
def test_table_cache_reuses_dataframe(spark):
    a = table(spark, SF_DIR, "region")
    b = table(spark, SF_DIR, "region")
    assert a is b, "second call must reuse the cached plan (no re-listing)"
    c = table(spark, SF_DIR + "/", "region")
    assert c is a, "trailing slash must not split the cache key"
    d = table(spark, SF_DIR, "nation")
    assert d is not a


def test_tune_for_tables_per_query_profile(spark, tmp_path):
    """A small table inside a large dataset gets the small profile; a
    large table gets the cluster profile; None falls back to dir-level."""
    import os

    from hrdp_variant_load_pipeline_spark.session import (
        MEDIUM_INPUT_BYTES,
        tune_for_tables,
    )

    small = tmp_path / "tiny.parquet"
    small.mkdir()
    (small / "part-0").write_bytes(b"x" * 1024)
    medium = tmp_path / "medium.parquet"
    medium.mkdir()
    (medium / "part-0").write_bytes(b"x" * (16 * 1024**2 + 1))
    big = tmp_path / "big.parquet"
    big.mkdir()
    with open(big / "part-0", "wb") as f:  # sparse: size without the bytes
        f.truncate(MEDIUM_INPUT_BYTES + 1)

    # the local profile (AQE off, half-cores) covers tiny through
    # sub-GiB inputs — round-8 re-measured with warm JIT: more
    # parallelism wins at every local size
    conf = tune_for_tables(spark, str(tmp_path), ["tiny"])
    assert conf["spark.sql.adaptive.enabled"] == "false"
    assert int(conf["spark.sql.shuffle.partitions"]) >= 8
    conf = tune_for_tables(spark, str(tmp_path), ["tiny", "medium"])
    assert conf["spark.sql.adaptive.enabled"] == "false"
    assert int(conf["spark.sql.shuffle.partitions"]) >= 8
    conf = tune_for_tables(spark, str(tmp_path), ["tiny", "big"])
    assert conf["spark.sql.adaptive.enabled"] == "true"
    assert conf["spark.sql.shuffle.partitions"] == os.environ.get(
        "SPARK_GRAFT_CPUS", "32"
    )


def test_tune_for_tables_missing_table_falls_back(spark, tmp_path):
    """A mistyped/renamed table must NOT silently sum 0 bytes and pin the
    small profile: the fallback sizes from the whole directory (which can
    only err toward the cluster profile)."""
    import warnings

    from hrdp_variant_load_pipeline_spark.session import (
        MEDIUM_INPUT_BYTES,
        tune_for_tables,
    )

    big = tmp_path / "big.parquet"
    big.mkdir()
    with open(big / "part-0", "wb") as f:  # sparse: size without the bytes
        f.truncate(MEDIUM_INPUT_BYTES + 1)

    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        conf = tune_for_tables(spark, str(tmp_path), ["nonexistent"])
    assert any("not found" in str(x.message) for x in w)
    # the dir holds > MEDIUM_INPUT_BYTES, so the fallback picks the
    # cluster profile — the opposite of the 0-byte small-profile cliff
    assert conf["spark.sql.adaptive.enabled"] == "true"


@pytest.mark.parametrize(
    "cpus, master, default_sp",
    [("4", "local[4]", 4), ("32", "local[32]", 32), ("*", "local[*]", 32)],
)
def test_local_cores_keeps_master_and_default_partitions(
    monkeypatch, cpus, master, default_sp
):
    """One parse of SPARK_GRAFT_CPUS feeds get_spark's master and shuffle
    default and both tune_* cluster profiles."""
    monkeypatch.setenv("SPARK_GRAFT_CPUS", cpus)
    assert sess.local_cores() == (master, default_sp)
    cluster = sess._profile_for_size(sess.MEDIUM_INPUT_BYTES, default_sp)
    assert cluster["spark.sql.shuffle.partitions"] == str(default_sp)


def test_parse_count_falls_back_on_non_numeric():
    assert sess.parse_count("12", 7) == 12
    for value in ("auto", "*", "", None, "-1"):
        assert sess.parse_count(value, 7) == 7
