"""Interval join strategies: broadcast vs binned equivalence (incl. negative
coordinates), and the reference's inverted-probe quirk."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from hrdp_variant_load_pipeline_spark.operators.interval_join import (
    interval_join,
    interval_join_binned,
    with_exists_flag,
)


def _random_frames(spark, seed=7, n_probes=300, n_intervals=120):
    rng = random.Random(seed)
    probes = []
    for i in range(n_probes):
        chrom = rng.choice(["1", "2", "X"])
        s = rng.randint(-5_000_000, 5_000_000)
        probes.append((i, chrom, s, s + rng.randint(0, 500_000)))
    intervals = []
    for i in range(n_intervals):
        chrom = rng.choice(["1", "2", "X"])
        s = rng.randint(-5_000_000, 5_000_000)
        intervals.append((i, chrom, s, s + rng.randint(0, 800_000)))
    p = spark.createDataFrame(probes, "pid int, chromosome string, q_start long, q_stop long")
    iv = spark.createDataFrame(
        intervals, "iid int, chromosome string, start_pos long, stop_pos long"
    )
    return p, iv


def test_binned_matches_broadcast(spark):
    p, iv = _random_frames(spark)
    broadcast_pairs = {
        (r["pid"], r["iid"])
        for r in interval_join(p, iv, how="inner")
        .select(F.col("pr.pid"), F.col("iv.iid"))
        .collect()
    }
    binned_pairs = {
        (r["pid"], r["iid"])
        for r in interval_join_binned(p, iv, bin_size=250_000)
        .select(F.col("pr.pid"), F.col("iv.iid"))
        .collect()
    }
    assert broadcast_pairs == binned_pairs
    assert broadcast_pairs  # non-degenerate


def test_binned_small_bins_still_exact(spark):
    p, iv = _random_frames(spark, seed=11, n_probes=100, n_intervals=50)
    a = interval_join(p, iv, how="inner").count()
    b = interval_join_binned(p, iv, bin_size=10_000).select("pid", "iid").distinct().count()
    assert a == b


def test_inverted_probe_quirk(spark):
    """The loader's multi-allelic probe (q_stop=0 < q_start) degrades the
    3-disjunct predicate to q_start >= g_start (SURVEY.md §1.4)."""
    p = spark.createDataFrame(
        [(1, "1", 500, 0), (2, "1", 50, 0)],
        "pid int, chromosome string, q_start long, q_stop long",
    )
    iv = spark.createDataFrame(
        [(10, "1", 100, 200)], "iid int, chromosome string, start_pos long, stop_pos long"
    )
    flagged = {r["pid"]: r["hit"] for r in with_exists_flag(p, iv, "hit").collect()}
    assert flagged[1] is True  # 500 >= 100 even though [500,0] is inverted
    assert flagged[2] is False  # 50 < 100


def _sql_le(a, b):
    # a SQL comparison with a NULL side is never true
    return a is not None and b is not None and a <= b


def _reference_hit(qs, qe, s, e):
    """GeneCache.java:70-78's 3-disjunct overlap, in Python."""
    return (
        (_sql_le(s, qs) and _sql_le(qe, e))
        or (_sql_le(qs, s) and _sql_le(s, qe))
        or (_sql_le(qs, e) and _sql_le(e, qe))
    )


def _exists_flag_cases(n=56):
    """Hypothesis examples of (genes, probes) per case: coordinates near
    and across 1 Mb bin edges, negative, far outside every gene bin, or
    NULL; genes possibly malformed (start > stop) or many bins long;
    probes well-formed, point, or the loader's inverted (q_stop=0) form;
    a chromosome ("3") that never has genes. The explicit examples pin
    the hits only one end of a gene can give."""
    from hypothesis import example, given, settings, strategies as st

    edge = st.sampled_from(
        [k * 1_000_000 + d for k in range(-2, 6) for d in (-1, 0, 1)]
    )
    coord = st.one_of(
        st.integers(-3_000_000, 6_000_000),
        edge,
        st.integers(40_000_000, 60_000_000),
        st.none(),
    )
    gene = st.tuples(st.sampled_from(["1", "2", None]), coord, coord)
    probe = st.tuples(
        st.sampled_from(["1", "2", "3", None]),
        st.one_of(
            st.tuples(coord, coord),
            coord.map(lambda s: (s, s)),
            coord.map(lambda s: (s, 0)),
        ),
    )
    cases = []

    @settings(max_examples=n, derandomize=True, deadline=None)
    @given(genes=st.lists(gene, max_size=8), probes=st.lists(probe, max_size=12))
    # NULL start: only the right disjunct (q_start <= stop <= q_stop) can hold
    @example(genes=[("1", None, 1_500_000)], probes=[("1", (1_400_000, 1_600_000))])
    # NULL stop: only the left disjunct (q_start <= start <= q_stop) can hold
    @example(genes=[("1", 2_500_000, None)], probes=[("1", (2_000_000, 3_000_000))])
    # malformed gene over three bins, inverted probe: contained holds
    @example(genes=[("1", 3_000_000, 1_000_000)], probes=[("1", (3_500_000, 0))])
    # a gene over six bins, an inverted probe in its last bin, no-gene chrom
    @example(
        genes=[("2", -1_500_000, 4_200_000)],
        probes=[("2", (4_000_001, 0)), ("3", (5, 5))],
    )
    def gen(genes, probes):
        cases.append((genes, probes))

    gen()
    return cases


def test_exists_flag_matches_reference_predicate(spark):
    """The binned exists flag equals the literal 3-disjunct predicate
    probed against EVERY interval of the chromosome, on inputs the bin
    index must not get wrong. All cases ride one Spark job: each case's
    chromosomes are namespaced by its index."""
    cases = _exists_flag_cases()
    assert len(cases) <= 60

    def ns(i, c):
        return None if c is None else f"{i}:{c}"

    genes, probes, want = [], [], {}
    for i, (gs, ps) in enumerate(cases):
        genes += [(ns(i, c), s, e) for c, s, e in gs]
        for j, (c, (qs, qe)) in enumerate(ps):
            pid = f"{i}:{j}"
            probes.append((pid, ns(i, c), qs, qe))
            want[pid] = c is not None and any(
                gc == c and _reference_hit(qs, qe, s, e) for gc, s, e in gs
            )
    p = spark.createDataFrame(
        probes, "pid string, chromosome string, q_start long, q_stop long"
    )
    iv = spark.createDataFrame(
        genes, "chromosome string, start_pos long, stop_pos long"
    )
    got = {r["pid"]: r["hit"] for r in with_exists_flag(p, iv, "hit").collect()}
    assert got == want
    # non-degenerate: hits and misses, including inverted-probe hits
    assert any(want.values()) and not all(want.values())
    inverted_hits = [
        pid for pid, _c, qs, qe in probes
        if want[pid] and qe == 0 and qs is not None and qs > 0
    ]
    assert inverted_hits
