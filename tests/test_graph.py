"""PageRank: planted-structure and invariant tests (the registry
differential covers the co-purchase entry against the unrolled-CTE
DuckDB oracle)."""

from __future__ import annotations

import pyspark.sql.functions as F

from parquet_ingestor_spark.operators.graph import (
    BASE_TOKENS,
    SCALE,
    pagerank_tokens,
)


def _sym(spark, pairs):
    rows = [(a, b) for a, b in pairs] + [(b, a) for a, b in pairs]
    return spark.createDataFrame(rows, "src long, dst long")


def test_star_hub_outranks_spokes(spark):
    # hub 0 connected to spokes 1..6: authority concentrates at 0
    edges = _sym(spark, [(0, i) for i in range(1, 7)])
    got = {
        r["node"]: r["tokens"]
        for r in pagerank_tokens(edges, iterations=5).collect()
    }
    assert set(got) == {0, 1, 2, 3, 4, 5, 6}
    hub, spokes = got[0], [got[i] for i in range(1, 7)]
    assert all(hub > s for s in spokes)
    # spokes are symmetric — identical integer arithmetic, identical rank
    assert len(set(spokes)) == 1


def test_every_node_keeps_at_least_teleport_mass(spark):
    edges = _sym(spark, [(1, 2), (2, 3), (3, 4), (10, 11)])
    out = pagerank_tokens(edges, iterations=3).collect()
    assert all(r["tokens"] >= BASE_TOKENS for r in out)
    # node set preserved: every src survives every round
    assert {r["node"] for r in out} == {1, 2, 3, 4, 10, 11}


def test_regular_graph_is_uniform_at_scale(spark):
    # on a k-regular symmetric graph the uniform distribution is the
    # fixpoint: every node holds exactly SCALE tokens after any number
    # of rounds (up to the deterministic floor loss, identical per node)
    edges = _sym(spark, [(0, 1), (1, 2), (2, 3), (3, 0)])  # 2-regular ring
    out = pagerank_tokens(edges, iterations=4).collect()
    toks = {r["tokens"] for r in out}
    assert len(toks) == 1
    assert abs(next(iter(toks)) - SCALE) <= 10  # floor loss only


def test_duplicate_and_self_edges_are_ignored(spark):
    noisy = _sym(spark, [(1, 2), (1, 2), (2, 3)]).unionByName(
        _sym(spark, [(3, 3)])
    )
    clean = _sym(spark, [(1, 2), (2, 3)])
    got = sorted(
        pagerank_tokens(noisy, iterations=3).collect(),
        key=lambda r: r["node"],
    )
    want = sorted(
        pagerank_tokens(clean, iterations=3).collect(),
        key=lambda r: r["node"],
    )
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_determinism_across_partitionings(spark):
    edges = _sym(spark, [(i, i + 1) for i in range(40)] + [(0, 39), (5, 20)])
    base = {
        r["node"]: r["tokens"]
        for r in pagerank_tokens(edges, iterations=5).collect()
    }
    for n in (1, 7):
        rep = {
            r["node"]: r["tokens"]
            for r in pagerank_tokens(
                edges.repartition(n), iterations=5
            ).collect()
        }
        assert rep == base


def test_reliable_checkpoint_mode_matches_cached_mode(spark, tmp_path):
    """Both edge-table materializations (cached, reliable checkpoint)
    run the same build and rounds, so they return identical tokens."""
    noisy = _sym(spark, [(1, 2), (1, 2), (2, 3), (3, 4), (4, 1)]).unionByName(
        _sym(spark, [(2, 2)])
    )
    cached = sorted(tuple(r) for r in pagerank_tokens(noisy, iterations=3).collect())
    ckpt = pagerank_tokens(
        noisy, iterations=3, checkpoint_dir=str(tmp_path / "ckpt"), checkpoint_interval=2
    )
    assert sorted(tuple(r) for r in ckpt.collect()) == cached


def test_interval_bin_join_boundaries(spark):
    """lo inclusive, hi exclusive, no duplicate matches across bins
    (each probe row lives in exactly one bin)."""
    import datetime as dt

    from parquet_ingestor_spark.operators.asof import interval_bin_join

    iv = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 2, 0, 0), dt.datetime(2024, 1, 5, 0, 0))],
        "key long, lo timestamp, hi timestamp",
    )
    probe = spark.createDataFrame(
        [
            (10, dt.datetime(2024, 1, 1, 23, 59, 59)),  # before lo
            (11, dt.datetime(2024, 1, 2, 0, 0)),        # == lo: in
            (12, dt.datetime(2024, 1, 3, 12, 0)),       # mid: in
            (13, dt.datetime(2024, 1, 4, 23, 59, 59)),  # last tick: in
            (14, dt.datetime(2024, 1, 5, 0, 0)),        # == hi: out
        ],
        "id long, ts timestamp",
    )
    got = sorted(
        r["id"] for r in interval_bin_join(probe, iv, "ts").collect()
    )
    assert got == [11, 12, 13]


def test_triangle_stats_planted(spark):
    """K4 has 4 triangles, 6 edges, wedge count sum C(3,2)*4=12,
    coefficient 3*4/12 = 1.0; adding a pendant vertex adds a wedge
    but no triangle."""
    from parquet_ingestor_spark.operators.graph import triangle_stats

    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    df = spark.createDataFrame(k4, "u long, v long")
    row = triangle_stats(df).collect()[0]
    assert (row.n_nodes, row.n_edges, row.n_triangles, row.n_wedges) == (
        4, 6, 4, 12,
    )
    assert row.clustering_coeff == 1.0

    pend = spark.createDataFrame(k4 + [(3, 9)], "u long, v long")
    row = triangle_stats(pend).collect()[0]
    assert row.n_triangles == 4
    assert row.n_edges == 7
    # duplicate / reversed edges canonicalize away
    noisy = spark.createDataFrame(
        k4 + [(b, a) for a, b in k4], "u long, v long"
    )
    assert triangle_stats(noisy).collect()[0].n_triangles == 4


def test_kcore_peels_planted_tendril_keeps_clique(spark):
    """A 6-clique with a pendant path hanging off it: the density
    threshold lands at k >= 2 there, so the degree-1 tendril tail
    peels off round by round while the clique (degree 5 internally)
    survives every round with its full internal degree."""
    from parquet_ingestor_spark.operators.graph import kcore_peel

    clique = [(i, j) for i in range(6) for j in range(i + 1, 6)]
    tendril = [(5, 10), (10, 11), (11, 12)]
    e = spark.createDataFrame(clique + tendril, "u long, v long")
    # m=18, n=9 -> k = (4*36) div (5*9) = 3
    got = {r.x: r.deg for r in kcore_peel(e, rounds=3).collect()}
    assert set(got) == {0, 1, 2, 3, 4, 5}
    assert got[0] == 5 and got[5] == 5  # clique degrees intact


def test_kcore_alive_sets_only_shrink(spark, sf_dir):
    """Monotone guarantee: each extra peel round returns a SUBSET of
    the previous round's survivors (never resurrects a node)."""
    import pyspark.sql.functions as F

    from parquet_ingestor_spark.catalog import table
    from parquet_ingestor_spark.operators.graph import kcore_peel

    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("u"))
    b = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("v"))
    edges = a.join(b, "ok").where(F.col("u") < F.col("v")).select("u", "v")
    prev = None
    for r in (1, 2, 3):
        alive = {row.x for row in kcore_peel(edges, rounds=r).collect()}
        if prev is not None:
            assert alive <= prev, f"round {r} resurrected nodes"
        prev = alive
