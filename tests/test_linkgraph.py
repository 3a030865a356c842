"""Fixed-point PageRank/HITS vs a dense float numpy reference on a small
random graph, plus the bucketed-layout paths."""

from __future__ import annotations

import re

import numpy as np
import pytest

from scrapy_spark.operators.linkgraph import degree_stats, hits_exact, pagerank_exact


@pytest.fixture(scope="module")
def graph(spark):
    rng = np.random.RandomState(7)
    n = 30
    edges = set()
    for _ in range(120):
        s, d = rng.randint(0, n), rng.randint(0, n)
        if s != d:
            edges.add((f"n{s}", f"n{d}"))
    edges = sorted(edges)
    df = spark.createDataFrame(edges, ["src", "dst"])
    return df, edges


def _np_pagerank(edges, iterations=10, damping=0.85):
    nodes = sorted({x for e in edges for x in e})
    idx = {v: i for i, v in enumerate(nodes)}
    n = len(nodes)
    out_deg = np.zeros(n)
    for s, _ in edges:
        out_deg[idx[s]] += 1
    r = np.full(n, 1.0 / n)
    for _ in range(iterations):
        contrib = np.zeros(n)
        for s, d in edges:
            contrib[idx[d]] += r[idx[s]] / out_deg[idx[s]]
        dangling = r[out_deg == 0].sum()
        r = (1 - damping) / n + damping * dangling / n + damping * contrib
    r = r / r.max()
    return {v: r[idx[v]] for v in nodes}


def _np_hits(edges, iterations=10):
    nodes = sorted({x for e in edges for x in e})
    idx = {v: i for i, v in enumerate(nodes)}
    n = len(nodes)
    hub = np.ones(n)
    auth = np.ones(n)
    for _ in range(iterations):
        new_auth = np.zeros(n)
        for s, d in edges:
            new_auth[idx[d]] += hub[idx[s]]
        new_auth /= np.linalg.norm(new_auth) or 1.0
        new_hub = np.zeros(n)
        for s, d in edges:
            new_hub[idx[s]] += new_auth[idx[d]]
        new_hub /= np.linalg.norm(new_hub) or 1.0
        hub, auth = new_hub, new_auth
    return {v: (hub[idx[v]], auth[idx[v]]) for v in nodes}


def test_degree_stats(spark, graph):
    df, edges = graph
    got = {r["node"]: (r["out_degree"], r["in_degree"]) for r in degree_stats(df).collect()}
    outs: dict[str, int] = {}
    ins: dict[str, int] = {}
    for s, d in edges:
        outs[s] = outs.get(s, 0) + 1
        ins[d] = ins.get(d, 0) + 1
    for k, (o, i) in got.items():
        assert o == outs.get(k, 0) and i == ins.get(k, 0)


def test_pagerank_exact_tracks_float(spark, graph):
    """Fixed-point pagerank_exact (driver-checkable) stays within the
    quantization error of the float numpy recurrence."""
    df, edges = graph
    f = _np_pagerank(edges, iterations=5)
    x = {r["node"]: r["rank"] for r in pagerank_exact(df, iterations=5).collect()}
    assert set(f) == set(x)
    for k in f:
        assert abs(f[k] - x[k]) < 1e-3, (k, f[k], x[k])


def test_hits_exact_tracks_float(spark, graph):
    df, edges = graph
    f = _np_hits(edges, iterations=5)
    x = {r["node"]: (r["hub"], r["authority"]) for r in hits_exact(df, iterations=5).collect()}
    assert set(f) == set(x)
    for k in f:
        assert abs(f[k][0] - x[k][0]) < 5e-3 and abs(f[k][1] - x[k][1]) < 5e-3, (
            k,
            f[k],
            x[k],
        )


def test_bucketed_edge_join_no_edge_exchange(spark, tmp_path):
    """The beyond-broadcast co-partition path: with edges bucketed on src,
    the per-iteration contribution join must NOT exchange or sort the edge
    side — only the small rank side shuffles into the bucketing — and the
    contributions must equal the broadcast path's exactly."""
    from pyspark.sql import functions as F

    from scrapy_spark.operators.linkgraph import (
        bucketed_contribs,
        write_bucketed_edges,
    )

    edges = spark.createDataFrame(
        [(f"n{i}", f"n{(i * 7 + 1) % 50}") for i in range(200)]
        + [(f"n{i}", f"n{(i + 13) % 50}") for i in range(50)],
        "src string, dst string",
    )
    out_deg = edges.groupBy("src").agg(F.count("*").alias("out_deg"))
    e = edges.join(out_deg, "src")
    spark.sql("DROP TABLE IF EXISTS bucketed_edges_test")
    write_bucketed_edges(spark, e, "bucketed_edges_test", buckets=8)

    ranks = spark.createDataFrame(
        [(f"n{i}", 1_000_000 + i) for i in range(200)], "node string, r long"
    )
    df = bucketed_contribs(spark, "bucketed_edges_test", ranks)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # edge side: scan of the bucketed table with no exchange above it —
    # the ONLY pre-join exchange in the plan is the rank side's
    scan_part = plan.split("FileScan")[0]
    n_exchanges_before_agg = plan.count("Exchange hashpartitioning(src")
    assert n_exchanges_before_agg <= 1, plan  # ranks only, never edges
    assert "SelectedBucketsCount" in plan or "Bucketed: true" in plan, plan

    # value parity vs the plain (broadcast-style) join
    expect = (
        e.join(ranks.select(F.col("node").alias("src"), "r"), "src")
        .select(F.col("dst").alias("node"), F.expr("r div out_deg").alias("c"))
        .groupBy("node")
        .agg(F.sum("c").alias("contrib"))
    )
    assert sorted(map(tuple, df.collect())) == sorted(map(tuple, expect.collect()))
    spark.sql("DROP TABLE IF EXISTS bucketed_edges_test")


def _no_auto_tables(spark):
    return [t.name for t in spark.catalog.listTables()
            if t.name.startswith("lg_edges_")]


@pytest.fixture()
def no_broadcast(spark):
    """Simulate beyond-broadcast scale: with the threshold off, the
    contribution join can only be exchange-free on the edge side if the
    bucketed co-partition layout is actually used (on the tiny test graph
    AQE would otherwise just broadcast the edge table and prove nothing)."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    yield
    spark.conf.set(key, old)


def _assert_bucketed_join_plans(plans, prefix, key, min_joins):
    """Every probed plan whose bucketed-table scan is actually bucket-read
    must (a) select all buckets, (b) never re-shuffle the edge scan's own
    key column (the rank side's exchange carries a different exprId), and
    (c) join via SortMergeJoin — the co-partition shape."""
    joined = 0
    for p in plans:
        scans = [
            ln
            for ln in p.splitlines()
            if f"spark_catalog.default.{prefix}" in ln and "FileScan" in ln
        ]
        bucketed = [ln for ln in scans if "Bucketed: true" in ln]
        if not bucketed:
            continue
        joined += 1
        for ln in bucketed:
            assert "SelectedBucketsCount" in ln, ln
            kid = re.search(rf"{key}#(\d+)", ln).group(1)
            assert f"hashpartitioning({key}#{kid}" not in p, p
        assert "SortMergeJoin" in p, p
    assert joined >= min_joins, f"{joined} bucketed-join plans of {len(plans)}"


def test_auto_bucketed_pagerank_exact_matches_broadcast_path(
    spark, graph, monkeypatch, no_broadcast
):
    """Drive the MAIN entry point through the beyond-BROADCAST_NODES path
    (threshold monkeypatched below the node count): the loop must auto-write
    a bucketed edge table, every contribution iteration must read it with no
    edge-side exchange (only the rank side shuffles into the bucketing), the
    integer results must be bit-identical to the broadcast path, and the
    auto tables must be dropped at the end."""
    import scrapy_spark.operators.linkgraph as lg

    df, _ = graph
    want = sorted(map(tuple, lg.pagerank_exact(df, iterations=4).collect()))
    monkeypatch.setattr(lg, "BROADCAST_NODES", 1)
    probes: list[str] = []
    got = sorted(
        map(
            tuple,
            lg.pagerank_exact(
                df, iterations=4, buckets=4, plan_probe=probes
            ).collect(),
        )
    )
    assert got == want
    # iterations 2..4 carry the contribution join (it=1 takes the algebraic
    # shortcut — a plain scan, legitimately not bucket-read)
    _assert_bucketed_join_plans(probes, "lg_edges_src_", "src", min_joins=3)
    assert _no_auto_tables(spark) == []


def test_auto_bucketed_hits_exact_matches_broadcast_path(
    spark, graph, monkeypatch, no_broadcast
):
    """Same as the pagerank test for hits_exact: BOTH join orientations go
    through their bucketed copies (src-bucketed for hub->auth, dst-bucketed
    for auth->hub) with no edge-side exchange; bit-identical results."""
    import scrapy_spark.operators.linkgraph as lg

    df, _ = graph
    want = sorted(map(tuple, lg.hits_exact(df, iterations=3).collect()))
    monkeypatch.setattr(lg, "BROADCAST_NODES", 1)
    probes: list[str] = []
    got = sorted(
        map(
            tuple,
            lg.hits_exact(
                df, iterations=3, buckets=4, plan_probe=probes
            ).collect(),
        )
    )
    assert got == want
    # araw joins for it=2,3; hraw joins for it=1..3
    _assert_bucketed_join_plans(probes, "lg_edges_src_", "src", min_joins=2)
    _assert_bucketed_join_plans(probes, "lg_edges_dst_", "dst", min_joins=3)
    assert _no_auto_tables(spark) == []


def test_caller_provided_bucketed_tables(spark, graph):
    """Pre-bucketed tables (the cluster workflow: bucket once, analyze many
    times) route the loops without any auto table writes and without
    dropping the caller's tables."""
    from pyspark.sql import functions as F

    import scrapy_spark.operators.linkgraph as lg

    df, _ = graph
    out_deg = df.groupBy("src").agg(F.count("*").alias("out_deg"))
    e = df.join(out_deg, "src")
    spark.sql("DROP TABLE IF EXISTS t_lg_src")
    spark.sql("DROP TABLE IF EXISTS t_lg_dst")
    lg.write_bucketed_edges(spark, e, "t_lg_src", buckets=4, key="src")
    lg.write_bucketed_edges(spark, e, "t_lg_dst", buckets=4, key="dst")

    want_pr = sorted(map(tuple, lg.pagerank_exact(df, iterations=3).collect()))
    got_pr = sorted(
        map(
            tuple,
            lg.pagerank_exact(df, iterations=3, bucketed_table="t_lg_src").collect(),
        )
    )
    assert got_pr == want_pr

    want_h = sorted(map(tuple, lg.hits_exact(df, iterations=3).collect()))
    got_h = sorted(
        map(
            tuple,
            lg.hits_exact(
                df, iterations=3, bucketed_tables=("t_lg_src", "t_lg_dst")
            ).collect(),
        )
    )
    assert got_h == want_h
    # caller's tables survive
    names = {t.name for t in spark.catalog.listTables()}
    assert {"t_lg_src", "t_lg_dst"} <= names
    spark.sql("DROP TABLE IF EXISTS t_lg_src")
    spark.sql("DROP TABLE IF EXISTS t_lg_dst")
