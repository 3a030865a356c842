"""Link-graph analytics: PageRank and HITS as iterative DataFrame joins.

Rebuilds the reference's LinkGraphAnalyzer
(``Scraping_project/src/common/link_graph.py``):
- PageRank: damping 0.85, max-normalized (link_graph.py:182-247)
- HITS hub/authority: L2-normalized (link_graph.py:249-313)
- degree stats (link_graph.py:399-431)

Spark-first: each iteration is ``ranks ⋈ edges`` + ``groupBy(dst).sum`` —
partial (map-side) aggregation makes the per-iteration shuffle proportional
to the edge partition count, and the rank table (nodes only) stays small
relative to edges. Dangling-node mass is redistributed uniformly, matching
the uniform-teleport convention. Both loops are fixed-point (integer)
and run a fixed iteration count, so results are bit-identical across
engines, partitionings and run order — the form the DuckDB oracle checks;
tests/test_linkgraph.py pins them to a float numpy reference.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.materialize import materialize as _cut

# After localCheckpoint the rank/score side loses size statistics, so AQE
# falls back to a per-iteration SortMergeJoin of edges x ranks. The rank
# table is (node, score) — broadcast it while the node count is bounded
# (default < 5M ≈ tens of MB); beyond that the iteration loops switch to the
# bucketed co-partition layout AUTOMATICALLY (edges persisted bucketed on the
# join key; only the rank side shuffles into the bucketing each iteration —
# see _BucketedGraph). Callers with a pre-bucketed edge table pass it in and
# skip the one-time write.
BROADCAST_NODES = 5_000_000


def _rank_side(df: DataFrame, n: int):
    return F.broadcast(df) if n <= BROADCAST_NODES else df


class _BucketedGraph:
    """Beyond-broadcast edge layout for the iteration loops.

    Holds the bucketed edge table name(s) the per-iteration joins read from
    — persisted bucketed+sorted on the join key so the dominant edge side is
    exchange-free every iteration (only (node, score) shuffles into the
    bucketing). Owns auto-created tables and drops them on close(); caller-
    provided tables are left alone."""

    def __init__(self, spark, src_table: str | None, dst_table: str | None,
                 owned: tuple[str, ...] = ()):
        self.spark = spark
        self.src_table = src_table
        self.dst_table = dst_table
        self._owned = owned

    def src_edges(self) -> DataFrame:
        return self.spark.table(self.src_table)

    def dst_edges(self) -> DataFrame:
        return self.spark.table(self.dst_table)

    def close(self) -> None:
        for t in self._owned:
            self.spark.sql(f"DROP TABLE IF EXISTS {t}")


def _bucketize(
    spark,
    edges_with_deg: DataFrame,
    n: int,
    src_table: str | None,
    dst_table: str | None = None,
    need_dst: bool = False,
    buckets: int = 64,
) -> _BucketedGraph | None:
    """Decide the beyond-broadcast layout for an iteration loop.

    Returns None while the rank side is broadcastable (n <= BROADCAST_NODES)
    and no table was passed. A caller-provided table name wins; otherwise,
    past the threshold, the (edges + out_deg) plan is written ONCE to
    auto-named bucketed table(s) — a one-time shuffle that replaces a
    per-iteration one — and dropped when the loop finishes."""
    import uuid

    if src_table is not None or (need_dst and dst_table is not None):
        return _BucketedGraph(spark, src_table, dst_table)
    if n <= BROADCAST_NODES:
        return None
    tag = uuid.uuid4().hex[:12]
    owned = []
    st = f"lg_edges_src_{tag}"
    write_bucketed_edges(spark, edges_with_deg, st, buckets=buckets, key="src")
    owned.append(st)
    dt = None
    if need_dst:
        dt = f"lg_edges_dst_{tag}"
        write_bucketed_edges(spark, edges_with_deg, dt, buckets=buckets, key="dst")
        owned.append(dt)
    return _BucketedGraph(spark, st, dt, tuple(owned))


def _probe(plan_probe: list | None, df: DataFrame) -> None:
    """Append the about-to-execute physical plan (tests assert the bucketed
    path keeps the edge side exchange-free per iteration)."""
    if plan_probe is not None:
        plan_probe.append(df._jdf.queryExecution().executedPlan().toString())


def nodes_of(edges: DataFrame) -> DataFrame:
    return (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
    )


def _materialize_edges(edges: DataFrame, materialize: bool) -> DataFrame:
    """Edges arrive as a live plan (e.g. the copurchase join+distinct — ~9s
    at sf0.1) and EVERY entry point fans it out to 3-4 consumers (nodes_of
    reads it twice, out-degree agg, the edge⋈degree join). Without
    materialization each consumer re-derives the full plan — measured to be
    roughly half of pagerank_exact's wall time. One eager cut makes
    derivation a one-time cost; the mechanism is pluggable
    (plans/materialize): localCheckpoint locally, staged parquet when the
    session sets spark.scrapy_spark.materialize.dir (cluster mode)."""
    return _cut(edges, name="edges") if materialize else edges


def degree_stats(edges: DataFrame, materialize: bool = True) -> DataFrame:
    """In/out degree per node (A8)."""
    edges = _materialize_edges(edges, materialize)
    out_d = edges.groupBy(F.col("src").alias("node")).agg(F.count("*").alias("out_degree"))
    in_d = edges.groupBy(F.col("dst").alias("node")).agg(F.count("*").alias("in_degree"))
    return (
        nodes_of(edges)
        .join(out_d, "node", "left")
        .join(in_d, "node", "left")
        .fillna(0, ["out_degree", "in_degree"])
    )


PR_SCALE = 1_000_000  # rank unit: micros of n x rank (mass-scaled)
HITS_SCALE = 1_000  # millis; norm sums must fit bigint (see hits_exact)


def pagerank_exact(
    edges: DataFrame,
    iterations: int = 5,
    damping_pct: int = 85,
    scale: int = PR_SCALE,
    materialize: bool = True,
    bucketed_table: str | None = None,
    buckets: int = 64,
    plan_probe: list | None = None,
) -> DataFrame:
    """Fixed-point PageRank — driver-checkable (cross-engine hash-exact).
    Past BROADCAST_NODES the contribution join routes through a bucketed
    edge layout automatically (one-time bucketed write, zero per-iteration
    edge exchange); ``bucketed_table`` names a pre-bucketed (src, dst,
    out_deg) table (:func:`write_bucketed_edges`) to skip the write.
    Integer arithmetic means the bucketed and broadcast paths are
    bit-identical, which the plan test pins.

    Ranks are bigints holding ``scale`` x n x rank (mass-scaled so the
    granularity is relative to the MEAN rank at any node count: every node
    starts at exactly ``scale``). All arithmetic is integer — contributions
    use truncating division (Spark ``div`` == DuckDB ``//`` for positive
    ints), sums are exact bigints, damping is the rational 85/100 — so the
    result is bit-identical across engines, partitionings and run order.
    The float recurrence, quantized: uniform teleport
    (100-damping_pct)%, dangling mass redistributed uniformly, one job per
    iteration (dangling mass rides a broadcast 1-row cross-join), output
    max-normalized to [0,1] doubles rounded 6dp (link_graph.py:182-247).
    """
    spark = edges.sparkSession
    if bucketed_table is not None:
        bg: _BucketedGraph | None = _BucketedGraph(spark, bucketed_table, None)
        e = bg.src_edges()
        nodes = nodes_of(e)
        n = None
        out_deg = e.select("src", "out_deg").distinct()
    else:
        edges = _materialize_edges(edges, materialize)
        nodes = nodes_of(edges)
        n = None
        out_deg = edges.groupBy("src").agg(F.count("*").alias("out_deg"))
        e = edges.join(out_deg, "src")
    # dangling-ness is a STATIC node property — computed once as a flag on
    # the node table (one left join) instead of a per-iteration semi-join
    # against a separate dangling set; n and n_dangling come from ONE count
    # job over the same cached table (previously two jobs + an anti-join)
    nodes = nodes.join(
        out_deg.select(F.col("src").alias("node"), F.lit(True).alias("_ho")),
        "node",
        "left",
    ).select("node", F.col("_ho").isNull().alias("dang")).cache()
    counts = nodes.agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("dang"), 1).otherwise(0)).alias("nd"),
    ).first()
    n, n_dangling = counts["n"], counts["nd"]
    if bucketed_table is None:
        bg = _bucketize(spark, e, n, None, buckets=buckets)
        e = bg.src_edges() if bg is not None else e.cache()
    t = 100 - damping_pct
    ranks = nodes.withColumn("r", F.lit(scale).cast("long"))
    try:
        for it in range(1, iterations + 1):
            _probe(plan_probe, ranks)
            if it > 1:
                # iteration 1 is fully specialized below (contribs off the
                # edge table, dmass a constant) and never reads the initial
                # rank table — cutting it would materialize it for nothing
                ranks = _cut(ranks, name="prx-ranks")
            if it == 1:
                # first iteration: every rank is exactly `scale`, so the
                # rank-side join is algebraically a constant — contribs and
                # dangling mass come straight off the cached edge table
                # (identical values, one join and one broadcast subquery fewer)
                contribs = (
                    e.select(
                        F.col("dst").alias("node"),
                        F.expr(f"CAST({scale} AS BIGINT) div out_deg").alias("c"),
                    )
                    .groupBy("node")
                    .agg(F.sum("c").alias("contrib"))
                )
                dmass = ranks.sparkSession.range(1).select(
                    F.lit(int(scale) * n_dangling).cast("long").alias("_dmass")
                )
            else:
                if bg is not None:
                    contribs = bucketed_contribs(spark, bg.src_table, ranks)
                else:
                    contribs = (
                        e.join(_rank_side(ranks, n), e.src == ranks.node)
                        .select(F.col("dst").alias("node"), F.expr("r div out_deg").alias("c"))
                        .groupBy("node")
                        .agg(F.sum("c").alias("contrib"))
                    )
                dmass = ranks.agg(
                    F.coalesce(
                        F.sum(F.when(F.col("dang"), F.col("r"))), F.lit(0)
                    ).cast("long").alias("_dmass")
                )
            ranks = (
                nodes.join(contribs, "node", "left")
                .fillna(0, ["contrib"])
                .crossJoin(F.broadcast(dmass))
                .select(
                    "node",
                    "dang",
                    F.expr(
                        f"({t} * CAST({scale} AS BIGINT)"
                        f" + {damping_pct} * (_dmass div {n})"
                        f" + {damping_pct} * contrib) div 100"
                    ).alias("r"),
                )
            )
        _probe(plan_probe, ranks)
        if bg is not None:
            # cut before dropping auto-bucketed tables: the final ranks plan
            # still reads them until materialized
            ranks = _cut(ranks, name="prx-ranks")
    finally:
        # drop auto-bucketed tables on EVERY exit — a failure mid-
        # iteration must not leak a warehouse-resident edge copy;
        # guarded so cleanup on a dead session can't mask the loop's
        # own failure
        if bg is not None:
            try:
                bg.close()
            except Exception:
                pass
    # max-normalization via a broadcast 1-row cross-join instead of a
    # driver collect: one job fewer, identical values (max over exact
    # bigints; the per-row double division sees the same operands)
    mx = ranks.agg(F.max("r").cast("double").alias("_mx"))
    out = ranks.crossJoin(F.broadcast(mx)).select(
        "node",
        F.round(F.col("r").cast("double") / F.col("_mx"), 6).alias("rank"),
    )
    nodes.unpersist()
    if bg is None:
        e.unpersist()
    return out


def hits_exact(
    edges: DataFrame,
    iterations: int = 5,
    scale: int = HITS_SCALE,
    materialize: bool = True,
    bucketed_tables: tuple[str, str] | None = None,
    buckets: int = 64,
    plan_probe: list | None = None,
) -> DataFrame:
    """Fixed-point HITS hubs/authorities, L2-normalized per iteration
    (link_graph.py:249-313) — driver-checkable (cross-engine hash-exact).

    Hub/authority scores re-quantize to bigint millis after every L2
    normalization, so every SUM in the recurrence runs over exact integers
    (order-independent) and every float op is an elementwise function of
    exact ints (deterministic): araw = sum of hub millis over in-edges;
    norm = sqrt(double(sum(araw^2))); next millis =
    round(araw / norm * scale). scale=1000 keeps sum(araw^2) within bigint
    up to ~10^6 nodes of in-degree ~10^3 (bump to decimal beyond). Norms
    ride broadcast 1-row cross-joins — no per-iteration driver collect.
    Output rounded 6dp.

    Mid-iteration tables stay SPARSE: a node absent from araw/hraw has score
    exactly 0, and 0 rows contribute 0 to every downstream SUM and to the
    norm (computed pre-fill already), so the dense zero-fill join against
    ``nodes`` — two extra shuffles per iteration — is value-neutral and is
    done ONCE at output instead. The DuckDB oracle keeps the dense unrolled
    form (entry_queries._hits_sql); results are hash-identical.

    HITS joins edges on BOTH keys per iteration (src for hub→authority, dst
    for authority→hub), so the beyond-BROADCAST_NODES layout needs one
    bucketed copy per orientation — ``bucketed_tables`` is (src-bucketed,
    dst-bucketed), written by :func:`write_bucketed_edges` with
    ``key="src"`` / ``key="dst"``; past the threshold with no tables given,
    both copies are auto-written once and dropped at the end. Integer
    arithmetic keeps bucketed and broadcast results bit-identical.
    """
    spark = edges.sparkSession
    if bucketed_tables is not None:
        bg: _BucketedGraph | None = _BucketedGraph(
            spark, bucketed_tables[0], bucketed_tables[1]
        )
        e_src, e_dst = bg.src_edges(), bg.dst_edges()
        nodes = nodes_of(e_src).cache()
        n = nodes.count()
    else:
        edges = _materialize_edges(edges, materialize)
        nodes = nodes_of(edges).cache()
        n = nodes.count()
        bg = _bucketize(spark, edges, n, None, need_dst=True, buckets=buckets)
        if bg is not None:
            e_src, e_dst = bg.src_edges(), bg.dst_edges()
        else:
            e_src = e_dst = edges.cache()

    def _side(df: DataFrame) -> DataFrame:
        # bucketed mode: no broadcast — scores shuffle into the bucketing
        return df if bg is not None else _rank_side(df, n)

    def _normalize(raw: DataFrame, col: str) -> DataFrame:
        # LAZY checkpoint: the norm's broadcast subquery and the main path
        # both consume `raw`; without it the join+agg upstream executes
        # twice per normalize (ReuseExchange does not fire across the
        # broadcast boundary) — measured 18-24s -> 13s at sf0.1. Lazy adds
        # no extra job (the broadcast materializes it). Broadcast 1-row norm
        # cross-joins degrade in UNBOUNDED loops (measured on Spark 4.1,
        # local mode: per-iteration wall time doubles past ~16 iterations);
        # the FIXED 5-iteration count stays far below that cliff.
        raw = _cut(raw, eager=False, name="hitsx-raw")
        nrm = raw.agg(
            F.sqrt(F.sum(F.col(col) * F.col(col)).cast("double")).alias("_nrm")
        ).select(
            F.when(F.col("_nrm") == 0, F.lit(1.0)).otherwise(F.col("_nrm")).alias(
                "_nrm"
            )
        )
        return raw.crossJoin(F.broadcast(nrm)).select(
            "node",
            F.round(F.col(col).cast("double") / F.col("_nrm") * scale, 0)
            .cast("long")
            .alias(col),
        )

    hubs = nodes.withColumn("hq", F.lit(scale).cast("long"))
    auth = None
    try:
        for it in range(1, iterations + 1):
            if it > 1:
                # iteration 1's araw is specialized (in_degree * scale) and
                # never reads the initial dense hub table — skip its cut
                hubs = _cut(hubs, name="hitsx-hubs")
            if it == 1:
                # uniform initial hubs: araw is exactly in_degree * scale —
                # same values, no rank-side join on the first pass
                araw = e_src.groupBy(F.col("dst").alias("node")).agg(
                    (F.count("*") * scale).cast("long").alias("aq")
                )
            else:
                araw = (
                    e_src.join(
                        _side(hubs.select(F.col("node").alias("src"), "hq")),
                        "src",
                    )
                    .groupBy(F.col("dst").alias("node"))
                    .agg(F.sum("hq").alias("aq"))
                )
            # probe pre-normalize (normalization's checkpoint hides the scan)
            _probe(plan_probe, araw)
            # no eager checkpoint: hubs is checkpointed at loop start, so this
            # plan's depth is bounded; an eager materialization here would cost
            # an extra job per iteration
            auth = _normalize(araw, "aq")
            hraw = (
                e_dst.join(_side(auth.select(F.col("node").alias("dst"), "aq")), "dst")
                .groupBy(F.col("src").alias("node"))
                .agg(F.sum("aq").alias("hq"))
            )
            _probe(plan_probe, hraw)
            hubs = _normalize(hraw, "hq")
        if bg is not None:
            # cut both score tables before dropping auto-bucketed edges — their
            # plans read the tables until materialized (hubs' cut in _normalize
            # is LAZY, so it may not have executed yet)
            hubs = _cut(hubs, name="hitsx-hubs")
            auth = _cut(auth, name="hitsx-auth")
    finally:
        # drop auto-bucketed tables on EVERY exit — a failure mid-
        # iteration must not leak a warehouse-resident edge copy;
        # guarded so cleanup on a dead session can't mask the loop's
        # own failure
        if bg is not None:
            try:
                bg.close()
            except Exception:
                pass
    out = (
        nodes.join(hubs, "node", "left")
        .join(auth, "node", "left")
        .fillna(0, ["hq", "aq"])
        .select(
            "node",
            F.round(F.col("hq") / F.lit(float(scale)), 6).alias("hub"),
            F.round(F.col("aq") / F.lit(float(scale)), 6).alias("authority"),
        )
    )
    nodes.unpersist()
    if bg is None:
        e_src.unpersist()
    return out


def top_by(df: DataFrame, metric: str, k: int, key: str = "node") -> DataFrame:
    """Deterministic top-k by metric (W7, link_graph.py:366-397).

    Two-phase (operators/topk.py): local per-partition limit, then a merge of
    <= k*P rows — never a full-input single-partition sort."""
    from .topk import topk_total_order

    return topk_total_order(df, [F.col(metric).desc(), F.col(key).asc()], k)


def write_bucketed_edges(
    spark, edges: DataFrame, table: str, buckets: int = 64, key: str = "src"
) -> None:
    """Persist the edge table BUCKETED on ``key`` — the co-partition layout
    the iterative joins switch to beyond BROADCAST_NODES (module note above):
    each iteration then shuffles only the small (node, rank) side into the
    edge bucketing, and the edge side streams straight from its buckets —
    zero per-iteration exchange on the dominant table. PageRank joins on src
    only; HITS joins on src (hub→auth) AND dst (auth→hub), so it takes one
    table per orientation."""
    (
        edges.write.bucketBy(buckets, key)
        .sortBy(key)
        .mode("overwrite")
        .format("parquet")
        .saveAsTable(table)
    )


def bucketed_contribs(spark, edges_table: str, ranks: DataFrame) -> DataFrame:
    """One PageRank contribution step against a bucketed edge table:
    edges ⋈ ranks on src with the EDGE side exchange-free (plan-asserted in
    tests/test_linkgraph.py) — the rank side is NOT broadcast: it shuffles
    into the edge bucketing, which is the whole point past BROADCAST_NODES.
    ``ranks``: (node, r); the edge table must carry (src, dst, out_deg).
    Fixed-point truncating division, as in :func:`pagerank_exact`."""
    e = spark.table(edges_table)
    r = ranks.select(F.col("node").alias("src"), "r")
    return (
        e.join(r, "src")
        .select(F.col("dst").alias("node"), F.expr("r div out_deg").alias("c"))
        .groupBy("node")
        .agg(F.sum("c").alias("contrib"))
    )
