"""Parameterized ANN (operators/ann.py) and posting-list-capped near-dup
(operators/neardup.py): recall vs the brute-force baseline, bucket
parameterization, and bounded pair counts under a hot shingle."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from scrapy_spark.operators.ann import brute_force_topk, lsh_recall, lsh_topk
from scrapy_spark.operators.neardup import ngram_jaccard_pairs

SF_DIR = "/root/testdata/sf0.001"


def _vecs(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id",
        F.transform("embedding", lambda x: F.round(x * 1000).cast("long")).alias("q"),
    )


def test_lsh_recall_tradeoff(spark):
    """More bits -> smaller buckets -> recall monotonically non-increasing;
    1 bit halves the space and must keep most of the exact top-k."""
    v = _vecs(spark).cache()
    pred = F.col("vec_id") < 20
    recalls = {
        nb: lsh_recall(v, pred, 3, nb).collect()[0]["recall"] for nb in (1, 2, 4)
    }
    v.unpersist()
    assert recalls[1] >= 0.5, recalls
    assert recalls[1] >= recalls[2] >= recalls[4], recalls
    assert recalls[4] > 0.0, recalls


def test_lsh_subset_of_bucketmates(spark):
    """Every LSH neighbor must share the query's bucket — i.e. lsh_topk
    results are a subset of brute-force results restricted to the bucket."""
    v = _vecs(spark)
    pred = F.col("vec_id") < 10
    approx = lsh_topk(v, pred, 3, n_bits=2)
    exact = brute_force_topk(v, pred, 3)
    # approx pairs carry the same exact cosine values as brute force computes
    j = approx.alias("x").join(
        exact.alias("e"),
        (F.col("x.query_id") == F.col("e.query_id"))
        & (F.col("x.neighbor_id") == F.col("e.neighbor_id")),
    )
    for r in j.select("x.cosine", "e.cosine").collect():
        assert r[0] == r[1]


def _docs(spark, texts):
    return spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    ).select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size(F.split("text", " ")) - 2),
                lambda i: F.concat_ws(
                    " ",
                    F.element_at(F.split(F.col("text"), " "), i),
                    F.element_at(F.split(F.col("text"), " "), i + 1),
                    F.element_at(F.split(F.col("text"), " "), i + 2),
                ),
            )
        ).alias("shingle"),
    ).distinct()


def test_ngram_cap_bounds_hot_shingle_pairs(spark):
    """A boilerplate shingle in all 40 docs creates 40*39/2 = 780 candidate
    pairs uncapped; with max_doc_freq=10 it contributes none."""
    boiler = "copyright uconn edu"
    texts = [f"{boiler} unique{i} token{i} word{i}" for i in range(40)]
    sh = _docs(spark, texts)
    uncapped = ngram_jaccard_pairs(sh, threshold=0.01)
    capped = ngram_jaccard_pairs(sh, threshold=0.01, max_doc_freq=10)
    assert uncapped.count() == 780  # every pair shares only the hot shingle
    assert capped.count() == 0  # hot shingle dropped -> no candidates at all


def test_ngram_cap_noop_on_cold_corpus(spark):
    """With no shingle above the cap, capped == uncapped exactly."""
    texts = [f"alpha{i} beta{i} gamma{i} delta{i} shared common tail" for i in range(8)]
    sh = _docs(spark, texts)
    a = sorted(map(tuple, ngram_jaccard_pairs(sh, 0.01).collect()))
    b = sorted(map(tuple, ngram_jaccard_pairs(sh, 0.01, max_doc_freq=100).collect()))
    assert a == b and len(a) > 0


def test_ivf_clusters_partition_and_recall(spark):
    """IVF: every vector lands in exactly one list; search is cluster-local
    (all reported neighbors share the query's list); recall vs brute force
    is nonzero."""
    from pyspark.sql import functions as F2

    from scrapy_spark.operators.ann import (
        brute_force_topk,
        ivf_assign,
        ivf_centroids,
        ivf_topk,
    )

    v = _vecs(spark).cache()
    cent = v.filter(F2.col("vec_id") < 8).select(
        F2.col("vec_id").cast("int").alias("cid"), F2.col("q").alias("s")
    )
    for _ in range(2):
        cent = ivf_centroids(ivf_assign(v, cent))
    assigned = ivf_assign(v, cent)
    n = v.count()
    assert assigned.count() == n  # total partition, one list per vector
    assert assigned.select("vec_id").distinct().count() == n
    cl = {r["vec_id"]: r["cid"] for r in assigned.select("vec_id", "cid").collect()}
    pred = F2.col("vec_id") < 20
    approx = ivf_topk(v, pred, 3, n_clusters=8, iters=2).collect()
    for r in approx:
        assert cl[r["query_id"]] == cl[r["neighbor_id"]]
    exact = {(r["query_id"], r["neighbor_id"])
             for r in brute_force_topk(v, pred, 3).collect()}
    hits = sum((r["query_id"], r["neighbor_id"]) in exact for r in approx)
    assert hits > 0
    v.unpersist()


def test_ivf_nprobe_improves_recall(spark):
    """The IVF recall knob: probing more lists can only add candidates, so
    recall is monotone in n_probe (and hits the brute-force set eventually
    as n_probe -> n_clusters)."""
    from pyspark.sql import functions as F2

    from scrapy_spark.operators.ann import brute_force_topk, ivf_topk

    v = _vecs(spark).cache()
    pred = F2.col("vec_id") < 20
    exact = {(r["query_id"], r["neighbor_id"])
             for r in brute_force_topk(v, pred, 3).collect()}
    recalls = {}
    for p in (1, 2, 8):
        approx = ivf_topk(v, pred, 3, n_clusters=8, iters=2, n_probe=p).collect()
        recalls[p] = sum((r["query_id"], r["neighbor_id"]) in exact for r in approx)
    v.unpersist()
    assert recalls[1] <= recalls[2] <= recalls[8], recalls
    assert recalls[8] == len(exact)  # probing every list == brute force


def test_ivf_recall_monotone_in_n_probe(spark):
    """Probing more posting lists can only add candidates, so recall is
    monotonically non-decreasing in n_probe, and probing every list
    recovers the brute-force answer exactly."""
    from scrapy_spark.operators.ann import ivf_recall

    v = _vecs(spark).cache()
    pred = F.col("vec_id") < 20
    r = {
        np_: ivf_recall(v, pred, 3, n_clusters=8, iters=2, n_probe=np_)
        .collect()[0]["recall"]
        for np_ in (1, 2, 8)
    }
    v.unpersist()
    assert r[1] <= r[2] <= r[8]
    assert r[8] == 1.0  # probing all 8 lists == brute force


def test_minhash_components_collapse_chain(spark):
    """A band-bucket chain (1-2 share A, 2-3 share B, 3-4 share C) that no
    single bucket covers: the single-pass cluster assignment leaves distinct
    labels, the fixpoint component labels collapse to min(doc_id)."""
    from scrapy_spark.operators.neardup import minhash_components

    bands = spark.createDataFrame(
        [(1, "A"), (2, "A"), (2, "B"), (3, "B"), (3, "C"), (4, "C"), (9, "Z")],
        "doc_id long, bv string",
    )
    # single pass (dedup_minhash_clusters shape): doc4 only sees bucket C
    reps = bands.groupBy("bv").agg(F.min("doc_id").alias("rep"))
    single = {
        r["doc_id"]: r["canonical_id"]
        for r in bands.join(reps, "bv")
        .groupBy("doc_id")
        .agg(F.min("rep").alias("canonical_id"))
        .collect()
    }
    assert single[4] == 3 and single[1] == 1  # chain NOT collapsed
    comp = {
        r["doc_id"]: r["component_id"]
        for r in minhash_components(bands, iterations=4).collect()
    }
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 9: 9}  # fixpoint collapses it


def test_minhash_components_fixpoint_reached_on_corpus(spark):
    """On the synthetic corpus the bounded iteration count actually reaches
    the fixpoint: one more iteration changes nothing."""
    from scrapy_spark.entry_queries import _spark_shingles
    from scrapy_spark.operators.neardup import minhash_components

    sh = _spark_shingles(spark, SF_DIR)
    sigs = sh.groupBy("doc_id").agg(
        *[
            F.min(F.md5(F.concat(F.lit(f"p{i}:"), F.col("shingle")))).alias(f"h{i}")
            for i in (1, 2, 3, 4)
        ]
    )
    bands = sigs.select("doc_id", F.concat("h1", "h2").alias("bv")).unionByName(
        sigs.select("doc_id", F.concat("h3", "h4").alias("bv"))
    ).localCheckpoint(eager=True)
    a = sorted(map(tuple, minhash_components(bands, iterations=4).collect()))
    b = sorted(map(tuple, minhash_components(bands, iterations=5).collect()))
    assert a == b


def test_embed_neardup_hot_label_sub_buckets(spark):
    """One hot label must NOT become an all-pairs block: the join key is
    (label, sign-LSH sub-bucket), so members with different leading signs
    never pair, and the executed plan keys the join on the bucket column
    (round-3 verdict finding #4)."""
    from scrapy_spark.operators.neardup import embedding_neardup_pairs

    dims = 16
    rows = []
    # 5 vectors per sign-group, all under ONE label; within-group vectors
    # are near-identical (cosine >= 0.98), across groups dim 1's sign flips
    for g, lead in ((0, 1000), (1, -1000)):
        for i in range(5):
            vec = [lead] + [1000 + (j == i + 1) for j in range(dims - 1)]
            rows.append((g * 5 + i, 0, vec))
    v = spark.createDataFrame(
        rows, "vec_id bigint, label int, q array<long>"
    )
    pairs = embedding_neardup_pairs(v, threshold=0.98, sub_bits=8)
    got = {(r["doc_a"], r["doc_b"]) for r in pairs.collect()}
    # 5C2 pairs inside each sign-group; zero cross-group pairs
    assert len(got) == 20, got
    assert all((a < 5) == (b < 5) for a, b in got), got
    p = pairs._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p
    assert "bucket" in p


def test_pq_div_semantics_pin(spark):
    """The PQ codebook mean relies on Spark `div` == DuckDB `//` for
    NEGATIVE sums (both truncate toward zero; a floor-division engine would
    drift every codebook that averages negative embedding values)."""
    import duckdb

    got = spark.sql("SELECT -7 div 2 AS a, 7 div 2 AS b, -7 div -2 AS c").collect()[0]
    want = duckdb.connect().execute("SELECT (-7) // 2, 7 // 2, (-7) // (-2)").fetchone()
    assert (got.a, got.b, got.c) == want == (-3, 3, 3)


def test_pq_recall_monotone_in_shortlist(spark):
    """A longer ADC shortlist can only add candidates to the exact re-rank,
    so recall is monotonically non-decreasing in it — the PQ scan-cost
    knob's quality side (same pattern as IVF n_probe)."""
    from scrapy_spark.operators.ann import pq_recall

    v = _vecs(spark).cache()
    pred = F.col("vec_id") < 20
    recalls = {
        s: pq_recall(v, pred, 3, shortlist=s).collect()[0]["recall"]
        for s in (5, 15, 30)
    }
    v.unpersist()
    assert recalls[5] <= recalls[15] <= recalls[30], recalls
    assert recalls[30] >= 0.5, recalls


def test_pq_rerank_scores_are_exact(spark):
    """PQ errs only by omission: every returned pair carries the SAME exact
    cosine brute force computes for it (approximation selects candidates,
    never scores them)."""
    from scrapy_spark.operators.ann import pq_topk

    v = _vecs(spark)
    pred = F.col("vec_id") < 10
    approx = pq_topk(v, pred, 3)
    exact = brute_force_topk(v, pred, 3)
    j = approx.alias("x").join(
        exact.alias("e"),
        (F.col("x.query_id") == F.col("e.query_id"))
        & (F.col("x.neighbor_id") == F.col("e.neighbor_id")),
    )
    rows = j.select("x.cosine", "e.cosine").collect()
    assert rows, "pq and brute force share no pairs - fixture degenerate"
    for r in rows:
        assert r[0] == r[1]


def test_pq_codes_are_compact(spark):
    """The codes table is the PQ value proposition: exactly n_sub rows per
    vector, code ids within [0, n_codes) — the 1-byte-per-subspace layout."""
    from scrapy_spark.operators.ann import pq_assign, pq_codebooks, pq_subvectors

    v = _vecs(spark)
    n = v.count()
    sv = pq_subvectors(v, 8, 8)
    cb = pq_codebooks(sv, 16, 2)
    codes = pq_assign(sv, cb)
    assert codes.count() == n * 8
    agg = codes.agg(
        F.min("cid").alias("lo"), F.max("cid").alias("hi"),
        F.countDistinct("vec_id").alias("nv"),
    ).collect()[0]
    assert 0 <= agg.lo and agg.hi < 16 and agg.nv == n


def test_ivfpq_recall_bounded_by_plain_ivf(spark):
    """IVF-PQ's coarse pruning errs exactly like plain IVF at the same
    n_probe; ADC only reorders candidates WITHIN the probed lists. So its
    recall can never exceed plain IVF's (equality iff the shortlist +
    re-rank recovers every brute-force pair the lists contain)."""
    from scrapy_spark.operators.ann import ivf_recall, ivfpq_recall

    v = _vecs(spark).cache()
    pred = F.col("vec_id") < 20
    ivf = ivf_recall(v, pred, 3, n_clusters=8, iters=2, n_probe=2).collect()[0][0]
    ivfpq = ivfpq_recall(v, pred, 3).collect()[0][0]
    v.unpersist()
    assert 0.0 < ivfpq <= ivf, (ivfpq, ivf)


def test_ivfpq_candidates_within_probed_lists(spark):
    """Every IVF-PQ neighbor must live in one of its query's probed posting
    lists — the sublinear claim is real pruning, not a re-sorted full scan."""
    from scrapy_spark.operators.ann import (
        ivf_assign, ivf_centroids, ivfpq_topk,
    )

    v = _vecs(spark).cache()
    pred = F.col("vec_id") < 10
    out = ivfpq_topk(v, pred, 3, n_probe=2)
    cent = v.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").cast("int").alias("cid"), F.col("q").alias("s")
    )
    for _ in range(2):
        cent = ivf_centroids(ivf_assign(v, cent))
    home = {r["vec_id"]: r["cid"] for r in ivf_assign(v, cent).collect()}
    probes: dict[int, set] = {}
    for r in ivf_assign(v.filter(pred), cent, n_probe=2).collect():
        probes.setdefault(r["vec_id"], set()).add(r["cid"])
    rows = out.collect()
    v.unpersist()
    assert rows
    for r in rows:
        assert home[r["neighbor_id"]] in probes[r["query_id"]], r


def test_diversity_sample_scales_k_with_corpus(spark):
    """The production seam derives K = ceil(n / target_cluster_size) so
    cluster width stays ~constant as the corpus grows (round-6 verdict #1):
    more vectors per target size -> more clusters; the pinned-K path matches
    the driver query exactly; per-cluster selection keeps ceil(20%)."""
    from scrapy_spark.operators.ann import diversity_sample

    v = _vecs(spark)
    n = v.count()
    tgt = max(2, n // 8)
    out = diversity_sample(v, pct=20, target_cluster_size=tgt)
    k_derived = out.select("cid").distinct().count()
    assert k_derived <= -(-n // tgt)  # never more clusters than derived K
    # smaller target -> at least as many clusters trained (K grows with n/tgt)
    out2 = diversity_sample(v, pct=20, target_cluster_size=max(2, tgt // 2))
    assert out2.select("cid").distinct().count() >= k_derived

    rows = out.groupBy("cid").agg(
        F.max("cluster_size").alias("n_c"),
        F.sum(F.col("is_selected").cast("int")).alias("n_sel"),
        F.count("*").alias("n_rows"),
    ).collect()
    for r in rows:
        assert r.n_rows == r.n_c  # all-vectors grain, size consistent
        assert r.n_sel == -(-r.n_c * 20 // 100)  # exactly ceil(20%)


def test_diversity_sample_pinned_k_matches_entry(spark):
    """diversity_sample(n_clusters=8) is byte-identical to the driver query
    (which pins K for its statically-unrolled oracle)."""
    from scrapy_spark.entry_queries import QUERIES

    entry = sorted(map(tuple, QUERIES["embed_diversity_sample"][0](spark, SF_DIR).collect()))
    from scrapy_spark.operators.ann import diversity_sample

    op = sorted(map(tuple, diversity_sample(_vecs(spark), pct=20, n_clusters=8, iters=2).collect()))
    assert entry == op


def test_ivfpq_recall_monotone_in_n_probe(spark):
    """Round-6 verdict #7: the composed IVF-PQ path needs the same knob-
    response evidence as plain IVF. With an UNBINDING shortlist the ADC
    re-rank is exact over every candidate the probed lists contain, so
    probing more lists can only add candidates: recall is monotonically
    non-decreasing in n_probe and probing every list recovers brute force
    exactly. (With the default bounded shortlist monotonicity is NOT a
    theorem — a new candidate can displace a true neighbor from the ADC
    shortlist — which is why this sweep pins the unbounded variant; the
    default-knob point stays covered by the bounded-by-plain-IVF test.)"""
    from scrapy_spark.operators.ann import ivfpq_recall

    v = _vecs(spark).cache()
    pred = F.col("vec_id") < 20
    r = {
        np_: ivfpq_recall(
            v, pred, 3, n_clusters=8, n_probe=np_, shortlist=10**6
        ).collect()[0]["recall"]
        for np_ in (1, 2, 8)
    }
    v.unpersist()
    assert r[1] <= r[2] <= r[8], r
    assert r[8] == 1.0, r


def test_quantized_embeddings_match_duckdb_at_half_boundaries(spark):
    """The Spark quantizer must round float32 ``x * 1000`` exactly as the
    frozen DuckDB _QUANT_SQL does: DuckDB multiplies in float32, so an
    element whose float32 product lands on a .5 boundary (-0.0525 ->
    -52.5f -> -53) rounds differently if Spark widens to double first
    (-52.4999... -> -52). Feeds every ann_* / embed_* query."""
    import duckdb
    import pyarrow as pa

    import scrapy_spark.entry_queries as eq

    vals = [-0.0525, 0.1235, 0.0005, -0.3335]
    arrow = pa.table(
        {
            "vec_id": pa.array([0], pa.int64()),
            "embedding": pa.array([vals], pa.list_(pa.float32())),
            "label": pa.array([0], pa.int32()),
        }
    )
    df = spark.createDataFrame(
        pd.DataFrame({"vec_id": [0], "embedding": [vals], "label": [0]}),
        "vec_id long, embedding array<float>, label int",
    )
    orig = eq.load
    try:
        eq.load = lambda sp, d, t: df if t == "embeddings" else orig(sp, d, t)
        got = eq._spark_quantized(spark, "unused").collect()[0]["q"]
    finally:
        eq.load = orig
    con = duckdb.connect()
    con.register("embeddings", arrow)
    want = con.execute(eq._QUANT_SQL).fetchall()[0][2]
    assert want == [-53, 124, 1, -334]
    assert list(got) == want
