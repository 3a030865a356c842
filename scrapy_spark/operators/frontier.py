"""Frontier candidate pipeline: canonicalize → filter → score → dedup → select.

Spark-first mapping of the reference's per-candidate processing chain
(``_process_candidate_url``, discovery_spider.py:611-625) and batch ordering
(priority_queue.py:78-148):

- canonicalization is the ONLY Python step, as an Arrow-vectorized pandas UDF
  (SURVEY §2.9); keys are JVM-side ``F.xxhash64``
- scheme/domain/extension filters are pure column predicates (F2-F4) that
  Catalyst pushes below the UDF where possible
- robots enforcement (J7) is a broadcast equi-join on host + an
  ``exists(disallow, p -> startswith(path, p))`` predicate
- within-generation dedup (D2) is a row_number window with the deterministic
  first-writer tie-break (depth, -score, source_url, source_type) —
  order-independent, so the parallel result equals sequential insertion
- cross-generation dedup (D1) is a left_anti join against url_seen on
  url_hash (bucketable at scale by the committed ``shard`` column)
- frontier selection (W1) is rank-and-take per host under the politeness
  budget, with the 10k-queue backpressure cap (pipeline.py:36) as a global
  re-ranked limit
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.scoring import spark_score
from ..functions.urls import DENY_EXTENSIONS, canonicalize, clean_seed_url
from .topk import topk_total_order

# url_seen.shard = pmod(url_hash, N_SHARDS): the committed bucket column of the
# seen set (part of the on-disk layout — changing it changes committed bytes)
N_SHARDS = 64

# Arrow-vectorized canonicalization (one Python invocation per ~10k-row batch;
# DataType objects, not DDL strings, so import needs no active session).
# asNondeterministic: the optimizer otherwise pushes the downstream
# null/domain/deny filters below the projection and re-evaluates the UDF
# once per pushed copy — measured FOUR ArrowEvalPython nodes for the one
# canonicalize call in canonicalize_candidates (every candidate URL
# canonicalized 4x per generation). Marking it non-deterministic pins a
# single evaluation (optimization guide §4.4); both functions are in fact
# pure, so task retries still reproduce identical values.
canonicalize_udf = F.pandas_udf(
    lambda s: s.map(canonicalize), T.StringType()
).asNondeterministic()
clean_seed_udf = F.pandas_udf(
    lambda s: s.map(clean_seed_url), T.StringType()
).asNondeterministic()

_DENY_RLIKE = r"(?i)\.(" + "|".join(DENY_EXTENSIONS) + r")$"

CANDIDATE_COLS = ["raw_url", "source_url", "source_type", "anchor", "depth", "attempt"]


def seeds_to_candidates(seeds: DataFrame, domain: str = "uconn.edu") -> DataFrame:
    """Seed CSV scan + cleaning (S1, discovery_spider.py:199-245,927-992),
    plus one sitemap.xml candidate per distinct *surviving* seed host (the
    robots Sitemap recursion entry point, discovery_spider.py:994-1095).

    Sitemap hosts come only from seeds that pass the same candidate filters
    the oracle applies (canonicalize + domain allow + deny-extension) — a
    seed like https://x.uconn.edu/file.pdf yields no sitemap fetch.
    """
    cleaned = seeds.select(
        clean_seed_udf(F.col("url")).alias("raw_url"),
        F.lit(None).cast("string").alias("source_url"),
        F.lit("seed").alias("source_type"),
        F.lit(None).cast("string").alias("anchor"),
        F.lit(0).alias("depth"),
        F.lit(1).alias("attempt"),
    ).filter(F.col("raw_url").isNotNull())
    sitemaps = (
        canonicalize_candidates(cleaned, domain=domain)
        .select("host")
        .filter(F.col("host").isNotNull())
        .distinct()
        .select(
            F.concat(F.lit("https://"), F.col("host"), F.lit("/sitemap.xml")).alias(
                "raw_url"
            ),
            F.lit(None).cast("string").alias("source_url"),
            F.lit("sitemap_fetch").alias("source_type"),
            F.lit(None).cast("string").alias("anchor"),
            F.lit(0).alias("depth"),
            F.lit(1).alias("attempt"),
        )
    )
    return cleaned.unionByName(sitemaps)


def _host_col(url: Column) -> Column:
    return F.lower(F.parse_url(url, F.lit("HOST")))


def _path_col(url: Column) -> Column:
    p = F.parse_url(url, F.lit("PATH"))
    return F.when(p.isNull() | (p == ""), F.lit("/")).otherwise(p)


def canonicalize_candidates(cands: DataFrame, domain: str = "uconn.edu") -> DataFrame:
    """raw candidates -> canonical, keyed, filtered, scored candidates.

    Filters F1-F4: canonical parse, http(s)-only (inside canonicalize),
    domain allow-list, extension deny-list for recursion candidates
    (image candidates exempt — they ARE the payload, SURVEY F4 note).
    """
    df = cands.withColumn("url", canonicalize_udf(F.col("raw_url")))
    df = df.filter(F.col("url").isNotNull())
    df = df.withColumn("host", _host_col(F.col("url"))).withColumn(
        "path", _path_col(F.col("url"))
    )
    df = df.filter(
        (F.col("host") == domain) | F.col("host").endswith("." + domain)
    )
    # PDF documents are fetchable payload, not recursion targets: an html
    # link whose canonical path ends .pdf becomes a pdf_link candidate
    # (content_handlers.py:20-160 PDFHandler — the reference's enrichment
    # stage fetches and processes PDFs the spider refuses to recurse into)
    df = df.withColumn(
        "source_type",
        F.when(
            (F.col("source_type") == "html_link")
            & F.col("path").rlike(r"(?i)\.pdf$"),
            F.lit("pdf_link"),
        ).otherwise(F.col("source_type")),
    )
    # deny-extension applies to the PATH only (is_denied_extension semantics:
    # https://x/a.pdf?x=1 is denied, /page?file=.pdf is not)
    df = df.filter(
        ~(
            F.col("source_type").isin("seed", "html_link", "sitemap")
            & F.col("path").rlike(_DENY_RLIKE)
        )
    )
    df = df.withColumn(
        "score", spark_score(F.col("source_type"), F.col("path"), F.col("anchor"))
    )
    return df.withColumn("url_hash", F.xxhash64(F.col("url"))).select(
        "url",
        "url_hash",
        "host",
        "path",
        "depth",
        "source_type",
        "anchor",
        "source_url",
        "score",
        "attempt",
    )


def apply_robots(cands: DataFrame, robots: DataFrame) -> DataFrame:
    """Broadcast join frontier ⋈ robots_rules(host, disallow) + prefix filter (J7)."""
    r = F.broadcast(robots.select("host", "disallow"))
    joined = cands.join(r, "host", "left")
    return joined.filter(
        F.col("disallow").isNull()
        | ~F.exists(F.col("disallow"), lambda p: F.col("path").startswith(p))
    ).drop("disallow")


def _section_col(path: Column) -> Column:
    segs = F.filter(F.split(path, "/"), lambda x: x != F.lit(""))
    return F.coalesce(F.element_at(segs, 1), F.lit(""))


def _pattern_col(path: Column) -> Column:
    """URL-pattern templating for the feedback filter (feedback.py:143-179).

    Deliberate divergence from the reference chain (/\\d+ -> /{num}, then
    /{uuid}, then 8+-alnum segments -> /{id}): digits are templated ANYWHERE
    (so '/academics/p5' -> '/academics/p{num}' accumulates per-pattern
    samples), and the /{id} rule is omitted because it would also swallow
    plain section names ('/academics' -> '/{id}'), merging unrelated
    sections into one pattern. The oracle twin (plans/oracle._pattern)
    applies the identical rule."""
    return F.regexp_replace(path, "[0-9]+", "{num}")


def stat_deltas(fetched_gen: DataFrame) -> tuple[DataFrame, DataFrame]:
    """One generation's contribution to the learned-filter stats:
    (section_stats(host, section, n, nv), pattern_stats(pattern, n, nv)).

    Staged per generation so the filters read a table of tiny pre-aggregated
    deltas instead of rescanning all fetch history — at 10^10 rows the raw
    rescan would dominate every generation (the stats tables grow by at most
    hosts x sections + distinct-patterns rows per generation)."""
    src = fetched_gen.select(
        "host",
        _section_col(_path_col(F.col("url"))).alias("section"),
        _pattern_col(_path_col(F.col("url"))).alias("pattern"),
        F.col("is_valid").cast("int").alias("v"),
    )
    sec = src.groupBy("host", "section").agg(
        F.count("*").alias("n"), F.sum("v").alias("nv")
    )
    pat = src.groupBy("pattern").agg(F.count("*").alias("n"), F.sum("v").alias("nv"))
    return sec, pat


def apply_learned_filters(
    cands: DataFrame,
    section_stats: DataFrame | None,
    pattern_stats: DataFrame | None,
    params,
) -> DataFrame:
    """Adaptive-depth (J5) + feedback-pattern (F7) filters from the
    accumulated per-generation stat deltas (SURVEY §7.3.5 — the reference
    mutates learned state in place; summing the deltas reaches the same
    fixpoint order-independently).

    - adaptive depth: (host, first-path-segment) sections with
      >= min_samples fetches and valid-rate >= rate earn bonus depth;
      unknown/bad sections stay at base (adaptive_depth.py:65-103).
    - feedback: URL patterns (digits -> {num}) with >= min_samples and
      valid-rate < threshold are banned (feedback.py:143-197).

    Both learned tables are tiny aggregates — broadcast joins.
    """
    if not getattr(params, "learned_filters", False):
        return cands
    base = params.adaptive_base_depth
    if section_stats is None or pattern_stats is None:
        return cands.filter(F.col("depth") <= base)
    sec = section_stats.groupBy("host", "section").agg(
        F.sum("n").alias("n"), F.sum("nv").alias("nv")
    )
    good_sections = sec.filter(
        (F.col("n") >= params.adaptive_min_samples)
        & (F.col("nv") / F.col("n") >= params.adaptive_rate)
    ).select("host", "section")
    bad_patterns = (
        pattern_stats.groupBy("pattern")
        .agg(F.sum("n").alias("n"), F.sum("nv").alias("nv"))
        .filter(
            (F.col("n") >= params.feedback_min_samples)
            & (F.col("nv") / F.col("n") < params.feedback_rate)
        )
        .select("pattern")
    )
    out = cands.withColumn("section", _section_col(F.col("path"))).withColumn(
        "pattern", _pattern_col(F.col("path"))
    )
    out = out.join(
        F.broadcast(good_sections.withColumn("_good", F.lit(True))),
        ["host", "section"],
        "left",
    ).filter(
        F.col("depth")
        <= F.when(F.col("_good"), F.lit(base + params.adaptive_bonus_depth)).otherwise(
            F.lit(base)
        )
    )
    out = out.join(F.broadcast(bad_patterns), "pattern", "left_anti")
    return out.drop("section", "pattern", "_good")


def dedup_within_generation(cands: DataFrame) -> DataFrame:
    """First-writer-wins inside one generation, deterministic winner (D2)."""
    w = Window.partitionBy("url_hash").orderBy(
        F.col("depth").asc(),
        F.col("score").desc(),
        F.col("source_url").asc_nulls_first(),
        F.col("source_type").asc(),
        F.col("attempt").desc(),  # pending retry beats same-URL rediscovery
    )
    return (
        cands.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def anti_join_seen(cands: DataFrame, seen: DataFrame | None) -> DataFrame:
    """Cross-generation dedup: candidates − url_seen (D1/SO2).

    At 10^10 scale this is a bucketed storage-partition join on
    bucket(url_hash, N). At test scale Catalyst/AQE picks the strategy.
    Probabilistic prefilters in front of it (Bloom, cuckoo) were measured
    slower on every crawl shape: they still send their maybe-rows through
    this same join, so they scan and shuffle the whole url_seen anyway.
    """
    if seen is None:
        return cands
    return cands.join(seen.select("url_hash"), "url_hash", "left_anti")


def select_frontier(
    deduped: DataFrame,
    per_host_budget: int,
    gen_cap: int | None,
    budgets: DataFrame | None = None,
) -> DataFrame:
    """Per-host rank-and-take under the politeness budget (W1) + global cap.

    Rank key (depth asc, score desc, url asc) — the reference's priority
    ordering (priority_queue.py:112-138) with a total-order tie-break.

    The backpressure cap (reference queue cap 10k, pipeline.py:36) is applied
    unconditionally via a global row_number — equivalent to the sequential
    oracle in both branches (under the cap it removes nothing and re-ranking
    reproduces the same per-host ranks, since both use the same total order)
    and needs no driver-side count. The cap is a two-phase top-k
    (operators/topk.py) over the budget-filtered slice (≤ budget × active
    hosts rows) — no full-slice single-partition sort. Pass gen_cap=None for
    unbounded generations (skips the cap entirely).
    """
    w = Window.partitionBy("host").orderBy(
        F.col("depth").asc(), F.col("score").desc(), F.col("url").asc()
    )
    ranked = deduped.withColumn("rank_in_host", F.row_number().over(w))
    if budgets is None:
        sel = ranked.filter(F.col("rank_in_host") <= per_host_budget)
    else:
        # per-host AIMD/circuit-breaker budgets override the default; hosts
        # absent from the budget table use it (budgets is one row per active
        # host — a host-keyed dim, joined without a hint so AQE sizes it)
        sel = (
            ranked.join(budgets.select("host", "budget"), "host", "left")
            .filter(
                F.col("rank_in_host")
                <= F.coalesce(F.col("budget"), F.lit(per_host_budget))
            )
            .drop("budget")
        )
    if gen_cap is None:
        return sel
    capped = topk_total_order(
        sel.drop("rank_in_host"),
        [F.col("depth").asc(), F.col("score").desc(), F.col("url").asc()],
        gen_cap,
    )
    return capped.withColumn("rank_in_host", F.row_number().over(w))
