"""Parity: the distributed Spark crawl must reproduce the sequential oracle's
dedup decisions, crawl ordering, captions and image bytes (SURVEY §5 rebuild
test plan; correctness gates in BASELINE.md)."""

from __future__ import annotations

import numpy as np
import pytest

from scrapy_spark.functions.imagefn import decode_png, psnr
from scrapy_spark.plans.crawl import CrawlJob
from scrapy_spark.plans.oracle import CrawlParams, run_oracle
from scrapy_spark.sources.synth import SynthConfig

CFG = SynthConfig(seed=42, n_hosts=12, n_pages=300, n_images=120)
PARAMS = CrawlParams(max_generations=4, per_host_budget=10)


@pytest.fixture(scope="module")
def oracle():
    return run_oracle(CFG, PARAMS)


@pytest.fixture(scope="module")
def spark_run(spark, tmp_path_factory):
    wd = str(tmp_path_factory.mktemp("crawl"))
    job = CrawlJob(spark, CFG, PARAMS, wd, salt_buckets=4)
    stats = job.run()
    results = job.catalog.read(spark, "fetch_results").collect()
    seen = job.catalog.read(spark, "url_seen").collect()
    return {"stats": stats, "results": results, "seen": seen, "job": job}


def test_seen_set_parity(oracle, spark_run):
    ours = {(r["url"], r["generation"]) for r in spark_run["seen"]}
    theirs = {(u, g) for u, g in oracle.seen.items()}
    assert ours == theirs


def test_hidden_pages_reached_via_mining(oracle, spark_run):
    """/hidden/ pages appear in NO body_links or sitemap — reaching them
    proves the heuristic snippet-mining path end-to-end (both engines)."""
    ours = {r["url"] for r in spark_run["seen"] if "/hidden/" in r["url"]}
    theirs = {u for u in oracle.seen if "/hidden/" in u}
    assert ours == theirs
    assert len(ours) > 3
    mined_types = {
        r["source_type"] for r in spark_run["results"] if "/hidden/" in r["url"]
    }
    assert mined_types & {"ajax_endpoint", "json_blob"}


def test_pdf_documents_fetched_and_links_recurse(oracle, spark_run):
    """.pdf html links are reclassified to pdf_link and fetched; links
    embedded in the fetched PDFs (/URI annotations) recurse as pdf_embedded
    candidates — both engines (row equality is enforced by the ordering/row
    parity tests; this asserts the paths are actually exercised)."""
    types = {r["source_type"] for r in oracle.scheduled}
    assert "pdf_link" in types
    assert "pdf_embedded" in types
    spark_types = {r["source_type"] for r in spark_run["results"]}
    assert "pdf_link" in spark_types and "pdf_embedded" in spark_types


def test_crawl_ordering_parity(oracle, spark_run):
    """Per-(generation, host) scheduled order must match the oracle exactly."""
    ours = {
        (r["generation"], r["host"], r["rank_in_host"]): r["url"]
        for r in spark_run["results"]
    }
    theirs = {
        (r["generation"], r["host"], r["rank_in_host"]): r["url"]
        for r in oracle.scheduled
    }
    assert ours == theirs


def test_fetch_row_parity(oracle, spark_run):
    # key by (url, attempt, generation): a transiently-failed URL reappears
    # per attempt, and can also be legitimately rescheduled at attempt=1 if a
    # better-scoring rediscovery beats the pending retry in the dedup window
    ours = {
        (r["url"], r["attempt"], r["generation"]): (
            r["status_code"], r["content_type"], r["is_valid"], r["depth"], r["score"]
        )
        for r in spark_run["results"]
    }
    assert len(ours) == len(oracle.scheduled)
    for o in oracle.scheduled:
        assert ours[(o["url"], o["attempt"], o["generation"])] == (
            o["status_code"],
            o["content_type"],
            o["is_valid"],
            o["depth"],
            o["score"],
        ), o["url"]


def test_content_classification_parity(oracle, spark_run):
    """Stage-2→3 admission gate: per-row (category, quality, is_enrichable)
    must match the sequential twin exactly, and the enrichable set must be
    non-trivial in BOTH directions (some rows admitted, some rejected) so
    the gate is proven live, not vacuous."""
    ours = {
        (r["url"], r["attempt"], r["generation"]): (
            r["content_category"], r["content_quality"], r["is_enrichable"]
        )
        for r in spark_run["results"]
    }
    for o in oracle.scheduled:
        assert ours[(o["url"], o["attempt"], o["generation"])] == (
            o["content_category"], o["content_quality"], o["is_enrichable"]
        ), o["url"]
    flags = {v[2] for v in ours.values()}
    assert flags == {True, False}
    # media rows (images) must be classified and rejected by the gate
    cats = {v[0] for v in ours.values()}
    assert "image" in cats and "html_page" in cats


def test_caption_and_bytes_parity(oracle, spark_run):
    """Per-row invariant vs reference: caption equality + decoded-pixel
    PSNR >= 40 dB — exact (infinite) for lossless PNG, finite-but->=40 for
    the LOSSY JPEG fraction vs the ORIGINAL pixels (BASELINE.json
    input_hint: 'PSNR>=40dB for lossy')."""
    from scrapy_spark.functions.giffn import decode_gif
    from scrapy_spark.functions.jpegfn import decode_jpeg
    from scrapy_spark.functions.webpfn import decode_webp
    from scrapy_spark.sources import synth as synth_mod

    ours = {
        (r["url"], r["attempt"], r["generation"]): (r["bytes"], r["caption"])
        for r in spark_run["results"]
    }
    n_png = n_jpeg = n_gif = n_webp = n_pdfs = 0
    for o in oracle.scheduled:
        b, cap = ours[(o["url"], o["attempt"], o["generation"])]
        assert cap == o["caption"], o["url"]
        if o["bytes"] is None:
            assert b is None
            continue
        assert bytes(b) == o["bytes"]  # byte-identical across ENGINES always
        if o["content_type"] == "image/png":
            n_png += 1
            p = psnr(decode_png(bytes(b)), decode_png(o["bytes"]))
            assert p == float("inf")
        elif o["content_type"] == "image/jpeg":
            n_jpeg += 1
            iid = synth_mod.parse_image_url(CFG, o["url"])
            w, h = synth_mod.image_dims(CFG, iid)
            original = synth_mod.image_pixels(CFG, iid, w, h)
            p = psnr(original, decode_jpeg(bytes(b)))
            assert 40.0 <= p < float("inf"), (o["url"], p)  # genuinely lossy
        elif o["content_type"] == "image/gif":
            n_gif += 1
            iid = synth_mod.parse_image_url(CFG, o["url"])
            w, h = synth_mod.image_dims(CFG, iid)
            original = synth_mod.image_pixels(CFG, iid, w, h)
            # palettized but pixel-exact for <=64-color sources
            p = psnr(original, decode_gif(bytes(b)))
            assert p == float("inf"), (o["url"], p)
        elif o["content_type"] == "image/webp":
            n_webp += 1
            iid = synth_mod.parse_image_url(CFG, o["url"])
            w, h = synth_mod.image_dims(CFG, iid)
            original = synth_mod.image_pixels(CFG, iid, w, h)
            # VP8L is lossless: full-range pixels round-trip exactly
            p = psnr(original, decode_webp(bytes(b)))
            assert p == float("inf"), (o["url"], p)
        elif o["content_type"] == "application/pdf":
            n_pdfs += 1
    assert n_png > 10
    assert n_jpeg > 2  # the lossy branch is exercised, not vacuous
    assert n_gif >= 1  # the palettized branch too
    assert n_webp >= 1  # the VP8L lossless branch too
    assert n_pdfs > 3  # pdf_link candidates fetched + byte-exact


def test_lineage_counts(oracle, spark_run):
    spark = spark_run["job"].spark
    lin = spark_run["job"].catalog.read(spark, "lineage")
    per_gen = {
        r["generation"]: r["n"]
        for r in lin.groupBy("generation").sum("scheduled").withColumnRenamed("sum(scheduled)", "n").collect()
    }
    oracle_per_gen = {}
    for r in oracle.scheduled:
        oracle_per_gen[r["generation"]] = oracle_per_gen.get(r["generation"], 0) + 1
    assert per_gen == oracle_per_gen


def test_resume_bit_identical(spark, oracle, tmp_path_factory):
    """Kill after generation 1, resume, final tables bit-identical (M4)."""
    wd = str(tmp_path_factory.mktemp("crawl_resume"))
    # phase 1: run only generations 0..1 (simulated kill)
    p1 = CrawlParams(max_generations=2, per_host_budget=PARAMS.per_host_budget)
    CrawlJob(spark, CFG, p1, wd, salt_buckets=4).run()
    # phase 2: resume to the full horizon
    job2 = CrawlJob(spark, CFG, PARAMS, wd, salt_buckets=4)
    job2.run(resume=True)
    rows = job2.catalog.read(spark, "fetch_results").collect()
    got = sorted(
        (r["generation"], r["host"], r["rank_in_host"], r["url"], r["caption"], r["bytes"] is None)
        for r in rows
    )
    want = sorted(
        (r["generation"], r["host"], r["rank_in_host"], r["url"], r["caption"], r["bytes"] is None)
        for r in oracle.scheduled
    )
    assert got == want


def test_gen_cap_binding_parity(spark, tmp_path_factory):
    """Backpressure cap smaller than the frontier must bind identically in
    Spark (count-free global-rank cap) and the oracle (explicit re-rank)."""
    cfg = SynthConfig(seed=42, n_hosts=10, n_pages=250, n_images=80)
    params = CrawlParams(max_generations=3, per_host_budget=10, gen_cap=25)
    oracle = run_oracle(cfg, params)
    wd = str(tmp_path_factory.mktemp("crawl_cap"))
    job = CrawlJob(spark, cfg, params, wd, salt_buckets=4)
    job.run()
    rows = job.catalog.read(spark, "fetch_results").collect()
    ours = {(r["generation"], r["host"], r["rank_in_host"]): r["url"] for r in rows}
    theirs = {
        (r["generation"], r["host"], r["rank_in_host"]): r["url"]
        for r in oracle.scheduled
    }
    assert ours == theirs
    per_gen = {}
    for r in oracle.scheduled:
        per_gen[r["generation"]] = per_gen.get(r["generation"], 0) + 1
    assert all(v <= 25 for v in per_gen.values())
    assert max(per_gen.values()) == 25  # the cap actually bound


def test_retry_and_sitemap_coverage(oracle):
    """The fixture crawl must actually exercise sitemap discovery and the
    transient-retry path (otherwise parity proves nothing about them)."""
    types = {r["source_type"] for r in oracle.scheduled}
    assert "sitemap_fetch" in types and "sitemap" in types
    assert any(r["error_type"] == "timeout" for r in oracle.scheduled)
    assert any(r["attempt"] > 1 for r in oracle.scheduled)
    # every retried URL eventually succeeded and entered the seen set
    retried = {r["url"] for r in oracle.scheduled if r["attempt"] > 1}
    for u in retried:
        assert u in oracle.seen


def test_learned_filters_parity_and_coverage(spark, tmp_path_factory):
    """Adaptive-depth (J5) + feedback-pattern (F7) learned filters: 6-gen
    crawl where depth>base survives only in proven-good sections and the
    systematically-bad /events/ pattern gets banned — Spark == oracle."""
    params = CrawlParams(max_generations=6, per_host_budget=10)
    oracle6 = run_oracle(CFG, params)
    # coverage: the filters actually fire
    depths = {r["depth"] for r in oracle6.scheduled}
    assert max(depths) > params.adaptive_base_depth  # bonus-depth rows exist
    ev_gens = [r["generation"] for r in oracle6.scheduled if "/events/" in r["url"]]
    assert ev_gens and max(ev_gens) < 5  # pattern ban kicked in

    wd = str(tmp_path_factory.mktemp("crawl_learned"))
    job = CrawlJob(spark, CFG, params, wd, salt_buckets=4)
    job.run()
    rows = job.catalog.read(spark, "fetch_results").collect()
    ours = {(r["generation"], r["host"], r["rank_in_host"]): r["url"] for r in rows}
    theirs = {
        (r["generation"], r["host"], r["rank_in_host"]): r["url"]
        for r in oracle6.scheduled
    }
    assert ours == theirs


def test_politeness_pacing_path_same_results(spark, tmp_path_factory):
    """Execution-time per-host pacing (salted (host,salt) layout + in-partition
    delays) must change timing only — tables identical to the unpaced run."""
    cfg = SynthConfig(seed=9, n_hosts=6, n_pages=80, n_images=40)
    params = CrawlParams(max_generations=3, per_host_budget=6)
    a = CrawlJob(spark, cfg, params, str(tmp_path_factory.mktemp("pace_a")), salt_buckets=2)
    a.run()
    b = CrawlJob(
        spark, cfg, params, str(tmp_path_factory.mktemp("pace_b")),
        salt_buckets=2, politeness_delay_s=0.005,
    )
    b.run()
    ra = sorted(
        (r["generation"], r["host"], r["rank_in_host"], r["url"])
        for r in a.catalog.read(spark, "fetch_results").collect()
    )
    rb = sorted(
        (r["generation"], r["host"], r["rank_in_host"], r["url"])
        for r in b.catalog.read(spark, "fetch_results").collect()
    )
    assert ra == rb and len(ra) > 30


def test_error_taxonomy_retry_policy(spark, oracle):
    """Retryable classes (timeout 599, server_error 503, throttled 429)
    re-enqueue and succeed on attempt 2; permanent classes (404 not_found)
    never retry (retry_strategies.py:17-101)."""
    by_type = {}
    for r in oracle.scheduled:
        by_type.setdefault(r["error_type"], []).append(r)
    # synthetic web emits all three transient classes
    assert "timeout" in by_type and "server_error" in by_type
    assert "throttled" in by_type
    # permanent: every not_found is attempt 1 and entered the seen set
    for r in by_type.get("not_found", []):
        assert r["attempt"] == 1
        assert r["url"] in oracle.seen
    # transient: attempt-1 failures are re-fetched (attempt 2 exists for the
    # same url) and the attempt-1 row did NOT enter seen at that generation
    retried = [r for r in oracle.scheduled if r["attempt"] == 2]
    assert retried, "no retries exercised"
    a1 = {
        r["url"]
        for r in oracle.scheduled
        if r["attempt"] == 1
        and r["error_type"] in ("timeout", "server_error", "throttled")
    }
    assert {r["url"] for r in retried} <= a1
    for r in retried:
        assert r["status_code"] == 200  # flaky classes succeed from attempt 2


def test_rate_control_breaker_parity(spark, tmp_path_factory):
    """Per-host AIMD + circuit breaker (retry_strategies.py:256-390): with a
    hard-down host (always 503), its budget collapses to 0 (open) after the
    failure streak, cools down one generation, then probes at budget 1 —
    and the Spark crawl reproduces the oracle's decisions exactly."""
    cfg = SynthConfig(seed=42, n_hosts=12, n_pages=300, n_images=120, bad_hosts=(2,))
    params = CrawlParams(
        max_generations=5, per_host_budget=10, rate_control=True, breaker_limit=5
    )
    oracle = run_oracle(cfg, params)
    wd = str(tmp_path_factory.mktemp("crawl_rc"))
    job = CrawlJob(spark, cfg, params, wd, salt_buckets=4)
    job.run()
    results = job.catalog.read(spark, "fetch_results").collect()
    ours = {
        (r["generation"], r["host"], r["rank_in_host"]): r["url"] for r in results
    }
    theirs = {
        (r["generation"], r["host"], r["rank_in_host"]): r["url"]
        for r in oracle.scheduled
    }
    assert ours == theirs
    seen_ours = {
        (r["url"], r["generation"])
        for r in job.catalog.read(spark, "url_seen").collect()
    }
    assert seen_ours == {(u, g) for u, g in oracle.seen.items()}
    # the breaker actually bit: the bad host's per-generation scheduled count
    # collapses to 0 (cooldown) and never exceeds 1 afterwards (probes)
    bad_host = cfg.host_names[2] + ".uconn.edu"
    per_gen = {}
    for r in oracle.scheduled:
        if r["host"] == bad_host:
            per_gen[r["generation"]] = per_gen.get(r["generation"], 0) + 1
            # every PAGE on the bad host fails (its sitemap.xml still serves)
            assert not r["is_valid"] or r["content_type"] == "application/xml"
    assert per_gen, "bad host never scheduled - fixture broken"
    # enough failures accumulated to trip the breaker...
    assert sum(per_gen.values()) >= params.breaker_limit + 1
    # ...and the host's budget collapsed: no scheduling in the last
    # generations even though the rest of the crawl kept going
    last_bad_gen = max(per_gen)
    assert last_bad_gen <= params.max_generations - 3
    later_total = {
        g["generation"]: g["scheduled"]
        for g in oracle.gen_counts
        if g["generation"] > last_bad_gen
    }
    assert later_total and all(v > 0 for v in later_total.values())


def test_adaptive_fetch_parity(spark, tmp_path_factory):
    """Adaptive per-domain request config (request_infrastructure.py:73-197):
    every fetch runs under its host's learned timeout — slow origins time out
    at the 10s base, escalate to 20s (and shed a retry) once timeouts
    dominate the host's recent errors, fast origins tighten to 3x their
    average observed latency — and the Spark crawl reproduces the oracle's
    schedule, seen-set, latencies and finality decisions exactly."""
    from scrapy_spark.operators import adaptive as adaptive_mod

    params = CrawlParams(
        max_generations=5, per_host_budget=10, adaptive_fetch=True
    )
    # host 2 rate-limits every first attempt: its error window goes
    # throttle-dominant and the learned delay escalates (the delay-arm
    # fixture); everything else matches the shared CFG
    cfg_af = SynthConfig(
        seed=42, n_hosts=12, n_pages=300, n_images=120, throttle_hosts=(2,)
    )
    oracle = run_oracle(cfg_af, params)
    wd = str(tmp_path_factory.mktemp("crawl_af"))
    job = CrawlJob(spark, cfg_af, params, wd, salt_buckets=4)
    job.run()
    results = job.catalog.read(spark, "fetch_results").collect()
    ours = {
        (r["generation"], r["host"], r["rank_in_host"]): r["url"] for r in results
    }
    theirs = {
        (r["generation"], r["host"], r["rank_in_host"]): r["url"]
        for r in oracle.scheduled
    }
    assert ours == theirs
    seen_ours = {
        (r["url"], r["generation"])
        for r in job.catalog.read(spark, "url_seen").collect()
    }
    assert seen_ours == {(u, g) for u, g in oracle.seen.items()}
    # per-row: the measured latency and the fetch UDF's persisted finality
    # decision (per-host retry cap) match the sequential twin exactly
    rows = {
        (r["url"], r["attempt"], r["generation"]): (r["latency_ms"], r["is_final"])
        for r in results
    }
    for o in oracle.scheduled:
        assert rows[(o["url"], o["attempt"], o["generation"])] == (
            o["latency_ms"], o["is_final"]
        ), o["url"]
    # the loop is live, not vacuous:
    # (1) base-timeout truncation — a too-slow page timed out at exactly the
    #     10s base (latency capped at the timeout: you stopped waiting)
    base_to = [
        r for r in oracle.scheduled
        if r["error_type"] == "timeout"
        and r["latency_ms"] == adaptive_mod.BASE_TIMEOUT_MS
    ]
    assert base_to, "no base-timeout truncation - latency fixture ineffective"
    # (2) escalation bit — a page slower than the base timeout SUCCEEDED,
    #     only possible under a host's escalated (2x) learned timeout
    slow_ok = [
        r for r in oracle.scheduled
        if r["error_type"] is None
        and r["latency_ms"] is not None
        and r["latency_ms"] > adaptive_mod.BASE_TIMEOUT_MS
    ]
    assert slow_ok, "timeout escalation never engaged"
    assert min(r["generation"] for r in slow_ok) >= 1  # learned, not innate
    # (3) the learned config changes real decisions: the same crawl without
    #     adaptive_fetch schedules a different row set
    baseline = run_oracle(
        cfg_af, CrawlParams(max_generations=5, per_host_budget=10)
    )
    assert {(r["url"], r["attempt"], r["generation"]) for r in oracle.scheduled} != {
        (r["url"], r["attempt"], r["generation"]) for r in baseline.scheduled
    }
    # (4) the delay arm engaged: some throttle-escalated host had frontier
    #     rows withheld by the paced budget (selection-time pacing) — and
    #     the Spark schedule above matched the oracle anyway
    assert oracle.delay_cuts, "delay arm never bound - fixture ineffective"


def test_adaptive_fetch_resume_parity(spark, tmp_path_factory):
    """The learned per-host config must survive a restart: a crawl killed
    after generation 1 and resumed re-derives the SAME adaptive decisions
    from the committed adaptive_stats deltas — schedule identical to the
    oracle's uninterrupted run (the snapshot-catalog restart-safety
    invariant, extended to the adaptive feedback loop)."""
    params = CrawlParams(
        max_generations=4, per_host_budget=10, adaptive_fetch=True
    )
    oracle = run_oracle(CFG, params)
    wd = str(tmp_path_factory.mktemp("crawl_af_resume"))
    p2 = CrawlParams(max_generations=2, per_host_budget=10, adaptive_fetch=True)
    CrawlJob(spark, CFG, p2, wd, salt_buckets=4).run()
    job = CrawlJob(spark, CFG, params, wd, salt_buckets=4)
    job.run(resume=True)
    results = job.catalog.read(spark, "fetch_results").collect()
    ours = {
        (r["generation"], r["host"], r["rank_in_host"]): r["url"] for r in results
    }
    theirs = {
        (r["generation"], r["host"], r["rank_in_host"]): r["url"]
        for r in oracle.scheduled
    }
    assert ours == theirs
    # the post-resume generations still exercise LEARNED configs (a success
    # past the base timeout in gen >= 2 proves the resumed job read the
    # committed stats, not the base config)
    from scrapy_spark.operators import adaptive as adaptive_mod

    assert any(
        r["error_type"] is None
        and r["latency_ms"] is not None
        and r["latency_ms"] > adaptive_mod.BASE_TIMEOUT_MS
        and r["generation"] >= 2
        for r in results
    )


def test_freshness_revalidation_parity(spark, tmp_path_factory):
    """Freshness-driven revalidation (freshness.py:92-150, 282-312): pages
    whose Last-Modified age exceeds the threshold are re-fetched
    revalidate_after_gens generations after their last final fetch, bypass
    the seen anti-join, never re-enter the seen set — and the Spark crawl
    reproduces the oracle exactly."""
    params = CrawlParams(
        max_generations=5,
        per_host_budget=10,
        revalidate=True,
        freshness_max_age_days=30,
        revalidate_after_gens=2,
    )
    oracle = run_oracle(CFG, params)
    wd = str(tmp_path_factory.mktemp("crawl_fresh"))
    job = CrawlJob(spark, CFG, params, wd, salt_buckets=4)
    job.run()
    results = job.catalog.read(spark, "fetch_results").collect()
    ours = {
        (r["generation"], r["host"], r["rank_in_host"]): (r["url"], r["source_type"])
        for r in results
    }
    theirs = {
        (r["generation"], r["host"], r["rank_in_host"]): (r["url"], r["source_type"])
        for r in oracle.scheduled
    }
    assert ours == theirs
    seen_ours = {
        (r["url"], r["generation"])
        for r in job.catalog.read(spark, "url_seen").collect()
    }
    assert seen_ours == {(u, g) for u, g in oracle.seen.items()}
    # revalidation actually happened: stale pages re-fetched in later gens
    reval = [r for r in oracle.scheduled if r["source_type"] == "revalidate"]
    assert reval, "no revalidation rows - fixture ineffective"
    first_fetch = {}
    for r in oracle.scheduled:
        if r["source_type"] != "revalidate" and r["age_days"] is not None:
            first_fetch.setdefault(r["url"], r)
    for r in reval:
        orig = first_fetch[r["url"]]  # a revalidated URL was fetched before
        assert orig["age_days"] > params.freshness_max_age_days
        assert r["generation"] >= orig["generation"] + params.revalidate_after_gens
    # and a stale page is re-fetched AGAIN after the next interval (periodic)
    counts = {}
    for r in reval:
        counts[r["url"]] = counts.get(r["url"], 0) + 1
    assert max(counts.values()) >= 2 or params.max_generations < 5


def test_interstage_validation_gate(spark, spark_run):
    """Schema gate (interstage_validation.py:46-49): every generation of a
    healthy crawl passes at rate 1.0; corrupted rows are caught."""
    from pyspark.sql import functions as F

    from scrapy_spark.operators.validation import schema_valid_expr

    v = spark_run["job"].catalog.read(spark, "validation").collect()
    assert len(v) == len(spark_run["stats"])
    for r in v:
        assert r["rate"] == 1.0 and bool(r["passed"])
        assert r["n_rows"] == r["n_schema_valid"] > 0
    # corruption is detected: break url_hash / is_valid / bytes invariants
    base = spark_run["job"].catalog.read(spark, "fetch_results").limit(3)
    bad_hash = base.withColumn("url_hash", F.col("url_hash") + 1)
    assert bad_hash.filter(schema_valid_expr()).count() == 0
    bad_valid = base.withColumn("is_valid", ~F.col("is_valid"))
    assert bad_valid.filter(schema_valid_expr()).count() == 0
    bad_attempt = base.withColumn("attempt", F.lit(99))
    assert bad_attempt.filter(schema_valid_expr()).count() == 0


def test_pagination_cache_parity(spark, tmp_path_factory):
    """Pagination guessing bounded by the TTL'd pagination cache
    (storage.py:213-343 + discovery_spider.py:1097-1154): per-pattern guess
    ranges from TTL-windowed aggregates — Spark == oracle, and the guesses
    both discover real pages and record invalid probes."""
    params = CrawlParams(
        max_generations=4,
        per_host_budget=10,
        pagination_guess=True,
        pagination_lookahead=5,
        pagination_max_pages=5,
    )
    oracle = run_oracle(CFG, params)
    wd = str(tmp_path_factory.mktemp("crawl_pag"))
    job = CrawlJob(spark, CFG, params, wd, salt_buckets=4)
    job.run()
    results = job.catalog.read(spark, "fetch_results").collect()
    ours = {
        (r["generation"], r["host"], r["rank_in_host"]): (r["url"], r["source_type"])
        for r in results
    }
    theirs = {
        (r["generation"], r["host"], r["rank_in_host"]): (r["url"], r["source_type"])
        for r in oracle.scheduled
    }
    assert ours == theirs
    seen_ours = {
        (r["url"], r["generation"])
        for r in job.catalog.read(spark, "url_seen").collect()
    }
    assert seen_ours == {(u, g) for u, g in oracle.seen.items()}
    guesses = [r for r in oracle.scheduled if r["source_type"] == "pagination_guess"]
    assert guesses, "no pagination guesses scheduled - fixture ineffective"
    assert any(r["is_valid"] for r in guesses)  # guessed real pages
    assert any(not r["is_valid"] for r in guesses)  # probed past the end


def test_lineage_path_traces_to_seed(oracle, spark_run):
    """get_lineage_path semantics (lineage.py:240-280): any fetched URL
    walks back through its discovery edges to a seed, matching a python
    walk over the oracle's rows hop for hop."""
    from scrapy_spark.operators.lineage_path import lineage_path

    spark = spark_run["job"].spark
    fr = spark_run["job"].catalog.read(spark, "fetch_results")
    # pick a deep mined/linked page (guaranteed non-seed)
    deep = sorted(
        (r for r in oracle.scheduled if r["depth"] >= 2 and r["is_valid"]),
        key=lambda r: (-r["depth"], r["url"]),
    )[0]
    path = lineage_path(fr, deep["url"])
    assert path and path[0]["url"] == deep["url"]
    assert path[-1]["source_type"] == "seed" or path[-1]["source_url"] is None
    # python twin over oracle rows — the EXACT tie-break chain of the
    # operator (lineage_path.py): (generation, depth, source_type,
    # source_url); change them TOGETHER (CLAUDE.md tie-break rule)
    by_url = {}
    for r in sorted(
        oracle.scheduled,
        key=lambda r: (
            r["generation"], r["depth"],
            r["source_type"] or "", r["source_url"] or "",
        ),
    ):
        by_url.setdefault(r["url"], r)
    want = []
    cur, seen = deep["url"], set()
    while cur and cur not in seen:
        seen.add(cur)
        row = by_url.get(cur)
        if row is None:
            break
        want.append((row["url"], row["source_url"], row["source_type"]))
        cur = row["source_url"]
    got = [(p["url"], p["source_url"], p["source_type"]) for p in path]
    assert got == want
    assert len(path) >= 2  # genuinely multi-hop


def test_resume_after_compaction_bit_identical(spark, oracle, tmp_path_factory):
    """Maintenance must not disturb a mid-crawl resume: kill after
    generation 1, COMPACT every table (+ collapse the cumulative url_seen
    + vacuum), resume to the horizon — final schedule still oracle-exact."""
    from scrapy_spark.sources.catalog import SnapshotCatalog

    wd = str(tmp_path_factory.mktemp("crawl_compact_resume"))
    p1 = CrawlParams(max_generations=2, per_host_budget=PARAMS.per_host_budget)
    CrawlJob(spark, CFG, p1, wd, salt_buckets=4).run()

    cat = SnapshotCatalog(wd)
    for t in sorted(cat._load()["tables"]):
        cat.compact(spark, t, collapse=(t == "url_seen"))
    cat.vacuum()

    job2 = CrawlJob(spark, CFG, PARAMS, wd, salt_buckets=4)
    job2.run(resume=True)
    rows = job2.catalog.read(spark, "fetch_results").collect()
    got = sorted(
        (r["generation"], r["host"], r["rank_in_host"], r["url"], r["caption"])
        for r in rows
    )
    want = sorted(
        (r["generation"], r["host"], r["rank_in_host"], r["url"], r["caption"])
        for r in oracle.scheduled
    )
    assert got == want
