"""Seen-set eviction (plans/purge.py): Iceberg-style overwrite snapshot of
url_seen, oracle-parity of the purge-then-recrawl flow, and the
resume-after-kill catch-up branch."""

from __future__ import annotations

import pytest

from scrapy_spark.plans.crawl import CrawlJob
from scrapy_spark.plans.oracle import CrawlParams, run_oracle
from scrapy_spark.plans.purge import purge_host
from scrapy_spark.sources.synth import SynthConfig

CFG = SynthConfig(seed=42, n_hosts=12, n_pages=300, n_images=120)
HOST = "engineering.uconn.edu"  # 15 oracle re-fetches after a gen-1 purge
PARAMS = CrawlParams(max_generations=4, per_host_budget=10, purge_after=(1, HOST))


@pytest.fixture(scope="module")
def oracle():
    return run_oracle(CFG, PARAMS)


@pytest.fixture(scope="module")
def spark_run(spark, tmp_path_factory):
    wd = str(tmp_path_factory.mktemp("crawl_purge"))
    job = CrawlJob(spark, CFG, PARAMS, wd, salt_buckets=4)
    job.run()
    return job


def test_purge_recrawl_parity(spark, oracle, spark_run):
    """Purge-then-recrawl must match the sequential oracle: evicted URLs
    re-fetch when re-discovered and re-enter seen at the NEW generation."""
    seen = {
        (r["url"], r["generation"])
        for r in spark_run.catalog.read(spark, "url_seen").collect()
    }
    assert seen == {(u, g) for u, g in oracle.seen.items()}
    # non-vacuous: the purge really caused re-fetches
    fr = spark_run.catalog.read(spark, "fetch_results")
    early = {r["url"] for r in fr.filter("generation <= 1").select("url").collect()}
    late = {r["url"] for r in fr.filter("generation >= 2").select("url").collect()}
    assert len(early & late) >= 10


def test_purge_schedule_parity(spark, oracle, spark_run):
    fr = spark_run.catalog.read(spark, "fetch_results")
    got = {
        (r["generation"], r["host"], r["rank_in_host"]): r["url"]
        for r in fr.collect()
    }
    want = {
        (r["generation"], r["host"], r["rank_in_host"]): r["url"]
        for r in oracle.scheduled
    }
    assert got == want


def test_purge_snapshot_and_filter_state(spark_run):
    """The purge lands as one overwrite snapshot in the snapshot log, and
    the seen set is its only state (no filter tier to update)."""
    snaps = spark_run.catalog.snapshots()
    purges = [s["stats"] for s in snaps if s["stats"].get("op") == "purge_host"]
    assert len(purges) == 1
    assert purges[0]["host"] == HOST and purges[0]["evicted"] > 0
    assert not {"bloom", "cuckoo"} & set(spark_run.catalog._load()["tables"])


def test_purge_idempotent_and_empty(spark, spark_run):
    assert purge_host(spark, spark_run.catalog, HOST + ".nosuch") == 0


def test_purge_applies_on_resume_after_kill(spark, tmp_path_factory):
    """Killed between the purge generation's commit and the purge itself:
    resume consults the snapshot log and applies the missing purge before
    continuing (and never re-applies an applied one)."""
    wd = str(tmp_path_factory.mktemp("crawl_purge_resume"))
    # phase 1: run generations 0..1 WITHOUT the purge (the simulated kill
    # happened right after gen 1's commit, before the purge ran)
    p1 = CrawlParams(max_generations=2, per_host_budget=10)
    CrawlJob(spark, CFG, p1, wd, salt_buckets=4).run()
    # phase 2: resume with the purge param — catch-up branch fires
    job2 = CrawlJob(spark, CFG, PARAMS, wd, salt_buckets=4)
    job2.run(resume=True)
    oracle = run_oracle(CFG, PARAMS)
    seen = {
        (r["url"], r["generation"])
        for r in job2.catalog.read(spark, "url_seen").collect()
    }
    assert seen == {(u, g) for u, g in oracle.seen.items()}
    assert (
        sum(
            1
            for s in job2.catalog.snapshots()
            if s["stats"].get("op") == "purge_host"
        )
        == 1
    )
