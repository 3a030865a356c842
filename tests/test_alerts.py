"""Alert records on pipeline events (sources/alerts.py — AlertManager,
alerts.py:37-181): committed `alerts` table rows, the JSONL file channel for
txn-aborting events, the severity threshold gate, and the Prometheus export."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from scrapy_spark.plans.crawl import CrawlJob, ValidationGateError
from scrapy_spark.plans.oracle import CrawlParams
from scrapy_spark.sources import alerts as alerts_mod
from scrapy_spark.sources.synth import SynthConfig

CFG = SynthConfig(seed=42, n_hosts=4, n_pages=60, n_images=20, n_seeds=4)


def test_meets_threshold_ladder():
    # _should_alert semantics (alerts.py:130-135)
    assert alerts_mod.meets_threshold("error", "warning")
    assert alerts_mod.meets_threshold("warning", "warning")
    assert not alerts_mod.meets_threshold("info", "warning")
    assert alerts_mod.meets_threshold("critical", "error")


def test_healthy_crawl_alert_records(spark, tmp_path):
    wd = str(tmp_path / "wd")
    job = CrawlJob(
        spark, CFG, CrawlParams(max_generations=2, per_host_budget=8), wd,
        salt_buckets=2,
    )
    stats = job.run()
    # committed table: one generation_complete row per generation, messages
    # carrying the scheduled counts — deterministic, no wall clock
    rows = job.catalog.read(spark, "alerts").collect()
    gc = {r["generation"]: r for r in rows if r["event"] == "generation_complete"}
    assert set(gc) == {s.generation for s in stats}
    for s in stats:
        assert f"{s.scheduled} urls" in gc[s.generation]["message"]
        assert gc[s.generation]["severity"] == "info"
    assert not [r for r in rows if r["event"] == "breaker_open"]  # rc off
    # file channel: pipeline_complete fires after the final commit
    recs = alerts_mod.read_jsonl(wd)
    pc = [r for r in recs if r["event"] == "pipeline_complete"]
    assert len(pc) == 1 and pc[0]["severity"] == "info"
    assert pc[0]["metadata"]["scheduled"] == sum(s.scheduled for s in stats)
    # prometheus surface exports the committed alert counts
    from scrapy_spark.sources.metrics_export import prometheus_exposition

    text = prometheus_exposition(spark, job.catalog)
    assert 'crawl_alerts_total{event="generation_complete",severity="info"}' in text


def test_breaker_open_alert_rows(spark, tmp_path):
    """The breaker parity fixture (hard-down host) must surface breaker_open
    warning rows in the committed alerts table."""
    cfg = SynthConfig(
        seed=42, n_hosts=6, n_pages=120, n_images=30, n_seeds=6, bad_hosts=(2,)
    )
    params = CrawlParams(
        max_generations=4, per_host_budget=8, rate_control=True, breaker_limit=4
    )
    wd = str(tmp_path / "wd")
    job = CrawlJob(spark, cfg, params, wd, salt_buckets=2)
    job.run()
    rows = job.catalog.read(spark, "alerts").collect()
    opened = [r for r in rows if r["event"] == "breaker_open"]
    bad_host = cfg.host_names[2] + ".uconn.edu"
    assert opened, "hard-down host never tripped a breaker alert"
    assert all(r["severity"] == "warning" and r["stage"] == "rate_control"
               for r in opened)
    assert bad_host in {r["host"] for r in opened}
    assert all("consecutive failures" in r["message"] for r in opened)


def test_validation_gate_stage_failed(spark, tmp_path, monkeypatch):
    """A failing interstage gate aborts BEFORE commit — the stage_failed
    record lands on the file channel (the txn that would carry a table row
    is abandoned), and nothing is committed."""
    from scrapy_spark.operators import validation as validation_ops

    monkeypatch.setattr(
        validation_ops, "schema_valid_expr", lambda *a, **k: F.lit(False)
    )
    wd = str(tmp_path / "wd")
    job = CrawlJob(
        spark, CFG, CrawlParams(max_generations=2, per_host_budget=8), wd,
        salt_buckets=2,
    )
    with pytest.raises(ValidationGateError):
        job.run()
    assert job.catalog.committed_generation() == -1
    recs = alerts_mod.read_jsonl(wd)
    sf = [r for r in recs if r["event"] == "stage_failed"]
    assert len(sf) == 1 and sf[0]["severity"] == "error"
    assert sf[0]["stage"] == "interstage_validation"
    assert "generation 0" in sf[0]["message"]
    assert not [r for r in recs if r["event"] == "pipeline_complete"]


def test_failed_generation_releases_cached_projection(spark, tmp_path):
    """A generation that dies in a pooled rollup (here the lineage stage)
    must not leak the cached per-generation projection: the session's
    persistent-RDD count is back to its pre-generation value after the
    raise. The job-lifetime robots cache is materialized before the
    baseline is read, so only per-generation caches are counted."""
    wd = str(tmp_path / "wd")
    job = CrawlJob(
        spark, CFG, CrawlParams(max_generations=1, per_host_budget=8), wd,
        salt_buckets=2,
    )
    stage = job.catalog.stage

    def failing_stage(df, table, *a, **k):
        if table == "lineage":
            raise RuntimeError("injected lineage rollup failure")
        return stage(df, table, *a, **k)

    job.catalog.stage = failing_stage
    job.robots_df().count()
    persisted = spark.sparkContext._jsc.getPersistentRDDs
    before = persisted().size()
    with pytest.raises(RuntimeError, match="injected lineage"):
        job.run()
    assert job.catalog.committed_generation() == -1
    assert persisted().size() == before


def test_alert_threshold_gates_file_channel(spark, tmp_path):
    """alert_threshold above info suppresses pipeline_complete on the JSONL
    channel; the committed table still records everything (it is the durable
    log, not a notification channel)."""
    wd = str(tmp_path / "wd")
    job = CrawlJob(
        spark,
        CFG,
        CrawlParams(
            max_generations=1, per_host_budget=8, alert_threshold="error"
        ),
        wd,
        salt_buckets=2,
    )
    job.run()
    assert alerts_mod.read_jsonl(wd) == []
    rows = job.catalog.read(spark, "alerts").collect()
    assert any(r["event"] == "generation_complete" for r in rows)
