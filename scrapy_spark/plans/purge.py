"""Seen-set eviction (forced re-crawl of a host cohort).

The reference can only re-crawl a URL by deleting its SQLite seen row
(``SP/src/common/url_deduplication.py`` is a plain hash-PK table, so row
deletes are cheap there); at the 10^10 rebuild scale the seen set is a
snapshot-committed table, so eviction is an Iceberg-style overwrite
snapshot of url_seen without the cohort (``SnapshotCatalog.commit_rewrite``):
atomic, resume numbering untouched, old files orphaned until vacuum.

After a purge, the cohort's URLs are re-fetched when next re-discovered
(link extraction, sitemaps, pagination guesses) — the sequential oracle
mirrors this via ``CrawlParams.purge_after`` (purge parity test).
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..sources.catalog import SnapshotCatalog


def purge_host(spark: SparkSession, catalog: SnapshotCatalog, host: str) -> int:
    """Evict every seen URL of ``host``; returns the cohort size.

    At 10^10 scale the rewrite stays distributed: a scan+filter of
    url_seen staged straight back to files (no bytes anywhere near the
    driver). The cohort count comes from the staged files' parquet
    footers, not a collect."""
    seen = catalog.read(spark, "url_seen")
    if seen is None:
        return 0
    keep = seen.filter(F.col("host") != host)
    gen = max(catalog.committed_generation(), 0)
    # stage everything BEFORE the manifest swap — the lazy plans read the
    # old manifest's files, which stay on disk (orphans) until vacuum()
    keep_files = catalog.stage(keep, "url_seen", gen, coalesce=4)
    # cohort size from parquet footers (no collect, no extra Spark job)
    before = catalog.staged_rows(catalog._load()["tables"]["url_seen"])
    n = before - catalog.staged_rows(keep_files)
    if n == 0:
        return 0  # nothing to purge; staged copy becomes a vacuumable orphan
    catalog.commit_rewrite(
        {"url_seen": keep_files},
        stats={"op": "purge_host", "host": host, "evicted": n},
    )
    return n
