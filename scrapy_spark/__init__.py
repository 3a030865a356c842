"""scrapy_spark — a PySpark-native crawl scheduler / analytics engine.

Brand-new implementation (not a port) of the capabilities of the
BenjaminSRussell/Scrapy UConn crawl pipeline (reference read-only at
/root/reference/, analysed in SURVEY.md):

- URL frontier as a snapshot-committed table of image+caption candidate URLs
- exact URL canonicalization -> xxhash64 keys -> exact anti-join URL-seen
  set, bucketed by hash shard (first-writer-wins dedup decisions)
- window-ranked per-host frontier selection under robots + politeness budgets
- vectorized Arrow-UDF fetch + image-metadata/caption extraction
- per-generation checkpoint/lineage/metrics; kill/resume bit-identical

Everything is DataFrame/SQL-first; Python appears only as Arrow-vectorized
pandas UDFs (canonicalize, fetch, image decode), never row-at-a-time.
"""

__version__ = "0.1.0"
