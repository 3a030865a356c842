"""spark-submit entrypoint for the crawl engine.

Usage (local sandbox; on a cluster swap --master and add --py-files app.zip):

  spark-submit --master local[8] main.py crawl \
      --workdir /tmp/crawl1 --seed 42 --hosts 12 --pages 300 --images 120 \
      --generations 4 --per-host-budget 10 [--resume]

  spark-submit main.py report --workdir /tmp/crawl1

Mirrors the reference's orchestrator CLI
(``Scraping_project/src/orchestrator/main.py:317-370`` --stage sequencing);
stages here are frontier generations, not processes.
"""

from __future__ import annotations

import argparse
import json
import sys


def _add_crawl_args(c: argparse.ArgumentParser) -> None:
    """Crawl-shaping args shared by `crawl` and `validate`."""
    c.add_argument("--workdir", required=True, help="snapshot catalog directory")
    c.add_argument("--seed", type=int, default=42)
    c.add_argument("--hosts", type=int, default=12)
    c.add_argument("--pages", type=int, default=300)
    c.add_argument("--images", type=int, default=120)
    c.add_argument("--generations", type=int, default=4)
    c.add_argument("--per-host-budget", type=int, default=10)
    c.add_argument("--gen-cap", type=int, default=10_000)
    c.add_argument("--salt-buckets", type=int, default=8)
    c.add_argument("--resume", action="store_true")
    c.add_argument(
        "--rate-control",
        action="store_true",
        help="per-host AIMD budgets + circuit breaker (retry_strategies.py semantics)",
    )
    c.add_argument(
        "--revalidate",
        action="store_true",
        help="freshness-driven re-fetch of stale pages (freshness.py semantics)",
    )
    c.add_argument(
        "--pagination-guess",
        action="store_true",
        help="TTL-cached pagination range guessing (PaginationCache semantics)",
    )
    c.add_argument(
        "--adaptive-fetch",
        action="store_true",
        help="learned per-domain timeout/retry/delay config fed back into "
        "the fetch (request_infrastructure.py AdaptiveRequestConfig semantics)",
    )
    c.add_argument("--master", default=None, help="override spark master")
    c.add_argument(
        "--http",
        action="store_true",
        help="fetch over REAL HTTP (operators/fetch.http_resolver) instead "
        "of the synthetic web; pair with --seed-url and --domain",
    )
    c.add_argument(
        "--seed-url",
        action="append",
        default=None,
        help="explicit seed URL (repeatable); replaces the synthetic seed CSV",
    )
    c.add_argument(
        "--seed-file",
        dest="seed_file",
        default=None,
        help="seed CSV (header 'url'), e.g. the output of `main.py seeds`; "
        "replaces the synthetic seed CSV",
    )
    c.add_argument(
        "--domain",
        default="uconn.edu",
        help="crawl domain allow-list suffix (default uconn.edu)",
    )


def _build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="scrapy_spark", description=__doc__)
    sub = p.add_subparsers(dest="cmd", required=True)

    c = sub.add_parser("crawl", help="run (or resume) a generation-loop crawl")
    _add_crawl_args(c)

    hv = sub.add_parser(
        "validate",
        help="pre-run configuration health check (config_validator.py "
        "semantics: filesystem/logic/catalog/env checks, severity-tiered, "
        "no Spark session needed); exit 1 on errors",
    )
    _add_crawl_args(hv)

    r = sub.add_parser("report", help="print per-generation metrics/lineage")
    r.add_argument("--workdir", required=True)
    r.add_argument("--master", default=None)
    r.add_argument(
        "--prometheus",
        default=None,
        metavar="FILE",
        help="also write crawl metrics in Prometheus text exposition format "
        "('-' for stdout)",
    )

    v = sub.add_parser("vacuum", help="delete orphan files from crashed generations")
    v.add_argument("--workdir", required=True)
    v.add_argument(
        "--expire-snapshots", type=int, default=None, metavar="N",
        help="also trim the snapshot log to the last N entries "
        "(maintenance-op entries always kept — resume consults them)",
    )
    v.add_argument("--master", default=None)

    sd = sub.add_parser(
        "seeds",
        help="seed-list maintenance (tools/update_seeds.py analog): mine a "
        "catalog table for URLs, canonicalize, drop already-crawled ones, "
        "merge an existing seed CSV, write one deduped sorted seed CSV",
    )
    sd.add_argument("--workdir", required=True)
    sd.add_argument("--out", required=True, help="output seed CSV (header 'url')")
    sd.add_argument(
        "--merge-from", dest="merge_from", default="candidates",
        help="catalog table to mine (candidates = pending frontier; "
        "fetch_results = validated 200/text-html pages)",
    )
    sd.add_argument(
        "--seed-file", dest="seed_file", default=None,
        help="existing seed CSV to merge (header 'url')",
    )
    sd.add_argument(
        "--min-validations", dest="min_validations", type=int, default=1,
        help="fetch_results source only: minimum successful validations",
    )
    sd.add_argument(
        "--include-seen", dest="include_seen", action="store_true",
        help="keep already-crawled URLs (reference behavior)",
    )
    sd.add_argument("--domain", default=None, help="optional allow-list gate")
    sd.add_argument("--master", default=None)

    rb = sub.add_parser(
        "rollback",
        help="roll the workdir back to generation N (checkpoint reset "
        "analog, Spark-free): later files become vacuum orphans, resume "
        "re-runs N+1..; refused when a purge/compact after N severed the "
        "pre-op state, or when N < the last adaptive-retention as_of "
        "(targets at/above it compose)",
    )
    rb.add_argument("--workdir", required=True)
    rb.add_argument("--to-generation", dest="to_gen", type=int, required=True)
    rb.add_argument(
        "--vacuum", action="store_true",
        help="also delete the orphaned post-N files",
    )
    rb.add_argument("--master", default=None)

    dff = sub.add_parser(
        "diff",
        help="time-travel diff between two committed generations "
        "(read_upto snapshot reads): URLs newly seen, per-host breakdown "
        "(data_refresh.py change-detection semantics over the catalog)",
    )
    dff.add_argument("--workdir", required=True)
    dff.add_argument("--from", dest="gen_from", type=int, required=True)
    dff.add_argument("--to", dest="gen_to", type=int, required=True)
    dff.add_argument("--show", type=int, default=10,
                     help="sample of newly-seen URLs to print")
    dff.add_argument("--master", default=None)

    cp = sub.add_parser(
        "compact",
        help="rewrite small per-generation files (Iceberg rewrite_data_files "
        "analog); --collapse merges all generations of a cumulative-state "
        "table (url_seen) under the latest prefix",
    )
    cp.add_argument("--workdir", required=True)
    cp.add_argument(
        "--table", default=None, help="one table (default: every committed table)"
    )
    cp.add_argument("--collapse", action="store_true")
    cp.add_argument(
        "--sort-by", default=None, metavar="COL",
        help="sort rows within each rewritten file (row-group min/max "
        "stats become selective for point probes, e.g. url_seen on "
        "url_hash — the Iceberg sort-order analog)",
    )
    cp.add_argument("--min-files", type=int, default=2)
    cp.add_argument(
        "--vacuum", action="store_true", help="also delete the replaced files"
    )
    cp.add_argument("--master", default=None)

    x = sub.add_parser(
        "export",
        help="flat-file export of a catalog table "
        "(exporters.py CSV/JSONExporter semantics: structs->dotted columns, "
        "arrays->JSON, binary->base64, compressed part files)",
    )
    x.add_argument("--workdir", required=True)
    x.add_argument("--out", required=True)
    x.add_argument("--table", default="fetch_results")
    x.add_argument("--format", choices=["csv", "json", "orc"], default="csv")
    x.add_argument("--compression", default="gzip")
    x.add_argument(
        "--drop-bytes",
        action="store_true",
        help="exclude the image/PDF bytes column (bytes discipline: export "
        "metadata without re-reading payloads)",
    )
    x.add_argument("--master", default=None)

    q = sub.add_parser(
        "query",
        help="run a registered analytics query by name over a parquet "
        "table directory (the datalake-analytics surface; list names "
        "with --list)",
    )
    q.add_argument("--name", default=None)
    q.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    q.add_argument("--show", type=int, default=20)
    q.add_argument("--list", action="store_true", help="list query names")
    q.add_argument(
        "--explain", action="store_true",
        help="print the formatted physical plan instead of executing "
        "(PushedFilters / ReadSchema / join strategies — the .explain "
        "introspection surface)",
    )
    q.add_argument("--master", default=None)

    ln = sub.add_parser(
        "lineage",
        help="trace a fetched URL backwards through its discovery edges to "
        "the seed (lineage.py get_lineage_path semantics)",
    )
    ln.add_argument("--workdir", required=True)
    ln.add_argument("--url", required=True)
    ln.add_argument("--master", default=None)

    ing = sub.add_parser(
        "ingest",
        help="ingest a vendor/third-party file (csv/json/jsonl/parquet) "
        "into the versioned vendor_data warehouse table "
        "(vendor_integration.py FileVendorSource semantics: normalized "
        "records with raw_data JSON, SCD-2 versioning on re-ingest)",
    )
    ing.add_argument("--in", dest="infile", required=True, help="source file/dir")
    ing.add_argument("--format", choices=["csv", "json", "jsonl", "parquet"],
                     required=True)
    ing.add_argument("--out", required=True, help="vendor_data table directory")
    ing.add_argument("--vendor", required=True, help="vendor name")
    ing.add_argument(
        "--key-col", default=None,
        help="natural-key column for versioning (default: row content hash)",
    )
    ing.add_argument(
        "--url-col", default=None,
        help="URL column to link records to fact_pages via page_id",
    )
    ing.add_argument("--master", default=None)

    imd = sub.add_parser(
        "imagedup",
        help="perceptual near-dup image pairs + clusters (banded phash64 "
        "candidate join, exact bit_count hamming filter) over a crawl "
        "workdir's fetched images (bytes decoded via Arrow mapInPandas) "
        "or an images.parquet table with a precomputed phash column",
    )
    imd.add_argument("--workdir", default=None, help="crawl workdir (decode bytes)")
    imd.add_argument("--images", default=None,
                     help="images.parquet path with a phash column")
    imd.add_argument("--max-hamming", type=int, default=3,
                     help="exact hamming threshold; must stay below the 4 "
                     "bands or banding recall is no longer complete")
    imd.add_argument("--iterations", type=int, default=4,
                     help="label-propagation rounds — bounds the near-dup "
                     "chain diameter that fully collapses into one cluster")
    imd.add_argument("--show", type=int, default=20)
    imd.add_argument("--master", default=None)

    imf = sub.add_parser(
        "imagefilter",
        help="LAION-style image+caption admission funnel over an "
        "input_hint-shaped images.parquet (size/aspect/caption-token "
        "bounds, boilerplate-caption and exact-phash dup drops); prints "
        "one JSON summary line",
    )
    imf.add_argument("--images", default=None,
                     help="input_hint-shaped images.parquet")
    imf.add_argument("--workdir", default=None,
                     help="crawl workdir (decode fetched image bytes)")
    imf.add_argument("--min-side", type=int, default=32)
    imf.add_argument("--max-aspect", type=int, default=4)
    imf.add_argument("--min-caption-tokens", type=int, default=2)
    imf.add_argument("--max-caption-tokens", type=int, default=64)
    imf.add_argument("--max-caption-freq", type=int, default=2)
    imf.add_argument(
        "--drop-neardups", dest="drop_neardups", action="store_true",
        help="also drop banded-hamming phash near-dups (keep one image "
        "per near-dup component, min image_id)",
    )
    imf.add_argument(
        "--neardup-max-hamming", dest="neardup_max_hamming",
        type=int, default=3,
        help="near-dup hamming radius (complete recall needs < 4 bands)",
    )
    imf.add_argument(
        "--min-jpeg-quality", dest="min_jpeg_quality", type=int,
        default=None,
        help="also drop JPEGs whose estimated IJG quality factor "
        "(header-only DQT inversion) is below this",
    )
    imf.add_argument("--out", default=None,
                     help="also write the per-image decision table")
    imf.add_argument("--master", default=None)

    ib = sub.add_parser(
        "imagebuckets",
        help="aspect-ratio bucket assignment (NovelAI/SDXL training "
        "practice): exact-integer argmin over the aspect ladder; prints "
        "one JSON occupancy summary line",
    )
    ib.add_argument("--images", default=None,
                    help="input_hint-shaped images.parquet")
    ib.add_argument("--workdir", default=None,
                    help="crawl workdir (decode fetched image bytes)")
    ib.add_argument("--out", default=None,
                    help="also write the per-image assignment table")
    ib.add_argument("--resize", default=None, metavar="DIR",
                    help="also decode + cover-resize + center-crop every "
                    "image to its bucket resolution and write the resized "
                    "parquet (PNG bytes + crop geometry) to DIR")
    ib.add_argument("--resize-mode", choices=("cover", "fit"),
                    default="cover",
                    help="cover = crop to fill the bucket (default); "
                    "fit = letterbox onto a black canvas, no content loss")
    ib.add_argument("--apply-orientation", dest="apply_orientation",
                    action="store_true",
                    help="honor the EXIF orientation tag on JPEGs before "
                    "bucket choice + resize (forces decode-driven dims: "
                    "the 90-degree family transposes the display aspect)")
    ib.add_argument("--master", default=None)

    ex = sub.add_parser(
        "exifscrub",
        help="EXIF extract + metadata scrub (LAION privacy step): parse "
        "APP1/TIFF for orientation/capture-time/GPS, then splice every "
        "APPn>0/COM segment out of the JPEG container (byte splice only — "
        "decoded pixels bit-identical); prints one JSON summary line",
    )
    ex.add_argument("--images", default=None,
                    help="images.parquet with image_id/bytes/fmt columns")
    ex.add_argument("--workdir", default=None,
                    help="crawl workdir (scrub fetched image bytes)")
    ex.add_argument("--out", default=None,
                    help="write the scrubbed table (metadata columns + "
                    "scrubbed bytes) to this directory")
    ex.add_argument("--master", default=None)

    pg = sub.add_parser(
        "purge",
        help="evict one host's URLs from the seen set (forced re-crawl "
        "cohort): Iceberg-style overwrite snapshot of url_seen",
    )
    pg.add_argument("--workdir", required=True)
    pg.add_argument("--host", required=True, help="host whose URLs re-crawl")
    pg.add_argument("--master", default=None)

    w = sub.add_parser(
        "warehouse",
        help="dimensional (star-schema) export of fetch_results "
        "(warehouse_schema.py semantics: versioned fact_pages + dim_host)",
    )
    w.add_argument("--workdir", required=True)
    w.add_argument("--out", required=True, help="output directory for parquet tables")
    w.add_argument("--master", default=None)
    return p


def _final_crawl_images(spark, cat):
    """One row per fetched image URL from a crawl workdir: latest-generation
    final row wins (revalidation re-fetches leave several final rows). The
    winner set is a NARROW (url, generation) broadcast back onto the base so
    the bytes column never shuffles (bytes discipline). Shared by imagedup
    and imagefilter."""
    from pyspark.sql import functions as F

    fr = cat.read(spark, "fetch_results")
    if fr is None:
        return None
    base = fr.filter(
        F.col("bytes").isNotNull()
        & F.col("content_type").startswith("image/")
        & F.col("is_final")
    )
    winners = base.groupBy("url").agg(F.max("generation").alias("generation"))
    return base.join(F.broadcast(winners), ["url", "generation"]).select(
        F.col("url").alias("image_id"),
        "bytes",
        F.regexp_replace("content_type", "^image/", "").alias("fmt"),
        "caption",
    )


def _crawl_config(args):
    from scrapy_spark.plans.oracle import CrawlParams
    from scrapy_spark.sources.synth import SynthConfig

    cfg = SynthConfig(
        seed=args.seed, n_hosts=args.hosts, n_pages=args.pages, n_images=args.images
    )
    params = CrawlParams(
        max_generations=args.generations,
        per_host_budget=args.per_host_budget,
        gen_cap=args.gen_cap,
        rate_control=args.rate_control,
        revalidate=args.revalidate,
        pagination_guess=args.pagination_guess,
        adaptive_fetch=args.adaptive_fetch,
        domain=args.domain,
    )
    return cfg, params


def main(argv: list[str] | None = None) -> int:
    args = _build_parser().parse_args(argv)
    from scrapy_spark.plans.validate import health_check, print_report

    if args.cmd == "validate":
        # launch-time gate: no Spark session (orchestrator/main.py:302-309
        # runs the health check before any pipeline process starts)
        cfg, params = _crawl_config(args)
        report = health_check(cfg, params, args.workdir)
        print_report(report)
        return 0 if report.ok else 1

    from scrapy_spark.plans.crawl import CrawlJob
    from scrapy_spark.session import get_spark
    from scrapy_spark.sources.catalog import SnapshotCatalog

    if args.cmd == "crawl":
        # same gate before the session spins up: a bad combination should
        # fail at launch, not mid-run
        cfg, params = _crawl_config(args)
        report = health_check(cfg, params, args.workdir)
        if not report.ok:
            print_report(report)
            return 1

    if args.cmd == "rollback":
        # ops-recovery path: pure manifest/file surgery, instant by design —
        # never pay a JVM spin-up to truncate a JSON manifest
        cat = SnapshotCatalog(args.workdir)
        try:
            out = cat.rollback(args.to_gen)
        except ValueError as e:
            print(str(e), file=sys.stderr)
            return 2
        if args.vacuum:
            out["removed_files"] = len(cat.vacuum())
        print(json.dumps(out))
        return 0

    from pyspark.sql import SparkSession

    # In-process callers (pytest CLI-surface locks) share their session via
    # getOrCreate; stopping a borrowed session would poison every later
    # test in the suite. Only stop what we started.
    owns_session = (
        SparkSession.getActiveSession() is None
        and getattr(SparkSession, "_instantiatedSession", None) is None
    )
    spark = get_spark("scrapy_spark_cli", master=args.master)
    try:
        if args.cmd == "crawl":
            resolver_factory = None
            if args.http:
                from scrapy_spark.operators.fetch import http_resolver

                resolver_factory = lambda: http_resolver()  # noqa: E731
            job = CrawlJob(
                spark,
                cfg,
                params,
                args.workdir,
                salt_buckets=args.salt_buckets,
                resolver_factory=resolver_factory,
                seed_urls=args.seed_url,
                seed_file=args.seed_file,
            )
            stats = job.run(resume=args.resume)
            for s in stats:
                print(
                    json.dumps(
                        {
                            "generation": s.generation,
                            "scheduled": s.scheduled,
                            "seconds": round(s.seconds, 2),
                            "urls_per_sec": round(s.scheduled / s.seconds, 1)
                            if s.seconds > 0
                            else 0.0,
                        }
                    )
                )
            total = sum(s.scheduled for s in stats)
            secs = sum(s.seconds for s in stats)
            print(
                json.dumps(
                    {
                        "total_scheduled_fetched": total,
                        "seconds": round(secs, 2),
                        "urls_per_sec": round(total / secs, 1) if secs else 0.0,
                    }
                )
            )
        elif args.cmd == "vacuum":
            cat = SnapshotCatalog(args.workdir)
            removed = cat.vacuum()
            out = {"removed_files": len(removed)}
            if args.expire_snapshots is not None:
                out["expired_snapshots"] = cat.expire_snapshots(
                    keep_last=args.expire_snapshots
                )
            print(json.dumps(out))
        elif args.cmd == "seeds":
            from scrapy_spark.sources.seeds import merged_seed_urls, write_seed_csv

            cat = SnapshotCatalog(args.workdir)
            try:
                urls = merged_seed_urls(
                    spark,
                    cat,
                    merge_from=args.merge_from,
                    seed_file=args.seed_file,
                    min_validations=args.min_validations,
                    include_seen=args.include_seen,
                    domain=args.domain,
                )
            except ValueError as e:
                print(str(e), file=sys.stderr)
                return 2
            n = write_seed_csv(urls, args.out)
            print(json.dumps({"seeds": n, "out": args.out,
                              "merge_from": args.merge_from}))
        elif args.cmd == "diff":
            from pyspark.sql import functions as F

            cat = SnapshotCatalog(args.workdir)
            if not 0 <= args.gen_from <= args.gen_to <= cat.committed_generation():
                print(
                    f"generations out of range: need 0 <= from <= to <= "
                    f"{cat.committed_generation()} (committed)", file=sys.stderr,
                )
                return 2
            old = cat.read_upto(spark, "url_seen", args.gen_from)
            new = cat.read_upto(spark, "url_seen", args.gen_to)
            if new is None:
                print("no url_seen in " + args.workdir, file=sys.stderr)
                return 2
            # snapshot semantics: url_seen only grows between generations,
            # so the diff is one anti-join on the hash key
            added = (
                new.join(old.select("url_hash"), "url_hash", "left_anti")
                if old is not None
                else new
            )
            by_host = {
                r["host"]: r["n"]
                for r in added.groupBy("host")
                .agg(F.count("*").alias("n"))
                .collect()
            }
            sample = [
                r["url"]
                for r in added.orderBy("host", "url").limit(args.show).collect()
            ]
            print(
                json.dumps(
                    {
                        "from": args.gen_from,
                        "to": args.gen_to,
                        "new_urls": sum(by_host.values()),
                        "hosts_touched": len(by_host),
                        "by_host": dict(sorted(by_host.items())),
                        "sample": sample,
                    }
                )
            )
        elif args.cmd == "compact":
            if args.sort_by and not args.table:
                print(
                    "--sort-by is column-specific: pass --table too "
                    "(sorting every table by one column is ill-defined)",
                    file=sys.stderr,
                )
                return 2
            cat = SnapshotCatalog(args.workdir)
            tables = (
                [args.table]
                if args.table
                else sorted(cat._load()["tables"].keys())
            )
            for t in tables:
                summary = cat.compact(
                    spark,
                    t,
                    min_files_per_group=args.min_files,
                    collapse=args.collapse,
                    sort_by=args.sort_by,
                )
                print(json.dumps(summary))
            if args.vacuum:
                print(json.dumps({"removed_files": len(cat.vacuum())}))
        elif args.cmd == "export":
            from scrapy_spark.sources.exporters import export_csv, export_json

            cat = SnapshotCatalog(args.workdir)
            df = cat.read(spark, args.table)
            if df is None:
                print(f"no table {args.table} in {args.workdir}", file=sys.stderr)
                return 2
            if args.drop_bytes and "bytes" in df.columns:
                df = df.drop("bytes")
            if args.format == "csv":
                export_csv(df, args.out, compression=args.compression)
            elif args.format == "orc":
                # columnar interchange sink (Spark-native; no flattening
                # needed — ORC carries the nested schema)
                df.write.mode("overwrite").option(
                    "compression",
                    "zlib" if args.compression == "gzip" else args.compression,
                ).orc(args.out)
            else:
                export_json(df, args.out, compression=args.compression)
            n = spark.read.format(args.format).option("header", True).load(args.out).count()
            print(json.dumps({"table": args.table, "format": args.format, "rows": n}))
        elif args.cmd == "query":
            from scrapy_spark.entry_queries import QUERIES

            if args.list or args.name is None:
                for name in QUERIES:
                    print(name)
                return 0
            if args.name not in QUERIES:
                print(f"unknown query {args.name!r} (use --list)", file=sys.stderr)
                return 2
            df = QUERIES[args.name][0](spark, args.sf_dir)
            if args.explain:
                df.explain("formatted")
                return 0
            df.show(args.show, truncate=False)
            print(json.dumps({"query": args.name, "rows": df.count()}))
        elif args.cmd == "lineage":
            from scrapy_spark.operators.lineage_path import lineage_path

            cat = SnapshotCatalog(args.workdir)
            fr = cat.read(spark, "fetch_results")
            if fr is None:
                print("no fetch_results in " + args.workdir, file=sys.stderr)
                return 2
            path = lineage_path(fr, args.url)
            if not path:
                print(json.dumps({"url": args.url, "path": [], "found": False}))
                return 2
            print(
                json.dumps(
                    {
                        "url": args.url,
                        "found": True,
                        "hops": len(path),
                        "path": [
                            {
                                "url": p["url"],
                                "source_url": p["source_url"],
                                "source_type": p["source_type"],
                                "generation": p["generation"],
                                "depth": p["depth"],
                            }
                            for p in path
                        ],
                    }
                )
            )
        elif args.cmd == "ingest":
            from scrapy_spark.sources.vendor import ingest

            res = ingest(
                spark,
                args.infile,
                args.format,
                args.out,
                args.vendor,
                key_col=args.key_col,
                url_col=args.url_col,
            )
            print(json.dumps(res))
        elif args.cmd == "imagedup":
            from pyspark.sql import functions as F

            from scrapy_spark.operators.imageops import (
                extract_image_meta,
                phash_components,
                phash_neardup_pairs,
            )

            if (args.workdir is None) == (args.images is None):
                print("pass exactly one of --workdir / --images", file=sys.stderr)
                return 2
            if not 0 <= args.max_hamming < 4:
                print(
                    f"--max-hamming {args.max_hamming} out of range: banding "
                    "uses 4 bands, so complete recall needs 0 <= h < 4",
                    file=sys.stderr,
                )
                return 2
            from scrapy_spark.plans.materialize import materialize

            if args.images:
                meta = spark.read.parquet(args.images).select("image_id", "phash")
            else:
                cat = SnapshotCatalog(args.workdir)
                imgs = _final_crawl_images(spark, cat)
                if imgs is None:
                    print("no fetch_results in " + args.workdir, file=sys.stderr)
                    return 2
                meta = (
                    extract_image_meta(imgs)
                    .filter(F.col("decode_ok"))
                    .select("image_id", F.col("decoded_phash").alias("phash"))
                )
            # meta feeds bands + all_ids + count, pairs feeds count + show +
            # both component sides: cut both so bytes decode / the band
            # self-join run once (multiply-consumed mid-plan tables rule)
            meta = materialize(meta, name="imagedup-meta")
            pairs = materialize(
                phash_neardup_pairs(meta, max_hamming=args.max_hamming),
                name="imagedup-pairs",
            )
            comp = phash_components(
                pairs, all_ids=meta, iterations=args.iterations
            )
            n_pairs = pairs.count()
            clusters = (
                comp.groupBy("component_id").count().filter(F.col("count") > 1)
            )
            pairs.orderBy("image_a", "image_b").show(args.show, truncate=False)
            print(
                json.dumps(
                    {
                        "images": meta.count(),
                        "neardup_pairs": n_pairs,
                        "multi_image_clusters": clusters.count(),
                        "max_hamming": args.max_hamming,
                    }
                )
            )
        elif args.cmd == "imagefilter":
            from pyspark.sql import functions as F

            from scrapy_spark.operators.imageops import image_caption_filter

            if (args.workdir is None) == (args.images is None):
                print("pass exactly one of --workdir / --images", file=sys.stderr)
                return 2
            raw = None  # bytes-bearing table feeding the quality sidecar
            if args.images:
                inp = raw = spark.read.parquet(args.images)
            else:
                from scrapy_spark.operators.imageops import extract_image_meta

                imgs = _final_crawl_images(spark, SnapshotCatalog(args.workdir))
                if imgs is None:
                    print("no fetch_results in " + args.workdir, file=sys.stderr)
                    return 2
                raw = imgs
                meta = extract_image_meta(imgs).filter(F.col("decode_ok"))
                # bytes stay behind: the funnel consumes decoded metadata +
                # the caption via a narrow column-pruned re-join only
                inp = meta.join(
                    imgs.select("image_id", "fmt", "caption"), "image_id"
                ).select(
                    "image_id",
                    F.col("decoded_w").alias("w"),
                    F.col("decoded_h").alias("h"),
                    "fmt",
                    "caption",
                    F.col("decoded_phash").alias("phash"),
                )
            quality = None
            if args.min_jpeg_quality is not None:
                from scrapy_spark.operators.imageops import jpeg_quality_meta

                quality = jpeg_quality_meta(raw)
            dec = image_caption_filter(
                inp,
                min_side=args.min_side,
                max_aspect=args.max_aspect,
                min_caption_tokens=args.min_caption_tokens,
                max_caption_tokens=args.max_caption_tokens,
                max_caption_freq=args.max_caption_freq,
                drop_neardups=args.drop_neardups,
                neardup_max_hamming=args.neardup_max_hamming,
                min_jpeg_quality=args.min_jpeg_quality,
                quality=quality,
            )
            if args.out:
                dec.write.mode("overwrite").parquet(args.out)
                dec = spark.read.parquet(args.out)  # reuse, don't recompute
            reasons = ["too_small", "bad_aspect", "caption_short",
                       "caption_long", "dup_caption", "dup_phash",
                       "dup_neardup", "low_quality"]
            row = dec.agg(
                F.count("*").alias("images"),
                F.sum(F.col("keep").cast("long")).alias("kept"),
                *[F.sum(F.col(r).cast("long")).alias(r) for r in reasons],
            ).collect()[0]
            summary = {"images": row["images"], "kept": row["kept"] or 0,
                       "dropped": row["images"] - (row["kept"] or 0)}
            summary.update({r: int(row[r] or 0) for r in reasons})
            print(json.dumps(summary))
        elif args.cmd == "imagebuckets":
            from pyspark.sql import functions as F

            from scrapy_spark.operators.imageops import (
                aspect_bucket_assign,
                aspect_bucket_stats,
            )

            if (args.workdir is None) == (args.images is None):
                print("pass exactly one of --workdir / --images", file=sys.stderr)
                return 2
            if args.apply_orientation and not args.resize:
                # the orientation arm lives on the decode-driven resize
                # path; without --resize the stats would silently come from
                # unoriented stored/decoded dims, contradicting the flag
                print(
                    "--apply-orientation requires --resize (bucket stats "
                    "without a resize pass use unoriented dims)",
                    file=sys.stderr,
                )
                return 2
            full = None  # parquet input with trusted w/h columns
            imgs = None  # crawl rows (bytes, no dims)
            if args.images:
                full = spark.read.parquet(args.images)
            else:
                imgs = _final_crawl_images(spark, SnapshotCatalog(args.workdir))
                if imgs is None:
                    print("no fetch_results in " + args.workdir, file=sys.stderr)
                    return 2
            summary = {}
            back = None
            if args.resize:
                from scrapy_spark.operators.imageops import resize_to_bucket

                if full is not None:  # stored w/h drive the bucket argmin
                    resized = resize_to_bucket(
                        full, mode=args.resize_mode,
                        apply_orientation=args.apply_orientation,
                    )
                else:  # crawl rows: bucket from decoded dims, no meta join
                    resized = resize_to_bucket(
                        imgs, dims_from_decode=True, mode=args.resize_mode,
                        apply_orientation=args.apply_orientation,
                    )
                resized.write.mode("overwrite").parquet(args.resize)
                back = spark.read.parquet(args.resize)
                # one narrow single-pass aggregate: never touch the PNG
                # bytes column for a null test (bytes discipline); every
                # row has exactly one of resized / decode_error non-null
                counts = back.agg(
                    F.count(F.lit(1)).alias("total"),
                    F.count("decode_error").alias("failed"),
                ).collect()[0]
                summary["resized"] = counts["total"] - counts["failed"]
                summary["resize_failed"] = counts["failed"]
                summary["resize_out"] = args.resize
            if back is not None and args.apply_orientation:
                # oriented resize: stored dims can disagree with the
                # buckets actually WRITTEN (orientation 5-8 transposes
                # the display aspect) — report from the resize output so
                # the summary matches the dataset on disk
                assigned = back.filter(F.col("decode_error").isNull()).select(
                    "image_id",
                    F.col("src_w").alias("w"),
                    F.col("src_h").alias("h"),
                    "bucket_w",
                    "bucket_h",
                )
            elif full is not None:
                assigned = aspect_bucket_assign(
                    full.select("image_id", "w", "h")
                )
            elif back is not None:
                # the resize output already holds decoded dims + bucket —
                # reuse it so workdir --resize decodes bytes exactly ONCE
                assigned = back.filter(F.col("decode_error").isNull()).select(
                    "image_id",
                    F.col("src_w").alias("w"),
                    F.col("src_h").alias("h"),
                    "bucket_w",
                    "bucket_h",
                )
            else:
                from scrapy_spark.operators.imageops import extract_image_meta

                assigned = aspect_bucket_assign(
                    extract_image_meta(imgs)
                    .filter(F.col("decode_ok"))
                    .select(
                        "image_id",
                        F.col("decoded_w").alias("w"),
                        F.col("decoded_h").alias("h"),
                    )
                )
            if args.out:
                assigned.write.mode("overwrite").parquet(args.out)
                assigned = spark.read.parquet(args.out)
            stats = sorted(
                (r.asDict() for r in aspect_bucket_stats(assigned).collect()),
                key=lambda r: (-r["n_images"], r["bucket_w"]),
            )
            summary = {
                "images": sum(r["n_images"] for r in stats),
                "buckets": stats,
                **summary,
            }
            print(json.dumps(summary))
        elif args.cmd == "exifscrub":
            from pyspark.sql import functions as F

            from scrapy_spark.operators.imageops import exif_scrub_images

            if (args.workdir is None) == (args.images is None):
                print("pass exactly one of --workdir / --images", file=sys.stderr)
                return 2
            if args.images:
                imgs = spark.read.parquet(args.images)
            else:
                imgs = _final_crawl_images(spark, SnapshotCatalog(args.workdir))
                if imgs is None:
                    print("no fetch_results in " + args.workdir, file=sys.stderr)
                    return 2
            scrubbed = exif_scrub_images(imgs)
            if args.out:
                scrubbed.write.mode("overwrite").parquet(args.out)
                scrubbed = spark.read.parquet(args.out)  # reuse, don't redecode
            # one narrow aggregate over the metadata columns only — the
            # scrubbed bytes column is never read here (bytes discipline)
            row = scrubbed.agg(
                F.count(F.lit(1)).alias("images"),
                F.sum(F.col("had_metadata").cast("long")).alias("had_metadata"),
                F.sum(F.col("has_gps").cast("long")).alias("with_gps"),
                F.count("exif_orientation").alias("with_orientation"),
                F.sum("n_bytes_before").alias("bytes_before"),
                F.sum("n_bytes_after").alias("bytes_after"),
            ).collect()[0]
            print(json.dumps({
                "images": row["images"],
                "had_metadata": int(row["had_metadata"] or 0),
                "with_gps": int(row["with_gps"] or 0),
                "with_orientation": int(row["with_orientation"] or 0),
                "bytes_removed": int((row["bytes_before"] or 0)
                                     - (row["bytes_after"] or 0)),
            }))
        elif args.cmd == "purge":
            from scrapy_spark.plans.purge import purge_host

            n = purge_host(spark, SnapshotCatalog(args.workdir), args.host)
            print(json.dumps({"purged_host": args.host, "evicted": n}))
        elif args.cmd == "warehouse":
            from scrapy_spark.sources.warehouse import star_export

            cat = SnapshotCatalog(args.workdir)
            fr = cat.read(spark, "fetch_results")
            if fr is None:
                print("no fetch_results in " + args.workdir, file=sys.stderr)
                return 2
            counts = {}
            for name, df in star_export(fr).items():
                df.write.mode("overwrite").parquet(f"{args.out}/{name}")
                counts[name] = spark.read.parquet(f"{args.out}/{name}").count()
            print(json.dumps({"tables": counts}))
        elif args.cmd == "report":
            cat = SnapshotCatalog(args.workdir)
            if cat.committed_generation() < 0:
                print("no committed generations in " + args.workdir, file=sys.stderr)
                return 2
            m = cat.read(spark, "metrics")
            if m is not None:
                m.orderBy("generation").show(100, truncate=False)
            lin = cat.read(spark, "lineage")
            if lin is not None:
                lin.groupBy("generation").sum("scheduled", "fetched", "failed", "images").orderBy(
                    "generation"
                ).show(100, truncate=False)
            # pending-frontier size estimate: approx_count_distinct (HLL) —
            # the idiomatic 10^10-scale upgrade of an exact COUNT(DISTINCT)
            # over the next generation's raw candidates (SURVEY §2.5 note);
            # column-pruned scan, one cheap job, never on the crawl hot path
            cands = cat.read(spark, "candidates")
            if cands is not None:
                from pyspark.sql import functions as F

                # candidates holds EVERY committed generation's staged rows
                # (crawl.py filters generation==gen on read); the pending set
                # is only the next generation's — filter first or the estimate
                # overcounts by all already-processed generations
                cands = cands.filter(
                    F.col("generation") == cat.committed_generation() + 1
                )
                est = cands.agg(
                    F.max("generation").alias("next_generation"),
                    F.approx_count_distinct("raw_url").alias(
                        "est_distinct_pending_urls"
                    ),
                    F.count("*").alias("raw_candidate_rows"),
                ).collect()[0]
                print(
                    json.dumps(
                        {
                            "next_generation": est["next_generation"],
                            "est_distinct_pending_urls": est[
                                "est_distinct_pending_urls"
                            ],
                            "raw_candidate_rows": est["raw_candidate_rows"],
                        }
                    )
                )
            if args.prometheus:
                from scrapy_spark.sources.metrics_export import (
                    prometheus_exposition,
                )

                text = prometheus_exposition(spark, cat)
                if args.prometheus == "-":
                    sys.stdout.write(text)
                else:
                    with open(args.prometheus, "w") as fh:
                        fh.write(text)
                    print(json.dumps({"prometheus_file": args.prometheus}))
        return 0
    finally:
        # reclaim any staged-parquet mid-plan cuts before the app exits
        # (no-op unless a materializer staging dir is configured; CrawlJob
        # already clears its own, this covers query/report/export paths)
        from scrapy_spark.plans.materialize import clear_staging

        try:
            clear_staging(spark)
        except Exception:
            pass  # cleanup must not replace the command's own failure
        finally:
            if owns_session:
                spark.stop()


if __name__ == "__main__":
    sys.exit(main())
