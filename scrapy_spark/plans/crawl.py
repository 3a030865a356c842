"""The generation-loop crawl driver (SURVEY §3.1 rebuild lifecycle).

Replaces the reference's three-stage orchestrator
(``SP/src/orchestrator/main.py:317-370``, ``pipeline.py:155-415`` — asyncio
queues, checkpoints, resume-from-file-offset) with a driver-side loop issuing
DataFrame jobs; each iteration is:

  candidates(g) → canonicalize/filter/robots → within-gen dedup
                → anti-join url_seen → per-host rank-and-take
                → salted Arrow-UDF fetch → explode-extraction
                → ONE atomic snapshot commit of
                  {fetch_results, url_seen, lineage, metrics, candidates(g+1)}

Resume (the reference's BatchCheckpoint role): a killed run restarts from the
last committed generation and — because every stage is deterministic
(tie-breaks are total orders, the synthetic web is a pure function, no
wall-clock values in parity tables) — produces bit-identical final tables.
"""

from __future__ import annotations

import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import purge as purge_mod
from ..operators import adaptive as adaptive_ops
from ..operators import cuckoo as cuckoo_ops
from ..operators import dedup as dedup_ops
from ..operators import pagination as pagination_ops
from ..operators import validation as validation_ops
from ..operators.extract import extract_candidates
from ..operators.fetch import fetch_frontier
from ..operators.frontier import (
    anti_join_seen,
    apply_learned_filters,
    apply_robots,
    canonicalize_candidates,
    dedup_within_generation,
    seeds_to_candidates,
    select_frontier,
)
from ..sources import alerts as alerts_mod
from ..sources import synth
from ..sources.catalog import SnapshotCatalog
from ..sources.synth import SynthConfig
from . import oracle as oracle_mod
from .oracle import CrawlParams

RESULT_COLS = [
    "generation",
    "host",
    "rank_in_host",
    "url",
    "url_hash",
    "depth",
    "score",
    "source_type",
    "source_url",
    "status_code",
    "content_type",
    "is_valid",
    "attempt",
    "error_type",
    "age_days",
    "latency_ms",
    "is_final",
    "anchor",
    "title",
    "bytes",
    "caption",
    # stage-2→3 classification columns (functions/classify.py)
    "content_category",
    "content_quality",
    "is_enrichable",
    # structured page content kept alongside (the reference's response-cache
    # role, S8) — downstream reads are column-pruned, so these arrays cost
    # nothing unless extraction asks for them, and `bytes` never re-enters
    # memory after the fetch write (SURVEY §7.3.4)
    "body_links",
    "image_refs",
    "raw_snippets",
    "pdf_uris",
]


@dataclass
class GenStats:
    generation: int
    scheduled: int
    seconds: float


class ValidationGateError(RuntimeError):
    """Interstage gate abort (interstage_validation.py:46-49). Its
    stage_failed alert is written at the raise site (with generation and
    pass-rate detail); run()'s generic handler skips it to avoid a
    duplicate record."""


class CrawlJob:
    def __init__(
        self,
        spark: SparkSession,
        cfg: SynthConfig,
        params: CrawlParams,
        workdir: str,
        salt_buckets: int = 8,
        # False = exact anti-join only; True/"bloom" = Bloom-prefiltered
        # (operators/dedup.py); "cuckoo" = cuckoo-filter-prefiltered
        # (operators/cuckoo.py — deletable seen tier). Either prefilter is
        # decision-neutral: negatives are guaranteed-new, maybes confirm
        # exactly, so crawl output is bit-identical across all three.
        use_bloom: bool | str = False,
        politeness_delay_s: float = 0.0,
        fetch_latency_s: float = 0.0,
        fetch_partitions: int | None = None,
        resolver_factory=None,
        seed_urls: list[str] | None = None,
        seed_file: str | None = None,
    ):
        self.spark = spark
        self.cfg = cfg
        self.params = params
        self.catalog = SnapshotCatalog(workdir)
        self.salt_buckets = salt_buckets
        self.use_bloom = use_bloom
        self.politeness_delay_s = politeness_delay_s
        self.fetch_latency_s = fetch_latency_s
        self.fetch_partitions = fetch_partitions
        # pluggable fetch backend: () -> ((url, attempt) -> result dict);
        # None = deterministic synthetic web; operators/fetch.http_resolver
        # is the real-network plug-in (same Arrow batch loop)
        self.resolver_factory = resolver_factory
        # explicit seed list (real-site crawls: pair with http_resolver and
        # params.domain); None = the synthetic web's seed CSV
        self.seed_urls = seed_urls
        # seed CSV path (header 'url') — main.py seeds output round-trips
        # here; read distributed (a merged frontier can be large)
        self.seed_file = seed_file
        self._robots = None

    def robots_df(self) -> DataFrame:
        if self._robots is None:
            pdf = synth.robots_table(self.cfg)
            self._robots = self.spark.createDataFrame(pdf).cache()
        return self._robots

    def _gen0_candidates(self) -> DataFrame:
        if self.seed_file is not None:
            seeds = self.spark.read.csv(self.seed_file, header=True).select("url")
            return seeds_to_candidates(seeds, domain=self.params.domain)
        if self.seed_urls is not None:
            seeds = self.spark.createDataFrame(
                [(u,) for u in self.seed_urls], "url string"
            )
        else:
            seeds = self.spark.createDataFrame(synth.build_seeds(self.cfg))
        return seeds_to_candidates(seeds, domain=self.params.domain)

    def run(self, resume: bool = False) -> list[GenStats]:
        start = self.catalog.committed_generation() + 1 if resume else 0
        if not resume and self.catalog.committed_generation() >= 0:
            raise ValueError("workdir already has a crawl; pass resume=True")
        stats: list[GenStats] = []
        try:
            pa = self.params.purge_after
            if resume and pa is not None and start > pa[0]:
                # killed between the purge generation's commit and the purge
                # itself: the snapshot log tells us whether it applied (a
                # re-apply after re-fetches would wrongly evict them)
                if not any(
                    s["stats"].get("op") == "purge_host"
                    and s["stats"].get("host") == pa[1]
                    for s in self.catalog.snapshots()
                ):
                    purge_mod.purge_host(self.spark, self.catalog, pa[1])
            for gen in range(start, self.params.max_generations):
                st = self._run_generation(gen)
                stats.append(st)
                if pa is not None and gen == pa[0]:
                    # seen-set eviction (plans/purge.py): between this
                    # generation's commit and the next's anti-join — the
                    # same point the oracle twin applies it
                    purge_mod.purge_host(self.spark, self.catalog, pa[1])
                if st.scheduled == 0:
                    break
            # pipeline_complete (alerts.py:173-181): fires after the final
            # commit, so the file channel carries it
            if alerts_mod.meets_threshold("info", self.params.alert_threshold):
                alerts_mod.append_jsonl(
                    self.catalog.root,
                    "info",
                    "pipeline_complete",
                    f"{sum(s.scheduled for s in stats)} urls across "
                    f"{len(stats)} generations",
                    stage="pipeline",
                    generations=len(stats),
                    scheduled=sum(s.scheduled for s in stats),
                )
        except Exception as e:
            # stage_failed hook (alerts.py:163-171); the gate writes its own
            # richer record before raising — this catches everything else
            if not isinstance(
                e, ValidationGateError
            ) and alerts_mod.meets_threshold("error", self.params.alert_threshold):
                alerts_mod.append_jsonl(
                    self.catalog.root, "error", "stage_failed", str(e),
                    stage="crawl_generation",
                )
            raise
        finally:
            # staged mid-plan cuts (plans/materialize) are transient
            # per-generation; every generation's results are committed to
            # the catalog before the next starts, so at run end (or abort)
            # no live plan reads them — reclaim so a configured staging dir
            # doesn't grow for the life of the application
            from scrapy_spark.plans.materialize import clear_staging

            try:
                clear_staging(self.spark)
            except Exception:
                # cleanup must not replace the crawl's own failure (a dead
                # SparkContext makes conf/_jvm access raise here too)
                pass
        return stats

    def _revalidation_candidates(self, gen: int) -> DataFrame | None:
        """Stale pages due for a re-fetch (freshness.py:92-150,282-312).

        A page is due when its Last-Modified age exceeds
        freshness_max_age_days AND its last FINAL fetch happened at least
        revalidate_after_gens generations ago. Derived from the committed
        fetch history with a column-pruned scan (url, generation, age_days —
        bytes never touched) + one linear groupBy(url); at 10^10 URLs this
        is the same shuffle class as the seen anti-join and would read an
        incrementally-maintained freshness table bucketed by url_hash."""
        fr = self.catalog.read(self.spark, "fetch_results")
        if fr is None:
            return None
        params = self.params
        # finality is the fetch UDF's persisted decision (is_final column) —
        # under adaptive_fetch the retry cap varies per host per generation,
        # so recomputing it here from a fixed MAX_ATTEMPTS would drift
        return (
            fr.filter(F.col("is_final") & F.col("age_days").isNotNull())
            .groupBy("url")
            .agg(
                F.max("generation").alias("_lg"),
                F.max_by("age_days", "generation").alias("_age"),
            )
            .filter(
                (F.col("_age") > params.freshness_max_age_days)
                & (F.lit(gen) - F.col("_lg") >= params.revalidate_after_gens)
            )
            .select(
                F.col("url").alias("raw_url"),
                F.lit(None).cast("string").alias("source_url"),
                F.lit("revalidate").alias("source_type"),
                F.lit(None).cast("string").alias("anchor"),
                F.lit(0).alias("depth"),
                F.lit(1).alias("attempt"),
            )
        )

    def _rc_latest_state(self) -> DataFrame | None:
        """Latest committed per-host rate-control state (one row per host)."""
        hb = self.catalog.read(self.spark, "host_budget")
        if hb is None:
            return None
        return hb.groupBy("host").agg(
            F.max("generation").alias("p"),
            F.max_by("budget", "generation").alias("b"),
            F.max_by("consec", "generation").alias("consec"),
            F.max_by("state", "generation").alias("st"),
        )

    def _rc_budgets(self, gen: int) -> DataFrame | None:
        """Effective per-host budget for this generation: open circuits get a
        one-generation cooldown (0) then a half-open probe budget of 1; any
        probe success closes the circuit via the post-fetch update
        (retry_strategies.py:256-390 semantics, generation-batch recast)."""
        latest = self._rc_latest_state()
        if latest is None:
            return None
        return latest.select(
            "host",
            F.when(
                F.col("st") == "open",
                F.when(F.lit(gen) == F.col("p") + 1, F.lit(0)).otherwise(F.lit(1)),
            )
            .otherwise(F.col("b"))
            .alias("budget"),
        )

    def _rc_stage_update(self, staged_read: DataFrame, gen: int) -> list[str]:
        """One generation's outcomes -> next per-host state rows (AIMD +
        breaker). Consecutive failures count in rank_in_host order; because
        ranks are contiguous 1..n per host, the failing tail after the last
        success is simply n - max(successful rank) — pure column exprs, no
        per-row Python. Mirrors oracle.rc_update exactly."""
        params = self.params
        upd = staged_read.groupBy("host").agg(
            F.count("*").alias("n"),
            F.sum(F.when(F.col("is_valid"), 1).otherwise(0)).alias("nv"),
            F.coalesce(
                F.max(F.when(F.col("is_valid"), F.col("rank_in_host"))), F.lit(0)
            ).alias("msr"),
        )
        prev = self._rc_latest_state()
        if prev is None:
            joined = upd.withColumns(
                {
                    "b": F.lit(params.per_host_budget),
                    "consec_prev": F.lit(0),
                }
            )
        else:
            joined = upd.join(prev, "host", "left").select(
                upd["*"],
                F.coalesce(F.col("b"), F.lit(params.per_host_budget)).alias("b"),
                F.coalesce(F.col("consec"), F.lit(0)).alias("consec_prev"),
            )
        consec_new = F.when(F.col("nv") > 0, F.col("n") - F.col("msr")).otherwise(
            F.col("consec_prev") + F.col("n")
        )
        opened = consec_new >= params.breaker_limit
        rate = F.col("nv") / F.col("n")
        b_new = F.when(opened, F.lit(0)).otherwise(
            F.when(
                rate < params.aimd_threshold,
                F.greatest(F.lit(1), F.expr("b div 2")),
            ).otherwise(
                F.least(
                    F.lit(params.per_host_budget), F.col("b") + params.aimd_step
                )
            )
        )
        rows = joined.select(
            "host",
            F.lit(gen).alias("generation"),
            b_new.cast("int").alias("budget"),
            consec_new.cast("int").alias("consec"),
            F.when(opened, F.lit("open")).otherwise(F.lit("closed")).alias("state"),
        )
        return self.catalog.stage(rows, "host_budget", gen, coalesce=1)

    def _run_generation(self, gen: int) -> GenStats:
        """One frontier generation = ONE materializing Spark action (the
        cached fetch output), then narrow coalesced writes from cache and
        pandas-side staging of the tiny rollups. Job count per generation is
        constant, so per-generation overhead amortizes at scale."""
        import pandas as pd

        t0 = time.time()
        spark, params = self.spark, self.params

        if gen == 0:
            raw = self._gen0_candidates()
        else:
            all_cands = self.catalog.read(spark, "candidates")
            raw = (
                all_cands.filter(F.col("generation") == gen).drop("generation")
                if all_cands is not None
                else None
            )
            if params.pagination_guess:
                pstats = self.catalog.read(spark, "pagination_stats")
                if pstats is not None:
                    guesses = pagination_ops.pagination_guesses(
                        pstats,
                        gen,
                        params.pagination_ttl_gens,
                        params.pagination_lookahead,
                        params.pagination_max_pages,
                    )
                    raw = guesses if raw is None else raw.unionByName(guesses)
            if params.revalidate:
                reval = self._revalidation_candidates(gen)
                if reval is not None:
                    raw = reval if raw is None else raw.unionByName(reval)
            if raw is None:
                return GenStats(gen, 0, 0.0)

        cands = canonicalize_candidates(raw, params.domain)
        cands = apply_robots(cands, self.robots_df())
        if params.learned_filters:
            cands = apply_learned_filters(
                cands,
                self.catalog.read(spark, "section_stats"),  # deltas of gens < g
                self.catalog.read(spark, "pattern_stats"),
                params,
            )
        cands = dedup_within_generation(cands)

        seen = self.catalog.read(spark, "url_seen")
        if params.revalidate:
            # revalidation candidates are deliberate re-fetches of seen URLs:
            # they bypass the anti-join (and never re-enter the seen set)
            reval_c = cands.filter(F.col("source_type") == "revalidate")
            cands = cands.filter(F.col("source_type") != "revalidate")
        if self.use_bloom and seen is not None:
            if self.use_bloom == "cuckoo":
                new = cuckoo_ops.cuckoo_anti_join(spark, cands, seen, self.catalog)
            else:
                new = dedup_ops.bloom_anti_join(spark, cands, seen, self.catalog)
        else:
            new = anti_join_seen(cands, seen)
        if params.revalidate:
            new = new.unionByName(reval_c)

        budgets = self._rc_budgets(gen) if params.rate_control else None

        # adaptive per-domain request config (C4 feedback loop,
        # request_infrastructure.py:73-197): learned from the staged
        # adaptive_stats rollups of gens < g; None at gen 0 → base config.
        # Consumed twice in the one fetch-write action (the delay arm's
        # paced budgets here, the per-row timeout join in fetch_frontier) —
        # deliberately NOT lineage-cut: it is a host-keyed dim derived from
        # a footer-sized committed table, cheaper to re-derive than to
        # checkpoint every generation (the materialize rule targets the
        # expensive shingle/band/edge mid-plans).
        af_cfg = None
        if params.adaptive_fetch:
            af_cfg = adaptive_ops.adaptive_config(
                self.catalog.read(spark, "adaptive_stats"), oracle_mod.MAX_ATTEMPTS
            )
            # delay arm: throttle-escalated hosts fetch base/learned of
            # their budget this generation (selection-time pacing — the
            # batch recast of inter-request sleeping; the oracle twin
            # applies adaptive.py_paced_budget at the same point)
            budgets = adaptive_ops.paced_budgets(
                budgets, af_cfg, params.per_host_budget
            )

        selected = select_frontier(
            new, params.per_host_budget, params.gen_cap, budgets
        )

        # Fetch writes its results table directly — ONE materializing action
        # at full parallelism. Image bytes go to parquet exactly once and
        # never enter the block cache or a shuffle (SURVEY §7.3.4): every
        # downstream reader below is column-pruned parquet.
        fetched = fetch_frontier(
            selected,
            self.cfg,
            self.salt_buckets,
            self.politeness_delay_s,
            self.fetch_latency_s,
            self.fetch_partitions,
            self.resolver_factory,
            adaptive=params.adaptive_fetch,
            adaptive_config=af_cfg,
        )
        results = fetched.withColumn("generation", F.lit(gen)).withColumn(
            "caption",
            F.when(F.col("bytes").isNotNull(), F.col("anchor")).otherwise(
                F.lit(None).cast("string")
            ),
        )
        # stage-2→3 classification columns (content_category /
        # content_quality / is_enrichable) arrive FROM THE FETCH UDF
        # (operators/fetch.py, functions/classify.py_classify — the same
        # twin the sequential oracle runs). They were originally JVM
        # when-chains here; even flattened, three CaseWhen columns cost
        # seconds of driver-serial plan analysis PER GENERATION, which
        # measured as an N→4N scaling-efficiency loss. Row-side computation
        # inside the already-running Arrow batch is plan-free and
        # parity-exact by construction. The declarative when-chain form
        # remains the SQL-analytics surface (content_classification query).
        staged: dict[str, list[str]] = {}
        staged["fetch_results"] = self.catalog.stage(
            results.select(*RESULT_COLS), "fetch_results", gen
        )
        # fetch is 1→1: row count comes free from the parquet footers
        n_sel = self.catalog.staged_rows(staged["fetch_results"])

        if n_sel == 0:
            self.catalog.commit(gen, {}, stats={"generation": gen, "scheduled": 0})
            return GenStats(gen, 0, time.time() - t0)

        staged_read = self.catalog.read_files(spark, staged["fetch_results"])
        # ONE bytes-free scan per generation: every rollup below (seen set,
        # lineage+schema gate, learned-filter deltas, next-gen candidates,
        # control-loop deltas) previously re-read the staged parquet files —
        # and the gate's bytes-IS-NOT-NULL invariant decompressed every
        # image payload again inside the lineage job. The cached projection
        # reads the files once, reduces the payload column to the
        # _has_bytes flag the gate needs, and stays a few MB (bytes
        # discipline: payloads themselves never enter the block cache).
        slim = staged_read.select(
            *[c for c in RESULT_COLS if c != "bytes"],
            F.col("bytes").isNotNull().alias("_has_bytes"),
        ).cache()
        try:
            slim.count()  # materialize once before the concurrent consumers
            # transient error classes with attempts left re-enqueue instead of
            # entering the seen set (error taxonomy + per-type retry policy,
            # retry_strategies.py:17-101; validator.py:444-462). error_type was
            # produced by functions/errors.classify_error inside the fetch UDF.
            # NB: isin() is NULL (not false) for success rows whose error_type is
            # NULL — coalesce so ~transient keeps them (SQL three-valued logic)
            # Finality was decided INSIDE the fetch UDF (is_final column):
            # transient = retryable error class AND attempts remain under the
            # per-host cap — the base MAX_ATTEMPTS, or the adaptive config's
            # learned max_attempts (request_infrastructure.py:189-190). One
            # persisted decision keeps the seen-set filter, the retry
            # re-enqueue and revalidation finality consistent by construction.
            transient = ~F.col("is_final")

            seen_rows = slim.filter(
                ~transient & (F.col("source_type") != "revalidate")
            ).select(
                "url_hash",
                "url",
                "host",
                F.lit(gen).alias("generation"),
                F.pmod(F.col("url_hash"), F.lit(dedup_ops.N_SHARDS)).alias("shard"),
            )
            # per-partition lineage: (generation, host_shard=host, stage counts);
            # staged as a DataFrame write — NEVER collected. At the 10^10 design
            # point host cardinality is millions; a per-generation driver
            # materialization here would be on the hot path.
            lineage_df = (
                slim.groupBy("host")
                .agg(
                    F.count("*").alias("scheduled"),
                    F.sum(F.when(F.col("is_valid"), 1).otherwise(0)).alias("fetched"),
                    F.sum(F.when(~F.col("is_valid"), 1).otherwise(0)).alias("failed"),
                    F.sum(
                        F.when(F.col("content_type").startswith("image/"), 1).otherwise(0)
                    ).alias("images"),
                    # interstage schema gate, folded into this job (free); the
                    # bytes invariant reads the precomputed flag, not the column
                    F.sum(
                        F.when(
                            validation_ops.schema_valid_expr(F.col("_has_bytes")), 1
                        ).otherwise(0)
                    ).alias("schema_valid"),
                )
                .withColumn("generation", F.lit(gen))
            )
            retries = slim.filter(transient).select(
                F.col("url").alias("raw_url"),
                "source_url",
                "source_type",
                "anchor",
                "depth",
                (F.col("attempt") + 1).alias("attempt"),
            )
            nxt = (
                extract_candidates(slim, params.heuristic_mining)
                .unionByName(retries)
                .withColumn("generation", F.lit(gen + 1))
            )
            # The rollup writes are independent tiny jobs over the cached slim
            # table; submit them from a small thread pool so their scheduling
            # latencies overlap (guide §2.6) instead of serializing ~6 job
            # launches per generation. Each stage() writes its own uuid-named
            # temp dir, so concurrent staging is safe; failures surface at
            # .result() below and nothing commits without every table staged.
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=4) as pool:
                futs = {
                    "url_seen": pool.submit(
                        self.catalog.stage, seen_rows, "url_seen", gen, 4
                    ),
                    "lineage": pool.submit(
                        self.catalog.stage, lineage_df, "lineage", gen, 4
                    ),
                    "candidates": pool.submit(
                        self.catalog.stage, nxt, "candidates", gen, 16
                    ),
                }
                if params.learned_filters:
                    from ..operators.frontier import stat_deltas

                    sec_delta, pat_delta = stat_deltas(slim)
                    futs["section_stats"] = pool.submit(
                        self.catalog.stage, sec_delta, "section_stats", gen, 1
                    )
                    futs["pattern_stats"] = pool.submit(
                        self.catalog.stage, pat_delta, "pattern_stats", gen, 1
                    )
                if params.rate_control:
                    futs["host_budget"] = pool.submit(
                        self._rc_stage_update, slim, gen
                    )
                if params.adaptive_fetch:
                    # per-host rollup delta (last <= WINDOW success latencies /
                    # error types) — the learned-config derivation reads ONLY
                    # these deltas, never raw fetch history
                    futs["adaptive_stats"] = pool.submit(
                        self.catalog.stage,
                        adaptive_ops.stats_delta(slim).withColumn(
                            "generation", F.lit(gen)
                        ),
                        "adaptive_stats",
                        gen,
                        1,
                    )
                if params.pagination_guess:
                    futs["pagination_stats"] = pool.submit(
                        self.catalog.stage,
                        pagination_ops.pagination_stats_delta(slim).withColumn(
                            "generation", F.lit(gen)
                        ),
                        "pagination_stats",
                        gen,
                        1,
                    )
                for key, f in futs.items():
                    staged[key] = f.result()

            # interstage validation gate (interstage_validation.py:46-49;
            # pipeline.py:191,222): per-generation schema pass rate, enforced
            # BEFORE commit — the atomic snapshot means a failing generation
            # leaves no partial state (concurrently staged files above stay
            # uncommitted orphans, invisible to every manifest reader)
            # scalar from the staged lineage footers/column (pyarrow, no Spark job,
            # no driver-side row materialization)
            n_schema_valid = self.catalog.staged_column_sum(
                staged["lineage"], "schema_valid"
            )
            v_rate = n_schema_valid / n_sel
            staged["validation"] = self.catalog.stage_pandas(
                pd.DataFrame(
                    [
                        {
                            "generation": gen,
                            "n_rows": n_sel,
                            "n_schema_valid": n_schema_valid,
                            "rate": v_rate,
                            "passed": v_rate >= params.validation_threshold,
                        }
                    ]
                ),
                "validation",
                gen,
            )
            if params.validation_enforce and v_rate < params.validation_threshold:
                # stage_failed (alerts.py:163-171): the generation's transaction
                # is being abandoned, so the record goes to the file channel —
                # nothing staged here will ever commit
                msg = (
                    f"interstage validation gate failed at generation {gen}: "
                    f"{n_schema_valid}/{n_sel} rows schema-valid "
                    f"({v_rate:.4f} < {params.validation_threshold})"
                )
                if alerts_mod.meets_threshold("error", params.alert_threshold):
                    alerts_mod.append_jsonl(
                        self.catalog.root, "error", "stage_failed", msg,
                        stage="interstage_validation", generation=gen,
                    )
                raise ValidationGateError(msg)

            if self.use_bloom:
                newly_seen = slim.filter(
                    ~transient & (F.col("source_type") != "revalidate")
                )
                if self.use_bloom == "cuckoo":
                    staged["cuckoo"] = cuckoo_ops.stage_cuckoo_delta(
                        spark, self.catalog, newly_seen, gen
                    )
                else:
                    staged["bloom"] = dedup_ops.stage_bloom_delta(
                        spark, self.catalog, newly_seen, gen
                    )

            # alert records (alerts.py:37-181 AlertManager), committed ATOMICALLY
            # with the generation: generation_complete, schema-degradation
            # warnings, breaker openings. Deterministic columns only (no wall
            # clock) — generation is the logical time, so parity/bit-identity
            # hold with alerts on. Events that abort the txn use the JSONL file
            # channel instead (gate above, run() below).
            alert_rows = [alerts_mod.generation_complete_row(gen, n_sel)]
            if v_rate < 1.0:
                alert_rows.append(
                    alerts_mod.validation_degraded_row(
                        gen, v_rate, params.validation_threshold
                    )
                )
            if params.rate_control:
                # the staged host_budget delta is one row per active host — a
                # pyarrow footer-sized read, no extra Spark job per generation
                # (the DataFrame form alerts.breaker_alert_rows exists for
                # cluster runs where the delta shouldn't visit the driver)
                brows = self.catalog.staged_read(
                    staged["host_budget"], columns=["host", "consec", "state"]
                )
                alert_rows.extend(alerts_mod.py_breaker_alert_rows(brows, gen))
            apdf = pd.DataFrame(
                alert_rows,
                columns=["generation", "severity", "event", "stage", "host", "message"],
            ).astype(
                {
                    "generation": "int32",
                    "severity": "string",
                    "event": "string",
                    "stage": "string",
                    "host": "string",
                    "message": "string",
                }
            )
            staged["alerts"] = self.catalog.stage_pandas(apdf, "alerts", gen)

            elapsed = time.time() - t0
            metrics_pdf = pd.DataFrame(
                [
                    {
                        "generation": gen,
                        "stage": "crawl_generation",
                        "items_processed": n_sel,
                        "items_per_second": float(n_sel) / elapsed if elapsed > 0 else 0.0,
                        "elapsed_seconds": float(elapsed),
                    }
                ]
            )
            staged["metrics"] = self.catalog.stage_pandas(metrics_pdf, "metrics", gen)

            self.catalog.commit(
                gen, staged, stats={"generation": gen, "scheduled": n_sel}
            )
        finally:
            # every exit — gate failure, a failed pooled stage() future, a
            # bloom/cuckoo update or commit error — releases the cached
            # projection; nothing below the commit reads it
            slim.unpersist()

        # adaptive_stats retention (round-6 verdict #2): on a fixed,
        # generation-keyed cadence (deterministic under resume — a resumed
        # crawl re-triggers at the same generations), rewrite the history
        # to one merged row per host so the next adaptive_config read is
        # hosts × WINDOW values instead of hosts × generations. Exact by
        # the _recent prefix argument in adaptive.compact_stats; the oracle
        # twin needs no change.
        if (
            params.adaptive_fetch
            and params.adaptive_retention_every
            and gen > 0
            and gen % params.adaptive_retention_every == 0
        ):
            adaptive_ops.compact_stats(spark, self.catalog)
        return GenStats(gen, n_sel, elapsed)
