"""Sequential reference oracle — obviously-correct single-process crawler.

This is the parity target for the Spark engine (SURVEY §5): a faithful,
sequential reimplementation of the reference crawler's *decision semantics*
under the rebuild's generation-batch model:

- canonicalize (reference urls.py:28-79) -> xxhash64 key
- domain / scheme / extension / robots filters
  (discovery_spider.py:554-557,720-726,274-285; ROBOTSTXT_OBEY settings.py:39)
- first-writer-wins dedup across generations
  (url_deduplication.py:91-129 add_if_new) with a deterministic within-batch
  tie-break so the outcome is order-independent (SURVEY §7.3.2)
- per-host rank-and-take frontier selection under a politeness budget
  (priority_queue.py:78-148 + per-domain caps discovery_spider.py:349-357)
- fetch via the deterministic synthetic web (sources/synth.resolve)
- extraction of html links + image refs with importance scoring
  (discovery_spider.py:253-528,629-701)

The Spark crawl (plans/crawl.py) must reproduce: the URL-seen set, the
scheduled set with per-(generation, host) ordering, captions, and image bytes
(PSNR >= 40 dB; exact for PNG).
"""

from __future__ import annotations

import re as _re_mod
from dataclasses import dataclass, field

from ..functions import classify as classify_fns
from ..functions import mining
from ..functions.errors import classify_error, is_retryable
from ..functions.hashing import spark_xxhash64_str
from ..functions.scoring import py_score
from ..functions.urls import (
    canonicalize,
    clean_seed_url,
    is_allowed_domain,
    is_denied_extension,
    url_host,
    url_path,
)
from ..sources import synth
from ..sources.synth import SynthConfig

VALID_CONTENT_TYPES = (
    "text/html",
    "application/xml",  # sitemaps (fetched by the spider in the reference)
    "application/pdf",  # fetched + processed by PDFHandler (content_handlers.py:20)
    "image/png",
    "image/jpeg",
    "image/gif",
    "image/webp",
)
MAX_ATTEMPTS = 3  # reference retry policy: 3 attempts (validator.py:444-462)


@dataclass
class CrawlParams:
    max_generations: int = 4
    per_host_budget: int = 20
    gen_cap: int | None = 10_000  # backpressure analog (reference queue cap 10k)
    domain: str = "uconn.edu"
    # learned per-generation filters, recomputed from prior generations'
    # fetch results (SURVEY §7.3.5: mutation-based in the reference, recast
    # as order-independent aggregates):
    learned_filters: bool = True
    # adaptive depth (J5, adaptive_depth.py:65-103,189-211): sections with a
    # proven valid-rate earn extra depth; unknown/bad sections stay at base
    adaptive_base_depth: int = 3
    adaptive_bonus_depth: int = 3
    adaptive_min_samples: int = 5
    adaptive_rate: float = 0.8
    # feedback pattern filter (F7, feedback.py:143-197): URL patterns
    # (digits -> {num}) with enough samples and a poor valid-rate are banned
    feedback_min_samples: int = 10
    feedback_rate: float = 0.6
    # freshness-driven revalidation (freshness.py:92-150, should_revalidate
    # :282-312): pages whose Last-Modified age exceeds freshness_max_age_days
    # are re-fetched every revalidate_after_gens generations after their
    # last final fetch (bypassing the seen anti-join; they do not re-enter
    # the seen set)
    revalidate: bool = False
    freshness_max_age_days: int = 30
    revalidate_after_gens: int = 2
    # seen-set eviction (plans/purge.py): after generation g commits, evict
    # host H's URLs from url_seen so they re-fetch on re-discovery; (g, H) —
    # the oracle twin applies the same eviction at its generation-g loop tail
    purge_after: tuple[int, str] | None = None
    # per-host AIMD rate control + circuit breaker
    # (retry_strategies.py:256-390 DomainCircuitBreaker;
    #  async_enrichment.py:76-176 AIMD): the next generation's per-host
    # budget is derived from this generation's outcomes — success rate below
    # aimd_threshold halves the budget, at-or-above adds aimd_step (capped at
    # per_host_budget); >= breaker_limit consecutive failures OPEN the
    # circuit (budget 0 for one generation's cooldown, then a half-open
    # probe budget of 1 until a success closes it again)
    rate_control: bool = False
    breaker_limit: int = 5
    aimd_threshold: float = 0.95
    aimd_step: int = 2
    # pagination guessing bounded by a TTL'd pagination cache
    # (storage.py:213-343 PaginationCache + discovery_spider.py:1097-1154
    # range expansion): guess page last_valid+1..last_valid+lookahead per
    # (host, section) pattern, lookahead tightened to 2 when the pattern's
    # TTL-windowed success rate < 0.3; fully-expired patterns re-probe
    # 1..max_pages
    pagination_guess: bool = False
    pagination_ttl_gens: int = 3
    pagination_lookahead: int = 10
    pagination_max_pages: int = 10
    # interstage schema-validation gate (interstage_validation.py:46-49;
    # enforced at pipeline.py:191,222): a generation whose fetch output
    # falls below the schema pass rate aborts before commit
    validation_threshold: float = 0.95
    validation_enforce: bool = True
    # heuristic URL mining over raw page snippets (script/JSON/comment/CSS/
    # meta-refresh families, discovery_spider.py:36-39,386-478,729-774);
    # mined source types carry the reference's confidences as score bases
    # (functions/scoring.SOURCE_PRIORITY)
    heuristic_mining: bool = True
    # adaptive per-domain request config (request_infrastructure.py:73-197):
    # every fetch runs under the domain's learned timeout (base 10s until
    # learned); timeout-dominated domains escalate timeout and shed a retry,
    # throttle-dominated domains raise their pacing delay. Constants and the
    # python/Spark twin derivations live in operators/adaptive.py
    adaptive_fetch: bool = False
    # retention cadence for the adaptive_stats history table
    # (operators/adaptive.compact_stats): every N committed generations the
    # per-(host, generation) delta rows are rewritten to ONE merged row per
    # host, bounding the per-generation config read at hosts × WINDOW values
    # instead of hosts × generations (0 disables). Semantically EXACT — the
    # merge rule is the derivation's own newest-first truncate-to-WINDOW
    # prefix — so this oracle needs no counterpart; parity across a
    # mid-crawl compaction is pinned in tests/test_adaptive_retention.py
    adaptive_retention_every: int = 8
    # alert severity gate for the JSONL file channel (alerts.py:130-135
    # _should_alert): events below this severity are recorded in the
    # committed `alerts` catalog table but not appended to alerts.jsonl
    alert_threshold: str = "info"


@dataclass
class OracleResult:
    scheduled: list[dict] = field(default_factory=list)  # one row per fetched URL
    seen: dict[str, int] = field(default_factory=dict)  # canonical -> generation
    gen_counts: list[dict] = field(default_factory=list)  # lineage-ish per gen
    # (gen, host, budget, paced) rows where the adaptive delay arm actually
    # withheld frontier rows — liveness evidence for the parity test
    delay_cuts: list[tuple] = field(default_factory=list)


def _candidate(raw_url, source_url, source_type, anchor, depth, domain, attempt=1):
    cu = canonicalize(raw_url)
    if cu is None:
        return None
    host = url_host(cu)
    if not is_allowed_domain(host, domain):
        return None
    path = url_path(cu)
    # html links to .pdf documents become fetchable pdf_link candidates
    # (twin of frontier.canonicalize_candidates' reclassification)
    if source_type == "html_link" and path.lower().endswith(".pdf"):
        source_type = "pdf_link"
    if source_type in ("seed", "html_link", "sitemap") and is_denied_extension(cu):
        return None
    return {
        "url": cu,
        "url_hash": spark_xxhash64_str(cu),
        "host": host,
        "path": path,
        "depth": depth,
        "source_type": source_type,
        "anchor": anchor,
        "source_url": source_url,
        "score": py_score(source_type, path, anchor),
        "attempt": attempt,
    }


def run_oracle(
    cfg: SynthConfig, params: CrawlParams, seed_urls: list[str] | None = None
) -> OracleResult:
    """``seed_urls`` replaces the synthetic seed CSV (the twin of
    CrawlJob's seed_urls/seed_file plumbing — the main.py seeds round-trip
    test crawls a merged seed list on both engines)."""
    from ..operators import adaptive as adaptive_mod

    counts = synth.zipf_page_counts(cfg)
    res = OracleResult()
    robots: dict[str, list[str]] = {}

    # adaptive-config history: host -> [(gen, succ_lats, err_types), ...]
    # (the adaptive_stats table's sequential twin)
    af_hist: dict[str, list[tuple[int, list[int], list[str]]]] = {}

    # per-host rate-control state: host -> (budget, consec_failures, state,
    # generation of last update); see CrawlParams.rate_control
    rc_state: dict[str, tuple[int, int, str, int]] = {}

    # freshness state: url -> (last final fetch generation, age_days)
    last_fetch: dict[str, tuple[int, int]] = {}

    # pagination-cache state: (host, section) -> list of per-generation
    # deltas (gen, n_attempts, n_valid, last_valid_page)
    pag_hist: dict[tuple[str, str], list[tuple[int, int, int, int]]] = {}
    _page_re = _re_mod.compile(r"^/([a-z0-9_-]+)/p([0-9]+)$")

    def pagination_guesses(gen: int) -> list[dict]:
        out = []
        for (host, sec), entries in pag_hist.items():
            live = [e for e in entries if e[0] > gen - params.pagination_ttl_gens]
            if live:
                lv = max(e[3] for e in live)
                n = sum(e[1] for e in live)
                nv = sum(e[2] for e in live)
                rate = nv / n
                look = 2 if rate < 0.3 else params.pagination_lookahead
                lo, hi = lv + 1, lv + look
            else:  # fully expired -> re-probe from scratch
                lo, hi = 1, params.pagination_max_pages
            for pn in range(lo, hi + 1):
                c = _candidate(
                    f"https://{host}/{sec}/p{pn}",
                    None,
                    "pagination_guess",
                    None,
                    1,
                    params.domain,
                )
                if c is not None:
                    out.append(c)
        return out

    def pagination_update(gen: int, rows: list[dict]) -> None:
        agg: dict[tuple[str, str], list[int]] = {}
        for r in rows:
            from ..functions.urls import url_path as _up2

            m = _page_re.match(_up2(r["url"]))
            if not m:
                continue
            key = (r["host"], m.group(1))
            pn = int(m.group(2))
            a = agg.setdefault(key, [0, 0, 0])
            a[0] += 1
            a[1] += 1 if r["is_valid"] else 0
            if r["is_valid"]:
                a[2] = max(a[2], pn)
        for key, (n, nv, lv) in agg.items():
            pag_hist.setdefault(key, []).append((gen, n, nv, lv))

    def budget_for(host: str, gen: int) -> int:
        if not params.rate_control or host not in rc_state:
            return params.per_host_budget
        b, _consec, st, p = rc_state[host]
        if st == "open":
            return 0 if gen == p + 1 else 1  # cooldown, then half-open probe
        return b

    def rc_update(gen: int, rows: list[dict]) -> None:
        """Outcomes of one generation -> next state. Consecutive failures are
        counted in rank_in_host order (the scheduled order); a generation
        with any success resets the streak to its failing tail."""
        by_host: dict[str, list[dict]] = {}
        for r in rows:
            by_host.setdefault(r["host"], []).append(r)
        for host, hr in by_host.items():
            hr.sort(key=lambda r: r["rank_in_host"])
            n = len(hr)
            nv = sum(1 for r in hr if r["is_valid"])
            msr = max((r["rank_in_host"] for r in hr if r["is_valid"]), default=0)
            b_prev, consec_prev, _st, _p = rc_state.get(
                host, (params.per_host_budget, 0, "closed", -1)
            )
            consec = (n - msr) if nv > 0 else consec_prev + n
            if consec >= params.breaker_limit:
                rc_state[host] = (0, consec, "open", gen)
            else:
                rate = nv / n
                if rate < params.aimd_threshold:
                    b = max(1, b_prev // 2)
                else:
                    b = min(params.per_host_budget, b_prev + params.aimd_step)
                rc_state[host] = (b, consec, "closed", gen)

    def blocked(host: str, path: str) -> bool:
        if host not in robots:
            robots[host] = synth.robots_for_host(cfg, host)
        return any(path.startswith(p) for p in robots[host])

    # generation 0 candidates: cleaned seeds (discovery_spider.py:199-245,927-992)
    # plus one sitemap.xml per distinct seed host (robots Sitemap recursion,
    # discovery_spider.py:994-1095)
    seed_iter = (
        seed_urls if seed_urls is not None else synth.build_seeds(cfg)["url"]
    )
    cands = []
    seed_hosts = []
    for raw in seed_iter:
        cleaned = clean_seed_url(raw)
        if cleaned is None:
            continue
        c = _candidate(cleaned, None, "seed", None, 0, params.domain)
        if c is not None:
            cands.append(c)
            if c["host"] not in seed_hosts:
                seed_hosts.append(c["host"])
    for h in seed_hosts:
        c = _candidate(
            f"https://{h}/sitemap.xml", None, "sitemap_fetch", None, 0, params.domain
        )
        if c is not None:
            cands.append(c)

    def _section(path: str) -> str:
        segs = [s for s in path.split("/") if s]
        return segs[0] if segs else ""

    def _pattern(path: str) -> str:
        return _re_mod.sub("[0-9]+", "{num}", path)

    for gen in range(params.max_generations):
        if params.pagination_guess and gen > 0:
            cands.extend(pagination_guesses(gen))
        if params.revalidate and gen > 0:
            # stale pages due for revalidation re-enter as candidates
            # (bypass the seen anti-join; see CrawlParams.revalidate)
            for url, (lg, age) in last_fetch.items():
                if (
                    age > params.freshness_max_age_days
                    and gen - lg >= params.revalidate_after_gens
                ):
                    c = _candidate(url, None, "revalidate", None, 0, params.domain)
                    if c is not None:
                        cands.append(c)

        # robots filter (J7) before scheduling
        cands = [c for c in cands if not blocked(c["host"], c["path"])]

        if params.learned_filters:
            # learned filters from ALL prior generations' fetch outcomes
            sec_stats: dict[tuple[str, str], list[int]] = {}
            pat_stats: dict[str, list[int]] = {}
            for r in res.scheduled:
                from ..functions.urls import url_path as _up

                p = _up(r["url"])
                sk = (r["host"], _section(p))
                s = sec_stats.setdefault(sk, [0, 0])
                s[0] += 1
                s[1] += 1 if r["is_valid"] else 0
                pt = pat_stats.setdefault(_pattern(p), [0, 0])
                pt[0] += 1
                pt[1] += 1 if r["is_valid"] else 0

            def max_depth(host: str, path: str) -> int:
                s = sec_stats.get((host, _section(path)))
                if (
                    s
                    and s[0] >= params.adaptive_min_samples
                    and s[1] / s[0] >= params.adaptive_rate
                ):
                    return params.adaptive_base_depth + params.adaptive_bonus_depth
                return params.adaptive_base_depth

            def pattern_banned(path: str) -> bool:
                s = pat_stats.get(_pattern(path))
                return bool(
                    s
                    and s[0] >= params.feedback_min_samples
                    and s[1] / s[0] < params.feedback_rate
                )

            cands = [
                c
                for c in cands
                if c["depth"] <= max_depth(c["host"], c["path"])
                and not pattern_banned(c["path"])
            ]

        # within-generation first-writer-wins with deterministic tie-break
        # (SURVEY §7.3.2): winner = min(depth, -score, source_url,
        # source_type, -attempt) — higher attempt wins ties so a pending
        # retry beats a same-URL rediscovery
        def _key(c):
            return (
                c["depth"],
                -c["score"],
                c["source_url"] or "",
                c["source_type"],
                -c["attempt"],
            )

        best: dict[str, dict] = {}
        for c in cands:
            k = c["url"]
            cur = best.get(k)
            if cur is None or _key(c) < _key(cur):
                best[k] = c
        deduped = [
            c
            for c in best.values()
            if c["source_type"] == "revalidate" or c["url"] not in res.seen
        ]

        # adaptive per-domain config for this generation (learned from gens
        # < g) — needed BEFORE selection: the delay arm paces a throttle-
        # escalated host by cutting its per-generation budget
        # (adaptive.py_paced_budget, the batch recast of inter-request
        # sleeping; request_infrastructure.py:193-196)
        af_cfg = (
            adaptive_mod.py_config(af_hist, MAX_ATTEMPTS)
            if params.adaptive_fetch
            else None
        )

        # per-host rank-and-take (W1) under politeness budget
        by_host: dict[str, list[dict]] = {}
        for c in deduped:
            by_host.setdefault(c["host"], []).append(c)
        selected = []
        for host, group in by_host.items():
            group.sort(key=lambda c: (c["depth"], -c["score"], c["url"]))
            b = budget_for(host, gen)
            if af_cfg is not None and host in af_cfg:
                paced = adaptive_mod.py_paced_budget(b, af_cfg[host][2])
                if paced < b and len(group) > paced:
                    res.delay_cuts.append((gen, host, b, paced))
                b = paced
            for rank, c in enumerate(group[:b], start=1):
                c = dict(c)
                c["rank_in_host"] = rank
                selected.append(c)
        if (
            params.gen_cap is not None and len(selected) > params.gen_cap
        ):  # backpressure cap (pipeline.py:36); None = unbounded
            selected.sort(key=lambda c: (c["depth"], -c["score"], c["url"]))
            selected = selected[: params.gen_cap]
            # re-rank within host after the cap
            by_host2: dict[str, int] = {}
            selected.sort(key=lambda c: (c["host"], c["depth"], -c["score"], c["url"]))
            for c in selected:
                by_host2[c["host"]] = by_host2.get(c["host"], 0) + 1
                c["rank_in_host"] = by_host2[c["host"]]

        if not selected:
            res.gen_counts.append(
                {"generation": gen, "candidates": len(cands), "deduped": len(deduped), "scheduled": 0}
            )
            break

        # fetch + record; seen-insert only on final outcomes — transient
        # timeouts (599) with attempts remaining are re-enqueued instead
        # (retry re-enqueue, SURVEY §4 retry row; validator.py:444-462)
        next_cands = []
        gen_rows: list[dict] = []
        for c in selected:
            if af_cfg is not None:
                tmo, max_att, _delay = af_cfg.get(
                    c["host"], adaptive_mod.base_config(MAX_ATTEMPTS)
                )
                r = synth.resolve(cfg, counts, c["url"], c["attempt"], tmo)
            else:
                max_att = MAX_ATTEMPTS
                r = synth.resolve(cfg, counts, c["url"], c["attempt"])
            sc = r["status_code"]
            ct = r["content_type"]
            is_valid = 200 <= sc < 400 and (ct or "") in VALID_CONTENT_TYPES
            err = classify_error(sc)
            transient = is_retryable(err) and c["attempt"] < max_att
            row = {
                "generation": gen,
                "host": c["host"],
                "rank_in_host": c["rank_in_host"],
                "url": c["url"],
                "url_hash": c["url_hash"],
                "depth": c["depth"],
                "score": c["score"],
                "source_type": c["source_type"],
                "source_url": c["source_url"],
                "status_code": sc,
                "content_type": ct,
                "is_valid": is_valid,
                "attempt": c["attempt"],
                "error_type": err,
                "age_days": r.get("age_days"),
                "latency_ms": r.get("latency_ms"),
                "is_final": not transient,
                "title": r["title"],
                "bytes": r["bytes"],
                "caption": c["anchor"] if r["bytes"] is not None else None,
            }
            # content classification (stage-2→3 admission, functions/classify
            # twin): content_length is the bytes size for binary payloads and
            # a deterministic body-size proxy for structured pages
            clen = (
                len(r["bytes"])
                if r["bytes"] is not None
                else 500
                + 120 * len(r.get("body_links") or [])
                + 80 * len(r.get("image_refs") or [])
            )
            cat, qual, enrichable = classify_fns.py_classify(sc, ct or "", clen)
            row["content_category"] = cat
            row["content_quality"] = qual
            row["is_enrichable"] = enrichable
            res.scheduled.append(row)
            gen_rows.append(row)
            if transient:
                retry = dict(c)
                retry["attempt"] = c["attempt"] + 1
                retry.pop("rank_in_host", None)
                next_cands.append(retry)
            else:
                if c["source_type"] != "revalidate":  # already seen
                    res.seen[c["url"]] = gen
                if row["age_days"] is not None:
                    last_fetch[c["url"]] = (gen, row["age_days"])
            # extraction (valid 200 html pages recurse; xml sitemaps expand),
            # admitted by the classification gate (stage-2→3; the reference
            # skips enrichment for non-enrichable rows)
            if not enrichable:
                pass
            elif sc == 200 and ct == "text/html":
                for link in r["body_links"]:
                    nc = _candidate(link, c["url"], "html_link", None, c["depth"] + 1, params.domain)
                    if nc is not None:
                        next_cands.append(nc)
                for ref in r["image_refs"]:
                    # twin of extract.py: real-HTML refs carry the absolute
                    # URL already; synthetic ids reconstruct the image host
                    iu = (
                        ref["image_id"]
                        if ref["image_id"].startswith("http")
                        else synth.image_url(cfg, ref["image_id"])
                    )
                    nc = _candidate(iu, c["url"], "img_tag", ref["alt"], c["depth"] + 1, params.domain)
                    if nc is not None:
                        next_cands.append(nc)
                if params.heuristic_mining:
                    # heuristic snippet mining — twin of operators/extract.
                    # mined_candidates (functions/mining.py regexes)
                    for sn in r.get("raw_snippets") or []:
                        stype = mining.KIND_SOURCE_TYPE.get(sn["kind"])
                        if stype is None:
                            continue
                        for mu in mining.py_mine_snippet(sn["kind"], sn["text"]):
                            nc = _candidate(
                                mining.py_resolve_mined(mu, c["url"]),
                                c["url"],
                                stype,
                                None,
                                c["depth"] + 1,
                                params.domain,
                            )
                            if nc is not None:
                                next_cands.append(nc)
            elif sc == 200 and ct == "application/xml":
                for link in r["body_links"]:
                    nc = _candidate(link, c["url"], "sitemap", None, c["depth"] + 1, params.domain)
                    if nc is not None:
                        next_cands.append(nc)
            elif sc == 200 and ct == "application/pdf" and r["bytes"]:
                # embedded /URI annotations recurse as candidates — twin of
                # the fetch UDF's pdf_uris extraction (fetch.fetch_frontier;
                # content_handlers.py semantics)
                from ..functions import pdffn

                if pdffn.is_pdf(r["bytes"]):
                    for link in pdffn.pdf_link_uris(r["bytes"]):
                        nc = _candidate(
                            link, c["url"], "pdf_embedded", None,
                            c["depth"] + 1, params.domain,
                        )
                        if nc is not None:
                            next_cands.append(nc)
        if params.rate_control:
            rc_update(gen, gen_rows)
        if params.adaptive_fetch:
            for host, (sl, et) in adaptive_mod.py_stats_delta(gen_rows).items():
                af_hist.setdefault(host, []).append((gen, sl, et))
        if params.pagination_guess:
            pagination_update(gen, gen_rows)
        res.gen_counts.append(
            {
                "generation": gen,
                "candidates": len(cands),
                "deduped": len(deduped),
                "scheduled": len(selected),
            }
        )
        # seen-set eviction twin (plans/purge.py): after generation g's
        # bookkeeping, drop the host cohort from the seen set ONLY — fetch
        # history / freshness state are untouched on both sides, so evicted
        # URLs re-fetch when next re-discovered and re-enter seen at the
        # new generation
        if params.purge_after is not None and gen == params.purge_after[0]:
            ph = params.purge_after[1]
            for u in [u for u in res.seen if url_host(u) == ph]:
                del res.seen[u]
        cands = next_cands
    return res
