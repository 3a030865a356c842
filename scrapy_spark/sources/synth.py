"""Deterministic synthetic uconn.edu-style web (host graph + images + seeds).

Models the reference's test fixtures — a tiny synthetic web of canned
responses (``Scraping_project/tests/fixtures/sample_responses.json``: url,
status_code, content_type, title, links) and the seed CSV
(``Scraping_project/data/raw/uconn_urls.csv``) — scaled up with a Zipf host
distribution so hot subdomains exercise skew/salting (FIXTURES.md §3).

Determinism rule (FIXTURES.md): every value derives from
``xxh64(f"{seed}:{entity}")`` — no sequential RNG state — so the same seed
yields byte-identical tables regardless of generation order or parallelism,
and any slice of the universe can be regenerated independently (this is what
lets the synthetic "fetch" UDF run distributed without shipping the corpus).

Tables produced (written as parquet via pyarrow):
  host_graph(url, host, status_code, content_type, title, body_links,
             image_refs(image_id, alt), robots_disallow, last_modified)
  images(image_id, bytes, w, h, fmt, caption, phash)   [BASELINE.json shape]
  seeds(url)                                            [incl. malformed rows]
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from ..functions.hashing import xxh64
from ..functions.imagefn import encode_png, phash64, synth_pixels

SECTIONS = ["news", "academics", "research", "events", "private"]
WORDS = (
    "campus huskies research library science student union storrs hall "
    "engineering arts lecture spring autumn commencement lab data river"
).split()

N_IMG_HOSTS = 4  # few image hosts => deliberately hot (skew/salting fixture)


def _h(seed: int, *parts: object) -> int:
    return xxh64((":".join(str(p) for p in (seed, *parts))).encode("utf-8"))


@dataclass
class SynthConfig:
    seed: int = 42
    n_hosts: int = 40
    n_pages: int = 2000
    n_images: int = 600
    links_per_page: int = 8
    images_per_page: int = 2
    img_w: int = 48
    img_h: int = 32
    n_seeds: int = 10  # breadth of generation 0 (bench uses thousands)
    # host indexes that are hard-down (always 503): circuit-breaker fixture
    bad_hosts: tuple = ()
    # host indexes that rate-limit every first attempt (429, then 200):
    # adaptive delay-arm fixture — the host's error window goes throttle-
    # dominant, escalating its learned delay (adaptive.THROTTLE_ESCALATE)
    throttle_hosts: tuple = ()
    host_names: list[str] = field(default_factory=list)

    def __post_init__(self):
        if not self.host_names:
            base = [
                "www", "admissions", "uconntoday", "lib", "engineering", "clas",
                "business", "pharmacy", "nursing", "law", "med", "sports",
            ]
            names = list(base)
            i = 0
            while len(names) < self.n_hosts:
                names.append(f"dept{i:03d}")
                i += 1
            self.host_names = names[: self.n_hosts]


def host_of(cfg: SynthConfig, hidx: int) -> str:
    return f"{cfg.host_names[hidx]}.uconn.edu"


def zipf_page_counts(cfg: SynthConfig) -> list[int]:
    """Zipf-distributed pages per host (hot head), deterministic, sums to n_pages."""
    w = np.array([1.0 / (i + 1) for i in range(cfg.n_hosts)])
    w /= w.sum()
    counts = np.floor(w * cfg.n_pages).astype(int)
    counts[0] += cfg.n_pages - counts.sum()
    return [max(1, int(c)) for c in counts]


def page_url(cfg: SynthConfig, hidx: int, j: int) -> str:
    sec = SECTIONS[_h(cfg.seed, "sec", hidx, j) % len(SECTIONS)]
    return f"https://{host_of(cfg, hidx)}/{sec}/p{j}"


def image_id_at(cfg: SynthConfig, gidx: int) -> str:
    return f"img{gidx:06d}"


def image_url(cfg: SynthConfig, image_id: str) -> str:
    gidx = int(image_id[3:])
    return f"https://img{gidx % N_IMG_HOSTS}.uconn.edu/i/{image_id}.png"


def image_dims(cfg: SynthConfig, image_id: str) -> tuple[int, int]:
    w = cfg.img_w + (_h(cfg.seed, "imw", image_id) % 4) * 16
    h = cfg.img_h + (_h(cfg.seed, "imh", image_id) % 4) * 16
    return w, h


def image_fmt(cfg: SynthConfig, image_id: str) -> str:
    """Deterministic format mix: ~1/8 of images are LOSSY baseline JPEG
    (functions/jpegfn — makes the per-row PSNR>=40dB branch of the
    input_hint invariant real instead of vacuously exact), ~1/16 are GIF
    (functions/giffn; their SOURCE pixels are posterized to <= 64 colors so
    the palettized format stays pixel-exact — the real-web GIF case),
    ~1/16 are lossless WebP VP8L (functions/webpfn; lossless, so full-range
    pixels round-trip exactly like PNG), the rest lossless PNG."""
    k = _h(cfg.seed, "ifmt", image_id)
    if k % 8 == 0:
        return "jpeg"
    if k % 16 == 1:
        return "gif"
    if k % 16 == 9:
        return "webp"
    return "png"


def image_pixels(cfg: SynthConfig, image_id: str, w: int, h: int) -> np.ndarray:
    """Source pixels for an image, format-aware: GIF sources are posterized
    (4 levels/channel -> <= 64 distinct colors) so GIF encoding is exactly
    lossless; other formats use the full-range synthetic pixels."""
    px = synth_pixels(image_id, w, h)
    if image_fmt(cfg, image_id) == "gif":
        return ((px // 64) * 64 + 32).astype(np.uint8)
    return px


def image_exif_fields(cfg: SynthConfig, image_id: str) -> dict | None:
    """Deterministic EXIF payload fields for ~1/2 of the JPEG images (a
    further half of those carry GPS — the privacy-relevant case the scrub
    operator exists for). None for the EXIF-less half and non-JPEG formats
    (PNG/GIF/WebP don't carry EXIF here, like most of the real web)."""
    if image_fmt(cfg, image_id) != "jpeg":
        return None
    k = _h(cfg.seed, "exif", image_id)
    if k % 2 == 0:
        return None
    fields = {
        "make": f"CamCo{k % 5}",
        "model": f"X{(k >> 4) % 100}",
        "orientation": 1 + (k >> 8) % 8,
        "datetime": f"20{10 + (k >> 12) % 15:02d}:0{1 + (k >> 16) % 9}:"
        f"{1 + (k >> 20) % 28:02d} 12:00:00",
    }
    if k % 4 == 3:
        fields["gps_lat"] = 41.0 + ((k >> 24) % 1000) / 1000.0
        fields["gps_lon"] = -72.0 - ((k >> 34) % 1000) / 1000.0
    return fields


def encode_image(cfg: SynthConfig, image_id: str, px: np.ndarray) -> bytes:
    fmt = image_fmt(cfg, image_id)
    if fmt == "jpeg":
        from ..functions.exiffn import build_exif, insert_exif
        from ..functions.jpegfn import encode_jpeg

        data = encode_jpeg(px)
        exif = image_exif_fields(cfg, image_id)
        if exif is not None:
            data = insert_exif(data, build_exif(**exif))
        return data
    if fmt == "gif":
        from ..functions.giffn import encode_gif

        return encode_gif(px)
    if fmt == "webp":
        from ..functions.webpfn import encode_webp

        return encode_webp(px)
    return encode_png(px)


def image_caption(cfg: SynthConfig, image_id: str) -> str:
    k = _h(cfg.seed, "cap", image_id)
    ws = [WORDS[(k >> (8 * i)) % len(WORDS)] for i in range(4)]
    return f"{image_id}: " + " ".join(ws)


def page_age_days(cfg: SynthConfig, hidx: int, j: int) -> int:
    """Deterministic Last-Modified age (days) per page — the freshness
    signal: pages older than the staleness threshold get revalidated
    (freshness.py:92-150). ~half the corpus exceeds the default 30-day
    threshold (ages are uniform in [0, 60))."""
    return _h(cfg.seed, "age", hidx, j) % 60


def page_status(cfg: SynthConfig, hidx: int, j: int, attempt: int = 1) -> int:
    """Deterministic status incl. transient classes: ~3% of pages time out
    (599) and ~2% return a 503 on attempt 1, succeeding from attempt 2 —
    exercises the reference's per-error-type retry path
    (retry_strategies.py:17-101, validator.py:444-462).
    The 'events' section is systematically bad (~40% extra 404s) so the
    learned feedback pattern filter (F7) has something to learn.
    Hosts listed in cfg.bad_hosts return 503 on EVERY attempt — a hard-down
    origin that trips the per-domain circuit breaker. Hosts in
    cfg.throttle_hosts 429 every first attempt — a rate-limited origin that
    drives the adaptive delay escalation."""
    if hidx in cfg.bad_hosts:
        return 503
    if hidx in cfg.throttle_hosts:  # rate-limited origin: every page 429s
        return 200 if attempt >= 2 else 429  # on attempt 1, succeeds after
    sec = SECTIONS[_h(cfg.seed, "sec", hidx, j) % len(SECTIONS)]
    if sec == "events" and _h(cfg.seed, "ev404", hidx, j) % 5 < 2:
        return 404
    r = _h(cfg.seed, "status", hidx, j) % 100
    if r < 2:
        return 404
    if r < 5:
        return 301
    if r < 8:  # flaky: timeout on first attempt, fine afterwards
        return 200 if attempt >= 2 else 599
    if r < 10:  # flaky: transient server error on first attempt
        return 200 if attempt >= 2 else 503
    if r < 12:  # throttled on first attempt (429 -> "throttled" transient
        # class) — feeds the adaptive-config delay rule
        # (request_infrastructure.py:193-196) and the retry path
        return 200 if attempt >= 2 else 429
    return 200


def page_links(cfg: SynthConfig, counts: list[int], hidx: int, j: int) -> list[str]:
    """Raw (pre-canonicalization) outlinks — include messy duplicate forms,
    cross-host edges, off-domain and denied-extension links."""
    n_in_host = counts[hidx]
    out: list[str] = []
    for c in range(cfg.links_per_page):
        k = _h(cfg.seed, "lnk", hidx, j, c)
        kind = k % 10
        if kind < 6:  # same-host link, sometimes in messy form
            tj = (j * 7 + c * 13 + 1) % n_in_host
            u = page_url(cfg, hidx, tj)
            form = k % 3
            if form == 1:
                u = u.replace("https://", "https://") + "#frag"  # fragment noise
            elif form == 2:
                u = u.replace(".uconn.edu/", ".uconn.edu:443/")  # default port noise
            out.append(u)
        elif kind < 8:  # cross-host link
            th = (hidx + 1 + k % max(1, cfg.n_hosts - 1)) % cfg.n_hosts
            tj = k % counts[th]
            out.append(page_url(cfg, th, tj))
        elif kind == 8:  # off-domain (filtered by F3)
            out.append(f"https://example.com/ext/{k % 1000}")
        else:  # denied extension (filtered by F4 for recursion)
            out.append(f"https://{host_of(cfg, hidx)}/files/doc{k % 50}.pdf")
    # deliberate exact duplicate inside the page (within-batch dedup, D2)
    if out:
        out.append(out[0])
    return out


def hidden_count(cfg: SynthConfig, counts: list[int], hidx: int) -> int:
    return max(1, counts[hidx] // 5)


def hidden_url(cfg: SynthConfig, hidx: int, t: int) -> str:
    return f"https://{host_of(cfg, hidx)}/hidden/h{t}"


def page_snippets(cfg: SynthConfig, counts: list[int], hidx: int, j: int) -> list[dict]:
    """Deterministic raw snippets for heuristic URL mining (the synthetic
    stand-in for the reference's script/JSON/comment/CSS/meta-refresh
    discovery surfaces, discovery_spider.py:36-39,386-478,729-774).

    /hidden/ pages are reachable ONLY through mined snippets — they appear in
    no body_links and no sitemap — so crawl parity over them evidences the
    mining path end-to-end. k==5 plants a negative fixture: a script with a
    quoted URL but no dynamic hint, which must NOT be mined."""
    k = _h(cfg.seed, "snip", hidx, j) % 10
    if k > 7:
        return []
    host = host_of(cfg, hidx)
    t = _h(cfg.seed, "sniptgt", hidx, j) % hidden_count(cfg, counts, hidx)
    hu = hidden_url(cfg, hidx, t)
    tj = (j * 11 + 3) % counts[hidx]
    tp = page_url(cfg, hidx, tj)  # a normal page, absolute
    rel = tp.split(host, 1)[1]  # root-relative form of another normal page
    tj2 = (j * 5 + 1) % counts[hidx]
    rel2 = page_url(cfg, hidx, tj2).split(host, 1)[1]
    if k == 0:
        return [{
            "kind": "script",
            "text": f'var go = function() {{ fetch("{hu}"); loadMore("{rel}"); }};',
        }]
    if k == 1:
        return [{
            "kind": "json",
            "text": (
                f'{{"url": "{hu}", "items": [{{"href": "{tp}"}}],'
                f' "note": "see https://example.com/x{j}", "label": "L{j}"}}'
            ),
        }]
    if k == 2:
        return [{"kind": "comment", "text": f"<!-- staging link {tp} -->"}]
    if k == 3:
        return [{"kind": "meta_refresh", "text": f"0; url={tp}"}]
    if k == 4:
        gidx = _h(cfg.seed, "cssimg", hidx, j) % cfg.n_images
        return [{
            "kind": "css",
            "text": f"background-image: url('{image_url(cfg, image_id_at(cfg, gidx))}')",
        }]
    if k == 5:
        # negative fixture — URL present, no dynamic hint, not mined
        return [{"kind": "script", "text": f'var tmpl = "{rel2}"; // static template'}]
    if k == 6:
        # explicit form endpoint (discovery_spider.py:438-440)
        return [{"kind": "form_action", "text": rel}]
    # k == 7: data-* attribute — JSON payload on even pages, plain URL on odd
    if j % 2 == 0:
        return [{"kind": "data_attr", "text": f'{{"endpoint": "{hu}"}}'}]
    return [{"kind": "data_attr", "text": rel2}]


def page_image_refs(cfg: SynthConfig, hidx: int, j: int) -> list[dict]:
    refs = []
    for m in range(cfg.images_per_page):
        gidx = _h(cfg.seed, "imgref", hidx, j, m) % cfg.n_images
        iid = image_id_at(cfg, gidx)
        refs.append({"image_id": iid, "alt": image_caption(cfg, iid)})
    return refs


def host_robots(cfg: SynthConfig, hidx: int) -> list[str]:
    rules = ["/private/"]
    if _h(cfg.seed, "rob", hidx) % 3 == 0:
        rules.append("/events/")
    return rules


def build_host_graph(cfg: SynthConfig) -> pd.DataFrame:
    counts = zipf_page_counts(cfg)
    rows = []
    for hidx in range(cfg.n_hosts):
        host = host_of(cfg, hidx)
        robots = host_robots(cfg, hidx)
        for j in range(counts[hidx]):
            url = page_url(cfg, hidx, j)
            rows.append(
                {
                    "url": url,
                    "host": host,
                    "status_code": page_status(cfg, hidx, j),
                    "content_type": "text/html",
                    "title": f"{host} page {j}",
                    "body_links": page_links(cfg, counts, hidx, j),
                    "image_refs": page_image_refs(cfg, hidx, j),
                    "robots_disallow": robots,
                    "last_modified": "Mon, 01 Jan 2024 00:00:00 GMT",
                }
            )
    return pd.DataFrame(rows)


def build_images(cfg: SynthConfig) -> pd.DataFrame:
    rows = []
    for gidx in range(cfg.n_images):
        iid = image_id_at(cfg, gidx)
        w, h = image_dims(cfg, iid)
        px = image_pixels(cfg, iid, w, h)
        fmt = image_fmt(cfg, iid)
        data = encode_image(cfg, iid, px)
        rows.append(
            {
                "image_id": iid,
                "bytes": data,
                "w": np.int32(w),
                "h": np.int32(h),
                "fmt": fmt,
                "caption": image_caption(cfg, iid),
                "phash": np.int64(phash64(px)),
            }
        )
    return pd.DataFrame(rows)


def build_seeds(cfg: SynthConfig) -> pd.DataFrame:
    """Seed list incl. malformed rows exercising clean_seed_url (FIXTURES §2).

    ``n_seeds`` pages cycle across hosts (row-major) so a bench-scale seed
    list fans the first generation across the whole host universe."""
    counts = zipf_page_counts(cfg)
    urls = []
    i = 0
    while len(urls) < cfg.n_seeds and i < cfg.n_seeds * 4:
        hidx = i % cfg.n_hosts
        j = i // cfg.n_hosts
        i += 1
        if j < counts[hidx]:
            urls.append(page_url(cfg, hidx, j))
    mangled = [
        f'"{urls[0]}"',
        "https:" + urls[1],
        urls[2].replace("https://", ""),
        urls[3] + "\\",
        "C:\\Users\\crawler\\seeds.txt",
        "",
        urls[0],  # duplicate seed (dedup fixture)
    ]
    return pd.DataFrame({"url": urls + mangled})


# ---------------------------------------------------------------------------
# Pure-function URL resolver — the synthetic "HTTP server".
#
# Every page/image is a pure function of (cfg, url), so the distributed fetch
# UDF needs only the ~1 KB SynthConfig on executors (no corpus broadcast):
# "fetching" a URL is a deterministic computation. The oracle and the Spark
# fetch UDF share this resolver, so byte-level parity is by construction.
# ---------------------------------------------------------------------------

import re as _re

_PAGE_RE = _re.compile(r"^https://([a-z0-9.-]+)/([a-z]+)/p(\d+)$")
_IMG_RE = _re.compile(r"^https://img(\d)\.uconn\.edu/i/(img\d{6})\.png$")
_HIDDEN_RE = _re.compile(r"^https://([a-z0-9.-]+)/hidden/h(\d+)$")
_PDF_RE = _re.compile(r"^https://([a-z0-9.-]+)/files/doc(\d+)\.pdf$")
N_PDFS_PER_HOST = 50  # page_links emits doc{k % 50}.pdf


def parse_pdf_url(cfg: SynthConfig, url: str) -> tuple[int, int] | None:
    m = _PDF_RE.match(url)
    if not m:
        return None
    host, d_s = m.groups()
    name = host.split(".uconn.edu")[0] if host.endswith(".uconn.edu") else None
    if name is None or name not in cfg.host_names:
        return None
    d = int(d_s)
    if d >= N_PDFS_PER_HOST:
        return None
    return cfg.host_names.index(name), d


def pdf_document(cfg: SynthConfig, counts: list[int], hidx: int, d: int) -> bytes:
    """Deterministic PDF payload for /files/doc{d}.pdf: 1-3 pages of words,
    title/author metadata, 0-2 embedded link URIs to real same-host pages."""
    from ..functions.pdffn import encode_pdf

    k = _h(cfg.seed, "pdf", hidx, d)
    n_pages = 1 + k % 3
    pages = []
    for p in range(n_pages):
        kk = _h(cfg.seed, "pdfpg", hidx, d, p)
        pages.append(" ".join(WORDS[(kk >> (6 * i)) % len(WORDS)] for i in range(8)))
    # documents cite pages AND other documents (pdf→pdf chains guarantee the
    # pdf_embedded recursion path has fresh, not-yet-seen targets)
    n_links = k % 3
    links = []
    for i in range(n_links):
        if i == 0:
            links.append(
                f"https://{host_of(cfg, hidx)}/files/doc{(d * 7 + i + 1) % N_PDFS_PER_HOST}.pdf"
            )
        else:
            links.append(
                page_url(cfg, hidx, _h(cfg.seed, "pdflnk", hidx, d, i) % counts[hidx])
            )
    return encode_pdf(
        pages,
        title=f"{host_of(cfg, hidx)} doc {d}",
        author=WORDS[k % len(WORDS)],
        link_uris=links,
    )


def parse_hidden_url(cfg: SynthConfig, counts: list[int], url: str) -> tuple[int, int] | None:
    m = _HIDDEN_RE.match(url)
    if not m:
        return None
    host, t_s = m.groups()
    name = host.split(".uconn.edu")[0] if host.endswith(".uconn.edu") else None
    if name is None or name not in cfg.host_names:
        return None
    hidx = cfg.host_names.index(name)
    t = int(t_s)
    if t >= hidden_count(cfg, counts, hidx):
        return None
    return hidx, t


def parse_image_url(cfg: SynthConfig, url: str) -> str | None:
    m = _IMG_RE.match(url)
    if not m:
        return None
    iid = m.group(2)
    gidx = int(iid[3:])
    if gidx >= cfg.n_images or int(m.group(1)) != gidx % N_IMG_HOSTS:
        return None
    return iid


def parse_page_url(cfg: SynthConfig, counts: list[int], url: str) -> tuple[int, int] | None:
    m = _PAGE_RE.match(url)
    if not m:
        return None
    host, sec, j_s = m.groups()
    name = host.split(".uconn.edu")[0] if host.endswith(".uconn.edu") else None
    if name is None or name not in cfg.host_names:
        return None
    hidx = cfg.host_names.index(name)
    j = int(j_s)
    if j >= counts[hidx]:
        return None
    if SECTIONS[_h(cfg.seed, "sec", hidx, j) % len(SECTIONS)] != sec:
        return None
    return hidx, j


_SITEMAP_RE = _re.compile(r"^https://([a-z0-9.-]+)/sitemap\.xml$")


def sitemap_entries(cfg: SynthConfig, counts: list[int], hidx: int) -> list[str]:
    """Pages listed in a host's sitemap: every 3rd of the first 15 pages
    (mirrors the reference's robots->Sitemap-><loc> recursion,
    discovery_spider.py:994-1095)."""
    return [page_url(cfg, hidx, j) for j in range(0, min(15, counts[hidx]), 3)]


def url_latency_ms(cfg: SynthConfig, url: str) -> int:
    """Deterministic simulated response time: a per-host base (some origins
    are systematically slow — up to ~10.7s, past the 10s base timeout, so
    the adaptive-timeout loop has real dynamics) plus per-URL jitter.
    Attempt-independent: a page slower than the configured timeout keeps
    timing out until the learned per-domain timeout rises above its latency
    (request_infrastructure.py:186-190 escalation)."""
    host = url.split("/")[2] if "//" in url else url
    base = 200 + (_h(cfg.seed, "hlat", host) % 8) * 1500
    return base + _h(cfg.seed, "lat", url) % 4000


def resolve(
    cfg: SynthConfig,
    counts: list[int],
    url: str,
    attempt: int = 1,
    timeout_ms: int | None = None,
) -> dict:
    """Simulated HTTP GET. Returns a fetch-result dict (status_code,
    content_type, title, body_links, image_refs, raw_snippets, bytes, w, h,
    fmt, latency_ms).

    ``timeout_ms`` (the adaptive-fetch path, CrawlParams.adaptive_fetch):
    when the URL's deterministic latency exceeds it, the fetch times out —
    status 599, no payload observed, latency capped at the timeout (you
    stopped waiting). ``None`` = wait forever (the non-adaptive engine
    default; real clients always have SOME timeout, which is exactly what
    the adaptive config supplies)."""
    lat = url_latency_ms(cfg, url)
    if timeout_ms is not None and lat > timeout_ms:
        return {
            "status_code": 599,
            "content_type": None,
            "title": None,
            "body_links": [],
            "image_refs": [],
            "raw_snippets": [],
            "bytes": None,
            "w": None,
            "h": None,
            "fmt": None,
            "latency_ms": int(timeout_ms),
        }
    r = _resolve_inner(cfg, counts, url, attempt)
    r["latency_ms"] = lat
    return r


def _resolve_inner(cfg: SynthConfig, counts: list[int], url: str, attempt: int) -> dict:
    m = _SITEMAP_RE.match(url)
    if m:
        host = m.group(1)
        name = host.split(".uconn.edu")[0] if host.endswith(".uconn.edu") else None
        if name in cfg.host_names:
            hidx = cfg.host_names.index(name)
            return {
                "status_code": 200,
                "content_type": "application/xml",
                "title": None,
                "body_links": sitemap_entries(cfg, counts, hidx),
                "image_refs": [],
                "raw_snippets": [],
                "bytes": None,
                "w": None,
                "h": None,
                "fmt": None,
            }
    iid = parse_image_url(cfg, url)
    if iid is not None:
        w, h = image_dims(cfg, iid)
        px = image_pixels(cfg, iid, w, h)
        fmt = image_fmt(cfg, iid)
        data = encode_image(cfg, iid, px)
        return {
            "status_code": 200,
            "content_type": f"image/{fmt}",
            "title": None,
            "body_links": [],
            "image_refs": [],
            "raw_snippets": [],
            "bytes": data,
            "w": w,
            "h": h,
            "fmt": fmt,
        }
    pd_ = parse_pdf_url(cfg, url)
    if pd_ is not None:
        hidx, d = pd_
        data = pdf_document(cfg, counts, hidx, d)
        return {
            "age_days": _h(cfg.seed, "pdfage", hidx, d) % 60,
            "status_code": 200,
            "content_type": "application/pdf",
            "title": None,
            "body_links": [],
            "image_refs": [],
            "raw_snippets": [],
            "bytes": data,
            "w": None,
            "h": None,
            "fmt": "pdf",
        }
    hj = parse_hidden_url(cfg, counts, url)
    if hj is not None:
        hidx, t = hj
        # leaf pages reachable only via heuristic mining: always up, no
        # outbound surfaces of their own
        return {
            "age_days": _h(cfg.seed, "hage", hidx, t) % 60,
            "status_code": 200,
            "content_type": "text/html",
            "title": f"{host_of(cfg, hidx)} hidden {t}",
            "body_links": [],
            "image_refs": [],
            "raw_snippets": [],
            "bytes": None,
            "w": None,
            "h": None,
            "fmt": None,
        }
    pj = parse_page_url(cfg, counts, url)
    if pj is not None:
        hidx, j = pj
        status = page_status(cfg, hidx, j, attempt)
        return {
            "age_days": page_age_days(cfg, hidx, j),
            "status_code": status,
            "content_type": "text/html",
            "title": f"{host_of(cfg, hidx)} page {j}",
            # 200 pages expose links/images; 301/404 yield nothing to extract
            "body_links": page_links(cfg, counts, hidx, j) if status == 200 else [],
            "image_refs": page_image_refs(cfg, hidx, j) if status == 200 else [],
            "raw_snippets": page_snippets(cfg, counts, hidx, j) if status == 200 else [],
            "bytes": None,
            "w": None,
            "h": None,
            "fmt": None,
        }
    return {
        "status_code": 404,
        "content_type": None,
        "title": None,
        "body_links": [],
        "image_refs": [],
        "raw_snippets": [],
        "bytes": None,
        "w": None,
        "h": None,
        "fmt": None,
    }


def robots_for_host(cfg: SynthConfig, host: str) -> list[str]:
    """robots.txt disallow prefixes per host (pages hosts only; image hosts open)."""
    name = host.split(".uconn.edu")[0] if host.endswith(".uconn.edu") else None
    if name in cfg.host_names:
        return host_robots(cfg, cfg.host_names.index(name))
    return []


def robots_table(cfg: SynthConfig) -> pd.DataFrame:
    rows = [
        {"host": host_of(cfg, hidx), "disallow": host_robots(cfg, hidx)}
        for hidx in range(cfg.n_hosts)
    ]
    return pd.DataFrame(rows)


IMAGE_REF_TYPE = pa.list_(
    pa.struct([pa.field("image_id", pa.string()), pa.field("alt", pa.string())])
)

HOST_GRAPH_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("host", pa.string()),
        ("status_code", pa.int32()),
        ("content_type", pa.string()),
        ("title", pa.string()),
        ("body_links", pa.list_(pa.string())),
        ("image_refs", IMAGE_REF_TYPE),
        ("robots_disallow", pa.list_(pa.string())),
        ("last_modified", pa.string()),
    ]
)

IMAGES_SCHEMA = pa.schema(
    [
        ("image_id", pa.string()),
        ("bytes", pa.binary()),
        ("w", pa.int32()),
        ("h", pa.int32()),
        ("fmt", pa.string()),
        ("caption", pa.string()),
        ("phash", pa.int64()),
    ]
)


def generate(cfg: SynthConfig, out_dir: str) -> dict[str, str]:
    """Write host_graph/images/seeds parquet under ``out_dir``; return paths."""
    os.makedirs(out_dir, exist_ok=True)
    paths = {}
    hg = build_host_graph(cfg)
    t = pa.Table.from_pandas(hg, schema=HOST_GRAPH_SCHEMA, preserve_index=False)
    paths["host_graph"] = os.path.join(out_dir, "host_graph.parquet")
    pq.write_table(t, paths["host_graph"])

    im = build_images(cfg)
    t = pa.Table.from_pandas(im, schema=IMAGES_SCHEMA, preserve_index=False)
    paths["images"] = os.path.join(out_dir, "images.parquet")
    pq.write_table(t, paths["images"])

    sd = build_seeds(cfg)
    paths["seeds"] = os.path.join(out_dir, "seeds.parquet")
    pq.write_table(pa.Table.from_pandas(sd, preserve_index=False), paths["seeds"])
    return paths
