"""URL canonicalization — bit-for-bit the reference's normalize_url semantics.

Reimplements (from scratch, stdlib-only) the canonicalization pipeline of the
reference crawler, ``Scraping_project/src/common/urls.py:7-110``:

  1. dot-segment resolution preserving leading/trailing slash (_sanitize_path,
     urls.py:7-25)
  2. w3lib-style canonicalize: sort query params, percent-encode consistently,
     strip fragments (urls.py:47)
  3. scheme lowercased (urls.py:39); default ports 80/443 stripped with
     userinfo preserved (urls.py:50-63)
  4. trailing slash removed when the original had an empty path (urls.py:76-77)

plus the seed-cleaning recovery cases of
``Scraping_project/src/stage1/discovery_spider.py:927-992`` (_clean_seed_url)
and the domain scoping of urls.py:89-110 / domain_filter.py:14-83.

These run on executors inside Arrow-vectorized pandas UDFs (one Python call
per ~10k-row Arrow batch, applied with Series.map — never a row-at-a-time
Spark UDF) and, identically, inside the sequential oracle, so Spark/oracle
dedup decisions agree by construction. The key is Spark-side
``F.xxhash64(canonical_url)``; the canonical URL is kept alongside the hash so
collisions are detectable (SURVEY §1.3).
"""

from __future__ import annotations

import posixpath
import re
from urllib.parse import parse_qsl, quote, unquote, urlencode, urlsplit, urlunsplit

# percent-encoding safe sets (RFC 3986 pchar minus the delimiters we encode)
_PATH_SAFE = "/:@!$&'()*+,;=~-._"
_QUERY_SAFE = ":@!$'()*,;~-._"

DEFAULT_PORTS = {"http": 80, "https": 443}

# media/binary extensions the discovery stage refuses to *recurse into*
# (LinkExtractor deny_extensions, discovery_spider.py:274-285). For the image
# graft, image URLs are candidates, not denied — this list gates recursion.
DENY_EXTENSIONS = (
    "css js pdf doc docx xls xlsx ppt pptx zip rar gz tar 7z exe dmg iso "
    "mp3 wav ogg mp4 avi mov wmv flv mkv woff woff2 ttf eot ico"
).split()

_DENY_RE = re.compile(r"\.(" + "|".join(DENY_EXTENSIONS) + r")$", re.IGNORECASE)

IMAGE_EXTENSIONS = ("jpg", "jpeg", "png", "gif", "webp")
_IMAGE_RE = re.compile(r"\.(" + "|".join(IMAGE_EXTENSIONS) + r")$", re.IGNORECASE)


def sanitize_path(path: str) -> str:
    """Resolve ``.``/``..`` segments, preserving leading/trailing slash.

    Mirrors _sanitize_path (reference urls.py:7-25).
    """
    if not path:
        return path
    had_lead = path.startswith("/")
    had_trail = path.endswith("/") and len(path) > 1
    norm = posixpath.normpath(path)
    if norm == ".":
        norm = "/" if had_lead else ""
    if had_lead and not norm.startswith("/"):
        norm = "/" + norm
    if had_trail and not norm.endswith("/"):
        norm += "/"
    return norm


def _canonical_query(query: str) -> str:
    """Sort query params by (key, value); consistent percent-encoding."""
    if not query:
        return ""
    pairs = parse_qsl(query, keep_blank_values=True)
    pairs.sort()
    return urlencode(pairs, safe=_QUERY_SAFE, quote_via=quote)


def _canonical_path(path: str) -> str:
    """Normalize percent-encoding of the path (decode-then-encode, uppercase hex)."""
    return quote(unquote(path), safe=_PATH_SAFE)


def canonicalize(url: str | None) -> str | None:
    """Canonical form of ``url`` or None if unparseable / not http(s).

    The dedup identity function: two URLs are the same page iff their
    canonical forms are equal (reference urls.py:28-79).
    """
    if url is None:
        return None
    url = url.strip()
    if not url:
        return None
    try:
        parts = urlsplit(url)
    except ValueError:
        return None
    scheme = parts.scheme.lower()
    if scheme not in ("http", "https"):
        return None
    if not parts.hostname:
        return None

    host = parts.hostname.lower()
    port = None
    try:
        port = parts.port
    except ValueError:
        return None
    netloc = host
    if port is not None and port != DEFAULT_PORTS[scheme]:
        netloc = f"{host}:{port}"
    # userinfo preserved (urls.py:50-63)
    if parts.username:
        userinfo = parts.username
        if parts.password:
            userinfo += f":{parts.password}"
        netloc = f"{userinfo}@{netloc}"

    original_path = parts.path
    path = _canonical_path(sanitize_path(original_path))
    query = _canonical_query(parts.query)

    # trailing slash removed when the original had an empty path (urls.py:76-77)
    if original_path == "":
        path = ""
    elif path == "":
        path = "/"

    return urlunsplit((scheme, netloc, path, query, ""))  # fragment stripped


_SCHEME_DUP_RE = re.compile(r"^(https?):/*(https?)://", re.IGNORECASE)


def clean_seed_url(raw: str | None) -> str | None:
    """Repair malformed seed rows; None if unrecoverable.

    Mirrors _clean_seed_url (reference discovery_spider.py:927-992):
    strip surrounding quotes/backslashes/whitespace, recover duplicated
    scheme (``https:https://x``), default to https when scheme missing,
    reject Windows-path pollution.
    """
    if raw is None:
        return None
    s = raw.strip().strip("\"'").rstrip("\\").strip()
    if not s:
        return None
    if "\\" in s or re.match(r"^[A-Za-z]:[\\/]", s):
        return None  # windows-path pollution
    m = _SCHEME_DUP_RE.match(s)
    if m:
        s = m.group(2).lower() + "://" + s[m.end():]
    if not re.match(r"^[A-Za-z][A-Za-z0-9+.-]*://", s):
        if s.startswith("//"):
            s = "https:" + s
        else:
            s = "https://" + s
    return s


def url_host(url: str | None) -> str | None:
    if not url:
        return None
    try:
        h = urlsplit(url).hostname
    except ValueError:
        return None
    return h.lower() if h else None


def url_path(url: str | None) -> str:
    if not url:
        return ""
    try:
        return urlsplit(url).path or "/"
    except ValueError:
        return ""


def is_allowed_domain(host: str | None, domain: str = "uconn.edu") -> bool:
    """Suffix-scoped domain filter (reference urls.py:89-110)."""
    if not host:
        return False
    return host == domain or host.endswith("." + domain)


def is_denied_extension(url: str) -> bool:
    return bool(_DENY_RE.search(url_path(url)))


def is_image_url(url: str) -> bool:
    return bool(_IMAGE_RE.search(url_path(url)))


def parse_robots_txt(text: str, user_agent: str = "*") -> list[str]:
    """Parse robots.txt Disallow prefixes for a user-agent (plus '*' rules)
    and surface Sitemap URLs.

    Mirrors the reference's robots handling (Scrapy ROBOTSTXT_OBEY,
    settings.py:39, and the Sitemap-line recursion discovery_spider.py:
    994-1095). Returns the disallow prefix list; sitemaps are available via
    parse_robots_sitemaps. Rules with empty Disallow values are ignored
    (they mean allow-all).
    """
    disallow: list[str] = []
    applies = False
    for raw_line in text.splitlines():
        line = raw_line.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        key, _, val = line.partition(":")
        key = key.strip().lower()
        val = val.strip()
        if key == "user-agent":
            applies = val == "*" or val.lower() == user_agent.lower()
        elif key == "disallow" and applies and val:
            disallow.append(val)
    return disallow


def parse_robots_sitemaps(text: str) -> list[str]:
    """Sitemap: lines from robots.txt (apply to all user-agents)."""
    out = []
    for raw_line in text.splitlines():
        line = raw_line.split("#", 1)[0].strip()
        if line.lower().startswith("sitemap:"):
            u = line.partition(":")[2].strip()
            if u:
                out.append(u)
    return out

