"""Heuristic URL mining from raw page snippets (discovery_spider.py:36-39,
386-433 script/comment/CSS regex extraction; :729-774 recursive JSON mining
with key hints {url, href, link, endpoint, action, download}; :444-476
dynamic-script hints + json script blocks + meta refresh).

The reference walks the DOM with XPath and recurses into parsed JSON; the
rebuild's fetch stage returns typed ``raw_snippets`` rows
(kind ∈ {script, json, comment, css, meta_refresh}) and mining is pure JVM
regex over them (``regexp_extract_all`` — whole-stage-codegen'd, no UDF):

- script  -> quoted URL literals, ONLY when the script text carries one of
             the reference's dynamic hints (fetch(, axios, loadmore, ...)
             -> source_type ``ajax_endpoint`` (confidence 0.6)
- json    -> string values of keys matching the reference's key hints (url,
             href, link, endpoint, action, download — or any key containing
             "url"); a flat key:"value" regex over the JSON TEXT visits the
             same pairs as the reference's recursive dict/list walk, at any
             nesting depth -> ``json_blob`` (0.7). (Divergence: the
             reference also mines non-hint keys when the value looks like an
             API/allowed-domain URL; the recast mines hint keys only.)
- comment -> bare absolute/protocol-relative URLs -> ``html_comment`` (0.2)
- css     -> url(...) declarations -> ``css_inline_style`` (0.3)
- meta_refresh -> the url= target of a refresh directive -> ``meta_refresh``
             (0.9)
- form_action -> the action attribute IS the target (explicit endpoint)
             -> ``ajax_endpoint`` (0.9, discovery_spider.py:438-440)
- data_attr -> data-url/data-src/... attribute values: JSON payloads
             (starting { or [) go through the key-hint mining, plain values
             are the target verbatim -> ``ajax_endpoint``
             (discovery_spider.py:364-382)

Confidences land in functions/scoring.SOURCE_PRIORITY as the score base, the
same way seed/sitemap/html_link priorities do.

Relative targets resolve against the source page (root-relative -> origin,
protocol-relative -> https:) — JVM-side string ops; the Python twin
(py_mine_snippet / py_resolve_mined) applies the identical regexes and op
order so the sequential oracle reproduces the Spark decisions exactly.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

# reference DYNAMIC_SCRIPT_HINTS (discovery_spider.py:36-39), regex-escaped,
# matched against the lowercased script text
DYNAMIC_HINTS = (
    "fetch(", "xmlhttprequest", "axios", "$.get", "$.post", ".ajax",
    "loadmore", "nexturl", "next_url", "load_more", "apiurl", "api_url",
    "dispatch(",
)
HINT_RE = "|".join(re.escape(h) for h in DYNAMIC_HINTS)

# quoted URL literal: absolute, protocol-relative, or root-relative path.
# Kept to the Java/Python/RE2 common subset (no lookaround/backrefs) so the
# Spark plan, the sequential oracle and the DuckDB query oracle all agree.
URL_IN_QUOTES = (
    "[\"']((?:https?:)?//[a-zA-Z0-9.-]+(?:/[a-zA-Z0-9._/?=&%-]*)?"
    "|/[a-zA-Z0-9._/?=&%-]+)[\"']"
)
# bare absolute / protocol-relative URL (html comments don't quote)
BARE_URL = "((?:https?:)?//[a-zA-Z0-9.-]+(?:/[a-zA-Z0-9._/?=&%-]*)?)"
# "keyhint": "value" pairs anywhere in the JSON text (group 2 = value)
JSON_KEYHINT = (
    '(?i)"([a-z_]*(?:url|href|link|endpoint|action|download)[a-z_]*)"'
    '\\s*:\\s*"([^"]+)"'
)
CSS_URL = "url\\(['\"]?([^'\")]+)['\"]?\\)"
META_REFRESH = "(?i)url\\s*=\\s*['\"]?([^'\";]+)"

# kind -> source_type — confidences live in scoring.py
KIND_SOURCE_TYPE = {
    "script": "ajax_endpoint",
    "json": "json_blob",
    "comment": "html_comment",
    "css": "css_inline_style",
    "meta_refresh": "meta_refresh",
    "form_action": "ajax_endpoint",
    "data_attr": "ajax_endpoint",
}


def mined_urls_col(kind: Column, text: Column) -> Column:
    """array<string> of raw mined URLs for one snippet row — pure JVM."""
    empty = F.array().cast("array<string>")
    meta = F.regexp_extract(text, META_REFRESH, 1)
    return (
        F.when(
            kind == "script",
            F.when(
                F.lower(text).rlike(HINT_RE),
                F.regexp_extract_all(text, F.lit(URL_IN_QUOTES), F.lit(1)),
            ).otherwise(empty),
        )
        .when(kind == "json", F.regexp_extract_all(text, F.lit(JSON_KEYHINT), F.lit(2)))
        .when(kind == "comment", F.regexp_extract_all(text, F.lit(BARE_URL), F.lit(1)))
        .when(kind == "css", F.regexp_extract_all(text, F.lit(CSS_URL), F.lit(1)))
        .when(
            kind == "meta_refresh",
            F.when(meta != "", F.array(meta)).otherwise(empty),
        )
        .when(
            kind == "form_action",
            F.when(F.trim(text) != "", F.array(F.trim(text))).otherwise(empty),
        )
        .when(
            kind == "data_attr",
            F.when(
                F.trim(text).rlike("^[\\[{]"),
                F.regexp_extract_all(text, F.lit(JSON_KEYHINT), F.lit(2)),
            ).otherwise(
                F.when(F.trim(text) != "", F.array(F.trim(text))).otherwise(empty)
            ),
        )
        .otherwise(empty)
    )


def mined_source_type_col(kind: Column) -> Column:
    c = F.lit(None).cast("string")
    for k, st in KIND_SOURCE_TYPE.items():
        c = F.when(kind == k, F.lit(st)).otherwise(c)
    return c


def resolve_mined_col(url: Column, source_url: Column) -> Column:
    """Resolve protocol-relative / root-relative mined URLs against the
    source page origin (https: scheme default; origin = scheme://host)."""
    origin = F.regexp_extract(source_url, "^(https?://[^/]+)", 1)
    return (
        F.when(url.startswith("//"), F.concat(F.lit("https:"), url))
        .when(url.startswith("/"), F.concat(origin, url))
        .otherwise(url)
    )


# --- Python twin (sequential oracle; identical regexes + op order) ---------

_HINT_PY = re.compile(HINT_RE)
_URL_IN_QUOTES_PY = re.compile(URL_IN_QUOTES)
_BARE_URL_PY = re.compile(BARE_URL)
_JSON_KEYHINT_PY = re.compile(JSON_KEYHINT)
_CSS_URL_PY = re.compile(CSS_URL)
_META_REFRESH_PY = re.compile(META_REFRESH)
_ORIGIN_PY = re.compile("^(https?://[^/]+)")


def py_resolve_mined(url: str, source_url: str | None) -> str:
    if url.startswith("//"):
        return "https:" + url
    if url.startswith("/"):
        m = _ORIGIN_PY.match(source_url or "")
        return (m.group(1) if m else "") + url
    return url


def py_mine_snippet(kind: str, text: str) -> list[str]:
    """Raw mined URLs of one snippet (pre-resolution), oracle twin of
    :func:`mined_urls_col`."""
    if kind == "script":
        if not _HINT_PY.search(text.lower()):
            return []
        return [m.group(1) for m in _URL_IN_QUOTES_PY.finditer(text)]
    if kind == "json":
        return [m.group(2) for m in _JSON_KEYHINT_PY.finditer(text)]
    if kind == "comment":
        return [m.group(1) for m in _BARE_URL_PY.finditer(text)]
    if kind == "css":
        return [m.group(1) for m in _CSS_URL_PY.finditer(text)]
    if kind == "meta_refresh":
        m = _META_REFRESH_PY.search(text)
        return [m.group(1)] if m and m.group(1) else []
    if kind == "form_action":
        # strip(' ') not strip(): the Spark twin is F.trim, which removes
        # ASCII spaces only — '\t/x\n' must mine identically in both engines
        t = text.strip(" ")
        return [t] if t else []
    if kind == "data_attr":
        t = text.strip(" ")
        if t[:1] in ("{", "["):
            return [m.group(2) for m in _JSON_KEYHINT_PY.finditer(text)]
        return [t] if t else []
    return []
