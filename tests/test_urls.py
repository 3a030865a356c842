"""Golden vectors for canonicalization + seed cleaning (reference urls.py:28-79,
discovery_spider.py:927-992 semantics)."""

from __future__ import annotations

from scrapy_spark.functions.urls import (
    canonicalize,
    clean_seed_url,
    is_allowed_domain,
    is_denied_extension,
    is_image_url,
    sanitize_path,
    url_host,
)

GOLDEN = [
    # (input, expected canonical)
    ("https://UConn.EDU/Path/To?b=2&a=1#frag", "https://uconn.edu/Path/To?a=1&b=2"),
    ("HTTP://uconn.edu:80/x", "http://uconn.edu/x"),
    ("https://uconn.edu:443/x", "https://uconn.edu/x"),
    ("https://uconn.edu:8080/x", "https://uconn.edu:8080/x"),
    ("https://uconn.edu", "https://uconn.edu"),  # empty path stays empty
    ("https://uconn.edu/", "https://uconn.edu/"),
    ("https://uconn.edu/a/../b", "https://uconn.edu/b"),
    ("https://uconn.edu/a/./b/", "https://uconn.edu/a/b/"),
    ("https://uconn.edu/a%2fb", "https://uconn.edu/a/b"),
    ("https://uconn.edu/sp%20ace", "https://uconn.edu/sp%20ace"),
    ("https://uconn.edu/?q=hello world", "https://uconn.edu/?q=hello%20world"),
    ("https://user:pw@uconn.edu/x", "https://user:pw@uconn.edu/x"),
    ("https://uconn.edu/?b=&a=", "https://uconn.edu/?a=&b="),
    ("  https://uconn.edu/x  ", "https://uconn.edu/x"),
    ("ftp://uconn.edu/x", None),
    ("not a url", None),
    ("", None),
    (None, None),
    ("https:///nohost", None),
]


def test_canonicalize_golden():
    for raw, want in GOLDEN:
        assert canonicalize(raw) == want, raw


def test_canonicalize_idempotent():
    for raw, want in GOLDEN:
        if want is not None:
            assert canonicalize(want) == want, raw


def test_query_param_sort_stable():
    a = canonicalize("https://x.uconn.edu/p?z=1&a=2&m=3")
    b = canonicalize("https://x.uconn.edu/p?m=3&z=1&a=2")
    assert a == b == "https://x.uconn.edu/p?a=2&m=3&z=1"


SEEDS = [
    ('"https://uconn.edu/x"', "https://uconn.edu/x"),
    ("https:https://uconn.edu/x", "https://uconn.edu/x"),
    ("uconn.edu/apply", "https://uconn.edu/apply"),
    ("//uconn.edu/y", "https://uconn.edu/y"),
    ("https://uconn.edu/x\\", "https://uconn.edu/x"),
    ("C:\\Users\\foo", None),
    ("", None),
]


def test_clean_seed_url():
    for raw, want in SEEDS:
        assert clean_seed_url(raw) == want, raw


def test_domain_and_filters():
    assert is_allowed_domain("uconn.edu")
    assert is_allowed_domain("admissions.uconn.edu")
    assert not is_allowed_domain("evil-uconn.edu")
    assert not is_allowed_domain("uconn.edu.evil.com")
    assert is_denied_extension("https://uconn.edu/a.pdf")
    assert not is_denied_extension("https://uconn.edu/a.html")
    assert is_image_url("https://uconn.edu/img/a.PNG")
    assert not is_image_url("https://uconn.edu/img/a.html")
    assert url_host("HTTPS://Admissions.UConn.edu/x") == "admissions.uconn.edu"


def test_sanitize_path():
    assert sanitize_path("/a/b/../c/") == "/a/c/"
    assert sanitize_path("/a/./b") == "/a/b"
    assert sanitize_path("") == ""
    assert sanitize_path("/") == "/"


def test_parse_robots_txt():
    from scrapy_spark.functions.urls import parse_robots_sitemaps, parse_robots_txt

    txt = """
# robots for uconn.edu
User-agent: *
Disallow: /private/
Disallow: /tmp/
Disallow:

User-agent: evilbot
Disallow: /

Sitemap: https://uconn.edu/sitemap.xml
Sitemap: https://uconn.edu/sitemap2.xml
"""
    assert parse_robots_txt(txt) == ["/private/", "/tmp/"]
    assert parse_robots_txt(txt, "evilbot") == ["/private/", "/tmp/", "/"]
    assert parse_robots_sitemaps(txt) == [
        "https://uconn.edu/sitemap.xml",
        "https://uconn.edu/sitemap2.xml",
    ]
