"""PDF codec (functions/pdffn.py): roundtrip fidelity, reference-semantics
fields (content_handlers.py:20-160) and crawl integration (pdf_link
candidates fetched byte-exact is covered by tests/test_crawl_parity.py)."""

from __future__ import annotations

from scrapy_spark.functions import pdffn


def test_pdf_roundtrip():
    pages = ["alpha beta gamma", "delta (eps) \\ zeta", ""]
    links = ["https://a.uconn.edu/news/p1", "https://a.uconn.edu/files/doc2.pdf"]
    data = pdffn.encode_pdf(pages, title="T (1)", author="au\\thor", link_uris=links)
    assert data.startswith(b"%PDF-1.4") and data.rstrip().endswith(b"%%EOF")
    assert pdffn.is_pdf(data)
    assert pdffn.pdf_title(data) == "T (1)"
    assert b"/Author (au\\\\thor)" in data
    assert pdffn.pdf_page_count(data) == 3
    assert pdffn.pdf_page_texts(data) == pages
    assert pdffn.pdf_link_uris(data) == links


def test_pdf_empty_and_garbage():
    data = pdffn.encode_pdf([], title="", author="")
    assert pdffn.pdf_page_count(data) == 1 and pdffn.pdf_page_texts(data) == [""]
    assert not pdffn.is_pdf(b"\x89PNG....")
    assert not pdffn.is_pdf(None)


def test_pdf_xref_offsets_valid():
    """The xref table must point at real object headers — structural
    validity any standards-compliant reader relies on."""
    data = pdffn.encode_pdf(["hello world"], title="t", author="a",
                            link_uris=["https://x.uconn.edu/p"])
    lines = data.split(b"xref\n")[1].split(b"trailer")[0].splitlines()
    n = int(lines[0].split()[1])
    for i, ln in enumerate(lines[2:n + 1], start=1):
        off = int(ln.split()[0])
        assert data[off:].startswith(f"{i} 0 obj".encode()), i


def test_synth_pdf_deterministic():
    from scrapy_spark.sources import synth

    cfg = synth.SynthConfig(seed=42, n_hosts=6, n_pages=120, n_images=40)
    counts = synth.zipf_page_counts(cfg)
    a = synth.pdf_document(cfg, counts, 1, 7)
    b = synth.pdf_document(cfg, counts, 1, 7)
    assert a == b and pdffn.is_pdf(a)
    # resolve() serves it with the right content type
    r = synth.resolve(cfg, counts, "https://admissions.uconn.edu/files/doc7.pdf")
    assert r["status_code"] == 200 and r["content_type"] == "application/pdf"
    assert r["bytes"] == a and r["fmt"] == "pdf"
    # embedded links point at real same-host pages or other real PDFs
    # (pdf→pdf chains feed the pdf_embedded recursion path)
    for u in pdffn.pdf_link_uris(a):
        assert (
            synth.parse_page_url(cfg, counts, u) is not None
            or synth.parse_pdf_url(cfg, u) is not None
        ), u
