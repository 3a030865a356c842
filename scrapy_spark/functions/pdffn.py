"""Minimal deterministic PDF codec — the synthetic stand-in for real PDF
content (content_handlers.py:20-160 PDFHandler semantics: metadata, per-page
text, page counts, embedded link URIs).

The container has no PyPDF2/pdfplumber, so (as with the from-scratch PNG
codec in imagefn.py) this writes and reads a REAL, structurally-valid PDF
1.4 byte stream from public format knowledge: catalog → page tree → page
objects with uncompressed text content streams (``BT .. (text) Tj .. ET``),
link annotations (``/A << /S /URI /URI (url) >>``), an Info dictionary
(/Title /Author), an xref table and trailer. Any standards-compliant reader
can open the output; the decoder here is a regex scan sufficient for the
codec's own uncompressed output (NOT a general PDF parser — real-world PDFs
with compressed streams need a real library; swap extract_* behind the same
signatures)."""

from __future__ import annotations

import re

_ESC = {"\\": "\\\\", "(": "\\(", ")": "\\)"}


def _esc(s: str) -> str:
    return "".join(_ESC.get(c, c) for c in s)


def _unesc(s: str) -> str:
    return s.replace("\\(", "(").replace("\\)", ")").replace("\\\\", "\\")


def encode_pdf(
    pages: list[str], title: str = "", author: str = "", link_uris: list[str] | None = None
) -> bytes:
    """Serialize page texts + metadata + link annotations as a PDF 1.4 file."""
    link_uris = link_uris or []
    objs: list[bytes] = []  # 1-indexed object bodies (without "N 0 obj")

    n_pages = max(1, len(pages))
    pages = pages or [""]
    # object numbering: 1 catalog, 2 pages, 3 info, then per page
    # (page obj, content obj), then one annot obj per link (all on page 1)
    first_page_obj = 4
    annot_first = first_page_obj + 2 * n_pages
    annot_refs = " ".join(f"{annot_first + i} 0 R" for i in range(len(link_uris)))

    kids = " ".join(f"{first_page_obj + 2 * i} 0 R" for i in range(n_pages))
    objs.append(b"<< /Type /Catalog /Pages 2 0 R >>")
    objs.append(
        f"<< /Type /Pages /Kids [{kids}] /Count {n_pages} >>".encode()
    )
    objs.append(
        f"<< /Title ({_esc(title)}) /Author ({_esc(author)}) >>".encode()
    )
    for i, text in enumerate(pages):
        content = f"BT /F1 12 Tf 72 720 Td ({_esc(text)}) Tj ET".encode()
        annots = f" /Annots [{annot_refs}]" if (i == 0 and link_uris) else ""
        objs.append(
            (
                f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
                f"/Contents {first_page_obj + 2 * i + 1} 0 R{annots} >>"
            ).encode()
        )
        objs.append(
            f"<< /Length {len(content)} >>\nstream\n".encode()
            + content
            + b"\nendstream"
        )
    for k, uri in enumerate(link_uris):
        objs.append(
            (
                f"<< /Type /Annot /Subtype /Link /Rect [72 {700 - 14 * k} 540 "
                f"{712 - 14 * k}] /A << /S /URI /URI ({_esc(uri)}) >> >>"
            ).encode()
        )

    out = bytearray(b"%PDF-1.4\n")
    offsets = [0]  # object 0 is the free head
    for n, body in enumerate(objs, start=1):
        offsets.append(len(out))
        out += f"{n} 0 obj\n".encode() + body + b"\nendobj\n"
    xref_at = len(out)
    out += f"xref\n0 {len(objs) + 1}\n".encode()
    out += b"0000000000 65535 f \n"
    for off in offsets[1:]:
        out += f"{off:010d} 00000 n \n".encode()
    out += (
        f"trailer\n<< /Size {len(objs) + 1} /Root 1 0 R /Info 3 0 R >>\n"
        f"startxref\n{xref_at}\n%%EOF\n"
    ).encode()
    return bytes(out)


_TITLE_RE = re.compile(rb"/Title \(((?:\\.|[^\\)])*)\)")
_PAGE_RE = re.compile(rb"/Type /Page[ /]")
_TJ_RE = re.compile(rb"\(((?:\\.|[^\\)])*)\) Tj")
_URI_RE = re.compile(rb"/URI \(((?:\\.|[^\\)])*)\)")


def pdf_title(data: bytes) -> str | None:
    m = _TITLE_RE.search(data)
    return _unesc(m.group(1).decode("utf-8", "replace")) if m else None


def pdf_page_count(data: bytes) -> int:
    return len(_PAGE_RE.findall(data))


def pdf_page_texts(data: bytes) -> list[str]:
    return [_unesc(m.decode("utf-8", "replace")) for m in _TJ_RE.findall(data)]


def pdf_link_uris(data: bytes) -> list[str]:
    return [_unesc(m.decode("utf-8", "replace")) for m in _URI_RE.findall(data)]


def is_pdf(data: bytes | None) -> bool:
    return bool(data) and data[:5] == b"%PDF-"
