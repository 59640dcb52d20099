"""Per-document extraction entry point (pure Python — runs inside the
Arrow UDF batches of engine.job).

Routes PDF vs HTML by magic-byte sniff (SURVEY.md S2), applies the
reference's error ladder (per-page fallback E2, per-doc error column E1 —
reference core/document.py:270-283, core/exceptions.py), and emits the
extracted text plus span offsets.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from .html.extract import extract_html
from .layout.analyzer import analyze_page, fallback_page
from .layout.ir import DocIR, PageIR
from .pdf.tokenizer import PdfError, is_pdf, parse_pdf
from .render import formatter

# PyMuPDF-style lowercase metadata keys (the reference reads
# doc.metadata['title'/'author'], formatter.py:182-188).
_META_KEYS = {
    "Title": "title", "Author": "author", "Subject": "subject",
    "Keywords": "keywords", "Creator": "creator", "Producer": "producer",
    "CreationDate": "creationDate", "ModDate": "modDate",
}


@dataclass
class ExtractResult:
    url: str
    doc_type: str                  # 'pdf' | 'html' | 'unknown'
    text: str | None               # full formatted output (S5 plain text)
    body_text: str | None          # blocks/tables only — no page banners,
                                   # headers or footers (oracle-friendly)
    n_pages: int = 0
    n_blocks: int = 0
    n_tables: int = 0
    error_kind: str | None = None
    error_message: str | None = None
    metadata: dict[str, str] = field(default_factory=dict)
    spans: list[dict] = field(default_factory=list)


class PageRangeError(ValueError):
    """Reference PDFPageError for invalid ranges (document.py:241-261)."""


def parse_pdf_document(url: str, data: bytes, start_page: int = 1,
                       end_page: int | None = None,
                       password: str | None = None) -> DocIR:
    """bytes -> DocIR with per-page fallback (reference document.py:270-283)
    and the reference's page-range semantics (document.py:218-261):
    start < 1 raises; end > page_count clamps; start > end raises.
    In the Spark pipeline the same selection is a pushed-down
    ``filter(col("page_number").between(lo, hi))`` on page rows."""
    pdf = parse_pdf(data, password)
    n = len(pdf.pages)
    if start_page < 1:
        raise PageRangeError(f"Start page must be >= 1, got {start_page}")
    end_page = n if end_page is None else min(end_page, n)
    if start_page > end_page:
        raise PageRangeError(
            f"Start page ({start_page}) cannot be greater than "
            f"end page ({end_page})")
    pages: list[PageIR] = []
    for p in pdf.pages[start_page - 1 : end_page]:
        try:
            pages.append(analyze_page(p))
        except Exception:
            pages.append(fallback_page(p))  # E2
    meta = {_META_KEYS.get(k, k): v for k, v in pdf.metadata.items()}
    return DocIR(pages=pages, metadata=meta, source_path=url)


def _collect_spans(doc: DocIR, text: str) -> list[dict]:
    """Span rows with best-effort offsets into the formatted text.

    Spans arrive in formatter order, so the cursor advances PAST each
    match: total scanning is O(len(text)) amortized (a cursor that only
    moved TO the match rescanned the same region per span — quadratic on
    documents full of repeated spans). The from-the-top retry only fires
    for out-of-order spans (page fallbacks)."""
    out: list[dict] = []
    cursor = 0
    for page in doc.pages:
        for b in page.blocks:
            for s in b.spans:
                pos = text.find(s.text, cursor)
                if pos < 0:
                    pos = text.find(s.text)
                if pos >= 0:
                    cursor = pos + len(s.text)
                out.append({
                    "page": page.page_number,
                    "text": s.text,
                    "x0": s.bbox.x0, "y0": s.bbox.y0,
                    "x1": s.bbox.x1, "y1": s.bbox.y1,
                    "font": s.font, "size": s.size,
                    "bold": s.bold, "italic": s.italic,
                    "offset": pos, "length": len(s.text),
                })
    return out


def extract_document(url: str, data: bytes | None,
                     with_spans: bool = False,
                     password: str | None = None) -> ExtractResult:
    """The flagship per-document operator. ``password`` opens
    password-protected PDFs (reference cli.py:77 takes a global
    --password; here it arrives per document from the pages table's
    optional password column, since a crawl's known passwords are
    per-url). Ignored for HTML."""
    if not data:
        return ExtractResult(url=url, doc_type="unknown", text=None,
                             body_text=None, error_kind="EmptyInput",
                             error_message="no bytes")
    if is_pdf(bytes(data)):
        try:
            doc = parse_pdf_document(url, bytes(data), password=password)
        except PdfError as e:
            return ExtractResult(url=url, doc_type="pdf", text=None,
                                 body_text=None, error_kind="PDFLoadError",
                                 error_message=str(e))
        except Exception as e:  # never abort the batch
            return ExtractResult(url=url, doc_type="pdf", text=None,
                                 body_text=None, error_kind="InternalError",
                                 error_message=repr(e))
        # S5 text and the banner-free body in one pass over the pages
        lines: list[str] = []
        body: list[str] = []
        for page in doc.pages:
            page_lines, page_body = formatter.render_page_plain(page)
            lines += page_lines
            body += page_body
        text = "\n".join(lines)
        return ExtractResult(
            url=url,
            doc_type="pdf",
            text=text,
            body_text="\n\n".join(body),
            n_pages=len(doc.pages),
            n_blocks=sum(len(p.blocks) for p in doc.pages),
            n_tables=sum(len(p.tables) for p in doc.pages),
            metadata=doc.metadata,
            spans=_collect_spans(doc, text) if with_spans else [],
        )

    # HTML path
    try:
        res = extract_html(bytes(data))
    except Exception as e:
        return ExtractResult(url=url, doc_type="html", text=None,
                             body_text=None, error_kind="HTMLParseError",
                             error_message=repr(e))
    if not res["text"]:
        return ExtractResult(url=url, doc_type="html", text="",
                             body_text="", error_kind="EmptyContent",
                             error_message="no main content survived "
                                           "boilerplate filtering",
                             metadata={"title": res["title"]} if res["title"] else {})
    meta = {}
    if res["title"]:
        meta["title"] = res["title"]
    if res["lang"]:
        meta["lang"] = res["lang"]
    return ExtractResult(
        url=url,
        doc_type="html",
        text=res["text"],
        body_text=res["text"],
        n_pages=1,
        n_blocks=res["n_blocks"],
        metadata=meta,
    )
