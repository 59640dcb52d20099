"""Pages-table synthesis.

Each documents.parquet row becomes one page row:
  url      = https://site{doc_id % 97}.example/{doc_id}
  warc_ts  = 2026-01-01T00:00:00Z + doc_id seconds
  html     = HTML bytes (~70%), PDF bytes (~25%), malformed bytes (~5%)
             routed by doc_id % 20 (deterministic)
  text     = the original document text (the extraction invariant)
  lang     = documents.lang

Skew fixture (FIXTURES.md §1): every 500th doc's body text is repeated
SKEW_FACTOR times, producing a deterministic heavy tail of per-document
parse cost.

PDF layout contract (why 38-char wrap / 14pt leading / x0=72): lines must
stay outside the reference's center "wide band" (page.py:183: boundary
±30pt) so single-column body text is never split into pseudo-columns, and
intra-paragraph gaps (14 - ~11.1 line height) stay under lines.BLOCK_GAP_FACTOR
while the 28pt paragraph gap exceeds it. This makes writer -> tokenizer ->
layout -> formatter an exact inverse of the chunking, which is what the
DuckDB roundtrip oracles assert.
"""

from __future__ import annotations

import pandas as pd

from ..html.writer import render_html
from ..pdf.writer import Page, Text, build_pdf

EPOCH = pd.Timestamp("2026-01-01T00:00:00")
WRAP_CHARS = 38
LEADING = 14.0
PARA_GAP = 28.0
TOP_BASELINE = 700.0
BOTTOM_BASELINE = 100.0
LEFT_X = 72.0
WORDS_PER_PARA = 12
SKEW_EVERY = 500
SKEW_FACTOR = 50


def url_for(doc_id: int) -> str:
    return f"https://site{doc_id % 97}.example/{doc_id}"


def doc_kind(doc_id: int) -> str:
    """70% html / 25% pdf / 5% malformed, deterministic by doc_id."""
    m = doc_id % 20
    if m == 0:
        return "bad"
    if m in (1, 2, 3, 4, 5):
        return "pdf"
    return "html"


def encrypt_for(doc_id: int) -> dict | None:
    """doc_id % 100 == 5 (1% of docs, all inside the PDF routing class
    doc_id%20==5) -> RC4-128 standard-security encryption with an EMPTY
    user password: parses with no password (like PyMuPDF's open-time
    attempt), so the routing/roundtrip oracles are unchanged while the
    pipeline exercises decryption end-to-end. doc_id % 100 == 45 (also
    1%, also inside the PDF class) -> AES-256 R6 (V5 /AESV3), the
    post-2010 Acrobat default. Both match real crawls (encrypted PDFs
    are rare) and bound the pure-Python cipher cost: RC4's O/U check
    loops are ~1 ms/doc, and R6's ~0.3 s Algorithm-2.B derivation is
    memoized per worker because the writer uses corpus-constant salts
    (pdf/writer.py) — per doc only AES-CBC of the streams remains."""
    if doc_id % 100 == 5:
        return {"method": "rc4-128", "user_pw": ""}
    if doc_id % 100 == 45:
        return {"method": "aes-256", "user_pw": ""}
    return None


def wrap_words(text: str, width: int = WRAP_CHARS) -> list[str]:
    """Word-boundary wrap; never splits a word (words longer than width
    get their own line)."""
    lines: list[str] = []
    cur: list[str] = []
    n = 0
    for w in text.split(" "):
        add = len(w) if not cur else len(w) + 1
        if cur and n + add > width:
            lines.append(" ".join(cur))
            cur, n = [w], len(w)
        else:
            cur.append(w)
            n += add
    if cur:
        lines.append(" ".join(cur))
    return lines


def render_pdf_doc(text: str, doc_id: int) -> bytes:
    """Single-column paragraphs (12pt Helvetica), multi-page when long."""
    paras = [
        " ".join(ws)
        for ws in _chunks(text.split(" "), WORDS_PER_PARA)
    ]
    pages: list[Page] = []
    texts: list[Text] = []
    y = TOP_BASELINE
    for para in paras:
        lines = wrap_words(para)
        need = LEADING * len(lines) + (PARA_GAP - LEADING)
        if y - need < BOTTOM_BASELINE and texts:
            pages.append(Page(texts=texts))
            texts = []
            y = TOP_BASELINE
        for ln in lines:
            if y < BOTTOM_BASELINE:
                pages.append(Page(texts=texts))
                texts = []
                y = TOP_BASELINE
            texts.append(Text(LEFT_X, y, ln, "F1", 12.0))
            y -= LEADING
        y -= PARA_GAP - LEADING
    if texts or not pages:
        pages.append(Page(texts=texts))
    return build_pdf(pages, info={"Title": f"Document {doc_id}"},
                     encrypt=encrypt_for(doc_id))


def _chunks(seq: list, k: int):
    for i in range(0, len(seq), k):
        yield seq[i : i + k]


def malformed_bytes(doc_id: int) -> bytes:
    """Error-path fixture: sniffs as PDF but has no valid objects."""
    return b"%PDF-1.4\n\x00\x01\x02 corrupted stream " + str(doc_id).encode()


def doc_body_text(row_text: str, doc_id: int) -> str:
    """Body text incl. deterministic heavy-tail skew fixture."""
    if doc_id and doc_id % SKEW_EVERY == 0:
        return " ".join([row_text] * SKEW_FACTOR)
    return row_text


def build_pages_pdf(docs: pd.DataFrame) -> pd.DataFrame:
    """One synthetic page row per document row (pandas; used both by the
    Spark mapInPandas synthesizer and directly in tests)."""
    rows = []
    for r in docs.itertuples(index=False):
        doc_id = int(r.doc_id)
        body = doc_body_text(r.text, doc_id)
        kind = doc_kind(doc_id)
        if kind == "bad":
            blob = malformed_bytes(doc_id)
        elif kind == "pdf":
            blob = render_pdf_doc(body, doc_id)
        else:
            blob = render_html(body, doc_id, r.lang)
        rows.append({
            "url": url_for(doc_id),
            "warc_ts": EPOCH + pd.Timedelta(seconds=doc_id),
            "html": blob,
            "text": r.text,
            "lang": r.lang,
        })
    return pd.DataFrame(rows)
