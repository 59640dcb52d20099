"""Oversized-document handling: page-exploded extraction + grouped
re-assembly (SURVEY.md §3 target lifecycle / §7.3 item 4).

The default job (engine.job) parses one document per row — a 10^9-byte
document would stall its task. This variant splits the work at PAGE
granularity:

  mapInPandas  : doc bytes -> one row per page (page_number, the page's
                 rendered S5 chunk, block/table counts) — pages of one
                 doc can sit in different Arrow batches of one task;
  applyInPandas: groupBy(url) re-assembly: the chunks joined in
                 page_number order (identical bytes to the single-pass
                 path — asserted in tests).

At 100 TB you'd route only length(html) > threshold docs through this
path (the small-doc fast path avoids the extra shuffle); the grouped
re-assembly shuffles only extracted TEXT, never raw bytes.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType, LongType, StringType, StructField, StructType,
)

PAGE_ROWS_SCHEMA = StructType([
    StructField("url", StringType()),
    StructField("page_number", IntegerType()),
    StructField("n_pages", IntegerType()),
    StructField("text", StringType()),        # the page's S5 chunk
    StructField("n_blocks", IntegerType()),
    StructField("n_tables", IntegerType()),
    StructField("error_kind", StringType()),
])

ASSEMBLED_SCHEMA = StructType([
    StructField("url", StringType()),
    StructField("text", StringType()),
    StructField("n_pages", IntegerType()),
    StructField("n_blocks", IntegerType()),
    StructField("ok", StringType()),
])


def _page_rows(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    from ..extractor import parse_pdf_document
    from ..pdf.tokenizer import PdfError, is_pdf
    from ..render import formatter

    for pdf in batches:
        rows = []
        for url, blob in zip(pdf["url"], pdf["html"]):
            data = bytes(blob) if blob is not None else b""
            if not is_pdf(data):
                continue  # this path is for the PDF heavy-tail only
            try:
                doc = parse_pdf_document(url, data)
            except PdfError:
                rows.append({"url": url, "page_number": 1, "n_pages": 0,
                             "text": None, "n_blocks": 0, "n_tables": 0,
                             "error_kind": "PDFLoadError"})
                continue
            except Exception:  # never abort the batch (E3 semantics,
                # same contract as extract_document's InternalError row)
                rows.append({"url": url, "page_number": 1, "n_pages": 0,
                             "text": None, "n_blocks": 0, "n_tables": 0,
                             "error_kind": "InternalError"})
                continue
            for page in doc.pages:
                rows.append({
                    "url": url,
                    "page_number": page.page_number,
                    "n_pages": len(doc.pages),
                    "text": "\n".join(formatter.render_page_plain(page)[0]),
                    "n_blocks": len(page.blocks),
                    "n_tables": len(page.tables),
                    "error_kind": None,
                })
        yield pd.DataFrame(rows, columns=[f.name for f in PAGE_ROWS_SCHEMA])


def _assemble(key: tuple[str], pdf: pd.DataFrame) -> pd.DataFrame:
    """Re-create the S5 plain-text document from its page chunks (same
    bytes as render.formatter.format_plain_text)."""
    (url,) = key
    if pdf["error_kind"].notna().any():  # PDFLoadError / InternalError
        return pd.DataFrame([{"url": url, "text": None, "n_pages": 0,
                              "n_blocks": 0, "ok": "false"}])
    pdf = pdf.sort_values("page_number")
    text = "\n".join(pdf["text"])
    return pd.DataFrame([{
        "url": url,
        "text": text,
        "n_pages": int(pdf["n_pages"].iloc[0]),
        "n_blocks": int(pdf["n_blocks"].sum()),
        "ok": "true",
    }])


def run_extract_paged(pages: DataFrame) -> DataFrame:
    """Page-granular extraction with grouped re-assembly."""
    page_rows = pages.select("url", "html").mapInPandas(
        _page_rows, PAGE_ROWS_SCHEMA)
    return page_rows.groupBy("url").applyInPandas(
        _assemble, ASSEMBLED_SCHEMA)
