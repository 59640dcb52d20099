"""Document formatters (S5/S6/S7) — byte-exact parity with reference
output/formatter.py:35-364."""

from __future__ import annotations

import json
from typing import Any

from ..layout.ir import HEADING, LIST_ITEM, DocIR, PageIR, TableIR, TextBlockIR
from . import ascii_table

PLAIN_TEXT = "text"
MARKDOWN = "markdown"
JSON_FMT = "json"


def format_document(doc: DocIR, fmt: str = PLAIN_TEXT,
                    include_coordinates: bool = False) -> str:
    if fmt == PLAIN_TEXT:
        return format_plain_text(doc)
    if fmt == MARKDOWN:
        return format_markdown(doc)
    if fmt == JSON_FMT:
        return format_json(doc, include_coordinates)
    raise ValueError(f"Unsupported output format: {fmt}")


def format_plain_text(doc: DocIR) -> str:
    """S5 (reference formatter.py:84-127), page after page."""
    lines: list[str] = []
    for page in doc.pages:
        lines += render_page_plain(page)[0]
    return "\n".join(lines)


def render_page_plain(page: PageIR) -> tuple[list[str], list[str]]:
    """One S5 page: '='*80 banners, centered 'PAGE n', [Header:]/[Footer:]
    markers, items sorted (column, y1) asc with a blank line after every
    item. Returns the page's lines and its body items (blocks and tables
    only, in the same order). The lines of consecutive pages concatenate
    into the document, so newline-joining per-page chunks reproduces
    format_plain_text byte for byte."""
    items = _collect_page_content(page)
    items.sort(key=lambda x: (x[0], x[1]))
    body = [content for _, _, content in items]
    lines = ["", "=" * 80, f"{'PAGE ' + str(page.page_number):^80}",
             "=" * 80, ""]
    if page.header:
        lines += [f"[Header: {page.header}]", ""]
    for content in body:
        lines += [content, ""]
    if page.footer:
        lines += ["", f"[Footer: {page.footer}]"]
    return lines, body


def _collect_page_content(page: PageIR) -> list[tuple[int, float, str]]:
    """Reference formatter.py:129-156. (The reference's unreachable
    swapped-tuple bug at formatter.py:149-154 is NOT reproduced; the
    reachable semantics — precomputed ASCII at column 0 — are.)"""
    items: list[tuple[int, float, str]] = []
    for b in page.blocks:
        content = _format_block_plain(b)
        if content.strip():
            items.append((b.column_index, b.bbox.y1, content))
    for t in page.tables:
        ascii_repr = t.ascii_representation or ascii_table.convert(t)
        items.append((0, t.bbox.y1, ascii_repr))
    return items


def _format_block_plain(block: TextBlockIR) -> str:
    """F9 (reference formatter.py:158-168)."""
    text = block.text.strip()
    if block.block_type == HEADING:
        return f"\n{text.upper()}\n"
    if block.block_type == LIST_ITEM:
        return f"  {text}"
    return text


def format_markdown(doc: DocIR) -> str:
    """S6 (reference formatter.py:170-207)."""
    lines: list[str] = []
    if doc.metadata:
        if "title" in doc.metadata:
            lines.append(f"# {doc.metadata['title']}")
            lines.append("")
        if "author" in doc.metadata:
            lines.append(f"*Author: {doc.metadata['author']}*")
            lines.append("")
    for page in doc.pages:
        if page.page_number > 1:
            lines.append("")
            lines.append("---")
            lines.append("")
            lines.append(f"*Page {page.page_number}*")
            lines.append("")
        items: list[tuple[int, float, str]] = []
        for b in page.blocks:
            content = _format_block_markdown(b)
            if content.strip():
                items.append((b.column_index, b.bbox.y1, content))
        for t in page.tables:
            items.append((0, t.bbox.y1, ascii_table.convert_to_markdown(t)))
        items.sort(key=lambda x: (x[0], x[1]))
        for _, _, content in items:
            lines.append(content)
            lines.append("")
    return "\n".join(lines)


def _format_block_markdown(block: TextBlockIR) -> str:
    """Reference formatter.py:227-248: heading level by avg font size
    (>=18 -> ##, >=14 -> ###, else ####); bullets renormalized to '- '."""
    text = block.text.strip()
    if block.block_type == HEADING:
        if block.spans:
            avg = sum(s.size for s in block.spans) / len(block.spans)
            if avg >= 18:
                return f"## {text}"
            if avg >= 14:
                return f"### {text}"
            return f"#### {text}"
        return f"### {text}"
    if block.block_type == LIST_ITEM:
        return f"- {text.lstrip('•·-* ')}"
    return text


def format_json(doc: DocIR, include_coordinates: bool = False) -> str:
    """S7 (reference formatter.py:250-364): indent=2, ensure_ascii=False;
    include_coordinates gates bbox/indentation/line_spacing/columns."""
    return json.dumps(_doc_dict(doc, include_coordinates),
                      indent=2, ensure_ascii=False)


def _doc_dict(doc: DocIR, coords: bool) -> dict[str, Any]:
    return {
        "source_path": doc.source_path,
        "page_count": len(doc.pages),
        "metadata": doc.metadata,
        "pages": [_page_dict(p, coords) for p in doc.pages],
    }


def _page_dict(page: PageIR, coords: bool) -> dict[str, Any]:
    d: dict[str, Any] = {
        "page_number": page.page_number,
        "width": page.width,
        "height": page.height,
        "block_count": len(page.blocks),
        "table_count": len(page.tables),
        "header": page.header,
        "footer": page.footer,
        "blocks": [_block_dict(b, coords) for b in page.blocks],
        "tables": [_table_dict(t, coords) for t in page.tables],
    }
    if coords:
        d["columns"] = [
            {"index": c.index, "bbox": _bbox_dict(c.bbox)}
            for c in page.columns
        ]
    return d


def _block_dict(b: TextBlockIR, coords: bool) -> dict[str, Any]:
    d: dict[str, Any] = {
        "text": b.text,
        "type": b.block_type,
        "column_index": b.column_index,
    }
    if coords:
        d["bbox"] = _bbox_dict(b.bbox)
        d["indentation"] = b.indentation
        d["line_spacing"] = b.line_spacing
    return d


def _table_dict(t: TableIR, coords: bool) -> dict[str, Any]:
    d: dict[str, Any] = {
        "num_rows": t.num_rows,
        "num_cols": t.num_cols,
        "has_header": t.has_header,
        "ascii_representation": t.ascii_representation,
        "cells": [_cell_dict(c, coords) for c in t.cells],
    }
    if coords:
        d["bbox"] = _bbox_dict(t.bbox)
    return d


def _cell_dict(c, coords: bool) -> dict[str, Any]:
    d: dict[str, Any] = {
        "text": c.text,
        "row": c.row,
        "col": c.col,
        "rowspan": c.rowspan,
        "colspan": c.colspan,
        "is_header": c.is_header,
    }
    if coords:
        d["bbox"] = _bbox_dict(c.bbox)
    return d


def _bbox_dict(b) -> dict[str, float]:
    return {"x0": b.x0, "y0": b.y0, "x1": b.x1, "y1": b.y1,
            "width": b.width, "height": b.height}
