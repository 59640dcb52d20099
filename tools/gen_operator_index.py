"""Regenerate docs/OPERATORS.md: every public operator in
pdf_parser_spark with its signature and first docstring line — the
user-facing index (auto-generated so it cannot drift; re-run after
adding operators).

Usage: python tools/gen_operator_index.py
"""

from __future__ import annotations

import importlib
import inspect
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

MODULES = [
    ("pdf_parser_spark.engine.job", "Extraction job"),
    ("pdf_parser_spark.engine.paged", "Oversized-document split"),
    ("pdf_parser_spark.engine.checkpoint", "Checkpoint / resume"),
    ("pdf_parser_spark.engine.catalog", "Snapshot catalog (Iceberg-style)"),
    ("pdf_parser_spark.engine.source", "Sources"),
    ("pdf_parser_spark.analytics.dedup", "Deduplication"),
    ("pdf_parser_spark.analytics.similarity", "Similarity / ANN"),
    ("pdf_parser_spark.analytics.text", "Text analysis & curation"),
    ("pdf_parser_spark.analytics.bpe", "BPE tokenization"),
    ("pdf_parser_spark.analytics.classifier", "Quality classifier"),
    ("pdf_parser_spark.analytics.web", "Web / URL operators"),
    ("pdf_parser_spark.analytics.multimodal", "Multimodal"),
    ("pdf_parser_spark.streaming.job", "Streaming extraction"),
    ("pdf_parser_spark.streaming.dedup", "Streaming dedup"),
    ("pdf_parser_spark.streaming.sessions", "Streaming sessionization"),
    ("pdf_parser_spark.streaming.metrics", "Streaming observability"),
]


def first_line(doc: str | None) -> str:
    if not doc:
        return ""
    line = doc.strip().splitlines()[0].strip()
    return line.rstrip(".") + "."


def main() -> None:
    out = [
        "# Operator index",
        "",
        "Every public operator, auto-generated from docstrings by",
        "`tools/gen_operator_index.py` — regenerate after adding",
        "operators. See module docstrings and SURVEY.md for the design",
        "rationale behind each.",
        "",
    ]
    for modname, title in MODULES:
        mod = importlib.import_module(modname)
        rows = []
        for name, fn in sorted(vars(mod).items()):
            if name.startswith("_") or not inspect.isfunction(fn):
                continue
            if fn.__module__ != modname:
                continue  # re-exports live with their definition
            try:
                sig = str(inspect.signature(fn))
            except (TypeError, ValueError):
                sig = "(...)"
            if len(sig) > 80:
                sig = sig[:77] + "...)"
            rows.append(f"- `{name}{sig}` — {first_line(fn.__doc__)}")
        if not rows:
            continue
        out.append(f"## {title} — `{modname}`")
        out.append("")
        out.extend(rows)
        out.append("")
    path = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "docs", "OPERATORS.md")
    with open(path, "w") as f:
        f.write("\n".join(out))
    n = sum(1 for line in out if line.startswith("- `"))
    print(f"wrote {path}: {n} operators")


if __name__ == "__main__":
    main()
