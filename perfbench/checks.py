"""Output checks. They run outside every timed interval; each returns the
number of failed operations (documents or queries)."""

from __future__ import annotations

import pandas as pd

EXTRACT_COLS = ["url", "doc_type", "error_kind", "body_text"]


def _norm(s) -> str:
    return " ".join(str(s).split()) if s is not None else ""


def extraction(out: pd.DataFrame, pages: pd.DataFrame) -> int:
    """Input documents whose output is missing, duplicated or wrong.

    Per input doc: exactly one output row; ``doc_type`` follows the
    ``doc_id % 20`` routing; ``PDFLoadError`` exactly on the malformed
    fixtures; and every other doc's whitespace-normalized ``body_text``
    equals its source body (heavy-tail repetition included). Output rows
    for urls that are not in the input count as failures too."""
    from pdf_parser_spark.datagen.pages import doc_body_text, doc_kind

    unique = out.drop_duplicates("url", keep=False)
    rows = dict(zip(unique["url"], zip(unique["doc_type"],
                                       unique["error_kind"],
                                       unique["body_text"])))
    failed = int((~out["url"].isin(pages["url"])).sum())
    for doc_id, url, text in zip(pages["doc_id"], pages["url"],
                                 pages["text"]):
        if url not in rows:  # missing or duplicated
            failed += 1
            continue
        doc_type, error_kind, body = rows[url]
        kind = doc_kind(int(doc_id))
        ok = (doc_type == ("html" if kind == "html" else "pdf")
              and (error_kind == "PDFLoadError") == (kind == "bad"))
        if ok and kind != "bad":
            ok = (error_kind is None and _norm(body)
                  == _norm(doc_body_text(text, int(doc_id))))
        failed += not ok
    return min(len(pages), failed)


def row_diff(a: pd.DataFrame, b: pd.DataFrame) -> int:
    """Rows of either frame missing from the other, counted as
    multisets; frames with different columns differ in every row."""
    from collections import Counter

    if sorted(a.columns) != sorted(b.columns):
        return max(len(a), len(b), 1)
    cols = sorted(a.columns)
    ca, cb = (Counter(map(tuple, df[cols].astype(str).values.tolist()))
              for df in (a, b))
    return sum(((ca - cb) + (cb - ca)).values())


class Oracle:
    """DuckDB answers of ``oracle_sql()`` over the generated tables,
    compared with ``tools.check_oracle.value_hash``."""

    def __init__(self, sf_dir: str, tables):
        import duckdb

        import __spark_entry__ as entry

        self.con = duckdb.connect()
        for t in tables:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{sf_dir}/{t}.parquet/*.parquet')")
        self.sql = entry.oracle_sql()
        self.hashes: dict[str, tuple[int, list[str], str]] = {}

    def expected(self, name: str):
        if name not in self.hashes:
            from tools.check_oracle import value_hash

            df = self.con.execute(self.sql[name]).fetchdf()
            self.hashes[name] = (len(df), sorted(df.columns),
                                 value_hash(df))
        return self.hashes[name]

    def matches(self, name: str, got: pd.DataFrame) -> bool:
        from tools.check_oracle import value_hash

        rows, cols, h = self.expected(name)
        return (len(got) == rows and sorted(got.columns) == cols
                and value_hash(got) == h)

    def close(self) -> None:
        self.con.close()
