"""The extraction job: pages DataFrame -> extracted table (+ lineage).

All per-document compute runs inside ``mapInPandas`` (Arrow batches,
iterator form — one Python worker per task, batches streamed through).
No per-row Python UDFs, no RDDs, no driver-side loops.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType, BooleanType, DoubleType, IntegerType, LongType, StringType,
    StructField, StructType,
)

from ..extractor import extract_document

EXTRACTED_SCHEMA = StructType([
    StructField("url", StringType()),
    StructField("part_id", IntegerType()),
    StructField("doc_type", StringType()),
    StructField("text", StringType()),
    StructField("body_text", StringType()),
    StructField("n_pages", IntegerType()),
    StructField("n_blocks", IntegerType()),
    StructField("n_tables", IntegerType()),
    StructField("bytes_in", LongType()),
    StructField("ok", BooleanType()),
    StructField("error_kind", StringType()),
    StructField("error_message", StringType()),
    StructField("title", StringType()),
])

LINEAGE_COLS = ["part_id", "doc_count", "failure_count", "bytes_in",
                "pages_out", "blocks_out", "tables_out"]

# TESTDATA.md §5 output contract: span offsets into the formatted text
SPAN_TYPE = StructType([
    StructField("page", IntegerType()),
    StructField("text", StringType()),
    StructField("x0", DoubleType()),
    StructField("y0", DoubleType()),
    StructField("x1", DoubleType()),
    StructField("y1", DoubleType()),
    StructField("font", StringType()),
    StructField("size", DoubleType()),
    StructField("bold", BooleanType()),
    StructField("italic", BooleanType()),
    StructField("offset", LongType()),
    StructField("length", LongType()),
])

EXTRACTED_SPANS_SCHEMA = StructType(
    EXTRACTED_SCHEMA.fields + [StructField("spans", ArrayType(SPAN_TYPE))])


def _passwords(pdf: pd.DataFrame) -> pd.Series:
    """Optional per-document password column (empty/NaN/non-string ->
    None; NaN is truthy, so a plain falsy check would pass a float to
    the PDF parser and crash the executor instead of degrading)."""
    if "password" in pdf.columns:
        return pdf["password"].map(
            lambda p: p if isinstance(p, str) and p else None)
    return pd.Series([None] * len(pdf))


def _extract_batches(batches: Iterator[pd.DataFrame],
                     with_spans: bool = False) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: the one per-document batch loop. Runs on
    executors; must stay importable from the shipped package
    (spark-submit --py-files). ``with_spans`` adds the nested spans
    column of EXTRACTED_SPANS_SCHEMA."""
    # NB: gc.disable()/threshold tuning was measured here and LOST to the
    # default collector (pandas frames carry cycles; uncollected garbage
    # slows the allocator more than GC costs). Keep default GC.
    schema = EXTRACTED_SPANS_SCHEMA if with_spans else EXTRACTED_SCHEMA
    columns = [f.name for f in schema]
    for pdf in batches:
        rows = []
        part_ids = (pdf["part_id"] if "part_id" in pdf.columns
                    else pd.Series([-1] * len(pdf)))
        for url, blob, part_id, pw in zip(pdf["url"], pdf["html"],
                                          part_ids, _passwords(pdf)):
            data = bytes(blob) if blob is not None else None
            r = extract_document(url, data, with_spans=with_spans,
                                 password=pw)
            row = {
                "url": r.url,
                "part_id": int(part_id),
                "doc_type": r.doc_type,
                "text": r.text,
                "body_text": r.body_text,
                "n_pages": r.n_pages,
                "n_blocks": r.n_blocks,
                "n_tables": r.n_tables,
                "bytes_in": len(data) if data is not None else 0,
                "ok": r.error_kind is None,
                "error_kind": r.error_kind,
                "error_message": r.error_message,
                "title": r.metadata.get("title"),
            }
            if with_spans:
                row["spans"] = r.spans
            rows.append(row)
        yield pd.DataFrame(rows, columns=columns)


def _extract_batches_with_spans(batches: Iterator[pd.DataFrame]
                                ) -> Iterator[pd.DataFrame]:
    """_extract_batches with the spans column; a named function (not a
    functools.partial) so the plan's MapInPandas node keeps its name."""
    return _extract_batches(batches, with_spans=True)


# part_id rule, written once: the layout tag names it, so a rule change
# edits both here and checkpoints written under the old rule refuse to
# resume (engine.checkpoint._check_layout).
PART_ID_LAYOUT = "v4-urlhash"


def keyed_input(pages: DataFrame, n_partitions: int) -> DataFrame:
    """Project the columns the kernel reads and add part_id.

    (url, html) plus the optional per-document password column, and
    part_id, the url's hash mod ``n_partitions``: a pure function of
    the url, so it is stable across runs and cluster sizes (what makes
    the checkpoint manifest resumable). part_id is a logical column and
    the checkpoint's chunk key; it does not place rows on tasks. Column
    pruning keeps warc_ts/text/lang off the Arrow boundary."""
    cols = ["url", "html"] + (["password"] if "password" in pages.columns
                              else [])
    part_id = F.pmod(F.xxhash64("url"), F.lit(n_partitions)).cast("int")
    return pages.select(*cols, part_id.alias("part_id"))


def extract_keyed(keyed: DataFrame, with_spans: bool = False) -> DataFrame:
    """Run keyed rows through the one batch kernel (mapInPandas).

    ``keyed`` is keyed_input's frame or a row subset / placement of it
    (the checkpoint's chunk filter and repartition)."""
    if with_spans:
        return keyed.mapInPandas(_extract_batches_with_spans,
                                 EXTRACTED_SPANS_SCHEMA)
    return keyed.mapInPandas(_extract_batches, EXTRACTED_SCHEMA)


def run_extract(pages: DataFrame, n_partitions: int | None = None,
                with_spans: bool = False) -> DataFrame:
    """pages(url, warc_ts, html, text, lang) -> extracted DataFrame.

    Plan shape: scan -> project(url, html) + part_id -> mapInPandas.

    Extraction runs in the INPUT's partitions — per-document parsing is
    embarrassingly parallel, and moving the html bytes through a shuffle
    just to rearrange rows costs more than the parse itself (measured:
    ~2s floor for 47 MB locally; at 100 TB it's the whole job). Source
    parallelism (scan splits / pages_table's narrow repartition) is the
    parallelism; part_id stays a logical column. The checkpointed path
    (engine.checkpoint) is the one that shuffles, per chunk."""
    if n_partitions is None:
        n_partitions = pages.sparkSession.sparkContext.defaultParallelism * 2
    return extract_keyed(keyed_input(pages, n_partitions), with_spans)


def run_extract_fused(docs: DataFrame,
                      n_partitions: int | None = None) -> DataFrame:
    """Fused synth+extract over the documents table: one python stage, one
    Arrow hop — the plan shape a production job has when reading a
    materialized pages table directly from storage (scan -> extract, no
    intermediate page-bytes transport). Used by the benchmarks; semantics
    identical to source.pages_table |> run_extract (tested)."""
    from ..datagen.pages import build_pages_pdf

    spark = docs.sparkSession
    if n_partitions is None:
        n_partitions = spark.sparkContext.defaultParallelism

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pages = build_pages_pdf(pdf)
            pages["part_id"] = -1
            yield from _extract_batches(iter([pages]))

    return (docs.select("doc_id", "text", "lang")
            .repartition(n_partitions, F.col("doc_id"))
            .mapInPandas(kernel, EXTRACTED_SCHEMA))


def lineage(extracted: DataFrame) -> DataFrame:
    """Per-partition lineage/metrics rows (north rule: doc counts,
    parse-failure tallies, bytes). Pure relational aggregation — Catalyst
    plans a partial+final agg, no extra Python."""
    return (
        extracted.groupBy("part_id")
        .agg(
            F.count("*").alias("doc_count"),
            F.sum(F.when(~F.col("ok"), 1).otherwise(0)).alias("failure_count"),
            F.sum("bytes_in").alias("bytes_in"),
            F.sum("n_pages").alias("pages_out"),
            F.sum("n_blocks").alias("blocks_out"),
            F.sum("n_tables").alias("tables_out"),
        )
    )
