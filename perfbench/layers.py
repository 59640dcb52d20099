"""Per-layer measurements of the traced run.

Kernel layers run in this process (one core), through each layer's
public function, with a span around every call. Spark-boundary layers
are timed with noop sinks.
"""

from __future__ import annotations

import statistics
import time
from collections.abc import Iterator

import numpy as np
import pandas as pd

from .tracing import Tracer, timed

LAYER_SAMPLE_DOCS = 2_000


def _pct(values: list[float], q: float) -> float:
    return float(np.percentile(values, q)) * 1000.0 if values else 0.0


def kernel(pages: pd.DataFrame, seed: int, tr: Tracer) -> dict[str, float]:
    """extract_document over every page, then the kernel layers one by
    one on a seed-derived sample; ms per doc (or page) by doc class."""
    from pdf_parser_spark.datagen.pages import (
        SKEW_EVERY, doc_kind, encrypt_for,
    )
    from pdf_parser_spark.extractor import extract_document
    from pdf_parser_spark.html.extract import extract_html
    from pdf_parser_spark.layout.analyzer import analyze_page
    from pdf_parser_spark.layout.ir import DocIR
    from pdf_parser_spark.pdf.tokenizer import parse_pdf
    from pdf_parser_spark.render.formatter import format_document

    ids = pages["doc_id"].astype(int).tolist()
    blobs = [bytes(b) for b in pages["html"]]
    classes = [doc_kind(i) for i in ids]  # pdf, html or bad
    for doc_id, cls, url, blob in zip(ids, classes, pages["url"], blobs):
        name = "heavy_tail" if doc_id % SKEW_EVERY == 0 else cls
        with tr.span(f"extractor.extract_document.{name}"):
            extract_document(url, blob)
    kernel_s = sum(tr.total(f"extractor.extract_document.{c}")
                   for c in ("pdf", "html", "bad", "heavy_tail"))

    rng = np.random.default_rng(seed)
    sample = rng.choice(len(ids), min(LAYER_SAMPLE_DOCS, len(ids)),
                        replace=False)
    enc, layer_s = [], {"pdf": 0.0, "html": 0.0}
    n_sample = {"pdf": 0, "html": 0}
    for i in sample:
        cls = classes[i]
        if cls == "html":
            with timed() as s, tr.span("html.extract_html"):
                extract_html(blobs[i])
            layer_s["html"] += s.wall
            n_sample["html"] += 1
        elif cls == "pdf":
            with timed() as s:
                with tr.span("pdf.parse_pdf"):
                    t0 = time.perf_counter()
                    pdf = parse_pdf(blobs[i])
                    if encrypt_for(ids[i]):
                        enc.append(time.perf_counter() - t0)
                analyzed = []
                for p in pdf.pages:
                    with tr.span("layout.analyze_page"):
                        analyzed.append(analyze_page(p))
                with tr.span("render.format_document"):
                    format_document(DocIR(pages=analyzed))
            layer_s["pdf"] += s.wall
            n_sample["pdf"] += 1

    # layer time scaled from the sample to every doc of its class
    n_all = {c: classes.count(c) for c in layer_s}
    layers_est = sum(layer_s[c] / n_sample[c] * n_all[c]
                     for c in layer_s if n_sample[c])
    ext = lambda c: tr.durations(f"extractor.extract_document.{c}")
    return {
        "pdf.parse_pdf.ms_per_doc.p50": _pct(tr.durations("pdf.parse_pdf"),
                                             50),
        "pdf.parse_pdf.ms_per_doc.p99": _pct(tr.durations("pdf.parse_pdf"),
                                             99),
        "pdf.parse_pdf.ms_per_doc.encrypted.p50": _pct(enc, 50),
        "layout.analyze_page.ms_per_page.p50": _pct(
            tr.durations("layout.analyze_page"), 50),
        "layout.analyze_page.ms_per_page.p99": _pct(
            tr.durations("layout.analyze_page"), 99),
        "render.format_document.ms_per_doc.p50": _pct(
            tr.durations("render.format_document"), 50),
        "html.extract_html.ms_per_doc.p50": _pct(
            tr.durations("html.extract_html"), 50),
        "html.extract_html.ms_per_doc.p99": _pct(
            tr.durations("html.extract_html"), 99),
        "extractor.extract_document.ms_per_doc.pdf.p50": _pct(ext("pdf"), 50),
        "extractor.extract_document.ms_per_doc.html.p50": _pct(ext("html"),
                                                                50),
        "extractor.extract_document.ms_per_doc.bad.p50": _pct(ext("bad"), 50),
        "extractor.extract_document.ms_per_doc.heavy_tail.p50": _pct(
            ext("heavy_tail"), 50),
        "extractor.kernel_s": kernel_s,
        "reconcile.kernel_layers_over_kernel": layers_est / kernel_s,
    }


def _identity(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    yield from batches


def noop(df) -> None:
    """Compute every column of ``df`` into Spark's noop sink."""
    df.write.format("noop").mode("overwrite").save()


def arrow_roundtrip(spark, pages_dir: str) -> None:
    """Identity mapInPandas over the columns run_extract ships."""
    noop(spark.read.parquet(pages_dir).select("url", "html")
          .mapInPandas(_identity, "url string, html binary"))


def boundary(spark, pages_dir: str, reps: int = 3) -> dict[str, float]:
    """Warm Arrow round trip, scan and input skew of the pages table."""
    from pyspark.sql import functions as F

    arrow_roundtrip(spark, pages_dir)  # warm-up
    walls, scans = [], []
    for _ in range(reps):
        with timed(walls):
            arrow_roundtrip(spark, pages_dir)
        with timed(scans):
            noop(spark.read.parquet(pages_dir).select("url", "html"))
    per_part = [r[0] for r in (
        spark.read.parquet(pages_dir)
        .groupBy(F.spark_partition_id().alias("p"))
        .agg(F.sum(F.length("html")).alias("b")).select("b").collect())]
    return {
        "engine.arrow_roundtrip_s": statistics.median(s.wall for s in walls),
        "engine.source.scan_s": statistics.median(s.wall for s in scans),
        "engine.partition_bytes_skew": max(per_part)
        / statistics.median(per_part),
    }


def worker_start(spark) -> float:
    """First minus warm identity stage over a small in-memory frame; run
    it as the session's first Python stage."""
    df = spark.range(0, 4096, numPartitions=4).selectExpr("id AS x")
    walls = []
    for _ in range(4):
        with timed(walls):
            noop(df.mapInPandas(_identity, "x long"))
    return walls[0].wall - statistics.median(s.wall for s in walls[1:])


def tasks_failed(spark, groups) -> int:
    """numFailedTasks summed over the stages of the jobs in ``groups``
    (None is the jobs submitted outside any job group)."""
    st = spark.sparkContext.statusTracker()
    n = 0
    for job_id in (j for g in groups for j in st.getJobIdsForGroup(g)):
        info = st.getJobInfo(job_id)
        for stage_id in (info.stageIds if info else []):
            stage = st.getStageInfo(stage_id)
            n += stage.numFailedTasks if stage else 0
    return n
