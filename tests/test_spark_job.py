"""Spark-side integration: entry() smoke, extraction job, lineage,
partitioning determinism, checkpoint/resume."""

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF0001


def test_entry_smoke(spark):
    import __spark_entry__ as em

    df = em.entry(spark)
    rows = df.count()
    assert rows == 500
    ok = df.filter("ok").count()
    assert ok == 475  # 25 malformed fixtures error out by design


def test_lineage(spark):
    from pdf_parser_spark.engine import job, source

    pages = source.pages_table(spark, SF0001)
    ext = job.run_extract(pages, n_partitions=8).cache()
    lin = job.lineage(ext).toPandas()
    assert lin.doc_count.sum() == 500
    assert lin.failure_count.sum() == 25
    assert (lin.part_id >= 0).all()
    ext.unpersist()


def test_partition_key_stability(spark):
    """part_id must be a pure function of the data (url), independent of
    cluster size — the property the resume manifest relies on."""
    from pdf_parser_spark.engine import partitioning, source

    pages = source.pages_table(spark, SF0001).select("url", "html")
    a = partitioning.with_partition_key(pages, 32).select("url", "part_id")
    b = partitioning.with_partition_key(
        pages.repartition(3), 32).select("url", "part_id")
    diff = a.join(b.withColumnRenamed("part_id", "p2"), "url") \
            .filter("part_id <> p2").count()
    assert diff == 0


def test_skew_salting_routes_big_docs(spark):
    """Oversized docs are re-keyed on an independent hash stream over
    the FULL range (big-big co-location is the straggler; sharing with
    smalls is cheap — see partitioning module docstring + skew bench)."""
    from pyspark.sql import functions as F

    from pdf_parser_spark.engine import partitioning

    rows = [("u%d" % i, bytearray(100)) for i in range(100)]
    rows += [("big%d" % i, bytearray(1_000_000)) for i in range(8)]
    df = spark.createDataFrame(rows, "url string, html binary")
    keyed = partitioning.with_partition_key(df, 32, big_bytes=10_000)
    big_parts = [r.part_id for r in
                 keyed.filter("url LIKE 'big%'").orderBy("url")
                 .select("part_id").collect()]
    # big part_ids come from the SEEDED stream, not the small-doc hash
    # (a single url can coincide 1/n of the time; the vector cannot)
    unsalted = df.withColumn(
        "part_id",
        F.pmod(F.xxhash64("url"), F.lit(32)).cast("int"))
    plain_parts = [r.part_id for r in
                   unsalted.filter("url LIKE 'big%'").orderBy("url")
                   .select("part_id").collect()]
    assert big_parts != plain_parts
    assert all(0 <= p < 32 for p in big_parts)
    assert keyed.agg(F.max("part_id")).collect()[0][0] < 32
    # determinism: identical corpus -> identical assignment
    again = partitioning.with_partition_key(df, 32, big_bytes=10_000)
    assert keyed.collect() == again.collect()


def test_spread_oversized_round_robin(spark):
    """spread_oversized guarantees <= ceil(k/n) big docs per partition
    (hashing only promises it in expectation): 6 planted big docs over
    32 partitions land in 6 DISTINCT partitions, deterministically."""
    from pyspark.sql import functions as F

    from pdf_parser_spark.engine import partitioning

    rows = [("u%d" % i, bytearray(100)) for i in range(200)]
    rows += [("big%d" % i, bytearray(20_000)) for i in range(6)]
    df = spark.createDataFrame(rows, "url string, html binary")
    keyed = partitioning.spread_oversized(df, 32, big_bytes=10_000)
    per_part = (keyed.where(F.length("html") > 10_000)
                .groupBy("part_id").count().collect())
    assert len(per_part) == 6
    assert max(r["count"] for r in per_part) == 1
    # small docs unaffected: full-range hash
    assert keyed.agg(F.max("part_id")).collect()[0][0] < 32
    # deterministic across invocations (resume-stable part_id)
    again = partitioning.spread_oversized(df, 32, big_bytes=10_000)
    a = sorted(map(tuple, keyed.select("url", "part_id").collect()))
    b = sorted(map(tuple, again.select("url", "part_id").collect()))
    assert a == b


def test_checkpoint_resume(spark, tmp_path):
    """North-rule resume property: kill after K chunks, re-run, output
    complete and no partition processed twice."""
    from pdf_parser_spark.engine import checkpoint, source

    root = str(tmp_path / "ckpt")
    pages = source.pages_table(spark, SF0001)

    checkpoint.run_checkpointed(spark, pages, root, "snap1",
                                n_partitions=8, chunk_size=2,
                                fail_after_chunks=2)
    done1 = checkpoint.completed_partitions(spark, root, "snap1")
    assert len(done1) == 4  # 2 chunks x 2 partitions committed

    committed_before = checkpoint.read_committed(spark, root, "snap1")
    urls_before = {r.url for r in committed_before.select("url").collect()}

    # resume
    checkpoint.run_checkpointed(spark, pages, root, "snap1",
                                n_partitions=8, chunk_size=2)
    done2 = checkpoint.completed_partitions(spark, root, "snap1")
    assert sorted(done2) == list(range(8))

    final = checkpoint.read_committed(spark, root, "snap1")
    assert final.count() == 500
    assert final.select("url").distinct().count() == 500  # no reprocessing dups
    # previously committed rows untouched
    urls_after = {r.url for r in final.select("url").collect()}
    assert urls_before <= urls_after

    # lineage covers every partition exactly once
    lin = spark.read.parquet(f"{root}/lineage")
    assert lin.filter("snapshot_id = 'snap1'") \
              .groupBy("part_id").count().filter("count > 1").count() == 0
    assert lin.agg(F.sum("doc_count")).collect()[0][0] == 500


def test_per_document_password_column(spark):
    """A pages table with a password column opens password-protected
    PDFs E2E (reference cli.py:77 --password, made per-document): the
    right password extracts, a wrong/missing one degrades to an error
    row, and HTML rows ignore the column entirely."""
    from pdf_parser_spark.engine import job
    from pdf_parser_spark.pdf.writer import Page, Text, build_pdf

    locked = build_pdf([Page(texts=[Text(72, 700, "classified text")])],
                       encrypt={"method": "aes-256", "user_pw": "s3cret"})
    rows = [
        ("crawl://locked-ok", bytearray(locked), "s3cret"),
        ("crawl://locked-wrong", bytearray(locked), "nope"),
        ("crawl://locked-none", bytearray(locked), None),
        ("crawl://html", bytearray(b"<html><body><p>plain old page "
                                   b"content here</p></body></html>"),
         "ignored"),
    ]
    pages = spark.createDataFrame(
        rows, "url string, html binary, password string")
    got = {r.url: r for r in job.run_extract(pages, n_partitions=2)
           .collect()}
    assert got["crawl://locked-ok"].ok
    assert "classified text" in got["crawl://locked-ok"].text
    assert not got["crawl://locked-wrong"].ok
    assert got["crawl://locked-wrong"].error_kind == "PDFLoadError"
    assert not got["crawl://locked-none"].ok
    assert got["crawl://html"].ok
    assert "plain old page content" in got["crawl://html"].text


def test_explain_no_extra_shuffle(spark):
    """Plan shape: exactly one Exchange before mapInPandas (the explicit
    part_id shuffle) and column pruning down to (url, html)."""
    from pdf_parser_spark.engine import job, source

    pages = source.pages_table(spark, SF0001)
    ext = job.run_extract(pages, n_partitions=8)
    plan = ext._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1


def test_resume_after_mid_chunk_kill(spark, tmp_path):
    """A job killed AFTER writing a chunk's data but BEFORE its manifest
    row must not duplicate rows on resume (idempotent chunk writes via
    dynamic partition overwrite)."""
    import os

    from pdf_parser_spark.engine import checkpoint, source

    root = str(tmp_path / "ckpt2")
    pages = source.pages_table(spark, SF0001)

    # run chunks 0-1 committed; chunk 2's DATA written manually by running
    # one more chunk then deleting its manifest rows (simulating the kill
    # window between data write and manifest append)
    checkpoint.run_checkpointed(spark, pages, root, "s", n_partitions=8,
                                chunk_size=2, fail_after_chunks=3)
    m = spark.read.parquet(f"{root}/manifest")
    committed = sorted(r.part_id for r in m.collect())
    assert len(committed) == 6
    # drop the last chunk's manifest rows but keep its data files
    keep = committed[:4]
    kept = m.filter(m.part_id.isin(keep)).toPandas()
    import shutil

    shutil.rmtree(f"{root}/manifest")
    spark.createDataFrame(kept).write.mode("overwrite") \
        .parquet(f"{root}/manifest")

    # resume: partitions 4-7 reprocess; their earlier partial data must be
    # REPLACED, not duplicated
    checkpoint.run_checkpointed(spark, pages, root, "s", n_partitions=8,
                                chunk_size=2)
    final = checkpoint.read_committed(spark, root, "s")
    assert final.count() == 500
    assert final.select("url").distinct().count() == 500
    lin = spark.read.parquet(f"{root}/lineage")
    dup = lin.groupBy("part_id").count().filter("count > 1").count()
    assert dup == 0


def test_checkpoint_refuses_foreign_partition_layout(spark, tmp_path):
    """A manifest written under one part_id layout must not resume under
    another — recomputed part_ids would silently skip documents that
    moved into already-committed partitions."""
    import pytest

    from pdf_parser_spark.engine import checkpoint, source
    from tests.conftest import SF0001

    root = str(tmp_path / "layout_ck")
    pages = source.pages_table(spark, SF0001, n_partitions=4)
    checkpoint.run_checkpointed(spark, pages, root, "s1", n_partitions=4,
                                chunk_size=2, fail_after_chunks=1)
    with pytest.raises(ValueError, match="partition layout"):
        checkpoint.run_checkpointed(spark, pages, root, "s1",
                                    n_partitions=4, chunk_size=2,
                                    spread_big=True)
    # same layout resumes fine
    checkpoint.run_checkpointed(spark, pages, root, "s1", n_partitions=4,
                                chunk_size=2)
    assert len(checkpoint.completed_partitions(spark, root, "s1")) == 4


def test_checkpoint_refuses_legacy_root_without_layout(spark, tmp_path):
    """ADVICE r4: a root holding a manifest (or data dir) but NO _layout
    file predates layout stamping — its part_ids were computed under an
    unknown rule, so resume must refuse rather than stamp the CURRENT
    layout and silently skip/duplicate under a changed rule."""
    import os

    import pytest

    from pdf_parser_spark.engine import checkpoint, source
    from tests.conftest import SF0001

    root = str(tmp_path / "legacy_ck")
    pages = source.pages_table(spark, SF0001, n_partitions=4)
    checkpoint.run_checkpointed(spark, pages, root, "s1", n_partitions=4,
                                chunk_size=2, fail_after_chunks=1)
    os.remove(os.path.join(root, "_layout"))  # simulate pre-change root
    with pytest.raises(ValueError, match="no _layout"):
        checkpoint.run_checkpointed(spark, pages, root, "s1",
                                    n_partitions=4, chunk_size=2)
    # restoring the original layout record re-enables resume
    with open(os.path.join(root, "_layout"), "w") as f:
        f.write(checkpoint._layout_id(False, 4))
    checkpoint.run_checkpointed(spark, pages, root, "s1", n_partitions=4,
                                chunk_size=2)
    assert len(checkpoint.completed_partitions(spark, root, "s1")) == 4


def test_checkpoint_refuses_different_n_partitions(spark, tmp_path):
    """Same layout rule, different --partitions: part_id = pmod(hash, n)
    changes for every doc, so resume must refuse (the layout id encodes
    the parameters, not just the rule)."""
    import pytest

    from pdf_parser_spark.engine import checkpoint, source
    from tests.conftest import SF0001

    root = str(tmp_path / "nparts_ck")
    pages = source.pages_table(spark, SF0001, n_partitions=4)
    checkpoint.run_checkpointed(spark, pages, root, "s1", n_partitions=8,
                                chunk_size=4, fail_after_chunks=1)
    with pytest.raises(ValueError, match="partition layout"):
        checkpoint.run_checkpointed(spark, pages, root, "s1",
                                    n_partitions=16, chunk_size=4)


def test_checkpoint_snapshots_share_root_isolated(spark, tmp_path):
    """Two snapshot_ids on ONE root: the second run must not clobber the
    first snapshot's data (data dirs are (snapshot_id, part_id)), and
    each read_committed sees exactly its own snapshot."""
    from pdf_parser_spark.engine import checkpoint, source
    from tests.conftest import SF0001

    root = str(tmp_path / "multi_snap")
    pages = source.pages_table(spark, SF0001, n_partitions=4)
    checkpoint.run_checkpointed(spark, pages, root, "snapA",
                                n_partitions=4, chunk_size=4)
    a_before = checkpoint.read_committed(spark, root, "snapA").count()
    checkpoint.run_checkpointed(spark, pages, root, "snapB",
                                n_partitions=4, chunk_size=4)
    assert checkpoint.read_committed(spark, root, "snapA").count() \
        == a_before == 500
    assert checkpoint.read_committed(spark, root, "snapB").count() == 500


def test_read_committed_empty_root(spark, tmp_path):
    """A root with no committed data (killed before the first chunk)
    reads back as an empty frame, not a PATH_NOT_FOUND error."""
    from pdf_parser_spark.engine import checkpoint

    root = str(tmp_path / "empty_ck")
    assert checkpoint.read_committed(spark, root, "s1").count() == 0


def test_spread_oversized_duplicate_urls_row_preserving(spark):
    """A re-crawled url captured twice (both oversized) must not fan out
    through the rank join-back: one rank per DISTINCT url, both rows
    kept, same part_id."""
    from pdf_parser_spark.engine import partitioning

    rows = [("u%d" % i, bytearray(100)) for i in range(20)]
    rows += [("dup", bytearray(20_000)), ("dup", bytearray(20_000))]
    df = spark.createDataFrame(rows, "url string, html binary")
    keyed = partitioning.spread_oversized(df, 8, big_bytes=10_000)
    assert keyed.count() == 22
    dup_parts = [r.part_id for r in
                 keyed.filter("url = 'dup'").collect()]
    assert len(dup_parts) == 2 and dup_parts[0] == dup_parts[1]


def test_extraction_paths_agree(spark, tmp_path):
    """The batch, checkpointed and streaming plans share one plan builder
    and one batch kernel: at equal n_partitions they return identical
    rows, and with_spans=True only adds the spans column."""
    from pdf_parser_spark.engine import checkpoint, job, source
    from pdf_parser_spark.streaming.job import extract_stream

    pages = source.pages_table(spark, SF0001, n_partitions=4)
    cols = [f.name for f in job.EXTRACTED_SCHEMA]
    batch = job.run_extract(pages, n_partitions=8).select(*cols).cache()
    root = str(tmp_path / "ckpt")
    checkpoint.run_checkpointed(spark, pages, root, "s", n_partitions=8,
                                chunk_size=4)
    others = {
        "checkpointed": checkpoint.read_committed(spark, root, "s")
                                  .drop("snapshot_id"),
        "stream": extract_stream(pages, n_partitions=8),
        "spans": job.run_extract(pages, n_partitions=8, with_spans=True)
                    .drop("spans"),
    }
    try:
        n = batch.count()
        assert n == 500
        for name, df in others.items():
            df = df.select(*cols)
            assert df.count() == n, name
            assert df.exceptAll(batch).count() == 0, name
            assert batch.exceptAll(df).count() == 0, name
    finally:
        batch.unpersist()
