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


def test_partition_key_stability(spark, tmp_path):
    """part_id = pmod(xxhash64(url), n) on every row, whatever the
    document's size — a pure function of the url, independent of
    cluster size (the property the resume manifest relies on) — and
    the batch, checkpointed and streaming paths all carry it."""
    from pdf_parser_spark.engine import checkpoint, job, source
    from pdf_parser_spark.streaming.job import extract_stream

    n = 8
    big = ("<html><body>" + ("<p>" + "alpha beta gamma delta " * 50
                             + "</p>\n") * 1000 + "</body></html>").encode()
    assert len(big) > 1_000_000
    bigs = spark.createDataFrame(
        [("crawl://big%d" % i, bytearray(big)) for i in range(4)],
        "url string, html binary")
    pages = (source.pages_table(spark, SF0001, n_partitions=4)
             .select("url", "html").unionByName(bigs))

    a = job.keyed_input(pages, 32).select("url", "part_id")
    b = job.keyed_input(pages.repartition(3), 32).select("url", "part_id")
    diff = a.join(b.withColumnRenamed("part_id", "p2"), "url") \
            .filter("part_id <> p2").count()
    assert diff == 0

    root = str(tmp_path / "ckpt")
    checkpoint.run_checkpointed(spark, pages, root, "s", n_partitions=n,
                                chunk_size=n)
    outputs = {
        "run_extract": job.run_extract(pages, n_partitions=n),
        "checkpointed": checkpoint.read_committed(spark, root, "s"),
        "stream": extract_stream(pages, n_partitions=n),
    }
    off_rule = F.col("part_id") != F.pmod(F.xxhash64("url"), F.lit(n))
    for name, df in outputs.items():
        rows, bigs, off = df.agg(
            F.count("*"),
            F.sum((F.col("bytes_in") > 1_000_000).cast("int")),
            F.sum(off_rule.cast("int"))).first()
        assert (rows, bigs, off) == (504, 4, 0), name


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
    """A manifest written under another part_id rule (here the former
    size-salted one) must not resume under the current rule —
    recomputed part_ids would silently skip documents that moved into
    already-committed partitions."""
    import os

    import pytest

    from pdf_parser_spark.engine import checkpoint, job, source
    from tests.conftest import SF0001

    root = str(tmp_path / "layout_ck")
    pages = source.pages_table(spark, SF0001, n_partitions=4)
    checkpoint.run_checkpointed(spark, pages, root, "s1", n_partitions=4,
                                chunk_size=2, fail_after_chunks=1)
    stamp = os.path.join(root, "_layout")
    with open(stamp) as f:
        assert f.read() == f"{job.PART_ID_LAYOUT}/n=4"
    with open(stamp, "w") as f:
        f.write("v3-fullrange-salt/n=4/big=16000")
    with pytest.raises(ValueError, match="partition layout") as err:
        checkpoint.run_checkpointed(spark, pages, root, "s1",
                                    n_partitions=4, chunk_size=2)
    assert str(err.value).endswith("start a fresh --out/--snapshot")
    assert len(checkpoint.completed_partitions(spark, root, "s1")) == 2


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
        f.write(checkpoint._layout_id(4))
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
