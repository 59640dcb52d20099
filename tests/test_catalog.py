"""Snapshot catalog (Iceberg emulation): append/overwrite, snapshot
isolation, time travel."""


def test_snapshot_append_and_time_travel(spark, tmp_path):
    from pdf_parser_spark.engine import catalog

    tdir = str(tmp_path / "tbl")
    df1 = spark.range(0, 10).withColumnRenamed("id", "v")
    s1 = catalog.commit(df1, tdir, "append")
    df2 = spark.range(10, 15).withColumnRenamed("id", "v")
    s2 = catalog.commit(df2, tdir, "append")

    assert catalog.read_snapshot(spark, tdir, s1).count() == 10
    assert catalog.read_snapshot(spark, tdir, s2).count() == 15
    assert catalog.read_snapshot(spark, tdir).count() == 15  # current
    assert catalog.current_snapshot(tdir) == s2

    hist = catalog.history(tdir)
    assert [h["sequence"] for h in hist] == [1, 2]
    assert hist[1]["parent"] == s1


def test_snapshot_overwrite(spark, tmp_path):
    from pdf_parser_spark.engine import catalog

    tdir = str(tmp_path / "tbl")
    s1 = catalog.commit(spark.range(100).withColumnRenamed("id", "v"),
                        tdir, "append")
    s2 = catalog.commit(spark.range(3).withColumnRenamed("id", "v"),
                        tdir, "overwrite")
    assert catalog.read_snapshot(spark, tdir, s2).count() == 3
    # old snapshot still fully readable (isolation)
    assert catalog.read_snapshot(spark, tdir, s1).count() == 100


def test_extraction_pipeline_over_snapshots(spark, tmp_path):
    """End-to-end: pages table committed as a snapshot, extraction reads
    a pinned snapshot id while a new append lands."""
    from pdf_parser_spark.engine import catalog, job, source
    from tests.conftest import SF0001

    tdir = str(tmp_path / "pages_tbl")
    pages = source.pages_table(spark, SF0001)
    s1 = catalog.commit(pages.limit(200), tdir, "append")
    pinned = catalog.read_snapshot(spark, tdir, s1)
    catalog.commit(pages.limit(300), tdir, "append")  # concurrent append
    ext = job.run_extract(pinned, n_partitions=8)
    assert ext.count() == 200  # snapshot isolation held


def test_incremental_append_scan(spark, tmp_path):
    """read_appends returns ONLY the rows added between two snapshots —
    the 'process just the new crawl increment' primitive."""
    from pdf_parser_spark.engine import catalog

    tdir = str(tmp_path / "inc_tbl")
    s1 = catalog.commit(spark.range(0, 10), tdir, "append")
    s2 = catalog.commit(spark.range(10, 25), tdir, "append")
    s3 = catalog.commit(spark.range(25, 30), tdir, "append")

    inc = catalog.read_appends(spark, tdir, s1, s3).toPandas()
    assert sorted(inc.id) == list(range(10, 30))
    inc12 = catalog.read_appends(spark, tdir, s1, s2).toPandas()
    assert sorted(inc12.id) == list(range(10, 25))
    # same-snapshot delta is empty with a stable schema
    assert catalog.read_appends(spark, tdir, s3, s3).count() == 0


def test_incremental_scan_refuses_overwrite_boundary(spark, tmp_path):
    import pytest

    from pdf_parser_spark.engine import catalog

    tdir = str(tmp_path / "ow_tbl")
    s1 = catalog.commit(spark.range(0, 10), tdir, "append")
    catalog.commit(spark.range(0, 3), tdir, "overwrite")
    s3 = catalog.commit(spark.range(3, 6), tdir, "append")
    with pytest.raises(ValueError, match="overwrite"):
        catalog.read_appends(spark, tdir, s1, s3)


def test_rollback_preserves_history(spark, tmp_path):
    from pdf_parser_spark.engine import catalog

    tdir = str(tmp_path / "rb_tbl")
    s1 = catalog.commit(spark.range(0, 10), tdir, "append")
    s2 = catalog.commit(spark.range(10, 20), tdir, "append")
    rb = catalog.rollback(tdir, s1)
    # current view = s1's data; s2 still time-travelable
    assert catalog.current_snapshot(tdir) == rb
    assert catalog.read_snapshot(spark, tdir).count() == 10
    assert catalog.read_snapshot(spark, tdir, s2).count() == 20
    ops = [h["operation"] for h in catalog.history(tdir)]
    assert ops == ["append", "append", "rollback"]


def test_schema_evolution_add_column(spark, tmp_path):
    """Iceberg-style add-column evolution: an append carrying a new
    column evolves the table schema; rows written before the column
    existed read back NULL for it, time travel reads the OLD schema,
    and the incremental scan uses the evolved one."""
    from pdf_parser_spark.engine import catalog

    tdir = str(tmp_path / "evo_tbl")
    s1 = catalog.commit(
        spark.createDataFrame([(1, "a"), (2, "b")], "id long, name string"),
        tdir, "append")
    s2 = catalog.commit(
        spark.createDataFrame([(3, "c", 0.9)],
                              "id long, name string, quality double"),
        tdir, "append")

    cur = catalog.read_snapshot(spark, tdir)
    assert set(cur.columns) == {"id", "name", "quality"}
    rows = {r.id: r.quality for r in cur.collect()}
    assert rows == {1: None, 2: None, 3: 0.9}

    # time travel: the old snapshot keeps its own (pre-column) schema
    old = catalog.read_snapshot(spark, tdir, s1)
    assert set(old.columns) == {"id", "name"}

    # incremental scan reads the evolved schema
    inc = catalog.read_appends(spark, tdir, s1, s2)
    assert set(inc.columns) == {"id", "name", "quality"}
    assert inc.count() == 1

    # rollback restores the pre-evolution schema
    catalog.rollback(tdir, s1)
    assert set(catalog.read_snapshot(spark, tdir).columns) == {"id", "name"}


def test_schema_evolution_guards(spark, tmp_path):
    """Appends cannot silently narrow or retype the table: a column the
    append lacks STAYS in the schema (its new files read back NULL),
    and a type change is refused loudly."""
    import pytest

    from pdf_parser_spark.engine import catalog

    tdir = str(tmp_path / "guard_tbl")
    catalog.commit(
        spark.createDataFrame([(1, "a")], "id long, name string"),
        tdir, "append")
    # narrowing append: name column survives; new row reads NULL name
    catalog.commit(spark.createDataFrame([(2,)], "id long"),
                   tdir, "append")
    cur = catalog.read_snapshot(spark, tdir)
    assert set(cur.columns) == {"id", "name"}
    assert {r.id: r.name for r in cur.collect()} == {1: "a", 2: None}
    # retype is refused (old files would be unreadable under the pin)
    with pytest.raises(ValueError, match="type change"):
        catalog.commit(
            spark.createDataFrame([("3", "c")], "id string, name string"),
            tdir, "append")


def test_compact_small_files_data_identical(spark, tmp_path):
    """Compaction rewrites many small files into few as a 'replace'
    snapshot: same rows, fewer files, old snapshots untouched, and
    incremental scans SKIP the replace (it adds no rows)."""
    from pdf_parser_spark.engine import catalog

    tdir = str(tmp_path / "tbl")
    # three appends x 4 partitions each = 12 small files
    s_ids = []
    for lo in (0, 100, 200):
        df = spark.range(lo, lo + 100).withColumnRenamed("id", "v") \
            .repartition(4)
        s_ids.append(catalog.commit(df, tdir, "append"))
    pre = catalog._manifest(tdir, s_ids[-1])
    assert len(pre["files"]) == 12
    sc = catalog.compact(spark, tdir)
    assert sc is not None
    post = catalog._manifest(tdir, sc)
    assert post["operation"] == "replace"
    assert len(post["files"]) < 12
    # data identical, old reader unaffected
    got = sorted(r.v for r in catalog.read_snapshot(spark, tdir).collect())
    assert got == list(range(300))
    assert catalog.read_snapshot(spark, tdir, s_ids[0]).count() == 100
    # incremental scan across the compaction sees only appended rows
    inc = catalog.read_appends(spark, tdir, s_ids[0])
    assert sorted(r.v for r in inc.collect()) == list(range(100, 300))
    # append AFTER compaction still incremental-scans cleanly
    s4 = catalog.commit(
        spark.range(300, 310).withColumnRenamed("id", "v"), tdir)
    inc2 = catalog.read_appends(spark, tdir, sc)
    assert sorted(r.v for r in inc2.collect()) == list(range(300, 310))
    assert s4 == catalog.current_snapshot(tdir)
    # idempotence: a freshly compacted table has nothing to compact
    # (the new big files exceed the small threshold)
    assert catalog.compact(spark, tdir, small_bytes=10) is None


def test_delete_where_prunes_files_from_bounds(spark, tmp_path):
    """Predicate delete classifies files from MANIFEST bounds: a delete
    aligned with the append partitioning drops/keeps whole files and
    rewrites only the overlapping one — without reading kept files."""
    from pdf_parser_spark.engine import catalog

    tdir = str(tmp_path / "tbl")
    # one file per day-aligned append: [0,100), [100,200), [200,300)
    for lo in (0, 100, 200):
        df = spark.range(lo, lo + 100).withColumnRenamed("id", "v") \
            .coalesce(1)
        catalog.commit(df, tdir, "append")
    s_pre = catalog.current_snapshot(tdir)
    snap, stats = catalog.delete_where(spark, tdir, "v", "<", 150)
    # file [0,100) all-matches -> dropped whole; [200,300) none -> kept
    # whole; [100,200) overlaps -> rewritten
    assert stats == {"dropped": 1, "kept": 1, "rewritten": 1}
    got = sorted(r.v for r in catalog.read_snapshot(spark, tdir).collect())
    assert got == list(range(150, 300))
    # history intact: the pre-delete snapshot still sees everything
    assert catalog.read_snapshot(spark, tdir, s_pre).count() == 300
    # equality delete on an exactly-covered file
    snap2, stats2 = catalog.delete_where(spark, tdir, "v", ">=", 200)
    assert stats2["dropped"] == 1 and stats2["rewritten"] == 0
    assert catalog.read_snapshot(spark, tdir).count() == 50


def test_delete_where_null_rows_survive(spark, tmp_path):
    """NULL never matches a comparison predicate: null rows are kept,
    and a file containing nulls is never dropped whole."""
    from pdf_parser_spark.engine import catalog

    tdir = str(tmp_path / "tbl")
    df = spark.createDataFrame([(1,), (2,), (None,)], "v int").coalesce(1)
    catalog.commit(df, tdir, "append")
    _, stats = catalog.delete_where(spark, tdir, "v", "<=", 2)
    assert stats["dropped"] == 0  # nulls block drop-whole
    rows = catalog.read_snapshot(spark, tdir).collect()
    assert [r.v for r in rows] == [None]


def test_expire_snapshots_gc(spark, tmp_path):
    """Expiry drops old manifests and garbage-collects files only the
    expired snapshots referenced; surviving snapshots keep reading."""
    import os

    import pytest

    from pdf_parser_spark.engine import catalog

    tdir = str(tmp_path / "tbl")
    s1 = catalog.commit(spark.range(50).withColumnRenamed("id", "v")
                        .repartition(4), tdir, "append")
    s2 = catalog.commit(spark.range(50, 100).withColumnRenamed("id", "v")
                        .repartition(4), tdir, "append")
    sc = catalog.compact(spark, tdir)
    n_files_pre = len(os.listdir(os.path.join(tdir, "data")))
    out = catalog.expire_snapshots(tdir, keep_last=1, gc_grace_s=0)
    assert set(out["expired"]) == {s1, s2}
    # the 8 superseded small files are gone, compacted files remain
    assert out["removed_files"] == 8
    assert len(os.listdir(os.path.join(tdir, "data"))) == n_files_pre - 8
    assert catalog.read_snapshot(spark, tdir).count() == 100
    assert catalog.current_snapshot(tdir) == sc
    # time travel to an expired snapshot is gone (Iceberg contract)
    with pytest.raises(FileNotFoundError):
        catalog.read_snapshot(spark, tdir, s1)
    # nothing left to expire
    assert catalog.expire_snapshots(tdir, keep_last=1, gc_grace_s=0) == {
        "expired": [], "removed_files": 0}


def test_expire_keeps_files_shared_with_survivors(spark, tmp_path):
    """A data file referenced by BOTH an expired and a surviving
    snapshot must survive GC (append chains share files)."""
    from pdf_parser_spark.engine import catalog

    tdir = str(tmp_path / "tbl")
    catalog.commit(spark.range(10).withColumnRenamed("id", "v")
                   .coalesce(1), tdir, "append")
    catalog.commit(spark.range(10, 20).withColumnRenamed("id", "v")
                   .coalesce(1), tdir, "append")
    out = catalog.expire_snapshots(tdir, keep_last=1, gc_grace_s=0)
    assert out["removed_files"] == 0  # snapshot 2 references both files
    assert sorted(
        r.v for r in catalog.read_snapshot(spark, tdir).collect()
    ) == list(range(20))


def test_incremental_scan_refuses_expired_range(spark, tmp_path):
    """If expiry GC'd the data files an incremental range needs, the
    scan fails loudly instead of returning partial rows."""
    import pytest

    from pdf_parser_spark.engine import catalog

    tdir = str(tmp_path / "tbl")
    s1 = catalog.commit(spark.range(10).withColumnRenamed("id", "v"),
                        tdir, "append")
    catalog.commit(spark.range(10, 20).withColumnRenamed("id", "v"),
                   tdir, "append")
    catalog.compact(spark, tdir)
    catalog.expire_snapshots(tdir, keep_last=1, gc_grace_s=0)
    with pytest.raises((FileNotFoundError, ValueError)):
        catalog.read_appends(spark, tdir, s1)


def test_concurrent_appends_both_land(spark, tmp_path):
    """Optimistic concurrency (Iceberg commit retry): two appends racing
    on the same head must BOTH land — the sequence-number CAS makes one
    retry against the other's snapshot instead of silently dropping its
    files from the lineage (lost update)."""
    import threading

    from pdf_parser_spark.engine import catalog

    tdir = str(tmp_path / "tbl")
    catalog.commit(spark.range(10).withColumnRenamed("id", "v"),
                   tdir, "append")

    errs = []

    def appender(lo):
        try:
            catalog.commit(
                spark.range(lo, lo + 10).withColumnRenamed("id", "v"),
                tdir, "append")
        except Exception as e:  # surfaced below
            errs.append(e)

    ts = [threading.Thread(target=appender, args=(lo,))
          for lo in (100, 200, 300)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errs
    got = sorted(r.v for r in catalog.read_snapshot(spark, tdir).collect())
    assert got == list(range(10)) + list(range(100, 110)) \
        + list(range(200, 210)) + list(range(300, 310))
    # one linear history: sequences are consecutive, parents chain
    hist = catalog.history(tdir)
    assert [h["sequence"] for h in hist] == [1, 2, 3, 4]


def test_manifest_seq_cas_rejects_second_writer(tmp_path):
    """The publish primitive itself: two manifests claiming one sequence
    number -> exactly one wins, the loser gets CommitConflict."""
    import pytest

    from pdf_parser_spark.engine import catalog

    tdir = str(tmp_path / "tbl")
    m = {"snapshot_id": "a", "sequence": 1, "parent": None,
         "operation": "append", "files": [], "added": [], "bounds": {}}
    catalog._write_manifest(tdir, 1, "aaaa", m)
    with pytest.raises(catalog.CommitConflict):
        catalog._write_manifest(tdir, 1, "bbbb", {**m,
                                                  "snapshot_id": "b"})
    assert [s for _, s, _ in catalog._snapshots(tdir)] == ["aaaa"]


def test_delete_where_timestamp_bounds_drop_whole_files(spark, tmp_path):
    """warc_ts partition-aligned delete (the north-rule input shape):
    staging writes pin TIMESTAMP_MICROS so footer bounds exist (Spark's
    default INT96 has none; Iceberg forbids INT96), and dropping a
    crawl day classifies whole files from the manifest — zero data
    read for drop/keep files. ISO-string values are accepted too."""
    from datetime import datetime

    from pdf_parser_spark.engine import catalog

    tdir = str(tmp_path / "tbl")
    # one file per crawl day, like per-increment appends
    for day in (1, 2, 3):
        df = spark.createDataFrame(
            [(f"http://h/{day}/{i}", datetime(2026, 1, day, i), i)
             for i in range(1, 6)],
            "url string, warc_ts timestamp, v int").coalesce(1)
        catalog.commit(df, tdir, "append")
    m = catalog._manifest(tdir, catalog.current_snapshot(tdir))
    b = next(iter(m["bounds"].values()))
    assert b["warc_ts"]["kind"] == "ts"  # stats recorded as epoch us

    snap, stats = catalog.delete_where(
        spark, tdir, "warc_ts", "<", datetime(2026, 1, 2))
    assert stats == {"dropped": 1, "kept": 2, "rewritten": 0}
    left = catalog.read_snapshot(spark, tdir)
    assert left.count() == 10
    assert left.agg({"warc_ts": "min"}).collect()[0][0] >= \
        datetime(2026, 1, 2)

    # mid-day cut: one file overlaps -> rewritten, one kept whole
    snap2, stats2 = catalog.delete_where(
        spark, tdir, "warc_ts", "<=", "2026-01-02T03:00:00")
    assert stats2 == {"dropped": 0, "kept": 1, "rewritten": 1}
    assert catalog.read_snapshot(spark, tdir).count() == 7


def test_expire_snapshots_older_than_window(spark, tmp_path):
    """older_than_s keeps a retention window: only expiry candidates
    whose manifest is older than the window go; a young non-head
    snapshot survives AND its files stay live in the GC."""
    import os
    import time

    from pdf_parser_spark.engine import catalog

    tdir = str(tmp_path / "tbl")
    s1 = catalog.commit(spark.range(10).withColumnRenamed("id", "v")
                        .coalesce(1), tdir, "overwrite")
    s2 = catalog.commit(spark.range(20).withColumnRenamed("id", "v")
                        .coalesce(1), tdir, "overwrite")
    s3 = catalog.commit(spark.range(30).withColumnRenamed("id", "v")
                        .coalesce(1), tdir, "overwrite")
    # age s1's manifest far past the window; s2 stays young
    mpath = {snap: p for _, snap, p in catalog._snapshots(tdir)}
    old = time.time() - 3600
    os.utime(mpath[s1], (old, old))

    out = catalog.expire_snapshots(tdir, keep_last=1, older_than_s=600,
                                   gc_grace_s=0)
    assert out["expired"] == [s1]
    # s2 (young, non-head) survived with its data readable
    assert catalog.read_snapshot(spark, tdir, s2).count() == 20
    assert catalog.read_snapshot(spark, tdir, s3).count() == 30
    # aging s2 too lets the window expire it
    os.utime(mpath[s2], (old, old))
    out2 = catalog.expire_snapshots(tdir, keep_last=1, older_than_s=600,
                                    gc_grace_s=0)
    assert out2["expired"] == [s2] and out2["removed_files"] == 1


def test_delete_where_equivalent_to_brute_force_filter(spark, tmp_path):
    """Property check over randomized layouts: for many (op, value)
    predicates, delete_where over a multi-file table equals the
    brute-force DataFrame filter of the full corpus — whatever mix of
    drop-whole/keep-whole/rewrite the bounds classification picks."""
    import random

    from pyspark.sql import functions as F

    from pdf_parser_spark.engine import catalog

    rng = random.Random(20260817)
    for trial in range(4):
        tdir = str(tmp_path / f"tbl{trial}")
        rows = [(i, rng.randint(-50, 50)) for i in range(120)]
        vals = [v for _, v in rows]
        # a few appends with random partitioning -> random file bounds;
        # sprinkle NULLs in one trial
        if trial == 3:
            rows[::17] = [(i, None) for i, _ in rows[::17]]
        for lo in range(0, 120, 40):
            df = spark.createDataFrame(rows[lo:lo + 40],
                                       "k long, v int") \
                .repartition(rng.randint(1, 4))
            catalog.commit(df, tdir, "append")
        op = rng.choice(catalog._DELETE_OPS)
        value = rng.randint(-55, 55)
        _, stats = catalog.delete_where(spark, tdir, "v", op, value)
        got = sorted((r.k, r.v) for r in
                     catalog.read_snapshot(spark, tdir).collect())
        pred = {"=": lambda x: x == value, "<": lambda x: x < value,
                "<=": lambda x: x <= value, ">": lambda x: x > value,
                ">=": lambda x: x >= value}[op]
        expect = sorted((k, v) for k, v in rows
                        if v is None or not pred(v))
        assert got == expect, (trial, op, value, stats)


def test_lifecycle_soak_compact_delete_expire_roundtrip(spark, tmp_path):
    """Full maintenance cycle on one table: appends -> compact ->
    delete -> append -> expire; every surviving read is exact and the
    data dir holds only live files at the end."""
    import os

    from pdf_parser_spark.engine import catalog

    tdir = str(tmp_path / "tbl")
    for lo in (0, 100, 200):
        catalog.commit(
            spark.range(lo, lo + 100).withColumnRenamed("id", "v")
            .repartition(3), tdir, "append")
    catalog.compact(spark, tdir)
    catalog.delete_where(spark, tdir, "v", ">=", 250)
    catalog.commit(spark.range(300, 350).withColumnRenamed("id", "v"),
                   tdir, "append")
    out = catalog.expire_snapshots(tdir, keep_last=1, gc_grace_s=0)
    assert out["expired"]  # history collapsed to the head
    got = sorted(r.v for r in catalog.read_snapshot(spark, tdir).collect())
    assert got == list(range(250)) + list(range(300, 350))
    # GC left exactly the head's files on disk
    head = catalog._manifest(tdir, catalog.current_snapshot(tdir))
    on_disk = {f for f in os.listdir(os.path.join(tdir, "data"))
               if f.endswith(".parquet")}
    assert on_disk == set(head["files"])
    # and the table still accepts appends + incremental scans after
    s_last = catalog.current_snapshot(tdir)
    catalog.commit(spark.range(400, 410).withColumnRenamed("id", "v"),
                   tdir, "append")
    inc = catalog.read_appends(spark, tdir, s_last)
    assert sorted(r.v for r in inc.collect()) == list(range(400, 410))


def test_rewrite_ops_conflict_on_interleaved_commit(spark, tmp_path,
                                                    monkeypatch):
    """compact/delete classify files against a planning-time head; if a
    commit lands before they publish, publishing would silently drop
    the interleaved snapshot's files — the seq CAS must surface
    CommitConflict instead. Deterministic: the staging write is
    wrapped to inject a real append mid-operation."""
    import pytest

    from pdf_parser_spark.engine import catalog

    tdir = str(tmp_path / "tbl")
    for lo in (0, 100):
        catalog.commit(spark.range(lo, lo + 100)
                       .withColumnRenamed("id", "v").repartition(3),
                       tdir, "append")

    real_staging = catalog._write_staging
    armed = {"on": False}

    def inject_append_then_write(df, staging):
        real_staging(df, staging)
        if not armed["on"]:
            return  # the injected append's own staging write
        armed["on"] = False
        # a concurrent writer advances the head AFTER the rewrite op
        # planned its file list but BEFORE it publishes
        catalog.commit(spark.range(500, 510)
                       .withColumnRenamed("id", "v"), tdir, "append")

    monkeypatch.setattr(catalog, "_write_staging",
                        inject_append_then_write)
    armed["on"] = True
    with pytest.raises(catalog.CommitConflict):
        catalog.compact(spark, tdir)
    # the interleaved append's rows are intact and the table still works
    assert catalog.read_snapshot(spark, tdir).count() == 210

    armed["on"] = True
    with pytest.raises(catalog.CommitConflict):
        catalog.delete_where(spark, tdir, "v", "<", 50)
    monkeypatch.undo()
    assert catalog.read_snapshot(spark, tdir).count() == 220
    # with no interference both ops succeed on the same table
    assert catalog.compact(spark, tdir) is not None
    _, stats = catalog.delete_where(spark, tdir, "v", "<", 50)
    assert catalog.read_snapshot(spark, tdir).count() == 170


def test_read_snapshot_prune_scans_only_candidate_files(spark, tmp_path):
    """Read-path manifest pruning: a bounded predicate read lists only
    the files whose bounds admit matches (verified via the scan's
    input-file list), and the result equals the unpruned filter
    exactly — including on timestamp columns."""
    from datetime import datetime

    from pyspark.sql import functions as F

    from pdf_parser_spark.engine import catalog

    tdir = str(tmp_path / "tbl")
    for day in (1, 2, 3):
        df = spark.createDataFrame(
            [(f"u{day}{i}", datetime(2026, 1, day, i), day * 100 + i)
             for i in range(1, 6)],
            "url string, warc_ts timestamp, v int").coalesce(1)
        catalog.commit(df, tdir, "append")

    pruned = catalog.read_snapshot(spark, tdir,
                                   prune=("warc_ts", ">=",
                                          datetime(2026, 1, 3)))
    full = catalog.read_snapshot(spark, tdir) \
        .filter(F.col("warc_ts") >= datetime(2026, 1, 3))
    assert sorted(r.v for r in pruned.collect()) == \
        sorted(r.v for r in full.collect())
    # the pruned plan reads ONE file; the full read lists three
    n_in = len(pruned.inputFiles())
    assert n_in == 1, pruned.inputFiles()
    assert len(catalog.read_snapshot(spark, tdir).inputFiles()) == 3

    # numeric prune + a predicate matching nothing
    p2 = catalog.read_snapshot(spark, tdir, prune=("v", "=", 204))
    assert [r.url for r in p2.collect()] == ["u24"]
    empty = catalog.read_snapshot(spark, tdir, prune=("v", ">", 999))
    assert empty.count() == 0


def test_expire_gc_grace_protects_inflight_files(spark, tmp_path):
    """Review finding (r5): GC must not collect a YOUNG unreferenced
    data file — an in-flight commit renames its files into data/
    before publishing a manifest, so only files older than gc_grace_s
    are collectable."""
    import os
    import time

    from pdf_parser_spark.engine import catalog

    tdir = str(tmp_path / "tbl")
    catalog.commit(spark.range(10).withColumnRenamed("id", "v")
                   .coalesce(1), tdir, "append")
    catalog.commit(spark.range(10).withColumnRenamed("id", "v")
                   .coalesce(1), tdir, "overwrite")
    data_dir = os.path.join(tdir, "data")
    # simulate an in-flight commit: a fresh data file with no manifest
    orphan = os.path.join(data_dir, "zzzz-inflight.parquet")
    with open(orphan, "wb") as f:
        f.write(b"PAR1 pretend")
    out = catalog.expire_snapshots(tdir, keep_last=1, gc_grace_s=300)
    assert out["expired"]
    assert os.path.exists(orphan)      # young: protected by the grace
    # the superseded (old-enough) file IS collectable once aged
    old = time.time() - 600
    for name in os.listdir(data_dir):
        os.utime(os.path.join(data_dir, name), (old, old))
    catalog.commit(spark.range(5).withColumnRenamed("id", "v"),
                   tdir, "overwrite")
    out2 = catalog.expire_snapshots(tdir, keep_last=1, gc_grace_s=300)
    assert not os.path.exists(orphan)  # aged past the grace: collected


def test_delete_where_timezone_aware_value(spark, tmp_path):
    """Review finding (r5): a tz-aware predicate value must classify
    files by its UTC INSTANT, not its wall-clock fields — and agree
    with the Spark rewrite filter and the brute-force result."""
    from datetime import datetime, timedelta, timezone

    from pyspark.sql import functions as F

    from pdf_parser_spark.engine import catalog

    tdir = str(tmp_path / "tbl")
    for day in (1, 2, 3):
        df = spark.createDataFrame(
            [(f"u{day}{i}", datetime(2026, 1, day, i), day * 100 + i)
             for i in range(1, 6)],
            "url string, warc_ts timestamp, v int").coalesce(1)
        catalog.commit(df, tdir, "append")
    # 2026-01-02T05:00+05:00 == 2026-01-02T00:00Z: day 1 drops whole,
    # days 2-3 keep whole — wall-clock normalization would instead
    # overlap day 2 and rewrite (or worse, drop) it
    value = datetime(2026, 1, 2, 5, 0,
                     tzinfo=timezone(timedelta(hours=5)))
    snap, stats = catalog.delete_where(spark, tdir, "warc_ts", "<",
                                       value)
    assert stats == {"dropped": 1, "kept": 2, "rewritten": 0}
    left = catalog.read_snapshot(spark, tdir)
    assert left.count() == 10
    assert left.agg(F.min("v")).collect()[0][0] == 201


def test_stale_seq_claim_reclaimed(spark, tmp_path):
    """Review finding (r5): a writer killed between the seq-claim link
    and the manifest rename must not wedge the table — an aged claim
    with no matching manifest is reclaimed by the next commit."""
    import os
    import time

    from pdf_parser_spark.engine import catalog

    tdir = str(tmp_path / "tbl")
    catalog.commit(spark.range(10).withColumnRenamed("id", "v"),
                   tdir, "append")
    # simulate the crash: claim seq 2, no 2-*.json ever appears
    sdir = os.path.join(tdir, "snapshots")
    claim = os.path.join(sdir, ".seq-2")
    with open(claim, "w") as f:
        f.write("{}")
    old = time.time() - 120
    os.utime(claim, (old, old))        # aged past the 60s window
    s2 = catalog.commit(spark.range(10, 20).withColumnRenamed("id", "v"),
                        tdir, "append")
    assert catalog.current_snapshot(tdir) == s2
    assert catalog.read_snapshot(spark, tdir).count() == 20
    # a FRESH claim (a writer mid-publish) is NOT stolen
    claim3 = os.path.join(sdir, ".seq-3")
    with open(claim3, "w") as f:
        f.write("{}")
    import pytest

    with pytest.raises(catalog.CommitConflict):
        catalog._write_manifest(tdir, 3, "xyz", {"snapshot_id": "xyz"})


def test_stale_claim_reclaim_race_leaves_no_orphan(tmp_path, monkeypatch):
    """A reclaimer that renames a stale .seq-N aside and then loses the
    retried link to a competing writer must still remove its renamed
    .seq-N.<uuid> file (and its staged manifest)."""
    import os
    import time

    import pytest

    from pdf_parser_spark.engine import catalog

    sdir = tmp_path / "tbl" / "snapshots"
    sdir.mkdir(parents=True)
    claim = str(sdir / ".seq-2")
    with open(claim, "w") as f:
        f.write("{}")
    old = time.time() - 120
    os.utime(claim, (old, old))        # stale: aged, no 2-*.json

    real_rename = os.rename

    def rename_then_competitor_claims(src, dst):
        real_rename(src, dst)
        if src == claim:               # competitor links .seq-2 first
            with open(claim, "w") as f:
                f.write("{}")

    monkeypatch.setattr(os, "rename", rename_then_competitor_claims)
    with pytest.raises(catalog.CommitConflict):
        catalog._write_manifest(str(tmp_path / "tbl"), 2, "mine",
                                {"snapshot_id": "mine"})
    monkeypatch.undo()
    assert sorted(os.listdir(sdir)) == [".seq-2"]


def test_expire_removes_expired_seq_claims(spark, tmp_path):
    """Review finding (r5): expired snapshots' .seq-N claim hard links
    are removed too (they would otherwise pin the manifest content on
    disk and accumulate forever); surviving claims stay."""
    import os

    from pdf_parser_spark.engine import catalog

    tdir = str(tmp_path / "tbl")
    for lo in (0, 10, 20):
        catalog.commit(spark.range(lo, lo + 10)
                       .withColumnRenamed("id", "v"), tdir, "append")
    sdir = os.path.join(tdir, "snapshots")
    assert {".seq-1", ".seq-2", ".seq-3"} <= set(os.listdir(sdir))
    catalog.expire_snapshots(tdir, keep_last=1, gc_grace_s=0)
    names = set(os.listdir(sdir))
    assert ".seq-1" not in names and ".seq-2" not in names
    assert ".seq-3" in names


def test_float_bounds_never_classify_drop_whole(spark, tmp_path):
    """r6 (ADVICE): float/double bounds are untrusted for drop-whole —
    a writer may omit NaN from min/max (or record NaN bounds) for a
    column whose rows include NaN, and under Spark's NaN ordering a
    ``<`` delete must keep NaN rows; dropping the whole file from
    clean-looking real bounds would silently delete them. The
    classifier sends floats down the rewrite path; ints still drop."""
    import math

    from pdf_parser_spark.engine import catalog

    bounds = {"f": {"v": {"min": 1.0, "max": 50.0, "nulls": 0}}}
    assert catalog._classify_file(bounds, "f", "v", "<", 100.0) \
        == "rewrite"
    assert catalog._classify_file(bounds, "f", "v", ">", 0.5) == "rewrite"
    # keep-whole stays available (sound: NaN rows never match "<")
    assert catalog._classify_file(bounds, "f", "v", "<", 0.5) == "keep"
    ibounds = {"f": {"v": {"min": 1, "max": 50, "nulls": 0}}}
    assert catalog._classify_file(ibounds, "f", "v", "<", 100) == "drop"

    # e2e: NaN row survives a "<" delete that matches every real value
    tdir = str(tmp_path / "ftbl")
    rows = [(1, 10.5), (2, 20.5), (3, float("nan")), (4, 30.5)]
    df = spark.createDataFrame(rows, "id long, v double").coalesce(1)
    catalog.commit(df, tdir, "append")
    snap, stats = catalog.delete_where(spark, tdir, "v", "<", 100.0)
    assert stats["dropped"] == 0
    got = catalog.read_snapshot(spark, tdir).collect()
    assert [r.id for r in got] == [3] and math.isnan(got[0].v)
