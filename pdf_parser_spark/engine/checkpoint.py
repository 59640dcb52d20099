"""Resumable checkpointing: Iceberg-style snapshot/manifest emulation over
parquet (SURVEY.md §7.0 — no Iceberg jar in the sandbox; the API is kept
behind this module so a real catalog drops in on a cluster).

Layout under ``root``:
  _layout                                      part_id rule + n_partitions
  data/snapshot_id=<s>/part_id=<k>/*.parquet   extracted rows
  lineage/snapshot_id=<s>/part_id=<k>/         one lineage row per partition
  manifest/*.parquet                           (snapshot_id, part_id) rows

Commit protocol (north rule "resumable from checkpoint"): for each chunk
of partition-ids we (1) write data, (2) write lineage, (3) append the
manifest rows LAST. A row in the manifest therefore guarantees its data
is fully on disk. Resume skips the part_ids already in the manifest for
this snapshot — committed partitions are never reprocessed (verified by
tests/test_spark_job.py::test_checkpoint_resume).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import job


# Partition-layout identity. part_id values are a pure function of the
# data only within one (rule, n_partitions) pair: if the rule changes
# (job.PART_ID_LAYOUT) or the same rule runs with a different
# --partitions, a manifest written under the old pair must NOT be
# resumed under the new one — recomputed part_ids would silently skip
# docs that moved into already-committed partitions. The layout string
# is recorded next to the manifest and checked on resume.
def _layout_id(n_partitions: int) -> str:
    return f"{job.PART_ID_LAYOUT}/n={n_partitions}"


def _layout_path(root: str) -> str:
    return os.path.join(root, "_layout")


def _check_layout(root: str, layout: str) -> None:
    path = _layout_path(root)
    if os.path.exists(path):
        with open(path) as f:
            existing = f.read().strip()
        if existing != layout:
            raise ValueError(
                f"checkpoint at {root} was written under partition "
                f"layout {existing!r}, current run uses {layout!r} — "
                f"resuming would recompute part_ids under a different "
                f"rule and silently skip or duplicate documents; start "
                f"a fresh --out/--snapshot")
        return
    # No _layout file: only safe if the root is genuinely fresh. A root
    # that already holds a manifest or data dir predates layout stamping
    # (written under an unknown partition rule) — stamping the CURRENT
    # layout would let resume recompute part_ids under a changed rule and
    # silently skip/duplicate, exactly what this guard exists to prevent.
    for legacy in ("manifest", "data"):
        if os.path.exists(os.path.join(root, legacy)):
            raise ValueError(
                f"checkpoint at {root} contains {legacy}/ but no _layout "
                f"record — it predates partition-layout stamping and its "
                f"part_ids cannot be verified against the current rule; "
                f"refusing to resume. Start a fresh --out/--snapshot (or "
                f"restore the original _layout file if the rule is known)")
    os.makedirs(root, exist_ok=True)
    with open(path, "w") as f:
        f.write(layout)


def _manifest_path(root: str) -> str:
    return os.path.join(root, "manifest")


def read_manifest(spark: SparkSession, root: str) -> DataFrame | None:
    path = _manifest_path(root)
    if not os.path.exists(path):
        return None
    try:
        return spark.read.parquet(path)
    except Exception:
        return None


def completed_partitions(spark: SparkSession, root: str,
                         snapshot_id: str) -> list[int]:
    m = read_manifest(spark, root)
    if m is None:
        return []
    return [
        r.part_id
        for r in m.filter(F.col("snapshot_id") == snapshot_id)
                  .select("part_id").distinct().collect()
    ]


def run_checkpointed(spark: SparkSession, pages: DataFrame, root: str,
                     snapshot_id: str, n_partitions: int = 32,
                     chunk_size: int = 8,
                     fail_after_chunks: int | None = None) -> None:
    """Run extraction with per-chunk commits. ``fail_after_chunks`` lets
    tests simulate a killed job mid-run.

    The driver-side loop iterates over CHUNKS of partition-ids (a handful
    of iterations), not rows — each iteration is one distributed job over
    ~total/chunks of the data. Commit granularity is the recovery unit;
    at 10^12 docs you'd size chunks so one chunk ~= 10-30 min of work."""
    _check_layout(root, _layout_id(n_partitions))
    keyed = job.keyed_input(pages, n_partitions)

    done = set(completed_partitions(spark, root, snapshot_id))
    todo = [p for p in range(n_partitions) if p not in done]
    chunks = [todo[i : i + chunk_size]
              for i in range(0, len(todo), chunk_size)]

    # One source pass, not one per chunk: part_id is a computed hash, so
    # the per-chunk filter cannot prune the scan — without this persist
    # a C-chunk run re-reads (and re-synthesizes) the WHOLE input C
    # times. MEMORY_AND_DISK fits the sandbox; on a 100 TB table you
    # disable this and get chunk-pruned scans by bucketing the SOURCE
    # on the same key (Iceberg bucket(url) partitioning) instead.
    from pyspark import StorageLevel

    cache_source = len(chunks) > 1
    if cache_source:
        keyed = keyed.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        for ci, chunk in enumerate(chunks):
            if fail_after_chunks is not None and ci >= fail_after_chunks:
                return  # simulated kill: this chunk's manifest not written
            subset = keyed.filter(F.col("part_id").isin(chunk))
            # spread the chunk across the whole cluster, not len(chunk)
            # tasks. Hash the high-cardinality url, not part_id: a few
            # distinct part_ids hashed into many buckets occupy only some
            # of them (balls-in-bins), while url fills every bucket.
            # part_id stays the logical manifest key — partitionBy routes
            # rows to part_id dirs from any task.
            shuffled = subset.repartition(
                max(len(chunk), spark.sparkContext.defaultParallelism),
                F.col("url"))
            extracted = job.extract_keyed(shuffled)
            # One pass over the data: cache the chunk output, derive
            # lineage from it, then release.
            extracted = extracted.withColumn(
                "snapshot_id", F.lit(snapshot_id)).cache()
            try:
                # DYNAMIC partition overwrite + (snapshot_id, part_id)
                # dirs make the chunk write idempotent AND
                # snapshot-isolated: a job killed after writing data but
                # before the manifest row leaves partial dirs; the
                # resume re-runs the chunk and REPLACES exactly those
                # (snapshot, partition) dirs — never appending
                # duplicates next to them and never clobbering ANOTHER
                # snapshot's data sharing the root. Set per-write (not
                # on the shared session) so unrelated overwrites keep
                # their own semantics.
                (extracted.write.mode("overwrite")
                 .option("partitionOverwriteMode", "dynamic")
                 .partitionBy("snapshot_id", "part_id")
                 .parquet(os.path.join(root, "data")))
                (job.lineage(extracted.drop("snapshot_id"))
                 .withColumn("snapshot_id", F.lit(snapshot_id))
                 .write.mode("overwrite")
                 .option("partitionOverwriteMode", "dynamic")
                 .partitionBy("snapshot_id", "part_id")  # as above
                 .parquet(os.path.join(root, "lineage")))
            finally:
                extracted.unpersist()
            # manifest LAST = commit point
            (spark.createDataFrame([(snapshot_id, int(p)) for p in chunk],
                                   "snapshot_id string, part_id int")
             .write.mode("append").parquet(_manifest_path(root)))
    finally:
        if cache_source:
            keyed.unpersist()


def read_committed(spark: SparkSession, root: str,
                   snapshot_id: str) -> DataFrame:
    """Snapshot-isolated read: only this snapshot's data dirs, and only
    partitions present in its manifest (uncommitted files from a killed
    chunk are invisible; other snapshots sharing the root are never
    touched)."""
    from pyspark.sql.types import StringType, StructField, StructType

    empty_schema = StructType(
        [StructField("snapshot_id", StringType()),
         *job.EXTRACTED_SCHEMA.fields])
    m = read_manifest(spark, root)
    data_dir = os.path.join(root, "data")
    if m is None or not os.path.isdir(data_dir):
        # nothing committed yet (e.g. killed before the first chunk's
        # data write) — an empty frame, not a PATH_NOT_FOUND error
        return spark.createDataFrame([], empty_schema)
    data = (spark.read.parquet(data_dir)
            .where(F.col("snapshot_id") == snapshot_id))
    done = (m.filter(F.col("snapshot_id") == snapshot_id)
             .select("part_id").distinct())
    return data.join(F.broadcast(done), "part_id", "inner")
