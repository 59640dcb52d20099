"""Explicit partitioning for the extraction shuffle (north-rule item:
"partitioning / shuffle / skew handled explicitly").

Strategy (SURVEY.md §2.12 / §4.2):

* stable partition key: ``pmod(xxhash64(url), n)`` — deterministic across
  runs and cluster sizes, which is what makes the checkpoint manifest
  (engine.checkpoint) resumable: partition identity is a property of the
  DATA, not of the scheduler.
* size-bucket skew salting: documents whose ``length(html)`` exceeds
  ``big_bytes`` are re-keyed with an INDEPENDENT hash stream over the
  FULL partition range (one salt per doc), so co-location of two
  oversized documents is as unlikely as any two keys colliding across
  the whole cluster. Sharing a partition with small docs is fine — the
  smalls add milliseconds; another 1000x-median doc adds its whole
  parse time, and THAT serialization is the straggler that turns a 2h
  job into a 14h one. (The first design routed big docs into a small
  DEDICATED range; tools/skew_bench.py measured that making big-big
  collisions near-certain once the big count approaches the range size
  — 0.7x "speedup", i.e. salting made it WORSE. docs/ROUND4.md §6.)

For single documents too large for ANY task, partitioning cannot help —
that is what the per-page split path is for (engine/paged.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Local default tuned to the synthetic tail (median doc ~1 KB, skewed docs
# ~50x). On a real crawl: 4-16 MB.
DEFAULT_BIG_BYTES = 16_000


def with_partition_key(df: DataFrame, n_partitions: int,
                       url_col: str = "url",
                       size_col: str | None = "html",
                       big_bytes: int = DEFAULT_BIG_BYTES) -> DataFrame:
    """Add a stable ``part_id`` column in [0, n_partitions).

    All docs hash over the full range; oversized docs use an
    independently-seeded hash stream (the salt), which both decorrelates
    them from url clustering and keeps the assignment a pure projection
    (part_id stays a property of the data — required for the checkpoint
    manifest to be resumable across runs and cluster sizes)."""
    key = F.pmod(F.xxhash64(F.col(url_col)), F.lit(n_partitions))
    if size_col is None:
        return df.withColumn("part_id", key.cast("int"))
    big_key = F.pmod(F.xxhash64(F.col(url_col), F.lit(1)),
                     F.lit(n_partitions))
    is_big = F.length(F.col(size_col)) > F.lit(big_bytes)
    return df.withColumn(
        "part_id",
        F.when(is_big, big_key).otherwise(key).cast("int"),
    )


def spread_oversized(df: DataFrame, n_partitions: int,
                     url_col: str = "url",
                     size_col: str = "html",
                     big_bytes: int = DEFAULT_BIG_BYTES) -> DataFrame:
    """Deterministic round-robin part_ids for oversized docs: rank the
    big subset by (xxhash64(url), url) and assign ``(rank-1) % n`` —
    guarantees at most ceil(k/n) big docs per partition, where hashing
    (``with_partition_key``) only promises it in expectation (birthday
    bound: with k ~ sqrt(n) bigs in flight a collision — two full
    parses serialized in one task — is already likely).

    Cost: one window over ONLY the big rows (rare by the big_bytes
    premise; the window is single-partition, so use this when the big
    count per job is bounded — e.g. per checkpoint chunk). The ranked
    frame is a NARROW (url, part_id) projection joined back by url, so
    the multi-MB payloads never ride the single-partition rank shuffle
    (ranking the full rows would funnel every oversized payload through
    one task — the exact straggler/OOM this function exists to avoid).
    part_id remains a pure property of the data (the set of big urls),
    so the checkpoint manifest stays resumable."""
    from pyspark.sql import Window

    is_big = F.length(F.col(size_col)) > F.lit(big_bytes)
    small = df.where(~is_big).withColumn(
        "part_id",
        F.pmod(F.xxhash64(F.col(url_col)), F.lit(n_partitions)).cast("int"))
    w = Window.orderBy(F.xxhash64(F.col(url_col)), F.col(url_col))
    # rank DISTINCT urls (a re-crawled url captured twice must not
    # fan out through the join — one rank per url, each occurrence
    # shares the part_id, and the join back stays row-preserving)
    big_ids = (df.where(is_big).select(url_col).distinct()
               .withColumn(
                   "part_id",
                   F.pmod(F.row_number().over(w) - 1,
                          F.lit(n_partitions)).cast("int")))
    big = df.where(is_big).join(big_ids, url_col)
    return small.unionByName(big.select(*small.columns))


def repartition_for_extract(df: DataFrame, n_partitions: int,
                            url_col: str = "url") -> DataFrame:
    """Physical placement for the extraction stage: hash the
    HIGH-CARDINALITY url, not part_id. Hashing a low-cardinality key (48
    distinct part_ids) into 64 buckets occupies only ~31 of them with 5x
    row imbalance (balls-in-bins); url hashing fills every bucket
    uniformly. part_id remains the logical manifest key — commit/resume
    correctness needs the COLUMN to be stable, not task alignment
    (write.partitionBy routes rows to part_id dirs from any task)."""
    return df.repartition(n_partitions, F.col(url_col))
