"""spark-submit entrypoint: checkpointed extraction over the pages table.

Usage:
  spark-submit --py-files dist/pdf_parser_spark.zip jobs/extract.py \
      --sf-dir /root/testdata/sf0.001 --out /tmp/extract_out \
      --snapshot snap-001 [--partitions 32] [--chunk-size 8]

Writes:  <out>/data/snapshot_id=*/part_id=*/     extracted rows
         <out>/lineage/snapshot_id=*/part_id=*/  per-partition lineage rows
         <out>/manifest/  (snapshot_id, part_id) commit log
                          (presence = partition complete)
         <out>/_layout    part_id rule + --partitions (resume refuses a
                          root stamped with another)

A killed job re-run with the same --snapshot resumes from the manifest
without reprocessing completed partitions (north rule).
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    ap.add_argument("--out", required=True)
    ap.add_argument("--snapshot", default="snap-001")
    ap.add_argument("--partitions", type=int, default=32)
    ap.add_argument("--chunk-size", type=int, default=8)
    ap.add_argument("--cpus", type=int,
                    default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    ap.add_argument("--replicate", type=int, default=1)
    ap.add_argument("--fail-after-chunks", type=int, default=None,
                    help="test hook: simulate a kill after N chunks")
    ap.add_argument("--password", default=None,
                    help="password for protected PDFs, applied to every "
                         "document (reference cli.py:77 parity); a pages "
                         "table with its own password column wins per doc")
    args = ap.parse_args()

    from pdf_parser_spark.engine import checkpoint, source
    from pdf_parser_spark.engine.session import get_spark

    spark = get_spark("extract-job", cpus=args.cpus)
    spark.sparkContext.setLogLevel("WARN")

    pages = source.pages_table(spark, args.sf_dir, replicate=args.replicate)
    if args.password is not None and "password" not in pages.columns:
        from pyspark.sql import functions as F

        pages = pages.withColumn("password", F.lit(args.password))
    checkpoint.run_checkpointed(
        spark, pages, args.out, args.snapshot,
        n_partitions=args.partitions, chunk_size=args.chunk_size,
        fail_after_chunks=args.fail_after_chunks)

    done = checkpoint.completed_partitions(spark, args.out, args.snapshot)
    committed = checkpoint.read_committed(spark, args.out, args.snapshot)
    n = committed.count()
    fails = committed.filter("NOT ok").count()
    print(f"[extract] snapshot={args.snapshot} committed_partitions="
          f"{len(done)}/{args.partitions} docs={n} failures={fails}")
    spark.stop()


if __name__ == "__main__":
    main()
