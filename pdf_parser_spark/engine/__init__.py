"""Spark-side engine: session config, the url-hash part_id,
the mapInPandas extraction job, parquet-emulated snapshot/manifest
checkpointing, and per-partition lineage."""
