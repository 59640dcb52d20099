"""pdf_parser_spark — a PySpark-native main-content extraction engine.

A from-scratch re-expression of the capabilities of the reference
``karanvora2599/PDF_Parser`` (layout-aware PDF -> structured text) as an
idiomatic Spark pipeline over Common-Crawl-style page tables:

* ``pdf``      — pure-Python PDF byte-stream tokenizer (xref / object /
                 content-stream parsing, FlateDecode, font metrics) and a
                 constrained deterministic PDF writer used for fixtures.
* ``html``     — stdlib-only HTML DOM walk with text-density /
                 link-density boilerplate scoring, plus a fixture writer.
* ``layout``   — the reference's layout algebra (span->line->block->column->
                 paragraph->table) re-implemented as vectorized array
                 programs; every threshold cites the reference file:line.
* ``render``   — plain-text / markdown / JSON formatters and the ASCII
                 table renderer (byte-level parity with the reference).
* ``engine``   — the Spark side: sources, url-hash part_id,
                 mapInPandas extraction job, parquet-emulated
                 snapshot/manifest checkpointing, lineage metrics.
* ``analytics``— web-scale corpus ops: dedup (exact / minhash-LSH /
                 simhash / n-gram jaccard), embedding similarity search,
                 language-ID, quality scoring, token counting,
                 fingerprinting, multimodal column plumbing.
* ``datagen``  — deterministic synthesis of the (url, warc_ts, html, text,
                 lang) pages table from the driver's documents.parquet.

Everything per-document runs inside Arrow-vectorized pandas UDFs
(``mapInPandas`` / ``applyInPandas``); there are no per-row Python UDFs and
no RDD usage anywhere.
"""

__version__ = "0.1.0"
