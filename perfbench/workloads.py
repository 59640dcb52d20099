"""One benchmark run of one workload, in a fresh Spark session.

A run sets up (inputs materialized three times, the median kept; session
start; one warm-up pass, which is the cold pass a fresh job pays), then makes warm passes back to back until ``--seconds``
have passed, at least three (a closed loop: one driver, one pass at a
time), checks the outputs outside every timed interval and writes its
result as JSON. With ``--trace 1`` it also measures the layers (see
layers.py) and reports per-layer metrics instead of end-to-end ones.

Launch it through perfbench/run.py, which sets the environment and
measures the peak RSS of the whole process tree.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import time
from contextlib import contextmanager

from . import checks, inputs, layers
from .tracing import Sample, Tracer, clean_median, event_log_totals, timed

SETUP_REPEATS = 3
WINDOW_GROUP = "perfbench-window"
CHECK_GROUP = "perfbench-check"
CKPT_PARTITIONS, CKPT_CHUNK, CATALOG_APPENDS = 16, 4, 4
# One query per analytics module on the crawl corpus (dedup, text,
# classifier, bpe, similarity); the other driver queries do not fit the
# run's time budget.
SUITE = ("dedup_lsh_pairs", "vocabulary", "quality_classifier",
         "bpe_token_counts", "semantic_dedup")
MIN_WARM_PASSES = 3


def cores() -> int:
    return min(4, len(os.sched_getaffinity(0)))


class Workload:
    """Set-up, timed passes and checks shared by the workloads."""

    def __init__(self, seed: int, work: str, trace: bool):
        self.seed, self.work, self.trace = seed, work, trace
        self.tr = Tracer(trace)
        self.layer: dict[str, float] = {}
        self.attempted = self.failed = 0
        self.spark = None

    # -- per-workload hooks -------------------------------------------
    def materialize(self, path: str) -> None:
        raise NotImplementedError

    def run_pass(self, i: int, segs: list[Sample]) -> None:
        """One pass; time every part of it into ``segs``."""
        raise NotImplementedError

    def check(self) -> None:
        """Output checks not already made inside a pass."""

    def traced_layers(self, n_traced: int) -> None:
        """Per-layer metrics from the window's spans, then extra probes."""

    def before_cold_pass(self) -> None:
        """Traced-run probes that need a session but no warm pass."""

    # -- shared flow ---------------------------------------------------
    def setup(self) -> tuple[float, float]:
        """Returns (setup_s, median materialization seconds)."""
        from pdf_parser_spark.engine.session import get_spark

        mats, prev = [], None
        for i in range(SETUP_REPEATS):
            path = os.path.join(self.work, f"input{i}")
            with timed(mats):
                self.materialize(path)
            if prev:
                shutil.rmtree(prev)
            prev = path
        with timed() as session:
            self.spark = get_spark("perfbench", cpus=cores())
        self.spark.sparkContext.setLogLevel("ERROR")
        mat = statistics.median(s.wall for s in mats)
        return session.wall + mat, mat

    def timed_pass(self, i: int) -> Sample:
        self.spark.catalog.clearCache()
        segs: list[Sample] = []
        self.run_pass(i, segs)
        total = Sample()
        total.wall = sum(s.wall for s in segs)
        total.steal = sum(s.steal for s in segs)
        return total

    def run(self, seconds: float) -> dict:
        setup_s, _ = self.setup()
        if self.trace:
            self.layer["engine.worker_start_s"] = layers.worker_start(
                self.spark)
            self.before_cold_pass()
        cold = self.timed_pass(0)
        self.tr.spans.clear()

        sc = self.spark.sparkContext
        sc.setJobGroup(WINDOW_GROUP, "timed window")
        warm, traced = [], []
        start = time.perf_counter()
        while self._more(warm, time.perf_counter() - start, seconds):
            # a traced run alternates untraced and traced passes
            self.tr.enabled = self.trace and len(warm) % 2 == 1
            traced.append(self.tr.enabled)
            warm.append(self.timed_pass(len(warm) + 1))
        self.tr.enabled = self.trace
        sc.setJobGroup(CHECK_GROUP, "output checks")
        self.check()

        samples = {"cold": vars(cold), "warm": [vars(s) for s in warm]}
        if not self.trace:
            return {"metrics": {"setup_s": setup_s + cold.wall,
                                "warm_pass_s": clean_median(warm)},
                    "samples": samples}

        # the first warm pass still runs slower: compare the later ones
        on = [s.wall for s, t in zip(warm, traced) if t]
        off = [s.wall for s, t in zip(warm[1:], traced[1:]) if not t]
        self.layer["trace.overhead_s"] = (statistics.median(on)
                                          - statistics.median(off))
        self.layer["host.steal_s"] = sum(s.steal for s in warm)
        self.traced_layers(len(on))
        self.layer["engine.tasks_failed"] = layers.tasks_failed(
            self.spark, [None, WINDOW_GROUP, CHECK_GROUP])
        n_warm = len(warm)
        self.spark.stop()
        self.spark = None
        totals = event_log_totals(os.path.join(self.work, "eventlog"),
                                  WINDOW_GROUP)
        for k, v in totals.items():
            self.layer[f"spark.{k}"] = v / n_warm
        return {"metrics": self.layer, "samples": samples}

    def _more(self, warm: list[Sample], elapsed: float,
              seconds: float) -> bool:
        """Another warm pass? At least ``MIN_WARM_PASSES`` (the first
        warm pass still runs a little slower) and until ``seconds`` have
        passed; past that, while no pass was undisturbed by steal, up to
        three times ``seconds``."""
        if len(warm) < MIN_WARM_PASSES or elapsed < seconds:
            return True
        return not any(s.clean() for s in warm) and elapsed < 3 * seconds

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None


class CrawlExtract(Workload):
    """pages (the documents x 2 replicas: 10k docs) ->
    engine.job.run_extract -> noop sink. Its traced run also measures
    the kernel layers in-process and, once, the write path (checkpointed
    job and catalog maintenance) over the same pages."""

    REPLICAS = 2

    def materialize(self, path: str) -> None:
        docs = inputs.page_docs(self.seed, self.REPLICAS)
        with self.tr.span("datagen.build_pages_pdf"):
            self.pages = inputs.build_pages(docs)
        inputs.write_pages(self.pages, path)
        self.pages_dir = path

    def setup(self):
        setup_s, mat_s = super().setup()
        if self.trace:
            builds = self.tr.durations("datagen.build_pages_pdf")
            self.layer["datagen.build_pages_pdf.ms_per_doc"] = (
                statistics.median(builds) * 1000.0 / len(self.pages))
            self.layer["datagen.share_of_setup"] = mat_s / setup_s
        return setup_s, mat_s

    def read_pages(self):
        return self.spark.read.parquet(self.pages_dir)

    def before_cold_pass(self) -> None:
        self.layer.update(layers.boundary(self.spark, self.pages_dir))

    def run_pass(self, i, segs):
        from pdf_parser_spark.engine import job

        with _seg(self.tr, segs, "engine.job.run_extract"):
            layers.noop(job.run_extract(self.read_pages()))

    def check(self) -> None:
        from pdf_parser_spark.engine import job

        out = (job.run_extract(self.read_pages())
               .select(*checks.EXTRACT_COLS).toPandas())
        self.attempted += len(self.pages)
        self.failed += checks.extraction(out, self.pages)

    def traced_layers(self, n_traced):
        run_s = self.tr.total("engine.job.run_extract") / n_traced
        self.layer.update(layers.kernel(self.pages, self.seed, Tracer(True)))
        self.layer["engine.job.run_extract_s"] = run_s
        self.layer["engine.job.outside_kernel_s"] = (
            run_s - self.layer["engine.arrow_roundtrip_s"]
            - self.layer["extractor.kernel_s"] / cores())
        self.write_path(Tracer(True))

    def write_path(self, tr: Tracer) -> None:
        """pages -> engine.checkpoint.run_checkpointed -> catalog commits,
        read, delete of the malformed class, compaction and expiry, each
        timed; the write-path checks run between the timed parts."""
        from pyspark.sql import functions as F

        from pdf_parser_spark.engine import catalog, checkpoint

        root = os.path.join(self.work, "ingest")
        ckpt, table = os.path.join(root, "ckpt"), os.path.join(root, "table")
        with tr.span("engine.checkpoint.run_checkpointed"):
            checkpoint.run_checkpointed(
                self.spark, self.read_pages(), ckpt, "s1",
                n_partitions=CKPT_PARTITIONS, chunk_size=CKPT_CHUNK)
        committed = checkpoint.read_committed(self.spark, ckpt, "s1")
        with tr.span("engine.catalog.commit"):
            for k in range(CATALOG_APPENDS):
                catalog.commit(committed.where(
                    F.col("part_id") % CATALOG_APPENDS == k), table)
        with tr.span("engine.catalog.read_snapshot"):
            layers.noop(catalog.read_snapshot(self.spark, table))
        snap = catalog.read_snapshot(self.spark, table).toPandas()
        self.attempted += len(self.pages)
        self.failed += checks.extraction(snap, self.pages)
        self.failed += checks.row_diff(snap, committed.toPandas())
        with tr.span("engine.catalog.delete_where"):
            _, stats = catalog.delete_where(self.spark, table, "error_kind",
                                            "=", "PDFLoadError")
        after = catalog.read_snapshot(self.spark, table).toPandas()
        self.failed += checks.row_diff(
            after, snap[snap["error_kind"] != "PDFLoadError"])
        data = os.path.join(table, "data")
        head_files, data_files = _head_files(table), len(os.listdir(data))
        with tr.span("engine.catalog.compact"):
            catalog.compact(self.spark, table)
        self.failed += checks.row_diff(
            catalog.read_snapshot(self.spark, table).toPandas(), after)
        # compact adds its output files to data/ and removes none
        added = len(os.listdir(data)) - data_files
        with tr.span("engine.catalog.expire_snapshots"):
            catalog.expire_snapshots(table, keep_last=1, gc_grace_s=0)
        for name in ("engine.checkpoint.run_checkpointed",
                     "engine.catalog.commit", "engine.catalog.read_snapshot",
                     "engine.catalog.delete_where", "engine.catalog.compact",
                     "engine.catalog.expire_snapshots"):
            self.layer[f"{name}_s"] = tr.total(name)
        self.layer["engine.catalog.files_rewritten"] = (
            stats["rewritten"] + head_files - (_head_files(table) - added))
        self.layer["engine.checkpoint.bytes_written_per_input_byte"] = (
            _dir_bytes(ckpt) / _dir_bytes(self.pages_dir))


@contextmanager
def _seg(tr: Tracer, segs: list[Sample], name: str):
    """A timed part of a pass that is also a span."""
    with timed(segs), tr.span(name):
        yield


def _head_files(table: str) -> int:
    from pdf_parser_spark.engine import catalog

    return catalog.history(table)[-1]["n_files"]


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


class CorpusAnalytics(Workload):
    """The driver-query suite over the analytics tables; every query's
    result is collected and compared with its DuckDB oracle."""

    def materialize(self, path: str) -> None:
        inputs.write_analytics_tables(self.seed, path)
        self.sf_dir = path

    def run_pass(self, i, segs):
        import __spark_entry__ as entry

        if i == 0:
            self.oracle = checks.Oracle(self.sf_dir, inputs.ANALYTICS_TABLES)
        queries = entry.queries()
        results = {}
        for name in SUITE:
            self.spark.catalog.clearCache()
            with _seg(self.tr, segs, f"analytics.{name}"):
                results[name] = queries[name](self.spark,
                                              self.sf_dir).toPandas()
        for name, df in results.items():
            self.attempted += 1
            self.failed += not self.oracle.matches(name, df)

    def stop(self) -> None:
        if hasattr(self, "oracle"):
            self.oracle.close()
        super().stop()

    def traced_layers(self, n_traced):
        for name in SUITE:
            self.layer[f"analytics.{name}_s"] = (
                self.tr.total(f"analytics.{name}") / n_traced)


WORKLOADS = {"crawl_extract": CrawlExtract,
             "corpus_analytics": CorpusAnalytics}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=sorted(WORKLOADS), required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    wl = WORKLOADS[args.workload](args.seed, args.work, bool(args.trace))
    try:
        result = wl.run(args.seconds)
    finally:
        wl.stop()
    result.update(correct=wl.failed == 0, attempted=wl.attempted,
                  failed=wl.failed)
    with open(args.out, "w") as f:
        json.dump(result, f)


if __name__ == "__main__":
    main()
