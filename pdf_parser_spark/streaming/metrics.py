"""Streaming state-store observability (round-5 VERDICT item 8).

At crawl scale the failure mode of every stateful streaming operator
(dedup_stream, near_dedup_stream, sessionize, windowed_lineage) is
UNBOUNDED STATE — and nothing fails loudly: the job just slows down and
eventually OOMs the state store. These helpers surface per-micro-batch
state metrics from the engine's own instrumentation
(``StreamingQuery.recentProgress`` -> ``stateOperators``: total rows,
rows updated, store memory) as a normal DataFrame that lands next to
the batch lineage rows, so a dashboard/alert sees state growth per
trigger the same way it sees doc counts per partition.

Reading ``recentProgress`` after the trigger drains is deterministic
(unlike a StreamingQueryListener, which delivers events async — fine in
production, flaky in tests); production jobs can poll the same helper
on a schedule or attach a listener that calls ``progress_rows`` on each
event.
"""

from __future__ import annotations

import os
from typing import Any

METRIC_COLUMNS = [
    "batch_id", "timestamp", "operator", "state_rows_total",
    "state_rows_updated", "state_memory_bytes", "num_input_rows",
    "watermark",
]


def progress_rows(progress: dict[str, Any]) -> list[dict[str, Any]]:
    """One metrics row per state operator in a single
    StreamingQueryProgress dict (``query.lastProgress`` /
    ``recentProgress`` entries). Stateless queries yield no rows."""
    out = []
    for op in progress.get("stateOperators") or []:
        out.append({
            "batch_id": int(progress["batchId"]),
            "timestamp": progress.get("timestamp"),
            "operator": op.get("operatorName"),
            "state_rows_total": int(op.get("numRowsTotal", 0)),
            "state_rows_updated": int(op.get("numRowsUpdated", 0)),
            "state_memory_bytes": int(op.get("memoryUsedBytes", 0)),
            "num_input_rows": int(progress.get("numInputRows", 0)),
            "watermark": (progress.get("eventTime") or {}).get(
                "watermark"),
        })
    return out


def state_metrics(query) -> "pd.DataFrame":  # noqa: F821
    """All state-operator metrics a query has reported so far, one row
    per (micro-batch, state operator), batch order preserved."""
    import pandas as pd

    rows: list[dict[str, Any]] = []
    for p in query.recentProgress:
        rows.extend(progress_rows(p))
    return pd.DataFrame(rows, columns=METRIC_COLUMNS)


BATCH_COLUMNS = ["batch_id", "timestamp", "num_input_rows",
                 "batch_duration_ms", "sink_description"]


def batch_metrics(query) -> "pd.DataFrame":  # noqa: F821
    """Per-micro-batch progress for ANY query (stateless extraction
    included): input rows and trigger duration — the streaming analog
    of the batch job's per-partition lineage counts."""
    import pandas as pd

    rows = []
    for p in query.recentProgress:
        rows.append({
            "batch_id": int(p["batchId"]),
            "timestamp": p.get("timestamp"),
            "num_input_rows": int(p.get("numInputRows", 0)),
            "batch_duration_ms": int(
                (p.get("durationMs") or {}).get("triggerExecution", 0)),
            "sink_description": (p.get("sink") or {}).get("description"),
        })
    return pd.DataFrame(rows, columns=BATCH_COLUMNS)


def _append_jsonl(df, path: str) -> int:
    """Append ``df`` as one JSON line per row (append-only sidecar next
    to the output/lineage dirs — the same pattern as checkpoint
    lineage). Returns rows written."""
    if not len(df):
        return 0
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    with open(path, "a") as f:
        f.write(df.to_json(orient="records", lines=True))
        f.write("\n")
    return len(df)


def write_batch_metrics(query, path: str) -> int:
    """Append per-batch progress rows as JSONL."""
    return _append_jsonl(batch_metrics(query), path)


def write_state_metrics(query, path: str) -> int:
    """Append the query's state metrics as JSONL."""
    return _append_jsonl(state_metrics(query), path)
