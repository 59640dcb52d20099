"""Minimal snapshot catalog over parquet — Iceberg-table emulation
(SURVEY.md §7.0: no Iceberg jar and no network in this sandbox; this
module is the single seam where a real Iceberg catalog drops in via
``--packages`` on a cluster).

Layout under ``table_dir``:
  data/<snapshot_id>-<n>.parquet ...   immutable data files
  snapshots/<seq>-<snapshot_id>.json   manifest: file list (+ parent)

Semantics mirrored from Iceberg:
  * append  -> new snapshot = parent files + new files
  * overwrite -> new snapshot = new files only
  * reads are snapshot-isolated: a reader pins one manifest's file list;
    concurrent appends never change what it sees
  * time travel: read any historical snapshot id
  * lifecycle (round 5 — a 10^12-doc table is MAINTAINED, not only
    grown): ``expire_snapshots`` drops old manifests and
    garbage-collects data files no remaining snapshot references;
    ``compact`` rewrites small files into large ones as a data-identical
    'replace' snapshot (old readers keep their pinned files);
    ``delete_where`` removes rows by predicate with Iceberg-style
    file-level pruning — per-file column bounds recorded in the
    manifest at commit time classify each file as drop-whole /
    keep-whole / rewrite, so a partition-aligned delete touches no
    surviving data.
The commit point is the atomic rename of the manifest json (same
manifest-last discipline as engine.checkpoint).
"""

from __future__ import annotations

import contextlib
import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession


def _snapshots(table_dir: str) -> list[tuple[int, str, str]]:
    """Sorted (seq, snapshot_id, path)."""
    sdir = os.path.join(table_dir, "snapshots")
    if not os.path.isdir(sdir):
        return []
    out = []
    for name in os.listdir(sdir):
        if not name.endswith(".json"):
            continue
        seq_s, snap = name[:-5].split("-", 1)
        out.append((int(seq_s), snap, os.path.join(sdir, name)))
    return sorted(out)


def current_snapshot(table_dir: str) -> str | None:
    snaps = _snapshots(table_dir)
    return snaps[-1][1] if snaps else None


def _manifest(table_dir: str, snapshot_id: str) -> dict:
    for _, snap, path in _snapshots(table_dir):
        if snap == snapshot_id:
            with open(path) as f:
                return json.load(f)
    raise FileNotFoundError(
        f"snapshot {snapshot_id!r} not found in {table_dir}")


def _merge_schema(parent: dict, new: dict) -> dict:
    """Append-time schema evolution: parent columns keep their place and
    TYPE (a type change would make old data files unreadable under the
    pinned schema — refused loudly, like Iceberg without an explicit
    DDL); columns the append doesn't carry stay in the schema (its
    files just surface NULL for them on read); genuinely new columns
    are added at the end."""
    out = {**parent, "fields": list(parent["fields"])}
    by_name = {f["name"]: f for f in parent["fields"]}
    for f in new["fields"]:
        old = by_name.get(f["name"])
        if old is None:
            out["fields"].append(f)
        elif old["type"] != f["type"]:
            raise ValueError(
                f"schema evolution: column {f['name']!r} type change "
                f"{old['type']!r} -> {f['type']!r} would break reads of "
                f"existing data files; use overwrite for a retype")
    return out


def _stat_to_bound(v) -> tuple[int | float, str] | None:
    """Normalize a parquet footer statistic to a JSON-storable ordered
    value + kind tag. int/float stay as-is (kind ''), timestamps become
    epoch microseconds (kind 'ts'), dates become proleptic ordinals
    (kind 'date'). Strings/bytes return None: writers may TRUNCATE
    their min/max, which would make drop-whole-file classification
    unsound — those columns always take the rewrite path."""
    import datetime as _dt

    if isinstance(v, bool):
        return None
    if isinstance(v, _dt.datetime):  # incl. pandas.Timestamp
        if v.tzinfo is not None:
            # normalize to the UTC instant, then compare naively: file
            # stats are UTC-based naive micros, and building the epoch
            # with the value's own tzinfo would yield WALL-CLOCK micros
            # (a +05:00 predicate would misclassify files by 5h)
            v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        epoch = _dt.datetime(1970, 1, 1)
        return round((v - epoch).total_seconds() * 1_000_000), "ts"
    if isinstance(v, _dt.date):
        return v.toordinal(), "date"
    if isinstance(v, (int, float)):
        return v, ""
    return None


def _file_bounds(path: str) -> dict[str, dict]:
    """Per-column {min,max,nulls,rows[,kind]} from the parquet FOOTER
    (no data read) — the manifest-level stats Iceberg keeps per data
    file. int/float/timestamp/date columns are recorded (timestamps as
    epoch micros — staging writes pin TIMESTAMP_MICROS because Spark's
    default INT96 carries no footer stats at all; Iceberg likewise
    forbids INT96); strings take the rewrite path (see
    _stat_to_bound)."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    out: dict[str, dict] = {}
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(g.num_columns):
            col = g.column(ci)
            name = col.path_in_schema
            if "." in name:  # nested: no file-level pruning
                continue
            st = col.statistics
            if st is None or not st.has_min_max:
                out.pop(name, None)
                continue
            b_min = _stat_to_bound(st.min)
            b_max = _stat_to_bound(st.max)
            if b_min is None or b_max is None:
                continue
            (mn, kind), (mx, _) = b_min, b_max
            nulls = st.null_count if st.has_null_count else None
            cur = out.get(name)
            if rg > 0 and cur is None:
                continue  # an earlier row group lacked stats
            if cur is None:
                out[name] = {"min": mn, "max": mx, "nulls": nulls,
                             "rows": g.num_rows,
                             **({"kind": kind} if kind else {})}
            else:
                cur["min"] = min(cur["min"], mn)
                cur["max"] = max(cur["max"], mx)
                cur["nulls"] = (None if None in (cur["nulls"], nulls)
                                else cur["nulls"] + nulls)
                cur["rows"] += g.num_rows
    return out


def _write_staging(df: DataFrame, staging: str) -> None:
    """Stage data files with INT64 TIMESTAMP_MICROS (Iceberg forbids
    INT96, and INT96 columns carry no footer stats — without this a
    warc_ts partition-aligned delete could never drop whole files).
    engine.session sets the conf session-wide; this guard covers
    sessions built elsewhere (tests, notebooks). The conf is NOT
    restored afterwards: a set-then-restore around the write would race
    concurrent commits (session conf is global), and INT64 timestamps
    are the correct default everywhere in this engine anyway."""
    spark = df.sparkSession
    spark.conf.set("spark.sql.parquet.outputTimestampType",
                   "TIMESTAMP_MICROS")
    df.write.mode("overwrite").parquet(staging)


def commit(df: DataFrame, table_dir: str, mode: str = "append") -> str:
    """Write df as a new snapshot; returns the new snapshot id."""
    assert mode in ("append", "overwrite")
    # schema compatibility is decidable from metadata alone — check it
    # BEFORE the staging write, or a refused append permanently orphans
    # a full copy of the dataset in data/ (no manifest ever points at
    # the renamed files, and there is no cleanup pass)
    schema = json.loads(df.schema.json())
    snaps_pre = _snapshots(table_dir)
    if mode == "append" and snaps_pre:
        parent_schema = _manifest(table_dir, snaps_pre[-1][1]).get("schema")
        if parent_schema is not None:
            schema = _merge_schema(parent_schema, schema)
    snap_id = uuid.uuid4().hex[:12]
    data_dir = os.path.join(table_dir, "data")
    staging = os.path.join(table_dir, f"_staging_{snap_id}")
    _write_staging(df, staging)
    os.makedirs(data_dir, exist_ok=True)
    new_files = []
    for name in sorted(os.listdir(staging)):
        if name.endswith(".parquet"):
            dst = f"{snap_id}-{name}"
            os.rename(os.path.join(staging, name),
                      os.path.join(data_dir, dst))
            # stamp ARRIVAL time (r6, ADVICE): rename preserves the
            # write-time mtime, so a slow write phase could land files
            # already older than expire_snapshots' gc_grace window and
            # get GC'd before their manifest publishes
            os.utime(os.path.join(data_dir, dst))
            new_files.append(dst)
    # clean staging remnants (_SUCCESS etc.)
    for name in os.listdir(staging):
        os.remove(os.path.join(staging, name))
    os.rmdir(staging)

    new_bounds = {f: _file_bounds(os.path.join(data_dir, f))
                  for f in new_files}
    df_schema = json.loads(df.schema.json())
    # optimistic-concurrency loop (Iceberg commit retry): losing the
    # sequence-number CAS means another writer advanced the head —
    # re-derive parent/files/schema from the NEW head and re-publish.
    # Data files are immutable and already in place; an append composes
    # with any interleaved append, so retrying is always safe here.
    while True:
        snaps = _snapshots(table_dir)
        seq = snaps[-1][0] + 1 if snaps else 1
        parent_files: list[str] = []
        parent_bounds: dict[str, dict] = {}
        parent_id = None
        schema = df_schema
        if mode == "append" and snaps:
            parent_id = snaps[-1][1]
            pm = _manifest(table_dir, parent_id)
            parent_files = pm["files"]
            parent_bounds = pm.get("bounds", {})
            if pm.get("schema") is not None:
                schema = _merge_schema(pm["schema"], df_schema)

        manifest = {
            "snapshot_id": snap_id,
            "sequence": seq,
            "parent": parent_id,
            "operation": mode,
            "files": parent_files + new_files,
            # files that carry rows NEW in this snapshot (incremental
            # scan reads these, never the full file-list diff — a later
            # compact rewrites the file list without adding data)
            "added": new_files,
            # per-file footer stats for manifest pruning (delete_where)
            "bounds": {**parent_bounds, **new_bounds},
            # the snapshot's CURRENT schema (Iceberg: schema rides the
            # metadata, not the data files) — an append with new columns
            # evolves the table schema by UNION with the parent's (see
            # _merge_schema; silently narrowing or retyping is refused);
            # readers pin this and files surface NULL for columns they
            # predate
            "schema": schema,
        }
        try:
            _write_manifest(table_dir, seq, snap_id, manifest)
            return snap_id
        except CommitConflict:
            continue


class CommitConflict(Exception):
    """Another writer published the same sequence number first
    (optimistic-concurrency loss — Iceberg's CAS failure)."""


def _write_manifest(table_dir: str, seq: int, snap_id: str,
                    manifest: dict) -> None:
    """Atomic manifest publish — the commit point for every operation.

    Concurrency: the sequence number is claimed with a SENTINEL hard
    link (``os.link`` fails with EEXIST if the name exists, unlike
    ``os.rename`` which silently overwrites) — two writers that both
    read head seq N race to link ``.seq-N+1``; exactly one wins, the
    loser gets CommitConflict and must re-read the head and retry
    (append does this automatically; rewrite ops surface the conflict
    because their file classifications are stale). This is the local-FS
    stand-in for Iceberg's atomic catalog pointer swap."""
    import glob as _glob
    import time as _time

    sdir = os.path.join(table_dir, "snapshots")
    os.makedirs(sdir, exist_ok=True)
    tmp = os.path.join(sdir, f".tmp-{snap_id}")
    with open(tmp, "w") as f:
        json.dump(manifest, f)
    claim = os.path.join(sdir, f".seq-{seq}")
    try:
        os.link(tmp, claim)  # CAS: fails iff seq already claimed
    except FileExistsError:
        # Stale-claim reclamation: a writer killed between claim and
        # publish leaves .seq-N with no N-*.json — without this every
        # future commit recomputes seq=N and conflicts forever. A claim
        # is stale iff its manifest never appeared AND it is old enough
        # that the claimant cannot still be mid-publish (publish is one
        # rename, sub-second; 60s is conservative).
        stale = (not _glob.glob(os.path.join(sdir, f"{seq}-*.json"))
                 and _time.time() - os.path.getmtime(claim) > 60)
        if stale:
            import uuid as _uuid

            # Atomic reclaim (r6, ADVICE): remove+link had a TOCTOU —
            # two reclaimers could interleave remove/link and both
            # publish the same sequence. os.rename of the stale claim
            # to a unique name succeeds for exactly ONE reclaimer (the
            # loser's source is gone -> FileNotFoundError), then the
            # winner re-runs the CAS link.
            orphan = claim + "." + _uuid.uuid4().hex
            try:
                os.rename(claim, orphan)
                try:
                    os.link(tmp, claim)  # retry the CAS once
                finally:
                    # the renamed stale claim goes whether or not the
                    # retry won (a competing writer may have linked
                    # .seq-N between our rename and link)
                    with contextlib.suppress(FileNotFoundError):
                        os.remove(orphan)
            except (FileNotFoundError, FileExistsError):
                os.remove(tmp)  # lost the reclamation race too
                raise CommitConflict(
                    f"sequence {seq} in {table_dir} was claimed by a "
                    f"concurrent writer") from None
        else:
            os.remove(tmp)
            raise CommitConflict(
                f"sequence {seq} in {table_dir} was published by a "
                f"concurrent writer") from None
    os.rename(tmp, os.path.join(sdir, f"{seq}-{snap_id}.json"))  # COMMIT


def _read_files(spark: SparkSession, table_dir: str,
                manifest: dict, files: list[str]) -> DataFrame:
    """Read data files under the manifest's pinned schema (add-column
    schema evolution: files written before a column existed yield NULL
    for it; files carrying since-dropped columns just don't project
    them). Manifests from before schemas were recorded fall back to
    parquet self-description."""
    paths = [os.path.join(table_dir, "data", f) for f in files]
    schema_json = manifest.get("schema")
    reader = spark.read
    if schema_json is not None:
        from pyspark.sql.types import StructType

        reader = reader.schema(StructType.fromJson(schema_json))
    return reader.parquet(*paths)


def read_snapshot(spark: SparkSession, table_dir: str,
                  snapshot_id: str | None = None,
                  prune: tuple[str, str, object] | None = None
                  ) -> DataFrame:
    """Snapshot-isolated read (defaults to the current snapshot) under
    the snapshot's OWN schema — time travel also travels the schema.

    ``prune=(column, op, value)`` is manifest-level file pruning for
    reads (the read-side twin of delete_where's classification): files
    whose recorded bounds prove NO row can satisfy the predicate are
    never listed into the scan, and the predicate is applied to the
    survivors so the result equals ``read_snapshot().filter(...)``
    exactly. A crawl-day read on a per-day-appended 10^12-doc table
    plans over one day's files instead of the whole table — this is
    the manifest pruning a real Iceberg reader gets from its
    partition/file stats, expressed over the same bounds delete_where
    uses."""
    if snapshot_id is None:
        snapshot_id = current_snapshot(table_dir)
        if snapshot_id is None:
            raise FileNotFoundError(f"no snapshots in {table_dir}")
    m = _manifest(table_dir, snapshot_id)
    files = m["files"]
    if prune is None:
        return _read_files(spark, table_dir, m, files)
    column, op, value = prune
    if op not in _DELETE_OPS:
        raise ValueError(f"op must be one of {_DELETE_OPS}")
    bounds = m.get("bounds", {})
    candidates = [f for f in files
                  if _classify_file(bounds, f, column, op, value)
                  != "keep"]  # 'keep' = provably zero matching rows
    if not candidates:
        return _read_files(spark, table_dir, m, files).limit(0)
    from pyspark.sql import functions as F

    pred = {"=": F.col(column) == value, "<": F.col(column) < value,
            "<=": F.col(column) <= value, ">": F.col(column) > value,
            ">=": F.col(column) >= value}[op]
    return _read_files(spark, table_dir, m, candidates).filter(pred)


def read_appends(spark: SparkSession, table_dir: str,
                 from_snapshot: str,
                 to_snapshot: str | None = None) -> DataFrame:
    """Incremental append scan (Iceberg's incremental read): only the
    rows added AFTER ``from_snapshot`` up to ``to_snapshot`` (default
    current). This is how a training pipeline processes just the new
    crawl increment instead of rescanning the table. Raises if an
    overwrite intervenes (the delta is not expressible as added files
    then — same contract as Iceberg's incremental scan)."""
    if to_snapshot is None:
        to_snapshot = current_snapshot(table_dir)
    snaps = _snapshots(table_dir)
    ids = [s for _, s, _ in snaps]
    i_from, i_to = ids.index(from_snapshot), ids.index(to_snapshot)
    if i_to < i_from:
        raise ValueError("to_snapshot precedes from_snapshot")
    # new data = the per-snapshot ADDED file lists, not the file-list
    # diff: a compaction ('replace') in the range rewrites the file list
    # without adding rows and is skipped; overwrite/delete/rollback
    # change visible rows non-monotonically, so the delta is not
    # expressible as added files (same contract as Iceberg)
    new: list[str] = []
    for _, snap, _ in snaps[i_from + 1 : i_to + 1]:
        m = _manifest(table_dir, snap)
        op = m["operation"]
        if op == "replace":
            continue
        if op != "append":
            raise ValueError(
                f"snapshot {snap} is a {op} — incremental append "
                "scan undefined across it")
        added = m.get("added")
        if added is None:  # pre-'added' manifest: parent file-list diff
            parent = m.get("parent")
            base = (set(_manifest(table_dir, parent)["files"])
                    if parent else set())
            added = [f for f in m["files"] if f not in base]
        new.extend(added)
    to_manifest = _manifest(table_dir, to_snapshot)
    if not new:
        return read_snapshot(spark, table_dir, to_snapshot).limit(0)
    missing = [f for f in new
               if not os.path.exists(os.path.join(table_dir, "data", f))]
    if missing:
        raise FileNotFoundError(
            f"incremental scan needs expired data files {missing[:3]} — "
            f"the range crosses snapshots whose files were "
            f"garbage-collected by expire_snapshots")
    return _read_files(spark, table_dir, to_manifest, new)


def compact(spark: SparkSession, table_dir: str,
            small_bytes: int = 32 * 1024 * 1024,
            target_bytes: int = 128 * 1024 * 1024) -> str | None:
    """Small-file compaction (Iceberg rewrite_data_files): rewrite the
    current snapshot's files smaller than ``small_bytes`` into
    ~``target_bytes`` files and publish a data-identical 'replace'
    snapshot. Old readers keep their pinned file lists untouched (the
    small files stay on disk until ``expire_snapshots`` collects them);
    incremental scans skip the replace snapshot entirely. Returns the
    new snapshot id, or None when <2 small files (nothing to gain).

    At 10^12 docs this runs as routine maintenance after every crawl
    increment: a 1000-executor append leaves one file per task, and an
    unmaintained table's scan planning degrades with file count long
    before data size matters.

    Raises CommitConflict if a concurrent writer advances the head
    between planning and publish (this rewrite's file classification is
    then stale — re-run; appends retry automatically instead)."""
    cur = current_snapshot(table_dir)
    if cur is None:
        raise FileNotFoundError(f"no snapshots in {table_dir}")
    m = _manifest(table_dir, cur)
    data_dir = os.path.join(table_dir, "data")
    smalls = [f for f in m["files"]
              if os.path.getsize(os.path.join(data_dir, f)) < small_bytes]
    if len(smalls) < 2:
        return None
    total = sum(os.path.getsize(os.path.join(data_dir, f))
                for f in smalls)
    n_out = max(1, -(-total // target_bytes))  # ceil
    df = _read_files(spark, table_dir, m, smalls).coalesce(int(n_out))

    snap_id = uuid.uuid4().hex[:12]
    staging = os.path.join(table_dir, f"_staging_{snap_id}")
    _write_staging(df, staging)
    new_files = []
    for name in sorted(os.listdir(staging)):
        if name.endswith(".parquet"):
            dst = f"{snap_id}-{name}"
            os.rename(os.path.join(staging, name),
                      os.path.join(data_dir, dst))
            # stamp ARRIVAL time (r6, ADVICE): rename preserves the
            # write-time mtime, so a slow write phase could land files
            # already older than expire_snapshots' gc_grace window and
            # get GC'd before their manifest publishes
            os.utime(os.path.join(data_dir, dst))
            new_files.append(dst)
    for name in os.listdir(staging):
        os.remove(os.path.join(staging, name))
    os.rmdir(staging)

    smalls_set = set(smalls)  # hoisted: a 100k-file manifest would
    keep = [f for f in m["files"] if f not in smalls_set]  # be O(F^2)
    keep_set = set(keep)
    bounds = {f: b for f, b in m.get("bounds", {}).items()
              if f in keep_set}
    for f in new_files:
        bounds[f] = _file_bounds(os.path.join(data_dir, f))
    # seq from the PLANNING-TIME head (not a fresh listing): if a
    # concurrent commit advanced the head since, this seq is taken and
    # the CAS raises instead of publishing a file list that silently
    # drops the interleaved snapshot's files
    seq = int(m["sequence"]) + 1
    manifest = {
        "snapshot_id": snap_id, "sequence": seq, "parent": cur,
        "operation": "replace",  # data-identical rewrite
        "files": keep + new_files,
        "added": [],             # no new ROWS: incremental scans skip it
        "bounds": bounds,
        "compacted": {"small_files": len(smalls),
                      "new_files": len(new_files)},
        **({"schema": m["schema"]} if "schema" in m else {}),
    }
    _write_manifest(table_dir, seq, snap_id, manifest)
    return snap_id


_DELETE_OPS = ("=", "<", "<=", ">", ">=")


def _norm_bound_value(value, kind: str):
    """A predicate value on the bounds' comparison scale (epoch micros
    for 'ts', ordinal for 'date' — naive datetimes use the session
    timezone basis the staging writer used, i.e. UTC in this sandbox).
    ISO strings are accepted for both. None = scale mismatch (callers
    must fall back to the always-sound read/rewrite path)."""
    import datetime as _dt

    v = value
    if kind == "ts":
        if isinstance(v, str):
            v = _dt.datetime.fromisoformat(v)
        if isinstance(v, _dt.datetime):
            got = _stat_to_bound(v)
            return got[0] if got else None
        return None
    if kind == "date":
        if isinstance(v, str):
            v = _dt.date.fromisoformat(v)
        if isinstance(v, _dt.date) and not isinstance(v, _dt.datetime):
            return v.toordinal()
        return None
    return v if isinstance(v, (int, float)) \
        and not isinstance(v, bool) else None


def _classify_file(bounds: dict, f: str, column: str, op: str,
                   value) -> str:
    """Classify one data file against ``column op value`` from its
    manifest bounds: 'drop' = every row matches (requires zero nulls),
    'keep' = no row can match, 'rewrite' = overlapping range / no
    stats / scale mismatch (must be read). Shared by delete_where
    (drop/keep/rewrite) and read-path pruning (match = drop+rewrite)."""
    b = bounds.get(f, {}).get(column)
    if not b:
        return "rewrite"
    mn, mx, nulls = b["min"], b["max"], b["nulls"]
    value = _norm_bound_value(value, b.get("kind", ""))
    if value is None:
        return "rewrite"
    # Float/double bounds are UNTRUSTED for drop-whole (r6, ADVICE):
    # parquet-mr can record max=NaN (or silently omit NaN) for a double
    # column containing NaN rows; NaN never satisfies a comparison
    # predicate, so classifying such a file 'drop' would silently
    # delete non-matching rows. Iceberg guards this with
    # nan_value_counts; without them, floats take the always-sound
    # rewrite path (keep-whole stays safe: NaN rows never match, and
    # NaN bounds make every comparison False -> 'rewrite').
    if (b.get("kind", "") not in ("ts", "date")
            and (isinstance(mn, float) or isinstance(mx, float))):
        no_nulls = False
    else:
        no_nulls = nulls == 0
    all_, none = False, False
    if op == "=":
        all_ = no_nulls and mn == value and mx == value
        none = value < mn or value > mx
    elif op == "<":
        all_, none = no_nulls and mx < value, mn >= value
    elif op == "<=":
        all_, none = no_nulls and mx <= value, mn > value
    elif op == ">":
        all_, none = no_nulls and mn > value, mx <= value
    elif op == ">=":
        all_, none = no_nulls and mn >= value, mx < value
    return "drop" if all_ else ("keep" if none else "rewrite")


def delete_where(spark: SparkSession, table_dir: str, column: str,
                 op: str, value) -> tuple[str, dict]:
    """Predicate delete with manifest-level file pruning (Iceberg
    copy-on-write delete): each current-snapshot file is classified from
    its recorded footer bounds as drop-whole (every row matches —
    requires zero nulls), keep-whole (no row can match), or rewrite
    (overlapping range / no stats). Only rewrite files are ever read.
    A delete aligned with the write partitioning (e.g. drop a crawl's
    warc_ts day on a table appended per-day) drops whole files and
    reads NOTHING. Rows where ``column`` IS NULL never match (SQL
    comparison semantics) and are always kept.

    Returns (new snapshot id, {"dropped": n, "kept": n, "rewritten": n}).
    Old snapshots still see the deleted rows (immutable history) until
    expire_snapshots collects their files. Raises CommitConflict if a
    concurrent writer advances the head mid-delete (classification is
    stale — re-run)."""
    if op not in _DELETE_OPS:
        raise ValueError(f"op must be one of {_DELETE_OPS}")
    cur = current_snapshot(table_dir)
    if cur is None:
        raise FileNotFoundError(f"no snapshots in {table_dir}")
    m = _manifest(table_dir, cur)

    groups: dict[str, list[str]] = {"drop": [], "keep": [], "rewrite": []}
    for f in m["files"]:
        groups[_classify_file(m.get("bounds", {}), f, column, op,
                              value)].append(f)

    data_dir = os.path.join(table_dir, "data")
    snap_id = uuid.uuid4().hex[:12]
    new_files: list[str] = []
    if groups["rewrite"]:
        from pyspark.sql import functions as F

        pred = {"=": F.col(column) == value,
                "<": F.col(column) < value,
                "<=": F.col(column) <= value,
                ">": F.col(column) > value,
                ">=": F.col(column) >= value}[op]
        survivors = (_read_files(spark, table_dir, m, groups["rewrite"])
                     .filter(~pred | F.col(column).isNull()))
        staging = os.path.join(table_dir, f"_staging_{snap_id}")
        _write_staging(survivors, staging)
        for name in sorted(os.listdir(staging)):
            if name.endswith(".parquet"):
                dst = f"{snap_id}-{name}"
                os.rename(os.path.join(staging, name),
                          os.path.join(data_dir, dst))
                # stamp arrival time (see commit(): gc_grace contract)
                os.utime(os.path.join(data_dir, dst))
                new_files.append(dst)
        for name in os.listdir(staging):
            os.remove(os.path.join(staging, name))
        os.rmdir(staging)

    keep_set = set(groups["keep"])
    new_bounds = {f: b for f, b in m.get("bounds", {}).items()
                  if f in keep_set}
    for f in new_files:
        new_bounds[f] = _file_bounds(os.path.join(data_dir, f))
    seq = int(m["sequence"]) + 1  # planning-time head: see compact()
    manifest = {
        "snapshot_id": snap_id, "sequence": seq, "parent": cur,
        "operation": "delete",
        # audit record only (never re-evaluated): keep it JSON-safe
        "predicate": {"column": column, "op": op,
                      "value": value if isinstance(
                          value, (int, float, str)) else str(value)},
        "files": groups["keep"] + new_files,
        "added": [],
        "bounds": new_bounds,
        "deleted": {"dropped_files": len(groups["drop"]),
                    "kept_files": len(groups["keep"]),
                    "rewritten_files": len(groups["rewrite"])},
        **({"schema": m["schema"]} if "schema" in m else {}),
    }
    _write_manifest(table_dir, seq, snap_id, manifest)
    return snap_id, {"dropped": len(groups["drop"]),
                     "kept": len(groups["keep"]),
                     "rewritten": len(groups["rewrite"])}


def expire_snapshots(table_dir: str, keep_last: int = 2,
                     older_than_s: float | None = None,
                     gc_grace_s: float = 600.0) -> dict:
    """Expire all but the newest ``keep_last`` snapshots and
    garbage-collect data files no surviving manifest references — the
    maintenance half of the immutable-snapshot design: without it a
    compacted/deleted table keeps every superseded file forever.
    Time travel to an expired snapshot (and incremental scans starting
    from one) stop working, exactly Iceberg's contract.

    ``older_than_s`` additionally restricts expiry to snapshots whose
    manifest is at least that many seconds old (Iceberg's
    expire_snapshots(older_than=...) retention window: keep yesterday's
    snapshots for time travel/debugging, expire last month's), judged
    by manifest file mtime so pre-round-5 manifests work too.

    ``gc_grace_s``: an unreferenced data file younger than this is NOT
    collected — an in-flight commit renames its files into data/
    BEFORE publishing a manifest, so without the grace window a
    concurrently-running expire would GC a commit's files out from
    under it and its published head would reference nothing. Pass 0
    only when no writer can be active.

    Returns {"expired": [ids...], "removed_files": n}."""
    import time as _time

    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    snaps = _snapshots(table_dir)
    expire = snaps[:-keep_last]
    if older_than_s is not None:
        cutoff = _time.time() - older_than_s
        expire = [s for s in expire if os.path.getmtime(s[2]) < cutoff]
    if not expire:
        return {"expired": [], "removed_files": 0}
    # survivors = everything NOT expired (with older_than_s, young
    # snapshots outside the newest keep_last survive too — their files
    # must stay live)
    expired_ids = {s for _, s, _ in expire}
    survivors = [s for s in snaps if s[1] not in expired_ids]
    live: set[str] = set()
    for _, snap, _ in survivors:
        live |= set(_manifest(table_dir, snap)["files"])
    # manifests first: a crash between the two phases leaves only
    # unreferenced files (re-running GC collects them), never a live
    # manifest pointing at deleted data
    sdir = os.path.join(table_dir, "snapshots")
    for seq, _, path in expire:
        os.remove(path)
        # the seq-claim hard link would otherwise keep the expired
        # manifest's content alive on disk forever (and accumulate one
        # entry per commit); claims of surviving seqs stay untouched
        claim = os.path.join(sdir, f".seq-{seq}")
        if os.path.exists(claim):
            os.remove(claim)
    data_dir = os.path.join(table_dir, "data")
    removed = 0
    now = _time.time()
    if os.path.isdir(data_dir):
        for name in os.listdir(data_dir):
            if not name.endswith(".parquet") or name in live:
                continue
            p = os.path.join(data_dir, name)
            if now - os.path.getmtime(p) < gc_grace_s:
                continue  # possibly an in-flight commit's staged file
            os.remove(p)
            removed += 1
    return {"expired": [s for _, s, _ in expire], "removed_files": removed}


def rollback(table_dir: str, snapshot_id: str) -> str:
    """Roll the table back to a historical snapshot by committing a NEW
    snapshot that points at the old file list (Iceberg rollback: history
    is preserved, data files are immutable, nothing is deleted)."""
    old = _manifest(table_dir, snapshot_id)
    snaps = _snapshots(table_dir)
    seq = snaps[-1][0] + 1
    new_id = uuid.uuid4().hex[:12]
    sdir = os.path.join(table_dir, "snapshots")
    manifest = {
        "snapshot_id": new_id,
        "sequence": seq,
        "parent": snaps[-1][1],
        "operation": "rollback",
        "rolled_back_to": snapshot_id,
        "files": old["files"],
        "added": [],  # restores rows, adds none: not incremental-scannable
        "bounds": old.get("bounds", {}),
        # rollback restores the old SCHEMA too (it points at old files)
        **({"schema": old["schema"]} if "schema" in old else {}),
    }
    tmp = os.path.join(sdir, f".tmp-{new_id}")
    with open(tmp, "w") as f:
        json.dump(manifest, f)
    os.rename(tmp, os.path.join(sdir, f"{seq}-{new_id}.json"))  # COMMIT
    return new_id


def history(table_dir: str) -> list[dict]:
    out = []
    for seq, snap, path in _snapshots(table_dir):  # one read per snap
        with open(path) as f:
            m = json.load(f)
        out.append({"sequence": seq, "snapshot_id": snap,
                    **{k: v for k, v in m.items()
                       if k in ("operation", "parent")},
                    "n_files": len(m["files"])})
    return out
