"""Minimal ACID table format over the partitioned-parquet store layout.

The reference's mutation + CDC story rides Postgres WAL logical
replication (``AgeDigitalTwins.Events/Core/Services/AgeDigitalTwinsReplication.cs:194-284``
with ``REPLICA IDENTITY FULL``); SURVEY §1.4/§2.4 maps that to Delta +
Change Data Feed.  ``delta-spark`` is not available in this container,
so this module supplies the architectural core of that mapping with no
dependency: an **atomic version manifest** (the Delta commit-log
protocol, miniaturized) over ``GraphStore.save``'s partitioned parquet,
plus **per-commit compacted change batches** that
``run_change_stream`` tails.

Layout under a table root::

    root/
      _commits/00000000000000000001.json   one manifest per version
      data/00000000000000000001-<uuid>/    full partitioned snapshot
      changes/00000000000000000001/        ONE change batch per commit
      changes/.stage-<uuid>/               invisible staging (Spark file
                                           listings skip dot-prefixed)

Protocol (optimistic concurrency, exactly Delta's):

1.  A writer reads ``latest_version()`` = N, stages its snapshot under a
    UNIQUE ``data/`` dir and its change batch under a dot-prefixed
    staging dir — both invisible to readers.
2.  It then attempts to publish manifest N+1 with write-tmp → fsync →
    ``os.link`` (hard-link is atomic create-if-absent on POSIX — a
    plain ``rename`` silently overwrites, which would tear the log).
3.  Exactly one concurrent writer wins; the loser gets
    ``CommitConflict``, its staged dirs are removed, and it must reload
    the new snapshot, rebase, and retry — no torn state is ever
    visible because readers only follow manifests.
4.  The winner renames its staging dir to ``changes/<version>``; stream
    readers (globbing ``changes/*``) pick the batch up atomically.

Change batches are compacted **per commit**: a 10k-row import that
buffered 10k events lands as one directory with O(partitions) files —
not the one-file-per-transaction feed the write-through ``ChangeLog``
mode produces (that mode remains the low-latency OLTP tail; this is
the table-format path).
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from collections import Counter
from dataclasses import dataclass
from typing import Iterable, Sequence

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from pg_age_digitaltwins_spark.store.graph_store import (
    MODEL_EDGE_SCHEMA,
    MODEL_SCHEMA,
    REL_SCHEMA,
    TWIN_SCHEMA,
    GraphStore,
    _rel_row,
    _twin_row,
    local_frame,
    stored_schema,
    with_vdoc,
)
from pg_age_digitaltwins_spark.streaming.changes import (
    EVENT_DATA_SCHEMA,
    EventData,
    _ts,
)

_VERSION_DIGITS = 20

# MERGE delete keys: a twin ``dt_id``, and a relationship
# ``(source_id, relationship_id)`` whose NULL source matches every source
_TWIN_KEY_SCHEMA = T.StructType([T.StructField("dt_id", T.StringType())])
_REL_KEY_SCHEMA = T.StructType(
    [
        T.StructField("source_id", T.StringType()),
        T.StructField("relationship_id", T.StringType()),
    ]
)


class CommitConflict(Exception):
    """Another writer committed the version first — reload and rebase."""


def _fsync_dir(path: str) -> None:
    fd = os.open(path, os.O_RDONLY)
    try:
        os.fsync(fd)
    finally:
        os.close(fd)


@dataclass
class CommitLog:
    """The manifest directory of one versioned table root."""

    root: str

    def __post_init__(self) -> None:
        self.commits_dir = os.path.join(self.root, "_commits")
        self.data_dir = os.path.join(self.root, "data")
        self.changes_dir = os.path.join(self.root, "changes")
        for d in (self.commits_dir, self.data_dir, self.changes_dir):
            os.makedirs(d, exist_ok=True)

    # -- reads ----------------------------------------------------------
    def versions(self) -> list[int]:
        out = []
        for name in os.listdir(self.commits_dir):
            stem, ext = os.path.splitext(name)
            if ext == ".json" and stem.isdigit():
                out.append(int(stem))
        return sorted(out)

    def latest_version(self) -> int:
        vs = self.versions()
        return vs[-1] if vs else 0

    def manifest(self, version: int) -> dict:
        path = os.path.join(self.commits_dir, f"{version:0{_VERSION_DIGITS}d}.json")
        with open(path) as f:
            return json.load(f)

    # -- the atomic publish --------------------------------------------
    def try_commit(self, version: int, manifest: dict) -> None:
        """Publish ``manifest`` as ``version`` or raise CommitConflict.

        write-new → fsync → hard-link(final) → unlink(tmp): the link is
        the atomic create-if-absent that makes exactly one concurrent
        writer win; the directory fsync makes the link durable."""
        final = os.path.join(self.commits_dir, f"{version:0{_VERSION_DIGITS}d}.json")
        tmp = os.path.join(self.commits_dir, f".{uuid.uuid4().hex}.tmp")
        with open(tmp, "w") as f:
            json.dump(manifest, f, separators=(",", ":"), sort_keys=True)
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp, final)
        except FileExistsError as exc:
            raise CommitConflict(
                f"version {version} already committed by another writer"
            ) from exc
        finally:
            os.unlink(tmp)
        _fsync_dir(self.commits_dir)


def _stage_events_list(
    events: Sequence[EventData], stage: str, version: int | None = None
) -> int:
    """Driver-buffered events → ONE ND-JSON file in the staging dir
    (same line format as ``ChangeLog._write_feed_file``).  EVERY event is
    stamped with the COMMIT VERSION in ``commit_version`` — txn_id
    counters are session-local (they restart at 1 per client session), so
    the change feed's cross-commit order is recoverable only from the
    stamped version; CDF consumers (the replication module) filter and
    fold multi-commit batches by (commit_version, txn_id, seq).  Events
    whose ``txn_id`` is 0 additionally get txn_id = version and a
    file-order ``seq`` (seq is gated on the SAME condition: a legitimate
    seq inside a real transaction must never be rewritten — seq 0 from a
    version-stamped producer is the only file-order case)."""
    os.makedirs(stage, exist_ok=True)
    path = os.path.join(stage, "events.ndjson")
    with open(path, "w") as f:
        for i, e in enumerate(events):
            txn = e.txn_id or (version or 0)
            seq = e.seq if e.txn_id else i
            f.write(
                json.dumps(
                    {
                        "entity_id": e.entity_id,
                        "graph_name": e.graph_name,
                        "table_name": e.table_name,
                        "old_value": None
                        if e.old_value is None
                        else json.dumps(e.old_value, separators=(",", ":")),
                        "new_value": None
                        if e.new_value is None
                        else json.dumps(e.new_value, separators=(",", ":")),
                        "event_type": e.event_type,
                        "timestamp": _ts(e.timestamp).isoformat(
                            sep="T", timespec="milliseconds"
                        ),
                        "txn_id": txn,
                        "seq": seq,
                        "commit_version": version or 0,
                    },
                    separators=(",", ":"),
                )
                + "\n"
            )
    return len(events)


def _stage_events_df(
    events: DataFrame, stage: str, version: int | None = None
) -> int:
    """Bulk events → executor-side JSON part files (O(partitions) files
    per commit regardless of row count — the compaction contract).
    EVERY row is stamped with the commit version in ``commit_version``
    (see ``_stage_events_list``); zero ``txn_id`` rows additionally get
    txn_id = version."""
    events = events.withColumn(
        "commit_version", F.lit(version or 0).cast("long")
    )
    if version:
        events = events.withColumn(
            "txn_id",
            F.when(F.col("txn_id") == 0, F.lit(version).cast("long"))
            .otherwise(F.col("txn_id")),
        )
    (
        events.select([f.name for f in EVENT_DATA_SCHEMA.fields])
        .write.mode("overwrite")
        .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSS")
        .json(stage)
    )
    return -1  # unknown without an extra count job; manifest records -1


def _stage_change_batch(
    log: CommitLog,
    events: Sequence[EventData] | DataFrame | None,
    version: int | None = None,
) -> tuple[str | None, int]:
    if events is None:
        return None, 0
    stage = os.path.join(log.changes_dir, f".stage-{uuid.uuid4().hex[:8]}")
    if isinstance(events, DataFrame):
        return stage, _stage_events_df(events, stage, version)
    return stage, _stage_events_list(list(events), stage, version)


_PARTITION_COLS = {"twins": "model_id", "relationships": "name"}
_PLAIN_TABLES = ("models", "model_edges")
_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"


def _list_parts(root: str, table_rel: str) -> dict[str, str]:
    """Partition-dir name (``model_id=X``) → repo-relative path, for a
    hive-partitioned table directory just written."""
    abs_dir = os.path.join(root, table_rel)
    out = {}
    if os.path.isdir(abs_dir):
        for name in os.listdir(abs_dir):
            if "=" in name and not name.startswith(("_", ".")):
                out[name] = os.path.join(table_rel, name)
    return out


def _tables_manifest(root: str, snap_rel: str) -> dict:
    """The format-2 ``tables`` entry for a full snapshot directory:
    per-partition references for the partitioned tables (so later
    copy-on-write commits can carry unchanged partitions forward) and
    whole-dir references for the tiny dims."""
    tables: dict[str, dict] = {}
    for table in _PARTITION_COLS:
        tables[table] = {"parts": _list_parts(root, os.path.join(snap_rel, table))}
    for table in _PLAIN_TABLES:
        tables[table] = {"dir": os.path.join(snap_rel, table)}
    return tables


def commit_snapshot(
    store: GraphStore,
    root: str,
    events: Sequence[EventData] | DataFrame | None = None,
    base_version: int | None = None,
    writer: str | None = None,
) -> int:
    """Write one atomic commit: full snapshot + compacted change batch.

    Returns the committed version.  Raises :class:`CommitConflict` when
    a concurrent writer committed first — the staged snapshot and
    change batch are cleaned up, the log is untouched, and the caller
    should reload (``load_latest``), rebase its mutations, and retry.
    """
    log = CommitLog(root)
    base = log.latest_version() if base_version is None else base_version
    version = base + 1
    tag = f"{version:0{_VERSION_DIGITS}d}"
    snap_rel = os.path.join("data", f"{tag}-{uuid.uuid4().hex[:8]}")
    snap_dir = os.path.join(root, snap_rel)
    store.save(snap_dir)

    stage, n_events = _stage_change_batch(log, events, version)

    manifest = {
        "version": version,
        "base_version": base,
        "format": 2,
        "data_dir": snap_rel,
        "tables": _tables_manifest(root, snap_rel),
        "change_dir": os.path.join("changes", tag) if stage is not None else None,
        "n_events": n_events,
        "writer": writer or f"pid-{os.getpid()}",
    }
    try:
        log.try_commit(version, manifest)
    except CommitConflict:
        shutil.rmtree(snap_dir, ignore_errors=True)
        if stage is not None:
            shutil.rmtree(stage, ignore_errors=True)
        raise
    if stage is not None:
        # Publish the batch only AFTER winning: a losing writer must
        # never surface change files (stream readers glob changes/*;
        # the dot-prefixed staging dir is invisible to Spark listings).
        os.rename(stage, os.path.join(root, manifest["change_dir"]))
        _fsync_dir(log.changes_dir)
    return version


# Hive's escapePathName charset (Spark ExternalCatalogUtils): partition
# VALUES are percent-escaped in directory names, so manifest part keys
# must use the same escaping to line up with what save() wrote.
_ESCAPE_CHARS = set('"#%\'*/:=?\\\x7f{[]^') | {chr(c) for c in range(32)}


def _escape_part_value(v: str) -> str:
    return "".join(f"%{ord(c):02X}" if c in _ESCAPE_CHARS else c for c in v)


def _part_key(table: str, value) -> str:
    col = _PARTITION_COLS[table]
    return f"{col}={_HIVE_NULL if value is None else _escape_part_value(str(value))}"


def commit_cow(
    store: GraphStore,
    root: str,
    changed: dict[str, object],
    events: Sequence[EventData] | DataFrame | None = None,
    base_version: int | None = None,
    writer: str | None = None,
) -> int:
    """Copy-on-write commit: rewrite ONLY the touched partitions.

    ``commit_snapshot`` rewrites the full table set per commit — fine
    for a test store, absurd at 100 TB (a one-twin update would copy
    the world; Delta never does this, and neither does the reference,
    whose Postgres MERGE touches one heap row).  This is the
    Delta-equivalent path: the manifest references every partition of
    the base version EXCEPT those the caller declares changed, which
    are written fresh from ``store``.  Write volume is
    O(changed partitions), not O(table).

    Measured at sf0.01 (18.6k twins, 75k edges, local[32]): a
    one-partition COW commit is **0.62 s vs 4.58 s** for the full
    snapshot — and the COW cost is O(touched partition) while the
    snapshot cost grows with the table, so the ratio widens with scale.

    ``changed`` maps table → what changed:

    * ``"twins"`` / ``"relationships"``: an iterable of partition
      values (``model_id`` / ``name``; ``None`` = the null partition).
      A declared value whose partition no longer holds rows is a
      partition DELETE (dropped from the manifest).
    * ``"models"`` / ``"model_edges"``: truthy = rewrite the (tiny)
      dim, absent/falsy = carry the base dir forward.

    The caller (CRUD layer / import job) always knows the touched set —
    it is exactly the mutation's own key set.  Concurrency contract is
    identical to ``commit_snapshot``: stage everything, then the
    version CAS decides; the loser cleans up, reloads, rebases.
    """
    log = CommitLog(root)
    base = log.latest_version() if base_version is None else base_version
    if base == 0:
        # no base to reference — a COW of nothing is a full snapshot
        return commit_snapshot(store, root, events, base_version, writer)
    base_manifest = log.manifest(base)
    base_tables = base_manifest.get("tables") or _tables_manifest(
        root, base_manifest["data_dir"]
    )

    version = base + 1
    tag = f"{version:0{_VERSION_DIGITS}d}"
    snap_rel = os.path.join("data", f"{tag}-{uuid.uuid4().hex[:8]}")
    snap_dir = os.path.join(root, snap_rel)

    tables: dict[str, dict] = {}
    wrote_any = False
    for table in _PARTITION_COLS:
        col = _PARTITION_COLS[table]
        values = changed.get(table)
        parts = dict(base_tables[table]["parts"])
        if values:
            values = list(values)
            keys = {_part_key(table, v) for v in values}
            cond = F.col(col).isin([v for v in values if v is not None])
            if any(v is None for v in values):
                cond = cond | F.col(col).isNull()
            df = getattr(store, table)
            table_rel = os.path.join(snap_rel, table)
            with_vdoc(df).filter(cond).write.partitionBy(col).parquet(
                os.path.join(root, table_rel)
            )
            wrote_any = True
            fresh = _list_parts(root, table_rel)
            # base refs for declared keys drop; empty results = deletes
            parts = {k: p for k, p in parts.items() if k not in keys}
            parts.update(fresh)
        tables[table] = {"parts": parts}
    for table in _PLAIN_TABLES:
        if changed.get(table):
            table_rel = os.path.join(snap_rel, table)
            getattr(store, table).write.parquet(os.path.join(root, table_rel))
            wrote_any = True
            tables[table] = {"dir": table_rel}
        else:
            tables[table] = {"dir": base_tables[table]["dir"]}

    stage, n_events = _stage_change_batch(log, events, version)
    manifest = {
        "version": version,
        "base_version": base,
        "format": 2,
        "data_dir": None,  # COW commits have no single snapshot dir
        "tables": tables,
        "change_dir": os.path.join("changes", tag) if stage is not None else None,
        "n_events": n_events,
        "writer": writer or f"pid-{os.getpid()}",
    }
    try:
        log.try_commit(version, manifest)
    except CommitConflict:
        if wrote_any:
            shutil.rmtree(snap_dir, ignore_errors=True)
        if stage is not None:
            shutil.rmtree(stage, ignore_errors=True)
        raise
    if stage is not None:
        os.rename(stage, os.path.join(root, manifest["change_dir"]))
        _fsync_dir(log.changes_dir)
    return version


def _read_parts(
    spark: SparkSession,
    root: str,
    parts: dict[str, str],
    schema,
    partition_col: str,
) -> DataFrame:
    """Assemble a partitioned table from per-partition references that
    may span several snapshot directories (the COW read path).

    Partition dirs are grouped by their parent table dir and each group
    is read with ``basePath`` = that parent, so Spark recovers the
    partition column from the directory names; groups union together.
    The union width is O(number of contributing versions), not
    O(partitions) — and a periodic full ``commit_snapshot`` (the
    compaction equivalent) resets it to 1.  The stored schema is
    supplied, so no group pays a parquet footer job to infer it."""
    cols = [f.name for f in schema.fields] + ["vdoc"]
    if not parts:
        return with_vdoc(local_frame(spark, [], schema)).select(*cols)
    disk = stored_schema(schema, partition_col)
    groups: dict[str, list[str]] = {}
    for rel in parts.values():
        parent = os.path.dirname(os.path.join(root, rel))
        groups.setdefault(parent, []).append(os.path.join(root, rel))
    out = None
    for parent, paths in sorted(groups.items()):
        df = (
            spark.read.schema(disk)
            .option("basePath", parent)
            .parquet(*sorted(paths))
            .select(*cols)
        )
        out = df if out is None else out.unionByName(df)
    return out


def load_version(spark: SparkSession, root: str, version: int) -> GraphStore:
    """Time travel: load the graph as of a specific committed version
    (``VERSION AS OF`` semantics).  Format-1 manifests load their full
    snapshot dir; format-2 assemble per-table references.  Every read
    is given its known schema, so loading runs no Spark job."""
    log = CommitLog(root)
    m = log.manifest(version)
    tables = m.get("tables")
    if not tables:
        return GraphStore.load(spark, os.path.join(root, m["data_dir"]))

    def read_dim(table: str, schema) -> DataFrame:
        return spark.read.schema(schema).parquet(
            os.path.join(root, tables[table]["dir"])
        )

    return GraphStore(
        spark=spark,
        twins=_read_parts(spark, root, tables["twins"]["parts"], TWIN_SCHEMA, "model_id"),
        relationships=_read_parts(
            spark, root, tables["relationships"]["parts"], REL_SCHEMA, "name"
        ),
        models=read_dim("models", MODEL_SCHEMA),
        model_edges=read_dim("model_edges", MODEL_EDGE_SCHEMA),
    )


def load_latest(spark: SparkSession, root: str) -> tuple[GraphStore, int]:
    """Load the newest committed snapshot.  Readers only ever follow
    manifests, so a half-staged writer is invisible and a torn read is
    impossible."""
    log = CommitLog(root)
    version = log.latest_version()
    if version == 0:
        raise FileNotFoundError(f"no commits under {root}")
    return load_version(spark, root, version), version


def vacuum(root: str, keep_last: int = 2) -> dict[str, int]:
    """Retention cleanup: drop manifests, change batches, and snapshot
    directories no retained version references (Delta ``VACUUM`` +
    log-retention rolled into one; safe because readers resolve through
    retained manifests only).  A snapshot dir partially referenced by a
    retained COW manifest is kept whole — the next full
    ``commit_snapshot`` plus vacuum reclaims it entirely."""
    log = CommitLog(root)
    versions = log.versions()
    retained = set(versions[-keep_last:]) if keep_last > 0 else set()
    referenced_snaps: set[str] = set()
    for v in retained:
        m = log.manifest(v)
        refs = []
        if m.get("data_dir"):
            refs.append(m["data_dir"])
        for entry in (m.get("tables") or {}).values():
            if entry.get("dir"):
                refs.append(entry["dir"])
            for rel in entry.get("parts", {}).values():
                refs.append(rel)
        for rel in refs:
            # the snapshot container is data/<tag>-<uuid>
            parts = rel.replace(os.sep, "/").split("/")
            if len(parts) >= 2 and parts[0] == "data":
                referenced_snaps.add(parts[1])
    removed = {"manifests": 0, "snapshots": 0, "change_batches": 0}
    for v in versions:
        if v in retained:
            continue
        m = log.manifest(v)
        if m.get("change_dir"):
            d = os.path.join(root, m["change_dir"])
            if os.path.isdir(d):
                shutil.rmtree(d)
                removed["change_batches"] += 1
        os.unlink(os.path.join(log.commits_dir, f"{v:0{_VERSION_DIGITS}d}.json"))
        removed["manifests"] += 1
    for snap in os.listdir(log.data_dir):
        if snap not in referenced_snaps and not snap.startswith("."):
            shutil.rmtree(os.path.join(log.data_dir, snap))
            removed["snapshots"] += 1
    return removed


def read_changes_since(
    spark: SparkSession, root: str, after_version: int = 0
) -> DataFrame:
    """Batch CDF read: all change batches with version > after_version
    (the ``table_changes(…, starting_version)`` equivalent)."""
    log = CommitLog(root)
    dirs = []
    for v in log.versions():
        if v <= after_version:
            continue
        m = log.manifest(v)
        if m.get("change_dir"):
            d = os.path.join(root, m["change_dir"])
            if os.path.isdir(d):
                dirs.append(d)
    if not dirs:
        return local_frame(spark, [], EVENT_DATA_SCHEMA)
    return (
        spark.read.schema(EVENT_DATA_SCHEMA)
        .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSS")
        .json(dirs)
    )


def is_commit_log_root(path: str) -> bool:
    return os.path.isdir(os.path.join(path, "_commits"))


def changes_glob(root: str) -> str:
    """The readStream source path for a commit-log root: one glob over
    the per-commit batch directories (dot-staging dirs are skipped by
    Spark's file listing, so only published commits are ever read)."""
    return os.path.join(root, "changes", "*")


def changed_partitions_from_events(
    events: Sequence[EventData],
) -> dict[str, object]:
    """Derive the COW ``changed`` map from a buffered change batch.

    Every CRUD mutation's event carries the documents, so the touched
    partition set is exactly the union of old+new partition values
    (an update that MOVES a twin across models touches both).  The
    model dims are always rewritten — they are broadcast-sized, and
    model mutations (closure recompute on create, decommission flags)
    fan out beyond their own event's row."""
    twins: set = set()
    rels: set = set()
    for e in events:
        kind = e.entity_kind
        docs = [d for d in (e.old_value, e.new_value) if d is not None]
        if kind == "Twin":
            for d in docs:
                twins.add((d.get("$metadata") or {}).get("$model"))
        elif kind == "Relationship":
            for d in docs:
                rels.add(d.get("$relationshipName"))
    out: dict[str, object] = {"models": True, "model_edges": True}
    if twins:
        out["twins"] = sorted(twins, key=lambda v: (v is None, v))
    if rels:
        out["relationships"] = sorted(rels, key=lambda v: (v is None, v))
    return out


def commit_with_retry(
    spark: SparkSession,
    root: str,
    rebase,
    max_attempts: int = 5,
    writer: str | None = None,
) -> int:
    """Delta-style loser recovery: reload → rebase → re-stage → retry.

    ``commit_snapshot`` / ``commit_cow`` hand a losing concurrent writer
    :class:`CommitConflict` and make rebasing the caller's problem;
    Delta's transaction loop instead re-checks against the new log and
    retries automatically.  This is that loop for callers whose
    mutation can be re-derived from any base snapshot:

    ``rebase(store, base_version) -> (new_store, changed, events)``
        Called once per attempt with the CURRENT latest snapshot
        (``None`` when the log is empty).  Returns the store to commit,
        the COW ``changed`` map (``None`` → full ``commit_snapshot``),
        and the change events.  Because every retry re-derives from the
        freshly-loaded snapshot, both disjoint and overlapping
        concurrent merges converge — the last writer's view always
        includes the earlier winner's rows.

    Returns the committed version; re-raises the final
    :class:`CommitConflict` after ``max_attempts`` losses (pathological
    contention — the caller should back off, as Delta does).
    """
    last: CommitConflict | None = None
    for _ in range(max_attempts):
        log = CommitLog(root)
        base = log.latest_version()
        store = load_version(spark, root, base) if base > 0 else None
        new_store, changed, events = rebase(store, base)
        try:
            if changed is not None and base > 0:
                return commit_cow(
                    new_store, root, changed, events,
                    base_version=base, writer=writer,
                )
            return commit_snapshot(
                new_store, root, events, base_version=base, writer=writer
            )
        except CommitConflict as exc:
            last = exc
            continue
    assert last is not None
    raise last


class _NothingToMerge(Exception):
    """merge_rows rebase: no rows matched and none to insert."""

    def __init__(self, version: int):
        self.version = version


def _stamp_etag(doc: dict) -> dict:
    # Always regenerate: the reference stamps a fresh server-side etag on
    # every write (AgeDigitalTwinsClient.DigitalTwins.cs:302-327); storing
    # a caller-supplied (possibly replayed/stale) etag verbatim would
    # break optimistic-concurrency downstream.
    doc = dict(doc)
    doc["$etag"] = f'W/"{uuid.uuid4().hex}"'
    return doc


def merge_rows(
    spark: SparkSession,
    root: str,
    twin_upserts: Sequence[dict] = (),
    twin_deletes: Sequence[str] = (),
    rel_upserts: Sequence[dict] = (),
    rel_deletes: Sequence[tuple] = (),
    max_attempts: int = 5,
    writer: str | None = None,
    timestamp: str | None = None,
    distributed_threshold: int = 10_000,
) -> int:
    """Row-level MERGE commit: upsert/delete individual rows, rewriting
    only the touched partitions (``commit_cow``) with automatic
    conflict retry (``commit_with_retry``).

    The Delta equivalent is ``MERGE INTO`` — match on the primary key,
    update matched, insert unmatched, delete listed — expressed over the
    manifest format this module ships.  Inputs are ADT documents:

    * ``twin_upserts`` — twin docs (``$dtId`` + ``$metadata.$model``);
      matched rows update (old partition + new partition both rewrite,
      so a model move never leaves a stale copy), unmatched insert.
    * ``twin_deletes`` — ``$dtId`` keys; unmatched keys are no-ops
      (``WHEN MATCHED DELETE`` semantics).
    * ``rel_upserts`` / ``rel_deletes`` — relationship docs / keys.  A
      delete key is ``(source_id, relationship_id)`` — the true primary
      key — or a bare ``relationship_id`` string.

    Each attempt re-reads the latest snapshot, point-looks-up the old
    rows for the touched keys (bounded by the batch size — this is the
    CRUD-batch-shaped path; million-row merges belong to
    ``jobs.import_file_distributed``), emits Insert/Update/Delete
    change events with true old images, and COW-commits.  Returns the
    committed version.
    """
    from datetime import datetime, timezone

    ts = timestamp or datetime.now(timezone.utc).isoformat(timespec="milliseconds")
    twin_up = [_stamp_etag(_as_doc(d)) for d in twin_upserts]
    rel_up = [_stamp_etag(_as_doc(d)) for d in rel_upserts]
    # Delta MERGE raises when the source matches a target row more than
    # once; duplicate upsert keys here would union TWO rows under one
    # primary key, breaking the key invariant join elimination relies on
    t_counts = Counter(d["$dtId"] for d in twin_up)
    dup_t = {k for k, n in t_counts.items() if n > 1}
    if dup_t:
        raise ValueError(f"duplicate $dtId in twin_upserts: {sorted(dup_t)}")
    rkeys_up = [(d["$sourceId"], d["$relationshipId"]) for d in rel_up]
    dup_r = {k for k, n in Counter(rkeys_up).items() if n > 1}
    if dup_r:
        raise ValueError(
            f"duplicate (source_id, relationship_id) in rel_upserts: {sorted(dup_r)}"
        )
    # a key both upserted and deleted: the upsert wins and no Delete
    # event is emitted (the row survives — CDC must not see a deletion)
    up_t_keys = {d["$dtId"] for d in twin_up}
    twin_del = [k for k in twin_deletes if k not in up_t_keys]
    rel_del = [
        (k if isinstance(k, (tuple, list)) else (None, k)) for k in rel_deletes
    ]
    up_r_keys = set(rkeys_up)
    # exact-key deletes that are also upserted: upsert wins, drop the
    # delete outright.  A BARE-rid delete (source unknown) must survive
    # here even when some upsert shares the rid — it may still match
    # rows under OTHER sources; the upserted keys are excluded at
    # old-image expansion time instead.
    rel_del = [
        (s, r) for s, r in rel_del
        if s is None or (s, r) not in up_r_keys
    ]

    # Above the threshold the point-lookup rebase's driver collect()
    # (old images keyed on the batch) stops being CRUD-shaped — hand
    # off to the join-based frame path, which derives old images,
    # events and RI checks executor-side.
    n_keys = len(twin_up) + len(twin_del) + len(rel_up) + len(rel_del)
    if n_keys > distributed_threshold:
        return merge_frames(
            spark, root,
            twin_upserts=(
                local_frame(spark, [_twin_row(d) for d in twin_up], TWIN_SCHEMA)
                if twin_up else None
            ),
            twin_deletes=(
                local_frame(spark, [(k,) for k in twin_del], _TWIN_KEY_SCHEMA)
                if twin_del else None
            ),
            rel_upserts=(
                local_frame(spark, [_rel_row(d) for d in rel_up], REL_SCHEMA)
                if rel_up else None
            ),
            rel_deletes=(
                local_frame(spark, rel_del, _REL_KEY_SCHEMA)
                if rel_del else None
            ),
            max_attempts=max_attempts, writer=writer, timestamp=ts,
        )

    def rebase(store: GraphStore | None, base: int):
        if store is None:
            if not (twin_up or rel_up):
                # delete-only merge on an empty log: nothing to do —
                # don't write a pointless empty snapshot as version 1
                raise _NothingToMerge(base)
            # Empty log: every upsert is an insert, deletes are no-ops.
            # Referential integrity holds from the first version: every
            # relationship endpoint must be among the inserted twins.
            ids = {d["$dtId"] for d in twin_up}
            missing = sorted(
                ({d["$sourceId"] for d in rel_up}
                 | {d["$targetId"] for d in rel_up}) - ids
            )
            if missing:
                raise ValueError(
                    f"rel_upserts reference missing twins {missing}"
                )
            fresh = GraphStore.empty(spark)
            fresh.twins = local_frame(
                spark, [_twin_row(d) for d in twin_up], TWIN_SCHEMA
            )
            fresh.relationships = local_frame(
                spark, [_rel_row(d) for d in rel_up], REL_SCHEMA
            )
            events = [
                _merge_event(d["$dtId"], "Twin", None, d, "Insert", ts)
                for d in twin_up
            ] + [
                _merge_event(
                    d["$relationshipId"], d["$relationshipName"], None, d,
                    "Insert", ts,
                )
                for d in rel_up
            ]
            return fresh, None, events

        events: list[EventData] = []
        changed: dict[str, object] = {}

        # -- twins ------------------------------------------------------
        tkeys = sorted({d["$dtId"] for d in twin_up} | set(twin_del))
        new_twins = store.twins
        if tkeys:
            old = {
                r["dt_id"]: (r["model_id"], json.loads(r["doc"]))
                for r in store.twins.filter(F.col("dt_id").isin(tkeys))
                .select("dt_id", "model_id", "doc")
                .collect()
            }
            parts: set = set()
            for d in twin_up:
                model = (d.get("$metadata") or {}).get("$model")
                parts.add(model)
                prev = old.get(d["$dtId"])
                if prev is not None:
                    parts.add(prev[0])
                events.append(
                    _merge_event(
                        d["$dtId"], "Twin",
                        prev[1] if prev else None, d,
                        "Update" if prev else "Insert", ts,
                    )
                )
            for k in twin_del:
                prev = old.get(k)
                if prev is None:
                    continue  # WHEN MATCHED DELETE: unmatched = no-op
                parts.add(prev[0])
                events.append(
                    _merge_event(k, "Twin", prev[1], None, "Delete", ts)
                )
            rows = local_frame(
                spark, [_twin_row(d) for d in twin_up], TWIN_SCHEMA
            )
            new_twins = (
                with_vdoc(store.twins)
                .filter(~F.col("dt_id").isin(tkeys))
                .unionByName(with_vdoc(rows))
            )
            if parts:
                changed["twins"] = sorted(parts, key=lambda v: (v is None, v or ""))

        # -- relationships ---------------------------------------------
        up_rkeys = {(d["$sourceId"], d["$relationshipId"]) for d in rel_up}
        del_rids = {k[1] for k in rel_del}
        rid_keys = sorted({rid for _, rid in up_rkeys} | del_rids)
        new_rels = store.relationships
        if rid_keys:
            old_r = {
                (r["source_id"], r["relationship_id"]): (r["name"], json.loads(r["doc"]))
                for r in store.relationships.filter(
                    F.col("relationship_id").isin(rid_keys)
                )
                .select("source_id", "relationship_id", "name", "doc")
                .collect()
            }
            rparts: set = set()
            matched_keys: set = set()
            for d in rel_up:
                key = (d["$sourceId"], d["$relationshipId"])
                matched_keys.add(key)
                rparts.add(d["$relationshipName"])
                prev = old_r.get(key)
                if prev is not None:
                    rparts.add(prev[0])
                events.append(
                    _merge_event(
                        d["$relationshipId"], d["$relationshipName"],
                        prev[1] if prev else None, d,
                        "Update" if prev else "Insert", ts,
                    )
                )
            for src, rid in rel_del:
                hits = [
                    (k, v) for k, v in old_r.items()
                    if k[1] == rid
                    and (src is None or k[0] == src)
                    and k not in up_rkeys  # upsert wins for that exact key
                ]
                for k, (name, doc) in hits:
                    matched_keys.add(k)
                    rparts.add(name)
                    events.append(
                        _merge_event(rid, name, doc, None, "Delete", ts)
                    )
            pred = F.struct(
                F.col("source_id"), F.col("relationship_id")
            ).isin([F.struct(F.lit(s), F.lit(r)) for s, r in matched_keys]) if matched_keys else F.lit(False)
            rows = local_frame(
                spark, [_rel_row(d) for d in rel_up], REL_SCHEMA
            )
            new_rels = (
                with_vdoc(store.relationships)
                .filter(~pred)
                .unionByName(with_vdoc(rows))
            )
            if rparts:
                changed["relationships"] = sorted(rparts)

        if not changed:
            # nothing matched and nothing to insert — a no-op MERGE
            # commits NOTHING (committing here would write a pointless
            # full snapshot)
            raise _NothingToMerge(base)

        # Referential integrity: the query compilers' join elimination
        # is justified by "every edge endpoint exists" (the CRUD delete
        # guard / import endpoint validation).  A storage-level MERGE
        # must uphold the same invariant or eliminated plans would
        # return phantom rows for dangling edges.
        if twin_del:
            dangling = (
                new_rels.filter(
                    F.col("source_id").isin(twin_del)
                    | F.col("target_id").isin(twin_del)
                )
                .select("relationship_id")
                .limit(5)
                .collect()
            )
            if dangling:
                raise ValueError(
                    "twin_deletes would orphan relationships "
                    f"{sorted(r[0] for r in dangling)}; delete or "
                    "re-point the edges in the same merge"
                )
        if rel_up:
            endpoints = sorted(
                {d["$sourceId"] for d in rel_up}
                | {d["$targetId"] for d in rel_up}
            )
            present = {
                r[0]
                for r in new_twins.filter(F.col("dt_id").isin(endpoints))
                .select("dt_id")
                .collect()
            }
            missing = [e for e in endpoints if e not in present]
            if missing:
                raise ValueError(
                    f"rel_upserts reference missing twins {missing}"
                )

        out = GraphStore(
            spark=spark,
            twins=new_twins,
            relationships=new_rels,
            models=store.models,
            model_edges=store.model_edges,
        )
        return out, changed, events or None

    if not (twin_up or rel_up or twin_del or rel_del):
        return CommitLog(root).latest_version()
    try:
        return commit_with_retry(
            spark, root, rebase, max_attempts=max_attempts, writer=writer
        )
    except _NothingToMerge as noop:
        return noop.version


def _as_doc(d) -> dict:
    return json.loads(d) if isinstance(d, str) else dict(d)


def merge_frames(
    spark: SparkSession,
    root: str,
    twin_upserts: DataFrame | None = None,
    twin_deletes: DataFrame | None = None,
    rel_upserts: DataFrame | None = None,
    rel_deletes: DataFrame | None = None,
    max_attempts: int = 5,
    writer: str | None = None,
    timestamp: str | None = None,
) -> int:
    """DataFrame-native MERGE commit — the bulk path of ``merge_rows``.

    ``merge_rows`` point-looks-up old images with a driver ``collect()``
    keyed on the batch — right for CRUD-sized batches, unbounded by API.
    This path keeps EVERYTHING executor-side: old images, change-event
    assembly, duplicate-key detection, referential-integrity checks and
    the upsert-wins delete suppression are all joins against the
    snapshot; only partition VALUES (bounded by the model / relationship
    -name count) and capped error samples ever reach the driver.  A
    million-row merge never materializes a data row on the driver.

    Inputs (storage row shape, already validated/stamped — the same
    contract as ``jobs.import_file_distributed``'s parse stage):

    * ``twin_upserts`` — ``TWIN_SCHEMA`` columns
      (dt_id, model_id, etag, last_update_time, doc)
    * ``twin_deletes`` — one ``dt_id`` column
    * ``rel_upserts`` — ``REL_SCHEMA`` columns
    * ``rel_deletes`` — (source_id, relationship_id); a NULL source_id
      is the bare-rid form (deletes the rid under every source)

    Duplicate keys raise (Delta ``MERGE`` multi-match semantics); a key
    both upserted and deleted keeps the upsert and emits no Delete.
    Change events carry true old images, assembled as a DataFrame and
    staged executor-side (``_stage_events_df``).  Within one merge
    batch each entity appears at most once (duplicates rejected), so
    per-entity coalescing never depends on intra-batch ``seq``; events
    carry ``txn_id = committed version, seq = 0``.
    """
    from datetime import datetime, timezone

    ts = timestamp or datetime.now(timezone.utc).isoformat(timespec="milliseconds")
    t_up = twin_upserts
    t_del = twin_deletes
    r_up = rel_upserts
    r_del = rel_deletes

    def _dup_check(df: DataFrame, keys: list[str], what: str) -> None:
        dup = (
            df.groupBy(*keys)
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") > 1)
            .limit(5)
            .collect()
        )
        if dup:
            raise ValueError(
                f"duplicate {keys} in {what}: "
                f"{sorted(tuple(r[k] for k in keys) for r in dup)}"
            )

    def _ev(entity, table, old, new, etype):
        return F.struct(
            entity.alias("entity_id"),
            F.lit("digitaltwins").alias("graph_name"),
            table.alias("table_name"),
            old.alias("old_value"),
            new.alias("new_value"),
            etype.alias("event_type"),
            F.to_timestamp(F.lit(ts)).alias("timestamp"),
            F.lit(0).cast("long").alias("txn_id"),
            F.lit(0).cast("long").alias("seq"),
        )

    def rebase(store: GraphStore | None, base: int):
        nonlocal t_up, t_del, r_up, r_del
        if store is None:
            store = GraphStore.empty(spark)

        if t_up is not None:
            _dup_check(t_up, ["dt_id"], "twin_upserts")
        if r_up is not None:
            _dup_check(
                r_up, ["source_id", "relationship_id"], "rel_upserts"
            )

        events_parts: list[DataFrame] = []
        changed: dict[str, object] = {}
        effective_t_del: DataFrame | None = None

        # -- twins ------------------------------------------------------
        new_twins = with_vdoc(store.twins)
        if t_up is not None or t_del is not None:
            up = t_up if t_up is not None else local_frame(spark, [], TWIN_SCHEMA)
            dl = (
                t_del.join(up.select("dt_id"), "dt_id", "left_anti")
                if t_del is not None
                else local_frame(spark, [], _TWIN_KEY_SCHEMA)
            )  # upsert wins: no Delete event, row survives
            effective_t_del = dl
            old = store.twins.select(
                "dt_id",
                F.col("model_id").alias("__old_model"),
                F.col("doc").alias("__old_doc"),
            )
            ev_up = up.join(old, "dt_id", "left").select(
                _ev(
                    F.col("dt_id"), F.lit("Twin"),
                    F.col("__old_doc"), F.col("doc"),
                    F.when(F.col("__old_doc").isNotNull(), "Update").otherwise(
                        "Insert"
                    ),
                ).alias("e")
            )
            ev_del = dl.join(old, "dt_id", "inner").select(
                _ev(
                    F.col("dt_id"), F.lit("Twin"),
                    F.col("__old_doc"), F.lit(None).cast("string"),
                    F.lit("Delete"),
                ).alias("e")
            )
            events_parts += [ev_up, ev_del]
            # touched partitions: new models of upserts + old models of
            # matched keys — VALUES only (bounded by the model count)
            touched = (
                up.select(F.col("model_id").alias("p"))
                .unionByName(
                    up.select("dt_id").unionByName(dl)
                    .join(old, "dt_id")
                    .select(F.col("__old_model").alias("p"))
                )
                .distinct()
                .collect()
            )
            parts = {r["p"] for r in touched}
            if parts:
                changed["twins"] = sorted(
                    parts, key=lambda v: (v is None, v or "")
                )
                all_keys = up.select("dt_id").unionByName(dl).distinct()
                new_twins = (
                    with_vdoc(store.twins)
                    .join(all_keys, "dt_id", "left_anti")
                    .unionByName(with_vdoc(up))
                )

        # -- relationships ---------------------------------------------
        new_rels = with_vdoc(store.relationships)
        if r_up is not None or r_del is not None:
            rup = r_up if r_up is not None else local_frame(spark, [], REL_SCHEMA)
            rdl = (
                r_del
                if r_del is not None
                else local_frame(spark, [], _REL_KEY_SCHEMA)
            )
            old_r = store.relationships.select(
                "source_id", "relationship_id",
                F.col("name").alias("__old_name"),
                F.col("doc").alias("__old_doc"),
            )
            # expand deletes to exact (source_id, relationship_id) rows:
            # bare-rid (NULL source) matches every source holding the rid;
            # keys also upserted are suppressed (upsert wins)
            exact_del = (
                rdl.filter(F.col("source_id").isNotNull())
                .join(old_r, ["source_id", "relationship_id"], "inner")
            )
            bare_del = (
                rdl.filter(F.col("source_id").isNull())
                .select("relationship_id")
                .join(old_r, "relationship_id", "inner")
                .select(
                    "source_id", "relationship_id", "__old_name", "__old_doc"
                )
            )
            matched_del = (
                exact_del.unionByName(bare_del)
                .join(
                    rup.select("source_id", "relationship_id"),
                    ["source_id", "relationship_id"],
                    "left_anti",
                )
            )
            ev_rup = rup.join(
                old_r, ["source_id", "relationship_id"], "left"
            ).select(
                _ev(
                    F.col("relationship_id"), F.col("name"),
                    F.col("__old_doc"), F.col("doc"),
                    F.when(F.col("__old_doc").isNotNull(), "Update").otherwise(
                        "Insert"
                    ),
                ).alias("e")
            )
            ev_rdel = matched_del.select(
                _ev(
                    F.col("relationship_id"), F.col("__old_name"),
                    F.col("__old_doc"), F.lit(None).cast("string"),
                    F.lit("Delete"),
                ).alias("e")
            )
            events_parts += [ev_rup, ev_rdel]
            touched_r = (
                rup.select(F.col("name").alias("p"))
                .unionByName(
                    rup.select("source_id", "relationship_id")
                    .join(old_r, ["source_id", "relationship_id"])
                    .select(F.col("__old_name").alias("p"))
                )
                .unionByName(matched_del.select(F.col("__old_name").alias("p")))
                .distinct()
                .collect()
            )
            rparts = {r["p"] for r in touched_r}
            if rparts:
                changed["relationships"] = sorted(rparts)
                del_keys = matched_del.select("source_id", "relationship_id")
                up_keys = rup.select("source_id", "relationship_id")
                new_rels = (
                    with_vdoc(store.relationships)
                    .join(
                        up_keys.unionByName(del_keys).distinct(),
                        ["source_id", "relationship_id"],
                        "left_anti",
                    )
                    .unionByName(with_vdoc(rup))
                )

        if not changed:
            raise _NothingToMerge(base)

        # Referential integrity (join-based, executor-side): same
        # invariants merge_rows enforces — join elimination depends on
        # them (see merge_rows).
        if effective_t_del is not None:
            # the EFFECTIVE deletes (upsert-wins rows excluded) — a twin
            # both upserted and deleted survives, so its edges are fine
            dangling = (
                new_rels.join(
                    effective_t_del.select(F.col("dt_id").alias("source_id")),
                    "source_id", "left_semi",
                )
                .select("relationship_id")
                .unionByName(
                    new_rels.join(
                        effective_t_del.select(F.col("dt_id").alias("target_id")),
                        "target_id", "left_semi",
                    ).select("relationship_id")
                )
                .limit(5)
                .collect()
            )
            if dangling:
                raise ValueError(
                    "twin_deletes would orphan relationships "
                    f"{sorted({r[0] for r in dangling})}; delete or "
                    "re-point the edges in the same merge"
                )
        if r_up is not None:
            endpoints = (
                r_up.select(F.col("source_id").alias("dt_id"))
                .unionByName(r_up.select(F.col("target_id").alias("dt_id")))
                .distinct()
            )
            missing = (
                endpoints.join(new_twins.select("dt_id"), "dt_id", "left_anti")
                .limit(5)
                .collect()
            )
            if missing:
                raise ValueError(
                    "rel_upserts reference missing twins "
                    f"{sorted(r[0] for r in missing)}"
                )

        events = events_parts[0]
        for p in events_parts[1:]:
            events = events.unionByName(p)
        events = events.select("e.*")

        out = GraphStore(
            spark=spark,
            twins=new_twins,
            relationships=new_rels,
            models=store.models,
            model_edges=store.model_edges,
        )
        return out, (changed or None), events

    if all(x is None for x in (t_up, t_del, r_up, r_del)):
        return CommitLog(root).latest_version()
    try:
        return commit_with_retry(
            spark, root, rebase, max_attempts=max_attempts, writer=writer
        )
    except _NothingToMerge as noop:
        return noop.version


def _merge_event(
    entity_id: str, table: str, old: dict | None, new: dict | None,
    event_type: str, ts: str,
) -> EventData:
    return EventData(
        entity_id=entity_id,
        graph_name="digitaltwins",
        table_name=table,
        old_value=old,
        new_value=new,
        event_type=event_type,
        timestamp=ts,
    )


def compact_table(
    spark: SparkSession, root: str, vacuum_keep_last: int | None = None
) -> int:
    """OPTIMIZE for the commit log: rewrite the latest version as one
    full snapshot commit (with conflict retry), optionally vacuuming
    history.

    Copy-on-write commits accumulate per-partition references across
    snapshot directories — the read path unions one branch per
    contributing version.  A periodic compaction (every few hundred
    commits, Delta's OPTIMIZE cadence) resets that union width to 1 and
    lets ``vacuum`` reclaim every superseded partial snapshot.  Emits
    no change events: compaction is a physical rewrite, invisible to
    CDC consumers."""

    def rebase(store: GraphStore | None, base: int):
        if store is None:
            raise FileNotFoundError(f"no commits under {root}")
        return store, None, None

    version = commit_with_retry(spark, root, rebase, writer="compact")
    if vacuum_keep_last is not None:
        vacuum(root, keep_last=vacuum_keep_last)
    return version
