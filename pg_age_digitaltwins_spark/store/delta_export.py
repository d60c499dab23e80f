"""Commit-log → Delta Lake table export bridge.

The commit log (`store/commit_log.py`) is this engine's transactional
substrate — the stand-in for the reference's WAL logical replication
(``src/AgeDigitalTwins.Events/Core/Services/AgeDigitalTwinsReplication.cs``).
``delta-spark`` is absent from this container, but the Delta Lake
transaction-log format itself is a public, simple JSON-lines protocol
(delta.io PROTOCOL.md): a ``_delta_log/<version>.json`` per commit
holding ``protocol`` / ``metaData`` / ``add`` / ``remove`` /
``commitInfo`` actions over parquet data files.  This module exports a
commit-log table's FULL VERSION HISTORY into that layout, so any real
Delta reader (Spark+delta, DuckDB delta, Trino, polars) on a real
cluster can read the table — including time travel, because every
commit-log version that changed the table becomes one Delta commit
with precise add/remove actions.

Mapping:

* commit-log version k (manifest ``tables[table]``)  →  the table's
  active file set at k (partition dirs → their parquet files);
* consecutive active-set diffs  →  ``add`` / ``remove`` actions;
* versions that do not change the table are skipped (Delta versions
  must be contiguous; ``commitInfo.sourceVersion`` records the
  commit-log version each Delta commit came from, which also makes
  incremental re-export resumable);
* hive partition dirs (``model_id=X``) →  ``partitionValues``; data
  files are copied under the same relative dirs, prefixed with the
  source snapshot tag so files from different commits never collide.

A minimal conformance reader (`read_delta_export`) replays the log —
protocol check, active-set reconstruction, partition-value injection —
and is used by the tests to round-trip every exported version against
``load_version``.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from pg_age_digitaltwins_spark.store.commit_log import (
    _PARTITION_COLS,
    CommitLog,
)
from pg_age_digitaltwins_spark.store.graph_store import local_frame

_LOG_DIR = "_delta_log"

_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"


def _unescape_part_value(v: str) -> str | None:
    """Invert Hive's escapePathName: partition DIRECTORY names percent-
    escape special chars (``dtmi%3AFoo`` → ``dtmi:Foo``); Delta
    ``partitionValues`` hold the LOGICAL value (null for the hive
    default partition)."""
    if v == _HIVE_NULL:
        return None
    out = []
    i = 0
    while i < len(v):
        if v[i] == "%" and i + 3 <= len(v):
            try:
                out.append(chr(int(v[i + 1 : i + 3], 16)))
                i += 3
                continue
            except ValueError:
                pass
        out.append(v[i])
        i += 1
    return "".join(out)


def _active_files(root: str, manifest: dict, table: str) -> dict[str, dict]:
    """rel-path → {src, size, partitionValues} for the table's data
    files at one commit-log version.  The exported rel path embeds the
    snapshot tag (data dir basename) so re-added partitions from later
    snapshots never collide."""
    entry = manifest["tables"][table]
    out: dict[str, dict] = {}

    def scan_dir(
        abs_dir: str, rel_prefix: str, part_values: dict, tag: str
    ) -> None:
        if not os.path.isdir(abs_dir):
            return
        for name in sorted(os.listdir(abs_dir)):
            if not name.endswith(".parquet") or name.startswith(("_", ".")):
                continue
            src = os.path.join(abs_dir, name)
            rel = os.path.join(rel_prefix, f"{tag}-{name}")
            out[rel] = {
                "src": src,
                "size": os.path.getsize(src),
                "partitionValues": part_values,
            }

    def snap_tag(rel: str) -> str:
        # rel paths look like data/<tag>/<table>[/<part>]; the tag is
        # the snapshot dir name — unique per commit (version + uuid)
        parts = rel.replace(os.sep, "/").split("/")
        return parts[1] if len(parts) > 1 else parts[0]

    if "parts" in entry:
        col = _PARTITION_COLS[table]
        for part_name, part_rel in sorted(entry["parts"].items()):
            value = _unescape_part_value(part_name.split("=", 1)[1])
            scan_dir(
                os.path.join(root, part_rel),
                part_name,
                {col: value},
                snap_tag(part_rel),
            )
    else:
        scan_dir(
            os.path.join(root, entry["dir"]), "", {}, snap_tag(entry["dir"])
        )
    return out


def _schema_string(spark: SparkSession, files: dict[str, dict], table: str) -> str:
    """Delta metaData.schemaString: the data-file schema plus the
    partition column (hive layout keeps it out of the files)."""
    first = next(iter(files.values()))["src"]
    schema = spark.read.parquet(first).schema
    part_col = _PARTITION_COLS.get(table)
    if part_col:
        schema = T.StructType(
            list(schema.fields) + [T.StructField(part_col, T.StringType())]
        )
    return schema.json()


def _export_versions(log: CommitLog, through_version: int | None) -> list[int]:
    versions = log.versions()
    if through_version is not None:
        versions = [v for v in versions if v <= through_version]
    return versions


def _last_checkpoint(dest: str) -> int | None:
    """Version recorded in ``_delta_log/_last_checkpoint``, or None."""
    try:
        with open(os.path.join(dest, _LOG_DIR, "_last_checkpoint")) as f:
            return int(json.load(f)["version"])
    except (OSError, ValueError, KeyError):
        return None


def _read_checkpoint(dest: str, version: int) -> list[dict]:
    """Read a classic single-file checkpoint back into action dicts
    (map-typed fields re-materialized as plain dicts)."""
    import pyarrow.parquet as pq

    path = os.path.join(
        dest, _LOG_DIR, f"{version:020d}.checkpoint.parquet"
    )
    rows = pq.read_table(path).to_pylist()

    def demap(v):
        if isinstance(v, list) and v and isinstance(v[0], tuple):
            return {k: x for k, x in v}
        if isinstance(v, list):
            return [demap(x) for x in v]
        if isinstance(v, dict):
            return {k: demap(x) for k, x in v.items()}
        return v

    actions = []
    for r in rows:
        for key, payload in r.items():
            if payload is not None:
                # empty maps round-trip as [] — normalize to {}
                p = demap(payload)
                if key == "metaData":
                    p.setdefault("configuration", {})
                    if isinstance(p.get("configuration"), list):
                        p["configuration"] = {}
                    fmt = p.get("format") or {}
                    if isinstance(fmt.get("options"), list):
                        fmt["options"] = {}
                if key == "add" and isinstance(p.get("partitionValues"), list):
                    p["partitionValues"] = {}
                actions.append({key: p})
    return actions


def _replay_log(dest: str, version: int | None = None):
    """Replay ``_delta_log`` through ``version`` (default latest),
    starting from the newest eligible checkpoint when one exists —
    the Delta reader bootstrap path (PROTOCOL.md: read
    ``_last_checkpoint``, load the checkpoint parquet, then apply the
    JSON commits after it).

    Returns (n_versions, last_source, active, schema_json, part_cols,
    protocol, metadata) where ``active`` maps path → {size,
    partitionValues}."""
    log_dir = os.path.join(dest, _LOG_DIR)
    if not os.path.isdir(log_dir):
        return 0, -1, {}, None, [], None, None
    names = sorted(n for n in os.listdir(log_dir) if n.endswith(".json"))
    if version is not None:
        names = [n for n in names if int(n.split(".")[0]) <= version]
    n_versions = len(names)
    last_source = -1
    active: dict[str, dict] = {}
    schema_json = None
    part_cols: list[str] = []
    protocol = None
    metadata = None

    def apply(a: dict) -> None:
        nonlocal last_source, schema_json, part_cols, protocol, metadata
        if "protocol" in a:
            protocol = a["protocol"]
            if protocol["minReaderVersion"] > 1:
                raise ValueError("unsupported Delta reader version")
        if "metaData" in a:
            metadata = a["metaData"]
            schema_json = metadata["schemaString"]
            part_cols = list(metadata.get("partitionColumns") or [])
        if "add" in a:
            active[a["add"]["path"]] = {
                "size": a["add"].get("size"),
                "partitionValues": a["add"].get("partitionValues") or {},
            }
        elif "remove" in a:
            active.pop(a["remove"]["path"], None)
        elif "commitInfo" in a:
            last_source = max(
                last_source, int(a["commitInfo"].get("sourceVersion", -1))
            )

    ckpt = _last_checkpoint(dest)
    start_after = -1
    if ckpt is not None and (version is None or ckpt <= version):
        for a in _read_checkpoint(dest, ckpt):
            apply(a)
        start_after = ckpt
        # sourceVersion watermark lives in commitInfo, which checkpoints
        # do not carry — recover it from the checkpointed commit's JSON
        # (always retained alongside the checkpoint)
        with open(os.path.join(log_dir, f"{ckpt:020d}.json")) as f:
            for line in f:
                a = json.loads(line)
                if "commitInfo" in a:
                    last_source = max(
                        last_source,
                        int(a["commitInfo"].get("sourceVersion", -1)),
                    )
    for name in names:
        if int(name.split(".")[0]) <= start_after:
            continue
        with open(os.path.join(log_dir, name)) as f:
            for line in f:
                apply(json.loads(line))
    return (
        n_versions, last_source, active, schema_json, part_cols,
        protocol, metadata,
    )


def _write_checkpoint(
    dest: str,
    version: int,
    protocol: dict,
    metadata: dict,
    active: dict[str, dict],
) -> None:
    """Write a classic single-file checkpoint
    (``<version>.checkpoint.parquet`` + ``_last_checkpoint``): one row
    per action — protocol, metaData, every ACTIVE add (PROTOCOL.md
    'Checkpoints').  Remove tombstones are omitted (retention 0 for the
    export bridge: exported files are never vacuumed by this writer).
    Readers then bootstrap from the checkpoint instead of replaying
    the full JSON history."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    smap = pa.map_(pa.string(), pa.string())
    proto_t = pa.struct(
        [("minReaderVersion", pa.int32()), ("minWriterVersion", pa.int32())]
    )
    meta_t = pa.struct(
        [
            ("id", pa.string()),
            ("format", pa.struct([("provider", pa.string()), ("options", smap)])),
            ("schemaString", pa.string()),
            ("partitionColumns", pa.list_(pa.string())),
            ("configuration", smap),
            ("createdTime", pa.int64()),
        ]
    )
    add_t = pa.struct(
        [
            ("path", pa.string()),
            ("partitionValues", smap),
            ("size", pa.int64()),
            ("modificationTime", pa.int64()),
            ("dataChange", pa.bool_()),
        ]
    )
    remove_t = pa.struct(
        [
            ("path", pa.string()),
            ("deletionTimestamp", pa.int64()),
            ("dataChange", pa.bool_()),
        ]
    )
    schema = pa.schema(
        [
            ("protocol", proto_t),
            ("metaData", meta_t),
            ("add", add_t),
            ("remove", remove_t),
        ]
    )
    rows: list[dict] = [
        {"protocol": protocol},
        {"metaData": metadata},
    ]
    for p, m in sorted(active.items()):
        rows.append(
            {
                "add": {
                    "path": p,
                    "partitionValues": m.get("partitionValues") or {},
                    "size": m.get("size"),
                    "modificationTime": 0,
                    "dataChange": False,
                }
            }
        )
    table = pa.Table.from_pylist(rows, schema=schema)
    log_dir = os.path.join(dest, _LOG_DIR)
    path = os.path.join(log_dir, f"{version:020d}.checkpoint.parquet")
    tmp = path + f".tmp-{uuid.uuid4().hex[:8]}"
    pq.write_table(table, tmp)
    os.rename(tmp, path)
    lc = os.path.join(log_dir, "_last_checkpoint")
    tmp = lc + f".tmp-{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as f:
        json.dump({"version": version, "size": len(rows)}, f)
    os.rename(tmp, lc)


def _existing_state(dest: str) -> tuple[int, int, dict[str, dict]]:
    """(next delta version, last exported source version, active set)
    from an existing export — incremental re-export resumes here.
    Checkpoint-aware via :func:`_replay_log`."""
    n, last_source, active, _, _, _, _ = _replay_log(dest)
    return n, last_source, active


def export_delta(
    spark: SparkSession,
    root: str,
    table: str,
    dest: str,
    through_version: int | None = None,
    checkpoint_interval: int = 10,
) -> int:
    """Export (or incrementally extend) ``table``'s commit-log history
    as a Delta Lake table at ``dest``.  Returns the number of Delta
    commits written THIS call.  Idempotent: re-running after new
    commit-log versions appends only the new Delta commits.

    Every ``checkpoint_interval`` Delta commits a classic single-file
    checkpoint (``<v>.checkpoint.parquet`` + ``_last_checkpoint``) is
    written, so readers of a long export bootstrap from the latest
    snapshot instead of replaying the full JSON history — the Delta
    default cadence (10).  Pass 0 to disable."""
    log = CommitLog(root)
    next_dv, last_source, prev_active, _, _, protocol_a, metadata_a = (
        _replay_log(dest)
    )
    os.makedirs(os.path.join(dest, _LOG_DIR), exist_ok=True)
    written = 0
    for v in _export_versions(log, through_version):
        if v <= last_source:
            continue
        manifest = log.manifest(v)
        now = _active_files(root, manifest, table)
        if next_dv == 0 and not now:
            # nothing to describe yet — defer the table's Delta v0 (and
            # its metaData schema) to the first version with data files
            last_source = v
            continue
        added = {p: m for p, m in now.items() if p not in prev_active}
        removed = [p for p in prev_active if p not in now]
        if next_dv > 0 and not added and not removed:
            # this commit didn't touch the table — no Delta commit
            # (Delta versions must be contiguous), but remember we
            # consumed it via the NEXT commit's sourceVersion
            last_source = v
            continue
        actions: list[dict] = []
        ts = 0  # deterministic: exports carry no wall-clock
        if next_dv == 0:
            protocol_a = {"minReaderVersion": 1, "minWriterVersion": 2}
            actions.append({"protocol": protocol_a})
            part_col = _PARTITION_COLS.get(table)
            metadata_a = {
                "id": uuid.uuid4().hex,
                "format": {"provider": "parquet", "options": {}},
                "schemaString": _schema_string(spark, now, table)
                if now
                else T.StructType([]).json(),
                "partitionColumns": [part_col] if part_col else [],
                "configuration": {},
                "createdTime": ts,
            }
            actions.append({"metaData": metadata_a})
        for p, meta in sorted(added.items()):
            dst_file = os.path.join(dest, p)
            os.makedirs(os.path.dirname(dst_file), exist_ok=True)
            try:
                os.link(meta["src"], dst_file)
            except OSError:
                shutil.copy2(meta["src"], dst_file)
            actions.append(
                {
                    "add": {
                        "path": p,
                        "partitionValues": meta["partitionValues"],
                        "size": meta["size"],
                        "modificationTime": ts,
                        "dataChange": True,
                    }
                }
            )
        for p in sorted(removed):
            actions.append(
                {
                    "remove": {
                        "path": p,
                        "deletionTimestamp": ts,
                        "dataChange": True,
                    }
                }
            )
        actions.append(
            {
                "commitInfo": {
                    "operation": "WRITE",
                    "sourceVersion": v,
                    "engineInfo": "pg-age-digitaltwins-spark commit-log export",
                }
            }
        )
        log_path = os.path.join(dest, _LOG_DIR, f"{next_dv:020d}.json")
        tmp = log_path + f".tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            for a in actions:
                f.write(json.dumps(a) + "\n")
        os.rename(tmp, log_path)
        prev_active = now
        last_source = v
        dv_written = next_dv
        next_dv += 1
        written += 1
        if (
            checkpoint_interval
            and dv_written > 0
            and dv_written % checkpoint_interval == 0
            and protocol_a is not None
            and metadata_a is not None
        ):
            _write_checkpoint(dest, dv_written, protocol_a, metadata_a, now)
    return written


def read_delta_export(
    spark: SparkSession, dest: str, version: int | None = None
) -> DataFrame:
    """Minimal Delta-protocol reader for the exported layout: replay
    ``_delta_log`` through ``version`` (default: latest), reconstruct
    the active file set, and read it with partition values injected —
    the conformance check that the written actions actually describe
    the table (and its time travel) correctly.  Checkpoint-aware: when
    ``_last_checkpoint`` points at or before the requested version, the
    replay bootstraps from the checkpoint parquet and applies only the
    JSON commits after it."""
    _, _, active_m, schema_json, part_cols, _, _ = _replay_log(
        dest, version
    )
    active = {p: m["partitionValues"] for p, m in active_m.items()}
    schema = T.StructType.fromJson(json.loads(schema_json))
    if not active:
        return local_frame(spark, [], schema)
    parts = []
    for path, pv in sorted(active.items()):
        df = spark.read.parquet(os.path.join(dest, path))
        for c in part_cols:
            df = df.withColumn(c, F.lit(pv.get(c)))
        parts.append(df.select(*[f.name for f in schema.fields]))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def import_delta_graph(
    spark: SparkSession,
    twins_path: str,
    relationships_path: str | None = None,
    models_path: str | None = None,
    model_edges_path: str | None = None,
):
    """Build a :class:`GraphStore` from Delta tables — the inverse
    bridge: a user whose twin graph already lives in Delta Lake (e.g.
    written by the export above, by delta-spark, or by any other Delta
    writer using this simple layout) mounts it directly as a queryable
    graph.  Columns are projected onto the store schemas; extra columns
    (``vdoc`` etc.) are dropped and re-derived where needed."""
    from pg_age_digitaltwins_spark.store.graph_store import (
        GraphStore,
        MODEL_EDGE_SCHEMA,
        MODEL_SCHEMA,
        REL_SCHEMA,
        TWIN_SCHEMA,
    )

    def load(path: str | None, schema: T.StructType) -> DataFrame:
        if path is None:
            return local_frame(spark, [], schema)
        df = read_delta_export(spark, path)
        cols = []
        for f in schema.fields:
            if f.name in df.columns:
                cols.append(F.col(f.name).cast(f.dataType).alias(f.name))
            else:
                cols.append(F.lit(None).cast(f.dataType).alias(f.name))
        return df.select(*cols)

    # model-closure descendants populate lazily (model_and_descendants)
    return GraphStore(
        spark=spark,
        twins=load(twins_path, TWIN_SCHEMA),
        relationships=load(relationships_path, REL_SCHEMA),
        models=load(models_path, MODEL_SCHEMA),
        model_edges=load(model_edges_path, MODEL_EDGE_SCHEMA),
    )


def export_delta_changes(
    spark: SparkSession, root: str, dest: str
) -> int:
    """Export the commit log's change feed as a Delta-CDF-style table:
    one APPEND-ONLY Delta commit per commit-log version that carried
    events, with the standard change-data-feed row shape —
    ``_change_type`` (``insert`` / ``update_preimage`` /
    ``update_postimage`` / ``delete``), ``_commit_version`` (the source
    commit-log version) and ``_commit_timestamp`` — so any Delta reader
    consumes the same stream the replica does (the
    ``table_changes(...)`` experience over the bespoke log).  Returns
    the number of Delta commits written; incremental like
    :func:`export_delta` (resumes from ``commitInfo.sourceVersion``).
    """
    from pg_age_digitaltwins_spark.store.commit_log import (
        read_changes_since,
    )

    log = CommitLog(root)
    next_dv, last_source, _ = _existing_state(dest)
    os.makedirs(os.path.join(dest, _LOG_DIR), exist_ok=True)
    written = 0
    for v in log.versions():
        if v <= last_source:
            continue
        manifest = log.manifest(v)
        if not manifest.get("change_dir"):
            last_source = v
            continue
        ev = read_changes_since(spark, root, after_version=v - 1).filter(
            F.col("commit_version") == v
        )
        pre = ev.filter(F.col("event_type") == "Update").select(
            "entity_id", "table_name",
            F.col("old_value").alias("doc"),
            F.lit("update_preimage").alias("_change_type"),
            F.col("seq"), F.col("timestamp"),
        )
        post = ev.select(
            "entity_id", "table_name",
            F.when(F.col("event_type") == "Delete", F.col("old_value"))
            .otherwise(F.col("new_value"))
            .alias("doc"),
            F.when(F.col("event_type") == "Insert", F.lit("insert"))
            .when(F.col("event_type") == "Delete", F.lit("delete"))
            .otherwise(F.lit("update_postimage"))
            .alias("_change_type"),
            F.col("seq"), F.col("timestamp"),
        )
        cdf = (
            pre.unionByName(post)
            .select(
                "entity_id", "table_name", "doc", "_change_type", "seq",
                F.lit(v).cast("long").alias("_commit_version"),
                F.col("timestamp").alias("_commit_timestamp"),
            )
        )
        rel_dir = f"cdf-{v:020d}"
        out_dir = os.path.join(dest, rel_dir)
        cdf.coalesce(1).write.mode("overwrite").parquet(out_dir)
        files = sorted(
            n
            for n in os.listdir(out_dir)
            if n.endswith(".parquet") and not n.startswith(("_", "."))
        )
        actions: list[dict] = []
        if next_dv == 0:
            actions.append(
                {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}}
            )
            schema = spark.read.parquet(
                os.path.join(out_dir, files[0])
            ).schema
            actions.append(
                {
                    "metaData": {
                        "id": uuid.uuid4().hex,
                        "format": {"provider": "parquet", "options": {}},
                        "schemaString": schema.json(),
                        "partitionColumns": [],
                        "configuration": {},
                        "createdTime": 0,
                    }
                }
            )
        for name in files:
            p = f"{rel_dir}/{name}"
            actions.append(
                {
                    "add": {
                        "path": p,
                        "partitionValues": {},
                        "size": os.path.getsize(os.path.join(dest, rel_dir, name)),
                        "modificationTime": 0,
                        "dataChange": True,
                    }
                }
            )
        actions.append(
            {
                "commitInfo": {
                    "operation": "WRITE",
                    "sourceVersion": v,
                    "engineInfo": "pg-age-digitaltwins-spark cdf export",
                }
            }
        )
        log_path = os.path.join(dest, _LOG_DIR, f"{next_dv:020d}.json")
        tmp = log_path + f".tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            for a in actions:
                f.write(json.dumps(a) + "\n")
        os.rename(tmp, log_path)
        last_source = v
        next_dv += 1
        written += 1
    return written


# ----------------------------------------------------------------------
# continuous export (r9): tail the commit log, keep the Delta export
# live — the shape a real cluster uses so external Delta readers can
# follow `_delta_log` while the engine keeps committing
# (`AgeDigitalTwinsReplication.cs:194-284` is the reference's
# equivalent always-on WAL→consumer bridge).
# ----------------------------------------------------------------------


def export_watermark(dest: str) -> int:
    """Last SOURCE commit-log version reflected in the export at
    ``dest`` (0 for an empty/absent export).  The external-reader
    analog of ``streaming.replica.replica_source_version``."""
    try:
        _, last_source, _ = _existing_state(dest)
    except (OSError, ValueError):
        return 0
    return last_source


def export_lag(root: str, dest: str) -> int:
    """How many source commit versions the export at ``dest`` has NOT
    consumed yet — the vacuum guard for external Delta readers, the
    exact counterpart of ``streaming.replica.replica_lag``:
    ``vacuum(root, keep_last=k)`` is safe for this export only when
    ``export_lag(root, dest) < k``.  Once a version IS exported its
    data files are hard-linked/copied into ``dest``, so vacuuming the
    source never breaks already-written Delta history — lag counts the
    versions whose files the exporter still needs to read."""
    wm = export_watermark(dest)
    log = CommitLog(root)
    return sum(1 for v in log.versions() if v > wm)


class ContinuousDeltaExporter:
    """Incremental export-on-commit: keep Delta exports of commit-log
    tables in sync with the log, either by polling in a background
    thread (``start``/``stop``) or by explicit ``run_once`` calls
    wired as a post-merge hook / ``foreachBatch`` step.

    Each tick re-runs :func:`export_delta` per table — idempotent and
    resume-from-log, so the exported ``_delta_log`` stays contiguous
    and readable at every version no matter when ticks land relative
    to commits.  Exports land at ``<dest_root>/<table>``."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        dest_root: str,
        tables: tuple[str, ...] = ("twins",),
        checkpoint_interval: int = 10,
        poll_interval: float = 0.25,
    ):
        self.spark = spark
        self.root = root
        self.dest_root = dest_root
        self.tables = tuple(tables)
        self.checkpoint_interval = checkpoint_interval
        self.poll_interval = poll_interval
        self._stop = None
        self._thread = None
        self._error: Exception | None = None

    def dest(self, table: str) -> str:
        return os.path.join(self.dest_root, table)

    def run_once(self) -> dict[str, int]:
        """Export any new source versions for every table; returns
        table → Delta commits written this tick."""
        return {
            t: export_delta(
                self.spark,
                self.root,
                t,
                self.dest(t),
                checkpoint_interval=self.checkpoint_interval,
            )
            for t in self.tables
        }

    def watermark(self) -> int:
        """Min exported source version across tables (the value to
        gate ``vacuum`` on)."""
        return min(export_watermark(self.dest(t)) for t in self.tables)

    def lag(self) -> int:
        """Max un-exported version count across tables."""
        return max(export_lag(self.root, self.dest(t)) for t in self.tables)

    # -- background tailing ------------------------------------------
    def start(self) -> "ContinuousDeltaExporter":
        import threading

        if self._thread is not None:
            raise RuntimeError("exporter already started")
        self._stop = threading.Event()
        self._error = None

        def loop() -> None:
            while not self._stop.is_set():
                try:
                    self.run_once()
                except Exception as ex:  # surfaced by stop()
                    self._error = ex
                    return
                self._stop.wait(self.poll_interval)

        self._thread = threading.Thread(
            target=loop, name="delta-exporter", daemon=True
        )
        self._thread.start()
        return self

    def stop(self, timeout: float = 60.0, final_tick: bool = True) -> None:
        """Stop the tail loop; by default run one last ``run_once`` so
        everything committed before ``stop`` is exported.

        If the background tick is still mid-``run_once`` when the join
        times out, raise instead of proceeding: discarding the thread
        handle and running ``final_tick`` would put TWO writers on the
        same export dest concurrently, racing on the next Delta log
        version (ADVICE r10)."""
        if self._thread is None:
            return
        self._stop.set()
        self._thread.join(timeout)
        if self._thread.is_alive():
            raise TimeoutError(
                f"delta-exporter tick still running after {timeout}s — "
                "not detaching while a writer is live (a concurrent "
                "final_tick would race on the export log); call stop() "
                "again with a longer timeout"
            )
        self._thread = None
        if self._error is not None:
            raise self._error
        if final_tick:
            self.run_once()
