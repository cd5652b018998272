"""LakeTable — ACID table over parquet + JSON log (SURVEY §2.10).

Design decisions, and why they hold at 100 TB:

- **Log-defined state.** Readers plan purely from the log's file list +
  stats; no directory listing, no parquet-footer fan-out at plan time.
- **Clustered, not hive-partitioned.** `partition_by` repartitions data so
  each file covers a narrow range of the cluster key, and per-file min/max
  stats drive file skipping. Same pruning power as directory partitioning
  without the small-file/directory-explosion failure mode on high-cardinality
  keys (the reference hits exactly that problem at
  02.delta_lake_primer.py:46-49).
- **Copy-on-write DML.** DELETE/UPDATE/MERGE touch only files that provably
  contain affected rows, discovered with the `_metadata.file_path` hidden
  column — a distributed scan whose *result* (a file list) is bounded by
  file count, never row count. This mirrors Delta's join-against-file-index
  strategy (SURVEY §3.1 step 4; reference DML at
  02.delta_lake_primer.py:213-320, 03.iceberg_primer.py:183-215).
- **Optimistic concurrency.** Single-winner commit via atomic link; losers
  raise ConcurrentWriteError and may retry on fresh state.
- **Checkpoints.** Every CHECKPOINT_INTERVAL commits the full state is
  snapshotted so replay cost stays O(interval), matching Delta's parquet
  checkpoints (01.parquet_primer.py:386).
"""

from __future__ import annotations

import json
import re
import uuid
from pathlib import Path
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from lakehouses_spark.tables import log as txlog
from lakehouses_spark.tables.delta_log import (
    collect_affected,
    conform,
    merge_affected_files,
    merge_clauses,
    merge_source,
)
from lakehouses_spark.tables.log import ConcurrentWriteError  # noqa: F401  (re-export)

MAX_STAT_COLS = 8
CHECKPOINT_INTERVAL = 10
# Change Data Feed (Delta's delta.enableChangeDataFeed / _change_data):
# DML writes row-level change files only when the property is on, so
# tables that never read CDF pay zero extra scan/write cost
CDF_PROPERTY = "delta.enableChangeDataFeed"


def zorder_column(df: DataFrame, cols: list[str], bits: int = 10):
    """Z-value expression over ``cols``: normalize each to ``bits`` bits
    via the DataFrame's global min/max, interleave with shift/mask. Range-
    partitioning on this column gives every file a small hyper-rectangle,
    so per-file min/max stats skip on ANY of the clustered columns. Shared
    by LakeTable.optimize_zorder and DeltaLogReader.optimize(zorder_by=)."""
    ranges = df.agg(
        *[F.min(c).cast("double").alias(f"__lo_{c}") for c in cols],
        *[F.max(c).cast("double").alias(f"__hi_{c}") for c in cols],
    ).collect()[0]
    max_val = (1 << bits) - 1
    z = F.lit(0).cast("long")
    for i, c in enumerate(cols):
        lo, hi = ranges[f"__lo_{c}"], ranges[f"__hi_{c}"]
        span = (hi - lo) or 1.0
        norm = F.floor(
            (F.col(c).cast("double") - F.lit(lo)) / F.lit(span) * max_val
        ).cast("long")
        for b in range(bits):
            bit = F.shiftrightunsigned(norm, b).bitwiseAND(F.lit(1))
            z = z + F.shiftleft(bit, b * len(cols) + i)
    return z
CHANGE_DATA_DIR = "_change_data"


class SchemaMismatchError(ValueError):
    """Append schema differs from table schema and merge_schema is off
    (mirrors Delta's enforcement, 02.delta_lake_primer.py:354-358)."""


class ConstraintViolationError(ValueError):
    """A write produced rows violating a CHECK constraint."""


class MergeMultipleMatchesError(ValueError):
    """Multiple source rows matched one target row in a MERGE with an
    update clause — the result would be nondeterministic, so we raise,
    matching Delta's DELTA_MULTIPLE_SOURCE_ROW_MATCHING_TARGET_ROW error."""


class ChangeDataUnavailableError(RuntimeError):
    """table_changes() covers a mutating commit that recorded no change
    data (DML ran before delta.enableChangeDataFeed=true) — matching
    Delta's 'change data was not recorded' error."""


class LakeTable:
    def __init__(self, spark: SparkSession, path: str | Path):
        self.spark = spark
        self.path = Path(path)

    # ------------------------------------------------------------------ #
    # creation / conversion
    # ------------------------------------------------------------------ #
    @classmethod
    def create(
        cls,
        spark: SparkSession,
        path: str | Path,
        df: DataFrame,
        partition_by: list[str] | None = None,
        mode: str = "error",
        num_files: int | None = None,
    ) -> "LakeTable":
        """CTAS (02.delta_lake_primer.py:93-99). `partition_by` is the
        cluster key (see module docstring)."""
        t = cls(spark, path)
        if txlog.list_versions(path):
            if mode == "error":
                raise FileExistsError(f"table already exists: {path}")
            if mode == "ignore":
                return t
            # mode == "overwrite"
            t.overwrite(df)
            return t
        adds = t._write_files(df, partition_by or [], num_files=num_files)
        t._commit(
            0,
            operation="CREATE TABLE AS SELECT",
            add=adds,
            schema=df.schema.json(),
            partition_by=partition_by or [],
            protocol={"min_reader": txlog.READER_VERSION},
        )
        return t

    @classmethod
    def convert_from_parquet(
        cls,
        spark: SparkSession,
        path: str | Path,
        partition_spec: dict[str, str] | None = None,
    ) -> "LakeTable":
        """S6: in-place convert an existing parquet directory — register its
        files in a fresh log without rewriting data
        (01.parquet_primer.py:185,348-369). Hive-partitioned dirs require
        `partition_spec` ({"col": "type"}), mirroring convertToDelta's
        mandatory spec; without it conversion fails."""
        path = Path(path)
        if txlog.list_versions(path):
            return cls(spark, path)  # idempotent
        files = sorted(p for p in path.rglob("*.parquet") if not p.name.startswith("."))
        if not files:
            raise FileNotFoundError(f"no parquet files under {path}")
        partitioned = any("=" in str(p.relative_to(path).parent) for p in files)
        if partitioned and not partition_spec:
            raise ValueError(
                "directory is hive-partitioned; partition_spec {col: type} is "
                "required (convertToDelta semantics, 01.parquet_primer.py:348-369)"
            )
        t = cls(spark, path)
        if partitioned:
            # one read per partition directory-value group, partition columns
            # injected as literals so data files become self-contained
            df = spark.read.option("basePath", str(path)).parquet(
                *[str(f) for f in files]
            )
            adds = t._write_files(df, list(partition_spec))
            t._commit(
                0,
                operation="CONVERT",
                add=adds,
                schema=df.schema.json(),
                partition_by=list(partition_spec),
                operation_parameters={"partition_spec": partition_spec, "rewritten": True},
            )
            return t
        df = spark.read.parquet(str(path))
        schema = df.schema
        adds = (
            _footer_adds([str(f) for f in files], path, schema)
            if len(files) <= FOOTER_STATS_MAX_FILES else None
        )
        if adds is None:
            stats_df = (
                spark.read.parquet(*[str(f) for f in files])
                .groupBy(F.col("_metadata.file_path").alias("fp"))
                .agg(F.count(F.lit(1)).alias("n"), *_stat_aggs(schema))
            )
            adds = _adds_from_stats(stats_df.collect(), path, schema)
        t._commit(0, operation="CONVERT", add=adds, schema=schema.json(), partition_by=[])
        return t

    # ------------------------------------------------------------------ #
    # state / read
    # ------------------------------------------------------------------ #
    @classmethod
    def convert_from_delta(cls, spark: SparkSession, path: str | Path) -> "LakeTable":
        """S6 sibling: adopt a Delta-protocol table's live files into a fresh
        LakeTable log IN PLACE (no data rewrite) — the reverse direction of
        `export_delta_log`. Schema, column mapping (mode=name/id), CHECK
        constraints (`delta.constraints.*`), file stats, and user properties
        all carry over. Files carrying deletion vectors are MATERIALIZED
        (rewritten with their deleted rows dropped — adopting them raw would
        resurrect those rows); everything else adopts without a rewrite.
        Hive-partitioned Delta tables are refused: their
        partition values live in `add.partitionValues`, not in the files, so
        adoption would need a rewrite — use
        `LakeTable.create(spark, dest, read_delta(spark, path))` instead."""
        from lakehouses_spark.tables.delta_log import DeltaLogReader

        path = Path(path)
        if txlog.list_versions(path):
            raise FileExistsError(f"already a lake table: {path}")
        snap = DeltaLogReader(spark, path).snapshot()
        if snap.partition_columns:
            raise ValueError(
                "delta table is hive-partitioned (partition values are not "
                "in the data files); adopt via LakeTable.create over "
                "read_delta() instead"
            )
        dv_files = sorted(p for p, a in snap.files.items() if a.get("deletionVector"))
        conf = snap.configuration
        mapping: dict[str, str] = {}
        if conf.get("delta.columnMapping.mode", "none") in ("name", "id"):
            for f in snap.schema.fields:
                phys = f.metadata.get("delta.columnMapping.physicalName", f.name)
                if phys != f.name:
                    mapping[f.name] = phys
        constraints = {
            k.removeprefix("delta.constraints."): v
            for k, v in conf.items()
            if k.startswith("delta.constraints.")
        }
        properties = {
            k: v for k, v in conf.items()
            if not k.startswith("delta.") and k != "lakehouses.clusterBy"
        }
        adds = []
        for rel, a in sorted(snap.files.items()):
            if a.get("deletionVector"):
                continue  # materialized below
            stats_raw = json.loads(a["stats"]) if a.get("stats") else {}
            stats = {
                c: {"min": (stats_raw.get("minValues") or {}).get(c),
                    "max": (stats_raw.get("maxValues") or {}).get(c)}
                for c in set(stats_raw.get("minValues") or {})
                | set(stats_raw.get("maxValues") or {})
            }
            adds.append(
                {
                    "path": rel,
                    "num_records": stats_raw.get("numRecords"),
                    "size_bytes": a.get("size"),
                    "stats": stats,
                }
            )
        if dv_files:
            # DV-carrying files can't adopt raw (deleted rows would
            # resurrect): materialize ONLY those files — one scan over the
            # DV set, row_index anti-join against the decoded indexes
            # (exactly DeltaLogReader.to_df's mechanism), rewritten under
            # data/ with their PHYSICAL column names so the carried-over
            # column mapping keeps resolving. Clean files still adopt
            # in place; min/max stats on the rewritten files are dropped
            # (numRecords survive), costing only skipping granularity.
            import uuid as _uuid

            from lakehouses_spark.tables import dv as _dvmod
            from lakehouses_spark.tables.delta_log import fs_path_col

            phys_fields = [
                StructField(
                    f.metadata.get("delta.columnMapping.physicalName", f.name)
                    if mapping else f.name,
                    f.dataType, f.nullable,
                )
                for f in snap.schema.fields
            ]
            abs_dv, deleted = [], []
            for rel in dv_files:
                ap = str((path / rel).resolve())
                abs_dv.append(ap)
                for idx in _dvmod.read_descriptor(
                    snap.files[rel]["deletionVector"], path
                ):
                    deleted.append((ap, idx))
            flt = (
                spark.read.schema(StructType(phys_fields)).parquet(*abs_dv)
                .withColumns(
                    {"__fp": fs_path_col(),
                     "__ri": F.col("_metadata.row_index")}
                )
                .join(
                    F.broadcast(
                        spark.createDataFrame(
                            deleted, "__fp string, __ri bigint"
                        )
                    ),
                    ["__fp", "__ri"],
                    "left_anti",
                )
                .drop("__fp", "__ri")
            )
            out_dir = path / "data" / f"dv-materialized-{_uuid.uuid4().hex}"
            flt.write.parquet(str(out_dir))
            counts = {
                _strip_scheme(r.fp): r.n
                for r in spark.read.parquet(str(out_dir))
                .groupBy(F.col("_metadata.file_path").alias("fp"))
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            }
            for p in sorted(out_dir.glob("part-*.parquet")):
                adds.append(
                    {
                        "path": str(p.relative_to(path)),
                        "num_records": counts.get(str(p.resolve()), 0),
                        "size_bytes": p.stat().st_size,
                        "stats": {},
                    }
                )
        # strip columnMapping metadata from the logical schema: LakeTable
        # keeps the mapping in the log, not in field metadata
        logical = StructType(
            [StructField(f.name, f.dataType, f.nullable) for f in snap.schema.fields]
        )
        t = cls(spark, path)
        t._commit(
            0,
            operation="CONVERT FROM DELTA",
            add=adds,
            schema=logical.json(),
            partition_by=json.loads(conf["lakehouses.clusterBy"])
            if "lakehouses.clusterBy" in conf else [],
            column_mapping=mapping or None,
            constraints=constraints or None,
            properties=properties or None,
            operation_parameters={"delta_version": snap.version},
            protocol={"min_reader": txlog.READER_VERSION},
        )
        return t

    @classmethod
    def convert_from_iceberg(cls, spark: SparkSession, path: str | Path) -> "LakeTable":
        """S6 sibling for the other open format (r7): adopt an Iceberg v2
        table's live data files into a fresh LakeTable log IN PLACE (no data
        rewrite) — the reverse direction of `export_iceberg_metadata`.
        Schema, the name-mapping-derived column mapping, per-file record
        counts/sizes, manifest min/max bounds (as skipping stats), and user
        properties carry over. Files named by POSITION-delete files are
        MATERIALIZED (rewritten minus their deleted row ordinals — adopting
        them raw would resurrect rows); equality deletes (value predicates)
        still fail loudly, as do data files outside the table root
        (adoption needs co-located files)."""
        from lakehouses_spark.tables.iceberg_meta import IcebergMetadataReader

        path = Path(path)
        if txlog.list_versions(path):
            raise FileExistsError(f"already a lake table: {path}")
        r = IcebergMetadataReader(spark, path)
        files = r.live_files()
        if r.equality_delete_entries():
            raise ValueError(
                "table carries equality-delete files (value predicates); "
                "adopting the raw data files would resurrect deleted rows — "
                "adopt via LakeTable.create over read_iceberg() instead "
                "(it applies the deletes)"
            )
        # position deletes are MATERIALIZED (r8, mirroring the
        # convert_from_delta DV path): the named files are rewritten minus
        # their deleted row ordinals; untouched files still adopt raw
        pos_deleted: dict[str, list[int]] = {}
        pdels = r.position_delete_files()
        if pdels:
            del_df = spark.read.schema("file_path string, pos bigint").parquet(
                *[str(r._local_data(d["file_path"])) for d in pdels]
            )
            for row in del_df.collect():  # bounded by the deleted-row count
                ap = str(r._local_data(row.file_path).resolve())
                pos_deleted.setdefault(ap, []).append(row.pos)
        logical = r.schema()
        nm = r.name_mapping()
        ice = next(
            s for s in r.meta["schemas"]
            if s["schema-id"] == r.meta["current-schema-id"]
        )
        mapping = {
            f["name"]: nm[f["id"]]
            for f in ice["fields"]
            if f["id"] in nm and nm[f["id"]] != f["name"]
        }
        loc = r.meta["location"].rstrip("/")
        # per-field manifest bounds → LakeTable min/max stats (keyed by
        # PHYSICAL column name, like every other stats producer). Truncated
        # external bounds stay valid: a prefix lower bound is still ≤ min,
        # an incremented-truncation upper bound still ≥ max — skipping
        # semantics are preserved either way.
        from lakehouses_spark.tables.iceberg_meta import _decode_bound

        id_phys = {f["id"]: nm.get(f["id"], f["name"]) for f in ice["fields"]}
        id_type = {
            f["id"]: lf.dataType
            for f, lf in zip(ice["fields"], logical.fields)
        }

        def _bounds(kvs) -> dict:
            out = {}
            for kv in kvs or []:
                fid = kv["key"]
                if fid in id_type:
                    v = _decode_bound(bytes(kv["value"]), id_type[fid])
                    if v is not None:
                        out[fid] = v
            return out

        adds = []
        to_materialize: list[str] = []
        for f in sorted(files, key=lambda x: x["file_path"]):
            uri = f["file_path"]
            if not uri.startswith(loc):
                raise ValueError(
                    f"data file outside the table root ({uri!r}); adopt via "
                    "LakeTable.create over read_iceberg() instead"
                )
            ap = str(r._local_data(uri).resolve())
            if ap in pos_deleted:
                to_materialize.append(ap)
                continue
            lows = _bounds(f.get("lower_bounds"))
            highs = _bounds(f.get("upper_bounds"))
            adds.append(
                {
                    "path": uri[len(loc):].lstrip("/"),
                    "num_records": f.get("record_count"),
                    "size_bytes": f.get("file_size_in_bytes"),
                    "stats": {
                        id_phys[fid]: {"min": _json_safe(lows.get(fid)),
                                       "max": _json_safe(highs.get(fid))}
                        for fid in set(lows) | set(highs)
                    },
                }
            )
        if to_materialize:
            import uuid as _uuid

            from lakehouses_spark.tables.delta_log import fs_path_col

            phys_fields = [
                StructField(nm.get(f["id"], f["name"]), lf.dataType,
                            lf.nullable)
                for f, lf in zip(ice["fields"], logical.fields)
            ]
            flt = (
                spark.read.schema(StructType(phys_fields))
                .parquet(*to_materialize)
                .withColumns(
                    {"__fp": fs_path_col(),
                     "__ri": F.col("_metadata.row_index")}
                )
                .join(
                    F.broadcast(spark.createDataFrame(
                        [(ap, i) for ap, idxs in pos_deleted.items()
                         for i in idxs],
                        "__fp string, __ri bigint",
                    )),
                    ["__fp", "__ri"],
                    "left_anti",
                )
                .drop("__fp", "__ri")
            )
            out_dir = path / "data" / f"posdel-materialized-{_uuid.uuid4().hex}"
            flt.write.parquet(str(out_dir))
            counts = {
                _strip_scheme(row.fp): row.n
                for row in spark.read.parquet(str(out_dir))
                .groupBy(F.col("_metadata.file_path").alias("fp"))
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            }
            for p in sorted(out_dir.glob("part-*.parquet")):
                adds.append(
                    {
                        "path": str(p.relative_to(path)),
                        "num_records": counts.get(str(p.resolve()), 0),
                        "size_bytes": p.stat().st_size,
                        "stats": {},
                    }
                )
        props = {
            k: v for k, v in (r.meta.get("properties") or {}).items()
            if k not in ("schema.name-mapping.default", "created-ms")
            and k != "lakehouses.clusterBy"
        }
        cluster = (r.meta.get("properties") or {}).get("lakehouses.clusterBy")
        t = cls(spark, path)
        t._commit(
            0,
            operation="CONVERT FROM ICEBERG",
            add=adds,
            schema=logical.json(),
            partition_by=json.loads(cluster) if cluster else [],
            column_mapping=mapping or None,
            properties=props or None,
            operation_parameters={
                "iceberg_snapshot": r.meta.get("current-snapshot-id")
            },
            protocol={"min_reader": txlog.READER_VERSION},
        )
        return t

    def export_delta_log(
        self,
        dest: str | Path,
        mode: str = "error",
        checkpoint: bool = True,
        checkpoint_format: str = "classic",
    ) -> Path:
        """Export this table as a standalone Delta-protocol table (full
        version history; merge-on-read tombstones become native deletion
        vectors; data files hard-linked, never rewritten).
        ``checkpoint_format="v2"`` writes a UUID-named v2 checkpoint with
        `_sidecars/*.parquet` file actions instead of the classic parquet.
        See `lakehouses_spark.tables.delta_log.export_delta_log`."""
        from lakehouses_spark.tables.delta_log import export_delta_log

        return export_delta_log(
            self, dest, mode=mode, checkpoint=checkpoint,
            checkpoint_format=checkpoint_format,
        )

    def export_iceberg_metadata(self, dest: str | Path, mode: str = "error") -> Path:
        """Export this table as a standalone Iceberg v2 table (hadoop-catalog
        layout; full snapshot history; data files hard-linked, never
        rewritten). See `lakehouses_spark.tables.iceberg_meta`."""
        from lakehouses_spark.tables.iceberg_meta import export_iceberg_metadata

        return export_iceberg_metadata(self, dest, mode=mode)

    def export_uniform(
        self,
        dest: str | Path,
        mode: str = "error",
        checkpoint: bool = True,
        checkpoint_format: str = "classic",
    ) -> Path:
        """Dual-format export (Delta UniForm's shape: ONE copy of the data,
        BOTH formats' metadata over it): writes `_delta_log/` and an Iceberg
        `metadata/` layer at the SAME dest. Data files are hard-linked once
        and shared — the Delta exporter links them, the Iceberg exporter
        sees them in place and links nothing new — so a Delta client and an
        Iceberg client read the very same parquet bytes, including row-level
        deletes (merge-on-read tombstones surface as native deletion
        vectors on the Delta side and native v2 position-delete files on
        the Iceberg side, over the same data files).

        ``mode`` applies to the Delta half (which owns dest creation); the
        Iceberg half always runs in "error" mode against the fresh dest.

        The two layers are consistent AS OF THE EXPORT. Maintenance run
        through one layer's reader afterwards (optimize / vacuum /
        rewrite_data_files / expire) commits to that layer only — re-run
        `export_uniform(mode="overwrite")` from the source table to
        re-sync both, exactly like Delta UniForm regenerates its Iceberg
        metadata after Delta commits.

        100 TB shape: both exports are metadata-only passes over the same
        O(files) state — the data is never copied twice, let alone
        rewritten."""
        from lakehouses_spark.tables.delta_log import export_delta_log
        from lakehouses_spark.tables.iceberg_meta import export_iceberg_metadata

        dest = Path(dest)
        export_delta_log(
            self, dest, mode=mode, checkpoint=checkpoint,
            checkpoint_format=checkpoint_format,
        )
        export_iceberg_metadata(self, dest, mode="error")
        return dest

    def state(self, version: int | None = None, timestamp_ms: int | None = None):
        return txlog.replay(self.path, version=version, timestamp_ms=timestamp_ms)

    @property
    def version(self) -> int:
        return self.state().version

    def schema(self) -> StructType:
        return StructType.fromJson(json.loads(self.state().schema_json))

    def read(
        self,
        version: int | None = None,
        timestamp_ms: int | None = None,
        filters: list[tuple[str, str, Any]] | None = None,
    ) -> DataFrame:
        """Snapshot read with time travel (D5/D6) and stats-based file
        skipping: `filters` [(col, op, value), ...] prunes files whose
        min/max range contradicts the predicate, then applies the residual
        predicate row-wise."""
        st = self.state(version=version, timestamp_ms=timestamp_ms)
        # stats are keyed by physical names — translate filters for skipping
        phys_filters = [
            (st.column_mapping.get(c, c), op, v) for c, op, v in filters or []
        ]
        paths = [
            str(self.path / rel)
            for rel, add in st.files.items()
            if _file_may_match(add, phys_filters)
        ]
        df = self._snapshot(st, paths)
        for col, op, val in filters or []:
            df = df.where(_predicate(col, op, val))
        return df

    def _snapshot(self, st, paths: list[str] | None = None,
                  with_path: bool = False) -> DataFrame:
        """Read data files as the LOGICAL schema. Files store PHYSICAL column
        names (immutable once written); renames/drops only move the
        logical→physical mapping in the log — Delta's column-mapping design,
        which is what makes ALTER TABLE metadata-only at any scale.
        ``with_path`` adds each row's data file path as ``__fp``."""
        schema = StructType.fromJson(json.loads(st.schema_json))
        phys = _physical_schema(schema, st.column_mapping)
        paths = paths if paths is not None else [str(self.path / rel) for rel in st.files]
        if not paths:
            return self.spark.createDataFrame([], schema)

        def load(group_paths: list[str]) -> DataFrame:
            df = self.spark.read.schema(phys).parquet(*group_paths)
            if st.column_mapping or with_path:
                df = df.select(
                    *([F.col("_metadata.file_path").alias("__fp")]
                      if with_path else []),
                    *[
                        F.col(st.column_mapping.get(f.name, f.name)).alias(f.name)
                        for f in schema.fields
                    ]
                )
            return df

        if not st.tombstones:
            return load(paths)
        # merge-on-read: a tombstone filters only files that already existed
        # when it was committed (rewritten/appended files post-date it, so
        # updated or re-inserted rows can never be shadowed). Group files by
        # their applicable tombstone set; one filtered scan per group.
        add_version = {str(self.path / rel): a.get("__v", 0) for rel, a in st.files.items()}
        groups: dict[tuple[str, ...], list[str]] = {}
        for p in paths:
            preds = tuple(
                t["predicate"] for t in st.tombstones if add_version.get(p, 0) < t["version"]
            )
            groups.setdefault(preds, []).append(p)
        parts = []
        for preds, group_paths in groups.items():
            df = load(group_paths)
            for pred in preds:
                df = df.where(~F.expr(pred))
            parts.append(df)
        out = parts[0]
        for p_df in parts[1:]:
            out = out.unionByName(p_df)
        return out

    def history(self) -> DataFrame:
        """DESCRIBE HISTORY (D7, 02.delta_lake_primer.py:405). Reads every
        commit file directly (replay may start from a checkpoint)."""
        commits = [
            txlog.read_commit(self.path, v) for v in txlog.list_versions(self.path)
        ]
        rows = [
            {
                "version": c["version"],
                "timestamp_ms": c["timestamp_ms"],
                "operation": c["operation"],
                "operation_parameters": json.dumps(c.get("operation_parameters") or {}),
                "num_added_files": len(c.get("add") or []),
                "num_removed_files": len(c.get("remove") or []),
            }
            for c in commits
        ]
        return self.spark.createDataFrame(
            rows,
            "version long, timestamp_ms long, operation string, "
            "operation_parameters string, num_added_files long, num_removed_files long",
        )

    def files(self, version: int | None = None) -> DataFrame:
        """D11 metadata table (Iceberg `.files` / Delta add-action analog,
        03.iceberg_primer.py:322-402): one row per live data file with
        record counts, sizes, and per-column min/max stats as JSON."""
        st = self.state(version=version)
        rows = [
            {
                "path": rel,
                "num_records": a.get("num_records"),
                "size_bytes": a.get("size_bytes"),
                "stats": json.dumps(a.get("stats") or {}),
            }
            for rel, a in sorted(st.files.items())
        ]
        return self.spark.createDataFrame(
            rows, "path string, num_records long, size_bytes long, stats string"
        )

    def snapshots(self) -> DataFrame:
        """D11 `.snapshots` metadata table (Iceberg's snapshot list the
        reference inspects at 03.iceberg_primer.py:322-402): one row per
        commit with the operation, per-commit file/record deltas, and the
        cumulative totals of the snapshot it produced. Single incremental
        walk over surviving commit files — no per-version replay. When
        cleanup_log has truncated commits below a checkpoint, the walk is
        seeded from that checkpoint's files map (mirroring replay()) so the
        cumulative totals of every kept version still count files added
        before the truncation horizon."""
        files: dict[str, int] = {}  # rel -> num_records
        sizes: dict[str, int] = {}
        rows = []
        versions = txlog.list_versions(self.path)
        if versions and versions[0] > 0:
            ckpt = txlog._latest_checkpoint(self.path, versions[0])
            if ckpt:
                for rel, a in ckpt["files"].items():
                    files[rel] = a.get("num_records") or 0
                    sizes[rel] = a.get("size_bytes") or 0
        for v in versions:
            c = txlog.read_commit(self.path, v)
            added = c.get("add") or []
            removed = c.get("remove") or []
            for rel in removed:
                files.pop(rel, None)
                sizes.pop(rel, None)
            for a in added:
                files[a["path"]] = a.get("num_records") or 0
                sizes[a["path"]] = a.get("size_bytes") or 0
            rows.append(
                {
                    "version": c["version"],
                    "timestamp_ms": c["timestamp_ms"],
                    "operation": c["operation"],
                    "added_files": len(added),
                    "removed_files": len(removed),
                    "added_records": sum(a.get("num_records") or 0 for a in added),
                    "total_files": len(files),
                    "total_records": sum(files.values()),
                    "total_bytes": sum(sizes.values()),
                }
            )
        return self.spark.createDataFrame(
            rows,
            "version long, timestamp_ms long, operation string, "
            "added_files long, removed_files long, added_records long, "
            "total_files long, total_records long, total_bytes long",
        )

    def partitions(self) -> DataFrame:
        """D11 `.partitions` metadata table (03.iceberg_primer.py:322-402):
        per-cluster-key-value row counts, computed as a plain aggregation
        over the snapshot (the cluster key is a column, not a directory)."""
        st = self.state()
        if not st.partition_by:
            return self._snapshot(st).agg(F.count(F.lit(1)).alias("num_records"))
        # the cluster key may be a partition transform (YEAR(col)) — alias it
        # to a sane column name for the metadata table
        names = [re.sub(r"\W+", "_", p).strip("_") for p in st.partition_by]
        keys = [F.expr(p).alias(n) for p, n in zip(st.partition_by, names)]
        return (
            self._snapshot(st)
            .groupBy(*keys)
            .agg(F.count(F.lit(1)).alias("num_records"))
            .orderBy(*names)
        )

    def detail(self) -> dict[str, Any]:
        """DESCRIBE DETAIL (D7)."""
        st = self.state()
        return {
            "location": str(self.path),
            "version": st.version,
            "num_files": len(st.files),
            "num_records": st.num_records,
            "size_bytes": st.size_bytes,
            "partition_by": st.partition_by,
            "schema": st.schema_json,
            "properties": st.properties,
        }

    def set_properties(self, props: dict[str, str]) -> None:
        """ALTER TABLE SET TBLPROPERTIES (02.delta_lake_primer.py:238-242):
        merge key/value pairs into the table's property map (metadata-only
        commit)."""
        st = self.state()
        self._commit(st.version + 1, operation="ALTER TABLE",
                     operation_parameters={"set_tblproperties": props},
                     properties={**st.properties, **props})

    def unset_properties(self, keys: list[str]) -> None:
        st = self.state()
        self._commit(st.version + 1, operation="ALTER TABLE",
                     operation_parameters={"unset_tblproperties": keys},
                     properties={k: v for k, v in st.properties.items()
                                 if k not in keys})

    # ------------------------------------------------------------------ #
    # writes
    # ------------------------------------------------------------------ #
    def append(self, df: DataFrame, merge_schema: bool = False,
               max_retries: int = 10) -> None:
        """D1/S5 append with schema enforcement; merge_schema=True widens the
        table schema with new columns (02.delta_lake_primer.py:354-362).

        Blind appends are the one operation that auto-resolves optimistic
        conflicts (Delta's semantics): the part-files are already written in
        a private subdir, so losing the commit race just means re-reading
        the log and re-committing at the next version — provided the schema
        didn't change underneath. DML conflicts are NOT retried: the state
        they were computed against is gone, so the caller must re-run."""
        st = self.state()
        schema = StructType.fromJson(json.loads(st.schema_json))
        new_schema = _check_schema(schema, df.schema, merge_schema)
        df = conform(df, new_schema)
        self._verify_constraints(df, st)
        adds = self._write_files(df, st.partition_by, state=st)
        for attempt in range(max_retries + 1):
            try:
                self._commit(
                    st.version + 1,
                    operation="WRITE",
                    operation_parameters={"mode": "Append"},
                    add=adds,
                    schema=new_schema.json() if new_schema != schema else None,
                )
                return
            except ConcurrentWriteError:
                if attempt == max_retries:
                    raise
                st = self.state()  # competitor won: replay fresh state
                current = StructType.fromJson(json.loads(st.schema_json))
                if current.simpleString() != schema.simpleString():
                    raise  # schema moved underneath us — not blindly safe

    def last_txn(self, app_id: str) -> dict:
        """The operation parameters of a writer app's newest transaction
        (``txn_version`` and whatever else it stamped), or ``{}``: a scan
        of the log newest-first, cost bounded by commit count."""
        for v in reversed(txlog.list_versions(self.path)):
            c = txlog.read_commit(self.path, v)
            p = c.get("operation_parameters") or {}
            if p.get("txn_app") == app_id:
                return p
        return {}

    def last_txn_version(self, app_id: str) -> int:
        """Highest committed transaction version for a writer app."""
        return int(self.last_txn(app_id).get("txn_version", -1))

    def append_idempotent(
        self, df: DataFrame, app_id: str, txn_version: int, merge_schema: bool = False
    ) -> bool:
        """Exactly-once streaming append: the (app_id, txn_version) pair is
        recorded in the commit; a replayed micro-batch (foreachBatch retry)
        with txn_version <= the last committed one is skipped. This is
        Delta's txnAppId/txnVersion idempotent-write contract, which is what
        makes foreachBatch sinks exactly-once (S18/T3)."""
        if txn_version <= self.last_txn_version(app_id):
            return False
        st = self.state()
        schema = StructType.fromJson(json.loads(st.schema_json))
        new_schema = _check_schema(schema, df.schema, merge_schema)
        df = conform(df, new_schema)
        self._verify_constraints(df, st)
        adds = self._write_files(df, st.partition_by, state=st)
        self._commit(
            st.version + 1,
            operation="STREAMING UPDATE",
            operation_parameters={"txn_app": app_id, "txn_version": txn_version},
            add=adds,
            schema=new_schema.json() if new_schema != schema else None,
        )
        return True

    def overwrite(self, df: DataFrame) -> None:
        st = self.state()
        self._verify_constraints(df, st)
        adds = self._write_files(df, st.partition_by, state=st)
        self._commit(
            st.version + 1,
            operation="WRITE",
            operation_parameters={"mode": "Overwrite"},
            add=adds,
            remove=sorted(st.files),
            schema=df.schema.json(),
        )

    def insert_values(self, rows: list[dict]) -> None:
        """D1: INSERT INTO ... VALUES (02.delta_lake_primer.py:148)."""
        schema = self.schema()
        self.append(self.spark.createDataFrame(rows, schema))

    # ------------------------------------------------------------------ #
    # DML (copy-on-write)
    # ------------------------------------------------------------------ #
    def _collect_affected(self, hits: DataFrame, max_files: int) -> list[str]:
        """Absolute paths of a matched-file plan (column ``__fp``),
        collected under `collect_affected`'s live-file-count bound."""
        return [_strip_scheme(r["__fp"]) for r in collect_affected(hits, max_files)]

    def _affected_files(self, cond) -> list[str]:
        """Distributed file-index lookup: which live files contain rows
        matching cond? Returns absolute paths (bounded by file count)."""
        st = self.state()
        paths = [str(self.path / rel) for rel in st.files]
        if not paths:
            return []
        schema = StructType.fromJson(json.loads(st.schema_json))
        phys = _physical_schema(schema, st.column_mapping)
        raw = self.spark.read.schema(phys).parquet(*paths)
        logical = raw.select(
            F.col("_metadata.file_path").alias("__fp"),
            *[
                F.col(st.column_mapping.get(f.name, f.name)).alias(f.name)
                for f in schema.fields
            ],
        )
        hits = logical.where(cond).select("__fp").distinct()
        return self._collect_affected(hits, len(paths))

    # ------------------------------------------------------------------ #
    # Change Data Feed (Delta's delta.enableChangeDataFeed / table_changes)
    # ------------------------------------------------------------------ #
    def _cdf_enabled(self, st) -> bool:
        return (st.properties or {}).get(CDF_PROPERTY, "").lower() == "true"

    def _write_change_data(
        self, parts: list[tuple[DataFrame, str]], schema: StructType
    ) -> list[dict]:
        """Write one commit's row-level change files (Delta's
        `_change_data/` layout: logical columns + `_change_type`) and
        return the commit's `cdc` descriptors. One distributed write; the
        change volume is bounded by the DML's own matched-row count, so a
        CDF-enabled table pays O(changed rows), never O(table)."""
        out = None
        for df, ct in parts:
            piece = df.select(
                *[F.col(c) for c in schema.names],
                F.lit(ct).alias("_change_type"),
            )
            out = piece if out is None else out.unionByName(piece)
        if out is None:
            return []
        rel_dir = f"{CHANGE_DATA_DIR}/{uuid.uuid4().hex}"
        abs_dir = self.path / rel_dir
        out.write.parquet(str(abs_dir))
        return [
            {"path": _rel(self.path, str(p)), "size_bytes": p.stat().st_size}
            for p in sorted(abs_dir.rglob("*.parquet"))
        ]

    def table_changes(
        self, starting_version: int = 0, ending_version: int | None = None
    ) -> DataFrame:
        """CDF read (Delta's `table_changes(from, to)`): one row per
        changed row per commit in the closed range — columns = current
        logical schema + `_change_type` (insert / delete /
        update_preimage / update_postimage) + `_commit_version` +
        `_commit_timestamp`.

        Per-commit sources: explicit `cdc` change files when the commit
        recorded them (DML under delta.enableChangeDataFeed=true — the
        authoritative record, including the empty set); pure-append /
        CREATE / CLONE commits derive `insert` rows from the added files
        (Delta's own optimization — blind appends never write change
        files); RESTORE derives insert/delete rows as a snapshot bag-diff.
        Any other mutating commit without recorded change data raises
        ChangeDataUnavailableError, matching Delta."""
        end = self.version if ending_version is None else ending_version
        cur = StructType.fromJson(json.loads(self.state().schema_json))
        parts: list[DataFrame] = []
        for v in range(starting_version, end + 1):
            c = txlog.read_commit(self.path, v)
            piece = None
            if c.get("cdc") is not None:
                files = [str(self.path / e["path"]) for e in c["cdc"]]
                if files:
                    piece = self.spark.read.parquet(*files)
            elif c.get("operation") == "CLONE":
                piece = self.read(version=v).withColumn(
                    "_change_type", F.lit("insert"))
            elif c.get("operation") == "RESTORE":
                prev, now = self.read(version=v - 1), self.read(version=v)
                piece = (
                    now.exceptAll(prev)
                    .withColumn("_change_type", F.lit("insert"))
                    .unionByName(
                        prev.exceptAll(now)
                        .withColumn("_change_type", F.lit("delete")),
                        allowMissingColumns=True,
                    )
                )
            elif c.get("add") and not c.get("remove") \
                    and not c.get("tombstone") \
                    and c.get("set_tombstones") is None:
                st_v = self.state(version=v)
                paths = [str(self.path / a["path"]) for a in c["add"]]
                piece = self._snapshot(st_v, paths).withColumn(
                    "_change_type", F.lit("insert"))
            elif c.get("remove") or c.get("tombstone") \
                    or c.get("set_tombstones") is not None:
                raise ChangeDataUnavailableError(
                    f"change data not recorded for version {v} (operation "
                    f"{c.get('operation')!r}); SET TBLPROPERTIES "
                    f"('{CDF_PROPERTY}' = 'true') before running DML"
                )
            # else: metadata-only commit — nothing changed
            if piece is None:
                continue
            parts.append(
                piece.withColumn("_commit_version", F.lit(v).cast("long"))
                .withColumn(
                    "_commit_timestamp",
                    F.timestamp_millis(F.lit(c["timestamp_ms"])),
                )
            )
        out_cols = list(cur.names) + [
            "_change_type", "_commit_version", "_commit_timestamp",
        ]
        if not parts:
            return self.spark.createDataFrame([], StructType(
                list(cur.fields)
                + [StructField("_change_type", StringType()),
                   StructField("_commit_version", LongType()),
                   StructField("_commit_timestamp", TimestampType())]
            ))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p, allowMissingColumns=True)
        # rows recorded under an older schema read NULL for later columns
        for m in [c for c in out_cols if c not in out.columns]:
            out = out.withColumn(m, F.lit(None).cast(cur[m].dataType))
        return out.select(*out_cols)

    def delete(self, where: str, lazy: bool = False) -> dict[str, int]:
        """D2: DELETE FROM ... WHERE (02.delta_lake_primer.py:213-224).

        lazy=True is merge-on-read: commit a predicate tombstone instead of
        rewriting files (Delta deletion-vector economics — O(1) write cost
        for frequent small deletes). Readers apply active tombstones as a
        residual filter; OPTIMIZE / the next copy-on-write DML materializes
        them. Tombstones are versioned, so time travel is exact."""
        if lazy:
            st = self.state()
            cdc = None
            if self._cdf_enabled(st):
                sch = StructType.fromJson(json.loads(st.schema_json))
                cdc = self._write_change_data(
                    [(self._snapshot(st).where(F.expr(where)), "delete")], sch)
            self._commit(
                st.version + 1,
                operation="DELETE",
                operation_parameters={"predicate": where, "lazy": True},
                tombstone=where,
                cdc=cdc,
            )
            return {"rewritten_files": 0, "tombstones": len(st.tombstones) + 1}
        st = self.state()
        cond = F.expr(where)
        affected = self._affected_files(cond)
        cdc = None
        if self._cdf_enabled(st):
            sch = StructType.fromJson(json.loads(st.schema_json))
            cdc = self._write_change_data(
                [(self._snapshot(st, affected).where(cond), "delete")]
                if affected else [], sch)
        if not affected:
            self._commit(st.version + 1, operation="DELETE",
                         operation_parameters={"predicate": where}, cdc=cdc)
            return {"rewritten_files": 0}
        kept = self._snapshot(st, affected).where(~cond)
        adds = self._write_files(kept, st.partition_by, state=st)
        self._commit(
            st.version + 1,
            operation="DELETE",
            operation_parameters={"predicate": where},
            add=adds,
            remove=[_rel(self.path, p) for p in affected],
            cdc=cdc,
        )
        return {"rewritten_files": len(affected)}

    def materialize_tombstones(self) -> dict[str, int]:
        """Rewrite all live files with active tombstones applied, then clear
        them — the merge-on-read → copy-on-write compaction step."""
        st = self.state()
        if not st.tombstones:
            return {"rewritten_files": 0}
        cleaned = self._snapshot(st)
        adds = self._write_files(cleaned, st.partition_by, state=st)
        self._commit(
            st.version + 1,
            operation="DELETE",
            operation_parameters={"materialized_tombstones": len(st.tombstones)},
            add=adds,
            remove=sorted(st.files),
            clear_tombstones=True,
            # the row deletions were reported when each tombstone committed;
            # materialization itself changes no logical rows
            cdc=[] if self._cdf_enabled(st) else None,
        )
        return {"rewritten_files": len(st.files)}

    def update(self, set_exprs: dict[str, str], where: str = "true") -> dict[str, int]:
        """D3: UPDATE ... SET ... WHERE (02.delta_lake_primer.py:252-261)."""
        st = self.state()
        schema_names = StructType.fromJson(json.loads(st.schema_json)).names
        unknown = [c for c in set_exprs if c not in schema_names]
        if unknown:
            raise ValueError(f"UPDATE SET references unknown columns: {unknown}")
        cond = F.expr(where)
        affected = self._affected_files(cond)
        if not affected:
            self._commit(st.version + 1, operation="UPDATE",
                         operation_parameters={"predicate": where},
                         cdc=[] if self._cdf_enabled(st) else None)
            return {"rewritten_files": 0}
        src = self._snapshot(st, affected)
        cdc = None
        if self._cdf_enabled(st):
            sch = StructType.fromJson(json.loads(st.schema_json))
            pre = src.where(cond)
            post = pre.select(
                *[
                    F.expr(set_exprs[c]).cast(src.schema[c].dataType).alias(c)
                    if c in set_exprs else F.col(c)
                    for c in src.columns
                ]
            )
            cdc = self._write_change_data(
                [(pre, "update_preimage"), (post, "update_postimage")], sch)
        updated = src.select(
            *[
                F.when(cond, F.expr(set_exprs[c]).cast(src.schema[c].dataType))
                .otherwise(F.col(c))
                .alias(c)
                if c in set_exprs
                else F.col(c)
                for c in src.columns
            ]
        )
        self._verify_constraints(updated, st)
        adds = self._write_files(updated, st.partition_by, state=st)
        self._commit(
            st.version + 1,
            operation="UPDATE",
            operation_parameters={"predicate": where, "set": set_exprs},
            add=adds,
            remove=[_rel(self.path, p) for p in affected],
            cdc=cdc,
        )
        return {"rewritten_files": len(affected)}

    def merge(
        self,
        source: DataFrame,
        on: str,
        when_matched_update: dict[str, str] | str | None = "all",
        when_not_matched_insert: dict[str, str] | str | None = "all",
        when_matched_delete: bool | str = False,
        merge_schema: bool = False,
        when_not_matched_insert_condition: str | None = None,
        txn_app: str | None = None,
        txn_version: int | None = None,
        source_unique_on_key: bool = False,
        txn_source_version: int | None = None,
    ) -> dict[str, int]:
        """D4/J1: MERGE INTO — upsert with matched-update / not-matched-insert
        (02.delta_lake_primer.py:312-320, 03.iceberg_primer.py:203-215).

        `on` references columns as t.<col> / s.<col>. Only files containing
        matched rows are rewritten; inserts are appended. A source row that
        matches nothing inserts; matching target rows update in place.

        Conditional clauses (r13, Delta's whenMatchedDelete(condition=...) /
        whenNotMatchedInsert(condition=...)): a STRING ``when_matched_delete``
        deletes only the matched rows where the condition (over the joined
        ``t``/``s`` pair) is TRUE — other matched rows fall through to the
        update clause — and ``when_not_matched_insert_condition`` (evaluated
        on the unmatched SOURCE row) gates the insert leg. Together they fold
        a delete-merge + upsert-merge pair into ONE pass: one affected-file
        scan, one rewrite+insert write, one commit.

        ``txn_app``/``txn_version`` stamp Delta's idempotent-writer
        transaction identity onto the MERGE's own commit (readable via
        ``last_txn_version``), so exactly-once streaming sinks don't pay a
        separate metadata commit per micro-batch. ``txn_source_version``
        rides beside them: the highest source-table version the write
        consumed (read back with ``last_txn``), so a stream can tell when
        the commits it should read next are gone.

        Planning is shared with the external Delta and Iceberg MERGE: a
        source that is not already data (a local, cached or checkpointed
        relation, under hints and aliases) is ``localCheckpoint()``-ed once
        and released after the commit (`delta_log.merge_source`), so the
        affected-file pass, the rewrite, the insert anti-join and the CDF
        images all read one evaluation. ONE bounded pass over target ⋈
        source (`delta_log.merge_affected_files`) finds the affected files
        and, when a matched row may update, raises
        MergeMultipleMatchesError where several source rows match one
        target row, before anything is written. What the MERGE then writes
        — the rewritten files, the inserts cast to the table types, the
        CDF images — comes from the clause engine the three planes share
        (`delta_log.merge_clauses`); this method keeps the file writes,
        the commit and its ``txn_*`` stamp.

        ``source_unique_on_key=True`` asserts the source carries at most one
        row per merge key and drops the multiple-match count from the
        planning pass (a plain left-semi join + distinct then). Only for
        callers whose uniqueness is STRUCTURAL — an aggregation or
        row_number()=1 collapse keyed on the merge key — where the check can
        never fire.
        """
        st = self.state()
        schema = StructType.fromJson(json.loads(st.schema_json))
        old_schema = schema
        if merge_schema:
            # automatic schema evolution (Delta's autoMerge): source-only
            # columns widen the target; existing rows read them as NULL
            schema = _check_schema(schema, source.schema, merge=True)
        # one evaluation of the source feeds every leg (released after)
        with merge_source(source) as source:
            paths = [str(self.path / rel) for rel in st.files]
            cond = F.expr(on)
            src = source.alias("s")

            affected: list[str] = []
            if paths:
                # one bounded pass: the affected files, plus Delta's multiple-
                # match error when a matched row may update (the result would
                # depend on join order)
                affected = [_strip_scheme(fp) for fp in merge_affected_files(
                    self._snapshot(st, paths, with_path=True), src, cond, "__fp",
                    len(paths),
                    check_dups=bool(when_matched_update)
                    and when_matched_delete is not True
                    and not source_unique_on_key,
                    err_cls=MergeMultipleMatchesError,
                )]

            cdf_on = self._cdf_enabled(st)
            rewritten, ins, cdc_parts = merge_clauses(
                self._snapshot(st, affected) if affected else None, src,
                cond, schema, when_matched_update, when_matched_delete,
                when_not_matched_insert, when_not_matched_insert_condition,
                cdf=cdf_on,
            )
            if cdf_on and ins is not None:
                cdc_parts.append((ins, "insert"))
            out_parts = [p for p in (rewritten, ins) if p is not None]
            adds: list[dict] = []
            if out_parts:
                out = out_parts[0]
                for p in out_parts[1:]:
                    out = out.unionByName(p)
                self._verify_constraints(out, st)
                adds = self._write_files(out, st.partition_by, state=st)

            cdc = self._write_change_data(cdc_parts, schema) if cdf_on else None
            op_params: dict = {"predicate": on}
            if txn_app is not None:
                # idempotent-writer identity rides the MERGE commit itself —
                # no separate bookkeeping commit per streaming micro-batch
                op_params["txn_app"] = txn_app
                op_params["txn_version"] = txn_version
                if txn_source_version is not None:
                    op_params["txn_source_version"] = txn_source_version
            self._commit(
                st.version + 1,
                operation="MERGE",
                operation_parameters=op_params,
                add=adds,
                remove=[_rel(self.path, p) for p in affected],
                schema=schema.json() if schema != old_schema else None,
                cdc=cdc,
            )
            return {"rewritten_files": len(affected), "added_files": len(adds)}

    # ------------------------------------------------------------------ #
    # ALTER TABLE surface (D9) + CHECK constraints
    # ------------------------------------------------------------------ #
    def alter_add_column(self, name: str, dtype_ddl: str) -> None:
        """ALTER TABLE ADD COLUMN (03.iceberg_primer.py:232) — metadata-only:
        old files simply read NULL for the new column.

        If the default physical name (== the logical name) was EVER used by a
        previous schema version — a drop→re-add of the same name, or an add
        of a name some surviving column was renamed away from — the new
        column gets a FRESH minted physical name via column mapping.
        Otherwise old files' physical data for the dead column would resolve
        to the new logical column on read, resurrecting dropped values
        instead of NULL (the exact id-reuse hazard Delta's columnMapping
        maxColumnId invariant exists to prevent)."""
        import uuid as _uuid

        from pyspark.sql.types import _parse_datatype_string

        st = self.state()
        schema = StructType.fromJson(json.loads(st.schema_json))
        if name in schema.names:
            raise ValueError(f"column exists: {name}")
        new = StructType(
            schema.fields + [StructField(name, _parse_datatype_string(dtype_ddl), True)]
        )
        mapping = None
        if name in self._ever_physical_names():
            mapping = dict(st.column_mapping)
            mapping[name] = f"{name}__{_uuid.uuid4().hex[:8]}"
        self._commit(st.version + 1, operation="ALTER TABLE",
                     operation_parameters={"add_column": name}, schema=new.json(),
                     column_mapping=mapping)

    def _ever_physical_names(self) -> set[str]:
        """Every physical column name any surviving log version ever mapped a
        field to. Replays the local JSON log (cheap: metadata-only); commits
        removed by cleanup_log are unknowable and excluded — the checkpoint
        that replaced them carries the then-current schema+mapping, which the
        replay's starting state covers."""
        out: set[str] = set()
        running_schema: str | None = None
        running_mapping: dict[str, str] = {}
        start = txlog.replay(self.path)
        if start is not None:
            running_schema = start.schema_json
            running_mapping = dict(start.column_mapping)
        for v in txlog.list_versions(self.path):
            c = txlog.read_commit(self.path, v)
            if c.get("schema"):
                running_schema = c["schema"]
            if c.get("column_mapping") is not None:
                running_mapping = dict(c["column_mapping"])
            if running_schema:
                for f in json.loads(running_schema).get("fields", []):
                    out.add(running_mapping.get(f["name"], f["name"]))
        return out

    def alter_rename_column(self, old: str, new: str) -> None:
        """ALTER TABLE RENAME COLUMN — metadata-only via column mapping
        (Delta column-mapping mode, 02.delta_lake_primer.py:238-242): the
        physical name in existing files never changes."""
        st = self.state()
        schema = StructType.fromJson(json.loads(st.schema_json))
        if old not in schema.names:
            raise ValueError(f"no such column: {old}")
        if new in schema.names:
            raise ValueError(f"column exists: {new}")
        mapping = dict(st.column_mapping)
        mapping[new] = mapping.pop(old, old)
        fields = [
            StructField(new, f.dataType, f.nullable) if f.name == old else f
            for f in schema.fields
        ]
        self._commit(
            st.version + 1,
            operation="ALTER TABLE",
            operation_parameters={"rename_column": {old: new}},
            schema=StructType(fields).json(),
            column_mapping=mapping,
        )

    def alter_drop_column(self, name: str) -> None:
        """ALTER TABLE DROP COLUMN — metadata-only: the physical data stays
        in the files, the logical schema stops projecting it."""
        st = self.state()
        schema = StructType.fromJson(json.loads(st.schema_json))
        if name not in schema.names:
            raise ValueError(f"no such column: {name}")
        mapping = dict(st.column_mapping)
        mapping.pop(name, None)
        fields = [f for f in schema.fields if f.name != name]
        self._commit(
            st.version + 1,
            operation="ALTER TABLE",
            operation_parameters={"drop_column": name},
            schema=StructType(fields).json(),
            column_mapping=mapping,
        )

    def add_constraint(self, name: str, expr: str) -> None:
        """ALTER TABLE ADD CONSTRAINT CHECK (Delta CHECK constraints):
        existing data is validated first, then every future write."""
        st = self.state()
        n_bad = self._snapshot(st).where(~F.expr(expr)).count()
        if n_bad:
            raise ConstraintViolationError(
                f"cannot add constraint {name}: {n_bad} existing rows violate ({expr})"
            )
        constraints = {**st.constraints, name: expr}
        self._commit(st.version + 1, operation="ALTER TABLE",
                     operation_parameters={"add_constraint": {name: expr}},
                     constraints=constraints)

    def drop_constraint(self, name: str) -> None:
        st = self.state()
        constraints = {k: v for k, v in st.constraints.items() if k != name}
        self._commit(st.version + 1, operation="ALTER TABLE",
                     operation_parameters={"drop_constraint": name},
                     constraints=constraints)

    def _verify_constraints(self, df: DataFrame, st) -> None:
        """One extra job per write when constraints exist — the price of
        write-time enforcement (same as Delta's CHECK)."""
        if not st.constraints:
            return
        cond = F.lit(True)
        for expr in st.constraints.values():
            cond = cond & F.expr(expr)
        n_bad = df.where(~cond).count()
        if n_bad:
            raise ConstraintViolationError(
                f"{n_bad} rows violate constraints {list(st.constraints)}"
            )

    # ------------------------------------------------------------------ #
    # maintenance
    # ------------------------------------------------------------------ #
    def vacuum(self, retain_versions: int = 0, dry_run: bool = False) -> list[str]:
        """D8: delete data files unreferenced by the current state (and the
        last `retain_versions` snapshots) — 02.delta_lake_primer.py:442.
        Time travel older than the retention horizon stops working, exactly
        like Delta's VACUUM."""
        versions = txlog.list_versions(self.path)
        keep_versions = versions[-(retain_versions + 1):]
        live: set[str] = set()
        for v in keep_versions:
            live |= set(txlog.replay(self.path, version=v).files)
        on_disk = {
            _rel(self.path, str(p))
            for p in (self.path / txlog.DATA_DIR).rglob("*.parquet")
        } if (self.path / txlog.DATA_DIR).is_dir() else set()
        orphans = sorted(on_disk - live)
        if not dry_run:
            for rel in orphans:
                (self.path / rel).unlink(missing_ok=True)
            st = self.state()
            self._commit(
                st.version + 1,
                operation="VACUUM",
                operation_parameters={"retain_versions": retain_versions,
                                      "removed": len(orphans)},
            )
        return orphans

    def restore(self, version: int) -> dict[str, int]:
        """RESTORE TABLE TO VERSION AS OF (Delta's RESTORE command): roll the
        live state back to an old snapshot as a NEW commit — history is
        preserved (the rollback itself is auditable and reversible), no data
        files are copied, and vacuum rules still protect the referenced
        files."""
        target = self.state(version=version)
        cur = self.state()
        self._commit(
            cur.version + 1,
            operation="RESTORE",
            operation_parameters={"restored_version": version},
            # keep each file's ORIGINAL add version so the restored
            # tombstones (below) still apply to exactly the files they
            # applied to in the target snapshot
            add=[{**{k: v for k, v in a.items() if k != "__v"},
                  "add_version": a.get("__v", 0)}
                 for a in target.files.values()],
            remove=sorted(set(cur.files) - set(target.files)),
            schema=target.schema_json,
            partition_by=target.partition_by,
            column_mapping=target.column_mapping,
            constraints=target.constraints,
            properties=target.properties,
            # full tombstone replacement: restoring to a version with active
            # lazy deletes must not resurrect the deleted rows, and current
            # tombstones newer than the target must be dropped
            set_tombstones=target.tombstones,
        )
        return {"restored_to": version, "new_version": cur.version + 1}

    def clone(self, target: str | Path, shallow: bool = True,
              version: int | None = None, mode: str = "error") -> "LakeTable":
        """CLONE (Delta's CREATE TABLE ... [SHALLOW|DEEP] CLONE): materialize
        an independent table from this table's snapshot (optionally a
        time-travel `version`).

        SHALLOW: zero-copy — the clone's log REFERENCES the source's data
        files (relative-traversal paths, resolved from the clone root), so
        creation is O(metadata) regardless of table size. The clone then
        evolves independently: its DML copy-on-writes into its OWN data dir
        and its VACUUM only ever scans its own data dir, so source files
        can never be deleted through the clone. (The source's vacuum can
        still remove files a shallow clone references — Delta's documented
        shallow-clone caveat; use deep for archival.)
        DEEP: file bytes are copied into the clone — fully self-contained.

        Schema, partition spec, column mapping, CHECK constraints,
        properties and live merge-on-read tombstones all carry over; the
        clone starts at version 0 with a CLONE commit recording provenance
        (source path + source version)."""
        import os
        import shutil

        target = Path(target)
        if txlog.list_versions(target):
            if mode == "error":
                raise FileExistsError(f"table already exists: {target}")
            if mode == "ignore":
                return LakeTable(self.spark, target)
            raise ValueError("clone supports mode='error' or 'ignore'")
        st = self.state(version=version)
        target.mkdir(parents=True, exist_ok=True)
        adds = []
        for rel, a in st.files.items():
            entry = {**{k: v for k, v in a.items() if k != "__v"},
                     "add_version": a.get("__v", 0)}
            src_abs = (self.path / rel).resolve()
            if shallow:
                entry["path"] = os.path.relpath(src_abs, target.resolve())
            else:
                dst = target / rel
                dst.parent.mkdir(parents=True, exist_ok=True)
                shutil.copyfile(src_abs, dst)
                entry["path"] = rel
            adds.append(entry)
        t = LakeTable(self.spark, target)
        t._commit(
            0,
            operation="CLONE",
            operation_parameters={
                "source": str(self.path),
                "source_version": st.version,
                "shallow": shallow,
            },
            add=adds,
            schema=st.schema_json,
            partition_by=st.partition_by,
            column_mapping=st.column_mapping,
            constraints=st.constraints,
            properties=st.properties,
            set_tombstones=st.tombstones,
            protocol={"min_reader": txlog.READER_VERSION},
        )
        return t

    def cleanup_log(self, keep_versions: int = 30) -> list[int]:
        """Delta's log-retention analog: drop commit JSONs older than the
        newest checkpoint while keeping at least `keep_versions` recent
        commits. Replay stays correct (it starts from the checkpoint); time
        travel older than the horizon stops working, exactly like VACUUM
        does for data files. Keeps the log O(retention), not O(history)."""
        versions = txlog.list_versions(self.path)
        if not versions:
            return []
        # The horizon must itself be a checkpoint version: every kept version
        # v >= horizon then replays from a surviving checkpoint (<= v, >=
        # horizon) over commits that all survive — no kept snapshot can ever
        # need a deleted commit file.
        keep_floor = versions[-1] - keep_versions + 1
        eligible = [c for c in txlog.list_checkpoints(self.path) if c <= keep_floor]
        if not eligible:
            return []
        horizon = max(eligible)
        removable = [v for v in versions if v < horizon]
        for v in removable:
            (txlog.log_dir(self.path) / f"{v:010d}.json").unlink(missing_ok=True)
        return removable

    def fsck(self, deep: bool = False) -> dict[str, Any]:
        """Consistency check: every live file exists (and with deep=True,
        per-file row counts match the log's num_records). Returns a report;
        raises nothing — operators decide what to do with drift."""
        st = self.state()
        missing = [rel for rel in st.files if not (self.path / rel).exists()]
        report: dict[str, Any] = {
            "version": st.version,
            "num_files": len(st.files),
            "missing_files": missing,
            "ok": not missing,
        }
        if deep and not missing and st.files:
            phys = _physical_schema(
                StructType.fromJson(json.loads(st.schema_json)), st.column_mapping
            )
            actual = {
                _rel(self.path, r.fp): r.n
                for r in self.spark.read.schema(phys)
                .parquet(*[str(self.path / rel) for rel in st.files])
                .groupBy(F.col("_metadata.file_path").alias("fp"))
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            }
            mismatched = {
                rel: {"logged": a.get("num_records"), "actual": actual.get(rel)}
                for rel, a in st.files.items()
                if actual.get(rel) != a.get("num_records")
            }
            report["count_mismatches"] = mismatched
            report["ok"] = report["ok"] and not mismatched
        return report

    def optimize(self, target_records_per_file: int = 1_000_000) -> dict[str, int]:
        """OPTIMIZE-style small-file compaction (the problem demonstrated at
        02.delta_lake_primer.py:46-49): bin-pack under-sized files and
        rewrite them as full ones."""
        st = self.state()
        small = {
            rel: a
            for rel, a in st.files.items()
            if (a.get("num_records") or 0) < target_records_per_file
        }
        if len(small) < 2:
            return {"compacted_files": 0}
        df = self._snapshot(st, [str(self.path / rel) for rel in small])
        total = sum(a.get("num_records") or 0 for a in small.values())
        n_out = max(1, -(-total // target_records_per_file))
        adds = self._write_files(df.repartition(n_out), st.partition_by,
                                 skip_cluster=True, state=st)
        self._commit(
            st.version + 1,
            operation="OPTIMIZE",
            operation_parameters={"target_records_per_file": target_records_per_file},
            add=adds,
            remove=sorted(small),
        )
        return {"compacted_files": len(small)}

    def recluster(self, partition_by: list[str], num_files: int | None = None) -> dict[str, int]:
        """Change the table's cluster key (partition evolution): full
        range-clustered rewrite + the new key recorded for future writes —
        Iceberg's partition-spec evolution, done as one transactional
        rewrite."""
        st = self.state()
        df = self._snapshot(st)
        adds = self._write_files(df, partition_by, num_files=num_files, state=st)
        self._commit(
            st.version + 1,
            operation="RECLUSTER",
            operation_parameters={"partition_by": partition_by},
            add=adds,
            remove=sorted(st.files),
            partition_by=partition_by,
        )
        return {"rewritten_files": len(st.files), "new_files": len(adds)}

    def optimize_zorder(self, cols: list[str], num_files: int = 16,
                        bits: int = 10) -> dict[str, int]:
        """OPTIMIZE ZORDER BY — multi-dimensional clustering rewrite.

        Single-column range clustering gives tight min/max on ONE key;
        Z-ordering interleaves the bit representations of several keys so
        every file covers a small hyper-rectangle — per-file min/max stats
        then skip effectively on ANY of the clustered columns. This is the
        Delta OPTIMIZE ZORDER capability, built from plain expressions:
        normalize each column to `bits` bits via global min/max, interleave
        with shift/mask, range-repartition on the z-value."""
        st = self.state()
        df = self._snapshot(st)
        z = zorder_column(df, cols, bits)
        clustered = df.withColumn("__z", z).repartitionByRange(num_files, "__z").drop("__z")
        adds = self._write_files(clustered, [], skip_cluster=True, state=st)
        self._commit(
            st.version + 1,
            operation="OPTIMIZE",
            operation_parameters={"zorder_by": cols, "bits": bits},
            add=adds,
            remove=sorted(st.files),
        )
        return {"rewritten_files": len(st.files), "new_files": len(adds)}

    # ------------------------------------------------------------------ #
    # internals
    # ------------------------------------------------------------------ #
    def _write_files(
        self,
        df: DataFrame,
        partition_by: list[str],
        skip_cluster: bool = False,
        num_files: int | None = None,
        state=None,
    ) -> list[dict]:
        """Write part-files for one commit + collect per-file stats (one
        metadata job over just-written files).

        Clustering uses range partitioning on the cluster key so each file
        covers a contiguous key range (tight min/max → effective skipping).
        Without an explicit num_files, AQE sizes the shuffle output to the
        data volume — the behavior you want at scale."""
        abs_dir, rel = txlog.new_data_subdir(self.path)
        if partition_by and not skip_cluster:
            # F.expr so the cluster key can be a partition TRANSFORM
            # (Iceberg's `PARTITIONED BY (YEAR(col))`, 03.iceberg_primer.py:124)
            # as well as a plain column; range clustering on the transform
            # gives contiguous value ranges per file, so min/max stats on the
            # base column still prune
            cols = [F.expr(c) for c in partition_by]
            df = (
                df.repartitionByRange(num_files, *cols)
                if num_files
                else df.repartitionByRange(*cols)
            )
        mapping = state.column_mapping if state is not None else {}
        if mapping:
            # files always store physical names (rename is metadata-only)
            df = df.select(*[F.col(c).alias(mapping.get(c, c)) for c in df.columns])
        # Size output files by DATA VOLUME, not core count (r13, guide §6).
        # Two hazards, both scoped to THIS write action on the session the
        # written frame actually executes under:
        # 1. foreachBatch hands sinks a SESSION CLONE with
        #    spark.sql.adaptive.enabled=false (streaming plans don't AQE),
        #    so every streaming-merge commit fanned its shuffle into
        #    shuffle.partitions near-empty part-files (measured: 32 files /
        #    74 KiB per commit) and every later scan of the state table
        #    paid 32 file opens. The write here is a plain BATCH query, so
        #    re-enable AQE for it.
        # 2. parallelismFirst=false makes the write's AQE coalescing target
        #    advisoryPartitionSizeInBytes instead of local parallelism —
        #    size-targeted output files (guide §6's 128 MB–1 GB goal on a
        #    cluster, one file for tiny commits). Compute queries keep the
        #    parallelism-first default the r12 round measured as faster.
        sess = df.sparkSession
        aqe_key = "spark.sql.adaptive.enabled"
        pf_key = "spark.sql.adaptive.coalescePartitions.parallelismFirst"
        prev_aqe = sess.conf.get(aqe_key, "true")
        prev_pf = sess.conf.get(pf_key, "true")
        try:
            sess.conf.set(aqe_key, "true")
            sess.conf.set(pf_key, "false")
            df.write.parquet(str(abs_dir))
        finally:
            sess.conf.set(aqe_key, prev_aqe)
            sess.conf.set(pf_key, prev_pf)
        files = sorted(str(p) for p in abs_dir.rglob("*.parquet"))
        if not files:
            return []
        if len(files) <= FOOTER_STATS_MAX_FILES:
            adds = _footer_adds(files, self.path, df.schema)
            if adds is not None:
                return adds
        stats_df = (
            self.spark.read.parquet(*files)
            .groupBy(F.col("_metadata.file_path").alias("fp"))
            .agg(F.count(F.lit(1)).alias("n"), *_stat_aggs(df.schema))
        )
        return _adds_from_stats(stats_df.collect(), self.path, df.schema)

    def _commit(self, version: int, operation: str, add=None, remove=None,
                schema=None, partition_by=None, operation_parameters=None,
                column_mapping=None, constraints=None, tombstone=None,
                clear_tombstones=False, set_tombstones=None, properties=None,
                protocol=None, cdc=None) -> None:
        actions: dict[str, Any] = {"operation": operation}
        if cdc is not None:
            actions["cdc"] = cdc
        if operation_parameters:
            actions["operation_parameters"] = operation_parameters
        if add:
            actions["add"] = add
        if remove:
            actions["remove"] = remove
        if schema:
            actions["schema"] = schema
        if partition_by is not None:
            actions["partition_by"] = partition_by
        if column_mapping is not None:
            actions["column_mapping"] = column_mapping
        if constraints is not None:
            actions["constraints"] = constraints
        if tombstone is not None:
            actions["tombstone"] = tombstone
        if clear_tombstones:
            actions["clear_tombstones"] = True
        if set_tombstones is not None:
            actions["set_tombstones"] = set_tombstones
        if properties is not None:
            actions["properties"] = properties
        if protocol is not None:
            actions["protocol"] = protocol
        txlog.try_commit(self.path, version, actions)
        if version > 0 and version % CHECKPOINT_INTERVAL == 0:
            txlog.write_checkpoint(self.path, txlog.replay(self.path, version=version))


# ---------------------------------------------------------------------- #
# helpers
# ---------------------------------------------------------------------- #
def _physical_schema(logical: StructType, mapping: dict[str, str]) -> StructType:
    if not mapping:
        return logical
    return StructType(
        [StructField(mapping.get(f.name, f.name), f.dataType, f.nullable)
         for f in logical.fields]
    )


def _predicate(col: str, op: str, val):
    if op in ("=", "=="):
        return F.col(col) == F.lit(val)
    return {"<": F.col(col) < F.lit(val), "<=": F.col(col) <= F.lit(val),
            ">": F.col(col) > F.lit(val), ">=": F.col(col) >= F.lit(val)}[op]


def _file_may_match(add: dict, filters) -> bool:
    """Stats-based file skipping: False only if stats PROVE no row matches."""
    if not filters:
        return True
    stats = add.get("stats") or {}
    for col, op, val in filters:
        s = stats.get(col)
        if not s or s.get("min") is None or s.get("max") is None:
            continue
        lo, hi = s["min"], s["max"]
        if (isinstance(lo, float) and lo != lo) or (
                isinstance(hi, float) and hi != hi):
            continue  # NaN bound (legacy stats): comparisons below would
            # all be False and wrongly skip the file — treat as no bound
        try:
            if op in ("=", "==") and (val < lo or val > hi):
                return False
            if op == "<" and not (lo < val):
                return False
            if op == "<=" and not (lo <= val):
                return False
            if op == ">" and not (hi > val):
                return False
            if op == ">=" and not (hi >= val):
                return False
        except TypeError:
            continue  # incomparable types: never skip
    return True


# small-commit fast path: at or below this many files, per-file stats come
# from the parquet FOOTERS driver-side (O(files) metadata reads, ~ms each)
# instead of a second Spark job over the just-written data — the same
# trade delta-rs makes. Above it, the distributed agg scales with the
# cluster while the driver-side walk would serialize.
FOOTER_STATS_MAX_FILES = 64


def _footer_adds(files: list[str], table_path: Path,
                 schema: StructType) -> list[dict] | None:
    """Per-file add metadata from parquet footers, byte-equivalent to the
    distributed `_stat_aggs` job: min/max per stat column (NULLs ignored;
    all-NULL file → None), num_records, size. Returns None whenever a
    footer cannot reproduce the agg EXACTLY — stats dropped by the writer
    (long binary values past parquet-mr's statistics cap, NaN-bearing
    float columns) or a missing null_count — and the caller falls back to
    the Spark job, so skipping correctness never rests on truncated or
    absent bounds."""
    from datetime import datetime, timezone

    import pyarrow.parquet as pq

    def norm(v):
        # pyarrow returns tz-aware UTC timestamps; Spark's agg returns
        # naive session-TZ (UTC) datetimes — align so stats strings match
        if isinstance(v, datetime) and v.tzinfo is not None:
            return v.astimezone(timezone.utc).replace(tzinfo=None)
        return v

    cols = _stat_cols(schema)
    adds = []
    for fp in files:
        md = pq.ParquetFile(fp).metadata
        if md.num_row_groups == 0:
            continue
        idx = {
            md.row_group(0).column(i).path_in_schema: i
            for i in range(md.num_columns)
        }
        stats: dict[str, dict] = {}
        for c in cols:
            if c not in idx:
                return None  # physical/logical name mismatch: let Spark agg
            mn = mx = None
            for rg in range(md.num_row_groups):
                col = md.row_group(rg).column(idx[c])
                st = col.statistics
                n_rg = md.row_group(rg).num_rows
                if st is None or not st.has_null_count:
                    return None
                if st.has_min_max:
                    lo, hi = norm(st.min), norm(st.max)
                    if (isinstance(lo, float) and lo != lo) or (
                            isinstance(hi, float) and hi != hi):
                        # Spark 4 writes NaN row-group bounds for
                        # NaN-bearing floats; Python min/max folding over
                        # NaN is order-dependent and can't reproduce the
                        # Spark agg (F.min ignores NaN, F.max returns it)
                        return None
                    mn = lo if mn is None else min(mn, lo)
                    mx = hi if mx is None else max(mx, hi)
                elif st.null_count != n_rg:
                    # values exist but the writer dropped min/max
                    # (oversized binary, NaN floats) — not reproducible
                    return None
            stats[c] = {"min": _json_safe(mn), "max": _json_safe(mx)}
        adds.append({
            "path": _rel(table_path, fp),
            "num_records": md.num_rows,
            "size_bytes": Path(fp).stat().st_size,
            "stats": stats,
        })
    return sorted(adds, key=lambda a: a["path"])


def _stat_cols(schema: StructType) -> list[str]:
    out = []
    for f in schema.fields:
        t = f.dataType.typeName()
        if t in ("integer", "long", "short", "byte", "double", "float", "string",
                 "date", "timestamp", "boolean"):
            out.append(f.name)
        if len(out) >= MAX_STAT_COLS:
            break
    return out


def _stat_aggs(schema: StructType):
    aggs = []
    for c in _stat_cols(schema):
        aggs.append(F.min(c).alias(f"__min_{c}"))
        aggs.append(F.max(c).alias(f"__max_{c}"))
    return aggs


def _json_safe(v):
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, float) and v != v:
        # NaN: not valid JSON, and F.max over a NaN-bearing double IS NaN
        # (Spark orders NaN above everything) — a NaN bound would poison
        # the Python-side pruning comparisons, so record "no bound"
        return None
    return v


def _adds_from_stats(rows, table_path: Path, schema: StructType) -> list[dict]:
    adds = []
    for r in rows:
        fp = _strip_scheme(r.fp)
        stats = {
            c: {"min": _json_safe(r[f"__min_{c}"]), "max": _json_safe(r[f"__max_{c}"])}
            for c in _stat_cols(schema)
        }
        p = Path(fp)
        adds.append(
            {
                "path": _rel(table_path, fp),
                "num_records": r.n,
                "size_bytes": p.stat().st_size if p.exists() else None,
                "stats": stats,
            }
        )
    return sorted(adds, key=lambda a: a["path"])


def _strip_scheme(p: str) -> str:
    """A `file:`-schemed string is a Spark-reported URI (`_metadata.file_path`),
    whose path component is percent-encoded — decode it so log actions and
    join keys hold the raw filesystem path (a table under a directory with a
    space otherwise records `%20`-mangled `../`-relative add paths).
    Scheme-less inputs are already raw paths and pass through untouched."""
    if p.startswith("file:"):
        from urllib.parse import unquote

        return unquote(p.removeprefix("file://").removeprefix("file:"))
    return p


def _rel(table_path: Path, abs_path: str) -> str:
    p = Path(_strip_scheme(abs_path))
    try:
        return str(p.relative_to(table_path))
    except ValueError:
        # outside the table root: a shallow clone's reference into its
        # source table — relpath reproduces the '../source/...' key the
        # CLONE commit stored (both sides resolved, as clone() resolved)
        import os

        return os.path.relpath(p.resolve(), Path(table_path).resolve())


def _check_schema(table: StructType, incoming: StructType, merge: bool) -> StructType:
    t_fields = {f.name: f for f in table.fields}
    new = [f for f in incoming.fields if f.name not in t_fields]
    for f in incoming.fields:
        tf = t_fields.get(f.name)
        if tf is not None and tf.dataType.simpleString() != f.dataType.simpleString():
            raise SchemaMismatchError(
                f"column {f.name}: table has {tf.dataType.simpleString()}, "
                f"incoming {f.dataType.simpleString()}"
            )
    if new and not merge:
        raise SchemaMismatchError(
            f"incoming columns not in table schema: {[f.name for f in new]} "
            "(use merge_schema=True to evolve)"
        )
    if not new:
        return table
    return StructType(table.fields + new)
