"""`laketable` — a Spark Python Data Source (Spark 4 API) that streams a
LakeTable by tailing its transaction log (SURVEY §2.1 S16: "Delta/Iceberg as
stream source", 02.delta_lake_primer.py:133-137).

Offsets are log versions; each micro-batch is exactly the set of files added
by commits in (start_version, end_version]. That is Delta's streaming-source
design: the log IS the changelog, so no directory diffing and no state
beyond one integer. Which files a batch reads is decided driver-side by
`plan_batch_files`, which the commit-file drain of streaming/cdc.py (a
native Spark file stream, no Python process) plans with too.

Scaling structure: `partitions()` emits one InputPartition per added file —
the read side fans out across executors, each opening its own parquet file
via Arrow and yielding RecordBatches (zero row-by-row Python). Batch-mode
`reader()` reads the current snapshot the same way.

Non-append commits (DELETE/UPDATE/MERGE/OPTIMIZE remove files) break the
append-only contract; like Delta, the source fails fast unless
`ignoreChanges=true` is set (then rewritten files are skipped — consumers
see only net-new appended files).

Usage:
    spark.dataSource.register(LakeTableDataSource)
    spark.readStream.format("laketable").option("path", p).load()

Note: Spark's PythonMicroBatchStream does not implement Trigger.AvailableNow
(falls back to one catch-up batch per start — fine for drain-style runs);
continuous tailing uses processingTime triggers.
"""

from __future__ import annotations

import json
from pathlib import Path

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import StructType

# Session-portability (the foreign-session sweep caught this): Spark plans a
# Python data source in a DRIVER-SIDE Python worker whose PYTHONPATH comes
# from the JVM's environment — sc.addPyFile reaches executor workers but NOT
# this planner worker, so in a session the harness created (repo not on the
# JVM's PYTHONPATH) unpickling the source class died with
# ModuleNotFoundError. Two-part fix: (1) this module registers itself for
# cloudpickle BY-VALUE pickling (bottom of file), so the class definition
# travels inside the pickle and needs no import; (2) the lazy txlog imports
# below bootstrap sys.path from this constant — embedded in the by-value
# pickle — when the package isn't importable.
_REPO_ROOT = str(Path(__file__).resolve().parents[2])


def _txlog():
    try:
        from lakehouses_spark.tables import log as txlog
    except ModuleNotFoundError:  # pathless planner worker (same machine)
        import sys

        sys.path.insert(0, _REPO_ROOT)
        from lakehouses_spark.tables import log as txlog
    return txlog


class FileSlice(InputPartition):
    def __init__(self, path: str):
        self.path = path


def _replay(table_path: str, version: int | None = None):
    return _txlog().replay(table_path, version=version)


def _versions(table_path: str) -> list[int]:
    return _txlog().list_versions(table_path)


def _commit(table_path: str, v: int) -> dict:
    return _txlog().read_commit(table_path, v)


def plan_batch_files(
    table_path: str | Path,
    versions: list[int],
    snapshot: bool,
    ignore_changes: bool = False,
) -> list[str]:
    """The table-relative data files one micro-batch of a stream over a
    LakeTable reads. Driver-side, log-only; both stream paths plan with it
    (`LakeTableStreamReader` and the commit-file drain of
    streaming/cdc.py), so their rules cannot drift apart.

    ``snapshot=True`` (a stream's initial batch): the live files of the
    snapshot at ``max(versions)`` — DML in history streams cleanly, but
    live merge-on-read tombstones fail, since a whole-file read would
    resurrect the deleted rows. Otherwise the files added by exactly the
    commits ``versions``; a commit that removes files or tombstones rows
    breaks the append-only contract and fails. ``ignore_changes`` lifts
    both checks (Delta-source semantics)."""
    if snapshot:
        st = _replay(str(table_path), version=max(versions))
        if st.tombstones and not ignore_changes:
            raise RuntimeError(
                f"{len(st.tombstones)} active merge-on-read "
                "tombstone(s); the stream source reads whole files — "
                "set .option('ignoreChanges', 'true') to stream them "
                "including deleted rows, or materialize_tombstones() "
                "first"
            )
        return list(st.files)
    out: list[str] = []
    for v in sorted(versions):
        c = _commit(str(table_path), v)
        breaking = (
            c.get("remove") or c.get("tombstone")
            or c.get("set_tombstones") is not None
        )
        if breaking and not ignore_changes:
            raise RuntimeError(
                f"commit {v} ({c.get('operation')}) removed or deleted "
                "rows on the streamed table; set .option("
                "'ignoreChanges', 'true') to stream only appended files "
                "(Delta-source semantics)"
            )
        out.extend(a["path"] for a in c.get("add") or [])
    return out


class LakeTableDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "laketable"

    def _path(self) -> str:
        p = self.options.get("path")
        if not p:
            raise ValueError("laketable source requires .option('path', <table dir>)")
        # catalog-registered tables (CREATE TABLE ... USING laketable) hand
        # the location through as a file: URI — normalize to a local path
        if p.startswith("file:"):
            from urllib.parse import urlparse

            p = urlparse(p).path
        return p

    def _cdf(self) -> bool:
        # Delta's spark.readStream.option("readChangeFeed", "true") contract
        return str(self.options.get("readchangefeed", "false")).lower() == "true"

    def schema(self) -> StructType:
        from pyspark.sql.types import LongType, StringType, StructField, TimestampType

        st = _replay(self._path())
        base = StructType.fromJson(json.loads(st.schema_json))
        if not self._cdf():
            return base
        return StructType(
            list(base.fields)
            + [
                StructField("_change_type", StringType()),
                StructField("_commit_version", LongType()),
                StructField("_commit_timestamp", TimestampType()),
            ]
        )

    def reader(self, schema: StructType) -> "LakeTableBatchReader":
        if self._cdf():
            raise ValueError(
                "readChangeFeed is a STREAMING option; for batch CDF use "
                "LakeTable.table_changes(from, to)"
            )
        return LakeTableBatchReader(self._path())

    def streamReader(self, schema: StructType):
        if self._cdf():
            return LakeTableChangeFeedStreamReader(self._path(), self.schema())
        sv = self.options.get("startingversion")
        return LakeTableStreamReader(
            self._path(),
            ignore_changes=str(self.options.get("ignorechanges", "false")).lower()
            == "true",
            starting_version=int(sv) if sv is not None else None,
        )


def _read_file_batches(path: str):
    """Executor-side: one parquet file → Arrow RecordBatches (never rows).

    Spark's default INT96 timestamps surface as nanoseconds in pyarrow,
    which Spark's Arrow ingestion rejects — cast any ns column to µs."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pq.read_table(path)
    fields = []
    changed = False
    for f in table.schema:
        if pa.types.is_timestamp(f.type) and f.type.unit == "ns":
            fields.append(pa.field(f.name, pa.timestamp("us", tz=f.type.tz)))
            changed = True
        else:
            fields.append(f)
    if changed:
        table = table.cast(pa.schema(fields))
    yield from table.to_batches(max_chunksize=10_000)


class LakeTableBatchReader(DataSourceReader):
    def __init__(self, table_path: str):
        self.table_path = table_path
        st = _replay(table_path)
        self.files = [str(Path(table_path) / rel) for rel in st.files]

    def partitions(self):
        return [FileSlice(f) for f in self.files]

    def read(self, partition: FileSlice):
        yield from _read_file_batches(partition.path)


class LakeTableStreamReader(DataSourceStreamReader):
    """Plain tail over a LakeTable log. Without `startingVersion` the
    INITIAL batch is the CURRENT snapshot's live files (r10 — the same
    Delta-source default the `deltatable`/`icebergtable` twins follow:
    DML in history streams cleanly, active merge-on-read tombstones gate
    on ignoreChanges); `startingVersion=N` tails per-commit adds from
    version N instead (0 = the full history replay)."""

    def __init__(self, table_path: str, ignore_changes: bool = False,
                 starting_version: int | None = None):
        self.table_path = table_path
        self.ignore_changes = ignore_changes
        self.starting_version = starting_version

    def initialOffset(self) -> dict:
        if self.starting_version is not None:
            return {"version": self.starting_version - 1}
        # start BEFORE version 0 so the initial snapshot is batch 0
        return {"version": -1}

    def latestOffset(self) -> dict:
        versions = _versions(self.table_path)
        return {"version": versions[-1] if versions else -1}

    def partitions(self, start: dict, end: dict):
        start_v, end_v = int(start["version"]), int(end["version"])
        if start_v == -1 and self.starting_version is None:
            # INITIAL batch = the CURRENT snapshot at end_v; the tail then
            # only sees versions > end_v
            rels = plan_batch_files(self.table_path, [end_v], snapshot=True,
                                    ignore_changes=self.ignore_changes)
        else:
            tail = [v for v in _versions(self.table_path) if start_v < v <= end_v]
            rels = plan_batch_files(self.table_path, tail, snapshot=False,
                                    ignore_changes=self.ignore_changes)
        return [FileSlice(str(Path(self.table_path) / rel)) for rel in rels] or [
            FileSlice("")
        ]

    def read(self, partition: FileSlice):
        if not partition.path:  # empty batch placeholder
            return
        yield from _read_file_batches(partition.path)

    def commit(self, end: dict) -> None:
        pass  # progress is durable in the sink checkpoint; nothing to clean


class ChangeSlice(InputPartition):
    """One change-feed file: a cdc change file (carries `_change_type`
    itself) or a derived-insert data file (`change_type='insert'`), plus
    the commit identity to stamp onto every row."""

    def __init__(self, path: str, change_type: str | None, version: int,
                 ts_ms: int, rename: dict[str, str]):
        self.path = path
        self.change_type = change_type
        self.version = version
        self.ts_ms = ts_ms
        self.rename = rename  # physical -> logical (derived inserts only)


class LakeTableChangeFeedStreamReader(DataSourceStreamReader):
    """Streaming CDF (Delta's `readStream.option("readChangeFeed",
    "true")`): each micro-batch is the row-level change set of the commits
    in (start_version, end_version] — cdc change files when the commit
    recorded them (DML under delta.enableChangeDataFeed), derived inserts
    for pure-append commits, nothing for metadata-only / authoritative-
    empty commits. Mutating commits without recorded change data fail
    fast, like the batch reader. Fan-out is per change file (one executor
    partition each); commit metadata columns are stamped Arrow-side, so
    rows never pass through Python one at a time."""

    def __init__(self, table_path: str, out_schema: StructType):
        from pyspark.sql.pandas.types import to_arrow_schema

        self.table_path = table_path
        self.arrow_schema = to_arrow_schema(out_schema)

    def initialOffset(self) -> dict:
        return {"version": -1}

    def latestOffset(self) -> dict:
        versions = _versions(self.table_path)
        return {"version": versions[-1] if versions else -1}

    def partitions(self, start: dict, end: dict):
        start_v, end_v = int(start["version"]), int(end["version"])
        slices: list[ChangeSlice] = []
        for v in _versions(self.table_path):
            if not (start_v < v <= end_v):
                continue
            c = _commit(self.table_path, v)
            ts = c["timestamp_ms"]
            adds = c.get("add") or []
            if c.get("cdc") is not None:
                slices.extend(
                    ChangeSlice(str(Path(self.table_path) / e["path"]),
                                None, v, ts, {})
                    for e in c["cdc"]
                )
            elif adds and not c.get("remove") and not c.get("tombstone") \
                    and c.get("set_tombstones") is None:
                mapping = _replay(self.table_path, version=v).column_mapping
                rename = {p: l for l, p in (mapping or {}).items()}
                slices.extend(
                    ChangeSlice(str(Path(self.table_path) / a["path"]),
                                "insert", v, ts, rename)
                    for a in adds
                )
            elif c.get("remove") or c.get("tombstone") \
                    or c.get("set_tombstones") is not None:
                raise RuntimeError(
                    f"change data not recorded for version {v} "
                    f"({c.get('operation')}); set TBLPROPERTIES "
                    "('delta.enableChangeDataFeed' = 'true') before DML, "
                    "or stream the table without readChangeFeed"
                )
            # else: metadata-only commit — nothing changed
        return slices or [ChangeSlice("", None, -1, 0, {})]

    def read(self, partition: ChangeSlice):
        if not partition.path:  # empty batch placeholder
            return
        import pyarrow as pa
        import pyarrow.parquet as pq

        table = pq.read_table(partition.path)
        if partition.rename:
            table = table.rename_columns(
                [partition.rename.get(n, n) for n in table.column_names]
            )
        out = self.arrow_schema
        for batch in table.to_batches(max_chunksize=10_000):
            n = len(batch)
            names = set(batch.schema.names)
            cols = []
            for f in out:
                if f.name == "_change_type" and f.name not in names:
                    cols.append(pa.array([partition.change_type] * n, f.type))
                elif f.name == "_commit_version":
                    cols.append(pa.array([partition.version] * n, f.type))
                elif f.name == "_commit_timestamp":
                    cols.append(pa.array(
                        [partition.ts_ms * 1000] * n,
                        pa.timestamp(f.type.unit, f.type.tz),
                    ))
                elif f.name in names:
                    col = batch.column(f.name)
                    cols.append(col if col.type == f.type else col.cast(f.type))
                else:  # schema evolution: older change files read NULL
                    cols.append(pa.nulls(n, f.type))
            yield pa.RecordBatch.from_arrays(cols, schema=out)

    def commit(self, end: dict) -> None:
        pass


def _register_pickle_by_value() -> None:
    """Ship this module's classes inside the pickle instead of by module
    reference (see the session-portability note above). pyspark's vendored
    cloudpickle keeps the by-value registry process-global, so doing it at
    import time covers every later spark.dataSource.register call."""
    import sys

    try:
        from pyspark import cloudpickle

        cloudpickle.register_pickle_by_value(sys.modules[__name__])
    except Exception:  # older cloudpickle without the API — fall back to
        pass  # by-reference pickling (works whenever PYTHONPATH is set)


_register_pickle_by_value()
