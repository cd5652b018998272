"""Delta-protocol `_delta_log` export / read for LakeTable (VERDICT r5 #1).

The reference's core abstraction is a Delta table whose transaction log any
client can read — notebooks/01.formatos_ficheros/01.parquet_primer.py:185
creates one, :199-222 inspects `_delta_log/00000000000000000000.json` line
by line, and :386 shows the parquet checkpoint. LakeTable reproduces the
SEMANTICS (ACID, time travel, MERGE, CLONE, VACUUM) on a private JSON log;
this module closes the FORMAT gap with stdlib-only code:

- ``export_delta_log(table, dest)``: materialize a LakeTable as a standalone
  Delta-protocol table — data files hard-linked/copied, one
  ``_delta_log/<20-digit>.json`` commit per LakeTable version (newline-
  delimited protocol/metaData/add/remove/txn/commitInfo actions), optional
  checkpoint + ``_last_checkpoint`` — classic parquet (single-file or
  multi-part past 50k actions) or, with ``checkpoint_format="v2"``, the
  UUID-named v2 layout (top-level json + ``_sidecars/*.parquet``). Version
  history is preserved 1:1, so `VERSION AS OF` works in any Delta client.
- ``read_delta(spark, path)`` / ``DeltaLogReader``: an independent reader of
  Delta-protocol tables (exported ones or tables written by real Delta
  writers): stdlib JSON replay of the action log (checkpoint parquet via a
  plain parquet scan when the JSON prefix was cleaned up), then ONE Spark
  parquet read over all live files with partition values attached via a
  broadcast file→tuple map join. Supports column mapping (mode=name/id),
  partitioned tables, time travel, deletion vectors (`tables/dv.py`
  decodes the public roaring-bitmap format; deleted rows are anti-filtered
  by `_metadata.row_index`), v2 checkpoints (top-level json/parquet +
  `_sidecars/*.parquet` file actions), and classic multi-part checkpoints
  (`<v>.checkpoint.<part>.<of>.parquet`, all parts reconciled as one scan;
  incomplete part sets fail loudly); fails loudly on reader features it
  does not implement.
- ``LakeTable.convert_from_delta``: in-place adoption of an unpartitioned
  Delta table's live files into a fresh LakeTable log (no data rewrite;
  DV-carrying files are materialized with their deleted rows dropped),
  mirroring ``convert_from_parquet``.

Everything here targets the PUBLIC Delta transaction-log specification
(delta-io/delta PROTOCOL.md): action shapes, partition-value serialization,
column-mapping field metadata, `delta.constraints.*` configuration keys,
and the minReader/minWriter gates those features imply.

Scale: export moves file METADATA (one JSON per commit) and links data files
(O(files), no data rewrite); the reader plans from the log exactly like
LakeTable does — no directory listing, no parquet-footer fan-out.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from contextlib import ExitStack, contextmanager
from pathlib import Path
from typing import Any
from urllib.parse import quote, unquote

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from lakehouses_spark.tables import log as txlog

DELTA_LOG_DIR = "_delta_log"

# Reader/writer versions each exported feature requires (PROTOCOL.md):
# plain append/remove tables are (1, 2); CHECK constraints need writer 3;
# column mapping needs (2, 5).
_BASE_PROTOCOL = (1, 2)
_CONSTRAINTS_PROTOCOL = (1, 3)
_COLUMN_MAPPING_PROTOCOL = (2, 5)

_SUPPORTED_READER_FEATURES = {
    "columnMapping", "timestampNtz", "checkConstraints", "deletionVectors",
    "v2Checkpoint",
}


class DeltaExportError(RuntimeError):
    """The table's log cannot be exported faithfully (truncated history,
    vacuumed files, pre-fresh-minting physical-name resurrection)."""


class DeltaProtocolError(RuntimeError):
    """The Delta table requires reader capabilities this module lacks."""


# --------------------------------------------------------------------------- #
# export
# --------------------------------------------------------------------------- #
def export_delta_log(
    table,
    dest: str | Path,
    mode: str = "error",
    checkpoint: bool = True,
    checkpoint_format: str = "classic",
) -> Path:
    """Export a LakeTable as a standalone Delta-protocol table at ``dest``.

    Every LakeTable commit becomes one Delta commit of the same version, so
    both the final snapshot AND the full time-travel history round-trip.
    Data files are hard-linked when possible (same filesystem), copied
    otherwise — never rewritten or re-encoded.

    Merge-on-read predicate tombstones export as NATIVE Delta deletion
    vectors (r8, the mirror of the Iceberg exporter's position deletes): a
    tombstone commit re-adds each affected file with an
    ``add.deletionVector`` descriptor (roaring bitmap of the deleted row
    ordinals, ``tables/dv.py`` encoder — inline z85 payloads up to 32 KiB,
    ``deletion_vector_<uuid>.bin`` sidecars beyond), so snapshots at
    tombstone versions are exact and no ``materialize_tombstones()`` call
    is required. Stacked tombstones union their bitmaps; clear / restore /
    materialize re-add the files without descriptors.
    """
    from lakehouses_spark.tables import dv as dvmod

    dest = Path(dest)
    log_dest = dest / DELTA_LOG_DIR
    versions = txlog.list_versions(table.path)
    commits = [txlog.read_commit(table.path, v) for v in versions]
    if versions != list(range(len(versions))):
        raise DeltaExportError(
            "log history is truncated (cleanup_log); full-history export "
            f"needs contiguous commits from 0, have {versions}"
        )

    # Feature scan over the whole history decides the protocol once, at v0.
    any_mapping = any(c.get("column_mapping") for c in commits)
    any_constraints = any(c.get("constraints") for c in commits)
    any_tombstones = any(
        c.get("tombstone")
        or c.get("clear_tombstones")
        or c.get("set_tombstones") is not None
        for c in commits
    )
    any_cdf = any(c.get("cdc") is not None for c in commits)
    reader_v, writer_v = _BASE_PROTOCOL
    if any_constraints:
        reader_v, writer_v = _CONSTRAINTS_PROTOCOL
    if any_mapping:
        reader_v, writer_v = _COLUMN_MAPPING_PROTOCOL
    if any_cdf:
        # legacy writer version 4 = change data feed (PROTOCOL.md)
        writer_v = max(writer_v, 4)
    protocol_action: dict[str, Any] = {}
    if checkpoint_format not in ("classic", "v2"):
        raise ValueError(
            f"checkpoint_format must be 'classic' or 'v2', "
            f"got {checkpoint_format!r}"
        )
    if any_tombstones or checkpoint_format == "v2":
        # deletion vectors / v2 checkpoints are TABLE FEATURES: protocol
        # (3, 7) with every in-use feature listed explicitly (PROTOCOL.md
        # "Table Features" / "V2 Checkpoint Table Feature")
        reader_feats = (
            (["deletionVectors"] if any_tombstones else [])
            + (["columnMapping"] if any_mapping else [])
            + (["v2Checkpoint"] if checkpoint_format == "v2" else [])
        )
        writer_feats = list(reader_feats) + (
            ["checkConstraints"] if any_constraints else []
        ) + (["changeDataFeed"] if any_cdf else [])
        reader_v, writer_v = 3, 7
        protocol_action = {
            "readerFeatures": sorted(reader_feats),
            "writerFeatures": sorted(writer_feats),
        }

    # Stable identity + stable path remap (shallow-clone references resolve
    # to files OUTSIDE the table root; they re-home under data/ext-*).
    table_id = str(uuid.uuid4())
    created_time = commits[0]["timestamp_ms"]
    path_map: dict[str, str] = {}

    def mapped_path(rel: str) -> str:
        if rel in path_map:
            return path_map[rel]
        if rel.startswith("..") or Path(rel).is_absolute():
            out = f"data/ext-{len(path_map):04d}-{Path(rel).name}"
        else:
            out = rel
        path_map[rel] = out
        return out

    # Pre-scan EVERY file reference (same first-reference order as the replay
    # loop, so ext-* names are identical) and verify the sources exist BEFORE
    # touching dest. A vacuumed table deletes unreferenced historical files —
    # discovering that mid-copy, after the _delta_log commits were already
    # written, would leave a corrupt partial export behind.
    for c in commits:
        for rel in c.get("remove", []):
            mapped_path(rel)
        for add in c.get("add", []):
            mapped_path(add["path"])
        for ch in c.get("cdc") or []:
            mapped_path(ch["path"])
    missing = sorted(
        rel for rel in path_map if not (table.path / rel).resolve().exists()
    )
    if missing:
        raise DeltaExportError(
            f"{len(missing)} historical data file(s) referenced by the log no "
            f"longer exist (first: {missing[0]!r}) — the table was vacuumed. "
            "Full-history export needs every referenced file; export a "
            "snapshot instead (CLONE the table, then export the clone) or "
            "re-create the history."
        )

    if log_dest.exists():
        if mode == "error":
            raise FileExistsError(f"delta table already exists: {dest}")
        if mode == "overwrite":
            shutil.rmtree(dest)

    # Column-mapping ids are keyed by PHYSICAL name: a rename keeps the id
    # (it's metadata-only; the files don't change), a genuinely new column
    # gets the next id.
    field_ids: dict[str, int] = {}

    def field_id(phys: str) -> int:
        if phys not in field_ids:
            field_ids[phys] = len(field_ids) + 1
        return field_ids[phys]

    field_id.max_id = lambda: max(field_ids.values(), default=0)

    # Replay the LakeTable log, emitting one Delta commit per version and
    # re-emitting metaData whenever table metadata changed.
    running_schema: str | None = None
    running_partition_by: list[str] = []
    running_mapping: dict[str, str] = {}
    running_constraints: dict[str, str] = {}
    running_properties: dict[str, str] = {}
    last_metadata_json: str | None = None
    log_dest.mkdir(parents=True, exist_ok=True)
    final_adds: dict[str, dict] = {}
    final_removes: dict[str, int] = {}  # quoted rel -> deletionTimestamp
    final_txns: dict[str, tuple[int, int]] = {}  # appId -> (version, ts)
    # merge-on-read tombstones → native deletion vectors
    live_rels: set[str] = set()
    add_version: dict[str, int] = {}  # rel -> version that added it
    active_tombs: list[dict] = []  # replayed with exact txlog semantics
    tomb_hits: dict[tuple, dict[str, list[int]]] = {}  # (pred, ver) -> rel -> idxs
    tomb_eval: dict[tuple, set[str]] = {}  # (pred, ver) -> rels already scanned
    emitted_dv: dict[str, frozenset] = {}  # rel -> row indexes currently emitted
    # physical names ever used / used by the previous version's schema —
    # a physical name RETURNING after retirement means a drop→re-add that
    # predates alter_add_column's fresh-name minting: reusing the cached
    # columnMapping id would make Delta clients resolve the re-added column
    # to the OLD files' physical data (resurrecting dropped values), and
    # minting a fresh physical name here would silently NULL the data
    # written AFTER the re-add. Neither is acceptable — fail loudly.
    ever_phys: set[str] = set()
    prev_active: set[str] = set()

    for c in commits:
        v, ts = c["version"], c["timestamp_ms"]
        if c.get("schema"):
            running_schema = c["schema"]
        if c.get("partition_by") is not None:
            running_partition_by = c["partition_by"]
        if c.get("column_mapping") is not None:
            running_mapping = dict(c["column_mapping"])
        if c.get("constraints") is not None:
            running_constraints = dict(c["constraints"])
        if c.get("properties") is not None:
            running_properties = dict(c["properties"])
        if running_schema:
            active = [
                running_mapping.get(f["name"], f["name"])
                for f in json.loads(running_schema).get("fields", [])
            ]
            dup = sorted({p for p in active if active.count(p) > 1})
            if dup:
                raise DeltaExportError(
                    f"version {v}: physical column name(s) {dup} are shared "
                    "by multiple logical columns — not representable in "
                    "Delta column mapping"
                )
            returned = sorted(
                p for p in active if p in ever_phys and p not in prev_active
            )
            if returned:
                raise DeltaExportError(
                    f"version {v}: physical column name(s) {returned} were "
                    "dropped and later re-added (a pre-fresh-minting log). "
                    "Old data files still carry the dropped values under the "
                    "same physical name, so no columnMapping id assignment "
                    "is correct for ALL files — rewrite the table under the "
                    "current schema (deep CLONE) before exporting."
                )
            ever_phys.update(active)
            prev_active = set(active)

        actions: list[dict[str, Any]] = [
            {
                "commitInfo": {
                    "timestamp": ts,
                    "operation": c["operation"],
                    "operationParameters": {
                        k: v2 if isinstance(v2, str) else json.dumps(v2)
                        for k, v2 in (c.get("operation_parameters") or {}).items()
                    },
                    "engineInfo": "lakehouses-spark delta-log exporter",
                }
            }
        ]
        if v == 0:
            actions.append(
                {
                    "protocol": {
                        "minReaderVersion": reader_v,
                        "minWriterVersion": writer_v,
                        **protocol_action,
                    }
                }
            )
        meta = _metadata_action(
            table_id,
            created_time,
            running_schema,
            running_partition_by,
            running_mapping,
            running_constraints,
            running_properties,
            enable_mapping=any_mapping,
            field_id=field_id,
        )
        meta_json = json.dumps(meta, sort_keys=True)
        if meta_json != last_metadata_json:
            actions.append({"metaData": meta})
            last_metadata_json = meta_json
        # idempotent-append bookkeeping maps 1:1 onto Delta's txn action
        params = c.get("operation_parameters") or {}
        if params.get("txn_app") is not None and params.get("txn_version") is not None:
            app = str(params["txn_app"])
            final_txns[app] = (int(params["txn_version"]), ts)
            actions.append(
                {
                    "txn": {
                        "appId": app,
                        "version": int(params["txn_version"]),
                        "lastUpdated": ts,
                    }
                }
            )
        # PROTOCOL.md: add/remove paths are percent-encoded relative URIs.
        # A commit whose recorded change set is authoritatively EMPTY
        # (cdc == [], e.g. materialize_tombstones — a rewrite that changes
        # no logical rows) exports its file actions with dataChange=false,
        # exactly how Delta marks OPTIMIZE, so CDF readers skip it instead
        # of refusing.
        dc = c.get("cdc") != []
        for rel in c.get("remove", []):
            final_adds.pop(quote(mapped_path(rel)), None)
            final_removes[quote(mapped_path(rel))] = ts
            actions.append(
                {
                    "remove": {
                        "path": quote(mapped_path(rel)),
                        "deletionTimestamp": ts,
                        "dataChange": dc,
                    }
                }
            )
        for add in c.get("add", []):
            delta_add = {
                "path": quote(mapped_path(add["path"])),
                "partitionValues": {},
                "size": add.get("size_bytes") or 0,
                "modificationTime": ts,
                "dataChange": dc,
                "stats": json.dumps(_delta_stats(add)),
            }
            final_adds[delta_add["path"]] = delta_add
            final_removes.pop(delta_add["path"], None)
            actions.append({"add": delta_add})
        # Change Data Feed files → native `cdc` actions (PROTOCOL.md "Add
        # CDC File"); readers substitute them for this commit's add/remove
        # pair when computing table_changes
        for ch in c.get("cdc") or []:
            actions.append({
                "cdc": {
                    "path": quote(mapped_path(ch["path"])),
                    "partitionValues": {},
                    "size": ch.get("size_bytes") or 0,
                    "dataChange": False,
                }
            })
        for rel in c.get("remove", []):
            live_rels.discard(rel)
            emitted_dv.pop(rel, None)
        added_versions: list[int] = []
        for add in c.get("add", []):
            live_rels.add(add["path"])
            # RESTORE/CLONE re-add files under their ORIGINAL add version
            # (log.py:302 semantics — tombstones only apply to files that
            # predate them); a plain append's add version is this commit.
            av = int(add.get("add_version", v))
            add_version[add["path"]] = av
            added_versions.append(av)

        # ---- tombstone replay → deletion-vector re-adds ----
        prev_tomb_keys = {(t["predicate"], t["version"]) for t in active_tombs}
        if c.get("tombstone"):
            active_tombs.append({"predicate": c["tombstone"], "version": v})
        if c.get("clear_tombstones"):
            active_tombs = []
        if c.get("set_tombstones") is not None:
            active_tombs = [dict(t) for t in c["set_tombstones"]]
        tomb_keys = {(t["predicate"], t["version"]) for t in active_tombs}
        # re-run DV emission when the tombstone set changed OR this commit
        # (re-)added files that predate an active tombstone (RESTORE after
        # a remove, CLONE of a tombstoned snapshot): those files' rows are
        # subject to the restored tombstones and must export with their
        # deletion vectors, not as plain adds.
        pretomb_readd = any(
            av < t["version"] for av in added_versions for t in active_tombs
        )
        if tomb_keys != prev_tomb_keys or pretomb_readd:
            desired: dict[str, set[int]] = {}
            for t in active_tombs:
                key = (t["predicate"], t["version"])
                eligible = sorted(
                    r for r in live_rels
                    if add_version.get(r, 0) < t["version"]
                )
                done = tomb_eval.setdefault(key, set())
                missing = [r for r in eligible if r not in done]
                if missing:
                    tomb_hits.setdefault(key, {}).update(_tombstone_hits(
                        table.spark, table.path, running_schema,
                        running_mapping, t["predicate"], missing,
                    ))
                    done.update(missing)
                for rel, idxs in tomb_hits.get(key, {}).items():
                    if rel in live_rels and add_version.get(rel, 0) < t["version"]:
                        desired.setdefault(rel, set()).update(idxs)
            for rel in sorted(set(desired) | set(emitted_dv)):
                want = frozenset(desired.get(rel, ()))
                have = emitted_dv.get(rel, frozenset())
                if want == have or rel not in live_rels:
                    continue
                qp = quote(mapped_path(rel))
                old_add = final_adds[qp]
                actions.append(
                    {"remove": {"path": qp, "deletionTimestamp": ts,
                                "dataChange": True}}
                )
                new_add = dict(old_add)
                new_add["modificationTime"] = ts
                if want:
                    new_add["deletionVector"] = dvmod.make_descriptor(
                        sorted(want), dest
                    )
                    emitted_dv[rel] = want
                else:
                    new_add.pop("deletionVector", None)
                    emitted_dv.pop(rel, None)
                actions.append({"add": new_add})
                final_adds[qp] = new_add
        _write_commit(log_dest / f"{v:020d}.json", actions)

    # Data files: everything any commit referenced (history stays readable),
    # hard-linked when the filesystem allows.
    for rel, out_rel in path_map.items():
        src = (table.path / rel).resolve()
        tgt = dest / out_rel
        tgt.parent.mkdir(parents=True, exist_ok=True)
        if tgt.exists():
            continue
        try:
            os.link(src, tgt)
        except OSError:
            shutil.copy2(src, tgt)

    if checkpoint and commits:
        ckpt_writer = (
            _write_checkpoint_v2 if checkpoint_format == "v2"
            else _write_checkpoint_parquet
        )
        ckpt_writer(
            table.spark,
            log_dest,
            commits[-1]["version"],
            protocol={"minReaderVersion": reader_v,
                      "minWriterVersion": writer_v, **protocol_action},
            metadata=json.loads(last_metadata_json),
            adds=sorted(final_adds.values(), key=lambda a: a["path"]),
            txns=final_txns,
            removes=[
                {"path": p_, "deletionTimestamp": ts_}
                for p_, ts_ in sorted(final_removes.items())
            ],
        )
    return dest


def _coerce_pv(raw: str, dt) -> Any:
    """Delta partitionValues are serialized strings; bring one back to a
    comparable Python value (None = don't prune on this column)."""
    name = dt.typeName()
    try:
        if name in ("integer", "long", "short", "byte"):
            return int(raw)
        if name == "decimal":
            # exact: Decimal('0.1') != float('0.1') in Python, so a float
            # coercion would wrongly prune '=' filters on decimal columns
            import decimal

            return decimal.Decimal(raw)
        if name in ("double", "float"):
            return float(raw)
        if name == "boolean":
            return raw == "true"
        if name in ("string", "date", "timestamp"):
            return raw
    except (ValueError, TypeError):
        return None
    return None


def _delta_file_may_match(
    add: dict, filters, part_types: dict, phys_by_name: dict[str, str]
) -> bool:
    """False only when the add action's metadata PROVES no row matches:
    `partitionValues` for partition columns (every row in the file shares
    the value — classic partition pruning), per-file min/max stats (Delta
    stats JSON, keyed by physical name) for data columns. Conservative on
    missing or incomparable metadata — pruned-replay snapshots keep only
    numRecords and therefore never prune."""
    pv = add.get("partitionValues") or {}
    try:
        stats = json.loads(add["stats"]) if add.get("stats") else {}
    except (ValueError, TypeError):
        stats = {}
    lazy = add.get("__lazyStats") or {}
    mins = {**(stats.get("minValues") or {}), **(lazy.get("minValues") or {})}
    maxs = {**(stats.get("maxValues") or {}), **(lazy.get("maxValues") or {})}
    for col, op, val in filters:
        try:
            if col in part_types:
                raw = pv[col] if col in pv else pv.get(
                    phys_by_name.get(col, col))
                if raw is None:
                    continue
                v = _coerce_pv(raw, part_types[col])
                if v is None:
                    continue
                import decimal

                if isinstance(v, decimal.Decimal) and isinstance(val, float):
                    # normalize the filter side too: a user-supplied float
                    # 0.1 must equal the file's Decimal('0.1')
                    val = decimal.Decimal(str(val))
                ok = {
                    "=": v == val, "==": v == val, "<": v < val,
                    "<=": v <= val, ">": v > val, ">=": v >= val,
                }[op]
                if not ok:
                    return False
            else:
                phys = phys_by_name.get(col, col)
                lo, hi = mins.get(phys), maxs.get(phys)
                if lo is None or hi is None:
                    continue
                if (isinstance(lo, float) and lo != lo) or (
                        isinstance(hi, float) and hi != hi):
                    continue  # NaN bound (foreign writer): every
                    # comparison below is False — never skip on it
                if op in ("=", "==") and (val < lo or val > hi):
                    return False
                if op == "<" and not lo < val:
                    return False
                if op == "<=" and not lo <= val:
                    return False
                if op == ">" and not hi > val:
                    return False
                if op == ">=" and not hi >= val:
                    return False
        except TypeError:
            continue  # incomparable types: never skip
    return True


def _tombstone_hits(
    spark: SparkSession,
    table_path: Path,
    schema_json: str | None,
    mapping: dict[str, str],
    predicate: str,
    rels: list[str],
) -> dict[str, list[int]]:
    """Row ordinals matching `predicate` per target file — ONE distributed
    scan over the then-live files with `_metadata.row_index`, the predicate
    evaluated over the LOGICAL schema (column mapping resolved). The
    collect is bounded by the DELETED-row count, the same bound as the
    descriptors these indexes become."""
    schema = StructType.fromJson(json.loads(schema_json or '{"type":"struct","fields":[]}'))
    phys = {f.name: mapping.get(f.name, f.name) for f in schema.fields}
    phys_schema = StructType(
        [StructField(phys[f.name], f.dataType, f.nullable) for f in schema.fields]
    )
    abs_map = {str((table_path / rel).resolve()): rel for rel in rels}
    hits = (
        spark.read.schema(phys_schema).parquet(*abs_map)
        .select(
            fs_path_col().alias("__fp"),
            F.col("_metadata.row_index").alias("__ri"),
            *[F.col(phys[f.name]).alias(f.name) for f in schema.fields],
        )
        .where(F.expr(predicate))
        .select("__fp", "__ri")
        .collect()
    )
    out: dict[str, list[int]] = {}
    for r in hits:
        out.setdefault(abs_map[r["__fp"]], []).append(r["__ri"])
    return {rel: sorted(v) for rel, v in out.items()}


def exact_footer_bounds(md) -> tuple[dict, dict]:
    """File-level min/max per top-level column from a parquet footer
    (``pyarrow.parquet.FileMetaData``), with the exactness guarantee file
    pruning needs: a column is included ONLY if every row group either
    exposes min/max or is provably all-NULL. A row group holding values
    whose min/max the writer dropped (NaN-bearing float/double, oversized
    binary) — or whose null_count is unknown — poisons the whole column:
    bounds built from the remaining row groups would UNDER-COVER the file
    and a bounds-driven scan would wrongly skip it. Absent bounds never
    skip, so omission is always safe. Shared by
    ``DeltaLogReader._write_data_files`` (add.stats) and
    ``IcebergMetadataReader._added_entries`` (manifest lower/upper
    bounds); same rule as ``table._footer_adds``."""
    mins: dict[str, Any] = {}
    maxs: dict[str, Any] = {}
    inexact: set[str] = set()
    for rg in range(md.num_row_groups):
        rgm = md.row_group(rg)
        n_rg = rgm.num_rows
        for ci in range(md.num_columns):
            col = rgm.column(ci)
            st = col.statistics
            name = col.path_in_schema
            if "." in name:  # nested leaves: no top-level bound
                continue
            if st is None or not st.has_null_count:
                inexact.add(name)
                continue
            if not st.has_min_max:
                if st.null_count != n_rg:
                    inexact.add(name)
                continue
            lo, hi = st.min, st.max
            if (isinstance(lo, float) and lo != lo) or (
                    isinstance(hi, float) and hi != hi):
                # Spark 4's writer emits NaN min/max for NaN-bearing
                # float row groups; NaN compares False against
                # everything in Python, so a NaN bound silently breaks
                # both min()/max() folding here and the pruning
                # comparisons downstream — omit the column
                inexact.add(name)
                continue
            mins[name] = lo if name not in mins else min(mins[name], lo)
            maxs[name] = hi if name not in maxs else max(maxs[name], hi)
    for name in inexact:
        mins.pop(name, None)
        maxs.pop(name, None)
    return mins, maxs


def hive_partition_values(dir_parts: tuple[str, ...] | list[str]) -> dict:
    """Decode hive partition directory components (``col=value``,
    %XX-escaped, ``__HIVE_DEFAULT_PARTITION__`` = null) into a raw
    string-valued map — the single implementation behind the Delta data
    writer, the CDC writer, and the Iceberg partition-grouped writer
    (they must never diverge on escaping rules)."""
    from urllib.parse import unquote as _unq

    pv: dict[str, Any] = {}
    for comp in dir_parts:
        k, _, v = comp.partition("=")
        pv[k] = None if v == "__HIVE_DEFAULT_PARTITION__" else _unq(v)
    return pv


def emit_data_files(table_path: Path, df: DataFrame, rel_prefix: str,
                    ts: int, data_change: bool,
                    part_cols: list[str] | None = None) -> list[dict]:
    """Write ``df`` as parquet files under ``data/<prefix>-<uuid>/`` of
    ``table_path`` and return their add actions with exactness-guarded
    footer min/max in ``add.stats`` (so `read_delta(filters=)` keeps
    skipping files on the new layout) — the shared writer behind CTAS
    (`write_delta_table`), external append, OPTIMIZE, and the COW DML.

    With ``part_cols``, the write is hive-partitioned (`partitionBy`):
    partition columns leave the data files and land in each add action's
    ``partitionValues`` (decoded from the hive directory names Spark
    writes — the same derivation delta-spark uses). One distributed write
    regardless of how many partitions the rows span; per-partition
    grouping is the shuffle Spark already does."""
    from urllib.parse import quote

    import pyarrow.parquet as pq

    rel_dir = f"data/{rel_prefix}-{uuid.uuid4().hex[:8]}"
    tmp = table_path / f".tmp-{rel_prefix}-{uuid.uuid4().hex}"
    if part_cols:
        df.write.partitionBy(*part_cols).parquet(str(tmp))
        parts = sorted(
            p for p in tmp.rglob("part-*.parquet") if p.is_file())
    else:
        df.write.parquet(str(tmp))
        parts = sorted(tmp.glob("part-*.parquet"))
    (table_path / rel_dir).mkdir(parents=True, exist_ok=True)
    actions: list[dict] = []
    for i, part in enumerate(parts):
        sub = part.relative_to(tmp).parts[:-1]
        pv = hive_partition_values(sub)
        sub_dir = "/".join(sub)
        rel = (f"{rel_dir}/{sub_dir}/part-{i:05d}.parquet"
               if sub_dir else f"{rel_dir}/part-{i:05d}.parquet")
        (table_path / rel).parent.mkdir(parents=True, exist_ok=True)
        os.replace(part, table_path / rel)
        md = pq.ParquetFile(table_path / rel).metadata
        mins, maxs = exact_footer_bounds(md)
        for name in [n for n in mins if not isinstance(
                mins[n], (int, float, str, bool))]:
            mins.pop(name)  # not JSON-encodable in add.stats
            maxs.pop(name, None)
        stats = {"numRecords": md.num_rows}
        if mins:
            stats["minValues"] = mins
            stats["maxValues"] = maxs
        actions.append({"add": {
            "path": quote(rel),
            "partitionValues": pv,
            "size": (table_path / rel).stat().st_size,
            "modificationTime": ts,
            "dataChange": data_change,
            "stats": json.dumps(stats),
        }})
    shutil.rmtree(tmp, ignore_errors=True)
    return actions


def write_delta_table(
    spark: SparkSession,
    df: DataFrame,
    path: str | Path,
    partition_by: list[str] | None = None,
    properties: dict[str, str] | None = None,
) -> "DeltaLogReader":
    """CTAS for the Delta protocol WITHOUT a LakeTable — the
    `df.write.format("delta").partitionBy(...).save(path)` surface
    (02.delta_lake_primer.py write cells): create a brand-new (optionally
    hive-partitioned) Delta table at ``path`` from ``df``. Version 0 is
    one commit of protocol + metaData + adds with exactness-guarded
    footer stats; partition columns leave the data files and live in
    ``partitionValues``. Refuses a path that already holds a Delta log.

    100 TB shape: one distributed `partitionBy` write; driver cost is
    O(files) add actions — exactly what delta-spark's CTAS commits."""
    import time as _time

    path = Path(path)
    log = path / "_delta_log"
    if log.exists() and any(log.iterdir()):
        raise DeltaProtocolError(f"a Delta table already exists at {path}")
    part = list(partition_by or [])
    missing = [c for c in part if c not in df.columns]
    if missing:
        raise ValueError(f"partition_by columns {missing} not in DataFrame")
    log.mkdir(parents=True, exist_ok=True)
    ts = int(_time.time() * 1000)
    actions: list[dict] = [
        {"commitInfo": {
            "timestamp": ts, "operation": "CREATE TABLE AS SELECT",
            "operationParameters": {"partitionBy": json.dumps(part)},
        }},
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {"metaData": {
            "id": str(uuid.uuid4()),
            "format": {"provider": "parquet", "options": {}},
            "schemaString": json.dumps(df.schema.jsonValue()),
            "partitionColumns": part,
            "configuration": dict(properties or {}),
            "createdTime": ts,
        }},
    ]
    actions.extend(
        emit_data_files(path, df, "ctas", ts, True, part or None))
    _write_commit(log / f"{0:020d}.json", actions)
    return DeltaLogReader(spark, path)


def collect_affected(hits: DataFrame, max_files: int) -> list:
    """The rows of a per-file plan (one row per matched file), collected
    with an explicit bound: ``limit(max_files + 1)`` caps what can ever
    reach the driver at the live-file count, and the guard raises once
    the set exceeds it. Impossible for healthy metadata (distinct file
    paths over a scan of N files are at most N), so a breach means a
    log/scan mismatch, and the guard trips before driver memory does.
    The affected-file planning of all three write planes collects
    through it."""
    rows = hits.limit(max_files + 1).collect()
    if len(rows) > max_files:
        raise RuntimeError(
            "matched-file set exceeded the transaction log's "
            f"live-file count ({max_files}): log/scan mismatch"
        )
    return rows


def _is_data(df: DataFrame) -> bool:
    """True when ``df`` is already materialized data: under hints and
    aliases its (cache-substituted) analyzed plan is a local relation,
    a cached relation, or an RDD that has been checkpointed."""
    plan = df._jdf.queryExecution().withCachedData()
    while plan.getClass().getSimpleName() in ("SubqueryAlias", "ResolvedHint"):
        plan = plan.child()
    kind = plan.getClass().getSimpleName()
    return kind in ("LocalRelation", "InMemoryRelation") or (
        kind == "LogicalRDD" and plan.rdd().isCheckpointed())


def release_checkpoint(df: DataFrame) -> None:
    """Drop the blocks of a frame a MERGE ``localCheckpoint()``-ed
    itself; reading it afterwards fails, so never call it on a
    caller's frame."""
    df._jdf.queryExecution().analyzed().rdd().unpersist(True)


@contextmanager
def merge_source(source: DataFrame):
    """The MERGE source, evaluated once. Every leg of a MERGE (affected-
    file pass, rewrite join, insert anti-join, CDF images) reads the
    source again, so a source that is not already data (see `_is_data`)
    is ``localCheckpoint()``-ed, like Delta's ``merge.materializeSource``:
    one evaluation also means every leg sees the same rows, which a
    nondeterministic source would not guarantee. The checkpoint keeps the
    origin plan's statistics, so join strategies do not change. A source
    that is already data passes through untouched, hints included. The
    blocks of a source materialized here are released when the MERGE
    commits or raises."""
    if _is_data(source):
        yield source
        return
    src = source.localCheckpoint()
    try:
        yield src
    finally:
        release_checkpoint(src)


def merge_affected_files(target: DataFrame, src: DataFrame, cond: Column,
                         fp: str, max_files: int, check_dups: bool,
                         err_cls: type[Exception]) -> list[str]:
    """The MERGE planning pass, shared by the three write planes: the
    files of ``target`` (its file path in column ``fp``; aliased ``t``
    here) holding a row that matches the source ``src`` (aliased ``s``)
    on ``cond``, in ONE bounded collect (`collect_affected`, bound
    ``max_files``).

    ``check_dups`` folds the multiple-match check into the same pass: per
    affected file it returns the largest number of source rows matching
    any single target row, and raises ``err_cls`` when that exceeds one
    (an update would depend on join order; Delta raises too). It raises
    before anything is written. Without the check the plan is a left-semi
    join plus distinct."""
    if check_dups:
        hits = (
            target.withColumn("__tid__", F.monotonically_increasing_id())
            .alias("t").join(src, cond, "inner")
            .groupBy(F.col(f"t.{fp}").alias(fp), "__tid__")
            .agg(F.count(F.lit(1)).alias("__n__"))
            .groupBy(fp).agg(F.max("__n__").alias("__n__"))
        )
    else:
        hits = target.alias("t").join(src, cond, "left_semi") \
            .select(fp).distinct()
    rows = collect_affected(hits, max_files)
    if check_dups and any(r["__n__"] > 1 for r in rows):
        raise err_cls(
            "MERGE: multiple source rows matched the same target row with "
            "an update clause; dedupe the source on the merge key first"
        )
    return [r[fp] for r in rows]


def conform(df: DataFrame, schema: StructType) -> DataFrame:
    """Project df to the table schema, cast to its types, nulling absent
    columns."""
    return df.select(
        *[
            F.col(f.name).cast(f.dataType) if f.name in df.columns
            else F.lit(None).cast(f.dataType).alias(f.name)
            for f in schema.fields
        ]
    )


def merge_clauses(t_aff: DataFrame | None, src: DataFrame, cond: Column,
                  schema: StructType,
                  when_matched_update: dict[str, str] | str | None,
                  when_matched_delete: bool | str,
                  when_not_matched_insert: dict[str, str] | str | None,
                  when_not_matched_insert_condition: str | None = None,
                  cdf: bool = False):
    """The MERGE clause semantics, shared by the three write planes:
    what a MERGE writes once planning (`merge_affected_files`) found the
    affected files. ``t_aff`` is the target restricted to those files
    (None when there are none), ``src`` the source aliased ``s``,
    ``schema`` the table schema after any evolution. Returns
    ``(rewritten, inserts, images)``:

    - ``rewritten``: the affected files' new contents (None without
      ``t_aff``). Matched rows are deleted (``when_matched_delete``),
      take the source columns (``when_matched_update="all"``, NULLs
      included: an explicit matched flag, not coalesce) or the SET
      expressions (a dict), cast to the table types; unmatched rows
      carry over verbatim. A STRING
      ``when_matched_delete`` (Delta's whenMatchedDelete(condition=...))
      deletes only the matched rows where it is TRUE over the joined
      ``t``/``s`` pair; the others fall through to the update clause.
    - ``inserts``: source rows matching no target row, gated by
      ``when_not_matched_insert_condition`` (on the source row, TRUE
      only), shaped and cast to the table schema; None without an insert
      clause. Any target row matching a source row lives in an affected
      file, so the anti-join reads ``t_aff`` only — and drops out when
      there is none.
    - ``images``: with ``cdf``, the matched rows' change images as
      ``(frame, change_type)`` pairs. The insert image is the inserts as
      written; each plane adds it after its own shaping.

    ``t_aff`` is widened first, so the columns an evolving MERGE adds
    read NULL on every target row.
    """
    names = schema.names
    t = None
    if t_aff is not None:
        extra = {f.name: F.lit(None).cast(f.dataType)
                 for f in schema.fields if f.name not in t_aff.columns}
        t = (t_aff.withColumns(extra) if extra else t_aff).alias("t")
    # conditional delete: TRUE-only semantics (a NULL condition keeps the
    # row), matching Delta's clause evaluation
    dcond = (F.expr(when_matched_delete).eqNullSafe(F.lit(True))
             if isinstance(when_matched_delete, str) else None)
    marked = src.withColumn("__m__", F.lit(1)).alias("s")
    is_matched = F.col("s.__m__").isNotNull()

    def kept(df: DataFrame) -> DataFrame:
        return df.select(*[F.col(f"t.{c}").alias(c) for c in names])

    # a matched row's new value per updated column; the others keep theirs
    if when_matched_update == "all":
        upd = {c: F.col(f"s.{c}").cast(schema[c].dataType)
               for c in names if c in src.columns}
    else:
        upd = {c: F.expr(when_matched_update[c]).cast(schema[c].dataType)
               for c in names if c in (when_matched_update or {})}

    rewritten = None
    images: list[tuple[DataFrame, str]] = []
    if t is not None:
        if when_matched_delete is True:
            rewritten = kept(t.join(src, cond, "left_anti"))
        elif when_matched_update:
            joined = t.join(marked, cond, "left")
            if dcond is not None:
                # matched rows being deleted drop out before the update;
                # unmatched target rows (s.* NULL) never satisfy it
                joined = joined.where(~(is_matched & dcond))
            rewritten = joined.select(*[
                F.when(is_matched, upd[c]).otherwise(F.col(f"t.{c}")).alias(c)
                if c in upd else F.col(f"t.{c}").alias(c) for c in names])
        elif dcond is not None:
            # delete-only conditional clause: anti-join on cond AND the
            # delete condition — keeps every target row no source row
            # deletes, and (unlike a left join + filter) never duplicates
            # a target row matched by several source rows
            rewritten = kept(t.join(marked, cond & dcond, "left_anti"))
        else:
            rewritten = kept(t)
        if cdf:
            # pre = target rows the source matched; post = those rows with
            # the clause applied
            pre = conform(t.join(src, cond, "left_semi"), schema)
            matched = None
            if dcond is not None:
                # deleted rows = semi-join on cond AND dcond (each once,
                # like the rewrite); the update images cover only the
                # matched-not-deleted rows
                images.append((conform(
                    t.join(marked, cond & dcond, "left_semi"), schema),
                    "delete"))
                if when_matched_update:
                    matched = t.join(marked, cond, "inner").where(~dcond)
                    pre = kept(matched)
            elif when_matched_delete:
                images.append((pre, "delete"))
            elif when_matched_update:
                matched = t.join(src, cond, "inner")
            if matched is not None:
                images += [(pre, "update_preimage"),
                           (matched.select(*[
                               upd.get(c, F.col(f"t.{c}")).alias(c)
                               for c in names]), "update_postimage")]

    inserts = None
    if when_not_matched_insert:
        unmatched = src if t is None else src.join(t, cond, "left_anti")
        if when_not_matched_insert_condition:
            unmatched = unmatched.where(
                F.expr(when_not_matched_insert_condition)
                .eqNullSafe(F.lit(True)))
        if when_not_matched_insert == "all":
            inserts = conform(unmatched, schema)
        else:
            inserts = unmatched.select(*[
                F.expr(when_not_matched_insert[c]).cast(schema[c].dataType)
                .alias(c) if c in when_not_matched_insert
                else F.lit(None).cast(schema[c].dataType).alias(c)
                for c in names])
    return rewritten, inserts, images


def merge_insert_required_check(fields, source_cols,
                                when_not_matched_insert, err_cls,
                                computed: set[str] | None = None) -> None:
    """ADVICE r12: WHEN NOT MATCHED INSERT fills table columns absent
    from the clause with NULL — on a non-nullable (required) column that
    null is schema-invalid and other engines reject the files. Mirror
    append()'s required-column refusal: every non-nullable table column
    must be covered by the source (INSERT *) or an insert SET
    expression. ``computed`` columns (generated / identity — the writer
    computes or allocates them) are always covered. Shared by the Delta
    and Iceberg external MERGE."""
    covered = (set(source_cols) if when_not_matched_insert == "all"
               else set(when_not_matched_insert)) | (computed or set())
    missing = [f.name for f in fields
               if not f.nullable and f.name not in covered]
    if missing:
        raise err_cls(
            f"MERGE WHEN NOT MATCHED INSERT leaves required (non-null) "
            f"column(s) {missing} unset — cover them in the source or "
            "the insert SET clause"
        )


def generated_columns(schema: StructType) -> dict[str, str]:
    """name -> generation expression (the `delta.generationExpression`
    schema field metadata; PROTOCOL.md "Writer Requirements for
    Generated Columns"). The expression is Spark SQL over the row's
    other columns — evaluated with F.expr, never per-row Python."""
    out: dict[str, str] = {}
    for f in schema.fields:
        expr = (f.metadata or {}).get("delta.generationExpression")
        if expr:
            out[f.name] = expr
    return out


def identity_columns(schema: StructType) -> dict[str, dict]:
    """name -> {start, step, hwm, allow} from the `delta.identity.*`
    schema field metadata (PROTOCOL.md "Identity Columns"). ``hwm`` is
    None on a table that never allocated."""
    out: dict[str, dict] = {}
    for f in schema.fields:
        md = f.metadata or {}
        if any(k.startswith("delta.identity.") for k in md):
            hwm = md.get("delta.identity.highWaterMark")
            out[f.name] = {
                "start": int(md.get("delta.identity.start", 1)),
                "step": int(md.get("delta.identity.step", 1) or 1),
                "hwm": int(hwm) if hwm is not None else None,
                "allow": bool(md.get(
                    "delta.identity.allowExplicitInsert", False)),
            }
    return out


def allocate_identity(df: DataFrame, name: str, start: int, step: int,
                      hwm: int | None) -> tuple[DataFrame, int]:
    """Assign identity values ``base + step*k`` (base = hwm+step, or
    start on a fresh table) to every row of ``df``, returning the frame
    with the column filled and the NEW high watermark.

    100 TB shape: no global ordering shuffle — the frame is pinned
    (localCheckpoint), per-partition counts collect driver-side
    (O(partitions) rows), and a mapInPandas pass assigns each
    partition's contiguous block from its precomputed offset. Delta's
    own writer allocates per-task ranges the same way."""
    base = start if hwm is None else hwm + step
    df = df.localCheckpoint()  # pin partitioning: both passes agree
    dfp = df.withColumn("__lh_pid", F.spark_partition_id())
    counts = {int(r["__lh_pid"]): int(r["n"]) for r in
              dfp.groupBy("__lh_pid").agg(
                  F.count(F.lit(1)).alias("n")).collect()}
    offs: dict[int, int] = {}
    acc = 0
    for p in sorted(counts):
        offs[p] = acc
        acc += counts[p]
    if acc == 0:
        return df, (hwm if hwm is not None else start - step)
    out_schema = dfp.schema

    def assign(batches):
        import pandas as _pd

        used = 0
        part_off: int | None = None
        for pdf in batches:
            if len(pdf):
                if part_off is None:
                    part_off = offs[int(pdf["__lh_pid"].iloc[0])]
                vals = [base + step * (part_off + used + j)
                        for j in range(len(pdf))]
                used += len(pdf)
                pdf = pdf.copy()
                pdf[name] = _pd.Series(vals, dtype="int64",
                                       index=pdf.index)
            yield pdf

    out = dfp.mapInPandas(assign, out_schema).drop("__lh_pid")
    return out, base + step * (acc - 1)


def bump_identity_metadata(metadata: dict,
                           new_hwms: dict[str, int]) -> dict:
    """A metaData action payload with `delta.identity.highWaterMark`
    updated for the named columns — committed in the SAME version as
    the data it covers, per the protocol."""
    schema_json = json.loads(metadata["schemaString"])
    for f in schema_json.get("fields", []):
        if f["name"] in new_hwms:
            md = dict(f.get("metadata") or {})
            md["delta.identity.highWaterMark"] = new_hwms[f["name"]]
            f["metadata"] = md
    return {**metadata, "schemaString": json.dumps(schema_json)}


ROW_TRACKING_DOMAIN = "delta.rowTracking"


def row_tracking_active(snap) -> bool:
    """PROTOCOL.md "Row Tracking": active when the writer feature is
    declared or delta.enableRowTracking is set."""
    feats = snap.protocol.get("writerFeatures") or []
    return "rowTracking" in feats or snap.configuration.get(
        "delta.enableRowTracking") == "true"


def row_id_high_watermark(snap) -> int:
    """Highest assigned fresh row id (-1 when none), from the
    `delta.rowTracking` domain metadata."""
    cfg = snap.domains.get(ROW_TRACKING_DOMAIN)
    if not cfg:
        return -1
    try:
        return int(json.loads(cfg).get("rowIdHighWaterMark", -1))
    except (ValueError, TypeError):
        return -1


def stamp_row_ids(snap, actions: list[dict], new_version: int,
                  ) -> dict | None:
    """Assign fresh `baseRowId`/`defaultRowCommitVersion` to every add
    action in ``actions`` (PROTOCOL.md: base ids are disjoint ranges
    sized by the file's numRecords) and return the domainMetadata
    action carrying the bumped high watermark — or None when row
    tracking is inactive. The domain action MUST ride the same
    commit."""
    if not row_tracking_active(snap):
        return None
    hwm = row_id_high_watermark(snap)
    nxt = hwm + 1
    for act in actions:
        a = act.get("add")
        if a is None:
            continue
        stats = a.get("stats")
        n = json.loads(stats).get("numRecords") if stats else None
        if n is None:
            raise DeltaProtocolError(
                "row tracking needs numRecords in add.stats to size "
                "the fresh row-id range"
            )
        a["baseRowId"] = nxt
        a["defaultRowCommitVersion"] = new_version
        nxt += int(n)
    if nxt == hwm + 1:
        return None  # no adds
    return {"domainMetadata": {
        "domain": ROW_TRACKING_DOMAIN,
        "configuration": json.dumps({"rowIdHighWaterMark": nxt - 1}),
        "removed": False,
    }}


def split_top_level_and(s: str) -> list[str]:
    """Split a SQL boolean expression on its TOP-LEVEL ``AND``s —
    quote-aware (single/double quotes with backslash escapes,
    backticks) and paren-depth-0 only, so an AND inside a string
    literal, an identifier, or a parenthesized OR is data. Used for
    sound candidate pruning (r12): a row matching the whole predicate
    satisfies every top-level conjunct, so intersecting per-conjunct
    candidate supersets stays a superset of the truly-affected files.
    A top-level ``OR`` defeats that reading entirely — AND binds
    tighter, so ``a AND b OR c`` is ``(a AND b) OR c`` and ``a`` is NOT
    a required conjunct (r12 review) — the expression then returns
    whole, unsplit."""
    parts: list[str] = []
    depth, i, start, n = 0, 0, 0, len(s)
    quote: str | None = None

    def _kw(idx: int, kw: str) -> bool:
        if s[idx:idx + len(kw)].upper() != kw:
            return False
        before = s[idx - 1] if idx else " "
        after = s[idx + len(kw)] if idx + len(kw) < n else " "
        return not (before.isalnum() or before == "_") and \
            not (after.isalnum() or after == "_")

    while i < n:
        c = s[i]
        if quote:
            if c == "\\":  # backslash-escaped char inside a literal
                i += 2
                continue
            if c == quote:
                quote = None
        elif c in ("'", '"', "`"):
            quote = c
        elif c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        elif depth == 0 and _kw(i, "OR"):
            return [s.strip()]  # disjunction at top level: no conjuncts
        elif depth == 0 and _kw(i, "AND"):
            parts.append(s[start:i].strip())
            start = i + 3
            i += 3
            continue
        i += 1
    parts.append(s[start:].strip())
    return [p for p in parts if p]


def conjunct_candidates(hits_fn, pred, predicate_sql: str | None):
    """Shared candidate-pruning rule (r12 review: ONE implementation of
    the soundness argument). ``hits_fn(expr) -> set | None`` evaluates
    an expression against the driver-side tuple/domain frame, returning
    the matching candidate keys or None when the expression references
    columns the frame doesn't carry. Whole-predicate evaluation is
    EXACT when it succeeds; otherwise the predicate's top-level AND
    conjuncts (none exist under a top-level OR) each constrain the
    candidate set — a matching row satisfies every conjunct, so the
    intersection of the evaluable conjuncts' hits stays a sound
    superset. Returns (hits, exact): hits None = no constraint at all
    (caller scans everything)."""
    hit = hits_fn(pred)
    if hit is not None:
        return hit, True
    parts = split_top_level_and(predicate_sql) if predicate_sql else []
    # a single part is the whole predicate re-tried in its SQL-string
    # form: needed by hits_fns that evaluate strings only (the
    # bucket/truncate literal mapper), harmless for frame-based ones
    # (same analysis outcome as the Column probe above). Never exact —
    # string-form hits are conjunct-grade supersets.
    if not parts:
        return None, False
    acc = None
    for p in parts:
        h = hits_fn(p)
        if h is not None:
            acc = h if acc is None else acc & h
    return acc, False


@contextmanager
def _quiet_analysis_probe():
    """Suppress PySpark's SQLQueryContextLogger for the duration of an
    EXPECTED-to-maybe-fail analysis (the partition-only planning probe):
    the AnalysisException is the probe's answer, not an error, and the
    logger would otherwise print a full stack per fallback."""
    import logging

    lg = logging.getLogger("SQLQueryContextLogger")
    prev = lg.level
    lg.setLevel(logging.CRITICAL)
    try:
        yield
    finally:
        lg.setLevel(prev)


def fs_path_col() -> Column:
    """``_metadata.file_path`` normalized to the raw local filesystem path.

    Spark reports the column as a URI: the scheme prefix is present and the
    path component is percent-encoded (a space on disk arrives as ``%20``, a
    literal ``%`` as ``%25``). Map-side join keys built from resolved
    ``Path`` objects are raw, so both the partition-value map join and the
    DV/position-delete anti-joins must decode this side first — otherwise a
    data file with a space in its path silently matches nothing (0 rows) or
    resurrects deleted rows (ADVICE r7). ``url_decode`` is form-decoding
    ('+' → space), so a literal '+' is pre-escaped to ``%2B`` to get pure
    percent-decoding."""
    fp = F.regexp_replace(
        F.col("_metadata.file_path"), r"^[a-zA-Z][\w+.-]*:/+", "/"
    )
    return F.url_decode(F.regexp_replace(fp, r"\+", "%2B"))


def _metadata_action(
    table_id: str,
    created_time: int,
    schema_json: str | None,
    partition_by: list[str],
    mapping: dict[str, str],
    constraints: dict[str, str],
    properties: dict[str, str],
    enable_mapping: bool,
    field_id,
) -> dict[str, Any]:
    schema = json.loads(schema_json) if schema_json else {"type": "struct", "fields": []}
    configuration: dict[str, str] = {}
    if enable_mapping:
        # column mapping (mode=name): every field carries its id + physical
        # name in metadata; files always store physical names.
        for f in schema.get("fields", []):
            phys = mapping.get(f["name"], f["name"])
            f.setdefault("metadata", {})
            f["metadata"]["delta.columnMapping.id"] = field_id(phys)
            f["metadata"]["delta.columnMapping.physicalName"] = phys
        configuration["delta.columnMapping.mode"] = "name"
        # maxColumnId is monotonic per the protocol (it guards id reuse):
        # the max id EVER assigned, not the max among surviving fields —
        # dropping the highest-id column must not lower it.
        configuration["delta.columnMapping.maxColumnId"] = str(field_id.max_id())
    for name, expr in sorted(constraints.items()):
        configuration[f"delta.constraints.{name}"] = expr
    configuration.update(properties)
    if partition_by:
        # LakeTable clusters (range-partitions) instead of hive-partitioning,
        # so Delta partitionColumns stays [] — record the cluster key as
        # informational configuration (the pruning lives in per-file stats).
        configuration["lakehouses.clusterBy"] = json.dumps(partition_by)
    return {
        "id": table_id,
        "format": {"provider": "parquet", "options": {}},
        "schemaString": json.dumps(schema),
        "partitionColumns": [],
        "configuration": configuration,
        "createdTime": created_time,
    }


def _delta_stats(add: dict) -> dict[str, Any]:
    """LakeTable per-file stats → Delta stats struct (numRecords +
    min/maxValues; keys are physical column names in both logs)."""
    out: dict[str, Any] = {"numRecords": add.get("num_records") or 0}
    mins, maxs = {}, {}
    for col, s in (add.get("stats") or {}).items():
        if s.get("min") is not None:
            mins[col] = s["min"]
        if s.get("max") is not None:
            maxs[col] = s["max"]
    if mins:
        out["minValues"] = mins
    if maxs:
        out["maxValues"] = maxs
    return out


def _write_commit(path: Path, actions: list[dict]) -> None:
    tmp = path.parent / f".tmp-{uuid.uuid4().hex}"
    with open(tmp, "w") as fh:
        for a in actions:
            fh.write(json.dumps(a, separators=(",", ":")) + "\n")
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, path)


_CHECKPOINT_SCHEMA = (
    "txn struct<appId:string,version:bigint,lastUpdated:bigint>, "
    "add struct<path:string,partitionValues:map<string,string>,size:bigint,"
    "modificationTime:bigint,dataChange:boolean,stats:string,"
    "baseRowId:bigint,defaultRowCommitVersion:bigint,"
    "deletionVector:struct<storageType:string,pathOrInlineDv:string,"
    "offset:int,sizeInBytes:int,cardinality:bigint>>, "
    "remove struct<path:string,deletionTimestamp:bigint,dataChange:boolean>, "
    "metaData struct<id:string,name:string,description:string,"
    "format:struct<provider:string,options:map<string,string>>,"
    "schemaString:string,partitionColumns:array<string>,"
    "configuration:map<string,string>,createdTime:bigint>, "
    "protocol struct<minReaderVersion:int,minWriterVersion:int,"
    "readerFeatures:array<string>,writerFeatures:array<string>>, "
    "domainMetadata struct<domain:string,configuration:string,"
    "removed:boolean>"
)


def _write_checkpoint_parquet(
    spark: SparkSession,
    log_dest: Path,
    version: int,
    protocol: dict,
    metadata: dict,
    adds: list[dict],
    txns: dict[str, tuple[int, int]] | None = None,
    removes: list[dict] | None = None,
    domains: dict[str, str] | None = None,
) -> None:
    """Classic single-file parquet checkpoint + `_last_checkpoint` pointer
    (01.parquet_primer.py:386): one row per reconciled action — protocol,
    metaData, every live add (dataChange=false per the protocol), the
    surviving txn watermarks (idempotent writers stay exactly-once after
    log truncation), and the net remove TOMBSTONES (PROTOCOL.md keeps
    unexpired removes in checkpoints so VACUUM retention survives log
    cleanup — without them, retention silently degrades to file mtime,
    which exports deliberately preserve from the source files)."""
    rows: list[tuple] = [
        (None, None, None, None,
         (protocol["minReaderVersion"], protocol["minWriterVersion"],
          protocol.get("readerFeatures"), protocol.get("writerFeatures")),
         None),
        (
            None, None, None,
            (
                metadata["id"], None, None,
                (metadata["format"]["provider"], metadata["format"]["options"]),
                metadata["schemaString"], metadata["partitionColumns"],
                metadata["configuration"], metadata["createdTime"],
            ),
            None, None,
        ),
    ]
    # live domainMetadata actions survive the checkpoint (PROTOCOL.md
    # "Domain Metadata": checkpoints must preserve them or the domains
    # vanish once the JSON log is cleaned)
    for dom, cfg in sorted((domains or {}).items()):
        rows.append((None, None, None, None, None, (dom, cfg, False)))
    for app, (v, ts) in sorted((txns or {}).items()):
        rows.append(((app, v, ts), None, None, None, None, None))
    for r in sorted(removes or [], key=lambda r: r["path"]):
        rows.append((
            None, None,
            (r["path"], r.get("deletionTimestamp"), False),
            None, None, None,
        ))
    for a in adds:
        dv = a.get("deletionVector")
        rows.append(
            (
                None,
                (a["path"], a["partitionValues"], a["size"],
                 a["modificationTime"], False, a.get("stats"),
                 a.get("baseRowId"), a.get("defaultRowCommitVersion"),
                 (dv["storageType"], dv["pathOrInlineDv"], dv.get("offset"),
                  dv["sizeInBytes"], dv["cardinality"]) if dv else None),
                None, None, None, None,
            )
        )
    n_parts = max(1, -(-len(rows) // CHECKPOINT_PART_ACTIONS))
    tmp = log_dest / f".tmp-ckpt-{uuid.uuid4().hex}"
    if n_parts == 1:
        spark.createDataFrame(rows, _CHECKPOINT_SCHEMA).coalesce(1) \
            .write.parquet(str(tmp))
        part = next(tmp.glob("part-*.parquet"))
        os.replace(part, log_dest / f"{version:020d}.checkpoint.parquet")
    else:
        # classic MULTI-PART checkpoint (PROTOCOL.md "Checkpoints"): what
        # real writers emit past ~50k actions so no single parquet file
        # holds the whole table state; the reader reconciles all parts as
        # one scan and refuses incomplete sets
        for k in range(n_parts):
            chunk = rows[k * CHECKPOINT_PART_ACTIONS:
                         (k + 1) * CHECKPOINT_PART_ACTIONS]
            spark.createDataFrame(chunk, _CHECKPOINT_SCHEMA).coalesce(1) \
                .write.mode("overwrite").parquet(str(tmp))
            part = next(tmp.glob("part-*.parquet"))
            os.replace(
                part,
                log_dest
                / f"{version:020d}.checkpoint.{k + 1:010d}.{n_parts:010d}.parquet",
            )
    shutil.rmtree(tmp)
    with open(log_dest / "_last_checkpoint", "w") as fh:
        payload = {"version": version, "size": len(rows)}
        if n_parts > 1:
            payload["parts"] = n_parts
        json.dump(payload, fh)


_SIDECAR_SCHEMA = (
    "add struct<path:string,partitionValues:map<string,string>,size:bigint,"
    "modificationTime:bigint,dataChange:boolean,stats:string,"
    "baseRowId:bigint,defaultRowCommitVersion:bigint,"
    "deletionVector:struct<storageType:string,pathOrInlineDv:string,"
    "offset:int,sizeInBytes:int,cardinality:bigint>>, "
    "remove struct<path:string,deletionTimestamp:bigint,dataChange:boolean>"
)


def _write_checkpoint_v2(
    spark: SparkSession,
    log_dest: Path,
    version: int,
    protocol: dict,
    metadata: dict,
    adds: list[dict],
    txns: dict[str, tuple[int, int]] | None = None,
    removes: list[dict] | None = None,
    domains: dict[str, str] | None = None,
) -> None:
    """V2 checkpoint (PROTOCOL.md "V2 Checkpoint Table Feature"): a
    UUID-named top-level `<v>.checkpoint.<uuid>.json` holding
    checkpointMetadata + protocol/metaData/txn plus `sidecar` pointers,
    with the add actions chunked into `_delta_log/_sidecars/<uuid>.parquet`
    files — the layout modern Delta writers emit so the (small) non-file
    state and the (huge) file manifest scale independently. The reader
    already consumes this shape; this writer closes the write half.

    100 TB shape: sidecars are parquet chunks of CHECKPOINT_PART_ACTIONS
    adds each — a million-file table checkpoints as ~20 independent
    sidecars that readers can fan out across executors, while the
    top-level file stays O(sidecar count)."""
    sidecar_dir = log_dest / "_sidecars"
    sidecar_dir.mkdir(parents=True, exist_ok=True)
    add_rows: list[tuple] = []
    for r in sorted(removes or [], key=lambda r: r["path"]):
        # net remove tombstones live in the sidecars with the other file
        # actions (v2 spec) so VACUUM retention survives log cleanup
        add_rows.append(
            (None, (r["path"], r.get("deletionTimestamp"), False)))
    for a in adds:
        dv = a.get("deletionVector")
        add_rows.append((
            (a["path"], a["partitionValues"], a["size"],
             a["modificationTime"], False, a.get("stats"),
             a.get("baseRowId"), a.get("defaultRowCommitVersion"),
             (dv["storageType"], dv["pathOrInlineDv"], dv.get("offset"),
              dv["sizeInBytes"], dv["cardinality"]) if dv else None),
            None,
        ))
    n_parts = max(1, -(-len(add_rows) // CHECKPOINT_PART_ACTIONS))
    tmp = log_dest / f".tmp-ckpt-{uuid.uuid4().hex}"
    sidecars: list[dict] = []
    for k in range(n_parts):
        chunk = add_rows[k * CHECKPOINT_PART_ACTIONS:
                         (k + 1) * CHECKPOINT_PART_ACTIONS]
        spark.createDataFrame(chunk, _SIDECAR_SCHEMA).coalesce(1) \
            .write.mode("overwrite").parquet(str(tmp))
        part = next(tmp.glob("part-*.parquet"))
        name = f"{uuid.uuid4()}.parquet"
        os.replace(part, sidecar_dir / name)
        st = (sidecar_dir / name).stat()
        sidecars.append({
            "path": name,
            "sizeInBytes": st.st_size,
            "modificationTime": int(st.st_mtime * 1000),
        })
    shutil.rmtree(tmp, ignore_errors=True)
    lines: list[dict] = [
        {"checkpointMetadata": {"version": version}},
        {"protocol": protocol},
        {"metaData": metadata},
    ]
    for app, (v, ts) in sorted((txns or {}).items()):
        lines.append({"txn": {"appId": app, "version": v, "lastUpdated": ts}})
    # live domainMetadata rides the top-level file (non-file state)
    for dom, cfg in sorted((domains or {}).items()):
        lines.append({"domainMetadata": {
            "domain": dom, "configuration": cfg, "removed": False}})
    lines.extend({"sidecar": sc} for sc in sidecars)
    top = log_dest / f"{version:020d}.checkpoint.{uuid.uuid4()}.json"
    with open(top, "w") as fh:
        for line in lines:
            fh.write(json.dumps(line) + "\n")
    with open(log_dest / "_last_checkpoint", "w") as fh:
        json.dump({"version": version, "size": len(lines) + len(add_rows)}, fh)


# --------------------------------------------------------------------------- #
# reader
# --------------------------------------------------------------------------- #
class DeltaSnapshot:
    def __init__(self, version: int, files: dict[str, dict], metadata: dict,
                 protocol: dict, txns: dict[str, int],
                 domains: dict[str, str] | None = None):
        self.version = version
        self.files = files  # path -> add action
        self.metadata = metadata
        self.protocol = protocol
        self.txns = txns
        # domain -> configuration JSON string (PROTOCOL.md "Domain
        # Metadata"; live = not removed)
        self.domains = domains or {}

    @property
    def schema(self) -> StructType:
        return StructType.fromJson(json.loads(self.metadata["schemaString"]))

    @property
    def partition_columns(self) -> list[str]:
        return list(self.metadata.get("partitionColumns") or [])

    @property
    def configuration(self) -> dict[str, str]:
        return dict(self.metadata.get("configuration") or {})

    @property
    def num_records(self) -> int:
        total = 0
        for a in self.files.values():
            stats = a.get("stats")
            if not stats:
                return -1  # unknown: some file lacks stats
            total += json.loads(stats).get("numRecords", 0)
            dv = a.get("deletionVector")
            if dv:
                total -= dv.get("cardinality") or 0
        return total


# above this many add actions in one checkpoint/sidecar read, per-file
# payloads are pruned JVM-side before reaching the driver (full stats
# strings stay in the executors); below it, full-fidelity collect keeps
# min/max stats available to convert_from_delta
PRUNED_REPLAY_FILE_THRESHOLD = 50_000
# checkpoints with more actions than this are written as classic
# multi-part sets (<v>.checkpoint.<k>.<n>.parquet) like real Delta writers
CHECKPOINT_PART_ACTIONS = 50_000
# above this many TOTAL BYTES of commit JSON in a replay tail, the
# add/remove reconciliation moves to a DataFrame (last-add-wins window +
# remove anti-join) instead of a Python loop over every action — a
# pathological log (100k small commits, no checkpoint) otherwise bypasses
# the pruned-checkpoint path entirely. Bytes, not actions: counting
# actions first would require reading everything in Python, the exact
# thing being avoided (~8 MiB ≈ the same 50k-action scale).
JSON_TAIL_DATAFRAME_BYTES = 8 * 2**20

# explicit action schema for the DataFrame JSON-tail replay (inference
# over 100k files would itself be a full extra pass)
_COMMIT_JSON_SCHEMA = (
    "add struct<path:string,partitionValues:map<string,string>,size:bigint,"
    "modificationTime:bigint,dataChange:boolean,stats:string,"
    "baseRowId:bigint,defaultRowCommitVersion:bigint,"
    "deletionVector:struct<storageType:string,pathOrInlineDv:string,"
    "offset:int,sizeInBytes:int,cardinality:bigint>>,"
    "remove struct<path:string>,"
    "metaData struct<id:string,name:string,description:string,"
    "format:struct<provider:string,options:map<string,string>>,"
    "schemaString:string,partitionColumns:array<string>,"
    "configuration:map<string,string>,createdTime:bigint>,"
    "protocol struct<minReaderVersion:int,minWriterVersion:int,"
    "readerFeatures:array<string>,writerFeatures:array<string>>,"
    "txn struct<appId:string,version:bigint,lastUpdated:bigint>,"
    "domainMetadata struct<domain:string,configuration:string,"
    "removed:boolean>"
)


class DeltaLogReader:
    """Independent Delta-protocol log reader (stdlib JSON replay; the
    checkpoint fallback and data load use plain parquet scans)."""

    def __init__(self, spark: SparkSession, path: str | Path):
        self.spark = spark
        self.path = Path(path)
        self.log = self.path / DELTA_LOG_DIR
        if not self.log.is_dir():
            raise FileNotFoundError(f"not a delta table (no {DELTA_LOG_DIR}): {path}")
        # pruned-replay provenance: marker key -> {"format", "paths"} of the
        # checkpoint parquet / commit-JSON source, so to_df(filters=) can
        # lazily re-project min/max bounds for just the filter columns
        # (stats strings otherwise never reach Python)
        self._pruned_stats_sources: dict[str, dict] = {}

    # -- log plumbing ---------------------------------------------------- #
    def versions(self) -> list[int]:
        return sorted(
            int(f.stem) for f in self.log.glob("*.json")
            if f.stem.isdigit() and len(f.stem) == 20
        )

    def _multipart_sets(self) -> dict[int, tuple[list[Path], list[int]]]:
        """Classic multi-part checkpoints
        (`<v>.checkpoint.<part>.<of>.parquet`, 5 name segments, 1-based
        part numbers): version → (present parts sorted by part number,
        missing part numbers). A set with missing parts must never be
        replayed — each part holds a disjoint slice of the file actions,
        so a partial read would silently drop live files."""
        found: dict[int, dict[int, Path]] = {}
        of: dict[int, int] = {}
        for f in self.log.glob("*.checkpoint.*.*.parquet"):
            segs = f.name.split(".")
            if len(segs) != 5 or not all(
                s.isdigit() for s in (segs[0], segs[2], segs[3])
            ):
                continue
            v, k, n = int(segs[0]), int(segs[2]), int(segs[3])
            found.setdefault(v, {})[k] = f
            of[v] = max(of.get(v, 0), n)
        return {
            v: (
                [parts[k] for k in sorted(parts)],
                [k for k in range(1, of[v] + 1) if k not in parts],
            )
            for v, parts in found.items()
        }

    def _checkpoint_versions(self) -> list[int]:
        """Versions with a readable checkpoint: classic single-file
        (`<v>.checkpoint.parquet`), classic multi-part with EVERY part
        present, or v2 (`<v>.checkpoint.<uuid>.json|parquet` + sidecars).
        Incomplete multi-part sets are excluded here (unusable) and called
        out loudly by snapshot() when they were the only recovery point."""
        out = {
            int(f.name.split(".")[0])
            for f in self.log.glob("*.checkpoint.parquet")
        }
        for f in list(self.log.glob("*.checkpoint.*.parquet")) + list(
            self.log.glob("*.checkpoint.*.json")
        ):
            parts = f.name.split(".")
            if len(parts) == 4 and parts[0].isdigit():
                out.add(int(parts[0]))
        for v, (_, missing) in self._multipart_sets().items():
            if not missing:
                out.add(v)
        return sorted(out)

    def _commit_actions(self, version: int) -> list[dict]:
        with open(self.log / f"{version:020d}.json") as fh:
            return [json.loads(line) for line in fh if line.strip()]

    def _parquet_actions(self, *paths: Path) -> list[dict]:
        """Checkpoint/sidecar parquet → action dicts. Multi-part checkpoints
        read as ONE scan over all parts. Past PRUNED_REPLAY_FILE_THRESHOLD
        add actions, per-file payloads are PRUNED JVM-SIDE before the
        collect — only path / partitionValues / size / deletionVector plus a
        `get_json_object`-extracted numRecords reach the driver, never the
        full stats strings — so a 100×-scale table (millions of files, KBs
        of stats each) reconstructs without a driver-memory cliff. The
        driver still holds the (narrow) live-file list: Spark's own scan
        API takes a driver-side path list, exactly like delta-core's
        FileIndex."""
        df = self.spark.read.parquet(*[str(p) for p in paths])
        cols = set(df.columns)
        n_adds = (
            df.where(F.col("add").isNotNull()).count() if "add" in cols else 0
        )
        if n_adds > PRUNED_REPLAY_FILE_THRESHOLD:
            src_key = uuid.uuid4().hex
            self._pruned_stats_sources[src_key] = {
                "format": "parquet", "paths": [str(p) for p in paths],
            }
            return self._pruned_parquet_actions(df, src_key)
        rows = df.collect()
        actions: list[dict] = []
        for r in rows:
            d = r.asDict(recursive=True)
            for kind in ("protocol", "metaData", "add", "remove", "txn",
                         "sidecar", "domainMetadata"):
                if d.get(kind) is not None:
                    actions.append({kind: d[kind]})
        return actions

    def _pruned_parquet_actions(self, df: DataFrame, src_key: str) -> list[dict]:
        cols = set(df.columns)
        actions: list[dict] = []
        # non-file actions (protocol/metaData/txn/sidecar/checkpointMetadata)
        # are O(1) per checkpoint — collect them in full
        other = df.where(F.col("add").isNull())
        if "remove" in cols:
            other = other.where(F.col("remove").isNull())
        for r in other.collect():
            d = r.asDict(recursive=True)
            for kind in ("protocol", "metaData", "txn", "sidecar",
                         "domainMetadata"):
                if d.get(kind) is not None:
                    actions.append({kind: d[kind]})
        # removes: replay only needs the path (expired tombstones pop keys)
        if "remove" in cols:
            for r in (
                df.where(F.col("remove").isNotNull())
                .select(F.col("remove.path").alias("p")).collect()
            ):
                actions.append({"remove": {"path": r.p}})
        add_fields = {f.name for f in df.schema["add"].dataType.fields}
        sel = [F.col("add.path").alias("path")]
        narrow = [
            f for f in ("partitionValues", "size", "modificationTime",
                        "dataChange", "baseRowId",
                        "defaultRowCommitVersion", "deletionVector")
            if f in add_fields
        ]
        sel += [F.col(f"add.{f}").alias(f) for f in narrow]
        if "stats" in add_fields:
            sel.append(
                F.get_json_object(F.col("add.stats"), "$.numRecords")
                .cast("long").alias("__nr")
            )
        for r in df.where(F.col("add").isNotNull()).select(*sel).toLocalIterator():
            d = r.asDict(recursive=True)
            nr = d.pop("__nr", None)
            if nr is not None:
                d["stats"] = json.dumps({"numRecords": nr})
            # provenance marker: to_df(filters=) re-projects min/max bounds
            # for the filter columns from this source on demand, so stats
            # skipping survives the pruned replay (VERDICT r8 #2)
            d["__statsPruned"] = src_key
            actions.append({"add": d})
        return actions

    def _lazy_minmax(
        self, src_keys: set[str], fields: list[tuple[str, Any]]
    ) -> dict[str, dict]:
        """min/max bounds for specific PHYSICAL columns, re-projected from
        pruned-replay checkpoint parquet(s) — one JVM-side `from_json` with
        a schema narrowed to the filter columns, so the driver receives a
        few typed scalars per file, never the full stats strings. Returns
        {add path: {"minValues": {...}, "maxValues": {...}}}."""
        bounds = StructType([StructField(p, t, True) for p, t in fields])
        stats_schema = StructType([
            StructField("minValues", bounds, True),
            StructField("maxValues", bounds, True),
        ])
        out: dict[str, dict] = {}
        for key in sorted(src_keys):
            src = self._pruned_stats_sources.get(key)
            if not src:
                continue
            paths = src["paths"]
            if src["format"] == "json":
                # a commit tail may re-add one path in several commits
                # (RESTORE / DV re-adds) — keep the LATEST commit's stats
                from pyspark.sql.window import Window

                df = (
                    self.spark.read.schema(
                        "add struct<path:string,stats:string>"
                    )
                    .json(paths)
                    .where(F.col("add").isNotNull())
                    .withColumn(
                        "__v",
                        F.regexp_extract(
                            F.col("_metadata.file_path"),
                            r"(\d{20})\.json$", 1,
                        ).cast("long"),
                    )
                    .withColumn(
                        "__rn",
                        F.row_number().over(
                            Window.partitionBy("add.path")
                            .orderBy(F.col("__v").desc())
                        ),
                    )
                    .where(F.col("__rn") == 1)
                )
            else:
                df = self.spark.read.parquet(*paths)
            if "add" not in df.columns:
                continue
            add_fields = {f.name for f in df.schema["add"].dataType.fields}
            if "stats" not in add_fields:
                continue
            it = (
                df.where(F.col("add").isNotNull())
                .select(
                    F.col("add.path").alias("p"),
                    F.from_json(F.col("add.stats"), stats_schema).alias("s"),
                )
                .toLocalIterator()
            )
            for r in it:
                d = r.asDict(recursive=True)
                s = d["s"] or {}
                # files dicts are keyed by the DECODED path (apply()
                # unquotes action paths once at replay)
                out[unquote(d["p"])] = {
                    "minValues": {
                        k: v for k, v in (s.get("minValues") or {}).items()
                        if v is not None
                    },
                    "maxValues": {
                        k: v for k, v in (s.get("maxValues") or {}).items()
                        if v is not None
                    },
                }
        return out

    def _checkpoint_actions(self, version: int) -> list[dict]:
        """Resolved file+table actions of the checkpoint at `version` —
        classic parquet, or v2 (PROTOCOL.md "V2 Checkpoint Table Feature"):
        a top-level `<v>.checkpoint.<uuid>.json|parquet` holding the
        non-file actions plus `sidecar` pointers into
        `_delta_log/_sidecars/*.parquet`, which carry the add/remove set.
        Sidecar actions are resolved HERE, so replay only ever sees plain
        Delta actions."""
        classic = self.log / f"{version:020d}.checkpoint.parquet"
        if classic.exists():
            return self._parquet_actions(classic)
        mp = self._multipart_sets().get(version)
        if mp is not None:
            parts, missing = mp
            if missing:
                raise DeltaProtocolError(
                    f"multi-part checkpoint at version {version} is "
                    f"incomplete: missing part(s) {missing} of "
                    f"{len(parts) + len(missing)}"
                )
            return self._parquet_actions(*parts)
        tops = [
            f for pat in (f"{version:020d}.checkpoint.*.json",
                          f"{version:020d}.checkpoint.*.parquet")
            for f in self.log.glob(pat)
            if len(f.name.split(".")) == 4
        ]
        if not tops:
            raise DeltaProtocolError(
                f"no readable checkpoint at version {version}"
            )
        top = sorted(tops)[0]
        if top.suffix == ".json":
            with open(top) as fh:
                raw = [json.loads(line) for line in fh if line.strip()]
        else:
            raw = self._parquet_actions(top)
        actions: list[dict] = []
        for a in raw:
            if "sidecar" in a:
                actions.extend(
                    self._parquet_actions(
                        self.log / "_sidecars" / a["sidecar"]["path"]
                    )
                )
            elif "checkpointMetadata" in a:
                continue  # version sanity only; nothing to replay
            else:
                actions.append(a)
        return actions

    def snapshot(self, version: int | None = None) -> DeltaSnapshot:
        json_versions = self.versions()
        if version is None:
            # incomplete multi-part sets still NAME a version — include them
            # so the failure below is "checkpoint incomplete", not "empty log"
            candidates = (
                json_versions
                + self._checkpoint_versions()
                + [v for v, (_, m) in self._multipart_sets().items() if m]
            )
            if not candidates:
                raise FileNotFoundError(f"empty delta log at {self.log}")
            version = max(candidates)
        # newest checkpoint at/below the target that lets the JSON tail
        # complete the replay (JSON commits may have been cleaned up below it)
        start = 0
        base_actions: list[dict] = []
        usable = [
            cv for cv in self._checkpoint_versions()
            if cv <= version
            and all(v in json_versions for v in range(cv + 1, version + 1))
        ]
        needed = [v for v in range(version + 1) if v not in json_versions]
        if usable and (needed or usable[-1] == version):
            cv = usable[-1]
            base_actions = self._checkpoint_actions(cv)
            start = cv + 1
        else:
            missing = [v for v in range(version + 1) if v not in json_versions]
            if missing:
                broken = {
                    v: m for v, (_, m) in self._multipart_sets().items()
                    if m and v <= version
                }
                hint = (
                    f"; multi-part checkpoint(s) at {sorted(broken)} are "
                    f"incomplete (missing parts {broken})" if broken else ""
                )
                raise DeltaProtocolError(
                    f"cannot reconstruct version {version}: commits {missing} "
                    f"missing and no usable checkpoint{hint}"
                )
        files: dict[str, dict] = {}
        metadata: dict = {}
        protocol: dict = {"minReaderVersion": 1, "minWriterVersion": 1}
        txns: dict[str, int] = {}
        domains: dict[str, str] = {}

        def apply(action: dict) -> None:
            if "protocol" in action:
                protocol.update({k: v for k, v in action["protocol"].items() if v is not None})
            elif "metaData" in action:
                metadata.clear()
                metadata.update(action["metaData"])
            elif "add" in action:
                # PROTOCOL.md: action paths are percent-encoded relative
                # URIs — decode once at replay so files is keyed by the
                # filesystem-relative path (external writers encode spaces
                # and special characters in partition values)
                a = dict(action["add"])
                a["path"] = unquote(a["path"])
                files[a["path"]] = a
            elif "remove" in action:
                files.pop(unquote(action["remove"]["path"]), None)
            elif "txn" in action:
                t = action["txn"]
                txns[t["appId"]] = t["version"]
            elif "domainMetadata" in action:
                dm = action["domainMetadata"]
                if dm.get("removed"):
                    domains.pop(dm["domain"], None)
                else:
                    domains[dm["domain"]] = dm.get("configuration", "")

        for action in base_actions:
            apply(action)
        tail_paths = [self.log / f"{v:020d}.json" for v in range(start, version + 1)]
        tail_bytes = sum(p.stat().st_size for p in tail_paths)
        if tail_paths and tail_bytes > JSON_TAIL_DATAFRAME_BYTES:
            self._apply_json_tail_dataframe(tail_paths, files, apply)
        else:
            for v in range(start, version + 1):
                for action in self._commit_actions(v):
                    apply(action)
        self._check_protocol(protocol)
        if not metadata:
            raise DeltaProtocolError(f"no metaData action found up to version {version}")
        return DeltaSnapshot(version, files, metadata, protocol, txns,
                             domains)

    def _apply_json_tail_dataframe(
        self, paths: list[Path], files: dict[str, dict], apply
    ) -> None:
        """Directive r8 #6: reconcile a LARGE commit-JSON tail as a
        DataFrame instead of a Python loop over every action. Per path the
        LAST action wins (last-add-wins window vs latest-remove anti-join;
        within one commit an add beats a remove of the same path — the
        remove refers to the previous incarnation, the Delta DV-update /
        RESTORE pattern). Stats strings stay JVM-side exactly like the
        pruned checkpoint replay (numRecords extracted, min/max bounds
        re-projected lazily by `_lazy_minmax` when to_df filters need
        them). Non-file actions (metaData/protocol/txn) are O(1) per
        commit and collect in version order through the normal `apply`.

        Within-commit duplicate ADDS of one path (this exporter's
        restore-under-tombstone pattern: plain add, then the DV re-add)
        tie-break by deletionVector presence — the only duplicate-add
        shape a conforming writer emits."""
        from pyspark.sql.window import Window

        src_key = uuid.uuid4().hex
        self._pruned_stats_sources[src_key] = {
            "format": "json", "paths": [str(p) for p in paths],
        }
        df = (
            self.spark.read.schema(_COMMIT_JSON_SCHEMA)
            .json([str(p) for p in paths])
            .withColumn(
                "__v",
                F.regexp_extract(
                    F.col("_metadata.file_path"), r"(\d{20})\.json$", 1
                ).cast("long"),
            )
        )
        # non-file actions, replayed in commit order
        for r in (
            df.where(
                F.col("metaData").isNotNull()
                | F.col("protocol").isNotNull()
                | F.col("txn").isNotNull()
                | F.col("domainMetadata").isNotNull()
            )
            .select("__v", "metaData", "protocol", "txn", "domainMetadata")
            .orderBy("__v")
            .collect()
        ):
            d = r.asDict(recursive=True)
            for kind in ("protocol", "metaData", "txn", "domainMetadata"):
                if d.get(kind) is not None:
                    apply({kind: {
                        k: v for k, v in d[kind].items() if v is not None
                    }})
        adds = df.where(F.col("add").isNotNull()).select(
            F.col("add.path").alias("p"),
            F.col("add.partitionValues").alias("partitionValues"),
            F.col("add.size").alias("size"),
            F.col("add.modificationTime").alias("modificationTime"),
            F.col("add.dataChange").alias("dataChange"),
            F.col("add.baseRowId").alias("baseRowId"),
            F.col("add.defaultRowCommitVersion")
            .alias("defaultRowCommitVersion"),
            F.col("add.deletionVector").alias("deletionVector"),
            F.get_json_object(F.col("add.stats"), "$.numRecords")
            .cast("long").alias("__nr"),
            "__v",
        )
        w = Window.partitionBy("p").orderBy(
            F.col("__v").desc(), F.col("deletionVector").isNotNull().desc()
        )
        last_add = (
            adds.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .drop("__rn")
        )
        last_rem = (
            df.where(F.col("remove").isNotNull())
            .groupBy(F.col("remove.path").alias("p"))
            .agg(F.max("__v").alias("__rv"))
        )
        joined = last_add.join(last_rem, "p", "full_outer")
        # net removes: never re-added, or removed after the last add
        for r in (
            joined.where(
                F.col("__v").isNull() | (F.col("__rv") > F.col("__v"))
            )
            .select("p").toLocalIterator()
        ):
            files.pop(unquote(r["p"]), None)
        # net adds (narrow, stats pruned — same shape as the pruned
        # checkpoint replay)
        for r in (
            joined.where(
                F.col("__v").isNotNull()
                & (F.col("__rv").isNull() | (F.col("__v") >= F.col("__rv")))
            )
            .drop("__v", "__rv").toLocalIterator()
        ):
            d = r.asDict(recursive=True)
            nr = d.pop("__nr", None)
            d = {k: v for k, v in d.items() if v is not None}
            d["path"] = unquote(d.pop("p"))
            if nr is not None:
                d["stats"] = json.dumps({"numRecords": int(nr)})
            d["__statsPruned"] = src_key
            files[d["path"]] = d

    @staticmethod
    def _check_protocol(protocol: dict) -> None:
        r = protocol.get("minReaderVersion", 1)
        if r <= 2:
            return
        feats = set(protocol.get("readerFeatures") or [])
        unsupported = feats - _SUPPORTED_READER_FEATURES
        if unsupported:
            raise DeltaProtocolError(
                f"table requires reader features {sorted(unsupported)} "
                "not implemented by this reader"
            )

    # -- data ------------------------------------------------------------ #
    def to_df(
        self,
        version: int | None = None,
        columns: list[str] | None = None,
        filters: list[tuple[str, str, Any]] | None = None,
        _with_path: bool = False,
        _paths: set[str] | None = None,
        _with_pos: bool = False,
        _with_row_ids: bool = False,
    ) -> DataFrame:
        """ONE parquet scan over every live file (partition columns are NOT
        in Delta data files — they live in add.partitionValues), with the
        partition-value tuples attached via a file-path → values broadcast
        map join keyed on ``_metadata.file_path``. A scan per distinct
        partition tuple chained through unionByName would plan a 10k-way
        union lineage on a date×hour table — the classic analyzer blow-up —
        in the one component whose purpose is reading EXTERNAL tables.

        Files carrying deletion vectors get their deleted row indexes
        anti-filtered via ``_metadata.row_index`` against a broadcast
        (file, row_index) set decoded driver-side (`tables/dv.py`).

        ``columns`` prunes the read to the requested logical columns (the
        parquet ReadSchema shrinks accordingly); ``filters``
        ([(col, op, val)], ops = == < <= > >=) prune FILES before the scan
        — partition filters against add.partitionValues (classic partition
        pruning), data-column filters against the per-file min/max stats
        Delta writers record — then apply row-wise as a residual. Both
        conservative: a file is skipped only when its metadata PROVES no
        row matches (r8 — the external-table analog of LakeTable.read's
        skipping; at 100 TB this is the difference between scanning a
        partition and scanning a table)."""
        from lakehouses_spark.tables import dv as _dv

        snap = self.snapshot(version)
        schema = snap.schema
        conf = snap.configuration
        mapping_mode = conf.get("delta.columnMapping.mode", "none")
        part_cols = snap.partition_columns
        by_name = {f.name: f for f in schema.fields}
        # row tracking read surface (PROTOCOL.md "Row Tracking"): the
        # row id is the MATERIALIZED column when the row was copied by a
        # preserving rewrite, else baseRowId + physical position; the
        # commit version likewise falls back to the add's default
        mat_id = conf.get("delta.rowTracking.materializedRowIdColumnName")
        mat_rcv = conf.get(
            "delta.rowTracking.materializedRowCommitVersionColumnName")
        for c in list(columns or []) + [c for c, _, _ in (filters or [])]:
            if c not in by_name:
                raise ValueError(f"unknown column {c!r}")

        def phys_name(f: StructField) -> str:
            if mapping_mode in ("name", "id"):
                return f.metadata.get("delta.columnMapping.physicalName", f.name)
            return f.name

        need = (
            set(columns) | {c for c, _, _ in (filters or [])}
            if columns is not None else None
        )
        out_names = (
            [f.name for f in schema.fields if f.name in set(columns)]
            if columns is not None else [f.name for f in schema.fields]
        )
        data_fields = [
            f for f in schema.fields
            if f.name not in part_cols and (need is None or f.name in need)
        ]
        phys_schema = StructType(
            [StructField(phys_name(f), f.dataType, f.nullable) for f in data_fields]
            + ([StructField(mat_id, LongType(), True)]
               if _with_row_ids and mat_id else [])
            + ([StructField(mat_rcv, LongType(), True)]
               if _with_row_ids and mat_rcv else [])
        )
        part_types = {f.name: f.dataType for f in schema.fields if f.name in part_cols}
        empty = self.spark.createDataFrame(
            [], StructType(
                [StructField(n, by_name[n].dataType, True)
                 for n in out_names]
                + ([StructField("__lh_fp", StringType())]
                   if _with_path else [])
                + ([StructField("__lh_pos", LongType())]
                   if _with_pos else [])
                + ([StructField("__lh_row_id", LongType()),
                    StructField("__lh_rcv", LongType())]
                   if _with_row_ids else [])
            )
        )
        if not snap.files:
            return empty

        # stats skipping survives the PRUNED replay (VERDICT r8 #2): files
        # whose stats stayed JVM-side get their min/max for exactly the
        # filter columns re-projected here, lazily, typed
        lazy_stats: dict[str, dict] = {}
        if filters:
            lazy_cols = sorted({
                c for c, _, _ in filters
                if c not in part_cols and c in by_name
            })
            src_keys = {
                a["__statsPruned"] for a in snap.files.values()
                if a.get("__statsPruned")
            }
            if lazy_cols and src_keys:
                lazy_stats = self._lazy_minmax(
                    src_keys,
                    [(phys_name(by_name[c]), by_name[c].dataType)
                     for c in lazy_cols],
                )

        # canonical fs path per file (matches `_metadata.file_path` with the
        # scheme stripped), its partition tuple, and any deleted row indexes
        abs_paths: list[str] = []
        pv_rows: list[tuple] = []
        base_rows: list[tuple] = []
        deleted_rows: list[tuple[str, int]] = []
        for path, a in snap.files.items():
            ap = str((self.path / path).resolve())
            if _paths is not None and ap not in _paths:
                # caller-scoped read (the COW DML rewrite pass): list and
                # scan ONLY the affected files, never the table
                continue
            if filters and a.get("__statsPruned") and path in lazy_stats:
                a = {**a, "__lazyStats": lazy_stats[path]}
            if filters and not _delta_file_may_match(
                a, filters, part_types, {f.name: phys_name(f) for f in schema.fields}
            ):
                continue
            abs_paths.append(ap)
            pv = a.get("partitionValues") or {}
            # spec-strict writers key partitionValues by PHYSICAL name
            # under column mapping; accept either
            pv_rows.append((ap, *[
                pv[c] if c in pv else pv.get(phys_name(by_name[c]))
                for c in part_cols
            ]))
            if _with_row_ids:
                base_rows.append((ap, a.get("baseRowId"),
                                  a.get("defaultRowCommitVersion")))
            if a.get("deletionVector"):
                for idx in _dv.read_descriptor(a["deletionVector"], self.path):
                    deleted_rows.append((ap, idx))
        if not abs_paths:
            return empty

        df = self.spark.read.schema(phys_schema).parquet(*abs_paths)
        # scheme-stripped + percent-decoded so both sides key identically
        fp = fs_path_col()
        if _with_pos:
            # physical row ordinal, captured at the scan (the DV delete
            # writer needs it; _metadata is only addressable here)
            df = df.withColumn("__lh_pos", F.col("_metadata.row_index"))
        if _with_row_ids:
            df = df.withColumn("__lh_ri0", F.col("_metadata.row_index"))
        if deleted_rows:
            df = df.withColumns({"__lh_fp": fp, "__lh_ri": F.col("_metadata.row_index")})
            dv_df = self.spark.createDataFrame(
                deleted_rows, "__lh_fp string, __lh_ri bigint"
            )
            df = df.join(F.broadcast(dv_df), ["__lh_fp", "__lh_ri"], "left_anti")
        else:
            df = df.withColumn("__lh_fp", fp)
        df = df.select(
            "__lh_fp",
            *(["__lh_pos"] if _with_pos else []),
            *(["__lh_ri0"] if _with_row_ids else []),
            *([F.col(mat_id).alias("__lh_mid")]
              if _with_row_ids and mat_id else []),
            *([F.col(mat_rcv).alias("__lh_mrcv")]
              if _with_row_ids and mat_rcv else []),
            *[F.col(phys_name(f)).alias(f.name) for f in data_fields]
        )
        if _with_row_ids:
            bmap = self.spark.createDataFrame(
                base_rows,
                "__lh_fp string, __lh_base bigint, __lh_drcv bigint")
            df = df.join(F.broadcast(bmap), "__lh_fp")
            rid = F.col("__lh_base") + F.col("__lh_ri0")
            rcv = F.col("__lh_drcv")
            if mat_id:
                rid = F.coalesce(F.col("__lh_mid"), rid)
            if mat_rcv:
                rcv = F.coalesce(F.col("__lh_mrcv"), rcv)
            df = df.withColumns(
                {"__lh_row_id": rid, "__lh_rcv": rcv}
            ).drop("__lh_ri0", "__lh_base", "__lh_drcv",
                   *(["__lh_mid"] if mat_id else []),
                   *(["__lh_mrcv"] if mat_rcv else []))
        if part_cols:
            map_df = self.spark.createDataFrame(
                pv_rows,
                StructType(
                    [StructField("__lh_fp", StringType())]
                    + [
                        StructField(f"__lh_pv_{i}", StringType())
                        for i in range(len(part_cols))
                    ]
                ),
            )
            df = df.join(F.broadcast(map_df), "__lh_fp")
            for i, c in enumerate(part_cols):
                df = df.withColumn(c, F.col(f"__lh_pv_{i}").cast(part_types[c]))
        for col, op, val in filters or []:  # residual row-level filter
            c, v = F.col(col), F.lit(val)
            df = df.where(
                {"=": c == v, "==": c == v, "<": c < v, "<=": c <= v,
                 ">": c > v, ">=": c >= v}[op]
            )
        if _with_path:  # internal: COW DML keys rewrites by source file
            return df.select(*out_names, "__lh_fp",
                             *(["__lh_pos"] if _with_pos else []),
                             *(["__lh_row_id", "__lh_rcv"]
                               if _with_row_ids else []))
        return df.select(*out_names,
                         *(["__lh_row_id", "__lh_rcv"]
                           if _with_row_ids else []))

    def describe_history(self) -> DataFrame:
        """DESCRIBE HISTORY for an external Delta table (the DataFrame
        sibling of the lightweight `history()` list): one row per
        commit JSON, newest first — version, commitInfo timestamp (file
        mtime when absent), operation, operationParameters as JSON, and
        the commit's add/remove counts. Pure log metadata; no data read."""
        rows = []
        for v in self.versions():
            actions = self._commit_actions(v)
            ci = next(
                (a["commitInfo"] for a in actions if "commitInfo" in a), {}
            )
            ts = ci.get("timestamp") or int(
                (self.log / f"{v:020d}.json").stat().st_mtime * 1000
            )
            rows.append((
                v, ts, ci.get("operation"),
                json.dumps(ci.get("operationParameters") or {}),
                sum(1 for a in actions if "add" in a),
                sum(1 for a in actions if "remove" in a),
            ))
        return self.spark.createDataFrame(
            sorted(rows, reverse=True),
            "version long, timestamp_ms long, operation string, "
            "operation_parameters string, num_added_files int, "
            "num_removed_files int",
        )

    def optimize(self, target_files: int | None = None,
                 target_file_size_mb: int = 128,
                 dry_run: bool = False,
                 zorder_by: list[str] | None = None) -> dict:
        """Delta's OPTIMIZE on an external table: bin-pack the CURRENT
        snapshot into ``target_files`` files (default: ceil(live bytes /
        target size)) in one distributed scan→repartition→write pass —
        deletion-vector rows are applied physically (Delta's
        "purge"/rewrite behavior) — and commit it as version N+1 with
        `dataChange=false` on every add/remove, the compaction
        convention: streams tailing the log skip the rewrite instead of
        re-emitting rows. ``zorder_by`` range-partitions on the
        interleaved z-value (OPTIMIZE ... ZORDER BY), and per-file
        min/max from the parquet footers land in ``add.stats`` so
        `read_delta(filters=)` skips files on any clustered column.
        Time travel to prior versions is untouched (old files stay
        until VACUUM). Hive-partitioned tables compact PER PARTITION
        (r11): rows co-locate by partition tuple before the
        `partitionBy` write, so each output file belongs to exactly one
        partition and partition pruning keeps working on the compacted
        layout; with ``zorder_by`` the z-clustering applies within each
        partition.

        100 TB shape: one distributed pass over live data, O(files)
        metadata; the op that keeps DV-heavy tables from paying the
        anti-join read tax forever."""
        from urllib.parse import quote

        snap = self.snapshot()
        self._check_write(snap, None)  # writer-feature gate
        if not snap.files:
            raise DeltaProtocolError("no live files to optimize")
        total_bytes = sum(a.get("size") or 0 for a in snap.files.values())
        n_out = target_files or max(
            1, -(-total_bytes // (target_file_size_mb * 1024 * 1024))
        )
        plan = {
            "input_files": len(snap.files),
            "input_bytes": total_bytes,
            "target_files": int(n_out),
            "dv_files_purged": sum(
                1 for a in snap.files.values() if a.get("deletionVector")
            ),
        }
        if dry_run:
            return plan

        import time as _time

        rt = row_tracking_active(snap)
        mat_md = None
        if rt:
            mid_c, mrcv_c, mat_md = self._materialized_row_cols(snap)
        df = self.to_df(_with_row_ids=rt)  # logical names, DVs applied
        if rt:
            # compaction copies rows verbatim (PROTOCOL.md: preserve
            # row id AND commit version via the materialized columns)
            df = (df.withColumnRenamed("__lh_row_id", mid_c)
                  .withColumnRenamed("__lh_rcv", mrcv_c))
        # files store PHYSICAL names under column mapping
        phys_of: dict[str, str] = {}
        meta_conf = snap.configuration
        if meta_conf.get("delta.columnMapping.mode") in ("name", "id"):
            for f in json.loads(
                snap.metadata["schemaString"]
            ).get("fields", []):
                phys = (f.get("metadata") or {}).get(
                    "delta.columnMapping.physicalName"
                )
                if phys and phys != f["name"] and f["name"] in df.columns:
                    phys_of[f["name"]] = phys
                    df = df.withColumnRenamed(f["name"], phys)
        part_phys = [
            phys_of.get(c, c) for c in snap.partition_columns
        ] or None
        if zorder_by:
            from lakehouses_spark.tables.table import zorder_column

            # callers pass LOGICAL names; df carries physical ones by here
            zcols = [phys_of.get(c, c) for c in zorder_by]
            df = (
                df.withColumn("__z", zorder_column(df, zcols))
                # partitioned: same-tuple rows stay adjacent, z-ordered
                # within their partition
                .repartitionByRange(int(n_out), *(part_phys or []), "__z")
                .drop("__z")
            )
        elif part_phys:
            # range over (partition cols, row-hash salt): rows co-locate
            # by tuple AND a big partition still splits across tasks, so
            # target_file_size bin-packing holds within each partition —
            # hashing by tuple alone would funnel a 10 GB partition into
            # ONE task/file (r11 review)
            df = (
                df.withColumn(
                    "__s", F.hash(*[F.col(c) for c in df.columns]))
                .repartitionByRange(int(n_out), *part_phys, "__s")
                .drop("__s")
            )
        else:
            df = df.repartition(int(n_out))
        ts = int(_time.time() * 1000)
        actions: list[dict] = [{
            "commitInfo": {
                "timestamp": ts, "operation": "OPTIMIZE",
                "operationParameters": {"targetFiles": str(int(n_out))},
            }
        }]
        if mat_md is not None:
            actions.append({"metaData": mat_md})
        adds = self._write_data_files(df, "optimized", ts,
                                      data_change=False,
                                      part_cols=part_phys)
        actions.extend(adds)
        dm = stamp_row_ids(snap, adds, snap.version + 1)
        if dm is not None:
            actions.append(dm)
        for old in snap.files:
            actions.append({"remove": {
                "path": quote(old), "deletionTimestamp": ts,
                "dataChange": False,
            }})
        new_v = snap.version + 1
        _write_commit(self.log / f"{new_v:020d}.json", actions)
        plan["output_files"] = len(adds)
        plan["version"] = new_v
        return plan

    def _write_data_files(self, df: DataFrame, rel_prefix: str, ts: int,
                          data_change: bool,
                          part_cols: list[str] | None = None) -> list[dict]:
        return emit_data_files(
            self.path, df, rel_prefix, ts, data_change, part_cols)

    _SUPPORTED_WRITER_FEATURES = {
        "appendOnly", "invariants", "checkConstraints", "columnMapping",
        "changeDataFeed", "deletionVectors", "timestampNtz", "v2Checkpoint",
        # domainMetadata (r12 continuation): domains replay from the log,
        # survive checkpoints (the dedicated checkpoint column), and are
        # exposed/written via snapshot().domains + set_domain_metadata
        "domainMetadata",
        # rowTracking (r12 continuation): appends assign fresh
        # baseRowId ranges + bump the delta.rowTracking watermark
        # domain in the same commit; COW DELETE/UPDATE, OPTIMIZE and
        # replaceWhere preserve ids via the materialized columns;
        # checkpoints carry the per-add fields. MERGE and MOR UPDATE
        # refuse at the verb with the reason
        # (tests/test_row_tracking.py)
        "rowTracking",
        # fully implemented since the r12 continuation: absent generated
        # columns compute from delta.generationExpression (provided
        # values are enforced value==expr in _check_write); identity
        # columns allocate per-partition blocks and bump
        # delta.identity.highWaterMark in the same commit
        # (tests/test_delta_generated_identity.py)
        "generatedColumns", "identityColumns",
    }

    # legacy protocol versions imply feature sets (PROTOCOL.md "Table
    # Features"): an upgrade to (3, 7) must enumerate them
    _LEGACY_WRITER_FEATURES = {
        2: ["appendOnly", "invariants"],
        3: ["checkConstraints"],
        4: ["changeDataFeed", "generatedColumns"],
        5: ["columnMapping"],
        6: ["identityColumns"],
    }

    def _check_write(self, snap: "DeltaSnapshot",
                     df: DataFrame | None) -> None:
        """Write-side gate shared by every committing verb (r11 review):
        refuse writerFeatures this engine does not implement — the
        protocol requires a writer to understand EVERY listed feature
        (e.g. rowTracking demands per-add fields we never emit) — and
        enforce `delta.constraints.*` CHECKs on the incoming rows with
        Delta's semantics (violation only when the expression is FALSE;
        NULL passes), so other engines can keep trusting the table as
        constraint-clean after foreign writes. ADVICE r12: legacy COLUMN
        INVARIANTS (`delta.invariants` in schema field metadata — the
        writer feature this engine lists as supported) are enforced in
        the same single pass, with Delta's CheckDeltaInvariant
        semantics: an invariant expression evaluating to NULL *is* a
        violation, unlike CHECK constraints."""
        proto = snap.protocol
        if proto.get("minWriterVersion", 2) >= 7:
            unsupported = set(
                proto.get("writerFeatures") or []
            ) - self._SUPPORTED_WRITER_FEATURES
            if unsupported:
                raise DeltaProtocolError(
                    f"table requires writer feature(s) "
                    f"{sorted(unsupported)} this engine does not implement"
                )
        if df is None:
            return
        viols: list[tuple[str, Column]] = []
        for k in sorted(k for k in snap.configuration
                        if k.startswith("delta.constraints.")):
            viols.append(
                (k, F.expr(snap.configuration[k]) == F.lit(False)))

        # generated columns (r12 continuation — previously refused):
        # PROTOCOL.md requires writers to enforce value == expression
        # on every written row; the committing verbs compute/recompute
        # the column, and this single agg pass PROVES the invariant
        # held (a provided value that disagrees refuses the write).
        # NULL-safe equality: a NULL value is valid iff the expression
        # is NULL too. Identity columns need no row check here — the
        # verbs allocate them and bump the high watermark in the same
        # commit.
        for g, expr in generated_columns(snap.schema).items():
            if g in df.columns:
                viols.append((
                    f"delta.generationExpression({g})",
                    ~F.col(g).eqNullSafe(F.expr(expr)),
                ))

        def collect_invariants(fields, prefix: str = "") -> None:
            # Delta stores invariants on the declaring field, which may
            # be NESTED (CheckDeltaInvariant walks the struct tree); the
            # stored expression references the full dotted path itself
            for f in fields:
                inv = (f.metadata or {}).get("delta.invariants")
                if inv:
                    sql = json.loads(inv)["expression"]["expression"]
                    viols.append(
                        (f"delta.invariants({prefix}{f.name})",
                         ~F.expr(sql).eqNullSafe(True)))
                if isinstance(f.dataType, StructType):
                    collect_invariants(
                        f.dataType.fields, f"{prefix}{f.name}.")

        collect_invariants(snap.schema.fields)
        if not viols:
            return
        # one aggregation pass over the incoming rows for ALL rules
        counts = df.agg(*[
            F.sum(F.when(c, 1).otherwise(0)).alias(f"__v{i}")
            for i, (_, c) in enumerate(viols)
        ]).first()
        bad = {name: int(counts[i])
               for i, (name, _) in enumerate(viols) if counts[i]}
        if bad:
            raise DeltaProtocolError(
                f"row(s) violate CHECK constraint/invariant: {bad}"
            )

    def _fill_computed(self, schema: StructType, source_cols: set[str],
                       out: DataFrame) -> tuple[DataFrame, dict[str, int]]:
        """Shared insert-shaping for append/overwrite: generated columns
        absent from the source compute from their expression (provided
        values are enforced later in _check_write); identity columns
        allocate when absent (explicit values gate on
        allowExplicitInsert and bump the watermark when beyond it).
        Returns (frame, new high watermarks to commit)."""
        gen = generated_columns(schema)
        idc = identity_columns(schema)
        for g, e in gen.items():
            if g not in source_cols:
                out = out.withColumn(g, F.expr(e).cast(schema[g].dataType))
        new_hwms: dict[str, int] = {}
        for c, info in idc.items():
            if c in source_cols:
                if not info["allow"]:
                    raise DeltaProtocolError(
                        f"identity column {c!r} does not allow explicit "
                        "inserts (delta.identity.allowExplicitInsert is "
                        "false) — drop it from the written frame"
                    )
                agg = F.max(c) if info["step"] > 0 else F.min(c)
                mx = out.agg(agg).first()[0]
                if mx is not None and (
                        info["hwm"] is None
                        or (mx > info["hwm"] if info["step"] > 0
                            else mx < info["hwm"])):
                    new_hwms[c] = int(mx)
            else:
                out, hw = allocate_identity(
                    out, c, info["start"], info["step"], info["hwm"])
                out = out.withColumn(c, F.col(c).cast(schema[c].dataType))
                new_hwms[c] = hw
        return out, new_hwms

    def append(self, df: DataFrame, merge_schema: bool = False) -> dict:
        """Blind APPEND to an external Delta table (delta-rs/delta-spark's
        `mode("append")`): new data files + adds with dataChange=true at
        version N+1, no reads of existing data. Values cast to the table
        schema; absent nullable columns fill null; absent required
        columns refuse. Extra columns refuse unless ``merge_schema``
        (delta's mergeSchema write option): the commit then also carries
        a metaData action with the widened schema — new columns nullable,
        old files read them as NULL. Partitioned tables write
        `partitionBy`; column-mapped tables store physical names
        (merge_schema under column mapping is refused — minting physical
        names/ids belongs to the owning writer). Allowed on appendOnly
        tables — append is the one verb they permit. CDF needs no change
        file: adds-only commits derive `insert` rows (Delta's
        blind-append optimization).

        Generated columns absent from the source compute from their
        `delta.generationExpression` (provided values are enforced
        value==expr); identity columns absent from the source allocate
        fresh values and bump `delta.identity.highWaterMark` in the
        same commit — explicit identity values refuse unless
        allowExplicitInsert (PROTOCOL.md writer requirements for both
        features)."""
        import time as _time

        snap = self.snapshot()
        schema = snap.schema
        conf = snap.configuration
        mapping_mode = conf.get("delta.columnMapping.mode", "none")
        names = {f.name for f in schema.fields}
        extra = [c for c in df.columns if c not in names]
        new_metadata: dict | None = None
        if extra and not merge_schema:
            raise DeltaProtocolError(
                f"append columns {extra} are not in the table schema; "
                "pass merge_schema=True to evolve it"
            )
        if extra:
            if mapping_mode in ("name", "id"):
                raise DeltaProtocolError(
                    "merge_schema append on a column-mapped table is not "
                    "supported (physical-name/id minting belongs to the "
                    "owning writer) — adopt via convert_from_delta"
                )
            schema_json = json.loads(snap.metadata["schemaString"])
            for c in extra:
                schema_json["fields"].append({
                    "name": c,
                    "type": df.schema[c].dataType.jsonValue(),
                    "nullable": True, "metadata": {},
                })
            new_metadata = {
                **snap.metadata, "schemaString": json.dumps(schema_json),
            }
            schema = StructType.fromJson(schema_json)
        gen = generated_columns(schema)
        idc = identity_columns(schema)
        computed = {c for c in (*gen, *idc) if c not in df.columns}
        required = [f.name for f in schema.fields
                    if f.name not in df.columns and not f.nullable
                    and f.name not in computed]
        if required:
            raise DeltaProtocolError(
                f"append is missing required column(s) {required}"
            )
        out = df.select(*[
            (F.col(f.name).cast(f.dataType) if f.name in df.columns
             else F.lit(None).cast(f.dataType)).alias(f.name)
            for f in schema.fields
        ])
        out, new_hwms = self._fill_computed(schema, set(df.columns), out)
        if new_hwms:
            # the high watermark rides the SAME commit as the data
            new_metadata = bump_identity_metadata(
                new_metadata if new_metadata is not None
                else snap.metadata, new_hwms)
        self._check_write(snap, out)  # writer features + CHECK constraints
        phys_of: dict[str, str] = {}
        if mapping_mode in ("name", "id"):
            for f in json.loads(snap.metadata["schemaString"]).get(
                    "fields", []):
                phys = (f.get("metadata") or {}).get(
                    "delta.columnMapping.physicalName")
                if phys and phys != f["name"]:
                    phys_of[f["name"]] = phys
                    out = out.withColumnRenamed(f["name"], phys)
        part_cols = [
            phys_of.get(c, c) for c in snap.partition_columns
        ] or None
        ts = int(_time.time() * 1000)
        actions: list[dict] = [{
            "commitInfo": {
                "timestamp": ts, "operation": "WRITE",
                "operationParameters": {"mode": "Append"},
            }
        }]
        if new_metadata is not None:
            actions.append({"metaData": new_metadata})
        adds = self._write_data_files(out, "append", ts, data_change=True,
                                      part_cols=part_cols)
        actions.extend(adds)
        new_v = snap.version + 1
        dm = stamp_row_ids(snap, adds, new_v)
        if dm is not None:
            actions.append(dm)
        _write_commit(self.log / f"{new_v:020d}.json", actions)
        return {"version": new_v, "added_files": len(adds)}

    def overwrite(self, df: DataFrame,
                  replace_where: str | None = None) -> dict:
        """INSERT OVERWRITE / `mode("overwrite")` on an external Delta
        table, ONE atomic commit (readers never observe an empty table):

        - ``replace_where=None``: every live file removes and ``df``'s
          files add — the table's contents become exactly ``df``.
        - ``replace_where``: Delta's arbitrary replaceWhere — matching
          rows delete (affected files rewrite without them, planned
          with partition pruning) and ``df`` inserts; every written row
          must satisfy the predicate or the write refuses (Delta's
          replaceWhere constraint check).

        Generated/identity columns shape exactly like append (computed /
        allocated, watermark bumped in the same commit); CDF-enabled
        tables record delete images for the replaced rows and insert
        images for the new ones."""
        snap = self.snapshot()
        conf = snap.configuration
        if conf.get("delta.appendOnly") == "true":
            raise DeltaProtocolError(
                "overwrite on an appendOnly table (delta.appendOnly=true)"
            )
        schema = snap.schema
        names = {f.name for f in schema.fields}
        extra = [c for c in df.columns if c not in names]
        if extra:
            raise DeltaProtocolError(
                f"overwrite columns {extra} are not in the table schema")
        gen = generated_columns(schema)
        idc = identity_columns(schema)
        computed = {c for c in (*gen, *idc) if c not in df.columns}
        required = [f.name for f in schema.fields
                    if f.name not in df.columns and not f.nullable
                    and f.name not in computed]
        if required:
            raise DeltaProtocolError(
                f"overwrite is missing required column(s) {required}")
        out = df.select(*[
            (F.col(f.name).cast(f.dataType) if f.name in df.columns
             else F.lit(None).cast(f.dataType)).alias(f.name)
            for f in schema.fields
        ])
        out, new_hwms = self._fill_computed(schema, set(df.columns), out)
        new_metadata = (bump_identity_metadata(snap.metadata, new_hwms)
                        if new_hwms else None)
        rt = row_tracking_active(snap)
        if rt:
            # kept rows (replaceWhere survivors) are pure copies:
            # preserve id+version via the materialized columns; the
            # inserted frame unions with nulls there -> fresh ids
            mid_c, mrcv_c, mat_md = self._materialized_row_cols(snap)
            if mat_md is not None:
                new_metadata = {
                    **(new_metadata or snap.metadata),
                    "configuration":
                        mat_md["configuration"],
                }
        cdf_on = conf.get("delta.enableChangeDataFeed") == "true"
        cdc_parts: list[DataFrame] = []
        kept: DataFrame | None = None
        rid_cols = ["__lh_row_id", "__lh_rcv"] if rt else []
        if replace_where is None:
            removed = sorted(snap.files)
            if cdf_on and removed:
                cdc_parts.append(self.to_df().withColumn(
                    "_change_type", F.lit("delete")))
        else:
            pred = F.expr(replace_where)
            bad = out.where(~pred.eqNullSafe(F.lit(True))).count()
            if bad:
                raise DeltaProtocolError(
                    f"{bad} overwrite row(s) do not satisfy "
                    f"replace_where {replace_where!r}")
            affected = self._plan_affected(snap, pred, replace_where)
            rel_of = {str((self.path / p).resolve()): p
                      for p in snap.files}
            removed = [rel_of[ap] for ap in affected]
            if affected:
                sub = self.to_df(_with_path=True, _paths=set(affected),
                                 _with_row_ids=rt)
                kept = sub.where(
                    ~pred.eqNullSafe(F.lit(True))).drop("__lh_fp")
                if rt:
                    kept = (
                        kept.withColumnRenamed("__lh_row_id", mid_c)
                        .withColumnRenamed("__lh_rcv", mrcv_c))
                if cdf_on:
                    cdc_parts.append(
                        sub.where(pred).drop("__lh_fp", *rid_cols)
                        .withColumn("_change_type", F.lit("delete")))
        if cdf_on:
            cdc_parts.append(out.withColumn(
                "_change_type", F.lit("insert")))
        new_rows = out if kept is None else kept.unionByName(
            out, allowMissingColumns=True)
        version = self._commit_dml(
            "WRITE",
            {"mode": "Overwrite",
             "predicate": replace_where or "true"},
            new_rows, removed, cdc_parts, snap,
            new_metadata=new_metadata,
        )
        return {"version": version, "removed_files": len(removed)}

    def set_properties(self, props: dict[str, str | None]) -> dict:
        """ALTER TABLE SET TBLPROPERTIES on an external Delta table: a
        metadata-only commit merging ``props`` into the table
        configuration (a None value unsets the key — UNSET
        TBLPROPERTIES). The write plane honors properties like
        `delta.enableDeletionVectors` on the next DML; the writer-
        feature gate runs first so foreign tables this engine cannot
        write stay refused."""
        import time as _time

        snap = self.snapshot()
        self._check_write(snap, None)
        conf = dict(snap.configuration)
        for k, v in props.items():
            if v is None:
                conf.pop(k, None)
            else:
                conf[k] = str(v)
        new_md = {**snap.metadata, "configuration": conf}
        ts = int(_time.time() * 1000)
        actions = [
            {"commitInfo": {
                "timestamp": ts, "operation": "SET TBLPROPERTIES",
                "operationParameters": {
                    "properties": json.dumps(
                        {k: v for k, v in props.items()
                         if v is not None})},
            }},
            {"metaData": new_md},
        ]
        new_v = snap.version + 1
        _write_commit(self.log / f"{new_v:020d}.json", actions)
        return {"version": new_v}

    def add_constraint(self, name: str, expr: str) -> dict:
        """ALTER TABLE ADD CONSTRAINT on an external Delta table:
        verify every EXISTING row satisfies the CHECK (Delta scans
        before adding — a constraint the data already violates must
        never land), then commit `delta.constraints.<name>` with the
        protocol raised to carry checkConstraints when needed."""
        import time as _time

        snap = self.snapshot()
        self._check_write(snap, None)
        key = f"delta.constraints.{name}"
        if key in snap.configuration:
            raise DeltaProtocolError(
                f"constraint {name!r} already exists")
        viol = self.to_df().where(
            F.expr(expr) == F.lit(False)).count()
        if viol:
            raise DeltaProtocolError(
                f"{viol} existing row(s) violate CHECK ({expr}) — "
                "constraint not added")
        conf = {**snap.configuration, key: expr}
        new_md = {**snap.metadata, "configuration": conf}
        ts = int(_time.time() * 1000)
        actions: list[dict] = [{"commitInfo": {
            "timestamp": ts, "operation": "ADD CONSTRAINT",
            "operationParameters": {"name": name, "expr": expr},
        }}]
        proto = dict(snap.protocol)
        if proto.get("minWriterVersion", 2) >= 7:
            feats = list(proto.get("writerFeatures") or [])
            if "checkConstraints" not in feats:
                proto["writerFeatures"] = feats + ["checkConstraints"]
                actions.append({"protocol": proto})
        elif proto.get("minWriterVersion", 2) < 3:
            proto["minWriterVersion"] = 3
            actions.append({"protocol": proto})
        actions.append({"metaData": new_md})
        new_v = snap.version + 1
        _write_commit(self.log / f"{new_v:020d}.json", actions)
        return {"version": new_v}

    def drop_constraint(self, name: str) -> dict:
        """ALTER TABLE DROP CONSTRAINT: unset the
        `delta.constraints.<name>` configuration key."""
        snap = self.snapshot()
        key = f"delta.constraints.{name}"
        if key not in snap.configuration:
            raise DeltaProtocolError(f"constraint {name!r} does not exist")
        return self.set_properties({key: None})

    def set_domain_metadata(self, domain: str, configuration: str) -> dict:
        """Commit a `domainMetadata` action (PROTOCOL.md "Domain
        Metadata"): set ``domain``'s configuration string. System
        domains (`delta.*`) belong to the engines that define them —
        refused here so this writer never forges state other engines
        trust (a foreign `delta.clustering` domain still REPLAYS and
        survives checkpoints; it just cannot be minted externally)."""
        import time as _time

        if domain.startswith("delta."):
            raise DeltaProtocolError(
                f"system domain {domain!r} is controlled by the engine "
                "that defines it; external writers may only set user "
                "domains"
            )
        snap = self.snapshot()
        self._check_write(snap, None)
        proto = dict(snap.protocol)
        actions: list[dict] = [{"commitInfo": {
            "timestamp": int(_time.time() * 1000),
            "operation": "SET DOMAIN METADATA",
            "operationParameters": {"domain": domain},
        }}]
        if proto.get("minWriterVersion", 2) >= 7:
            feats = list(proto.get("writerFeatures") or [])
            if "domainMetadata" not in feats:
                proto["writerFeatures"] = feats + ["domainMetadata"]
                actions.append({"protocol": proto})
        else:
            # domainMetadata is features-only: upgrade to writer 7 with
            # the implied legacy features enumerated, per PROTOCOL.md
            legacy = [f for v, fs in
                      DeltaLogReader._LEGACY_WRITER_FEATURES.items()
                      if v <= proto.get("minWriterVersion", 2)
                      for f in fs]
            proto = {
                "minReaderVersion": proto.get("minReaderVersion", 1),
                "minWriterVersion": 7,
                "writerFeatures": sorted({*legacy, "domainMetadata"}),
            }
            actions.append({"protocol": proto})
        actions.append({"domainMetadata": {
            "domain": domain, "configuration": configuration,
            "removed": False,
        }})
        new_v = snap.version + 1
        _write_commit(self.log / f"{new_v:020d}.json", actions)
        return {"version": new_v}

    def remove_domain_metadata(self, domain: str) -> dict:
        """Commit a tombstoning `domainMetadata` action (removed=true)
        for a user domain."""
        import time as _time

        if domain.startswith("delta."):
            raise DeltaProtocolError(
                f"system domain {domain!r} is controlled by the engine "
                "that defines it"
            )
        snap = self.snapshot()
        self._check_write(snap, None)
        if domain not in snap.domains:
            raise DeltaProtocolError(f"domain {domain!r} is not set")
        actions = [
            {"commitInfo": {
                "timestamp": int(_time.time() * 1000),
                "operation": "REMOVE DOMAIN METADATA",
                "operationParameters": {"domain": domain},
            }},
            {"domainMetadata": {"domain": domain, "configuration": "",
                                "removed": True}},
        ]
        new_v = snap.version + 1
        _write_commit(self.log / f"{new_v:020d}.json", actions)
        return {"version": new_v}

    def checkpoint(self) -> dict:
        """Write a classic parquet checkpoint of the CURRENT snapshot +
        `_last_checkpoint` pointer — Delta's periodic checkpointing (real
        writers emit one every `checkpointInterval` commits): readers
        open from the checkpoint and replay only the JSON tail, so a
        table mutated through long external-DML/append chains keeps
        O(tail) open cost for every other client instead of O(commits).
        Refused when the in-memory state was pruned-replayed (>50k adds):
        per-file stats then live JVM-side only and a checkpoint written
        without them would permanently drop stats-based skipping for
        downstream readers. Checkpointing is a WRITE (ADVICE r11): the
        replay tracks protocol/metaData/add/remove/txn and — since the
        r12 continuation — domainMetadata (preserved via the dedicated
        checkpoint column), so on a table whose writerFeatures demand
        state beyond that (rowTracking per-add fields) the checkpoint
        would silently drop it — the shared writer-feature gate refuses
        those tables here exactly like every committing verb."""
        snap = self.snapshot()
        self._check_write(snap, None)
        if any(a.get("__statsPruned") for a in snap.files.values()):
            raise DeltaProtocolError(
                "checkpoint from a pruned replay would drop per-file "
                "stats; re-export with export_delta_log instead"
            )

        def payload(p: str, a: dict) -> dict:
            out = {k: v for k, v in a.items() if not k.startswith("__")}
            out["path"] = quote(p)
            out.setdefault("partitionValues", {})
            out.setdefault("modificationTime", 0)
            return out

        adds = sorted(
            (payload(p, a) for p, a in snap.files.items()),
            key=lambda a: a["path"],
        )
        # net remove TOMBSTONES survive in the checkpoint (PROTOCOL.md):
        # after log cleanup they are what keeps VACUUM retention keyed on
        # deletionTimestamp instead of degrading to file mtime
        live = set(snap.files)
        root = self.path.resolve()
        removes = [
            {"path": quote(str(p.relative_to(root))),
             "deletionTimestamp": ts}
            for p, ts in self._tombstones().items()
            if root in p.parents
            and str(p.relative_to(root)) not in live
        ]
        _write_checkpoint_parquet(
            self.spark, self.log, snap.version,
            protocol=snap.protocol,
            metadata=snap.metadata,
            adds=adds,
            txns={app: (v, None) for app, v in (snap.txns or {}).items()},
            removes=removes,
            domains=snap.domains,
        )
        return {
            "version": snap.version,
            "actions": len(adds) + len(removes) + 2,
        }

    # -- copy-on-write DML (delta_lake_primer.py:213-320 against an ------ #
    # -- EXTERNAL _delta_log, no LakeTable adoption required) ------------- #
    def delete(self, predicate: str, dry_run: bool = False,
               mode: str | None = None) -> dict:
        """DELETE FROM on an external Delta table. Mode resolves from
        the argument, else `delta.enableDeletionVectors=true` in the
        table configuration, else copy-on-write:

        - ``copy-on-write``: files containing matching rows are
          rewritten without them (deletion vectors on rewritten files
          are materialized away); untouched files are untouched.
          Commits native Delta JSON — removes+adds with
          dataChange=true — at version N+1.
        - ``merge-on-read`` (r12): matching rows tombstone as DELETION
          VECTORS (PROTOCOL.md "Deletion Vectors") on their files — the
          affected adds re-commit with a DV descriptor, no data
          rewritten (see `_dv_delete`).

        With delta.enableChangeDataFeed set, either mode also writes the
        deleted rows as a `cdc` change file so `table_changes` keeps
        working."""
        mode = mode or (
            "merge-on-read"
            if self.snapshot().configuration.get(
                "delta.enableDeletionVectors") == "true"
            else "copy-on-write"
        )
        if mode == "merge-on-read":
            return self._dv_delete(predicate, dry_run)
        if mode != "copy-on-write":
            raise DeltaProtocolError(
                f"unknown delete mode {mode!r} (copy-on-write or "
                "merge-on-read)")
        return self._cow_dml("DELETE", predicate, None, dry_run)

    def _dv_protocol_upgrade(self, snap: "DeltaSnapshot") -> dict | None:
        """Protocol action enabling the deletionVectors table feature,
        or None when the table already has it. Upgrading a legacy
        protocol to (3, 7) enumerates the features the old version
        implied, per PROTOCOL.md — exactly what delta-spark commits when
        delta.enableDeletionVectors turns on."""
        proto = snap.protocol
        wfeat = set(proto.get("writerFeatures") or [])
        if proto.get("minWriterVersion", 2) >= 7:
            if "deletionVectors" in wfeat:
                return None
        else:
            for v, feats in self._LEGACY_WRITER_FEATURES.items():
                if proto.get("minWriterVersion", 2) >= v:
                    wfeat.update(feats)
        rfeat = set(proto.get("readerFeatures") or [])
        if proto.get("minReaderVersion", 1) >= 2:
            rfeat.add("columnMapping")
        wfeat.add("deletionVectors")
        rfeat.add("deletionVectors")
        return {"protocol": {
            "minReaderVersion": 3,
            "minWriterVersion": 7,
            "readerFeatures": sorted(rfeat),
            "writerFeatures": sorted(wfeat),
        }}

    def _dv_delete(self, predicate: str, dry_run: bool) -> dict:
        """DELETE, merge-on-read (modern Delta's default with
        delta.enableDeletionVectors): for each file holding matching
        rows, re-commit its add with a DELETION VECTOR descriptor — a
        roaring bitmap of the deleted row ordinals, unioned with any
        existing DV on the file — plus the paired remove, dataChange
        true (the protocol's DV-update shape). Nothing is rewritten;
        write cost is O(matching rows), the scale path for sparse
        deletes over wide files. Bitmaps encode EXECUTOR-side (Arrow
        batches through `encode_dv_payload`); the driver receives only
        (file, payload, cardinality). The commit auto-upgrades a legacy
        protocol to the deletionVectors table feature, like delta-spark
        does on enablement."""
        import time as _time
        from urllib.parse import quote

        from lakehouses_spark.tables import dv as dvmod

        snap = self.snapshot()
        conf = snap.configuration
        if conf.get("delta.appendOnly") == "true":
            raise DeltaProtocolError(
                "DELETE on an appendOnly table (delta.appendOnly=true)"
            )
        self._check_write(snap, None)  # DELETE can't violate CHECKs
        plan = {"candidate_files": len(snap.files),
                "rewritten_files": 0, "dv_files": 0, "deleted_rows": 0,
                "version": snap.version}
        if not snap.files:
            return plan
        pred = F.expr(predicate)
        # ONE data pass (r12): the planning scan (_plan_affected's exact
        # half) and the position scan used to be two reads of the candidate
        # files; the position scan alone determines both the affected set
        # and the bitmaps, so plan only the partition-prune half and scan
        # once. Files with no matching rows drop out via the n_new tag.
        cand, _exact = self._plan_candidates(snap, pred, predicate)
        if cand is not None and not cand:
            return plan
        rel_of = {str((self.path / p).resolve()): p for p in snap.files}
        sub = self.to_df(_with_path=True, _with_pos=True, _paths=cand)
        matched = sub.where(pred)  # analysis validates the predicate
        if dry_run:
            return plan
        cdf_on = conf.get("delta.enableChangeDataFeed") == "true"
        if cdf_on:
            matched = matched.localCheckpoint()  # one scan feeds both

        def encode(pdf):
            import pandas as pd

            idxs = sorted({int(x) for x in pdf["__lh_pos"]})
            return pd.DataFrame({
                "fp": [pdf["__lh_fp"].iloc[0]],
                "payload": [dvmod.encode_dv_payload(idxs)],
                "card": [len(idxs)],
                "n_new": [int(pdf["__new"].sum())],
            })

        # union the files' EXISTING deleted ordinals (a DV descriptor
        # REPLACES the old one, so the new bitmap must cover both). Old
        # ordinals ride for every CANDIDATE file with a DV — to_df decoded
        # those descriptors for the scan anyway — tagged __new=False so a
        # file whose group holds only old ordinals (no matching row) is
        # dropped instead of pointlessly re-committed.
        cand_files = sorted(rel_of) if cand is None else sorted(
            cand & set(rel_of))
        old_rows = [
            (ap, idx)
            for ap in cand_files
            for idx in (
                dvmod.read_descriptor(
                    snap.files[rel_of[ap]]["deletionVector"], self.path)
                if snap.files[rel_of[ap]].get("deletionVector") else ()
            )
        ]
        pos = matched.select(
            "__lh_fp", "__lh_pos", F.lit(True).alias("__new"))
        if old_rows:
            pos = pos.unionByName(self.spark.createDataFrame(
                old_rows, "__lh_fp string, __lh_pos bigint"
            ).withColumn("__new", F.lit(False)))
        encoded = {
            r["fp"]: (bytes(r["payload"]), int(r["card"]))
            for r in pos.groupBy("__lh_fp").applyInPandas(
                encode,
                "fp string, payload binary, card long, n_new long").collect()
            if r["n_new"] > 0
        }
        if not encoded:
            return plan
        ts = int(_time.time() * 1000)
        actions: list[dict] = [{
            "commitInfo": {
                "timestamp": ts, "operation": "DELETE",
                "operationParameters": {"predicate": predicate},
            }
        }]
        upgrade = self._dv_protocol_upgrade(snap)
        if upgrade is not None:
            actions.append(upgrade)
        n_deleted = 0
        for ap in sorted(encoded):
            rel = rel_of[ap]
            old_add = snap.files[rel]
            payload, card = encoded[ap]
            prior = (old_add.get("deletionVector") or {}).get(
                "cardinality", 0)
            n_deleted += card - prior
            qp = quote(rel)
            actions.append({"remove": {
                "path": qp, "deletionTimestamp": ts, "dataChange": True,
            }})
            new_add = {k: v for k, v in old_add.items()
                       if not k.startswith("__")}
            new_add["path"] = qp
            new_add.setdefault("partitionValues", {})
            new_add["modificationTime"] = ts
            new_add["dataChange"] = True
            new_add["deletionVector"] = dvmod.make_descriptor_from_payload(
                payload, card, self.path)
            actions.append({"add": new_add})
        cdc_parts = []
        if cdf_on:
            names = [f.name for f in snap.schema.fields]
            cdc_parts.append(
                matched.select(*names)
                .withColumn("_change_type", F.lit("delete")))
        self._attach_cdc_and_commit(actions, cdc_parts, snap)
        plan["dv_files"] = len(encoded)
        plan["deleted_rows"] = n_deleted
        plan["version"] = snap.version + 1
        return plan

    def update(self, set: dict[str, str], where: str | None = None,
               dry_run: bool = False, mode: str | None = None) -> dict:
        """UPDATE ... SET on an external Delta table. Mode resolves from
        the argument, else `delta.enableDeletionVectors=true`, else
        copy-on-write:

        - ``copy-on-write``: affected files rewrite with ``set``
          applied to the matching rows (non-matching rows of the same
          file carry over verbatim).
        - ``merge-on-read`` (r12): the matching rows' OLD versions
          tombstone as deletion vectors on their files and the
          SET-applied images append as new data files in the same
          commit — unmatched rows never rewrite.

        CDF-enabled tables record update_preimage / update_postimage
        change files in either mode."""
        if not set:
            raise ValueError("update() requires at least one SET column")
        mode = mode or (
            "merge-on-read"
            if self.snapshot().configuration.get(
                "delta.enableDeletionVectors") == "true"
            else "copy-on-write"
        )
        if mode == "merge-on-read":
            return self._dv_update(set, where or "true", dry_run)
        if mode != "copy-on-write":
            raise DeltaProtocolError(
                f"unknown update mode {mode!r} (copy-on-write or "
                "merge-on-read)")
        return self._cow_dml("UPDATE", where or "true", set, dry_run)

    def _dv_update(self, set_exprs: dict[str, str], predicate: str,
                   dry_run: bool) -> dict:
        """UPDATE, merge-on-read: ONE scan of the affected files feeds
        both legs — the matching rows' (file, pos) become deletion
        vectors (bitmaps unioned with any existing DV, encoded
        executor-side) and the SET-applied images write as new ADDED
        data files — in one commit with the protocol auto-upgraded to
        the deletionVectors feature when needed. Cost is O(matching
        rows), never the affected files' full bytes."""
        import time as _time
        from urllib.parse import quote

        from lakehouses_spark.tables import dv as dvmod

        snap = self.snapshot()
        conf = snap.configuration
        if conf.get("delta.appendOnly") == "true":
            raise DeltaProtocolError(
                "UPDATE on an appendOnly table (delta.appendOnly=true)"
            )
        if row_tracking_active(snap):
            raise DeltaProtocolError(
                "merge-on-read UPDATE on a row-tracking table is not "
                "supported (the appended images would need their ids "
                "preserved) — copy-on-write UPDATE preserves row ids "
                "and is the supported path"
            )
        schema = snap.schema
        names = {f.name for f in schema.fields}
        gen = generated_columns(schema)
        for c in set_exprs:
            if c not in names:
                raise ValueError(f"unknown SET column {c!r}")
        bad = [c for c in set_exprs
               if c in gen or c in identity_columns(schema)]
        if bad:
            raise DeltaProtocolError(
                f"UPDATE SET on generated/identity column(s) {bad} — "
                "generated values recompute from their expression; "
                "identity values are writer-allocated"
            )
        plan = {"candidate_files": len(snap.files),
                "rewritten_files": 0, "dv_files": 0, "updated_rows": 0,
                "version": snap.version}
        if not snap.files:
            return plan
        pred = F.expr(predicate)
        # ONE data pass (r12, same restructure as _dv_delete): plan only
        # the partition-prune half, scan the candidates once — the
        # checkpointed match set feeds the bitmaps AND the SET-applied
        # images; files with no matching rows drop out via the n_new tag.
        cand, _exact = self._plan_candidates(snap, pred, predicate)
        if cand is not None and not cand:
            return plan
        rel_of = {str((self.path / p).resolve()): p for p in snap.files}
        sub = self.to_df(_with_path=True, _with_pos=True, _paths=cand)
        matched = sub.where(pred)  # analysis validates the predicate
        if dry_run:
            return plan
        matched = matched.localCheckpoint()

        def encode(pdf):
            import pandas as pd

            idxs = sorted({int(x) for x in pdf["__lh_pos"]})
            return pd.DataFrame({
                "fp": [pdf["__lh_fp"].iloc[0]],
                "payload": [dvmod.encode_dv_payload(idxs)],
                "card": [len(idxs)],
                "n_new": [int(pdf["__new"].sum())],
            })

        cand_files = sorted(rel_of) if cand is None else sorted(
            cand & set(rel_of))
        old_rows = [
            (ap, idx)
            for ap in cand_files
            for idx in (
                dvmod.read_descriptor(
                    snap.files[rel_of[ap]]["deletionVector"], self.path)
                if snap.files[rel_of[ap]].get("deletionVector") else ()
            )
        ]
        pos = matched.select(
            "__lh_fp", "__lh_pos", F.lit(True).alias("__new"))
        if old_rows:
            pos = pos.unionByName(self.spark.createDataFrame(
                old_rows, "__lh_fp string, __lh_pos bigint"
            ).withColumn("__new", F.lit(False)))
        encoded = {
            r["fp"]: (bytes(r["payload"]), int(r["card"]))
            for r in pos.groupBy("__lh_fp").applyInPandas(
                encode,
                "fp string, payload binary, card long, n_new long").collect()
            if r["n_new"] > 0
        }
        if not encoded:
            return plan
        # the SET-applied images, checked like every row-writing verb
        new_rows = matched.select(*[
            F.expr(set_exprs[f.name]).cast(f.dataType).alias(f.name)
            if f.name in set_exprs else F.col(f.name)
            for f in schema.fields
        ])
        if gen:  # recompute generated columns over the post-SET row
            new_rows = new_rows.withColumns({
                g: F.expr(e).cast(schema[g].dataType)
                for g, e in gen.items()
            })
        self._check_write(snap, new_rows)
        mapping_mode = conf.get("delta.columnMapping.mode", "none")
        phys_of: dict[str, str] = {}
        out = new_rows
        if mapping_mode in ("name", "id"):
            for f in json.loads(snap.metadata["schemaString"]).get(
                    "fields", []):
                phys = (f.get("metadata") or {}).get(
                    "delta.columnMapping.physicalName")
                if phys and phys != f["name"]:
                    phys_of[f["name"]] = phys
                    out = out.withColumnRenamed(f["name"], phys)
        part_cols = [
            phys_of.get(c, c) for c in snap.partition_columns
        ] or None
        ts = int(_time.time() * 1000)
        actions: list[dict] = [{
            "commitInfo": {
                "timestamp": ts, "operation": "UPDATE",
                "operationParameters": {"predicate": predicate},
            }
        }]
        upgrade = self._dv_protocol_upgrade(snap)
        if upgrade is not None:
            actions.append(upgrade)
        n_updated = 0
        for ap in sorted(encoded):
            rel = rel_of[ap]
            old_add = snap.files[rel]
            payload, card = encoded[ap]
            prior = (old_add.get("deletionVector") or {}).get(
                "cardinality", 0)
            n_updated += card - prior
            qp = quote(rel)
            actions.append({"remove": {
                "path": qp, "deletionTimestamp": ts, "dataChange": True,
            }})
            new_add = {k: v for k, v in old_add.items()
                       if not k.startswith("__")}
            new_add["path"] = qp
            new_add.setdefault("partitionValues", {})
            new_add["modificationTime"] = ts
            new_add["dataChange"] = True
            new_add["deletionVector"] = dvmod.make_descriptor_from_payload(
                payload, card, self.path)
            actions.append({"add": new_add})
        adds = self._write_data_files(out, "update", ts,
                                      data_change=True,
                                      part_cols=part_cols)
        actions.extend(adds)
        cdc_parts: list[DataFrame] = []
        if conf.get("delta.enableChangeDataFeed") == "true":
            lognames = [f.name for f in schema.fields]
            cdc_parts.append(
                matched.select(*lognames)
                .withColumn("_change_type", F.lit("update_preimage")))
            cdc_parts.append(new_rows.withColumn(
                "_change_type", F.lit("update_postimage")))
        self._attach_cdc_and_commit(actions, cdc_parts, snap)
        plan["dv_files"] = len(encoded)
        plan["updated_rows"] = n_updated
        plan["added_files"] = len(adds)
        plan["version"] = snap.version + 1
        return plan

    def _materialized_row_cols(self, snap: "DeltaSnapshot",
                                ) -> tuple[str, str, dict | None]:
        """The configured materialized row-id / row-commit-version
        column names (PROTOCOL.md "Row Tracking"), minting fresh unique
        names into the configuration when the table has none yet —
        returned new_metadata rides the same commit as the first
        preserving rewrite."""
        conf = snap.configuration
        mid = conf.get("delta.rowTracking.materializedRowIdColumnName")
        mrcv = conf.get(
            "delta.rowTracking.materializedRowCommitVersionColumnName")
        if mid and mrcv:
            return mid, mrcv, None
        suffix = uuid.uuid4().hex[:8]
        mid = mid or f"_row-id-col-{suffix}"
        mrcv = mrcv or f"_row-commit-version-col-{suffix}"
        new_md = {**snap.metadata, "configuration": {
            **conf,
            "delta.rowTracking.materializedRowIdColumnName": mid,
            "delta.rowTracking."
            "materializedRowCommitVersionColumnName": mrcv,
        }}
        return mid, mrcv, new_md

    def _cow_dml(self, op: str, predicate: str,
                 set_exprs: dict[str, str] | None,
                 dry_run: bool) -> dict:
        """Shared COW rewrite: plan affected files (one distributed scan
        keyed by `_metadata.file_path`), rewrite only those, commit
        removes+adds (+cdc when CDF is on). O(affected files) driver
        state; the rewrite is one distributed pass over affected data.

        Hive-partitioned tables rewrite per partition: the planning scan
        reconstructs partition columns (so predicates may reference
        them), and the rewrite writes `partitionBy` — rewritten rows land
        back in their partition directories with partitionValues stamped
        on each add (an UPDATE that SETs a partition column moves rows to
        their new partitions, like Delta). appendOnly tables are refused
        per the Delta protocol."""
        import time as _time
        from urllib.parse import quote

        snap = self.snapshot()
        conf = snap.configuration
        if conf.get("delta.appendOnly") == "true":
            raise DeltaProtocolError(
                f"{op} on an appendOnly table (delta.appendOnly=true)"
            )
        schema = snap.schema
        gen = generated_columns(schema)
        if set_exprs:
            for c in set_exprs:
                if c not in {f.name for f in schema.fields}:
                    raise ValueError(f"unknown SET column {c!r}")
            bad = [c for c in set_exprs
                   if c in gen or c in identity_columns(schema)]
            if bad:
                raise DeltaProtocolError(
                    f"UPDATE SET on generated/identity column(s) {bad} — "
                    "generated values recompute from their expression; "
                    "identity values are writer-allocated"
                )
        plan = {"candidate_files": len(snap.files), "rewritten_files": 0,
                "version": snap.version}
        if not snap.files:
            return plan
        pred = F.expr(predicate)
        affected = self._plan_affected(snap, pred, predicate)
        plan["rewritten_files"] = len(affected)
        if dry_run or not affected:
            return plan
        rel_of = {
            str((self.path / p).resolve()): p for p in snap.files
        }
        # the rewrite pass lists and scans ONLY the affected files.
        # On a row-tracking table the scan also carries each row's id /
        # commit version so the rewrite can PRESERVE them (PROTOCOL.md:
        # copied rows keep both; modified rows keep the id, their
        # commit version becomes this commit) via the materialized
        # columns — extra data columns the readers coalesce.
        rt = row_tracking_active(snap)
        mat_md = None
        if rt:
            mid_c, mrcv_c, mat_md = self._materialized_row_cols(snap)
        sub = self.to_df(_with_path=True, _paths=set(affected),
                         _with_row_ids=rt)
        cdf_on = conf.get("delta.enableChangeDataFeed") == "true"
        cdc_parts: list[DataFrame] = []
        rid_cols = ["__lh_row_id", "__lh_rcv"] if rt else []
        if op == "DELETE":
            # keep rows unless the predicate is TRUE — `~pred` alone would
            # also drop rows where pred evaluates to NULL (e.g. DELETE
            # WHERE x = 5 on a file holding x IS NULL), which real Delta
            # keeps (DeleteCommand filters on !(cond <=> true))
            new_rows = sub.where(
                ~pred.eqNullSafe(F.lit(True))).drop("__lh_fp")
            if rt:  # kept rows are pure copies: preserve id AND version
                new_rows = (
                    new_rows.withColumnRenamed("__lh_row_id", mid_c)
                    .withColumnRenamed("__lh_rcv", mrcv_c))
            if cdf_on:
                cdc_parts.append(
                    sub.where(pred).drop("__lh_fp", *rid_cols)
                    .withColumn("_change_type", F.lit("delete"))
                )
        else:
            if rt:  # the modified-marker, evaluated on PRE-update values
                sub = sub.withColumn(
                    "__lh_mod", pred.eqNullSafe(F.lit(True)))
            if cdf_on:
                pre = sub.where(pred).drop("__lh_fp", "__lh_mod",
                                           *rid_cols)
                cdc_parts.append(
                    pre.withColumn("_change_type", F.lit("update_preimage"))
                )
            new_rows = sub.withColumns({
                c: F.when(pred, F.expr(e)).otherwise(F.col(c))
                for c, e in (set_exprs or {}).items()
            }).drop("__lh_fp")
            if rt:
                # every rewritten row keeps its id; only UNMODIFIED rows
                # keep their commit version (modified rows default to
                # this commit's version via the add)
                new_rows = (
                    new_rows.withColumn(mid_c, F.col("__lh_row_id"))
                    .withColumn(mrcv_c, F.when(
                        F.col("__lh_mod"),
                        F.lit(None).cast("long")).otherwise(
                        F.col("__lh_rcv")))
                    .drop("__lh_mod", "__lh_row_id", "__lh_rcv"))
            if gen:
                # recompute generated columns over the post-SET row
                # (chained projection, so expressions see the new
                # values); untouched rows already satisfy value==expr,
                # so the blanket recompute is the identity for them
                new_rows = new_rows.withColumns({
                    g: F.expr(e).cast(schema[g].dataType)
                    for g, e in gen.items()
                })
            if cdf_on:
                post = sub.where(pred).withColumns({
                    c: F.expr(e) for c, e in (set_exprs or {}).items()
                }).drop("__lh_fp", "__lh_mod", *rid_cols)
                if gen:
                    post = post.withColumns({
                        g: F.expr(e).cast(schema[g].dataType)
                        for g, e in gen.items()
                    })
                cdc_parts.append(post.withColumn(
                    "_change_type", F.lit("update_postimage")))
        plan["version"] = self._commit_dml(
            op, {"predicate": predicate}, new_rows,
            [rel_of[ap] for ap in affected], cdc_parts, snap,
            new_metadata=mat_md,
        )
        return plan

    def _plan_affected(self, snap: "DeltaSnapshot", pred: Column,
                       predicate_sql: str | None = None) -> list[str]:
        """Absolute paths of the live files holding rows where ``pred``
        is TRUE. A predicate referencing ONLY partition columns plans
        from ``partitionValues`` — classic partition pruning, zero data
        read (every row of a file shares its tuple, so tuple-TRUE is
        exactly rows-TRUE); the tuples job is O(files) driver rows, not
        a table scan. A MIXED predicate (r12) first prunes candidates
        by its partition-only top-level AND conjuncts — a matching row
        satisfies every conjunct, so the intersection stays a sound
        superset — then runs the exact scan over the candidates only.
        Only a predicate with no evaluable conjunct falls back to the
        full one-pass scan keyed by `_metadata.file_path`."""
        cand, exact = self._plan_candidates(snap, pred, predicate_sql)
        if exact:
            return sorted(cand)
        if cand is not None and not cand:
            return []
        df = self.to_df(_with_path=True, _paths=cand)
        hits = df.where(pred).select("__lh_fp").distinct()
        return [r["__lh_fp"] for r in collect_affected(
            hits, len(snap.files) if cand is None else len(cand))]

    def _plan_candidates(
        self, snap: "DeltaSnapshot", pred: Column,
        predicate_sql: str | None = None,
    ) -> tuple[set[str] | None, bool]:
        """Partition-pruning half of `_plan_affected` (r12, shared with
        the one-pass merge-on-read verbs): (candidate absolute paths,
        exact). ``exact`` means the predicate was partition-only and the
        set IS the affected list (zero data read); ``None`` candidates
        mean no conjunct was partition-evaluable (scan everything)."""
        schema = snap.schema
        part_cols = snap.partition_columns
        cand: set[str] | None = None
        if part_cols:
            mapping_mode = snap.configuration.get(
                "delta.columnMapping.mode", "none")
            by_name = {f.name: f for f in schema.fields}

            def phys(f: StructField) -> str:
                if mapping_mode in ("name", "id"):
                    return f.metadata.get(
                        "delta.columnMapping.physicalName", f.name)
                return f.name

            rows = []
            for path, a in snap.files.items():
                pv = a.get("partitionValues") or {}
                rows.append((
                    str((self.path / path).resolve()),
                    *[pv[c] if c in pv else pv.get(phys(by_name[c]))
                      for c in part_cols],
                ))
            tuples = self.spark.createDataFrame(
                rows, StructType(
                    [StructField("__lh_fp", StringType())]
                    + [StructField(f"__lh_pv_{i}", StringType())
                       for i in range(len(part_cols))]))
            for i, c in enumerate(part_cols):
                tuples = tuples.withColumn(
                    c, F.col(f"__lh_pv_{i}").cast(by_name[c].dataType))

            def tuple_hits(expr) -> set[str] | None:
                try:
                    with _quiet_analysis_probe():
                        # analysis raises if the expression references
                        # any non-partition column -> no constraint
                        return {r["__lh_fp"] for r in tuples.where(expr)
                                .select("__lh_fp").collect()}
                except Exception:
                    return None

            hit, exact = conjunct_candidates(
                tuple_hits, pred, predicate_sql)
            if exact:
                return hit, True
            cand = hit  # None when no conjunct was partition-only
        return cand, False

    def _commit_dml(self, op: str, params: dict[str, str],
                    new_rows: DataFrame, removed_rels: list[str],
                    cdc_parts: list[DataFrame], snap: "DeltaSnapshot",
                    new_metadata: dict | None = None) -> int:
        """Assemble and write one DML commit: physical-name the output
        under column mapping, write the rewritten/inserted rows as data
        files (footer stats on every add), tombstone the removed files,
        attach cdc change files, commit version N+1 (with the widened
        metaData action first when a schema-evolving MERGE passes one).
        Returns the new version."""
        import time as _time
        from urllib.parse import quote

        conf = snap.configuration
        # DELETE keeps existing rows only — it can't introduce a CHECK
        # violation; UPDATE/MERGE rewrites can (r11 review)
        self._check_write(snap, None if op == "DELETE" else new_rows)
        mapping_mode = conf.get("delta.columnMapping.mode", "none")
        phys_of: dict[str, str] = {}
        if mapping_mode in ("name", "id"):
            for f in json.loads(snap.metadata["schemaString"]).get(
                    "fields", []):
                phys = (f.get("metadata") or {}).get(
                    "delta.columnMapping.physicalName")
                if phys and phys != f["name"]:
                    phys_of[f["name"]] = phys
                    new_rows = new_rows.withColumnRenamed(f["name"], phys)
                    cdc_parts = [
                        p.withColumnRenamed(f["name"], phys)
                        for p in cdc_parts
                    ]
        # physical names post-rename; partitionValues key by physical
        # under column mapping, per the Delta spec
        part_cols = [
            phys_of.get(c, c) for c in snap.partition_columns
        ] or None
        ts = int(_time.time() * 1000)
        actions: list[dict] = [{
            "commitInfo": {
                "timestamp": ts, "operation": op,
                "operationParameters": params,
            }
        }]
        if new_metadata is not None:
            actions.append({"metaData": new_metadata})
        adds = self._write_data_files(new_rows, op.lower(), ts,
                                      data_change=True, part_cols=part_cols)
        actions.extend(adds)
        dm = stamp_row_ids(snap, adds, snap.version + 1)
        if dm is not None:
            actions.append(dm)
        for rel in removed_rels:
            actions.append({"remove": {
                "path": quote(rel), "deletionTimestamp": ts,
                "dataChange": True,
            }})
        return self._attach_cdc_and_commit(
            actions, cdc_parts, snap, part_cols, _renamed=True)

    def _attach_cdc_and_commit(self, actions: list[dict],
                               cdc_parts: list[DataFrame],
                               snap: "DeltaSnapshot",
                               part_cols: list[str] | None = None,
                               _renamed: bool = False) -> int:
        """Shared commit tail (r12): physical-name the change images
        under column mapping (unless the caller already did), write
        per-task partitioned change files + their cdc actions, commit
        version N+1. Used by `_commit_dml` and the DV delete."""
        from urllib.parse import quote

        if not _renamed and cdc_parts:
            conf = snap.configuration
            phys_of: dict[str, str] = {}
            if conf.get("delta.columnMapping.mode", "none") in (
                    "name", "id"):
                for f in json.loads(snap.metadata["schemaString"]).get(
                        "fields", []):
                    phys = (f.get("metadata") or {}).get(
                        "delta.columnMapping.physicalName")
                    if phys and phys != f["name"]:
                        phys_of[f["name"]] = phys
                        cdc_parts = [
                            p.withColumnRenamed(f["name"], phys)
                            for p in cdc_parts
                        ]
            part_cols = [
                phys_of.get(c, c) for c in snap.partition_columns
            ] or None
        if cdc_parts:
            cdc_df = cdc_parts[0]
            for p in cdc_parts[1:]:
                cdc_df = cdc_df.unionByName(p)
            cdc_dir = self.path / "_change_data"
            cdc_dir.mkdir(exist_ok=True)
            tmp = self.path / f".tmp-cdc-{uuid.uuid4().hex}"
            # per-task change files (the loop below registers every
            # part) — funneling a wide UPDATE's pre+post images through
            # coalesce(1) is a straggler by construction at scale.
            # Partitioned tables partition the change files too (the
            # spec's layout for _change_data), partitionValues stamped
            # per cdc action like the data adds.
            if part_cols:
                cdc_df.write.partitionBy(*part_cols).parquet(str(tmp))
            else:
                cdc_df.write.parquet(str(tmp))
            for part in sorted(
                    p for p in tmp.rglob("part-*.parquet") if p.is_file()):
                pv = hive_partition_values(part.relative_to(tmp).parts[:-1])
                rel = f"_change_data/cdc-{uuid.uuid4().hex[:12]}.parquet"
                os.replace(part, self.path / rel)
                actions.append({"cdc": {
                    "path": quote(rel), "partitionValues": pv,
                    "size": (self.path / rel).stat().st_size,
                    "dataChange": False,
                }})
            shutil.rmtree(tmp, ignore_errors=True)
        new_v = snap.version + 1
        _write_commit(self.log / f"{new_v:020d}.json", actions)
        return new_v

    def merge(
        self,
        source: DataFrame,
        on: str,
        when_matched_update: dict[str, str] | str | None = "all",
        when_not_matched_insert: dict[str, str] | str | None = "all",
        when_matched_delete: bool = False,
        schema_evolution: bool = False,
    ) -> dict:
        """MERGE INTO on an external Delta table, copy-on-write — the
        same clause surface as `LakeTable.merge`
        (02.delta_lake_primer.py:312-320): `on` references columns as
        t.<col> / s.<col>; only files containing matched rows rewrite,
        inserts append as new files. Multiple source rows matching one
        target row with an update clause raise, like Delta. CDF-enabled
        tables record the matched/insert change images. A source with
        columns beyond the table schema refuses unless
        ``schema_evolution`` (Delta's `withSchemaEvolution`, VERDICT
        r11 #4): the commit then also carries a metaData action with
        the widened schema — new columns nullable, untouched files read
        them as NULL (refused under column mapping: physical-name/id
        minting belongs to the owning writer).

        Generated columns recompute from their expression on every
        written row (GENERATED ALWAYS — clauses may not target them);
        identity columns allocate on the insert leg and are protected
        from UPDATE-* overwrite.

        Planning, shared with the other two planes: a source that is not
        already data is materialized once (`merge_source`), and ONE
        bounded pass over target ⋈ source keyed by `_metadata.file_path`
        finds the affected files and, under an update clause, the
        multiple-match error (`merge_affected_files`), before anything is
        written. The rewritten rows, the inserts (cast to the table
        types) and the CDF images come from the clause engine shared with
        `LakeTable.merge` (`merge_clauses`); this method keeps identity
        allocation, generated columns, the column-mapping checks and the
        commit. 100 TB shape: the rewrite and the insert anti-join read
        only the affected files — O(affected + inserts), never the
        table."""
        snap = self.snapshot()
        conf = snap.configuration
        if conf.get("delta.appendOnly") == "true":
            raise DeltaProtocolError(
                "MERGE on an appendOnly table (delta.appendOnly=true)"
            )
        if row_tracking_active(snap):
            raise DeltaProtocolError(
                "MERGE on a row-tracking table is not supported: the "
                "rewritten-file leg mixes copied and modified rows, "
                "whose commit-version bookkeeping differs — use MOR "
                "DELETE + append, or UPDATE/DELETE + append"
            )
        schema = snap.schema
        names = [f.name for f in schema.fields]
        extra = [c for c in source.columns if c not in names]
        new_metadata: dict | None = None
        if extra and not schema_evolution:
            raise DeltaProtocolError(
                f"MERGE source columns {extra} are not in the table "
                "schema; pass schema_evolution=True (Delta's "
                "withSchemaEvolution) to evolve it"
            )
        if extra:
            if conf.get("delta.columnMapping.mode", "none") in (
                    "name", "id"):
                raise DeltaProtocolError(
                    "schema-evolving MERGE on a column-mapped table is "
                    "not supported (physical-name/id minting belongs to "
                    "the owning writer) — adopt via convert_from_delta"
                )
            schema_json = json.loads(snap.metadata["schemaString"])
            for c in extra:
                schema_json["fields"].append({
                    "name": c,
                    "type": source.schema[c].dataType.jsonValue(),
                    "nullable": True, "metadata": {},
                })
            new_metadata = {
                **snap.metadata, "schemaString": json.dumps(schema_json),
            }
            schema = StructType.fromJson(schema_json)

        gen = generated_columns(schema)
        idc = identity_columns(schema)
        for clause in (when_matched_update, when_not_matched_insert):
            if isinstance(clause, dict):
                bad = [c for c in clause if c in gen or c in idc]
                if bad:
                    raise DeltaProtocolError(
                        f"MERGE clause targets generated/identity "
                        f"column(s) {bad} — generated values recompute "
                        "from their expression; identity values are "
                        "writer-allocated"
                    )
        if idc and when_matched_update == "all":
            clash = [c for c in idc if c in source.columns]
            if clash:
                raise DeltaProtocolError(
                    f"MERGE UPDATE * would overwrite identity column(s) "
                    f"{clash} from the source — drop them from the "
                    "source frame or use an explicit SET clause"
                )
        # one evaluation of the source feeds every leg; it and the insert
        # set's checkpoint are released once the MERGE commits or raises
        with ExitStack() as held:
            source = held.enter_context(merge_source(source))
            cond = F.expr(on)
            src = source.alias("s")
            affected = merge_affected_files(
                self.to_df(_with_path=True), src, cond, "__lh_fp",
                len(snap.files),
                check_dups=bool(when_matched_update) and not when_matched_delete,
                err_cls=DeltaProtocolError,
            ) if snap.files else []
            plan = {"candidate_files": len(snap.files),
                    "rewritten_files": len(affected),
                    "version": snap.version}
            rel_of = {str((self.path / p).resolve()): p for p in snap.files}
            cdf_on = conf.get("delta.enableChangeDataFeed") == "true"
            if when_not_matched_insert:
                merge_insert_required_check(
                    schema.fields, source.columns, when_not_matched_insert,
                    DeltaProtocolError, computed=set(gen) | set(idc))
            # the rewrite and the insert anti-join read ONLY the matched files
            rewritten, ins, images = merge_clauses(
                self.to_df(_paths=set(affected)) if affected else None, src,
                cond, schema, when_matched_update, when_matched_delete,
                when_not_matched_insert, cdf=cdf_on,
            )
            out_parts = [] if rewritten is None else [rewritten]
            cdc_parts = [df.withColumn("_change_type", F.lit(ct))
                         for df, ct in images]
            n_inserted = 0
            new_hwms: dict[str, int] = {}
            if ins is not None:
                # single-pass insert leg (VERDICT r11): the count
                # materializes the anti-join (a lazy checkpoint: no job of
                # its own); the COW write and the CDF image read its blocks
                ins = ins.localCheckpoint(eager=False)
                held.callback(release_checkpoint, ins)
                n_inserted = ins.count()
                if n_inserted:
                    covered = (set(source.columns)
                               if when_not_matched_insert == "all"
                               else set(when_not_matched_insert))
                    for c, info in idc.items():
                        if c in covered:
                            if not info["allow"]:
                                raise DeltaProtocolError(
                                    f"identity column {c!r} does not allow "
                                    "explicit inserts — drop it from the "
                                    "MERGE source"
                                )
                            agg = (F.max(c) if info["step"] > 0
                                   else F.min(c))
                            mx = ins.agg(agg).first()[0]
                            if mx is not None and (
                                    info["hwm"] is None
                                    or (mx > info["hwm"] if info["step"] > 0
                                        else mx < info["hwm"])):
                                new_hwms[c] = int(mx)
                        else:
                            ins, hw = allocate_identity(
                                ins, c, info["start"], info["step"],
                                info["hwm"])
                            ins = ins.withColumn(
                                c, F.col(c).cast(schema[c].dataType))
                            new_hwms[c] = hw
                    out_parts.append(ins)
                    if cdf_on:
                        cdc_parts.append(ins.withColumn(
                            "_change_type", F.lit("insert")))
            plan["inserted_rows"] = n_inserted
            if not affected and not n_inserted:
                return plan
            if new_hwms:
                new_metadata = bump_identity_metadata(
                    new_metadata if new_metadata is not None
                    else snap.metadata, new_hwms)
            new_rows = out_parts[0]
            for p in out_parts[1:]:
                new_rows = new_rows.unionByName(p)
            if gen:
                # GENERATED ALWAYS: every written row recomputes from the
                # expression (clauses may not target these columns, checked
                # above) — matched carry-over rows already satisfy
                # value==expr, so the blanket recompute is their identity
                new_rows = new_rows.withColumns({
                    g: F.expr(e).cast(schema[g].dataType)
                    for g, e in gen.items()
                })
                cdc_parts = [p.withColumns({
                    g: F.expr(e).cast(schema[g].dataType)
                    for g, e in gen.items()
                }) for p in cdc_parts]
            plan["version"] = self._commit_dml(
                "MERGE", {"predicate": on}, new_rows,
                [rel_of[ap] for ap in affected], cdc_parts, snap,
                new_metadata=new_metadata,
            )
            return plan

    def restore(self, version: int) -> dict:
        """RESTORE TABLE ... TO VERSION AS OF on an external Delta table:
        a metadata-only commit re-adding the target snapshot's file set —
        adds for files live then but not now, removes for files live now
        but not then, both dataChange=true (Delta's RestoreTableCommand);
        files present in both snapshots with identical add payloads are
        untouched. Data is never copied; time travel to every prior
        version still works."""
        import time as _time
        from urllib.parse import quote

        cur = self.snapshot()
        self._check_write(cur, None)  # writer-feature gate
        tgt = self.snapshot(version)
        missing = [
            p for p in tgt.files
            if not (self.path / p).exists()
        ]
        if missing:
            raise DeltaProtocolError(
                f"cannot restore to version {version}: {len(missing)} "
                f"data file(s) were vacuumed (first: {missing[0]})"
            )

        def payload(a: dict) -> dict:
            return {k: v for k, v in a.items() if not k.startswith("__")}

        ts = int(_time.time() * 1000)
        actions: list[dict] = [{
            "commitInfo": {
                "timestamp": ts, "operation": "RESTORE",
                "operationParameters": {"version": str(version)},
            }
        }]
        # Delta's RestoreTableCommand also restores the target version's
        # metaData (schema / partitionColumns / configuration); without
        # this, restoring across a metadata change would leave the newer
        # schema over the old files
        if payload(cur.metadata) != payload(tgt.metadata):
            actions.append({"metaData": payload(tgt.metadata)})
        n_add = n_rm = 0
        for p, a in tgt.files.items():
            c = cur.files.get(p)
            if c is None or payload(c) != payload(a):
                actions.append({"add": {
                    **payload(a), "path": quote(p), "dataChange": True,
                }})
                n_add += 1
        for p in cur.files:
            if p not in tgt.files:
                actions.append({"remove": {
                    "path": quote(p), "deletionTimestamp": ts,
                    "dataChange": True,
                }})
                n_rm += 1
        new_v = cur.version + 1
        _write_commit(self.log / f"{new_v:020d}.json", actions)
        return {"restored_to": version, "version": new_v,
                "added_files": n_add, "removed_files": n_rm}

    def _tombstones(self) -> dict[Path, int]:
        """Remove-action tombstones: resolved data-file path → latest
        ``deletionTimestamp`` (ms; a remove without one counts as 0,
        i.e. immediately eligible — Delta's ``getOrElse(0L)``). Sources:
        every commit JSON still present plus every checkpoint parquet
        (after log cleanup, unexpired tombstones survive only in the
        checkpoint, exactly where real Delta retains them). One narrow
        JVM-side scan per format — only (path, ts) pairs reach the
        driver, O(tombstones) memory regardless of stats size."""
        remove_schema = "remove struct<path:string,deletionTimestamp:bigint>"
        sources: list[DataFrame] = []
        json_paths = [str(self.log / f"{v:020d}.json") for v in self.versions()]
        if json_paths:
            sources.append(
                self.spark.read.schema(remove_schema).json(json_paths)
            )
        ckpt_paths = [str(p) for p in self.log.glob("*.checkpoint*.parquet")]
        # v2 checkpoints keep file actions (incl. remove tombstones) in
        # sidecars — scan those too
        ckpt_paths += [str(p) for p in self.log.glob("_sidecars/*.parquet")]
        if ckpt_paths:
            # explicit schema subset: checkpoints lacking a `remove`
            # column (or with extra fields) read as nulls, not errors
            sources.append(
                self.spark.read.schema(remove_schema).parquet(*ckpt_paths)
            )
        tomb: dict[Path, int] = {}
        for df in sources:
            rows = (
                df.where(F.col("remove.path").isNotNull())
                .groupBy(F.col("remove.path").alias("p"))
                .agg(F.max(F.coalesce(
                    F.col("remove.deletionTimestamp"), F.lit(0)
                )).alias("ts"))
                .collect()
            )
            for r in rows:
                key = (self.path / unquote(r.p)).resolve()
                tomb[key] = max(tomb.get(key, 0), r.ts)
        return tomb

    def vacuum(self, retention_hours: float = 168.0,
               dry_run: bool = False) -> dict:
        """Delta's VACUUM on an external table: delete every data file
        under the table root that the CURRENT snapshot no longer
        references and whose remove-action ``deletionTimestamp`` is older
        than ``retention_hours`` (default 168 = Delta's 7-day guard
        against in-flight readers/writers) — matching Delta's
        VacuumCommand, which protects tombstones by when the REMOVE was
        committed, not by file mtime (exports hard-link/copy2 data files,
        preserving mtimes far older than their tombstones; mtime-based
        retention would reclaim a just-OPTIMIZEd file immediately). Files
        the log never tracked fall back to the mtime clock. Deletion-
        vector sidecars the current snapshot's descriptors point at are
        kept; `_delta_log/` and `_change_data/` are never candidates (the
        log has its own retention; change files serve `table_changes`
        until then) — the same exclusions real VACUUM applies. After a
        vacuum, time travel to versions whose files were reclaimed fails,
        exactly Delta's documented trade-off.

        100 TB shape: the keep-set is the live-file index the reader
        already holds (O(live files)); tombstones arrive from one narrow
        JVM-side scan (O(tombstones) driver memory); candidates come from
        the same listing a real vacuum pays; files are unlinked, never
        read."""
        import time as _time

        if retention_hours < 0:
            raise ValueError("retention_hours must be >= 0")
        cutoff_ms = int(_time.time() * 1000) - retention_hours * 3600 * 1000
        snap = self.snapshot()
        keep: set[Path] = set()
        for rel, a in snap.files.items():
            keep.add((self.path / rel).resolve())
            dv = a.get("deletionVector")
            if dv and dv.get("storageType") == "u":
                import uuid as _uuid

                from lakehouses_spark.tables.dv import z85_decode

                enc = dv["pathOrInlineDv"]
                prefix, uuid_part = enc[:-20], enc[-20:]
                u = _uuid.UUID(bytes=z85_decode(uuid_part))
                name = f"deletion_vector_{u}.bin"
                keep.add(
                    ((self.path / prefix / name) if prefix
                     else (self.path / name)).resolve()
                )
        skip_dirs = {DELTA_LOG_DIR, "_change_data"}
        tomb = self._tombstones()

        def _eligible(p: Path) -> bool:
            ts = tomb.get(p.resolve())
            if ts is not None:
                return ts < cutoff_ms
            return int(p.stat().st_mtime * 1000) < cutoff_ms

        victims = sorted(
            p for p in self.path.rglob("*")
            if p.is_file()
            and not (set(p.relative_to(self.path).parts) & skip_dirs)
            and p.resolve() not in keep
            and _eligible(p)
        )
        if not dry_run:
            for p in victims:
                p.unlink(missing_ok=True)
        return {
            "files": [str(p.relative_to(self.path)) for p in victims],
            "deleted": 0 if dry_run else len(victims),
        }

    def table_changes(
        self,
        starting_version: int,
        ending_version: int | None = None,
    ) -> DataFrame:
        """CDF read over an exported/foreign Delta log (Delta's
        `table_changes`): per commit in the closed range, rows from its
        `cdc` actions' change files (which carry `_change_type`); commits
        whose only data actions are dataChange=true adds derive `insert`
        rows (Delta's blind-append optimization); commits with no
        dataChange actions contribute nothing (OPTIMIZE, metadata). A
        commit with data removes and no recorded change data raises — the
        log predates the table's CDF enablement.

        Change files written under column mapping may store physical
        names; each logical column resolves logical-name-first, then
        physical, so both this exporter's logical-named files and
        spec-strict physical-named files read identically."""
        versions = self.versions()
        if ending_version is None:
            ending_version = max(versions) if versions else starting_version
        snap = self.snapshot(ending_version)
        schema = snap.schema
        mapping_mode = snap.configuration.get("delta.columnMapping.mode", "none")

        def phys_name(f: StructField) -> str:
            if mapping_mode in ("name", "id"):
                return f.metadata.get("delta.columnMapping.physicalName", f.name)
            return f.name

        out_cols = [f.name for f in schema.fields] + [
            "_change_type", "_commit_version", "_commit_timestamp",
        ]
        parts: list[DataFrame] = []
        for v in range(starting_version, ending_version + 1):
            if v not in versions:
                raise DeltaProtocolError(
                    f"table_changes({starting_version}, {ending_version}): "
                    f"commit JSON for version {v} is gone (log cleaned up) — "
                    "CDF ranges must lie within the retained commits"
                )
            actions = self._commit_actions(v)
            ts = next(
                (a["commitInfo"].get("timestamp") for a in actions
                 if "commitInfo" in a), None,
            )
            cdc = [a["cdc"] for a in actions if "cdc" in a]
            adds = [a["add"] for a in actions
                    if "add" in a and a["add"].get("dataChange", True)]
            removes = [a["remove"] for a in actions
                       if "remove" in a
                       and a["remove"].get("dataChange", True)]
            piece = None
            if cdc:
                files = [str(self.path / unquote(c["path"])) for c in cdc]
                raw = self.spark.read.parquet(*files)
                part_missing = [
                    f for f in schema.fields
                    if f.name in snap.partition_columns
                    and f.name not in raw.columns
                    and phys_name(f) not in raw.columns
                ]
                if part_missing:
                    # partitioned change files: partition columns live
                    # in the cdc actions' partitionValues (keyed by
                    # physical name under column mapping), not the files
                    pv_rows = []
                    for c_act in cdc:
                        ap = str(
                            (self.path / unquote(c_act["path"])).resolve())
                        pvs = c_act.get("partitionValues") or {}
                        pv_rows.append((ap, *[
                            pvs[phys_name(f)] if phys_name(f) in pvs
                            else pvs.get(f.name)
                            for f in part_missing
                        ]))
                    map_df = self.spark.createDataFrame(
                        pv_rows, StructType(
                            [StructField("__lh_fp", StringType())]
                            + [StructField(f"__lh_pv_{i}", StringType())
                               for i in range(len(part_missing))]))
                    raw = (raw.withColumn("__lh_fp", fs_path_col())
                           .join(F.broadcast(map_df), "__lh_fp"))
                    for i, f in enumerate(part_missing):
                        raw = raw.withColumn(
                            f.name, F.col(f"__lh_pv_{i}").cast(f.dataType))
                sel = []
                for f in schema.fields:
                    if f.name in raw.columns:
                        sel.append(F.col(f.name))
                    elif phys_name(f) in raw.columns:
                        sel.append(F.col(phys_name(f)).alias(f.name))
                    else:
                        sel.append(F.lit(None).cast(f.dataType).alias(f.name))
                piece = raw.select(*sel, F.col("_change_type"))
            elif adds and not removes:
                paths = [str(self.path / unquote(a["path"])) for a in adds]
                phys_schema = StructType([
                    StructField(phys_name(f), f.dataType, f.nullable)
                    for f in schema.fields
                    if f.name not in snap.partition_columns
                ])
                raw = self.spark.read.schema(phys_schema).parquet(*paths)
                sel = [
                    F.col(phys_name(f)).alias(f.name)
                    for f in schema.fields
                    if f.name not in snap.partition_columns
                ]
                # partition columns come from the add actions; an append
                # commits one partitionValues map per file. Look up by
                # PHYSICAL name first (spec-strict writers key
                # partitionValues physically under column mapping), then
                # logical; attach every partition column from ONE
                # progressively-built frame so multi-column partitioning
                # never drops an earlier column (r11 review).
                part_cols = list(snap.partition_columns)

                def a_pv(a: dict, c: str) -> str | None:
                    pvs = a.get("partitionValues") or {}
                    ph = phys_name(schema[c])
                    return pvs[ph] if ph in pvs else pvs.get(c)

                multi = [
                    c for c in part_cols
                    if len({a_pv(a, c) for a in adds}) > 1
                ]
                if multi:
                    piece = raw.withColumn(
                        "__lh_fp", fs_path_col()).select("__lh_fp", *sel)
                    pv_map = self.spark.createDataFrame(
                        [(str((self.path / unquote(a["path"])).resolve()),
                          *[a_pv(a, c) for c in multi])
                         for a in adds],
                        StructType(
                            [StructField("__lh_fp", StringType())]
                            + [StructField(f"__lh_pv_{i}", StringType())
                               for i in range(len(multi))]),
                    )
                    piece = piece.join(F.broadcast(pv_map), "__lh_fp")
                    for i, c in enumerate(multi):
                        piece = piece.withColumn(
                            c, F.col(f"__lh_pv_{i}").cast(schema[c].dataType))
                    piece = piece.drop(
                        "__lh_fp", *[f"__lh_pv_{i}"
                                     for i in range(len(multi))])
                else:
                    piece = raw.select(*sel)
                for c in part_cols:
                    if c in multi:
                        continue
                    vals = {a_pv(a, c) for a in adds}
                    piece = piece.withColumn(
                        c, F.lit(next(iter(vals))).cast(schema[c].dataType))
                piece = piece.withColumn("_change_type", F.lit("insert"))
            elif removes:
                raise DeltaProtocolError(
                    f"change data not recorded for version {v} — the commit "
                    "removes data files but carries no cdc actions (DML ran "
                    "before delta.enableChangeDataFeed)"
                )
            if piece is None:
                continue
            parts.append(
                piece.withColumn("_commit_version", F.lit(v).cast("long"))
                .withColumn(
                    "_commit_timestamp",
                    F.timestamp_millis(F.lit(ts).cast("long")),
                )
            )
        if not parts:
            from pyspark.sql.types import LongType, TimestampType

            return self.spark.createDataFrame([], StructType(
                list(schema.fields)
                + [StructField("_change_type", StringType()),
                   StructField("_commit_version", LongType()),
                   StructField("_commit_timestamp", TimestampType())]
            ))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p, allowMissingColumns=True)
        for m in [c for c in out_cols if c not in out.columns]:
            out = out.withColumn(m, F.lit(None).cast(schema[m].dataType))
        return out.select(*out_cols)

    def history(self) -> list[dict]:
        """One entry per surviving JSON commit: version, timestamp, operation."""
        out = []
        for v in self.versions():
            info = next(
                (a["commitInfo"] for a in self._commit_actions(v) if "commitInfo" in a),
                {},
            )
            out.append(
                {
                    "version": v,
                    "timestamp": info.get("timestamp"),
                    "operation": info.get("operation"),
                }
            )
        return out


def read_delta(
    spark: SparkSession,
    path: str | Path,
    version: int | None = None,
    columns: list[str] | None = None,
    filters: list[tuple[str, str, Any]] | None = None,
) -> DataFrame:
    """Read a Delta-protocol table (no Delta jar required) with optional
    column pruning and partition/stats file skipping (see
    `DeltaLogReader.to_df`)."""
    return DeltaLogReader(spark, path).to_df(version, columns, filters)
