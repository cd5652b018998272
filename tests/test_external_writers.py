"""Native external-format WRITERS (round 11): create and append to
Delta / Iceberg tables WITHOUT a LakeTable — the
`df.write.format("delta").partitionBy(...).save(path)` and `CREATE TABLE
... USING iceberg PARTITIONED BY ... AS SELECT` surfaces
(02.delta_lake_primer.py write cells, 03.iceberg_primer.py:114-124).
Until this round a foreign table could only be born from a LakeTable
export (unpartitioned); now `write_delta_table` / `write_iceberg_table`
CTAS fresh (optionally partitioned) tables and `append` adds to any
external table — composing with the external DML/MERGE/rollback plane
into a complete no-LakeTable write path."""

from __future__ import annotations

import json

import pytest

from pyspark.sql import functions as F

from lakehouses_spark.tables import LakeTable
from lakehouses_spark.tables.delta_log import (
    DeltaLogReader,
    DeltaProtocolError,
    read_delta,
    write_delta_table,
)
from lakehouses_spark.tables.iceberg_meta import (
    IcebergFormatError,
    IcebergMetadataReader,
    read_iceberg,
    write_iceberg_table,
)

ROWS = [
    {"k": i, "seg": "AB"[i % 2], "v": float(10 * i)} for i in range(1, 21)
]
SCHEMA = "k long, seg string, v double"


def _sorted_rows(df, cols=None):
    cols = sorted(cols or df.columns)
    return sorted(tuple(r[c] for c in cols) for r in df.select(*cols).collect())


# ------------------------------ Delta ------------------------------------ #
def test_write_delta_table_partitioned_ctas(spark, tmp_path):
    df = spark.createDataFrame(ROWS, SCHEMA).coalesce(2)
    r = write_delta_table(spark, df, tmp_path / "d", partition_by=["seg"])
    snap = r.snapshot()
    assert snap.version == 0
    assert snap.partition_columns == ["seg"]
    # every add carries its partition value; stats present for pruning
    for a in snap.files.values():
        assert a["partitionValues"]["seg"] in ("A", "B")
        assert "minValues" in json.loads(a["stats"])
    assert _sorted_rows(read_delta(spark, tmp_path / "d")) == _sorted_rows(df)
    # partition pruning works on the fresh layout
    full = len(r.to_df().inputFiles())
    pruned = len(r.to_df(filters=[("seg", "=", "A")]).inputFiles())
    assert 0 < pruned < full
    # refuses to clobber an existing table / unknown partition column
    with pytest.raises(DeltaProtocolError, match="already exists"):
        write_delta_table(spark, df, tmp_path / "d")
    with pytest.raises(ValueError, match="partition_by"):
        write_delta_table(spark, df, tmp_path / "d2", partition_by=["nope"])


def test_delta_external_append(spark, tmp_path):
    df = spark.createDataFrame(ROWS, SCHEMA).coalesce(1)
    r = write_delta_table(
        spark, df, tmp_path / "d", partition_by=["seg"],
        properties={"delta.enableChangeDataFeed": "true"})
    res = r.append(spark.createDataFrame(
        [{"k": 100, "seg": "C", "v": 1.0},
         {"k": 101, "seg": "A", "v": 2.0}], SCHEMA).coalesce(1))
    assert res["version"] == 1 and res["added_files"] >= 1
    got = read_delta(spark, tmp_path / "d")
    assert got.count() == 22
    assert [x.seg for x in got.where("k = 100").collect()] == ["C"]
    # absent nullable column fills null; values cast to the schema
    r2 = DeltaLogReader(spark, tmp_path / "d")
    r2.append(spark.createDataFrame([{"k": 200, "seg": "Z"}],
                                    "k int, seg string").coalesce(1))
    row = read_delta(spark, tmp_path / "d").where("k = 200").collect()[0]
    assert row.v is None and row.seg == "Z"
    # blind append derives CDF inserts without change files
    ch = r2.table_changes(1, 1).collect()
    assert {x["_change_type"] for x in ch} == {"insert"}
    assert sorted(x.k for x in ch) == [100, 101]
    # extra columns refuse (no schema evolution on externals)
    with pytest.raises(DeltaProtocolError, match="not in the table schema"):
        r2.append(spark.createDataFrame([{"k": 1, "zz": 1}], "k long, zz long"))


def test_delta_append_allowed_on_append_only(spark, tmp_path):
    df = spark.createDataFrame(ROWS, SCHEMA).coalesce(1)
    r = write_delta_table(spark, df, tmp_path / "d",
                          properties={"delta.appendOnly": "true"})
    r.append(spark.createDataFrame([{"k": 99, "seg": "Q", "v": 0.0}],
                                   SCHEMA).coalesce(1))
    assert read_delta(spark, tmp_path / "d").count() == 21
    with pytest.raises(DeltaProtocolError, match="appendOnly"):
        DeltaLogReader(spark, tmp_path / "d").delete("k = 99")


def test_delta_ctas_append_dml_full_arc(spark, tmp_path):
    """A user with NO LakeTable runs the whole lifecycle: CTAS ->
    append -> UPDATE -> DELETE -> MERGE -> RESTORE, partitioned."""
    df = spark.createDataFrame(ROWS, SCHEMA).coalesce(1)
    r = write_delta_table(spark, df, tmp_path / "d", partition_by=["seg"])
    r.append(spark.createDataFrame(
        [{"k": 50 + i, "seg": "C", "v": 5.0} for i in range(3)],
        SCHEMA).coalesce(1))
    r = DeltaLogReader(spark, tmp_path / "d")
    r.update({"v": "v + 1"}, where="seg = 'C'")
    r.delete("k = 52")
    src = spark.createDataFrame(
        [{"k": 50, "seg": "C", "v": 0.0}, {"k": 300, "seg": "D", "v": 3.0}],
        SCHEMA)
    r.merge(src, "t.k = s.k")
    rows = {x.k: (x.seg, x.v) for x in read_delta(spark, tmp_path / "d").collect()}
    assert rows[50] == ("C", 0.0) and rows[51] == ("C", 6.0)
    assert 52 not in rows and rows[300] == ("D", 3.0)
    r.restore(0)
    assert read_delta(spark, tmp_path / "d").count() == len(ROWS)


# ------------------------------ Iceberg ---------------------------------- #
def test_write_iceberg_table_partitioned_ctas(spark, tmp_path):
    import duckdb
    import pyarrow.parquet as pq

    df = spark.createDataFrame(ROWS, SCHEMA).coalesce(2)
    r = write_iceberg_table(spark, df, tmp_path / "i", partition_by=["seg"])
    # identity spec declared; tuples truthful; main ref created
    spec = r.meta["partition-specs"][0]
    assert [f["transform"] for f in spec["fields"]] == ["identity"]
    assert r.meta["refs"]["main"]["snapshot-id"] == \
        r.meta["current-snapshot-id"]
    for e in r._live_data_entries():
        p = (e["data_file"].get("partition") or {}).get("seg")
        local = r._local_data(e["data_file"]["file_path"])
        vals = set(pq.read_table(local).column("seg").to_pylist())
        assert vals == {p}
    assert _sorted_rows(read_iceberg(spark, tmp_path / "i")) == \
        _sorted_rows(df)
    # external-client proof: DuckDB reads the resolved live files
    files = [str(r._local_data(e["data_file"]["file_path"]))
             for e in r._live_data_entries()]
    n = duckdb.sql(
        f"SELECT count(*) FROM read_parquet({files!r})").fetchone()[0]
    assert n == len(ROWS)
    # .partitions aggregates the fresh tuples
    parts = {x.partition["seg"]: x.record_count
             for x in r.partitions().collect()}
    assert parts == {"A": 10, "B": 10}
    with pytest.raises(IcebergFormatError, match="already exists"):
        write_iceberg_table(spark, df, tmp_path / "i")
    with pytest.raises(ValueError, match="partition_by"):
        write_iceberg_table(spark, df, tmp_path / "i2", partition_by=["no"])


def test_iceberg_external_append(spark, tmp_path):
    df = spark.createDataFrame(ROWS, SCHEMA).coalesce(1)
    r = write_iceberg_table(spark, df, tmp_path / "i", partition_by=["seg"])
    n_live0 = len(r.live_files())
    res = r.append(spark.createDataFrame(
        [{"k": 100, "seg": "C", "v": 1.0}], SCHEMA).coalesce(1))
    assert res["added_files"] == 1
    r2 = IcebergMetadataReader(spark, tmp_path / "i")
    assert r2.meta["snapshots"][-1]["summary"]["operation"] == "append"
    assert r2.to_df().count() == 21
    # prior files relisted EXISTING at their original sequence numbers
    seqs = {e["sequence_number"] for e in r2._live_data_entries()}
    assert len(seqs) == 2 and len(r2.live_files()) == n_live0 + 1
    # absent nullable fills null; extra refuses
    r2.append(spark.createDataFrame([{"k": 200, "seg": "Z"}],
                                    "k int, seg string").coalesce(1))
    row = IcebergMetadataReader(spark, tmp_path / "i").to_df() \
        .where("k = 200").collect()[0]
    assert row.v is None
    with pytest.raises(IcebergFormatError, match="not in the table schema"):
        r2.append(spark.createDataFrame([{"k": 1, "zz": 1}],
                                        "k long, zz long"))


def test_iceberg_append_carries_live_mor_deletes(spark, tmp_path):
    """Appending must not resurrect rows a live position-delete manifest
    removes: the delete manifests carry over and keep applying."""
    df = spark.createDataFrame(ROWS, SCHEMA)
    t = LakeTable.create(spark, tmp_path / "lake", df.coalesce(1))
    t.delete("k <= 3", lazy=True)  # merge-on-read tombstone
    dest = t.export_iceberg_metadata(tmp_path / "i")
    r = IcebergMetadataReader(spark, dest)
    assert r.to_df().count() == 17
    r.append(spark.createDataFrame([{"k": 100, "seg": "C", "v": 1.0}],
                                   SCHEMA).coalesce(1))
    got = IcebergMetadataReader(spark, dest).to_df()
    assert got.count() == 18
    assert sorted(x.k for x in got.collect()) == list(range(4, 21)) + [100]


def test_iceberg_ctas_append_dml_rollback_full_arc(spark, tmp_path):
    """No-LakeTable lifecycle on Iceberg: CTAS -> append -> UPDATE ->
    MERGE -> rollback, identity-partitioned throughout."""
    df = spark.createDataFrame(ROWS, SCHEMA).coalesce(1)
    r = write_iceberg_table(spark, df, tmp_path / "i", partition_by=["seg"])
    v0 = r.meta["current-snapshot-id"]
    r.append(spark.createDataFrame(
        [{"k": 50, "seg": "C", "v": 5.0}], SCHEMA).coalesce(1))
    r = IcebergMetadataReader(spark, tmp_path / "i")
    r.update({"v": "v * 2"}, where="seg = 'C'")
    r2 = IcebergMetadataReader(spark, tmp_path / "i")
    src = spark.createDataFrame(
        [{"k": 50, "seg": "C", "v": 0.0}, {"k": 300, "seg": "D", "v": 3.0}],
        SCHEMA)
    r2.merge(src, "t.k = s.k")
    r3 = IcebergMetadataReader(spark, tmp_path / "i")
    rows = {x.k: (x.seg, x.v) for x in r3.to_df().collect()}
    assert rows[50] == ("C", 0.0) and rows[300] == ("D", 3.0)
    # tuples stay truthful through the whole arc
    import pyarrow.parquet as pq
    for e in r3._live_data_entries():
        local = r3._local_data(e["data_file"]["file_path"])
        vals = set(pq.read_table(local).column("seg").to_pylist())
        assert vals == {(e["data_file"].get("partition") or {}).get("seg")}
    r3.rollback_to_snapshot(v0)
    assert IcebergMetadataReader(spark, tmp_path / "i").to_df().count() \
        == len(ROWS)


# --------- round-11b: checkpoint, schema evolution, compaction ----------- #
def test_delta_external_checkpoint(spark, tmp_path):
    """DeltaLogReader.checkpoint: a classic parquet checkpoint at the
    current version — after log cleanup of the older commit JSONs, a
    fresh reader still reconstructs the state from checkpoint + tail."""
    df = spark.createDataFrame(ROWS, SCHEMA).coalesce(1)
    r = write_delta_table(spark, df, tmp_path / "d", partition_by=["seg"])
    for i in range(3):
        r.append(spark.createDataFrame(
            [{"k": 100 + i, "seg": "C", "v": 1.0}], SCHEMA).coalesce(1))
        r = DeltaLogReader(spark, tmp_path / "d")
    r.delete("k = 101")
    r = DeltaLogReader(spark, tmp_path / "d")
    res = r.checkpoint()
    assert res["version"] == 4
    log = tmp_path / "d" / "_delta_log"
    assert (log / f"{4:020d}.checkpoint.parquet").exists()
    assert (log / "_last_checkpoint").exists()
    # log cleanup: drop every commit JSON at or before the checkpoint
    for v in range(5):
        (log / f"{v:020d}.json").unlink()
    got = read_delta(spark, tmp_path / "d")
    assert sorted(x.k for x in got.collect()) == \
        sorted([x["k"] for x in ROWS] + [100, 102])
    # stats survived the checkpoint: filters still skip files
    r2 = DeltaLogReader(spark, tmp_path / "d")
    full = len(r2.to_df().inputFiles())
    pruned = len(r2.to_df(filters=[("seg", "=", "C")]).inputFiles())
    assert 0 < pruned < full


def test_delta_append_merge_schema(spark, tmp_path):
    """append(merge_schema=True) widens the schema in the same commit
    (delta's mergeSchema): old files read the new column as NULL, the
    new metaData is in the log for every other client."""
    df = spark.createDataFrame(ROWS, SCHEMA).coalesce(1)
    r = write_delta_table(spark, df, tmp_path / "d")
    with pytest.raises(DeltaProtocolError, match="merge_schema"):
        r.append(spark.createDataFrame(
            [{"k": 100, "seg": "C", "v": 1.0, "note": "n"}],
            SCHEMA + ", note string"))
    r.append(spark.createDataFrame(
        [{"k": 100, "seg": "C", "v": 1.0, "note": "n"}],
        SCHEMA + ", note string"), merge_schema=True)
    got = read_delta(spark, tmp_path / "d")
    assert "note" in got.columns
    rows = {x.k: x.note for x in got.collect()}
    assert rows[100] == "n" and rows[1] is None
    r2 = DeltaLogReader(spark, tmp_path / "d")
    assert "note" in {f.name for f in r2.snapshot().schema.fields}


def test_iceberg_append_merge_schema(spark, tmp_path):
    """The Iceberg twin: evolution commits a NEW schema with fresh field
    ids in the same metadata write; old snapshots keep their schema."""
    df = spark.createDataFrame(ROWS, SCHEMA).coalesce(1)
    r = write_iceberg_table(spark, df, tmp_path / "i")
    pre = r.meta["current-snapshot-id"]
    sid0 = r.meta["current-schema-id"]
    with pytest.raises(IcebergFormatError, match="merge_schema"):
        r.append(spark.createDataFrame(
            [{"k": 100, "seg": "C", "v": 1.0, "note": "n"}],
            SCHEMA + ", note string"))
    r.append(spark.createDataFrame(
        [{"k": 100, "seg": "C", "v": 1.0, "note": "n"}],
        SCHEMA + ", note string"), merge_schema=True)
    r2 = IcebergMetadataReader(spark, tmp_path / "i")
    assert r2.meta["current-schema-id"] == sid0 + 1
    assert len(r2.meta["schemas"]) == 2
    got = r2.to_df()
    rows = {x.k: x.note for x in got.collect()}
    assert rows[100] == "n" and rows[1] is None
    # field ids stayed unique and monotone
    ice = r2.meta["schemas"][-1]
    ids = [f["id"] for f in ice["fields"]]
    assert len(set(ids)) == len(ids) == r2.meta["last-column-id"]
    # time travel to the pre-evolution snapshot uses the OLD schema
    assert "note" not in r2.to_df(snapshot_id=pre).columns


def test_delta_external_optimize_partitioned(spark, tmp_path):
    """r11: external OPTIMIZE on a hive-partitioned table compacts PER
    PARTITION — each output file belongs to one partition tuple, the
    adds carry partitionValues, and pruning works on the new layout."""
    df = spark.createDataFrame(ROWS, SCHEMA).repartition(8)
    r = write_delta_table(spark, df, tmp_path / "d", partition_by=["seg"])
    n0 = len(r.snapshot().files)
    assert n0 > 2
    res = r.optimize(target_files=2)
    assert res["output_files"] >= 2  # at least one file per partition
    r2 = DeltaLogReader(spark, tmp_path / "d")
    assert len(r2.snapshot().files) <= n0
    assert {a["partitionValues"]["seg"]
            for a in r2.snapshot().files.values()} == {"A", "B"}
    assert _sorted_rows(read_delta(spark, tmp_path / "d")) == \
        _sorted_rows(df)
    pruned = len(r2.to_df(filters=[("seg", "=", "A")]).inputFiles())
    assert 0 < pruned < len(r2.snapshot().files) + 1
    # ZORDER within partitions keeps the same guarantees
    res = r2.optimize(target_files=2, zorder_by=["k"])
    r3 = DeltaLogReader(spark, tmp_path / "d")
    assert _sorted_rows(read_delta(spark, tmp_path / "d")) == \
        _sorted_rows(df)
    assert all("seg" in (a.get("partitionValues") or {})
               for a in r3.snapshot().files.values())


def test_fresh_written_tables_stream(spark, tmp_path):
    """Tables born from write_delta_table / write_iceberg_table tail
    through the external stream sources like any other foreign table."""
    from lakehouses_spark.tables.delta_stream import DeltaTableDataSource
    from lakehouses_spark.tables.iceberg_stream import (
        IcebergTableDataSource,
    )

    df = spark.createDataFrame(ROWS[:5], SCHEMA).coalesce(1)
    rd = write_delta_table(spark, df, tmp_path / "d", partition_by=["seg"])
    ri = write_iceberg_table(
        spark, df, tmp_path / "i", partition_by=["seg"])
    rd.append(spark.createDataFrame(
        [{"k": 100, "seg": "C", "v": 1.0}], SCHEMA).coalesce(1))
    ri.append(spark.createDataFrame(
        [{"k": 100, "seg": "C", "v": 1.0}], SCHEMA).coalesce(1))

    spark.dataSource.register(DeltaTableDataSource)
    spark.dataSource.register(IcebergTableDataSource)
    for fmt, path in (("deltatable", tmp_path / "d"),
                      ("icebergtable", tmp_path / "i")):
        out = tmp_path / f"out_{fmt}"
        q = (
            spark.readStream.format(fmt).option("path", str(path)).load()
            .writeStream.format("parquet")
            .option("path", str(out))
            .option("checkpointLocation", str(tmp_path / f"ck_{fmt}"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        got = spark.read.parquet(str(out))
        assert sorted(x.k for x in got.collect()) == [1, 2, 3, 4, 5, 100]
        assert sorted({x.seg for x in got.collect()}) == ["A", "B", "C"]


# ------------- round-11c: review-driven hardening pins -------------------- #
def test_checkpoint_keeps_remove_tombstones_for_vacuum(spark, tmp_path):
    """PROTOCOL.md: unexpired remove tombstones survive in checkpoints.
    After checkpoint + log cleanup, VACUUM retention must stay keyed on
    deletionTimestamp — with a backdated file mtime (what export
    hard-links produce), an mtime fallback would reclaim a file removed
    five minutes ago despite the 168h window."""
    import os as _os
    import time as _time

    df = spark.createDataFrame(ROWS, SCHEMA).coalesce(1)
    r = write_delta_table(spark, df, tmp_path / "d", partition_by=["seg"])
    r.delete("seg = 'A'")  # tombstones the A file NOW
    r = DeltaLogReader(spark, tmp_path / "d")
    r.checkpoint()
    log = tmp_path / "d" / "_delta_log"
    for v in range(2):
        (log / f"{v:020d}.json").unlink()
    # backdate every data file far past the retention window
    old = _time.time() - 10 * 24 * 3600
    for p in (tmp_path / "d").rglob("*.parquet"):
        if "_delta_log" not in p.parts:
            _os.utime(p, (old, old))
    r2 = DeltaLogReader(spark, tmp_path / "d")
    res = r2.vacuum(retention_hours=168, dry_run=True)
    assert res["files"] == [], res  # tombstone is 5s old: protected
    # with retention 0 the tombstoned file IS reclaimable
    res = r2.vacuum(retention_hours=0, dry_run=True)
    assert len(res["files"]) >= 1


def test_append_cdf_partition_values_under_column_mapping(spark, tmp_path):
    """r11 review: blind-append CDF on a PARTITIONED + column-mapped
    table must read add.partitionValues by PHYSICAL name — the derived
    insert rows carry the real partition value, not NULL."""
    import json as _json

    base = tmp_path / "pm"
    (base / "_delta_log").mkdir(parents=True)

    def fld(name, typ, phys, fid):
        return {"name": name, "type": typ, "nullable": True, "metadata": {
            "delta.columnMapping.id": fid,
            "delta.columnMapping.physicalName": phys}}

    schema = {"type": "struct", "fields": [
        fld("k", "long", "col-k", 1),
        fld("zone", "string", "col-zone", 2),
    ]}
    actions = [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        {"metaData": {
            "id": "pmc", "format": {"provider": "parquet", "options": {}},
            "schemaString": _json.dumps(schema),
            "partitionColumns": ["zone"],
            "configuration": {
                "delta.columnMapping.mode": "name",
                "delta.columnMapping.maxColumnId": "2",
                "delta.enableChangeDataFeed": "true"},
            "createdTime": 0}},
    ]
    with open(base / "_delta_log" / f"{0:020d}.json", "w") as fh:
        for a in actions:
            fh.write(_json.dumps(a) + "\n")

    r = DeltaLogReader(spark, base)
    # append writes adds whose partitionValues key by PHYSICAL name
    r.append(spark.createDataFrame(
        [{"k": 1, "zone": "C"}, {"k": 2, "zone": "D"}],
        "k long, zone string").coalesce(1))
    snap = DeltaLogReader(spark, base).snapshot()
    assert all("col-zone" in a["partitionValues"]
               for a in snap.files.values())
    ch = {x.k: x.zone for x in r.table_changes(1, 1).collect()}
    assert ch == {1: "C", 2: "D"}  # NOT None: physical-name pv lookup


def test_append_cdf_multiple_partition_columns(spark, tmp_path):
    """r11 review: an append spanning several values of several
    partition columns derives CDF inserts with EVERY partition column
    populated (the per-column rebuild used to drop earlier columns)."""
    df = spark.createDataFrame(
        [(1, "A", "x", 1.0), (2, "B", "y", 2.0)],
        "k long, a string, b string, v double")
    r = write_delta_table(
        spark, df.coalesce(1), tmp_path / "d",
        partition_by=["a", "b"],
        properties={"delta.enableChangeDataFeed": "true"})
    r.append(spark.createDataFrame(
        [(3, "A", "x", 3.0), (4, "B", "x", 4.0), (5, "B", "z", 5.0)],
        "k long, a string, b string, v double").coalesce(1))
    ch = {x.k: (x.a, x.b) for x in r.table_changes(1, 1).collect()}
    assert ch == {3: ("A", "x"), 4: ("B", "x"), 5: ("B", "z")}


def test_external_write_enforces_check_constraints(spark, tmp_path):
    """r11 review: external append/UPDATE enforce delta.constraints.*
    with Delta semantics (violation only when FALSE; NULL passes);
    unknown writerFeatures refuse every committing verb."""
    df = spark.createDataFrame(ROWS, SCHEMA).coalesce(1)
    r = write_delta_table(
        spark, df, tmp_path / "d",
        properties={"delta.constraints.v_positive": "v > 0"})
    with pytest.raises(DeltaProtocolError, match="CHECK constraint"):
        r.append(spark.createDataFrame(
            [{"k": 99, "seg": "Q", "v": -1.0}], SCHEMA))
    # NULL passes (SQL CHECK semantics)
    r.append(spark.createDataFrame(
        [{"k": 99, "seg": "Q"}], "k long, seg string"))
    r2 = DeltaLogReader(spark, tmp_path / "d")
    with pytest.raises(DeltaProtocolError, match="CHECK constraint"):
        r2.update({"v": "v - 1000"}, where="k = 1")
    r2.delete("k = 2")  # DELETE can't violate: allowed without the job

    # unknown writer feature refuses the write plane
    import json as _json
    log = tmp_path / "d" / "_delta_log"
    head = sorted(log.glob("*.json"))[-1]
    v = int(head.name.split(".")[0]) + 1
    with open(log / f"{v:020d}.json", "w") as fh:
        fh.write(_json.dumps({"protocol": {
            "minReaderVersion": 1, "minWriterVersion": 7,
            # icebergCompatV2 demands Iceberg-shadow state this engine
            # does not maintain (rowTracking itself is implemented
            # since the r12 continuation — tests/test_row_tracking.py)
            "writerFeatures": ["icebergCompatV2"]}}) + "\n")
    r3 = DeltaLogReader(spark, tmp_path / "d")
    for call in (lambda: r3.append(df.limit(1)),
                 lambda: r3.delete("k = 3"),
                 lambda: r3.optimize(target_files=1),
                 # ADVICE r12: checkpoint() is a write too — a
                 # checkpoint on such a table would silently drop the
                 # unknown feature's state
                 lambda: r3.checkpoint()):
        with pytest.raises(DeltaProtocolError, match="icebergCompatV2"):
            call()


def test_partitioned_optimize_bin_packs_within_partition(spark, tmp_path):
    """r11 review: a big partition must split across multiple output
    files — hashing by tuple alone would funnel it into one task/file."""
    rows = [(i, "A" if i % 10 else "B", float(i)) for i in range(20_000)]
    df = spark.createDataFrame(rows, SCHEMA).repartition(8)
    r = write_delta_table(spark, df, tmp_path / "d", partition_by=["seg"])
    res = r.optimize(target_files=6)
    assert res["output_files"] >= 4, res  # the 90% partition split up
    r2 = DeltaLogReader(spark, tmp_path / "d")
    by_seg = {}
    for a in r2.snapshot().files.values():
        by_seg.setdefault(a["partitionValues"]["seg"], []).append(a)
    assert len(by_seg["A"]) >= 3  # big partition: multiple files
    assert _sorted_rows(read_delta(spark, tmp_path / "d")) == \
        _sorted_rows(df)


def test_column_invariants_enforced(spark, tmp_path):
    """ADVICE r12: listing 'invariants' as a supported writer feature
    means enforcing `delta.invariants` expressions stored in schema
    field metadata on every write — with Delta's CheckDeltaInvariant
    semantics, where a NULL result IS a violation (unlike CHECK
    constraints, where NULL passes)."""
    df = spark.createDataFrame(ROWS, SCHEMA).coalesce(1)
    write_delta_table(spark, df, tmp_path / "d")
    # stamp an invariant into the schemaString as a foreign writer would
    log = tmp_path / "d" / "_delta_log"
    head = sorted(log.glob("*.json"))[0]
    acts = [json.loads(x) for x in head.read_text().splitlines()]
    for a in acts:
        md = a.get("metaData")
        if md:
            sch = json.loads(md["schemaString"])
            for f in sch["fields"]:
                if f["name"] == "v":
                    f.setdefault("metadata", {})["delta.invariants"] = (
                        json.dumps({"expression": {"expression": "v > 0"}}))
            md["schemaString"] = json.dumps(sch)
    head.write_text("\n".join(json.dumps(a) for a in acts) + "\n")
    r = DeltaLogReader(spark, tmp_path / "d")
    with pytest.raises(DeltaProtocolError, match="invariant"):
        r.append(spark.createDataFrame(
            [{"k": 99, "seg": "Q", "v": -1.0}], SCHEMA))
    # NULL violates an invariant (CheckDeltaInvariant), unlike CHECK
    with pytest.raises(DeltaProtocolError, match="invariant"):
        r.append(spark.createDataFrame(
            [{"k": 99, "seg": "Q"}], "k long, seg string"))
    with pytest.raises(DeltaProtocolError, match="invariant"):
        r.update({"v": "v - 1000"}, where="k = 1")
    r.append(spark.createDataFrame([{"k": 99, "seg": "Q", "v": 1.0}], SCHEMA))
    assert read_delta(spark, tmp_path / "d").count() == len(ROWS) + 1


def test_nested_column_invariants_enforced(spark, tmp_path):
    """r12 review: delta.invariants live on the DECLARING field, which
    may be nested inside a struct (CheckDeltaInvariant walks the tree);
    the write gate must find and enforce them there too."""
    df = spark.createDataFrame(
        [(i, (float(i), "x")) for i in range(1, 6)],
        "k long, info struct<qty: double, tag: string>").coalesce(1)
    write_delta_table(spark, df, tmp_path / "d")
    log = tmp_path / "d" / "_delta_log"
    head = sorted(log.glob("*.json"))[0]
    acts = [json.loads(x) for x in head.read_text().splitlines()]
    for a in acts:
        md = a.get("metaData")
        if md:
            sch = json.loads(md["schemaString"])
            info = next(f for f in sch["fields"] if f["name"] == "info")
            qty = next(f for f in info["type"]["fields"]
                       if f["name"] == "qty")
            qty.setdefault("metadata", {})["delta.invariants"] = (
                json.dumps({"expression":
                            {"expression": "info.qty > 0"}}))
            md["schemaString"] = json.dumps(sch)
    head.write_text("\n".join(json.dumps(a) for a in acts) + "\n")
    r = DeltaLogReader(spark, tmp_path / "d")
    with pytest.raises(DeltaProtocolError, match="invariant"):
        r.append(spark.createDataFrame(
            [(9, (-1.0, "y"))],
            "k long, info struct<qty: double, tag: string>"))
    r.append(spark.createDataFrame(
        [(9, (1.0, "y"))],
        "k long, info struct<qty: double, tag: string>"))
    assert read_delta(spark, tmp_path / "d").count() == 6


def test_merge_insert_refuses_unset_required_column(spark, tmp_path):
    """ADVICE r12: WHEN NOT MATCHED INSERT fills table columns absent
    from the clause with NULL — refused when the column is non-nullable
    (mirrors append's required-column check), on BOTH formats."""
    from pyspark.sql import types as T

    sch = T.StructType([
        T.StructField("k", T.LongType(), False),
        T.StructField("seg", T.StringType(), False),
        T.StructField("v", T.DoubleType(), True),
    ])
    df = spark.createDataFrame(
        [(i, "AB"[i % 2], float(i)) for i in range(1, 6)], sch).coalesce(1)
    src = spark.createDataFrame(
        [(7, 70.0), (8, 80.0)],
        T.StructType([T.StructField("k", T.LongType(), False),
                      T.StructField("v", T.DoubleType(), True)]))
    rd = write_delta_table(spark, df, tmp_path / "d")
    with pytest.raises(DeltaProtocolError, match="required"):
        rd.merge(src, "t.k = s.k")
    ri = write_iceberg_table(spark, df, tmp_path / "i")
    with pytest.raises(IcebergFormatError, match="required"):
        ri.merge(src, "t.k = s.k")
    # covering the required column via an insert SET expression passes
    res = rd.merge(src, "t.k = s.k",
                   when_not_matched_insert={"k": "s.k", "seg": "'Q'",
                                            "v": "s.v"})
    assert res["inserted_rows"] == 2
    got = {x.k: x.seg for x in read_delta(spark, tmp_path / "d").collect()}
    assert got[7] == "Q" and got[8] == "Q"


def test_merge_insert_anti_join_executes_once(spark, tmp_path, monkeypatch):
    """VERDICT r11: the insert leg's anti-join probes the WHOLE table —
    it must execute ONCE per MERGE (count, COW write and CDF image read
    the materialized blocks). Pinned by routing every anti-join output
    row through a counting accumulator UDF: re-execution multiplies the
    counter (3× here: count + data write + change-data write)."""
    import lakehouses_spark.tables.delta_log as dl

    acc = spark.sparkContext.accumulator(0)
    real = dl.merge_clauses

    def counted(*a, **k):
        rewritten, out, images = real(*a, **k)

        def bump(x):
            acc.add(1)
            return x

        from pyspark.sql.types import LongType
        u = F.udf(bump, LongType()).asNondeterministic()
        return rewritten, out.withColumn(
            out.columns[0], u(F.col(out.columns[0]))), images

    monkeypatch.setattr(dl, "merge_clauses", counted)
    df = spark.createDataFrame(ROWS, SCHEMA).coalesce(1)
    r = write_delta_table(
        spark, df, tmp_path / "d",
        properties={"delta.enableChangeDataFeed": "true"})
    src = spark.createDataFrame(
        [{"k": 100 + i, "seg": "Q", "v": 1.0} for i in range(3)], SCHEMA)
    res = r.merge(src, "t.k = s.k")
    assert res["inserted_rows"] == 3
    assert acc.value == 3, f"insert anti-join executed {acc.value/3:g}×"
    # and the Iceberg twin (shared helper, same single-pass shape)
    acc2 = spark.sparkContext.accumulator(0)

    def counted2(*a, **k):
        rewritten, out, images = real(*a, **k)

        def bump(x):
            acc2.add(1)
            return x

        from pyspark.sql.types import LongType
        u = F.udf(bump, LongType()).asNondeterministic()
        return rewritten, out.withColumn(
            out.columns[0], u(F.col(out.columns[0]))), images

    monkeypatch.setattr(dl, "merge_clauses", counted2)
    ri = write_iceberg_table(spark, df, tmp_path / "i")
    res = ri.merge(src, "t.k = s.k")
    assert res["inserted_rows"] == 3
    assert acc2.value == 3, f"insert anti-join executed {acc2.value/3:g}×"


def test_iceberg_date_family_partition_transforms(spark, tmp_path):
    """VERDICT r11 #3: the reference's own partition spec is
    `PARTITIONED BY (YEAR(fecha_ingreso))` (03.iceberg_primer.py:124).
    The external plane evaluates the date family (year/month/day/hour)
    with the spec's epoch arithmetic — tuple values cross-checked here
    against independently-computed expectations (incl. pre-epoch
    negatives and UTC semantics under a non-UTC session tz is covered
    by deriving via unix_micros) — and the full DML surface stays
    available on such tables. bucket/truncate still refuse."""
    import datetime

    rows = [(i,
             datetime.date(1968 + i % 6, 1 + i % 12, 5),
             datetime.datetime(2023, 1 + i % 12, 3, i % 24, 30),
             float(i)) for i in range(40)]
    df = spark.createDataFrame(
        rows, "k long, d date, ts timestamp, v double").coalesce(2)
    r = write_iceberg_table(
        spark, df, tmp_path / "i", partition_by=["YEAR(d)", "hours(ts)"])
    spec = r.meta["partition-specs"][0]
    assert [(f["name"], f["transform"]) for f in spec["fields"]] == [
        ("d_year", "year"), ("ts_hour", "hour")]
    # spec-exact tuples: year ordinal from 1970 (negative pre-epoch),
    # hour ordinal from epoch micros
    exp_years = {d.year - 1970 for _, d, _, _ in rows}
    got_years = {e["data_file"]["partition"]["d_year"]
                 for e in r._live_data_entries()}
    assert got_years == exp_years and min(got_years) < 0
    exp_hours = {x[0] for x in df.select(
        (F.unix_micros("ts") / 3_600_000_000).cast("long")).collect()}
    got_hours = {e["data_file"]["partition"]["ts_hour"]
                 for e in r._live_data_entries()}
    assert got_hours == exp_hours
    assert _sorted_rows(read_iceberg(spark, tmp_path / "i")) == \
        _sorted_rows(df)
    # DML on the transformed layout: COW delete + update + merge
    r.delete("v < 5")
    assert read_iceberg(spark, tmp_path / "i").count() == 35
    r2 = IcebergMetadataReader(spark, tmp_path / "i")
    r2.update({"v": "v + 100"}, where="k = 10")
    src = spark.createDataFrame(
        [rows[20][:3] + (0.5,), (99, datetime.date(2031, 1, 1),
                                 datetime.datetime(2031, 1, 1), 9.0)],
        "k long, d date, ts timestamp, v double")
    r3 = IcebergMetadataReader(spark, tmp_path / "i")
    res = r3.merge(src, "t.k = s.k")
    assert res["inserted_rows"] == 1
    got = {x.k: x.v for x in read_iceberg(spark, tmp_path / "i").collect()}
    assert got[10] == 110.0 and got[20] == 0.5 and got[99] == 9.0
    # every new file's tuple still matches its rows (post-DML parity)
    r4 = IcebergMetadataReader(spark, tmp_path / "i")
    import pyarrow.parquet as pq
    for e in r4._live_data_entries():
        part = e["data_file"]["partition"]
        local = r4._local_data(e["data_file"]["file_path"])
        years = {d.year - 1970
                 for d in pq.read_table(local).column("d").to_pylist()}
        assert years == {part["d_year"]}
    # hour() over a DATE source refuses; an UNKNOWN transform refuses
    # (bucket/truncate are supported since the r12 continuation —
    # tests/test_iceberg_transforms.py pins them)
    with pytest.raises(IcebergFormatError, match="hour"):
        write_iceberg_table(spark, df, tmp_path / "i2",
                            partition_by=["hour(d)"])
    meta_f = sorted((tmp_path / "i" / "metadata").glob("v*.metadata.json"))[-1]
    m = json.loads(meta_f.read_text())
    m["partition-specs"][0]["fields"][0]["transform"] = "zorder[4]"
    meta_f.write_text(json.dumps(m))
    r5 = IcebergMetadataReader(spark, tmp_path / "i")
    with pytest.raises(IcebergFormatError, match="transform"):
        r5.delete("v > 1000")


def test_merge_schema_evolution_both_formats(spark, tmp_path):
    """VERDICT r11 #4: Delta's `withSchemaEvolution` semantics on the
    external MERGE — new source columns join the schema (nullable),
    untouched rows read NULL; the Iceberg twin bumps the schema with
    fresh field ids (old schemas retained) in the same metadata write.
    Without the flag, extra source columns still refuse."""
    df = spark.createDataFrame(ROWS, SCHEMA).coalesce(2)
    src = spark.createDataFrame(
        [{"k": 1, "seg": "A", "v": -1.0, "note": "upd"},
         {"k": 999, "seg": "Z", "v": 0.0, "note": "new"}],
        "k long, seg string, v double, note string")
    rd = write_delta_table(spark, df, tmp_path / "d")
    with pytest.raises(DeltaProtocolError, match="schema_evolution"):
        rd.merge(src, "t.k = s.k")
    res = rd.merge(src, "t.k = s.k", schema_evolution=True)
    assert res["inserted_rows"] == 1 and res["rewritten_files"] >= 1
    snap = DeltaLogReader(spark, tmp_path / "d").snapshot()
    assert [f.name for f in snap.schema.fields] == ["k", "seg", "v", "note"]
    rows = {x.k: (x.v, x.note)
            for x in read_delta(spark, tmp_path / "d").collect()}
    assert rows[1] == (-1.0, "upd") and rows[999] == (0.0, "new")
    assert rows[2][1] is None  # carried-over + untouched rows read NULL
    assert len(rows) == len(ROWS) + 1

    ri = write_iceberg_table(spark, df, tmp_path / "i")
    with pytest.raises(IcebergFormatError, match="schema_evolution"):
        ri.merge(src, "t.k = s.k")
    res = ri.merge(src, "t.k = s.k", schema_evolution=True)
    assert res["inserted_rows"] == 1
    r2 = IcebergMetadataReader(spark, tmp_path / "i")
    assert len(r2.meta["schemas"]) == 2  # old schema kept for time travel
    new_f = [f for f in r2.schema().fields]
    assert [f.name for f in new_f] == ["k", "seg", "v", "note"]
    assert r2.meta["last-column-id"] == 4  # fresh field id minted
    got = {x.k: (x.v, x.note)
           for x in read_iceberg(spark, tmp_path / "i").collect()}
    assert got[1] == (-1.0, "upd") and got[999] == (0.0, "new")
    assert got[2][1] is None and len(got) == len(ROWS) + 1

    # refusals that stay: column-mapped Delta, nested type on Iceberg
    t = LakeTable.create(spark, tmp_path / "lake",
                         spark.createDataFrame(ROWS, SCHEMA))
    t.alter_rename_column("v", "val")  # forces column mapping
    dest = t.export_delta_log(tmp_path / "dmapped")
    src2 = spark.createDataFrame(
        [{"k": 1, "seg": "A", "val": 1.0, "zz": 1.0}],
        "k long, seg string, val double, zz double")
    with pytest.raises(DeltaProtocolError, match="column-mapped"):
        DeltaLogReader(spark, dest).merge(
            src2, "t.k = s.k", schema_evolution=True)
    src3 = spark.createDataFrame(
        [(1, "A", 1.0, {"a": 1})],
        "k long, seg string, v double, nested map<string,int>")
    with pytest.raises(IcebergFormatError, match="nested|primitives"):
        IcebergMetadataReader(spark, tmp_path / "i").merge(
            src3, "t.k = s.k", schema_evolution=True)


def test_transform_partition_dml_prunes_candidates(spark, tmp_path,
                                                   monkeypatch):
    """r12: DML on a years()-partitioned table must not scan the table.
    A transform tuple can't answer a source-column predicate directly,
    but its date DOMAIN is finite — the planner enumerates it per
    distinct tuple, evaluates the predicate driver-side, and restricts
    BOTH the exact planning scan and the rewrite to candidate files.
    Pinned by spying on to_df's _paths."""
    import datetime

    rows = [(i, datetime.date(1994 + i % 4, 1 + i % 12, 5), float(i))
            for i in range(80)]
    df = spark.createDataFrame(rows, "k long, d date, v double").coalesce(4)
    r = write_iceberg_table(spark, df, tmp_path / "i",
                            partition_by=["years(d)"])
    live = {str(r._local_data(e["data_file"]["file_path"]).resolve()):
            e["data_file"]["partition"]["d_year"]
            for e in r._live_data_entries()}
    assert len(live) == 16  # 4 files x 4 years
    seen = []
    real = r.to_df

    def spy(*a, **k):
        seen.append(k.get("_paths"))
        return real(*a, **k)

    monkeypatch.setattr(r, "to_df", spy)
    res = r.delete("d >= DATE'1996-01-01' AND d < DATE'1997-01-01'")
    want_files = {p for p, y in live.items() if y == 1996 - 1970}
    assert res["rewritten_files"] == len(want_files) == 4
    assert seen and all(p is not None and p <= want_files for p in seen), \
        [None if p is None else len(p) for p in seen]
    got = read_iceberg(spark, tmp_path / "i")
    assert got.count() == 60
    assert got.where("year(d) = 1996").count() == 0
    # no candidate at all: zero-file plan, no scan, no commit
    r2 = IcebergMetadataReader(spark, tmp_path / "i")
    res2 = r2.delete("d >= DATE'2050-01-01'")
    assert res2["rewritten_files"] == 0
    # MIXED predicate: the date conjunct prunes candidates (top-level
    # AND split, sound superset), the data conjunct resolves in the
    # exact scan — which must touch only the 1995+ candidate files
    r3 = IcebergMetadataReader(spark, tmp_path / "i")
    live3 = {str(r3._local_data(e["data_file"]["file_path"]).resolve()):
             e["data_file"]["partition"]["d_year"]
             for e in r3._live_data_entries()}
    cand_1995p = {p for p, y in live3.items() if y >= 1995 - 1970}
    seen3 = []
    real3 = r3.to_df

    def spy3(*a, **k):
        seen3.append(k.get("_paths"))
        return real3(*a, **k)

    monkeypatch.setattr(r3, "to_df", spy3)
    res3 = r3.update({"v": "v + 1000"},
                     where="d >= DATE'1995-01-01' AND v < 10")
    assert res3["rewritten_files"] >= 1
    assert seen3 and all(p is not None and p <= cand_1995p
                         for p in seen3), \
        [None if p is None else len(p) for p in seen3]
    got = {x.k: x.v for x in
           read_iceberg(spark, tmp_path / "i").collect()}
    assert got[1] == 1001.0  # (1995-02-05, v=1) matched
    # TOP-LEVEL OR defeats conjunct pruning (r12 review): rows matching
    # only the OR branch (all of 1997) must still delete
    r4 = IcebergMetadataReader(spark, tmp_path / "i")
    r4.delete("d >= DATE'1995-01-01' AND d < DATE'1996-01-01' "
              "AND v < 2 OR d >= DATE'1997-01-01'")
    left = read_iceberg(spark, tmp_path / "i")
    assert left.where("year(d) = 1997").count() == 0
    assert left.where("year(d) = 1995").count() > 0


def test_iceberg_merge_on_read_delete(spark, tmp_path):
    """r12: DELETE with write.delete.mode=merge-on-read commits
    POSITION DELETE files (spec "Position Delete Files") instead of
    rewriting data — O(matching rows) write cost, data files untouched
    and relisted EXISTING. Deletes stack, readers apply them, the
    changelog stream emits the targeted rows as DELETE, and
    rewrite_data_files materializes them away."""
    rows = [(i, "AB"[i % 2], float(i)) for i in range(100)]
    df = spark.createDataFrame(rows, "k long, seg string, v double") \
        .coalesce(4)
    r = write_iceberg_table(
        spark, df, tmp_path / "i",
        properties={"write.delete.mode": "merge-on-read"})
    n_files0 = len(r.live_files())
    res = r.delete("k % 10 = 3")
    assert res["rewritten_files"] == 0 and res["delete_files"] >= 1
    assert res["deleted_rows"] == 10
    r2 = IcebergMetadataReader(spark, tmp_path / "i")
    assert len(r2.live_files()) == n_files0  # nothing rewritten
    assert len(r2.position_delete_files()) == res["delete_files"]
    got = read_iceberg(spark, tmp_path / "i")
    assert got.count() == 90 and got.where("k % 10 = 3").count() == 0
    # the delete files are spec-shaped: (file_path, pos), sorted
    import pyarrow.parquet as pq
    for d in r2.position_delete_files():
        t = pq.read_table(r2._local_data(d["file_path"]))
        assert t.column_names == ["file_path", "pos"]
        pairs = list(zip(t.column("file_path").to_pylist(),
                         t.column("pos").to_pylist()))
        assert pairs == sorted(pairs)
    # a second MOR delete STACKS (prior delete manifests carry over)
    r2.delete("k < 5", mode="merge-on-read")
    r3 = IcebergMetadataReader(spark, tmp_path / "i")
    got = read_iceberg(spark, tmp_path / "i")
    assert got.count() == 86
    assert sorted(x.k for x in got.collect())[:3] == [5, 6, 7]
    # the changelog stream surfaces the MOR commit as DELETE rows
    ch = r3.changelog(1, 2)  # range is (from, to]
    dels = [x.k for x in ch.where("_change_type = 'DELETE'").collect()]
    assert sorted(dels) == [3, 13, 23, 33, 43, 53, 63, 73, 83, 93]
    # compaction applies + retires the delete files
    res3 = r3.rewrite_data_files(target_files=2)
    assert res3["applied_delete_files"] == 2
    r4 = IcebergMetadataReader(spark, tmp_path / "i")
    assert len(r4.position_delete_files()) == 0
    assert read_iceberg(spark, tmp_path / "i").count() == 86

    # partitioned table: one delete-file set PER PARTITION TUPLE so
    # real readers keep pruning delete manifests
    rp = write_iceberg_table(spark, df, tmp_path / "ip",
                             partition_by=["seg"])
    resp = rp.delete("v >= 90", mode="merge-on-read")
    assert resp["delete_files"] == 2 and resp["deleted_rows"] == 10
    rp2 = IcebergMetadataReader(spark, tmp_path / "ip")
    tuples = {(e["data_file"]["partition"] or {}).get("seg")
              for e in rp2._live_delete_entries()}
    assert tuples == {"A", "B"}
    assert read_iceberg(spark, tmp_path / "ip").count() == 90
    # unknown mode refuses
    with pytest.raises(IcebergFormatError, match="write.delete.mode"):
        rp2.delete("k = 1", mode="mystery")


def test_iceberg_merge_on_read_update(spark, tmp_path):
    """r12: UPDATE with write.update.mode=merge-on-read — old row
    versions tombstone as position deletes, SET-applied images append
    as new files in the SAME snapshot; unmatched rows of affected files
    never rewrite. A SET on the partition source moves rows to their
    new partition, and compaction materializes everything away."""
    rows = [(i, "AB"[i % 2], float(i)) for i in range(100)]
    df = spark.createDataFrame(rows, "k long, seg string, v double") \
        .coalesce(4)
    r = write_iceberg_table(
        spark, df, tmp_path / "i", partition_by=["seg"],
        properties={"write.update.mode": "merge-on-read"})
    files0 = {f["file_path"] for f in r.live_files()}
    res = r.update({"v": "v + 1000"}, where="k % 10 = 3")
    assert res["rewritten_files"] == 0 and res["updated_rows"] == 10
    assert res["delete_files"] >= 1 and res["added_files"] >= 1
    r2 = IcebergMetadataReader(spark, tmp_path / "i")
    assert files0 <= {f["file_path"] for f in r2.live_files()}
    got = {x.k: x.v for x in read_iceberg(spark, tmp_path / "i").collect()}
    assert len(got) == 100
    assert got[3] == 1003.0 and got[13] == 1013.0 and got[4] == 4.0
    # partition-moving SET: rows land in the NEW partition's files
    r2.update({"seg": "'C'"}, where="k < 4", mode="merge-on-read")
    r3 = IcebergMetadataReader(spark, tmp_path / "i")
    moved = read_iceberg(spark, tmp_path / "i").where("seg = 'C'")
    assert sorted(x.k for x in moved.collect()) == [0, 1, 2, 3]
    tuples = {(e["data_file"]["partition"] or {}).get("seg")
              for e in r3._live_data_entries()}
    assert "C" in tuples
    # MOR delete stacks on MOR update; compaction settles the lot
    r3.delete("k = 13", mode="merge-on-read")
    r4 = IcebergMetadataReader(spark, tmp_path / "i")
    r4.rewrite_data_files(target_files=2)
    r5 = IcebergMetadataReader(spark, tmp_path / "i")
    assert len(r5.position_delete_files()) == 0
    got = read_iceberg(spark, tmp_path / "i")
    assert got.count() == 99 and got.where("k = 13").count() == 0
    assert {x.v for x in got.where("k = 3").collect()} == {1003.0}
    with pytest.raises(IcebergFormatError, match="write.update.mode"):
        r5.update({"v": "v"}, mode="bogus")


def test_delta_deletion_vector_delete(spark, tmp_path):
    """r12: DELETE with delta.enableDeletionVectors=true (or
    mode="merge-on-read") re-commits the affected adds with DELETION
    VECTOR descriptors instead of rewriting files — the modern Delta
    default for sparse deletes. The commit auto-upgrades a legacy
    protocol to the table feature; stacked deletes UNION bitmaps; CDF
    records the rows; OPTIMIZE materializes the DVs away; a >32 KiB
    bitmap goes to a sidecar file that VACUUM protects."""
    rows = [(i, "AB"[i % 2], float(i)) for i in range(100)]
    df = spark.createDataFrame(rows, "k long, seg string, v double") \
        .coalesce(4)
    r = write_delta_table(
        spark, df, tmp_path / "d", partition_by=["seg"],
        properties={"delta.enableDeletionVectors": "true",
                    "delta.enableChangeDataFeed": "true"})
    files0 = set(r.snapshot().files)
    res = r.delete("k % 10 = 3")
    assert res["rewritten_files"] == 0 and res["deleted_rows"] == 10
    assert res["dv_files"] >= 1
    r2 = DeltaLogReader(spark, tmp_path / "d")
    proto = r2.snapshot().protocol
    assert proto["minReaderVersion"] == 3
    assert "deletionVectors" in proto["writerFeatures"]
    assert set(r2.snapshot().files) == files0  # nothing rewritten
    got = read_delta(spark, tmp_path / "d")
    assert got.count() == 90 and got.where("k % 10 = 3").count() == 0
    # stacking: the new descriptor unions the old bitmap
    r2.delete("k < 5", mode="merge-on-read")
    r3 = DeltaLogReader(spark, tmp_path / "d")
    got = read_delta(spark, tmp_path / "d")
    assert got.count() == 86
    assert sorted(x.k for x in got.collect())[:3] == [5, 6, 7]
    # CDF recorded both deletes' rows
    ch = r3.table_changes(1, 2)
    assert ch.where("_change_type = 'delete'").count() == 14
    # OPTIMIZE materializes DVs away, read unchanged
    r3.optimize(target_files=2)
    r4 = DeltaLogReader(spark, tmp_path / "d")
    assert not any(a.get("deletionVector")
                   for a in r4.snapshot().files.values())
    assert read_delta(spark, tmp_path / "d").count() == 86
    with pytest.raises(DeltaProtocolError, match="delete mode"):
        r4.delete("k = 1", mode="nope")

    # sidecar path: a bitmap too big to inline lands in a
    # deletion_vector_<uuid>.bin file that VACUUM keeps
    # a roaring bitmap container covers 65536 ordinals in <=8 KiB, so
    # the 32 KiB inline cap needs a single file spanning >~260k rows
    big = spark.range(600_000).select(
        F.col("id").alias("k"), (F.col("id") * 1.0).alias("v")
    ).coalesce(1)
    rb = write_delta_table(spark, big, tmp_path / "big")
    res = rb.delete("k % 3 = 1", mode="merge-on-read")
    assert res["deleted_rows"] == 200_000 and res["rewritten_files"] == 0
    rb2 = DeltaLogReader(spark, tmp_path / "big")
    descs = [a["deletionVector"]
             for a in rb2.snapshot().files.values()
             if a.get("deletionVector")]
    assert descs and any(d["storageType"] == "u" for d in descs)
    sidecars = list((tmp_path / "big").glob("deletion_vector_*.bin"))
    assert sidecars
    vac = rb2.vacuum(retention_hours=0)
    assert all((tmp_path / "big" / s.name).exists() for s in sidecars), vac
    got = read_delta(spark, tmp_path / "big")
    assert got.count() == 400_000
    assert got.where("k % 3 = 1").count() == 0


def test_delta_deletion_vector_update(spark, tmp_path):
    """r12: UPDATE with merge-on-read on Delta — old row versions
    tombstone as deletion vectors, SET-applied images append as new
    files in the same commit; unmatched rows never rewrite; CDF records
    the pre/post images; a SET on the partition column moves rows."""
    rows = [(i, "AB"[i % 2], float(i)) for i in range(100)]
    df = spark.createDataFrame(rows, "k long, seg string, v double") \
        .coalesce(4)
    r = write_delta_table(
        spark, df, tmp_path / "d", partition_by=["seg"],
        properties={"delta.enableDeletionVectors": "true",
                    "delta.enableChangeDataFeed": "true"})
    files0 = set(r.snapshot().files)
    res = r.update({"v": "v + 1000"}, where="k % 10 = 3")
    assert res["rewritten_files"] == 0 and res["updated_rows"] == 10
    assert res["dv_files"] >= 1 and res["added_files"] >= 1
    r2 = DeltaLogReader(spark, tmp_path / "d")
    assert files0 <= set(r2.snapshot().files)  # originals all still live
    got = {x.k: x.v for x in read_delta(spark, tmp_path / "d").collect()}
    assert len(got) == 100
    assert got[3] == 1003.0 and got[13] == 1013.0 and got[4] == 4.0
    # CDF pre/post images
    ch = r2.table_changes(1, 1)
    mix = {x["_change_type"]: 0 for x in ch.select("_change_type")
           .distinct().collect()}
    for x in ch.collect():
        mix[x["_change_type"]] += 1
    assert mix == {"update_preimage": 10, "update_postimage": 10}
    # partition-moving SET lands rows in the new partition
    r2.update({"seg": "'C'"}, where="k < 4", mode="merge-on-read")
    r3 = DeltaLogReader(spark, tmp_path / "d")
    moved = read_delta(spark, tmp_path / "d").where("seg = 'C'")
    assert sorted(x.k for x in moved.collect()) == [0, 1, 2, 3]
    assert any((a.get("partitionValues") or {}).get("seg") == "C"
               for a in r3.snapshot().files.values())
    # DV delete stacks on DV update; OPTIMIZE settles everything
    r3.delete("k = 13", mode="merge-on-read")
    r4 = DeltaLogReader(spark, tmp_path / "d")
    r4.optimize(target_files=2)
    r5 = DeltaLogReader(spark, tmp_path / "d")
    assert not any(a.get("deletionVector")
                   for a in r5.snapshot().files.values())
    got = read_delta(spark, tmp_path / "d")
    assert got.count() == 99 and got.where("k = 13").count() == 0
    assert {x.v for x in got.where("k = 3").collect()} == {1003.0}
