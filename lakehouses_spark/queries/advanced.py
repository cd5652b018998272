"""Driver-facing queries for the non-SQL-expressible subsystems (rows-only
checks per the driver contract): lakehouse DML, ALS gold, multimodal
metadata. Each runs end-to-end inside one call so the driver exercises the
real engine paths at sf0.01.
"""

from __future__ import annotations

import io
import struct
import tempfile
import zlib

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, StructField, StructType, StringType

from lakehouses_spark.io import load_table
from lakehouses_spark.registry import query


@query(
    "lake_dml_roundtrip",
    # the whole DML arc is deterministic (key-range selections), so the
    # transaction-log path gets a REAL differential oracle: DuckDB replays
    # the same CREATE→DELETE→UPDATE→MERGE sequence relationally
    oracle="""
    WITH base AS (SELECT * FROM orders WHERE o_orderkey <= 4000),
    v1 AS (SELECT * FROM base WHERE o_orderstatus <> 'F'),
    v2 AS (
      SELECT o_orderkey,
             CASE WHEN o_orderpriority = '1-URGENT'
                  THEN o_totalprice * 1.05 ELSE o_totalprice END AS p
      FROM v1
    ),
    src AS (SELECT o_orderkey FROM orders WHERE o_orderkey <= 200),
    n AS (
      SELECT (SELECT count(*) FROM base) AS n0,
             (SELECT count(*) FROM v1)   AS n1,
             (SELECT count(*) FROM v1)
             + (SELECT count(*) FROM src
                WHERE o_orderkey NOT IN (SELECT o_orderkey FROM v2)) AS n3
    ),
    total AS (
      SELECT round(
        (SELECT sum(CASE WHEN o_orderkey IN (SELECT o_orderkey FROM src)
                         THEN 1.0 ELSE p END) FROM v2)
        + (SELECT count(*) FROM src
           WHERE o_orderkey NOT IN (SELECT o_orderkey FROM v2)) * 1.0,
        2) AS t
    )
    SELECT 0 AS version, n0 AS n_rows, t AS current_total FROM n, total
    UNION ALL SELECT 1, n1, t FROM n, total
    UNION ALL SELECT 2, n1, t FROM n, total
    UNION ALL SELECT 3, n3, t FROM n, total
    ORDER BY version
    """,
)
def lake_dml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2.10 arc as one driver-checkable query: CTAS from orders →
    DELETE → UPDATE → MERGE → per-version row counts + current aggregate.
    Exercises the full transaction-log path (create/commit/replay/COW DML/
    time travel) on real testdata. Selections are key-range (not limit), so
    the sequence is deterministic and oracle-checkable."""
    from lakehouses_spark.tables import LakeTable

    orders = load_table(spark, sf_dir, "orders").where("o_orderkey <= 4000")
    with tempfile.TemporaryDirectory() as tmp:
        t = LakeTable.create(spark, f"{tmp}/orders", orders)
        t.delete("o_orderstatus = 'F'")
        t.update({"o_totalprice": "o_totalprice * 1.05"}, where="o_orderpriority = '1-URGENT'")
        src = load_table(spark, sf_dir, "orders").where("o_orderkey <= 200") \
            .withColumn("o_totalprice", F.lit(1.0))
        t.merge(src, "t.o_orderkey = s.o_orderkey")
        # per-version counts straight from log metadata (num_records in the
        # add actions) — the metadata-only count(*) optimization; no scan jobs
        rows = [
            (v, t.state(version=v).num_records) for v in range(t.version + 1)
        ]
        cur = t.read().agg(F.round(F.sum("o_totalprice"), 2)).collect()[0][0]
        return spark.createDataFrame(
            [(v, n, float(cur)) for v, n in rows],
            "version int, n_rows long, current_total double",
        )


@query(
    "lake_delta_log_export",
    # deterministic CREATE→DELETE→UPDATE arc replayed relationally; the
    # Spark side must round-trip it through an EXPORTED Delta-protocol log
    # and the independent stdlib reader to produce the same aggregate
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_orderstatus, o_orderpriority, o_totalprice
      FROM orders WHERE o_orderkey <= 4000
    ), kept AS (
      SELECT * FROM base
      WHERE NOT (o_orderstatus = 'F' AND o_totalprice < 100000)
    ), upd AS (
      SELECT o_orderstatus,
             CASE WHEN o_totalprice > 250000
                  THEN '1-URGENT' ELSE o_orderpriority END AS o_orderpriority,
             o_totalprice
      FROM kept
    )
    SELECT o_orderstatus, o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(CAST(sum(o_totalprice) AS DOUBLE), 2) AS total_price
    FROM upd
    GROUP BY o_orderstatus, o_orderpriority
    ORDER BY o_orderstatus, o_orderpriority
    """,
)
def lake_delta_log_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-protocol interop arc (VERDICT r5 #1): CTAS from orders →
    DELETE → UPDATE on the LakeTable, then `export_delta_log` writes a
    protocol-conformant `_delta_log` (the format the reference inspects at
    01.parquet_primer.py:199-222) and the INDEPENDENT `read_delta` reader —
    stdlib JSON replay of protocol/metaData/add/remove actions, no Delta
    jar — reconstructs the final snapshot, which is aggregated for the
    oracle. A hash match proves the exported log's file-level state is
    byte-equivalent to the source table's.

    100 TB shape: export moves metadata (one JSON per commit) and
    hard-links data files — O(files), no data rewrite; the reader plans
    from the log exactly like LakeTable (no directory listing)."""
    from lakehouses_spark.tables import LakeTable
    from lakehouses_spark.tables.delta_log import read_delta

    orders = load_table(spark, sf_dir, "orders").where("o_orderkey <= 4000").select(
        "o_orderkey", "o_orderstatus", "o_orderpriority", "o_totalprice"
    )
    with tempfile.TemporaryDirectory() as tmp:
        t = LakeTable.create(spark, f"{tmp}/orders", orders)
        t.delete("o_orderstatus = 'F' AND o_totalprice < 100000")
        t.update(
            {"o_orderpriority": "'1-URGENT'"}, where="o_totalprice > 250000"
        )
        dest = t.export_delta_log(f"{tmp}/orders_delta")
        out = (
            read_delta(spark, dest)
            .groupBy("o_orderstatus", "o_orderpriority")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.round(F.sum("o_totalprice"), 2).alias("total_price"),
            )
            .orderBy("o_orderstatus", "o_orderpriority")
        )
        # materialize before the tempdir (and the exported table) disappears
        return out.localCheckpoint()


@query(
    "lake_delta_v2_checkpoint",
    # UPDATE→lazy-DELETE arc exported with checkpoint_format="v2"; every
    # commit JSON is then deleted, so the aggregate MUST reconstruct from
    # the v2 checkpoint alone (top-level uuid json + _sidecars parquet,
    # native DV descriptors riding in the sidecar add actions)
    oracle="""
    WITH base AS (
      SELECT l_orderkey, l_returnflag, l_linestatus, l_quantity,
             l_extendedprice
      FROM lineitem WHERE l_orderkey <= 3000
    ), upd AS (
      SELECT l_returnflag,
             CASE WHEN l_quantity >= 45 THEN 'X' ELSE l_linestatus END
               AS l_linestatus,
             l_quantity, l_extendedprice
      FROM base
    ), kept AS (
      SELECT * FROM upd
      WHERE NOT (l_returnflag = 'R' AND l_quantity < 10)
    )
    SELECT l_returnflag, l_linestatus,
           CAST(count(*) AS BIGINT) AS n_items,
           round(CAST(sum(l_quantity) AS DOUBLE), 2) AS sum_qty,
           round(CAST(sum(l_extendedprice) AS DOUBLE), 2) AS total_price
    FROM kept
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def lake_delta_v2_checkpoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V2-checkpoint interop arc (r9): CTAS from lineitem → UPDATE →
    lazy DELETE (merge-on-read tombstone) → `export_delta_log(
    checkpoint_format="v2")` — the UUID-named top-level
    `<v>.checkpoint.<uuid>.json` + `_sidecars/*.parquet` layout
    (PROTOCOL.md "V2 Checkpoint Table Feature") — then every commit JSON
    is DELETED, Delta's log-retention cleanup. The aggregate must
    reconstruct from the v2 checkpoint alone: non-file actions + sidecar
    pointers from the top-level file, add actions (including the native
    deletionVector descriptor for the lazy delete) from the sidecar
    parquet. In-query asserts pin the layout: exactly one uuid top-level,
    ≥1 sidecar, NO classic checkpoint parquet, and a DV-carrying add in
    the reconstructed snapshot.

    100 TB shape: sidecars chunk at CHECKPOINT_PART_ACTIONS adds each, so
    a million-file table's checkpoint is ~20 parquet files readable in
    parallel while the top-level stays O(sidecar count)."""
    import os as _os

    from lakehouses_spark.tables import LakeTable
    from lakehouses_spark.tables.delta_log import DeltaLogReader, read_delta

    li = load_table(spark, sf_dir, "lineitem").where("l_orderkey <= 3000").select(
        "l_orderkey", "l_returnflag", "l_linestatus", "l_quantity",
        "l_extendedprice",
    )
    with tempfile.TemporaryDirectory() as tmp:
        t = LakeTable.create(spark, f"{tmp}/lineitem", li)
        t.update({"l_linestatus": "'X'"}, where="l_quantity >= 45")
        t.delete("l_returnflag = 'R' AND l_quantity < 10", lazy=True)
        dest = t.export_delta_log(
            f"{tmp}/lineitem_delta", checkpoint_format="v2"
        )
        log = dest / "_delta_log"
        tops = list(log.glob(f"{t.version:020d}.checkpoint.*.json"))
        assert len(tops) == 1, tops
        assert len(list((log / "_sidecars").glob("*.parquet"))) >= 1
        assert not list(log.glob("*.checkpoint.parquet"))
        for v in range(t.version + 1):
            _os.unlink(log / f"{v:020d}.json")
        r = DeltaLogReader(spark, dest)
        assert any(
            a.get("deletionVector") for a in r.snapshot().files.values()
        ), "lazy delete must survive as a native DV through the sidecar"
        out = (
            read_delta(spark, dest)
            .groupBy("l_returnflag", "l_linestatus")
            .agg(
                F.count(F.lit(1)).alias("n_items"),
                F.round(F.sum("l_quantity").cast("double"), 2)
                .alias("sum_qty"),
                F.round(F.sum("l_extendedprice").cast("double"), 2)
                .alias("total_price"),
            )
            .orderBy("l_returnflag", "l_linestatus")
        )
        # materialize before the tempdir (and the exported table) disappears
        return out.localCheckpoint()


@query(
    "lake_uniform_export",
    # CREATE→UPDATE→lazy-DELETE arc exported ONCE with BOTH metadata
    # layers over the same hard-linked data files; the returned aggregate
    # reads the ICEBERG layer and the in-query assert pins it row-equal to
    # the DELTA layer's read (DV vs position-delete agreement included)
    oracle="""
    WITH base AS (
      SELECT p_partkey, p_brand, p_type, p_size, p_retailprice
      FROM part WHERE p_partkey <= 3000
    ), upd AS (
      SELECT p_partkey, p_brand,
             CASE WHEN p_size >= 40 THEN 'JUMBO' ELSE p_type END
               AS p_type,
             p_size, p_retailprice
      FROM base
    ), kept AS (
      SELECT * FROM upd
      WHERE NOT (p_brand = 'Brand#45' AND p_size < 10)
    )
    SELECT p_brand,
           CAST(count(*) AS BIGINT) AS n_parts,
           round(CAST(sum(p_retailprice) AS DOUBLE), 2) AS total_price,
           CAST(sum(p_size) AS BIGINT) AS total_size
    FROM kept
    GROUP BY p_brand
    ORDER BY p_brand
    """,
)
def lake_uniform_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dual-format (UniForm-shape) export arc (r9): CTAS from part →
    UPDATE → lazy DELETE (merge-on-read tombstone) → `export_uniform` —
    ONE copy of the data files with a Delta `_delta_log/` AND an Iceberg
    `metadata/` layer over them, Delta UniForm's layout. The tombstone
    surfaces as a native deletion vector on the Delta side and native v2
    position-delete files on the Iceberg side, over the SAME parquet
    bytes. The returned aggregate reads the ICEBERG layer; the in-query
    assert pins the DELTA layer's read row-identical, so a hash match
    proves both formats' row-level-delete semantics agree on this data.

    100 TB shape: both exports are metadata-only passes; the data is
    hard-linked once, never copied or rewritten — the whole point of
    UniForm at scale."""
    from lakehouses_spark.tables import LakeTable
    from lakehouses_spark.tables.delta_log import read_delta
    from lakehouses_spark.tables.iceberg_meta import read_iceberg

    part = load_table(spark, sf_dir, "part").where("p_partkey <= 3000").select(
        "p_partkey", "p_brand", "p_type", "p_size", "p_retailprice"
    )
    with tempfile.TemporaryDirectory() as tmp:
        t = LakeTable.create(spark, f"{tmp}/part", part)
        t.update({"p_type": "'JUMBO'"}, where="p_size >= 40")
        t.delete("p_brand = 'Brand#45' AND p_size < 10", lazy=True)
        dest = t.export_uniform(f"{tmp}/part_uniform")

        def agg(df: DataFrame) -> DataFrame:
            return (
                df.groupBy("p_brand")
                .agg(
                    F.count(F.lit(1)).alias("n_parts"),
                    F.round(F.sum("p_retailprice").cast("double"), 2)
                    .alias("total_price"),
                    F.sum("p_size").cast("bigint").alias("total_size"),
                )
                .orderBy("p_brand")
            )

        ice = agg(read_iceberg(spark, dest))
        delta = agg(read_delta(spark, dest))
        ice_rows = ice.collect()
        assert ice_rows == delta.collect(), \
            "Delta and Iceberg layers disagree over the same data files"
        # materialize before the tempdir (and the exported table) disappears
        return spark.createDataFrame(ice_rows, ice.schema)


@query(
    "lake_delta_pruned_read",
    # the EXPORTED table is read back through the independent reader with
    # column pruning + stats file skipping + a NATIVE deletion-vector
    # filter (the lazy delete exports as add.deletionVector, not a
    # rewrite); the oracle replays the same predicate chain relationally
    oracle="""
    WITH base AS (
      SELECT l_orderkey, l_quantity, l_extendedprice
      FROM lineitem WHERE l_orderkey <= 8000
    ), live AS (
      SELECT * FROM base WHERE NOT (l_quantity >= 45)
    )
    SELECT CAST(l_orderkey % 7 AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n_items,
           round(CAST(sum(l_extendedprice) AS DOUBLE), 2) AS total_price
    FROM live
    WHERE l_orderkey <= 4000
    GROUP BY 1 ORDER BY 1
    """,
)
def lake_delta_pruned_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """External-Delta SCAN EFFICIENCY arc (r8): CTAS a lineitem slice
    clustered by l_orderkey, LAZY-delete (the tombstone exports as a
    native `add.deletionVector` — no rewrite), export the Delta log, then
    read it back through the independent reader with `columns=` (pruned
    ReadSchema) and `filters=` (per-file min/max stats skipping). The
    in-query assert pins that the filtered read really scanned FEWER
    files; the oracle pins that pruning lost nothing.

    100 TB shape: this is the difference between scanning a table and
    scanning a partition — predicates resolve against log metadata
    (stats / partitionValues) before any parquet footer is opened, and
    deleted rows are masked by a bitmap instead of rewriting files."""
    from lakehouses_spark.tables import LakeTable
    from lakehouses_spark.tables.delta_log import read_delta

    src = load_table(spark, sf_dir, "lineitem").where(
        "l_orderkey <= 8000"
    ).select("l_orderkey", "l_quantity", "l_extendedprice")
    with tempfile.TemporaryDirectory() as tmp:
        t = LakeTable.create(
            spark, f"{tmp}/li", src, partition_by=["l_orderkey"], num_files=8
        )
        t.delete("l_quantity >= 45", lazy=True)  # merge-on-read tombstone
        dest = t.export_delta_log(f"{tmp}/li_delta")
        pruned = read_delta(
            spark, dest,
            columns=["l_orderkey", "l_extendedprice"],
            filters=[("l_orderkey", "<=", 4000)],
        )
        n_all = len(set(read_delta(spark, dest).inputFiles()))
        n_hit = len(set(pruned.inputFiles()))
        assert 0 < n_hit < n_all, (
            f"stats skipping must prune files: {n_hit}/{n_all}"
        )
        out = (
            pruned.groupBy((F.col("l_orderkey") % 7).alias("bucket"))
            .agg(
                F.count(F.lit(1)).alias("n_items"),
                F.round(F.sum("l_extendedprice"), 2).alias("total_price"),
            )
            .orderBy("bucket")
        )
        # materialize before the tempdir (and the exported table) disappears
        return out.localCheckpoint()


@query(
    "lake_iceberg_pruned_read",
    # the EXPORTED Iceberg v2 table is read back through the independent
    # reader with column pruning + manifest-bounds file skipping + live
    # POSITION deletes (the lazy delete exports as (file_path, pos)
    # parquet); the oracle replays the same predicate chain relationally
    oracle="""
    WITH base AS (
      SELECT l_orderkey, l_quantity, l_extendedprice
      FROM lineitem WHERE l_orderkey <= 8000
    ), live AS (
      SELECT * FROM base WHERE NOT (l_quantity >= 45)
    )
    SELECT CAST(l_orderkey % 7 AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n_items,
           round(CAST(sum(l_extendedprice) AS DOUBLE), 2) AS total_price
    FROM live
    WHERE l_orderkey <= 4000
    GROUP BY 1 ORDER BY 1
    """,
)
def lake_iceberg_pruned_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """External-ICEBERG scan efficiency arc (VERDICT r9 #3, the Iceberg
    twin of `lake_delta_pruned_read`): CTAS a lineitem slice clustered by
    l_orderkey, LAZY-delete (exports as spec position deletes, no
    rewrite), export the Iceberg v2 metadata layer, then read it back
    through `IcebergMetadataReader.to_df` with `columns=` (pruned
    ReadSchema) and `filters=` — `plan_files` decodes each manifest
    entry's lower/upper bounds and SKIPS files whose range can't satisfy
    the predicate before any parquet footer opens. The in-query assert
    pins that the filtered read really planned fewer files; the oracle
    pins that pruning lost nothing.

    100 TB shape: manifest-level pruning is Iceberg's core scan-planning
    contract — predicates resolve against O(files) Avro stats rows, so a
    1000-executor cluster opens only the matching fraction of a
    million-file table, and deletes mask rows without rewrites."""
    from lakehouses_spark.tables import LakeTable
    from lakehouses_spark.tables.iceberg_meta import IcebergMetadataReader

    src = load_table(spark, sf_dir, "lineitem").where(
        "l_orderkey <= 8000"
    ).select("l_orderkey", "l_quantity", "l_extendedprice")
    with tempfile.TemporaryDirectory() as tmp:
        t = LakeTable.create(
            spark, f"{tmp}/li", src, partition_by=["l_orderkey"], num_files=8
        )
        t.delete("l_quantity >= 45", lazy=True)  # merge-on-read tombstone
        dest = t.export_iceberg_metadata(f"{tmp}/li_iceberg")
        r = IcebergMetadataReader(spark, dest)
        n_all = len(r.plan_files())
        n_hit = len(r.plan_files(filters=[("l_orderkey", "<=", 4000)]))
        assert 0 < n_hit < n_all, (
            f"manifest-bounds skipping must prune files: {n_hit}/{n_all}"
        )
        pruned = r.to_df(
            columns=["l_orderkey", "l_extendedprice"],
            filters=[("l_orderkey", "<=", 4000)],
        )
        out = (
            pruned.groupBy((F.col("l_orderkey") % 7).alias("bucket"))
            .agg(
                F.count(F.lit(1)).alias("n_items"),
                F.round(F.sum("l_extendedprice"), 2).alias("total_price"),
            )
            .orderBy("bucket")
        )
        # materialize before the tempdir (and the exported table) disappears
        return out.localCheckpoint()


@query(
    "lake_external_delta_dml",
    # the DML runs through DeltaLogReader ALONE (no LakeTable adoption);
    # the oracle replays the same DELETE→UPDATE chain relationally.
    # floor(x*100+0.5)/100 is the engine-neutral 2-decimal rounding (Spark
    # rounds half-up, DuckDB half-even; floor is exact on doubles)
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_orderstatus, o_orderpriority, o_totalprice
      FROM orders WHERE o_orderkey <= 6000
    ), kept AS (
      SELECT * FROM base
      WHERE NOT (o_orderstatus = 'F' AND o_totalprice < 50000)
    ), upd AS (
      SELECT o_orderkey, o_orderstatus,
             CASE WHEN o_orderpriority = '1-URGENT'
                  THEN floor(o_totalprice * 1.1 * 100 + 0.5) / 100
                  ELSE o_totalprice END AS o_totalprice
      FROM kept
    )
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(CAST(sum(o_totalprice) AS DOUBLE), 2) AS total_price
    FROM upd
    GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)
def lake_external_delta_dml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """External-Delta WRITE plane (VERDICT r9 #4): a foreign client with
    nothing but the `_delta_log` runs the reference's DML arc
    (02.delta_lake_primer.py:213-320) through `DeltaLogReader` alone —
    copy-on-write DELETE then UPDATE committed as native Delta JSON, plus
    a RESTORE round-trip — against a table this engine exported but never
    re-adopts. In-query asserts pin COW mechanics: only files containing
    matching rows were rewritten (untouched files are shared between
    versions byte-for-byte), history records the operations, and RESTORE
    returns the pre-DML row count.

    100 TB shape: DML plans affected files from one distributed scan
    keyed by `_metadata.file_path` (O(affected) driver state), rewrites
    only those files in one distributed pass, and commits O(files)
    metadata — the write-side contract every external Delta client
    (Trino, Flink, delta-rs) implements."""
    from lakehouses_spark.tables import LakeTable
    from lakehouses_spark.tables.delta_log import DeltaLogReader, read_delta

    base = load_table(spark, sf_dir, "orders").where(
        "o_orderkey <= 6000"
    ).select("o_orderkey", "o_orderstatus", "o_orderpriority", "o_totalprice")
    with tempfile.TemporaryDirectory() as tmp:
        t = LakeTable.create(spark, f"{tmp}/orders", base)
        dest = t.export_delta_log(f"{tmp}/orders_delta")
        r = DeltaLogReader(spark, dest)
        v0 = r.snapshot().version
        n0 = len(r.snapshot().files)
        res_d = r.delete("o_orderstatus = 'F' AND o_totalprice < 50000")
        res_u = r.update(
            {"o_totalprice": "floor(o_totalprice * 1.1 * 100 + 0.5) / 100"},
            where="o_orderpriority = '1-URGENT'",
        )
        assert res_d["rewritten_files"] >= 1 and res_u["rewritten_files"] >= 1
        # COW: files the DELETE didn't touch are SHARED byte-for-byte
        # between the pre-DML snapshot and the post-DELETE snapshot —
        # a strict count (exactly candidates-minus-rewritten), asserted
        # against v0+1 because the subsequent UPDATE rewrites more files
        shared = set(r.snapshot(v0).files) & set(r.snapshot(v0 + 1).files)
        assert len(shared) == n0 - res_d["rewritten_files"], (
            len(shared), n0, res_d)
        ops = [h.operation for h in r.describe_history().collect()[:2]]
        assert ops == ["UPDATE", "DELETE"], ops
        out = (
            read_delta(spark, dest)
            .groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.round(F.sum("o_totalprice"), 2).alias("total_price"),
            )
            .orderBy("o_orderstatus")
        )
        final = out.localCheckpoint()
        # RESTORE: metadata-only rollback to the exported snapshot
        n_before = r.to_df(v0).count()
        r.restore(v0)
        assert read_delta(spark, dest).count() == n_before
        return final


@query(
    "lake_external_iceberg_dml",
    # the DML runs through IcebergMetadataReader ALONE (no adoption);
    # the oracle replays the same DELETE→UPDATE chain relationally
    oracle="""
    WITH base AS (
      SELECT c_custkey, c_mktsegment, c_nationkey, c_acctbal
      FROM customer WHERE c_custkey <= 4000
    ), kept AS (
      SELECT * FROM base
      WHERE NOT (c_mktsegment = 'BUILDING' AND c_acctbal < 1000)
    ), upd AS (
      SELECT c_custkey, c_mktsegment,
             CASE WHEN c_nationkey <= 5 THEN c_acctbal + 100
                  ELSE c_acctbal END AS c_acctbal
      FROM kept
    ), merged AS (
      SELECT c_custkey,
             CASE WHEN c_custkey <= 50 THEN 'MERGED'
                  ELSE c_mktsegment END AS c_mktsegment,
             CASE WHEN c_custkey <= 50 THEN 1000.0
                  ELSE c_acctbal END AS c_acctbal
      FROM upd
      UNION ALL
      SELECT c_custkey + 1000000 AS c_custkey,
             'NEWSEG' AS c_mktsegment, 10.0 AS c_acctbal
      FROM base WHERE c_custkey <= 20
    )
    SELECT c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_customers,
           round(CAST(sum(c_acctbal) AS DOUBLE), 2) AS total_acctbal
    FROM merged
    GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
)
def lake_external_iceberg_dml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """External-ICEBERG write plane (r10, extended r11 with MERGE +
    rollback — the full format twin of `lake_external_delta_dml`): a
    foreign client with nothing but the `metadata/` layer runs
    copy-on-write DELETE → UPDATE → MERGE through `IcebergMetadataReader`
    alone — each committed as a new Iceberg v2 snapshot (new manifest
    with ADDED/DELETED/EXISTING entries, manifest list carrying live
    delete manifests, next metadata.json, main ref advanced) — then
    `rollback_to_snapshot` (metadata-only, Iceberg's procedure) returns
    to the exported snapshot and `set_current_snapshot` rolls forward.
    In-query asserts pin the snapshot chain: operations
    `delete`/`overwrite`/`overwrite`, monotonic sequence numbers,
    deterministic MERGE insert count, rollback restoring the original
    row count, and time travel to the pre-DML snapshot.

    100 TB shape: affected-file planning is one distributed scan keyed
    by `_metadata.file_path`; the rewrite is one pass over affected data;
    commit cost is O(live files) manifest rows — Iceberg's own COW
    write-path contract (write.delete.mode=copy-on-write); rollback
    touches zero data bytes."""
    from lakehouses_spark.tables import LakeTable
    from lakehouses_spark.tables.iceberg_meta import (
        IcebergMetadataReader,
        read_iceberg,
    )

    base = load_table(spark, sf_dir, "customer").where(
        "c_custkey <= 4000"
    ).select("c_custkey", "c_mktsegment", "c_nationkey", "c_acctbal")
    with tempfile.TemporaryDirectory() as tmp:
        t = LakeTable.create(spark, f"{tmp}/customer", base)
        dest = t.export_iceberg_metadata(f"{tmp}/customer_iceberg")
        r = IcebergMetadataReader(spark, dest)
        pre = r.meta["current-snapshot-id"]
        n0 = r.to_df().count()
        res_d = r.delete("c_mktsegment = 'BUILDING' AND c_acctbal < 1000")
        r2 = IcebergMetadataReader(spark, dest)
        res_u = r2.update({"c_acctbal": "c_acctbal + 100"},
                          where="c_nationkey <= 5")
        assert res_d["rewritten_files"] >= 1 and res_u["rewritten_files"] >= 1
        # MERGE: matched rows re-segment to 'MERGED' @ 1000.0; unmatched
        # synthetic keys insert as 'NEWSEG' @ 10.0 (oracle replays both)
        r3 = IcebergMetadataReader(spark, dest)
        cur = r3.to_df()
        src_upd = cur.where("c_custkey <= 50").select(
            "c_custkey", F.lit("MERGED").alias("c_mktsegment"),
            "c_nationkey", F.lit(1000.0).alias("c_acctbal"))
        src_ins = base.where("c_custkey <= 20").select(
            (F.col("c_custkey") + 1000000).alias("c_custkey"),
            F.lit("NEWSEG").alias("c_mktsegment"),
            "c_nationkey", F.lit(10.0).alias("c_acctbal"))
        res_m = r3.merge(src_upd.unionByName(src_ins),
                         "t.c_custkey = s.c_custkey")
        assert res_m["rewritten_files"] >= 1
        assert res_m["inserted_rows"] == src_ins.count(), res_m
        r4 = IcebergMetadataReader(spark, dest)
        post = r4.meta["current-snapshot-id"]
        ops = [s["summary"]["operation"] for s in r4.meta["snapshots"][-3:]]
        assert ops == ["delete", "overwrite", "overwrite"], ops
        seqs = [s["sequence-number"] for s in r4.meta["snapshots"]]
        assert seqs == sorted(seqs) and len(set(seqs)) == len(seqs)
        assert r4.to_df(snapshot_id=pre).count() == n0  # time travel
        # metadata-only rollback to the exported snapshot, then forward
        r4.rollback_to_snapshot(pre)
        assert IcebergMetadataReader(spark, dest).to_df().count() == n0
        r5 = IcebergMetadataReader(spark, dest)
        r5.set_current_snapshot(post)
        out = (
            read_iceberg(spark, dest)
            .groupBy("c_mktsegment")
            .agg(
                F.count(F.lit(1)).alias("n_customers"),
                F.round(F.sum("c_acctbal"), 2).alias("total_acctbal"),
            )
            .orderBy("c_mktsegment")
        )
        # materialize before the tempdir (and the exported table) disappears
        return out.localCheckpoint()


@query(
    "lake_cdf_read",
    # the change feed is re-derived relationally: each DML's pre/post/
    # delete/insert row sets recomputed from orders by replaying the same
    # deterministic predicate chain; empty change groups are filtered on
    # both sides (HAVING n > 0 / groupBy of zero rows)
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_orderstatus, o_orderpriority, o_totalprice
      FROM orders WHERE o_orderkey <= 3000
    ), v2pre AS (
      SELECT * FROM base WHERE o_orderpriority = '1-URGENT'
    ), state2 AS (
      SELECT o_orderkey, o_orderstatus, o_orderpriority,
             CASE WHEN o_orderpriority = '1-URGENT'
                  THEN o_totalprice * 1.10 ELSE o_totalprice END AS o_totalprice
      FROM base
    ), v3del AS (
      SELECT * FROM state2
      WHERE o_orderstatus = 'F' AND o_totalprice < 50000
    ), state3 AS (
      SELECT * FROM state2
      WHERE NOT (o_orderstatus = 'F' AND o_totalprice < 50000)
    ), src AS (
      SELECT o_orderkey FROM orders WHERE o_orderkey BETWEEN 2901 AND 3100
    ), m_pre AS (
      SELECT t.* FROM state3 t
      WHERE o_orderkey IN (SELECT o_orderkey FROM src)
    ), m_ins AS (
      SELECT s.o_orderkey FROM src s
      WHERE s.o_orderkey NOT IN (SELECT o_orderkey FROM state3)
    )
    SELECT * FROM (
      SELECT 2 AS version, 'update_preimage' AS change_type,
             CAST(count(*) AS BIGINT) AS n_rows,
             round(CAST(sum(o_totalprice) AS DOUBLE), 2) AS total_price
      FROM v2pre HAVING count(*) > 0
      UNION ALL
      SELECT 2, 'update_postimage', CAST(count(*) AS BIGINT),
             round(CAST(sum(o_totalprice * 1.10) AS DOUBLE), 2)
      FROM v2pre HAVING count(*) > 0
      UNION ALL
      SELECT 3, 'delete', CAST(count(*) AS BIGINT),
             round(CAST(sum(o_totalprice) AS DOUBLE), 2)
      FROM v3del HAVING count(*) > 0
      UNION ALL
      SELECT 4, 'update_preimage', CAST(count(*) AS BIGINT),
             round(CAST(sum(o_totalprice) AS DOUBLE), 2)
      FROM m_pre HAVING count(*) > 0
      UNION ALL
      SELECT 4, 'update_postimage', CAST(count(*) AS BIGINT),
             round(CAST(count(*) * 1.0 AS DOUBLE), 2)
      FROM m_pre HAVING count(*) > 0
      UNION ALL
      SELECT 4, 'insert', CAST(count(*) AS BIGINT),
             round(CAST(count(*) * 1.0 AS DOUBLE), 2)
      FROM m_ins HAVING count(*) > 0
    ) ORDER BY version, change_type
    """,
)
def lake_cdf_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change Data Feed arc (VERDICT r8 #7 — Delta's
    `table_changes(from, to)` / delta.enableChangeDataFeed): CTAS from
    orders, enable CDF, then UPDATE → DELETE → MERGE each record row-level
    change files; `table_changes(2, 4)` returns every change row with its
    `_change_type` / `_commit_version`, aggregated per (version, type) for
    the oracle. The oracle replays the same DML chain relationally —
    including the interaction where v2's price update feeds v3's delete
    predicate and v3's deletes make v4's merge re-insert keys.

    100 TB shape: change files are written once per DML, bounded by the
    DML's own matched-row count (O(changed rows), never O(table)), and a
    CDF read scans only the change files of the requested version range —
    the downstream-sync pattern that avoids full-table diffs entirely."""
    from lakehouses_spark.tables import LakeTable
    from lakehouses_spark.tables.table import CDF_PROPERTY

    base = load_table(spark, sf_dir, "orders").where("o_orderkey <= 3000").select(
        "o_orderkey", "o_orderstatus", "o_orderpriority", "o_totalprice"
    )
    with tempfile.TemporaryDirectory() as tmp:
        t = LakeTable.create(spark, f"{tmp}/orders", base)       # v0
        t.set_properties({CDF_PROPERTY: "true"})                 # v1
        t.update({"o_totalprice": "o_totalprice * 1.10"},
                 where="o_orderpriority = '1-URGENT'")           # v2
        t.delete("o_orderstatus = 'F' AND o_totalprice < 50000")  # v3
        src = (
            load_table(spark, sf_dir, "orders")
            .where("o_orderkey BETWEEN 2901 AND 3100")
            .select("o_orderkey", "o_orderstatus", "o_orderpriority")
            .withColumn("o_totalprice", F.lit(1.0))
        )
        t.merge(src, "t.o_orderkey = s.o_orderkey")              # v4
        out = (
            t.table_changes(2, 4)
            .groupBy(
                F.col("_commit_version").cast("int").alias("version"),
                F.col("_change_type").alias("change_type"),
            )
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.round(F.sum("o_totalprice"), 2).alias("total_price"),
            )
            .orderBy("version", "change_type")
        )
        # materialize before the tempdir (and the change files) disappear
        return out.localCheckpoint()


@query(
    "lake_expire_snapshots",
    # the maintenance op must be metadata-only for the CURRENT snapshot:
    # after expiring everything but the head, the aggregate still equals
    # the relational replay of the whole DML arc
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_orderstatus, o_orderpriority, o_totalprice
      FROM orders WHERE o_orderkey <= 5000
    ), kept AS (
      SELECT * FROM base
      WHERE NOT (o_orderstatus = 'O' AND o_totalprice < 40000)
    ), upd AS (
      SELECT o_orderstatus,
             CASE WHEN o_totalprice > 200000
                  THEN '5-LOW' ELSE o_orderpriority END AS o_orderpriority,
             o_totalprice
      FROM kept
    )
    SELECT o_orderstatus, o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(CAST(sum(o_totalprice) AS DOUBLE), 2) AS total_price
    FROM upd
    GROUP BY o_orderstatus, o_orderpriority
    ORDER BY o_orderstatus, o_orderpriority
    """,
)
def lake_expire_snapshots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg MAINTENANCE arc (r9): CTAS from orders → DELETE → UPDATE →
    export Iceberg v2 → `expire_snapshots(keep_last=1,
    max_metadata_versions=2)` — the expireSnapshots + previous-versions-max
    retention pair every production Iceberg table runs on a schedule. The
    in-query asserts pin the maintenance contract: all but the head
    snapshot expired, at least one expired-only manifest list AND one
    copy-on-write-orphaned data file physically deleted, old metadata
    JSONs unlinked, the expired snapshot unreadable — while the CURRENT
    snapshot's aggregate still hashes equal to the oracle's relational
    replay of the full DML arc.

    100 TB shape: expiration cost is O(metadata of expired snapshots) —
    the kept-file index comes from the retained manifests (bounded by the
    live table) and data files are unlinked, never read."""
    from lakehouses_spark.tables import LakeTable
    from lakehouses_spark.tables.iceberg_meta import (
        IcebergFormatError,
        IcebergMetadataReader,
    )

    orders = load_table(spark, sf_dir, "orders").where("o_orderkey <= 5000").select(
        "o_orderkey", "o_orderstatus", "o_orderpriority", "o_totalprice"
    )
    with tempfile.TemporaryDirectory() as tmp:
        t = LakeTable.create(spark, f"{tmp}/orders", orders)
        t.delete("o_orderstatus = 'O' AND o_totalprice < 40000")
        t.update({"o_orderpriority": "'5-LOW'"}, where="o_totalprice > 200000")
        dest = t.export_iceberg_metadata(f"{tmp}/orders_iceberg")
        r = IcebergMetadataReader(spark, dest)
        n_snaps = len(r.meta["snapshots"])
        res = r.expire_snapshots(keep_last=1, max_metadata_versions=2)
        assert len(res["expired"]) == n_snaps - 1, res
        assert res["deleted_manifest_lists"] >= 1, res
        assert res["deleted_data_files"] >= 1, res  # COW orphans reclaimed
        assert res["deleted_metadata_files"] >= 1, res
        r2 = IcebergMetadataReader(spark, dest)  # fresh reader via new hint
        assert len(r2.meta["snapshots"]) == 1
        try:
            r2.to_df(snapshot_id=res["expired"][0])
            raise AssertionError("expired snapshot must be unreadable")
        except IcebergFormatError:
            pass
        # maintenance-pair invariant (r9): a clean expire leaves NOTHING
        # for removeOrphanFiles — every surviving file is still referenced
        import time as _time
        orphans = r2.remove_orphan_files(
            older_than_ms=int(_time.time() * 1000) + 60_000, dry_run=True
        )
        assert orphans["orphans"] == [], orphans
        out = (
            r2.to_df()
            .groupBy("o_orderstatus", "o_orderpriority")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.round(F.sum("o_totalprice"), 2).alias("total_price"),
            )
            .orderBy("o_orderstatus", "o_orderpriority")
        )
        # materialize before the tempdir (and the exported table) disappears
        return out.localCheckpoint()


@query(
    "lake_rewrite_compaction",
    # a fragmented table with an ACTIVE merge-on-read delete is compacted
    # into ONE file by rewrite_data_files; the post-compaction aggregate
    # (through a FRESH reader) must equal the relational replay of
    # base-minus-deleted — proving the rewrite applied the position
    # deletes physically and lost nothing
    oracle="""
    WITH base AS (
      SELECT c_custkey, c_mktsegment, c_acctbal
      FROM customer WHERE c_custkey <= 2400
    ), kept AS (
      SELECT * FROM base
      WHERE NOT (c_mktsegment = 'BUILDING' AND c_acctbal < 0)
    )
    SELECT c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_customers,
           round(CAST(sum(c_acctbal) AS DOUBLE), 2) AS total_acctbal
    FROM kept
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
)
def lake_rewrite_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg rewriteDataFiles arc (r9): CTAS + two appends (a
    fragmented file layout) → MOR DELETE (native position-delete file)
    → export Iceberg v2 → `rewrite_data_files(target_files=1)` — one
    distributed scan→repartition→write pass that bin-packs the live rows
    and applies the deletes physically, committing a `replace` snapshot.
    In-query asserts pin the compaction contract: one live file after,
    zero delete files, min/max bounds regenerated (plan_files prunes),
    refs moved with the head, pre-rewrite snapshot still time-travels.
    The aggregate reads the compacted table through a FRESH reader.

    100 TB shape: this is the maintenance op that keeps MOR tables from
    accumulating delete files; metadata cost O(live files), data cost
    one distributed pass."""
    from lakehouses_spark.tables import LakeTable
    from lakehouses_spark.tables.iceberg_meta import IcebergMetadataReader

    base = load_table(spark, sf_dir, "customer").where("c_custkey <= 2400").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    with tempfile.TemporaryDirectory() as tmp:
        t = LakeTable.create(spark, f"{tmp}/customer",
                             base.where("c_custkey <= 800"))
        t.append(base.where("c_custkey BETWEEN 801 AND 1600"))
        t.append(base.where("c_custkey BETWEEN 1601 AND 2400"))
        t.delete("c_mktsegment = 'BUILDING' AND c_acctbal < 0", lazy=True)
        dest = t.export_iceberg_metadata(f"{tmp}/customer_iceberg")
        r = IcebergMetadataReader(spark, dest)
        assert r.position_delete_files(), "MOR delete must export natively"
        pre_head = r.meta["current-snapshot-id"]
        res = r.rewrite_data_files(target_files=1)
        assert res["output_files"] == 1, res
        r2 = IcebergMetadataReader(spark, dest)  # fresh open via new hint
        assert len(r2.live_files()) == 1
        assert not r2.position_delete_files()
        assert r2.plan_files(filters=[("c_custkey", ">", 10_000_000)]) == []
        assert r2.meta["refs"]["main"]["snapshot-id"] == res["snapshot_id"]
        # existence check, not a cardinality check — limit(1) short-circuits
        # the time-travel scan instead of counting every pre-rewrite row (r12)
        assert r2.to_df(snapshot_id=pre_head).limit(1).count() > 0
        out = (
            r2.to_df()
            .groupBy("c_mktsegment")
            .agg(
                F.count(F.lit(1)).alias("n_customers"),
                F.round(F.sum("c_acctbal").cast("double"), 2)
                .alias("total_acctbal"),
            )
            .orderBy("c_mktsegment")
        )
        # materialize before the tempdir (and the exported table) disappears
        return out.localCheckpoint()


@query(
    "lake_iceberg_refs",
    # the returned aggregate reads the TAG — the post-delete, pre-update
    # snapshot — so the oracle replays exactly base-minus-deletes; the
    # update that follows must NOT leak into the tagged state, and the
    # tagged snapshot must survive expire_snapshots(keep_last=1)
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_orderstatus, o_orderpriority, o_totalprice
      FROM orders WHERE o_orderkey <= 4000
    ), kept AS (
      SELECT * FROM base
      WHERE NOT (o_orderstatus = 'F' AND o_totalprice < 60000)
    )
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(CAST(sum(o_totalprice) AS DOUBLE), 2) AS total_price
    FROM kept
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)
def lake_iceberg_refs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg snapshot refs arc (r9): CTAS → DELETE → UPDATE → export v2 →
    CREATE TAG at the post-delete snapshot + CREATE BRANCH at the create
    snapshot → fast_forward the branch to head →
    expire_snapshots(keep_last=1) — the tag's snapshot must SURVIVE
    expiration (Iceberg retains every ref target) while the now-unreferenced
    create snapshot expires. The returned aggregate reads `VERSION AS OF`
    the tag through a FRESH reader (refs live in the committed
    metadata.json, not reader state), so ref resolution, ref-aware
    expiration, and tag-snapshot schema reads are all on the oracle's hash.

    100 TB shape: a ref commit is O(1) — one new metadata.json; no
    manifest or data file is touched. Expiration with refs stays
    O(expired metadata).

    Reference scope: branches/tags extend 03.iceberg_primer.py's snapshot
    time-travel surface (same refs map the primer's history queries walk)."""
    from lakehouses_spark.tables import LakeTable
    from lakehouses_spark.tables.iceberg_meta import IcebergMetadataReader

    orders = load_table(spark, sf_dir, "orders").where("o_orderkey <= 4000").select(
        "o_orderkey", "o_orderstatus", "o_orderpriority", "o_totalprice"
    )
    with tempfile.TemporaryDirectory() as tmp:
        t = LakeTable.create(spark, f"{tmp}/orders", orders)
        t.delete("o_orderstatus = 'F' AND o_totalprice < 60000")
        t.update({"o_totalprice": "o_totalprice * 2"},
                 where="o_orderpriority = '1-URGENT'")
        dest = t.export_iceberg_metadata(f"{tmp}/orders_iceberg")
        r = IcebergMetadataReader(spark, dest)
        snaps = [s["snapshot-id"] for s in r.meta["snapshots"]]
        assert len(snaps) == 3, snaps
        r.create_tag("audited", snapshot_id=snaps[1])
        r.create_branch("dev", snapshot_id=snaps[0])
        assert r.fast_forward("dev") == (snaps[0], snaps[2])
        res = r.expire_snapshots(keep_last=1)
        # the tag pins snaps[1]; the branch moved off snaps[0], so only
        # the create snapshot expires
        assert res["expired"] == [snaps[0]], res
        r2 = IcebergMetadataReader(spark, dest)  # fresh open via new hint
        ref_rows = {x["name"]: x for x in r2.refs().collect()}
        assert set(ref_rows) == {"main", "audited", "dev"}, ref_rows
        assert ref_rows["dev"]["snapshot_id"] == snaps[2]
        assert r2.to_df(ref="dev").count() == r2.to_df().count()
        out = (
            r2.to_df(ref="audited")
            .groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.round(F.sum("o_totalprice"), 2).alias("total_price"),
            )
            .orderBy("o_orderstatus")
        )
        # materialize before the tempdir (and the exported table) disappears
        return out.localCheckpoint()


@query(
    "lake_iceberg_export",
    # deterministic CREATE→DELETE→UPDATE arc replayed relationally; the
    # Spark side must round-trip it through an EXPORTED Iceberg v2 metadata
    # layer (metadata.json + Avro manifest lists/manifests) and the
    # independent stdlib+avro_py reader to produce the same aggregate
    oracle="""
    WITH base AS (
      SELECT l_orderkey, l_returnflag, l_linestatus, l_quantity,
             l_extendedprice, l_discount
      FROM lineitem WHERE l_orderkey <= 4000
    ), kept AS (
      SELECT * FROM base
      WHERE NOT (l_returnflag = 'R' AND l_quantity < 10)
    ), upd AS (
      SELECT l_returnflag, l_linestatus, l_quantity, l_extendedprice,
             CASE WHEN l_quantity >= 45 THEN 0.1 ELSE l_discount END
               AS l_discount
      FROM kept
    )
    SELECT l_returnflag, l_linestatus,
           CAST(count(*) AS BIGINT) AS n_items,
           round(CAST(sum(l_extendedprice * (1 - l_discount)) AS DOUBLE), 2)
             AS total_disc_price
    FROM upd
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def lake_iceberg_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg-format interop arc (VERDICT r6 #2): CTAS from lineitem →
    DELETE → UPDATE on the LakeTable, then `export_iceberg_metadata` writes
    a spec-conformant Iceberg v2 metadata layer — `metadata/v*.metadata.json`
    plus `snap-*.avro` manifest lists and `*-m0.avro` manifests, the exact
    files the reference inspects with spark-avro at
    03.iceberg_primer.py:411-456 — and the INDEPENDENT
    `IcebergMetadataReader` (stdlib JSON + pure-Python Avro OCF codec, no
    Iceberg jar) reconstructs the final snapshot, which is aggregated for
    the oracle. In-query self-checks pin the snapshot chain: 3 snapshots
    (one per data-changing commit), sequence numbers monotonic, and
    time travel to snapshot 1 returning the pre-delete row count.

    100 TB shape: export moves metadata only (manifests are O(files) Avro
    rows; data hard-linked, never rewritten); the reader plans from the
    manifest list exactly like Iceberg — no directory listing — and reads
    all live files in one scan."""
    from lakehouses_spark.tables import LakeTable
    from lakehouses_spark.tables.iceberg_meta import IcebergMetadataReader

    li = load_table(spark, sf_dir, "lineitem").where("l_orderkey <= 4000").select(
        "l_orderkey", "l_returnflag", "l_linestatus", "l_quantity",
        "l_extendedprice", "l_discount",
    )
    with tempfile.TemporaryDirectory() as tmp:
        t = LakeTable.create(spark, f"{tmp}/lineitem", li)
        n0 = t.state().num_records
        t.delete("l_returnflag = 'R' AND l_quantity < 10")
        t.update({"l_discount": "0.1"}, where="l_quantity >= 45")
        dest = t.export_iceberg_metadata(f"{tmp}/lineitem_iceberg")
        r = IcebergMetadataReader(spark, dest)
        snaps = r.meta["snapshots"]
        assert len(snaps) == 3, snaps
        seqs = [s["sequence-number"] for s in snaps]
        assert seqs == sorted(seqs) and len(set(seqs)) == 3, seqs
        assert r.to_df(snapshot_id=snaps[0]["snapshot-id"]).count() == n0
        # `.partitions` metadata table (03.iceberg_primer.py:370): the
        # unpartitioned export is ONE tuple whose totals equal the live set
        parts = r.partitions().collect()
        assert len(parts) == 1 and parts[0].partition == {}, parts
        assert parts[0].file_count == len(r.live_files())
        assert parts[0].record_count == sum(
            f["record_count"] for f in r.live_files()
        )
        out = (
            r.to_df()
            .groupBy("l_returnflag", "l_linestatus")
            .agg(
                F.count(F.lit(1)).alias("n_items"),
                F.round(
                    F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
                ).alias("total_disc_price"),
            )
            .orderBy("l_returnflag", "l_linestatus")
        )
        # materialize before the tempdir (and the exported table) disappears
        return out.localCheckpoint()


CDC_BATCH_BOUNDS = ("2024-01-09", "2024-01-17", "2024-01-25")  # 4 batches


@query(
    "lake_cdc_apply",
    oracle="""
    WITH ranked AS (
      SELECT user_id, event_type, value, ts,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ), last AS (SELECT * FROM ranked WHERE rn = 1)
    SELECT user_id,
           round(value, 2) AS last_value,
           epoch_ms(ts) AS last_ts_ms
    FROM last
    WHERE event_type <> 'error'
    ORDER BY user_id
    """,
)
def lake_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPLY CHANGES INTO (the DLT/Delta CDC pattern): an ordered change
    feed applied to a LakeTable across sequential micro-batches, with
    last-writer-wins per key and delete tombstones — the medallion silver
    step that turns an event stream into current-state. Feed mapping:
    events keyed by user_id ordered by (ts, event_id); event_type 'error'
    is a DELETE op, everything else UPSERTs (value, ts).

    The final table state must equal the oracle's single-pass
    last-event-per-key computation — which holds only if batch sequencing,
    within-batch collapse, and the delete/upsert MERGE routing are all
    correct. Exercises the from-scratch transaction log end-to-end:
    4 sequential conditional MERGE commits (WHEN MATCHED AND <del> THEN
    DELETE / WHEN MATCHED THEN UPDATE / WHEN NOT MATCHED AND NOT <del>
    THEN INSERT, one per batch) replaying a month of changes in 4
    time-ordered batches.

    100 TB shape: each batch collapses to its per-key LAST change first
    (one window over the batch — batch-sized, not table-sized), so every
    MERGE source carries ≤ |keys in batch| rows; MERGE rewrites only
    matched files (stats-pruned, bounded collect); deletes and upserts
    split by terminal op so each key hits exactly one clause. This is the
    shape Delta's APPLY CHANGES runs continuously."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "value", "event_type"
    )
    from lakehouses_spark.tables import LakeTable

    bounds = [F.lit(b).cast("timestamp") for b in CDC_BATCH_BOUNDS]
    batches = [
        e.where(F.col("ts") < bounds[0]),
        e.where((F.col("ts") >= bounds[0]) & (F.col("ts") < bounds[1])),
        e.where((F.col("ts") >= bounds[1]) & (F.col("ts") < bounds[2])),
        e.where(F.col("ts") >= bounds[2]),
    ]
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    with tempfile.TemporaryDirectory() as tmp:
        t = LakeTable.create(
            spark,
            f"{tmp}/cdc_state",
            e.select("user_id", "value", "ts").limit(0),
        )
        for b in batches:
            # one conditional MERGE per batch (r13): terminal rows whose op
            # is the delete marker tombstone their key, the rest upsert —
            # one affected-file scan / write / commit instead of the
            # delete-merge + upsert-merge pair
            terminal = (
                b.withColumn("rn", F.row_number().over(w))
                .where(F.col("rn") == 1)
                .select(
                    "user_id", "value", "ts",
                    (F.col("event_type") == "error").alias("__del"),
                )
                .localCheckpoint()  # one collapse job; the merge legs reuse it
            )
            t.merge(
                terminal,
                "t.user_id = s.user_id",
                when_matched_delete="s.__del",
                when_not_matched_insert_condition="NOT __del",
                # uniqueness is structural: the rn=1 collapse is keyed on
                # the merge key, so skip the multiple-match check job
                source_unique_on_key=True,
            )
        out = (
            t.read()
            .select(
                "user_id",
                F.round("value", 2).alias("last_value"),
                F.unix_millis("ts").alias("last_ts_ms"),
            )
            .orderBy("user_id")
        )
        return out.localCheckpoint()


@query(
    "lake_scd2_build",
    # ground truth: ONE global window over all changes — the incremental
    # batch build (close-then-append MERGE arc) must reproduce it exactly
    oracle="""
    SELECT user_id,
           event_type AS status,
           round(value, 2) AS value,
           epoch_ms(ts) AS valid_from_ms,
           epoch_ms(lead(ts) OVER w) AS valid_to_ms,
           lead(ts) OVER w IS NULL AS is_current
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ORDER BY user_id, valid_from_ms, event_id
    """,
)
def lake_scd2_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD TYPE 2 dimension build — the warehouse-classic history-keeping
    upsert (Delta's MERGE showcase pattern; same engine surface as the
    reference's MERGE primer, 02.delta_lake_primer.py:312-320) applied
    incrementally: each change batch (1) CLOSES every affected key's open
    version via MERGE matched-update (valid_to := the key's first change ts
    in the batch, is_current := false), then (2) appends the batch's own
    versions with in-batch validity ranges. After 4 time-ordered batches
    the table must hold each user's FULL version history with gapless
    [valid_from, valid_to) ranges — equal to the oracle's single global
    window over all changes, which only happens if batch sequencing, the
    open-row invariant (exactly one is_current per key), and the MERGE
    close arithmetic are all correct.

    100 TB shape: the close source is one row per affected key (a
    batch-sized window collapse); MERGE matched-update rewrites only files
    holding open rows of affected keys (stats-pruned); version inserts are
    plain appends. Cost per batch is O(batch + affected files) —
    independent of accumulated history depth, the property that makes SCD2
    viable on a billions-of-rows dimension."""
    from lakehouses_spark.tables import LakeTable

    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "value", "event_type"
    )
    bounds = [F.lit(b).cast("timestamp") for b in CDC_BATCH_BOUNDS]
    batches = [
        e.where(F.col("ts") < bounds[0]),
        e.where((F.col("ts") >= bounds[0]) & (F.col("ts") < bounds[1])),
        e.where((F.col("ts") >= bounds[1]) & (F.col("ts") < bounds[2])),
        e.where(F.col("ts") >= bounds[2]),
    ]
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    with tempfile.TemporaryDirectory() as tmp:
        t = LakeTable.create(
            spark,
            f"{tmp}/scd2_dim",
            e.select(
                "user_id",
                F.col("event_type").alias("status"),
                "value",
                F.col("ts").alias("valid_from"),
                F.col("ts").alias("valid_to"),
                F.lit(True).alias("is_current"),
                "event_id",
            ).limit(0),
        )
        for b in batches:
            versions = b.select(
                "user_id",
                F.col("event_type").alias("status"),
                "value",
                F.col("ts").alias("valid_from"),
                F.lead("ts").over(w).alias("valid_to"),
                F.lead("ts").over(w).isNull().alias("is_current"),
                "event_id",
            ).localCheckpoint()  # one window job; close + append reuse it
            first_change = (
                versions.withColumn("rn", F.row_number().over(
                    Window.partitionBy("user_id").orderBy("valid_from", "event_id")
                ))
                .where(F.col("rn") == 1)
                .select("user_id", F.col("valid_from").alias("first_ts"))
            )
            # close: each affected key's single open row gets a real end
            t.merge(
                first_change,
                "t.user_id = s.user_id AND t.is_current",
                when_matched_update={"valid_to": "s.first_ts",
                                     "is_current": "false"},
                when_not_matched_insert=None,
            )
            t.append(versions)
        out = (
            t.read()
            .select(
                "user_id",
                "status",
                F.round("value", 2).alias("value"),
                F.unix_millis("valid_from").alias("valid_from_ms"),
                F.unix_millis("valid_to").alias("valid_to_ms"),
                "is_current",
            )
            .orderBy("user_id", "valid_from_ms")
        )
        return out.localCheckpoint()


@query(
    "streaming_cdc_apply",
    # identical oracle to lake_cdc_apply: the STREAMING apply (two
    # checkpointed drains, per-micro-batch collapse, exactly-once MERGE
    # routing) must converge to the same last-writer-wins state as the
    # one-shot batch computation — stream/batch unification for CDC.
    oracle="""
    WITH ranked AS (
      SELECT user_id, event_type, value, ts,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ), last AS (SELECT * FROM ranked WHERE rn = 1)
    SELECT user_id,
           round(value, 2) AS last_value,
           epoch_ms(ts) AS last_ts_ms
    FROM last
    WHERE event_type <> 'error'
    ORDER BY user_id
    """,
)
def streaming_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming APPLY CHANGES INTO (T1/T3/T5 + D4 in one arc): the change
    feed lands in a bronze LakeTable in two time-ordered halves; each drain
    runs a native file stream over the feed's commit files → per-micro-
    batch last-change collapse → delete/upsert MERGE routing into the
    state table
    (streaming/cdc.py), with the (app_id, batch_id) idempotency guard
    making replays exactly-once. The second drain starts from the
    checkpoint and must UPDATE keys the first drain already settled —
    and the final state must still hash-equal the one-shot batch
    last-writer-wins oracle (the CDC form of stream/batch unification
    that streaming_matview_rollup pins for aggregation)."""
    from lakehouses_spark.streaming.cdc import start_apply_changes
    from lakehouses_spark.tables import LakeTable

    events = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "value", "event_type"
    )
    lo, hi = events.agg(F.min("ts"), F.max("ts")).collect()[0]
    cutoff = lo + (hi - lo) / 2
    with tempfile.TemporaryDirectory() as tmp:
        feed = LakeTable.create(
            spark, f"{tmp}/feed", events.where(F.col("ts") <= F.lit(cutoff))
        )
        for batch in (None, events.where(F.col("ts") > F.lit(cutoff))):
            if batch is not None:
                feed.append(batch)
            q = start_apply_changes(
                spark, feed.path, f"{tmp}/state", f"{tmp}/ckpt"
            )
            q.awaitTermination()
        state = LakeTable(spark, f"{tmp}/state")
        out = (
            state.read()
            .select(
                "user_id",
                F.round("value", 2).alias("last_value"),
                F.unix_millis("ts").alias("last_ts_ms"),
            )
            .orderBy("user_id")
        )
        rows = out.collect()  # materialize before tmp vanishes
        return spark.createDataFrame(rows, out.schema)


ALS_REC_K = 5
# Seeded-RMSE pins (the reference anchors its model metric the same way:
# RMSE ≈ 0.878 on MovieLens, 05.movielens/03.movielens-gold.py:122-129).
# Seeded ALS on the deterministic events-derived ratings reproduces these
# training-RMSE values exactly; a regression in the ALS wiring (wrong
# ratings aggregation, lost seed, changed hyperparameters) lands outside
# the band. Unknown sf dirs fall back to the sanity bound rmse ≤ stddev
# (a factorization can never be worse than predicting the mean — the
# events ratings are near-noise by construction, so stddev is the floor's
# natural scale, not a learnability claim).
ALS_RMSE_PINS = {"sf0.01": (0.43, 0.47), "sf0.001": (0.25, 0.30)}


@query("gold_als_recommendations", oracle=None)  # iterative ML → rows-only
def gold_als_recommendations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5: ALS recommender over implicit ratings derived from events
    (user_id × json-extracted item k, value as rating strength) — the
    movielens-gold pipeline shape on the testdata.

    SELF-CHECKING (VERDICT r5 #7): iterative ML can't be SQL-oracled, so
    the rows-only driver row carries its own signal — the query RAISES
    unless (a) every user gets exactly ALS_REC_K recommendations ranked
    1..K, (b) scores are non-increasing in rank, and (c) the seeded
    training RMSE sits inside its per-sf pin band (ALS_RMSE_PINS; the
    full-config heldout pin lives in tests/test_quality.py). All checks
    are aggregates → one collected stats row, never O(rows)."""
    from pathlib import Path

    from lakehouses_spark.medallion import (
        evaluate_rmse,
        recommend_for_all_users,
        train_als,
    )

    ratings = (
        load_table(spark, sf_dir, "events")
        .select(
            F.col("user_id").cast("int"),
            F.get_json_object("props", "$.k").cast("int").alias("item_id"),
            (F.col("value") / 100.0).alias("rating"),
        )
        .where(F.col("item_id").isNotNull())
        .groupBy("user_id", "item_id")
        .agg(F.avg("rating").alias("rating"))
    )
    # 3 iterations for the driver smoke (each ALS iteration is 2 shuffles);
    # the pinned-RMSE quality test trains the full reference config
    model = train_als(ratings, max_iter=3)
    recs = recommend_for_all_users(model, k=ALS_REC_K).select(
        "user_id", "rank", "item_id", F.round("rating", 4).alias("score")
    )
    per_user = recs.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("rank").alias("min_rank"),
        F.max("rank").alias("max_rank"),
    )
    w = Window.partitionBy("user_id").orderBy("rank")
    shape = (
        recs.withColumn("prev_score", F.lag("score").over(w))
        .agg(
            F.sum(
                F.when(F.col("prev_score") < F.col("score"), 1).otherwise(0)
            ).alias("rank_inversions")
        )
        .crossJoin(
            F.broadcast(
                per_user.agg(
                    F.sum(
                        F.when(
                            (F.col("n") != ALS_REC_K)
                            | (F.col("min_rank") != 1)
                            | (F.col("max_rank") != ALS_REC_K),
                            1,
                        ).otherwise(0)
                    ).alias("malformed_users")
                )
            )
        )
        .collect()[0]
    )
    if shape.malformed_users or shape.rank_inversions:
        raise AssertionError(
            f"ALS recommendation table malformed: {shape.malformed_users} "
            f"users without exactly 1..{ALS_REC_K} ranks, "
            f"{shape.rank_inversions} score inversions across ranks"
        )
    rmse = evaluate_rmse(model, ratings)
    pin = ALS_RMSE_PINS.get(Path(sf_dir).name)
    if pin is not None:
        lo, hi = pin
        if not (lo <= rmse <= hi):
            raise AssertionError(
                f"seeded ALS drifted: training RMSE {rmse:.4f} outside "
                f"pin band [{lo}, {hi}] for {Path(sf_dir).name}"
            )
    else:
        std = ratings.agg(F.stddev("rating")).collect()[0][0]
        if rmse > std:
            raise AssertionError(
                f"seeded ALS degraded: training RMSE {rmse:.4f} exceeds "
                f"rating stddev {std:.4f} (worse than predicting the mean)"
            )
    return recs.orderBy("user_id", "rank")


@query(
    "streaming_windowed_drain",
    # an availableNow drain of a tumbling-window agg equals the batch
    # date_trunc aggregate — stream/batch unification as a hard oracle
    oracle="""
    SELECT CAST(date_trunc('hour', CAST(ts AS TIMESTAMP)) AS VARCHAR) AS window_start,
           event_type, count(*) AS n_events, round(sum(value), 2) AS total_value
    FROM events
    GROUP BY 1, 2
    ORDER BY window_start, event_type
    """,
)
def streaming_windowed_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1/T4/T8 as one driver-checkable query: stage events as a file
    stream, drain a watermarked tumbling aggregation with availableNow, and
    return the windowed result (equal to the batch expression — the
    stream/batch unification contract)."""
    import tempfile
    import uuid

    from lakehouses_spark.streaming import tumbling_window_agg

    events = load_table(spark, sf_dir, "events")
    name = f"drain_{uuid.uuid4().hex[:8]}"
    with tempfile.TemporaryDirectory() as tmp:
        events.coalesce(4).write.parquet(f"{tmp}/data")
        stream = spark.readStream.schema(events.schema).parquet(f"{tmp}/data")
        q = (
            tumbling_window_agg(stream)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .option("checkpointLocation", f"{tmp}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        result = (
            spark.sql(f"SELECT * FROM {name}")
            .select(
                F.col("window_start").cast("string").alias("window_start"),
                "event_type",
                "n_events",
                "total_value",
            )
            .orderBy("window_start", "event_type")
        )
        rows = result.collect()  # materialize before tmp/checkpoint vanish
        return spark.createDataFrame(rows, result.schema)


def _fake_png(width: int, height: int) -> bytes:
    """Deterministic minimal-but-valid PNG header bytes (IHDR only + fake
    payload) — stands in for real image files in this container.

    Plays the role of the reference's image-fixture stager
    (02.ingestas_ficheros/04.datasource [imagenes].py:43-56, which copies
    ~20 flower photos into the landing zone): our landing directory is
    synthesized instead of copied, with analytically-known headers so the
    downstream probe is oracle-checkable."""
    ihdr = struct.pack(">II", width, height) + b"\x08\x06\x00\x00\x00"
    chunk = b"IHDR" + ihdr
    return (
        b"\x89PNG\r\n\x1a\n"
        + struct.pack(">I", len(ihdr))
        + chunk
        + struct.pack(">I", zlib.crc32(chunk) & 0xFFFFFFFF)
        + b"fakepayload" * width
    )


def _fake_gif(width: int, height: int) -> bytes:
    """Deterministic GIF89a header + fake payload."""
    return b"GIF89a" + struct.pack("<HH", width, height) + b"p" * (64 + width)


def _fake_wav(seconds: float, rate: int = 8000, channels: int = 1) -> bytes:
    """Deterministic minimal WAV (PCM header + silence)."""
    byte_rate = rate * channels * 2
    n_data = int(seconds * byte_rate)
    return (
        b"RIFF" + struct.pack("<I", 36 + n_data) + b"WAVE"
        + b"fmt " + struct.pack("<IHHIIHH", 16, 1, channels, rate, byte_rate,
                                channels * 2, 16)
        + b"data" + struct.pack("<I", n_data) + b"\x00" * n_data
    )


@query(
    "multimodal_metadata",
    # upgraded from rows-only (the manifest-probe trick): the synthesized
    # PNG for doc_id has width 64+id%32, height 48+id%16, and byte length
    # 33+11·width by construction, so the whole generate→mapInPandas-probe→
    # rollup pipeline must reproduce the analytic formula — the header probe
    # and the Arrow plumbing are both on the hook for the hash to match
    oracle="""
    SELECT 'png' AS format,
           count(*) AS n_files,
           CAST(sum(33 + 11 * (64 + doc_id % 32)) AS BIGINT) AS total_bytes,
           round(avg(64 + doc_id % 32), 2) AS avg_width,
           round(avg(48 + doc_id % 16), 2) AS avg_height
    FROM documents
    """,
)
def multimodal_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.12 multimodal: synthesize deterministic binary 'images' from the
    documents table, run the mapInPandas metadata extractor + JVM-side
    rollup. Real Spark plumbing (schema/partitioning/Arrow batches); only
    pixel decode is stubbed per contract."""
    from lakehouses_spark.multimodal import extract_media_metadata, media_summary

    from pyspark.sql.functions import pandas_udf

    @pandas_udf(BinaryType())
    def fake_png_udf(n):  # Arrow-batched, not row-at-a-time
        return n.map(lambda i: _fake_png(64 + int(i) % 32, 48 + int(i) % 16))

    docs = load_table(spark, sf_dir, "documents")
    media = docs.select(
        F.concat(F.lit("mem://doc/"), F.col("doc_id")).alias("path"),
        fake_png_udf(F.col("doc_id").cast("int")).alias("content"),
    )
    meta = extract_media_metadata(media)
    return media_summary(meta)


@query(
    "streaming_stateful_totals",
    oracle="""
    SELECT user_id AS key, count(*) AS n,
           floor(sum(value) * 100 + 0.5) / 100 AS total
    FROM events GROUP BY user_id ORDER BY key
    """,
)
def streaming_stateful_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState) with a
    HARD oracle: drain events through per-key running-totals state with
    availableNow; the final emission per key must equal the batch aggregate
    — the stream/batch unification contract as a checkable equation."""
    import tempfile
    import uuid

    from lakehouses_spark.streaming.stateful import running_totals

    events = load_table(spark, sf_dir, "events")
    name = f"totals_{uuid.uuid4().hex[:8]}"
    with tempfile.TemporaryDirectory() as tmp:
        events.coalesce(4).write.parquet(f"{tmp}/data")
        stream = spark.readStream.schema(events.schema).parquet(f"{tmp}/data")
        q = (
            running_totals(stream)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .option("checkpointLocation", f"{tmp}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        # update mode appends one row per key per micro-batch; the row with
        # the highest n is the final cumulative state for that key
        result = (
            spark.sql(f"SELECT * FROM {name}")
            .withColumn(
                "__rk",
                F.row_number().over(Window.partitionBy("key").orderBy(F.desc("n"))),
            )
            .where("__rk = 1")
            .select("key", "n", "total")
            .orderBy("key")
        )
        rows = result.collect()
        return spark.createDataFrame(rows, result.schema)


MM_LABELS = ["cat", "dog", "fox", "owl", "bee", "ant", "elk", "bat", "koi", "emu"]


def _mm_manifest_rows() -> list[tuple]:
    """Ground-truth manifest of the generated media directory, derived from
    the generator FORMULAS (not from probe output): PNG length is
    33 + 11·width, GIF length 74 + width, WAV length 44 + int(seconds·16000).
    Shared by the Spark query's file generator and the static DuckDB oracle,
    so the header probe must reproduce every field to hash-match."""
    rows = []
    for li, label in enumerate(MM_LABELS):
        for j in range(2):
            w, h = 32 + 4 * li + j, 24 + 2 * li
            rows.append((f"{label}.{j}.png", label, "png", w, h, 4,
                         33 + 11 * w, None, None))
            gw, gh = 16 + li, 16 + j
            rows.append((f"{label}.{j}.gif", label, "gif", gw, gh, 3,
                         74 + gw, None, None))
        secs = 0.5 + 0.1 * li
        n_data = int(secs * 16000)
        rows.append((f"{label}.0.wav", label, "wav", None, None, 1,
                     44 + n_data, round(n_data / 16000, 3), 8000))
    return sorted(rows)


def _sql_lit(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, str):
        return f"'{v}'"
    return repr(v)


# the image-pipeline rollup over the SAME formula-derived manifest: the
# binaryFile scan + header probe + label regexp + JVM agg must reproduce the
# analytic per-(label, format) stats — upgrades the pipeline from rows-only
_MM_PIPELINE_ORACLE = (
    "SELECT label, format, count(*) AS n_files, "
    "CAST(sum(length) AS BIGINT) AS total_bytes, "
    "round(avg(width), 2) AS avg_width, round(avg(height), 2) AS avg_height, "
    "round(CAST(sum(duration_s) AS DOUBLE), 3) AS total_duration_s FROM (VALUES "
    + ", ".join(
        "(" + ", ".join(_sql_lit(v) for v in row) + ")"
        for row in _mm_manifest_rows()
    )
    + ") AS t(fname, label, format, width, height, n_channels, length, "
    "duration_s, sample_rate) GROUP BY label, format ORDER BY label, format"
)




@query("multimodal_image_pipeline", oracle=_MM_PIPELINE_ORACLE)
def multimodal_image_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's full image-ingestion pipeline as one driver query
    (02…/05.ingesta_incremental [imagenes].py:48-96): generate a
    deterministic multi-file media directory (PNG/GIF/WAV, `<label>.<n>.<ext>`
    naming), read it with the binaryFile source (S11: one row per file with
    path/length/content, glob + recursive lookup), probe headers via the
    Arrow-batched mapInPandas extractor (X2), derive the label with the
    builtin regexp helper (X3), and roll up per-(label, format) stats
    JVM-side. 10 labels × 3 formats = 30 deterministic output rows."""
    import tempfile
    from pathlib import Path

    from lakehouses_spark.multimodal import extract_label, extract_media_metadata

    with tempfile.TemporaryDirectory() as tmp:
        for li, label in enumerate(MM_LABELS):
            d = Path(tmp) / label  # nested dirs: recursiveFileLookup is real
            d.mkdir()
            for j in range(2):
                (d / f"{label}.{j}.png").write_bytes(
                    _fake_png(32 + 4 * li + j, 24 + 2 * li)
                )
                (d / f"{label}.{j}.gif").write_bytes(
                    _fake_gif(16 + li, 16 + j)
                )
            (d / f"{label}.0.wav").write_bytes(_fake_wav(0.5 + 0.1 * li))
        media = (
            spark.read.format("binaryFile")
            .option("pathGlobFilter", "*.*")
            .option("recursiveFileLookup", "true")
            .load(tmp)
        )
        meta = extract_media_metadata(media)
        out = (
            meta.withColumn("label", extract_label(F.col("path")))
            .groupBy("label", "format")
            .agg(
                F.count(F.lit(1)).alias("n_files"),
                F.sum("length").alias("total_bytes"),
                F.round(F.avg("width"), 2).alias("avg_width"),
                F.round(F.avg("height"), 2).alias("avg_height"),
                F.round(F.sum("duration_s"), 3).alias("total_duration_s"),
            )
            .orderBy("label", "format")
        )
        rows = out.collect()  # materialize before tmp vanishes
        return spark.createDataFrame(rows, out.schema)


_MM_MANIFEST_ORACLE = (
    "SELECT fname, label, format, CAST(width AS INTEGER) AS width, "
    "CAST(height AS INTEGER) AS height, CAST(n_channels AS INTEGER) AS n_channels, "
    "CAST(length AS BIGINT) AS length, CAST(duration_s AS DOUBLE) AS duration_s, "
    "CAST(sample_rate AS INTEGER) AS sample_rate FROM (VALUES "
    + ", ".join(
        "(" + ", ".join(_sql_lit(v) for v in row) + ")"
        for row in _mm_manifest_rows()
    )
    + ") AS t(fname, label, format, width, height, n_channels, length, "
    "duration_s, sample_rate) ORDER BY fname"
)


@query("multimodal_manifest_probe", oracle=_MM_MANIFEST_ORACLE)
def multimodal_manifest_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S11+X2 with a REAL hash check (the multimodal pillar's first): write
    the deterministic media directory, scan it with the binaryFile source,
    run the Arrow-batched header probe, and emit one row per file — fname,
    label, format, dimensions, channels, byte length, audio duration/rate.
    The oracle is the generator's ground-truth manifest as a static VALUES
    table: every probed field must round-trip exactly."""
    from pathlib import Path

    from lakehouses_spark.multimodal import extract_label, extract_media_metadata

    with tempfile.TemporaryDirectory() as tmp:
        for li, label in enumerate(MM_LABELS):
            d = Path(tmp) / label
            d.mkdir()
            for j in range(2):
                (d / f"{label}.{j}.png").write_bytes(
                    _fake_png(32 + 4 * li + j, 24 + 2 * li)
                )
                (d / f"{label}.{j}.gif").write_bytes(_fake_gif(16 + li, 16 + j))
            (d / f"{label}.0.wav").write_bytes(_fake_wav(0.5 + 0.1 * li))
        media = (
            spark.read.format("binaryFile")
            .option("recursiveFileLookup", "true")
            .load(tmp)
        )
        meta = extract_media_metadata(media)
        out = (
            meta.select(
                F.element_at(F.split("path", "/"), -1).alias("fname"),
                extract_label(F.col("path")).alias("label"),
                "format", "width", "height", "n_channels", "length",
                "duration_s",
                F.col("sample_rate").cast("int").alias("sample_rate"),
            )
            .orderBy("fname")
        )
        rows = out.collect()  # materialize before tmp vanishes
        return spark.createDataFrame(rows, out.schema)


AVRO_EVENT_SCHEMA = {
    "type": "record", "name": "Event",
    "fields": [
        {"name": "event_id", "type": "long"},
        {"name": "user_id", "type": "long"},
        {"name": "event_type", "type": "string"},
        {"name": "value", "type": "double"},
    ],
}


@query(
    "avro_file_roundtrip",
    oracle="""
    SELECT event_type, count(*) AS n_events,
           floor(sum(value) * 100 + 0.5) / 100 AS total_value
    FROM events WHERE user_id < 20
    GROUP BY event_type ORDER BY event_type
    """,
)
def avro_file_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S15/F10 as a driver-checkable query: stage a bounded events slice as
    Avro Object Container Files (3 files, pure-Python writer), read them
    back DISTRIBUTED (binaryFile source + mapInPandas OCF decode, schema
    taken from the file headers), and aggregate — checked against the same
    aggregate over the original parquet. The staging collect is a bounded
    fixture-generation step (≤ a few thousand rows), not an engine path."""
    import tempfile
    from pathlib import Path

    from lakehouses_spark.functions.avro_py import read_avro_files, write_ocf_bytes

    events = (
        load_table(spark, sf_dir, "events")
        .where("user_id < 20")
        .select("event_id", "user_id", "event_type", "value")
    )
    rows = [r.asDict() for r in events.collect()]
    with tempfile.TemporaryDirectory() as tmp:
        third = max(1, len(rows) // 3)
        for i in range(3):
            chunk = rows[i * third:] if i == 2 else rows[i * third:(i + 1) * third]
            (Path(tmp) / f"part-{i}.avro").write_bytes(
                write_ocf_bytes(chunk, AVRO_EVENT_SCHEMA)
            )
        df = read_avro_files(spark, tmp)
        out = (
            df.groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                (F.floor(F.sum("value") * 100 + 0.5) / 100).alias("total_value"),
            )
            .orderBy("event_type")
        )
        res = out.collect()
        return spark.createDataFrame(res, out.schema)


def _fake_video(label: str, j: int, size: int) -> bytes:
    """Deterministic fake 'video' blob — an opaque byte pattern standing in
    for a real container (decode is the stubbed seam per the multimodal
    contract; the Spark-side plumbing around it is what's under test)."""
    pattern = f"{label}:{j}:".encode()
    return (pattern * (size // len(pattern) + 1))[:size]


def _mm_video_size(li: int, j: int) -> int:
    return 3000 + 1700 * li + 900 * j


FRAME_BYTES = 1024
FRAME_MAX = 16


def _mm_frame_rows() -> list[tuple]:
    """Ground-truth frame table computed from the generator formulas with
    plain Python slicing + hashlib — the Spark side must reproduce every
    offset, length, and content digest through the binaryFile scan +
    mapInPandas slice + JVM sha2 pipeline to hash-match."""
    import hashlib

    rows = []
    for li, label in enumerate(MM_LABELS[:5]):
        for j in range(2):
            blob = _fake_video(label, j, _mm_video_size(li, j))
            n = min(FRAME_MAX, max(1, len(blob) // FRAME_BYTES))
            for idx in range(n):
                frame = blob[idx * FRAME_BYTES : (idx + 1) * FRAME_BYTES]
                rows.append(
                    (f"{label}.{j}.vid", label, idx, idx * FRAME_BYTES,
                     len(frame), hashlib.sha256(frame).hexdigest())
                )
    return sorted(rows)


_MM_FRAME_ORACLE = (
    "SELECT fname, label, CAST(frame_idx AS INTEGER) AS frame_idx, "
    "CAST(frame_offset AS BIGINT) AS frame_offset, "
    "CAST(frame_len AS INTEGER) AS frame_len, frame_sha FROM (VALUES "
    + ", ".join(
        "(" + ", ".join(_sql_lit(v) for v in row) + ")"
        for row in _mm_frame_rows()
    )
    + ") AS t(fname, label, frame_idx, frame_offset, frame_len, frame_sha) "
    "ORDER BY fname, frame_idx"
)


@query("multimodal_frame_manifest", oracle=_MM_FRAME_ORACLE)
def multimodal_frame_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling with a REAL hash check: write a deterministic fake
    video directory, scan via binaryFile, slice fixed-stride frames through
    the Arrow-batched `sample_frames` plumbing (multimodal.py — the exact
    schema/batching a real ffmpeg-backed decoder would use), digest each
    frame JVM-side (sha2), and emit one row per frame. The oracle is the
    generator's ground-truth frame table (offsets/lengths/digests computed
    by plain Python slicing) as a static VALUES relation — byte-identical
    round-trip of every frame is required to hash-match."""
    from pathlib import Path

    from lakehouses_spark.multimodal import extract_label, sample_frames

    with tempfile.TemporaryDirectory() as tmp:
        for li, label in enumerate(MM_LABELS[:5]):
            d = Path(tmp) / label
            d.mkdir()
            for j in range(2):
                (d / f"{label}.{j}.vid").write_bytes(
                    _fake_video(label, j, _mm_video_size(li, j))
                )
        media = (
            spark.read.format("binaryFile")
            .option("recursiveFileLookup", "true")
            .load(tmp)
        )
        frames = sample_frames(media, every_n_bytes=FRAME_BYTES,
                               max_frames=FRAME_MAX)
        out = (
            frames.select(
                F.element_at(F.split("path", "/"), -1).alias("fname"),
                extract_label(F.col("path")).alias("label"),
                "frame_idx",
                F.col("offset").alias("frame_offset"),
                F.length("frame").alias("frame_len"),
                F.lower(F.sha2("frame", 256)).alias("frame_sha"),
            )
            .orderBy("fname", "frame_idx")
        )
        rows = out.collect()  # materialize before tmp vanishes
        return spark.createDataFrame(rows, out.schema)


@query(
    "streaming_matview_rollup",
    # the maintained gold table must equal the batch aggregate over ALL
    # source data — after an initial drain AND an incremental second drain
    # that MERGE-updates only the affected windows
    oracle="""
    SELECT CAST(date_trunc('hour', CAST(ts AS TIMESTAMP)) AS VARCHAR) AS window_start,
           CAST(date_trunc('hour', CAST(ts AS TIMESTAMP))
                + INTERVAL 1 HOUR AS VARCHAR) AS window_end,
           event_type, count(*) AS n_events, round(sum(value), 2) AS total_value
    FROM events
    GROUP BY 1, 2, 3
    ORDER BY window_start, event_type
    """,
)
def streaming_matview_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming materialized view end-to-end (T1/T3/T4/T5 + D-family MERGE
    in one arc): events land in a bronze LakeTable in two batches; each
    batch is drained through the laketable stream source → watermarked
    tumbling aggregation → foreachBatch MERGE into a partitioned gold
    LakeTable (the hypertable continuous-aggregate shape,
    streaming/materialized.py). The second drain arrives AFTER the first
    completed, so it must MERGE-update existing windows / insert new ones
    rather than rebuild — and the final gold content must still equal the
    one-shot batch aggregate over everything (the oracle).

    100 TB shape: each drain touches only the NEW files (log-version
    offsets), stream state is O(open windows), and the MERGE rewrites only
    files containing updated window rows (gold is partitioned on
    window_start, so an update prunes to its hour partitions)."""
    from lakehouses_spark.streaming.materialized import start_rollup_view
    from lakehouses_spark.tables import LakeTable

    events = load_table(spark, sf_dir, "events")
    # time-ordered split at the corpus's temporal midpoint: batch 2 is
    # strictly later than batch 1 BY CONSTRUCTION (not by a calendar
    # assumption about the generator), so the checkpointed watermark never
    # classifies it as late-beyond-horizon
    lo, hi = events.agg(F.min("ts"), F.max("ts")).collect()[0]
    cutoff = lo + (hi - lo) / 2
    with tempfile.TemporaryDirectory() as tmp:
        bronze = LakeTable.create(
            spark, f"{tmp}/bronze", events.where(F.col("ts") <= F.lit(cutoff))
        )
        for batch in (None, events.where(F.col("ts") > F.lit(cutoff))):
            if batch is not None:
                bronze.append(batch)
            q = start_rollup_view(
                spark, bronze.path, f"{tmp}/gold", f"{tmp}/ckpt"
            )
            q.awaitTermination()
        gold = LakeTable(spark, f"{tmp}/gold")
        result = (
            gold.read()
            .select(
                F.col("window_start").cast("string").alias("window_start"),
                F.col("window_end").cast("string").alias("window_end"),
                "event_type",
                "n_events",
                "total_value",
            )
            .orderBy("window_start", "event_type")
        )
        rows = result.collect()  # materialize before tmp vanishes
        return spark.createDataFrame(rows, result.schema)


@query(
    "streaming_cdf_drain",
    # the drained change FEED (not table) must hash-equal the relational
    # replay of the DML chain's per-commit change sets — the same oracle
    # shape as lake_cdf_read, driven through the streaming source
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_orderstatus, o_orderpriority, o_totalprice
      FROM orders WHERE o_orderkey <= 2500
    ), v2pre AS (
      SELECT * FROM base WHERE o_orderpriority = '2-HIGH'
    ), state2 AS (
      SELECT o_orderkey, o_orderstatus, o_orderpriority,
             CASE WHEN o_orderpriority = '2-HIGH'
                  THEN o_totalprice * 1.25 ELSE o_totalprice END AS o_totalprice
      FROM base
    ), v3del AS (
      SELECT * FROM state2
      WHERE o_orderstatus = 'F' AND o_totalprice < 60000
    )
    SELECT * FROM (
      SELECT 0 AS version, 'insert' AS change_type,
             CAST(count(*) AS BIGINT) AS n_rows,
             round(CAST(sum(o_totalprice) AS DOUBLE), 2) AS total_price
      FROM base HAVING count(*) > 0
      UNION ALL
      SELECT 2, 'update_preimage', CAST(count(*) AS BIGINT),
             round(CAST(sum(o_totalprice) AS DOUBLE), 2)
      FROM v2pre HAVING count(*) > 0
      UNION ALL
      SELECT 2, 'update_postimage', CAST(count(*) AS BIGINT),
             round(CAST(sum(o_totalprice * 1.25) AS DOUBLE), 2)
      FROM v2pre HAVING count(*) > 0
      UNION ALL
      SELECT 3, 'delete', CAST(count(*) AS BIGINT),
             round(CAST(sum(o_totalprice) AS DOUBLE), 2)
      FROM v3del HAVING count(*) > 0
    ) ORDER BY version, change_type
    """,
)
def streaming_cdf_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Change Data Feed (r9 — Delta's
    `readStream.option("readChangeFeed", "true")`): CTAS from orders,
    enable CDF, UPDATE then DELETE, then drain the `laketable` stream
    source in change-feed mode (availableNow) and aggregate the drained
    feed per (version, change_type). The oracle replays the same DML chain
    relationally — the stream/batch-unification contract the other
    streaming_* queries pin for aggregation and joins, extended to the
    change feed: the STREAMED feed hashes equal to the relational truth.

    100 TB shape: offsets are log versions, each micro-batch reads only
    the change files of its commit range (one executor partition per
    file), and commit metadata is stamped Arrow-side — the downstream-sync
    consumer never scans the table itself."""
    from lakehouses_spark.tables import LakeTable
    from lakehouses_spark.tables.stream_source import LakeTableDataSource
    from lakehouses_spark.tables.table import CDF_PROPERTY

    spark.dataSource.register(LakeTableDataSource)
    base = load_table(spark, sf_dir, "orders").where("o_orderkey <= 2500").select(
        "o_orderkey", "o_orderstatus", "o_orderpriority", "o_totalprice"
    )
    with tempfile.TemporaryDirectory() as tmp:
        t = LakeTable.create(spark, f"{tmp}/orders", base)        # v0
        t.set_properties({CDF_PROPERTY: "true"})                  # v1
        t.update({"o_totalprice": "o_totalprice * 1.25"},
                 where="o_orderpriority = '2-HIGH'")              # v2
        t.delete("o_orderstatus = 'F' AND o_totalprice < 60000")  # v3
        # schema supplied driver-side (base + the 3 CDF metadata columns):
        # skips the planner-worker schema() round trip per stream start (r13)
        from pyspark.sql.types import LongType, StringType, StructField, TimestampType
        cdf_schema = StructType(
            list(t.schema().fields)
            + [StructField("_change_type", StringType()),
               StructField("_commit_version", LongType()),
               StructField("_commit_timestamp", TimestampType())]
        )
        q = (
            spark.readStream.format("laketable")
            .schema(cdf_schema)
            .option("path", str(t.path))
            .option("readChangeFeed", "true")
            .load()
            .writeStream.format("parquet")
            .option("path", f"{tmp}/feed")
            .option("checkpointLocation", f"{tmp}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        out = (
            spark.read.parquet(f"{tmp}/feed")
            .groupBy(
                F.col("_commit_version").cast("int").alias("version"),
                F.col("_change_type").alias("change_type"),
            )
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.round(F.sum("o_totalprice"), 2).alias("total_price"),
            )
            .orderBy("version", "change_type")
        )
        rows = out.collect()  # materialize before tmp vanishes
        return spark.createDataFrame(rows, out.schema)


@query(
    "streaming_delta_tail",
    # three append commits exported as an EXTERNAL Delta log, drained
    # through the `deltatable` source (offsets = Delta versions, one
    # executor partition per added file); the drained union must equal
    # the plain relational state
    oracle="""
    SELECT c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_customers,
           round(CAST(sum(c_acctbal) AS DOUBLE), 2) AS total_acctbal
    FROM customer
    WHERE c_custkey <= 3000
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
)
def streaming_delta_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming FROM an external Delta table (r9, `deltatable` Python
    data source): CTAS + two appends on a LakeTable, exported as a
    standalone Delta-protocol log, then drained by tailing `_delta_log`
    commit JSONs — spark.readStream against a REAL Delta layout, no Delta
    jar. Offsets are Delta versions (the log IS the changelog: no
    directory diffing), each micro-batch reads exactly the files its
    commit range added, one executor partition per file, Arrow batches
    end-to-end. The drained union hashes equal to the relational truth.

    100 TB shape: planning cost per batch is O(actions in the commit
    range); the driver never lists data directories, and a 1000-file
    append fans out as 1000 independent file reads."""
    from lakehouses_spark.tables import LakeTable
    from lakehouses_spark.tables.delta_stream import DeltaTableDataSource

    spark.dataSource.register(DeltaTableDataSource)
    base = load_table(spark, sf_dir, "customer").where("c_custkey <= 3000").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    with tempfile.TemporaryDirectory() as tmp:
        t = LakeTable.create(spark, f"{tmp}/customer",
                             base.where("c_custkey <= 1000"))
        t.append(base.where("c_custkey BETWEEN 1001 AND 2000"))
        t.append(base.where("c_custkey BETWEEN 2001 AND 3000"))
        dest = t.export_delta_log(f"{tmp}/customer_delta")
        q = (
            spark.readStream.format("deltatable")
            .option("path", str(dest))
            .load()
            .writeStream.format("parquet")
            .option("path", f"{tmp}/sink")
            .option("checkpointLocation", f"{tmp}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        out = (
            spark.read.parquet(f"{tmp}/sink")
            .groupBy("c_mktsegment")
            .agg(
                F.count(F.lit(1)).alias("n_customers"),
                F.round(F.sum("c_acctbal").cast("double"), 2)
                .alias("total_acctbal"),
            )
            .orderBy("c_mktsegment")
        )
        rows = out.collect()  # materialize before tmp vanishes
        return spark.createDataFrame(rows, out.schema)


@query(
    "streaming_iceberg_tail",
    # an append snapshot chain exported as an EXTERNAL Iceberg v2 table,
    # drained through the `icebergtable` source with snapshots EXPIRED
    # below the head-2 (the initial batch must read the earliest RETAINED
    # snapshot as a full snapshot); the drained union equals the
    # relational state
    oracle="""
    SELECT s_nationkey,
           CAST(count(*) AS BIGINT) AS n_suppliers,
           round(CAST(sum(s_acctbal) AS DOUBLE), 2) AS total_acctbal
    FROM supplier
    WHERE s_suppkey <= 90
    GROUP BY s_nationkey
    ORDER BY s_nationkey
    """,
)
def streaming_iceberg_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming FROM an external Iceberg table (r9, `icebergtable`
    Python data source): CTAS + two appends exported as a standalone
    Iceberg v2 table, snapshots EXPIRED to the last two, then drained by
    tailing the snapshot chain — offsets are sequence numbers, the
    initial batch reads the earliest retained snapshot as a FULL snapshot
    (its manifests list the expired snapshots' files as EXISTING, so no
    data is lost), later snapshots plan only their added manifests.
    The drained union hashes equal to the relational truth.

    100 TB shape: per-batch planning decodes only the manifests the new
    snapshots added — O(new files), never the whole table — and each data
    file is one executor partition."""
    from lakehouses_spark.tables import LakeTable
    from lakehouses_spark.tables.iceberg_meta import IcebergMetadataReader
    from lakehouses_spark.tables.iceberg_stream import IcebergTableDataSource

    spark.dataSource.register(IcebergTableDataSource)
    base = load_table(spark, sf_dir, "supplier").where("s_suppkey <= 90").select(
        "s_suppkey", "s_nationkey", "s_acctbal"
    )
    with tempfile.TemporaryDirectory() as tmp:
        t = LakeTable.create(spark, f"{tmp}/supplier",
                             base.where("s_suppkey <= 30"))
        t.append(base.where("s_suppkey BETWEEN 31 AND 60"))
        t.append(base.where("s_suppkey BETWEEN 61 AND 90"))
        dest = t.export_iceberg_metadata(f"{tmp}/supplier_iceberg")
        res = IcebergMetadataReader(spark, dest).expire_snapshots(keep_last=2)
        assert len(res["expired"]) == 1, res
        q = (
            spark.readStream.format("icebergtable")
            .option("path", str(dest))
            .load()
            .writeStream.format("parquet")
            .option("path", f"{tmp}/sink")
            .option("checkpointLocation", f"{tmp}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        out = (
            spark.read.parquet(f"{tmp}/sink")
            .groupBy("s_nationkey")
            .agg(
                F.count(F.lit(1)).alias("n_suppliers"),
                F.round(F.sum("s_acctbal").cast("double"), 2)
                .alias("total_acctbal"),
            )
            .orderBy("s_nationkey")
        )
        rows = out.collect()  # materialize before tmp vanishes
        return spark.createDataFrame(rows, out.schema)


@query(
    "streaming_iceberg_changelog",
    # CREATE then MERGE-ON-READ delete: the changelog feed is exactly
    # row-level (INSERTs of the base at ordinal 1, DELETEs of the
    # tombstoned rows at ordinal 2 — read back through the native
    # position-delete file), so the per-(ordinal, change_type) aggregate
    # is relationally reproducible — unlike COW updates, whose
    # file-granular delete+insert pairs depend on row packing
    oracle="""
    WITH base AS (
      SELECT l_orderkey, l_returnflag, l_quantity, l_extendedprice
      FROM lineitem WHERE l_orderkey <= 2000
    ), dels AS (
      SELECT * FROM base WHERE l_returnflag = 'R' AND l_quantity < 15
    )
    SELECT * FROM (
      SELECT 1 AS ordinal, 'INSERT' AS change_type,
             CAST(count(*) AS BIGINT) AS n_rows,
             round(CAST(sum(l_extendedprice) AS DOUBLE), 2) AS total_price
      FROM base
      UNION ALL
      SELECT 2, 'DELETE', CAST(count(*) AS BIGINT),
             round(CAST(sum(l_extendedprice) AS DOUBLE), 2)
      FROM dels
    ) ORDER BY ordinal, change_type
    """,
)
def streaming_iceberg_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Iceberg CHANGELOG (r9 — Spark-Iceberg's
    create_changelog_view semantics as a stream): CTAS from lineitem, a
    merge-on-read DELETE (exports as a native v2 position-delete file),
    then drain `icebergtable` with readChangeFeed=true. The feed's
    DELETE rows are materialized by reading the position-delete parquet
    and taking the targeted ordinals out of the (untouched) data files —
    row-level CDC with no rewrite anywhere. Aggregated per
    (_change_ordinal, _change_type) against the relational replay.

    100 TB shape: the DELETE emission reads only the position-delete
    file + the targeted data files; planning stays O(manifests the
    snapshot added)."""
    from lakehouses_spark.tables import LakeTable
    from lakehouses_spark.tables.iceberg_stream import IcebergTableDataSource

    spark.dataSource.register(IcebergTableDataSource)
    li = load_table(spark, sf_dir, "lineitem").where("l_orderkey <= 2000").select(
        "l_orderkey", "l_returnflag", "l_quantity", "l_extendedprice"
    )
    with tempfile.TemporaryDirectory() as tmp:
        t = LakeTable.create(spark, f"{tmp}/lineitem", li)
        t.delete("l_returnflag = 'R' AND l_quantity < 15", lazy=True)
        dest = t.export_iceberg_metadata(f"{tmp}/lineitem_iceberg")
        q = (
            spark.readStream.format("icebergtable")
            .option("path", str(dest))
            .option("readChangeFeed", "true")
            .load()
            .writeStream.format("parquet")
            .option("path", f"{tmp}/feed")
            .option("checkpointLocation", f"{tmp}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        out = (
            spark.read.parquet(f"{tmp}/feed")
            .groupBy(
                F.col("_change_ordinal").cast("int").alias("ordinal"),
                F.col("_change_type").alias("change_type"),
            )
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.round(F.sum("l_extendedprice").cast("double"), 2)
                .alias("total_price"),
            )
            .orderBy("ordinal", "change_type")
        )
        rows = out.collect()  # materialize before tmp vanishes
        return spark.createDataFrame(rows, out.schema)


STREAM_JOIN_WINDOW_MIN = 240  # purchase attributed to a view within 4 hours


@query(
    "streaming_stream_join",
    # an availableNow drain of a watermarked stream-stream inner join equals
    # the batch theta join — stream/batch unification for the join operator,
    # same contract streaming_windowed_drain pins for aggregation
    oracle=f"""
    SELECT v.event_id AS view_id, p.event_id AS purchase_id,
           v.user_id AS user_id,
           epoch_us(v.ts) AS view_us, epoch_us(p.ts) AS purchase_us,
           round(p.value, 2) AS purchase_value
    FROM events v JOIN events p
      ON v.user_id = p.user_id
     AND v.event_type = 'view' AND p.event_type = 'purchase'
     AND p.ts > v.ts
     AND p.ts <= v.ts + INTERVAL {STREAM_JOIN_WINDOW_MIN} MINUTE
    ORDER BY view_id, purchase_id
    """,
)
def streaming_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join (the one streaming operator family the
    T1-T8 inventory didn't yet exercise): views and purchases staged as two
    independent file streams, both watermarked, joined on user_id with an
    event-time band (purchase within STREAM_JOIN_WINDOW_MIN minutes after
    the view — the attribution-join shape), drained with availableNow
    (trigger/checkpoint surface per the reference's streaming sinks,
    02.ingestas_ficheros/02.ingesta_incremental [json].py:113-123).

    The time-band condition is what makes this safe at scale: it bounds the
    join state Spark must retain to watermark + band, so state size tracks
    the event rate, not the stream length. Without the band (or without
    watermarks) an unbounded stream-stream join accretes state forever —
    the streaming analog of the unguarded all-pairs join."""
    import tempfile
    import uuid

    events = load_table(spark, sf_dir, "events")
    name = f"ssj_{uuid.uuid4().hex[:8]}"
    with tempfile.TemporaryDirectory() as tmp:
        events.where(F.col("event_type") == "view").coalesce(2).write.parquet(
            f"{tmp}/views"
        )
        events.where(F.col("event_type") == "purchase").coalesce(2).write.parquet(
            f"{tmp}/purchases"
        )
        v = (
            spark.readStream.schema(events.schema)
            .parquet(f"{tmp}/views")
            .withWatermark("ts", "1 hour")
            .alias("v")
        )
        p = (
            spark.readStream.schema(events.schema)
            .parquet(f"{tmp}/purchases")
            .withWatermark("ts", "1 hour")
            .alias("p")
        )
        joined = v.join(
            p,
            F.expr(
                f"""v.user_id = p.user_id
                    AND p.ts > v.ts
                    AND p.ts <= v.ts + interval {STREAM_JOIN_WINDOW_MIN} minutes"""
            ),
        ).select(
            F.col("v.event_id").alias("view_id"),
            F.col("p.event_id").alias("purchase_id"),
            F.col("v.user_id").alias("user_id"),
            F.unix_micros("v.ts").alias("view_us"),
            F.unix_micros("p.ts").alias("purchase_us"),
            F.round("p.value", 2).alias("purchase_value"),
        )
        q = (
            joined.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", f"{tmp}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        result = spark.sql(f"SELECT * FROM {name}").orderBy("view_id", "purchase_id")
        rows = result.collect()  # materialize before tmp/checkpoint vanish
        return spark.createDataFrame(rows, result.schema)


@query(
    "streaming_dedup_drain",
    # the staged stream doubles every event (union with itself); a
    # watermark-bounded streaming dedup on event_id must drain to exactly
    # the batch DISTINCT — T8's dropDuplicatesWithinWatermark as a checkable
    # equation (duplicates arrive inside one file batch, well within the
    # watermark horizon, so bounded state loses nothing)
    oracle="""
    SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value
    FROM events
    ORDER BY event_id
    """,
)
def streaming_dedup_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup with bounded state: stage every event TWICE,
    drain `dropDuplicatesWithinWatermark(event_id)` with availableNow, and
    recover each event exactly once. The watermark bound is what makes this
    run forever at scale — state holds only the watermark horizon, unlike
    an unbounded dropDuplicates whose key set grows with the stream. (The
    reference achieves the same exactly-once property at the FILE level via
    checkpointed source offsets, 02…/02.ingesta_incremental [json].py:145-149;
    this is the row-level equivalent for at-least-once upstreams like
    Kafka producer retries.)"""
    import tempfile
    import uuid

    from lakehouses_spark.streaming.windows import dedup_within_watermark

    events = load_table(spark, sf_dir, "events")
    name = f"sdd_{uuid.uuid4().hex[:8]}"
    with tempfile.TemporaryDirectory() as tmp:
        events.unionByName(events).coalesce(4).write.parquet(f"{tmp}/data")
        stream = spark.readStream.schema(events.schema).parquet(f"{tmp}/data")
        deduped = dedup_within_watermark(
            stream, keys=("event_id",), ts_col="ts", watermark="2 hours"
        ).select(
            "event_id",
            F.unix_micros("ts").alias("ts_us"),
            "user_id",
            "event_type",
            "value",
        )
        q = (
            deduped.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", f"{tmp}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        result = spark.sql(f"SELECT * FROM {name}").orderBy("event_id")
        rows = result.collect()  # materialize before tmp/checkpoint vanish
        return spark.createDataFrame(rows, result.schema)


@query("streaming_minhash_dedup")  # rows-only BY DESIGN — self-checking:
# the daily-crawl streaming shape (probe a PERSISTED MinHash index per
# micro-batch, index the accepted docs between batches) has no single-SQL
# oracle; instead the query asserts every verdict against the constructed
# ground truth AND stream≡batch-replay equivalence before returning.
def streaming_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming incremental MinHash dedup (VERDICT r6 #8): a file stream
    drains in TWO micro-batches through a foreachBatch that (1) probes the
    current persisted signature index (a LakeTable), (2) appends verdicts,
    (3) indexes the accepted docs' signatures. Batch 2 contains a twin of a
    doc ACCEPTED in batch 1 — it must come back `dup_of_existing` pointing
    at the batch-1 doc, which only happens if the between-batch index
    update is real. Self-checks (raise on failure): all four constructed
    verdicts exact; index grew by exactly the accepted docs; stream
    verdicts ≡ sequential batch replay of the same probe (SURVEY §5
    stream/batch unification).

    100 TB shape: the daily-crawl pipeline — each day's batch probes the
    persisted index (banded buckets, 8-byte hashed shingles) and appends
    only its own signatures; the historical corpus is never re-shingled or
    re-scanned beyond the bucket-join."""
    import json as _json
    import os as _os
    import tempfile
    import uuid as _uuid

    from lakehouses_spark.queries.dedup import (
        hashed_shingle_sets,
        minhash_buckets,
        minhash_probe,
    )
    from lakehouses_spark.tables import LakeTable

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus_rows = {r.doc_id: r.text for r in docs.limit(4).collect()}
    base_ids = sorted(corpus_rows)
    t0, t1 = corpus_rows[base_ids[0]], corpus_rows[base_ids[1]]
    fresh1 = " ".join("x" + w for w in t0.split())  # zero shingle overlap
    fresh2 = " ".join("y" + w for w in t1.split())
    batches = [
        [
            {"doc_id": 100_000 + base_ids[0], "text": t0 + " zzz"},
            {"doc_id": 200_001, "text": fresh1},
        ],
        [
            {"doc_id": 300_001, "text": fresh1 + " qqq"},
            {"doc_id": 200_002, "text": fresh2},
        ],
    ]

    def sigs_of(df):
        return minhash_buckets(hashed_shingle_sets(df), keep=("hs",))

    with tempfile.TemporaryDirectory() as tmp:
        idx_path = f"{tmp}/minhash_index"
        LakeTable.create(spark, idx_path, sigs_of(docs))
        landing = f"{tmp}/landing"
        _os.makedirs(landing)
        for i, rows in enumerate(batches):
            p = f"{landing}/batch-{i}.json"
            with open(p, "w") as fh:
                fh.write("\n".join(_json.dumps(r) for r in rows))
            _os.utime(p, (1_000_000 + i, 1_000_000 + i))  # deterministic order
        verdict_dir = f"{tmp}/verdicts_{_uuid.uuid4().hex[:8]}"

        def probe_and_index(batch_df, _batch_id):
            t = LakeTable(batch_df.sparkSession, idx_path)
            sigs = sigs_of(batch_df).localCheckpoint()
            verdicts = minhash_probe(sigs, t.read()).localCheckpoint()
            verdicts.write.mode("append").parquet(verdict_dir)
            accepted = sigs.join(
                verdicts.where(F.col("status") == "accepted").select("doc_id"),
                "doc_id",
                "left_semi",
            )
            t.append(accepted)

        q = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .json(landing)
            .writeStream.foreachBatch(probe_and_index)
            .option("checkpointLocation", f"{tmp}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

        verdicts = spark.read.parquet(verdict_dir)
        got = {r.doc_id: (r.status, r.dup_of) for r in verdicts.collect()}
        want = {
            100_000 + base_ids[0]: ("dup_of_existing", base_ids[0]),
            200_001: ("accepted", None),
            300_001: ("dup_of_existing", 200_001),  # the incremental crux
            200_002: ("accepted", None),
        }
        assert got == want, (got, want)
        # index grew by exactly the accepted docs
        all_ids = [r.doc_id for r in docs.select("doc_id").collect()]
        idx_ids = sorted(
            r.doc_id
            for r in LakeTable(spark, idx_path).read().select("doc_id").collect()
        )
        assert idx_ids == sorted([*all_ids, 200_001, 200_002]), idx_ids
        # stream ≡ sequential batch replay of the same probe
        idx2 = f"{tmp}/replay_index"
        LakeTable.create(spark, idx2, sigs_of(docs))
        replay = {}
        for rows in batches:
            bdf = spark.createDataFrame(rows, "doc_id long, text string")
            t = LakeTable(spark, idx2)
            sigs = sigs_of(bdf).localCheckpoint()
            v = minhash_probe(sigs, t.read()).localCheckpoint()
            replay.update({r.doc_id: (r.status, r.dup_of) for r in v.collect()})
            t.append(
                sigs.join(
                    v.where(F.col("status") == "accepted").select("doc_id"),
                    "doc_id",
                    "left_semi",
                )
            )
        assert replay == got, (replay, got)
        out = verdicts.select("doc_id", "status", "dup_of").orderBy("doc_id")
        rows = out.collect()  # materialize before tmp/checkpoint vanish
        return spark.createDataFrame(rows, out.schema)


@query(
    "multimodal_audio_stats",
    # audio leg of the manifest-formula trick (multimodal_metadata's PNG
    # twin): the synthesized WAV for doc_id has sample_rate 8000·(1+id%3),
    # channels 1+id%2, and exactly (rate/1000)·(100+id%400) samples, so
    # duration is the EXACT 3-decimal value (100+id%400)/1000 and every
    # probed column is an analytic function of doc_id — synthesis, RIFF
    # header parse, Arrow plumbing, and rollup are all on the hook
    oracle="""
    WITH a AS (
      SELECT doc_id,
             8000 * (1 + doc_id % 3) AS sample_rate,
             CAST(1 + doc_id % 2 AS INT) AS n_channels,
             (8 * (1 + doc_id % 3)) * (100 + doc_id % 400) AS n_samples
      FROM documents
    )
    SELECT sample_rate, n_channels,
           count(*) AS n_files,
           CAST(sum(44 + n_samples * n_channels * 2) AS BIGINT) AS total_bytes,
           round(avg(n_samples / CAST(sample_rate AS DOUBLE)), 3) AS avg_duration_s
    FROM a GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def multimodal_audio_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.12 multimodal, audio: synthesize a deterministic PCM WAV per
    document, probe RIFF headers via the mapInPandas extractor (real header
    parsing — rate/channels/duration from fmt-chunk bytes), then a JVM-side
    per-(rate, channels) rollup — the audio analog of the reference's image
    metadata pipeline (02.ingestas_ficheros/05.ingesta_incremental
    [imagenes].py:52-60 pandas-UDF probe + :126-129 rollup). Sample decode
    stays stubbed per contract (`multimodal._decode_stub`); everything up
    to it is real and checked."""
    from pyspark.sql.functions import pandas_udf

    from lakehouses_spark.multimodal import extract_media_metadata

    @pandas_udf(BinaryType())
    def fake_wav_udf(n):  # Arrow-batched, not row-at-a-time
        def gen(i):
            i = int(i)
            rate, ch = 8000 * (1 + i % 3), 1 + i % 2
            n_samples = (rate // 1000) * (100 + i % 400)
            n_data = n_samples * ch * 2
            return (
                b"RIFF" + struct.pack("<I", 36 + n_data) + b"WAVE"
                + b"fmt " + struct.pack(
                    "<IHHIIHH", 16, 1, ch, rate, rate * ch * 2, ch * 2, 16
                )
                + b"data" + struct.pack("<I", n_data) + b"\x00" * n_data
            )

        return n.map(gen)

    docs = load_table(spark, sf_dir, "documents")
    media = docs.select(
        F.concat(F.lit("mem://audio/"), F.col("doc_id")).alias("path"),
        fake_wav_udf(F.col("doc_id").cast("int")).alias("content"),
    )
    meta = extract_media_metadata(media)
    return (
        meta.where(F.col("format") == "wav")
        .groupBy("sample_rate", "n_channels")
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum("length").alias("total_bytes"),
            F.round(F.avg("duration_s"), 3).alias("avg_duration_s"),
        )
        .orderBy("sample_rate", "n_channels")
    )


# --- WebDataset-style tar shards ---------------------------------------------
# The storage layout multimodal training pipelines actually use: samples are
# grouped into sequentially-readable .tar shards, each sample spanning several
# same-key members (image + caption + metadata). Reading = one bounded
# sequential pass per shard — the access pattern that makes 100 TB of tiny
# files tractable on object storage.

TAR_N_SHARDS = 3
TAR_SAMPLES_PER_SHARD = 8
TAR_EXTS = ("jpg", "txt", "json")


def _tar_member_bytes(shard: int, i: int, ext: str) -> bytes:
    """Deterministic member content: caption text, json metadata, or an
    opaque image-stand-in byte pattern (decode is the stubbed seam; the
    shard-reading plumbing is what's under test)."""
    key = f"s{shard:02d}_{i:04d}"
    if ext == "txt":
        return f"caption for {key}: a fake image of item {i * 7 % 13}".encode()
    if ext == "json":
        return ('{"key": "%s", "w": %d, "h": %d}' % (key, 32 + i, 24 + shard)).encode()
    pattern = f"{key}:".encode()
    size = 500 + 37 * i + 11 * shard
    return (pattern * (size // len(pattern) + 1))[:size]


def _tar_manifest_rows() -> list[tuple]:
    """Closed-form ground truth: (shard_name, sample_key, n_members,
    total_bytes, caption_md5) per sample — computed with plain Python
    hashlib, never tarfile, so the oracle is independent of the reader."""
    import hashlib

    rows = []
    for s in range(TAR_N_SHARDS):
        for i in range(TAR_SAMPLES_PER_SHARD):
            key = f"s{s:02d}_{i:04d}"
            total = sum(len(_tar_member_bytes(s, i, e)) for e in TAR_EXTS)
            cap = hashlib.md5(_tar_member_bytes(s, i, "txt")).hexdigest()
            rows.append((f"shard-{s:05d}.tar", key, len(TAR_EXTS), total, cap))
    return rows


def read_tar_shards(spark, path: str):
    """WebDataset shard reader: binaryFile scan of *.tar → mapInPandas
    parsing each shard with the stdlib tarfile module → one row per member
    (shard, sample key, ext, bytes, content). Per-task work is bounded by
    shard size (the writer's contract — shards are sized for one task), and
    shards parallelize across executors like any binaryFile split."""
    import io as _io
    import tarfile

    from pyspark.sql.types import (
        BinaryType, LongType, StringType, StructField, StructType,
    )

    schema = StructType([
        StructField("shard", StringType()),
        StructField("sample_key", StringType()),
        StructField("ext", StringType()),
        StructField("n_bytes", LongType()),
        StructField("content", BinaryType()),
    ])

    def parse(batches):
        for pdf in batches:
            out = {"shard": [], "sample_key": [], "ext": [], "n_bytes": [],
                   "content": []}
            for path_, data in zip(pdf["path"], pdf["content"]):
                shard = path_.rsplit("/", 1)[-1]
                with tarfile.open(fileobj=_io.BytesIO(bytes(data))) as tf:
                    for m in tf.getmembers():
                        if not m.isfile():
                            continue
                        key, _, ext = m.name.rpartition(".")
                        out["shard"].append(shard)
                        out["sample_key"].append(key)
                        out["ext"].append(ext)
                        out["n_bytes"].append(m.size)
                        out["content"].append(tf.extractfile(m).read())
            yield pd.DataFrame(out)

    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.tar")
        .load(path)
        .select("path", "content")
    )
    return files.mapInPandas(parse, schema=schema)


_TAR_ORACLE = (
    "SELECT shard, sample_key, CAST(n_members AS BIGINT) AS n_members, "
    "CAST(total_bytes AS BIGINT) AS total_bytes, caption_md5 "
    "FROM (VALUES "
    + ", ".join(
        "(" + ", ".join(_sql_lit(v) for v in row) + ")"
        for row in _tar_manifest_rows()
    )
    + ") AS t(shard, sample_key, n_members, total_bytes, caption_md5) "
    "ORDER BY shard, sample_key"
)


@query("multimodal_tar_shards", oracle=_TAR_ORACLE)
def multimodal_tar_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebDataset tar-shard ingestion: stage deterministic .tar shards
    (image-stand-in + caption + json per sample key), read them DISTRIBUTED
    (binaryFile → mapInPandas tarfile parse), roll members up per sample
    (count, bytes, JVM md5 of the caption), and hash-match the closed-form
    manifest the generator formulas imply. Shard staging is bounded fixture
    generation, same justification as avro_file_roundtrip's."""
    import tarfile
    import tempfile
    from pathlib import Path

    with tempfile.TemporaryDirectory() as tmp:
        for s in range(TAR_N_SHARDS):
            with tarfile.open(Path(tmp) / f"shard-{s:05d}.tar", "w") as tf:
                for i in range(TAR_SAMPLES_PER_SHARD):
                    for ext in TAR_EXTS:
                        data = _tar_member_bytes(s, i, ext)
                        info = tarfile.TarInfo(f"s{s:02d}_{i:04d}.{ext}")
                        info.size = len(data)
                        info.mtime = 0
                        tf.addfile(info, io.BytesIO(data))
        members = read_tar_shards(spark, tmp)
        out = (
            members.groupBy("shard", "sample_key")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_members"),
                F.sum("n_bytes").cast("long").alias("total_bytes"),
                F.md5(
                    F.max(F.when(F.col("ext") == "txt", F.col("content")))
                ).alias("caption_md5"),
            )
            .orderBy("shard", "sample_key")
        )
        rows = out.collect()  # materialize before tmp vanishes
        return spark.createDataFrame(rows, out.schema)


@query(
    "streaming_session_drain",
    # availableNow drain of a session-window aggregation equals the batch
    # gaps-and-islands sessionization. Boundary pin: Spark session windows
    # are end-EXCLUSIVE (end = last_ts + gap), so an event arriving exactly
    # `gap` after the last one starts a NEW session — the oracle's island
    # break is therefore `>= 1800`, not the strict `> 1800` ts_sessionize
    # uses for its own (different, documented) convention.
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, value,
             CASE WHEN epoch(ts) - epoch(lag(ts) OVER
                      (PARTITION BY user_id ORDER BY ts, event_id)) >= 1800.0
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                     IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ), sessions AS (
      SELECT user_id, ts, value,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS sid
      FROM flagged
    )
    SELECT CAST(min(ts) AS VARCHAR) AS session_start,
           CAST(max(ts) + INTERVAL 30 MINUTE AS VARCHAR) AS session_end,
           user_id,
           count(*) AS n_events,
           round(sum(value), 2) AS total_value
    FROM sessions
    GROUP BY user_id, sid
    ORDER BY user_id, session_start
    """,
)
def streaming_session_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T8 session windows as a driver-checkable drain: stage events as a
    file stream, drain F.session_window (30-min dynamic gap, per user)
    with availableNow, and hash-match the batch gaps-and-islands
    sessionization — the stream/batch unification contract for the one
    windowed-state shape (dynamic, data-dependent window bounds) that
    tumbling/sliding drains don't exercise. Session state merges across
    microbatches (multiple input files per drain), so the check also pins
    cross-batch session stitching."""
    import uuid

    from lakehouses_spark.streaming import session_window_agg

    events = load_table(spark, sf_dir, "events")
    name = f"sess_{uuid.uuid4().hex[:8]}"
    with tempfile.TemporaryDirectory() as tmp:
        events.coalesce(4).write.parquet(f"{tmp}/data")
        stream = spark.readStream.schema(events.schema).parquet(f"{tmp}/data")
        q = (
            session_window_agg(stream)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .option("checkpointLocation", f"{tmp}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        result = (
            spark.sql(f"SELECT * FROM {name}")
            .select(
                F.col("session_start").cast("string").alias("session_start"),
                F.col("session_end").cast("string").alias("session_end"),
                "user_id",
                "n_events",
                "total_value",
            )
            .orderBy("user_id", "session_start")
        )
        rows = result.collect()  # materialize before tmp/checkpoint vanish
        return spark.createDataFrame(rows, result.schema)


@query(
    "lake_clone_isolation",
    # the clone arc is deterministic (key-range mutations), so snapshot
    # isolation gets a real differential oracle: three relational views of
    # the same base slice — the frozen clone snapshot, the mutated source,
    # and the independently-mutated clone
    oracle="""
    WITH base AS (SELECT * FROM orders WHERE o_orderkey <= 3000),
    src_after AS (SELECT * FROM base WHERE o_orderstatus <> 'F'),
    clone_after AS (SELECT * FROM base WHERE o_orderkey > 1000)
    SELECT 'clone_snapshot' AS table_state,
           (SELECT CAST(count(*) AS BIGINT) FROM base) AS n_rows,
           (SELECT round(sum(o_totalprice), 2) FROM base) AS total
    UNION ALL
    SELECT 'source_mutated',
           (SELECT CAST(count(*) AS BIGINT) FROM src_after),
           (SELECT round(sum(o_totalprice), 2) FROM src_after)
    UNION ALL
    SELECT 'clone_mutated',
           (SELECT CAST(count(*) AS BIGINT) FROM clone_after),
           (SELECT round(sum(o_totalprice), 2) FROM clone_after)
    ORDER BY table_state
    """,
)
def lake_clone_isolation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLONE as a driver-checkable query: CTAS a source slice → SHALLOW
    CLONE it (zero-copy, metadata-only) → mutate the SOURCE (delete) and
    the CLONE (different delete) independently → report all three states.
    Snapshot isolation is the contract under test: the clone's time-travel
    v0 still reads the original slice even though the source has since
    changed, and neither table's copy-on-write touches the other's rows —
    exercised through the real transaction-log path (clone commit, ../
    reference resolution, COW rewrite of referenced source files into the
    clone's own data dir)."""
    from lakehouses_spark.tables import LakeTable

    orders = load_table(spark, sf_dir, "orders").where("o_orderkey <= 3000")
    with tempfile.TemporaryDirectory() as tmp:
        src = LakeTable.create(spark, f"{tmp}/src", orders)
        clone = src.clone(f"{tmp}/clone", shallow=True)
        src.delete("o_orderstatus = 'F'")
        clone.delete("o_orderkey <= 1000")
        states = [
            ("clone_snapshot", clone.read(version=0)),  # pre-mutation travel
            ("source_mutated", src.read()),
            ("clone_mutated", clone.read()),
        ]
        rows = []
        for label, df in states:
            agg = df.agg(
                F.count(F.lit(1)).cast("long").alias("n"),
                F.round(F.sum("o_totalprice"), 2).alias("t"),
            ).first()
            rows.append((label, agg.n, float(agg.t)))
        out = spark.createDataFrame(
            rows, "table_state string, n_rows long, total double"
        ).orderBy("table_state")
        res = out.collect()
        return spark.createDataFrame(res, out.schema)


@query(
    "lake_partitioned_external_dml",
    # the oracle replays the same append -> UPDATE -> DELETE chain
    # relationally; the appended 'Z' rows are untouched by both DMLs
    # regardless of order, so the replay composes cleanly
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice
      FROM orders WHERE o_orderkey <= 5000
    ), upd AS (
      SELECT o_orderkey, o_orderstatus,
             CASE WHEN o_orderstatus = 'P' THEN o_totalprice * 1.05
                  ELSE o_totalprice END AS o_totalprice
      FROM base
    ), kept AS (
      SELECT * FROM upd
      WHERE NOT (o_orderstatus = 'F' AND o_totalprice < 40000)
    ), appended AS (
      SELECT * FROM kept
      UNION ALL
      SELECT o_orderkey + 1000000 AS o_orderkey,
             'Z' AS o_orderstatus, 100.0 AS o_totalprice
      FROM base WHERE o_orderkey <= 40
    )
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(CAST(sum(o_totalprice) AS DOUBLE), 2) AS total_price
    FROM appended
    GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)
def lake_partitioned_external_dml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARTITIONED no-LakeTable write path, BOTH formats (r11): CTAS a
    hive-partitioned Delta table (`write_delta_table`) and an
    identity-partitioned Iceberg table (`write_iceberg_table`) straight
    from a DataFrame — the reference's `partitionBy` write and
    `USING iceberg PARTITIONED BY` surfaces (02.delta_lake_primer.py
    write cells, 03.iceberg_primer.py:114-124) — then run the SAME
    append → UPDATE → DELETE chain through each external reader and
    assert the two formats agree row-for-row. In-query asserts pin the
    partition mechanics: Delta partition pruning actually skips files on
    the fresh layout, every rewritten add carries its partitionValues,
    and the Iceberg `.partitions` metadata table reports exactly the
    live status tuples.

    100 TB shape: CTAS is one distributed partition-grouped write; each
    DML plans affected files from one scan and rewrites per partition —
    on a date-partitioned fact table the rewrite touches only the
    partitions holding matches, never the table."""
    from lakehouses_spark.tables.delta_log import (
        DeltaLogReader,
        read_delta,
        write_delta_table,
    )
    from lakehouses_spark.tables.iceberg_meta import (
        IcebergMetadataReader,
        read_iceberg,
        write_iceberg_table,
    )

    base = load_table(spark, sf_dir, "orders").where(
        "o_orderkey <= 5000"
    ).select("o_orderkey", "o_orderstatus", "o_totalprice")
    app = base.where("o_orderkey <= 40").select(
        (F.col("o_orderkey") + 1000000).alias("o_orderkey"),
        F.lit("Z").alias("o_orderstatus"),
        F.lit(100.0).alias("o_totalprice"),
    )
    with tempfile.TemporaryDirectory() as tmp:
        rd = write_delta_table(
            spark, base, f"{tmp}/d", partition_by=["o_orderstatus"])
        ri = write_iceberg_table(
            spark, base, f"{tmp}/i", partition_by=["o_orderstatus"])
        rd.append(app)
        ri.append(app)
        rd = DeltaLogReader(spark, f"{tmp}/d")
        ri = IcebergMetadataReader(spark, f"{tmp}/i")
        for r in (rd, ri):
            res_u = r.update(
                {"o_totalprice": "o_totalprice * 1.05"},
                where="o_orderstatus = 'P'")
            assert res_u["rewritten_files"] >= 1, res_u
            res_d = r.delete("o_orderstatus = 'F' AND o_totalprice < 40000")
            assert res_d["rewritten_files"] >= 1, res_d
        # Delta: partition pruning skips files on the fresh layout, and
        # every live add still carries its partition value
        rd = DeltaLogReader(spark, f"{tmp}/d")
        full = len(rd.to_df().inputFiles())
        pruned = len(rd.to_df(
            filters=[("o_orderstatus", "=", "Z")]).inputFiles())
        assert 0 < pruned < full, (pruned, full)
        assert all(
            "o_orderstatus" in (a.get("partitionValues") or {})
            for a in rd.snapshot().files.values())
        # Iceberg: live partition tuples are exactly the live statuses
        ri = IcebergMetadataReader(spark, f"{tmp}/i")
        tuples = {x.partition["o_orderstatus"]
                  for x in ri.partitions().collect()}
        statuses = {x.o_orderstatus for x in
                    read_iceberg(spark, f"{tmp}/i")
                    .select("o_orderstatus").distinct().collect()}
        assert tuples == statuses, (tuples, statuses)

        def agg(df):
            return (
                df.groupBy("o_orderstatus")
                .agg(F.count(F.lit(1)).alias("n_orders"),
                     F.round(F.sum("o_totalprice"), 2).alias("total_price"))
                .orderBy("o_orderstatus")
            )

        out_d = agg(read_delta(spark, f"{tmp}/d")).localCheckpoint()
        out_i = agg(read_iceberg(spark, f"{tmp}/i")).localCheckpoint()
        # format parity: the two external write planes agree row-for-row
        assert [tuple(r) for r in out_d.collect()] == \
            [tuple(r) for r in out_i.collect()]
        return out_d


@query(
    "lake_transform_evolution_dml",
    # relational replay of the same DELETE -> schema-evolving MERGE
    # chain: matched rows take the source's doubled price + flag,
    # source rows absent from the kept set insert (including rows the
    # DELETE removed), everything else keeps NULL in the new column
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_orderdate, o_totalprice
      FROM orders WHERE o_orderkey <= 4000
    ), kept AS (
      SELECT * FROM base WHERE o_orderdate < DATE '1997-01-01'
    ), src AS (
      SELECT o_orderkey, o_orderdate, o_totalprice * 2 AS o_totalprice,
             'M' AS o_flag
      FROM base WHERE o_orderkey % 100 < 3
    ), merged AS (
      SELECT k.o_orderkey, k.o_orderdate,
             COALESCE(s.o_totalprice, k.o_totalprice) AS o_totalprice,
             s.o_flag
      FROM kept k LEFT JOIN src s ON k.o_orderkey = s.o_orderkey
      UNION ALL
      SELECT s.o_orderkey, s.o_orderdate, s.o_totalprice, s.o_flag
      FROM src s
      WHERE s.o_orderkey NOT IN (SELECT o_orderkey FROM kept)
    )
    SELECT CAST(year(o_orderdate) - 1970 AS INT) AS y,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(count(o_flag) AS BIGINT) AS n_flagged,
           round(CAST(sum(o_totalprice) AS DOUBLE), 2) AS total_price
    FROM merged GROUP BY y ORDER BY y
    """,
)
def lake_transform_evolution_dml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-12 external-plane arc: a YEARS()-transformed Iceberg table
    (the reference's own partition spec — `PARTITIONED BY
    (YEAR(fecha_ingreso))`, 03.iceberg_primer.py:124) plus an
    unpartitioned Delta twin run the same DELETE → SCHEMA-EVOLVING MERGE
    chain (Delta's withSchemaEvolution; reference evolution arcs
    02.delta_lake_primer.py:362, 03.iceberg_primer.py:232) and must
    agree row-for-row. In-query asserts pin the transform mechanics:
    the declared spec carries the `year` transform, live manifest
    tuples equal the Spark-computed `year(o_orderdate) - 1970`
    ordinals, and the evolution minted a new Iceberg schema (old one
    retained) / a widened Delta metaData whose new column reads NULL on
    untouched rows.

    100 TB shape: the year-transformed layout is the common production
    Iceberg shape — DML rewrites touch only files whose year buckets
    hold matches; the schema-evolving MERGE is one matched-file rewrite
    + one anti-join insert leg (materialized once), never a table scan
    per leg."""
    from lakehouses_spark.tables.delta_log import (
        DeltaLogReader,
        read_delta,
        write_delta_table,
    )
    from lakehouses_spark.tables.iceberg_meta import (
        IcebergMetadataReader,
        read_iceberg,
        write_iceberg_table,
    )

    base = load_table(spark, sf_dir, "orders").where(
        "o_orderkey <= 4000"
    ).select("o_orderkey", "o_orderdate", "o_totalprice")
    src = base.where("o_orderkey % 100 < 3").select(
        "o_orderkey", "o_orderdate",
        (F.col("o_totalprice") * 2).alias("o_totalprice"),
        F.lit("M").alias("o_flag"),
    )
    with tempfile.TemporaryDirectory() as tmp:
        rd = write_delta_table(spark, base, f"{tmp}/d")
        ri = write_iceberg_table(
            spark, base, f"{tmp}/i", partition_by=["years(o_orderdate)"])
        # the declared spec carries the spec-named transform
        spec = ri.meta["partition-specs"][0]
        assert [f["transform"] for f in spec["fields"]] == ["year"], spec
        # live tuples == Spark-computed year ordinals
        expect_y = {r[0] for r in base.select(
            (F.year("o_orderdate") - F.lit(1970)).cast("int")).collect()}
        got_y = {e["data_file"]["partition"]["o_orderdate_year"]
                 for e in ri._live_data_entries()}
        assert got_y == expect_y, (sorted(got_y), sorted(expect_y))

        for r in (rd, ri):
            res = r.delete("o_orderdate >= DATE'1997-01-01'")
            assert res["rewritten_files"] >= 1, res
        rd = DeltaLogReader(spark, f"{tmp}/d")
        ri = IcebergMetadataReader(spark, f"{tmp}/i")
        for r in (rd, ri):
            res = r.merge(src, "t.o_orderkey = s.o_orderkey",
                          schema_evolution=True)
            assert res["inserted_rows"] > 0, res

        # evolution landed: widened Delta schema; new Iceberg schema
        # with the old retained for time travel
        rd = DeltaLogReader(spark, f"{tmp}/d")
        assert [f.name for f in rd.snapshot().schema.fields][-1] == "o_flag"
        ri = IcebergMetadataReader(spark, f"{tmp}/i")
        assert len(ri.meta["schemas"]) == 2
        assert ri.schema().fields[-1].name == "o_flag"

        def agg(df):
            return (
                df.groupBy(
                    (F.year("o_orderdate") - F.lit(1970))
                    .cast("int").alias("y"))
                .agg(F.count(F.lit(1)).alias("n_orders"),
                     F.count("o_flag").alias("n_flagged"),
                     F.round(F.sum("o_totalprice"), 2).alias("total_price"))
                .orderBy("y")
            )

        out_d = agg(read_delta(spark, f"{tmp}/d")).localCheckpoint()
        out_i = agg(read_iceberg(spark, f"{tmp}/i")).localCheckpoint()
        # format parity: both write planes agree row-for-row
        assert [tuple(r) for r in out_d.collect()] == \
            [tuple(r) for r in out_i.collect()]
        return out_d


@query(
    "lake_mor_delete",
    # the oracle replays the DELETE -> DELETE -> UPDATE chain
    # relationally — the MOR position-delete files + appended update
    # images must make the reader see exactly this
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice
      FROM orders WHERE o_orderkey <= 5000
    ), kept AS (
      SELECT * FROM base
      WHERE NOT (o_orderstatus = 'F' AND o_totalprice < 100000)
        AND NOT (o_orderkey % 10 = 0)
    ), upd AS (
      SELECT o_orderkey, o_orderstatus,
             CASE WHEN o_orderstatus = 'P' THEN o_totalprice * 2
                  ELSE o_totalprice END AS o_totalprice
      FROM kept
    )
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(CAST(sum(o_totalprice) AS DOUBLE), 2) AS total_price
    FROM upd GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)
def lake_mor_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-12 merge-on-read DML arc, BOTH formats: an Iceberg table
    (`write.delete.mode=merge-on-read`) takes two stacking DELETEs as
    POSITION DELETE files (spec "Position Delete Files") and an UPDATE
    as tombstones + appended images, while a Delta twin
    (`delta.enableDeletionVectors=true`) runs the SAME chain as
    DELETION VECTORS (PROTOCOL.md "Deletion Vectors") — zero data
    rewritten on either side (asserted: the original data-file sets
    stay byte-identical), O(matching rows) write cost. Compaction
    (`rewrite_data_files` / OPTIMIZE) then materializes everything away
    with the read unchanged, and the two formats must agree
    row-for-row. The reference's UPDATE/DELETE arc
    (03.iceberg_primer.py:177-188, 02.delta_lake_primer.py:213-252) on
    the merge-on-read path modern deployments default to for sparse
    DML.

    100 TB shape: a sparse DELETE over wide files writes only the
    (file, ordinal) tombstones — a fraction of COW's affected-file
    rewrite — and compaction amortizes the materialization into the
    maintenance window."""
    from lakehouses_spark.tables.delta_log import (
        DeltaLogReader,
        read_delta,
        write_delta_table,
    )
    from lakehouses_spark.tables.iceberg_meta import (
        IcebergMetadataReader,
        read_iceberg,
        write_iceberg_table,
    )

    base = load_table(spark, sf_dir, "orders").where(
        "o_orderkey <= 5000"
    ).select("o_orderkey", "o_orderstatus", "o_totalprice")
    with tempfile.TemporaryDirectory() as tmp:
        ri = write_iceberg_table(
            spark, base, f"{tmp}/i",
            properties={"write.delete.mode": "merge-on-read",
                        "write.update.mode": "merge-on-read"})
        rd = write_delta_table(
            spark, base, f"{tmp}/d",
            properties={"delta.enableDeletionVectors": "true"})
        ifiles0 = {f["file_path"] for f in ri.live_files()}
        dfiles0 = set(rd.snapshot().files)
        # two stacking MOR deletes + one MOR update on each format
        for r in (ri, rd):
            res = r.delete("o_orderstatus = 'F' AND o_totalprice < 100000")
            assert res["rewritten_files"] == 0, res
        ri2 = IcebergMetadataReader(spark, f"{tmp}/i")
        rd2 = DeltaLogReader(spark, f"{tmp}/d")
        for r in (ri2, rd2):
            res = r.delete("o_orderkey % 10 = 0")
            assert res["rewritten_files"] == 0, res
        ri3 = IcebergMetadataReader(spark, f"{tmp}/i")
        rd3 = DeltaLogReader(spark, f"{tmp}/d")
        for r in (ri3, rd3):
            res = r.update({"o_totalprice": "o_totalprice * 2"},
                           where="o_orderstatus = 'P'")
            assert res["rewritten_files"] == 0, res
            assert res["updated_rows"] > 0
        # nothing rewritten anywhere: the original file sets are intact
        ri4 = IcebergMetadataReader(spark, f"{tmp}/i")
        rd4 = DeltaLogReader(spark, f"{tmp}/d")
        assert ifiles0 <= {f["file_path"] for f in ri4.live_files()}
        assert dfiles0 <= set(rd4.snapshot().files)
        assert len(ri4.position_delete_files()) >= 3
        assert any(a.get("deletionVector")
                   for a in rd4.snapshot().files.values())

        def agg(df):
            return (
                df.groupBy("o_orderstatus")
                .agg(F.count(F.lit(1)).alias("n_orders"),
                     F.round(F.sum("o_totalprice"), 2).alias("total_price"))
                .orderBy("o_orderstatus")
            )

        before = agg(read_iceberg(spark, f"{tmp}/i")).localCheckpoint()
        # compaction materializes the tombstones; the read must not move
        res3 = ri4.rewrite_data_files(target_file_size_mb=64)
        assert res3["applied_delete_files"] >= 3, res3
        rd4.optimize(target_file_size_mb=64)
        ri5 = IcebergMetadataReader(spark, f"{tmp}/i")
        rd5 = DeltaLogReader(spark, f"{tmp}/d")
        assert len(ri5.position_delete_files()) == 0
        assert not any(a.get("deletionVector")
                       for a in rd5.snapshot().files.values())
        after = agg(read_iceberg(spark, f"{tmp}/i")).localCheckpoint()
        out_d = agg(read_delta(spark, f"{tmp}/d")).localCheckpoint()
        # compaction-stable AND format parity, row-for-row
        assert [tuple(x) for x in before.collect()] == \
            [tuple(x) for x in after.collect()]
        assert [tuple(x) for x in out_d.collect()] == \
            [tuple(x) for x in after.collect()]
        return out_d


@query(
    "lake_bucket_transform_dml",
    # relational replay of the DELETE -> UPDATE -> MERGE chain the
    # bucket/truncate-partitioned Iceberg table (and its Delta twin)
    # executes; minck/mincl are the deterministic smallest keys
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_custkey, o_orderpriority, o_totalprice
      FROM orders WHERE o_orderkey <= 5000
    ), keys AS (
      SELECT min(o_custkey) AS minck, min(o_orderpriority) AS mincl FROM base
    ), kept AS (
      SELECT b.* FROM base b, keys k WHERE b.o_custkey <> k.minck
    ), upd AS (
      SELECT o_orderkey, o_custkey, o_orderpriority,
             CASE WHEN o_orderpriority = (SELECT mincl FROM keys)
                  THEN o_totalprice * 2 ELSE o_totalprice END
               AS o_totalprice
      FROM kept
    ), src AS (
      SELECT o_orderkey, o_custkey, o_orderpriority,
             o_totalprice + 100000 AS o_totalprice
      FROM base WHERE o_orderkey % 97 < 2
      UNION ALL
      SELECT o_orderkey + 1000000 AS o_orderkey, o_custkey,
             o_orderpriority, o_totalprice + 100000 AS o_totalprice
      FROM base WHERE o_orderkey % 11 = 0
    ), merged AS (
      SELECT u.o_orderkey, u.o_custkey, u.o_orderpriority,
             COALESCE(s.o_totalprice, u.o_totalprice) AS o_totalprice
      FROM upd u LEFT JOIN src s ON u.o_orderkey = s.o_orderkey
      UNION ALL
      SELECT s.* FROM src s
      WHERE s.o_orderkey NOT IN (SELECT o_orderkey FROM upd)
    )
    SELECT substring(o_orderpriority, 1, 3) AS prio3,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(CAST(sum(o_totalprice) AS DOUBLE), 2) AS total_price
    FROM merged GROUP BY prio3 ORDER BY prio3
    """,
)
def lake_bucket_transform_dml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-12 bucket/truncate external-plane arc: an Iceberg table
    partitioned by `bucket(8, o_custkey), truncate(3, o_orderpriority)` — the
    spec's hash/truncation transforms, evaluated by the
    Appendix-B-vector-verified murmur3 in iceberg_transforms.py — runs
    DELETE -> UPDATE -> MERGE against an unpartitioned Delta twin and
    must agree row-for-row. In-query asserts pin the mechanics: the
    declared spec carries `bucket[8]`/`truncate[3]`, every live manifest
    tuple equals the driver-side py_bucket/py_truncate of its rows'
    keys, and the equality-literal DML scans are RESTRICTED to the
    literal's bucket (spied via to_df(_paths=)) — never the whole table.

    100 TB shape: bucket pruning is the point — `DELETE WHERE o_custkey
    = K` reads ~1/8 of the files on an 8-bucket layout (the candidate
    mapping is driver-side manifest arithmetic, zero data read), and the
    truncate-prefix UPDATE prunes the same way. The transforms
    themselves are one numpy-vectorized Arrow batch pass at write time,
    not per-row Python."""
    from pyspark.sql import types as T

    from lakehouses_spark.tables.delta_log import (
        DeltaLogReader,
        read_delta,
        write_delta_table,
    )
    from lakehouses_spark.tables.iceberg_meta import (
        IcebergMetadataReader,
        read_iceberg,
        write_iceberg_table,
    )
    from lakehouses_spark.tables.iceberg_transforms import (
        py_bucket,
        py_truncate,
    )

    base = load_table(spark, sf_dir, "orders").where(
        "o_orderkey <= 5000"
    ).select("o_orderkey", "o_custkey", "o_orderpriority", "o_totalprice")
    minck, mincl = base.agg(
        F.min("o_custkey"), F.min("o_orderpriority")).collect()[0]
    src = base.where("o_orderkey % 97 < 2").select(
        "o_orderkey", "o_custkey", "o_orderpriority",
        (F.col("o_totalprice") + 100000).alias("o_totalprice"),
    ).unionByName(
        # brand-new keys: guaranteed not-matched insert leg
        base.where("o_orderkey % 11 = 0").select(
            (F.col("o_orderkey") + 1000000).alias("o_orderkey"),
            "o_custkey", "o_orderpriority",
            (F.col("o_totalprice") + 100000).alias("o_totalprice"),
        )
    )
    with tempfile.TemporaryDirectory() as tmp:
        write_delta_table(spark, base, f"{tmp}/d")
        ri = write_iceberg_table(
            spark, base, f"{tmp}/i",
            partition_by=["bucket(8, o_custkey)", "truncate(3, o_orderpriority)"])
        spec = ri.meta["partition-specs"][0]
        assert [f["transform"] for f in spec["fields"]] == \
            ["bucket[8]", "truncate[3]"], spec
        # every live tuple agrees with the driver-side transform of the
        # distinct keys its file holds (checked per distinct key pair)
        expect = {
            (py_bucket(ck, T.LongType(), 8),
             py_truncate(cl, T.StringType(), 3))
            for ck, cl in base.select("o_custkey", "o_orderpriority")
            .distinct().collect()
        }
        got = {(e["data_file"]["partition"]["o_custkey_bucket"],
                e["data_file"]["partition"]["o_orderpriority_trunc"])
               for e in ri._live_data_entries()}
        assert got <= expect, (sorted(got - expect)[:5])

        # spy the candidate scans: equality DML must restrict _paths
        seen: list = []
        orig_to_df = IcebergMetadataReader.to_df

        def spy(self, *a, **kw):
            seen.append(kw.get("_paths"))
            return orig_to_df(self, *a, **kw)

        total = len(ri._live_data_entries())
        IcebergMetadataReader.to_df = spy
        try:
            res = ri.delete(f"o_custkey = {minck}")
            assert res["rewritten_files"] >= 1, res
            restricted = [c for c in seen if c is not None]
            assert restricted and all(
                len(c) < total for c in restricted), (
                [len(c) if c else None for c in seen], total)
            seen.clear()
            ri2 = IcebergMetadataReader(spark, f"{tmp}/i")
            res = ri2.update(
                {"o_totalprice": "o_totalprice * 2"},
                where=f"o_orderpriority = '{mincl}'")
            assert res["rewritten_files"] >= 1, res
            restricted = [c for c in seen if c is not None]
            assert restricted and all(
                len(c) < total for c in restricted), (
                [len(c) if c else None for c in seen], total)
        finally:
            IcebergMetadataReader.to_df = orig_to_df
        rd = DeltaLogReader(spark, f"{tmp}/d")
        rd.delete(f"o_custkey = {minck}")
        DeltaLogReader(spark, f"{tmp}/d").update(
            {"o_totalprice": "o_totalprice * 2"},
            where=f"o_orderpriority = '{mincl}'")
        ri3 = IcebergMetadataReader(spark, f"{tmp}/i")
        rd3 = DeltaLogReader(spark, f"{tmp}/d")
        for r in (ri3, rd3):
            res = r.merge(src, "t.o_orderkey = s.o_orderkey")
            assert res["inserted_rows"] > 0, res

        def agg(df):
            return (
                df.groupBy(F.substring("o_orderpriority", 1, 3).alias("prio3"))
                .agg(F.count(F.lit(1)).alias("n_orders"),
                     F.round(F.sum("o_totalprice"), 2).alias("total_price"))
                .orderBy("prio3")
            )

        out_d = agg(read_delta(spark, f"{tmp}/d")).localCheckpoint()
        out_i = agg(read_iceberg(spark, f"{tmp}/i")).localCheckpoint()
        # format parity: both write planes agree row-for-row
        assert [tuple(r) for r in out_d.collect()] == \
            [tuple(r) for r in out_i.collect()]
        return out_d


@query(
    "lake_generated_identity_dml",
    # the oracle replays the append -> UPDATE -> MERGE chain and
    # derives the identity blocks arithmetically: initial ids equal ok,
    # each allocation is a contiguous block after the watermark, so
    # min/max/sum of ids are deterministic even though WHICH row gets
    # WHICH fresh id depends on partitioning
    oracle="""
    WITH base AS (
      SELECT o_orderkey AS ok, o_totalprice AS price
      FROM orders WHERE o_orderkey <= 3000
    ), app AS (
      SELECT ok + 500000 AS ok, price + 10 AS price
      FROM base WHERE ok % 5 = 0
    ), msrc_upd AS (
      SELECT ok, price * 3 AS price FROM base WHERE ok % 13 = 0
    ), msrc_new AS (
      SELECT ok + 900000 AS ok, 42.0 AS price FROM base WHERE ok % 17 = 0
    ), t1 AS (
      SELECT ok, price FROM base UNION ALL SELECT ok, price FROM app
    ), t2 AS (
      SELECT ok, CASE WHEN ok % 7 = 0 THEN price + 1 ELSE price END
               AS price
      FROM t1
    ), t3 AS (
      SELECT t2.ok, COALESCE(u.price, t2.price) AS price
      FROM t2 LEFT JOIN msrc_upd u ON t2.ok = u.ok
      UNION ALL
      SELECT ok, price FROM msrc_new
    ), ids AS (
      SELECT (SELECT max(ok) FROM base) AS h,
             (SELECT count(*) FROM app) AS na,
             (SELECT count(*) FROM msrc_new) AS ni,
             (SELECT sum(ok) FROM base) AS s0
    )
    SELECT CAST((SELECT count(*) FROM t3) AS BIGINT) AS n_rows,
           CAST((SELECT min(ok) FROM base) AS BIGINT) AS min_id,
           CAST((SELECT h + na + ni FROM ids) AS BIGINT) AS max_id,
           CAST((SELECT s0 + na * (h + 1) + (na * (na - 1)) // 2
                        + ni * (h + na + 1) + (ni * (ni - 1)) // 2
                 FROM ids) AS BIGINT) AS sum_id,
           round(CAST((SELECT sum(price) FROM t3) AS DOUBLE), 2)
             AS total_price,
           round(CAST((SELECT sum(price * 2 + 1) FROM t3) AS DOUBLE), 2)
             AS total_g
    """,
)
def lake_generated_identity_dml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-12 generated/identity-column arc on the external Delta
    plane (PROTOCOL.md "Writer Requirements for Generated Columns" /
    "Identity Columns" — both writerFeatures previously refused when
    used): a FOREIGN table declaring `g` GENERATED AS (price * 2 + 1)
    and `id` as an identity column runs append (id allocated, g
    computed), UPDATE (g recomputed from the post-SET row), and MERGE
    (matched rows recompute g; inserted rows allocate fresh ids) — the
    high watermark riding each commit's metaData action. In-query
    asserts pin the protocol invariants: every row satisfies
    g == price*2+1, ids are globally unique, and the final watermark
    equals max(id).

    100 TB shape: identity allocation does NO global ordering shuffle —
    per-partition counts collect driver-side (O(partitions)) and a
    mapInPandas pass assigns contiguous per-partition blocks; generated
    columns evaluate as Spark expressions inside the rewrite
    projections, never per-row Python."""
    import json as _json

    from lakehouses_spark.tables.delta_log import (
        DeltaLogReader,
        read_delta,
        write_delta_table,
    )

    base = load_table(spark, sf_dir, "orders").where(
        "o_orderkey <= 3000"
    ).select(F.col("o_orderkey").alias("ok"),
             F.col("o_totalprice").alias("price"))
    h = base.agg(F.max("ok")).first()[0]
    init = base.select(
        F.col("ok").alias("id"), "ok", "price",
        (F.col("price") * 2 + 1).alias("g"))
    app = base.where("ok % 5 = 0").select(
        (F.col("ok") + 500000).alias("ok"),
        (F.col("price") + 10).alias("price"))
    msrc = base.where("ok % 13 = 0").select(
        "ok", (F.col("price") * 3).alias("price")
    ).unionByName(base.where("ok % 17 = 0").select(
        (F.col("ok") + 900000).alias("ok"),
        F.lit(42.0).alias("price")))
    with tempfile.TemporaryDirectory() as tmp:
        write_delta_table(spark, init, f"{tmp}/d")
        # foreignize commit 0: the layout a real Delta writer produces —
        # table-features protocol + generation/identity field metadata
        from pathlib import Path as _P

        c0 = _P(tmp) / "d" / "_delta_log" / f"{0:020d}.json"
        lines = []
        for line in c0.read_text().splitlines():
            a = _json.loads(line)
            if "protocol" in a:
                a["protocol"] = {
                    "minReaderVersion": 1, "minWriterVersion": 7,
                    "writerFeatures": ["generatedColumns",
                                       "identityColumns"],
                }
            if "metaData" in a:
                sj = _json.loads(a["metaData"]["schemaString"])
                for f in sj["fields"]:
                    if f["name"] == "id":
                        f["metadata"] = {
                            "delta.identity.start": 1,
                            "delta.identity.step": 1,
                            "delta.identity.highWaterMark": int(h),
                            "delta.identity.allowExplicitInsert": False,
                        }
                    if f["name"] == "g":
                        f["metadata"] = {
                            "delta.generationExpression": "price * 2 + 1"}
                a["metaData"]["schemaString"] = _json.dumps(sj)
            lines.append(_json.dumps(a))
        c0.write_text("\n".join(lines) + "\n")

        r = DeltaLogReader(spark, f"{tmp}/d")
        res = r.append(app)  # id allocated, g computed
        assert res["added_files"] >= 1, res
        r2 = DeltaLogReader(spark, f"{tmp}/d")
        res = r2.update({"price": "price + 1"}, where="ok % 7 = 0")
        assert res["rewritten_files"] >= 1, res
        r3 = DeltaLogReader(spark, f"{tmp}/d")
        res = r3.merge(msrc, "t.ok = s.ok",
                       when_matched_update={"price": "s.price"},
                       when_not_matched_insert="all")
        assert res["inserted_rows"] > 0, res

        r4 = DeltaLogReader(spark, f"{tmp}/d")
        final = read_delta(spark, f"{tmp}/d").localCheckpoint()
        # protocol invariants: generated holds on every row; ids unique;
        # the committed watermark equals max(id)
        chk = final.agg(
            F.sum(F.when(~F.col("g").eqNullSafe(
                F.col("price") * 2 + 1), 1).otherwise(0)).alias("bad_g"),
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("id").alias("nd"),
            F.max("id").alias("mx"),
        ).first()
        assert chk["bad_g"] == 0, chk
        assert chk["n"] == chk["nd"], chk
        sj = _json.loads(r4.snapshot().metadata["schemaString"])
        hwm = next(f for f in sj["fields"]
                   if f["name"] == "id")["metadata"][
            "delta.identity.highWaterMark"]
        assert int(hwm) == chk["mx"], (hwm, chk["mx"])

        return final.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("id").alias("min_id"),
            F.max("id").alias("max_id"),
            F.sum("id").alias("sum_id"),
            F.round(F.sum("price"), 2).alias("total_price"),
            F.round(F.sum("g"), 2).alias("total_g"),
        ).localCheckpoint()


@query(
    "lake_insert_overwrite",
    # relational replay: replaceWhere deletes the predicate's rows and
    # inserts the replacement frame (which must satisfy the predicate)
    oracle="""
    WITH base AS (
      SELECT o_orderkey AS ok, o_orderstatus AS st,
             o_totalprice AS price
      FROM orders WHERE o_orderkey <= 4000
    ), repl AS (
      SELECT ok, st, price * 0.5 AS price
      FROM base WHERE st = 'F' AND ok % 3 = 0
    ), t1 AS (
      SELECT ok, st, price FROM base WHERE st <> 'F'
      UNION ALL
      SELECT ok, st, price FROM repl
    )
    SELECT st,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(CAST(sum(price) AS DOUBLE), 2) AS total_price
    FROM t1 GROUP BY st ORDER BY st
    """,
)
def lake_insert_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-12 INSERT OVERWRITE arc: both external formats run the
    same replaceWhere overwrite — `st = 'F'` rows delete and a halved-
    price replacement frame (a strict subset of that slice) inserts, in
    ONE commit/snapshot per format — and must agree row-for-row. The
    Delta leg drives through the LakeSQL spelling (`INSERT INTO
    delta.`/p` REPLACE WHERE … SELECT …`); the Iceberg leg through
    `IcebergMetadataReader.overwrite`. In-query asserts pin atomicity
    (exactly one new version/snapshot) and the constraint that a
    written row outside the predicate refuses.

    100 TB shape: the replaced region plans exactly like DELETE —
    partition/stats-pruned candidate selection, affected-files-only
    rewrite; the insert is a blind partitioned write. Nothing scans the
    untouched slice."""
    from lakehouses_spark.tables.catalog import LakeCatalog
    from lakehouses_spark.tables.delta_log import (
        DeltaLogReader,
        DeltaProtocolError,
        read_delta,
        write_delta_table,
    )
    from lakehouses_spark.tables.iceberg_meta import (
        IcebergMetadataReader,
        read_iceberg,
        write_iceberg_table,
    )
    from lakehouses_spark.tables.sql import LakeSQL

    base = load_table(spark, sf_dir, "orders").where(
        "o_orderkey <= 4000"
    ).select(F.col("o_orderkey").alias("ok"),
             F.col("o_orderstatus").alias("st"),
             F.col("o_totalprice").alias("price"))
    repl = base.where("st = 'F' AND ok % 3 = 0").select(
        "ok", "st", (F.col("price") * 0.5).alias("price"))
    with tempfile.TemporaryDirectory() as tmp:
        write_delta_table(spark, base, f"{tmp}/d")
        write_iceberg_table(spark, base, f"{tmp}/i")
        # Delta via the SQL spelling
        lake = LakeSQL(LakeCatalog(spark, f"{tmp}/wh"))
        repl.createOrReplaceTempView("__ow_repl")
        lake.sql(f"INSERT INTO delta.`{tmp}/d` REPLACE WHERE st = 'F' "
                 "SELECT * FROM __ow_repl")
        rd = DeltaLogReader(spark, f"{tmp}/d")
        assert rd.snapshot().version == 1  # one atomic commit
        # Iceberg via the verb
        ri = IcebergMetadataReader(spark, f"{tmp}/i")
        n_snaps0 = len(ri.meta.get("snapshots") or [])
        res = ri.overwrite(repl, replace_where="st = 'F'")
        assert res["deleted_files"] >= 1, res
        ri2 = IcebergMetadataReader(spark, f"{tmp}/i")
        assert len(ri2.meta.get("snapshots") or []) == n_snaps0 + 1
        # a row outside the predicate refuses (both planes share the
        # replaceWhere constraint semantics)
        try:
            rd.overwrite(base.limit(1), replace_where="st = 'ZZZ'")
            raise AssertionError("replaceWhere constraint not enforced")
        except DeltaProtocolError:
            pass

        def agg(df):
            return (
                df.groupBy("st")
                .agg(F.count(F.lit(1)).alias("n_orders"),
                     F.round(F.sum("price"), 2).alias("total_price"))
                .orderBy("st")
            )

        out_d = agg(read_delta(spark, f"{tmp}/d")).localCheckpoint()
        out_i = agg(read_iceberg(spark, f"{tmp}/i")).localCheckpoint()
        assert [tuple(r) for r in out_d.collect()] == \
            [tuple(r) for r in out_i.collect()]
        return out_d
