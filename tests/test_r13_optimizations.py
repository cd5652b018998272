"""Round-13 optimization pins: the structural properties each r13 change
established, so a later refactor can't silently reintroduce the waste.

- Conditional MERGE clauses (WHEN MATCHED AND <cond> THEN DELETE /
  WHEN NOT MATCHED AND <cond> THEN INSERT): one fused merge must equal the
  delete-merge + upsert-merge pair it replaced, for every row class
  (matched-deleted, matched-updated, unmatched-inserted, unmatched-delete-
  flagged, untouched), including multi-match delete-only sources and CDF
  change images.
- txn_app/txn_version ride the MERGE commit itself (no separate
  bookkeeping commit per streaming micro-batch).
- Streaming foreachBatch writes are AQE-coalesced: the session clone
  foreachBatch hands sinks has spark.sql.adaptive.enabled=false, which
  used to fan every tiny commit into shuffle.partitions near-empty files.
- Single-scan MOR/DV DML (VERDICT r12 #1): DV DELETE runs exactly one
  data-reading Spark job; DV UPDATE runs one candidate scan feeding both
  the bitmaps and the new images.
- sim_ann_drift_recall golden metrics at sf0.01 (VERDICT r12 #4).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from lakehouses_spark.io import load_table
from lakehouses_spark.tables import LakeTable

SF = "/root/testdata/sf0.01"


def _mk(spark, tmp_path, rows, name="t", props=None):
    df = spark.createDataFrame(rows, "k int, v string, grp string")
    return LakeTable.create(spark, tmp_path / name, df)


BASE = [(1, "a", "keep"), (2, "b", "kill"), (3, "c", "keep"), (4, "d", "keep")]
# source: k=2 delete (matched), k=3 update (matched), k=5 insert (unmatched),
# k=6 delete-flagged but unmatched (must NOT insert)
SRC = [(2, "x", True), (3, "c2", False), (5, "e", False), (6, "zz", True)]


def _src(spark):
    return spark.createDataFrame(SRC, "k int, v string, __del boolean")


def test_conditional_merge_equals_two_merge_sequence(spark, tmp_path):
    """The fused conditional merge must produce exactly the state the
    delete-merge + upsert-merge pair produced."""
    t1 = _mk(spark, tmp_path, BASE, "fused")
    t1.merge(
        _src(spark).withColumn("grp", F.lit("s")),
        "t.k = s.k",
        when_matched_delete="s.__del",
        when_not_matched_insert_condition="NOT __del",
        source_unique_on_key=True,
    )
    t2 = _mk(spark, tmp_path, BASE, "pair")
    src = _src(spark).withColumn("grp", F.lit("s"))
    t2.merge(src.where("__del").select("k"), "t.k = s.k",
             when_matched_update=None, when_not_matched_insert=None,
             when_matched_delete=True)
    t2.merge(src.where("NOT __del").drop("__del"), "t.k = s.k")
    got = sorted((r.k, r.v, r.grp) for r in t1.read().collect())
    want = sorted((r.k, r.v, r.grp) for r in t2.read().collect())
    assert got == want
    assert got == [(1, "a", "keep"), (3, "c2", "s"), (4, "d", "keep"),
                   (5, "e", "s")]


def test_conditional_merge_null_condition_keeps_row(spark, tmp_path):
    """TRUE-only delete semantics: a NULL condition on a matched row keeps
    it (and the update clause applies), matching Delta's clause
    evaluation."""
    t = _mk(spark, tmp_path, BASE, "nullc")
    src = spark.createDataFrame(
        [(2, "x", None), (3, "c2", True)],
        "k int, v string, __del boolean",
    ).withColumn("grp", F.lit("s"))
    t.merge(src, "t.k = s.k", when_matched_delete="s.__del",
            when_not_matched_insert_condition="NOT __del",
            source_unique_on_key=True)
    got = sorted((r.k, r.v) for r in t.read().collect())
    # k=2: NULL condition -> kept and updated; k=3: deleted
    assert got == [(1, "a"), (2, "x"), (4, "d")]


def test_conditional_delete_only_multimatch_source(spark, tmp_path):
    """Delete-only conditional clause with SEVERAL source rows matching one
    target row: the target row must be deleted once and never duplicated
    (the clause anti-joins on cond AND dcond rather than left-join+filter)."""
    t = _mk(spark, tmp_path, BASE, "multi")
    src = spark.createDataFrame(
        [(2, True), (2, False), (3, False), (3, None)],
        "k int, __del boolean",
    )
    t.merge(src, "t.k = s.k", when_matched_update=None,
            when_not_matched_insert=None, when_matched_delete="s.__del")
    got = sorted(r.k for r in t.read().collect())
    assert got == [1, 3, 4]  # k=2 deleted once; k=3 kept (no TRUE match)


def test_conditional_merge_cdf_images(spark, tmp_path):
    """CDF change images under conditional clauses: deleted matched rows
    record `delete`, surviving matched rows record update pre/post, gated
    inserts record `insert` for the inserted rows only."""
    from lakehouses_spark.tables.table import CDF_PROPERTY

    t = _mk(spark, tmp_path, BASE, "cdf")
    t.set_properties({CDF_PROPERTY: "true"})
    t.merge(
        _src(spark).withColumn("grp", F.lit("s")),
        "t.k = s.k",
        when_matched_delete="s.__del",
        when_not_matched_insert_condition="NOT __del",
        source_unique_on_key=True,
    )
    ch = t.table_changes(t.version, t.version)
    got = sorted((r.k, r["_change_type"]) for r in ch.collect())
    assert got == [
        (2, "delete"),
        (3, "update_postimage"), (3, "update_preimage"),
        (5, "insert"),
    ]


def test_merge_txn_stamp_rides_merge_commit(spark, tmp_path):
    """txn_app/txn_version on merge(): last_txn_version() reads the stamp
    from the MERGE commit itself — exactly-once guards need no separate
    bookkeeping commit per micro-batch."""
    t = _mk(spark, tmp_path, BASE, "txn")
    v0 = t.version
    t.merge(_src(spark).where("NOT __del").drop("__del")
            .withColumn("grp", F.lit("s")),
            "t.k = s.k", txn_app="app1", txn_version=7,
            source_unique_on_key=True)
    assert t.version == v0 + 1  # ONE commit, not merge+stamp
    assert t.last_txn_version("app1") == 7
    ops = [r.operation for r in t.history().collect()]
    assert ops.count("MERGE") == 1


def test_merge_multimatch_check_still_raises_without_assertion(spark, tmp_path):
    """source_unique_on_key=False (default) keeps Delta's multiple-match
    error on update merges."""
    from lakehouses_spark.tables.table import MergeMultipleMatchesError

    t = _mk(spark, tmp_path, BASE, "dup")
    src = spark.createDataFrame(
        [(2, "x"), (2, "y")], "k int, v string"
    ).withColumn("grp", F.lit("s"))
    with pytest.raises(MergeMultipleMatchesError):
        t.merge(src, "t.k = s.k")


def test_foreachbatch_write_is_aqe_coalesced(spark, tmp_path):
    """foreachBatch hands sinks a session clone with AQE disabled; the
    table write path must still coalesce its shuffle, not fan every tiny
    commit into shuffle.partitions near-empty files."""
    import glob

    events = load_table(spark, SF, "events").limit(2000)
    bronze = LakeTable.create(spark, tmp_path / "bronze", events)
    gold_files = {}

    def body(bdf, bid):
        # the aggregation shuffles inside the clone (AQE off): without the
        # write-scoped AQE re-enable this CTAS fans into shuffle.partitions
        # near-empty files
        agg = bdf.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("total"),
        )
        LakeTable.create(spark, tmp_path / "gold", agg)
        gold_files[bid] = len(glob.glob(str(tmp_path / "gold/data/*/*.parquet")))

    from lakehouses_spark.tables.stream_source import LakeTableDataSource

    spark.dataSource.register(LakeTableDataSource)
    q = (
        spark.readStream.format("laketable")
        .schema(bronze.schema())
        .option("path", str(bronze.path))
        .load()
        .writeStream.foreachBatch(body)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # the merge writes a handful of aggregated rows: AQE must coalesce the
    # write to a small file count, not the session's shuffle.partitions
    assert 0 in gold_files and gold_files[0] <= 2, gold_files


def test_sim_ann_drift_recall_golden_values_sf001(spark):
    """VERDICT r12 #4: sim_ann_drift_recall is rows-only for the driver
    (no SQL oracle), and r12 restructured 104 lines of it on a bit-identical
    claim with no pin. These are the exact sf0.01 metric values of the
    shipped implementation — any future restructure that moves recall,
    postings cost, or the concentration trigger fails loudly here."""
    from lakehouses_spark.queries.similarity import sim_ann_drift_recall

    got = [tuple(r) for r in sim_ann_drift_recall(spark, SF).collect()]
    assert got == [
        (1, 625, 1.0, 1.0, 97.88, 94.6, 0.16, 0.392, True),
        (2, 750, 1.0, 1.0, 145.36, 91.04, 0.16, 0.6, True),
        (3, 875, 1.0, 1.0, 139.04, 100.88, 0.16, 0.456, True),
    ]


def _count_scans(monkeypatch, cls):
    """Count invocations of the candidate-data scan builder (`to_df`) —
    the structural form of the single-pass MOR/DV DML claim: the verb
    builds ONE scan over candidate data (feeding both the affected-file
    set and the bitmaps/images), never a separate planning scan."""
    calls = {"n": 0}
    orig = cls.to_df

    def counting(self, *a, **k):
        calls["n"] += 1
        return orig(self, *a, **k)

    monkeypatch.setattr(cls, "to_df", counting)
    return calls


def test_dv_delete_update_single_candidate_scan(spark, tmp_path, monkeypatch):
    """VERDICT r12 #1 pin: Delta DV DELETE and UPDATE build exactly one
    scan over candidate data files per verb (the r12 snapshot commit's
    one-pass restructure, previously unattested)."""
    from lakehouses_spark.tables.delta_log import (
        DeltaLogReader,
        write_delta_table,
    )

    base = load_table(spark, SF, "orders").where("o_orderkey <= 2000").select(
        "o_orderkey", "o_orderstatus", "o_totalprice")
    rd = write_delta_table(
        spark, base, tmp_path / "d",
        properties={"delta.enableDeletionVectors": "true"})
    calls = _count_scans(monkeypatch, DeltaLogReader)
    res = rd.delete("o_orderstatus = 'F' AND o_totalprice < 100000")
    assert res["rewritten_files"] == 0 and res["dv_files"] > 0
    assert calls["n"] == 1, f"DV DELETE built {calls['n']} candidate scans"
    rd2 = DeltaLogReader(spark, tmp_path / "d")
    calls["n"] = 0
    res = rd2.update({"o_totalprice": "o_totalprice * 2"},
                     where="o_orderstatus = 'P'")
    assert res["rewritten_files"] == 0 and res["updated_rows"] > 0
    assert calls["n"] == 1, f"DV UPDATE built {calls['n']} candidate scans"


def test_iceberg_mor_delete_update_single_candidate_scan(
    spark, tmp_path, monkeypatch
):
    """Same pin for the Iceberg merge-on-read verbs (position deletes)."""
    from lakehouses_spark.tables.iceberg_meta import (
        IcebergMetadataReader,
        write_iceberg_table,
    )

    base = load_table(spark, SF, "orders").where("o_orderkey <= 2000").select(
        "o_orderkey", "o_orderstatus", "o_totalprice")
    ri = write_iceberg_table(
        spark, base, tmp_path / "i",
        properties={"write.delete.mode": "merge-on-read",
                    "write.update.mode": "merge-on-read"})
    calls = _count_scans(monkeypatch, IcebergMetadataReader)
    res = ri.delete("o_orderstatus = 'F' AND o_totalprice < 100000")
    assert res["rewritten_files"] == 0
    assert calls["n"] == 1, f"MOR DELETE built {calls['n']} candidate scans"
    ri2 = IcebergMetadataReader(spark, tmp_path / "i")
    calls["n"] = 0
    res = ri2.update({"o_totalprice": "o_totalprice * 2"},
                     where="o_orderstatus = 'P'")
    assert res["rewritten_files"] == 0 and res["updated_rows"] > 0
    assert calls["n"] == 1, f"MOR UPDATE built {calls['n']} candidate scans"


# -------------------------------------------------------------------------
# MERGE planning shared by the three write planes: the source is evaluated
# once, and one bounded pass finds the affected files and multiple matches
# -------------------------------------------------------------------------
PLANES = ["lake", "delta", "iceberg"]
TARGET = [(k, f"v{k}") for k in range(20)]


def _plane_table(spark, plane, path, df=None):
    from lakehouses_spark.tables.delta_log import write_delta_table
    from lakehouses_spark.tables.iceberg_meta import write_iceberg_table

    if df is None:
        df = spark.createDataFrame(TARGET, "k long, v string")
    if plane == "lake":
        return LakeTable.create(spark, path, df)
    if plane == "delta":
        return write_delta_table(spark, df, path)
    return write_iceberg_table(spark, df, path)


def _plane_state(spark, plane, path):
    """(version, sorted rows) of a plane's table, read by a fresh handle."""
    from lakehouses_spark.tables.delta_log import DeltaLogReader
    from lakehouses_spark.tables.iceberg_meta import IcebergMetadataReader

    if plane == "lake":
        t = LakeTable(spark, path)
        version, df = t.version, t.read()
    elif plane == "delta":
        t = DeltaLogReader(spark, path)
        version, df = t.versions()[-1], t.to_df()
    else:
        t = IcebergMetadataReader(spark, path)
        version, df = t.meta["current-snapshot-id"], t.to_df()
    return version, sorted(tuple(r) for r in df.collect())


def _stored_rdds(spark):
    return {i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}


def _job_names(spark, fn):
    """Names (call sites) of the Spark jobs ``fn`` runs."""
    sc = spark.sparkContext
    sc.setJobGroup("merge-under-test", "merge-under-test")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    return [store.job(j).name()
            for j in sc.statusTracker().getJobIdsForGroup("merge-under-test")]


@pytest.mark.parametrize("plane", PLANES)
def test_merge_evaluates_its_source_once(spark, tmp_path, plane):
    """A source that is not already data is materialized once: its merge
    key comes from a Python UDF that counts the rows it sees, and after the
    MERGE the count equals the source's row count (every leg — affected
    files, rewrite, insert anti-join — reads the one evaluation). The
    blocks the MERGE materialized are released when it returns."""
    from pyspark.sql.types import LongType

    path = tmp_path / plane
    t = _plane_table(spark, plane, path)
    seen = spark.sparkContext.accumulator(0)

    def key(k):
        seen.add(1)
        return k

    rows = [(k, f"s{k}") for k in range(15, 25)]
    src = spark.createDataFrame(rows, "k0 long, v string").select(
        F.udf(key, LongType())("k0").alias("k"), "v")
    stored = _stored_rdds(spark)
    t.merge(src, "t.k = s.k")
    assert seen.value == len(rows)
    assert _stored_rdds(spark) <= stored
    assert _plane_state(spark, plane, path)[1] == sorted(TARGET[:15] + rows)


@pytest.mark.parametrize("plane", PLANES)
def test_merge_passes_a_checkpointed_source_through(spark, tmp_path, plane):
    """A caller's checkpointed, hinted source is already data: the MERGE
    runs no localCheckpoint job, and the caller's checkpoint stays
    readable after it."""
    path = tmp_path / plane
    t = _plane_table(spark, plane, path)
    rows = [(k, f"s{k}") for k in range(15, 25)]
    src = spark.createDataFrame(rows, "k long, v string").localCheckpoint()
    stored = _stored_rdds(spark)
    names = _job_names(
        spark, lambda: t.merge(src.hint("shuffle_hash"), "t.k = s.k"))
    assert names and not [n for n in names if n.startswith("localCheckpoint")]
    assert sorted(tuple(r) for r in src.collect()) == rows
    assert _stored_rdds(spark) <= stored
    assert _plane_state(spark, plane, path)[1] == sorted(TARGET[:15] + rows)


@pytest.mark.parametrize("plane", PLANES)
def test_multimatch_merge_raises_before_writing(spark, tmp_path, plane):
    """The multiple-match check rides the affected-file pass and still
    raises before anything is written: the table version is unchanged
    and no new file is on disk."""
    from lakehouses_spark.tables.delta_log import DeltaProtocolError
    from lakehouses_spark.tables.iceberg_meta import IcebergFormatError
    from lakehouses_spark.tables.table import MergeMultipleMatchesError

    path = tmp_path / plane
    t = _plane_table(spark, plane, path)
    before = _plane_state(spark, plane, path)
    files = set(path.rglob("*"))
    dup = spark.createDataFrame(
        [(3, "x"), (3, "y"), (30, "new")], "k long, v string")
    err = {"lake": MergeMultipleMatchesError, "delta": DeltaProtocolError,
           "iceberg": IcebergFormatError}[plane]
    with pytest.raises(err, match="multiple source rows"):
        t.merge(dup, "t.k = s.k")
    assert _plane_state(spark, plane, path) == before
    assert set(path.rglob("*")) == files


def test_multimatch_on_a_deleted_row_does_not_raise(spark, tmp_path):
    """The folded check counts live target rows only: several source rows
    matching a row a merge-on-read DELETE already removed insert, they do
    not raise."""
    t = _plane_table(spark, "lake", tmp_path / "lake")
    t.delete("k = 3", lazy=True)
    t.merge(spark.createDataFrame([(3, "x"), (3, "x")], "k long, v string"),
            "t.k = s.k")
    rows = _plane_state(spark, "lake", tmp_path / "lake")[1]
    assert [r for r in rows if r[0] == 3] == [(3, "x"), (3, "x")]


# -------------------------------------------------------------------------
# MERGE clauses shared by the three write planes (`merge_clauses`)
# -------------------------------------------------------------------------
@pytest.mark.parametrize("plane", PLANES)
def test_evolving_merge_with_a_dict_update(spark, tmp_path, plane):
    """A schema-evolving MERGE whose SET clause omits the new column:
    matched and untouched target rows read NULL in it, inserted rows take
    the source's value — the same rows on every plane (the target is
    widened before the clauses apply)."""
    path = tmp_path / plane
    t = _plane_table(spark, plane, path)
    src = spark.createDataFrame(
        [(k, f"s{k}", f"w{k}") for k in range(15, 25)],
        "k long, v string, w string")
    evolve = {"merge_schema": True} if plane == "lake" else {
        "schema_evolution": True}
    t.merge(src, "t.k = s.k", when_matched_update={"v": "s.v"}, **evolve)
    assert _plane_state(spark, plane, path)[1] == sorted(
        [(k, f"v{k}", None) for k in range(15)]
        + [(k, f"s{k}", None) for k in range(15, 20)]
        + [(k, f"s{k}", f"w{k}") for k in range(20, 25)])


@pytest.mark.parametrize("plane", PLANES)
@pytest.mark.parametrize("table_ddl, source_ddl, keys", [
    # INSERT * from a narrower source, no key matching: inserts cast up
    ("k long, v long", "k int, v int", range(100, 105)),
    # UPDATE * from a wider source, every key matching: values cast down
    ("k long, v int", "k long, v long", range(5)),
], ids=["insert_narrower", "update_wider"])
def test_merge_writes_the_table_types(spark, tmp_path, plane, table_ddl,
                                      source_ddl, keys):
    """The data files a MERGE writes carry the table's column types
    whatever the source's types, and the table reads back."""
    import pyarrow.parquet as pq

    path = tmp_path / plane
    t = _plane_table(spark, plane, path, spark.createDataFrame(
        [(k, k) for k in range(10)], table_ddl))
    before = set(path.rglob("*.parquet"))
    t.merge(spark.createDataFrame([(k, -k) for k in keys], source_ddl),
            "t.k = s.k")
    written = [f for f in set(path.rglob("*.parquet")) - before
               if "_change_data" not in f.parts]
    want = {"long": "int64", "int": "int32"}
    assert written
    for f in written:
        footer = pq.read_schema(f)
        assert [str(footer.field(c).type) for c in ("k", "v")] == [
            want[d.split()[1]] for d in table_ddl.split(", ")]
    rows = {k: k for k in range(10)} | {k: -k for k in keys}
    assert _plane_state(spark, plane, path)[1] == sorted(rows.items())
