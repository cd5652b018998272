"""Streaming materialized view: source-table appends flow through the
windowed aggregation into the gold MERGE target; re-running maintains rather
than duplicates; gold equals the batch aggregate at every step."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from lakehouses_spark.io import load_table
from lakehouses_spark.streaming.materialized import start_rollup_view
from lakehouses_spark.streaming.windows import tumbling_window_agg
from lakehouses_spark.tables import LakeTable
from lakehouses_spark.tables import log as txlog

SF = "/root/testdata/sf0.001"


def _norm(df):
    return sorted(
        (str(r.window_start), r.event_type, r.n_events, r.total_value)
        for r in df.collect()
    )


@pytest.fixture
def bronze(spark, tmp_path):
    events = load_table(spark, SF, "events")
    first_day = events.where(F.dayofmonth("ts") == 1)
    return LakeTable.create(spark, tmp_path / "bronze", first_day), events


def test_rollup_view_maintains_gold(spark, tmp_path, bronze):
    table, events = bronze
    gold_path = tmp_path / "gold"
    ckpt = tmp_path / "ckpt"

    q = start_rollup_view(spark, table.path, gold_path, ckpt)
    q.awaitTermination()
    gold = LakeTable(spark, gold_path)
    want = tumbling_window_agg(table.read())
    assert _norm(gold.read()) == _norm(want)

    # late/new data lands in bronze → resumed view updates only those windows
    table.append(events.where(F.dayofmonth("ts") == 2))
    q = start_rollup_view(spark, table.path, gold_path, ckpt)
    q.awaitTermination()
    want2 = tumbling_window_agg(table.read())
    assert _norm(gold.read()) == _norm(want2)
    # the view MERGEd new windows rather than rewriting the world
    ops = [r.operation for r in gold.history().collect()]
    assert ops.count("MERGE") >= 2

    # idle re-run: no new commits beyond the checkpoint replay guard
    v = gold.version
    q = start_rollup_view(spark, table.path, gold_path, ckpt)
    q.awaitTermination()
    assert gold.version == v  # nothing new to process → no commits


def test_rollup_view_replay_after_checkpoint_loss_is_idempotent(
    spark, tmp_path, bronze
):
    """Exactly-once under the worst replay: the stream checkpoint is lost
    entirely, so a restarted view reprocesses the source from offset zero
    and re-presents batch 0 — the (app_id, batch_id) transaction guard must
    skip the already-applied MERGE rather than double-apply it."""
    import shutil

    table, _ = bronze
    gold_path = tmp_path / "gold"
    ckpt = tmp_path / "ckpt"

    q = start_rollup_view(spark, table.path, gold_path, ckpt)
    q.awaitTermination()
    gold = LakeTable(spark, gold_path)
    v = gold.version
    before = _norm(gold.read())

    shutil.rmtree(ckpt)  # simulate losing the streaming checkpoint
    q = start_rollup_view(spark, table.path, gold_path, ckpt)
    q.awaitTermination()
    assert gold.version == v, "replayed batch must not commit again"
    assert _norm(gold.read()) == before


def test_apply_changes_replay_after_checkpoint_loss_is_idempotent(
    spark, tmp_path
):
    """Streaming APPLY CHANGES (streaming/cdc.py): same worst-case replay
    as the rollup view — checkpoint wiped, source replayed from offset
    zero — the (app_id, batch_id) guard must skip the already-applied
    delete/upsert merges, leaving both version chain and state identical."""
    import shutil

    from pyspark.sql import Window

    from lakehouses_spark.streaming.cdc import start_apply_changes

    events = load_table(spark, SF, "events").select(
        "user_id", "event_id", "ts", "value", "event_type"
    )
    feed = LakeTable.create(spark, tmp_path / "feed", events)
    state_path = tmp_path / "state"
    ckpt = tmp_path / "ckpt"

    q = start_apply_changes(spark, feed.path, state_path, ckpt)
    q.awaitTermination()
    state = LakeTable(spark, state_path)
    v = state.version
    before = sorted((r.user_id, r.value) for r in state.read().collect())
    assert before, "state table should have settled keys"
    # delete semantics: users whose last change is an error are absent
    last = events.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("user_id").orderBy(
                F.col("ts").desc(), F.col("event_id").desc()
            )
        ),
    ).where("rn = 1")
    deleted = {r.user_id for r in last.where("event_type = 'error'").collect()}
    assert deleted and not ({u for u, _ in before} & deleted)

    shutil.rmtree(ckpt)  # lose the streaming checkpoint entirely
    q = start_apply_changes(spark, feed.path, state_path, ckpt)
    q.awaitTermination()
    assert state.version == v, "replayed batch must not commit again"
    assert sorted((r.user_id, r.value) for r in state.read().collect()) == before


# --------------------------------------------------------------------------- #
# streaming APPLY CHANGES over the commit-file stream (tens-of-rows tables)
# --------------------------------------------------------------------------- #
CHANGES_SCHEMA = "user_id long, event_id long, ts timestamp, value double, event_type string"


def _changes(spark, first_event: int, n: int):
    """n change rows over 6 users; every 4th row is a delete ('error')."""
    from datetime import datetime, timedelta

    t0 = datetime(2024, 1, 1)
    rows = [
        (e % 6, e, t0 + timedelta(minutes=e), float(e),
         "error" if e % 4 == 3 else "click")
        for e in range(first_event, first_event + n)
    ]
    return spark.createDataFrame(rows, CHANGES_SCHEMA)


def _lww(df):
    """Last-writer-wins state of a change frame, replayed in plain Python."""
    state: dict[int, float] = {}
    for r in sorted(df.collect(), key=lambda r: (r.ts, r.event_id)):
        if r.event_type == "error":
            state.pop(r.user_id, None)
        else:
            state[r.user_id] = r.value
    return state


def _drain_changes(spark, bronze, tmp_path):
    from lakehouses_spark.streaming.cdc import start_apply_changes

    q = start_apply_changes(spark, bronze.path, tmp_path / "silver", tmp_path / "ckpt")
    q.awaitTermination()
    return q


def _silver(spark, tmp_path):
    return {r.user_id: r.value for r in LakeTable(spark, tmp_path / "silver").read().collect()}


def test_apply_changes_streams_commit_files_natively(spark, tmp_path):
    """The drain's source is Spark's own file stream over the commit files,
    not a Python data source; resumed drains apply exactly the new commits,
    and each MERGE folds the files it rewrites, so silver does not gain a
    file per batch."""
    bronze = LakeTable.create(spark, tmp_path / "bronze", _changes(spark, 0, 20))
    q = _drain_changes(spark, bronze, tmp_path)
    assert q.lastProgress.sources[0].description.startswith("FileStreamSource")
    for first in (20, 40):
        bronze.append(_changes(spark, first, 10))
        bronze.append(_changes(spark, first + 10, 10))
        _drain_changes(spark, bronze, tmp_path)
    assert _silver(spark, tmp_path) == _lww(bronze.read())
    assert len(LakeTable(spark, tmp_path / "silver").state().files) <= 2


def test_apply_changes_replay_guard_runs_before_any_read(spark, tmp_path):
    """Checkpoint lost: the re-presented batch 0 is skipped by the (app_id,
    batch_id) guard before it reads anything — the stateless file source
    needs no consumption, so the replayed drain runs no Spark job."""
    import shutil

    bronze = LakeTable.create(spark, tmp_path / "bronze", _changes(spark, 0, 20))
    _drain_changes(spark, bronze, tmp_path)
    silver_v = LakeTable(spark, tmp_path / "silver").version
    shutil.rmtree(tmp_path / "ckpt")
    q = _drain_changes(spark, bronze, tmp_path)
    assert q.lastProgress.batchId == 0
    assert spark.sparkContext.statusTracker().getJobIdsForGroup(str(q.runId)) == []
    assert LakeTable(spark, tmp_path / "silver").version == silver_v


@pytest.mark.parametrize("verb", ["delete", "optimize"])
def test_apply_changes_fails_on_breaking_bronze_commit(spark, tmp_path, verb):
    """A commit after the first drain that removes or tombstones bronze rows
    breaks the append-only contract: the next drain fails with the
    ignoreChanges message and commits nothing to silver."""
    bronze = LakeTable.create(spark, tmp_path / "bronze", _changes(spark, 0, 10))
    bronze.append(_changes(spark, 10, 10))
    _drain_changes(spark, bronze, tmp_path)
    silver_v = LakeTable(spark, tmp_path / "silver").version
    if verb == "delete":
        bronze.delete("user_id = 1")
    else:
        bronze.optimize()
    with pytest.raises(Exception, match="ignoreChanges"):
        _drain_changes(spark, bronze, tmp_path)
    assert LakeTable(spark, tmp_path / "silver").version == silver_v


@pytest.mark.parametrize("upkeep", ["optimize", "cleanup_log"])
def test_apply_changes_first_drain_reads_snapshot(spark, tmp_path, upkeep):
    """Bronze compacted (a remove in its history) or log-truncated (its
    early commit files gone) before the first drain: batch 0 reads the
    snapshot, so the drain still lands the last-writer-wins state."""
    bronze = LakeTable.create(spark, tmp_path / "bronze", _changes(spark, 0, 4))
    for i in range(1, 11):  # v10 is a log checkpoint
        bronze.append(_changes(spark, 4 * i, 4))
    if upkeep == "optimize":
        bronze.optimize()
    else:
        assert bronze.cleanup_log(keep_versions=1)
        assert txlog.list_versions(bronze.path) == [10]
    _drain_changes(spark, bronze, tmp_path)
    assert _silver(spark, tmp_path) == _lww(bronze.read())


def test_apply_changes_fails_on_data_loss(spark, tmp_path):
    """cleanup_log deleted bronze commits the stream had not read yet: the
    next drain fails with a data-loss error before any write (like Delta's
    failOnDataLoss) instead of silently skipping their changes."""
    bronze = LakeTable.create(spark, tmp_path / "bronze", _changes(spark, 0, 2))
    _drain_changes(spark, bronze, tmp_path)
    silver_v = LakeTable(spark, tmp_path / "silver").version
    for i in range(1, 12):  # v10 is a log checkpoint
        bronze.append(_changes(spark, 2 * i, 2))
    assert bronze.cleanup_log(keep_versions=1) == list(range(10))
    with pytest.raises(Exception, match="data loss"):
        _drain_changes(spark, bronze, tmp_path)
    assert LakeTable(spark, tmp_path / "silver").version == silver_v


def test_apply_changes_rejects_python_source_checkpoint(spark, tmp_path):
    """A checkpoint written by the earlier drain over the `laketable` Python
    source holds {"version": N} offsets, which the commit-file stream cannot
    read: resuming on it fails loudly and commits nothing to silver."""
    from lakehouses_spark.tables.stream_source import LakeTableDataSource

    bronze = LakeTable.create(spark, tmp_path / "bronze", _changes(spark, 0, 10))
    spark.dataSource.register(LakeTableDataSource)
    old = (
        spark.readStream.format("laketable").schema(bronze.schema())
        .option("path", str(bronze.path)).load()
        .writeStream.foreachBatch(lambda df, batch_id: None)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    old.awaitTermination()
    bronze.append(_changes(spark, 10, 10))
    with pytest.raises(Exception, match="logOffset"):
        _drain_changes(spark, bronze, tmp_path)
    assert txlog.list_versions(tmp_path / "silver") == []
