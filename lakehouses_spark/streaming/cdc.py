"""Streaming APPLY CHANGES INTO — the DLT/Delta CDC pattern as a
continuously-maintained current-state table, composed from the engine's own
pieces (the streaming sibling of the batch `lake_cdc_apply` query):

    Spark's native file stream over the source table's commit files
    (<table>/_tx_log/NNNNNNNNNN.json: the log IS the changelog; the
    stream's offset is the set of commit files seen, tracked exactly-once
    by the file source, with no Python process)
      → driver-side planning from those commits (plan_batch_files, the
        rules the `laketable` stream source applies too): batch 0 reads
        the snapshot at its highest version, later batches the files
        added by exactly their commits; a commit that removes or
        tombstones rows fails the stream (ignoreChanges message)
      → a native parquet read of the planned files (LakeTable._snapshot)
      → per-micro-batch LAST-change collapse per key (one window over the
        batch — batch-sized, never table-sized)
      → ONE conditional MERGE into the state LakeTable (r13): keys whose
        terminal op matches ``delete_when`` tombstone via the
        WHEN MATCHED AND <del> THEN DELETE clause, the rest update-or-insert
        — one affected-file scan / write / commit per batch
      → (app_id, batch_id) idempotency guard, riding the MERGE commit
        itself → exactly-once across restarts and replayed micro-batches;
        beside it the highest source version the batch consumed, so a later
        batch whose first commit is not the next version (its predecessors
        deleted by ``cleanup_log`` before the stream read them) fails with
        a data-loss error before any write, like Delta's failOnDataLoss

Why not the `laketable` Python data source: each stream start spawns a
Python planner worker that imports pyspark from a zip without bytecode
(~1.4 s), and every row crosses Arrow through Python workers. The stateful
`start_rollup_view` still pays that runner per start — its watermarked
aggregation needs a row stream, which the commit-file stream is not.

Checkpoint compatibility: a checkpoint written by the earlier Python-source
drain (offsets ``{"version": N}``) cannot resume this stream — Spark fails
the query on start (``No usable value for logOffset``) before any batch
runs, so nothing is committed to the state table. A fresh checkpoint alone
is not a migration either: its batch ids restart at 0, and the (app_id,
batch_id) guard would skip every batch id the old drain already applied.
Drop the checkpoint AND the state table; batch 0 then rebuilds the state
from the source snapshot.

Sequencing contract: micro-batches arrive in FEED ORDER (a later batch only
ever holds later commits), so within-batch collapse plus latest-batch-wins
merging equals global last-writer-wins — the same assumption DLT's APPLY
CHANGES makes of its source. An out-of-order feed would need a
sequence-guarded merge (only overwrite when s.seq ≥ t.seq); that variant
trades one extra predicate in the join condition, not a different plan
shape.

At 100 TB every stage is bounded: one collect of the trigger's commit
versions, source partitions per added file, the collapse window runs on
the micro-batch only, and each MERGE rewrites just the files containing
touched keys (stats-pruned, bounded collect).
Reference analog: the continuous upsert step of the medallion silver layer
(notebooks/04.delta_lake/02.delta_lake_primer.py:312-320 MERGE, driven by
the incremental ingestion loop of 02.ingestas_ficheros/03.ingesta_
incremental_v2 [json].py:211-235).
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType

from lakehouses_spark.tables import LakeTable
from lakehouses_spark.tables import log as txlog
from lakehouses_spark.tables.stream_source import plan_batch_files


def start_apply_changes(
    spark: SparkSession,
    source_table: str | Path,
    state_path: str | Path,
    checkpoint: str | Path,
    keys: tuple[str, ...] = ("user_id",),
    seq_cols: tuple[str, ...] = ("ts", "event_id"),
    delete_when: str = "event_type = 'error'",
    carry_cols: tuple[str, ...] = ("value", "ts"),
    trigger: dict | None = None,
) -> StreamingQuery:
    """Start (or resume) the APPLY CHANGES stream. Returns the query."""
    source = LakeTable(spark, source_table)
    state_path = Path(state_path)
    app_id = f"apply_changes:{state_path.name}"
    on = " AND ".join(f"t.{k} = s.{k}" for k in keys)
    w = Window.partitionBy(*keys).orderBy(*[F.col(c).desc() for c in seq_cols])

    # the stream is the source's commit files themselves: the glob admits
    # NNNNNNNNNN.json only (checkpoint-*.json fails it, in-flight .tmp-*
    # files are hidden, and try_commit publishes a commit by one os.link)
    commits = (
        spark.readStream.schema("version LONG")
        .option("pathGlobFilter", "[0-9]*.json")
        .json(str(txlog.log_dir(source.path)))
    )

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        state = LakeTable(spark, state_path)
        last = state.last_txn(app_id)
        if batch_id <= int(last.get("txn_version", -1)):
            # replayed micro-batch: already applied. The file source keeps
            # no state a skipped batch must advance, so nothing is read.
            return
        # one job over this trigger's commit files (bounded by commits per
        # trigger, not by rows); the data files are planned from the log
        versions = [r.version for r in batch_df.collect()]
        consumed = last.get("txn_source_version")
        if consumed is not None and min(versions) != consumed + 1:
            # the commits in between were deleted (cleanup_log) before the
            # stream read them: fail before any write, like Delta's
            # failOnDataLoss, instead of silently skipping their changes
            raise RuntimeError(
                f"data loss: this batch starts at source version "
                f"{min(versions)}, but the stream last consumed version "
                f"{consumed}; the commits in between were removed before it "
                "read them. Drop the checkpoint and the state table to "
                "rebuild the state from the source snapshot"
            )
        rels = plan_batch_files(source.path, versions, snapshot=batch_id == 0)
        st = txlog.replay(source.path, version=max(versions))
        changes = source._snapshot(st, [str(source.path / rel) for rel in rels])
        if not txlog.list_versions(state_path):
            by_name = {f.name: f for f in changes.schema.fields}
            fields = [by_name[c] for c in (*keys, *carry_cols)]
            LakeTable.create(
                spark, state_path,
                spark.createDataFrame([], StructType(fields)),
            )
        # ONE conditional MERGE per micro-batch (r13): the terminal row set
        # carries a precomputed delete flag; keys whose terminal op matches
        # ``delete_when`` delete, the rest update-or-insert. One affected-
        # file scan + one write + one commit, where the delete-merge +
        # upsert-merge + bookkeeping-commit triple paid three of each —
        # and the (app_id, batch_id) stamp rides the MERGE commit, so the
        # exactly-once replay guard is unchanged.
        terminal = (
            changes.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .drop("__rn")
            .withColumn("__del", F.expr(delete_when))
            .select(*keys, *carry_cols, "__del")
            .localCheckpoint()  # one collapse job; the merge legs reuse it
        )
        # shuffle joins: the collapsed batch is small enough to broadcast,
        # and a broadcast join rewrites each affected file on its own, so
        # the state table would gain a file per batch; a shuffle lets AQE
        # fold the rewrite into few files. Hash, not sort-merge: no sort
        # stages and half the generated classes — with sort-merge the
        # drain's classes overflowed Spark's codegen cache in some runs and
        # were recompiled every micro-batch
        state.merge(
            terminal.hint("shuffle_hash"),
            on,
            when_matched_update="all",
            when_not_matched_insert="all",
            when_matched_delete="s.__del",
            when_not_matched_insert_condition="NOT __del",
            txn_app=app_id,
            txn_version=batch_id,
            txn_source_version=max(versions),
            # uniqueness is structural: terminal is the row_number()=1
            # collapse keyed on exactly the merge keys
            source_unique_on_key=True,
        )

    return (
        commits.writeStream.foreachBatch(apply)
        .option("checkpointLocation", str(checkpoint))
        .trigger(**(trigger or {"availableNow": True}))
        .start()
    )
