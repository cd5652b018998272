"""``dml_mix``: one seeded change stream applied to the same base table on
all three write planes.

The base table is the generated sf0.1 ``orders``, created on each plane in
key-ordered appends so file statistics can prune. Every batch runs, on each
plane in turn, a MERGE upsert, a DELETE of a key range, a point read and a
full aggregate read; every ``compact_every`` batches each plane compacts.
Batch 0 is the warm-up. Why this workload: nearly all of its work is in
``tables.*``, writes beside reads, so a write gain that leaves more files
or tombstones behind shows up as read time, and running the same verbs on
three planes shows whether a change helps one plane at another's cost.
"""

from __future__ import annotations

import os
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from common import Ctx, median
from datagen import DML_PARAMS, dml_batches

ON = "t.o_orderkey = s.o_orderkey"
KEY = "o_orderkey"
READS = 3  # point + aggregate read pairs per plane and batch (short: sample more)


class Plane:
    """One write plane, driven only through its public API."""

    def __init__(self, ctx: Ctx, name: str, layer: str, path: Path):
        self.ctx, self.name, self.layer, self.path = ctx, name, layer, path
        self.table = None

    def create(self, first, rest) -> None:
        from lakehouses_spark.tables import LakeTable
        from lakehouses_spark.tables.delta_log import write_delta_table
        from lakehouses_spark.tables.iceberg_meta import write_iceberg_table

        spark = self.ctx.spark
        with self.ctx.op(f"{self.layer}.create"):
            if self.name == "lake":
                self.table = LakeTable.create(spark, self.path, first, num_files=1)
            elif self.name == "delta":
                self.table = write_delta_table(spark, first, self.path)
            else:
                self.table = write_iceberg_table(spark, first, self.path)
        for df in rest:
            with self.ctx.op(f"{self.layer}.append"):
                self.table.append(df)

    def df(self):
        return self.table.read() if self.name == "lake" else self.table.to_df()

    def compact(self) -> None:
        if self.name == "iceberg":
            self.table.rewrite_data_files()
        else:
            self.table.optimize()

    def live_files(self) -> set[str]:
        if self.name == "lake":
            return set(self.table.state().files)
        if self.name == "delta":
            return set(self.table.snapshot().files)
        return {f["file_path"] for f in self.table.live_files()}


def disk_files(path: Path) -> dict[str, int]:
    out = {}
    for d, _, names in os.walk(path):
        for n in names:
            p = os.path.join(d, n)
            out[p] = os.path.getsize(p)
    return out


class Replay:
    """Independent plain-Python replay of the change stream."""

    def __init__(self, base: pa.Table):
        self.schema = base.schema
        cols = [base.column(c).to_pylist() for c in base.column_names]
        self.rows = {r[0]: r for r in zip(*cols)}

    def apply(self, batch) -> None:
        for r in batch.upserts:
            self.rows[r[0]] = r
        for k in range(batch.delete_lo, batch.delete_hi):
            self.rows.pop(k, None)

    def table(self) -> pa.Table:
        rows = [self.rows[k] for k in sorted(self.rows)]
        return pa.table(
            [pa.array(c, f.type) for c, f in zip(zip(*rows), self.schema)],
            schema=self.schema)


def run(ctx: Ctx, seconds: float) -> None:
    spark = ctx.spark
    params = DML_PARAMS
    base_path = ctx.data / "orders.parquet"
    base_arrow = pq.read_table(base_path)
    base = spark.read.parquet(str(base_path))
    schema = base.schema
    n_app = params["base_appends"]
    step = -(-params["base_rows"] // n_app)
    chunks = [
        base.where((F.col(KEY) >= i * step) & (F.col(KEY) < (i + 1) * step)).coalesce(1)
        for i in range(n_app)
    ]
    planes = [
        Plane(ctx, "lake", "tables.table", ctx.work / "dml" / "lake"),
        Plane(ctx, "delta", "tables.delta_log", ctx.work / "dml" / "delta"),
        Plane(ctx, "iceberg", "tables.iceberg_meta", ctx.work / "dml" / "iceberg"),
    ]
    for p in planes:
        p.create(chunks[0], chunks[1:])

    replay = Replay(base_arrow)
    stream = dml_batches(ctx.seed)
    traced = ctx.tracer.enabled
    samples: dict[str, list[float]] = {}
    ops = {"n": 0}

    def add(name: str, v: float) -> None:
        samples.setdefault(name, []).append(v)

    def one_batch(timed: bool) -> None:
        b = next(stream)
        replay.apply(b)
        src = spark.createDataFrame(b.upserts, schema)
        pred = f"{KEY} >= {b.delete_lo} AND {KEY} < {b.delete_hi}"
        want_point = replay.rows.get(b.point_key)
        want_n = len(replay.rows)
        want_sum = sum(r[3] for r in replay.rows.values())
        tot_w, tot_r = 0.0, [0.0] * READS
        for p in planes:
            op = ctx.tracer.new_op()
            before = disk_files(p.path) if traced and timed else None
            live0 = p.live_files() if traced and timed else None
            with ctx.op(f"{p.layer}.merge", op) as m:
                p.table.merge(src, ON)
            with ctx.op(f"{p.layer}.delete", op) as d:
                p.table.delete(pred)
            reads = []
            for _ in range(READS):
                with ctx.op(f"{p.layer}.point_read", op) as pr:
                    got = p.df().where(F.col(KEY) == b.point_key).collect()
                with ctx.op(f"{p.layer}.agg_read", op) as ar:
                    agg = p.df().agg(F.count("*").alias("n"),
                                     F.sum("o_totalprice").alias("s")).collect()[0]
                reads.append(pr.s + ar.s)
                ctx.check(f"dml_mix.{p.name}.point_read",
                          [tuple(r) for r in got] == ([want_point] if want_point else []),
                          f"batch {b.index} key {b.point_key}: {got} != {want_point}")
                ctx.check(f"dml_mix.{p.name}.agg_read",
                          agg.n == want_n and abs(agg.s - want_sum) <= 1e-9 * want_sum,
                          f"batch {b.index}: {agg} != ({want_n}, {want_sum})")
            if not timed:
                continue
            ops["n"] += 2 + 2 * READS
            tot_w += m.s + d.s
            tot_r = [t + r for t, r in zip(tot_r, reads)]
            add(f"{p.name}.write", m.s + d.s)
            add(f"{p.layer}.merge_s", m.s)
            add(f"{p.layer}.delete_s", d.s)
            for r in reads:
                add(f"{p.name}.read", r)
                add(f"{p.layer}.read_s", r)
            if traced:
                add(f"{p.layer}.merge_jobs", m.counters["jobs"])
                after = disk_files(p.path)
                add(f"{p.layer}.bytes_written",
                    sum(s for f, s in after.items() if f not in before))
                add(f"{p.layer}.files_rewritten", len(live0 - p.live_files()))
        if timed:
            add("write", tot_w)
            for r in tot_r:
                add("read", r)

    def compact(timed: bool = True) -> None:
        op = ctx.tracer.new_op()
        for p in planes:
            with ctx.op(f"{p.layer}.compact", op) as c:
                p.compact()
            if timed:
                ops["n"] += 1
                add(f"{p.layer}.compact_s", c.s)

    one_batch(timed=False)  # warm-up, then every batch starts from a compacted table
    compact(timed=False)

    def cycle(_: int) -> None:
        for _ in range(params["compact_every"]):
            one_batch(timed=True)
        compact()

    _, elapsed = ctx.timed_loop(seconds, cycle)

    # untimed output check: all planes equal each other and the replay
    want = replay.table()
    for p in planes:
        got = p.df().toArrow().select(want.column_names).cast(want.schema)
        got = got.sort_by(KEY)
        ctx.check(f"dml_mix.{p.name}.final_state", got.equals(want),
                  f"{got.num_rows} rows vs replay {want.num_rows}")

    for p in planes:
        ctx.put(f"dml_mix.{p.name}.write_s", samples.get(f"{p.name}.write", []), "s")
        ctx.put(f"dml_mix.{p.name}.read_s", samples.get(f"{p.name}.read", []), "s")
    ctx.put("dml_mix.ops_per_s", ops["n"] / elapsed, "1/s")
    ctx.put("write_s", samples.get("write", []), "s")
    ctx.put("read_s", samples.get("read", []), "s")
    ctx.put("ops_per_s", ops["n"] / elapsed, "1/s")

    if traced:
        for p in planes:
            for m in ("merge_s", "delete_s", "read_s", "compact_s"):
                ctx.put_layer(f"{p.layer}.{m}", median(samples.get(f"{p.layer}.{m}", [])), "s")
            for m in ("merge_jobs", "files_rewritten"):
                ctx.put_layer(f"{p.layer}.{m}", median(samples.get(f"{p.layer}.{m}", [])), "count")
            ctx.put_layer(f"{p.layer}.bytes_written",
                          median(samples.get(f"{p.layer}.bytes_written", [])), "B")
            ctx.put_layer(f"{p.layer}.live_files", len(p.live_files()), "count")
        log_replay(ctx, planes[0].path)


def log_replay(ctx: Ctx, path: Path) -> None:
    """``tables.log``: a fresh LakeTable's log replay after every commit of
    the run (median of five)."""
    from lakehouses_spark.tables import LakeTable

    times = []
    for _ in range(5):
        with ctx.tracer.span("tables.log.replay") as sp:
            st = LakeTable(ctx.spark, path).state()
        times.append(sp.s)
    ctx.put_layer("tables.log.replay_s", median(times), "s")
    ctx.put_layer("tables.log.versions", st.version + 1, "count")
