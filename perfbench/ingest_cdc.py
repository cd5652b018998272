"""``ingest_cdc``: the medallion pipeline, landing → bronze → silver → gold.

Each round, seeded JSON change files land in the landing zone (user_id
Zipf-skewed, a tenth of the events deletes). ``IngestionEngine`` drains
them into bronze with availableNow, ``maxFilesPerTrigger`` low enough that
a round takes at least two micro-batches, and archives them to raw; then
``start_apply_changes`` drains bronze into the silver state table, and a
gold aggregate reads silver. Round 0 is the warm-up. Why this workload: its
cost sits in ``ingest.*``, ``tables.stream_source``, ``streaming.cdc`` and
the stream start/commit path, while ``queries.*`` is idle, and it uses
``tables.table`` through small idempotent appends and keyed MERGEs inside
``foreachBatch`` rather than the batch DML of ``dml_mix``.
"""

from __future__ import annotations

from datetime import datetime, timedelta
from pathlib import Path

from pyspark.sql import functions as F

from common import Ctx, median
from datagen import CDC_PARAMS, EPOCH, TS_FORMAT, cdc_round, write_json_lines

GOLD_BUCKETS = 16
GOLD_READS = 3  # per round: the read is short, so sample it more than once
# The first timed round is still warming up (≈ 1.3x a steady round), so a run
# always measures at least three rounds: the median then never rests on it,
# however slow the host.
MIN_ROUNDS = 3


def progress_ms(query) -> dict[str, float]:
    """Sum of the per-batch ``durationMs`` phases of a finished query."""
    tot: dict[str, float] = {"batches": 0}
    for p in query.recentProgress:
        tot["batches"] += 1
        for k, v in (p.durationMs or {}).items():
            tot[k] = tot.get(k, 0) + v
    return tot


def gold(df):
    return (
        df.groupBy((F.col("user_id") % GOLD_BUCKETS).alias("bucket"))
        .agg(F.count("*").alias("users"), F.round(F.sum("value"), 2).alias("value"))
    )


class Lww:
    """Independent last-writer-wins replay of every landed event."""

    def __init__(self):
        self.rows: dict[int, tuple[float, str]] = {}
        self.event_ids: list[int] = []

    def apply(self, records: list[dict]) -> None:
        # records arrive in (ts, event_id) order: later overwrites earlier
        for r in records:
            self.event_ids.append(r["event_id"])
            if r["op"] == "delete":
                self.rows.pop(r["user_id"], None)
            else:
                self.rows[r["user_id"]] = (r["value"], r["ts"])

    def gold(self) -> dict[int, tuple[int, float]]:
        out: dict[int, list] = {}
        for u, (v, _) in self.rows.items():
            b = out.setdefault(u % GOLD_BUCKETS, [0, 0.0])
            b[0] += 1
            b[1] += v
        return {k: (n, round(s, 2)) for k, (n, s) in out.items()}


def run(ctx: Ctx, seconds: float) -> None:
    from lakehouses_spark.ingest.engine import IngestionEngine
    from lakehouses_spark.streaming.cdc import start_apply_changes
    from lakehouses_spark.tables import LakeTable

    spark = ctx.spark
    params = CDC_PARAMS
    root = ctx.work / "medallion"
    eng = IngestionEngine(spark, root)
    cfg = {
        "datasource": "shop",
        "dataset": "changes",
        "source": {
            "format": "json",
            "schema_hints": {"event_id": "bigint", "ts": "timestamp",
                             "user_id": "bigint", "op": "string", "value": "double"},
            "options": {"maxFilesPerTrigger": str(params["max_files_per_trigger"])},
        },
    }
    silver = root / "silver" / "user_state"
    lww = Lww()
    landed: list[Path] = []
    traced = ctx.tracer.enabled
    samples: dict[str, list[float]] = {}
    ops = {"n": 0, "next_event": 0}

    def add(name: str, v: float) -> None:
        samples.setdefault(name, []).append(v)

    def one_round(rnd: int, timed: bool) -> None:
        files = cdc_round(ctx.seed, rnd, ops["next_event"])
        ops["next_event"] += sum(len(f) for f in files)
        for i, recs in enumerate(files):
            dest = eng.landing_dir(cfg) / f"round={rnd:05d}" / f"part-{i:03d}.json"
            write_json_lines(dest, recs)
            landed.append(dest.relative_to(eng.landing_dir(cfg)))
            lww.apply(recs)
        op = ctx.tracer.new_op()
        with ctx.op("ingest.engine.drain", op) as ing:
            q = eng.write_stream(cfg, eng.read_stream(cfg))
            q.awaitTermination()
            if q.exception() is not None:
                raise RuntimeError(f"ingest stream failed: {q.exception()}")
        with ctx.op("streaming.cdc.drain", op) as cdc:
            q2 = start_apply_changes(
                spark, eng.bronze_path(cfg), silver, root / "_checkpoints" / "silver",
                keys=("user_id",), seq_cols=("ts", "event_id"),
                delete_when="op = 'delete'", carry_cols=("value", "ts"))
            q2.awaitTermination()
            if q2.exception() is not None:
                raise RuntimeError(f"cdc stream failed: {q2.exception()}")
        want = lww.gold()
        reads = []
        for _ in range(GOLD_READS):
            with ctx.op("gold.read", op) as g:
                rows = gold(LakeTable(spark, silver).read()).collect()
            reads.append(g.s)
            got = {r.bucket: (r.users, r.value) for r in rows}
            ctx.check("ingest_cdc.gold", got == want, f"round {rnd}: {got} != {want}")
        pi, pc = progress_ms(q), progress_ms(q2)
        ctx.check("ingest_cdc.micro_batches", pi["batches"] >= 2,
                  f"round {rnd}: ingest drained in {pi['batches']} micro-batch(es)")
        if not timed:
            return
        ops["n"] += 2 + GOLD_READS
        add("freshness", ing.s + cdc.s)
        for r in reads:
            add("gold_read", r)
        for layer, sp, p in (("ingest.engine", ing, pi), ("streaming.cdc", cdc, pc)):
            trig = p.get("triggerExecution", 0)
            add(f"{layer}.drain_s", sp.s)
            add(f"{layer}.batches", p["batches"])
            add(f"{layer}.add_batch_ms", p.get("addBatch", 0))
            add(f"{layer}.trigger_overhead_ms", trig - p.get("addBatch", 0))
            add(f"{layer}.start_overhead_ms", sp.s * 1000 - trig)
            if traced:
                add(f"{layer}.jobs", sp.counters["jobs"])
        add("ingest.autoloader.latest_offset_ms", pi.get("latestOffset", 0))
        add("tables.stream_source.latest_offset_ms", pc.get("latestOffset", 0))
        add("tables.stream_source.get_batch_ms", pc.get("getBatch", 0))

    one_round(0, timed=False)  # warm-up: first stream starts are cold
    _, elapsed = ctx.timed_loop(seconds, lambda i: one_round(i + 1, timed=True), MIN_ROUNDS)

    # untimed output checks
    bronze = LakeTable(spark, eng.bronze_path(cfg)).read()
    ids = sorted(r.event_id for r in bronze.select("event_id").collect())
    ctx.check("ingest_cdc.bronze_exactly_once", ids == sorted(lww.event_ids),
              f"{len(ids)} bronze rows vs {len(lww.event_ids)} landed")
    left = list(eng.landing_dir(cfg).rglob("*.json"))
    archived = all((eng.raw_dir(cfg) / rel).is_file() for rel in landed)
    ctx.check("ingest_cdc.archived", not left and archived,
              f"{len(left)} files still in landing; all archived: {archived}")
    state = {
        r.user_id: (r.value, r.ts_us) for r in LakeTable(spark, silver).read()
        .select("user_id", "value", F.unix_micros("ts").alias("ts_us")).collect()
    }
    want = {u: (v, _micros(ts)) for u, (v, ts) in lww.rows.items()}
    ctx.check("ingest_cdc.silver_lww", state == want,
              f"{len(state)} silver rows vs {len(want)} replayed")

    ctx.put("ingest_cdc.freshness_s", samples.get("freshness", []), "s")
    ctx.put("ingest_cdc.gold_read_s", samples.get("gold_read", []), "s")
    ctx.put("write_s", samples.get("freshness", []), "s")
    ctx.put("read_s", samples.get("gold_read", []), "s")
    ctx.put("ops_per_s", ops["n"] / elapsed, "1/s")

    if traced:
        for name, vals in samples.items():
            if name in ("freshness", "gold_read"):
                continue
            unit = "s" if name.endswith("_s") else "ms" if name.endswith("_ms") else "count"
            ctx.put_layer(name, median(vals), unit)
        ctx.put_layer("ingest_cdc.bronze_files",
                      len(LakeTable(spark, eng.bronze_path(cfg)).state().files), "count")
        ctx.put_layer("ingest_cdc.silver_files",
                      len(LakeTable(spark, silver).state().files), "count")


def _micros(ts: str) -> int:
    """Epoch microseconds of an event's UTC wall-clock timestamp."""
    return (datetime.strptime(ts, TS_FORMAT) - EPOCH) // timedelta(microseconds=1)
