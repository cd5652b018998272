"""``read_mix``: repeated cold passes over ``bench.py``'s twelve headline
queries on the generated sf0.1 tables.

One warm-up pass runs first; each timed pass runs the queries in a seeded
order with ``clearCache()`` before each. Why this workload: all of its work
is in ``io`` scans, the ``queries.*`` operators and Catalyst planning; no
table or streaming code runs, and it keeps continuity with the headline
that ``bench.py`` has tracked since the first round.
"""

from __future__ import annotations

import random
import re

from bench import HEADLINE
from common import Ctx, median
from tests.oracle import _canon_rows, assert_type_parity, duckdb_connection

# "round(<expr>, N) AS col" in an oracle: the column's declared decimals
ROUNDED = re.compile(r",\s*(\d+)\)\s+AS\s+(\w+)", re.IGNORECASE)


def _plan_ms(df) -> float:
    """Catalyst analysis + optimization + planning of an executed query,
    from its ``QueryExecution.tracker()``."""
    phases = df._jdf.queryExecution().tracker().phases()
    return float(sum(phases.apply(p).durationMs()
                     for p in ("analysis", "optimization", "planning")
                     if phases.contains(p)))


def compare(cols: list[str], rows: list[tuple], d_cols: list[str], d_rows: list[tuple],
            decimals: dict[str, int] | None = None) -> str | None:
    """None if two results are equal under the oracle harness's
    canonicalisation (columns by name, rows order-insensitive); else a
    description of the first difference. A column the oracle rounds to N
    decimals may differ by one unit of 10^-N: the engines sum in different
    orders, so a rounded aggregate next to a rounding boundary can land one
    unit apart."""
    if sorted(cols) != sorted(d_cols):
        return f"columns {sorted(cols)} != {sorted(d_cols)}"
    if len(rows) != len(d_rows):
        return f"{len(rows)} rows != {len(d_rows)}"
    s, d = _canon_rows(cols, rows), _canon_rows(d_cols, d_rows)
    quanta = [10.0 ** -(decimals or {}).get(c, 99) for c in sorted(cols)]

    def near(a, b, q) -> bool:
        if a == b:
            return True
        try:
            return abs(float(a) - float(b)) <= 1.0001 * q
        except (TypeError, ValueError):
            return False

    bad = [(x, y) for x, y in zip(s, d)
           if not all(near(a, b, q) for a, b, q in zip(x, y, quanta))]
    return f"{len(bad)} rows differ, first {bad[0]}" if bad else None


def run(ctx: Ctx, seconds: float) -> None:
    from lakehouses_spark.registry import load_all_queries

    spark = ctx.spark
    registry = load_all_queries()
    sf = str(ctx.data)
    rng = random.Random(ctx.seed)
    decimals = {name: {c: int(n) for n, c in ROUNDED.findall(registry[name].oracle)}
                for name in HEADLINE}
    traced = ctx.tracer.enabled
    samples: dict[str, list[float]] = {}

    def add(name: str, v: float) -> None:
        samples.setdefault(name, []).append(v)

    def one_pass(order: list[str], timed: bool) -> dict[str, tuple]:
        results = {}
        with ctx.tracer.span("queries.pass", op=ctx.tracer.new_op()) as ps:
            for name in order:
                spark.catalog.clearCache()
                with ctx.op(f"queries.{name}") as sp:
                    df = registry[name].fn(spark, sf)
                    rows = [tuple(r) for r in df.collect()]
                results[name] = (df.columns, rows, dict(df.dtypes))
                if timed:
                    add(f"queries.{name}.s", sp.s)
                    if traced:
                        add(f"queries.{name}.plan_ms", _plan_ms(df))
                        add(f"queries.{name}.jobs", sp.counters["jobs"])
                        add(f"queries.{name}.shuffle_bytes", sp.counters["shuffle_write"])
        if timed:
            add("pass", ps.s)
            if traced:
                add("queries.task_s", ps.counters["task_ms"] / 1000)
        return results

    warm = one_pass(HEADLINE, timed=False)

    def cycle(_: int) -> None:
        order = HEADLINE[:]
        rng.shuffle(order)
        got = one_pass(order, timed=True)
        for name in HEADLINE:  # every timed result equals the checked one
            ctx.check(f"read_mix.{name}.repeatable",
                      compare(*got[name][:2], *warm[name][:2], decimals[name]) is None,
                      f"{name} changed between passes")

    n, elapsed = ctx.timed_loop(seconds, cycle)

    # untimed: each query against its registry DuckDB oracle, once per run
    con = duckdb_connection(str(ctx.data))
    for name in HEADLINE:
        sql = registry[name].oracle
        rel = con.sql(sql)
        cols, rows, dtypes = warm[name]
        try:
            assert_type_parity(dtypes, rel)
            diff = compare(cols, rows, rel.columns, rel.fetchall(), decimals[name])
        except AssertionError as e:
            diff = str(e)
        ctx.check(f"read_mix.{name}.oracle", diff is None, f"{name}: {diff}")
    con.close()

    ctx.put("read_mix.pass_s", samples.get("pass", []), "s")
    ctx.put("pass_s", samples.get("pass", []), "s")
    ctx.put("ops_per_s", len(HEADLINE) * n / elapsed, "1/s")
    if traced:
        for name, vals in samples.items():
            if name == "pass":
                continue
            unit = ("s" if name.endswith("_s") or name.endswith(".s") else
                    "ms" if name.endswith("_ms") else
                    "B" if name.endswith("_bytes") else "count")
            ctx.put_layer(name, median(vals), unit)

