#!/usr/bin/env python
"""Profiling and plan-evidence tool. ``<tag>`` names the run: it is the
output directory ``plans/<tag>/``, the Spark app name ``<tag>-profile``
and the job description prefix.

    python tools/profile.py <tag> times [sf_dir] [query ...]
    python tools/profile.py <tag> plans <phase> [query ...]
    python tools/profile.py <tag> merge <phase>

``times``: time every registered query (or the named ones) once at
``sf_dir`` (default sf0.01), clearCache() before each so the scan path is
exercised, and print a JSON dict {name: sec} sorted slowest-first — finds
the slow outliers outside the bench headline set.

``plans``: write ``plans/<tag>/<query>_<phase>.txt`` for every named query
(default: the bench headline + tracked set at sf0.1), ``phase`` being e.g.
``before`` / ``after``. The formatted plan is the INITIAL plan
(AdaptiveSparkPlan isFinalPlan=false); for plan-shape claims (Exchange
count, join strategy, PushedFilters/ReadSchema, Python eval nodes) that is
the right artifact — AQE only coalesces/rewrites at runtime. The executed
(AQE-final) plan is appended after a collect().

``merge``: write ``plans/<tag>/merge_<case>_<phase>.txt``, the optimized
logical plan (``#NN`` expression ids stripped, so two runs compare with
diff) of every frame a MERGE writes — data files and, on CDF-enabled
tables, change files — for the streaming CDC drain's clauses on a
LakeTable and a default-clause MERGE on each write plane, over tables of
tens of rows.
"""

from __future__ import annotations

import json
import re
import sys
import tempfile
import time
from pathlib import Path

# the script's own directory heads sys.path, and there this file would
# shadow the standard library's `profile` (cProfile, which pyspark
# imports, imports it): put the repository root in its place
sys.path[0] = str(Path(__file__).resolve().parent.parent)

from lakehouses_spark.registry import load_all_queries  # noqa: E402
from lakehouses_spark.session import get_spark  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent


def times(spark, tag: str, args: list[str]) -> None:
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    registry = load_all_queries()
    names = args[1:] or list(registry)
    # JVM/codegen warm-up outside any timed region
    registry["q1_pricing_summary"].fn(spark, sf_dir).collect()
    took: dict[str, float] = {}
    errors: dict[str, str] = {}
    for name in names:
        rq = registry.get(name)
        if rq is None:
            continue
        spark.catalog.clearCache()
        spark.sparkContext.setJobDescription(f"{tag}-profile: {name}")
        t0 = time.perf_counter()
        try:
            rq.fn(spark, sf_dir).collect()
        except Exception as e:  # keep profiling; report at the end
            errors[name] = str(e)[:200]
        took[name] = round(time.perf_counter() - t0, 3)
    ranked = dict(sorted(took.items(), key=lambda kv: -kv[1]))
    print(json.dumps({"sf_dir": sf_dir, "times": ranked, "errors": errors}))


def plans(spark, tag: str, args: list[str]) -> None:
    from bench import HEADLINE, TRACKED_EXTRA

    phase = args[0] if args else "before"
    names = args[1:] or (HEADLINE + TRACKED_EXTRA)
    out_dir = ROOT / "plans" / tag
    out_dir.mkdir(parents=True, exist_ok=True)
    registry = load_all_queries()
    for name in names:
        rq = registry.get(name)
        if rq is None:
            print(f"skip unknown query: {name}")
            continue
        spark.sparkContext.setJobDescription(f"{tag}-profile: {name}")
        df = rq.fn(spark, "/root/testdata/sf0.1")
        formatted = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        df.collect()  # finalize the adaptive plan
        executed = df._jdf.queryExecution().executedPlan().toString()
        text = (
            f"== {name} ({phase}) — explain('formatted'), then the executed "
            "(AQE-final) plan ==\n\n"
            + formatted
            + "\n\n== executed (AQE final) ==\n\n"
            + executed
        )
        (out_dir / f"{name}_{phase}.txt").write_text(text)
        print(f"wrote plans/{tag}/{name}_{phase}.txt")


def merge(spark, tag: str, args: list[str]) -> None:
    from lakehouses_spark.tables.delta_log import (
        DeltaLogReader,
        write_delta_table,
    )
    from lakehouses_spark.tables.iceberg_meta import (
        IcebergMetadataReader,
        write_iceberg_table,
    )
    from lakehouses_spark.tables.table import CDF_PROPERTY, LakeTable

    phase = args[0] if args else "before"
    out_dir = ROOT / "plans" / tag
    out_dir.mkdir(parents=True, exist_ok=True)
    written: list[tuple[str, object]] = []

    def capture(cls, name, label, frame_of):
        orig = getattr(cls, name)

        def wrapped(self, *a, **k):
            df = frame_of(*a)
            if df is not None:
                written.append((label, df))
            return orig(self, *a, **k)

        setattr(cls, name, wrapped)

    def union(parts):
        if not parts:
            return None
        dfs = [p[0] if isinstance(p, tuple) else p for p in parts]
        out = dfs[0]
        for p in dfs[1:]:
            out = out.unionByName(p)
        return out

    capture(LakeTable, "_write_files", "data", lambda df, *_: df)
    capture(LakeTable, "_write_change_data", "change images",
            lambda parts, *_: union(parts))
    capture(DeltaLogReader, "_commit_dml", "data", lambda _o, _p, df, *_: df)
    capture(DeltaLogReader, "_commit_dml", "change images",
            lambda _o, _p, _d, _r, parts, *_: union(parts))
    capture(IcebergMetadataReader, "_write_cow_files", "data",
            lambda df, *_: df)

    target = spark.createDataFrame(
        [(k, f"v{k}") for k in range(20)], "k long, v string")
    upsert = spark.createDataFrame(
        [(k, f"s{k}") for k in range(15, 25)], "k long, v string")
    changes = spark.createDataFrame(
        [(k, f"s{k}", k % 3 == 0) for k in range(15, 25)],
        "k long, v string, __del boolean").localCheckpoint()

    # each case builds its table, then returns the MERGE to capture
    def lake_cdc(path):
        t = LakeTable.create(spark, path, target)
        return lambda: t.merge(
            changes.hint("shuffle_hash"), "t.k = s.k",
            when_matched_update="all", when_not_matched_insert="all",
            when_matched_delete="s.__del",
            when_not_matched_insert_condition="NOT __del",
            txn_app="app", txn_version=0, txn_source_version=0,
            source_unique_on_key=True)

    def lake_default(path):
        t = LakeTable.create(spark, path, target)
        t.set_properties({CDF_PROPERTY: "true"})
        return lambda: t.merge(upsert, "t.k = s.k")

    def delta_default(path):
        t = write_delta_table(
            spark, target, path,
            properties={"delta.enableChangeDataFeed": "true"})
        return lambda: t.merge(upsert, "t.k = s.k")

    def iceberg_default(path):
        t = write_iceberg_table(spark, target, path)
        return lambda: t.merge(upsert, "t.k = s.k")

    cases = {"lake_cdc": lake_cdc, "lake_default": lake_default,
             "delta_default": delta_default,
             "iceberg_default": iceberg_default}
    with tempfile.TemporaryDirectory() as tmp:
        for case, build in cases.items():
            spark.sparkContext.setJobDescription(f"{tag}-profile: {case}")
            run = build(Path(tmp) / case)
            written.clear()
            run()
            text = "".join(
                f"== {label} ==\n" + re.sub(
                    r"#\d+", "",
                    df._jdf.queryExecution().optimizedPlan().toString())
                + "\n"
                for label, df in written)
            (out_dir / f"merge_{case}_{phase}.txt").write_text(text)
            print(f"wrote plans/{tag}/merge_{case}_{phase}.txt")


MODES = {"times": times, "plans": plans, "merge": merge}


def main() -> None:
    if len(sys.argv) < 3 or sys.argv[2] not in MODES:
        sys.exit(__doc__)
    tag, mode, args = sys.argv[1], sys.argv[2], sys.argv[3:]
    spark = get_spark(app_name=f"{tag}-profile", driver_memory="8g")
    spark.sparkContext.setLogLevel("ERROR")
    MODES[mode](spark, tag, args)
    spark.stop()


if __name__ == "__main__":
    main()
