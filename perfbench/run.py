#!/usr/bin/env python3
"""The repository benchmark: seeded workloads timed end to end and per layer.

    python3 perfbench/run.py --workload dml_mix --seed 1 --seconds 20 --trace 0

Workloads (see README.md in this directory): ``read_mix``, ``dml_mix``,
``ingest_cdc``, or ``all`` for the three in one process. Each builds its
inputs from ``--seed``, runs a warm-up, then a closed loop with one client
for ``--seconds``, then checks every output. Untraced (``--trace 0``) the
last stdout line is a JSON object with the end-to-end metrics; traced
(``--trace 1``) it carries the per-layer metrics instead, and the spans are
written to ``.perfbench_out/``. Everything the run writes stays in the
checkout: ``.perfbench_work/`` (emptied at start) and ``.perfbench_out/``.
"""

from __future__ import annotations

import time

PROCESS_T0 = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

WORKLOADS = ("read_mix", "dml_mix", "ingest_cdc")
# The workloads BENCHMARK.json lists. A traced run of either traces all three
# (the other two for one cycle each), so every per-layer metric it declares,
# read_mix's queries.* too, is measured on every traced run.
GATED = ("dml_mix", "ingest_cdc")
COARSE = ("tables.stream_source.latest_offset_ms", "tables.stream_source.get_batch_ms")


def context(seed: int, loadavg_start, scan_probe_s: float) -> dict:
    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    digest = hashlib.sha1()
    for p in sorted((ROOT / "lakehouses_spark").rglob("*.py")):
        digest.update(p.read_bytes())
    return {
        "seed": seed,
        "cpus": int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count()),
        "loadavg_start": [round(x, 2) for x in loadavg_start],
        "loadavg_end": [round(x, 2) for x in os.getloadavg()],
        "io.scan_probe_s": round(scan_probe_s, 4),
        "git_commit": commit,
        "source_sha1": digest.hexdigest(),
    }


def start_spark(work: Path):
    from lakehouses_spark.session import get_spark

    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    # every JVM of the run (launcher and driver) keeps its temp files in the
    # checkout; -UsePerfData stops HotSpot writing its perf-data file outside it
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}"
    spark = get_spark(
        app_name="perfbench",
        driver_memory="4g",
        warehouse_dir=str(work / "warehouse"),
        extra_conf={
            # the tracer counts jobs in the status store: retain them all
            "spark.ui.retainedJobs": "1000000",
            "spark.ui.retainedStages": "1000000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM to exit: the gateway JVM ends
    when its stdin closes."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not (ROOT / "lakehouses_spark").is_dir():
        print(f"no lakehouses_spark package next to {HERE.name}/", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))

    work = ROOT / ".perfbench_work"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    tempfile.tempdir = None

    import datagen
    import dml_mix
    import ingest_cdc
    import read_mix
    from common import Ctx
    from tracer import Tracer

    loadavg_start = os.getloadavg()
    t0 = time.perf_counter()
    spark = start_spark(work)
    session_s = time.perf_counter() - t0
    try:
        data = work / f"sf{datagen.SF}"
        datagen.write_star_schema(data, args.seed)
        tracer = Tracer(spark, enabled=bool(args.trace))
        ctx = Ctx(spark, tracer, work, data, args.seed, PROCESS_T0)

        if args.workload == "all":
            plan = [(w, args.seconds) for w in WORKLOADS]
        elif args.trace and args.workload in GATED:
            plan = [(w, args.seconds if w == args.workload else 0.0) for w in GATED]
            plan.append(("read_mix", 0.0))
        else:
            plan = [(args.workload, args.seconds)]
        modules = {"read_mix": read_mix, "dml_mix": dml_mix, "ingest_cdc": ingest_cdc}
        frac = {}
        for w, secs in plan:
            a0, f0 = ctx.attempted, ctx.failed
            print(f"[{w}] seed={args.seed} seconds={secs:g} trace={args.trace}")
            modules[w].run(ctx, secs)
            frac[w] = (ctx.failed - f0) / max(1, ctx.attempted - a0)
        ctx_line = context(args.seed, loadavg_start, ctx.scan_probe_s)
    finally:
        stop_spark(spark)

    out = ROOT / ".perfbench_out"
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    print(f"context {json.dumps(ctx_line)}")
    print(f"  setup_s = {ctx.setup_s:.4f} s")
    for w, f in frac.items():
        print(f"  {w}.failed_ops_frac = {f:.4f} (ops failed / attempted)")
    for name, ok in sorted(ctx.checks.items()):
        print(f"  check {name}: {'pass' if ok else 'FAIL'}")

    if args.trace:
        layer = dict(ctx.layer)
        layer["session.start_s"] = (session_s, "s")
        layer["io.scan_probe_s"] = (ctx.scan_probe_s, "s")
        for name, s in sorted(tracer.self_times().items()):
            layer[f"{name}.self_s"] = (s, "s")
        layer["trace.counter_read_pct"] = (100 * tracer.overhead_timed_s / ctx.timed_s, "%")
        spans = out / f"spans-{tag}.jsonl"
        tracer.write(spans)
        print(f"spans written to {spans.relative_to(ROOT)} ({len(tracer.spans)} spans)")
        print(f"tracing overhead: counter reads took {tracer.overhead_timed_s:.3f} s "
              f"of the {ctx.timed_s:.1f} s measured "
              f"({100 * tracer.overhead_timed_s / ctx.timed_s:.1f}%), "
              f"{tracer.overhead_s:.3f} s in all")
        # Spark reports these in whole milliseconds and they round to 0-1 ms,
        # so they stay in the printed report and the result file only
        metrics = {k: v for k, v in layer.items() if k not in COARSE}
    elif args.workload == "all":
        metrics = {k: v for k, v in ctx.e2e.items() if "." in k}
        metrics["setup_s"] = (ctx.setup_s, "s")
        metrics["failed_ops_frac"] = (ctx.failed / max(1, ctx.attempted), "1")
    else:
        metrics = {k: v for k, v in ctx.e2e.items() if "." not in k}
        metrics["setup_s"] = (ctx.setup_s, "s")
    for name, (v, unit) in sorted((layer if args.trace else metrics).items()):
        print(f"  {name} = {v} {unit}")

    result = {
        "correct": ctx.failed == 0 and all(ctx.checks.values()),
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    out.mkdir(exist_ok=True)
    (out / f"result-{tag}.json").write_text(json.dumps(
        {"context": ctx_line, **result, "report": {k: v for k, (v, _) in ctx.e2e.items()}
         | {k: v for k, (v, _) in ctx.layer.items()}}, indent=1) + "\n")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
