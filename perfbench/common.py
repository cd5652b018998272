"""State shared by the workloads of one benchmark run: the Spark session,
the tracer, operation and check accounting, and the metric sinks."""

from __future__ import annotations

import gc
import math
import statistics
import sys
import time
import traceback
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path

from tracer import Tracer


@dataclass
class Ctx:
    spark: object
    tracer: Tracer
    work: Path  # scratch space of this run, emptied at start
    data: Path  # the generated sf0.1 tables
    seed: int
    process_t0: float
    attempted: int = 0
    failed: int = 0
    checks: dict[str, bool] = field(default_factory=dict)
    # end-to-end metrics under the names of the workload they belong to,
    # e.g. "dml_mix.lake.write_s" -> (value, unit)
    e2e: dict[str, tuple[float, str]] = field(default_factory=dict)
    layer: dict[str, tuple[float, str]] = field(default_factory=dict)
    setup_s: float | None = None
    scan_probe_s: float | None = None
    timed_s: float = 0.0  # wall time of every measured region

    @contextmanager
    def op(self, name: str, op: int | None = None):
        """One verb the workload issues: counted as attempted, and as
        failed if it raises (the exception still propagates)."""
        self.attempted += 1
        try:
            with self.tracer.span(name, op=op) as sp:
                yield sp
        except Exception:
            self.failed += 1
            raise

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        """An output check; a failed check counts as a failed op."""
        self.attempted += 1
        self.checks[name] = self.checks.get(name, True) and ok
        if not ok:
            self.failed += 1
            print(f"CHECK FAILED {name}: {detail}", file=sys.stderr)

    def mark_setup_done(self) -> None:
        """Called right before the first timed op of the run."""
        if self.setup_s is None:
            self.scan_probe_s = scan_probe(self.spark, self.data)
            self.setup_s = time.perf_counter() - self.process_t0

    def timed_loop(self, seconds: float, cycle, min_cycles: int = 1) -> tuple[int, float]:
        """Closed loop with one client: run ``cycle(i)`` until ``seconds``
        have passed and at least ``min_cycles`` cycles ran. Returns (cycles,
        elapsed seconds). A cycle that raises ends the loop; its op is
        already counted failed."""
        self.mark_setup_done()
        # the replays hold every input row; keep the collector from
        # rescanning them inside the library calls being timed
        gc.freeze()
        t0 = time.perf_counter()
        n = 0
        while True:
            failed = self.failed
            self.tracer.start_cycle()
            try:
                cycle(n)
            except Exception:
                traceback.print_exc()
                if self.failed == failed:  # raised outside any op
                    self.attempted += 1
                    self.failed += 1
                break
            n += 1
            if n >= min_cycles and time.perf_counter() - t0 >= seconds:
                break
        elapsed = time.perf_counter() - t0
        self.tracer.cycle = None
        self.timed_s += elapsed
        return n, elapsed

    def put(self, name: str, values, unit: str) -> None:
        """Record an end-to-end timing as the median of ``values``."""
        vals = list(values) if isinstance(values, (list, tuple)) else [values]
        if vals:
            self.e2e[name] = (statistics.median(vals), unit)
            describe(name, vals, unit)

    def put_layer(self, name: str, value: float, unit: str) -> None:
        self.layer[name] = (value, unit)


def scan_probe(spark, data: Path) -> float:
    """``io.scan_probe_s``: a bare count over every generated table with the
    cache cleared, taken once per run right after the first workload's
    warm-up. It is the host fingerprint that separates host drift from code
    change."""
    from lakehouses_spark.io import TABLES, load_table

    spark.catalog.clearCache()
    t0 = time.perf_counter()
    for t in TABLES:
        load_table(spark, str(data), t).count()
    return time.perf_counter() - t0


def describe(name: str, vals: list[float], unit: str) -> None:
    """Print a timing as its median plus the highest percentile that has at
    least ten samples beyond it, with the sample count."""
    vals = sorted(vals)
    line = f"  {name} = {statistics.median(vals):.4f} {unit} (median of {len(vals)}"
    for p in (99.9, 99, 90):
        if len(vals) * (1 - p / 100) >= 10:
            k = min(len(vals) - 1, math.ceil(p / 100 * len(vals)) - 1)
            line += f", p{p:g} = {vals[k]:.4f}"
            break
    else:
        line += f", max = {vals[-1]:.4f}"
    print(line + ")")


def median(values) -> float:
    return statistics.median(values) if values else 0.0
