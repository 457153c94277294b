"""Run state shared by the workloads: isolated operations, metrics with
sample counts, and the Spark session's set-up and tear-down."""

from __future__ import annotations

import os
import statistics
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass, field
from typing import Any, Callable

from host import tree_cpu_s
from spans import Tracer

MASTER_CORES = 4
DRIVER_MEMORY = "3g"


@dataclass
class Metric:
    value: float
    unit: str
    n: int = 1


def p50(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def p90(xs: list[float]) -> float | None:
    """Nearest-rank p90, only when at least ten samples lie beyond it."""
    if len(xs) < 100:
        return None
    s = sorted(xs)
    return s[int(0.9 * len(s)) - 1]


@dataclass
class Run:
    """One benchmark invocation: where it works, what it counts."""

    workload: str
    seed: int
    seconds: int
    trace: bool
    root: str  # checkout root (engine sources)
    work: str  # scratch directory inside the checkout
    tracer: Tracer
    cores: int = MASTER_CORES
    attempted: int = 0
    failed: int = 0
    gate_failed: int = 0
    gate_checks: int = 0
    errors: list[str] = field(default_factory=list)
    stages: list[dict] = field(default_factory=list)  # status store, traced runs
    metrics: dict[str, Metric] = field(default_factory=dict)
    layers: dict[str, Metric] = field(default_factory=dict)

    def op(self, name: str, fn: Callable[[], Any], **attrs: Any) -> tuple[float | None, Any]:
        """Run one operation inside a span; an exception counts it as
        failed and the run goes on. Returns (seconds or None, result)."""
        self.attempted += 1
        cpu0 = tree_cpu_s()
        try:
            with self.tracer.span(name, **attrs) as sp:
                out = fn()
        except Exception as e:  # noqa: BLE001 — one failed op must not end the run
            self.failed += 1
            self.errors.append(f"{name}: {type(e).__name__}: {e}"[:300])
            traceback.print_exc(file=sys.stderr)
            return None, None
        sp.attrs["cpu_s"] = tree_cpu_s() - cpu0
        return sp.dur, out

    def ops_cpu_s(self, *prefixes: str) -> float:
        """CPU seconds of the successful operations whose span names start
        with one of ``prefixes``."""
        return sum(
            s.attrs["cpu_s"] for s in self.tracer.spans if "cpu_s" in s.attrs and s.name.startswith(prefixes)
        )

    def check(self, name: str, problems: list[str]) -> bool:
        """Record one correctness check; a mismatch fails the gate."""
        self.attempted += 1
        self.gate_checks += 1
        if problems:
            self.failed += 1
            self.gate_failed += 1
            self.errors.append(f"{name}: " + "; ".join(problems[:5])[:600])
            return False
        return True

    def metric(self, name: str, value: float, unit: str, n: int = 1) -> None:
        self.metrics[name] = Metric(float(value), unit, n)

    def layer(self, name: str, value: float, unit: str, n: int = 1) -> None:
        self.layers[name] = Metric(float(value), unit, n)

    def timing(self, name: str, xs: list[float], with_p90: str | None = None) -> None:
        """Median of a timing (and its p90 when it has enough samples)."""
        self.metric(name, p50(xs), "s", len(xs))
        if with_p90:
            v = p90(xs)
            if v is not None:
                self.metric(with_p90, v, "s", len(xs))


# ----------------------------------------------------------------- session
def session_conf(run: Run) -> dict[str, str]:
    tmp = os.path.join(run.work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": tmp,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(run.work, "warehouse"),
    }
    if run.trace:
        # keep every stage and job of the run for end-of-run attribution
        conf["spark.ui.retainedStages"] = "100000"
        conf["spark.ui.retainedJobs"] = "100000"
    return conf


def build(run: Run):
    from etlframwork_spark.session import build_session

    return build_session(
        master=f"local[{run.cores}]",
        app_name=f"perfbench-{run.workload}",
        extra_conf=session_conf(run),
    )


def setup(run: Run, warmup: Callable[[Any], None]):
    """Build the session, which launches this process's driver JVM, and
    warm it up: the set-up a fresh process pays (setup_s), including JVM
    start and JIT warm-up. Done once per run, because a set-up repeated in
    the same JVM is a warm rebuild and measures something else."""
    t0 = time.perf_counter()
    with run.tracer.span("session.build"):
        spark = build(run)
    t1 = time.perf_counter()
    with run.tracer.span("session.warmup"):
        warmup(spark)
    t2 = time.perf_counter()
    run.metric("setup_s", t2 - t0, "s")
    run.layer("session.build_s", t1 - t0, "s")
    run.layer("session.warmup_s", t2 - t1, "s")
    return spark


def shutdown(run: Run) -> None:
    """Record peak RSS, then stop Spark and wait for the driver JVM (and
    its Python workers) to exit, so no process of the run outlives it."""
    from pyspark import SparkContext

    from host import peak_rss_mb

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    run.metric("peak_rss_mb", peak_rss_mb(proc.pid if proc is not None else None), "MB")
    try:
        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
    finally:
        gw.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
