"""Benchmark of the CDC-ingest engine: one workload per invocation.

    python3 perfbench/run.py --workload cdc_cow_wide --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. Workloads (see BENCHMARK.json and
perfbench/README.md): ``cdc_cow_wide``, ``cdc_mor_hot``, ``query_suite``.
Everything the run writes lives under ``.perfbench_work/`` in the
checkout and is removed at exit; the DuckDB answers of the query suite
are cached under ``.perfbench_cache/``.

Output: ``report <name> <value> <unit> n=<samples>`` lines for every
metric measured (with ``--trace 1`` also one ``trace`` line per span name:
wall, self time and the task time of the stages inside it; the spans
themselves go to ``.perfbench_traces/``), then, as the last line, one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics of BENCHMARK.json with ``--trace 0``, its per-layer metrics with
``--trace 1`` (layers a workload does not exercise read 0). Exit code 0
when the correctness gate passed, 1 when it failed, 2 when the engine
cannot be found.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _workloads():
    from cdc import SHAPES, run_cdc
    from suite import run_suite

    out = {name: run_cdc for name in SHAPES}
    out["query_suite"] = run_suite
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=None, help="local[N] cores (default 4)")
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        import etlframwork_spark
        import pyspark  # noqa: F401
    except (OSError, ImportError, ValueError) as e:
        print(f"perfbench: cannot run here: {type(e).__name__}: {e}", file=sys.stderr)
        return 2
    if not os.path.abspath(etlframwork_spark.__file__).startswith(ROOT + os.sep):
        print(f"perfbench: the engine is not in this checkout ({ROOT})", file=sys.stderr)
        return 2
    workloads = _workloads()
    if args.workload not in workloads:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(workloads)}", file=sys.stderr)
        return 2

    from core import MASTER_CORES, Run, shutdown
    from host import CpuSteal, sha256_probe
    from spans import Tracer, module_table, write_spans

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # every temporary file of this process, the JVM and Python workers
    # lands inside the run's directory
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + ([os.environ["PYTHONPATH"]] if os.environ.get("PYTHONPATH") else [])
    )
    run = Run(
        workload=args.workload, seed=args.seed, seconds=args.seconds, trace=bool(args.trace),
        root=ROOT, work=work, cores=args.cores or MASTER_CORES,
        tracer=Tracer(f"{args.workload}-{args.seed}-{os.getpid()}"),
    )
    steal = CpuSteal()
    run.layer("host.sha256_s", sha256_probe(), "s")
    try:
        workloads[args.workload](run)
    except Exception as e:  # noqa: BLE001 — report the failure in the result
        run.attempted += 1
        run.failed += 1
        run.gate_failed += 1
        run.errors.append(f"workload: {type(e).__name__}: {e}"[:300])
        traceback.print_exc(file=sys.stderr)
    finally:
        shutdown(run)
        shutil.rmtree(work, ignore_errors=True)
    run.layer("host.steal_pct", steal.pct(), "%")
    if run.trace and "work_s" in run.metrics:
        run.layer("trace.work_s", run.metrics["work_s"].value, "s")

    run.metric("ops_failed_ratio", run.failed / max(run.attempted, 1), "ratio", run.attempted)
    for name, m in list(run.metrics.items()) + list(run.layers.items()):
        print(f"report {name} {m.value:.6g} {m.unit} n={m.n}")
    for err in run.errors:
        print(f"error {err}")
    correct = run.gate_failed == 0 and run.gate_checks > 0
    print(f"report correct {correct}")
    if run.trace:
        for row in module_table(run.tracer, run.stages):
            print(
                f"trace {row['name']} n={row['n']} wall_s={row['wall_s']:.3f} self_s={row['self_s']:.3f} "
                f"task_run_s={row['task_run_s']:.3f} task_cpu_s={row['task_cpu_s']:.3f}"
            )
        write_spans(run.tracer, os.path.join(ROOT, ".perfbench_traces", f"{args.workload}-seed{args.seed}.jsonl"))

    wanted = spec["per_layer"] if run.trace else spec["end_to_end"]
    have = run.layers if run.trace else run.metrics
    metrics = {
        m["name"]: {"value": have[m["name"]].value if m["name"] in have else 0.0, "unit": m["unit"]}
        for m in wanted
    }
    print(json.dumps({"correct": correct, "attempted": run.attempted, "failed": run.failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
