"""CDC ingest workloads: catch-up rounds of a seeded change-event log into
a snapshot table, each followed by a fixed read mix.

Load model: closed loop, one client. Each round atomically renames its
segments into the stream's ``events_dir`` and calls ``run_ingest`` on the
same checkpoint (``available_now``: drain what is visible, then return).
Then it reads: one full scan to the noop sink, ``point_reads`` key reads
filtered on both key columns (so they pin one bucket), and one change
feed from the previous round's snapshot. The engine only ever sees the
generated segment files.

Untimed gates: every point read against the oracle state of the segments
delivered so far, and the final table against ``events.apply_oracle``.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from dataclasses import dataclass

import numpy as np
import pandas as pd

from core import Run, p50, setup
from gate import compare_state, oracle_expect
from spans import busy_s, in_window, status_jobs, status_stages


@dataclass(frozen=True)
class Shape:
    write_mode: str
    n_repos: int
    hot_ratio: float
    events_per_round: int
    evolve_at: float | None = None
    duplicate_ratio: float = 0.0
    compact_at_end: bool = False


SHAPES = {
    # wide key space, mild skew: nearly every bucket is rewritten each epoch
    "cdc_cow_wide": Shape(write_mode="cow", n_repos=4_000, hot_ratio=0.2, events_per_round=30_000),
    # one hot repo takes 90% of events; evolution, re-delivery, deltas
    "cdc_mor_hot": Shape(
        write_mode="mor", n_repos=2_000, hot_ratio=0.9, events_per_round=40_000,
        evolve_at=0.5, duplicate_ratio=0.05, compact_at_end=True,
    ),
}
PATHS_PER_REPO = 40
CONTENT_REPEAT = 2
NUM_BUCKETS = 16
# the stream takes a whole round's segments per trigger: one epoch per round
SEGMENTS_PER_ROUND = 2
POINT_READS = 4  # per round
ROUND_COST_S = 8.0  # planning constant: rounds = seconds / ROUND_COST_S
# what the gate reads back: the content itself and the engine's stored digest
GATE_COLUMNS = ("repo", "path", "content", "content_sha256", "lang", "lsn")

WARM_SPEC = dict(seed=7, n_events=5_000, n_repos=100, paths_per_repo=20, n_files=2)


def rounds_for(seconds: int) -> int:
    return max(3, round(seconds / ROUND_COST_S))


def make_warmup(run: Run, write_mode: str):
    """A small throwaway ingest in the workload's write mode: the stream,
    merge and parquet paths get JIT-compiled before anything is timed."""
    from etlframwork_spark.events import EventLogSpec, generate_event_log
    from etlframwork_spark.streaming.ingest import IngestJob, run_ingest

    events = os.path.join(run.work, "warm_events")
    generate_event_log(events, EventLogSpec(**WARM_SPEC))

    def warmup(spark) -> None:
        base = os.path.join(run.work, "warm")
        run_ingest(
            spark,
            IngestJob(
                job_id="warm", events_dir=events,
                table_root=os.path.join(base, "table"),
                checkpoint_dir=os.path.join(base, "ckpt"),
                num_buckets=8, max_files_per_trigger=2, write_mode=write_mode,
            ),
        ).read(spark).write.format("noop").mode("overwrite").save()
        shutil.rmtree(base, ignore_errors=True)

    return warmup


def _tree_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def _plan_rounds(files: list[str], rounds: int) -> list[list[str]]:
    """Segments in arrival order, ``SEGMENTS_PER_ROUND`` per round; a
    re-delivery segment (written last) joins the final round."""
    base = [f for f in files if not f.endswith("-dup.parquet")]
    dups = [f for f in files if f.endswith("-dup.parquet")]
    k = SEGMENTS_PER_ROUND
    plan = [base[i * k:(i + 1) * k] for i in range(rounds)]
    plan[-1] = plan[-1] + dups
    return plan


def _load_log(plan: list[list[str]]) -> pd.DataFrame:
    from etlframwork_spark.events import read_log_pandas

    frames = []
    for r, files in enumerate(plan):
        for f in files:
            frames.append(read_log_pandas([f]).assign(_round=r))
    return pd.concat(frames, ignore_index=True)


def gate_columns(df):
    """The gate's columns of a table read; ``lang`` is null before the
    table's schema has evolved to carry it."""
    from pyspark.sql import functions as F

    return df.select(*[c if c in df.columns else F.lit(None).cast("string").alias(c) for c in GATE_COLUMNS])


def _pick_keys(log: pd.DataFrame, r: int, n: int, rng: np.random.Generator) -> list[tuple[str, str]]:
    """Half the keys written in round ``r``, half from the whole log."""
    fresh = log[log["_round"] == r]
    picked = pd.concat(
        [fresh.iloc[rng.integers(0, len(fresh), n // 2)], log.iloc[rng.integers(0, len(log), n - n // 2)]]
    )
    return [(str(x), str(y)) for x, y in zip(picked["repo"], picked["path"])]


def run_cdc(run: Run) -> None:
    from etlframwork_spark import changes, maintenance
    from etlframwork_spark.events import EventLogSpec, apply_oracle, generate_event_log
    from etlframwork_spark.streaming import ingest

    shape = SHAPES[run.workload]
    rounds = rounds_for(run.seconds)
    spec = EventLogSpec(
        seed=run.seed, n_events=rounds * shape.events_per_round, n_repos=shape.n_repos,
        paths_per_repo=PATHS_PER_REPO, hot_ratio=shape.hot_ratio, p_delete=0.05,
        n_files=rounds * SEGMENTS_PER_ROUND, evolve_at=shape.evolve_at,
        duplicate_ratio=shape.duplicate_ratio, content_repeat=CONTENT_REPEAT,
    )
    # the benchmark's own work: not part of set-up, not timed
    staged = generate_event_log(os.path.join(run.work, "staged"), spec)
    plan = _plan_rounds(staged.files, rounds)
    log = _load_log(plan)
    rng = np.random.default_rng(run.seed + 1)

    spark = setup(run, make_warmup(run, shape.write_mode))
    if run.trace:
        _patch_layers(run)
    events_dir = os.path.join(run.work, "events")
    os.makedirs(events_dir)
    job = ingest.IngestJob(
        job_id=f"bench-{run.workload}", events_dir=events_dir,
        table_root=os.path.join(run.work, "table"),
        checkpoint_dir=os.path.join(run.work, "ckpt"),
        metrics_dir=os.path.join(run.work, "metrics"),
        num_buckets=NUM_BUCKETS, max_files_per_trigger=SEGMENTS_PER_ROUND,
        write_mode=shape.write_mode,
    )
    ingest_s, lag_s, scan_s, point_s, changes_s, changed = [], [], [], [], [], []
    round_events: list[int] = []
    table = None
    prev_snap = None
    try:
        for r, files in enumerate(plan):
            n_round = int((log["_round"] == r).sum())

            def deliver_and_ingest(files=files):
                for f in files:
                    os.rename(f, os.path.join(events_dir, os.path.basename(f)))
                t0 = time.perf_counter()
                t = ingest.run_ingest(spark, job)
                return time.perf_counter() - t0, t

            dur, out = run.op("streaming.round", deliver_and_ingest, round=r)
            if dur is not None:
                ingest_dur, table = out
                lag_s.append(dur)
                ingest_s.append(ingest_dur)
                round_events.append(n_round)
            if table is None:
                continue
            table.refresh()
            snap = table.snapshot()["snapshot_id"]

            dur, _ = run.op(
                "read.scan", lambda: table.read(spark).write.format("noop").mode("overwrite").save()
            )
            if dur is not None:
                scan_s.append(dur)

            keys = _pick_keys(log, r, POINT_READS, rng)
            got: dict[tuple[str, str], list] = {}
            for key in keys:
                flt = [("repo", "=", key[0]), ("path", "=", key[1])]
                dur, rows = run.op(
                    "read.point",
                    lambda flt=flt: gate_columns(table.read(spark, filters=flt)).collect(),
                )
                if dur is not None:
                    point_s.append(dur)
                    got[key] = rows
            delivered = log[(log["_round"] <= r) & log.set_index(["repo", "path"]).index.isin(keys)]
            expect = oracle_expect(apply_oracle(delivered))
            for key, rows in got.items():
                want = {key: expect[key]} if key in expect else {}
                run.check(f"point read {key} round {r}", compare_state([tuple(x) for x in rows], want))

            if prev_snap is not None and prev_snap != snap:
                dur, _ = run.op(
                    "read.changes",
                    lambda a=prev_snap, b=snap: changes.read_changes(spark, table, a, b)
                    .write.format("noop").mode("overwrite").save(),
                )
                if dur is not None:
                    changes_s.append(dur)
                changed.append(len(changes.changed_buckets(table, prev_snap, snap)))
            prev_snap = snap

        if table is None:
            raise RuntimeError("no ingest round succeeded")
        table.refresh()
        delta_files = sum(table.delta_file_counts().values())
        live_files = len(table.files_for())
        n_snapshots = len(table.meta["snapshots"])
        compact = None
        if shape.compact_at_end:
            before = set(table.files_for())
            compact, _ = run.op("maintenance.compact", lambda: maintenance.compact_buckets(spark, table))
            table.refresh()
            rewritten = sum(os.path.getsize(f) for f in set(table.files_for()) - before)
            run.layer("maintenance.bytes_rewritten", rewritten, "B")

        final = gate_columns(table.read(spark)).toPandas()
        expect = oracle_expect(apply_oracle(log.drop(columns=["_round"])))
        run.check("final state vs oracle", compare_state(final.itertuples(index=False), expect))
        live_bytes = sum(os.path.getsize(f) for f in table.files_for())

        n_events = sum(round_events)
        run.metric("ingest_events_per_s", n_events / sum(ingest_s) if ingest_s else 0.0, "events/s", len(ingest_s))
        run.timing("commit_lag_s_p50", lag_s)
        run.timing("scan_s_p50", scan_s)
        run.timing("point_read_s_p50", point_s, with_p90="point_read_s_p90")
        run.timing("changes_s_p50", changes_s)
        if compact is not None:
            run.metric("compact_s", compact, "s")
        run.metric("bytes_per_live_row", live_bytes / max(len(final), 1), "B/row", len(final))
        work = sum(lag_s) + sum(scan_s) + sum(point_s) + sum(changes_s) + (compact or 0.0)
        run.metric("work_s", work, "s", len(lag_s))
        run.metric(
            "work_cpu_s",
            run.ops_cpu_s("streaming.round", "read.", "maintenance.compact"), "s", len(lag_s),
        )

        run.layer("table.delta_files", delta_files, "count")
        run.layer("table.live_files", live_files, "count")
        run.layer("table.snapshots", n_snapshots, "count")
        run.layer("table.metadata_bytes", _tree_bytes(os.path.join(job.table_root, "metadata")), "B")
        run.layer("changes.changed_buckets_p50", p50(changed), "count", len(changed))
        run.layer("streaming.rounds", len(lag_s), "count")
        if run.trace:
            _layer_metrics(run, spark, n_events)
    finally:
        run.tracer.unpatch()


# ------------------------------------------------------------------ traced run
def _patch_layers(run: Run) -> None:
    from etlframwork_spark import changes, lineage, maintenance, table
    from etlframwork_spark.streaming import ingest

    tr = run.tracer

    def merge_result(sp, out):
        if isinstance(out, dict):
            sp.attrs["events"] = out.get("events", 0)
            sp.attrs["timings"] = dict(out.get("timings", {}))

    tr.patch(ingest, "merge_batch", "merge.epoch", merge_result)
    tr.patch(ingest, "run_ingest", "streaming.run_ingest")
    tr.patch(table.SnapshotTable, "read", "table.read")
    tr.patch(table.SnapshotTable, "commit", "table.commit")
    tr.patch(lineage.MetricsTable, "emit_lineage", "lineage.emit_lineage")
    tr.patch(lineage.MetricsTable, "emit_epoch", "lineage.emit_epoch")
    tr.patch(changes, "read_changes", "changes.read_changes")
    tr.patch(maintenance, "compact_buckets", "maintenance.compact_buckets")


def _layer_metrics(run: Run, spark, n_events: int) -> None:
    tr = run.tracer
    stages, jobs = status_stages(spark), status_jobs(spark)
    run.stages = stages
    rounds = tr.named("streaming.round")
    epochs = tr.named("merge.epoch")

    run.layer("streaming.round_s_p50", p50([s.dur for s in rounds]), "s", len(rounds))
    run.layer(
        "streaming.overhead_s_p50",
        p50([s.dur - sum(e.dur for e in tr.within(s, "merge.epoch")) for s in rounds]),
        "s", len(rounds),
    )
    run.layer("streaming.epochs", len(epochs), "count")

    def timing(e, k):
        return float(e.attrs.get("timings", {}).get(k, 0.0))

    per_epoch_stages = [in_window(stages, e) for e in epochs]
    per_epoch_jobs = [in_window(jobs, e) for e in epochs]
    run.layer("merge.epoch_s_p50", p50([e.dur for e in epochs]), "s", len(epochs))
    run.layer("merge.stats_s_p50", p50([timing(e, "stats") for e in epochs]), "s", len(epochs))
    run.layer("merge.read_plan_s_p50", p50([timing(e, "read_plan") for e in epochs]), "s", len(epochs))
    run.layer("merge.resolve_write_s_p50", p50([timing(e, "resolve_write") for e in epochs]), "s", len(epochs))
    run.layer("merge.spark_jobs_per_epoch", _mean([len(j) for j in per_epoch_jobs]), "count", len(epochs))
    run.layer("merge.task_cpu_s_per_epoch", _mean([sum(s["cpu_s"] for s in st) for st in per_epoch_stages]), "s", len(epochs))
    run.layer("merge.task_run_s_per_epoch", _mean([sum(s["run_s"] for s in st) for st in per_epoch_stages]), "s", len(epochs))
    shuffle = sum(s["shuffle_write"] for st in per_epoch_stages for s in st)
    run.layer("merge.shuffle_write_bytes_per_event", shuffle / max(n_events, 1), "B/event")
    run.layer(
        "merge.commit_s_p50",
        p50([sum(c.dur for c in tr.within(e, "table.commit")) for e in epochs]), "s", len(epochs),
    )
    run.layer(
        "merge.lineage_s_p50",
        p50([sum(c.dur for c in tr.within(e, "lineage.emit_lineage")) for e in epochs]), "s", len(epochs),
    )
    run.layer(
        "merge.driver_only_s_p50",
        p50([e.dur - busy_s(jobs, e) for e in epochs]), "s", len(epochs),
    )
    reads = tr.named("table.read")
    run.layer("table.read_plan_s_p50", p50([s.dur for s in reads]), "s", len(reads))
    commits = tr.named("table.commit")
    run.layer("table.commit_s_p50", p50([s.dur for s in commits]), "s", len(commits))
    rc = tr.named("changes.read_changes")
    run.layer("changes.read_changes_s_p50", p50([s.dur for s in rc]), "s", len(rc))
    cb = tr.named("maintenance.compact_buckets")
    run.layer("maintenance.compact_s", sum(s.dur for s in cb), "s", len(cb))
    emits = [
        sum(c.dur for n in ("lineage.emit_lineage", "lineage.emit_epoch") for c in tr.within(e, n))
        for e in epochs
    ]
    run.layer("lineage.emit_s_p50", p50(emits), "s", len(emits))


def _mean(xs: list[float]) -> float:
    return statistics.fmean(xs) if xs else 0.0
