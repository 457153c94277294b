"""Golden end-to-end streaming replay vs the sequential oracle
(SURVEY.md §5.3-5.5): exactly-once under kill/resume, duplicate delivery,
schema evolution mid-stream, lineage emission."""

from __future__ import annotations

import hashlib

import pytest

from etlframwork_spark.events import (
    EventLogSpec,
    apply_oracle,
    generate_event_log,
    oracle_digests,
    read_log_pandas,
)
from etlframwork_spark.streaming import IngestJob, run_ingest


def _job(tmp_path, name, **kw):
    return IngestJob(
        job_id=name,
        events_dir=str(tmp_path / "events"),
        table_root=str(tmp_path / name / "table"),
        checkpoint_dir=str(tmp_path / name / "ckpt"),
        metrics_dir=str(tmp_path / name / "metrics"),
        num_buckets=8,
        max_files_per_trigger=2,
        **kw,
    )


def _table_digests(spark, table):
    rows = table.read(spark).select("repo", "path", "content_sha256").collect()
    return {(r["repo"], r["path"]): r["content_sha256"] for r in rows}


def test_ingest_job_rejects_unknown_strategy_before_start(tmp_path):
    """A bad resolve/write_mode fails at config load, before any checkpoint
    dir exists — not inside the first foreachBatch."""
    base = {
        "job_id": "bad", "events_dir": str(tmp_path / "events"),
        "table_root": str(tmp_path / "t"), "checkpoint_dir": str(tmp_path / "ckpt"),
    }
    with pytest.raises(ValueError, match="maxby.*raw"):
        IngestJob.from_dict({**base, "resolve": "sorted_merge"})
    with pytest.raises(ValueError, match="cow.*mor"):
        IngestJob.from_dict({**base, "write_mode": "append"})
    assert not (tmp_path / "ckpt").exists()


def test_streaming_replay_matches_oracle(spark, tmp_path):
    spec = EventLogSpec(seed=42, n_events=5000, n_repos=50, paths_per_repo=20, p_delete=0.08, n_files=6)
    log = generate_event_log(str(tmp_path / "events"), spec)
    assert len(log.files) == 6
    job = _job(tmp_path, "replay")
    table = run_ingest(spark, job)
    oracle = oracle_digests(apply_oracle(read_log_pandas(job.events_dir)))
    assert _table_digests(spark, table) == oracle
    # lineage + epoch metrics were emitted with offset ranges
    lin = spark.read.parquet(str(tmp_path / "replay/metrics/lineage"))
    ep = spark.read.parquet(str(tmp_path / "replay/metrics/epochs"))
    assert lin.filter("src_min_lsn is null or src_max_lsn is null").count() == 0
    assert ep.count() >= 3  # 6 files / maxFilesPerTrigger=2
    assert ep.selectExpr("sum(events)").first()[0] == 5000


def test_streaming_duplicate_segments_idempotent(spark, tmp_path):
    spec = EventLogSpec(seed=13, n_events=3000, n_repos=30, paths_per_repo=10, p_delete=0.1, n_files=5, duplicate_ratio=0.3)
    generate_event_log(str(tmp_path / "events"), spec)
    job = _job(tmp_path, "dup")
    table = run_ingest(spark, job)
    oracle = oracle_digests(apply_oracle(read_log_pandas(job.events_dir)))
    assert _table_digests(spark, table) == oracle


def test_kill_and_resume_identical_final_state(spark, tmp_path):
    """Crash mid-stream between data write and manifest commit; resume from
    the same checkpoint must replay to the identical final state (BJ:6)."""
    spec = EventLogSpec(seed=21, n_events=4000, n_repos=40, paths_per_repo=15, p_delete=0.1, n_files=8)
    generate_event_log(str(tmp_path / "events"), spec)

    # uninterrupted control run
    ctrl = run_ingest(spark, _job(tmp_path, "ctrl"))
    ctrl_digests = _table_digests(spark, ctrl)

    class Boom(Exception):
        pass

    calls = {"n": 0}

    def inject(stage):
        if stage == "pre_commit":
            calls["n"] += 1
            if calls["n"] == 3:  # die mid-stream at the 3rd epoch's worst point
                raise Boom()

    job = _job(tmp_path, "killed")
    with pytest.raises(Exception):
        run_ingest(spark, job, fault_injector=inject)
    # resume from the same checkpoint — epoch 2 is re-delivered and applied
    table = run_ingest(spark, job)
    assert _table_digests(spark, table) == ctrl_digests
    # and a second resume is a pure no-op (all fences committed)
    v = table.version
    table = run_ingest(spark, job)
    assert table.version == v


def test_schema_evolution_mid_stream_and_restart(spark, tmp_path):
    """Segments written BEFORE evolution are drained first; the stream is
    then resumed after evolved segments (+lang) appear: the registry bumps
    at the restart boundary and old rows read back with lang nulls."""
    spec = EventLogSpec(seed=33, n_events=3000, n_repos=25, paths_per_repo=10, p_delete=0.05, n_files=6, evolve_at=0.5)
    # write only the pre-evolution half first
    import pandas as pd

    from etlframwork_spark.events import _make_events_frame, _write_segment

    df = _make_events_frame(spec)
    events_dir = tmp_path / "events"
    events_dir.mkdir()
    cut = len(df) // 2
    for i, lo in enumerate(range(0, cut, 750)):
        _write_segment(df.iloc[lo : min(lo + 750, cut)].drop(columns=["lang"]), str(events_dir / f"events-{i:05d}.parquet"), False)
    job = _job(tmp_path, "evolve")
    table = run_ingest(spark, job)
    assert table.meta["current_schema_id"] == 0
    # evolved segments arrive; resume the same checkpoint
    for j, lo in enumerate(range(cut, len(df), 750)):
        _write_segment(df.iloc[lo : min(lo + 750, len(df))], str(events_dir / f"events-{10+j:05d}.parquet"), True)
    table = run_ingest(spark, job)
    assert table.meta["current_schema_id"] == 1
    seg1 = df.iloc[:cut].copy()
    seg1["lang"] = None
    oracle = apply_oracle(pd.concat([seg1, df.iloc[cut:]], ignore_index=True))
    got = {(r["repo"], r["path"]): r for r in table.read(spark).collect()}
    assert set(got) == set(oracle)
    for k, want in oracle.items():
        assert got[k]["content_sha256"] == hashlib.sha256(want["content"].encode()).hexdigest()
        assert got[k]["lang"] == want["lang"]
