"""The benchmark's own tests: its correctness gate must trip on a wrong
answer (negative controls: a flipped stored digest, corrupt content under
a valid stored digest, a wrong ``lang`` or lsn, missing rows), and the
command must refuse to run without the engine.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys

import pyarrow as pa
import pytest

from cdc import gate_columns
from gate import compare_state, compare_tables, multiset_digest, oracle_expect

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)


def _flip(sha: str) -> str:
    return ("0" if sha[0] != "0" else "1") + sha[1:]


@pytest.fixture(scope="module")
def ingested(tmp_path_factory):
    """A small replay through the engine: (engine rows, oracle expectation)."""
    from etlframwork_spark.events import EventLogSpec, apply_oracle, generate_event_log, read_log_pandas
    from etlframwork_spark.session import build_session
    from etlframwork_spark.streaming.ingest import IngestJob, run_ingest

    work = tmp_path_factory.mktemp("gate")
    spec = EventLogSpec(seed=3, n_events=3_000, n_repos=30, paths_per_repo=10, n_files=3,
                        evolve_at=0.5, duplicate_ratio=0.05)
    generate_event_log(str(work / "events"), spec)
    spark = build_session(master="local[2]", app_name="perfbench-gate-test", shuffle_partitions=4)
    try:
        table = run_ingest(spark, IngestJob(
            job_id="gate", events_dir=str(work / "events"), table_root=str(work / "table"),
            checkpoint_dir=str(work / "ckpt"), num_buckets=4, write_mode="mor",
        ))
        rows = [tuple(r) for r in gate_columns(table.read(spark)).collect()]
    finally:
        spark.stop()
    return rows, oracle_expect(apply_oracle(read_log_pandas(str(work / "events"))))


def test_engine_state_passes_the_gate(ingested):
    rows, expect = ingested
    assert compare_state(rows, expect) == []


def _corrupt(rows, i, **change):
    """Rows with one field of row ``i`` replaced."""
    names = ["repo", "path", "content", "content_sha256", "lang", "lsn"]
    bad = list(rows)
    bad[i] = tuple(change.get(n, v) for n, v in zip(names, bad[i]))
    return bad, (bad[i][0], bad[i][1])


def _trips_once(bad, key, expect):
    problems = compare_state(bad, expect)
    return len(problems) == 1 and str(key) in problems[0]


def test_one_flipped_content_sha256_trips_the_gate(ingested):
    rows, expect = ingested
    i = len(rows) // 2
    assert _trips_once(*_corrupt(rows, i, content_sha256=_flip(rows[i][3])), expect)


def test_corrupt_content_under_a_valid_stored_sha_trips_the_gate(ingested):
    rows, expect = ingested
    i = len(rows) // 3
    assert _trips_once(*_corrupt(rows, i, content=rows[i][2] + " "), expect)
    assert _trips_once(*_corrupt(rows, i, content=None), expect)


def test_wrong_lang_trips_the_gate(ingested):
    rows, expect = ingested
    evolved = [i for i, r in enumerate(rows) if r[4] is not None]
    plain = [i for i, r in enumerate(rows) if r[4] is None]
    assert evolved and plain  # the log evolves halfway: both kinds of rows
    assert _trips_once(*_corrupt(rows, evolved[0], lang=None), expect)
    assert _trips_once(*_corrupt(rows, plain[0], lang="rust"), expect)


def test_wrong_lsn_trips_the_gate(ingested):
    rows, expect = ingested
    assert _trips_once(*_corrupt(rows, 0, lsn=rows[0][5] + 1), expect)


def test_missing_and_extra_rows_trip_the_gate(ingested):
    rows, expect = ingested
    assert compare_state(rows[1:], expect)
    assert compare_state(rows + [("org0/none", "x.py", "", "0" * 64, None, 1)], expect)


def test_duckdb_compare_tolerates_last_ulp_only():
    want = pa.table({"k": pa.array([1, 2], pa.int64()), "v": [0.1 + 0.2, 1.0]})
    ulp = pa.table({"v": [1.0, 0.30000000000000004 + 5.6e-17], "k": pa.array([2, 1], pa.int64())})
    assert compare_tables(ulp, want) == []
    assert compare_tables(pa.table({"k": pa.array([1, 3], pa.int64()), "v": [0.3, 1.0]}), want)
    assert compare_tables(pa.table({"k": pa.array([1, 2], pa.int64()), "v": [0.31, 1.0]}), want)
    assert compare_tables(pa.table({"k": pa.array([1, 2], pa.int32()), "v": [0.3, 1.0]}), want)


def test_multiset_digest_ignores_row_order_only():
    a = pa.table({"x": [1, 2, 3], "y": ["a", "b", "c"]})
    b = pa.table({"y": ["c", "a", "b"], "x": [3, 1, 2]})
    assert multiset_digest(a) == multiset_digest(b)
    assert multiset_digest(a) != multiset_digest(pa.table({"x": [1, 2, 4], "y": ["a", "b", "c"]}))


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path / "BENCHMARK.json")
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "cdc_mor_hot", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=170,
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
