"""No-per-row-Python lint (SURVEY.md §5.8; BASELINE.json:6/15 mandate all
transform logic as vectorized pandas/Arrow UDFs — never row-at-a-time
Python on data paths)."""

from __future__ import annotations

import os
import re

ENGINE = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "etlframwork_spark")

BANNED = [
    (re.compile(r"\bF\.udf\s*\("), "row-at-a-time F.udf"),
    (re.compile(r"@udf\b"), "row-at-a-time @udf"),
    (re.compile(r"\bimport\s+udf\b"), "udf import"),
    (re.compile(r"\.rdd\b"), "RDD drop-down"),
    (re.compile(r"\.toPandas\s*\("), "driver-side toPandas materialization"),
    (re.compile(r"\.foreach\s*\("), "per-row foreach"),
    (re.compile(r"\.first\s*\("), "driver-side first() probe"),
    (re.compile(r"\.head\s*\("), "driver-side head() probe"),
]

# .collect() is allowed ONLY for O(#buckets)/O(#files)/O(model) metadata,
# never data rows
COLLECT_ALLOWED = {
    "merge.py",  # bucket-stat / bucket-count probe rows (<= num_buckets)
    # trained IVF centroids (K rows — the model), and round 7's
    # cosine_topk query matrix (O(#queries) — the exact driver footprint
    # the former F.broadcast of the query side already implied)
    "similarity.py",
    # verified dup-pair graph, gated by an EXACT count() <=
    # SMALL_GRAPH_MAX_EDGES before collecting; larger graphs take the
    # distributed CC loop (strategy equality pinned in tests/test_dedup.py)
    "dedup.py",
}


def _engine_files():
    for dirpath, _d, files in os.walk(ENGINE):
        for f in files:
            if f.endswith(".py"):
                yield os.path.join(dirpath, f)


def test_no_per_row_python_in_engine():
    problems = []
    for path in _engine_files():
        with open(path) as fh:
            src = fh.read()
        for rx, why in BANNED:
            if rx.search(src):
                problems.append(f"{path}: {why}")
    assert not problems, problems


def test_collect_confined_to_metadata_paths():
    problems = []
    for path in _engine_files():
        base = os.path.basename(path)
        with open(path) as fh:
            src = fh.read()
        if ".collect()" in src and base not in COLLECT_ALLOWED:
            problems.append(path)
    assert not problems, f"collect() outside metadata paths: {problems}"


# The LWW rule (order columns, delete-beats-live priority, max_by winner)
# lives in lww.py only; any other engine file growing its own copy is the
# drift that once made three implementations disagree.
LWW_COPIES = [
    (re.compile(r"\bmax_by\("), "max_by( aggregate"),
    (re.compile(r"""["']commit["']\s+in\b"""), '"commit" in ... order derivation'),
]


def test_lww_rule_only_in_lww_module():
    problems = []
    for path in _engine_files():
        if os.path.basename(path) == "lww.py":
            continue
        with open(path) as fh:
            src = fh.read()
        for rx, why in LWW_COPIES:
            if rx.search(src):
                problems.append(f"{path}: {why}")
    assert not problems, problems


# The physical bucket write (bucket column, hash spread, zstd partitionBy,
# file listing) lives in SnapshotTable.write_buckets only; every rewrite
# path calls it, so no engine file but table.py may partition by bucket.
def test_bucket_write_only_in_table_module():
    problems = []
    for path in _engine_files():
        if os.path.basename(path) == "table.py":
            continue
        with open(path) as fh:
            if ".partitionBy(BUCKET_COL" in fh.read():
                problems.append(path)
    assert not problems, problems
