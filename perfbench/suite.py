"""Query-suite workload: the 17 headline legs of ``bench.py`` over the
suite fixture (suitedata.py), each written to the noop sink.

One untimed pass collects every leg's result for the correctness gate
(and warms the query paths); then ``passes`` timed passes run every leg
in an order permuted by the seed. Gate: the 15 legs with a DuckDB oracle
must match it (gate.compare_tables); ``emb_ann_lsh`` and
``multimodal_feature_extract`` have none and must reproduce the row
count and row-multiset digest recorded for the fixture.
"""

from __future__ import annotations

import gc
import json
import os

import numpy as np
import pyarrow.parquet as pq

import suitedata
from core import Run, p50, setup
from gate import compare_tables, multiset_digest
from spans import in_window, status_stages

OPERATOR_LEGS = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_region_revenue",
    "filter_project_pushdown",
    "lww_dedup_events",
    "window_rank_orders",
    "rollup_order_metrics",
    "topk_hot_users",
    "json_extract_events",
]
FUNCTION_LEGS = [
    "docs_token_stats",
    "docs_exact_dedup",
    "docs_dedup_keepers",
    "docs_dedup_pipeline",
    "docs_quality_fingerprint",
    "emb_cosine_topk",
    "emb_ann_lsh",
    "multimodal_feature_extract",
]
LEGS = OPERATOR_LEGS + FUNCTION_LEGS
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()
# one timed pass per 20 s of --seconds: a pass takes about 12 s on a
# 4-core host and the untimed gate pass before the first about as long
PASS_COST_S = 20.0


def layer_of(leg: str) -> str:
    return "operators" if leg in OPERATOR_LEGS else "functions"


def resolve(name: str):
    """Registry query, or a plain function demoted from the registry."""
    from etlframwork_spark.functions import dedup, similarity
    from etlframwork_spark.operators import QUERIES

    if name in QUERIES:
        return QUERIES[name]
    for mod in (similarity, dedup):
        if hasattr(mod, name):
            return getattr(mod, name)
    raise KeyError(name)


def _atomic_write(path: str, write) -> None:
    tmp = path + ".tmp"
    write(tmp)
    os.replace(tmp, path)


def _dump(obj, path: str) -> None:
    with open(path, "w") as f:
        json.dump(obj, f)


def fixture(run: Run) -> str:
    """The fixture's cache directory: tables, DuckDB answers, digests."""
    cache = os.path.join(run.root, ".perfbench_cache", f"suite-{suitedata.fixture_key()}")
    data = os.path.join(cache, "data")
    if not all(os.path.exists(os.path.join(data, f"{t}.parquet")) for t in TABLES):
        suitedata.generate(data)
    return cache


def duckdb_answers(cache: str) -> dict:
    """DuckDB answer of every oracle-paired leg, computed once per
    fixture and kept as parquet beside it."""
    import duckdb
    from etlframwork_spark.operators import ORACLES

    adir = os.path.join(cache, "answers")
    os.makedirs(adir, exist_ok=True)
    out = {}
    con = None
    for leg in LEGS:
        if leg not in ORACLES:
            continue
        path = os.path.join(adir, f"{leg}.parquet")
        if not os.path.exists(path):
            if con is None:
                con = duckdb.connect()
                for t in TABLES:
                    con.sql(
                        f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{cache}/data/{t}.parquet')"
                    )
            table = con.sql(ORACLES[leg]).arrow()
            _atomic_write(path, lambda p, t=table: pq.write_table(t, p))
        out[leg] = pq.read_table(path)
    if con is not None:
        con.close()
    return out


def run_suite(run: Run) -> None:
    cache = fixture(run)
    data = os.path.join(cache, "data")
    answers = duckdb_answers(cache)
    digest_path = os.path.join(cache, "digests.json")
    known = {}
    if os.path.exists(digest_path):
        with open(digest_path) as f:
            known = json.load(f)

    def warmup(spark) -> None:
        resolve("q1_pricing_summary")(spark, data).write.format("noop").mode("overwrite").save()

    spark = setup(run, warmup)
    # untimed pass: results for the gate; also warms each query path
    digests = {}
    for leg in LEGS:
        _, got = run.op(f"leg.collect.{leg}", lambda leg=leg: resolve(leg)(spark, data).toArrow())
        if got is None:
            continue
        if leg in answers:
            run.check(f"{leg} vs DuckDB", compare_tables(got, answers[leg]))
        else:
            digests[leg] = [got.num_rows, multiset_digest(got)]
    for leg, d in digests.items():
        if leg not in known:
            # first run on this fixture: a second execution must agree
            again = resolve(leg)(spark, data).toArrow()
            known[leg] = [again.num_rows, multiset_digest(again)]
        problems = [] if d == known[leg] else [f"rows/digest {d} != recorded {known[leg]}"]
        run.check(f"{leg} repeatable", problems)
    if len(known) == len(digests) and not os.path.exists(digest_path):
        _atomic_write(digest_path, lambda p: _dump(known, p))

    # start the timed passes from a collected heap on both sides
    gc.collect()
    spark.sparkContext._jvm.System.gc()
    passes = max(1, round(run.seconds / PASS_COST_S))
    rng = np.random.default_rng(run.seed)
    per_leg: dict[str, list[float]] = {leg: [] for leg in LEGS}
    totals = []
    for i in range(passes):
        total = 0.0
        for leg in [LEGS[j] for j in rng.permutation(len(LEGS))]:
            dur, _ = run.op(
                f"{layer_of(leg)}.{leg}",
                lambda leg=leg: resolve(leg)(spark, data).write.format("noop").mode("overwrite").save(),
            )
            if dur is not None:
                per_leg[leg].append(dur)
                total += dur
        totals.append(total)
    run.timing("suite_s", totals)
    run.metric("work_s", sum(totals), "s", passes)
    run.metric("work_cpu_s", run.ops_cpu_s("operators.", "functions."), "s", passes)
    for leg, xs in per_leg.items():
        run.metric(f"leg.{leg}_s", p50(xs), "s", len(xs))
    if run.trace:
        stages = run.stages = status_stages(spark)
        for leg in LEGS:
            sp = run.tracer.named(f"{layer_of(leg)}.{leg}")
            run.layer(f"{layer_of(leg)}.{leg}_s", p50([s.dur for s in sp]), "s", len(sp))
            if layer_of(leg) == "functions":
                st = [s for x in sp for s in in_window(stages, x)]
                run_s = sum(s["run_s"] for s in st)
                ratio = sum(s["cpu_s"] for s in st) / run_s if run_s > 0 else 0.0
                run.layer(f"functions.{leg}.cpu_ratio", ratio, "ratio", len(st))
