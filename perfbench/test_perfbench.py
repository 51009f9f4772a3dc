"""Self-tests of the benchmark (not of the program it measures).

    python3 -m pytest perfbench/test_perfbench.py

The generator tests are pure Python. The sink and planted-error tests start
a local Spark session; the planted-error test runs the ``curate`` workload
end to end (about a minute on 4 cores).
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import compare  # noqa: E402
import gen  # noqa: E402


# -- seeded generator --------------------------------------------------------
@pytest.mark.parametrize("workload", ["lake", "curate"])
def test_same_seed_same_bytes(workload):
    assert gen.digest(workload, 7) == gen.digest(workload, 7)
    assert gen.digest(workload, 7) != gen.digest(workload, 8)


def _lake_shape(seed):
    inp = gen.lake_inputs(seed)
    shape = []
    for model in (inp["cow_model"], inp["mor_model"]):
        shape.append([(len(model.states[ts][0]), len(model.deleted[ts])) for ts in model.commits])
    cow = inp["cow_model"]
    c4 = cow.commits[3]
    shape.append({r["l_returnflag"] for r in cow.deleted[c4].values()})  # clustered delete
    return shape


def test_lake_seeds_keep_sizes_and_properties():
    a, b = _lake_shape(1), _lake_shape(2)
    assert a == b
    assert a[2] == {"R"}
    cow_rows = [n for n, _d in a[0]]
    deleted = [d for _n, d in a[0]]
    # delete selectivity bands: 0.1%, 5% clustered, 20%
    assert [round(d / n, 3) for d, n in zip(deleted[2:], cow_rows[1:4])] == [0.001, 0.05, 0.2]


def test_curate_seeds_keep_duplicate_shares():
    p = gen.PROPERTIES["curate"]
    for seed in (1, 2, 408):  # 408 once drew a near duplicate equal to its original
        for batch in gen.curate_inputs(seed)["batches"]:
            n = len(batch["docs"])
            assert n == p["docs_per_batch"]
            texts = [t for _i, t in batch["docs"]]
            assert n - len(set(texts)) == int(n * p["exact_duplicate_share"])
            near = len(batch["after_exact"]) - len(batch["after_minhash"])
            assert near == int(n * p["near_duplicate_share"])
            assert len(batch["contaminated"]) == int(n * p["contaminated_share"])
            lo, hi = p["words_per_doc"]
            assert all(lo <= len(t.split()) <= hi for t in texts)


def test_curate_unrelated_docs_stay_far_below_minhash_threshold():
    """Only planted near duplicates may reach the 0.8 Jaccard threshold, or
    the survivors of MinHash dedup would not be the ones the generator
    records."""
    batch = gen.curate_inputs(1)["batches"][0]
    text = dict(batch["docs"])
    survivors = [text[i] for i in batch["after_minhash"]]
    worst = max(gen._jaccard(a, b) for i, a in enumerate(survivors) for b in survivors[i + 1:])
    assert worst < 0.5


# -- like-with-like comparison ----------------------------------------------
def _rec(workload, cpus, trace, value):
    return {"stamps": {"workload": workload, "cpus": cpus, "sizes": {"rows": 1}, "trace": trace},
            "result": {"metrics": {"ops_per_s": {"value": value, "unit": "1/s"}}}}


def test_compare_refuses_unlike_records():
    report, refused = compare.compare([_rec("lake", 4, False, 1.0)], [_rec("lake", 32, False, 2.0)])
    assert not report and "cpus differs" in refused[0]
    report, refused = compare.compare([_rec("lake", 4, False, 1.0)], [_rec("lake", 4, True, 2.0)])
    assert not report and "trace differs" in refused[0]
    report, refused = compare.compare([_rec("lake", 4, False, 1.0)], [_rec("lake", 4, False, 2.0)])
    assert not refused and report["lake"]["ops_per_s"]["ratio"] == 2.0


# -- Spark-backed checks -----------------------------------------------------
@pytest.fixture(scope="module")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (os.path.dirname(HERE), os.environ.get("PYTHONPATH")) if p)
    from hudi_delete_view_spark.session import get_spark

    s = get_spark()
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def test_sink_computes_every_aggregate(spark):
    """The count() trap: under df.count() Catalyst prunes the aggregates a
    count does not need; the noop sink must execute all eight."""
    from pyspark.sql import functions as F

    import checks

    df = spark.range(2000).select(
        (F.col("id") % 3).alias("flag"), (F.col("id") % 2).alias("status"),
        F.col("id").cast("double").alias("qty"), (F.col("id") * 1.5).alias("price"),
        (F.col("id") % 10 / 100.0).alias("disc"))
    q1 = df.groupBy("flag", "status").agg(
        F.sum("qty"), F.sum("price"), F.sum(F.col("price") * (1 - F.col("disc"))),
        F.sum(F.col("price") * (1 - F.col("disc")) * 1.08), F.avg("qty"), F.avg("price"),
        F.avg("disc"), F.count(F.lit(1)))
    checks.sink(q1)
    assert checks.most_aggregates(checks.last_execution_plan(spark)) == 8
    q1.count()
    assert checks.most_aggregates(checks.last_execution_plan(spark)) < 8


def test_planted_wrong_expectation_counts_as_error(spark):
    import run

    record = run.run("curate", seed=5, seconds=0.1, trace=False, plant_wrong=True)
    assert record["report"]["metrics"]["error_rate"]["value"] > 0
    assert record["result"]["failed"] > 0 and record["result"]["correct"] is False
