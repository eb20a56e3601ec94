"""The library plan memo (plans/serving.py): per-problem query families on a
whole-snapshot read reuse their built DataFrame while the snapshot is the
same, and build afresh for any other input."""

from __future__ import annotations

import re
import subprocess
import sys
import textwrap
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from observation_lakehouse_spark.lakehouse import ObservationLakehouse
from observation_lakehouse_spark.operators import (
    behavioral_clustering,
    consensus_oracle,
    srm_output_view,
    three_way_join,
)
from observation_lakehouse_spark.plans import serving
from observation_lakehouse_spark.plans.serving import QueryCache, plan_memo_stats

from .conftest import N_IMPLS

IMPLS = [f"impl_{i:02d}_original_0" for i in range(N_IMPLS)]


def _families(obs, code, tests, problem_id="p_001"):
    kw = {"problem_id": problem_id, "data_set_id": "DSA"}
    return {
        "srm": lambda: srm_output_view(obs(), implementation_ids=IMPLS, **kw),
        "clu": lambda: behavioral_clustering(obs(), **kw),
        "con": lambda: consensus_oracle(obs(), **kw),
        "twj": lambda: three_way_join(obs(), code(), tests(), **kw),
    }


def _rows(df):
    return sorted(map(repr, df.collect()))


@pytest.fixture(scope="module")
def lh(spark, observations, code_implementations, tests_table, tmp_path_factory):
    lh = ObservationLakehouse(
        spark,
        database="olake_plan_memo",
        table_format="atomic",
        location=str(tmp_path_factory.mktemp("plan_memo")),
    )
    lh.append_observations(observations)
    lh.append_code_implementations(code_implementations)
    lh.append_tests(tests_table)
    return lh


def test_repeat_call_reuses_plan_and_matches_fresh_build(lh):
    table = lh.table
    memo = _families(
        lambda: table("observations"),
        lambda: table("code_implementations"),
        lambda: table("tests"),
    )
    # a derived frame of the same snapshot bypasses the memo: a fresh build
    fresh = _families(
        lambda: table("observations").select("*"),
        lambda: table("code_implementations").select("*"),
        lambda: table("tests").select("*"),
    )
    for name, build in memo.items():
        first = build()
        before = plan_memo_stats()
        again = build()
        after = plan_memo_stats()
        assert again is first, name
        assert after["hits"] == before["hits"] + 1, name
        assert _rows(again) == _rows(fresh[name]()), name
        assert _rows(again) == _rows(first), name  # a second run of the plan


def test_append_misses_and_includes_new_rows(spark, lh, observations):
    obs = lambda: lh.table("observations")  # noqa: E731
    before = srm_output_view(obs(), problem_id="p_002", data_set_id="DSA")
    assert srm_output_view(obs(), problem_id="p_002", data_set_id="DSA") is before
    n_impls = len(before.columns) - 2
    new_impl = observations.filter(
        (F.col("problem_id") == "p_002") & (F.col("implementation_id") == IMPLS[0])
    ).withColumn("implementation_id", F.lit("impl_99_new_0"))
    lh.append_observations(new_impl)
    after = srm_output_view(obs(), problem_id="p_002", data_set_id="DSA")
    assert after is not before
    assert len(after.columns) - 2 == n_impls + 1
    assert "impl_99_new_0" in after.columns and after.count() == before.count()


def test_non_snapshot_inputs_are_never_memoized(spark, lh, observations, tmp_path):
    path = str(tmp_path / "obs")
    observations.write.partitionBy("data_set_id", "problem_id").parquet(path)
    catalog = ObservationLakehouse(spark, database="olake_plan_memo_pq")
    catalog.create_observations_table()
    catalog.append_observations(observations)
    inputs = {
        "parquet path": lambda: spark.read.parquet(path),
        "catalog table": lambda: catalog.table("observations"),
        "filtered snapshot": lambda: lh.table("observations").filter("step_id >= 0"),
        "user frame": lambda: observations,
    }
    for name, obs in inputs.items():
        before = plan_memo_stats()
        a = behavioral_clustering(obs(), problem_id="p_000", data_set_id="DSA")
        b = behavioral_clustering(obs(), problem_id="p_000", data_set_id="DSA")
        assert a is not b, name
        assert plan_memo_stats() == before, name


def test_plans_with_exchanges_are_never_memoized(lh):
    obs = lh.table("observations")
    code, tests = lh.table("code_implementations"), lh.table("tests")
    before = plan_memo_stats()
    # corpus-wide plans shuffle: a re-run would reuse the earlier run's
    # shuffle output
    for name, build in _families(lambda: obs, lambda: code, lambda: tests, problem_id=None).items():
        assert build() is not build(), name
    assert plan_memo_stats() == before


def _exchanges(df):
    """Exchange operators of ``df``'s executed plan (the final plan when
    adaptive), in plan order."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return re.findall(r"\b(\w*Exchange)\b", plan.split("== Initial Plan ==")[0])


def _jobs_of_one_run(spark, df, group):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        df.collect()
    finally:
        sc._jsc.clearJobGroup()
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("source", ["snapshot", "parquet path"])
def test_problem_scoped_plans_have_no_shuffle_and_rerun_in_one_job(spark, lh, source, tmp_path):
    """The plan contract the memo relies on, for every family: a
    problem-scoped plan has no shuffle exchange (the join's two dimension
    broadcasts are its only exchanges), and a second run of the returned
    frame is ONE Spark job. On a whole-snapshot read the returned frame is
    the memoized one."""
    names = ("observations", "code_implementations", "tests")
    if source == "snapshot":
        table = lh.table
    else:
        for name in names:
            lh.table(name).write.partitionBy("data_set_id", "problem_id").parquet(
                str(tmp_path / name)
            )
        table = lambda name: spark.read.parquet(str(tmp_path / name))  # noqa: E731
    families = _families(*(lambda name=name: table(name) for name in names))
    for name, build in families.items():
        df = build()
        assert (build() is df) == (source == "snapshot"), name
        df.collect()
        want = ["BroadcastExchange"] * 2 if name == "twj" else []
        assert _exchanges(df) == want, (name, df._jdf.queryExecution().executedPlan().toString())
        assert _jobs_of_one_run(spark, df, f"plan-contract-{source}-{name}") == 1, name


def test_lru_bound_evicts(lh, monkeypatch):
    monkeypatch.setattr(serving, "_PLANS", QueryCache(maxsize=2))
    obs = lh.table("observations")
    first = {p: behavioral_clustering(obs, problem_id=p) for p in ("p_000", "p_001")}
    assert behavioral_clustering(obs, problem_id="p_000") is first["p_000"]
    behavioral_clustering(obs, problem_id="p_002")  # evicts p_001, the LRU entry
    assert plan_memo_stats()["plans"] == 2
    assert behavioral_clustering(obs, problem_id="p_000") is first["p_000"]
    assert behavioral_clustering(obs, problem_id="p_001") is not first["p_001"]


def test_concurrent_callers_share_one_plan(lh):
    """More threads than cores with a short switch interval: every caller of
    one key gets the one stored plan and its rows, and no hit or miss is
    lost from the counters."""
    obs = lh.table("observations")
    problems = ("p_000", "p_003")
    expect = {
        p: _rows(behavioral_clustering(obs.select("*"), problem_id=p, data_set_id="DSA"))
        for p in problems
    }

    def call(i):
        p = problems[i % 2]
        df = behavioral_clustering(lh.table("observations"), problem_id=p, data_set_id="DSA")
        return p, df, _rows(df)

    before = plan_memo_stats()
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(8) as pool:
            results = list(pool.map(call, range(24), timeout=600))
    finally:
        sys.setswitchinterval(interval)
    after = plan_memo_stats()
    assert len(results) == 24
    assert after["hits"] + after["misses"] == before["hits"] + before["misses"] + 24
    for p in problems:
        frames = {id(df) for q, df, _ in results if q == p}
        assert len(frames) == 1, p
        assert all(rows == expect[p] for q, _, rows in results if q == p), p


def test_no_plan_survives_a_restarted_session(tmp_path):
    """Stop and restart the SparkSession in a separate process (the test
    session must stay up): a lakehouse re-opened on the new session misses
    the memo and answers from the new session."""
    script = textwrap.dedent(
        f"""
        from pyspark.sql import SparkSession
        from observation_lakehouse_spark.lakehouse import ObservationLakehouse
        from observation_lakehouse_spark.operators import behavioral_clustering
        from observation_lakehouse_spark.plans.serving import plan_memo_stats
        from observation_lakehouse_spark.schemas import OBSERVATIONS_SCHEMA
        from tests.conftest import observation_rows

        def session():
            return (SparkSession.builder.master("local[1]")
                    .config("spark.ui.enabled", "false")
                    .config("spark.sql.shuffle.partitions", "1").getOrCreate())

        def query(spark):
            lh = ObservationLakehouse(spark, table_format="atomic", location={str(tmp_path)!r})
            obs = lh.table("observations")
            df = behavioral_clustering(obs, problem_id="p_000", data_set_id="DSA")
            assert behavioral_clustering(obs, problem_id="p_000", data_set_id="DSA") is df
            return df, len(df.collect())

        spark = session()
        ObservationLakehouse(spark, table_format="atomic", location={str(tmp_path)!r}).append(
            "observations", spark.createDataFrame(observation_rows(), OBSERVATIONS_SCHEMA))
        old, n_old = query(spark)
        spark.stop()
        spark = session()
        new, n_new = query(spark)
        assert new is not old and n_new == n_old == 3, (n_old, n_new)
        assert plan_memo_stats()["misses"] == 2
        spark.stop()
        print("ok")
        """
    )
    root = Path(__file__).resolve().parent.parent
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=root, capture_output=True, text=True, timeout=600
    )
    assert out.returncode == 0 and out.stdout.strip().endswith("ok"), out.stderr[-3000:]
