"""The library plan memo (plans/serving.py): per-problem query families on a
whole-snapshot read reuse their built DataFrame while the snapshot is the
same, and build afresh for any other input."""

from __future__ import annotations

import re
import subprocess
import sys
import textwrap
import threading
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

import pytest
from pyspark import StorageLevel
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

from .conftest import N_IMPLS, N_PROBLEMS

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
        assert not (a.is_cached or b.is_cached), name  # nor persisted


def test_plans_with_exchanges_are_never_memoized(lh):
    obs = lh.table("observations")
    code, tests = lh.table("code_implementations"), lh.table("tests")
    before = plan_memo_stats()
    # corpus-wide plans shuffle: a re-run would reuse the earlier run's
    # shuffle output
    for name, build in _families(lambda: obs, lambda: code, lambda: tests, problem_id=None).items():
        a, b = build(), build()
        assert a is not b, name
        assert not (a.is_cached or b.is_cached), name  # nor persisted
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
    the memo and answers from the new session, and evicting the stopped
    session's persisted result does not raise."""
    script = textwrap.dedent(
        f"""
        from pyspark.sql import SparkSession
        from observation_lakehouse_spark.lakehouse import ObservationLakehouse
        from observation_lakehouse_spark.operators import behavioral_clustering
        from observation_lakehouse_spark.plans import serving
        from observation_lakehouse_spark.plans.serving import plan_memo_stats
        from observation_lakehouse_spark.schemas import OBSERVATIONS_SCHEMA
        from tests.conftest import observation_rows

        # one entry: the new session's plan evicts the stopped session's
        serving._PLANS = serving.QueryCache(maxsize=1)

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
        assert new.is_cached and not old.is_cached  # released without raising
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


# -- the result memo: a memoized plan persists its answer ----------------------


@pytest.fixture()
def fresh_memo(spark, monkeypatch):
    """An empty plan memo over an empty Spark cache: every first call of a
    key misses and caches its answer anew."""
    spark.catalog.clearCache()
    monkeypatch.setattr(serving, "_PLANS", QueryCache())
    yield
    spark.catalog.clearCache()


def _persisted(spark):
    return {int(i) for i in spark.sparkContext._jsc.getPersistentRDDs().keySet()}


def _cached(spark):
    """{rdd id: (cached bytes, cached partitions)} of the RDDs holding
    blocks (``getRDDStorageInfo``)."""
    return {
        r.id(): (r.memSize() + r.diskSize(), r.numCachedPartitions())
        for r in spark.sparkContext._jsc.sc().getRDDStorageInfo()
    }


def _run(spark, df, group):
    """Rows of one run of ``df``, its Spark job count and the bytes and
    records its stages read, from the status store."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        rows = df.collect()
    finally:
        sc._jsc.clearJobGroup()
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty(10_000)
    store = jsc.statusStore()
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    read = [0, 0]
    for job in jobs:
        stages = store.job(job).stageIds()
        for i in range(stages.size()):
            st = store.lastStageAttempt(stages.apply(i))
            if st.status().toString() != "SKIPPED":
                read[0] += st.inputBytes()
                read[1] += st.inputRecords()
    return rows, len(jobs), tuple(read)


def _snapshot_families(lh, problem_id):
    return _families(
        lambda: lh.table("observations"),
        lambda: lh.table("code_implementations"),
        lambda: lh.table("tests"),
        problem_id=problem_id,
    )


def test_miss_persists_the_result_and_a_hit_reads_only_its_cache(spark, lh, fresh_memo):
    """A miss stores a frame persisted at MEMORY_ONLY, and its first run
    caches the answer. A hit is then one job whose every input byte is a
    cached block of that answer: the status store reports no file input."""
    for name, build in _snapshot_families(lh, "p_002").items():
        misses = plan_memo_stats()["misses"]
        df = build()
        assert plan_memo_stats()["misses"] == misses + 1, name
        assert df.is_cached, name
        assert df.storageLevel == StorageLevel.MEMORY_ONLY, (name, df.storageLevel)
        before = _cached(spark)
        want = df.collect()
        new = {i: c for i, c in _cached(spark).items() if i not in before}
        assert len(new) == 1, (name, new)  # consensus reads clustering's cache
        (cached_bytes, batches), = new.values()
        again = build()
        assert again is df, name
        rows, jobs, read = _run(spark, again, f"result-memo-hit-{name}")
        assert rows == want, name
        assert jobs == 1, name
        assert read == (cached_bytes, batches), (name, read, cached_bytes, batches)


def test_lru_eviction_unpersists_the_evicted_result(spark, lh, fresh_memo, monkeypatch):
    monkeypatch.setattr(serving, "_PLANS", QueryCache(maxsize=2))
    obs = lh.table("observations")
    frames, rdds = {}, {}
    for p in ("p_000", "p_001"):
        before = _persisted(spark)
        frames[p] = behavioral_clustering(obs, problem_id=p, data_set_id="DSA")
        frames[p].collect()
        (rdds[p],) = _persisted(spark) - before
    behavioral_clustering(obs, problem_id="p_002", data_set_id="DSA")  # evicts p_000
    assert not frames["p_000"].is_cached
    assert frames["p_000"].storageLevel == StorageLevel.NONE
    assert rdds["p_000"] not in _persisted(spark)
    assert frames["p_001"].storageLevel == StorageLevel.MEMORY_ONLY
    assert rdds["p_001"] in _persisted(spark)
    # the table format's memoized reads share the class but are never
    # persisted: evicting one leaves it as it is
    reads = QueryCache(maxsize=1)
    first = reads.get("read", 1, lambda: lh.table("tests"))
    reads.get("read", 2, lambda: lh.table("tests").select("*"))
    assert not first.is_cached and len(reads) == 1


def test_racing_misses_leave_one_persisted_result(spark, lh, fresh_memo, monkeypatch):
    """Eight threads on one key, more than the cores, with a short switch
    interval, each held after its build until all eight have built, so all
    eight miss: one stored frame, every thread its rows, one persisted RDD,
    and the stored frame's cache survives the seven losing frames."""
    built = threading.Barrier(8)

    class RacingCache(QueryCache):
        def get(self, family, params, builder):
            def build():
                df = builder()
                built.wait(timeout=300)
                return df

            return super().get(family, params, build)

    monkeypatch.setattr(serving, "_PLANS", RacingCache())
    expect = behavioral_clustering(
        lh.table("observations").select("*"), problem_id="p_001", data_set_id="DSA"
    ).collect()
    before = _persisted(spark)
    start = threading.Barrier(8)

    def call(_):
        start.wait()
        df = behavioral_clustering(lh.table("observations"), problem_id="p_001", data_set_id="DSA")
        return df, df.collect()

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(8) as pool:
            results = list(pool.map(call, range(8), timeout=600))
    finally:
        sys.setswitchinterval(interval)
    assert plan_memo_stats()["misses"] == 8
    assert len({id(df) for df, _ in results}) == 1
    assert all(rows == expect for _, rows in results)
    assert len(_persisted(spark) - before) == 1
    assert results[0][0].storageLevel == StorageLevel.MEMORY_ONLY


def test_memoized_frame_after_clear_cache_answers_and_leaks_nothing(spark, lh, fresh_memo):
    """``spark.catalog.clearCache()`` drops every cached answer behind the
    memo's back. A memoized frame still answers correctly, and its runs
    leave no persisted RDD that no cache entry tracks."""
    frames = _snapshot_families(lh, "p_003")
    want = {name: build().collect() for name, build in frames.items()}
    spark.catalog.clearCache()
    # what survives the clear was persisted outside the cache manager (an
    # earlier test's localCheckpoint, say)
    kept = _persisted(spark)
    for name, build in frames.items():
        for _ in range(2):
            assert build().collect() == want[name], name
    assert _persisted(spark) == kept and set(_cached(spark)) <= kept


@pytest.mark.parametrize("problem", [f"p_{p:03d}" for p in range(N_PROBLEMS)])
def test_miss_hit_and_fresh_build_return_identical_rows(spark, lh, fresh_memo, problem):
    """Differential: for every problem and family, the miss (which caches
    the answer), the hit (which reads it) and a non-memoized build return
    the same rows in the same order."""
    fresh = _families(
        lambda: lh.table("observations").select("*"),
        lambda: lh.table("code_implementations").select("*"),
        lambda: lh.table("tests").select("*"),
        problem_id=problem,
    )
    for name, build in _snapshot_families(lh, problem).items():
        miss = build().collect()
        hit = build().collect()
        assert miss == hit == fresh[name]().collect(), name


def test_consensus_miss_reads_the_cached_clustering(spark, lh, fresh_memo):
    """``consensus_oracle`` is the memoized clustering plus ``limit(1)``: a
    consensus miss after the clustering is cached reads only cached blocks,
    and answers like a non-memoized build."""
    obs = lh.table("observations")
    before = _cached(spark)
    clustering = behavioral_clustering(obs, problem_id="p_002", data_set_id="DSA")
    clustering.collect()
    ((clu_bytes, _),) = (c for i, c in _cached(spark).items() if i not in before)
    before = _cached(spark)
    consensus = consensus_oracle(obs, problem_id="p_002", data_set_id="DSA")
    rows, _, (read_bytes, _) = _run(spark, consensus, "consensus-miss")
    ((con_bytes, _),) = (c for i, c in _cached(spark).items() if i not in before)
    # the miss caches consensus from clustering's blocks, then reads its own
    assert read_bytes == clu_bytes + con_bytes, (read_bytes, clu_bytes, con_bytes)
    fresh = consensus_oracle(obs.select("*"), problem_id="p_002", data_set_id="DSA")
    assert rows == fresh.collect() == clustering.collect()[:1]
