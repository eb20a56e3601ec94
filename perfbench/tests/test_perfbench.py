"""The benchmark's own tests.

    python3 -m pytest perfbench/tests -q

The generator and answer-check tests take seconds.  ``test_run_prints_every
listed metric`` runs the real command once per workload and mode (a Spark
session each, about a minute per run).
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
import pytest

HERE = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(HERE))

import generator as gen  # noqa: E402
import verify  # noqa: E402
from workloads import Run  # noqa: E402

BENCHMARK = json.loads((HERE.parent / "BENCHMARK.json").read_text())


# -- generator ----------------------------------------------------------------


def _corpus_bytes(seed: int, tmp: Path) -> dict[str, bytes]:
    problems = gen.make_problems(seed, 4)
    tables = {
        "obs": gen.observations_table(problems, "run_0", seed),
        "code": gen.code_table(problems),
        "tests": gen.tests_table(problems),
        "export": gen.arena_export([gen.problem(seed, 4, (0.375, 0.625))], problems[:1], "exec_1", seed),
        "docs": gen.solr_docs(problems),
    }
    out = {}
    for name, table in tables.items():
        gen.write(table, str(tmp / f"{seed}-{name}"))
        out[name] = (tmp / f"{seed}-{name}" / "part-00000.parquet").read_bytes()
    return out


def test_generator_same_seed_same_inputs(tmp_path):
    a = _corpus_bytes(5, tmp_path / "a")
    b = _corpus_bytes(5, tmp_path / "b")
    c = _corpus_bytes(6, tmp_path / "c")
    assert a == b
    assert all(a[k] != c[k] for k in a)


def test_every_seed_has_the_same_shapes():
    a, b = gen.make_problems(1, 32), gen.make_problems(2, 32)
    assert [len(p.systems) for p in a] == [len(p.systems) for p in b]
    for pa_, pb in zip(a, b):  # tests x steps rounds
        assert abs(pa_.srm_rows - pb.srm_rows) <= 0.05 * pa_.srm_rows
    assert [p.values for p in a] != [p.values for p in b]


def test_generator_is_study_shaped():
    problems = gen.make_problems(1, 400)
    impls = np.array([len(p.systems) for p in problems])
    rows = np.array([p.srm_rows for p in problems])
    assert 24 <= impls.mean() <= 28 and impls.max() <= 37
    assert 550 <= rows.mean() <= 750 and 2000 < rows.max() <= 2450
    for p in problems:
        sizes = [len(m) for m in p.clusters()]
        assert sizes[0] > sizes[1], "one majority cluster"
        assert 1 in sizes, "some singletons"
        assert len(set(p.clusters())) == len(sizes), "planted clusters are distinct"


def test_arena_export_has_metadata_rows_for_new_problems_only(tmp_path):
    *new, rerun = gen.make_problems(2, 3)
    rerun = [rerun]
    table = gen.arena_export(new, rerun, "exec_3", 2).to_pandas()
    meta = table[table["Y"] == -1]
    assert set(meta["ABSTRACTIONID"]) == {p.problem_id for p in new}
    assert set(meta["TYPE"]) == {"stimulussheet", "interface"}
    assert len(table) - len(meta) == 3 * sum(p.rows_per_run for p in [*new, *rerun])
    assert [p.runs for p in rerun] == [["exec_3"]]
    path = tmp_path / "x"
    gen.write(gen.arena_export(new, [], "exec_4", 2), str(path), 1000)
    assert len(list(path.iterdir())) > 1 and pq.read_table(path).num_rows > 1000


# -- answer checks ------------------------------------------------------------
# Correct answers built from the planted truth, the shapes the program returns.


def _problem() -> gen.Problem:
    p = gen.make_problems(9, 1)[0]
    p.runs = ["run_0"]
    return p


def _srm_view(p):
    rows = []
    for t in range(p.n_tests):
        for s in range(p.n_steps):
            rows.append([p.test_ids[t], s, *(p.output(i, t, s) for i in range(len(p.systems)))])
    return pd.DataFrame(rows, columns=["test_id", "step_id", *p.impl_ids])


def _srm_map(p):
    view = _srm_view(p)
    return pd.DataFrame(
        {
            "test_id": view["test_id"],
            "step_id": view["step_id"],
            "outputs": [dict(zip(p.impl_ids, r)) for r in view[p.impl_ids].itertuples(index=False)],
        }
    )


def _clusters(p):
    members = sorted(p.clusters(), key=lambda m: (-len(m), m))
    return pd.DataFrame(
        {"equivalent_commits_cluster": [list(m) for m in members], "cluster_size": [len(m) for m in members]}
    )


def _join(p):
    n = p.rows_per_run
    return pd.DataFrame({"program_code": ["c"] * n, "test_code": ["t"] * n})


def _corrupt_cell(pdf, col):
    pdf = pdf.copy()
    pdf.at[len(pdf) // 2, col] = "corrupted"
    return pdf


def test_correct_answers_pass():
    p = _problem()
    assert verify.srm_view(_srm_view(p), p)
    assert verify.srm_map(_srm_map(p), p)
    assert verify.srm_view_equals_map(_srm_view(p), _srm_map(p))
    assert verify.clusters(_clusters(p), p)
    assert verify.clusters(_clusters(p).iloc[::-1], p, False)
    assert verify.consensus(_clusters(p).head(1), p)
    assert verify.three_way_join(_join(p), p)


@pytest.mark.parametrize(
    "name",
    ["srm_cell", "srm_row", "map_cell", "map_vs_view", "cluster_member", "cluster_order", "consensus", "join_rows", "join_code"],
)
def test_corrupted_answer_fails(name):
    p = _problem()
    impl = p.impl_ids[0]
    wrong_map = _srm_map(p)
    wrong_map.at[3, "outputs"] = {**wrong_map.at[3, "outputs"], impl: "corrupted"}
    moved = _clusters(p)
    moved.at[0, "equivalent_commits_cluster"] = moved.at[0, "equivalent_commits_cluster"][1:] + ["x"]
    ok = {
        "srm_cell": lambda: verify.srm_view(_corrupt_cell(_srm_view(p), impl), p),
        "srm_row": lambda: verify.srm_view(_srm_view(p).iloc[1:], p),
        "map_cell": lambda: verify.srm_map(wrong_map, p),
        "map_vs_view": lambda: verify.srm_view_equals_map(_srm_view(p), wrong_map),
        "cluster_member": lambda: verify.clusters(moved, p),
        "cluster_order": lambda: verify.clusters(_clusters(p).iloc[::-1], p),
        "consensus": lambda: verify.consensus(_clusters(p).tail(1), p),
        "join_rows": lambda: verify.three_way_join(_join(p).iloc[1:], p),
        "join_code": lambda: verify.three_way_join(_join(p).assign(program_code=lambda d: d["program_code"].where(d.index != 5)), p),
    }[name]()
    assert ok is False


def test_unreadable_answer_fails_without_raising():
    p = _problem()
    assert verify.srm_view(pd.DataFrame({"x": [1]}), p) is False
    assert verify.clusters(pd.DataFrame({"x": [1]}), p) is False


def test_wrong_answer_and_exception_count_as_failures(tmp_path):
    run = Run("interactive_queries", 1, 1.0, None, tmp_path)
    run.check(True, "right")
    run.check(False, "wrong")
    try:
        raise RuntimeError("boom")
    except RuntimeError:
        run.fail("raised")
    assert (run.attempted, run.failed) == (3, 2)


# -- the command ----------------------------------------------------------------


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in BENCHMARK["workloads"]])
def test_run_prints_every_listed_metric(workload, trace):
    cmd = [*BENCHMARK["command"], "--workload", workload, "--seed", "3", "--seconds", "1", "--trace", str(trace)]
    done = subprocess.run(cmd, cwd=HERE.parent, capture_output=True, text=True, timeout=300)
    assert done.returncode == 0, done.stderr[-3000:]
    last = json.loads(done.stdout.strip().splitlines()[-1])
    assert set(last) == {"correct", "attempted", "failed", "metrics"}
    assert last["correct"] and last["failed"] == 0 and last["attempted"] >= 1
    listed = BENCHMARK["per_layer" if trace else "end_to_end"]
    assert {m["name"]: m["unit"] for m in listed} == {k: v["unit"] for k, v in last["metrics"].items()}
    assert all(isinstance(v["value"], (int, float)) for v in last["metrics"].values())


def test_run_without_the_program_fails(tmp_path):
    (tmp_path / "BENCHMARK.json").write_text(json.dumps(BENCHMARK))
    for path in BENCHMARK["paths"]:
        subprocess.run(["cp", "-r", str(HERE.parent / path), str(tmp_path / path)], check=True)
    cmd = [*BENCHMARK["command"], "--workload", BENCHMARK["workloads"][0]["name"], "--seed", "1", "--seconds", "1", "--trace", "0"]
    done = subprocess.run(cmd, cwd=tmp_path, capture_output=True, text=True, timeout=180)
    assert done.returncode != 0 and done.stdout.strip() == ""
