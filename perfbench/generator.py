"""Seeded study-shaped observation corpus, with its planted truth.

Every problem is shaped like the reference study (BASELINE.md): about 26
implementations (max 37), tests x steps about 650 SRM rows on average with a
tail to about 2,400, and planted behaviour -- one majority cluster, a few
minority clusters and some singletons.  Outputs are strings of varied length.

The generator is plain numpy/pyarrow: the program under test only ever sees
the parquet files it writes, and the benchmark verifies answers against the
``Problem`` objects it returns.  The same seed always gives byte-identical
inputs.
"""

from __future__ import annotations

import datetime as dt
import math
import os
from dataclasses import dataclass, field
from statistics import NormalDist

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SET = "bench"
CREATED_AT = dt.datetime(2026, 1, 1)
_ALPHABET = np.array(list("abcdefghijklmnopqrstuvwxyz0123456789[]-. "))


@dataclass
class Problem:
    """One problem and its planted truth."""

    problem_id: str
    systems: list[str]  # SYSTEMID per implementation
    n_tests: int
    n_steps: int
    cluster_of: np.ndarray  # cluster index per implementation; 0 = majority
    values: list[list[str]]  # values[cluster][test * n_steps + step]
    impl_code: list[str]
    test_code: list[str]
    runs: list[str] = field(default_factory=list)  # executions loaded so far

    @property
    def impl_ids(self) -> list[str]:
        return [f"{s}_default_original_0" for s in self.systems]

    @property
    def test_ids(self) -> list[str]:
        return [f"t{t:03d}()" for t in range(self.n_tests)]

    @property
    def srm_rows(self) -> int:
        return self.n_tests * self.n_steps

    @property
    def rows_per_run(self) -> int:
        return len(self.systems) * self.srm_rows

    def output(self, impl: int, test: int, step: int) -> str:
        return self.values[int(self.cluster_of[impl])][test * self.n_steps + step]

    def clusters(self) -> list[tuple[str, ...]]:
        """Sorted member lists, one per planted cluster, largest first."""
        out = []
        for c in range(int(self.cluster_of.max()) + 1):
            members = tuple(sorted(self.impl_ids[i] for i in np.flatnonzero(self.cluster_of == c)))
            out.append(members)
        return sorted(out, key=lambda m: (-len(m), m))


def _strings(rng: np.random.Generator, n: int, lo: int, hi: int) -> list[str]:
    lengths = rng.integers(lo, hi + 1, size=n)
    chars = rng.choice(_ALPHABET, size=int(lengths.sum()))
    out, pos = [], 0
    for length in lengths:
        out.append("".join(chars[pos : pos + length]))
        pos += length
    return out


def _cluster_sizes(rng: np.random.Generator, n_impl: int) -> list[int]:
    """One majority cluster, 1-3 minority clusters of 2-4, singletons."""
    minority = [int(rng.integers(2, 5)) for _ in range(int(rng.integers(1, 4)))]
    singles = int(rng.integers(1, 4))
    majority = n_impl - sum(minority) - singles
    if majority <= max(minority):
        minority = [2]
        majority = n_impl - 2 - singles
    return [majority, *minority, *([1] * singles)]


# Implementations per problem: 15 + Binomial(22, 1/2) -- mean 26, max 37.
_IMPL_CDF = np.cumsum([math.comb(22, i) for i in range(23)]) / 2**22
# SRM rows (tests x steps): lognormal, mean about 650, clipped to 100..2400.
_ROWS_MU, _ROWS_SIGMA = math.log(650) - 0.18, 0.6


def make_problem(rng: np.random.Generator, problem_id: str, quantiles: tuple[float, float]) -> Problem:
    """A problem whose implementation count and SRM row count sit at the
    given quantiles of the study's distributions; ``rng`` draws the rest."""
    u_impl, u_rows = quantiles
    n_impl = 15 + int(np.searchsorted(_IMPL_CDF, u_impl))
    n_steps = int(rng.integers(4, 13))
    srm_rows = int(np.clip(math.exp(_ROWS_MU + _ROWS_SIGMA * NormalDist().inv_cdf(u_rows)), 100, 2400))
    n_tests = max(2, round(srm_rows / n_steps))
    n_cells = n_tests * n_steps

    sizes = _cluster_sizes(rng, n_impl)
    cluster_of = rng.permutation(np.repeat(np.arange(len(sizes)), sizes))
    base = _strings(rng, n_cells, 1, 48)
    values = [base]
    for c in range(1, len(sizes)):
        # each non-majority cluster deviates on its own non-empty cell set;
        # the deviation names the cluster, so no two clusters can coincide
        dev = rng.random(n_cells) < 0.2
        dev[int(rng.integers(n_cells))] = True
        values.append([f"{v}~{c}" if d else v for v, d in zip(base, dev)])
    return Problem(
        problem_id=problem_id,
        systems=[f"s{i:02d}" for i in range(n_impl)],
        n_tests=n_tests,
        n_steps=n_steps,
        cluster_of=cluster_of,
        values=values,
        impl_code=_strings(rng, n_impl, 80, 1200),
        test_code=_strings(rng, n_tests, 40, 400),
    )


def make_problems(seed: int, n: int) -> list[Problem]:
    """The seed's corpus of ``n`` problems.  Shapes are stratified: each
    dimension takes the quantiles (j + 1/2) / n once, paired in an order
    fixed by ``n``, so problem k has the same implementation and SRM row
    counts for every seed while contents differ."""
    rng = np.random.default_rng([n])
    slots = np.stack([rng.permutation(n), rng.permutation(n)], axis=1)
    return [problem(seed, k, tuple((slots[k] + 0.5) / n)) for k in range(n)]


def problem(seed: int, k: int, quantiles: tuple[float, float]) -> Problem:
    """Problem ``k`` of the seed, at the given shape quantiles."""
    return make_problem(np.random.default_rng([seed, k]), f"prob_{k:04d}", quantiles)


# -- observations-shaped tables (bulk load) -----------------------------------

_TS = pa.scalar(CREATED_AT, pa.timestamp("us"))


def _step_arrays(p: Problem, rng: np.random.Generator) -> dict:
    """One execution of ``p``: a row per (implementation, test, step)."""
    n_cells = p.srm_rows
    impl = np.repeat(np.arange(len(p.systems)), n_cells)
    cell = np.tile(np.arange(n_cells), len(p.systems))
    test, step = cell // p.n_steps, cell % p.n_steps
    flat_values = pa.array([v for vs in p.values for v in vs], pa.string())
    return {
        "impl": pa.array(impl),
        "test": pa.array(test),
        "step": pa.array(step, pa.int32()),
        "operation": pa.array([f"op{s}" for s in range(p.n_steps)]).take(pa.array(step)),
        "inputs": pa.array([f"in{t}" for t in range(p.n_tests)]).take(pa.array(test)),
        "output": flat_values.take(pa.array(p.cluster_of[impl] * n_cells + cell)),
        "time": pa.array(np.round(rng.gamma(2.0, 3.0, size=impl.size), 3)),
    }


def observations_table(problems: list[Problem], run_id: str, seed: int) -> pa.Table:
    """``observations`` rows for one execution of each problem."""
    rng = np.random.default_rng([seed, 1])
    parts = []
    for p in problems:
        a = _step_arrays(p, rng)
        n = len(a["impl"])
        parts.append(
            pa.table(
                {
                    "data_set_id": pa.repeat(DATA_SET, n),
                    "problem_id": pa.repeat(p.problem_id, n),
                    "implementation_id": pa.array(p.impl_ids).take(a["impl"]),
                    "test_id": pa.array(p.test_ids).take(a["test"]),
                    "implementation_hash": pa.repeat("", n),
                    "test_hash": pa.repeat("", n),
                    "run_id": pa.repeat(run_id, n),
                    "environment_id": pa.repeat("env_0", n),
                    "step_id": a["step"],
                    "operation": a["operation"],
                    "inputs": a["inputs"],
                    "output": a["output"],
                    "execution_time_ms": a["time"],
                    "memory_used_mb": pa.nulls(n, pa.float64()),
                    "branch_coverage_percent": pa.nulls(n, pa.float64()),
                    "created_at": pa.repeat(_TS, n),
                    "git_commit_hash": pa.nulls(n, pa.string()),
                    "ci_pipeline_id": pa.nulls(n, pa.string()),
                    "researcher_name": pa.nulls(n, pa.string()),
                    "specified_oracle": pa.repeat(False, n),
                }
            )
        )
        p.runs.append(run_id)
    return pa.concat_tables(parts)


def code_table(problems: list[Problem]) -> pa.Table:
    rows = [(p.problem_id, i, c) for p in problems for i, c in zip(p.impl_ids, p.impl_code)]
    n = len(rows)
    return pa.table(
        {
            "data_set_id": pa.repeat(DATA_SET, n),
            "problem_id": pa.array([r[0] for r in rows]),
            "implementation_id": pa.array([r[1] for r in rows]),
            "source_code": pa.array([r[2] for r in rows]),
            "code_hash": pa.nulls(n, pa.string()),
            "created_at": pa.repeat(_TS, n),
            "lines_of_code": pa.array([len(r[2]) // 40 + 1 for r in rows], pa.int32()),
            "cyclomatic_complexity": pa.array([len(r[2]) % 7 + 1 for r in rows], pa.int32()),
            "language": pa.repeat("java", n),
        }
    )


def tests_table(problems: list[Problem]) -> pa.Table:
    rows = [(p.problem_id, t, c) for p in problems for t, c in zip(p.test_ids, p.test_code)]
    n = len(rows)
    return pa.table(
        {
            "data_set_id": pa.repeat(DATA_SET, n),
            "problem_id": pa.array([r[0] for r in rows]),
            "test_id": pa.array([r[1] for r in rows]),
            "source_code": pa.array([r[2] for r in rows]),
            "focal_interface": pa.array([f"I{r[1]}" for r in rows]),
            "code_hash": pa.nulls(n, pa.string()),
            "created_at": pa.repeat(_TS, n),
            "language": pa.repeat("java", n),
        }
    )


# -- cell-level arena exports (ingest) ----------------------------------------

_EXPORT_COLS = ("ABSTRACTIONID", "SYSTEMID", "SHEETID", "X", "Y", "TYPE", "VALUE", "EXECUTIONTIME")


def arena_export(
    new: list[Problem], reruns: list[Problem], execution_id: str, seed: int
) -> pa.Table:
    """One ``ARENA_EXPORT_SCHEMA`` batch: every step of every implementation
    as op / input_value / value cells, plus the ``Y = -1`` sheet metadata
    rows of the new problems (a re-execution re-runs sheets already loaded,
    so its outputs -- and hence its answers -- repeat the first run's)."""
    rng = np.random.default_rng([seed, 2, int(execution_id.rsplit("_", 1)[-1])])
    parts = []
    for p in [*new, *reruns]:
        a = _step_arrays(p, rng)
        n = len(a["impl"])
        systems = pa.array(p.systems).take(a["impl"])
        sheets = pa.array(p.test_ids).take(a["test"])
        for x, typ, value in ((0, "op", a["operation"]), (1, "input_value", a["inputs"]), (2, "value", a["output"])):
            parts.append((p.problem_id, systems, sheets, pa.repeat(pa.scalar(x, pa.int32()), n), a["step"], typ, value, a["time"]))
        p.runs.append(execution_id)
    for p in new:
        n = p.n_tests
        for typ, values in (("stimulussheet", p.test_code), ("interface", [f"I{t}" for t in p.test_ids])):
            parts.append((
                p.problem_id,
                pa.repeat("abstraction", n),
                pa.array(p.test_ids),
                pa.repeat(pa.scalar(0, pa.int32()), n),
                pa.repeat(pa.scalar(-1, pa.int32()), n),
                typ,
                pa.array(values),
                pa.nulls(n, pa.float64()),
            ))
    tables = []
    for problem_id, systems, sheets, x, y, typ, value, t in parts:
        n = len(x)
        tables.append(
            pa.table(
                {
                    "EXECUTIONID": pa.repeat(execution_id, n),
                    "ABSTRACTIONID": pa.repeat(problem_id, n),
                    "SYSTEMID": systems,
                    "VARIANTID": pa.repeat("", n),
                    "ADAPTERID": pa.repeat("original_0", n),
                    "SHEETID": sheets,
                    "ARENAID": pa.repeat("arena_0", n),
                    "X": x,
                    "Y": y,
                    "TYPE": pa.repeat(typ, n),
                    "VALUE": value,
                    "EXECUTIONTIME": t,
                }
            )
        )
    return pa.concat_tables(tables)


def solr_docs(problems: list[Problem]) -> pa.Table:
    """Already-exploded Solr docs for ``reshape_code_implementations``."""
    docs = [(f"{s}_default", p.problem_id, c) for p in problems for s, c in zip(p.systems, p.impl_code)]
    n = len(docs)
    return pa.table(
        {
            "id": pa.array([d[0] for d in docs]),
            "abstractionId": pa.array([[d[1]] for d in docs], pa.list_(pa.string())),
            "lang": pa.repeat("Java", n),
            "content": pa.array([d[2] for d in docs]),
            "m_static_loc_td": pa.array([[len(d[2]) // 40 + 1] for d in docs], pa.list_(pa.int64())),
            "m_static_complexity_td": pa.array([[len(d[2]) % 7 + 1] for d in docs], pa.list_(pa.int64())),
        }
    )


def write(table: pa.Table, path: str, rows_per_file: int | None = None) -> int:
    """Write ``table`` as parquet under directory ``path`` (split into files
    of ``rows_per_file`` rows, so a reader gets parallel splits); returns
    the bytes written."""
    os.makedirs(path, exist_ok=True)
    step = rows_per_file or max(1, table.num_rows)
    total = 0
    for k, off in enumerate(range(0, max(1, table.num_rows), step)):
        f = os.path.join(path, f"part-{k:05d}.parquet")
        pq.write_table(table.slice(off, step), f)
        total += os.path.getsize(f)
    return total
