"""Answer checks against the planted truth (pandas in, bool out).

Every check compares a fetched result with what the generator planted; a
check that cannot even read its input (wrong columns, wrong types) fails
rather than raising.
"""

from __future__ import annotations

import numpy as np

from generator import Problem


def _guard(check):
    def wrapped(*args) -> bool:
        try:
            return bool(check(*args))
        except (KeyError, IndexError, TypeError, ValueError, AttributeError):
            return False

    wrapped.__name__ = check.__name__
    wrapped.__doc__ = check.__doc__
    return wrapped


def _expected_cells(p: Problem) -> np.ndarray:
    """(srm_rows, implementations) matrix of planted outputs."""
    values = np.array(p.values, dtype=object)  # (clusters, cells)
    return values[p.cluster_of].T


@_guard
def srm_view(pdf, p: Problem) -> bool:
    """Dynamic pivot: one row per (test, step) in order, every cell equal
    to the planted output."""
    if len(pdf) != p.srm_rows or list(pdf.columns[2:]) != p.impl_ids:
        return False
    tests = np.repeat(np.array(p.test_ids, dtype=object), p.n_steps)
    steps = np.tile(np.arange(p.n_steps), p.n_tests)
    return (
        (pdf["test_id"].to_numpy(dtype=object) == tests).all()
        and (pdf["step_id"].to_numpy() == steps).all()
        and (pdf[p.impl_ids].to_numpy(dtype=object) == _expected_cells(p)).all()
    )


def _as_dict(m) -> dict:
    return dict(m) if not isinstance(m, dict) else m


@_guard
def srm_map(pdf, p: Problem) -> bool:
    """SRM-map MV rows: one per (test, step), map impl -> planted output."""
    if len(pdf) != p.srm_rows:
        return False
    pdf = pdf.sort_values(["test_id", "step_id"])
    expected = _expected_cells(p)
    ids = p.impl_ids
    for r, m in enumerate(pdf["outputs"]):
        if _as_dict(m) != dict(zip(ids, expected[r])):
            return False
    return True


@_guard
def srm_view_equals_map(view_pdf, map_pdf) -> bool:
    """Direct pivot and served map carry the same cells."""
    if len(view_pdf) != len(map_pdf):
        return False
    impls = list(view_pdf.columns[2:])
    served = {
        (t, int(s)): _as_dict(m)
        for t, s, m in zip(map_pdf["test_id"], map_pdf["step_id"], map_pdf["outputs"])
    }
    for row in view_pdf.itertuples(index=False):
        if served.get((row[0], int(row[1]))) != dict(zip(impls, row[2:])):
            return False
    return True


def _cluster_multiset(pdf) -> list[tuple[str, ...]]:
    return sorted(tuple(m) for m in pdf["equivalent_commits_cluster"])


@_guard
def clusters(pdf, p: Problem, ordered: bool = True) -> bool:
    """Planted clusters, once per execution loaded, with matching sizes;
    largest first unless ``ordered`` is off (a served MV partition is a
    file read, which keeps no order)."""
    expected = sorted(p.clusters() * len(p.runs))
    sizes = pdf["cluster_size"].tolist()
    return (
        _cluster_multiset(pdf) == expected
        and all(len(m) == n for m, n in zip(pdf["equivalent_commits_cluster"], sizes))
        and (not ordered or sizes == sorted(sizes, reverse=True))
    )


@_guard
def clusters_equal(a, b) -> bool:
    return _cluster_multiset(a) == _cluster_multiset(b)


@_guard
def consensus(pdf, p: Problem) -> bool:
    """One row: the planted majority cluster."""
    majority = p.clusters()[0]
    return len(pdf) == 1 and tuple(pdf["equivalent_commits_cluster"].iloc[0]) == majority


@_guard
def three_way_join(pdf, p: Problem) -> bool:
    """Every observation of the problem, each with its code and test."""
    return (
        len(pdf) == p.rows_per_run * len(p.runs)
        and pdf["program_code"].notna().all()
        and pdf["test_code"].notna().all()
    )
