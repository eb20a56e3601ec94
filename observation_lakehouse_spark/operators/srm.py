"""SRM output view — the flagship pivot (SURVEY.md §2.5 V1).

Semantics match the reference's DuckDB query
(/root/reference/benchmark_srm_output_view.py:50-77): rows = (test_id, step_id),
one column per implementation_id, cell = FIRST(output).

Two output shapes:

1. ``srm_output_view`` — a real dynamic pivot, byte-for-byte the reference's shape.
   Correct for interactive per-problem views (26-37 impl columns at study scale,
   BASELINE.md). Spark runs an extra distinct job to discover the column set unless
   ``implementation_ids`` is passed — always pass it when known (the driver of a
   per-problem loop already has it).
2. ``srm_output_map`` — the 100 TB twin: the same information as a
   ``map<implementation_id, output>`` column. No dynamic schema, no pivot-width
   limit, one hash aggregation; safe when a problem has 10⁵ implementations
   (CI-scale fan-in, SURVEY.md §7.5).

Both scope their read with :func:`~observation_lakehouse_spark.plans.serving.
problem_scope`: partition-key filters FIRST, so Catalyst's static partition
pruning reads exactly one partition — the physical-design point the whole
reference exists to make (reference README.md:112) — and, problem-scoped, one
partition, so the aggregate and the sort run in one single-task stage with no
exchange. Corpus-wide calls keep the parallel shuffle plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from observation_lakehouse_spark.plans.serving import problem_plan, problem_scope


def srm_output_view(
    observations: DataFrame,
    problem_id: str | None = None,
    data_set_id: str | None = None,
    implementation_ids: list[str] | None = None,
) -> DataFrame:
    """Dynamic-pivot SRM: rows (test_id, step_id) × implementation columns.

    ``FIRST(output)`` mirrors the reference's ``USING FIRST(output)`` — with the
    same order-dependence caveat both engines share (SURVEY.md §7.3.4): dedupe
    (test_id, step_id, implementation_id) upstream when determinism matters.

    Problem-scoped, the pivot aggregate and the sort run in ONE single-task
    stage, and a call on a whole-snapshot read returns the memoized plan for
    that snapshot, whose answer stays cached (:func:`~observation_lakehouse_spark.
    plans.serving.problem_plan`).
    """
    if implementation_ids is not None:
        implementation_ids = tuple(implementation_ids)

    def build() -> DataFrame:
        pivoted = problem_scope(observations, data_set_id, problem_id).groupBy(
            "test_id", "step_id"
        )
        if implementation_ids is not None:
            pivoted = pivoted.pivot("implementation_id", list(implementation_ids))
        else:
            pivoted = pivoted.pivot("implementation_id")
        return pivoted.agg(F.first("output")).orderBy("test_id", "step_id")

    return problem_plan(
        "srm_output_view", data_set_id, problem_id, implementation_ids, [observations], build
    )


def srm_shape_stats(srm: DataFrame) -> dict[str, int]:
    """The reference's client-side SRM accounting
    (benchmark_srm_output_view.py:89-92): implementation count, row count, and
    the pairwise-comparison count n·k·(k-1)/2 the SRM enables."""
    impls = len(srm.columns) - 2  # minus (test_id, step_id)
    rows = srm.count()
    return {
        "implementations": impls,
        "srm_rows": rows,
        "comparisons": rows * impls * (impls - 1) // 2,
    }


def srm_output_map(
    observations: DataFrame,
    problem_id: str | None = None,
    data_set_id: str | None = None,
) -> DataFrame:
    """Scale-safe SRM: map<implementation_id, output> instead of dynamic columns.

    ``map_from_entries(collect_list(...))`` is a single hash aggregate — no
    distinct-scan for column discovery, no schema explosion, and the map is
    shuffled as one value. Duplicate (test,step,impl) cells are first-wins like
    the pivot, achieved by aggregating to ``first`` per key beforehand.

    Rows are keyed by ``(data_set_id, problem_id, test_id, step_id)`` at every
    scope, so a corpus-wide call keeps each problem's rows apart — the
    columns of the SRM result MV, which is this call on its source.
    """
    keys = ["data_set_id", "problem_id", "test_id", "step_id"]
    scoped = problem_scope(observations, data_set_id, problem_id)
    per_cell = scoped.groupBy(*keys, "implementation_id").agg(
        F.first("output").alias("output")
    )
    return (
        per_cell.groupBy(*keys)
        .agg(
            F.map_from_entries(
                F.array_sort(F.collect_list(F.struct("implementation_id", "output")))
            ).alias("outputs")
        )
        .orderBy(*keys)
    )
