"""SRM output view — the flagship pivot (SURVEY.md §2.5 V1).

Semantics match the reference's DuckDB query
(/root/reference/benchmark_srm_output_view.py:50-77): rows = (test_id, step_id),
one column per implementation_id, cell = FIRST(output).

Two physical strategies, chosen by the caller:

1. ``srm_output_view`` — a real dynamic pivot, byte-for-byte the reference's shape.
   Correct for interactive per-problem views (26-37 impl columns at study scale,
   BASELINE.md). Spark runs an extra distinct job to discover the column set unless
   ``implementation_ids`` is passed — always pass it when known (the driver of a
   per-problem loop already has it).
2. ``srm_output_map`` — the 100 TB twin: the same information as a
   ``map<implementation_id, output>`` column. No dynamic schema, no pivot-width
   limit, one hash aggregation; safe when a problem has 10⁵ implementations
   (CI-scale fan-in, SURVEY.md §7.5).

Both filter on the (data_set_id, problem_id) partition keys FIRST so Catalyst's
static partition pruning reads exactly one partition — the physical-design point
the whole reference exists to make (reference README.md:112).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from observation_lakehouse_spark.plans.serving import problem_plan


def _scoped(observations: DataFrame, data_set_id: str | None, problem_id: str | None) -> DataFrame:
    # Partition-key literals → static partition pruning (P4).
    if data_set_id is not None:
        observations = observations.filter(F.col("data_set_id") == data_set_id)
    if problem_id is not None:
        observations = observations.filter(F.col("problem_id") == problem_id)
    return observations


def srm_output_view(
    observations: DataFrame,
    problem_id: str | None = None,
    data_set_id: str | None = None,
    implementation_ids: list[str] | None = None,
    single_partition: bool | None = None,
) -> DataFrame:
    """Dynamic-pivot SRM: rows (test_id, step_id) × implementation columns.

    ``FIRST(output)`` mirrors the reference's ``USING FIRST(output)`` — with the
    same order-dependence caveat both engines share (SURVEY.md §7.3.4): dedupe
    (test_id, step_id, implementation_id) upstream when determinism matters.

    ``single_partition`` (default: auto — on iff ``problem_id`` is scoped)
    coalesces the pruned scan to one partition, so the pivot aggregate and the
    sort satisfy their distributions without any exchange: the whole query is
    ONE single-task stage — the interactive per-problem plan. A problem with
    CI-scale fan-in (≫10⁵ rows) should pass ``False`` to keep the parallel
    shuffle plan.

    A problem-scoped call on a whole-snapshot read returns the memoized plan
    for that snapshot (:func:`~observation_lakehouse_spark.plans.serving.
    problem_plan`).
    """
    if single_partition is None:
        single_partition = problem_id is not None
    if implementation_ids is not None:
        implementation_ids = tuple(implementation_ids)

    def build() -> DataFrame:
        scoped = _scoped(observations, data_set_id, problem_id).select(
            "test_id", "step_id", "implementation_id", "output"
        )
        if single_partition:
            scoped = scoped.coalesce(1)
        pivoted = scoped.groupBy("test_id", "step_id")
        if implementation_ids is not None:
            pivoted = pivoted.pivot("implementation_id", list(implementation_ids))
        else:
            pivoted = pivoted.pivot("implementation_id")
        return pivoted.agg(F.first("output")).orderBy("test_id", "step_id")

    return problem_plan(
        "srm_output_view",
        (problem_id, data_set_id, implementation_ids),
        [observations],
        build,
        reusable=problem_id is not None and single_partition,
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
    """
    scoped = _scoped(observations, data_set_id, problem_id)
    per_cell = scoped.groupBy("test_id", "step_id", "implementation_id").agg(
        F.first("output").alias("output")
    )
    return (
        per_cell.groupBy("test_id", "step_id")
        .agg(
            F.map_from_entries(
                F.array_sort(F.collect_list(F.struct("implementation_id", "output")))
            ).alias("outputs")
        )
        .orderBy("test_id", "step_id")
    )
