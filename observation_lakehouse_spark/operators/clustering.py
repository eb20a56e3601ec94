"""Behavioral clustering + consensus oracle (SURVEY.md §2.4 A7-A12).

Semantics match the reference's three-level DuckDB CTE chain
(/root/reference/benchmark_behavioral_clustering.py:49-96):

1. signature  — per (data_set_id, run_id, problem_id, test_id,
   implementation_id): ``to_json(list(output ORDER BY step_id))``
2. fingerprint — per (data_set_id, run_id, problem_id, implementation_id):
   ``array_agg(signature ORDER BY test_id)`` + test count
3. clusters   — GROUP BY fingerprint → members, cluster_size, test_size,
   ordered by cluster_size DESC. The first row is the consensus oracle
   (majority-vote behavior, reference README.md:15).

Every level keeps ``data_set_id`` beside ``problem_id``: a problem id is only
unique within its data set, so a corpus-wide run must not merge the traces of
two data sets' same-named problems.

Spark-first translation notes:

- Spark has no ``WITHIN GROUP`` aggregate ordering pre-collect, so ordered
  aggregation is the struct-sort idiom: ``collect_list(struct(key, value))`` →
  ``array_sort`` → ``transform`` to drop the key. ``array_sort`` on structs
  orders by fields left-to-right, which is exactly ORDER BY key.
- Grouping by the raw fingerprint (array of long JSON strings, ~200-300 entries
  per implementation at study scale) would shuffle entire fingerprints. At scale
  we group by ``sha2(to_json(fingerprint), 256)`` — a 64-byte shuffle key — and
  keep one exemplar fingerprint per cluster via ``first`` (SURVEY.md §7.3.3).
  Collision probability of SHA-256 is negligible at any realistic cardinality.
- Cluster members are sorted so results are deterministic (the reference's
  ``array_agg`` order is arbitrary; sorting is a superset of that contract).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from observation_lakehouse_spark.functions.ordered_agg import ordered_values
from observation_lakehouse_spark.plans.serving import problem_plan, problem_scope


def behavior_signatures(observations: DataFrame) -> DataFrame:
    """Level 1: JSON signature of the ordered output trace per (run, test, impl)."""
    return observations.groupBy(
        "data_set_id", "run_id", "problem_id", "test_id", "implementation_id"
    ).agg(
        F.to_json(ordered_values("step_id", "output")).alias("output_sequence_signature")
    )


def behavior_fingerprints(observations: DataFrame) -> DataFrame:
    """Level 2: ordered array of signatures per (data set, run, problem, impl)."""
    return (
        behavior_signatures(observations)
        .groupBy("data_set_id", "run_id", "problem_id", "implementation_id")
        .agg(
            ordered_values("test_id", "output_sequence_signature").alias(
                "behavior_fingerprint"
            ),
            F.count("test_id").alias("test_size"),
        )
    )


def behavioral_clustering(
    observations: DataFrame,
    problem_id: str | None = None,
    data_set_id: str | None = None,
) -> DataFrame:
    """Level 3: clusters of behaviorally-equivalent implementations.

    Returns (data_set_id, run_id, problem_id, equivalent_commits_cluster:
    array<string> sorted, cluster_size, test_size, behavior_fingerprint
    exemplar), largest cluster first.

    Problem-scoped, the read is one partition (:func:`~observation_lakehouse_spark.
    plans.serving.problem_scope`), which satisfies every required
    distribution, so the whole chain — signature, fingerprint, cluster, sort —
    is ONE single-task stage instead of four exchanges, and a call on a
    whole-snapshot read returns the memoized plan for that snapshot
    (:func:`~observation_lakehouse_spark.plans.serving.problem_plan`).
    Corpus-wide runs (``problem_id=None``) keep the parallel shuffle plan.
    """

    def build() -> DataFrame:
        fp = behavior_fingerprints(problem_scope(observations, data_set_id, problem_id))
        # Shuffle a 64-char digest, not the full fingerprint array (scale rule §7.3.3).
        fp = fp.withColumn("fingerprint_key", F.sha2(F.to_json("behavior_fingerprint"), 256))
        return (
            fp.groupBy("data_set_id", "run_id", "problem_id", "fingerprint_key")
            .agg(
                F.array_sort(F.collect_list("implementation_id")).alias(
                    "equivalent_commits_cluster"
                ),
                F.count(F.lit(1)).alias("cluster_size"),
                F.max("test_size").alias("test_size"),
                F.first("behavior_fingerprint").alias("behavior_fingerprint"),
            )
            .drop("fingerprint_key")
            .orderBy(F.desc("cluster_size"), F.asc("equivalent_commits_cluster"))
        )

    return problem_plan(
        "behavioral_clustering", data_set_id, problem_id, (), [observations], build
    )


def consensus_oracle(
    observations: DataFrame,
    problem_id: str | None = None,
    data_set_id: str | None = None,
) -> DataFrame:
    """The largest behavioral cluster = majority-vote oracle (reference README.md:15).

    Ties broken deterministically by member list (the reference takes whichever
    row DuckDB emits first; we pin the order). Memoized like
    :func:`behavioral_clustering`.
    """
    return problem_plan(
        "consensus_oracle",
        data_set_id,
        problem_id,
        (),
        [observations],
        lambda: behavioral_clustering(observations, problem_id, data_set_id).limit(1),
    )
