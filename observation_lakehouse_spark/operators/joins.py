"""Three-way observation ⋈ code ⋈ tests join (SURVEY.md §2.3 J1/J2).

Semantics match the reference query (/root/reference/benchmark_three_way_join.py:53-74):
inner equi-joins on composite keys

    observations ⋈ code_implementations ON (implementation_id, data_set_id, problem_id)
                 ⋈ tests               ON (test_id,          data_set_id, problem_id)

projecting all observation columns plus ``program_code`` (impl source),
``test_code`` (test source) and ``language``.

Physical strategy for 100 TB: observations is the fact table (one row per
execution step); code_implementations and tests are dimensions, smaller by the
step-count × test-count factor. Both dimension legs are broadcast at every
scope — no shuffle of the fact table at all. Corpus-wide, the broadcast join
runs over the parallel fact scan; a problem-scoped call reads one partition
per leg (:func:`~observation_lakehouse_spark.plans.serving.problem_scope`) and
probes one problem's broadcast code and tests in one single-task stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from observation_lakehouse_spark.plans.serving import problem_plan, problem_scope


def three_way_join(
    observations: DataFrame,
    code_implementations: DataFrame,
    tests: DataFrame,
    data_set_id: str | None = None,
    problem_id: str | None = None,
) -> DataFrame:
    """observations ⋈ code ⋈ tests with per-leg partition filters (J2).

    The reference repeats the (data_set_id, problem_id) literal on all three legs
    so each engine prunes each scan independently — we do the same rather than
    relying on Catalyst's filter inference, so pruning is static on every leg.

    One plan at every scope: the scoped legs, with the two dimension legs
    broadcast. Problem-scoped, that is the plan Catalyst would pick for the
    small legs anyway: its first run builds two broadcast relations of one
    problem's rows, then one single-task stage scans and probes the fact leg.
    A problem-scoped call on whole-snapshot reads is memoized per snapshot
    (:func:`~observation_lakehouse_spark.plans.serving.problem_plan`),
    which persists the joined rows: a repeat runs one job that reads them.
    """

    def build() -> DataFrame:
        obs = problem_scope(observations, data_set_id, problem_id)
        code = problem_scope(code_implementations, data_set_id, problem_id).select(
            "data_set_id",
            "problem_id",
            "implementation_id",
            F.col("source_code").alias("program_code"),
            "language",
        )
        tst = problem_scope(tests, data_set_id, problem_id).select(
            "data_set_id",
            "problem_id",
            "test_id",
            F.col("source_code").alias("test_code"),
        )
        return obs.join(
            F.broadcast(code), on=["implementation_id", "data_set_id", "problem_id"], how="inner"
        ).join(F.broadcast(tst), on=["test_id", "data_set_id", "problem_id"], how="inner")

    return problem_plan(
        "three_way_join",
        data_set_id,
        problem_id,
        (),
        [observations, code_implementations, tests],
        build,
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    value_cols: list[str],
    direction: str = "backward",
) -> DataFrame:
    """As-of join: for each left row, the most recent right row with
    right_ts <= left_ts per key ('backward'; 'forward' = earliest >=).

    Spark has no native ASOF JOIN; the scalable idiom is the union trick:
    tag and union both sides, then one window pass per key carrying the last
    seen right-side values forward. Cost = one shuffle on (key) + one sort —
    no range self-join, no per-row subquery; skew only if one key dominates.

    Returns all left columns plus ``value_cols`` from the matched right row
    (NULL when nothing precedes/follows).
    """
    from pyspark.sql import Window

    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward, got {direction!r}")

    l_tag = left.select(
        F.col(key).alias("_k"),
        F.col(left_ts).alias("_ts"),
        F.lit(1).alias("_is_left"),
        F.struct(*[F.col(c) for c in left.columns]).alias("_l"),
        F.lit(None).cast(
            "struct<" + ",".join(f"{c}:{right.schema[c].dataType.simpleString()}" for c in value_cols) + ">"
        ).alias("_r"),
    )
    r_tag = right.select(
        F.col(key).alias("_k"),
        F.col(right_ts).alias("_ts"),
        F.lit(0).alias("_is_left"),
        F.lit(None).cast(l_tag.schema["_l"].dataType).alias("_l"),
        F.struct(*[F.col(c) for c in value_cols]).alias("_r"),
    )
    u = l_tag.unionByName(r_tag)
    # The trailing _r sort key makes ties deterministic: when several right
    # rows share the same (key, ts), last() picks the row with the GREATEST
    # value tuple (struct fields compared left to right). DuckDB's ASOF JOIN
    # leaves the same tie unspecified, so any oracle comparison must either be
    # tie-free or order the right side identically. Left rows all carry a NULL
    # _r, so the extra key never reorders them relative to each other.
    if direction == "backward":
        # right rows sort before left rows at equal ts → ts-equal rights match
        w = (
            Window.partitionBy("_k")
            .orderBy(F.asc("_ts"), F.asc("_is_left"), F.asc_nulls_last("_r"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
    else:
        w = (
            Window.partitionBy("_k")
            .orderBy(F.desc("_ts"), F.asc("_is_left"), F.asc_nulls_last("_r"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
    matched = u.withColumn("_m", F.last("_r", ignorenulls=True).over(w)).filter(
        F.col("_is_left") == 1
    )
    return matched.select(
        *[F.col("_l")[c].alias(c) for c in left.columns],
        *[F.col("_m")[c].alias(f"asof_{c}") for c in value_cols],
    )


def range_join(
    points: DataFrame,
    intervals: DataFrame,
    point_col: str,
    start_col: str,
    end_col: str,
    bucket_width: int,
    how: str = "inner",
) -> DataFrame:
    """Point-in-interval join without a cross product.

    Naive ``points JOIN intervals ON p BETWEEN s AND e`` is a broadcast
    nested-loop (O(P·I)). The scale shape buckets the domain: each interval
    explodes into the ⌈(e-s)/w⌉+1 coarse buckets it overlaps; points join on
    their single bucket (equi-join → shuffle hash join) and the exact BETWEEN
    filters inside the bucket. Choose ``bucket_width`` near the typical
    interval length so the explode factor stays small.

    ``point_col``/``start_col``/``end_col`` must be numeric (cast timestamps
    to epoch first). Only ``how='inner'`` is supported: the exact BETWEEN
    predicate is applied after the bucket equi-join, so an outer join's
    null-extended rows would be silently dropped — degrading to inner
    semantics. An outer range join needs the unmatched side re-attached via
    anti-join; raise rather than lie.
    """
    if how != "inner":
        raise ValueError(
            f"range_join supports how='inner' only (got {how!r}): the exact "
            "BETWEEN filter runs after the bucket join and would drop an outer "
            "join's null-extended rows. For left semantics, anti-join the "
            "inner result back against points."
        )
    p = points.withColumn(
        "_bucket", F.floor(F.col(point_col) / F.lit(bucket_width)).cast("long")
    )
    i = intervals.withColumn(
        "_bucket",
        F.explode(
            F.sequence(
                F.floor(F.col(start_col) / F.lit(bucket_width)).cast("long"),
                F.floor(F.col(end_col) / F.lit(bucket_width)).cast("long"),
            )
        ),
    )
    joined = p.join(i, "_bucket", how).filter(
        F.col(point_col).between(F.col(start_col), F.col(end_col))
    )
    return joined.drop("_bucket")


def bloom_prefilter_join(
    big: DataFrame,
    small: DataFrame,
    big_key: str,
    small_key: str,
    m_bits: int = 1_048_576,
    depth: int = 2,
) -> DataFrame:
    """Exact inner join with an explicit Bloom semi-join reduction of the big
    side — the runtime-filter pattern (Spark's
    ``spark.sql.optimizer.runtime.bloomFilter.enabled``, Trino's dynamic
    filtering) expressed as a first-class operator so it works in ANY
    session and its plan can be pinned by tests.

    The 100 TB problem it solves: when the dimension side is selective but
    too large to broadcast as a hash relation, a shuffle join moves the
    ENTIRE fact side through the exchange — including the (often >90%) rows
    whose keys match nothing. Here the dimension's key set compresses to an
    ``m_bits``-bit Bloom filter (``m_bits/32`` packed bigint words via a
    ``bit_or`` aggregate — mergeable, a few hundred KiB broadcast no matter
    how many keys fed it); every fact row probes the broadcast words
    MAP-SIDE and non-matching rows die before the exchange. The real join
    then runs on the survivors, so Bloom false positives are removed and
    the result is EXACTLY the plain inner join (the oracle is the plain
    join — the filter is semantics-invisible).

    Bit positions are seeded ``xxhash64`` lanes — the CHEAP hash, one
    codegen'd call per lane per fact row. Unlike ``bloom_decontaminate``
    (whose bloom HITS are output and must reproduce bit-for-bit in the SQL
    oracle's md5 arithmetic), this filter is semantics-invisible: the
    verifying join erases every false positive, so the hash only needs to
    be uniform, not cross-engine. NULL big-side keys are dropped by an
    explicit IS NOT NULL prefilter — ``xxhash64`` SKIPS null inputs (it
    hashes only the seed literal), so without the prefilter a NULL key
    would get a valid bit position and could survive to the verifying join;
    dropping it up front is both cheaper and exactly inner-join semantics.
    """
    words_per = 32

    def key_pos(col, i):
        return F.pmod(F.xxhash64(col, F.lit(i)), F.lit(m_bits))

    lanes = [
        small.select(key_pos(F.col(small_key), i).alias("pos")) for i in range(depth)
    ]
    allpos = lanes[0]
    for lane in lanes[1:]:
        allpos = allpos.unionAll(lane)
    # persist: the packed filter words feed `depth` broadcast probe joins.
    bloom = (
        allpos.select(
            F.expr(f"pos DIV {words_per}").alias("word"),
            F.expr(
                f"shiftleft(CAST(1 AS BIGINT), CAST(pos % {words_per} AS INT))"
            ).alias("mask"),
        )
        .groupBy("word")
        .agg(F.bit_or("mask").alias("w"))
        .persist()
    )
    probe = big.filter(F.col(big_key).isNotNull())
    all_set = F.lit(True)
    for i in range(depth):
        wi, mi, bi = f"_w{i}", f"_m{i}", f"_b{i}"
        probe = (
            probe.withColumn(f"_p{i}", key_pos(F.col(big_key), i))
            .withColumn(wi, F.expr(f"_p{i} DIV {words_per}"))
            .withColumn(
                mi,
                F.expr(
                    f"shiftleft(CAST(1 AS BIGINT), CAST(_p{i} % {words_per} AS INT))"
                ),
            )
            .join(
                F.broadcast(bloom.select(F.col("word").alias(wi), F.col("w").alias(bi))),
                wi,
                "left",
            )
        )
        all_set = all_set & (
            F.coalesce(F.col(bi), F.lit(0)).bitwiseAND(F.col(mi)) != 0
        )
    survivors = probe.filter(all_set).drop(
        *[c for i in range(depth) for c in (f"_p{i}", f"_w{i}", f"_m{i}", f"_b{i}")]
    )
    out = survivors.join(small, survivors[big_key] == small[small_key])
    out._cached_deps = (bloom,)  # type: ignore[attr-defined]  # noqa: SLF001
    return out


def join_cardinality(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
) -> DataFrame:
    """Exact pre-flight cardinality of an inner equi-join WITHOUT running
    it: ``join_rows = Σ_k c_left(k) · c_right(k)`` over the matching keys —
    the number every planner estimates and every 100 TB operator should
    CHECK before a fact-fact join (a hot key turns a "join" into a
    cartesian product; this is the measurement behind the
    salt-vs-plain decision :mod:`functions.skew` makes from one side's
    profile, extended to the pair).

    Cost: one count aggregate per side (map-side combined, the exchange
    carries distinct keys), one equi-join of the two KEY-COUNT tables
    (each one row per distinct key — dimension-sized, not fact-sized), one
    final aggregate. NULL keys never match in an equi-join and are
    excluded from both count tables (reported separately).

    Output: one row (n_left, n_right, left_keys, right_keys,
    matching_keys, join_rows, max_key_rows — the largest single key's
    output, the skew red flag — plus left_null_keys / right_null_keys).
    """
    lc = (
        left.select(F.col(left_key).alias("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("cl"))
    )
    rc = (
        right.select(F.col(right_key).alias("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("cr"))
    )
    lstats = lc.agg(
        F.sum(F.when(F.col("k").isNotNull(), F.col("cl")).otherwise(0)).alias("n_left"),
        F.count(F.when(F.col("k").isNotNull(), F.lit(1))).alias("left_keys"),
        F.sum(F.when(F.col("k").isNull(), F.col("cl")).otherwise(0)).alias(
            "left_null_keys"
        ),
    )
    rstats = rc.agg(
        F.sum(F.when(F.col("k").isNotNull(), F.col("cr")).otherwise(0)).alias("n_right"),
        F.count(F.when(F.col("k").isNotNull(), F.lit(1))).alias("right_keys"),
        F.sum(F.when(F.col("k").isNull(), F.col("cr")).otherwise(0)).alias(
            "right_null_keys"
        ),
    )
    matched = (
        lc.filter(F.col("k").isNotNull())
        .join(rc, "k")
        .agg(
            F.count(F.lit(1)).alias("matching_keys"),
            F.sum(F.col("cl") * F.col("cr")).alias("join_rows"),
            F.max(F.col("cl") * F.col("cr")).alias("max_key_rows"),
        )
    )
    return (
        lstats.crossJoin(rstats)
        .crossJoin(matched)
        .select(
            "n_left",
            "n_right",
            "left_keys",
            "right_keys",
            F.coalesce("matching_keys", F.lit(0)).alias("matching_keys"),
            F.coalesce("join_rows", F.lit(0)).alias("join_rows"),
            F.coalesce("max_key_rows", F.lit(0)).alias("max_key_rows"),
            "left_null_keys",
            "right_null_keys",
        )
    )
