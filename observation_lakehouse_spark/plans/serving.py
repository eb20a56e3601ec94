"""Interactive serving: one plan rule for per-problem queries, and the memo
of the plans it builds (prepared-statement analog).

The reference's per-problem loop re-binds a DuckDB prepared statement, paying
parse/plan once. Spark has no bind parameters in the DataFrame API, and a
freshly-built per-problem DataFrame pays full Catalyst analysis + optimization
+ physical planning on every call. A DataFrame OBJECT, however, caches its
QueryExecution after the first action, so re-executing the SAME object skips
planning entirely.

The scope picks the plan. :func:`problem_scope` is the one way the four
per-problem families (``srm_output_view``, ``behavioral_clustering``,
``consensus_oracle``, ``three_way_join``) and ``srm_output_map`` scope a read:
partition-key filters (static partition pruning), plus ``coalesce(1)`` iff a
problem is named. One partition satisfies every aggregate's and sort's
required distribution, so a problem-scoped plan has no shuffle exchange: the
aggregation families run as one single-task stage, and the join broadcasts
its two dimension legs (one problem's code and tests) into that stage.
Corpus-wide calls keep the parallel shuffle plans.

:func:`problem_plan` memoizes the families' built DataFrames in ONE library
:class:`QueryCache`. A call is memoized iff it is problem-scoped and every
input is a whole-snapshot read. Snapshot-keyed contract: a frozen plan pins
the files it scans, so a plan may only be reused while its inputs are the
same immutable snapshot. The memo key is therefore ``(family, scope,
parameters, SnapshotId of every input)``, where a
:class:`~observation_lakehouse_spark.transaction.SnapshotId` (table location,
version, manifest stamp, schema, SparkSession) is recorded by every
whole-snapshot ``AtomicParquetTable.read``. A commit, ``add_column``,
``rollback`` or ``delete_where`` makes the next read a new snapshot, and with
it a new key — nothing needs invalidating. An input that is not a snapshot
read (a catalog table, a user frame, a filtered frame) has no identity, so the
call bypasses the memo and builds as usual.

What a hit runs: one Spark job that reads the answer's cached batches, with
no file scan and no recompute. The memo key pins an immutable snapshot, so
the answer under a key cannot change, and keeping it is as exact as keeping
the plan: a miss persists the frame it stores (``StorageLevel.MEMORY_ONLY``)
before its first action, and that first run materializes the result. The
miss therefore runs one more job than an uncached plan (adaptive execution
materializes the cache as its own query stage, then reads it), and its build
plans the query, which an uncached build leaves to the first action. Both are
Spark's cache manager at work; neither has a switch short of turning
adaptive execution off for the whole session. Built on a
memoized clustering, ``consensus_oracle`` reads the cached clustering result.
Spark's unified memory manager bounds the cached bytes: under pressure it
drops least-recently-used blocks, and a dropped block recomputes from the
snapshot's files on its next read. The memo's ``maxsize`` bounds the entries;
a result the memo drops is unpersisted. Corpus-wide plans are never memoized
or persisted: a re-run of a shuffle plan reuses the earlier run's shuffle
output instead of recomputing it.
"""

from __future__ import annotations

import threading
from collections import OrderedDict
from collections.abc import Callable, Hashable, Sequence

from py4j.protocol import Py4JError
from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from observation_lakehouse_spark.transaction import snapshot_of


class QueryCache:
    """Thread-safe LRU memo of built DataFrames keyed by (family, params).

    ``maxsize`` bounds the entries. An entry holds a DataFrame and, once
    it has run, its executed physical plan: kilobytes of plan and file
    listing for the aggregation families, plus, for the problem-scoped
    join, the two broadcast relations built from that problem's code and
    test rows, which stay on the driver until the entry is evicted. An
    entry of :func:`problem_plan` also holds its answer's cached result
    blocks (block-manager memory, bounded by Spark), which are unpersisted
    when the entry is evicted; other frames (the table format's memoized
    reads) are never persisted and are left alone. The loser of two racing
    misses is dropped as it is: its plan equals the stored one, so Spark's
    cache manager holds ONE entry for both (persisting an equal plan again
    is a no-op), and unpersisting the loser would drop the winner's cache.
    """

    def __init__(self, maxsize: int = 1024) -> None:
        if maxsize < 1:
            raise ValueError(f"maxsize must be >= 1, got {maxsize}")
        self.maxsize = maxsize
        self._plans: OrderedDict[tuple, DataFrame] = OrderedDict()
        self._lock = threading.Lock()
        self.hits = 0
        self.misses = 0

    def get(
        self,
        family: str,
        params: Hashable,
        builder: Callable[[], DataFrame],
    ) -> DataFrame:
        """Return the memoized DataFrame for (family, params), building on
        miss. The build runs outside the lock; racing misses of one key all
        return the first plan stored."""
        key = (family, params)
        with self._lock:
            df = self._plans.get(key)
            if df is not None:
                self.hits += 1
                self._plans.move_to_end(key)
                return df
            self.misses += 1
        df = builder()
        with self._lock:
            df = self._plans.setdefault(key, df)
            self._plans.move_to_end(key)
            evicted = []
            while len(self._plans) > self.maxsize:
                evicted.append(self._plans.popitem(last=False)[1])
        for old in evicted:
            _release(old)
        return df

    def __len__(self) -> int:
        return len(self._plans)


def _release(df: DataFrame) -> None:
    """Unpersist ``df`` iff it was persisted. A frame of a stopped session
    has no cache left to drop, and its unpersist fails in the JVM."""
    if df.is_cached:
        try:
            df.unpersist()
        except Py4JError:
            pass


_PLANS = QueryCache()


def plan_memo_stats() -> dict[str, int]:
    """Hits, misses and stored plans of the library's plan memo, for
    measuring how much per-problem traffic reuses a plan."""
    return {"hits": _PLANS.hits, "misses": _PLANS.misses, "plans": len(_PLANS)}


def problem_scope(
    df: DataFrame, data_set_id: str | None, problem_id: str | None
) -> DataFrame:
    """``df`` scoped to a data set and/or problem: partition-key literal
    filters, so every leg prunes statically to its partitions, then
    ``coalesce(1)`` iff ``problem_id`` is set — the plan rule above."""
    if data_set_id is not None:
        df = df.filter(F.col("data_set_id") == data_set_id)
    if problem_id is not None:
        df = df.filter(F.col("problem_id") == problem_id).coalesce(1)
    return df


def problem_plan(
    family: str,
    data_set_id: str | None,
    problem_id: str | None,
    params: Hashable,
    inputs: Sequence[DataFrame],
    build: Callable[[], DataFrame],
) -> DataFrame:
    """``build()``, memoized per (family, scope, params, input snapshots)
    and persisted iff ``problem_id`` is set and every input is a
    whole-snapshot read; otherwise a plain ``build()``. ``build`` must scope
    its inputs with :func:`problem_scope`, so a memoized plan has no shuffle
    exchange."""
    if problem_id is None:
        return build()
    snaps = tuple(snapshot_of(df) for df in inputs)
    if any(s is None for s in snaps):
        return build()
    return _PLANS.get(
        family,
        (data_set_id, problem_id, params, snaps),
        lambda: build().persist(StorageLevel.MEMORY_ONLY),
    )
