"""Interactive serving: memoized per-query plans (prepared-statement analog).

The reference's per-problem loop re-binds a DuckDB prepared statement, paying
parse/plan once. Spark has no bind parameters in the DataFrame API, and a
freshly-built per-problem DataFrame pays full Catalyst analysis + optimization
+ physical planning on every call. A DataFrame OBJECT, however, caches its
QueryExecution after the first action, so re-executing the SAME object skips
planning entirely.

:class:`QueryCache` memoizes built DataFrames per (family, parameters). The
library keeps ONE instance, the plan memo of the four per-problem families
(``srm_output_view``, ``behavioral_clustering``, ``consensus_oracle``,
``three_way_join``), used through :func:`problem_plan`.

Snapshot-keyed contract: a frozen plan pins the files it scans, so a plan may
only be reused while its inputs are the same immutable snapshot. The memo key
is therefore ``(family, parameters, SnapshotId of every input)``, where a
:class:`~observation_lakehouse_spark.transaction.SnapshotId` (table location,
version, schema, SparkSession) is recorded by every whole-snapshot
``AtomicParquetTable.read``. A commit, ``add_column``, ``rollback`` or
``delete_where`` makes the next read a new snapshot, and with it a new key —
nothing needs invalidating. An input that is not a snapshot read (a catalog
table, a user frame, a filtered frame) has no identity, so the call bypasses
the memo and builds as usual. Only problem-scoped, exchange-free plans are
memoized, so a hit re-executes a frozen one-stage plan: every request still
runs a Spark job that scans the snapshot's files and recomputes its answer.
"""

from __future__ import annotations

import threading
from collections import OrderedDict
from collections.abc import Callable, Hashable, Sequence

from pyspark.sql import DataFrame

from observation_lakehouse_spark.transaction import snapshot_of


class QueryCache:
    """Thread-safe LRU memo of built DataFrames keyed by (family, params).

    ``maxsize`` bounds driver memory: each entry holds an analyzed plan
    (kilobytes), not data — 1024 plans is a few MB.
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
            while len(self._plans) > self.maxsize:
                self._plans.popitem(last=False)
        return df

    def invalidate(self, family: str | None = None) -> None:
        """Drop memoized plans (all, or one family's)."""
        with self._lock:
            if family is None:
                self._plans.clear()
                return
            for key in [k for k in self._plans if k[0] == family]:
                del self._plans[key]

    def __len__(self) -> int:
        return len(self._plans)


_PLANS = QueryCache()


def plan_memo_stats() -> dict[str, int]:
    """Hits, misses and stored plans of the library's plan memo, for
    measuring how much per-problem traffic reuses a plan."""
    return {"hits": _PLANS.hits, "misses": _PLANS.misses, "plans": len(_PLANS)}


def problem_plan(
    family: str,
    params: Hashable,
    inputs: Sequence[DataFrame],
    build: Callable[[], DataFrame],
    reusable: bool,
) -> DataFrame:
    """``build()``, memoized per (family, params, input snapshots) when the
    caller declares the plan ``reusable`` and every input is a
    whole-snapshot read; otherwise a plain ``build()``.

    ``reusable`` means problem-scoped and exchange-free (the families'
    single-partition plans): re-running such a plan re-scans its inputs.
    A plan with an exchange is never memoized, because a re-run reuses the
    shuffle output or broadcast relation of the earlier run instead of
    recomputing it.
    """
    if not reusable:
        return build()
    snaps = tuple(snapshot_of(df) for df in inputs)
    if any(s is None for s in snaps):
        return build()
    return _PLANS.get(family, (params, snaps), build)
