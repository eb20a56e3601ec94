"""Atomic snapshot commits over plain parquet — a minimal table format.

The reference's appends are atomic Iceberg snapshot commits
(/root/reference/olake/ingest/arena.py:138-146, olake/lakehouse.py:28-35) and
its readers scan Iceberg metadata. Format jars are absent from this container,
so :class:`AtomicParquetTable` re-creates the two properties a user hits first
without them — crash atomicity and snapshot isolation — with nothing but
parquet files and append-only JSON logs:

Layout::

    <location>/
      _schema.json            table metadata at creation: schema, partition
                              columns, CHECK constraints (version 0)
      _schema.v<N>.json       metadata version N: the whole metadata after the
                              N-th edit (add_column, constraint or bloom DDL)
      _manifests/v<N>.json    snapshot N: cumulative data-file list + commits
      _refs/<name>.json       named tag or branch: {"type", "version"}
      data/<k=v dirs>/<uuid>-part-*.parquet
      _deletes/<uuid>/        position deletion vectors (row-level deletes)

Every durable change is published one way (:func:`_publish`): a temp file
hard-linked to its final name, create-if-absent, so of two racing
publishers exactly one wins (on an object store, a conditional PUT). Both
versioned logs advance by claiming version N+1 that way; a loser re-reads
the new head and retries (optimistic concurrency, the Iceberg commit loop).

Protocol (writer):

1. Stage: write the batch with a normal distributed parquet job into
   ``_staging/<uuid>/`` (partitioned layout).
2. Move: rename each staged file into ``data/`` under a fresh uuid prefix.
   Renames are per-file atomic on a posix filesystem; the files are INVISIBLE
   to readers until a manifest lists them, so a crash mid-move leaks orphan
   bytes (vacuum reclaims them) but never a partial table state.
3. Commit: publish snapshot ``v<N+1>`` (parent's files + the new ones).

Table metadata is read from its log, not held by a handle: every operation
reads the schema, CHECK constraints and bloom columns from the latest
metadata version, as it reads the head manifest, so an edit through any
handle or process is seen by the next operation of every other.

Readers load the highest committed manifest and scan exactly its file list
(``basePath`` keeps partition-column parsing and pruning), so they see every
commit entirely or not at all — snapshot isolation — and ``read(version=N)``
is time travel for free. A published manifest never changes, so a
whole-snapshot read is memoized per ``(version, schema)``: repeat reads of one
snapshot return the same DataFrame without re-listing its files, and every
frame a whole-snapshot read returns is recorded with its :class:`SnapshotId`
(see :func:`snapshot_of`), the key plan memos reuse work under. An
``idempotency_key`` per commit makes retried appends no-ops: the key is
recorded inside the same atomic manifest publish as the data, which is what
upgrades a replayed streaming micro-batch from at-least-once to exactly-once
(streaming/ingest.py passes the batch id).
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
import weakref
from pathlib import Path
from typing import NamedTuple
from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"


def partition_values(path: str) -> dict[str, str | None]:
    """``{column: value}`` of a data-file path's ``k=v`` partition
    directories, with the ``%XX`` escapes Spark's partitioned writer applies
    undone and ``__HIVE_DEFAULT_PARTITION__`` read as ``None``. Works on
    manifest-relative paths and on absolute ``inputFiles()`` URIs alike (a
    later ``k=v`` directory wins). This is the table format's one decoder of
    partition directories: partition-replace commits and partition-scoped
    reads match files through it, never through re-encoded directory
    names."""
    out: dict[str, str | None] = {}
    for part in path.split("/")[:-1]:
        key, eq, raw = part.partition("=")
        if eq:
            # Spark escapes only ASCII characters, so URL unquoting undoes it
            out[key] = None if raw == _HIVE_NULL else unquote(raw)
    return out


class SnapshotId(NamedTuple):
    """What a whole-snapshot :meth:`AtomicParquetTable.read` scanned. Two
    reads with equal ids scan the same rows, so work built on one may be
    reused for the other. ``stamp`` is the manifest file's (inode, mtime):
    a table deleted and re-created at the same location is a new snapshot
    even at the same version number."""

    location: str
    version: int
    stamp: tuple[int, int] | None
    schema: str
    spark: SparkSession


# frame returned by a whole-snapshot read -> its SnapshotId; weak keys, so an
# entry lives exactly as long as its frame
_SNAPSHOT_READS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def snapshot_of(df: DataFrame) -> SnapshotId | None:
    """The snapshot ``df`` is a whole-snapshot read of, or ``None`` for any
    other frame — a filtered or derived frame, a catalog table, a user
    frame, a partition-scoped read."""
    return _SNAPSHOT_READS.get(df)


# frame returned by read_changes / read_change_feed -> the manifest-relative
# data files it reads; weak keys, like _SNAPSHOT_READS
_CHANGE_READS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def change_files(df: DataFrame) -> list[str] | None:
    """The data files (manifest-relative) ``df`` reads iff it is a frame
    :meth:`AtomicParquetTable.read_changes` or :meth:`~AtomicParquetTable.
    read_change_feed` returned, else ``None``: the files' ``k=v``
    directories name every partition the delta touches, without a job. A
    feed's files are the ones the range added plus the base files its new
    deletion vectors hit, so a row inserted and deleted inside the range
    still names its partition."""
    return _CHANGE_READS.get(df)


# attempts a writer makes to claim the next version of a versioned log (the
# snapshot manifests, the schema metadata) before raising CommitConflict
_COMMIT_RETRIES = 20


def _publish(path: Path, payload: dict) -> bool:
    """Create ``path`` holding ``payload`` as JSON iff it is absent — the
    table format's one durable publish (module doc). Returns whether this
    call created it; the temp file is always removed."""
    tmp = path.parent / f".{uuid.uuid4().hex}.tmp"
    tmp.write_text(json.dumps(payload))
    try:
        os.link(tmp, path)
        return True
    except FileExistsError:
        return False
    finally:
        tmp.unlink(missing_ok=True)


def _log_versions(directory: Path, prefix: str) -> list[int]:
    """Sorted versions N of the ``<prefix>N.json`` files in ``directory``:
    the one scan both versioned logs find their head with."""
    names = [n for n in os.listdir(directory) if n.startswith(prefix) and n.endswith(".json")]
    return sorted(int(v) for n in names if (v := n[len(prefix) : -len(".json")]).isdigit())


class CommitConflict(RuntimeError):
    """Raised when the optimistic commit loop exhausts its retries."""


class CheckViolation(RuntimeError):
    """An append batch violated the table's CHECK constraints; nothing was
    committed. ``violations`` maps constraint name → violating-row count."""

    def __init__(self, table: str, violations: dict[str, int]) -> None:
        detail = ", ".join(f"{n}: {c} rows" for n, c in sorted(violations.items()))
        super().__init__(f"CHECK constraint violation on {table}: {detail}")
        self.violations = violations


class _TableMeta(NamedTuple):  # one parsed metadata version
    schema: StructType
    partition_by: tuple[str, ...]
    check_constraints: dict[str, str]
    bloom_columns: list[str]


class AtomicParquetTable:
    """A parquet directory with manifest-committed snapshots (see module doc)."""

    # whole-snapshot reads memoized per table handle (module doc)
    _READ_MEMO_SIZE = 8

    def __init__(
        self,
        spark: SparkSession,
        location: str,
        schema: StructType | None = None,
        partition_by: tuple[str, ...] = (),
    ) -> None:
        self.spark = spark
        self.location = Path(location)
        self.manifest_dir = self.location / "_manifests"
        self.data_dir = self.location / "data"
        from observation_lakehouse_spark.plans.serving import QueryCache

        self._reads = QueryCache(self._READ_MEMO_SIZE)
        self._meta_memo: tuple[tuple, _TableMeta] | None = None
        if not self._schema_path(0).exists():
            if schema is None:
                raise ValueError(f"no table at {location} and no schema given to create one")
            self._reject_reserved_columns(schema)
            self.manifest_dir.mkdir(parents=True, exist_ok=True)
            self.data_dir.mkdir(parents=True, exist_ok=True)
            # a racing creator's publish may win; its metadata then defines
            # the table, as for any later open
            meta = {"schema": schema.jsonValue(), "partition_by": list(partition_by)}
            _publish(self._schema_path(0), {**meta, "check_constraints": {}})
        # fixed at creation, so safe to hold on the handle
        self.partition_by = self._meta().partition_by

    _RESERVED_COLUMNS = frozenset({"_file", "_pos"})

    @classmethod
    def _reject_reserved_columns(cls, schema: StructType) -> None:
        """``_file``/``_pos`` are the internal row-identity aliases every
        DV-aware read adds (:meth:`_read_with_pos`); a user column with
        either name would collide with them and silently bind in
        delete/update predicates (the r9 advisory). Rejected at CREATE so
        the collision cannot exist."""
        clash = sorted(
            f.name for f in schema.fields if f.name.lower() in cls._RESERVED_COLUMNS
        )
        if clash:
            raise ValueError(
                f"column names {clash} are reserved for deletion-vector row "
                "identity (_file/_pos); rename them before creating the table"
            )

    # -- table metadata (versioned, create-if-absent — mirrors _commit) -------

    def _schema_path(self, version: int) -> Path:
        # version 0 is the creation-time metadata
        return self.location / ("_schema.json" if version == 0 else f"_schema.v{version}.json")

    def _schema_version(self) -> int:
        vs = _log_versions(self.location, "_schema.v")
        return vs[-1] if vs else 0

    def _meta(self) -> _TableMeta:
        """The table's metadata at its latest version. Read from the log on
        every call (a directory listing plus a stat) and parsed once per
        version and file stamp, so an edit through any handle is seen by the
        next operation of this one."""
        path = self._schema_path(self._schema_version())
        st = os.stat(path)
        key = (path.name, st.st_ino, st.st_mtime_ns)
        memo = self._meta_memo
        if memo is None or memo[0] != key:
            raw = json.loads(path.read_text())
            memo = self._meta_memo = (
                key,
                _TableMeta(
                    StructType.fromJson(raw["schema"]),
                    tuple(raw["partition_by"]),
                    # back-compat: tables created before CHECK support have no key
                    dict(raw.get("check_constraints", {})),
                    list(raw.get("bloom_columns", [])),
                ),
            )
        return memo[1]

    @property
    def schema(self) -> StructType:
        """The table schema at the latest metadata version."""
        return self._meta().schema

    @property
    def check_constraints(self) -> dict[str, str]:
        """Declared CHECK constraints (name → predicate SQL) at the latest
        metadata version."""
        return dict(self._meta().check_constraints)

    def _mutate_schema_meta(self, mutate) -> None:
        """Serialize metadata edits through the same create-if-absent
        versioned protocol the manifest uses (r6 advice): re-read the LATEST
        metadata, apply ``mutate`` to it, claim the next version. A racing
        edit loses the claim and re-applies onto the winner's state — two
        concurrent constraint declarations both land instead of
        last-writer-wins silently dropping one."""
        for _ in range(_COMMIT_RETRIES):
            v = self._schema_version()
            meta = mutate(json.loads(self._schema_path(v).read_text()))
            if _publish(self._schema_path(v + 1), meta):
                return
            # another editor won; rebase onto their state
        raise CommitConflict(f"gave up after {_COMMIT_RETRIES} schema-metadata attempts")

    # -- CHECK constraints ----------------------------------------------------

    def add_check_constraint(self, name: str, predicate_sql: str) -> None:
        """Declare a row-level CHECK (Delta-style): every future ``append``
        batch is validated in ONE aggregate pass before anything commits,
        and a violating batch raises :class:`CheckViolation` with the table
        untouched. ANSI CHECK semantics: only rows where the predicate is
        FALSE violate — NULL passes (constrain nullability explicitly with
        ``x IS NOT NULL``). Existing data is validated first, so a declared
        constraint is always a true table invariant, not a from-now-on hope.
        Scope: ``append`` (the row-ingest path, batch + streaming); state
        REWRITES (``commit_replace`` — MV refresh, CDC merge, compaction)
        carry their own aggregate-level semantics and are exempt.
        """
        if name in self.check_constraints:
            raise ValueError(f"constraint {name!r} already declared")
        bad = self._check_violations(self.read(), {name: predicate_sql})
        if bad:
            raise CheckViolation(str(self.location), bad)

        def declare(meta: dict) -> dict:
            cons = dict(meta.get("check_constraints", {}))
            if name in cons:
                raise ValueError(f"constraint {name!r} already declared")
            cons[name] = predicate_sql
            meta["check_constraints"] = cons
            return meta

        self._mutate_schema_meta(declare)

    def drop_check_constraint(self, name: str) -> None:
        if name not in self.check_constraints:
            raise KeyError(name)

        def drop(meta: dict) -> dict:
            cons = dict(meta.get("check_constraints", {}))
            cons.pop(name, None)  # racing double-drop: second is a no-op
            meta["check_constraints"] = cons
            return meta

        self._mutate_schema_meta(drop)

    def _check_violations(
        self, df: DataFrame, constraints: dict[str, str]
    ) -> dict[str, int]:
        """name → FALSE-row count, all constraints in one aggregate pass."""
        if not constraints:
            return {}
        from pyspark.sql import functions as F

        names = sorted(constraints)
        row = df.agg(
            *[
                F.sum(
                    F.when(F.expr(constraints[n]) == F.lit(False), 1).otherwise(0)
                ).alias(f"_c{i}")
                for i, n in enumerate(names)
            ]
        ).collect()[0]
        return {
            n: int(row[f"_c{i}"])
            for i, n in enumerate(names)
            if row[f"_c{i}"] not in (None, 0)
        }

    # -- snapshot log ---------------------------------------------------------

    def _versions(self) -> list[int]:
        return _log_versions(self.manifest_dir, "v")

    def latest_version(self) -> int:
        """Highest committed snapshot version (0 = empty table)."""
        vs = self._versions()
        return vs[-1] if vs else 0

    def _manifest(self, version: int) -> dict:
        if version == 0:
            return {"version": 0, "files": [], "commits": {}}
        return json.loads((self.manifest_dir / f"v{version}.json").read_text())

    def _stamp(self, version: int) -> tuple[int, int] | None:
        """(inode, mtime) of snapshot ``version``'s manifest; raises
        FileNotFoundError for a version never committed or expired."""
        if version == 0:
            return None
        st = os.stat(self.manifest_dir / f"v{version}.json")
        return st.st_ino, st.st_mtime_ns

    # -- writes ---------------------------------------------------------------

    def append(self, df: DataFrame, idempotency_key: str | None = None) -> int:
        """Stage + move + commit one batch; returns the committed version.

        With ``idempotency_key``, a key already present in the table's commit
        log makes the call a no-op (returns the recording version) — safe to
        retry after any failure, which is the exactly-once contract.
        """
        if idempotency_key is not None:
            head = self._manifest(self.latest_version())
            if idempotency_key in head["commits"]:
                return head["commits"][idempotency_key]

        # CHECK constraints gate the commit: one aggregate pass over the
        # batch (cast to table types first, so the predicate sees what would
        # land on disk); a violation raises with NOTHING staged.
        meta = self._meta()
        if meta.check_constraints:
            typed = df.select(
                [df[f.name].cast(f.dataType).alias(f.name) for f in meta.schema.fields]
            )
            bad = self._check_violations(typed, meta.check_constraints)
            if bad:
                raise CheckViolation(str(self.location), bad)

        # Stage + move, then commit: optimistic create-if-absent of the next
        # manifest version.
        return self._commit(self.stage(df), idempotency_key)

    def stage(self, df: DataFrame) -> list[str]:
        """Write a batch into ``data/`` WITHOUT committing it; returns the
        (manifest-relative) file list for a later :meth:`_commit` /
        :meth:`commit_replace`.

        1. Stage with a normal distributed write job (aligned by name AND
           cast to the table type — S7 schema-cast on write, so a widened or
           reordered input can't change the on-disk parquet types).
        2. Move data files under data/. Renames are per-file atomic; the
           files stay INVISIBLE to readers until a manifest lists them, so a
           crash here leaks orphan bytes (vacuum reclaims) but never a
           partial table state.
        """
        staging = self.location / "_staging" / uuid.uuid4().hex
        writer = df.select(
            [df[f.name].cast(f.dataType).alias(f.name) for f in self.schema.fields]
        ).write.mode("overwrite")
        if self.partition_by:
            writer = writer.partitionBy(*self.partition_by)
        writer.parquet(str(staging))

        prefix = uuid.uuid4().hex[:12]
        new_files: list[str] = []
        for src in sorted(staging.rglob("*.parquet")):
            rel = src.relative_to(staging)
            dst = self.data_dir / rel.parent / f"{prefix}-{rel.name}"
            dst.parent.mkdir(parents=True, exist_ok=True)
            if getattr(self, "_test_fail_before", None) == "commit" and new_files:
                raise RuntimeError("injected crash after staging, before commit")
            src.rename(dst)
            new_files.append(str(dst.relative_to(self.data_dir)))
        shutil.rmtree(staging, ignore_errors=True)
        return new_files

    def commit_replace(
        self,
        files: list[str],
        idempotency_key: str | None = None,
        expected_version: int | None = None,
    ) -> int:
        """Commit ``files`` (from :meth:`stage`) as the table's ENTIRE file
        list — a full-replacement snapshot (copy-on-write MERGE / overwrite).
        Prior snapshots keep their own file lists and stay time-travelable.

        ``expected_version`` makes the replace SERIALIZABLE: the commit only
        lands if the table head is still at that version (the snapshot the
        replacement was computed FROM); otherwise :class:`CommitConflict` is
        raised so the caller re-reads and re-derives. Without it a replace
        computed from a stale read would silently drop a concurrent commit
        (lost update) — the same validation Iceberg's ``overwrite`` does.
        """
        return self._commit(
            [], idempotency_key, replace_files=list(files), expected_version=expected_version
        )

    def _partition_key(self, values) -> tuple:
        """One partition as the tuple :func:`partition_values` yields for it,
        in ``partition_by`` order (values compare in their string form)."""
        values = tuple(values)
        if len(values) != len(self.partition_by):
            raise ValueError(
                f"partition {values!r} does not name one value per partition "
                f"column {self.partition_by}"
            )
        return tuple(None if v is None else str(v) for v in values)

    def _file_partition(self, rel: str) -> tuple:
        pv = partition_values(rel)
        return tuple(pv.get(c) for c in self.partition_by)

    def commit_partitions(self, files: list[str], partitions) -> int:
        """Replace whole partitions in one commit — Iceberg's
        overwrite-by-partition / Delta's ``replaceWhere``: the head's files
        in ``partitions`` (one value tuple per partition, ``partition_by``
        order) are dropped and ``files`` (from :meth:`stage`) added. A named
        partition that ``files`` leave empty simply disappears; every other
        partition carries over untouched. The drop is re-derived from the
        head on every attempt of the commit loop, so a concurrent commit to
        any partition is rebased onto, never lost. Staged files outside the
        named partitions raise (they would duplicate rows the replace keeps).
        """
        if not self.partition_by:
            raise ValueError("commit_partitions needs a partitioned table")
        replaced = {self._partition_key(p) for p in partitions}
        stray = [f for f in files if self._file_partition(f) not in replaced]
        if stray:
            raise ValueError(
                f"{len(stray)} staged file(s) lie outside the replaced "
                f"partitions, e.g. {stray[0]}"
            )
        return self._commit(list(files), None, drop_partitions=replaced)

    def _collect_stats(self, files: list[str]) -> dict[str, dict[str, list]]:
        """Per-file column [min, max] from parquet footers, for data skipping.

        The same write-time stat collection Iceberg records in its manifests;
        here the footers of the just-staged files are read once at commit
        time (a few ms per file, proportional to the COMMIT's file count —
        never a table-wide scan; on a cluster this folds into the write job).
        Only JSON-safe comparable leaf types (int/float/str) are recorded;
        anything else — nested, binary, temporal — is simply absent, and
        absent stats always read as "keep the file" (pruning is purely an
        optimization, never a correctness dependency).
        """
        try:
            import pyarrow.parquet as pq
        except Exception:  # noqa: BLE001 — stats are optional metadata
            return {}
        out: dict[str, dict[str, list]] = {}
        for rel in files:
            colstats: dict[str, list] = {}
            try:
                md = pq.ParquetFile(str(self.data_dir / rel)).metadata
                for rg in range(md.num_row_groups):
                    row = md.row_group(rg)
                    for ci in range(row.num_columns):
                        col = row.column(ci)
                        try:
                            st = col.statistics
                            if st is None or not st.has_min_max:
                                continue
                            # accessing .min/.max itself raises for types
                            # pyarrow can't extract (e.g. Spark-written
                            # DECIMAL: has_min_max=True but
                            # ArrowNotImplementedError on read) — a per-
                            # COLUMN skip, so one such column never drops
                            # the file's other stats
                            mn, mx = st.min, st.max
                        except Exception:  # noqa: BLE001
                            continue
                        if isinstance(mn, bytes):
                            try:
                                mn, mx = mn.decode(), mx.decode()
                            except UnicodeDecodeError:
                                continue
                        if not (
                            isinstance(mn, (int, float, str))
                            and isinstance(mx, (int, float, str))
                            and not isinstance(mn, bool)
                        ):
                            continue
                        name = col.path_in_schema
                        cur = colstats.get(name)
                        colstats[name] = (
                            [mn, mx]
                            if cur is None
                            else [min(cur[0], mn), max(cur[1], mx)]
                        )
            except Exception:  # noqa: BLE001 — a bad footer never fails a commit
                continue
            if colstats:
                out[rel] = colstats
        return out

    # -- bloom file-skipping index --------------------------------------------

    _BLOOM_MAX_DISTINCT = 200_000
    _BLOOM_BITS_PER_KEY = 10
    _BLOOM_K = 7

    def add_bloom_index(self, column: str) -> None:
        """Declare a per-file Bloom-filter index on ``column`` (the Delta
        ``bloomFilterIndex`` / Iceberg parquet-bloom equivalent): every file
        committed FROM NOW ON carries a ~10-bits-per-distinct-key bitset in
        the manifest, and :meth:`lookup` prunes files whose filter proves the
        key absent. This is the point-lookup complement to min/max stats:
        zone maps only skip when the column is clustered — on a
        high-cardinality UNCLUSTERED key (user id, content hash) every file
        spans the whole range and min/max keeps everything, while a Bloom
        filter skips ~99% of non-matching files regardless of layout.
        Existing files are NOT retro-indexed (absent filter = keep — pruning
        is never a correctness dependency); run :meth:`optimize` to rewrite
        old files under the declaration if retro-coverage matters."""
        if column not in {f.name for f in self.schema.fields}:
            raise KeyError(column)

        def declare(meta: dict) -> dict:
            cols = set(meta.get("bloom_columns", []))
            cols.add(column)
            meta["bloom_columns"] = sorted(cols)
            return meta

        self._mutate_schema_meta(declare)

    def bloom_columns(self) -> list[str]:
        return list(self._meta().bloom_columns)

    @staticmethod
    def _bloom_keys(value) -> set[str]:
        """Canonical key(s) for one value. Spark equality is CROSS-TYPE
        (int 5 == double 5.0 == the int column read back as float by
        pyarrow), so every numeric spelling of one number must land on ONE
        key: integral values canonicalize to their integer digits
        (``n:5`` for 5, 5.0 and -0.0), non-integral floats to ``repr``.
        Strings stay in their own ``s:`` space (int 5 vs str '5' must not
        collide). Beyond 2**53 an int and its nearest double diverge while
        Spark's int↔double comparison still casts-and-matches, so such ints
        carry their double-rounded twin key too (stored AND probed — both
        directions of the cast are covered)."""
        if isinstance(value, bool) or value is None:
            raise TypeError("bloom keys must be int/float/str")
        if isinstance(value, int):
            keys = {f"n:{value}"}
            try:
                fv = float(value)
            except OverflowError:
                return keys
            if int(fv) != value:
                keys.add(f"n:{int(fv)}")
            return keys
        if isinstance(value, float):
            if value.is_integer():
                return {f"n:{int(value)}"}
            return {f"n:{value!r}"}
        if isinstance(value, str):
            return {f"s:{value}"}
        raise TypeError(f"bloom keys must be int/float/str, got {type(value)}")

    @staticmethod
    def _bloom_hashes(key: str) -> tuple[int, int]:
        """Two independent 64-bit draws from one md5 of the canonical key;
        h2 forced odd so the double-hash probe sequence h1 + i·h2 covers
        any m."""
        import hashlib

        d = hashlib.md5(key.encode()).digest()
        return int.from_bytes(d[:8], "big"), int.from_bytes(d[8:], "big") | 1

    def _collect_blooms(self, files: list[str]) -> dict[str, dict[str, dict]]:
        """Per-file Bloom bitsets for the declared columns. One column read
        per (file, declared column) — proportional to the COMMIT's data,
        like the write job itself (on a cluster this folds into the write
        tasks as a distinct-collect); never a table-wide pass. A file whose
        column exceeds the distinct cap, or holds un-hashable types, simply
        gets no filter (absent = keep)."""
        cols = self.bloom_columns()
        if not cols:
            return {}
        import base64

        try:
            import pyarrow.parquet as pq
        except Exception:  # noqa: BLE001 — blooms are optional metadata
            return {}
        out: dict[str, dict[str, dict]] = {}
        for rel in files:
            per: dict[str, dict] = {}
            for col in cols:
                try:
                    tbl = pq.read_table(str(self.data_dir / rel), columns=[col])
                except Exception:  # noqa: BLE001 — e.g. partition-dir column
                    continue
                vals: set = set()
                capped = False
                for v in tbl.column(0).to_pylist():
                    if v is None:
                        continue
                    vals.add(v)
                    if len(vals) > self._BLOOM_MAX_DISTINCT:
                        capped = True
                        break
                if capped or not vals:
                    continue
                m = max(64, len(vals) * self._BLOOM_BITS_PER_KEY)
                bits = bytearray((m + 7) // 8)
                try:
                    for v in vals:
                        for key in self._bloom_keys(v):
                            h1, h2 = self._bloom_hashes(key)
                            for i in range(self._BLOOM_K):
                                b = (h1 + i * h2) % m
                                bits[b >> 3] |= 1 << (b & 7)
                except TypeError:
                    continue
                per[col] = {
                    "m": m,
                    "k": self._BLOOM_K,
                    "b64": base64.b64encode(bytes(bits)).decode(),
                }
            if per:
                out[rel] = per
        return out

    @staticmethod
    def _bloom_maybe_contains(entry: dict, value) -> bool:
        import base64

        try:
            keys = AtomicParquetTable._bloom_keys(value)
        except TypeError:
            return True  # un-hashable probe: pruning never decides correctness
        bits = base64.b64decode(entry["b64"])
        m = entry["m"]
        for key in keys:  # maybe-present under ANY numeric spelling = keep
            h1, h2 = AtomicParquetTable._bloom_hashes(key)
            if all(
                (bits[(b := (h1 + i * h2) % m) >> 3] >> (b & 7)) & 1
                for i in range(entry["k"])
            ):
                return True
        return False

    def lookup(self, column: str, value, version: int | None = None) -> DataFrame:
        """Point lookup with full file skipping: a file is read only if its
        manifest [min, max] range admits ``value`` AND (when a Bloom filter
        exists for the column) the filter says maybe-present. The surviving
        files still get the exact equality filter, so the result is correct
        with or without any index — skipping is purely an IO optimization,
        which is what makes it safe to apply opportunistically."""
        v = self.latest_version() if version is None else version
        m = self._manifest(v)
        blooms = m.get("blooms", {})
        keep = [
            f
            for f in self._prune_by_stats(m, column, value, value)
            if (b := blooms.get(f, {}).get(column)) is None
            or self._bloom_maybe_contains(b, value)
        ]
        from pyspark.sql import functions as F

        return self._scan_files(keep, m).filter(F.col(column) == F.lit(value))

    # -- row-level deletes (position deletion vectors) -------------------------

    @property
    def _deletes_dir(self) -> Path:
        d = self.location / "_deletes"
        d.mkdir(exist_ok=True)
        return d

    def _rel_file_col(self):
        """Manifest-relative data-file path of each row, from the parquet
        reader's ``_metadata.file_path`` (Spark emits ``file:/abs/path`` —
        normalize any ``file:/+`` prefix, then strip the data dir)."""
        from pyspark.sql import functions as F

        base = str(self.data_dir.resolve())
        norm = F.regexp_replace(F.col("_metadata.file_path"), "^file:/+", "/")
        return F.substring(norm, len(base) + 2, 1 << 20)

    def _read_with_pos(self, files: list[str]) -> DataFrame:
        """Snapshot file scan carrying (_file, _pos) row identity."""
        from pyspark.sql import functions as F

        schema = self.schema
        df = (
            self.spark.read.schema(schema)
            .option("basePath", str(self.data_dir))
            .parquet(*[str(self.data_dir / f) for f in files])
        )
        return df.select(
            *schema.fieldNames(),
            self._rel_file_col().alias("_file"),
            F.col("_metadata.row_index").alias("_pos"),
        )

    def _delete_sidecars(self, manifest: dict) -> list[str]:
        return sorted({s for lst in manifest.get("deletes", {}).values() for s in lst})

    def _apply_deletes(self, df_with_pos: DataFrame, manifest: dict) -> DataFrame:
        """Filter out rows claimed by the snapshot's deletion vectors: a
        broadcast anti-join on (file, position) — the Delta deletion-vector /
        Iceberg position-delete read path. DVs are tiny next to data (they
        hold positions, not rows), so the probe is map-side; a manifest with
        no deletes returns the input plan unchanged (zero read overhead)."""
        sidecars = self._delete_sidecars(manifest)
        if not sidecars:
            return df_with_pos
        from pyspark.sql import functions as F

        paths = [self._deletes_dir / s for s in sidecars]
        dv = self.spark.read.schema("file string, pos bigint").parquet(
            *[str(p) for p in paths]
        )
        # broadcast only while the sidecar bytes are clearly executor-safe
        # (a mass-delete's DV can be GBs — let AQE pick the strategy there)
        on_disk = sum(
            f.stat().st_size for p in paths for f in p.rglob("*.parquet")
        )
        if on_disk <= 64 << 20:
            dv = F.broadcast(dv)
        return df_with_pos.join(
            dv,
            (df_with_pos["_file"] == dv["file"]) & (df_with_pos["_pos"] == dv["pos"]),
            "left_anti",
        )

    def _live_rows(self, manifest: dict) -> DataFrame:
        files = manifest["files"]
        if not files:
            return self.spark.createDataFrame([], self.schema).selectExpr(
                "*", "CAST(NULL AS STRING) AS _file", "CAST(NULL AS BIGINT) AS _pos"
            )
        return self._apply_deletes(self._read_with_pos(files), manifest)

    def _write_delete_sidecar(self, hits: DataFrame) -> tuple[str, int, list[str]]:
        """Persist (file, pos) rows as one sidecar; returns (sidecar name,
        row count, distinct files touched). The sidecar is invisible until a
        manifest references it (crash ⇒ orphan dir, vacuum reclaims)."""
        from pyspark.sql import functions as F

        name = uuid.uuid4().hex
        out = self._deletes_dir / name
        hits.write.mode("overwrite").parquet(str(out))
        agg = (
            self.spark.read.schema("file string, pos bigint")
            .parquet(str(out))
            .groupBy("file")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
        files = sorted(r["file"] for r in agg)
        n = int(sum(r["n"] for r in agg))
        if n == 0:
            shutil.rmtree(out, ignore_errors=True)
        return name, n, files

    def delete_where(self, predicate_sql: str) -> dict:
        """Row-level DELETE without rewriting data files (Delta deletion
        vectors / Iceberg position deletes): matching rows' (file, position)
        pairs land in a sidecar parquet, the manifest maps affected files to
        their sidecars, and every read anti-joins them out. O(matching rows)
        write cost — a one-row delete in a 100 TB table never copies a file;
        compaction (:meth:`optimize`) later materializes DVs and drops them.

        Positions are computed against the CURRENT head and committed with
        ``expected_version`` pinned: a concurrent commit raises
        :class:`CommitConflict` (re-run to recompute against the new head) —
        positions computed from a stale snapshot must never apply to a
        rewritten file. Returns {"version", "deleted_rows", "files_touched"};
        zero matches commit nothing.
        """
        from pyspark.sql import functions as F

        head_v = self.latest_version()
        m = self._manifest(head_v)
        if not m["files"]:
            return {"version": head_v, "deleted_rows": 0, "files_touched": 0}
        live = self._live_rows(m)
        hits = live.filter(F.expr(predicate_sql)).select(
            F.col("_file").alias("file"), F.col("_pos").alias("pos")
        )
        name, n, files_hit = self._write_delete_sidecar(hits)
        if n == 0:
            return {"version": head_v, "deleted_rows": 0, "files_touched": 0}
        v = self._commit(
            [],
            None,
            add_deletes={f: [name] for f in files_hit},
            expected_version=head_v,
        )
        return {"version": v, "deleted_rows": n, "files_touched": len(files_hit)}

    def update_where(self, predicate_sql: str, assignments: dict[str, str]) -> dict:
        """Row-level UPDATE = copy-on-write of the MATCHING rows only: the
        updated rows append as new files, the old positions go into a
        deletion vector, both in ONE serializable commit (merge-on-read
        UPDATE — what Delta does when DVs are enabled). Non-matching rows
        are never copied. ``assignments`` maps column → SQL expression
        (evaluated against the matching row). CHECK constraints gate the
        updated rows exactly like :meth:`append`."""
        from pyspark.sql import functions as F

        meta = self._meta()
        unknown = set(assignments) - set(meta.schema.fieldNames())
        if unknown:
            raise ValueError(f"assignments target unknown columns: {sorted(unknown)}")
        head_v = self.latest_version()
        m = self._manifest(head_v)
        if not m["files"]:
            return {"version": head_v, "updated_rows": 0}
        live = self._live_rows(m)
        hits = live.filter(F.expr(predicate_sql))
        updated = hits.select(
            [
                F.expr(assignments[f.name]).cast(f.dataType).alias(f.name)
                if f.name in assignments
                else F.col(f.name)
                for f in meta.schema.fields
            ]
        )
        if meta.check_constraints:
            bad = self._check_violations(updated, meta.check_constraints)
            if bad:
                raise CheckViolation(str(self.location), bad)
        name, n, files_hit = self._write_delete_sidecar(
            hits.select(F.col("_file").alias("file"), F.col("_pos").alias("pos"))
        )
        if n == 0:
            return {"version": head_v, "updated_rows": 0}
        new_files = self.stage(updated)
        v = self._commit(
            new_files,
            None,
            add_deletes={f: [name] for f in files_hit},
            expected_version=head_v,
        )
        return {"version": v, "updated_rows": n}

    def merge_into(
        self,
        source: DataFrame,
        on: str | list[str],
        when_matched_update: dict[str, str] | None = None,
        when_matched_delete: bool = False,
        when_not_matched_insert: bool = True,
        idempotency_key: str | None = None,
        matched_clauses: list[dict] | None = None,
        not_matched_by_source: list[dict] | None = None,
    ) -> dict:
        """MERGE INTO with deletion-vector semantics (the Delta/Iceberg
        upsert, merge-on-read flavor): source rows match live target rows on
        equality of the ``on`` columns; matched target rows are UPDATEd
        (rewritten as new files, old positions into a DV — non-matching rows
        in the same files are never copied) or DELETEd (DV only), and
        unmatched source rows INSERT. Everything lands in ONE serializable
        commit pinned to the head the positions were computed against
        (:class:`CommitConflict` on a racing writer — re-run to recompute).

        Two clause grammars (r11 extends to the full Delta/Iceberg shape):

        - Legacy single-action: ``when_matched_update`` maps target column →
          SQL expression over the matched pair (target columns by name,
          source columns as ``src_<name>``); ``when_matched_delete`` drops
          matched rows.
        - ``matched_clauses``: an ordered list of
          ``{"action": "update"|"delete", "condition": <sql>|None,
          "set": {col: expr}}`` — the ``WHEN MATCHED [AND cond] THEN …``
          ladder, FIRST-match-wins per row; a matched row satisfying no
          clause condition is left untouched. Conditions see the same
          matched-pair namespace as update expressions.
        - ``not_matched_by_source``: same clause shape evaluated over live
          target rows with NO source match (``WHEN NOT MATCHED BY SOURCE``,
          the CDC/GDPR sweep); conditions and SET expressions see target
          columns only.

        A target row matched by MORE THAN ONE source row raises when any
        matched clause exists (the engine cannot pick which update wins —
        Delta's multiple-source-rows-match error). Inserts require the
        source to carry every table column (aligned by name, cast on
        write). CHECK constraints gate all new rows. The source is eagerly
        ``localCheckpoint``-ed before the multi-consumer section so a
        non-deterministic source (sample/rand/uncheckpointed shuffle)
        cannot make the deletion vector disagree with the rewritten rows.
        Returns ``{"version", "matched_rows", "inserted_rows",
        "not_matched_by_source_rows"}``.
        """
        from pyspark.sql import functions as F

        on_cols = [on] if isinstance(on, str) else list(on)
        if when_matched_update and when_matched_delete:
            raise ValueError("choose ONE matched action: update or delete")
        if matched_clauses is not None and (when_matched_update or when_matched_delete):
            raise ValueError(
                "matched_clauses and when_matched_update/when_matched_delete "
                "are mutually exclusive spellings of the WHEN MATCHED ladder"
            )
        meta = self._meta()
        schema_names = set(meta.schema.fieldNames())

        def _norm(clauses: list[dict], namespace: str) -> list[dict]:
            out = []
            for cl in clauses:
                action = cl.get("action")
                if action not in ("update", "delete"):
                    raise ValueError(f"{namespace} clause action must be "
                                     f"'update' or 'delete', got {action!r}")
                if action == "update":
                    st = cl.get("set")
                    if not st:
                        raise ValueError(f"{namespace} update clause needs a "
                                         "non-empty 'set' map")
                    unknown = set(st) - schema_names
                    if unknown:
                        raise ValueError(
                            f"update targets unknown columns: {sorted(unknown)}"
                        )
                elif cl.get("set"):
                    raise ValueError(f"{namespace} delete clause takes no 'set'")
                out.append({"action": action,
                            "condition": cl.get("condition"),
                            "set": cl.get("set") or {}})
            return out

        if matched_clauses is not None:
            mclauses = _norm(matched_clauses, "matched")
        elif when_matched_update:
            mclauses = [{"action": "update", "condition": None,
                         "set": dict(when_matched_update)}]
        elif when_matched_delete:
            mclauses = [{"action": "delete", "condition": None, "set": {}}]
        else:
            mclauses = []
        nmbs_clauses = _norm(list(not_matched_by_source or []),
                             "not_matched_by_source")
        if not (mclauses or nmbs_clauses or when_not_matched_insert):
            raise ValueError("merge_into with no clauses is a no-op by construction")
        missing_on = [c for c in on_cols if c not in schema_names or c not in source.columns]
        if missing_on:
            raise ValueError(f"on columns missing from target or source: {missing_on}")
        clash = sorted({f"src_{c}" for c in source.columns} & schema_names)
        if clash:
            raise ValueError(
                f"target columns {clash} collide with the src_-prefixed source "
                "namespace; rename them in the source"
            )
        if when_not_matched_insert:
            absent = sorted(schema_names - set(source.columns))
            if absent:
                raise ValueError(
                    f"when_not_matched_insert needs every table column in the "
                    f"source; missing: {absent}"
                )
        no_op = {"matched_rows": 0, "inserted_rows": 0,
                 "not_matched_by_source_rows": 0}
        if idempotency_key is not None:
            committed = self.committed_keys()
            if idempotency_key in committed:
                return {"version": committed[idempotency_key], **no_op}
        head_v = self.latest_version()
        m = self._manifest(head_v)
        # Determinism (r10 ADVICE): the source feeds up to four independent
        # jobs (duplicate-match probe, DV sidecar, update staging, insert
        # anti-join) — pin ONE evaluation so a non-deterministic source
        # can't desynchronize them. MERGE sources are delta-sized by
        # construction; the checkpoint is O(source), never O(table).
        src_pref = source.select(
            [F.col(c).alias(f"src_{c}") for c in source.columns]
        ).localCheckpoint(eager=True)
        if not m["files"]:
            if not when_not_matched_insert:
                return {"version": head_v, **no_op}
            inserts = src_pref.select(
                [F.col(f"src_{f.name}").alias(f.name) for f in meta.schema.fields]
            )
            n_ins = inserts.count()
            if n_ins == 0:
                return {"version": head_v, **no_op}
            v = self.append(inserts, idempotency_key=idempotency_key)
            return {"version": v, "matched_rows": 0, "inserted_rows": n_ins,
                    "not_matched_by_source_rows": 0}
        live = self._live_rows(m)
        cond = None
        for c in on_cols:
            term = live[c] == src_pref[f"src_{c}"]
            cond = term if cond is None else (cond & term)

        def _clause_case(clauses: list[dict]):
            # first-match-wins ladder: CASE WHEN cond_0 THEN 0 WHEN … END;
            # rows satisfying no condition stay NULL (= untouched)
            case = None
            for i, cl in enumerate(clauses):
                c = F.expr(cl["condition"]) if cl["condition"] else F.lit(True)
                case = F.when(c, F.lit(i)) if case is None else case.when(c, F.lit(i))
            return case

        def _updates(aff: DataFrame, clauses: list[dict]) -> DataFrame | None:
            frames = []
            for i, cl in enumerate(clauses):
                if cl["action"] != "update":
                    continue
                frames.append(
                    aff.filter(F.col("_clause") == i).select(
                        [
                            F.expr(cl["set"][f.name]).cast(f.dataType).alias(f.name)
                            if f.name in cl["set"]
                            else F.col(f.name)
                            for f in meta.schema.fields
                        ]
                    )
                )
            out = None
            for fr in frames:
                out = fr if out is None else out.unionByName(fr)
            return out

        affected_m = None
        n_matched = n_upd_m = 0
        if mclauses:
            # ONE evaluation of the matched join (r12; the dup probe
            # previously re-executed the whole live-side join): checkpoint
            # the clause-tagged matched rows BEFORE the clause filter, then
            # answer the dup probe, the matched count and the update count
            # from the checkpoint in ONE aggregate job.
            matched_all = (
                live.join(src_pref, cond, "inner")
                .withColumn("_clause", _clause_case(mclauses))
                .localCheckpoint(eager=True)
            )
            upd_idx_m = [i for i, cl in enumerate(mclauses) if cl["action"] == "update"]
            stats = (
                matched_all.groupBy("_file", "_pos")
                .agg(
                    F.count(F.lit(1)).alias("_n"),
                    F.sum(
                        F.col("_clause").isNotNull().cast("long")
                    ).alias("_nm"),
                    F.sum(
                        F.col("_clause").isin(upd_idx_m).cast("long")
                        if upd_idx_m
                        else F.lit(0).cast("long")
                    ).alias("_nu"),
                )
                .agg(
                    F.max("_n").alias("_dup"),
                    F.sum("_nm").alias("_nm"),
                    F.sum("_nu").alias("_nu"),
                )
                .collect()[0]
            )
            if (stats["_dup"] or 0) > 1:
                raise ValueError(
                    "merge_into: a target row matches multiple source rows on "
                    f"{on_cols} — the matched action is ambiguous; de-duplicate "
                    "the source on the merge key first"
                )
            n_matched = int(stats["_nm"] or 0)
            n_upd_m = int(stats["_nu"] or 0)
            affected_m = matched_all.filter(F.col("_clause").isNotNull())
        affected_n = None
        n_nmbs = n_upd_n = 0
        if nmbs_clauses:
            unmatched_t = live.join(
                src_pref.select([f"src_{c}" for c in on_cols]).distinct(),
                [live[c] == F.col(f"src_{c}") for c in on_cols],
                "left_anti",
            )
            affected_n = (
                unmatched_t.withColumn("_clause", _clause_case(nmbs_clauses))
                .filter(F.col("_clause").isNotNull())
                .localCheckpoint(eager=True)
            )
            upd_idx_n = [i for i, cl in enumerate(nmbs_clauses)
                         if cl["action"] == "update"]
            nstats = affected_n.agg(
                F.count(F.lit(1)).alias("_nm"),
                F.sum(
                    F.col("_clause").isin(upd_idx_n).cast("long")
                    if upd_idx_n
                    else F.lit(0).cast("long")
                ).alias("_nu"),
            ).collect()[0]
            n_nmbs = int(nstats["_nm"] or 0)
            n_upd_n = int(nstats["_nu"] or 0)
        new_rows = None
        if affected_m is not None:
            new_rows = _updates(affected_m, mclauses)
        if affected_n is not None:
            upd_n = _updates(affected_n, nmbs_clauses)
            if upd_n is not None:
                new_rows = upd_n if new_rows is None else new_rows.unionByName(upd_n)
        if when_not_matched_insert:
            inserts = src_pref.join(
                live.select(*on_cols),
                [src_pref[f"src_{c}"] == F.col(c) for c in on_cols],
                "left_anti",
            ).select(
                [
                    F.col(f"src_{f.name}").cast(f.dataType).alias(f.name)
                    for f in meta.schema.fields
                ]
            )
            new_rows = inserts if new_rows is None else new_rows.unionByName(inserts)
        if meta.check_constraints and new_rows is not None:
            bad = self._check_violations(new_rows, meta.check_constraints)
            if bad:
                raise CheckViolation(str(self.location), bad)
        name, n_dv, files_hit = (None, 0, [])
        if n_matched or n_nmbs:
            hits = None
            for aff in (affected_m, affected_n):
                if aff is None:
                    continue
                h = aff.select(F.col("_file").alias("file"), F.col("_pos").alias("pos"))
                hits = h if hits is None else hits.unionByName(h)
            name, n_dv, files_hit = self._write_delete_sidecar(hits)
        new_files = self.stage(new_rows) if new_rows is not None else []
        n_new = 0
        if new_files:
            # row count from the just-staged parquet FOOTERS (driver-side,
            # same metadata _collect_stats reads at commit) — not a count job
            import pyarrow.parquet as pq

            n_new = sum(
                pq.ParquetFile(str(self.data_dir / f)).metadata.num_rows
                for f in new_files
            )
        n_inserted = n_new - n_upd_m - n_upd_n
        if n_dv == 0 and n_new == 0:
            return {"version": head_v, **no_op}
        v = self._commit(
            new_files,
            idempotency_key,
            add_deletes={f: [name] for f in files_hit} if n_dv else None,
            expected_version=head_v,
        )
        return {
            "version": v,
            "matched_rows": n_matched,
            "inserted_rows": n_inserted,
            "not_matched_by_source_rows": n_nmbs,
        }

    def _commit(
        self,
        new_files: list[str],
        idempotency_key: str | None,
        replace_files: list[str] | None = None,
        expected_version: int | None = None,
        add_deletes: dict[str, list[str]] | None = None,
        replace_deletes: dict[str, list[str]] | None = None,
        drop_partitions: set[tuple] | None = None,
    ) -> int:
        import time

        # Stats for files this commit introduces, collected ONCE outside the
        # retry loop (a file's footer never changes, so conflicts only re-merge
        # the parent-carried entries). In the replace case only files the
        # current head doesn't already know are footer-read.
        known = self._manifest(self.latest_version())
        candidates = new_files if replace_files is None else replace_files
        fresh_stats = self._collect_stats(
            [f for f in candidates if f not in known.get("stats", {})]
        )
        fresh_blooms = self._collect_blooms(
            [f for f in candidates if f not in known.get("blooms", {})]
        )
        for _ in range(_COMMIT_RETRIES):
            head_v = self.latest_version()
            head = self._manifest(head_v)
            if idempotency_key is not None and idempotency_key in head["commits"]:
                return head["commits"][idempotency_key]  # raced with our retry twin
            if expected_version is not None and head_v != expected_version:
                raise CommitConflict(
                    f"table advanced to v{head_v} (expected v{expected_version}); "
                    "re-read and re-derive the replacement"
                )
            next_v = head_v + 1
            if replace_files is not None:
                files = replace_files
            elif drop_partitions is not None:
                files = [
                    f for f in head["files"]
                    if self._file_partition(f) not in drop_partitions
                ] + new_files
            else:
                files = head["files"] + new_files
            parent_stats = head.get("stats", {})
            parent_blooms = head.get("blooms", {})
            # Deletion vectors: explicit replace_deletes wins (rollback/
            # optimize restore or materialize); otherwise carry the parent's
            # per-file sidecars for files still present and merge this
            # commit's additions.
            if replace_deletes is not None:
                base_deletes = replace_deletes
            else:
                base_deletes = head.get("deletes", {})
            deletes = {
                f: sorted(
                    set(base_deletes.get(f, [])) | set((add_deletes or {}).get(f, []))
                )
                for f in files
                if base_deletes.get(f) or (add_deletes or {}).get(f)
            }
            manifest = {
                "version": next_v,
                "parent": head_v,
                "files": files,
                **({"deletes": deletes} if deletes else {}),
                "stats": {
                    f: s
                    for f in files
                    if (s := fresh_stats.get(f) or parent_stats.get(f)) is not None
                },
                "blooms": {
                    f: b
                    for f in files
                    if (b := fresh_blooms.get(f) or parent_blooms.get(f)) is not None
                },
                "commits": {**head["commits"], **(
                    {idempotency_key: next_v} if idempotency_key is not None else {}
                )},
                "committed_at": time.time(),
            }
            if _publish(self.manifest_dir / f"v{next_v}.json", manifest):
                return next_v
            # another committer won; rebase on the new head
        raise CommitConflict(f"gave up after {_COMMIT_RETRIES} commit attempts")

    # -- reads ----------------------------------------------------------------

    def read(
        self,
        version: int | None = None,
        ref: str | None = None,
        partitions=None,
    ) -> DataFrame:
        """Snapshot read (latest by default; pass ``version`` to time-travel,
        or ``ref`` to read a named tag/branch — Iceberg's ``VERSION AS OF``
        by name).

        Scans exactly the manifest's file list: concurrent appends never tear,
        uncommitted/orphan files are never seen. ``basePath`` keeps the hive
        partition directories parsed as columns, so partition pruning still
        applies; the explicit schema keeps their declared types.

        A whole-snapshot read (no ``partitions``) returns the SAME DataFrame
        for the same ``(version, schema)`` on this handle, so a repeat read
        does not re-list the snapshot's files. The head version is looked up
        on every call, so a commit from any process, ``add_column``,
        ``rollback`` or ``delete_where`` is seen by the next read, and a
        time-travel read of an expired version still raises. The frame is
        recorded with its :class:`SnapshotId` (:func:`snapshot_of`).

        ``partitions`` (value tuples in ``partition_by`` order) scopes the
        read from the manifest: Spark is handed only those partitions' files,
        so the plan's file index never holds the rest of the table. No
        matching file returns the empty frame with the table schema.
        """
        if ref is not None:
            if version is not None:
                raise ValueError("pass version OR ref, not both")
            version = self.resolve_ref(ref)
        v = self.latest_version() if version is None else version
        if partitions is not None:
            m = self._manifest(v)
            wanted = {self._partition_key(p) for p in partitions}
            files = [f for f in m["files"] if self._file_partition(f) in wanted]
            return self._scan_files(files, m)
        snap = SnapshotId(str(self.location), v, self._stamp(v), self.schema.json(), self.spark)

        def build() -> DataFrame:
            m = self._manifest(v)
            df = self._scan_files(m["files"], m)
            _SNAPSHOT_READS[df] = snap
            return df

        return self._reads.get("read", (v, snap.stamp, snap.schema), build)

    def _scan_files(self, files: list[str], manifest: dict) -> DataFrame:
        """Scan exactly ``files`` (``manifest``'s deletion vectors applied),
        columns in schema order; no files gives the empty frame."""
        schema = self.schema
        if not files:
            return self.spark.createDataFrame([], schema)
        cols = schema.fieldNames()
        if manifest.get("deletes"):
            return self._apply_deletes(self._read_with_pos(files), manifest).select(cols)
        reader = self.spark.read.schema(schema).option("basePath", str(self.data_dir))
        return reader.parquet(*[str(self.data_dir / f) for f in files]).select(cols)

    @staticmethod
    def _prune_by_stats(manifest: dict, column: str, lower, upper) -> list[str]:
        """``manifest``'s files whose [min, max] stats for ``column`` may hold
        a value in ``[lower, upper]`` (``None`` = unbounded). Pruning must
        never be a correctness dependency: a file without stats, or whose
        stat values aren't comparable to the bounds (schema evolution left
        str/int stats mixed across files, or a numeric bound probes a string
        column), is kept and the caller's residual filter decides."""
        stats = manifest.get("stats", {})
        keep = []
        for f in manifest["files"]:
            s = stats.get(f, {}).get(column)
            try:
                if s is not None and (
                    (lower is not None and s[1] < lower) or (upper is not None and s[0] > upper)
                ):
                    continue
            except TypeError:
                pass
            keep.append(f)
        return keep

    def scan(
        self,
        column: str,
        lower=None,
        upper=None,
        version: int | None = None,
    ) -> DataFrame:
        """Data-skipping snapshot read: files whose manifest [min, max] range
        for ``column`` cannot contain ``[lower, upper]`` are pruned BEFORE the
        Spark scan is planned — the zone-map/file-skipping read Iceberg and
        Delta drive from manifest stats, and the piece that makes point/range
        lookups on a sorted or naturally-clustered column O(matching files)
        instead of O(table). The surviving files still get the residual
        ``filter``, so results are exact whether or not stats exist (absent
        stats = keep the file; partition columns are dir-encoded, their
        pruning is Spark's own and needs no stats here).
        """
        if lower is None and upper is None:
            raise ValueError("scan() needs lower and/or upper — use read() for full scans")
        v = self.latest_version() if version is None else version
        m = self._manifest(v)
        df = self._scan_files(self._prune_by_stats(m, column, lower, upper), m)
        from pyspark.sql import functions as F

        if lower is not None:
            df = df.filter(F.col(column) >= F.lit(lower))
        if upper is not None:
            df = df.filter(F.col(column) <= F.lit(upper))
        return df

    def read_changes(self, since_version: int, to_version: int | None = None) -> DataFrame:
        """Incremental read: rows APPENDED after ``since_version`` up to
        ``to_version`` (default: head) — the files in the target snapshot
        that the base snapshot lacks, which is exactly the appended data as
        long as the range is append-only. A replace/rollback inside the range
        removes files, so the delta is no longer expressible as
        files-to-read; that raises (the same append-only restriction
        Iceberg's incremental scan has) and the caller falls back to a
        snapshot diff (operators.cdc.table_diff) between the two reads.
        Rows are reported AS APPENDED: a later :meth:`delete_where` doesn't
        retract them from this log (deletes are snapshot-level state, not
        change events — diff two snapshots if you need retractions).
        The frame's file list is recorded (:func:`change_files`).
        """
        base, target = self._append_only_range(since_version, to_version)
        known = set(base["files"])
        files = [f for f in target["files"] if f not in known]
        # as appended: the target's deletion vectors are not applied
        df = self._scan_files(files, {})
        _CHANGE_READS[df] = files
        return df

    def _append_only_range(
        self, since_version: int, to_version: int | None
    ) -> tuple[dict, dict]:
        """The base and target manifests of ``since_version..to_version``
        (default: head), after checking that both snapshots exist and that
        every commit in the range only added files. Diffing just the
        endpoints would miss a replace that rewrites a file added within the
        range (v2 appends f1, v3 replaces f1 with g: the endpoints diff
        clean, but g is not appended data), so each intermediate manifest
        must be a superset of its parent's file set."""
        versions = self._versions()
        to_v = (versions[-1] if versions else 0) if to_version is None else to_version
        for v in (since_version, to_v):
            if v != 0 and v not in versions:
                raise ValueError(f"no snapshot v{v}")
        if to_v < since_version:
            raise ValueError(f"to_version v{to_v} precedes since_version v{since_version}")
        base = target = self._manifest(since_version)
        prev = set(base["files"])
        for v in versions:
            if since_version < v <= to_v:
                target = self._manifest(v)
                cur = set(target["files"])
                if prev - cur:
                    raise ValueError(
                        f"v{since_version}..v{to_v} is not append-only (v{v} removed "
                        f"{len(prev - cur)} file(s) via a replace/rollback); diff the "
                        "two snapshot reads instead"
                    )
                prev = cur
        return base, target

    def read_change_feed(
        self, since_version: int, to_version: int | None = None
    ) -> DataFrame:
        """Change data feed WITH retractions (Delta CDF semantics over the
        deletion-vector layout): every row inserted or deleted between the
        two snapshots, tagged by a ``_change_type`` column ('insert' /
        'delete'). An :meth:`update_where` naturally shows up as its
        delete+insert pair.

        - inserts: rows of files the target snapshot added, minus positions
          the target's DVs already retract (a row appended AND deleted
          inside the range nets out — it was never visible at either
          endpoint);
        - deletes: positions whose DV sidecars were added within the range
          against files the BASE snapshot already had, joined back to the
          data files for the full row image (DV sidecars store positions,
          not rows — the row read is O(affected files)).

        Same append+delete-only restriction as :meth:`read_changes`: a
        replace/rollback inside the range removes files, the delta stops
        being expressible, and this raises (diff two snapshot reads
        instead). The frame's file list — the added files plus the base
        files hit by new deletion vectors — is recorded
        (:func:`change_files`).
        """
        from pyspark.sql import functions as F

        base_m, to_m = self._append_only_range(since_version, to_version)
        base = set(base_m["files"])
        schema = self.schema
        tag = lambda df, t: df.select(  # noqa: E731
            F.lit(t).alias("_change_type"), *schema.fieldNames()
        )
        # inserts: added files, minus target-DV-retracted positions
        added = [f for f in to_m["files"] if f not in base]
        if added:
            ins = self._apply_deletes(self._read_with_pos(added), to_m)
        else:
            ins = None
        # deletes: sidecars new in the range, restricted to BASE files (a
        # DV against an in-range file was netted out of the inserts above)
        base_sc = set(self._delete_sidecars(base_m))
        new_sc = [s for s in self._delete_sidecars(to_m) if s not in base_sc]
        dels = None
        affected = []
        if new_sc:
            dv = self.spark.read.schema("file string, pos bigint").parquet(
                *[str(self._deletes_dir / s) for s in new_sc]
            )
            affected = sorted(
                {
                    f
                    for f, scs in to_m.get("deletes", {}).items()
                    if f in base and any(s in new_sc for s in scs)
                }
            )
            if affected:
                rows = self._read_with_pos(affected)
                dels = rows.join(
                    F.broadcast(dv),
                    (rows["_file"] == dv["file"]) & (rows["_pos"] == dv["pos"]),
                    "left_semi",
                )
        out = tag(self.spark.createDataFrame([], schema), "insert").limit(0)
        if ins is not None:
            out = out.unionByName(tag(ins, "insert"))
        if dels is not None:
            out = out.unionByName(tag(dels, "delete"))
        _CHANGE_READS[out] = added + affected
        return out

    def add_column(self, column: str, spark_type: str) -> None:
        """Widen the table schema with an optional column (additive evolution).

        Existing data files simply lack the column; the explicit-schema read
        returns NULLs for them — the same reader-resolves-by-name behavior the
        reference relies on for Iceberg schema evolution.
        """
        from pyspark.sql.types import StructField, _parse_datatype_string

        if column.lower() in self._RESERVED_COLUMNS:
            raise ValueError(
                f"column name {column!r} is reserved for deletion-vector row "
                "identity (_file/_pos)"
            )
        dt = _parse_datatype_string(spark_type)

        def widen(meta: dict) -> dict:
            # rebase onto the LATEST on-disk schema (a racing evolve/DDL may
            # have advanced it) and preserve every other metadata key — the
            # old tmp+rename rewrite dropped check_constraints outright.
            cur = StructType.fromJson(meta["schema"])
            if column in cur.fieldNames():
                return meta  # racing duplicate evolve: idempotent
            meta["schema"] = StructType(
                list(cur.fields) + [StructField(column, dt, True)]
            ).jsonValue()
            return meta

        self._mutate_schema_meta(widen)

    def committed_keys(self) -> dict[str, int]:
        """Idempotency keys recorded so far → committing version."""
        return dict(self._manifest(self.latest_version())["commits"])

    # -- snapshot management (the Iceberg maintenance surface) ----------------

    def history(self) -> list[dict]:
        """Commit log, oldest first: version, parent, file/commit deltas.

        Derived by diffing each manifest against its parent (manifests store
        cumulative state), so the log shows what each commit ADDED — and a
        rollback shows as a negative file delta."""
        out = []
        for v in self._versions():
            m = self._manifest(v)
            parent_v = m.get("parent", v - 1)
            try:
                parent = self._manifest(parent_v)
            except FileNotFoundError:  # parent expired — deltas unknown
                parent = None
            out.append(
                {
                    "version": v,
                    "parent": parent_v,
                    "n_files": len(m["files"]),
                    "files_delta": (
                        len(m["files"]) - len(parent["files"]) if parent is not None else None
                    ),
                    "new_keys": (
                        sorted(set(m["commits"]) - set(parent["commits"]))
                        if parent is not None
                        else []
                    ),
                    "committed_at": m.get("committed_at"),
                }
            )
        return out

    def rollback(self, version: int) -> int:
        """Restore the table to ``version``'s state as a NEW commit.

        Like Iceberg's rollback: nothing is deleted — a fresh snapshot whose
        file list equals the target version's is committed on top, so the
        rolled-back-over versions stay time-travelable (until
        :meth:`expire_snapshots`) and concurrent committers still serialize
        through the same optimistic loop.
        """
        if version not in (0, *self._versions()):
            raise ValueError(f"no snapshot v{version} to roll back to")
        target = self._manifest(version)
        return self._commit(
            [],
            None,
            replace_files=list(target["files"]),
            # restore the TARGET's deletion vectors, not the head's (a later
            # delete_where must not survive the rollback)
            replace_deletes=dict(target.get("deletes", {})),
        )

    def optimize(
        self,
        target_file_bytes: int = 128 << 20,
        min_input_files: int = 2,
        zorder_by: tuple[str, ...] = (),
        zorder_bits: int = 8,
    ) -> dict:
        """Compact small files into right-sized ones as a NEW snapshot —
        Delta ``OPTIMIZE`` / Iceberg ``rewrite_data_files``, the maintenance
        command :func:`~observation_lakehouse_spark.plans.maintenance.
        layout_report`'s small-file findings feed.

        Files under ``target_file_bytes / 2`` are compaction candidates,
        grouped BY PARTITION DIRECTORY (a rewrite never crosses partition
        boundaries); a partition rewrites only when it has at least
        ``min_input_files`` candidates. Right-sized files carry over
        untouched — their manifest stats keep skipping scans, and the
        rewrite job reads only the small-file tail, not the table. The
        result commits as a serializable full-replacement snapshot
        (``expected_version`` pins the head this plan was computed from);
        prior snapshots stay time-travelable and the replaced small files
        become reclaimable by :meth:`vacuum` once their snapshots expire.

        Returns {"rewritten", "produced", "carried", "version"}; a no-op
        (nothing to compact) returns with version = current head and no
        commit.
        """
        head_v = self.latest_version()
        head_m = self._manifest(head_v)
        files = head_m["files"]
        head_deletes = head_m.get("deletes", {})
        small_cut = target_file_bytes // 2
        by_part: dict[str, list[str]] = {}
        carried: list[str] = []
        for f in files:
            p = self.data_dir / f
            # A manifest entry whose file a concurrent vacuum reclaimed (or a
            # manifest/disk mismatch) must not abort the whole plan mid-way —
            # carry it untouched, mirroring layout_report's handling; the
            # read below only scans the to_rewrite set, so a carried-missing
            # file degrades exactly as it would on any read of that snapshot.
            if not p.exists():
                carried.append(f)
                continue
            # a ZORDER pass reclusters EVERYTHING in scope (Delta's OPTIMIZE
            # ZORDER BY semantics): right-sized files still need reordering.
            # A file carrying deletion vectors always qualifies — compaction
            # is what MATERIALIZES row-level deletes and retires the DV.
            if zorder_by or f in head_deletes or p.stat().st_size < small_cut:
                by_part.setdefault(str(Path(f).parent), []).append(f)
            else:
                carried.append(f)
        to_rewrite: list[str] = []
        for part, group in by_part.items():
            if zorder_by or len(group) >= min_input_files or any(
                f in head_deletes for f in group
            ):
                to_rewrite.extend(group)
            else:
                carried.extend(group)
        if not to_rewrite:
            return {
                "rewritten": 0,
                "produced": 0,
                "carried": len(carried),
                "version": head_v,
            }
        from pyspark.sql import functions as F

        total = sum((self.data_dir / f).stat().st_size for f in to_rewrite)
        # merge-on-read becomes copy-on-write here: the rewrite drops DV'd
        # positions, so the new files need no deletion vectors
        df = self._scan_files(
            to_rewrite,
            {"deletes": {f: head_deletes[f] for f in to_rewrite if f in head_deletes}},
        )
        if self.partition_by:
            # one write task per partition key (hash may co-locate several
            # keys in a task; the partitioned writer still splits by dir)
            df = df.repartition(*[F.col(c) for c in self.partition_by])
        else:
            df = df.coalesce(max(1, -(-total // target_file_bytes)))
        if zorder_by:
            from observation_lakehouse_spark.plans.maintenance import zorder_key

            # Delta OPTIMIZE ZORDER BY: sort within the write tasks by the
            # Morton key, so row groups become min/max-prunable on EVERY z
            # dimension. Partition cols lead the sort: the partitioned
            # writer requires rows grouped by partition within a task, and
            # a sort it injects itself would destroy the z clustering.
            df = df.sortWithinPartitions(
                *[F.col(c) for c in self.partition_by],
                zorder_key(df, zorder_by, bits=zorder_bits),
            )
        new_files = self.stage(df)
        version = self._commit(
            [],
            None,
            replace_files=carried + new_files,
            expected_version=head_v,
            # carried files keep their DVs; rewritten files materialized them
            replace_deletes={f: head_deletes[f] for f in carried if f in head_deletes},
        )
        return {
            "rewritten": len(to_rewrite),
            "produced": len(new_files),
            "carried": len(carried),
            "version": version,
        }

    # -- named refs (Iceberg-style tags & branches) -----------------------------

    _REF_NAME_OK = staticmethod(
        lambda name: bool(name) and all(c.isalnum() or c in "_-." for c in name)
    )

    def _refs_dir(self) -> Path:
        d = self.location / "_refs"
        d.mkdir(exist_ok=True)
        return d

    def _ref_file(self, name: str) -> Path:
        if not self._REF_NAME_OK(name):
            raise ValueError(f"invalid ref name {name!r}")
        return self._refs_dir() / f"{name}.json"

    def _check_ref_version(self, version: int | None) -> int:
        v = self.latest_version() if version is None else int(version)
        if v != 0 and v not in self._versions():
            raise ValueError(f"no snapshot v{v} to reference")
        return v

    def _create_ref(self, name: str, kind: str, version: int | None) -> int:
        """Publish ref ``name`` of type ``kind`` at ``version`` (default: the
        head). Creation is create-if-absent (:func:`_publish`), so two racing
        creators of one name cannot both win."""
        v = self._check_ref_version(version)
        if not _publish(self._ref_file(name), {"type": kind, "version": v}):
            raise ValueError(f"ref {name!r} already exists")
        return v

    def create_tag(self, name: str, version: int | None = None) -> int:
        """Pin a snapshot under an immutable name (Iceberg tag). Tagged
        versions survive :meth:`expire_snapshots` (and therefore keep their
        data files through :meth:`vacuum`) until the tag is deleted — the
        audit/repro use case: ``create_tag('train-corpus-2026q3')`` freezes
        exactly what a training run read."""
        return self._create_ref(name, "tag", version)

    def create_branch(self, name: str, version: int | None = None) -> int:
        """A MOVABLE named pointer (Iceberg branch ref). Honest scope note:
        commits still serialize on the table's single version sequence —
        there is no divergent write lineage; a branch here is a protected,
        advanceable pointer (create at a version, :meth:`advance_branch` as
        work lands, :meth:`read` with ``ref=`` to serve it), which covers
        the audit/staging workflow without a second commit log."""
        return self._create_ref(name, "branch", version)

    def advance_branch(self, name: str, version: int | None = None) -> int:
        """Move a branch pointer (defaults to the current head). Atomic
        replace — readers resolve either the old or the new target, never a
        torn ref. Tags refuse to move (immutability is their contract)."""
        f = self._ref_file(name)
        if not f.exists():
            raise ValueError(f"no ref {name!r}")
        if json.loads(f.read_text())["type"] != "branch":
            raise ValueError(f"ref {name!r} is a tag (immutable)")
        v = self._check_ref_version(version)
        tmp = self._refs_dir() / f".{uuid.uuid4().hex}.tmp"
        tmp.write_text(json.dumps({"type": "branch", "version": v}))
        os.replace(tmp, f)
        return v

    def delete_ref(self, name: str) -> None:
        f = self._ref_file(name)
        if not f.exists():
            raise ValueError(f"no ref {name!r}")
        f.unlink()

    def refs(self) -> dict[str, dict]:
        """All named refs: name -> {"type": "tag"|"branch", "version": N}."""
        d = self.location / "_refs"
        if not d.exists():
            return {}
        return {
            p.stem: json.loads(p.read_text())
            for p in sorted(d.glob("*.json"))
        }

    def resolve_ref(self, name: str) -> int:
        f = self._ref_file(name)
        if not f.exists():
            raise ValueError(f"no ref {name!r}")
        return int(json.loads(f.read_text())["version"])

    def expire_snapshots(self, keep_last: int = 1) -> list[int]:
        """Drop manifest history older than the newest ``keep_last`` versions.

        Time travel to expired versions stops working; data files they alone
        referenced become orphans that the next :meth:`vacuum` reclaims. The
        head manifest is never expired, and neither is any version a named
        ref (tag or branch) pins — delete the ref first if you really want
        its history gone (the Iceberg retention rule).
        """
        if keep_last < 1:
            raise ValueError(f"keep_last must be >= 1, got {keep_last}")
        pinned = {int(r["version"]) for r in self.refs().values()}
        vs = self._versions()
        expired = [v for v in vs[:-keep_last] if v not in pinned]
        for v in expired:
            (self.manifest_dir / f"v{v}.json").unlink()
        return expired

    def vacuum(self) -> list[str]:
        """Delete orphan data files no RETAINED snapshot references (crash
        leftovers, or files only expired/rolled-back snapshots used).

        References are unioned across every retained manifest — after a
        rollback, files added by rolled-back-over commits are still held by
        their own manifests until those expire. Run only while no writer is
        active: an in-flight append has moved its files into ``data/`` but not
        yet committed the manifest that references them, and vacuuming that
        window would delete files the imminent commit expects (the same rule
        Iceberg's remove-orphan-files maintenance has).
        """
        referenced: set[str] = set()
        live_sidecars: set[str] = set()
        for v in self._versions():
            m = self._manifest(v)
            referenced.update(m["files"])
            live_sidecars.update(self._delete_sidecars(m))
        removed: list[str] = []
        for f in self.data_dir.rglob("*.parquet"):
            rel = str(f.relative_to(self.data_dir))
            if rel not in referenced:
                f.unlink()
                removed.append(rel)
        # orphan deletion-vector sidecars (crashed delete_where, or DVs only
        # expired snapshots referenced) reclaim with the same union rule
        deletes_dir = self.location / "_deletes"
        if deletes_dir.exists():
            for d in deletes_dir.iterdir():
                if d.is_dir() and d.name not in live_sidecars:
                    shutil.rmtree(d, ignore_errors=True)
                    removed.append(f"_deletes/{d.name}")
        shutil.rmtree(self.location / "_staging", ignore_errors=True)
        return removed
