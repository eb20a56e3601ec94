"""Table-maintenance jobs (SURVEY.md §2.1 S11, §4 "data clustering").

The reference designed but disabled a sort order (implementation_id, test_id,
step_id) inside each partition — "FIXME z-ordering (only do this from time to
time to avoid rewrites!)" (/root/reference/olake/lakehouse.py:157-165). On a
table format with native maintenance this is ``OPTIMIZE ... ZORDER BY`` (Delta)
or a sorted ``rewrite_data_files`` (Iceberg). For the plain-Parquet fallback the
equivalent is a periodic rewrite that coalesces small files and sorts rows
within each partition — which is exactly what min/max row-group pruning needs
to make (impl, test, step) range scans cheap.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from observation_lakehouse_spark.schemas import PARTITION_COLUMNS

SORT_COLUMNS = ("implementation_id", "test_id", "step_id")


def compact_sort_partitions(
    df: DataFrame,
    output_path: str,
    sort_columns: tuple[str, ...] = SORT_COLUMNS,
    target_files_per_partition: int = 1,
) -> None:
    """Rewrite a partitioned table: few files per partition, sorted within.

    ``repartition(partition cols)`` co-locates each (data_set_id, problem_id)
    before the write (one output file per partition instead of one per input
    task); ``sortWithinPartitions`` lines rows up for row-group min/max pruning
    on the sort columns. Run 'from time to time', as the reference comment says
    — it is a full rewrite of the touched partitions.

    ``target_files_per_partition`` is an upper bound per partition dir, split
    by a deterministic sort-key salt: task-hash collisions can merge salts, and
    AQE coalesces away splits whose outputs are small — which is the desired
    behavior (the knob matters exactly when partitions are big enough that AQE
    keeps the splits).
    """
    keys = [df[c] for c in PARTITION_COLUMNS]
    if target_files_per_partition > 1:
        # Salt derived from the sort key splits each table partition across N
        # shuffle tasks → N files per partition dir. (A bare
        # repartition(N, keys) would set the TOTAL task count instead.)
        from pyspark.sql import functions as F

        salt = F.pmod(
            F.xxhash64(*[df[c] for c in sort_columns]),
            F.lit(target_files_per_partition),
        )
        repartitioned = df.repartition(*keys, salt)
    else:
        repartitioned = df.repartition(*keys)
    compacted = repartitioned.sortWithinPartitions(*[df[c] for c in sort_columns])
    compacted.write.mode("overwrite").partitionBy(*PARTITION_COLUMNS).parquet(output_path)


def zorder_value(columns: list, bits: int = 16):
    """Interleaved-bit z-value over N numeric/hashable columns (a Column).

    Each input is rank-bucketed to ``bits`` bits by the caller (pass columns
    already normalized to [0, 2^bits) longs — e.g. ``F.pmod(F.xxhash64(c),
    2**bits)`` for hash clustering, or a percent_rank bucket for range
    clustering), then bits interleave LSB-first: the resulting sort order is
    the Morton curve, which keeps BOTH dimensions locally clustered so
    parquet row-group min/max prune on either column, not just the leading
    one — the property a linear compound sort lacks.
    """
    from pyspark.sql import functions as F

    z = F.lit(0).cast("long")
    for b in range(bits):
        for i, c in enumerate(columns):
            bit = F.shiftrightunsigned(c.cast("long"), b).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, b * len(columns) + i))
    return z


def zorder_key(df: DataFrame, columns: tuple[str, ...], bits: int = 8):
    """The Morton value (a Column) of ``df``'s ``columns``, each rank-bucketed
    to ``bits`` bits by a GLOBAL approx-quantile bucketing (value
    distribution independent): the sort key of every Z-order rewrite.

    The quantile pass is one aggregate per column over ``df`` (approx, 1e-3
    relative error), cheap relative to the rewrite (scan + fixed-size
    sketch). The per-row bucket lookup counts the boundaries <= the value
    through a literal array + filter size (codegen, no UDF) — a
    2^bits-element filter, fine for a periodic rewrite job, NOT a
    query-path expression."""
    from pyspark.sql import functions as F

    n_buckets = 1 << bits
    bucketed = []
    for c in columns:
        qs = df.stat.approxQuantile(c, [i / n_buckets for i in range(1, n_buckets)], 0.001)
        arr = F.array(*[F.lit(float(q)) for q in qs])
        rank = F.size(F.filter(arr, lambda b: b <= F.col(c).cast("double")))
        bucketed.append(rank.cast("long"))
    return zorder_value(bucketed, bits=bits)


def zorder_partitions(
    df: DataFrame,
    output_path: str,
    zorder_columns: tuple[str, ...],
    bits: int = 8,
    files_per_partition: int = 1,
) -> None:
    """OPTIMIZE ... ZORDER BY for the plain-parquet layout.

    The reference designed exactly this and disabled it pending a rewrite
    story (reference olake/lakehouse.py:157-165 "FIXME z-ordering"); Delta's
    OPTIMIZE ZORDER and Iceberg's sort-order rewrite are the managed-format
    equivalents. Here: rewrite each (data_set_id, problem_id) partition
    sorted by :func:`zorder_key`. Multi-column range scans then skip row
    groups on any z-dimension via parquet min/max stats.

    The rewrite is the same one-shuffle repartition the linear compaction
    uses. ``bits=8`` (256 buckets/dimension) keeps the boundary array a
    small literal — z-order needs only enough resolution to separate row
    groups, not row-level ordering.
    """
    z = zorder_key(df, zorder_columns, bits=bits)
    keys = [df[c] for c in PARTITION_COLUMNS if c in df.columns]
    base = df.repartition(*keys) if keys else df.repartition(files_per_partition)
    zsorted = base.sortWithinPartitions(z)
    writer = zsorted.write.mode("overwrite")
    if keys:
        writer = writer.partitionBy(*[c for c in PARTITION_COLUMNS if c in df.columns])
    writer.parquet(output_path)


def layout_report(
    table,
    columns: list[str],
    small_file_bytes: int = 32 << 20,
) -> dict:
    """Table-layout health from manifest metadata alone — the advisor that
    tells a 100 TB deployment WHEN the S11 maintenance jobs are worth their
    rewrite cost, the decision Delta's `OPTIMIZE` planner and Iceberg's
    rewrite strategies make from the same inputs. Reads ONLY the manifest
    (file list + min/max column stats) and file sizes: cost is O(files),
    never a data scan.

    Per requested column (from the commit-time footer stats the manifests
    already carry):

    - ``stats_coverage`` — fraction of files with usable [min, max];
      uncovered files are always scanned, capping what clustering can buy.
    - ``max_overlap_depth`` — the most files whose ranges overlap any single
      point (endpoint sweep; works for any ordered type incl. strings).
      1 = perfectly clustered (disjoint files — a point lookup touches one
      file); = n_files means every file overlaps: sorting/z-ordering this
      column would cut point/range scans by ~that factor.
    - ``expected_files_per_point_lookup`` (numeric stats only) — the average
      number of files a uniform point probe in the global domain must scan:
      sum of each file's range fraction, + files without stats.

    Plus the file-size profile (``n_small_files`` under ``small_file_bytes``)
    and assembled ``recommendations``: "compact" when small files dominate,
    "sort_or_zorder(col)" when overlap depth says clustering pays.
    """
    m = table._manifest(table.latest_version())  # noqa: SLF001 — same package
    files = list(m["files"])
    stats = m.get("stats", {})
    sizes = []
    for f in files:
        p = table.data_dir / f
        if p.exists():
            sizes.append(p.stat().st_size)
    n_small = sum(1 for s in sizes if s < small_file_bytes)
    report: dict = {
        "n_files": len(files),
        "total_bytes": int(sum(sizes)),
        "n_small_files": n_small,
        "small_file_bytes": small_file_bytes,
        "columns": {},
        "recommendations": [],
    }
    if len(files) >= 4 and n_small / max(len(files), 1) > 0.5:
        report["recommendations"].append("compact")
    for col in columns:
        ranges = [
            (stats[f][col][0], stats[f][col][1])
            for f in files
            if col in stats.get(f, {})
        ]
        info: dict = {"stats_coverage": round(len(ranges) / len(files), 4) if files else 0.0}
        if ranges:
            # endpoint sweep: starts sort before ends at equal values so
            # inclusive [min, max] ranges touching at a point count as
            # overlapping there
            events = sorted(
                [(mn, 0) for mn, _ in ranges] + [(mx, 1) for _, mx in ranges]
            )
            depth = peak = 0
            for _, kind in events:
                depth += 1 if kind == 0 else -1
                peak = max(peak, depth)
            info["max_overlap_depth"] = peak
            mns, mxs = zip(*ranges)
            if all(isinstance(v, (int, float)) for v in mns + mxs):
                gmin, gmax = min(mns), max(mxs)
                span = float(gmax) - float(gmin)
                uncovered = len(files) - len(ranges)
                if span > 0:
                    exp = sum((float(b) - float(a)) / span for a, b in ranges)
                else:
                    exp = float(len(ranges))  # all files at one point
                info["expected_files_per_point_lookup"] = round(exp + uncovered, 4)
            if len(ranges) >= 4 and peak > max(2, len(ranges) // 2):
                report["recommendations"].append(f"sort_or_zorder({col})")
        report["columns"][col] = info
    return report
