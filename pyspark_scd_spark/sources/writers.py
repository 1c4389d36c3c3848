"""Staged two-phase writer.

The reference reads its own previous output and overwrites the same
directory in place — its documented crash mode
(``java.io.FileNotFoundException``, reference README.md:109-112,
configs/config.py:23 + jobs/create_employee_all.py:190-196) — and
forces a single-task write via ``coalesce(1)`` (:191).

Here: write to a staging directory, check it, then atomically swap.
Partitioned parquet by default; no ``coalesce(1)`` anywhere.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_staged(
    df: DataFrame,
    path: str,
    partition_by: Sequence[str] = (),
    fmt: str = "parquet",
    options: dict | None = None,
    check: Callable[[], None] | None = None,
) -> str:
    """Two-phase commit: stage → check → swap.

    1. Write the full output to ``<path>.__staging__``. Because the
       source lineage may read ``path`` itself (self-referential
       accumulate, reference configs/config.py:23), the write happens
       BEFORE anything under ``path`` is touched — no lazy file refs
       can dangle.
    2. ``check`` (optional) runs once the staging copy is complete —
       typically ``quality.validate`` reading metrics observed during
       this very write. If it raises, the staging copy is deleted and
       the committed output is left untouched.
    3. Move the old output aside, promote staging, delete the old copy.

    On a real deployment this maps to a table-format commit (Iceberg /
    Delta snapshot swap); plain directories get the rename dance, which
    is atomic enough on a local/posix filesystem.
    """
    staging = f"{path}.__staging__"
    backup = f"{path}.__old__"
    writer = df.write.mode("overwrite").format(fmt)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if options:
        writer = writer.options(**options)
    writer.save(staging)
    if check is not None:
        try:
            check()
        except BaseException:
            shutil.rmtree(staging, ignore_errors=True)
            raise

    if os.path.exists(backup):
        shutil.rmtree(backup)
    if os.path.exists(path):
        os.replace(path, backup)
    os.replace(staging, path)
    if os.path.exists(backup):
        shutil.rmtree(backup)
    # Spark keeps a session-level FileStatusCache of directory listings;
    # after the swap it still points at the replaced part files — the
    # reference's FileNotFoundException (README.md:109-112) by another
    # route. Invalidate the path so the next read lists fresh.
    df.sparkSession.catalog.refreshByPath(path)
    return path


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_cols: Sequence[str],
    n_buckets: int,
    sort_cols: Sequence[str] = (),
    fmt: str = "parquet",
) -> None:
    """Persist as a bucketed (and optionally sorted) managed table.

    Two tables bucketed on the same keys with the same bucket count
    join with ZERO shuffle — each task reads bucket i of both sides —
    and sorted buckets skip the sort-merge sort too. (Plain
    ``DataFrameWriter.save`` paths cannot carry bucket metadata;
    bucketing requires the catalog, hence ``saveAsTable``.)
    """
    writer = df.write.format(fmt).mode("overwrite").bucketBy(
        n_buckets, *bucket_cols
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)


def archive_files(files: Sequence[str], dest_dir: str) -> list[str]:
    """Move ingested input files to an archive directory (reference
    ``move_files``, jobs/create_employee_all.py:198-214). Driver-side
    housekeeping; the Structured Streaming file source's
    ``cleanSource=archive`` is the streaming-native equivalent
    (see streaming/ingest.py)."""
    os.makedirs(dest_dir, exist_ok=True)
    moved = []
    for f in files:
        target = os.path.join(dest_dir, os.path.basename(f))
        shutil.move(f, target)
        moved.append(target)
    return moved


def compact_files(
    spark,
    path: str,
    target_bytes: int = 128 * 1024 * 1024,
    fmt: str = "parquet",
) -> int:
    """Small-files compaction: rewrite a directory so each output file
    is ~``target_bytes``.

    Streaming ingest and per-batch appends (e.g. the signature store,
    foreachBatch sinks) accumulate thousands of small files; at scale
    every reader then pays open/footer costs per file and the
    NameNode/listing layer degrades. Compaction = read, repartition to
    ceil(total/target), staged rewrite (write_staged keeps the swap
    atomic and invalidates listing caches). Returns the new partition
    count. Run it on cold partitions (yesterday's date dirs), never
    concurrently with a writer.
    """
    import math

    df = spark.read.format(fmt).load(path)
    total = sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _, fs in os.walk(path)
        for f in fs
        if not f.startswith(("_", "."))
    )
    n = max(1, math.ceil(total / target_bytes))
    write_staged(df.repartition(n), path, fmt=fmt)
    return n


def write_clustered(
    df: DataFrame,
    path: str,
    cluster_cols: Sequence[str],
    n_files: int | None = None,
    fmt: str = "parquet",
) -> str:
    """Range-clustered write: rows globally range-partitioned on
    ``cluster_cols`` and sorted within each file.

    Parquet footers carry per-column min/max; when files hold
    disjoint key ranges, a reader's filter on the cluster column
    prunes whole files (zone-map skipping) instead of scanning and
    discarding. This is the single-dimension form of Z-ordering —
    the right default when one column dominates the filter workload
    (e.g. event time).
    """
    cols = [F.col(c) for c in cluster_cols]
    out = df.repartitionByRange(*cols) if n_files is None else (
        df.repartitionByRange(n_files, *cols)
    )
    out = out.sortWithinPartitions(*cols)
    return write_staged(out, path, fmt=fmt)


def zorder_key(
    df: DataFrame, cols: Sequence[str], bits: int = 16, out_col: str = "__zkey"
) -> DataFrame:
    """Z-order (Morton) key over numeric columns.

    Each column is min/max-normalized to a ``bits``-bit integer (the
    min/max come from one broadcast scalar row, never a global sort —
    percent_rank would funnel 100 TB through one task), then the bit
    planes are interleaved: bit i of column k lands at position
    ``i * n_cols + k``. Rows close in EVERY dimension get close keys,
    so range-clustering on the key gives multi-dimensional file
    skipping — the curve's locality is what ``write_clustered`` on a
    single leading column cannot provide for trailing-column filters.
    All arithmetic is shift/add on longs inside codegen.
    """
    cols = list(cols)
    aggs = []
    for c in cols:
        aggs += [
            F.min(F.col(c)).cast("double").alias(f"__mn_{c}"),
            F.max(F.col(c)).cast("double").alias(f"__mx_{c}"),
        ]
    stats = df.agg(*aggs)
    j = df.crossJoin(F.broadcast(stats))
    top = (1 << bits) - 1
    scaled = []
    for c in cols:
        mn, mx = F.col(f"__mn_{c}"), F.col(f"__mx_{c}")
        frac = (F.col(c).cast("double") - mn) / F.nullif(mx - mn, F.lit(0.0))
        scaled.append(
            F.least(
                F.lit(top).cast("long"),
                F.floor(F.coalesce(frac, F.lit(0.0)) * top).cast("long"),
            )
        )
    z = F.lit(0).cast("long")
    for i in range(bits):
        for k, s in enumerate(scaled):
            bit = F.shiftright(s, i).bitwiseAND(F.lit(1).cast("long"))
            z = z + F.shiftleft(bit, i * len(cols) + k)
    return j.withColumn(out_col, z).drop(
        *[f"__mn_{c}" for c in cols], *[f"__mx_{c}" for c in cols]
    )


def write_zordered(
    df: DataFrame,
    path: str,
    zorder_cols: Sequence[str],
    n_files: int,
    bits: int = 16,
    fmt: str = "parquet",
) -> str:
    """Z-order-clustered write: range-partition + sort on the Morton
    key so each file covers a compact multi-dimensional cell; parquet
    min/max footers then prune files for predicates on ANY of the
    z-ordered columns, not just the leading one."""
    keyed = zorder_key(df, zorder_cols, bits=bits)
    out = keyed.repartitionByRange(n_files, F.col("__zkey")).sortWithinPartitions(
        "__zkey"
    ).drop("__zkey")
    return write_staged(out, path, fmt=fmt)
