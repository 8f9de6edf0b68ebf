"""Medallion parquet writers.

Layout (SURVEY.md §1.4): ``<root>/{bronze,silver,gold}/<table>/``, fact
tables partitioned by event date — the columnar analogue of the reference's
BRIN time indexes (`sql/schema.sql:279-292`): partition pruning + row-group
min/max stats make lookback reads cheap at any scale.

Incremental upserts (the ON CONFLICT replacement) compose merge-by-key with
dynamic partition overwrite: merge only the partitions the batch touches,
rewrite only those. The session sets
``spark.sql.sources.partitionOverwriteMode=dynamic`` (session.py).

Atomicity: parquet has no transactions (X12); job-level idempotency comes
from merge-by-key re-runs, and Spark's output committer keeps partial
writes invisible (_temporary → rename).
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.merge import merge_update_wins

_DATE_COL = "__part_date"


def table_path(root: str, layer: str, table: str) -> str:
    return os.path.join(root, layer, table)


def atomic_rename_dir(spark: SparkSession, src: str, dst: str) -> bool:
    """Publish ``src`` at ``dst`` with one filesystem rename (the atomic
    commit primitive behind ``compact_table``'s swap, the incremental
    stores' exactly-once appends, and the vector-store retrain). Returns
    False without touching anything if ``dst`` already exists — the
    idempotent-replay branch. Uses the Hadoop FileSystem API so the same
    call works on local paths, HDFS, and rename-supporting object
    stores."""
    jvm = spark._jvm
    jsrc = jvm.org.apache.hadoop.fs.Path(src)
    jdst = jvm.org.apache.hadoop.fs.Path(dst)
    fs = jdst.getFileSystem(spark._jsc.hadoopConfiguration())
    if fs.exists(jdst):
        return False
    parent = jdst.getParent()
    if parent is not None and not fs.exists(parent):
        fs.mkdirs(parent)
    if not fs.rename(jsrc, jdst):
        raise IOError(f"rename {src} -> {dst} failed")
    return True


def replace_dir(spark: SparkSession, src: str, dst: str) -> None:
    """Swap ``src`` over ``dst`` via BACKUP-rename, not delete-then-rename:
    ``dst`` → ``dst.replaced`` (atomic), ``src`` → ``dst`` (atomic), then
    the backup is deleted. No crash point destroys both copies: before
    the first rename the old directory is live; between the renames the
    old state survives intact at ``dst.replaced`` (a recoverable window
    in which ``dst`` is briefly absent — callers that serve reads during
    a swap must quiesce them; the incremental stores run migrations
    out-of-band); after the second the new state is live and only the
    backup cleanup remains. If a PREVIOUS swap crashed inside that
    window (``dst`` absent, backup present), the backup is the sole
    surviving copy: it is restored to ``dst`` before this swap proceeds,
    never deleted — the caller may have (re)built ``src`` from the
    missing ``dst``."""
    jvm = spark._jvm
    jdst = jvm.org.apache.hadoop.fs.Path(dst)
    fs = jdst.getFileSystem(spark._jsc.hadoopConfiguration())
    jbak = jvm.org.apache.hadoop.fs.Path(dst + ".replaced")
    if not fs.exists(jdst) and fs.exists(jbak):
        # a previous swap crashed between its two renames: the backup is
        # the ONLY copy of the old state. Restore it first — deleting it
        # here would destroy that sole copy, and the caller may have
        # derived `src` from the missing `dst` (i.e. from nothing).
        if not fs.rename(jbak, jdst):
            raise IOError(
                f"restore of interrupted swap {dst}.replaced -> {dst} failed"
            )
    if fs.exists(jdst):
        fs.delete(jbak, True)  # stale backup — dst is live, safe to drop
        if not fs.rename(jdst, jbak):
            raise IOError(f"backup rename {dst} -> {dst}.replaced failed")
    if not fs.rename(jvm.org.apache.hadoop.fs.Path(src), jdst):
        raise IOError(f"rename {src} -> {dst} failed")
    fs.delete(jbak, True)


def write_table(
    df: DataFrame,
    root: str,
    layer: str,
    table: str,
    partition_by_date_of: str | None = None,
    mode: str = "overwrite",
) -> str:
    """Write a full table; fact tables get date partitioning + a sort within
    partitions by their natural key prefix (X7's composite-index analogue)."""
    path = table_path(root, layer, table)
    writer = df
    if partition_by_date_of is not None:
        writer = df.withColumn(_DATE_COL, F.to_date(F.col(partition_by_date_of)))
        writer.write.mode(mode).partitionBy(_DATE_COL).parquet(path)
    else:
        writer.write.mode(mode).parquet(path)
    return path


def read_table(
    spark: SparkSession, root: str, layer: str, table: str, schema=None
) -> DataFrame:
    reader = spark.read.schema(schema) if schema is not None else spark.read
    df = reader.parquet(table_path(root, layer, table))
    return df.drop(_DATE_COL) if _DATE_COL in df.columns else df


def upsert_table(
    spark: SparkSession,
    incoming: DataFrame,
    root: str,
    layer: str,
    table: str,
    keys: Sequence[str],
    partition_by_date_of: str,
    order_col: str | None = None,
) -> str:
    """Incremental update-wins upsert touching only affected date partitions.

    Reads back just the partitions present in the batch (partition pruning
    via the date filter), merges, and dynamic-overwrites those partitions —
    the 100 TB-safe version of ON CONFLICT: work is proportional to the
    batch's date span, never the whole table.
    """
    path = table_path(root, layer, table)
    incoming = incoming.withColumn(
        _DATE_COL, F.to_date(F.col(partition_by_date_of))
    )
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    if not jpath.getFileSystem(spark._jsc.hadoopConfiguration()).exists(jpath):
        incoming.write.mode("overwrite").partitionBy(_DATE_COL).parquet(path)
        return path  # first load
    # an existing table that cannot be read fails the upsert: treating it
    # as a first load would overwrite the touched partitions with the batch
    existing = spark.read.parquet(path)
    touched = [r[_DATE_COL] for r in incoming.select(_DATE_COL).distinct().collect()]
    slice_ = existing.filter(F.col(_DATE_COL).isin(touched))
    merged = merge_update_wins(slice_, incoming, keys, order_col=order_col)
    # dynamic mode replaces only the partitions present in `merged`
    merged.write.mode("overwrite").partitionBy(_DATE_COL).parquet(path)
    return path


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_cols: Sequence[str],
    n_buckets: int = 32,
    sort_cols: Sequence[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed (+ optionally sorted) managed table — the co-located-join
    layout (X7). Two tables bucketed on the same keys with the same bucket
    count join with ZERO shuffle on either side: at 100 TB this removes the
    dominant cost of repeated fact-to-fact joins (e.g. observations ⨝
    forecasts per station). Requires saveAsTable (bucketing metadata lives
    in the catalog, not in plain parquet paths).
    """
    w = df.write.mode(mode).format("parquet").bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table)


def table_file_stats(spark: SparkSession, path: str) -> dict:
    """Files/bytes audit of a parquet table via the Hadoop FileSystem API
    (works identically on local paths, HDFS, and object stores): the input
    to any compaction decision."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    it = fs.listFiles(hpath, True)
    n_files, n_bytes = 0, 0
    while it.hasNext():
        f = it.next()
        name = f.getPath().getName()
        if name.endswith(".parquet"):
            n_files += 1
            n_bytes += f.getLen()
    return {"n_files": n_files, "n_bytes": n_bytes}


def compact_table(
    spark: SparkSession,
    root: str,
    layer: str,
    table: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    sort_cols: Sequence[str] | None = None,
) -> dict:
    """Small-file compaction for a (possibly date-partitioned) parquet table.

    Incremental upserts and streaming micro-batches fragment a table into
    files far below the size where scan parallelism is efficient; at 100 TB
    the file-listing and per-file open cost alone dominates a scan of a
    badly fragmented table. This rewrites the table into
    ``ceil(bytes / target_file_bytes)`` range-partitioned output slices —
    range partitioning on (date, sort keys) keeps each output file covering
    a contiguous key range, so min/max row-group pruning stays sharp after
    the rewrite (the plain-parquet stand-in for Delta's OPTIMIZE).

    Returns ``{"before": stats, "after": stats}``.
    """
    path = table_path(root, layer, table)
    before = table_file_stats(spark, path)
    df = spark.read.parquet(path)
    n_out = max(1, -(-before["n_bytes"] // int(target_file_bytes)))
    range_cols = []
    if _DATE_COL in df.columns:
        range_cols.append(_DATE_COL)
    range_cols += [c for c in (sort_cols or []) if c in df.columns]
    compacted = (
        df.repartitionByRange(n_out, *[F.col(c) for c in range_cols])
        if range_cols
        else df.repartition(n_out)
    )
    staging = f"{path}.compacting"
    if _DATE_COL in df.columns:
        compacted.write.mode("overwrite").partitionBy(_DATE_COL).parquet(staging)
    else:
        compacted.write.mode("overwrite").parquet(staging)
    # swap via the same FS API (atomic-rename pattern of X12)
    replace_dir(spark, staging, path)
    after = table_file_stats(spark, path)
    return {"before": before, "after": after}


def write_zordered(
    df: DataFrame,
    path: str,
    dims: Sequence[tuple[str, float, float]],
    n_files: int,
    bits: int = 16,
) -> None:
    """Write parquet clustered on a Z-order (Morton) key over ``dims``
    (``(column, lo, hi)`` triples) — multi-dimensional file clustering so
    min/max footer stats prune files/row groups for predicates on ANY of
    the dimensions, not just the first sort column. Plain-parquet analogue
    of Delta's OPTIMIZE ZORDER BY; the scale use here is the station/point
    tables feeding bbox filters (P8) and the grid spatial join (X4).
    """
    from ..functions.zorder import quantize, zorder_key

    z = zorder_key(
        [quantize(F.col(c), lo, hi, bits) for c, lo, hi in dims], bits
    )
    (
        df.withColumn("__z", z)
        .repartitionByRange(n_files, F.col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )
