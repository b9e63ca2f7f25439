"""Storage-layout operators: bucketing and partitioned writes.

These are the at-rest half of the 100 TB posture. The reference streams
events and never stores data at rest (no file formats anywhere in
/root/reference — SURVEY.md §2.3), but an analytics engine over the same
event/document tables lives or dies by layout:

- **Bucketing** pre-shuffles a table ONCE at write time on its join/agg key.
  Two tables bucketed on the same key with the same bucket count join with
  NO exchange on either side — at 100 TB that removes the dominant cost of
  every fact-fact join (a fact-dim join should broadcast instead). Spark's
  native parquet bucketing (saveAsTable + bucketBy) is enough; no Hive.
- **Partitioned writes** (directory partitioning on a low-cardinality
  column) give partition PRUNING: a filter on the partition column skips
  whole directories at planning time — the scan never opens the files.

Both are verified by plan-shape tests (tests/test_storage.py): the bucketed
join plan contains no shuffle, and the pruned scan's `partitionFilters`
carries the predicate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    num_buckets: int,
    path: str | None = None,
    sort: bool = True,
    mode: str = "overwrite",
    clear_stale_location: bool = False,
) -> None:
    """Write df as a bucketed (and bucket-sorted) parquet table.

    Sorting within buckets additionally enables sort-merge joins without a
    per-task sort, and keeps row-group min/max stats tight for the bucket
    key. The table registers in the session catalog (external when `path`
    is given); bucket metadata only survives via the catalog, so readers
    must use spark.table(table), not spark.read.parquet(path).

    Idempotent across SESSIONS, not just overwrites — but only on
    request: the default metastore is per-session, so a managed table's
    warehouse directory can outlive its catalog entry (previous process
    wrote it) and saveAsTable then refuses with LOCATION_ALREADY_EXISTS
    even in overwrite mode. ``clear_stale_location=True`` rmtree's the
    unregistered location first. It is opt-in (ADVICE r07 #3) because
    "absent from this session's catalog" cannot distinguish a stale
    leftover from another live session's managed table in a shared
    warehouse dir — only callers that OWN their table namespace and
    rebuild it wholesale (the dedup index builders) should set it.
    """
    spark = df.sparkSession
    if (
        clear_stale_location
        and mode == "overwrite"
        and path is None
        and not spark.catalog.tableExists(table)
    ):
        import shutil
        from urllib.parse import urlparse

        warehouse = urlparse(
            spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
        ).path
        import os

        shutil.rmtree(
            os.path.join(warehouse, table.lower()), ignore_errors=True
        )
    # Align the write's partitioning with the bucket function before the
    # write: repartition(n, col) and Spark's bucket-id assignment are the
    # same pmod(murmur3(col), n), so each write task then holds exactly one
    # bucket and writes ONE file instead of one file per bucket it happens
    # to see (guide §6 small files: an unaligned 32-task write of a
    # 16-bucket table emitted 512 files per build — measured ~1 task-s of
    # parquet writer setup per task on KB-scale data, and every later probe
    # scan paid the per-file open cost again). At scale this is the layout
    # a bucketed table wants anyway: num_buckets is sized so one bucket ≈
    # one well-sized file, and bucketed reads schedule per bucket.
    from pyspark.sql import functions as F

    writer = (
        df.repartition(num_buckets, F.col(bucket_col))
        .write.format("parquet")
        .mode(mode)
        .bucketBy(num_buckets, bucket_col)
    )
    if sort:
        writer = writer.sortBy(bucket_col)
    if path is not None:
        writer = writer.option("path", path)
    writer.saveAsTable(table)


def write_partitioned(
    df: DataFrame, path: str, partition_cols: list[str]
) -> None:
    """Directory-partitioned parquet write (hive-style key=value layout).

    Partition columns must be low-cardinality (date, event_type, shard):
    each distinct combination is a directory, and a filter on any
    partition column prunes at planning time. High-cardinality layout
    belongs in bucketing instead — a directory per key would melt the
    file listing.
    """
    df.write.mode("overwrite").partitionBy(*partition_cols).parquet(path)


def compact(
    spark: SparkSession,
    in_path: str,
    out_path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Small-file compaction: rewrite a parquet dataset into
    ceil(total_bytes / target) size-targeted files.

    Returns the PLANNED partition count (the repartition width), which is
    also the written data-file count unless a partition serializes to zero
    rows. The rewrite is a flat layout: hive-style partition directories in
    ``in_path`` are read through (their partition columns become ordinary
    columns) but are NOT re-created under ``out_path`` — re-partitioned
    layouts should use write_partitioned after compacting.

    The operational 100 TB lever the write path eventually needs: streaming
    sinks and fine-grained partitioned writes accumulate kilobyte files,
    and a scan over a million tiny files spends its time in listing +
    open cost (spark.sql.files.openCostInBytes exists precisely to model
    this) instead of IO. Sizing by TOTAL BYTES via the Hadoop FileSystem
    (works for any scheme the cluster mounts, not just file://) rather
    than file count keeps output files near the row-group sweet spot
    regardless of how skewed the input file sizes are. Output goes to a
    NEW path — atomic swap/rename is the caller's (or table format's) job.
    """
    import math
    import os

    df = spark.read.parquet(in_path)
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    # Sizes come from ONE listStatus per parent DIRECTORY of the dataset's
    # actual input files (normally a single call), filtered to exactly the
    # files the scan reads. Per-file getFileStatus RPCs would be O(n_files)
    # driver round trips — the very pathology this operator fixes — and
    # getContentSummary(in_path) would overcount (_SUCCESS, .crc, stale
    # _temporary dirs) and break glob in_paths that spark.read accepts.
    # inputFiles() returns URI-encoded paths (space → %20) while
    # listStatus names are decoded — unquote before matching or files with
    # URI-escapable characters are silently skipped (ADVICE r04).
    from urllib.parse import unquote

    by_dir: dict[str, set[str]] = {}
    for f in df.inputFiles():
        by_dir.setdefault(os.path.dirname(f), set()).add(
            unquote(os.path.basename(f))
        )
    total = 0
    for d, names in by_dir.items():
        # the DIRECTORY component is URI-encoded too — decode it before
        # building the Hadoop Path or listStatus targets a literal "%20"
        # directory and the listing fails/returns empty
        p = jvm.org.apache.hadoop.fs.Path(unquote(d))
        fs = p.getFileSystem(conf)
        for status in fs.listStatus(p):
            # basename match sidesteps scheme-normalization differences
            # (file:/ vs file:///) between inputFiles() and listStatus
            if status.getPath().getName() in names:
                total += status.getLen()
    n = max(1, math.ceil(total / target_file_bytes))
    df.repartition(n).write.mode("overwrite").parquet(out_path)
    return n
