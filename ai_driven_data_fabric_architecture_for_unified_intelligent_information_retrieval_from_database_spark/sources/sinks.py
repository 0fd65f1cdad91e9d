"""Write-side layout strategies — the storage half of the 100 TB posture.

The reference's only sink is an append-only query log
(core/ai_query_generator.py:364-377); at scale the *layout* of what you
write decides every later read:

- **date-partitioned parquet** (`write_partitioned`): one directory per
  partition value; readers with a date predicate scan only matching
  directories (partition pruning — visible as ``PartitionFilters`` in the
  scan node). This is the default layout for fact tables at 100 TB.
- **bucketed tables** (`write_bucketed`): rows hash-clustered into N files
  by join key at write time. Two tables bucketed the same way join with
  NO exchange on either side — the shuffle was paid once at write time and
  amortizes over every subsequent join.

The query-log append itself lives in ``connectors.append_query_log``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_partitioned(
    df: DataFrame, path: str, partition_cols: list[str], mode: str = "overwrite"
) -> None:
    """Hive-style partitioned parquet: `path/col=value/part-*.parquet`.

    Partition columns should be low-cardinality derivations (a date, not a
    timestamp; a region, not a user id) — each distinct tuple is a
    directory, and millions of tiny directories are their own scale bug.
    """
    df.write.partitionBy(*partition_cols).mode(mode).parquet(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int = 8,
    sort_col: str | None = None,
    mode: str = "overwrite",
    pre_partitioned: bool = False,
    verify_layout: bool = True,
) -> None:
    """Persist as a bucketed (and optionally sorted) managed table.

    Joins and aggregations keyed on ``bucket_col`` between tables with the
    same bucket spec skip the exchange entirely; with ``sort_col`` the
    sort-merge join also skips its sorts.
    """
    # ONE file per bucket: pre-shuffle into the bucket scheme
    # (repartition(n, col) and bucketBy use the same pmod(murmur3, n)
    # assignment) so each writer task holds exactly one bucket's rows.
    # Without this, every input partition opens a writer per bucket it
    # touches — a 32-partition scan wrote 512 files for 16 buckets, and
    # the r12 sf10 A/B measured the difference on both ends: table write
    # 4.96 -> 1.86 s, downstream bucketed merge read 1.32 -> 1.02 s
    # (tools/cdc_merge_ab.py). One file per bucket is also the layout
    # under which a sorted bucket scan can ever satisfy SMJ ordering.
    # At 100 TB per-bucket file size is governed by n_buckets — the
    # caller's scale knob — not by this co-location. Callers whose input
    # is ALREADY hash(bucket_col)-partitioned to n_buckets (e.g. the SMJ
    # output of a merge against a same-spec bucketed table) pass
    # pre_partitioned=True to skip the redundant exchange — Catalyst
    # does not reliably elide a repartition over matching partitioning.
    if not pre_partitioned:
        df = df.repartition(n_buckets, bucket_col)
    w = df.write.bucketBy(n_buckets, bucket_col)
    if sort_col is not None:
        w = w.sortBy(sort_col)
    w.mode(mode).format("parquet").saveAsTable(table)
    # Layout guard (ADVICE r12): pre_partitioned=True trusts the caller's
    # claim that the input already carries the pmod(hash) layout — but
    # Catalyst reports a full-outer SMJ's outputPartitioning as Unknown,
    # so an upstream plan change (AQE coalesce, join-strategy shift) could
    # silently regress to many files per bucket with no correctness
    # symptom. Only meaningful for overwrite: an append legitimately adds
    # files on top of an existing layout, so the count would warn
    # spuriously (ADVICE r13). Callers whose write sits inside a timed
    # measurement window pass verify_layout=False and invoke
    # :func:`verify_bucket_layout` themselves after the timer stops —
    # the guard always runs, just never inside a published timing.
    if verify_layout and mode == "overwrite":
        verify_bucket_layout(
            df.sparkSession, table, n_buckets, pre_partitioned=pre_partitioned
        )


def verify_bucket_layout(
    spark: SparkSession,
    table: str,
    n_buckets: int,
    pre_partitioned: bool = False,
) -> int:
    """Post-write one-file-per-bucket check (warns loudly on regression);
    returns the file count so tests can assert on it directly."""
    n_files = _count_bucket_files(spark, table)
    if n_files > n_buckets:
        import warnings

        warnings.warn(
            f"write_bucketed({table!r}): {n_files} data files for "
            f"{n_buckets} buckets — the one-file-per-bucket layout "
            f"regressed (pre_partitioned={pre_partitioned}); expect "
            "slower bucketed reads",
            RuntimeWarning,
            stacklevel=2,
        )
    return n_files


def _count_bucket_files(spark: SparkSession, table: str) -> int:
    """Number of parquet data files under a managed table's location."""
    import os
    from urllib.parse import urlparse

    loc = urlparse(
        spark.sql(f"DESCRIBE TABLE EXTENDED {table}")
        .where("col_name = 'Location'")
        .collect()[0]["data_type"]
    ).path
    try:
        return sum(
            1 for f in os.listdir(loc)
            if f.startswith("part-") and not f.endswith(".crc")
        )
    except OSError as exc:
        # Non-local filesystems (hdfs://, s3a://) have no listable local
        # path — report 0 (guard never fires) but say so instead of
        # silently disarming (ADVICE r13).
        import warnings

        warnings.warn(
            f"_count_bucket_files({table!r}): cannot list {loc!r} "
            f"({exc}); layout guard skipped",
            RuntimeWarning,
            stacklevel=2,
        )
        return 0


def read_partitioned(spark: SparkSession, path: str) -> DataFrame:
    """Schema-merging read of a partitioned layout (partition columns come
    back as real columns, usable in predicates that prune)."""
    return spark.read.parquet(path)


def zorder_key(a_name: str, b_name: str, bits: int = 16):
    """Morton (Z-order) key over two LONG columns already scaled to
    [0, 2^bits): bit k of each input lands at positions 2k+1 / 2k of the
    key, so sorting by the key clusters rows that are close in BOTH
    dimensions into the same neighborhoods — the multi-dimensional
    counterpart of a sort column. Pure Catalyst HOF (aggregate over a
    16-element sequence), interpreted but write-path-only.
    """
    from pyspark.sql import functions as F

    return F.expr(
        f"aggregate(sequence(0, {bits - 1}), 0L, (acc, k) -> "
        f"acc + shiftleft(shiftright({a_name}, k) & 1, k * 2 + 1)"
        f" + shiftleft(shiftright({b_name}, k) & 1, k * 2))"
    )


def write_zordered(
    df: DataFrame,
    path: str,
    dim_a,
    dim_b,
    bits: int = 16,
    max_records_per_file: int = 0,
    mode: str = "overwrite",
) -> None:
    """Z-order-clustered parquet: rows are globally sorted by the Morton
    key of two dimension expressions, so parquet footer min/max statistics
    become selective on BOTH dimensions at once and a 2-D box predicate
    skips most files/row groups — the vanilla-parquet form of what
    lakehouse OPTIMIZE ZORDER provides.

    ``dim_a``/``dim_b`` are Column expressions (any orderable numeric);
    each is min/max-scaled to ``bits`` bits from a one-row aggregate over
    the input (a driver-side scalar read — the only action besides the
    write). The sort is a range-partitioned total sort: one exchange,
    paid once at write time, amortized over every later pruned read (the
    write_bucketed argument, applied to scans instead of joins).
    """
    from pyspark.sql import functions as F

    a, b = dim_a.cast("double"), dim_b.cast("double")
    lo_a, hi_a, lo_b, hi_b = df.agg(
        F.min(a), F.max(a), F.min(b), F.max(b)
    ).first()
    if lo_a is None or lo_b is None:
        # Empty (or all-NULL-dimension) input: nothing to cluster — write
        # the frame as-is rather than crash on None arithmetic.
        writer = df.write.mode(mode)
        if max_records_per_file:
            writer = writer.option("maxRecordsPerFile", max_records_per_file)
        writer.parquet(path)
        return
    top = (1 << bits) - 1

    def scaled(col, lo, hi):
        span = (hi - lo) or 1.0
        return ((col - lo) / span * top).cast("long")

    keyed = df.withColumn("_za", scaled(a, lo_a, hi_a)).withColumn(
        "_zb", scaled(b, lo_b, hi_b)
    )
    out = (
        keyed.withColumn("_zkey", zorder_key("_za", "_zb", bits))
        .orderBy("_zkey")
        .drop("_za", "_zb", "_zkey")
    )
    writer = out.write.mode(mode)
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    writer.parquet(path)


def compact_files(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    target_bytes: int = 128 * 1024 * 1024,
    sort_cols: list[str] | None = None,
) -> int:
    """Small-file compaction: rewrite a parquet layout into files sized
    for scan parallelism, returning the output file count.

    Streaming sinks and frequent small batch appends produce thousands of
    KB-scale files; at 100 TB that is an operational bug twice over — task
    scheduling overhead per file on every read, and parquet footer/dict
    overhead per file on disk. Compaction is the standing maintenance job
    (lakehouse OPTIMIZE): read everything, coalesce to
    ceil(bytes / target) files (repartition, not coalesce(1) — the write
    itself must stay parallel), optionally re-sort so footer min/max
    stats stay selective after the rewrite, and write to a NEW path (the
    swap is the caller's atomic step — vanilla parquet has no transaction
    log to do it in place).
    """
    import math

    df = spark.read.parquet(src_path)
    # Size the source through the Hadoop FileSystem API, not os.walk: a
    # URI-schemed or remote path (file:/, hdfs:, s3a:) walks to nothing
    # locally, and total=0 would silently compact the whole layout
    # through repartition(1) — a single-task write of a potentially huge
    # dataset, the opposite of "the write itself must stay parallel"
    # (r07 advice). getContentSummary works for every scheme the session
    # can read.
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(src_path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    total = int(fs.getContentSummary(jpath).getLength())
    if total <= 0 and df.inputFiles():
        raise ValueError(
            f"compact_files could not size {src_path!r} (0 bytes reported "
            "for a non-empty layout) — refusing to plan a single-file "
            "compaction from a bad size estimate"
        )
    n_out = max(1, math.ceil(total / target_bytes))
    out = df.repartition(n_out)
    if sort_cols:
        out = out.sortWithinPartitions(*sort_cols)
    out.write.mode("overwrite").parquet(dst_path)
    return len(spark.read.parquet(dst_path).inputFiles())
