"""Write sinks: partitioned and bucketed table layout (SURVEY §2.3 row 1).

At 100 TB, layout is the cheapest optimization you'll ever buy:

- ``write_partitioned``: directory partitioning on low-cardinality
  columns → partition pruning eliminates whole directories at scan
  time (`PartitionFilters` in the plan).
- ``write_bucketed``: pre-shuffle the table ONCE at write time into N
  buckets on the join/agg key. Two tables bucketed the same way join
  with ZERO exchange — the shuffle was paid at ingest, not per query.
  This is the co-located join the scale brief calls for; the test
  suite asserts the exchange-free plan.

Bucketed tables require the session catalog (saveAsTable) — files
alone can't carry bucket metadata.
"""

from __future__ import annotations

import math
import os
import shutil
import urllib.parse

from pyspark.sql import DataFrame, SparkSession


def write_partitioned(
    df: DataFrame, path: str, partition_cols: list[str], fmt: str = "parquet"
) -> None:
    """Directory-partitioned write; readers prune on partition_cols."""
    df.write.format(fmt).mode("overwrite").partitionBy(*partition_cols).save(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int = 8,
    sort_col: str | None = None,
) -> None:
    """Bucketed (and optionally sorted) managed table on the join key."""
    w = df.write.mode("overwrite").bucketBy(n_buckets, bucket_col)
    if sort_col:
        w = w.sortBy(sort_col)
    w.saveAsTable(table)


def bucketed_join(
    spark: SparkSession, left_table: str, right_table: str, on: str
) -> DataFrame:
    """Join two same-bucketed tables — no exchange on either side."""
    return spark.table(left_table).join(spark.table(right_table), on)


def write_clustered(
    df: DataFrame,
    path: str,
    cluster_cols: list[str],
    n_files: int | None = None,
    fmt: str = "parquet",
) -> None:
    """Range-clustered write: global range partition + in-file sort.

    ``repartitionByRange`` splits rows into contiguous, non-overlapping
    key ranges (one per output file); ``sortWithinPartitions`` orders
    rows inside each. The result is a poor-man's clustering index:
    parquet footers carry tight, pairwise-disjoint min/max stats on the
    cluster key, so a point or range predicate prunes to O(1) files /
    row groups instead of scanning all of them. This is the
    single-dimension analog of Z-ordering — at 100 TB, run it on the
    dominant filter column of each fact table at ingest (or compaction)
    time; tests assert the disjointness from the written footers.

    ``n_files`` defaults to Spark's shuffle partition count; the range
    boundaries come from reservoir sampling (Spark's RangePartitioner),
    so file sizes stay balanced even on skewed keys.
    """
    w = df.repartitionByRange(*([n_files] if n_files else []), *cluster_cols)
    w = w.sortWithinPartitions(*cluster_cols)
    w.write.format(fmt).mode("overwrite").save(path)


def _parquet_columns(path: str) -> list[str] | None:
    """Column names of a parquet table directory from the footer of
    one top-level part file (one write produced them all) — a
    driver-side metadata read, no Spark job. None when there is no
    such file (the caller then skips the check)."""
    import pyarrow.parquet as pq

    if not os.path.isdir(path):
        return None
    for name in sorted(os.listdir(path)):
        if name.startswith(("_", ".")) or not name.endswith(".parquet"):
            continue
        return pq.read_schema(os.path.join(path, name)).names
    return None


def upsert(
    spark: SparkSession,
    target_path: str,
    updates: DataFrame,
    key_cols: list[str],
    fmt: str = "parquet",
    deletes: DataFrame | None = None,
    assume_unique_keys: bool = False,
) -> None:
    """Keyed MERGE (upsert) into a file-backed table: rows whose key
    appears in ``updates`` are replaced, new keys are appended, rows
    whose key appears in ``deletes`` (a key-columns-only DataFrame)
    are removed, all other rows survive unchanged — the full
    ``MERGE INTO … WHEN MATCHED DELETE`` surface, needed by
    retraction-capable maintenance (a group whose count reaches zero
    must leave the state table).

    The plan is the canonical merge-without-transaction-log rewrite:
    target LEFT ANTI JOIN updates on the key (one shuffle; survivors),
    UNION ALL updates, full overwrite. On a transactional lakehouse
    table this is ``MERGE INTO`` and rewrites only the files that
    contain matched keys; with plain parquet the whole table rewrites,
    so at 100 TB run it per partition directory (pair it with
    ``write_partitioned`` and filter both sides to the partitions
    ``updates`` touches — key pruning makes the anti-join cheap).
    Duplicate keys in ``updates`` are rejected: last-writer-wins would
    depend on partition order, and a silent nondeterministic merge is
    worse than an error. A key appearing in both ``updates`` and
    ``deletes`` is deleted (the delete anti-join applies last,
    deterministically).

    ``assume_unique_keys=True`` skips the duplicate-key guard's Spark
    job — ONLY for callers whose ``updates`` frame is key-unique by
    construction (the output of a ``groupBy(*key_cols)``, as every
    continuous-aggregate refresh is). Each skipped guard is one fewer
    job per refresh; in a per-batch maintenance loop that overhead
    dominates the actual merge.
    """
    if not assume_unique_keys:
        dup = (
            updates.groupBy(*key_cols)
            .count()
            .where("count > 1")
            .limit(1)
            .count()
        )
        if dup:
            raise ValueError(
                f"upsert(): updates contain duplicate keys on {key_cols}; "
                "deduplicate (e.g. keep latest by version column) before "
                "merging"
            )
    # Explicit schema: a merge requires identical schemas anyway, and
    # schema inference on every state read costs a footer-read job
    # (~0.3 s per read at any scale; a catalogued production table
    # serves its schema from metadata the same way). An explicit-schema
    # read would silently drop on-disk columns the batch lacks and
    # NULL-fill the ones it adds, so the column sets are checked first.
    if fmt == "parquet":
        on_disk = _parquet_columns(target_path)
        if on_disk is not None and set(on_disk) != set(updates.columns):
            raise ValueError(
                f"upsert(): target columns {sorted(on_disk)} at "
                f"{target_path} differ from updates columns "
                f"{sorted(updates.columns)}"
            )
    target = spark.read.format(fmt).schema(updates.schema).load(target_path)
    merged = target.join(updates, key_cols, "left_anti").unionByName(updates)
    if deletes is not None:
        merged = merged.join(
            deletes.select(*key_cols), key_cols, "left_anti"
        )
    # Stage to a temp sibling directory, then swap into place. An
    # in-place mode("overwrite") deletes the target before writing, so
    # a mid-write failure (or executor loss) would lose the table with
    # no retry path; staging means a failed write leaves the original
    # untouched. It also removes the read-while-overwrite hazard — the
    # scan and the write never touch the same directory — so no
    # checkpoint materialization is needed.
    base = target_path.rstrip("/")
    staging_path = base + ".__upsert_staging__"
    retired_path = base + ".__upsert_retired__"
    for leftover in (staging_path, retired_path):
        if os.path.exists(leftover):
            shutil.rmtree(leftover)
    merged.write.format(fmt).mode("overwrite").save(staging_path)
    # The two renames below are the remaining non-transactional window:
    # a crash between them leaves the table parked at *.__upsert_retired__
    # (recoverable by hand) rather than lost. A transaction-log table
    # format closes this window with an atomic metadata commit.
    os.rename(base, retired_path)
    os.rename(staging_path, base)
    shutil.rmtree(retired_path)


# Characters Hive/Spark percent-escape when writing a partition value
# into a directory name (ExternalCatalogUtils.escapePathName): ASCII
# controls plus the path/metadata specials below.
_PATH_ESCAPE = set(chr(c) for c in range(0x20)) | set('"#%\'*/:=?\\\x7f{[]^')


def _escape_path_name(value: object) -> str:
    """Stringify a partition value the way Spark names its directory."""
    s = str(value)
    return "".join(
        f"%{ord(ch):02X}" if ch in _PATH_ESCAPE else ch for ch in s
    )


def _partition_dir(
    base: str, partition_cols: list[str], values: tuple
) -> str:
    """The directory Spark writes for one partition-value tuple."""
    return os.path.join(
        base,
        *[
            f"{c}={_escape_path_name(v)}"
            for c, v in zip(partition_cols, values)
        ],
    )


def _touched_stats(
    touched_df: DataFrame, partition_cols: list[str]
) -> tuple[int, int]:
    """(n_rows, n_null_rows) of the touched-partition frame in ONE
    distributed aggregate — the driver receives a single summary row,
    never the partition list itself. Callers that forbid NULL
    partition values raise on ``n_null_rows``; an all-zero pair means
    an empty batch."""
    from pyspark.sql import functions as F

    null_pred = " OR ".join(f"{c} IS NULL" for c in partition_cols)
    row = touched_df.agg(
        F.count(F.lit(1)).alias("n"),
        F.count(F.expr(f"CASE WHEN {null_pred} THEN 1 END")).alias(
            "n_null"
        ),
    ).first()
    return int(row["n"]), int(row["n_null"])


def prune_to_touched(
    df: DataFrame,
    touched_df: DataFrame,
    partition_cols: list[str],
    left_prefix: str = "",
) -> DataFrame:
    """Restrict ``df`` to the partition-value TUPLES in ``touched_df``
    via a broadcast left-semi join — the de-drivered replacement for a
    collected ``isin`` list: Catalyst plans a
    ``dynamicpruningexpression`` on the partitioned file scan, so only
    the touched directories are opened at runtime and the touched set
    never materializes on the driver. Tuple semantics match the old
    OR-of-ANDs filter (per-column ``isin`` would be the bounding BOX —
    touching ('eu','d1') and ('us','d2') must not drag ('eu','d2')
    into the rewrite); NULL tuple values never match, as before."""
    from pyspark.sql import functions as F

    t = touched_df.select(
        *[F.col(c).alias(f"__tp_{c}") for c in partition_cols]
    ).distinct()
    cond = None
    for c in partition_cols:
        e = F.col(f"{left_prefix}{c}") == F.col(f"__tp_{c}")
        cond = e if cond is None else cond & e
    return df.join(F.broadcast(t), cond, "left_semi")


def upsert_partitioned(
    spark: SparkSession,
    target_path: str,
    updates: DataFrame,
    key_cols: list[str],
    partition_cols: list[str],
    fmt: str = "parquet",
    deletes: DataFrame | None = None,
    assume_unique_keys: bool = False,
) -> None:
    """Keyed MERGE into a directory-PARTITIONED table that rewrites
    only the partitions the batch touches — the 100 TB answer to plain
    ``upsert``'s whole-table rewrite (its own docstring says "run it
    per partition directory"; this function is that, automated).

    Mechanics: the touched partition values of ``updates`` ∪
    ``deletes`` stay a DataFrame; the target read PRUNES to the
    touched directories through a broadcast semi join (planned as a
    ``dynamicpruningexpression`` on the scan — runtime directory
    pruning, no driver-side partition list); the merge (anti-join ∪
    updates − deletes) runs on that slice only; the write uses dynamic
    partition overwrite (``partitionOverwriteMode=dynamic``), which
    replaces exactly the partitions present in the output. A touched
    partition whose rows are ALL deleted produces no output rows, so
    dynamic overwrite would leave it stale — those emptied directories
    are removed explicitly.

    ``partition_cols`` must be a subset of ``key_cols``: if the
    partition value were mutable, an update "moving" a key between
    partitions would strand the old copy in an untouched directory the
    pruned merge never reads. Making the partition part of the key
    rules that out by construction (the continuous-aggregate state
    tables — grouping keys = merge keys — satisfy this naturally).

    Partition values round-trip through DIRECTORY NAMES, which has two
    traps this function closes explicitly. (1) Type re-inference: Spark
    re-infers partition-column types from the path on read, so a STRING
    key with numeric-looking values (``'01'``) would silently come back
    as ``int 1`` — rows migrate partitions. The target is therefore
    read with the batch's explicit schema (a merge requires identical
    schemas anyway), which disables inference for exactly these
    columns — ``'01'`` stays the string ``'01'``. (2) Escaping: Spark
    percent-escapes special characters in directory names on write, so
    the emptied-partition cleanup builds its ``col=value`` paths
    through the same escaping (``_escape_path_name``) rather than
    literally.

    Failure window: the merged slice is staged to a sibling temp dir
    first (a failed merge computation leaves the table untouched), but
    the final dynamic overwrite commits partition-by-partition — a
    crash mid-commit can leave SOME touched partitions new and others
    old (untouched partitions are never at risk). That per-partition
    window is inherent to file-level tables; a lakehouse format's
    MERGE closes it with one atomic metadata commit.
    """
    missing = [c for c in partition_cols if c not in key_cols]
    if missing:
        raise ValueError(
            f"upsert_partitioned(): partition columns {missing} are not "
            "part of the merge key — a key changing its partition value "
            "would strand its old copy in a directory the pruned merge "
            "never reads. Partition on key columns (or use upsert())."
        )
    if not assume_unique_keys:
        dup = (
            updates.groupBy(*key_cols)
            .count()
            .where("count > 1")
            .limit(1)
            .count()
        )
        if dup:
            raise ValueError(
                f"upsert_partitioned(): updates contain duplicate keys on "
                f"{key_cols}; deduplicate before merging"
            )
    touch_frames = [updates.select(*partition_cols)]
    if deletes is not None:
        touch_frames.append(deletes.select(*partition_cols))
    touched_df = touch_frames[0]
    for f in touch_frames[1:]:
        touched_df = touched_df.unionByName(f)
    # The touched set stays a (persisted, partition-count-sized)
    # DataFrame end to end: a one-row stats aggregate guards NULLs and
    # emptiness, the target scan prunes through a broadcast semi join
    # (runtime directory pruning), and the only partition tuples the
    # driver ever receives are the final emptied-directory rm list
    # inside overwrite_touched_partitions.
    tdf = touched_df.distinct().persist()
    try:
        n, n_null = _touched_stats(tdf, partition_cols)
        if n_null:
            raise ValueError(
                "upsert_partitioned(): NULL partition value in the "
                "batch — NULL keys land in the "
                "__HIVE_DEFAULT_PARTITION__ directory and cannot be "
                "matched by a keyed merge"
            )
        if n == 0:
            return  # empty batch: nothing to merge, nothing to rewrite

        # Explicit schema: partition-column types come from the batch,
        # not from Spark's path-based partitionColumnTypeInference — a
        # string key with numeric-looking values must NOT come back as
        # int.
        target = spark.read.format(fmt).schema(updates.schema).load(
            target_path
        )
        sliced = prune_to_touched(target, tdf, partition_cols)
        merged = sliced.join(updates, key_cols, "left_anti").unionByName(
            updates
        )
        if deletes is not None:
            merged = merged.join(
                deletes.select(*key_cols), key_cols, "left_anti"
            )

        overwrite_touched_partitions(
            spark, target_path, merged, partition_cols, tdf, fmt
        )
    finally:
        tdf.unpersist()


def overwrite_touched_partitions(
    spark: SparkSession,
    target_path: str,
    merged: DataFrame,
    partition_cols: list[str],
    touched_df: DataFrame,
    fmt: str = "parquet",
) -> None:
    """Commit ``merged`` — ALL surviving rows of exactly the
    partition-value tuples in ``touched_df`` — via dynamic partition
    overwrite. Untouched partition directories are never opened for
    write; touched partitions the batch emptied are removed
    explicitly. The shared write tail of every partition-pruned
    mutation (``upsert_partitioned`` and the pruned MERGE / UPDATE /
    DELETE / INSERT OVERWRITE executors in ``plans.merge_sql``).

    Driver-state contract: ``touched_df`` stays distributed — the only
    partition tuples collected are the EMPTIED set (touched minus
    still-present, a DataFrame anti-diff), because deleting those
    directories is per-path driver filesystem work anyway. A 100 TB
    table with millions of partitions costs the driver O(#emptied),
    not O(#touched)."""
    base = target_path.rstrip("/")
    tdf = touched_df.select(*partition_cols).distinct()
    if merged.limit(1).count() == 0:
        # Deletes-only batch that empties every touched partition: an
        # empty parquet write has no schema to re-read, so skip the
        # staging round-trip and just drop the touched directories —
        # here the emptied set IS the touched set, so collecting it is
        # collecting the final rm list.
        for t in [tuple(r) for r in tdf.collect()]:
            d = _partition_dir(base, partition_cols, t)
            if os.path.isdir(d):
                shutil.rmtree(d)
        return
    staging = base + ".__upsert_part_staging__"
    if os.path.exists(staging):
        shutil.rmtree(staging)
    # Stage the slice, then re-read it for the overwrite: the final
    # write must not scan the directory it is replacing, and a failure
    # while COMPUTING the merge leaves the table untouched. The staged
    # copy is touched-partitions-sized, not table-sized.
    merged.write.format(fmt).mode("overwrite").save(staging)
    # The staged copy is this process's own write of `merged` —
    # re-reading it with the known schema skips the inference job.
    staged = spark.read.format(fmt).schema(merged.schema).load(staging)
    # Partitions the batch emptied (no surviving rows): dynamic
    # overwrite will leave their old directories in place, so they are
    # removed explicitly below. Computed as a distributed anti-diff
    # from the staged copy BEFORE the overwrite (and before the
    # staging dir is deleted); only this final rm list reaches the
    # driver.
    emptied = [
        tuple(r)
        for r in tdf.exceptAll(
            staged.select(*partition_cols).distinct()
        ).collect()
    ]
    # Per-write option, NOT spark.conf.set: mutating the session conf
    # races with any concurrent writer in the same session (a restore
    # to 'static' mid-write would turn this into a full-table replace
    # that deletes untouched partitions).
    staged.write.format(fmt).mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy(*partition_cols).save(base)
    shutil.rmtree(staging)
    for t in emptied:
        d = _partition_dir(base, partition_cols, t)
        if os.path.isdir(d):
            shutil.rmtree(d)


def compact(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    fmt: str = "parquet",
) -> int:
    """Small-files compaction: rewrite a directory of many small files
    into ~``target_file_bytes`` files. Returns the output file count.

    The maintenance job every streaming/incremental ingest needs: each
    micro-batch appends a few small files, and a month later the table
    is a million 2 MB files whose open/footer costs dominate every
    scan. Sizing uses the source files' real on-disk bytes (metadata
    only — no data pass); the rewrite itself is one round-robin
    repartition, which also rebalances skewed input files. Run it per
    partition directory on partitioned tables so partition pruning
    metadata survives unchanged.
    """
    df = spark.read.format(fmt).load(src_path)
    total = 0
    for uri in df.inputFiles():
        # inputFiles() returns URIs (file:/path, possibly percent-encoded).
        # A size we can't resolve MUST fail loudly: silently skipping it
        # would undercount `total` and compact an arbitrarily large table
        # into one giant file — the opposite of this job's purpose.
        parsed = urllib.parse.urlparse(uri)
        if parsed.scheme not in ("", "file"):
            raise ValueError(
                f"compact() sizes files via the local filesystem; cannot "
                f"stat non-local input {uri!r} (scheme {parsed.scheme!r}). "
                "For object stores, size via the Hadoop FileSystem API."
            )
        local = urllib.parse.unquote(parsed.path or uri)
        if not os.path.exists(local):
            raise FileNotFoundError(
                f"compact() could not stat input file {uri!r} "
                f"(resolved to {local!r}); refusing to size the rewrite "
                "from an incomplete byte count"
            )
        total += os.path.getsize(local)
    n_files = max(1, math.ceil(total / target_file_bytes))
    df.repartition(n_files).write.format(fmt).mode("overwrite").save(dst_path)
    return n_files
