"""Layout sinks: partition pruning and exchange-free bucketed joins."""

from __future__ import annotations

import pytest

from datafusion_delta_queries_spark.catalog import load_table
from datafusion_delta_queries_spark.sources.sinks import (
    upsert,
    write_clustered,
    bucketed_join,
    write_bucketed,
    write_partitioned,
)

from .conftest import SF_SMALL


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_partitioned_write_prunes(spark, tmp_path):
    orders = load_table(spark, SF_SMALL, "orders")
    path = str(tmp_path / "orders_part")
    write_partitioned(orders, path, ["o_orderpriority"])
    got = spark.read.parquet(path).where("o_orderpriority = '1-URGENT'")
    plan = _plan(got)
    assert "PartitionFilters: [" in plan and "o_orderpriority" in plan
    want = orders.where("o_orderpriority = '1-URGENT'").count()
    assert got.count() == want


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    orders = load_table(spark, SF_SMALL, "orders").selectExpr(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    li = load_table(spark, SF_SMALL, "lineitem").selectExpr(
        "l_orderkey AS o_orderkey", "l_quantity"
    )
    write_bucketed(orders, "orders_b", "o_orderkey", 8)
    write_bucketed(li, "lineitem_b", "o_orderkey", 8)
    # At fixture size the planner would broadcast (and rightly skip the
    # buckets); force the big-table path the layout exists for.
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = bucketed_join(spark, "orders_b", "lineitem_b", "o_orderkey")
        plan = _plan(joined)
        # The shuffle was paid at write time: the join plan must carry
        # no Exchange of any kind — sort-merge directly over buckets.
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan
        n = joined.count()
        assert n == orders.join(li, "o_orderkey").count() and n > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS lineitem_b")


def test_clustered_write_has_disjoint_file_ranges(spark, tmp_path):
    """write_clustered must produce pairwise-disjoint per-file key
    ranges (read back from the parquet footers) so range predicates
    prune to O(1) files — the property Z-order-style clustering buys."""
    import pyarrow.parquet as pq
    import os

    orders = load_table(spark, SF_SMALL, "orders")
    path = str(tmp_path / "orders_clustered")
    write_clustered(orders, path, ["o_orderdate"], n_files=4)

    ranges = []
    for f in os.listdir(path):
        if not f.endswith(".parquet"):
            continue
        md = pq.ParquetFile(os.path.join(path, f)).metadata
        cols = {
            md.row_group(0).column(i).path_in_schema: i
            for i in range(md.row_group(0).num_columns)
        }
        ci = cols["o_orderdate"]
        mins = [md.row_group(g).column(ci).statistics.min for g in range(md.num_row_groups)]
        maxs = [md.row_group(g).column(ci).statistics.max for g in range(md.num_row_groups)]
        ranges.append((min(mins), max(maxs)))
    assert len(ranges) >= 2
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, f"overlapping file ranges: ({lo1},{hi1}) vs ({lo2},{hi2})"

    # And the filter on the cluster key still reaches the scan.
    got = spark.read.parquet(path).where("o_orderdate >= TIMESTAMP '1998-01-01'")
    assert got.count() > 0


def test_compact_collapses_small_files(spark, tmp_path):
    """Compaction must merge a many-small-files directory into the
    computed target count without changing the data."""
    import os

    from datafusion_delta_queries_spark.sources.sinks import compact

    orders = load_table(spark, SF_SMALL, "orders")
    src = str(tmp_path / "orders_fragmented")
    orders.repartition(24).write.parquet(src)
    n_src = len([f for f in os.listdir(src) if f.endswith(".parquet")])
    assert n_src == 24

    dst = str(tmp_path / "orders_compacted")
    total = sum(
        os.path.getsize(os.path.join(src, f))
        for f in os.listdir(src)
        if f.endswith(".parquet")
    )
    # target slightly above half the data size -> exactly 2 output files
    n_out = compact(spark, src, dst, target_file_bytes=total // 2 + 1)
    assert n_out == 2
    n_dst = len([f for f in os.listdir(dst) if f.endswith(".parquet")])
    assert n_dst == 2

    a = spark.read.parquet(src).orderBy("o_orderkey").collect()
    b = spark.read.parquet(dst).orderBy("o_orderkey").collect()
    assert a == b


def test_compact_sizes_percent_encoded_paths(spark, tmp_path):
    """inputFiles() returns percent-encoded URIs; a directory with a
    space used to make every os.path.exists check fail, silently sizing
    the rewrite from total=0 → ONE output file regardless of data size.
    Now the URI is unquoted (and a truly unresolvable file raises)."""
    import os

    from datafusion_delta_queries_spark.sources.sinks import compact

    orders = load_table(spark, SF_SMALL, "orders")
    src = str(tmp_path / "dir with space" / "orders_src")
    orders.repartition(8).write.parquet(src)
    total = sum(
        os.path.getsize(os.path.join(src, f))
        for f in os.listdir(src)
        if f.endswith(".parquet")
    )
    n_out = compact(
        spark, src, str(tmp_path / "orders_dst"), target_file_bytes=total // 2 + 1
    )
    assert n_out == 2  # sized from REAL bytes, not a silent total=0


def test_upsert_replaces_and_appends(spark, tmp_path):
    """MERGE semantics: matched keys replaced, new keys appended,
    untouched rows survive byte-identical."""
    path = str(tmp_path / "cust")
    base = load_table(spark, SF_SMALL, "customer").selectExpr(
        "c_custkey", "c_name", "c_acctbal"
    )
    base.write.parquet(path)
    n0 = base.count()
    updates = spark.createDataFrame(
        [(1, "UPDATED#1", 999.0), (2, "UPDATED#2", 888.0), (10**9, "NEW", 1.0)],
        "c_custkey: bigint, c_name: string, c_acctbal: double",
    )
    upsert(spark, path, updates, ["c_custkey"])
    got = spark.read.parquet(path)
    assert got.count() == n0 + 1  # two replaced in place, one appended
    rows = {r["c_custkey"]: r for r in got.where(
        "c_custkey IN (1, 2, 1000000000)").collect()}
    assert rows[1]["c_name"] == "UPDATED#1" and rows[2]["c_acctbal"] == 888.0
    assert rows[10**9]["c_name"] == "NEW"
    # Untouched rows identical to the original table.
    untouched = got.where("c_custkey NOT IN (1, 2, 1000000000)")
    orig = base.where("c_custkey NOT IN (1, 2)")
    assert untouched.exceptAll(orig).count() == 0
    assert orig.exceptAll(untouched).count() == 0


def test_upsert_rejects_duplicate_update_keys(spark, tmp_path):
    path = str(tmp_path / "t")
    spark.createDataFrame([(1, "a")], "k: bigint, v: string").write.parquet(path)
    dup = spark.createDataFrame(
        [(2, "x"), (2, "y")], "k: bigint, v: string"
    )
    with pytest.raises(ValueError, match="duplicate keys"):
        upsert(spark, path, dup, ["k"])


def test_upsert_failure_leaves_target_intact(spark, tmp_path, monkeypatch):
    """A crash before the swap must leave the original table readable
    and a retry must succeed (stale staging directory cleaned up) —
    the in-place overwrite this replaced deleted the target before
    writing (r7 advice)."""
    import os as _os

    from datafusion_delta_queries_spark.sources import sinks as sinks_mod

    path = str(tmp_path / "t3")
    spark.createDataFrame(
        [(1, "a"), (2, "b")], "k: bigint, v: string"
    ).write.parquet(path)
    updates = spark.createDataFrame([(2, "B")], "k: bigint, v: string")

    real_rename = _os.rename

    def crash_before_swap(src, dst):
        raise OSError("injected crash before swap")

    monkeypatch.setattr(sinks_mod.os, "rename", crash_before_swap)
    with pytest.raises(OSError, match="injected crash"):
        upsert(spark, path, updates, ["k"])
    got = sorted(tuple(r) for r in spark.read.parquet(path).collect())
    assert got == [(1, "a"), (2, "b")]  # original table intact

    monkeypatch.setattr(sinks_mod.os, "rename", real_rename)
    upsert(spark, path, updates, ["k"])  # retry over the stale staging dir
    got = sorted(tuple(r) for r in spark.read.parquet(path).collect())
    assert got == [(1, "a"), (2, "B")]


def test_upsert_is_idempotent(spark, tmp_path):
    """Re-applying the same update batch is a no-op — the at-least-once
    retry story every ingest pipeline needs."""
    path = str(tmp_path / "t2")
    spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k: bigint, v: string"
    ).write.parquet(path)
    updates = spark.createDataFrame([(2, "B"), (4, "D")], "k: bigint, v: string")
    upsert(spark, path, updates, ["k"])
    first = sorted(tuple(r) for r in spark.read.parquet(path).collect())
    upsert(spark, path, updates, ["k"])
    second = sorted(tuple(r) for r in spark.read.parquet(path).collect())
    assert first == second == [(1, "a"), (2, "B"), (3, "c"), (4, "D")]


def test_upsert_rejects_column_set_mismatch(spark, tmp_path):
    """The target is read with the batch's schema, which would silently
    drop an on-disk column the batch lacks and NULL-fill one it adds;
    a mismatch of the two column sets raises instead, naming both
    sides, and leaves the target untouched."""
    path = str(tmp_path / "t4")
    spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0)], "k: bigint, v: string, w: double"
    ).write.parquet(path)
    narrower = spark.createDataFrame([(2, "B")], "k: bigint, v: string")
    with pytest.raises(ValueError, match=r"\['k', 'v', 'w'\].*\['k', 'v'\]"):
        upsert(spark, path, narrower, ["k"])
    wider = spark.createDataFrame(
        [(2, "B", 2.5, 9)], "k: bigint, v: string, w: double, x: int"
    )
    with pytest.raises(ValueError, match="'x'"):
        upsert(spark, path, wider, ["k"])
    got = sorted(tuple(r) for r in spark.read.parquet(path).collect())
    assert got == [(1, "a", 1.0), (2, "b", 2.0)]
    # same columns in another order merge as before
    reordered = spark.createDataFrame(
        [(2.5, "B", 2)], "w: double, v: string, k: bigint"
    )
    upsert(spark, path, reordered, ["k"])
    got = sorted(
        tuple(r) for r in spark.read.parquet(path).select("k", "v", "w")
        .collect()
    )
    assert got == [(1, "a", 1.0), (2, "B", 2.5)]


# -- partition-pruned upsert -------------------------------------------

def _part_table(spark, tmp_path):
    """Partitioned copy of a 3-segment customer slice."""
    path = str(tmp_path / "part_cust")
    base = load_table(spark, SF_SMALL, "customer").selectExpr(
        "c_custkey", "c_mktsegment", "c_name", "c_acctbal"
    ).where("c_mktsegment IN ('BUILDING', 'MACHINERY', 'AUTOMOBILE')")
    from datafusion_delta_queries_spark.sources.sinks import (
        write_partitioned,
    )

    write_partitioned(base, path, ["c_mktsegment"])
    return path, base


def test_upsert_partitioned_equals_plain_upsert(spark, tmp_path):
    """Same MERGE semantics as upsert(): matched keys replaced, new
    keys appended, deletes applied — row sets identical."""
    from datafusion_delta_queries_spark.sources.sinks import (
        upsert_partitioned,
    )

    path, base = _part_table(spark, tmp_path)
    got0 = spark.read.parquet(path)
    k1, k2 = [r["c_custkey"] for r in got0.where(
        "c_mktsegment = 'BUILDING'").orderBy("c_custkey").limit(2).collect()]
    updates = spark.createDataFrame(
        [(k1, "BUILDING", "UPDATED", 1.0), (10**9, "MACHINERY", "NEW", 2.0)],
        "c_custkey: bigint, c_mktsegment: string, c_name: string, "
        "c_acctbal: double",
    )
    deletes = spark.createDataFrame(
        [(k2, "BUILDING")], "c_custkey: bigint, c_mktsegment: string"
    )
    upsert_partitioned(
        spark, path, updates, ["c_custkey", "c_mktsegment"],
        ["c_mktsegment"], deletes=deletes,
    )
    got = spark.read.parquet(path).select(
        "c_custkey", "c_mktsegment", "c_name", "c_acctbal"
    )
    exp = (
        base.join(updates, ["c_custkey", "c_mktsegment"], "left_anti")
        .unionByName(updates)
        .join(deletes, ["c_custkey", "c_mktsegment"], "left_anti")
    )
    assert got.exceptAll(exp).count() == 0
    assert exp.exceptAll(got).count() == 0


def test_upsert_partitioned_leaves_untouched_partitions_alone(
    spark, tmp_path
):
    """The point of the partitioned variant: a batch touching only
    BUILDING must not rewrite (or even re-list) the other partitions'
    files — their directory contents stay byte-identical."""
    import os

    from datafusion_delta_queries_spark.sources.sinks import (
        upsert_partitioned,
    )

    path, base = _part_table(spark, tmp_path)

    def snap(seg):
        d = os.path.join(path, f"c_mktsegment={seg}")
        return {
            f: (os.path.getmtime(os.path.join(d, f)),
                os.path.getsize(os.path.join(d, f)))
            for f in sorted(os.listdir(d))
        }

    before = {s: snap(s) for s in ("MACHINERY", "AUTOMOBILE")}
    k = base.where("c_mktsegment = 'BUILDING'").orderBy(
        "c_custkey"
    ).first()["c_custkey"]
    updates = spark.createDataFrame(
        [(k, "BUILDING", "TOUCHED", 5.0)],
        "c_custkey: bigint, c_mktsegment: string, c_name: string, "
        "c_acctbal: double",
    )
    upsert_partitioned(
        spark, path, updates, ["c_custkey", "c_mktsegment"],
        ["c_mktsegment"],
    )
    after = {s: snap(s) for s in ("MACHINERY", "AUTOMOBILE")}
    assert before == after  # same files, same bytes, same mtimes


def test_upsert_partitioned_removes_emptied_partition(spark, tmp_path):
    """Deleting every row of a partition removes its directory (dynamic
    overwrite alone would leave the stale files in place)."""
    import os

    from datafusion_delta_queries_spark.sources.sinks import (
        upsert_partitioned,
    )

    path, base = _part_table(spark, tmp_path)
    deletes = base.where("c_mktsegment = 'AUTOMOBILE'").select(
        "c_custkey", "c_mktsegment"
    )
    upsert_partitioned(
        spark, path,
        updates=base.where("1 = 0").select(
            "c_custkey", "c_mktsegment", "c_name", "c_acctbal"
        ),
        key_cols=["c_custkey", "c_mktsegment"],
        partition_cols=["c_mktsegment"],
        deletes=deletes,
    )
    assert not os.path.isdir(os.path.join(path, "c_mktsegment=AUTOMOBILE"))
    got = spark.read.parquet(path)
    assert got.where("c_mktsegment = 'AUTOMOBILE'").count() == 0
    assert got.count() == base.count() - deletes.count()


def test_upsert_partitioned_numeric_looking_string_keys(spark, tmp_path):
    """A STRING partition key whose values look numeric ('01', '002')
    must survive the directory-name round-trip as strings: path-based
    type inference would read 'seg=01' back as int 1 and silently
    migrate rows, so the merge reads the target with the batch's
    explicit schema instead."""
    import os

    from datafusion_delta_queries_spark.sources.sinks import (
        upsert_partitioned,
    )

    path = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(1, "01", 1.0), (2, "01", 2.0), (3, "002", 3.0)],
        "k: bigint, seg: string, v: double",
    )
    base.write.partitionBy("seg").parquet(path)
    updates = spark.createDataFrame(
        [(1, "01", 10.0), (4, "002", 4.0)],
        "k: bigint, seg: string, v: double",
    )
    upsert_partitioned(spark, path, updates, ["k", "seg"], ["seg"])
    got = spark.read.schema(base.schema).parquet(path)
    assert got.schema["seg"].dataType.typeName() == "string"
    rows = {(r.k, r.seg, r.v) for r in got.collect()}
    assert rows == {
        (1, "01", 10.0), (2, "01", 2.0), (3, "002", 3.0), (4, "002", 4.0)
    }
    # the directories are still the string forms, not int-canonicalized
    assert os.path.isdir(os.path.join(path, "seg=01"))
    assert os.path.isdir(os.path.join(path, "seg=002"))
    # deleting all of '01' removes ITS directory, matching the escaped
    # name Spark wrote
    deletes = spark.createDataFrame([(1, "01"), (2, "01")], "k: bigint, seg: string")
    upsert_partitioned(
        spark, path,
        updates=updates.where("1 = 0"),
        key_cols=["k", "seg"], partition_cols=["seg"], deletes=deletes,
    )
    assert not os.path.isdir(os.path.join(path, "seg=01"))
    assert os.path.isdir(os.path.join(path, "seg=002"))


def test_upsert_partitioned_escaped_partition_values(spark, tmp_path):
    """Partition values containing characters Spark percent-escapes in
    directory names (':' here) merge and clean up correctly — the
    emptied-partition removal must target the ESCAPED directory."""
    import os

    from datafusion_delta_queries_spark.sources.sinks import (
        upsert_partitioned,
    )

    path = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(1, "a:b", 1.0), (2, "plain", 2.0)],
        "k: bigint, seg: string, v: double",
    )
    base.write.partitionBy("seg").parquet(path)
    assert os.path.isdir(os.path.join(path, "seg=a%3Ab"))
    updates = spark.createDataFrame(
        [(3, "a:b", 3.0)], "k: bigint, seg: string, v: double"
    )
    upsert_partitioned(spark, path, updates, ["k", "seg"], ["seg"])
    got = {(r.k, r.seg) for r in spark.read.schema(base.schema)
           .parquet(path).collect()}
    assert got == {(1, "a:b"), (2, "plain"), (3, "a:b")}
    deletes = spark.createDataFrame(
        [(1, "a:b"), (3, "a:b")], "k: bigint, seg: string"
    )
    upsert_partitioned(
        spark, path, updates=updates.where("1 = 0"),
        key_cols=["k", "seg"], partition_cols=["seg"], deletes=deletes,
    )
    assert not os.path.isdir(os.path.join(path, "seg=a%3Ab"))
    assert spark.read.schema(base.schema).parquet(path).count() == 1


def test_upsert_partitioned_date_partition_values(spark, tmp_path):
    """DATE partition keys: Spark writes ISO directory names and
    Python's str(date) matches, so pruning, merge, and the
    emptied-partition cleanup all address the right directories."""
    import datetime
    import os

    from datafusion_delta_queries_spark.sources.sinks import (
        upsert_partitioned,
    )

    d1, d2 = datetime.date(2026, 8, 1), datetime.date(2026, 8, 2)
    path = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(1, d1, 1.0), (2, d1, 2.0), (3, d2, 3.0)],
        "k: bigint, day: date, v: double",
    )
    base.write.partitionBy("day").parquet(path)
    assert os.path.isdir(os.path.join(path, "day=2026-08-01"))
    updates = spark.createDataFrame(
        [(1, d1, 10.0)], "k: bigint, day: date, v: double"
    )
    upsert_partitioned(spark, path, updates, ["k", "day"], ["day"])
    got = {(r.k, r.day, r.v) for r in
           spark.read.schema(base.schema).parquet(path).collect()}
    assert got == {(1, d1, 10.0), (2, d1, 2.0), (3, d2, 3.0)}
    deletes = spark.createDataFrame([(3, d2)], "k: bigint, day: date")
    upsert_partitioned(
        spark, path, updates=updates.where("1 = 0"),
        key_cols=["k", "day"], partition_cols=["day"], deletes=deletes,
    )
    assert not os.path.isdir(os.path.join(path, "day=2026-08-02"))
    assert spark.read.schema(base.schema).parquet(path).count() == 2


def test_upsert_partitioned_rejects_mutable_partition_key(spark, tmp_path):
    """partition_cols ⊄ key_cols means an update could move a key
    between partitions and strand the old copy — rejected up front."""
    from datafusion_delta_queries_spark.sources.sinks import (
        upsert_partitioned,
    )

    path, base = _part_table(spark, tmp_path)
    updates = base.limit(1)
    with pytest.raises(ValueError, match="not .*part of the merge key"):
        upsert_partitioned(
            spark, path, updates, ["c_custkey"], ["c_mktsegment"]
        )


def test_pruned_merge_drivers_only_the_emptied_list(spark, tmp_path):
    """De-drivered touched-partition contract: a non-emptying
    upsert_partitioned collects NO partition tuples (the stats guard
    is a 1-row aggregate; the emptied anti-diff is empty), and the
    pruned target scan carries a runtime partition filter from the
    broadcast semi join rather than a driver-built isin list."""
    from pyspark.sql import DataFrame

    from datafusion_delta_queries_spark.sources.sinks import (
        prune_to_touched,
        upsert_partitioned,
    )

    orders = load_table(spark, SF_SMALL, "orders").selectExpr(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    path = str(tmp_path / "orders_m")
    write_partitioned(orders, path, ["o_orderpriority"])
    updates = orders.where("o_orderpriority = '1-URGENT'").selectExpr(
        "o_orderkey", "o_orderpriority", "o_totalprice + 1.0 AS o_totalprice"
    )

    collected_rows = []
    real_collect = DataFrame.collect

    def counting_collect(self):
        rows = real_collect(self)
        collected_rows.append(len(rows))
        return rows

    DataFrame.collect = counting_collect
    try:
        upsert_partitioned(
            spark, path, updates,
            key_cols=["o_orderkey", "o_orderpriority"],
            partition_cols=["o_orderpriority"],
            assume_unique_keys=True,
        )
    finally:
        DataFrame.collect = real_collect
    # stats guard (1 row) + emptied anti-diff (0 rows); anything more
    # means a partition list reached the driver again
    assert sum(collected_rows) <= 1, collected_rows

    got = spark.read.parquet(path)
    assert got.count() == orders.count()
    assert (
        got.where("o_orderpriority = '1-URGENT'")
        .selectExpr("sum(CAST(floor(o_totalprice) AS BIGINT)) AS s")
        .first()["s"]
        > 0
    )

    # plan shape: the semi-join pruner plans a dynamic pruning
    # expression (runtime directory pruning) on the partitioned scan
    target = spark.read.parquet(path)
    pruned = prune_to_touched(
        target, updates.select("o_orderpriority"), ["o_orderpriority"]
    )
    plan = _plan(pruned)
    assert (
        "dynamicpruning" in plan.lower() or "PartitionFilters" in plan
    ), plan
