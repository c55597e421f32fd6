"""The closed-loop workloads.

Each workload is driven by one committer: it applies one commit at a
time and waits until every view that depends on the commit is current
before it makes the next one. Only public calls of the package are
used. Every call into a layer is wrapped in a span named after the
layer (see README.md for the layer -> end-to-end metric map).

A workload object has four phases, called in order by ``run.py``:

- ``setup()``    the v0 commit and view initialization (timed, with
                 the session start, as ``setup_s``); ``run.py`` runs
                 it SETUP_REPS times, each into a fresh tables root
                 (``new_tables_root``), and keeps the last
- ``prepare()``  work that is not set-up and not measured (history
                 preload, warm-up)
- ``step()``     one closed-loop operation; returns its latency
- ``finish()``   the recompute and the correctness gates
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

import gen
from spans import Tracer, dir_bytes

from datafusion_delta_queries_spark.catalog import load_table
from datafusion_delta_queries_spark.operators.continuous_agg import (
    ContinuousJoinAggregate,
)
from datafusion_delta_queries_spark.plans import (
    Join,
    PosDelta,
    compile_delta,
    compile_plan,
    compile_signed_delta,
    consolidate,
    rewrite_pos_delta,
    sql_to_ir,
)
from datafusion_delta_queries_spark.plans.signed import SIGN, compile_new
from datafusion_delta_queries_spark.sources.versioned import (
    CdfVersionedTable,
    VersionedDeltaCatalog,
    VersionedSignedCatalog,
    VersionedTable,
)


def multiset_diff(got: DataFrame, want: DataFrame, weight=None) -> int:
    """Rows (with multiplicity) by which two relations differ, in one
    Spark job: each ``got`` row counts ``weight`` (default 1, or a
    ``_sign`` column for a base image plus signed change batches), each
    ``want`` row -1, netted per distinct row."""
    cols = list(want.columns)
    w = got.select(*cols, (F.lit(1) if weight is None else weight).alias("_w"))
    w = w.unionByName(want.withColumn("_w", F.lit(-1)))
    net = w.groupBy(*cols).agg(F.sum("_w").alias("_n")).where("_n <> 0")
    return int(net.agg(F.coalesce(F.sum(F.abs("_n")), F.lit(0))).first()[0])


def count_joins(plan) -> int:
    n = 1 if isinstance(plan, Join) else 0
    return n + sum(count_joins(c) for c in plan.children)


def input_bytes(df: DataFrame) -> int:
    total = 0
    for uri in df.inputFiles():
        path = uri[len("file:"):] if uri.startswith("file:") else uri
        try:
            total += os.path.getsize(path)
        except OSError:
            pass
    return total


class TracedVersions:
    """Wraps a versioned table so that every snapshot/changes DataFrame
    the catalogs build is timed (``versioned.read_build``) and the
    version dirs it spans are counted (``versioned.dirs_spanned``)."""

    def __init__(self, table, tr: Tracer):
        self._t = table
        self._tr = tr

    def __getattr__(self, name):
        return getattr(self._t, name)

    def _spanned(self, lo: int, hi: int) -> int:
        return sum(1 for v in self._t.versions() if lo < v <= hi)

    def snapshot(self, spark, version=None):
        with self._tr.span("versioned.read_build"):
            df = self._t.snapshot(spark, version)
        if self._tr.enabled:
            v = self._t.latest_version() if version is None else version
            base = -1
            if isinstance(self._t, CdfVersionedTable):
                base = max((c for c in self._t.checkpoints() if c <= v), default=-1)
                self._tr.count("versioned.tail_commits", self._spanned(base, v))
            self._tr.count("versioned.dirs_spanned",
                           self._spanned(base, v) + (base >= 0))
        return df

    def changes(self, spark, from_v, to_v):
        with self._tr.span("versioned.read_build"):
            df = self._t.changes(spark, from_v, to_v)
        self._tr.count("versioned.dirs_spanned", self._spanned(from_v, to_v))
        return df


class Workload:
    """Shared plumbing: a scratch root per workload, a tracer, the
    committed-row bookkeeping the storage ratio needs."""

    name = ""
    RECOMPUTE_REPS = 3
    # Measured refreshes in every run, at least. On cdc_agg, four (two
    # checkpoint cycles) take longer than the loop's --seconds on a
    # 4-core host, so every run measures the same commits and the
    # median does not move with the number of cycles a run fits.
    MIN_OPS = 4

    def __init__(self, spark, root: str, seed: int, tr: Tracer):
        self.spark = spark
        self.root = root
        self.tr = tr
        self.rng = np.random.default_rng(seed)
        self.user_bytes = 0
        self.change_rows: list[int] = []
        self.failures: list[str] = []
        self.extra: dict[str, float] = {}
        self._schemas: dict = {}
        self.tables_root = self.path("tables")

    def path(self, *parts: str) -> str:
        return os.path.join(self.root, *parts)

    def table_path(self, name: str) -> str:
        """Where the system under test keeps table ``name``."""
        return os.path.join(self.tables_root, name)

    def new_tables_root(self, rep: int) -> None:
        """Point the next ``setup()`` at an empty tables root and drop
        the one a previous set-up filled."""
        shutil.rmtree(self.tables_root, ignore_errors=True)
        self.tables_root = self.path(f"tables{rep}")

    def measure_storage(self) -> None:
        """Storage ratio inputs, taken by ``run.py`` after exactly
        MIN_OPS measured refreshes, so every run compares the same
        number of commits whatever the host's speed."""
        self.extra["storage_bytes"] = dir_bytes(self.tables_root)
        self.extra["storage_user_bytes"] = self.user_bytes

    def read_gen(self, name: str) -> DataFrame:
        """A generated batch as a DataFrame. Batches of one table share
        a schema, so only the first read of each infers it."""
        kind = name.split("_")[0]
        schema = self._schemas.get(kind)
        if schema is None:
            df = self.spark.read.parquet(self.path("gen", name))
            self._schemas[kind] = df.schema
            return df
        return self.spark.read.schema(schema).parquet(self.path("gen", name))

    def stage(self, table: pa.Table, name: str) -> int:
        """Write a generated batch; returns its row count."""
        gen.write(table, self.path("gen", name))
        return table.num_rows

    def check(self, what: str, diff: int) -> None:
        if diff:
            self.failures.append(f"{self.name}: {what} differs by {diff} rows")

    def prepare(self) -> None:
        pass

    def stage_next(self) -> None:
        """Generate the next commit's input (outside the timed step)."""

    def done(self) -> bool:
        """True when the generated input is used up."""
        return False

    def can_stop(self) -> bool:
        """True where the loop may end without skewing the op mix."""
        return True

    def recompute(self) -> None:
        """The full recompute, RECOMPUTE_REPS times into fresh sinks (a
        single sample is noisy); ``recompute_s`` is the median."""
        times = []
        for r in range(self.RECOMPUTE_REPS):
            t0 = time.perf_counter()
            with self.tr.op(f"recompute{r}", "recompute"):
                self.recompute_once(r)
            times.append(time.perf_counter() - t0)
        self.extra["recompute_s"] = statistics.median(times)
        self.extra["recompute_reps_s"] = times

    def finish(self) -> None:
        self.recompute()
        self.gate()


class AppendJoin(Workload):
    """Insert-only commits to ``orders`` and ``lineitem``; after each,
    the positive-delta of a filtered ``orders JOIN lineitem`` view is
    appended to a stored view table."""

    name = "append_join"
    SF = 0.1  # 150k orders, 600k lines: the size of the sf0.1 fixtures
    VIEW_SQL = (
        "SELECT o.o_orderkey, o.o_custkey, o.o_orderpriority, "
        "l.l_linenumber, l.l_quantity, l.l_extendedprice, l.l_discount "
        "FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey "
        "WHERE l.l_quantity > 10 AND o.o_totalprice > 50000"
    )
    BUCKETS = 128  # one loop commit = one bucket, about 0.8% of a table
    BASE = 32  # buckets in v0
    PRELOAD = 32  # one-bucket lineitem commits before the first refresh
    WARMUP = 2  # unmeasured loop commits after the preload

    def __init__(self, spark, root, seed, tr):
        super().__init__(spark, root, seed, tr)
        tabs = gen.orders_lineitem(self.rng, self.SF)
        self.o_b = gen.bucket_split(self.rng, tabs["orders"], self.BUCKETS)
        self.l_b = gen.bucket_split(self.rng, tabs["lineitem"], self.BUCKETS)
        base_o = pa.concat_tables(self.o_b[:self.BASE])
        base_l = pa.concat_tables(self.l_b[:self.BASE])
        self.stage(base_o, "orders_0.parquet")
        self.stage(base_l, "lineitem_0.parquet")
        self.user_bytes = gen.user_bytes(base_o) + gen.user_bytes(base_l)
        self.next_bucket = self.BASE

    def _catalog(self, pins: dict) -> VersionedDeltaCatalog:
        tables = {"orders": self.orders, "lineitem": self.lineitem}
        if self.tr.enabled:
            tables = {k: TracedVersions(v, self.tr) for k, v in tables.items()}
        return VersionedDeltaCatalog(self.spark, tables, pins)

    def setup(self) -> None:
        """v0 commit of both tables and the initial full view."""
        self.orders = VersionedTable(self.table_path("orders"))
        self.lineitem = VersionedTable(self.table_path("lineitem"))
        self.view = VersionedTable(self.table_path("view"))
        tr = self.tr
        with tr.span("versioned.write_version"):
            self.orders.write_version(self.read_gen("orders_0.parquet"))
        with tr.span("versioned.write_version"):
            self.lineitem.write_version(self.read_gen("lineitem_0.parquet"))
        with tr.span("sql_frontend.sql_to_ir"):
            ir = sql_to_ir(self.VIEW_SQL)
        with tr.span("compiler.compile_plan"):
            full = compile_plan(ir, self._catalog({}))
        with tr.span("exec.action"), tr.span("versioned.write_version"):
            self.view.write_version(full)

    def stage_next(self) -> None:
        b = self.next_bucket
        self.next_bucket += 1
        n = self.stage(self.o_b[b], f"orders_{b}.parquet")
        n += self.stage(self.l_b[b], f"lineitem_{b}.parquet")
        self.user_bytes += gen.user_bytes(self.o_b[b]) + gen.user_bytes(self.l_b[b])
        self.pending = (self.read_gen(f"orders_{b}.parquet"),
                        self.read_gen(f"lineitem_{b}.parquet"), n)

    def prepare(self) -> None:
        """History preload: PRELOAD lineitem commits land before the
        first refresh, so every measured refresh reads a lineitem
        history of more than 32 version dirs (Spark's parallel
        partition discovery threshold), while orders keeps a short
        one; the view catches up in one refresh. WARMUP loop commits
        and refreshes follow. None of this is measured; the preload
        commits are written four at a time, each to its own explicit
        version."""
        from concurrent.futures import ThreadPoolExecutor

        first = self.next_bucket
        self.next_bucket += self.PRELOAD
        parts = []
        for k, b in enumerate(range(first, self.next_bucket), start=1):
            self.stage(self.l_b[b], f"lineitem_{b}.parquet")
            self.user_bytes += gen.user_bytes(self.l_b[b])
            parts.append((self.read_gen(f"lineitem_{b}.parquet"), k))
        with ThreadPoolExecutor(4) as pool:
            futures = [pool.submit(self.lineitem.write_version, df, v)
                       for df, v in parts]
            for f in futures:
                f.result()
        self._refresh({"orders": (0, 0), "lineitem": (0, self.PRELOAD)})
        # the first refreshes of a loop commit cost up to half as much
        # again as the later ones
        for _ in range(self.WARMUP):
            self.stage_next()
            self.step()
        self.change_rows.clear()

    def done(self) -> bool:
        return self.next_bucket >= self.BUCKETS

    def _refresh(self, pins: dict) -> None:
        tr = self.tr
        with tr.span("sql_frontend.sql_to_ir"):
            ir = sql_to_ir(self.VIEW_SQL)
        with tr.span("rewrite.rewrite_pos_delta"):
            branches = count_joins(rewrite_pos_delta(PosDelta(ir)))
        tr.count("rewrite.branches", branches)
        cat = self._catalog(pins)
        with tr.span("compiler.compile_delta"):
            delta = compile_delta(ir, cat)
        if tr.enabled:
            tr.count("compiler.scan_bytes", input_bytes(delta))
        with tr.span("exec.action"), tr.span("versioned.write_version"):
            v = self.view.write_version(delta)
        if tr.enabled:
            tr.count("versioned.bytes_written",
                     dir_bytes(self.view._version_dir(v)))

    def step(self) -> float:
        o, li, n = self.pending
        tr = self.tr
        t0 = time.perf_counter()
        with tr.span("versioned.write_version"):
            vo = self.orders.write_version(o)
        with tr.span("versioned.write_version"):
            vl = self.lineitem.write_version(li)
        self._refresh({"orders": (vo - 1, vo), "lineitem": (vl - 1, vl)})
        lat = time.perf_counter() - t0
        if tr.enabled:
            change = (dir_bytes(self.orders._version_dir(vo))
                      + dir_bytes(self.lineitem._version_dir(vl)))
            tr.count("versioned.bytes_written", change)
            tr.count("compiler.change_bytes", change)
        self.change_rows.append(n)
        return lat

    def recompute_once(self, r: int) -> None:
        """Full recompute at the final version into a view table of the
        same kind."""
        tr = self.tr
        self.sink = VersionedTable(self.path(f"recompute{r}"))
        with tr.span("sql_frontend.sql_to_ir"):
            ir = sql_to_ir(self.VIEW_SQL)
        with tr.span("compiler.compile_plan"):
            full = compile_plan(ir, self._catalog({}))
        with tr.span("exec.action"), tr.span("versioned.write_version"):
            self.sink.write_version(full)

    def gate(self) -> None:
        """The initial view plus every delta batch equals the recompute
        as a multiset."""
        self.check("view vs recompute",
                   multiset_diff(self.view.snapshot(self.spark),
                                 self.sink.snapshot(self.spark)))


class CdcAgg(Workload):
    """CDF commits to ``lineitem`` (inserts, deletes, re-pricing
    updates). After each: ``refresh_signed`` of a stored join
    aggregate fed the folded snapshot, ``read()`` of its finals, and a
    consolidated signed join view appended to a view table. Every
    CHECKPOINT_EVERY-th commit, from the first, also checkpoints the
    change log."""

    name = "cdc_agg"
    AGG_SQL = (
        "SELECT o.o_orderpriority, count(*) AS n_lines, "
        "sum(CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT)) AS cents, "
        "min(l.l_extendedprice) AS min_price "
        "FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey "
        "WHERE l.l_quantity > 5 GROUP BY o.o_orderpriority"
    )
    JOIN_SQL = (
        "SELECT l.l_orderkey, l.l_linenumber, l.l_extendedprice, "
        "o.o_orderpriority FROM lineitem l JOIN orders o "
        "ON l.l_orderkey = o.o_orderkey WHERE l.l_quantity > 5"
    )
    # 30k orders, 120k lines. A refresh is mostly per-job overhead
    # (about 32 Spark jobs); at sf 0.05 it took about 1.4x as long and
    # only two fitted in a run.
    SF = 0.02
    BASE_SHARE = 0.6
    COMMIT_SHARE = 0.01
    CHECKPOINT_EVERY = 2
    RECOMPUTE_REPS = 5  # each rep folds the snapshot anew: noisier than append_join's
    MAX_COMMITS = 75  # the insert pool (40% of lines, 0.5% a commit) lasts 80

    def __init__(self, spark, root, seed, tr):
        super().__init__(spark, root, seed, tr)
        tabs = gen.orders_lineitem(self.rng, self.SF)
        self.sf_dir = self.path("sf")
        gen.write(tabs["orders"], os.path.join(self.sf_dir, "orders.parquet"))
        self.log = gen.CdcLog(self.rng, tabs["lineitem"], self.BASE_SHARE,
                              self.COMMIT_SHARE)
        base = self.log.base()
        self.stage(base.append_column(
            "_change_type", pa.array(["insert"] * base.num_rows)), "cdc_0.parquet")
        self.user_bytes = gen.user_bytes(base)
        self.orders = load_table(spark, self.sf_dir, "orders")
        self.commits = 0

    def _table(self):
        if self.tr.enabled:
            return TracedVersions(self.cdf, self.tr)
        return self.cdf

    def _signed_catalog(self, old: int, new: int) -> VersionedSignedCatalog:
        return VersionedSignedCatalog(self.spark, self.sf_dir,
                                      {"lineitem": self._table()},
                                      {"lineitem": (old, new)})

    def setup(self) -> None:
        """v0 CDF commit, the stored aggregate's initialization and the
        initial join view (signed +1)."""
        tr = self.tr
        self.cdf = CdfVersionedTable(self.table_path("lineitem"))
        self.view = VersionedTable(self.table_path("join_view"))
        self.agg = ContinuousJoinAggregate(
            self.spark, self.table_path("agg_state"), self.AGG_SQL,
            fact="lineitem", dims={"orders": self.orders})
        with tr.span("versioned.write_version"):
            self.cdf.write_version(self.read_gen("cdc_0.parquet"))
        with tr.span("versioned.read_build"):
            base = self.cdf.snapshot(self.spark, 0)
        with tr.span("exec.action"), tr.span("continuous_agg.initialize"):
            self.agg.initialize(base)
        with tr.span("sql_frontend.sql_to_ir"):
            ir = sql_to_ir(self.JOIN_SQL)
        with tr.span("compiler.compile_plan"):
            full = compile_new(ir, self._signed_catalog(0, 0))
        with tr.span("exec.action"), tr.span("versioned.write_version"):
            self.view.write_version(full.withColumn(SIGN, F.lit(1).cast("bigint")))
        self.version = 0

    def prepare(self) -> None:
        """One unmeasured warm-up commit and refresh; it checkpoints."""
        self.stage_next()
        self.step()
        self.change_rows.clear()

    def done(self) -> bool:
        return self.commits >= self.MAX_COMMITS

    def can_stop(self) -> bool:
        # end only at a checkpoint-cycle boundary, so that every run
        # holds the same share of checkpointing commits
        return self._checkpoints_at(self.commits)

    def _checkpoints_at(self, commit: int) -> bool:
        """Commits 1, 1 + CHECKPOINT_EVERY, ... checkpoint."""
        return (commit - 1) % self.CHECKPOINT_EVERY == 0

    def stage_next(self) -> None:
        batch = self.log.next_commit()
        name = f"cdc_{self.commits + 1}.parquet"
        self.stage(batch, name)
        self.pending = (batch, self.read_gen(name))

    def step(self) -> float:
        batch, df = self.pending
        tr = self.tr
        t0 = time.perf_counter()
        with tr.span("versioned.write_version"):
            v = self.cdf.write_version(df)
        if tr.enabled:
            tr.count("versioned.bytes_written",
                     dir_bytes(self.cdf._version_dir(v)))
        self.commits += 1
        if self._checkpoints_at(self.commits):
            with tr.span("exec.action"), tr.span("versioned.checkpoint"):
                self.cdf.checkpoint(self.spark, v)
            if tr.enabled:
                tr.count("versioned.bytes_written",
                         dir_bytes(self.cdf._ckpt_dir(v)))
        old, self.version = self.version, v
        t = self._table()
        changes = t.changes(self.spark, old, v)
        base_new = t.snapshot(self.spark, v)
        with tr.span("exec.action"), tr.span("continuous_agg.refresh_signed"):
            self.agg.refresh_signed(changes, base_new_df=base_new)
        with tr.span("continuous_agg.read"):
            finals = self.agg.read()
        with tr.span("exec.action"):
            finals.collect()
        if tr.enabled:
            tr.count("continuous_agg.state_bytes", dir_bytes(self.agg.path))
        with tr.span("sql_frontend.sql_to_ir"):
            ir = sql_to_ir(self.JOIN_SQL)
        with tr.span("signed.compile_signed_delta"):
            delta = consolidate(compile_signed_delta(ir, self._signed_catalog(old, v)))
        with tr.span("exec.action"), tr.span("versioned.write_version"):
            vv = self.view.write_version(delta)
        lat = time.perf_counter() - t0
        if tr.enabled:
            d = self.view._version_dir(vv)
            tr.count("versioned.bytes_written", dir_bytes(d))
            tr.count("signed.rows_out", parquet_rows(d))
        self.user_bytes += gen.user_bytes(batch)
        self.change_rows.append(batch.num_rows)
        return lat

    def recompute_once(self, r: int) -> None:
        """Full recompute of both views at the final version, each into
        a sink of the same kind."""
        tr = self.tr
        v = self.version
        fresh = ContinuousJoinAggregate(
            self.spark, self.path(f"recompute{r}", "agg"), self.AGG_SQL,
            fact="lineitem", dims={"orders": self.orders})
        with tr.span("versioned.read_build"):
            snap = self.cdf.snapshot(self.spark, v)
        with tr.span("exec.action"), tr.span("continuous_agg.initialize"):
            fresh.initialize(snap)
        with tr.span("exec.action"), tr.span("continuous_agg.read"):
            self.recomputed = fresh.read().collect()
        with tr.span("sql_frontend.sql_to_ir"):
            ir = sql_to_ir(self.JOIN_SQL)
        with tr.span("compiler.compile_plan"):
            full = compile_new(ir, self._signed_catalog(v, v))
        self.sink = VersionedTable(self.path(f"recompute{r}", "join"))
        with tr.span("exec.action"), tr.span("versioned.write_version"):
            self.sink.write_version(full)

    def gate(self) -> None:
        """The folded snapshot holds exactly the generator's live rows,
        the stored aggregate equals a GROUP BY over that snapshot (and
        the recompute), and the initial join plus every consolidated
        signed batch equals the final full join."""
        snap = self.cdf.snapshot(self.spark, self.version).cache()
        n, cents = snap.agg(
            F.count(F.lit(1)),
            F.sum(F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("bigint")),
        ).first()
        want_n, want_cents = self.log.live_summary()
        self.check("snapshot row count", abs(n - want_n))
        if cents != want_cents:
            self.failures.append(f"{self.name}: snapshot cents {cents} != {want_cents}")
        expect = (
            snap.where("l_quantity > 5")
            .join(self.orders, F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n_lines"),
                 F.sum(F.floor(F.col("l_extendedprice") * 100 + 0.5)
                       .cast("bigint")).alias("cents"),
                 F.min("l_extendedprice").alias("min_price"))
        )
        got = self.agg.read()
        self.check("stored aggregate vs GROUP BY over snapshot",
                   multiset_diff(got, expect))
        if sorted(map(tuple, self.recomputed)) != sorted(map(tuple, got.collect())):
            self.failures.append(f"{self.name}: recomputed aggregate differs")
        snap.unpersist()
        self.check("join view vs full join",
                   multiset_diff(self.view.snapshot(self.spark),
                                 self.sink.snapshot(self.spark), F.col(SIGN)))


def parquet_rows(d: str) -> int:
    """Row count of a written dir from its parquet footers (no job)."""
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(os.path.join(d, f)).metadata.num_rows
               for f in os.listdir(d) if f.endswith(".parquet"))


WORKLOADS = {w.name: w for w in (AppendJoin, CdcAgg)}

