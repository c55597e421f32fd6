"""Continuous aggregate table: a stored GROUP BY that refreshes from
delta batches without ever rescanning history.

This closes the loop the reference's IVM idea points at but never
builds (its rewrite stops at delta *plans*, optimizer_rules/mod.rs —
no storage, no refresh cycle): ``maintain_agg_of_sql`` shows one
refresh as a plan; here the merged state actually persists, and the
NEXT refresh merges the stored state with the new batch's partial —
the snapshot side is never recomputed.

Storage layout is the *partial* representation (mergeable state), not
the finals: ``sum``/``count`` store running sums, ``min``/``max``
running extremes, ``avg`` its sum+count pair. ``read()`` derives the
finals (and applies HAVING) on the way out. That is exactly how a
partial aggregate crosses a shuffle boundary inside Spark — the table
is a durable map-side partial.

Scale posture: a refresh touches ``O(|Δ| + |affected groups|)`` state
rows — the delta batch is partially aggregated (map-side combine),
only the stored rows for *touched* groups are re-merged, and the
keyed ``upsert`` replaces just those rows. History is never rescanned.
On a lakehouse table format the upsert becomes ``MERGE INTO`` and
rewrites only matched files; with plain parquet the swap rewrites the
state table, which is small (one row per group), not the input.

Insert-only batches refresh via ``refresh``; batches with deletes and
updates (Delta-CDF shape, or pre-signed rows) via ``refresh_signed`` —
sum/count/avg merge algebraically from signed partials, groups whose
live row count reaches zero are deleted from the state table, and
min/max (which cannot absorb a retraction) recompute delta-scoped
from the post-change base, touched groups only.

``count(DISTINCT)`` is rejected here: its mergeable state is the
distinct (keys, value) pair set, which belongs in its own table —
``maintain_agg_of_sql`` carries the exact construction and
``delta_ndv_maintenance`` the bounded-sketch one. NULL grouping keys
are rejected at refresh time: the keyed upsert matches on key
equality, and SQL NULL never equals itself, so a NULL-key state row
could not be replaced.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.sql_frontend import _DECOMPOSABLE, UnsupportedSQL, parse_agg_sql
from ..sources.sinks import upsert


def stream_ns(checkpoint_dir: str) -> str:
    """Stable namespace for a stream's replay markers — derived from
    the checkpoint path (the analog of Delta's ``txnAppId``), so two
    streams feeding one state table can't collide on batch id 0."""
    import hashlib

    return hashlib.sha1(
        os.path.abspath(checkpoint_dir).encode()
    ).hexdigest()[:12]


def apply_batch_once(
    state_path: str, batch_id: int, apply, ns: str = ""
) -> None:
    """Shared foreachBatch replay guard for NON-idempotent appliers
    (partial merges double-count; SCD chain rebuilds duplicate
    version rows). A marker file per (stream ns, batch id) skips
    at-least-once redeliveries; the marker is written after the
    applier's staged swap completes, so the remaining failure window
    is a crash BETWEEN swap and marker — same class as the upsert's
    own rename window, closed in production by a transactional table
    format committing data and txn id together. State initializers
    clear ``<state>.__applied__`` so a rebuilt state never mistakes a
    fresh stream for a replay."""
    marker_dir = os.path.join(
        state_path.rstrip("/") + ".__applied__", ns or "_default"
    )
    marker = os.path.join(marker_dir, str(batch_id))
    if os.path.exists(marker):
        return
    apply()
    os.makedirs(marker_dir, exist_ok=True)
    with open(marker, "w") as f:
        f.write("applied")



def _read_state_memo(spark: SparkSession, path: str, schemas: dict) -> DataFrame:
    """Parquet state read with a per-instance schema memo: the first
    read of each path infers (and records) the on-disk schema; later
    reads skip the footer-read job (~0.3 s per read). State tables are
    written by the same instance, so the memo cannot go stale within a
    lifecycle; rebuilders clear their memo on initialize."""
    s = schemas.get(path)
    if s is None:
        df = spark.read.parquet(path)
        schemas[path] = df.schema
        return df
    return spark.read.schema(s).parquet(path)


class ContinuousAggregate:
    """A SQL GROUP BY statement materialized as a refreshable table.

    >>> view = ContinuousAggregate(spark, path, sql)
    >>> view.initialize(base_df)        # full aggregate, once
    >>> view.refresh(delta_batch_df)    # per batch: merge partials
    >>> view.read()                     # finals, HAVING applied
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        sql: str,
        partition_on: list[str] | None = None,
    ) -> None:
        self.spark = spark
        self.path = path
        self.spec = parse_agg_sql(sql)
        self.partition_on = list(partition_on or [])
        self._state_schema = None
        self._init_exprs()

    def _read_state(self) -> DataFrame:
        """State read without per-read schema inference: the first
        read memoizes the on-disk schema (exactly as inferred, so
        partition-column order is preserved); every later read skips
        the footer-read job — ~0.3 s per read, and a refresh lifecycle
        reads the state table several times. Production analogue: a
        catalogued table serves its schema from metadata instead of
        file footers. The schema is this instance's own write, so the
        memo cannot go stale within a lifecycle (initialize() resets
        it before rebuilding the table)."""
        if self._state_schema is None:
            df = self.spark.read.parquet(self.path)
            self._state_schema = df.schema
            return df
        return self.spark.read.schema(self._state_schema).parquet(
            self.path
        )

    def _init_exprs(self) -> None:
        """Build the partial/combine/final/signed expression sets from
        ``self.spec`` (shared with the join subclass, whose spec maps
        fragment-projected ``_k{i}``/``_a{i}`` columns instead of raw
        base columns).

        ``partition_on`` (optional grouping-key OUTPUT names) lays the
        state table out as directory partitions on those keys and
        routes every refresh through the partition-pruned upsert: with
        billions of groups, a batch touching a few partitions rewrites
        only those directories instead of the whole state table. The
        merge keys are the grouping keys, so the partition columns are
        key columns by construction — exactly the contract
        ``upsert_partitioned`` demands."""
        bad = [c for c in self.partition_on
               if c not in self.spec["key_names"]]
        if bad:
            raise ValueError(
                f"partition_on columns {bad} are not grouping-key "
                f"output names {self.spec['key_names']}"
            )
        if any(a["fn"] == "count_distinct" for a in self.spec["aggs"]):
            raise UnsupportedSQL(
                "count(DISTINCT) state is a distinct-pair set, not a "
                "scalar — use maintain_agg_of_sql (exact) or "
                "delta_ndv_maintenance (sketch) instead"
            )
        self._key_cols = [
            F.expr(k).alias(name)
            for k, name in zip(self.spec["keys"], self.spec["key_names"])
        ]
        # Three expression sets over the same partial columns:
        #   partial: base rows      -> _p{i} state columns
        #   combine: state ∪ state  -> _p{i} state columns (same shape)
        #   final:   state columns  -> declared output names
        self._partial: list[str] = []
        self._combine: list[str] = []
        self._final: list[str] = []
        # Signed-batch partials (refresh_signed): same state columns,
        # computed from rows carrying ``_sign`` ∈ {±1}. min/max have no
        # signed form (a retraction needs the runner-up) — their slots
        # emit typed NULLs and are recomputed delta-scoped instead.
        self._signed_partial: list[str] = []
        self._minmax_cols: list[str] = []  # state cols recompute owns
        self._minmax_partial: list[str] = []  # exprs for that recompute
        self._mm_probe: list[str] = []  # batch probe exprs (_i{i}/_d{i})
        self._mm_probe_cols: list[str] = []  # their columns
        self._mm_probe_combine: list[str] = []  # probes through a combine
        self._mm_aux: list[dict] = []  # per-extremum repair metadata
        for i, a in enumerate(self.spec["aggs"]):
            if a["fn"] == "avg":
                self._partial += [
                    f"sum({a['arg']}) AS _p{i}s",
                    f"count({a['arg']}) AS _p{i}n",
                ]
                self._combine += [
                    f"sum(_p{i}s) AS _p{i}s",
                    f"sum(_p{i}n) AS _p{i}n",
                ]
                self._signed_partial += [
                    f"sum(_sign * ({a['arg']})) AS _p{i}s",
                    f"sum(CASE WHEN ({a['arg']}) IS NOT NULL "
                    f"THEN _sign ELSE 0 END) AS _p{i}n",
                ]
                self._final.append(f"_p{i}s / _p{i}n AS {a['out']}")
            else:
                pfn, mfn = _DECOMPOSABLE[a["fn"]]
                self._partial.append(f"{pfn}({a['arg']}) AS _p{i}")
                self._combine.append(f"{mfn}(_p{i}) AS _p{i}")
                if a["fn"] == "sum":
                    self._signed_partial.append(
                        f"sum(_sign * ({a['arg']})) AS _p{i}"
                    )
                elif a["fn"] == "count":
                    inner = (
                        "_sign" if a["arg"].strip() == "*"
                        else f"CASE WHEN ({a['arg']}) IS NOT NULL "
                             f"THEN _sign ELSE 0 END"
                    )
                    self._signed_partial.append(f"sum({inner}) AS _p{i}")
                else:  # min / max: merged when safe, recomputed when not
                    self._signed_partial.append(
                        f"min(CASE WHEN FALSE THEN ({a['arg']}) END) "
                        f"AS _p{i}"
                    )
                    self._minmax_cols.append(f"_p{i}")
                    self._minmax_partial.append(
                        f"{pfn}({a['arg']}) AS _p{i}"
                    )
                    # Per-group probe columns over the signed batch:
                    # the inserted-rows extremum (mergeable with the
                    # stored one) and the most-threatening retracted
                    # value (for min: the smallest value any
                    # retraction carries; a retraction can only change
                    # the stored min if it retracts a value ≤ it).
                    self._mm_probe.append(
                        f"{pfn}(CASE WHEN _sign > 0 THEN ({a['arg']}) "
                        f"END) AS _i{i}"
                    )
                    self._mm_probe.append(
                        f"{pfn}(CASE WHEN _sign < 0 THEN ({a['arg']}) "
                        f"END) AS _d{i}"
                    )
                    self._mm_probe_cols += [f"_i{i}", f"_d{i}"]
                    self._mm_probe_combine += [
                        f"{pfn}(_i{i}) AS _i{i}",
                        f"{pfn}(_d{i}) AS _d{i}",
                    ]
                    self._mm_aux.append(
                        {
                            "col": f"_p{i}",
                            "ins": f"_i{i}",
                            "del": f"_d{i}",
                            "threat_op": "<=" if a["fn"] == "min" else ">=",
                            "merge_fn": (
                                "least" if a["fn"] == "min" else "greatest"
                            ),
                        }
                    )
                self._final.append(f"_p{i} AS {a['out']}")
        # Liveness column: WHERE-passing row multiplicity per group.
        # Inserts count +1, retractions −1; a group at zero has left
        # the aggregate and must leave the state table.
        self._partial.append("count(*) AS _rows")
        self._combine.append("sum(_rows) AS _rows")
        self._signed_partial.append("sum(_sign) AS _rows")

    # -- plan builders -------------------------------------------------

    def _project(self, df: DataFrame) -> DataFrame:
        """Hook mapping an arriving batch (or base read) to the frame
        the aggregate expressions run over. Identity here; the join
        subclass runs the batch through the dim-join fragment."""
        return df

    def _partial_of(self, df: DataFrame) -> DataFrame:
        if self.spec["where"]:
            df = df.where(self.spec["where"])
        df = self._project(df)
        return df.groupBy(*self._key_cols).agg(
            *[F.expr(e) for e in self._partial]
        )

    def _combine_of(
        self, df: DataFrame, extra: tuple | list = ()
    ) -> DataFrame:
        return df.groupBy(*[df[n] for n in self.spec["key_names"]]).agg(
            *[F.expr(e) for e in [*self._combine, *extra]]
        )

    # -- lifecycle -----------------------------------------------------

    def initialize(self, base_df: DataFrame) -> None:
        """Full aggregate of the initial data → stored partial state.

        Also clears any replay markers from a previous life of this
        state path: markers outliving a rebuilt state would make a new
        stream's batch ids (restarting at 0) look like replays and
        silently freeze the view at the initialize() snapshot.
        """
        import shutil

        marker_root = self.path.rstrip("/") + ".__applied__"
        if os.path.isdir(marker_root):
            shutil.rmtree(marker_root)
        # A rebuilt state starts a new retention life too: stale
        # predicates would silently drop fresh groups.
        if os.path.exists(self._retention_path):
            os.remove(self._retention_path)
        self._state_schema = None  # rebuilt table: re-infer once
        w = self._partial_of(base_df).write.mode("errorifexists")
        if self.partition_on:
            w = w.partitionBy(*self.partition_on)
        w.parquet(self.path)

    # -- retention (TimescaleDB drop_chunks) ----------------------------

    @property
    def _retention_path(self) -> str:
        return self.path.rstrip("/") + ".__retention__"

    def _retention_predicates(self) -> list[str]:
        try:
            with open(self._retention_path, encoding="utf-8") as fh:
                return [ln for ln in fh.read().splitlines() if ln.strip()]
        except FileNotFoundError:
            return []

    def drop_chunks(self, where: str) -> int:
        """Retention: DELETE the state partition directories whose
        partition values match ``where`` (TimescaleDB ``drop_chunks``;
        Delta ``DELETE WHERE`` on a partition boundary). The predicate
        is recorded, and every later refresh drops contributions to
        retained-out groups — a late row for a dropped window must not
        resurrect a PARTIAL group that looks like a complete one; the
        retention policy applies to stragglers too. Requires
        partitioned state (retention on an unpartitioned table would
        be a full rewrite, not a directory drop). Returns the number
        of partitions removed."""
        import shutil

        from ..sources.sinks import _partition_dir

        if not self.partition_on:
            raise ValueError(
                "drop_chunks needs partition_on state — retention is a "
                "directory drop, not a table rewrite"
            )
        state = self._read_state()
        doomed = [
            tuple(r)
            for r in state.select(*self.partition_on)
            .distinct()
            .where(where)
            .collect()  # ≤ one row per live partition: driver-safe
        ]
        for values in doomed:
            shutil.rmtree(
                _partition_dir(self.path, self.partition_on, values)
            )
        with open(self._retention_path, "a", encoding="utf-8") as fh:
            fh.write(where + "\n")
        return len(doomed)

    def _apply_retention(self, df: DataFrame | None):
        if df is None:
            return None
        for pred in self._retention_predicates():
            df = df.where(f"NOT ({pred})")
        return df

    def _upsert_state(self, merged: DataFrame, deletes=None) -> None:
        """Persist a refresh: partition-pruned when the state table is
        partitioned, whole-table staged swap otherwise. Groups inside
        a recorded retention window never re-enter the state. Every
        caller's ``merged`` is the output of a ``groupBy`` on the key
        columns — key-unique by construction — so the upsert's
        duplicate-key guard job is skipped."""
        keys = list(self.spec["key_names"])
        merged = self._apply_retention(merged)
        deletes = self._apply_retention(deletes)
        if self.partition_on:
            from ..sources.sinks import upsert_partitioned

            upsert_partitioned(
                self.spark, self.path, merged, keys, self.partition_on,
                deletes=deletes, assume_unique_keys=True,
            )
        else:
            upsert(
                self.spark, self.path, merged, keys, deletes=deletes,
                assume_unique_keys=True,
            )

    def refresh(self, delta_df: DataFrame) -> None:
        """Merge one delta batch into the stored state.

        Only groups present in the batch are read back and rewritten;
        the rest of the state table is untouched by the merge plan
        (the keyed upsert's anti-join is the single pass over it).
        """
        keys = self.spec["key_names"]
        # Pinned: the aggregated batch (one row per touched group)
        # feeds the NULL-key guard, the touched semi join, and the
        # merge — one scan of the raw delta, not three.
        delta_p = self._partial_of(delta_df).persist()
        try:
            null_keys = delta_p.where(
                " OR ".join(f"`{n}` IS NULL" for n in keys)
            ).limit(1).count()
            if null_keys:
                raise ValueError(
                    "continuous aggregate: NULL grouping key in delta "
                    "batch — a NULL-key state row can never be replaced "
                    "by a keyed upsert (coalesce the key in the statement)"
                )
            stored = self._read_state()
            touched = stored.join(delta_p.select(*keys), keys, "left_semi")
            merged = self._combine_of(touched.unionByName(delta_p))
            self._upsert_state(merged)
        finally:
            delta_p.unpersist()

    def refresh_signed(
        self, changes_df: DataFrame, base_new_df: DataFrame | None = None
    ) -> None:
        """Apply one retraction-capable change batch (deletes/updates
        included) to the stored state.

        ``changes_df`` is either a Delta-CDF-shaped relation
        (``_change_type`` column) or an already-signed one (``_sign``
        ∈ {±1}). sum/count/avg state merges algebraically from signed
        partials; a group whose live row count reaches zero is DELETED
        from the state table (the keyed merge's WHEN MATCHED DELETE
        arm). min/max state cannot absorb an arbitrary retraction (the
        runner-up is gone from the partial), so statements carrying
        min/max require ``base_new_df`` — the post-change base table.
        The repair is two-tier: a touched group whose stored extremum
        is NOT threatened by any retraction in the batch (no retracted
        value ≤ the stored min / ≥ the stored max) merges
        ``least/greatest(stored, batch-insert extremum)``
        algebraically; only groups whose extremum IS threatened
        recompute from the post-change base, restricted to those
        groups by a semi join. Whether any group is threatened is
        decided inside the one guard action every signed refresh runs
        anyway (NULL keys, negative counts), so the decision costs no
        extra Spark action, and when no group is threatened
        ``base_new_df`` is neither planned nor scanned — not even
        touched as an object. Typical CDC (deletes rarely hit the
        current extremum) therefore refreshes with work ∝ |Δ|.
        When a threatened group's recompute does run it reads that
        group's base slice; for the join subclass with DIM-side
        grouping keys the semi join restricts the dim branch, not the
        fact scan, so that recompute costs a fact pass filtered to the
        threatened groups — lay the fact out partitioned/clustered on
        the join key to restore pruning there.

        A batch that retracts more rows than a group ever had is
        rejected loudly — silent negative counts would corrupt every
        later refresh.
        """
        from ..plans.signed import SIGN, signed_of_cdf

        if "_change_type" in changes_df.columns:
            changes_df = signed_of_cdf(changes_df)
        if SIGN not in changes_df.columns:
            raise ValueError(
                "refresh_signed needs a _change_type (CDF) or _sign "
                "column; for plain insert batches use refresh()"
            )
        df = changes_df
        if self.spec["where"]:
            df = df.where(self.spec["where"])
        df = self._project(df)
        self._merge_signed_projected(df, base_new_df)

    def _merge_signed_projected(
        self, df: DataFrame, base_new_df: DataFrame | None
    ) -> None:
        """Shared signed-merge core: ``df`` is an already-projected
        signed delta of the aggregate's INPUT relation (base rows for
        the plain class; the compiled join-fragment output for the
        join subclass — whichever side of the join the signs rode in
        on). Merges partials, applies the two-tier min/max repair
        (``base_new_df`` = post-change base, used only when the guard
        finds a threatened group), and persists through the keyed
        upsert."""
        keys = self.spec["key_names"]
        # One batch aggregation carries both the mergeable signed
        # partials and the min/max repair probes (_i{i}: inserted-rows
        # extremum, _d{i}: most-threatening retracted value).
        delta_full = df.groupBy(*self._key_cols).agg(
            *[F.expr(e) for e in self._signed_partial + self._mm_probe]
        )
        # Retention policy before the negative-count guard: stragglers
        # for dropped windows leave the batch here — a delete aimed at
        # a dropped group is not corruption, it is covered by the drop.
        # (Predicates reference output key names, hence post-groupBy.)
        # Pinned: the aggregated change batch (tiny — one row per
        # touched group) feeds the touched-keys semi join and the
        # merge — without the persist each re-scans the raw change
        # relation.
        delta_full = self._apply_retention(delta_full).persist()
        merged_p = None
        recomputed = None
        try:
            stored = self._read_state()
            touched = stored.join(delta_full.select(*keys), keys, "left_semi")
            # Persist: the merged maintenance plan feeds the guard,
            # the dead-group split, and the staged write — without
            # pinning it, each action re-runs the stored-state read +
            # combine aggregate (3-4× work per streamed batch). The
            # min/max probes ride the combine: stored rows carry them
            # as NULLs, and the batch's partial of every min/max slot
            # is a typed NULL, so per group the combined _p{i} is the
            # STORED extremum beside the batch's _i{i}/_d{i}.
            merged_p = self._combine_of(
                touched.unionByName(delta_full, allowMissingColumns=True),
                self._mm_probe_combine,
            ).persist()
            # A group is UNSAFE iff some retraction threatens some
            # stored extremum: a retracted value ≤ stored min (resp. ≥
            # stored max), or a retraction against missing/NULL stored
            # state (inconsistent — recompute rather than guess). Each
            # disjunct is IS-NOT-NULL guarded, so NOT(unsafe) is
            # null-free and safe rows partition exactly.
            unsafe_cond = " OR ".join(
                f"({a['del']} IS NOT NULL AND ({a['col']} IS NULL "
                f"OR {a['del']} {a['threat_op']} {a['col']}))"
                for a in self._mm_aux
            ) or "FALSE"
            # ONE guard action decides everything: the NULL-key and
            # negative-count invariants, and whether any group needs
            # the min/max recompute. A NULL grouping key in the batch
            # survives the groupBy as its own group in `merged_p`, so
            # all three read the same persisted frame. Null-key
            # priority preserved.
            null_cond = " OR ".join(f"`{n}` IS NULL" for n in keys)
            guard = merged_p.agg(
                *[
                    F.max(F.expr(f"CASE WHEN {cond} THEN 1 ELSE 0 END"))
                    .alias(name)
                    for name, cond in (
                        ("_nullkey", null_cond),
                        ("_neg", "_rows < 0"),
                        ("_unsafe", unsafe_cond),
                    )
                ]
            ).collect()[0]
            if guard["_nullkey"]:
                raise ValueError(
                    "continuous aggregate: NULL grouping key in change batch"
                )
            if guard["_neg"]:
                raise ValueError(
                    "change batch retracts rows a group never had "
                    "(negative live count) — refusing to corrupt the state"
                )
            merged = merged_p.drop(*self._mm_probe_cols)
            if self._minmax_cols:
                if base_new_df is None:
                    raise ValueError(
                        "statement carries min/max: signed partials cannot "
                        "retract an extremum — pass base_new_df (the "
                        "post-change base) for delta-scoped recompute"
                    )
                # Safe groups merge the stored extremum with the
                # batch-insert one (a brand-new group has NULL stored
                # state; least/greatest skip NULLs).
                repair = {
                    a["col"]: F.expr(
                        f"{a['merge_fn']}({a['col']}, {a['ins']})"
                    )
                    for a in self._mm_aux
                }
                if guard["_unsafe"]:
                    merged = recomputed = self._recompute_threatened(
                        merged_p, unsafe_cond, repair, base_new_df
                    )
                else:
                    # Every group is safe: finish from the persisted
                    # frame — the base is neither planned nor scanned.
                    merged = merged_p.withColumns(repair).drop(
                        *self._mm_probe_cols
                    )
            live = merged.where("_rows > 0")
            dead = merged.where("_rows = 0").select(*keys)
            self._upsert_state(live, deletes=dead)
        finally:
            if recomputed is not None:
                recomputed.unpersist()
            if merged_p is not None:
                merged_p.unpersist()
            delta_full.unpersist()

    def _recompute_threatened(
        self,
        merged_p: DataFrame,
        unsafe_cond: str,
        repair: dict,
        base_new_df: DataFrame,
    ) -> DataFrame:
        """The min/max repair when the guard found a threatened group:
        safe groups take the algebraic ``repair``, threatened groups
        recompute from the post-change base, restricted to those groups
        by a semi join. Returns the repaired frame, persisted (the
        caller unpersists it)."""
        keys = self.spec["key_names"]
        safe = (
            merged_p.where(f"NOT ({unsafe_cond})")
            .withColumns(repair)
            .select(*keys, *self._minmax_cols)
        )
        unsafe_keys = merged_p.where(unsafe_cond).select(*keys)
        base = base_new_df
        if self.spec["where"]:
            base = base.where(self.spec["where"])
        base = self._project(base)
        # Restrict via the EVALUATED grouping-key expressions
        # (plans.sql_frontend._semi_on_keys), not output names: a
        # raw-base semi join on the alias crashes for expression keys
        # (no such column) and silently mis-restricts when the alias
        # shadows a base column. Only the UNSAFE groups' slice is
        # recomputed.
        from ..plans.sql_frontend import _semi_on_keys

        recomp_mm = (
            _semi_on_keys(base, unsafe_keys, self.spec["keys"], keys)
            .groupBy(*self._key_cols)
            .agg(*[F.expr(e) for e in self._minmax_partial])
        )
        # Pinned: the repaired frame embeds the delta-scoped base
        # recompute — without the persist the upsert's staging write
        # AND the dead-group anti-join would each re-run that base
        # scan.
        return (
            merged_p.drop(*self._minmax_cols, *self._mm_probe_cols)
            .join(safe.unionByName(recomp_mm), keys, "left")
            .persist()
        )

    def stream_into(self, source_dir: str, schema, checkpoint_dir: str):
        """Refresh this view continuously from a file-source stream.

        This is the SURVEY §7 step-5 claim made executable: Spark's
        IncrementalExecution *is* the PosDelta contract — the file
        source hands each micro-batch exactly the newly-appended rows
        (checkpointed, replay-safe), and ``foreachBatch`` applies the
        same partial-merge refresh a manual delta batch would. With
        ``availableNow`` the stream drains what exists and stops; a
        restart on the same checkpoint resumes AFTER the last committed
        batch — history is neither rescanned nor double-counted.

        Production shape is identical with a Kafka source and a
        lakehouse-table upsert; only the two endpoints change.
        """
        src = self.spark.readStream.schema(schema).parquet(source_dir)
        ns = self._stream_ns(checkpoint_dir)

        def _refresh(batch_df: DataFrame, batch_id: int) -> None:
            if not batch_df.isEmpty():
                self._apply_once(
                    batch_id, lambda: self.refresh(batch_df), stream_ns=ns
                )

        return (
            src.writeStream.foreachBatch(_refresh)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )

    def _apply_once(self, batch_id: int, apply, stream_ns: str = "") -> None:
        """Replay guard — delegates to the shared module-level
        ``apply_batch_once`` (also used by ``scd.Scd2Table``); see its
        docstring for the marker contract. ``initialize`` clears the
        marker root so a rebuilt state never mistakes a fresh stream
        for a replay."""
        apply_batch_once(self.path, batch_id, apply, ns=stream_ns)

    @staticmethod
    def _stream_ns(checkpoint_dir: str) -> str:
        return stream_ns(checkpoint_dir)

    def stream_into_cdf(
        self,
        source_dir: str,
        schema,
        checkpoint_dir: str,
        base_reader=None,
    ):
        """Refresh this view continuously from a stream of CDF files.

        The retraction-capable sibling of ``stream_into``: each arriving
        file carries change rows (``_change_type`` column in
        ``schema``), and every micro-batch applies ``refresh_signed`` —
        deletes and updates maintain the stored aggregate exactly, dead
        groups leave the state table, and a checkpointed restart
        processes only newly-arrived change files. This is the shape a
        Delta CDF stream (``readChangeFeed`` streaming source) feeds
        directly.

        min/max statements need the post-change base for their
        retraction repair, which a pure change stream does not carry —
        pass ``base_reader``, a zero-arg callable returning the base
        table AS OF the batch being applied (i.e. the table the change
        feed was derived from, which the producer updates before
        emitting the change file — against Delta, a plain
        ``spark.read`` of the same table the CDF stream reads). With
        the two-tier repair, the base is touched only for groups whose
        stored extremum a retraction actually threatens; every other
        group merges algebraically, so streaming extrema costs the
        threatened slice per batch, not a per-batch rescan. Without
        ``base_reader``, min/max statements are rejected loudly.

        CONSISTENCY PRECONDITION: ``base_reader`` must return the base
        AS OF the batch being applied. A plain-parquet reader returns
        the LATEST base, so with a BACKLOG of change files (restart
        with several pending, or a producer running ahead of the
        stream) the intermediate batches' threatened-group recomputes
        would read a future base and persist wrong extrema if the
        stream stops before draining. The source is therefore pinned
        to one change file per micro-batch (``maxFilesPerTrigger=1``)
        so a producer that gates file emission on stream progress gets
        exact semantics; with a versioned substrate (Delta time
        travel, ``sources/versioned.py`` snapshots) a version-pinned
        reader removes the constraint entirely.
        """
        if self._minmax_cols and base_reader is None:
            raise UnsupportedSQL(
                "min/max cannot be maintained from a pure change stream "
                "(a retraction needs the post-change base); pass "
                "base_reader (a callable returning the base as of the "
                "applied batch) or use refresh_signed(batch, "
                "base_new_df) batch-side"
            )
        if "_change_type" not in schema.fieldNames():
            raise ValueError(
                "stream_into_cdf: schema must carry the _change_type "
                "column (CDF shape); for plain appends use stream_into"
            )
        # One change file per micro-batch: aligns each applied batch
        # with one producer commit, the granularity the reader
        # consistency precondition is stated at.
        src = (
            self.spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(source_dir)
        )
        ns = self._stream_ns(checkpoint_dir)

        def _refresh(batch_df: DataFrame, batch_id: int) -> None:
            if not batch_df.isEmpty():
                base = base_reader() if base_reader is not None else None
                self._apply_once(
                    batch_id,
                    lambda: self.refresh_signed(batch_df, base_new_df=base),
                    stream_ns=ns,
                )

        return (
            src.writeStream.foreachBatch(_refresh)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )

    def read(self) -> DataFrame:
        """Finals over the stored state; HAVING applied at the end."""
        state = self._read_state()
        out = state.select(
            *[state[n] for n in self.spec["key_names"]],
            *[F.expr(e) for e in self._final],
        )
        if self.spec["having"]:
            out = out.where(self.spec["having"])
        return out

    def read_real_time(self, tail_df: DataFrame) -> DataFrame:
        """TimescaleDB real-time aggregate: finals over the stored
        partials MERGED AT QUERY TIME with partials of the
        not-yet-materialized tail — a read beyond the refresh
        watermark is correct WITHOUT a refresh, and state on disk is
        never touched (read-only; no upsert, no markers).

        Cost shape: the tail aggregates to one partial row per
        touched group (∝ |tail|), the combine is one pass over
        state ∪ tail partials — the same single-shuffle merge a
        refresh pays, minus every write. On a partitioned state the
        scan still prunes via ``partition_on``. HAVING applies after
        the merge, exactly as a refreshed ``read()`` would."""
        stored = self._read_state()
        tail_p = self._partial_of(tail_df)
        merged = self._combine_of(
            stored.select(*tail_p.columns).unionByName(tail_p)
        )
        out = merged.select(
            *[merged[n] for n in self.spec["key_names"]],
            *[F.expr(e) for e in self._final],
        )
        if self.spec["having"]:
            out = out.where(self.spec["having"])
        return out


class ContinuousJoinAggregate(ContinuousAggregate):
    """A stored GROUP BY over a fact ⋈ dims join chain, refreshed from
    fact-side batches — the TimescaleDB-style "continuous aggregate
    over an enriched hypertable" the single-table class cannot express.

    The statement parses through the join-aggregate grammar
    (``parse_join_agg_sql``); one scanned table is declared the FACT
    (the side batches arrive on), every other scan resolves to a
    STATIC dim DataFrame supplied up front. Because the join fragment
    is linear in each input and the dims don't change,
    Δ(fact ⋈ dims) = Δfact ⋈ dims — so a refresh compiles the arriving
    batch through the same fragment (dims broadcast by AQE: the batch
    side is small) and merges partials exactly like the base class; a
    CDF batch's signs ride through the joins untouched (dims carry
    weight +1). The fact must appear exactly once in the fragment:
    with a self-join the bilinear delta has three branches and
    Δfact ⋈ dims alone is wrong, so that is rejected loudly. A dim
    change is maintained through ``refresh_dim_signed`` (the same
    linearity argument with the signed batch in the DIM's scan slot —
    slowly-changing dimensions ripple to the stored aggregate without
    re-initializing).

    min/max statements refresh with ``refresh_signed(batch,
    base_new_df=<post-change fact>)``: the touched-group recompute
    joins the post-change fact through the same fragment — sound here
    (unlike the general signed join-SQL path, which rejects min/max)
    precisely because only the fact side ever changes.

    At 100 TB: state is one row per group, the refresh scans only the
    batch plus the dims' join slices, and the stored table rewrites
    only touched groups through the keyed upsert — history (the fact
    table) is never rescanned after ``initialize``.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        sql: str,
        fact: str,
        dims: dict[str, DataFrame],
        partition_on: list[str] | None = None,
    ) -> None:
        from ..plans.nodes import Scan
        from ..plans.sql_frontend import parse_join_agg_sql, sql_to_ir

        self.spark = spark
        self.path = path
        self.partition_on = list(partition_on or [])
        self._state_schema = None
        jspec = parse_join_agg_sql(sql)
        self._ir = sql_to_ir(jspec["fragment_sql"])
        self.fact = fact
        self.dims = dict(dims)

        tables: list[str] = []

        def walk(node) -> None:
            if isinstance(node, Scan):
                tables.append(node.table)
            for c in node.children:
                walk(c)

        walk(self._ir)
        self._scan_counts = {t: tables.count(t) for t in set(tables)}
        if tables.count(fact) != 1:
            raise UnsupportedSQL(
                f"fact table {fact!r} must appear exactly once in the "
                f"join fragment (found {tables.count(fact)}): "
                "Δfact ⋈ dims is the full delta only when the batch "
                "side is unique"
            )
        missing = sorted(
            {t for t in tables if t != fact and t not in self.dims}
        )
        if missing:
            raise ValueError(
                f"join fragment scans tables with no supplied dim "
                f"DataFrame: {missing}"
            )
        # Fold the join spec into the base class's shape: keys/args are
        # the fragment's projected _k{i}/_a{i} columns; WHERE lives
        # inside the fragment; count(*) keeps '*' (row-count semantics
        # survive the join projection).
        self.spec = {
            "keys": [f"_k{i}" for i in range(len(jspec["keys"]))],
            "key_names": list(jspec["key_names"]),
            "aggs": [
                {**a, "arg": "*" if a["arg"].strip() == "*" else f"_a{i}"}
                for i, a in enumerate(jspec["aggs"])
            ],
            "where": None,
            "having": jspec["having"],
        }
        self._init_exprs()

    def _project(self, df: DataFrame) -> DataFrame:
        """Compile the join fragment with the arriving batch as the
        fact scan and the static DataFrames as the dims; a signed
        batch's ``_sign`` column is carried through the root
        projection (inner joins pass it untouched)."""
        from ..plans.compiler import _compile, scan_by_name
        from ..plans.nodes import Projection
        from ..plans.signed import SIGN

        def scan(name: str) -> DataFrame:
            return df if name == self.fact else self.dims[name]

        def no_delta(name: str) -> DataFrame:
            raise ValueError(
                "continuous join aggregate compiles no delta scans"
            )

        ir = self._ir
        if SIGN in df.columns:
            if not isinstance(ir, Projection):
                raise ValueError(
                    "join fragment root is not a projection; cannot "
                    "carry the _sign column through"
                )
            ir = Projection(list(ir.select_exprs) + [SIGN], ir.input)
        return _compile(ir, scan=scan_by_name(scan), delta_scan=no_delta)

    def refresh_dim_signed(
        self,
        dim: str,
        dim_changes_df: DataFrame,
        fact_df: DataFrame,
        dim_new_df: DataFrame,
    ) -> None:
        """Maintain the stored aggregate under a DIM-side change batch
        (the slowly-changing-dimension case ``refresh_signed`` cannot
        express — its batches arrive on the fact).

        The join fragment is linear in each scanned table, so for a
        dim ``D`` changing by signed ``ΔD`` while the fact and the
        other dims hold still, Δ(fact ⋈ … ⋈ D ⋈ …) =
        fact ⋈ … ⋈ ΔD ⋈ … — the fragment compiled with the CHANGE
        BATCH in the dim's scan slot and the signs riding the dim
        side. The join itself scopes the work: only fact rows joining
        a changed dim key survive the hash join (the build side is
        |ΔD|, broadcast), so a dim update costs one fact pass over the
        changed keys' slice, never a recompute of the whole view. A
        priority rewrite moves every joined fact row between groups
        via its ±1 pair; a dim-row delete retracts its fact rows; a
        dim-row insert brings previously-dangling fact rows into the
        view.

        ``dim_changes_df`` is CDF-shaped or pre-signed, in the dim's
        schema. ``fact_df`` is the CURRENT fact (unchanged by this
        batch). ``dim_new_df`` is the post-change dim; it replaces the
        stored static dim so later fact batches and min/max repairs
        join the right version. Statements carrying min/max use the
        same two-tier repair as ``refresh_signed``, with the
        post-change join (current fact ⋈ new dims) as the recompute
        base.

        The dim must scan exactly once in the fragment (same linearity
        argument as the fact-uniqueness check); otherwise the delta is
        bilinear and this raises.
        """
        from ..plans.signed import SIGN, signed_of_cdf

        if dim not in self.dims:
            raise ValueError(
                f"unknown dim {dim!r}; supplied dims: "
                f"{sorted(self.dims)}"
            )
        if self._scan_counts.get(dim, 0) != 1:
            raise UnsupportedSQL(
                f"dim {dim!r} scans {self._scan_counts.get(dim, 0)} "
                "times in the join fragment: the single-slot delta "
                "fact ⋈ Δdim is only exact for a linear (once-scanned) "
                "dim"
            )
        if "_change_type" in dim_changes_df.columns:
            dim_changes_df = signed_of_cdf(dim_changes_df)
        if SIGN not in dim_changes_df.columns:
            raise ValueError(
                "refresh_dim_signed needs a _change_type (CDF) or "
                "_sign column on the dim batch"
            )

        def scan(name: str) -> DataFrame:
            if name == self.fact:
                return fact_df
            if name == dim:
                return dim_changes_df
            return self.dims[name]

        def no_delta(name: str) -> DataFrame:
            raise ValueError(
                "continuous join aggregate compiles no delta scans"
            )

        from ..plans.compiler import _compile, scan_by_name
        from ..plans.nodes import Projection

        ir = self._ir
        if not isinstance(ir, Projection):
            raise ValueError(
                "join fragment root is not a projection; cannot carry "
                "the _sign column through"
            )
        ir = Projection(list(ir.select_exprs) + [SIGN], ir.input)
        joined = _compile(ir, scan=scan_by_name(scan), delta_scan=no_delta)
        # Install the post-change dim BEFORE the merge: the min/max
        # recompute tier projects base_new_df (the current fact)
        # through the fragment and must see the new dim. Roll the swap
        # back if the merge fails — otherwise later refreshes would
        # join against a dim the STORED state never absorbed and the
        # view would silently diverge.
        old_dim = self.dims[dim]
        self.dims[dim] = dim_new_df
        try:
            self._merge_signed_projected(joined, fact_df)
        except BaseException:
            self.dims[dim] = old_dim
            raise

    def stream_dim_cdf(
        self,
        dim: str,
        source_dir: str,
        schema,
        checkpoint_dir: str,
        fact_reader,
        dim_reader,
    ):
        """Maintain the stored join view from a stream of DIM-side CDF
        files — the slowly-changing dimension as a change feed.

        Per micro-batch: ``refresh_dim_signed(dim, batch,
        fact_reader(), dim_reader())``. ``fact_reader`` returns the
        CURRENT fact (unchanged by dim batches); ``dim_reader``
        returns the dim AS OF the applied batch — the producer
        updates the dim table before emitting the change file, so
        against Delta both are plain reads of the live tables the
        feed tracks. Checkpointed exactly like ``stream_into_cdf``:
        a restart processes only newly-arrived change files, and the
        replay marker guards the non-idempotent merge.

        The same consistency precondition as ``stream_into_cdf``'s
        ``base_reader`` applies: with a BACKLOG of pending change
        files, plain-latest readers hand intermediate batches a future
        dim/fact image. The source is pinned to one file per
        micro-batch; producers must gate emission on stream progress
        (or use version-pinned readers) for exact intermediate states.
        """
        if "_change_type" not in schema.fieldNames():
            raise ValueError(
                "stream_dim_cdf: schema must carry the _change_type "
                "column (CDF shape)"
            )
        # One change file per micro-batch: aligns each applied batch
        # with one producer commit, the granularity the reader
        # consistency precondition is stated at.
        src = (
            self.spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(source_dir)
        )
        ns = self._stream_ns(checkpoint_dir)

        def _refresh(batch_df: DataFrame, batch_id: int) -> None:
            if not batch_df.isEmpty():
                self._apply_once(
                    batch_id,
                    lambda: self.refresh_dim_signed(
                        dim, batch_df, fact_reader(), dim_reader()
                    ),
                    stream_ns=ns,
                )

        return (
            src.writeStream.foreachBatch(_refresh)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )


class ContinuousDistinctAggregate:
    """A stored ``count(DISTINCT col)`` GROUP BY — the one aggregate
    class ``ContinuousAggregate`` rejects, materialized with its real
    mergeable state: the distinct (keys, value) pair set with per-pair
    multiplicities, one state table per DISTINCT aggregate.

    Scalar distinct counts don't merge; pair multiplicities do — a
    refresh touches only the batch's (keys, value) pairs through the
    keyed upsert, ``read()`` derives counts as one row-count per group
    (the state is distinct by construction), and ``count(*)`` (the
    only other aggregate allowed in the statement) falls out for free
    as the first pair table's multiplicity sum. Signed/CDF batches
    net multiplicities: a pair retracted to zero leaves the table, a
    group losing its last pair vanishes, and net-negative
    multiplicities are rejected loudly.

    Exactness contract: the DISTINCT argument must be non-NULL on
    every WHERE-passing row (enforced at initialize/refresh — same
    loud-guard spirit as NULL grouping keys). Under that contract a
    group exists iff it owns at least one pair, which is exactly SQL
    GROUP BY liveness; NULL-tolerant counting would force sentinel
    keys through the upsert's equality matching. At 100 TB the state
    is one row per live (group, value) pair — the information-
    theoretic floor for EXACT distinct counting; the HLL sketch path
    (``delta_ndv_maintenance``) remains the bounded-state alternative.
    """

    def __init__(self, spark: SparkSession, path: str, sql: str) -> None:
        self.spark = spark
        self.path = path.rstrip("/")
        self._schemas: dict = {}
        self.spec = parse_agg_sql(sql)
        self.cds = [
            a for a in self.spec["aggs"] if a["fn"] == "count_distinct"
        ]
        if not self.cds:
            raise UnsupportedSQL(
                "no count(DISTINCT ...) aggregate — use "
                "ContinuousAggregate for scalar-state statements"
            )
        self.counts = [
            a for a in self.spec["aggs"]
            if a["fn"] == "count" and a["arg"].strip() == "*"
        ]
        extra = [
            a for a in self.spec["aggs"]
            if a not in self.cds and a not in self.counts
        ]
        if extra:
            raise UnsupportedSQL(
                f"ContinuousDistinctAggregate maintains count(DISTINCT) "
                f"and count(*) only; {[a['fn'] for a in extra]} belong "
                "in a ContinuousAggregate over the same keys"
            )
        self._key_cols = [
            F.expr(k).alias(n)
            for k, n in zip(self.spec["keys"], self.spec["key_names"])
        ]

    def _table(self, i: int) -> str:
        return os.path.join(self.path, f"cd{i}")

    def _pairs_of(self, df: DataFrame, arg: str, weight: str) -> DataFrame:
        if self.spec["where"]:
            df = df.where(self.spec["where"])
        keys = self.spec["key_names"]
        pairs = df.groupBy(
            *self._key_cols, F.expr(arg).alias("_v")
        ).agg(F.expr(weight).cast("bigint").alias("_m"))
        bad = " OR ".join(
            [f"`{n}` IS NULL" for n in keys] + ["_v IS NULL"]
        )
        # One pass: the null guard rides the same frame the merge
        # consumes (the count() below materializes batch-sized data).
        if pairs.where(bad).limit(1).count():
            raise ValueError(
                "continuous distinct aggregate: NULL grouping key or "
                "NULL DISTINCT argument in the batch — NULL pairs "
                "cannot round-trip the keyed upsert's equality match"
            )
        return pairs

    def initialize(self, base_df: DataFrame) -> None:
        self._schemas.clear()  # rebuilt tables: re-infer once
        for i, a in enumerate(self.cds):
            self._pairs_of(base_df, a["arg"], "count(*)").write.mode(
                "errorifexists"
            ).parquet(self._table(i))

    def _merge(self, i: int, delta_pairs: DataFrame) -> None:
        keys = self.spec["key_names"] + ["_v"]
        stored = _read_state_memo(self.spark, self._table(i), self._schemas)
        touched = stored.join(delta_pairs.select(*keys), keys, "left_semi")
        merged = (
            touched.unionByName(delta_pairs)
            .groupBy(*keys)
            .agg(F.sum("_m").alias("_m"))
        ).persist()
        try:
            if merged.where("_m < 0").limit(1).count():
                raise ValueError(
                    "change batch retracts (group, value) pairs it "
                    "never had — refusing to corrupt the state"
                )
            upsert(
                self.spark,
                self._table(i),
                merged.where("_m > 0"),
                keys,
                deletes=merged.where("_m = 0").select(*keys),
            )
        finally:
            merged.unpersist()

    def refresh(self, delta_df: DataFrame) -> None:
        for i, a in enumerate(self.cds):
            self._merge(i, self._pairs_of(delta_df, a["arg"], "count(*)"))

    def refresh_signed(self, changes_df: DataFrame) -> None:
        from ..plans.signed import SIGN, signed_of_cdf

        if "_change_type" in changes_df.columns:
            changes_df = signed_of_cdf(changes_df)
        if SIGN not in changes_df.columns:
            raise ValueError(
                "refresh_signed needs a _change_type (CDF) or _sign "
                "column; for plain insert batches use refresh()"
            )
        for i, a in enumerate(self.cds):
            self._merge(
                i, self._pairs_of(changes_df, a["arg"], f"sum({SIGN})")
            )

    def read(self) -> DataFrame:
        keys = self.spec["key_names"]
        out = None
        for i, a in enumerate(self.cds):
            state = _read_state_memo(self.spark, self._table(i), self._schemas)
            aggs = [F.count("*").cast("bigint").alias(a["out"])]
            if i == 0:
                # count(*) = WHERE-passing row multiplicity, derivable
                # from any one pair table's _m sum.
                aggs += [
                    F.sum("_m").cast("bigint").alias(c["out"])
                    for c in self.counts
                ]
            frame = state.groupBy(
                *[state[n] for n in keys]
            ).agg(*aggs)
            out = frame if out is None else out.join(frame, keys)
        # Column order: declared statement order.
        out = out.select(
            *keys, *[a["out"] for a in self.spec["aggs"]]
        )
        if self.spec["having"]:
            out = out.where(self.spec["having"])
        return out


class ContinuousTopK:
    """A stored top-k-per-group view — the per-group leaderboard
    (``delta_topk_maintenance`` shows the refresh as a plan; this
    persists it). State = exactly the top-k rows per group, ordered by
    ``order_col`` (descending by default) with ``id_cols`` as the
    deterministic tie-break and merge key.

    Insert refreshes use the top-k absorption identity
    ``topk(T ∪ Δ) == topk(topk(T) ∪ topk(Δ))`` — only the batch is
    ranked fresh, and only touched groups' state rows re-rank.
    Signed/CDF batches are two-tier, the same discipline as the
    min/max repair: a retraction can evict a stored row whose
    replacement (the k+1-th) the state no longer holds, so a group
    recomputes from ``base_new_df`` ONLY when some retracted row
    could sit in its stored top-k (retracted value ≥ the group's
    stored k-th value, or the group holds fewer than k rows);
    insert-only groups and groups whose retractions all rank below
    the stored boundary merge algebraically with zero base access.

    At 100 TB: state is k rows per group, refreshes are batch-sized
    plus the threatened groups' base slice, and the keyed upsert
    rewrites only touched groups' rows (displaced rows leave through
    the delete arm).
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        group_cols: list[str],
        order_col: str,
        k: int,
        id_cols: list[str],
        descending: bool = True,
    ) -> None:
        if k < 1:
            raise ValueError("k must be >= 1")
        if not id_cols:
            raise ValueError(
                "id_cols are the merge key and tie-break — required"
            )
        self.spark = spark
        self.path = path.rstrip("/")
        self._schemas: dict = {}
        self.group_cols = list(group_cols)
        self.order_col = order_col
        self.k = k
        self.id_cols = list(id_cols)
        self.descending = descending

    def _rank(self, df: DataFrame) -> DataFrame:
        from pyspark.sql import Window as W

        oc = F.col(self.order_col)
        # NULLs rank LAST in both directions: a leaderboard must never
        # let a NULL value crowd out a real one (Spark's bare asc()
        # default is nulls-FIRST, which would store NULL rows as the
        # "smallest"; SQL oracles default to NULLS LAST on ASC).
        order = [
            oc.desc_nulls_last() if self.descending else oc.asc_nulls_last()
        ] + [F.col(c).asc() for c in self.id_cols]
        w = W.partitionBy(*self.group_cols).orderBy(*order)
        return (
            df.withColumn("_rk", F.row_number().over(w))
            .where(F.col("_rk") <= self.k)
            .drop("_rk")
        )

    def initialize(self, base_df: DataFrame) -> None:
        self._schemas.clear()  # rebuilt table: re-infer once
        self._rank(base_df).write.mode("errorifexists").parquet(self.path)

    def _apply(self, candidates: DataFrame, touched: DataFrame) -> None:
        """Replace touched groups' state with the re-ranked candidate
        set; rows displaced from a group's top-k leave via deletes."""
        keys = self.group_cols + self.id_cols
        stored = _read_state_memo(self.spark, self.path, self._schemas)
        fresh = self._rank(candidates)
        old_touched = stored.join(
            F.broadcast(touched), self.group_cols, "left_semi"
        )
        dead = old_touched.select(*keys).join(
            fresh.select(*keys), keys, "left_anti"
        )
        upsert(self.spark, self.path, fresh, keys, deletes=dead)

    def refresh(self, delta_df: DataFrame) -> None:
        stored = _read_state_memo(self.spark, self.path, self._schemas)
        batch_top = self._rank(delta_df)
        touched = batch_top.select(*self.group_cols).distinct()
        cand = stored.join(
            F.broadcast(touched), self.group_cols, "left_semi"
        ).unionByName(batch_top.select(*stored.columns))
        self._apply(cand, touched)

    def refresh_signed(
        self, changes_df: DataFrame, base_new_df: DataFrame | None = None
    ) -> None:
        from ..plans.signed import SIGN, signed_of_cdf

        if "_change_type" in changes_df.columns:
            changes_df = signed_of_cdf(changes_df)
        if SIGN not in changes_df.columns:
            raise ValueError(
                "refresh_signed needs a _change_type (CDF) or _sign "
                "column; for plain insert batches use refresh()"
            )
        stored = _read_state_memo(self.spark, self.path, self._schemas)
        gcols = self.group_cols
        dels = changes_df.where(f"{SIGN} < 0")
        ins = changes_df.where(f"{SIGN} > 0").drop(SIGN)

        # Per touched group: the strongest retracted rank value, plus
        # whether any retraction carries a NULL order value — a stored
        # row can be NULL-ordered (row_number ranks NULLs too when the
        # group holds < k non-null rows), and NULL must never decide
        # "safe" through three-valued logic (a NULL _dv comparison
        # would drop the group from BOTH tiers, leaving the retracted
        # row in state forever).
        agg_fn = "max" if self.descending else "min"
        probe = dels.groupBy(*gcols).agg(
            F.expr(f"{agg_fn}({self.order_col})").alias("_dv"),
            F.max(F.col(self.order_col).isNull()).alias("_dnull"),
        )
        # Stored boundary: the group's k-th (weakest) stored value and
        # its stored row count (< k means no runner-up cushion at all).
        # Only groups the deletes touch are aggregated — the state is
        # never scanned whole per batch.
        bfn = "min" if self.descending else "max"
        bound = (
            stored.join(
                F.broadcast(dels.select(*gcols).distinct()),
                gcols,
                "left_semi",
            )
            .groupBy(*gcols)
            .agg(
                F.expr(f"{bfn}({self.order_col})").alias("_kth"),
                F.count("*").alias("_n"),
            )
        )
        # Persist: the tiny per-group decision table feeds the threat
        # probe, the recompute semi-join, the safe-tier filter, and
        # the touched-union — unpinned, each action re-runs the
        # stored-boundary aggregate and the delete probe.
        dec = probe.join(bound, gcols, "left").persist()
        try:
            cmp_op = ">=" if self.descending else "<="
            unsafe_cond = (
                f"_dnull OR _kth IS NULL OR _n < {self.k} OR _dv {cmp_op} _kth"
            )
            unsafe = dec.where(unsafe_cond).select(*gcols)
            if unsafe.limit(1).count():
                if base_new_df is None:
                    raise ValueError(
                        "a retraction threatens a stored top-k row (its "
                        "runner-up is not in state) — pass base_new_df "
                        "(the post-change base) for delta-scoped recompute"
                    )
                fresh_unsafe = self._rank(
                    base_new_df.join(F.broadcast(unsafe), gcols, "left_semi")
                )
            else:
                fresh_unsafe = None

            # SAFE tier: groups whose retractions all rank strictly below
            # the stored boundary (their rows are not in state) merge like
            # an insert batch; groups touched only by inserts likewise.
            ins_top = self._rank(ins)
            safe_touch = (
                ins_top.select(*gcols)
                .unionByName(dec.where(f"NOT ({unsafe_cond})").select(*gcols))
                .distinct()
                .join(unsafe, gcols, "left_anti")
            )
            keys = gcols + self.id_cols
            # Both candidate components restricted to SAFE groups — an
            # unsafe group's inserts are already covered by its base
            # recompute, and letting them leak in here would emit a second
            # (stale) top-k for that group.
            safe_cand = stored.join(
                F.broadcast(safe_touch), gcols, "left_semi"
            ).unionByName(
                ins_top.select(*stored.columns).join(
                    F.broadcast(safe_touch), gcols, "left_semi"
                )
            )
            fresh_safe = self._rank(safe_cand)

            fresh = (
                fresh_safe if fresh_unsafe is None
                else fresh_safe.unionByName(fresh_unsafe.select(*stored.columns))
            )
            touched = safe_touch.unionByName(unsafe).distinct()
            old_touched = stored.join(
                F.broadcast(touched), gcols, "left_semi"
            )
            dead = old_touched.select(*keys).join(
                fresh.select(*keys), keys, "left_anti"
            )
            upsert(self.spark, self.path, fresh, keys, deletes=dead)
        finally:
            dec.unpersist()

    def read(self) -> DataFrame:
        return _read_state_memo(self.spark, self.path, self._schemas)


class ContinuousCube(ContinuousAggregate):
    """A CUBE (all 2^d grouping sets over ``cube_keys``) materialized
    as ONE stored continuous aggregate.

    Construction: every arriving row is expanded into its 2^d
    grouping-set contributions — rolled-up key slots carry a sentinel
    value — and the expanded frame flows through the standard
    partial/signed merge machinery via the ``_project`` hook. The
    statement's grouping columns are the cube OUTPUT names
    (e.g. ``priority_g``), so the state table is the full cube with
    margins, maintained under inserts AND retractions exactly like any
    other group: a CDF update that rewrites a cube key moves the row
    between cells, adjusting both old and new margins.

    The sentinel stands in for the grouping NULL (SQL ``GROUPING()``)
    so margin rows survive the NULL-grouping-key rejection the keyed
    upsert requires; source key values must therefore be non-NULL (or
    pre-coalesced in ``cube_keys`` exprs) and never equal the
    sentinel.

    Scale: expansion multiplies each BATCH by 2^d (d = cube dims, 2-3
    in practice) before the map-side partial — the stored state stays
    one row per live cube cell, and history is never rescanned. The
    all-margins cell makes min/max retraction repair honest: a delete
    threatening the GLOBAL min recomputes the (all, …, all) slice —
    the whole base — which is the irreducible cost of an exact global
    extremum under deletion in any engine; sum/count margins merge
    algebraically with no base access.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        sql: str,
        cube_keys: dict[str, str],
        sentinel: str = "(all)",
        partition_on: list[str] | None = None,
    ) -> None:
        """``cube_keys`` maps each cube OUTPUT column name (a grouping
        key of ``sql``) to the source-row SQL expression it rolls up."""
        self.cube_keys = dict(cube_keys)
        self.sentinel = sentinel
        super().__init__(spark, path, sql, partition_on=partition_on)
        missing = [
            n for n in self.cube_keys
            if n not in self.spec["key_names"]
        ]
        if missing:
            raise ValueError(
                f"cube_keys outputs {missing} are not grouping keys of "
                f"the statement {self.spec['key_names']}"
            )

    def _project(self, df: DataFrame) -> DataFrame:
        from itertools import product as _iproduct

        names = list(self.cube_keys)
        clash = [n for n in names if n in df.columns]
        if clash:
            raise ValueError(
                f"cube output names {clash} collide with input columns "
                "— rename the cube outputs"
            )
        passthrough = [F.col(c) for c in df.columns]
        variants = []
        for mask in _iproduct((True, False), repeat=len(names)):
            fields = [
                (
                    F.expr(self.cube_keys[n]).cast("string")
                    if keep
                    else F.lit(self.sentinel)
                ).alias(n)
                for n, keep in zip(names, mask)
            ]
            variants.append(F.struct(*fields, *passthrough))
        return (
            df.select(F.explode(F.array(*variants)).alias("_gs"))
            .select("_gs.*")
        )


class ContinuousRollupCascade:
    """Hypertable-style multi-granularity continuous aggregate: a FINE
    view (e.g. hourly buckets) maintained from change batches, and a
    COARSE view (e.g. daily) maintained FROM the fine view's stored
    partials — the coarse refresh never reads the raw base table.

    This is the cascading-rollup shape TimescaleDB documents for
    continuous aggregates (hour → day → month), built on the partial
    state ``ContinuousAggregate`` already stores: fine partials are
    mergeable by construction, so each coarse tier is just the fine
    tier's ``_combine`` expressions grouped by its coarser key.
    ``more_levels`` chains further tiers (day → month → …): level
    ``i+1`` refreshes from level ``i``'s stored partials, so the
    month tier's repair reads ≤31 day rows per touched month no
    matter how large the corpus or the batch.

    Coarse repair is replace-per-touched-group: a batch touching hour
    ``h`` re-aggregates ALL surviving fine partials of ``day(h)``
    (a handful of rows via the broadcast semi join — ≤24 hourly rows
    per touched day) into the complete new day partial and upserts it;
    a day whose every hour died is deleted. Retractions need no
    coarse-side base access: the fine tier has already absorbed them
    (including the two-tier min/max repair), and re-combining correct
    fine partials is exact by construction — which is the whole point
    of cascading: at 100 TB the daily tier's refresh cost is
    ``O(touched days × buckets/day)`` state rows, independent of both
    history size and batch size.

    HAVING is rejected: a threshold stated against fine buckets has no
    well-defined reading at the coarse granularity. ``count(DISTINCT)``
    is rejected by the underlying class (distinct-pair state lives in
    ``ContinuousDistinctAggregate``); its coarse tier would need the
    pair tables, not scalar partials.

    Reference parity: the reference's IVM rewrite (optimizer_rules/
    mod.rs) has no storage and therefore no rollup cascade; this is
    engine-capability beyond it, same family as the stored views
    above.
    """

    def __init__(
        self,
        spark: SparkSession,
        root_path: str,
        sql: str,
        fine_key: str,
        coarse_key: str,
        coarse_expr: str,
        partition_on: list[str] | None = None,
        more_levels: list[tuple[str, str]] | None = None,
    ) -> None:
        """``sql`` is the FINE statement (single-table GROUP BY whose
        first-tier bucket column is ``fine_key``); ``coarse_expr`` is
        a SQL expression over the fine OUTPUT columns producing the
        coarse bucket (e.g. ``date_trunc('day', bucket_h)``), named
        ``coarse_key`` in the coarse table. ``more_levels`` extends
        the cascade with further ``(key, expr)`` tiers, each ``expr``
        over the PREVIOUS level's key (e.g.
        ``[("bucket_m", "date_trunc('month', bucket_d)")]``); level
        ``i+1`` refreshes from level ``i``'s stored partials, so every
        tier's repair cost stays O(touched groups × fan-in)."""
        self.spark = spark
        self.root_path = root_path
        self._schemas: dict = {}
        self.fine = ContinuousAggregate(
            spark, os.path.join(root_path, "fine"), sql,
            partition_on=partition_on,
        )
        if self.fine.spec["having"]:
            raise UnsupportedSQL(
                "rollup cascade: HAVING binds to the fine buckets and "
                "has no coarse-granularity reading — filter read_fine()"
            )
        names = self.fine.spec["key_names"]
        if fine_key not in names:
            raise ValueError(
                f"fine_key {fine_key!r} is not a grouping output "
                f"column of the fine statement {names}"
            )
        self.fine_key = fine_key
        # Non-time dimensions carry through every tier unchanged.
        other = [k for k in names if k != fine_key]
        self.levels: list[dict] = []
        prev_key = fine_key
        for i, (key, expr) in enumerate(
            [(coarse_key, coarse_expr)] + list(more_levels or [])
        ):
            if key == prev_key or key in other:
                raise ValueError(
                    f"cascade level key {key!r} collides with an "
                    "existing grouping column"
                )
            self.levels.append(
                {
                    "key": key,
                    "expr": expr,
                    "prev_key": prev_key,
                    "keys": [key] + other,
                    "path": os.path.join(
                        root_path, "coarse" if i == 0 else f"coarse{i + 1}"
                    ),
                }
            )
            prev_key = key
        # Two-tier compatibility aliases (tests, plan audits, docs).
        self.coarse_key = self.levels[0]["key"]
        self.coarse_expr = self.levels[0]["expr"]
        self.coarse_keys = self.levels[0]["keys"]
        self.coarse_path = self.levels[0]["path"]

    # -- plan builders -------------------------------------------------

    def _level_of(self, prev_state: DataFrame, lvl: dict) -> DataFrame:
        """Level partials from the previous tier's partials: the fine
        ``_combine`` merge grouped by this level's keys — the same
        re-aggregation a map-side partial crosses a shuffle with."""
        with_k = prev_state.withColumn(lvl["key"], F.expr(lvl["expr"]))
        return with_k.groupBy(
            *[F.col(k) for k in lvl["keys"]]
        ).agg(*[F.expr(e) for e in self.fine._combine])

    def _touched_chain(self, batch_df: DataFrame) -> list[DataFrame]:
        """Per-level distinct touched keys — all derived from the
        batch's key expressions (for CDF batches that includes pre-
        AND post-images, so a row moving between buckets touches both
        sides at every granularity). Rows failing the statement's
        WHERE never contributed and are excluded."""
        df = batch_df
        if self.fine.spec["where"]:
            df = df.where(self.fine.spec["where"])
        prev = df.select(*self.fine._key_cols)
        out = []
        for lvl in self.levels:
            prev = (
                prev.withColumn(lvl["key"], F.expr(lvl["expr"]))
                .select(*lvl["keys"])
                .distinct()
            )
            out.append(prev)
        return out

    def _touched_coarse(self, batch_df: DataFrame) -> DataFrame:
        return self._touched_chain(batch_df)[0]

    # -- lifecycle -----------------------------------------------------

    def initialize(self, base_df: DataFrame) -> None:
        import shutil

        # A rebuilt cascade must not mistake a fresh stream for a
        # replay (same contract as ContinuousAggregate.initialize).
        shutil.rmtree(
            self.root_path.rstrip("/") + ".__applied__",
            ignore_errors=True,
        )
        self._schemas.clear()
        self.fine.initialize(base_df)
        prev = self.fine._read_state()
        for lvl in self.levels:
            self._level_of(prev, lvl).write.mode(
                "errorifexists"
            ).parquet(lvl["path"])
            prev = _read_state_memo(
                self.spark, lvl["path"], self._schemas
            )

    def _repair_plan(
        self, touched_c: DataFrame, level: int = 0
    ) -> tuple[DataFrame, DataFrame]:
        """(fresh, dead) for one level's repair: the touched groups'
        complete new partials re-merged from the PREVIOUS tier's state
        (semi-join pruned BEFORE the re-aggregation), and the touched
        groups with no surviving finer rows. No base-table scan
        anywhere in either plan — that is the cascade invariant the
        plan audit pins."""
        lvl = self.levels[level]
        prev_path = (
            self.fine.path if level == 0 else self.levels[level - 1]["path"]
        )
        prev_state = (
            self.fine._read_state()
            if level == 0
            else _read_state_memo(self.spark, prev_path, self._schemas)
        )
        sliced = prev_state.withColumn(
            lvl["key"], F.expr(lvl["expr"])
        ).join(F.broadcast(touched_c), lvl["keys"], "left_semi")
        fresh = sliced.groupBy(
            *[F.col(k) for k in lvl["keys"]]
        ).agg(*[F.expr(e) for e in self.fine._combine])
        dead = touched_c.join(fresh, lvl["keys"], "left_anti")
        return fresh, dead

    def _repair(self, touched_c: DataFrame, level: int = 0) -> None:
        """Replace every touched group at one level from the (already
        refreshed) previous tier; delete the ones with no surviving
        finer rows. Work ∝ touched groups × fan-in. ``fresh`` is
        pinned (it feeds both the dead-group anti-join and the staged
        write) and is key-unique by construction (a groupBy output),
        so the upsert's duplicate-key guard job is skipped."""
        fresh, dead = self._repair_plan(touched_c, level)
        fresh = fresh.persist()
        try:
            lvl = self.levels[level]
            upsert(
                self.spark, lvl["path"], fresh, lvl["keys"], deletes=dead,
                assume_unique_keys=True,
            )
        finally:
            fresh.unpersist()

    def _repair_chain(self, touched: list[DataFrame]) -> None:
        for i, t in enumerate(touched):
            self._repair(t, level=i)

    def refresh(self, delta_df: DataFrame) -> None:
        touched = self._touched_chain(delta_df)
        self.fine.refresh(delta_df)
        self._repair_chain(touched)

    def refresh_signed(
        self, changes_df: DataFrame, base_new_df: DataFrame | None = None
    ) -> None:
        """Retraction-capable refresh: the fine tier nets the signed
        batch (min/max repaired delta-scoped from ``base_new_df``
        when threatened); each coarser tier then re-merges its touched
        groups from the tier below — no base access above the fine
        tier ever."""
        from ..plans.signed import CHANGE_TYPE

        probe_df = changes_df
        if CHANGE_TYPE in probe_df.columns:
            # key exprs evaluate on pre- and post-images alike
            probe_df = probe_df.drop(CHANGE_TYPE)
        touched = self._touched_chain(probe_df)
        self.fine.refresh_signed(changes_df, base_new_df=base_new_df)
        self._repair_chain(touched)

    def stream_cdf(
        self,
        source_dir: str,
        schema,
        checkpoint_dir: str,
        base_reader=None,
    ):
        """Drive BOTH tiers from a checkpointed stream of CDF files:
        each micro-batch (one change file — see ``stream_into_cdf``'s
        consistency precondition) runs the cascade ``refresh_signed``
        (fine signed merge, then the touched-day coarse re-merge)
        under the shared replay guard, so an at-least-once redelivery
        cannot double-apply either tier. ``base_reader`` as in
        ``stream_into_cdf`` — required iff the statement carries
        min/max."""
        if self.fine._minmax_cols and base_reader is None:
            raise UnsupportedSQL(
                "min/max cannot be maintained from a pure change stream "
                "(a retraction needs the post-change base); pass "
                "base_reader"
            )
        if "_change_type" not in schema.fieldNames():
            raise ValueError(
                "stream_cdf: schema must carry the _change_type column "
                "(CDF shape)"
            )
        src = (
            self.spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(source_dir)
        )
        ns = stream_ns(checkpoint_dir)

        def _refresh(batch_df: DataFrame, batch_id: int) -> None:
            if not batch_df.isEmpty():
                base = base_reader() if base_reader is not None else None
                apply_batch_once(
                    self.root_path,
                    batch_id,
                    lambda: self.refresh_signed(
                        batch_df, base_new_df=base
                    ),
                    ns=ns,
                )

        return (
            src.writeStream.foreachBatch(_refresh)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )

    # -- reads ---------------------------------------------------------

    def read_fine(self) -> DataFrame:
        return self.fine.read()

    def read(self, level: int = 0) -> DataFrame:
        """Finals at the given cascade level (0 = first coarse tier)."""
        lvl = self.levels[level]
        state = _read_state_memo(self.spark, lvl["path"], self._schemas)
        return state.select(
            *[state[k] for k in lvl["keys"]],
            *[F.expr(e) for e in self.fine._final],
        )

    def read_coarsest(self) -> DataFrame:
        return self.read(len(self.levels) - 1)
