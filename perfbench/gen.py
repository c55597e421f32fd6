"""Seeded input generator for the commit-to-view benchmark.

Builds TPC-H-shaped ``orders`` and ``lineitem`` tables with the same
column names, types and value ranges as the repository's test
fixtures, and splits them into the commit batches each workload
applies. Everything derives from one ``numpy.random.Generator`` seeded
by ``--seed``: column values, hash-bucket membership of every order and
line, and the CDC operation (insert / delete / update) each commit
carries.

The system under test never sees this module's bookkeeping. It
receives DataFrames read from the parquet files written here; the
change log's live-row summary is one of the correctness gates.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DAY_US = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)

PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def _pick(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    idx = rng.integers(0, len(values), n)
    return pa.DictionaryArray.from_arrays(
        pa.array(idx, pa.int32()), pa.array(values)
    ).cast(pa.string())


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), pa.timestamp("us"))


def orders_lineitem(rng: np.random.Generator, sf: float) -> dict[str, pa.Table]:
    """``orders`` and ``lineitem`` at scale factor ``sf`` (sf 0.1 is
    150k orders and 600k lines, the size of the sf0.1 fixtures). Lines
    pick their order, part and supplier uniformly, as in the fixtures."""
    n_cust = max(50, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(50, int(200_000 * sf))
    n_ord = max(100, int(1_500_000 * sf))
    n_line = 4 * n_ord
    orders = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _ts(EPOCH_1995 + rng.integers(0, 2405, n_ord) * DAY_US),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
    })
    lineitem = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line, dtype=np.int64),
        "l_partkey": rng.integers(0, n_part, n_line, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line, dtype=np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": _ts(EPOCH_1995 + rng.integers(1, 2500, n_line) * DAY_US),
    })
    return {"orders": orders, "lineitem": lineitem}


def write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def user_bytes(table: pa.Table) -> int:
    """In-memory size of the user rows (Arrow buffers), the denominator
    of the storage ratio: independent of any on-disk encoding."""
    return table.nbytes


def bucket_split(
    rng: np.random.Generator, table: pa.Table, n_buckets: int
) -> list[pa.Table]:
    """Partition ``table`` into ``n_buckets`` seeded hash buckets of
    near-equal size (row i goes to bucket perm[i] mod n)."""
    b = rng.permutation(table.num_rows) % n_buckets
    order = np.argsort(b, kind="stable")
    bounds = np.searchsorted(b[order], np.arange(n_buckets + 1))
    return [
        table.take(pa.array(order[bounds[k]:bounds[k + 1]]))
        for k in range(n_buckets)
    ]


class CdcLog:
    """Seeded change log over ``lineitem``: a base state plus commits
    that each insert new lines, delete live lines and re-price live
    lines (update pre/post images). Tracks the live row set so every
    delete and pre-image names a row that exists at that version."""

    def __init__(self, rng: np.random.Generator, lineitem: pa.Table,
                 base_share: float, commit_share: float):
        self.rng = rng
        self.rows = lineitem
        n = lineitem.num_rows
        order = rng.permutation(n)
        n_base = int(n * base_share)
        self.base_idx = np.sort(order[:n_base])
        self.pool = order[n_base:]
        self.per_commit = max(3, int(n * commit_share))
        self.live = np.zeros(n, dtype=bool)
        self.live[self.base_idx] = True
        self.price = lineitem["l_extendedprice"].to_numpy().copy()

    def base(self) -> pa.Table:
        return self.rows.take(pa.array(self.base_idx))

    def _rows(self, idx: np.ndarray, price: np.ndarray) -> pa.Table:
        t = self.rows.take(pa.array(idx))
        col = t.schema.get_field_index("l_extendedprice")
        return t.set_column(col, "l_extendedprice", pa.array(price))

    def next_commit(self) -> pa.Table:
        """One CDF batch: half the rows inserts, a quarter deletes, a
        quarter updates (each update is a pre-image and a post-image),
        as rows with a ``_change_type`` column."""
        k = self.per_commit
        n_ins, n_del = k // 2, k // 4
        n_upd = k - n_ins - n_del
        if len(self.pool) < n_ins:
            raise RuntimeError("change log exhausted its insert pool")
        ins, self.pool = self.pool[:n_ins], self.pool[n_ins:]
        live = np.flatnonzero(self.live)
        touched = self.rng.choice(live, n_del + n_upd, replace=False)
        dele, upd = touched[:n_del], touched[n_del:]
        old_price = self.price[upd]
        new_price = np.round(old_price * self.rng.uniform(0.5, 1.5, n_upd), 2)
        parts = [
            (self._rows(ins, self.price[ins]), "insert"),
            (self._rows(dele, self.price[dele]), "delete"),
            (self._rows(upd, old_price), "update_preimage"),
            (self._rows(upd, new_price), "update_postimage"),
        ]
        self.live[ins] = True
        self.live[dele] = False
        self.price[upd] = new_price
        return pa.concat_tables([
            t.append_column("_change_type", pa.array([tag] * t.num_rows))
            for t, tag in parts
        ])

    def live_summary(self) -> tuple[int, int]:
        """(live row count, sum of live prices in cents) — the expected
        footprint of the folded snapshot."""
        cents = np.floor(self.price[self.live] * 100 + 0.5).astype(np.int64)
        return int(self.live.sum()), int(cents.sum())
