"""Seeded DMS-style change feed and a pandas model of the CDC job's net
semantics.

The feed is what a DMS task lands for one source table: rows tagged
``op`` in {I, U, D} or untagged (NULL, kept as an upsert, as the
reference's ``op IS NULL OR op IN ('I','U')`` filter does), with an
event-time column ``ts`` (int64 epoch-µs). Each batch mixes inserts of
new keys, updates, deletes and untagged rows, repeats some keys within
the batch, and carries a share of late rows at or below the watermark
that the pipeline must drop.

The op mix is the one of the engine's own CDC feed
(``queries/cdc_queries.py``: the fixture's five event types, equally
common, map to I, U, U, D and untagged). Keys follow the key-banded
merges of ``scripts/scale_probe.py``: inserts take new keys above every
existing one, and the keys of the other rows sit in a band of the newest
keys — most of them among the most recent inserts, the rest uniformly
over the newer part of the table — so a key-clustered table could leave
its older files out of a merge.

``(key, ts)`` pairs are unique within every batch: the pipeline's
``row_number`` tie winner is nondeterministic, so equal pairs would make
the expected result ambiguous.

The batch with the largest ``ts`` always ends on an insert of a new key,
so the watermark after each batch is that batch's largest ``ts`` whether
it is taken over live rows (copy-on-write Delta) or over every row ever
written (merge-on-read Iceberg manifests).
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

#: 2024-01-01T00:00:00Z in epoch-µs; every generated ts lies after it.
TS_BASE = 1_704_067_200_000_000
#: Spacing of the ts grid. Main rows sit on multiples of it, duplicates
#: at +5 and late rows at -3, so the three never collide.
TS_STEP = 10
CATEGORIES = ("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta")
KEYS = ["key"]
DATE_COL = "ts"
TABLE_COLUMNS = ["key", "ts", "amount", "qty", "category", "ref"]


@dataclass(frozen=True)
class FeedShape:
    table_rows: int = 50_000
    batch_rows: int = 1_000
    #: op shares of a batch's on-time rows; updates take the rest (40 %)
    insert_share: float = 0.20
    delete_share: float = 0.20
    untagged_share: float = 0.20
    dup_share: float = 0.05
    late_share: float = 0.03
    #: share of update/delete/untagged keys drawn from the most recent inserts
    hot_share: float = 0.80
    #: how many of the newest keys count as recent
    hot_keys: int = 5_000
    #: the rest are uniform over this share of all keys, the newest ones
    band_share: float = 0.50


class Feed:
    """Deterministic feed: batch 0 is the full load, then change batches."""

    def __init__(self, seed: int, shape: FeedShape = FeedShape()):
        self.shape = shape
        self._rng = np.random.default_rng([seed, 0x5EED])
        self._next_key = 0
        self._ts_hi = TS_BASE  # largest ts emitted so far (the watermark)
        self.batches_made = 0

    def _payload(self, n: int) -> dict:
        r = self._rng
        return {
            "amount": r.integers(1, 1_000_000, n, dtype=np.int64),
            "qty": r.integers(1, 100, n, dtype=np.int32),
            "category": np.array(CATEGORIES, dtype=object)[
                r.integers(0, len(CATEGORIES), n)
            ],
            "ref": np.array(
                [f"{v:016x}" for v in r.integers(0, 2**62, n, dtype=np.int64)],
                dtype=object,
            ),
        }

    def _old_keys(self, n: int) -> np.ndarray:
        r = self._rng
        hi = self._next_key
        hot = r.random(n) < self.shape.hot_share
        lo_hot = max(0, hi - self.shape.hot_keys)
        lo_band = int(hi * (1 - self.shape.band_share))
        return np.where(
            hot,
            r.integers(lo_hot, hi, n, dtype=np.int64),
            r.integers(lo_band, hi, n, dtype=np.int64),
        )

    def _ops(self, n: int, inserts: bool = True) -> np.ndarray:
        """``n`` ops of the feed's mix (None: untagged); without
        ``inserts``, the mix of changes to existing keys."""
        s = self.shape
        shares = np.array(
            [s.insert_share if inserts else 0.0, s.delete_share, s.untagged_share]
        )
        u = self._rng.random(n) * (1.0 if inserts else 1.0 - s.insert_share)
        edges = np.cumsum(shares)
        return np.select(
            [u < edges[0], u < edges[1], u < edges[2]], ["I", "D", None], "U"
        ).astype(object)

    def next_batch(self) -> pd.DataFrame:
        s, r = self.shape, self._rng
        full = self.batches_made == 0
        n_main = s.table_rows if full else s.batch_rows
        n_dup = int(round(n_main * s.dup_share))
        n_late = 0 if full else int(round(s.batch_rows * s.late_share))
        if not full:
            n_main -= n_dup + n_late
        if full:
            ops = np.full(n_main, "I", dtype=object)
        else:
            ops = self._ops(n_main)
        ins = ops == "I"
        ins[-1], ops[-1] = True, "I"  # the max-ts row: an insert, see module doc
        keys = np.empty(n_main, dtype=np.int64)
        keys[ins] = self._next_key + np.arange(int(ins.sum()), dtype=np.int64)
        keys[~ins] = self._old_keys(int((~ins).sum()))
        self._next_key += int(ins.sum())
        # ts grid: the last row gets the largest rank, the rest a shuffle
        rank = np.empty(n_main, dtype=np.int64)
        rank[:-1] = r.permutation(n_main - 1)
        rank[-1] = n_main - 1
        wm = self._ts_hi
        ts = wm + TS_STEP * (rank + 1)
        main = pd.DataFrame({"key": keys, "ts": ts, "op": ops, **self._payload(n_main)})

        # duplicates: a later change of a key already in this batch
        src = r.choice(n_main - 1, size=n_dup, replace=False)
        dup = pd.DataFrame(
            {
                "key": keys[src],
                "ts": ts[src] + TS_STEP // 2,
                "op": self._ops(n_dup, inserts=False),
                **self._payload(n_dup),
            }
        )
        parts = [main, dup]
        if n_late:
            back = r.choice(s.batch_rows, size=n_late - 1, replace=False)
            late_ts = np.concatenate([[wm], wm - TS_STEP * back - 3])
            late = pd.DataFrame(
                {
                    "key": self._old_keys(n_late),
                    "ts": late_ts,
                    "op": self._ops(n_late),
                    **self._payload(n_late),
                }
            )
            parts.append(late)
        batch = pd.concat(parts, ignore_index=True)
        batch = batch.iloc[r.permutation(len(batch))].reset_index(drop=True)
        self._ts_hi = int(ts[-1])
        self.batches_made += 1
        return batch


def write_batch(batch: pd.DataFrame, path: str) -> int:
    """Write one batch as a single parquet file; returns its size in bytes."""
    table = pa.Table.from_pandas(batch, preserve_index=False)
    pq.write_table(table, path, compression="snappy")
    return os.path.getsize(path)


@dataclass
class Step:
    """What one batch did to the table, per the reference semantics."""

    applied: bool
    watermark: int | None
    fresh_rows: int = 0
    upserts: int = 0
    kill_keys: int = 0
    #: keys that were live and are now gone
    deleted: int = 0
    #: keys that were live and got a new row
    updated: int = 0
    #: keys that were not live and now are
    inserted: int = 0


class Model:
    """Reference net semantics of ``merge_cdc_batch`` over a keyed table:
    watermark-drop rows at or below the live max ``ts`` (a sentinel on full
    load), keep the latest row per key, delete every live key the batch
    names, upsert the latest I/U rows."""

    def __init__(self):
        self.table = pd.DataFrame(
            {
                "key": pd.Series(dtype="int64"),
                "ts": pd.Series(dtype="int64"),
                "amount": pd.Series(dtype="int64"),
                "qty": pd.Series(dtype="int32"),
                "category": pd.Series(dtype=object),
                "ref": pd.Series(dtype=object),
            }
        ).set_index("key", drop=False)

    def apply(self, batch: pd.DataFrame) -> Step:
        if len(self.table):
            wm = int(self.table["ts"].max())
            fresh = batch[batch["ts"] > wm]
        else:
            wm = None
            fresh = batch
        if fresh.empty:
            return Step(applied=False, watermark=wm)
        latest = fresh.sort_values("ts", ascending=False, kind="stable").drop_duplicates(
            "key", keep="first"
        )
        ups = latest[latest["op"].isna() | latest["op"].isin(["I", "U"])]
        ups = ups.drop(columns=["op"]).set_index("key", drop=False)
        live = self.table.index
        matched = live.intersection(pd.Index(latest["key"]))
        ups_keys = pd.Index(ups["key"])
        step = Step(
            applied=True,
            watermark=wm,
            fresh_rows=len(fresh),
            upserts=len(ups),
            kill_keys=len(latest),
            deleted=len(matched.difference(ups_keys)),
            updated=len(matched.intersection(ups_keys)),
            inserted=len(ups_keys.difference(live)),
        )
        kept = self.table.drop(index=matched)
        self.table = pd.concat([kept, ups[TABLE_COLUMNS]])
        return step

    def aggregate(self) -> tuple:
        """The tip aggregate every read op checks: (rows, sum amount,
        sum qty, max ts)."""
        t = self.table
        if t.empty:
            return (0, 0, 0, None)
        return (
            len(t),
            int(t["amount"].sum()),
            int(t["qty"].astype("int64").sum()),
            int(t["ts"].max()),
        )

    def sorted_rows(self) -> pd.DataFrame:
        return self.table.reset_index(drop=True)[TABLE_COLUMNS].sort_values("key").reset_index(drop=True)
