"""Self-tests of the benchmark's own logic (no Spark needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import io

import pandas as pd

from perfbench import common, feed
from perfbench.trace import Span, op_breakdown, self_times, union_length


def _batch_bytes(seed: int, n: int = 3) -> list[bytes]:
    import pyarrow as pa
    import pyarrow.parquet as pq

    fd = feed.Feed(seed, feed.FeedShape(table_rows=2_000, batch_rows=200, hot_keys=500))
    out = []
    for _ in range(n):
        buf = io.BytesIO()
        pq.write_table(pa.Table.from_pandas(fd.next_batch(), preserve_index=False), buf)
        out.append(buf.getvalue())
    return out


def test_same_seed_gives_identical_batches():
    a, b = _batch_bytes(7), _batch_bytes(7)
    assert [hashlib.sha256(x).digest() for x in a] == [hashlib.sha256(x).digest() for x in b]


def test_other_seed_gives_other_batches():
    a, b = _batch_bytes(7), _batch_bytes(8)
    assert all(x != y for x, y in zip(a, b))


def test_feed_shape():
    shape = feed.FeedShape(table_rows=5_000, batch_rows=1_000, hot_keys=1_000)
    fd = feed.Feed(3, shape)
    full = fd.next_batch()
    batch = fd.next_batch()
    assert len(batch) == shape.batch_rows
    # (key, ts) pairs are unique, so the latest row per key is well defined
    assert not batch.duplicated(["key", "ts"]).any()
    assert batch["key"].duplicated().any()  # repeated keys within a batch
    wm = full["ts"].max()
    late = batch[batch["ts"] <= wm]
    assert len(late) == round(shape.batch_rows * shape.late_share)
    assert (late["ts"] == wm).any()  # one row sits exactly at the watermark
    ops = batch.loc[batch["ts"] > wm, "op"]
    assert set(ops.dropna()) == {"I", "U", "D"} and ops.isna().any()
    # the engine's own feed: I 20 %, U 40 %, D 20 %, untagged 20 %
    share = ops.fillna("-").value_counts(normalize=True)
    assert abs(share["U"] - 0.4) < 0.08 and abs(share["-"] - 0.2) < 0.06
    # the newest row of a batch inserts a new key
    top = batch.loc[batch["ts"].idxmax()]
    assert top["op"] == "I" and top["key"] >= shape.table_rows
    # updates and deletes lean to recent keys
    old = batch[(batch["op"] != "I") & (batch["ts"] > wm)]
    recent = (old["key"] >= shape.table_rows - shape.hot_keys).mean()
    assert recent > 0.6
    # and none lies below the key band, so older files could be pruned
    assert old["key"].min() >= shape.table_rows * (1 - shape.band_share) - 1


def _rows(*rows):
    return pd.DataFrame(
        [
            {"key": k, "ts": ts, "op": op, "amount": amt, "qty": 1, "category": "a", "ref": "r"}
            for k, ts, op, amt in rows
        ]
    )


def test_model_on_a_hand_checked_feed():
    m = feed.Model()
    full = m.apply(_rows((1, 10, "I", 100), (2, 11, "I", 200), (3, 12, "I", 300)))
    assert full.applied and full.inserted == 3
    step = m.apply(
        _rows(
            (1, 5, "U", 999),   # late: at or below the watermark (12), dropped
            (2, 13, "D", 0),    # delete
            (3, 14, "U", 310),  # duplicate key: the later row wins
            (3, 15, "U", 320),
            (4, 16, "I", 400),  # new key
            (5, 17, "D", 0),    # delete of a key that never existed
            (6, 18, None, 600),  # untagged: kept as an upsert
        )
    )
    assert step.watermark == 12
    assert step.fresh_rows == 6
    assert (step.deleted, step.updated, step.inserted) == (1, 1, 2)
    assert step.upserts == 3 and step.kill_keys == 5
    rows = m.sorted_rows()
    assert rows["key"].tolist() == [1, 3, 4, 6]
    assert rows["amount"].tolist() == [100, 320, 400, 600]
    assert m.aggregate() == (4, 1420, 4, 18)
    # a batch with nothing past the watermark is not applied
    assert not m.apply(_rows((9, 16, "I", 1))).applied


def test_tail_percentile_needs_ten_samples_beyond_it():
    assert common.tail_percentile(list(range(99)), 0.9) is None  # 9.9 beyond
    assert common.tail_percentile(list(range(100)), 0.9) is not None
    assert common.tail_percentile(list(range(101)), 0.9) == 90.0
    assert common.tail_percentile(list(range(19)), 0.5) is None
    assert common.median([3, 1, 2]) == 2


def test_union_length():
    assert union_length([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert union_length([(0, 2), (1, 3)], 1.5, 2.5) == 1
    assert union_length([], 0, 1) == 0


def _span(sid, name, start, end, parent, op=1, py4j=0.0):
    s = Span(sid, name, start, parent, op)
    s.end = end
    s.py4j_s = py4j
    return s


def test_self_time_arithmetic():
    # op [0,10): cdc [1,9) with py4j 2 s; inside it delta [2,6) and two
    # overlapping pool-thread thunks [3,5) and [4,7) under delta
    spans = [
        _span(0, "op.write", 0, 10, None),
        _span(1, "cdc.merge", 1, 9, 0, py4j=2.0),
        _span(2, "delta.merge", 2, 6, 1),
        _span(3, "concurrency.thunk", 3, 5, 2),
        _span(4, "concurrency.thunk", 4, 7, 2),
    ]
    st = self_times(spans)
    assert st[0] == 2  # 10 - 8 covered by cdc
    assert st[1] == 8 - 4 - 2  # its child delta covers 4, py4j 2
    assert st[2] == 4 - 3  # thunks cover [3,6) inside [2,6)
    assert st[3] == 2 and st[4] == 3
    br = op_breakdown(spans, spans[0])
    assert br["unattributed"] == 2
    assert br["cdc"] == 2 and br["delta"] == 1 and br["concurrency"] == 5
    assert br["py4j"] == 2


def test_parse_metric():
    assert common.parse_metric("42") == 42
    assert common.parse_metric("total (min, med, max (stageId: taskId))\n1.5 KiB (1 B, 2 B, 3 B)") == 1536
    assert common.parse_metric("total (min, med, max (stageId: taskId))\n2.0 s (1 s)") == 2.0
