"""The ``cdc`` workload: the reference CDC job into a Delta table and an
Iceberg table, one closed-loop client.

A seeded DMS feed is full-loaded into both tables, then fed batch after
batch through ``operators.cdc.merge_cdc_batch`` into ``targets.DeltaTarget``
(the reference ``delta_tables.py`` job, copy-on-write) and
``targets.IcebergTarget`` (the reference ``iceberg_tables.py`` job,
merge-on-read). Each round commits one batch to both tables (a *write* op
each), then runs one fixed read composite on each (a *read* op each): an
aggregate of the tip, the same aggregate as of the previous version, and
the change feed of the commit. ``write_p50_ms`` and ``read_p50_ms`` are
medians over rounds of the two formats' times together, so a change that
moves cost between the write and the read path of either format shows in
the other metric.

Every read is checked against :class:`perfbench.feed.Model` at that
version once the timed loop is over; at run end the whole tip, a middle
version and the change feed of the timed range are checked too.
"""

from __future__ import annotations

import os
import time
from contextlib import nullcontext

import pandas as pd

from perfbench import common, feed

#: Untimed rounds before the timed loop: the first merges of a fresh JVM
#: run several times slower than later ones.
WARMUP_ROUNDS = 1
#: The timed loop runs for ``--seconds`` and at least this many rounds.
#: Round times keep falling for about ten commits, so a median over a
#: varying number of rounds would move with the count; warming up until
#: they stop falling would cost more than the timed loop itself.
MIN_ROUNDS = 4
#: Full loads of each table made during set-up; ``setup_s`` counts their
#: median.
SETUP_REPEATS = 2


def _agg(df) -> tuple:
    from pyspark.sql import functions as F

    r = df.agg(
        F.count(F.lit(1)), F.sum("amount"), F.sum("qty"), F.max("ts")
    ).collect()[0]
    return tuple(None if v is None else int(v) for v in r)


def _change_counts(df) -> dict:
    return {r[0]: int(r[1]) for r in df.groupBy("_change_type").count().collect()}


class DeltaFormat:
    name = "delta"
    meta_dir = "_delta_log"

    def __init__(self):
        from aws_glue_data_lake_spark import deltacompat, targets

        self.mod = deltacompat
        self.targets = targets

    def target(self, path, spark):
        return self.targets.DeltaTarget(path, spark)

    def after_create(self, path):
        # the change feed needs explicit cdc files on merge commits
        self.mod.DeltaTableWriter(path).set_change_data_feed(True)

    @staticmethod
    def commit_index(version: int) -> int:
        # v0 is the full load, v1 turns the change feed on, v(k+1) is batch k
        return max(0, version - 1)

    def read(self, spark, path):
        r = self.mod.DeltaTableReader(path)
        v = r.latest_version()
        tip = _agg(r.to_df(spark))
        prev = _agg(r.to_df(spark, version=v - 1))
        ch = _change_counts(r.changes(spark, starting_version=v, ending_version=v))
        return self.commit_index(v), tip, prev, ch

    def read_rows(self, spark, path, commit: int | None = None):
        r = self.mod.DeltaTableReader(path)
        version = None if commit is None else commit + 1
        return r.to_df(spark, version=version).toPandas()

    def changes_between(self, spark, path, first: int, last: int) -> dict:
        r = self.mod.DeltaTableReader(path)
        return _change_counts(r.changes(spark, starting_version=first + 1, ending_version=last + 1))

    @staticmethod
    def expected_changes(step: feed.Step) -> dict:
        out = {
            "insert": step.inserted,
            "delete": step.deleted,
            "update_preimage": step.updated,
            "update_postimage": step.updated,
        }
        return {k: v for k, v in out.items() if v}


class IcebergFormat:
    name = "iceberg"
    meta_dir = "metadata"

    def __init__(self):
        from aws_glue_data_lake_spark import icebergcompat, targets

        self.mod = icebergcompat
        self.targets = targets

    def target(self, path, spark):
        return self.targets.IcebergTarget(path, spark)

    def after_create(self, path):
        pass

    def _snapshots(self, r) -> list[dict]:
        # oldest first; the full load is the first snapshot
        return sorted(r.history(), key=lambda h: h["sequence_number"])

    def read(self, spark, path):
        r = self.mod.IcebergTableReader(path)
        snaps = self._snapshots(r)
        sid, prev_sid = snaps[-1]["snapshot_id"], snaps[-2]["snapshot_id"]
        tip = _agg(r.to_df(spark))
        prev = _agg(r.to_df(spark, snapshot_id=prev_sid))
        ch = _change_counts(r.changes(spark, start_snapshot_id=sid, end_snapshot_id=sid))
        return len(snaps) - 1, tip, prev, ch

    def read_rows(self, spark, path, commit: int | None = None):
        r = self.mod.IcebergTableReader(path)
        sid = None if commit is None else self._snapshots(r)[commit]["snapshot_id"]
        return r.to_df(spark, snapshot_id=sid).toPandas()

    def changes_between(self, spark, path, first: int, last: int) -> dict:
        r = self.mod.IcebergTableReader(path)
        snaps = self._snapshots(r)
        return _change_counts(
            r.changes(
                spark,
                start_snapshot_id=snaps[first]["snapshot_id"],
                end_snapshot_id=snaps[last]["snapshot_id"],
            )
        )

    @staticmethod
    def expected_changes(step: feed.Step) -> dict:
        # merge-on-read: every matched live row is deleted by an equality
        # delete, and every upsert is inserted
        out = {"delete": step.deleted + step.updated, "insert": step.upserts}
        return {k: v for k, v in out.items() if v}


def _tree_bytes(root: str, meta_dir: str) -> tuple[int, int, int]:
    """(data bytes, metadata bytes, file count) under a table root."""
    data = meta = files = 0
    for dirpath, _dirs, names in os.walk(root):
        is_meta = os.path.relpath(dirpath, root).split(os.sep)[0] == meta_dir
        for n in names:
            size = os.path.getsize(os.path.join(dirpath, n))
            files += 1
            if is_meta:
                meta += size
            else:
                data += size
    return data, meta, files


def run(ctx) -> dict:
    from aws_glue_data_lake_spark.operators.cdc import merge_cdc_batch
    from aws_glue_data_lake_spark.queries.cdc_queries import _SENTINEL_US

    fmts = [DeltaFormat(), IcebergFormat()]
    spark = ctx.spark

    # -- inputs: the full load and every change batch the run may need --
    t0 = time.perf_counter()
    fd = feed.Feed(ctx.seed, feed.FeedShape())
    feed_dir = os.path.join(ctx.work, "feed")
    os.makedirs(feed_dir)
    n_batches = WARMUP_ROUNDS + MIN_ROUNDS + 2 * ctx.seconds  # rounds as short as 0.5 s
    batches: list[pd.DataFrame] = []
    paths, sizes = [], []
    for i in range(n_batches + 1):
        b = fd.next_batch()
        p = os.path.join(feed_dir, f"batch_{i:05d}.parquet")
        sizes.append(feed.write_batch(b, p))
        batches.append(b)
        paths.append(p)
    schema = spark.read.parquet(paths[0]).schema
    ctx.setup_parts["inputs_s"] = time.perf_counter() - t0

    def commit(table, k: int):
        batch = spark.read.schema(schema).parquet(paths[k])
        return merge_cdc_batch(table, batch, feed.KEYS, feed.DATE_COL, sentinel=_SENTINEL_US)

    # -- the tables: full loads, repeated; the last copies are used --
    tables, creates = {}, {f.name: [] for f in fmts}
    for rep in range(SETUP_REPEATS):
        for f in fmts:
            path = os.path.join(ctx.work, f"{f.name}{rep}")
            t0 = time.perf_counter()
            table = f.target(path, spark)
            commit(table, 0)
            f.after_create(path)
            creates[f.name].append(time.perf_counter() - t0)
            tables[f.name] = (table, path)
    for name, reps in creates.items():
        ctx.setup_parts[f"create_{name}_s"] = common.median(reps)
        ctx.setup_parts[f"create_{name}_repeats"] = reps

    k = 1
    t0 = time.perf_counter()
    for _ in range(WARMUP_ROUNDS):
        for f in fmts:
            table, path = tables[f.name]
            commit(table, k)
            f.read(spark, path)
        k += 1
    ctx.setup_parts["warmup_s"] = time.perf_counter() - t0
    first_timed = k

    # -- timed loop: one round commits a batch to both tables, then reads
    # both; each commit and each read composite is one op --
    tracer, probe = ctx.tracer, ctx.probe
    writes, reads = [], []  # per round, both formats
    per_fmt = {f.name: {"write": [], "read": []} for f in fmts}
    results = {f.name: [] for f in fmts}  # (commit, tip, prev, changes)
    write_rows = 0
    failed = attempted = 0
    last = k - 1  # the newest batch committed
    fs_prev = {f.name: _tree_bytes(tables[f.name][1], f.meta_dir) for f in fmts} if probe else None

    def timed(kind: str, fn):
        nonlocal attempted
        attempted += 1
        op = ctx.op_begin(kind)
        t0 = time.perf_counter()
        with tracer.span("op." + kind.split(":")[0]) if tracer else nullcontext():
            out = fn()
        dt = time.perf_counter() - t0
        ctx.op_end(op, kind, dt)
        return out, dt

    ctx.begin_timed()
    t_end = time.perf_counter() + ctx.seconds
    while (time.perf_counter() < t_end or len(writes) < MIN_ROUNDS) and k <= n_batches:
        try:
            w = r = 0.0
            for f in fmts:
                table, path = tables[f.name]
                res, dt = timed(f"write:{f.name}", lambda: commit(table, k))
                if not res.applied:
                    raise RuntimeError(f"batch {k} was not applied to {f.name}")
                per_fmt[f.name]["write"].append(dt)
                w += dt
                if probe:
                    fs_prev[f.name] = probe.after_write(f, path, fs_prev[f.name])
            last = k
            for f in fmts:
                res, dt = timed(f"read:{f.name}", lambda: f.read(spark, tables[f.name][1]))
                results[f.name].append(res)
                per_fmt[f.name]["read"].append(dt)
                r += dt
        except Exception as exc:  # noqa: BLE001 - counted; the run stops
            ctx.fail(f"batch {k}: {type(exc).__name__}: {exc}"[:600])
            failed += 1
            break
        writes.append(w)
        reads.append(r)
        write_rows += len(batches[k])
        k += 1
    ctx.end_timed()

    # -- checks (untimed) ------------------------------------------------------
    t_checks = time.perf_counter()
    model = feed.Model()
    aggs, steps, mid_rows = [], [], None
    mid = (first_timed + last) // 2
    for i in range(last + 1):
        steps.append(model.apply(batches[i]))
        aggs.append(model.aggregate())
        if i == mid:
            mid_rows = model.sorted_rows()
    if not all(s.applied for s in steps):
        ctx.fail("a batch was not applied")
    for f in fmts:
        for ci, tip, prev, ch in results[f.name]:
            exp_ch = f.expected_changes(steps[ci])
            if tip != aggs[ci] or prev != aggs[ci - 1] or ch != exp_ch:
                failed += 1
                ctx.fail(
                    f"{f.name} read at commit {ci}: tip {tip} vs {aggs[ci]}, prev "
                    f"{prev} vs {aggs[ci - 1]}, changes {ch} vs {exp_ch}"
                )
        if failed or last < first_timed:
            continue
        path = tables[f.name][1]
        _check_rows(ctx, f.read_rows(spark, path), model.sorted_rows(), f"{f.name} tip")
        _check_rows(ctx, f.read_rows(spark, path, mid), mid_rows, f"{f.name} commit {mid}")
        got = f.changes_between(spark, path, first_timed, last)
        want: dict = {}
        for s in steps[first_timed : last + 1]:
            for c, n in f.expected_changes(s).items():
                want[c] = want.get(c, 0) + n
        if got != want:
            ctx.fail(f"{f.name} change feed {first_timed}..{last}: {got} vs {want}")

    ctx.info["checks_s"] = round(time.perf_counter() - t_checks, 2)
    ctx.e2e.update(
        {
            "write_p50_ms": common.ms(common.median(writes)),
            "read_p50_ms": common.ms(common.median(reads)),
            "rows_per_s": write_rows / sum(writes) if writes else None,
        }
    )
    ctx.info["rounds"] = len(writes)
    for name, d in per_fmt.items():
        for kind, v in d.items():
            ctx.info[f"{kind}_{name}_ms"] = [round(x * 1e3) for x in v]
    ctx.info["write_p90_ms"] = common.ms(common.tail_percentile(writes, 0.9))
    ctx.info["read_p90_ms"] = common.ms(common.tail_percentile(reads, 0.9))
    if probe:
        timed_steps = steps[first_timed : last + 1]
        offered = sum(len(batches[i]) for i in range(first_timed, last + 1))
        n = max(1, len(timed_steps))
        ctx.layer.update(
            {
                "cdc.applied_ratio": sum(s.applied for s in timed_steps) / n,
                "cdc.fresh_rows_ratio": sum(s.fresh_rows for s in timed_steps) / max(1, offered),
                "cdc.upsert_rows": sum(s.upserts for s in timed_steps) / n,
                "cdc.delete_keys": sum(s.kill_keys for s in timed_steps) / n,
            }
        )
        change_bytes = sum(sizes[first_timed : last + 1])
        for f in fmts:
            probe.finish_cdc(ctx, f, tables[f.name][1], timed_steps, change_bytes)
    return {"attempted": attempted, "failed": failed}


def _check_rows(ctx, got: pd.DataFrame, want: pd.DataFrame, what: str) -> None:
    got = got[feed.TABLE_COLUMNS].sort_values("key").reset_index(drop=True)
    want = want[feed.TABLE_COLUMNS].reset_index(drop=True)
    if len(got) != len(want):
        ctx.fail(f"{what}: {len(got)} rows vs {len(want)} in the model")
        return
    for c in feed.TABLE_COLUMNS:
        if not (got[c].astype(want[c].dtype).to_numpy() == want[c].to_numpy()).all():
            ctx.fail(f"{what}: column {c} differs from the model")
            return
