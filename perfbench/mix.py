"""The ``registry_mix`` workload: a fixed list of registered queries in
seeded order, one closed-loop client.

The list holds analytic queries, the text/dedup/similarity operators and
memory-sink streaming queries. It leaves out every ``lake_*`` and
``cdc_*`` query and every streaming query that writes a table, so the
commit path does no work here: it is the control for commit-path changes,
and the workload that measures Catalyst, Spark execution, Python workers
and streaming.

Set-up makes the fixture tables from the seed and runs one untimed warm
pass, checked against the DuckDB oracles. The timed loop then runs whole
passes, each in a fresh seeded order, until ``--seconds`` have passed
and at least ``MIN_PASSES`` are done; every timed result must match the
warm pass's row count and hash. Only the analytic queries count toward
``read_p50_ms``; the operator and streaming queries are ops of their own
kinds.
"""

from __future__ import annotations

import hashlib
import os
import random
import threading
import time

from perfbench import common, datagen

#: Fixture scale of the generated tables (lineitem: 60,000 rows).
SCALE = 0.01
#: The timed loop runs for ``--seconds`` and at least this many whole
#: passes, so that a slow stretch of the host does not also cut the
#: sample count.
MIN_PASSES = 3
#: Generated copies of the tables made during set-up; ``setup_s`` takes
#: their median.
SETUP_REPEATS = 3

ANALYTIC = (
    "q1_pricing_summary",
    "agg_rollup_ranked",
    "join_range_event_order_window",
    "window_rank_orders_per_customer",
    "scalar_json_events_props",
)
#: the LLM-data operators: text, near-duplicate and similarity search; the
#: text and similarity ones run Arrow-batched Python UDFs
OPERATORS = (
    "text_sql_registered_udf",
    "dedup_ngram_jaccard",
    "sim_label_centroids",
)
#: memory-sink streaming query that runs several stateful micro-batches;
#: it writes no table
STREAMING = (
    "streaming_update_mode_counts",
)
#: op kind of each query: only the analytic queries count toward
#: ``read_p50_ms``
KIND = {
    **{n: "read" for n in ANALYTIC},
    **{n: "op" for n in OPERATORS},
    **{n: "stream" for n in STREAMING},
}


def _digest(rows) -> tuple[int, str]:
    """Row count and an order-insensitive hash of a collected result."""
    h = hashlib.sha1()
    for r in sorted(repr(tuple(r)) for r in rows):
        h.update(r.encode())
    return len(rows), h.hexdigest()


class StreamListener:
    """Collects Spark's own progress report of every micro-batch that ran
    while ``phase`` was "timed"."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self
        self.phase = "setup"
        self.run_phase: dict[str, str] = {}
        self.batches: list[dict] = []
        self._lock = threading.Lock()

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                outer.run_phase[str(event.runId)] = outer.phase

            def onQueryProgress(self, event):
                p = event.progress
                d = dict(p.durationMs or {})
                if "addBatch" not in d:
                    return  # an idle trigger: no batch ran
                rec = {
                    "d": d,
                    "rows": p.numInputRows,
                    "state": [
                        (s.commitTimeMs, s.numRowsTotal, s.memoryUsedBytes)
                        for s in (p.stateOperators or ())
                    ],
                    "run": str(p.runId),
                }
                with outer._lock:
                    outer.batches.append(rec)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._listener = _L()
        spark.streams.addListener(self._listener)
        self._spark = spark

    def timed_batches(self) -> list[dict]:
        with self._lock:
            return [b for b in self.batches if self.run_phase.get(b["run"]) == "timed"]

    def close(self) -> None:
        self._spark.streams.removeListener(self._listener)


def run(ctx) -> dict:
    from aws_glue_data_lake_spark.oracle import compare_result, run_oracle
    from aws_glue_data_lake_spark.queries import all_oracles, all_queries

    spark = ctx.spark
    registry = all_queries()
    oracles = all_oracles()
    names = ANALYTIC + OPERATORS + STREAMING

    gens = []
    for rep in range(SETUP_REPEATS):
        data = os.path.join(ctx.work, f"data{rep}")
        t0 = time.perf_counter()
        datagen.write_tables(data, ctx.seed, SCALE)
        gens.append(time.perf_counter() - t0)
    ctx.setup_parts["inputs_s"] = common.median(gens)
    ctx.setup_parts["inputs_repeats"] = gens
    listener = StreamListener(spark)
    if ctx.probe:
        ctx.probe.stream_runs = listener.run_phase

    # warm pass: fills the engine's per-application memos; checked
    # against DuckDB (rows only where a query has no oracle)
    t0 = time.perf_counter()
    expected: dict[str, tuple[int, str]] = {}
    warm_times = {}
    for name in names:
        tq = time.perf_counter()
        df = registry[name](spark, data)
        rows = df.collect()
        expected[name] = _digest(rows)
        if name in oracles:
            problems = compare_result(df, run_oracle(oracles[name], data))
            if problems:
                ctx.fail(f"warm {name} vs oracle: {problems[:2]}")
        elif not rows:
            ctx.fail(f"warm {name}: no rows")
        warm_times[name] = round(time.perf_counter() - tq, 2)
    ctx.info["warm_times"] = warm_times
    ctx.setup_parts["warm_pass_s"] = time.perf_counter() - t0

    tracer = ctx.tracer
    times: dict[str, list[float]] = {"read": [], "op": [], "stream": []}
    failed = attempted = 0
    passes = 0
    listener.phase = "timed"
    ctx.begin_timed()
    t_end = time.perf_counter() + ctx.seconds
    while time.perf_counter() < t_end or passes < MIN_PASSES:
        order = list(names)
        random.Random(ctx.seed * 1000 + passes).shuffle(order)
        for name in order:
            kind = KIND[name]
            attempted += 1
            op = ctx.op_begin(kind)
            t0 = time.perf_counter()
            try:
                if tracer:
                    with tracer.span(f"op.{kind}"):
                        with tracer.span("queries.build"):
                            df = registry[name](spark, data)
                        if kind == "read":
                            with tracer.span("catalyst.plan"):
                                df._jdf.queryExecution().executedPlan()
                        with tracer.span("queries.collect"):
                            rows = df.collect()
                else:
                    rows = registry[name](spark, data).collect()
            except Exception as exc:  # noqa: BLE001 - counted, run goes on
                ctx.fail(f"{name}: {type(exc).__name__}: {exc}"[:400])
                failed += 1
                continue
            dt = time.perf_counter() - t0
            ctx.op_end(op, kind, dt)
            times[kind].append(dt)
            if _digest(rows) != expected[name]:
                ctx.fail(f"{name}: result differs from the warm pass")
                failed += 1
        passes += 1
    ctx.end_timed()
    listener.phase = "done"
    # progress events arrive on the listener bus after the query returns
    deadline = time.perf_counter() + 5
    want = len(STREAMING) * passes
    while time.perf_counter() < deadline:
        got = {b["run"] for b in listener.timed_batches()}
        if len(got) >= want:
            break
        time.sleep(0.05)
    time.sleep(0.2)
    batches = listener.timed_batches()
    listener.close()

    trig = [b["d"]["triggerExecution"] for b in batches]
    rows_in = sum(b["rows"] for b in batches)
    reads = times["read"]
    ctx.e2e.update(
        {
            "read_p50_ms": common.ms(common.median(reads)),
            "write_p50_ms": common.median(trig) if trig else None,
            "rows_per_s": rows_in / (sum(trig) / 1e3) if trig and sum(trig) else None,
        }
    )
    ctx.info.update(
        {
            "passes": passes,
            "read_samples": len(reads),
            "operator_ops": len(times["op"]),
            "stream_ops": len(times["stream"]),
            "batch_samples": len(trig),
            "read_p90_ms": common.ms(common.tail_percentile(reads, 0.9)),
            "batch_p90_ms": common.tail_percentile(trig, 0.9),
            "operator_p50_ms": common.ms(common.median(times["op"])),
            "stream_p50_ms": common.ms(common.median(times["stream"])),
        }
    )
    if ctx.probe:
        _layer_metrics(ctx, batches, passes)
    return {"attempted": attempted, "failed": failed}


def _layer_metrics(ctx, batches: list[dict], passes: int) -> None:
    L, probe = ctx.layer, ctx.probe
    L["queries.build_s"] = probe.span_mean("queries.build", "read")
    L["queries.collect_s"] = probe.span_mean("queries.collect", "read")
    L["catalyst.plan_s"] = probe.span_mean("catalyst.plan", "read")
    n_b = max(1, len(batches))
    L["stream.batches"] = len(batches) / max(1, len(STREAMING) * passes)
    L["stream.input_rows"] = sum(b["rows"] for b in batches) / n_b
    trig = [b["d"]["triggerExecution"] for b in batches]
    L["stream.trigger_ms"] = common.median(trig) if trig else 0.0
    for key, name in (
        ("latestOffset", "latest_offset_ms"), ("getBatch", "get_batch_ms"),
        ("queryPlanning", "query_planning_ms"), ("addBatch", "add_batch_ms"),
        ("walCommit", "wal_commit_ms"), ("commitOffsets", "commit_offsets_ms"),
    ):
        L[f"stream.{name}"] = sum(b["d"].get(key, 0) for b in batches) / n_b
    # summed over the batch's state operators
    st = [s for b in batches for s in b["state"]]
    L["stream.state_commit_ms"] = sum(s[0] for s in st) / n_b
    L["stream.state_rows"] = sum(s[1] for s in st) / n_b
    L["stream.state_mem_bytes"] = sum(s[2] for s in st) / n_b
