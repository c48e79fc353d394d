"""The traced run: wrappers around each engine layer and the per-layer
metrics computed from them.

Every wrapper is installed from here, around calls into the engine's
public functions and methods; no engine code changes. Per-op numbers are
means over the timed ops of the kind named in the metric: write (one CDC
commit), read (one read composite, or one analytic query on
``registry_mix``), op (one text/dedup/similarity operator query) or
stream (one streaming query run). A layer a workload
does not use reports 0.
"""

from __future__ import annotations

import json
import os
import time

from perfbench import common
from perfbench.trace import Tracer, op_breakdown

SELF_LAYERS = (
    "cdc", "targets", "delta", "iceberg", "avrolite", "concurrency",
    "queries", "catalyst", "py4j", "unattributed",
)


class Probe:
    def __init__(self, ctx):
        from aws_glue_data_lake_spark import deltacompat, icebergcompat, targets
        from aws_glue_data_lake_spark.operators import cdc

        self.ctx = ctx
        self.mod_delta = deltacompat
        self.tracer = t = Tracer()
        self.store = common.StatusStore(ctx.spark)
        self.store.new_jobs()
        self.store.new_python_metrics()
        t.wrap_py4j()
        t.wrap(cdc, "merge_cdc_batch", "cdc.merge_cdc_batch")
        for cls in (targets.DeltaTarget, targets.IcebergTarget):
            t.wrap(cls, "stat_max", "targets.stat_max")
        for prefix, mod, writer, reader in (
            ("delta", deltacompat, deltacompat.DeltaTableWriter, deltacompat.DeltaTableReader),
            ("iceberg", icebergcompat, icebergcompat.IcebergTableWriter, icebergcompat.IcebergTableReader),
        ):
            t.wrap(writer, "merge", f"{prefix}.merge")
            t.wrap(writer, "create", f"{prefix}.create")
            t.wrap(reader, "snapshot", f"{prefix}.snapshot")
            t.wrap(reader, "to_df", f"{prefix}.to_df")
            t.wrap(reader, "changes", f"{prefix}.changes")
            t.wrap_run_jobs(mod)
        t.wrap(icebergcompat, "read_container", "avrolite.read_container")
        t.wrap(icebergcompat, "write_container", "avrolite.write_container")
        self.ops: list[dict] = []
        self._op_start = 0.0
        self.commits: dict[str, list[dict]] = {}  # format -> per timed commit
        self.python: dict[str, float] = {}
        self.unattributed_jobs = 0
        self.lost_groups: dict[str, int] = {}
        #: run id -> phase of every streaming query (set by registry_mix);
        #: Spark runs a stream's micro-batch jobs under its run id
        self.stream_runs: dict[str, str] = {}

    # -- per op ----------------------------------------------------------------
    def op_begin(self, op: int, kind: str) -> None:
        self.ctx.spark.sparkContext.setJobGroup(f"perfbench-op-{op}", kind)
        self.tracer.op = op
        self._op_start = time.time()

    def op_end(self, op: int, kind: str, dt: float) -> None:
        t = self.tracer
        t.op = None
        op_span = next(s for s in reversed(t.spans) if s.op == op and s.parent is None)
        jobs = self.store.new_jobs()
        groups = {f"perfbench-op-{op}", *self.stream_runs}
        mine = [j for j in jobs if j.get("jobGroup") in groups]
        # a job of this op's window that lost the op's group: counted, and
        # attributed to the op by time
        lost = [
            j for j in jobs
            if j.get("jobGroup") not in groups
            and (j.get("submissionTime") or 0) / 1e3 >= self._op_start - 0.001
        ]
        self.unattributed_jobs += len(lost)
        for j in lost:
            g = str(j.get("jobGroup"))
            self.lost_groups[g] = self.lost_groups.get(g, 0) + 1
        summary = common.summarize_jobs(mine + lost, self.store.stages())
        for k, v in self.store.new_python_metrics().items():
            self.python[k] = self.python.get(k, 0.0) + v
        self.ops.append(
            {"op": op, "kind": kind, "dt": dt, "span": op_span, "spark": summary}
        )

    def after_write(self, fmt, path: str, fs_prev):
        """Bytes and files the commit just made added under the table, and
        what its log or manifests say it did."""
        from perfbench.cdc import _tree_bytes

        fs_now = _tree_bytes(path, fmt.meta_dir)
        rec = {
            "data_bytes": fs_now[0] - fs_prev[0],
            "meta_bytes": fs_now[1] - fs_prev[1],
            "files": fs_now[2] - fs_prev[2],
        }
        rec.update(_delta_commit(path) if fmt.name == "delta" else _iceberg_commit(path))
        self.commits.setdefault(fmt.name, []).append(rec)
        return fs_now

    # -- results ---------------------------------------------------------------
    def _by_kind(self, kind: str) -> list[dict]:
        """Ops of ``kind``: "write" matches "write:delta" and "write:iceberg"."""
        return [o for o in self.ops if o["kind"] == kind or o["kind"].split(":")[0] == kind]

    def span_mean(self, name: str, kind: str) -> float:
        """Mean per op of ``kind`` of the inclusive time of spans ``name``
        (outermost calls only, so recursion is not double counted)."""
        ops = self._by_kind(kind)
        if not ops:
            return 0.0
        ids = {o["op"] for o in ops}
        spans = [s for s in self.tracer.spans if s.op in ids]
        by_id = {s.sid: s for s in spans}
        total = 0.0
        for s in spans:
            if s.name != name:
                continue
            p = by_id.get(s.parent)
            while p is not None and p.name != name:
                p = by_id.get(p.parent)
            if p is None:
                total += s.end - s.start
        return total / len(ops)

    def finish_cdc(self, ctx, fmt, path: str, steps, change_bytes: int) -> None:
        """Per-layer numbers of one format's table; call once per format."""
        L = ctx.layer
        p = fmt.name
        writes = self._by_kind(f"write:{p}")
        n_w = max(1, len(writes))
        c = self.commits.get(p, [])
        L["cdc.merge_s"] = self.span_mean("cdc.merge_cdc_batch", "write")
        L["targets.stat_max_s"] = self.span_mean("targets.stat_max", "write")
        for key in ("data_bytes", "meta_bytes", "files"):
            total = sum(r[key] for rs in self.commits.values() for r in rs)
            name = "fs.files_written" if key == "files" else f"fs.{key}_written"
            L[name] = total / max(1, len(self._by_kind("write")))
        written = sum(r["data_bytes"] + r["meta_bytes"] for r in c)
        L[f"fs.{p}_bytes_per_user_byte"] = written / max(1, change_bytes)
        L[f"{p}.merge_s"] = self.span_mean(f"{p}.merge", f"write:{p}")
        L[f"{p}.create_s"] = ctx.setup_parts[f"create_{p}_s"]
        L[f"{p}.jobs_per_commit"] = sum(o["spark"]["jobs"] for o in writes) / n_w
        for name in ("snapshot", "to_df", "changes"):
            L[f"{p}.{name}_s"] = self.span_mean(f"{p}.{name}", f"read:{p}")
        if p == "delta":
            changed = sum(s.inserted + s.updated + s.deleted for s in steps)
            L["delta.files_added"] = sum(r["files_added"] for r in c) / n_w
            L["delta.files_removed"] = sum(r["files_removed"] for r in c) / n_w
            # against files_removed: the share of the table a merge rewrites
            L["delta.files_live"] = len(self.mod_delta.DeltaTableReader(path).snapshot().files)
            copied = sum(r["rows_added"] for r in c) - sum(s.upserts for s in steps)
            L["delta.rows_copied_per_row_changed"] = copied / max(1, changed)
            L["delta.checkpoints"] = sum(r["checkpoint"] for r in c)
            L["delta.log_bytes"] = sum(r["meta_bytes"] for r in c) / n_w
            L["delta.log_files_replayed"] = _delta_replay_files(path)
        else:
            L["iceberg.data_files_added"] = sum(r["data_files"] for r in c) / n_w
            L["iceberg.delete_files_added"] = sum(r["delete_files"] for r in c) / n_w
            L["iceberg.eq_delete_rows"] = sum(r["eq_delete_rows"] for r in c) / n_w
            live = _iceberg_live(path)
            L["iceberg.delete_files_live"] = live["delete_files"]
            L["iceberg.manifests_live"] = live["manifests"]
            L["iceberg.metadata_bytes"] = sum(r["meta_bytes"] for r in c) / n_w

    def finish(self, driver_mb: float, jvm_mb: float) -> None:
        ctx, L = self.ctx, self.ctx.layer
        self.tracer.restore()
        ops = self.ops
        n = max(1, len(ops))
        L["session.start_s"] = ctx.setup_parts["session_start"]
        spans = self.tracer.spans
        self_sum = {k: 0.0 for k in SELF_LAYERS}
        coverage = []
        py4j_calls = 0
        for o in ops:
            sp = o["span"]
            br = op_breakdown(spans, sp)
            for k, v in br.items():
                key = k if k in self_sum else "unattributed"
                self_sum[key] += v
            wall = sp.end - sp.start
            if wall > 0:
                coverage.append(1.0 - br.get("unattributed", 0.0) / wall)
            py4j_calls += sum(s.py4j_n for s in spans if s.op == o["op"])
        for k, v in self_sum.items():
            L[f"self.{k}_s"] = v / n
        L["trace.coverage_min"] = min(coverage) if coverage else 0.0
        L["py4j.calls"] = py4j_calls / n
        L["py4j.wait_s"] = self_sum["py4j"] / n
        for key in ("jobs", "stages", "tasks", "job_busy_s", "task_run_s",
                    "shuffle_write_bytes", "input_bytes", "gc_s"):
            L[f"spark.{key}"] = sum(o["spark"][key] for o in ops) / n
        L["spark.tasks_failed"] = sum(o["spark"]["tasks_failed"] for o in ops)
        L["spark.jobs_unattributed"] = self.unattributed_jobs
        ctx.info["unattributed_job_groups"] = self.lost_groups
        L["proc.driver_rss_mb"] = driver_mb
        L["proc.jvm_rss_mb"] = jvm_mb
        # concurrency: thunk time over run_jobs wall
        rj = [s for s in spans if s.name == "concurrency.run_jobs" and s.op is not None]
        thunks = [s for s in spans if s.name == "concurrency.thunk" and s.op is not None]
        rj_wall = sum(s.end - s.start for s in rj)
        n_w = max(1, len(self._by_kind("write")))
        L["concurrency.run_jobs_calls"] = len(rj) / n_w
        L["concurrency.overlap_ratio"] = (
            sum(s.end - s.start for s in thunks) / rj_wall if rj_wall else 0.0
        )
        av = [s for s in spans if s.name.startswith("avrolite.") and s.op is not None]
        L["avrolite.calls"] = len(av) / n
        L["avrolite.read_s"] = sum(s.end - s.start for s in av if s.name.endswith("read_container")) / n
        L["avrolite.write_s"] = sum(s.end - s.start for s in av if s.name.endswith("write_container")) / n
        # Python workers run in the operator queries of registry_mix
        n_o = max(1, len(self._by_kind("op")))
        L["pyworker.bytes_sent"] = self.python.get("data sent to Python workers", 0.0) / n_o
        L["pyworker.bytes_received"] = self.python.get("data returned from Python workers", 0.0) / n_o
        L["pyworker.run_s"] = self.python.get("time to run Python workers", 0.0) / n_o
        # the end-to-end numbers of this traced run; against the untraced
        # medians they give the tracing overhead
        for name in ("write_p50_ms", "read_p50_ms", "ops_per_s"):
            L[f"trace.{name}"] = ctx.e2e.get(name) or 0.0
        for name in LAYER_DEFAULTS:
            L.setdefault(name, 0.0)
        os.makedirs(ctx.out_dir, exist_ok=True)
        out = os.path.join(ctx.out_dir, f"spans-{ctx.workload}-{ctx.seed}.json")
        self.tracer.dump(out)
        ctx.info["spans_file"] = os.path.relpath(out)
        ctx.info["spans"] = len(spans)


#: per-layer metrics that only some workloads produce; the rest report 0
LAYER_DEFAULTS = (
    "queries.build_s", "queries.collect_s", "catalyst.plan_s",
    "cdc.merge_s", "cdc.applied_ratio", "cdc.fresh_rows_ratio", "cdc.upsert_rows", "cdc.delete_keys",
    "targets.stat_max_s",
    "fs.delta_bytes_per_user_byte", "fs.iceberg_bytes_per_user_byte", "iceberg.jobs_per_commit",
    "delta.merge_s", "delta.create_s", "delta.jobs_per_commit", "delta.files_added",
    "delta.files_removed", "delta.files_live", "delta.rows_copied_per_row_changed", "delta.checkpoints",
    "delta.log_bytes", "delta.snapshot_s", "delta.to_df_s", "delta.changes_s",
    "delta.log_files_replayed",
    "iceberg.merge_s", "iceberg.create_s", "iceberg.data_files_added",
    "iceberg.delete_files_added", "iceberg.eq_delete_rows", "iceberg.snapshot_s",
    "iceberg.to_df_s", "iceberg.changes_s", "iceberg.delete_files_live",
    "iceberg.manifests_live", "iceberg.metadata_bytes",
    "fs.data_bytes_written", "fs.meta_bytes_written", "fs.files_written",
    "stream.batches", "stream.input_rows", "stream.trigger_ms", "stream.latest_offset_ms",
    "stream.get_batch_ms", "stream.query_planning_ms", "stream.add_batch_ms",
    "stream.wal_commit_ms", "stream.commit_offsets_ms", "stream.state_commit_ms",
    "stream.state_rows", "stream.state_mem_bytes",
)


# -- format facts read straight from the table's files ------------------------


def _delta_commit(path: str) -> dict:
    """Actions of the newest commit JSON, and whether it was checkpointed."""
    log = os.path.join(path, "_delta_log")
    commits = sorted(n for n in os.listdir(log) if n.endswith(".json") and n[:20].isdigit())
    latest = commits[-1]
    added = removed = rows = 0
    with open(os.path.join(log, latest)) as f:
        for line in f:
            a = json.loads(line)
            if "add" in a:
                added += 1
                st = a["add"].get("stats")
                if st:
                    rows += json.loads(st).get("numRecords", 0)
            elif "remove" in a:
                removed += 1
    version = int(latest[:20])
    checkpointed = any(n.startswith(f"{version:020d}.checkpoint") for n in os.listdir(log))
    return {"files_added": added, "files_removed": removed, "rows_added": rows,
            "checkpoint": int(checkpointed)}


def _delta_replay_files(path: str) -> int:
    """Log files a tip snapshot reads: the newest checkpoint's files plus
    every commit JSON after it."""
    log = os.path.join(path, "_delta_log")
    names = os.listdir(log)
    cps = [int(n[:20]) for n in names if ".checkpoint" in n and n[:20].isdigit()]
    base = max(cps) if cps else -1
    n_cp = sum(1 for n in names if base >= 0 and n.startswith(f"{base:020d}.checkpoint"))
    n_json = sum(1 for n in names if n.endswith(".json") and n[:20].isdigit() and int(n[:20]) > base)
    return n_cp + n_json


def _iceberg_manifests(path: str) -> tuple[list[dict], int]:
    """The current snapshot's manifest list, and the snapshot's id."""
    from aws_glue_data_lake_spark.avrolite import read_container

    meta_dir = os.path.join(path, "metadata")
    with open(os.path.join(meta_dir, "version-hint.text")) as f:
        v = int(f.read().strip())
    with open(os.path.join(meta_dir, f"v{v}.metadata.json")) as f:
        meta = json.load(f)
    cur = meta["current-snapshot-id"]
    snap = next(s for s in meta["snapshots"] if s["snapshot-id"] == cur)
    _schema, manifests, _meta = read_container(_local(snap["manifest-list"]))
    return manifests, cur


def _local(uri: str) -> str:
    return uri[len("file:"):] if uri.startswith("file:") else uri


def _iceberg_commit(path: str) -> dict:
    """Files and equality-delete rows the newest snapshot added."""
    from aws_glue_data_lake_spark.avrolite import read_container

    data = deletes = eq_rows = 0
    manifests, newest = _iceberg_manifests(path)
    for m in manifests:
        if m.get("added_snapshot_id") != newest:
            continue
        _s, entries, _m = read_container(_local(m["manifest_path"]))
        for e in entries:
            if e.get("status") != 1:  # ADDED
                continue
            df = e["data_file"]
            if df.get("content", 0) == 0:
                data += 1
            else:
                deletes += 1
                eq_rows += df.get("record_count", 0)
    return {"data_files": data, "delete_files": deletes, "eq_delete_rows": eq_rows}


def _iceberg_live(path: str) -> dict:
    manifests, _sid = _iceberg_manifests(path)
    return {
        "manifests": len(manifests),
        "delete_files": sum(
            (m.get("added_files_count") or m.get("added_data_files_count") or 0)
            + (m.get("existing_files_count") or m.get("existing_data_files_count") or 0)
            for m in manifests
            if m.get("content", 0) == 1
        ),
    }
