"""Benchmark entry point.

    python3 perfbench/run.py --workload cdc --seed 1 --seconds 15 --trace 0

Workloads (see BENCHMARK.json): ``cdc`` and ``registry_mix``. One
process, one closed-loop client, on
``local[$SPARK_GRAFT_CPUS]``. Run from the root of a checkout of the
repository; everything the run writes goes under ``.perfbench_work/``
there and is removed at exit.

With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` the engine's modules are wrapped with spans and the
line carries the per-layer metrics instead. A readable report, the host
context and the sample counts go to stderr. The exit code is 1 when any
output was wrong, 2 when the engine cannot be imported.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.getcwd()
WORKLOADS = ("cdc", "registry_mix")


class Context:
    """State of one run, shared by the workload and the traced-run probe."""

    def __init__(self, args, work: str):
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.work = work
        self.spark = None
        self.tracer = None
        self.probe = None
        self.e2e: dict = {}
        self.layer: dict = {}
        self.info: dict = {}
        self.setup_parts: dict = {}
        self.failures: list[str] = []
        self.ops_done = 0
        self._t_first = self._t_last = None
        self._setup_s = None
        self._op = 0
        self.out_dir = os.path.join(ROOT, ".perfbench_out")

    def fail(self, msg: str) -> None:
        self.failures.append(msg)
        print(f"perfbench: FAIL {msg}", file=sys.stderr)

    def begin_timed(self) -> None:
        from perfbench import common

        self._setup_s = common.process_age_s()
        self._t_first = time.perf_counter()

    def end_timed(self) -> None:
        self._t_last = time.perf_counter()

    @property
    def wall_s(self) -> float:
        return self._t_last - self._t_first

    def setup_s(self) -> float:
        """Process start to the first timed op, with each set-up step made
        several times counted once, at its median."""
        extra = 0.0
        for name, reps in self.setup_parts.items():
            if name.endswith("_repeats"):
                extra += sum(reps) - self.setup_parts[name[: -len("_repeats")] + "_s"]
        return self._setup_s - extra

    def op_begin(self, kind: str) -> int:
        self._op += 1
        if self.probe:
            self.probe.op_begin(self._op, kind)
        return self._op

    def op_end(self, op: int, kind: str, dt: float) -> None:
        self.ops_done += 1
        if self.probe:
            self.probe.op_end(op, kind, dt)


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if args.seconds < 1 or args.seed < 0:
        print("perfbench: --seconds must be at least 1 and --seed at least 0", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    # every scratch file of Python, Spark and its workers stays in the checkout
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # the JVM that spark-submit starts first to build the driver command
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_NO_REORDER"] = "1"
    # Python workers import the engine too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, ROOT)
    try:
        import aws_glue_data_lake_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the engine from {ROOT}: {exc}", file=sys.stderr)
        return 2
    os.makedirs(tmp, exist_ok=True)
    try:
        return _run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work: str) -> int:
    from perfbench import common

    ctx = Context(args, work)
    t0 = time.perf_counter()
    ctx.spark = common.start_session(work)
    ctx.setup_parts["session_start"] = time.perf_counter() - t0
    try:
        counts = _measure(ctx)
    finally:
        common.stop_session(ctx.spark)

    spec = _spec()
    names = [m["name"] for m in spec["per_layer" if ctx.trace else "end_to_end"]]
    units = {m["name"]: m["unit"] for m in spec["per_layer"] + spec["end_to_end"]}
    values = ctx.layer if ctx.trace else ctx.e2e
    missing = [n for n in names if values.get(n) is None]
    if missing:
        ctx.fail(f"no value for {missing}")
    correct = not ctx.failures and counts["failed"] == 0
    report(ctx, values, names, units)
    line = {
        "correct": correct,
        "attempted": counts["attempted"],
        "failed": counts["failed"],
        "metrics": {
            n: {"value": float(values[n]), "unit": units[n]} for n in names if values.get(n) is not None
        },
    }
    print(json.dumps(line), flush=True)
    return 0 if correct else 1


def _measure(ctx) -> dict:
    """Runs the workload and fills the context's metrics; returns the op
    counts."""
    from perfbench import common

    if ctx.trace:
        from perfbench.layers import Probe

        ctx.probe = Probe(ctx)
        ctx.tracer = ctx.probe.tracer
    if ctx.workload == "registry_mix":
        from perfbench import mix

        counts = mix.run(ctx)
    else:
        from perfbench import cdc

        counts = cdc.run(ctx)

    driver_mb, jvm_mb = common.peak_rss_mb()
    ctx.e2e["setup_s"] = ctx.setup_s()
    ctx.e2e["ops_per_s"] = ctx.ops_done / ctx.wall_s if ctx.wall_s > 0 else None
    ctx.info["peak_rss_mb"] = driver_mb + jvm_mb
    ctx.info["wall_s"] = ctx.wall_s
    ctx.info["fail_ratio"] = counts["failed"] / max(1, counts["attempted"])
    ctx.info["session_start_s"] = ctx.setup_parts["session_start"]
    if ctx.probe:
        ctx.probe.finish(driver_mb, jvm_mb)
    ctx.info["host"] = common.calibrate(ctx.spark, ctx.work, ctx.seed)
    return counts


def _spec() -> dict:
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "BENCHMARK.json")) as f:
        return json.load(f)


def report(ctx, values: dict, names: list[str], units: dict) -> None:
    err = sys.stderr
    print(f"perfbench: {ctx.workload} seed={ctx.seed} seconds={ctx.seconds} trace={int(ctx.trace)}", file=err)
    for n in names:
        v = values.get(n)
        print(f"  {n:34s} {'-' if v is None else f'{v:.6g}'} {units[n]}", file=err)
    for k, v in sorted(ctx.info.items()):
        print(f"  [info] {k}: {v}", file=err)
    for k, v in sorted(ctx.setup_parts.items()):
        print(f"  [setup] {k}: {v}", file=err)


if __name__ == "__main__":
    raise SystemExit(main())
