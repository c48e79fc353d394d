"""Pieces every workload shares: the session, percentiles, the JVM status
store reader, process memory and the host calibration probes."""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import time

#: Heap for the one driver JVM. The engine's own default (16g) is sized
#: for a dedicated 128 GiB host; the benchmark shares a small one.
DRIVER_MEMORY = "3g"


def cpus() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 4)


def start_session(work: str):
    """The engine session on ``local[$SPARK_GRAFT_CPUS]``, with every
    scratch directory inside ``work``; returns it after one trivial job."""
    from aws_glue_data_lake_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    spark = get_spark(
        "perfbench",
        cpus=cpus(),
        extra_conf={
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.local.dir": tmp,
            # no hsperfdata file in the host's /tmp
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then the driver JVM, and wait until it has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def median(values) -> float | None:
    return statistics.median(values) if values else None


def ms(seconds: float | None) -> float | None:
    return None if seconds is None else seconds * 1e3


def tail_percentile(values, q: float) -> float | None:
    """The ``q`` quantile (0.5 < q < 1), or None when fewer than ten
    samples lie beyond it: a tail that thin repeats by luck only."""
    n = len(values)
    if round(n * (1 - q), 9) < 10:
        return None
    s = sorted(values)
    pos = q * (n - 1)
    lo = int(pos)
    hi = min(lo + 1, n - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


# -- process memory ------------------------------------------------------


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def jvm_pid() -> int | None:
    """The driver JVM: the java child of this process."""
    me = os.getpid()
    for tid in os.listdir(f"/proc/{me}/task"):
        try:
            with open(f"/proc/{me}/task/{tid}/children") as f:
                kids = [int(p) for p in f.read().split()]
        except OSError:
            continue
        for pid in kids:
            try:
                with open(f"/proc/{pid}/comm") as f:
                    if f.read().strip() == "java":
                        return pid
            except OSError:
                continue
    return None


def peak_rss_mb() -> tuple[float, float]:
    """Peak resident memory (VmHWM) of this process and of its JVM, in MB."""
    jp = jvm_pid()
    driver = _status_kb(os.getpid(), "VmHWM") / 1024
    jvm = _status_kb(jp, "VmHWM") / 1024 if jp else 0.0
    return driver, jvm


def process_age_s() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


# -- JVM status store ------------------------------------------------------


class StatusStore:
    """Jobs and stages from the driver's status store, read as JSON in one
    py4j call each. The engine session retains only the last 100 jobs and
    stages, so callers read it after every op."""

    def __init__(self, spark):
        sc = spark.sparkContext
        jvm = sc._jvm
        self._store = sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_mod = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper.registerModule(getattr(scala_mod, "MODULE$"))
        self._no_quantiles = sc._gateway.new_array(jvm.double, 0)
        self.seen_jobs: set[int] = set()
        self.seen_execs: set[int] = set()

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def new_jobs(self) -> list[dict]:
        jobs = [j for j in self._json(self._store.jobsList(None)) if j["jobId"] not in self.seen_jobs]
        self.seen_jobs.update(j["jobId"] for j in jobs)
        return jobs

    def stages(self) -> dict[int, dict]:
        rows = self._json(self._store.stageList(None, False, False, self._no_quantiles, None))
        return {(s["stageId"]): s for s in rows}

    def new_python_metrics(self) -> dict[str, float]:
        """Python-worker SQL metrics summed over executions not seen yet."""
        out: dict[str, float] = {}
        for e in self._json(self._sql.executionsList()):
            eid = e["executionId"]
            if eid in self.seen_execs:
                continue
            names = {m["accumulatorId"]: m["name"] for m in e["metrics"] if "Python workers" in m["name"]}
            if not names:
                self.seen_execs.add(eid)
                continue
            values = self._json(self._sql.executionMetrics(eid))
            if not values and e.get("completionTime") is None:
                continue  # still running; read it next time
            self.seen_execs.add(eid)
            for acc, name in names.items():
                v = values.get(str(acc))
                if v is not None:
                    out[name] = out.get(name, 0.0) + parse_metric(v)
        return out


_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
          "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "ns": 1e-9}


def parse_metric(text: str) -> float:
    """The total of a rendered SQL metric: a bare count, or the first value
    of a ``total (min, med, max ...)`` block in bytes or seconds."""
    line = text.strip().splitlines()[-1] if "total" in text else text.strip()
    parts = line.split()
    try:
        value = float(parts[0].replace(",", ""))
    except ValueError:
        return 0.0
    if len(parts) > 1 and parts[1] in _UNITS:
        value *= _UNITS[parts[1]]
    return value


def summarize_jobs(jobs: list[dict], stages: dict[int, dict]) -> dict[str, float]:
    """Counts and busy times over a set of finished jobs."""
    out = {
        "jobs": len(jobs), "stages": 0, "tasks": 0, "tasks_failed": 0,
        "job_busy_s": 0.0, "task_run_s": 0.0, "gc_s": 0.0,
        "shuffle_write_bytes": 0.0, "input_bytes": 0.0,
    }
    intervals = []
    for j in jobs:
        if j.get("submissionTime") and j.get("completionTime"):
            intervals.append((j["submissionTime"] / 1e3, j["completionTime"] / 1e3))
        for sid in j["stageIds"]:
            s = stages.get(sid)
            if s is None or s.get("status") == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += s["numCompleteTasks"]
            out["tasks_failed"] += s["numFailedTasks"]
            out["task_run_s"] += s["executorRunTime"] / 1e3
            out["gc_s"] += s["jvmGcTime"] / 1e3
            out["shuffle_write_bytes"] += s["shuffleWriteBytes"]
            out["input_bytes"] += s["inputBytes"]
    if intervals:
        from perfbench.trace import union_length

        out["job_busy_s"] = union_length(intervals, min(a for a, _ in intervals), max(b for _, b in intervals))
    return out


# -- host context ----------------------------------------------------------


def calibrate(spark, work: str, seed: int) -> dict:
    """bench.py's two machine-speed probes, recorded beside every run. The
    scan probe reads the two lineitem columns it aggregates, at bench scale
    (sf0.1, 600,000 rows)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 0xCA1])
    n = 600_000
    lineitem_path = os.path.join(work, "calib_lineitem.parquet")
    pq.write_table(
        pa.table(
            {
                "l_extendedprice": np.round(rng.uniform(900.0, 105_000.0, n), 2),
                "l_discount": rng.integers(0, 11, n) / 100.0,
            }
        ),
        lineitem_path,
    )
    t0 = time.perf_counter()
    spark.range(200_000_000).selectExpr("sum(id * 2)").collect()
    calib_cpu = time.perf_counter() - t0
    t0 = time.perf_counter()
    spark.read.parquet(lineitem_path).selectExpr(
        "sum(l_extendedprice * (1 - l_discount))", "count(*)"
    ).collect()
    calib_scan = time.perf_counter() - t0
    return {
        "calib_cpu_s": round(calib_cpu, 4),
        "calib_scan_s": round(calib_scan, 4),
        "nproc": os.cpu_count(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
    }
