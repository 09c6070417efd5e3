"""Shared benchmark machinery: the Spark session, op timing, summary
statistics, output hashing, and the traced run's instrumentation.

Tracing wraps the program only from the outside: py4j's client
``send_command`` (driver-to-JVM crossings), the commit store through the
public ``set_commit_store`` seam, one Spark job group per op, and the
Spark event log. An untraced run installs none of these.
"""

from __future__ import annotations

import contextlib
import glob
import hashlib
import json
import math
import os
import statistics
import sys
import time
from dataclasses import dataclass, field

import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
GROUP_PREFIX = "bench:"
# the program under test, and scripts/ for driver_sim.py
sys.path[:0] = [ROOT, os.path.join(ROOT, "scripts")]


def cpus() -> int:
    return len(os.sched_getaffinity(0))


# ---------------------------------------------------------------------------
# session


def start_spark(work: str, trace: bool):
    """local[nproc] session with every scratch path inside `work`."""
    from pyspark.sql import SparkSession

    n = str(cpus())
    b = (
        SparkSession.builder.master(f"local[{n}]")
        .appName("engage-spark-benchmark")
        .config("spark.sql.shuffle.partitions", n)
        .config("spark.driver.memory", "8g")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.catalogImplementation", "in-memory")
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}")
    )
    if trace:
        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", os.path.join(work, "eventlog"))
             .config("spark.eventLog.compress", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the context, the py4j gateway and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - last resort, then wait again
            proc.kill()
            proc.wait(timeout=30)


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def peak_rss_mb() -> float:
    """Peak resident set of the driver JVM plus this Python driver."""
    jvm, py = vm_hwm_mb(jvm_pid()), vm_hwm_mb(os.getpid())
    print(f"peak rss: jvm {jvm:.0f} MB, python {py:.0f} MB", file=sys.stderr)
    return jvm + py


# ---------------------------------------------------------------------------
# statistics


def p50(xs) -> float:
    return float(statistics.median(xs))


def _betacf(a: float, b: float, x: float) -> float:
    """Continued fraction of the incomplete beta function (Lentz)."""
    tiny = 1e-300
    c, d = 1.0, 1.0 - (a + b) * x / (a + 1.0)
    d = 1.0 / (d if abs(d) > tiny else tiny)
    h = d
    for m in range(1, 300):
        for num in (m * (b - m) * x / ((a + 2 * m - 1) * (a + 2 * m)),
                    -(a + m) * (a + b + m) * x / ((a + 2 * m) * (a + 2 * m + 1))):
            d = 1.0 + num * d
            d = 1.0 / (d if abs(d) > tiny else tiny)
            c = 1.0 + num / c
            c = c if abs(c) > tiny else tiny
            h *= d * c
        if abs(d * c - 1.0) < 1e-14:
            break
    return h


def betainc(a: float, b: float, x: float) -> float:
    """The regularized incomplete beta function I_x(a, b)."""
    if x <= 0.0:
        return 0.0
    if x >= 1.0:
        return 1.0
    front = math.exp(math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
                     + a * math.log(x) + b * math.log1p(-x))
    if x < (a + 1.0) / (a + b + 2.0):
        return front * _betacf(a, b, x) / a
    return 1.0 - front * _betacf(b, a, 1.0 - x) / b


def hd_quantile(xs, p: float) -> float:
    """The Harrell-Davis estimate of the p-quantile: a Beta-weighted mean
    of all order statistics. On a few dozen op latencies of mixed kinds the
    plain sample quantile jumps between neighbouring ops from run to run;
    this estimate moves smoothly with them."""
    s = sorted(xs)
    n = len(s)
    if n == 1:
        return float(s[0])
    a, b = p * (n + 1), (1.0 - p) * (n + 1)
    cdf = [betainc(a, b, i / n) for i in range(n + 1)]
    return float(sum((cdf[i + 1] - cdf[i]) * v for i, v in enumerate(s)))


def tail(xs) -> tuple[float, float, int]:
    """(value, percentile, n): the Harrell-Davis estimate of the highest
    percentile that still has at least 10 samples above it. Below 21
    samples that percentile would lie under the median, so the maximum is
    reported as percentile 100."""
    s = sorted(xs)
    n = len(s)
    if n < 21:
        return float(s[-1]), 100.0, n
    p = (n - 11) / (n - 1)
    return hd_quantile(s, p), round(100.0 * p, 2), n


def dir_bytes(path: str) -> int:
    """Bytes of every file under `path`."""
    return sum(os.path.getsize(os.path.join(dp, fn))
               for dp, _, fns in os.walk(path) for fn in fns)


def data_files(path: str) -> dict[str, int]:
    """{relative path: bytes} of parquet data files outside sidecars."""
    out = {}
    for dp, dns, fns in os.walk(path):
        dns[:] = [d for d in dns if not d.startswith(("_", "."))]
        for fn in fns:
            if fn.endswith(".parquet") and not fn.startswith(("_", ".")):
                p = os.path.join(dp, fn)
                out[os.path.relpath(p, path)] = os.path.getsize(p)
    return out


# ---------------------------------------------------------------------------
# output hashing


def canon_hash(pdf: pd.DataFrame) -> str:
    """The hash of scripts/driver_sim.canon_hash (columns sorted by name,
    floats rounded to 6 dp, rows sorted, sha256), with the row keys built
    column-wise: the row-wise original costs seconds per run on the
    100k-row results. The self-test checks that both agree."""
    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        if pd.api.types.is_float_dtype(pdf[c]):
            pdf[c] = pdf[c].round(6)
        elif pdf[c].dtype == object:
            pdf[c] = pdf[c].map(lambda x: round(x, 6) if isinstance(x, float) else x)
    s = pdf.astype(str)
    if not len(s):
        return hashlib.sha256(b"").hexdigest()
    key = s[s.columns[0]]
    for c in s.columns[1:]:
        key = key + "|" + s[c]
    key = key.sort_values(kind="mergesort")
    return hashlib.sha256("\n".join(key).encode()).hexdigest()


# ---------------------------------------------------------------------------
# op records


@dataclass
class Op:
    name: str       # e.g. "io.upsert_dataset" or a query name
    kind: str       # "read" | "write" | "query" | "task" | "maintain"
    start: float
    end: float
    ok: bool
    group: str | None = None
    extra: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


def end_to_end(ops: list[Op], wall_s: float, setup_s: float) -> dict:
    lat = [o.wall for o in ops if o.ok] or [o.wall for o in ops]
    t, pct, n = tail(lat)
    busy = sum(o.wall for o in ops)
    print(f"op_tail_s is p{pct} of n={n} op samples", file=sys.stderr)
    return {
        "setup_s": (setup_s, "s"),
        "wall_s": (wall_s, "s"),
        "op_p50_s": (hd_quantile(lat, 0.5), "s"),
        "op_tail_s": (t, "s"),
        "ops_per_s": (len(ops) / busy, "1/s"),
    }


def result_line(correct: bool, attempted: int, failed: int, metrics: dict) -> str:
    return json.dumps({
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    })


# ---------------------------------------------------------------------------
# tracing


class Tracer:
    """Spans and boundary counters for the traced run. Spans are kept in
    memory (name, start, end, parent) and written out by `dump`."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.py4j_calls = 0
        self.py4j_busy = 0.0
        self.cs_calls = 0
        self.cs_busy = 0.0
        self.cs_conflicts = 0
        self.groups: dict[str, dict] = {}  # group -> per-op counters
        self._seq = 0
        self._restore: list = []

    # -- spans ---------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    # -- per-op job group + boundary counters ----------------------------
    @contextlib.contextmanager
    def op(self, name: str):
        self._seq += 1
        group = f"{GROUP_PREFIX}{self._seq}:{name}"
        sc = self.spark.sparkContext
        sc.setJobGroup(group, name)
        c0 = (self.py4j_calls, self.py4j_busy, self.cs_calls, self.cs_busy, self.cs_conflicts)
        with self.span(name, group=group) as rec:
            self._counting = True
            try:
                yield group
            finally:
                self._counting = False
        c1 = (self.py4j_calls, self.py4j_busy, self.cs_calls, self.cs_busy, self.cs_conflicts)
        d = [b - a for a, b in zip(c0, c1)]
        self.groups[group] = {
            "name": name, "start": rec["start"], "end": rec["end"],
            "py4j_calls": d[0], "py4j_busy": d[1],
            "cs_calls": d[2], "cs_busy": d[3], "cs_conflicts": d[4],
        }
        rec["jobs"] = list(sc.statusTracker().getJobIdsForGroup(group))
        sc.setJobGroup(f"{GROUP_PREFIX}bench", "benchmark bookkeeping")

    _counting = False

    # -- wrappers --------------------------------------------------------
    def install(self) -> None:
        from py4j.clientserver import JavaClient

        from engage_spark import commitstore

        orig_send = JavaClient.send_command
        tracer = self

        def send_command(client, command, retry=True, binary=False):
            if not tracer._counting:
                return orig_send(client, command, retry, binary)
            t0 = time.perf_counter()
            try:
                return orig_send(client, command, retry, binary)
            finally:
                tracer.py4j_calls += 1
                tracer.py4j_busy += time.perf_counter() - t0

        JavaClient.send_command = send_command
        self._restore.append(lambda: setattr(JavaClient, "send_command", orig_send))

        inner = commitstore.get_commit_store()
        commitstore.set_commit_store(CountingStore(inner, self))
        self._restore.append(lambda: commitstore.set_commit_store(inner))
        self.spark.sparkContext.setJobGroup(f"{GROUP_PREFIX}bench", "benchmark bookkeeping")

    def uninstall(self) -> None:
        while self._restore:
            self._restore.pop()()

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f)


def pristine() -> bool:
    """True when neither py4j's client nor the commit store is wrapped."""
    from py4j.clientserver import JavaClient
    from py4j.java_gateway import GatewayClient

    from engage_spark import commitstore

    return (JavaClient.send_command is GatewayClient.send_command
            and not isinstance(commitstore.get_commit_store(), CountingStore))


class CountingStore:
    """Delegating commit store: counts calls, busy time and lost
    create/claim races, then forwards to the wrapped store."""

    def __init__(self, inner, tracer: Tracer):
        self._inner = inner
        self._t = tracer

    def _call(self, meth: str, *args):
        t0 = time.perf_counter()
        try:
            out = getattr(self._inner, meth)(*args)
        finally:
            self._t.cs_calls += 1
            self._t.cs_busy += time.perf_counter() - t0
        if meth in ("put_if_absent", "claim") and out is False:
            self._t.cs_conflicts += 1
        return out

    def put_if_absent(self, spark, path, payload):
        return self._call("put_if_absent", spark, path, payload)

    def read(self, spark, path):
        return self._call("read", spark, path)

    def delete(self, spark, path):
        return self._call("delete", spark, path)

    def claim(self, spark, path, scratch):
        return self._call("claim", spark, path, scratch)

    def move(self, spark, src, dst):
        return self._call("move", spark, src, dst)

    def replace_dir(self, spark, src, dst):
        return self._call("replace_dir", spark, src, dst)

    def delete_dir(self, spark, path):
        return self._call("delete_dir", spark, path)


# ---------------------------------------------------------------------------
# event log


PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"
SQL_EV = "org.apache.spark.sql.execution.ui."


def read_event_log(work: str) -> list[dict]:
    events = []
    for p in sorted(glob.glob(os.path.join(work, "eventlog", "**", "*"), recursive=True)):
        if not os.path.isfile(p):
            continue
        with open(p) as f:
            events.extend(json.loads(line) for line in f)
    return events


def _plan_accumulators(node: dict, acc: dict) -> None:
    """Label the SQL-metric accumulators of scan and Python-UDF nodes."""
    metrics = {m["name"]: m["accumulatorId"] for m in node.get("metrics", [])}
    if node.get("nodeName", "").startswith(("Scan", "FileScan", "BatchScan")):
        if "number of files read" in metrics:
            acc[metrics["number of files read"]] = "scan_files"
        if "number of output rows" in metrics:
            acc[metrics["number of output rows"]] = "scan_rows"
    if PY_SENT in metrics:
        acc[metrics[PY_SENT]] = "py_sent"
        acc[metrics.get(PY_RECV)] = "py_recv"
        acc[metrics.get("number of output rows")] = "py_rows"
    for child in node.get("children", []):
        _plan_accumulators(child, acc)


def _covered(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, t in sorted(intervals):
        if t <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, t
        else:
            cur_e = max(cur_e, t)
    return total + (cur_e - cur_s if cur_e is not None else 0.0)


def spark_layers(events: list[dict], groups: dict[str, dict]) -> dict:
    """Totals over the jobs of the given op groups: jobs, stages, tasks,
    executor time, GC, shuffle, spill, Python-UDF traffic and scan
    counts; the driver-build time (op wall with none of the op's jobs
    running); and the jobs that carried no benchmark job group."""
    job_group, job_span, stage_job, exec_group, acc = {}, {}, {}, {}, {}
    unattributed = 0
    for e in events:
        ev = e.get("Event", "")
        if ev == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            g = props.get("spark.jobGroup.id")
            if not (g or "").startswith(GROUP_PREFIX):
                unattributed += 1
            job_group[e["Job ID"]] = g
            job_span[e["Job ID"]] = [e["Submission Time"] / 1000.0, None]
            for s in e.get("Stage IDs", []):
                stage_job[s] = e["Job ID"]
            if "spark.sql.execution.id" in props:
                exec_group.setdefault(int(props["spark.sql.execution.id"]), g)
        elif ev == "SparkListenerJobEnd" and e["Job ID"] in job_span:
            job_span[e["Job ID"]][1] = e["Completion Time"] / 1000.0
        elif ev in (SQL_EV + "SparkListenerSQLExecutionStart",
                    SQL_EV + "SparkListenerSQLAdaptiveExecutionUpdate"):
            _plan_accumulators(e["sparkPlanInfo"], acc)
    keep = {j for j, g in job_group.items() if g in groups}
    out = dict.fromkeys(
        ["tasks", "executor_run_s", "executor_cpu_s", "gc_s", "shuffle_write_bytes",
         "spill_bytes", "py_sent", "py_recv", "py_rows", "scan_files", "scan_rows"], 0.0)
    stages = set()
    for e in events:
        ev = e.get("Event", "")
        if ev == SQL_EV + "SparkListenerDriverAccumUpdates":
            if exec_group.get(e["executionId"]) in groups:
                for aid, val in e["accumUpdates"]:
                    if acc.get(aid):
                        out[acc[aid]] += float(val)
            continue
        if ev != "SparkListenerTaskEnd" or stage_job.get(e.get("Stage ID")) not in keep:
            continue
        stages.add((e["Stage ID"], e.get("Stage Attempt ID", 0)))
        out["tasks"] += 1
        m = e.get("Task Metrics") or {}
        out["executor_run_s"] += m.get("Executor Run Time", 0) / 1000.0
        out["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        out["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
        out["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0)
        out["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        for a in (e.get("Task Info") or {}).get("Accumulables", []):
            kind = acc.get(a.get("ID"))
            if kind and a.get("Update") is not None:
                out[kind] += float(a["Update"])
    out["jobs"] = float(len(keep))
    out["stages"] = float(len(stages))
    out["driver_build_s"] = sum(
        max(0.0, (rec["end"] - rec["start"]) - _covered(
            (max(s, rec["start"]), min(t if t is not None else rec["end"], rec["end"]))
            for j, (s, t) in job_span.items() if job_group.get(j) == g))
        for g, rec in groups.items())
    out["unattributed_jobs"] = float(unattributed)
    return out


def layer_common(tracer: Tracer, events: list[dict]) -> dict:
    """The layer metrics every workload reports, each per measured op."""
    n = max(1, len(tracer.groups))
    sl = spark_layers(events, tracer.groups)
    g = tracer.groups.values()
    return {
        "commitstore.calls": (sum(x["cs_calls"] for x in g) / n, "count/op"),
        "commitstore.busy_s": (sum(x["cs_busy"] for x in g) / n, "s/op"),
        "commitstore.conflicts": (sum(x["cs_conflicts"] for x in g) / n, "count/op"),
        "py4j.calls": (sum(x["py4j_calls"] for x in g) / n, "count/op"),
        "py4j.busy_s": (sum(x["py4j_busy"] for x in g) / n, "s/op"),
        "driver.build_s": (sl["driver_build_s"] / n, "s/op"),
        "spark.jobs": (sl["jobs"] / n, "count/op"),
        "spark.stages": (sl["stages"] / n, "count/op"),
        "spark.tasks": (sl["tasks"] / n, "count/op"),
        "spark.unattributed_jobs": (sl["unattributed_jobs"], "count"),
        "spark.executor_run_s": (sl["executor_run_s"] / n, "s/op"),
        "spark.executor_cpu_s": (sl["executor_cpu_s"] / n, "s/op"),
        "spark.gc_s": (sl["gc_s"] / n, "s/op"),
        "spark.shuffle_write_bytes": (sl["shuffle_write_bytes"] / n, "B/op"),
        "spark.spill_bytes": (sl["spill_bytes"] / n, "B/op"),
        "python.bytes_sent": (sl["py_sent"] / n, "B/op"),
        "python.bytes_received": (sl["py_recv"] / n, "B/op"),
        "python.rows_received": (sl["py_rows"] / n, "count/op"),
        "scan.files_read": (sl["scan_files"] / n, "count/op"),
        "scan.rows_read": (sl["scan_rows"] / n, "count/op"),
    }
