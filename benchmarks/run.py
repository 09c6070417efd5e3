"""Benchmark command: one closed-loop, single-client workload per call.

    python3 benchmarks/run.py --workload {pipeline,maintenance}
        --seed N --seconds S --trace {0,1} [--size {full,tiny}]

Runs from the root of a checkout whose `engage_spark/` is the program
under test. After the session starts, the workload's set-up (input
generation from the seed and program-side preparation) runs SETUP_REPS
times; `setup_s` is the session start plus the median repetition. Then
the workload runs for at least `--seconds` (whole rounds or cycles), its
outputs are checked against references that do not use the engine, and
the last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"}.

--trace 0 reports the end-to-end metrics. --trace 1 measures the same
phase with the outside-in tracing of harness.Tracer installed and
reports its per-layer metrics; then an untraced and a traced phase give
the tracing overhead (traced minus untraced wall_s), and the run checks
that traced and untraced outputs hash alike. The spans of the first
phase are written to .bench_out/.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import harness  # noqa: E402

SETUP_REPS = 3
WORKLOADS = ("pipeline", "maintenance")


def per_layer() -> list[tuple[str, str]]:
    """(name, unit) of every per-layer metric BENCHMARK.json declares; a
    layer a workload does not touch reads 0."""
    with open(os.path.join(harness.ROOT, "BENCHMARK.json")) as f:
        return [(m["name"], m["unit"]) for m in json.load(f)["per_layer"]]


def make_workload(name: str, spark, work: str, seed: int, size: str):
    if name == "pipeline":
        from wl_pipeline import Pipeline as W
    else:
        from wl_maintenance import Maintenance as W
    return W(spark, work, seed, size)


def isolate(work: str) -> None:
    """Point every scratch location of this process, the JVM and the
    Python workers inside `work`."""
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    tempfile.tempdir = None


def phase(spark, name: str) -> None:
    """Tag the jobs of a benchmark phase so none runs without a group."""
    spark.sparkContext.setJobGroup(f"{harness.GROUP_PREFIX}{name}", name)


def outcome(wl, res: dict) -> tuple[int, int, list[str]]:
    """(attempted, failed, problems) of one measured phase: ops plus
    output checks that are not tied to an op."""
    failed = sum(1 for o in res["ops"] if not o.ok) + wl.failed_checks(res)
    return len(res["ops"]) + wl.attempted_checks(res), failed, wl.check(res)


def run(args) -> int:
    root = harness.ROOT
    if not os.path.isfile(os.path.join(root, "engage_spark", "__init__.py")):
        print(f"no engage_spark package under {root}: run from a checkout of the "
              "program", file=sys.stderr)
        return 2
    work = os.path.join(root, ".bench_work", f"{args.workload}-s{args.seed}-{os.getpid()}")
    isolate(work)
    try:
        ok, attempted, failed, metrics = measure(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(harness.result_line(ok, attempted, failed, metrics))
    return 0


def measure(args, work: str) -> tuple[bool, int, int, dict]:
    trace = bool(args.trace)
    t0 = time.perf_counter()
    spark = harness.start_spark(work, trace)
    session_s = time.perf_counter() - t0
    try:
        wl = make_workload(args.workload, spark, os.path.join(work, "data"), args.seed,
                           args.size)
        phase(spark, "setup")
        reps = []
        for i in range(SETUP_REPS):
            t = time.perf_counter()
            wl.setup(i)
            reps.append(time.perf_counter() - t)
        setup_s = session_s + harness.p50(reps)
        print(f"set-up: session {session_s:.2f}s, reps {[round(r, 2) for r in reps]}",
              file=sys.stderr)

        if not harness.pristine():
            raise RuntimeError("py4j or the commit store was wrapped before the run")
        # the measured phase; traced with --trace 1, so the per-layer
        # figures come from the same regime as the end-to-end ones
        tracer = harness.Tracer(spark) if trace else None
        res = traced(spark, wl, args.seconds, tracer, 0)
        attempted, failed, problems = outcome(wl, res)

        if trace:
            # tracing overhead: an untraced phase, then a traced one, both
            # warm; their outputs must hash alike
            if not harness.pristine():
                raise RuntimeError("tracing wrappers were not removed")
            base = traced(spark, wl, args.seconds, None, 2)
            again = traced(spark, wl, args.seconds, harness.Tracer(spark), 1)
            for r in (base, again):
                a, f, p = outcome(wl, r)
                attempted, failed, problems = attempted + a, failed + f, problems + p
            fp_u = wl.fingerprint(base)
            for r in (res, again):
                fp_t = wl.fingerprint(r)
                n = min(len(fp_u), len(fp_t))
                if fp_u[:n] != fp_t[:n]:
                    problems.append("traced outputs differ from untraced outputs")
            extra = wl.extra_metrics(res)
            extra["driver.peak_rss_mb"] = (harness.peak_rss_mb(), "MB")
    finally:
        harness.stop_spark(spark)
    for p in problems:
        print(f"CHECK FAILED: {p}", file=sys.stderr)

    if not trace:
        return (not problems, attempted, failed,
                harness.end_to_end(res["ops"], res["wall_s"], setup_s))
    events = harness.read_event_log(work)
    got = harness.layer_common(tracer, events)
    reads = {o.group: tracer.groups[o.group] for o in res["ops"]
             if o.kind == "read" and o.group in tracer.groups}
    if reads:  # scans per read op where the workload has reads
        sl = harness.spark_layers(events, reads)
        got["scan.files_read"] = (sl["scan_files"] / len(reads), "count/op")
        got["scan.rows_read"] = (sl["scan_rows"] / len(reads), "count/op")
    got.update(wl.layers(res))
    got.update(extra)
    got["ops.fail_ratio"] = (failed / max(1, attempted), "ratio")
    got["trace.overhead_s"] = (again["wall_s"] - base["wall_s"], "s")
    declared = per_layer()
    unknown = set(got) - {n for n, _ in declared}
    if unknown:
        raise RuntimeError(f"per-layer metrics missing from BENCHMARK.json: {sorted(unknown)}")
    metrics = {n: (got[n][0] if n in got else 0.0, u) for n, u in declared}
    tracer.dump(os.path.join(harness.ROOT, ".bench_out",
                             f"trace-{args.workload}-s{args.seed}.json"),
                {"workload": args.workload, "seed": args.seed,
                 "metrics": {k: v for k, (v, _) in metrics.items()}})
    return not problems, attempted, failed, metrics


def traced(spark, wl, seconds: float, tracer, phase_no: int) -> dict:
    """One measured phase, with `tracer` installed unless it is None."""
    phase(spark, f"phase{phase_no}")
    t = time.perf_counter()
    if tracer is not None:
        tracer.install()
    try:
        res = wl.measure(seconds, tracer, phase_no)
    finally:
        if tracer is not None:
            tracer.uninstall()
    print(f"phase {phase_no}: {time.perf_counter() - t:.2f}s, {len(res['ops'])} ops",
          file=sys.stderr)
    return res


def parse(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    return ap.parse_args(argv)


if __name__ == "__main__":
    sys.exit(run(parse()))
