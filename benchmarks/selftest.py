"""Tiny-size self-test of the benchmark (a few minutes on 4 cores).

    python3 benchmarks/selftest.py

1. In one session, runs each workload's checks against deliberately
   wrong expectations (a wrong oracle, a perturbed storage model, a
   perturbed pipeline fact) and fails unless every check catches it;
   checks that the benchmark's hash is scripts/driver_sim.py's and that
   the exact-rounding oracles round a half-cent tie as Spark does.
2. Runs every workload through run.py at `--size tiny`, untraced and
   traced, and checks that each run is correct and prints exactly the
   metric names BENCHMARK.json declares.

Exits non-zero on the first failure.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import duckdb  # noqa: E402

import harness  # noqa: E402
import run as bench  # noqa: E402
import wl_queries  # noqa: E402


def fail(msg: str) -> None:
    print(f"SELFTEST FAILED: {msg}", file=sys.stderr)
    sys.exit(1)


def check_runs() -> None:
    with open(os.path.join(harness.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = {0: [m["name"] for m in spec["end_to_end"]],
             1: [m["name"] for m in spec["per_layer"]]}
    for wl in bench.WORKLOADS:
        for trace in (0, 1):
            p = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", wl, "--seed", "3",
                 "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
                cwd=harness.ROOT, capture_output=True, text=True, timeout=600)
            if p.returncode != 0:
                fail(f"{wl} trace={trace} exited {p.returncode}: {p.stderr[-2000:]}")
            res = json.loads(p.stdout.strip().splitlines()[-1])
            if not res["correct"] or res["failed"]:
                fail(f"{wl} trace={trace} incorrect: {p.stderr[-2000:]}")
            if sorted(res["metrics"]) != sorted(names[trace]):
                fail(f"{wl} trace={trace} metric names differ from BENCHMARK.json: "
                     f"{sorted(set(res['metrics']) ^ set(names[trace]))}")
            if trace and res["metrics"]["spark.unattributed_jobs"]["value"] != 0:
                fail(f"{wl}: jobs ran without a benchmark job group")
            print(f"ok: {wl} trace={trace}", flush=True)


def check_mutations() -> None:
    work = os.path.join(harness.ROOT, ".bench_work", f"selftest-{os.getpid()}")
    bench.isolate(work)
    spark = harness.start_spark(work, False)
    try:
        # the query mix: a wrong oracle must not hash-match
        p = bench.make_workload("pipeline", spark, os.path.join(work, "p"), 3, "tiny")
        p.setup(0)
        q = p.queries
        good = q.measure(None, 0)["verified"]
        if not all(ok for ok, _ in good.values()):
            fail(f"queries verify failed on correct oracles: {good}")
        name = "x1_exact_dedup"
        good_oracle = q.oracles[name]
        q.oracles[name] = (
            f"SELECT * REPLACE (n_copies + 1 AS n_copies) FROM ({good_oracle})")
        if q.measure(None, 0)["verified"][name][0]:
            fail("query mix: a perturbed oracle still matched")
        q.oracles[name] = good_oracle
        print("ok: the query mix catches a wrong expected hash", flush=True)

        # the column-wise hash is the one of scripts/driver_sim.py
        from driver_sim import canon_hash

        for n in wl_queries.MIX:
            op, got = q._once(n, None)
            if not op.ok or harness.canon_hash(got) != canon_hash(got):
                fail(f"{n}: the benchmark's hash differs from driver_sim's")
        print("ok: the query hashes are driver_sim's", flush=True)

        # the exact-rounding oracles: a half-cent revenue sum rounds half
        # up, as Spark rounds it, where DuckDB's round() rounds it down
        tie = 11062691784850  # revenue 1106269178.4850 in 1e-4 units
        sql = wl_queries.FIXED_POINT_REVENUE.sub(
            r"((\1 + 50) // 100 / 100.0)",
            "SELECT round(sum(round(x)::BIGINT)::BIGINT / 10000.0, 2) FROM t")
        con = duckdb.connect()
        con.execute(f"CREATE TABLE t AS SELECT {tie}::DOUBLE AS x")
        got = con.execute(sql).fetchone()[0]
        con.close()
        if got != 1106269178.49:
            fail(f"exact rounding of a half-cent tie gave {got}")
        print("ok: the oracles round a half-cent tie as Spark does", flush=True)

        # maintenance: a perturbed model row must fail the next read
        m = bench.make_workload("maintenance", spark, os.path.join(work, "m"), 3, "tiny")
        m.setup(0)
        ds = m.datasets[0]
        ops, reads = m.stream(ds, None, 1)
        if not all(r["ok"] for r in reads) or not all(o.ok for o in ops):
            fail(f"maintenance failed on a correct model: {reads}")
        ds["con"].execute("UPDATE m SET o_totalprice = o_totalprice + 0.01 "
                          "WHERE o_orderkey = (SELECT min(o_orderkey) FROM m)")
        ops, reads = m.stream(ds, None, 1)
        snap = [r for r in reads if r["op"] == "io.read_with_deletes"]
        if not snap or snap[0]["ok"]:
            fail("maintenance: a perturbed model still matched the snapshot read")
        print("ok: maintenance catches a wrong expected hash", flush=True)

        # pipeline: a perturbed input fact must fail the output check
        res = p.measure(0, None, 0)
        if p.check(res):
            fail(f"pipeline failed on correct facts: {p.check(res)}")
        p.inputs["expected"].loc[0, "confirmed"] += 1
        if not p.verify()[0]:
            fail("pipeline: a perturbed last-day count still matched")
        print("ok: pipeline catches a wrong expected value", flush=True)
    finally:
        harness.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    check_mutations()
    check_runs()
    print("selftest passed")
