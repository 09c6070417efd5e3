"""`pipeline` workload: one analytics round on the compute path, with no
storage commits. First the reference's three-stage DAG
(weather_forecast -> covid_transform -> simulator) runs through
`engage_spark.pipelines.dag.TASKS` in topological order on seeded,
reference-shaped CSV inputs, each task one op; then one pass of the
read-only query mix of wl_queries runs over seeded TPC-H-shaped tables,
each query one op.

Outside the timed ops, the DAG's outputs are read back with DuckDB and
compared with facts computed from the generated inputs alone, and every
query result is hash-compared with its DuckDB oracle (wl_queries).
"""

from __future__ import annotations

import os
import time

import duckdb

import datagen
import harness
from harness import Op
from wl_queries import Queries

# (countries, US states); each location has ~880 days of GHCN weather
SIZES = {"full": (16, 4), "tiny": (4, 1)}
OUTPUTS = ("weather_output/pred_actual", "weather_output/future_pred",
           "weather_output/rsme_score", "dataset_full", "simulation_output/recover_coefs",
           "simulation_output/simulation", "simulation_output/simulation_corrected",
           "simulation_output/scenario_compare")


class Pipeline:
    name = "pipeline"

    def __init__(self, spark, work: str, seed: int, size: str):
        self.spark, self.work, self.seed = spark, work, seed
        self.size = SIZES[size]
        self.work_dir = None
        self.inputs = None
        self.queries = Queries(spark, os.path.join(work, "tables"), seed, size)

    def setup(self, rep: int) -> None:
        """Generate and write the CSV inputs and the tables. No DAG runs
        here: the first measured DAG run is the first of its session, as
        when a scheduler launches the pipeline as a fresh application."""
        self.inputs = datagen.covid_inputs(self.seed, *self.size)
        self.work_dir = os.path.join(self.work, f"rep{rep}")
        datagen.write_covid_inputs(self.inputs, self.work_dir)
        self.queries.setup(rep)

    def run_dag(self, tracer, ops: list[Op]) -> bool:
        """Run the DAG's tasks in order, one op each; False when a task
        raised (its downstream tasks do not run)."""
        from engage_spark.pipelines.dag import TASKS, topological_order

        for name in topological_order(TASKS):
            t0, ok, group = time.time(), True, None
            try:
                if tracer is None:
                    TASKS[name].fn(self.spark, self.work_dir)
                else:
                    with tracer.op(f"pipelines.{name}") as group:
                        TASKS[name].fn(self.spark, self.work_dir)
            except Exception:  # noqa: BLE001 - counted as a failed op
                ok = False
            ops.append(Op(f"pipelines.{name}", "task", t0, time.time(), ok, group))
            if not ok:
                return False
        return True

    def measure(self, seconds: float, tracer, phase: int) -> dict:
        """Whole rounds until `seconds` have passed. A round is one DAG
        run, the check of its outputs, then one pass of the query mix.
        wall_s is the median round's DAG wall time plus its pass."""
        ops, walls, checks, verified = [], [], [], {}
        t_end = time.perf_counter() + seconds
        while not walls or time.perf_counter() < t_end:
            t0 = time.perf_counter()
            dag_ok = self.run_dag(tracer, ops)
            dag_s = time.perf_counter() - t0
            checks.append(self.verify() if dag_ok else (["the DAG did not finish"], None))
            q = self.queries.measure(tracer, phase)
            ops += q["ops"]
            walls.append(dag_s + q["wall_s"])
            for name, v in q["verified"].items():
                if not v[0] or name not in verified:
                    verified[name] = v
        return {"ops": ops, "wall_s": harness.p50(walls), "checks": checks,
                "verified": verified, "per_query": q["per_query"]}

    def verify(self) -> tuple[list[str], str]:
        """(problems, fingerprint) of the DAG outputs on disk."""
        con = duckdb.connect()
        bad = []
        try:
            for o in OUTPUTS:
                name = o.rsplit("/", 1)[-1]
                con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                            f"read_parquet('{os.path.join(self.work_dir, o)}/*.parquet')")
            exp = self.inputs["expected"]
            con.register("expected", exp)
            q = con.execute
            dup, null_t = q("SELECT count(*) - count(DISTINCT (country_region, province_state, "
                            "date)), count(*) - count(TAVG) FROM dataset_full").fetchone()
            if dup or null_t:
                bad.append(f"dataset_full: {dup} duplicate keys, {null_t} null TAVG")
            locs = q("SELECT DISTINCT country_region, province_state FROM dataset_full "
                     "ORDER BY ALL").fetchall()
            want = sorted(map(tuple, exp[["country_region", "province_state"]].values))
            if locs != want:
                bad.append(f"dataset_full locations {locs[:5]}... != expected {want[:5]}...")
            fut = q("SELECT count(*), min(n), max(n), min(lo), max(hi), min(nd), max(nd) FROM "
                    "(SELECT country, state, count(*) n, min(date_idx) lo, max(date_idx) hi, "
                    "count(DISTINCT date_idx) nd FROM future_pred GROUP BY ALL)").fetchone()
            if fut != (len(want), 180, 180, 0, 179, 180, 180):
                bad.append(f"future_pred per-location shape {fut}")
            conf = q("SELECT count(*), count(d.confirmed), "
                     "sum(CASE WHEN d.confirmed = e.confirmed THEN 1 ELSE 0 END) "
                     "FROM expected e LEFT JOIN dataset_full d USING "
                     "(country_region, province_state, date)").fetchone()
            if conf != (len(want), len(want), len(want)):
                bad.append(f"last-day confirmed (rows, present, equal) = {conf}")
            same = q("SELECT (SELECT count(*) FROM simulation), "
                     "(SELECT count(*) FROM scenario_compare), (SELECT count(*) FROM "
                     "(SELECT state, dateval FROM simulation EXCEPT ALL "
                     "SELECT state, dateval FROM scenario_compare))").fetchone()
            if same[0] != same[1] or same[2]:
                bad.append(f"scenario_compare rows differ from simulation {same}")
            # covid counts exist up to the last JHU day and nowhere after
            # (the forecast rows), every other value is present
            last_day = int(exp["date"].max())
            gaps = q("SELECT count(*) FILTER (WHERE (confirmed IS NULL) != (date > ?)) "
                     "FROM dataset_full", [last_day]).fetchone()[0]
            if gaps:
                bad.append(f"dataset_full: {gaps} rows with misplaced null counts")
            for o in OUTPUTS:
                name = o.rsplit("/", 1)[-1]
                for col, typ in q(f"SELECT column_name, column_type FROM "
                                  f"(DESCRIBE {name})").fetchall():
                    if typ in ("DOUBLE", "FLOAT") and q(
                            f'SELECT count(*) FILTER (WHERE isnan("{col}") OR isinf("{col}")) '
                            f"FROM {name}").fetchone()[0]:
                        bad.append(f"{name}.{col}: non-finite values")
            fp = harness.canon_hash(q(
                "SELECT country_region, province_state, date, confirmed, recovered, death, "
                "population, date_idx FROM dataset_full").df())
        finally:
            con.close()
        return bad, fp

    def check(self, res: dict) -> list[str]:
        bad = [f"{o.name} raised" for o in res["ops"] if not o.ok]
        for problems, _ in res["checks"]:
            bad += problems
        bad += [f"{n}: output differs from its DuckDB oracle ({h})"
                for n, (ok, h) in res["verified"].items() if not ok]
        return bad

    def failed_checks(self, res: dict) -> int:
        return (sum(1 for p, _ in res["checks"] if p)
                + sum(1 for ok, _ in res["verified"].values() if not ok))

    def attempted_checks(self, res: dict) -> int:
        return len(res["checks"]) + len(res["verified"])

    def fingerprint(self, res: dict) -> list:
        return [sorted({fp for _, fp in res["checks"] if fp}),
                {n: h for n, (_, h) in res["verified"].items()}]

    def extra_metrics(self, res: dict) -> dict:
        return {}

    def layers(self, res: dict) -> dict:
        out = self.queries.layers(res)
        for t in ("weather_forecast", "covid_transform", "simulator"):
            w = [o.wall for o in res["ops"] if o.name == f"pipelines.{t}"]
            out[f"pipelines.{t}.wall_s"] = (harness.p50(w) if w else 0.0, "s")
        return out
