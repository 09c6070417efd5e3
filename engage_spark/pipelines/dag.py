"""Pipeline orchestration DAG (north star: "PySpark + Airflow").

The reference chains its three scripts by hand (run stage 2, copy
future_pred.csv, run stage 1, run stage 3 — SURVEY.md §0 data flow).
Here the dependency graph is declared once:

    weather_forecast ──▶ covid_transform ──▶ simulator

and can execute two ways:
  - `build_airflow_dag()` returns a real Airflow DAG (PythonOperator
    per stage) when apache-airflow is importable — the production
    scheduler path;
  - `run_local()` is a dependency-ordered in-process runner with the
    same task functions — used by tests and this container (Airflow
    isn't installed here).

Stages exchange data through parquet directories under `work_dir`
(the Spark-native replacement for the reference's CSV handoffs), so
any scheduler that can order three callables can drive the pipeline.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import SparkSession

from engage_spark.io import read_csv, write_parquet
from engage_spark.session import cache_scope


@dataclass
class Task:
    name: str
    fn: Callable[[SparkSession, str], None]
    upstream: tuple[str, ...] = field(default_factory=tuple)


def _task_weather_forecast(spark: SparkSession, work_dir: str) -> None:
    from engage_spark.pipelines import weather_forecast

    with cache_scope():
        out = weather_forecast.run(
            spark,
            weather=read_csv(spark, f"{work_dir}/in/weather.csv"),
            stations=read_csv(spark, f"{work_dir}/in/ghcnd_stations.csv"),
            countries=read_csv(spark, f"{work_dir}/in/ghcnd_countries.csv"),
        )
        for name, df in out.items():
            write_parquet(df, f"{work_dir}/weather_output/{name}")


def _task_covid_transform(spark: SparkSession, work_dir: str) -> None:
    from engage_spark.pipelines import covid_transform

    ds = covid_transform.run(
        spark,
        jhu_confirmed=read_csv(spark, f"{work_dir}/in/jhu_confirmed.csv"),
        jhu_recovered=read_csv(spark, f"{work_dir}/in/jhu_recovered.csv"),
        jhu_death=read_csv(spark, f"{work_dir}/in/jhu_death.csv"),
        location_match=read_csv(spark, f"{work_dir}/in/location_match.csv"),
        us_daily=read_csv(spark, f"{work_dir}/in/daily_covid_usstates.csv"),
        county_pop=read_csv(spark, f"{work_dir}/in/county_pop.csv"),
        jhu_countries=read_csv(spark, f"{work_dir}/in/jhu_countries.csv"),
        weather=read_csv(spark, f"{work_dir}/in/weather.csv"),
        stations=read_csv(spark, f"{work_dir}/in/ghcnd_stations.csv"),
        countries=read_csv(spark, f"{work_dir}/in/ghcnd_countries.csv"),
        future_pred=spark.read.parquet(f"{work_dir}/weather_output/future_pred"),
    )
    write_parquet(ds, f"{work_dir}/dataset_full")


def _task_simulator(spark: SparkSession, work_dir: str) -> None:
    from pyspark.sql import functions as F

    from engage_spark.pipelines import simulator

    ds = spark.read.parquet(f"{work_dir}/dataset_full").withColumn(
        "date", F.col("date").cast("int")
    )
    with cache_scope():
        out = simulator.run(spark, ds)
        for name, df in out.items():
            write_parquet(df, f"{work_dir}/simulation_output/{name}")


TASKS: dict[str, Task] = {
    "weather_forecast": Task("weather_forecast", _task_weather_forecast),
    "covid_transform": Task(
        "covid_transform", _task_covid_transform, upstream=("weather_forecast",)
    ),
    "simulator": Task("simulator", _task_simulator, upstream=("covid_transform",)),
}


def topological_order(tasks: dict[str, Task]) -> list[str]:
    order, seen = [], set()

    def visit(name: str, stack: tuple[str, ...] = ()) -> None:
        if name in seen:
            return
        if name in stack:
            raise ValueError(f"cycle through {name}")
        for up in tasks[name].upstream:
            visit(up, (*stack, name))
        seen.add(name)
        order.append(name)

    for name in tasks:
        visit(name)
    return order


def run_local(spark: SparkSession, work_dir: str,
              tasks: dict[str, Task] = TASKS) -> list[str]:
    """Dependency-ordered in-process execution; returns the order run."""
    order = topological_order(tasks)
    for name in order:
        tasks[name].fn(spark, work_dir)
    return order


def build_airflow_dag(work_dir: str, dag_id: str = "engage_spark_pipeline"):
    """Airflow DAG with the same task functions (requires apache-airflow;
    each task gets its own SparkSession, the scheduler handles retries
    and the dependency edges declared in TASKS)."""
    try:
        from airflow import DAG
        from airflow.operators.python import PythonOperator
    except ImportError as e:  # pragma: no cover - airflow not in container
        raise NotImplementedError(
            "apache-airflow is not installed in this environment; "
            "use run_local() or install airflow for scheduled runs"
        ) from e

    import pendulum  # airflow dependency

    def make_callable(task: Task):
        def _run(**_):
            spark = SparkSession.builder.appName(f"engage-{task.name}").getOrCreate()
            task.fn(spark, work_dir)

        return _run

    dag = DAG(dag_id, start_date=pendulum.yesterday(), schedule=None)
    ops = {
        name: PythonOperator(task_id=name, python_callable=make_callable(t), dag=dag)
        for name, t in TASKS.items()
    }
    for name, t in TASKS.items():
        for up in t.upstream:
            ops[up] >> ops[name]
    return dag