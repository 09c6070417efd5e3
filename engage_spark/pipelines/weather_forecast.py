"""EP2 — per-location weather forecasting (reference: weather_pred.py:125-418).

Series prep (station joins, group gates, interpolation, max-abs
normalization) as one DataFrame DAG, then the train→forecast loop —
which the reference runs SERIALLY per (country, state) despite
importing joblib (weather_pred.py:12,16-18) — as a single
groupBy().applyInPandas: every location trains in parallel across
executor cores.

The forecasting model is a deterministic AR(7) behind the same output
contract as the reference's LSTM (SURVEY.md §7.3 M3: TF is absent from
this container and parity is schema+contract, not bitwise). The kernel
emits one long table with a `kind` discriminator; `run()` splits it
into the reference's three outputs (pred_actual / future_pred /
rsme_score, weather_pred.py:407-418).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from engage_spark.session import scoped_cache
from engage_spark.queries.kernels import ar_fit_forecast, interpolate_series

GROUP_KEYS = ["country", "state"]

N_TEST = 30         # weather_pred.py:245
N_FUTURE = 180      # weather_pred.py:247
MIN_ROWS = 730      # weather_pred.py:187 (365*2)


def prepare_series(
    weather: DataFrame, stations: DataFrame, countries: DataFrame,
    min_last_date: int,
) -> DataFrame:
    """Scan→pivot→join→mean→gate (weather_pred.py:141-194):
    per-(country,state,date) mean TAVG, keeping only groups with >= 730
    rows and fresh data. The gate is an agg + semi join (J8), not a
    Python loop.

    Pivot fidelity (weather_pred.py:157-159): the reference's
    `pd.pivot_table(values='value', index=['id','date'],
    columns='element')[['TAVG']]` has two consequences a naive
    element filter misses, both reproduced here:
      1. duplicate (id, date, element) rows are MEANED per station
         (pivot_table's default aggfunc) BEFORE the cross-station
         mean — a mean of means, not one flat mean;
      2. every (id, date) pair present for ANY element yields a row —
         TAVG is NaN when that station/day has only e.g. PRCP — and
         those NaN rows survive the location groupby (pandas mean →
         NaN row kept), COUNTING toward the >= 730-row gate.
    `avg(when(element='TAVG', value))` over a groupBy(id, date) gives
    exactly that: per-station daily mean, NULL when absent, one row
    per (id, date) pair."""
    w = (
        weather.select("id", "date", "element", "value")
        .withColumn("date", F.regexp_replace("date", "-", "").cast("int"))
        .groupBy("id", "date")
        .agg(
            F.avg(
                F.when(F.col("element") == "TAVG", F.col("value"))
            ).alias("TAVG")
        )
    )
    st = stations.select(
        "id",
        # CSV blanks arrive as NULL: coalesce before the ''→UNK rule
        F.when(F.coalesce(F.trim("state"), F.lit("")) == "", "UNK")
        .otherwise(F.trim("state")).alias("state"),
        F.substring("id", 1, 2).alias("code"),
    )
    c = countries.select("code", F.trim("name").alias("country"))
    series = (
        w.join(F.broadcast(st), on="id", how="left")
        .groupBy("code", "state", "date")
        .agg(F.avg("TAVG").alias("TAVG"))
        .join(F.broadcast(c), on="code", how="inner")
        .select("country", "state", "date", "TAVG")
    )
    gates = series.groupBy(*GROUP_KEYS).agg(
        F.count("*").alias("n"), F.max("date").alias("last_date")
    )
    qualifying = gates.filter(
        (F.col("n") >= MIN_ROWS) & (F.col("last_date") >= min_last_date)
    ).select(*GROUP_KEYS)
    return series.join(qualifying, on=GROUP_KEYS, how="left_semi")


def normalize_maxabs(df: DataFrame) -> DataFrame:
    """Per-group normalization (A8, weather_pred.py:231-233): one agg +
    broadcast-back join, divide. The reference's denominator is
    abs-of-max (`abs(temp_df2[f].max())`, :231), not max-of-abs —
    reproduced here; the declarative twin of the in-kernel scaling."""
    denom = df.groupBy(*GROUP_KEYS).agg(F.abs(F.max(F.col("TAVG"))).alias("maxabs"))
    return (
        df.join(denom, on=GROUP_KEYS)
        .withColumn(
            "TAVG_norm",
            F.when(F.col("maxabs") > 0, F.col("TAVG") / F.col("maxabs")).otherwise(
                F.lit(0.0)
            ),
        )
    )


_OUT_SCHEMA = T.StructType(
    [
        T.StructField("country", T.StringType()),
        T.StructField("state", T.StringType()),
        T.StructField("kind", T.StringType()),  # pred_actual|future_pred|rsme
        T.StructField("date", T.IntegerType()),
        T.StructField("date_idx", T.IntegerType()),
        T.StructField("TAVG_actual", T.DoubleType()),
        T.StructField("TAVG_pred", T.DoubleType()),
        T.StructField("TAVG_rmse", T.DoubleType()),
    ]
)


def _train_forecast_kernel(pdf: pd.DataFrame) -> pd.DataFrame:
    """Reference loop body (weather_pred.py:249-408) for ONE group:
    interpolate gaps, normalize, fit on train split, predict the last
    N_TEST rows, 180-step recursive future forecast, denormalize, RMSE."""
    pdf = pdf.sort_values("date")
    country, state = pdf["country"].iloc[0], pdf["state"].iloc[0]
    vals = interpolate_series(pdf["TAVG"]).to_numpy()
    # reference scale is abs-of-max, NOT max-of-abs
    # (weather_pred.py:231: `abs_max_value = abs(temp_df2[f].max())`)
    absmax = abs(vals.max()) if len(vals) else 0.0
    scale = absmax if absmax > 0 else 1.0
    norm = vals / scale

    train, test = norm[:-N_TEST], norm[-N_TEST:]
    order = 7
    # test predictions: recursive forecast from the end of train
    test_pred = ar_fit_forecast(train, order, N_TEST)
    rmse = float(np.sqrt(np.mean((test_pred - test) ** 2)))  # A12
    # future: refit on the full series, recurse 180 steps
    future_pred = ar_fit_forecast(norm, order, N_FUTURE)

    dates = pdf["date"].to_numpy()
    last_date = pd.to_datetime(str(dates[-1]), format="%Y%m%d")
    future_dates = [
        int((last_date + pd.Timedelta(days=i + 1)).strftime("%Y%m%d"))
        for i in range(N_FUTURE)
    ]
    rows = []
    for i in range(N_TEST):
        rows.append((country, state, "pred_actual", int(dates[-N_TEST + i]), -1,
                     float(test[i] * scale), float(test_pred[i] * scale), None))
    for i in range(N_FUTURE):
        rows.append((country, state, "future_pred", future_dates[i], i,
                     None, float(future_pred[i] * scale), None))
    rows.append((country, state, "rsme", int(dates[-1]), -1, None, None, rmse))
    return pd.DataFrame(
        rows,
        columns=["country", "state", "kind", "date", "date_idx",
                 "TAVG_actual", "TAVG_pred", "TAVG_rmse"],
    )


def train_and_forecast(series: DataFrame) -> DataFrame:
    """The whole per-location modeling stage as one applyInPandas —
    the reference's serial loop, parallel across the cluster."""
    return series.groupBy(*GROUP_KEYS).applyInPandas(
        _train_forecast_kernel, _OUT_SCHEMA
    )


def run(
    spark: SparkSession,
    weather: DataFrame,
    stations: DataFrame,
    countries: DataFrame,
    min_last_date: int = 20200401,
    plot_dir: str | None = None,
) -> dict[str, DataFrame]:
    """EP2 end-to-end → {'pred_actual', 'future_pred', 'rsme_score'}
    matching the reference's three output tables
    (output/weather_output/*.csv headers, FIXTURES.md §9).

    `plot_dir` renders the reference's per-state actual-vs-prediction
    charts (weather_pred.py:342-347, one file per (country, state))
    via the S6 sink — deterministic SVG, matplotlib-free."""
    series = prepare_series(weather, stations, countries, min_last_date)
    out = scoped_cache(train_and_forecast(series))
    pred_actual = out.filter(F.col("kind") == "pred_actual").select(
        "TAVG_actual", "TAVG_pred", "state", "date", "country"
    )
    future_pred = out.filter(F.col("kind") == "future_pred").select(
        "TAVG_pred", "state", "date", "country", "date_idx"
    )
    rsme_score = out.filter(F.col("kind") == "rsme").select(
        F.col("TAVG_rmse"), "country", "state"
    )
    if plot_dir is not None:
        from engage_spark.plotting import plot_series_sink

        plot_series_sink(
            pred_actual.select(
                F.concat_ws("_", "country", "state").alias("grp"),
                F.col("date").cast("long").alias("x"),
                F.col("TAVG_actual").alias("actual"),
                F.col("TAVG_pred").alias("prediction"),
            ),
            plot_dir,
            x_col="x",
            y_cols=["actual", "prediction"],
            group_col="grp",
            title="Prediction/Actual of TAVG",
        )
    return {
        "pred_actual": pred_actual,
        "future_pred": future_pred,
        "rsme_score": rsme_score,
    }
