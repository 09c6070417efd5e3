"""EP3 — causal simulation (reference: covid_simulator.py:334-651).

dataset_full → SQL feature engineering → mixed-effects coefficient fit
→ per-state SIR simulation → bias correction → before/after scenario
compare.

The reference's one genuine SQL query (pandasql→SQLite,
covid_simulator.py:359-372) runs here through spark.sql with the
dialect deltas handled inline: `ifnull`→Spark supports it natively,
`julianday(a) > julianday(b)`→date comparison, `||` concat→concat.
The CASE WHEN temperature bands keep the reference's unit quirk (raw
tenths-of-°C TAVG compared against °C thresholds after dividing only
in the projection, covid_simulator.py:361-367) — parity over polish.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from engage_spark.session import scoped_cache
from engage_spark.queries.kernels import sir_simulate

def _win():
    """Per-state date ordering (lazy: WindowSpec construction needs a
    live SparkContext, so module import must not build it)."""
    return Window.partitionBy("state").orderBy("dateval")


def causal_features(spark: SparkSession, dataset_full: DataFrame,
                    gov_date: int = 20200320) -> DataFrame:
    """The reference SQL (covid_simulator.py:359-372) on spark.sql +
    dropDuplicates (A10). Band predicates are verbatim — including the
    reference's raw-tenths vs /10 unit mix, which makes is_cold and
    is_warm OVERLAP for raw TAVG in [20, 200) — and gov_action is the
    strict julianday comparison against 2020-03-20 (:369)."""
    dataset_full.createOrReplaceTempView("data")
    df = spark.sql(
        f"""
        SELECT date AS dateval,
               confirmed, recovered, death, population,
               TAVG / 10 AS TAVG,
               concat(country_region, '-', province_state) AS state,
               CASE WHEN TAVG <= 0 THEN 1 ELSE 0 END AS is_freezing,
               CASE WHEN TAVG > 0  AND TAVG / 10 < 20 THEN 1 ELSE 0 END AS is_cold,
               CASE WHEN TAVG >= 20 AND TAVG / 10 < 35 THEN 1 ELSE 0 END AS is_warm,
               CASE WHEN TAVG >= 35 THEN 1 ELSE 0 END AS is_hot,
               CASE WHEN TAVG >= 20 THEN 1 ELSE 0 END AS temp_th,
               CASE WHEN date > {gov_date} THEN 1 ELSE 0 END AS gov_action,
               ifnull(date_idx, -1) AS date_idx
        FROM data
        """
    )
    return df.dropDuplicates()


def holdout_flag(df: DataFrame, cutoff: int) -> DataFrame:
    """M7: rows at/after the cutoff are holdout (covid_simulator.py:377)."""
    return df.withColumn(
        "holdout", F.when(F.col("dateval") >= cutoff, 1).otherwise(0)
    )


def trim_and_lag(df: DataFrame) -> DataFrame:
    """Per-state: fillna(0) (:388), trim the leading zero-confirmed
    prefix (W4, :392 — `idxmax` keeps everything when the series is
    all-zero), then lag / diff features whose FIRST row stays at the
    0.0 initialization (covid_simulator.py:411-438: the t>0 guard never
    writes row 0)."""
    df = df.na.fill(0)
    wcum = _win().rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wall = Window.partitionBy("state")
    df = (
        df.withColumn(
            "seen", F.max(F.when(F.col("confirmed") != 0, 1).otherwise(0)).over(wcum)
        )
        .withColumn("any_nonzero", F.max(F.col("seen")).over(wall))
        .filter((F.col("seen") == 1) | (F.col("any_nonzero") == 0))
        .drop("seen", "any_nonzero")
    )
    df = df.withColumn("removed", F.col("recovered") + F.col("death"))  # P5
    for c in ["confirmed", "recovered", "death", "removed"]:
        lag = F.lag(c, 1).over(_win())
        df = df.withColumn(
            f"lag_{c}", F.coalesce(lag, F.lit(0.0))
        ).withColumn(
            f"d_{c}",
            F.when(lag.isNull(), 0.0).otherwise(F.col(c) - lag),  # row 0 → 0.0
        )
    return df


def estimate_r0(df: DataFrame) -> DataFrame:
    """M5 (covid_simulator.py:393-446), reference formula verbatim:
    over the first 30 rows with confirmed > 0 (:393-394), sum the
    POSITIVE day-over-day increases of confirmed (zz1), recovered (zz2)
    and death (zz3) separately, with the first row contributing nothing
    (:396-409, s>0 guard); rho = (zz1+zz2+zz3)/(zz2+zz3) when zz2+zz3>0
    else 0 (:411-413); zero rhos fill with the global mean of positive
    ones (:445-446)."""
    w = Window.partitionBy("state").orderBy("dateval")
    d = (
        df.filter(F.col("confirmed") > 0)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 30)
    )
    # within-window diffs: the s>0 guard means diffs are taken against
    # the previous row INSIDE the 30-row window, not the pre-window lag
    for c, zz in [("confirmed", "zz1"), ("recovered", "zz2"), ("death", "zz3")]:
        dv = F.col(c) - F.lag(c, 1).over(w)
        d = d.withColumn(zz, F.when(dv > 0, dv).otherwise(0.0))
    per = d.groupBy("state").agg(
        F.sum("zz1").alias("zz1"),
        F.sum("zz2").alias("zz2"),
        F.sum("zz3").alias("zz3"),
    )
    raw = per.select(
        "state",
        F.when(
            F.col("zz2") + F.col("zz3") > 0,
            (F.col("zz1") + F.col("zz2") + F.col("zz3"))
            / (F.col("zz2") + F.col("zz3")),
        )
        .otherwise(0.0)
        .alias("r0_raw"),
    )
    fill = raw.filter(F.col("r0_raw") > 0).agg(F.avg("r0_raw").alias("fill"))
    return raw.crossJoin(F.broadcast(fill)).select(
        "state",
        F.when(F.col("r0_raw") > 0, F.col("r0_raw"))
        .otherwise(F.col("fill"))
        .alias("r0"),
    )


def fit_recover_coefs(train: DataFrame) -> DataFrame:
    """M2: endog d_removed ~ Intercept + gov_action + TAVG + lag_confirmed
    with random intercept+slope by state (covid_simulator.py:456-502).
    Fixed effects from distributed normal equations; per-state ridge
    random effects in a kernel. Output schema = recover_coefs.csv."""
    feats = ["gov_action", "TAVG", "lag_confirmed"]
    d = train.select("state", F.col("d_removed").alias("y"),
                     *[F.col(c).cast("double") for c in feats])
    # distributed X'X / X'y moments (4x4 incl. intercept)
    cols = ["__one"] + feats
    d = d.withColumn("__one", F.lit(1.0))
    aggs = []
    for i, a in enumerate(cols):
        for b in cols[i:]:
            aggs.append(F.sum(F.col(a) * F.col(b)).alias(f"xx_{a}_{b}"))
        aggs.append(F.sum(F.col(a) * F.col("y")).alias(f"xy_{a}"))
    m = d.agg(*aggs).collect()[0].asDict()
    k = len(cols)
    xtx = np.zeros((k, k))
    xty = np.zeros(k)
    for i, a in enumerate(cols):
        for j in range(i, k):
            xtx[i, j] = xtx[j, i] = m[f"xx_{a}_{cols[j]}"]
        xty[i] = m[f"xy_{a}"]
    fe = np.linalg.solve(xtx + 1e-9 * np.eye(k), xty)
    fe_int, fe_gov, fe_tavg, fe_lag = (float(v) for v in fe)

    schema = T.StructType(
        [
            T.StructField("state", T.StringType()),
            T.StructField("coef_name", T.StringType()),
            T.StructField("coef_value", T.DoubleType()),
            T.StructField("re_lag_confirmed", T.DoubleType()),
            T.StructField("fe_Intercept", T.DoubleType()),
            T.StructField("Intercept", T.DoubleType()),
            T.StructField("lag_confirmed", T.DoubleType()),
            T.StructField("gov_action", T.DoubleType()),
            T.StructField("TAVG", T.DoubleType()),
        ]
    )
    lam = 10.0

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        x = pdf["lag_confirmed"].to_numpy("float64")
        resid = pdf["y"].to_numpy("float64") - (
            fe_int
            + fe_gov * pdf["gov_action"].to_numpy("float64")
            + fe_tavg * pdf["TAVG"].to_numpy("float64")
            + fe_lag * x
        )
        X = np.column_stack([np.ones_like(x), x])
        re = np.linalg.solve(X.T @ X + lam * np.eye(2), X.T @ resid)
        return pd.DataFrame(
            [
                {
                    "state": pdf["state"].iloc[0],
                    "coef_name": "Intercept",
                    "coef_value": float(re[0]),
                    "re_lag_confirmed": float(re[1]),
                    "fe_Intercept": fe_int,
                    "Intercept": fe_int + float(re[0]),
                    "lag_confirmed": fe_lag + float(re[1]),
                    "gov_action": fe_gov,
                    "TAVG": fe_tavg,
                }
            ]
        )

    return d.groupBy("state").applyInPandas(kernel, schema)


_SIM_SCHEMA = T.StructType(
    [
        T.StructField("state", T.StringType()),
        T.StructField("dateval", T.IntegerType()),
        T.StructField("pred_confirmed", T.DoubleType()),
        T.StructField("pred_removed", T.DoubleType()),
    ]
)


def simulate(df: DataFrame, coefs: DataFrame, r0: DataFrame,
             zero_gov_after: int | None = None) -> DataFrame:
    """M4/M8: per-state SIR recurrence driven by the fitted recovery
    coefficients (broadcast-joined, J6 — replacing the reference's
    per-state filter loop covid_simulator.py:264-284). Optionally zero
    the gov_action signal after a date (scenario M8)."""
    gamma_base = 0.1
    data = df.join(F.broadcast(coefs.select(
        "state", "Intercept",
        F.col("lag_confirmed").alias("c_lag"),
        F.col("gov_action").alias("c_gov"),
        F.col("TAVG").alias("c_tavg"))), on="state")
    data = data.join(F.broadcast(r0), on="state")
    if zero_gov_after is not None:
        data = data.withColumn(
            "gov_action",
            F.when(F.col("dateval") >= zero_gov_after, 0).otherwise(
                F.col("gov_action")
            ),
        )

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("dateval")
        pop = float(pdf["population"].dropna().iloc[0]) if pdf["population"].notna().any() else 1e6
        i0 = max(float(pdf["confirmed"].iloc[0]), 1.0)
        r0v = float(pdf["r0"].iloc[0])
        # exogenous recovery-rate signal from the mixed-effects fit:
        # gamma_t = clip(base + coef·covariates scaled into rate space)
        z = (
            pdf["Intercept"].iloc[0]
            + pdf["c_gov"].iloc[0] * pdf["gov_action"].to_numpy("float64")
            + pdf["c_tavg"].iloc[0] * pdf["TAVG"].to_numpy("float64")
        )
        denom = max(pop, 1.0)
        gamma_t = np.clip(gamma_base + z / denom, 0.01, 1.0)
        beta = float(np.clip(r0v, 0.1, 10.0)) * gamma_base
        n = len(pdf)
        s, i, r = denom - i0, i0, 0.0
        pred_c = np.empty(n)
        pred_r = np.empty(n)
        for t in range(n):
            pred_c[t] = i + r
            pred_r[t] = r
            new_inf = beta * s * i / denom
            new_rec = float(gamma_t[t]) * i
            s, i, r = s - new_inf, i + new_inf - new_rec, r + new_rec
        return pd.DataFrame(
            {
                "state": pdf["state"].to_numpy(),
                "dateval": pdf["dateval"].to_numpy(),
                "pred_confirmed": pred_c,
                "pred_removed": pred_r,
            }
        )

    return data.groupBy("state").applyInPandas(kernel, _SIM_SCHEMA)


def bias_correct(sim: DataFrame, actual: DataFrame) -> DataFrame:
    """M6 (covid_simulator.py:526-536): mean residual per state,
    reference branches verbatim — bias>0 → pred - bias; bias<0 →
    pred + bias. Both branches therefore SUBTRACT |bias| (the negative
    branch moves predictions further below actuals, not toward them —
    a reference quirk preserved for parity)."""
    j = sim.join(
        actual.select("state", "dateval", "confirmed"), on=["state", "dateval"]
    )
    b = j.groupBy("state").agg(
        F.avg(F.col("pred_confirmed") - F.col("confirmed")).alias("bias")
    )
    return (
        sim.join(b, on="state")
        .withColumn(
            "pred_confirmed_adj",
            F.when(F.col("bias") > 0, F.col("pred_confirmed") - F.col("bias"))
            .when(F.col("bias") < 0, F.col("pred_confirmed") + F.col("bias"))
            .otherwise(F.col("pred_confirmed")),
        )
        .drop("bias")
    )


def scenario_compare(before: DataFrame, after: DataFrame) -> DataFrame:
    """M8/J5: self-join of the two scenario runs with suffixes + diff
    (covid_simulator.py:622-628)."""
    b = before.select(
        "state", "dateval",
        F.col("pred_confirmed").alias("pred_confirmed_before"),
    )
    a = after.select(
        "state", "dateval",
        F.col("pred_confirmed").alias("pred_confirmed_after"),
    )
    return b.join(a, on=["state", "dateval"]).withColumn(
        "gov_effect",
        F.col("pred_confirmed_after") - F.col("pred_confirmed_before"),
    )


def run(spark: SparkSession, dataset_full: DataFrame,
        holdout_cutoff: int = 20200501, gov_date: int = 20200323,
        plot_dir: str | None = None
        ) -> dict[str, DataFrame]:
    """EP3 end-to-end → coefficient table, holdout simulation, bias-
    corrected predictions, and the before/after scenario compare.

    `plot_dir` renders the reference's per-state prediction charts
    (covid_simulator.py:298-319: one file per state, confirmed/removed
    curves with legend and 'Prediction at <state>' title) via the S6
    sink — deterministic SVG, matplotlib-free."""
    feats = causal_features(spark, dataset_full, gov_date)
    feats = holdout_flag(feats, holdout_cutoff)
    # cache: feats feeds four downstream consumers (coef fit, r0, two
    # scenario runs). Beyond avoiding recompute, this pins ONE set of
    # float values — re-executed aggregations can legally reorder FP
    # sums, and the SIR recurrence amplifies ulp-level input noise into
    # visible before/after divergence that isn't scenario effect.
    feats = scoped_cache(trim_and_lag(feats))
    train = feats.filter((F.col("holdout") == 0) & F.col("d_removed").isNotNull())

    coefs = scoped_cache(fit_recover_coefs(train))
    r0 = scoped_cache(estimate_r0(feats))
    coefs.count(), r0.count()  # force materialization before the twin runs

    sim_before = simulate(feats, coefs, r0)
    sim_after = simulate(feats, coefs, r0, zero_gov_after=gov_date)
    corrected = bias_correct(sim_before, feats.filter(F.col("holdout") == 0))
    compare = scenario_compare(sim_before, sim_after)
    if plot_dir is not None:
        from engage_spark.plotting import plot_series_sink

        plot_series_sink(
            sim_before.select(
                "state",
                F.col("dateval").cast("long").alias("x"),
                F.col("pred_confirmed").alias("Confirmed"),
                F.col("pred_removed").alias("removed"),
            ),
            plot_dir,
            x_col="x",
            y_cols=["Confirmed", "removed"],
            group_col="state",
            title="Prediction at",
        )
    return {
        "recover_coefs": coefs,
        "simulation": sim_before,
        "simulation_corrected": corrected,
        "scenario_compare": compare,
    }
