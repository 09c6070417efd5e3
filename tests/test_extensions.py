"""Error bounds for the sketch aggregates (rows-only at the driver)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from engage_spark.io import table
from engage_spark.registry import load_all


def test_approx_sketches_within_error_bounds(spark, sf_dir):
    approx = load_all()["ext_approx_sketches"].fn(spark, sf_dir).toPandas()
    exact = (
        table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("users"),
            F.expr("percentile(value, 0.5)").alias("p50"),
        )
        .toPandas()
    )
    m = approx.merge(exact, on="event_type")
    assert len(m) > 0
    # HLL++ at rsd=0.02: allow 3 sigma
    rel_err = (m.approx_users - m.users).abs() / m.users
    assert (rel_err < 0.06).all(), rel_err.max()
    # percentile_approx at accuracy 10000 on this data: near-exact
    assert ((m.approx_p50 - m.p50).abs() / m.p50.abs().clip(lower=1) < 0.05).all()

def test_tfidf_terms_oracle_matches_tokenizer_on_whitespace_edges(spark):
    """The x4_tfidf_terms DuckDB oracle must reproduce MLlib Tokenizer's
    Java split("\\s") semantics exactly — interior empty tokens kept,
    trailing ones dropped, all-separator strings -> 0 terms but the
    empty string -> 1 (one '' token) — on inputs nastier than the
    driver testdata (which has no whitespace runs)."""
    import duckdb
    import pandas as pd
    from pyspark.ml.feature import StopWordsRemover, Tokenizer

    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4, 5, 6, 7],
            "text": [
                "a  b ",                 # interior + trailing runs
                "",                      # empty -> one '' token
                "   ",                   # all-separator -> zero tokens
                "the and of",            # pure stopwords
                "The\tQuick\nbrown  fox ",  # mixed separators + case
                "don't stop believing",  # apostrophe stopword
                "x\x0bform\x0cfeed",     # \x0B \f are Java \s too
            ],
        }
    )
    docs = spark.createDataFrame(pdf)
    toks = Tokenizer(inputCol="text", outputCol="words").transform(docs)
    filtered = StopWordsRemover(inputCol="words", outputCol="terms").transform(toks)
    got = (
        filtered.select("doc_id", F.size("terms").cast("long").alias("n_terms"))
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    con = duckdb.connect()
    con.register("documents", pdf)
    want = (
        con.execute(load_all()["x4_tfidf_terms"].oracle)
        .df()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    assert got["n_terms"].tolist() == want["n_terms"].tolist(), (
        got["n_terms"].tolist(),
        want["n_terms"].tolist(),
    )


@pytest.mark.parametrize(
    "name", ["x5_hybrid_rrf", "x5b_hybrid_ivfpq", "s17_bucketed_join"]
)
def test_helper_thread_jobs_carry_the_callers_job_group(spark, sf_dir, name):
    """The retriever builds and bucketed writes run on pool threads;
    every job they launch carries the caller's job group (Spark's group
    is a thread-local property the threads must inherit)."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    group = f"thread-groups-{name}"
    sc.setJobGroup(group, group)
    try:
        load_all()[name].fn(spark, sf_dir).collect()
    finally:
        sc.setJobGroup("thread-groups-idle", "idle")
    assert tracker.getJobIdsForGroup(group)
    assert set(tracker.getJobIdsForGroup(None)) == ungrouped
