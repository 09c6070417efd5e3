"""SparkSession factory with scale-appropriate defaults.

Local testing runs on ``local[N]``; the same config block is what we'd
ship to a 1000-executor cluster — AQE handles runtime re-planning
(adaptive shuffle-partition coalescing, skew-join splitting, broadcast
demotion), Arrow accelerates every pandas-kernel boundary.
"""

from __future__ import annotations

import os
from contextlib import contextmanager
from contextvars import ContextVar

from pyspark.sql import SparkSession


def get_spark(app_name: str = "engage_spark", master: str | None = None) -> SparkSession:
    """Build (or fetch) a SparkSession.

    Env knobs:
      SPARK_GRAFT_CPUS  — local parallelism (default: all cores)
      SPARK_GRAFT_SHUFFLE_PARTITIONS — default 32 (local); on a real
        cluster size this to ~2-3× total executor cores.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or f"local[{cpus}]"
    shuffle = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32")
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", shuffle)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(spark: SparkSession, rows, schema: str):
    """Driver-side small-frame constructor WITHOUT the Python-RDD
    evaluation tax. `spark.createDataFrame(<list>)` parallelizes into
    defaultParallelism partitions of a *Python* RDD, so every
    evaluation of the frame (each write, each broadcast-join build,
    each re-run of an uncached consumer) round-trips all those
    partitions through Python workers — measured ~5 s per evaluation
    for a ONE-ROW frame in a local[32] session. Routing through pandas
    + Arrow produces a single JVM LocalRelation: evaluation never
    touches Python again. Use for every bounded metadata / lookup /
    coefficient frame; data-sized frames should come from real scans.

    `schema` must be a DDL string (it names the columns); rows are
    tuples in schema order (or an empty list)."""
    import pandas as pd
    from pyspark.sql import types as T

    names = [f.name for f in T._parse_datatype_string(schema).fields]
    pdf = pd.DataFrame(list(rows), columns=names)
    return spark.createDataFrame(pdf, schema)


# the frames cached inside the innermost `cache_scope()` block
_CACHE_SCOPE: ContextVar[list | None] = ContextVar(
    "engage_cache_scope", default=None
)


def scoped_cache(df):
    """``df.cache()``, released when the enclosing `cache_scope()`
    block exits. A pipeline stage caches a frame that its lazy outputs
    read, so the cache must outlive the stage's ``run()`` until the
    caller has consumed those outputs; the caller opens the scope
    around run-and-write. A cache left in the session would be matched
    by plan, source paths included, and a later run over overwritten
    inputs at the same paths would read the stale rows. Outside a
    scope this is a plain ``df.cache()``, which the caller releases."""
    df = df.cache()
    frames = _CACHE_SCOPE.get()
    if frames is not None:
        frames.append(df)
    return df


@contextmanager
def cache_scope():
    """Unpersist every frame `scoped_cache` cached inside the block."""
    frames: list = []
    token = _CACHE_SCOPE.set(frames)
    try:
        yield
    finally:
        _CACHE_SCOPE.reset(token)
        for df in frames:
            df.unpersist()
