"""Storage metadata stays off Spark.

Every storage op on a version-logged dataset launches only the Spark
jobs that read or write data: scans take their schema from the version
log, the log is memoized per immutable part, and small delete-key
batches are read and written on the driver and applied as a literal
filter. These tests pin each op's exact job count on a small
Z-ordered, version-logged table with stats and bloom enabled (the
shape of the benchmark's maintenance workload), and check that every
shortcut returns what the path it replaces returns: the same schema,
the same log rows, the same rows (NULL keys included), and the same
results with every pyarrow fast path forced to fail.
"""

from __future__ import annotations

import hashlib
import itertools

import pytest
from pyspark.sql import functions as F

from engage_spark import indexes, io, maintenance, stats, versioning

_seq = itertools.count()


def _orders(spark, k0: int, n: int, salt: int = 0):
    ids = spark.range(k0, k0 + n)
    return ids.select(
        F.col("id").alias("o_orderkey"),
        ((F.col("id") * 7919 + salt) % 300).alias("o_custkey"),
        F.when(F.col("id") % 3 == 0, "F").otherwise("O").alias("o_orderstatus"),
        ((F.col("id") * 37 + salt) % 1000 / 10.0).alias("o_totalprice"),
        F.timestamp_seconds(F.lit(1_600_000_000) + F.col("id") * 3600).alias(
            "o_orderdate"
        ),
        F.concat(F.lit("P"), (F.col("id") % 5).cast("string")).alias(
            "o_orderpriority"
        ),
    )


def _table(spark, tmp_path, rows: int = 2_000) -> str:
    path = str(tmp_path / f"orders_{next(_seq)}")
    io.zorder_write(
        spark, _orders(spark, 0, rows), path, ["o_orderkey", "o_custkey"],
        num_files=4,
    )
    versioning.version_log_enable(spark, path)
    stats.stats_enable(spark, path, ["o_custkey", "o_orderkey"])
    indexes.bloom_enable(spark, path, ["o_orderkey"])
    return path


def _jobs(spark, fn):
    """(result, number of Spark jobs `fn` launched)."""
    sc = spark.sparkContext
    group = f"storage-jobs-{next(_seq)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup("storage-jobs-idle", "idle")
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _digest(df) -> tuple:
    rows = sorted(
        "|".join(repr(r[c]) for c in sorted(df.columns)) for r in df.collect()
    )
    return len(rows), hashlib.md5("\n".join(rows).encode()).hexdigest()


def _step(spark, path: str, k0: int, step: int) -> dict:
    """One benchmark-shaped step: append, upsert, delete, four reads;
    every second step ends with maintain_dataset. Returns {op: jobs}
    (reads as (planning jobs, jobs to collect)) and the read digests."""
    jobs, reads = {}, {}
    app = _orders(spark, k0, 100, salt=step)
    _, jobs["zorder_append"] = _jobs(spark, lambda: io.zorder_append(spark, app, path))
    upd = _orders(spark, k0 + 100, 100, salt=step + 1).withColumn(
        "o_orderkey",
        F.when(F.col("o_orderkey") < k0 + 180, F.col("o_orderkey") - k0 - 100 + step * 80)
        .otherwise(F.col("o_orderkey")),
    )
    _, jobs["upsert_dataset"] = _jobs(
        spark, lambda: io.upsert_dataset(spark, path, upd, ["o_orderkey"])
    )
    dels = [1000 + step * 20 + i for i in range(20)]
    _, jobs["delete_rows"] = _jobs(
        spark, lambda: io.delete_rows(spark, path, dels, "o_orderkey")
    )
    v_old = versioning.latest_version(spark, path) - 1
    for name, fn in {
        "read_with_deletes": lambda: io.read_with_deletes(spark, path),
        "read_keys": lambda: indexes.read_keys(
            spark, path, "o_orderkey", dels[:5] + [7, 8, 10**6]
        ),
        "read_where": lambda: stats.read_where(spark, path, "o_custkey", 10, 20),
        "read_version": lambda: versioning.read_version(spark, path, v_old),
    }.items():
        df, planned = _jobs(spark, fn)
        digest, collected = _jobs(spark, lambda: _digest(df))
        jobs[name] = (planned, collected)
        reads[name] = digest
    if step % 2 == 1:
        _, jobs["maintain_dataset"] = _jobs(
            spark, lambda: maintenance.maintain_dataset(spark, path)
        )
    return {"jobs": jobs, "reads": reads}


# Exact job counts per op, per step. Every job left reads or writes
# data:
# - zorder_append: the range-partition sample and the write;
# - upsert_dataset: the batch's key-uniqueness check (2) and the merged
#   rewrite (3, with its broadcast of the batch keys);
# - delete_rows: none, the 20-key batch is written with pyarrow;
# - reads: none to plan, one to collect;
# - maintain_dataset: apply_deletes' victim scan (2), survivor
#   rewrite (2) and z-range scan of the rewritten files (2), then
#   optimize's rewrite (2) and z-range scan (2).
EXPECTED_JOBS = [
    {
        "zorder_append": 2, "upsert_dataset": 5, "delete_rows": 0,
        "read_with_deletes": (0, 1), "read_keys": (0, 1),
        "read_where": (0, 1), "read_version": (0, 1),
    },
    {
        "zorder_append": 2, "upsert_dataset": 5, "delete_rows": 0,
        "read_with_deletes": (0, 1), "read_keys": (0, 1),
        "read_where": (0, 1), "read_version": (0, 1),
        "maintain_dataset": 10,
    },
]


def test_storage_ops_launch_only_data_jobs(spark, tmp_path):
    path = _table(spark, tmp_path)
    got = [_step(spark, path, 10_000 + 1_000 * s, s)["jobs"] for s in range(2)]
    assert got == EXPECTED_JOBS


@pytest.fixture()
def layouts(spark, tmp_path):
    """Versioned fixtures: flat (TIMESTAMP and TIMESTAMP_NTZ columns),
    hive-partitioned, and schema-evolved (a column added by a later
    append)."""
    flat = str(tmp_path / "flat")
    base = spark.range(0, 400).select(
        F.col("id").alias("k"),
        (F.col("id") % 7).cast("int").alias("a"),
        F.timestamp_seconds(F.col("id") * 60).alias("ts"),
        F.col("id").cast("string").alias("s"),
    ).withColumn("ntz", F.to_timestamp_ntz(F.col("ts").cast("string")))
    io.zorder_write(spark, base, flat, ["k", "a"], num_files=3)
    versioning.version_log_enable(spark, flat)
    io.zorder_append(spark, base.withColumn("k", F.col("k") + 400), flat)

    part = str(tmp_path / "part")
    pdf = spark.range(0, 300).select(
        F.col("id").alias("k"), (F.col("id") % 3).cast("int").alias("p"),
        (F.col("id") * 1.5).alias("x"),
    )
    pdf.write.partitionBy("p").parquet(part)
    versioning.version_log_enable(spark, part)
    io.append_dataset(
        spark, pdf.withColumn("k", F.col("k") + 300), part, partition_by=["p"]
    )

    evolved = str(tmp_path / "evolved")
    spark.range(0, 200).select(
        F.col("id").alias("k"), (F.col("id") % 5).alias("a")
    ).write.parquet(evolved)
    versioning.version_log_enable(spark, evolved)
    io.append_dataset(
        spark,
        spark.range(200, 300).select(
            F.col("id").alias("k"), (F.col("id") % 5).alias("a"),
            F.lit("new").alias("extra"),
        ),
        evolved,
    )
    return {"flat": flat, "part": part, "evolved": evolved}


def test_log_schema_reads_match_inferred_schema(spark, layouts):
    from engage_spark.versioning import _live_names, _logged_reader

    for kind, path in layouts.items():
        files = [f"{path}/{n}" for n in _live_names(spark, path)]
        parts = ["p"] if kind == "part" else []
        pairs = [
            # a whole-dataset read (read_with_deletes, upsert, inputFiles)
            (_logged_reader(spark, path).parquet(path),
             spark.read.parquet(path)),
            # a basePath + mergeSchema file-list read (victim rewrites)
            (_logged_reader(spark, path, base_path=path, merge=True)
             .parquet(*files),
             spark.read.option("basePath", path).option("mergeSchema", "true")
             .parquet(*files)),
            # a leaf-file read without basePath (z-range increment scan)
            (_logged_reader(spark, path, drop=tuple(parts)).parquet(*files[:1]),
             spark.read.parquet(*files[:1])),
        ]
        for logged, inferred in pairs:
            assert logged.schema == inferred.schema, kind
    # the flat fixture's timestamps are logged by the footer fast path
    # with Spark's own types; the evolved one falls back to inference
    flat_schema = versioning._stable_schema(spark, layouts["flat"])
    assert flat_schema is not None
    assert flat_schema["ts"].dataType.typeName() == "timestamp"
    assert flat_schema["ntz"].dataType.typeName() == "timestamp_ntz"
    assert versioning._stable_schema(spark, layouts["part"]) is not None
    assert versioning._stable_schema(spark, layouts["evolved"]) is None


def _fresh_rows(spark, path):
    from engage_spark.versioning import _vlog_part_memo, _vlog_rows_pa

    memo = _vlog_part_memo(spark)
    saved = dict(memo)
    memo.clear()
    try:
        return _vlog_rows_pa(spark, path)
    finally:
        memo.clear()
        memo.update(saved)


def _canon(rows):
    return sorted(repr(sorted(r.items())) for r in rows)


def test_log_part_memo_matches_a_fresh_read(spark, tmp_path):
    from engage_spark.versioning import _vlog_compact, _vlog_rows_pa

    path = _table(spark, tmp_path, rows=300)
    warm = _vlog_rows_pa(spark, path)
    assert _canon(warm) == _canon(_fresh_rows(spark, path))

    io.zorder_append(spark, _orders(spark, 5_000, 50), path)
    assert _canon(_vlog_rows_pa(spark, path)) == _canon(_fresh_rows(spark, path))
    assert len(_vlog_rows_pa(spark, path)) == len(warm) + 1

    with io.maintenance_lease(spark, path):
        assert _vlog_compact(spark, path, max_parts=1)
    after = _vlog_rows_pa(spark, path)
    assert _canon(after) == _canon(_fresh_rows(spark, path))
    assert len(after) == len(warm) + 1

    # a commit made through a second session is seen at the next read
    other = spark.newSession()
    io.delete_rows(other, path, [1, 2, 3], "o_orderkey")
    got = _vlog_rows_pa(spark, path)
    assert _canon(got) == _canon(_fresh_rows(spark, path))
    assert got[-1]["op"] == "logical_delete" or any(
        r["op"] == "logical_delete" for r in got
    )
    assert len(got) == len(warm) + 2

    # and the memoized entries equal the Spark-read fallback's
    orig = versioning._vlog_rows_pa
    versioning._vlog_rows_pa = lambda spark, path: None
    try:
        spark_entries = versioning._vlog_entries(spark, path)
    finally:
        versioning._vlog_rows_pa = orig
    assert versioning._vlog_entries(spark, path) == spark_entries


def _null_key_table(spark, tmp_path, versioned: bool):
    path = str(tmp_path / f"nk_{next(_seq)}")
    spark.range(0, 40).select(
        F.when(F.col("id") % 10 == 0, None).otherwise(F.col("id")).alias("k"),
        F.col("id").alias("v"),
        F.when(F.col("id") % 10 == 0, None)
        .otherwise(F.concat(F.lit("s"), F.col("id").cast("string")))
        .alias("sk"),
    ).write.parquet(path)
    if versioned:
        versioning.version_log_enable(spark, path)
    return path


@pytest.mark.parametrize("versioned", [False, True])
def test_literal_delete_filter_keeps_null_keys(spark, tmp_path, versioned):
    path = _null_key_table(spark, tmp_path, versioned)
    io.delete_rows(spark, path, [1, 2, 3], "k")
    # string keys go through the DataFrame form
    io.delete_rows(
        spark, path, spark.createDataFrame([("s5",), ("it's",)], "sk string"), "sk"
    )
    got = io.read_with_deletes(spark, path)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan  # literal filters, no broadcast
    raw = spark.read.parquet(path)
    dk = spark.createDataFrame([(1,), (2,), (3,)], "k long")
    ds = spark.createDataFrame([("s5",), ("it's",)], "sk string")
    want = raw.join(F.broadcast(dk), "k", "left_anti").join(
        F.broadcast(ds), "sk", "left_anti"
    )
    assert _digest(got) == _digest(want)
    # NULL-key rows (ids 0, 10, 20, 30) survive, as under left_anti
    assert got.filter(F.col("k").isNull()).count() == 4
    if versioned:
        v = versioning.latest_version(spark, path)
        tt = versioning.read_version(spark, path, v)
        assert "Join" not in tt._jdf.queryExecution().executedPlan().toString()
        assert _digest(tt) == _digest(want)


def test_delete_filter_falls_back_to_broadcast_join(spark, tmp_path, monkeypatch):
    import datetime

    path = _null_key_table(spark, tmp_path, versioned=True)
    io.delete_rows(spark, path, [1, 2, 3], "k")
    raw = spark.read.parquet(path)
    want = raw.join(
        F.broadcast(spark.createDataFrame([(1,), (2,), (3,)], "k long")),
        "k", "left_anti",
    )
    # above _DELETES_LITERAL_MAX: the broadcast anti-join, same rows
    monkeypatch.setattr(io, "_DELETES_LITERAL_MAX", 2)
    for df in (
        io.read_with_deletes(spark, path),
        versioning.read_version(spark, path, versioning.latest_version(spark, path)),
    ):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
        assert _digest(df) == _digest(want)
    monkeypatch.undo()

    # a key type other than integer and string: the join again
    dpath = str(tmp_path / "dates")
    spark.range(0, 10).select(
        F.col("id").alias("v"),
        F.when(F.col("id") == 0, None).otherwise(
            F.date_add(F.lit(datetime.date(2030, 1, 1)), F.col("id").cast("int"))
        ).alias("d"),
    ).write.parquet(dpath)
    io.delete_rows(
        spark, dpath,
        spark.createDataFrame([(datetime.date(2030, 1, 3),)], "d date"), "d",
    )
    got = io.read_with_deletes(spark, dpath)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert sorted(r.v for r in got.collect()) == [0, 1, 3, 4, 5, 6, 7, 8, 9]


def test_delete_filter_bound_reads_no_rows_above_it(spark, tmp_path, monkeypatch):
    # a sidecar above the literal-filter bound is sized from its parquet
    # footers: no key row reaches the driver, and the read joins
    path = _null_key_table(spark, tmp_path, versioned=True)
    io.delete_rows(spark, path, [1, 2, 3], "k")
    io.delete_rows(spark, path, [4, 5], "k")
    monkeypatch.setattr(io, "_DELETES_LITERAL_MAX", 4)
    import pyarrow.parquet as pq

    read_table = pq.read_table
    reads = []

    def counting_read_table(*a, **k):
        reads.append(a[0] if a else k.get("source"))
        return read_table(*a, **k)

    monkeypatch.setattr(pq, "read_table", counting_read_table)
    assert io._delete_keys_pa(spark, [f"{path}/_deletes"], 4) is None
    v = versioning.latest_version(spark, path)
    pending = [
        f"{path}/{versioning._VRETAINED}/deletes_v{pv}"
        for pv in versioning._pending_delete_versions(
            versioning._vlog_entries(spark, path), v
        )
    ]
    assert len(pending) == 2
    assert io._delete_keys_pa(spark, pending, 4) is None
    assert not [r for r in reads if "/_deletes/" in r or "/deletes_v" in r]
    for df in (io.read_with_deletes(spark, path), versioning.read_version(spark, path, v)):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
        assert sorted(r.k for r in df.filter(F.col("k") < 8).collect()) == [6, 7]
    monkeypatch.undo()
    # at the bound the batches are read and applied as the literal filter
    assert io._delete_keys_pa(spark, [f"{path}/_deletes"], 5) == {"k": {1, 2, 3, 4, 5}}


def test_unversioned_writes_launch_only_data_jobs(spark, tmp_path):
    # without a version log the write-schema gate has no logged types to
    # check, so it adds no schema-inference job to an append
    path = str(tmp_path / "plain")
    _orders(spark, 0, 200).coalesce(2).write.parquet(path)
    _, jobs = _jobs(
        spark, lambda: io.append_dataset(spark, _orders(spark, 200, 50), path)
    )
    assert jobs == 1  # the append's write
    assert spark.read.parquet(path).count() == 250


def _fail_fast_paths(monkeypatch):
    """Make every driver-side pyarrow shortcut report failure, so each
    op takes the Spark path it falls back to."""
    def boom(*a, **k):
        raise OSError("pyarrow unavailable")

    monkeypatch.setattr(versioning, "_pa_read_small", lambda *a, **k: None)
    monkeypatch.setattr(versioning, "_pa_append_small", lambda *a, **k: False)
    monkeypatch.setattr(versioning, "_pa_overwrite_small", lambda *a, **k: False)
    monkeypatch.setattr(versioning, "_vlog_rows_pa", lambda *a, **k: None)
    monkeypatch.setattr(versioning, "_pa_dir_for", boom)
    monkeypatch.setattr(io, "_delete_keys_pa", lambda *a, **k: None)


def test_ops_agree_with_every_fast_path_failing(spark, tmp_path, monkeypatch):
    fast = _table(spark, tmp_path, rows=600)
    fast_reads = [_step(spark, fast, 10_000 + 1_000 * s, s)["reads"] for s in range(2)]
    slow = _table(spark, tmp_path, rows=600)
    _fail_fast_paths(monkeypatch)
    slow_reads = [_step(spark, slow, 10_000 + 1_000 * s, s)["reads"] for s in range(2)]
    monkeypatch.undo()
    assert slow_reads == fast_reads
    assert _digest(io.read_with_deletes(spark, slow)) == _digest(
        io.read_with_deletes(spark, fast)
    )
    assert [e["op"] for e in versioning._vlog_entries(spark, slow)] == [
        e["op"] for e in versioning._vlog_entries(spark, fast)
    ]
