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


def _table(spark, tmp_path, rows: int = 2_000, num_files: int = 4) -> str:
    path = str(tmp_path / f"orders_{next(_seq)}")
    io.zorder_write(
        spark, _orders(spark, 0, rows), path, ["o_orderkey", "o_custkey"],
        num_files=num_files,
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
#   rewrite (3, with its broadcast of the batch keys) — this batch is a
#   Spark plan, not a local one (test_small_local_upsert_is_one_job);
# - delete_rows: none, the 20-key batch is written with pyarrow;
# - reads: none to plan, one to collect;
# - maintain_dataset: the layout scan (2), then ONE rewrite that
#   applies the takedowns and re-lays every file (the range sample and
#   the write, 2); the rewrite observes the new files' z-ranges, so no
#   scan refreshes them.
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
        "maintain_dataset": 4,
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


def _local(df):
    """`df` as a local batch: a LocalRelation, as createDataFrame of a
    pandas frame makes it."""
    return df.sparkSession.createDataFrame(df.toPandas(), df.schema)


def _upserted(spark, base_rows: int, batch) -> tuple:
    """Digest of the base table's rows with `batch` upserted on
    o_orderkey (null-safe key match), computed without the engine."""
    base = _orders(spark, 0, base_rows)
    kept = base.join(
        batch.select("o_orderkey"),
        base["o_orderkey"].eqNullSafe(batch["o_orderkey"]),
        "left_anti",
    )
    return _digest(kept.unionByName(batch))


def test_small_local_upsert_is_one_job(spark, tmp_path):
    """A createDataFrame batch with one integer key column, at most
    _DELETES_LITERAL_MAX keys and no NULL key: the keys are checked on
    the driver and the survivors filtered by a literal, so the upsert
    launches only its write."""
    path = _table(spark, tmp_path, rows=600)
    upd = _local(_orders(spark, 500, 200, salt=3))  # 100 updates, 100 new
    assert io._batch_keys(upd, ["o_orderkey"], True) is not None
    _, jobs = _jobs(
        spark, lambda: io.upsert_dataset(spark, path, upd, ["o_orderkey"])
    )
    assert jobs == 1
    assert _digest(io.read_with_deletes(spark, path)) == _upserted(
        spark, 600, upd
    )


def test_empty_local_upsert_keeps_every_row(spark, tmp_path):
    # an empty batch lists no keys: the literal filter keeps every row
    path = _table(spark, tmp_path, rows=300)
    empty = _local(_orders(spark, 500, 3)).filter(F.col("o_orderkey") < 0)
    assert io._batch_keys(empty, ["o_orderkey"], True) == []
    before = _digest(io.read_with_deletes(spark, path))
    io.upsert_dataset(spark, path, empty, ["o_orderkey"])
    assert _digest(io.read_with_deletes(spark, path)) == before


def _null_key_batch(spark):
    return _local(
        _orders(spark, 500, 20).withColumn(
            "o_orderkey",
            F.when(F.col("o_orderkey") == 510, None).otherwise(
                F.col("o_orderkey")
            ),
        )
    )


@pytest.mark.parametrize(
    "case", ["null_key", "two_key_columns", "over_bound", "not_local"]
)
def test_upsert_fallbacks_keep_the_spark_path(
    spark, tmp_path, monkeypatch, case
):
    """Outside the local-batch scope the upsert keeps its Spark plan:
    the aggregation that checks key uniqueness, then the broadcast
    anti-join (null-safe, so a NULL batch key still replaces a NULL
    target key); the rows are the same either way."""
    path = _table(spark, tmp_path, rows=600)
    keys = ["o_orderkey"]
    if case == "null_key":
        upd = _null_key_batch(spark)
    elif case == "two_key_columns":
        upd, keys = _local(_orders(spark, 500, 200)), ["o_orderkey", "o_custkey"]
    elif case == "over_bound":
        upd = _local(_orders(spark, 500, io._DELETES_LITERAL_MAX + 1))
    else:
        upd = _orders(spark, 500, 200)
    assert io._batch_keys(upd, keys, False) is None
    literal = []
    real = io._keys_in
    monkeypatch.setattr(
        io, "_keys_in", lambda *a, **k: literal.append(a) or real(*a, **k)
    )
    _, jobs = _jobs(spark, lambda: io.upsert_dataset(spark, path, upd, keys))
    monkeypatch.undo()
    # the uniqueness aggregation ran as a job, and no literal filter
    # stood in for the anti-join
    assert jobs > 1 and literal == []
    if case != "two_key_columns":  # the model matches on o_orderkey
        assert _digest(io.read_with_deletes(spark, path)) == _upserted(
            spark, 600, upd
        )


def test_duplicate_key_raises_the_same_error_on_both_paths(spark, tmp_path):
    path = _table(spark, tmp_path, rows=300)
    dup = _orders(spark, 100, 3).unionByName(_orders(spark, 101, 1, salt=9))
    local = _local(dup)
    errors = []
    for batch in (local, dup):
        def run(batch=batch):
            with pytest.raises(ValueError) as e:
                io.upsert_dataset(spark, path, batch, ["o_orderkey"])
            return str(e.value)

        msg, jobs = _jobs(spark, run)
        errors.append((msg, jobs > 0))
    want = (
        "updates batch has multiple rows for key [101]; upsert semantics "
        "need one row per key (delete rows included)"
    )
    # the local batch is checked on the driver, the other by a job
    assert errors == [(want, False), (want, True)]


def _history(spark, path: str, upto: int) -> list:
    return [
        _digest(versioning.read_version(spark, path, v))
        for v in range(1, upto + 1)
    ]


def test_fused_maintenance_matches_apply_then_optimize(spark, tmp_path):
    """When the OPTIMIZE due would rewrite every file, maintain_dataset
    applies the takedowns in that same rewrite. The result equals
    apply_deletes followed by optimize_incremental: the same live rows
    (raw and through the sidecar), the same history, the sidecar
    settled, the layout repaired — and a key re-appended after its
    delete is removed with it, as apply_deletes removes it."""
    paths = []
    for _ in range(2):
        # one file, so the upsert's rewrite of it spans the whole curve
        # and every later file overlaps it
        p = _table(spark, tmp_path, rows=2_000, num_files=1)
        io.upsert_dataset(spark, p, _orders(spark, 1_990, 40, salt=1), ["o_orderkey"])
        io.delete_rows(spark, p, [5, 6, 7, 1_995], "o_orderkey")
        io.zorder_append(spark, _orders(spark, 5, 1, salt=2), p)  # key 5 again
        io.zorder_append(spark, _orders(spark, 3_000, 50), p)
        paths.append(p)
    fused, split = paths
    v0 = versioning.latest_version(spark, fused)
    report = maintenance.maintain_dataset(spark, fused)
    assert report["apply_deletes"]["relayout"] and report["optimize"]["fused"]
    assert report["apply_deletes"]["deleted_keys"] == 4
    io.apply_deletes(spark, split)
    io.optimize_incremental(spark, split)
    for read in (io.read_with_deletes, lambda s, p: s.read.parquet(p)):
        assert _digest(read(spark, fused)) == _digest(read(spark, split))
    assert io.read_with_deletes(spark, fused).filter("o_orderkey = 5").count() == 0
    assert _history(spark, fused, v0) == _history(spark, split, v0)
    latest = [versioning.latest_version(spark, p) for p in paths]
    assert latest == [v0 + 1, v0 + 2]  # one commit, not two
    assert _digest(versioning.read_version(spark, fused, latest[0])) == _digest(
        versioning.read_version(spark, split, latest[1])
    )
    for p, v in zip(paths, latest):
        assert not io._deletes_has_parts(spark, p)
        assert versioning._pending_delete_versions(
            versioning._vlog_entries(spark, p), v
        ) == []
        assert io.zorder_layout_stats(spark, p)["overlap_fraction"] == 0.0


def test_optimize_retry_measures_the_live_layout(spark, tmp_path):
    """A layout snapshot whose victims a file-moving commit removed
    before the stage makes the first attempt fail on a missing file;
    the retry measures the live layout again and succeeds."""
    path = _table(spark, tmp_path, rows=2_000, num_files=1)
    io.upsert_dataset(spark, path, _orders(spark, 1_990, 40, salt=1), ["o_orderkey"])
    io.zorder_append(spark, _orders(spark, 3_000, 50), path)
    stale = io._layout_snapshot(spark, path)
    assert len(io._optimize_victims(stale["ranges"])) >= 2
    io.optimize_incremental(spark, path)  # removes the snapshot's victims
    io.zorder_append(spark, _orders(spark, 4_000, 50), path)
    before = _digest(spark.read.parquet(path))
    report = io.optimize_incremental(spark, path, _layout=stale)
    assert report["rewritten_files"] >= 2
    assert _digest(spark.read.parquet(path)) == before
    assert io.zorder_layout_stats(spark, path)["overlap_fraction"] == 0.0


def test_observed_zranges_equal_a_scan(spark, tmp_path):
    """The z-range manifest entries a rewrite or an append records from
    its write's observed per-task ranges equal a fresh scan's."""
    path = _table(spark, tmp_path, rows=2_000, num_files=1)
    io.upsert_dataset(spark, path, _orders(spark, 1_990, 40, salt=1), ["o_orderkey"])
    io.delete_rows(spark, path, [5, 6], "o_orderkey")
    report = maintenance.maintain_dataset(spark, path, target_file_bytes=20_000)
    assert report["optimize"]["fused"] and report["optimize"]["new_files"] > 1
    assert sorted(io._zranges_read(spark, path)) == sorted(io._zranges_scan(spark, path))
    io.zorder_append(spark, _orders(spark, 3_000, 300), path, num_files=2)
    assert sorted(io._zranges_read(spark, path)) == sorted(io._zranges_scan(spark, path))
    # past the bound the write observes nothing and the new files are scanned
    wide = io._ZRANGES_OBSERVE_MAX + 1
    io.zorder_append(spark, _orders(spark, 4_000, 30 * wide), path, num_files=wide)
    assert sorted(io._zranges_read(spark, path)) == sorted(io._zranges_scan(spark, path))
    assert io._written_zranges(["part-00001-x.parquet"], {0: (1, 2)}) is None


def test_sidecar_part_memo_matches_a_fresh_read(spark, tmp_path):
    """Memoized sidecar reads equal fresh reads after another session
    (with its own memo) commits new sidecar parts."""
    from engage_spark.indexes import _VBLOOM
    from engage_spark.stats import _VSTATS

    path = _table(spark, tmp_path, rows=300)
    dirs = [(f"{path}/{_VBLOOM}", None), (f"{path}/{_VSTATS}", None),
            (f"{path}/{_VBLOOM}", ["name", "col"])]
    warm = [versioning._pa_read_small(spark, d, c) for d, c in dirs]
    other = spark.newSession()
    io.zorder_append(other, _orders(other, 1_000, 50), path)
    memo = spark.__dict__["_engage_sidecar_parts"]
    for (d, c), before in zip(dirs, warm):
        again = versioning._pa_read_small(spark, d, c)
        saved = dict(memo)
        memo.clear()
        try:
            fresh = versioning._pa_read_small(spark, d, c)
        finally:
            memo.clear()
            memo.update(saved)
        assert _canon(again) == _canon(fresh)
        assert len(again) > len(before)


def test_version_log_enabled_reads_one_listing(spark, tmp_path, monkeypatch):
    """On file:// the answer is one os listing: once the dataset root
    is resolved, no py4j call per log file (or at all)."""
    path = _table(spark, tmp_path, rows=200)
    for i in range(3):
        io.delete_rows(spark, path, [i], "o_orderkey")
    assert versioning.version_log_enabled(spark, path)
    calls = []
    real = versioning._fs
    monkeypatch.setattr(
        versioning, "_fs", lambda *a: calls.append(a) or real(*a)
    )
    assert versioning.version_log_enabled(spark, path)
    assert calls == []
    monkeypatch.undo()
    claim = tmp_path / "claim_only" / "_versions" / "log"
    claim.mkdir(parents=True)
    (claim / ".v1.claim").write_text("")
    assert not versioning.version_log_enabled(spark, str(tmp_path / "claim_only"))
    assert not versioning.version_log_enabled(spark, str(tmp_path / "no_log"))
