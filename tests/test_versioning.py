"""Version log / time travel (engage_spark.versioning, round 12).

Pins the snapshot-history contract over the staged-commit maintenance
ops: exact per-version reconstruction (files + deletion vectors), live
reads untouched, drift healing, crash-window recovery, retention
vacuum, and the only-changed-files diff shape.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from engage_spark.io import (
    apply_deletes,
    delete_rows,
    optimize_incremental,
    read_with_deletes,
    zorder_append,
    zorder_write,
)
from engage_spark.versioning import (
    _vlog_entries,
    dataset_history,
    read_version,
    vacuum_versions,
    version_diff,
    version_log_enable,
    version_log_enabled,
)


def _events(spark, sf_dir):
    return (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select(
            "event_id",
            "user_id",
            F.round(F.col("value") * 100 + 1e-9).cast("long").alias("v_cents"),
        )
    )


def _lifecycle(spark, sf_dir, out):
    """write evens -> enable -> append odds -> logical delete %97 ->
    optimize -> apply_deletes. Returns the source frame."""
    ev = _events(spark, sf_dir)
    zorder_write(
        spark, ev.filter(F.col("event_id") % 2 == 0), str(out),
        ["user_id", "v_cents"], bits=16, num_files=4,
    )
    version_log_enable(spark, str(out))                            # v1
    zorder_append(
        spark, ev.filter(F.col("event_id") % 2 == 1), str(out), num_files=4
    )                                                              # v2
    delete_rows(
        spark, str(out),
        ev.filter(F.col("event_id") % 97 == 0).select("event_id"),
        "event_id",
    )                                                              # v3
    optimize_incremental(spark, str(out))                          # v4
    apply_deletes(spark, str(out))                                 # v5
    return ev


def test_version_lifecycle_counts_and_time_travel(spark, sf_dir, tmp_path):
    out = tmp_path / "vds"
    ev = _lifecycle(spark, sf_dir, out)
    ops = [e["op"] for e in _vlog_entries(spark, str(out))]
    assert ops == [
        "init", "append", "logical_delete", "optimize", "vacuum_deletes",
    ]
    evens = ev.filter(F.col("event_id") % 2 == 0).count()
    alln = ev.count()
    deln = ev.filter(F.col("event_id") % 97 == 0).count()
    expect = {1: evens, 2: alln, 3: alln - deln, 4: alln - deln,
              5: alln - deln}
    for v, n in expect.items():
        assert read_version(spark, str(out), v).count() == n, f"v{v}"
    # the LIVE read path is byte-for-byte unversioned parquet
    assert spark.read.parquet(str(out)).count() == alln - deln
    # id-sum equality at the interesting version boundary (content,
    # not just counts): v3 (logical) == v5 (physical)
    s3 = read_version(spark, str(out), 3).agg(F.sum("event_id")).first()[0]
    s5 = read_version(spark, str(out), 5).agg(F.sum("event_id")).first()[0]
    assert s3 == s5
    hist = {r["version"]: r for r in dataset_history(spark, str(out)).collect()}
    assert hist[3]["n_keys"] == deln and hist[3]["key_col"] == "event_id"
    assert hist[4]["n_removed"] > 0  # optimize retained its victims


def test_version_diff_matches_set_semantics(spark, sf_dir, tmp_path):
    out = tmp_path / "vdiff"
    ev = _lifecycle(spark, sf_dir, out)
    got = {
        r["change"]: (r["n"], r["s"])
        for r in version_diff(spark, str(out), 1, 3)
        .groupBy("change")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("event_id").alias("s"))
        .collect()
    }
    added = ev.filter(
        (F.col("event_id") % 2 == 1) & (F.col("event_id") % 97 != 0)
    )
    removed = ev.filter(
        (F.col("event_id") % 2 == 0) & (F.col("event_id") % 97 == 0)
    )
    assert got["added"] == (
        added.count(), added.agg(F.sum("event_id")).first()[0]
    )
    assert got["removed"] == (
        removed.count(), removed.agg(F.sum("event_id")).first()[0]
    )
    # a rewrite-only step (optimize) must diff to ZERO rows — and via
    # only-changed-files reads, never a full double scan
    assert version_diff(spark, str(out), 3, 4).count() == 0


def test_version_diff_deletion_vector_delta_on_common_files(
    spark, sf_dir, tmp_path
):
    """A logical delete flips visibility with NO file change: the diff
    must find it via the key-pushed probe of common files."""
    out = tmp_path / "vdel"
    ev = _events(spark, sf_dir)
    zorder_write(
        spark, ev, str(out), ["user_id", "v_cents"], bits=16, num_files=4
    )
    version_log_enable(spark, str(out))                            # v1
    delete_rows(
        spark, str(out),
        ev.filter(F.col("event_id") % 101 == 0).select("event_id"),
        "event_id",
    )                                                              # v2
    d = version_diff(spark, str(out), 1, 2)
    deln = ev.filter(F.col("event_id") % 101 == 0).count()
    by = {r["change"]: r["n"] for r in d.groupBy("change").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    assert by == {"removed": deln}
    # and the reverse direction reports them added back
    d_rev = version_diff(spark, str(out), 2, 1)
    by_rev = {r["change"]: r["n"] for r in d_rev.groupBy("change").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    assert by_rev == {"added": deln}


def test_reconcile_heals_out_of_band_append(spark, sf_dir, tmp_path):
    out = tmp_path / "vrec"
    ev = _events(spark, sf_dir)
    zorder_write(
        spark, ev.filter(F.col("event_id") % 2 == 0), str(out),
        ["user_id", "v_cents"], bits=16, num_files=2,
    )
    version_log_enable(spark, str(out))                            # v1
    # a writer that bypasses the versioned ops entirely
    ev.filter(F.col("event_id") % 2 == 1).write.mode("append").parquet(
        str(out)
    )
    # next versioned op heals with one reconcile entry
    delete_rows(spark, str(out), [ev.first()["event_id"]], "event_id")
    ops = [e["op"] for e in _vlog_entries(spark, str(out))]
    assert ops == ["init", "reconcile", "logical_delete"]
    assert (
        read_version(spark, str(out), 2).count() == ev.count()
    )  # reconcile snapshot == live-at-heal
    assert (
        read_version(spark, str(out), 3).count()
        == read_with_deletes(spark, str(out)).count()
    )


def test_crash_between_commit_and_entry_is_healed(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Kill the writer after optimize's staged commit but before its
    log entry: victims are already in retained/, the log lags live.
    Since the swap manifest (r14) pins the exact commit, the next
    versioned op REPLAYS it into the exact `optimize` entry — not the
    drift `reconcile` this test pinned before — and every pre-crash
    version must remain exactly readable."""
    import engage_spark.io as io_mod

    out = tmp_path / "vcrash"
    ev = _events(spark, sf_dir)
    zorder_write(
        spark, ev.filter(F.col("event_id") % 2 == 0), str(out),
        ["user_id", "v_cents"], bits=16, num_files=2,
    )
    version_log_enable(spark, str(out))                            # v1
    zorder_append(
        spark, ev.filter(F.col("event_id") % 2 == 1), str(out), num_files=2
    )                                                              # v2

    from engage_spark import versioning as v_mod

    real_entry = v_mod._vlog_append_entry

    def boom(spark_, path_, op, **kw):
        if op == "optimize":
            raise RuntimeError("injected crash before entry write")
        return real_entry(spark_, path_, op, **kw)

    monkeypatch.setattr(io_mod, "_vlog_append_entry", boom, raising=False)
    monkeypatch.setattr(v_mod, "_vlog_append_entry", boom)
    with pytest.raises(RuntimeError, match="injected"):
        optimize_incremental(spark, str(out))
    monkeypatch.setattr(v_mod, "_vlog_append_entry", real_entry)
    # live data is fully committed despite the missing entry
    assert spark.read.parquet(str(out)).count() == ev.count()
    # next op replays the pinned swap into ITS exact entry (no drift
    # reconcile), then records itself
    delete_rows(spark, str(out), [ev.first()["event_id"]], "event_id")
    ops = [e["op"] for e in _vlog_entries(spark, str(out))]
    assert ops == ["init", "append", "optimize", "logical_delete"]
    evens = ev.filter(F.col("event_id") % 2 == 0).count()
    assert read_version(spark, str(out), 1).count() == evens
    assert read_version(spark, str(out), 2).count() == ev.count()
    assert read_version(spark, str(out), 3).count() == ev.count()


def test_republish_keeps_history_and_supersedes_deletes(
    spark, sf_dir, tmp_path
):
    out = tmp_path / "vpub"
    ev = _events(spark, sf_dir)
    zorder_write(
        spark, ev, str(out), ["user_id", "v_cents"], bits=16, num_files=3
    )
    version_log_enable(spark, str(out))                            # v1
    delete_rows(
        spark, str(out),
        ev.filter(F.col("event_id") % 50 == 0).select("event_id"),
        "event_id",
    )                                                              # v2
    half = ev.filter(F.col("event_id") % 2 == 0)
    zorder_write(
        spark, half, str(out), ["user_id", "v_cents"], bits=16, num_files=2
    )                                                              # v3
    ops = [e["op"] for e in _vlog_entries(spark, str(out))]
    assert ops == ["init", "logical_delete", "overwrite"]
    # the republish superseded pending deletion vectors...
    assert read_version(spark, str(out), 3).count() == half.count()
    assert spark.read.parquet(str(out)).count() == half.count()
    assert read_with_deletes(spark, str(out)).count() == half.count()
    # ...and pre-publish versions remain exact
    assert read_version(spark, str(out), 1).count() == ev.count()
    deln = ev.filter(F.col("event_id") % 50 == 0).count()
    assert read_version(spark, str(out), 2).count() == ev.count() - deln
    # the republished dataset still appends on its new frozen curve
    zorder_append(
        spark, ev.filter(F.col("event_id") % 2 == 1), str(out), num_files=2
    )                                                              # v4
    assert read_version(spark, str(out), 4).count() == ev.count()


def test_vacuum_versions_horizon(spark, sf_dir, tmp_path):
    out = tmp_path / "vvac"
    _lifecycle(spark, sf_dir, out)                                 # v1..v5
    r = vacuum_versions(spark, str(out), keep_last=2)
    assert r["horizon"] == 4 and r["dropped"] > 0
    with pytest.raises(ValueError, match="vacuum_versions"):
        read_version(spark, str(out), 1).count()
    # versions inside the horizon still resolve (v4 needs retained
    # files that must have survived the vacuum)
    live = spark.read.parquet(str(out)).count()
    assert read_version(spark, str(out), 4).count() == live
    assert read_version(spark, str(out), 5).count() == live


def test_publish_stash_heal_respects_lease(spark, sf_dir, tmp_path):
    """r13 review: the stash heal must not race an in-flight republish
    — while the republisher's lease is live, version_log_enabled backs
    off (dataset reads unversioned) and the DESTRUCTIVE writers refuse
    rather than overwriting files the stashed history references; once
    the lease is gone the next check heals and history is intact."""
    import json
    import time

    from engage_spark.io import _hadoop_fs, zorder_write as zw
    from engage_spark.versioning import _PUBLISH_STASH_SUFFIX, _VDIR

    out = tmp_path / "vstash"
    ev = _events(spark, sf_dir).limit(5000)
    zorder_write(
        spark, ev, str(out), ["user_id", "v_cents"], bits=16, num_files=2
    )
    version_log_enable(spark, str(out))                            # v1
    # simulate a republish crashed mid-overwrite: _versions in the
    # stash, the crashed writer's (unexpired) lease left behind
    vfs, vp = _hadoop_fs(spark, f"{out}/{_VDIR}")
    _, sp = _hadoop_fs(spark, f"{str(out)}{_PUBLISH_STASH_SUFFIX}")
    assert vfs.rename(vp, sp)
    lfs, lp = _hadoop_fs(spark, f"{out}/_maintenance_lock")
    stream = lfs.create(lp, False)
    stream.write(json.dumps({
        "writer": "ghost:1", "acquired_unix": int(time.time()),
        "ttl_s": 3600,
    }).encode())
    stream.close()
    # heal backs off; destructive writers refuse
    assert version_log_enabled(spark, str(out)) is False
    with pytest.raises(RuntimeError, match="in flight"):
        zw(spark, ev, str(out), ["user_id", "v_cents"], bits=16,
           num_files=2)
    from engage_spark.io import upsert_dataset
    from engage_spark.session import local_frame

    # the upsert is refused either by its own lease acquisition (the
    # ghost holder) or, past the TTL, by the stash guard — both stop
    # the destructive overwrite
    with pytest.raises(RuntimeError, match="in flight|lease"):
        upsert_dataset(
            spark, str(out),
            local_frame(
                spark, [(1, 1, 1)],
                "event_id long, user_id long, v_cents long",
            ),
            ["event_id"],
        )
    # lease released but the stash is FRESH: still no heal — a live
    # republish holds no in-dir lock for its whole overwrite window
    # (mode=overwrite deletes the dataset dir, lock included, at write
    # start), so stash age is the only signal that distinguishes
    # in-flight from crashed (ADVICE r13)
    lfs.delete(lp, False)
    assert version_log_enabled(spark, str(out)) is False
    # age the stash past the lease TTL (the crashed-republish state):
    # now the heal proceeds and history is intact
    sfs2, sp2 = _hadoop_fs(spark, f"{str(out)}{_PUBLISH_STASH_SUFFIX}")
    sfs2.setTimes(sp2, int((time.time() - 7200) * 1000), -1)
    assert version_log_enabled(spark, str(out)) is True
    assert read_version(spark, str(out), 1).count() == ev.count()


def test_restore_version_rolls_back_and_forward(spark, sf_dir, tmp_path):
    """RESTORE (r13): after the full lifecycle, restoring to v1 makes
    the live read equal read_version(1) — including re-recording v1's
    (empty) deletion state — while every intermediate version stays
    readable; restoring forward to the pre-restore latest converges
    back, deletion vectors included; CDF consumers see the restore as
    an exact diff (mirror drains through it)."""
    from engage_spark.versioning import (
        latest_version,
        restore_version,
        sync_mirror,
    )

    out = tmp_path / "vrestore"
    mir = tmp_path / "vrestore_mir"
    ev = _lifecycle(spark, sf_dir, out)                            # v1..v5
    sync_mirror(spark, str(out), str(mir), "event_id")             # consumer
    n, n_even = ev.count(), ev.filter(F.col("event_id") % 2 == 0).count()
    n_del = ev.filter(F.col("event_id") % 97 == 0).count()
    v5 = latest_version(spark, str(out))

    v6 = restore_version(spark, str(out), 1)                       # back to v1
    assert v6 == v5 + 1
    live = read_with_deletes(spark, str(out))
    assert live.count() == n_even
    assert (
        live.agg(F.sum("event_id")).first()[0]
        == ev.filter(F.col("event_id") % 2 == 0)
        .agg(F.sum("event_id")).first()[0]
    )
    # history intact: v5 still reads exactly, and read_version(v6)
    # equals read_version(1)
    assert read_version(spark, str(out), v5).count() == n - n_del
    assert read_version(spark, str(out), v6).count() == n_even
    # roll FORWARD again to the pre-restore state (v3 had the %97
    # takedown pending as a deletion vector — it must come back)
    v7 = restore_version(spark, str(out), 3)
    live = read_with_deletes(spark, str(out))
    assert live.count() == n - n_del
    assert live.filter(F.col("event_id") % 97 == 0).count() == 0
    # the mirror drains through both restores and converges
    sync_mirror(spark, str(out), str(mir), "event_id")
    m = spark.read.parquet(str(mir))
    assert m.count() == n - n_del
    assert (
        m.agg(F.sum("event_id")).first()[0]
        == live.agg(F.sum("event_id")).first()[0]
    )
    # out of range + beyond-horizon guards. After the restores, the
    # horizon window (v6=restore(1), v7=restore(3)) still NEEDS v1's
    # and v3's files, so those stay restorable; the files vacuum
    # actually drops are v4/v5's optimize + vacuum outputs — restoring
    # THERE must refuse, without side effects
    with pytest.raises(ValueError, match="out of range"):
        restore_version(spark, str(out), 99)
    vacuum_versions(spark, str(out), keep_last=2)
    with pytest.raises(ValueError, match="restorable"):
        restore_version(spark, str(out), 5)
    assert read_with_deletes(spark, str(out)).count() == n - n_del


def test_vacuum_versions_partitioned_retained_sweep(
    spark, sf_dir, tmp_path
):
    """vacuum_versions on a partitioned dataset: the recursive sweep
    drops out-of-horizon retained files INSIDE partition subdirs,
    keeps in-horizon ones, and in-horizon historical reads still
    resolve with their partition columns."""
    import os

    from engage_spark.io import append_dataset, apply_deletes
    from engage_spark.versioning import latest_version

    out = tmp_path / "vpvac"
    ev = _events(spark, sf_dir).withColumn(
        "grp", (F.col("user_id") % 4).cast("long")
    )
    ev.filter(F.col("event_id") % 2 == 0).write.partitionBy("grp").parquet(
        str(out)
    )
    version_log_enable(spark, str(out))                            # v1
    append_dataset(
        spark, ev.filter(F.col("event_id") % 2 == 1), str(out),
        partition_by=["grp"],
    )                                                              # v2
    delete_rows(
        spark, str(out),
        ev.filter(F.col("event_id") % 97 == 0).select("event_id"),
        "event_id",
    )                                                              # v3
    apply_deletes(spark, str(out))                                 # v4
    retained = str(out / "_versions" / "retained")
    pre = [
        os.path.relpath(os.path.join(d, f), retained)
        for d, _, fs in os.walk(retained) for f in fs
    ]
    assert any("grp=" in p for p in pre)  # partitioned victims retained
    r = vacuum_versions(spark, str(out), keep_last=1)
    assert r["dropped"] > 0
    with pytest.raises(ValueError, match="vacuum_versions"):
        read_version(spark, str(out), 1).count()
    latest = latest_version(spark, str(out))
    df = read_version(spark, str(out), latest)
    n_live = ev.filter(F.col("event_id") % 97 != 0).count()
    assert df.count() == n_live
    assert df.filter(F.col("grp").isNull()).count() == 0


def test_enable_guards(spark, sf_dir, tmp_path):
    out = tmp_path / "vguard"
    ev = _events(spark, sf_dir)
    zorder_write(
        spark, ev, str(out), ["user_id", "v_cents"], bits=16, num_files=2
    )
    version_log_enable(spark, str(out))
    with pytest.raises(ValueError, match="already has a version log"):
        version_log_enable(spark, str(out))
    assert version_log_enabled(spark, str(out))
    with pytest.raises(ValueError, match="out of range"):
        read_version(spark, str(out), 99)
    # hive-partitioned data is fully supported since r13: the init
    # entry logs dataset-relative paths under the partition dirs
    part = tmp_path / "vpart"
    ev.limit(100).write.partitionBy("user_id").parquet(str(part))
    version_log_enable(spark, str(part))
    e1 = _vlog_entries(spark, str(part))[0]
    assert e1["op"] == "init" and all("/" in n for n in e1["added"])
    assert all(n.startswith("user_id=") for n in e1["added"])
    v1 = read_version(spark, str(part), 1)
    assert "user_id" in v1.columns  # partition column recovered
    assert v1.count() == 100


def test_partitioned_version_lifecycle_roundtrip(spark, sf_dir, tmp_path):
    """The full version stack on a hive-partitioned corpus (r13,
    VERDICT r12 missing #1): partitioned publish -> enable -> versioned
    partitioned append -> logical delete -> partition-aware physical
    vacuum. Every version reconstructs exactly (partition columns
    recovered via basePath on live AND retained leaf files), the diff
    and the change feed match set semantics, and the live layout stays
    cleanly hive-partitioned (no files beached at the dataset root —
    the ADVICE r12 apply_deletes defect)."""
    from engage_spark.io import append_dataset
    from engage_spark.versioning import read_changes

    out = tmp_path / "vplife"
    ev = _events(spark, sf_dir).withColumn(
        "grp", (F.col("user_id") % 4).cast("long")
    )
    evens = ev.filter(F.col("event_id") % 2 == 0)
    odds = ev.filter(F.col("event_id") % 2 == 1)
    evens.write.partitionBy("grp").parquet(str(out))
    version_log_enable(spark, str(out))                            # v1
    append_dataset(spark, odds, str(out), partition_by=["grp"])    # v2
    delete_rows(
        spark, str(out),
        ev.filter(F.col("event_id") % 97 == 0).select("event_id"),
        "event_id",
    )                                                              # v3
    r = apply_deletes(spark, str(out))                             # v4
    assert r["rewritten_files"] > 0 and r["kept_files"] > 0

    # live layout: every data file still inside a grp=... dir
    for uri in spark.read.parquet(str(out)).inputFiles():
        rel = uri.split(str(out) + "/", 1)[1]
        assert rel.startswith("grp="), rel

    n, n_even = ev.count(), evens.count()
    n_del = ev.filter(F.col("event_id") % 97 == 0).count()
    want = {1: n_even, 2: n, 3: n - n_del, 4: n - n_del}
    for v, expect in want.items():
        df = read_version(spark, str(out), v)
        assert df.count() == expect, f"v{v}"
        assert "grp" in df.columns, f"v{v} lost the partition column"
        # partition values are REAL, not null, at every version
        assert df.filter(F.col("grp").isNull()).count() == 0
        assert (
            df.filter(F.col("grp") != F.col("user_id") % 4).count() == 0
        ), f"v{v} partition values wrong"

    # the physical vacuum preserved content exactly (v3 == v4 == live)
    live = spark.read.parquet(str(out))
    assert live.count() == n - n_del
    assert (
        read_version(spark, str(out), 3).agg(F.sum("event_id")).first()[0]
        == live.agg(F.sum("event_id")).first()[0]
    )

    d = version_diff(spark, str(out), 1, 3)
    assert (
        d.filter(F.col("change") == "added").count()
        == odds.filter(F.col("event_id") % 97 != 0).count()
    )
    assert (
        d.filter(F.col("change") == "removed").count()
        == evens.filter(F.col("event_id") % 97 == 0).count()
    )
    feed = read_changes(spark, str(out), since_version=1)
    got = {
        (row["commit_version"], row["change_type"]): row["n"]
        for row in feed.groupBy("commit_version", "change_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == {(2, "insert"): odds.count(), (3, "delete"): n_del}


def test_zorder_partitioned_versioned_time_travel(spark, sf_dir, tmp_path):
    """The partitioned-clustered layout (r13 zorder partition_by)
    composes with the version log: the clustered partitioned publish,
    a frozen-curve append, and a takedown all log relative paths under
    the partition dirs, and every version reconstructs with its
    partition column intact."""
    out = tmp_path / "zpv"
    ev = _events(spark, sf_dir).withColumn(
        "grp", (F.col("user_id") % 3).cast("long")
    )
    evens = ev.filter(F.col("event_id") % 2 == 0)
    zorder_write(
        spark, evens, str(out), ["user_id", "v_cents"], bits=16,
        num_files=6, partition_by=["grp"],
    )
    version_log_enable(spark, str(out))                            # v1
    zorder_append(
        spark, ev.filter(F.col("event_id") % 2 == 1), str(out),
        num_files=3,
    )                                                              # v2
    delete_rows(
        spark, str(out),
        ev.filter(F.col("event_id") % 97 == 0).select("event_id"),
        "event_id",
    )                                                              # v3
    e = _vlog_entries(spark, str(out))
    assert all(
        n.startswith("grp=") for en in e for n in en["added"]
    )
    n, n_even = ev.count(), evens.count()
    n_del = ev.filter(F.col("event_id") % 97 == 0).count()
    for v, expect in ((1, n_even), (2, n), (3, n - n_del)):
        df = read_version(spark, str(out), v)
        assert df.count() == expect, f"v{v}"
        assert df.filter(F.col("grp") != F.col("user_id") % 3).count() == 0


def test_append_dataset_rejects_layout_mismatch(spark, sf_dir, tmp_path):
    """A flat append onto a partitioned dataset (or the reverse) would
    leave a mixed layout readers silently truncate — append_dataset
    refuses before writing anything."""
    from engage_spark.io import append_dataset

    ev = _events(spark, sf_dir).withColumn(
        "grp", (F.col("user_id") % 4).cast("long")
    ).limit(1000)
    part = tmp_path / "adm_part"
    flat = tmp_path / "adm_flat"
    ev.write.partitionBy("grp").parquet(str(part))
    ev.write.parquet(str(flat))
    with pytest.raises(ValueError, match="mixed layout"):
        append_dataset(spark, ev, str(part))  # flat onto partitioned
    with pytest.raises(ValueError, match="mixed layout"):
        append_dataset(spark, ev, str(flat), partition_by=["grp"])
    n_before = spark.read.parquet(str(part)).count()
    assert n_before == 1000  # nothing was written by the refusals
    # matching layouts still append fine
    append_dataset(spark, ev, str(part), partition_by=["grp"])
    assert spark.read.parquet(str(part)).count() == 2 * n_before


def test_partitioned_out_of_band_rewrite_reconciles(
    spark, sf_dir, tmp_path
):
    """A writer bypassing the versioned ops inside ONE partition dir
    (e.g. a zorder rewrite of that partition) is healed by the next
    op's reconcile entry; later versions read exactly."""
    from engage_spark.io import append_dataset
    from engage_spark.versioning import dataset_history

    out = tmp_path / "voob"
    ev = _events(spark, sf_dir).withColumn(
        "grp", (F.col("user_id") % 4).cast("long")
    )
    ev.write.partitionBy("grp").parquet(str(out))
    version_log_enable(spark, str(out))                            # v1
    # out-of-band: rewrite one partition dir in place (clustered)
    part_dir = f"{out}/grp=1"
    sub = spark.read.parquet(part_dir)
    zorder_write(
        spark, sub, str(tmp_path / "oob_tmp"),
        ["user_id", "v_cents"], bits=16, num_files=2,
    )
    import shutil as _sh

    _sh.rmtree(part_dir)
    _sh.copytree(str(tmp_path / "oob_tmp"), part_dir)
    _sh.rmtree(f"{part_dir}/_zorder_meta", ignore_errors=True)
    # next versioned op heals: one reconcile entry, then the append
    append_dataset(
        spark,
        ev.filter(F.col("event_id") < 0),  # empty increment: no v bump
        str(out),
        partition_by=["grp"],
    )
    ops = [e["op"] for e in _vlog_entries(spark, str(out))]
    assert ops == ["init", "reconcile"]
    latest = max(e["version"] for e in _vlog_entries(spark, str(out)))
    got = read_version(spark, str(out), latest)
    assert got.count() == ev.count()
    assert got.filter(F.col("grp") == 1).count() == ev.filter(
        (F.col("user_id") % 4) == 1
    ).count()
    assert dataset_history(spark, str(out)).count() == 2


def test_versioned_upsert_logs_exact_swap(spark, sf_dir, tmp_path):
    """The unpartitioned upsert staging-swap is logged exactly:
    pre-upsert versions stay readable, pending deletion vectors
    survive (op=upsert does not clear them), and a partitioned upsert
    into a FLAT logged layout is rejected loudly (layout mismatch)."""
    from engage_spark.io import upsert_dataset
    from engage_spark.session import local_frame

    out = tmp_path / "vups"
    ev = _events(spark, sf_dir)
    zorder_write(
        spark, ev, str(out), ["user_id", "v_cents"], bits=16, num_files=3
    )
    version_log_enable(spark, str(out))                            # v1
    delete_rows(spark, str(out), [1, 3], "event_id")               # v2
    updates = local_frame(
        spark,
        [(2, 999_999, 0), (10_000_001, 7, 7)],
        "event_id long, user_id long, v_cents long",
    )
    upsert_dataset(spark, str(out), updates, ["event_id"])         # v3
    ops = [e["op"] for e in _vlog_entries(spark, str(out))]
    assert ops == ["init", "logical_delete", "upsert"]
    n = ev.count()
    assert read_version(spark, str(out), 1).count() == n
    # v3 = n - 2 logically deleted + 1 brand-new key (the matched
    # update replaced its row 1:1); the deletion vectors still apply
    v3 = read_version(spark, str(out), 3)
    assert v3.count() == n - 2 + 1
    assert v3.filter(F.col("event_id") == 2).first()["user_id"] == 999_999
    assert v3.filter(F.col("event_id").isin(1, 3)).count() == 0
    assert read_with_deletes(spark, str(out)).count() == n - 2 + 1
    # a partitioned MERGE into this FLAT versioned layout would rename
    # partitioned files in beside flat ones — refused loudly (the
    # versioned partitioned upsert itself is supported since r14, see
    # test_versioned_partitioned_upsert_exact_history)
    with pytest.raises(ValueError, match="does not sit under"):
        upsert_dataset(
            spark, str(out), updates, ["event_id"], partition_by=["user_id"]
        )


def test_change_feed_matches_version_semantics(spark, sf_dir, tmp_path):
    """read_changes emits exactly the per-commit row deltas: inserts
    for the append, deletes for the logical delete, NOTHING for the
    rewrite-only optimize and physical vacuum."""
    from engage_spark.versioning import read_changes

    out = tmp_path / "vcdf"
    ev = _lifecycle(spark, sf_dir, out)
    got = {
        (r["commit_version"], r["change_type"]): (r["n"], r["s"])
        for r in read_changes(spark, str(out), 1)
        .groupBy("commit_version", "change_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("event_id").alias("s"))
        .collect()
    }
    odds = ev.filter(F.col("event_id") % 2 == 1)
    dels = ev.filter(F.col("event_id") % 97 == 0)
    assert got == {
        (2, "insert"): (odds.count(), odds.agg(F.sum("event_id")).first()[0]),
        (3, "delete"): (dels.count(), dels.agg(F.sum("event_id")).first()[0]),
    }


def test_change_feed_incremental_drains_compose(spark, sf_dir, tmp_path):
    """Draining (1,3] then (3,latest] equals one shot (1,latest] —
    the checkpointed-consumer contract — and a mirror maintained from
    the feed converges to the live snapshot content."""
    from engage_spark.versioning import latest_version, read_changes

    out = tmp_path / "vcdf2"
    ev = _lifecycle(spark, sf_dir, out)
    hi = latest_version(spark, str(out))
    one_shot = read_changes(spark, str(out), 1).agg(
        F.count(F.lit(1)), F.sum("event_id"), F.sum("commit_version")
    ).first()
    a = read_changes(spark, str(out), 1, 3)
    b = read_changes(spark, str(out), 3, hi)
    two_step = a.unionByName(b).agg(
        F.count(F.lit(1)), F.sum("event_id"), F.sum("commit_version")
    ).first()
    assert tuple(one_shot) == tuple(two_step)
    # mirror sync: v1 content + feed == live content
    from engage_spark.versioning import read_version

    mirror = read_version(spark, str(out), 1)
    feed = read_changes(spark, str(out), 1)
    versions = sorted(
        r[0] for r in feed.select("commit_version").distinct().collect()
    )
    synced = mirror
    for v in versions:  # a consumer applies commits IN ORDER
        step = feed.filter(F.col("commit_version") == v)
        dels = step.filter(F.col("change_type") == "delete").select("event_id")
        ins = step.filter(F.col("change_type") == "insert").drop(
            "change_type", "commit_version"
        )
        synced = synced.join(dels, on="event_id", how="left_anti").unionByName(
            ins
        )
    live = spark.read.parquet(str(out))
    assert synced.count() == live.count()
    assert (
        synced.agg(F.sum("event_id")).first()[0]
        == live.agg(F.sum("event_id")).first()[0]
    )


def test_change_feed_append_reads_only_appended_files(
    spark, sf_dir, tmp_path
):
    """The append fast path must scan ONLY that version's added files
    — the incremental-cost contract at 100 TB."""
    from engage_spark.versioning import _vlog_entries, read_changes

    out = tmp_path / "vcdf3"
    ev = _events(spark, sf_dir)
    zorder_write(
        spark, ev.filter(F.col("event_id") % 2 == 0), str(out),
        ["user_id", "v_cents"], bits=16, num_files=4,
    )
    version_log_enable(spark, str(out))                            # v1
    zorder_append(
        spark, ev.filter(F.col("event_id") % 2 == 1), str(out), num_files=2
    )                                                              # v2
    feed = read_changes(spark, str(out), 1)
    added = {
        e["added"][i]
        for e in _vlog_entries(spark, str(out))
        if e["op"] == "append"
        for i in range(len(e["added"]))
    }
    scanned = {u.rsplit("/", 1)[1] for u in feed.inputFiles()}
    assert scanned == added and len(scanned) == 2


def test_change_feed_upsert_fallback_and_guards(spark, sf_dir, tmp_path):
    """Upsert versions fall back to the exact file-set diff (updates
    surface as delete+insert pairs); out-of-range drains fail loudly."""
    from engage_spark.io import upsert_dataset
    from engage_spark.session import local_frame
    from engage_spark.versioning import read_changes

    out = tmp_path / "vcdf4"
    ev = _events(spark, sf_dir)
    zorder_write(
        spark, ev, str(out), ["user_id", "v_cents"], bits=16, num_files=3
    )
    version_log_enable(spark, str(out))                            # v1
    updates = local_frame(
        spark,
        [(2, 999_999, 0), (10_000_001, 7, 7)],
        "event_id long, user_id long, v_cents long",
    )
    upsert_dataset(spark, str(out), updates, ["event_id"])         # v2
    got = {
        (r["change_type"], r["event_id"], r["user_id"])
        for r in read_changes(spark, str(out), 1)
        .select("change_type", "event_id", "user_id")
        .collect()
    }
    old_u = ev.filter(F.col("event_id") == 2).first()["user_id"]
    assert got == {
        ("insert", 2, 999_999),
        ("insert", 10_000_001, 7),
        ("delete", 2, old_u),
    }
    with pytest.raises(ValueError, match="change range"):
        read_changes(spark, str(out), 0)
    with pytest.raises(ValueError, match="change range"):
        read_changes(spark, str(out), 1, 99)


def test_sync_mirror_bootstrap_appendonly_and_net_apply(
    spark, sf_dir, tmp_path
):
    """The canonical feed consumer: bootstrap copies the live
    snapshot; an append-only drain appends with no delete machinery;
    a mixed drain (delete + upsert) nets per key and converges the
    mirror to the live content; a re-sync is a no-op."""
    from engage_spark.io import upsert_dataset
    from engage_spark.session import local_frame
    from engage_spark.versioning import sync_mirror

    src, mir = tmp_path / "msrc", tmp_path / "mmir"
    ev = _events(spark, sf_dir)
    evens = ev.filter(F.col("event_id") % 2 == 0)
    zorder_write(
        spark, evens, str(src), ["user_id", "v_cents"], bits=16, num_files=4
    )
    version_log_enable(spark, str(src))                            # v1
    r = sync_mirror(spark, str(src), str(mir), "event_id")
    assert r["from_version"] == 0 and r["to_version"] == 1
    assert spark.read.parquet(str(mir)).count() == evens.count()

    zorder_append(
        spark, ev.filter(F.col("event_id") % 2 == 1), str(src), num_files=2
    )                                                              # v2
    before_files = set(spark.read.parquet(str(mir)).inputFiles())
    r = sync_mirror(spark, str(src), str(mir), "event_id")
    odds_n = ev.count() - evens.count()
    assert (r["inserted"], r["deleted"]) == (odds_n, 0)
    # append-only drain: every pre-drain mirror file survives untouched
    assert before_files <= set(spark.read.parquet(str(mir)).inputFiles())

    delete_rows(
        spark, str(src),
        ev.filter(F.col("event_id") % 97 == 0).select("event_id"),
        "event_id",
    )                                                              # v3
    upsert_dataset(
        spark, str(src),
        local_frame(
            spark,
            [(4, 777_777, 1), (10_000_002, 9, 9)],
            "event_id long, user_id long, v_cents long",
        ),
        ["event_id"],
    )                                                              # v4
    r = sync_mirror(spark, str(src), str(mir), "event_id")
    assert r["to_version"] == 4
    from engage_spark.io import read_with_deletes

    live = read_with_deletes(spark, str(src))
    mirror = read_with_deletes(spark, str(mir))
    assert mirror.count() == live.count()
    assert (
        mirror.agg(F.sum("event_id"), F.sum("user_id")).first()
        == live.agg(F.sum("event_id"), F.sum("user_id")).first()
    )
    assert mirror.filter(F.col("event_id") == 4).first()["user_id"] == 777_777
    # drained up to date -> no-op
    r = sync_mirror(spark, str(src), str(mir), "event_id")
    assert (r["inserted"], r["deleted"]) == (0, 0)


def test_sync_mirror_crash_windows_replay_without_duplicates(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Kill the drain (a) after staging+manifest but before commit,
    and (b) before the manifest — replays must neither duplicate nor
    lose rows, and the checkpoint only advances at commit."""
    from engage_spark import versioning as v_mod
    from engage_spark.versioning import mirror_state, sync_mirror

    src, mir = tmp_path / "csrc", tmp_path / "cmir"
    ev = _events(spark, sf_dir)
    zorder_write(
        spark, ev.filter(F.col("event_id") % 2 == 0), str(src),
        ["user_id", "v_cents"], bits=16, num_files=2,
    )
    version_log_enable(spark, str(src))                            # v1
    sync_mirror(spark, str(src), str(mir), "event_id")             # bootstrap

    # (a) crash between manifest and commit on an append-only drain
    zorder_append(
        spark, ev.filter(F.col("event_id") % 2 == 1), str(src), num_files=2
    )                                                              # v2
    real_commit = v_mod._mirror_commit

    def boom(*a, **kw):
        raise RuntimeError("injected crash before mirror commit")

    monkeypatch.setattr(v_mod, "_mirror_commit", boom)
    with pytest.raises(RuntimeError, match="injected"):
        sync_mirror(spark, str(src), str(mir), "event_id")
    monkeypatch.setattr(v_mod, "_mirror_commit", real_commit)
    # staged but uncommitted: checkpoint unchanged, live mirror reads
    # see no staged rows (the staging dir is _-prefixed)
    assert mirror_state(spark, str(mir)) == 1
    evens = ev.filter(F.col("event_id") % 2 == 0).count()
    assert spark.read.parquet(str(mir)).count() == evens
    # next call replays the pending commit, then no-ops the drain
    r = sync_mirror(spark, str(src), str(mir), "event_id")
    assert mirror_state(spark, str(mir)) == 2
    assert spark.read.parquet(str(mir)).count() == ev.count()
    assert (r["inserted"], r["deleted"]) == (0, 0)  # replay, no re-drain

    # (b) crash BEFORE the manifest (mid-staging) on a mixed drain
    delete_rows(
        spark, str(src),
        ev.filter(F.col("event_id") % 97 == 0).select("event_id"),
        "event_id",
    )                                                              # v3
    real_stage = v_mod._mirror_stage_inserts

    def boom_stage(spark_, path_, ins_, v_, purge=None):
        ins_.limit(1).write.mode("overwrite").parquet(
            f"{path_}/{v_mod._MIRROR_STAGING}"
        )  # partial staging, NO manifest
        raise RuntimeError("injected crash mid-staging")

    monkeypatch.setattr(v_mod, "_mirror_stage_inserts", boom_stage)
    with pytest.raises(RuntimeError, match="mid-staging"):
        sync_mirror(spark, str(src), str(mir), "event_id")
    monkeypatch.setattr(v_mod, "_mirror_stage_inserts", real_stage)
    assert mirror_state(spark, str(mir)) == 2  # nothing committed
    sync_mirror(spark, str(src), str(mir), "event_id")  # full re-drain
    live = read_with_deletes(spark, str(src))
    mirror = spark.read.parquet(str(mir))
    assert mirror.count() == live.count()
    assert (
        mirror.agg(F.sum("event_id")).first()[0]
        == live.agg(F.sum("event_id")).first()[0]
    )


def test_sync_mirror_bootstrap_distributed_preserves_layout(
    spark, sf_dir, tmp_path
):
    """Past _BOOTSTRAP_DRIVER_MAX files the bootstrap copy fans out
    over executors (r13 — closing the serial-driver-loop weak flag):
    every file name survives with identical byte size (boundaries
    preserved), content matches, and a partitioned source mirrors its
    partition dirs exactly."""
    import os

    from engage_spark import versioning as v_mod
    from engage_spark.versioning import sync_mirror

    src, mir = tmp_path / "bsrc", tmp_path / "bmir"
    ev = _events(spark, sf_dir).withColumn(
        "grp", (F.col("user_id") % 6).cast("long")
    )
    # partitioned with several files per partition -> well past the
    # driver-loop threshold
    ev.repartition(4).write.partitionBy("grp").parquet(str(src))
    version_log_enable(spark, str(src))                            # v1
    n_files = len(spark.read.parquet(str(src)).inputFiles())
    assert n_files > v_mod._BOOTSTRAP_DRIVER_MAX

    sync_mirror(spark, str(src), str(mir), "event_id")             # bootstrap

    def _sizes(root):
        out = {}
        for dirp, _dirs, files in os.walk(root):
            for f in files:
                if f.startswith("_") or f.startswith("."):
                    continue
                full = os.path.join(dirp, f)
                out[os.path.relpath(full, root)] = os.path.getsize(full)
        return out

    src_sizes = {
        k: v for k, v in _sizes(str(src)).items()
        if not k.startswith("_")
    }
    mir_sizes = {
        k: v for k, v in _sizes(str(mir)).items()
        if not k.startswith("_")
    }
    assert src_sizes == mir_sizes  # names, subpaths AND byte sizes
    m = spark.read.parquet(str(mir))
    assert m.count() == ev.count()
    assert (
        m.agg(F.sum("event_id"), F.sum("grp")).first()
        == ev.agg(F.sum("event_id"), F.sum("grp")).first()
    )


def test_sync_mirror_mixed_drain_crash_after_manifest_before_purge(
    spark, sf_dir, tmp_path, monkeypatch
):
    """ADVICE r12 (high): a crash AFTER the manifest lands but BEFORE
    the purge applies must not lose the drain's deletes — the purge
    key set is staged durably with the inserts, and the replay
    re-applies it from there (exactly once, before any insert file
    moves in). The old shape advanced the checkpoint with the deletes
    gone forever, leaving updated keys duplicated."""
    from engage_spark import versioning as v_mod
    from engage_spark.io import upsert_dataset
    from engage_spark.session import local_frame
    from engage_spark.versioning import mirror_state, sync_mirror

    src, mir = tmp_path / "psrc", tmp_path / "pmir"
    ev = _events(spark, sf_dir)
    zorder_write(
        spark, ev, str(src), ["user_id", "v_cents"], bits=16, num_files=2
    )
    version_log_enable(spark, str(src))                            # v1
    sync_mirror(spark, str(src), str(mir), "event_id")             # bootstrap

    # mixed drain: a takedown batch + an update of key 4
    delete_rows(
        spark, str(src),
        ev.filter(F.col("event_id") % 97 == 0).select("event_id"),
        "event_id",
    )                                                              # v2
    upsert_dataset(
        spark, str(src),
        local_frame(
            spark, [(4, 424_242, 7)],
            "event_id long, user_id long, v_cents long",
        ),
        ["event_id"],
    )                                                              # v3

    real_purge = v_mod._mirror_apply_purge

    def boom_purge(*a, **kw):
        raise RuntimeError("injected crash before purge")

    monkeypatch.setattr(v_mod, "_mirror_apply_purge", boom_purge)
    with pytest.raises(RuntimeError, match="before purge"):
        sync_mirror(spark, str(src), str(mir), "event_id")
    monkeypatch.setattr(v_mod, "_mirror_apply_purge", real_purge)
    # checkpoint unmoved; the purge key set is durably staged
    assert mirror_state(spark, str(mir)) == 1
    pfs_path = f"{mir}/{v_mod._MIRROR_PURGE}"
    assert spark.read.parquet(pfs_path).count() > 0

    # replay converges: deletes applied, update key not duplicated
    sync_mirror(spark, str(src), str(mir), "event_id")
    live = read_with_deletes(spark, str(src))
    mirror = spark.read.parquet(str(mir))
    assert mirror.count() == live.count()
    assert mirror.filter(F.col("event_id") == 4).count() == 1
    assert (
        mirror.filter(F.col("event_id") == 4).first()["user_id"] == 424_242
    )
    assert mirror.filter(F.col("event_id") % 97 == 0).count() == 0
    assert (
        mirror.agg(F.sum("event_id")).first()[0]
        == live.agg(F.sum("event_id")).first()[0]
    )


def test_sync_mirror_stale_purge_marker_cannot_suppress_next_purge(
    spark, sf_dir, tmp_path
):
    """r13 review: a crash in _mirror_commit's cleanup tail (manifest
    deleted, `_purge_done` marker not yet) must not make the NEXT
    netting drain skip its purge — staging a new drain removes the
    stale marker before its manifest can exist."""
    from engage_spark import versioning as v_mod
    from engage_spark.versioning import sync_mirror

    src, mir = tmp_path / "smsrc", tmp_path / "smmir"
    ev = _events(spark, sf_dir)
    zorder_write(
        spark, ev, str(src), ["user_id", "v_cents"], bits=16, num_files=2
    )
    version_log_enable(spark, str(src))                            # v1
    sync_mirror(spark, str(src), str(mir), "event_id")             # bootstrap
    # simulate the crash residue: a stale marker with no manifest
    fs, done = v_mod._fs(spark, f"{mir}/{v_mod._MIRROR_PURGE_DONE}")
    out = fs.create(done, True)
    out.close()
    # a netting drain (takedown) must still purge
    delete_rows(
        spark, str(src),
        ev.filter(F.col("event_id") % 97 == 0).select("event_id"),
        "event_id",
    )                                                              # v2
    r = sync_mirror(spark, str(src), str(mir), "event_id")
    assert r["deleted"] > 0, "stale marker suppressed the purge"
    m = spark.read.parquet(str(mir))
    assert m.filter(F.col("event_id") % 97 == 0).count() == 0
    assert m.count() == read_with_deletes(spark, str(src)).count()
    assert not fs.exists(done)  # cleaned up by the commit


def test_sync_mirror_duplicate_live_keys_raise(spark, sf_dir, tmp_path):
    """The netting window keeps one row per key, so a drain whose net
    effect is >1 live row for one key (duplicate-key appends never
    separated by a delete) must raise, not silently collapse."""
    from engage_spark.session import local_frame
    from engage_spark.versioning import sync_mirror

    src, mir = tmp_path / "dsrc", tmp_path / "dmir"
    ev = _events(spark, sf_dir)
    zorder_write(
        spark, ev, str(src), ["user_id", "v_cents"], bits=16, num_files=2
    )
    version_log_enable(spark, str(src))                            # v1
    sync_mirror(spark, str(src), str(mir), "event_id")             # bootstrap
    # duplicate-key append (twice, so the drain is NOT append-only —
    # force the netting path with an unrelated takedown)
    dup = local_frame(
        spark, [(2, 1, 1)], "event_id long, user_id long, v_cents long"
    )
    zorder_append(spark, dup, str(src), num_files=1)               # v2
    zorder_append(spark, dup, str(src), num_files=1)               # v3
    delete_rows(
        spark, str(src),
        local_frame(spark, [(6,)], "event_id long"), "event_id",
    )                                                              # v4
    with pytest.raises(ValueError, match="unique keys"):
        sync_mirror(spark, str(src), str(mir), "event_id")


def test_sync_rollup_incremental_matches_recompute(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The maintained rollup equals a fresh aggregate after append +
    delete + upsert drains; a crash between staging and commit leaves
    the checkpoint put and replays exactly once; an up-to-date sync
    is a no-op."""
    from engage_spark import versioning as v_mod
    from engage_spark.io import read_with_deletes, upsert_dataset
    from engage_spark.session import local_frame
    from engage_spark.versioning import mirror_state, sync_rollup

    src, mv = tmp_path / "rsrc", tmp_path / "rmv"
    ev = _events(spark, sf_dir).withColumn(
        "grp", (F.col("user_id") % 8).cast("long")
    )
    zorder_write(
        spark, ev.filter(F.col("event_id") % 2 == 0), str(src),
        ["user_id", "v_cents"], bits=16, num_files=3,
    )
    version_log_enable(spark, str(src))                            # v1
    r = sync_rollup(spark, str(src), str(mv), ["grp"], ["v_cents"])
    assert r["from_version"] == 0 and r["groups"] == 8

    zorder_append(
        spark, ev.filter(F.col("event_id") % 2 == 1), str(src), num_files=2
    )                                                              # v2
    delete_rows(
        spark, str(src),
        ev.filter(F.col("event_id") % 97 == 0).select("event_id"),
        "event_id",
    )                                                              # v3
    upsert_dataset(
        spark, str(src),
        local_frame(
            spark,
            [(4, 12, 999_999, 4)],
            "event_id long, user_id long, v_cents long, grp long",
        ),
        ["event_id"],
    )                                                              # v4

    # crash between the staged generation and its commit
    real_commit = v_mod._rollup_commit

    def boom(*a, **kw):
        raise RuntimeError("injected crash before rollup commit")

    monkeypatch.setattr(v_mod, "_rollup_commit", boom)
    with pytest.raises(RuntimeError, match="injected"):
        sync_rollup(spark, str(src), str(mv), ["grp"], ["v_cents"])
    monkeypatch.setattr(v_mod, "_rollup_commit", real_commit)
    assert mirror_state(spark, str(mv)) == 1  # checkpoint unmoved

    r = sync_rollup(spark, str(src), str(mv), ["grp"], ["v_cents"])
    assert r["to_version"] == 4
    got = {
        row["grp"]: (row["n"], row["sum_v_cents"])
        for row in spark.read.parquet(str(mv)).collect()
    }
    want = {
        row["grp"]: (row["n"], row["s"])
        for row in read_with_deletes(spark, str(src))
        .withColumn("grp", (F.col("user_id") % 8).cast("long"))
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("v_cents").cast("long").alias("s"),
        )
        .collect()
    }
    assert got == want
    # drained up to date -> no-op
    r = sync_rollup(spark, str(src), str(mv), ["grp"], ["v_cents"])
    assert r["groups"] is None


def test_sync_mirror_partitioned_source_keeps_layout(
    spark, sf_dir, tmp_path
):
    """Mirroring a hive-partitioned source: the bootstrap copies the
    partition dirs 1:1, an append-only drain stages partitionBy and
    lands inside them, and a netting drain (delete + append) purges
    through the partition-aware vacuum — the mirror NEVER grows a
    flat file beside its partition dirs (which would make plain reads
    silently drop the partitioned corpus — caught r13)."""
    import os

    from engage_spark.io import append_dataset, read_with_deletes
    from engage_spark.versioning import sync_mirror

    src, mir = tmp_path / "ppsrc", tmp_path / "ppmir"
    ev = _events(spark, sf_dir).withColumn(
        "grp", (F.col("user_id") % 4).cast("long")
    )
    evens = ev.filter(F.col("event_id") % 2 == 0)
    evens.write.partitionBy("grp").parquet(str(src))
    version_log_enable(spark, str(src))                            # v1
    sync_mirror(spark, str(src), str(mir), "event_id")             # bootstrap

    def _no_root_files(root):
        return not [
            f for f in os.listdir(root)
            if not f.startswith(("_", ".")) and
            os.path.isfile(os.path.join(root, f))
        ]

    # append-only drain
    append_dataset(
        spark,
        ev.filter(F.col("event_id") % 4 == 1),
        str(src),
        partition_by=["grp"],
    )                                                              # v2
    sync_mirror(spark, str(src), str(mir), "event_id")
    assert _no_root_files(str(mir))
    # netting drain: takedown + another partitioned append
    delete_rows(
        spark, str(src),
        ev.filter(F.col("event_id") % 97 == 0).select("event_id"),
        "event_id",
    )                                                              # v3
    append_dataset(
        spark,
        ev.filter(F.col("event_id") % 4 == 3),
        str(src),
        partition_by=["grp"],
    )                                                              # v4
    sync_mirror(spark, str(src), str(mir), "event_id")
    assert _no_root_files(str(mir))
    m = spark.read.parquet(str(mir))
    live = read_with_deletes(spark, str(src))
    assert m.count() == live.count()
    assert "grp" in m.columns
    assert m.filter(F.col("grp").isNull()).count() == 0
    assert m.filter(F.col("grp") != F.col("user_id") % 4).count() == 0
    assert (
        m.agg(F.sum("event_id")).first()[0]
        == live.agg(F.sum("event_id")).first()[0]
    )


def test_cdf_consumers_survive_schema_evolution_mid_feed(
    spark, sf_dir, tmp_path
):
    """A column appears between two drains (the s11 mergeSchema
    evolution): the change feed unions tolerantly, the mirror
    converges with NULLs for pre-evolution rows (readable via
    mergeSchema), and a rollup over a pre-evolution column is
    unaffected — no consumer needs a backfill to keep draining."""
    from engage_spark.io import append_dataset, read_with_deletes
    from engage_spark.versioning import sync_mirror, sync_rollup

    src = tmp_path / "esrc"
    mir = tmp_path / "emir"
    mv = tmp_path / "emv"
    ev = _events(spark, sf_dir).withColumn(
        "grp", (F.col("user_id") % 4).cast("long")
    )
    evens = ev.filter(F.col("event_id") % 2 == 0)
    odds = ev.filter(F.col("event_id") % 2 == 1)
    evens.write.parquet(str(src))
    version_log_enable(spark, str(src))                            # v1
    sync_mirror(spark, str(src), str(mir), "event_id")             # bootstrap
    sync_rollup(spark, str(src), str(mv), ["grp"], ["v_cents"])    # bootstrap
    # EVOLUTION: the second generation carries a new `quality` column
    append_dataset(
        spark,
        odds.withColumn(
            "quality", (F.col("event_id") % 100).cast("double") / 100
        ),
        str(src),
    )                                                              # v2
    delete_rows(
        spark, str(src),
        ev.filter(F.col("event_id") % 97 == 0).select("event_id"),
        "event_id",
    )                                                              # v3 (netting drain)
    sync_mirror(spark, str(src), str(mir), "event_id")
    sync_rollup(spark, str(src), str(mv), ["grp"], ["v_cents"])

    live_n = ev.filter(F.col("event_id") % 97 != 0).count()
    m = spark.read.option("mergeSchema", "true").parquet(str(mir))
    assert m.count() == live_n
    assert "quality" in m.columns
    # pre-evolution rows surface NULL; post-evolution rows keep values
    assert (
        m.filter(F.col("event_id") % 2 == 0)
        .filter(F.col("quality").isNotNull()).count() == 0
    )
    odd_live = odds.filter(F.col("event_id") % 97 != 0).count()
    assert (
        m.filter(F.col("quality").isNotNull()).count() == odd_live
    )
    # the rollup over the pre-evolution column matches a fresh compute
    got = {
        r["grp"]: (r["n"], r["sum_v_cents"])
        for r in spark.read.parquet(str(mv)).collect()
    }
    want = {
        r["grp"]: (r["n"], r["s"])
        for r in read_with_deletes(spark, str(src))
        .withColumn("grp", (F.col("user_id") % 4).cast("long"))
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("v_cents").cast("long").alias("s"),
        )
        .collect()
    }
    assert got == want


def test_sync_rollup_minmax_recompute_tier(spark, sf_dir, tmp_path):
    """MIN/MAX maintained through appends AND deletes via the
    touched-group recompute: after a drain that deletes a group's
    current minimum, the stored min must equal the runner-up (a pure
    delta could never recover it); untouched groups keep their stored
    values; a fully-deleted group drops out."""
    from engage_spark.io import read_with_deletes
    from engage_spark.session import local_frame
    from engage_spark.versioning import sync_rollup

    src, mv = tmp_path / "mmsrc", tmp_path / "mmmv"
    ev = _events(spark, sf_dir).withColumn(
        "grp", (F.col("user_id") % 8).cast("long")
    )
    zorder_write(
        spark, ev.filter(F.col("event_id") % 2 == 0), str(src),
        ["user_id", "v_cents"], bits=16, num_files=3,
    )
    version_log_enable(spark, str(src))                            # v1
    sync_rollup(
        spark, str(src), str(mv), ["grp"], ["v_cents"],
        minmax_cols=["v_cents"],
    )
    # delete the global minimum rows of grp 0 (forces runner-up
    # recovery) plus a broad %97 takedown; append odds too
    zorder_append(
        spark, ev.filter(F.col("event_id") % 2 == 1), str(src),
        num_files=2,
    )                                                              # v2
    cur0_min = (
        read_with_deletes(spark, str(src))
        .withColumn("grp", (F.col("user_id") % 8).cast("long"))
        .filter(F.col("grp") == 0)
        .agg(F.min("v_cents"))
        .first()[0]
    )
    doomed = (
        read_with_deletes(spark, str(src))
        .withColumn("grp", (F.col("user_id") % 8).cast("long"))
        .filter((F.col("grp") == 0) & (F.col("v_cents") == cur0_min))
        .select("event_id")
    )
    delete_rows(spark, str(src), doomed, "event_id")               # v3
    delete_rows(
        spark, str(src),
        ev.filter(F.col("event_id") % 97 == 0).select("event_id"),
        "event_id",
    )                                                              # v4
    sync_rollup(
        spark, str(src), str(mv), ["grp"], ["v_cents"],
        minmax_cols=["v_cents"],
    )
    got = {
        r["grp"]: (r["n"], r["sum_v_cents"], r["min_v_cents"], r["max_v_cents"])
        for r in spark.read.parquet(str(mv)).collect()
    }
    want = {
        r["grp"]: (r["n"], r["s"], r["mn"], r["mx"])
        for r in read_with_deletes(spark, str(src))
        .withColumn("grp", (F.col("user_id") % 8).cast("long"))
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("v_cents").cast("long").alias("s"),
            F.min("v_cents").alias("mn"),
            F.max("v_cents").alias("mx"),
        )
        .collect()
    }
    assert got == want
    assert want[0][2] > cur0_min  # the min really did move up


def test_sync_mirror_stream_tails_the_log(spark, sf_dir, tmp_path):
    """The streaming tail drains on committed versions: first run
    replicates the bootstrap state, source-side commits are picked up
    by the next availableNow pass, and a re-run with nothing new is a
    no-op (sync_mirror's own checkpoint, not stream state, is the
    source of truth)."""
    from engage_spark.versioning import (
        mirror_state,
        sync_mirror,
        sync_mirror_stream,
    )

    src, mir = tmp_path / "ssrc", tmp_path / "smir"
    ckpt = str(tmp_path / "sckpt")
    ev = _events(spark, sf_dir)
    zorder_write(
        spark,
        ev.filter(F.col("event_id") % 2 == 0), str(src),
        ["user_id", "v_cents"], bits=16, num_files=2,
    )
    version_log_enable(spark, str(src))                            # v1
    sync_mirror(spark, str(src), str(mir), "event_id")             # bootstrap
    q = sync_mirror_stream(spark, str(src), str(mir), "event_id", ckpt)
    q.awaitTermination()
    assert mirror_state(spark, str(mir)) == 1
    # source moves on: append + logical delete
    zorder_append(
        spark, ev.filter(F.col("event_id") % 2 == 1), str(src), num_files=2
    )                                                              # v2
    delete_rows(
        spark, str(src),
        ev.filter(F.col("event_id") % 97 == 0).select("event_id"),
        "event_id",
    )                                                              # v3
    q = sync_mirror_stream(spark, str(src), str(mir), "event_id", ckpt)
    q.awaitTermination()
    assert mirror_state(spark, str(mir)) == 3
    live = read_with_deletes(spark, str(src))
    mirror = spark.read.parquet(str(mir))
    assert mirror.count() == live.count()
    assert (
        mirror.agg(F.sum("event_id")).first()[0]
        == live.agg(F.sum("event_id")).first()[0]
    )
    # nothing new committed -> the tail finds no files and the mirror
    # checkpoint stays put
    q = sync_mirror_stream(spark, str(src), str(mir), "event_id", ckpt)
    q.awaitTermination()
    assert mirror_state(spark, str(mir)) == 3


def test_snapshot_checkpoints_interleave_transparently(
    spark, sf_dir, tmp_path, monkeypatch
):
    """With the every-K snapshot checkpoint forced small, the full
    lifecycle still reconstructs every version exactly, the change
    feed emits nothing for snapshot entries, the diff is unchanged,
    and replay starts from the latest checkpoint (pinned by replaying
    with the pre-snapshot entries truncated away)."""
    from engage_spark import versioning as v_mod
    from engage_spark.versioning import _replay_files, read_changes

    monkeypatch.setattr(v_mod, "_SNAPSHOT_EVERY", 2)
    out = tmp_path / "vsnap"
    ev = _lifecycle(spark, sf_dir, out)
    entries = _vlog_entries(spark, str(out))
    ops = [e["op"] for e in entries]
    assert "snapshot" in ops, ops
    n, n_even = ev.count(), ev.filter(F.col("event_id") % 2 == 0).count()
    n_del = ev.filter(F.col("event_id") % 97 == 0).count()
    # the five lifecycle ops sit among the snapshots; find them by op
    by_op = {e["op"]: e["version"] for e in entries}
    assert read_version(spark, str(out), by_op["init"]).count() == n_even
    assert read_version(spark, str(out), by_op["append"]).count() == n
    assert (
        read_version(spark, str(out), by_op["logical_delete"]).count()
        == n - n_del
    )
    latest = entries[-1]["version"]
    assert read_version(spark, str(out), latest).count() == n - n_del
    # a snapshot version reads identically to its predecessor
    snap_v = next(e["version"] for e in entries if e["op"] == "snapshot")
    assert (
        read_version(spark, str(out), snap_v).count()
        == read_version(spark, str(out), snap_v - 1).count()
    )
    # feed: snapshots emit nothing (insert/delete counts unchanged)
    feed = read_changes(spark, str(out), since_version=by_op["init"])
    got = {
        row["change_type"]: row["cnt"]
        for row in feed.groupBy("change_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    assert got == {"insert": n - n_even, "delete": n_del}
    # replay truly starts at the checkpoint: drop every entry before
    # the last snapshot <= latest and the file set must be identical
    last_snap_i = max(
        i for i, e in enumerate(entries) if e["op"] == "snapshot"
        and e["version"] <= latest
    )
    assert _replay_files(entries, latest) == _replay_files(
        entries[last_snap_i:], latest
    )


def test_vacuum_appends_snapshot_checkpoint(spark, sf_dir, tmp_path):
    """vacuum_versions leaves a snapshot checkpoint behind (unless the
    auto one just fired), compaction preserves it, and in-horizon
    reads still resolve."""
    from engage_spark.versioning import _live_names

    out = tmp_path / "vsnapvac"
    _lifecycle(spark, sf_dir, out)                                 # v1..v5
    vacuum_versions(spark, str(out), keep_last=2)
    entries = _vlog_entries(spark, str(out))
    assert entries[-1]["op"] == "snapshot"
    assert sorted(entries[-1]["added"]) == _live_names(spark, str(out))
    live = spark.read.parquet(str(out)).count()
    assert read_version(spark, str(out), entries[-1]["version"]).count() == live


def test_partitioned_corpus_history_example(spark, sf_dir, tmp_path):
    """The examples/ script composes the r13 partitioned version stack
    end-to-end over real testdata (its internal asserts are the
    contract; this smoke just runs them)."""
    from examples.partitioned_corpus_history import run

    out = run(spark, sf_dir, str(tmp_path / "pch"))
    assert out["versions"] >= 6
    assert out["live_rows"] > 0
    assert set(out["feed"]) == {"insert", "delete"}


def test_timestamp_time_travel_and_age_retention(spark, sf_dir, tmp_path):
    """Commit timestamps (r13): every entry is stamped; time travel by
    wall-clock resolves to the latest version at-or-before the
    instant; vacuum's keep_seconds window retains everything younger
    regardless of keep_last."""
    from engage_spark.versioning import dataset_history, read_version_at

    out = tmp_path / "vts"
    ev = _lifecycle(spark, sf_dir, out)                            # v1..v5
    hist = {
        r["version"]: r["ts_unix"]
        for r in dataset_history(spark, str(out)).collect()
    }
    assert all(ts is not None for ts in hist.values())
    assert list(hist.values()) == sorted(hist.values())  # monotonic
    n, n_even = ev.count(), ev.filter(F.col("event_id") % 2 == 0).count()
    n_del = ev.filter(F.col("event_id") % 97 == 0).count()
    # at v1's instant: v1 (or any same-second later commit) content;
    # resolve by asking for exactly each version's stamp and checking
    # the returned frame matches read_version of the RESOLVED version
    got = read_version_at(spark, str(out), hist[1])
    resolved = max(v for v, ts in hist.items() if ts <= hist[1])
    assert got.count() == read_version(spark, str(out), resolved).count()
    # far future = latest
    assert (
        read_version_at(spark, str(out), hist[5] + 10_000).count()
        == n - n_del
    )
    with pytest.raises(ValueError, match="no version"):
        read_version_at(spark, str(out), hist[1] - 10_000)
    # age window covers everything -> nothing dropped even with an
    # aggressive keep_last
    r = vacuum_versions(spark, str(out), keep_last=1, keep_seconds=86_400)
    assert r["dropped"] == 0 and r["horizon"] == 1
    assert read_version(spark, str(out), 1).count() == n_even


def test_vacuum_compacts_log_parts(spark, sf_dir, tmp_path):
    """The append-per-version log parts collapse to one file at
    vacuum time; entries survive byte-exact (dedup by version makes
    the append-then-delete window crash-safe)."""
    import glob

    from engage_spark.versioning import _vlog_compact

    out = tmp_path / "vlogc"
    ev = _events(spark, sf_dir)
    zorder_write(
        spark, ev, str(out), ["user_id", "v_cents"], bits=16, num_files=2
    )
    version_log_enable(spark, str(out))                            # v1
    for i in range(9):                                             # v2..v10
        delete_rows(spark, str(out), [1_000_000 + i], "event_id")
    before = _vlog_entries(spark, str(out))
    assert len(before) == 10
    n_parts = len(glob.glob(f"{out}/_versions/log/part-*"))
    assert n_parts >= 10
    r = vacuum_versions(spark, str(out), keep_last=20)
    assert r["log_compacted"] is True
    # vacuum itself appended its vacuum_log entry, so <= 2 parts remain
    assert len(glob.glob(f"{out}/_versions/log/part-*")) <= 2
    after = _vlog_entries(spark, str(out))
    assert after[:10] == before
    assert after[-2]["op"] == "vacuum_log"
    assert after[-1]["op"] == "snapshot"  # vacuum leaves a checkpoint
    # a second compact below the threshold is a no-op
    assert _vlog_compact(spark, str(out)) is False


def test_restore_version_multikey_pending_deletes(spark, sf_dir, tmp_path):
    """RESTORE to a version with pending deletion vectors on TWO key
    columns (VERDICT r13 #4): instead of raising, the restore commits
    the first key's union batch on its own entry and each additional
    key as one logical_delete entry right behind — the returned
    version reads exactly like the target, live reads agree, and the
    multi-key `_deletes` sidecar applies per key column."""
    from engage_spark.versioning import restore_version

    out = tmp_path / "vmk"
    ev = _events(spark, sf_dir)
    zorder_write(
        spark, ev.filter(F.col("event_id") % 2 == 0), str(out),
        ["user_id", "v_cents"], bits=16, num_files=4,
    )
    version_log_enable(spark, str(out))                            # v1
    zorder_append(
        spark, ev.filter(F.col("event_id") % 2 == 1), str(out), num_files=4
    )                                                              # v2
    delete_rows(
        spark, str(out),
        ev.filter(F.col("event_id") % 97 == 0).select("event_id"),
        "event_id",
    )                                                              # v3
    delete_rows(
        spark, str(out),
        ev.filter(F.col("user_id") % 89 == 0)
        .select("user_id").dropDuplicates(),
        "user_id",
    )                                                              # v4
    # the live multi-key sidecar already reads correctly
    vis_v4 = ev.filter(
        (F.col("event_id") % 97 != 0) & (F.col("user_id") % 89 != 0)
    ).count()
    assert read_with_deletes(spark, str(out)).count() == vis_v4
    apply_deletes(spark, str(out))                                 # v5
    assert spark.read.parquet(str(out)).count() == vis_v4
    # restore to v4: both key columns' DVs must come back pending
    got = restore_version(spark, str(out), 4)
    ops = [e["op"] for e in _vlog_entries(spark, str(out))]
    assert ops[-2:] == ["restore", "logical_delete"]
    assert got == _vlog_entries(spark, str(out))[-1]["version"]
    assert read_version(spark, str(out), got).count() == vis_v4
    assert read_with_deletes(spark, str(out)).count() == vis_v4
    # the re-recorded sidecar applies physically too (multi-key
    # apply_deletes path) and converges to the same visible set
    apply_deletes(spark, str(out))
    assert spark.read.parquet(str(out)).count() == vis_v4


def test_restore_preflight_checks_dv_batches(spark, sf_dir, tmp_path):
    """Pre-flight (ADVICE r13): a restore whose target needs a
    vacuumed deletion-vector batch must fail with the retention error
    BEFORE any file moves — never leave the rolled-back file set live
    with taken-down rows resurfacing."""
    from engage_spark.io import _hadoop_fs
    from engage_spark.versioning import _VRETAINED, restore_version

    out = tmp_path / "vpre"
    _lifecycle(spark, sf_dir, out)                                 # v1..v5
    live_before = sorted(spark.read.parquet(str(out)).inputFiles())
    # simulate an over-aggressive vacuum: drop the v3 DV batch that
    # version 4 (delete pending, pre-apply) still needs
    bfs, bp = _hadoop_fs(spark, f"{out}/{_VRETAINED}/deletes_v3")
    assert bfs.exists(bp)
    bfs.delete(bp, True)
    with pytest.raises(ValueError, match="deletes_v3"):
        restore_version(spark, str(out), 4)
    # nothing moved: the live file set is untouched
    assert sorted(spark.read.parquet(str(out)).inputFiles()) == live_before


def test_versioned_partitioned_upsert_exact_history(spark, sf_dir, tmp_path):
    """r14 (VERDICT r13 missing #1): a hive-partitioned MERGE on a
    version-logged dataset commits as ONE exact `upsert` entry —
    touched partitions' files retained, staged files renamed in — so
    time travel across it is exact (no reconcile), untouched
    partitions' files are not even logged, and CDF consumers see
    row-level changes, not a file-set reconcile diff."""
    from engage_spark.io import upsert_dataset, write_parquet
    from engage_spark.session import local_frame
    from engage_spark.versioning import read_changes

    d = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "lang", "n_chars")
    )
    out = tmp_path / "vpu"
    write_parquet(d, str(out), partition_by=["lang"])
    version_log_enable(spark, str(out))                            # v1
    langs = [r[0] for r in d.select("lang").distinct().collect()]
    untouched_lang = sorted(langs)[-1]
    # batch: metadata update (%10, not untouched_lang), one brand-new
    # partition insert, and delete EVERY row of the first lang
    # (emptying that partition)
    emptied_lang = sorted(langs)[0]
    upd = (
        d.filter((F.col("doc_id") % 10 == 0)
                 & (F.col("lang") != untouched_lang)
                 & (F.col("lang") != emptied_lang))
        .withColumn("n_chars", (F.col("n_chars") + 5).cast("long"))
        .withColumn("is_delete", F.lit(False))
    )
    ins = local_frame(
        spark, [(9_000_001, "zz", 11)],
        "doc_id long, lang string, n_chars long",
    ).withColumn("is_delete", F.lit(False))
    dels = d.filter(F.col("lang") == emptied_lang).withColumn(
        "is_delete", F.lit(True)
    )
    before_untouched = sorted(
        f for f in spark.read.parquet(str(out)).inputFiles()
        if f"lang={untouched_lang}/" in f
    )
    stats = upsert_dataset(
        spark, str(out),
        upd.unionByName(ins).unionByName(dels),
        ["doc_id"], partition_by=["lang"], delete_col="is_delete",
    )                                                              # v2
    assert stats["emptied_partitions"] == 1
    entries = _vlog_entries(spark, str(out))
    assert [e["op"] for e in entries] == ["init", "upsert"]
    # untouched partition: logged in NEITHER side of the entry, files
    # byte-identical on disk
    assert not any(
        f"lang={untouched_lang}/" in n
        for n in entries[-1]["added"] + entries[-1]["removed"]
    )
    after_untouched = sorted(
        f for f in spark.read.parquet(str(out)).inputFiles()
        if f"lang={untouched_lang}/" in f
    )
    assert after_untouched == before_untouched
    # exact time travel both sides
    n0 = d.count()
    assert read_version(spark, str(out), 1).count() == n0
    n_del = dels.count()
    n_ins = 1
    live = spark.read.parquet(str(out))
    assert live.count() == n0 - n_del + n_ins
    assert read_version(spark, str(out), 2).count() == live.count()
    # emptied partition gone live, still present at v1
    assert live.filter(F.col("lang") == emptied_lang).count() == 0
    assert (
        read_version(spark, str(out), 1)
        .filter(F.col("lang") == emptied_lang).count() == n_del
    )
    # CDF: row-level changes — updated keys appear as delete(old)+
    # insert(new), deleted keys as delete, the insert as insert, and
    # NO row from an un-updated key in a touched partition leaks in
    feed = read_changes(spark, str(out), 1).persist()
    n_upd = upd.count()
    ins_feed = feed.filter(F.col("change_type") == "insert")
    del_feed = feed.filter(F.col("change_type") == "delete")
    assert ins_feed.count() == n_upd + n_ins
    assert del_feed.count() == n_upd + n_del
    # a touched-partition row whose key was NOT in the batch cancels
    touched_not_updated = d.filter(
        (F.col("doc_id") % 10 != 0)
        & (F.col("lang") != untouched_lang)
        & (F.col("lang") != emptied_lang)
    ).select("doc_id")
    assert feed.join(
        touched_not_updated, on="doc_id", how="left_semi"
    ).count() == 0
    # updated rows carry the new values on the insert side
    assert ins_feed.filter(
        (F.col("doc_id") % 10 == 0) & (F.col("lang") != "zz")
    ).join(
        d.withColumnRenamed("n_chars", "old_chars"),
        on=["doc_id", "lang"],
    ).filter(F.col("n_chars") != F.col("old_chars") + 5).count() == 0
    feed.unpersist()


def test_read_snapshot_isolated_from_concurrent_maintenance(
    spark, sf_dir, tmp_path
):
    """read_snapshot (r14): a reader pins one committed version and
    keeps reading EXACTLY it while maintenance (optimize, takedown,
    apply, restore) moves live files underneath — re-resolving at the
    pinned version after each op returns byte-identical content
    (files re-resolve to retained/), and a fresh read_snapshot tracks
    the new latest. This is the documented alternative to plain path
    reads, which are unsafe under concurrent maintenance (torn file
    set / FileNotFound mid-scan)."""
    from engage_spark.versioning import (
        latest_version,
        read_snapshot,
        restore_version,
    )

    out = tmp_path / "vsnap"
    ev = _events(spark, sf_dir)
    zorder_write(
        spark, ev, str(out), ["user_id", "v_cents"], bits=16, num_files=4
    )
    version_log_enable(spark, str(out))                            # v1
    snap, v_pin = read_snapshot(spark, str(out))
    assert v_pin == 1
    pinned_sum = snap.agg(F.sum("event_id")).first()[0]
    n = ev.count()
    assert snap.count() == n
    # interleave maintenance that MOVES live files: takedown + physical
    # apply (victim rewrite), then a restore (more renames)
    delete_rows(
        spark, str(out),
        ev.filter(F.col("event_id") % 5 == 0).select("event_id"),
        "event_id",
    )                                                              # v2
    apply_deletes(spark, str(out))                                 # v3
    # the pinned version re-resolves to the SAME consistent content —
    # its files moved to retained/ but the version is intact
    again = read_version(spark, str(out), v_pin)
    assert again.count() == n
    assert again.agg(F.sum("event_id")).first()[0] == pinned_sum
    # a fresh snapshot tracks the new latest, also consistent
    snap3, v3 = read_snapshot(spark, str(out))
    assert v3 == latest_version(spark, str(out))
    n_live = ev.filter(F.col("event_id") % 5 != 0).count()
    assert snap3.count() == n_live
    # one more maintenance generation: roll back, re-check both pins
    restore_version(spark, str(out), v_pin)                        # v4
    assert read_version(spark, str(out), v_pin).count() == n
    assert read_version(spark, str(out), v3).count() == n_live
    snap4, v4 = read_snapshot(spark, str(out))
    assert v4 == 4 and snap4.count() == n


def test_version_diff_across_schema_evolution(spark, sf_dir, tmp_path):
    """version_diff spanning an s11-style column addition (r14): both
    sides align on the union schema with typed NULLs — the documented
    diff shape instead of a Spark analysis error. Rows common to both
    versions (identical in every shared column, NULL in the new one on
    both sides) cancel; the diff is exactly the appended rows."""
    from engage_spark.io import append_dataset

    src = tmp_path / "vdse"
    ev = _events(spark, sf_dir)
    evens = ev.filter(F.col("event_id") % 2 == 0)
    odds = ev.filter(F.col("event_id") % 2 == 1)
    evens.write.parquet(str(src))
    version_log_enable(spark, str(src))                            # v1
    append_dataset(
        spark,
        odds.withColumn(
            "quality", (F.col("event_id") % 100).cast("double") / 100
        ),
        str(src),
    )                                                              # v2
    d = version_diff(spark, str(src), 1, 2)
    assert "quality" in d.columns and "change" in d.columns
    rows = d.groupBy("change").agg(
        F.count(F.lit(1)).alias("n"),
        F.count("quality").alias("nq"),
    ).collect()
    got = {r["change"]: (r["n"], r["nq"]) for r in rows}
    # only the appended odds differ; all carry a quality value
    assert got == {"added": (odds.count(), odds.count())}
    # the reverse direction tags them removed, same alignment
    d2 = version_diff(spark, str(src), 2, 1)
    assert d2.filter(F.col("change") == "removed").count() == odds.count()
    assert d2.filter(F.col("change") == "added").count() == 0
    # force BOTH sides heterogeneous: a physical delete rewrite swaps
    # pre-evolution victim files (only_from: no quality column) for
    # union-schema rewrites (only_to) — surviving rows must cancel
    # through the alignment, the diff is exactly appends + deletes
    victims = evens.filter(F.col("event_id") % 10 == 0)
    delete_rows(spark, str(src), victims.select("event_id"), "event_id")
    apply_deletes(spark, str(src))                                 # v4
    d3 = version_diff(spark, str(src), 1, 4)
    got3 = {
        r["change"]: r["n"]
        for r in d3.groupBy("change").agg(
            F.count(F.lit(1)).alias("n")
        ).collect()
    }
    assert got3 == {
        "added": odds.count(), "removed": victims.count(),
    }
    # removed pre-evolution rows surface NULL quality (mergeSchema
    # shape); added post-evolution rows keep their values
    assert d3.filter(
        (F.col("change") == "removed") & F.col("quality").isNotNull()
    ).count() == 0
    assert d3.filter(
        (F.col("change") == "added") & F.col("quality").isNull()
    ).count() == 0


def test_mirror_bootstrap_manifest_survives_crash_and_source_rewrite(
    spark, sf_dir, tmp_path, monkeypatch
):
    """r14 (VERDICT r13 #8): the bootstrap runs under a manifest
    protocol — manifest (names+sizes) → sweep stale → copy → VERIFY →
    state write. Crash injection between copy and state write, with
    the SOURCE rewritten (optimize) before the retry: the retry sweeps
    the first attempt's now-stale files, so the mirror converges to
    exactly the live snapshot — no duplicate rows, names+sizes
    verified in the commit path."""
    import engage_spark.versioning as V
    from engage_spark.versioning import sync_mirror

    src = tmp_path / "bsrc"
    mir = tmp_path / "bmir"
    ev = _events(spark, sf_dir)
    zorder_write(
        spark, ev, str(src), ["user_id", "v_cents"], bits=16, num_files=6
    )
    version_log_enable(spark, str(src))                            # v1
    calls = {"n": 0}
    real_state_write = V._mirror_state_write

    def crash_once(spark_, path, v):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("injected crash before state write")
        return real_state_write(spark_, path, v)

    monkeypatch.setattr(V, "_mirror_state_write", crash_once)
    with pytest.raises(RuntimeError, match="injected"):
        sync_mirror(spark, str(src), str(mir), "event_id")
    # half-state: files copied, manifest present, NO checkpoint
    from engage_spark.io import _hadoop_fs

    bfs, bp = _hadoop_fs(spark, f"{mir}/{V._MIRROR_BOOT_MANIFEST}")
    assert bfs.exists(bp)
    assert V.mirror_state(spark, str(mir)) == 0
    # the source is REWRITTEN before the retry (versioned republish):
    # every live file name changes, so attempt 1's copies are all stale
    zorder_write(
        spark, ev, str(src), ["user_id", "v_cents"], bits=16, num_files=3
    )                                                              # v2
    r = sync_mirror(spark, str(src), str(mir), "event_id")
    assert r["from_version"] == 0
    n = ev.count()
    assert r["inserted"] == n
    # exactly the live snapshot: same rows, same file names, verified
    # sizes, no stale first-attempt files inflating the count
    assert spark.read.parquet(str(mir)).count() == n
    src_names = set(V._live_names(spark, str(src)))
    mir_names = set(V._live_names(spark, str(mir)))
    assert mir_names == src_names
    assert not bfs.exists(bp)
    # later incremental drains work off the manifest-committed state
    delete_rows(spark, str(src), [2, 4], "event_id")               # v3
    apply_deletes(spark, str(src))                                 # v4
    sync_mirror(spark, str(src), str(mir), "event_id")
    assert spark.read.parquet(str(mir)).count() == n - 2


def test_versioned_partitioned_upsert_keeps_frozen_curve(
    spark, sf_dir, tmp_path
):
    """r14: on a partitioned + Z-clustered versioned target, the MERGE
    stages its slice ON the frozen curve (the apply_deletes rule) —
    within every partition directory the post-upsert file Z-ranges
    stay disjoint, so footer pruning keeps its contract through the
    hourly MERGE instead of waiting for the next OPTIMIZE."""
    from engage_spark.io import _zranges_scan, upsert_dataset

    out = tmp_path / "vpz"
    ev = _events(spark, sf_dir).withColumn(
        "bucket", (F.col("user_id") % 3).cast("long")
    )
    zorder_write(
        spark, ev, str(out), ["user_id", "v_cents"], bits=16,
        num_files=4, partition_by=["bucket"],
    )
    version_log_enable(spark, str(out))                            # v1
    upd = (
        ev.filter(F.col("event_id") % 7 == 0)
        .withColumn("v_cents", (F.col("v_cents") + 1).cast("long"))
        .withColumn("is_delete", F.lit(False))
    )
    upsert_dataset(
        spark, str(out), upd, ["event_id"], partition_by=["bucket"],
        delete_col="is_delete",
    )                                                              # v2
    assert [e["op"] for e in _vlog_entries(spark, str(out))] == [
        "init", "upsert",
    ]
    live = spark.read.parquet(str(out))
    assert live.count() == ev.count()
    assert (
        live.filter(F.col("event_id") % 7 == 0)
        .join(ev.select("event_id", F.col("v_cents").alias("v0")),
              on="event_id")
        .filter(F.col("v_cents") != F.col("v0") + 1).count() == 0
    )
    # per-partition-dir disjointness of the frozen-curve file ranges
    by_dir: dict = {}
    for f, lo, hi in _zranges_scan(spark, str(out)):
        d = f.rsplit("/", 2)[-2]
        by_dir.setdefault(d, []).append((lo, hi))
    assert len(by_dir) == 3
    for d, ranges in by_dir.items():
        ranges.sort()
        for (l1, h1), (l2, _h2) in zip(ranges, ranges[1:]):
            assert h1 <= l2, f"overlapping file Z-ranges in {d}"


def test_versioned_partitioned_upsert_crash_replay(
    spark, sf_dir, tmp_path, monkeypatch
):
    """r14: a versioned partitioned MERGE that crashes mid-commit
    (after the manifest, during the retain/rename tail) is replayed to
    completion by the next upsert — re-running the same batch
    converges to exactly the merged state, no rows stranded in
    retained/, no reconcile drift entry, and time travel stays
    exact."""
    import engage_spark.versioning as V
    from engage_spark.io import _UPSERT_MANIFEST, _hadoop_fs, upsert_dataset, write_parquet

    d = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "lang", "n_chars")
    )
    out = tmp_path / "vpc"
    write_parquet(d, str(out), partition_by=["lang"])
    version_log_enable(spark, str(out))                            # v1
    upd = (
        d.filter(F.col("doc_id") % 4 == 0)
        .withColumn("n_chars", (F.col("n_chars") + 9).cast("long"))
        .withColumn("is_delete", F.lit(False))
    )
    real_retain = V._retain_file
    calls = {"n": 0}

    def crashy_retain(spark_, path, name):
        calls["n"] += 1
        if calls["n"] == 2:
            raise RuntimeError("injected crash mid-retain")
        return real_retain(spark_, path, name)

    monkeypatch.setattr(V, "_retain_file", crashy_retain)
    with pytest.raises(RuntimeError, match="injected"):
        upsert_dataset(
            spark, str(out), upd, ["doc_id"], partition_by=["lang"],
            delete_col="is_delete",
        )
    monkeypatch.setattr(V, "_retain_file", real_retain)
    mfs, mp = _hadoop_fs(spark, f"{out}/{_UPSERT_MANIFEST}")
    assert mfs.exists(mp), "crash left no pinned swap manifest"
    # re-run the same batch: the entry replay finishes the crashed
    # swap, then the batch applies idempotently on the merged state
    upsert_dataset(
        spark, str(out), upd, ["doc_id"], partition_by=["lang"],
        delete_col="is_delete",
    )
    assert not mfs.exists(mp)
    live = spark.read.parquet(str(out))
    assert live.count() == d.count()
    assert (
        live.join(d.select("doc_id", F.col("n_chars").alias("v0")),
                  on="doc_id")
        .filter(
            (F.col("doc_id") % 4 == 0)
            & (F.col("n_chars") != F.col("v0") + 9)
        ).count() == 0
    )
    ops = [e["op"] for e in _vlog_entries(spark, str(out))]
    assert "reconcile" not in ops
    assert ops.count("upsert") == 2
    assert read_version(spark, str(out), 1).count() == d.count()
    last_v = _vlog_entries(spark, str(out))[-1]["version"]
    assert read_version(spark, str(out), last_v).count() == live.count()


# ---------------------------------------------------------------------------
# Staged short-lease appends (round 14): the data write happens with NO
# lease held; only the rename+log commit tail serializes, so concurrent
# appenders queue for a millisecond window instead of one failing.


def _grp_slice(spark, lo, hi):
    return spark.range(lo, hi).selectExpr("id", "id % 3 AS grp")


def test_staged_append_commits_exact_and_cleans_up(spark, tmp_path):
    """Sequential staged appends: one exact `append` entry per call,
    per-version reads exact, and neither the staging sibling nor the
    manifest survives a successful commit."""
    import os

    from engage_spark.io import (
        _APPEND_MANIFEST, append_dataset, write_parquet,
    )
    from engage_spark.versioning import latest_version

    out = tmp_path / "stap"
    write_parquet(_grp_slice(spark, 0, 10), str(out), partition_by=["grp"])
    version_log_enable(spark, str(out))                            # v1
    r1 = append_dataset(
        spark, _grp_slice(spark, 10, 15), str(out), partition_by=["grp"]
    )                                                              # v2
    append_dataset(
        spark, _grp_slice(spark, 15, 20), str(out), partition_by=["grp"]
    )                                                              # v3
    assert r1["files"] and r1["files"] >= 1
    ops = [e["op"] for e in _vlog_entries(spark, str(out))]
    assert ops == ["init", "append", "append"]
    v = latest_version(spark, str(out))
    assert read_version(spark, str(out), v).count() == 20
    assert read_version(spark, str(out), v - 1).count() == 15
    assert spark.read.parquet(str(out)).count() == 20
    # partition dirs preserved through the staged rename
    assert read_version(spark, str(out), v).filter(
        F.col("grp") == 1
    ).count() == spark.range(0, 20).filter(F.expr("id % 3 = 1")).count()
    assert not os.path.exists(f"{out}/{_APPEND_MANIFEST}")
    sibs = [n for n in os.listdir(tmp_path) if "__append_staging_" in n]
    assert sibs == []


def test_concurrent_appenders_all_land(spark, tmp_path):
    """Two appenders racing the same versioned dataset BOTH commit:
    the staged writes overlap freely, the commit tails queue on the
    lease's wait budget, and history shows two exact entries with no
    reconcile and no lost rows."""
    import threading

    from engage_spark.io import append_dataset, write_parquet
    from engage_spark.versioning import latest_version

    out = tmp_path / "conc"
    write_parquet(_grp_slice(spark, 0, 10), str(out), partition_by=["grp"])
    version_log_enable(spark, str(out))
    errs: list = []

    def worker(lo, hi):
        try:
            append_dataset(
                spark, _grp_slice(spark, lo, hi), str(out),
                partition_by=["grp"],
            )
        except Exception as e:  # pragma: no cover - failure detail
            errs.append(e)

    ts = [
        threading.Thread(target=worker, args=(10, 20)),
        threading.Thread(target=worker, args=(20, 30)),
    ]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert errs == []
    ops = [e["op"] for e in _vlog_entries(spark, str(out))]
    assert ops == ["init", "append", "append"]
    assert spark.read.parquet(str(out)).count() == 30
    v = latest_version(spark, str(out))
    assert read_version(spark, str(out), v).count() == 30
    # each intermediate version is one whole increment, not a torn mix
    assert read_version(spark, str(out), v - 1).count() == 20
    got = {r["id"] for r in read_version(spark, str(out), v).collect()}
    assert got == set(range(30))


def test_append_crash_mid_commit_replays_exactly(spark, tmp_path, monkeypatch):
    """A crash AFTER the manifest write (files half-renamed, no log
    entry) converges on the next maintenance contact: the heal hooked
    into _vlog_reconcile finishes the renames, logs the exact entry —
    never a reconcile drift entry — and drops staging + manifest."""
    import engage_spark.io as eio
    from engage_spark.io import append_dataset, write_parquet
    from engage_spark.versioning import latest_version

    out = tmp_path / "crash"
    write_parquet(_grp_slice(spark, 0, 10), str(out), partition_by=["grp"])
    version_log_enable(spark, str(out))
    real = eio._append_replay_pending

    def flaky(spark_, path_):
        # pre-manifest heal call passes (no manifest yet); the
        # post-manifest commit-tail call crashes
        if eio._append_manifest_exists(spark_, path_):
            raise RuntimeError("injected crash mid-commit")
        return real(spark_, path_)

    monkeypatch.setattr(eio, "_append_replay_pending", flaky)
    with pytest.raises(RuntimeError, match="injected"):
        append_dataset(
            spark, _grp_slice(spark, 10, 15), str(out), partition_by=["grp"]
        )
    monkeypatch.setattr(eio, "_append_replay_pending", real)
    assert eio._append_manifest_exists(spark, str(out))
    # r15 log-owned reads: a READ does NOT heal — the committed log is
    # served as-is, the crashed commit invisible
    ops = [r["op"] for r in dataset_history(spark, str(out)).collect()]
    assert ops == ["init"]
    # MAINTENANCE contact heals: reconcile finishes the exact commit
    from engage_spark.versioning import _vlog_reconcile

    _vlog_reconcile(spark, str(out))
    ops = [r["op"] for r in dataset_history(spark, str(out)).collect()]
    assert ops == ["init", "append"]
    assert not eio._append_manifest_exists(spark, str(out))
    assert spark.read.parquet(str(out)).count() == 15
    v = latest_version(spark, str(out))
    assert read_version(spark, str(out), v).count() == 15
    got = {r["id"] for r in read_version(spark, str(out), v).collect()}
    assert got == set(range(15))


def test_lease_wait_queues_and_zero_wait_fails_fast(spark, tmp_path):
    """wait_s on the maintenance lease: a waiter inside the budget
    acquires after the holder releases; wait_s=0 keeps the loud-fail
    contract; same-thread nesting still re-enters."""
    import threading
    import time

    from engage_spark.io import MaintenanceLockHeld, maintenance_lease

    out = tmp_path / "lease"
    out.mkdir()

    release = threading.Event()
    held = threading.Event()

    def holder():
        with maintenance_lease(spark, str(out)):
            held.set()
            release.wait(10)

    t = threading.Thread(target=holder)
    t.start()
    assert held.wait(10)
    # sibling thread (this one) with no wait budget fails fast
    with pytest.raises(MaintenanceLockHeld):
        with maintenance_lease(spark, str(out), wait_s=0.0):
            pass
    # with a budget, the waiter queues and wins after release
    acquired = {}

    def release_soon():
        time.sleep(0.5)
        release.set()

    threading.Thread(target=release_soon).start()
    t0 = time.monotonic()
    with maintenance_lease(spark, str(out), wait_s=10.0):
        acquired["after_s"] = time.monotonic() - t0
        # same-thread nesting re-enters the held lease
        with maintenance_lease(spark, str(out)):
            pass
    t.join()
    assert 0.3 <= acquired["after_s"] <= 9.0


def test_vacuum_sweeps_stale_append_staging(spark, tmp_path):
    """An appender that crashed BEFORE its manifest write leaves an
    orphan staging sibling; vacuum sweeps it once it is a day old and
    leaves young (possibly live) stagings alone."""
    import os
    import time

    from engage_spark.io import append_dataset, write_parquet

    out = tmp_path / "sweep"
    write_parquet(_grp_slice(spark, 0, 10), str(out), partition_by=["grp"])
    version_log_enable(spark, str(out))
    append_dataset(
        spark, _grp_slice(spark, 10, 15), str(out), partition_by=["grp"]
    )
    stale = tmp_path / "sweep__append_staging_deadbeef0000"
    stale_merge = tmp_path / "sweep__upsert_staging_deadbeef0000"
    # MERGE's gate materialization sibling (ADVICE r14: it was missing
    # from the sweep's prefix list, so a driver crash mid-merge leaked
    # the materialized change batch forever)
    stale_gate = tmp_path / "sweep__gate_staging_deadbeef0000"
    young = tmp_path / "sweep__append_staging_cafebabe0000"
    stale.mkdir()
    stale_merge.mkdir()
    stale_gate.mkdir()
    young.mkdir()
    (stale / "part-0.parquet").write_bytes(b"x")
    (stale_merge / "part-0.parquet").write_bytes(b"x")
    (stale_gate / "part-0.parquet").write_bytes(b"x")
    old = time.time() - 25 * 3600
    os.utime(stale, (old, old))
    os.utime(stale_merge, (old, old))
    os.utime(stale_gate, (old, old))
    res = vacuum_versions(spark, str(out), keep_last=7)
    assert res["swept_staging"] == 3
    assert not stale.exists()
    assert not stale_merge.exists()
    assert not stale_gate.exists()
    assert young.exists()
    # sweep never touches the dataset or its history
    assert spark.read.parquet(str(out)).count() == 15


# ---------------------------------------------------------------------------
# Optimistic versioned partitioned MERGE (round 14): stage with no
# lease, commit only if the pinned version is still latest, retry on
# conflict — appenders keep flowing during the hourly MERGE.


def _docs(spark, sf_dir):
    return (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "lang", "n_chars")
    )


def test_merge_restages_after_interleaved_commit(
    spark, sf_dir, tmp_path, monkeypatch
):
    """A commit landing between the MERGE's stage and its commit bumps
    the version; the stale slice is discarded and the merge re-stages
    against the new state — the interleaved append's rows survive and
    the merge applies exactly once."""
    import engage_spark.io as eio
    from engage_spark.io import append_dataset, upsert_dataset, write_parquet

    d = _docs(spark, sf_dir)
    out = tmp_path / "occ1"
    write_parquet(d, str(out), partition_by=["lang"])
    version_log_enable(spark, str(out))                            # v1
    interleaved = d.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 5_000_000).alias("doc_id"), "lang", "n_chars"
    )
    real_stage = eio._upsert_stage_partitioned
    fired = {"n": 0}

    def racing_stage(*a, **k):
        st = real_stage(*a, **k)
        if fired["n"] == 0:
            fired["n"] += 1
            # another writer commits AFTER the stage pinned its version
            append_dataset(
                spark, interleaved, str(out), partition_by=["lang"]
            )
        return st

    monkeypatch.setattr(eio, "_upsert_stage_partitioned", racing_stage)
    upd = (
        d.filter(F.col("doc_id") % 4 == 0)
        .withColumn("n_chars", (F.col("n_chars") + 9).cast("long"))
        .withColumn("is_delete", F.lit(False))
    )
    upsert_dataset(
        spark, str(out), upd, ["doc_id"], partition_by=["lang"],
        delete_col="is_delete",
    )
    monkeypatch.undo()
    ops = [e["op"] for e in _vlog_entries(spark, str(out))]
    assert ops == ["init", "append", "upsert"]
    live = spark.read.parquet(str(out))
    assert live.count() == d.count() + interleaved.count()
    # the merge applied on top of the interleaved state, exactly once
    assert (
        live.filter(
            (F.col("doc_id") % 4 == 0) & (F.col("doc_id") < 5_000_000)
        )
        .join(
            d.select("doc_id", F.col("n_chars").alias("v0")), on="doc_id"
        )
        .filter(F.col("n_chars") != F.col("v0") + 9)
        .count() == 0
    )
    # no staging sibling survived the discarded first attempt
    import os

    sibs = [n for n in os.listdir(tmp_path) if "__upsert_staging_" in n]
    assert sibs == []


def test_merge_conflict_exhausts_retries(spark, sf_dir, tmp_path, monkeypatch):
    """A writer that keeps committing between every stage and commit
    makes the merge raise UpsertConflict after occ_retries; nothing is
    committed and no staging leaks."""
    import engage_spark.io as eio
    from engage_spark.io import (
        UpsertConflict,
        append_dataset,
        upsert_dataset,
        write_parquet,
    )

    d = _docs(spark, sf_dir)
    out = tmp_path / "occ2"
    write_parquet(d, str(out), partition_by=["lang"])
    version_log_enable(spark, str(out))
    real_stage = eio._upsert_stage_partitioned
    fired = {"n": 0}

    def always_racing(*a, **k):
        st = real_stage(*a, **k)
        fired["n"] += 1
        append_dataset(
            spark,
            d.limit(5).select(
                (F.col("doc_id") + 9_000_000 + F.lit(fired["n"])).alias(
                    "doc_id"
                ),
                "lang", "n_chars",
            ),
            str(out), partition_by=["lang"],
        )
        return st

    monkeypatch.setattr(eio, "_upsert_stage_partitioned", always_racing)
    upd = d.limit(20).withColumn("n_chars", F.lit(1).cast("long"))
    with pytest.raises(UpsertConflict):
        upsert_dataset(
            spark, str(out), upd, ["doc_id"], partition_by=["lang"],
            occ_retries=1,
        )
    monkeypatch.undo()
    ops = [e["op"] for e in _vlog_entries(spark, str(out))]
    assert "upsert" not in ops
    import os

    sibs = [n for n in os.listdir(tmp_path) if "__upsert_staging_" in n]
    assert sibs == []


def test_appender_flows_during_merge(spark, sf_dir, tmp_path):
    """The production interplay: a MERGE and an appender run
    concurrently; both land (the appender never waits on the merge's
    staging work, the merge retries if the append beat its commit)."""
    import threading

    from engage_spark.io import append_dataset, upsert_dataset, write_parquet
    from engage_spark.versioning import latest_version

    d = _docs(spark, sf_dir)
    out = tmp_path / "occ3"
    write_parquet(d, str(out), partition_by=["lang"])
    version_log_enable(spark, str(out))
    upd = (
        d.filter(F.col("doc_id") % 4 == 0)
        .withColumn("n_chars", (F.col("n_chars") + 9).cast("long"))
    )
    extra = d.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 5_000_000).alias("doc_id"), "lang", "n_chars"
    )
    errs: list = []

    def merger():
        try:
            upsert_dataset(
                spark, str(out), upd, ["doc_id"], partition_by=["lang"],
                occ_retries=5,
            )
        except Exception as e:  # pragma: no cover
            errs.append(e)

    def appender():
        try:
            append_dataset(
                spark, extra, str(out), partition_by=["lang"],
                lease_wait_s=120.0,
            )
        except Exception as e:  # pragma: no cover
            errs.append(e)

    ts = [threading.Thread(target=merger), threading.Thread(target=appender)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert errs == []
    ops = sorted(e["op"] for e in _vlog_entries(spark, str(out)))
    assert ops.count("upsert") == 1 and ops.count("append") == 1
    assert "reconcile" not in ops
    live = spark.read.parquet(str(out))
    assert live.count() == d.count() + extra.count()
    v = latest_version(spark, str(out))
    assert read_version(spark, str(out), v).count() == live.count()


def test_reconcile_heals_crashed_merge(spark, sf_dir, tmp_path, monkeypatch):
    """A maintenance contact (reconcile) heals a MERGE that crashed
    mid-commit: the exact upsert entry lands — never a drift mislabel —
    and the live view converges. (r15: reads no longer trigger this —
    reconcile is writer/maintenance contact only.)"""
    import engage_spark.versioning as V
    from engage_spark.io import (
        _UPSERT_MANIFEST, _hadoop_fs, upsert_dataset, write_parquet,
    )

    d = _docs(spark, sf_dir)
    out = tmp_path / "healmerge"
    write_parquet(d, str(out), partition_by=["lang"])
    version_log_enable(spark, str(out))                            # v1
    upd = (
        d.filter(F.col("doc_id") % 4 == 0)
        .withColumn("n_chars", (F.col("n_chars") + 9).cast("long"))
    )
    real_retain = V._retain_file
    calls = {"n": 0}

    def crashy_retain(spark_, path, name):
        calls["n"] += 1
        if calls["n"] == 2:
            raise RuntimeError("injected crash mid-retain")
        return real_retain(spark_, path, name)

    monkeypatch.setattr(V, "_retain_file", crashy_retain)
    with pytest.raises(RuntimeError, match="injected"):
        upsert_dataset(
            spark, str(out), upd, ["doc_id"], partition_by=["lang"]
        )
    monkeypatch.setattr(V, "_retain_file", real_retain)
    mfs, mp = _hadoop_fs(spark, f"{out}/{_UPSERT_MANIFEST}")
    assert mfs.exists(mp)
    V._vlog_reconcile(spark, str(out))  # maintenance contact (r15)
    ops = [r["op"] for r in dataset_history(spark, str(out)).collect()]
    assert ops == ["init", "upsert"]
    assert not mfs.exists(mp)
    live = spark.read.parquet(str(out))
    assert live.count() == d.count()
    assert (
        live.join(d.select("doc_id", F.col("n_chars").alias("v0")), "doc_id")
        .filter(
            (F.col("doc_id") % 4 == 0)
            & (F.col("n_chars") != F.col("v0") + 9)
        ).count() == 0
    )


def test_concurrent_zorder_appenders_all_land(spark, sf_dir, tmp_path):
    """Clustered ingest concurrency (r14): two zorder_append calls race
    a version-logged Z-ordered dataset through the shared staged-commit
    tail — both land with exact entries (the old in-place write diffed
    live listings and would mis-attribute the other's files), the curve
    stays frozen, and the z-range manifest stays exactly live."""
    import threading

    from engage_spark.io import _zorder_file_ranges, _zranges_read

    out = tmp_path / "zconc"
    ev = _events(spark, sf_dir)
    zorder_write(
        spark, ev.filter(F.col("event_id") % 3 == 0), str(out),
        ["user_id", "v_cents"], bits=16, num_files=4,
    )
    version_log_enable(spark, str(out))                            # v1
    # materialize the manifest so the increment-update path runs
    _zorder_file_ranges(spark, str(out))
    errs: list = []

    def worker(residue):
        try:
            zorder_append(
                spark, ev.filter(F.col("event_id") % 3 == residue),
                str(out), num_files=2, lease_wait_s=120.0,
            )
        except Exception as e:  # pragma: no cover
            errs.append(e)

    ts = [threading.Thread(target=worker, args=(r,)) for r in (1, 2)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert errs == []
    ops = [e["op"] for e in _vlog_entries(spark, str(out))]
    assert ops == ["init", "append", "append"]
    assert "reconcile" not in ops
    live = spark.read.parquet(str(out))
    assert live.count() == ev.count()
    # each entry is ONE increment: the middle version is base + one slice
    sizes = sorted(
        len(e["added"]) for e in _vlog_entries(spark, str(out))
        if e["op"] == "append"
    )
    assert sizes == [2, 2]
    # the z-range manifest survived both commits and is exactly live
    man = _zranges_read(spark, str(out))
    assert man is not None
    assert {f for f, _, _ in man} == set(live.inputFiles())


# ---------------------------------------------------------------------------
# Round-14 self-review fixes: live-commit reader tolerance, torn
# manifests, snapshot-interleaved replay, stage-phase conflict retry.


def test_readers_skip_heal_while_commit_is_live(spark, tmp_path, monkeypatch):
    """A reader's reconcile racing a LIVE staged commit (manifest
    present, lease held) must skip the heal and proceed — not raise
    MaintenanceLockHeld at the reader."""
    import threading

    import engage_spark.io as eio
    from engage_spark.io import append_dataset, maintenance_lease, write_parquet

    out = tmp_path / "livecommit"
    write_parquet(_grp_slice(spark, 0, 10), str(out), partition_by=["grp"])
    version_log_enable(spark, str(out))
    # leave a crashed commit behind: manifest + staging
    real = eio._append_replay_pending

    def flaky(spark_, path_):
        if eio._append_manifest_exists(spark_, path_):
            raise RuntimeError("injected crash mid-commit")
        return real(spark_, path_)

    monkeypatch.setattr(eio, "_append_replay_pending", flaky)
    with pytest.raises(RuntimeError, match="injected"):
        append_dataset(
            spark, _grp_slice(spark, 10, 15), str(out), partition_by=["grp"]
        )
    monkeypatch.setattr(eio, "_append_replay_pending", real)
    held, release = threading.Event(), threading.Event()

    def holder():
        with maintenance_lease(spark, str(out)):
            held.set()
            release.wait(20)

    t = threading.Thread(target=holder)
    t.start()
    assert held.wait(10)
    # reader under a live lease: works off the committed log (r15:
    # readers NEVER heal), and a racing maintenance contact skips
    # instead of raising MaintenanceLockHeld
    from engage_spark.versioning import _vlog_reconcile

    assert _vlog_reconcile(spark, str(out)) is None
    ops = [r["op"] for r in dataset_history(spark, str(out)).collect()]
    assert ops == ["init"]
    assert eio._append_manifest_exists(spark, str(out))
    release.set()
    t.join()
    # lease free: the next maintenance contact heals the exact entry
    _vlog_reconcile(spark, str(out))
    ops = [r["op"] for r in dataset_history(spark, str(out)).collect()]
    assert ops == ["init", "append"]
    assert spark.read.parquet(str(out)).count() == 15


def test_torn_manifest_is_discarded_not_wedging(spark, tmp_path):
    """A manifest torn mid-write (crash between create and close) is
    discarded on the next contact — it provably precedes any rename —
    instead of raising on every later op forever."""
    from engage_spark.io import (
        _APPEND_MANIFEST, _UPSERT_MANIFEST, append_dataset, write_parquet,
    )

    out = tmp_path / "torn"
    write_parquet(_grp_slice(spark, 0, 10), str(out), partition_by=["grp"])
    version_log_enable(spark, str(out))
    (out / _APPEND_MANIFEST).write_bytes(b'{"staging": "/x", "ad')
    (out / _UPSERT_MANIFEST).write_bytes(b"")
    from engage_spark.versioning import _vlog_reconcile

    _vlog_reconcile(spark, str(out))  # maintenance contact (r15)
    ops = [r["op"] for r in dataset_history(spark, str(out)).collect()]
    assert ops == ["init"]
    assert not (out / _APPEND_MANIFEST).exists()
    assert not (out / _UPSERT_MANIFEST).exists()
    # and the dataset keeps working
    append_dataset(
        spark, _grp_slice(spark, 10, 15), str(out), partition_by=["grp"]
    )
    assert spark.read.parquet(str(out)).count() == 15


def test_replay_guard_skips_snapshot_entries(spark, tmp_path, monkeypatch):
    """A crash AFTER the append entry + its riding snapshot checkpoint
    but before cleanup must not re-log the append on replay."""
    import json

    import engage_spark.io as eio
    import engage_spark.versioning as V
    from engage_spark.io import append_dataset, maintenance_lease, write_parquet

    out = tmp_path / "snapguard"
    write_parquet(_grp_slice(spark, 0, 10), str(out), partition_by=["grp"])
    version_log_enable(spark, str(out))                            # v1
    monkeypatch.setattr(V, "_SNAPSHOT_EVERY", 2)
    append_dataset(
        spark, _grp_slice(spark, 10, 15), str(out), partition_by=["grp"]
    )                                                              # v2 + snapshot v3
    ops = [e["op"] for e in _vlog_entries(spark, str(out))]
    assert ops == ["init", "append", "snapshot"]
    # simulate the crash window: manifest re-materializes AFTER the
    # entry+snapshot landed (renames done, staging consumed)
    entry = [e for e in _vlog_entries(spark, str(out)) if e["op"] == "append"][0]
    (out / eio._APPEND_MANIFEST).write_text(
        json.dumps({"staging": str(tmp_path / "gone"), "adds": entry["added"]})
    )
    with maintenance_lease(spark, str(out)):
        eio._append_replay_pending(spark, str(out))
    ops = [e["op"] for e in _vlog_entries(spark, str(out))]
    assert ops == ["init", "append", "snapshot"], "append was re-logged"
    assert spark.read.parquet(str(out)).count() == 15


def test_merge_stage_retries_on_missing_file_race(
    spark, sf_dir, tmp_path, monkeypatch
):
    """A concurrent file-moving commit mid-stage surfaces as a
    missing-file failure; the OCC loop treats it as a conflict and
    re-stages instead of surfacing a raw Spark error."""
    import engage_spark.io as eio
    from engage_spark.io import upsert_dataset, write_parquet

    d = _docs(spark, sf_dir)
    out = tmp_path / "racestage"
    write_parquet(d, str(out), partition_by=["lang"])
    version_log_enable(spark, str(out))
    real = eio._upsert_stage_partitioned
    fired = {"n": 0}

    def flaky_stage(*a, **k):
        if fired["n"] == 0:
            fired["n"] += 1
            raise RuntimeError(
                "java.io.FileNotFoundException: File x does not exist"
            )
        return real(*a, **k)

    monkeypatch.setattr(eio, "_upsert_stage_partitioned", flaky_stage)
    upd = d.limit(20).withColumn("n_chars", F.lit(7).cast("long"))
    upsert_dataset(spark, str(out), upd, ["doc_id"], partition_by=["lang"])
    ops = [e["op"] for e in _vlog_entries(spark, str(out))]
    assert ops == ["init", "upsert"]


# ---------------------------------------------------------------------------
# Optimistic incremental OPTIMIZE (round 14, continued): stage the
# rewrite with no lease; commit iff every victim is still live —
# commits that only ADD files (staged appenders) COMMUTE with a
# compaction and must not conflict it.


def _zset(spark, sf_dir, out, n_files=6):
    """Z-ordered thirds-split events + version log + an overlapping
    clustered append (so optimize has victims). Returns (a+b, c)."""
    ev = _events(spark, sf_dir)
    a = ev.filter(F.col("event_id") % 3 == 0)
    b = ev.filter(F.col("event_id") % 3 == 1)
    c = ev.filter(F.col("event_id") % 3 == 2)
    zorder_write(
        spark, a, str(out), ["user_id", "v_cents"], bits=16,
        num_files=n_files,
    )
    version_log_enable(spark, str(out))                            # v1
    zorder_append(spark, b, str(out), num_files=2)                 # v2
    return a.unionByName(b), c


def test_optimize_commits_over_commuting_append(
    spark, sf_dir, tmp_path, monkeypatch
):
    """An append landing between the optimize's stage and its commit
    only ADDS files — every victim is still live, so the optimize
    commits on the SAME attempt (no wasted restage), both entries are
    exact, and time travel across both works."""
    import os

    import engage_spark.io as eio
    from engage_spark.io import append_dataset
    from engage_spark.versioning import latest_version

    out = tmp_path / "occopt1"
    base, c = _zset(spark, sf_dir, out)
    real_stage = eio._optimize_stage
    stage_calls = {"n": 0}

    def racing_stage(*a, **k):
        st = real_stage(*a, **k)
        stage_calls["n"] += 1
        if stage_calls["n"] == 1 and st["staging"] is not None:
            append_dataset(spark, c, str(out))  # commuting commit
        return st

    monkeypatch.setattr(eio, "_optimize_stage", racing_stage)
    r = optimize_incremental(spark, str(out), target_file_bytes=1 << 20)
    monkeypatch.undo()
    assert r["rewritten_files"] > 0
    assert stage_calls["n"] == 1, "a commuting append must not restage"
    ops = [e["op"] for e in _vlog_entries(spark, str(out))]
    assert ops == ["init", "append", "append", "optimize"]
    exp = base.unionByName(c)
    live = spark.read.parquet(str(out))
    assert live.count() == exp.count()
    assert live.exceptAll(exp).count() == 0
    # the pre-optimize versions replay exactly (victims retained)
    v = latest_version(spark, str(out))
    assert read_version(spark, str(out), v - 1).count() == exp.count()
    assert read_version(spark, str(out), 2).count() == base.count()
    sibs = [n for n in os.listdir(tmp_path) if "__optimize_staging_" in n]
    assert sibs == []


def test_optimize_restages_when_victim_removed(
    spark, sf_dir, tmp_path, monkeypatch
):
    """A commit that REMOVES a victim (here: a physical takedown
    rewrite) between stage and commit conflicts the optimize; the
    stale staging is dropped and the run re-stages against the new
    state — the takedown's effect survives and the final state is
    exact."""
    import os

    import engage_spark.io as eio

    out = tmp_path / "occopt2"
    base, _ = _zset(spark, sf_dir, out)
    doomed = base.filter(F.col("event_id") % 11 == 0).select("event_id")
    real_stage = eio._optimize_stage
    fired = {"n": 0}

    def racing_stage(*a, **k):
        st = real_stage(*a, **k)
        if fired["n"] == 0 and st["staging"] is not None:
            fired["n"] += 1
            delete_rows(spark, str(out), doomed, "event_id")
            apply_deletes(spark, str(out))  # rewrites victims physically
        return st

    monkeypatch.setattr(eio, "_optimize_stage", racing_stage)
    r = optimize_incremental(spark, str(out), target_file_bytes=1 << 20)
    monkeypatch.undo()
    assert fired["n"] == 1
    exp = base.join(F.broadcast(doomed), on="event_id", how="left_anti")
    live = spark.read.parquet(str(out))
    assert live.count() == exp.count()
    assert live.exceptAll(exp).count() == 0
    # whether the retry found fresh overlap or a no-op, nothing leaked
    sibs = [n for n in os.listdir(tmp_path) if "__optimize_staging_" in n]
    assert sibs == []
    ops = [e["op"] for e in _vlog_entries(spark, str(out))]
    assert "reconcile" not in ops
    assert r["rewritten_files"] >= 0


def test_optimize_conflict_exhausts_retries(
    spark, sf_dir, tmp_path, monkeypatch
):
    """A writer that keeps removing victims between every stage and
    commit makes the optimize raise OptimizeConflict after
    occ_retries; no staging leaks and the dataset stays exact."""
    import os
    import threading

    import engage_spark.io as eio
    from engage_spark.io import OptimizeConflict

    out = tmp_path / "occopt3"
    base, c = _zset(spark, sf_dir, out)
    real_stage = eio._optimize_stage
    inner = threading.local()
    appends = {"n": 0}

    def always_racing(*a, **k):
        st = real_stage(*a, **k)
        if getattr(inner, "busy", False) or st["staging"] is None:
            return st
        inner.busy = True
        try:
            # remove the victims out from under the outer attempt...
            eio.optimize_incremental(
                spark, str(out), target_file_bytes=1 << 20
            )
            # ...and re-create overlap so the retry stages again
            appends["n"] += 1
            zorder_append(
                spark,
                c.filter(F.col("event_id") % 5 == appends["n"] % 5),
                str(out), num_files=2,
            )
        finally:
            inner.busy = False
        return st

    monkeypatch.setattr(eio, "_optimize_stage", always_racing)
    with pytest.raises(OptimizeConflict):
        optimize_incremental(
            spark, str(out), target_file_bytes=1 << 20, occ_retries=1,
        )
    monkeypatch.undo()
    sibs = [n for n in os.listdir(tmp_path) if "__optimize_staging_" in n]
    assert sibs == []
    live = spark.read.parquet(str(out))
    exp_n = base.count() + sum(
        c.filter(F.col("event_id") % 5 == (i + 1) % 5).count()
        for i in range(appends["n"])
    )
    assert live.count() == exp_n


def test_optimize_swap_crash_mid_replay_heals_consistently(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Crash DURING the swap replay (after the manifest and the first
    victim retain, before the renames): the logged latest version
    stays READABLE mid-window (retained/ resolution), and the next
    reconcile finishes the commit with ONE exact `optimize` entry —
    never a drift reconcile."""
    import engage_spark.versioning as ever
    from engage_spark.versioning import latest_version

    out = tmp_path / "occopt4"
    base, _ = _zset(spark, sf_dir, out)
    pre_v = latest_version(spark, str(out))
    real_retain = ever._retain_file
    state = {"retains": 0}

    def crashing_retain(spark2, path2, name2):
        real_retain(spark2, path2, name2)
        state["retains"] += 1
        if state["retains"] == 1:
            raise RuntimeError("injected crash mid-replay")

    monkeypatch.setattr(ever, "_retain_file", crashing_retain)
    with pytest.raises(RuntimeError, match="injected crash"):
        optimize_incremental(spark, str(out), target_file_bytes=1 << 20)
    monkeypatch.undo()
    # mid-window: manifest present, one victim already retained —
    # the logged latest version must still read exactly
    import engage_spark.io as eio

    assert eio._optimize_swap_manifest_exists(spark, str(out))
    mid = read_version(spark, str(out), pre_v)
    assert mid.count() == base.count()
    # the next maintenance contact finishes the commit (r15: reads
    # never heal — trigger reconcile explicitly)
    ever._vlog_reconcile(spark, str(out))
    hist = dataset_history(spark, str(out))
    ops = [r.op for r in hist.collect()]
    assert ops == ["init", "append", "optimize"]
    assert not eio._optimize_swap_manifest_exists(spark, str(out))
    live = spark.read.parquet(str(out))
    assert live.count() == base.count()
    assert live.exceptAll(base).count() == 0
    assert read_version(spark, str(out), pre_v + 1).count() == base.count()


def test_reader_reconcile_skips_live_optimize_commit(
    spark, sf_dir, tmp_path
):
    """While an optimize commit is LIVE (swap manifest present, lease
    held), a reader's reconcile returns None instead of raising or
    logging drift."""
    import json
    import threading

    import engage_spark.io as eio
    from engage_spark.io import maintenance_lease
    from engage_spark.versioning import _vlog_reconcile

    out = tmp_path / "occopt5"
    _zset(spark, sf_dir, out)
    mfs, mp = eio._hadoop_fs(spark, f"{out}/{eio._OPT_SWAP_MANIFEST}")
    o = mfs.create(mp, True)
    o.write(json.dumps(
        {"staging": f"{out}__optimize_staging_dead", "adds": [],
         "removes": []}
    ).encode())
    o.close()
    res: dict = {}

    def reader():
        res["r"] = _vlog_reconcile(spark, str(out))

    with maintenance_lease(spark, str(out)):
        t = threading.Thread(target=reader)
        t.start()
        t.join()
    assert res["r"] is None
    mfs.delete(mp, True)  # cleanup for later ops on this tmp dir


def test_reconcile_heals_crashed_legacy_swap(spark, sf_dir, tmp_path):
    """A LEGACY in-dataset swap (apply_deletes protocol: parquet
    manifest + _optimize_staging) that crashed mid-commit is healed by
    the next reconcile via optimize_recover — the staged rows' only
    copy is moved in BEFORE the drift pass logs anything, so no data
    is ever reported removed."""
    import engage_spark.io as eio
    from engage_spark.session import local_frame
    from engage_spark.versioning import _live_names, latest_version

    out = tmp_path / "occopt6"
    base, _ = _zset(spark, sf_dir, out)
    # hand-build the crash window: pick one live file as the victim,
    # stage a byte-equal rewrite of it, write the legacy manifest,
    # then RETAIN the victim (as _optimize_commit would) and "crash"
    victim_rel = _live_names(spark, str(out))[0]
    victim_abs = f"{out}/{victim_rel}"
    spark.read.parquet(victim_abs).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{out}/_optimize_staging")
    local_frame(
        spark, [(victim_abs,)], "victim string"
    ).coalesce(1).write.mode("overwrite").parquet(
        f"{out}/_optimize_manifest"
    )
    import engage_spark.versioning as ever

    ever._retain_file(spark, str(out), victim_rel)
    pre_v = latest_version(spark, str(out))
    # the next maintenance contact (r15: reads never heal) must heal
    # the legacy swap (move staged in, drop sidecars) then log ONE
    # reconcile entry for the file-set diff
    ever._vlog_reconcile(spark, str(out))
    hist = dataset_history(spark, str(out))
    ops = [r.op for r in hist.collect()]
    assert ops == ["init", "append", "reconcile"]
    fs, p = eio._hadoop_fs(spark, f"{out}/_optimize_manifest")
    assert not fs.exists(p)
    live = spark.read.parquet(str(out))
    assert live.count() == base.count()
    assert live.exceptAll(base).count() == 0
    assert read_version(spark, str(out), pre_v + 1).count() == base.count()


def test_reader_reconcile_skips_pure_drift_under_live_lease(
    spark, sf_dir, tmp_path
):
    """TOCTOU guard (review-found): drift sampled UNLEASED can be a
    live commit's half-moved window — with the lease held by any
    writer, a reader's reconcile must return None (the writer logs its
    own exact entry), and once the lease frees, a GENUINE drift is
    still logged."""
    import shutil as sh
    import threading

    from engage_spark.io import maintenance_lease
    from engage_spark.versioning import _vlog_reconcile

    out = tmp_path / "toctou"
    base, _ = _zset(spark, sf_dir, out)
    # out-of-band drift: copy a live file to a new name
    live = sorted(
        p for p in (tmp_path / "toctou").rglob("*.parquet")
        if not any(part.startswith(("_", ".")) for part in p.parts)
    )
    sh.copy(live[0], live[0].with_name("oob-" + live[0].name))
    res: dict = {}

    def reader():
        res["r"] = _vlog_reconcile(spark, str(out))

    with maintenance_lease(spark, str(out)):
        t = threading.Thread(target=reader)
        t.start()
        t.join()
    assert res["r"] is None, "held lease: reconcile must skip, not log"
    ops = [e["op"] for e in _vlog_entries(spark, str(out))]
    assert "reconcile" not in ops
    # lease freed: the genuine out-of-band drift is healed
    assert _vlog_reconcile(spark, str(out)) is not None
    ops = [e["op"] for e in _vlog_entries(spark, str(out))]
    assert ops[-1] == "reconcile"


def test_uniquify_staged_collisions_renames_inside_staging(
    spark, sf_dir, tmp_path
):
    """A staged file whose dataset-relative name collides with a LIVE
    file must be renamed to a dup- name INSIDE staging before the
    manifest pins names — the replay's exists-skip would otherwise
    drop the staged copy as 'already moved' (review-found)."""
    import pathlib

    from engage_spark.io import _uniquify_staged_collisions

    out = tmp_path / "uniq"
    _zset(spark, sf_dir, out)
    from engage_spark.versioning import _live_names

    rel = _live_names(spark, str(out))[0]
    staging = tmp_path / "uniq__optimize_staging_t"
    sp = staging / rel
    sp.parent.mkdir(parents=True, exist_ok=True)
    sp.write_bytes(b"staged bytes")
    (staging / "clean.parquet").write_bytes(b"no collision")
    final = _uniquify_staged_collisions(
        spark, str(out), str(staging), [rel, "clean.parquet"]
    )
    assert "clean.parquet" in final
    dup = [n for n in final if n != "clean.parquet"]
    assert len(dup) == 1 and dup[0] != rel and "dup-" in dup[0]
    assert not sp.exists()
    assert (staging / dup[0]).read_bytes() == b"staged bytes"
    assert pathlib.Path(out, rel).exists()  # live file untouched


def test_zranges_refresh_drops_dead_kept_entries(spark, sf_dir, tmp_path):
    """kept entries pinned before a commuting commit may reference
    since-removed files; persisting them would fail the manifest's
    exact-match validity check and force a full rescan — the refresh
    must live-filter (review-found)."""
    from engage_spark.io import _zranges_read, _zranges_refresh, _zranges_scan

    out = tmp_path / "zrref"
    _zset(spark, sf_dir, out)
    fr = _zranges_scan(spark, str(out))
    dead = [("file:///nonexistent/part-dead.parquet", 0, 1)]
    _zranges_refresh(spark, str(out), fr + dead)
    man = _zranges_read(spark, str(out))
    assert man is not None
    assert {f for f, _, _ in man} == set(
        spark.read.parquet(str(out)).inputFiles()
    ), "manifest must name exactly the live file set"


def test_stray_legacy_staging_swept_by_versioned_optimize(
    spark, sf_dir, tmp_path
):
    """A crashed apply_deletes that staged but never wrote its
    manifest leaves an in-dataset _optimize_staging; the optimistic
    optimize path must GC it like the leased path did (review-found:
    nothing else ever would on a version-logged dataset)."""
    import pathlib

    out = tmp_path / "straygc"
    base, _ = _zset(spark, sf_dir, out)
    stray = pathlib.Path(out) / "_optimize_staging"
    stray.mkdir()
    (stray / "part-orphan.parquet").write_bytes(b"pre-commit garbage")
    r = optimize_incremental(spark, str(out), target_file_bytes=1 << 20)
    assert not stray.exists()
    assert r["rewritten_files"] >= 0
    live = spark.read.parquet(str(out))
    assert live.count() == base.count()


def test_merge_commits_over_disjoint_partition_append(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Partition-scoped MERGE conflicts (r14, continued): an append
    landing in a partition the merge never touched commutes — the
    merge commits on the SAME attempt instead of restaging (at 100 TB:
    the hourly MERGE on today's partition lands despite a backfill
    streaming into yesterday's)."""
    import engage_spark.io as eio
    from engage_spark.io import append_dataset, upsert_dataset, write_parquet

    d = _docs(spark, sf_dir)
    langs = sorted(r.lang for r in d.select("lang").distinct().collect())
    hot, cold = langs[0], langs[-1]
    out = tmp_path / "pocc1"
    write_parquet(d, str(out), partition_by=["lang"])
    version_log_enable(spark, str(out))                            # v1
    # backfill slice: ONLY the cold partition, new ids
    backfill = (
        d.filter(F.col("lang") == cold)
        .select((F.col("doc_id") + 5_000_000).alias("doc_id"),
                "lang", "n_chars")
    )
    real_stage = eio._upsert_stage_partitioned
    stage_calls = {"n": 0}

    def racing_stage(*a, **k):
        st = real_stage(*a, **k)
        stage_calls["n"] += 1
        if stage_calls["n"] == 1 and st["staging"] is not None:
            append_dataset(
                spark, backfill, str(out), partition_by=["lang"]
            )
        return st

    monkeypatch.setattr(eio, "_upsert_stage_partitioned", racing_stage)
    # the merge touches ONLY the hot partition
    upd = (
        d.filter((F.col("lang") == hot) & (F.col("doc_id") % 3 == 0))
        .withColumn("n_chars", (F.col("n_chars") + 9).cast("long"))
    )
    upsert_dataset(
        spark, str(out), upd, ["doc_id"], partition_by=["lang"],
        assume_partition_stable=True,
    )
    monkeypatch.undo()
    assert stage_calls["n"] == 1, "a disjoint-partition append commutes"
    ops = [e["op"] for e in _vlog_entries(spark, str(out))]
    assert ops == ["init", "append", "upsert"]
    live = spark.read.parquet(str(out))
    assert live.count() == d.count() + backfill.count()
    # both effects present: merged values in hot, backfill rows in cold
    assert live.filter(
        (F.col("lang") == hot) & (F.col("doc_id") % 3 == 0)
        & (F.col("doc_id") < 5_000_000)
    ).join(
        d.select("doc_id", F.col("n_chars").alias("v0")), on="doc_id"
    ).filter(F.col("n_chars") != F.col("v0") + 9).count() == 0
    assert live.filter(F.col("doc_id") >= 5_000_000).count() == (
        backfill.count()
    )


def test_merge_commits_over_interleaved_logical_delete(
    spark, sf_dir, tmp_path, monkeypatch
):
    """A logical delete (DV batch) landing mid-merge commutes even on
    the merge's own partitions: the batch filters reads of any later
    version BY KEY — the staged rewrite included — which is exactly
    the serial outcome. The merge commits without restaging and the
    final read shows both effects."""
    import engage_spark.io as eio
    from engage_spark.io import delete_rows, upsert_dataset, write_parquet
    from engage_spark.versioning import latest_version

    d = _docs(spark, sf_dir)
    out = tmp_path / "pocc2"
    write_parquet(d, str(out), partition_by=["lang"])
    version_log_enable(spark, str(out))                            # v1
    doomed = d.filter(F.col("doc_id") % 10 == 7).select("doc_id")
    real_stage = eio._upsert_stage_partitioned
    stage_calls = {"n": 0}

    def racing_stage(*a, **k):
        st = real_stage(*a, **k)
        stage_calls["n"] += 1
        if stage_calls["n"] == 1 and st["staging"] is not None:
            delete_rows(spark, str(out), doomed, "doc_id")
        return st

    monkeypatch.setattr(eio, "_upsert_stage_partitioned", racing_stage)
    upd = (
        d.filter(F.col("doc_id") % 10 == 4)
        .withColumn("n_chars", F.lit(77).cast("long"))
    )
    upsert_dataset(
        spark, str(out), upd, ["doc_id"], partition_by=["lang"],
        assume_partition_stable=True,
    )
    monkeypatch.undo()
    assert stage_calls["n"] == 1, "a logical delete commutes by key"
    ops = [e["op"] for e in _vlog_entries(spark, str(out))]
    assert ops == ["init", "logical_delete", "upsert"]
    got = read_version(spark, str(out), latest_version(spark, str(out)))
    assert got.filter(F.col("doc_id") % 10 == 7).count() == 0
    assert (
        got.filter(F.col("doc_id") % 10 == 4)
        .filter(F.col("n_chars") != 77).count() == 0
    )
    assert got.count() == d.count() - doomed.count()


# ---------------------------------------------------------------------------
# Optimistic apply_deletes (round 14, continued): the takedown rewrite
# stages unleased; commits that only add files commute; pending-set
# mutators (new logical deletes, restores) and victim-movers restage.


def test_applydv_commits_over_commuting_append(
    spark, sf_dir, tmp_path, monkeypatch
):
    """An append landing between the takedown's stage and commit only
    ADDS files — the apply commits on the SAME attempt, the pending DV
    set settles exactly, and every version replays."""
    import os

    import engage_spark.io as eio
    from engage_spark.io import append_dataset, apply_deletes, delete_rows
    from engage_spark.versioning import latest_version

    out = tmp_path / "dvocc1"
    base, c = _zset(spark, sf_dir, out)
    doomed = base.filter(F.col("event_id") % 9 == 0).select("event_id")
    delete_rows(spark, str(out), doomed, "event_id")               # v3
    real_stage = eio._applydv_stage
    fired = {"n": 0}

    def racing_stage(*a, **k):
        st = real_stage(*a, **k)
        fired["n"] += 1
        if fired["n"] == 1:
            append_dataset(spark, c, str(out))  # commuting commit
        return st

    monkeypatch.setattr(eio, "_applydv_stage", racing_stage)
    r = apply_deletes(spark, str(out))
    monkeypatch.undo()
    assert fired["n"] == 1, "a commuting append must not restage"
    assert r["rewritten_files"] > 0
    ops = [e["op"] for e in _vlog_entries(spark, str(out))]
    assert ops == [
        "init", "append", "logical_delete", "append", "vacuum_deletes",
    ]
    exp = base.join(
        F.broadcast(doomed), on="event_id", how="left_anti"
    ).unionByName(c)
    live = spark.read.parquet(str(out))
    assert live.count() == exp.count()
    assert live.exceptAll(exp.select(*live.columns)).count() == 0
    v = latest_version(spark, str(out))
    assert read_version(spark, str(out), v).count() == exp.count()
    # the DV-pending view before the apply still replays
    assert read_version(spark, str(out), 3).count() == (
        base.count() - doomed.count()
    )
    sibs = [n for n in os.listdir(tmp_path) if "__applydv_staging_" in n]
    assert sibs == []


def test_applydv_restages_on_interleaved_logical_delete(
    spark, sf_dir, tmp_path, monkeypatch
):
    """A delete_rows landing mid-apply records keys the staged rewrite
    never saw; settling them as applied would lose the takedown — the
    apply must restage and the SECOND pass applies BOTH batches."""
    import engage_spark.io as eio
    from engage_spark.io import apply_deletes, delete_rows

    out = tmp_path / "dvocc2"
    base, _ = _zset(spark, sf_dir, out)
    first = base.filter(F.col("event_id") % 9 == 1).select("event_id")
    second = base.filter(F.col("event_id") % 9 == 2).select("event_id")
    delete_rows(spark, str(out), first, "event_id")
    real_stage = eio._applydv_stage
    fired = {"n": 0}

    def racing_stage(*a, **k):
        st = real_stage(*a, **k)
        fired["n"] += 1
        if fired["n"] == 1:
            delete_rows(spark, str(out), second, "event_id")  # mutator
        return st

    monkeypatch.setattr(eio, "_applydv_stage", racing_stage)
    apply_deletes(spark, str(out))
    monkeypatch.undo()
    assert fired["n"] == 2, "a pending-set mutator must restage"
    exp = base.join(
        F.broadcast(first.unionByName(second)),
        on="event_id", how="left_anti",
    )
    live = spark.read.parquet(str(out))
    assert live.count() == exp.count()
    assert live.exceptAll(exp.select(*live.columns)).count() == 0
    # the sidecar is fully consumed: a fresh apply is a no-op
    from engage_spark.io import apply_deletes as ad

    assert ad(spark, str(out)) == {
        "deleted_keys": 0, "rewritten_files": 0, "kept_files": 0,
    }
    ops = [e["op"] for e in _vlog_entries(spark, str(out))]
    assert "reconcile" not in ops


def test_applydv_swap_crash_replay_preserves_new_batches(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Crash after the takedown's swap manifest, before its entry and
    sidecar clear: the next maintenance contact replays the EXACT
    vacuum_deletes entry and clears only the PINNED sidecar parts — a
    key batch recorded after the crash survives in both the sidecar
    and the pending set."""
    import engage_spark.versioning as ever
    from engage_spark.io import apply_deletes, delete_rows, read_with_deletes
    from engage_spark.versioning import latest_version

    out = tmp_path / "dvocc3"
    base, _ = _zset(spark, sf_dir, out)
    first = base.filter(F.col("event_id") % 9 == 4).select("event_id")
    delete_rows(spark, str(out), first, "event_id")
    real_retain = ever._retain_file
    state = {"retains": 0}

    def crashing_retain(spark2, path2, name2):
        real_retain(spark2, path2, name2)
        state["retains"] += 1
        if state["retains"] == 1:
            raise RuntimeError("injected crash mid-takedown-replay")

    monkeypatch.setattr(ever, "_retain_file", crashing_retain)
    with pytest.raises(RuntimeError, match="injected crash"):
        apply_deletes(spark, str(out))
    monkeypatch.undo()
    import engage_spark.io as eio

    assert eio._applydv_swap_manifest_exists(spark, str(out))
    # a NEW batch lands while the swap manifest is pending: its
    # leased entry heals the crashed commit FIRST (reconcile hook),
    # so the pending-set ordering stays exact
    second = base.filter(F.col("event_id") % 9 == 5).select("event_id")
    delete_rows(spark, str(out), second, "event_id")
    assert not eio._applydv_swap_manifest_exists(spark, str(out))
    ops = [e["op"] for e in _vlog_entries(spark, str(out))]
    assert ops == [
        "init", "append", "logical_delete", "vacuum_deletes",
        "logical_delete",
    ]
    # first batch physically gone, second still logically in force
    exp = base.join(
        F.broadcast(first.unionByName(second)),
        on="event_id", how="left_anti",
    )
    got = read_with_deletes(spark, str(out))
    assert got.count() == exp.count()
    v = latest_version(spark, str(out))
    assert read_version(spark, str(out), v).count() == exp.count()
    # the second batch's keys are still present PHYSICALLY (only
    # logically deleted): a fresh apply consumes them
    apply_deletes(spark, str(out))
    live = spark.read.parquet(str(out))
    assert live.count() == exp.count()
    assert live.exceptAll(exp.select(*live.columns)).count() == 0


def test_partless_deletes_dir_reads_as_absent(spark, sf_dir, tmp_path):
    """Crash window between the last pinned sidecar-part delete and
    the dir delete leaves _deletes/ holding only markers — every
    later read/apply must treat that as NO sidecar instead of dying
    on schema inference from a parquet-less dir (review-found)."""
    import pathlib

    from engage_spark.io import apply_deletes, delete_rows, read_with_deletes

    out = tmp_path / "partless"
    base, _ = _zset(spark, sf_dir, out)
    doomed = base.filter(F.col("event_id") % 9 == 6).select("event_id")
    delete_rows(spark, str(out), doomed, "event_id")
    dels = pathlib.Path(out) / "_deletes"
    for part in dels.glob("*.parquet"):
        part.unlink()  # simulate the crash: data parts gone, dir+markers left
    assert dels.exists()
    assert read_with_deletes(spark, str(out)).count() == base.count()
    assert apply_deletes(spark, str(out)) == {
        "deleted_keys": 0, "rewritten_files": 0, "kept_files": 0,
    }


def test_disjoint_partition_merges_race_and_both_land(spark, sf_dir, tmp_path):
    """Two optimistic MERGEs on DISJOINT partition sets race with real
    threads: under the partition-scoped conflict rule neither sees the
    other as a conflict — both land as exact `upsert` entries and the
    final state shows both effects (at 100 TB: one writer per
    partition group, not per table)."""
    import threading

    from engage_spark.io import upsert_dataset, write_parquet

    d = _docs(spark, sf_dir)
    langs = sorted(r.lang for r in d.select("lang").distinct().collect())
    assert len(langs) >= 2
    a_langs, b_langs = langs[: len(langs) // 2], langs[len(langs) // 2:]
    out = tmp_path / "mxm"
    write_parquet(d, str(out), partition_by=["lang"])
    version_log_enable(spark, str(out))                            # v1
    errs: list = []

    def merger(langset, bump):
        try:
            upd = (
                d.filter(F.col("lang").isin(langset))
                .filter(F.col("doc_id") % 3 == 0)
                .withColumn(
                    "n_chars", (F.col("n_chars") + bump).cast("long")
                )
            )
            upsert_dataset(
                spark, str(out), upd, ["doc_id"], partition_by=["lang"],
                assume_partition_stable=True, lease_wait_s=120.0,
            )
        except Exception as e:  # pragma: no cover
            errs.append(e)

    ts = [
        threading.Thread(target=merger, args=(a_langs, 100)),
        threading.Thread(target=merger, args=(b_langs, 200)),
    ]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert errs == []
    ops = [e["op"] for e in _vlog_entries(spark, str(out))]
    assert ops == ["init", "upsert", "upsert"]
    live = spark.read.parquet(str(out))
    assert live.count() == d.count()
    exp = d.withColumn(
        "n_chars",
        F.when(
            (F.col("doc_id") % 3 == 0) & F.col("lang").isin(a_langs),
            F.col("n_chars") + 100,
        ).when(
            (F.col("doc_id") % 3 == 0) & F.col("lang").isin(b_langs),
            F.col("n_chars") + 200,
        ).otherwise(F.col("n_chars")).cast("long"),
    )
    assert live.select("doc_id", "lang", "n_chars").exceptAll(
        exp.select("doc_id", "lang", "n_chars")
    ).count() == 0


def test_merge_schema_mismatch_raises_by_default(spark, sf_dir, tmp_path):
    """An extra column in the change batch was previously dropped
    SILENTLY (a grown CDC delivery lost its new field with no error);
    both directions now raise unless evolve_schema is passed."""
    from engage_spark.io import upsert_dataset, write_parquet

    d = _docs(spark, sf_dir)
    out = tmp_path / "evostrict"
    write_parquet(d, str(out), partition_by=["lang"])
    version_log_enable(spark, str(out))
    grown = d.limit(10).withColumn("quality", F.lit(0.5))
    with pytest.raises(ValueError, match="new columns \\['quality'\\]"):
        upsert_dataset(
            spark, str(out), grown, ["doc_id"], partition_by=["lang"],
            assume_partition_stable=True,
        )
    # the MISSING direction raises even when evolving: NULL-filling a
    # missing column would destroy every matched row's value for it
    shrunk = d.limit(10).drop("n_chars")
    for evolve in (False, True):
        with pytest.raises(ValueError, match="missing target columns"):
            upsert_dataset(
                spark, str(out), shrunk, ["doc_id"],
                partition_by=["lang"], assume_partition_stable=True,
                evolve_schema=evolve,
            )
    # a batch missing the PARTITION column gets the same clear error
    # (previously an opaque AnalysisException from deep inside)
    with pytest.raises(ValueError, match="missing target columns"):
        upsert_dataset(
            spark, str(out), d.limit(10).drop("lang"), ["doc_id"],
            partition_by=["lang"], assume_partition_stable=True,
        )
    # nothing committed by either refusal
    ops = [e["op"] for e in _vlog_entries(spark, str(out))]
    assert ops == ["init"]


def test_merge_evolve_schema_adds_column_without_rewriting_cold_files(
    spark, sf_dir, tmp_path
):
    """evolve_schema=True: a CDC batch that grew a `quality` column
    merges into ONE partition; that partition's rewrite carries the
    column, untouched partitions keep their files byte-identical, the
    mergeSchema read surfaces NULL for old rows, and a SECOND evolved
    merge into another partition reads the first evolution back
    intact (the mergeSchema target read)."""
    from engage_spark.io import upsert_dataset, write_parquet
    from engage_spark.versioning import _live_names, latest_version

    d = _docs(spark, sf_dir)
    langs = sorted(r.lang for r in d.select("lang").distinct().collect())
    hot, hot2 = langs[0], langs[1]
    out = tmp_path / "evolve"
    write_parquet(d, str(out), partition_by=["lang"])
    version_log_enable(spark, str(out))                            # v1
    before = {
        n for n in _live_names(spark, str(out))
        if not n.startswith(f"lang={hot}/")
    }
    upd = (
        d.filter((F.col("lang") == hot) & (F.col("doc_id") % 2 == 0))
        .withColumn("quality", (F.col("doc_id") % 100) / F.lit(100.0))
    )
    upsert_dataset(
        spark, str(out), upd, ["doc_id"], partition_by=["lang"],
        assume_partition_stable=True, evolve_schema=True,
    )                                                              # v2
    after = {
        n for n in _live_names(spark, str(out))
        if not n.startswith(f"lang={hot}/")
    }
    assert before == after, "untouched partitions must keep their files"
    back = spark.read.option("mergeSchema", "true").parquet(str(out))
    assert back.count() == d.count()
    assert back.filter(F.col("quality").isNotNull()).count() == upd.count()
    assert back.filter(
        (F.col("lang") != hot) & F.col("quality").isNotNull()
    ).count() == 0
    # second evolved merge into ANOTHER partition must not lose the
    # first partition's quality column (mergeSchema target read)
    upd2 = (
        d.filter((F.col("lang") == hot2) & (F.col("doc_id") % 2 == 1))
        .withColumn("quality", F.lit(0.25))
    )
    upsert_dataset(
        spark, str(out), upd2, ["doc_id"], partition_by=["lang"],
        assume_partition_stable=True, evolve_schema=True,
    )                                                              # v3
    back2 = spark.read.option("mergeSchema", "true").parquet(str(out))
    assert back2.filter(F.col("quality").isNotNull()).count() == (
        upd.count() + upd2.count()
    )
    # time travel: the pre-evolution version replays without the column
    v = latest_version(spark, str(out))
    assert "quality" not in read_version(spark, str(out), v - 2).columns
    got = read_version(spark, str(out), v)
    assert got.count() == d.count()


def test_default_merge_after_evolution_preserves_evolved_column(
    spark, sf_dir, tmp_path
):
    """The review-found survivor-erasure hazard: after one evolved
    merge, a LATER merge with the default flag into the SAME partition
    must read the target with mergeSchema (durable marker), so the
    evolved column survives the rewrite instead of depending on which
    footer Spark sampled."""
    import pathlib

    from engage_spark.io import upsert_dataset, write_parquet

    d = _docs(spark, sf_dir)
    hot = sorted(r.lang for r in d.select("lang").distinct().collect())[0]
    out = tmp_path / "evomarker"
    write_parquet(d, str(out), partition_by=["lang"])
    version_log_enable(spark, str(out))
    evolved = (
        d.filter((F.col("lang") == hot) & (F.col("doc_id") % 2 == 0))
        .withColumn("quality", F.lit(0.9))
    )
    upsert_dataset(
        spark, str(out), evolved, ["doc_id"], partition_by=["lang"],
        assume_partition_stable=True, evolve_schema=True,
    )
    assert (pathlib.Path(out) / "_schema_evolution").exists()
    n_scored = (
        spark.read.option("mergeSchema", "true").parquet(str(out))
        .filter(F.col("quality").isNotNull()).count()
    )
    assert n_scored == evolved.count()
    # default-mode merge into the SAME partition: its batch carries
    # the evolved column (gate: missing always raises), and the
    # rewrite must keep every unmatched row's quality intact
    upd = (
        d.filter((F.col("lang") == hot) & (F.col("doc_id") % 4 == 1))
        .withColumn("quality", F.lit(None).cast("double"))
    )
    upsert_dataset(
        spark, str(out), upd, ["doc_id"], partition_by=["lang"],
        assume_partition_stable=True,
    )
    back = spark.read.option("mergeSchema", "true").parquet(str(out))
    # %2==0 keys untouched by the second merge keep their 0.9
    kept = back.filter(
        (F.col("doc_id") % 2 == 0) & (F.col("doc_id") % 4 != 1)
        & (F.col("lang") == hot)
    )
    assert kept.filter(F.col("quality").isNotNull()).count() == kept.count()
    assert back.count() == d.count()


def test_missing_file_detector_covers_local_permission_probe():
    """Soak-found (r15): a victim moved by a racing commit mid-listing
    surfaces through RawLocalFileSystem's permission probe as an
    ls-shell error, not a FileNotFoundException — the OCC retry paths
    must classify it as a write conflict (restage), not a crash."""
    from engage_spark.io import _is_missing_file_error

    shell_err = RuntimeError(
        "An error occurred while calling o9194.hasNext.\n"
        ": java.lang.RuntimeException: Error while running command to "
        "get file permissions : ExitCodeException exitCode=2: ls: "
        "cannot access '/tmp/x/lang=de/part-00000.snappy.parquet': "
        "No such file or directory"
    )
    assert _is_missing_file_error(shell_err)
    assert _is_missing_file_error(Exception("PATH_NOT_FOUND: /x"))
    assert not _is_missing_file_error(Exception("quota exceeded"))


def test_commit_schema_fast_path_matches_spark_inference(spark, tmp_path):
    """r16 (VERDICT r15 #6): the driver-side increment schema (one
    arrow footer + hive-dir parse) must equal Spark's own inference
    for every partition value class it claims — int, long, double,
    string, date, NULL/__HIVE_DEFAULT_PARTITION__, hive-escaped
    strings — and must REFUSE (return None → caller falls back) the
    ambiguous classes: timestamp data columns, >long integers,
    exponent forms, date-like strings with time parts."""
    import glob
    import os

    from engage_spark.versioning import _schema_from_footer_and_dirs

    import pyarrow.parquet as pq

    seq = iter(range(1000))

    def compare(df, part_col):
        tgt = str(tmp_path / f"sc_{part_col}_{next(seq)}")
        df.write.partitionBy(part_col).parquet(tgt)
        files = sorted(
            os.path.relpath(p, tgt)
            for p in glob.glob(f"{tgt}/*/*.parquet")
        )
        footer = pq.read_schema(os.path.join(tgt, files[0]))
        fast = _schema_from_footer_and_dirs(footer, files)
        ref = (
            spark.read.option("basePath", tgt)
            .option("mergeSchema", "false")
            .parquet(*[f"{tgt}/{f}" for f in files])
            .schema
        )
        return fast, ref

    import datetime

    sweep = [
        ("p int", [(1, 5), (2, 7)]),                      # int dirs
        ("p long", [(1, 2**40), (2, 5)]),                 # long dirs (mixed int+long)
        ("p double", [(1, 0.5), (2, 1.25)]),              # double dirs
        ("p string", [(1, "en"), (2, "de")]),             # plain strings
        ("p string", [(1, "a/b"), (2, "x=y"), (3, "pct%")]),  # escaped strings
        ("p date", [(1, datetime.date(2030, 1, 15)), (2, datetime.date(2031, 2, 1))]),
        ("p string", [(1, None), (2, "en")]),             # NULL partition + string
        ("p int", [(1, None), (2, 7)]),                   # NULL partition + int
    ]
    for pcol, rows in sweep:
        pname = pcol.split()[0]
        df = spark.createDataFrame(
            [(k, v, float(k), f"s{k}") for k, v in rows],
            f"k long, {pcol}, x double, s string",
        )
        fast, ref = compare(df, pname)
        assert fast is not None, f"fast path refused {pcol} {rows}"
        assert fast == ref, f"{pcol} {rows}: {fast} != {ref}"

    # data-column sweep on one partition layout: long/int/double/
    # float/string/bool/date/array/binary all convert identically
    df = spark.createDataFrame(
        [(1, "en", 2, 0.5, 1.5, "t", True, datetime.date(2030, 1, 1),
          [1, 2], bytearray(b"xy"))],
        "k long, lang string, i int, d double, f float, s string, "
        "b boolean, dt date, arr array<long>, bin binary",
    )
    fast, ref = compare(df, "lang")
    assert fast is not None and fast == ref

    # REQUIRED-written columns (spark.range output is non-nullable,
    # array(id,id) has containsNull=false in the footer) must read
    # back fully nullable, exactly like Spark's asNullable relation
    # schema — the r16 fix for the poisoned-log regression
    df_req = (
        spark.range(0, 6)
        .select(
            F.col("id").alias("k"),
            (F.col("id") % 2).cast("string").alias("lang"),
            F.array(F.col("id"), F.col("id") + 1).alias("arr"),
        )
    )
    fast, ref = compare(df_req, "lang")
    assert fast is not None and fast == ref

    # refusals: a timestamp DATA column is ambiguous through arrow
    # (INT96 loses the tz distinction) — must fall back, not guess
    df_ts = spark.createDataFrame(
        [(1, "en", datetime.datetime(2030, 1, 1, 12, 0))],
        "k long, lang string, ts timestamp",
    )
    fast, _ = compare(df_ts, "lang")
    assert fast is None

    # ... but with the parquet FOOTER in hand (what _commit_schema_json
    # reads) timestamps are typed as Spark types them: INT96 is
    # TIMESTAMP, Spark's NTZ is TIMESTAMP_NTZ — Spark's own schema in
    # the footer metadata wins over inferTimestampNTZ — and a footer
    # without it follows isAdjustedToUTC and the flag; NANOS is refused
    def compare_footer(tgt, files, infer_ntz=True):
        md = pq.read_metadata(os.path.join(tgt, files[0]))
        fast = _schema_from_footer_and_dirs(
            md.schema.to_arrow_schema(), files, md, infer_ntz=infer_ntz
        )
        ref = (
            spark.read.option("basePath", tgt)
            .option("mergeSchema", "false")
            .parquet(*[f"{tgt}/{f}" for f in files])
            .schema
        )
        return fast, ref

    import pyarrow as pa

    flag = "spark.sql.parquet.inferTimestampNTZ.enabled"
    df_both = spark.createDataFrame(
        [(1, "en", datetime.datetime(2030, 1, 1, 12, 0),
          datetime.datetime(2030, 1, 1, 12, 0))],
        "k long, lang string, ts timestamp, ntz timestamp_ntz",
    )
    tgt = str(tmp_path / "sc_ts_both")
    df_both.write.partitionBy("lang").parquet(tgt)
    files = sorted(
        os.path.relpath(p, tgt) for p in glob.glob(f"{tgt}/*/*.parquet")
    )
    pa_tgt = str(tmp_path / "sc_ts_arrow")
    os.makedirs(f"{pa_tgt}/lang=en")
    pq.write_table(
        pa.table({
            "k": [1],
            "utc_us": pa.array([1], pa.timestamp("us", tz="UTC")),
            "local_us": pa.array([1], pa.timestamp("us")),
            "local_ms": pa.array([1], pa.timestamp("ms")),
        }),
        f"{pa_tgt}/lang=en/part-0.parquet",
    )
    try:
        for on in ("true", "false"):
            spark.conf.set(flag, on)
            for t, fs in ((tgt, files), (pa_tgt, ["lang=en/part-0.parquet"])):
                fast, ref = compare_footer(t, fs, infer_ntz=on == "true")
                assert fast is not None and fast == ref, (on, t, fast, ref)
    finally:
        spark.conf.unset(flag)
    got = {f.name: f.dataType.typeName() for f in compare_footer(tgt, files)[0]}
    assert (got["ts"], got["ntz"]) == ("timestamp", "timestamp_ntz")
    ns_tgt = str(tmp_path / "sc_ts_ns")
    os.makedirs(ns_tgt)
    pq.write_table(
        pa.table({"k": [1], "t": pa.array([1], pa.timestamp("ns"))}),
        f"{ns_tgt}/part-0.parquet",
    )
    md = pq.read_metadata(f"{ns_tgt}/part-0.parquet")
    assert _schema_from_footer_and_dirs(
        md.schema.to_arrow_schema(), ["part-0.parquet"], md
    ) is None

    # refusals: partition classes Java parses differently from the
    # strict regexes — huge ints (decimal), exponent forms, padded
    # numerics — must return None
    from engage_spark.versioning import _infer_part_type

    assert _infer_part_type({"123456789012345678901234567890"}) is None
    assert _infer_part_type({"1e5"}) is None
    assert _infer_part_type({" 15"}) is None
    assert _infer_part_type({"-abc"}) is None
    # digit-led strings ("100%") could be numeric/temporal under
    # Java's looser parsers — refused, caller falls back
    assert _infer_part_type({"100%25"}) is None
    # date-invalid lookalike resolves to string exactly like Spark
    from pyspark.sql.types import StringType

    assert _infer_part_type({"2030-02-31"}) == StringType()


def test_part_double_needs_a_fraction_digit(spark, tmp_path):
    """"1." is a DECIMAL under Spark's partition inference (BigDecimal
    with scale 0), not a double: the classifier must refuse it instead
    of claiming DoubleType, while ".5" and "1.5" stay doubles."""
    from pyspark.sql.types import DoubleType

    from engage_spark.versioning import _infer_part_type

    assert _infer_part_type({"1."}) is None
    assert _infer_part_type({"-1."}) is None
    assert _infer_part_type({".5", "1.5"}) == DoubleType()
    tgt = str(tmp_path / "pdbl")
    spark.range(1).write.parquet(f"{tgt}/p=1.")
    assert spark.read.parquet(tgt).schema["p"].dataType != DoubleType()


def test_footer_schema_refuses_root_file_beside_partitions():
    """A root-level file followed by a partitioned one is a MIXED
    layout; the first path's empty partition list must not read as
    "not set yet" and let the second path's columns through."""
    import pyarrow as pa

    from engage_spark.versioning import _schema_from_footer_and_dirs

    schema = pa.schema([("k", pa.int64())])
    assert _schema_from_footer_and_dirs(
        schema, ["part-0.parquet", "p=1/part-1.parquet"]
    ) is None
    assert _schema_from_footer_and_dirs(
        schema, ["p=1/part-1.parquet", "part-0.parquet"]
    ) is None
    assert _schema_from_footer_and_dirs(schema, ["part-0.parquet"]) is not None


def test_write_schema_gate_refuses_inexact_types(spark, tmp_path):
    """zorder_append used to accept a TIMESTAMP batch into a
    TIMESTAMP_NTZ table, after which read_version of the new version
    failed to merge the schemas. The shared gate of append_dataset,
    zorder_append and upsert_dataset refuses a type mismatch, casts an
    exact widening, and every version stays readable."""
    from pyspark.sql.types import IntegerType, TimestampNTZType

    from engage_spark.io import append_dataset, upsert_dataset
    from engage_spark.versioning import latest_version

    p = str(tmp_path / "gate")

    def batch(lo, ts_type, a_type="int"):
        ts = F.timestamp_seconds(F.col("id") * 60)
        if ts_type == "ntz":
            ts = F.to_timestamp_ntz(ts.cast("string"))
        return spark.range(lo, lo + 20).select(
            F.col("id").alias("k"),
            (F.col("id") % 5).cast(a_type).alias("a"),
            ts.alias("ts"),
        )

    zorder_write(spark, batch(0, "ntz"), p, ["k", "a"], num_files=2)
    version_log_enable(spark, p)
    bad = batch(100, "ltz")
    for write in (
        lambda: zorder_append(spark, bad, p),
        lambda: append_dataset(spark, bad, p),
        lambda: upsert_dataset(spark, p, bad, ["k"]),
    ):
        with pytest.raises(ValueError, match="ts: timestamp into timestamp_ntz"):
            write()
    # an exact widening (smallint into int) is cast, not refused
    zorder_append(spark, batch(200, "ntz", a_type="smallint"), p)
    upsert_dataset(spark, p, batch(5, "ntz", a_type="tinyint"), ["k"])
    for v in range(1, latest_version(spark, p) + 1):
        df = read_version(spark, p, v)
        assert df.schema["ts"].dataType == TimestampNTZType()
        assert df.schema["a"].dataType == IntegerType()
        df.collect()
    # 20 published + 20 appended + 5 new keys of the 20-row upsert
    assert read_version(spark, p, latest_version(spark, p)).count() == 45
