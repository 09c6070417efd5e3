"""The pluggable commit-primitive seam (round 15, VERDICT r14 missing
#2): the maintenance lease and the log's version allocation go through
a CommitStore — default = the previous O_EXCL / create(overwrite=false)
behavior, injectable = a conditional-put implementation for backends
where neither filesystem primitive is atomic (S3-style).

Pins: the default store's primitives are atomic on file://; the whole
writer-concurrency stack (racing appenders, lease contention, expired-
lease break) runs CORRECTLY against the reference conditional-put
store (no O_EXCL, no rename — pure CAS semantics, the S3
If-None-Match shape); and the per-version claim makes double
allocation impossible even when the lease is bypassed outright.
"""

from __future__ import annotations

import threading

import pytest
from pyspark.sql import functions as F

from engage_spark.commitstore import (
    HadoopCommitStore,
    InMemoryCASCommitStore,
    get_commit_store,
    set_commit_store,
)
from engage_spark.io import (
    MaintenanceLockHeld,
    append_dataset,
    maintenance_lease,
    write_parquet,
)
from engage_spark.versioning import (
    dataset_history,
    latest_version,
    read_version,
    version_log_enable,
)


@pytest.fixture()
def cas_store():
    """Inject the reference conditional-put store; always restore the
    default afterwards (session-scoped Spark outlives this test)."""
    prev = set_commit_store(InMemoryCASCommitStore())
    try:
        yield get_commit_store()
    finally:
        set_commit_store(prev)


def _rows(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("grp")
    )


def test_default_store_primitives(spark, tmp_path):
    st = HadoopCommitStore()
    p = f"{tmp_path}/obj"
    assert st.read(spark, p) is None
    assert st.put_if_absent(spark, p, b"alpha") is True
    assert st.put_if_absent(spark, p, b"beta") is False  # loser sees it
    assert st.read(spark, p) == b"alpha"
    assert st.claim(spark, p, f"{tmp_path}/obj.scratch") is True
    assert st.read(spark, p) is None
    assert st.claim(spark, p, f"{tmp_path}/obj.scratch2") is False
    st.delete(spark, p)  # absent delete is a no-op


def test_cas_store_primitives(spark, tmp_path):
    st = InMemoryCASCommitStore()
    p = f"{tmp_path}/obj"
    winners = []

    def race(i):
        if st.put_if_absent(spark, p, f"w{i}".encode()):
            winners.append(i)

    ts = [threading.Thread(target=race, args=(i,)) for i in range(8)]
    [t.start() for t in ts]
    [t.join() for t in ts]
    assert len(winners) == 1
    assert st.read(spark, p) == f"w{winners[0]}".encode()
    assert st.claim(spark, p, "scratch") is True
    assert st.claim(spark, p, "scratch") is False


def test_lease_and_appends_run_on_cas_store(spark, tmp_path, cas_store):
    """The full staged-append concurrency stack on the conditional-put
    store: racing appenders all land exactly once, history is exact,
    and the lock never touches the filesystem's O_EXCL path."""
    out = str(tmp_path / "cas_ds")
    write_parquet(_rows(spark, 0, 1000), out)
    version_log_enable(spark, out)
    errs: list = []

    def appender(k):
        try:
            append_dataset(
                spark, _rows(spark, 1000 + 500 * k, 1500 + 500 * k), out,
                lease_wait_s=60.0,
            )
        except Exception as e:  # pragma: no cover — surfaced below
            errs.append(e)

    ts = [threading.Thread(target=appender, args=(k,)) for k in range(4)]
    [t.start() for t in ts]
    [t.join() for t in ts]
    assert not errs
    hi = latest_version(spark, out)
    got = read_version(spark, out, hi)
    assert got.count() == 3000
    assert got.select("k").distinct().count() == 3000
    ops = [r["op"] for r in dataset_history(spark, out).collect()]
    assert ops.count("append") == 4
    # the lock arbitrated through the CAS table, not the filesystem
    import os

    assert not os.path.exists(f"{out}/_maintenance_lock")


def test_lease_contention_and_release_on_cas_store(
    spark, tmp_path, cas_store
):
    out = str(tmp_path / "cas_lock")
    write_parquet(_rows(spark, 0, 10), out)
    held, release = threading.Event(), threading.Event()
    state: dict = {}

    def holder():
        with maintenance_lease(spark, out):
            held.set()
            release.wait(20)

    t = threading.Thread(target=holder)
    t.start()
    assert held.wait(10)

    def contender():
        try:
            with maintenance_lease(spark, out):
                state["got"] = True
        except MaintenanceLockHeld as e:
            state["err"] = str(e)

    t2 = threading.Thread(target=contender)
    t2.start()
    t2.join()
    assert "err" in state and "got" not in state
    release.set()
    t.join()
    with maintenance_lease(spark, out):  # released cleanly, reacquirable
        pass


def test_version_claim_prevents_double_allocation(spark, tmp_path):
    """Even if a foreign writer claimed the next version number (the
    lease-bypassed S3 race), the entry writer resolves through the
    claim: it allocates the NEXT number, the log never carries two
    entries for one version, and the resulting gap is read-tolerated."""
    out = str(tmp_path / "claimed")
    write_parquet(_rows(spark, 0, 100), out)
    version_log_enable(spark, out)  # v1
    # foreign claim for v2 (crashed writer / racing lease-less commit)
    st = get_commit_store()
    assert st.put_if_absent(
        spark, f"{out}/_versions/log/.v{2:012d}.claim", b"{}"
    )
    append_dataset(spark, _rows(spark, 100, 150), out)
    vs = [r["version"] for r in dataset_history(spark, out).collect()]
    assert vs == [1, 3]  # v2 skipped, never double-written
    assert read_version(spark, out, 3).count() == 150
    assert read_version(spark, out, 2).count() == 100  # gap reads as prior


def test_stale_claim_never_divorces_side_effects(spark, tmp_path):
    """Review-found (r15): callers that write version-NAMED side
    effects (record_logical_delete's deletes_v{N} batch) must allocate
    through the claim, not precompute max+1 — a stale claim (crashed
    writer between claim and entry) previously shifted the entry to
    v+1 while the batch landed at v, corrupting the log durably."""
    from engage_spark.io import delete_rows

    out = str(tmp_path / "staleclaim")
    write_parquet(_rows(spark, 0, 200), out)
    version_log_enable(spark, out)  # v1
    # stale claim for v2: a writer crashed between claim and entry
    st = get_commit_store()
    assert st.put_if_absent(
        spark, f"{out}/_versions/log/.v{2:012d}.claim", b"{}"
    )
    delete_rows(
        spark, out,
        spark.range(0, 10).select(F.col("id").alias("k")), "k",
    )
    hist = {r["version"]: r["op"] for r in dataset_history(spark, out).collect()}
    dv = [v for v, op in hist.items() if op == "logical_delete"]
    assert len(dv) == 1
    v = dv[0]
    assert v != 2  # the stale claim's number was skipped
    import os

    # the batch is named after the ENTRY's version — consistent
    assert os.path.isdir(f"{out}/_versions/retained/deletes_v{v}")
    # and every read resolves (the old bug made this PATH_NOT_FOUND)
    assert read_version(spark, out, v).count() == 190
    assert read_version(spark, out, 1).count() == 200


def test_crashed_enable_leaves_dataset_healthy(spark, tmp_path):
    """Review-found (r15): the claim's create makes the log dir, so an
    enable that crashes before its init entry used to leave a
    claim-only dir that read as 'enabled' and failed every op. Now:
    not enabled, and a re-enable lands init at v1."""
    import os

    from engage_spark.versioning import version_log_enabled

    out = str(tmp_path / "crashenable")
    write_parquet(_rows(spark, 0, 50), out)
    # simulate the crash: claim only, no entry
    os.makedirs(f"{out}/_versions/log", exist_ok=True)
    open(f"{out}/_versions/log/.v{1:012d}.claim", "wb").write(b"{}")
    assert version_log_enabled(spark, out) is False
    assert spark.read.parquet(out).count() == 50  # plain reads fine
    v = version_log_enable(spark, out)
    assert v == 1  # stale claim cleared; init is v1, not v2
    assert read_version(spark, out, 1).count() == 50


def test_compact_spares_inflight_claims(spark, tmp_path):
    """Review-found (r15): log compaction must not count claims toward
    its threshold nor delete a claim ABOVE the committed tip (an
    in-flight writer's allocation on a lease-less backend); settled
    claims (<= tip) are swept."""
    import os

    from engage_spark.io import maintenance_lease
    from engage_spark.versioning import _vlog_compact, _vlog_entries

    out = str(tmp_path / "compactclaims")
    write_parquet(_rows(spark, 0, 100), out)
    version_log_enable(spark, out)
    for k in range(3):
        append_dataset(spark, _rows(spark, 100 + k * 10, 110 + k * 10), out)
    tip = latest_version(spark, out)
    inflight = f"{out}/_versions/log/.v{tip + 1:012d}.claim"
    open(inflight, "wb").write(b"{}")
    with maintenance_lease(spark, out):
        assert _vlog_compact(spark, out, max_parts=1) is True
    # settled claims swept, in-flight one survives
    left = [
        n for n in os.listdir(f"{out}/_versions/log") if n.endswith(".claim")
    ]
    assert left == [f".v{tip + 1:012d}.claim"]
    # log intact after compaction
    assert [e["version"] for e in _vlog_entries(spark, out)] == list(
        range(1, tip + 1)
    )
    # and the in-flight claim still forces the next entry past it
    append_dataset(spark, _rows(spark, 500, 510), out)
    assert latest_version(spark, out) == tip + 2


class CopyDeleteCommitStore(HadoopCommitStore):
    """r16 fake store: an object-store-shaped backend where RENAME DOES
    NOT EXIST — every data move is a full copy followed by a delete of
    the source. Proves the MERGE/optimize commit sequences rely only
    on the CommitStore contract, never on rename atomicity."""

    def __init__(self):
        self.moves = 0
        self.replaces = 0

    def _copy_delete(self, spark, src, dst):
        from engage_spark.io import _hadoop_fs

        sfs, sp = _hadoop_fs(spark, src)
        dfs, dp = _hadoop_fs(spark, dst)
        dfs.mkdirs(dp.getParent())
        conf = spark._jsc.hadoopConfiguration()
        ok = spark._jvm.org.apache.hadoop.fs.FileUtil.copy(
            sfs, sp, dfs, dp, True, conf
        )
        if not ok:
            raise RuntimeError(f"copy {src} -> {dst} failed")

    def move(self, spark, src, dst):
        self.moves += 1
        self._copy_delete(spark, src, dst)

    def replace_dir(self, spark, src, dst):
        from engage_spark.io import _hadoop_fs

        self.replaces += 1
        dfs, dp = _hadoop_fs(spark, dst)
        dfs.delete(dp, True)
        self._copy_delete(spark, src, dst)


@pytest.fixture()
def copydelete_store():
    prev = set_commit_store(CopyDeleteCommitStore())
    try:
        yield get_commit_store()
    finally:
        set_commit_store(prev)


def test_upsert_commits_hold_without_atomic_rename(
    spark, tmp_path, copydelete_store
):
    """VERDICT r15 #3: the data-path commit is behind the seam — the
    partitioned rename commit, the unpartitioned full swap, and the
    versioned optimistic commit must all produce exact results on a
    store whose moves are copy+delete."""
    from engage_spark.io import upsert_dataset

    # partitioned, non-versioned: per-partition replace + emptied dir
    tgt = str(tmp_path / "cd_part")
    spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)],
        "k long, part string, v long",
    ).write.partitionBy("part").parquet(tgt)
    upsert_dataset(
        spark, tgt,
        spark.createDataFrame(
            [(1, "a", 11, False), (3, "c", 0, True), (4, "d", 40, False)],
            "k long, part string, v long, is_delete boolean",
        ),
        ["k"], partition_by=["part"], delete_col="is_delete",
    )
    back = {r.k: (r.part, r.v) for r in spark.read.parquet(tgt).collect()}
    assert back == {1: ("a", 11), 2: ("b", 20), 4: ("d", 40)}

    # unpartitioned: full-dir swap through replace_dir + marker
    tgt2 = str(tmp_path / "cd_flat")
    spark.createDataFrame([(1, "x"), (2, "y")], "k long, v string").write.parquet(tgt2)
    upsert_dataset(
        spark, tgt2,
        spark.createDataFrame([(2, "Y"), (5, "z")], "k long, v string"),
        ["k"],
    )
    back2 = {r.k: r.v for r in spark.read.parquet(tgt2).collect()}
    assert back2 == {1: "x", 2: "Y", 5: "z"}

    # versioned partitioned MERGE: optimistic stage/commit moves
    tgt3 = str(tmp_path / "cd_vpart")
    spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20)], "k long, part string, v long"
    ).write.partitionBy("part").parquet(tgt3)
    version_log_enable(spark, tgt3)
    upsert_dataset(
        spark, tgt3,
        spark.createDataFrame(
            [(1, "a", 99, False)], "k long, part string, v long, is_delete boolean"
        ),
        ["k"], partition_by=["part"], delete_col="is_delete",
    )
    v = latest_version(spark, tgt3)
    now = {r.k: r.v for r in spark.read.parquet(tgt3).collect()}
    assert now == {1: 99, 2: 20}
    before = {r.k: r.v for r in read_version(spark, tgt3, v - 1).collect()}
    assert before == {1: 10, 2: 20}
    assert copydelete_store.moves > 0  # the seam actually carried the commit


def test_swap_recover_rolls_crashed_swap_forward(spark, tmp_path):
    """ADVICE r15: a hard kill inside _swap_dirs' destructive window
    (target deleted, staging present) previously left NO breadcrumb at
    the target. The marker + _swap_recover must roll the staged copy
    forward in every crash window, and the upsert entry must heal
    before its bootstrap check can mistake the missing target for a
    first write."""
    import json

    from engage_spark.io import (
        _SWAP_MARKER_SUFFIX,
        _hadoop_fs,
        _swap_recover,
        upsert_dataset,
    )

    store = get_commit_store()

    # window: marker written, target deleted, staging intact
    tgt = str(tmp_path / "sw")
    staging = tgt + "__upsert_staging_deadbeef"
    spark.createDataFrame([(1, "merged"), (2, "rows")], "k long, v string")\
        .write.parquet(staging)
    marker = f"{tgt}{_SWAP_MARKER_SUFFIX}"
    assert store.put_if_absent(
        spark, marker, json.dumps({"staging": staging}).encode()
    )
    assert _swap_recover(spark, tgt) is True
    back = {r.k: r.v for r in spark.read.parquet(tgt).collect()}
    assert back == {1: "merged", 2: "rows"}
    assert store.read(spark, marker) is None
    fs, sp = _hadoop_fs(spark, staging)
    assert not fs.exists(sp)

    # window: swap landed, crash before marker removal -> marker
    # clears, target untouched
    assert store.put_if_absent(
        spark, marker, json.dumps({"staging": staging}).encode()
    )
    assert _swap_recover(spark, tgt) is True
    assert {r.k: r.v for r in spark.read.parquet(tgt).collect()} == back
    assert store.read(spark, marker) is None

    # end to end: the upsert entry heals a torn swap before merging
    tgt2 = str(tmp_path / "sw2")
    staging2 = tgt2 + "__upsert_staging_cafebabe"
    spark.createDataFrame([(7, "old-merged")], "k long, v string")\
        .write.parquet(staging2)
    assert store.put_if_absent(
        spark, f"{tgt2}{_SWAP_MARKER_SUFFIX}",
        json.dumps({"staging": staging2}).encode(),
    )
    upsert_dataset(
        spark, tgt2,
        spark.createDataFrame([(8, "new")], "k long, v string"), ["k"],
    )
    back2 = {r.k: r.v for r in spark.read.parquet(tgt2).collect()}
    # NOT a one-row bootstrap: the healed swap's row survived the merge
    assert back2 == {7: "old-merged", 8: "new"}


class _Crash(BaseException):
    """A hard kill at a chosen point: not an Exception, so no handler
    on the way out can treat it as an ordinary failure."""


@pytest.mark.parametrize("marker_left", [False, True])
def test_swap_recover_restores_stashed_sidecars(
    spark, tmp_path, monkeypatch, marker_left
):
    """A crash after the full-rewrite swap's replace_dir, before
    _restore_sidecars moved the stashed sidecar dirs back, left
    `_versions`, `_deletes` and `_zorder_meta` beside the dataset for
    good: the dataset read as unversioned and its deleted rows came
    back. Recovery must move them back, whether the crash came before
    the swap marker was removed or after."""
    import os

    from pyspark.sql import functions as F

    import engage_spark.io as eio
    from engage_spark.io import (
        _swap_recover,
        delete_rows,
        read_with_deletes,
        upsert_dataset,
        zorder_write,
    )
    from engage_spark.versioning import (
        latest_version,
        read_version,
        version_log_enable,
        version_log_enabled,
    )

    p = str(tmp_path / "stashed")
    zorder_write(
        spark,
        spark.range(0, 100).select(
            F.col("id").alias("k"), (F.col("id") % 7).alias("a")
        ),
        p, ["k", "a"], num_files=2,
    )
    version_log_enable(spark, p)
    delete_rows(spark, p, [1, 2, 3], "k")

    def crash(*a, **k):
        raise _Crash()

    monkeypatch.setattr(eio, "_restore_sidecars", crash)
    if marker_left:
        store = get_commit_store()
        real = store.replace_dir

        def replace_then_crash(spark, src, dst):
            real(spark, src, dst)
            raise _Crash()

        monkeypatch.setattr(store, "replace_dir", replace_then_crash)
    with pytest.raises(_Crash):
        upsert_dataset(
            spark, p, spark.createDataFrame([(5, 50)], "k long, a long"), ["k"]
        )
    monkeypatch.undo()
    assert not os.path.exists(f"{p}/_versions")  # stranded by the crash

    assert _swap_recover(spark, p) is True
    for side in ("_versions", "_deletes", "_zorder_meta"):
        assert os.path.isdir(f"{p}/{side}"), side
    assert not [n for n in os.listdir(tmp_path) if "__sidecar_" in n]
    assert version_log_enabled(spark, p)
    live = {r.k: r.a for r in read_with_deletes(spark, p).collect()}
    assert not set(live) & {1, 2, 3} and live[5] == 50 and len(live) == 97
    for v in range(1, latest_version(spark, p) + 1):
        read_version(spark, p, v).collect()
    assert _swap_recover(spark, p) is False  # nothing left to recover


@pytest.mark.parametrize("payload", [b"{not json", b"{}", b""])
def test_swap_recover_sets_a_malformed_marker_aside(
    spark, tmp_path, caplog, payload
):
    """A swap marker whose payload names no staging copy used to be
    deleted silently; it is now logged and renamed aside, and the
    target is left as it is."""
    import glob
    import logging

    from engage_spark.io import _SWAP_MARKER_SUFFIX, _swap_recover

    store = get_commit_store()
    tgt = str(tmp_path / "mm")
    spark.range(3).write.parquet(tgt)
    marker = f"{tgt}{_SWAP_MARKER_SUFFIX}"
    assert store.put_if_absent(spark, marker, payload)
    with caplog.at_level(logging.WARNING, logger="engage_spark.io"):
        assert _swap_recover(spark, tgt) is True
    assert store.read(spark, marker) is None
    aside = glob.glob(f"{marker}.malformed-*")
    assert len(aside) == 1
    with open(aside[0], "rb") as fh:
        assert fh.read() == payload
    assert any("malformed" in r.getMessage() for r in caplog.records)
    assert spark.read.parquet(tgt).count() == 3
