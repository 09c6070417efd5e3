"""Per-file Bloom-filter key index + point-lookup reads
(engage_spark.indexes, round 14).

Pins the two-sided contract: a lookup on an indexed key prunes the
file list (a handful of candidate files on a layout where the key is
scattered, i.e. NOT the cluster column) AND the pruned read is
byte-identical to filtering the unpruned read — no false negatives
ever (every inserted key maybe-present), exact semantics under pending
deletion vectors, at historical versions, across appends and schema
evolution, with conservative fallbacks (missing bloom rows, torn
sidecar, oversized lookups) and bloom-targeted apply_deletes victim
detection producing the same physical result as the untargeted scan.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from engage_spark.indexes import (
    _BLOOM_LOOKUP_MAX,
    _bloom_key_bytes,
    _bloom_maybe_contains,
    _bloom_params,
    _bloom_prune,
    _build_bloom,
    bloom_enable,
    file_blooms,
    read_keys,
)
from engage_spark.io import (
    append_dataset,
    apply_deletes,
    delete_rows,
    write_parquet,
    zorder_write,
)
from engage_spark.versioning import (
    _replay_files,
    _vlog_entries,
    latest_version,
    read_version,
    version_log_enable,
)

IDS = [7, 123, 256, 555, 808, 901]


def _events(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id",
        "user_id",
        F.round(F.col("value") * 100 + 1e-9).cast("long").alias("v_cents"),
    )


def _names(spark, path):
    return _replay_files(
        _vlog_entries(spark, path), latest_version(spark, path)
    )


def _same(a, b):
    b = b.select(*a.columns)
    assert a.count() == b.count()
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


@pytest.fixture()
def zbloom(spark, sf_dir, tmp_path):
    """Z-ordered events (cluster cols ≠ event_id, so event_id is
    SCATTERED across files — the case min/max stats cannot prune) +
    version log + bloom on event_id."""
    out = str(tmp_path / "zbloom")
    ev = _events(spark, sf_dir)
    zorder_write(spark, ev, out, ["user_id", "v_cents"], bits=16, num_files=16)
    version_log_enable(spark, out)
    n = bloom_enable(spark, out, ["event_id"])
    assert n == 16
    return out, ev


# ---------------------------------------------------------------- unit


def test_no_false_negatives_ints_and_strings():
    vals = list(range(0, 2000, 3)) + [f"doc-{i}" for i in range(500)]
    n, m, k, bits = _build_bloom(vals, fpp=0.01)
    assert n == len(vals) and m % 8 == 0 and 1 <= k <= 16
    for v in vals:
        assert _bloom_maybe_contains(bits, m, k, _bloom_key_bytes(v))


def test_fpp_roughly_holds():
    vals = list(range(10_000))
    n, m, k, bits = _build_bloom(vals, fpp=0.01)
    probes = range(1_000_000, 1_010_000)
    fp = sum(
        _bloom_maybe_contains(bits, m, k, _bloom_key_bytes(v))
        for v in probes
    )
    assert fp / 10_000 < 0.03, f"false-positive rate {fp/10_000} >> 1%"


def test_key_canonicalization_contract():
    # integral float == int (Spark's 5.0 = bigint 5 matches)
    assert _bloom_key_bytes(5.0) == _bloom_key_bytes(5)
    # bool folds into int (Spark casts true = 1)
    assert _bloom_key_bytes(True) == _bloom_key_bytes(1)
    # typed prefixes: int 5 never collides with string "5"
    assert _bloom_key_bytes(5) != _bloom_key_bytes("5")
    assert _bloom_key_bytes(None) is None
    # Decimal normalizes through the float path: scale variants of
    # one value and a float probe of the same number hash identically
    from decimal import Decimal

    assert _bloom_key_bytes(Decimal("5")) == _bloom_key_bytes(5.0)
    assert _bloom_key_bytes(Decimal("5.00")) == _bloom_key_bytes(5)
    assert _bloom_key_bytes(Decimal("2.5")) == _bloom_key_bytes(2.5)


def test_params_scale_sanely():
    m1, k1 = _bloom_params(1, 0.01)
    assert m1 >= 64 and k1 >= 1
    m, k = _bloom_params(1_000_000, 0.01)
    assert 9 <= m / 1_000_000 <= 11 and 6 <= k <= 8


def test_empty_values_build_prunable_marker():
    assert _build_bloom([None, None], 0.01) == (0, 0, 0, b"")


# ------------------------------------------------------------ lookups


def test_point_lookup_prunes_and_is_exact(spark, zbloom):
    out, ev = zbloom
    kept, pruned = _bloom_prune(spark, out, _names(spark, out), "event_id", IDS)
    assert pruned > 0, "6-key lookup over 16 files must skip files"
    assert len(kept) >= 1
    got = read_keys(spark, out, "event_id", IDS)
    exp = ev.filter(F.col("event_id").isin(IDS))
    assert exp.count() == len(IDS)
    _same(got, exp)


def test_absent_key_lookup_is_empty_with_schema(spark, zbloom):
    out, ev = zbloom
    got = read_keys(spark, out, "event_id", [10**12, 10**12 + 1])
    assert got.columns == ev.columns
    assert got.count() == 0
    # empty / all-NULL lookup lists: nothing to match, schema intact
    assert read_keys(spark, out, "event_id", []).count() == 0
    assert read_keys(spark, out, "event_id", [None]).count() == 0


def test_lookup_respects_pending_deletion_vectors(spark, zbloom):
    out, ev = zbloom
    delete_rows(spark, out, IDS[:2], "event_id")
    got = read_keys(spark, out, "event_id", IDS)
    exp = ev.filter(F.col("event_id").isin(IDS[2:]))
    _same(got, exp)
    # the pre-delete version still shows all six
    v_before = latest_version(spark, out) - 1
    _same(
        read_keys(spark, out, "event_id", IDS, version=v_before),
        ev.filter(F.col("event_id").isin(IDS)),
    )


def test_commit_hook_harvests_appended_files(spark, sf_dir, tmp_path):
    out = str(tmp_path / "hooked")
    ev = _events(spark, sf_dir)
    write_parquet(ev.filter(F.col("event_id") % 2 == 0), out)
    version_log_enable(spark, out)
    bloom_enable(spark, out, ["event_id"])
    before = file_blooms(spark, out).count()
    append_dataset(spark, ev.filter(F.col("event_id") % 2 == 1), out)
    after = file_blooms(spark, out)
    assert after.count() > before, "append commit must harvest its files"
    # every live file has a row, and the lookup spans both halves
    assert set(r["name"] for r in after.collect()) >= set(_names(spark, out))
    _same(
        read_keys(spark, out, "event_id", IDS),
        ev.filter(F.col("event_id").isin(IDS)),
    )


def test_widened_spec_backfills_missing_columns(spark, zbloom):
    out, ev = zbloom
    bloom_enable(spark, out, ["event_id", "user_id"])
    bl = file_blooms(spark, out)
    assert bl.filter(F.col("col") == "user_id").count() == 16
    # event_id rows were NOT rebuilt (still exactly one per file)
    assert bl.filter(F.col("col") == "event_id").count() == 16
    users = [r[0] for r in ev.select("user_id").distinct().limit(2).collect()]
    _same(
        read_keys(spark, out, "user_id", users),
        ev.filter(F.col("user_id").isin(users)),
    )


def test_partition_column_blooms_prune_directories(spark, sf_dir, tmp_path):
    out = str(tmp_path / "parted")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "event_type",
        F.round(F.col("value") * 100 + 1e-9).cast("long").alias("v_cents"),
    )
    write_parquet(ev, out, partition_by=["event_type"])
    version_log_enable(spark, out)
    bloom_enable(spark, out, ["event_type", "event_id"])
    types = [r[0] for r in ev.select("event_type").distinct().collect()]
    one = types[0]
    names = _names(spark, out)
    kept, pruned = _bloom_prune(spark, out, names, "event_type", [one])
    assert pruned > 0
    assert all(f"event_type={one}/" in n for n in kept)
    _same(
        read_keys(spark, out, "event_type", [one]),
        ev.filter(F.col("event_type") == one),
    )


def test_string_inferred_partition_values_probe_exactly(
    spark, sf_dir, tmp_path
):
    """Hive partition values are strings in the directory name; Spark's
    dataset-GLOBAL inference decides the column type from ALL
    directories. A numeric-looking dir (`tag=42`) next to a
    non-numeric one (`tag=x7`) infers STRING, so the read returns '42'
    — the per-file bloom builder (which can only see its own dir) must
    have bloomed the STRING form too, or the probe false-negatives and
    read_keys silently drops rows (review-found)."""
    out = str(tmp_path / "strpart")
    ev = _events(spark, sf_dir).withColumn(
        "tag",
        F.when(F.col("event_id") % 2 == 0, F.lit("42")).otherwise(
            F.lit("x7")
        ),
    )
    write_parquet(ev, out, partition_by=["tag"])
    version_log_enable(spark, out)
    bloom_enable(spark, out, ["tag"])
    assert dict(spark.read.parquet(out).dtypes)["tag"] == "string"
    names = _names(spark, out)
    kept, pruned = _bloom_prune(spark, out, names, "tag", ["42"])
    assert pruned > 0 and all("tag=42/" in n for n in kept)
    _same(
        read_keys(spark, out, "tag", ["42"]),
        ev.filter(F.col("tag") == "42"),
    )


def test_date_inferred_partition_values_probe_exactly(
    spark, sf_dir, tmp_path
):
    """Dirs like `day=2024-01-15` infer DateType; the probe arrives as
    a datetime.date, so the builder must bloom the parsed-date form of
    the directory string alongside the raw string."""
    import datetime as dt

    out = str(tmp_path / "datepart")
    ev = _events(spark, sf_dir).withColumn(
        "day",
        F.when(
            F.col("event_id") % 2 == 0, F.lit("2024-01-15")
        ).otherwise(F.lit("2024-02-20")),
    )
    write_parquet(ev, out, partition_by=["day"])
    version_log_enable(spark, out)
    bloom_enable(spark, out, ["day"])
    assert dict(spark.read.parquet(out).dtypes)["day"] == "date"
    names = _names(spark, out)
    probe = dt.date(2024, 1, 15)
    kept, pruned = _bloom_prune(spark, out, names, "day", [probe])
    assert pruned > 0 and all("day=2024-01-15/" in n for n in kept)
    got = read_keys(spark, out, "day", [probe])
    assert got.count() == ev.filter(F.col("event_id") % 2 == 0).count()


def test_read_path_heal_skips_under_held_lease(spark, zbloom):
    """While ANY writer holds the maintenance lease, the read path
    must NOT heal a staged sidecar (the staged/live pair may be a live
    compaction mid-swap — an unleased heal could destroy both copies).
    Degradation is 'no pruning this read', never a wrong result; the
    heal lands once the lease is free."""
    import pathlib
    import shutil as sh
    import threading

    from engage_spark.io import maintenance_lease

    out, ev = zbloom
    side = pathlib.Path(out) / "_versions" / "bloom"
    staged = pathlib.Path(out) / "_versions" / "bloom_new"
    sh.copytree(side, staged)
    sh.rmtree(side)  # crash window: staged(_SUCCESS) + no live
    names = _names(spark, out)

    res = {}

    def reader_while_leased():
        # a SIBLING THREAD probes (the holder thread would re-enter
        # the lease and heal; a stranger must skip)
        res["kept"], res["pruned"] = _bloom_prune(
            spark, out, names, "event_id", IDS
        )
        res["rows"] = read_keys(spark, out, "event_id", IDS).count()

    with maintenance_lease(spark, out):
        t = threading.Thread(target=reader_while_leased)
        t.start()
        t.join()
    assert res["pruned"] == 0, "leased window must skip the heal"
    assert staged.exists() and not side.exists(), "heal deferred"
    # the unpruned leased-window read was still exact
    assert res["rows"] == ev.filter(F.col("event_id").isin(IDS)).count()
    # lease released: the next read heals and prunes again
    kept, pruned = _bloom_prune(spark, out, names, "event_id", IDS)
    assert pruned > 0 and side.exists() and not staged.exists()


def test_schema_evolution_absent_column_prunes(spark, sf_dir, tmp_path):
    out = str(tmp_path / "evolved")
    ev = _events(spark, sf_dir)
    write_parquet(ev.filter(F.col("event_id") < 500), out)
    version_log_enable(spark, out)
    append_dataset(
        spark,
        ev.filter(F.col("event_id") >= 500).withColumn(
            "batch_tag", F.lit(7).cast("long")
        ),
        out,
    )
    bloom_enable(spark, out, ["batch_tag"])
    bl = file_blooms(spark, out).filter(F.col("col") == "batch_tag")
    # pre-evolution files carry the prunable n_values=0 marker
    assert bl.filter(F.col("n_values") == 0).count() > 0
    names = _names(spark, out)
    kept, pruned = _bloom_prune(spark, out, names, "batch_tag", [7])
    assert pruned > 0, "pre-evolution files can never match batch_tag=7"
    got = read_keys(spark, out, "batch_tag", [7])
    assert got.count() == ev.filter(F.col("event_id") >= 500).count()


def test_conservative_fallbacks(spark, zbloom, tmp_path):
    out, ev = zbloom
    names = _names(spark, out)
    # oversized lookup: prune declines, read still exact
    big = list(range(_BLOOM_LOOKUP_MAX + 1))
    kept, pruned = _bloom_prune(spark, out, names, "event_id", big)
    assert (kept, pruned) == (names, 0)
    # un-indexed column: no sidecar rows -> keep everything
    kept, pruned = _bloom_prune(spark, out, names, "v_cents", [1, 2])
    assert (kept, pruned) == (names, 0)
    # torn sidecar: garbage parquet degrades to no pruning, exact read
    import pathlib

    side = pathlib.Path(out) / "_versions" / "bloom"
    for pf in side.glob("*.parquet"):
        pf.write_bytes(b"not parquet at all")
    kept, pruned = _bloom_prune(spark, out, names, "event_id", IDS)
    assert (kept, pruned) == (names, 0)
    _same(
        read_keys(spark, out, "event_id", IDS),
        ev.filter(F.col("event_id").isin(IDS)),
    )


def test_unversioned_dataset_refused(spark, sf_dir, tmp_path):
    out = str(tmp_path / "plain")
    write_parquet(_events(spark, sf_dir), out)
    with pytest.raises(ValueError, match="version log"):
        bloom_enable(spark, out, ["event_id"])
    with pytest.raises(ValueError, match="version log"):
        read_keys(spark, out, "event_id", [1])


# ------------------------------------------- takedowns + maintenance


def test_bloom_targeted_apply_deletes_matches_untargeted(
    spark, sf_dir, tmp_path
):
    ev = _events(spark, sf_dir)
    outs = {}
    for tag, index in (("idx", True), ("noidx", False)):
        out = str(tmp_path / tag)
        zorder_write(
            spark, ev, out, ["user_id", "v_cents"], bits=16, num_files=16
        )
        version_log_enable(spark, out)
        if index:
            bloom_enable(spark, out, ["event_id"])
        delete_rows(spark, out, IDS, "event_id")
        outs[tag] = (out, apply_deletes(spark, out))
    ra, rb = outs["idx"][1], outs["noidx"][1]
    assert ra["deleted_keys"] == rb["deleted_keys"] == len(IDS)
    assert ra["rewritten_files"] == rb["rewritten_files"]
    exp = ev.filter(~F.col("event_id").isin(IDS))
    for out, _ in outs.values():
        _same(read_version(spark, out, latest_version(spark, out)), exp)
    # the indexed dataset's rewrite went through the bloom candidates:
    # clean files were never nominated (rewritten <= files that can
    # contain a deleted key)
    kept, _ = _bloom_prune(
        spark, outs["idx"][0], _names(spark, outs["idx"][0]), "event_id", IDS
    )
    # post-apply live names include rewritten files; the bound we pin
    # is on the result dict computed before the swap
    assert ra["rewritten_files"] <= len(IDS) + 4  # fp slack on 16 files


def test_vacuum_compacts_bloom_sidecar(spark, zbloom):
    out, ev = zbloom
    from engage_spark.versioning import vacuum_versions

    # churn a few commits so the sidecar has multiple parts
    append_dataset(spark, ev.limit(10), out)
    append_dataset(spark, ev.limit(5), out)
    import pathlib

    side = pathlib.Path(out) / "_versions" / "bloom"
    assert len(list(side.glob("*.parquet"))) >= 3
    vacuum_versions(spark, out, keep_last=1)
    assert len(list(side.glob("*.parquet"))) == 1
    # rows survive for every live file; lookups stay exact
    assert set(
        r["name"] for r in file_blooms(spark, out).collect()
    ) >= set(_names(spark, out))
    # the two appends duplicated some rows; the pruned lookup must
    # still be byte-identical to filtering the full current version
    _same(
        read_keys(spark, out, "event_id", IDS),
        read_version(spark, out, latest_version(spark, out)).filter(
            F.col("event_id").isin(IDS)
        ),
    )


# ------------------------------------------------- review-pass fixes


def test_timestamp_keys_roundtrip(spark, sf_dir, tmp_path):
    """Harvest-side pyarrow reads Spark TIMESTAMP_MICROS as tz-AWARE;
    lookup-side collects are NAIVE (session tz = UTC). The canonical
    form must match or every timestamp lookup false-negatives and
    wrongly prunes (review finding 1 — a silent takedown failure)."""
    out = str(tmp_path / "ts")
    ev = _events(spark, sf_dir).withColumn(
        "ts",
        F.timestamp_seconds(F.lit(1_700_000_000) + F.col("event_id") * 60),
    )
    write_parquet(ev.repartition(8), out)
    version_log_enable(spark, out)
    bloom_enable(spark, out, ["ts"])
    # a value as a CALLER would produce it: collected from Spark
    want = [r["ts"] for r in ev.filter(F.col("event_id").isin(IDS)).collect()]
    assert all(v.tzinfo is None for v in want), "collect must be naive"
    names = _names(spark, out)
    kept, pruned = _bloom_prune(spark, out, names, "ts", want[:2])
    assert len(kept) >= 1, "naive lookup must HIT the harvested bloom"
    _same(
        read_keys(spark, out, "ts", want),
        ev.filter(F.col("ts").isin(want)),
    )


def test_all_pruned_empty_frame_has_union_schema(spark, sf_dir, tmp_path):
    """The all-pruned empty result must carry the UNION schema, not
    whichever file happens to be names[0] (review finding 2)."""
    out = str(tmp_path / "evolved2")
    ev = _events(spark, sf_dir)
    write_parquet(ev.filter(F.col("event_id") < 500), out)
    version_log_enable(spark, out)
    append_dataset(
        spark,
        ev.filter(F.col("event_id") >= 500).withColumn(
            "batch_tag", F.lit(7).cast("long")
        ),
        out,
    )
    bloom_enable(spark, out, ["batch_tag"])
    got = read_keys(spark, out, "batch_tag", [999])  # prunes everything
    assert got.count() == 0
    assert "batch_tag" in got.columns, "empty frame must keep the column"
    got.select("batch_tag").collect()  # must not raise


def test_enable_rejects_unknown_column(spark, zbloom):
    out, _ = zbloom
    with pytest.raises(ValueError, match="event_idd"):
        bloom_enable(spark, out, ["event_idd"])
    from engage_spark.stats import stats_enable

    with pytest.raises(ValueError, match="user_idd"):
        stats_enable(spark, out, ["user_idd"])


def test_fpp_change_rebuilds_index(spark, zbloom):
    out, ev = zbloom
    before = {
        r["name"]: r["m_bits"]
        for r in file_blooms(spark, out).filter(
            F.col("col") == "event_id"
        ).collect()
    }
    bloom_enable(spark, out, ["event_id"], fpp=0.0001)
    after = {
        r["name"]: r["m_bits"]
        for r in file_blooms(spark, out).filter(
            F.col("col") == "event_id"
        ).collect()
    }
    assert set(after) == set(before)
    assert all(after[n] > before[n] for n in after), (
        "re-enable at a tighter fpp must REBUILD with bigger blooms"
    )
    _same(
        read_keys(spark, out, "event_id", IDS),
        ev.filter(F.col("event_id").isin(IDS)),
    )


def test_crashed_compaction_swap_heals(spark, zbloom):
    """Crash window between delete-live and rename-staged: the staged
    dir (with _SUCCESS) must be healed into place at the next read —
    previously the whole index was silently lost (review finding 5)."""
    import pathlib
    import shutil as sh

    out, ev = zbloom
    side = pathlib.Path(out) / "_versions" / "bloom"
    staged = pathlib.Path(out) / "_versions" / "bloom_new"
    sh.copytree(side, staged)  # a completed staged rewrite (_SUCCESS)
    sh.rmtree(side)  # ... and the live dir already deleted
    names = _names(spark, out)
    kept, pruned = _bloom_prune(spark, out, names, "event_id", IDS)
    assert pruned > 0, "heal must restore the sidecar and prune again"
    assert side.exists() and not staged.exists()
    # torn staged (no _SUCCESS) next to a LIVE sidecar is dropped
    sh.copytree(side, staged)
    (staged / "_SUCCESS").unlink()
    kept2, _ = _bloom_prune(spark, out, names, "event_id", IDS)
    assert sorted(kept2) == sorted(kept) and not staged.exists()


def test_torn_spec_degrades_not_raises(spark, zbloom):
    import pathlib

    out, ev = zbloom
    spec = pathlib.Path(out) / "_versions" / "bloom_spec"
    for pf in spec.glob("*.parquet"):
        pf.write_bytes(b"garbage")
    from engage_spark.indexes import _bloom_spec

    assert _bloom_spec(spark, out) == ([], 0.0)
    # takedown path stays up: delete_rows + apply_deletes work
    delete_rows(spark, out, IDS[:2], "event_id")
    res = apply_deletes(spark, out)
    assert res["deleted_keys"] == 2
    _same(
        read_version(spark, out, latest_version(spark, out)),
        ev.filter(~F.col("event_id").isin(IDS[:2])),
    )


def test_join_keys_matches_semi_join(spark, zbloom, sf_dir):
    from engage_spark.indexes import join_keys

    out, ev = zbloom
    dim = (
        ev.orderBy(F.col("v_cents").desc(), "event_id").limit(5)
        .select("event_id", "user_id")  # first column is the key
    )
    got = join_keys(spark, out, "event_id", dim)
    exp = ev.join(dim.select("event_id"), on="event_id", how="left_semi")
    _same(got, exp)
    # oversized key sets fall back to the unpruned semi-join, exact
    import engage_spark.indexes as ix

    old = ix._BLOOM_LOOKUP_MAX
    ix._BLOOM_LOOKUP_MAX = 2
    try:
        _same(join_keys(spark, out, "event_id", dim), exp)
    finally:
        ix._BLOOM_LOOKUP_MAX = old
    # NULL dim keys are dropped (semi-join never matches NULL)
    dim_null = dim.unionByName(
        spark.range(1).select(
            F.lit(None).cast("long").alias("event_id"),
            F.lit(None).cast("long").alias("user_id"),
        )
    )
    _same(join_keys(spark, out, "event_id", dim_null), exp)


def test_composed_range_and_key_pruning(spark, sf_dir, tmp_path):
    """The min/max and bloom sidecars COMPOSE in read_where: a range
    on the cluster column and a key set on a scattered column each
    prune the file list, and the result is byte-identical to plain
    filtering."""
    from engage_spark.stats import _stats_prune, read_where, stats_enable

    out = str(tmp_path / "composed")
    ev = _events(spark, sf_dir)
    zorder_write(spark, ev, out, ["user_id", "v_cents"], bits=16, num_files=16)
    version_log_enable(spark, out)
    stats_enable(spark, out, ["user_id"])
    bloom_enable(spark, out, ["event_id"])
    names = _names(spark, out)
    r_kept, r_pruned = _stats_prune(spark, out, names, "user_id", 10, 30)
    b_kept, b_pruned = _bloom_prune(spark, out, r_kept, "event_id", IDS)
    assert r_pruned > 0 and b_pruned > 0, "both layers must prune"
    got = read_where(
        spark, out, "user_id", 10, 30, and_keys={"event_id": IDS}
    )
    exp = ev.filter(
        (F.col("user_id") >= 10) & (F.col("user_id") <= 30)
        & F.col("event_id").isin(IDS)
    )
    _same(got, exp)
    # and_keys with only NULLs matches nothing, schema intact
    empty = read_where(
        spark, out, "user_id", 10, 30, and_keys={"event_id": [None]}
    )
    assert empty.count() == 0 and empty.columns == got.columns


def test_read_keys_composite_and(spark, zbloom):
    out, ev = zbloom
    bloom_enable(spark, out, ["event_id", "user_id"])
    users = [
        r["user_id"]
        for r in ev.filter(F.col("event_id").isin(IDS[:3])).collect()
    ]
    got = read_keys(
        spark, out, "event_id", IDS, and_keys={"user_id": users}
    )
    exp = ev.filter(
        F.col("event_id").isin(IDS) & F.col("user_id").isin(users)
    )
    _same(got, exp)
    # a composite whose second leg is empty matches nothing
    assert (
        read_keys(spark, out, "event_id", IDS, and_keys={"user_id": []})
        .count() == 0
    )


def test_and_keys_on_primary_column_intersects(spark, zbloom):
    """An and_keys entry on the PRIMARY column must AND (intersect),
    not replace, the primary values (review finding)."""
    out, ev = zbloom
    got = read_keys(
        spark, out, "event_id", IDS[:4], and_keys={"event_id": IDS[2:]}
    )
    exp = ev.filter(F.col("event_id").isin(IDS[2:4]))  # the overlap
    _same(got, exp)
    # disjoint intersection: provably empty, schema intact
    empty = read_keys(
        spark, out, "event_id", IDS[:2], and_keys={"event_id": IDS[3:]}
    )
    assert empty.count() == 0 and empty.columns == ev.columns


def test_empty_and_keys_leg_short_circuits(spark, zbloom, monkeypatch):
    """An empty and_keys leg returns before ANY sidecar probe runs
    (review finding — the probe's work was discarded)."""
    import engage_spark.indexes as ix
    from engage_spark.stats import read_where, stats_enable

    out, ev = zbloom
    stats_enable(spark, out, ["user_id"])
    calls = []
    real = ix._bloom_prune
    monkeypatch.setattr(
        ix, "_bloom_prune",
        lambda *a, **k: (calls.append(1), real(*a, **k))[1],
    )
    got = read_keys(spark, out, "event_id", IDS, and_keys={"user_id": []})
    assert got.count() == 0 and not calls, "no probe before the early out"
    got2 = read_where(
        spark, out, "user_id", 10, 30, and_keys={"event_id": [None]}
    )
    assert got2.count() == 0 and not calls


def test_resize_crash_state_converges(spark, zbloom):
    """ADVICE r14: bloom_enable now deletes the old sidecar BEFORE
    overwriting the spec, so the only crash-reachable intermediate
    state is (old spec, no sidecar) — from which ANY re-run (same or
    new fpp) re-backfills the full live set. The old order could leave
    (new spec, old-fpp sidecar) where a same-fpp re-run saw spec==
    request and never rebuilt."""
    import shutil

    out, ev = zbloom
    # simulate the crash state the new ordering can reach: sidecar
    # deleted, spec still the original
    shutil.rmtree(f"{out}/_versions/bloom")
    assert file_blooms(spark, out).count() == 0
    n = bloom_enable(spark, out, ["event_id"], fpp=0.001)
    assert n == 16
    bl = file_blooms(spark, out)
    assert bl.count() == 16
    _same(
        read_keys(spark, out, "event_id", IDS),
        ev.filter(F.col("event_id").isin(IDS)),
    )


def test_vectorized_build_matches_legacy_positions():
    """The numpy-vectorized _build_bloom (r15 optimization round) must
    reproduce the legacy per-position Python loop BIT FOR BIT: new
    sidecars are probed by _maybe_contains_pair with full-width
    (h1 + i*h2) % m arithmetic, so any drift in the mod-m-reduced
    formulation would false-negative against existing indexes."""
    import datetime as dt
    import random

    from engage_spark.indexes import _bloom_positions

    rng = random.Random(42)
    values = (
        [rng.randint(-(10**15), 10**15) for _ in range(4000)]
        + [rng.random() * 1e6 for _ in range(500)]
        + [f"doc-{i}" for i in range(500)]
        + [b"\x00\xffraw", True, False, None, float("nan")]
        + [dt.date(2024, 1, 3), dt.datetime(2024, 1, 3, 4, 5, 6)]
    )
    for fpp in (0.01, 0.001, 0.2):
        n, m, k, bits = _build_bloom(values, fpp)
        canon = [
            b for b in (_bloom_key_bytes(v) for v in values) if b is not None
        ]
        assert n == len(canon)
        assert (m, k) == _bloom_params(len(canon), fpp)
        legacy = bytearray(m // 8)
        for b in canon:
            for pos in _bloom_positions(b, m, k):
                legacy[pos >> 3] |= 1 << (pos & 7)
        assert bits == bytes(legacy)


def test_arrow_bloom_build_matches_the_value_path():
    """An Arrow integer or string column is canonicalized in Arrow; its
    bloom is bit-identical to the value-by-value build of the same
    values (NULLs skipped, non-ASCII strings as UTF-8), and a mixed-type
    value list still builds value by value, with every type prefix
    kept apart (int 5 and string "5" set different bits)."""
    import datetime as dt

    import pyarrow as pa

    from engage_spark.indexes import _bloom_positions

    ints = [5, -(2**62), 0, None, 2**62, 42]
    strs = ["5", "doc-1", None, "naïve", "日本", ""]
    for typ, vals in ((pa.int64(), ints), (pa.int32(), [5, -7, None, 0]),
                      (pa.string(), strs)):
        arr = pa.array(vals, typ)
        for fpp in (0.01, 0.2):
            assert _build_bloom(arr, fpp) == _build_bloom(vals, fpp)
            assert _build_bloom(pa.chunked_array([arr]), fpp) == _build_bloom(
                vals, fpp
            )
    mixed = [5, "5", 5.0, 5.5, b"5", True, None, dt.date(2024, 1, 3)]
    n, m, k, bits = _build_bloom(mixed, 0.01)
    canon = [b for b in map(_bloom_key_bytes, mixed) if b is not None]
    assert n == len(canon) == 7  # None skipped; int 5 == float 5.0 bytes
    legacy = bytearray(m // 8)
    for b in canon:
        for pos in _bloom_positions(b, m, k):
            legacy[pos >> 3] |= 1 << (pos & 7)
    assert bits == bytes(legacy)
    assert _bloom_key_bytes(5) != _bloom_key_bytes("5")
