"""One-call dataset operations surface (round 14).

Two entry points a production scheduler actually wants:

- :func:`dataset_details` — the ``DESCRIBE DETAIL`` row: live/retained
  file counts and bytes, partitioning, version-log state, pending
  takedowns, clustering, index specs, schema-evolution marker. Pure
  METADATA — on a size-logged dataset (r15) the live numbers come
  straight from the version log (no live-tree listing at all); the
  fallback is one batched walk + tiny sidecar reads. Safe to call
  from a dashboard poller against a 100 TB dataset; it never scans
  data.
- :func:`maintain_dataset` — the nightly housekeeping pass, composed
  from the engine's maintenance ops in dependency order: heal pending
  swap manifests / log drift, physically apply accumulated takedowns,
  OPTIMIZE the clustered layout when measured overlap crosses the
  caller's threshold (zorder_layout_stats IS the trigger — one scan,
  the documented cost of deciding), then optional retention vacuum.
  Every step no-ops cleanly when its surface is absent, so one
  scheduler loop serves every dataset shape. On version-logged
  datasets the apply/optimize steps run OPTIMISTICALLY (r14), so the
  housekeeping pass never blocks live ingest beyond the bounded
  commit tails.

Reference scope note: the reference pipeline (pandas scripts) has no
storage-maintenance counterpart; this is engine-extension surface in
the Delta/Iceberg ``OPTIMIZE``/``VACUUM``/``DESCRIBE DETAIL`` mold.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from engage_spark.io import (
    _BUCKET_SPEC,
    _DELETES,
    _deletes_has_parts,
    _evolution_marker_exists,
    _hadoop_fs,
    _layout_metrics,
    _layout_snapshot,
    _optimize_victims,
    apply_deletes,
    optimize_incremental,
)
from engage_spark.versioning import (
    _VRETAINED,
    _live_names,
    _pending_delete_versions,
    _replay_files,
    _vlog_entries,
    vacuum_versions,
    version_log_enabled,
)


def _tree_size(spark: SparkSession, root: str) -> tuple:
    """(n_files, total_bytes) of the DATA files under `root` — one
    recursive Hadoop listing, `_`/`.`-prefixed names skipped at every
    level (sidecars, markers)."""
    fs, p = _hadoop_fs(spark, root)
    if not fs.exists(p):
        return 0, 0
    n = b = 0
    stack = [p]
    while stack:
        cur = stack.pop()
        for st in fs.listStatus(cur):
            name = st.getPath().getName()
            if name.startswith(("_", ".")):
                continue
            if st.isDirectory():
                stack.append(st.getPath())
            else:
                n += 1
                b += st.getLen()
    return n, b


def dataset_details(spark: SparkSession, path: str) -> DataFrame:
    """One-row ``DESCRIBE DETAIL`` frame for any engine dataset —
    metadata only, no data scan. Columns:

    n_live_files / live_bytes / n_partition_dirs / partition_cols,
    versioned / latest_version / n_retained_files / retained_bytes,
    pending_delete_keys (takedown sidecar) / pending_dv_versions
    (logical deletes not yet physically applied at the latest
    version), clustered_by (frozen Z-curve columns), schema_evolved,
    stats_columns / bloom_columns (index specs), bucketed_by."""
    from engage_spark.session import local_frame

    fs, p = _hadoop_fs(spark, path)
    if not fs.exists(p):
        raise FileNotFoundError(f"dataset directory does not exist: {path}")
    # LOG-OWNED when possible (r15): a version-logged dataset whose
    # entries all carry recorded sizes answers names + live_bytes from
    # the LOG — zero live-tree listing (the last read-shaped walk in
    # the ops surface). Pre-r15 logs (any live file without a size)
    # and unversioned datasets keep the batched-walk fallback — one
    # recursive listing, never a per-file RPC (review-found: a
    # getFileStatus per live file is minutes at 10^5 files, the
    # opposite of dashboard-safe).
    names = None
    live_bytes = None
    if version_log_enabled(spark, path):
        from engage_spark.versioning import logged_live_bytes

        entries = _vlog_entries(spark, path)
        llb = logged_live_bytes(entries)
        if llb is not None:
            names = _replay_files(entries, entries[-1]["version"])
            live_bytes = llb[1]
    if names is None:
        names = _live_names(spark, path)
        _, live_bytes = _tree_size(spark, path)
    part_dirs = {n.rsplit("/", 1)[0] for n in names if "/" in n}
    # hive partitioning only when EVERY leaf dir carries the same
    # `k=`-shaped key tuple — a nested non-hive layout (batch-001/...)
    # must not be mislabeled as a partition column (review-found)
    key_tuples = {
        tuple(
            seg.split("=", 1)[0] if "=" in seg else None
            for seg in d.split("/")
        )
        for d in part_dirs
    }
    part_cols = (
        list(next(iter(key_tuples)))
        if len(key_tuples) == 1 and None not in next(iter(key_tuples))
        else []
    )
    versioned = version_log_enabled(spark, path)
    latest = 0
    pending_dv = 0
    if versioned:
        entries = _vlog_entries(spark, path)
        latest = entries[-1]["version"] if entries else 0
        pending_dv = len(_pending_delete_versions(entries, latest))
    n_ret, ret_bytes = _tree_size(spark, f"{path}/{_VRETAINED}")
    pending_keys = 0
    if _deletes_has_parts(spark, path):
        try:
            dels = (
                spark.read.option("mergeSchema", "true")
                .parquet(f"{path}/{_DELETES}")
            )
            # DISTINCT per key column (a re-issued takedown appends a
            # duplicate batch; counting rows would inflate the
            # backlog metric), summed across multi-key sidecars
            pending_keys = sum(
                dels.select(c).filter(F.col(c).isNotNull())
                .distinct().count()
                for c in dels.columns
            )
        except Exception as e:
            # the sidecar can vanish mid-read under a racing apply
            # commit — details are a snapshot, not a gate
            from engage_spark.io import _is_missing_file_error

            if not _is_missing_file_error(e):
                raise
            pending_keys = 0
    clustered_by: list = []
    zfs, zp = _hadoop_fs(spark, f"{path}/_zorder_meta/info")
    if zfs.exists(zp):
        from engage_spark.io import zorder_meta

        clustered_by = list(zorder_meta(spark, path).get("cols") or [])
    evolved = _evolution_marker_exists(spark, path)
    from engage_spark.indexes import _bloom_spec
    from engage_spark.stats import _stats_spec

    stats_cols = _stats_spec(spark, path)
    bloom_cols = _bloom_spec(spark, path)[0]
    bucketed_by: list = []
    bfs, bp = _hadoop_fs(spark, f"{path}/{_BUCKET_SPEC}")
    if bfs.exists(bp):
        try:  # a parquet sidecar (write_bucketed's convention)
            row = spark.read.parquet(f"{path}/{_BUCKET_SPEC}").collect()
            bucketed_by = list(row[0]["bucket_cols"]) if row else []
        except Exception:
            bucketed_by = []  # torn spec: details stay best-effort
    row = (
        path, len(names), int(live_bytes), len(part_dirs),
        ",".join(part_cols), bool(versioned), int(latest), int(n_ret),
        int(ret_bytes), int(pending_keys), int(pending_dv),
        ",".join(clustered_by), bool(evolved), ",".join(stats_cols),
        ",".join(bloom_cols), ",".join(bucketed_by),
    )
    return local_frame(
        spark, [row],
        "path string, n_live_files int, live_bytes long, "
        "n_partition_dirs int, partition_cols string, versioned boolean, "
        "latest_version long, n_retained_files int, retained_bytes long, "
        "pending_delete_keys long, pending_dv_versions long, "
        "clustered_by string, schema_evolved boolean, "
        "stats_columns string, bloom_columns string, bucketed_by string",
    )


def maintain_dataset(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    optimize_overlap_threshold: float = 0.1,
    keep_last: int | None = None,
    keep_seconds: int | None = None,
) -> dict:
    """The nightly housekeeping pass, in dependency order:

    1. HEAL — on a version-logged dataset, touch the log
       (reconcile): pending swap manifests from crashed writers
       replay to their exact entries, drift is recorded.
    2. APPLY TAKEDOWNS — when the deletion sidecar holds keys,
       physically apply them (file-targeted rewrite; optimistic on
       versioned datasets, so ingest keeps flowing).
    3. OPTIMIZE — on a clustered layout, measure overlap
       (zorder_layout_stats: one scan, the price of deciding; skipped
       entirely for unclustered datasets) and run the incremental
       OPTIMIZE when ``overlap_fraction`` >= the threshold. The apply
       step runs FIRST because its survivor rewrite can itself add
       overlap that this step then repairs.
    4. VACUUM — when a retention policy is passed (``keep_last`` /
       ``keep_seconds``) and the dataset is version-logged, reclaim
       retained storage past the horizon (also compacts the log and
       the index sidecars, and sweeps orphaned staging siblings).

    On a clustered, version-logged layout with takedowns pending the
    layout is measured BEFORE step 2. When the OPTIMIZE would then
    rewrite every live file, steps 2 and 3 are ONE rewrite: the
    takedown's staged swap takes every live file as its victim and
    re-lays the survivors on the curve (``apply_deletes(_relayout=...)``);
    ``optimize`` then reports that rewrite with ``"fused": True``.
    Otherwise the steps run in the order above, the layout measured
    again after the apply; the measuring scan has refilled the z-range
    manifest, so the apply keeps it exact and the second measurement
    reads it.

    Returns a report dict with one entry per step that RAN:
    {"drift_reconciled": bool, "apply_deletes": {...}, "layout":
    {...}, "optimize": {...}, "vacuum": {...}} — absent key = surface
    absent or below threshold. ``layout`` is the measurement the
    OPTIMIZE decision was made from: taken after the apply when the
    steps run in order, before it when they are fused.
    ``drift_reconciled`` means a drift reconcile ENTRY was written;
    crashed-writer manifest replays happen implicitly inside the
    reconcile and are deliberately not a separate signal (they log
    their own exact op entries — dataset_history shows them). A step
    that loses its optimistic race repeatedly (TakedownConflict / OptimizeConflict) or finds
    the lease held records {"conflict": ...} under its key and the
    LATER steps still run (review-found: propagating would starve the
    retention vacuum on a permanently-hot dataset); anything else
    raises."""
    from engage_spark.io import (
        MaintenanceLockHeld,
        OptimizeConflict,
        TakedownConflict,
    )

    retriable = (TakedownConflict, OptimizeConflict, MaintenanceLockHeld)
    report: dict = {}
    versioned = version_log_enabled(spark, path)
    if versioned:
        from engage_spark.versioning import _vlog_reconcile

        report["drift_reconciled"] = (
            _vlog_reconcile(spark, path) is not None
        )
    zfs, zp = _hadoop_fs(spark, f"{path}/_zorder_meta/info")
    clustered = zfs.exists(zp)
    pending = _deletes_has_parts(spark, path)
    relayout = None
    if clustered and pending and versioned:
        snap = _layout_snapshot(spark, path)
        fr = snap["ranges"]
        if (
            fr
            and _layout_metrics(fr)["overlap_fraction"]
            >= optimize_overlap_threshold
            and _optimize_victims(fr) == snap["files"]
        ):
            relayout = snap
    if pending:
        try:
            report["apply_deletes"] = apply_deletes(
                spark, path, target_file_bytes=target_file_bytes,
                _relayout=relayout,
            )
        except retriable as e:
            report["apply_deletes"] = {"conflict": repr(e)}
    if clustered:
        applied = report.get("apply_deletes", {})
        if applied.get("relayout"):
            report["layout"] = _layout_metrics(relayout["ranges"])
            report["optimize"] = {
                "rewritten_files": applied["rewritten_files"],
                "new_files": applied["new_files"],
                "kept_files": applied["kept_files"],
                "fused": True,
            }
        else:
            # measured again: the apply may have changed the file set
            snap = _layout_snapshot(spark, path)
            layout = _layout_metrics(snap["ranges"])
            report["layout"] = layout
            if layout["overlap_fraction"] >= optimize_overlap_threshold:
                try:
                    report["optimize"] = optimize_incremental(
                        spark, path, target_file_bytes=target_file_bytes,
                        _layout=snap,
                    )
                except retriable as e:
                    report["optimize"] = {"conflict": repr(e)}
    if versioned and (keep_last is not None or keep_seconds is not None):
        report["vacuum"] = vacuum_versions(
            spark, path,
            keep_last=keep_last if keep_last is not None else 7,
            keep_seconds=keep_seconds,
        )
    return report
