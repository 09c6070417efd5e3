"""Sources & sinks (SURVEY.md §2.1, S1-S5).

The reference reads CSVs eagerly with manual column pruning and manual
filename-based partition pruning (covid_data_transform.py:58-67,139-152;
weather_pred.py:141-162). Here every read is a lazy scan: Catalyst pushes
column pruning + predicate pushdown into the file source, and a
partitioned directory layout (``year=YYYY/``) gives real partition
pruning instead of filename string-matching.
"""

from __future__ import annotations

import logging
import re
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


_log = logging.getLogger(__name__)


def _xxhash64able(dt: T.DataType) -> bool:
    """True iff xxhash64 accepts a column of this type: maps are
    unhashable (AnalysisException), and containers are hashable only
    when every nested type is."""
    if isinstance(dt, T.MapType):
        return False
    if isinstance(dt, T.ArrayType):
        return _xxhash64able(dt.elementType)
    if isinstance(dt, T.StructType):
        return all(_xxhash64able(f.dataType) for f in dt.fields)
    return True


TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Parquet scan of one driver testdata table (TESTDATA.md).

    The testdata writes TIMESTAMP(NANOS) columns, which Spark's parquet
    reader rejects by default; we read them as longs
    (``nanosAsLong``) and rebuild microsecond timestamps with exact
    integer division (nanos exceed 2^53, so float division would lose
    precision). DuckDB's reader truncates nanos→micros the same way, so
    oracle comparisons agree.
    """
    path = f"{sf_dir}/{name}.parquet"
    # one py4j round trip per session, not per table() call (a 94-query
    # correctness sweep calls this hundreds of times)
    if not getattr(spark, "_engage_nanos_set", False):
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark._engage_nanos_set = True
    # reuse the LAZY DataFrame handle per (session, path): the
    # spark.read.parquet() call eagerly lists files and reads footers
    # (~80-100 ms of driver/py4j per call), which is pure fixed cost to
    # repeat against the immutable testdata tables. NOTHING is
    # computed or cached data-wise — the returned frame is the same
    # unexecuted scan plan either way, re-evaluated from parquet on
    # every action (r15 optimization round, guide §5/§6: repeated
    # listing/planning is driver-side fixed cost). Cache lives on the
    # session object so it dies with the session.
    cache = spark.__dict__.setdefault("_engage_table_cache", {})
    df = cache.get(path)
    if df is None:
        df = spark.read.parquet(path)
        for field in _nano_ts_fields(path):
            df = df.withColumn(
                field, F.expr(f"timestamp_micros({field} div 1000)")
            )
        cache[path] = df
    return df


def _nano_ts_fields(path: str) -> list[str]:
    import pyarrow.parquet as pq
    import pyarrow.types as pat

    key = path
    if key not in _NANO_CACHE:
        try:
            schema = pq.read_schema(path)
        except OSError:
            # Spark-written datasets are DIRECTORIES of part files;
            # read_schema only takes a single file
            schema = pq.ParquetDataset(path).schema
        _NANO_CACHE[key] = [
            f.name
            for f in schema
            if pat.is_timestamp(f.type) and f.type.unit == "ns"
        ]
    return _NANO_CACHE[key]


_NANO_CACHE: dict[str, list[str]] = {}


def spread_small_scan(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Round-robin repartition a CPU-heavy input ONLY when the scan
    produced fewer partitions than cores.

    The testdata ships one single-row-group parquet file per table, so
    a scan yields one partition and any expensive map stage (shingling,
    signatures, TF-IDF) runs on 1 of N cores. On a real corpus
    (thousands of files / row groups) the condition is false and this
    is a no-op — so the extra shuffle only ever fires when the input is
    small enough for it to be cheap. Deliberately NOT a blanket
    ``repartition``: that would be a full-corpus shuffle at 100 TB.

    The target is capped at 8: a pandas-UDF stage spawns one Python
    worker per task slot, and measured cold (one-shot query, fresh
    session) a 32-way fan-out's worker-spawn burst cost MORE than the
    parallelism recovered (bench: 3.7s -> 9.6s); 8-way keeps the warm
    speedup without the cold penalty. Steady-state services with warm
    worker pools can pass a higher floor explicitly.
    """
    target = min(8, spark.sparkContext.defaultParallelism)
    # the planned-partition probe (`df.rdd`) converts the plan to an
    # RDD JVM-side (~50 ms of driver work); for the cached immutable
    # table() handles this is the same answer every call, so memoize it
    # on the DataFrame object (r15 optimization round, guide §5: plan
    # conversion is driver-side fixed cost — scan splits are
    # deterministic for a fixed session conf and input)
    n_parts = getattr(df, "_engage_scan_parts", None)
    if n_parts is None:
        n_parts = df.rdd.getNumPartitions()
        try:
            df._engage_scan_parts = n_parts
        except Exception:  # pragma: no cover - attr-less proxies
            pass
    if n_parts < target:
        return df.repartition(target)
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view for spark.sql use."""
    for name in TESTDATA_TABLES:
        table(spark, sf_dir, name).createOrReplaceTempView(name)


def read_csv(
    spark: SparkSession,
    paths: str | Sequence[str],
    columns: Sequence[str] | None = None,
    drop: Sequence[str] | None = None,
    schema=None,
) -> DataFrame:
    """CSV scan with header (S1) + optional include/exclude projection (S3, P1, P2).

    Reference: `pd.read_csv` + `[INCLUDE_COL]` / `~columns.isin(EXCLUDE)`
    (covid_data_transform.py:58-70). In Spark the ``.select``/``.drop``
    collapses into the scan via Catalyst column pruning.
    """
    reader = spark.read.option("header", True)
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", True)
    df = reader.csv(list(paths) if not isinstance(paths, str) else paths)
    if columns:
        df = df.select(*columns)
    if drop:
        df = df.drop(*drop)
    return df


def read_csv_glob(spark: SparkSession, pattern: str, **kw) -> DataFrame:
    """Multi-file CSV scan with a filename filter (S2).

    Reference filters filenames by year then concats
    (covid_data_transform.py:139-152). ``pathGlobFilter`` keeps the
    pruning at the source listing; the union is implicit in the
    multi-file scan (U1).
    """
    base, _, glob = pattern.rpartition("/")
    if not glob:
        return read_csv(spark, base, **kw)
    schema = kw.pop("schema", None)
    reader = spark.read.option("header", True)
    reader = reader.schema(schema) if schema is not None else reader.option(
        "inferSchema", True
    )
    df = reader.option("pathGlobFilter", glob).csv(base)
    if kw.get("columns"):
        df = df.select(*kw["columns"])
    if kw.get("drop"):
        df = df.drop(*kw["drop"])
    return df


def write_parquet(df: DataFrame, path: str, partition_by: Sequence[str] | None = None,
                  mode: str = "overwrite") -> None:
    """Parquet sink (S4); partitioned append replaces the reference's
    rewrite-whole-CSV-per-group loop (S5, weather_pred.py:407-409)."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


class ExpectationViolation(ValueError):
    """A commit-time expectation gate refused an increment: rule_id →
    violation count for every violated rule, nothing was committed."""

    def __init__(self, path: str, counts: dict):
        self.counts = dict(counts)
        super().__init__(
            f"append to {path} refused by expectations: "
            + ", ".join(f"{k}={v}" for k, v in sorted(counts.items()))
        )


def _gate_any_viol(rules):
    """OR of the gate rules' row predicates, NULL-safe — the one
    filter expression every drop path uses (three sites were
    hand-rolling it and drifting)."""
    import functools
    import operator

    return F.coalesce(
        functools.reduce(
            operator.or_, (v for _, v in rules if v is not None)
        ),
        F.lit(False),
    )


def _gate_counts(rules, row) -> dict:
    """rule_id → violation count from a row produced by
    df.agg(*_gate_aggs(...)) — shared extraction."""
    return {rid: int(row[f"__v{i}"]) for i, (rid, _) in enumerate(rules)}


def _check_gate_args(
    expectations,
    on_violation: str,
    vlog: bool,
    path: str,
    quarantine: str | None = None,
) -> list:
    """The ONE validation + compilation step every expectation gate
    (append_dataset, zorder_append, the streaming ingest tier) runs
    up front — BEFORE any data is staged, so a bad config can never
    orphan a staging dir. Returns the gate-compiled rules
    [(rule_id, violation Column | None)] (api._expectation_rule with
    gate=True: a NULL expr result refuses the row). Raises on: an
    unknown mode, an EMPTY rule list (validate_expectations would
    reject it only after staging), DUPLICATE derived rule ids (two
    rules both deriving `regex:text` would collapse into one count
    and a violated rule could be masked by a clean one — give each an
    explicit 'id'), `unique` in drop mode (aggregate property, no
    row-drop semantics), a quarantine configured with fail mode
    (fail commits nothing, so the quarantine would silently stay
    empty while the operator believes violations are captured), and
    a non-version-logged target."""
    from engage_spark.api import _expectation_rule

    if on_violation not in ("fail", "drop"):
        raise ValueError(
            f"on_violation must be 'fail' or 'drop', got {on_violation!r}"
        )
    if not expectations:
        raise ValueError("expectations must be a non-empty list of rules")
    if quarantine is not None and on_violation != "drop":
        raise ValueError(
            "a quarantine only receives rows in drop mode; with "
            "on_violation='fail' it would silently stay empty — drop "
            "the quarantine or switch modes"
        )
    rules = [
        _expectation_rule(r, i, gate=True)
        for i, r in enumerate(expectations)
    ]
    rids = [rid for rid, _ in rules]
    dups = sorted({x for x in rids if rids.count(x) > 1})
    if dups:
        raise ValueError(
            f"duplicate expectation rule ids {dups}; give each rule an "
            "explicit 'id' so no violation count can mask another's"
        )
    if on_violation == "drop" and any(v is None for _, v in rules):
        raise ValueError(
            "a `unique` expectation has no row-level drop semantics "
            "(it is an aggregate property); use on_violation='fail'"
        )
    if not vlog:
        raise ValueError(
            "expectations require a version-logged target "
            f"(version_log_enable): {path}"
        )
    return rules


def _gate_aggs(expectations, rules) -> list:
    """Per-rule violation-count aggregates over the gate-compiled
    rules — shared by the fail-mode count, the drop-mode Observation,
    and the streaming metrics so every gate counts identically.
    `unique` rules (violation None) count as the aggregate
    count−countDistinct; an empty frame reports 0 everywhere."""
    aggs = []
    for i, (_, viol) in enumerate(rules):
        if viol is None:
            c = F.col(expectations[i]["col"])
            aggs.append(
                (F.count(c) - F.countDistinct(c))
                .cast("long")
                .alias(f"__v{i}")
            )
        else:
            aggs.append(
                F.coalesce(F.sum(F.when(viol, 1).otherwise(0)), F.lit(0))
                .cast("long")
                .alias(f"__v{i}")
            )
    return aggs


def _gate_fail_check(df: DataFrame, path: str, expectations, rules) -> dict:
    """ONE aggregation; raises ExpectationViolation on any violation,
    else returns the all-zero per-rule counts."""
    row = df.agg(*_gate_aggs(expectations, rules)).collect()[0]
    counts = {rid: int(row[f"__v{i}"]) for i, (rid, _) in enumerate(rules)}
    bad = {k: v for k, v in counts.items() if v > 0}
    if bad:
        raise ExpectationViolation(path, bad)
    return counts


def append_dataset(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    partition_by: Sequence[str] | None = None,
    lease_wait_s: float = 30.0,
    expectations=None,
    on_violation: str = "fail",
    quarantine: str | None = None,
) -> dict:
    """Plain (optionally hive-partitioned) parquet APPEND that keeps
    the version log exact: on a version-logged target the write's
    files are recorded as one ``append`` entry holding their
    dataset-RELATIVE paths (partition dirs included), so time travel /
    CDF / mirror consumers see exactly this increment at increment
    cost. The versioned sibling of ``write_parquet(mode='append')``
    for non-Z-ordered corpora — ``zorder_append`` covers the clustered
    flat case. On an unversioned target this is just the plain append.

    Concurrency (r14 — staged commit): the increment is written to a
    UNIQUE staging sibling (``{path}__append_staging_{nonce}``) with
    NO lease held — the expensive part of an append is the data write,
    and at 100 TB holding the dataset lease across it serializes every
    concurrent ingester for minutes. Only the commit tail takes the
    lease: write a ``_append_manifest`` pinning the staged names, then
    rename the files in and log ONE ``append`` entry — a millisecond
    window, so concurrent appenders queue on ``lease_wait_s`` (waiting
    is safe exactly because the held window is tiny) and ALL land,
    serialized only at the rename+log step. A crash anywhere after the
    manifest write is replayed to completion by the next maintenance
    writer (``_append_replay_pending`` — every step idempotent); a
    crash BEFORE it leaves an orphan staging sibling that
    ``vacuum_versions`` sweeps by age, and no reader ever saw it.

    The increment's partitioning MUST match the target's existing
    layout: a flat append beside partition dirs (or vice versa) makes
    Spark read only one of the two shapes — silent data loss for every
    reader — so a mismatch raises before writing anything.

    Commit-time expectations (r14, the DLT expect_or_fail /
    expect_or_drop shape): ``expectations`` is a list of rule dicts in
    the api.validate_expectations format, enforced on the STAGED
    increment — what is validated is byte-for-byte what would land,
    and the upstream frame is computed exactly once (the gate reads
    the staged parquet, never re-runs the plan that produced it).
    ``on_violation="fail"`` raises :class:`ExpectationViolation` with
    per-rule counts and deletes the staging — nothing commits, the
    corpus is untouched. ``on_violation="drop"`` rewrites the clean
    subset from the staged files (one Observation-carrying job counts
    every rule's violations AND writes the surviving rows) and commits
    only it; ``unique`` rules are aggregate properties with no
    row-level drop semantics, so they raise in drop mode — use fail.
    ``quarantine`` (drop mode) lands the violating rows, annotated
    with a ``__violated`` array of the rule ids each broke, in a
    plain parquet quarantine dataset — at-least-once diagnostic data,
    so a gate incident never needs upstream archaeology.
    Requires a version-logged target (the gate belongs to the commit
    protocol). Returns {"files": <appended file count or None>,
    "expectations": {rule_id: violations} when gated,
    "dropped_rows": n in drop mode}."""
    import uuid as _uuid

    from engage_spark.versioning import (
        _partition_cols_of,
        _vlog_reconcile,
        version_log_enabled,
    )

    fs_t, p_t = _hadoop_fs(spark, path)
    has_data = fs_t.exists(p_t) and any(
        not s.getPath().getName().startswith(("_", "."))
        for s in fs_t.listStatus(p_t)
    )
    if has_data:
        existing = _partition_cols_of(spark, path)
        if existing != list(partition_by or []):
            raise ValueError(
                f"append_dataset: {path} is laid out with partition "
                f"columns {existing} but the append specifies "
                f"{list(partition_by or [])}; a mismatched append would "
                "leave a mixed layout that readers silently truncate"
            )
        df = _gate_write_schema(spark, path, df, skip=existing)

    vlog = version_log_enabled(spark, path)
    gate_rules = None
    if expectations is not None:
        gate_rules = _check_gate_args(
            expectations, on_violation, vlog, path, quarantine=quarantine
        )
    elif quarantine is not None:
        raise ValueError(
            "quarantine is set but expectations is None — nothing would "
            "ever land there; configure the rules or drop the quarantine"
        )

    if not vlog:
        writer = df.write.mode("append")
        if partition_by:
            writer = writer.partitionBy(*list(partition_by))
        writer.parquet(path)
        return {"files": None}

    # ---- stage (no lease): the slice's only expensive job ----
    staging = f"{path.rstrip('/')}{_APPEND_STAGING_INFIX}{_uuid.uuid4().hex[:12]}"
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*list(partition_by))
    writer.parquet(staging)
    report: dict = {}
    if expectations is not None:
        staging, report = _expectation_gate(
            spark, path, staging, expectations, gate_rules,
            on_violation, partition_by, quarantine=quarantine,
            schema=df.schema,
        )
    staged = _staged_rel_files(spark, staging)
    if not staged:  # empty increment: nothing to commit — but keep
        # the heal contract (an append, even empty, reconciles drift
        # and finishes a crashed predecessor's commit)
        sfs, sp = _hadoop_fs(spark, staging)
        if sfs.exists(sp):
            sfs.delete(sp, True)
        _vlog_reconcile(spark, path)
        return {"files": 0, **report}

    final = _staged_append_commit(spark, path, staging, staged, lease_wait_s)
    return {"files": len(final), **report}


def _quarantine_frame(staged_df: DataFrame, rules, any_viol):
    """The violating rows annotated with WHICH rules each violated
    (`__violated` array<string>) — the debuggability half of drop
    mode: a dropped row that vanishes without trace turns every gate
    incident into an upstream archaeology dig."""
    tags = F.array_compact(
        F.array(
            *[
                F.when(viol, F.lit(rid))
                for rid, viol in rules
                if viol is not None
            ]
        )
    )
    return staged_df.filter(any_viol).withColumn("__violated", tags)


def _expectation_gate(
    spark: SparkSession,
    path: str,
    staging: str,
    expectations,
    rules,
    on_violation: str,
    partition_by: Sequence[str] | None,
    clean_write=None,
    quarantine: str | None = None,
    schema=None,
) -> tuple:
    """Enforce expectations on a STAGED append increment, before the
    commit tail. `rules` is the _check_gate_args compilation (gate
    semantics: a NULL expr result refuses the row). Returns
    (staging_dir_to_commit, report). An EMPTY staged increment (a
    zero-row partitioned write leaves only _SUCCESS) passes through
    untouched — there is nothing to gate and the caller's
    empty-increment branch handles it. fail: one aggregation over the
    staged read; any violation deletes the staging and raises. drop:
    one job carries BOTH the per-rule counts (an Observation on the
    staged read, observed BEFORE the filter so dropped rows are
    counted) and the clean subset's write to a sibling staging; the
    dirty staging is deleted and the clean one commits. No
    expectation ever reads the upstream frame — only the staged
    parquet. `clean_write(df, dst)` overrides the drop-mode rewrite
    for layout-preserving callers (zorder_append re-lays the
    survivors on the frozen curve); default is a plain (optionally
    partitioned) parquet write. `quarantine` (drop mode) additionally
    APPENDS the violating rows — annotated with a `__violated`
    array<string> of the rule ids each row broke — to a plain parquet
    quarantine dataset, read from the staged files (never the
    upstream plan). At-least-once: a crash between the quarantine
    write and the commit means a re-run of the same increment lands
    the rows again — diagnostic data, dedup downstream if it
    matters."""
    from pyspark.sql import Observation

    if not _staged_rel_files(spark, staging):
        return staging, {}
    # Read the staged increment with the UPSTREAM frame's explicit
    # schema when the caller has one: a bare spark.read.parquet would
    # run partition TYPE INFERENCE on the staged directory names, so a
    # string partition value that parses numerically ('007', '01')
    # would silently re-encode as k=7 in the drop-mode rewrite —
    # diverging from the ungated path (which moves staged files
    # verbatim) and from the target's existing directory spellings,
    # and handing rules/quarantine the inferred type instead of the
    # declared one.
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    staged_df = reader.parquet(staging)
    if on_violation == "fail":
        try:
            counts = _gate_fail_check(staged_df, path, expectations, rules)
        except ExpectationViolation:
            sfs, sp = _hadoop_fs(spark, staging)
            sfs.delete(sp, True)
            raise
        return staging, {"expectations": counts}
    # drop: count everything + write survivors in ONE job
    aggs = _gate_aggs(expectations, rules)
    any_viol = _gate_any_viol(rules)
    # a row violating SEVERAL rules drops once — count dropped rows
    # with their own aggregate, not the per-rule sum
    aggs.append(
        F.coalesce(F.sum(F.when(any_viol, 1).otherwise(0)), F.lit(0))
        .cast("long")
        .alias("__dropped")
    )
    aggs.append(F.count(F.lit(1)).alias("__total"))
    clean_staging = f"{staging}_clean"
    if clean_write is not None:
        # layout-preserving writers (the frozen-curve re-lay) evaluate
        # their input MORE THAN ONCE — repartitionByRange samples the
        # frame to compute range bounds before the real write — which
        # would double-count an Observation. Count with a standalone
        # aggregation over the staged parquet instead (one extra
        # column-pruned read of the increment), then write plain.
        got = staged_df.agg(*aggs).collect()[0]
        clean_write(staged_df.filter(~any_viol), clean_staging)
    else:
        obs = Observation()
        survivors = staged_df.observe(obs, *aggs).filter(~any_viol)
        writer = survivors.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*list(partition_by))
        writer.parquet(clean_staging)
        got = obs.get
    counts = _gate_counts(rules, got)
    if quarantine is not None and int(got["__dropped"]) > 0:
        # BEFORE the dirty staging is deleted — the quarantine rows
        # are read from it
        _quarantine_frame(staged_df, rules, any_viol).write.mode(
            "append"
        ).parquet(quarantine)
    sfs, sp = _hadoop_fs(spark, staging)
    sfs.delete(sp, True)
    if int(got["__total"]) == int(got["__dropped"]):
        # every row dropped: a filter-everything write still emits one
        # EMPTY part file — deleting the clean staging routes the
        # caller to its empty-increment branch (no empty file, no
        # pointless commit)
        cfs, cp = _hadoop_fs(spark, clean_staging)
        if cfs.exists(cp):
            cfs.delete(cp, True)
    return clean_staging, {
        "expectations": counts,
        "dropped_rows": int(got["__dropped"]),
    }


def _staged_append_commit(
    spark: SparkSession,
    path: str,
    staging: str,
    staged: list,
    lease_wait_s: float,
    after_commit=None,
) -> list:
    """The leased commit tail every staged append shares
    (append_dataset, zorder_append on a version-logged target): finish
    a crashed predecessor, reconcile drift, uniquify collisions inside
    staging, pin the swap in the JSON `_append_manifest`, then run the
    replay itself — rename in, log ONE exact `append` entry, clean up
    (idempotent at every step; a crash at any point converges on the
    next maintenance contact). `after_commit(final_names)` runs still
    under the lease for per-format bookkeeping (the z-range manifest
    increment). Returns the committed dataset-relative names."""
    import uuid as _uuid

    from engage_spark.versioning import _vlog_reconcile

    with maintenance_lease(spark, path, wait_s=lease_wait_s):
        _append_replay_pending(spark, path)  # finish a crashed predecessor
        # heal drift BEFORE the commit so the entry records only this
        # increment's files
        _vlog_reconcile(spark, path)
        final = []
        for rel in staged:
            # staged part names carry the write job's UUID, so a live
            # collision is ~impossible; still, uniquify INSIDE staging
            # before the manifest pins names (a replay must never
            # confuse "already moved by this commit" with a
            # pre-existing file of the same name)
            dfs2, dp2 = _hadoop_fs(spark, f"{path}/{rel}")
            if dfs2.exists(dp2):
                head, _, tail = rel.rpartition("/")
                new_rel = (head + "/" if head else "") + (
                    f"dup-{_uuid.uuid4().hex[:8]}-{tail}"
                )
                sfs2, sp2 = _hadoop_fs(spark, f"{staging}/{rel}")
                _, np2 = _hadoop_fs(spark, f"{staging}/{new_rel}")
                sfs2.rename(sp2, np2)
                rel = new_rel
            final.append(rel)
        # the manifest is a tiny JSON sidecar written through the
        # Hadoop FS directly — not a Spark job — because it sits
        # inside the lease-held commit window (two saved job
        # round-trips, measured ~0.7 s locally)
        import json as _json

        mfs, mp = _hadoop_fs(spark, f"{path}/{_APPEND_MANIFEST}")
        out = mfs.create(mp, True)
        out.write(
            _json.dumps(
                {"staging": staging, "adds": sorted(final)}
            ).encode()
        )
        out.close()
        # the rest of the commit — rename in, log the entry, clean up —
        # IS the crash replay, so run the replay itself (idempotent at
        # every step; a crash at any point converges on the next run)
        _append_replay_pending(spark, path)
        if after_commit is not None:
            after_commit(sorted(final))
    return final


_APPEND_MANIFEST = "_append_manifest"
_APPEND_STAGING_INFIX = "__append_staging_"


def _append_manifest_exists(spark: SparkSession, path: str) -> bool:
    mfs, mp = _hadoop_fs(spark, f"{path}/{_APPEND_MANIFEST}")
    return mfs.exists(mp)


# --- shared staged-swap replay machinery (r14): the append, MERGE and
# optimize commit protocols all pin their swap in a JSON manifest and
# replay it idempotently after a crash. ONE implementation of the
# manifest read, the staged-move loop and the duplicate-entry guard,
# so a protocol fix can never land in one copy and miss the others
# (review-found: the copies had already started diverging).


def _read_swap_manifest(spark: SparkSession, manifest_uri: str):
    """Parse a JSON swap manifest: {"adds", "removes"?, "staging"}.
    Returns None when absent — or TORN (crash mid-manifest-write,
    which by construction precedes every move; nothing was swapped,
    so the torn manifest is discarded rather than wedging every later
    op)."""
    import json as _json

    mfs, mp = _hadoop_fs(spark, manifest_uri)
    if not mfs.exists(mp):
        return None
    stream = mfs.open(mp)
    try:
        raw = bytes(stream.readAllBytes())
    finally:
        stream.close()
    try:
        doc = _json.loads(raw.decode())
        norm = {
            "adds": sorted(doc["adds"]),
            "removes": sorted(doc.get("removes", [])),
            "staging": doc["staging"],
        }
        # protocol-specific extras ride through untouched (the
        # takedown swap pins its applied sidecar parts + key stats)
        norm.update((k, v) for k, v in doc.items() if k not in norm)
        return norm
    except (ValueError, KeyError, TypeError):
        mfs.delete(mp, True)
        return None


def _move_staged_in(
    spark: SparkSession, path: str, staging: str, adds: list, what: str
) -> None:
    """Rename staged dataset-relative files into the dataset —
    idempotent: a file already live means a prior attempt moved it
    (the staged duplicate is dropped); a file in NEITHER place is
    unrecoverable and raises."""
    for rel in adds:
        sfs2, sp2 = _hadoop_fs(spark, f"{staging}/{rel}")
        dfs2, dp2 = _hadoop_fs(spark, f"{path}/{rel}")
        if dfs2.exists(dp2):
            if sfs2.exists(sp2):
                sfs2.delete(sp2, False)  # duplicate from a replayed move
            continue
        if not sfs2.exists(sp2):
            raise RuntimeError(
                f"{what} replay of {path}: staged file {rel} is in "
                "neither staging nor the dataset — manual repair needed"
            )
        dfs2.mkdirs(dp2.getParent())
        sfs2.rename(sp2, dp2)


def _entry_already_logged(
    spark: SparkSession, path: str, op: str, adds: list, removes: list
) -> bool:
    """Duplicate guard for a replayed commit's entry: scan back past
    bookkeeping entries (an every-K snapshot checkpoint can ride the
    SAME commit right behind the op entry — a crash after both must
    not re-log it)."""
    from engage_spark.versioning import _vlog_entries

    for e in reversed(_vlog_entries(spark, path)):
        if e["op"] in ("snapshot", "vacuum_log"):
            continue
        return (
            e["op"] == op
            and list(e["added"]) == adds
            and list(e["removed"]) == removes
        )
    return False


def _drop_staging_and_manifest(
    spark: SparkSession, staging: str, manifest_uri: str
) -> None:
    sfs, sp = _hadoop_fs(spark, staging)
    if sfs.exists(sp):
        sfs.delete(sp, True)
    mfs, mp = _hadoop_fs(spark, manifest_uri)
    mfs.delete(mp, True)


def _uniquify_staged_collisions(
    spark: SparkSession, path: str, staging: str, staged: list
) -> list:
    """Rename any staged file whose dataset-relative name collides
    with a LIVE file to a dup- name INSIDE staging, BEFORE the
    manifest pins names — a replay must never confuse 'already moved
    by this commit' with a pre-existing file of the same name (which
    _move_staged_in would silently drop the staged copy for). Staged
    part names carry the write job's UUID so a collision is
    ~impossible; this is the same defense the append commit applies."""
    import uuid as _uuid

    final = []
    for rel in sorted(staged):
        dfs2, dp2 = _hadoop_fs(spark, f"{path}/{rel}")
        if dfs2.exists(dp2):
            head, _, tail = rel.rpartition("/")
            new_rel = (head + "/" if head else "") + (
                f"dup-{_uuid.uuid4().hex[:8]}-{tail}"
            )
            sfs2, sp2 = _hadoop_fs(spark, f"{staging}/{rel}")
            _, np2 = _hadoop_fs(spark, f"{staging}/{new_rel}")
            sfs2.rename(sp2, np2)
            rel = new_rel
        final.append(rel)
    return final


def _append_replay_pending(spark: SparkSession, path: str) -> bool:
    """Finish a staged-commit append that crashed after its manifest
    write (r14): rename any staged files not yet in the dataset, log
    the ``append`` entry unless the log's LAST entry is already this
    commit, drop staging + manifest. Every step skips already-done
    work, so the inline commit path calls this as its own tail and a
    crash at any point converges on the next maintenance writer's
    call (hooked into _vlog_reconcile, which every versioned op runs
    before logging). Caller must hold the maintenance lease. Returns
    True if a manifest was found (i.e. a commit tail ran)."""
    from engage_spark.versioning import _vlog_append_entry

    doc = _read_swap_manifest(spark, f"{path}/{_APPEND_MANIFEST}")
    if doc is None:
        return False
    adds, staging = doc["adds"], doc["staging"]
    _move_staged_in(spark, path, staging, adds, "append")
    if not _entry_already_logged(spark, path, "append", adds, []):
        _vlog_append_entry(spark, path, "append", added=adds, removed=[])
    _drop_staging_and_manifest(
        spark, staging, f"{path}/{_APPEND_MANIFEST}"
    )
    return True


def write_bucketed(
    spark: SparkSession,
    df: DataFrame,
    table_name: str,
    bucket_cols: Sequence[str],
    num_buckets: int,
    path: str | None = None,
    sort_cols: Sequence[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed parquet table (engine extension — SHUFFLE ELIMINATION
    for repeated big-big joins): rows are hash-partitioned into
    `num_buckets` files per write task by `bucket_cols` and sorted
    within each bucket (default: by the bucket columns), with the
    bucket spec recorded in the catalog. Two tables bucketed the same
    way join WITHOUT either side shuffling — at 100 TB, an
    orders⋈lineitem repeated hourly amortizes ONE layout write into
    zero-exchange sort-merge joins forever after; bucket-key groupBys
    likewise skip their exchange. The reference has no counterpart
    (single-node pandas never shuffles); this is the Spark-native
    answer to its hand-partitioned per-group loops.

    Bucket metadata lives in the catalog, so reads must go through
    ``spark.table(table_name)`` — a path read sees plain parquet. For
    an external table (`path` given) the spec is ALSO persisted next
    to the data as a ``_bucket_spec`` sidecar (r13 — the other
    maintenance sidecars' convention), so a FRESH session with an
    empty catalog recovers the zero-exchange join via
    ``read_bucketed`` instead of silently re-shuffling. Size
    `num_buckets` so one bucket of the LARGER table ≈ one task's
    worth (128-256 MB)."""
    if mode == "overwrite":
        spark.sql(f"DROP TABLE IF EXISTS {table_name}")
        if path is not None:
            fs, p = _hadoop_fs(spark, path)
            if fs.exists(p):
                fs.delete(p, True)
    writer = (
        # cluster rows by the bucket hash into num_buckets write tasks
        # FIRST (r15 optimization round, guide §6): without it the
        # write runs at input-partition parallelism and each task cuts
        # a file per bucket it holds — n_tasks × n_buckets small files
        # at scale (the many-small-files problem Iceberg's hash
        # distribution mode exists to prevent), and locally a 3-task
        # lineitem write took 2.9 s vs 1.5 s clustered. repartition's
        # hash is the same Murmur3 the bucket spec uses, so each task
        # holds whole buckets and the layout comes out one right-sized
        # file per bucket; row content, sort order within files, and
        # the zero-exchange read-side join are unchanged.
        df.repartition(num_buckets, *[F.col(c) for c in bucket_cols])
        .write.format("parquet")
        .mode(mode)
        .bucketBy(num_buckets, *bucket_cols)
        .sortBy(*(sort_cols or bucket_cols))
    )
    if path is not None:
        writer = writer.option("path", path)
    writer.saveAsTable(table_name)
    if path is not None:
        from engage_spark.session import local_frame
        from engage_spark.versioning import _pa_overwrite_small

        _spec_ddl = (
            "bucket_cols array<string>, num_buckets int, "
            "sort_cols array<string>, schema_json string"
        )
        _spec_row = {
            "bucket_cols": list(bucket_cols),
            "num_buckets": int(num_buckets),
            "sort_cols": list(sort_cols or bucket_cols),
            "schema_json": spark.table(table_name).schema.json(),
        }
        # driver-side pyarrow write of the one-row spec (r15
        # optimization round; Spark write job stays the fallback)
        if not _pa_overwrite_small(
            spark, f"{path}/{_BUCKET_SPEC}", [_spec_row], _spec_ddl
        ):
            local_frame(
                spark, [tuple(_spec_row.values())], _spec_ddl
            ).coalesce(1).write.mode("overwrite").parquet(
                f"{path}/{_BUCKET_SPEC}"
            )


_BUCKET_SPEC = "_bucket_spec"


def read_bucketed(spark: SparkSession, path: str, table_name: str) -> DataFrame:
    """Open a bucketed dataset WITH its bucket spec honored, from any
    session: if `table_name` is already in the catalog, use it;
    otherwise re-register it from the ``_bucket_spec`` sidecar
    (CREATE TABLE ... CLUSTERED BY ... INTO n BUCKETS LOCATION path).
    Without this, a new driver reading the same path sees plain
    parquet and every join re-shuffles — the amortize-forever claim of
    write_bucketed only held within the writing session (VERDICT r12
    missing #4)."""
    import json as _json

    from pyspark.sql.types import StructType

    import re as _re

    # everything below is interpolated into a SQL statement — validate
    # or escape each piece instead of trusting it (ADVICE r13): the
    # table name against an identifier pattern, column names by
    # doubling backticks, the path by doubling single quotes
    if not _re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*(\.[A-Za-z_][A-Za-z0-9_]*)?",
                         table_name):
        raise ValueError(
            f"read_bucketed: table_name {table_name!r} is not a plain "
            "SQL identifier (letters/digits/underscore, optional "
            "db. prefix)"
        )

    def _ident(name: str) -> str:
        return "`" + name.replace("`", "``") + "`"

    if spark.catalog.tableExists(table_name):
        return spark.table(table_name)
    fs, p = _hadoop_fs(spark, f"{path}/{_BUCKET_SPEC}")
    if not fs.exists(p):
        raise ValueError(
            f"{path} has no _bucket_spec sidecar — not written by "
            "write_bucketed(path=...), or the spec was removed"
        )
    from engage_spark.versioning import _pa_read_small

    # one-row spec: driver-side pyarrow read, Spark job fallback (r15
    # optimization round)
    _pa_spec = _pa_read_small(spark, f"{path}/{_BUCKET_SPEC}")
    spec = (
        _pa_spec[0]
        if _pa_spec
        else spark.read.parquet(f"{path}/{_BUCKET_SPEC}").first()
    )
    schema = StructType.fromJson(_json.loads(spec["schema_json"]))
    cols_ddl = ", ".join(
        f"{_ident(f.name)} {f.dataType.simpleString()}"
        for f in schema.fields
    )
    bcols = ", ".join(_ident(c) for c in spec["bucket_cols"])
    scols = ", ".join(_ident(c) for c in spec["sort_cols"])
    loc = path.replace("'", "''")
    spark.sql(
        f"CREATE TABLE {table_name} ({cols_ddl}) USING parquet "
        f"CLUSTERED BY ({bcols}) SORTED BY ({scols}) "
        f"INTO {int(spec['num_buckets'])} BUCKETS "
        f"LOCATION '{loc}'"
    )
    return spark.table(table_name)


def compact_dataset(
    spark: SparkSession,
    src: str,
    dst: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    partition_by: Sequence[str] | None = None,
) -> int:
    """Small-file compaction: rewrite a parquet dataset as
    ceil(total_bytes / target) right-sized files. Returns the file
    count written toward.

    This is the maintenance pass every long-running ingest needs —
    per-micro-batch sinks (incremental_ingest_stream), frequent
    partitioned appends, and retry debris all accumulate files far
    below the HDFS/object-store sweet spot, and at 100 TB the
    open-file overhead of a million 1 MB files dominates scan time.
    Sizes come from the Hadoop FS API (works on any URI, not just
    local paths).

    With `partition_by`, each hive partition gets a file count sized
    BEST-EFFORT toward its row share of the global target (floor 1):
    the shuffle key is (partition columns, salt) where the salt is a
    deterministic row hash mod that partition's file count. Hashing on
    the partition columns alone would collapse every hive partition
    into exactly one task regardless of target_file_bytes — a skew/OOM
    hazard for large partitions, the very scale case compaction exists
    for. The salt is xxhash64 over the row's hashable columns (not a
    random id), so a retried stage re-places every row identically.
    Best-effort because distinct (partition, salt) groups are hash-
    placed into the n shuffle slots and can collide, so a skewed
    partition's file count may land somewhat below its target; the
    skew still splits across ~__files tasks rather than one.

    Rows with NULL partition-column values are preserved (written to
    __HIVE_DEFAULT_PARTITION__, as a plain partitioned write does):
    the per-partition file-count lookup joins null-safely, so the NULL
    group matches its own count row instead of vanishing through an
    inner equi-join.
    """
    import math

    df = spark.read.parquet(src)
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    total = 0
    for f in df.inputFiles():
        p = jvm.org.apache.hadoop.fs.Path(f)
        total += p.getFileSystem(conf).getFileStatus(p).getLen()
    n = max(1, math.ceil(total / target_file_bytes))
    if not partition_by:
        rep = df.repartition(n)
    else:
        # per-partition file counts from row share (rows proxy bytes
        # within one dataset); the agg partial-aggregates map-side and
        # the plan joins it back broadcast, so the corpus shuffles once
        import functools
        import operator

        total_rows = df.count() or 1  # parquet metadata count
        fdf = df.groupBy(*partition_by).agg(
            F.greatest(
                F.lit(1),
                F.round(
                    F.count(F.lit(1)) * F.lit(float(n)) / F.lit(float(total_rows))
                ).cast("int"),
            ).alias("__files")
        )
        # xxhash64 rejects MapType (and any type nesting one); salt on
        # the hashable columns only, falling back to the partition
        # columns (always atomic in a hive layout) — degraded to one
        # file per partition, but the compaction still completes.
        hashable = [
            f.name for f in df.schema.fields if _xxhash64able(f.dataType)
        ] or list(partition_by)
        salt = F.pmod(F.xxhash64(*[df[c] for c in hashable]), F.col("__files"))
        # eqNullSafe, not `on=partition_by`: a plain inner equi-join
        # never matches the NULL partition group, silently dropping
        # every row with a NULL partition value from the output.
        fkeys = {k: f"__pk_{k}" for k in partition_by}
        fdf_k = fdf
        for k, pk in fkeys.items():
            fdf_k = fdf_k.withColumnRenamed(k, pk)
        cond = functools.reduce(
            operator.and_,
            [df[k].eqNullSafe(fdf_k[pk]) for k, pk in fkeys.items()],
        )
        rep = (
            df.join(F.broadcast(fdf_k), cond)
            .withColumn("__salt", salt)
            .repartition(n, *partition_by, F.col("__salt"))
            .drop("__files", "__salt", *fkeys.values())
        )
    write_parquet(rep, dst, partition_by=partition_by)
    return n


def zorder_sql_fragment(scaled_names: Sequence[str], bits: int = 16) -> str:
    """ANSI/DuckDB SQL expression interleaving the bits of the given
    pre-scaled integer columns into one Z-value (Morton code) — the
    exact mirror of ``_interleave_sql`` so the layout's key function is
    oracle-checkable."""
    n = len(scaled_names)
    terms = [
        f"((({c} >> {b}) & 1) << {n * b + i})"
        for b in range(bits)
        for i, c in enumerate(scaled_names)
    ]
    return " + ".join(terms)


def _interleave_sql(scaled_sql: Sequence[str], bits: int) -> str:
    """Spark SQL interleaving the bits of pre-scaled integer operands
    (quoted column names or whole scaling expressions) into one
    Z-value: pure integer shift/and/add, whole-stage codegen, no UDF.
    Parsed as ONE expression — a single py4j call, where a Column
    built term by term paid ~5 py4j round trips per bit-term (bits *
    n_cols terms; measured ~0.6 s of pure driver time per call at
    bits=16, r15 optimization round)."""
    n = len(scaled_sql)
    return " + ".join(
        f"shiftleft(cast((shiftright({q}, {b}) & 1) as bigint), {n * b + i})"
        for b in range(bits)
        for i, q in enumerate(scaled_sql)
    )


def _minmax_scale_sql(
    col: str, lo: int, hi: int, bits: int, clamp: bool = False
) -> str:
    """The ONE definition of minmax z-scaling, as SQL:
    ``(x - lo) * (2^bits - 1) div span`` in exact integer arithmetic,
    with ``x`` clamped to [lo, hi] for frozen-curve increments
    (`clamp`). zorder_values scales a build with it and
    _zorder_scale_frozen every later increment, so both sides of the
    frozen curve share it. Unsuffixed literals type as Spark's
    ``F.lit`` of a Python int does (INT when it fits, else BIGINT)."""
    x = "`" + col.replace("`", "``") + "`"
    if clamp:
        x = f"least(greatest({x}, ({lo})), ({hi}))"
    return (
        f"(CAST((({x} - ({lo})) * {(1 << bits) - 1}) AS BIGINT)"
        f" div {max(1, hi - lo)})"
    )


def zorder_values(
    df: DataFrame,
    cols: Sequence[str],
    bits: int = 16,
    scale: str = "minmax",
    rank_bounds: dict | None = None,
) -> tuple[DataFrame, dict]:
    """Append a ``__z`` Morton-code column over integer columns.

    Each column is scaled to [0, 2^bits) with EXACT integer arithmetic
    (no floats, so the DuckDB oracle twin computes bit-identical
    values), then the bits are interleaved. Two scaling modes:

    - ``minmax``: ``(x - lo) * (2^bits - 1) div span``. One aggregation
      collecting 2·len(cols) scalars. Under a skewed distribution most
      of the curve's resolution lands in empty value space, so per-file
      rectangles get wide in the dense region — prefer ``rank`` there.
    - ``rank``: equal-MASS scaling, ``(rank(x) - 1) * (2^bits - 1) div
      (n - 1)`` with ties=min — exactly SQL ``rank() OVER (ORDER BY x
      NULLS FIRST)``, so still oracle-able. Computed as a FULLY
      DISTRIBUTED distinct-value CDF with no single-task stage:
      groupBy(col) counts (map-side combine), ``repartitionByRange``
      over the distinct values (ascending ranges land on ascending
      partition ids), a per-partition cumulative sum (each window task
      holds cardinality/P values, never the whole column), then a
      bounded P-row collect of per-partition totals whose prefix sums
      are broadcast back as offsets. Exact SQL ``rank()-1`` at any
      cardinality — including distinct≈rows columns like timestamps or
      doc ids, where the old single ``Window.orderBy`` formulation was
      a one-task global sort (SCALE.md records the measured blow-up).
      The join back to the data is null-safe, so NULL rows keep their
      rank-0 slot instead of being dropped; when the distinct frame is
      small it is broadcast, so the 100 TB side never shuffles for it.

    Quantize float columns to integers first (e.g. cents); non-integral
    columns raise. Wide-range columns whose scaled product would
    overflow a long (span > 2^63/2^bits) raise instead of silently
    corrupting the curve. Returns (df + __z, {col: (lo, hi)}).
    Pass an empty dict as ``rank_bounds`` to additionally receive, per
    rank-scaled column, the boundary frame (scaled slot -> smallest
    member value) that ``zorder_append`` freezes for curve-stable
    appends.
    """
    from pyspark.sql import Window

    int_types = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
    for f_ in df.schema.fields:
        if f_.name in cols and not isinstance(f_.dataType, int_types):
            raise TypeError(
                f"zorder column {f_.name} is {f_.dataType.simpleString()}; "
                "quantize to an integer type first (z-scaling is exact "
                "integer arithmetic so the oracle can mirror it)"
            )
    if scale not in ("minmax", "rank"):
        raise ValueError(f"unknown zorder scale mode: {scale}")
    out = df
    scaled, tmp = [], []
    stats = {}
    max_scaled_input = (2**63 - 1) // ((1 << bits) - 1)
    if scale == "rank":
        # lo/hi fall out of the CDF totals — rank mode never runs the
        # min/max aggregation pass
        n_rows, n_distinct, cdf_all, rank_stats = _rank_cdf_frames(df, cols)
        if n_rows - 1 > max_scaled_input:
            raise ValueError(
                f"zorder rank scaling over {n_rows} rows would overflow "
                f"long at bits={bits}; reduce bits"
            )
        denom = max(1, n_rows - 1)
        if rank_bounds is not None:
            # unified boundary table for frozen-curve appends (ONE
            # write for all columns): smallest value of each occupied
            # scaled slot, derived from the checkpointed CDF
            rank_bounds["_all"] = (
                cdf_all.withColumn(
                    "__s",
                    F.expr(f"(__before * {(1 << bits) - 1}) div {denom}"),
                )
                .groupBy("__ci", "__s")
                .agg(F.min("__v").alias("__b"))
            )
    else:
        aggs = []
        for c in cols:
            aggs += [F.min(c).alias(f"__lo_{c}"), F.max(c).alias(f"__hi_{c}")]
        row = df.agg(*aggs).collect()[0]  # bounded: 2*len(cols) scalars
    for i, c in enumerate(cols):
        if scale == "rank":
            lo, hi = rank_stats[i]
        else:
            lo = row[f"__lo_{c}"]
            hi = row[f"__hi_{c}"]
            lo, hi = (0, 0) if lo is None else (int(lo), int(hi))  # all-NULL
        stats[c] = (lo, hi)
        if scale == "minmax":
            span = max(1, hi - lo)
            if span > max_scaled_input:
                raise ValueError(
                    f"zorder column {c} spans {span} (> 2^63/2^{bits}); "
                    f"(x-lo)*(2^{bits}-1) would overflow long and corrupt "
                    "the curve — reduce bits, coarsen the quantization, or "
                    "use scale='rank'"
                )
            # scaled inline inside the one __z projection below
            scaled.append(_minmax_scale_sql(c, lo, hi, bits))
            continue
        else:
            cdf = cdf_all.filter(F.col("__ci") == i).drop("__ci")
            if n_distinct.get(i, 0) <= 500_000:
                # the CDF fits an executor: broadcast it so the big side
                # never shuffles for this join
                cdf = F.broadcast(cdf)
            # eqNullSafe: the NULL group carries rank 0 (NULLS FIRST);
            # a plain equi-join would silently drop every NULL row
            out = (
                out.join(cdf, out[c].cast("long").eqNullSafe(cdf["__v"]))
                .drop("__v")
                .withColumn(
                    f"__zn{i}",
                    (F.col("__before") * F.lit((1 << bits) - 1)).cast("long"),
                )
                .drop("__before")
                .withColumn(f"__zs{i}", F.expr(f"__zn{i} div {denom}"))
            )
        scaled.append(f"`__zs{i}`")
        tmp += [f"__zn{i}", f"__zs{i}"]
    out = out.withColumn("__z", F.expr(_interleave_sql(scaled, bits)))
    return (out.drop(*tmp) if tmp else out), stats


# below this many TOTAL distinct (column, value) pairs the rank CDF
# runs one bounded window task per column instead of the fully
# distributed range-partition machinery (whose extra jobs dominate at
# small scale); 2^20 (value, count) pairs per task is a few tens of MB
_RANK_SMALL_CDF = 1 << 20


def _rank_cdf_frames(
    df: DataFrame, cols: Sequence[str]
) -> tuple[int, dict, DataFrame]:
    """Distributed exact CDFs for ALL rank-scaled columns in ONE pass
    over the data: posexplode the column values into (column-index,
    value) pairs, count (map-side combine — the only data-sized
    shuffle), checkpoint the SMALL counts frame, and only then range
    partition it — so the RangePartitioner's sampling pass and the
    per-partition work read the checkpointed distinct frame, never
    rescanning the input (the r10.0 per-column formulation paid ~3
    data scans per column in setup jobs; this is the job-count fix
    that keeps s10b's bench line flat). RangePartitioner assigns
    ascending (ci, value) ranges to ascending partition ids, so a
    value's global rank prefix = its partition-local prefix (window
    partitioned by (ci, pid)) + the broadcast sum of lower partitions'
    totals for its column. Returns (row count — every column's counts
    sum to it, saving the df.count() pass — {ci: distinct count}, and
    the unified CDF frame (__ci, __v, __before))."""
    from collections import defaultdict

    from pyspark.sql import Window

    spark = df.sparkSession
    n_parts = max(2, spark.sparkContext.defaultParallelism)
    pairs = df.select(
        F.posexplode(
            F.array(*[F.col(c).cast("long") for c in cols])
        ).alias("__ci", "__v")
    )
    counts = (
        pairs.groupBy("__ci", "__v")
        .agg(F.count(F.lit(1)).alias("__cnt"))
        .localCheckpoint()
    )
    # ONE bounded aggregation (≤ len(cols) rows) answers the total
    # cardinality AND, on the small-CDF path, the per-column totals —
    # previously counts.count() plus a second grouped collect were two
    # separate driver-blocking jobs per call (r15 optimization round,
    # guide §1.2/§5: fewer jobs, same distributed work)
    tot0 = counts.groupBy("__ci").agg(
        F.sum("__cnt").alias("__t"),
        F.count(F.lit(1)).alias("__nv"),
        F.min("__v").alias("__lo"),
        F.max("__v").alias("__hi"),
    ).collect()
    n_card = sum(int(r["__nv"]) for r in tot0)
    if n_card <= _RANK_SMALL_CDF:
        # bounded fast path: one window task PER COLUMN (partitioned by
        # column index, never SinglePartition), each sorting at most
        # _RANK_SMALL_CDF distinct values — a fixed bound, so this is
        # scale-safe at any row count; it skips the range-sampling job,
        # the second checkpoint, and the per-partition offset plumbing
        # the high-cardinality path needs (tot0 already IS the
        # per-(column, pid=0) totals here)
        dv = counts.withColumn("__pid", F.lit(0))
        tot = [
            (r["__ci"], 0, int(r["__t"]), int(r["__nv"]), r["__lo"], r["__hi"])
            for r in tot0
        ]
    else:
        dv = (
            counts.repartitionByRange(
                n_parts, F.col("__ci"), F.col("__v").asc_nulls_first()
            )
            .withColumn("__pid", F.spark_partition_id())
            .localCheckpoint()  # pins pid assignment for totals AND window
        )
        # bounded: ≤ len(cols) * n_parts rows (the min/max here replace
        # a whole separate aggregation pass over the data)
        tot = [
            (r["__ci"], r["__pid"], int(r["__t"]), int(r["__nv"]),
             r["__lo"], r["__hi"])
            for r in dv.groupBy("__ci", "__pid").agg(
                F.sum("__cnt").alias("__t"),
                F.count(F.lit(1)).alias("__nv"),
                F.min("__v").alias("__lo"),
                F.max("__v").alias("__hi"),
            ).collect()
        ]
    by_ci = defaultdict(list)
    for ci, pid, t, nv, lo, hi in tot:
        by_ci[ci].append((pid, t, nv, lo, hi))
    offs_rows, n_rows, n_distinct = [], 0, {}
    rank_stats = {}
    for ci, rows in by_ci.items():
        acc = nv = 0
        los = [lo for *_x, lo, _hi in rows if lo is not None]
        his = [hi for *_x, _lo, hi in rows if hi is not None]
        rank_stats[ci] = (
            (int(min(los)), int(max(his))) if los else (0, 0)  # all-NULL col
        )
        for pid, t, v, _lo, _hi in sorted(rows):
            offs_rows.append((ci, pid, acc))
            acc += t
            nv += v
        if ci == 0:
            n_rows = acc
        n_distinct[ci] = nv
    for ci in range(len(cols)):  # columns absent from an empty frame
        rank_stats.setdefault(ci, (0, 0))
    from engage_spark.session import local_frame

    off_df = F.broadcast(
        local_frame(
            spark, offs_rows or [(0, 0, 0)], "__ci int, __pid int, __off long"
        )
    )
    w = (
        Window.partitionBy("__ci", "__pid")
        .orderBy(F.col("__v").asc_nulls_first())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cdf_all = (
        dv.withColumn(
            "__local",
            F.coalesce(F.sum("__cnt").over(w), F.lit(0)).cast("long"),
        )
        .join(off_df, ["__ci", "__pid"])
        .select(
            "__ci", "__v", (F.col("__local") + F.col("__off")).alias("__before")
        )
    )
    return n_rows, n_distinct, cdf_all, rank_stats


def zorder_write(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    cols: Sequence[str],
    bits: int = 16,
    num_files: int | None = None,
    scale: str = "minmax",
    partition_by: Sequence[str] | None = None,
) -> dict:
    """Write ``df`` Z-ordered on ``cols``: multi-dimensional clustering
    so parquet row-group min/max stats prune on EVERY listed column,
    not just a lexicographic-sort leader.

    At 100 TB this is the scan-reduction lever for point/range lookups
    on secondary dimensions: a linear sort on (a, b) gives tight stats
    on `a` only; the Morton layout gives each file a small rectangle in
    (a, b) space, so a predicate on either column skips most files via
    footer stats alone — no index structure, no shuffle at read time.
    ``repartitionByRange`` on the Z-value gives disjoint per-file
    Z-ranges (one shuffle), ``sortWithinPartitions`` tightens row-group
    stats inside each file. The scaling stats are PERSISTED under
    ``path/_zorder_meta`` (a ``_``-prefixed dir, invisible to parquet
    readers) so ``zorder_append`` can scale later increments with the
    SAME frozen curve — appended files that re-derive bounds would
    silently stop sharing the layout. Returns the per-column (lo, hi)
    stats.

    On a VERSION-LOGGED target (versioning.version_log_enable) a
    republish keeps history: current data files are renamed into
    ``_versions/retained`` (O(files) metadata moves, no copy), the log
    rides out the overwrite in a stash, and one ``overwrite`` entry
    records the swap — older versions stay readable, pending deletion
    vectors are superseded. A crash mid-publish leaves the old files
    safe in retained/ (re-run the publish); the staged-commit ops keep
    their stronger replayable guarantee."""
    # validate BEFORE the versioned branch: its republish retains
    # every live file first, so a late argument error would leave the
    # live root empty (r13 review)
    _zorder_validate_args(df, cols, partition_by)
    fs_t, p_t = _hadoop_fs(spark, path)
    if fs_t.exists(p_t):
        from engage_spark.versioning import (
            _publish_stash_exists,
            version_log_enabled,
        )

        if version_log_enabled(spark, path):
            return _zorder_write_versioned(
                spark, df, path, cols, bits, num_files, scale,
                partition_by,
            )
        if _publish_stash_exists(spark, path):
            # a republish is mid-flight (or crashed with its lease
            # unexpired): the log is in the stash and this overwrite
            # would delete live files the history references
            raise RuntimeError(
                f"a versioned republish of {path} is in flight or "
                "crashed with an unexpired lease (its _versions dir is "
                "in the publish stash); retry after it completes or "
                "the lease expires"
            )
    return _zorder_write_impl(
        spark, df, path, cols, bits, num_files, scale, partition_by
    )


def _zorder_write_versioned(
    spark, df, path, cols, bits, num_files, scale, partition_by=None
) -> dict:
    from engage_spark.versioning import (
        _VDIR,
        _live_names,
        _retain_file,
        _vlog_append_entry,
        _vlog_reconcile,
    )

    with maintenance_lease(spark, path):
        _vlog_reconcile(spark, path)
        old_names = _live_names(spark, path)
        for name in old_names:
            _retain_file(spark, path, name)
        # only _versions must survive the overwrite (meta is rewritten
        # fresh below; _deletes is superseded by the republish). Both
        # renames are CHECKED: an unnoticed no-op here would either
        # let the overwrite destroy the live _versions dir or leave
        # the history orphaned in the stash (ADVICE r12).
        from engage_spark.versioning import _PUBLISH_STASH_SUFFIX

        fs, vp = _hadoop_fs(spark, f"{path}/{_VDIR}")
        _, tp = _hadoop_fs(
            spark, f"{path.rstrip('/')}{_PUBLISH_STASH_SUFFIX}"
        )
        if fs.exists(tp):
            raise RuntimeError(
                f"stale publish stash at {tp} — a prior republish "
                "crashed and was not healed; refusing to overwrite it"
            )
        if not fs.rename(vp, tp):
            raise RuntimeError(
                f"could not stash {path}/{_VDIR} for republish"
            )
        try:
            stats = _zorder_write_impl(
                spark, df, path, cols, bits, num_files, scale,
                partition_by,
            )
        finally:
            if not fs.rename(tp, vp) and not fs.exists(vp):
                raise RuntimeError(
                    f"could not restore {path}/{_VDIR} from its publish "
                    f"stash {tp}; the version history is intact there — "
                    "restore it manually before the next versioned op"
                )
        _vlog_append_entry(
            spark, path, "overwrite",
            added=_live_names(spark, path), removed=old_names,
        )
    return stats


def _write_z_layout(
    out: DataFrame,
    n: int,
    part_cols: list,
    mode: str,
    path: str,
    ranges: bool = False,
) -> dict | None:
    """The one layout-producing write every zorder path shares:
    range-partition on (partition cols, __z) — each task holds a
    contiguous (partition, z) run, so every partition dir gets
    z-disjoint right-sized files — sort within tasks, drop the key,
    write. A partitioned OVERWRITE pins partitionOverwriteMode=static
    per-write: under a session-level dynamic mode, a republish whose
    frame lacks some partition values would silently leave those dirs
    on the PREVIOUS frozen curve while the meta says otherwise.

    `ranges`: on a flat layout, the write also observes each task's
    (min, max) ``__z`` — each task writes one file, so these are the
    written files' exact z-ranges — and returns {task partition id:
    (z_lo, z_hi)} for `_written_zranges`; None when not asked for, on
    a partitioned layout (a task writes one file per partition dir),
    or past ``_ZRANGES_OBSERVE_MAX`` tasks."""
    keys = [*part_cols, "__z"] if part_cols else ["__z"]
    # r16 (VERDICT r15 #9, the measured decision): repartitionByRange
    # evaluates `out` TWICE — once for the RangePartitioner's
    # reservoir sample, once for the write — i.e. two full computes of
    # the scan+scale upstream per zorder write. One lazy
    # localCheckpoint materializes it once and both passes read the
    # materialization. Measured back-to-back (min-of-3, flat q1
    # control): sf0.1 s10b 4.10→3.93 / s10c 2.16→1.97 / s15 2.81→2.67;
    # sf1 s10b 5.73→4.97 / s15 5.01→4.68 — the executor-local write of
    # the scaled rows costs less than the second compute at both
    # scales, and the gap widens with data size.
    out = out.localCheckpoint(eager=False)
    laid = out.repartitionByRange(n, *keys).sortWithinPartitions(*keys)
    obs = None
    if ranges and not part_cols and n <= _ZRANGES_OBSERVE_MAX:
        from pyspark.sql import Observation

        obs = Observation()
        aggs = []
        for i in range(n):
            z = F.when(F.col("__p") == i, F.col("__z"))
            aggs += [F.min(z).alias(f"lo{i}"), F.max(z).alias(f"hi{i}")]
        # the observed metrics ride the write job: no extra scan
        laid = (
            laid.withColumn("__p", F.spark_partition_id())
            .observe(obs, *aggs)
            .drop("__p")
        )
    w = laid.drop("__z").write.mode(mode)
    if part_cols:
        w = w.partitionBy(*part_cols)
        if mode == "overwrite":
            w = w.option("partitionOverwriteMode", "static")
    w.parquet(path)
    if obs is None:
        return None
    got = obs.get
    return {
        i: (int(got[f"lo{i}"]), int(got[f"hi{i}"]))
        for i in range(n)
        if got[f"lo{i}"] is not None
    }


# `_write_z_layout` observes per-file z-ranges with two aggregate
# expressions per task; a write into more files than this refreshes
# the z-range manifest with the increment scan instead. Measured on
# zorder_append (4-core VM, local[4], medians of 4 alternating pairs,
# observed write vs write + scan): 20k rows, 8 files 0.70 vs 0.82 s,
# 16 files 1.04 vs 0.91 s, 64 files 2.48 vs 1.83 s; 200k rows, 8 files
# 0.96 vs 1.08 s, 12 files 1.15 vs 1.02 s
_ZRANGES_OBSERVE_MAX = 8

_PART_ID_RE = re.compile(r"(?:^|-)part-(\d+)-")


def _written_zranges(names: list, task_ranges: dict | None) -> dict | None:
    """{name: (z_lo, z_hi)} for files `_write_z_layout` wrote flat,
    matched to its observed per-task ranges by the task partition id
    Spark puts in every part name (``part-00003-<job uuid>...``; a
    commit's ``dup-`` rename keeps it). None — the caller scans — if
    the names and the non-empty tasks do not match one to one."""
    if task_ranges is None:
        return None
    out: dict = {}
    seen: set = set()
    for name in names:
        m = _PART_ID_RE.search(name)
        if "/" in name or m is None:
            return None
        tid = int(m.group(1))
        if tid in seen or tid not in task_ranges:
            return None
        seen.add(tid)
        out[name] = task_ranges[tid]
    return out if seen == set(task_ranges) else None


def _zorder_validate_args(df: DataFrame, cols, partition_by) -> None:
    """Argument validation shared by the zorder entry points — it MUST
    run before the versioned republish starts retaining live files
    (r13 review: a ValueError raised mid-republish left the live root
    empty), so zorder_write calls it before choosing a branch."""
    part_cols = list(partition_by or [])
    clash = set(cols) & set(part_cols)
    if clash:
        raise ValueError(
            f"zorder columns {sorted(clash)} cannot also be partition "
            "columns: partitionBy removes them from the data files, so "
            "later frozen-curve reads of those files could not rescale "
            "them. Partition on one dimension, cluster on the others."
        )
    missing = [c for c in list(cols) + part_cols if c not in df.columns]
    if missing:
        raise ValueError(
            f"zorder_write input lacks columns {missing} "
            f"(clustering on {list(cols)}, partitioning by {part_cols})"
        )


def _zorder_write_impl(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    cols: Sequence[str],
    bits: int,
    num_files: int | None,
    scale: str,
    partition_by: Sequence[str] | None = None,
) -> dict:
    part_cols = list(partition_by or [])
    _zorder_validate_args(df, cols, partition_by)
    rank_bounds: dict | None = {} if scale == "rank" else None
    out, stats = zorder_values(
        df, cols, bits, scale=scale, rank_bounds=rank_bounds
    )
    n = num_files or spark.sparkContext.defaultParallelism
    _write_z_layout(out, n, part_cols, "overwrite", path)
    meta_dir = f"{path}/_zorder_meta"
    from engage_spark.session import local_frame
    from engage_spark.versioning import _pa_overwrite_small

    _zmeta_ddl = (
        "cols array<string>, bits int, scale string, "
        "lo array<long>, hi array<long>, part_cols array<string>"
    )
    _zmeta_row = {
        "cols": list(cols),
        "bits": int(bits),
        "scale": scale,
        "lo": [int(stats[c][0]) for c in cols],
        "hi": [int(stats[c][1]) for c in cols],
        "part_cols": part_cols,
    }
    # driver-side pyarrow write of the one-row curve meta (r15
    # optimization round; Spark write job stays the fallback)
    if not _pa_overwrite_small(
        spark, f"{meta_dir}/info", [_zmeta_row], _zmeta_ddl
    ):
        local_frame(
            spark, [tuple(_zmeta_row.values())], _zmeta_ddl
        ).coalesce(1).write.mode("overwrite").parquet(f"{meta_dir}/info")
    if rank_bounds:
        rank_bounds["_all"].write.mode("overwrite").parquet(
            f"{meta_dir}/bounds"
        )
    _zmeta_invalidate(path)  # republish replaced the frozen curve
    return stats


# In-process memo for the frozen curve definition. The meta is
# IMMUTABLE by contract for a given layout generation (only a full
# republish — zorder_write / optimize_dataset — replaces it; append /
# optimize_incremental / apply_deletes all scale with the SAME stored
# curve), so one maintenance lifecycle re-reading the 1-row sidecar
# 4-5 times is pure job overhead. Writers invalidate on republish.
# Cross-process caveat: a republish from ANOTHER process is not seen
# by this cache — the same out-of-band-writer caveat every sidecar
# here carries (the maintenance lease serializes writers, not readers).
_ZMETA_CACHE: dict[str, dict] = {}


def _zmeta_invalidate(path: str) -> None:
    _ZMETA_CACHE.pop(path, None)


def zorder_meta(spark: SparkSession, path: str) -> dict:
    """Load the frozen scaling metadata a zorder_write persisted:
    {"cols", "bits", "scale", "lo": {col: lo}, "hi": {col: hi}}.
    Memoized per process (see _ZMETA_CACHE)."""
    cached = _ZMETA_CACHE.get(path)
    if cached is not None:
        return cached
    fs, p = _hadoop_fs(spark, f"{path}/_zorder_meta/info")
    if not fs.exists(p):
        raise ValueError(
            f"{path} has no _zorder_meta — it was not written by "
            "zorder_write (or predates meta persistence). Rewrite it "
            "with zorder_write/optimize_dataset before appending; "
            "appends must scale with the stored curve."
        )
    from engage_spark.versioning import _pa_read_small

    # one-row curve meta: driver-side pyarrow read, Spark job fallback
    # (r15 optimization round)
    pa_rows = _pa_read_small(spark, f"{path}/_zorder_meta/info")
    info = (
        pa_rows[0]
        if pa_rows
        else spark.read.parquet(f"{path}/_zorder_meta/info")
        .collect()[0]
        .asDict()
    )
    out = {
        "cols": list(info["cols"]),
        "bits": int(info["bits"]),
        "scale": info["scale"],
        "lo": {c: int(v) for c, v in zip(info["cols"], info["lo"])},
        "hi": {c: int(v) for c, v in zip(info["cols"], info["hi"])},
        # hive partition columns of the clustered layout (r13);
        # pre-r13 meta rows lack the column -> flat
        "part_cols": list(info.get("part_cols") or []),
    }
    _ZMETA_CACHE[path] = out
    return out


def _zorder_scale_frozen(
    spark: SparkSession, df: DataFrame, path: str, meta: dict
) -> DataFrame:
    """Scale an increment with the STORED curve parameters and append
    the ``__z`` column. minmax: the persisted (lo, hi); out-of-range
    values saturate at the curve edge (rebuild via optimize_dataset
    when drift makes the edge bucket hot). rank: each value buckets
    into the persisted boundary table via MLlib Bucketizer (binary
    search, JVM-side, broadcast model — never a join against the
    data); values identical to build-time values land on their exact
    build-time slot, new in-between values on the nearest lower slot.
    NULLs take the build's NULL slot (rank 0) when one exists, else
    slot 0. (The Bucketizer comparison is on doubles: integers beyond
    2^53 would bucket approximately — the build-side overflow guard
    keeps bits*span inside long range long before that matters.)"""
    bits = meta["bits"]
    scaled, tmp = [], []
    bounds_rows = None  # all columns' boundary rows, loaded at most once
    for i, c in enumerate(meta["cols"]):
        if meta["scale"] == "minmax":
            # scaled inline inside the one __z projection below
            scaled.append(
                _minmax_scale_sql(
                    c, meta["lo"][c], meta["hi"][c], bits, clamp=True
                )
            )
            continue
        else:
            from pyspark.ml.feature import Bucketizer

            if bounds_rows is None:
                # ONE driver-side pyarrow read serves every rank
                # column (bounded: ≤ 2^bits occupied slots per column);
                # the per-column Spark filter+collect it replaces was
                # ~0.5 s of job scheduling per column per maintenance
                # op (r15 optimization round). Spark read stays the
                # fallback for filesystems pyarrow can't reach.
                from engage_spark.versioning import _pa_read_small

                bounds_rows = _pa_read_small(
                    spark, f"{path}/_zorder_meta/bounds"
                )
                if bounds_rows is None:
                    bounds_rows = [
                        r.asDict()
                        for r in spark.read.parquet(
                            f"{path}/_zorder_meta/bounds"
                        ).collect()
                    ]
            rows = [r for r in bounds_rows if r["__ci"] == i]
            null_slot = next(
                (int(r["__s"]) for r in rows if r["__b"] is None), None
            )
            finite = sorted(
                (int(r["__b"]), int(r["__s"]))
                for r in rows
                if r["__b"] is not None
            )
            if null_slot is None:
                null_slot = finite[0][1] if finite else 0
            if not finite:
                # empty build (no occupied slots — the dataset was
                # written from zero rows): every value lands on slot 0;
                # Bucketizer would reject the degenerate [-inf, inf]
                df = df.withColumn(f"__zs{i}", F.lit(0).cast("long"))
                tmp.append(f"__zs{i}")
                scaled.append(f"`__zs{i}`")
                continue
            splits = (
                [float("-inf")]
                + [float(b) for b, _ in finite[1:]]
                + [float("inf")]
            )
            df = Bucketizer(
                splits=splits,
                inputCol=f"__bv{i}",
                outputCol=f"__bk{i}",
                handleInvalid="keep",  # NULL -> extra bucket len(splits)-1
            ).transform(df.withColumn(f"__bv{i}", F.col(c).cast("double")))
            from engage_spark.session import local_frame

            smap = local_frame(
                spark,
                [(float(k), int(s)) for k, (_, s) in enumerate(finite)]
                + [(float(len(splits) - 1), int(null_slot))],
                f"__bk{i} double, __zs{i} long",
            )
            df = df.join(F.broadcast(smap), on=f"__bk{i}", how="left")
            tmp += [f"__bv{i}", f"__bk{i}", f"__zs{i}"]
        scaled.append(f"`__zs{i}`")
    df = df.withColumn("__z", F.expr(_interleave_sql(scaled, bits)))
    return df.drop(*tmp) if tmp else df


def zorder_append(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    num_files: int | None = None,
    lease_wait_s: float = 30.0,
    expectations=None,
    on_violation: str = "fail",
    quarantine: str | None = None,
) -> dict:
    """Append an increment to a Z-ordered dataset ON THE SAME CURVE:
    scale with the persisted ``_zorder_meta`` (never re-derive — fresh
    bounds would put new files on a different curve and silently break
    every skip-rate assumption), range-partition on ``__z``, sort
    within files, parquet append. The micro-batch path between
    optimize_dataset passes; appended files overlap existing files'
    Z-ranges (unavoidable for an append) but each still covers a tight
    rectangle, so footer pruning holds — measured within ~0.1-0.2 kept
    fraction of a full rewrite at equal file counts
    (test_zorder_append_preserves_skipping); track the drift with
    zorder_layout_stats and re-optimize past your threshold.

    On a VERSION-LOGGED target the increment goes through the shared
    STAGED-COMMIT protocol (r14, append_dataset's shape): the clustered
    slice is written to a unique staging sibling with no lease held and
    only the rename+log tail serializes — concurrent clustered
    ingesters all land with exact per-increment entries, and the
    z-range manifest update rides the same lease (the old in-place
    write diffed live listings before/after, which two concurrent
    appenders would mis-attribute).

    ``expectations``/``on_violation`` (r14): the same commit-time gate
    as :func:`append_dataset` — rules enforced on the STAGED clustered
    slice, fail refuses atomically, drop RE-LAYS the surviving rows on
    the frozen Z-curve (a plain filtered rewrite would break the
    range-partitioned layout) and commits only them; ``quarantine``
    lands the dropped rows with ``__violated`` annotations. Versioned
    targets only. Returns {"files", "cols", "scale", + gate report}."""
    import uuid as _uuid

    m = zorder_meta(spark, path)
    part_cols = m.get("part_cols") or []
    missing = [
        c for c in list(m["cols"]) + part_cols if c not in df.columns
    ]
    if missing:
        raise ValueError(
            f"zorder_append increment lacks clustered/partition columns "
            f"{missing} (index at {path} is ordered on {m['cols']}, "
            f"partitioned by {part_cols})"
        )
    df = _gate_write_schema(spark, path, df, skip=part_cols)
    from engage_spark.versioning import version_log_enabled

    vlog = version_log_enabled(spark, path)
    gate_rules = None
    if expectations is not None:
        gate_rules = _check_gate_args(
            expectations, on_violation, vlog, path, quarantine=quarantine
        )
    elif quarantine is not None:
        raise ValueError(
            "quarantine is set but expectations is None — nothing would "
            "ever land there; configure the rules or drop the quarantine"
        )
    out = _zorder_scale_frozen(spark, df, path, m)
    n = num_files or max(1, spark.sparkContext.defaultParallelism // 4)

    if not vlog:
        man = _zranges_read(spark, path)
        before = (
            set(spark.read.parquet(path).inputFiles())
            if man is not None
            else None
        )
        if man is not None and {f for f, _, _ in man} != before:
            # STALE manifest (some writer bypassed the incremental
            # maintainers): appending increment entries would persist
            # it stale-plus-new — the _zorder_file_ranges self-check
            # would still reject it, but every later fast-path read
            # would be lost and the increment scan below wasted. Skip
            # the manifest update; the next stats/victim read rebuilds
            # it in one scan.
            man = None
        _write_z_layout(out, n, part_cols, "append", path)
        if man is not None:
            new_files = set(spark.read.parquet(path).inputFiles()) - before
            if new_files:
                # keep the z-range manifest live with an
                # INCREMENT-sized scan of just the appended files
                _zranges_write(
                    spark, path, man + _zranges_scan(spark, path, new_files)
                )
        return {"files": n, "cols": m["cols"], "scale": m["scale"]}

    # versioned: stage (no lease) → shared rename+log commit tail
    staging = f"{path.rstrip('/')}{_APPEND_STAGING_INFIX}{_uuid.uuid4().hex[:12]}"
    # the staged files' z-ranges, observed by their write (a gate in
    # drop mode rewrites the staging, so its files are scanned)
    task_zranges = _write_z_layout(
        out, n, part_cols, "overwrite", staging,
        ranges=expectations is None,
    )
    report: dict = {}
    if expectations is not None:
        staging, report = _expectation_gate(
            spark, path, staging, expectations, gate_rules,
            on_violation, None,
            # drop-mode survivors must go back on the frozen curve —
            # a plain filtered rewrite would break the range-
            # partitioned layout every skip-rate assumption rests on
            clean_write=lambda cdf, dst: _write_z_layout(
                _zorder_scale_frozen(spark, cdf, path, m),
                n, part_cols, "overwrite", dst,
            ),
            quarantine=quarantine,
            schema=out.drop("__z").schema,
        )
    staged = _staged_rel_files(spark, staging)
    if not staged:
        sfs, sp = _hadoop_fs(spark, staging)
        if sfs.exists(sp):
            sfs.delete(sp, True)
        from engage_spark.versioning import _vlog_reconcile

        _vlog_reconcile(spark, path)
        return {"files": 0, "cols": m["cols"], "scale": m["scale"], **report}

    def _update_zranges(final_names: list) -> None:
        # under the commit lease: the manifest freshness check compares
        # against the live set MINUS this commit's just-renamed files.
        # URIs come from the same inputFiles listing the manifest rows
        # were built from (input_file_name) — hadoop's toUri() renders
        # a different slash form, so never synthesize them
        man = _zranges_read(spark, path)
        if man is None:
            return
        rel = _uri_to_rel(spark, path)
        live = _input_files(spark, path)
        fset = set(final_names)
        new_uris = {u for u in live if rel(u) in fset}
        if {f for f, _, _ in man} != live - new_uris:
            return  # stale manifest: next stats/victim read rebuilds it
        if new_uris:
            written = _written_zranges(final_names, task_zranges)
            _zranges_write(
                spark, path,
                man + (
                    [(u, *written[rel(u)]) for u in sorted(new_uris)]
                    if written is not None
                    else _zranges_scan(spark, path, new_uris)
                ),
            )

    _staged_append_commit(
        spark, path, staging, staged, lease_wait_s,
        after_commit=_update_zranges,
    )
    # no df.count() here — that would re-run the whole scale+shuffle
    # pipeline just for a return value; count the dataset if you need it
    return {"files": n, "cols": m["cols"], "scale": m["scale"], **report}


# Per-file z-range MANIFEST (round 11): the statistics a table format
# would keep in its log, as a `_`-sidecar. One row per data file with
# its exact (z_lo, z_hi); zorder_layout_stats and optimize_incremental
# read it in O(files) instead of rescanning the dataset — at 100 TB
# that is the difference between a metadata read and a full pass.
# Validity is self-checking: the manifest must name EXACTLY the
# current file set, else it is rebuilt by one scan (which also
# refills it). Incremental writers (zorder_append,
# optimize_incremental) maintain it with increment-sized scans;
# full-rewrite paths (apply_deletes, upsert) drop it.
_ZRANGES = "_zorder_ranges"


def _zranges_scan(spark: SparkSession, path: str, only_files=None) -> list:
    """Exact [(file_uri, z_lo, z_hi)] by recomputing every row's
    Z-value with the FROZEN meta over the whole dataset (or over
    `only_files` — the increment-sized maintenance case), scanned with
    the log's schema."""
    from engage_spark.versioning import _logged_reader

    m = zorder_meta(spark, path)
    # a leaf-file read without basePath discovers no partition
    # columns, so the logged schema must not name them either
    src = (
        _logged_reader(spark, path, drop=tuple(m["part_cols"]))
        .parquet(*sorted(only_files))
        if only_files
        else _logged_reader(spark, path).parquet(path)
    )
    z = _zorder_scale_frozen(
        spark, src.withColumn("__file", F.input_file_name()), path, m
    )
    per_file = z.groupBy("__file").agg(
        F.min("__z").alias("z_lo"), F.max("__z").alias("z_hi")
    ).collect()  # bounded: one row per data file
    return [(r["__file"], int(r.z_lo), int(r.z_hi)) for r in per_file]


def _zranges_write(spark: SparkSession, path: str, rows: list) -> None:
    from engage_spark.session import local_frame
    from engage_spark.versioning import _pa_overwrite_small

    ddl = "file string, z_lo long, z_hi long"
    # one-row-per-file manifest: driver-side pyarrow write, Spark job
    # fallback (r15 optimization round)
    if not _pa_overwrite_small(
        spark,
        f"{path}/{_ZRANGES}",
        [{"file": f, "z_lo": lo, "z_hi": hi} for f, lo, hi in rows],
        ddl,
    ):
        local_frame(spark, rows, ddl).write.mode("overwrite").parquet(
            f"{path}/{_ZRANGES}"
        )


def _zranges_read(spark: SparkSession, path: str):
    """The manifest's rows, or None if absent."""
    fs, p = _hadoop_fs(spark, f"{path}/{_ZRANGES}")
    if not fs.exists(p):
        return None
    from engage_spark.versioning import _pa_read_small

    pa_rows = _pa_read_small(spark, f"{path}/{_ZRANGES}")
    if pa_rows is not None:
        return [
            (r["file"], int(r["z_lo"]), int(r["z_hi"])) for r in pa_rows
        ]
    return [
        (r.file, int(r.z_lo), int(r.z_hi))
        for r in spark.read.parquet(f"{path}/{_ZRANGES}").collect()
    ]


def _input_files(spark: SparkSession, path: str) -> set:
    """The dataset's data-file URIs as ``spark.read.parquet(path)``
    lists them (``inputFiles``) — the form the z-range manifest
    stores. Planned with the log's schema (``_logged_reader``), so the
    listing launches no schema-inference job."""
    from engage_spark.versioning import _logged_reader

    return set(_logged_reader(spark, path).parquet(path).inputFiles())


def _zranges_drop(spark: SparkSession, path: str) -> None:
    fs, p = _hadoop_fs(spark, f"{path}/{_ZRANGES}")
    if fs.exists(p):
        fs.delete(p, True)


def _zranges_refresh(
    spark: SparkSession,
    path: str,
    kept_entries: list,
    written: dict | None = None,
) -> None:
    """Post-commit increment-sized refresh of the z-range manifest,
    shared by every staged swap (optimize, apply_deletes): kept
    entries are filtered against the CURRENT live file set first — a
    commuting commit may have removed a kept file since the entries
    were pinned, and persisting its dead row would fail the
    manifest's exact-match validity check and force the next consumer
    into a full-dataset rescan (review-found) — then every other live
    file gets one exact increment-sized scan, except the files whose
    ranges the rewrite observed as it wrote them (`written`:
    dataset-relative name -> (z_lo, z_hi), `_written_zranges`)."""
    current = _input_files(spark, path)
    kept = [e for e in kept_entries if e[0] in current]
    fresh = current - {f for f, _, _ in kept}
    if written and fresh:
        rel = _uri_to_rel(spark, path)
        known = [(u, *written[rel(u)]) for u in fresh if rel(u) in written]
        kept += known
        fresh -= {u for u, _, _ in known}
    _zranges_write(
        spark, path,
        kept + (_zranges_scan(spark, path, fresh) if fresh else []),
    )


def _uri_to_rel(spark: SparkSession, path: str):
    """A function from a data-file URI as ``inputFiles`` lists it to
    its dataset-relative name."""
    from urllib.parse import unquote, urlparse

    fs, p = _hadoop_fs(spark, path)
    rootp = fs.makeQualified(p).toUri().getPath().rstrip("/")
    return lambda u: unquote(urlparse(u).path)[len(rootp) + 1:]


def _zorder_file_ranges(spark: SparkSession, path: str) -> list:
    """[(file_uri, z_lo, z_hi)] per data file — from the
    `_zorder_ranges` manifest when it exactly matches the current file
    set (O(files), no data read), else by one exact recompute scan
    that also (re)fills the manifest. The shared input of
    zorder_layout_stats (health metric) and optimize_incremental
    (victim selection). A dataset with ZERO live data files (a full
    takedown applied every row away) returns [] instead of dying on
    schema inference (review-found: it aborted the housekeeping
    pass's later steps)."""
    return _layout_snapshot(spark, path)["ranges"]


def _layout_snapshot(spark: SparkSession, path: str) -> dict:
    """`_zorder_file_ranges` as maintain_dataset's layout snapshot:
    {"ranges", "files" (the current file URIs)}."""
    from engage_spark.versioning import _live_names

    if not _live_names(spark, path):
        return {"ranges": [], "files": set()}
    current = _input_files(spark, path)
    man = _zranges_read(spark, path)
    if man is not None and {f for f, _, _ in man} == current:
        return {"ranges": man, "files": current}
    # mismatch (or no manifest): one exact scan rebuilds it. A ZERO-ROW
    # part file can never enter the manifest (input_file_name sees no
    # rows), so a dataset containing one keeps taking this scan path —
    # correct, just uncached; compaction removes such debris.
    out = _zranges_scan(spark, path)
    _zranges_write(spark, path, out)
    return {"ranges": out, "files": current}


def zorder_layout_stats(spark: SparkSession, path: str) -> dict:
    """Layout-health metric for a Z-ordered dataset — the OPTIMIZE
    trigger. Appends put new files on the same curve but their
    Z-ranges overlap existing files'; as overlap grows, footer-stats
    pruning degrades toward a full scan. This recomputes every row's
    Z-value with the FROZEN meta (one scan), reduces to one (z_lo,
    z_hi) row per file, and sweeps the bounded range list on the
    driver. Schedule ``optimize_dataset`` when ``overlap_fraction``
    crosses the caller's threshold (a freshly optimized layout is ~0:
    ``repartitionByRange`` makes per-file ranges disjoint). Returns
    {"files", "overlap_pairs", "overlap_fraction", "avg_covering"} —
    avg_covering is the mean number of files a random Z-point hits,
    i.e. the read amplification of a curve-point lookup."""
    return _layout_metrics(_zorder_file_ranges(spark, path))


def _layout_metrics(fr: list) -> dict:
    """zorder_layout_stats' sweep over per-file z-ranges."""
    import heapq

    if not fr:
        # empty dataset (no rows): nothing can overlap, nothing to
        # optimize — zeroed stats instead of max()-of-empty ValueError
        return {
            "files": 0,
            "overlap_pairs": 0,
            "overlap_fraction": 0.0,
            "avg_covering": 0.0,
        }
    # group per PARTITION DIRECTORY (r13): on a hive-partitioned
    # clustered layout, z-ranges of DIFFERENT partitions overlap
    # legitimately (each partition carries the full curve) and never
    # co-occur in a pruned scan — only same-dir overlap costs reads.
    # A flat layout is one group, preserving the original metric.
    groups: dict = {}
    for f, lo, hi in fr:
        groups.setdefault(f.rsplit("/", 1)[0], []).append((lo, hi))
    n = len(fr)
    overlap_pairs = 0
    possible_pairs = 0
    covered = 0
    total_span = 0
    for ranges in groups.values():
        ranges.sort()
        g = len(ranges)
        possible_pairs += g * (g - 1) // 2
        active: list = []  # heap of his among open ranges
        for lo, hi in ranges:
            while active and active[0] < lo:
                heapq.heappop(active)
            overlap_pairs += len(active)
            heapq.heappush(active, hi)
        total_span += (
            max(hi for _, hi in ranges) - min(lo for lo, _ in ranges) + 1
        )
        covered += sum(hi - lo + 1 for lo, hi in ranges)
    return {
        "files": n,
        "overlap_pairs": overlap_pairs,
        "overlap_fraction": (
            overlap_pairs / possible_pairs if possible_pairs else 0.0
        ),
        "avg_covering": covered / total_span,
    }


def optimize_dataset(
    spark: SparkSession,
    src: str,
    dst: str,
    cols: Sequence[str],
    target_file_bytes: int = 128 * 1024 * 1024,
    bits: int = 16,
    scale: str = "minmax",
    partition_by: Sequence[str] | None = None,
) -> int:
    """OPTIMIZE-shaped maintenance pass: right-size files AND Z-cluster
    them in one rewrite (compact_dataset's byte-based sizing +
    zorder_write's Morton layout). The periodic job a long-running
    ingest schedules: micro-batch debris becomes
    ceil(total_bytes / target) files, each covering a small rectangle
    in the clustered columns' space, so footer stats prune on every
    dimension. One shuffle total (the Z range partitioning doubles as
    the compaction re-bucketing). ``total_bytes`` is the summed on-disk
    length of the source's data files (``inputFiles()``). Returns the
    file count targeted, ``max(1, ceil(total_bytes / target_file_bytes))``;
    the files actually written may be fewer (range partitioning can
    yield fewer non-empty partitions than asked)."""
    import math

    df = spark.read.parquet(src)
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    total = 0
    for f in df.inputFiles():
        p = jvm.org.apache.hadoop.fs.Path(f)
        total += p.getFileSystem(conf).getFileStatus(p).getLen()
    n = max(1, math.ceil(total / target_file_bytes))
    zorder_write(
        spark, df, dst, cols, bits=bits, num_files=n, scale=scale,
        partition_by=partition_by,
    )
    return n


_OPT_STAGING = "_optimize_staging"
_OPT_MANIFEST = "_optimize_manifest"


def optimize_incremental(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    lease_wait_s: float = 30.0,
    occ_retries: int = 2,
    _layout: dict | None = None,
) -> dict:
    """PARTIAL OPTIMIZE in place: rewrite ONLY the files whose
    Z-ranges overlap another file's, leaving the (typically vast)
    disjoint remainder untouched — the Delta-style incremental
    compaction a 100 TB table needs when 1% of it was appended since
    the last full optimize_dataset. Victims are found from the same
    per-file (z_lo, z_hi) scan zorder_layout_stats sweeps; they are
    re-read (a file-list scan, never the whole dataset), re-scaled on
    the FROZEN curve, range-partitioned into right-sized disjoint
    files, and swapped in.

    Victim detection reads the `_zorder_ranges` MANIFEST (exact
    per-file z-intervals maintained incrementally by the writers —
    O(files), zero data scan, the 100 TB mode) and falls back to one
    exact recompute scan that also refills the manifest. Footer column
    stats cannot substitute: zorder files are CURVE SLICES whose
    column rectangles span the secondary dimensions, so
    rectangle-derived z-bounds always overlap — measured to degenerate
    into a full rewrite.

    Commit protocol (plain parquet has no transaction log, so the swap
    is staged to make every crash window recoverable):
      1. stage the rewritten files under ``path/_optimize_staging``
         (a ``_`` dir — invisible to readers);
      2. write ``path/_optimize_manifest`` listing the victim files
         (manifest presence == staging is COMPLETE);
      3. commit: move staged files into the dataset root, delete the
         victims, drop manifest + staging.
    A crash before (2) leaves the dataset untouched (stray staging is
    garbage-collected by the next run); a crash during (3) is
    completed by ``optimize_recover`` — moves and deletes are
    idempotent. Readers concurrent with (3) can transiently see
    duplicate rows, the usual non-transactional-parquet caveat; the
    single-maintenance-writer requirement is ENFORCED by the
    maintenance_lease (r12 — loud MaintenanceLockHeld on contention).
    Returns {"rewritten_files", "new_files", "kept_files"}.

    Concurrency (r14): on a VERSION-LOGGED dataset the op runs
    OPTIMISTICALLY, like the versioned MERGE — the expensive work
    (victim scan + rewrite) happens with NO lease held, and only the
    retain+rename+log commit tail takes the lease (queueing on
    ``lease_wait_s``). The conflict rule is WEAKER than the MERGE's
    version-equality pin, and deliberately so: a compaction rewrites
    EXISTING bytes without changing content, so any commit that only
    ADDS files (the staged appenders this op must never block)
    COMMUTES with it — the commit proceeds as long as every victim
    file is still live. Only a commit that REMOVED a victim (a
    takedown rewrite, a MERGE touching the victim's partition,
    another optimize) conflicts; the stale staging is dropped and the
    run re-stages against the new state, up to ``occ_retries`` times
    before raising :class:`OptimizeConflict`. At 100 TB this is the
    difference between hourly ingest flowing DURING the nightly
    OPTIMIZE and every ingester queueing behind an hours-long rewrite
    lease. The versioned commit is pinned by a replayable JSON
    ``_optimize_swap_manifest`` (retain victims → rename staged in →
    ONE exact `optimize` entry; a crash at any point converges on the
    next maintenance contact through _vlog_reconcile, and mid-commit
    readers stay consistent because log-based reads resolve retained/
    files). Unversioned datasets keep the fully-leased in-place swap
    above — with no log there is no safe unleased window — and there
    the ``lease_wait_s``/``occ_retries`` knobs do NOT apply: the
    whole-rewrite lease keeps the loud-fail default (two long
    OPTIMIZE runs must never silently queue for hours).

    ``_layout`` is maintain_dataset's layout snapshot
    (``_layout_snapshot``), measured just before: the first attempt
    takes its victims from it; a retry measures the live state again."""
    from engage_spark.versioning import (
        _live_names,
        _vlog_reconcile,
        version_log_enabled,
    )

    if not version_log_enabled(spark, path):
        with maintenance_lease(spark, path):
            return _optimize_incremental_impl(spark, path, target_file_bytes)
    mfs, mp = _hadoop_fs(spark, f"{path}/{_OPT_MANIFEST}")
    gfs, gp = _hadoop_fs(spark, f"{path}/{_OPT_STAGING}")
    for _attempt in range(occ_retries + 1):
        if (
            mfs.exists(mp)
            or _optimize_swap_manifest_exists(spark, path)
            or _applydv_swap_manifest_exists(spark, path)
            or gfs.exists(gp)
        ):
            # a predecessor crashed mid-commit (any swap protocol) —
            # or pre-commit, leaving a stray in-dataset
            # _optimize_staging with no manifest (optimize_recover GCs
            # it; review-found: the leased path used to, the
            # optimistic path must keep doing it). Heal under the
            # lease BEFORE the stage reads the target — an UNVERSIONED
            # apply_deletes holds the lease for its whole run, so its
            # in-flight staging can never be swept here.
            with maintenance_lease(spark, path, wait_s=lease_wait_s):
                optimize_recover(spark, path)
                _optimize_swap_replay_pending(spark, path)
                _applydv_replay_pending(spark, path)
        try:
            st = _optimize_stage(spark, path, target_file_bytes, _layout)
        except Exception as e:
            # the no-lease stage reads the LIVE target; a concurrent
            # file-MOVING commit mid-scan surfaces as a missing-file
            # failure — that IS a write conflict, so re-stage against
            # the new state (a partial staging dir is vacuum-swept by
            # age)
            if _attempt < occ_retries and _is_missing_file_error(e):
                _layout = None
                continue
            raise
        if st["staging"] is None:  # nothing overlaps: no commit
            return {
                "rewritten_files": 0,
                "new_files": 0,
                "kept_files": st["n_files"],
            }
        with maintenance_lease(spark, path, wait_s=lease_wait_s):
            # heal pending append/MERGE manifests + drift so the
            # liveness probe below sees exactly the committed state
            _vlog_reconcile(spark, path)
            live = set(_live_names(spark, path))
            if set(st["victim_rel"]) <= live:
                _optimize_commit_swap(spark, path, st)
                if st["man_live"]:
                    # increment-sized refresh: kept entries stay
                    # exact (live-filtered — a commuting commit may
                    # have removed one); our staged files take the
                    # ranges their write observed, and files landed by
                    # commuting appenders since the pin are re-scanned
                    _zranges_refresh(
                        spark, path, st["kept_entries"],
                        _written_zranges(st["staged"], st["zranges"]),
                    )
                return {
                    "rewritten_files": len(st["victims"]),
                    "new_files": len(st["staged"]),
                    "kept_files": st["n_files"] - len(st["victims"]),
                }
        # conflict: a commit since the pin REMOVED a victim — the
        # staged rewrite re-laid bytes that are no longer live; drop
        # it and re-stage against a fresh measurement
        _layout = None
        sfs, sp2 = _hadoop_fs(spark, st["staging"])
        if sfs.exists(sp2):
            sfs.delete(sp2, True)
    raise OptimizeConflict(
        f"optimistic OPTIMIZE of {path} lost its commit race "
        f"{occ_retries + 1} times (another writer removed a victim "
        "file between stage and commit each time); retry, or raise "
        "occ_retries for contended targets"
    )


def _optimize_incremental_impl(
    spark: SparkSession, path: str, target_file_bytes: int
) -> dict:
    import math

    # a pending manifest from a prior run that crashed mid-commit means
    # the staging dir holds the ONLY copy of rows whose victims were
    # already deleted — recompute-and-overwrite would destroy them.
    # Replay that commit first (idempotent), unconditionally.
    mfs, mp = _hadoop_fs(spark, f"{path}/{_OPT_MANIFEST}")
    if mfs.exists(mp):
        optimize_recover(spark, path)
    from engage_spark.versioning import (
        _vlog_append_entry,
        _vlog_reconcile,
        version_log_enabled,
    )

    vlog = version_log_enabled(spark, path)
    if vlog:
        # heal any log-vs-live drift (out-of-band writer, or a crash
        # between a prior staged commit and its entry) so this run's
        # entry records exactly its own add/remove
        _vlog_reconcile(spark, path)
    # victim detection: the live manifest is the O(files) path; with
    # no (or a stale) manifest, ONE exact scan computes the ranges —
    # but the manifest is NOT filled here (r12): a dataset whose
    # writers don't maintain it would pay the post-commit refresh
    # (an extra scan of every rewritten byte) only to have the next
    # unmaintained write invalidate it again. Liveness is preserved
    # for datasets that had it; zorder_layout_stats remains the
    # fill-on-read entry point for opting a dataset in.
    man = _zranges_read(spark, path)
    current = _input_files(spark, path)
    man_live = man is not None and {f for f, _, _ in man} == current
    fr = man if man_live else _zranges_scan(spark, path)
    victims = _optimize_victims(fr)
    if len(victims) < 2:
        _optimize_gc_staging(spark, path)
        return {"rewritten_files": 0, "new_files": 0, "kept_files": len(fr)}

    m = zorder_meta(spark, path)
    part_cols = m.get("part_cols") or []
    total = _victim_bytes(spark, path, victims)
    n_new = max(1, math.ceil(total / target_file_bytes))
    staging = f"{path}/{_OPT_STAGING}"
    from engage_spark.versioning import _logged_reader

    victim_src = _logged_reader(
        spark, path, base_path=path, merge=True
    ).parquet(*sorted(victims))
    out = _zorder_scale_frozen(spark, victim_src, path, m)
    _write_z_layout(out, n_new, part_cols, "overwrite", staging)
    # manifest AFTER staging completes: its presence is the commit point
    from engage_spark.session import local_frame

    staged_names = _staged_rel_files(spark, staging)
    from engage_spark.versioning import _pa_overwrite_small

    # driver-side pyarrow manifest write (r15 optimization round;
    # Spark write job stays the fallback) — content and commit-point
    # semantics identical, _SUCCESS written last either way
    if not _pa_overwrite_small(
        spark,
        f"{path}/{_OPT_MANIFEST}",
        [{"victim": f} for f in sorted(victims)],
        "victim string",
    ):
        local_frame(
            spark, [(f,) for f in sorted(victims)], "victim string"
        ).coalesce(1).write.mode("overwrite").parquet(f"{path}/{_OPT_MANIFEST}")
    new_files = _optimize_commit(spark, path, victims=sorted(victims))
    if man_live:
        # refresh the z-range manifest with an increment-sized scan of
        # the NEW files; kept files' entries are still exact
        _zranges_refresh(spark, path, [e for e in fr if e[0] not in victims])
    if vlog:
        from engage_spark.versioning import _relativize

        # entry LAST: a crash in this window is healed by the next
        # op's reconcile (victims already sit in retained/)
        _vlog_append_entry(
            spark, path, "optimize",
            added=staged_names,
            removed=_relativize(spark, path, sorted(victims)),
        )
    return {
        "rewritten_files": len(victims),
        "new_files": new_files,
        "kept_files": len(fr) - len(victims),
    }


class OptimizeConflict(RuntimeError):
    """An optimistic incremental OPTIMIZE lost its commit race
    repeatedly (every retry, another writer removed a victim file
    between stage and commit)."""


_OPT_SWAP_MANIFEST = "_optimize_swap_manifest"
_OPTIMIZE_STAGING_INFIX = "__optimize_staging_"


def _optimize_swap_manifest_exists(spark: SparkSession, path: str) -> bool:
    mfs, mp = _hadoop_fs(spark, f"{path}/{_OPT_SWAP_MANIFEST}")
    return mfs.exists(mp)


def _optimize_victims(fr: list) -> set:
    """Overlap participants of a per-file z-range listing, swept PER
    PARTITION DIRECTORY (r13): within each dir, sort by lo; a file
    overlaps its predecessor group when its lo <= the running max hi.
    Cross-partition overlap is legitimate (each partition carries the
    whole curve) and never read together, so it must not nominate
    victims. A flat layout is one group — identical to the original
    sweep. Shared by the leased and optimistic optimize paths."""
    by_dir: dict = {}
    for f, lo, hi in fr:
        by_dir.setdefault(f.rsplit("/", 1)[0], []).append((f, lo, hi))
    victims: set = set()
    for entries in by_dir.values():
        entries.sort(key=lambda t: (t[1], t[2]))
        run_max_hi = None
        run_max_file = None
        for f, lo, hi in entries:
            if run_max_hi is not None and lo <= run_max_hi:
                victims.add(f)
                victims.add(run_max_file)
            if run_max_hi is None or hi > run_max_hi:
                run_max_hi, run_max_file = hi, f
    return victims


def _optimize_stage(
    spark: SparkSession,
    path: str,
    target_file_bytes: int,
    layout: dict | None = None,
) -> dict:
    """UNLEASED stage of the optimistic incremental OPTIMIZE: detect
    victims (`layout` — a snapshot just measured — else the z-range
    manifest, else one exact scan), re-lay them on the FROZEN curve
    into a unique staging SIBLING (outside the dataset — readers never
    see it; a crashed stager's orphan is vacuum-swept by age like the
    append/MERGE staging dirs). Returns everything the commit tail
    needs; ``staging`` is None when fewer than two files overlap
    (nothing to do)."""
    import math
    import uuid as _uuid

    if layout is not None:
        fr, man_live = layout["ranges"], True
    else:
        man = _zranges_read(spark, path)
        current = _input_files(spark, path)
        man_live = man is not None and {f for f, _, _ in man} == current
        fr = man if man_live else _zranges_scan(spark, path)
    victims = _optimize_victims(fr)
    if len(victims) < 2:
        return {"staging": None, "n_files": len(fr), "man_live": man_live}
    m = zorder_meta(spark, path)
    part_cols = m.get("part_cols") or []
    total = _victim_bytes(spark, path, victims)
    n_new = max(1, math.ceil(total / target_file_bytes))
    staging = (
        f"{path.rstrip('/')}{_OPTIMIZE_STAGING_INFIX}{_uuid.uuid4().hex[:12]}"
    )
    from engage_spark.versioning import _logged_reader

    victim_src = _logged_reader(
        spark, path, base_path=path, merge=True
    ).parquet(*sorted(victims))
    zranges = _write_z_layout(
        _zorder_scale_frozen(spark, victim_src, path, m),
        n_new, part_cols, "overwrite", staging, ranges=man_live,
    )
    from engage_spark.versioning import _relativize

    return {
        "staging": staging,
        "staged": _staged_rel_files(spark, staging),
        "victims": sorted(victims),
        "victim_rel": _relativize(spark, path, sorted(victims)),
        "kept_entries": [e for e in fr if e[0] not in victims],
        "man_live": man_live,
        "n_files": len(fr),
        "zranges": zranges,
    }


def _optimize_commit_swap(spark: SparkSession, path: str, st: dict) -> None:
    """COMMIT tail of the optimistic OPTIMIZE: pin the swap in the
    JSON ``_optimize_swap_manifest``, then run the replay itself —
    retain victims, rename staged files in, ONE exact `optimize`
    entry, clean up (idempotent at every step; a crash at any point
    converges on the next maintenance contact). Caller holds the
    maintenance lease and has verified every victim is still live."""
    import json as _json

    st["staged"] = _uniquify_staged_collisions(
        spark, path, st["staging"], st["staged"]
    )
    mfs, mp = _hadoop_fs(spark, f"{path}/{_OPT_SWAP_MANIFEST}")
    out = mfs.create(mp, True)
    out.write(
        _json.dumps(
            {
                "staging": st["staging"],
                "adds": sorted(st["staged"]),
                "removes": sorted(st["victim_rel"]),
            }
        ).encode()
    )
    out.close()
    _optimize_swap_replay_pending(spark, path)


def _optimize_swap_replay_pending(spark: SparkSession, path: str) -> bool:
    """Finish an optimistic OPTIMIZE that crashed after its swap
    manifest write: retain any victims still live, rename staged
    files not yet in the dataset, log the ``optimize`` entry unless
    the log's last non-bookkeeping entry is already this commit, drop
    the stale z-range manifest, staging and swap manifest. Every step
    skips already-done work. Mid-window readers stay CONSISTENT
    (not merely convergent): retains precede renames and log-based
    reads resolve retained/ files, so the logged latest version is
    readable at every crash point. Caller must hold the maintenance
    lease. Returns True if a manifest was found."""
    from engage_spark.versioning import _retain_file, _vlog_append_entry

    doc = _read_swap_manifest(spark, f"{path}/{_OPT_SWAP_MANIFEST}")
    if doc is None:
        return False
    adds, removes, staging = doc["adds"], doc["removes"], doc["staging"]
    for rel in removes:
        _retain_file(spark, path, rel)  # idempotent: skips absent
    _move_staged_in(spark, path, staging, adds, "optimize")
    if not _entry_already_logged(spark, path, "optimize", adds, removes):
        _vlog_append_entry(
            spark, path, "optimize", added=adds, removed=removes
        )
    # the commit changed the file set; the inline path refreshes the
    # z-range manifest right after (increment-sized) — a bare crash
    # replay leaves it dropped and the next read refills it
    _zranges_drop(spark, path)
    _drop_staging_and_manifest(
        spark, staging, f"{path}/{_OPT_SWAP_MANIFEST}"
    )
    return True


def _staged_rel_files(spark: SparkSession, staging: str) -> list:
    """Staging-relative paths of the staged data files — nested for a
    hive-partitioned rewrite (`lang=en/part-0001.parquet`), flat
    otherwise. Skips `_`/`.`-prefixed names at every level (markers,
    checksums)."""
    sfs, sp = _hadoop_fs(spark, staging)
    if not sfs.exists(sp):
        return []
    root = sfs.makeQualified(sp).toUri().getPath().rstrip("/")
    out = []

    def _walk(dirp):
        for s in sfs.listStatus(dirp):
            name = s.getPath().getName()
            if name.startswith("_") or name.startswith("."):
                continue
            if s.isDirectory():
                _walk(s.getPath())
            else:
                out.append(
                    s.getPath().toUri().getPath()[len(root) + 1:]
                )

    _walk(sp)
    return sorted(out)


_SWAP_MARKER_SUFFIX = "__swap_marker"


def _swap_dirs(spark: SparkSession, staging: str, target: str) -> None:
    """Commit a staged FULL rewrite: drop the target dir and rename the
    staging dir into its place — the staged bytes move once instead of
    being read back through Spark and rewritten (r15 optimization
    round, guide §1.2). Callers must have stashed the target's sidecar
    dirs first and are responsible for preserving the staging copy on
    failure (it is the only full copy during the swap).

    r16 (ADVICE r15): the destructive window — target deleted, staging
    not yet renamed in — is pinned by a sibling marker file naming the
    staging copy, written BEFORE the delete and removed after the swap
    lands, so a hard process kill leaves a breadcrumb `_swap_recover`
    rolls forward instead of a bare missing target. The replace itself
    goes through the CommitStore seam (VERDICT r15 #3): Hadoop
    delete+rename by default, substitutable on backends where rename
    is a full copy."""
    import json as _json

    from engage_spark.commitstore import get_commit_store

    store = get_commit_store()
    marker = f"{target}{_SWAP_MARKER_SUFFIX}"
    # a leftover marker here can only be stale (the upsert entry path
    # heals pending swaps before staging a new one) — replace it
    store.delete(spark, marker)
    if not store.put_if_absent(
        spark, marker, _json.dumps({"staging": staging}).encode()
    ):
        raise RuntimeError(
            f"could not pin the swap of {target} (marker {marker} "
            "refused); staging copy left untouched"
        )
    store.replace_dir(spark, staging, target)
    store.delete(spark, marker)


def _swap_recover(spark: SparkSession, target: str) -> bool:
    """Roll a crashed `_swap_dirs` forward: if the swap marker exists,
    the staged merged copy (if still present) replaces the target and
    the marker clears; then any sidecar dirs `_stash_sidecars` moved
    out beside the target move back in (`_unstash_sidecars`), so a
    crash between the swap and `_restore_sidecars` cannot leave
    `_versions`, `_deletes` and `_zorder_meta` outside the dataset —
    de-versioning it and bringing deleted rows back. A marker whose
    payload cannot be parsed is logged and renamed aside (kept for
    inspection), never silently deleted. Idempotent in every
    crash window — marker written / target deleted / staging renamed /
    marker removed / sidecars partly restored. Returns True iff a
    pending swap or a stashed sidecar was found. Called by the upsert
    entry before reading or bootstrapping the target (a torn swap
    leaves the target missing, which would otherwise silently
    re-bootstrap from one batch)."""
    import json as _json

    from engage_spark.commitstore import get_commit_store

    store = get_commit_store()
    marker = f"{target}{_SWAP_MARKER_SUFFIX}"
    raw = store.read(spark, marker)
    if raw is not None:
        try:
            staging = _json.loads(raw.decode())["staging"]
            if not isinstance(staging, str) or not staging:
                raise ValueError(f"no staging path in {raw[:200]!r}")
        except Exception as e:  # noqa: BLE001 — any unparseable payload
            import time as _time

            aside = f"{marker}.malformed-{int(_time.time() * 1000)}"
            _log.warning(
                "swap marker %s is malformed (%s); renamed aside to %s "
                "without replacing %s", marker, e, aside, target,
            )
            if store.put_if_absent(spark, aside, raw):
                store.delete(spark, marker)
        else:
            sfs, sp = _hadoop_fs(spark, staging)
            if sfs.exists(sp):
                store.replace_dir(spark, staging, target)
            store.delete(spark, marker)
    return _unstash_sidecars(spark, target) or raw is not None


def _optimize_commit(
    spark: SparkSession, path: str, victims: list | None = None
) -> int:
    """Complete a staged incremental optimize: move staged part files
    into the dataset root — PRESERVING their staging-relative subpath,
    so a hive-partitioned rewrite's files land back inside their
    `col=val/` dirs — delete the manifest's victims, drop the
    sidecars. Idempotent — every step skips already-done work — so
    optimize_recover can replay it after a crash. In-line callers pass
    the `victims` they just wrote to the manifest (saves a read-back
    job); the recovery replay omits it and reads the manifest — the
    durable copy is still what crash recovery trusts."""
    from engage_spark.commitstore import get_commit_store

    store = get_commit_store()
    fs, root = _hadoop_fs(spark, path)
    sfs, sp = _hadoop_fs(spark, f"{path}/{_OPT_STAGING}")
    moved = 0
    for rel in _staged_rel_files(spark, f"{path}/{_OPT_STAGING}"):
        _, dst = _hadoop_fs(spark, f"{path}/{rel}")
        if not fs.exists(dst):
            store.move(spark, f"{path}/{_OPT_STAGING}/{rel}", f"{path}/{rel}")
        moved += 1
    if victims is None:
        victims = [
            r.victim
            for r in spark.read.parquet(f"{path}/{_OPT_MANIFEST}").collect()
        ]
    from engage_spark.versioning import _retain_file, version_log_enabled

    vlog = version_log_enabled(spark, path)
    for f in victims:
        if vlog:
            # versioned dataset: the victim is still needed by older
            # versions — an O(1) rename into _versions/retained, not a
            # delete (idempotent for the recovery replay)
            _retain_file(spark, path, f)
        else:
            vfs, vp = _hadoop_fs(spark, f)
            if vfs.exists(vp):
                vfs.delete(vp, False)
    mfs, mp = _hadoop_fs(spark, f"{path}/{_OPT_MANIFEST}")
    mfs.delete(mp, True)
    if sfs.exists(sp):
        sfs.delete(sp, True)
    # the commit changed the file set; the z-range manifest is stale.
    # optimize_incremental rebuilds it right after (increment-sized);
    # a bare recovery replay leaves it dropped and the next stats /
    # victim read refills it with one scan
    _zranges_drop(spark, path)
    return moved


def _victim_bytes(spark: SparkSession, path: str, victims) -> int:
    """Total byte size of the victim files via one shallow root
    listing plus one recursive stream per DATA subdirectory (partition
    dirs) — `_`-prefixed sidecars are never descended into, so a
    long-lived versioned dataset's `_versions/retained` history (often
    many times the live file count) costs nothing here. Keyed by full
    path portion so same-named part files in different partition dirs
    cannot collide."""
    jvm = spark._jvm
    fs, p = _hadoop_fs(spark, path)
    sizes = {}
    for s in fs.listStatus(p):
        name = s.getPath().getName()
        if name.startswith("_") or name.startswith("."):
            continue
        if s.isDirectory():
            it = fs.listFiles(s.getPath(), True)
            while it.hasNext():
                f = it.next()
                sizes[f.getPath().toUri().getPath()] = f.getLen()
        else:
            sizes[s.getPath().toUri().getPath()] = s.getLen()
    return sum(
        sizes.get(
            jvm.org.apache.hadoop.fs.Path(f).toUri().getPath(), 0
        )
        for f in victims
    )


def _optimize_gc_staging(spark: SparkSession, path: str) -> None:
    """Drop a stray staging dir left by a crash BEFORE the manifest
    write (the dataset is untouched in that window)."""
    sfs, sp = _hadoop_fs(spark, f"{path}/{_OPT_STAGING}")
    if sfs.exists(sp):
        sfs.delete(sp, True)


def optimize_recover(spark: SparkSession, path: str) -> dict:
    """Recover an interrupted optimize_incremental: a manifest present
    means staging completed — replay the commit; no manifest means any
    staging dir is pre-commit garbage — drop it. Safe to call
    unconditionally at maintenance startup."""
    mfs, mp = _hadoop_fs(spark, f"{path}/{_OPT_MANIFEST}")
    if mfs.exists(mp):
        return {"recovered": True, "new_files": _optimize_commit(spark, path)}
    _optimize_gc_staging(spark, path)
    return {"recovered": False, "new_files": 0}


def _hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path) for any Hadoop-FS URI — the same API the
    compaction passes use, so every maintenance op works on object
    stores, not just local paths.

    The FileSystem handle is cached per (session, scheme://authority):
    Hadoop's FileSystem.get already returns one shared instance per
    (scheme, authority, conf), so the cache changes nothing about
    which object is used — it only skips the two py4j round trips
    (hadoopConfiguration + getFileSystem) that a maintenance op
    otherwise pays 60-130 times per lifecycle (r15 profile: ~0.3-0.5 s
    of pure driver py4j per versioned bench query)."""
    # cache lives ON the session object so it dies with the session
    # (a module-level dict keyed by id(spark) could hand a stale JVM
    # handle to a new session reusing the same address)
    cache = spark.__dict__.setdefault("_engage_fs_cache", {})
    # the Path CLASS too: jvm.org.apache.hadoop.fs.Path is 5 py4j
    # attribute round trips per call, and maintenance ops construct
    # 60-130 Paths per lifecycle (r15 profile: ~5 ms each, ~0.4 s per
    # versioned bench query of pure attribute traversal)
    path_cls = cache.get("__path_cls")
    if path_cls is None:
        path_cls = spark._jvm.org.apache.hadoop.fs.Path
        cache["__path_cls"] = path_cls
    p = path_cls(path)
    if "://" in path:
        scheme, _, rest = path.partition("://")
        key = scheme + "://" + rest.split("/", 1)[0]
    else:
        key = ""
    fs = cache.get(key)
    if fs is None:
        fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
        cache[key] = fs
    return fs, p


# ---------------------------------------------------------------------------
# Maintenance-writer lease (round 12). Every in-place maintenance op
# here (upsert staging-swap, incremental optimize, delete vacuum, index
# tombstone revive/vacuum) documents a single-maintenance-writer
# requirement; the lease ENFORCES it with a loud failure instead of
# silent corruption (two concurrent optimizes can double-commit staged
# files; a vacuum racing a revive can resurrect taken-down rows). The
# lock is a `_maintenance_lock` sidecar created atomically:
# O_CREAT|O_EXCL for file:// paths (Hadoop's RawLocalFileSystem
# create(overwrite=false) is exists-then-create — NOT atomic, and two
# pollers waking on a release can both "win" it), the namenode-atomic
# FileSystem.create(overwrite=False) elsewhere (on S3 without a
# consistency layer it is best-effort, the standard caveat for
# file-based locks; use a real lock service there). Threads of ONE
# process additionally serialize on an in-process mutex per path, so
# sibling threads never race the filesystem primitive at all.
# A TTL bounds crashed-writer lockout: an expired lease is broken and
# re-acquired. Re-entrant within a thread (a maintenance loop calling
# optimize inside its own leased section does not self-deadlock); two
# THREADS of one process contend like two processes would (r14 — this
# is what lets concurrent staged-commit appenders queue for the
# bounded commit window, `wait_s` below, instead of one failing
# outright).

_MAINT_LOCK = "_maintenance_lock"
_LEASE_DEPTH: dict = {}  # (thread_id, path) -> re-entrancy depth
_PROC_LOCKS: dict = {}  # path -> threading.Lock (sibling-thread mutex)


def _proc_lock_for(path: str):
    import threading as _threading

    with _PROC_LOCKS_GUARD:
        if path not in _PROC_LOCKS:
            _PROC_LOCKS[path] = _threading.Lock()
        return _PROC_LOCKS[path]


def _make_guard():
    import threading as _threading

    return _threading.Lock()


_PROC_LOCKS_GUARD = _make_guard()


class MaintenanceLockHeld(RuntimeError):
    """Another maintenance writer holds the dataset's lease."""


def _lease_writer_id() -> str:
    import os as _os
    import socket
    import threading as _threading

    return f"{socket.gethostname()}:{_os.getpid()}:{_threading.get_ident()}"


class maintenance_lease:
    """Context manager guarding a dataset/index dir's maintenance
    window: acquire the `_maintenance_lock` sidecar (atomic
    create-if-absent), run, release. Contention with a LIVE lease
    raises MaintenanceLockHeld naming the holder — unless `wait_s` > 0,
    in which case acquisition polls (0.1 s cadence) until the holder
    releases or the budget runs out. Waiting is ONLY appropriate for
    short commit windows (the staged-append rename+log tail, r14);
    long maintenance ops keep the loud-fail default so two OPTIMIZE
    runs never silently queue for hours. A lease past its TTL (default
    1 h — crashed writer) is broken and taken over; release checks the
    lock payload still matches this holder (a broken-and-retaken lease
    is never deleted out from under the new holder). The in-place ops
    acquire this themselves; nesting within one THREAD re-enters the
    held lease (path-normalized). Since r14 the re-entrancy key is
    (thread, path) and the writer id carries the thread ident, so
    sibling threads contend through the lock file exactly like sibling
    processes — one writer at a time remains the invariant; what
    changed is who counts as "one"."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        ttl_s: int = 3600,
        wait_s: float = 0.0,
    ):
        # normalize the re-entrancy key: trailing-slash variants of the
        # same dataset must re-enter the held lease, not self-deadlock
        self.spark, self.path, self.ttl_s = spark, path.rstrip("/"), ttl_s
        self.wait_s = wait_s
        self._payload: dict | None = None
        self._key: tuple | None = None
        self._plock = None

    def __enter__(self):
        import json
        import os as _os
        import threading as _threading
        import time

        self._key = (_threading.get_ident(), self.path)
        if _LEASE_DEPTH.get(self._key, 0) > 0:
            _LEASE_DEPTH[self._key] += 1
            return self
        deadline = time.monotonic() + self.wait_s
        # layer 1: sibling THREADS serialize in-process — they must
        # never race the filesystem create (local fs lacks an atomic
        # create-if-absent through Hadoop's RawLocalFileSystem)
        plock = _proc_lock_for(self.path)
        got = (
            plock.acquire(timeout=max(0.001, deadline - time.monotonic()))
            if self.wait_s > 0
            else plock.acquire(blocking=False)
        )
        from engage_spark.commitstore import get_commit_store

        store = get_commit_store()
        lock_uri = f"{self.path}/{_MAINT_LOCK}"
        if not got:
            holder = self._read_holder(store, lock_uri)
            raise MaintenanceLockHeld(
                f"maintenance lease on {self.path} is held by "
                f"{(holder or {}).get('writer', '<a sibling thread>')}; "
                "one maintenance writer at a time — wait, or break "
                f"the lease by deleting {self.path}/{_MAINT_LOCK} "
                "if the holder is known dead"
            )
        try:
            # layer 2: the COMMIT STORE arbitrates across processes —
            # put_if_absent is the one primitive the lease's mutual
            # exclusion rests on (r15 seam: commitstore.py states the
            # per-backend guarantees; the default HadoopCommitStore is
            # the previous O_EXCL / create(overwrite=false) behavior)
            self._payload = {
                "writer": _lease_writer_id(),
                "acquired_unix": int(time.time()),
                "ttl_s": self.ttl_s,
            }
            payload = json.dumps(self._payload).encode()
            vanished_retries = 0
            while True:
                if store.put_if_absent(self.spark, lock_uri, payload):
                    _LEASE_DEPTH[self._key] = 1
                    self._plock = plock
                    return self
                holder = self._read_holder(store, lock_uri)
                if holder == {}:
                    # present but unreadable: either a transient read
                    # glitch or a racing creator inside the backend's
                    # create-visible-before-payload window — without a
                    # grace re-read, {} parses as acquired_unix=0 and
                    # a HEALTHY fresh lock gets instantly TTL-broken
                    # (review-found r15). One short re-read; only a
                    # lock that STAYS unreadable (genuinely torn
                    # crash debris) falls through to the break path.
                    time.sleep(0.2)
                    holder = self._read_holder(store, lock_uri)
                if holder is not None:
                    age = time.time() - holder.get("acquired_unix", 0)
                    if age > holder.get("ttl_s", self.ttl_s):
                        # break by ATOMIC CLAIM, not delete: two
                        # contenders can both read the expired
                        # payload, and an unconditional delete from
                        # the loser would remove the winner's
                        # FRESHLY-created lock (two live holders).
                        # Only one contender's claim succeeds; the
                        # loser loops and sees the new holder.
                        import uuid as _uuid

                        store.claim(
                            self.spark, lock_uri,
                            f"{self.path}/{_MAINT_LOCK}.expired."
                            f"{_uuid.uuid4().hex[:8]}",
                        )
                        continue
                elif vanished_retries < 3:
                    # lock gone between failed create and the read —
                    # the holder released; retry the create at once
                    # (bounded: a create failing for a NON-contention
                    # reason, e.g. permissions, must not spin here)
                    vanished_retries += 1
                    continue
                if time.monotonic() < deadline:
                    time.sleep(0.1)
                    # refresh acquired_unix so a long wait is not
                    # mistaken for lease age by a later TTL check
                    self._payload["acquired_unix"] = int(time.time())
                    payload = json.dumps(self._payload).encode()
                    continue
                raise MaintenanceLockHeld(
                    f"maintenance lease on {self.path} is held by "
                    f"{(holder or {}).get('writer', '<unreadable>')} "
                    f"(age {int(time.time() - (holder or {}).get('acquired_unix', time.time()))}s); "
                    "one maintenance writer at a time — wait, or "
                    "break the lease by deleting "
                    f"{self.path}/{_MAINT_LOCK} if the holder is "
                    "known dead"
                ) from None
        except BaseException:
            plock.release()
            raise

    def _read_holder(self, store, lock_uri):
        import json

        raw = store.read(self.spark, lock_uri)
        if raw is None:
            return None
        try:
            return json.loads(raw.decode() or "{}")
        except Exception:
            return {}

    def __exit__(self, exc_type, exc, tb):
        _LEASE_DEPTH[self._key] -= 1
        if _LEASE_DEPTH[self._key] <= 0:
            _LEASE_DEPTH.pop(self._key, None)
            try:
                from engage_spark.commitstore import get_commit_store

                store = get_commit_store()
                lock_uri = f"{self.path}/{_MAINT_LOCK}"
                # only release a lock WE still hold: if this lease
                # expired and another writer broke it and acquired its
                # own, deleting unconditionally would unlock the NEW
                # holder and let a third writer in (ADVICE r12)
                holder = self._read_holder(store, lock_uri)
                if holder is not None and holder == self._payload:
                    store.delete(self.spark, lock_uri)
            finally:
                self._plock.release()
        return False


def _hive_part_dir(col: str, val) -> str:
    """Hive partition directory name for one (column, value) pair:
    NULL and the empty string map to __HIVE_DEFAULT_PARTITION__
    (ExternalCatalogUtils.getPartitionValueString), and the characters
    Hive escapes in partition values are %-encoded the same way Spark's
    writer does (escapePathName semantics).

    `val` must already be the SPARK string form of the value — the
    writer derives directory names from Cast(col, StringType) in the
    session timezone, which diverges from Python str() for booleans
    (true vs True), floats (1.0E-7 vs 1e-07) and timestamps. Callers
    collect the cast alongside the typed value (`_collect_touched`);
    passing a non-string here risks deleting the wrong old dir
    (ADVICE r15)."""
    if val is None or val == "":
        return f"{col}=__HIVE_DEFAULT_PARTITION__"
    s = str(val)
    out = []
    for ch in s:
        if ch in '"#%\'*/:=?\\\x7f{[]^' or ord(ch) < 32:
            out.append("%{:02X}".format(ord(ch)))
        else:
            out.append(ch)
    return f"{col}={''.join(out)}"


_HIVE_STR_PREFIX = "__hive_str__"


def _collect_touched(touched_df, partition_by, limit: int):
    """Collect the touched-partition rows with Spark's own
    Cast-to-string of each partition value riding along (aliased
    __hive_str__<col>). The typed columns keep feeding the pruning
    filter's eqNullSafe literals; the cast columns feed
    `_hive_part_dir`, because the dynamic-partition writer names
    directories from exactly this cast (session timezone) and Python
    str() diverges for bool/float/timestamp values (ADVICE r15)."""
    sel = list(partition_by) + [
        F.col(c).cast("string").alias(_HIVE_STR_PREFIX + c)
        for c in partition_by
    ]
    return touched_df.select(*sel).limit(limit).collect()


def _touched_dir(row, partition_by) -> str:
    """Relative hive dir for one collected touched row (see
    `_collect_touched` for why the cast twin, not the typed value)."""
    return "/".join(
        _hive_part_dir(c, row[_HIVE_STR_PREFIX + c]) for c in partition_by
    )


# ---------------------------------------------------------------------------
# Deletion vectors for plain-parquet datasets (round 11) — the DATA
# sibling of the index tombstones: takedowns on a large UNPARTITIONED
# dataset (e.g. a Z-ordered publish) previously needed upsert_dataset's
# full staging rewrite; a `_deletes` sidecar makes the takedown
# O(batch), the read path a broadcast anti-join, and the physical
# rewrite a scheduled vacuum — the Delta deletion-vector pattern on
# plain files. The sidecar is `_`-prefixed, so raw parquet readers are
# unaffected (they see the pre-delete rows; use read_with_deletes).

_DELETES = "_deletes"


def _deletes_has_parts(spark: SparkSession, path: str) -> bool:
    """True iff the deletion sidecar holds at least one DATA part — a
    dir containing only markers (the optimistic apply's crash window
    between its last pinned-part delete and the dir delete) counts as
    ABSENT, or every later read/apply would die on schema inference
    from a parquet-less directory (review-found)."""
    fs, p = _hadoop_fs(spark, f"{path}/{_DELETES}")
    if not fs.exists(p):
        return False
    try:
        return any(
            not st.getPath().getName().startswith(("_", "."))
            for st in fs.listStatus(p)
        )
    except Exception as e:
        # the dir can vanish between exists and listStatus (a racing
        # apply's commit cleared it): absent either way
        if _is_missing_file_error(e):
            return False
        raise


def delete_rows(
    spark: SparkSession,
    path: str,
    ids,
    key_col: str,
    lease_wait_s: float = 30.0,
) -> int:
    """Logically delete rows by key: append the keys to
    ``path/_deletes`` — O(batch) regardless of dataset size, no data
    file is touched (a Z-ordered layout keeps its curve and stats).
    ``ids`` is an iterable of INTEGER key values or a 1-column
    DataFrame (use the DataFrame form for non-integer key types).
    Readers must go through read_with_deletes; apply_deletes performs
    the physical rewrite and clears the sidecar. Keys are assumed
    unique per row (the upsert key contract); a later re-append of a
    deleted key WITHOUT a prior apply_deletes would be masked — vacuum
    first, exactly like the index tombstone flow. On a version-logged
    target, sidecar AND log commit inside one leased window (queued on
    `lease_wait_s` — a takedown-sized tail), so a lease timeout can no
    longer leave the live read hiding rows the log never recorded.
    Cost: a list of ids is deduped on the driver and written with
    pyarrow (the retained batch and the sidecar part) — no Spark job;
    the measured Spark write of a 50-key batch took ~0.3 s, and stays
    the fallback. A DataFrame batch is evaluated once by a Spark
    write. Returns the number of keys appended."""
    from pyspark.sql import Observation

    from engage_spark.session import local_frame
    from engage_spark.versioning import (
        _pa_append_small,
        record_logical_delete,
        version_log_enabled,
    )

    if isinstance(ids, DataFrame):
        kdf = ids.select(F.col(ids.columns[0]).alias(key_col)).dropDuplicates()
    else:
        # a list batch stays on the driver: deduped here and written
        # with pyarrow (no Spark job; the Spark write is the fallback)
        kdf = list(dict.fromkeys(ids))
    if version_log_enabled(spark, path):
        # the count rides the retained-batch write inside
        # record_logical_delete via an Observation, and the sidecar
        # append is a file copy of that batch — ONE evaluation of the
        # key plan total, where this path ran it three times (count +
        # sidecar write + retained write; r15 optimization round)
        _, n = record_logical_delete(
            spark, path, kdf, key_col, n_keys=None,
            lease_wait_s=lease_wait_s, write_sidecar=True,
        )
        return n
    if not isinstance(kdf, DataFrame):
        ddl = f"{key_col} long"
        if _pa_append_small(
            spark, f"{path}/{_DELETES}", [{key_col: k} for k in kdf], ddl
        ):
            return len(kdf)
        kdf = local_frame(spark, [(k,) for k in kdf], ddl)
    # count rides the write via an Observation — one evaluation of the
    # batch, not a write plus a second count() run of the same plan
    obs = Observation()
    kdf.observe(obs, F.count(F.lit(1)).alias("n")).write.mode(
        "append"
    ).parquet(f"{path}/{_DELETES}")
    return int(obs.get["n"])


def read_with_deletes(spark: SparkSession, path: str) -> DataFrame:
    """Scan a dataset honoring its deletion sidecar — the zero-rewrite
    read path. Without a sidecar this is a plain scan with no plan
    change. The sidecar may hold batches on SEVERAL key columns (a
    corpus taking down by both doc_id and user_id, or a multi-key
    restore_version re-record): each batch part is a single-column
    file, and every key column's batch applies. A version-logged
    dataset is scanned with the log's schema, and a sidecar of at
    most ``_DELETES_LITERAL_MAX`` rows (the common takedown shape) is
    read driver-side and applied as a literal NOT IN filter, so the
    read plans with no Spark job;
    otherwise the keys broadcast-anti-join the scan
    (``_drop_deleted_keys``). Rows whose key is NULL stay either way,
    and NULL keys in a batch are no-ops (an anti-join never matches
    NULL)."""
    from engage_spark.versioning import _logged_reader

    df = _logged_reader(spark, path).parquet(path)
    if not _deletes_has_parts(spark, path):
        return df
    return _drop_deleted_keys(spark, df, [f"{path}/{_DELETES}"])


# apply_deletes collects delete-key batches up to this many distinct
# keys per column and finds victims with an In-literal predicate
# (parquet footer pruning skips clean files without reading them);
# larger batches broadcast-semi-join a column-pruned scan.
_DELETES_ISIN_MAX = 100_000

# Reads (read_with_deletes, and read_version, read_keys and
# read_where through _apply_pending_dvs) apply delete-key batches of
# up to this many rows as a literal NOT IN filter; larger batches
# broadcast-anti-join. Each read parses the literal list again, so
# the bound is the measured crossover
# (scripts/measure_delete_filter_crossover.py: read_with_deletes plus
# a full aggregate on local[4], 4 cores, literal against broadcast,
# median of 5) — 200k rows: 1k keys 0.35 s vs 0.56 s, 3k 0.33 vs
# 0.41, 5k 0.38 vs 0.31, 10k 0.56 vs 0.30, 100k 6.25 vs 0.39; 20k
# rows: 1k 0.37 vs 0.47, 3k 0.37 vs 0.37, 5k 0.33 vs 0.34, 7k 0.44
# vs 0.29, 10k 0.53 vs 0.28.
_DELETES_LITERAL_MAX = 3_000


def _keys_in(col: str, keys, negate: bool = False):
    """``col IN (k1, ...)`` — or, with `negate`, ``col IS NULL OR col
    NOT IN (...)``, which keeps NULL keys as a left-anti join does —
    for integer or string keys, built as ONE parsed SQL expression
    (Column.isin costs two py4j calls per key). Strings are written as
    UTF-8 hex binary literals cast back to string, so no value can
    break the quoting; the optimizer folds them into plain literals,
    which push into the parquet scan. An empty `keys` lists nothing:
    every row is out of it (SQL has no empty IN list)."""
    if not keys:
        return F.lit(negate)

    def lit(k) -> str:
        if isinstance(k, str):
            return f"CAST(X'{k.encode('utf-8').hex()}' AS STRING)"
        return str(k)

    q = "`" + col.replace("`", "``") + "`"
    sql = f"{q} IN ({', '.join(lit(k) for k in sorted(keys))})"
    return F.expr(f"{q} IS NULL OR NOT ({sql})" if negate else sql)


def _delete_keys_pa(
    spark: SparkSession, dirs: list, max_rows: int
) -> dict | None:
    """{key column: set of its non-NULL keys} across the delete-key
    batch dirs `dirs`, read driver-side with ``_pa_read_small``. None —
    the caller then reads with Spark — when a dir cannot be read that
    way or holds no rows (a missing batch must fail loud there), when
    a column holds anything but integers or strings, or when the
    batches hold more than `max_rows` rows in all, counted from the
    parquet footers before any row is read."""
    from engage_spark.versioning import _pa_footer_rows, _pa_read_small

    n = 0
    for d in dirs:
        rows = _pa_footer_rows(spark, d)
        if not rows:
            return None
        n += rows
        if n > max_rows:
            return None
    out: dict = {}
    kinds: dict = {}
    for d in dirs:
        rows = _pa_read_small(spark, d)
        if not rows:
            return None
        for r in rows:
            for c, k in r.items():
                keys = out.setdefault(c, set())
                if k is None:
                    continue
                kind = type(k)
                if kind not in (int, str) or kinds.setdefault(c, kind) is not kind:
                    return None
                keys.add(k)
    return out


def _drop_deleted_keys(spark: SparkSession, df: DataFrame, dirs: list):
    """`df` without the rows whose key is in the delete-key batches
    under `dirs` (the `_deletes` sidecar, or a version's pending
    deletes_vN batches). A batch of at most ``_DELETES_LITERAL_MAX``
    rows (``_delete_keys_pa``) becomes a literal
    ``key IS NULL OR key NOT IN (...)`` filter — no Spark job
    to read or broadcast the keys, and the filter pushes into the
    scan; anything else anti-joins a broadcast Spark read of the
    batches, one join per key column. Either way a row whose key is
    NULL stays, exactly as under a left-anti join."""
    keys = _delete_keys_pa(spark, dirs, _DELETES_LITERAL_MAX)
    if keys is not None:
        for c, ks in keys.items():
            if ks:
                df = df.filter(_keys_in(c, ks, negate=True))
        return df
    dels = spark.read.option("mergeSchema", "true").parquet(*dirs)
    for key in dels.columns:
        ks = dels.select(key).filter(F.col(key).isNotNull()).dropDuplicates()
        df = df.join(F.broadcast(ks), on=key, how="left_anti")
    return df


def apply_deletes(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    lease_wait_s: float = 30.0,
    occ_retries: int = 2,
    _relayout: dict | None = None,
) -> dict:
    """Physically apply the deletion sidecar — FILE-TARGETED (r12):
    rewrite ONLY the files that contain a deleted key; every clean
    file stays byte-identical on disk. At 100 TB a 5,000-key takedown
    touches the handful of files holding those keys, not the dataset
    (the prior full staging-overwrite cost ~2x dataset IO per vacuum).

    Victim detection: for batches up to ``_DELETES_ISIN_MAX`` keys the
    batch is collected into an In-literal predicate, so the parquet
    reader's footer min/max pruning skips clean files without reading
    them — on a Z-ordered layout whose key is a clustered column that
    is a metadata-bounded read. Larger batches use one COLUMN-PRUNED
    scan of just the key column with the batch broadcast-semi-joined.
    Either way the victim list is bounded by the file count.

    Rewrite + swap go through the SAME staged-commit protocol as
    optimize_incremental (``_optimize_staging`` + ``_optimize_manifest``,
    replayed by ``optimize_recover``): victims are re-read (a
    file-list scan), filtered through a broadcast anti-join, re-laid
    on the frozen Z-curve when ``_zorder_meta`` exists, staged, then
    committed. A pending manifest from a crashed prior maintenance op
    is replayed at entry. ``_deletes`` is dropped ONLY after the
    commit completes, so a crash anywhere leaves the logical deletes
    in force for readers; the ``_zorder_ranges`` manifest is updated
    incrementally (kept entries stay exact, staged files get an
    increment-sized scan). The single-maintenance-writer requirement
    is enforced by the maintenance_lease (r12). Returns
    {"deleted_keys", "rewritten_files", "kept_files"}.

    Concurrency (r14): on a VERSION-LOGGED dataset the op runs
    OPTIMISTICALLY like the MERGE and the incremental OPTIMIZE —
    victim detection and the survivor rewrite hold NO lease (staged
    to a unique sibling, vacuum-swept by age), and only the
    retain+rename+entry+sidecar-clear tail takes the lease. The
    conflict rule: every victim must still be live (a file-moving
    commit on a victim restages), AND no pending-set mutator landed
    since the pin — an interleaved `logical_delete` means NEW keys
    the staged rewrite never saw (the `vacuum_deletes` entry would
    wrongly mark them settled for time travel), so the run restages
    and picks them up; `restore`/`overwrite`/another `vacuum_deletes`
    likewise. Commits that only ADD files commute — an appended
    re-delivery of a deleted key lands exactly as it would have
    landed serially after the apply (the documented re-append
    masking semantics are unchanged). :class:`TakedownConflict`
    after ``occ_retries``. Unversioned datasets keep the fully-leased
    in-place swap, where the OCC knobs do not apply.

    ``_relayout`` is maintain_dataset's layout snapshot
    (``_layout_snapshot``) when the incremental OPTIMIZE
    due next would rewrite every live file: the first attempt then
    takes every live file as a victim, with no detect scan, and re-lays
    the survivors on the curve — the takedown and the OPTIMIZE in ONE
    rewrite and one ``vacuum_deletes`` commit, under this op's conflict
    rule. The report then adds ``new_files`` and ``relayout``."""
    if not _deletes_has_parts(spark, path):
        return {"deleted_keys": 0, "rewritten_files": 0, "kept_files": 0}
    from engage_spark.versioning import (
        _vlog_reconcile,
        version_log_enabled,
    )

    if not version_log_enabled(spark, path):
        with maintenance_lease(spark, path):
            return _apply_deletes_impl(spark, path, target_file_bytes)
    mfs, mp = _hadoop_fs(spark, f"{path}/{_OPT_MANIFEST}")
    gfs, gp = _hadoop_fs(spark, f"{path}/{_OPT_STAGING}")
    for _attempt in range(occ_retries + 1):
        if (
            mfs.exists(mp)
            or _optimize_swap_manifest_exists(spark, path)
            or _applydv_swap_manifest_exists(spark, path)
            or gfs.exists(gp)
        ):
            # a predecessor crashed mid-commit (any swap protocol) or
            # pre-commit (stray legacy staging): heal BEFORE staging
            with maintenance_lease(spark, path, wait_s=lease_wait_s):
                optimize_recover(spark, path)
                _optimize_swap_replay_pending(spark, path)
                _applydv_replay_pending(spark, path)
        if not _deletes_has_parts(spark, path):
            # a predecessor's replay consumed the whole sidecar
            return {"deleted_keys": 0, "rewritten_files": 0, "kept_files": 0}
        try:
            st = _applydv_stage(spark, path, target_file_bytes, _relayout)
        except Exception as e:
            # the no-lease stage reads the LIVE target; a concurrent
            # file-moving commit mid-scan IS a write conflict
            if _attempt < occ_retries and _is_missing_file_error(e):
                _relayout = None
                continue
            raise
        with maintenance_lease(spark, path, wait_s=lease_wait_s):
            _vlog_reconcile(spark, path)
            if _applydv_commit_allowed(spark, path, st):
                from engage_spark.versioning import _vlog_append_entry

                if st["staging"] is None:
                    # keys absent from the data (already vacuumed /
                    # never present): ENTRY FIRST (it settles the
                    # pending set), then clear exactly the pinned
                    # sidecar parts — a crash between converges at
                    # the next apply (re-detects no victims)
                    _vlog_append_entry(
                        spark, path, "vacuum_deletes", added=[],
                        removed=[], key_col=",".join(st["key_cols"]),
                        n_keys=st["n"],
                    )
                    _applydv_clear_sidecar_parts(
                        spark, path, st["sidecar_parts"]
                    )
                else:
                    _applydv_commit_swap(spark, path, st)
                    if st["man_before"] is not None:
                        _zranges_refresh(
                            spark, path,
                            [
                                e for e in st["man_before"]
                                if e[0] not in set(st["victims"])
                            ],
                            _written_zranges(st["staged"], st["zranges"]),
                        )
                out = {
                    "deleted_keys": st["n"],
                    "rewritten_files": len(st["victims"]),
                    "kept_files": st["n_files"] - len(st["victims"]),
                }
                if st["relayout"]:
                    out.update(new_files=len(st["staged"]), relayout=True)
                return out
        # conflict: drop the stale staging and restage (picking up
        # any newly-recorded keys) against a fresh detect scan
        _relayout = None
        if st["staging"] is not None:
            sfs, sp2 = _hadoop_fs(spark, st["staging"])
            if sfs.exists(sp2):
                sfs.delete(sp2, True)
    raise TakedownConflict(
        f"optimistic apply_deletes of {path} lost its commit race "
        f"{occ_retries + 1} times (another writer moved a victim or "
        "recorded new deletes between stage and commit each time); "
        "retry, or raise occ_retries for contended targets"
    )


def _applydv_detect(spark: SparkSession, path: str) -> dict:
    """Shared victim detection for both apply_deletes paths: read the
    deletion sidecar (recording its immutable part-file names — the
    OCC commit clears exactly the parts it applied, so a key batch
    recorded after the pin is never lost), split per key column, and
    find the files containing any deleted key. For batches up to
    ``_DELETES_ISIN_MAX`` keys an In-literal predicate lets parquet
    footer min/max pruning skip clean files; a per-file bloom index on
    the key column (r14) prunes the candidate FILE LIST driver-side
    before any scan is planned; larger batches broadcast-semi-join one
    column-pruned scan. Victim count is bounded by the file count.
    A sidecar of at most ``_DELETES_ISIN_MAX`` rows is read
    driver-side (``_delete_keys_pa``): ``per_key`` then maps each column to its
    sorted key list instead of a DataFrame, and neither the counts nor
    the In-literal need a Spark job. The dataset is scanned with the
    log's schema."""
    from engage_spark.versioning import (
        _logged_reader,
        _stable_schema,
        version_log_enabled,
    )

    det = _applydv_keys(spark, path)
    per_key, counts = det["per_key"], det["counts"]
    key_cols = det["key_cols"]
    data = _logged_reader(spark, path).parquet(path)
    tagged = data.select(
        F.input_file_name().alias("__file"), *[F.col(c) for c in key_cols]
    )
    bloom_cols: set = set()
    live_names: list = []
    if version_log_enabled(spark, path):
        from engage_spark.indexes import _bloom_spec

        bloom_cols = set(_bloom_spec(spark, path)[0]) & set(key_cols)
        if bloom_cols:
            # candidate list from the LOG, not a directory walk (r15
            # log-owned reads): the no-lease stage sees the committed
            # file set; the leased commit tail reconciles drift before
            # the entry lands, same as every optimistic writer
            from engage_spark.versioning import (
                _replay_files,
                _vlog_entries,
            )

            _ents = _vlog_entries(spark, path)
            live_names = (
                _replay_files(_ents, _ents[-1]["version"]) if _ents else []
            )
    victim_set: set = set()
    for c, kdf in per_key.items():
        if counts[c] <= _DELETES_ISIN_MAX:
            # literal In pushes to the parquet scan: row-group stats
            # skip files whose key range misses the batch entirely
            keys = kdf if isinstance(kdf, list) else [
                r[0] for r in kdf.collect()
            ]
            if not keys:
                continue  # only NULL keys: they match no row
            src = tagged
            if c in bloom_cols:
                from engage_spark.indexes import _bloom_prune
                from engage_spark.versioning import _read_names

                cand, n_pruned = _bloom_prune(
                    spark, path, live_names, c, keys
                )
                if not cand:
                    continue  # no live file can contain these keys
                if n_pruned:
                    src = _read_names(
                        spark, path, cand,
                        schema=_stable_schema(spark, path),
                    ).select(F.input_file_name().alias("__file"), F.col(c))
            if all(type(k) in (int, str) for k in keys):
                hits = src.filter(_keys_in(c, keys))
            else:
                hits = src.filter(F.col(c).isin(keys))
        else:
            hits = tagged.join(F.broadcast(kdf), on=c, how="left_semi")
        victim_set |= {
            r["__file"] for r in hits.select("__file").distinct().collect()
        }
    return {
        **det,
        "victims": sorted(victim_set),
        "all_files": set(data.inputFiles()),
    }


def _applydv_keys(spark: SparkSession, path: str) -> dict:
    """The deletion sidecar's immutable part names and its keys per
    column: sorted lists when ``_delete_keys_pa`` reads it driver-side
    (at most ``_DELETES_ISIN_MAX`` rows), else distinct-key DataFrames
    (counted with one job each)."""
    sfs, sp = _hadoop_fs(spark, f"{path}/{_DELETES}")
    sidecar_parts = sorted(
        st.getPath().getName()
        for st in sfs.listStatus(sp)
        if not st.getPath().getName().startswith(("_", "."))
    )
    small = _delete_keys_pa(spark, [f"{path}/{_DELETES}"], _DELETES_ISIN_MAX)
    if small is not None:
        per_key = {c: sorted(ks) for c, ks in small.items()}
        counts = {c: len(ks) for c, ks in per_key.items()}
    else:
        dels_all = (
            spark.read.option("mergeSchema", "true")
            .parquet(f"{path}/{_DELETES}")
        )
        per_key = {
            c: dels_all.select(c).filter(F.col(c).isNotNull()).dropDuplicates()
            for c in dels_all.columns
        }
        counts = {c: kdf.count() for c, kdf in per_key.items()}
    return {
        "per_key": per_key,
        "counts": counts,
        # bounded: takedowns since the last vacuum
        "n": sum(counts.values()),
        "key_cols": list(per_key),
        "sidecar_parts": sidecar_parts,
    }


def _applydv_write_survivors(
    spark: SparkSession,
    path: str,
    victims: list,
    per_key: dict,
    target_file_bytes: int,
    staging: str,
) -> dict | None:
    """Shared survivor rewrite: re-read ONLY the victims (basePath:
    hive-partitioned victims must keep their partition column values —
    the ADVICE r12 silent-data-loss shape; mergeSchema: victims
    spanning an s11-style evolution keep the union schema), anti-join
    every key batch, and re-lay on the frozen Z-curve / back into the
    partition dirs as the dataset's layout demands. Returns a flat
    z-layout write's observed per-task z-ranges (`_write_z_layout`),
    else None."""
    import math

    from engage_spark.versioning import _relativize

    total = _victim_bytes(spark, path, victims)
    n_new = max(1, math.ceil(total / target_file_bytes))
    victim_rel = _relativize(spark, path, victims)
    part_cols = [
        seg.split("=", 1)[0]
        for seg in victim_rel[0].split("/")[:-1]
        if "=" in seg
    ]
    from engage_spark.versioning import _logged_reader

    kept_rows = _logged_reader(
        spark, path, base_path=path, merge=True
    ).parquet(*victims)
    for c, kdf in per_key.items():
        if not isinstance(kdf, list):
            kept_rows = kept_rows.join(
                F.broadcast(kdf), on=c, how="left_anti"
            )
        elif kdf:
            kept_rows = kept_rows.filter(_keys_in(c, kdf, negate=True))
    zm_fs, zm_p = _hadoop_fs(spark, f"{path}/_zorder_meta/info")
    if part_cols and zm_fs.exists(zm_p):
        # partitioned AND clustered (r13): survivors go back on the
        # frozen curve INSIDE their partition dirs, so footer pruning
        # and later zorder_appends keep the same layout contract
        m = zorder_meta(spark, path)
        _write_z_layout(
            _zorder_scale_frozen(spark, kept_rows, path, m),
            n_new, part_cols, "overwrite", staging,
        )
    elif part_cols:
        # one task per (shuffle slot) grouped on the partition columns
        # keeps each partition dir to right-sized files
        (
            kept_rows.repartition(n_new, *part_cols)
            .write.mode("overwrite")
            .partitionBy(*part_cols)
            .parquet(staging)
        )
    elif zm_fs.exists(zm_p):
        # keep the survivors on the frozen curve so footer pruning and
        # later zorder_appends see the same layout contract
        m = zorder_meta(spark, path)
        return _write_z_layout(
            _zorder_scale_frozen(spark, kept_rows, path, m),
            n_new, [], "overwrite", staging, ranges=True,
        )
    else:
        kept_rows.coalesce(n_new).write.mode("overwrite").parquet(staging)
    return None


def _apply_deletes_impl(
    spark: SparkSession, path: str, target_file_bytes: int
) -> dict:
    """The fully-leased in-place path — UNVERSIONED datasets only
    since r14 (version-logged targets take the optimistic staged-swap
    path in the facade). Keeps the legacy in-dataset
    ``_optimize_staging`` + ``_optimize_manifest`` commit protocol,
    replayed by optimize_recover."""
    if not _deletes_has_parts(spark, path):
        return {"deleted_keys": 0, "rewritten_files": 0, "kept_files": 0}
    fs, p = _hadoop_fs(spark, f"{path}/{_DELETES}")
    mfs, mp = _hadoop_fs(spark, f"{path}/{_OPT_MANIFEST}")
    if mfs.exists(mp):
        optimize_recover(spark, path)
    det = _applydv_detect(spark, path)
    victims, all_files, n = det["victims"], det["all_files"], det["n"]
    if not victims:
        # keys absent from the data (already vacuumed / never present):
        # nothing to rewrite, just clear the sidecar
        fs.delete(p, True)
        return {
            "deleted_keys": n,
            "rewritten_files": 0,
            "kept_files": len(all_files),
        }
    man_before = _zranges_read(spark, path)
    if man_before is not None and {f for f, _, _ in man_before} != all_files:
        man_before = None  # stale; do not extend it after the swap
    staging = f"{path}/{_OPT_STAGING}"
    _applydv_write_survivors(
        spark, path, victims, det["per_key"], target_file_bytes, staging
    )
    # manifest AFTER staging completes: its presence is the commit
    # point (same protocol + recovery as the unversioned optimize)
    from engage_spark.session import local_frame

    from engage_spark.versioning import _pa_overwrite_small

    if not _pa_overwrite_small(
        spark,
        f"{path}/{_OPT_MANIFEST}",
        [{"victim": f} for f in victims],
        "victim string",
    ):
        local_frame(
            spark, [(f,) for f in victims], "victim string"
        ).coalesce(1).write.mode("overwrite").parquet(f"{path}/{_OPT_MANIFEST}")
    _optimize_commit(spark, path, victims=victims)
    fs.delete(p, True)  # applied physically; clear the sidecar
    if man_before is not None:
        _zranges_refresh(
            spark, path,
            [e for e in man_before if e[0] not in set(victims)],
        )
    return {
        "deleted_keys": n,
        "rewritten_files": len(victims),
        "kept_files": len(all_files) - len(victims),
    }


_APPLYDV_SWAP_MANIFEST = "_applydv_swap_manifest"
_APPLYDV_STAGING_INFIX = "__applydv_staging_"


class TakedownConflict(RuntimeError):
    """An optimistic apply_deletes lost its commit race repeatedly."""


def _applydv_swap_manifest_exists(spark: SparkSession, path: str) -> bool:
    mfs, mp = _hadoop_fs(spark, f"{path}/{_APPLYDV_SWAP_MANIFEST}")
    return mfs.exists(mp)


def _applydv_stage(
    spark: SparkSession,
    path: str,
    target_file_bytes: int,
    relayout: dict | None = None,
) -> dict:
    """UNLEASED stage of the optimistic apply_deletes: pin the
    version, detect victims, rewrite survivors into a unique staging
    SIBLING. ``staging`` is None when no live file contains a deleted
    key (the commit then just settles the pending set and clears the
    pinned sidecar parts). With `relayout` (apply_deletes'
    ``_relayout``) the victims are the snapshot's files, with no
    detect scan, when they are exactly the live files at the pinned
    version — a commit between the snapshot and the pin falls back to
    the detect scan, since the conflict rule checks only commits after
    the pin."""
    import uuid as _uuid

    from engage_spark.versioning import (
        _relativize,
        _replay_files,
        _vlog_entries,
        _vlog_reconcile,
    )

    _vlog_reconcile(spark, path)  # heal drift BEFORE pinning
    entries = _vlog_entries(spark, path)
    pinned_v = entries[-1]["version"] if entries else 0
    det = None
    if relayout is not None:
        files = sorted(relayout["files"])
        if sorted(_relativize(spark, path, files)) == sorted(
            _replay_files(entries, pinned_v)
        ):
            det = {
                **_applydv_keys(spark, path),
                "victims": files,
                "all_files": set(files),
            }
    fused = det is not None
    if not fused:
        det = _applydv_detect(spark, path)
    st = {
        "pinned_v": pinned_v,
        "n": det["n"],
        "key_cols": det["key_cols"],
        "victims": det["victims"],
        "n_files": len(det["all_files"]),
        "sidecar_parts": det["sidecar_parts"],
        "staging": None,
        "man_before": None,
        "relayout": fused,
    }
    if not det["victims"]:
        return st
    man_before = _zranges_read(spark, path)
    if (
        man_before is not None
        and {f for f, _, _ in man_before} != det["all_files"]
    ):
        man_before = None  # stale; do not extend it after the swap
    staging = (
        f"{path.rstrip('/')}{_APPLYDV_STAGING_INFIX}{_uuid.uuid4().hex[:12]}"
    )
    zranges = _applydv_write_survivors(
        spark, path, det["victims"], det["per_key"], target_file_bytes, staging
    )
    st.update(
        staging=staging,
        staged=_staged_rel_files(spark, staging),
        victim_rel=_relativize(spark, path, det["victims"]),
        man_before=man_before,
        zranges=zranges if man_before is not None else None,
    )
    return st


def _applydv_commit_allowed(
    spark: SparkSession, path: str, st: dict
) -> bool:
    """Conflict rule for the optimistic takedown: commits that only
    ADD files commute (an appended re-delivery of a deleted key lands
    exactly as it would serially AFTER the apply — the documented
    re-append masking semantics); a commit that MOVED a victim
    restages; and any pending-set mutator since the pin —
    `logical_delete` (new keys the staged rewrite never saw, which
    the vacuum_deletes entry would wrongly settle), `restore`,
    `overwrite`, another `vacuum_deletes` — restages too."""
    from engage_spark.versioning import _live_names, _vlog_entries

    # ONE log read (it runs inside the contended lease window every
    # appender's commit tail queues on — review-found)
    entries = _vlog_entries(spark, path)
    latest = entries[-1]["version"] if entries else 0
    if latest != st["pinned_v"]:
        for e in entries:
            if e["version"] <= st["pinned_v"]:
                continue
            if e["op"] in (
                "logical_delete", "restore", "overwrite", "vacuum_deletes",
            ):
                return False
        if st["staging"] is not None:
            live = set(_live_names(spark, path))
            if not set(st["victim_rel"]) <= live:
                return False
    return True


def _applydv_commit_swap(spark: SparkSession, path: str, st: dict) -> None:
    """COMMIT tail of the optimistic takedown (caller holds the lease
    and has verified the conflict rule): pin the swap AND the applied
    sidecar parts in the JSON manifest, then run the replay itself."""
    import json as _json

    st["staged"] = _uniquify_staged_collisions(
        spark, path, st["staging"], st["staged"]
    )
    mfs, mp = _hadoop_fs(spark, f"{path}/{_APPLYDV_SWAP_MANIFEST}")
    out = mfs.create(mp, True)
    out.write(
        _json.dumps(
            {
                "staging": st["staging"],
                "adds": sorted(st["staged"]),
                "removes": sorted(st["victim_rel"]),
                "sidecar_parts": st["sidecar_parts"],
                "key_col": ",".join(st["key_cols"]),
                "n_keys": st["n"],
            }
        ).encode()
    )
    out.close()
    _applydv_replay_pending(spark, path)


def _applydv_clear_sidecar_parts(
    spark: SparkSession, path: str, parts: list
) -> None:
    """Delete exactly the applied sidecar part files (idempotent) — a
    key batch recorded AFTER the apply pinned its parts survives; the
    dir itself goes once empty of data parts."""
    for name in parts:
        pfs, pp = _hadoop_fs(spark, f"{path}/{_DELETES}/{name}")
        if pfs.exists(pp):
            pfs.delete(pp, False)
    dfs, dp = _hadoop_fs(spark, f"{path}/{_DELETES}")
    if dfs.exists(dp) and not any(
        not s.getPath().getName().startswith(("_", "."))
        for s in dfs.listStatus(dp)
    ):
        dfs.delete(dp, True)


def _applydv_replay_pending(spark: SparkSession, path: str) -> bool:
    """Finish an optimistic takedown that crashed after its swap
    manifest write: retain victims, rename survivors in, log the
    exact `vacuum_deletes` entry (settling the pending DV set for
    time travel), clear exactly the applied sidecar parts — in that
    order, so a crash before the entry leaves the logical deletes in
    force for every reader, and a batch recorded after the pin always
    survives. Caller must hold the maintenance lease."""
    from engage_spark.versioning import _retain_file, _vlog_append_entry

    doc = _read_swap_manifest(spark, f"{path}/{_APPLYDV_SWAP_MANIFEST}")
    if doc is None:
        return False
    adds, removes, staging = doc["adds"], doc["removes"], doc["staging"]
    for rel in removes:
        _retain_file(spark, path, rel)  # idempotent: skips absent
    _move_staged_in(spark, path, staging, adds, "apply_deletes")
    if not _entry_already_logged(
        spark, path, "vacuum_deletes", adds, removes
    ):
        _vlog_append_entry(
            spark, path, "vacuum_deletes", added=adds, removed=removes,
            key_col=doc.get("key_col"), n_keys=int(doc.get("n_keys") or 0),
        )
    _applydv_clear_sidecar_parts(spark, path, doc.get("sidecar_parts", []))
    _zranges_drop(spark, path)
    _drop_staging_and_manifest(
        spark, staging, f"{path}/{_APPLYDV_SWAP_MANIFEST}"
    )
    return True


def _stash_sidecars(spark: SparkSession, target: str) -> list:
    """Move `_`-prefixed sidecar DIRECTORIES (e.g. _zorder_meta, the
    frozen clustering definition) out of the way of a destructive
    dataset overwrite; returns [(tmp_uri, final_uri)] for
    _restore_sidecars. Parquet readers ignore `_` paths, so these
    sidecars are metadata the overwrite would otherwise silently
    destroy — the unpartitioned upsert path did exactly that before
    r11, leaving the dataset un-appendable (no _zorder_meta)."""
    fs, p = _hadoop_fs(spark, target)
    out = []
    for s in fs.listStatus(p):
        name = s.getPath().getName()
        if not (s.isDirectory() and name.startswith("_")) or name == "_temporary":
            continue
        if name == _ZRANGES:
            # the rewrite replaces every data file: per-file z-range
            # entries would all be stale — drop, don't preserve (the
            # next stats/victim read rebuilds with one scan)
            fs.delete(s.getPath(), True)
            continue
        tmp = f"{target}__sidecar_{name.lstrip('_')}"
        _, tp = _hadoop_fs(spark, tmp)
        fs.rename(s.getPath(), tp)
        out.append((tmp, f"{target}/{name}"))
    _zmeta_invalidate(target)
    return out


def _restore_sidecars(spark: SparkSession, stashed: list) -> None:
    for tmp, final in stashed:
        fs, tp = _hadoop_fs(spark, tmp)
        _, fp = _hadoop_fs(spark, final)
        fs.rename(tp, fp)
        _zmeta_invalidate(final.rsplit("/", 1)[0])


def _unstash_sidecars(spark: SparkSession, target: str) -> bool:
    """Crash recovery for `_stash_sidecars`: move every
    ``{target}__sidecar_{name}`` dir left beside an existing target
    back to ``{target}/_{name}``. A stash whose live dir exists again
    is left in place and logged — which copy is current cannot be
    told from here. Caller holds the maintenance lease (no stash is in
    flight). Returns True iff a stash was found."""
    fs, p = _hadoop_fs(spark, target)
    found = fs.globStatus(
        spark._jvm.org.apache.hadoop.fs.Path(f"{p.toString()}__sidecar_*")
    )
    if not found:
        return False
    if not fs.exists(p):
        return True  # nothing to restore into yet
    restore = []
    for st in found:
        stem = st.getPath().getName().split("__sidecar_", 1)[1]
        final = f"{target}/_{stem}"
        if fs.exists(_hadoop_fs(spark, final)[1]):
            _log.warning(
                "stashed sidecar %s left in place: %s exists",
                st.getPath().toString(), final,
            )
            continue
        restore.append((f"{target}__sidecar_{stem}", final))
    _restore_sidecars(spark, restore)
    return True


def upsert_dataset(
    spark: SparkSession,
    target: str,
    updates: DataFrame,
    key_cols: Sequence[str],
    partition_by: Sequence[str] | None = None,
    delete_col: str | None = None,
    assume_partition_stable: bool = False,
    check_unique_keys: bool = True,
    max_touched_partitions: int = 4096,
    lease_wait_s: float = 30.0,
    occ_retries: int = 2,
    expectations=None,
    on_violation: str = "fail",
    evolve_schema: bool = False,
) -> dict:
    """Public facade of :func:`_upsert_dataset_impl` (full semantics
    documented there) that ENFORCES the single-maintenance-writer
    requirement. A bootstrap write of a brand-new target has nothing
    to corrupt and takes no lease (taking one would also materialize
    the target dir and confuse its own existence check).

    ``expectations``/``on_violation`` (r14): the same commit-time gate
    as :func:`append_dataset`, applied to the INCOMING change batch
    BEFORE any merge work — a malformed CDC delivery must not reach
    the merge at all. When ``delete_col`` is set, DELETE-marker rows
    BYPASS the quality rules (a tombstone legitimately carries NULL
    payload columns — gating it on payload quality would refuse
    takedowns); the rules see only the upserted rows. The change
    batch is MATERIALIZED (one CDC-batch-sized write to a temp
    sibling, removed after the merge) before gating, so what the
    rules validated is byte-for-byte what merges — the same
    staged-bytes guarantee the append gate has; a non-deterministic
    upstream plan cannot slip unvalidated rows past the gate. fail
    raises :class:`ExpectationViolation` with per-rule counts before
    the merge runs; drop filters the violating change rows and
    reports ``expectations``/``dropped_rows`` in the stats. Requires
    a version-logged EXISTING target (a bootstrap write has no commit
    protocol to gate — validate the frame before the bootstrap).

    ``evolve_schema`` (r14): the change batch is schema-gated EARLY
    (a driver-only .columns check, before any aggregation runs). A
    batch MISSING target columns always raises, evolve_schema or not:
    an upsert replaces whole matched rows, so NULL-filling a missing
    column would silently destroy its values — backfill the batch
    explicitly. A batch with NEW columns raises by default
    (previously they were DROPPED silently); with
    ``evolve_schema=True`` the new columns land on the touched
    partitions' rewrite, untouched partitions keep their files, old
    rows surface NULL through the s11 ``mergeSchema`` read
    convention, and the corpus is durably marked evolved
    (``_schema_evolution`` sidecar) — EVERY later merge then reads
    the target with mergeSchema regardless of its own flag, so the
    evolved column survives later default-mode rewrites instead of
    depending on footer sampling order. Unevolved corpora pay one
    fs.exists per merge, never a footer sweep.

    Concurrency by path shape (r14):

    - VERSION-LOGGED + PARTITIONED (the production hourly-MERGE shape)
      runs OPTIMISTICALLY: the expensive work — the touched-partition
      merge and the staged slice write — happens with NO lease held,
      pinned to the version read at stage start; only the retain+
      rename+log commit tail takes the lease (queueing on
      ``lease_wait_s``), and commits ONLY if the pinned version is
      still the latest — weakened PARTITION-SCOPED (r14, see
      :func:`_upsert_commit_allowed`): an interleaved commit that
      moved no file under the merge's touched partition dirs (an
      append/MERGE/optimize on OTHER partitions, or a logical delete
      anywhere — DV batches filter later reads by key, staged rewrite
      included) COMMUTES and the merge still commits; only a commit
      touching the merge's own partitions discards the stale slice
      and re-stages against the new state — up to ``occ_retries``
      times before raising :class:`UpsertConflict`. This is what
      keeps staged-commit appenders flowing DURING the hourly MERGE
      instead of queueing behind a minutes-long lease, and lets a
      backfill MERGE on yesterday's partition land despite today's
      ingest.
    - Everything else (unpartitioned, or no version log) holds the
      lease across the whole merge as before — those paths rewrite
      live files in place, so a concurrent writer has no safe window.
    """
    from engage_spark.versioning import version_log_enabled

    fs, p = _hadoop_fs(spark, target)
    exists = fs.exists(p) and any(
        not s.getPath().getName().startswith("_") for s in fs.listStatus(p)
    )
    vlog = exists and version_log_enabled(spark, target)
    if exists:
        updates = _gate_write_schema(
            spark, target, updates,
            skip=list(partition_by or []) + [delete_col],
        )
    gate_report: dict = {}
    gate_staging = None
    if expectations is not None:
        rules = _check_gate_args(expectations, on_violation, vlog, target)
        # MATERIALIZE the change batch before gating (review-found):
        # gating the upstream plan and then re-evaluating it for the
        # merge would let a non-deterministic batch commit rows the
        # gate never saw. One batch-sized write gives the same
        # staged-bytes guarantee the append gate has — what is
        # validated is byte-for-byte what merges.
        import uuid as _uuid

        gate_staging = (
            f"{target.rstrip('/')}{_GATE_STAGING_INFIX}{_uuid.uuid4().hex[:12]}"
        )
        updates.write.mode("overwrite").parquet(gate_staging)
        updates = spark.read.parquet(gate_staging)
    try:
        if expectations is not None:
            is_del = (
                F.coalesce(F.col(delete_col).cast("boolean"), F.lit(False))
                if delete_col is not None
                else F.lit(False)
            )
            if on_violation == "fail":
                # tombstones bypass the rules
                gate_report = {
                    "expectations": _gate_fail_check(
                        updates.filter(~is_del), target, expectations, rules
                    )
                }
            else:
                # counts AND the filter both exclude tombstones, so
                # the per-rule counts always equal what the filter
                # drops (no `unique` here — drop mode refuses it)
                rules_nd = [(rid, v & ~is_del) for rid, v in rules]
                any_viol = _gate_any_viol(rules_nd)
                row = updates.agg(
                    *_gate_aggs(expectations, rules_nd),
                    F.coalesce(
                        F.sum(F.when(any_viol, 1).otherwise(0)), F.lit(0)
                    ).cast("long").alias("__dropped"),
                ).collect()[0]
                gate_report = {
                    "expectations": _gate_counts(rules_nd, row),
                    "dropped_rows": int(row["__dropped"]),
                }
                updates = updates.filter(~any_viol)
        if not exists:
            return {
                **_upsert_dataset_impl(
                    spark, target, updates, key_cols, partition_by,
                    delete_col, assume_partition_stable, check_unique_keys,
                    max_touched_partitions, evolve_schema,
                ),
                **gate_report,
            }
        if partition_by and vlog:
            from engage_spark.versioning import (
                _vlog_reconcile,
                latest_version,
            )

            mfs, mp = _hadoop_fs(spark, f"{target}/{_UPSERT_MANIFEST}")
            for _attempt in range(occ_retries + 1):
                if mfs.exists(mp):
                    # a predecessor crashed mid-commit: heal BEFORE the
                    # stage reads the target (the live view is missing
                    # the half-swapped partitions until the replay
                    # finishes)
                    with maintenance_lease(
                        spark, target, wait_s=lease_wait_s
                    ):
                        _upsert_replay_pending(spark, target)
                try:
                    st = _upsert_stage_partitioned(
                        spark, target, updates, list(key_cols),
                        list(partition_by), delete_col,
                        assume_partition_stable, check_unique_keys,
                        max_touched_partitions, evolve_schema,
                    )
                except Exception as e:
                    # the no-lease stage reads the LIVE target; a
                    # concurrent file-MOVING commit (apply_deletes,
                    # optimize, another MERGE) mid-scan surfaces as a
                    # missing-file failure — that IS a write conflict,
                    # so re-stage against the new state like any other
                    # one (a partial staging dir is vacuum-swept by
                    # age)
                    if _attempt < occ_retries and _is_missing_file_error(e):
                        continue
                    raise
                if st["staging"] is None:  # nothing touched: no commit
                    return {**st["stats"], **gate_report}
                with maintenance_lease(spark, target, wait_s=lease_wait_s):
                    _upsert_replay_pending(spark, target)
                    _vlog_reconcile(spark, target)
                    if _upsert_commit_allowed(spark, target, st):
                        _upsert_commit_partitioned(spark, target, st)
                        return {**st["stats"], **gate_report}
                # conflict: someone committed since the pin — the
                # staged slice merged a stale snapshot; drop it and
                # re-stage
                sfs, sp2 = _hadoop_fs(spark, st["staging"])
                if sfs.exists(sp2):
                    sfs.delete(sp2, True)
            raise UpsertConflict(
                f"versioned MERGE into {target} lost its optimistic race "
                f"{occ_retries + 1} times (another writer committed "
                "between stage and commit each time); retry, or raise "
                "occ_retries for contended targets"
            )
        with maintenance_lease(spark, target):
            return {
                **_upsert_dataset_impl(
                    spark, target, updates, key_cols, partition_by,
                    delete_col, assume_partition_stable, check_unique_keys,
                    max_touched_partitions, evolve_schema,
                ),
                **gate_report,
            }
    finally:
        if gate_staging is not None:
            gfs, gp = _hadoop_fs(spark, gate_staging)
            if gfs.exists(gp):
                gfs.delete(gp, True)


def _upsert_commit_allowed(spark: SparkSession, target: str, st: dict) -> bool:
    """PARTITION-SCOPED conflict rule for the optimistic MERGE (r14,
    continued): strict version equality, weakened for interleaved
    commits that cannot affect the merge's output. The staged slice
    was computed from the touched partitions' data at the pinned
    version, so an interleaved commit commutes iff it moved NO file
    under a touched partition dir:

    - appends/MERGEs/optimizes/takedown-rewrites on OTHER partitions
      are file-disjoint from both the slice's inputs and old_names —
      at 100 TB this is the hourly MERGE on today's partition landing
      DESPITE a backfill streaming into yesterday's;
    - `logical_delete` commutes by DV semantics even on touched
      partitions: the batch filters reads of ANY later version by
      key, our staged rewrite included — exactly what serial
      execution would produce;
    - `snapshot`/`vacuum_log` are bookkeeping (the snapshot's "added"
      is the whole live set, not a change);
    - anything that ADDED a file to a touched dir carries rows the
      slice never merged (a duplicate-key hazard), and anything that
      REMOVED one invalidates old_names — both conflict, restage.

    The near-full-rewrite path (touched_dirs None) keeps the strict
    pin: every live file is a victim, nothing commutes."""
    from engage_spark.versioning import _vlog_entries

    # ONE log read (inside the contended lease window — review-found)
    entries = _vlog_entries(spark, target)
    latest = entries[-1]["version"] if entries else 0
    if latest == st["pinned_v"]:
        return True
    if st["touched_dirs"] is None:
        return False
    dirs = st["touched_dirs"]
    for e in entries:
        if e["version"] <= st["pinned_v"]:
            continue
        if e["op"] in ("snapshot", "vacuum_log", "logical_delete"):
            continue
        for name in list(e["added"]) + list(e["removed"]):
            if name.rsplit("/", 1)[0] in dirs:
                return False
    return True


class UpsertConflict(RuntimeError):
    """An optimistic versioned MERGE lost its commit race repeatedly."""


def _is_missing_file_error(exc) -> bool:
    """A Spark/Hadoop failure caused by an input file vanishing
    mid-job — the signature of racing a file-moving commit."""
    s = str(exc)
    return (
        "FileNotFoundException" in s
        or "PATH_NOT_FOUND" in s
        or "does not exist" in s
        # planning a read of a dir whose last part vanished mid-race
        # surfaces as schema inference failing, not file-not-found
        or "UNABLE_TO_INFER_SCHEMA" in s
        or "Unable to infer schema" in s
        # RawLocalFileSystem's permission probe shells out to `ls`;
        # a file a racing commit moved mid-listing then renders as
        # "Error while running command to get file permissions ...
        # ls: cannot access ...: No such file or directory" — caught
        # live by the 5-round mixed-writer soak (r15): without this
        # the applier's documented restage-on-conflict path was
        # skipped and the race escaped as a crash
        or "No such file or directory" in s
    )


_UPSERT_MANIFEST = "_upsert_manifest"


def _upsert_replay_pending(spark: SparkSession, target: str) -> bool:
    """Finish a VERSIONED partitioned MERGE that crashed between its
    manifest write and the commit tail (r14) — without this, a crash
    mid-retain/rename leaves the live view missing the touched
    partitions' rows with no automatic convergence (re-running the
    batch would merge into the damaged state; the rows sit in
    retained/). The manifest pins the swap — the staged ('adds') and
    replaced ('removes') names plus the attempt's unique staging dir —
    pinned at manifest time because the renames CONSUME the staging
    dir, so a post-crash directory listing would see only leftovers.
    Every step is idempotent (retains skip moved files, renames skip
    landed files, the entry is appended only if the log's last entry
    is not already this swap). Caller must hold the maintenance
    lease. Returns True if a replay ran."""
    from engage_spark.versioning import _retain_file, _vlog_append_entry

    doc = _read_swap_manifest(spark, f"{target}/{_UPSERT_MANIFEST}")
    if doc is None:
        return False
    adds, removes, staging = doc["adds"], doc["removes"], doc["staging"]
    for n in removes:
        _retain_file(spark, target, n)
    _move_staged_in(spark, target, staging, adds, "upsert")
    if not _entry_already_logged(spark, target, "upsert", adds, removes):
        _vlog_append_entry(
            spark, target, "upsert", added=adds, removed=removes
        )
    _drop_staging_and_manifest(
        spark, staging, f"{target}/{_UPSERT_MANIFEST}"
    )
    return True


_EVOLUTION_MARKER = "_schema_evolution"


def _evolution_marker_exists(spark: SparkSession, target: str) -> bool:
    fs, p = _hadoop_fs(spark, f"{target}/{_EVOLUTION_MARKER}")
    return fs.exists(p)


def _evolution_marker_write(spark: SparkSession, target: str, cols) -> None:
    """Durably mark the corpus as schema-evolved (tiny JSON sidecar,
    column names informational — EXISTENCE drives behavior: every
    later merge reads the target with mergeSchema regardless of its
    own evolve_schema flag). Written as soon as a merge DETECTS new
    columns, before any data write: a stray marker from a merge that
    later lost its OCC race costs one mergeSchema read per merge,
    while the missing marker after a crash-committed evolution would
    let a later default-mode merge silently erase the evolved column
    from every rewritten partition (review-found). Two concurrent
    evolvers can race the informational column list (last wins);
    existence is monotonic."""
    import json as _json

    prev: list = []
    fs, p = _hadoop_fs(spark, f"{target}/{_EVOLUTION_MARKER}")
    if fs.exists(p):
        stream = fs.open(p)
        try:
            prev = _json.loads(bytes(stream.readAllBytes()).decode()).get(
                "columns", []
            )
        except Exception:
            prev = []
        finally:
            stream.close()
    out = fs.create(p, True)
    out.write(
        _json.dumps({"columns": sorted(set(prev) | set(cols))}).encode()
    )
    out.close()


def _exact_cast(src: T.DataType, dst: T.DataType) -> bool:
    """True iff every `src` value converts to `dst` exactly and back:
    integral widening, float or a <=32-bit integer to double, and a
    decimal widening that loses neither integer nor fraction digits."""
    rank = {T.ByteType: 0, T.ShortType: 1, T.IntegerType: 2, T.LongType: 3}
    if type(src) in rank and type(dst) in rank:
        return rank[type(src)] <= rank[type(dst)]
    if isinstance(dst, T.DoubleType):
        return type(src) in (T.ByteType, T.ShortType, T.IntegerType, T.FloatType)
    if isinstance(src, T.DecimalType) and isinstance(dst, T.DecimalType):
        return (
            dst.scale >= src.scale
            and dst.precision - dst.scale >= src.precision - src.scale
        )
    return False


def _gate_write_schema(
    spark: SparkSession, path: str, df: DataFrame, skip=()
) -> DataFrame:
    """The write-schema gate shared by append_dataset, zorder_append
    and upsert_dataset: every column the batch shares with the
    existing dataset must carry the dataset's type, nullability and
    field metadata aside. A column whose type differs is cast when the
    cast is exact (``_exact_cast``) and refused otherwise: a TIMESTAMP
    batch committed into a TIMESTAMP_NTZ table would make every read
    spanning both file sets fail to merge the schemas. New columns
    are not this gate's business (upsert's ``_check_merge_schema``
    governs them); `skip` names the partition columns, whose type
    comes from the directory names. The dataset's types come from the
    version log, so the gate costs no Spark job; a dataset whose log
    records no schema, or that has no log, passes unchanged."""
    from engage_spark.versioning import _schema_at, _vlog_entries

    entries = _vlog_entries(spark, path)  # [] without a log
    want = _schema_at(entries, entries[-1]["version"]) if entries else None
    if want is None:
        return df
    have = {f.name: f.dataType for f in df.schema.fields}
    casts, bad = {}, []
    for f in want.fields:
        src = have.get(f.name)
        if f.name in skip or src is None:
            continue
        if src.simpleString() == f.dataType.simpleString():
            continue
        if _exact_cast(src, f.dataType):
            casts[f.name] = f.dataType
        else:
            bad.append(
                f"{f.name}: {src.simpleString()} into "
                f"{f.dataType.simpleString()}"
            )
    if bad:
        raise ValueError(
            f"batch types do not match {path}: {'; '.join(bad)} — cast "
            "the batch explicitly; only exact widenings are applied "
            "automatically"
        )
    if not casts:
        return df
    return df.select(
        *[
            df[c].cast(casts[c]).alias(c) if c in casts else df[c]
            for c in df.columns
        ]
    )


def _check_merge_schema(
    spark: SparkSession,
    target: str,
    tgt_cols,
    batch_cols,
    evolve_schema: bool,
) -> list:
    """EARLY schema gate of every merge path (driver-only, .columns
    comparison — runs before the uniqueness aggregation and the
    touched-partition scan so a mismatched batch costs nothing,
    review-found). Missing columns ALWAYS raise, evolve_schema or
    not: an upsert replaces whole matched rows, so a NULL-filled
    missing column would silently destroy every updated key's value
    for it — align or backfill the batch instead. New columns require
    evolve_schema=True and durably mark the corpus as evolved.
    Returns the new columns."""
    have, want = set(batch_cols), set(tgt_cols)
    missing = sorted(want - have)
    if missing:
        raise ValueError(
            f"updates batch is missing target columns {missing} for "
            f"{target}; an upsert replaces whole matched rows, so "
            "NULL-filling a missing column would destroy its values — "
            "select the target's columns onto the batch (backfilling "
            "explicitly) instead"
        )
    new = sorted(have - want)
    if new and not evolve_schema:
        raise ValueError(
            f"updates batch carries new columns {new} not in {target} "
            "(previously these were DROPPED silently); pass "
            "evolve_schema=True to evolve the corpus — the touched "
            "partitions' rewrite carries the columns, old rows "
            "surface NULL via the mergeSchema read convention"
        )
    if new:
        _evolution_marker_write(spark, target, new)
    return new


def _merge_union(
    survivors: DataFrame, inserts: DataFrame, new_cols: list
) -> DataFrame:
    """The MERGE's survivors ∪ inserts union. The schema was already
    gated by _check_merge_schema; with new columns the union
    NULL-fills the survivors' side only (inserts can never be missing
    a column past the gate)."""
    if new_cols:
        return survivors.unionByName(inserts, allowMissingColumns=True)
    return survivors.unionByName(inserts.select(*survivors.columns))


def _upsert_stage_partitioned(
    spark: SparkSession,
    target: str,
    updates: DataFrame,
    key_cols: list,
    partition_by: list,
    delete_col: str | None,
    assume_partition_stable: bool,
    check_unique_keys: bool,
    max_touched_partitions: int,
    evolve_schema: bool = False,
) -> dict:
    """STAGE phase of the optimistic versioned partitioned MERGE (no
    lease held): pin the current version, compute the touched
    partitions, merge their slice with the batch, and write it to a
    UNIQUE staging sibling. Returns everything the commit tail needs;
    `staging` is None when the batch touches nothing. Semantics are
    _upsert_dataset_impl's partitioned branch verbatim — only the
    transaction shape changed (stale results are discarded by the
    facade's version check, so reading the live target without the
    lease is safe)."""
    import functools
    import operator
    import uuid as _uuid

    from engage_spark.versioning import (
        _live_names,
        _vlog_reconcile,
        latest_version,
    )

    _vlog_reconcile(spark, target)  # heal drift BEFORE pinning
    pinned_v = latest_version(spark, target)
    # marker-driven: an EVOLVED corpus is read with mergeSchema by
    # every merge regardless of this call's flag (one fs.exists on
    # unevolved corpora) — footer sampling on a mixed-schema target
    # would otherwise nondeterministically drop the evolved column
    # from rewritten partitions (review-found)
    from engage_spark.versioning import _logged_reader

    tgt = _logged_reader(
        spark, target, merge=_evolution_marker_exists(spark, target)
    ).parquet(target)
    new_cols = _check_merge_schema(
        spark, target,
        tgt.columns,
        [c for c in updates.columns if c != delete_col],
        evolve_schema,
    )
    _batch_keys(updates, key_cols, check_unique_keys)
    if delete_col is not None:
        inserts = updates.filter(~F.col(delete_col)).drop(delete_col)
        deletes = updates.filter(F.col(delete_col))
    else:
        inserts = updates
        deletes = None
    stats = {
        "touched_partitions": None, "emptied_partitions": 0,
        "bootstrap": False,
    }
    ukeys = updates.select(*key_cols).dropDuplicates()
    for k in key_cols:
        ukeys = ukeys.withColumnRenamed(k, f"__u_{k}")

    def key_cond(left):
        return functools.reduce(
            operator.and_,
            [left[k].eqNullSafe(ukeys[f"__u_{k}"]) for k in key_cols],
        )

    upd_parts = inserts.select(*partition_by)
    if deletes is not None and assume_partition_stable:
        upd_parts = upd_parts.unionByName(deletes.select(*partition_by))
    if assume_partition_stable:
        touched_df = upd_parts.dropDuplicates()
    else:
        matched = (
            tgt.join(F.broadcast(ukeys), key_cond(tgt), "left_semi")
            .select(*partition_by)
        )
        touched_df = upd_parts.unionByName(matched).dropDuplicates()
    touched = _collect_touched(
        touched_df, partition_by, max_touched_partitions + 1
    )
    stats["touched_partitions"] = len(touched)
    if not touched:
        return {"stats": stats, "staging": None}
    # layout guard: EVERY live file must sit under the expected hive
    # dirs — a single stray flat file (a mixed layout from an
    # out-of-band writer) would corrupt the rename commit
    live_now = _live_names(spark, target)
    want = [f"{c}=" for c in partition_by]
    for name in live_now:
        segs = name.split("/")[:-1]
        if len(segs) != len(want) or any(
            not s.startswith(w) for s, w in zip(segs, want)
        ):
            raise ValueError(
                f"{target} is version-logged and live file {name} "
                f"does not sit under the partition_by="
                f"{partition_by} hive layout; a partitioned MERGE "
                "needs a matching layout — rewrite via "
                "zorder_write(partition_by=...) first"
            )
    if len(touched) > max_touched_partitions:
        # near-full rewrite: merge the whole dataset, version it as
        # one swap of every live file
        stats["touched_partitions"] = None
        survivors = tgt.join(F.broadcast(ukeys), key_cond(tgt), "left_anti")
        touched_dirs = None
        old_names = live_now
    else:
        def part_filter(df):
            return functools.reduce(
                operator.or_,
                [
                    functools.reduce(
                        operator.and_,
                        [
                            df[c].eqNullSafe(F.lit(row[c]))
                            for c in partition_by
                        ],
                    )
                    for row in touched
                ],
            )

        tslice = tgt.filter(part_filter(tgt))
        survivors = tslice.join(
            F.broadcast(ukeys), key_cond(tslice), "left_anti"
        )
        touched_dirs = {
            _touched_dir(row, partition_by) for row in touched
        }
        old_names = [
            n for n in live_now
            if n.rsplit("/", 1)[0] in touched_dirs
        ]
    merged = _merge_union(survivors, inserts, new_cols)
    staging = (
        f"{target}{_UPSERT_STAGING_INFIX}{_uuid.uuid4().hex[:12]}"
    )
    # clustered target: stage the merged slice ON the frozen Z-curve
    # (the apply_deletes rule) so the hourly MERGE stops degrading
    # layout health
    zm_fs, zm_p = _hadoop_fs(spark, f"{target}/_zorder_meta/info")
    if zm_fs.exists(zm_p):
        m = zorder_meta(spark, target)
        _write_z_layout(
            _zorder_scale_frozen(spark, merged, target, m),
            max(1, len(old_names)), partition_by, "overwrite", staging,
        )
    else:
        merged.write.mode("overwrite").partitionBy(
            *partition_by
        ).parquet(staging)
    return {
        "stats": stats,
        "staging": staging,
        "staged": _staged_rel_files(spark, staging),
        "old_names": old_names,
        "touched_dirs": touched_dirs,
        "pinned_v": pinned_v,
    }


_UPSERT_STAGING_INFIX = "__upsert_staging_"
# MERGE's gate materialization sibling (upsert_dataset). In vacuum's
# orphan sweep alongside the other staging infixes: a driver crash
# between the materialize and the finally-cleanup would otherwise leak
# the change batch forever (ADVICE r14).
_GATE_STAGING_INFIX = "__gate_staging_"


def _upsert_commit_partitioned(spark: SparkSession, target: str, st: dict):
    """COMMIT tail of the optimistic versioned partitioned MERGE:
    manifest (pins the swap for crash replay) → retain the replaced
    files → rename the staged slice in → drop emptied partition dirs →
    ONE exact `upsert` entry → cleanup. Pure metadata, O(files in the
    swap). Caller holds the maintenance lease and has verified the
    pinned version is still latest."""
    import json as _json

    from engage_spark.versioning import _retain_file, _vlog_append_entry

    staged, old_names = st["staged"], st["old_names"]
    staging = st["staging"]
    mfs, mp = _hadoop_fs(spark, f"{target}/{_UPSERT_MANIFEST}")
    out = mfs.create(mp, True)
    out.write(
        _json.dumps(
            {
                "staging": staging,
                "adds": sorted(staged),
                "removes": sorted(old_names),
            }
        ).encode()
    )
    out.close()
    from engage_spark.commitstore import get_commit_store

    store = get_commit_store()
    for n in old_names:
        _retain_file(spark, target, n)
    for rel in staged:
        src_fs, src_p = _hadoop_fs(spark, f"{staging}/{rel}")
        dst_fs, dst_p = _hadoop_fs(spark, f"{target}/{rel}")
        if dst_fs.exists(dst_p):
            src_fs.delete(src_p, False)  # duplicate from a replay
        else:
            store.move(spark, f"{staging}/{rel}", f"{target}/{rel}")
    # a touched partition that received no staged file back was
    # emptied by deletes — remove its (now file-less) directory
    staged_dirs = {rel.rsplit("/", 1)[0] for rel in staged}
    was_dirs = (
        st["touched_dirs"]
        if st["touched_dirs"] is not None
        else {n.rsplit("/", 1)[0] for n in old_names}
    )
    emptied = 0
    for d in sorted(was_dirs - staged_dirs):
        efs, ep = _hadoop_fs(spark, f"{target}/{d}")
        if efs.exists(ep):
            store.delete_dir(spark, f"{target}/{d}")
            emptied += 1
    st["stats"]["emptied_partitions"] = emptied
    _vlog_append_entry(
        spark, target, "upsert",
        added=sorted(staged), removed=sorted(old_names),
    )
    sfs, sp = _hadoop_fs(spark, staging)
    sfs.delete(sp, True)
    mfs.delete(mp, True)


def _batch_keys(
    updates: DataFrame, key_cols: list, check_unique: bool
) -> list | None:
    """Enforce an upsert batch's one-row-per-key contract (when
    `check_unique`) and return its keys when they can stay on the
    driver: the batch's optimized plan is a ``LocalRelation`` (a
    ``createDataFrame`` of local rows) of at most
    ``_DELETES_LITERAL_MAX`` rows, keyed by ONE integer or string
    column with no NULL key. Those keys are collected with no Spark
    job and checked here; every other batch returns None after one
    aggregation job checks it. A NULL key stays on the Spark path
    because the merge matches keys null-safely, which the literal
    filter does not."""
    keys = None
    dtypes = (T.ByteType, T.ShortType, T.IntegerType, T.LongType, T.StringType)
    if len(key_cols) == 1 and isinstance(
        updates.schema[key_cols[0]].dataType, dtypes
    ):
        plan = updates._jdf.queryExecution().optimizedPlan()
        if (
            plan.getClass().getSimpleName() == "LocalRelation"
            and plan.data().size() <= _DELETES_LITERAL_MAX
        ):
            keys = [r[0] for r in updates.select(key_cols[0]).collect()]
            if any(k is None for k in keys):
                keys = None
    if check_unique:
        if keys is not None:
            seen: set = set()
            dup = next((k for k in keys if k in seen or seen.add(k)), None)
            dup = None if dup is None else [{key_cols[0]: dup}]
        else:
            dup = (
                updates.groupBy(*key_cols)
                .agg(F.count(F.lit(1)).alias("__n"))
                .filter(F.col("__n") > 1)
                .limit(1)
                .collect()
            )
        if dup:
            raise ValueError(
                f"updates batch has multiple rows for key "
                f"{[dup[0][k] for k in key_cols]}; upsert semantics "
                "need one row per key (delete rows included)"
            )
    return keys


def _upsert_dataset_impl(
    spark: SparkSession,
    target: str,
    updates: DataFrame,
    key_cols: Sequence[str],
    partition_by: Sequence[str] | None = None,
    delete_col: str | None = None,
    assume_partition_stable: bool = False,
    check_unique_keys: bool = True,
    max_touched_partitions: int = 4096,
    evolve_schema: bool = False,
) -> dict:
    """MERGE INTO semantics on a plain parquet dataset (no table-format
    dependency): target rows whose key matches any `updates` key are
    replaced; update rows flagged true in `delete_col` delete the key
    instead of inserting; unmatched update rows are appended. If the
    target does not exist yet, the non-delete updates bootstrap it.

    This is the CDC / document-refresh path a long-lived corpus needs —
    re-crawled pages, takedown deletes, metadata fixes — without
    rewriting 100 TB per batch. Scale design:

    - With `partition_by`, ONLY the hive partitions the batch touches
      are rewritten: the merged slice is staged, then written back with
      `partitionOverwriteMode=dynamic` so untouched partitions' files
      are never read or replaced. On a VERSION-LOGGED target the
      commit is retain-then-rename instead (touched partitions' files
      move to `_versions/retained`, staged files rename in, one exact
      `upsert` entry) — full time travel/CDF through the MERGE, and
      the slice is written once, not twice (r14). Touched = the updates' partition
      values UNION the partitions of matched target rows (a key can
      move partitions, e.g. a language re-classification); the second
      set needs one column-pruned scan of the target's key+partition
      columns with the update keys broadcast. Pass
      `assume_partition_stable=True` to skip that scan when keys never
      change partition (partition derived from the key, the common
      layout) — then the batch cost is O(touched partitions), not
      O(target).
    - Touched-partition tuples are collected (bounded: the partitions
      one CDC batch touches, not the dataset's partition count) to
      build a static pruning filter — the survivors scan reads only
      those directories (the eqNullSafe OR lands entirely in the
      scan's PartitionFilters; plan-pinned by tests/test_plans.py).
      A batch touching more than `max_touched_partitions` is a
      near-full rewrite anyway, so it falls back to merging the whole
      dataset in one static overwrite instead of collecting an
      unbounded tuple list.
    - A partition emptied by deletes is removed outright (dynamic
      overwrite cannot express "now empty"); directory names follow
      Hive escaping including __HIVE_DEFAULT_PARTITION__.
    - Without `partition_by` the whole dataset is rewritten through a
      staging directory (the unavoidable shape for unpartitioned data;
      partition anything you expect to merge into).

    `updates` must be key-unique (one row per key, delete rows
    included); `check_unique_keys` enforces it with one aggregation on
    the batch. Key matching is null-safe. Returns
    {"touched_partitions": int | None, "emptied_partitions": int,
    "bootstrap": bool}.
    """
    import functools
    import operator

    from engage_spark.versioning import (
        _live_names,
        _retain_file,
        _vlog_append_entry,
        _vlog_reconcile,
        version_log_enabled,
    )

    key_cols = list(key_cols)
    partition_by = list(partition_by or [])
    # a prior full-rewrite MERGE may have died inside _swap_dirs'
    # destructive window; its marker rolls the staged copy forward
    # BEFORE the bootstrap check below could mistake the missing
    # target for "first write" and quietly re-seed it from one batch
    _swap_recover(spark, target)
    vlog = version_log_enabled(spark, target)
    if vlog:
        # a prior partitioned MERGE may have crashed mid-commit;
        # finish its pinned swap BEFORE reconcile can log the half
        # state as drift (the facade holds the lease here)
        _upsert_replay_pending(spark, target)
    if not vlog:
        from engage_spark.versioning import _publish_stash_exists

        if _publish_stash_exists(spark, target):
            raise RuntimeError(
                f"a versioned republish of {target} is in flight or "
                "crashed with an unexpired lease (its _versions dir is "
                "in the publish stash); an upsert overwrite now would "
                "delete files the history references — retry after it "
                "completes or the lease expires"
            )
    # vlog + partition_by (r14): routed by the upsert_dataset facade
    # through the OPTIMISTIC stage/commit pair
    # (_upsert_stage_partitioned / _upsert_commit_partitioned) — the
    # retain-then-rename protocol that keeps exact history through the
    # hourly MERGE. This impl must never take that shape through the
    # dynamic-overwrite path below (it would silently punch the old
    # reconcile hole back into the history).
    if vlog and partition_by:
        raise AssertionError(
            "versioned partitioned MERGE must go through "
            "upsert_dataset (optimistic stage/commit), not "
            "_upsert_dataset_impl"
        )
    # a small local batch's keys, checked and kept on the driver
    local_keys = _batch_keys(updates, key_cols, check_unique_keys)
    if delete_col is not None:
        inserts = updates.filter(~F.col(delete_col)).drop(delete_col)
        deletes = updates.filter(F.col(delete_col))
    else:
        inserts = updates
        deletes = None
    stats = {"touched_partitions": None, "emptied_partitions": 0, "bootstrap": False}

    fs, p = _hadoop_fs(spark, target)
    exists = fs.exists(p) and len(fs.listStatus(p)) > 0
    if not exists:
        write_parquet(inserts, target, partition_by=partition_by or None)
        stats["bootstrap"] = True
        return stats

    # marker-driven: an EVOLVED corpus is read with mergeSchema by
    # every merge regardless of this call's flag (one fs.exists on
    # unevolved corpora) — footer sampling on a mixed-schema target
    # would otherwise nondeterministically drop the evolved column
    # from rewritten partitions (review-found)
    from engage_spark.versioning import _logged_reader

    tgt = _logged_reader(
        spark, target, merge=_evolution_marker_exists(spark, target)
    ).parquet(target)
    new_cols = _check_merge_schema(
        spark, target,
        tgt.columns,
        [c for c in updates.columns if c != delete_col],
        evolve_schema,
    )

    ukeys = updates.select(*key_cols).dropDuplicates()
    for k in key_cols:
        ukeys = ukeys.withColumnRenamed(k, f"__u_{k}")

    def key_cond(left):
        return functools.reduce(
            operator.and_,
            [left[k].eqNullSafe(ukeys[f"__u_{k}"]) for k in key_cols],
        )

    staging = f"{target}__upsert_staging"

    if not partition_by:
        if vlog:
            _vlog_reconcile(spark, target)
            old_names = _live_names(spark, target)
        if local_keys is not None:
            # the batch keys as a literal filter: no broadcast job
            survivors = tgt.filter(
                _keys_in(key_cols[0], set(local_keys), negate=True)
            )
        else:
            survivors = tgt.join(
                F.broadcast(ukeys), key_cond(tgt), "left_anti"
            )
        merged = _merge_union(survivors, inserts, new_cols)
        merged.write.mode("overwrite").parquet(staging)
        if vlog:
            # the merged copy is safely staged; move the old data files
            # into _versions/retained (they ride out the overwrite
            # inside the stashed _versions dir) so every pre-upsert
            # version stays readable
            for name in old_names:
                _retain_file(spark, target, name)
        # Commit by RENAME, not by a second full write: the staged dir
        # already holds the exact merged bytes, so re-reading it through
        # Spark and rewriting the target paid the whole merge's write
        # I/O twice (r15 optimization round, guide §1.2 — at 100 TB this
        # halves the MERGE's write cost; the versioned partitioned
        # commit has used the rename protocol since r14). Staging stays
        # the ONLY full copy until the swap lands; on failure it is
        # preserved and named in the error for recovery.
        # Sidecar dirs (_zorder_meta: the dataset's frozen clustering
        # definition, still valid after a row merge) are stashed across
        # the destructive swap — a table format would keep its log
        # the same way; the merge degrades layout HEALTH, which
        # zorder_layout_stats measures and optimize_dataset repairs.
        stashed = _stash_sidecars(spark, target)
        try:
            _swap_dirs(spark, staging, target)
        except BaseException as e:
            raise RuntimeError(
                f"upsert commit of {target} failed mid-swap; the "
                f"merged recovery copy is preserved at {staging}"
            ) from e
        finally:
            _restore_sidecars(spark, stashed)
        if vlog:
            # op=upsert does NOT clear pending deletion vectors: the
            # `_deletes` sidecar survives the swap (stashed/restored),
            # so time travel mirrors the live read_with_deletes view
            _vlog_append_entry(
                spark, target, "upsert",
                added=_live_names(spark, target), removed=old_names,
            )
        return stats

    upd_parts = inserts.select(*partition_by)
    if deletes is not None and assume_partition_stable:
        upd_parts = upd_parts.unionByName(deletes.select(*partition_by))
    if assume_partition_stable:
        touched_df = upd_parts.dropDuplicates()
    else:
        matched = (
            tgt.join(F.broadcast(ukeys), key_cond(tgt), "left_semi")
            .select(*partition_by)
        )
        touched_df = upd_parts.unionByName(matched).dropDuplicates()
    # bounded: one batch's partitions — but capped defensively; a batch
    # touching more partitions than the cap is a near-full rewrite, so
    # fall back to the whole-dataset merge instead of collecting an
    # unbounded tuple list / building a degenerate pruning expression
    touched = _collect_touched(
        touched_df, partition_by, max_touched_partitions + 1
    )
    stats["touched_partitions"] = len(touched)
    if not touched:
        return stats

    def part_filter(df):
        return functools.reduce(
            operator.or_,
            [
                functools.reduce(
                    operator.and_,
                    [df[c].eqNullSafe(F.lit(row[c])) for c in partition_by],
                )
                for row in touched
            ],
        )

    if len(touched) > max_touched_partitions:
        stats["touched_partitions"] = None  # unknown: full-rewrite path
        survivors = tgt.join(F.broadcast(ukeys), key_cond(tgt), "left_anti")
        merged = _merge_union(survivors, inserts, new_cols)
        merged.write.mode("overwrite").partitionBy(*partition_by).parquet(
            staging
        )
        stashed = _stash_sidecars(spark, target)
        # full rewrite committed by RENAME of the staged hive tree (see
        # the unpartitioned path): every partition is replaced, so
        # emptied partitions disappear without bookkeeping, and the
        # staged bytes move instead of being read back and rewritten
        # (the read-back partition-type cast is moot — the staged
        # directory names ARE the final ones)
        try:
            _swap_dirs(spark, staging, target)
        except BaseException as e:
            # keep the staging copy when the destructive swap fails
            raise RuntimeError(
                f"upsert commit of {target} failed mid-swap; the "
                f"merged recovery copy is preserved at {staging}"
            ) from e
        finally:
            _restore_sidecars(spark, stashed)
        return stats

    tslice = tgt.filter(part_filter(tgt))
    survivors = tslice.join(F.broadcast(ukeys), key_cond(tslice), "left_anti")
    merged = _merge_union(survivors, inserts, new_cols)
    merged.write.mode("overwrite").partitionBy(*partition_by).parquet(staging)
    sfs, sp = _hadoop_fs(spark, staging)
    try:
        # Commit by PER-PARTITION RENAME instead of a dynamic-overwrite
        # re-write of the staged slice (r15 optimization round, guide
        # §1.2): the staged hive tree already holds the exact merged
        # bytes under their final directory names, so each touched
        # partition's old dir is dropped and the staged one moves in —
        # O(touched) metadata ops replace a second full write of the
        # slice. A touched partition with no staged dir was emptied by
        # deletes. The `_hive_part_dir` ↔ Spark directory-name equality
        # this relies on is the same one the r14 versioned commit
        # (_upsert_commit_partitioned) and the emptied-dir deletion
        # below have always relied on.
        from engage_spark.commitstore import get_commit_store

        store = get_commit_store()
        staged = _staged_rel_files(spark, staging)
        staged_dirs = {rel.rsplit("/", 1)[0] for rel in staged}
        emptied = 0
        for row in touched:
            sub = _touched_dir(row, partition_by)
            efs, ep = _hadoop_fs(spark, f"{target}/{sub}")
            if efs.exists(ep):
                store.delete_dir(spark, f"{target}/{sub}")
            if sub not in staged_dirs:
                emptied += 1
        for rel in staged:
            store.move(spark, f"{staging}/{rel}", f"{target}/{rel}")
        stats["emptied_partitions"] = emptied
    except BaseException as e:
        # the swap deletes each touched partition before renaming its
        # replacement in — keep the staging slice for recovery
        raise RuntimeError(
            f"upsert commit of {target} failed mid-swap; the "
            f"merged partition slice is preserved at {staging}"
        ) from e
    sfs.delete(sp, True)
    return stats


def compact_ingest_state(
    spark: SparkSession,
    src: str,
    dst: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Between-runs compaction for the streaming ingest's run-partitioned
    state dirs (fingerprint store, near-dup index bands/hashes, corpus):
    collapse every finished run's run=<tag>_batch=<n> partitions into a
    single right-sized `run=history` partition.

    The hive layout MUST survive: a flat rewrite would make the next
    run's run=... appends fail Spark's partition discovery (mixed
    partitioned/unpartitioned structure), while `run=history` keeps the
    layout and the ingest's own-batch replay exclusion treats any
    non-matching run value as committed history. Only compact BETWEEN
    runs — a run in flight relies on its own partitions for replay
    idempotence. Returns the file count targeted (compact_dataset's
    contract)."""
    df = spark.read.parquet(src).withColumn("run", F.lit("history"))
    staging = f"{dst}__staging"
    df.write.mode("overwrite").parquet(staging)
    try:
        n = compact_dataset(
            spark, staging, dst, target_file_bytes=target_file_bytes,
            partition_by=["run"],
        )
    finally:
        # best-effort cleanup of the staging copy (works on any
        # Hadoop FS URI, not just local paths)
        jvm = spark._jvm
        conf = spark._jsc.hadoopConfiguration()
        p = jvm.org.apache.hadoop.fs.Path(staging)
        p.getFileSystem(conf).delete(p, True)
    return n
