"""Sink / multi-file-scan operators (SURVEY.md §2.1 S2, S4, S5, S6).

The sinks are exercised as a round trip: write → read back → aggregate,
oracle-checked against the source table (disk round trips must be
lossless, which makes the sink itself hash-verifiable).

S6 (the reference's per-group plot sinks) is implemented since r11 via
engage_spark/plotting.py — deterministic dependency-free SVG by
default, matplotlib PNG behind a guarded optional import — and the
plot-ready table is hash-verified here (s6_plot_sink).
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from engage_spark.io import read_csv_glob, table, write_parquet
from engage_spark.registry import query

# One process-scoped scratch root, reused by every sink query run
# (mode=overwrite -> repeated runs replace, never accumulate) and
# removed at interpreter exit. The returned DataFrames are lazy, so
# per-query `finally` cleanup would delete the data before the caller
# collects it.
_SCRATCH: str | None = None


def _scratch(sub: str) -> str:
    global _SCRATCH
    if _SCRATCH is None:
        _SCRATCH = tempfile.mkdtemp(prefix="engage_sinks_")
        atexit.register(shutil.rmtree, _SCRATCH, ignore_errors=True)
    return os.path.join(_SCRATCH, sub)


@query(
    "s4_s5_parquet_partitioned_roundtrip",
    oracle="""
    SELECT event_type, count(*)::BIGINT AS n,
           round(sum(value) + 1e-9, 4) AS sum_value
    FROM events GROUP BY event_type
    """,
    covers=["S4", "S5"],
)
def s4_s5_parquet_partitioned_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned parquet sink + scan-back (S4; S5 = partitionBy
    replaces the reference's rewrite-whole-CSV-per-group loop,
    weather_pred.py:407-409). The oracle checks the round trip is
    lossless. Partition directories (`event_type=...`) are also what
    gives partition pruning on the read side at scale."""
    ev = table(spark, sf_dir, "events")
    out = _scratch("events_by_type")
    write_parquet(ev, out, partition_by=["event_type"])
    back = spark.read.parquet(out)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value") + 1e-9, 4).alias("sum_value"),
    )


@query(
    "s4b_json_orc_roundtrip",
    oracle="""
    SELECT fmt, event_type, count(*)::BIGINT AS n,
           round(sum(value) + 1e-9, 4) AS sum_value
    FROM (SELECT 'json' AS fmt, event_type, value FROM events
          UNION ALL
          SELECT 'orc' AS fmt, event_type, value FROM events)
    GROUP BY fmt, event_type
    """,
    covers=["S4"],
)
def s4b_json_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines and ORC sinks + scan-back (S4 beyond the reference's
    CSV-only surface): write `events` in both formats, read each back,
    aggregate — the oracle checks both round trips are lossless against
    the source table. JSONL is the interchange format crawl/annotation
    pipelines actually emit; ORC covers the columnar-format matrix
    beyond parquet. Timestamps are dropped before the JSON leg (JSON has
    no native timestamp type; value fidelity there is a schema-mapping
    policy, not a sink property)."""
    ev = table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    base = _scratch("fmt_roundtrip")
    ev.write.mode("overwrite").json(os.path.join(base, "events_json"))
    ev.write.mode("overwrite").orc(os.path.join(base, "events_orc"))
    back_json = spark.read.json(os.path.join(base, "events_json"))
    back_orc = spark.read.orc(os.path.join(base, "events_orc"))
    agg = lambda df, fmt: (  # noqa: E731
        df.groupBy(F.lit(fmt).alias("fmt"), "event_type").agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value") + 1e-9, 4).alias("sum_value"),
        )
    )
    return agg(back_json, "json").unionByName(agg(back_orc, "orc"))


@query(
    "s2_multifile_csv_glob_scan",
    oracle="""
    SELECT user_id, count(*)::BIGINT AS n
    FROM events
    WHERE event_type IN ('click', 'view')
    GROUP BY user_id
    """,
    covers=["S2", "U1"],
)
def s2_multifile_csv_glob_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-file CSV scan with a filename filter (S2): the reference
    picks weather files by year-in-filename then concats
    (covid_data_transform.py:139-152); here per-type CSV files are
    written once, then a pathGlobFilter scan reads only the matching
    subset — source-listing-time pruning, with the concat implicit in
    the multi-file scan (U1)."""
    ev = table(spark, sf_dir, "events").select("event_id", "user_id", "event_type")
    base = _scratch("by_type")
    for et in ["click", "view", "purchase"]:
        (
            ev.filter(F.col("event_type") == et)
            .coalesce(1)
            .write.mode("overwrite")
            .option("header", True)
            .csv(os.path.join(base, f"events_{et}"))
        )
    # glob keeps only click/view files out of the listing
    clicks_views = read_csv_glob(spark, f"{base}/events_{{click,view}}/*.csv")
    return clicks_views.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))

@query(
    "s7_compaction_roundtrip",
    oracle="""
    SELECT source, count(*)::BIGINT AS n, sum(n_chars)::BIGINT AS chars
    FROM documents GROUP BY source
    """,
    covers=["S4", "S5"],
)
def s7_compaction_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction + scan-back: fragment `documents` into 16
    undersized files (the debris a per-micro-batch ingest or frequent
    partitioned append leaves behind), compact with io.compact_dataset
    (file count = ceil(total_bytes / target), sized via the Hadoop FS
    API), read the compacted dataset back and aggregate — the oracle
    checks the maintenance pass is lossless. The file-count contract
    itself is pinned by tests/test_api.py."""
    from engage_spark.io import compact_dataset

    d = table(spark, sf_dir, "documents")
    frag = _scratch("docs_fragmented")
    comp = _scratch("docs_compacted")
    d.repartition(16).write.mode("overwrite").parquet(frag)
    compact_dataset(spark, frag, comp, target_file_bytes=32 * 1024 * 1024)
    back = spark.read.parquet(comp)
    return back.groupBy("source").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("n_chars").cast("long").alias("chars"),
    )


@query(
    "s8_partitioned_compaction_nulls",
    # The oracle reproduces the null-injection rule and aggregates the
    # SOURCE frame — the Spark side aggregates the compacted READ-BACK,
    # so a hash match proves the partitioned maintenance pass is
    # lossless INCLUDING the NULL-partition rows (the round-9
    # ADVICE-high defect class: an inner equi-join on the partition key
    # silently dropped them).
    oracle="""
    SELECT coalesce(CASE WHEN doc_id % 7 = 0 THEN NULL ELSE lang END,
                    '__null__') AS lang_part,
           count(*)::BIGINT AS n,
           sum(n_chars)::BIGINT AS chars
    FROM documents
    GROUP BY 1
    """,
    covers=["S4", "S5"],
)
def s8_partitioned_compaction_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-PARTITIONED compaction with NULL partition values, driver
    hash-checked: inject NULLs into a copy of the partition column
    (every 7th doc), fragment, compact with partition_by, read the
    compacted dataset back and aggregate per partition value. Rows
    with a NULL partition value land in __HIVE_DEFAULT_PARTITION__ and
    MUST survive the roundtrip — io.compact_dataset joins its
    per-partition file counts null-safely (eqNullSafe) precisely so
    this query hashes equal to the source-frame oracle."""
    from engage_spark.io import compact_dataset

    d = table(spark, sf_dir, "documents").withColumn(
        "lang_part",
        F.when(F.col("doc_id") % 7 == 0, F.lit(None)).otherwise(F.col("lang")),
    )
    frag = _scratch("docs_pfrag")
    comp = _scratch("docs_pcompact")
    d.repartition(8).write.mode("overwrite").parquet(frag)
    compact_dataset(
        spark, frag, comp, target_file_bytes=32 * 1024 * 1024,
        partition_by=["lang_part"],
    )
    back = spark.read.parquet(comp)
    return back.groupBy(
        F.coalesce(F.col("lang_part"), F.lit("__null__")).alias("lang_part")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("n_chars").cast("long").alias("chars"),
    )


@query(
    "s9_upsert_merge_roundtrip",
    # The oracle replays the same MERGE in SQL over the SOURCE table:
    # target rows whose key appears in the batch drop out, non-delete
    # batch rows come in. The Spark side aggregates the post-merge
    # TARGET READ-BACK, so a hash match proves the partial-rewrite
    # machinery (touched-partition pruning, dynamic overwrite,
    # partition-moving updates) is exactly MERGE INTO.
    oracle="""
    WITH src AS (SELECT doc_id, lang, source, n_chars FROM documents),
    upd AS (
      SELECT doc_id,
             CASE WHEN doc_id % 30 = 0 THEN 'xx' ELSE lang END AS lang,
             source, n_chars + 1000 AS n_chars, false AS is_delete
      FROM src WHERE doc_id % 10 = 0 AND doc_id % 17 <> 3
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, lang, 'ins' AS source,
             777::BIGINT AS n_chars, false AS is_delete
      FROM src WHERE doc_id % 13 = 5
      UNION ALL
      SELECT doc_id, lang, source, n_chars, true AS is_delete
      FROM src WHERE doc_id % 17 = 3
    ),
    merged AS (
      SELECT s.doc_id, s.lang, s.source, s.n_chars FROM src s
      WHERE s.doc_id NOT IN (SELECT doc_id FROM upd)
      UNION ALL
      SELECT doc_id, lang, source, n_chars FROM upd WHERE NOT is_delete
    )
    SELECT lang, count(*)::BIGINT AS n, sum(n_chars)::BIGINT AS chars,
           sum(doc_id)::BIGINT AS id_sum
    FROM merged GROUP BY lang
    """,
    covers=["S4", "S5"],
)
def s9_upsert_merge_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO on a lang-partitioned parquet corpus (io.upsert_dataset)
    — the CDC / re-crawl / takedown maintenance path: in-place metadata
    updates, partition-MOVING updates (doc_id%30==0 re-classified to a
    brand-new lang partition), fresh inserts, and key deletes, all in
    one batch. Only the touched lang partitions are rewritten (dynamic
    partition overwrite; untouched partitions' files survive
    byte-identical — pinned by tests/test_api.py). The returned frame
    aggregates the post-merge read-back per lang; the oracle recomputes
    the merge in pure SQL over the source table."""
    from engage_spark.io import upsert_dataset

    d = table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    tgt = _scratch("docs_upsert_target")
    import shutil

    shutil.rmtree(tgt, ignore_errors=True)  # idempotent across reruns
    write_parquet(d, tgt, partition_by=["lang"])
    changed = (
        d.filter((F.col("doc_id") % 10 == 0) & (F.col("doc_id") % 17 != 3))
        .withColumn(
            "lang",
            F.when(F.col("doc_id") % 30 == 0, F.lit("xx")).otherwise(
                F.col("lang")
            ),
        )
        .withColumn("n_chars", (F.col("n_chars") + 1000).cast("long"))
        .withColumn("is_delete", F.lit(False))
    )
    ins = d.filter(F.col("doc_id") % 13 == 5).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        "lang",
        F.lit("ins").alias("source"),
        F.lit(777).cast("long").alias("n_chars"),
        F.lit(False).alias("is_delete"),
    )
    dels = d.filter(F.col("doc_id") % 17 == 3).withColumn(
        "is_delete", F.lit(True)
    )
    updates = changed.unionByName(ins).unionByName(dels)
    upsert_dataset(
        spark, tgt, updates, ["doc_id"], partition_by=["lang"],
        delete_col="is_delete",
    )
    back = spark.read.parquet(tgt)
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("n_chars").cast("long").alias("chars"),
        F.sum("doc_id").cast("long").alias("id_sum"),
    )


@query(
    "s9b_upsert_partitioned_versioned",
    # Oracle: the same MERGE replayed in SQL, emitted TWICE — the
    # pre-merge state tagged as_of=1 and the post-merge state as_of=2
    # — because the Spark side reads BOTH sides of the upsert via time
    # travel. A hash match therefore proves the partitioned MERGE's
    # retain-then-rename commit keeps exact history: read_version(1)
    # is the untouched original, read_version(2) is exactly MERGE
    # INTO, partition values included under the hash.
    oracle="""
    WITH src AS (SELECT doc_id, lang, source, n_chars FROM documents),
    upd AS (
      SELECT doc_id,
             CASE WHEN doc_id % 30 = 0 THEN 'xx' ELSE lang END AS lang,
             source, n_chars + 1000 AS n_chars, false AS is_delete
      FROM src WHERE doc_id % 10 = 0 AND doc_id % 17 <> 3
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, lang, 'ins' AS source,
             777::BIGINT AS n_chars, false AS is_delete
      FROM src WHERE doc_id % 13 = 5
      UNION ALL
      SELECT doc_id, lang, source, n_chars, true AS is_delete
      FROM src WHERE doc_id % 17 = 3
    ),
    merged AS (
      SELECT s.doc_id, s.lang, s.source, s.n_chars FROM src s
      WHERE s.doc_id NOT IN (SELECT doc_id FROM upd)
      UNION ALL
      SELECT doc_id, lang, source, n_chars FROM upd WHERE NOT is_delete
    )
    SELECT 1::BIGINT AS as_of, lang, count(*)::BIGINT AS n,
           sum(n_chars)::BIGINT AS chars, sum(doc_id)::BIGINT AS id_sum
    FROM src GROUP BY lang
    UNION ALL
    SELECT 2::BIGINT AS as_of, lang, count(*)::BIGINT AS n,
           sum(n_chars)::BIGINT AS chars, sum(doc_id)::BIGINT AS id_sum
    FROM merged GROUP BY lang
    """,
    covers=["S4", "S5"],
)
def s9b_upsert_partitioned_versioned(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The s9 MERGE on a VERSION-LOGGED lang-partitioned corpus (r14):
    publish → enable → partitioned MERGE (updates, partition-moving
    re-classifications, inserts, deletes) → time-travel BOTH sides.
    The upsert commits retain-then-rename (io._upsert_dataset_impl
    vlog branch): touched partitions' files move to retained/, staged
    files rename in, one exact `upsert` log entry — the reconcile-
    level history hole the hive-partitioned MERGE used to punch is
    closed, hash-verified end to end here."""
    from engage_spark.io import upsert_dataset
    from engage_spark.versioning import read_version, version_log_enable

    d = table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    tgt = _scratch("docs_upsert_versioned")
    import shutil

    shutil.rmtree(tgt, ignore_errors=True)  # idempotent across reruns
    write_parquet(d, tgt, partition_by=["lang"])
    version_log_enable(spark, tgt)                                 # v1
    changed = (
        d.filter((F.col("doc_id") % 10 == 0) & (F.col("doc_id") % 17 != 3))
        .withColumn(
            "lang",
            F.when(F.col("doc_id") % 30 == 0, F.lit("xx")).otherwise(
                F.col("lang")
            ),
        )
        .withColumn("n_chars", (F.col("n_chars") + 1000).cast("long"))
        .withColumn("is_delete", F.lit(False))
    )
    ins = d.filter(F.col("doc_id") % 13 == 5).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        "lang",
        F.lit("ins").alias("source"),
        F.lit(777).cast("long").alias("n_chars"),
        F.lit(False).alias("is_delete"),
    )
    dels = d.filter(F.col("doc_id") % 17 == 3).withColumn(
        "is_delete", F.lit(True)
    )
    upsert_dataset(
        spark, tgt, changed.unionByName(ins).unionByName(dels),
        ["doc_id"], partition_by=["lang"], delete_col="is_delete",
    )                                                              # v2

    def _agg(df: DataFrame, v: int) -> DataFrame:
        return df.groupBy("lang").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("n_chars").cast("long").alias("chars"),
            F.sum("doc_id").cast("long").alias("id_sum"),
        ).select(F.lit(v).cast("long").alias("as_of"), "*")

    return _agg(read_version(spark, tgt, 1), 1).unionByName(
        _agg(read_version(spark, tgt, 2), 2)
    )


from engage_spark.io import zorder_sql_fragment as _zfrag  # noqa: E402

# The oracle mirrors zorder_values exactly: same integer min-max
# scaling (// is DuckDB integer division; `div` on the Spark side —
# identical on the non-negative operands scaling produces) and the
# same generated bit-interleave expression (zorder_sql_fragment /
# io._interleave_sql are twins), so the layout's key function is
# hash-verified end to end, through a disk roundtrip.
_S10_ORACLE = f"""
WITH src AS (
  SELECT event_id, user_id,
         CAST(round(value * 100 + 1e-9) AS BIGINT) AS v_cents
  FROM events
),
mm AS (
  SELECT min(user_id) AS ulo, max(user_id) AS uhi,
         min(v_cents) AS vlo, max(v_cents) AS vhi
  FROM src
),
sc AS (
  SELECT event_id,
         ((user_id - ulo) * 65535)
           // (CASE WHEN uhi = ulo THEN 1 ELSE uhi - ulo END) AS sx,
         ((v_cents - vlo) * 65535)
           // (CASE WHEN vhi = vlo THEN 1 ELSE vhi - vlo END) AS sy
  FROM src, mm
),
z AS (SELECT event_id, {_zfrag(["sx", "sy"], 16)} AS zval FROM sc)
SELECT (zval >> 24)::BIGINT AS z_bucket, count(*)::BIGINT AS n,
       min(zval)::BIGINT AS z_lo, max(zval)::BIGINT AS z_hi,
       sum(event_id)::BIGINT AS id_sum
FROM z GROUP BY 1
"""


@query("s10_zorder_layout", oracle=_S10_ORACLE, covers=["S4", "S5"])
def s10_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustered write + scan-back (io.zorder_write):
    events quantized to (user_id, value-cents) and laid out on the
    interleaved-bit curve, so parquet footer stats prune point/range
    predicates on BOTH columns — the multi-dimensional data-skipping
    layout (scripts/measure_zorder_pruning.py records the measured
    skip rates; SCALE.md the numbers). The query recomputes the
    Z-value over the read-back and aggregates per curve bucket; the
    oracle rebuilds the identical integer scaling + interleave in SQL
    over the source table, so a hash match proves both the roundtrip
    and the curve math."""
    from engage_spark.io import zorder_values, zorder_write

    ev = table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.round(F.col("value") * 100 + 1e-9).cast("long").alias("v_cents"),
    )
    out = _scratch("events_zorder")
    zorder_write(spark, ev, out, ["user_id", "v_cents"], bits=16, num_files=8)
    back = spark.read.parquet(out)
    zb, _ = zorder_values(back, ["user_id", "v_cents"], bits=16)
    return zb.groupBy(
        F.shiftright(F.col("__z"), 24).cast("long").alias("z_bucket")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.min("__z").cast("long").alias("z_lo"),
        F.max("__z").cast("long").alias("z_hi"),
        F.sum("event_id").cast("long").alias("id_sum"),
    )


# Rank (equal-mass) scaling twin: sx/sy are exactly SQL
# `rank() OVER (ORDER BY col) - 1` scaled by (n-1) — ties=min, which is
# what the distributed distinct-value-CDF join in io.zorder_values
# computes — so the skew-robust mode is hash-verified too.
_S10B_ORACLE = f"""
WITH src AS (
  SELECT event_id, user_id,
         CAST(round(value * 100 + 1e-9) AS BIGINT) AS v_cents
  FROM events
),
sc AS (
  SELECT event_id,
         ((rank() OVER (ORDER BY user_id NULLS FIRST) - 1) * 65535)
           // greatest(1, (SELECT count(*) FROM src) - 1) AS sx,
         ((rank() OVER (ORDER BY v_cents NULLS FIRST) - 1) * 65535)
           // greatest(1, (SELECT count(*) FROM src) - 1) AS sy
  FROM src
),
z AS (SELECT event_id, {_zfrag(["sx", "sy"], 16)} AS zval FROM sc)
SELECT (zval >> 24)::BIGINT AS z_bucket, count(*)::BIGINT AS n,
       min(zval)::BIGINT AS z_lo, max(zval)::BIGINT AS z_hi,
       sum(event_id)::BIGINT AS id_sum
FROM z GROUP BY 1
"""


# Append twin: bounds derive from the FIRST half only (the frozen
# curve), the second half scales with those bounds CLAMPED at the
# curve edge — exactly what zorder_append's _zorder_scale_frozen does,
# so the whole append lifecycle (write meta -> append increment ->
# read back) is hash-verified.
_S10C_ORACLE = f"""
WITH src AS (
  SELECT event_id, user_id,
         CAST(round(value * 100 + 1e-9) AS BIGINT) AS v_cents
  FROM events
),
mm AS (
  SELECT min(user_id) AS ulo, max(user_id) AS uhi,
         min(v_cents) AS vlo, max(v_cents) AS vhi
  FROM src WHERE event_id % 2 = 0
),
sc AS (
  SELECT event_id,
         ((least(greatest(user_id, ulo), uhi) - ulo) * 65535)
           // (CASE WHEN uhi = ulo THEN 1 ELSE uhi - ulo END) AS sx,
         ((least(greatest(v_cents, vlo), vhi) - vlo) * 65535)
           // (CASE WHEN vhi = vlo THEN 1 ELSE vhi - vlo END) AS sy
  FROM src, mm
),
z AS (SELECT event_id, {_zfrag(["sx", "sy"], 16)} AS zval FROM sc)
SELECT (zval >> 24)::BIGINT AS z_bucket, count(*)::BIGINT AS n,
       min(zval)::BIGINT AS z_lo, max(zval)::BIGINT AS z_hi,
       sum(event_id)::BIGINT AS id_sum
FROM z GROUP BY 1
"""


@query("s10c_zorder_append_roundtrip", oracle=_S10C_ORACLE, covers=["S4", "S5"])
def s10c_zorder_append_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order append lifecycle (io.zorder_append): write HALF the
    events Z-ordered (persisting the scaling meta), append the other
    half ON THE FROZEN CURVE, read the combined dataset back and
    recompute every row's Z-value with the stored meta. The oracle
    replays the same semantics in SQL — bounds from the first half,
    edge-clamped scaling for the rest — so a hash match proves the
    meta roundtrip, the frozen-scale arithmetic, and the append path
    end to end."""
    from engage_spark.io import (
        _zorder_scale_frozen,
        zorder_append,
        zorder_meta,
        zorder_write,
    )

    ev = table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.round(F.col("value") * 100 + 1e-9).cast("long").alias("v_cents"),
    )
    out = _scratch("events_zorder_append")
    zorder_write(
        spark, ev.filter(F.col("event_id") % 2 == 0), out,
        ["user_id", "v_cents"], bits=16, num_files=4,
    )
    zorder_append(
        spark, ev.filter(F.col("event_id") % 2 == 1), out, num_files=4
    )
    back = spark.read.parquet(out)
    zb = _zorder_scale_frozen(spark, back, out, zorder_meta(spark, out))
    return zb.groupBy(
        F.shiftright(F.col("__z"), 24).cast("long").alias("z_bucket")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.min("__z").cast("long").alias("z_lo"),
        F.max("__z").cast("long").alias("z_hi"),
        F.sum("event_id").cast("long").alias("id_sum"),
    )


@query(
    "s10d_zorder_incremental_optimize_roundtrip",
    # SAME oracle as s10c: the output aggregates recomputed Z-values
    # from the DATA under the frozen meta, so it is invariant to file
    # layout — a hash match therefore proves optimize_incremental's
    # staged swap preserved every row exactly (none lost to the victim
    # deletes, none duplicated by the move-in) and left the frozen
    # curve untouched.
    oracle=_S10C_ORACLE,
    covers=["S4", "S5"],
)
def s10d_zorder_incremental_optimize_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The r11 PARTIAL OPTIMIZE lifecycle end to end: write half the
    events Z-ordered, append the other half on the frozen curve
    (creating overlapping files), run io.optimize_incremental — which
    rewrites ONLY the overlap victims through the staged-commit
    protocol (stage -> manifest -> idempotent swap) — then read the
    repaired dataset back and aggregate recomputed Z-values. The hash
    oracle proves exact row preservation through the in-place swap;
    that overlap strictly improves is pinned separately by
    test_optimize_incremental_rewrites_only_overlapping_files and the
    maintenance-loop example test (re-running zorder_layout_stats here
    would cost two extra full recompute scans per bench run)."""
    from engage_spark.io import (
        _zorder_scale_frozen,
        optimize_incremental,
        zorder_append,
        zorder_meta,
        zorder_write,
    )

    ev = table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.round(F.col("value") * 100 + 1e-9).cast("long").alias("v_cents"),
    )
    out = _scratch("events_zorder_incopt")
    zorder_write(
        spark, ev.filter(F.col("event_id") % 2 == 0), out,
        ["user_id", "v_cents"], bits=16, num_files=4,
    )
    zorder_append(
        spark, ev.filter(F.col("event_id") % 2 == 1), out, num_files=4
    )
    optimize_incremental(spark, out)
    back = spark.read.parquet(out)
    zb = _zorder_scale_frozen(spark, back, out, zorder_meta(spark, out))
    return zb.groupBy(
        F.shiftright(F.col("__z"), 24).cast("long").alias("z_bucket")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.min("__z").cast("long").alias("z_lo"),
        F.max("__z").cast("long").alias("z_hi"),
        F.sum("event_id").cast("long").alias("id_sum"),
    )


# Partitioned-clustered twin of the s10 oracle: same global min-max
# scaling + interleave (the curve is dataset-global by design — each
# partition carries the full curve), grouped by the PARTITION column
# too, so both the hive layout values and the curve math are hashed.
_S10E_ORACLE = f"""
WITH src AS (
  SELECT event_id, event_type, user_id,
         CAST(round(value * 100 + 1e-9) AS BIGINT) AS v_cents
  FROM events
),
mm AS (
  SELECT min(user_id) AS ulo, max(user_id) AS uhi,
         min(v_cents) AS vlo, max(v_cents) AS vhi
  FROM src
),
sc AS (
  SELECT event_id, event_type,
         ((user_id - ulo) * 65535)
           // (CASE WHEN uhi = ulo THEN 1 ELSE uhi - ulo END) AS sx,
         ((v_cents - vlo) * 65535)
           // (CASE WHEN vhi = vlo THEN 1 ELSE vhi - vlo END) AS sy
  FROM src, mm
),
z AS (SELECT event_id, event_type, {_zfrag(["sx", "sy"], 16)} AS zval
      FROM sc)
SELECT event_type, (zval >> 28)::BIGINT AS z_bucket,
       count(*)::BIGINT AS n, min(zval)::BIGINT AS z_lo,
       max(zval)::BIGINT AS z_hi, sum(event_id)::BIGINT AS id_sum
FROM z GROUP BY event_type, z_bucket
"""


@query("s10e_zorder_partitioned_layout", oracle=_S10E_ORACLE,
       covers=["S4", "S5"])
def s10e_zorder_partitioned_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HIVE-PARTITIONED + Z-CLUSTERED layout (r13) — THE standard
    100 TB corpus shape: partition on the coarse dimension
    (event_type here; dt= in production), Morton-cluster each
    partition's files on (user_id, v_cents) with ONE dataset-global
    frozen curve, so hive directory pruning composes with footer-stats
    pruning on both clustered columns. io.zorder_write(partition_by=)
    range-partitions on (partition cols, z), giving every partition
    dir z-disjoint right-sized files in one shuffle. The query writes
    the layout, reads it back, recomputes every row's Z-value with
    the stored meta, and aggregates per (partition value, curve
    bucket) — the oracle rebuilds the identical scaling + interleave
    in SQL, so the roundtrip, the partition values, AND the curve
    math are all under one hash."""
    from engage_spark.io import _zorder_scale_frozen, zorder_meta, zorder_write

    ev = table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        "user_id",
        F.round(F.col("value") * 100 + 1e-9).cast("long").alias("v_cents"),
    )
    out = _scratch("events_zorder_part")
    zorder_write(
        spark, ev, out, ["user_id", "v_cents"], bits=16, num_files=12,
        partition_by=["event_type"],
    )
    back = spark.read.parquet(out)
    zb = _zorder_scale_frozen(spark, back, out, zorder_meta(spark, out))
    return zb.groupBy(
        "event_type",
        F.shiftright(F.col("__z"), 28).cast("long").alias("z_bucket"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.min("__z").cast("long").alias("z_lo"),
        F.max("__z").cast("long").alias("z_hi"),
        F.sum("event_id").cast("long").alias("id_sum"),
    )


@query(
    "s6_plot_sink",
    # the oracle verifies the PLOT-READY table the renderer consumed
    # (per-group point count + y range); the SVG artifact itself is
    # byte-deterministic and pinned by tests/test_api.py (XML-parses,
    # one file per group, polyline per series, identical bytes across
    # renders)
    oracle="""
    WITH s AS (
      SELECT user_id, value, row_number() OVER (
          PARTITION BY user_id ORDER BY ts, event_id) AS rn
      FROM events WHERE user_id < 5
    )
    SELECT user_id, count(*)::BIGINT AS n_points,
           round(min(value) + 1e-9, 4) AS y_min,
           round(max(value) + 1e-9, 4) AS y_max
    FROM s WHERE rn <= 60 GROUP BY user_id
    """,
    covers=["S6"],
)
def s6_plot_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PLOT SINK (SURVEY §2.1 S6 — previously scoped out, implemented
    r11): the reference saves one per-state forecast line chart per
    group (covid_simulator.py:298-319 — series curves, legend, title,
    per-group file). Engine shape: reduce events to a bounded per-user
    60-point series, render one DETERMINISTIC SVG per group via
    plotting.plot_series_sink (dependency-free; matplotlib PNG behind
    the same optional-import guard as the Keras/PIL paths), and return
    the plot-ready table the renderer consumed — hash-verified, so the
    data feeding every chart is exactly right even though the chart
    bytes themselves are pinned by pytest instead of DuckDB."""
    from engage_spark.plotting import plot_series_sink

    ev = table(spark, sf_dir, "events").filter(F.col("user_id") < 5)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    series = (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 60)
        .select("user_id", "rn", "value")
    )
    out = _scratch("s6_plots")
    plot_series_sink(
        series, out, x_col="rn", y_cols=["value"], group_col="user_id",
        title="event value",
    )
    return series.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_points"),
        F.round(F.min("value") + 1e-9, 4).alias("y_min"),
        F.round(F.max("value") + 1e-9, 4).alias("y_max"),
    )


@query(
    "s13_delete_vector_roundtrip",
    # the oracle is the post-delete aggregate straight off the source:
    # a hash match proves the sidecar delete + anti-join read path
    # removes EXACTLY the deleted keys and nothing else
    oracle="""
    SELECT event_type, count(*)::BIGINT AS n,
           sum(event_id)::BIGINT AS id_sum
    FROM events WHERE event_id % 97 != 0
    GROUP BY event_type
    """,
    covers=["S4", "S5"],
)
def s13_delete_vector_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deletion vectors on plain parquet (r11): publish the events
    table Z-ordered, take down every 97th event with io.delete_rows —
    an O(batch) sidecar append that touches NO data file (the curve
    and its footer stats survive untouched) — and read back through
    io.read_with_deletes, whose broadcast anti-join hides the deleted
    keys. The physical rewrite is a scheduled io.apply_deletes vacuum
    (pytest-pinned), not part of the takedown latency. This is the
    DATA sibling of the index tombstone flow: before it, a takedown on
    an unpartitioned publish cost a full upsert rewrite."""
    from engage_spark.io import delete_rows, read_with_deletes, zorder_write

    ev = table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        "user_id",
        F.round(F.col("value") * 100 + 1e-9).cast("long").alias("v_cents"),
    )
    out = _scratch("events_delete_vectors")
    zorder_write(spark, ev, out, ["user_id", "v_cents"], bits=16, num_files=4)
    delete_rows(
        spark,
        out,
        ev.filter(F.col("event_id") % 97 == 0).select("event_id"),
        "event_id",
    )
    return (
        read_with_deletes(spark, out)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("event_id").cast("long").alias("id_sum"),
        )
    )


@query("s10b_zorder_rank_layout", oracle=_S10B_ORACLE, covers=["S4", "S5"])
def s10b_zorder_rank_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order write with RANK (equal-mass) scaling — the skew-robust
    mode: `value` is right-skewed, so min-max scaling wastes most of
    the curve's resolution on empty value space; rank scaling gives
    each file an equal-probability rectangle instead. Measured at
    sf0.1 that is the difference between keeping 23/32 and 11/32
    files on a secondary-column quantile strip (SCALE.md). Same
    roundtrip + recompute shape as s10 — the read-back re-derives the
    full rank CDF, so BOTH derivations are under the hash. (The
    persisted-meta fast path is exercised by s10c and the frozen-curve
    pytests instead: at bits=16 its Bucketizer ships ~50k boundary
    splits through py4j — a fixed cost that is noise under a real
    append but would dominate this query at bench scale.) Oracle: SQL
    window ranks (NULLS FIRST)."""
    from engage_spark.io import zorder_values, zorder_write

    ev = table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.round(F.col("value") * 100 + 1e-9).cast("long").alias("v_cents"),
    )
    out = _scratch("events_zorder_rank")
    zorder_write(
        spark, ev, out, ["user_id", "v_cents"], bits=16, num_files=8,
        scale="rank",
    )
    back = spark.read.parquet(out)
    zb, _ = zorder_values(back, ["user_id", "v_cents"], bits=16, scale="rank")
    return zb.groupBy(
        F.shiftright(F.col("__z"), 24).cast("long").alias("z_bucket")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.min("__z").cast("long").alias("z_lo"),
        F.max("__z").cast("long").alias("z_hi"),
        F.sum("event_id").cast("long").alias("id_sum"),
    )


@query(
    "s11_schema_evolution_roundtrip",
    # the oracle replays the two-generation union with the old batch's
    # missing column as NULL — exactly what mergeSchema must produce
    oracle="""
    WITH v AS (
      SELECT doc_id, lang, n_chars, NULL::DOUBLE AS quality
      FROM documents WHERE doc_id % 2 = 0
      UNION ALL
      SELECT doc_id, lang, n_chars, (doc_id % 100)::DOUBLE / 100 AS quality
      FROM documents WHERE doc_id % 2 = 1
    )
    SELECT lang, count(*)::BIGINT AS n, sum(n_chars)::BIGINT AS chars,
           count(quality)::BIGINT AS n_scored,
           round(avg(quality) + 1e-9, 4) AS avg_quality
    FROM v GROUP BY lang
    """,
    covers=["S4", "S5"],
)
def s11_schema_evolution_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on a long-lived corpus: an early batch written
    WITHOUT a column (pre-quality-scoring era), a later batch appended
    WITH it, read back as one dataset via mergeSchema — old rows
    surface NULL for the new column, new rows carry their scores. The
    drift path every multi-year ingest hits; the per-file schema stays
    what its writer knew, so old files never get rewritten. (Scale
    note: mergeSchema footer-merging costs a pass over file footers at
    planning time — production pins the merged schema explicitly via
    .schema(...) once it stabilizes; semantics are identical, which is
    what this hash pins.) Oracle replays the two-generation union in
    SQL."""
    d = table(spark, sf_dir, "documents")
    out = _scratch("docs_evolving")
    shutil.rmtree(out, ignore_errors=True)  # idempotent across reruns
    v1 = d.filter(F.col("doc_id") % 2 == 0).select("doc_id", "lang", "n_chars")
    v2 = (
        d.filter(F.col("doc_id") % 2 == 1)
        .select(
            "doc_id",
            "lang",
            "n_chars",
            ((F.col("doc_id") % 100).cast("double") / 100).alias("quality"),
        )
    )
    v1.write.parquet(out)
    v2.write.mode("append").parquet(out)
    back = spark.read.option("mergeSchema", "true").parquet(out)
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("n_chars").cast("long").alias("chars"),
        F.count("quality").cast("long").alias("n_scored"),
        F.round(F.avg("quality") + 1e-9, 4).alias("avg_quality"),
    )


@query(
    "s14_time_travel_versions",
    # the oracle recomputes each version's expected CONTENT straight
    # off the source table: a hash match proves read_version
    # reconstructs every snapshot exactly — init (evens), append
    # (all), logical delete (%97 hidden via the logged deletion
    # vector), optimize (rewrite-only, content unchanged), and the
    # physical vacuum (same content through the staged swap)
    oracle="""
    WITH ev AS (SELECT event_id, user_id % 8 AS grp FROM events),
    vis AS (
      SELECT 1 AS version, grp, event_id FROM ev WHERE event_id % 2 = 0
      UNION ALL SELECT 2, grp, event_id FROM ev
      UNION ALL SELECT 3, grp, event_id FROM ev WHERE event_id % 97 <> 0
      UNION ALL SELECT 4, grp, event_id FROM ev WHERE event_id % 97 <> 0
      UNION ALL SELECT 5, grp, event_id FROM ev WHERE event_id % 97 <> 0
    )
    SELECT version::BIGINT AS version, grp::BIGINT AS grp,
           count(*)::BIGINT AS n, sum(event_id)::BIGINT AS id_sum
    FROM vis GROUP BY version, grp
    """,
    covers=["S4", "S5"],
)
def s14_time_travel_versions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME TRAVEL over the version log (r12, engine extension —
    VERDICT r11 missing #2): publish half the events Z-ordered, enable
    the log, append the rest, logically delete every 97th event, run
    an incremental optimize, then physically vacuum the deletes — five
    logged versions — and read EVERY version back via
    versioning.read_version, aggregating per (version, user_id%8).
    No snapshot was ever copied: each read resolves the logged file
    list (live root + _versions/retained renames) and re-applies that
    version's deletion vectors as a broadcast anti-join."""
    from engage_spark.io import (
        apply_deletes,
        delete_rows,
        optimize_incremental,
        zorder_write,
        zorder_append,
    )
    from engage_spark.versioning import read_version, version_log_enable

    ev = table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.round(F.col("value") * 100 + 1e-9).cast("long").alias("v_cents"),
    )
    out = _scratch("events_versioned")
    shutil.rmtree(out, ignore_errors=True)  # idempotent across reruns
    zorder_write(
        spark, ev.filter(F.col("event_id") % 2 == 0), out,
        ["user_id", "v_cents"], bits=16, num_files=4,
    )
    version_log_enable(spark, out)                              # v1
    zorder_append(
        spark, ev.filter(F.col("event_id") % 2 == 1), out, num_files=4
    )                                                           # v2
    delete_rows(
        spark, out,
        ev.filter(F.col("event_id") % 97 == 0).select("event_id"),
        "event_id",
    )                                                           # v3
    optimize_incremental(spark, out)                            # v4
    apply_deletes(spark, out)                                   # v5
    parts = [
        read_version(spark, out, v)
        .groupBy((F.col("user_id") % 8).cast("long").alias("grp"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("event_id").cast("long").alias("id_sum"),
        )
        .select(F.lit(v).cast("long").alias("version"), "grp", "n", "id_sum")
        for v in range(1, 6)
    ]
    out_df = parts[0]
    for p in parts[1:]:
        out_df = out_df.unionByName(p)
    return out_df


@query(
    "s14b_time_travel_partitioned",
    # same semantics as s14 but on a hive-partitioned corpus: the
    # oracle recomputes each version's expected content off the source
    # — a hash match proves the r13 relative-path log + basePath reads
    # reconstruct every snapshot INCLUDING the partition column values
    # (v1 evens, v2 all, v3/v4 minus the %97 takedown; v4 is the
    # partition-aware physical vacuum, content-identical to v3)
    oracle="""
    WITH ev AS (SELECT event_id, event_type FROM events),
    vis AS (
      SELECT 1 AS version, event_type, event_id FROM ev
      WHERE event_id % 2 = 0
      UNION ALL SELECT 2, event_type, event_id FROM ev
      UNION ALL SELECT 3, event_type, event_id FROM ev
      WHERE event_id % 97 <> 0
      UNION ALL SELECT 4, event_type, event_id FROM ev
      WHERE event_id % 97 <> 0
    )
    SELECT version::BIGINT AS version, event_type,
           count(*)::BIGINT AS n, sum(event_id)::BIGINT AS id_sum
    FROM vis GROUP BY version, event_type
    """,
    covers=["S4", "S5"],
)
def s14b_time_travel_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME TRAVEL on a HIVE-PARTITIONED dataset (r13 — VERDICT r12
    missing #1): the version log stores dataset-relative paths
    (`event_type=click/part-...parquet`), retained files keep their
    partition subpath, and every historical read resolves leaf files
    with the matching basePath so the partition COLUMN comes back
    exactly — on the standard 100 TB corpus layout, not just flat
    publishes. Lifecycle: partitioned publish of the evens ->
    version_log_enable -> versioned partitioned append (io.
    append_dataset) -> logical delete of every 97th event ->
    partition-aware physical vacuum (io.apply_deletes rewrites only
    victim files, inside their partition dirs). Grouping each version
    by the PARTITION column puts the recovered values under the
    hash."""
    from engage_spark.io import append_dataset, apply_deletes, delete_rows
    from engage_spark.versioning import read_version, version_log_enable

    ev = table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type"
    )
    out = _scratch("events_versioned_part")
    shutil.rmtree(out, ignore_errors=True)  # idempotent across reruns
    write_parquet(
        ev.filter(F.col("event_id") % 2 == 0), out,
        partition_by=["event_type"],
    )
    version_log_enable(spark, out)                              # v1
    append_dataset(
        spark, ev.filter(F.col("event_id") % 2 == 1), out,
        partition_by=["event_type"],
    )                                                           # v2
    delete_rows(
        spark, out,
        ev.filter(F.col("event_id") % 97 == 0).select("event_id"),
        "event_id",
    )                                                           # v3
    apply_deletes(spark, out)                                   # v4
    parts = [
        read_version(spark, out, v)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("event_id").cast("long").alias("id_sum"),
        )
        .select(
            F.lit(v).cast("long").alias("version"), "event_type",
            "n", "id_sum",
        )
        for v in range(1, 5)
    ]
    out_df = parts[0]
    for p in parts[1:]:
        out_df = out_df.unionByName(p)
    return out_df


@query(
    "s14c_restore_version",
    # rolled_back = v1's content (evens, no deletes); rolled_forward =
    # v3's content (all events minus the %97 takedown, re-recorded as
    # the restore's own deletion-vector batch) — both under one hash
    oracle="""
    WITH st AS (
      SELECT 'rolled_back' AS stage, event_id FROM events
      WHERE event_id % 2 = 0
      UNION ALL
      SELECT 'rolled_forward', event_id FROM events
      WHERE event_id % 97 <> 0
    )
    SELECT stage, count(*)::BIGINT AS n, sum(event_id)::BIGINT AS id_sum
    FROM st GROUP BY stage
    """,
    covers=["S4", "S5"],
)
def s14c_restore_version(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESTORE / ROLLBACK (r13, the Delta RESTORE analog): after a
    publish -> append -> takedown lifecycle, roll the live dataset
    back to version 1 (pure metadata: O(1) renames between the live
    root and _versions/retained, the target's deletion state
    re-recorded), read it, then roll FORWARD to version 3 and read
    again — the bad-publish / over-takedown recovery path. Both the
    rolled-back and rolled-forward live contents are under one hash;
    history is never rewritten (every intermediate version stays
    readable, pinned by pytest)."""
    from engage_spark.io import (
        delete_rows,
        read_with_deletes,
        zorder_append,
        zorder_write,
    )
    from engage_spark.versioning import restore_version, version_log_enable

    ev = table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.round(F.col("value") * 100 + 1e-9).cast("long").alias("v_cents"),
    )
    out = _scratch("events_restore")
    shutil.rmtree(out, ignore_errors=True)  # idempotent across reruns
    zorder_write(
        spark, ev.filter(F.col("event_id") % 2 == 0), out,
        ["user_id", "v_cents"], bits=16, num_files=4,
    )
    version_log_enable(spark, out)                              # v1
    zorder_append(
        spark, ev.filter(F.col("event_id") % 2 == 1), out, num_files=4
    )                                                           # v2
    delete_rows(
        spark, out,
        ev.filter(F.col("event_id") % 97 == 0).select("event_id"),
        "event_id",
    )                                                           # v3
    restore_version(spark, out, 1)                              # v4: rollback
    back = (
        read_with_deletes(spark, out)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("event_id").cast("long").alias("id_sum"),
        )
        .select(F.lit("rolled_back").alias("stage"), "n", "id_sum")
    )
    # materialize BEFORE rolling forward: the frame is lazy and the
    # next restore changes the live file set underneath it
    rolled_back = back.collect()[0]
    restore_version(spark, out, 3)                              # v5: forward
    fwd = (
        read_with_deletes(spark, out)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("event_id").cast("long").alias("id_sum"),
        )
        .select(F.lit("rolled_forward").alias("stage"), "n", "id_sum")
    )
    from engage_spark.session import local_frame

    return local_frame(
        spark,
        [(rolled_back["stage"], rolled_back["n"], rolled_back["id_sum"])],
        "stage string, n long, id_sum long",
    ).unionByName(fwd)


@query(
    "s16b_change_feed_partitioned",
    # v2 (partitioned append) inserts every odd event; v3 (logical
    # delete) deletes every %97 event; v4 (partition-aware vacuum) is
    # rewrite-only and must emit NOTHING — grouping by the partition
    # column pins that the feed rows carry real partition values
    oracle="""
    WITH ch AS (
      SELECT 2 AS commit_version, 'insert' AS change_type,
             event_type, event_id
      FROM events WHERE event_id % 2 = 1
      UNION ALL
      SELECT 3, 'delete', event_type, event_id
      FROM events WHERE event_id % 97 = 0
    )
    SELECT commit_version::BIGINT AS commit_version, change_type,
           event_type, count(*)::BIGINT AS n,
           sum(event_id)::BIGINT AS id_sum
    FROM ch GROUP BY commit_version, change_type, event_type
    """,
    covers=["S4", "S5"],
)
def s16b_change_feed_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHANGE DATA FEED on a hive-partitioned dataset (r13): same
    lifecycle as s14b, then drain read_changes(since=1). The append
    version reads ONLY its own files — with partition columns
    recovered via basePath — the delete probes the prior snapshot for
    the key batch, and the rewrite-only vacuum emits nothing. The
    feed's partition values are under the hash (grouped by
    event_type), pinning that an incremental consumer of a partitioned
    100 TB corpus sees complete rows, not nulled partition columns."""
    from engage_spark.io import append_dataset, apply_deletes, delete_rows
    from engage_spark.versioning import read_changes, version_log_enable

    ev = table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type"
    )
    out = _scratch("events_cdf_part")
    shutil.rmtree(out, ignore_errors=True)  # idempotent across reruns
    write_parquet(
        ev.filter(F.col("event_id") % 2 == 0), out,
        partition_by=["event_type"],
    )
    version_log_enable(spark, out)                              # v1
    append_dataset(
        spark, ev.filter(F.col("event_id") % 2 == 1), out,
        partition_by=["event_type"],
    )                                                           # v2
    delete_rows(
        spark, out,
        ev.filter(F.col("event_id") % 97 == 0).select("event_id"),
        "event_id",
    )                                                           # v3
    apply_deletes(spark, out)                                   # v4
    return (
        read_changes(spark, out, since_version=1)
        .groupBy("commit_version", "change_type", "event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("event_id").cast("long").alias("id_sum"),
        )
    )


@query(
    "s15_version_diff",
    # expected diff v1 -> v3 from the source: odds not later deleted
    # were added; evens hit by the %97 deletion vector were removed
    oracle="""
    WITH d AS (
      SELECT 'added' AS change, event_id FROM events
      WHERE event_id % 2 = 1 AND event_id % 97 <> 0
      UNION ALL
      SELECT 'removed', event_id FROM events
      WHERE event_id % 2 = 0 AND event_id % 97 = 0
    )
    SELECT change, count(*)::BIGINT AS n,
           sum(event_id)::BIGINT AS id_sum
    FROM d GROUP BY change
    """,
    covers=["S4", "S5"],
)
def s15_version_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SNAPSHOT DIFF off the version log (r12): what changed between
    version 1 (initial publish) and version 3 (post-append,
    post-logical-delete) of one dataset — WITHOUT two materialized
    copies (x_snapshot_diff's shape) and WITHOUT reading the whole
    dataset twice: versioning.version_diff anti-joins only the files
    present in exactly one version and probes the common files just
    for the deletion-vector delta keys (broadcast/In-pushed). A
    rewrite-only step (optimize) diffs to zero rows by construction."""
    from engage_spark.io import delete_rows, zorder_append, zorder_write
    from engage_spark.versioning import version_diff, version_log_enable

    ev = table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.round(F.col("value") * 100 + 1e-9).cast("long").alias("v_cents"),
    )
    out = _scratch("events_vdiff")
    shutil.rmtree(out, ignore_errors=True)  # idempotent across reruns
    zorder_write(
        spark, ev.filter(F.col("event_id") % 2 == 0), out,
        ["user_id", "v_cents"], bits=16, num_files=4,
    )
    version_log_enable(spark, out)                              # v1
    zorder_append(
        spark, ev.filter(F.col("event_id") % 2 == 1), out, num_files=4
    )                                                           # v2
    delete_rows(
        spark, out,
        ev.filter(F.col("event_id") % 97 == 0).select("event_id"),
        "event_id",
    )                                                           # v3
    return (
        version_diff(spark, out, 1, 3)
        .groupBy("change")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("event_id").cast("long").alias("id_sum"),
        )
    )


@query(
    "s15b_version_diff_partitioned",
    # diff v1 -> v3 on a partitioned corpus, grouped by the PARTITION
    # column: odds not later deleted were added; evens hit by the %97
    # deletion vector were removed — with their partition values intact
    oracle="""
    WITH d AS (
      SELECT 'added' AS change, event_type, event_id FROM events
      WHERE event_id % 2 = 1 AND event_id % 97 <> 0
      UNION ALL
      SELECT 'removed', event_type, event_id FROM events
      WHERE event_id % 2 = 0 AND event_id % 97 = 0
    )
    SELECT change, event_type, count(*)::BIGINT AS n,
           sum(event_id)::BIGINT AS id_sum
    FROM d GROUP BY change, event_type
    """,
    covers=["S4", "S5"],
)
def s15b_version_diff_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SNAPSHOT DIFF on a hive-partitioned dataset (r13): the
    files-present-in-exactly-one-version anti-join and the
    deletion-vector key probe both read partitioned leaf files with
    basePath resolution, so diff rows carry their real partition
    values — grouped by event_type under the hash."""
    from engage_spark.io import append_dataset, delete_rows
    from engage_spark.versioning import version_diff, version_log_enable

    ev = table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type"
    )
    out = _scratch("events_vdiff_part")
    shutil.rmtree(out, ignore_errors=True)  # idempotent across reruns
    write_parquet(
        ev.filter(F.col("event_id") % 2 == 0), out,
        partition_by=["event_type"],
    )
    version_log_enable(spark, out)                              # v1
    append_dataset(
        spark, ev.filter(F.col("event_id") % 2 == 1), out,
        partition_by=["event_type"],
    )                                                           # v2
    delete_rows(
        spark, out,
        ev.filter(F.col("event_id") % 97 == 0).select("event_id"),
        "event_id",
    )                                                           # v3
    return (
        version_diff(spark, out, 1, 3)
        .groupBy("change", "event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("event_id").cast("long").alias("id_sum"),
        )
    )


@query(
    "s16_change_data_feed",
    # the oracle recomputes each commit's expected row-level delta from
    # the source: v2 (append) inserts every odd event; v3 (logical
    # delete) deletes every %97 event (all were visible at v2); the
    # optimize (v4) and physical vacuum (v5) are rewrite-only and must
    # emit NOTHING — their absence from the feed is part of the hash
    oracle="""
    WITH ch AS (
      SELECT 2 AS commit_version, 'insert' AS change_type, event_id
      FROM events WHERE event_id % 2 = 1
      UNION ALL
      SELECT 3, 'delete', event_id FROM events WHERE event_id % 97 = 0
    )
    SELECT commit_version::BIGINT AS commit_version, change_type,
           count(*)::BIGINT AS n, sum(event_id)::BIGINT AS id_sum
    FROM ch GROUP BY commit_version, change_type
    """,
    covers=["S4", "S5"],
)
def s16_change_data_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHANGE DATA FEED off the version log (r12): run the same
    five-version maintenance lifecycle as s14, then drain
    versioning.read_changes(since=1) — the incremental-consumer API.
    Each changed version costs only its own touched data: the append
    version reads JUST the appended files, the logical delete probes
    the prior snapshot with an In-pushed key batch, and the
    rewrite-only optimize + vacuum versions are skipped with no scan.
    This is how a downstream index/mirror keeps up with a 100 TB
    corpus without ever re-reading it."""
    from engage_spark.io import (
        apply_deletes,
        delete_rows,
        optimize_incremental,
        zorder_append,
        zorder_write,
    )
    from engage_spark.versioning import read_changes, version_log_enable

    ev = table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.round(F.col("value") * 100 + 1e-9).cast("long").alias("v_cents"),
    )
    out = _scratch("events_cdf")
    shutil.rmtree(out, ignore_errors=True)  # idempotent across reruns
    zorder_write(
        spark, ev.filter(F.col("event_id") % 2 == 0), out,
        ["user_id", "v_cents"], bits=16, num_files=4,
    )
    version_log_enable(spark, out)                              # v1
    zorder_append(
        spark, ev.filter(F.col("event_id") % 2 == 1), out, num_files=4
    )                                                           # v2
    delete_rows(
        spark, out,
        ev.filter(F.col("event_id") % 97 == 0).select("event_id"),
        "event_id",
    )                                                           # v3
    optimize_incremental(spark, out)                            # v4
    apply_deletes(spark, out)                                   # v5
    return (
        read_changes(spark, out, since_version=1)
        .groupBy("commit_version", "change_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("event_id").cast("long").alias("id_sum"),
        )
    )


@query(
    "s18_mirror_sync",
    # the mirror must converge EXACTLY to the live content: all events
    # except the logically-deleted %97 batch — the oracle recomputes
    # that end state straight off the source table
    oracle="""
    SELECT (user_id % 8)::BIGINT AS grp, count(*)::BIGINT AS n,
           sum(event_id)::BIGINT AS id_sum
    FROM events WHERE event_id % 97 <> 0
    GROUP BY user_id % 8
    """,
    covers=["S4", "S5"],
)
def s18_mirror_sync(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL MIRROR off the change feed (r12): bootstrap a
    downstream replica from the live snapshot, mutate the source
    (append odds, logically delete every 97th event), then
    sync_mirror drains ONLY the two changed versions — the append
    lands as a direct file append (no shuffle, no rewrite of existing
    mirror files), the delete purges just the touched keys through
    the mirror's own file-targeted deletion-vector path. The mirror's
    final content hash-checks against the source-derived oracle: the
    replica converged without ever re-reading the corpus."""
    from engage_spark.io import delete_rows, zorder_append, zorder_write
    from engage_spark.versioning import sync_mirror, version_log_enable

    ev = table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.round(F.col("value") * 100 + 1e-9).cast("long").alias("v_cents"),
    )
    src = _scratch("events_mirror_src")
    mir = _scratch("events_mirror_dst")
    shutil.rmtree(src, ignore_errors=True)  # idempotent across reruns
    shutil.rmtree(mir, ignore_errors=True)
    zorder_write(
        spark, ev.filter(F.col("event_id") % 2 == 0), src,
        ["user_id", "v_cents"], bits=16, num_files=4,
    )
    version_log_enable(spark, src)                              # v1
    sync_mirror(spark, src, mir, "event_id")                    # bootstrap
    zorder_append(
        spark, ev.filter(F.col("event_id") % 2 == 1), src, num_files=4
    )                                                           # v2
    delete_rows(
        spark, src,
        ev.filter(F.col("event_id") % 97 == 0).select("event_id"),
        "event_id",
    )                                                           # v3
    sync_mirror(spark, src, mir, "event_id")                    # drain
    return (
        spark.read.parquet(mir)
        .groupBy((F.col("user_id") % 8).cast("long").alias("grp"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("event_id").cast("long").alias("id_sum"),
        )
    )


@query(
    "s18b_mirror_sync_partitioned",
    # the partitioned mirror must converge EXACTLY to the live content
    # with its partition values intact (grouped by the partition
    # column under the hash)
    oracle="""
    SELECT event_type, count(*)::BIGINT AS n,
           sum(event_id)::BIGINT AS id_sum
    FROM events WHERE event_id % 97 <> 0
    GROUP BY event_type
    """,
    covers=["S4", "S5"],
)
def s18b_mirror_sync_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL MIRROR of a HIVE-PARTITIONED source (r13): the
    bootstrap copies partition dirs 1:1 (executor-distributed), the
    append drain stages partitionBy and lands inside them via
    relative-path moves, and the delete purges through the
    partition-aware vacuum. Grouping the mirror by the partition
    column hash-pins that the replica kept real partition values and
    a clean hive layout — a flat file beside partition dirs would
    make plain reads silently drop the partitioned corpus."""
    from engage_spark.io import append_dataset, delete_rows
    from engage_spark.versioning import sync_mirror, version_log_enable

    ev = table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type"
    )
    src = _scratch("events_mirror_part_src")
    mir = _scratch("events_mirror_part_dst")
    shutil.rmtree(src, ignore_errors=True)  # idempotent across reruns
    shutil.rmtree(mir, ignore_errors=True)
    write_parquet(
        ev.filter(F.col("event_id") % 2 == 0), src,
        partition_by=["event_type"],
    )
    version_log_enable(spark, src)                              # v1
    sync_mirror(spark, src, mir, "event_id")                    # bootstrap
    append_dataset(
        spark, ev.filter(F.col("event_id") % 2 == 1), src,
        partition_by=["event_type"],
    )                                                           # v2
    delete_rows(
        spark, src,
        ev.filter(F.col("event_id") % 97 == 0).select("event_id"),
        "event_id",
    )                                                           # v3
    sync_mirror(spark, src, mir, "event_id")                    # drain
    return (
        spark.read.parquet(mir)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("event_id").cast("long").alias("id_sum"),
        )
    )


@query(
    "s19_incremental_rollup",
    # the maintained rollup must EQUAL a fresh aggregate of the end
    # state: all events except the %97 takedown, grouped — any drift
    # in the delta algebra (double-applied drain, missed delete,
    # null-group mishandling) breaks the hash
    oracle="""
    SELECT (user_id % 8)::BIGINT AS grp, count(*)::BIGINT AS n,
           sum(CAST(round(value * 100 + 1e-9) AS BIGINT))::BIGINT
               AS sum_v_cents
    FROM events WHERE event_id % 97 <> 0
    GROUP BY user_id % 8
    """,
    covers=["S4", "S5", "A2"],
)
def s19_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL VIEW MAINTENANCE off the change feed (r12): build a
    per-group rollup (count + sum) at the publish version, mutate the
    source (append odds, delete every 97th event), then sync_rollup
    applies the feed's row deltas to the materialized aggregate —
    inserts add, deletes subtract, no corpus re-read. The hash pins
    the IVM algebra exactly: the maintained rollup must equal a fresh
    groupBy of the final state. At 100 TB this is the difference
    between a change-sized nightly refresh and a full recompute."""
    from engage_spark.io import delete_rows, zorder_append, zorder_write
    from engage_spark.versioning import sync_rollup, version_log_enable

    ev = table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.round(F.col("value") * 100 + 1e-9).cast("long").alias("v_cents"),
        (F.col("user_id") % 8).cast("long").alias("grp"),
    )
    src = _scratch("events_rollup_src")
    mv = _scratch("events_rollup_mv")
    shutil.rmtree(src, ignore_errors=True)  # idempotent across reruns
    shutil.rmtree(mv, ignore_errors=True)
    zorder_write(
        spark, ev.filter(F.col("event_id") % 2 == 0), src,
        ["user_id", "v_cents"], bits=16, num_files=4,
    )
    version_log_enable(spark, src)                              # v1
    sync_rollup(spark, src, mv, ["grp"], ["v_cents"])           # bootstrap
    zorder_append(
        spark, ev.filter(F.col("event_id") % 2 == 1), src, num_files=4
    )                                                           # v2
    delete_rows(
        spark, src,
        ev.filter(F.col("event_id") % 97 == 0).select("event_id"),
        "event_id",
    )                                                           # v3
    sync_rollup(spark, src, mv, ["grp"], ["v_cents"])           # delta apply
    return spark.read.parquet(mv).select("grp", "n", "sum_v_cents")


@query(
    "s19b_incremental_rollup_minmax",
    # the maintained MV — including MIN/MAX maintained through deletes
    # via the touched-group recompute tier — must EQUAL a fresh
    # aggregate of the end state
    oracle="""
    SELECT (user_id % 8)::BIGINT AS grp, count(*)::BIGINT AS n,
           sum(CAST(round(value * 100 + 1e-9) AS BIGINT))::BIGINT
               AS sum_v_cents,
           min(CAST(round(value * 100 + 1e-9) AS BIGINT))::BIGINT
               AS min_v_cents,
           max(CAST(round(value * 100 + 1e-9) AS BIGINT))::BIGINT
               AS max_v_cents
    FROM events WHERE event_id % 97 <> 0
    GROUP BY user_id % 8
    """,
    covers=["S4", "S5", "A2"],
)
def s19b_incremental_rollup_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MIN/MAX INCREMENTAL ROLLUP (r13 — VERDICT r12 next #6): min/max
    are not delta-composable under deletes (removing the current
    minimum needs the runner-up), so sync_rollup's recompute tier
    re-aggregates exactly the drain's TOUCHED groups from the live
    source — a broadcast semi-join on the change-sized group-key list,
    with partition/footer pruning bounding the scan — while count/sum
    still apply as pure deltas. The lifecycle includes an append AND a
    delete drain, so both maintenance paths are under the hash against
    a fresh full recompute."""
    from engage_spark.io import delete_rows, zorder_append, zorder_write
    from engage_spark.versioning import sync_rollup, version_log_enable

    ev = table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.round(F.col("value") * 100 + 1e-9).cast("long").alias("v_cents"),
        (F.col("user_id") % 8).cast("long").alias("grp"),
    )
    src = _scratch("events_rollup_mm_src")
    mv = _scratch("events_rollup_mm_mv")
    shutil.rmtree(src, ignore_errors=True)  # idempotent across reruns
    shutil.rmtree(mv, ignore_errors=True)
    zorder_write(
        spark, ev.filter(F.col("event_id") % 2 == 0), src,
        ["user_id", "v_cents"], bits=16, num_files=4,
    )
    version_log_enable(spark, src)                              # v1
    sync_rollup(
        spark, src, mv, ["grp"], ["v_cents"], minmax_cols=["v_cents"]
    )                                                           # bootstrap
    zorder_append(
        spark, ev.filter(F.col("event_id") % 2 == 1), src, num_files=4
    )                                                           # v2
    sync_rollup(
        spark, src, mv, ["grp"], ["v_cents"], minmax_cols=["v_cents"]
    )                                                           # append drain
    delete_rows(
        spark, src,
        ev.filter(F.col("event_id") % 97 == 0).select("event_id"),
        "event_id",
    )                                                           # v3
    sync_rollup(
        spark, src, mv, ["grp"], ["v_cents"], minmax_cols=["v_cents"]
    )                                                           # delete drain
    return spark.read.parquet(mv).select(
        "grp", "n", "sum_v_cents", "min_v_cents", "max_v_cents"
    )


@query(
    "s17_bucketed_join",
    oracle="""
    SELECT o.o_orderpriority AS priority,
           count(*)::BIGINT AS n_items,
           round(sum(l.l_extendedprice * (1 - l.l_discount)) + 1e-9, 2)
               AS revenue
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderstatus = 'F'
    GROUP BY o.o_orderpriority
    """,
    covers=["S4", "J1"],
)
def s17_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CO-LOCATED BUCKETED JOIN (r12, engine extension): write orders
    and lineitem as parquet tables bucketed 8 ways on the join key,
    then join them — NEITHER side shuffles (the bucket spec makes both
    scans' output partitioning satisfy the join's distribution
    requirement; tests/test_plans.py pins the zero-Exchange shape).
    This is THE layout decision for a 100 TB fact-fact join that runs
    repeatedly: one bucketed write amortizes into exchange-free
    sort-merge joins on every subsequent query, and groupBys on the
    bucket key skip their exchange the same way. The final
    per-priority aggregate hash-checks the join result against the
    plain-parquet oracle, proving the bucketed layout is lossless."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    from engage_spark.io import write_bucketed

    ords = table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    )
    li = table(spark, sf_dir, "lineitem")
    # the two layout writes are independent jobs against different
    # tables/paths — submit them concurrently so the second write's
    # tasks back-fill executors freed by the first one's tail (guide
    # §2.6, r15 optimization round); the joined result is identical
    with ThreadPoolExecutor(max_workers=2) as pool:
        futs = [
            pool.submit(
                inheritable_thread_target(spark)(write_bucketed),
                spark, ords, "s17_orders_b",
                ["o_orderkey"], 8, path=_scratch("s17_orders_b"),
            ),
            pool.submit(
                inheritable_thread_target(spark)(write_bucketed),
                spark, li, "s17_lineitem_b",
                ["l_orderkey"], 8, path=_scratch("s17_lineitem_b"),
            ),
        ]
        for f in futs:
            f.result()
    o_b = spark.table("s17_orders_b")
    l_b = spark.table("s17_lineitem_b")
    return (
        o_b.join(l_b, o_b["o_orderkey"] == l_b["l_orderkey"])
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_items"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
                + 1e-9,
                2,
            ).alias("revenue"),
        )
    )


@query(
    "s20_concurrent_appends",
    # Oracle: the union of the four slices is the whole events table,
    # so the final-version aggregate must equal a plain aggregate over
    # `events` — a hash match proves THREE RACING APPENDERS all landed
    # exactly once (no lost increment, no double-commit, no torn
    # partition dirs). The literals pin the history shape: exactly 3
    # `append` entries and latest version 4 (init + 3), i.e. every
    # appender produced its own exact log entry rather than a drift
    # reconcile.
    oracle="""
    SELECT event_type, count(*)::BIGINT AS n,
           sum(CAST(round(value * 100 + 1e-9) AS BIGINT))::BIGINT AS cents,
           3::BIGINT AS appends, 4::BIGINT AS n_versions
    FROM events GROUP BY event_type
    """,
    covers=["S4", "S5"],
)
def s20_concurrent_appends(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONCURRENT staged-commit appenders (r14): publish one quarter of
    `events` partitioned by event_type, enable the version log, then
    append the other three quarters from three racing threads.
    io.append_dataset stages each increment with NO lease held (the
    data write is the expensive part — at 100 TB, holding the dataset
    lease across it serializes every ingester) and takes the lease only
    for the millisecond rename+log commit tail, so all three appenders
    land, each with its own exact `append` entry. The aggregate reads
    the FINAL version via time travel; the history-shape literals
    (appends=3, n_versions=4) hash-fail if any appender was lost,
    double-committed, or degraded to a reconcile entry."""
    import shutil
    import threading

    from engage_spark.io import append_dataset
    from engage_spark.versioning import (
        dataset_history,
        latest_version,
        read_version,
        version_log_enable,
    )

    ev = table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 100 + 1e-9).cast("long").alias("v_cents"),
    )
    tgt = _scratch("events_conc_append")
    shutil.rmtree(tgt, ignore_errors=True)  # idempotent across reruns
    write_parquet(
        ev.filter(F.col("event_id") % 4 == 0), tgt,
        partition_by=["event_type"],
    )
    version_log_enable(spark, tgt)                                 # v1
    errs: list = []

    def _worker(residue: int) -> None:
        try:
            append_dataset(
                spark,
                ev.filter(F.col("event_id") % 4 == residue),
                tgt,
                partition_by=["event_type"],
            )
        except Exception as e:  # surfaced below — a query must not hang
            errs.append(e)

    threads = [
        threading.Thread(target=_worker, args=(r,)) for r in (1, 2, 3)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errs:
        raise errs[0]
    v = latest_version(spark, tgt)
    n_appends = (
        dataset_history(spark, tgt)
        .filter(F.col("op") == "append")
        .count()
    )
    return (
        read_version(spark, tgt, v)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("v_cents").cast("long").alias("cents"),
        )
        .withColumn("appends", F.lit(n_appends).cast("long"))
        .withColumn("n_versions", F.lit(v).cast("long"))
    )


@query(
    "s21_stats_pruned_scan",
    # Oracle: a plain filtered aggregate over `events` — a hash match
    # proves the stats-pruned read is byte-identical to scanning
    # everything (pruning only ever removes provably-disjoint files).
    # The `pruned` literal pins that the sidecar actually dropped
    # files for this range (a stats layer that prunes nothing would
    # hash-fail, not silently pass).
    oracle="""
    SELECT user_id, count(*)::BIGINT AS n,
           sum(CAST(round(value * 100 + 1e-9) AS BIGINT))::BIGINT AS cents,
           true AS pruned
    FROM events WHERE user_id BETWEEN 10 AND 20
    GROUP BY user_id
    """,
    covers=["S4"],
)
def s21_stats_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-level min/max stats + data skipping (r14): Z-order `events`
    on (user_id, v_cents), enable the version log, harvest per-file
    footer stats (stats_enable — metadata only, no data scan), then
    answer a narrow user_id range via stats.read_where, which prunes
    the FILE LIST driver-side before the scan is planned. At 100 TB /
    ~10^5 files this is the difference between scheduling a handful of
    files and footer-probing everything; here the `pruned` column
    hash-fails if the sidecar did not drop at least one file, and the
    aggregate hash-fails if pruning dropped a row it shouldn't have."""
    from engage_spark.io import zorder_write
    from engage_spark.stats import _stats_prune, read_where, stats_enable
    from engage_spark.versioning import (
        _replay_files,
        _vlog_entries,
        latest_version,
        version_log_enable,
    )
    import shutil

    ev = table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.round(F.col("value") * 100 + 1e-9).cast("long").alias("v_cents"),
    )
    tgt = _scratch("events_stats_pruned")
    shutil.rmtree(tgt, ignore_errors=True)  # idempotent across reruns
    zorder_write(spark, ev, tgt, ["user_id", "v_cents"], bits=16, num_files=16)
    version_log_enable(spark, tgt)
    stats_enable(spark, tgt, ["user_id", "v_cents"])
    names = _replay_files(_vlog_entries(spark, tgt), latest_version(spark, tgt))
    kept, n_pruned = _stats_prune(spark, tgt, names, "user_id", 10, 20)
    return (
        read_where(spark, tgt, "user_id", 10, 20)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("v_cents").cast("long").alias("cents"),
        )
        .withColumn("pruned", F.lit(n_pruned > 0))
    )


@query(
    "s22_bloom_point_lookup",
    # Oracle: a plain IN-filter over `events` — a hash match proves the
    # bloom-pruned point lookup is byte-identical to scanning
    # everything (false positives only ever ADD candidate files; the
    # exact IN predicate is re-applied). The `pruned` literal pins that
    # the index actually dropped files for this lookup: event_id is
    # SCATTERED across the Z-ordered (user_id, v_cents) layout, so
    # min/max stats could never prune it — only the bloom can.
    oracle="""
    SELECT event_id, user_id,
           CAST(round(value * 100 + 1e-9) AS BIGINT) AS cents,
           true AS pruned
    FROM events WHERE event_id IN (7, 123, 256, 555, 808, 901)
    """,
    covers=["S4"],
)
def s22_bloom_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-file Bloom-filter key index + point lookup (r14): Z-order
    `events` on (user_id, v_cents) — so event_id is scattered, the
    worst case for min/max skipping — enable the version log, build
    per-file blooms on event_id (indexes.bloom_enable: ONE
    column-pruned read per file, then every versioned commit harvests
    its own files), and answer a 6-key lookup via indexes.read_keys,
    which prunes the FILE LIST driver-side before the scan is planned.
    This is the takedown / GDPR / fetch-these-doc_ids path: at 100 TB
    a keyed lookup schedules the handful of files whose bloom admits a
    key instead of scanning the key column everywhere (io.apply_deletes
    victim detection consumes the same sidecar). The `pruned` column
    hash-fails if the index failed to drop at least one file; the rows
    hash-fail if pruning dropped one it shouldn't have."""
    import shutil

    from engage_spark.indexes import _bloom_prune, bloom_enable, read_keys
    from engage_spark.io import zorder_write
    from engage_spark.versioning import (
        _replay_files,
        _vlog_entries,
        latest_version,
        version_log_enable,
    )

    ids = [7, 123, 256, 555, 808, 901]
    ev = table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.round(F.col("value") * 100 + 1e-9).cast("long").alias("cents"),
    )
    tgt = _scratch("events_bloom_lookup")
    shutil.rmtree(tgt, ignore_errors=True)  # idempotent across reruns
    zorder_write(spark, ev, tgt, ["user_id", "cents"], bits=16, num_files=24)
    version_log_enable(spark, tgt)
    bloom_enable(spark, tgt, ["event_id"])
    names = _replay_files(_vlog_entries(spark, tgt), latest_version(spark, tgt))
    _, n_pruned = _bloom_prune(spark, tgt, names, "event_id", ids)
    return read_keys(spark, tgt, "event_id", ids).withColumn(
        "pruned", F.lit(n_pruned > 0)
    )


@query(
    "s23_bloom_join_pruning",
    # Oracle: a plain IN-subquery over `events` — a hash match proves
    # the dynamically file-pruned key-join is byte-identical to the
    # full semi-join. The dim slice (top-8 by value, event_id
    # tie-break) is deterministic on both engines; the `pruned`
    # literal pins that the dim keys actually pruned fact files.
    oracle="""
    SELECT event_id, user_id,
           CAST(round(value * 100 + 1e-9) AS BIGINT) AS cents,
           true AS pruned
    FROM events WHERE event_id IN (
        SELECT event_id FROM events
        ORDER BY value DESC, event_id LIMIT 8
    )
    """,
    covers=["S4", "J1"],
)
def s23_bloom_join_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic file pruning for a key-join (r14): the dim side of a
    join is filtered first (here: the top-8 events by value — standing
    in for 'orders placed today' against a 100 TB fact corpus), then
    indexes.join_keys collects the surviving dim keys (bounded by the
    lookup cap; larger key sets fall back to a full-read semi-join)
    and bloom-prunes the FACT file list before the scan is planned —
    the Delta dynamic-file-pruning pattern. The `pruned` column
    hash-fails if the dim keys failed to drop fact files; the rows
    hash-fail if pruning dropped one it shouldn't have."""
    import shutil

    from engage_spark.indexes import _bloom_prune, bloom_enable, join_keys
    from engage_spark.io import zorder_write
    from engage_spark.versioning import (
        _replay_files,
        _vlog_entries,
        latest_version,
        version_log_enable,
    )

    ev = table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.col("value"),
        F.round(F.col("value") * 100 + 1e-9).cast("long").alias("cents"),
    )
    dim = (
        ev.orderBy(F.col("value").desc(), "event_id").limit(8)
        .select("event_id")
    )
    tgt = _scratch("events_bloom_join")
    shutil.rmtree(tgt, ignore_errors=True)  # idempotent across reruns
    zorder_write(
        spark, ev.drop("value"), tgt, ["user_id", "cents"],
        bits=16, num_files=24,
    )
    version_log_enable(spark, tgt)
    bloom_enable(spark, tgt, ["event_id"])
    keys = [r[0] for r in dim.collect()]
    names = _replay_files(_vlog_entries(spark, tgt), latest_version(spark, tgt))
    _, n_pruned = _bloom_prune(spark, tgt, names, "event_id", keys)
    return join_keys(spark, tgt, "event_id", dim).withColumn(
        "pruned", F.lit(n_pruned > 0)
    )


@query(
    "s24_expectations_gated_append",
    # Oracle: the final corpus is the base plus EXACTLY the clean
    # subset of the dirty increment (rows poisoned into violating the
    # range or presence rule never land), and the `dropped` literal is
    # the closed-form count of poisoned rows — a hash mismatch means
    # the gate either leaked a dirty row, dropped a clean one, or
    # miscounted. `appends` pins that the gated commit is ONE entry.
    oracle="""
    WITH base AS (
        SELECT event_id, event_type,
               CAST(round(value * 100 + 1e-9) AS BIGINT) AS v
        FROM events
    ), final AS (
        SELECT * FROM base WHERE event_id % 2 = 0
        UNION ALL
        SELECT * FROM base
        WHERE event_id % 2 = 1 AND event_id % 10 NOT IN (1, 5)
    )
    SELECT event_type, count(*)::BIGINT AS n, sum(v)::BIGINT AS cents,
           (SELECT count(*) FROM base
            WHERE event_id % 2 = 1 AND event_id % 10 IN (1, 5))::BIGINT
               AS dropped,
           1::BIGINT AS appends
    FROM final GROUP BY event_type
    """,
    covers=["S4", "S5", "A9"],
)
def s24_expectations_gated_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Commit-time expectation gate on a versioned append (r14): the
    even half of `events` publishes as the corpus, then the odd half
    arrives DIRTY (event_id%10==1 rows carry a negative amount,
    %10==5 rows a NULL event_type — the malformed-delivery case every
    100 TB ingest hits) through append_dataset with declarative
    expectations in drop mode: ONE Observation-carrying job over the
    STAGED increment counts every rule's violations and writes only
    the surviving rows, which commit as one exact `append` entry —
    upstream computed once, nothing dirty ever visible to readers, and
    fail mode (pinned by pytest) refuses atomically instead. The
    aggregate hash-fails if a dirty row leaked or a clean one was
    dropped; `dropped` pins the exact violation count; `appends` pins
    the single-entry history shape."""
    import shutil

    from engage_spark.io import append_dataset
    from engage_spark.versioning import (
        dataset_history,
        latest_version,
        read_version,
        version_log_enable,
    )

    ev = table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 100 + 1e-9).cast("long").alias("v"),
    )
    tgt = _scratch("events_gated_append")
    shutil.rmtree(tgt, ignore_errors=True)  # idempotent across reruns
    write_parquet(ev.filter(F.col("event_id") % 2 == 0), tgt)
    version_log_enable(spark, tgt)
    dirty = (
        ev.filter(F.col("event_id") % 2 == 1)
        .withColumn(
            "v",
            F.when(F.col("event_id") % 10 == 1, F.lit(-1).cast("long"))
            .otherwise(F.col("v")),
        )
        .withColumn(
            "event_type",
            F.when(F.col("event_id") % 10 == 5, F.lit(None))
            .otherwise(F.col("event_type")),
        )
    )
    res = append_dataset(
        spark, dirty, tgt,
        expectations=[
            {"rule": "not_null", "col": "event_type"},
            {"rule": "in_range", "col": "v", "lo": 0},
        ],
        on_violation="drop",
    )
    n_appends = (
        dataset_history(spark, tgt).filter(F.col("op") == "append").count()
    )
    return (
        read_version(spark, tgt, latest_version(spark, tgt))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("v").cast("long").alias("cents"),
        )
        .withColumn("dropped", F.lit(res["dropped_rows"]).cast("long"))
        .withColumn("appends", F.lit(n_appends).cast("long"))
    )


@query(
    "s25_optimize_during_append",
    # Oracle: the three slices union to the whole events table, so the
    # final-version aggregate must equal a plain aggregate over
    # `events` — a hash match proves the appender that raced the
    # OPTIMIZE lost no rows and the compaction changed no content.
    # The literals pin the concurrency story: exactly 2 appends and 1
    # optimize committed (n_versions=4 = init + 2 + 1) and NO drift
    # reconcile — i.e. the optimize committed WITHOUT restaging over
    # the commuting append, and the append never queued behind (or
    # was mis-attributed to) the compaction.
    oracle="""
    SELECT event_type, count(*)::BIGINT AS n,
           sum(CAST(round(value * 100 + 1e-9) AS BIGINT))::BIGINT AS cents,
           2::BIGINT AS appends, 1::BIGINT AS optimizes,
           4::BIGINT AS n_versions
    FROM events GROUP BY event_type
    """,
    covers=["S4"],
)
def s25_optimize_during_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMISTIC incremental OPTIMIZE racing a live appender (r14):
    publish half of `events` Z-ordered, enable the version log, append
    a quarter clustered (creating z-overlap = optimize victims), then
    run optimize_incremental and a plain append_dataset of the last
    quarter CONCURRENTLY. The optimize stages its rewrite with NO
    lease held and commits only if every victim file is still live —
    an append only ADDS files, so it COMMUTES: both land, in either
    order, with exact log entries. At 100 TB this is the difference
    between hourly ingest flowing during the nightly OPTIMIZE and
    every ingester queueing behind an hours-long rewrite lease. The
    aggregate reads the FINAL version via time travel; the
    history-shape literals hash-fail if either writer was lost,
    double-committed, or degraded to a reconcile entry."""
    import shutil
    import threading

    from engage_spark.io import (
        append_dataset,
        optimize_incremental,
        zorder_append,
        zorder_write,
    )
    from engage_spark.versioning import (
        dataset_history,
        latest_version,
        read_version,
        version_log_enable,
    )

    ev = table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 100 + 1e-9).cast("long").alias("v_cents"),
    )
    tgt = _scratch("events_opt_during_append")
    shutil.rmtree(tgt, ignore_errors=True)  # idempotent across reruns
    zorder_write(
        spark, ev.filter(F.col("event_id") % 4 < 2), tgt,
        ["event_id", "v_cents"], bits=16, num_files=6,
    )
    version_log_enable(spark, tgt)                                 # v1
    zorder_append(
        spark, ev.filter(F.col("event_id") % 4 == 2), tgt, num_files=2
    )                                                              # v2
    errs: list = []

    def _optimizer() -> None:
        try:
            optimize_incremental(
                spark, tgt, target_file_bytes=1 << 20, lease_wait_s=120.0
            )
        except Exception as e:  # surfaced below — a query must not hang
            errs.append(e)

    def _appender() -> None:
        try:
            append_dataset(
                spark, ev.filter(F.col("event_id") % 4 == 3), tgt,
                lease_wait_s=120.0,
            )
        except Exception as e:
            errs.append(e)

    threads = [
        threading.Thread(target=_optimizer),
        threading.Thread(target=_appender),
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errs:
        raise errs[0]
    v = latest_version(spark, tgt)
    ops = dataset_history(spark, tgt).groupBy("op").count().collect()
    n_app = sum(int(r["count"]) for r in ops if r.op == "append")
    n_opt = sum(int(r["count"]) for r in ops if r.op == "optimize")
    return (
        read_version(spark, tgt, v)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("v_cents").cast("long").alias("cents"),
        )
        .withColumn("appends", F.lit(n_app).cast("long"))
        .withColumn("optimizes", F.lit(n_opt).cast("long"))
        .withColumn("n_versions", F.lit(v).cast("long"))
    )


@query(
    "s26_takedown_during_append",
    # Oracle: (all events minus the taken-down keys) UNION ALL (the
    # re-appended quarter, deleted keys included — re-delivery
    # semantics) — a hash match proves the appender that raced the
    # PHYSICAL TAKEDOWN lost no rows and the takedown removed exactly
    # its keys. Literals pin
    # the concurrency story: 2 appends, 1 logical_delete, 1
    # vacuum_deletes, n_versions=5, and (via the hash over the data)
    # no drift reconcile.
    oracle="""
    SELECT event_type, count(*)::BIGINT AS n,
           sum(CAST(round(value * 100 + 1e-9) AS BIGINT))::BIGINT AS cents,
           2::BIGINT AS appends, 1::BIGINT AS takedowns,
           5::BIGINT AS n_versions
    FROM (
        SELECT event_type, value FROM events WHERE event_id % 97 <> 0
        UNION ALL
        SELECT event_type, value FROM events WHERE event_id % 4 = 3
    ) GROUP BY event_type
    """,
    covers=["S4"],
)
def s26_takedown_during_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMISTIC physical takedown racing a live appender (r14):
    publish three quarters of `events` Z-ordered + version-logged,
    logically delete the `event_id % 97` keys, then run apply_deletes
    and a plain append_dataset of the last quarter CONCURRENTLY. The
    takedown stages its survivor rewrite with NO lease held and
    commits under victim-liveness + a pending-set guard — an append
    only ADDS files, so it COMMUTES (its rows land even when they
    carry taken-down keys: the documented re-delivery semantics, which
    the oracle's `OR event_id % 4 = 3` clause mirrors exactly). At
    100 TB this is a GDPR batch applying WHILE ingest flows. The
    aggregate reads the FINAL version via time travel; the
    history-shape literals hash-fail if either writer was lost,
    double-committed, or degraded to a reconcile entry."""
    import shutil
    import threading

    from engage_spark.io import (
        append_dataset,
        apply_deletes,
        delete_rows,
        zorder_write,
    )
    from engage_spark.versioning import (
        dataset_history,
        latest_version,
        read_version,
        version_log_enable,
    )

    ev = table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 100 + 1e-9).cast("long").alias("v_cents"),
    )
    tgt = _scratch("events_takedown_during_append")
    shutil.rmtree(tgt, ignore_errors=True)  # idempotent across reruns
    zorder_write(
        spark, ev.filter(F.col("event_id") % 4 < 3), tgt,
        ["event_id", "v_cents"], bits=16, num_files=6,
    )
    version_log_enable(spark, tgt)                                 # v1
    append_dataset(spark, ev.filter(F.col("event_id") % 4 == 3), tgt)  # v2
    delete_rows(
        spark, tgt,
        ev.filter(F.col("event_id") % 97 == 0).select("event_id"),
        "event_id",
    )                                                              # v3
    errs: list = []

    def _applier() -> None:
        try:
            apply_deletes(spark, tgt, lease_wait_s=120.0, occ_retries=10)
        except Exception as e:  # surfaced below — a query must not hang
            errs.append(e)

    def _appender() -> None:
        try:
            append_dataset(
                spark,
                ev.filter(F.col("event_id") % 4 == 3).select(
                    (F.col("event_id") + 10_000_000).alias("event_id"),
                    "event_type", "v_cents",
                ),
                tgt, lease_wait_s=120.0,
            )
        except Exception as e:
            errs.append(e)

    threads = [
        threading.Thread(target=_applier),
        threading.Thread(target=_appender),
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errs:
        raise errs[0]
    v = latest_version(spark, tgt)
    ops = dataset_history(spark, tgt).groupBy("op").count().collect()
    n_app = sum(int(r["count"]) for r in ops if r.op == "append")
    n_take = sum(int(r["count"]) for r in ops if r.op == "vacuum_deletes")
    return (
        read_version(spark, tgt, v)
        .withColumn(
            "event_id",
            F.when(
                F.col("event_id") >= 10_000_000,
                F.col("event_id") - 10_000_000,
            ).otherwise(F.col("event_id")),
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("v_cents").cast("long").alias("cents"),
        )
        .withColumn("appends", F.lit(n_app).cast("long"))
        .withColumn("takedowns", F.lit(n_take).cast("long"))
        .withColumn("n_versions", F.lit(v).cast("long"))
    )


@query(
    "s27_describe_detail",
    # Oracle: every reported field of the DESCRIBE DETAIL row is
    # closed-form from the build recipe — partition dirs = distinct
    # langs, two versions (init + the logical delete), the takedown
    # backlog = the %17 key count, one pending DV batch, and the
    # literal clustering/index specs. A hash match proves the
    # metadata surface reports exactly the state the operations
    # created (bytes/file counts are excluded: they depend on write
    # parallelism and compression, not semantics).
    oracle="""
    SELECT (SELECT count(DISTINCT lang) FROM documents)::INTEGER
               AS n_partition_dirs,
           'lang' AS partition_cols,
           true AS versioned,
           2::BIGINT AS latest_version,
           (SELECT count(DISTINCT doc_id) FROM documents
            WHERE doc_id % 17 = 0)::BIGINT AS pending_delete_keys,
           1::BIGINT AS pending_dv_versions,
           'doc_id,n_chars' AS clustered_by,
           false AS schema_evolved,
           'doc_id' AS stats_columns,
           'doc_id' AS bloom_columns
    """,
    covers=["S4"],
)
def s27_describe_detail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DESCRIBE DETAIL operations surface (r14): publish
    `documents` Z-clustered + hive-partitioned, enable the version
    log and both index sidecars, record a takedown batch, then read
    the dataset's one-row metadata summary
    (maintenance.dataset_details) — pure metadata, no data scan, the
    dashboard-poller surface. The hash pins every deterministic
    field: partitioning, version state, pending takedown backlog
    (distinct keys), unapplied DV batches, clustering columns, index
    specs, and the schema-evolution marker."""
    import shutil

    from engage_spark.indexes import bloom_enable
    from engage_spark.io import delete_rows, zorder_write
    from engage_spark.maintenance import dataset_details
    from engage_spark.stats import stats_enable
    from engage_spark.versioning import version_log_enable

    d = table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    tgt = _scratch("docs_describe_detail")
    shutil.rmtree(tgt, ignore_errors=True)  # idempotent across reruns
    zorder_write(
        spark, d, tgt, ["doc_id", "n_chars"], bits=16, num_files=4,
        partition_by=["lang"],
    )
    version_log_enable(spark, tgt)                                 # v1
    stats_enable(spark, tgt, ["doc_id"])
    bloom_enable(spark, tgt, ["doc_id"])
    delete_rows(
        spark, tgt,
        d.filter(F.col("doc_id") % 17 == 0).select("doc_id"), "doc_id",
    )                                                              # v2
    return dataset_details(spark, tgt).select(
        "n_partition_dirs", "partition_cols", "versioned",
        "latest_version", "pending_delete_keys", "pending_dv_versions",
        "clustered_by", "schema_evolved", "stats_columns",
        "bloom_columns",
    )
