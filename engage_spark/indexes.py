"""Per-file Bloom-filter key index + point-lookup reads (round 14) —
the Delta "bloom filter index" / Iceberg puffin pattern on the
plain-parquet version log.

Min/max stats (engage_spark.stats) prune RANGE predicates on clustered
columns, but a point lookup on a HIGH-CARDINALITY, NON-clustered key
(the takedown / GDPR / "fetch these doc_ids" path) gets nothing from
min/max: every file's [min, max] on a scattered key spans the whole
domain, so victim detection degrades to scanning the key column of
every file. At 100 TB that is the single most common metadata-hostile
operation a corpus runs.

A per-file Bloom filter on the declared key columns makes that lookup
metadata-bounded: ~10 bits per distinct value at 1% false-positive
rate (1.2 MB per GB-sized file for a 10^6-distinct key), harvested
once per file at commit time (files are immutable), probed without
touching any data file. False positives only ever ADD candidate
files — the exact predicate is re-applied after the pruned scan, and a
file without a bloom row is always kept — so a pruned read is
byte-identical to the unpruned one; blooms are an optimization, never
a correctness gate (same contract as the stats sidecar).

Layout: ``_versions/bloom`` parquet sidecar, one row per (file,
column): ``name, col, n_values, m_bits, k, bits`` — dataset-relative
names, the same keys the version log uses, so rows survive rename
into ``_versions/retained`` and vacuum compaction can drop rows for
fully-forgotten files. ``n_values = 0`` marks a column with NO
non-null values in that file (all-NULL, or physically absent in a
pre-schema-evolution file): no equality lookup can match, so the
file is prunable for ANY lookup on that column.

Unlike the min/max harvest (footer-only), building a bloom must READ
the key column once — column-pruned, distributed past 256 files, and
amortized: every subsequent lookup and every takedown's victim
detection skips the full-column scan forever after.

SIZING `fpp` for batch lookups: false positives compound per batch —
a file survives pruning if ANY of the B lookup keys false-positives,
so P(clean file kept) ≈ 1-(1-fpp)^B ≈ B*fpp. The default fpp=0.01 is
right for ~single-key lookups; a corpus whose takedowns arrive in
10^4-key batches should enable with fpp ≈ 10^-6 (≈29 bits per
distinct value instead of ~10 — still metadata-sized) so a batch
keeps ~B + 10^-2*F files instead of most of the corpus. Measured
ladder in SCALE.md §Bloom point lookup.

Reference parity note: covers no reference file — engine extension
(the 100 TB point-lookup / takedown planning path).
"""

from __future__ import annotations

import hashlib as _hashlib
import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from engage_spark.stats import _hive_unescape
from engage_spark.versioning import (
    _VDIR,
    _apply_pending_dvs,
    _fs,
    _heal_staged_sidecar,
    _heal_staged_sidecar_if_idle,
    _live_names,
    _pa_fs_for,
    _pa_read_small,
    _read_names,
    _replay_files,
    _schema_at,
    _staged_sidecar_swap,
    _vlog_entries,
    version_log_enabled,
)

_VBLOOM = f"{_VDIR}/bloom"
_VBLOOM_SPEC = f"{_VDIR}/bloom_spec"
_BLOOM_SCHEMA = (
    "name string, col string, n_values long, m_bits long, k int, bits binary"
)
# past this many files the harvest runs as a Spark job instead of a
# driver loop (same shape as stats._stats_harvest)
_BLOOM_DRIVER_MAX = 256
# the PROBE's driver path is tighter: unlike stats rows, bloom rows
# carry the bitset (~1.2 MB per 10^6-distinct-key file), so collecting
# them is bounded at 64 files (~75 MB worst case); larger file sets
# probe executor-side and only NAMES come back
_BLOOM_PROBE_DRIVER_MAX = 64
# lookups larger than this skip bloom pruning entirely: probing B keys
# against F files costs B*k bit tests per file, and a batch that big
# should go through a broadcast-join scan anyway (apply_deletes'
# _DELETES_ISIN_MAX is the same regime boundary)
_BLOOM_LOOKUP_MAX = 100_000


def _bloom_key_bytes(v):
    """Canonical bytes for a lookup/build value — the SAME function on
    both sides, so a parquet int64 harvested on an executor and a
    Python int passed to read_keys hash identically. Integral floats
    normalize to ints (Spark's `col = 5.0` matches a bigint 5, so the
    bloom must too). None → None (NULLs are not indexed; an equality
    lookup never matches NULL). Distinct-type prefixes keep int 5 and
    string "5" from colliding — lookups must match the column's type
    (same contract as a typed SQL predicate)."""
    if v is None:
        return None
    if isinstance(v, bool):
        return b"i1" if v else b"i0"
    if isinstance(v, int):
        return b"i" + str(v).encode()
    if isinstance(v, float):
        if math.isnan(v):
            return b"fnan"
        if v.is_integer():
            return b"i" + str(int(v)).encode()
        return b"f" + repr(v).encode()
    if isinstance(v, (bytes, bytearray)):
        return b"b" + bytes(v)
    if hasattr(v, "item"):  # numpy scalar from an Arrow round-trip
        return _bloom_key_bytes(v.item())
    import decimal as _dec

    if isinstance(v, _dec.Decimal):
        # scale variants of one value (Decimal('5') vs Decimal('5.00'))
        # and a float probe of the same number must hash identically —
        # normalize through the float path (a high-precision collision
        # only ADDS a candidate file, never drops one)
        return _bloom_key_bytes(float(v))
    import datetime as _dt

    if isinstance(v, _dt.datetime):
        # tz normalization (review-found): the HARVEST side reads
        # Spark-written TIMESTAMP_MICROS via pyarrow as tz-AWARE (UTC)
        # datetimes, while the LOOKUP side (a Spark collect, or
        # apply_deletes' key batch) yields NAIVE datetimes in the
        # session timezone. Convert aware values to UTC and strip the
        # tzinfo so both sides hash the same instant — exact because
        # the engage session pins spark.sql.session.timeZone=UTC
        # (session.py); under a foreign non-UTC session _bloom_prune
        # REFUSES to prune datetime lookups (a shifted naive value
        # would hash differently and wrongly prune a file).
        if v.tzinfo is not None:
            v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        return b"t" + v.isoformat().encode()
    if hasattr(v, "isoformat"):  # date
        return b"s" + v.isoformat().encode()
    return b"s" + str(v).encode("utf-8")


def _bloom_params(n: int, fpp: float) -> tuple:
    """(m_bits, k) for n distinct values at the target false-positive
    rate; m rounded up to a byte multiple with a small floor so
    single-value blooms (partition columns) are not degenerate."""
    m = max(64, math.ceil(-n * math.log(fpp) / (math.log(2) ** 2)))
    m = (m + 7) // 8 * 8
    k = max(1, round(m / n * math.log(2)))
    return m, min(k, 16)


def _bloom_hash_pair(key_bytes: bytes) -> tuple:
    """(h1, h2) for double hashing, from one md5; h2 forced odd so the
    stride cycles any table size. Depends only on the key, so probes
    hash each key ONCE per prune call and reuse the pair across every
    file (review-found: the per-(key, file) recompute multiplied
    digest cost by the file count)."""
    d = _hashlib.md5(key_bytes).digest()
    return int.from_bytes(d[:8], "big"), int.from_bytes(d[8:16], "big") | 1


def _bloom_positions(key_bytes: bytes, m: int, k: int) -> list:
    """k bit positions via double hashing: h1 + i*h2 mod m."""
    h1, h2 = _bloom_hash_pair(key_bytes)
    return [(h1 + i * h2) % m for i in range(k)]


def _maybe_contains_pair(bits: bytes, m: int, k: int, h1: int, h2: int) -> bool:
    for i in range(k):
        pos = (h1 + i * h2) % m
        if not bits[pos >> 3] >> (pos & 7) & 1:
            return False
    return True


def _bloom_maybe_contains(bits: bytes, m: int, k: int, key_bytes: bytes) -> bool:
    h1, h2 = _bloom_hash_pair(key_bytes)
    return _maybe_contains_pair(bits, m, k, h1, h2)


def _bloom_canon(values) -> list:
    """`_bloom_key_bytes` of every non-NULL value. An Arrow array of
    integers or strings is canonicalized in Arrow — a decimal cast
    and the type prefix — with no Python call per value; anything
    else goes value by value."""
    import pyarrow as pa

    if isinstance(values, (pa.Array, pa.ChunkedArray)):
        import pyarrow.compute as pc

        t = values.type
        if pa.types.is_integer(t) or pa.types.is_string(t):
            arr = values.drop_null()
            prefix = "s"
            if pa.types.is_integer(t):
                arr, prefix = pc.cast(arr, pa.string()), "i"
            return (
                pc.binary_join_element_wise(prefix, arr, "")
                .cast(pa.binary())
                .to_pylist()
            )
        values = values.to_pylist()
    return [b for b in map(_bloom_key_bytes, values) if b is not None]


def _build_bloom(values, fpp: float) -> tuple:
    """(n_values, m_bits, k, bits) over canonicalized non-null values
    (a Python iterable, or an Arrow array — `_bloom_canon`).

    Bit positions are computed in one vectorized numpy pass from the
    mod-m-reduced hash pair: (h1 + i*h2) % m == ((h1%m) + i*(h2%m)) % m
    exactly, and the reduced operands stay < 17*m << 2^63, so the int64
    arithmetic is exact at any real filter size — every bit lands where
    the old per-position Python loop put it (pinned by test), keeping
    new sidecars probe-compatible with old ones. The loop cost 100k+
    interpreter iterations per 24-file harvest (r15 optimization
    round, guide §4.2: batch work belongs in vectorized native code).
    The md5 digests are joined into one buffer and split into the
    big-endian (h1, h2) words by numpy, as `_bloom_hash_pair` reads
    them."""
    canon = _bloom_canon(values)
    if not canon:
        return 0, 0, 0, b""
    m, k = _bloom_params(len(canon), fpp)
    import numpy as np

    words = np.frombuffer(
        b"".join([_hashlib.md5(b).digest() for b in canon]), dtype=">u8"
    ).reshape(-1, 2)
    h1m = (words[:, 0] % np.uint64(m)).astype(np.int64)
    h2m = ((words[:, 1] | np.uint64(1)) % np.uint64(m)).astype(np.int64)
    pos = (
        h1m[:, None] + np.arange(k, dtype=np.int64)[None, :] * h2m[:, None]
    ) % m
    pos = pos.ravel()
    np_bits = np.zeros(m // 8, dtype=np.uint8)
    np.bitwise_or.at(
        np_bits, pos >> 3, (1 << (pos & 7)).astype(np.uint8)
    )
    return len(canon), m, k, np_bits.tobytes()


def _file_bloom_one(uri: str, rel: str, cols: list, fpp: float) -> list:
    """Bloom rows for one parquet file: partition columns come from the
    relative path's `col=val/` dirs (single-value bloom — the numeric
    parse mirrors the lookup side's int canonicalization); physical
    columns are read COLUMN-PRUNED via pyarrow and deduped before
    hashing. A column absent from the file's schema (pre-evolution
    file) reads as NULL everywhere → the prunable n_values=0 row. Pure
    function of (uri, rel, cols, fpp): driver-side for small
    increments, executor tasks past _BLOOM_DRIVER_MAX files."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    rows = []
    part_vals = {}
    for seg in rel.split("/")[:-1]:
        if "=" in seg:
            c, _, v = seg.partition("=")
            part_vals[c] = _hive_unescape(v)
    for c in cols:
        if c not in part_vals:
            continue
        v = part_vals[c]
        if v is None:
            rows.append((rel, c) + _build_bloom([v], fpp))
            continue
        # a hive partition value is a STRING in the directory name but
        # Spark's dataset-global inference may type the column as
        # string, numeric, date, or timestamp depending on the OTHER
        # directories — which this per-file function cannot see. Bloom
        # EVERY plausible canonical form (review-found: parsing '42'
        # to int alone false-negatives when Spark inferred string):
        # extra forms only ever ADD candidate files, never drop one.
        cands: list = [v]  # the raw string form
        try:
            cands.append(int(v))
        except ValueError:
            try:
                cands.append(float(v))
            except ValueError:
                pass
        import datetime as _dt2

        for parse in (
            _dt2.datetime.fromisoformat,  # handles the ' ' separator
            _dt2.date.fromisoformat,
        ):
            try:
                cands.append(parse(v))
                break
            except ValueError:
                pass
        rows.append((rel, c) + _build_bloom(cands, fpp))
    phys = [c for c in cols if c not in part_vals]
    if not phys:
        return rows
    fs, p = _pa_fs_for(uri)
    with fs.open_input_file(p) as f:
        pf = pq.ParquetFile(f)
        names = set(pf.schema_arrow.names)
        want = [c for c in phys if c in names]
        tbl = pf.read(columns=want) if want else None
    for c in phys:
        if c not in names:
            rows.append((rel, c, 0, 0, 0, b""))
            continue
        rows.append((rel, c) + _build_bloom(pc.unique(tbl[c]), fpp))
    return rows


def _bloom_spec(spark: SparkSession, path: str) -> tuple:
    """(cols, fpp) or ([], 0.0) when blooms were never enabled. A
    TORN spec dir (a crashed bloom_enable's half-written overwrite)
    degrades to 'not enabled' instead of raising — the spec is read
    on every takedown's and vacuum's hot path, and the index must
    never become a correctness gate (review-found: the unguarded read
    made apply_deletes fail hard until manual repair)."""
    sfs, sp = _fs(spark, f"{path}/{_VBLOOM_SPEC}")
    if not sfs.exists(sp):
        return [], 0.0
    # driver-side pyarrow read (r15 optimization round): the spec is
    # probed 3-4x per lifecycle op and a one-row Spark read job cost
    # ~150 ms each; torn/unreadable still degrades to 'not enabled'
    row = _pa_read_small(spark, f"{path}/{_VBLOOM_SPEC}")
    if row is None:
        try:
            row = [
                r.asDict()
                for r in spark.read.parquet(
                    f"{path}/{_VBLOOM_SPEC}"
                ).collect()
            ]
        except Exception:
            return [], 0.0
    if not row:
        return [], 0.0
    return list(row[0]["cols"]), float(row[0]["fpp"])


def _bloom_harvest(spark: SparkSession, path: str, names: list) -> int:
    """Append bloom rows for `names` — the shared sidecar harvest
    (versioning._sidecar_harvest: (file, column) pair dedup, driver
    loop for small increments / Spark job past _BLOOM_DRIVER_MAX
    files, increment-bounded driver transfer) with _file_bloom_one at
    the spec's fpp as the per-file builder. Caller holds the
    maintenance lease. Returns the number of files harvested."""
    from engage_spark.versioning import _sidecar_harvest

    cols, fpp = _bloom_spec(spark, path)
    if not cols or not names:
        return 0
    _heal_staged_sidecar(
        spark, f"{path}/{_VBLOOM}", f"{path}/{_VDIR}/bloom_new"
    )
    return _sidecar_harvest(
        spark, path, list(names), cols, _VBLOOM, _BLOOM_SCHEMA,
        lambda uri, rel, want, _e=fpp: _file_bloom_one(uri, rel, want, _e),
        driver_max=_BLOOM_DRIVER_MAX,
    )


def bloom_enable(spark: SparkSession, path: str, cols, fpp: float = 0.01) -> int:
    """Declare per-file Bloom filters for `cols` on a version-logged
    dataset and backfill the CURRENT live file set (one column-pruned
    read of each file's key columns — the only data scan this index
    ever costs; every subsequent versioned commit harvests its added
    files automatically via the _vlog_append_entry hook). Reads go
    through :func:`read_keys`; takedowns' victim detection
    (io.apply_deletes) consumes the same sidecar. Returns the number
    of files backfilled."""
    from engage_spark.io import maintenance_lease
    from engage_spark.session import local_frame

    if not version_log_enabled(spark, path):
        raise ValueError(f"{path} has no version log (version_log_enable)")
    if not 0.0 < fpp < 1.0:
        raise ValueError(f"fpp must be in (0, 1), got {fpp}")
    cols = list(cols)
    # validate against the dataset's MERGED schema (review-found: a
    # misspelled column would otherwise silently index n_values=0
    # everywhere and turn every lookup on it into an empty frame,
    # masking the typo the unpruned read would raise on). mergeSchema
    # so a column introduced by evolution — present only in younger
    # files — still validates; partition columns surface here too.
    known = set(
        spark.read.option("mergeSchema", "true").parquet(path).columns
    )
    unknown = [c for c in cols if c not in known]
    if unknown:
        raise ValueError(
            f"column(s) {unknown} not in the dataset schema {sorted(known)}"
        )
    with maintenance_lease(spark, path):
        old_cols, old_fpp = _bloom_spec(spark, path)
        if old_cols and float(fpp) != old_fpp:
            # re-sizing fpp REBUILDS the index (review-found: the
            # (name, col) harvest dedup would otherwise skip every
            # existing file and silently keep the old rate — the
            # module docstring tells batch-takedown corpora to
            # re-enable at fpp≈1e-6, so the re-enable must take).
            # Sidecar delete comes BEFORE the spec overwrite (ADVICE
            # r14): a crash between the two then just re-backfills at
            # the old spec on next contact, whereas the old order
            # left old-fpp rows behind a new-fpp spec — and a re-run
            # with the same fpp would see spec==request and never
            # rebuild, so the re-size silently never took.
            sfs, sp = _fs(spark, f"{path}/{_VBLOOM}")
            if sfs.exists(sp):
                sfs.delete(sp, True)
        local_frame(
            spark, [(cols, float(fpp))], "cols array<string>, fpp double"
        ).coalesce(1).write.mode("overwrite").parquet(f"{path}/{_VBLOOM_SPEC}")
        return _bloom_harvest(spark, path, _live_names(spark, path))


def file_blooms(spark: SparkSession, path: str) -> DataFrame:
    """The bloom sidecar as a DataFrame (bits included) — one row per
    (file, column), deduped. Empty frame if never enabled."""
    from engage_spark.session import local_frame

    sfs, sp = _fs(spark, f"{path}/{_VBLOOM}")
    if not sfs.exists(sp):
        return local_frame(spark, [], _BLOOM_SCHEMA)
    return spark.read.parquet(f"{path}/{_VBLOOM}").dropDuplicates(["name", "col"])


def _bloom_prune(
    spark: SparkSession, path: str, names: list, col: str, values
) -> tuple:
    """(kept_names, n_pruned): drop files whose bloom PROVES none of
    `values` can be present in `col`. Files without a bloom row are
    kept (absence never prunes); n_values=0 rows (all-NULL /
    pre-evolution) are dropped (no equality matches NULL); an
    unreadable sidecar degrades to no pruning. Driver probe up to
    _BLOOM_PROBE_DRIVER_MAX files; past that the probe is a Spark job
    over the sidecar (bloom BITS never move to the driver in bulk —
    only the kept/probed NAME list comes back, bounded by file
    count)."""
    import datetime as _dt

    canon = []
    for v in values:
        if (
            isinstance(v, _dt.datetime)
            and v.tzinfo is None
            and spark.conf.get("spark.sql.session.timeZone", "UTC") != "UTC"
        ):
            # naive datetimes under a non-UTC session would hash a
            # shifted instant and could WRONGLY prune (bloom false
            # negatives are not conservative) — refuse to prune
            return list(names), 0
        b = _bloom_key_bytes(v)
        if b is not None:
            canon.append(b)
    if not canon or len(canon) > _BLOOM_LOOKUP_MAX:
        return list(names), 0
    _heal_staged_sidecar_if_idle(
        spark, path, f"{path}/{_VBLOOM}", f"{path}/{_VDIR}/bloom_new"
    )
    sfs, sp = _fs(spark, f"{path}/{_VBLOOM}")
    if not sfs.exists(sp):
        return list(names), 0
    pairs = [_bloom_hash_pair(b) for b in canon]
    name_set = set(names)
    verdict: dict = {}
    try:
        if len(names) <= _BLOOM_PROBE_DRIVER_MAX:
            # driver-side pyarrow sidecar read (r15 optimization
            # round): in the <= _BLOOM_PROBE_DRIVER_MAX regime the
            # probed bits already come to the driver, so reading the
            # sidecar there too replaces a ~200 ms Spark filter+
            # collect job; the Spark read stays the fallback, and any
            # failure still degrades to no pruning below
            pa_rows = _pa_read_small(spark, f"{path}/{_VBLOOM}")
            if pa_rows is not None:
                rows = [
                    r
                    for r in pa_rows
                    if r["col"] == col and r["name"] in name_set
                ]
            else:
                rows = (
                    spark.read.parquet(f"{path}/{_VBLOOM}")
                    .filter(
                        (F.col("col") == col)
                        & F.col("name").isin(list(names))
                    )
                    .collect()
                )
            for r in rows:
                if r["name"] in verdict:
                    continue
                if r["n_values"] == 0:
                    verdict[r["name"]] = False
                else:
                    verdict[r["name"]] = any(
                        _maybe_contains_pair(
                            r["bits"], r["m_bits"], r["k"], h1, h2
                        )
                        for h1, h2 in pairs
                    )
        else:
            from engage_spark.session import local_frame

            nm = local_frame(spark, [(n,) for n in names], "name string")
            side = (
                spark.read.parquet(f"{path}/{_VBLOOM}")
                .filter(F.col("col") == col)
                .join(F.broadcast(nm), on="name", how="left_semi")
                .select("name", "n_values", "m_bits", "k", "bits")
            )

            def _probe(batches, _pairs=pairs):
                import pandas as pd

                for pdf in batches:
                    hits = []
                    for nv, m, k, bits in zip(
                        pdf["n_values"], pdf["m_bits"], pdf["k"], pdf["bits"]
                    ):
                        hit = bool(nv) and any(
                            _maybe_contains_pair(
                                bytes(bits), int(m), int(k), h1, h2
                            )
                            for h1, h2 in _pairs
                        )
                        hits.append(hit)
                    yield pd.DataFrame({"name": pdf["name"], "hit": hits})

            for r in side.mapInPandas(
                _probe, "name string, hit boolean"
            ).collect():
                if r["name"] not in verdict:
                    verdict[r["name"]] = r["hit"]
    except Exception:
        # unreadable sidecar (torn rewrite window): blooms are an
        # optimization — degrade to no pruning, never a wrong result
        return list(names), 0
    kept = [n for n in names if verdict.get(n, True) and n in name_set]
    return kept, len(names) - len(kept)


def read_keys(
    spark: SparkSession,
    path: str,
    col: str,
    values,
    version: int | None = None,
    and_keys: dict | None = None,
) -> DataFrame:
    """Bloom-pruned point lookup: the dataset at `version` (default
    latest) filtered to ``col IN values``, with the FILE LIST pruned
    by per-file Bloom filters before the scan is planned — on a
    10^5-file corpus a 100-key lookup on an indexed column schedules
    the handful of files that can contain those keys instead of
    scanning the key column everywhere. The exact IN predicate is
    re-applied after the pruned scan (bloom false positives never
    leak) and pending deletion vectors anti-join exactly like
    read_version, so the result is byte-identical to filtering the
    unpruned read. `values` is lookup-batch-sized (<= 100k; larger
    batches skip pruning and should use a broadcast-join scan). NULLs
    in `values` are dropped (SQL IN never matches NULL). Lookup
    values must match the column's type — int 5 and string "5" hash
    differently, same contract as a typed SQL predicate.
    `and_keys={"col2": [v1, ...], ...}` ANDs further point predicates,
    each pruning the file list again through its own column's blooms —
    a composite-key lookup (doc_id AND user_id) keeps only files whose
    EVERY indexed column admits a value. For mixing point and RANGE
    predicates use stats.read_where(..., and_keys=...): the min/max
    and bloom sidecars compose there."""
    if not version_log_enabled(spark, path):
        raise ValueError(f"{path} has no version log (version_log_enable)")
    entries = _vlog_entries(spark, path)
    if not entries:
        raise ValueError(f"version log of {path} has no entries")
    live_now = set(_replay_files(entries, entries[-1]["version"]))
    v = version if version is not None else entries[-1]["version"]
    if v < 1 or v > entries[-1]["version"]:
        raise ValueError(
            f"version {v} out of range 1..{entries[-1]['version']} for {path}"
        )
    names = _replay_files(entries, v)
    if not names:
        raise ValueError(f"version {v} of {path} has no data files")
    keysets = {col: [x for x in values if x is not None]}
    for c, vs in (and_keys or {}).items():
        clean = [x for x in vs if x is not None]
        if c in keysets:
            # an and_keys entry on the PRIMARY column ANDs with the
            # primary values — two IN predicates on one column
            # intersect (review-found: overwriting silently replaced
            # the caller's primary predicate)
            prior = set(keysets[c])
            clean = [x for x in clean if x in prior]
        keysets[c] = clean
    if not all(keysets.values()):
        # some leg is empty after NULL-filtering (or the intersection
        # is empty): the result is provably empty BEFORE any sidecar
        # probe runs — an empty frame with the UNION schema, read at
        # planning level only (footer merge, no data pages;
        # review-found twice: names[:1] could be a pre-evolution file
        # missing the looked-up column, and probing before this check
        # paid a full bloom probe for a discarded result)
        return _read_names(
            spark, path, names, live=live_now,
            schema=_schema_at(entries, v),
        ).filter(F.lit(False))
    kept = list(names)
    for c, vs in keysets.items():
        kept, _ = _bloom_prune(spark, path, kept, c, vs)
    if not kept:
        # every file provably key-free
        return _read_names(
            spark, path, names, live=live_now,
            schema=_schema_at(entries, v),
        ).filter(F.lit(False))
    df = _read_names(
        spark, path, kept, live=live_now, schema=_schema_at(entries, v)
    )
    df = _apply_pending_dvs(spark, path, entries, v, df)
    for c, vs in keysets.items():
        if {type(x) for x in vs} in ({int}, {str}):
            from engage_spark.io import _keys_in

            # one parsed IN: Column.isin costs two py4j calls per key
            df = df.filter(_keys_in(c, vs))
        else:
            df = df.filter(F.col(c).isin(vs))
    return df


def join_keys(
    spark: SparkSession,
    path: str,
    col: str,
    keys_df: DataFrame,
    version: int | None = None,
) -> DataFrame:
    """Dynamic file pruning for a key-join: read the dataset at
    `version` semi-joined to the key column of `keys_df` (a filtered
    dimension frame — its FIRST column is the key), bloom-pruning the
    fact file list when the key set is lookup-sized. This is the
    join-shaped twin of :func:`read_keys` — "which fact files can
    contain any of the dim keys that survived the dim filter" — the
    Delta dynamic-file-pruning pattern on the plain-parquet log.

    The dim keys are counted first: up to _BLOOM_LOOKUP_MAX distinct
    keys collect to the driver (dim-filter-sized, the DFP regime) and
    route through the pruned read_keys path; a larger key set skips
    pruning and reads the full version with a broadcast semi-join —
    never a driver-unbounded collect, never a wrong result (the exact
    semi-join / IN filter applies either way)."""
    kdf = (
        keys_df.select(F.col(keys_df.columns[0]).alias(col))
        .filter(F.col(col).isNotNull())
        .dropDuplicates()
    )
    # ONE evaluation of the dim frame: collect at most cap+1 rows —
    # enough to know whether the key set is lookup-sized — instead of
    # a count() scan followed by a second collect() scan
    head = kdf.limit(_BLOOM_LOOKUP_MAX + 1).collect()
    if len(head) <= _BLOOM_LOOKUP_MAX:
        return read_keys(
            spark, path, col, [r[0] for r in head], version=version
        )
    if not version_log_enabled(spark, path):
        raise ValueError(f"{path} has no version log (version_log_enable)")
    entries = _vlog_entries(spark, path)
    if not entries:
        raise ValueError(f"version log of {path} has no entries")
    v = version if version is not None else entries[-1]["version"]
    names = _replay_files(entries, v)
    df = _read_names(
        spark, path, names,
        live=set(_replay_files(entries, entries[-1]["version"])),
        schema=_schema_at(entries, v),
    )
    df = _apply_pending_dvs(spark, path, entries, v, df)
    # no explicit broadcast hint: past the lookup bound the key frame
    # can be arbitrarily large, so AQE picks broadcast vs shuffle from
    # its measured size
    return df.join(kdf, on=col, how="left_semi")


def _bloom_vacuum(spark: SparkSession, path: str, needed: set) -> int:
    """Compact the bloom sidecar during vacuum_versions (caller holds
    the lease): one part file, rows only for files some retained
    version still references. Crash-tolerant the cheap way — blooms
    are an optimization, so the brief rewrite gap is covered by
    _bloom_prune's conservative fallback. Returns rows kept."""
    from engage_spark.session import local_frame

    staged = f"{path}/{_VDIR}/bloom_new"
    _heal_staged_sidecar(spark, f"{path}/{_VBLOOM}", staged)
    sfs, sp = _fs(spark, f"{path}/{_VBLOOM}")
    if not sfs.exists(sp):
        return 0
    # EXECUTOR-SIDE rewrite: bloom rows carry the bitset, so unlike
    # the stats compaction the surviving rows never route through the
    # driver — only the `needed` NAME list ships out (broadcast join)
    nm = local_frame(spark, [(n,) for n in sorted(needed)], "name string")
    kept = (
        spark.read.parquet(f"{path}/{_VBLOOM}")
        .dropDuplicates(["name", "col"])
        .join(F.broadcast(nm), on="name", how="left_semi")
    )
    from pyspark.sql import Observation

    obs = Observation()
    kept.observe(obs, F.count(F.lit(1)).alias("n")).coalesce(1).write.mode(
        "overwrite"
    ).parquet(staged)
    n_kept = int(obs.get["n"])
    # delete-live → rename-staged; a crash between the two is healed
    # by _heal_staged_sidecar at the next read/compaction (the staged
    # dir's _SUCCESS marker proves completeness)
    _staged_sidecar_swap(spark, f"{path}/{_VBLOOM}", staged)
    return n_kept
