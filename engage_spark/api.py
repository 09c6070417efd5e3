"""Public DataFrame-in -> DataFrame-out API for the engine's
training-data operators.

The `engage_spark.queries.*` modules bind every operator to the driver
testdata tables for the correctness gate; this facade exposes the same
plans over ARBITRARY DataFrames and column names — what a user migrating
off the reference pipeline actually calls. Each function delegates to
(or mirrors exactly) an oracle-checked query implementation, so the
facade adds column plumbing, never new semantics.

All functions are lazy: they return unevaluated DataFrames/Columns and
inherit the scale properties documented in SCALE.md (map-side
signatures, banded candidate generation, bounded-state top-k, hash
deterministic sampling).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from engage_spark.checkpointing import iter_checkpoint
from engage_spark.queries.llm_dedup import (
    cosine_expr,
    minhash_candidate_pairs,
    simhash_near_pairs,
    with_simhash64,
)
from engage_spark.queries.llm_curation import (
    connected_components,
    connected_components_star,
)
from engage_spark.queries.llm_similarity import (
    lsh_banding_params,
    pq_params,
    semdedup_params,
)
from engage_spark.session import local_frame

__all__ = [
    "normalized_fingerprint",
    "exact_dedup_stats",
    "exact_dedup_keepers",
    "minhash_near_dup_pairs",
    "simhash_near_dup_pairs",
    "near_dup_components",
    "embed_lsh_near_dup_pairs",
    "lsh_banding_params",
    "semdedup_assignments",
    "semdedup_prune",
    "semdedup_params",
    "topk_cosine_search",
    "pq_encode",
    "pq_topk_search",
    "ivfpq_topk_search",
    "ivfpq_build",
    "ivfpq_search",
    "ivfpq_append",
    "minhash_index_build",
    "minhash_index_query",
    "minhash_index_append",
    "embed_index_build",
    "embed_index_query",
    "embed_index_append",
    "pq_params",
    "curation_funnel",
    "cluster_safe_split",
    "bigram_perplexity",
    "bpe_train",
    "percentile_gate",
    "sequence_packing",
    "pack_boundaries",
    "snapshot_diff",
    "hash_sample",
    "token_stats",
    "vocab_topk",
    "chunk_documents",
    "span_dedup",
    "training_shards",
    "cosine_expr",
    "validate_expectations",
    # round 10: takedown deletes + retrieval
    "minhash_index_delete",
    "minhash_index_vacuum",
    "embed_index_delete",
    "embed_index_vacuum",
    "ivfpq_delete",
    "ivfpq_vacuum",
    "ivfpq_recall_probe",
    "ivfpq_autotune_nprobe",
    "ivfpq_build_autoselect",
    "bm25_topk",
    "rrf_fuse",
    "hybrid_search",
]


def normalized_fingerprint(text_col: str = "text") -> Column:
    """md5 of whitespace-normalized lowercase text — the canonical
    exact-dedup key (same expression as x_text_fingerprint /
    x1_exact_dedup, oracle-checked there)."""
    return F.md5(F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " "))


def minhash_index_build(
    docs: DataFrame,
    index_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> int:
    """Build and PERSIST the near-dup LSH index — dedup-on-ingest at
    the NEAR-dup level, completing the incremental story whose exact
    half is the fingerprint store (incremental_ingest_stream /
    x_incremental_dedup). Layout (parquet, any Hadoop-FS URI):

      index_dir/bands/   (doc_id, band, band_key)   24 B/row, 8/doc
      index_dir/hashes/  (doc_id, __h array<long>)  shingle hashes

    The bands table is what queries join against (tiny rows); the
    hashes table is fetched only for banding survivors (the exact-
    Jaccard verify). Same expressions as minhash_candidate_pairs
    (minhash_shingle_hashes / minhash_band_rows), so index matches are
    exactly the pairs the batch query would emit. Returns the number
    of documents indexed."""
    from engage_spark.queries.llm_dedup import (
        minhash_band_rows,
        minhash_shingle_hashes,
    )

    hashed = minhash_shingle_hashes(docs, id_col=id_col, text_col=text_col, n=n)
    minhash_band_rows(hashed).write.mode("overwrite").parquet(
        f"{index_dir}/bands"
    )
    hashed.write.mode("overwrite").parquet(f"{index_dir}/hashes")
    return docs.count()


def minhash_index_query(
    index_dir: str,
    new_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    jaccard_threshold: float = 0.5,
    hot_bucket_cap: int | None = None,
) -> DataFrame:
    """Which indexed documents is each NEW document a near-dup of?
    Returns (new_id, corpus_id, jaccard) for every pair >= threshold —
    the admission check a near-dup-aware ingest runs per batch, without
    re-scanning corpus text (the index holds band rows + hashes only).

    Scale shape: the new batch's band rows equi-join the stored bands
    on (band, band_key) — the corpus side of the join is 24-byte rows,
    and HOT corpus buckets (template pages, > hot_bucket_cap members)
    short-circuit to their min-id representative: matching ANY member
    of a degenerate bucket means near-certain duplication with the
    whole family, so the query returns the hub instead of fanning out
    to m rows (the query-side translation of the star-edge cap).
    Hashes are fetched for banding survivors only."""
    from engage_spark.queries.llm_dedup import (
        _HOT_BUCKET_CAP,
        minhash_band_rows,
        minhash_shingle_hashes,
    )

    spark = new_docs.sparkSession
    return _minhash_query_frames(
        _without_tombstones(
            spark, index_dir, spark.read.parquet(f"{index_dir}/bands"), "doc_id"
        ),
        _without_tombstones(
            spark, index_dir, spark.read.parquet(f"{index_dir}/hashes"), "doc_id"
        ),
        new_docs,
        id_col=id_col,
        text_col=text_col,
        n=n,
        jaccard_threshold=jaccard_threshold,
        hot_bucket_cap=hot_bucket_cap,
    )


def _minhash_query_frames(
    stored_bands: DataFrame,
    stored_hashes: DataFrame,
    new_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    jaccard_threshold: float = 0.5,
    hot_bucket_cap: int | None = None,
) -> DataFrame:
    """minhash_index_query's engine over ALREADY-LOADED index frames —
    the streaming ingest passes replay-filtered frames here (excluding
    its own half-committed batch partitions), batch callers pass the
    raw parquet scans."""
    from engage_spark.queries.llm_dedup import (
        _HOT_BUCKET_CAP,
        minhash_band_rows,
        minhash_shingle_hashes,
    )

    cap = hot_bucket_cap if hot_bucket_cap is not None else _HOT_BUCKET_CAP
    new_hashed = minhash_shingle_hashes(
        new_docs, id_col=id_col, text_col=text_col, n=n
    )
    # the batch's band rows feed BOTH the bucket-prune key set and the
    # candidate join; localCheckpoint materializes them once (batch-
    # sized, executor-local) instead of re-running the MinHash UDF per
    # consumer
    new_bands = (
        minhash_band_rows(new_hashed)
        .withColumnRenamed("doc_id", "new_id")
        .localCheckpoint(eager=False)
    )

    # prune the index to the query batch's buckets FIRST: the batch's
    # distinct (band, band_key) set is tiny (8/doc) and broadcasts, so
    # per-query cost is O(matching buckets), not O(index) — without
    # this, the bucket-stats pass below rescans the whole stored band
    # table on every ingest batch
    touched = stored_bands.join(
        F.broadcast(new_bands.select("band", "band_key").distinct()),
        on=["band", "band_key"],
        how="left_semi",
    )
    # bucket stats over the touched 24-B rows; buckets above the cap
    # collapse to their min-id hub
    w = Window.partitionBy("band", "band_key")
    corpus_side = (
        touched.withColumn("__bsz", F.count(F.lit(1)).over(w))
        .withColumn("__hub", F.min("doc_id").over(w))
        .filter((F.col("__bsz") <= cap) | (F.col("doc_id") == F.col("__hub")))
        .select("band", "band_key", F.col("doc_id").alias("corpus_id"))
    )
    cand = (
        new_bands.join(corpus_side, on=["band", "band_key"])
        .filter(F.col("new_id") != F.col("corpus_id"))
        .select("new_id", "corpus_id")
        .dropDuplicates(["new_id", "corpus_id"])
    )
    nh = new_hashed.select(F.col("doc_id").alias("new_id"), F.col("__h").alias("nh"))
    ch = stored_hashes.select(
        F.col("doc_id").alias("corpus_id"), F.col("__h").alias("ch")
    )
    jac = F.size(F.array_intersect("nh", "ch")) / F.size(
        F.array_union("nh", "ch")
    ).cast("double")
    return (
        cand.join(nh, on="new_id")
        .join(ch, on="corpus_id")
        .withColumn("jaccard", F.round(jac, 6))
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("new_id", "corpus_id", "jaccard")
    )


def minhash_index_append(
    index_dir: str,
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> int:
    """Append documents to a persisted near-dup index: one map pass
    over the increment (shingle-hash + band rows), plain parquet
    append — the maintenance path after an ingest batch is admitted.
    Wrap in the caller's retry discipline (or per-batch partitions as
    in incremental_ingest_stream) if exactly-once matters. Returns the
    number of documents appended."""
    from engage_spark.queries.llm_dedup import (
        minhash_band_rows,
        minhash_shingle_hashes,
    )

    # revive BEFORE appending: purge any revived ids' stale index rows
    # so the fresh rows below are the only live ones for those ids
    _tombstones_revive(
        docs.sparkSession, index_dir, docs.select(id_col),
        {"bands": "doc_id", "hashes": "doc_id"},
    )
    spark = docs.sparkSession
    tag = _manual_run_tag()
    hashed = minhash_shingle_hashes(docs, id_col=id_col, text_col=text_col, n=n)
    _index_append_write(spark, minhash_band_rows(hashed), f"{index_dir}/bands", tag)
    _index_append_write(spark, hashed, f"{index_dir}/hashes", tag)
    return docs.count()


def embed_index_build(
    vectors: DataFrame,
    index_dir: str,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    bands: int | None = None,
    rows: int | None = None,
    dim: int = 64,
    n_rows: int | None = None,
) -> dict:
    """Build and PERSIST the semantic near-dup index — the embedding
    sibling of minhash_index_build (paraphrases/translations sharing
    no n-grams). Layout:

      index_dir/bands/    (vec_id, band, key)           tiny rows
      index_dir/vectors/  (vec_id, embedding)           for the verify
      index_dir/meta/     (bands, rows, dim)            1 row

    Banding defaults to lsh_banding_params(n) — and the CONFIG IS
    PERSISTED in meta: a query hashed under different (bands, rows,
    dim) would land in disjoint buckets and silently match nothing, so
    embed_index_query always replays the stored config. Returns
    {"n_vectors", "bands", "rows"}."""
    from engage_spark.queries.llm_similarity import (
        lsh_banding_params,
        nd_band_keys_column,
    )

    e = vectors.select(
        F.col(id_col).alias("vec_id"), F.col(emb_col).alias("embedding")
    )
    spark = e.sparkSession
    if bands is None or rows is None:
        n = n_rows if n_rows is not None else e.count()
        bands, rows = lsh_banding_params(n)
    banded = e.select(
        "vec_id",
        F.posexplode(
            nd_band_keys_column(e, "embedding", bands, rows, dim)
        ).alias("band", "key"),
    )
    banded.write.mode("overwrite").parquet(f"{index_dir}/bands")
    e.write.mode("overwrite").parquet(f"{index_dir}/vectors")
    local_frame(
        spark, [(int(bands), int(rows), int(dim))],
        "bands int, rows int, dim int",
    ).coalesce(1).write.mode("overwrite").parquet(f"{index_dir}/meta")
    return {"n_vectors": e.count(), "bands": bands, "rows": rows}


def _meta_row(spark, index_dir: str):
    """The 1-row `meta` sidecar of a persisted index, read driver-side
    via pyarrow (~10 ms) instead of a ~200 ms Spark collect job, with
    the Spark read kept as the fallback on any failure — the sidecar
    convention of stats.py / indexes.py (r15 optimization round, guide
    §5: no distributed job for metadata-sized state). Returns an
    attribute-access row exposing `__fields__` like a Spark Row."""
    from engage_spark.versioning import _pa_read_small

    rows = _pa_read_small(spark, f"{index_dir}/meta")
    if rows:
        import types

        ns = types.SimpleNamespace(**rows[0])
        ns.__fields__ = list(rows[0].keys())
        return ns
    return spark.read.parquet(f"{index_dir}/meta").collect()[0]


def embed_index_query(
    index_dir: str,
    new_vectors: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    threshold: float = 0.35,
    hot_bucket_cap: int | None = None,
) -> DataFrame:
    """Which indexed vectors is each NEW vector a semantic near-dup
    of? Returns (new_id, corpus_id, cosine) for pairs >= threshold.
    The new batch hashes under the INDEX's stored banding config
    (meta), its band rows equi-join the stored bands, hot corpus
    buckets answer with their min-id representative (the
    minhash_index_query cap), and the cosine verify fetches stored
    vectors for banding survivors only (Arrow-vectorized)."""
    spark = new_vectors.sparkSession
    meta = _meta_row(spark, index_dir)
    stored_bands = _without_tombstones(
        spark, index_dir, spark.read.parquet(f"{index_dir}/bands"), "vec_id"
    )
    stored_vecs = _without_tombstones(
        spark, index_dir, spark.read.parquet(f"{index_dir}/vectors"), "vec_id"
    )
    return _embed_query_frames(
        stored_bands, stored_vecs, meta, new_vectors,
        id_col=id_col, emb_col=emb_col, threshold=threshold,
        hot_bucket_cap=hot_bucket_cap,
    )


def _embed_query_frames(
    stored_bands: DataFrame,
    stored_vecs: DataFrame,
    meta,
    new_vectors: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    threshold: float = 0.35,
    hot_bucket_cap: int | None = None,
) -> DataFrame:
    """embed_index_query's engine over ALREADY-LOADED index frames —
    the streaming ingest passes replay-filtered frames here (excluding
    its own half-committed batch partitions), batch callers pass the
    raw parquet scans. `meta` is any object with .bands/.rows/.dim."""
    from engage_spark.queries.llm_dedup import _HOT_BUCKET_CAP
    from engage_spark.queries.llm_similarity import (
        cosine_arrow,
        nd_band_keys_column,
    )

    cap = hot_bucket_cap if hot_bucket_cap is not None else _HOT_BUCKET_CAP
    q = new_vectors.select(
        F.col(id_col).alias("new_id"), F.col(emb_col).alias("new_emb")
    )
    qn = q.withColumnRenamed("new_emb", "embedding")
    # materialized once (batch-sized): feeds both the bucket-prune key
    # set and the candidate join, like _minhash_query_frames
    new_bands = qn.select(
        "new_id",
        F.posexplode(
            nd_band_keys_column(
                qn, "embedding", int(meta.bands), int(meta.rows), int(meta.dim)
            )
        ).alias("band", "key"),
    ).localCheckpoint(eager=False)
    # prune to the probe's buckets first (broadcast semi-join): the
    # bucket-stats window then touches O(matching buckets), not the
    # whole stored band table — same discipline as _minhash_query_frames
    touched = stored_bands.join(
        F.broadcast(new_bands.select("band", "key").distinct()),
        on=["band", "key"],
        how="left_semi",
    )
    w = Window.partitionBy("band", "key")
    corpus_side = (
        touched.withColumn("__bsz", F.count(F.lit(1)).over(w))
        .withColumn("__hub", F.min("vec_id").over(w))
        .filter((F.col("__bsz") <= cap) | (F.col("vec_id") == F.col("__hub")))
        .select("band", "key", F.col("vec_id").alias("corpus_id"))
    )
    cand = (
        new_bands.join(corpus_side, on=["band", "key"])
        .filter(F.col("new_id") != F.col("corpus_id"))
        .select("new_id", "corpus_id")
        .dropDuplicates(["new_id", "corpus_id"])
    )
    qe = q
    ce = stored_vecs.select(
        F.col("vec_id").alias("corpus_id"), F.col("embedding").alias("c_emb")
    )
    return (
        cand.join(qe, on="new_id")
        .join(ce, on="corpus_id")
        .withColumn("cosine", F.round(cosine_arrow("new_emb", "c_emb"), 6))
        .filter(F.col("cosine") >= threshold)
        .select("new_id", "corpus_id", "cosine")
    )


def embed_index_append(
    index_dir: str,
    new_vectors: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> int:
    """Append vectors to a persisted semantic near-dup index under its
    STORED banding config (one map pass over the increment). Plain
    parquet append — wrap in the caller's retry discipline if
    exactly-once matters. Returns the number of vectors appended."""
    from engage_spark.queries.llm_similarity import nd_band_keys_column

    spark = new_vectors.sparkSession
    meta = _meta_row(spark, index_dir)
    e = new_vectors.select(
        F.col(id_col).alias("vec_id"), F.col(emb_col).alias("embedding")
    )
    # revive BEFORE appending: purge any revived ids' stale index rows
    _tombstones_revive(
        spark, index_dir, e.select("vec_id"),
        {"bands": "vec_id", "vectors": "vec_id"},
    )
    tag = _manual_run_tag()
    _index_append_write(
        spark,
        e.select(
            "vec_id",
            F.posexplode(
                nd_band_keys_column(
                    e, "embedding", int(meta.bands), int(meta.rows), int(meta.dim)
                )
            ).alias("band", "key"),
        ),
        f"{index_dir}/bands",
        tag,
    )
    _index_append_write(spark, e, f"{index_dir}/vectors", tag)
    return e.count()


def bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_id_col: str = "query_id",
    query_text_col: str = "query_text",
    max_df_fraction: float | None = None,
) -> DataFrame:
    """Okapi BM25 top-k lexical retrieval: score every document against
    every query's (distinct) terms and return (query_id, doc_id, rank,
    score) for the k best per query — the classic keyword-search
    complement to the embedding searches (x3 family), and the lexical
    half of a hybrid retriever. Pure DataFrame ops, no UDF.

    Scale shape: the corpus is scanned once into (doc, term, tf) — the
    posting-list form — with partial aggregation; n_docs and avgdl are
    two bounded driver scalars (catalog statistics at scale); the
    (tiny) query-term set BROADCASTS onto the posting lists, so
    per-query cost is the matched posting lists, never the corpus.
    For web-scale corpora the posting lists of stopword-frequency
    terms dominate that join — set ``max_df_fraction`` (e.g. 0.5) to
    drop terms present in more than that fraction of documents, the
    standard stopword-pruning trade (such terms carry near-zero idf).
    Query term frequency is ignored (terms deduped), the standard
    short-query simplification. Scores round to 6dp before ranking
    (ties break by doc_id), which is what makes the whole operator
    hash-oracle-able — x4d_bm25_topk replays it in DuckDB."""
    base = docs.select(
        F.col(id_col).alias("doc_id"), _ws_tokens(text_col).alias("__toks")
    ).withColumn("__dlen", F.size("__toks").cast("long"))
    tf = (
        base.select("doc_id", "__dlen", F.explode("__toks").alias("term"))
        .groupBy("doc_id", "__dlen", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    # n_docs / avgdl as a broadcast ONE-ROW scalar join instead of an
    # eager collect (r15 optimization round, guide §5): the collect was
    # a separate blocking job that tokenized the whole corpus just to
    # reduce it to 2 scalars, serialized before the query could even
    # plan. The same aggregate rides the query plan now, so the
    # rounded scores are bit-identical (identical float aggregation)
    # and the scalar pass overlaps the posting-list pass inside one
    # job. `avgdl` keeps the exact legacy fallback semantics:
    # NULL (empty corpus) OR 0.0 (all-empty docs) -> 1.0.
    stats = base.agg(
        F.count(F.lit(1)).cast("double").alias("__n"),
        F.avg("__dlen").alias("__ad0"),
    ).select(
        "__n",
        F.when(
            F.col("__ad0").isNull() | (F.col("__ad0") == 0.0), F.lit(1.0)
        ).otherwise(F.col("__ad0")).alias("__avgdl"),
    )
    dfr = tf.groupBy("term").agg(
        F.count(F.lit(1)).cast("double").alias("df")
    )
    if max_df_fraction is not None:
        # the stats scalar then feeds TWO broadcast sites (this filter
        # + contrib) and physical exchange reuse does NOT unify them
        # (verified: 2 BroadcastNestedLoopJoin / 0 ReusedExchange), so
        # without a cache the corpus-tokenizing aggregate would run
        # once per site — exactly the double pass the r15 scalar-join
        # change removed (ADVICE r15). One-row frame; the default
        # no-option path keeps its r15 plan untouched. A lazy local
        # checkpoint, not cache(): a cached plan stays matched by its
        # source paths for the rest of the session, so a later call
        # over rewritten documents at the same path would read these
        # stale scalars; checkpoint blocks go with the frame.
        stats = stats.localCheckpoint(eager=False)
        dfr = (
            dfr.crossJoin(F.broadcast(stats))
            .filter(F.col("df") <= F.col("__n") * F.lit(max_df_fraction))
            .drop("__n", "__avgdl")
        )
    qt = queries.select(
        F.col(query_id_col).alias("query_id"),
        _ws_tokens(query_text_col).alias("__qtoks"),
    ).select("query_id", F.explode(F.array_distinct("__qtoks")).alias("term"))
    idf = F.log(
        F.lit(1.0)
        + (F.col("__n") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    denom = F.col("tf") + F.lit(k1) * (
        F.lit(1.0 - b) + F.lit(b) * F.col("__dlen") / F.col("__avgdl")
    )
    contrib = (
        F.broadcast(qt)
        .join(tf, "term")
        .join(dfr, "term")
        .crossJoin(F.broadcast(stats))
        .withColumn("__c", idf * F.col("tf") * F.lit(k1 + 1.0) / denom)
    )
    score = contrib.groupBy("query_id", "doc_id").agg(
        F.round(F.sum("__c") + F.lit(1e-9), 6).alias("score")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.col("doc_id"))
    return (
        score.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "doc_id", "rank", "score")
    )


def rrf_fuse(
    ranked_lists: list, k0: int = 60, k: int = 10
) -> DataFrame:
    """Reciprocal-rank fusion of any number of per-query rank lists
    (each a DataFrame with query_id, doc_id, rank): rrf_score =
    Σ 1/(k0 + rank) over the lists an item appears in, re-ranked
    descending with a doc_id tie-break. The standard training-free way
    to combine lexical (bm25_topk) and semantic (topk_cosine_search /
    ivfpq_search) retrieval into a hybrid retriever — rank-based, so
    no score normalization across retrievers is needed.

    Scale shape: the inputs are already top-k lists (queries × k rows
    each), so this is arithmetic over bounded frames — one union, one
    partial-agg'd groupBy, one per-query window. Scores round to 6dp
    before ranking, making the fusion oracle-able (x5_hybrid_rrf)."""
    import functools

    if not ranked_lists:
        raise ValueError(
            "rrf_fuse needs at least one ranked list (got an empty list)"
        )
    u = functools.reduce(
        lambda a, b: a.unionByName(b),
        [
            r.select(
                "query_id", "doc_id", F.col("rank").cast("long").alias("rank")
            )
            for r in ranked_lists
        ],
    )
    sc = u.groupBy("query_id", "doc_id").agg(
        F.round(
            F.sum(F.lit(1.0) / (F.lit(k0) + F.col("rank"))) + F.lit(1e-9), 6
        ).alias("rrf_score")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("rrf_score"), F.col("doc_id")
    )
    return (
        sc.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "doc_id", "rrf_score", "rank")
    )


def hybrid_search(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    k0: int = 60,
    id_col: str = "doc_id",
    text_col: str = "text",
    emb_col: str = "embedding",
    query_id_col: str = "query_id",
    query_text_col: str = "query_text",
    query_emb_col: str = "query_embedding",
    bm25_kwargs: dict | None = None,
    semantic: str = "exact",
    index_dir: str | None = None,
    n_rows: int | None = None,
) -> DataFrame:
    """One-call hybrid retrieval over a corpus carrying BOTH a text and
    an embedding column: BM25 (lexical) and a semantic top-k list
    fused by reciprocal rank. Queries supply (query_id, query_text,
    query_embedding). Each retriever fetches 2*k candidates so an item
    strong in one modality but just outside the other's top-k still
    fuses in. Returns (query_id, doc_id, rrf_score, rank).

    `semantic` picks the embedding leg (fusion is retriever-agnostic):
      - "exact"  — topk_cosine_search, a full broadcast scan per query
                   batch: the small-corpus / ground-truth choice.
      - "ivfpq"  — ivfpq_topk_search (sub-linear probes, compressed
                   ADC scan, exact re-rank): the corpus-scale choice,
                   the registered x5b_hybrid_ivfpq composition. Pass
                   `index_dir` to search a PERSISTED ivfpq_build index
                   instead of training quantizers on the fly; `n_rows`
                   skips the on-the-fly path's count() job. The ADC
                   shortlist is widened to max(50, 2*k) so the semantic
                   leg always delivers the full 2k-candidate fusion
                   list even for k > 25."""
    lex = bm25_topk(
        corpus,
        queries,
        k=2 * k,
        id_col=id_col,
        text_col=text_col,
        query_id_col=query_id_col,
        query_text_col=query_text_col,
        **(bm25_kwargs or {}),
    )
    vec_corpus = corpus.select(F.col(id_col), F.col(emb_col))
    if semantic == "exact":
        sem = topk_cosine_search(
            vec_corpus,
            queries,
            k=2 * k,
            id_col=id_col,
            emb_col=emb_col,
            query_id_col=query_id_col,
            query_emb_col=query_emb_col,
            exclude_self=False,
        )
    elif semantic == "ivfpq" and index_dir is not None:
        sem = ivfpq_search(
            index_dir,
            queries,
            vec_corpus,
            k=2 * k,
            rerank=max(50, 2 * k),
            id_col=id_col,
            emb_col=emb_col,
            query_id_col=query_id_col,
            query_emb_col=query_emb_col,
            exclude_self=False,
        )
    elif semantic == "ivfpq":
        sem = ivfpq_topk_search(
            vec_corpus,
            queries,
            k=2 * k,
            rerank=max(50, 2 * k),
            id_col=id_col,
            emb_col=emb_col,
            query_id_col=query_id_col,
            query_emb_col=query_emb_col,
            exclude_self=False,
            n_rows=n_rows,
        )
    else:
        raise ValueError(
            f"unknown semantic retriever {semantic!r}; use 'exact' or 'ivfpq'"
        )
    sem = sem.select("query_id", F.col("neighbor_id").alias("doc_id"), "rank")
    return rrf_fuse([lex, sem], k0=k0, k=k)


def exact_dedup_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-fingerprint duplicate statistics: (fingerprint, keeper_id,
    n_copies). One hash-groupBy; duplicates collapse map-side before the
    exchange (the x1_exact_dedup plan)."""
    return (
        df.select(normalized_fingerprint(text_col).alias("fingerprint"), id_col)
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def exact_dedup_keepers(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """The deduplicated corpus itself: keep the lowest-id row per
    fingerprint, preserving every input column. One window shuffle on
    the fingerprint (same exchange as the stats form; the row_number
    formulation avoids a join back)."""
    w = Window.partitionBy(normalized_fingerprint(text_col)).orderBy(id_col)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def minhash_near_dup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    jaccard_threshold: float = 0.5,
) -> DataFrame:
    """Near-duplicate pairs via MinHash banding + exact-Jaccard verify
    (x2_minhash_lsh_dedup's plan). Returns (doc_a, doc_b, jaccard),
    doc_a < doc_b."""
    return minhash_candidate_pairs(
        df, id_col=id_col, text_col=text_col, n=n,
        jaccard_threshold=jaccard_threshold,
    )


def simhash_near_dup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 8,
) -> DataFrame:
    """Near-duplicate pairs via 64-bit SimHash + 16-bit-chunk banding
    (x2b_simhash_dedup's plan). Returns (doc_a, doc_b, hamming)."""
    renamed = df.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
    )
    return simhash_near_pairs(renamed, max_hamming=max_hamming)


def near_dup_components(
    ids: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src_col: str = "doc_a",
    dst_col: str = "doc_b",
    algorithm: str = "propagation",
) -> DataFrame:
    """Cluster near-dup pairs into components: (node, component) where
    component is the minimum reachable id (the cluster keeper).
    `algorithm`: 'propagation' (min-label, O(diameter) rounds — the
    default for shallow dedup clusters) or 'star' (large-star/small-star,
    O(log^2 n) rounds for high-diameter graphs)."""
    algorithms = {
        "propagation": connected_components,
        "star": connected_components_star,
    }
    if algorithm not in algorithms:
        raise ValueError(
            f"algorithm must be one of {sorted(algorithms)}, got {algorithm!r}"
        )
    nodes = ids.select(F.col(id_col).alias("node"))
    return algorithms[algorithm](nodes, pairs, node_col="node", src=src_col, dst=dst_col)


def embed_lsh_near_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    threshold: float = 0.35,
    bands: int = 4,
    rows: int = 4,
    dim: int = 64,
    hot_bucket_cap: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup pairs without a blocking key: banded
    hyperplane LSH candidates + exact cosine verify (the single
    implementation behind x_embed_lsh_neardup_pairs — the banding
    shuffle carries only (id, band, key); embeddings rejoin for
    survivors). Returns (vec_a, vec_b, cosine), vec_a < vec_b.

    `dim` is the embedding dimensionality (hyperplanes are generated at
    this width; a mismatch degrades to prefix-dimension hashing, see
    `nd_band_keys_column`). Size `rows` ~ log2(corpus) and raise
    `bands` alongside: per-bucket candidate volume is occupancy², so
    the 4x4 default that fits test scale goes quadratic on a large
    corpus (measured 7.8x wall-clock at 10x data; ~2x once the banding
    scales — see SCALE.md). Pass the output of `lsh_banding_params(n)`
    (the calibrated log2 rule the registered query uses) when the
    corpus row count is known. The key-hashing kernel auto-selects:
    one Arrow-batch BLAS gemm per batch from the (4,4) floor config
    up, JVM codegen expressions for smaller custom configs.

    Bucket self-joins are size-capped (`hot_bucket_cap`, default the
    family-wide _HOT_BUCKET_CAP): a crawl's boilerplate/template pages
    embed near-identically and share every band key, and an uncapped
    bucket of m members is a C(m,2)-pair task AQE cannot split; above
    the cap the bucket short-circuits to star edges on its min-id
    member (component-preserving — see llm_dedup._capped_bucket_pairs),
    mirrored in the registered query's DuckDB oracle."""
    from engage_spark.queries.llm_dedup import (
        _HOT_BUCKET_CAP,
        _capped_bucket_pairs,
    )
    from engage_spark.queries.llm_similarity import (
        cosine_arrow,
        nd_band_keys_column,
    )

    # r16: the embedding frame feeds THREE consumers (banding + both
    # verify sides) — checkpoint once so the scan+project runs once
    # and the verify joins read the materialization (min-of-4
    # head-to-head: sf0.1 3.30 -> 2.81 s, sf1 8.43 -> 7.16 s; the
    # candidate-cover semi-join variant measured worse at both scales)
    e = df.select(
        F.col(id_col).alias("vec_id"), F.col(emb_col).alias("embedding")
    ).localCheckpoint(eager=False)
    banded = e.select(
        "vec_id",
        F.posexplode(
            nd_band_keys_column(e, "embedding", bands, rows, dim)
        ).alias("band", "key"),
    )
    cand = _capped_bucket_pairs(
        banded, ["band", "key"], "vec_id", "vec_a", "vec_b",
        cap=hot_bucket_cap if hot_bucket_cap is not None else _HOT_BUCKET_CAP,
    )
    emb_a = e.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("emb_a"))
    emb_b = e.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("emb_b"))
    return (
        cand.join(emb_a, on="vec_a")
        .join(emb_b, on="vec_b")
        # Arrow-vectorized verify: the candidate set is the large side
        # of this operator (occupancy x bands pairs per vector)
        .withColumn("cosine", F.round(cosine_arrow("emb_a", "emb_b"), 6))
        .filter(F.col("cosine") >= threshold)
        .select("vec_a", "vec_b", "cosine")
    )


def semdedup_assignments(
    df: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    n_rows: int | None = None,
) -> DataFrame:
    """The TWO-LEVEL nearest-centroid assignment behind semdedup_prune,
    exposed unmaterialized so its plan shape is testable. Returns
    (id_col, emb_col, cluster_id = seed id, cos_c).

    r11 design (the r10 verdict's one scale ceiling was the k = n/96
    centroid collect+broadcast — linear-in-n driver memory): only the
    ~sqrt(k) COARSE seeds (id % (stride*s2) == 0, s2 = isqrt(k))
    collect and broadcast; centroids and corpus vectors each
    coarse-assign in one Arrow pass (a coarse seed pins to its own
    cell — ulp noise must never leave a cell centroid-less); the fine
    assignment is a cogrouped Arrow gemm per (coarse cell, salt): each
    vector meets only its cell's ~sqrt(k) centroids via the shuffle,
    never a broadcast of all k. Driver/executor broadcast memory is
    O(sqrt(k)); compute drops from n*k to n*sqrt(k) dots. Both levels
    break argmax ties toward the smaller id (arrays sorted by id,
    np.argmax takes the first), exactly as the DuckDB oracle's
    row_number ORDER BY cos DESC, id does — the whole assignment stays
    hash-verifiable."""
    import math

    import numpy as np
    import pandas as pd
    from pyspark.sql.pandas.functions import pandas_udf

    from engage_spark.queries.llm_similarity import semdedup_params

    spark = df.sparkSession
    if n_rows is None:
        n_rows = df.count()
    k, stride = semdedup_params(n_rows)
    s2 = max(1, math.isqrt(k))
    coarse_stride = stride * s2
    # bounded collect: ~sqrt(k) coarse seed rows — at 10^9 vectors
    # (k = 10^7) this is ~3200 rows, vs the 10^7-row collect it replaces
    coarse = sorted(
        (r[0], r[1])
        for r in df.filter(F.col(id_col) % coarse_stride == 0)
        .select(id_col, emb_col).collect()
    )
    if not coarse:
        raise ValueError(
            f"semdedup: no coarse seeds — the id column contains no "
            f"multiple of {coarse_stride} (ids must be numeric and "
            "roughly dense for the hash-stride seed rule; remap or "
            "densify ids first)"
        )
    g_ids = np.array([gid for gid, _ in coarse], dtype=np.int64)
    g_mat = np.array([c for _, c in coarse], dtype=np.float64)
    g_norm = np.sqrt((g_mat ** 2).sum(axis=1))
    g_norm[g_norm == 0] = 1.0
    bc = spark.sparkContext.broadcast((g_ids, g_mat, g_norm))

    @pandas_udf("long")
    def coarse_assign(emb: pd.Series) -> pd.Series:
        ids, mat, cn = bc.value
        if not len(emb):
            return pd.Series([], dtype="int64")
        m = np.stack([np.asarray(v, dtype=np.float64) for v in emb])
        vn = np.sqrt((m * m).sum(axis=1))
        vn[vn == 0] = 1.0
        cos = (m @ mat.T) / np.outer(vn, cn)
        return pd.Series(ids[np.argmax(cos, axis=1)])

    # centroids (the full seed set) stay DISTRIBUTED: coarse-assign
    # them; a coarse seed is pinned to its own cell so every cell
    # contains at least its seed (float-ulp ties between a seed and an
    # identical-direction twin could otherwise empty a cell)
    cents = df.filter(F.col(id_col) % stride == 0).select(
        F.col(id_col).alias("__cid"), F.col(emb_col).alias("__cemb")
    ).withColumn(
        "__gid",
        F.when(F.col("__cid") % coarse_stride == 0, F.col("__cid"))
        .otherwise(coarse_assign("__cemb")),
    )
    vecs = df.select(id_col, emb_col).withColumn(
        "__gid", coarse_assign(emb_col)
    )
    # salt the corpus side so a hot coarse cell splits across tasks;
    # the centroid side replicates to every salt (result-invariant:
    # each vector still meets ALL of its cell's centroids)
    n_salt = 8
    vecs_s = vecs.withColumn(
        "__salt", F.pmod(F.xxhash64(id_col), F.lit(n_salt)).cast("int")
    )
    cents_s = cents.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(n_salt)]))
    )
    dim_hint = {"id": id_col, "emb": emb_col}

    def fine_assign(key, vpdf: pd.DataFrame, cpdf: pd.DataFrame) -> pd.DataFrame:
        idc, embc = dim_hint["id"], dim_hint["emb"]
        if not len(vpdf):
            return pd.DataFrame(
                {idc: pd.Series([], dtype="int64"),
                 embc: pd.Series([], dtype="object"),
                 "cluster_id": pd.Series([], dtype="int64"),
                 "cos_c": pd.Series([], dtype="float64")}
            )
        if not len(cpdf):  # unreachable: every cell keeps its own seed
            raise RuntimeError(
                f"semdedup coarse cell {key} has corpus vectors but no "
                "centroids — coarse assignment invariant violated"
            )
        cp = cpdf.sort_values("__cid")  # argmax first-hit = smallest cid
        cm = np.stack([np.asarray(v, dtype=np.float64) for v in cp["__cemb"]])
        cn = np.sqrt((cm * cm).sum(axis=1))
        cn[cn == 0] = 1.0
        cids = cp["__cid"].to_numpy(dtype=np.int64)
        out_cid = np.empty(len(vpdf), dtype=np.int64)
        out_cos = np.empty(len(vpdf), dtype=np.float64)
        for a0 in range(0, len(vpdf), 2048):  # bound the cos matrix
            b0 = min(a0 + 2048, len(vpdf))
            m = np.stack(
                [np.asarray(v, dtype=np.float64) for v in vpdf[embc].iloc[a0:b0]]
            )
            vn = np.sqrt((m * m).sum(axis=1))
            vn[vn == 0] = 1.0
            cos = (m @ cm.T) / np.outer(vn, cn)
            idx = np.argmax(cos, axis=1)
            out_cid[a0:b0] = cids[idx]
            out_cos[a0:b0] = cos[np.arange(len(idx)), idx]
        return pd.DataFrame(
            {idc: vpdf[idc].to_numpy(), embc: vpdf[embc].to_numpy(),
             "cluster_id": out_cid, "cos_c": out_cos}
        )

    emb_type = df.schema[emb_col].dataType.simpleString()
    return (
        vecs_s.groupBy("__gid", "__salt")
        .cogroup(cents_s.groupBy("__gid", "__salt"))
        .applyInPandas(
            fine_assign,
            f"{id_col} long, {emb_col} {emb_type}, "
            "cluster_id long, cos_c double",
        )
    )


def semdedup_prune(
    df: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    threshold: float = 0.35,
    n_rows: int | None = None,
) -> DataFrame:
    """SemDeDup semantic near-dup pruning (Abbas et al. 2023,
    arXiv:2303.09540) over an arbitrary DataFrame: assign every
    embedding to its nearest centroid (hash-stride seed vectors; k and
    the stride derive from the corpus row count via `semdedup_params` —
    constant per-cluster occupancy, linear pair volume; the assignment
    itself is the two-level distributed `semdedup_assignments`), then
    within each cluster drop any row that has a SMALLER-id partner at
    cosine >= threshold. Returns (id_col, cluster_id = seed id, cos_c,
    is_kept). The single implementation behind x_semdedup_prune.

    `n_rows` should be the corpus row count (a catalog statistic in
    production — the registered query reads the parquet footer); when
    None, ONE count() job derives it. Requires a numeric id column
    (the seed rule is id % stride == 0)."""
    from engage_spark.queries.llm_similarity import cosine_arrow

    # materialize the assignment ONCE for its three consumers
    # (iter_checkpoint: reliable-checkpoint conf flips this to a
    # fault-tolerant checkpoint-dir write on a real cluster)
    a = iter_checkpoint(
        semdedup_assignments(df, id_col=id_col, emb_col=emb_col, n_rows=n_rows)
    )
    lhs = a.select(
        F.col(id_col).alias("vb"), F.col("cluster_id").alias("cb"),
        F.col(emb_col).alias("eb"),
    )
    rhs = a.select(
        F.col(id_col).alias("va"), F.col("cluster_id").alias("ca"),
        F.col(emb_col).alias("ea"),
    )
    drops = (
        lhs.join(rhs, (F.col("cb") == F.col("ca")) & (F.col("va") < F.col("vb")))
        .filter(cosine_arrow("ea", "eb") >= threshold)
        .select(F.col("vb").alias(id_col))
        .distinct()
    )
    return (
        a.join(drops.withColumn("d", F.lit(1)), on=id_col, how="left")
        .select(
            id_col,
            "cluster_id",
            F.round(F.col("cos_c") + 1e-9, 6).alias("cos_c"),
            F.when(F.col("d").isNull(), 1).otherwise(0).alias("is_kept"),
        )
    )


def topk_cosine_search(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    query_id_col: str | None = None,
    query_emb_col: str | None = None,
    exclude_self: bool = True,
    max_queries: int = 100_000,
) -> DataFrame:
    """Exact top-k cosine neighbors of each query vector
    (x3_topk_cosine_search's plan): broadcast the query set, score
    JVM-side, per-partition partial top-k (mapInPandas, state bounded by
    queries x k), final rank over the reduced set. The corpus never
    shuffles; the exchange is partitions x queries x k rows. Returns
    (query_id, neighbor_id, rank, cosine).

    `exclude_self=True` (default, the self-search case) drops rows
    where neighbor_id == query_id. When queries come from a DIFFERENT
    id namespace than the corpus, pass exclude_self=False — otherwise a
    coincidental id collision silently drops a legitimate neighbor.

    The query set is this function's SMALL side: it collects to the
    driver and rides into every scoring task as a dense matrix
    (~n_queries x dim x 8 bytes of driver AND per-task memory).
    `max_queries` (default 100k) enforces that contract with a loud
    error instead of an opaque driver OOM; raise it only with the
    memory to match, or batch the query set."""
    query_id_col = query_id_col or id_col
    query_emb_col = query_emb_col or emb_col
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(query_emb_col).alias("q_emb"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(emb_col).alias("c_emb")
    )
    # Queries collect to the driver (they are the SMALL side by this
    # function's contract — the prior shape broadcast them anyway) and
    # ride into the partial-top-k pass as a dense matrix. Scoring
    # happens INSIDE that pass as one BLAS matmul per Arrow batch
    # (r15): the prior shape scored via a broadcast join + the
    # interpreted higher-order fold, then shipped corpus x queries
    # SCORED rows through Arrow into the reduce — Q x more transfer
    # than the corpus itself and the measured wall of this query. Now
    # each corpus row crosses the Python boundary once; the exchange
    # stays partitions x queries x k.
    # limit(cap+1) bounds the collect itself; one extra row is enough
    # to tell "over the cap" from "exactly at it"
    qrows = q.limit(max_queries + 1).collect()
    if len(qrows) > max_queries:
        raise ValueError(
            f"query set exceeds max_queries={max_queries}: top-k cosine "
            "collects queries to the driver and ships them to every "
            "scoring task — batch the queries or raise max_queries "
            "with driver/executor memory to match"
        )
    qid_t = q.schema["query_id"].dataType.simpleString()
    nid_t = c.schema["neighbor_id"].dataType.simpleString()
    if not qrows:
        reduced = c.sparkSession.createDataFrame(
            [], f"query_id {qid_t}, neighbor_id {nid_t}, cos double"
        )
    else:
        qids = [r["query_id"] for r in qrows]
        # query-side garbage is LOUD (review-found): a NULL query
        # embedding / null element / mixed dimension scored every
        # pair NULL under the old fold and emitted k junk rows per
        # query — an error the caller should see, not rank
        bad = [
            r["query_id"] for r in qrows
            if r["q_emb"] is None or any(x is None for x in r["q_emb"])
        ]
        if bad:
            raise ValueError(
                f"query embeddings are NULL or contain NULL elements "
                f"for query_id in {bad[:5]} — top-k cosine needs "
                "dense query vectors"
            )
        qdims = {len(r["q_emb"]) for r in qrows}
        if len(qdims) != 1:
            raise ValueError(
                f"query embeddings have mixed dimensions {sorted(qdims)} — "
                "top-k cosine needs one consistent dimension"
            )
        dim = qdims.pop()
        qmat = np.asarray([r["q_emb"] for r in qrows], dtype=np.float64)
        qnorm = np.sqrt((qmat * qmat).sum(axis=1))

        def score_topk(batches):
            best = None
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                # a corpus row whose embedding is NULL, ragged, or
                # carries NULL elements scored NULL under the old
                # zip_with path (null-padding/poisoning) and so never
                # reached the top-k — keep exactly that semantic by
                # dropping such rows here rather than letting them
                # kill the task (review-found: len(None) raised)
                def _dense(v):
                    if v is None or len(v) != dim:
                        return None
                    try:
                        arr = np.asarray(v, dtype=np.float64)
                    except (TypeError, ValueError):
                        return None  # null elements
                    return arr
                vecs = [_dense(v) for v in pdf["c_emb"]]
                keep = [i for i, a in enumerate(vecs) if a is not None]
                if not keep:
                    continue
                if len(keep) < len(pdf):
                    pdf = pdf.iloc[keep]
                cmat = np.stack([vecs[i] for i in keep])
                cnorm = np.sqrt((cmat * cmat).sum(axis=1))
                den = cnorm[:, None] * qnorm[None, :]
                with np.errstate(divide="ignore", invalid="ignore"):
                    sims = (cmat @ qmat.T) / den
                sims[den == 0] = np.nan  # zero-norm scores NULL-like
                nids = pdf["neighbor_id"].to_numpy()
                # a NULL corpus id was null-REJECTED by the old join
                # condition (NULL != x is NULL) — preserve: under
                # exclude_self, null ids never rank. pd.isna covers
                # both object-dtype None and the NaN pandas converts
                # null integer ids into.
                nid_notnull = ~pd.isna(pdf["neighbor_id"]).to_numpy()
                parts = []
                for j, qid in enumerate(qids):
                    s = sims[:, j]
                    valid = ~np.isnan(s)
                    if exclude_self:
                        valid &= nid_notnull & (nids != qid)
                    idx = np.flatnonzero(valid)
                    if idx.size == 0:
                        continue
                    if idx.size > k:
                        # EXACT cut: every row with cos >= the k-th
                        # value survives to the tie-break sort, so an
                        # equal-cosine boundary resolves by
                        # neighbor_id exactly like the final window
                        # (argpartition alone picks arbitrarily among
                        # boundary ties)
                        kth = np.partition(-s[idx], k - 1)[k - 1]
                        idx = idx[-s[idx] <= kth]
                    parts.append(
                        pd.DataFrame({
                            "query_id": qid,
                            "neighbor_id": nids[idx],
                            "cos": s[idx],
                        })
                    )
                if not parts:
                    continue
                cur = pd.concat([best, *parts]) if best is not None else (
                    pd.concat(parts)
                )
                cur = cur.sort_values(
                    ["query_id", "cos", "neighbor_id"],
                    ascending=[True, False, True],
                    kind="mergesort",
                )
                best = cur.groupby("query_id", sort=False).head(k)
            if best is not None:
                yield best

        reduced = c.mapInPandas(
            score_topk,
            schema=f"query_id {qid_t}, neighbor_id {nid_t}, cos double",
        )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.col("neighbor_id"))
    return (
        reduced.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("cos", 6).alias("cosine"))
    )


def pq_encode(
    df: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    n_rows: int | None = None,
) -> DataFrame:
    """Product-quantization codes for every vector: (id, m, cid) — M=8
    codes per vector, each the nearest per-subspace centroid of the
    L2-normalized vector (x3e_pq_encode's implementation; see that
    docstring for the determinism/oracle story). The code table is the
    32x-compressed structure pq_topk_search scans instead of raw
    floats. Codebooks: hash-stride seeds + one Lloyd step
    (llm_similarity._pq_codebooks), sized by pq_params(n_rows);
    n_rows=None runs a count() (pass a catalog statistic in
    production)."""
    from engage_spark.queries.llm_similarity import (
        _pq_codebooks,
        _pq_encode_batches,
    )

    e = df.select(F.col(id_col).alias("vec_id"), F.col(emb_col).alias("embedding"))
    if n_rows is None:
        n_rows = e.count()
    cb = _pq_codebooks(e.sparkSession, e, n_rows)
    codes = e.mapInPandas(_pq_encode_batches(cb), "vec_id long, m int, cid long")
    return codes.select(F.col("vec_id").alias(id_col), "m", "cid")


def _pq_query_table(
    spark, queries: DataFrame, query_id_col: str, query_emb_col: str, cb
) -> DataFrame:
    """DISTRIBUTED query-side ADC lookup table: (query_id, m, cid, dq),
    one row per (query, subspace, codebook entry). The codebooks are
    broadcast (tiny: M x K_SUB x subdim doubles); each Arrow batch of
    queries computes its subdistances with the same _pq_subdist_seq
    sequential sums as the corpus encode — row-independent, so the
    floats are bit-identical to a driver-side build. Replaces the r11
    driver triple loop that serialized |Q| x M x K_SUB table rows
    through Python at batch-retrieval query counts."""
    import numpy as np
    import pandas as pd

    from engage_spark.queries.llm_similarity import (
        _PQ_M,
        _pq_normalize,
        _pq_subdist_seq,
    )

    bc = spark.sparkContext.broadcast(cb)

    def gen(batches):
        cb_ = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            qv = _pq_normalize(np.stack(
                [np.asarray(x, dtype=np.float64) for x in pdf["embedding"]]
            ))
            B, dim = qv.shape
            sd = dim // _PQ_M  # subspace width follows the data
            qids, ms, cids, dqs = [], [], [], []
            for m in range(_PQ_M):
                ids_m, mat_m = cb_[m]
                vs = qv[:, m * sd:(m + 1) * sd]
                K = len(ids_m)
                d = np.empty((B, K))
                for kk in range(K):
                    d[:, kk] = _pq_subdist_seq(vs, mat_m[kk])
                qids.append(np.repeat(pdf["query_id"].to_numpy(), K))
                ms.append(np.full(B * K, m, dtype="int32"))
                cids.append(np.tile(ids_m, B))
                dqs.append(d.reshape(-1))
            yield pd.DataFrame({
                "query_id": np.concatenate(qids),
                "m": np.concatenate(ms),
                "cid": np.concatenate(cids),
                "dq": np.concatenate(dqs),
            })

    return queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(query_emb_col).alias("embedding"),
    ).mapInPandas(gen, "query_id long, m int, cid long, dq double")


def _ivfpq_query_table(
    spark,
    queries: DataFrame,
    query_id_col: str,
    query_emb_col: str,
    c_ids,
    c_mat,
    cb,
    nprobe: int,
) -> DataFrame:
    """DISTRIBUTED IVF-PQ query-side table: per query, pick the nprobe
    nearest coarse lists, then emit the RESIDUAL subdistance table
    (query_id, lid, m, cid, dq) for just those lists. Centroids +
    codebooks are broadcast (nlist x dim + M x K_SUB x subdim doubles);
    probe selection loops per query inside the Arrow batch (nlist x dim
    per query — a (B, nlist, dim) broadcast intermediate would blow
    batch memory, see _ivfpq_coarse's gemm note), while the subdistance
    sums vectorize across all (query, probe) residual rows with the
    same row-independent _pq_subdist_seq kernel, keeping floats
    bit-identical to the r11 driver build."""
    import numpy as np
    import pandas as pd

    from engage_spark.queries.llm_similarity import (
        _PQ_M,
        _pq_normalize,
        _pq_subdist_seq,
    )

    bc = spark.sparkContext.broadcast((c_ids, c_mat, cb, int(nprobe)))

    def gen(batches):
        c_ids_, c_mat_, cb_, nprobe_ = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            qv = _pq_normalize(np.stack(
                [np.asarray(x, dtype=np.float64) for x in pdf["embedding"]]
            ))
            B, dim = qv.shape
            sd = dim // _PQ_M
            probes = np.empty((B, nprobe_), dtype=np.int64)
            for bi in range(B):
                d = ((qv[bi][None, :] - c_mat_) ** 2).sum(-1)
                # stable argsort over sorted ids = ORDER BY d, lid
                probes[bi] = np.argsort(d, kind="stable")[:nprobe_]
            res = (qv[:, None, :] - c_mat_[probes]).reshape(B * nprobe_, dim)
            qid_rep = np.repeat(pdf["query_id"].to_numpy(), nprobe_)
            lid_rep = c_ids_[probes].reshape(-1)
            R = B * nprobe_
            qids, lids, ms, cids, dqs = [], [], [], [], []
            for m in range(_PQ_M):
                ids_m, mat_m = cb_[m]
                vs = res[:, m * sd:(m + 1) * sd]
                K = len(ids_m)
                d = np.empty((R, K))
                for kk in range(K):
                    d[:, kk] = _pq_subdist_seq(vs, mat_m[kk])
                qids.append(np.repeat(qid_rep, K))
                lids.append(np.repeat(lid_rep, K))
                ms.append(np.full(R * K, m, dtype="int32"))
                cids.append(np.tile(ids_m, R))
                dqs.append(d.reshape(-1))
            yield pd.DataFrame({
                "query_id": np.concatenate(qids),
                "lid": np.concatenate(lids),
                "m": np.concatenate(ms),
                "cid": np.concatenate(cids),
                "dq": np.concatenate(dqs),
            })

    return queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(query_emb_col).alias("embedding"),
    ).mapInPandas(gen, "query_id long, lid long, m int, cid long, dq double")


def pq_topk_search(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    rerank: int = 50,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    query_id_col: str | None = None,
    query_emb_col: str | None = None,
    exclude_self: bool = True,
    n_rows: int | None = None,
) -> DataFrame:
    """PQ-compressed top-k cosine search (x3e2_pq_adc_search's
    implementation): ADC over the code table — per-(query, vector)
    distance is a sum of M codebook-table lookups, combined map-side
    because a vector's M code rows share a partition — with a
    partition-local top-`rerank` reduce bounding the ranking exchange
    at partitions x queries x rerank rows, then exact-cosine re-rank
    of the shortlist (only queries x rerank raw vectors are fetched).
    Returns (query_id, neighbor_id, rank, cosine), directly comparable
    with topk_cosine_search. The per-query lookup table is built
    DISTRIBUTED (r12): queries.mapInPandas against the broadcast
    codebooks emits the (query_id, m, cid, dq) rows, so a batch
    retrieval job fusing 10^5-10^6 queries parallelizes its table
    build instead of serializing |Q| x M x K_SUB rows through driver
    Python; the subdistance floats are bit-identical to the driver
    build (same _pq_subdist_seq sequential sums, row-independent)."""
    import pandas as pd

    from engage_spark.queries.llm_similarity import (
        _pq_codebooks,
        _pq_encode_batches,
    )

    query_id_col = query_id_col or id_col
    query_emb_col = query_emb_col or emb_col
    e = corpus.select(
        F.col(id_col).alias("vec_id"), F.col(emb_col).alias("embedding")
    )
    if n_rows is None:
        n_rows = e.count()
    cb = _pq_codebooks(e.sparkSession, e, n_rows)
    codes = e.mapInPandas(_pq_encode_batches(cb), "vec_id long, m int, cid long")
    spark = e.sparkSession
    qd = _pq_query_table(spark, queries, query_id_col, query_emb_col, cb)
    self_filter = (
        F.col("vec_id") != F.col("query_id") if exclude_self else F.lit(True)
    )
    adc = (
        codes.join(F.broadcast(qd), on=["m", "cid"])
        .filter(self_filter)
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        # rounded 6dp BEFORE it feeds an ordering: the 8-term double sum
        # is aggregation-order-sensitive, and an unrounded near-tie at
        # the shortlist boundary would flip membership between runs (and
        # vs the oracle's sum order) — same discipline as every other
        # float-ordered quantity in the engine
        .agg(F.round(F.sum("dq") + F.lit(1e-9), 6).alias("approx"))
    )

    def partial_topc(batches):
        best = None
        for pdf in batches:
            cur = pdf if best is None else pd.concat([best, pdf])
            cur = cur.sort_values(
                ["query_id", "approx", "neighbor_id"], kind="mergesort"
            )
            best = cur.groupby("query_id", sort=False).head(rerank)
        if best is not None:
            yield best

    reduced = adc.mapInPandas(
        partial_topc, "query_id long, neighbor_id long, approx double"
    )
    ws = Window.partitionBy("query_id").orderBy("approx", "neighbor_id")
    shortlist = (
        reduced.withColumn("srank", F.row_number().over(ws))
        .filter(F.col("srank") <= rerank)
        .select("query_id", "neighbor_id")
    )
    qe = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(query_emb_col).alias("q_emb"),
    )
    ce = e.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("c_emb")
    )
    wr = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.col("neighbor_id"))
    return (
        shortlist.join(F.broadcast(qe), "query_id")
        .join(ce, "neighbor_id")
        .withColumn("cos", cosine_expr("q_emb", "c_emb"))
        .withColumn("rank", F.row_number().over(wr).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("cos", 6).alias("cosine"))
    )


def _ivfpq_model(
    spark, e: DataFrame, n_rows: int, quantizer: str = "seeded"
):
    """Train the two quantizers of the IVF-PQ index: coarse centroids
    (hash-stride seeds + one Lloyd step in unit-norm space by default;
    quantizer="kmeans" swaps in the MLlib fit — r14) and the
    residual codebooks (frozen against those centroids). Returns
    (c_ids, c_mat, nprobe, cb). Both collects are bounded (nlist rows;
    M x K codebook rows)."""
    from engage_spark.queries.llm_similarity import (
        _ivfpq_coarse,
        _ivfpq_residual_batches,
        _ivfpq_seed_residual_rows,
        _pq_codebooks,
        ivf_params,
        pq_params,
    )

    if quantizer == "seeded":
        # r16: the coarse seed collect and the PQ seed collect were
        # two sequential driver-blocking jobs over the same table —
        # one OR-filtered pushdown scan now feeds both, and the PQ
        # seeds' residuals compute in driver numpy against the
        # (already driver-side, 6dp-rounded) centroids instead of a
        # third scheduled mapInPandas job. Row-wise math identical to
        # the kernel (parity-pinned; x3f/x5b hash-checked end to end).
        s_ivf = ivf_params(n_rows)[2]
        s_pq = pq_params(n_rows)
        both = (
            e.filter(
                (F.col("vec_id") % s_ivf == 0) | (F.col("vec_id") % s_pq == 0)
            )
            .select("vec_id", "embedding")
            .collect()
        )
        ivf_seeds = sorted(
            (r.vec_id, r.embedding) for r in both if r.vec_id % s_ivf == 0
        )
        pq_seed_raw = [
            (r.vec_id, r.embedding) for r in both if r.vec_id % s_pq == 0
        ]
        c_ids, c_mat, nprobe = _ivfpq_coarse(
            spark, e, n_rows, quantizer, seeds=ivf_seeds
        )
        seed_rows = (
            _ivfpq_seed_residual_rows(pq_seed_raw, c_mat)
            if pq_seed_raw
            else []
        )
    else:
        c_ids, c_mat, nprobe = _ivfpq_coarse(spark, e, n_rows, quantizer)
        seed_rows = None
    bc = spark.sparkContext.broadcast((c_ids, c_mat))
    residuals = e.mapInPandas(
        _ivfpq_residual_batches(bc),
        "vec_id long, lid long, embedding array<double>",
    )
    # residual codebooks: same seed rule as flat PQ, but normalize=False
    # — the residual must quantize as-is. The driver-side seed rows
    # cover the seeded quantizer; the kmeans path keeps the
    # pre-filtered residual-frame seed scan (filter pushes into the
    # parquet scan BEFORE the Arrow kernel).
    seed_source = None
    if seed_rows is None:
        seed_source = e.filter(
            F.col("vec_id") % pq_params(n_rows) == 0
        ).mapInPandas(
            _ivfpq_residual_batches(bc),
            "vec_id long, lid long, embedding array<double>",
        ).select("vec_id", "embedding")
    cb = _pq_codebooks(
        spark,
        residuals.select("vec_id", "embedding"),
        n_rows,
        normalize=False,
        seed_source=seed_source,
        seed_rows=seed_rows,
    )
    return c_ids, c_mat, nprobe, cb


def _ivfpq_codes(e: DataFrame, bc, cb) -> DataFrame:
    """Encode a (vec_id, embedding) frame against a FROZEN model:
    residual against the broadcast centroids, then per-subspace codes.
    The two Arrow kernels chain narrowly — one corpus scan."""
    from engage_spark.queries.llm_similarity import (
        _ivfpq_residual_batches,
        _pq_encode_batches,
    )

    return e.mapInPandas(
        _ivfpq_residual_batches(bc),
        "vec_id long, lid long, embedding array<double>",
    ).mapInPandas(
        _pq_encode_batches(cb, normalize=False, extra_cols=("lid",)),
        "vec_id long, lid long, m int, cid long",
    )


def _ivfpq_rank(
    spark,
    codes: DataFrame,
    queries: DataFrame,
    corpus_e: DataFrame,
    c_ids,
    c_mat,
    cb,
    nprobe: int,
    k: int,
    rerank: int,
    query_id_col: str,
    query_emb_col: str,
    exclude_self: bool,
) -> DataFrame:
    """ADC search over a code table: per-(query, probed list) lookup
    tables built DISTRIBUTED against the broadcast quantizers
    (_ivfpq_query_table — r12; the r11 driver build serialized
    |Q| x nprobe x M x K_SUB rows through Python), map-side-combined
    ADC sums, partition-local top-C, exact-cosine re-rank against
    corpus_e (vec_id, embedding)."""
    import pandas as pd

    from engage_spark.queries.llm_dedup import cosine_expr

    qd = _ivfpq_query_table(
        spark, queries, query_id_col, query_emb_col, c_ids, c_mat, cb, nprobe
    )
    self_filter = (
        F.col("vec_id") != F.col("query_id") if exclude_self else F.lit(True)
    )
    adc = (
        codes.join(F.broadcast(qd), on=["lid", "m", "cid"])
        .filter(self_filter)
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.round(F.sum("dq") + F.lit(1e-9), 6).alias("approx"))
    )

    def partial_topc(batches):
        best = None
        for pdf in batches:
            cur = pdf if best is None else pd.concat([best, pdf])
            cur = cur.sort_values(
                ["query_id", "approx", "neighbor_id"], kind="mergesort"
            )
            best = cur.groupby("query_id", sort=False).head(rerank)
        if best is not None:
            yield best

    reduced = adc.mapInPandas(
        partial_topc, "query_id long, neighbor_id long, approx double"
    )
    ws = Window.partitionBy("query_id").orderBy("approx", "neighbor_id")
    shortlist = (
        reduced.withColumn("srank", F.row_number().over(ws))
        .filter(F.col("srank") <= rerank)
        .select("query_id", "neighbor_id")
    )
    qe = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(query_emb_col).alias("q_emb"),
    )
    ce = corpus_e.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("c_emb")
    )
    wr = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.col("neighbor_id"))
    return (
        shortlist.join(F.broadcast(qe), "query_id")
        .join(ce, "neighbor_id")
        .withColumn("cos", cosine_expr("q_emb", "c_emb"))
        .withColumn("rank", F.row_number().over(wr).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("cos", 6).alias("cosine"))
    )


def ivfpq_topk_search(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    rerank: int = 50,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    query_id_col: str | None = None,
    query_emb_col: str | None = None,
    exclude_self: bool = True,
    n_rows: int | None = None,
    quantizer: str = "seeded",
) -> DataFrame:
    """TRUE IVF-PQ top-k cosine search (x3f_ivfpq_residual_search's
    implementation; FAISS IndexIVFPQ shape): a coarse quantizer
    (hash-stride seeds + one Lloyd step in unit-norm space, nlist ~
    sqrt(n) from ivf_params) routes every vector to an inverted list,
    PQ encodes the RESIDUAL u - c(list), and each query scans only its
    nprobe probed lists' codes via per-(query, list) ADC lookup
    tables. Residual variance << raw variance, so the fixed codebook
    budget quantizes tighter than flat PQ; probed-list scanning makes
    per-query work sub-linear, unlike flat PQ's full code scan.

    Scale shape: two bounded collects (nlist coarse centroids, M x K
    residual codebook rows), two Arrow corpus passes (residual+assign,
    encode), the lookup-table broadcast is queries x nprobe x M x K
    rows, the ADC join is an equi-join on (lid, m, cid) combined
    map-side, and the ranking exchange is capped by the same
    partition-local top-C reduce as pq_topk_search. Only queries x
    `rerank` raw vectors are fetched for the exact re-rank.
    Returns (query_id, neighbor_id, rank, cosine).

    This one-shot form retrains the quantizers per call — right for a
    registered query, wrong for production reuse; ivfpq_build /
    ivfpq_search / ivfpq_append persist the index once and search it
    many times."""
    query_id_col = query_id_col or id_col
    query_emb_col = query_emb_col or emb_col
    e = corpus.select(
        F.col(id_col).alias("vec_id"), F.col(emb_col).alias("embedding")
    )
    spark = e.sparkSession
    if n_rows is None:
        n_rows = e.count()
    c_ids, c_mat, nprobe, cb = _ivfpq_model(spark, e, n_rows, quantizer)
    bc = spark.sparkContext.broadcast((c_ids, c_mat))
    codes = _ivfpq_codes(e, bc, cb)
    return _ivfpq_rank(
        spark, codes, queries, e, c_ids, c_mat, cb, nprobe, k, rerank,
        query_id_col, query_emb_col, exclude_self,
    )


def ivfpq_build(
    corpus: DataFrame,
    index_dir: str,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    n_rows: int | None = None,
    quantizer: str = "seeded",
) -> dict:
    """Build and PERSIST an IVF-PQ index — the production lifecycle
    (train once, search many, append increments) that the one-shot
    ivfpq_topk_search deliberately skips. Layout (all parquet, any
    Hadoop-FS URI):

      index_dir/centroids/  (lid, c array<double>)      ~ nlist rows
      index_dir/codebooks/  (m, cid, cs array<double>)  ~ M x K rows
      index_dir/codes/      (vec_id, lid, m, cid)       M rows/vector
      index_dir/meta/       (nprobe, dim, n_rows)       1 row

    The codes table is the only corpus-sized artifact — 8 small ints
    per vector instead of dim floats, the 32x scan shrink made durable.
    At 100 TB this is the difference between re-deriving quantizers on
    every query job and amortizing one build across the fleet.
    Returns {"n_vectors", "nlist", "nprobe"}."""
    e = corpus.select(
        F.col(id_col).alias("vec_id"), F.col(emb_col).alias("embedding")
    )
    spark = e.sparkSession
    if n_rows is None:
        n_rows = e.count()
    c_ids, c_mat, nprobe, cb = _ivfpq_model(spark, e, n_rows, quantizer)
    bc = spark.sparkContext.broadcast((c_ids, c_mat))
    codes = _ivfpq_codes(e, bc, cb)

    dim = c_mat.shape[1]
    local_frame(
        spark,
        [(int(i), [float(x) for x in c]) for i, c in zip(c_ids, c_mat)],
        "lid long, c array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(f"{index_dir}/centroids")
    cb_rows = [
        (m, int(cid), [float(x) for x in cs])
        for m, (ids_m, mat_m) in cb.items()
        for cid, cs in zip(ids_m, mat_m)
    ]
    local_frame(
        spark, cb_rows, "m int, cid long, cs array<double>"
    ).coalesce(1).write.mode("overwrite").parquet(f"{index_dir}/codebooks")
    codes.write.mode("overwrite").parquet(f"{index_dir}/codes")
    local_frame(
        spark, [(int(nprobe), int(dim), int(n_rows))],
        "nprobe int, dim int, n_rows long",
    ).coalesce(1).write.mode("overwrite").parquet(f"{index_dir}/meta")
    return {"n_vectors": n_rows, "nlist": len(c_ids), "nprobe": int(nprobe)}


def _ivfpq_load(spark, index_dir: str):
    """Load the bounded index artifacts (centroids, codebooks, meta)
    back into driver arrays; the corpus-sized codes table stays a lazy
    scan."""
    import numpy as np

    cent = sorted(
        (r.lid, r.c) for r in spark.read.parquet(f"{index_dir}/centroids").collect()
    )
    c_ids = np.array([i for i, _ in cent], dtype=np.int64)
    c_mat = np.array([c for _, c in cent], dtype=np.float64)
    cb: dict = {}
    cb_rows = spark.read.parquet(f"{index_dir}/codebooks").collect()
    for m in sorted({r.m for r in cb_rows}):
        rows = sorted((r.cid, r.cs) for r in cb_rows if r.m == m)
        cb[m] = (
            np.array([cid for cid, _ in rows], dtype=np.int64),
            np.array([cs for _, cs in rows], dtype=np.float64),
        )
    meta = _meta_row(spark, index_dir)
    # rerank is OPTIONAL meta (written by ivfpq_autotune_nprobe when
    # the recall target needed a wider exact-re-rank shortlist);
    # build-time metas carry only (nprobe, dim, n_rows)
    meta_rerank = (
        int(meta.rerank) if "rerank" in meta.__fields__ and
        meta.rerank is not None else None
    )
    return c_ids, c_mat, cb, int(meta.nprobe), int(meta.dim), meta_rerank


def ivfpq_search(
    index_dir: str,
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    rerank: int | None = None,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    query_id_col: str | None = None,
    query_emb_col: str | None = None,
    exclude_self: bool = True,
    nprobe: int | None = None,
) -> DataFrame:
    """Search a PERSISTED IVF-PQ index (ivfpq_build): loads the bounded
    artifacts (centroids, codebooks, meta), builds the per-(query,
    probed-list) lookup tables, and runs the ADC scan over the stored
    codes — the corpus raw vectors are touched only to fetch the
    queries x `rerank` shortlist for the exact re-rank. Identical
    results to the one-shot ivfpq_topk_search on the same corpus
    (pytest-pinned): the index just amortizes the quantizer build.
    `nprobe` / `rerank` override the stored values for this search
    (the autotune loop's measurement knobs); defaults come from the
    index meta, which ivfpq_autotune_nprobe adjusts in place (rerank
    falls back to 50 on a never-tuned index)."""
    spark = queries.sparkSession
    query_id_col = query_id_col or id_col
    query_emb_col = query_emb_col or emb_col
    c_ids, c_mat, cb, meta_nprobe, dim, meta_rerank = _ivfpq_load(
        spark, index_dir
    )
    nprobe = int(nprobe) if nprobe is not None else meta_nprobe
    nprobe = max(1, min(nprobe, len(c_ids)))
    rerank = int(rerank) if rerank is not None else (meta_rerank or 50)
    probe = queries.select(query_emb_col).limit(1).collect()
    if probe and len(probe[0][0]) != dim:
        raise ValueError(
            f"query dimensionality {len(probe[0][0])} != index dim {dim} "
            f"({index_dir} was built on different embeddings)"
        )
    codes = _without_tombstones(
        spark, index_dir, spark.read.parquet(f"{index_dir}/codes"), "vec_id"
    )
    corpus_e = corpus.select(
        F.col(id_col).alias("vec_id"), F.col(emb_col).alias("embedding")
    )
    return _ivfpq_rank(
        spark, codes, queries, corpus_e, c_ids, c_mat, cb, nprobe, k, rerank,
        query_id_col, query_emb_col, exclude_self,
    )


def ivfpq_append(
    index_dir: str,
    new_vectors: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> int:
    """Append new vectors to a persisted IVF-PQ index with FROZEN
    quantizers: encode against the stored centroids + codebooks (one
    Arrow pass over the increment only) and append the code rows —
    the standard production maintenance path (FAISS add()); quantizer
    drift is handled by periodic rebuilds, not per-batch retraining.
    The append is a plain parquet append: wrap it in the caller's
    retry discipline (or an incremental_ingest_stream-style per-batch
    partition) if exactly-once matters. Returns the number of vectors
    appended."""
    spark = new_vectors.sparkSession
    c_ids, c_mat, cb, _nprobe, dim, _rerank = _ivfpq_load(spark, index_dir)
    e = new_vectors.select(
        F.col(id_col).alias("vec_id"), F.col(emb_col).alias("embedding")
    )
    # revive BEFORE appending: purge any revived ids' stale code rows
    _tombstones_revive(spark, index_dir, e.select("vec_id"), {"codes": "vec_id"})
    bc = spark.sparkContext.broadcast((c_ids, c_mat))
    codes = _ivfpq_codes(e, bc, cb)
    _index_append_write(spark, codes, f"{index_dir}/codes", _manual_run_tag())
    return e.count()


# ---------------------------------------------------------------------------
# Index delete path (round 10) — takedowns for the persisted indexes.
#
# upsert_dataset(delete_col=...) removes a document from the CORPUS,
# but until round 10 it stayed retrievable through every persisted
# index (minhash bands, embed bands, ivfpq codes) until a full
# rebuild. The delete path is the table-format pattern (Delta/Iceberg
# delete files): a takedown APPENDS the id to index_dir/tombstones —
# O(batch), no index rewrite — every query anti-joins the (small,
# broadcast) tombstone set, re-appending an id revives it by dropping
# its tombstone, and a periodic *_vacuum applies tombstones physically
# and clears them. At 100 TB this keeps takedown latency constant in
# index size; only the scheduled vacuum pays the rewrite. SCALE.md
# §takedown documents the flow end to end.


def _ids_frame(ids, spark=None) -> DataFrame:
    """Normalize a takedown id set — a 1-column DataFrame or an
    iterable of ints — to a distinct (id long) frame."""
    if isinstance(ids, DataFrame):
        return ids.select(
            F.col(ids.columns[0]).cast("long").alias("id")
        ).dropDuplicates()
    if spark is None:
        spark = SparkSession.getActiveSession()
    return local_frame(
        spark, [(int(i),) for i in ids], "id long"
    ).dropDuplicates()


def _index_tombstone(index_dir: str, ids, spark=None) -> int:
    """Append ids to index_dir/tombstones. Plain parquet append (the
    same durability contract as the *_append paths)."""
    tdf = _ids_frame(ids, spark)
    tdf.write.mode("append").parquet(f"{index_dir}/tombstones")
    return tdf.count()


def _without_tombstones(
    spark: SparkSession, index_dir: str, df: DataFrame, col: str
) -> DataFrame:
    """Anti-join the index table against the tombstone set (broadcast:
    bounded by takedowns since the last vacuum). No tombstone dir —
    the common case — is a pure fs.exists probe, no plan change."""
    from engage_spark.io import _hadoop_fs

    fs, p = _hadoop_fs(spark, f"{index_dir}/tombstones")
    if not fs.exists(p):
        return df
    tomb = (
        spark.read.parquet(f"{index_dir}/tombstones")
        .select(F.col("id").alias(col))
        .dropDuplicates()
    )
    return df.join(F.broadcast(tomb), on=col, how="left_anti")


def _hive_partition_cols(spark: SparkSession, path: str) -> list:
    """Partition column names of a hive-laid-out parquet directory
    (e.g. the streaming ingest's run=<tag>_batch=<id> dirs), read from
    the directory names themselves — [] for a flat table. Maintenance
    rewrites MUST preserve this layout: a flat rewrite of a
    run-partitioned index drops the `run` column from later
    partition-discovery reads (silently disabling the streaming
    replay exclusion) and makes subsequent per-batch run=... appends
    produce a mixed flat/partitioned directory Spark may refuse to
    read."""
    from engage_spark.io import _hadoop_fs

    fs, p = _hadoop_fs(spark, path)
    cols = []
    cur = p
    while True:
        part_dirs = [
            s.getPath()
            for s in fs.listStatus(cur)
            if s.isDirectory()
            and "=" in s.getPath().getName()
            and not s.getPath().getName().startswith("_")
        ]
        if not part_dirs:
            return cols
        cols.append(part_dirs[0].getName().split("=", 1)[0])
        cur = part_dirs[0]


def _rewrite_minus_ids(
    spark: SparkSession, path: str, col: str, ids_df: DataFrame, label: str
) -> None:
    """Rewrite the table at `path` minus rows whose `col` is in
    ids_df("id"), PRESERVING any hive partition layout (see
    _hive_partition_cols), with the staging-swap recovery discipline
    the upsert path uses. Partition values containing '=' (the
    run=<tag>_batch=<id> tags) survive: Spark percent-escapes them on
    write and unescapes on discovery, so the `run` COLUMN value — the
    thing the replay exclusion filters on — round-trips exactly."""
    from engage_spark.io import _hadoop_fs

    part_cols = _hive_partition_cols(spark, path)
    kept = spark.read.parquet(path).join(
        F.broadcast(ids_df.select(F.col("id").alias(col))),
        on=col,
        how="left_anti",
    )
    staging = f"{path}__{label}_staging"
    w = kept.write.mode("overwrite")
    if part_cols:
        w = w.partitionBy(*part_cols)
    w.parquet(staging)
    sfs, sp = _hadoop_fs(spark, staging)
    if part_cols and not any(
        s.isDirectory() and "=" in s.getPath().getName()
        for s in sfs.listStatus(sp)
    ):
        # every row was removed: a partitioned empty write leaves no
        # partition dirs (unreadable), so drop the table entirely —
        # the existence probes treat a missing table as "nothing
        # indexed", which is exactly the state
        tfs, tp = _hadoop_fs(spark, path)
        tfs.delete(tp, True)
        sfs.delete(sp, True)
        return
    try:
        w2 = spark.read.parquet(staging).write.mode("overwrite")
        if part_cols:
            w2 = w2.partitionBy(*part_cols)
        w2.parquet(path)
    except BaseException as e:
        raise RuntimeError(
            f"{label} rewrite of {path} failed mid-write; the filtered "
            f"copy is preserved at {staging}"
        ) from e
    sfs.delete(sp, True)


def _index_append_write(
    spark: SparkSession, df: DataFrame, table_dir: str, run_tag: str
) -> None:
    """Append rows to an index table, honoring a STREAMING-built hive
    run=... layout: a flat append into a partitioned directory creates
    a mixed structure Spark refuses to read (and silently drops the
    `run` column the replay exclusion filters on), so partitioned
    tables receive a fresh run=<tag> partition instead — which
    _replay_filtered correctly treats as committed history. Flat
    tables keep the plain append."""
    from engage_spark.io import _hadoop_fs

    fs, p = _hadoop_fs(spark, table_dir)
    if fs.exists(p) and _hive_partition_cols(spark, table_dir) == ["run"]:
        df.write.mode("overwrite").parquet(f"{table_dir}/run={run_tag}")
    else:
        df.write.mode("append").parquet(table_dir)


def _manual_run_tag() -> str:
    import uuid

    return f"manual_{uuid.uuid4().hex[:12]}"


def _tombstones_revive(
    spark: SparkSession, index_dir: str, ids_df: DataFrame, tables: dict
) -> None:
    """Re-adding an id must win over an earlier takedown — and the
    takedown's OLD index rows must not resurrect alongside the new
    content. *_delete only tombstones an id (its stale bands / hashes /
    vectors / codes rows stay on disk), so on revive we (1) purge the
    revived ids' stale rows from every index table, THEN the caller
    appends the fresh rows, and (2) drop their tombstones. Without the
    purge, delete-then-re-append-updated-content (the natural
    takedown/update flow) leaves probes matching the taken-down old
    content and duplicates inflating hot buckets.

    Called by every *_append BEFORE it appends (purging after would
    delete the fresh rows too). `tables` is the subdir -> id-column map
    the matching *_vacuum uses. Cheap common case: one broadcast
    semi-join count over the (small) tombstone table — appends that
    revive nothing skip every rewrite, which also closes the
    lost-takedown race where a full tombstone rewrite on every append
    could discard a concurrently appended tombstone. The tombstone
    table remains single-writer for delete-vs-revive of the SAME id;
    see SCALE.md §takedown."""
    from engage_spark.io import _hadoop_fs

    fs, p = _hadoop_fs(spark, f"{index_dir}/tombstones")
    if not fs.exists(p):
        return
    incoming = _ids_frame(ids_df)
    revived = (
        spark.read.parquet(f"{index_dir}/tombstones")
        .join(F.broadcast(incoming), on="id", how="left_semi")
        .dropDuplicates()
        .localCheckpoint()  # bounded: ids tombstoned since last vacuum
    )
    if revived.isEmpty():
        return
    from engage_spark.io import maintenance_lease

    # the stale-row purge rewrites every index table: one maintenance
    # writer at a time (r12 lease — a concurrent vacuum/revive would
    # silently lose takedowns or resurrect purged rows)
    with maintenance_lease(spark, index_dir):
        for sub, col in tables.items():
            _rewrite_minus_ids(
                spark, f"{index_dir}/{sub}", col, revived, "revive"
            )
        _rewrite_minus_ids(
            spark, f"{index_dir}/tombstones", "id", revived, "revive"
        )


def _index_vacuum(spark: SparkSession, index_dir: str, tables: dict) -> dict:
    """Apply tombstones physically: rewrite each index table minus the
    tombstoned ids (staging-swap, hive-partition-layout preserving —
    safe on streaming-built run=... partitioned indexes), then clear
    the tombstone table. tables maps subdir -> id column name. Runs
    under the maintenance lease (r12): contention with a live
    revive/vacuum raises instead of silently losing takedowns.
    Returns {"tombstones": n_applied}."""
    from engage_spark.io import _hadoop_fs, maintenance_lease

    fs, p = _hadoop_fs(spark, f"{index_dir}/tombstones")
    if not fs.exists(p):
        return {"tombstones": 0}
    with maintenance_lease(spark, index_dir):
        tomb = (
            spark.read.parquet(f"{index_dir}/tombstones")
            .select("id")
            .dropDuplicates()
        )
        n_tomb = tomb.count()  # bounded: takedowns since the last vacuum
        for sub, col in tables.items():
            _rewrite_minus_ids(
                spark, f"{index_dir}/{sub}", col, tomb, "vacuum"
            )
        fs.delete(p, True)
    return {"tombstones": n_tomb}


def minhash_index_delete(index_dir: str, ids, spark=None) -> int:
    """Take documents down from a persisted near-dup index
    (minhash_index_build): tombstone append, O(batch). Queries stop
    returning the ids immediately; minhash_index_vacuum applies the
    removal physically."""
    return _index_tombstone(index_dir, ids, spark)


def minhash_index_vacuum(spark: SparkSession, index_dir: str) -> dict:
    """Physically remove tombstoned documents from bands/ and hashes/,
    then clear the tombstones."""
    return _index_vacuum(
        spark, index_dir, {"bands": "doc_id", "hashes": "doc_id"}
    )


def embed_index_delete(index_dir: str, ids, spark=None) -> int:
    """Takedown for the semantic near-dup index (embed_index_build):
    tombstone append; embed_index_query stops returning the ids
    immediately."""
    return _index_tombstone(index_dir, ids, spark)


def embed_index_vacuum(spark: SparkSession, index_dir: str) -> dict:
    """Physically remove tombstoned vectors from bands/ and vectors/,
    then clear the tombstones."""
    return _index_vacuum(
        spark, index_dir, {"bands": "vec_id", "vectors": "vec_id"}
    )


def ivfpq_delete(index_dir: str, ids, spark=None) -> int:
    """Takedown for a persisted IVF-PQ index (ivfpq_build): tombstone
    append; ivfpq_search stops returning the ids immediately (the
    codes scan anti-joins the broadcast tombstones). The FAISS
    remove_ids() counterpart."""
    return _index_tombstone(index_dir, ids, spark)


def ivfpq_vacuum(spark: SparkSession, index_dir: str) -> dict:
    """Physically remove tombstoned vectors' code rows, then clear the
    tombstones. Quantizers (centroids/codebooks) are untouched —
    deletes never retrain, matching the frozen-quantizer append."""
    return _index_vacuum(spark, index_dir, {"codes": "vec_id"})


def ivfpq_recall_probe(
    spark: SparkSession,
    index_dir: str,
    corpus: DataFrame,
    sample_queries: int = 50,
    k: int = 10,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    nprobe: int | None = None,
    rerank: int | None = None,
) -> dict:
    """Operational index-quality monitor: recall@k of the persisted
    IVF-PQ index against exact brute force on a DETERMINISTIC sample
    of corpus vectors (the lowest sample_queries ids), plus both
    probes' wall time. Appends encode against FROZEN quantizers
    (ivfpq_append), so distribution drift shows up as growing residual
    error and probe misses — this is the number a maintenance job
    watches to schedule a quantizer rebuild (ivfpq_build), completing
    the build / append / delete / vacuum lifecycle with measurement
    (the ANN sibling of zorder_layout_stats' OPTIMIZE trigger).
    Bounded work: one index search + one exact scan for
    sample_queries query vectors. Returns {"recall_at_k", "queries",
    "k", "ann_s", "exact_s"}."""
    import time

    qs = (
        corpus.select(F.col(id_col), F.col(emb_col))
        .orderBy(id_col)
        .limit(sample_queries)
    )
    t0 = time.perf_counter()
    ann_rows = ivfpq_search(
        index_dir, qs, corpus, k=k, id_col=id_col, emb_col=emb_col,
        nprobe=nprobe, rerank=rerank,
    ).collect()
    ann_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    ex_rows = topk_cosine_search(
        corpus, qs, k=k, id_col=id_col, emb_col=emb_col
    ).collect()
    exact_s = time.perf_counter() - t0
    ann: dict = {}
    ex: dict = {}
    for r in ann_rows:
        ann.setdefault(r.query_id, set()).add(r.neighbor_id)
    for r in ex_rows:
        ex.setdefault(r.query_id, set()).add(r.neighbor_id)
    recs = [
        len(ann.get(q, set()) & s) / max(1, len(s)) for q, s in ex.items()
    ]
    return {
        "recall_at_k": round(sum(recs) / max(1, len(recs)), 4),
        "queries": len(ex),
        "k": k,
        "ann_s": round(ann_s, 3),
        "exact_s": round(exact_s, 3),
    }


def ivfpq_autotune_nprobe(
    spark: SparkSession,
    index_dir: str,
    corpus: DataFrame,
    target_recall: float = 0.85,
    sample_queries: int = 50,
    k: int = 10,
    max_nprobe: int | None = None,
    max_rerank: int | None = None,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> dict:
    """CLOSE the recall-probe loop (r12): when the measured recall@k of
    the persisted index falls below `target_recall`, escalate the two
    query-time knobs — first DOUBLE nprobe (probe more coarse lists:
    recall rises at linear-in-nprobe ADC cost, no retraining, no
    corpus pass) up to `max_nprobe` (default min(nlist, 8x stored)),
    then DOUBLE the exact-re-rank shortlist `rerank` (the efSearch-
    style fidelity knob: ADC ranking errors stop mattering once the
    true neighbors fit the shortlist) up to `max_rerank` (default
    8x50). The first (nprobe, rerank) meeting target is PERSISTED
    into the index meta under the maintenance lease, so every
    subsequent ivfpq_search probes at the tuned settings; a quantizer
    REBUILD is recommended only when both bounded knobs are exhausted.
    Each step's measured recall/latency pair is returned so the
    operator sees the trade bought. Returns {"tuned_nprobe",
    "tuned_rerank", "initial_nprobe", "met_target",
    "rebuild_recommended", "trace": [{nprobe, rerank, recall_at_k,
    ann_s}]}."""
    c_meta = _meta_row(spark, index_dir)
    nlist = spark.read.parquet(f"{index_dir}/centroids").count()
    initial = int(c_meta.nprobe)
    initial_rerank = (
        int(c_meta.rerank)
        if "rerank" in c_meta.__fields__ and c_meta.rerank is not None
        else 50
    )
    np_bound = min(
        nlist, max_nprobe if max_nprobe is not None else 8 * initial
    )
    rr_bound = max_rerank if max_rerank is not None else 8 * 50
    trace = []
    nprobe, rerank = initial, initial_rerank

    def measure():
        rep = ivfpq_recall_probe(
            spark, index_dir, corpus, sample_queries=sample_queries, k=k,
            id_col=id_col, emb_col=emb_col, nprobe=nprobe, rerank=rerank,
        )
        trace.append({
            "nprobe": nprobe,
            "rerank": rerank,
            "recall_at_k": rep["recall_at_k"],
            "ann_s": rep["ann_s"],
        })
        return rep["recall_at_k"] >= target_recall

    met = measure()
    while not met and nprobe < np_bound:
        nprobe = min(np_bound, nprobe * 2)
        met = measure()
    while not met and rerank < rr_bound:
        rerank = min(rr_bound, rerank * 2)
        met = measure()
    tuned, tuned_rerank = trace[-1]["nprobe"], trace[-1]["rerank"]
    if tuned != initial or tuned_rerank != initial_rerank:
        from engage_spark.io import maintenance_lease

        with maintenance_lease(spark, index_dir):
            local_frame(
                spark,
                [(int(tuned), int(c_meta.dim), int(c_meta.n_rows),
                  int(tuned_rerank))],
                "nprobe int, dim int, n_rows long, rerank int",
            ).coalesce(1).write.mode("overwrite").parquet(f"{index_dir}/meta")
    return {
        "tuned_nprobe": tuned,
        "tuned_rerank": tuned_rerank,
        "initial_nprobe": initial,
        "met_target": met,
        "rebuild_recommended": not met,
        "trace": trace,
    }


def ivfpq_build_autoselect(
    corpus: DataFrame,
    index_dir: str,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    n_rows: int | None = None,
    target_recall: float = 0.7,
    sample_queries: int = 50,
    k: int = 10,
) -> dict:
    """Build an IVF-PQ index and let the RECALL PROBE choose the
    quantizer (r15, VERDICT r14 #8): build with the cheap seeded
    quantizer first, probe recall@k against exact brute force on the
    deterministic sample, and when the probe misses `target_recall`,
    REBUILD with the MLlib k-means quantizer (~1.2x build cost,
    measured +0.03-0.08 recall@5 — SCALE.md §Quantizer choice) and
    keep whichever build measured better. The registered oracle
    queries (x3c/x3f) stay on the explicit seeded path — this entry
    point is the production lifecycle knob, not a default change.

    Returns {"quantizer", "recall_seeded", "recall_kmeans" (None when
    the seeded build met target), "upgraded", "recall_at_k"}."""
    spark = corpus.sparkSession
    ivfpq_build(
        corpus, index_dir, id_col=id_col, emb_col=emb_col,
        n_rows=n_rows, quantizer="seeded",
    )
    seeded = ivfpq_recall_probe(
        spark, index_dir, corpus, sample_queries=sample_queries, k=k,
        id_col=id_col, emb_col=emb_col,
    )["recall_at_k"]
    if seeded >= target_recall:
        return {
            "quantizer": "seeded",
            "recall_seeded": seeded,
            "recall_kmeans": None,
            "upgraded": False,
            "recall_at_k": seeded,
        }
    ivfpq_build(
        corpus, index_dir, id_col=id_col, emb_col=emb_col,
        n_rows=n_rows, quantizer="kmeans",
    )
    km = ivfpq_recall_probe(
        spark, index_dir, corpus, sample_queries=sample_queries, k=k,
        id_col=id_col, emb_col=emb_col,
    )["recall_at_k"]
    if km >= seeded:
        return {
            "quantizer": "kmeans",
            "recall_seeded": seeded,
            "recall_kmeans": km,
            "upgraded": True,
            "recall_at_k": km,
        }
    # k-means measured WORSE on this corpus (rare; sampled fit) —
    # rebuild seeded so the persisted index is the measured best
    ivfpq_build(
        corpus, index_dir, id_col=id_col, emb_col=emb_col,
        n_rows=n_rows, quantizer="seeded",
    )
    return {
        "quantizer": "seeded",
        "recall_seeded": seeded,
        "recall_kmeans": km,
        "upgraded": False,
        "recall_at_k": seeded,
    }


def _ws_tokens(text_col: str) -> Column:
    """The engine's canonical whitespace tokenizer as a Column — the
    single definition behind every facade consumer (funnel, packing,
    token stats, vocab, chunking, span dedup) so they drift together
    with the DuckDB `_TOKS_DUCK` twin or not at all.
    (llm_dedup._TOKS_SPARK is the same expression in SQL-string form
    for expr() composition; parity on non-NULL text is pinned by test.)

    NULL text tokenizes like empty text (one '' token): without the
    coalesce, size(split(NULL)) = -1 under Spark's default
    legacy.sizeOfNull and every window-count formula downstream would
    silently produce nonsense rows. This NULL guard is facade-only
    robustness BEYOND the oracle-checked domain — the `_TOKS_SPARK` /
    `_TOKS_DUCK` twins both propagate NULL, so a corpus with NULL text
    would diverge from the DuckDB oracles (the driver testdata has
    none; callers with NULLs get sane engine behavior instead of -1s)."""
    return F.split(
        F.lower(F.trim(F.coalesce(F.col(text_col), F.lit("")))), r"\s+"
    )


def _n_token_windows(n_toks: Column, size: int, stride: int) -> Column:
    """Window count max(1, ceil((n - size) / stride) + 1) for windows
    starting at 0, stride, 2*stride, ...: every token covered, a short
    doc yields exactly one window, the last may run short. Shared by
    chunk_documents and span_dedup (their DuckDB oracles repeat the
    formula in SQL)."""
    return F.greatest(
        F.lit(1).cast("long"),
        F.ceil((n_toks - size) / F.lit(float(stride))) + 1,
    )


def _token_window_slice(toks: Column, idx: Column, size: int, stride: int) -> Column:
    """The token array of window `idx` (1-based slice) — the single
    definition of the window-slice arithmetic, consumed by both
    chunk_documents (which also needs the slice's size) and span_dedup
    (via _token_window_text)."""
    return F.slice(toks, idx * stride + 1, F.lit(size))


def _token_window_text(toks: Column, idx: Column, size: int, stride: int) -> Column:
    """The text of token-window `idx` (slice + space join)."""
    return F.array_join(_token_window_slice(toks, idx, size, stride), " ")


def _shard_key_cols(
    id_col: str, salt: str, n_shards: int
) -> tuple[Column, Column]:
    """(shuffle_key, shard_id) for deterministic training delivery:
    md5(salt:id), and (value of the key's first 8 hex chars) mod
    n_shards. THE single definition of the delivery key scheme —
    training_shards materializes it and x_shard_manifest audits it, so
    the audit can never drift from what delivery actually does."""
    skey = F.md5(F.concat_ws(":", F.lit(salt), F.col(id_col).cast("string")))
    shard = F.pmod(
        F.conv(F.substring(skey, 1, 8), 16, 10).cast("long"), n_shards
    ).cast("long")
    return skey, shard


def _hash_keep_expr(id_col: str, rate: float) -> Column:
    """Boolean keep-predicate of the deterministic md5-threshold sample
    — the single implementation behind hash_sample and the funnel's
    sample stage. Raises on rates the 2^-32 hash granularity cannot
    express (quietly returning an empty sample for a tiny-but-positive
    rate would look like data loss)."""
    if not 0.0 <= rate <= 1.0:
        raise ValueError(f"rate must be in [0, 1], got {rate}")
    if rate == 0.0:
        return F.lit(False)
    scaled = int(rate * (1 << 32))
    if scaled >= (1 << 32):
        # rate == 1.0: the threshold would format to the 9-char
        # '100000000' and the lexicographic compare against the 8-char
        # md5 prefix would keep only hashes starting with '0' (~1/16 of
        # rows) — a full-rate sample is the identity
        return F.lit(True)
    if scaled == 0:
        raise ValueError(
            f"rate {rate} is below the sampler's 2^-32 hash granularity — "
            "it would silently select nothing; sample in stages or salt ids"
        )
    thresh = format(scaled, "08x")
    return F.substring(F.md5(F.col(id_col).cast("string")), 1, 8) < F.lit(thresh)


def hash_sample(df: DataFrame, rate: float, id_col: str = "doc_id") -> DataFrame:
    """Deterministic sample: keep a row iff the first 8 hex chars of
    md5(id) fall below rate * 16^8. Unlike df.sample(), selection is a
    pure function of the id — reproducible across runs, engines and
    cluster layouts, and NESTED: the rate-r1 sample is a strict subset
    of the rate-r2 sample whenever r1 < r2, so shrinking a training mix
    never introduces unseen rows. (Samples at different rates share one
    hash, so rates don't multiply — re-sampling a 0.5 sample at 0.5
    returns the same 0.5 sample; use a salted id for independent
    draws.) The x_hash_sample_stratified primitive with a caller-chosen
    rate."""
    return df.filter(_hash_keep_expr(id_col, rate))


def pack_boundaries(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    strata_col: str | None = None,
    budget: int = 2048,
    n_shards: int | None = None,
    shard_salt: str = "pack-v1",
) -> DataFrame:
    """Per-pack document boundary offsets — the [tok_start, tok_end)
    span of every document inside its pack, the index table
    cross-document attention masking consumes (x_pack_boundaries'
    implementation). Same parameters and determinism as
    sequence_packing; the within-pack window reuses the packing
    exchange (same partitioning prefix), so the whole op is one
    shuffle."""
    per_doc = sequence_packing(
        df, id_col=id_col, text_col=text_col, strata_col=strata_col,
        budget=budget, n_shards=n_shards, shard_salt=shard_salt,
    )
    part = ([strata_col] if strata_col else []) + (
        ["shard_id"] if n_shards is not None else []
    ) + ["pack_id"]
    w = (
        Window.partitionBy(*part)
        .orderBy(id_col, "n_toks")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    run = F.sum("n_toks").over(w)
    keep = [c for c in per_doc.columns if c != "n_toks"]
    return per_doc.select(
        *keep,
        (run - F.col("n_toks")).cast("long").alias("tok_start"),
        run.cast("long").alias("tok_end"),
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus snapshot diff — the dataset-versioning primitive behind
    incremental retraining decisions: full outer join of two snapshots
    on id, content compared by normalized fingerprint (16 B per doc;
    text never shuffles). Returns (id, status) with status in
    {added, removed, changed, unchanged}; aggregate it for the release
    report, anti-join it for the incremental slice."""
    o = old.select(
        F.col(id_col).alias("__id"),
        normalized_fingerprint(text_col).alias("__fp_old"),
    )
    n = new.select(
        F.col(id_col).alias("__id"),
        normalized_fingerprint(text_col).alias("__fp_new"),
    )
    status = (
        F.when(F.col("__fp_old").isNull(), "added")
        .when(F.col("__fp_new").isNull(), "removed")
        .when(F.col("__fp_old") == F.col("__fp_new"), "unchanged")
        .otherwise("changed")
    )
    return (
        o.join(n, on="__id", how="full_outer")
        .select(F.col("__id").alias(id_col), status.alias("status"))
    )


def _hex_thresh(rate: float) -> str:
    """The md5-threshold convention's 8-hex-char cutoff for a rate."""
    return format(int(rate * (1 << 32)), "08x")


def cluster_safe_split(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str = "doc_id",
    src: str = "src",
    dst: str = "dst",
    val_rate: float = 0.05,
    test_rate: float = 0.05,
    salt: str = "split-v1",
    reliable_checkpoint: bool | None = None,
) -> DataFrame:
    """Leakage-safe train/val/test split: documents connected by
    near-duplicate edges form components, and the split is a pure
    md5-threshold function of the COMPONENT id — so every member of a
    duplicate cluster lands in the SAME split, and held-out evaluation
    cannot leak into training through paraphrases or re-crawls the
    row-level hash split would scatter across splits. Deterministic on
    any cluster layout (the hash_sample discipline), salted so
    different split schemes draw independently. Returns
    (id, component_id, split)."""
    comp = connected_components(
        nodes.select(F.col(id_col)), edges, node_col=id_col, src=src, dst=dst,
        reliable_checkpoint=reliable_checkpoint,
    )
    u = F.substring(
        F.md5(F.concat(F.lit(f"{salt}:"), F.col("component").cast("string"))), 1, 8
    )
    split = (
        F.when(u < F.lit(_hex_thresh(test_rate)), "test")
        .when(u < F.lit(_hex_thresh(test_rate + val_rate)), "val")
        .otherwise("train")
    )
    return comp.select(
        F.col("node").alias(id_col),
        F.col("component").alias("component_id"),
        split.alias("split"),
    )


def curation_funnel(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_chars_col: str | None = None,
    sample_rate: float = 0.5,
) -> DataFrame:
    """End-to-end curation funnel (predicted-English filter ->
    Gopher/C4-style quality gate -> exact dedup, first copy wins ->
    deterministic hash sample) as a 5-row attrition table
    (stage_idx, stage, n_docs, n_tokens) — the single implementation
    behind x_curation_pipeline.

    All four survival flags are computed in ONE corpus pass: map-side
    expressions for lang/quality/fingerprint, one window shuffle
    (partition by fingerprint) for the first-copy flag, one tiny
    aggregate, a stack() unpivot. Flags compose monotonically (each
    stage ANDs the previous), like a real curation DAG's lineage
    columns. `n_chars_col` defaults to length(text)."""
    from engage_spark.queries.llm_text import _LANG_MARKERS, _STOPWORDS

    if sample_rate == 0.0:
        raise ValueError("sample_rate 0 would empty the funnel's last stage")
    sampled = _hash_keep_expr("doc_id", sample_rate)  # validates the rate

    n_chars = F.col(n_chars_col) if n_chars_col else F.length(F.col(text_col))
    base = df.select(
        F.col(id_col).alias("doc_id"),
        n_chars.alias("n_chars"),
        F.col(text_col).alias("text"),
        _ws_tokens(text_col).alias("__toks"),
    )

    def hits(words) -> Column:
        arr = F.array(*[F.lit(w) for w in words])
        return F.size(F.filter(F.col("__toks"), lambda x: F.array_contains(arr, x)))

    s = {lg: hits(ws) for lg, ws in _LANG_MARKERS.items()}
    any_marker = (s["en"] + s["es"] + s["fr"] + s["de"]) > 0
    f_lang = (
        any_marker
        & (s["en"] >= s["es"]) & (s["en"] >= s["fr"]) & (s["en"] >= s["de"])
    ).cast("int")
    n_toks = F.size("__toks").cast("long")
    stop_ratio = hits(_STOPWORDS) / n_toks.cast("double")

    flagged = base.select(
        "doc_id",
        n_toks.alias("n_toks"),
        f_lang.alias("f_lang"),
        (
            (f_lang == 1)
            & F.col("n_chars").between(100, 20000)
            & (stop_ratio >= 0.01)
        )
        .cast("int")
        .alias("f_q"),
        normalized_fingerprint("text").alias("__fp"),
    )
    w = (
        Window.partitionBy("__fp")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    staged = flagged.select(
        "doc_id",
        "n_toks",
        "f_lang",
        "f_q",
        ((F.col("f_q") == 1) & (F.sum("f_q").over(w) == 1)).cast("int").alias("f_d"),
    ).select(
        "*",
        ((F.col("f_d") == 1) & sampled).cast("int").alias("f_s"),
    )
    agg = staged.agg(
        F.count(F.lit(1)).cast("long").alias("n0"),
        F.sum("n_toks").cast("long").alias("t0"),
        F.sum("f_lang").cast("long").alias("n1"),
        F.sum(F.col("f_lang") * F.col("n_toks")).cast("long").alias("t1"),
        F.sum("f_q").cast("long").alias("n2"),
        F.sum(F.col("f_q") * F.col("n_toks")).cast("long").alias("t2"),
        F.sum("f_d").cast("long").alias("n3"),
        F.sum(F.col("f_d") * F.col("n_toks")).cast("long").alias("t3"),
        F.sum("f_s").cast("long").alias("n4"),
        F.sum(F.col("f_s") * F.col("n_toks")).cast("long").alias("t4"),
    )
    return agg.selectExpr(
        """stack(5,
            0L, 'raw',     n0, t0,
            1L, 'lang_en', n1, t1,
            2L, 'quality', n2, t2,
            3L, 'dedup',   n3, t3,
            4L, 'sample',  n4, t4
        ) AS (stage_idx, stage, n_docs, n_tokens)"""
    )


def sequence_packing(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    strata_col: str | None = None,
    budget: int = 2048,
    n_shards: int | None = None,
    shard_salt: str = "pack-v1",
) -> DataFrame:
    """Greedy sequential sequence packing: documents fill
    `budget`-token packs in deterministic (strata, id) order;
    pack_id = floor(exclusive_running_token_sum / budget). Returns one
    row per document: (doc_id[, strata_col][, shard_id], n_toks,
    pack_id).

    The greedy sequential fill is the streaming-friendly standard for
    pretraining batch construction — no cross-corpus bin-packing
    shuffle, one window cumsum per stratum, deterministic on any
    cluster layout (a resumed job continues the same packs). An
    oversize document spills its pack rather than being split.

    Determinism requires a total order: the window sorts by (id,
    n_toks), so even duplicate ids within a stratum produce the same
    offsets on any layout — two rows tied on BOTH keys are
    interchangeable (equal token counts shift offsets identically).

    SCALE: with `n_shards=None` the cumsum window has one partition
    per stratum — a handful of sources means a handful of tasks each
    sequentially scanning its whole stratum, which dies at 100 TB.
    Pass `n_shards` to pack hierarchically within (strata, shard_id),
    where shard_id is the deterministic `_shard_key_cols` hash of the
    id (the same scheme training_shards delivers by): parallelism
    multiplies by n_shards, determinism is preserved (the shard is a
    pure function of the id), and each shard's packs are independently
    resumable. Pack identity then is (strata, shard_id, pack_id) —
    pack_id stays local to its shard. The cost is at most one
    under-filled trailing pack per shard instead of per stratum."""
    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    toks = F.size(_ws_tokens(text_col)).cast("long")
    part: list = [strata_col] if strata_col else []
    keep = [F.col(id_col)] + ([F.col(strata_col)] if strata_col else [])
    if n_shards is not None:
        if n_shards <= 0:
            raise ValueError(f"n_shards must be positive, got {n_shards}")
        _, shard = _shard_key_cols(id_col, shard_salt, n_shards)
        keep.append(shard.alias("shard_id"))
        part.append("shard_id")
    w = (
        Window.partitionBy(*part)
        .orderBy(id_col, "n_toks")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        df.select(*keep, toks.alias("n_toks"))
        .withColumn(
            "pack_id",
            ((F.sum("n_toks").over(w) - F.col("n_toks")) / budget)
            .cast("long"),
        )
    )


def bigram_perplexity(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: float = 0.5,
) -> DataFrame:
    """Corpus-trained bigram language-model perplexity per document —
    the KenLM/CCNet-style quality signal: documents whose token
    transitions are improbable under the corpus's own bigram statistics
    (boilerplate, gibberish, wrong-language) score high perplexity and
    can be filtered or bucketed. Returns (id_col, n_bigrams, avg_logp,
    ppl) for every document with at least one bigram.

    Model: add-k smoothed bigram MLE, P(w2|w1) = (c(w1,w2) + k) /
    (c(w1,·) + k·V), with context counts c(w1,·) derived FROM the
    bigram table (so probabilities sum to 1 over the vocabulary) and V
    = corpus distinct-token count. Scoring the training corpus itself
    (the curation use) needs no backoff: every document bigram exists
    in the counts.

    Scale: bigrams are derived MAP-SIDE from the token array (two
    slices zipped — no explode+window per doc); counts partial-
    aggregate before their one shuffle; the V scalar broadcasts; the
    probability lookup is a shuffle join on (w1, w2) — the bigram
    table is O(vocab²) worst case and only AQE should decide to
    broadcast it; the final score is one groupBy(id). Everything is
    expressions — no Python."""
    if k <= 0:
        raise ValueError(f"smoothing k must be positive, got {k}")
    t = df.select(F.col(id_col).alias("__id"), _ws_tokens(text_col).alias("tk"))
    pairs = t.select(
        "__id",
        F.explode(
            F.arrays_zip(
                F.expr("slice(tk, 1, size(tk) - 1)").alias("w1"),
                F.expr("slice(tk, 2, size(tk) - 1)").alias("w2"),
            )
        ).alias("bg"),
    ).select("__id", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    bgc = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    ctx = bgc.groupBy("w1").agg(F.sum("c12").alias("c1"))
    vocab = t.select(F.explode("tk").alias("tok")).agg(
        F.countDistinct("tok").alias("v")
    )
    probs = (
        bgc.join(ctx, "w1")
        .join(F.broadcast(vocab))
        .select(
            "w1", "w2",
            F.log((F.col("c12") + k) / (F.col("c1") + k * F.col("v"))).alias(
                "logp"
            ),
        )
    )
    return (
        pairs.join(probs, ["w1", "w2"])
        .groupBy("__id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.avg("logp") + 1e-9, 6).alias("avg_logp"),
            F.round(F.exp(-F.avg("logp")) + 1e-9, 4).alias("ppl"),
        )
        .withColumnRenamed("__id", id_col)
    )


def percentile_gate(
    df: DataFrame,
    score_col: str,
    n_buckets: int = 10,
    exact: bool = True,
) -> DataFrame:
    """Percentile bucketing of a quality score — the "keep the top X%
    by score" curation step. Appends a `bucket` column (1..n_buckets,
    1 = lowest scores): bucket = 1 + #(thresholds below the row's
    score), with thresholds the k/n-quantiles of the score.

    Scale design: a global ntile() would sort the whole corpus through
    ONE task — instead the n-1 thresholds reduce to a single tiny row
    that BROADCASTS, and bucket assignment is map-side. `exact=True`
    (driver-testdata scale; oracle-comparable) buffers all scores in
    one aggregator — at 100 TB pass exact=False for
    approx_percentile's fixed-size sketch (bucket boundaries then
    carry the sketch's rank error, immaterial for gating). Thresholds
    and scores compare at a 6dp rounding so engines agree on boundary
    rows."""
    if n_buckets < 2:
        raise ValueError(f"n_buckets must be >= 2, got {n_buckets}")
    qs = ", ".join(str(k / n_buckets) for k in range(1, n_buckets))
    fn = "percentile" if exact else "approx_percentile"
    s = F.round(F.col(score_col) + F.lit(1e-9), 6)
    scored = df.withColumn("__s", s)
    th = scored.agg(F.expr(f"{fn}(__s, array({qs}))").alias("__ths"))
    return (
        scored.join(F.broadcast(th))
        .withColumn(
            "bucket",
            1
            + F.aggregate(
                F.col("__ths"),
                F.lit(0),
                lambda acc, t: acc
                + (F.col("__s") > F.round(t + F.lit(1e-9), 6)).cast("int"),
            ),
        )
        .drop("__ths")
        .withColumnRenamed("__s", f"{score_col}_rounded")
    )


def _bpe_merge_word(s: list, left: str, right: str) -> tuple:
    """One BPE merge applied to one symbol sequence, left-to-right
    non-overlapping — shared by the driver-side loop and the
    distributed pandas kernel so the two paths cannot drift."""
    res, i = [], 0
    n = len(s)
    while i < n:
        if i + 1 < n and s[i] == left and s[i + 1] == right:
            res.append(left + right)
            i += 2
        else:
            res.append(s[i])
            i += 1
    return tuple(res)


def bpe_train(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_merges: int = 16,
    min_freq: int = 2,
    word_min_freq: int = 1,
    max_vocab_words: int | None = 2_000_000,
    distributed_rounds: bool = False,
) -> DataFrame:
    """Byte-pair-encoding merge training — the tokenizer-training pass
    itself (vocab_topk is its first-pass statistic). Returns the
    learned merge table (rank, left, right, pair_freq), rank 0 = first
    merge. Deterministic: frequency ties break lexicographically on
    (left, right), so the same corpus learns the same merges on any
    cluster layout. Stops early when the best pair drops below
    `min_freq`.

    Scale design — the classic BPE factorization (what HF tokenizers /
    SentencePiece do): the CORPUS-sized work is the word-frequency
    count — ONE distributed shuffle; merge learning then operates on
    the WORD-FREQUENCY table. That table is then PRUNED before any
    driver materialization — `word_min_freq` drops hapax/rare words
    (SentencePiece's --vocabulary_threshold) and `max_vocab_words`
    takes a deterministic top-N by (freq desc, word asc) via
    TakeOrderedAndProject, so the default path's collect is bounded by
    construction at ≤ max_vocab_words rows NO MATTER the corpus size
    (100 TB of multilingual web text has billions of distinct
    whitespace tokens — URLs, typos, code — an unpruned collect dies).
    Pruning happens before the collected/distributed branch, so both
    paths learn from the identical table and stay in parity. The merge
    loop then runs at driver memory speed; per-merge Spark jobs would
    pay seconds of scheduling latency per round for work that takes
    microseconds.

    `distributed_rounds=True` keeps every round on the cluster for
    vocabularies too large to collect even pruned: per round, adjacent
    pairs explode map-side weighted by freq, one partial-agg'd shuffle
    ranks them (driver sees exactly 1 row), and the merge applies in
    an Arrow-batched pandas kernel with iter_checkpoint cutting
    lineage — the connected_components iteration shape (the reliable-
    checkpoint conf makes each round executor-loss-safe). Both paths
    share `_bpe_merge_word`, and parity between them is pinned by
    pytest."""
    if n_merges <= 0:
        raise ValueError(f"n_merges must be positive, got {n_merges}")
    spark = df.sparkSession
    word_freq = (
        df.select(F.explode(_ws_tokens(text_col)).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    if word_min_freq > 1:
        word_freq = word_freq.filter(F.col("freq") >= word_min_freq)
    if max_vocab_words is not None:
        # deterministic top-N: compiles to TakeOrderedAndProject
        # (per-partition partial top-N merged once) — this is what
        # makes the collect below ≤ max_vocab_words rows by
        # construction, independent of corpus size
        word_freq = word_freq.orderBy(F.desc("freq"), "w").limit(max_vocab_words)

    merges: list[tuple[int, str, str, int]] = []

    if not distributed_rounds:
        # bounded collect: ≤ max_vocab_words rows by construction (the
        # limit above); with max_vocab_words=None the caller opted
        # into an unbounded |distinct words| collect explicitly
        words: dict[tuple, int] = {
            tuple(r["w"]): r["freq"] for r in word_freq.collect()
        }
        for rank in range(n_merges):
            counts: dict[tuple[str, str], int] = {}
            for syms, f in words.items():
                for a, b in zip(syms, syms[1:]):
                    counts[(a, b)] = counts.get((a, b), 0) + f
            if not counts:
                break
            (left, right), pf = min(
                counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
            )
            if pf < min_freq:
                break
            merges.append((rank, left, right, pf))
            merged: dict[tuple, int] = {}
            for syms, f in words.items():
                res = _bpe_merge_word(list(syms), left, right)
                merged[res] = merged.get(res, 0) + f
            words = merged
        return local_frame(
            spark, merges, "rank long, left string, right string, pair_freq long"
        )

    from pyspark.sql.pandas.functions import pandas_udf

    wtab = iter_checkpoint(word_freq.select(F.split("w", "").alias("syms"), "freq"))
    for rank in range(n_merges):
        pairs = wtab.select(
            "freq",
            F.explode(
                F.zip_with(
                    F.slice("syms", 1, F.size("syms") - 1),
                    F.slice("syms", 2, F.size("syms") - 1),
                    lambda a, b: F.struct(a.alias("l"), b.alias("r")),
                )
            ).alias("p"),
        )
        best = (
            pairs.groupBy("p.l", "p.r")
            .agg(F.sum("freq").alias("pf"))
            .orderBy(F.desc("pf"), "l", "r")
            .limit(1)
            .collect()
        )
        if not best or best[0]["pf"] < min_freq:
            break
        left, right, pf = best[0]["l"], best[0]["r"], int(best[0]["pf"])
        merges.append((rank, left, right, pf))

        def _merge_udf(ml: str, mr: str):
            @pandas_udf("array<string>")
            def _merge(syms: pd.Series) -> pd.Series:
                return pd.Series(
                    [list(_bpe_merge_word(list(s), ml, mr)) for s in syms]
                )

            return _merge

        wtab = iter_checkpoint(
            wtab.select(_merge_udf(left, right)("syms").alias("syms"), "freq")
        )

    return local_frame(
        spark, merges, "rank long, left string, right string, pair_freq long"
    )


def bpe_segment(
    df: DataFrame,
    merges: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Segment documents with a learned BPE merge table (bpe_train's
    output): each whitespace token splits to characters, then every
    merge applies in rank order. Returns (id_col, n_ws_tokens,
    n_bpe_tokens, bpe_per_word) — the corpus-level statistic a
    tokenizer evaluation needs (lower bpe_per_word = the merges
    compress this corpus better).

    Scale: the merge table is K rows — it COLLECTS (bound stated: K =
    n_merges) and ships to an Arrow-batched pandas kernel as a Spark
    broadcast; the corpus maps through once, no shuffle before the
    final per-doc counts (which aggregate map-side). Segmentation
    shares `_bpe_merge_word` with training, so encode cannot drift
    from what training learned."""
    from pyspark.sql.pandas.functions import pandas_udf

    # bounded collect: K merge rows
    mlist = [
        (r["left"], r["right"])
        for r in merges.orderBy("rank").collect()
    ]
    bc = df.sparkSession.sparkContext.broadcast(mlist)

    @pandas_udf("long")
    def _n_bpe(text: pd.Series) -> pd.Series:
        ms = bc.value
        cache: dict[str, int] = {}
        out = []
        for t in text:
            total = 0
            for w in (t or "").lower().strip().split():
                n = cache.get(w)
                if n is None:
                    syms = tuple(w)
                    for left, right in ms:
                        if len(syms) < 2:
                            break
                        syms = _bpe_merge_word(list(syms), left, right)
                    n = len(syms)
                    cache[w] = n
                total += n
            out.append(total)
        return pd.Series(out)

    toks = _ws_tokens(text_col)
    return df.select(
        F.col(id_col),
        F.size(F.filter(toks, lambda x: x != F.lit(""))).cast("long").alias(
            "n_ws_tokens"
        ),
        _n_bpe(F.col(text_col)).alias("n_bpe_tokens"),
    ).withColumn(
        "bpe_per_word",
        F.round(
            F.col("n_bpe_tokens")
            / F.greatest(F.col("n_ws_tokens"), F.lit(1)).cast("double"),
            4,
        ),
    )


def token_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Append token statistics columns: ws_tokens (whitespace tokens),
    approx_llm_tokens (chars/4). Map-only, codegen'd (the
    x_text_token_count expressions over an arbitrary column)."""
    return df.withColumn(
        "ws_tokens", F.size(_ws_tokens(text_col)).cast("long")
    ).withColumn("approx_llm_tokens", F.length(text_col) / F.lit(4.0))


def vocab_topk(
    df: DataFrame,
    k: int = 10000,
    id_col: str = "doc_id",
    text_col: str = "text",
    exact_df: bool = True,
) -> DataFrame:
    """Top-k corpus tokens by term frequency with document frequency
    (tokenizer-training statistics; the x_vocab_topk plan over arbitrary
    columns). Explode is map-side, counts partial-aggregate before the
    one shuffle on token, top-k is TakeOrderedAndProject (K rows per
    partition cross the wire, never the full vocabulary); ties at the
    boundary break by token so the cut is deterministic.

    exact_df=True computes df as count(DISTINCT id) — a two-phase
    distinct aggregate that exchanges (token, id) pairs. At corpus
    scale pass exact_df=False: approx_count_distinct (HLL++, default
    ~2% rse) keeps fixed-size state per token and drops that exchange
    entirely — df then only ranks/filters tokens, where 2% is
    immaterial."""
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    toks = df.select(
        F.col(id_col).alias("__id"), F.explode(_ws_tokens(text_col)).alias("token")
    )
    df_agg = (
        F.countDistinct("__id") if exact_df else F.approx_count_distinct("__id")
    )
    return (
        toks.groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("tf"),
            df_agg.alias("df"),
        )
        .orderBy(F.desc("tf"), "token")
        .limit(k)
    )


def chunk_documents(
    df: DataFrame,
    size: int,
    stride: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Split documents into overlapping fixed-size token chunks
    (context-window preparation; the x_doc_chunking plan). Chunk starts
    are 0, stride, 2*stride, ...; a short document yields exactly one
    chunk and the last chunk may run short. Returns
    (id_col, chunk_idx, n_chunk_toks, chunk_text).

    Entirely map-side (sequence + explode + slice inside codegen): no
    shuffle, no Python, output partitioning inherits the input's."""
    stride = size if stride is None else stride
    if size <= 0 or stride <= 0:
        raise ValueError(f"size and stride must be positive, got {size}, {stride}")
    if stride > size:
        raise ValueError(
            f"stride {stride} > size {size} would skip tokens between chunks"
        )
    t = df.select(
        F.col(id_col), _ws_tokens(text_col).alias("__toks")
    ).withColumn("__n", F.size("__toks").cast("long"))
    n_chunks = _n_token_windows(F.col("__n"), size, stride)
    piece = _token_window_slice(F.col("__toks"), F.col("chunk_idx"), size, stride)
    return (
        t.select(
            id_col,
            "__toks",
            F.explode(F.sequence(F.lit(0).cast("long"), n_chunks - 1)).alias(
                "chunk_idx"
            ),
        )
        .select(
            id_col,
            "chunk_idx",
            F.size(piece).cast("long").alias("n_chunk_toks"),
            F.array_join(piece, " ").alias("chunk_text"),
        )
    )


def span_dedup(
    df: DataFrame,
    span_tokens: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """C4-style cross-document span dedup: split each doc into
    non-overlapping `span_tokens`-token spans, keep only the FIRST
    occurrence of each distinct span corpus-wide (first = lowest
    (id, span_idx)), and reassemble each document from its surviving
    spans. Returns (id_col, n_spans, n_kept, cleaned_text).

    Scale design — the span TEXT never shuffles: the dedup decision
    runs on (id, span_idx, md5(span)) rows (~40 B), one window shuffle
    on the fingerprint + one groupBy id to collect kept indices; then
    ONE join back to the source rows re-derives the spans map-side from
    the text that arrived with the join. Total: two small shuffles +
    one text shuffle (the join) — vs. two full-text shuffles for the
    naive partition-by-span formulation. Dedup keys are full md5
    (128-bit), so accidental collision loss is negligible at any
    corpus size.

    Duplicate ids with DISTINCT texts are handled: a text fingerprint
    rides along as a secondary key, so each (id, text) pair dedups and
    reassembles against its own spans (first-occurrence order breaks id
    ties by text fingerprint). Exact duplicate (id, text) ROWS are a
    precondition violation — their identical spans double-count; run
    exact_dedup_keepers first."""
    if span_tokens <= 0:
        raise ValueError(f"span_tokens must be positive, got {span_tokens}")
    tfp = F.md5(F.coalesce(F.col(text_col), F.lit("")))
    t = df.select(
        F.col(id_col), tfp.alias("__tfp"), _ws_tokens(text_col).alias("__toks")
    ).withColumn("__n", F.size("__toks").cast("long"))
    n_spans = _n_token_windows(F.col("__n"), span_tokens, span_tokens)
    span_of = lambda ci: _token_window_text(  # noqa: E731
        F.col("__toks"), ci, span_tokens, span_tokens
    )
    small = t.select(
        id_col,
        "__tfp",
        "__toks",
        F.explode(F.sequence(F.lit(0).cast("long"), n_spans - 1)).alias("ci"),
    ).select(id_col, "__tfp", "ci", F.md5(span_of(F.col("ci"))).alias("fp"))
    w = Window.partitionBy("fp").orderBy(id_col, "__tfp", "ci")
    per_doc = (
        small.withColumn("rn", F.row_number().over(w))
        .groupBy(id_col, "__tfp")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum((F.col("rn") == 1).cast("long")).alias("n_kept"),
            F.array_sort(
                F.collect_list(F.when(F.col("rn") == 1, F.col("ci")))
            ).alias("__kept"),
        )
    )
    return (
        df.select(id_col, text_col)
        .withColumn("__tfp", tfp)
        .join(per_doc, [id_col, "__tfp"])
        .withColumn("__toks", _ws_tokens(text_col))
        .select(
            id_col,
            "n_spans",
            "n_kept",
            F.array_join(
                F.transform(F.col("__kept"), lambda ci: span_of(ci)), " "
            ).alias("cleaned_text"),
        )
    )


def training_shards(
    df: DataFrame,
    n_shards: int = 16,
    id_col: str = "doc_id",
    salt: str = "shuf-v1",
) -> DataFrame:
    """Deterministic global shuffle for training-data delivery: append
    a shuffle key md5(salt:id) and shard_id = key mod n_shards, then
    cluster and sort — each shard's rows land wholly in one output
    partition as a contiguous skey-sorted run, so reading shards in
    shard_id order visits the corpus in a fixed pseudo-random order,
    reproducible on any cluster layout (unlike rand() or repartition
    order), resumable mid-epoch, re-drawable by bumping the salt.

    Output PARTITIONS are hash-clustered, not shard-aligned: partition
    i is NOT shard i — shards can share a partition and some partitions
    may be empty. For file-per-shard delivery, write with
    `.write.partitionBy("shard_id")` (directory per shard; the sort
    keeps each shard's file skey-ordered). The per-shard sort is
    sortWithinPartitions (distributed), NOT a row_number window over
    shard_id — the window formulation funnels each shard through one
    task, which dies at 100 TB. Audit the assignment with the
    x_shard_manifest query (same `_shard_key_cols` scheme)."""
    if n_shards <= 0:
        raise ValueError(f"n_shards must be positive, got {n_shards}")
    skey, shard = _shard_key_cols(id_col, salt, n_shards)
    return (
        df.withColumn("skey", skey)
        .withColumn("shard_id", shard)
        .repartition(n_shards, "shard_id")
        .sortWithinPartitions("shard_id", "skey")
    )


def _expectation_rule(r: dict, i: int, gate: bool = False):
    """Compile ONE expectation rule dict to ``(rule_id, violation
    Column | None)`` — None marks a ``unique`` rule, which is an
    aggregate property (count vs countDistinct), not a row predicate.
    Shared by :func:`validate_expectations` (batch report) and the
    commit-time gates (io._check_gate_args), so the two can never
    disagree on what a rule means.

    ``gate=True`` flips ONE semantic for ``expr`` rules: a NULL
    (three-valued-unknown) result counts as a VIOLATION instead of a
    pass. The report keeps SQL-CHECK semantics (NULL passes — wrap in
    coalesce() to change it), but a gate admitting a row because its
    quality predicate couldn't be evaluated (`length(text) >= 5` on
    NULL text) would silently let exactly the malformed rows through;
    at the gate, unknown refuses (the DLT convention). Column rules
    (range/set/regex) skip NULLs in BOTH modes — pair with not_null
    to enforce presence."""
    import functools
    import operator

    kind = r["rule"]
    col = r.get("col")
    rid = r.get("id") or (f"{kind}:{col}" if col else f"{kind}:{i}")
    c = F.col(col) if col else None
    if kind == "unique":
        return rid, None
    if kind == "not_null":
        viol = c.isNull()
    elif kind == "in_range":
        bounds = []
        if "lo" in r:
            bounds.append(c < F.lit(r["lo"]))
        if "hi" in r:
            bounds.append(c > F.lit(r["hi"]))
        if not bounds:
            raise ValueError(f"in_range rule {rid} needs lo and/or hi")
        viol = c.isNotNull() & functools.reduce(operator.or_, bounds)
    elif kind == "in_set":
        viol = c.isNotNull() & ~c.isin(list(r["values"]))
    elif kind == "regex":
        viol = c.isNotNull() & ~c.rlike(r["pattern"])
    elif kind == "expr":
        viol = ~F.expr(r["expr"])
        if gate:
            viol = F.coalesce(viol, F.lit(True))
    else:
        raise ValueError(f"unknown expectation rule kind: {kind}")
    return rid, viol


def validate_expectations(df: DataFrame, rules) -> DataFrame:
    """Data-quality gate: evaluate declarative expectations against a
    DataFrame, returning one row per rule — ``rule_id``,
    ``n_violations`` (long), ``passed`` (bool). The pre-training (or
    pre-publish) contract check a pipeline runs on every batch.

    Rule dicts (``id`` optional, defaults to ``kind:col``):
      {"rule": "not_null", "col": c}
      {"rule": "unique",   "col": c}              # among non-null values
      {"rule": "in_range", "col": c, "lo": x, "hi": y}  # either bound optional
      {"rule": "in_set",   "col": c, "values": [...]}
      {"rule": "regex",    "col": c, "pattern": p}      # unanchored search
      {"rule": "expr",     "id": i, "expr": sql_bool}   # cross-column checks

    Scale shape: every row-predicate rule folds into ONE aggregation
    over a single scan (partial aggregation map-side; the only shuffle
    is the 1-row global agg). ``unique`` rules add exact distinct
    counts to the same aggregation (Catalyst plans an Expand — one row
    copy per distinct aggregate; at 100 TB trade exactness for
    ``approx_count_distinct`` if the Expand dominates). The wide
    result row unpivots via ``stack`` — no second pass. NULL handling:
    range/set/regex rules don't count NULLs as violations (pair with
    not_null to enforce presence); an ``expr`` rule that evaluates to
    NULL counts as passing (wrap in coalesce() to change that).

    Oracle-checked end to end by the x_expectations_check query
    (engage_spark/queries/aggregates.py).
    """
    aggs, ids = [], []
    for i, r in enumerate(rules):
        rid, viol = _expectation_rule(r, i)
        c = F.col(r["col"]) if r.get("col") else None
        if viol is None:  # unique: an aggregate, not a row predicate
            aggs.append(
                (F.count(c) - F.countDistinct(c)).cast("long").alias(f"__v{i}")
            )
            ids.append((i, rid))
            continue
        aggs.append(
            # coalesce: F.sum over zero rows is NULL — an empty batch
            # must report 0 violations / passed=true, not NULL/NULL
            F.coalesce(F.sum(F.when(viol, 1).otherwise(0)), F.lit(0))
            .cast("long")
            .alias(f"__v{i}")
        )
        ids.append((i, rid))
    if not aggs:
        raise ValueError("validate_expectations needs at least one rule")
    stack_args = ", ".join(f"'{rid}', __v{i}" for i, rid in ids)
    return (
        df.agg(*aggs)
        .select(
            F.expr(
                f"stack({len(ids)}, {stack_args}) AS (rule_id, n_violations)"
            )
        )
        .withColumn("passed", F.col("n_violations") == 0)
    )
