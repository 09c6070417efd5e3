"""The public facade works on arbitrary DataFrames and column names —
not just the driver testdata tables the queries bind to."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from engage_spark import api


@pytest.fixture(scope="module")
def corpus(spark):
    """Tiny corpus with non-default column names and planted duplicates."""
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "THE  quick   brown fox jumps over the lazy dog "),  # exact dup of 1
        (3, "the quick brown fox jumps over the lazy cat"),  # near dup of 1
        (4, "completely different content about databases and indexes"),
        (5, "another unrelated document discussing query planners"),
    ]
    return spark.createDataFrame(rows, ["uid", "body"])


def test_exact_dedup_stats_finds_planted_duplicate(corpus):
    stats = api.exact_dedup_stats(corpus, id_col="uid", text_col="body").toPandas()
    assert len(stats) == 4  # 5 docs, one collision
    dup = stats[stats.n_copies == 2]
    assert len(dup) == 1
    assert int(dup.keeper_id.iloc[0]) == 1


def test_exact_dedup_keepers_preserves_columns_and_drops_copy(corpus):
    kept = api.exact_dedup_keepers(corpus, id_col="uid", text_col="body").toPandas()
    assert sorted(kept.columns) == ["body", "uid"]
    assert sorted(kept.uid) == [1, 3, 4, 5]  # uid=2 lost to uid=1


def test_minhash_pairs_on_custom_columns(corpus):
    pairs = api.minhash_near_dup_pairs(
        corpus, id_col="uid", text_col="body", jaccard_threshold=0.4
    ).toPandas()
    found = {tuple(r) for r in pairs[["doc_a", "doc_b"]].itertuples(index=False)}
    assert (1, 2) in found  # exact dup must survive any threshold
    assert (1, 3) in found or (2, 3) in found  # near dup at 0.4


def test_simhash_pairs_on_custom_columns(corpus):
    pairs = api.simhash_near_dup_pairs(
        corpus, id_col="uid", text_col="body", max_hamming=10
    ).toPandas()
    found = {tuple(r) for r in pairs[["doc_a", "doc_b"]].itertuples(index=False)}
    assert (1, 2) in found  # identical normalized text -> hamming 0


def test_near_dup_components_clusters_the_triplet(corpus):
    pairs = api.minhash_near_dup_pairs(
        corpus, id_col="uid", text_col="body", jaccard_threshold=0.4
    )
    comp = api.near_dup_components(
        corpus.select("uid"), pairs, id_col="uid"
    ).toPandas()
    by_node = dict(zip(comp.node, comp.component))
    assert by_node[1] == by_node[2] == 1  # 1-2(-3) cluster keeps min id
    assert by_node[4] == 4 and by_node[5] == 5  # singletons keep themselves


def test_topk_cosine_matches_numpy_bruteforce(spark):
    rng = np.random.RandomState(7)
    vecs = rng.randn(30, 8).astype("float32")
    pdf = pd.DataFrame(
        {"vid": range(30), "emb": [v.tolist() for v in vecs]}
    )
    df = spark.createDataFrame(pdf)
    queries = df.filter(F.col("vid") < 3)
    got = api.topk_cosine_search(
        df, queries, k=5, id_col="vid", emb_col="emb"
    ).toPandas()

    norms = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    sims = norms @ norms.T
    for qid in range(3):
        s = sims[qid].copy()
        s[qid] = -np.inf  # self excluded
        expect = set(np.argsort(-s)[:5])
        mine = set(got[got.query_id == qid].neighbor_id)
        assert mine == expect, f"query {qid}: {mine} != {expect}"


def test_hash_sample_is_deterministic_and_nested(spark):
    df = spark.range(0, 4000).withColumnRenamed("id", "k")
    s1 = api.hash_sample(df, 0.5, id_col="k")
    s2 = api.hash_sample(df, 0.5, id_col="k")
    assert s1.count() == s2.count()
    assert s1.exceptAll(s2).count() == 0  # identical selection
    n = s1.count()
    assert 0.4 * 4000 < n < 0.6 * 4000
    # nesting: the smaller-rate sample is a strict subset of the larger
    q = api.hash_sample(df, 0.25, id_col="k")
    assert q.exceptAll(s1).count() == 0
    assert 0 < q.count() < n


def test_hash_sample_rejects_bad_rate(spark):
    df = spark.range(3)
    with pytest.raises(ValueError):
        api.hash_sample(df, 1.5, id_col="id")


def test_token_stats_appends_columns(corpus):
    out = api.token_stats(corpus, text_col="body").toPandas()
    assert {"ws_tokens", "approx_llm_tokens"} <= set(out.columns)
    row1 = out[out.uid == 1].iloc[0]
    assert int(row1.ws_tokens) == 9


def test_embed_lsh_near_dup_pairs_on_custom_columns(spark):
    rng = np.random.RandomState(11)
    base = rng.randn(20, 64).astype("float32")
    vecs = list(base)
    vecs.append(base[0] + rng.randn(64).astype("float32") * 0.01)  # near-dup of 0
    pdf = pd.DataFrame({"eid": range(21), "vec": [v.tolist() for v in vecs]})
    df = spark.createDataFrame(pdf)
    pairs = api.embed_lsh_near_dup_pairs(
        df, id_col="eid", emb_col="vec", threshold=0.9
    ).toPandas()
    found = {tuple(r) for r in pairs[["vec_a", "vec_b"]].itertuples(index=False)}
    assert (0, 20) in found  # a 0.999-cosine pair collides in every band
    assert (pairs.cosine >= 0.9).all()


def test_hash_sample_rate_one_is_identity(spark):
    """Regression: rate=1.0 used to format a 9-char threshold whose
    lexicographic compare against the 8-char md5 prefix kept only ~1/16
    of rows."""
    df = spark.range(0, 500).withColumnRenamed("id", "k")
    assert api.hash_sample(df, 1.0, id_col="k").count() == 500
    assert api.hash_sample(df, 0.0, id_col="k").count() == 0


def test_topk_cosine_works_with_string_ids(spark):
    """Regression: the partial top-k schema used to hardcode long ids."""
    rng = np.random.RandomState(3)
    vecs = rng.randn(12, 8).astype("float32")
    pdf = pd.DataFrame(
        {"name": [f"doc-{i}" for i in range(12)], "emb": [v.tolist() for v in vecs]}
    )
    df = spark.createDataFrame(pdf)
    queries = df.filter(F.col("name") == "doc-0")
    got = api.topk_cosine_search(df, queries, k=3, id_col="name", emb_col="emb").toPandas()
    assert len(got) == 3
    assert (got.query_id == "doc-0").all()
    assert "doc-0" not in set(got.neighbor_id)


def test_embed_lsh_pairs_survive_non_default_dimension(spark):
    """Regression: a dim mismatch used to null-poison every hyperplane
    dot product (zip_with null-pads), collapsing all vectors into one
    bucket — a silent cross product. Now mismatches degrade to
    prefix-dim hashing and an explicit dim parameter exists."""
    rng = np.random.RandomState(5)
    base = rng.randn(40, 16).astype("float32")
    vecs = list(base)
    vecs.append(base[7] + rng.randn(16).astype("float32") * 0.01)
    pdf = pd.DataFrame({"vid": range(41), "v": [x.tolist() for x in vecs]})
    df = spark.createDataFrame(pdf)

    from engage_spark.queries.llm_similarity import _nd_band_keys

    # bucketing must actually discriminate: >1 distinct key per band
    keyed = df.select(F.array(*_nd_band_keys("v", dim=16)).alias("ks")).toPandas()
    per_band = list(zip(*keyed.ks))
    assert all(len(set(band)) > 1 for band in per_band)

    got = api.embed_lsh_near_dup_pairs(
        df, id_col="vid", emb_col="v", threshold=0.9, dim=16
    ).toPandas()
    found = {tuple(r) for r in got[["vec_a", "vec_b"]].itertuples(index=False)}
    assert (7, 40) in found
    # default dim=64 on 16-dim vectors: prefix-dim hashing, no crash,
    # planted pair still found (identical prefixes collide in every band)
    got64 = api.embed_lsh_near_dup_pairs(
        df, id_col="vid", emb_col="v", threshold=0.9
    ).toPandas()
    found64 = {tuple(r) for r in got64[["vec_a", "vec_b"]].itertuples(index=False)}
    assert (7, 40) in found64


def test_near_dup_components_rejects_unknown_algorithm(spark):
    df = spark.range(3).withColumnRenamed("id", "n")
    pairs = spark.createDataFrame([(0, 1)], ["doc_a", "doc_b"])
    with pytest.raises(ValueError):
        api.near_dup_components(df, pairs, id_col="n", algorithm="propogation")


def test_curation_funnel_on_custom_columns(spark):
    """The generic funnel runs on arbitrary columns with derived
    n_chars and produces a monotone 5-stage attrition table."""
    rows = [
        (i, "the data value is " + ("fast " * 30) + f"doc{i}") for i in range(40)
    ]
    rows.append((100, rows[0][1]))  # exact duplicate of doc 0
    df = spark.createDataFrame(rows, ["uid", "body"])
    out = (
        api.curation_funnel(df, id_col="uid", text_col="body")
        .toPandas()
        .sort_values("stage_idx")
        .reset_index(drop=True)
    )
    assert list(out.stage) == ["raw", "lang_en", "quality", "dedup", "sample"]
    assert out.n_docs.iloc[0] == 41
    assert (out.n_docs.diff().dropna() <= 0).all()  # monotone attrition
    assert out.n_docs.iloc[3] == out.n_docs.iloc[2] - 1  # dup removed
    with pytest.raises(ValueError):
        api.curation_funnel(df, id_col="uid", text_col="body", sample_rate=0.0)


def test_sequence_packing_fills_budget_greedily(spark):
    rows = [(i, "w " * 100) for i in range(10)]  # 100 tokens each
    df = spark.createDataFrame(rows, ["uid", "body"])
    out = (
        api.sequence_packing(df, id_col="uid", text_col="body", budget=250)
        .toPandas()
        .sort_values("uid")
        .reset_index(drop=True)
    )
    # 100-token docs into 250-token packs: pack = floor(100*i / 250)
    assert list(out.pack_id) == [0, 0, 0, 1, 1, 2, 2, 2, 3, 3]
    # deterministic: same input packs identically
    again = (
        api.sequence_packing(df, id_col="uid", text_col="body", budget=250)
        .toPandas()
        .sort_values("uid")
        .reset_index(drop=True)
    )
    assert list(again.pack_id) == list(out.pack_id)
    with pytest.raises(ValueError):
        api.sequence_packing(df, id_col="uid", text_col="body", budget=0)


def test_hash_sample_rejects_subgranularity_rate(spark):
    """Regression: a positive rate below 2^-32 used to silently select
    nothing; it now raises instead of looking like data loss."""
    df = spark.range(10)
    with pytest.raises(ValueError, match="granularity"):
        api.hash_sample(df, 1e-12, id_col="id")
    assert api.hash_sample(df, 0.0, id_col="id").count() == 0  # explicit 0 is fine


def test_vocab_topk_counts_and_ties(corpus):
    out = api.vocab_topk(corpus, k=3, id_col="uid", text_col="body").toPandas()
    assert list(out.columns) == ["token", "tf", "df"]
    assert len(out) == 3
    # 'the' appears twice in docs 1-3 (and once more via 'THE' lowercased)
    assert out.token.iloc[0] == "the"
    assert out.tf.iloc[0] == 6 and out.df.iloc[0] == 3
    # deterministic tie-break: tf desc, then token asc
    assert list(out.tf) == sorted(out.tf, reverse=True)
    with pytest.raises(ValueError):
        api.vocab_topk(corpus, k=0, id_col="uid", text_col="body")


def test_chunk_documents_covers_every_token_once_per_stride(spark):
    text = " ".join(f"t{i}" for i in range(10))
    df = spark.createDataFrame([(1, text), (2, "short doc")], ["uid", "body"])
    out = (
        api.chunk_documents(df, size=4, stride=3, id_col="uid", text_col="body")
        .toPandas()
        .sort_values(["uid", "chunk_idx"])
    )
    d1 = out[out.uid == 1]
    # n_chunks = ceil((10-4)/3)+1 = 3, starts 0,3,6 -> last covers t6..t9
    assert list(d1.chunk_idx) == [0, 1, 2]
    assert d1.chunk_text.iloc[0] == "t0 t1 t2 t3"
    assert d1.chunk_text.iloc[2] == "t6 t7 t8 t9"
    assert list(d1.n_chunk_toks) == [4, 4, 4]
    d2 = out[out.uid == 2]  # short doc -> exactly one (short) chunk
    assert len(d2) == 1 and d2.chunk_text.iloc[0] == "short doc"
    with pytest.raises(ValueError):
        api.chunk_documents(df, size=4, stride=5, id_col="uid", text_col="body")


def test_training_shards_deterministic_and_complete(corpus):
    a = api.training_shards(corpus, n_shards=4, id_col="uid").toPandas()
    b = api.training_shards(corpus, n_shards=4, id_col="uid").toPandas()
    assert sorted(a.uid) == [1, 2, 3, 4, 5]  # a permutation, nothing lost
    assert list(a.uid) == list(b.uid)  # same layout -> same order
    assert a.shard_id.between(0, 3).all()
    salted = api.training_shards(corpus, n_shards=4, id_col="uid", salt="v2").toPandas()
    assert set(salted.uid) == set(a.uid)
    assert list(salted.skey) != list(a.skey)  # new salt -> new draw


def test_span_dedup_drops_repeated_span_keeps_first(spark):
    boiler = " ".join(f"b{i}" for i in range(4))  # a shared 4-token span
    rows = [
        (1, boiler + " " + "u1a u1b u1c u1d"),
        (2, boiler + " " + "u2a u2b u2c u2d"),  # same leading span as 1
        (3, "v1 v2 v3 v4"),
    ]
    df = spark.createDataFrame(rows, ["uid", "body"])
    out = (
        api.span_dedup(df, span_tokens=4, id_col="uid", text_col="body")
        .toPandas()
        .set_index("uid")
        .sort_index()
    )
    assert list(out.n_spans) == [2, 2, 1]
    assert list(out.n_kept) == [2, 1, 1]  # doc 2 loses the boilerplate span
    assert out.loc[1, "cleaned_text"] == boiler + " u1a u1b u1c u1d"
    assert out.loc[2, "cleaned_text"] == "u2a u2b u2c u2d"
    assert out.loc[3, "cleaned_text"] == "v1 v2 v3 v4"
    with pytest.raises(ValueError):
        api.span_dedup(df, span_tokens=0, id_col="uid", text_col="body")


def test_vocab_topk_approx_df_close_to_exact(corpus):
    exact = api.vocab_topk(corpus, k=5, id_col="uid", text_col="body").toPandas()
    approx = api.vocab_topk(
        corpus, k=5, id_col="uid", text_col="body", exact_df=False
    ).toPandas()
    assert list(exact.token) == list(approx.token)  # tf ranking unchanged
    assert list(exact.tf) == list(approx.tf)
    # HLL at tiny cardinalities is exact in practice; allow 1 either way
    assert (exact.df - approx.df).abs().max() <= 1


def test_example_pipeline_composes_end_to_end(spark):
    """The examples/ script's stages compose over real testdata."""
    from examples.curate_pretraining_corpus import curate

    stages = curate(spark, "/root/testdata/sf0.001")
    n_raw = stages["raw"].count()
    n_dedup = stages["deduped"].count()
    n_sampled = stages["sampled"].count()
    assert 0 < n_dedup <= n_raw
    assert 0 < n_sampled <= n_dedup
    packed = stages["packed"]
    assert packed.agg(F.max("pack_id")).first()[0] >= 0
    shard_rows = stages["shards"].count()
    assert shard_rows == n_sampled  # delivery is a permutation


def test_null_text_tokenizes_as_empty_not_minus_one(spark):
    """Regression: size(split(NULL)) = -1 under legacy.sizeOfNull used
    to manufacture n_chunk_toks=-1 rows; NULL now behaves like ''. """
    df = spark.createDataFrame(
        [(1, None), (2, "a b c")], ["uid", "body"]
    )
    chunks = api.chunk_documents(
        df, size=2, stride=2, id_col="uid", text_col="body"
    ).toPandas()
    d1 = chunks[chunks.uid == 1]
    assert len(d1) == 1 and int(d1.n_chunk_toks.iloc[0]) == 1  # one '' token
    stats = api.token_stats(df, text_col="body").toPandas()
    assert stats.ws_tokens.min() >= 1  # never -1


def test_span_dedup_handles_duplicate_ids_with_distinct_texts(spark):
    df = spark.createDataFrame(
        [(1, "a1 a2 a3 a4"), (1, "b1 b2 b3 b4"), (2, "a1 a2 a3 a4")],
        ["uid", "body"],
    )
    out = api.span_dedup(df, span_tokens=4, id_col="uid", text_col="body").toPandas()
    assert len(out) == 3  # no fan-out row inflation
    by = {(r.uid, r.cleaned_text) for r in out.itertuples()}
    # both id=1 rows keep their own (distinct) spans; id=2 loses its
    # span to the first occurrence at id=1
    assert (1, "a1 a2 a3 a4") in by and (1, "b1 b2 b3 b4") in by
    assert (2, "") in by


def test_training_shards_cluster_each_shard_in_one_partition(corpus):
    from pyspark.sql import functions as SF

    out = api.training_shards(corpus, n_shards=4, id_col="uid")
    pid = out.withColumn("pid", SF.spark_partition_id())
    spread = (
        pid.groupBy("shard_id")
        .agg(SF.countDistinct("pid").alias("n_pids"))
        .toPandas()
    )
    assert (spread.n_pids == 1).all()  # a shard never splits across partitions


def test_ws_tokens_matches_toks_spark_sql_twin(spark):
    from engage_spark.api import _ws_tokens
    from engage_spark.queries.llm_dedup import _TOKS_SPARK

    df = spark.createDataFrame(
        [(" Mixed  CASE text ",), ("one",), ("",)], ["text"]
    )
    out = df.select(
        _ws_tokens("text").alias("a"), F.expr(_TOKS_SPARK).alias("b")
    ).toPandas()
    assert all(list(r.a) == list(r.b) for r in out.itertuples())


def test_span_dedup_identity_when_all_spans_unique(spark):
    """Property: with no cross-doc repetition, every span survives and
    cleaned_text is the token-normalized original."""
    rows = [(i, f"w{i}a w{i}b w{i}c w{i}d w{i}e") for i in range(8)]
    df = spark.createDataFrame(rows, ["uid", "body"])
    out = api.span_dedup(df, span_tokens=3, id_col="uid", text_col="body").toPandas()
    assert (out.n_kept == out.n_spans).all()
    by = out.set_index("uid").cleaned_text.to_dict()
    for i in range(8):
        assert by[i] == f"w{i}a w{i}b w{i}c w{i}d w{i}e"


def test_semdedup_prune_custom_columns(spark):
    """api.semdedup_prune on an arbitrary frame: two planted identical
    vectors (cosine 1.0) must collapse to the smaller id within their
    cluster; orthogonal vectors survive. Custom id/embedding names."""
    import math

    from engage_spark import api

    dim = 8
    def unit(axis):
        v = [0.0] * dim
        v[axis] = 1.0
        return v
    rows = [
        (0, unit(0)),
        (1, unit(0)),               # identical to 0 -> pruned
        (2, unit(1)),               # orthogonal -> kept
        (3, [x / math.sqrt(dim) for x in [1.0] * dim]),  # diffuse -> kept
    ]
    df = spark.createDataFrame(rows, ["item_id", "vec"])
    out = {
        r.item_id: (r.is_kept, r.cluster_id)
        for r in api.semdedup_prune(
            df, id_col="item_id", emb_col="vec", threshold=0.9
        ).collect()
    }
    assert set(out) == {0, 1, 2, 3}
    assert out[0][0] == 1            # keeper of the identical pair
    # 0 and 1 share a cluster (identical vectors -> same nearest seed);
    # 1 has the smaller-id partner 0 above threshold -> pruned
    assert out[1] == (0, out[0][1])
    assert out[2][0] == 1 and out[3][0] == 1


def test_compact_dataset_rightsizes_small_files(spark, tmp_path):
    from engage_spark.io import compact_dataset

    src, dst = str(tmp_path / "small"), str(tmp_path / "compact")
    df = spark.range(2000).selectExpr("id", "id % 7 as k", "uuid() as pad")
    df.repartition(40).write.parquet(src)  # 40 tiny files
    import glob

    n_small = len(glob.glob(f"{src}/*.parquet"))
    assert n_small >= 40
    total = sum(
        __import__("os").path.getsize(p) for p in glob.glob(f"{src}/*.parquet")
    )
    n = compact_dataset(spark, src, dst, target_file_bytes=total // 3)
    assert n <= 4
    out_files = glob.glob(f"{dst}/*.parquet")
    assert len(out_files) == n
    # content identical
    a = spark.read.parquet(src).orderBy("id").toPandas()
    b = spark.read.parquet(dst).orderBy("id").toPandas()
    assert (a.values == b.values).all()


def test_pq_search_on_generic_frame_and_other_dim(spark):
    """The PQ facade must follow the data's dimensionality (subspace
    width = dim / 8), not the testdata's 64 — and reject dims the
    subspaces can't split evenly."""
    import numpy as np
    import pytest as _pytest

    from engage_spark import api

    rng = np.random.RandomState(7)
    rows = [(i, rng.randn(16).tolist()) for i in range(200)]
    df = spark.createDataFrame(rows, "item long, vec array<double>")
    out = api.pq_topk_search(
        df, df.filter("item < 3"), k=4, rerank=20, id_col="item", emb_col="vec"
    ).toPandas()
    assert set(out.columns) == {"query_id", "neighbor_id", "rank", "cosine"}
    assert len(out) == 12 and out["rank"].max() == 4
    bad = spark.createDataFrame(
        [(i, rng.randn(10).tolist()) for i in range(64)],
        "item long, vec array<double>",
    )
    with _pytest.raises(ValueError, match="divisible"):
        api.pq_encode(bad, id_col="item", emb_col="vec")


def test_snapshot_diff_classifies_all_four_statuses(spark):
    from engage_spark import api

    old = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma delta"), (3, "epsilon zeta")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [
            (1, "Alpha   Beta"),      # normalized-equal -> unchanged
            (2, "gamma delta PLUS"),  # changed
            (4, "eta theta"),         # added
        ],                            # 3 missing -> removed
        "doc_id long, text string",
    )
    got = {r.doc_id: r.status for r in api.snapshot_diff(old, new).collect()}
    assert got == {1: "unchanged", 2: "changed", 3: "removed", 4: "added"}


def test_pack_boundaries_facade_matches_registered_query(spark, sf_dir):
    from engage_spark import api
    from engage_spark.registry import load_all

    reg = load_all()["x_pack_boundaries"].fn(spark, sf_dir).toPandas()
    fac = api.pack_boundaries(
        spark.read.parquet(f"{sf_dir}/documents.parquet"),
        strata_col="source", budget=512, n_shards=8,
    ).toPandas()
    key = ["source", "shard_id", "pack_id", "doc_id"]
    a = reg.sort_values(key).reset_index(drop=True)
    b = fac[reg.columns].sort_values(key).reset_index(drop=True)
    assert (a.values == b.values).all()


def test_compact_dataset_partitioned_writes_hive_dirs(spark, tmp_path):
    import glob

    from engage_spark.io import compact_dataset

    src, dst = str(tmp_path / "psmall"), str(tmp_path / "pcompact")
    df = spark.range(1000).selectExpr("id", "id % 3 as k")
    df.repartition(20).write.parquet(src)
    compact_dataset(spark, src, dst, target_file_bytes=1 << 30,
                    partition_by=["k"])
    parts = sorted(glob.glob(f"{dst}/k=*"))
    assert [p.split("/")[-1] for p in parts] == ["k=0", "k=1", "k=2"]
    a = spark.read.parquet(src).orderBy("id").toPandas()
    b = spark.read.parquet(dst).select("id", "k").orderBy("id").toPandas()
    assert (a.values == b[a.columns].values).all()


def test_compact_dataset_partitioned_rightsizes_per_partition(spark, tmp_path):
    """A skewed hive partition must be written as MULTIPLE files sized
    toward the target — not collapsed into one file per partition value
    (the pre-r8 behavior: repartition on the partition columns alone
    put every hive partition in exactly one task)."""
    import glob
    import os

    from engage_spark.io import compact_dataset

    src, dst = str(tmp_path / "skew"), str(tmp_path / "skewc")
    # k=0 holds ~90% of the rows; k=1..3 split the rest
    df = spark.range(10000).selectExpr(
        "id",
        "case when id % 10 = 0 then id % 3 + 1 else 0 end as k",
        "uuid() as pad",
    )
    df.repartition(20).write.parquet(src)
    total = sum(os.path.getsize(p) for p in glob.glob(f"{src}/*.parquet"))
    compact_dataset(
        spark, src, dst, target_file_bytes=total // 8, partition_by=["k"]
    )
    big = glob.glob(f"{dst}/k=0/*.parquet")
    small = [glob.glob(f"{dst}/k={i}/*.parquet") for i in (1, 2, 3)]
    assert len(big) >= 4, f"skewed partition wrote only {len(big)} file(s)"
    assert all(len(s) == 1 for s in small)
    a = spark.read.parquet(src).orderBy("id").toPandas()
    b = spark.read.parquet(dst).select("id", "k", "pad").orderBy("id").toPandas()
    assert (a.values == b[a.columns].values).all()


def test_compact_dataset_preserves_null_partition_rows(spark, tmp_path):
    """Rows whose partition column is NULL must survive compaction
    (written to __HIVE_DEFAULT_PARTITION__) — an inner equi-join on the
    partition key would silently drop them."""
    import glob

    from engage_spark.io import compact_dataset

    src, dst = str(tmp_path / "nulls"), str(tmp_path / "nullsc")
    df = spark.range(300).selectExpr(
        "id", "case when id % 5 = 0 then null else id % 3 end as k"
    )
    df.repartition(10).write.parquet(src)
    compact_dataset(spark, src, dst, target_file_bytes=1 << 30,
                    partition_by=["k"])
    assert glob.glob(f"{dst}/k=__HIVE_DEFAULT_PARTITION__/*.parquet")
    a = spark.read.parquet(src).orderBy("id").toPandas()
    b = spark.read.parquet(dst).select("id", "k").orderBy("id").toPandas()
    assert len(b) == 300
    assert a["id"].tolist() == b["id"].tolist()
    assert a["k"].fillna(-1).tolist() == b["k"].fillna(-1).tolist()


def test_compact_dataset_handles_unhashable_map_columns(spark, tmp_path):
    """xxhash64 rejects MapType; the salt must skip unhashable columns
    instead of raising AnalysisException."""
    from engage_spark.io import compact_dataset

    src, dst = str(tmp_path / "maps"), str(tmp_path / "mapsc")
    df = spark.range(200).selectExpr(
        "id", "id % 2 as k", "map('a', id) as attrs"
    )
    df.repartition(8).write.parquet(src)
    compact_dataset(spark, src, dst, target_file_bytes=1 << 30,
                    partition_by=["k"])
    b = spark.read.parquet(dst).orderBy("id").toPandas()
    assert len(b) == 200
    assert [m["a"] for m in b["attrs"]] == b["id"].tolist()


def test_semantic_example_composes_end_to_end(spark):
    """The embedding-side examples/ script composes over real testdata,
    including the round-9 IVF-PQ stage."""
    from examples.semantic_dedup_and_search import run

    out = run(spark, "/root/testdata/sf0.001")
    assert out["semdedup"].count() > 0
    for key in ("topk_neighbors", "pq_neighbors", "ivfpq_neighbors"):
        pdf = out[key].toPandas()
        assert len(pdf) > 0 and pdf["rank"].max() <= 5, key


def test_ivfpq_index_lifecycle_build_search_append(spark, sf_dir, tmp_path):
    """The persisted-index path must (a) reproduce the one-shot search
    EXACTLY on the same corpus — the index only amortizes the quantizer
    build — and (b) accept appends encoded with frozen quantizers that
    then surface in search results."""
    from engage_spark import api

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = e.filter("vec_id < 5")
    idx = str(tmp_path / "ivfpq_index")

    stats = api.ivfpq_build(e, idx)
    assert stats["nlist"] >= 4 and stats["nprobe"] >= 4

    one_shot = api.ivfpq_topk_search(e, queries, k=5, rerank=50).toPandas()
    from_index = api.ivfpq_search(idx, queries, e, k=5, rerank=50).toPandas()
    key = ["query_id", "rank"]
    a = one_shot.sort_values(key).reset_index(drop=True)
    b = from_index.sort_values(key).reset_index(drop=True)
    assert (a.values == b[a.columns].values).all(), "index search diverged"

    # append: clones of the query vectors under fresh ids must become
    # their own top neighbors (cosine 1.0) after the append
    clones = queries.selectExpr("vec_id + 1000000 as vec_id", "embedding")
    appended = api.ivfpq_append(idx, clones)
    assert appended == clones.count()
    full_corpus = e.select("vec_id", "embedding").unionByName(clones)
    after = api.ivfpq_search(idx, queries, full_corpus, k=5, rerank=50).toPandas()
    top1 = after[after["rank"] == 1].set_index("query_id")
    for qid in [r.vec_id for r in queries.select("vec_id").collect()]:
        assert top1.loc[qid, "neighbor_id"] == qid + 1000000, (
            f"appended clone of query {qid} not found as top neighbor"
        )
        assert top1.loc[qid, "cosine"] == 1.0


def test_ivfpq_delete_revive_vacuum(spark, sf_dir, tmp_path):
    """IVF-PQ takedown (r9 VERDICT item 5): a deleted vector stops
    appearing in search results immediately, re-appending revives it,
    and vacuum removes its code rows physically without touching the
    quantizers."""
    from engage_spark import api

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = e.filter("vec_id < 3")
    idx = str(tmp_path / "ivfpq_del")
    api.ivfpq_build(e, idx)

    # with exclude_self the query's own id never appears; plant clones
    # so each query has a known perfect neighbor to take down
    clones = queries.selectExpr("vec_id + 1000000 as vec_id", "embedding")
    api.ivfpq_append(idx, clones)
    corpus = e.select("vec_id", "embedding").unionByName(clones)

    def top1(qid):
        pdf = api.ivfpq_search(idx, queries, corpus, k=3, rerank=30).toPandas()
        return pdf[(pdf["query_id"] == qid) & (pdf["rank"] == 1)][
            "neighbor_id"
        ].iloc[0]

    assert top1(0) == 1000000
    api.ivfpq_delete(idx, [1000000], spark=spark)
    assert top1(0) != 1000000, "deleted vector still retrievable"

    # re-append the clone: tombstone dropped, retrievable again
    api.ivfpq_append(idx, clones.filter("vec_id = 1000000"))
    assert top1(0) == 1000000

    api.ivfpq_delete(idx, [1000000], spark=spark)
    assert api.ivfpq_vacuum(spark, idx)["tombstones"] == 1
    codes = spark.read.parquet(f"{idx}/codes")
    assert codes.filter("vec_id = 1000000").count() == 0
    assert top1(0) != 1000000
    # quantizers untouched by vacuum
    assert spark.read.parquet(f"{idx}/centroids").count() > 0


def test_ivfpq_search_rejects_dim_mismatch(spark, tmp_path):
    """Searching an index with queries of a different dimensionality
    must raise a clear ValueError, not a shape error deep in a kernel."""
    import numpy as np
    import pytest as _pytest

    from engage_spark import api

    rng = np.random.RandomState(13)
    corpus = spark.createDataFrame(
        [(i, rng.randn(16).tolist()) for i in range(120)],
        "vec_id long, embedding array<double>",
    )
    idx = str(tmp_path / "dim_idx")
    api.ivfpq_build(corpus, idx)
    bad = spark.createDataFrame(
        [(0, rng.randn(32).tolist())], "vec_id long, embedding array<double>"
    )
    with _pytest.raises(ValueError, match="dimensionality"):
        api.ivfpq_search(idx, bad, corpus)


def test_upsert_dataset_merge_semantics_partitioned(spark, tmp_path):
    """MERGE on a partitioned target: matched keys replaced (including
    a partition-moving update), new keys inserted, flagged keys
    deleted — and the untouched partition's files are NOT rewritten."""
    import glob

    from engage_spark.io import upsert_dataset

    tgt = str(tmp_path / "docs")
    base = spark.createDataFrame(
        [(i, "en" if i % 3 == 0 else ("de" if i % 3 == 1 else "fr"), i * 10)
         for i in range(30)],
        "doc_id long, lang string, n_chars long",
    )
    base.write.partitionBy("lang").parquet(tgt)
    untouched_before = sorted(glob.glob(f"{tgt}/lang=fr/*.parquet"))

    updates = spark.createDataFrame(
        [
            (0, "en", 999, False),    # in-place update (en stays en)
            (3, "de", 333, False),    # partition move en -> de
            (100, "en", 1, False),    # brand-new key
            (6, "en", 0, True),       # delete
        ],
        "doc_id long, lang string, n_chars long, is_delete boolean",
    )
    stats = upsert_dataset(
        spark, tgt, updates, ["doc_id"], partition_by=["lang"],
        delete_col="is_delete",
    )
    back = spark.read.parquet(tgt).orderBy("doc_id").toPandas()
    got = {r.doc_id: (r.lang, r.n_chars) for r in back.itertuples()}
    assert 6 not in got                      # deleted
    assert got[0] == ("en", 999)             # updated in place
    assert got[3] == ("de", 333)             # moved partition, old row gone
    assert got[100] == ("en", 1)             # inserted
    assert got[9] == ("en", 90)              # unmatched row untouched
    assert len(back) == 30 - 1 + 1           # one delete, one insert
    # fr partition was never touched by the batch -> identical files
    untouched_after = sorted(glob.glob(f"{tgt}/lang=fr/*.parquet"))
    assert untouched_before == untouched_after
    assert stats["touched_partitions"] == 2  # en, de
    assert stats["emptied_partitions"] == 0


def test_upsert_dataset_bootstrap_and_unpartitioned(spark, tmp_path):
    from engage_spark.io import upsert_dataset

    tgt = str(tmp_path / "flat")
    first = spark.createDataFrame(
        [(1, "a"), (2, "b")], "k long, v string"
    )
    stats = upsert_dataset(spark, tgt, first, ["k"])
    assert stats["bootstrap"] is True
    second = spark.createDataFrame(
        [(2, "B"), (3, "c")], "k long, v string"
    )
    upsert_dataset(spark, tgt, second, ["k"])
    back = spark.read.parquet(tgt).orderBy("k").toPandas()
    assert back["k"].tolist() == [1, 2, 3]
    assert back["v"].tolist() == ["a", "B", "c"]


def test_upsert_dataset_empties_partition_and_null_partition(spark, tmp_path):
    """Deleting every row of a hive partition must remove its directory
    (dynamic overwrite cannot express emptiness), and NULL partition
    values merge through __HIVE_DEFAULT_PARTITION__."""
    import glob

    from engage_spark.io import upsert_dataset

    tgt = str(tmp_path / "pn")
    base = spark.createDataFrame(
        [(1, "solo", 1), (2, None, 2), (3, "keep", 3)],
        "k long, part string, v long",
    )
    base.write.partitionBy("part").parquet(tgt)
    updates = spark.createDataFrame(
        [(1, "solo", 0, True),        # empties part=solo entirely
         (2, None, 22, False)],       # updates the NULL partition
        "k long, part string, v long, is_delete boolean",
    )
    stats = upsert_dataset(
        spark, tgt, updates, ["k"], partition_by=["part"],
        delete_col="is_delete",
    )
    assert stats["emptied_partitions"] == 1
    assert not glob.glob(f"{tgt}/part=solo")
    back = spark.read.parquet(tgt).orderBy("k").toPandas()
    assert back["k"].tolist() == [2, 3]
    assert back.loc[back["k"] == 2, "v"].iloc[0] == 22
    assert back.loc[back["k"] == 2, "part"].isna().all()


def test_upsert_dataset_replaces_escaped_partition_dirs(spark, tmp_path):
    """r15: the touched-partition commit renames staged partition dirs
    over their targets, deleting the old dir by the name
    `_hive_part_dir` computes — this pins that naming equality with
    Spark's writer END TO END for hive-escaped values (slash, percent,
    equals): a replaced partition must not leave its old file behind
    (old + new rows would double-count), and an untouched escaped
    partition must survive."""
    from engage_spark.io import upsert_dataset

    tgt = str(tmp_path / "esc")
    base = spark.createDataFrame(
        [(1, "a/b", 10), (2, "100%", 20), (3, "x=y", 30)],
        "k long, part string, v long",
    )
    base.write.partitionBy("part").parquet(tgt)
    updates = spark.createDataFrame(
        [(1, "a/b", 11, False),      # replaces the slash partition
         (2, "100%", 0, True)],      # empties the percent partition
        "k long, part string, v long, is_delete boolean",
    )
    stats = upsert_dataset(
        spark, tgt, updates, ["k"], partition_by=["part"],
        delete_col="is_delete",
    )
    assert stats["emptied_partitions"] == 1
    back = spark.read.parquet(tgt).orderBy("k").toPandas()
    assert back["k"].tolist() == [1, 3]          # no duplicate k=1
    assert back["v"].tolist() == [11, 30]
    assert sorted(back["part"].tolist()) == ["a/b", "x=y"]


def test_upsert_dataset_nonstring_partition_dir_names(spark, tmp_path):
    """ADVICE r15 (high): the rename commit deletes the old partition
    dir by the name `_hive_part_dir` computes. Python str() diverges
    from Spark's writer for non-string partition values — bool True vs
    true, float 1e-07 vs 1.0E-7, timestamp fraction trimming — so the
    old dir survived, the staged dir renamed in BESIDE it, and every
    updated row silently duplicated. Pins the Cast-to-string fix for
    all three types end to end."""
    import datetime

    from engage_spark.io import upsert_dataset

    # expected read-back pval follows partition-dir TYPE INFERENCE:
    # boolean dirs come back as the string Spark wrote ("true")
    cases = [
        ("flag boolean", [(1, True, 10), (2, False, 20)],
         [(1, True, 11, False)], "true"),
        ("eps double", [(1, 1e-07, 10), (2, 0.5, 20)],
         [(1, 1e-07, 11, False)], 1e-07),
        ("ts timestamp",
         [(1, datetime.datetime(2030, 1, 1, 0, 0, 0, 500000), 10),
          (2, datetime.datetime(2030, 6, 1), 20)],
         [(1, datetime.datetime(2030, 1, 1, 0, 0, 0, 500000), 11, False)],
         datetime.datetime(2030, 1, 1, 0, 0, 0, 500000)),
    ]
    for i, (pcol, base_rows, upd_rows, pval) in enumerate(cases):
        pname = pcol.split()[0]
        tgt = str(tmp_path / f"np{i}")
        spark.createDataFrame(
            base_rows, f"k long, {pcol}, v long"
        ).write.partitionBy(pname).parquet(tgt)
        upsert_dataset(
            spark, tgt,
            spark.createDataFrame(
                upd_rows, f"k long, {pcol}, v long, is_delete boolean"
            ),
            ["k"], partition_by=[pname], delete_col="is_delete",
        )
        back = spark.read.parquet(tgt).orderBy("k").collect()
        assert [r.k for r in back] == [1, 2], f"{pname}: duplicated rows"
        assert back[0].v == 11, f"{pname}: stale value survived"
        assert back[0][pname] == pval


def test_upsert_dataset_rejects_duplicate_update_keys(spark, tmp_path):
    import pytest as _pytest

    from engage_spark.io import upsert_dataset

    tgt = str(tmp_path / "dup")
    spark.createDataFrame([(1, "a")], "k long, v string").write.parquet(tgt)
    dup = spark.createDataFrame(
        [(1, "x"), (1, "y")], "k long, v string"
    )
    with _pytest.raises(ValueError, match="one row per key"):
        upsert_dataset(spark, tgt, dup, ["k"])


def test_upsert_preserves_staging_on_target_write_failure(
    spark, tmp_path, monkeypatch
):
    """r9 ADVICE medium: the destructive swap deletes the target first
    — if it fails partway, the staging merge must SURVIVE (and the
    error must name it) instead of being deleted in a finally, or the
    dataset is unrecoverable. (r15: the commit is a directory rename
    — `_swap_dirs` — rather than a second Spark write, so the failure
    injects at that seam.)"""
    import pytest as _pytest

    import engage_spark.io as eio
    from engage_spark.io import upsert_dataset

    tgt = str(tmp_path / "tgt")
    spark.createDataFrame(
        [(1, "a"), (2, "b")], "k long, v string"
    ).write.parquet(tgt)
    updates = spark.createDataFrame([(2, "B"), (3, "c")], "k long, v string")

    def boom(spark_, staging_, target_):
        raise RuntimeError("injected swap failure")

    monkeypatch.setattr(eio, "_swap_dirs", boom)
    with _pytest.raises(RuntimeError, match="preserved at"):
        upsert_dataset(spark, tgt, updates, ["k"])
    monkeypatch.undo()
    staging = f"{tgt}__upsert_staging"
    back = sorted(
        (r["k"], r["v"]) for r in spark.read.parquet(staging).collect()
    )
    assert back == [(1, "a"), (2, "B"), (3, "c")]


def test_zorder_values_toy_interleave(spark):
    """2-bit toy grid: the Morton code of (x, y) on 0..3 is the known
    interleave (x bits even positions, y bits odd)."""
    from engage_spark.io import zorder_values

    rows = [(x, y) for x in range(4) for y in range(4)]
    df = spark.createDataFrame(rows, "x int, y int")
    out, stats = zorder_values(df, ["x", "y"], bits=2)
    assert stats == {"x": (0, 3), "y": (0, 3)}
    got = {(r["x"], r["y"]): r["__z"] for r in out.collect()}
    for x in range(4):
        for y in range(4):
            expect = (
                ((x >> 0) & 1) << 0 | ((y >> 0) & 1) << 1
                | ((x >> 1) & 1) << 2 | ((y >> 1) & 1) << 3
            )
            assert got[(x, y)] == expect, (x, y)


def test_zorder_write_disjoint_ranges_and_skipping(spark, tmp_path):
    """Z-ordered files carry disjoint Z-ranges, and parquet footer
    stats prune a 2-D rectangle predicate on BOTH columns far better
    than a single-column linear sort."""
    import glob

    import pyarrow.parquet as pq

    from engage_spark.io import zorder_values, zorder_write

    n = 20_000
    df = spark.range(n).selectExpr(
        "id",
        "cast(pmod(hash(id), 1024) as long) as a",
        "cast(pmod(hash(id * 7 + 3), 1024) as long) as b",
    )
    zpath, lpath = str(tmp_path / "zord"), str(tmp_path / "lin")
    zorder_write(spark, df, zpath, ["a", "b"], bits=10, num_files=16)
    (
        df.repartitionByRange(16, "a")
        .sortWithinPartitions("a")
        .write.parquet(lpath)
    )

    back = spark.read.parquet(zpath)
    assert back.count() == n
    # per-file Z-ranges from recomputed Z-values must not interleave
    zb, _ = zorder_values(
        back.withColumn("__file", F.input_file_name()), ["a", "b"], bits=10
    )
    ranges = sorted(
        (r["lo"], r["hi"])
        for r in zb.groupBy("__file")
        .agg(F.min("__z").alias("lo"), F.max("__z").alias("hi"))
        .collect()
    )
    for (lo1, hi1), (lo2, _hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, "file Z-ranges overlap"

    def surviving_files(path, alo, ahi, blo, bhi):
        keep = 0
        for fp in glob.glob(f"{path}/*.parquet"):
            md = pq.ParquetFile(fp).metadata
            names = {c: i for i, c in enumerate(md.schema.names)}
            overlaps = True
            for col, qlo, qhi in (("a", alo, ahi), ("b", blo, bhi)):
                smin = min(
                    md.row_group(g).column(names[col]).statistics.min
                    for g in range(md.num_row_groups)
                )
                smax = max(
                    md.row_group(g).column(names[col]).statistics.max
                    for g in range(md.num_row_groups)
                )
                if smax < qlo or smin > qhi:
                    overlaps = False
            keep += overlaps
        return keep

    # a strip on the SECONDARY column only (b in [0,128), a free): the
    # a-sorted linear layout cannot prune it at all; the Z layout's
    # per-file rectangles keep only the strip's share of files
    z_keep = surviving_files(zpath, 0, 1023, 0, 127)
    lin_keep = surviving_files(lpath, 0, 1023, 0, 127)
    assert lin_keep == 16
    assert z_keep < lin_keep, (z_keep, lin_keep)
    assert z_keep <= 8


def test_zorder_rank_scaling_is_tiesmin_rank(spark):
    """Rank scaling must equal SQL rank()-1 (ties=min) scaled by n-1 —
    the contract that makes the mode oracle-able."""
    from engage_spark.io import zorder_values

    df = spark.createDataFrame([(10,), (10,), (20,), (30,)], "x int")
    out, _ = zorder_values(df, ["x"], bits=2, scale="rank")
    got = sorted((r["x"], r["__z"]) for r in out.collect())
    # n=4, denom=3; rank-1 = [0,0,2,3]; scaled = ((r-1)*3) div 3
    assert got == [(10, 0), (10, 0), (20, 2), (30, 3)]


def test_zorder_rank_preserves_null_rows(spark):
    """r9 ADVICE high: the rank CDF join must be null-safe — a frame
    with a NULL in a z-order column keeps ALL its rows (NULL group
    ranks first), instead of zorder_write silently dropping them."""
    from engage_spark.io import zorder_values

    df = spark.createDataFrame([(None,), (10,), (20,)], "x int")
    out, _ = zorder_values(df, ["x"], bits=2, scale="rank")
    rows = sorted(
        ((r["x"], r["__z"]) for r in out.collect()),
        key=lambda t: (t[0] is not None, t[0] or 0),
    )
    # NULLS FIRST: rank-1 = [0,1,2]; denom=2; scaled = (r*3) div 2
    assert rows == [(None, 0), (10, 1), (20, 3)]
    # minmax mode keeps them too (NULL scales to NULL __z)
    out_mm, _ = zorder_values(df, ["x"], bits=2, scale="minmax")
    assert out_mm.count() == 3


def test_zorder_rank_matches_sql_rank_at_scale(spark, monkeypatch):
    """BOTH CDF paths — the bounded per-column window (small
    cardinality) and the fully distributed range-partition machinery —
    must equal the single-expression SQL rank, ties included."""
    from pyspark.sql import Window, functions as F

    import engage_spark.io as eio
    from engage_spark.io import zorder_values

    df = spark.range(0, 5000).select(
        ((F.col("id") * 2654435761) % 997).cast("int").alias("x")
    )
    expect = df.withColumn(
        "__e",
        (
            (F.rank().over(Window.orderBy(F.col("x").asc_nulls_first())) - 1)
            * 255
        ).cast("long"),
    ).withColumn("__e", F.expr("__e div 4999"))
    want = sorted((r["x"], r["__e"]) for r in expect.collect())
    for threshold in (eio._RANK_SMALL_CDF, 0):  # small path, then large
        monkeypatch.setattr(eio, "_RANK_SMALL_CDF", threshold)
        out, _ = zorder_values(df, ["x"], bits=8, scale="rank")
        got = sorted((r["x"], r["__z"]) for r in out.collect())
        assert got == want, f"threshold={threshold}"


def test_zorder_rank_plan_has_no_single_partition_window(spark, monkeypatch):
    """r9 VERDICT weak: the rank CDF must never plan an unpartitioned
    window (one-task global sort) on EITHER path — the small path
    partitions by column index (bounded by _RANK_SMALL_CDF values per
    task), the large path by (column, range partition)."""
    from pyspark.sql import functions as F

    import engage_spark.io as eio
    from engage_spark.io import zorder_values

    df = spark.range(0, 2000).select(F.col("id").cast("int").alias("x"))
    for threshold in (eio._RANK_SMALL_CDF, 0):
        monkeypatch.setattr(eio, "_RANK_SMALL_CDF", threshold)
        out, _ = zorder_values(df, ["x"], bits=8, scale="rank")
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Window" in plan, threshold
        assert "SinglePartition" not in plan, threshold


def test_zorder_meta_roundtrip_and_append_frozen_curve(spark, tmp_path):
    """zorder_write persists its scaling stats under _zorder_meta
    (invisible to parquet readers); zorder_append scales increments
    with the STORED bounds — for rank mode, values present at build
    time land on their exact build-time slot via the frozen boundary
    table."""
    from pyspark.sql import functions as F

    from engage_spark.io import (
        _zorder_scale_frozen,
        zorder_append,
        zorder_meta,
        zorder_values,
        zorder_write,
    )

    df = spark.range(0, 4000).select(
        ((F.col("id") * 37) % 613).cast("int").alias("a"),
        ((F.col("id") * 91) % 407).cast("int").alias("b"),
    )
    for scale in ("minmax", "rank"):
        p = str(tmp_path / f"z_{scale}")
        stats = zorder_write(spark, df, p, ["a", "b"], bits=8, num_files=4,
                             scale=scale)
        m = zorder_meta(spark, p)
        assert m["cols"] == ["a", "b"] and m["bits"] == 8
        assert m["scale"] == scale
        assert m["lo"]["a"] == stats["a"][0] and m["hi"]["b"] == stats["b"][1]
        # the meta dir must be invisible to a plain read
        assert spark.read.parquet(p).columns == ["a", "b"]

        # frozen scaling of the BUILD data reproduces the build curve
        frozen = _zorder_scale_frozen(spark, df, p, m)
        rebuilt, _ = zorder_values(df, ["a", "b"], bits=8, scale=scale)
        got = frozen.groupBy().agg(
            F.sum("__z").alias("s"), F.count(F.lit(1)).alias("n")
        ).collect()[0]
        want = rebuilt.groupBy().agg(
            F.sum("__z").alias("s"), F.count(F.lit(1)).alias("n")
        ).collect()[0]
        assert (got["s"], got["n"]) == (want["s"], want["n"]), scale

        # append roundtrip: all rows present afterwards
        inc = df.filter("a % 2 = 0")
        res = zorder_append(spark, inc, p, num_files=2)
        assert res["files"] == 2 and res["scale"] == scale
        assert spark.read.parquet(p).count() == 4000 + inc.count()


def test_zorder_append_preserves_skipping(spark, tmp_path):
    """Appended files share the frozen curve, so footer-stats pruning
    on a 2-D rectangle stays within noise of a single full rewrite of
    the same total data (r9 VERDICT item 6's done-condition)."""
    import glob

    import pyarrow.parquet as pq

    from engage_spark.io import zorder_append, zorder_write

    n = 20_000
    full = spark.range(n).selectExpr(
        "cast(pmod(hash(id), 1024) as long) as a",
        "cast(pmod(hash(id * 7 + 3), 1024) as long) as b",
    )
    first, second = full.filter("a % 2 = 0"), full.filter("a % 2 = 1")

    def kept_fraction(path):
        keep = total = 0
        for fp in sorted(glob.glob(f"{path}/*.parquet")):
            md = pq.ParquetFile(fp).metadata
            overlaps = False
            for rg in range(md.num_row_groups):
                row = md.row_group(rg)
                st = {
                    row.column(i).path_in_schema: row.column(i).statistics
                    for i in range(row.num_columns)
                }
                if (
                    st["a"].min <= 400
                    and st["a"].max >= 200
                    and st["b"].min <= 700
                    and st["b"].max >= 500
                ):
                    overlaps = True
            total += 1
            keep += int(overlaps)
        return keep / total

    rewrite, appended = str(tmp_path / "rw"), str(tmp_path / "ap")
    zorder_write(spark, full, rewrite, ["a", "b"], bits=10, num_files=16)
    # each half gets the REWRITE's file count so its rectangles match
    # the rewrite's granularity — the r11 8-file halves were ~2x
    # coarser, which left the comparison at the mercy of
    # repartitionByRange's session-history-seeded sample boundaries
    # (observed f_ap - f_rw up to 0.31 across session histories)
    zorder_write(spark, first, appended, ["a", "b"], bits=10, num_files=16)
    zorder_append(spark, second, appended, num_files=16)
    assert spark.read.parquet(appended).count() == n
    f_rw, f_ap = kept_fraction(rewrite), kept_fraction(appended)
    assert f_rw < 0.7, f"z-order layout itself is not pruning ({f_rw})"
    # The invariant under test is that appended files still PRUNE on
    # the frozen curve, not that they match the rewrite exactly;
    # zorder_layout_stats is the precise degradation metric and
    # optimize_incremental the repair.
    assert f_ap < 0.75, f"appended files stopped pruning ({f_ap:.2f})"
    assert f_ap <= f_rw + 0.25, (
        f"append layout lost the skip rate: rewrite keeps {f_rw:.2f}, "
        f"append keeps {f_ap:.2f}"
    )


def test_zorder_append_without_meta_raises_clearly(spark, tmp_path):
    """Appending to a dataset that was never zorder_write-ten must
    raise a ValueError naming the fix, not a raw path error."""
    import pytest as _pytest

    from engage_spark.io import zorder_append

    p = str(tmp_path / "plain")
    spark.range(100).selectExpr("id as a", "id as b").write.parquet(p)
    with _pytest.raises(ValueError, match="_zorder_meta"):
        zorder_append(spark, spark.range(5).selectExpr("id as a", "id as b"), p)


def test_zorder_layout_stats_tracks_append_degradation(spark, tmp_path):
    """The OPTIMIZE trigger metric: a fresh Z-ordered write has ~zero
    inter-file overlap; appends raise overlap_fraction; re-optimizing
    drops it back to ~zero."""
    from pyspark.sql import functions as F

    from engage_spark.io import (
        optimize_dataset,
        zorder_append,
        zorder_layout_stats,
        zorder_write,
    )

    full = spark.range(20_000).selectExpr(
        "cast(pmod(hash(id), 512) as long) as a",
        "cast(pmod(hash(id * 7 + 3), 512) as long) as b",
    )
    p = str(tmp_path / "z")
    zorder_write(
        spark, full.filter("a % 3 = 0"), p, ["a", "b"], bits=9, num_files=8
    )
    fresh = zorder_layout_stats(spark, p)
    assert fresh["files"] == 8 and fresh["overlap_fraction"] < 0.05

    zorder_append(spark, full.filter("a % 3 = 1"), p, num_files=8)
    zorder_append(spark, full.filter("a % 3 = 2"), p, num_files=8)
    degraded = zorder_layout_stats(spark, p)
    assert degraded["files"] == 24
    assert degraded["overlap_fraction"] > fresh["overlap_fraction"] + 0.1
    assert degraded["avg_covering"] > 1.5  # a point now hits ~3 layers

    p2 = str(tmp_path / "z_opt")
    optimize_dataset(spark, p, p2, ["a", "b"], bits=9)
    again = zorder_layout_stats(spark, p2)
    assert again["overlap_fraction"] < 0.05
    assert spark.read.parquet(p2).count() == 20_000


def test_zorder_minmax_overflow_guard(spark):
    """r9 ADVICE low: a span wide enough that (x-lo)*(2^bits-1)
    overflows long must raise, not corrupt the curve."""
    import pytest as _pytest

    from engage_spark.io import zorder_values

    df = spark.createDataFrame(
        [(-(2**62),), (2**62,)], "x long"
    )
    with _pytest.raises(ValueError, match="overflow"):
        zorder_values(df, ["x"], bits=16, scale="minmax")


def test_validate_expectations_empty_input_passes(spark):
    """r9 ADVICE low: an empty batch must report 0 violations and
    passed=true for every rule (F.sum over zero rows is NULL without
    the coalesce) — a gate checking `passed` needs a real boolean."""
    from engage_spark.api import validate_expectations

    df = spark.createDataFrame([], "x long, s string")
    res = validate_expectations(
        df,
        [
            {"rule": "not_null", "col": "x"},
            {"rule": "in_range", "col": "x", "lo": 0, "hi": 10},
            {"rule": "unique", "col": "s"},
            {"rule": "expr", "id": "xpos", "expr": "x >= 0"},
        ],
    ).collect()
    assert len(res) == 4
    for r in res:
        assert r["n_violations"] == 0, r
        assert r["passed"] is True, r


def test_validate_expectations_semantics(spark):
    from engage_spark import api

    df = spark.createDataFrame(
        [
            (1, "a", 5),
            (2, None, 50),
            (2, "b", -1),
            (3, "zz", None),
        ],
        "k long, s string, v long",
    )
    out = api.validate_expectations(
        df,
        [
            {"rule": "not_null", "col": "s"},
            {"rule": "unique", "col": "k"},
            {"rule": "in_range", "col": "v", "lo": 0, "hi": 10},
            {"rule": "in_set", "col": "s", "values": ["a", "b"]},
            {"rule": "regex", "col": "s", "pattern": "^[a-z]$"},
            {"rule": "expr", "id": "pos", "expr": "v >= 0"},
        ],
    ).toPandas().set_index("rule_id")
    assert out.loc["not_null:s", "n_violations"] == 1
    assert out.loc["unique:k", "n_violations"] == 1      # k=2 twice
    # v=50 and v=-1 out of range; NULL v not a violation
    assert out.loc["in_range:v", "n_violations"] == 2
    assert out.loc["in_set:s", "n_violations"] == 1      # 'zz'
    assert out.loc["regex:s", "n_violations"] == 1       # 'zz'
    # expr NULL (v is NULL) passes; v=-1 fails
    assert out.loc["pos", "n_violations"] == 1
    assert bool(out.loc["unique:k", "passed"]) is False
    assert (out["n_violations"] == 0).equals(out["passed"])


def test_validate_expectations_single_scan_plan(spark, sf_dir):
    """All row-predicate rules must fold into ONE aggregation over one
    scan — no join, no union of per-rule subqueries."""
    from engage_spark import api
    from engage_spark.io import table

    d = table(spark, sf_dir, "documents")
    out = api.validate_expectations(
        d,
        [
            {"rule": "not_null", "col": "text"},
            {"rule": "in_range", "col": "n_chars", "lo": 1, "hi": 400},
            {"rule": "regex", "col": "source", "pattern": "^src[0-9]$"},
        ],
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan and "Union" not in plan


def test_validate_expectations_rejects_bad_rules(spark):
    import pytest as _pytest

    from engage_spark import api

    df = spark.range(3)
    with _pytest.raises(ValueError, match="unknown expectation"):
        api.validate_expectations(df, [{"rule": "nope", "col": "id"}])
    with _pytest.raises(ValueError, match="lo and/or hi"):
        api.validate_expectations(df, [{"rule": "in_range", "col": "id"}])
    with _pytest.raises(ValueError, match="at least one rule"):
        api.validate_expectations(df, [])


def test_optimize_dataset_sizes_and_clusters(spark, tmp_path):
    """One rewrite must both right-size the fragment debris toward the
    byte target AND leave each output file a clustered Z-range."""
    import glob
    import os

    from engage_spark.io import optimize_dataset, zorder_values

    src, dst = str(tmp_path / "debris"), str(tmp_path / "opt")
    df = spark.range(30_000).selectExpr(
        "id",
        "cast(pmod(hash(id), 512) as long) as a",
        "cast(pmod(hash(id * 11 + 5), 512) as long) as b",
    )
    df.repartition(40).write.parquet(src)  # 40 undersized files
    total = sum(os.path.getsize(p) for p in glob.glob(f"{src}/*.parquet"))
    assert total > 56
    # Ceiling divisor t = ceil(total/8): 8t >= total gives total/t <= 8,
    # and t < total/8 + 1 gives total/t > 8*total/(total+8) > 7 once
    # total > 56, so ceil(total/t) is exactly 8 whatever the byte total.
    # (A floor divisor gives 9 whenever total % 8 != 0.)
    n = optimize_dataset(
        spark, src, dst, ["a", "b"], target_file_bytes=-(-total // 8), bits=9
    )
    out_files = glob.glob(f"{dst}/*.parquet")
    assert n == 8
    assert len(out_files) <= 8
    back = spark.read.parquet(dst)
    assert back.count() == 30_000
    zb, _ = zorder_values(
        back.withColumn("__file", F.input_file_name()), ["a", "b"], bits=9
    )
    ranges = sorted(
        (r["lo"], r["hi"])
        for r in zb.groupBy("__file")
        .agg(F.min("__z").alias("lo"), F.max("__z").alias("hi"))
        .collect()
    )
    for (_lo1, hi1), (lo2, _hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, "optimized files' Z-ranges overlap"


def test_upsert_dataset_full_rewrite_fallback(spark, tmp_path):
    """A batch touching more partitions than max_touched_partitions
    must fall back to the whole-dataset merge and still produce exact
    MERGE semantics (emptied partitions vanish with no bookkeeping)."""
    from engage_spark.io import upsert_dataset

    tgt = str(tmp_path / "fb")
    base = spark.createDataFrame(
        [(i, str(i % 4), i) for i in range(40)], "k long, part string, v long"
    )
    base.write.partitionBy("part").parquet(tgt)
    updates = spark.createDataFrame(
        # touches parts 0,1,2 (> cap of 1); deletes ALL of part 3
        [(0, "0", 100, False), (1, "1", 101, False), (2, "2", 102, False)]
        + [(i, str(i % 4), 0, True) for i in range(40) if i % 4 == 3],
        "k long, part string, v long, is_delete boolean",
    )
    stats = upsert_dataset(
        spark, tgt, updates, ["k"], partition_by=["part"],
        delete_col="is_delete", max_touched_partitions=1,
    )
    assert stats["touched_partitions"] is None  # fallback path taken
    back = spark.read.parquet(tgt).toPandas()
    # (partition-dir type inference may read "0" back as int 0)
    assert set(back["part"].astype(str)) == {"0", "1", "2"}  # part=3 gone
    got = dict(zip(back["k"], back["v"]))
    assert got[0] == 100 and got[1] == 101 and got[2] == 102
    assert len(back) == 30


def test_upsert_dataset_property_vs_pandas_model(spark, tmp_path):
    """Randomized merge batches against a pandas MERGE model — the
    semantics contract under arbitrary overlap of updates, inserts,
    deletes, and partition moves."""
    import numpy as np
    import pandas as pd

    from engage_spark.io import upsert_dataset

    rng = np.random.RandomState(42)
    for trial in range(3):
        tgt = str(tmp_path / f"prop{trial}")
        n = 120
        base = pd.DataFrame(
            {
                "k": np.arange(n),
                "part": (rng.randint(0, 5, n)).astype(str),
                "v": rng.randint(0, 1000, n),
            }
        )
        spark.createDataFrame(base).write.partitionBy("part").parquet(tgt)
        # batch: 20 random keys (some existing, some new), unique
        keys = rng.choice(np.arange(n + 40), size=20, replace=False)
        upd = pd.DataFrame(
            {
                "k": keys,
                "part": (rng.randint(0, 6, 20)).astype(str),  # may move
                "v": rng.randint(1000, 2000, 20),
                "is_delete": rng.rand(20) < 0.3,
            }
        )
        upsert_dataset(
            spark,
            tgt,
            spark.createDataFrame(upd),
            ["k"],
            partition_by=["part"],
            delete_col="is_delete",
        )
        got = (
            spark.read.parquet(tgt)
            .toPandas()
            .astype({"k": "int64", "v": "int64", "part": str})
            .sort_values("k")
            .reset_index(drop=True)[["k", "part", "v"]]
        )
        # pandas model: drop matched keys, append non-delete batch rows
        model = base[~base["k"].isin(upd["k"])]
        model = pd.concat(
            [model, upd.loc[~upd["is_delete"], ["k", "part", "v"]]]
        )
        model = (
            model.astype({"k": "int64", "v": "int64"})
            .sort_values("k")
            .reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(got, model, check_like=True)


def test_zorder_three_columns(spark):
    """The interleave generalizes beyond 2 columns: 3-column toy grid
    matches the manual Morton code."""
    from engage_spark.io import zorder_values

    rows = [(x, y, z) for x in range(4) for y in range(4) for z in range(4)]
    df = spark.createDataFrame(rows, "x int, y int, z int")
    out, _ = zorder_values(df, ["x", "y", "z"], bits=2)
    got = {(r["x"], r["y"], r["z"]): r["__z"] for r in out.collect()}
    for x, y, z in rows:
        expect = 0
        for b in range(2):
            expect |= ((x >> b) & 1) << (3 * b + 0)
            expect |= ((y >> b) & 1) << (3 * b + 1)
            expect |= ((z >> b) & 1) << (3 * b + 2)
        assert got[(x, y, z)] == expect, (x, y, z)


def test_zorder_layout_stats_empty_dataset(spark, tmp_path):
    """ADVICE r10 (low): layout stats on an EMPTY Z-ordered dataset
    must return zeroed stats, not crash on max() of an empty list."""
    from engage_spark.io import zorder_layout_stats, zorder_write

    p = str(tmp_path / "z_empty")
    empty = spark.createDataFrame([], "a long, b long")
    zorder_write(spark, empty, p, ["a", "b"], scale="rank")
    stats = zorder_layout_stats(spark, p)
    assert stats == {
        "files": 0,
        "overlap_pairs": 0,
        "overlap_fraction": 0.0,
        "avg_covering": 0.0,
    }


def test_upsert_preserves_zorder_meta_sidecar(spark, tmp_path):
    """A full-rewrite upsert on a Z-ordered dataset must carry the
    _zorder_meta sidecar across the destructive overwrite (it is the
    frozen clustering definition — without it every later
    zorder_append fails), exactly as a table format preserves its log
    through a merge."""
    from pyspark.sql import functions as F

    from engage_spark.io import (
        upsert_dataset,
        zorder_append,
        zorder_meta,
        zorder_write,
    )

    p = str(tmp_path / "zp")
    df = spark.range(200).select(
        F.col("id").alias("k"),
        (F.col("id") % 37).alias("a"),
        (F.col("id") % 11).alias("b"),
    )
    zorder_write(spark, df, p, ["a", "b"], bits=8, num_files=2)
    before = zorder_meta(spark, p)
    upsert_dataset(
        spark,
        p,
        spark.range(5).select(
            F.col("id").alias("k"), F.lit(1).cast("long").alias("a"),
            F.lit(2).cast("long").alias("b"),
        ),
        ["k"],
    )
    assert zorder_meta(spark, p) == before, "upsert dropped _zorder_meta"
    # and the dataset is still appendable on the frozen curve
    inc = spark.range(1000, 1020).select(
        F.col("id").alias("k"), (F.col("id") % 37).alias("a"),
        (F.col("id") % 11).alias("b"),
    )
    zorder_append(spark, inc, p, num_files=1)
    # 200 originals (5 replaced in place by the upsert) + 20 appended
    assert spark.read.parquet(p).count() == 220


def test_ivfpq_recall_probe_monitors_index_quality(spark, sf_dir):
    """The index-quality monitor: recall@k of a persisted IVF-PQ index
    vs exact brute force on a deterministic sample — the drift signal
    that schedules quantizer rebuilds. On an in-distribution index the
    probe must report healthy recall; the report is bounded and
    carries both probes' latency."""
    from engage_spark import api

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    idx = "/tmp/ivfpq_probe_idx"
    import shutil

    shutil.rmtree(idx, ignore_errors=True)
    api.ivfpq_build(e, idx)
    rep = api.ivfpq_recall_probe(spark, idx, e, sample_queries=10, k=5)
    assert set(rep) == {"recall_at_k", "queries", "k", "ann_s", "exact_s"}
    assert rep["queries"] == 10 and rep["k"] == 5
    assert 0.4 <= rep["recall_at_k"] <= 1.0, rep
    assert rep["ann_s"] > 0 and rep["exact_s"] > 0


def test_ivfpq_autotune_nprobe_closes_the_probe_loop(spark, sf_dir):
    """The r12 probe->nprobe policy: when measured recall@k misses the
    target, nprobe doubles (bounded) and the winning value is
    PERSISTED into the index meta, so subsequent ivfpq_search calls
    probe wider without a rebuild; a rebuild is recommended only when
    the bound can't reach target. An unreachable target must sweep to
    the bound with a monotone trace; an easy target must keep the
    stored nprobe untouched."""
    import shutil

    from engage_spark import api

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    idx = "/tmp/ivfpq_tune_idx"
    shutil.rmtree(idx, ignore_errors=True)
    built = api.ivfpq_build(e, idx)
    nlist = built["nlist"]

    # trivially met target: no sweep, no meta rewrite
    out = api.ivfpq_autotune_nprobe(
        spark, idx, e, target_recall=0.0, sample_queries=5, k=5
    )
    assert out["met_target"] and not out["rebuild_recommended"]
    assert out["tuned_nprobe"] == out["initial_nprobe"] == built["nprobe"]
    assert len(out["trace"]) == 1

    # unreachable target: both knobs sweep to their bounds (nprobe
    # first, then the rerank shortlist), the tuned pair persists, and
    # a rebuild is recommended; recall must not DECREASE along the sweep
    out2 = api.ivfpq_autotune_nprobe(
        spark, idx, e, target_recall=1.01, sample_queries=5, k=5,
        max_nprobe=nlist, max_rerank=100,
    )
    assert out2["rebuild_recommended"] and not out2["met_target"]
    assert out2["tuned_nprobe"] == nlist
    assert out2["tuned_rerank"] == 100
    probes = [t["nprobe"] for t in out2["trace"]]
    assert probes == sorted(probes) and probes[-1] == nlist
    recalls = [t["recall_at_k"] for t in out2["trace"]]
    assert recalls[-1] >= recalls[0] - 1e-9, recalls
    # persisted: the meta now carries the tuned pair, and a plain
    # ivfpq_search picks both up by default
    meta = spark.read.parquet(f"{idx}/meta").collect()[0]
    assert int(meta.nprobe) == nlist and int(meta.rerank) == 100
    # at nprobe == nlist every list is probed -> IVF-PQ degenerates to
    # flat-PQ over the whole corpus, and the widened shortlist can only
    # help: the final sweep point must be the sweep maximum
    assert recalls[-1] == max(recalls)


def test_local_frame_matches_createdataframe_semantics(spark):
    """session.local_frame is the engine-wide constructor for bounded
    driver-side frames (zero Python at evaluation); its conversion
    must match createDataFrame(list) row-for-row across the tricky
    cases: NULLs in numeric columns, unicode, empty arrays, booleans,
    and the empty-rows frame."""
    from engage_spark.session import local_frame

    schema = "a long, b long, c string, d array<double>, e boolean"
    rows = [(1, None, "héllo ✓", [], True), (2, 5, None, [1.5], False)]
    got = sorted(local_frame(spark, rows, schema).collect())
    ref = sorted(spark.createDataFrame(rows, schema).collect())
    assert got == ref
    empty = local_frame(spark, [], schema)
    assert empty.count() == 0
    assert [f.name for f in empty.schema.fields] == ["a", "b", "c", "d", "e"]
    # the point of the helper: a JVM LocalRelation/scan, no Python eval
    plan = empty._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan


def _zspread(spark, n, lo_a, hi_a):
    from pyspark.sql import functions as F

    span = hi_a - lo_a
    return spark.range(n).select(
        F.col("id").alias("k"),
        (F.lit(lo_a) + (F.col("id") * span) / n).cast("long").alias("a"),
        (F.col("id") % 16).alias("b"),
    )


def test_optimize_incremental_rewrites_only_overlapping_files(spark, tmp_path):
    """Partial OPTIMIZE: appends confined to a narrow curve region must
    trigger a rewrite of ONLY the files they overlap — the disjoint
    remainder stays byte-identical on disk — with rows preserved and
    layout health improved; a second run is a no-op."""
    import os

    from engage_spark.io import (
        optimize_incremental,
        zorder_append,
        zorder_layout_stats,
        zorder_write,
    )

    p = str(tmp_path / "zinc")
    zorder_write(spark, _zspread(spark, 20000, 0, 100000), p, ["a", "b"],
                 bits=8, num_files=8)
    # two appends confined to the LOW end of the a-range
    zorder_append(spark, _zspread(spark, 500, 0, 2000), p, num_files=1)
    zorder_append(spark, _zspread(spark, 500, 0, 2000), p, num_files=1)
    before = zorder_layout_stats(spark, p)
    assert before["overlap_pairs"] > 0
    files_before = {
        f: os.path.getmtime(f.replace("file:", ""))
        for f in spark.read.parquet(p).inputFiles()
    }
    n_rows = spark.read.parquet(p).count()
    s_a = spark.read.parquet(p).groupBy().sum("a").collect()[0][0]

    out = optimize_incremental(spark, p, target_file_bytes=1 << 20)
    assert out["rewritten_files"] >= 2
    assert out["kept_files"] >= 1, "a narrow append must not force a full rewrite"
    # rows survive exactly
    assert spark.read.parquet(p).count() == n_rows
    assert spark.read.parquet(p).groupBy().sum("a").collect()[0][0] == s_a
    # kept files are untouched on disk
    files_after = set(spark.read.parquet(p).inputFiles())
    kept = files_before.keys() & files_after
    assert len(kept) == out["kept_files"]
    for f in kept:
        assert os.path.getmtime(f.replace("file:", "")) == files_before[f]
    after = zorder_layout_stats(spark, p)
    assert after["overlap_pairs"] < before["overlap_pairs"]
    # idempotent: nothing left to rewrite... (or at worst strictly less)
    again = optimize_incremental(spark, p, target_file_bytes=1 << 20)
    assert again["rewritten_files"] == 0 or (
        zorder_layout_stats(spark, p)["overlap_pairs"] <= after["overlap_pairs"]
    )


def test_optimize_incremental_crash_recovery(spark, tmp_path, monkeypatch):
    """Crash between the manifest write (commit point) and the commit:
    optimize_recover must replay the swap — no duplicate rows, no lost
    rows, sidecars cleared."""
    import engage_spark.io as io

    p = str(tmp_path / "zrec")
    io.zorder_write(spark, _zspread(spark, 5000, 0, 50000), p, ["a", "b"],
                    bits=8, num_files=4)
    io.zorder_append(spark, _zspread(spark, 300, 0, 1000), p, num_files=1)
    n_rows = spark.read.parquet(p).count()

    real_commit = io._optimize_commit

    def boom(spark_, path_, victims=None):
        raise RuntimeError("injected crash at commit")

    monkeypatch.setattr(io, "_optimize_commit", boom)
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="injected crash"):
        io.optimize_incremental(spark, p, target_file_bytes=1 << 20)
    monkeypatch.setattr(io, "_optimize_commit", real_commit)
    # manifest exists -> staging completed -> recovery replays commit
    rec = io.optimize_recover(spark, p)
    assert rec["recovered"] is True and rec["new_files"] >= 1
    assert spark.read.parquet(p).count() == n_rows
    import os

    assert not os.path.exists(f"{p}/_optimize_manifest")
    assert not os.path.exists(f"{p}/_optimize_staging")
    # a second recover is a clean no-op
    assert io.optimize_recover(spark, p) == {"recovered": False, "new_files": 0}


def test_delete_vectors_lifecycle(spark, tmp_path):
    """Deletion-vector flow on a Z-ordered dataset: delete_rows hides
    keys through read_with_deletes without touching a data file;
    apply_deletes rewrites physically, clears the sidecar, and
    PRESERVES _zorder_meta so the dataset stays appendable."""
    import os

    from pyspark.sql import functions as F

    from engage_spark.io import (
        apply_deletes,
        delete_rows,
        read_with_deletes,
        zorder_append,
        zorder_meta,
        zorder_write,
    )

    p = str(tmp_path / "dv")
    df = spark.range(1000).select(
        F.col("id").alias("k"), (F.col("id") % 37).alias("a"),
        (F.col("id") % 11).alias("b"),
    )
    zorder_write(spark, df, p, ["a", "b"], bits=8, num_files=2)
    files_before = {
        f: os.path.getmtime(f.replace("file:", ""))
        for f in spark.read.parquet(p).inputFiles()
    }
    assert delete_rows(spark, p, [5, 10, 15], "k") == 3
    got = read_with_deletes(spark, p)
    assert got.count() == 997
    assert got.filter(F.col("k").isin(5, 10, 15)).count() == 0
    # no data file was touched by the logical delete
    for f, mt in files_before.items():
        assert os.path.getmtime(f.replace("file:", "")) == mt
    # raw readers still see 1000 rows (documented: go through the reader)
    assert spark.read.parquet(p).count() == 1000

    meta = zorder_meta(spark, p)
    vac = apply_deletes(spark, p)
    assert vac["deleted_keys"] == 3 and vac["rewritten_files"] >= 1
    assert spark.read.parquet(p).count() == 997
    assert not os.path.exists(f"{p}/_deletes")
    assert zorder_meta(spark, p) == meta, "vacuum dropped _zorder_meta"
    # still appendable on the frozen curve; and a fresh reader with no
    # sidecar is a plain scan
    inc = spark.range(2000, 2010).select(
        F.col("id").alias("k"), (F.col("id") % 37).alias("a"),
        (F.col("id") % 11).alias("b"),
    )
    zorder_append(spark, inc, p, num_files=1)
    assert read_with_deletes(spark, p).count() == 1007
    # idempotent vacuum with no sidecar
    assert apply_deletes(spark, p)["deleted_keys"] == 0


def test_zorder_ranges_manifest_lifecycle(spark, tmp_path):
    """The per-file z-range manifest (the table-format-style file
    stats): filled by the first ranges read, kept EXACT through
    zorder_append and optimize_incremental via increment-sized scans,
    and dropped by full rewrites (apply_deletes) so it can never serve
    stale entries."""
    import os

    from pyspark.sql import functions as F

    import engage_spark.io as io

    p = str(tmp_path / "zman")
    df = spark.range(20000).select(
        F.col("id").alias("k"),
        (F.col("id") * 5).alias("a"),
        (F.col("id") % 16).alias("b"),
    )
    io.zorder_write(spark, df, p, ["a", "b"], bits=8, num_files=4)
    assert io._zranges_read(spark, p) is None
    # first read fills the manifest, and it matches a fresh exact scan
    fr = io._zorder_file_ranges(spark, p)
    assert sorted(io._zranges_read(spark, p)) == sorted(fr)
    assert sorted(fr) == sorted(io._zranges_scan(spark, p))

    # append maintains it incrementally — still exact afterward
    inc = spark.range(40000, 40500).select(
        F.col("id").alias("k"), (F.col("id") % 100).alias("a"),
        (F.col("id") % 16).alias("b"),
    )
    io.zorder_append(spark, inc, p, num_files=1)
    man = io._zranges_read(spark, p)
    assert sorted(man) == sorted(io._zranges_scan(spark, p))
    assert {f for f, _, _ in man} == set(spark.read.parquet(p).inputFiles())

    # incremental optimize refreshes it — still exact
    io.optimize_incremental(spark, p, target_file_bytes=1 << 20)
    man2 = io._zranges_read(spark, p)
    assert sorted(man2) == sorted(io._zranges_scan(spark, p))

    # a FILE-TARGETED vacuum (r12) keeps it exact too: victim entries
    # swapped for increment-scanned staged files, kept entries intact
    io.delete_rows(spark, p, [1, 2, 3], "k")
    io.apply_deletes(spark, p)
    man3 = io._zranges_read(spark, p)
    assert man3 is not None, "vacuum dropped the z-range manifest"
    assert sorted(man3) == sorted(io._zranges_scan(spark, p))
    assert {f for f, _, _ in man3} == set(spark.read.parquet(p).inputFiles())
    assert os.path.exists(f"{p}/_zorder_ranges")
    # and _zorder_meta survived the same rewrite
    assert io.zorder_meta(spark, p)["cols"] == ["a", "b"]


def test_plot_series_sink_renders_deterministic_svg(spark, tmp_path):
    """S6 plot sink: one SVG per group, valid XML, one polyline per
    series with legend entries, byte-identical across renders; the
    scale guard refuses un-aggregated input; the PNG path raises the
    documented NotImplementedError without matplotlib."""
    import xml.etree.ElementTree as ET

    import pytest as _pytest
    from pyspark.sql import functions as F

    from engage_spark.plotting import plot_series_sink

    df = spark.range(120).select(
        (F.col("id") % 3).alias("g"),
        (F.col("id") / 3).cast("long").alias("x"),
        (F.col("id") * 1.5).alias("v"),
        (F.col("id") * 0.5 + 2).alias("w"),
    )
    d1, d2 = str(tmp_path / "p1"), str(tmp_path / "p2")
    paths = plot_series_sink(
        df, d1, x_col="x", y_cols=["v", "w"], group_col="g", title="t"
    )
    assert len(paths) == 3
    for p in paths:
        root = ET.parse(p).getroot()
        assert root.tag.endswith("svg")
        polys = [e for e in root.iter() if e.tag.endswith("polyline")]
        assert len(polys) == 2  # one per series
        texts = [e.text for e in root.iter() if e.tag.endswith("text")]
        assert "v" in texts and "w" in texts  # legend
    paths2 = plot_series_sink(
        df, d2, x_col="x", y_cols=["v", "w"], group_col="g", title="t"
    )
    for a, b in zip(paths, paths2):
        assert open(a, "rb").read() == open(b, "rb").read(), (
            "plot bytes are not deterministic"
        )
    with _pytest.raises(ValueError, match="aggregate"):
        plot_series_sink(
            spark.range(50).select(
                F.col("id").alias("x"), F.col("id").alias("v")
            ),
            str(tmp_path / "p3"), x_col="x", y_cols=["v"], max_points=10,
        )
    try:
        import matplotlib  # noqa: F401
    except ImportError:
        with _pytest.raises(NotImplementedError, match="matplotlib"):
            plot_series_sink(
                df.filter("g = 0"), str(tmp_path / "p4"), x_col="x",
                y_cols=["v"], save_png=True,
            )


def test_apply_deletes_failure_keeps_logical_deletes_in_force(
    spark, tmp_path, monkeypatch
):
    """Crash INSIDE the vacuum's commit window (staging + manifest
    written, victims not yet swapped): the `_deletes` sidecar must
    SURVIVE so readers keep hiding the taken-down rows, and a retried
    vacuum must replay the staged commit at entry and finish cleanly —
    no duplicate rows, no resurrected rows."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    import engage_spark.io as io
    from engage_spark.io import apply_deletes, delete_rows, read_with_deletes

    tgt = str(tmp_path / "dvfail")
    spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    ).write.parquet(tgt)
    delete_rows(spark, tgt, [7, 9], "k")
    assert read_with_deletes(spark, tgt).count() == 98

    real_commit = io._optimize_commit

    def boom(spark_, path_, victims=None):
        raise RuntimeError("injected crash at vacuum commit")

    monkeypatch.setattr(io, "_optimize_commit", boom)
    with _pytest.raises(RuntimeError, match="injected crash"):
        apply_deletes(spark, tgt)
    monkeypatch.setattr(io, "_optimize_commit", real_commit)
    import os

    # the commit point (manifest) is on disk, the takedown is still in
    # force for readers, and no data file was swapped yet
    assert os.path.exists(f"{tgt}/_optimize_manifest")
    assert os.path.exists(f"{tgt}/_deletes")
    got = read_with_deletes(spark, tgt)
    assert got.count() == 98
    assert got.filter(F.col("k").isin(7, 9)).count() == 0
    # a retried vacuum replays the pending commit at entry, then finds
    # the keys already purged and just clears the sidecar
    out = apply_deletes(spark, tgt)
    assert out["deleted_keys"] == 2 and out["rewritten_files"] == 0
    assert spark.read.parquet(tgt).count() == 98
    assert spark.read.parquet(tgt).filter(F.col("k").isin(7, 9)).count() == 0
    assert not os.path.exists(f"{tgt}/_deletes")
    assert not os.path.exists(f"{tgt}/_optimize_manifest")
    assert not os.path.exists(f"{tgt}/_optimize_staging")


def test_apply_deletes_is_file_targeted(spark, tmp_path):
    """The r12 vacuum rewrites ONLY files containing a deleted key:
    a takedown batch confined to a narrow curve region leaves every
    clean file byte-identical on disk (mtime-pinned), keeps the
    z-range manifest exact, preserves _zorder_meta, and the dataset
    stays appendable on the frozen curve."""
    import os

    from pyspark.sql import functions as F

    import engage_spark.io as io

    p = str(tmp_path / "dv_targeted")
    io.zorder_write(spark, _zspread(spark, 40000, 0, 100000), p, ["a", "b"],
                    bits=8, num_files=8)
    io._zorder_file_ranges(spark, p)  # fill the manifest
    files_before = {
        f: os.path.getmtime(f.replace("file:", ""))
        for f in spark.read.parquet(p).inputFiles()
    }
    # the takedown batch: 200 keys all drawn from ONE physical file —
    # exactly that file must be the rewrite's only victim
    one_file = sorted(files_before)[0]
    doomed = [
        r.k
        for r in spark.read.parquet(p)
        .withColumn("__f", F.input_file_name())
        .filter(F.col("__f") == one_file)
        .select("k").limit(200).collect()
    ]
    assert len(doomed) == 200
    io.delete_rows(spark, p, doomed, "k")
    out = io.apply_deletes(spark, p)
    assert out["deleted_keys"] == 200
    assert out["rewritten_files"] == 1, (
        "a takedown confined to one file must rewrite exactly that file"
    )
    assert out["kept_files"] == 7
    files_after = set(spark.read.parquet(p).inputFiles())
    kept = files_before.keys() & files_after
    assert len(kept) == out["kept_files"]
    for f in kept:
        assert os.path.getmtime(f.replace("file:", "")) == files_before[f], (
            "a clean file was rewritten by the vacuum"
        )
    # rows: exactly the survivors, and the z-range manifest stayed exact
    assert spark.read.parquet(p).count() == 40000 - 200
    assert spark.read.parquet(p).filter(F.col("k").isin(doomed)).count() == 0
    man = io._zranges_read(spark, p)
    assert man is not None
    assert {f for f, _, _ in man} == files_after
    assert sorted(man) == sorted(io._zranges_scan(spark, p))
    # still appendable on the frozen curve
    io.zorder_append(spark, _zspread(spark, 100, 0, 1000), p, num_files=1)
    assert spark.read.parquet(p).count() == 40000 - 200 + 100


def test_zorder_partitioned_lifecycle(spark, tmp_path):
    """Hive-partitioned + Z-clustered layout (r13): the write puts
    z-disjoint files inside every partition dir (one global frozen
    curve), the append stays on the curve and inside the dirs, layout
    stats and incremental-optimize victim selection work PER PARTITION
    DIR (cross-partition z-overlap is legitimate and must not nominate
    victims), the partition-aware delete vacuum re-lays survivors on
    the curve, and clustering a partition column is refused."""
    import os

    from pyspark.sql import functions as F

    import engage_spark.io as io
    from engage_spark.session import local_frame

    p = str(tmp_path / "zpart")
    df = local_frame(
        spark,
        [(i, i % 3, (i * 37) % 1000, (i * 91) % 1000) for i in range(30000)],
        "k long, g long, a long, b long",
    )
    with pytest.raises(ValueError, match="partition columns"):
        io.zorder_write(
            spark, df, p, ["g", "a"], bits=8, partition_by=["g"]
        )
    io.zorder_write(
        spark, df, p, ["a", "b"], bits=8, num_files=9,
        partition_by=["g"],
    )
    files = spark.read.parquet(p).inputFiles()
    assert all("/g=" in f for f in files)
    assert io.zorder_meta(spark, p)["part_cols"] == ["g"]
    s0 = io.zorder_layout_stats(spark, p)
    # per-dir z-disjoint after a fresh write (cross-partition overlap
    # exists but must not count)
    assert s0["overlap_fraction"] == 0.0, s0
    io._zorder_file_ranges(spark, p)  # fill the manifest

    # NARROW-band increment (low corner of the curve): per dir it
    # overlaps only the low-z files, so the optimize keeps the rest
    inc = local_frame(
        spark,
        [(i, i % 3, (i * 37) % 50, (i * 91) % 50)
         for i in range(30000, 36000)],
        "k long, g long, a long, b long",
    )
    io.zorder_append(spark, inc, p, num_files=3)
    files2 = spark.read.parquet(p).inputFiles()
    assert all("/g=" in f for f in files2)
    s1 = io.zorder_layout_stats(spark, p)
    assert s1["overlap_fraction"] > 0.0  # append overlapped within dirs

    before = {
        f: os.path.getmtime(f.replace("file:", "")) for f in files2
    }
    out = io.optimize_incremental(spark, p, target_file_bytes=1 << 20)
    assert out["rewritten_files"] > 0
    assert out["kept_files"] > 0
    s2 = io.zorder_layout_stats(spark, p)
    assert s2["overlap_fraction"] < s1["overlap_fraction"]
    after_files = set(spark.read.parquet(p).inputFiles())
    assert all("/g=" in f for f in after_files)
    kept = before.keys() & after_files
    assert len(kept) == out["kept_files"]
    for f in kept:
        assert os.path.getmtime(f.replace("file:", "")) == before[f]
    back = spark.read.parquet(p)
    assert back.count() == 36000
    assert back.filter(F.col("g") != F.col("k") % 3).count() == 0

    # takedown + partition-aware vacuum keeps the clustered layout
    io.delete_rows(spark, p, [5, 7, 30001], "k")
    r = io.apply_deletes(spark, p)
    assert r["deleted_keys"] == 3 and r["rewritten_files"] > 0
    back = spark.read.parquet(p)
    assert back.count() == 36000 - 3
    assert back.filter(F.col("k").isin(5, 7, 30001)).count() == 0
    assert back.filter(F.col("g").isNull()).count() == 0
    assert all("/g=" in f for f in back.inputFiles())
    # still appendable on the frozen curve afterwards
    io.zorder_append(
        spark,
        local_frame(spark, [(99_999, 0, 1, 1)],
                    "k long, g long, a long, b long"),
        p, num_files=1,
    )
    assert spark.read.parquet(p).count() == 36000 - 3 + 1


def test_apply_deletes_partitioned_preserves_partition_values(
    spark, tmp_path
):
    """ADVICE r12 (medium): on a hive-partitioned dataset the vacuum
    must read victims with basePath (else the partition column values
    silently vanish) and write survivors back INSIDE their partition
    dirs (else rewritten files beach at the dataset root and break
    partition discovery). Clean partitions stay byte-identical; a
    fully-deleted partition disappears."""
    import os

    from pyspark.sql import functions as F

    import engage_spark.io as io
    from engage_spark.session import local_frame

    p = str(tmp_path / "dv_part")
    df = local_frame(
        spark,
        [(i, i % 5, i * 10) for i in range(2000)],
        "k long, g long, v long",
    )
    df.write.partitionBy("g").parquet(p)
    files_before = {
        f: os.path.getmtime(f.replace("file:", ""))
        for f in spark.read.parquet(p).inputFiles()
    }
    # delete some keys from partition g=1 and ALL of partition g=3
    doomed = [i for i in range(2000) if i % 5 == 1 and i < 500] + [
        i for i in range(2000) if i % 5 == 3
    ]
    io.delete_rows(spark, p, doomed, "k")
    out = io.apply_deletes(spark, p)
    assert out["deleted_keys"] == len(doomed)
    assert out["rewritten_files"] > 0
    back = spark.read.parquet(p)
    # partition column intact, values correct, survivors exact
    assert back.count() == 2000 - len(doomed)
    assert back.filter(F.col("g").isNull()).count() == 0
    assert back.filter(F.col("g") != F.col("k") % 5).count() == 0
    assert back.filter(F.col("k").isin(doomed)).count() == 0
    assert back.filter(F.col("g") == 3).count() == 0
    # every live file still lives under a g=... dir (none at the root)
    for uri in back.inputFiles():
        rel = uri.split(p + "/", 1)[1]
        assert rel.startswith("g="), f"file beached at dataset root: {rel}"
    # untouched partitions' files survive byte-identical
    clean = {
        f for f in files_before
        if "/g=0/" in f or "/g=2/" in f or "/g=4/" in f
    }
    for f in clean:
        assert os.path.getmtime(f.replace("file:", "")) == files_before[f]


def test_optimize_incremental_replays_pending_commit_at_entry(
    spark, tmp_path, monkeypatch
):
    """A prior maintenance run that crashed between manifest write and
    commit leaves staged files holding the ONLY copy of some rows once
    recovery deletes the victims. optimize_incremental must replay
    that pending commit at entry (not recompute victims and clobber
    the staging dir) — calling it directly after the crash, with NO
    manual optimize_recover, must lose no rows."""
    import os

    import pytest as _pytest

    import engage_spark.io as io

    p = str(tmp_path / "zreplay")
    io.zorder_write(spark, _zspread(spark, 5000, 0, 50000), p, ["a", "b"],
                    bits=8, num_files=4)
    io.zorder_append(spark, _zspread(spark, 300, 0, 1000), p, num_files=1)
    n_rows = spark.read.parquet(p).count()

    real_commit = io._optimize_commit

    def boom(spark_, path_, victims=None):
        raise RuntimeError("injected crash at commit")

    monkeypatch.setattr(io, "_optimize_commit", boom)
    with _pytest.raises(RuntimeError, match="injected crash"):
        io.optimize_incremental(spark, p, target_file_bytes=1 << 20)
    monkeypatch.setattr(io, "_optimize_commit", real_commit)
    assert os.path.exists(f"{p}/_optimize_manifest")
    # straight back into optimize_incremental — no manual recover
    io.optimize_incremental(spark, p, target_file_bytes=1 << 20)
    assert spark.read.parquet(p).count() == n_rows
    assert not os.path.exists(f"{p}/_optimize_manifest")
    assert not os.path.exists(f"{p}/_optimize_staging")


def test_maintenance_lease_contention_and_reentrancy(spark, tmp_path):
    """The r12 maintenance-writer lease: a live lease held by ANOTHER
    writer makes every in-place maintenance op fail LOUDLY with the
    dataset intact (previously two concurrent writers silently
    corrupted); an EXPIRED lease (crashed writer) is broken and taken
    over; nesting within one process re-enters."""
    import json
    import os
    import time

    import pytest as _pytest
    from pyspark.sql import functions as F

    import engage_spark.io as io

    p = str(tmp_path / "leased")
    io.zorder_write(spark, _zspread(spark, 5000, 0, 50000), p, ["a", "b"],
                    bits=8, num_files=4)
    io.zorder_append(spark, _zspread(spark, 200, 0, 1000), p, num_files=1)
    io.delete_rows(spark, p, [1, 2, 3], "k")
    n_rows = spark.read.parquet(p).count()
    files_before = sorted(spark.read.parquet(p).inputFiles())

    # a foreign LIVE lease (another host:pid, fresh timestamp)
    lock = f"{p}/_maintenance_lock"
    with open(lock, "w") as fh:
        json.dump({"writer": "otherhost:99999",
                   "acquired_unix": int(time.time()), "ttl_s": 3600}, fh)
    with _pytest.raises(io.MaintenanceLockHeld, match="otherhost:99999"):
        io.optimize_incremental(spark, p, target_file_bytes=1 << 20)
    with _pytest.raises(io.MaintenanceLockHeld):
        io.apply_deletes(spark, p)
    upd = spark.range(5).select(F.col("id").alias("k"),
                                (F.col("id") * 7).alias("a"),
                                (F.col("id") % 16).alias("b"))
    with _pytest.raises(io.MaintenanceLockHeld):
        io.upsert_dataset(spark, p, upd, ["k"])
    # nothing moved: same files, same rows, sidecar still in force
    assert sorted(spark.read.parquet(p).inputFiles()) == files_before
    assert spark.read.parquet(p).count() == n_rows
    assert os.path.exists(f"{p}/_deletes")

    # an EXPIRED lease is broken and the op proceeds
    with open(lock, "w") as fh:
        json.dump({"writer": "otherhost:99999",
                   "acquired_unix": int(time.time()) - 7200,
                   "ttl_s": 3600}, fh)
    out = io.apply_deletes(spark, p)
    assert out["deleted_keys"] == 3
    assert not os.path.exists(lock), "lease not released after the op"

    # re-entrancy: a maintenance loop holding the lease can call the
    # leased ops without self-deadlock, and the lock survives until
    # the OUTER exit
    with io.maintenance_lease(spark, p):
        assert os.path.exists(lock)
        io.optimize_incremental(spark, p, target_file_bytes=1 << 20)
        assert os.path.exists(lock)
    assert not os.path.exists(lock)

    # index-side: vacuum/revive contention fails loudly too
    from engage_spark.api import minhash_index_vacuum

    idx = str(tmp_path / "leased_idx")
    spark.range(3).select(F.col("id")).write.parquet(f"{idx}/tombstones")
    with open(f"{idx}/_maintenance_lock", "w") as fh:
        json.dump({"writer": "otherhost:99999",
                   "acquired_unix": int(time.time()), "ttl_s": 3600}, fh)
    with _pytest.raises(io.MaintenanceLockHeld):
        minhash_index_vacuum(spark, idx)


def test_delete_vectors_property_match_filter_semantics(spark, tmp_path):
    """Property (hypothesis): for arbitrary delete-key sets — including
    duplicates, keys absent from the data, and repeat delete batches —
    read_with_deletes is exactly `WHERE k NOT IN (keys)`, and a vacuum
    followed by more deletes composes the same way. One shared dataset;
    each example gets its own sidecar lifecycle."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st
    from pyspark.sql import functions as F

    from engage_spark.io import apply_deletes, delete_rows, read_with_deletes

    p = str(tmp_path / "dv_prop")
    spark.range(60).select(
        F.col("id").alias("k"), (F.col("id") % 5).alias("v")
    ).write.parquet(p)

    @settings(
        max_examples=12,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        batch1=st.lists(st.integers(-5, 70), max_size=8),
        batch2=st.lists(st.integers(-5, 70), max_size=8),
        vacuum_between=st.booleans(),
    )
    def prop(batch1, batch2, vacuum_between):
        import shutil

        # fresh physical copy per example (vacuum mutates data files)
        ex = str(tmp_path / "dv_prop_ex")
        shutil.rmtree(ex, ignore_errors=True)
        shutil.copytree(p, ex)
        if batch1:
            delete_rows(spark, ex, batch1, "k")
        if vacuum_between:
            apply_deletes(spark, ex)
        if batch2:
            delete_rows(spark, ex, batch2, "k")
        expect = {k for k in range(60)} - set(batch1) - set(batch2)
        got = {r.k for r in read_with_deletes(spark, ex).collect()}
        assert got == expect, (batch1, batch2, vacuum_between)

    prop()


def test_delete_vectors_survive_incremental_optimize(spark, tmp_path):
    """Composition: logical deletes stay in force through an in-place
    optimize_incremental (the rewrite moves rows between files but the
    sidecar hides keys by value, not location), and a later vacuum
    still applies them physically."""
    from pyspark.sql import functions as F

    from engage_spark.io import (
        apply_deletes,
        delete_rows,
        optimize_incremental,
        read_with_deletes,
        zorder_append,
        zorder_write,
    )

    p = str(tmp_path / "dv_opt")
    df = spark.range(5000).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("a"),
        (F.col("id") % 16).alias("b"),
    )
    zorder_write(spark, df, p, ["a", "b"], bits=8, num_files=4)
    delete_rows(spark, p, [10, 20, 30], "k")
    inc = spark.range(9000, 9200).select(
        F.col("id").alias("k"), (F.col("id") % 600).alias("a"),
        (F.col("id") % 16).alias("b"),
    )
    zorder_append(spark, inc, p, num_files=1)
    out = optimize_incremental(spark, p, target_file_bytes=1 << 20)
    assert out["rewritten_files"] >= 2
    got = read_with_deletes(spark, p)
    assert got.count() == 5200 - 3
    assert got.filter(F.col("k").isin(10, 20, 30)).count() == 0
    assert apply_deletes(spark, p)["deleted_keys"] == 3
    assert spark.read.parquet(p).count() == 5197


def test_zorder_meta_memo_invalidated_on_republish(spark, tmp_path):
    """zorder_meta is memoized per process (r12 — a maintenance
    lifecycle re-read the 1-row sidecar 4-5x); a republish must
    invalidate, or appends would scale with the PREVIOUS curve."""
    import engage_spark.io as io

    p = str(tmp_path / "zmemo")
    df = spark.range(1000).selectExpr(
        "id as a", "id * 3 % 97 as b", "id % 7 as c"
    )
    io.zorder_write(spark, df, p, ["a", "b"], bits=8, num_files=2)
    m1 = io.zorder_meta(spark, p)
    assert m1["cols"] == ["a", "b"]
    assert io.zorder_meta(spark, p) is m1  # served from the memo
    io.zorder_write(spark, df, p, ["b", "c"], bits=8, num_files=2)
    m2 = io.zorder_meta(spark, p)
    assert m2["cols"] == ["b", "c"]


def test_ivfpq_kmeans_quantizer_option(spark, sf_dir, tmp_path):
    """quantizer="kmeans" (r14): the MLlib-fit coarse quantizer slots
    into the same (c_ids, c_mat) contract — build, persist, search all
    work; recall@5 against the exact top-k is at least as good as a
    floor well below either path's measured recall; the default path
    is untouched (seeded results identical with/without the kwarg);
    unknown names raise."""
    import pandas as pd

    from engage_spark import api

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = e.filter("vec_id < 10")
    exact = api.topk_cosine_search(e, queries, k=5).toPandas()

    got_km = api.ivfpq_topk_search(
        e, queries, k=5, rerank=50, quantizer="kmeans"
    ).toPandas()
    truth = {
        q: set(g["neighbor_id"]) for q, g in exact.groupby("query_id")
    }
    hits = sum(
        len(set(g["neighbor_id"]) & truth[q])
        for q, g in got_km.groupby("query_id")
    )
    recall = hits / (5 * len(truth))
    assert recall >= 0.4, f"kmeans-quantizer recall@5 {recall}"

    # persisted lifecycle accepts the flag too
    idx = str(tmp_path / "ivfpq_km")
    stats = api.ivfpq_build(e, idx, quantizer="kmeans")
    assert stats["nlist"] >= 4
    from_index = api.ivfpq_search(idx, queries, e, k=5, rerank=50).toPandas()
    key = ["query_id", "rank"]
    a = got_km.sort_values(key).reset_index(drop=True)
    b = from_index.sort_values(key).reset_index(drop=True)
    assert (a.values == b[a.columns].values).all()

    # default path byte-identical with and without the kwarg
    d1 = api.ivfpq_topk_search(e, queries, k=5, rerank=50).toPandas()
    d2 = api.ivfpq_topk_search(
        e, queries, k=5, rerank=50, quantizer="seeded"
    ).toPandas()
    pd.testing.assert_frame_equal(
        d1.sort_values(key).reset_index(drop=True),
        d2.sort_values(key).reset_index(drop=True),
    )
    with pytest.raises(ValueError, match="quantizer"):
        api.ivfpq_topk_search(e, queries, k=5, quantizer="bogus")


def test_ivfpq_autoselect_quantizer_self_upgrades(spark, sf_dir, tmp_path):
    """r15 (VERDICT r14 #8): the recall probe CHOOSES the quantizer.
    A target the seeded build meets → no rebuild (oracle-stable cheap
    path). A target it misses → the index self-upgrades: k-means
    rebuild, re-probe, and the PERSISTED index is whichever measured
    better — never an unmeasured default."""
    from engage_spark import api

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")

    # pass case: trivially met target → seeded kept, no second build
    idx1 = str(tmp_path / "auto1")
    rep = api.ivfpq_build_autoselect(e, idx1, target_recall=0.0)
    assert rep["quantizer"] == "seeded" and rep["recall_kmeans"] is None
    assert not rep["upgraded"]

    # upgrade case: unreachable target forces the probe→rebuild path
    idx2 = str(tmp_path / "auto2")
    rep2 = api.ivfpq_build_autoselect(
        e, idx2, target_recall=1.01, sample_queries=20, k=5
    )
    assert rep2["recall_kmeans"] is not None  # rebuild + re-probe ran
    best = max(rep2["recall_seeded"], rep2["recall_kmeans"])
    assert rep2["recall_at_k"] == best
    assert rep2["quantizer"] == (
        "kmeans" if rep2["recall_kmeans"] >= rep2["recall_seeded"]
        else "seeded"
    )
    assert rep2["upgraded"] == (rep2["quantizer"] == "kmeans")
    # the persisted index IS the winner: re-probe matches the report
    got = api.ivfpq_recall_probe(
        spark, idx2, e, sample_queries=20, k=5
    )["recall_at_k"]
    assert abs(got - rep2["recall_at_k"]) < 1e-9


def test_topk_cosine_tolerates_ragged_corpus_rows(spark):
    """A corpus row whose embedding length mismatches the queries
    scored NULL under the old zip_with path and never reached the
    top-k — the r15 matmul path must keep that semantic (drop, never
    crash), and mixed-dimension QUERIES must raise loudly."""
    from engage_spark import api

    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, [0.5, 0.5, 0.5]),
         (4, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    queries = corpus.filter("vec_id = 1")
    got = api.topk_cosine_search(corpus, queries, k=3).collect()
    ids = [r["neighbor_id"] for r in sorted(got, key=lambda r: r["rank"])]
    assert 3 not in ids  # ragged row dropped, not crashed
    assert ids[0] == 2  # nearest by cosine
    import pytest as _pytest

    bad_q = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [1.0, 0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    with _pytest.raises(ValueError, match="mixed dimensions"):
        api.topk_cosine_search(corpus, bad_q, k=2)


def test_topk_cosine_enforces_query_cap(spark):
    """r16 (VERDICT r15 #6): the query set collects to the driver by
    contract; over max_queries the call must fail loudly instead of
    risking an opaque driver OOM — and the cap must not change results
    when the query set is exactly at it."""
    import pytest as _pytest

    from engage_spark import api

    corpus = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(8)],
        "vec_id long, embedding array<double>",
    )
    queries = corpus.limit(3)
    with _pytest.raises(ValueError, match="max_queries"):
        api.topk_cosine_search(corpus, queries, k=2, max_queries=2)
    got = api.topk_cosine_search(corpus, queries, k=2, max_queries=3)
    assert got.count() == 6  # 3 queries x k=2, cap boundary inclusive
