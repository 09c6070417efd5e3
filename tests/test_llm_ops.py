"""Semantic tests for the LLM-pipeline operators (dedup / similarity).

The driver's rows-only check only proves these run; these tests prove
they *work*, on planted near-duplicates and against the brute-force
ground truth.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from engage_spark.queries.llm_dedup import (
    minhash_candidate_pairs,
    simhash_near_pairs,
    with_simhash64,
)

_BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from a warm windowsill and the rain falls softly on the old tin roof "
    "of the farmhouse near the river bend where children play in summer"
)
_NEAR = _BASE.replace("lazy dog", "sleepy dog").replace("warm windowsill", "cold ledge")
_OTHER = (
    "spark executes declarative dataframe plans through catalyst which "
    "optimizes predicates projections and joins before tungsten generates "
    "compact bytecode for columnar batches across many executor cores"
)


@pytest.fixture(scope="module")
def planted(spark):
    rows = [
        (0, _BASE),
        (1, _BASE),          # exact dup of 0
        (2, _NEAR),          # near dup of 0
        (3, _OTHER),         # unrelated
        (4, "tiny text"),    # shorter than one shingle
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_minhash_finds_planted_near_dups(planted):
    pairs = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in minhash_candidate_pairs(planted, jaccard_threshold=0.5).collect()
    }
    assert (0, 1) in pairs and pairs[(0, 1)] == 1.0  # exact dup
    assert (0, 2) in pairs and pairs[(0, 2)] > 0.5   # near dup
    assert (0, 3) not in pairs and (1, 3) not in pairs  # unrelated


def test_minhash_signature_vectorized_matches_reference(spark):
    """r16: the signature kernel flattened to per-hash-function passes
    with segment mins (np.minimum.reduceat). The arithmetic is exact
    integer math, so the vectorized result must be BIT-IDENTICAL to
    the definition — min over shingle hashes of (a*h + b) mod p, with
    uint64 wrap-around on the multiply — on ragged arrays including
    size-1 segments."""
    import numpy as np

    from engage_spark.queries.llm_dedup import (
        _COEFS,
        _MERSENNE_P,
        minhash_signature,
    )

    rng = np.random.default_rng(7)
    rows = [
        (i, rng.integers(0, 2**32, size=int(sz)).tolist())
        for i, sz in enumerate([1, 2, 7, 31, 1, 400, 3])
    ]
    df = spark.createDataFrame(rows, "doc_id long, __h array<long>")
    got = {
        r.doc_id: list(r.sig)
        for r in df.select(
            "doc_id", minhash_signature(F.col("__h")).alias("sig")
        ).collect()
    }
    for doc_id, hs in rows:
        hv = np.asarray(hs, dtype=np.uint64)[None, :]
        a = np.array([a for a, _ in _COEFS], dtype=np.uint64)[:, None]
        b = np.array([b for _, b in _COEFS], dtype=np.uint64)[:, None]
        ref = ((a * hv + b) % _MERSENNE_P).min(axis=1).astype(np.int64)
        assert got[doc_id] == ref.tolist(), f"doc {doc_id}"


def test_minhash_band_rows_sql_compile_parity(spark):
    """r16: the 8 band-key xxhash64 expressions compile to one parsed
    SQL string (py4j round-trip cut). The band keys must be identical
    to the legacy Column formulation — int literal seeds, 1-based
    element_at positions."""
    from engage_spark.queries.llm_dedup import (
        _BAND_ROWS,
        _N_HASHES,
        minhash_band_rows,
        minhash_shingle_hashes,
        minhash_signature,
    )

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon zeta {i} eta theta")
         for i in range(20)],
        ["doc_id", "text"],
    )
    hashed = minhash_shingle_hashes(docs)
    got = minhash_band_rows(hashed)
    sigs = hashed.select(
        "doc_id", minhash_signature(F.col("__h")).alias("sig")
    )
    legacy = sigs.select(
        "doc_id",
        F.posexplode(
            F.array(
                *[
                    F.xxhash64(
                        F.lit(bi),
                        *[
                            F.element_at("sig", bi * _BAND_ROWS + r + 1)
                            for r in range(_BAND_ROWS)
                        ],
                    )
                    for bi in range(_N_HASHES // _BAND_ROWS)
                ]
            )
        ).alias("band", "band_key"),
    )
    assert got.exceptAll(legacy).count() == 0
    assert legacy.exceptAll(got).count() == 0


def test_ivfpq_seed_residuals_driver_twin_matches_kernel(spark, sf_dir):
    """r16: the PQ seed residuals compute in driver numpy instead of a
    scheduled mapInPandas job. Same row-wise float64 ops against the
    same rounded centroids — the values must be BIT-identical to the
    kernel's on real embeddings."""
    import numpy as np

    from engage_spark.io import table
    from engage_spark.queries.llm_similarity import (
        _corpus_rows,
        _ivfpq_coarse,
        _ivfpq_residual_batches,
        _ivfpq_seed_residual_rows,
        pq_params,
    )

    e = table(spark, sf_dir, "embeddings")
    n = _corpus_rows(sf_dir)
    c_ids, c_mat, _ = _ivfpq_coarse(spark, e, n)
    s_pq = pq_params(n)
    raw = [
        (r.vec_id, r.embedding)
        for r in e.filter(F.col("vec_id") % s_pq == 0)
        .select("vec_id", "embedding").collect()
    ]
    driver = dict(_ivfpq_seed_residual_rows(raw, c_mat))
    bc = spark.sparkContext.broadcast((c_ids, c_mat))
    kernel = {
        r.vec_id: np.asarray(r.embedding, dtype=np.float64)
        for r in e.filter(F.col("vec_id") % s_pq == 0)
        .mapInPandas(
            _ivfpq_residual_batches(bc),
            "vec_id long, lid long, embedding array<double>",
        )
        .collect()
    }
    assert set(driver) == set(kernel) and len(driver) > 0
    for vid, res in driver.items():
        assert np.array_equal(res, kernel[vid]), f"vec {vid} differs"


def test_simhash_flags_near_dups_only(planted):
    pairs = {(r.doc_a, r.doc_b): r.hamming for r in
             simhash_near_pairs(planted, max_hamming=8).collect()}
    assert pairs.get((0, 1)) == 0          # identical text, identical hash
    assert (0, 2) in pairs                 # near dup within radius
    assert (0, 3) not in pairs             # unrelated far apart


def test_simhash_is_deterministic(planted):
    a = with_simhash64(planted).select("doc_id", "simhash").collect()
    b = with_simhash64(planted).select("doc_id", "simhash").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_lsh_ann_recall_vs_brute_force(spark, sf_dir):
    from engage_spark.registry import load_all

    reg = load_all()
    exact = reg["x3_topk_cosine_search"].fn(spark, sf_dir).collect()
    ann = reg["x3b_lsh_ann_search"].fn(spark, sf_dir).collect()
    exact_set = {(r.query_id, r.neighbor_id) for r in exact}
    ann_set = {(r.query_id, r.neighbor_id) for r in ann}
    recall = len(exact_set & ann_set) / len(exact_set)
    # search_planes_count sizes P from n (4-5 planes at test scale:
    # HD<=2 multiprobe covers most of the 16-32 buckets, recall
    # 0.74/0.82 measured; at corpus scale P ~ log2(n/96) keeps the
    # probed FRACTION shrinking while occupancy stays ~96). On 64-dim
    # random data sign-bit LSH is weak, so the bar stays modest — the
    # point is the plan shape (bounded fan-out) + determinism.
    assert recall >= 0.2, f"ANN recall {recall:.2f} too low"
    # every ANN hit must be a real vector pair with a sane score
    assert all(-1.0 <= r.cosine <= 1.0 for r in ann)


def test_exact_dedup_collapses_identical_docs(spark, planted):
    from engage_spark.queries.llm_dedup import x1_exact_dedup  # noqa: F401
    # use the planted frame through the same fingerprint logic
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    out = (
        planted.select(F.md5(norm).alias("fp"), "doc_id")
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keeper"), F.count(F.lit(1)).alias("n"))
        .collect()
    )
    by_n = sorted((r.n, r.keeper) for r in out)
    assert by_n[-1] == (2, 0)  # docs 0 and 1 collapse, keeper is 0
    assert len(out) == 4


def test_ivf_ann_recall_vs_brute_force(spark, sf_dir):
    from engage_spark.registry import load_all

    reg = load_all()
    exact = reg["x3_topk_cosine_search"].fn(spark, sf_dir).collect()
    ivf = reg["x3c_ivf_ann_search"].fn(spark, sf_dir).collect()
    exact_set = {(r.query_id, r.neighbor_id) for r in exact}
    ivf_set = {(r.query_id, r.neighbor_id) for r in ivf}
    recall = len(exact_set & ivf_set) / len(exact_set)
    # ivf_params probes nprobe ~ 1.5*log2(nlist) of nlist ~ sqrt(n)
    # lists (a vanishing fraction at scale); on clustered real
    # embeddings the same probe count recalls far more (random-ish
    # synthetic vectors are ANN's worst case). Measured with the r9
    # nprobe rule + r7 Lloyd-refined quantizer: 0.74 at sf0.001 /
    # 0.76 at sf0.01 (r7 rule: 0.64 / 0.68; raw seeds: 0.58 / 0.44).
    assert recall >= 0.7, f"IVF recall {recall:.2f} too low"
    assert all(r.rank <= 5 for r in ivf)


def test_lsh_components_match_exact_on_planted_dups(spark, planted):
    """The LSH-fed clustering must find the same components as the
    exact-pair path wherever banding recall is 1.0 — true for planted
    exact/near duplicates."""
    from engage_spark.queries.llm_curation import connected_components

    edges = minhash_candidate_pairs(planted, jaccard_threshold=0.5).select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    comp = {
        r.node: r.component
        for r in connected_components(
            planted.select("doc_id"), edges, node_col="doc_id"
        ).collect()
    }
    # docs 0/1/2 form one cluster keyed by min id 0; 3 and 4 are singletons
    assert comp == {0: 0, 1: 0, 2: 0, 3: 3, 4: 4}


def test_registered_lsh_components_agree_with_exact_query(spark, sf_dir):
    from engage_spark.registry import load_all

    reg = load_all()
    exact = {
        (r.doc_id, r.component_id, r.is_keeper)
        for r in reg["x_dedup_components"].fn(spark, sf_dir).collect()
    }
    lsh = {
        (r.doc_id, r.component_id, r.is_keeper)
        for r in reg["x_dedup_components_lsh"].fn(spark, sf_dir).collect()
    }
    # identical node set; component assignments differ only where
    # MinHash banding misses a pair — at the 0.5 threshold the 8x4
    # banding S-curve detects a borderline pair with prob
    # 1-(1-0.5^4)^8 ~ 0.40, so some divergence on threshold-straddling
    # synthetic pairs is expected; far-above-threshold (true) dups are
    # caught with prob -> 1 (covered by the planted test above)
    assert {d for d, _, _ in exact} == {d for d, _, _ in lsh}
    agreement = len(exact & lsh) / len(exact)
    assert agreement >= 0.9, f"LSH clustering agreement {agreement:.3f}"


def test_decontaminate_flags_planted_docs_only(spark, sf_dir):
    from engage_spark.registry import load_all

    out = load_all()["x_decontaminate"].fn(spark, sf_dir).toPandas()
    # eval slice (doc_id % 97 == 0) must not appear in the train output
    assert not (out.doc_id % 97 == 0).any()
    flagged = set(out[out.contaminated == 1].doc_id)
    planted = {d for d in out.doc_id if d % 31 == 0}
    # every planted train doc shares the canonical sentence's 8-grams
    # with planted eval doc 0 -> all flagged (naturally-overlapping
    # word-salad docs may legitimately be flagged too)
    assert planted <= flagged
    # the 10-word planted sentence contributes 3 pure-sentence 8-grams,
    # all present in eval doc 0's shingle set
    by_id = out.set_index("doc_id").n_eval_ngram_hits
    assert all(by_id[d] >= 3 for d in planted)


def test_mllib_minhash_agrees_with_custom_banding(spark, sf_dir):
    """MLlib MinHashLSH.approxSimilarityJoin and the hand-built banding
    path must both surface every strong near-dup pair (exact trigram
    Jaccard >= 0.9: the 8x4 banding S-curve detects those with prob
    1-(1-0.9^4)^8 ~ 0.9998, so a miss means a bug, not banding luck —
    at 0.7 the same curve misses ~11% of pairs by design)."""
    from engage_spark.registry import load_all

    reg = load_all()
    strong = {
        (r.doc_a, r.doc_b)
        for r in reg["x_ngram_jaccard_pairs"].fn(spark, sf_dir).collect()
        if r.jaccard >= 0.9
    }
    if not strong:
        pytest.skip("no strong pairs at this sf")
    custom = {
        (r.doc_a, r.doc_b)
        for r in reg["x2_minhash_lsh_dedup"].fn(spark, sf_dir).collect()
    }
    mllib = {
        (r.doc_a, r.doc_b)
        for r in reg["x2c_mllib_minhash_join"].fn(spark, sf_dir).collect()
    }
    assert strong <= custom, f"custom misses {strong - custom}"
    assert strong <= mllib, f"mllib misses {strong - mllib}"


def test_mllib_brp_ann_recall_vs_brute_force(spark, sf_dir):
    from engage_spark.registry import load_all

    reg = load_all()
    exact = reg["x3_topk_cosine_search"].fn(spark, sf_dir).collect()
    brp = reg["x3d_mllib_brp_ann"].fn(spark, sf_dir).collect()
    exact_set = {(r.query_id, r.neighbor_id) for r in exact}
    brp_set = {(r.query_id, r.neighbor_id) for r in brp}
    recall = len(exact_set & brp_set) / len(exact_set)
    assert recall >= 0.2, f"BRP-LSH recall {recall:.2f} too low"
    # cosine reconstructed from unit-sphere euclidean: 1 - d^2/2
    assert all(-1.0 - 1e-6 <= r.cosine <= 1.0 + 1e-6 for r in brp)


def test_cluster_safe_split_keeps_near_dups_together(spark, planted, sf_dir):
    """The leakage guarantee itself: every near-dup component shares
    one split, and the assignment is deterministic."""
    from engage_spark.api import cluster_safe_split
    from engage_spark.queries.llm_curation import connected_components

    edges = minhash_candidate_pairs(planted, jaccard_threshold=0.5).select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    out = cluster_safe_split(planted.select("doc_id"), edges).toPandas()
    # docs 0,1,2 are the planted near-dup cluster: one component, one split
    cluster = out[out.doc_id.isin([0, 1, 2])]
    assert cluster.component_id.nunique() == 1
    assert cluster.split.nunique() == 1
    # deterministic across runs
    again = cluster_safe_split(planted.select("doc_id"), edges).toPandas()
    assert (
        out.sort_values("doc_id").split.to_numpy()
        == again.sort_values("doc_id").split.to_numpy()
    ).all()
    # registered query: no component straddles splits at sf scale
    from engage_spark.registry import load_all

    full = load_all()["x_cluster_safe_split"].fn(spark, sf_dir).toPandas()
    per_comp = full.groupby("component_id")["split"].nunique()
    assert (per_comp == 1).all()


def test_pq_adc_rerank_recall_vs_brute_force(spark, sf_dir):
    from engage_spark.registry import load_all

    reg = load_all()
    exact = {
        (r.query_id, r.neighbor_id)
        for r in reg["x3_topk_cosine_search"].fn(spark, sf_dir).collect()
    }
    pq = {
        (r.query_id, r.neighbor_id)
        for r in reg["x3e2_pq_adc_search"].fn(spark, sf_dir).collect()
    }
    recall = len(exact & pq) / len(exact)
    # measured r7 on worst-case random vectors: 0.80 at sf0.001 /
    # 0.74 at sf0.01 (ADC shortlist@50 + exact cosine re-rank; the
    # pure-ADC ranking alone sits near 0.2 — quantization noise
    # dominates random data, which is why re-rank is the standard)
    assert recall >= 0.6, f"PQ recall {recall:.2f} too low"


def test_pq_encode_compresses_and_is_deterministic(spark, sf_dir):
    from engage_spark.queries.llm_similarity import _PQ_M
    from engage_spark.registry import load_all

    enc = load_all()["x3e_pq_encode"]
    a = enc.fn(spark, sf_dir).toPandas().sort_values(["vec_id", "m"])
    b = enc.fn(spark, sf_dir).toPandas().sort_values(["vec_id", "m"])
    assert (a.to_numpy() == b.to_numpy()).all()
    n_vec = a["vec_id"].nunique()
    assert len(a) == n_vec * _PQ_M  # exactly M codes per vector
    # the whole point: code cardinality per subspace is tiny (the
    # codebook: ~n/stride seeds, target _PQ_KSUB), so codes pack into
    # a few bits each
    from engage_spark.queries.llm_similarity import _corpus_rows, pq_params

    n_seeds = (_corpus_rows(sf_dir) - 1) // pq_params(_corpus_rows(sf_dir)) + 1
    assert a.groupby("m")["cid"].nunique().max() <= n_seeds


def test_corpus_stats_spark_native_match_parquet_footer(spark, sf_dir):
    """_corpus_rows/_embedding_dim are Spark-native since r7 (any
    Hadoop-FS URI); they must agree with the parquet footer the old
    driver-local implementation read, so every derived LSH/IVF/SemDeDup
    parameter is unchanged."""
    import pyarrow.parquet as pq

    from engage_spark.queries.llm_similarity import (
        _DIM_CACHE,
        _NROWS_CACHE,
        _corpus_rows,
        _embedding_dim,
        _parquet_parts,
    )

    _NROWS_CACHE.pop(sf_dir, None)
    _DIM_CACHE.pop(sf_dir, None)
    n = _corpus_rows(sf_dir)
    d = _embedding_dim(sf_dir)
    footer_n = sum(
        pq.ParquetFile(p).metadata.num_rows
        for p in _parquet_parts(f"{sf_dir}/embeddings.parquet")
    )
    assert n == footer_n and n > 0
    assert d == 64


def test_reliable_checkpoint_requires_dir_then_works(spark, tmp_path):
    """The fault-tolerant iteration path: without a checkpoint dir the
    reliable variant fails with a clear error; with one, every round
    physically lands in the dir and the result is unchanged."""
    import os

    from engage_spark.checkpointing import iter_checkpoint
    from engage_spark.queries.llm_curation import connected_components

    nodes = spark.createDataFrame([(i,) for i in range(6)], "node long")
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (3, 4)], "src long, dst long"
    )
    if spark.sparkContext.getCheckpointDir() is None:
        with pytest.raises(ValueError, match="setCheckpointDir"):
            iter_checkpoint(nodes, reliable=True)
    ckpt = str(tmp_path / "ckpt")
    spark.sparkContext.setCheckpointDir(ckpt)
    out = {
        (r.node, r.component)
        for r in connected_components(
            nodes, edges, reliable_checkpoint=True
        ).collect()
    }
    assert out == {(0, 0), (1, 0), (2, 0), (3, 3), (4, 3), (5, 5)}
    # rounds actually hit the reliable store
    assert any(os.scandir(ckpt))


def test_reliable_checkpoint_conf_flips_every_iterative_op(spark, tmp_path):
    """The conf route (no parameter threading): with
    spark.engage_spark.checkpoint.reliable=true every iter_checkpoint
    call — here the star variant's rounds — goes through the reliable
    store and results are unchanged."""
    from engage_spark.checkpointing import RELIABLE_CONF
    from engage_spark.queries.llm_curation import connected_components_star

    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt2"))
    spark.conf.set(RELIABLE_CONF, "true")
    try:
        nodes = spark.createDataFrame([(i,) for i in range(5)], "node long")
        edges = spark.createDataFrame([(0, 1), (1, 2)], "src long, dst long")
        out = {
            (r.node, r.component)
            for r in connected_components_star(nodes, edges).collect()
        }
    finally:
        spark.conf.set(RELIABLE_CONF, "false")
    assert {(0, 0), (1, 0), (2, 0)} <= out


def test_star_cc_matches_propagation_on_planted(spark, planted):
    from engage_spark.queries.llm_curation import (
        connected_components,
        connected_components_star,
    )

    edges = minhash_candidate_pairs(planted, jaccard_threshold=0.5).select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    nodes = planted.select("doc_id")
    prop = {
        r.node: r.component
        for r in connected_components(nodes, edges, node_col="doc_id").collect()
    }
    star = {
        r.node: r.component
        for r in connected_components_star(nodes, edges, node_col="doc_id").collect()
    }
    assert star == prop == {0: 0, 1: 0, 2: 0, 3: 3, 4: 4}


def test_star_cc_handles_high_diameter_paths(spark):
    """A 60-node path graph has diameter 59 — min-label propagation
    needs 59 rounds (its documented weakness); large-star/small-star
    converges in O(log² n) rounds and must still find one component."""
    from engage_spark.queries.llm_curation import connected_components_star

    n = 60
    nodes = spark.range(n).withColumnRenamed("id", "node")
    edges = (
        spark.range(n - 1)
        .select(F.col("id").alias("src"), (F.col("id") + 1).alias("dst"))
    )
    out = connected_components_star(nodes, edges)
    comps = {r.node: r.component for r in out.collect()}
    assert set(comps.values()) == {0}
    assert len(comps) == n


def test_star_cc_on_random_graph_matches_propagation(spark):
    import random

    from engage_spark.queries.llm_curation import (
        connected_components,
        connected_components_star,
    )

    rng = random.Random(7)
    n = 80
    edge_list = [
        (rng.randrange(n), rng.randrange(n)) for _ in range(50)
    ]
    nodes = spark.range(n).withColumnRenamed("id", "node")
    edges = spark.createDataFrame(
        [e for e in edge_list if e[0] != e[1]], ["src", "dst"]
    )
    prop = {
        r.node: r.component
        for r in connected_components(nodes, edges, max_iter=80).collect()
    }
    star = {
        r.node: r.component
        for r in connected_components_star(nodes, edges).collect()
    }
    assert star == prop


# ---------------------------------------------------------------------------
# Gopher repetition ratios


def test_gopher_repetition_planted_values(spark):
    import engage_spark.queries.llm_text as lt

    docs = spark.createDataFrame(
        [
            # "a a a b": 4 toks, 2 distinct, top word a=3, dup tokens 3;
            # bigrams [a a, a a, a b]: top "a a"=2, dup 2
            (1, "a a a b", "en", "t", 7),
            # all distinct: ttr 1, top 1/3, no dups
            (2, "x y z", "en", "t", 5),
            # single token: bigram list empty -> bigram fracs 0
            (3, "solo", "en", "t", 4),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    orig = lt.table
    lt.table = lambda s, d, n: docs  # noqa: E731
    try:
        got = {
            r["doc_id"]: r.asDict()
            for r in lt.x_gopher_repetition(spark, "ignored").collect()
        }
    finally:
        lt.table = orig
    assert got[1]["ttr"] == 0.5
    assert got[1]["top_word_frac"] == 0.75
    assert got[1]["dup_word_frac"] == 0.75
    assert got[1]["top_bigram_frac"] == round(2 / 3 + 1e-9, 6)
    assert got[1]["dup_bigram_frac"] == round(2 / 3 + 1e-9, 6)
    assert got[2]["ttr"] == 1.0
    assert got[2]["top_word_frac"] == round(1 / 3 + 1e-9, 6)
    assert got[2]["dup_word_frac"] == 0.0
    assert got[3]["top_bigram_frac"] == 0.0
    assert got[3]["dup_bigram_frac"] == 0.0


def test_embed_quantize_invariants(spark, sf_dir):
    from engage_spark.queries.llm_similarity import x_embed_quantize

    rows = x_embed_quantize(spark, sf_dir).collect()
    assert rows
    for r in rows:
        # reconstruction error bounded by half a quantization step
        assert r["max_abs_err"] <= r["scale"] / 2 + 1e-6
        # int8 range respected => L1 of 64 dims bounded by 64*127
        assert r["q_l1"] <= 64 * 127
        assert abs(r["q_sum"]) <= r["q_l1"]
        # 8-bit quantization of a 64-dim vector barely moves cosine
        assert r["cos_q"] >= 0.999


def test_pivot_wide_matches_conditional_agg(spark, sf_dir):
    from engage_spark.queries.extensions import ext_pivot_wide
    from engage_spark.io import table
    import pyspark.sql.functions as F

    piv = {r["o_orderpriority"]: r for r in ext_pivot_wide(spark, sf_dir).collect()}
    o = table(spark, sf_dir, "orders")
    flat = {
        r["o_orderpriority"]: r
        for r in o.groupBy("o_orderpriority")
        .agg(
            F.round(
                F.sum(F.when(F.col("o_orderstatus") == "F", F.col("o_totalprice")))
                + 1e-9,
                2,
            ).alias("status_F"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .collect()
    }
    assert set(piv) == set(flat)
    for k in piv:
        assert piv[k]["status_F"] == flat[k]["status_F"]
        assert piv[k]["n_orders"] == flat[k]["n_orders"]


def test_embed_lsh_neardup_recall_and_precision(spark, sf_dir):
    """Banded hyperplane-LSH near-dup pairs: every emitted pair is
    verified (cos >= 0.35, a < b); same-label pairs are a subset of the
    exact blocked ground truth; recall vs that ground truth clears the
    theoretical banding curve (1-(1-p^4)^4 ~ 0.46 at the 0.35
    threshold; 0.43 measured, deterministic planes)."""
    from engage_spark.registry import load_all

    reg = load_all()
    lsh = reg["x_embed_lsh_neardup_pairs"].fn(spark, sf_dir).toPandas()
    exact = reg["x_cosine_neardup_pairs"].fn(spark, sf_dir).toPandas()

    assert (lsh.cosine >= 0.35).all()
    assert (lsh.vec_a < lsh.vec_b).all()
    assert not lsh.duplicated(["vec_a", "vec_b"]).any()

    # precision on the blocked domain: a same-label LSH pair must appear
    # in the exact blocked result (same threshold, same cosine)
    from engage_spark.io import table

    labels = table(spark, sf_dir, "embeddings").select("vec_id", "label").toPandas()
    lab = dict(zip(labels.vec_id, labels.label))
    lsh_same = {
        (a, b) for a, b in zip(lsh.vec_a, lsh.vec_b) if lab[a] == lab[b]
    }
    exact_set = {(a, b) for a, b in zip(exact.vec_a, exact.vec_b)}
    assert lsh_same <= exact_set

    recall = len(lsh_same & exact_set) / max(len(exact_set), 1)
    assert recall >= 0.3, f"LSH near-dup recall {recall:.2f} below banding curve"


def test_resize_bytes_gather_is_exact(spark, sf_dir):
    """The mapInPandas resize kernel performs the exact nearest-neighbor
    gather: recompute one document's output buffer with numpy from the
    raw media bytes and compare byte-for-byte; every buffer must be
    out_w * out_h bytes."""
    import numpy as np

    from engage_spark.registry import load_all

    rb = load_all()["mm_resize_bytes"].fn(spark, sf_dir).toPandas()
    assert (rb.pixels.map(len) == rb.out_w * rb.out_h).all()

    from engage_spark.io import table
    from engage_spark.queries.multimodal import _MAX_SIDE

    doc = table(spark, sf_dir, "documents").filter("doc_id = 0").toPandas().iloc[0]
    blob = doc.text.encode("utf-8")
    n = len(blob)
    sw, sh = 16 + n % 64, 16 + (n * 7) % 48
    scale = min(_MAX_SIDE / sw, _MAX_SIDE / sh, 1.0)
    ow, oh = max(1, int(sw * scale)), max(1, int(sh * scale))
    img = np.resize(np.frombuffer(blob, dtype=np.uint8), (sh, sw))
    expect = img[np.ix_((np.arange(oh) * sh) // oh, (np.arange(ow) * sw) // ow)]
    got = rb[rb.doc_id == 0].iloc[0]
    assert (int(got.out_w), int(got.out_h)) == (ow, oh)
    assert bytes(got.pixels) == expect.tobytes()


def test_lsh_band_key_kernels_agree(spark, sf_dir):
    """The Arrow/BLAS band-key kernel (used when bands*rows exceeds the
    JVM plane budget) must produce byte-identical bucket keys to the
    JVM expression kernel on the same planes — the two are physical
    strategies for ONE logical hash family."""
    import pandas as pd

    from engage_spark.io import table
    from engage_spark.queries.llm_similarity import (
        _nd_band_keys,
        nd_band_keys_column,
    )

    bands, rows, dim = 6, 8, 64  # above the JVM budget -> Arrow path
    e = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    jvm = e.select(
        "vec_id", F.array(*_nd_band_keys("embedding", bands, rows, dim)).alias("k")
    ).toPandas().sort_values("vec_id").reset_index(drop=True)
    arrow = e.select(
        "vec_id", nd_band_keys_column(e, "embedding", bands, rows, dim).alias("k")
    ).toPandas().sort_values("vec_id").reset_index(drop=True)
    assert len(jvm) == len(arrow) > 0
    mism = sum(1 for a, b in zip(jvm.k, arrow.k) if list(a) != list(b))
    assert mism == 0, f"{mism} key vectors differ between kernels"
    # sub-floor custom configs stay on the Python-free JVM path; the
    # (4,4) floor and up take the Arrow gemm (measured ~2x faster)
    col = nd_band_keys_column(e, "embedding", 3, 4, dim)
    plan = e.select(col.alias("k"))._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan
    col16 = nd_band_keys_column(e, "embedding", 4, 4, dim)
    plan16 = e.select(col16.alias("k"))._jdf.queryExecution().executedPlan().toString()
    assert "Python" in plan16


def test_giant_document_survives_reassembly_ops(spark, tmp_path):
    """Skew guard: a single adversarial 10⁶-token document must flow
    through the groupBy(doc_id) reassembly ops without concentrating
    unbounded state in one aggregation buffer — x_token_encode
    reassembles in _ENC_CHUNK-token chunks (two-level agg, byte-
    identical output), and span_dedup's per-doc state is n_spans ≈
    n_toks/16 longs. Output exactness for the giant doc is checked
    against an independent pandas encoding."""
    import pandas as pd

    from engage_spark.registry import load_all

    n_giant = 1_000_000
    vocab_words = [f"w{i:03d}" for i in range(300)]
    giant_tokens = [vocab_words[i % 300] for i in range(n_giant)]
    docs = pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "text": [
                " ".join(giant_tokens),
                "alpha beta gamma",
                "beta gamma delta epsilon",
            ],
            "source": ["web", "web", "book"],
        }
    )
    spark.createDataFrame(docs).repartition(2).write.mode("overwrite").parquet(
        f"{tmp_path}/documents.parquet"
    )
    reg = load_all()

    enc = (
        reg["x_token_encode"].fn(spark, str(tmp_path))
        .toPandas().set_index("doc_id").sort_index()
    )
    giant = enc.loc[1]
    assert giant.n_toks == n_giant

    # independent pandas oracle for the giant doc's encoding: vocab is
    # top-100 tokens by (tf desc, token asc) over the WHOLE corpus
    all_tokens = giant_tokens + docs.text[1].split() + docs.text[2].split()
    tf = pd.Series(all_tokens).value_counts()
    ranked = sorted(tf.index, key=lambda t: (-tf[t], t))[:100]
    tid = {t: i + 1 for i, t in enumerate(ranked)}
    exp_ids = [tid.get(t, 0) for t in giant_tokens]
    assert giant.n_unk == sum(1 for i in exp_ids if i == 0) > 0
    got_ids = [int(x) for x in giant.ids.split(" ")]
    assert got_ids == exp_ids

    sd = (
        reg["x_span_dedup"].fn(spark, str(tmp_path))
        .toPandas().set_index("doc_id").sort_index()
    )
    assert sd.loc[1].n_spans == n_giant // 16
    # the 300-token cycle means spans repeat: dedup must keep only the
    # distinct alignments (lcm(300,16)/16 = 75 distinct spans)
    assert sd.loc[1].n_kept == 75
    assert len(sd.loc[1].cleaned_text.split(" ")) == 75 * 16


def test_bpe_train_matches_independent_python_reference(spark, sf_dir):
    """api.bpe_train must learn the exact merge sequence a plain-Python
    BPE derives from the same word-frequency table (same lowercased
    whitespace pre-tokenization, same lexicographic tie-break)."""
    from collections import Counter

    from engage_spark import api
    from engage_spark.io import table

    docs = table(spark, sf_dir, "documents").select("text").toPandas()
    n_merges = 10

    got = api.bpe_train(
        table(spark, sf_dir, "documents"), n_merges=n_merges, min_freq=2
    ).toPandas()

    wf = Counter()
    for t in docs.text:
        for w in t.lower().strip().split():
            if w:
                wf[w] += 1
    words = {tuple(w): f for w, f in wf.items()}
    ref = []
    for rank in range(n_merges):
        pc = Counter()
        for syms, f in words.items():
            for a, b in zip(syms, syms[1:]):
                pc[(a, b)] += f
        if not pc:
            break
        (left, right), pf = min(
            pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        if pf < 2:
            break
        ref.append((rank, left, right, pf))
        merged = {}
        for syms, fr in words.items():
            s, res, i = list(syms), [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == left and s[i + 1] == right:
                    res.append(left + right)
                    i += 2
                else:
                    res.append(s[i])
                    i += 1
            merged[tuple(res)] = merged.get(tuple(res), 0) + fr
        words = merged

    assert [tuple(r) for r in got.itertuples(index=False)] == ref

    # the distributed-rounds path must learn the identical sequence
    got_dist = api.bpe_train(
        table(spark, sf_dir, "documents"),
        n_merges=4, min_freq=2, distributed_rounds=True,
    ).toPandas()
    assert [tuple(r) for r in got_dist.itertuples(index=False)] == ref[:4]


def test_bpe_train_pruned_vocab_matches_python_reference(spark, sf_dir):
    """The production configuration (word_min_freq + max_vocab_words —
    what x_bpe_merges registers) must learn exactly the merges a
    plain-Python BPE derives from the identically pruned word table:
    drop words with freq < word_min_freq, keep the top-N by
    (freq desc, word asc). This is the config whose driver collect is
    bounded by construction (≤ max_vocab_words rows)."""
    from collections import Counter

    from engage_spark import api
    from engage_spark.io import table

    docs = table(spark, sf_dir, "documents").select("text").toPandas()
    n_merges, word_min_freq, cap = 8, 2, 300

    got = api.bpe_train(
        table(spark, sf_dir, "documents"),
        n_merges=n_merges, min_freq=2,
        word_min_freq=word_min_freq, max_vocab_words=cap,
    ).toPandas()

    wf = Counter()
    for t in docs.text:
        for w in t.lower().strip().split():
            if w:
                wf[w] += 1
    pruned = sorted(
        ((w, f) for w, f in wf.items() if f >= word_min_freq),
        key=lambda kv: (-kv[1], kv[0]),
    )[:cap]
    words = {tuple(w): f for w, f in pruned}
    ref = []
    for rank in range(n_merges):
        pc = Counter()
        for syms, f in words.items():
            for a, b in zip(syms, syms[1:]):
                pc[(a, b)] += f
        if not pc:
            break
        (left, right), pf = min(
            pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        if pf < 2:
            break
        ref.append((rank, left, right, pf))
        merged = {}
        for syms, fr in words.items():
            res = api._bpe_merge_word(list(syms), left, right)
            merged[res] = merged.get(res, 0) + fr
        words = merged

    assert [tuple(r) for r in got.itertuples(index=False)] == ref

    # and the distributed path under the same pruning learns the same
    got_dist = api.bpe_train(
        table(spark, sf_dir, "documents"),
        n_merges=3, min_freq=2,
        word_min_freq=word_min_freq, max_vocab_words=cap,
        distributed_rounds=True,
    ).toPandas()
    assert [tuple(r) for r in got_dist.itertuples(index=False)] == ref[:3]


def test_bpe_segment_matches_python_reference(spark, sf_dir):
    """bpe_segment applied with the learned merges must produce the
    same per-doc BPE token counts as segmenting with a plain-Python
    application of the same merge list."""
    from engage_spark import api
    from engage_spark.io import table
    from engage_spark.api import _bpe_merge_word

    d = table(spark, sf_dir, "documents")
    merges = api.bpe_train(d, n_merges=8, min_freq=2)
    got = (
        api.bpe_segment(d, merges)
        .toPandas().set_index("doc_id").sort_index()
    )
    mlist = [(r["left"], r["right"]) for r in merges.orderBy("rank").collect()]
    docs = d.select("doc_id", "text").toPandas()
    for _, row in docs.sample(n=25, random_state=7).iterrows():
        total = 0
        for w in row.text.lower().strip().split():
            syms = tuple(w)
            for left, right in mlist:
                syms = _bpe_merge_word(list(syms), left, right)
            total += len(syms)
        assert got.loc[row.doc_id].n_bpe_tokens == total
        assert (
            got.loc[row.doc_id].n_bpe_tokens >= got.loc[row.doc_id].n_ws_tokens
        )


def test_percentile_gate_buckets_are_monotone_and_complete(spark):
    """Property: percentile_gate partitions rows completely, buckets
    are ordered by score (max of bucket k <= min of bucket k+1 on the
    rounded score), and every row keeps its original columns."""
    import numpy as np
    import pandas as pd

    from engage_spark import api

    rng = np.random.RandomState(13)
    pdf = pd.DataFrame({"doc_id": range(400), "s": rng.lognormal(size=400)})
    out = api.percentile_gate(
        spark.createDataFrame(pdf), "s", n_buckets=8
    ).toPandas()
    assert len(out) == 400
    assert set(out.bucket) <= set(range(1, 9))
    g = out.groupby("bucket")["s_rounded"].agg(["min", "max"]).sort_index()
    for (b1, r1), (b2, r2) in zip(g.iterrows(), list(g.iterrows())[1:]):
        assert r1["max"] <= r2["min"], (b1, b2)


def test_bigram_perplexity_orders_gibberish_above_repetition(spark):
    """Property: under a corpus-trained bigram LM, a document made of
    the corpus's dominant repeated transitions scores LOWER perplexity
    than a document of one-off transitions."""
    import pandas as pd

    from engage_spark import api

    docs = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4],
            "text": [
                "a b a b a b a b a b a b",
                "a b a b a b a b",
                "q w e r t y u i o p",
                "a b a b a b",
            ],
        }
    )
    out = (
        api.bigram_perplexity(spark.createDataFrame(docs))
        .toPandas().set_index("doc_id")
    )
    assert out.loc[3].ppl > out.loc[1].ppl
    assert out.loc[3].ppl > out.loc[2].ppl
    # repeated-transition docs score identically per-token
    assert abs(out.loc[1].avg_logp - out.loc[4].avg_logp) < 0.2


def test_cosine_arrow_handles_ragged_and_zero_norm(spark):
    """The Arrow cosine's per-row fallback: pairs with mismatched
    lengths or zero-norm vectors score NaN (dropped by any threshold
    filter), uniform batches take the vectorized path with the same
    values as the JVM expression."""
    import math

    import pandas as pd

    from engage_spark.queries.llm_dedup import cosine_expr
    from engage_spark.queries.llm_similarity import cosine_arrow

    pdf = pd.DataFrame(
        {
            "pid": [1, 2, 3],
            "a": [[1.0, 0.0], [1.0, 2.0, 3.0], [0.0, 0.0]],
            "b": [[1.0, 0.0], [1.0, 2.0], [1.0, 1.0]],  # row 2 mismatched
        }
    )
    df = spark.createDataFrame(pdf)
    got = (
        df.select("pid", cosine_arrow("a", "b").alias("c"))
        .toPandas().set_index("pid").c
    )
    assert abs(got[1] - 1.0) < 1e-12
    assert math.isnan(got[2])  # mismatched lengths
    assert math.isnan(got[3])  # zero norm
    # threshold filter drops NaN rows on both kernels
    n_arrow = df.filter(cosine_arrow("a", "b") >= 0.5).count()
    n_jvm = df.filter(cosine_expr("a", "b") >= 0.5).count()
    assert n_arrow == n_jvm == 1


def test_search_lsh_bucket_kernels_agree(spark, sf_dir):
    """The JVM-expression and Arrow-gemm sign-bit bucket kernels must
    produce identical buckets at any plane count (lsh_bucket_auto
    switches between them on the plane budget; a divergence would split
    the bucket space between corpus and queries silently)."""
    from engage_spark.io import table
    from engage_spark.queries.llm_similarity import (
        lsh_bucket,
        lsh_bucket_arrow,
    )

    e = table(spark, sf_dir, "embeddings")
    for p in (5, 16, 24):
        both = e.select(
            "vec_id",
            lsh_bucket("embedding", p).alias("jvm"),
            lsh_bucket_arrow("embedding", p).alias("arrow"),
        ).collect()
        assert all(r.jvm == r.arrow for r in both), f"divergence at P={p}"


def test_simhash_md5_twin_matches_family_semantics(spark, planted):
    """The md5-hash SimHash twin (x2b2's pipeline) must behave like the
    xxhash64 family on planted duplicates: identical text -> identical
    simhash (hamming 0), near-dup within radius, unrelated text apart.
    Hash values differ across families; the SEMANTICS may not."""
    from engage_spark.queries.llm_dedup import (
        _SIMHASH_MD5_TOKEN_SQL,
        simhash_near_pairs,
    )

    pairs = {
        (r.doc_a, r.doc_b): r.hamming
        for r in simhash_near_pairs(
            planted, max_hamming=8, token_hash_sql=_SIMHASH_MD5_TOKEN_SQL
        ).collect()
    }
    assert pairs.get((0, 1)) == 0   # identical text, identical hash
    assert (0, 2) in pairs          # near dup within radius
    assert (0, 3) not in pairs      # unrelated far apart


# ---------------------------------------------------------------------------
# Property tests for the derive-params-from-corpus-size rules (the
# engine-wide pattern every bucketing family uses; SCALE.md). These run
# driver-side only — no Spark session needed.

from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402


@settings(max_examples=300, deadline=None)
@given(st.integers(min_value=1, max_value=10**12))
def test_semdedup_params_bounds(n):
    from engage_spark.queries.llm_similarity import semdedup_params

    k, stride = semdedup_params(n)
    assert k >= 4 and stride >= 1
    # occupancy target: k never undershoots n/96 (pair volume per row
    # stays bounded by ~96 once past the floor)
    assert k * 96 >= n
    # the seed rule yields roughly k seeds: n // stride within a
    # factor-2 band of k (integer floors)
    if n >= 4 * 96:
        assert k <= n // stride + 1 <= 2 * k + 1


@settings(max_examples=300, deadline=None)
@given(st.integers(min_value=1, max_value=10**12))
def test_ivf_params_bounds(n):
    import math

    from engage_spark.queries.llm_similarity import ivf_params

    nlist, nprobe, stride = ivf_params(n)
    assert nlist >= 4 and nprobe >= 4 and stride >= 1
    assert nlist >= math.isqrt(n)  # never coarser than sqrt(n)
    assert nprobe <= max(4, math.ceil(1.5 * math.log2(nlist)))
    # probed fraction nprobe/nlist shrinks with n: sub-linear per-query
    # candidates once past the floors
    if n >= 10**6:
        assert nprobe / nlist < 0.02


@settings(max_examples=300, deadline=None)
@given(st.integers(min_value=1, max_value=10**12))
def test_search_planes_count_bounds(n):
    from engage_spark.queries.llm_similarity import search_planes_count

    p = search_planes_count(n)
    assert 4 <= p <= 24
    # bucket space tracks n/96 between the clamps: occupancy stays
    # within a factor-2 band of the target
    if 96 * 2**4 <= n <= 96 * 2**24:
        assert 2 ** (p - 1) < n / 96 <= 2 ** p


@settings(max_examples=200, deadline=None)
@given(st.integers(min_value=1, max_value=10**11))
def test_param_rules_monotone(n):
    """All four rules are monotone non-decreasing in n — a larger
    corpus never gets a coarser configuration."""
    from engage_spark.queries.llm_similarity import (
        ivf_params,
        lsh_banding_params,
        search_planes_count,
        semdedup_params,
    )

    n2 = n * 2
    assert semdedup_params(n2)[0] >= semdedup_params(n)[0]
    assert ivf_params(n2)[0] >= ivf_params(n)[0]
    assert search_planes_count(n2) >= search_planes_count(n)
    b1, r1 = lsh_banding_params(n)
    b2, r2 = lsh_banding_params(n2)
    assert (b2, r2) >= (b1, r1)


def test_pack_boundaries_are_contiguous_and_conserve_tokens(spark, sf_dir):
    """Structural invariants of x_pack_boundaries: every pack's spans
    start at 0, tile contiguously with no gaps/overlaps, and sum to
    exactly the pack_tokens the sharded packing query reports — the
    properties a masking loader silently depends on."""
    from engage_spark.registry import load_all

    reg = load_all()
    b = reg["x_pack_boundaries"].fn(spark, sf_dir).toPandas()
    packs = reg["x_packed_sequences_sharded"].fn(spark, sf_dir).toPandas()
    for (src, sh, pid), g in b.groupby(["source", "shard_id", "pack_id"]):
        g = g.sort_values("tok_start")
        assert g.tok_start.iloc[0] == 0, (src, sh, pid)
        assert (g.tok_start.iloc[1:].to_numpy()
                == g.tok_end.iloc[:-1].to_numpy()).all(), (src, sh, pid)
    got = b.groupby(["source", "shard_id", "pack_id"])
    spans = (got.tok_end.max() - 0).rename("span_total")
    exp = packs.set_index(["source", "shard_id", "pack_id"]).pack_tokens
    joined = spans.to_frame().join(exp)
    assert (joined.span_total == joined.pack_tokens).all()


def test_elementwise_mean_single_aggregate_at_wide_dim(spark):
    """The centroid recompute must stay ONE aggregate expression at
    production dims — a per-dimension F.avg fan-out generates `dim`
    aggregates and blows past Janino's 64 KB codegen method limit at
    768-4096. Correctness at dim=1024 plus a plan check that the
    aggregate count is dimension-independent."""
    import numpy as np

    from engage_spark.queries.llm_similarity import _elementwise_mean

    dim, rng = 1024, np.random.RandomState(3)
    rows = [(int(i % 4), rng.randn(dim).tolist()) for i in range(40)]
    df = spark.createDataFrame(rows, "g int, v array<double>")
    out = _elementwise_mean(df, ["g"], "v").collect()
    assert len(out) == 4
    got = {r.g: np.asarray(r.c) for r in out}
    arr = np.array([v for _, v in rows])
    grp = np.array([g for g, _ in rows])
    for g in range(4):
        want = np.round(arr[grp == g].mean(axis=0) + 1e-9, 6)
        assert np.allclose(got[g], want, atol=1e-9), f"group {g} mean wrong"
    # dimension-independence of the plan: exactly one avg aggregate
    plan = _elementwise_mean(df, ["g"], "v")._jdf.queryExecution().optimizedPlan().toString()
    assert plan.lower().count("avg(") <= 2, plan  # partial+final, not 1024


# ---------------------------------------------------------------------------
# Degenerate-input properties for the near-dup family (round 9, VERDICT
# r7 item 6): a real crawl guarantees template/boilerplate buckets that
# survive exact dedup, so pair volume must stay O(n) — never C(m,2) —
# and empty/single-token docs must not crash the shingle pipeline.


def test_hot_bucket_cap_identical_corpus_stays_linear(spark):
    """The planted degenerate bucket: m identical docs share all 8 band
    keys, so an uncapped self-join would build C(600,2)=179,700 pairs;
    the cap must short-circuit to exactly m-1 star edges on the min-id
    hub (component-preserving)."""
    from engage_spark.queries.llm_dedup import (
        minhash_candidate_pairs,
        simhash_near_pairs,
    )

    m = 600  # > _HOT_BUCKET_CAP = 256
    ident = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon zeta eta theta") for i in range(m)],
        "doc_id long, text string",
    )
    pairs = minhash_candidate_pairs(ident).collect()
    assert len(pairs) == m - 1, f"{len(pairs)} pairs — quadratic blowup?"
    assert all(r.doc_a == 0 for r in pairs)          # star on the hub
    assert all(r.jaccard == 1.0 for r in pairs)
    assert {r.doc_b for r in pairs} == set(range(1, m))
    sim = simhash_near_pairs(ident).collect()
    assert len(sim) == m - 1 and all(r.doc_a == 0 for r in sim)


def test_hot_bucket_cap_identical_embeddings_stay_linear(spark):
    """Same property for the embedding-LSH path (the last family member
    capped in round 9): m identical vectors land in one bucket per
    band; above the cap the pair volume must be m-1, not C(m,2)."""
    from engage_spark import api

    m = 600
    vec = [0.1 * (j % 7 + 1) for j in range(16)]
    df = spark.createDataFrame(
        [(i, vec) for i in range(m)], "vec_id long, embedding array<double>"
    )
    pairs = api.embed_lsh_near_dup_pairs(
        df, threshold=0.9, bands=4, rows=4, dim=16
    ).collect()
    assert len(pairs) == m - 1, f"{len(pairs)} pairs — quadratic blowup?"
    assert all(r.vec_a == 0 and r.cosine == 1.0 for r in pairs)


def test_all_empty_docs_dedup_without_crash(spark):
    """All-empty corpus: empty shingle sets must not crash the
    signature UDFs; empty docs are mutual duplicates (identical
    normalized text), full pairs under the cap, star edges above it."""
    from engage_spark.queries.llm_dedup import minhash_candidate_pairs

    small = spark.createDataFrame(
        [(i, "") for i in range(20)], "doc_id long, text string"
    )
    got = minhash_candidate_pairs(small).count()
    assert got == 20 * 19 // 2  # C(20,2): under the cap, all pairs
    big = spark.createDataFrame(
        [(i, "") for i in range(300)], "doc_id long, text string"
    )
    assert minhash_candidate_pairs(big).count() == 299  # star above cap


def test_single_token_docs_produce_no_pairs(spark):
    """Distinct single-token docs: no doc reaches shingle length, no
    shared content — zero candidate pairs, zero crashes."""
    from engage_spark.queries.llm_dedup import (
        minhash_candidate_pairs,
        simhash_near_pairs,
    )

    docs = spark.createDataFrame(
        [(i, f"tok{i}") for i in range(50)], "doc_id long, text string"
    )
    assert minhash_candidate_pairs(docs).count() == 0
    assert simhash_near_pairs(docs, max_hamming=2).count() == 0


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 999)),
        min_size=0, max_size=60, unique=True,
    ),
    st.integers(min_value=2, max_value=6),
)
def test_capped_bucket_pairs_matches_reference(bucket_rows, cap):
    """_capped_bucket_pairs == the spec on arbitrary bucket
    memberships: per bucket, all C(m,2) pairs when m <= cap, else
    star edges (min-id hub, m-1 edges); distinct across buckets."""
    from itertools import combinations

    from engage_spark.queries.llm_dedup import _capped_bucket_pairs

    spark = _hyp_spark()
    df = spark.createDataFrame(
        [(b, i) for b, i in bucket_rows] or [(0, 0)],
        "bkey int, doc_id int",
    )
    if not bucket_rows:
        df = df.filter("doc_id < 0")
    got = {
        (r.doc_a, r.doc_b)
        for r in _capped_bucket_pairs(
            df, ["bkey"], "doc_id", "doc_a", "doc_b", cap=cap
        ).collect()
    }
    want = set()
    by_bucket: dict[int, list[int]] = {}
    for b, i in bucket_rows:
        by_bucket.setdefault(b, []).append(i)
    for members in by_bucket.values():
        members = sorted(members)
        if len(members) <= cap:
            want |= set(combinations(members, 2))
        else:
            hub = members[0]
            want |= {(hub, x) for x in members[1:]}
    assert got == want


def _hyp_spark():
    from pyspark.sql import SparkSession

    return SparkSession.getActiveSession() or SparkSession.builder.getOrCreate()


def test_ivfpq_recall_vs_brute_force(spark, sf_dir):
    """True IVF-PQ (residual encoding): recall must track the IVF path
    (same probe sets) despite scanning 8-byte codes — measured 0.74 at
    sf0.001 / 0.72 at sf0.01 vs x3c's 0.74/0.74 and flat-PQ x3e2's
    0.80/0.74 on worst-case random vectors (residuals of random data
    are still random; the residual advantage materializes on clustered
    real embeddings)."""
    from engage_spark.registry import load_all

    reg = load_all()
    exact = {
        (r.query_id, r.neighbor_id)
        for r in reg["x3_topk_cosine_search"].fn(spark, sf_dir).collect()
    }
    got = reg["x3f_ivfpq_residual_search"].fn(spark, sf_dir).collect()
    ivfpq = {(r.query_id, r.neighbor_id) for r in got}
    recall = len(exact & ivfpq) / len(exact)
    assert recall >= 0.6, f"IVF-PQ recall {recall:.2f} too low"
    assert all(r.rank <= 5 for r in got)
    assert all(-1.0 <= r.cosine <= 1.0 for r in got)


def test_ivfpq_search_on_generic_frame(spark):
    """The IVF-PQ facade must follow the data's dimensionality and id
    column names, like pq_topk_search."""
    import numpy as np

    from engage_spark import api

    rng = np.random.RandomState(11)
    rows = [(i, rng.randn(16).tolist()) for i in range(200)]
    df = spark.createDataFrame(rows, "item long, vec array<double>")
    out = api.ivfpq_topk_search(
        df, df.filter("item < 3"), k=4, rerank=20, id_col="item", emb_col="vec"
    ).toPandas()
    assert set(out.columns) == {"query_id", "neighbor_id", "rank", "cosine"}
    assert len(out) == 12 and out["rank"].max() == 4
    assert (out.groupby("query_id")["rank"].max() == 4).all()


def test_pq_families_survive_degenerate_corpora(spark):
    """Identical-vector and all-zero corpora must flow through both PQ
    facades: zero-variance residuals, all-tied argmins, and zero-norm
    normalization passthrough are the degenerate paths (ties resolve to
    the smallest id on every ordering, so output stays deterministic)."""
    from engage_spark import api

    ident = spark.createDataFrame(
        [(i, [0.25] * 16) for i in range(300)],
        "vec_id long, embedding array<double>",
    )
    zero = spark.createDataFrame(
        [(i, [0.0] * 16) for i in range(100)],
        "vec_id long, embedding array<double>",
    )
    for fn in (api.pq_topk_search, api.ivfpq_topk_search):
        out = fn(ident, ident.filter("vec_id < 2"), k=3, rerank=10).collect()
        assert len(out) == 6 and all(r.cosine == 1.0 for r in out)
        assert fn(zero, zero.filter("vec_id < 2"), k=3, rerank=10).count() == 6


def test_minhash_index_lifecycle_build_query_append(spark, tmp_path):
    """Near-dup index: build on the planted corpus, query with a fresh
    near-dup -> matches the planted family; unrelated text -> no match;
    appended docs become queryable."""
    from engage_spark import api

    corpus = spark.createDataFrame(
        [(0, _BASE), (1, _BASE), (2, _NEAR), (3, _OTHER)],
        "doc_id long, text string",
    )
    idx = str(tmp_path / "nd_index")
    assert api.minhash_index_build(corpus, idx) == 4

    probe = spark.createDataFrame(
        [(100, _BASE.replace("quick brown", "swift brown")),
         (101, "completely different words about databases and planes")],
        "doc_id long, text string",
    )
    got = api.minhash_index_query(idx, probe).collect()
    matches = {(r.new_id, r.corpus_id) for r in got}
    assert (100, 0) in matches and (100, 1) in matches
    assert all(r.new_id != 101 for r in got), "unrelated doc matched"
    assert all(r.jaccard >= 0.5 for r in got)

    # append doc 101's text, then an identical probe must match it
    assert api.minhash_index_append(idx, probe.filter("doc_id = 101")) == 1
    again = api.minhash_index_query(
        idx, spark.createDataFrame([(200, "completely different words about "
                                          "databases and planes")],
                                   "doc_id long, text string"),
    ).collect()
    assert {(r.new_id, r.corpus_id) for r in again} == {(200, 101)}
    assert again[0].jaccard == 1.0


def test_bm25_topk_semantics_and_pruning(spark):
    """BM25 facade on arbitrary column names: the doc repeating a rare
    query term outranks docs mentioning it once; a query matching
    nothing returns no rows; max_df_fraction drops ubiquitous terms'
    posting lists (their contribution vanishes)."""
    from engage_spark import api

    docs = spark.createDataFrame(
        [
            (1, "zebra zebra zebra common filler words here"),
            (2, "zebra appears once among common filler words"),
            (3, "entirely unrelated content about databases common"),
            (4, "common common common common common common common"),
        ],
        "id long, body string",
    )
    qs = spark.createDataFrame([(10, "zebra")], "qid long, qtext string")
    got = api.bm25_topk(
        docs, qs, k=3, id_col="id", text_col="body",
        query_id_col="qid", query_text_col="qtext",
    ).collect()
    assert [r.doc_id for r in sorted(got, key=lambda r: r.rank)] == [1, 2]
    assert got[0].score > 0

    # no matching term -> empty result, not an error
    none = api.bm25_topk(
        docs,
        spark.createDataFrame([(11, "quasar")], "qid long, qtext string"),
        id_col="id", text_col="body",
        query_id_col="qid", query_text_col="qtext",
    )
    assert none.count() == 0

    # 'common' is in 4/4 docs; pruning at 0.5 removes its posting list
    pruned = api.bm25_topk(
        docs,
        spark.createDataFrame([(12, "common zebra")], "qid long, qtext string"),
        k=4, id_col="id", text_col="body",
        query_id_col="qid", query_text_col="qtext",
        max_df_fraction=0.5,
    ).collect()
    assert sorted(r.doc_id for r in pruned) == [1, 2]  # docs 3,4 only match 'common'

    # r16 (ADVICE r15): with pruning on, the 1-row stats scalar feeds
    # TWO broadcast sites and exchange reuse does not unify them — a
    # checkpoint must be in the plan so the corpus aggregate runs once;
    # a local checkpoint, so nothing stays in the session's cache
    spark.catalog.clearCache()
    plan = (
        api.bm25_topk(
            docs,
            spark.createDataFrame([(12, "zebra")], "qid long, qtext string"),
            id_col="id", text_col="body",
            query_id_col="qid", query_text_col="qtext",
            max_df_fraction=0.5,
        )._jdf.queryExecution().executedPlan().toString()
    )
    assert "Scan ExistingRDD" in plan
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_hybrid_retrieval_example_composes_end_to_end(spark, tmp_path):
    """The examples/ hybrid-retrieval script runs over real testdata:
    both fused lists produce rows and the IVF-PQ leg's fused ranking
    substantially agrees with the exact-cosine leg's."""
    from examples.hybrid_retrieval import run

    out = run(spark, "/root/testdata/sf0.001", str(tmp_path / "work"))
    assert out["lexical_rows"] > 0 and out["fused_rows"] > 0
    assert out["fused_overlap"] >= 0.6, out
    assert 0.4 <= out["index_recall_at_10"] <= 1.0, out


def test_hybrid_search_fuses_lexical_and_semantic(spark):
    """One-call hybrid: a doc matching the query ONLY lexically and a
    doc matching ONLY semantically both surface; a doc matching both
    ranks first."""
    import numpy as np

    from engage_spark import api

    rng = np.random.RandomState(3)
    q_vec = rng.randn(16)
    both_vec = q_vec + 0.01 * rng.randn(16)
    sem_vec = q_vec + 0.02 * rng.randn(16)
    far1, far2 = rng.randn(16), rng.randn(16)
    corpus = spark.createDataFrame(
        [
            (1, "quantum harmonics resonate in the crystal lattice",
             both_vec.tolist()),                      # lexical + semantic
            (2, "completely different topic entirely here today",
             sem_vec.tolist()),                       # semantic only
            (3, "quantum harmonics also appear in this text body",
             far1.tolist()),                          # lexical only
            (4, "unrelated filler about cooking pasta slowly tonight",
             far2.tolist()),                          # neither
        ],
        "doc_id long, text string, embedding array<double>",
    )
    qs = spark.createDataFrame(
        [(10, "quantum harmonics", q_vec.tolist())],
        "query_id long, query_text string, query_embedding array<double>",
    )
    got = sorted(
        api.hybrid_search(corpus, qs, k=4).collect(), key=lambda r: r.rank
    )
    ids = [r.doc_id for r in got]
    assert ids[0] == 1, f"doc matching both modalities should win: {ids}"
    assert 2 in ids and 3 in ids, f"single-modality docs must surface: {ids}"


def test_rrf_fuse_prefers_items_in_multiple_lists(spark):
    """RRF semantics: an item ranked mid-list by BOTH retrievers beats
    an item ranked first by only one (1/61+1/62 > 1/60 + nothing at
    k0=60 for adjacent ranks); ties break by doc_id."""
    from engage_spark import api

    a = spark.createDataFrame(
        [(1, 100, 1), (1, 200, 2)], "query_id long, doc_id long, rank long"
    )
    b = spark.createDataFrame(
        [(1, 200, 1), (1, 300, 2)], "query_id long, doc_id long, rank long"
    )
    got = sorted(
        api.rrf_fuse([a, b], k0=60, k=3).collect(), key=lambda r: r.rank
    )
    assert [r.doc_id for r in got] == [200, 100, 300]
    # doc 200: 1/62 + 1/61 ; doc 100: 1/61 ; doc 300: 1/62
    assert got[0].rrf_score > got[1].rrf_score > got[2].rrf_score


def test_minhash_index_delete_revive_vacuum(spark, tmp_path):
    """Takedown flow (r9 VERDICT item 5): a deleted document stops
    matching immediately (tombstone anti-join), re-appending it
    revives it, and vacuum applies the removal physically and clears
    the tombstones."""
    from engage_spark import api

    corpus = spark.createDataFrame(
        [(0, _BASE), (1, _BASE), (2, _OTHER)], "doc_id long, text string"
    )
    idx = str(tmp_path / "nd_del")
    api.minhash_index_build(corpus, idx)
    probe = spark.createDataFrame(
        [(100, _BASE)], "doc_id long, text string"
    )

    before = {r.corpus_id for r in api.minhash_index_query(idx, probe).collect()}
    assert before == {0, 1}
    assert api.minhash_index_delete(idx, [0], spark=spark) == 1
    after = {r.corpus_id for r in api.minhash_index_query(idx, probe).collect()}
    assert after == {1}, "deleted doc still retrievable"

    # re-append doc 0: the tombstone must be dropped, not suppress it
    api.minhash_index_append(idx, corpus.filter("doc_id = 0"))
    revived = {r.corpus_id for r in api.minhash_index_query(idx, probe).collect()}
    assert revived == {0, 1}, "re-appended doc still tombstoned"

    # delete again, vacuum: rows physically gone, tombstones cleared
    api.minhash_index_delete(idx, [1], spark=spark)
    stats = api.minhash_index_vacuum(spark, idx)
    assert stats["tombstones"] == 1
    ids_left = {
        r.doc_id for r in spark.read.parquet(f"{idx}/hashes").collect()
    }
    assert 1 not in ids_left and 0 in ids_left
    bands_left = {
        r.doc_id for r in spark.read.parquet(f"{idx}/bands").collect()
    }
    assert 1 not in bands_left
    import os

    assert not os.path.exists(f"{idx}/tombstones")
    final = {r.corpus_id for r in api.minhash_index_query(idx, probe).collect()}
    assert final == {0}


def test_embed_index_delete_and_vacuum(spark, tmp_path):
    """Semantic-index takedown: same tombstone -> revive -> vacuum
    contract as the minhash index."""
    import numpy as np

    from engage_spark import api

    rng = np.random.RandomState(7)
    vecs = [rng.randn(64) for _ in range(60)]
    corpus = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    idx = str(tmp_path / "emb_del")
    api.embed_index_build(corpus, idx, dim=64)
    probe = spark.createDataFrame(
        [(500, vecs[3].tolist())], "vec_id long, embedding array<double>"
    )
    assert {
        r.corpus_id
        for r in api.embed_index_query(idx, probe, threshold=0.9).collect()
    } == {3}
    api.embed_index_delete(idx, [3], spark=spark)
    assert (
        api.embed_index_query(idx, probe, threshold=0.9).count() == 0
    ), "deleted vector still retrievable"
    api.embed_index_append(idx, corpus.filter("vec_id = 3"))
    assert {
        r.corpus_id
        for r in api.embed_index_query(idx, probe, threshold=0.9).collect()
    } == {3}
    api.embed_index_delete(idx, [3], spark=spark)
    assert api.embed_index_vacuum(spark, idx)["tombstones"] == 1
    assert (
        spark.read.parquet(f"{idx}/vectors").filter("vec_id = 3").count() == 0
    )


def test_minhash_index_query_caps_hot_corpus_buckets(spark, tmp_path):
    """A degenerate corpus bucket (300 identical template docs) must
    answer a matching query with ONE representative (the min-id hub),
    not 300 fan-out rows."""
    from engage_spark import api

    tmpl = "identical template page body repeated across the whole crawl today"
    corpus = spark.createDataFrame(
        [(i, tmpl) for i in range(300)], "doc_id long, text string"
    )
    idx = str(tmp_path / "hot_index")
    api.minhash_index_build(corpus, idx)
    got = api.minhash_index_query(
        idx,
        spark.createDataFrame([(999, tmpl)], "doc_id long, text string"),
    ).collect()
    assert len(got) == 1, f"hot bucket fanned out to {len(got)} rows"
    assert got[0].corpus_id == 0 and got[0].jaccard == 1.0


def test_embed_index_lifecycle_build_query_append(spark, tmp_path):
    """Semantic near-dup index: a perturbed copy of an indexed vector
    matches it; an orthogonal-ish vector doesn't; appends hash under
    the STORED banding config and become queryable."""
    import numpy as np

    from engage_spark import api

    rng = np.random.RandomState(5)
    base_vecs = [rng.randn(64) for _ in range(80)]
    corpus = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(base_vecs)],
        "vec_id long, embedding array<double>",
    )
    idx = str(tmp_path / "emb_index")
    stats = api.embed_index_build(corpus, idx, dim=64)
    assert stats["n_vectors"] == 80 and stats["bands"] >= 4

    near = base_vecs[3] + 0.01 * rng.randn(64)   # ~cos 1.0 with vec 3
    far = rng.randn(64)                           # random: ~cos 0
    probe = spark.createDataFrame(
        [(500, near.tolist()), (501, far.tolist())],
        "vec_id long, embedding array<double>",
    )
    got = api.embed_index_query(idx, probe, threshold=0.8).collect()
    assert {(r.new_id, r.corpus_id) for r in got} == {(500, 3)}
    assert got[0].cosine > 0.95

    # append the far vector; an identical re-probe must now match it
    assert api.embed_index_append(idx, probe.filter("vec_id = 501")) == 1
    again = api.embed_index_query(
        idx,
        spark.createDataFrame(
            [(600, far.tolist())], "vec_id long, embedding array<double>"
        ),
        threshold=0.8,
    ).collect()
    assert {(r.new_id, r.corpus_id) for r in again} == {(600, 501)}
    assert again[0].cosine == 1.0


def test_embed_index_query_caps_hot_corpus_buckets(spark, tmp_path):
    """300 identical indexed vectors answer a matching probe with ONE
    representative row, not 300."""
    from engage_spark import api

    vec = [0.3] * 64
    corpus = spark.createDataFrame(
        [(i, vec) for i in range(300)], "vec_id long, embedding array<double>"
    )
    idx = str(tmp_path / "emb_hot")
    api.embed_index_build(corpus, idx, dim=64)
    got = api.embed_index_query(
        idx,
        spark.createDataFrame(
            [(999, vec)], "vec_id long, embedding array<double>"
        ),
        threshold=0.9,
    ).collect()
    assert len(got) == 1, f"hot bucket fanned out to {len(got)} rows"
    assert got[0].corpus_id == 0 and got[0].cosine == 1.0


def test_minhash_index_revive_purges_stale_content(spark, tmp_path):
    """ADVICE r10 (medium): delete-then-re-append-UPDATED-content must
    not resurrect the taken-down old rows — on revive, the append
    purges the revived ids' stale bands/hashes BEFORE appending the
    fresh ones, so probes matching only the old content no longer hit
    and no duplicate rows inflate buckets."""
    from engage_spark import api

    corpus = spark.createDataFrame(
        [(0, _BASE), (1, _OTHER)], "doc_id long, text string"
    )
    idx = str(tmp_path / "nd_upd")
    api.minhash_index_build(corpus, idx)
    api.minhash_index_delete(idx, [0], spark=spark)
    # re-append doc 0 with REPLACED content (the takedown/update flow)
    api.minhash_index_append(
        idx, spark.createDataFrame([(0, _OTHER)], "doc_id long, text string")
    )
    old_probe = spark.createDataFrame(
        [(100, _BASE)], "doc_id long, text string"
    )
    assert (
        api.minhash_index_query(idx, old_probe).count() == 0
    ), "stale pre-takedown rows resurrected by revive"
    new_probe = spark.createDataFrame(
        [(101, _OTHER)], "doc_id long, text string"
    )
    assert {
        r.corpus_id
        for r in api.minhash_index_query(idx, new_probe).collect()
    } == {0, 1}
    # exactly ONE hashes row per revived id — no duplicates left behind
    assert (
        spark.read.parquet(f"{idx}/hashes").filter("doc_id = 0").count() == 1
    )


def test_tombstones_revive_skips_rewrite_without_intersection(spark, tmp_path):
    """ADVICE r10 (low): an append that revives NOTHING must not
    rewrite the tombstone table (the unconditional rewrite raced a
    concurrent delete's append — a lost takedown). The tombstone
    parquet file set must be untouched after such an append."""
    import os

    from engage_spark import api

    corpus = spark.createDataFrame(
        [(0, _BASE), (1, _OTHER)], "doc_id long, text string"
    )
    idx = str(tmp_path / "nd_noop")
    api.minhash_index_build(corpus, idx)
    api.minhash_index_delete(idx, [0], spark=spark)
    tomb_dir = f"{idx}/tombstones"
    before = sorted(os.listdir(tomb_dir))
    api.minhash_index_append(
        idx, spark.createDataFrame([(7, _NEAR)], "doc_id long, text string")
    )
    assert sorted(os.listdir(tomb_dir)) == before, (
        "no-revive append rewrote the tombstone table"
    )
    probe = spark.createDataFrame([(100, _BASE)], "doc_id long, text string")
    # doc 7 (_NEAR) legitimately matches; tombstoned doc 0 must not
    assert {
        r.corpus_id for r in api.minhash_index_query(idx, probe).collect()
    } == {7}


def test_index_vacuum_preserves_streaming_partition_layout(spark, tmp_path):
    """ADVICE r10 (medium): vacuuming a STREAMING-built (hive run=...
    partitioned) index must keep the partition layout — a flat rewrite
    would drop the 'run' column from discovery reads (silently
    disabling the replay exclusion) and make later per-batch partition
    appends produce a mixed layout Spark may refuse to read."""
    from engage_spark import api
    from engage_spark.queries.llm_dedup import (
        minhash_band_rows,
        minhash_shingle_hashes,
    )

    idx = str(tmp_path / "nd_stream")
    docs0 = spark.createDataFrame(
        [(0, _BASE), (1, _NEAR)], "doc_id long, text string"
    )
    docs1 = spark.createDataFrame([(2, _OTHER)], "doc_id long, text string")
    for part, docs in [("run=abc_batch=0", docs0), ("run=abc_batch=1", docs1)]:
        hashed = minhash_shingle_hashes(docs)
        minhash_band_rows(hashed).write.mode("overwrite").parquet(
            f"{idx}/bands/{part}"
        )
        hashed.write.mode("overwrite").parquet(f"{idx}/hashes/{part}")
    api.minhash_index_delete(idx, [1], spark=spark)
    assert api.minhash_index_vacuum(spark, idx)["tombstones"] == 1
    bands = spark.read.parquet(f"{idx}/bands")
    assert "run" in bands.columns, "vacuum flattened the hive layout"
    assert {
        r.doc_id for r in bands.select("doc_id").distinct().collect()
    } == {0, 2}
    # a later streaming batch's partition append still composes with
    # the vacuumed (escaped-dir) layout
    docs2 = spark.createDataFrame([(3, _BASE)], "doc_id long, text string")
    h2 = minhash_shingle_hashes(docs2)
    minhash_band_rows(h2).write.mode("overwrite").parquet(
        f"{idx}/bands/run=abc_batch=2"
    )
    h2.write.mode("overwrite").parquet(f"{idx}/hashes/run=abc_batch=2")
    after = spark.read.parquet(f"{idx}/bands")
    assert "run" in after.columns
    assert {
        r.doc_id for r in after.select("doc_id").distinct().collect()
    } == {0, 2, 3}


def test_rrf_fuse_rejects_empty_input(spark):
    """ADVICE r10 (low): rrf_fuse([]) must raise a descriptive
    ValueError, not a TypeError from functools.reduce."""
    import pytest as _pytest

    from engage_spark import api

    with _pytest.raises(ValueError, match="at least one ranked list"):
        api.rrf_fuse([])


def test_hybrid_search_ivfpq_leg(spark):
    """hybrid_search(semantic='ivfpq') — the corpus-scale composition
    (the registered x5b path) behind the one-call facade: same output
    contract as the exact leg, k rows per query, and on a corpus small
    enough that IVF-PQ degenerates gracefully the fused winner matches
    the exact mode's. An unknown retriever name raises."""
    import numpy as np

    import pytest as _pytest

    from engage_spark import api

    rng = np.random.RandomState(11)
    q_vec = rng.randn(16)
    texts = [
        "quantum harmonics resonate in the crystal lattice",
        "completely different topic entirely here today",
        "quantum harmonics also appear in this text body",
        "unrelated filler about cooking pasta slowly tonight",
    ]
    vecs = [q_vec + 0.01 * rng.randn(16)] + [rng.randn(16) for _ in range(3)]
    rows = [
        (i + 1, t, v.tolist()) for i, (t, v) in enumerate(zip(texts, vecs))
    ] + [
        (100 + i, f"background document number {i} with filler words",
         rng.randn(16).tolist())
        for i in range(40)
    ]
    corpus = spark.createDataFrame(
        rows, "doc_id long, text string, embedding array<double>"
    )
    qs = spark.createDataFrame(
        [(10, "quantum harmonics", q_vec.tolist())],
        "query_id long, query_text string, query_embedding array<double>",
    )
    exact = api.hybrid_search(corpus, qs, k=4, semantic="exact")
    ann = api.hybrid_search(corpus, qs, k=4, semantic="ivfpq", n_rows=44)
    assert exact.columns == ann.columns
    got = sorted(ann.collect(), key=lambda r: r.rank)
    assert len(got) == 4
    assert got[0].doc_id == sorted(exact.collect(), key=lambda r: r.rank)[0].doc_id
    with _pytest.raises(ValueError, match="unknown semantic retriever"):
        api.hybrid_search(corpus, qs, k=4, semantic="bogus")


def test_batch_append_onto_streaming_partitioned_index(spark, tmp_path):
    """A batch *_append onto a STREAMING-built (run=... partitioned)
    index must not create a mixed flat/partitioned layout — it writes
    a fresh run=manual_<id> partition instead, which the replay
    exclusion treats as committed history. Reads keep the 'run'
    column and queries see old + new documents."""
    from engage_spark import api
    from engage_spark.queries.llm_dedup import (
        minhash_band_rows,
        minhash_shingle_hashes,
    )

    idx = str(tmp_path / "nd_mixed")
    docs0 = spark.createDataFrame([(0, _BASE)], "doc_id long, text string")
    hashed = minhash_shingle_hashes(docs0)
    minhash_band_rows(hashed).write.mode("overwrite").parquet(
        f"{idx}/bands/run=abc_batch=0"
    )
    hashed.write.mode("overwrite").parquet(f"{idx}/hashes/run=abc_batch=0")
    # batch maintenance append onto the streaming layout
    api.minhash_index_append(
        idx, spark.createDataFrame([(5, _OTHER)], "doc_id long, text string")
    )
    bands = spark.read.parquet(f"{idx}/bands")
    assert "run" in bands.columns, "batch append flattened the layout"
    runs = {r.run for r in bands.select("run").distinct().collect()}
    assert any(r.startswith("manual_") for r in runs), runs
    probe = spark.createDataFrame(
        [(100, _BASE), (101, _OTHER)], "doc_id long, text string"
    )
    got = {
        (r.new_id, r.corpus_id)
        for r in api.minhash_index_query(idx, probe).collect()
    }
    assert got == {(100, 0), (101, 5)}
