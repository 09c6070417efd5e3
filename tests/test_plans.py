"""Physical-plan shape assertions — the scale contract, pinned.

Correctness tests prove the numbers match; these prove the PLAN is the
one that survives 100 TB: filters reach the parquet scan, small dims
broadcast instead of shuffling, aggregates combine map-side, candidate
generation never degenerates to a cross product. A regression here is
invisible at test scale and fatal at cluster scale, which is exactly
why it's asserted mechanically.
"""

from __future__ import annotations

import pytest


def _plan(spark, sf_dir, qname: str) -> str:
    from engage_spark.registry import load_all

    df = load_all()[qname].fn(spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_and_projection_reach_the_scan(spark, sf_dir):
    plan = _plan(spark, sf_dir, "s1_scan_filter_project")
    assert "PushedFilters: [" in plan
    # pushdown is real, not an empty list
    assert "PushedFilters: []" not in plan
    # column pruning: the unused comment/address columns never leave parquet
    assert "l_comment" not in plan


def test_dim_join_broadcasts_not_shuffles(spark, sf_dir):
    plan = _plan(spark, sf_dir, "j6_broadcast_dim_join")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_q1_aggregates_partially_before_exchange(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q1_pricing_summary")
    # partial (map-side) + final HashAggregate around one exchange
    assert plan.count("HashAggregate") >= 2
    assert "partial_" in plan


def test_topk_search_reduces_before_the_window_exchange(spark, sf_dir):
    plan = _plan(spark, sf_dir, "x3_topk_cosine_search")
    # scoring + the map-side partial top-k live in ONE pass (r15: the
    # query matrix rides the closure; scoring is a BLAS matmul per
    # Arrow batch) — no join of any kind in the plan, so the corpus
    # crosses the Python boundary once and never shuffles pre-reduce
    assert "MapInPandas" in plan
    assert "Join" not in plan  # no broadcast, no SMJ, no cartesian
    assert "SortMergeJoin" not in plan


def test_minhash_never_degenerates_to_cross_product(spark, sf_dir):
    plan = _plan(spark, sf_dir, "x2_minhash_lsh_dedup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_decontamination_broadcasts_the_eval_ngrams(spark, sf_dir):
    plan = _plan(spark, sf_dir, "x_decontaminate")
    assert "BroadcastHashJoin" in plan


def test_mixture_plan_broadcasts_the_totals_row(spark, sf_dir):
    plan = _plan(spark, sf_dir, "x_mixture_plan")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


@pytest.mark.parametrize(
    "qname",
    ["q1_pricing_summary", "j1_inner_join_multikey", "a2_a3_groupby_sum_max"],
)
def test_no_python_in_relational_hot_paths(spark, sf_dir, qname):
    plan = _plan(spark, sf_dir, qname)
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                   "FlatMapGroupsInPandas"):
        assert marker not in plan, f"{qname} plan contains {marker}"


def test_repetition_metrics_are_map_only(spark, sf_dir):
    # per-doc counting: no shuffle beyond the small-scan spread — the
    # whole point vs the oracle's explode->groupBy (one shuffled row
    # per corpus token). Python IS expected: one Arrow-batched numpy
    # kernel (interpreted JVM folds measured 6x slower, llm_text.py).
    plan = _plan(spark, sf_dir, "x_gopher_repetition")
    assert "ArrowEvalPython" in plan or "PythonUDF" in plan
    # the only exchange allowed is the round-robin small-scan spread —
    # never a hash/range repartition of per-doc data
    import re

    assert not re.search(r"Exchange (hash|range)partitioning", plan)


def test_quantization_is_map_only_jvm(spark, sf_dir):
    plan = _plan(spark, sf_dir, "x_embed_quantize")
    assert "Exchange" not in plan
    assert "Python" not in plan and "MapInPandas" not in plan


def test_pivot_is_one_exchange_with_partial_agg(spark, sf_dir):
    plan = _plan(spark, sf_dir, "ext_pivot_wide")
    # explicit value list => no hidden distinct-scan discovery job.
    # Spark plans pivot as two-phase: (key, pivot-col) agg, then
    # pivotfirst by key — the second exchange carries only
    # (priorities x statuses) rows. Both phases combine map-side.
    assert plan.count("Exchange") == 2
    assert plan.count("partial_") >= 2


def test_brp_similarity_join_never_cross_products(spark, sf_dir):
    plan = _plan(spark, sf_dir, "x3d_mllib_brp_ann")
    assert "CartesianProduct" not in plan


def test_curation_funnel_is_single_pass(spark, sf_dir):
    plan = _plan(spark, sf_dir, "x_curation_pipeline")
    # the 5-stage attrition table must come from ONE corpus scan — a
    # per-stage count would show one FileScan per stage
    assert plan.count("FileScan") == 1
    # exactly two exchanges: the fingerprint window + the final 1-row agg
    assert plan.count("Exchange") == 2
    # column pruning: text/doc_id/n_chars only — embeddings etc. never read
    assert "ReadSchema: struct<doc_id:bigint,text:string,n_chars:bigint>" in plan


def test_doc_chunking_is_map_only_jvm(spark, sf_dir):
    # sequence + explode + slice all inside codegen: chunking 100 TB is
    # one pass at scan speed — no shuffle, no Python
    plan = _plan(spark, sf_dir, "x_doc_chunking")
    assert "Exchange" not in plan
    assert "Python" not in plan and "MapInPandas" not in plan


def test_vocab_topk_takes_ordered_not_global_sort(spark, sf_dir):
    # the top-K cut must be TakeOrderedAndProject (per-partition heaps,
    # K rows per partition cross the wire) — a global Sort+Limit would
    # range-shuffle the whole vocabulary
    plan = _plan(spark, sf_dir, "x_vocab_topk")
    assert "TakeOrderedAndProject" in plan
    assert "partial_" in plan  # counts combine map-side before the shuffle


def test_shard_manifest_is_one_aggregation_exchange(spark, sf_dir):
    plan = _plan(spark, sf_dir, "x_shard_manifest")
    assert plan.count("Exchange") == 1
    assert "partial_" in plan
    assert "Python" not in plan


def test_span_dedup_never_shuffles_span_text(spark, sf_dir):
    # the dedup decision moves (doc_id, ci, md5) rows; the only
    # exchange that may carry text is the final join back to source.
    # Mechanically: every hashpartitioning exchange on fp/doc_id, no
    # cartesian, no span-text partitioning key
    plan = _plan(spark, sf_dir, "x_span_dedup")
    assert "CartesianProduct" not in plan
    assert "hashpartitioning(span" not in plan
    assert "Python" not in plan


def test_token_encode_broadcasts_the_vocab(spark, sf_dir):
    # the corpus token stream must never shuffle for the id lookup —
    # the K-row vocab broadcasts; the only full shuffle is the per-doc
    # reassembly, and the chunked two-level aggregation must REUSE the
    # one repartition(doc_id) (exactly one doc_id exchange, not one
    # per aggregation level)
    import re

    plan = _plan(spark, sf_dir, "x_token_encode")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "Python" not in plan
    assert len(re.findall(r"Exchange hashpartitioning\(doc_id", plan)) == 1


def test_packed_sequences_no_cartesian_no_python(spark, sf_dir):
    plan = _plan(spark, sf_dir, "x_packed_sequences_exact_order")
    assert "CartesianProduct" not in plan
    assert "Python" not in plan


def test_bigram_perplexity_is_all_jvm_with_partial_aggs(spark, sf_dir):
    # bigrams derive map-side from the token array (no per-doc window),
    # counts partial-aggregate before their shuffles, the V scalar
    # broadcasts, and nothing drops to Python or a cross product
    plan = _plan(spark, sf_dir, "x_bigram_perplexity")
    assert "Python" not in plan
    assert "CartesianProduct" not in plan
    assert "partial_" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_sharded_packing_window_partitions_by_shard(spark, sf_dir):
    # the 100 TB contract of x_packed_sequences_sharded: the pack-
    # assignment cumsum window must partition by (source, shard_id) —
    # n_sources x n_shards concurrent tasks — never by source alone
    # (which funnels each source's whole corpus through one task)
    import re

    plan = _plan(spark, sf_dir, "x_packed_sequences_sharded")
    assert re.search(
        r"hashpartitioning\(source#\d+, shard_id#\d+", plan
    ), "pack-assignment exchange must hash on BOTH source and shard_id"
    assert "CartesianProduct" not in plan
    assert "Python" not in plan

    # and the hash scheme actually spreads: every shard id materializes
    from engage_spark.registry import load_all

    df = load_all()["x_packed_sequences_sharded"].fn(spark, sf_dir)
    n_shards = df.select("shard_id").distinct().count()
    assert n_shards == 8


def test_incremental_dedup_anti_join_carries_fingerprints_only(spark, sf_dir):
    # admission = window + LEFT ANTI against the fingerprint store:
    # no cartesian/BNL degeneration, no Python, and the anti join must
    # stay a hash join (broadcast or shuffled) on the md5 key
    plan = _plan(spark, sf_dir, "x_incremental_dedup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Python" not in plan
    assert "LeftAnti" in plan


def test_mixture_materialize_broadcasts_factors(spark, sf_dir):
    # per-source factors derive from single-row aggregates and join
    # back by BROADCAST; the copy fan-out is codegen explode — one
    # corpus-sized map pass, no sort-merge join, no Python
    plan = _plan(spark, sf_dir, "x_mixture_materialize")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "Python" not in plan
    assert "CartesianProduct" not in plan


def test_semdedup_pair_join_is_clustered_equi_join(spark, sf_dir):
    # SemDeDup's tractability claim, pinned: within-cluster pair
    # generation must be an equi-join on cluster_id (shuffled or
    # broadcast hash), NEVER a cartesian/BNL all-pairs expansion. The
    # Arrow-batched assignment kernel runs ONCE (localCheckpoint) —
    # its three consumers read the materialized result — so the only
    # Python in the final plan is the single Arrow-vectorized cosine
    # verify over the bucket-bounded candidate set
    plan = _plan(spark, sf_dir, "x_semdedup_prune")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("ArrowEvalPython") == 1


def test_line_dedup_blocklist_broadcasts(spark, sf_dir):
    # the C4 line filter's scale contract: the only corpus-sized
    # exchange is the partial-agg'd line-frequency count; the blocklist
    # reduces to ONE row that joins back by BROADCAST, and removal +
    # reassembly is a higher-order array filter — document text never
    # shuffles and nothing degenerates to a sort-merge or cartesian
    plan = _plan(spark, sf_dir, "x_line_dedup")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Python" not in plan


def test_pq_adc_scan_broadcasts_lookup_table_no_cartesian(spark, sf_dir):
    # PQ-ADC's scale contract: the corpus-sized side of the search is
    # the CODE table; the query lookup table (queries x M x K rows)
    # joins onto it by BROADCAST hash on (m, cid) — never sort-merge,
    # never a cartesian — and the shortlist re-rank joins raw vectors
    # by id only for queries x C rows
    plan = _plan(spark, sf_dir, "x3e2_pq_adc_search")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ivf_probe_join_is_equi_join_no_cartesian(spark, sf_dir):
    # IVF's tractability claim: query-probe to corpus-list matching is
    # an equi-join on list_id over bounded candidate sets — never a
    # cartesian/BNL expansion — and the only Python is the Arrow
    # assignment/probe kernels (cosine ranking stays JVM)
    plan = _plan(spark, sf_dir, "x3c_ivf_ann_search")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" not in plan


def test_ivfpq_adc_scan_broadcasts_probed_tables_no_cartesian(spark, sf_dir):
    # IVF-PQ's scale contract (x3f): the corpus-sized side is the
    # residual CODE table; the per-(query, probed-list) lookup table
    # (queries x nprobe x M x K rows) joins onto it by BROADCAST hash
    # on (lid, m, cid) — never sort-merge, never a cartesian — so
    # vectors in non-probed lists are dropped by the join itself
    plan = _plan(spark, sf_dir, "x3f_ivfpq_residual_search")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_tombstone_filter_is_broadcast_anti_join(spark, tmp_path):
    """Takedown scale contract: the tombstone exclusion on an index
    query must be a BROADCAST left-anti join (tombstones are bounded
    by takedowns since the last vacuum) — a shuffled anti-join would
    re-shuffle the corpus-sized index table per query."""
    from engage_spark import api

    docs = spark.createDataFrame(
        [(i, f"document number {i} about shared topic words here")
         for i in range(30)],
        "doc_id long, text string",
    )
    idx = str(tmp_path / "ts_idx")
    api.minhash_index_build(docs, idx)
    api.minhash_index_delete(idx, [3, 4], spark=spark)
    q = api.minhash_index_query(
        idx,
        spark.createDataFrame(
            [(99, "document number 3 about shared topic words here")],
            "doc_id long, text string",
        ),
    )
    plan = q._jdf.queryExecution().executedPlan().toString()
    # both index tables (bands + hashes) carry the exclusion
    assert plan.count("LeftAnti, BuildRight") + plan.count(
        "BroadcastHashJoin"
    ) >= 2
    assert "SortMergeJoin LeftAnti" not in plan


def test_index_queries_join_buckets_never_cartesian(spark, tmp_path):
    """The persisted near-dup indexes' query path must stay an
    equi-join on the bucket key — a cartesian against the stored bands
    would be the 100 TB failure mode."""
    from engage_spark import api

    docs = spark.createDataFrame(
        [(i, f"document number {i} about topic {i % 5} with shared words")
         for i in range(40)],
        "doc_id long, text string",
    )
    midx = str(tmp_path / "m_idx")
    api.minhash_index_build(docs, midx)
    mq = api.minhash_index_query(
        midx,
        spark.createDataFrame([(99, "document number 1 about topic 1 "
                                     "with shared words")],
                              "doc_id long, text string"),
    )
    mplan = mq._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in mplan
    assert "BroadcastNestedLoopJoin" not in mplan

    import numpy as np

    rng = np.random.RandomState(2)
    vecs = spark.createDataFrame(
        [(i, rng.randn(64).tolist()) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    eidx = str(tmp_path / "e_idx")
    api.embed_index_build(vecs, eidx, dim=64)
    # probe ids must be column expressions, not literals: a constant
    # id lets Catalyst fold the equi-condition to TRUE and plan a
    # harmless 1-row cartesian, which would false-flag this assert
    eq = api.embed_index_query(
        eidx,
        vecs.filter("vec_id < 2").selectExpr("vec_id + 900 as vec_id",
                                             "embedding"),
    )
    eplan = eq._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in eplan
    assert "BroadcastNestedLoopJoin" not in eplan


def test_upsert_survivor_scan_prunes_to_touched_partitions(spark, tmp_path):
    """The merge's survivors scan must read ONLY the partitions the
    batch touches: the null-safe tuple filter lands in the parquet
    scan's PartitionFilters, so at 100 TB the batch cost is
    O(touched partitions), not a full-corpus read."""
    import functools
    import operator

    from pyspark.sql import functions as F

    tgt = str(tmp_path / "pruned")
    df = spark.range(2000).selectExpr(
        "id", "cast(id % 20 as string) as part"
    )
    df.write.partitionBy("part").parquet(tgt)
    t = spark.read.parquet(tgt)
    touched = [{"part": "3"}, {"part": "7"}]
    cond = functools.reduce(
        operator.or_,
        [t["part"].eqNullSafe(F.lit(r["part"])) for r in touched],
    )
    plan = t.filter(cond)._jdf.queryExecution().executedPlan().toString()
    # the null-safe equality is a partition filter, not a post-scan one
    import re

    pf = re.search(r"PartitionFilters: \[(.*?)\]", plan)
    assert pf and "<=>" in pf.group(1)
    assert "DataFilters: []" in plan


def test_upsert_key_antijoin_broadcasts(spark, tmp_path):
    """The survivors anti-join must broadcast the (small) update-key
    side — never shuffle the corpus slice on the key."""
    from pyspark.sql import functions as F

    from engage_spark.io import upsert_dataset  # noqa: F401  (shape twin)

    tgt = str(tmp_path / "bc")
    spark.range(5000).selectExpr(
        "id", "cast(id % 4 as string) as part"
    ).write.partitionBy("part").parquet(tgt)
    t = spark.read.parquet(tgt)
    ukeys = spark.range(10).withColumnRenamed("id", "__u_id")
    sliced = t.filter(t["part"].eqNullSafe(F.lit("1")))
    surv = sliced.join(
        F.broadcast(ukeys), sliced["id"].eqNullSafe(ukeys["__u_id"]), "left_anti"
    )
    plan = surv._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


def test_semdedup_assignment_is_cogrouped_no_full_broadcast(spark, sf_dir):
    # r11 two-level assignment contract: the vector-to-centroid match
    # is a COGROUPED Arrow gemm keyed on (coarse cell, salt) — the k
    # centroids reach vectors through the shuffle, never a cartesian /
    # BNL expansion, and the only collected+broadcast state is the
    # ~sqrt(k) coarse seed set (a Python broadcast variable, invisible
    # to the plan — pinned instead by the coarse_stride filter below)
    from engage_spark.api import semdedup_assignments
    from engage_spark.queries.llm_similarity import table

    e = table(spark, sf_dir, "embeddings")
    a = semdedup_assignments(e, n_rows=e.count())
    plan = a._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapCoGroupsInPandas" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_delete_vector_read_is_broadcast_anti_join(spark, tmp_path, monkeypatch):
    # the deletion-vector read path's scale contract: a sidecar too
    # large for a literal filter (bounded by takedowns since the last
    # vacuum) joins the scan by BROADCAST left-anti — never a
    # shuffled/sort-merge join of the corpus against its own takedowns.
    # _DELETES_LITERAL_MAX is lowered so two keys take that path.
    from pyspark.sql import functions as F

    import engage_spark.io as eio
    from engage_spark.io import delete_rows, read_with_deletes

    monkeypatch.setattr(eio, "_DELETES_LITERAL_MAX", 1)
    p = str(tmp_path / "dv_plan")
    spark.range(500).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("a")
    ).write.parquet(p)
    delete_rows(spark, p, [1, 2], "k")
    plan = read_with_deletes(spark, p)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "SortMergeJoin" not in plan


def test_small_delete_vector_read_is_a_pushed_literal_filter(spark, tmp_path):
    # a takedown-sized sidecar costs no join at all: its keys become a
    # NULL-keeping NOT IN literal filter that reaches the parquet scan
    import re

    from pyspark.sql import functions as F

    from engage_spark.io import delete_rows, read_with_deletes
    from engage_spark.versioning import read_version, version_log_enable

    p = str(tmp_path / "dv_lit")
    spark.range(500).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("a")
    ).write.parquet(p)
    version_log_enable(spark, p)
    delete_rows(spark, p, [1, 2], "k")
    for df in (read_with_deletes(spark, p), read_version(spark, p, 2)):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Join" not in plan
        assert re.search(r"PushedFilters: \[[^\]]*Or\(IsNull\(k\),Not\(In\(k", plan), (
            plan[:2000]
        )
        assert sorted(r.k for r in df.filter(F.col("k") < 5).collect()) == [0, 3, 4]


def test_delete_vector_read_preserves_pushdown(spark, tmp_path):
    # a user predicate composed on top of read_with_deletes must still
    # reach the parquet scan (Catalyst pushes filters through the
    # anti-join's preserved side) — the sidecar must not cost scan
    # pruning
    from pyspark.sql import functions as F

    from engage_spark.io import delete_rows, read_with_deletes

    p = str(tmp_path / "dv_push")
    spark.range(1000).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("a")
    ).write.parquet(p)
    delete_rows(spark, p, [1, 2], "k")
    df = read_with_deletes(spark, p).filter(F.col("a") > 3)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the pushed filter names the user predicate's column (the list
    # may hold bracketed entries, e.g. the delete keys' In(k, [1,2]))
    import re

    assert re.search(
        r"PushedFilters: \[(?:[^\[\]]|\[[^\]]*\])*GreaterThan\(a,3\)", plan
    ), plan[:2000]


def test_read_version_preserves_pushdown_and_broadcast_deletes(
    spark, tmp_path, monkeypatch
):
    # TIME TRAVEL keeps the parquet contract: a predicate composed on
    # read_version must reach the scan (the explicit file-list read is
    # still a pruned columnar scan, not a materialized snapshot), and
    # that version's deletion vectors, when too many for a literal
    # filter, apply as a BROADCAST anti-join — the same scale shape as
    # the live read_with_deletes path (_DELETES_LITERAL_MAX is lowered so
    # two keys take that path)
    import re

    from pyspark.sql import functions as F

    import engage_spark.io as eio

    monkeypatch.setattr(eio, "_DELETES_LITERAL_MAX", 1)

    from engage_spark.io import delete_rows, zorder_write
    from engage_spark.versioning import read_version, version_log_enable

    p = str(tmp_path / "tt_plan")
    df = spark.range(2000).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("a"),
        (F.col("id") % 11).alias("b"),
    )
    zorder_write(spark, df, p, ["a", "b"], bits=8, num_files=2)
    version_log_enable(spark, p)                                   # v1
    delete_rows(spark, p, [1, 2], "k")                             # v2
    plan = (
        read_version(spark, p, 2)
        .filter(F.col("a") > 3)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert re.search(r"PushedFilters: \[[^\]]*GreaterThan\(a,3\)", plan), (
        plan[:2000]
    )
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "SortMergeJoin" not in plan


def test_read_version_partition_pruning_on_partitioned_dataset(
    spark, tmp_path
):
    """Time travel on a hive-partitioned dataset prunes partitions
    exactly like a live read: a predicate on the partition column
    lands in the scan's PartitionFilters and the scan reads only the
    matching directories — the resolved historical URIs keep their
    col=val/ structure, so directory-level pruning survives the
    relative-path log."""
    import re

    from pyspark.sql import functions as F

    from engage_spark.io import append_dataset, delete_rows
    from engage_spark.versioning import read_version, version_log_enable

    p = str(tmp_path / "ttp_plan")
    df = spark.range(3000).select(
        F.col("id").alias("k"), (F.col("id") % 5).alias("g"),
        (F.col("id") % 11).alias("b"),
    )
    df.filter(F.col("k") % 2 == 0).write.partitionBy("g").parquet(p)
    version_log_enable(spark, p)                                   # v1
    append_dataset(
        spark, df.filter(F.col("k") % 2 == 1), p, partition_by=["g"]
    )                                                              # v2
    delete_rows(spark, p, [1, 2], "k")                             # v3
    q = read_version(spark, p, 3).filter(F.col("g") == 2)
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"PartitionFilters: \[[^\]]*\(g[^\)]*= 2\)", plan) or (
        "PartitionFilters: [isnotnull(g" in plan
    ), plan[:2000]
    # the pruned read returns exactly partition g=2's rows (inputFiles
    # would list the pre-pruning FileIndex, so the plan's
    # PartitionFilters line above is the pruning pin)
    assert q.count() == df.filter(F.col("g") == 2).count() - 1  # k=2 deleted


def test_version_diff_never_cartesian(spark, tmp_path):
    # the only-changed-files diff is anti-joins + broadcast key
    # probes — a cartesian/nested-loop anywhere would be corpus x
    # corpus at scale
    from pyspark.sql import functions as F

    from engage_spark.io import delete_rows, zorder_append, zorder_write
    from engage_spark.versioning import version_diff, version_log_enable

    p = str(tmp_path / "vd_plan")
    df = spark.range(2000).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("a"),
        (F.col("id") % 11).alias("b"),
    )
    zorder_write(spark, df, p, ["a", "b"], bits=8, num_files=2)
    version_log_enable(spark, p)                                   # v1
    zorder_append(
        spark,
        spark.range(2000, 2500).select(
            F.col("id").alias("k"), (F.col("id") % 7).alias("a"),
            (F.col("id") % 11).alias("b"),
        ),
        p, num_files=1,
    )                                                              # v2
    delete_rows(spark, p, [1, 2], "k")                             # v3
    plan = (
        version_diff(spark, p, 1, 3)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bucketed_join_has_no_exchange(spark, sf_dir, tmp_path):
    # the whole point of the bucketed layout: a fact-fact join on the
    # bucket key must run with ZERO shuffle on either side — at 100 TB
    # the exchange this removes is the dominant cost of the join
    from pyspark.sql import functions as F

    from engage_spark.io import write_bucketed

    df = spark.range(5000).select(
        F.col("id").alias("k"), (F.col("id") % 13).alias("a")
    )
    write_bucketed(
        spark, df, "tp_bleft", ["k"], 4, path=str(tmp_path / "bleft")
    )
    write_bucketed(
        spark, df.withColumn("b", F.col("k") % 17), "tp_bright", ["k"], 4,
        path=str(tmp_path / "bright"),
    )
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("tp_bleft").join(spark.table("tp_bright"), "k")
        plan = joined._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    assert "Exchange hashpartitioning" not in plan, plan[:2000]
    # both scans consume the bucket spec
    assert plan.count("SelectedBucketsCount: 4 out of 4") == 2, plan[:2000]
    # a bucket-key groupBy likewise skips its exchange (the write
    # already distributed by the key)
    agg_plan = (
        spark.table("tp_bleft")
        .groupBy("k").agg(F.sum("a"))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange hashpartitioning" not in agg_plan, agg_plan[:2000]
    assert "HashAggregate" in agg_plan or "SortAggregate" in agg_plan


def test_change_feed_delete_probe_pushes_keys_to_scan(spark, tmp_path):
    # the CDF logical_delete branch must push the (bounded) key batch
    # into the parquet scan as an In literal — footer pruning skips
    # clean files, so draining a takedown costs touched files only
    import re

    from pyspark.sql import functions as F

    from engage_spark.io import delete_rows, zorder_write
    from engage_spark.versioning import read_changes, version_log_enable

    p = str(tmp_path / "cdf_plan")
    df = spark.range(2000).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("a"),
        (F.col("id") % 11).alias("b"),
    )
    zorder_write(spark, df, p, ["a", "b"], bits=8, num_files=2)
    version_log_enable(spark, p)                                   # v1
    delete_rows(spark, p, [5, 6, 7], "k")                          # v2
    plan = (
        read_changes(spark, p, 1)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert re.search(r"PushedFilters: \[[^\]]*In\(k, ", plan), plan[:2000]
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
