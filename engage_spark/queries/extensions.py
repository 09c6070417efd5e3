"""Engine extensions beyond the reference surface — the operators
SURVEY.md §2 marks "available free in Spark if we extend" (§2.4
grouping sets / sketches, §2.5 rank/ntile/RANGE frames) plus the
scale patterns a 100 TB deployment leans on (salted skew joins,
MLlib TF-IDF). No reference counterpart; cited as extensions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from engage_spark.io import table
from engage_spark.registry import query

# ---------------------------------------------------------------------------
# Grouping sets / rollup / cube (§2.4 extension)


@query(
    "ext_rollup_revenue",
    oracle="""
    SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
           coalesce(l_linestatus, 'ALL') AS linestatus,
           count(*)::BIGINT AS n,
           round(sum(l_extendedprice) + 1e-9, 2) AS revenue
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    covers=["A1"],
)
def ext_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals in one pass — Spark expands the grouping
    sets into a single shuffle (one exchange, not one per level)."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_extendedprice") + 1e-9, 2).alias("revenue"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "n",
            "revenue",
        )
    )


@query(
    "ext_cube_order_stats",
    oracle="""
    SELECT coalesce(o_orderstatus, 'ALL') AS status,
           coalesce(o_orderpriority, 'ALL') AS priority,
           count(*)::BIGINT AS n
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    covers=["A1"],
)
def ext_cube_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over two dimensions — all 4 grouping sets in one shuffle."""
    o = table(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "n",
        )
    )


# ---------------------------------------------------------------------------
# Ranking / RANGE frames (§2.5 extension)


@query(
    "ext_rank_dense_ntile",
    oracle="""
    SELECT user_id, event_id,
           rank() OVER w::BIGINT AS rnk,
           dense_rank() OVER w::BIGINT AS drnk,
           ntile(4) OVER w::BIGINT AS quartile
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY value DESC, event_id)
    """,
    covers=["W1"],
)
def ext_rank_dense_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank / dense_rank / ntile over a per-user value ordering."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("value"), "event_id")
    return ev.select(
        "user_id",
        "event_id",
        F.rank().over(w).cast("long").alias("rnk"),
        F.dense_rank().over(w).cast("long").alias("drnk"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
    )


@query(
    "ext_range_frame_sum",
    oracle="""
    SELECT user_id, event_id, value,
           round(sum(value) OVER (
               PARTITION BY user_id ORDER BY value
               RANGE BETWEEN 5 PRECEDING AND CURRENT ROW
           ) + 1e-9, 4) AS near_sum
    FROM events
    """,
    covers=["W1"],
)
def ext_range_frame_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame (value-based, not row-based): sum of all rows whose
    value lies within 5 below the current row's value."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("value").rangeBetween(-5, 0)
    return ev.select(
        "user_id",
        "event_id",
        "value",
        F.round(F.sum("value").over(w) + 1e-9, 4).alias("near_sum"),
    )


# ---------------------------------------------------------------------------
# Percentiles / sketches (§2.4 extension)


@query(
    "ext_exact_percentiles",
    oracle="""
    SELECT event_type,
           round(quantile_cont(value, 0.5) + 1e-9, 4) AS p50,
           round(quantile_cont(value, 0.9) + 1e-9, 4) AS p90,
           round(quantile_cont(value, 0.99) + 1e-9, 4) AS p99
    FROM events GROUP BY event_type
    """,
    covers=["A5"],
)
def ext_exact_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact (interpolated) percentiles per group — Spark `percentile`
    matches SQL-standard continuous quantiles. At 100 TB you'd switch
    to percentile_approx (t-digest sketch, see ext_approx_sketches)."""
    ev = table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        *[
            F.round(F.expr(f"percentile(value, {q})") + 1e-9, 4).alias(f"p{int(q*100)}")
            for q in (0.5, 0.9, 0.99)
        ]
    )


@query("ext_approx_sketches", oracle=None, covers=["A5", "A9"])
def ext_approx_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch aggregates — the 100 TB substitutes for exact distinct /
    quantiles: HLL++ approx_count_distinct (fixed-size state, no
    distinct shuffle) and approximate percentiles. Sketch internals
    differ from DuckDB's → rows-only; pytest bounds the error vs exact."""
    ev = table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
        F.percentile_approx("value", 0.5, 10000).alias("approx_p50"),
        F.count(F.lit(1)).alias("n"),
    )


# ---------------------------------------------------------------------------
# Skew handling: salted join (SURVEY §7.3 "skew")


@query(
    "ext_salted_skew_join",
    oracle="""
    SELECT e.event_type, count(*)::BIGINT AS n,
           round(sum(e.value * d.weight) + 1e-9, 4) AS weighted
    FROM events e
    JOIN (SELECT 'click' AS event_type, 2.0 AS weight UNION ALL
          SELECT 'view', 1.0 UNION ALL
          SELECT 'purchase', 5.0 UNION ALL
          SELECT 'scroll', 0.5 UNION ALL
          SELECT 'hover', 0.25) d
      ON e.event_type = d.event_type
    GROUP BY e.event_type
    """,
    covers=["J6"],
)
def ext_salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salting demo: a low-cardinality hot join key (event_type — every
    row hits one of 5 keys) is exploded with a salt on the small side
    and salted on the fact side, spreading each hot key over 8
    partitions instead of 1. AQE's skew-join split handles moderate
    skew automatically; explicit salting is the belt-and-braces form
    for pathological keys, verified here against the unsalted oracle."""
    n_salt = 8
    ev = table(spark, sf_dir, "events").withColumn(
        "salt", F.pmod(F.xxhash64("event_id"), F.lit(n_salt)).cast("int")
    )
    from engage_spark.session import local_frame

    dim = local_frame(
        spark,
        [("click", 2.0), ("view", 1.0), ("purchase", 5.0),
         ("scroll", 0.5), ("hover", 0.25)],
        "event_type string, weight double",
    ).withColumn("salt", F.explode(F.array(*[F.lit(i) for i in range(n_salt)])))
    joined = ev.join(dim, on=["event_type", "salt"])
    return joined.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum(F.col("value") * F.col("weight")) + 1e-9, 4).alias("weighted"),
    )


# ---------------------------------------------------------------------------
# MLlib TF-IDF (§2.12 X4)


@query("x4_tfidf_pipeline", oracle=None, covers=["X4"])
def x4_tfidf_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MLlib text pipeline: Tokenizer → StopWordsRemover → HashingTF →
    IDF. Returns (doc_id, n_terms, top_weight) — scalar summaries of the
    vector column so the output survives Arrow. Deterministic (hashing
    TF has no RNG); rows-only since DuckDB has no TF-IDF."""
    from pyspark.ml.feature import IDF, HashingTF, StopWordsRemover, Tokenizer

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = Tokenizer(inputCol="text", outputCol="words").transform(docs)
    filtered = StopWordsRemover(inputCol="words", outputCol="terms").transform(toks)
    tf = HashingTF(inputCol="terms", outputCol="tf", numFeatures=1 << 12).transform(
        filtered
    )
    idf_model = IDF(inputCol="tf", outputCol="tfidf").fit(tf)
    out = idf_model.transform(tf)

    # vector -> array stays JVM-side (no Python round trip); array_max of
    # an empty vector's array is NULL, coalesced to 0.0 like the old UDF.
    from pyspark.ml.functions import vector_to_array

    top = F.coalesce(F.array_max(vector_to_array("tfidf")), F.lit(0.0))
    return out.select(
        "doc_id",
        F.size("terms").cast("long").alias("n_terms"),
        F.round(top, 6).alias("top_tfidf"),
    )


# MLlib's default English stop-word list (StopWordsRemover
# .loadDefaultStopWords("english"), 181 words) frozen here so the
# x4_tfidf_terms DuckDB oracle reproduces the removal without a JVM.
_MLLIB_EN_STOPWORDS: tuple[str, ...] = (
    'i', 'me', 'my', 'myself', 'we', 'our', 'ours', 'ourselves',
    'you', 'your', 'yours', 'yourself', 'yourselves', 'he', 'him', 'his',
    'himself', 'she', 'her', 'hers', 'herself', 'it', 'its', 'itself',
    'they', 'them', 'their', 'theirs', 'themselves', 'what', 'which', 'who',
    'whom', 'this', 'that', 'these', 'those', 'am', 'is', 'are',
    'was', 'were', 'be', 'been', 'being', 'have', 'has', 'had',
    'having', 'do', 'does', 'did', 'doing', 'a', 'an', 'the',
    'and', 'but', 'if', 'or', 'because', 'as', 'until', 'while',
    'of', 'at', 'by', 'for', 'with', 'about', 'against', 'between',
    'into', 'through', 'during', 'before', 'after', 'above', 'below', 'to',
    'from', 'up', 'down', 'in', 'out', 'on', 'off', 'over',
    'under', 'again', 'further', 'then', 'once', 'here', 'there', 'when',
    'where', 'why', 'how', 'all', 'any', 'both', 'each', 'few',
    'more', 'most', 'other', 'some', 'such', 'no', 'nor', 'not',
    'only', 'own', 'same', 'so', 'than', 'too', 'very', 's',
    't', 'can', 'will', 'just', 'don', 'should', 'now', "i'll",
    "you'll", "he'll", "she'll", "we'll", "they'll", "i'd", "you'd", "he'd",
    "she'd", "we'd", "they'd", "i'm", "you're", "he's", "she's", "it's",
    "we're", "they're", "i've", "we've", "you've", "they've", "isn't", "aren't",
    "wasn't", "weren't", "haven't", "hasn't", "hadn't", "don't", "doesn't", "didn't",
    "won't", "wouldn't", "shan't", "shouldn't", "mustn't", "can't", "couldn't", 'cannot',
    'could', "here's", "how's", "let's", 'ought', "that's", "there's", "what's",
    "when's", "where's", "who's", "why's", 'would',
)

_MLLIB_SW_SQL = ", ".join(
    "'" + w.replace("'", "''") + "'" for w in _MLLIB_EN_STOPWORDS
)


_TFIDF_NF = 1 << 12  # HashingTF bucket count (shared with the md5 twin)


@query(
    "x4c_tfidf_md5",
    # The weighting half of the TF-IDF pipeline made oracle-checkable
    # (x4_tfidf_terms already pins the tokenize/stopword half): the
    # murmur3 hashing trick is swapped for md5-mod-N buckets, which
    # DuckDB computes too, and everything else — term counting into
    # buckets, MLlib's idf = ln((n+1)/(df+1)), tf*idf, per-doc max —
    # is exact double arithmetic on both engines. Oracle = the full
    # pipeline in SQL over the same Java-split/stopword twin as
    # x4_tfidf_terms.
    oracle=f"""
    WITH t AS (
      SELECT doc_id, text,
             rtrim(lower(text), ' ' || chr(9) || chr(10) || chr(11)
                                    || chr(12) || chr(13)) AS rt
      FROM documents
    ),
    toks AS (
      SELECT doc_id,
             CASE WHEN length(text) > 0 AND length(rt) = 0 THEN []::VARCHAR[]
                  ELSE list_filter(
                      regexp_split_to_array(rt, '[ \t\n\x0b\f\r]'),
                      tok -> tok NOT IN ({_MLLIB_SW_SQL})) END AS terms
      FROM t
    ),
    base AS (SELECT doc_id, terms, len(terms)::BIGINT AS n_terms FROM toks),
    n AS (SELECT count(*) AS nd FROM base),
    tb AS (
      SELECT doc_id,
             ('0x' || substr(md5(term),1,8))::BIGINT % {_TFIDF_NF} AS bucket
      FROM (SELECT doc_id, unnest(terms) AS term FROM base)
    ),
    tf AS (SELECT doc_id, bucket, count(*) AS tf FROM tb GROUP BY doc_id, bucket),
    dfx AS (SELECT bucket, count(DISTINCT doc_id) AS df FROM tf GROUP BY bucket),
    w AS (
      SELECT tf.doc_id, tf.tf * ln((n.nd + 1.0)/(dfx.df + 1.0)) AS w
      FROM tf JOIN dfx USING (bucket), n
    ),
    agg AS (SELECT doc_id, max(w) AS topw FROM w GROUP BY doc_id)
    SELECT b.doc_id, b.n_terms,
           round(coalesce(a.topw, 0.0) + 1e-9, 6) AS top_tfidf
    FROM base b LEFT JOIN agg a ON a.doc_id = b.doc_id
    """,
    covers=["X4"],
)
def x4c_tfidf_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF with md5-mod-N bucket hashing — the oracle-checkable twin
    of x4_tfidf_pipeline (real MLlib Tokenizer + StopWordsRemover feed
    a hand-rolled-but-equivalent hashing-TF-IDF whose bucket hash both
    engines can compute; murmur3 stays the registered MLlib fast
    path). Same output contract: (doc_id, n_terms, top_tfidf).

    Scale shape: term->bucket is map-side; the tf count and df count
    partial-aggregate; idf needs ONE scalar (the doc count — a catalog
    statistic at scale, one count job here) broadcast into the weight
    expression; per-doc max is the final partial-agg'd shuffle. No
    Python anywhere."""
    from pyspark.ml.feature import StopWordsRemover, Tokenizer

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = Tokenizer(inputCol="text", outputCol="words").transform(docs)
    filtered = StopWordsRemover(inputCol="words", outputCol="terms").transform(toks)
    base = filtered.select(
        "doc_id", "terms", F.size("terms").cast("long").alias("n_terms")
    )
    # bounded driver scalar: the corpus doc count (catalog statistic)
    n_docs = base.count()
    tb = base.select(
        "doc_id", "n_terms", F.explode_outer("terms").alias("term")
    ).withColumn(
        "bucket",
        F.when(
            F.col("term").isNotNull(),
            F.expr(
                f"cast(conv(substr(md5(term),1,8),16,10) as bigint) % {_TFIDF_NF}"
            ),
        ),
    )
    tf = tb.groupBy("doc_id", "n_terms", "bucket").agg(
        F.count(F.when(F.col("bucket").isNotNull(), 1)).alias("tf")
    )
    df_tab = (
        tf.filter(F.col("bucket").isNotNull())
        .groupBy("bucket")
        .agg(F.countDistinct("doc_id").alias("df"))
    )
    w = tf.join(df_tab, "bucket", "left").withColumn(
        "w", F.col("tf") * F.log((F.lit(n_docs) + 1) / (F.col("df") + 1))
    )
    return w.groupBy("doc_id", "n_terms").agg(
        F.round(F.coalesce(F.max("w"), F.lit(0.0)) + 1e-9, 6).alias("top_tfidf")
    ).select("doc_id", "n_terms", "top_tfidf")




@query(
    "x4_tfidf_terms",
    # Exact SQL twin of Tokenizer + StopWordsRemover term COUNTING:
    # Java's split("\\s") keeps interior empty tokens but drops
    # trailing ones — equivalently, right-trim the whitespace before a
    # keep-empties split; the split class is written out because
    # RE2's \\s lacks \\x0B, which Java's \\s includes (rtrim's char
    # set is the same Java class:
    # space \t \n \x0B \f \r). Empty tokens are not stopwords, so
    # they count as terms on both sides. One residue: Java maps an
    # all-separator NON-empty string to [] but the empty string to
    # [''] — the CASE guard reproduces that asymmetry.
    oracle=f"""
    WITH t AS (
        SELECT doc_id, text,
               rtrim(lower(text),
                     ' ' || chr(9) || chr(10) || chr(11)
                         || chr(12) || chr(13)) AS rt
        FROM documents
    )
    SELECT doc_id,
           CASE WHEN length(text) > 0 AND length(rt) = 0 THEN 0
                ELSE len(list_filter(
                    regexp_split_to_array(rt, '[ \\t\\n\\x0b\\f\\r]'),
                    tok -> tok NOT IN ({_MLLIB_SW_SQL})
                ))
           END::BIGINT AS n_terms
    FROM t
    """,
    covers=["X4"],
)
def x4_tfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL-expressible half of x4_tfidf_pipeline, split out so the
    tokenize -> stopword-removal stage gets a full driver hash check
    (the hashed TF-IDF weights themselves stay rows-only in the parent
    query — DuckDB has no hashing-TF twin). Same MLlib Tokenizer +
    StopWordsRemover stages; returns (doc_id, n_terms)."""
    from pyspark.ml.feature import StopWordsRemover, Tokenizer

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = Tokenizer(inputCol="text", outputCol="words").transform(docs)
    filtered = StopWordsRemover(inputCol="words", outputCol="terms").transform(toks)
    return filtered.select(
        "doc_id", F.size("terms").cast("long").alias("n_terms")
    )


@query("x4b_quality_classifier", oracle=None, covers=["X4"])
def x4b_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering — the classifier stage of CC-style
    curation, bootstrapped exactly the way production quality
    classifiers are: weak labels from a heuristic rule (here the
    funnel's length + stopword-density gate), a linear model trained to
    DISTILL the rule into a smooth score from correlated-but-held-out
    features (the rule's direct inputs, n_chars and stopword ratio, are
    excluded from the feature vector), then corpus-wide scoring. The
    score ranks borderline documents instead of the rule's hard cut.
    Returns (doc_id, quality_score, quality_pred).

    Scale: feature assembly is codegen'd expressions; LogisticRegression
    fits via distributed L-BFGS (each iteration one treeAggregate pass —
    gradient partials combine map-side, driver state is just the
    coefficient vector); scoring re-expresses the fitted sigmoid as
    NATIVE column arithmetic (coefficients are a handful of driver
    floats), so the corpus-wide pass stays inside whole-stage codegen
    with no ScalaUDF — model.transform's UDF closure would drag the
    model's trainingSummary (and through it the SparkSession) into task
    serialization, which Spark 4.1's non-serializable ObservationManager
    rejects. Deterministic (no sampling, fixed init); rows-only driver
    check with an AUC-bound pytest."""
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import VectorAssembler

    from engage_spark.api import _ws_tokens
    from engage_spark.queries.llm_text import _LANG_MARKERS, _STOPWORDS

    d = (
        table(spark, sf_dir, "documents")
        .select("doc_id", "text", "n_chars")
        # tokenize ONCE; the ratio expressions below all read this
        # materialized column instead of re-splitting text per feature
        .withColumn("__toks", _ws_tokens("text"))
    )
    n_toks = F.greatest(F.size("__toks"), F.lit(1))

    def hit_ratio(words) -> F.Column:
        # occurrence count WITH multiplicity — the same counting the
        # funnel's gate uses (distinct-coverage via array_intersect
        # saturates at len(lexicon) and goes structurally to 0 for
        # long docs)
        hits = F.size(F.filter(F.col("__toks"), lambda t: t.isin(*sorted(words))))
        return (hits / n_toks).cast("double")

    marker_cols = {f"r_{lg}": hit_ratio(ws) for lg, ws in _LANG_MARKERS.items()}
    rule = (
        F.coalesce(F.col("n_chars"), F.lit(0)).between(100, 20000)
        & (hit_ratio(_STOPWORDS) >= 0.01)
    )
    feats = d.select(
        "doc_id",
        F.size("__toks").cast("double").alias("n_toks"),
        (F.length(F.coalesce(F.col("text"), F.lit(""))) / n_toks)
        .cast("double")
        .alias("mean_tok_len"),
        *[c.alias(name) for name, c in marker_cols.items()],
        rule.cast("double").alias("label"),
    )
    assembled = VectorAssembler(
        inputCols=["n_toks", "mean_tok_len", *marker_cols],
        outputCol="features",
    ).transform(feats)
    model = LogisticRegression(
        maxIter=25, regParam=0.01, featuresCol="features", labelCol="label"
    ).fit(assembled)
    # score natively: margin = w·x + b in MLlib's summation order
    # (feature-index dots first, intercept last), sigmoid via exp —
    # the whole scoring pass is one codegen'd projection
    weights = [float(w) for w in model.coefficients.toArray()]
    feat_names = ["n_toks", "mean_tok_len", *marker_cols]
    margin = None
    for name, w in zip(feat_names, weights):
        term = F.col(name) * F.lit(w)
        margin = term if margin is None else margin + term
    margin = margin + F.lit(float(model.intercept))
    score = F.lit(1.0) / (F.lit(1.0) + F.exp(-margin))
    # binary prediction at the default 0.5 threshold == sign(margin)
    return feats.select(
        "doc_id",
        F.round(score, 6).alias("quality_score"),
        (margin > 0).cast("long").alias("quality_pred"),
    )


# ---------------------------------------------------------------------------
# MLlib LSH twins (§2.12: the SURVEY-named primitives, as cross-checks
# of the hand-built banding/hyperplane paths)


@query(
    "x2c_mllib_minhash_join",
    # Exact DuckDB twin of the FULL LSH result — legitimate because
    # approxSimilarityJoin is SOUND BY CONSTRUCTION (it recomputes the
    # exact Jaccard distance on every bucket candidate and filters by
    # the threshold, so no false pair can appear), and recall at both
    # driver scales is exactly 1.0 (verified sf0.001 + sf0.01;
    # deterministic: seed=42, same data → same buckets). A recall or
    # soundness regression therefore surfaces as a rowcount/hash
    # mismatch — the hard signal we want. The twin reproduces MLlib
    # Tokenizer's Java split('\s') semantics (interior empty tokens
    # kept, trailing dropped — same technique as the x4_tfidf_terms
    # oracle), NGram(3) space-joined grams, set-distinct, Jaccard.
    oracle=r"""
    WITH t AS (
      SELECT doc_id,
             rtrim(lower(text), ' ' || chr(9) || chr(10) || chr(11)
                                    || chr(12) || chr(13)) AS rt,
             lower(text) AS lt
      FROM documents
    ),
    toks AS (
      SELECT doc_id,
             CASE WHEN length(lt) > 0 AND length(rt) = 0 THEN []::VARCHAR[]
                  ELSE regexp_split_to_array(rt, '[ \t\n\x0b\f\r]') END AS w
      FROM t
    ),
    grams AS (
      SELECT doc_id,
             list_distinct([ w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                             for i in range(1, len(w)-1) ]) AS g
      FROM toks
      WHERE len(w) >= 3
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           round(1.0 - len(list_intersect(a.g, b.g))::DOUBLE
                       / len(list_distinct(a.g || b.g)), 6) AS jaccard_distance
    FROM grams a JOIN grams b ON a.doc_id < b.doc_id
    WHERE 1.0 - len(list_intersect(a.g, b.g))::DOUBLE
                / len(list_distinct(a.g || b.g)) <= 0.5
    """,
    covers=["X2"],
)
def x2c_mllib_minhash_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs via MLlib MinHashLSH.approxSimilarityJoin — the
    primitive SURVEY §2.12 X2 names. Pipeline: Tokenizer → NGram(3) →
    HashingTF (binary; MinHash needs set semantics) → MinHashLSH join at
    Jaccard distance <= 0.5. Cross-checks the hand-built banding path
    (x2_minhash_lsh_dedup): pytest asserts every exact-Jaccard >= 0.7
    pair is found by both. Returns (doc_a, doc_b, jaccard_distance).
    Seeded → deterministic; FULL exact-SQL oracle (upgraded r6 from
    rows-only — see the oracle comment for why an LSH join can carry
    an exact oracle: soundness by construction + verified recall 1.0
    at driver scales)."""
    from pyspark.ml.feature import HashingTF, MinHashLSH, NGram, Tokenizer

    from engage_spark.io import spread_small_scan

    docs = spread_small_scan(
        spark,
        table(spark, sf_dir, "documents").select("doc_id", F.lower("text").alias("text")),
    )
    toks = Tokenizer(inputCol="text", outputCol="words").transform(docs)
    grams = NGram(n=3, inputCol="words", outputCol="grams").transform(toks)
    # binary=True: presence/absence vector — MinHash is defined on sets
    tf = HashingTF(
        inputCol="grams", outputCol="features", numFeatures=1 << 18, binary=True
    ).transform(grams).filter(F.expr("aggregate(grams, 0, (a, x) -> a + 1) > 0"))
    model = MinHashLSH(
        inputCol="features", outputCol="hashes", numHashTables=8, seed=42
    ).fit(tf)
    joined = model.approxSimilarityJoin(tf, tf, 0.5, distCol="jaccard_distance")
    return (
        joined.filter(F.col("datasetA.doc_id") < F.col("datasetB.doc_id"))
        .select(
            F.col("datasetA.doc_id").alias("doc_a"),
            F.col("datasetB.doc_id").alias("doc_b"),
            F.round("jaccard_distance", 6).alias("jaccard_distance"),
        )
    )


@query("x3d_mllib_brp_ann", oracle=None, covers=["X3"])
def x3d_mllib_brp_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via MLlib BucketedRandomProjectionLSH (the SURVEY §2.12 X3
    scale primitive): embeddings are L2-normalized so Euclidean
    bucketing orders like cosine (||a-b||² = 2-2cos on the unit
    sphere), then ONE distributed `approxSimilarityJoin` of the query
    subset against the corpus and a per-query top-k window over the
    bucket-pruned candidates. Seeded → deterministic; rows-only driver
    check; recall vs exact top-k is pytest-asserted. Complements the
    hand-built sign-bit LSH (x3b) and IVF (x3c) paths.

    Earlier form looped `approxNearestNeighbors` per query vector on
    the driver — 10 sequential Spark jobs, and a shape that degrades
    linearly with query count. The similarity join is a single plan for
    any number of queries: both sides hash, candidates pair only
    within matching buckets (never all-pairs), and the ranking
    exchange carries only bucket-pruned candidate rows. The distance
    threshold (cos >= 0.0 ⇒ d <= sqrt(2)) only prunes pairs the top-k
    could never keep."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH, Normalizer
    from pyspark.ml.functions import array_to_vector

    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", array_to_vector(F.col("embedding").cast("array<double>")).alias("raw")
    )
    normed = Normalizer(inputCol="raw", outputCol="features", p=2.0).transform(e)
    model = BucketedRandomProjectionLSH(
        inputCol="features", outputCol="hashes", bucketLength=0.5,
        numHashTables=4, seed=42,
    ).fit(normed)
    queries = normed.filter(F.col("vec_id") < 10)
    joined = model.approxSimilarityJoin(
        queries, normed, threshold=1.4142135, distCol="dist"
    ).filter(F.col("datasetA.vec_id") != F.col("datasetB.vec_id"))
    w = Window.partitionBy("query_id").orderBy(F.col("dist"), F.col("neighbor_id"))
    return (
        joined.select(
            F.col("datasetA.vec_id").alias("query_id"),
            F.col("datasetB.vec_id").alias("neighbor_id"),
            F.col("dist"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select(
            "query_id",
            "neighbor_id",
            F.round(1.0 - F.pow(F.col("dist"), 2) / 2.0, 6).alias("cosine"),
        )
    )


@query(
    "x3d2_brp_highrecall_agreement",
    # Exact brute-force cosine top-5 in SQL. Legitimate as a FULL
    # oracle for an LSH path because (a) approxSimilarityJoin computes
    # exact distances on candidates (sound — no false neighbor), and
    # (b) at numHashTables=16 the OR-amplified recall is exactly 1.0
    # at both driver scales (verified sf0.001 + sf0.01; deterministic,
    # seed=42). A recall drop → missing rows → hash mismatch: the
    # agreement between the ANN path and exact top-k IS what this
    # query checks.
    oracle=r"""
    WITH n AS (
      SELECT vec_id,
             list_transform(embedding,
                 x -> x / sqrt(list_sum(list_transform(embedding, y -> y*y)))) AS u
      FROM embeddings
    ),
    q AS (SELECT * FROM n WHERE vec_id < 10),
    pairs AS (
      SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
             list_sum(list_transform(range(1, len(q.u)+1),
                                     i -> q.u[i] * n.u[i])) AS cos
      FROM q, n WHERE q.vec_id != n.vec_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, cos,
             row_number() OVER (
                 PARTITION BY query_id
                 ORDER BY sqrt(greatest(2 - 2*cos, 0)), neighbor_id) AS rn
      FROM pairs
    )
    SELECT query_id, neighbor_id, round(1.0 - (2 - 2*cos)/2.0, 6) AS cosine
    FROM ranked WHERE rn <= 5
    """,
    covers=["X3"],
)
def x3d2_brp_highrecall_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ANN recall/cost knob made oracle-checkable: the same BRP-LSH
    top-5 pipeline as x3d_mllib_brp_ann but at numHashTables=16 (4× the
    tables of the cheap config), where OR-amplification reaches recall
    1.0 on the driver corpora — so the result must EQUAL the exact
    brute-force top-5 and carries its exact-SQL oracle. Together the
    pair (x3d at 4 tables rows-only+pytest recall bound, this at 16
    tables hash-oracled) documents the accuracy/cost trade-off an ANN
    deployment tunes. Same single-plan shape: one bucket-pruned
    similarity join for ALL queries, per-query top-5 window over
    candidates only."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH, Normalizer
    from pyspark.ml.functions import array_to_vector

    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", array_to_vector(F.col("embedding").cast("array<double>")).alias("raw")
    )
    normed = Normalizer(inputCol="raw", outputCol="features", p=2.0).transform(e)
    model = BucketedRandomProjectionLSH(
        inputCol="features", outputCol="hashes", bucketLength=0.5,
        numHashTables=16, seed=42,
    ).fit(normed)
    queries = normed.filter(F.col("vec_id") < 10)
    joined = model.approxSimilarityJoin(
        queries, normed, threshold=1.4142135, distCol="dist"
    ).filter(F.col("datasetA.vec_id") != F.col("datasetB.vec_id"))
    w = Window.partitionBy("query_id").orderBy(F.col("dist"), F.col("neighbor_id"))
    return (
        joined.select(
            F.col("datasetA.vec_id").alias("query_id"),
            F.col("datasetB.vec_id").alias("neighbor_id"),
            F.col("dist"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select(
            "query_id",
            "neighbor_id",
            F.round(1.0 - F.pow(F.col("dist"), 2) / 2.0, 6).alias("cosine"),
        )
    )


# ---------------------------------------------------------------------------
# Pivot — wide reshape (long -> one column per category value)


@query(
    "ext_pivot_wide",
    oracle="""
    SELECT o_orderpriority,
           round(sum(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END) + 1e-9, 2)
               AS status_F,
           round(sum(CASE WHEN o_orderstatus = 'O' THEN o_totalprice END) + 1e-9, 2)
               AS status_O,
           round(sum(CASE WHEN o_orderstatus = 'P' THEN o_totalprice END) + 1e-9, 2)
               AS status_P,
           count(*)::BIGINT AS n_orders
    FROM orders
    GROUP BY o_orderpriority
    """,
    covers=["A2"],
)
def ext_pivot_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot to wide: revenue per order priority broken out by order
    status (`groupBy().pivot(values).agg`). The value list is passed
    EXPLICITLY — without it Spark runs an extra distinct-scan job over
    the pivot column to discover categories before planning, a full
    corpus pass at 100 TB. With explicit values this is one scan and
    one shuffle of (priorities x statuses) partial aggregates, same
    cost as the equivalent conditional-aggregation form the oracle
    uses. Cells with no rows stay NULL on both engines."""
    o = table(spark, sf_dir, "orders")
    piv = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(
            F.sum("o_totalprice").alias("rev"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    return piv.select(
        "o_orderpriority",
        F.round(F.col("F_rev") + 1e-9, 2).alias("status_F"),
        F.round(F.col("O_rev") + 1e-9, 2).alias("status_O"),
        F.round(F.col("P_rev") + 1e-9, 2).alias("status_P"),
        (
            F.coalesce(F.col("F_n"), F.lit(0))
            + F.coalesce(F.col("O_n"), F.lit(0))
            + F.coalesce(F.col("P_n"), F.lit(0))
        ).alias("n_orders"),
    )


@query(
    "ext_unpivot_long",
    oracle="""
    SELECT o_orderpriority, o_orderstatus AS status,
           round(sum(o_totalprice) + 1e-9, 2) AS revenue
    FROM orders GROUP BY o_orderpriority, o_orderstatus
    """,
    covers=["A2"],
)
def ext_unpivot_long(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt) back to long: the wide pivot output reshaped with
    `DataFrame.unpivot`, which must round-trip to the plain two-key
    groupBy the oracle computes. Absent (priority, status) cells are
    NULL in the wide form and dropped here, matching the groupBy's
    absent rows. Unpivot is a zero-shuffle projection (each wide row
    explodes to <= 3 long rows map-side)."""
    o = table(spark, sf_dir, "orders")
    wide = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.round(F.sum("o_totalprice") + 1e-9, 2))
    )
    return (
        wide.unpivot(
            ids=["o_orderpriority"],
            values=["F", "O", "P"],
            variableColumnName="status",
            valueColumnName="revenue",
        )
        .filter(F.col("revenue").isNotNull())
    )


@query(
    "ext_kmv_distinct_md5",
    # same estimator in SQL: md5-60bit uniform hashes, k smallest per
    # group, (k-1)/u_(k). 63.0 * 2^60 is exactly double-representable
    # (6 mantissa bits), so both engines run identical IEEE ops; the
    # +1e-9 nudge is the repo's round-tie convention.
    oracle="""
    WITH dv AS (SELECT DISTINCT event_type, user_id FROM events),
    h AS (
      SELECT event_type,
             ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT AS hv
      FROM dv
    ),
    r AS (
      SELECT event_type, hv,
             row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rn
      FROM h
    ),
    g AS (
      SELECT event_type, count(*)::BIGINT AS kept,
             max(CASE WHEN rn = 64 THEN hv END) AS kth
      FROM r WHERE rn <= 64 GROUP BY event_type
    ),
    x AS (
      SELECT event_type, count(DISTINCT user_id)::BIGINT AS exact_distinct
      FROM events GROUP BY event_type
    )
    SELECT g.event_type, g.kept,
           CASE WHEN g.kept < 64 THEN g.kept
                ELSE CAST(round(63.0 * 1152921504606846976 / g.kth + 1e-9)
                          AS BIGINT) END AS est_distinct,
           x.exact_distinct,
           round(abs(CASE WHEN g.kept < 64 THEN g.kept
                          ELSE CAST(round(63.0 * 1152921504606846976 / g.kth
                                          + 1e-9) AS BIGINT) END
                     - x.exact_distinct) * 1.0 / x.exact_distinct
                 + 1e-9, 4) AS rel_err
    FROM g JOIN x ON g.event_type = x.event_type
    """,
    covers=["A5", "A9"],
)
def ext_kmv_distinct_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values) distinct-count sketch, md5-deterministic —
    the hash-verified twin of ext_approx_sketches' HLL++ (whose
    register internals differ from DuckDB's, so that query is
    rows-only; THIS one pins the sketch-estimator math end to end,
    including each group's realized error vs the exact count).

    Estimator: hash distinct values to uniform (0, 2^60) via the repo's
    md5-60bit convention, keep each group's k=64 smallest, estimate
    (k-1) / u_(k) (Bar-Yossef et al.'s KMV; groups with fewer than k
    distinct values are exact by construction). The per-group k-smallest
    is the w5 window idiom here; at 100 TB cardinalities, pre-reduce
    with a deterministic salt (groupBy(group, hv % s) keeping k per
    salt, then re-merge) so the sketch state partial-aggregates
    map-side — or use approx_count_distinct, which IS that shape with
    HLL registers."""
    k = 64
    ev = table(spark, sf_dir, "events")
    dv = ev.select("event_type", "user_id").distinct()
    hv = dv.withColumn(
        "hv",
        F.expr(
            "cast(conv(substr(md5(cast(user_id as string)), 1, 15), 16, 10)"
            " as bigint)"
        ),
    )
    w = Window.partitionBy("event_type").orderBy("hv")
    r = hv.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k)
    g = r.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("kept"),
        F.max(F.when(F.col("rn") == k, F.col("hv"))).alias("kth"),
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("long").alias("exact_distinct")
    )
    est = F.when(F.col("kept") < k, F.col("kept")).otherwise(
        F.round(
            (k - 1) * F.lit(float(1 << 60)) / F.col("kth") + 1e-9
        ).cast("long")
    )
    return (
        g.join(F.broadcast(exact), "event_type")
        .select(
            "event_type",
            "kept",
            est.alias("est_distinct"),
            "exact_distinct",
            F.round(
                F.abs(est - F.col("exact_distinct"))
                / F.col("exact_distinct")
                + 1e-9,
                4,
            ).alias("rel_err"),
        )
    )


# ---------------------------------------------------------------------------
# BM25 lexical retrieval (round-10 extension: the keyword-search
# complement to the x3 embedding searches — together the two halves of
# a hybrid retriever)

_BM25_TOKS_DUCK = r"string_split_regex(lower(trim(text)), '\s+')"
_BM25_CTES = f"""docs_t AS (
  SELECT doc_id, {_BM25_TOKS_DUCK} AS toks FROM documents
),
tf AS (
  SELECT dt.doc_id, len(dt.toks)::BIGINT AS dlen, t.term,
         count(*)::BIGINT AS tf
  FROM docs_t dt, unnest(dt.toks) AS t(term)
  GROUP BY dt.doc_id, len(dt.toks), t.term
),
stats AS (
  SELECT count(*)::DOUBLE AS n_docs, avg(len(toks))::DOUBLE AS avgdl
  FROM docs_t
),
dfr AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term),
q AS (
  SELECT doc_id AS query_id,
         list_slice({_BM25_TOKS_DUCK}, 1, 6) AS qtoks
  FROM documents WHERE doc_id < 3
),
qt AS (SELECT DISTINCT query_id, t.term FROM q, unnest(qtoks) AS t(term)),
contrib AS (
  SELECT qt.query_id, tf.doc_id,
         ln(1 + (s.n_docs - dfr.df + 0.5) / (dfr.df + 0.5))
           * tf.tf * 2.2
           / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dlen / s.avgdl)) AS c
  FROM qt
  JOIN tf USING (term)
  JOIN dfr USING (term), stats s
),
score AS (
  SELECT query_id, doc_id, round(sum(c) + 1e-9, 6) AS score
  FROM contrib GROUP BY query_id, doc_id
),
ranked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (
             PARTITION BY query_id ORDER BY score DESC, doc_id
         ) AS rank
  FROM score
)"""

_BM25_ORACLE = f"""
WITH {_BM25_CTES}
SELECT query_id, doc_id, rank::BIGINT AS rank, score
FROM ranked WHERE rank <= 10
"""


@query("x4d_bm25_topk", oracle=_BM25_ORACLE, covers=["X4"])
def x4d_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-10 retrieval (api.bm25_topk) over the documents
    table; the query set is the first-6-token prefix of docs 0-2 (a
    deterministic, oracle-reproducible query derivation). Whole-path
    hash check: tokenization, posting-list tf, df/idf, the
    length-normalized scoring expression (k1=1.2, b=0.75; 2.2 ==
    1.2+1.0 bit-exactly on both engines), 6dp score rounding BEFORE
    ranking, and the doc_id tie-break. Scale shape documented on the
    facade: corpus scanned once into posting lists, query terms
    broadcast, per-query cost = matched posting lists."""
    from engage_spark import api

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    queries = docs.filter(F.col("doc_id") < 3).select(
        F.col("doc_id").alias("query_id"),
        F.array_join(
            F.slice(F.split(F.lower(F.trim(F.col("text"))), r"\s+"), 1, 6),
            " ",
        ).alias("query_text"),
    )
    return api.bm25_topk(docs, queries, k=10)


# Hybrid retrieval: BM25 ∪ exact-cosine fused by reciprocal rank.
# The cosine half mirrors the x3 oracle (same _COS_DUCK expression);
# ids are shared between `documents` and `embeddings` in the testdata,
# standing in for a corpus with both a text and an embedding column.
def _build_hybrid_oracle() -> str:
    from engage_spark.queries.llm_similarity import _COS_DUCK

    return f"""
WITH {_BM25_CTES},
bm25_top AS (
  SELECT query_id, doc_id, rank FROM ranked WHERE rank <= 10
),
cos_scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS doc_id,
         row_number() OVER (
             PARTITION BY q.vec_id ORDER BY {_COS_DUCK} DESC, c.vec_id
         ) AS rank
  FROM embeddings q JOIN embeddings c
    ON q.vec_id < 3 AND c.vec_id != q.vec_id
),
cos_top AS (SELECT query_id, doc_id, rank FROM cos_scored WHERE rank <= 10),
fused AS (
  SELECT query_id, doc_id,
         round(sum(1.0 / (60 + rank)) + 1e-9, 6) AS rrf_score
  FROM (
    SELECT * FROM bm25_top
    UNION ALL
    SELECT * FROM cos_top
  )
  GROUP BY query_id, doc_id
),
rr AS (
  SELECT query_id, doc_id, rrf_score,
         row_number() OVER (
             PARTITION BY query_id ORDER BY rrf_score DESC, doc_id
         ) AS rank
  FROM fused
)
SELECT query_id, doc_id, rrf_score, rank::BIGINT AS rank
FROM rr WHERE rank <= 10
"""


@query("x5_hybrid_rrf", oracle=_build_hybrid_oracle(), covers=["X3", "X4"])
def x5_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval (api.rrf_fuse): BM25 over `documents` and
    exact cosine top-k over `embeddings` for the same query ids 0-2,
    fused by reciprocal rank (k0=60) — the standard two-tower
    keyword+semantic retriever, training-free because fusion is
    rank-based. Whole path hash-checked: both retrievers' rankings AND
    the fusion arithmetic (6dp-rounded before the final rank, doc_id
    tie-break). Scale: both inputs are already top-k lists, so fusion
    is arithmetic over queries x k rows."""
    from engage_spark import api

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    queries = docs.filter(F.col("doc_id") < 3).select(
        F.col("doc_id").alias("query_id"),
        F.array_join(
            F.slice(F.split(F.lower(F.trim(F.col("text"))), r"\s+"), 1, 6),
            " ",
        ).alias("query_text"),
    )
    emb = table(spark, sf_dir, "embeddings")
    # the two retriever BUILDS are independent (each runs its own
    # bounded eager jobs — idf collect, query broadcast) — overlap them
    # so one build's job tail back-fills the other's (guide §2.6, r15
    # optimization round); each branch's plan and rows are unchanged
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    with ThreadPoolExecutor(max_workers=2) as pool:
        flex = pool.submit(
            inheritable_thread_target(spark)(api.bm25_topk),
            docs, queries, k=10,
        )
        fsem = pool.submit(
            inheritable_thread_target(spark)(
                lambda: api.topk_cosine_search(
                    emb, emb.filter(F.col("vec_id") < 3), k=10
                ).select(
                    "query_id", F.col("neighbor_id").alias("doc_id"), "rank"
                )
            )
        )
        lex, sem = flex.result(), fsem.result()
    return api.rrf_fuse([lex, sem], k0=60, k=10)


# Hybrid retrieval at SCALE: BM25 ∪ IVF-PQ fused by reciprocal rank.
# x5 proves the fusion over EXACT cosine; this twin swaps the semantic
# retriever for the compressed sub-linear ivfpq_search — the
# composition a 100 TB corpus actually runs — and because the IVF-PQ
# quantizers are deterministic, the WHOLE pipeline (posting lists,
# coarse quantize, residual PQ, ADC, exact re-rank, fusion arithmetic)
# still carries a full DuckDB hash oracle: the x3f CTE chain composed
# with the x4d CTEs exactly the way x5 composes exact cosine.
def _build_hybrid_ivfpq_oracle() -> str:
    from engage_spark.queries.llm_similarity import _x3f_ctes

    return f"""
WITH {_BM25_CTES},
{_x3f_ctes(3)},
bm25_top AS (
  SELECT query_id, doc_id, rank FROM ranked WHERE rank <= 10
),
sem_top AS (
  SELECT query_id, neighbor_id AS doc_id, rank
  FROM rerank WHERE rank <= 10
),
fused AS (
  SELECT query_id, doc_id,
         round(sum(1.0 / (60 + rank)) + 1e-9, 6) AS rrf_score
  FROM (
    SELECT * FROM bm25_top
    UNION ALL
    SELECT * FROM sem_top
  )
  GROUP BY query_id, doc_id
),
rr AS (
  SELECT query_id, doc_id, rrf_score,
         row_number() OVER (
             PARTITION BY query_id ORDER BY rrf_score DESC, doc_id
         ) AS rank
  FROM fused
)
SELECT query_id, doc_id, rrf_score, rank::BIGINT AS rank
FROM rr WHERE rank <= 10
"""


@query("x5b_hybrid_ivfpq", oracle=_build_hybrid_ivfpq_oracle(), covers=["X3", "X4"])
def x5b_hybrid_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval with the ANN-backed semantic half — the
    flagship retrieval story made scale-true end to end (r10 verdict
    item 3): BM25 over `documents` fused (rrf, k0=60) with IVF-PQ
    residual search (api.ivfpq_topk_search — sub-linear probes,
    compressed scan, exact top-50 re-rank) over `embeddings` for query
    ids 0-2. At corpus scale the exact-cosine half of x5 is a full
    scan per query; this composition is what a production retriever
    runs, and the deterministic quantizers keep the ENTIRE pipeline
    hash-verifiable against DuckDB. Fusion is retriever-agnostic
    (api.rrf_fuse), so the swap is one argument."""
    from engage_spark import api
    from engage_spark.queries.llm_similarity import _PQ_RERANK, _corpus_rows

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    queries = docs.filter(F.col("doc_id") < 3).select(
        F.col("doc_id").alias("query_id"),
        F.array_join(
            F.slice(F.split(F.lower(F.trim(F.col("text"))), r"\s+"), 1, 6),
            " ",
        ).alias("query_text"),
    )
    emb = table(spark, sf_dir, "embeddings")
    # overlap the two independent retriever builds (BM25's idf pass vs
    # the IVF-PQ training collects) — guide §2.6, r15 optimization
    # round; see x5_hybrid_rrf. Branch plans and rows are unchanged.
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    with ThreadPoolExecutor(max_workers=2) as pool:
        flex = pool.submit(
            inheritable_thread_target(spark)(api.bm25_topk),
            docs, queries, k=10,
        )
        fsem = pool.submit(
            inheritable_thread_target(spark)(
                lambda: api.ivfpq_topk_search(
                    emb, emb.filter(F.col("vec_id") < 3), k=10,
                    rerank=_PQ_RERANK, n_rows=_corpus_rows(sf_dir),
                ).select(
                    "query_id", F.col("neighbor_id").alias("doc_id"), "rank"
                )
            )
        )
        lex, sem = flex.result(), fsem.result()
    return api.rrf_fuse([lex, sem], k0=60, k=10)


# ---------------------------------------------------------------------------
# x4b2 — the hash-verified logistic-fit twin of the quality classifier
# (x4b stays the MLlib L-BFGS fast path; this twin runs the SAME class
# of model — a weak-label logistic distillation — as K fixed IRLS
# steps with the chained-exact-solve machinery the Poisson GLMs use
# (model_ops._irls_fit_spark/_irls_oracle, family='binomial'), so the
# logistic fit itself carries a full DuckDB hash oracle. Features are
# the NON-DEGENERATE subset on this corpus: the es/fr/de marker ratios
# are structurally ~0 in the synthetic text, which makes the exact
# normal equations singular — MLlib's L-BFGS just leaves those
# coefficients near 0, an exact solver cannot; the twin drops them.)

_X4B2_K = 8
_X4B2_STOP_SQL = None  # built in the oracle f-string below


def _build_x4b2_oracle() -> str:
    from engage_spark.queries.llm_text import (
        _LANG_MARKERS,
        _STOPWORDS,
        _sql_list,
    )
    from engage_spark.queries.model_ops import _irls_oracle

    def ratio(lst: str) -> str:
        return (
            f"(len(list_filter(toks, x -> list_contains([{lst}], x)))"
            f" / greatest(len(toks), 1))"
        )

    design = f"""SELECT (len(toks) / 100.0) AS f_ntoks,
           (length(text) / greatest(len(toks), 1)) AS f_mtl,
           {ratio(_sql_list(_LANG_MARKERS["en"]))} AS f_en,
           CASE WHEN coalesce(n_chars, 0) BETWEEN 100 AND 20000
                 AND {ratio(_sql_list(_STOPWORDS))} >= 0.01
                THEN 1.0 ELSE 0.0 END AS y
    FROM (SELECT doc_id, text, n_chars,
                 string_split_regex(lower(trim(text)), '\\s+') AS toks
          FROM documents)"""
    return _irls_oracle(
        design,
        ["1.0", "f_ntoks", "f_mtl", "f_en"],
        "y",
        _X4B2_K,
        ["Intercept", "f_ntoks", "f_mtl", "f_en"],
        family="binomial",
    )


@query("x4b2_quality_logit_irls", oracle=_build_x4b2_oracle(), covers=["X4", "M1"])
def x4b2_quality_logit_irls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Logistic distillation of the quality rule with the FULL fit
    hash-verified: the same weak label x4b trains on (length +
    stopword-density gate), regressed on scaled token count, mean
    token length, and the English-marker ratio via _X4B2_K chained
    exact IRLS steps (family='binomial': w = mu(1-mu), logit link,
    standard (y+0.5)/2 initialization). Complements x4b — MLlib
    L-BFGS stays the production fast path with its AUC pytest; this
    twin proves the logistic-regression math end to end the way
    m1/m1b prove the Poisson fit. Measured convergence at sf0.01:
    stable to ~4e-2 by step 8 (the 6dp-moment rounding floor)."""
    from engage_spark.api import _ws_tokens
    from engage_spark.queries.llm_text import _LANG_MARKERS, _STOPWORDS
    from engage_spark.queries.model_ops import _irls_fit_spark

    d = (
        table(spark, sf_dir, "documents")
        .select("doc_id", "text", "n_chars")
        .withColumn("__toks", _ws_tokens("text"))
    )
    denom = F.greatest(F.size("__toks"), F.lit(1))

    def ratio(words) -> F.Column:
        hits = F.size(
            F.filter(F.col("__toks"), lambda t: t.isin(*sorted(words)))
        )
        return hits / denom

    design = d.select(
        (F.size("__toks") / F.lit(100.0)).alias("f_ntoks"),
        (F.length("text") / denom).alias("f_mtl"),
        ratio(_LANG_MARKERS["en"]).alias("f_en"),
        F.when(
            F.coalesce(F.col("n_chars"), F.lit(0)).between(100, 20000)
            & (ratio(_STOPWORDS) >= 0.01),
            1.0,
        )
        .otherwise(0.0)
        .alias("y"),
    )
    beta = _irls_fit_spark(
        design, ["f_ntoks", "f_mtl", "f_en"], "y", _X4B2_K, family="binomial"
    )
    rows = list(zip(["Intercept", "f_ntoks", "f_mtl", "f_en"], beta))
    return spark.createDataFrame(rows, ["coef_name", "coef_value"])
