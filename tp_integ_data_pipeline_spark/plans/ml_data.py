"""Training-data-pipeline operators beyond the X1-X5 set: embedding
quantization, TF-IDF, data-quality auditing, deterministic dataset
splits and k-folds, mixture weights, length bucketing, training-order
shards, negative sampling, weak labels and truncation planning — the
everyday verbs of a 100 TB data-curation job."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from tp_integ_data_pipeline_spark.operators.text import tokens
from tp_integ_data_pipeline_spark.plans.registry import query
from tp_integ_data_pipeline_spark.sources.fixtures import load_table


# --------------------------------------------------------------------------
# q53 — int8 symmetric quantization of embeddings
# --------------------------------------------------------------------------
@query(
    "q53_quantize_int8",
    oracle="""
    SELECT vec_id,
           CAST(list_min(q) AS INT) AS qmin,
           CAST(list_max(q) AS INT) AS qmax,
           CAST(list_sum(q) AS BIGINT) AS qsum
    FROM (
        SELECT vec_id,
               list_transform(CAST(embedding AS DOUBLE[]),
                              x -> CAST(round(x * 127.0 / list_max(list_transform(
                                   CAST(embedding AS DOUBLE[]), y -> abs(y)))) AS INT)) AS q
        FROM embeddings
    )
    ORDER BY vec_id
    """,
)
def q53_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization (scale = 127/max|x|) —
    the storage/serving transform for embedding tables; checksummed
    per vector for the oracle."""
    emb = load_table(spark, sf_dir, "embeddings")
    dv = F.expr("transform(embedding, x -> CAST(x AS DOUBLE))")
    max_abs = F.array_max(F.transform(dv, lambda x: F.abs(x)))
    q = F.transform(dv, lambda x: F.round(x * F.lit(127.0) / max_abs).cast("int"))
    return (
        emb.select("vec_id", q.alias("q"))
        .select(
            "vec_id",
            F.array_min("q").alias("qmin"),
            F.array_max("q").alias("qmax"),
            F.aggregate("q", F.lit(0).cast("long"), lambda a, x: a + x).alias("qsum"),
        )
        .orderBy("vec_id")
    )


# --------------------------------------------------------------------------
# q54 — TF-IDF top term per document
# --------------------------------------------------------------------------
@query(
    "q54_tfidf_top_term",
    oracle="""
    WITH tf AS (
        SELECT doc_id, tok, COUNT(*) AS tf
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
        GROUP BY 1, 2
    ),
    df AS (SELECT tok, COUNT(*) AS df FROM (SELECT DISTINCT doc_id, tok FROM tf) GROUP BY 1),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.tok,
               round(tf.tf * ln((n.n_docs + 1.0) / (df.df + 1.0)), 6) AS score
        FROM tf JOIN df USING (tok) CROSS JOIN n
    )
    SELECT doc_id, tok AS top_term, score
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                       ORDER BY score DESC, tok) AS rn FROM scored)
    WHERE rn = 1
    ORDER BY doc_id
    """,
)
def q54_tfidf_top_term(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF with smoothed idf = ln((N+1)/(df+1)); scores rounded to
    6 dp BEFORE ranking so cross-engine libm ULP differences cannot
    flip the ordering."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(tokens()).alias("tok"))
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    df = tf.select("doc_id", "tok").distinct().groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    # N travels as a 1-row broadcast aggregate (the plan Catalyst emits
    # for an uncorrelated scalar subquery) — no eager docs.count() on
    # the driver during plan build. The vocabulary-sized df relation
    # joins via plain shuffle: at 100 TB the vocabulary is billions of
    # tokens, far past broadcast range, and tf is already shuffled on
    # tok's co-key so this stays one exchange.
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = tf.join(df, "tok").crossJoin(F.broadcast(n)).select(
        "doc_id",
        "tok",
        F.round(
            F.col("tf") * F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)), 6
        ).alias("score"),
    )
    w = W.partitionBy("doc_id").orderBy(F.col("score").desc(), "tok")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", F.col("tok").alias("top_term"), "score")
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# q75 — data-quality audit across tables
# --------------------------------------------------------------------------
@query(
    "q75_dq_audit",
    oracle="""
    SELECT 'orders_orphan_custkey' AS check_name,
           (SELECT COUNT(*) FROM orders o
            WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
               AS n_violations
    UNION ALL
    SELECT 'lineitem_orphan_orderkey',
           (SELECT COUNT(*) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
    UNION ALL
    SELECT 'events_null_props',
           (SELECT COUNT(*) FROM events WHERE props IS NULL)
    UNION ALL
    SELECT 'documents_dup_text',
           (SELECT CAST(COALESCE(SUM(c - 1), 0) AS BIGINT)
            FROM (SELECT COUNT(*) AS c FROM documents GROUP BY text HAVING COUNT(*) > 1))
    ORDER BY check_name
    """,
)
def q75_dq_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constraint audit: FK orphans, null rates, duplicate payloads —
    each check an anti-join/aggregate, unioned into one report."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    l = load_table(spark, sf_dir, "lineitem")
    ev = load_table(spark, sf_dir, "events")
    docs = load_table(spark, sf_dir, "documents")

    def check(name: str, df_count: DataFrame) -> DataFrame:
        return df_count.select(
            F.lit(name).alias("check_name"), F.col("n").cast("long").alias("n_violations")
        )

    orphan_orders = o.join(c, o.o_custkey == c.c_custkey, "left_anti").agg(
        F.count(F.lit(1)).alias("n")
    )
    orphan_items = l.join(o, l.l_orderkey == o.o_orderkey, "left_anti").agg(
        F.count(F.lit(1)).alias("n")
    )
    null_props = ev.filter(F.col("props").isNull()).agg(F.count(F.lit(1)).alias("n"))
    dup_text = (
        docs.groupBy("text")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") > 1)
        .agg(F.coalesce(F.sum(F.col("c") - 1), F.lit(0)).alias("n"))
    )
    return (
        check("orders_orphan_custkey", orphan_orders)
        .unionByName(check("lineitem_orphan_orderkey", orphan_items))
        .unionByName(check("events_null_props", null_props))
        .unionByName(check("documents_dup_text", dup_text))
        .orderBy("check_name")
    )


# --------------------------------------------------------------------------
# q76 — deterministic hash-based train/val/test split
# --------------------------------------------------------------------------
@query(
    "q76_train_split",
    oracle="""
    SELECT CASE WHEN d < 12 THEN 'train' WHEN d < 14 THEN 'val' ELSE 'test' END AS split,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM (SELECT n_chars,
                 CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) AS INT) AS d
          FROM documents)
    GROUP BY 1
    ORDER BY 1
    """,
)
def q76_train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-stable split on md5(id): hex digit 0-b → train (75%),
    c-d → val (12.5%), e-f → test (12.5%). Hash-based (not random):
    membership survives re-runs, resharding, and engine changes — the
    only sane way to split 100 TB reproducibly."""
    docs = load_table(spark, sf_dir, "documents")
    d = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1), 16, 10).cast("int")
    split = (
        F.when(d < 12, "train").when(d < 14, "val").otherwise("test")
    )
    return (
        docs.select(split.alias("split"), "n_chars")
        .groupBy("split")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_chars").cast("long").alias("total_chars"))
        .orderBy("split")
    )


# --------------------------------------------------------------------------
# q187 — temperature-scaled source mixture allocation
# --------------------------------------------------------------------------
@query(
    "q187_temperature_mixture",
    oracle="""
    WITH c AS (
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS tokens
        FROM documents GROUP BY source
    ),
    tot AS (
        SELECT SUM(sqrt(CAST(tokens AS DOUBLE))) AS z,
               CAST(FLOOR(0.5 * SUM(tokens)) AS BIGINT) AS budget
        FROM c
    )
    SELECT source, n_docs, tokens,
           ROUND(sqrt(CAST(tokens AS DOUBLE)) / z, 6) AS weight,
           CAST(FLOOR(sqrt(CAST(tokens AS DOUBLE)) / z * budget + 0.5) AS BIGINT) AS alloc_tokens,
           ROUND(FLOOR(sqrt(CAST(tokens AS DOUBLE)) / z * budget + 0.5) / tokens, 6) AS epochs
    FROM c, tot ORDER BY source
    """,
)
def q187_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Square-root temperature sampling over sources (the multilingual
    /multi-corpus mixture rule, alpha = 0.5): per-source sampling
    weight proportional to sqrt(token count) — up-weighting small
    sources relative to proportional sampling without letting big
    ones dominate — then an integer token allocation against a budget
    of half the corpus and the implied epochs-per-source (alloc/c > 1
    means the source repeats). alpha = 0.5 deliberately: IEEE sqrt is
    exactly rounded on BOTH engines, while pow(x, 0.7) carries
    last-ULP libm variance that could flip a ROUND(,6) hash.
    FLOOR(x + 0.5) is the engine-shared integer rule (q137
    convention). Shape: one map-side-combined per-source aggregate, a
    1-row scalar broadcast (the q102 capacity pattern), all else
    row-local."""
    from tp_integ_data_pipeline_spark.operators.text import token_count

    docs = load_table(spark, sf_dir, "documents")
    c = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(token_count()).cast("long").alias("tokens"),
    )
    tot = c.agg(
        F.sum(F.sqrt(F.col("tokens").cast("double"))).alias("z"),
        F.floor(0.5 * F.sum("tokens")).cast("long").alias("budget"),
    )
    w = F.sqrt(F.col("tokens").cast("double")) / F.col("z")
    alloc = F.floor(w * F.col("budget") + F.lit(0.5)).cast("long")
    return (
        c.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "tokens",
            F.round(w, 6).alias("weight"),
            alloc.alias("alloc_tokens"),
            F.round(alloc / F.col("tokens"), 6).alias("epochs"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# q190 — length-bucketed batching (padding-efficiency report)
# --------------------------------------------------------------------------
@query(
    "q190_length_bucketing",
    oracle="""
    WITH t AS (
        SELECT doc_id, len(string_split(text, ' ')) AS n_tok FROM documents
    ),
    b AS (
        SELECT doc_id, n_tok,
               CAST(CASE WHEN n_tok <= 1 THEN 0
                    ELSE FLOOR(LOG2(CAST(n_tok AS DOUBLE))) END AS INT) AS bucket
        FROM t
    )
    SELECT bucket,
           CAST(POWER(2, bucket) AS BIGINT) AS bucket_floor,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS real_tokens,
           CAST(COUNT(*) * MAX(n_tok) AS BIGINT) AS padded_tokens,
           ROUND(SUM(n_tok) * 1.0 / (COUNT(*) * MAX(n_tok)), 6) AS pad_efficiency
    FROM b GROUP BY bucket ORDER BY bucket
    """,
)
def q190_length_bucketing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batching for inference/training: assign each
    document to its power-of-two token-length bucket and report the
    padding efficiency a bucket-local batcher achieves (real tokens
    over count x bucket-max — the padding a serving system would
    allocate if it batched within buckets and padded to the batch
    max). LOG2 of an integer; FLOOR(LOG2(2^k)) is exact on both
    engines (log2 of a power of two is exactly representable; other
    inputs sit far from integer boundaries for token counts < 2^20).
    One scan, one map-side-combined rollup."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", F.size(tokens()).alias("n_tok"))
    b = t.withColumn(
        "bucket",
        F.when(F.col("n_tok") <= 1, F.lit(0))
        .otherwise(F.floor(F.log2(F.col("n_tok").cast("double"))))
        .cast("int"),
    )
    return (
        b.groupBy("bucket")
        .agg(
            F.pow(F.lit(2.0), F.col("bucket").cast("double")).cast("long").alias("bucket_floor"),
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("real_tokens"),
            (F.count(F.lit(1)) * F.max("n_tok")).cast("long").alias("padded_tokens"),
            F.round(
                F.sum("n_tok") / (F.count(F.lit(1)) * F.max("n_tok")), 6
            ).alias("pad_efficiency"),
        )
        .orderBy("bucket")
    )


# --------------------------------------------------------------------------
# q196 — seeded deterministic training order + token-budget shards
# --------------------------------------------------------------------------
_SHUF_SEED = "r7shuffle"
_N_TRAIN_SHARDS = 16


@query(
    "q196_training_order_shard",
    oracle=f"""
    WITH r AS (
        SELECT doc_id,
               CAST(('0x' || substr(md5('{_SHUF_SEED}:' || CAST(doc_id AS VARCHAR)),
                                    1, 8)) AS BIGINT) * 268435456 + doc_id AS key,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS toks
        FROM documents
    ),
    b AS (SELECT (SUM(toks) + {_N_TRAIN_SHARDS - 1}) // {_N_TRAIN_SHARDS} AS budget
          FROM r),
    c AS (
        SELECT r.*,
               COALESCE(SUM(toks) OVER (ORDER BY key
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                        0) AS cum_before
        FROM r
    )
    SELECT CAST(cum_before // (SELECT budget FROM b) AS BIGINT) AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(toks) AS BIGINT) AS shard_tokens,
           arg_min(doc_id, key) AS first_doc,
           CAST(SUM(key % 1000000007) AS BIGINT) AS key_checksum
    FROM c GROUP BY 1 ORDER BY 1
    """,
)
def q196_training_order_shard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible training-order materialization: give every document
    a seeded pseudo-random position (portable 8-hex-md5 of
    '<seed>:<doc_id>' in the high 32 bits, doc_id in the low 28 —
    unique by construction, so the order is total and run-stable on
    any cluster size), then cut the shuffled stream into
    ~equal-token-budget shards by exclusive prefix sum — the
    "global shuffle + shard" step between curation and the trainer's
    data loader. Per-shard output pins the exact layout: doc count,
    token mass, the first document in training order, and a key
    checksum over shard membership.

    Scale shape: the prefix sum is packing.global_cumsum — a
    value-range bucketed DISTRIBUTED cumsum (per-bucket windows in
    parallel + a ≤ n_buckets-row offset table), never a corpus-wide
    single-reducer window; the seeded key is uniform by construction
    so the range buckets are balanced at any scale. The shard budget
    is one bounded driver scalar (integer ceil-div, replayed exactly
    in the oracle); doc_id widths beyond 2^28 take a wider low-bit
    split — configurable, documented here. The keyed relation is
    checkpointed once because global_cumsum evaluates its child
    thrice (cost note at operators/packing.py)."""
    from tp_integ_data_pipeline_spark.operators.packing import global_cumsum

    docs = load_table(spark, sf_dir, "documents")
    key = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(_SHUF_SEED + ":"), F.col("doc_id").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        * F.lit(268435456).cast("long")
        + F.col("doc_id")
    )
    rel = docs.select(
        "doc_id",
        key.alias("key"),
        F.size(tokens()).cast("long").alias("toks"),
    ).localCheckpoint(eager=False)
    total = rel.agg(F.sum("toks")).first()[0]
    budget = (int(total) + _N_TRAIN_SHARDS - 1) // _N_TRAIN_SHARDS
    cum = global_cumsum(rel, "key", "toks", "cum_before")
    return (
        cum.withColumn("shard", F.expr(f"cum_before div {budget}"))
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("toks").alias("shard_tokens"),
            F.min(F.struct("key", "doc_id"))["doc_id"].alias("first_doc"),
            F.sum(F.col("key") % F.lit(1000000007)).alias("key_checksum"),
        )
        .orderBy("shard")
    )


# --------------------------------------------------------------------------
# q200 — stratified k-fold assignment (hash-ordered, leakage-free folds)
# --------------------------------------------------------------------------
_KFOLD = 5
_FOLD_SEED = "r7fold"


@query(
    "q200_stratified_kfold",
    oracle=f"""
    WITH r AS (
        SELECT doc_id, source,
               ROW_NUMBER() OVER (
                   PARTITION BY source
                   ORDER BY CAST(('0x' || substr(md5('{_FOLD_SEED}:'
                              || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT),
                            doc_id) AS rn
        FROM documents
    )
    SELECT source, CAST((rn - 1) % {_KFOLD} AS BIGINT) AS fold,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(doc_id) AS BIGINT) AS id_checksum
    FROM r GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def q200_stratified_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified k-fold assignment: within each source
    stratum, order documents by a seeded portable hash (doc_id
    tiebreak — a total order, so the split replays exactly on any
    cluster) and deal them round-robin into k=5 folds — per-
    stratum fold sizes differ by at most 1, every fold mirrors the
    source mixture, and membership is pinned by an id checksum. The
    exact-proportion complement of q76's threshold split and q111's
    cluster-level leakage-safe split.

    Scale shape: one window PARTITIONED BY the stratum (parallel
    across sources; within a stratum the sort is the shuffle the
    semantics require), then a (source, fold) map-side rollup. The
    hash is uniform so stratum partitions are balanced; a single
    giant stratum would take the q154 salt-then-merge treatment."""
    docs = load_table(spark, sf_dir, "documents")
    from pyspark.sql import Window as W

    key = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(_FOLD_SEED + ":"), F.col("doc_id").cast("string"))),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    w = W.partitionBy("source").orderBy(key, F.col("doc_id"))
    return (
        docs.select("doc_id", "source")
        .withColumn("fold", ((F.row_number().over(w) - 1) % _KFOLD).cast("long"))
        .groupBy("source", "fold")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("doc_id").alias("id_checksum"),
        )
        .orderBy("source", "fold")
    )


# --------------------------------------------------------------------------
# q224 — deterministic negative sampling for retrieval/recsys training
# --------------------------------------------------------------------------
_NEG_K = 4


@query(
    "q224_negative_sampling",
    oracle=f"""
    WITH pos AS (
        SELECT DISTINCT o.o_custkey AS u, l.l_partkey AS item
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ),
    np AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_parts FROM part),
    cand AS (
        SELECT u, k,
               CAST(('0x' || substr(md5('neg:' || CAST(u AS VARCHAR) || ':'
                                        || CAST(k AS VARCHAR)), 1, 8)) AS BIGINT)
                   % np.n_parts AS item
        FROM (SELECT DISTINCT u FROM pos),
             UNNEST(range(1, {_NEG_K} + 1)) AS t(k),
             np
    ),
    ded AS (SELECT u, item, CAST(MIN(k) AS BIGINT) AS k FROM cand GROUP BY 1, 2)
    SELECT d.u, d.item, d.k
    FROM ded d ANTI JOIN pos p ON p.u = d.u AND p.item = d.item
    ORDER BY d.u, d.k
    """,
)
def q224_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling — the contrastive-training-data
    verb (retrieval / recsys): for every user with purchases, draw
    K=4 candidate items by the portable seeded hash over the DENSE
    0-based part keyspace, drop duplicates (keep the smallest k) and
    drop accidental positives via an anti-join. No resampling on
    collision — the yield is K minus the (rare) positive-hit rate,
    which keeps the sample content-stable: reruns, engines and
    repartitionings all produce the SAME negatives (q119's
    determinism rule applied to sampling against a relation).

    Scale shape: the positives relation is ONE orderkey equi-join +
    distinct; candidates explode row-locally (users × K); the dedup
    and the anti-join are (u, item)-keyed shuffles; n_parts is a
    1-row broadcast scalar (BNLJ_ALLOWED)."""
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    pos = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("u"), F.col("l_partkey").alias("item"))
        .distinct()
        .localCheckpoint(eager=False)  # feeds users, the anti-join
    )
    np_ = load_table(spark, sf_dir, "part").agg(
        F.count(F.lit(1)).cast("long").alias("n_parts")
    )
    cand = (
        pos.select("u")
        .distinct()
        .select("u", F.explode(F.sequence(F.lit(1), F.lit(_NEG_K))).alias("k"))
        .crossJoin(F.broadcast(np_))
        .select(
            "u",
            "k",
            (
                F.expr(
                    "CAST(conv(substr(md5(concat('neg:', CAST(u AS STRING), ':', "
                    "CAST(k AS STRING))), 1, 8), 16, 10) AS BIGINT)"
                )
                % F.col("n_parts")
            ).alias("item"),
        )
    )
    ded = cand.groupBy("u", "item").agg(F.min("k").cast("long").alias("k"))
    return (
        ded.join(pos, ["u", "item"], "left_anti")
        .select("u", "item", "k")
        .orderBy("u", "k")
    )


# --------------------------------------------------------------------------
# q226 — weak-supervision labeler audit (majority vote + agreement)
# --------------------------------------------------------------------------
@query(
    "q226_weak_labels",
    oracle="""
    WITH lf AS (
        SELECT CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS lf_chars,
               CASE WHEN len(string_split(text, ' ')) >= 60 THEN 1 ELSE 0 END AS lf_words,
               CASE WHEN len(list_distinct(string_split(text, ' '))) >= 25
                    THEN 1 ELSE 0 END AS lf_vocab
        FROM documents
    ),
    m AS (
        SELECT lf_chars, lf_words, lf_vocab,
               CASE WHEN lf_chars + lf_words + lf_vocab >= 2 THEN 1 ELSE 0 END AS maj
        FROM lf
    ),
    long AS (
        SELECT 'lf_chars' AS labeler, lf_chars AS vote, maj FROM m
        UNION ALL SELECT 'lf_words', lf_words, maj FROM m
        UNION ALL SELECT 'lf_vocab', lf_vocab, maj FROM m
    ),
    per AS (
        SELECT labeler, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(vote) AS BIGINT) AS n_pos,
               CAST(SUM(CASE WHEN vote = maj THEN 1 ELSE 0 END) AS BIGINT) AS n_agree
        FROM long GROUP BY 1
    ),
    c AS (SELECT ROUND(AVG(CAST(maj AS DOUBLE)), 6) AS consensus_pos_rate FROM m)
    SELECT p.labeler, p.n, p.n_pos, p.n_agree,
           ROUND(CAST(p.n_agree AS DOUBLE) / p.n, 6) AS agree_rate,
           c.consensus_pos_rate
    FROM per p, c
    ORDER BY p.labeler
    """,
)
def q226_weak_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weak-supervision (Snorkel-style) labeler audit: three
    deterministic labeling functions (char-length, word-count,
    vocab-richness) vote on 'high quality'; consensus = majority;
    per-labeler positive rate and consensus-agreement rate tell you
    which heuristic to trust before training a label model — the
    programmatic-labeling QA verb for LLM data curation.

    Scale shape: ONE column-pruned scan computes all three votes and
    the majority row-locally; the stack-unpivot triples rows before a
    3-row map-side rollup; the consensus rate is a 1-row broadcast
    scalar (BNLJ_ALLOWED)."""
    docs = load_table(spark, sf_dir, "documents").select("text", "n_chars")
    words = tokens()
    m = docs.select(
        F.when(F.col("n_chars") >= 300, 1).otherwise(0).alias("lf_chars"),
        F.when(F.size(words) >= 60, 1).otherwise(0).alias("lf_words"),
        F.when(F.size(F.array_distinct(words)) >= 25, 1).otherwise(0).alias("lf_vocab"),
    ).select(
        "*",
        F.when(
            F.col("lf_chars") + F.col("lf_words") + F.col("lf_vocab") >= 2, 1
        )
        .otherwise(0)
        .alias("maj"),
    ).localCheckpoint(eager=False)  # feeds the unpivot AND the consensus scalar
    long = m.selectExpr(
        "stack(3, 'lf_chars', lf_chars, 'lf_words', lf_words, 'lf_vocab', lf_vocab)"
        " AS (labeler, vote)",
        "maj",
    )
    per = long.groupBy("labeler").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("vote").cast("long").alias("n_pos"),
        F.sum(F.when(F.col("vote") == F.col("maj"), 1).otherwise(0))
        .cast("long")
        .alias("n_agree"),
    )
    c = m.agg(
        F.round(F.avg(F.col("maj").cast("double")), 6).alias("consensus_pos_rate")
    )
    return (
        per.crossJoin(F.broadcast(c))
        .select(
            "labeler",
            "n",
            "n_pos",
            "n_agree",
            F.round(F.col("n_agree").cast("double") / F.col("n"), 6).alias(
                "agree_rate"
            ),
            "consensus_pos_rate",
        )
        .orderBy("labeler")
    )


# --------------------------------------------------------------------------
# q231 — context-window truncation-loss planner
# --------------------------------------------------------------------------
_CTX_GRID = [128, 512, 2048]


@query(
    "q231_truncation_loss",
    oracle=f"""
    WITH toks AS (
        SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS tok FROM documents
    ),
    g AS (
        SELECT t.ctx, toks.tok
        FROM toks, UNNEST([{", ".join(str(c) for c in _CTX_GRID)}]) AS t(ctx)
    )
    SELECT CAST(ctx AS INT) AS ctx_len,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN tok > ctx THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_over,
           CAST(SUM(GREATEST(tok - ctx, 0)) AS BIGINT) AS tokens_dropped,
           ROUND(CAST(SUM(GREATEST(tok - ctx, 0)) AS DOUBLE) / SUM(tok), 6)
               AS share_dropped
    FROM g GROUP BY 1 ORDER BY 1
    """,
)
def q231_truncation_loss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window truncation planning: for each candidate context
    length, how many documents overflow and what fraction of corpus
    tokens a hard truncation would discard — the sizing study run
    before choosing packing (q100) vs chunking (q95) parameters.

    Scale shape: tokens are counted row-locally; the ×|grid| explode
    is a literal array (3 rows per doc); ONE map-side-combinable
    rollup per grid point — no scalar attach needed because each
    grid group already sees every document's token count."""
    docs = load_table(spark, sf_dir, "documents").select(
        F.size(tokens()).cast("long").alias("tok")
    )
    g = docs.select(
        "tok",
        F.explode(F.array(*[F.lit(c) for c in _CTX_GRID])).alias("ctx"),
    )
    dropped = F.sum(F.greatest(F.col("tok") - F.col("ctx"), F.lit(0)))
    return (
        g.groupBy(F.col("ctx").cast("int").alias("ctx_len"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.when(F.col("tok") > F.col("ctx"), 1).otherwise(0))
            .cast("long")
            .alias("n_docs_over"),
            dropped.cast("long").alias("tokens_dropped"),
            F.round(dropped.cast("double") / F.sum("tok"), 6).alias("share_dropped"),
        )
        .orderBy("ctx_len")
    )
