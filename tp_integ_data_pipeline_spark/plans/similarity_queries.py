"""Similarity queries: vector search (X3) over the `embeddings`
fixture, exact set-similarity and containment joins over document
shingles, and generation-eval metrics (ROUGE-1, BLEU-2) over near-dup
pairs."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tp_integ_data_pipeline_spark.operators.similarity import ann_topk_srp, knn_bruteforce
from tp_integ_data_pipeline_spark.operators.text import tokens, word_ngrams
from tp_integ_data_pipeline_spark.plans.registry import query
from tp_integ_data_pipeline_spark.sources.fixtures import load_table

_COS = (
    "list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(n.embedding AS DOUBLE[])) /"
    " (sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[]))) *"
    "  sqrt(list_dot_product(CAST(n.embedding AS DOUBLE[]), CAST(n.embedding AS DOUBLE[]))))"
)


@query(
    "q50_knn_bruteforce",
    oracle=f"""
    SELECT q_id, n_id, CAST(rank AS INT) AS rank, round(cos, 6) AS cos6
    FROM (
        SELECT q.vec_id AS q_id, n.vec_id AS n_id,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id
                                  ORDER BY {_COS} DESC, n.vec_id) AS rank,
               {_COS} AS cos
        FROM embeddings q JOIN embeddings n ON n.vec_id != q.vec_id
        WHERE q.vec_id < 10
    )
    WHERE rank <= 5
    ORDER BY q_id, rank
    """,
)
def q50_knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings", spread=True)
    queries_df = emb.filter(F.col("vec_id") < 10)
    return knn_bruteforce(emb, queries_df, k=5).orderBy("q_id", "rank")


# Approximate by design (SRP-LSH candidate recall < 1) → rows-only check.
@query("q51_ann_srp_topk")
def q51_ann_srp_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 10)
    return ann_topk_srp(emb, queries_df, k=5).orderBy("q_id", "rank")


# --------------------------------------------------------------------------
# q118 — per-label embedding centroid + dispersion (vector aggregation)
# --------------------------------------------------------------------------
@query(
    "q118_label_centroids",
    oracle="""
    WITH dims AS (
        SELECT label, i - 1 AS dim, CAST(embedding[i] AS DOUBLE) AS v
        FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS t(i)
    )
    SELECT label, CAST(dim AS INT) AS dim,
           COUNT(*) AS n_vecs,
           round(AVG(v), 6) + 0 AS centroid,
           round(AVG(v * v) - AVG(v) * AVG(v), 6) + 0 AS variance
    FROM dims
    GROUP BY label, dim
    ORDER BY label, dim
    """,
)
def q118_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid and per-dimension variance of the embedding
    table — the vector-aggregation verb behind class prototypes,
    drift monitors, and SemDeDup cell seeding. DIMENSION-EXPLODED
    shape: (label, dim) keyed rows through one map-side-combined
    aggregate — never a per-label collect_list of whole vectors
    (which would hold |label| × dim × n doubles in one task at 100 TB).
    Variance uses the E[v²]−E[v]² form so both engines aggregate the
    same two sums; rounded to 6 dp before compare."""
    emb = load_table(spark, sf_dir, "embeddings")
    dims = emb.select(
        "label", F.posexplode(F.col("embedding").cast("array<double>")).alias("dim", "v")
    )
    return (
        dims.groupBy("label", "dim")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            # + 0.0 normalizes IEEE -0.0 after ROUND — centroids of
            # near-zero-centered dims are the canonical tiny-negative case.
            (F.round(F.avg("v"), 6) + F.lit(0.0)).alias("centroid"),
            (
                F.round(F.avg(F.col("v") * F.col("v")) - F.avg("v") * F.avg("v"), 6)
                + F.lit(0.0)
            ).alias("variance"),
        )
        .select("label", F.col("dim").cast("int"), "n_vecs", "centroid", "variance")
        .orderBy("label", "dim")
    )


# Rows-only by design: PQ codebooks and IVF cells come from KMeans
# (not SQL-expressible); the hard checks are the pytest properties
# (tests/test_pq.py: recall vs brute force, ADC bound, code shape,
# offline-trained model determinism).
@query("q139_ann_ivf_pq")
def q139_ann_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN (operators/pq.py): offline KMeans coarse cells +
    per-sub-space PQ codebooks; the query path probes cells via
    equi-join, ranks candidates by asymmetric distance over the m-byte
    codes (candidate floats never read), then exact-re-ranks only the
    shortlist. The 100 TB storage story: 32x smaller candidate scan at
    m=8 over d=64 float32, with both models travelling as broadcast
    data — plan size O(1) in cells x codes."""
    from tp_integ_data_pipeline_spark.operators.pq import ivf_pq_topk, pq_fit
    from tp_integ_data_pipeline_spark.operators.similarity import ivf_fit

    emb = load_table(spark, sf_dir, "embeddings")
    centroids = ivf_fit(emb, n_cells=16, seed=42)
    codebook = pq_fit(emb, m=8, k=16, seed=7)
    queries = emb.filter(F.col("vec_id") < 10)
    return ivf_pq_topk(
        emb, queries, centroids, codebook, m=8, k=5, n_probe=4, shortlist=4
    ).orderBy("q_id", "rank")


# --------------------------------------------------------------------------
# q175 — exact set-similarity join via prefix filtering (AllPairs)
# --------------------------------------------------------------------------
_SSJ_T = 0.6

# The ordered-sets relation (shingle → global-frequency order → per-doc
# arrays) is THRESHOLD-INDEPENDENT and dominates both q175's (t=0.6)
# and q185's (t=0.5) wall time — share one lazily-checkpointed copy
# per (session, corpus), the r7-VERDICT item-5 fix
# (plans/session_cache.py carries the eviction discipline).
def _ordered_sets(spark: SparkSession, sf_dir: str) -> "DataFrame":
    from tp_integ_data_pipeline_spark.operators.dedup import (
        ordered_token_sets,
        shingles,
    )
    from tp_integ_data_pipeline_spark.plans.session_cache import session_cached

    def build() -> "DataFrame":
        docs = load_table(spark, sf_dir, "documents", spread=True)
        sh = shingles(docs, "doc_id", "text", k=3).select(
            "id", F.col("sh").alias("tok")
        )
        return ordered_token_sets(sh)

    return session_cached(spark, "ordered_sets", (sf_dir,), build)


def _ssj_oracle() -> str:
    from tp_integ_data_pipeline_spark.operators.dedup import shingle_sql

    return f"""
    WITH {shingle_sql("documents", "doc_id", "text", 3)},
    n AS (SELECT id, COUNT(*) AS n FROM sh GROUP BY 1),
    i AS (
        SELECT a.id AS a, b.id AS b, COUNT(*) AS inter
        FROM sh a JOIN sh b ON a.sh = b.sh AND a.id < b.id
        GROUP BY 1, 2
    )
    SELECT a, b, ROUND(inter * 1.0 / (na.n + nb.n - inter), 6) AS jaccard
    FROM i JOIN n na ON na.id = i.a JOIN n nb ON nb.id = i.b
    WHERE ROUND(inter * 1.0 / (na.n + nb.n - inter), 6) >= {_SSJ_T}
    ORDER BY a, b
    """


@query("q175_prefix_similarity_join", oracle=_ssj_oracle())
def q175_prefix_similarity_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT near-dup pairs (3-gram-shingle Jaccard >= 0.6) via prefix
    filtering (AllPairs/PPJoin, Bayardo et al. 2007) — the lossless
    complement to MinHash-LSH q42 over the same shingle unit: rarest-
    first global ordering bounds each set's candidate-generating
    prefix to (1-t)|s|+1 elements, candidates come from ONE prefix-
    element equi-join (provably complete — no recall caveat, which is
    why this query hash-checks while LSH's guarantee is
    probabilistic), verification is row-local array_intersect. The
    oracle is the naive all-pairs shingle self-join — fine at check
    scale, the prefix bound is what survives 100 TB
    (operators/dedup.set_similarity_join). The threshold-independent
    ordered-sets prework is shared with q185 via _ordered_sets."""
    from tp_integ_data_pipeline_spark.operators.dedup import set_similarity_join

    ordered = _ordered_sets(spark, sf_dir)
    return set_similarity_join(None, _SSJ_T, ordered=ordered).orderBy("a", "b")


# --------------------------------------------------------------------------
# q179 — containment join: pairwise benchmark decontamination
# --------------------------------------------------------------------------
_CONT_T = 0.8


@query(
    "q179_containment_join",
    oracle=f"""
    WITH bench AS (
        SELECT doc_id AS id,
               array_to_string(toks[1:greatest(3, CAST(FLOOR(len(toks) * 0.6) AS INT))], ' ') AS text
        FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
        WHERE doc_id % 83 = 0
    ),
    q AS (
        SELECT DISTINCT id, array_to_string(toks[i:i+2], ' ') AS tok
        FROM (SELECT id, string_split(text, ' ') AS toks FROM bench),
             UNNEST(range(1, greatest(len(toks) - 1, 1))) AS u(i)
    ),
    c AS (
        SELECT DISTINCT doc_id AS id, array_to_string(toks[i:i+2], ' ') AS tok
        FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
             UNNEST(range(1, greatest(len(toks) - 1, 1))) AS u(i)
    ),
    qn AS (SELECT id, COUNT(*) AS n FROM q GROUP BY 1),
    inter AS (
        SELECT q.id AS q_id, c.id AS c_id, COUNT(*) AS i
        FROM q JOIN c ON q.tok = c.tok
        GROUP BY 1, 2
    )
    SELECT q_id, c_id, ROUND(i * 1.0 / qn.n, 6) AS containment
    FROM inter JOIN qn ON qn.id = inter.q_id
    WHERE ROUND(i * 1.0 / qn.n, 6) >= {_CONT_T}
    ORDER BY q_id, c_id
    """,
)
def q179_containment_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise benchmark decontamination: which corpus documents
    CONTAIN >= 80% of a benchmark item's 3-gram shingles? Containment
    |q∩c|/|q| is the right asymmetric measure (Jaccard misses a short
    prompt embedded in a long page — the real contamination shape).
    The benchmark suite is synthesized as EXCERPTS (first 60% of
    tokens) of every 83rd document, so each item is contained in its
    source by construction — guaranteed signal at every SF — plus any
    near-dup of that source. operators/dedup.containment_join: the
    prefix bound applies on the QUERY side only (n - ceil(t*n) + 1
    rarest-in-corpus elements, epsilon-guarded ceil), so candidate
    cost tracks those rare elements' posting lengths, never
    |benchmark| x |corpus| — the pairwise-evidence complement of
    q93's membership-only decontam. Oracle = naive all-pairs."""
    from tp_integ_data_pipeline_spark.operators.dedup import containment_join, shingles

    docs = load_table(spark, sf_dir, "documents", spread=True)
    bench = docs.filter(F.col("doc_id") % 83 == 0).select(
        F.col("doc_id").alias("bid"),
        F.expr(
            "array_join(slice(split(text, ' '), 1,"
            " greatest(3, CAST(FLOOR(size(split(text, ' ')) * 0.6) AS INT))), ' ')"
        ).alias("btext"),
    )
    q = shingles(bench, "bid", "btext", k=3).select("id", F.col("sh").alias("tok"))
    c = shingles(docs, "doc_id", "text", k=3).select("id", F.col("sh").alias("tok"))
    return containment_join(q, c, _CONT_T).orderBy("q_id", "c_id")


# --------------------------------------------------------------------------
# q185 — cross-source near-duplication matrix
# --------------------------------------------------------------------------
_XSRC_T = 0.5


def _xsrc_oracle() -> str:
    from tp_integ_data_pipeline_spark.operators.dedup import shingle_sql

    return f"""
    WITH {shingle_sql("documents", "doc_id", "text", 3)},
    n AS (SELECT id, COUNT(*) AS n FROM sh GROUP BY 1),
    i AS (
        SELECT a.id AS a, b.id AS b, COUNT(*) AS inter
        FROM sh a JOIN sh b ON a.sh = b.sh AND a.id < b.id
        GROUP BY 1, 2
    ),
    pairs AS (
        SELECT a, b, ROUND(inter * 1.0 / (na.n + nb.n - inter), 6) AS jaccard
        FROM i JOIN n na ON na.id = i.a JOIN n nb ON nb.id = i.b
        WHERE ROUND(inter * 1.0 / (na.n + nb.n - inter), 6) >= {_XSRC_T}
    ),
    lab AS (
        SELECT LEAST(sa.source, sb.source) AS source_a,
               GREATEST(sa.source, sb.source) AS source_b,
               jaccard
        FROM pairs
        JOIN documents sa ON sa.doc_id = pairs.a
        JOIN documents sb ON sb.doc_id = pairs.b
    )
    SELECT source_a, source_b,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           ROUND(AVG(jaccard), 6) AS avg_jaccard,
           ROUND(MAX(jaccard), 6) AS max_jaccard
    FROM lab GROUP BY 1, 2 ORDER BY 1, 2
    """


@query("q185_cross_source_dup_matrix", oracle=_xsrc_oracle())
def q185_cross_source_dup_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which SOURCES duplicate each other: the exact set-similarity
    pairs (q175's lossless prefix-join machinery, threshold 0.5)
    labeled with each side's source and rolled up into an
    (unordered) source-pair matrix — the report that tells a crawl
    operator which feeds to de-prioritize and a training-mix owner
    where leakage between corpus slices comes from. The pair relation
    is the scale-bounded part (prefix + length + positional filters);
    the rollup adds two broadcast-able doc->source attaches and one
    tiny matrix groupBy. The threshold-independent ordered-sets
    prework is shared with q175 (_ordered_sets) — the
    r7-VERDICT item-5 work-sharing fix."""
    from tp_integ_data_pipeline_spark.operators.dedup import set_similarity_join

    docs = load_table(spark, sf_dir, "documents", spread=True)
    pairs = set_similarity_join(None, _XSRC_T, ordered=_ordered_sets(spark, sf_dir))
    src = docs.select("doc_id", "source")
    lab = (
        pairs.join(src.select(F.col("doc_id").alias("a"), F.col("source").alias("sa")), "a")
        .join(src.select(F.col("doc_id").alias("b"), F.col("source").alias("sb")), "b")
        .select(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
            "jaccard",
        )
    )
    return (
        lab.groupBy("source_a", "source_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.round(F.avg("jaccard"), 6).alias("avg_jaccard"),
            F.round(F.max("jaccard"), 6).alias("max_jaccard"),
        )
        .orderBy("source_a", "source_b")
    )


# --------------------------------------------------------------------------
# q237 — ROUGE-1 scores for near-duplicate candidate pairs
# --------------------------------------------------------------------------
_RG_T = 0.5
_RG_DOCS = 300


def _rouge_oracle() -> str:
    from tp_integ_data_pipeline_spark.operators.dedup import shingle_sql

    return f"""
    WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id < {_RG_DOCS}),
    {shingle_sql("base", "doc_id", "text", 3)},
    n AS (SELECT id, COUNT(*) AS n FROM sh GROUP BY 1),
    i AS (
        SELECT a.id AS a, b.id AS b, COUNT(*) AS inter
        FROM sh a JOIN sh b ON a.sh = b.sh AND a.id < b.id
        GROUP BY 1, 2
    ),
    pairs AS (
        SELECT a, b FROM i JOIN n na ON na.id = i.a JOIN n nb ON nb.id = i.b
        WHERE inter * 1.0 / (na.n + nb.n - inter) >= {_RG_T}
    ),
    tok AS (
        SELECT doc_id AS id, t AS token, COUNT(*) AS c
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM base)
        WHERE t <> '' GROUP BY 1, 2
    ),
    tl AS (SELECT id, SUM(c) AS len FROM tok GROUP BY 1),
    ov AS (
        SELECT p.a, p.b, SUM(LEAST(x.c, y.c)) AS overlap
        FROM pairs p
        JOIN tok x ON x.id = p.a
        JOIN tok y ON y.id = p.b AND y.token = x.token
        GROUP BY 1, 2
    )
    SELECT p.a, p.b,
           CAST(COALESCE(ov.overlap, 0) AS BIGINT) AS overlap,
           ROUND(COALESCE(ov.overlap, 0) * 1.0 / la.len, 6) AS rouge_p,
           ROUND(COALESCE(ov.overlap, 0) * 1.0 / lb.len, 6) AS rouge_r,
           ROUND(2.0 * COALESCE(ov.overlap, 0)
                 / (la.len + lb.len), 6) AS rouge_f
    FROM pairs p
    LEFT JOIN ov ON ov.a = p.a AND ov.b = p.b
    JOIN tl la ON la.id = p.a
    JOIN tl lb ON lb.id = p.b
    ORDER BY p.a, p.b
    """


@query("q237_rouge_pairs", oracle=_rouge_oracle())
def q237_rouge_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROUGE-1 (unigram multiset overlap: precision / recall / F1)
    for every high-similarity candidate pair — the eval-metric verb an
    LLM data pipeline runs to QUANTIFY near-duplication (and to score
    summaries/paraphrases at corpus scale): Jaccard (q175) says
    "similar", ROUGE says "how much of A's content B reproduces".
    Clipped overlap = Σ_token min(count_a, count_b).

    Scale shape: candidate pairs come from the bounded exact-Jaccard
    path (inverted index, threshold prune — never all-pairs); token
    multisets are (id, token)-keyed rollups; the overlap join is
    pair×shared-token bounded. ROUGE denominators are per-doc token
    totals attached by equi-join."""
    from tp_integ_data_pipeline_spark.operators.dedup import pair_jaccard, shingles

    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < _RG_DOCS)
    sh = shingles(docs, "doc_id", "text", 3)
    pairs = (
        pair_jaccard(sh)
        .where(F.col("jaccard") >= _RG_T)
        .select("a", "b")
        .localCheckpoint(eager=False)  # feeds the overlap join AND the output
    )
    tok = (
        docs.select(
            F.col("doc_id").alias("id"),
            F.explode(tokens()).alias("token"),
        )
        .where(F.col("token") != "")
        .groupBy("id", "token")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=False)  # feeds both pair sides AND lengths
    )
    tl = tok.groupBy("id").agg(F.sum("c").alias("len"))
    ov = (
        pairs.join(tok.select(F.col("id").alias("a"), "token", F.col("c").alias("ca")), "a")
        .join(
            tok.select(F.col("id").alias("b"), "token", F.col("c").alias("cb")),
            ["b", "token"],
        )
        .groupBy("a", "b")
        .agg(F.sum(F.least("ca", "cb")).alias("overlap"))
    )
    out = (
        pairs.join(ov, ["a", "b"], "left")
        .join(tl.select(F.col("id").alias("a"), F.col("len").alias("la")), "a")
        .join(tl.select(F.col("id").alias("b"), F.col("len").alias("lb")), "b")
        .select(
            "a",
            "b",
            F.coalesce("overlap", F.lit(0)).cast("long").alias("overlap"),
            F.round(F.coalesce("overlap", F.lit(0)) / F.col("la"), 6).alias("rouge_p"),
            F.round(F.coalesce("overlap", F.lit(0)) / F.col("lb"), 6).alias("rouge_r"),
            F.round(
                2.0 * F.coalesce("overlap", F.lit(0)) / (F.col("la") + F.col("lb")), 6
            ).alias("rouge_f"),
        )
    )
    return out.orderBy("a", "b")


# --------------------------------------------------------------------------
# q239 — BLEU-2 scores for near-duplicate candidate pairs
# --------------------------------------------------------------------------
def _bleu_oracle() -> str:
    from tp_integ_data_pipeline_spark.operators.dedup import shingle_sql

    return f"""
    WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id < {_RG_DOCS}),
    {shingle_sql("base", "doc_id", "text", 3)},
    n AS (SELECT id, COUNT(*) AS n FROM sh GROUP BY 1),
    i AS (
        SELECT a.id AS a, b.id AS b, COUNT(*) AS inter
        FROM sh a JOIN sh b ON a.sh = b.sh AND a.id < b.id
        GROUP BY 1, 2
    ),
    pairs AS (
        SELECT a, b FROM i JOIN n na ON na.id = i.a JOIN n nb ON nb.id = i.b
        WHERE inter * 1.0 / (na.n + nb.n - inter) >= {_RG_T}
    ),
    uni AS (
        SELECT doc_id AS id, t AS g, COUNT(*) AS c
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM base)
        WHERE t <> '' GROUP BY 1, 2
    ),
    bi AS (
        SELECT doc_id AS id, w[i] || ' ' || w[i + 1] AS g, COUNT(*) AS c
        FROM (SELECT doc_id, string_split(text, ' ') AS w FROM base),
             UNNEST(range(1, greatest(len(w), 1))) AS t(i)
        GROUP BY 1, 2
    ),
    lens AS (SELECT id, SUM(c) AS l1 FROM uni GROUP BY 1),
    o1 AS (
        SELECT p.a, p.b, SUM(LEAST(x.c, y.c)) AS m1
        FROM pairs p JOIN uni x ON x.id = p.a
        JOIN uni y ON y.id = p.b AND y.g = x.g
        GROUP BY 1, 2
    ),
    o2 AS (
        SELECT p.a, p.b, SUM(LEAST(x.c, y.c)) AS m2
        FROM pairs p JOIN bi x ON x.id = p.a
        JOIN bi y ON y.id = p.b AND y.g = x.g
        GROUP BY 1, 2
    )
    SELECT p.a, p.b,
           ROUND(
               CASE WHEN COALESCE(o1.m1, 0) = 0 OR COALESCE(o2.m2, 0) = 0 THEN 0.0
                    ELSE LEAST(1.0, exp(1.0 - lb.l1 / la.l1))
                         * sqrt((o1.m1 * 1.0 / la.l1)
                                * (o2.m2 * 1.0 / (la.l1 - 1)))
               END, 6) AS bleu2
    FROM pairs p
    LEFT JOIN o1 ON o1.a = p.a AND o1.b = p.b
    LEFT JOIN o2 ON o2.a = p.a AND o2.b = p.b
    JOIN lens la ON la.id = p.a
    JOIN lens lb ON lb.id = p.b
    ORDER BY p.a, p.b
    """


@query("q239_bleu_pairs", oracle=_bleu_oracle())
def q239_bleu_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BLEU-2 (geometric mean of clipped 1/2-gram precisions × brevity
    penalty, candidate = doc a scored against reference = doc b) for
    the same bounded candidate pairs as q237 — the second standard
    generation-eval metric, order-sensitive where ROUGE-1 is
    bag-of-words (bigram clipping catches shuffled content that
    unigram overlap misses). Zero n-gram matches floor the score at 0
    (standard smoothing-free convention) on both engines.

    Scale shape: identical to q237 plus one bigram rollup — all joins
    pair- or n-gram-keyed, never all-pairs."""
    from tp_integ_data_pipeline_spark.operators.dedup import pair_jaccard, shingles

    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < _RG_DOCS)
    sh = shingles(docs, "doc_id", "text", 3)
    pairs = (
        pair_jaccard(sh)
        .where(F.col("jaccard") >= _RG_T)
        .select("a", "b")
        .localCheckpoint(eager=False)  # feeds both overlap joins AND the output
    )
    toked = docs.select(
        F.col("doc_id").alias("id"), tokens().alias("w")
    )
    uni = (
        toked.select("id", F.explode("w").alias("g"))
        .where(F.col("g") != "")
        .groupBy("id", "g")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=False)  # feeds both pair sides AND lengths
    )
    bi = (
        toked.select(
            "id",
            F.explode(word_ngrams("w", 2)).alias("g"),
        )
        .groupBy("id", "g")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    lens = uni.groupBy("id").agg(F.sum("c").alias("l1"))

    def clipped(grams, out):
        return (
            pairs.join(grams.select(F.col("id").alias("a"), "g", F.col("c").alias("ca")), "a")
            .join(grams.select(F.col("id").alias("b"), "g", F.col("c").alias("cb")), ["b", "g"])
            .groupBy("a", "b")
            .agg(F.sum(F.least("ca", "cb")).alias(out))
        )

    o1 = clipped(uni, "m1")
    o2 = clipped(bi, "m2")
    m1 = F.coalesce("m1", F.lit(0))
    m2 = F.coalesce("m2", F.lit(0))
    bleu = (
        F.when((m1 == 0) | (m2 == 0), 0.0)
        .otherwise(
            F.least(F.lit(1.0), F.exp(1.0 - F.col("lb") / F.col("la")))
            * F.sqrt((m1 / F.col("la")) * (m2 / (F.col("la") - 1)))
        )
    )
    return (
        pairs.join(o1, ["a", "b"], "left")
        .join(o2, ["a", "b"], "left")
        .join(lens.select(F.col("id").alias("a"), F.col("l1").alias("la")), "a")
        .join(lens.select(F.col("id").alias("b"), F.col("l1").alias("lb")), "b")
        .select("a", "b", F.round(bleu, 6).alias("bleu2"))
        .orderBy("a", "b")
    )
