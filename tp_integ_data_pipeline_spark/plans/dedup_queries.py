"""Dedup queries (X1/X2) over the `documents` / `embeddings` fixtures:
document-, line-, chunk- and URL-level dedup, and MinHash calibration.

Oracle note: the LSH query's oracle is the EXACT pairwise Jaccard —
valid because the band scheme's miss probability at the 0.6 threshold
is < 1e-12 (operators/dedup.py), i.e. LSH+verify equals exact output.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tp_integ_data_pipeline_spark.operators.dedup import (
    LINE_W,
    NUM_PERM,
    dup_clusters,
    dup_stats,
    line_dedup_keep_first,
    minhash_near_dup_pairs,
    minhash_signatures,
    pair_jaccard,
    segment_blocks,
    shingles,
    simhash_near_dup_pairs,
)
from tp_integ_data_pipeline_spark.operators.selection import hash_bucket
from tp_integ_data_pipeline_spark.operators.similarity import cosine_pairs
from tp_integ_data_pipeline_spark.operators.text import tokens, word_ngrams
from tp_integ_data_pipeline_spark.plans.registry import query
from tp_integ_data_pipeline_spark.sources.fixtures import load_table, scratch_dir

# The verified MinHash-LSH pair relation (k=3, t=0.6 over the full
# documents table) feeds FIVE registered queries (q42 pairs, q87/q110
# clusterings, q90 removal, q111 leakage-safe split) — share one
# lazily-checkpointed copy per (session, corpus), and likewise the
# connected-components labeling built on it (the q175/q185 ordered-sets
# discipline, plans/session_cache.py). Each consumer still expresses
# the full logical plan; the oracle differential is unaffected.
def _corpus_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-cached (id, sig, n) MinHash signatures of the FULL
    documents table (k=3, NUM_PERM) — the threshold- AND split-
    independent feature prework under every MinHash consumer: the
    batch pair relation (_minhash_pairs → q42/q87/q90/q110/q111) and
    the incremental index (q103's add takes the id < mid slice, its
    probe the rest). Fixed-width rows (NUM_PERM longs + n per doc), so
    the lazy checkpoint is index-sized, never corpus-text-sized."""
    from tp_integ_data_pipeline_spark.plans.session_cache import session_cached

    def build() -> DataFrame:
        docs = load_table(spark, sf_dir, "documents", spread=True)
        sh = shingles(docs, "doc_id", "text", k=3)
        return minhash_signatures(
            sh, num_perm=NUM_PERM, with_sizes=True
        ).localCheckpoint(eager=False)

    return session_cached(spark, "minhash_sigs", (sf_dir,), build)


def _minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tp_integ_data_pipeline_spark.plans.session_cache import session_cached

    def build() -> DataFrame:
        docs = load_table(spark, sf_dir, "documents", spread=True)
        return minhash_near_dup_pairs(
            docs, "doc_id", "text", k=3, threshold=0.6,
            sig=_corpus_sigs(spark, sf_dir),
        ).localCheckpoint(eager=False)

    return session_cached(spark, "minhash_pairs", (sf_dir,), build)


def _minhash_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tp_integ_data_pipeline_spark.plans.session_cache import session_cached

    def build() -> DataFrame:
        return dup_clusters(
            _minhash_pairs(spark, sf_dir).select("a", "b")
        ).localCheckpoint(eager=False)

    return session_cached(spark, "minhash_clusters", (sf_dir,), build)


# DuckDB CTEs mirroring operators.dedup.shingles / pair_jaccard (k=3).
_SHINGLE_CTES = """
WITH sh AS (
    SELECT DISTINCT doc_id AS id, array_to_string(toks[i:i+2], ' ') AS sh
    FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         UNNEST(range(1, greatest(len(toks) - 1, 1))) AS u(i)
),
sizes AS (SELECT id, COUNT(*) AS n FROM sh GROUP BY id),
p AS (
    SELECT a.id AS a, b.id AS b, COUNT(*) AS inter
    FROM sh a JOIN sh b ON a.sh = b.sh AND a.id < b.id
    GROUP BY 1, 2
),
scored AS (
    SELECT p.a, p.b, p.inter,
           sa.n + sb.n - p.inter AS uni,
           CAST(p.inter AS DOUBLE) / (sa.n + sb.n - p.inter) AS jaccard
    FROM p JOIN sizes sa ON p.a = sa.id JOIN sizes sb ON p.b = sb.id
)
"""


@query(
    "q40_dedup_exact_stats",
    oracle="""
    SELECT COUNT(*) AS n_distinct,
           CAST(SUM(c) AS BIGINT) AS n_rows,
           CAST(SUM(c) - COUNT(*) AS BIGINT) AS n_duplicates,
           MAX(c) AS max_group
    FROM (SELECT COUNT(*) AS c FROM documents GROUP BY text)
    """,
)
def q40_dedup_exact_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dup_stats(docs, ["text"])


@query(
    "q41_ngram_jaccard_topk",
    oracle=_SHINGLE_CTES
    + """
    SELECT a, b, inter, uni, jaccard FROM scored
    ORDER BY jaccard DESC, a, b
    LIMIT 20
    """,
)
def q41_ngram_jaccard_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", spread=True)
    # The exact all-pairs path consumes the shingle relation from three
    # branches (self-join a/b + sizes); pinning it lazily is fine HERE
    # because pair_jaccard(pairs=None) is by contract the
    # small-corpus/verification tool (the 100 TB near-dup paths are
    # LSH/IVF) — the same corpus-sized pin is deliberately NOT taken
    # inside minhash_near_dup_pairs. Measured ~15% at sf0.1.
    sh = shingles(docs, "doc_id", "text", k=3).localCheckpoint(eager=False)
    return pair_jaccard(sh).orderBy(F.col("jaccard").desc(), "a", "b").limit(20)


@query(
    "q42_minhash_lsh_pairs",
    oracle=_SHINGLE_CTES
    + """
    SELECT a, b, inter, uni, jaccard FROM scored
    WHERE jaccard >= 0.6
    ORDER BY a, b
    """,
)
def q42_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _minhash_pairs(spark, sf_dir).orderBy("a", "b")


def _simhash_oracle(max_hamming: int = 3) -> str:
    """Full SQL replay of the SimHash pipeline (hash-checked since the
    round-6 switch to the portable two-segment md5 token hash): 64
    conditional bit sums, signature assembly with the bit-63 sign-wrap
    spelled as a literal (DuckDB's checked shift would overflow where
    Spark's shiftleft wraps), 16-bit-chunk pigeonhole candidates, and
    bit_count(xor) Hamming verify — identical arithmetic to
    operators/dedup.simhash_signatures/simhash_near_dup_pairs."""
    bit_sums = ",\n               ".join(
        f"SUM(CASE WHEN ({'h1' if i < 32 else 'h2'} >> {i % 32}) & 1 = 1"
        f" THEN 1 ELSE -1 END) AS b{i}"
        for i in range(64)
    )
    terms = " + ".join(
        f"CASE WHEN b{i} > 0 THEN CAST({(1 << i) if i < 63 else -(1 << 63)} AS BIGINT)"
        f" ELSE 0 END"
        for i in range(64)
    )
    return f"""
    WITH toks AS (
        SELECT doc_id AS id, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    h AS (
        SELECT id,
               CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) AS h1,
               CAST(('0x' || substr(md5(tok), 9, 8)) AS BIGINT) AS h2
        FROM toks
    ),
    bits AS (
        SELECT id,
               {bit_sums}
        FROM h GROUP BY id
    ),
    sig AS (SELECT id, {terms} AS simhash FROM bits),
    chunks AS (
        SELECT id, simhash, j AS chunk_id, (simhash >> (16 * j)) & 65535 AS chunk
        FROM sig, UNNEST(range(0, 4)) t(j)
    ),
    cand AS (
        SELECT DISTINCT a.id AS a, b.id AS b, a.simhash AS sa, b.simhash AS sb
        FROM chunks a JOIN chunks b
          ON a.chunk_id = b.chunk_id AND a.chunk = b.chunk AND a.id < b.id
    )
    SELECT a, b, CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
    FROM cand
    WHERE bit_count(xor(sa, sb)) <= {max_hamming}
    ORDER BY a, b
    """


@query("q43_simhash_pairs", oracle=_simhash_oracle(3))
def q43_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return simhash_near_dup_pairs(docs, "doc_id", "text", max_hamming=3).orderBy("a", "b")


@query(
    "q44_embedding_near_dup",
    oracle="""
    SELECT a, b, round(cos, 6) AS cos6
    FROM (
        SELECT a.vec_id AS a, b.vec_id AS b,
               list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) /
               (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[]))) *
                sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))) AS cos
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    )
    WHERE cos >= 0.45
    ORDER BY a, b
    """,
)
def q44_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_pairs(emb, threshold=0.45).orderBy("a", "b")


@query(
    "q87_dup_clusters",
    # Transitive closure via recursive CTE over the exact-Jaccard edge
    # list (same ≥0.6 edges as q42; LSH misses nothing there, see the
    # band-probability note at the top of operators/dedup.py), then
    # cluster id = min reachable node — identical convention to
    # dup_clusters' min-label propagation.
    oracle=_SHINGLE_CTES.replace("WITH sh AS", "WITH RECURSIVE sh AS", 1)
    + """
    , edges AS (SELECT a, b FROM scored WHERE jaccard >= 0.6),
    sym AS (SELECT a, b FROM edges UNION SELECT b, a FROM edges),
    reach(src, dst) AS (
        SELECT a AS src, a AS dst FROM sym
        UNION
        SELECT r.src, s.b FROM reach r JOIN sym s ON r.dst = s.a
    )
    SELECT src AS id, MIN(dst) AS cluster FROM reach GROUP BY src
    ORDER BY id
    """,
)
def q87_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _minhash_clusters(spark, sf_dir).orderBy("id")


@query(
    "q90_corpus_dedup",
    # End-to-end near-dup REMOVAL — the user-facing training-data op:
    # LSH pairs → connected components → keep the min-id doc per
    # cluster (singletons untouched) → corpus summary.
    oracle=_SHINGLE_CTES.replace("WITH sh AS", "WITH RECURSIVE sh AS", 1)
    + """
    , edges AS (SELECT a, b FROM scored WHERE jaccard >= 0.6),
    sym AS (SELECT a, b FROM edges UNION SELECT b, a FROM edges),
    reach(src, dst) AS (
        SELECT a AS src, a AS dst FROM sym
        UNION
        SELECT r.src, s.b FROM reach r JOIN sym s ON r.dst = s.a
    ),
    clusters AS (SELECT src AS id, MIN(dst) AS cluster FROM reach GROUP BY src),
    removed AS (SELECT id FROM clusters WHERE id <> cluster),
    kept AS (SELECT * FROM documents WHERE doc_id NOT IN (SELECT id FROM removed))
    SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
           COUNT(*) AS n_kept,
           (SELECT COUNT(*) FROM documents) - COUNT(*) AS n_removed,
           CAST(SUM(doc_id) AS BIGINT) AS kept_id_checksum
    FROM kept
    """,
)
def q90_corpus_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full dedup pipeline a 100 TB corpus runs before training:
    bucketed LSH candidates (no all-pairs), estimate-filtered exact
    verification, distributed connected components, then an anti-join
    drop of non-canonical members — every stage shuffle-bounded; the
    only driver actions are the component-convergence counts."""
    docs = load_table(spark, sf_dir, "documents")
    clusters = _minhash_clusters(spark, sf_dir)
    drop = clusters.filter(F.col("id") != F.col("cluster")).select(
        F.col("id").alias("doc_id")
    )
    kept = docs.join(drop, "doc_id", "left_anti")
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        kept.agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("doc_id").alias("kept_id_checksum"),
        )
        .crossJoin(F.broadcast(n_docs))
        .select(
            "n_docs",
            "n_kept",
            (F.col("n_docs") - F.col("n_kept")).alias("n_removed"),
            "kept_id_checksum",
        )
    )


@query(
    "q111_leakage_safe_split",
    # Cluster-aware split: the split key is the near-dup cluster's
    # min-id representative (singleton → own id), q76's md5-digit
    # convention — so a duplicate cluster can never straddle
    # train/val/test (eval contamination by near-copies).
    oracle=_SHINGLE_CTES.replace("WITH sh AS", "WITH RECURSIVE sh AS", 1)
    + """
    , edges AS (SELECT a, b FROM scored WHERE jaccard >= 0.6),
    sym AS (SELECT a, b FROM edges UNION SELECT b, a FROM edges),
    reach(src, dst) AS (
        SELECT a AS src, a AS dst FROM sym
        UNION
        SELECT r.src, s.b FROM reach r JOIN sym s ON r.dst = s.a
    ),
    clusters AS (SELECT src AS id, MIN(dst) AS cluster FROM reach GROUP BY src),
    assigned AS (
        SELECT d.doc_id, COALESCE(c.cluster, d.doc_id) AS rep
        FROM documents d LEFT JOIN clusters c ON d.doc_id = c.id
    ),
    sp AS (
        SELECT doc_id,
               CASE WHEN dg < 12 THEN 'train' WHEN dg < 14 THEN 'val'
                    ELSE 'test' END AS split
        FROM (SELECT doc_id,
                     CAST(('0x' || substr(md5(CAST(rep AS VARCHAR)), 1, 1)) AS INT) AS dg
              FROM assigned)
    )
    SELECT split, COUNT(*) AS n_docs, CAST(SUM(doc_id) AS BIGINT) AS id_checksum
    FROM sp GROUP BY 1 ORDER BY 1
    """,
)
def q111_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup-cluster-aware train/val/test split
    (operators/dedup.leakage_safe_split): membership is decided by the
    cluster representative's hash, so near-copies always share a
    split. The exact per-split id-set (checksummed) must match the
    oracle's recomputation."""
    from tp_integ_data_pipeline_spark.operators.dedup import leakage_safe_split

    docs = load_table(spark, sf_dir, "documents")
    clusters = _minhash_clusters(spark, sf_dir)
    assigned = leakage_safe_split(docs, clusters, "doc_id")
    return (
        assigned.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("id").cast("long").alias("id_checksum"),
        )
        .orderBy("split")
    )


@query(
    "q110_cluster_canonicals",
    # Keep-BEST canonical selection: same clusters as q87, but the
    # kept member is the longest document (n_chars desc, id tiebreak) —
    # the policy a curation pipeline wants when duplicates differ in
    # cleanliness, vs q90's keep-min-id convention.
    oracle=_SHINGLE_CTES.replace("WITH sh AS", "WITH RECURSIVE sh AS", 1)
    + """
    , edges AS (SELECT a, b FROM scored WHERE jaccard >= 0.6),
    sym AS (SELECT a, b FROM edges UNION SELECT b, a FROM edges),
    reach(src, dst) AS (
        SELECT a AS src, a AS dst FROM sym
        UNION
        SELECT r.src, s.b FROM reach r JOIN sym s ON r.dst = s.a
    ),
    clusters AS (SELECT src AS id, MIN(dst) AS cluster FROM reach GROUP BY src)
    SELECT c.id, c.cluster,
           (ROW_NUMBER() OVER (PARTITION BY c.cluster
                               ORDER BY d.n_chars DESC, c.id) = 1) AS keep
    FROM clusters c JOIN documents d ON c.id = d.doc_id
    ORDER BY c.id
    """,
)
def q110_cluster_canonicals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-ordered canonical pick per duplicate cluster
    (operators/dedup.cluster_canonicals): keep the longest member,
    doc_id as tiebreak. One bounded window per cluster."""
    from tp_integ_data_pipeline_spark.operators.dedup import cluster_canonicals

    docs = load_table(spark, sf_dir, "documents")
    clusters = _minhash_clusters(spark, sf_dir)
    return cluster_canonicals(
        clusters,
        docs.select("doc_id", "n_chars"),
        "doc_id",
        [F.col("n_chars").desc(), F.col("id")],
    ).orderBy("id")


# DuckDB CTEs mirroring operators.substring.duplicated_spans (k=20):
# every-position 20-gram md5 → global count ≥ 2 → gaps-and-islands
# span merge per doc. The md5 fingerprint step makes the whole
# operator SQL-expressible, unlike MinHash.
_SUBSTR_CTES = """
WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
grams AS (
    SELECT doc_id, i - 1 AS pos, md5(array_to_string(w[i:i+19], ' ')) AS gh
    FROM words, UNNEST(range(1, greatest(len(w) - 19, 0) + 1)) AS t(i)
),
dupg AS (
    SELECT gh FROM (SELECT gh, COUNT(*) AS c FROM grams GROUP BY gh) WHERE c >= 2
),
marked AS (SELECT doc_id, pos FROM grams WHERE gh IN (SELECT gh FROM dupg)),
brk AS (
    SELECT doc_id, pos,
           CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 20
                THEN 0 ELSE 1 END AS b
    FROM marked
),
runs AS (
    SELECT doc_id, pos,
           SUM(b) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS UNBOUNDED PRECEDING) AS run_id
    FROM brk
),
spans AS (
    SELECT doc_id, MIN(pos) AS s, MAX(pos) + 20 AS e
    FROM runs GROUP BY doc_id, run_id
)
"""


@query(
    "q105_substring_spans",
    oracle=_SUBSTR_CTES
    + """
    SELECT doc_id AS id,
           CAST(s AS BIGINT) AS span_start,
           CAST(e AS BIGINT) AS span_end,
           CAST(e - s AS BIGINT) AS span_len
    FROM spans
    ORDER BY id, span_start
    """,
)
def q105_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring-level dedup (Lee et al. 2022 ExactSubstr, token
    granularity): the maximal duplicated runs of ≥ 20 tokens across the
    corpus, via position-k-gram md5 fingerprints → global count ≥ 2 →
    per-doc gaps-and-islands merge (operators/substring.py). Two
    shuffles on fixed-width rows; the only windows are per-doc."""
    from tp_integ_data_pipeline_spark.operators.substring import duplicated_spans

    docs = load_table(spark, sf_dir, "documents", spread=True)
    spans = duplicated_spans(docs, "doc_id", "text", k=20)
    return spans.select(
        "id",
        F.col("span_start").cast("long"),
        F.col("span_end").cast("long"),
        F.col("span_len").cast("long"),
    ).orderBy("id", "span_start")


@query(
    "q106_substring_strip",
    oracle=_SUBSTR_CTES
    + """
    , tok AS (
        SELECT doc_id, w[i] AS tok, i - 1 AS idx
        FROM words, UNNEST(range(1, len(w) + 1)) AS t(i)
    ),
    kept AS (
        SELECT t.doc_id, t.idx, t.tok FROM tok t
        WHERE NOT EXISTS (
            SELECT 1 FROM spans s
            WHERE s.doc_id = t.doc_id AND t.idx >= s.s AND t.idx < s.e
        )
    ),
    reb AS (
        SELECT doc_id, string_agg(tok, ' ' ORDER BY idx) AS txt,
               COUNT(*) AS n_kept
        FROM kept GROUP BY doc_id
    )
    SELECT d.doc_id,
           md5(COALESCE(r.txt, '')) AS stripped_md5,
           CAST(len(string_split(d.text, ' ')) - COALESCE(r.n_kept, 0) AS BIGINT)
               AS n_removed_tokens
    FROM documents d LEFT JOIN reb r ON d.doc_id = r.doc_id
    ORDER BY d.doc_id
    """,
)
def q106_substring_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The follow-through cut: remove every ≥20-token duplicated span
    found by q105's operator and rebuild each document from the
    surviving tokens in order (row-local after one bounded span
    aggregation per doc). The md5 of every rebuilt document must match
    the oracle's — proving span offsets AND reassembly order exact."""
    from tp_integ_data_pipeline_spark.operators.substring import (
        duplicated_spans,
        strip_spans,
    )

    docs = load_table(spark, sf_dir, "documents", spread=True)
    spans = duplicated_spans(docs, "doc_id", "text", k=20)
    stripped = strip_spans(docs, spans, "doc_id", "text")
    return stripped.select(
        F.col("id").alias("doc_id"),
        F.md5("text").alias("stripped_md5"),
        "n_removed_tokens",
    ).orderBy("doc_id")


@query(
    "q109_stream_corpus_dedup",
    # Two-micro-batch streaming corpus dedup (halves split at
    # max_id/2, like q103), cross-corpus decisions EXACTLY verified
    # (verify="exact") so the whole composition is oracle-able:
    # within-batch near-dup clusters keep their min id; a batch-2
    # survivor is dropped iff it ≥0.6-Jaccard-matches a batch-1
    # SURVIVOR (only survivors enter the index). LSH ≥0.6 == exact
    # (band-probability note, operators/dedup.py).
    oracle=_SHINGLE_CTES.replace("WITH sh AS", "WITH RECURSIVE sh AS", 1)
    + """
    , mid AS (SELECT MAX(doc_id) // 2 AS m FROM documents),
    e1 AS (
        SELECT a, b FROM scored
        WHERE jaccard >= 0.6 AND b < (SELECT m FROM mid)
    ),
    sym1 AS (SELECT a, b FROM e1 UNION SELECT b, a FROM e1),
    reach1(src, dst) AS (
        SELECT a AS src, a AS dst FROM sym1
        UNION
        SELECT r.src, s.b FROM reach1 r JOIN sym1 s ON r.dst = s.a
    ),
    cl1 AS (SELECT src AS id, MIN(dst) AS cluster FROM reach1 GROUP BY src),
    kept1 AS (
        SELECT doc_id FROM documents
        WHERE doc_id < (SELECT m FROM mid)
          AND doc_id NOT IN (SELECT id FROM cl1 WHERE id <> cluster)
    ),
    e2 AS (
        SELECT a, b FROM scored
        WHERE jaccard >= 0.6 AND a >= (SELECT m FROM mid)
    ),
    sym2 AS (SELECT a, b FROM e2 UNION SELECT b, a FROM e2),
    reach2(src, dst) AS (
        SELECT a AS src, a AS dst FROM sym2
        UNION
        SELECT r.src, s.b FROM reach2 r JOIN sym2 s ON r.dst = s.a
    ),
    cl2 AS (SELECT src AS id, MIN(dst) AS cluster FROM reach2 GROUP BY src),
    kept2 AS (
        SELECT doc_id FROM documents
        WHERE doc_id >= (SELECT m FROM mid)
          AND doc_id NOT IN (SELECT id FROM cl2 WHERE id <> cluster)
    ),
    crossdrop AS (
        SELECT DISTINCT s.b AS id
        FROM scored s
        JOIN kept1 k1 ON s.a = k1.doc_id
        JOIN kept2 k2 ON s.b = k2.doc_id
        WHERE s.jaccard >= 0.6
    ),
    kept AS (
        SELECT doc_id FROM kept1
        UNION ALL
        SELECT doc_id FROM kept2 WHERE doc_id NOT IN (SELECT id FROM crossdrop)
    )
    SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
           COUNT(*) AS n_kept,
           CAST(SUM(doc_id) AS BIGINT) AS kept_id_checksum
    FROM kept
    """,
)
def q109_stream_corpus_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming corpus dedup end-to-end (streaming/dedup_ingest.py):
    the corpus arrives as two micro-batches; each batch is deduped
    within itself (LSH pairs → clusters → keep min id), then against
    everything already ingested via the incremental index probe with
    exact verification, then appended to the lake and indexed. The
    final lake must equal the oracle's two-phase dedup — hard evidence
    the ingest-time composition matches batch semantics."""
    
    from tp_integ_data_pipeline_spark.operators.neardup_index import NearDupIndex
    from tp_integ_data_pipeline_spark.sources.lake import DataLake
    from tp_integ_data_pipeline_spark.streaming.dedup_ingest import (
        dedup_ingest_batch,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    mid = docs.agg(F.max("doc_id")).first()[0] // 2  # 1-value scalar
    lake = DataLake(spark, scratch_dir(prefix="stream_dedup_lake_"))
    idx = NearDupIndex(spark, scratch_dir(prefix="stream_dedup_idx_"))
    for half in (
        docs.filter(F.col("doc_id") < mid),
        docs.filter(F.col("doc_id") >= mid),
    ):
        dedup_ingest_batch(half, lake, "docs", idx, verify="exact")
    kept = lake.read("docs")
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        kept.agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("doc_id").alias("kept_id_checksum"),
        )
        .crossJoin(F.broadcast(n_docs))
        .select("n_docs", "n_kept", "kept_id_checksum")
    )


@query(
    "q108_substring_winnowed",
    # Same pipeline as q105 but over WINNOWED fingerprints (w=4): keep a
    # position only where its hash is the minimum of the 4-hash window
    # starting there (Schleimer et al. winnowing) — the 1/w-index-size
    # scale path. Deterministic and SQL-expressible, so unlike MinHash
    # the approximation itself gets a hard oracle.
    oracle="""
    WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    grams AS (
        SELECT doc_id, i - 1 AS pos, md5(array_to_string(w[i:i+19], ' ')) AS gh
        FROM words, UNNEST(range(1, greatest(len(w) - 19, 0) + 1)) AS t(i)
    ),
    winnowed AS (
        SELECT doc_id, pos, gh FROM (
            SELECT doc_id, pos, gh,
                   MIN(gh) OVER (PARTITION BY doc_id ORDER BY pos
                                 ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin
            FROM grams
        ) WHERE gh = wmin
    ),
    dupg AS (
        SELECT gh FROM (SELECT gh, COUNT(*) AS c FROM winnowed GROUP BY gh)
        WHERE c >= 2
    ),
    marked AS (SELECT doc_id, pos FROM winnowed WHERE gh IN (SELECT gh FROM dupg)),
    brk AS (
        SELECT doc_id, pos,
               CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 20
                    THEN 0 ELSE 1 END AS b
        FROM marked
    ),
    runs AS (
        SELECT doc_id, pos,
               SUM(b) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS UNBOUNDED PRECEDING) AS run_id
        FROM brk
    )
    SELECT doc_id AS id,
           CAST(MIN(pos) AS BIGINT) AS span_start,
           CAST(MAX(pos) + 20 AS BIGINT) AS span_end,
           CAST(MAX(pos) + 20 - MIN(pos) AS BIGINT) AS span_len
    FROM runs GROUP BY doc_id, run_id
    ORDER BY id, span_start
    """,
)
def q108_substring_winnowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowed substring-dup detection (the 100 TB path: 1/w index
    rows vs q105's every-position index; the winnowing guarantee keeps
    every duplicated run of ≥ k+w−1 tokens detectable). Spans are
    detection-grade — fingerprint coverage, not exact cut offsets; the
    oracle reproduces the selection + merge bit-for-bit."""
    from tp_integ_data_pipeline_spark.operators.substring import duplicated_spans

    docs = load_table(spark, sf_dir, "documents", spread=True)
    spans = duplicated_spans(docs, "doc_id", "text", k=20, winnow=4)
    return spans.select(
        "id",
        F.col("span_start").cast("long"),
        F.col("span_end").cast("long"),
        F.col("span_len").cast("long"),
    ).orderBy("id", "span_start")


@query(
    "q103_incremental_neardup",
    # Oracle: the exact cross-split near-dup pairs — everything indexed
    # (doc_id < max_id/2) vs the incoming batch (the rest; the split
    # adapts to the SF so every scale exercises the path). Valid
    # because the probe's LSH+estimate candidates (same band scheme and
    # Hoeffding margin as q42) feed an EXACT pair_jaccard verification
    # over the retrieved texts, so index pruning is value-invisible.
    oracle=_SHINGLE_CTES
    + """
    SELECT a, b, inter, uni, jaccard FROM scored
    WHERE jaccard >= 0.6
      AND a < (SELECT MAX(doc_id) // 2 FROM documents)
      AND b >= (SELECT MAX(doc_id) // 2 FROM documents)
    ORDER BY a, b
    """,
)
def q103_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming-corpus near-dup contract: an index built from already-
    ingested documents (id < 250) answers "which of these NEW documents
    (id >= 250) near-duplicate something ingested?" without rescanning
    ingested text — LSH bucket probe + signature-estimate prefilter
    (operators/neardup_index.py), then exact Jaccard verification by
    joining the candidate ids back to the corpus store. At 100 TB the
    index holds fixed-width rows (~1000× smaller than the text), and a
    probe touches only matching buckets."""
    
    from tp_integ_data_pipeline_spark.operators.dedup import pair_jaccard, shingles
    from tp_integ_data_pipeline_spark.operators.neardup_index import NearDupIndex

    docs = load_table(spark, sf_dir, "documents")
    # split point is a 1-value scalar (model-sized driver action)
    mid = docs.agg(F.max("doc_id")).first()[0] // 2
    old = docs.filter(F.col("doc_id") < mid)
    new = docs.filter(F.col("doc_id") >= mid)
    idx = NearDupIndex(spark, scratch_dir(prefix="neardup_idx_"))
    # the signature prework is the shared session-cached corpus
    # relation (same k/NUM_PERM as the index): add takes the indexed
    # slice, probe the batch slice — the feature pipeline runs once
    # per (session, corpus) across the whole MinHash family
    sigs = _corpus_sigs(spark, sf_dir)
    idx.add(old, sig=sigs.filter(F.col("id") < mid))
    sigma = (0.6 * 0.4 / idx.num_perm) ** 0.5
    cand = (
        idx.probe(new, sig=sigs.filter(F.col("id") >= mid))
        .filter(F.col("est_jaccard") >= 0.6 - 4.5 * sigma)
        .select(F.col("index_id").alias("a"), F.col("probe_id").alias("b"))
    )
    # Exact verification: resolve candidate ids against the corpus
    # store (the index holds no text) and score real shingle Jaccard.
    touched = docs.join(
        cand.select(F.col("a").alias("doc_id"))
        .union(cand.select(F.col("b").alias("doc_id")))
        .distinct(),
        "doc_id",
        "left_semi",
    )
    sh = shingles(touched, "doc_id", "text", k=3)
    return (
        pair_jaccard(sh, cand)
        .filter(F.col("jaccard") >= 0.6)
        .orderBy("a", "b")
    )


# --------------------------------------------------------------------------
# q180 — corpus-wide line dedup (keep-first) + document reassembly
# --------------------------------------------------------------------------
@query(
    "q180_line_dedup_rebuild",
    oracle=f"""
    WITH b AS (
        SELECT doc_id, (i - 1) // {LINE_W} AS pos,
               array_to_string(w[i:i+{LINE_W - 1}], ' ') AS line
        FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
             UNNEST(range(1, greatest(len(w), 1) + 1, {LINE_W})) AS t(i)
    ),
    kept AS (
        SELECT doc_id, pos, line FROM (
            SELECT doc_id, pos, line,
                   ROW_NUMBER() OVER (PARTITION BY line ORDER BY doc_id, pos) AS rn
            FROM b
        ) WHERE rn = 1
    ),
    reb AS (
        SELECT doc_id, COUNT(*) AS n_kept,
               string_agg(line, ' ' ORDER BY pos) AS txt
        FROM kept GROUP BY doc_id
    ),
    tot AS (SELECT doc_id, COUNT(*) AS n_lines FROM b GROUP BY doc_id)
    SELECT d.doc_id, t.n_lines,
           CAST(COALESCE(r.n_kept, 0) AS BIGINT) AS n_kept,
           md5(COALESCE(r.txt, '')) AS rebuilt_md5
    FROM documents d JOIN tot t USING (doc_id) LEFT JOIN reb r USING (doc_id)
    ORDER BY d.doc_id
    """,
)
def q180_line_dedup_rebuild(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Falcon/CCNet-granularity exact dedup: segment every document
    into 6-word lines, keep only the corpus-FIRST occurrence of each
    distinct line (lexicographically smallest (doc_id, pos) — unique
    and deterministic), and reassemble the survivors in original
    order. The complement of q104's boilerplate strip (which drops
    EVERY copy of a frequent block): here exactly one copy of each
    line survives, so no unique content is lost. All relational —
    one segment explode, one struct-min groupBy on the line key, one
    line-keyed join back, one order-preserving re-concat (array_sort
    over (pos, line) structs; no data-sized window). The md5 of every
    rebuilt document must match the oracle's, proving both the winner
    choice and order-exact reassembly."""
    docs = load_table(spark, sf_dir, "documents")
    blocks = segment_blocks(docs, LINE_W)
    kept = line_dedup_keep_first(blocks)
    reb = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
            " ",
        ).alias("txt"),
    )
    tot = blocks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_lines"))
    return (
        tot.join(reb, "doc_id", "left")
        .select(
            "doc_id",
            "n_lines",
            F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
            F.md5(F.coalesce(F.col("txt"), F.lit(""))).alias("rebuilt_md5"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# q184 — content-defined chunking (rolling-boundary CDC)
# --------------------------------------------------------------------------
# Boundary rule shared by both engines: word position i (1-based)
# ENDS a chunk when i >= 4 and the 4-gram ending at i hashes to
# 0 mod 17 (first-8-hex-md5 — the engine-portable hash_bucket rule).
# Expected chunk length ~17 words; boundaries derive from CONTENT, so
# identical runs in different documents chunk identically — the
# property that makes chunk-granular dedup/versioning work.
@query(
    "q184_cdc_chunks",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    g AS (
        SELECT doc_id, CAST(i AS INT) AS p,
               CASE WHEN i >= 4 AND
                    (CAST(('0x' || substr(md5(array_to_string(w[i-3:i], ' ')), 1, 8)) AS BIGINT) % 17) = 0
                    THEN 1 ELSE 0 END AS bnd,
               w[i] AS word
        FROM t, UNNEST(range(1, len(w) + 1)) AS u(i)
    ),
    c AS (
        SELECT doc_id, p, word,
               SUM(bnd) OVER (PARTITION BY doc_id ORDER BY p
                   ROWS UNBOUNDED PRECEDING) - bnd AS chunk
        FROM g
    ),
    ch AS (
        SELECT doc_id, chunk, COUNT(*) AS n_words,
               string_agg(word, ' ' ORDER BY p) AS ctext
        FROM c GROUP BY 1, 2
    ),
    df AS (SELECT ctext, COUNT(DISTINCT doc_id) AS df FROM ch GROUP BY 1)
    SELECT ch.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           ROUND(AVG(ch.n_words), 6) AS avg_chunk_words,
           CAST(SUM(CASE WHEN df.df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared_chunks,
           CAST(SUM(CAST(('0x' || substr(md5(ch.ctext), 1, 8)) AS BIGINT)) AS BIGINT) AS chunk_checksum
    FROM ch JOIN df USING (ctext)
    GROUP BY ch.doc_id ORDER BY ch.doc_id
    """,
)
def q184_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking: split each document at positions
    where the rolling 4-gram hash hits 0 mod 17 (~17-word expected
    chunks), then report per-doc chunk count, mean width, how many
    chunks also appear verbatim in OTHER documents (the CDC dedup
    signal — boundaries follow content, so shared runs chunk
    identically regardless of their offset in the doc), and a
    checksum over chunk-content hashes pinning the exact boundary
    set. Boundary flags are computed ROW-LOCALLY inside the token
    array (one transform, no O(len^2)); the only windows are per-doc
    prefix sums (keyed, bounded by doc length); chunk df is one
    map-side-combinable groupBy on the chunk text. At 100 TB the
    chunk relation replaces the doc relation at ~17x the row count
    but bounded row width — the unit the incremental near-dup index
    (q103) and RTBF erasure operate on in a chunk-store design."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    toked = docs.select("doc_id", tokens().alias("w"))
    # positions 1-3 end no 4-gram; position i >= 4 ends the 4-gram i - 3
    flags = F.concat(
        F.array_repeat(F.lit(0), F.least(F.size("w"), F.lit(3))),
        F.transform(word_ngrams("w", 4), lambda g: (hash_bucket(g, 17) == 0).cast("int")),
    )
    from pyspark.sql.window import Window as W

    pos = (
        toked.withColumn("f", flags)
        .select("doc_id", F.posexplode(F.arrays_zip("w", "f")).alias("p0", "z"))
        .select(
            "doc_id",
            (F.col("p0") + 1).alias("p"),
            F.col("z.w").alias("word"),
            F.col("z.f").alias("bnd"),
        )
    )
    w_cum = W.partitionBy("doc_id").orderBy("p").rowsBetween(W.unboundedPreceding, 0)
    chunked = pos.withColumn("chunk", F.sum("bnd").over(w_cum) - F.col("bnd"))
    ch = chunked.groupBy("doc_id", "chunk").agg(
        F.count(F.lit(1)).alias("n_words"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("p", "word"))),
                lambda s: s["word"],
            ),
            " ",
        ).alias("ctext"),
    )
    df_rel = ch.groupBy("ctext").agg(F.countDistinct("doc_id").alias("df"))
    chash = F.conv(F.substring(F.md5("ctext"), 1, 8), 16, 10).cast("long")
    return (
        ch.join(df_rel, "ctext")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_chunks"),
            F.round(F.avg("n_words"), 6).alias("avg_chunk_words"),
            F.sum(F.when(F.col("df") >= 2, 1).otherwise(0))
            .cast("long")
            .alias("n_shared_chunks"),
            F.sum(chash).cast("long").alias("chunk_checksum"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# q186 — canonical-URL normalization + variant-collapse dedup
# --------------------------------------------------------------------------
# Seven deterministic messy forms of each logical page (the fixture
# has no URL column; the CANONICALIZATION chain is the real machinery
# and both engines replay the same decoration): clean, uppercased
# scheme+host, explicit default port, fragment, utm-only query,
# trailing slash — all of which must collapse to one canonical — and
# a mixed query whose non-tracking param must SURVIVE (distinct
# canonical).
_MESSY_URL_SPARK = """
CASE CAST(doc_id % 7 AS INT)
  WHEN 0 THEN 'https://www.example.org/item/' || CAST(doc_id DIV 7 AS STRING)
  WHEN 1 THEN 'HTTPS://WWW.EXAMPLE.ORG/item/' || CAST(doc_id DIV 7 AS STRING)
  WHEN 2 THEN 'https://www.example.org:443/item/' || CAST(doc_id DIV 7 AS STRING)
  WHEN 3 THEN 'https://www.example.org/item/' || CAST(doc_id DIV 7 AS STRING) || '#frag'
  WHEN 4 THEN 'https://www.example.org/item/' || CAST(doc_id DIV 7 AS STRING) || '?utm_source=feed&utm_campaign=x'
  WHEN 5 THEN 'https://www.example.org/item/' || CAST(doc_id DIV 7 AS STRING) || '/'
  ELSE 'https://www.example.org/item/' || CAST(doc_id DIV 7 AS STRING) || '?keep=1&utm_medium=z'
END
"""
_MESSY_URL_DUCK = _MESSY_URL_SPARK.replace("AS STRING", "AS VARCHAR").replace(
    "doc_id DIV 7", "doc_id // 7"
)


@query(
    "q186_url_canonical_dedup",
    oracle=f"""
    WITH raw AS (SELECT doc_id, {_MESSY_URL_DUCK} AS url FROM documents),
    canon AS (
        SELECT doc_id, url,
          regexp_replace(
            regexp_replace(
              regexp_replace(
                regexp_replace(
                  regexp_replace(
                    regexp_replace(
                      regexp_replace(
                        regexp_replace(
                          regexp_replace(
                            regexp_replace(
                              CASE WHEN regexp_extract(regexp_replace(url, '#.*$', ''), '^([^:/?#]+://[^/?#]*)', 1) = ''
                                   THEN regexp_replace(url, '#.*$', '')
                                   ELSE lower(regexp_extract(regexp_replace(url, '#.*$', ''), '^([^:/?#]+://[^/?#]*)', 1))
                                        || regexp_extract(regexp_replace(url, '#.*$', ''), '^[^:/?#]+://[^/?#]*(.*)$', 1)
                              END,
                              '^(http://[^/:?#]+):80($|[/?#])', '\\1\\2'),
                            '^(https://[^/:?#]+):443($|[/?#])', '\\1\\2'),
                          '([?&])utm_[^&]*&', '\\1'),
                        '([?&])utm_[^&]*&', '\\1'),
                      '([?&])utm_[^&]*&', '\\1'),
                    '[?&]utm_[^&]*$', ''),
                  '\\?&', '?'),
                '[?&]$', ''),
              '([^:/])/$', '\\1'),
            '^$', '') AS canonical
        FROM raw
    )
    SELECT canonical,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT url) AS BIGINT) AS n_raw_forms,
           CAST(MIN(doc_id) AS BIGINT) AS first_doc
    FROM canon GROUP BY canonical ORDER BY canonical
    """,
)
def q186_url_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recrawl/variant dedup by canonical URL: normalize each fetch's
    URL (operators/selection.canonicalize_url — fragment strip,
    scheme+authority lowercase, default-port drop, utm_* removal with
    separator mending, trailing-slash strip; all row-local regexps
    both engines replay) and collapse fetches of the same logical
    page. Six planted messy forms per page must fold into ONE
    canonical; the mixed-query form must KEEP its non-tracking param
    as a distinct canonical. first_doc pins the exact membership (a
    canonicalization bug moves a doc across groups and flips it)."""
    from tp_integ_data_pipeline_spark.operators.selection import canonicalize_url

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_MESSY_URL_SPARK).alias("url")
    )
    canon = docs.withColumn("canonical", canonicalize_url("url"))
    return (
        canon.groupBy("canonical")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.countDistinct("url").cast("long").alias("n_raw_forms"),
            F.min("doc_id").cast("long").alias("first_doc"),
        )
        .orderBy("canonical")
    )


# --------------------------------------------------------------------------
# q197 — collapse consecutive duplicate lines (row-local cleaner)
# --------------------------------------------------------------------------
@query(
    "q197_consecutive_line_collapse",
    oracle=f"""
    WITH b AS (
        SELECT doc_id, (i - 1) // {LINE_W} AS pos,
               array_to_string(w[i:i + {LINE_W - 1}], ' ') AS line
        FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
             UNNEST(range(1, greatest(len(w), 1) + 1, {LINE_W})) AS t(i)
    ),
    k AS (
        SELECT doc_id, pos, line,
               CASE WHEN line = LAG(line) OVER (PARTITION BY doc_id ORDER BY pos)
                    THEN 0 ELSE 1 END AS keep
        FROM b
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(keep) AS BIGINT) AS n_kept,
           md5(string_agg(CASE WHEN keep = 1 THEN line END, ' ' ORDER BY pos))
               AS rebuilt_md5
    FROM k GROUP BY doc_id ORDER BY doc_id
    """,
)
def q197_consecutive_line_collapse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 'blank-line/stutter' cleaner every HTML-extraction pipeline
    runs: collapse CONSECUTIVE duplicate lines inside each document
    (keep the first of each run), leaving non-adjacent repeats alone —
    the order-sensitive complement of q180's corpus-wide keep-first.
    Lines are the q180 6-word segments; output pins the rebuilt text
    by md5.

    Scale shape: the whole operator is ROW-LOCAL — segment, compare
    each line to its predecessor, and rebuild inside ONE projection
    over the token array (no explode, no window, no shuffle beyond
    the output sort). The oracle replays it relationally with
    LAG-over-position; the engine never pays that window."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    lines = F.expr(
        f"""transform(
              sequence(1, (size(split(text, ' ')) + {LINE_W - 1}) div {LINE_W}),
              i -> array_join(slice(split(text, ' '), (i - 1) * {LINE_W} + 1,
                              {LINE_W}), ' '))"""
    )
    kept = F.expr(
        "filter(__lines, (x, i) -> i = 0 OR x != element_at(__lines, i))"
    )
    return (
        docs.select("doc_id", lines.alias("__lines"))
        .select(
            "doc_id",
            F.size("__lines").cast("long").alias("n_lines"),
            kept.alias("__kept"),
        )
        .select(
            "doc_id",
            "n_lines",
            F.size("__kept").cast("long").alias("n_kept"),
            F.md5(F.array_join("__kept", " ")).alias("rebuilt_md5"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# q215 — duplicate-line frequency spectrum + Hill tail exponent
# --------------------------------------------------------------------------
@query(
    "q215_dup_spectrum",
    oracle=f"""
    WITH b AS (
        SELECT array_to_string(w[i:i+{LINE_W - 1}], ' ') AS line
        FROM (SELECT string_split(text, ' ') AS w FROM documents),
             UNNEST(range(1, greatest(len(w), 1) + 1, {LINE_W})) AS t(i)
    ),
    lf AS (SELECT line, COUNT(*) AS cnt FROM b GROUP BY 1),
    spec AS (
        SELECT CAST(cnt AS BIGINT) AS freq,
               CAST(COUNT(*) AS BIGINT) AS n_lines
        FROM lf GROUP BY 1
    ),
    hill AS (
        SELECT ROUND(
                   1.0 + SUM(CASE WHEN freq >= 2 THEN n_lines ELSE 0 END)
                       / NULLIF(SUM(CASE WHEN freq >= 2
                                         THEN n_lines * ln(freq / 2.0) END), 0.0),
                   6
               ) AS hill_alpha
        FROM spec
    )
    SELECT s.freq, s.n_lines, h.hill_alpha
    FROM spec s, hill h
    ORDER BY s.freq
    """,
)
def q215_dup_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-line frequency spectrum (how many distinct 6-word
    lines occur exactly k times corpus-wide) plus the Hill maximum-
    likelihood tail exponent at xmin=2 — the corpus-health analytic
    behind dedup planning: a heavy tail (small alpha) means boilerplate
    dominates and line-level dedup (q180) pays; alpha is NULL when no
    line repeats (the estimator is undefined on an empty tail).

    Scale shape: the line relation is segment_blocks' row-local
    explode of the per-document word array (the SAME segmentation
    q180 dedups, one scan); groupBy(line) is the single data-sized
    shuffle; the spectrum rollup is ≤ max-frequency rows and the Hill
    scalar is a 1-row broadcast attach over it (BNLJ_ALLOWED
    scalar_aggs)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    lines = segment_blocks(docs, LINE_W).select("line")
    lf = lines.groupBy("line").agg(F.count(F.lit(1)).alias("cnt"))
    spec = (
        lf.groupBy(F.col("cnt").cast("long").alias("freq"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_lines"))
        .localCheckpoint(eager=False)  # feeds the Hill scalar AND the output
    )
    hill = spec.agg(
        F.round(
            1.0
            + F.sum(F.when(F.col("freq") >= 2, F.col("n_lines")).otherwise(0))
            / F.nullif(
                F.sum(
                    F.when(
                        F.col("freq") >= 2,
                        F.col("n_lines") * F.log(F.col("freq") / 2.0),
                    )
                ),
                F.lit(0.0),
            ),
            6,
        ).alias("hill_alpha")
    )
    return (
        spec.crossJoin(F.broadcast(hill))
        .select("freq", "n_lines", "hill_alpha")
        .orderBy("freq")
    )


# --------------------------------------------------------------------------
# q228 — MinHash estimator calibration against exact Jaccard
# --------------------------------------------------------------------------
_MHC_H = 16
_MHC_T = 0.5
_MHC_DOCS = 300


def _mhc_oracle() -> str:
    from tp_integ_data_pipeline_spark.operators.dedup import shingle_sql

    return f"""
    WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id < {_MHC_DOCS}),
    {shingle_sql("base", "doc_id", "text", 3)},
    n AS (SELECT id, COUNT(*) AS n FROM sh GROUP BY 1),
    i AS (
        SELECT a.id AS a, b.id AS b, COUNT(*) AS inter
        FROM sh a JOIN sh b ON a.sh = b.sh AND a.id < b.id
        GROUP BY 1, 2
    ),
    pairs AS (
        SELECT a, b,
               inter * 1.0 / (na.n + nb.n - inter) AS j
        FROM i JOIN n na ON na.id = i.a JOIN n nb ON nb.id = i.b
        WHERE inter * 1.0 / (na.n + nb.n - inter) >= {_MHC_T}
    ),
    mh AS (
        SELECT id, t.h,
               MIN(CAST(('0x' || substr(md5(CAST(t.h AS VARCHAR) || ':' || sh), 1, 8))
                        AS BIGINT)) AS m
        FROM sh, UNNEST(range({_MHC_H})) AS t(h)
        GROUP BY 1, 2
    ),
    est AS (
        SELECT p.a, p.b, p.j,
               AVG(CASE WHEN x.m = y.m THEN 1.0 ELSE 0.0 END) AS e
        FROM pairs p
        JOIN mh x ON x.id = p.a
        JOIN mh y ON y.id = p.b AND y.h = x.h
        GROUP BY 1, 2, 3
    )
    SELECT a, b, ROUND(j, 6) AS jaccard, ROUND(e, 6) AS minhash_est,
           ROUND(ABS(e - j), 6) AS abs_err
    FROM est ORDER BY a, b
    """


@query("q228_minhash_calibration", oracle=_mhc_oracle())
def q228_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-accuracy calibration: for every high-similarity pair
    (exact 3-shingle Jaccard ≥ 0.5 over the first 300 docs), the
    H=16 MinHash estimate — match fraction of per-function minima
    under the portable first-8-hex-md5 hash — next to the exact value
    and |error|. This PROVES the MinHash machinery's estimator
    quality inside the hash-checked gate itself (the q42 LSH path's
    recall tests sample; this measures the estimator bias directly,
    and DuckDB replays the identical 16 hash functions).

    Scale shape: shingles explode row-locally ONCE (checkpointed for
    the three consumers); signatures are a (id, h)-keyed rollup of
    the ×16 explode; exact pairs use the inverted-index join with the
    threshold prune; the estimate join is pair×H-bounded."""
    from tp_integ_data_pipeline_spark.operators.dedup import pair_jaccard, shingles

    docs = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") < _MHC_DOCS
    )
    sh = shingles(docs, "doc_id", "text", 3).localCheckpoint(eager=False)
    pairs = (
        pair_jaccard(sh)
        .where(F.col("jaccard") >= _MHC_T)
        .localCheckpoint(eager=False)
    )
    mh = (
        sh.select(
            "id", F.explode(F.sequence(F.lit(0), F.lit(_MHC_H - 1))).alias("h"), "sh"
        )
        .groupBy("id", "h")
        .agg(
            F.min(
                F.expr(
                    "CAST(conv(substr(md5(concat(CAST(h AS STRING), ':', sh)), 1, 8),"
                    " 16, 10) AS BIGINT)"
                )
            ).alias("m")
        )
    )
    est = (
        pairs.join(mh.select(F.col("id").alias("a"), "h", F.col("m").alias("ma")), "a")
        .join(
            mh.select(F.col("id").alias("b"), "h", F.col("m").alias("mb")),
            ["b", "h"],
        )
        .groupBy("a", "b", "jaccard")
        .agg(
            F.avg(F.when(F.col("ma") == F.col("mb"), 1.0).otherwise(0.0)).alias("e")
        )
    )
    return est.select(
        "a",
        "b",
        F.round("jaccard", 6).alias("jaccard"),
        F.round("e", 6).alias("minhash_est"),
        F.round(F.abs(F.col("e") - F.col("jaccard")), 6).alias("abs_err"),
    ).orderBy("a", "b")
