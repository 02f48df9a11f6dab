"""Round-7 curation operators: corpus line-level dedup with document
reassembly (Falcon/CCNet granularity), a mergeable rank sketch, and
host-keyed per-domain caps. No reference-repo counterpart — SURVEY.md
§2.10 extension surface (round-6 VERDICT item 8 candidates a/b/c)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tp_integ_data_pipeline_spark.operators.dedup import (
    line_dedup_keep_first,
    segment_blocks,
)
from tp_integ_data_pipeline_spark.operators.rank_sketch import (
    rank_error_audit,
    rank_summaries,
    summary_quantiles,
)
from tp_integ_data_pipeline_spark.operators.islands import id_gaps
from tp_integ_data_pipeline_spark.operators.selection import domain_cap, url_host
from tp_integ_data_pipeline_spark.plans.registry import query
from tp_integ_data_pipeline_spark.sources.fixtures import load_table

_LINE_W = 6  # synthetic "line" width (fixture text carries no newlines)


# --------------------------------------------------------------------------
# q180 — corpus-wide line dedup (keep-first) + document reassembly
# --------------------------------------------------------------------------
@query(
    "q180_line_dedup_rebuild",
    oracle=f"""
    WITH b AS (
        SELECT doc_id, (i - 1) // {_LINE_W} AS pos,
               array_to_string(w[i:i+{_LINE_W - 1}], ' ') AS line
        FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
             UNNEST(range(1, greatest(len(w), 1) + 1, {_LINE_W})) AS t(i)
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
    blocks = segment_blocks(docs, _LINE_W)
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
# q181 — mergeable rank sketch quantiles per event type, graded through
# the SQL-checkable error-bound AUDIT (upgraded from rows-only in r14)
# --------------------------------------------------------------------------
# The two-level MRL resampling itself is not SQL — but its CONTRACT is:
# for every probed quantile p the estimate's exact rank (count of
# values <= est, recomputed from raw events, NOT from the sketch) must
# sit within 2n/k + n_salts of p·n, and the estimate must be an actual
# data element (MRL never interpolates). Both booleans plus the exact
# per-key n are DuckDB-predictable constants when (and only when) the
# sketch honors its bound — so the hash check grades the invariant, the
# same upgrade shape as q127 (PCA whitened-covariance identity) and
# q153 (BPE). The float estimates themselves stay covered by
# tests/test_round7_ops.py (exactness when k >= n, salt-fan-out
# invariance, run-determinism) and the merge-tree bound test.
@query(
    "q181_rank_sketch_quantiles",
    oracle="""
    WITH g AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY event_type
    ),
    probs AS (
        SELECT CAST(p AS DOUBLE) AS p
        FROM (VALUES (0.1), (0.25), (0.5), (0.75), (0.9)) AS t(p)
    )
    SELECT g.event_type, probs.p, g.n,
           TRUE AS rank_err_ok,
           TRUE AS est_in_data
    FROM g CROSS JOIN probs
    ORDER BY g.event_type, probs.p
    """,
)
def q181_rank_sketch_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type quantile estimates {0.1, 0.25, 0.5, 0.75, 0.9}
    of the value column from a k=256 mergeable MRL summary — the
    shardable complement to q169's exact deciles — graded through the
    rank-error audit: join the 25-row estimate relation back to raw
    events (broadcast — the sketch output is model-sized) and check
    |exact_rank(est) - p·n| <= 2n/k + n_salts per (key, p), plus
    est ∈ data (MRL estimates are picked elements, never arithmetic
    on values, so equality is exact on the untouched doubles). Scale
    shape: one pass over events with a broadcast hash join + map-side
    partial agg; the audit costs the same as any grouped count at
    100 TB. Bound slack n_salts matches rank_summaries' default
    fan-out (16 stage-1 salt groups, each compaction deterministic)."""
    ev = load_table(spark, sf_dir, "events")
    summ = rank_summaries(ev, "event_type", "value", "event_id", k=256)
    est = summary_quantiles(summ, [0.1, 0.25, 0.5, 0.75, 0.9])
    return (
        rank_error_audit(ev, "event_type", "value", est, k=256, n_salts=16)
        .withColumnRenamed("key", "event_type")
        .orderBy("event_type", "p")
    )


# --------------------------------------------------------------------------
# q182 — per-domain page caps over a URL column
# --------------------------------------------------------------------------
# Same deterministic URL on both engines; only the string-cast type
# name differs (Spark: STRING, DuckDB: VARCHAR).
_URL_EXPR = "'https://' || source || '-' || CAST(doc_id % 5 AS VARCHAR) || '.example.com/page/' || CAST(doc_id AS VARCHAR)"
_URL_EXPR_SPARK = _URL_EXPR.replace("AS VARCHAR", "AS STRING")


@query(
    "q182_domain_cap",
    oracle=f"""
    WITH u AS (
        SELECT doc_id, n_chars, {_URL_EXPR} AS url FROM documents
    ),
    h AS (
        SELECT doc_id, n_chars,
               lower(regexp_extract(url, '^[a-z][a-z0-9+.\\-]*://(?:[^/@]*@)?([^/:?#]+)', 1)) AS host
        FROM u
    ),
    ranked AS (
        SELECT host, doc_id, n_chars,
               ROW_NUMBER() OVER (PARTITION BY host ORDER BY n_chars DESC, doc_id) AS rn
        FROM h
    ),
    kept AS (SELECT * FROM ranked WHERE rn <= 3)
    SELECT h.host,
           COUNT(*) AS n_docs,
           CAST(COUNT(k.doc_id) AS BIGINT) AS n_kept,
           CAST(COALESCE(SUM(k.n_chars), 0) AS BIGINT) AS kept_chars,
           CAST(COALESCE(SUM(k.doc_id), 0) AS BIGINT) AS kept_id_checksum
    FROM h LEFT JOIN kept k ON h.doc_id = k.doc_id
    GROUP BY h.host ORDER BY h.host
    """,
)
def q182_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RefinedWeb/Gopher-style per-site page cap: derive each page's
    host from its URL (deterministic synthetic URL — the fixture has
    no URL column; host EXTRACTION is the real, RE2-portable
    machinery), keep at most 3 pages per host preferring longer
    documents (n_chars desc, doc_id tiebreak), and report per-host
    keep stats with the kept id-set checksummed so the oracle pins
    the exact selection. The cap is the salted two-phase top-N
    (operators/selection.domain_cap) — no windows, hot hosts spread
    over 16 tasks, each shuffle row bounded by the cap."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "n_chars", F.expr(_URL_EXPR_SPARK).alias("url")
    )
    hosts = docs.withColumn("host", url_host("url")).drop("url")
    kept = domain_cap(
        hosts,
        "host",
        3,
        [(-F.col("n_chars")).alias("neg_chars"), F.col("doc_id").alias("tb")],
        "doc_id",
    )
    kept_stats = kept.groupBy("host").agg(
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.sum("n_chars").cast("long").alias("kept_chars"),
        F.sum("doc_id").cast("long").alias("kept_id_checksum"),
    )
    totals = hosts.groupBy("host").agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        totals.join(kept_stats, "host", "left")
        .select(
            "host",
            "n_docs",
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
            F.coalesce("kept_chars", F.lit(0)).cast("long").alias("kept_chars"),
            F.coalesce("kept_id_checksum", F.lit(0)).cast("long").alias("kept_id_checksum"),
        )
        .orderBy("host")
    )


# --------------------------------------------------------------------------
# q183 — Gopher-style intra-document repetition signals
# --------------------------------------------------------------------------
@query(
    "q183_repetition_signals",
    oracle=f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    b AS (
        SELECT doc_id, array_to_string(w[i:i+{_LINE_W - 1}], ' ') AS line
        FROM t, UNNEST(range(1, greatest(len(w), 1) + 1, {_LINE_W})) AS u(i)
    ),
    lc AS (SELECT doc_id, line, COUNT(*) AS c FROM b GROUP BY 1, 2),
    lstat AS (
        SELECT doc_id, SUM(c) AS n_lines,
               SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) AS dup_lines
        FROM lc GROUP BY 1
    ),
    bg AS (
        SELECT doc_id, array_to_string(w[i:i+1], ' ') AS g
        FROM t, UNNEST(range(1, greatest(len(w), 1))) AS u(i)
    ),
    bgc AS (SELECT doc_id, g, COUNT(*) AS c FROM bg GROUP BY 1, 2),
    bstat AS (SELECT doc_id, SUM(c) AS m2, MAX(c) AS cmax FROM bgc GROUP BY 1),
    tg AS (
        SELECT doc_id, array_to_string(w[i:i+2], ' ') AS g
        FROM t, UNNEST(range(1, greatest(len(w) - 1, 1))) AS u(i)
    ),
    tgc AS (SELECT doc_id, g, COUNT(*) AS c FROM tg GROUP BY 1, 2),
    tstat AS (
        SELECT doc_id, SUM(c) AS m3,
               SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) AS dup3
        FROM tgc GROUP BY 1
    )
    SELECT d.doc_id,
           CAST(l.n_lines AS BIGINT) AS n_lines,
           ROUND(CASE WHEN l.n_lines = 0 THEN 0 ELSE l.dup_lines * 1.0 / l.n_lines END, 6) AS dup_line_frac,
           ROUND(CASE WHEN b.m2 = 0 THEN 0 ELSE b.cmax * 1.0 / b.m2 END, 6) AS top_bigram_frac,
           ROUND(CASE WHEN s.m3 = 0 THEN 0 ELSE s.dup3 * 1.0 / s.m3 END, 6) AS dup_trigram_frac,
           CAST(CASE WHEN (CASE WHEN l.n_lines = 0 THEN 0 ELSE l.dup_lines * 1.0 / l.n_lines END) > 0.30
                       OR (CASE WHEN b.m2 = 0 THEN 0 ELSE b.cmax * 1.0 / b.m2 END) > 0.05
                       OR (CASE WHEN s.m3 = 0 THEN 0 ELSE s.dup3 * 1.0 / s.m3 END) > 0.20
                THEN 1 ELSE 0 END AS INT) AS flagged
    FROM documents d
    JOIN lstat l USING (doc_id) JOIN bstat b USING (doc_id) JOIN tstat s USING (doc_id)
    ORDER BY d.doc_id
    """,
)
def q183_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/Rae-et-al. repetition quality signals, per document:
    fraction of line occurrences that are within-doc duplicates
    (6-word lines, the q180 unit), fraction of bigram occurrences in
    the single most frequent bigram, and fraction of trigram
    occurrences whose trigram repeats — the pre-training filters that
    kill boilerplate-looping pages. One scan feeding three
    occurrence-explodes, each folded by a map-side-combinable
    (doc, gram) count then a per-doc rollup; everything doc-keyed, no
    corpus-wide shuffle beyond the counts. Ratios of non-negative
    ints rounded to 6 dp (no -0.0 trap); the flag uses only the MAX
    count per doc, so no tie-break surface between engines. Flag
    thresholds: the bigram cut (0.05) splits this corpus ~80/20; the
    dup-line/dup-trigram cuts (0.30/0.20) are the Gopher-magnitude
    ones, exercised by the planted repetitive docs in
    tests/test_round7_ops.py."""
    docs = load_table(spark, sf_dir, "documents")
    toked = docs.select("doc_id", F.split("text", " ").alias("w"))

    def grams(k: int):
        return F.when(
            F.size("w") >= k,
            F.expr(
                f"transform(sequence(0, size(w) - {k}), "
                f"i -> concat_ws(' ', slice(w, i + 1, {k})))"
            ),
        ).otherwise(F.array().cast("array<string>"))

    blocks = segment_blocks(docs, _LINE_W)
    lc = blocks.groupBy("doc_id", "line").agg(F.count(F.lit(1)).alias("c"))
    lstat = lc.groupBy("doc_id").agg(
        F.sum("c").alias("n_lines"),
        F.sum(F.when(F.col("c") >= 2, F.col("c")).otherwise(0)).alias("dup_lines"),
    )
    bgc = (
        toked.select("doc_id", F.explode(grams(2)).alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    bstat = bgc.groupBy("doc_id").agg(F.sum("c").alias("m2"), F.max("c").alias("cmax"))
    tgc = (
        toked.select("doc_id", F.explode(grams(3)).alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tstat = tgc.groupBy("doc_id").agg(
        F.sum("c").alias("m3"),
        F.sum(F.when(F.col("c") >= 2, F.col("c")).otherwise(0)).alias("dup3"),
    )
    frac = lambda num, den: F.when(F.col(den) == 0, F.lit(0.0)).otherwise(  # noqa: E731
        F.col(num) / F.col(den)
    )
    joined = (
        docs.select("doc_id")
        .join(lstat, "doc_id")
        .join(bstat, "doc_id")
        .join(tstat, "doc_id")
        .select(
            "doc_id",
            F.col("n_lines").cast("long").alias("n_lines"),
            frac("dup_lines", "n_lines").alias("_dlf"),
            frac("cmax", "m2").alias("_tbf"),
            frac("dup3", "m3").alias("_dtf"),
        )
    )
    return joined.select(
        "doc_id",
        "n_lines",
        F.round("_dlf", 6).alias("dup_line_frac"),
        F.round("_tbf", 6).alias("top_bigram_frac"),
        F.round("_dtf", 6).alias("dup_trigram_frac"),
        (
            (F.col("_dlf") > 0.30) | (F.col("_tbf") > 0.05) | (F.col("_dtf") > 0.20)
        ).cast("int").alias("flagged"),
    ).orderBy("doc_id")


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
    toked = docs.select("doc_id", F.split("text", " ").alias("w"))
    flags = F.expr(
        "transform(sequence(1, size(w)), i -> CASE WHEN i >= 4 AND "
        "cast(conv(substr(md5(concat_ws(' ', slice(w, i - 3, 4))), 1, 8), 16, 10) AS BIGINT) % 17 = 0 "
        "THEN 1 ELSE 0 END)"
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
    prework is shared with q175 (round6_queries._ordered_sets) — the
    r7-VERDICT item-5 work-sharing fix."""
    from tp_integ_data_pipeline_spark.operators.dedup import set_similarity_join
    from tp_integ_data_pipeline_spark.plans.round6_queries import _ordered_sets

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
# q188 — time-decayed engagement aggregates (feature-store verb)
# --------------------------------------------------------------------------
@query(
    "q188_decayed_engagement",
    oracle="""
    WITH tref AS (SELECT MAX(epoch_us(ts)) AS t FROM events),
    aged AS (
        SELECT event_type, value,
               POWER(0.5, FLOOR((t - epoch_us(ts)) / 86400000000.0)) AS decay
        FROM events, tref
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(decay), 6) + 0 AS decayed_count,
           ROUND(SUM(value * decay), 6) + 0 AS decayed_sum,
           ROUND(SUM(value * decay) / SUM(decay), 6) + 0 AS decayed_mean
    FROM aged GROUP BY event_type ORDER BY event_type
    """,
)
def q188_decayed_engagement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially time-decayed engagement per event type (half-life
    one day, reference = newest event): the feature-store recency
    aggregate that weights yesterday's signal half as much as
    today's. Decay factor is 2^(-age_days) with an INTEGER day age —
    pow(0.5, k) returns the exactly-representable power of two on
    both engines (verified 0..69), so the per-row factor is
    bit-identical cross-engine and only the final float sums carry
    last-ULP variance under ROUND(,6) (the avg-aggregate convention).
    One scan, a 1-row max-timestamp scalar broadcast (q102 capacity
    pattern), one map-side-combined rollup."""
    ev = load_table(spark, sf_dir, "events")
    tref = ev.agg(F.max(F.unix_micros("ts")).alias("t"))
    aged = ev.crossJoin(F.broadcast(tref)).select(
        "event_type",
        "value",
        F.pow(
            F.lit(0.5),
            F.floor((F.col("t") - F.unix_micros("ts")) / F.lit(86400000000.0)).cast(
                "double"
            ),
        ).alias("decay"),
    )
    return (
        aged.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            (F.round(F.sum("decay"), 6) + F.lit(0.0)).alias("decayed_count"),
            (F.round(F.sum(F.col("value") * F.col("decay")), 6) + F.lit(0.0)).alias(
                "decayed_sum"
            ),
            (
                F.round(
                    F.sum(F.col("value") * F.col("decay")) / F.sum("decay"), 6
                )
                + F.lit(0.0)
            ).alias("decayed_mean"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# q189 — per-group linear trend (least squares on exact moments)
# --------------------------------------------------------------------------
@query(
    "q189_trend_lines",
    oracle="""
    WITH base AS (
        SELECT event_type,
               CAST(epoch_us(ts) - epoch_us(TIMESTAMP '2024-01-01 00:00:00') AS DECIMAL(19,0)) AS x,
               CAST(value AS DECIMAL(18,2)) AS y
        FROM events
    ),
    mom AS (
        SELECT event_type,
               COUNT(*) AS n,
               CAST(SUM(x) AS DOUBLE) AS sx,
               CAST(SUM(y) AS DOUBLE) AS sy,
               CAST(SUM(x * y) AS DOUBLE) AS sxy,
               CAST(SUM(x * x) AS DOUBLE) AS sxx,
               CAST(SUM(y * y) AS DOUBLE) AS syy
        FROM base GROUP BY event_type
    )
    SELECT event_type, n,
           ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx) * 86400000000.0, 6) + 0 AS slope_per_day,
           ROUND((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6) + 0 AS intercept,
           ROUND((n * sxy - sx * sy) * (n * sxy - sx * sy)
                 / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) + 0 AS r2
    FROM mom ORDER BY event_type
    """,
)
def q189_trend_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type least-squares trend of value over time:
    slope (per day), intercept (at the 2024-01-01 origin), and R² —
    the drift-detection regression a metrics pipeline fits per
    series. The q88 determinism recipe: inputs cast to DECIMAL
    (microsecond ints, 2-dp values), moments summed EXACTLY in
    DECIMAL (order-independent — partial-agg order can't flip a
    bit), and the closed-form double arithmetic mirrored expression-
    for-expression in both engines, so even cancellation-heavy terms
    are bit-identical. One map-side-combined rollup, row-local
    finish."""
    ev = load_table(spark, sf_dir, "events")
    base_us = F.unix_micros(F.lit("2024-01-01 00:00:00").cast("timestamp"))
    base = ev.select(
        "event_type",
        (F.unix_micros("ts") - base_us).cast("decimal(19,0)").alias("x"),
        F.col("value").cast("decimal(18,2)").alias("y"),
    )
    x, y = F.col("x"), F.col("y")
    mom = base.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).cast("double").alias("sx"),
        F.sum(y).cast("double").alias("sy"),
        F.sum(x * y).cast("double").alias("sxy"),
        F.sum(x * x).cast("double").alias("sxx"),
        F.sum(y * y).cast("double").alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    slope_us = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return mom.select(
        "event_type",
        "n",
        (F.round(slope_us * F.lit(86400000000.0), 6) + F.lit(0.0)).alias(
            "slope_per_day"
        ),
        (F.round((sy - slope_us * sx) / n, 6) + F.lit(0.0)).alias("intercept"),
        (
            F.round(
                (n * sxy - sx * sy)
                * (n * sxy - sx * sy)
                / ((n * sxx - sx * sx) * (n * syy - sy * sy)),
                6,
            )
            + F.lit(0.0)
        ).alias("r2"),
    ).orderBy("event_type")


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
    t = docs.select("doc_id", F.size(F.split("text", " ")).alias("n_tok"))
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
# q191 — shared-prefix (prompt-cache) analysis
# --------------------------------------------------------------------------
_PFX_W = 8


@query(
    "q191_prefix_cache_share",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    p AS (
        SELECT doc_id,
               array_to_string(w[1:{_PFX_W}], ' ') AS prefix,
               LEAST(len(w), {_PFX_W}) AS pfx_tok
        FROM t
    ),
    g AS (
        SELECT prefix, pfx_tok, COUNT(*) AS n_docs,
               CAST(MIN(doc_id) AS BIGINT) AS first_doc
        FROM p GROUP BY prefix, pfx_tok
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(SUM(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS shared_groups,
           CAST(SUM(n_docs) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN n_docs >= 2 THEN (n_docs - 1) * pfx_tok ELSE 0 END) AS BIGINT)
               AS cacheable_tokens,
           CAST(SUM(first_doc) AS BIGINT) AS group_checksum
    FROM g
    """,
)
def q191_prefix_cache_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prompt-prefix cache analysis: group documents by their first
    8 tokens and report how many share a prefix and how many tokens a
    prefix cache would save (every repeat of a shared prefix skips
    its pfx_tok tokens — the KV-cache-sharing win a serving stack
    gets from templated prompts). One row-local prefix projection,
    one map-side-combined groupBy, a 1-row corpus rollup; the
    group_checksum (sum of per-group min doc ids) pins the exact
    grouping, not just the counts."""
    docs = load_table(spark, sf_dir, "documents")
    w = F.split("text", " ")
    p = docs.select(
        "doc_id",
        F.concat_ws(" ", F.slice(w, 1, _PFX_W)).alias("prefix"),
        F.least(F.size(w), F.lit(_PFX_W)).alias("pfx_tok"),
    )
    g = p.groupBy("prefix", "pfx_tok").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("doc_id").cast("long").alias("first_doc"),
    )
    return g.agg(
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.sum(F.when(F.col("n_docs") >= 2, 1).otherwise(0)).cast("long").alias("shared_groups"),
        F.sum("n_docs").cast("long").alias("n_docs"),
        F.sum(
            F.when(F.col("n_docs") >= 2, (F.col("n_docs") - 1) * F.col("pfx_tok")).otherwise(0)
        )
        .cast("long")
        .alias("cacheable_tokens"),
        F.sum("first_doc").cast("long").alias("group_checksum"),
    )


# --------------------------------------------------------------------------
# q192 — per-source token-distribution JS divergence vs the corpus
# --------------------------------------------------------------------------
_JSD_B = 512  # hashed-vocab width: bounded forever, broadcast-able


@query(
    "q192_source_token_jsd",
    oracle=f"""
    WITH tok AS (
        SELECT source,
               CAST(('0x' || substr(md5(t.tok), 1, 8)) AS BIGINT) % {_JSD_B} AS b
        FROM documents, UNNEST(string_split(text, ' ')) AS t(tok)
    ),
    sc AS (SELECT source, b, COUNT(*) AS c FROM tok GROUP BY 1, 2),
    stot AS (SELECT source, SUM(c) AS n FROM sc GROUP BY 1),
    corpus AS (SELECT b, SUM(c) AS cc FROM sc GROUP BY 1),
    ctot AS (SELECT SUM(cc) AS cn FROM corpus),
    grid AS (
        SELECT s.source, g.range AS b,
               (COALESCE(sc.c, 0) + 1.0) / (s.n + {_JSD_B}) AS p,
               (COALESCE(corpus.cc, 0) + 1.0) / ((SELECT cn FROM ctot) + {_JSD_B}) AS q
        FROM stot s
        CROSS JOIN range(0, {_JSD_B}) g
        LEFT JOIN sc ON sc.source = s.source AND sc.b = g.range
        LEFT JOIN corpus ON corpus.b = g.range
    )
    SELECT source,
           ROUND(SUM(0.5 * p * ln(2 * p / (p + q)) + 0.5 * q * ln(2 * q / (p + q))), 6)
               AS jsd
    FROM grid GROUP BY source ORDER BY source
    """,
)
def q192_source_token_jsd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which source is most off-distribution: Jensen-Shannon
    divergence between each source's hashed-token distribution and
    the whole-corpus distribution (Laplace-smoothed over a FIXED
    512-bucket hashed vocab — the q112 bounded-feature-space trick,
    so the per-source histograms stay broadcast-able at any corpus
    size and the md5 bucketing replays exactly in DuckDB). JSD is
    symmetric and bounded (unlike q170's PSI) — the corpus-drift
    score a mixture owner tracks per feed. Every term is
    nonnegative (p·ln(2p/(p+q)) + q·ln(2q/(p+q)) >= 0 pairwise), so
    no -0.0 trap; ln's last-ULP libm variance dies under ROUND(,6)
    (the q170 convention). One token explode -> (source, bucket)
    map-side counts; everything after is bucket-grid-sized."""
    from tp_integ_data_pipeline_spark.operators.selection import hash_bucket

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("source", F.explode(F.split("text", " ")).alias("__t")).select(
        "source", hash_bucket(F.col("__t"), _JSD_B).alias("b")
    )
    sc = tok.groupBy("source", "b").agg(F.count(F.lit(1)).alias("c"))
    sc = sc.localCheckpoint(eager=False)  # feeds stot, corpus, and the grid join
    stot = sc.groupBy("source").agg(F.sum("c").alias("n"))
    corpus = sc.groupBy("b").agg(F.sum("c").alias("cc"))
    ctot = corpus.agg(F.sum("cc").alias("cn"))
    # full 0..B-1 grid via a ROW-LOCAL sequence explode per source —
    # never a relation-against-relation cross join (B is a constant;
    # the only BNLJ left is the 1-row corpus-total scalar). Laplace
    # smoothing is defined over the FULL hashed vocab on both engines,
    # so never-observed buckets contribute identically.
    grid = (
        stot.select(
            "source",
            "n",
            F.explode(F.sequence(F.lit(0), F.lit(_JSD_B - 1))).alias("b"),
        )
        .join(sc, ["source", "b"], "left")
        .join(F.broadcast(corpus), "b", "left")
        .crossJoin(F.broadcast(ctot))
        .select(
            "source",
            ((F.coalesce(F.col("c"), F.lit(0)) + 1.0) / (F.col("n") + _JSD_B)).alias("p"),
            (
                (F.coalesce(F.col("cc"), F.lit(0)) + 1.0) / (F.col("cn") + _JSD_B)
            ).alias("q"),
        )
    )
    p, q = F.col("p"), F.col("q")
    term = 0.5 * p * F.log(2 * p / (p + q)) + 0.5 * q * F.log(2 * q / (p + q))
    return (
        grid.groupBy("source")
        .agg(F.round(F.sum(term), 6).alias("jsd"))
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# q193 — stupid-backoff bigram LM: train on one slice, score the other
# --------------------------------------------------------------------------
@query(
    "q193_backoff_lm_score",
    oracle="""
    WITH tr AS (
        SELECT doc_id, string_split(text, ' ') AS w
        FROM documents WHERE doc_id % 2 = 0
    ),
    te AS (
        SELECT doc_id, string_split(text, ' ') AS w
        FROM documents WHERE doc_id % 2 = 1
    ),
    uni AS (
        SELECT t.tok AS w, CAST(COUNT(*) AS BIGINT) AS c1
        FROM tr, UNNEST(w) AS t(tok) GROUP BY 1
    ),
    scal AS (
        SELECT CAST(SUM(c1) AS BIGINT) AS n_tok,
               CAST(COUNT(*) AS BIGINT) AS vocab
        FROM uni
    ),
    bi AS (
        SELECT w[i] AS w1, w[i + 1] AS w2, CAST(COUNT(*) AS BIGINT) AS c2
        FROM tr, UNNEST(range(1, len(w))) AS t(i) GROUP BY 1, 2
    ),
    bi2 AS (
        SELECT b.w1, b.w2, b.c2, u.c1 AS c1w1
        FROM bi b JOIN uni u ON u.w = b.w1
    ),
    occ AS (
        SELECT doc_id, w[i] AS w1, w[i + 1] AS w2
        FROM te, UNNEST(range(1, len(w))) AS t(i)
    ),
    sc AS (
        SELECT o.doc_id,
               CASE WHEN b.c2 IS NOT NULL
                    THEN CAST(b.c2 AS DOUBLE) / CAST(b.c1w1 AS DOUBLE)
                    ELSE CAST(2 * (COALESCE(u2.c1, 0) + 1) AS DOUBLE)
                         / CAST(5 * (s.n_tok + s.vocab) AS DOUBLE)
               END AS p,
               CASE WHEN b.c2 IS NOT NULL THEN 1 ELSE 0 END AS hit
        FROM occ o
        LEFT JOIN bi2 b ON b.w1 = o.w1 AND b.w2 = o.w2
        LEFT JOIN uni u2 ON u2.w = o.w2
        CROSS JOIN scal s
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(SUM(hit) AS BIGINT) AS n_hits,
           ROUND(CAST(SUM(hit) AS DOUBLE) / COUNT(*), 6) AS hit_rate,
           ROUND(SUM(ln(p)) / COUNT(*), 6) + 0 AS avg_ll
    FROM sc GROUP BY doc_id ORDER BY doc_id
    """,
)
def q193_backoff_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality scoring without KenLM: train a
    stupid-backoff bigram model (Brants et al. 2007 — score is
    c(w1 w2)/c(w1), backing off to 0.4-weighted Laplace-smoothed
    unigrams, no normalization) on the even-doc_id half of the corpus
    and score every odd-doc_id document: per-doc mean log-score (the
    perplexity-filter proxy) and seen-bigram hit rate. Cross-engine
    hash rules: every ln() argument is ONE division of two exact
    integers (bit-identical both engines; ln's last-ULP variance dies
    under ROUND(,6) — the q192 convention), and avg_ll is
    negative-capable so it gets `+ 0` after ROUND.

    Scale shape: bigrams are materialized ROW-LOCALLY inside the token
    array (no self-join), counted with one map-side-combinable keyed
    agg each; the model (unigram + bigram relations) is
    vocab/vocab²-bounded and attaches to the scored occurrences by
    plain equi-joins on the gram key; the only cross join is the 1-row
    (n_tok, vocab) scalar. No window anywhere; output is one row per
    scored doc."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    arr = F.split(F.col("text"), " ")
    pair_structs = F.when(
        F.size(arr) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(arr) - 1),
            lambda i: F.struct(
                F.element_at(arr, i).alias("w1"),
                F.element_at(arr, i + 1).alias("w2"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    train = docs.where(F.col("doc_id") % 2 == 0)
    test = docs.where(F.col("doc_id") % 2 == 1)

    uni = (
        train.select(F.explode(arr).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c1"))
    )
    uni = uni.localCheckpoint(eager=False)  # feeds scal, bi2, and the w2 backoff join
    scal = uni.agg(F.sum("c1").alias("n_tok"), F.count(F.lit(1)).alias("vocab"))
    bi = (
        train.select(F.explode(pair_structs).alias("p"))
        .select("p.w1", "p.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c2"))
    )
    bi2 = bi.join(uni.select(F.col("w").alias("w1"), F.col("c1").alias("c1w1")), "w1")

    occ = test.select("doc_id", F.explode(pair_structs).alias("p")).select(
        "doc_id", "p.w1", "p.w2"
    )
    joined = (
        occ.join(bi2, ["w1", "w2"], "left")
        .join(
            uni.select(F.col("w").alias("w2"), F.col("c1").alias("c1w2")),
            "w2",
            "left",
        )
        .crossJoin(F.broadcast(scal))
    )
    p = F.when(
        F.col("c2").isNotNull(),
        F.col("c2").cast("double") / F.col("c1w1").cast("double"),
    ).otherwise(
        (2 * (F.coalesce(F.col("c1w2"), F.lit(0)) + 1)).cast("double")
        / (5 * (F.col("n_tok") + F.col("vocab"))).cast("double")
    )
    hit = F.when(F.col("c2").isNotNull(), 1).otherwise(0)
    return (
        joined.select("doc_id", p.alias("p"), hit.alias("hit"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("hit").alias("n_hits"),
            F.round(F.sum("hit").cast("double") / F.count(F.lit(1)), 6).alias(
                "hit_rate"
            ),
            (F.round(F.sum(F.log("p")) / F.count(F.lit(1)), 6) + F.lit(0)).alias(
                "avg_ll"
            ),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# q194 — key-skew profiler (the salted-join/salted-agg prescription)
# --------------------------------------------------------------------------
@query(
    "q194_key_skew_profile",
    oracle="""
    WITH pk AS (
        SELECT event_type, user_id, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM events GROUP BY 1, 2
    ),
    prof AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_keys,
               CAST(SUM(cnt) AS BIGINT) AS n_rows,
               CAST(MAX(cnt) AS BIGINT) AS max_cnt,
               CAST(SUM(cnt * cnt) AS BIGINT) AS s2
        FROM pk GROUP BY 1
    )
    SELECT event_type, n_keys, n_rows, max_cnt,
           ROUND(CAST(max_cnt AS DOUBLE) / n_rows, 6) AS top1_share,
           ROUND(CAST(max_cnt * n_keys AS DOUBLE) / n_rows, 6) AS skew,
           ROUND(sqrt(CAST(n_keys * s2 - n_rows * n_rows AS DOUBLE)) / n_rows, 6)
               AS cv,
           (max_cnt * n_keys + n_rows - 1) // n_rows AS salt_factor
    FROM prof ORDER BY event_type
    """,
)
def q194_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key skew diagnostic: for each event_type, profile the
    user_id key distribution a join/agg on (event_type, user_id) would
    shuffle on — key count, max key frequency, hottest-key share,
    skew = max/mean, coefficient of variation, and the recommended
    salting fan-out ceil(max/mean) (the factor q154's salted join and
    q29's salted agg take as input). CV uses the order-independent
    integer identity sqrt(k·Σc² − (Σc)²)/Σc — every value inside
    sqrt is an exact BIGINT at test scale (a 100 TB deployment widens
    the Σc² accumulator to DECIMAL(38,0); the identity is unchanged),
    int→double conversion is correctly rounded on both engines, and
    all outputs are nonnegative so no −0.0 trap. salt_factor uses
    integer ceil-div ((a+b−1) div b) — FLOOR/CEIL on doubles never
    touches a graded integer.

    Scale shape: one map-side-combinable (type, user) count, then a
    #types-row rollup — two keyed shuffles, the second tiny. This is
    the cheap pre-flight a pipeline runs BEFORE committing to a join
    strategy at 100 TB."""
    ev = load_table(spark, sf_dir, "events")
    pk = ev.groupBy("event_type", "user_id").agg(F.count(F.lit(1)).alias("cnt"))
    prof = pk.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("cnt").alias("n_rows"),
        F.max("cnt").alias("max_cnt"),
        F.sum(F.col("cnt") * F.col("cnt")).alias("s2"),
    )
    n_keys, n_rows, max_cnt, s2 = (
        F.col("n_keys"),
        F.col("n_rows"),
        F.col("max_cnt"),
        F.col("s2"),
    )
    return prof.select(
        "event_type",
        "n_keys",
        "n_rows",
        "max_cnt",
        F.round(max_cnt.cast("double") / n_rows, 6).alias("top1_share"),
        F.round((max_cnt * n_keys).cast("double") / n_rows, 6).alias("skew"),
        F.round(
            F.sqrt((n_keys * s2 - n_rows * n_rows).cast("double")) / n_rows, 6
        ).alias("cv"),
        F.expr("(max_cnt * n_keys + n_rows - 1) div n_rows").alias("salt_factor"),
    ).orderBy("event_type")


# --------------------------------------------------------------------------
# q195 — n-gram diversity / self-repetition per source
# --------------------------------------------------------------------------
@query(
    "q195_ngram_diversity",
    oracle="""
    WITH d AS (SELECT source, string_split(text, ' ') AS w FROM documents),
    utok AS (
        SELECT source, t.tok AS g FROM d, UNNEST(w) AS t(tok)
    ),
    uc AS (
        SELECT source, g, CAST(COUNT(*) AS BIGINT) AS c FROM utok GROUP BY 1, 2
    ),
    us AS (
        SELECT source, CAST(SUM(c) AS BIGINT) AS n_tokens,
               CAST(COUNT(*) AS BIGINT) AS d_unigrams
        FROM uc GROUP BY 1
    ),
    ttok AS (
        SELECT source, w[i] || ' ' || w[i + 1] || ' ' || w[i + 2] AS g
        FROM d, UNNEST(range(1, len(w) - 1)) AS t(i)
    ),
    tc AS (
        SELECT source, g, CAST(COUNT(*) AS BIGINT) AS c FROM ttok GROUP BY 1, 2
    ),
    ts AS (
        SELECT source, CAST(SUM(c) AS BIGINT) AS n_trigrams,
               CAST(COUNT(*) AS BIGINT) AS d_trigrams
        FROM tc GROUP BY 1
    ),
    spread AS (
        SELECT g, CAST(COUNT(*) AS BIGINT) AS ns FROM tc GROUP BY 1
    ),
    uniq AS (
        SELECT tc.source,
               CAST(SUM(CASE WHEN s.ns = 1 THEN 1 ELSE 0 END) AS BIGINT) AS u_tri
        FROM tc JOIN spread s ON s.g = tc.g GROUP BY 1
    )
    SELECT us.source, us.n_tokens, us.d_unigrams,
           ROUND(CAST(us.d_unigrams AS DOUBLE) / us.n_tokens, 6) AS ttr,
           ts.n_trigrams, ts.d_trigrams,
           ROUND(CAST(ts.d_trigrams AS DOUBLE) / ts.n_trigrams, 6) AS tri_ttr,
           ROUND(CAST(ts.n_trigrams AS DOUBLE) / ts.d_trigrams, 6) AS rep_factor,
           ROUND(CAST(uniq.u_tri AS DOUBLE) / ts.d_trigrams, 6) AS uniq_tri_share
    FROM us JOIN ts ON ts.source = us.source JOIN uniq ON uniq.source = us.source
    ORDER BY us.source
    """,
)
def q195_ngram_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus diversity report per source (the self-repetition /
    mode-collapse check run on synthetic and scraped feeds alike):
    unigram type-token ratio, trigram type-token ratio, trigram
    repetition factor (occurrences per distinct trigram), and the
    share of the source's distinct trigrams that appear in NO other
    source (content uniqueness — the complement of q134's overlap
    and q167's novelty-over-time). All graded doubles are ratios of
    exact nonnegative integers at 6 dp.

    Scale shape: trigrams materialize row-locally in the token array
    (no join, no window); (source, gram) counts are map-side
    combinable; the uniqueness pass reuses the SAME distinct
    (source, trigram) relation (checkpointed once) keyed by trigram —
    cost tracks the distinct-gram count, never pairs of sources."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    arr = F.split(F.col("text"), " ")
    tri = F.when(
        F.size(arr) >= 3,
        F.transform(
            F.sequence(F.lit(1), F.size(arr) - 2),
            lambda i: F.concat_ws(" ", F.slice(arr, i, 3)),
        ),
    ).otherwise(F.array().cast("array<string>"))

    uc = (
        docs.select("source", F.explode(arr).alias("g"))
        .groupBy("source", "g")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    us = uc.groupBy("source").agg(
        F.sum("c").alias("n_tokens"), F.count(F.lit(1)).alias("d_unigrams")
    )
    tc = (
        docs.select("source", F.explode(tri).alias("g"))
        .groupBy("source", "g")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tc = tc.localCheckpoint(eager=False)  # feeds ts, spread, and uniq
    ts = tc.groupBy("source").agg(
        F.sum("c").alias("n_trigrams"), F.count(F.lit(1)).alias("d_trigrams")
    )
    spread = tc.groupBy("g").agg(F.count(F.lit(1)).alias("ns"))
    uniq = (
        tc.join(spread, "g")
        .groupBy("source")
        .agg(F.sum(F.when(F.col("ns") == 1, 1).otherwise(0)).alias("u_tri"))
    )
    return (
        us.join(ts, "source")
        .join(uniq, "source")
        .select(
            "source",
            "n_tokens",
            "d_unigrams",
            F.round(F.col("d_unigrams").cast("double") / F.col("n_tokens"), 6).alias(
                "ttr"
            ),
            "n_trigrams",
            "d_trigrams",
            F.round(F.col("d_trigrams").cast("double") / F.col("n_trigrams"), 6).alias(
                "tri_ttr"
            ),
            F.round(F.col("n_trigrams").cast("double") / F.col("d_trigrams"), 6).alias(
                "rep_factor"
            ),
            F.round(F.col("u_tri").cast("double") / F.col("d_trigrams"), 6).alias(
                "uniq_tri_share"
            ),
        )
        .orderBy("source")
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
        F.size(F.split(F.col("text"), " ")).cast("long").alias("toks"),
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
# q197 — collapse consecutive duplicate lines (row-local cleaner)
# --------------------------------------------------------------------------
@query(
    "q197_consecutive_line_collapse",
    oracle=f"""
    WITH b AS (
        SELECT doc_id, (i - 1) // {_LINE_W} AS pos,
               array_to_string(w[i:i + {_LINE_W - 1}], ' ') AS line
        FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
             UNNEST(range(1, greatest(len(w), 1) + 1, {_LINE_W})) AS t(i)
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
              sequence(1, (size(split(text, ' ')) + {_LINE_W - 1}) div {_LINE_W}),
              i -> array_join(slice(split(text, ' '), (i - 1) * {_LINE_W} + 1,
                              {_LINE_W}), ' '))"""
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
# q198 — character-entropy quality signal (row-local run-length histogram)
# --------------------------------------------------------------------------
@query(
    "q198_char_entropy",
    oracle="""
    WITH ch AS (
        SELECT doc_id, substr(text, i, 1) AS c
        FROM documents, UNNEST(range(1, len(text) + 1)) AS t(i)
    ),
    cc AS (
        SELECT doc_id, c, CAST(COUNT(*) AS BIGINT) AS n FROM ch GROUP BY 1, 2
    )
    SELECT doc_id,
           CAST(SUM(n) AS BIGINT) AS n_chars_counted,
           CAST(COUNT(*) AS BIGINT) AS d_chars,
           ROUND(ln(SUM(n)) - SUM(n * ln(n)) / SUM(n), 6) AS entropy
    FROM cc GROUP BY doc_id ORDER BY doc_id
    """,
)
def q198_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each document's character distribution — the
    cheap gibberish/encoding-junk detector (binary blobs and repeated
    padding score far from prose). Identity: H = ln(N) − Σ c·ln(c)/N,
    so every ln() argument is an exact integer (bit-identical across
    engines; summation-order ULP noise dies under ROUND(,6)).

    Scale shape: the oracle's relational form explodes one row per
    CHARACTER — at 100 TB that shuffle is the corpus size itself. The
    engine instead computes the histogram ROW-LOCALLY: sort the char
    array, find run boundaries with an indexed filter, turn boundary
    gaps into run lengths, and fold the entropy terms — one
    projection, zero data shuffles (the memory's row-local-over-
    relational rule). Entropy is nonnegative (no −0.0 trap): c·ln(c)
    ≤ N·ln(N) by concavity, exactly 0 for single-char docs on both
    engines."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    # run boundaries: 1-based positions p where sorted[p] != sorted[p-1];
    # the gap to the NEXT boundary (or N+1) is that run's length
    bnds = F.expr(
        """filter(sequence(1, size(__s)),
                  p -> p = 1 OR element_at(__s, p) != element_at(__s, p - 1))"""
    )
    runs = F.expr(
        """transform(__b,
             (x, i) -> if(i + 1 < size(__b), element_at(__b, i + 2),
                          cast(n_chars_counted as int) + 1) - x)"""
    )
    ent = F.expr(
        """round(ln(n_chars_counted) -
                 aggregate(__r, 0.0D, (a, c) -> a + c * ln(c)) / n_chars_counted, 6)"""
    )
    return (
        docs.select("doc_id", F.expr("array_sort(split(text, ''))").alias("__s"))
        .select(
            "doc_id",
            F.size("__s").cast("long").alias("n_chars_counted"),
            "__s",
        )
        .select("doc_id", "n_chars_counted", bnds.alias("__b"))
        .select(
            "doc_id",
            "n_chars_counted",
            F.size("__b").cast("long").alias("d_chars"),
            runs.alias("__r"),
        )
        .select("doc_id", "n_chars_counted", "d_chars", ent.alias("entropy"))
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# q199 — compression-ratio quality proxy (rows-only by nature)
# --------------------------------------------------------------------------
@query("q199_compression_quality")
def q199_compression_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style redundancy scoring: per-source distribution of the
    zlib compression ratio (min/median-ish mean/max plus the share of
    docs under 0.3 — the 'mostly boilerplate' flag). Rows-only BY
    NATURE: deflate lengths depend on the zlib build, so there is no
    DuckDB oracle; determinism-within-run, repetitive<diverse ordering
    and byte-accounting invariants are pytest-pinned
    (tests/test_round7_ops.py). Scale: one Arrow mapInPandas pass
    (no shuffle) + a #sources-row rollup."""
    from tp_integ_data_pipeline_spark.operators.text import compression_signals

    docs = load_table(spark, sf_dir, "documents")
    sig = compression_signals(docs).join(
        docs.select("doc_id", "source"), "doc_id"
    )
    return (
        sig.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.min("ratio"), 6).alias("min_ratio"),
            F.round(F.avg("ratio"), 6).alias("avg_ratio"),
            F.round(F.max("ratio"), 6).alias("max_ratio"),
            F.round(
                F.avg(F.when(F.col("ratio") < 0.3, 1.0).otherwise(0.0)), 6
            ).alias("share_high_redundancy"),
        )
        .orderBy("source")
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
# q201 — functional-dependency discovery (schema profiling)
# --------------------------------------------------------------------------
_FD_SPECS = [
    # (table, lhs, rhs) — candidate "lhs determines rhs" dependencies
    ("orders", "o_orderkey", "o_custkey"),
    ("lineitem", "l_orderkey", "l_suppkey"),
    ("lineitem", "l_partkey", "l_suppkey"),
    ("customer", "c_custkey", "c_mktsegment"),
    ("customer", "c_nationkey", "c_mktsegment"),
    ("part", "p_brand", "p_type"),
    ("supplier", "s_suppkey", "s_nationkey"),
    ("events", "user_id", "event_type"),
    ("documents", "doc_id", "source"),
]


def _fd_oracle() -> str:
    parts = []
    for tbl, lhs, rhs in _FD_SPECS:
        parts.append(f"""
        SELECT '{tbl}.{lhs}->{rhs}' AS fd,
               CAST(COUNT(*) AS BIGINT) AS n_lhs,
               CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_violating_lhs,
               CAST(MAX(nd) AS BIGINT) AS max_rhs_per_lhs,
               CAST(CASE WHEN MAX(nd) = 1 THEN 1 ELSE 0 END AS BIGINT) AS holds,
               ROUND(CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS DOUBLE)
                     / COUNT(*), 6) AS violation_rate
        FROM (SELECT {lhs}, COUNT(DISTINCT {rhs}) AS nd FROM {tbl} GROUP BY 1)
        """)
    return " UNION ALL ".join(parts) + " ORDER BY fd"


@query("q201_functional_dependencies", oracle=_fd_oracle())
def q201_functional_dependencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metanome-style schema profiling: for each candidate functional
    dependency lhs→rhs, count the lhs values that map to more than one
    rhs — holds/violation-rate output is the input to key discovery,
    normalization advice, and DQ alerting. Candidates cover true keys
    (order→cust, custkey→segment), real violations (orderkey→suppkey:
    multi-supplier orders), and cross-table shapes.

    Scale shape: each FD is one column-pruned scan + a two-phase
    (lhs, distinct-rhs) aggregate — map-side combinable, shuffled on
    lhs only — folded to ONE summary row; the union is report-sized.
    No joins, no windows; cost is Σ per-table scans regardless of FD
    count per table (Catalyst reuses nothing across specs by design —
    at 100 TB you'd batch same-table FDs into one grouping-sets pass;
    the per-FD form keeps each check independently schedulable)."""
    out = None
    for tbl, lhs, rhs in _FD_SPECS:
        t = load_table(spark, sf_dir, tbl)
        g = (
            t.select(F.col(lhs).alias("__l"), F.col(rhs).alias("__r"))
            .groupBy("__l")
            .agg(F.countDistinct("__r").alias("nd"))
        )
        row = g.agg(
            F.lit(f"{tbl}.{lhs}->{rhs}").alias("fd"),
            F.count(F.lit(1)).alias("n_lhs"),
            F.sum(F.when(F.col("nd") > 1, 1).otherwise(0)).alias("n_violating_lhs"),
            F.max("nd").alias("max_rhs_per_lhs"),
            F.when(F.max("nd") == 1, 1).otherwise(0).cast("long").alias("holds"),
            F.round(
                F.sum(F.when(F.col("nd") > 1, 1).otherwise(0)).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("violation_rate"),
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("fd")


# --------------------------------------------------------------------------
# q202 — referential-integrity audit (orphan-key rates)
# --------------------------------------------------------------------------
_RI_SPECS = [
    # (child table, fk col, parent table, pk col, parent is dim-sized)
    ("lineitem", "l_orderkey", "orders", "o_orderkey", False),
    ("lineitem", "l_partkey", "part", "p_partkey", False),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey", False),
    ("orders", "o_custkey", "customer", "c_custkey", False),
    ("customer", "c_nationkey", "nation", "n_nationkey", True),
    ("supplier", "s_nationkey", "nation", "n_nationkey", True),
    ("events", "user_id", "customer", "c_custkey", False),
]


def _ri_oracle() -> str:
    parts = []
    for child, fk, parent, pk, _ in _RI_SPECS:
        parts.append(f"""
        SELECT '{child}.{fk}->{parent}.{pk}' AS edge,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM {child}) AS n_child,
               CAST(COUNT(*) AS BIGINT) AS n_orphan,
               CAST(COUNT(DISTINCT c.{fk}) AS BIGINT) AS n_orphan_keys,
               ROUND(CAST(COUNT(*) AS DOUBLE)
                     / (SELECT COUNT(*) FROM {child}), 6) AS orphan_rate
        FROM {child} c
        WHERE NOT EXISTS (SELECT 1 FROM {parent} p WHERE p.{pk} = c.{fk})
        """)
    return " UNION ALL ".join(parts) + " ORDER BY edge"


@query("q202_referential_integrity", oracle=_ri_oracle())
def q202_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table DQ audit: for every declared FK edge, the count and
    rate of child rows whose key has no parent (plus distinct orphan
    keys — 1M orphan rows from 3 keys is a different incident than 1M
    keys). The lake-wide complement of q157's single-table audit and
    q75's rule checks.

    Scale shape: each edge is ONE left-anti equi-join on the key —
    shuffled on the FK for fact-sized parents, broadcast for dims
    (nation) — folded map-side to a 1-row summary; n_child comes from
    the same column-pruned scan, not a second pass over wide rows.
    Orphan checks never materialize matches (anti-join emits only
    misses)."""
    from pyspark.sql.functions import broadcast

    out = None
    for child, fk, parent, pk, is_dim in _RI_SPECS:
        c = load_table(spark, sf_dir, child).select(F.col(fk).alias("__k"))
        c = c.localCheckpoint(eager=False)  # feeds total AND the anti join
        p = load_table(spark, sf_dir, parent).select(F.col(pk).alias("__k"))
        if is_dim:
            p = broadcast(p)
        orphans = c.join(p, "__k", "left_anti")
        total = c.agg(F.count(F.lit(1)).alias("n_child"))
        row = (
            orphans.agg(
                F.count(F.lit(1)).alias("n_orphan"),
                F.countDistinct("__k").alias("n_orphan_keys"),
            )
            .crossJoin(F.broadcast(total))
            .select(
                F.lit(f"{child}.{fk}->{parent}.{pk}").alias("edge"),
                "n_child",
                "n_orphan",
                "n_orphan_keys",
                F.round(
                    F.col("n_orphan").cast("double") / F.col("n_child"), 6
                ).alias("orphan_rate"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("edge")


# --------------------------------------------------------------------------
# q203 — Benford first-digit audit (fraud/DQ signal on amount columns)
# --------------------------------------------------------------------------
def _benford_oracle() -> str:
    branches = []
    for label, tbl, col in [
        ("lineitem.l_extendedprice", "lineitem", "l_extendedprice"),
        ("orders.o_totalprice", "orders", "o_totalprice"),
    ]:
        branches.append(f"""
        SELECT '{label}' AS col,
               CAST(substr(CAST(CAST(FLOOR({col} * 100 + 0.5) AS BIGINT)
                           AS VARCHAR), 1, 1) AS BIGINT) AS digit
        FROM {tbl} WHERE {col} > 0
        """)
    u = " UNION ALL ".join(branches)
    return f"""
    WITH d AS ({u}),
    cnt AS (SELECT col, digit, CAST(COUNT(*) AS BIGINT) AS n FROM d GROUP BY 1, 2),
    tot AS (SELECT col, CAST(SUM(n) AS BIGINT) AS t FROM cnt GROUP BY 1),
    grid AS (
        SELECT tot.col, g.range AS digit, tot.t, COALESCE(cnt.n, 0) AS n,
               CAST(COALESCE(cnt.n, 0) AS DOUBLE) / tot.t AS obs,
               (ln(g.range + 1) - ln(g.range)) / ln(10) AS exp
        FROM tot CROSS JOIN range(1, 10) g
        LEFT JOIN cnt ON cnt.col = tot.col AND cnt.digit = g.range
    ),
    tvd AS (SELECT col, ROUND(0.5 * SUM(ABS(obs - exp)), 6) AS tvd FROM grid GROUP BY 1)
    SELECT grid.col, grid.digit, CAST(grid.n AS BIGINT) AS n,
           ROUND(grid.obs, 6) AS obs_share,
           ROUND(grid.exp, 6) AS exp_share,
           ROUND(ABS(grid.obs - grid.exp), 6) AS abs_dev,
           tvd.tvd
    FROM grid JOIN tvd ON tvd.col = grid.col
    ORDER BY grid.col, grid.digit
    """


@query("q203_benford_audit", oracle=_benford_oracle())
def q203_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law conformance for the monetary columns — the
    classic synthetic-data / fraud / unit-mixup detector (organically
    grown amounts follow P(d) = log10(1+1/d); flat or spiked first
    digits flag generated or corrupted feeds). Output: per (column,
    digit) observed vs expected share, absolute deviation, and the
    per-column total-variation distance.

    Cross-engine rules: the first digit comes from the INTEGER cents
    string (FLOOR(x·100 + 0.5) — never from double formatting, which
    the engines render differently); expected shares are
    (ln(d+1)−ln(d))/ln 10 over exact-integer inputs; the 1..9 grid is
    materialized row-locally per column so an absent digit is an
    explicit 0 on both engines.

    Scale shape: one column-pruned scan per audited column folded to
    ≤9 map-side (col, digit) counts — everything after is
    constant-sized (18-row grid, 2-row TVD rollup)."""
    cols = [
        ("lineitem.l_extendedprice", "lineitem", "l_extendedprice"),
        ("orders.o_totalprice", "orders", "o_totalprice"),
    ]
    cnt = None
    for label, tbl, col in cols:
        t = load_table(spark, sf_dir, tbl)
        d = (
            t.where(F.col(col) > 0)
            .select(
                F.lit(label).alias("col"),
                F.substring(
                    F.floor(F.col(col) * 100 + 0.5).cast("long").cast("string"), 1, 1
                )
                .cast("long")
                .alias("digit"),
            )
            .groupBy("col", "digit")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        cnt = d if cnt is None else cnt.unionByName(d)
    cnt = cnt.localCheckpoint(eager=False)  # feeds tot and the grid join
    tot = cnt.groupBy("col").agg(F.sum("n").alias("t"))
    grid = (
        tot.select(
            "col", "t", F.explode(F.sequence(F.lit(1), F.lit(9))).alias("digit")
        )
        .join(cnt, ["col", "digit"], "left")
        .select(
            "col",
            "digit",
            F.coalesce(F.col("n"), F.lit(0)).alias("n"),
            (F.coalesce(F.col("n"), F.lit(0)).cast("double") / F.col("t")).alias(
                "obs"
            ),
            (
                (F.log(F.col("digit") + 1) - F.log(F.col("digit"))) / F.log(F.lit(10.0))
            ).alias("exp"),
        )
    )
    grid = grid.localCheckpoint(eager=False)  # feeds tvd and the final join
    tvd = grid.groupBy("col").agg(
        F.round(0.5 * F.sum(F.abs(F.col("obs") - F.col("exp"))), 6).alias("tvd")
    )
    return (
        grid.join(tvd, "col")
        .select(
            "col",
            F.col("digit").cast("long").alias("digit"),
            F.col("n").cast("long").alias("n"),
            F.round("obs", 6).alias("obs_share"),
            F.round("exp", 6).alias("exp_share"),
            F.round(F.abs(F.col("obs") - F.col("exp")), 6).alias("abs_dev"),
            "tvd",
        )
        .orderBy("col", "digit")
    )


# --------------------------------------------------------------------------
# q204 — sequenced funnel conversion (view → click → purchase)
# --------------------------------------------------------------------------
_FUNNEL_STEPS = ["view", "click", "purchase"]


@query(
    "q204_funnel_conversion",
    oracle="""
    WITH s1 AS (
        SELECT user_id, MIN(ts) AS t1 FROM events
        WHERE event_type = 'view' GROUP BY 1
    ),
    s2 AS (
        SELECT e.user_id, MIN(e.ts) AS t2
        FROM events e JOIN s1 USING (user_id)
        WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY 1
    ),
    s3 AS (
        SELECT e.user_id, MIN(e.ts) AS t3
        FROM events e JOIN s2 USING (user_id)
        WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY 1
    ),
    n AS (
        SELECT (SELECT COUNT(*) FROM s1) AS n1,
               (SELECT COUNT(*) FROM s2) AS n2,
               (SELECT COUNT(*) FROM s3) AS n3
    )
    SELECT * FROM (
        SELECT CAST(1 AS BIGINT) AS step_no, 'view' AS step,
               CAST(n1 AS BIGINT) AS n_users,
               ROUND(CAST(n1 AS DOUBLE) / NULLIF(n1, 0), 6) AS conv_vs_first,
               ROUND(CAST(n1 AS DOUBLE) / NULLIF(n1, 0), 6) AS conv_vs_prev
        FROM n
        UNION ALL
        SELECT 2, 'click', n2,
               ROUND(CAST(n2 AS DOUBLE) / NULLIF(n1, 0), 6),
               ROUND(CAST(n2 AS DOUBLE) / NULLIF(n1, 0), 6)
        FROM n
        UNION ALL
        SELECT 3, 'purchase', n3,
               ROUND(CAST(n3 AS DOUBLE) / NULLIF(n1, 0), 6),
               ROUND(CAST(n3 AS DOUBLE) / NULLIF(n2, 0), 6)
        FROM n
    ) ORDER BY step_no
    """,
)
def q204_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequenced funnel: a user converts step k only with an event
    STRICTLY after their step-(k-1) time (min view → first later click
    → first later purchase) — the order-sensitive verb product
    analytics needs and a plain per-type count can't express.

    Scale shape: ONE groupBy(user_id) collecting that user's (ts,
    event_id, type) structs, sorted row-locally, then a single
    higher-order F.aggregate fold carries the (t1, t2, t3) state —
    sequencing costs one keyed shuffle, no self-joins, no windows.
    Per-user event counts are session-bounded in practice; a hot-user
    cap (or the 3-stage min-join rewrite) is the escape hatch if a
    key exceeds memory. The 3-row summary is driver-sized."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type")
    ts_null = F.lit(None).cast("timestamp")
    per_user = (
        ev.groupBy("user_id")
        .agg(F.sort_array(F.collect_list(F.struct("ts", "event_id", "event_type"))).alias("evs"))
        .select(
            F.aggregate(
                "evs",
                F.struct(ts_null.alias("t1"), ts_null.alias("t2"), ts_null.alias("t3")),
                lambda acc, e: F.struct(
                    F.when(
                        acc.t1.isNull() & (e.event_type == "view"), e.ts
                    ).otherwise(acc.t1).alias("t1"),
                    F.when(
                        acc.t2.isNull()
                        & acc.t1.isNotNull()
                        & (e.event_type == "click")
                        & (e.ts > acc.t1),
                        e.ts,
                    ).otherwise(acc.t2).alias("t2"),
                    F.when(
                        acc.t3.isNull()
                        & acc.t2.isNotNull()
                        & (e.event_type == "purchase")
                        & (e.ts > acc.t2),
                        e.ts,
                    ).otherwise(acc.t3).alias("t3"),
                ),
            ).alias("s")
        )
    )
    counts = per_user.agg(
        F.count(F.col("s.t1")).alias("n1"),
        F.count(F.col("s.t2")).alias("n2"),
        F.count(F.col("s.t3")).alias("n3"),
    )
    return counts.selectExpr(
        """stack(3,
            1L, 'view',     n1, n1, n1,
            2L, 'click',    n2, n1, n1,
            3L, 'purchase', n3, n1, n2
        ) AS (step_no, step, n_users, denom_first, denom_prev)"""
    ).select(
        "step_no",
        "step",
        F.col("n_users").cast("long").alias("n_users"),
        F.round(
            F.col("n_users").cast("double") / F.nullif(F.col("denom_first"), F.lit(0)), 6
        ).alias("conv_vs_first"),
        F.round(
            F.col("n_users").cast("double") / F.nullif(F.col("denom_prev"), F.lit(0)), 6
        ).alias("conv_vs_prev"),
    ).orderBy("step_no")


# --------------------------------------------------------------------------
# q205 — weekly cohort retention
# --------------------------------------------------------------------------
_COHORT_EPOCH = "2024-01-01"


@query(
    "q205_cohort_retention",
    oracle=f"""
    WITH uw AS (
        SELECT DISTINCT user_id,
               datediff('day', DATE '{_COHORT_EPOCH}', CAST(ts AS DATE)) // 7 AS w
        FROM events
    ),
    cohort AS (SELECT user_id, MIN(w) AS cw FROM uw GROUP BY 1),
    act AS (
        SELECT c.cw AS cohort_week, uw.w - c.cw AS week_offset,
               CAST(COUNT(*) AS BIGINT) AS n_active
        FROM uw JOIN cohort c USING (user_id) GROUP BY 1, 2
    ),
    sz AS (SELECT cohort_week, n_active AS cohort_size FROM act WHERE week_offset = 0)
    SELECT a.cohort_week, a.week_offset, a.n_active, s.cohort_size,
           ROUND(CAST(a.n_active AS DOUBLE) / s.cohort_size, 6) AS retention
    FROM act a JOIN sz s USING (cohort_week)
    ORDER BY a.cohort_week, a.week_offset
    """,
)
def q205_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users grouped by the week of their
    first activity; for each (cohort, week-offset) the active-user
    count and retention vs the cohort's size. Week = integer floor-div
    of the day index from a fixed epoch — identical integer arithmetic
    on both engines (no date_trunc week-start semantics to reconcile).

    Scale shape: distinct(user, week) is one keyed shuffle; the
    cohort min reuses the user key (co-partitioned groupBy + join);
    the (cohort, offset) rollup is map-side combinable to a
    weeks²-bounded summary, and the offset-0 size join is a broadcast
    of that summary against itself."""
    ev = load_table(spark, sf_dir, "events")
    uw = (
        ev.select(
            "user_id",
            F.expr(
                f"datediff(to_date(ts), date '{_COHORT_EPOCH}') div 7"
            ).alias("w"),
        )
        .distinct()
        .localCheckpoint(eager=False)  # feeds cohort min AND the activity join
    )
    cohort = uw.groupBy("user_id").agg(F.min("w").alias("cw"))
    act = (
        uw.join(cohort, "user_id")
        .groupBy(F.col("cw").alias("cohort_week"), (F.col("w") - F.col("cw")).alias("week_offset"))
        .agg(F.count(F.lit(1)).alias("n_active"))
        .localCheckpoint(eager=False)  # feeds sizes AND the final join
    )
    sz = act.where(F.col("week_offset") == 0).select(
        "cohort_week", F.col("n_active").alias("cohort_size")
    )
    return (
        act.join(F.broadcast(sz), "cohort_week")
        .select(
            "cohort_week",
            "week_offset",
            "n_active",
            "cohort_size",
            F.round(
                F.col("n_active").cast("double") / F.col("cohort_size"), 6
            ).alias("retention"),
        )
        .orderBy("cohort_week", "week_offset")
    )


# --------------------------------------------------------------------------
# q206 — event-type transition matrix (first-order Markov)
# --------------------------------------------------------------------------
@query(
    "q206_event_transitions",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type,
               LAG(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS prev_type
        FROM events
    ),
    t AS (
        SELECT prev_type AS from_type, event_type AS to_type,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2
    ),
    tot AS (SELECT from_type, SUM(n) AS tn FROM t GROUP BY 1)
    SELECT t.from_type, t.to_type, t.n,
           ROUND(CAST(t.n AS DOUBLE) / tot.tn, 6) AS p
    FROM t JOIN tot USING (from_type)
    ORDER BY t.from_type, t.to_type
    """,
)
def q206_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over each user's event
    sequence (deterministic (ts, event_id) order): transition counts
    and row-normalized probabilities — the sequence-model / anomalous-
    flow summary a plain type histogram can't give.

    Scale shape: ONE user-partitioned window (LAG — keyed shuffle,
    no global sort), then a map-side-combinable (from, to) rollup to
    a ≤|types|² summary; the row-total join is a broadcast of that
    summary. Nothing downstream of the window exceeds types²."""
    ev = load_table(spark, sf_dir, "events")
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t = (
        ev.select("user_id", "ts", "event_id", "event_type")
        .withColumn("prev_type", F.lag("event_type").over(w))
        .where(F.col("prev_type").isNotNull())
        .groupBy(
            F.col("prev_type").alias("from_type"), F.col("event_type").alias("to_type")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=False)  # feeds totals AND the final join
    )
    tot = t.groupBy("from_type").agg(F.sum("n").alias("tn"))
    return (
        t.join(F.broadcast(tot), "from_type")
        .select(
            "from_type",
            "to_type",
            "n",
            F.round(F.col("n").cast("double") / F.col("tn"), 6).alias("p"),
        )
        .orderBy("from_type", "to_type")
    )


# --------------------------------------------------------------------------
# q207 — daily new vs returning actives + cumulative reach
# --------------------------------------------------------------------------
@query(
    "q207_new_returning",
    oracle="""
    WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
    act AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS n_active FROM ud GROUP BY 1),
    firsts AS (SELECT user_id, MIN(day) AS fday FROM ud GROUP BY 1),
    new_d AS (SELECT fday AS day, CAST(COUNT(*) AS BIGINT) AS n_new FROM firsts GROUP BY 1)
    SELECT a.day, a.n_active,
           COALESCE(n.n_new, 0) AS n_new,
           a.n_active - COALESCE(n.n_new, 0) AS n_returning,
           CAST(SUM(COALESCE(n.n_new, 0)) OVER (ORDER BY a.day) AS BIGINT) AS cum_users,
           ROUND(CAST(COALESCE(n.n_new, 0) AS DOUBLE) / a.n_active, 6) AS new_share
    FROM act a LEFT JOIN new_d n USING (day)
    ORDER BY a.day
    """,
)
def q207_new_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily activity decomposition: active users split into first-
    ever-seen (new) vs returning, plus the cumulative distinct-user
    reach — the growth-accounting view; the exact running-distinct
    comes free from summing the new-user counts (no per-day distinct
    rescans, no HLL needed at day granularity).

    Scale shape: distinct(user, day) is one keyed shuffle reused
    (checkpointed) for both the per-day count and the per-user first
    day; everything after is per-DAY rows (span-bounded), so the
    running-sum window is over a calendar-sized relation, not data."""
    ev = load_table(spark, sf_dir, "events")
    ud = (
        ev.select("user_id", F.to_date("ts").alias("day"))
        .distinct()
        .localCheckpoint(eager=False)  # feeds actives AND first-day
    )
    act = ud.groupBy("day").agg(F.count(F.lit(1)).alias("n_active"))
    new_d = (
        ud.groupBy("user_id")
        .agg(F.min("day").alias("day"))
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("n_new"))
    )
    from pyspark.sql.window import Window

    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return (
        act.join(new_d, "day", "left")
        .select(
            "day",
            "n_active",
            F.coalesce("n_new", F.lit(0)).alias("n_new"),
            (F.col("n_active") - F.coalesce("n_new", F.lit(0))).alias("n_returning"),
        )
        .withColumn("cum_users", F.sum("n_new").over(w).cast("long"))
        .withColumn(
            "new_share",
            F.round(F.col("n_new").cast("double") / F.col("n_active"), 6),
        )
        .orderBy("day")
    )


# --------------------------------------------------------------------------
# q208 — A/B experiment two-proportion z-test
# --------------------------------------------------------------------------
@query(
    "q208_ab_test",
    oracle="""
    WITH pu AS (
        SELECT user_id,
               CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS arm,
               MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
        FROM events GROUP BY 1
    ),
    arms AS (
        SELECT arm, CAST(COUNT(*) AS BIGINT) AS n_users,
               CAST(SUM(conv) AS BIGINT) AS n_conv
        FROM pu GROUP BY 1
    ),
    s AS (
        SELECT MAX(CASE WHEN arm = 'A' THEN n_users END) AS na,
               MAX(CASE WHEN arm = 'A' THEN n_conv END) AS ca,
               MAX(CASE WHEN arm = 'B' THEN n_users END) AS nb,
               MAX(CASE WHEN arm = 'B' THEN n_conv END) AS cb
        FROM arms
    ),
    z AS (
        SELECT ROUND(
                   (CAST(ca AS DOUBLE) / na - CAST(cb AS DOUBLE) / nb)
                   / NULLIF(
                       sqrt(
                           (CAST(ca + cb AS DOUBLE) / (na + nb))
                           * (1.0 - CAST(ca + cb AS DOUBLE) / (na + nb))
                           * (1.0 / na + 1.0 / nb)
                       ),
                       0.0
                   ),
                   6
               ) + 0 AS z_score
        FROM s
    )
    SELECT a.arm, a.n_users, a.n_conv,
           ROUND(CAST(a.n_conv AS DOUBLE) / a.n_users, 6) AS conv_rate,
           z.z_score,
           CAST(ABS(z.z_score) > 1.96 AS INT) AS significant
    FROM arms a, z
    ORDER BY a.arm
    """,
)
def q208_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout: users deterministically assigned to
    arms (user_id parity — the hash-bucketing stand-in), converted =
    any purchase event; per-arm size/conversions/rate plus the pooled
    two-proportion z statistic and a |z| > 1.96 significance flag —
    the experimentation verb a plain rate comparison can't defend.

    Cross-engine: z is ROUND(·,6)+0 (negative-capable) on both sides;
    the flag derives from the ROUNDED z so both engines agree.

    Scale shape: one groupBy(user) keyed shuffle folds events to a
    per-user conversion bit; the arm rollup is map-side combinable to
    2 rows; the z scalar is a 1-row broadcast attach (BNLJ_ALLOWED
    scalar_aggs). Nothing downstream exceeds the arm count."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type")
    pu = (
        ev.groupBy("user_id")
        .agg(
            F.max(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("conv")
        )
        .select(
            F.when(F.col("user_id") % 2 == 0, "A").otherwise("B").alias("arm"),
            "conv",
        )
    )
    arms = (
        pu.groupBy("arm")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.sum("conv").cast("long").alias("n_conv"),
        )
        .localCheckpoint(eager=False)  # feeds the scalar AND the output
    )
    s = arms.agg(
        F.max(F.when(F.col("arm") == "A", F.col("n_users"))).alias("na"),
        F.max(F.when(F.col("arm") == "A", F.col("n_conv"))).alias("ca"),
        F.max(F.when(F.col("arm") == "B", F.col("n_users"))).alias("nb"),
        F.max(F.when(F.col("arm") == "B", F.col("n_conv"))).alias("cb"),
    )
    pool = F.col("ca").cast("double") + F.col("cb")
    ntot = F.col("na").cast("double") + F.col("nb")
    p = pool / ntot
    se = F.sqrt(p * (1.0 - p) * (1.0 / F.col("na") + 1.0 / F.col("nb")))
    z = s.select(
        (
            F.round(
                (
                    F.col("ca").cast("double") / F.col("na")
                    - F.col("cb").cast("double") / F.col("nb")
                )
                / F.nullif(se, F.lit(0.0)),
                6,
            )
            + 0
        ).alias("z_score")
    )
    return (
        arms.crossJoin(F.broadcast(z))
        .select(
            "arm",
            "n_users",
            "n_conv",
            F.round(F.col("n_conv").cast("double") / F.col("n_users"), 6).alias(
                "conv_rate"
            ),
            "z_score",
            (F.abs(F.col("z_score")) > 1.96).cast("int").alias("significant"),
        )
        .orderBy("arm")
    )


# --------------------------------------------------------------------------
# q209 — market-basket pair lift (association mining)
# --------------------------------------------------------------------------
@query(
    "q209_basket_pair_lift",
    oracle="""
    WITH items AS (
        SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
    ),
    n AS (SELECT CAST(COUNT(DISTINCT ok) AS DOUBLE) AS n_orders FROM items),
    pc AS (SELECT pk, COUNT(*) AS n_ok FROM items GROUP BY 1),
    pairs AS (
        SELECT a.pk AS p1, b.pk AS p2, COUNT(*) AS pair_cnt
        FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
        GROUP BY 1, 2
    )
    SELECT p.p1, p.p2, CAST(p.pair_cnt AS BIGINT) AS pair_cnt,
           CAST(c1.n_ok AS BIGINT) AS n1, CAST(c2.n_ok AS BIGINT) AS n2,
           ROUND(p.pair_cnt / n.n_orders, 6) AS support,
           ROUND(CAST(p.pair_cnt AS DOUBLE) / c1.n_ok, 6) AS confidence,
           ROUND(p.pair_cnt * n.n_orders / (c1.n_ok * c2.n_ok), 6) AS lift
    FROM pairs p
    JOIN pc c1 ON c1.pk = p.p1
    JOIN pc c2 ON c2.pk = p.p2
    CROSS JOIN n
    WHERE p.pair_cnt >= 2
    ORDER BY p.p1, p.p2
    """,
)
def q209_basket_pair_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association mining: for every part pair co-bought
    in >= 2 orders, support / confidence / lift vs independence — the
    recommendation / co-occurrence verb.

    Scale shape: pairs are expanded ROW-LOCALLY from the per-order
    sorted item array (one groupBy(order) shuffle; fan-out bounded by
    basket size squared, ~21 pairs for TPC-H's <= 7 items), never via
    an order-keyed self-join relation; the >= 2 floor prunes before
    the part-frequency joins; the n_orders denominator is a 1-row
    broadcast attach (BNLJ_ALLOWED scalar_aggs). The count-based
    floor (not a top-k on a double) keeps the output set identical
    across engines."""
    items = (
        load_table(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk"))
        .distinct()
        .localCheckpoint(eager=False)  # feeds baskets, part counts, n_orders
    )
    baskets = items.groupBy("ok").agg(
        F.array_sort(F.collect_set("pk")).alias("ps")
    ).localCheckpoint(eager=False)  # feeds the pair fan-out AND n_orders
    pc = items.groupBy("pk").agg(F.count(F.lit(1)).alias("n_ok"))
    n = baskets.agg(F.count(F.lit(1)).cast("double").alias("n_orders"))
    pairs = (
        baskets.select(
            F.explode(
                F.expr(
                    "flatten(transform(ps, (x, i) -> "
                    "transform(slice(ps, i + 2, size(ps)), y -> struct(x AS p1, y AS p2))))"
                )
            ).alias("pr")
        )
        .select("pr.p1", "pr.p2")
        .groupBy("p1", "p2")
        .agg(F.count(F.lit(1)).alias("pair_cnt"))
        .where(F.col("pair_cnt") >= 2)
    )
    return (
        pairs.join(pc.withColumnRenamed("pk", "p1").withColumnRenamed("n_ok", "n1"), "p1")
        .join(pc.withColumnRenamed("pk", "p2").withColumnRenamed("n_ok", "n2"), "p2")
        .crossJoin(F.broadcast(n))
        .select(
            "p1",
            "p2",
            F.col("pair_cnt").cast("long").alias("pair_cnt"),
            F.col("n1").cast("long").alias("n1"),
            F.col("n2").cast("long").alias("n2"),
            F.round(F.col("pair_cnt") / F.col("n_orders"), 6).alias("support"),
            F.round(
                F.col("pair_cnt").cast("double") / F.col("n1"), 6
            ).alias("confidence"),
            F.round(
                F.col("pair_cnt") * F.col("n_orders") / (F.col("n1") * F.col("n2")), 6
            ).alias("lift"),
        )
        .orderBy("p1", "p2")
    )


# --------------------------------------------------------------------------
# q210 — inter-rater agreement (Cohen's kappa) between two labelers
# --------------------------------------------------------------------------
_KAPPA_LABELS = ["short", "medium", "long"]


@query(
    "q210_rater_agreement",
    oracle="""
    WITH lab AS (
        SELECT CASE WHEN n_chars < 220 THEN 'short'
                    WHEN n_chars < 380 THEN 'medium' ELSE 'long' END AS label_a,
               CASE WHEN len(string_split(text, ' ')) < 40 THEN 'short'
                    WHEN len(string_split(text, ' ')) < 70 THEN 'medium'
                    ELSE 'long' END AS label_b
        FROM documents
    ),
    c AS (SELECT label_a, label_b, COUNT(*) AS n FROM lab GROUP BY 1, 2),
    s AS (
        SELECT CAST(SUM(n) AS DOUBLE) AS total,
               CAST(SUM(CASE WHEN label_a = label_b THEN n ELSE 0 END) AS DOUBLE) AS diag
        FROM c
    ),
    ma AS (SELECT label_a AS l, SUM(n) AS na FROM c GROUP BY 1),
    mb AS (SELECT label_b AS l, SUM(n) AS nb FROM c GROUP BY 1),
    pe AS (
        SELECT CAST(SUM(COALESCE(ma.na, 0) * COALESCE(mb.nb, 0)) AS DOUBLE) AS pe_num
        FROM ma FULL JOIN mb USING (l)
    ),
    k AS (
        SELECT ROUND(s.diag / s.total, 6) AS po,
               ROUND(pe.pe_num / (s.total * s.total), 6) AS pe,
               ROUND(
                   (s.diag / s.total - pe.pe_num / (s.total * s.total))
                   / NULLIF(1.0 - pe.pe_num / (s.total * s.total), 0.0),
                   6
               ) + 0 AS kappa
        FROM s, pe
    ),
    grid AS (
        SELECT a.l AS label_a, b.l AS label_b
        FROM (VALUES ('short'), ('medium'), ('long')) a(l),
             (VALUES ('short'), ('medium'), ('long')) b(l)
    )
    SELECT g.label_a, g.label_b,
           CAST(COALESCE(c.n, 0) AS BIGINT) AS n,
           k.po, k.pe, k.kappa
    FROM grid g LEFT JOIN c USING (label_a, label_b) CROSS JOIN k
    ORDER BY g.label_a, g.label_b
    """,
)
def q210_rater_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between two independent labelers — the
    annotator-agreement / weak-supervision QA verb (chance-corrected:
    kappa = (po - pe)/(1 - pe)). Here the raters are two deterministic
    length heuristics (char-bucket vs word-bucket) so both engines
    label identically; the operator is generic over any two
    categorical columns. Output: the full label x label confusion
    grid (absent cells explicit 0) with po / pe / kappa attached.

    Scale shape: one map-side-combinable (label_a, label_b) rollup to
    <= |labels|^2 rows; marginals, po/pe/kappa, and the grid are all
    label-bounded; the kappa scalar is a 1-row broadcast attach
    (BNLJ_ALLOWED scalar_aggs). kappa is negative-capable ->
    ROUND+0 on both engines."""
    docs = load_table(spark, sf_dir, "documents").select("n_chars", "text")
    lab = docs.select(
        F.when(F.col("n_chars") < 220, "short")
        .when(F.col("n_chars") < 380, "medium")
        .otherwise("long")
        .alias("label_a"),
        F.when(F.size(F.split(F.col("text"), " ")) < 40, "short")
        .when(F.size(F.split(F.col("text"), " ")) < 70, "medium")
        .otherwise("long")
        .alias("label_b"),
    )
    c = (
        lab.groupBy("label_a", "label_b")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=False)  # feeds scalars, marginals, grid join
    )
    s = c.agg(
        F.sum("n").cast("double").alias("total"),
        F.sum(F.when(F.col("label_a") == F.col("label_b"), F.col("n")).otherwise(0))
        .cast("double")
        .alias("diag"),
    )
    ma = c.groupBy(F.col("label_a").alias("l")).agg(F.sum("n").alias("na"))
    mb = c.groupBy(F.col("label_b").alias("l")).agg(F.sum("n").alias("nb"))
    pe_num = (
        ma.join(mb, "l", "full")
        .agg(
            F.sum(
                F.coalesce("na", F.lit(0)) * F.coalesce("nb", F.lit(0))
            )
            .cast("double")
            .alias("pe_num")
        )
    )
    po_c = F.col("diag") / F.col("total")
    pe_c = F.col("pe_num") / (F.col("total") * F.col("total"))
    k = s.crossJoin(pe_num).select(
        F.round(po_c, 6).alias("po"),
        F.round(pe_c, 6).alias("pe"),
        (
            F.round((po_c - pe_c) / F.nullif(F.lit(1.0) - pe_c, F.lit(0.0)), 6) + 0
        ).alias("kappa"),
    )
    grid = (
        spark.range(1)
        .select(
            F.explode(
                F.array(*[F.lit(a) for a in _KAPPA_LABELS])
            ).alias("label_a")
        )
        .select(
            "label_a",
            F.explode(
                F.array(*[F.lit(b) for b in _KAPPA_LABELS])
            ).alias("label_b"),
        )
    )
    return (
        grid.join(c, ["label_a", "label_b"], "left")
        .crossJoin(F.broadcast(k))
        .select(
            "label_a",
            "label_b",
            F.coalesce("n", F.lit(0)).cast("long").alias("n"),
            "po",
            "pe",
            "kappa",
        )
        .orderBy("label_a", "label_b")
    )


# --------------------------------------------------------------------------
# q211 — numeric correlation-matrix profile
# --------------------------------------------------------------------------
_CORR_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


@query(
    "q211_corr_profile",
    oracle="""
    WITH s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               corr(l_quantity, l_extendedprice) AS c01,
               corr(l_quantity, l_discount) AS c02,
               corr(l_quantity, l_tax) AS c03,
               corr(l_extendedprice, l_discount) AS c12,
               corr(l_extendedprice, l_tax) AS c13,
               corr(l_discount, l_tax) AS c23
        FROM lineitem
    )
    SELECT col_x, col_y, n, ROUND(r, 6) + 0 AS r FROM (
        SELECT 'l_quantity' AS col_x, 'l_extendedprice' AS col_y, n, c01 AS r FROM s
        UNION ALL SELECT 'l_quantity', 'l_discount', n, c02 FROM s
        UNION ALL SELECT 'l_quantity', 'l_tax', n, c03 FROM s
        UNION ALL SELECT 'l_extendedprice', 'l_discount', n, c12 FROM s
        UNION ALL SELECT 'l_extendedprice', 'l_tax', n, c13 FROM s
        UNION ALL SELECT 'l_discount', 'l_tax', n, c23 FROM s
    ) ORDER BY col_x, col_y
    """,
)
def q211_corr_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation profile over the numeric measure
    columns — the schema-profiling complement to q173's univariate
    stats and q201's FD discovery (redundant/derived-column and
    unit-mixup detector). Sample correlation on both engines,
    ROUND+0 (negative-capable). Spark's native corr() raises
    DIVIDE_BY_ZERO under ANSI mode when a column has zero variance,
    while DuckDB's corr() returns NULL — so the engine side builds
    r = covar_samp / nullif(stddev*stddev, 0), which is the same
    sample statistic with the degenerate case explicitly NULL.

    Scale shape: ONE map-side-combinable global aggregate computes
    all C(4,2) correlations in a single pass over the column-pruned
    scan (co-moment partial state merges associatively); the unpivot
    to (col_x, col_y, r) rows is over that 1-row summary."""
    li = load_table(spark, sf_dir, "lineitem").select(*_CORR_COLS)
    aggs = [F.count(F.lit(1)).cast("long").alias("n")]
    stack_parts = []
    for i in range(len(_CORR_COLS)):
        for j in range(i + 1, len(_CORR_COLS)):
            a, b = _CORR_COLS[i], _CORR_COLS[j]
            nm = f"c{i}{j}"
            ax, bx = F.col(a).cast("double"), F.col(b).cast("double")
            aggs.append(
                (
                    F.covar_samp(ax, bx)
                    / F.nullif(F.stddev_samp(ax) * F.stddev_samp(bx), F.lit(0.0))
                ).alias(nm)
            )
            stack_parts.append(f"'{a}', '{b}', {nm}")
    s = li.agg(*aggs)
    n_pairs = len(stack_parts)
    return (
        s.selectExpr(
            "n",
            f"stack({n_pairs}, {', '.join(stack_parts)}) AS (col_x, col_y, r)",
        )
        .select("col_x", "col_y", "n", (F.round("r", 6) + 0).alias("r"))
        .orderBy("col_x", "col_y")
    )


# --------------------------------------------------------------------------
# q212 — quality-score calibration curve + expected calibration error
# --------------------------------------------------------------------------
@query(
    "q212_calibration_ece",
    oracle="""
    WITH scored AS (
        SELECT LEAST(1.0, len(string_split(text, ' ')) / 100.0) AS score,
               CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS label
        FROM documents
    ),
    bins AS (
        SELECT CAST(LEAST(9, FLOOR(score * 10)) AS INT) AS bin,
               CAST(COUNT(*) AS BIGINT) AS n,
               AVG(score) AS conf_raw,
               AVG(CAST(label AS DOUBLE)) AS acc_raw
        FROM scored GROUP BY 1
    ),
    e AS (
        SELECT ROUND(
                   SUM(n * ABS(acc_raw - conf_raw)) / SUM(n), 6
               ) AS ece
        FROM bins
    )
    SELECT b.bin, b.n,
           ROUND(b.conf_raw, 6) AS conf,
           ROUND(b.acc_raw, 6) AS acc,
           e.ece
    FROM bins b, e
    ORDER BY b.bin
    """,
)
def q212_calibration_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier-calibration audit (reliability curve + expected
    calibration error) — the quality-filter QA verb: a score that
    ranks well but is miscalibrated silently shifts every threshold
    cut. Score = capped words/100 heuristic, label = n_chars >= 300
    (both deterministic so the engines agree); 10 equal-width bins,
    per-bin mean confidence vs empirical accuracy, ECE = Σ (n_b/N)·
    |acc_b − conf_b| computed from the UNROUNDED bin values.

    Scale shape: one column-pruned scan → map-side-combinable rollup
    to ≤ 10 bin rows; the ECE scalar is a 1-row broadcast attach over
    those bins (BNLJ_ALLOWED scalar_aggs)."""
    docs = load_table(spark, sf_dir, "documents").select("text", "n_chars")
    scored = docs.select(
        F.least(F.lit(1.0), F.size(F.split(F.col("text"), " ")) / 100.0).alias(
            "score"
        ),
        F.when(F.col("n_chars") >= 300, 1).otherwise(0).alias("label"),
    )
    bins = (
        scored.groupBy(
            F.least(F.lit(9), F.floor(F.col("score") * 10)).cast("int").alias("bin")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.avg("score").alias("conf_raw"),
            F.avg(F.col("label").cast("double")).alias("acc_raw"),
        )
        .localCheckpoint(eager=False)  # feeds the ECE scalar AND the output
    )
    e = bins.agg(
        F.round(
            F.sum(F.col("n") * F.abs(F.col("acc_raw") - F.col("conf_raw")))
            / F.sum("n"),
            6,
        ).alias("ece")
    )
    return (
        bins.crossJoin(F.broadcast(e))
        .select(
            "bin",
            "n",
            F.round("conf_raw", 6).alias("conf"),
            F.round("acc_raw", 6).alias("acc"),
            "ece",
        )
        .orderBy("bin")
    )


# --------------------------------------------------------------------------
# q213 — chi-squared independence test + Cramér's V (lang × source)
# --------------------------------------------------------------------------
@query(
    "q213_chi2_independence",
    oracle="""
    WITH c AS (
        SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS o
        FROM documents GROUP BY 1, 2
    ),
    n AS (SELECT CAST(SUM(o) AS DOUBLE) AS total FROM c),
    ma AS (SELECT lang, SUM(o) AS na FROM c GROUP BY 1),
    mb AS (SELECT source, SUM(o) AS nb FROM c GROUP BY 1),
    cells AS (
        SELECT c.lang, c.source, c.o,
               ma.na * mb.nb / n.total AS e_raw
        FROM c JOIN ma USING (lang) JOIN mb USING (source) CROSS JOIN n
    ),
    s AS (
        -- absent (lang, source) combos contribute (0 - e)^2 / e = e
        -- to chi2, and SUM(e) over the FULL grid is exactly N, so the
        -- unobserved-cell mass is N - SUM(e over observed cells):
        -- no grid materialization needed.
        SELECT SUM((o - e_raw) * (o - e_raw) / e_raw)
                   + (SUM(o) - SUM(e_raw)) AS chi2_raw,
               COUNT(DISTINCT lang) AS r,
               COUNT(DISTINCT source) AS k,
               SUM(o) AS total
        FROM cells
    ),
    kk AS (
        SELECT ROUND(chi2_raw, 6) AS chi2,
               CAST((r - 1) * (k - 1) AS BIGINT) AS dof,
               ROUND(
                   sqrt(chi2_raw / (total * LEAST(r - 1, k - 1))), 6
               ) AS cramers_v
        FROM s
    )
    SELECT cells.lang, cells.source, cells.o,
           ROUND(cells.e_raw, 6) AS expected,
           kk.chi2, kk.dof, kk.cramers_v
    FROM cells, kk
    ORDER BY cells.lang, cells.source
    """,
)
def q213_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-squared independence test between two categorical
    columns (lang × source) with Cramér's V effect size — the
    categorical complement to q211's numeric correlation profile
    (detects source/language confounds in a corpus mix). Output: every
    observed contingency cell with its expected count, plus the
    chi2 / dof / V test summary attached to each row. Unobserved
    (lang, source) combos are NOT materialized, but their chi2 mass is
    exact: each absent cell contributes (0−e)²/e = e, and Σe over the
    full grid is N, so the absent-cell term is N − Σ_observed e.

    Scale shape: one map-side-combinable (lang, source) rollup to
    ≤ |langs|·|sources| cells; marginals are rollups OF that bounded
    relation (broadcast equi-joins back); the grand total and the
    chi2/V summary are 1-row broadcast attaches (BNLJ_ALLOWED
    scalar_aggs: 2). Nothing downstream exceeds the cell count."""
    docs = load_table(spark, sf_dir, "documents").select("lang", "source")
    c = (
        docs.groupBy("lang", "source")
        .agg(F.count(F.lit(1)).cast("long").alias("o"))
        .localCheckpoint(eager=False)  # feeds marginals, total, cells
    )
    n = c.agg(F.sum("o").cast("double").alias("total"))
    ma = c.groupBy("lang").agg(F.sum("o").alias("na"))
    mb = c.groupBy("source").agg(F.sum("o").alias("nb"))
    cells = (
        c.join(ma, "lang")
        .join(mb, "source")
        .crossJoin(F.broadcast(n))
        .select(
            "lang",
            "source",
            "o",
            (F.col("na") * F.col("nb") / F.col("total")).alias("e_raw"),
        )
        .localCheckpoint(eager=False)  # feeds the chi2 scalar AND the output
    )
    s = cells.agg(
        (
            F.sum(
                (F.col("o") - F.col("e_raw"))
                * (F.col("o") - F.col("e_raw"))
                / F.col("e_raw")
            )
            + (F.sum("o") - F.sum("e_raw"))
        ).alias("chi2_raw"),
        F.countDistinct("lang").alias("r"),
        F.countDistinct("source").alias("k"),
        F.sum("o").alias("total"),
    )
    kk = s.select(
        F.round("chi2_raw", 6).alias("chi2"),
        ((F.col("r") - 1) * (F.col("k") - 1)).cast("long").alias("dof"),
        F.round(
            F.sqrt(
                F.col("chi2_raw")
                / (F.col("total") * F.least(F.col("r") - 1, F.col("k") - 1))
            ),
            6,
        ).alias("cramers_v"),
    )
    return (
        cells.crossJoin(F.broadcast(kk))
        .select(
            "lang",
            "source",
            "o",
            F.round("e_raw", 6).alias("expected"),
            "chi2",
            "dof",
            "cramers_v",
        )
        .orderBy("lang", "source")
    )


# --------------------------------------------------------------------------
# q214 — delete-a-group jackknife CI for a per-event mean (user-clustered)
# --------------------------------------------------------------------------
_JK_GROUPS = 20


@query(
    "q214_jackknife_ci",
    oracle=f"""
    WITH g AS (
        SELECT CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT)
                   % {_JK_GROUPS} AS grp,
               value
        FROM events
    ),
    b AS (
        SELECT grp, SUM(value) AS s, CAST(COUNT(*) AS DOUBLE) AS c
        FROM g GROUP BY 1
    ),
    tot AS (SELECT SUM(s) AS st, SUM(c) AS ct, COUNT(*) AS ng FROM b),
    loo AS (
        SELECT (tot.st - b.s) / (tot.ct - b.c) AS r_g
        FROM b CROSS JOIN tot
    ),
    v AS (
        SELECT (COUNT(*) - 1.0) / COUNT(*)
                   * (SUM(r_g * r_g) - COUNT(*) * AVG(r_g) * AVG(r_g)) AS var_jk
        FROM loo
    )
    SELECT CAST(tot.ng AS BIGINT) AS n_groups,
           ROUND(tot.st / tot.ct, 6) + 0 AS metric,
           ROUND(sqrt(v.var_jk), 6) AS se,
           ROUND(tot.st / tot.ct - 1.96 * sqrt(v.var_jk), 6) + 0 AS ci_lo,
           ROUND(tot.st / tot.ct + 1.96 * sqrt(v.var_jk), 6) + 0 AS ci_hi
    FROM tot CROSS JOIN v
    """,
)
def q214_jackknife_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete-a-group jackknife confidence interval for a ratio metric
    (mean event value), with USERS as the randomization unit — the
    scale-safe uncertainty verb production experimentation systems use
    when per-user resampling is infeasible: hash users into G=20
    buckets, compute the metric leaving each bucket out, and estimate
    Var = (G-1)/G · Σ (R_g − R̄)². User-level bucketing makes the SE
    cluster-robust (correlated events of one user stay together).

    Cross-engine: the bucket hash is the portable first-8-hex-md5
    rule; metric/ci are ROUND+0 (negative-capable in general).

    Scale shape: one map-side-combinable groupBy(grp) rollup to G
    rows; totals, leave-one-out ratios, and the variance are all
    G-bounded; two 1-row broadcast attaches (BNLJ_ALLOWED
    scalar_aggs: 2). No per-user state, no resampling shuffle."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "value")
    g = ev.select(
        (
            F.expr(
                "cast(conv(substr(md5(cast(user_id AS STRING)), 1, 8), 16, 10) AS BIGINT)"
            )
            % _JK_GROUPS
        ).alias("grp"),
        "value",
    )
    b = (
        g.groupBy("grp")
        .agg(
            F.sum("value").alias("s"),
            F.count(F.lit(1)).cast("double").alias("c"),
        )
        .localCheckpoint(eager=False)  # feeds totals AND leave-one-out rows
    )
    tot = b.agg(
        F.sum("s").alias("st"),
        F.sum("c").alias("ct"),
        F.count(F.lit(1)).alias("ng"),
    )
    loo = b.crossJoin(F.broadcast(tot)).select(
        ((F.col("st") - F.col("s")) / (F.col("ct") - F.col("c"))).alias("r_g")
    )
    v = loo.agg(
        (
            (F.count(F.lit(1)) - 1.0)
            / F.count(F.lit(1))
            * (
                F.sum(F.col("r_g") * F.col("r_g"))
                - F.count(F.lit(1)) * F.avg("r_g") * F.avg("r_g")
            )
        ).alias("var_jk")
    )
    est = F.col("st") / F.col("ct")
    se = F.sqrt(F.col("var_jk"))
    return tot.crossJoin(F.broadcast(v)).select(
        F.col("ng").cast("long").alias("n_groups"),
        (F.round(est, 6) + 0).alias("metric"),
        F.round(se, 6).alias("se"),
        (F.round(est - 1.96 * se, 6) + 0).alias("ci_lo"),
        (F.round(est + 1.96 * se, 6) + 0).alias("ci_hi"),
    )


# --------------------------------------------------------------------------
# q215 — duplicate-line frequency spectrum + Hill tail exponent
# --------------------------------------------------------------------------
@query(
    "q215_dup_spectrum",
    oracle=f"""
    WITH b AS (
        SELECT array_to_string(w[i:i+{_LINE_W - 1}], ' ') AS line
        FROM (SELECT string_split(text, ' ') AS w FROM documents),
             UNNEST(range(1, greatest(len(w), 1) + 1, {_LINE_W})) AS t(i)
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
    lines = segment_blocks(docs, _LINE_W).select("line")
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
# q216 — id-sequence gap audit (distributed gaps-and-islands)
# --------------------------------------------------------------------------
@query(
    "q216_id_gaps",
    oracle="""
    WITH ids AS (
        SELECT DISTINCT event_id AS id FROM events WHERE event_type = 'purchase'
    ),
    p AS (SELECT id, LEAD(id) OVER (ORDER BY id) AS nxt FROM ids)
    SELECT id + 1 AS gap_start, nxt - 1 AS gap_end,
           nxt - id - 1 AS gap_len
    FROM p WHERE nxt - id > 1
    ORDER BY gap_start
    """,
)
def q216_id_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands audit over a filtered id stream: every maximal
    missing event_id range inside the purchase-event sequence — the
    continuity check behind "did an ingest drop a batch?" / free-range
    discovery. The DuckDB oracle is the textbook single-sort LEAD; the
    engine side is operators/islands.py's HIERARCHICAL pair detection:
    LEAD partitioned by id div 512 (parallel), bucket-boundary
    successors from the recursively-shrunk bucket summary, and only
    the n/512^3 top relation (< 1 row per 1.3e8 ids) ever sees a
    partitionless sort — the global-sort shape the naive plan would
    put on ONE reducer at 100 TB never appears over data-sized rows.

    Scale shape: one distinct shuffle + per-level keyed windows; the
    two boundary joins are bucket-summary-sized equi-joins
    (GLOBAL_WINDOW_ALLOWED documents the tiny top-level window)."""
    ids = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .select(F.col("event_id").alias("id"))
        .distinct()
    )
    return id_gaps(ids, "id").orderBy("gap_start")


# --------------------------------------------------------------------------
# q217 — CUSUM changepoint scan over the daily event-count series
# --------------------------------------------------------------------------
@query(
    "q217_cusum_changepoint",
    oracle="""
    WITH d AS (
        SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY 1
    ),
    m AS (SELECT AVG(CAST(n AS DOUBLE)) AS mu FROM d),
    c AS (
        SELECT day, n,
               SUM(n - m.mu) OVER (ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cusum_raw
        FROM d, m
    ),
    mx AS (SELECT MAX(ABS(cusum_raw)) AS peak FROM c)
    SELECT c.day, c.n,
           ROUND(c.cusum_raw, 6) + 0 AS cusum,
           CAST(ABS(c.cusum_raw) = mx.peak AS INT) AS is_peak
    FROM c, mx
    ORDER BY c.day
    """,
)
def q217_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint scan: cumulative sum of (daily count − grand
    mean) over the day series, with the |CUSUM| peak flagged — the
    standard nonparametric single-changepoint locator for "did the
    event rate shift, and when?" (peak day = most likely split point).

    Cross-engine: cusum is ROUND+0 (negative-capable); the peak flag
    compares UNROUNDED |cusum| against the unrounded max so ties are
    engine-identical.

    Scale shape: the day rollup is map-side combinable (365 rows per
    year); the running sum, mean attach, and peak attach all operate
    on that calendar-span-bounded relation (GLOBAL_WINDOW_ALLOWED —
    same precedent as q207; BNLJ_ALLOWED scalar_aggs: 2)."""
    ev = load_table(spark, sf_dir, "events").select(F.to_date("ts").alias("day"))
    d = (
        ev.groupBy("day")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .localCheckpoint(eager=False)  # feeds the mean scalar AND the series
    )
    m = d.agg(F.avg(F.col("n").cast("double")).alias("mu"))
    from pyspark.sql.window import Window as W

    c = (
        d.crossJoin(F.broadcast(m))
        .select(
            "day",
            "n",
            F.sum(F.col("n") - F.col("mu"))
            .over(W.orderBy("day").rowsBetween(W.unboundedPreceding, W.currentRow))
            .alias("cusum_raw"),
        )
        .localCheckpoint(eager=False)  # feeds the peak scalar AND the output
    )
    mx = c.agg(F.max(F.abs(F.col("cusum_raw"))).alias("peak"))
    return (
        c.crossJoin(F.broadcast(mx))
        .select(
            "day",
            "n",
            (F.round("cusum_raw", 6) + 0).alias("cusum"),
            (F.abs(F.col("cusum_raw")) == F.col("peak")).cast("int").alias("is_peak"),
        )
        .orderBy("day")
    )


# --------------------------------------------------------------------------
# q218 — peak concurrent sessions per day (distributed sweep-line)
# --------------------------------------------------------------------------
_SESSION_GAP_S = 1800


@query(
    "q218_session_concurrency",
    oracle=f"""
    WITH e AS (
        SELECT user_id,
               (epoch_us(ts) - epoch_us(TIMESTAMP '2024-01-01 00:00:00'))
                   // 1000000 AS t
        FROM events
    ),
    o AS (
        SELECT user_id, t,
               CASE WHEN LAG(t) OVER (PARTITION BY user_id ORDER BY t) IS NULL
                         OR t - LAG(t) OVER (PARTITION BY user_id ORDER BY t)
                            > {_SESSION_GAP_S}
                    THEN 1 ELSE 0 END AS ns
        FROM e
    ),
    s AS (
        SELECT user_id, t,
               SUM(ns) OVER (PARTITION BY user_id ORDER BY t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        FROM o
    ),
    sess AS (SELECT user_id, sid, MIN(t) AS st, MAX(t) AS en FROM s GROUP BY 1, 2),
    dl AS (
        SELECT st AS b, 1 AS d FROM sess
        UNION ALL SELECT en + 1, -1 FROM sess
    ),
    net AS (SELECT b, SUM(d) AS net FROM dl GROUP BY 1),
    c AS (
        SELECT b, SUM(net) OVER (ORDER BY b
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS conc
        FROM net
    )
    SELECT b // 86400 AS day, CAST(MAX(conc) AS BIGINT) AS peak
    FROM c GROUP BY 1 ORDER BY 1
    """,
)
def q218_session_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent sessions per day — the capacity-planning verb:
    sessionize per user (30-min gap rule, q28's semantics), sweep-line
    the session intervals as +1/−1 boundary deltas, and report each
    day's maximum running concurrency. Time is TZ-free seconds since
    2024-01-01 (the q189 epoch-difference rule); day = t div 86400.

    Scale shape: sessionization windows are USER-partitioned; the
    sweep's running sum — the step the naive plan puts on one global
    sort — is packing.global_cumsum's distributed prefix sum (keys
    are the DISTINCT boundary seconds after the net rollup, so the
    unique-key precondition holds by construction); only its
    ≤ n_buckets offset table is ever partitionless. The day peak is a
    map-side-combinable rollup of the boundary relation."""
    from pyspark.sql.window import Window as W

    from tp_integ_data_pipeline_spark.operators.packing import global_cumsum

    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "user_id",
        F.expr(
            "CAST((unix_micros(ts) - unix_micros(TIMESTAMP '2024-01-01 00:00:00'))"
            " DIV 1000000 AS BIGINT)"
        ).alias("t"),
    )
    uw = W.partitionBy("user_id").orderBy("t")
    o = e.select(
        "user_id",
        "t",
        F.when(
            F.lag("t").over(uw).isNull()
            | (F.col("t") - F.lag("t").over(uw) > _SESSION_GAP_S),
            1,
        )
        .otherwise(0)
        .alias("ns"),
    )
    s = o.select(
        "user_id",
        "t",
        F.sum("ns").over(uw.rowsBetween(W.unboundedPreceding, W.currentRow)).alias("sid"),
    )
    sess = s.groupBy("user_id", "sid").agg(F.min("t").alias("st"), F.max("t").alias("en"))
    dl = sess.select(F.col("st").alias("b"), F.lit(1).alias("d")).unionByName(
        sess.select((F.col("en") + 1).alias("b"), F.lit(-1).alias("d"))
    )
    # global_cumsum evaluates its child up to three times (documented
    # at operators/packing.py) — checkpoint the boundary relation so
    # the sessionization pipeline above runs once.
    net = dl.groupBy("b").agg(F.sum("d").alias("net")).localCheckpoint(eager=False)
    c = global_cumsum(net, "b", "net", out_col="cum_before").select(
        "b", (F.col("cum_before") + F.col("net")).alias("conc")
    )
    return (
        c.groupBy(F.expr("b DIV 86400").alias("day"))
        .agg(F.max("conc").cast("long").alias("peak"))
        .orderBy("day")
    )


# --------------------------------------------------------------------------
# q219 — weight-of-evidence / information-value feature audit
# --------------------------------------------------------------------------
_WOE_BINS = 10


@query(
    "q219_woe_iv",
    oracle=f"""
    WITH bd AS (SELECT MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi FROM orders),
    binned AS (
        SELECT CAST(LEAST(FLOOR((o_totalprice - bd.lo)
                                / NULLIF(bd.hi - bd.lo, 0.0) * {_WOE_BINS}),
                          {_WOE_BINS - 1}) AS INT) AS bin,
               CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS ev
        FROM orders, bd
    ),
    c AS (
        SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(ev) AS BIGINT) AS e
        FROM binned GROUP BY 1
    ),
    t AS (
        SELECT CAST(SUM(e) AS DOUBLE) AS et,
               CAST(SUM(n) - SUM(e) AS DOUBLE) AS nt,
               COUNT(*) AS nb
        FROM c
    ),
    w AS (
        SELECT c.bin, c.n, c.e,
               (c.e + 0.5) / (t.et + 0.5 * t.nb) AS pe,
               (c.n - c.e + 0.5) / (t.nt + 0.5 * t.nb) AS pn
        FROM c, t
    ),
    iv AS (SELECT ROUND(SUM((pe - pn) * ln(pe / pn)), 6) AS iv FROM w)
    SELECT w.bin, w.n, w.e AS n_event,
           ROUND(ln(w.pe / w.pn), 6) + 0 AS woe,
           iv.iv
    FROM w, iv ORDER BY w.bin
    """,
)
def q219_woe_iv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-evidence / information-value audit of a numeric
    feature against a binary outcome (o_totalprice predicting
    finished status) — the standard feature-screening verb: per-bin
    WOE = ln(P(bin|event)/P(bin|non-event)) with +0.5 Laplace
    smoothing (so empty cells stay finite), IV = Σ(pe−pn)·WOE.
    Equal-WIDTH bins over the [min,max] scalar (q170's binning rule:
    row-local, tie-free, no cross-engine quantile drift).

    Scale shape: bounds are a 1-row broadcast onto the scan; the bin
    rollup is map-side combinable to ≤ 10 rows; totals / smoothed
    shares / IV are all bin-bounded with 1-row scalar attaches
    (BNLJ_ALLOWED)."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_totalprice", "o_orderstatus"
    )
    bd = orders.agg(
        F.min("o_totalprice").alias("lo"), F.max("o_totalprice").alias("hi")
    )
    binned = orders.crossJoin(F.broadcast(bd)).select(
        F.least(
            F.floor(
                (F.col("o_totalprice") - F.col("lo"))
                / F.nullif(F.col("hi") - F.col("lo"), F.lit(0.0))
                * _WOE_BINS
            ),
            F.lit(_WOE_BINS - 1),
        )
        .cast("int")
        .alias("bin"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("ev"),
    )
    c = (
        binned.groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("ev").cast("long").alias("e"),
        )
        .localCheckpoint(eager=False)  # feeds totals AND the share rows
    )
    t = c.agg(
        F.sum("e").cast("double").alias("et"),
        (F.sum("n") - F.sum("e")).cast("double").alias("nt"),
        F.count(F.lit(1)).alias("nb"),
    )
    w = (
        c.crossJoin(F.broadcast(t))
        .select(
            "bin",
            "n",
            "e",
            ((F.col("e") + 0.5) / (F.col("et") + 0.5 * F.col("nb"))).alias("pe"),
            (
                (F.col("n") - F.col("e") + 0.5)
                / (F.col("nt") + 0.5 * F.col("nb"))
            ).alias("pn"),
        )
        .localCheckpoint(eager=False)  # feeds the IV scalar AND the output
    )
    iv = w.agg(
        F.round(
            F.sum((F.col("pe") - F.col("pn")) * F.log(F.col("pe") / F.col("pn"))), 6
        ).alias("iv")
    )
    return (
        w.crossJoin(F.broadcast(iv))
        .select(
            "bin",
            "n",
            F.col("e").alias("n_event"),
            (F.round(F.log(F.col("pe") / F.col("pn")), 6) + 0).alias("woe"),
            "iv",
        )
        .orderBy("bin")
    )


# --------------------------------------------------------------------------
# q220 — l-diversity audit (distinct + entropy) over quasi-identifiers
# --------------------------------------------------------------------------
_LDIV_L = 3


@query(
    "q220_l_diversity",
    oracle=f"""
    WITH sv AS (
        SELECT o_orderpriority AS qi1, o_orderstatus AS qi2, o_custkey,
               COUNT(*) AS c
        FROM orders GROUP BY 1, 2, 3
    ),
    g AS (
        SELECT qi1, qi2,
               CAST(SUM(c) AS BIGINT) AS n,
               CAST(COUNT(*) AS BIGINT) AS l_distinct,
               -SUM(c * ln(c)) / SUM(c) + ln(SUM(c)) AS h_raw
        FROM sv GROUP BY 1, 2
    )
    SELECT qi1, qi2, n, l_distinct,
           ROUND(h_raw, 6) + 0 AS entropy,
           CAST(h_raw >= ln({_LDIV_L}.0) AS INT) AS meets_entropy_l
    FROM g ORDER BY qi1, qi2
    """,
)
def q220_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit — the release-safety complement to q166's
    k-anonymity: per quasi-identifier group (priority × status), the
    count of DISTINCT sensitive values (custkey) and the ENTROPY of
    their distribution, flagged against entropy-l-diversity H ≥ ln(3)
    (a group k-anonymous on size can still leak if one sensitive value
    dominates — the entropy form catches that). H is computed as
    ln(n) − Σ c·ln(c)/n, algebraically equal to −Σ p·ln p but summed
    over EXACT integer counts so partial-agg order can't drift.

    Scale shape: two map-side-combinable keyed rollups — (qi, custkey)
    then (qi) — both shuffle-bounded by group cardinality; no distinct
    subquery, no window, no scalar attach."""
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("qi1"),
        F.col("o_orderstatus").alias("qi2"),
        "o_custkey",
    )
    sv = orders.groupBy("qi1", "qi2", "o_custkey").agg(
        F.count(F.lit(1)).alias("c")
    )
    h_raw = -F.sum(F.col("c") * F.log("c")) / F.sum("c") + F.log(F.sum("c"))
    g = sv.groupBy("qi1", "qi2").agg(
        F.sum("c").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("l_distinct"),
        h_raw.alias("h_raw"),
    )
    import math

    return g.select(
        "qi1",
        "qi2",
        "n",
        "l_distinct",
        (F.round("h_raw", 6) + 0).alias("entropy"),
        (F.col("h_raw") >= math.log(_LDIV_L)).cast("int").alias("meets_entropy_l"),
    ).orderBy("qi1", "qi2")


# --------------------------------------------------------------------------
# q221 — first-touch vs last-touch conversion attribution
# --------------------------------------------------------------------------
@query(
    "q221_attribution",
    oracle="""
    WITH w AS (
        SELECT event_type,
               FIRST_VALUE(event_type) OVER (PARTITION BY user_id
                   ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_touch,
               LAST_VALUE(CASE WHEN event_type <> 'purchase' THEN event_type END
                          IGNORE NULLS) OVER (PARTITION BY user_id
                   ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_touch
        FROM events
    ),
    p AS (
        SELECT first_touch, COALESCE(last_touch, '(none)') AS last_touch
        FROM w WHERE event_type = 'purchase'
    ),
    f AS (SELECT first_touch AS channel, COUNT(*) AS fc FROM p GROUP BY 1),
    l AS (SELECT last_touch AS channel, COUNT(*) AS lc FROM p GROUP BY 1)
    SELECT COALESCE(f.channel, l.channel) AS channel,
           CAST(COALESCE(f.fc, 0) AS BIGINT) AS first_conv,
           CAST(COALESCE(l.lc, 0) AS BIGINT) AS last_conv
    FROM f FULL JOIN l ON f.channel = l.channel
    ORDER BY channel
    """,
)
def q221_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marketing-style conversion attribution: every purchase credits
    (a) the user's FIRST-ever event type (first-touch) and (b) the
    nearest PRECEDING non-purchase event type (last-touch, '(none)'
    when the purchase opens the stream) — the two standard models,
    reported side-by-side per channel. Ordering ties break on
    (ts, event_id) (q28's rule) so both engines walk identical
    sequences.

    Scale shape: both attributions come from ONE user-partitioned
    window pass (first_value + ignore-nulls last over the shifted
    frame) — no self-joins, no per-purchase scans; the channel
    rollups and their full-outer alignment are event-type-bounded."""
    from pyspark.sql.window import Window as W

    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type")
    uw = W.partitionBy("user_id").orderBy("ts", "event_id")
    w = ev.select(
        "event_type",
        F.first("event_type")
        .over(uw.rowsBetween(W.unboundedPreceding, W.currentRow))
        .alias("first_touch"),
        F.last(
            F.when(F.col("event_type") != "purchase", F.col("event_type")),
            ignorenulls=True,
        )
        .over(uw.rowsBetween(W.unboundedPreceding, -1))
        .alias("last_touch"),
    )
    p = w.where(F.col("event_type") == "purchase").select(
        "first_touch", F.coalesce("last_touch", F.lit("(none)")).alias("last_touch")
    ).localCheckpoint(eager=False)  # feeds both channel rollups
    f = p.groupBy(F.col("first_touch").alias("channel")).agg(
        F.count(F.lit(1)).alias("fc")
    )
    l = p.groupBy(F.col("last_touch").alias("channel")).agg(
        F.count(F.lit(1)).alias("lc")
    )
    return (
        f.join(l, "channel", "full")
        .select(
            "channel",
            F.coalesce("fc", F.lit(0)).cast("long").alias("first_conv"),
            F.coalesce("lc", F.lit(0)).cast("long").alias("last_conv"),
        )
        .orderBy("channel")
    )


# --------------------------------------------------------------------------
# q222 — top session entry paths (first 3 event types per session)
# --------------------------------------------------------------------------
_PATH_K = 10


@query(
    "q222_session_paths",
    oracle=f"""
    WITH g AS (
        SELECT user_id, ts, event_id, event_type,
               CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER
                        (PARTITION BY user_id ORDER BY ts, event_id) >= 1800000000
                    OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                    THEN 1 ELSE 0 END AS new_sess
        FROM events
    ),
    s AS (
        SELECT user_id, ts, event_id, event_type,
               SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
        FROM g
    ),
    paths AS (
        SELECT user_id, sess_id,
               array_to_string((LIST(event_type ORDER BY ts, event_id))[1:3], '>') AS path
        FROM s GROUP BY 1, 2
    ),
    pc AS (SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions FROM paths GROUP BY 1)
    SELECT path, n_sessions FROM pc
    ORDER BY n_sessions DESC, path
    LIMIT {_PATH_K}
    """,
)
def q222_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{_PATH_K} session ENTRY paths: the first three event types
    of every session (30-min gap, q28's ≥-1800 s rule and
    (ts, event_id) tie-break), '>'-joined, ranked by session count
    with a path tie-break — the "how do journeys start" verb that
    funnels (q204) and the transition matrix (q206) don't answer.

    Scale shape: sessionization is two user-partitioned window
    passes; the path string is a ROW-LOCAL sort_array+slice of the
    per-session collected triples (sessions are gap-bounded, not
    data-sized); the path rollup is bounded by |event types|³ and the
    final top-k is a TakeOrdered over that bounded relation."""
    from pyspark.sql.window import Window as W

    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type")
    uw = W.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    new_sess = F.when(
        (us - F.lag(us).over(uw) >= 1800 * 1000 * 1000) | F.lag("ts").over(uw).isNull(),
        1,
    ).otherwise(0)
    s = ev.withColumn("new_sess", new_sess).withColumn(
        "sess_id",
        F.sum("new_sess").over(uw.rowsBetween(W.unboundedPreceding, W.currentRow)),
    )
    paths = s.groupBy("user_id", "sess_id").agg(
        F.array_join(
            F.slice(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                F.unix_micros("ts").alias("us"),
                                F.col("event_id").alias("eid"),
                                F.col("event_type").alias("et"),
                            )
                        )
                    ),
                    lambda x: x.et,
                ),
                1,
                3,
            ),
            ">",
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).cast("long").alias("n_sessions"))
        .orderBy(F.desc("n_sessions"), "path")
        .limit(_PATH_K)
    )


# --------------------------------------------------------------------------
# q223 — Kaplan-Meier time-to-first-purchase survival curve
# --------------------------------------------------------------------------
@query(
    "q223_km_survival",
    oracle="""
    WITH u AS (
        SELECT user_id,
               MIN(epoch_us(ts)) AS t0,
               MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS tp
        FROM events GROUP BY 1
    ),
    mx AS (SELECT MAX(epoch_us(ts)) AS tmax FROM events),
    d AS (
        SELECT CAST((COALESCE(u.tp, mx.tmax) - u.t0) // 86400000000 AS BIGINT) AS day,
               CASE WHEN u.tp IS NOT NULL THEN 1 ELSE 0 END AS ev
        FROM u, mx
    ),
    r AS (
        SELECT day,
               CAST(SUM(ev) AS BIGINT) AS d_t,
               CAST(COUNT(*) - SUM(ev) AS BIGINT) AS c_t
        FROM d GROUP BY 1
    ),
    n AS (SELECT CAST(SUM(d_t + c_t) AS DOUBLE) AS total FROM r),
    risk AS (
        SELECT day, d_t, c_t,
               n.total - COALESCE(SUM(d_t + c_t) OVER (ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_risk
        FROM r, n
    ),
    -- a day whose events exhaust the risk set (d_t = n_risk) can only
    -- be the final row; dropping it before the cumulative keeps ln(0)
    -- out of the fold without changing any earlier term
    k AS (
        SELECT day, d_t, c_t, n_risk,
               SUM(ln(1.0 - d_t / n_risk)) OVER (ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ln_s
        FROM risk WHERE d_t < n_risk OR d_t = 0
    )
    SELECT day, CAST(n_risk AS BIGINT) AS n_risk, d_t, c_t,
           ROUND(exp(ln_s), 6) AS survival
    FROM k WHERE d_t > 0
    ORDER BY day
    """,
)
def q223_km_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve for time-to-first-purchase, in
    days since each user's first event; users who never purchase are
    right-censored at the global observation end — the
    retention-statistics verb behind "how long until activation?".
    One row per day WITH events: n at risk, events, censored, S(t) =
    Π(1 − d/n) computed as exp(Σ ln(·)) so both engines multiply in
    the same order-free way. Days where the events would exhaust the
    risk set (S hits exactly 0, ln(0) domain edge) are excluded on
    both sides — the curve is reported strictly above zero.

    Scale shape: the per-user fold is one keyed rollup; everything
    after operates on the day-bounded duration relation
    (observation-span rows — GLOBAL_WINDOW_ALLOWED precedent) with
    the user total as a 1-row broadcast scalar (BNLJ_ALLOWED)."""
    from pyspark.sql.window import Window as W

    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    us = F.unix_micros(F.col("ts"))
    u = ev.groupBy("user_id").agg(
        F.min(us).alias("t0"),
        F.min(F.when(F.col("event_type") == "purchase", us)).alias("tp"),
    )
    mx = ev.agg(F.max(us).alias("tmax"))
    d = u.crossJoin(F.broadcast(mx)).select(
        F.expr("CAST((COALESCE(tp, tmax) - t0) DIV 86400000000 AS BIGINT)").alias(
            "day"
        ),
        F.when(F.col("tp").isNotNull(), 1).otherwise(0).alias("ev"),
    )
    r = (
        d.groupBy("day")
        .agg(
            F.sum("ev").cast("long").alias("d_t"),
            (F.count(F.lit(1)) - F.sum("ev")).cast("long").alias("c_t"),
        )
        .localCheckpoint(eager=False)  # feeds the total scalar AND the curve
    )
    n = r.agg(F.sum(F.col("d_t") + F.col("c_t")).cast("double").alias("total"))
    ow = W.orderBy("day")
    prior = F.coalesce(
        F.sum(F.col("d_t") + F.col("c_t")).over(
            ow.rowsBetween(W.unboundedPreceding, -1)
        ),
        F.lit(0),
    )
    risk = r.crossJoin(F.broadcast(n)).select(
        "day", "d_t", "c_t", (F.col("total") - prior).alias("n_risk")
    )
    # a day whose events exhaust the risk set (d_t = n_risk) can only
    # be the final row; dropping it before the cumulative keeps ln(0)
    # out of the fold without changing any earlier term
    k = risk.where((F.col("d_t") < F.col("n_risk")) | (F.col("d_t") == 0)).select(
        "day",
        "d_t",
        "c_t",
        "n_risk",
        F.sum(F.log(1.0 - F.col("d_t") / F.col("n_risk")))
        .over(ow.rowsBetween(W.unboundedPreceding, W.currentRow))
        .alias("ln_s"),
    )
    return (
        k.where(F.col("d_t") > 0)
        .select(
            "day",
            F.col("n_risk").cast("long").alias("n_risk"),
            "d_t",
            "c_t",
            F.round(F.exp("ln_s"), 6).alias("survival"),
        )
        .orderBy("day")
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
# q225 — audio silence-span detection (multimodal VAD segmentation)
# --------------------------------------------------------------------------
# Rows-only by design: WAV synthesis + PCM decode + frame RMS run in
# Arrow mapInPandas (not SQL-expressible); the hard checks are
# tests/test_round7_ops.py's planted-span goldens (ids % 5 == 0 carry
# exactly frames 5-6 and 15-17 silent; loud ids emit nothing).
@query("q225_audio_silence")
def q225_audio_silence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal audio segmentation: deterministic synthetic 16-bit
    PCM WAV corpus (every 5th id carries two planted silent spans —
    the fixture media this sandbox lacks), REAL RIFF/PCM decode →
    per-160-sample-frame RMS → merged sub-threshold spans, with the
    planted-truth agreement as the self-audit column. The VAD-style
    segmentation an audio training pipeline runs before chunking;
    plumbing (schema, Arrow batching, row-local spans) is the real
    100 TB shape."""
    from tp_integ_data_pipeline_spark.operators.multimodal import (
        audio_silence_spans,
        synth_wav_payload,
    )

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    payloads = synth_wav_payload(docs, "doc_id")
    spans = audio_silence_spans(payloads, "doc_id")
    return spans.select(
        "doc_id",
        "start_frame",
        "end_frame",
        "n_frames",
        (F.col("doc_id") % 5 == 0).alias("planted"),
    ).orderBy("doc_id", "start_frame")


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
    words = F.split(F.col("text"), " ")
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
# q227 — trailing 7-day p95 of daily event counts per type (SLA curve)
# --------------------------------------------------------------------------
@query(
    "q227_trailing_p95",
    oracle="""
    WITH d AS (
        SELECT event_type,
               (epoch_us(ts) - epoch_us(TIMESTAMP '2024-01-01 00:00:00'))
                   // 86400000000 AS day,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2
    ),
    w AS (
        SELECT event_type, day, n,
               list_sort(LIST(n) OVER (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)) AS win
        FROM d
    )
    SELECT event_type, CAST(day AS BIGINT) AS day, n,
           CAST(win[(95 * len(win) + 99) // 100] AS BIGINT) AS p95_7d
    FROM w
    ORDER BY event_type, day
    """,
)
def q227_trailing_p95(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day p95 of the daily event count, per event type —
    the rolling SLA/anomaly-threshold curve. The frame holds ≤ 7
    values, so the percentile is EXACT and engine-portable: collect
    the frame, sort it row-locally, index at the q169 integer rank
    ceil(0.95·n) — no percentile aggregate, no interpolation drift,
    and warm-up days (n < 7) use the same rule over what exists.

    Scale shape: the (type, day) rollup is map-side combinable and
    calendar-bounded; the window is TYPE-partitioned over those
    day rows; the frame sort is over ≤ 7 elements per row."""
    from pyspark.sql.window import Window as W

    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.expr(
            "CAST((unix_micros(ts) - unix_micros(TIMESTAMP '2024-01-01 00:00:00'))"
            " DIV 86400000000 AS BIGINT)"
        ).alias("day"),
    )
    d = ev.groupBy("event_type", "day").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    tw = W.partitionBy("event_type").orderBy("day").rowsBetween(-6, W.currentRow)
    win = F.array_sort(F.collect_list("n").over(tw))
    return d.select(
        "event_type",
        "day",
        "n",
        F.element_at(win, ((F.lit(95) * F.size(win) + 99) / 100).cast("int"))
        .cast("long")
        .alias("p95_7d"),
    ).orderBy("event_type", "day")


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


# --------------------------------------------------------------------------
# q229 — seasonal decomposition of the daily series (trend + DOW + resid)
# --------------------------------------------------------------------------
@query(
    "q229_seasonal_decompose",
    oracle="""
    WITH d AS (
        SELECT (epoch_us(ts) - epoch_us(TIMESTAMP '2024-01-01 00:00:00'))
                   // 86400000000 AS day,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY 1
    ),
    tr AS (
        SELECT day, n,
               AVG(CAST(n AS DOUBLE)) OVER (ORDER BY day
                   ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS trend,
               day % 7 AS dow
        FROM d
    ),
    eff AS (SELECT dow, AVG(n - trend) AS e_raw FROM tr GROUP BY 1),
    ctr AS (SELECT AVG(e_raw) AS bias FROM eff)
    SELECT tr.day, tr.n,
           ROUND(tr.trend, 6) AS trend,
           CAST(tr.dow AS INT) AS dow,
           ROUND(eff.e_raw - ctr.bias, 6) + 0 AS dow_effect,
           ROUND(tr.n - tr.trend - (eff.e_raw - ctr.bias), 6) + 0 AS residual
    FROM tr JOIN eff USING (dow) CROSS JOIN ctr
    ORDER BY tr.day
    """,
)
def q229_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical seasonal decomposition of the daily event-count
    series: trend = 7-day CENTERED moving average, day-of-week effect
    = mean detrended value per weekday CENTERED to sum ~0 (so trend
    keeps the level), residual = the rest — the STL-lite anomaly
    baseline ("is Monday low, or is something broken?").

    Scale shape: the day rollup is map-side combinable and
    calendar-bounded; the centered MA window, the 7-row DOW rollup,
    its centering scalar, and the final joins all operate on that
    day-bounded relation (GLOBAL_WINDOW_ALLOWED precedent;
    BNLJ_ALLOWED scalar)."""
    from pyspark.sql.window import Window as W

    ev = load_table(spark, sf_dir, "events").select(
        F.expr(
            "CAST((unix_micros(ts) - unix_micros(TIMESTAMP '2024-01-01 00:00:00'))"
            " DIV 86400000000 AS BIGINT)"
        ).alias("day")
    )
    d = ev.groupBy("day").agg(F.count(F.lit(1)).cast("long").alias("n"))
    tr = d.select(
        "day",
        "n",
        F.avg(F.col("n").cast("double"))
        .over(W.orderBy("day").rowsBetween(-3, 3))
        .alias("trend"),
        (F.col("day") % 7).cast("int").alias("dow"),
    ).localCheckpoint(eager=False)  # feeds the DOW rollup AND the output
    eff = tr.groupBy("dow").agg(F.avg(F.col("n") - F.col("trend")).alias("e_raw"))
    ctr = eff.agg(F.avg("e_raw").alias("bias"))
    e = F.col("e_raw") - F.col("bias")
    return (
        tr.join(eff, "dow")
        .crossJoin(F.broadcast(ctr))
        .select(
            "day",
            "n",
            F.round("trend", 6).alias("trend"),
            "dow",
            (F.round(e, 6) + 0).alias("dow_effect"),
            (F.round(F.col("n") - F.col("trend") - e, 6) + 0).alias("residual"),
        )
        .orderBy("day")
    )


# --------------------------------------------------------------------------
# q230 — difference-in-differences experiment readout
# --------------------------------------------------------------------------
_DID_SPLIT = "2024-01-16 00:00:00"


@query(
    "q230_diff_in_diff",
    oracle=f"""
    WITH cell AS (
        SELECT CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS arm,
               CASE WHEN ts < TIMESTAMP '{_DID_SPLIT}' THEN 'pre' ELSE 'post' END
                   AS period,
               CAST(COUNT(*) AS BIGINT) AS n,
               AVG(value) AS m_raw
        FROM events GROUP BY 1, 2
    ),
    s AS (
        SELECT MAX(CASE WHEN arm = 'A' AND period = 'pre' THEN m_raw END) AS a0,
               MAX(CASE WHEN arm = 'A' AND period = 'post' THEN m_raw END) AS a1,
               MAX(CASE WHEN arm = 'B' AND period = 'pre' THEN m_raw END) AS b0,
               MAX(CASE WHEN arm = 'B' AND period = 'post' THEN m_raw END) AS b1
        FROM cell
    ),
    d AS (SELECT ROUND((b1 - b0) - (a1 - a0), 6) + 0 AS did FROM s)
    SELECT cell.arm, cell.period, cell.n,
           ROUND(cell.m_raw, 6) AS avg_value,
           d.did
    FROM cell, d
    ORDER BY cell.arm, cell.period
    """,
)
def q230_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences readout: arms by the q208 parity
    assignment, periods split at the q170 boundary; the DiD estimate
    (B_post − B_pre) − (A_post − A_pre) removes the shared time trend
    a naive post-only comparison conflates with the treatment — the
    panel-experimentation verb alongside q208's z-test and q214's
    jackknife.

    Scale shape: ONE map-side-combinable (arm, period) rollup to 4
    rows; the pivot and the DiD scalar live on that 4-row relation
    (BNLJ_ALLOWED scalar)."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "value")
    cell = (
        ev.select(
            F.when(F.col("user_id") % 2 == 0, "A").otherwise("B").alias("arm"),
            F.when(F.col("ts") < F.lit(_DID_SPLIT).cast("timestamp"), "pre")
            .otherwise("post")
            .alias("period"),
            "value",
        )
        .groupBy("arm", "period")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.avg("value").alias("m_raw"),
        )
        .localCheckpoint(eager=False)  # feeds the pivot scalar AND the output
    )

    def pick(arm: str, period: str):
        return F.max(
            F.when(
                (F.col("arm") == arm) & (F.col("period") == period), F.col("m_raw")
            )
        )

    s = cell.agg(
        pick("A", "pre").alias("a0"),
        pick("A", "post").alias("a1"),
        pick("B", "pre").alias("b0"),
        pick("B", "post").alias("b1"),
    )
    d = s.select(
        (
            F.round(
                (F.col("b1") - F.col("b0")) - (F.col("a1") - F.col("a0")), 6
            )
            + 0
        ).alias("did")
    )
    return (
        cell.crossJoin(F.broadcast(d))
        .select(
            "arm",
            "period",
            "n",
            F.round("m_raw", 6).alias("avg_value"),
            "did",
        )
        .orderBy("arm", "period")
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
        F.size(F.split(F.col("text"), " ")).cast("long").alias("tok")
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


# --------------------------------------------------------------------------
# q233 — sample-ratio-mismatch (SRM) guardrail
# --------------------------------------------------------------------------
@query(
    "q233_srm_check",
    oracle="""
    WITH a AS (
        SELECT CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS arm,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n
        FROM events GROUP BY 1
    ),
    -- df=1 goodness-of-fit against 50/50 collapses to (nA-nB)^2/total
    s AS (
        SELECT CAST(SUM(n) AS BIGINT) AS total,
               ROUND(
                   CAST(SUM(CASE WHEN arm = 'A' THEN n ELSE -n END) AS DOUBLE)
                   * SUM(CASE WHEN arm = 'A' THEN n ELSE -n END) / SUM(n),
                   6
               ) AS chi2
        FROM a
    )
    SELECT a.arm, a.n,
           ROUND(CAST(a.n AS DOUBLE) / s.total, 6) AS share,
           s.chi2,
           CAST(s.chi2 > 3.841459 AS INT) AS srm_flag
    FROM a, s
    ORDER BY a.arm
    """,
)
def q233_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch guardrail: chi-squared goodness-of-fit of
    the realized arm sizes against the designed 50/50 split (df=1,
    flag at the 0.05 critical value 3.841459) — the sanity gate run
    BEFORE reading q208's z-test or q230's DiD, because a broken
    randomizer invalidates both. For two cells vs an equal split the
    statistic collapses to (nA − nB)²/total, computed in one pass.

    Scale shape: one per-user distinct + 2-row arm rollup; the
    chi2/flag scalar attaches to those 2 rows (BNLJ_ALLOWED)."""
    ev = load_table(spark, sf_dir, "events").select("user_id")
    a = (
        ev.distinct()
        .select(F.when(F.col("user_id") % 2 == 0, "A").otherwise("B").alias("arm"))
        .groupBy("arm")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .localCheckpoint(eager=False)  # feeds the chi2 scalar AND the output
    )
    signed = F.sum(
        F.when(F.col("arm") == "A", F.col("n")).otherwise(-F.col("n"))
    )
    s = a.agg(
        F.sum("n").cast("long").alias("total"),
        F.round(signed.cast("double") * signed / F.sum("n"), 6).alias("chi2"),
    ).select(
        "total",
        "chi2",
        (F.col("chi2") > 3.841459).cast("int").alias("srm_flag"),
    )
    return (
        a.crossJoin(F.broadcast(s))
        .select(
            "arm",
            "n",
            F.round(F.col("n").cast("double") / F.col("total"), 6).alias("share"),
            "chi2",
            "srm_flag",
        )
        .orderBy("arm")
    )


# --------------------------------------------------------------------------
# q234 — cross-table total reconciliation audit
# --------------------------------------------------------------------------
@query(
    "q234_reconciliation",
    oracle="""
    WITH derived AS (
        SELECT l_orderkey AS ok,
               SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                   * (1 - CAST(l_discount AS DECIMAL(18,2)))
                   * (1 + CAST(l_tax AS DECIMAL(18,2)))) AS calc
        FROM lineitem GROUP BY 1
    )
    SELECT o.o_orderkey,
           ROUND(CAST(o.o_totalprice AS DOUBLE), 6) AS stated,
           ROUND(CAST(d.calc AS DOUBLE), 6) AS derived,
           ROUND(CAST(d.calc AS DOUBLE) - o.o_totalprice, 6) + 0 AS delta
    FROM orders o JOIN derived d ON d.ok = o.o_orderkey
    ORDER BY ABS(ROUND(CAST(d.calc AS DOUBLE) - o.o_totalprice, 6)) DESC,
             o.o_orderkey
    LIMIT 20
    """,
)
def q234_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table reconciliation: recompute each order's total from
    its line items (extendedprice·(1−disc)·(1+tax), summed in EXACT
    DECIMAL so partial-agg order can't drift) and report the 20 worst
    |stated − derived| discrepancies — the financial-close /
    invariant-violation audit that q202's referential checks (keys
    exist) and q75's column rules (values in range) don't cover:
    whether two tables AGREE.

    Scale shape: one map-side-combinable orderkey rollup of lineitem,
    one orderkey equi-join, and a TakeOrdered(20) — no global sort
    materializes; ties on |delta| break on orderkey so top-k is
    engine-stable."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount", "l_tax"
    )
    derived = li.groupBy(F.col("l_orderkey").alias("ok")).agg(
        F.sum(
            F.col("l_extendedprice").cast("decimal(18,2)")
            * (1 - F.col("l_discount").cast("decimal(18,2)"))
            * (1 + F.col("l_tax").cast("decimal(18,2)"))
        ).alias("calc")
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    delta = F.round(F.col("calc").cast("double") - F.col("o_totalprice"), 6)
    return (
        orders.join(derived, orders.o_orderkey == F.col("ok"))
        .select(
            "o_orderkey",
            F.round(F.col("o_totalprice").cast("double"), 6).alias("stated"),
            F.round(F.col("calc").cast("double"), 6).alias("derived"),
            (delta + 0).alias("delta"),
        )
        .orderBy(F.abs(F.col("delta")).desc(), "o_orderkey")
        .limit(20)
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
            F.explode(F.split("text", " ")).alias("token"),
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
# q238 — one-row dataset card (corpus profile capstone)
# --------------------------------------------------------------------------
@query(
    "q238_dataset_card",
    oracle=f"""
    WITH b AS (
        SELECT doc_id, (i - 1) // {_LINE_W} AS pos,
               array_to_string(w[i:i+{_LINE_W - 1}], ' ') AS line
        FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
             UNNEST(range(1, greatest(len(w), 1) + 1, {_LINE_W})) AS t(i)
    ),
    lines AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n_lines,
               CAST(COUNT(DISTINCT line) AS DOUBLE) AS n_uniq
        FROM b
    ),
    d AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
               CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
               CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
               ROUND(AVG(CAST(n_chars AS DOUBLE)), 6) AS mean_chars
        FROM documents
    )
    SELECT d.n_docs, d.total_tokens, d.n_langs, d.n_sources, d.mean_chars,
           ROUND(1.0 - lines.n_uniq / lines.n_lines, 6) AS dup_line_share
    FROM d, lines
    """,
)
def q238_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row DATASET CARD: the corpus profile a data release ships
    with — doc/token/language/source counts, mean length, and the
    duplicate-line share (1 − distinct/total over q180's 6-word line
    unit, the Falcon-style dedup headroom number). Composes the
    engine's existing segmentation into the single summary artifact.

    Scale shape: one scan feeds a global rollup (count-distincts are
    the only shuffles, each key-bounded); the line relation is the
    row-local segment_blocks explode with one distinct rollup; the
    two 1-row summaries cross-join (BNLJ_ALLOWED)."""
    docs = load_table(spark, sf_dir, "documents")
    d = docs.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).cast("long").alias("total_tokens"),
        F.countDistinct("lang").cast("long").alias("n_langs"),
        F.countDistinct("source").cast("long").alias("n_sources"),
        F.round(F.avg(F.col("n_chars").cast("double")), 6).alias("mean_chars"),
    )
    blocks = segment_blocks(docs.select("doc_id", "text"), _LINE_W)
    lines = blocks.agg(
        F.count(F.lit(1)).cast("double").alias("n_lines"),
        F.countDistinct("line").cast("double").alias("n_uniq"),
    )
    return d.crossJoin(F.broadcast(lines)).select(
        "n_docs",
        "total_tokens",
        "n_langs",
        "n_sources",
        "mean_chars",
        F.round(1.0 - F.col("n_uniq") / F.col("n_lines"), 6).alias("dup_line_share"),
    )


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


def _bigrams_expr(words_col: str) -> F.Column:
    """Adjacent-word bigram array ("w1 w2" strings) from a word array.

    Guarded so single-token (or empty) docs yield an EMPTY array: an
    unguarded sequence(1, size(w) - 1) DESCENDS ([1, 0]) when
    size(w) = 1 — Spark's sequence counts down when start > stop — and
    emits two NULL bigrams from out-of-range element reads (r7 ADVICE;
    regression: tests/test_round7_ops.py::test_bigrams_expr_guard)."""
    return F.expr(
        f"CASE WHEN size({words_col}) >= 2 THEN "
        f"transform(sequence(1, size({words_col}) - 1), "
        f"i -> concat({words_col}[i - 1], ' ', {words_col}[i])) "
        "ELSE array() END"
    )


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
        F.col("doc_id").alias("id"), F.split("text", " ").alias("w")
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
            F.explode(_bigrams_expr("w")).alias("g"),
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


# --------------------------------------------------------------------------
# q240 — mutual information between two categorical columns
# --------------------------------------------------------------------------
@query(
    "q240_mutual_information",
    oracle="""
    WITH c AS (
        SELECT lang, source, CAST(COUNT(*) AS DOUBLE) AS n
        FROM documents GROUP BY 1, 2
    ),
    t AS (SELECT SUM(n) AS total FROM c),
    ma AS (SELECT lang, SUM(n) AS na FROM c GROUP BY 1),
    mb AS (SELECT source, SUM(n) AS nb FROM c GROUP BY 1),
    mi AS (
        SELECT SUM(c.n / t.total
                   * ln(c.n * t.total / (ma.na * mb.nb))) AS mi_raw,
               -SUM(c.n / t.total * ln(c.n / t.total)) AS h_joint
        FROM c JOIN ma USING (lang) JOIN mb USING (source) CROSS JOIN t
    )
    SELECT ROUND(mi.mi_raw, 6) + 0 AS mi_nats,
           ROUND(mi.h_joint, 6) AS h_joint,
           ROUND(mi.mi_raw / NULLIF(mi.h_joint, 0.0), 6) + 0 AS nmi
    FROM mi
    """,
)
def q240_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information I(lang; source) in nats, with the joint
    entropy and the normalized MI (I / H_joint) — the
    information-theoretic association measure alongside q213's
    chi-squared (MI weighs by probability mass, so rare-cell noise
    that inflates chi2 barely moves it; together they complete the
    categorical-dependence audit). Unobserved cells contribute
    exactly 0 to both sums (lim p→0 of p·ln(...) = 0), so only the
    observed contingency cells are needed.

    Scale shape: one map-side-combinable (lang, source) rollup to
    bounded cells; marginals are rollups OF that relation; the total
    and the final fold are 1-row scalars (BNLJ_ALLOWED)."""
    docs = load_table(spark, sf_dir, "documents").select("lang", "source")
    c = (
        docs.groupBy("lang", "source")
        .agg(F.count(F.lit(1)).cast("double").alias("n"))
        .localCheckpoint(eager=False)  # feeds marginals, total, the fold
    )
    t = c.agg(F.sum("n").alias("total"))
    ma = c.groupBy("lang").agg(F.sum("n").alias("na"))
    mb = c.groupBy("source").agg(F.sum("n").alias("nb"))
    p = F.col("n") / F.col("total")
    mi = (
        c.join(ma, "lang")
        .join(mb, "source")
        .crossJoin(F.broadcast(t))
        .agg(
            F.sum(
                p * F.log(F.col("n") * F.col("total") / (F.col("na") * F.col("nb")))
            ).alias("mi_raw"),
            (-F.sum(p * F.log(p))).alias("h_joint"),
        )
    )
    return mi.select(
        (F.round("mi_raw", 6) + 0).alias("mi_nats"),
        F.round("h_joint", 6).alias("h_joint"),
        (
            F.round(F.col("mi_raw") / F.nullif(F.col("h_joint"), F.lit(0.0)), 6) + 0
        ).alias("nmi"),
    )
