"""Corpus-refresh family (q248–q271): the reference's operating mode —
a periodic re-run that admits only unseen rows (main.py:80–114) — as
lazy plans over ONE per-doc admission funnel, ``operators/admission.admission_core``.

Four query groups share that funnel:

- **one-shot funnel** (q248–q254): the whole corpus graded with no
  standing corpus (6 stages: bench_holdout, exact_dup, too_short,
  low_quality, contaminated, kept), rolled up into loss waterfalls,
  per-doc drop attribution, verdict overlap, marginal attribution, a
  threshold sweep and a drift monitor — the per-step progress the
  reference narrates imperatively (transf.py:29-34);
- **single refresh** (q255–q260): yesterday's corpus is the funnel-kept
  existing half (doc_id < max div 2); the arriving half is graded
  against it (7 stages: dup_vs_corpus joins the ladder) and feeds the
  mixture rebalance, carried-offset packing, the batch waterfall, the
  carry row refresh N+1 consumes, and the retroactive-contamination
  sweep the grown suite forces;
- **streamed refresh** (q261–q266): the same arrival drained as K=4
  doc_id-ordered micro-batches through streaming/refresh.py, which
  calls the same funnel per batch with the earlier batches' texts, so every
  verdict and packing slot equals the one-shot plan's;
- **chained refresh** (q267–q271): refresh N+1 consuming refresh N's
  emitted corpus, suite and carry row (m = max div 2, m2 = 3*(max
  div 4)) — the induction step of the periodic re-run.

Scale shape at 100 TB: each admission is one text-keyed window, one
text-keyed equi-join against the standing corpus (the irreducible
dedup shuffle), and one broadcast semi-join against the benchmark
grams, whose suite size is guarded in-plan (admission.suite_grams).
Reports are rollups to ≤ stages × groups rows with at most 1-row
scalar attaches (BNLJ_ALLOWED); packing is the distributed prefix sum
plus ONE carried integer folded in as a lazy 1-row broadcast. Each
shared relation is session-cached and lazily checkpointed.

Oracle strategy: every verdict is deterministic relational logic, so
DuckDB replays each group from its own CTE text (_FUNNEL_SQL,
_REFRESH_SQL, _CHAIN_SQL) — an independent reference, written apart
from the Spark funnel on purpose. Every query is a full hash check.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from tp_integ_data_pipeline_spark.operators.admission import (
    ADMISSION_STAGES,
    ADMIT_IDX,
    FUNNEL_STAGES,
    KEPT_IDX,
    MEAN_WORDLEN_HI,
    MEAN_WORDLEN_LO,
    MIN_DISTINCT_RATIO,
    MIN_WORDS,
    PACK_BUDGET,
    admission_core,
    bounded_bench_grams,
    doc_grams,
    suite_grams,
)
from tp_integ_data_pipeline_spark.operators.text import tokens
from tp_integ_data_pipeline_spark.plans.registry import query
from tp_integ_data_pipeline_spark.plans.session_cache import session_cached
from tp_integ_data_pipeline_spark.sources.fixtures import load_table
from tp_integ_data_pipeline_spark.streaming.refresh import stream_refresh_admission

# the documents columns every batch funnel reads
_DOC_COLS = ("doc_id", "source", "lang", "n_chars", "text")
_THRESHOLDS = [5, 10, 20, 40, 80]  # q253's candidate min-word gates
_N_BATCHES = 4  # micro-batches of the streamed refresh

_STAGE_LIST_SQL = "[" + ", ".join(f"'{s}'" for s in FUNNEL_STAGES) + "]"
_R_STAGE_LIST_SQL = "[" + ", ".join(f"'{s}'" for s in ADMISSION_STAGES) + "]"
_GRAMS_SQL = (
    "[array_to_string(w[i:i+7], ' ') for i in range(1, greatest(len(w) - 6, 1))]"
)


def _stage_name(stages: list[str]) -> F.Column:
    """The stage name of ``stage_idx`` from a stage ladder."""
    return F.element_at(F.array(*[F.lit(s) for s in stages]), F.col("stage_idx"))


def _stage_dim(n: int) -> F.Column:
    """1..n as a literal array — exploded off a totals row, it densifies
    a stage-keyed report row-locally, with no join node against data."""
    return F.array(*[F.lit(i) for i in range(1, n + 1)])


# DuckDB twin of the constant stage dimension.
_STAGE_DIM_SQL = (
    "SELECT CAST(unnest(generate_series(1, "
    f"{KEPT_IDX})) AS INTEGER) AS stage_idx"
)

# Shared DuckDB CTE: the full per-doc verdict relation of the one-shot
# funnel. Every q248–q254 oracle starts WITH this.
_FUNNEL_SQL = f"""
    fw AS (
        SELECT doc_id, source, lang, n_chars, text,
               string_split(text, ' ') AS w,
               (doc_id % 97 = 0) AS is_bench
        FROM documents
    ),
    fbench AS (
        SELECT DISTINCT unnest({_GRAMS_SQL}) AS gram
        FROM fw WHERE is_bench
    ),
    fhits AS (
        SELECT DISTINCT g.doc_id
        FROM (SELECT doc_id, unnest(list_distinct({_GRAMS_SQL})) AS gram
              FROM fw WHERE NOT is_bench) g
        JOIN fbench USING (gram)
    ),
    fverd AS (
        SELECT f.doc_id, f.source, f.lang, f.n_chars,
               CAST(len(f.w) AS INTEGER) AS n_words,
               FALSE AS is_bench,
               ROW_NUMBER() OVER (PARTITION BY f.text ORDER BY f.doc_id) > 1
                   AS is_dup,
               len(f.w) < {MIN_WORDS} AS too_short,
               NOT ((list_sum(list_transform(f.w, x -> len(x))) * 1.0 / len(f.w))
                        BETWEEN {MEAN_WORDLEN_LO} AND {MEAN_WORDLEN_HI}
                    AND (len(list_distinct(f.w)) * 1.0 / len(f.w)) >= {MIN_DISTINCT_RATIO})
                   AS low_quality,
               (f.doc_id IN (SELECT doc_id FROM fhits)) AS contaminated
        FROM fw f WHERE NOT f.is_bench
    ),
    funnel AS (
        SELECT *,
               CASE WHEN is_dup THEN 2 WHEN too_short THEN 3
                    WHEN low_quality THEN 4 WHEN contaminated THEN 5
                    ELSE 6 END AS stage_idx
        FROM fverd
        UNION ALL
        SELECT doc_id, source, lang, n_chars,
               CAST(len(w) AS INTEGER) AS n_words,
               TRUE, FALSE, FALSE, FALSE, FALSE, 1
        FROM fw WHERE is_bench
    )
"""

# Quality clause of the refresh CTEs (q94's band rules).
_QUALITY_OK_SQL = f"""((list_sum(list_transform({{w}}, x -> len(x))) * 1.0 / len({{w}}))
                        BETWEEN {MEAN_WORDLEN_LO} AND {MEAN_WORDLEN_HI}
                    AND (len(list_distinct({{w}})) * 1.0 / len({{w}})) >= {MIN_DISTINCT_RATIO})"""

# Shared DuckDB CTE: the existing-kept corpus + the new-batch admission
# relation. Every single- and streamed-refresh oracle starts WITH this.
_REFRESH_SQL = f"""
    rw AS (
        SELECT doc_id, source, lang, n_chars, text,
               string_split(text, ' ') AS w,
               (doc_id % 97 = 0) AS is_bench
        FROM documents
    ),
    rmid AS (SELECT MAX(doc_id) // 2 AS m FROM documents),
    rbg_old AS (
        SELECT DISTINCT unnest({_GRAMS_SQL}) AS gram
        FROM rw, rmid WHERE is_bench AND doc_id < m
    ),
    rbg_all AS (
        SELECT DISTINCT unnest({_GRAMS_SQL}) AS gram FROM rw WHERE is_bench
    ),
    rex AS (SELECT rw.* FROM rw, rmid WHERE doc_id < m AND NOT is_bench),
    rex_hits AS (
        SELECT DISTINCT g.doc_id
        FROM (SELECT doc_id, unnest(list_distinct({_GRAMS_SQL})) AS gram
              FROM rex) g
        JOIN rbg_old USING (gram)
    ),
    rkept AS (
        SELECT doc_id, source, text, CAST(len(w) AS INTEGER) AS n_words
        FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id)
                       AS rn
            FROM rex
        )
        WHERE rn = 1 AND len(w) >= {MIN_WORDS}
          AND {_QUALITY_OK_SQL.format(w="w")}
          AND doc_id NOT IN (SELECT doc_id FROM rex_hits)
    ),
    rnb AS (SELECT rw.* FROM rw, rmid WHERE doc_id >= m AND NOT is_bench),
    rnb_hits AS (
        SELECT DISTINCT g.doc_id
        FROM (SELECT doc_id, unnest(list_distinct({_GRAMS_SQL})) AS gram
              FROM rnb) g
        JOIN rbg_all USING (gram)
    ),
    rnv AS (
        SELECT doc_id, source, lang, n_chars,
               CAST(len(w) AS INTEGER) AS n_words,
               FALSE AS is_bench,
               ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id) > 1
                   AS dup_batch,
               text IN (SELECT text FROM rkept) AS dup_corpus,
               len(w) < {MIN_WORDS} AS too_short,
               NOT {_QUALITY_OK_SQL.format(w="w")} AS low_quality,
               (doc_id IN (SELECT doc_id FROM rnb_hits)) AS contaminated
        FROM rnb
    ),
    radm AS (
        SELECT *,
               CASE WHEN dup_batch THEN 2 WHEN dup_corpus THEN 3
                    WHEN too_short THEN 4 WHEN low_quality THEN 5
                    WHEN contaminated THEN 6 ELSE {ADMIT_IDX} END AS stage_idx
        FROM rnv
        UNION ALL
        SELECT doc_id, source, lang, n_chars,
               CAST(len(w) AS INTEGER) AS n_words,
               TRUE, FALSE, FALSE, FALSE, FALSE, FALSE, 1
        FROM rw, rmid WHERE doc_id >= m AND is_bench
    )
"""

# Deterministic replay of the streamed batch assignment: contiguous
# equal-count split over doc_id order — the same ((rn-1)*K) div n + 1
# expression streaming/refresh.py's split_arrival stages with.
_RBATCH_SQL = f"""
    rbatch AS (
        SELECT doc_id,
               CAST((ROW_NUMBER() OVER (ORDER BY doc_id) - 1)
                    * {_N_BATCHES} // (COUNT(*) OVER ()) AS INTEGER) + 1
                   AS batch_id
        FROM rw, rmid WHERE doc_id >= m
    )
"""

# One-shot DuckDB replay of BOTH chained refreshes, appended to
# _REFRESH_SQL (which supplies rw/rmid/rbg_all/rkept).
_CHAIN_SQL = f"""
    cm2 AS (SELECT 3 * (MAX(doc_id) // 4) AS m2 FROM documents),
    ca1 AS (
        SELECT rw.* FROM rw, rmid, cm2
        WHERE doc_id >= m AND doc_id < m2 AND NOT is_bench
    ),
    cbg1 AS (
        SELECT DISTINCT unnest({_GRAMS_SQL}) AS gram
        FROM rw, cm2 WHERE is_bench AND doc_id < m2
    ),
    ca1_hits AS (
        SELECT DISTINCT g.doc_id
        FROM (SELECT doc_id, unnest(list_distinct({_GRAMS_SQL})) AS gram
              FROM ca1) g
        JOIN cbg1 USING (gram)
    ),
    cv1 AS (
        SELECT doc_id, source, text,
               CAST(len(w) AS INTEGER) AS n_words,
               FALSE AS is_bench,
               ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id) > 1
                   AS dup_batch,
               text IN (SELECT text FROM rkept) AS dup_corpus,
               len(w) < {MIN_WORDS} AS too_short,
               NOT {_QUALITY_OK_SQL.format(w="w")} AS low_quality,
               (doc_id IN (SELECT doc_id FROM ca1_hits)) AS contaminated
        FROM ca1
    ),
    cadm1 AS (
        SELECT doc_id, source, text, n_words, is_bench, dup_batch,
               dup_corpus, too_short, low_quality, contaminated,
               CASE WHEN dup_batch THEN 2 WHEN dup_corpus THEN 3
                    WHEN too_short THEN 4 WHEN low_quality THEN 5
                    WHEN contaminated THEN 6 ELSE {ADMIT_IDX} END AS stage_idx
        FROM cv1
        UNION ALL
        SELECT doc_id, source, text, CAST(len(w) AS INTEGER), TRUE,
               FALSE, FALSE, FALSE, FALSE, FALSE, 1
        FROM rw, rmid, cm2 WHERE doc_id >= m AND doc_id < m2 AND is_bench
    ),
    ck1 AS (
        SELECT doc_id, source, text, n_words FROM rkept
        UNION ALL
        SELECT doc_id, source, text, n_words FROM cadm1
        WHERE stage_idx = {ADMIT_IDX}
    ),
    ca2 AS (SELECT rw.* FROM rw, cm2 WHERE doc_id >= m2 AND NOT is_bench),
    ca2_hits AS (
        SELECT DISTINCT g.doc_id
        FROM (SELECT doc_id, unnest(list_distinct({_GRAMS_SQL})) AS gram
              FROM ca2) g
        JOIN rbg_all USING (gram)
    ),
    cv2 AS (
        SELECT doc_id, source, text,
               CAST(len(w) AS INTEGER) AS n_words,
               FALSE AS is_bench,
               ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id) > 1
                   AS dup_batch,
               text IN (SELECT text FROM ck1) AS dup_corpus,
               len(w) < {MIN_WORDS} AS too_short,
               NOT {_QUALITY_OK_SQL.format(w="w")} AS low_quality,
               (doc_id IN (SELECT doc_id FROM ca2_hits)) AS contaminated
        FROM ca2
    ),
    cadm2 AS (
        SELECT doc_id, source, n_words, is_bench, dup_batch, dup_corpus,
               too_short, low_quality, contaminated,
               CASE WHEN dup_batch THEN 2 WHEN dup_corpus THEN 3
                    WHEN too_short THEN 4 WHEN low_quality THEN 5
                    WHEN contaminated THEN 6 ELSE {ADMIT_IDX} END AS stage_idx
        FROM cv2
        UNION ALL
        SELECT doc_id, source, CAST(len(w) AS INTEGER), TRUE,
               FALSE, FALSE, FALSE, FALSE, FALSE, 1
        FROM rw, cm2 WHERE doc_id >= m2 AND is_bench
    ),
    cchain AS (
        SELECT 1 AS refresh_id, doc_id, source, n_words, is_bench,
               dup_batch, dup_corpus, too_short, low_quality, contaminated,
               stage_idx
        FROM cadm1
        UNION ALL
        SELECT 2, doc_id, source, n_words, is_bench, dup_batch, dup_corpus,
               too_short, low_quality, contaminated, stage_idx
        FROM cadm2
    )
"""


# --------------------------------------------------------------------------
# Shared relations: one funnel_verdicts / admission relation per group,
# session-cached and lazily checkpointed per (session, corpus)
# --------------------------------------------------------------------------
def funnel_verdicts(docs: DataFrame) -> DataFrame:
    """Per-doc verdict relation of the one-shot curation funnel:
    (doc_id, source, lang, n_chars, n_words, is_bench, is_dup,
    too_short, low_quality, contaminated, stage_idx) — admission_core
    with no standing corpus, the suite being the corpus' own bench
    slice. ``docs`` must carry (doc_id, source, lang, n_chars, text);
    exposed standalone so the 10× scale probe (bench.py) can drive it
    on a synthetic corpus."""
    docs = docs.select(*_DOC_COLS)
    bench_grams = suite_grams(docs.filter(F.col("doc_id") % 97 == 0))
    return admission_core(docs, None, bench_grams).withColumnRenamed(
        "dup_batch", "is_dup"
    )


def _funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    def build() -> DataFrame:
        return funnel_verdicts(
            load_table(spark, sf_dir, "documents")
        ).localCheckpoint(eager=False)

    return session_cached(spark, "funnel_verdicts", (sf_dir,), build)


def existing_kept(docs: DataFrame) -> DataFrame:
    """Yesterday's curated corpus: the funnel-kept docs of the EXISTING
    half (doc_id < max div 2) — funnel_verdicts applied to that half in
    isolation, so its dup window and its benchmark suite are the ones
    yesterday's run actually saw. Returns (doc_id, source, n_words,
    text); exposed standalone for the 10× scale probe (bench.py)."""
    mid = docs.agg(F.expr("max(doc_id) div 2").alias("m"))
    ex = (
        docs.crossJoin(F.broadcast(mid))
        .filter(F.col("doc_id") < F.col("m"))
        .drop("m")
    )
    kept = funnel_verdicts(ex).filter(
        F.col("stage_idx") == KEPT_IDX
    ).select("doc_id", "source", "n_words")
    # recover text for the dedup probe (funnel_verdicts drops it);
    # id-keyed equi-join against the half, broadcast-free by size
    return kept.join(ex.select("doc_id", "text"), "doc_id")


def _exist_kept(spark: SparkSession, sf_dir: str) -> DataFrame:
    def build() -> DataFrame:
        docs = load_table(spark, sf_dir, "documents").select(*_DOC_COLS)
        return existing_kept(docs).localCheckpoint(eager=False)

    return session_cached(spark, "refresh_exist_kept", (sf_dir,), build)


def refresh_admission_verdicts(docs: DataFrame, kept: DataFrame) -> DataFrame:
    """Per-doc admission relation for the arriving batch (doc_id >=
    max div 2): (doc_id, source, lang, n_chars, n_words, is_bench,
    dup_batch, dup_corpus, too_short, low_quality, contaminated,
    stage_idx). ``kept`` is the standing kept corpus (existing_kept's
    shape); the suite is every bench doc, old and new — the suite grows
    with the corpus."""
    docs = docs.select(*_DOC_COLS)
    mid = docs.agg(F.expr("max(doc_id) div 2").alias("m"))
    new = (
        docs.crossJoin(F.broadcast(mid))
        .filter(F.col("doc_id") >= F.col("m"))
        .drop("m")
    )
    bench_grams = suite_grams(docs.filter(F.col("doc_id") % 97 == 0))
    return admission_core(new, kept, bench_grams)


def _admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    def build() -> DataFrame:
        docs = load_table(spark, sf_dir, "documents")
        return refresh_admission_verdicts(
            docs, _exist_kept(spark, sf_dir)
        ).localCheckpoint(eager=False)

    return session_cached(spark, "refresh_admission", (sf_dir,), build)


def _stream_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streamed refresh relation: ONE micro-batch drain per
    (session, corpus), read by q261–q266."""

    def build() -> DataFrame:
        # no corpus-scan spread: the drain widens each staged batch
        # itself (refresh._spread_batch), and at local[4], sf0.1 q261
        # ran faster without it (5.2 vs 5.7 s, min of 3)
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "source", "text"
        )
        return stream_refresh_admission(
            spark,
            docs,
            _exist_kept(spark, sf_dir),
            n_batches=_N_BATCHES,
            cache_key=sf_dir,
        ).localCheckpoint(eager=False)

    return session_cached(spark, "stream_refresh", (sf_dir,), build)


def _chain_bounds(docs: DataFrame) -> DataFrame:
    """1-row (m, m2): the existing/arrival-1/arrival-2 boundaries —
    m = max div 2 (the standing q103/q254 split), m2 = 3*(max div 4)
    (the arriving half cut in two). Broadcast scalar, no driver pull."""
    return docs.agg(
        F.expr("max(doc_id) div 2").alias("m"),
        F.expr("3 * (max(doc_id) div 4)").alias("m2"),
    )


def _chain_adm1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Refresh-1 admission: the m..m2 arrival against the standing kept
    corpus, suite = bench docs visible through m2 (yesterday's suite +
    the bench docs THIS refresh delivers)."""

    def build() -> DataFrame:
        docs = load_table(spark, sf_dir, "documents").select(*_DOC_COLS)
        based = docs.crossJoin(F.broadcast(_chain_bounds(docs)))
        arr1 = based.filter(
            (F.col("doc_id") >= F.col("m")) & (F.col("doc_id") < F.col("m2"))
        ).drop("m", "m2")
        suite1 = suite_grams(
            based.filter(
                (F.col("doc_id") % 97 == 0) & (F.col("doc_id") < F.col("m2"))
            )
        )
        return admission_core(
            arr1, _exist_kept(spark, sf_dir), suite1
        ).localCheckpoint(eager=False)

    return session_cached(spark, "chain_adm1", (sf_dir,), build)


def _chain_kept1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The GROWN corpus after refresh 1: K1 = standing kept ∪ refresh-1
    admitted (texts recovered by id-keyed join). Texts stay unique by
    construction (K0 is keep-first-unique; admitted texts are
    batch-unique and not in K0), so downstream probes never fan out.
    Shape: (doc_id, source, n_words, text)."""

    def build() -> DataFrame:
        docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
        k0 = _exist_kept(spark, sf_dir).select(
            "doc_id", "source", "n_words", "text"
        )
        adm1_kept = (
            _chain_adm1(spark, sf_dir)
            .filter(F.col("stage_idx") == ADMIT_IDX)
            .select("doc_id", "source", "n_words")
            .join(docs, "doc_id")
        )
        return k0.unionByName(
            adm1_kept.select("doc_id", "source", "n_words", "text")
        ).localCheckpoint(eager=False)

    return session_cached(spark, "chain_kept1", (sf_dir,), build)


def _chain_adm2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Refresh-2 admission: the >= m2 arrival against the GROWN corpus
    K1, suite = all bench docs."""

    def build() -> DataFrame:
        docs = load_table(spark, sf_dir, "documents").select(*_DOC_COLS)
        based = docs.crossJoin(F.broadcast(_chain_bounds(docs)))
        arr2 = based.filter(F.col("doc_id") >= F.col("m2")).drop("m", "m2")
        suite2 = suite_grams(docs.filter(F.col("doc_id") % 97 == 0))
        return admission_core(
            arr2, _chain_kept1(spark, sf_dir), suite2
        ).localCheckpoint(eager=False)

    return session_cached(spark, "chain_adm2", (sf_dir,), build)


# --------------------------------------------------------------------------
# Shared reports: one definition per report, fed the one-shot, streamed
# or chained relations — with their parameterized oracle tails
# --------------------------------------------------------------------------
def _waterfall(
    rel: DataFrame, stages: list[str], total: str, pct: str
) -> DataFrame:
    """Loss waterfall over a stage-graded relation (q248, q258): per
    stage the docs/chars it dropped, the remainder after it, and the
    share of ``total``. STAGE-STABLE (r9 ADVICE): every stage appears
    even at zero drops, via the constant dimension exploded off the
    totals row. One keyed rollup to ≤ len(stages) rows; the running
    remainder is a window over that CODE-CONSTANT summary
    (GLOBAL_WINDOW_ALLOWED)."""
    last = len(stages)
    s = rel.groupBy("stage_idx").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("n_chars"),
    )
    tot = rel.agg(F.count(F.lit(1)).cast("long").alias(total))
    dim = tot.select(total, F.explode(_stage_dim(last)).alias("stage_idx"))
    n_docs = F.coalesce(F.col("n_docs"), F.lit(0)).cast("long")
    win = W.orderBy("stage_idx").rowsBetween(W.unboundedPreceding, 0)
    dropped = F.sum(
        F.when(F.col("stage_idx") < last, n_docs).otherwise(F.lit(0))
    ).over(win)
    return (
        dim.join(s, "stage_idx", "left")
        .select(
            "stage_idx",
            _stage_name(stages).alias("stage"),
            n_docs.alias("n_docs"),
            F.coalesce(F.col("n_chars"), F.lit(0)).cast("long").alias("n_chars"),
            (F.col(total) - dropped).cast("long").alias("n_remaining"),
            F.round(n_docs * F.lit(1.0) / F.col(total), 6).alias(pct),
        )
        .orderBy("stage_idx")
    )


def _mixture_report(kept, admitted) -> DataFrame:
    """q256's rebalance report over (standing kept corpus, admitted
    docs): per-source before/after counts and shares, sqrt-temperature
    target, collapsed capacity solve. ``admitted`` needs only a
    ``source`` column (one row per admitted doc) — shared by q256,
    streamed q265 and chained q270."""
    rb = kept.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_before")
    )
    ra = admitted.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_added")
    )
    r = (
        rb.join(ra, "source", "full")
        .select(
            "source",
            F.coalesce("n_before", F.lit(0)).cast("long").alias("n_before"),
            F.coalesce("n_added", F.lit(0)).cast("long").alias("n_added"),
            (
                F.coalesce("n_before", F.lit(0)) + F.coalesce("n_added", F.lit(0))
            ).cast("long").alias("n_after"),
        )
    )
    t = r.agg(
        F.sum("n_before").alias("tb"),
        F.sum("n_after").alias("ta"),
        F.sum(F.sqrt(F.col("n_after").cast("double"))).alias("z"),
        F.min("n_after").alias("mna"),
    )
    share_before = F.coalesce(
        F.col("n_before") * F.lit(1.0) / F.nullif(F.col("tb"), F.lit(0)),
        F.lit(0.0),
    )
    share_after = F.col("n_after") * F.lit(1.0) / F.col("ta")
    return (
        r.crossJoin(F.broadcast(t))
        .select(
            "source",
            "n_before",
            "n_added",
            "n_after",
            F.round(share_before, 6).alias("share_before"),
            F.round(share_after, 6).alias("share_after"),
            (F.round(share_after - share_before, 6) + F.lit(0.0)).alias(
                "share_delta"
            ),
            F.round(
                F.sqrt(F.col("n_after").cast("double")) / F.col("z"), 6
            ).alias("target_share"),
            F.round(
                F.least(
                    F.lit(1.0),
                    F.sqrt(F.col("mna") * F.lit(1.0) / F.col("n_after")),
                ),
                6,
            ).alias("keep_frac"),
        )
        .orderBy("source")
    )


def mixture_oracle_tail(before_from: str, added_from: str) -> str:
    """q256's rebalance oracle over parametric (standing corpus,
    admitted) FROM clauses — appended after a WITH chain that defines
    them; one tail for the single, streamed and chained refreshes."""
    return f"""
    rb AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_before
        FROM {before_from} GROUP BY source
    ),
    ra AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_added
        FROM {added_from} GROUP BY source
    ),
    r AS (
        SELECT COALESCE(rb.source, ra.source) AS source,
               COALESCE(n_before, 0) AS n_before,
               COALESCE(n_added, 0) AS n_added,
               COALESCE(n_before, 0) + COALESCE(n_added, 0) AS n_after
        FROM rb FULL JOIN ra ON rb.source = ra.source
    ),
    t AS (
        SELECT SUM(n_before) AS tb, SUM(n_after) AS ta,
               SUM(sqrt(CAST(n_after AS DOUBLE))) AS z,
               MIN(n_after) AS mna
        FROM r
    )
    SELECT source,
           CAST(n_before AS BIGINT) AS n_before,
           CAST(n_added AS BIGINT) AS n_added,
           CAST(n_after AS BIGINT) AS n_after,
           ROUND(COALESCE(n_before * 1.0 / NULLIF(tb, 0), 0.0), 6)
               AS share_before,
           ROUND(n_after * 1.0 / ta, 6) AS share_after,
           ROUND(n_after * 1.0 / ta
                 - COALESCE(n_before * 1.0 / NULLIF(tb, 0), 0.0), 6) + 0
               AS share_delta,
           ROUND(sqrt(CAST(n_after AS DOUBLE)) / z, 6) AS target_share,
           ROUND(LEAST(1.0, sqrt(mna * 1.0 / n_after)), 6) AS keep_frac
    FROM r, t
    ORDER BY source
    """


def _carry_report_from_scalars(k: DataFrame, adm: DataFrame) -> DataFrame:
    """The carry-state row from an EXPLICIT 1-row "standing corpus"
    scalar relation (n_kept_before, tokens_before) + the admission
    relation — the seam that lets refresh N+1 derive its "before"
    fields from refresh N's EMITTED carry row instead of re-scanning
    refresh N (q269). Two 1-row rollups joined (one scalar attach,
    BNLJ_ALLOWED); all-integer output."""
    is_adm = F.col("stage_idx") == ADMIT_IDX
    # every SUM is coalesced: over an EMPTY arriving batch (a refresh
    # where nothing came) SUM is NULL, and the carry row must say 0 —
    # refresh N+1 starts where N did, it does not inherit NULLs
    a = adm.agg(
        F.count(F.lit(1)).cast("long").alias("n_batch"),
        F.coalesce(F.sum((F.col("stage_idx") == 1).cast("int")), F.lit(0))
        .cast("long")
        .alias("n_bench_held"),
        F.coalesce(
            F.sum(F.col("stage_idx").between(2, ADMIT_IDX - 1).cast("int")),
            F.lit(0),
        )
        .cast("long")
        .alias("n_rejected"),
        F.coalesce(F.sum(is_adm.cast("int")), F.lit(0))
        .cast("long")
        .alias("n_admitted"),
        F.coalesce(F.sum(F.when(is_adm, F.col("n_words")).otherwise(0)), F.lit(0))
        .cast("long")
        .alias("tokens_admitted"),
    )
    nxt = F.col("tokens_before") + F.col("tokens_admitted")
    return k.crossJoin(F.broadcast(a)).select(
        "n_kept_before",
        "n_batch",
        "n_bench_held",
        "n_rejected",
        "n_admitted",
        "tokens_before",
        "tokens_admitted",
        nxt.cast("long").alias("next_start_offset"),
        F.expr(
            f"(tokens_before + tokens_admitted) div {PACK_BUDGET}"
        ).alias("n_seqs_complete"),
        (nxt % F.lit(PACK_BUDGET)).cast("long").alias("boundary_fill"),
    )


def _carry_report(kept: DataFrame, adm: DataFrame) -> DataFrame:
    """q259's carry row over (standing kept corpus, admission relation)
    — shared by q259, streamed q264, and the chain link of q268/q269."""
    k = kept.agg(
        F.count(F.lit(1)).cast("long").alias("n_kept_before"),
        F.coalesce(F.sum("n_words"), F.lit(0)).cast("long").alias(
            "tokens_before"
        ),
    )
    return _carry_report_from_scalars(k, adm)


def carry_oracle_tail(kept_from: str, adm_from: str) -> str:
    """q259's carry-row oracle over parametric (standing corpus,
    admission relation) FROM clauses — one tail for the single,
    streamed and chained refreshes."""
    return f"""k AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_kept_before,
               CAST(COALESCE(SUM(n_words), 0) AS BIGINT) AS tokens_before
        FROM {kept_from}
    ),
    a AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_batch,
               CAST(SUM(CASE WHEN stage_idx = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_bench_held,
               CAST(SUM(CASE WHEN stage_idx BETWEEN 2 AND 6 THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_rejected,
               CAST(SUM(CASE WHEN stage_idx = {ADMIT_IDX} THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_admitted,
               CAST(COALESCE(SUM(CASE WHEN stage_idx = {ADMIT_IDX}
                                      THEN n_words ELSE 0 END), 0) AS BIGINT)
                   AS tokens_admitted
        FROM {adm_from}
    )
    SELECT n_kept_before, n_batch, n_bench_held, n_rejected, n_admitted,
           tokens_before, tokens_admitted,
           CAST(tokens_before + tokens_admitted AS BIGINT) AS next_start_offset,
           CAST((tokens_before + tokens_admitted) // {PACK_BUDGET} AS BIGINT)
               AS n_seqs_complete,
           CAST((tokens_before + tokens_admitted) % {PACK_BUDGET} AS BIGINT)
               AS boundary_fill
    FROM k, a
    """


def _retro_contam_report(kept, new_bench_w) -> DataFrame:
    """q260's retroactive sweep over (standing kept corpus, NEW bench
    docs): per-source kept counts, how many are now hit by the new
    suite's 8-grams, and the rate. ``new_bench_w`` needs only a ``w``
    split-words column — shared by q260, streamed q266 and chained
    q271. The new-suite grams are broadcast, so they carry the
    suite-size guard (``admission.bounded_bench_grams``)."""
    grams = doc_grams()
    new_grams = bounded_bench_grams(new_bench_w, grams)
    kw = kept.select("doc_id", "source", tokens().alias("w"))
    hits = (
        kw.select("doc_id", F.explode(grams).alias("gram"))
        .join(F.broadcast(new_grams), "gram", "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    return (
        kw.join(hits, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_kept"),
            F.sum(F.col("__hit").isNotNull().cast("int"))
            .cast("long")
            .alias("n_retro_contaminated"),
            F.round(
                F.sum(F.col("__hit").isNotNull().cast("double"))
                / F.count(F.lit(1)),
                6,
            ).alias("retro_rate"),
        )
        .orderBy("source")
    )


def retro_oracle_tail(kept_from: str, new_bench_from: str) -> str:
    """q260's retroactive-contamination oracle over parametric (kept
    corpus, new bench docs) FROM clauses — one tail for the single,
    streamed and chained refreshes."""
    return f"""
    rbg_new AS (
        SELECT DISTINCT unnest({_GRAMS_SQL}) AS gram
        FROM {new_bench_from}
    ),
    rk2 AS (
        SELECT doc_id, source, string_split(text, ' ') AS w FROM {kept_from}
    ),
    retro AS (
        SELECT DISTINCT g.doc_id
        FROM (SELECT doc_id, unnest(list_distinct({_GRAMS_SQL})) AS gram
              FROM rk2) g
        JOIN rbg_new USING (gram)
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN doc_id IN (SELECT doc_id FROM retro)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_retro_contaminated,
           ROUND(SUM(CASE WHEN doc_id IN (SELECT doc_id FROM retro)
                          THEN 1.0 ELSE 0.0 END) / COUNT(*), 6) AS retro_rate
    FROM rk2
    GROUP BY source
    ORDER BY source
    """


def _kept_tokens(kept: DataFrame) -> DataFrame:
    """1-row (o): the standing corpus' token total, the packing offset
    the first refresh continues from."""
    return kept.agg(F.coalesce(F.sum("n_words"), F.lit(0)).cast("long").alias("o"))


def _pack(adm: DataFrame, off: DataFrame) -> DataFrame:
    """Sequence-pack the admitted docs of ``adm`` continuing from the
    1-row carried offset ``off`` (column ``o``): (doc_id, n_tokens,
    seq_id, seq_offset). The offset is folded in as a 1-row broadcast
    (BNLJ_ALLOWED — no driver pull for it at plan construction);
    global_cumsum runs its documented bounded min/max driver scalar
    (packing.py:62) at plan build, and its only partition-less window
    is over the ≤ n_buckets offset table (GLOBAL_WINDOW_ALLOWED)."""
    from tp_integ_data_pipeline_spark.operators.packing import global_cumsum

    cum = global_cumsum(
        adm.filter(F.col("stage_idx") == ADMIT_IDX).select("doc_id", "n_words"),
        "doc_id",
        "n_words",
    )
    return cum.crossJoin(F.broadcast(off)).select(
        "doc_id",
        F.col("n_words").cast("long").alias("n_tokens"),
        F.expr(f"(o + cum_before) div {PACK_BUDGET}").alias("seq_id"),
        ((F.col("o") + F.col("cum_before")) % F.lit(PACK_BUDGET))
        .cast("long")
        .alias("seq_offset"),
    )


# ==========================================================================
# One-shot funnel (q248–q254)
# ==========================================================================
_FLAG_INT = [
    ("is_dup", "f_dup"),
    ("too_short", "f_short"),
    ("low_quality", "f_quality"),
    ("contaminated", "f_contam"),
]


# --------------------------------------------------------------------------
# q248 — global loss waterfall
# --------------------------------------------------------------------------
@query(
    "q248_filter_funnel",
    oracle=f"""
    WITH {_FUNNEL_SQL},
    s AS (
        SELECT stage_idx, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS n_chars
        FROM funnel GROUP BY stage_idx
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_input FROM funnel),
    dim AS ({_STAGE_DIM_SQL})
    SELECT d.stage_idx, ({_STAGE_LIST_SQL})[d.stage_idx] AS stage,
           CAST(COALESCE(s.n_docs, 0) AS BIGINT) AS n_docs,
           CAST(COALESCE(s.n_chars, 0) AS BIGINT) AS n_chars,
           CAST(n_input
                - SUM(CASE WHEN d.stage_idx < {KEPT_IDX}
                           THEN COALESCE(s.n_docs, 0) ELSE 0 END)
                    OVER (ORDER BY d.stage_idx) AS BIGINT) AS n_remaining,
           ROUND(COALESCE(s.n_docs, 0) * 1.0 / n_input, 6) AS pct_of_input
    FROM dim d LEFT JOIN s ON s.stage_idx = d.stage_idx CROSS JOIN tot
    ORDER BY d.stage_idx
    """,
)
def q248_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus loss waterfall: per pipeline stage, how many docs
    (and chars) that stage dropped, the corpus remaining after it, and
    the share of input lost — the per-step progress the reference
    narrates imperatively (transf.py:29-34), as one auditable relation
    (shared _waterfall, also q258's)."""
    return _waterfall(
        _funnel(spark, sf_dir), FUNNEL_STAGES, "n_input", "pct_of_input"
    )


# --------------------------------------------------------------------------
# q249 — per-doc drop attribution (the provenance table itself)
# --------------------------------------------------------------------------
@query(
    "q249_drop_attribution",
    oracle=f"""
    WITH {_FUNNEL_SQL}
    SELECT doc_id, source, stage_idx, ({_STAGE_LIST_SQL})[stage_idx] AS stage,
           CAST(is_dup AS INTEGER) AS f_dup,
           CAST(too_short AS INTEGER) AS f_short,
           CAST(low_quality AS INTEGER) AS f_quality,
           CAST(contaminated AS INTEGER) AS f_contam,
           CAST(is_dup AS INTEGER) + CAST(too_short AS INTEGER)
               + CAST(low_quality AS INTEGER) + CAST(contaminated AS INTEGER)
               AS n_fail
    FROM funnel
    WHERE stage_idx BETWEEN 2 AND 5
    ORDER BY doc_id
    """,
)
def q249_drop_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document provenance for every dropped corpus doc: the stage
    that killed it (first failure in pipeline order) plus ALL four
    independent verdict flags — the record that lets a curation audit
    answer "why is doc X not in the training set" without re-running
    anything. Pure row-local projection + filter of the shared verdict
    relation; output is the dropped subset only."""
    fun = _funnel(spark, sf_dir)
    flags = [F.col(src).cast("int").alias(dst) for src, dst in _FLAG_INT]
    n_fail = sum(F.col(src).cast("int") for src, _ in _FLAG_INT)
    return (
        fun.where(F.col("stage_idx").between(2, 5))
        .select(
            "doc_id",
            "source",
            "stage_idx",
            _stage_name(FUNNEL_STAGES).alias("stage"),
            *flags,
            n_fail.alias("n_fail"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# q250 — per-source loss waterfall
# --------------------------------------------------------------------------
@query(
    "q250_source_loss_waterfall",
    oracle=f"""
    WITH {_FUNNEL_SQL},
    s AS (
        SELECT source, stage_idx, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS n_chars
        FROM funnel GROUP BY source, stage_idx
    ),
    tot AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_source
        FROM funnel GROUP BY source
    ),
    dim AS (
        SELECT t.source, t.n_source, d.stage_idx
        FROM tot t CROSS JOIN ({_STAGE_DIM_SQL}) d
    )
    SELECT d.source, d.stage_idx, ({_STAGE_LIST_SQL})[d.stage_idx] AS stage,
           CAST(COALESCE(s.n_docs, 0) AS BIGINT) AS n_docs,
           CAST(COALESCE(s.n_chars, 0) AS BIGINT) AS n_chars,
           ROUND(COALESCE(s.n_docs, 0) * 1.0 / d.n_source, 6) AS pct_of_source,
           CAST(d.n_source
                - SUM(CASE WHEN d.stage_idx < {KEPT_IDX}
                           THEN COALESCE(s.n_docs, 0) ELSE 0 END)
                      OVER (PARTITION BY d.source ORDER BY d.stage_idx)
                AS BIGINT) AS n_remaining
    FROM dim d
    LEFT JOIN s ON s.source = d.source AND s.stage_idx = d.stage_idx
    ORDER BY d.source, d.stage_idx
    """,
)
def q250_source_loss_waterfall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The waterfall sliced per source: which feeds lose most, at which
    stage, and what survives of each — the per-shard report a mixture
    rebalance (q102/q187) consumes. STAGE-STABLE per source (r9
    ADVICE): exactly 6·|sources| rows, the stage dimension exploded
    row-locally off the per-source totals. The running remainder window
    is PARTITIONED BY source (a data key — no global window)."""
    fun = _funnel(spark, sf_dir)
    s = fun.groupBy("source", "stage_idx").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("n_chars"),
    )
    tot = fun.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_source")
    )
    dim = tot.select(
        "source", "n_source", F.explode(_stage_dim(KEPT_IDX)).alias("stage_idx")
    )
    n_docs = F.coalesce(F.col("n_docs"), F.lit(0)).cast("long")
    win = (
        W.partitionBy("source").orderBy("stage_idx").rowsBetween(
            W.unboundedPreceding, 0
        )
    )
    dropped = F.sum(
        F.when(F.col("stage_idx") < KEPT_IDX, n_docs).otherwise(F.lit(0))
    ).over(win)
    return (
        dim.join(s, ["source", "stage_idx"], "left")
        .select(
            "source",
            "stage_idx",
            _stage_name(FUNNEL_STAGES).alias("stage"),
            n_docs.alias("n_docs"),
            F.coalesce(F.col("n_chars"), F.lit(0)).cast("long").alias("n_chars"),
            F.round(n_docs * F.lit(1.0) / F.col("n_source"), 6).alias(
                "pct_of_source"
            ),
            (F.col("n_source") - dropped).cast("long").alias("n_remaining"),
        )
        .orderBy("source", "stage_idx")
    )


# --------------------------------------------------------------------------
# q251 — independent-verdict overlap (who fails what, jointly)
# --------------------------------------------------------------------------
@query(
    "q251_stage_overlap",
    oracle=f"""
    WITH {_FUNNEL_SQL}
    SELECT CAST(is_dup AS INTEGER) * 8 + CAST(too_short AS INTEGER) * 4
               + CAST(low_quality AS INTEGER) * 2 + CAST(contaminated AS INTEGER)
               AS fail_mask,
           CAST(is_dup AS INTEGER) AS f_dup,
           CAST(too_short AS INTEGER) AS f_short,
           CAST(low_quality AS INTEGER) AS f_quality,
           CAST(contaminated AS INTEGER) AS f_contam,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS n_chars
    FROM funnel WHERE NOT is_bench
    GROUP BY 1, 2, 3, 4, 5
    ORDER BY 1
    """,
)
def q251_stage_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Joint distribution of the four INDEPENDENT stage verdicts (the
    funnel's priority order hides co-failures — this unhides them):
    one row per failure bitmask with doc/char mass. Mask 0 is the clean
    corpus; multi-bit rows quantify how much each stage's waterfall
    number depends on pipeline order. One keyed rollup to ≤ 16 rows."""
    fun = _funnel(spark, sf_dir)
    flags = [F.col(src).cast("int").alias(dst) for src, dst in _FLAG_INT]
    mask = (
        F.col("is_dup").cast("int") * 8
        + F.col("too_short").cast("int") * 4
        + F.col("low_quality").cast("int") * 2
        + F.col("contaminated").cast("int")
    )
    return (
        fun.where(~F.col("is_bench"))
        .groupBy(mask.alias("fail_mask"), *flags)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("n_chars"),
        )
        .orderBy("fail_mask")
    )


# --------------------------------------------------------------------------
# q252 — marginal vs gross attribution per stage
# --------------------------------------------------------------------------
@query(
    "q252_marginal_attribution",
    oracle=f"""
    WITH {_FUNNEL_SQL},
    nb AS (
        SELECT *,
               CAST(is_dup AS INTEGER) + CAST(too_short AS INTEGER)
                   + CAST(low_quality AS INTEGER) + CAST(contaminated AS INTEGER)
                   AS n_fail
        FROM funnel WHERE NOT is_bench
    ),
    long AS (
        SELECT 'exact_dup' AS stage, 2 AS ref, is_dup AS flagged,
               n_fail, stage_idx FROM nb
        UNION ALL SELECT 'too_short', 3, too_short, n_fail, stage_idx FROM nb
        UNION ALL SELECT 'low_quality', 4, low_quality, n_fail, stage_idx FROM nb
        UNION ALL SELECT 'contaminated', 5, contaminated, n_fail, stage_idx FROM nb
    )
    SELECT ref AS stage_idx, stage,
           CAST(SUM(CASE WHEN flagged THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
           CAST(SUM(CASE WHEN flagged AND n_fail = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_unique,
           CAST(SUM(CASE WHEN stage_idx = ref THEN 1 ELSE 0 END) AS BIGINT)
               AS n_attributed,
           CAST(SUM(CASE WHEN flagged AND stage_idx < ref THEN 1 ELSE 0 END)
               AS BIGINT) AS n_shadowed
    FROM long GROUP BY ref, stage
    ORDER BY ref
    """,
)
def q252_marginal_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per stage: gross kill count (every doc it flags), unique kills
    (docs ONLY it flags — its irreplaceable contribution), attributed
    kills (the waterfall's first-fail number), and shadowed kills
    (flagged here but already dropped upstream). n_flagged =
    n_attributed + n_shadowed by construction; a stage whose n_unique
    ≈ 0 is fully redundant. Stack-unpivot of the verdict columns (the
    q226 shape) ×4 rows, then a 4-row rollup."""
    fun = _funnel(spark, sf_dir)
    n_fail = sum(F.col(src).cast("int") for src, _ in _FLAG_INT)
    nb = fun.where(~F.col("is_bench")).select(
        "stage_idx",
        n_fail.alias("n_fail"),
        *[F.col(src) for src, _ in _FLAG_INT],
    )
    long = nb.selectExpr(
        "stack(4, 'exact_dup', 2, is_dup, 'too_short', 3, too_short, "
        "'low_quality', 4, low_quality, 'contaminated', 5, contaminated) "
        "AS (stage, ref, flagged)",
        "n_fail",
        "stage_idx",
    )
    return (
        long.groupBy("ref", "stage")
        .agg(
            F.sum(F.when(F.col("flagged"), 1).otherwise(0))
            .cast("long")
            .alias("n_flagged"),
            F.sum(F.when(F.col("flagged") & (F.col("n_fail") == 1), 1).otherwise(0))
            .cast("long")
            .alias("n_unique"),
            F.sum(F.when(F.col("stage_idx") == F.col("ref"), 1).otherwise(0))
            .cast("long")
            .alias("n_attributed"),
            F.sum(
                F.when(F.col("flagged") & (F.col("stage_idx") < F.col("ref")), 1)
                .otherwise(0)
            )
            .cast("long")
            .alias("n_shadowed"),
        )
        .select(
            F.col("ref").alias("stage_idx"),
            "stage",
            "n_flagged",
            "n_unique",
            "n_attributed",
            "n_shadowed",
        )
        .orderBy("stage_idx")
    )


# --------------------------------------------------------------------------
# q253 — length-threshold sensitivity sweep
# --------------------------------------------------------------------------
@query(
    "q253_threshold_sensitivity",
    oracle=f"""
    WITH {_FUNNEL_SQL},
    surv AS (SELECT * FROM funnel WHERE NOT is_bench AND NOT is_dup),
    t AS (SELECT unnest({_THRESHOLDS}) AS min_words)
    SELECT t.min_words,
           CAST(SUM(CASE WHEN s.n_words < t.min_words THEN 1 ELSE 0 END)
               AS BIGINT) AS n_too_short,
           CAST(SUM(CASE WHEN s.n_words >= t.min_words AND NOT s.low_quality
                          AND NOT s.contaminated THEN 1 ELSE 0 END)
               AS BIGINT) AS n_kept,
           ROUND(SUM(CASE WHEN s.n_words >= t.min_words AND NOT s.low_quality
                           AND NOT s.contaminated THEN 1.0 ELSE 0.0 END)
                 / COUNT(*), 6) AS kept_rate
    FROM surv s CROSS JOIN t
    GROUP BY t.min_words
    ORDER BY t.min_words
    """,
)
def q253_threshold_sensitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What-if sweep of the length gate: for each candidate min-word
    threshold, the docs it would cut and the final kept corpus with
    every OTHER verdict held fixed — the tuning curve consulted before
    moving a curation threshold. Row-local explode of the ≤ 5-value
    threshold list over the already-computed verdict columns (no
    re-scan of text), then a 5-row rollup; n_kept is monotonically
    nonincreasing in the threshold by construction."""
    fun = _funnel(spark, sf_dir)
    surv = fun.where(~F.col("is_bench") & ~F.col("is_dup"))
    kept = (
        (F.col("n_words") >= F.col("min_words"))
        & ~F.col("low_quality")
        & ~F.col("contaminated")
    )
    return (
        surv.select(
            "n_words",
            "low_quality",
            "contaminated",
            F.explode(F.array(*[F.lit(t) for t in _THRESHOLDS])).alias("min_words"),
        )
        .groupBy("min_words")
        .agg(
            F.sum((F.col("n_words") < F.col("min_words")).cast("int"))
            .cast("long")
            .alias("n_too_short"),
            F.sum(kept.cast("int")).cast("long").alias("n_kept"),
            F.round(F.sum(kept.cast("double")) / F.count(F.lit(1)), 6).alias(
                "kept_rate"
            ),
        )
        .orderBy("min_words")
    )


# --------------------------------------------------------------------------
# q254 — funnel drift between corpus halves (pipeline monitoring)
# --------------------------------------------------------------------------
@query(
    "q254_funnel_drift",
    oracle=f"""
    WITH {_FUNNEL_SQL},
    mid AS (SELECT MAX(doc_id) // 2 AS m FROM documents),
    s AS (
        SELECT stage_idx,
               CAST(SUM(CASE WHEN f.doc_id < mid.m THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_old,
               CAST(SUM(CASE WHEN f.doc_id >= mid.m THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_new
        FROM funnel f, mid GROUP BY stage_idx
    ),
    tot AS (
        SELECT CAST(SUM(CASE WHEN f.doc_id < mid.m THEN 1 ELSE 0 END) AS BIGINT)
                   AS t_old,
               CAST(SUM(CASE WHEN f.doc_id >= mid.m THEN 1 ELSE 0 END) AS BIGINT)
                   AS t_new
        FROM funnel f, mid
    ),
    dim AS ({_STAGE_DIM_SQL})
    SELECT d.stage_idx, ({_STAGE_LIST_SQL})[d.stage_idx] AS stage,
           CAST(COALESCE(s.n_old, 0) AS BIGINT) AS n_old,
           CAST(COALESCE(s.n_new, 0) AS BIGINT) AS n_new,
           ROUND(COALESCE(COALESCE(s.n_old, 0) * 1.0 / NULLIF(t_old, 0), 0.0), 6)
               AS rate_old,
           ROUND(COALESCE(COALESCE(s.n_new, 0) * 1.0 / NULLIF(t_new, 0), 0.0), 6)
               AS rate_new,
           ROUND(COALESCE(COALESCE(s.n_new, 0) * 1.0 / NULLIF(t_new, 0), 0.0)
                 - COALESCE(COALESCE(s.n_old, 0) * 1.0 / NULLIF(t_old, 0), 0.0), 6)
               + 0 AS rate_delta
    FROM dim d LEFT JOIN s ON s.stage_idx = d.stage_idx CROSS JOIN tot
    ORDER BY d.stage_idx
    """,
)
def q254_funnel_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline-drift monitor: per funnel stage, the drop RATE in the
    already-ingested corpus half (doc_id < mid, the q103 split
    convention) vs the newly-arrived half, and the delta — the
    regression alarm a standing curation run watches. STAGE-STABLE (r9
    ADVICE): all 6 stages always present, absent ones at rate 0.0. One
    conditional-sum rollup to ≤ 6 rows; the split point is folded into
    the LAZY plan as a 1-row broadcast scalar attach (BNLJ_ALLOWED; no
    job at plan-construction time). The delta is negative-capable, so
    both engines normalize it ROUND+0. An EMPTY half pins that half's
    rates to 0.0 on both engines (NULLIF + coalesce) instead of Spark
    throwing where DuckDB returns NULL."""
    fun = _funnel(spark, sf_dir)
    # fun partitions documents exactly (corpus ∪ bench rows), so its
    # max doc_id equals the table's — no second documents scan.
    mid = fun.agg(F.expr("max(doc_id) div 2").alias("m"))
    is_old = F.col("doc_id") < F.col("m")
    funm = fun.crossJoin(F.broadcast(mid))
    s = funm.groupBy("stage_idx").agg(
        F.sum(is_old.cast("int")).cast("long").alias("n_old"),
        F.sum((~is_old).cast("int")).cast("long").alias("n_new"),
    )
    # Half totals fold from the ≤6-row stage summary (stages partition
    # the corpus). The rollup subtree is referenced twice (tot + the
    # densify join) — left UNcheckpointed deliberately so the audit
    # sees the full plan; the duplicate pass is a ≤6-row rollup over
    # the already-checkpointed verdict relation.
    tot = s.agg(
        F.sum("n_old").cast("long").alias("t_old"),
        F.sum("n_new").cast("long").alias("t_new"),
    )
    dim = tot.select(
        "t_old", "t_new", F.explode(_stage_dim(KEPT_IDX)).alias("stage_idx")
    )
    n_old = F.coalesce(F.col("n_old"), F.lit(0)).cast("long")
    n_new = F.coalesce(F.col("n_new"), F.lit(0)).cast("long")
    rate_old = F.coalesce(
        n_old * F.lit(1.0) / F.nullif(F.col("t_old"), F.lit(0)),
        F.lit(0.0),
    )
    rate_new = F.coalesce(
        n_new * F.lit(1.0) / F.nullif(F.col("t_new"), F.lit(0)),
        F.lit(0.0),
    )
    return (
        dim.join(s, "stage_idx", "left")
        .select(
            "stage_idx",
            _stage_name(FUNNEL_STAGES).alias("stage"),
            n_old.alias("n_old"),
            n_new.alias("n_new"),
            F.round(rate_old, 6).alias("rate_old"),
            F.round(rate_new, 6).alias("rate_new"),
            (F.round(rate_new - rate_old, 6) + F.lit(0.0)).alias("rate_delta"),
        )
        .orderBy("stage_idx")
    )


# ==========================================================================
# Single refresh (q255–q260)
# ==========================================================================
_R_FLAGS = [
    ("dup_batch", "f_dup_batch"),
    ("dup_corpus", "f_dup_corpus"),
    ("too_short", "f_short"),
    ("low_quality", "f_quality"),
    ("contaminated", "f_contam"),
]


def _r_flags() -> list[F.Column]:
    return [F.col(src).cast("int").alias(dst) for src, dst in _R_FLAGS]


def _admitted(adm: DataFrame) -> DataFrame:
    return adm.filter(F.col("stage_idx") == ADMIT_IDX)


def _admitted_bit() -> F.Column:
    return (F.col("stage_idx") == ADMIT_IDX).cast("int").alias("admitted")


# --------------------------------------------------------------------------
# q255 — per-doc admission provenance of the refresh batch
# --------------------------------------------------------------------------
@query(
    "q255_refresh_admission",
    oracle=f"""
    WITH {_REFRESH_SQL}
    SELECT doc_id, source, stage_idx,
           ({_R_STAGE_LIST_SQL})[stage_idx] AS stage,
           CAST(dup_batch AS INTEGER) AS f_dup_batch,
           CAST(dup_corpus AS INTEGER) AS f_dup_corpus,
           CAST(too_short AS INTEGER) AS f_short,
           CAST(low_quality AS INTEGER) AS f_quality,
           CAST(contaminated AS INTEGER) AS f_contam,
           CAST(dup_batch AS INTEGER) + CAST(dup_corpus AS INTEGER)
               + CAST(too_short AS INTEGER) + CAST(low_quality AS INTEGER)
               + CAST(contaminated AS INTEGER) AS n_fail,
           CAST(stage_idx = {ADMIT_IDX} AS INTEGER) AS admitted
    FROM radm
    ORDER BY doc_id
    """,
)
def q255_refresh_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The refresh batch's per-document admission record — q249's
    provenance table for INGEST: every arriving doc with its first-fail
    stage (q109's order: within-batch dup, then dup vs the standing
    kept corpus, then the q94/q93 content gates), all five independent
    verdict flags, and the admitted bit — so "why was doc X rejected
    last Tuesday" is a lookup, not a re-run. Pure row-local projection
    of the shared admission relation."""
    n_fail = sum(F.col(src).cast("int") for src, _ in _R_FLAGS)
    return _admission(spark, sf_dir).select(
        "doc_id",
        "source",
        "stage_idx",
        _stage_name(ADMISSION_STAGES).alias("stage"),
        *_r_flags(),
        n_fail.alias("n_fail"),
        _admitted_bit(),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# q256 — post-refresh mixture rebalance report
# --------------------------------------------------------------------------
# Shared with q265_stream_mixture: the rebalance over the streamed sink
# must hash-match the SAME one-shot oracle.
_MIXTURE_ORACLE = f"""
    WITH {_REFRESH_SQL},
    {mixture_oracle_tail("rkept", f"radm WHERE stage_idx = {ADMIT_IDX}")}
    """


@query(
    "q256_refresh_mixture",
    oracle=_MIXTURE_ORACLE,
)
def q256_refresh_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-refresh mixture rebalance: per source, the kept corpus
    before vs after admitting the batch (counts, shares, the
    negative-capable share drift), the sqrt-temperature target share
    (q187's alpha=0.5 rule — IEEE sqrt is exactly rounded on both
    engines), and the capacity-solve keep fraction to hit that target
    (q102's T = min_s(n_s / w_s) rule). With w_s ∝ sqrt(n_s) the solve
    collapses algebraically: keep_frac_s = min(1, sqrt(min_n/n_s)) — so
    the whole report needs ONE totals row, and keep_frac involves no
    float summation at all. Shape: two bounded per-source rollups
    full-joined, ONE 1-row scalar attach (BNLJ_ALLOWED)."""
    return _mixture_report(
        _exist_kept(spark, sf_dir),
        _admitted(_admission(spark, sf_dir)).select("source"),
    )


# --------------------------------------------------------------------------
# q257 — packing continuation with carried offset
# --------------------------------------------------------------------------
# Shared with q263_stream_packing: the streamed layout must be
# bit-identical to the one-shot one.
_PACKING_ORACLE = f"""
    WITH {_REFRESH_SQL},
    adm2 AS (
        SELECT doc_id, n_words FROM radm WHERE stage_idx = {ADMIT_IDX}
    ),
    off0 AS (
        SELECT CAST(COALESCE(SUM(n_words), 0) AS BIGINT) AS o FROM rkept
    ),
    c AS (
        SELECT doc_id, n_words,
               CAST(COALESCE(SUM(n_words) OVER (ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS BIGINT) AS cb
        FROM adm2
    )
    SELECT doc_id,
           CAST(n_words AS BIGINT) AS n_tokens,
           CAST((o + cb) // {PACK_BUDGET} AS BIGINT) AS seq_id,
           CAST((o + cb) % {PACK_BUDGET} AS BIGINT) AS seq_offset
    FROM c, off0
    ORDER BY doc_id
    """


@query(
    "q257_refresh_packing",
    oracle=_PACKING_ORACLE,
)
def q257_refresh_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-pack the admitted batch CONTINUING from the standing
    corpus — pack_sequences' incremental contract (the carried state is
    ONE integer, yesterday's global token count) exercised end-to-end:
    the first admitted doc lands mid-sequence wherever yesterday's
    corpus stopped, and batch-wise packing is bit-identical to packing
    the whole corpus at once. Shared _pack (also q268's); the oracle
    replays the layout from a naive global window, proving the
    decomposition exact row-for-row (the q100/q107 discipline)."""
    return _pack(
        _admission(spark, sf_dir), _kept_tokens(_exist_kept(spark, sf_dir))
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# q258 — refresh-batch loss waterfall
# --------------------------------------------------------------------------
@query(
    "q258_refresh_waterfall",
    oracle=f"""
    WITH {_REFRESH_SQL},
    s AS (
        SELECT stage_idx, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS n_chars
        FROM radm GROUP BY stage_idx
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_batch FROM radm),
    dim AS (SELECT CAST(unnest(generate_series(1, {ADMIT_IDX})) AS INTEGER)
                   AS stage_idx)
    SELECT d.stage_idx, ({_R_STAGE_LIST_SQL})[d.stage_idx] AS stage,
           CAST(COALESCE(s.n_docs, 0) AS BIGINT) AS n_docs,
           CAST(COALESCE(s.n_chars, 0) AS BIGINT) AS n_chars,
           CAST(n_batch
                - SUM(CASE WHEN d.stage_idx < {ADMIT_IDX}
                           THEN COALESCE(s.n_docs, 0) ELSE 0 END)
                    OVER (ORDER BY d.stage_idx) AS BIGINT) AS n_remaining,
           ROUND(COALESCE(s.n_docs, 0) * 1.0 / n_batch, 6) AS pct_of_batch
    FROM dim d LEFT JOIN s ON s.stage_idx = d.stage_idx CROSS JOIN tot
    ORDER BY d.stage_idx
    """,
)
def q258_refresh_waterfall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The admission funnel's loss waterfall — q248's report for the
    REFRESH batch (q255 is its per-doc complement, the q248↔q249
    pairing), stage-stable over all 7 stages. The refresh run's
    one-glance health line: a batch suddenly bleeding at dup_vs_corpus
    means the crawler re-fetched yesterday's web."""
    return _waterfall(
        _admission(spark, sf_dir), ADMISSION_STAGES, "n_batch", "pct_of_batch"
    )


# --------------------------------------------------------------------------
# q259 — carried-state emission for the NEXT refresh
# --------------------------------------------------------------------------
# Shared with q264_stream_carry_state.
_CARRY_ORACLE = f"""
    WITH {_REFRESH_SQL},
    {carry_oracle_tail("rkept", "radm")}"""


@query(
    "q259_refresh_carry_state",
    oracle=_CARRY_ORACLE,
)
def q259_refresh_carry_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bookkeeping row the NEXT refresh consumes — closing the
    incremental loop that q257 opens: corpus counts (kept before,
    batch, bench-held, rejected, admitted) plus the packing carry —
    next_start_offset = tokens packed after this refresh, the ONE
    integer pack_sequences needs to continue tomorrow bit-identically.
    Emitting this row is what makes refresh N+1 runnable without
    re-scanning refresh N's output — proven as a hash check by the
    chain (q269 consumes exactly this row). All-integer output, so the
    hash check is exact with no float convention needed."""
    return _carry_report(_exist_kept(spark, sf_dir), _admission(spark, sf_dir))


# --------------------------------------------------------------------------
# q260 — retroactive contamination from benchmark-suite growth
# --------------------------------------------------------------------------
# Shared with q266_stream_retro_contam.
_RETRO_ORACLE = f"""
    WITH {_REFRESH_SQL},
    {retro_oracle_tail("rkept", "rw, rmid WHERE is_bench AND doc_id >= m")}
    """


@query(
    "q260_refresh_retro_contam",
    oracle=_RETRO_ORACLE,
)
def q260_refresh_retro_contam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-suite GROWTH sweeps backwards: the new batch brings
    new eval docs (its doc_id%97 slice), whose 8-grams can hit docs
    yesterday's run already kept under the then-smaller suite. Per
    source: kept docs, how many are now contaminated by the NEW bench
    docs' grams, and the rate. Matching against the new-half suite
    alone is EXACT: every kept doc already has zero grams in
    yesterday's suite (that's why it was kept), so a full-suite hit can
    only come from a new-bench gram. One gram explode over the kept
    corpus + the new-suite broadcast semi-join (q93's decontam shape),
    then a per-source rollup."""
    kept = _exist_kept(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    mid = docs.agg(F.expr("max(doc_id) div 2").alias("m"))
    new_bench = (
        docs.crossJoin(F.broadcast(mid))
        .filter((F.col("doc_id") >= F.col("m")) & (F.col("doc_id") % 97 == 0))
        .select(tokens().alias("w"))
    )
    return _retro_contam_report(kept, new_bench)


# ==========================================================================
# Streamed refresh (q261–q266): the q255 arrival drained as K=4
# doc_id-ordered micro-batches (streaming/refresh.py). The batches
# partition the arrival in doc_id order, so every verdict and packing
# slot equals the one-shot plan's, and the oracles are the one-shot
# refresh CTE (plus the batch-split replay for keys exposing batch_id).
# ==========================================================================
# --------------------------------------------------------------------------
# q261 — streamed per-doc admission provenance (== q255 + batch_id)
# --------------------------------------------------------------------------
@query(
    "q261_stream_admission",
    oracle=f"""
    WITH {_REFRESH_SQL},
    {_RBATCH_SQL}
    SELECT r.doc_id, r.source, b.batch_id, r.stage_idx,
           ({_R_STAGE_LIST_SQL})[r.stage_idx] AS stage,
           CAST(dup_batch AS INTEGER) AS f_dup_batch,
           CAST(dup_corpus AS INTEGER) AS f_dup_corpus,
           CAST(too_short AS INTEGER) AS f_short,
           CAST(low_quality AS INTEGER) AS f_quality,
           CAST(contaminated AS INTEGER) AS f_contam,
           CAST(stage_idx = {ADMIT_IDX} AS INTEGER) AS admitted
    FROM radm r JOIN rbatch b USING (doc_id)
    ORDER BY doc_id
    """,
)
def q261_stream_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q255's per-document admission record as the STREAM produced it,
    batch by batch — plus which micro-batch carried the doc. The
    oracle is q255's one-shot refresh CTE joined to the deterministic
    batch-split replay: a full hash match here IS the batch-parity
    proof, per row. Pure projection of the shared drained sink."""
    return _stream_refresh(spark, sf_dir).select(
        "doc_id",
        "source",
        "batch_id",
        "stage_idx",
        _stage_name(ADMISSION_STAGES).alias("stage"),
        *_r_flags(),
        _admitted_bit(),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# q262 — per-micro-batch loss waterfall (stage-stable K x 7 grid)
# --------------------------------------------------------------------------
@query(
    "q262_stream_batch_waterfall",
    oracle=f"""
    WITH {_REFRESH_SQL},
    {_RBATCH_SQL},
    dim AS (
        SELECT CAST(b.b AS INTEGER) AS batch_id, CAST(s.s AS INTEGER) AS stage_idx
        FROM (SELECT unnest(generate_series(1, {_N_BATCHES})) AS b) b,
             (SELECT unnest(generate_series(1, 7)) AS s) s
    ),
    cells AS (
        SELECT batch_id, stage_idx,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_words) AS BIGINT) AS n_tokens
        FROM radm JOIN rbatch USING (doc_id)
        GROUP BY batch_id, stage_idx
    )
    SELECT d.batch_id, d.stage_idx,
           ({_R_STAGE_LIST_SQL})[d.stage_idx] AS stage,
           COALESCE(n_docs, 0) AS n_docs,
           COALESCE(n_tokens, 0) AS n_tokens
    FROM dim d LEFT JOIN cells USING (batch_id, stage_idx)
    ORDER BY batch_id, stage_idx
    """,
)
def q262_stream_batch_waterfall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The q258 batch waterfall with the micro-batch dimension kept:
    per (batch, stage) doc and token counts — the per-trigger telemetry
    a streaming refresh emits so drift in ONE batch is visible before
    the refresh completes. Stage-stable over the constant K x 7 grid
    (both dimensions are code constants, exploded row-locally off the
    totals row — zero-drop cells at 0, no join against data)."""
    sr = _stream_refresh(spark, sf_dir)
    tot = sr.agg(F.count(F.lit(1)).alias("_c"))
    grid = tot.select(
        F.explode(_stage_dim(_N_BATCHES)).alias("batch_id")
    ).select("batch_id", F.explode(_stage_dim(ADMIT_IDX)).alias("stage_idx"))
    cells = sr.groupBy("batch_id", "stage_idx").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_words").cast("long").alias("n_tokens"),
    )
    return (
        grid.join(cells, ["batch_id", "stage_idx"], "left")
        .select(
            "batch_id",
            "stage_idx",
            _stage_name(ADMISSION_STAGES).alias("stage"),
            F.coalesce("n_docs", F.lit(0)).alias("n_docs"),
            F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
        )
        .orderBy("batch_id", "stage_idx")
    )


# --------------------------------------------------------------------------
# q263 — streamed packing layout (== one-shot q257, bit for bit)
# --------------------------------------------------------------------------
@query("q263_stream_packing", oracle=_PACKING_ORACLE)
def q263_stream_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The packing slots the STREAM assigned — each micro-batch packed
    its admitted docs continuing from the carried offset — which must
    be BIT-identical to one-shot q257: same oracle, zero tolerance.
    Projection of the shared drained sink; the packing arithmetic
    already happened per batch, inside the drain."""
    return (
        _admitted(_stream_refresh(spark, sf_dir))
        .select("doc_id", "n_tokens", "seq_id", "seq_offset")
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# q264 — streamed carry-state row (== one-shot q259)
# --------------------------------------------------------------------------
@query("q264_stream_carry_state", oracle=_CARRY_ORACLE)
def q264_stream_carry_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q259's bookkeeping row recomputed from what the STREAM emitted:
    the drained sink's verdicts must aggregate to the exact carry state
    the one-shot plan hands refresh N+1 — tomorrow's run cannot tell
    which path produced today's corpus."""
    return _carry_report(
        _exist_kept(spark, sf_dir), _stream_refresh(spark, sf_dir)
    )


# --------------------------------------------------------------------------
# q265 — mixture rebalance from the streamed sink (== one-shot q256)
# --------------------------------------------------------------------------
@query("q265_stream_mixture", oracle=_MIXTURE_ORACLE)
def q265_stream_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q256's post-refresh rebalance report computed from what the
    STREAM admitted — q256's exact oracle, zero tolerance: the drained
    sink is a DROP-IN input for the downstream report a standing
    pipeline consumes."""
    return _mixture_report(
        _exist_kept(spark, sf_dir),
        _admitted(_stream_refresh(spark, sf_dir)).select("source"),
    )


# --------------------------------------------------------------------------
# q266 — retro-contamination sweep driven by the streamed sink (== q260)
# --------------------------------------------------------------------------
@query("q266_stream_retro_contam", oracle=_RETRO_ORACLE)
def q266_stream_retro_contam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q260's retroactive decontamination audit with the NEW bench
    docs identified from the STREAM's own verdicts (stage_idx = 1 rows
    joined back to the corpus for text) instead of re-deriving the
    suite slice — q260's exact oracle. Hash equality proves the sink's
    bench-holdout rows are a complete record of the suite growth."""
    kept = _exist_kept(spark, sf_dir)
    sr = _stream_refresh(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    new_bench = (
        sr.filter(F.col("stage_idx") == 1)
        .select("doc_id")
        .join(docs, "doc_id")
        .select(tokens().alias("w"))
    )
    return _retro_contam_report(kept, new_bench)


# ==========================================================================
# Chained refresh (q267–q271): refresh 1 admits m..m2 against the
# standing corpus; its admitted docs grow the corpus to K1 and its bench
# docs grow the suite; refresh 2 admits >= m2 against K1 and packs
# CONTINUING FROM THE CARRY ROW refresh 1 emitted — not from a rescan.
# The oracles replay BOTH refreshes in one DuckDB CTE (_CHAIN_SQL).
# ==========================================================================
# --------------------------------------------------------------------------
# q267 — per-doc verdicts across the two-refresh chain
# --------------------------------------------------------------------------
@query(
    "q267_chain_admission",
    oracle=f"""
    WITH {_REFRESH_SQL},
    {_CHAIN_SQL}
    SELECT CAST(refresh_id AS INTEGER) AS refresh_id, doc_id, source,
           stage_idx, ({_R_STAGE_LIST_SQL})[stage_idx] AS stage,
           CAST(dup_batch AS INTEGER) AS f_dup_batch,
           CAST(dup_corpus AS INTEGER) AS f_dup_corpus,
           CAST(too_short AS INTEGER) AS f_short,
           CAST(low_quality AS INTEGER) AS f_quality,
           CAST(contaminated AS INTEGER) AS f_contam,
           CAST(stage_idx = {ADMIT_IDX} AS INTEGER) AS admitted
    FROM cchain
    ORDER BY doc_id
    """,
)
def q267_chain_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q255's per-document provenance across BOTH chained refreshes,
    tagged by which refresh judged each doc. The hash check is the
    chain-semantics proof per row: refresh-1 ADMITTED texts block
    refresh-2 arrivals as dup_vs_corpus, refresh-1 REJECTED texts do
    not (rejects never entered the corpus), and refresh-1's delivered
    bench docs contaminate refresh-2 arrivals (the suite grew).
    Arrival ids are disjoint and increasing, so doc_id order is chain
    order."""

    def proj(adm: DataFrame, rid: int) -> DataFrame:
        return adm.select(
            F.lit(rid).cast("int").alias("refresh_id"),
            "doc_id",
            "source",
            "stage_idx",
            _stage_name(ADMISSION_STAGES).alias("stage"),
            *_r_flags(),
            _admitted_bit(),
        )

    return (
        proj(_chain_adm1(spark, sf_dir), 1)
        .unionByName(proj(_chain_adm2(spark, sf_dir), 2))
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# q268 — two-refresh packing, refresh 2 consuming the emitted carry row
# --------------------------------------------------------------------------
@query(
    "q268_chain_packing",
    oracle=f"""
    WITH {_REFRESH_SQL},
    {_CHAIN_SQL},
    cadm_all AS (
        SELECT refresh_id, doc_id, n_words FROM cchain
        WHERE stage_idx = {ADMIT_IDX}
    ),
    coff0 AS (
        SELECT CAST(COALESCE(SUM(n_words), 0) AS BIGINT) AS o FROM rkept
    ),
    cc AS (
        SELECT refresh_id, doc_id, n_words,
               CAST(COALESCE(SUM(n_words) OVER (ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS BIGINT) AS cb
        FROM cadm_all
    )
    SELECT CAST(refresh_id AS INTEGER) AS refresh_id, doc_id,
           CAST(n_words AS BIGINT) AS n_tokens,
           CAST((o + cb) // {PACK_BUDGET} AS BIGINT) AS seq_id,
           CAST((o + cb) % {PACK_BUDGET} AS BIGINT) AS seq_offset
    FROM cc, coff0
    ORDER BY doc_id
    """,
)
def q268_chain_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both refreshes' packing layouts, where refresh 2 continues from
    the CARRY ROW refresh 1 emitted (c1.next_start_offset folded in as
    a 1-row broadcast — never a rescan of refresh 1's admitted docs;
    BNLJ_ALLOWED). The oracle packs the union of both admitted sets in
    ONE continuous window — equality means the chained layout is
    bit-identical to repacking everything, sequences straddling the
    refresh boundary included. Shared _pack (q257's)."""
    kept = _exist_kept(spark, sf_dir)
    adm1 = _chain_adm1(spark, sf_dir)
    # the chain link: refresh 2's start offset IS the emitted carry row
    off1 = _carry_report(kept, adm1).select(
        F.col("next_start_offset").cast("long").alias("o")
    )

    def pack(adm: DataFrame, off: DataFrame, rid: int) -> DataFrame:
        return _pack(adm, off).select(
            F.lit(rid).cast("int").alias("refresh_id"), "*"
        )

    return (
        pack(adm1, _kept_tokens(kept), 1)
        .unionByName(pack(_chain_adm2(spark, sf_dir), off1, 2))
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# q269 — refresh 2's carry row derived FROM refresh 1's carry row
# --------------------------------------------------------------------------
@query(
    "q269_chain_carry_state",
    oracle=f"""
    WITH {_REFRESH_SQL},
    {_CHAIN_SQL},
    {carry_oracle_tail("ck1", "cadm2")}""",
)
def q269_chain_carry_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The chain's induction step as ONE hash-checked row: refresh 2's
    carry state where every "before" field is DERIVED from refresh 1's
    emitted carry row — n_kept_before = c1.n_kept_before +
    c1.n_admitted, tokens_before = c1.next_start_offset — while the
    oracle recomputes both by scanning the grown corpus K1 from
    scratch. Equality proves the q259 row is a SUFFICIENT handoff:
    tomorrow's bookkeeping needs yesterday's one row, not yesterday's
    corpus."""
    c1 = _carry_report(
        _exist_kept(spark, sf_dir), _chain_adm1(spark, sf_dir)
    )
    k2 = c1.select(
        (F.col("n_kept_before") + F.col("n_admitted"))
        .cast("long")
        .alias("n_kept_before"),
        F.col("next_start_offset").cast("long").alias("tokens_before"),
    )
    return _carry_report_from_scalars(k2, _chain_adm2(spark, sf_dir))


# --------------------------------------------------------------------------
# q270 — post-chain mixture rebalance (refresh 2's operational report)
# --------------------------------------------------------------------------
@query(
    "q270_chain_mixture",
    oracle=f"""
    WITH {_REFRESH_SQL},
    {_CHAIN_SQL},
    {mixture_oracle_tail("ck1", f"cadm2 WHERE stage_idx = {ADMIT_IDX}")}
    """,
)
def q270_chain_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The rebalance report refresh 2 emits — q256's exact arithmetic
    over the CHAINED state: before = the grown corpus K1 refresh 1 left
    standing, added = refresh 2's admitted docs."""
    return _mixture_report(
        _chain_kept1(spark, sf_dir),
        _admitted(_chain_adm2(spark, sf_dir)).select("source"),
    )


# --------------------------------------------------------------------------
# q271 — post-chain retroactive contamination (suite growth in refresh 2)
# --------------------------------------------------------------------------
@query(
    "q271_chain_retro_contam",
    oracle=f"""
    WITH {_REFRESH_SQL},
    {_CHAIN_SQL},
    {retro_oracle_tail("ck1", "rw, cm2 WHERE is_bench AND doc_id >= m2")}
    """,
)
def q271_chain_retro_contam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q260's retroactive decontamination audit at the chain's second
    link: refresh 2's bench docs (doc_id >= m2) sweep the corpus K1
    standing when refresh 2 began. K1 holds refresh-1 admissions that
    were decontaminated only against the SMALLER suite visible through
    m2, so refresh-2's bench grams can legitimately hit them — and
    q260's exactness argument still holds per link."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    mid = docs.agg(F.expr("3 * (max(doc_id) div 4)").alias("m2"))
    new_bench = (
        docs.crossJoin(F.broadcast(mid))
        .filter(
            (F.col("doc_id") >= F.col("m2")) & (F.col("doc_id") % 97 == 0)
        )
        .select(tokens().alias("w"))
    )
    return _retro_contam_report(_chain_kept1(spark, sf_dir), new_bench)
