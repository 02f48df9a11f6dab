"""Inverted-index build + conjunctive keyword search over the document
corpus — the retrieval primitive a data-curation stack uses for targeted
audits ("every doc mentioning X and Y") without rescanning text.

Build: one explode to DISTINCT (token, doc) postings, grouped into
per-token sorted posting arrays — the materialized index a lake table
would persist (token-keyed, so lookups are partition-prunable).
Search: the index path never touches ``text`` — it filters the
posting relation to the query terms (an m-row IN list), intersects by
counting per-doc term hits == m (an aggregate, not m self-joins), and
joins doc metadata back. Cost is sum of the query terms' posting
lengths, not corpus size.

No reference-repo counterpart — SURVEY.md §2.10 extension surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tp_integ_data_pipeline_spark.operators.text import tokens


def postings(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Distinct (token, id) posting rows — the exploded index form the
    search path consumes; one explode + one distinct, token-keyed."""
    return (
        docs.select(F.col(id_col).alias("id"), F.explode(tokens(text_col)).alias("token"))
        .filter(F.col("token") != "")
        .distinct()
    )


def inverted_index(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(token, doc_ids array, df) — the compact persisted index form:
    sorted posting array + document frequency per token."""
    return (
        postings(docs, id_col, text_col)
        .groupBy("token")
        .agg(
            F.array_sort(F.collect_list("id")).alias("doc_ids"),
            F.count(F.lit(1)).alias("df"),
        )
    )


def search_all_terms(
    posting_rows: DataFrame, terms: list[str], id_col: str = "id"
) -> DataFrame:
    """Doc ids containing ALL ``terms`` (conjunctive / AND search):
    filter the posting relation to the m terms, then one doc-keyed
    aggregate keeping docs with m distinct term hits — never m chained
    self-joins (whose cost would grow with the rarest-term ordering
    chosen by hand; the aggregate shape is plan-stable)."""
    if not terms:
        raise ValueError("search_all_terms: empty term list")
    hits = posting_rows.filter(F.col("token").isin(*terms))
    return (
        hits.groupBy(F.col(id_col))
        .agg(F.countDistinct("token").alias("__nt"))
        .filter(F.col("__nt") == len(set(terms)))
        .select(id_col)
    )


def doc_lengths(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, dl) token counts per document — computed row-locally from
    the text split (size(), no explode/shuffle)."""
    return docs.select(
        F.col(id_col).alias("id"),
        F.size(F.filter(tokens(text_col), lambda t: t != "")).alias("dl"),
    )


def term_frequencies(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(token, id, tf) rows — the frequency-bearing posting form BM25
    consumes (vs :func:`postings`' distinct membership form)."""
    return (
        docs.select(F.col(id_col).alias("id"), F.explode(tokens(text_col)).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token", "id")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def bm25_topk(
    docs: DataFrame,
    terms: list[str],
    k: int = 20,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-``k`` documents by BM25 for a bag of query terms:
    idf = ln(1 + (N - df + 0.5)/(df + 0.5)), tf saturation k1, length
    normalization b against the corpus mean length. Shape: the scoring
    relation is ONLY the query terms' postings (filter before any join,
    cost tracks posting lengths); N and avgdl ride as 1-row broadcast
    scalars; df is a term-keyed aggregate of the filtered postings;
    final cut via orderBy().limit() (TakeOrderedAndProject). The score
    is rounded to 6 dp BEFORE the cut so cross-engine libm ULPs in ln()
    cannot flip the boundary (the q130 PMI rule)."""
    if not terms:
        raise ValueError("bm25_topk: empty term list")
    tfs = term_frequencies(docs, id_col, text_col).filter(F.col("token").isin(*terms))
    dfreq = tfs.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    dls = doc_lengths(docs, id_col, text_col)
    n_and_avg = dls.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    )
    scored = (
        tfs.join(F.broadcast(dfreq), "token")
        .join(dls, "id")
        .crossJoin(F.broadcast(n_and_avg))
        .withColumn(
            "idf",
            F.log(
                F.lit(1.0)
                + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
            ),
        )
        .withColumn(
            "w",
            F.col("idf")
            * (F.col("tf") * F.lit(k1 + 1.0))
            / (
                F.col("tf")
                + F.lit(k1)
                * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
            ),
        )
    )
    return (
        scored.groupBy("id")
        .agg(F.round(F.sum("w"), 6).alias("score"))
        .orderBy(F.col("score").desc(), "id")
        .limit(k)
    )
