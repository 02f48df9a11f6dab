"""Exact substring-level deduplication (Lee et al. 2022,
"Deduplicating Training Data Makes Language Models Better" — the
ExactSubstr variant, re-expressed for Spark at token granularity).

Document-level dedup (operators/dedup.py) drops whole near-duplicate
documents; substring dedup instead finds the duplicated SPANS — the
boilerplate license header pasted into thousands of files, the quoted
paragraph — so the pipeline can cut the span and keep the document.

The reference algorithm builds a corpus-wide suffix array — a shape
that needs shared memory and doesn't distribute. The Spark-first
equivalent for "every duplicated run of ≥ k tokens":

1. every token position emits the hash of the k-gram starting there
   (row-local expression work: one split, one slice/concat per
   position, md5 → 16 bytes; only (id, pos, hash) is ever shuffled,
   never gram text);
2. a global count ≥ 2 over the hash marks DUPLICATED grams (one
   map-side-combined aggregate — the inverted index);
3. marked positions merge into maximal runs per document
   (gaps-and-islands over a window PARTITIONED by doc — no global
   window): positions p₁ < p₂ belong to one run iff p₂ ≤ p₁ + k,
   i.e. their [p, p+k) spans overlap or touch.

Equivalence: a substring of ≥ k tokens appears twice in the corpus
iff each of its constituent k-grams appears ≥ 2 times, so the merged
spans are exactly the maximal duplicated runs — same output a suffix
array gives at token granularity, via two shuffles (hash count +
doc window) on fixed-width rows.

Scale: the position explode emits |corpus tokens| rows — same order
as the text itself, the irreducible cost of exactness. The
``winnow`` option thins step 1 by the standard winnowing scheme
(Schleimer et al., SIGMOD'03): keep a position only where its hash is
the minimum of the w-hash window starting there. Any duplicated run of
≥ k + w − 1 tokens still shares ≥ 1 selected fingerprint (the
winnowing guarantee), so detection recall is preserved for runs that
long, at 1/w the index size — but reported span BOUNDARIES shrink to
the selected fingerprints' coverage, so use it for detection/triage,
and the exact mode when spans feed an actual cut.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from tp_integ_data_pipeline_spark.operators.text import tokens


def position_grams(
    df: DataFrame, id_col: str, text_col: str, k: int
) -> DataFrame:
    """(id, pos, gh): md5 of the k-token gram at every 0-based token
    position. Documents shorter than k tokens emit nothing. md5 (not
    xxhash64) so the relation — and everything downstream of it — is
    byte-reproducible in any engine with md5, which is what makes the
    whole operator DuckDB-oracle-able."""
    toked = df.select(
        F.col(id_col).alias("id"), tokens(text_col).alias("__toks")
    )
    grams = F.when(
        F.size("__toks") >= k,
        F.expr(
            f"transform(sequence(0, size(__toks) - {k}), "
            f"i -> md5(concat_ws(' ', slice(__toks, i + 1, {k}))))"
        ),
    ).otherwise(F.array().cast("array<string>"))
    return toked.select("id", F.posexplode(grams).alias("pos", "gh"))


def winnow_grams(grams: DataFrame, w: int) -> DataFrame:
    """Winnowing selection over a position_grams relation: keep a
    position iff its hash is the (leftmost) minimum of the w hashes in
    the window starting at it. Deterministic, row-count ≈ |grams|/w.
    The window is PARTITIONED by doc — per-doc sort, no global sort."""
    win = W.partitionBy("id").orderBy("pos").rowsBetween(0, w - 1)
    return (
        grams.withColumn("__wmin", F.min("gh").over(win))
        .filter(F.col("gh") == F.col("__wmin"))
        .drop("__wmin")
    )


def duplicated_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 20,
    min_count: int = 2,
    winnow: int | None = None,
) -> DataFrame:
    """Maximal duplicated token runs per document:
    (id, span_start, span_end, span_len) with span = [span_start,
    span_end) in 0-based token positions. A run is any union of
    overlapping k-token windows whose gram occurs ≥ ``min_count``
    times corpus-wide (occurrences in the SAME document count —
    self-repetition is duplication too, as in the reference paper).

    ``winnow`` switches step 1 to winnowed fingerprints (see module
    docstring) — detection-grade spans at 1/w index size."""
    grams = position_grams(df, id_col, text_col, k)
    if winnow is not None:
        grams = winnow_grams(grams, winnow)
    # grams feeds TWO branches (the corpus-wide dup count and the
    # marked-position join); a lazy localCheckpoint caps the explode +
    # md5 subtree at one evaluation — measured 1.5× on the whole
    # operator at sf0.1.
    grams = grams.localCheckpoint(eager=False)
    dup = (
        grams.groupBy("gh")
        .agg(F.count(F.lit(1)).alias("__c"))
        .filter(F.col("__c") >= min_count)
        .select("gh")
    )
    marked = grams.join(dup, "gh").select("id", "pos")
    # gaps-and-islands per doc: break a run when this position's span
    # no longer touches the previous one's ([p_prev, p_prev + k)).
    w_doc = W.partitionBy("id").orderBy("pos")
    runs = (
        marked.withColumn(
            "__brk",
            F.when(
                F.col("pos") - F.lag("pos").over(w_doc) <= k, F.lit(0)
            ).otherwise(F.lit(1)),
        )
        .withColumn(
            "__run",
            F.sum("__brk").over(w_doc.rowsBetween(W.unboundedPreceding, 0)),
        )
    )
    return (
        runs.groupBy("id", "__run")
        .agg(F.min("pos").alias("span_start"), (F.max("pos") + k).alias("span_end"))
        .select(
            "id",
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start")).alias("span_len"),
        )
    )


def strip_spans(
    df: DataFrame,
    spans: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Cut the given token spans out of each document (the actual
    dedup step downstream of :func:`duplicated_spans`): returns
    (id, text, n_removed_tokens) with the surviving tokens rejoined in
    order. Row-local after one aggregation of spans per doc (bounded:
    maximal spans are disjoint, ≤ n_tokens/k per doc)."""
    per_doc = spans.groupBy(F.col("id").alias("__sid")).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("__spans")
    )
    toked = df.select(
        F.col(id_col).alias("id"),
        tokens(text_col).alias("__toks"),
    )
    joined = toked.join(per_doc, toked.id == per_doc.__sid, "left").drop("__sid")
    keep = F.filter(
        F.expr("transform(__toks, (t, i) -> struct(t as t, i as i))"),
        lambda s: ~F.exists(
            F.coalesce(
                F.col("__spans"),
                F.array().cast("array<struct<span_start:long,span_end:long>>"),
            ),
            lambda sp: (s["i"] >= sp["span_start"]) & (s["i"] < sp["span_end"]),
        ),
    )
    return joined.select(
        "id",
        F.array_join(F.transform(keep, lambda s: s["t"]), " ").alias(text_col),
        (F.size("__toks") - F.size(keep)).cast("long").alias("n_removed_tokens"),
    )
