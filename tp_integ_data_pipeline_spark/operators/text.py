"""Text analysis operators (north-star X4): language-ID, quality
scoring, token counting, document fingerprinting.

All pure expression work (split / filter / transform / md5) — no
Python UDFs — so the whole surface stays inside whole-stage codegen
and scales linearly with one shuffle per aggregation.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

STOPWORDS = ("a", "the")


def tokens(text_col: str = "text") -> Column:
    """Whitespace tokenization (array<string>)."""
    return F.split(F.col(text_col), " ")


def word_ngrams(words_col: str, n: int) -> Column:
    """Word n-grams of the token-array column ``words_col`` as
    space-joined strings in position order; [] below ``n`` words.

    The engine's one builder of word k-grams. The ``size >= n`` guard
    also keeps the range ascending: below it ``sequence(0, size - n)``
    would count DOWN and read slices past the end. The caller
    materializes the token array as a named column first, so the
    position lambda reads it instead of re-splitting the text per
    position. No explode: a row-local ``array_distinct`` stays cheap."""
    grams = F.expr(
        f"transform(sequence(0, size({words_col}) - {n}), "
        f"i -> concat_ws(' ', slice({words_col}, i + 1, {n})))"
    )
    return F.when(F.size(words_col) >= n, grams).otherwise(F.array())


def token_count(text_col: str = "text") -> Column:
    return F.size(tokens(text_col))


def bpe_ish_token_count(text_col: str = "text") -> Column:
    """BPE-ish token estimate: count of `[a-z]+|[0-9]+|\\S` matches —
    a deterministic proxy for subword token counts."""
    return F.size(F.expr(f"regexp_extract_all({text_col}, '[a-z]+|[0-9]+|\\\\S', 0)"))


def stopword_count(text_col: str = "text", stopwords=STOPWORDS) -> Column:
    quoted = ", ".join(f"'{s}'" for s in stopwords)
    return F.size(F.expr(f"filter(split({text_col}, ' '), t -> t IN ({quoted}))"))


def quality_score(text_col: str = "text") -> Column:
    """Deterministic [0,1] quality heuristic:
    0.4·min(1, n_tokens/100) + 0.3·(distinct/total tokens)
    + 0.3·(1 − stopword ratio)."""
    n = token_count(text_col).cast("double")
    uniq = F.size(F.array_distinct(tokens(text_col))).cast("double")
    stop = stopword_count(text_col).cast("double")
    return (
        F.lit(0.4) * F.least(F.lit(1.0), n / F.lit(100.0))
        + F.lit(0.3) * (uniq / n)
        + F.lit(0.3) * (F.lit(1.0) - stop / n)
    )


def char_ngrams(text_col: str = "text", k: int = 3) -> Column:
    """Character k-gram array, one gram per code-point offset (empty
    when the text is shorter than k or NULL).

    A ``transform(sequence(...), i -> substr(...))`` lambda runs
    interpreted (higher-order functions have no whole-stage codegen);
    ``regexp_extract_all`` is codegen'd. Each match consumes ONE code
    point and captures the k code points starting there in a lookahead:
    a purely zero-width pattern would make the matcher step one UTF-16
    unit after each empty match and emit grams starting inside a
    surrogate pair. ``(?s)`` lets windows span line terminators."""
    return F.coalesce(
        F.regexp_extract_all(F.col(text_col), F.lit(f"(?s)(?=(.{{{k}}}))."), F.lit(1)),
        F.array().cast("array<string>"),
    )


def lang_profiles(labeled: DataFrame, text_col="text", lang_col="lang", k=3, top_n=20) -> DataFrame:
    """Top-`top_n` character k-grams per language from a labeled corpus
    → (lang, gram) profile relation. Ties broken by gram asc."""
    grams = labeled.select(
        F.col(lang_col).alias("lang"), F.explode(char_ngrams(text_col, k)).alias("gram")
    )
    counts = grams.groupBy("lang", "gram").agg(F.count(F.lit(1)).alias("c"))
    w = W.partitionBy("lang").orderBy(F.col("c").desc(), "gram")
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= top_n)
        .select("lang", "gram")
    )


def lang_id(docs: DataFrame, profiles: DataFrame, id_col="doc_id", text_col="text", k=3) -> DataFrame:
    """Classify each document by profile-gram overlap (n-gram
    heuristic): predicted lang = argmax over langs of |doc grams ∩
    profile grams|, ties broken by lang asc; docs matching no profile
    gram → 'und'. Returns (id, predicted_lang).

    Per-doc gram dedup happens ROW-LOCALLY (array_distinct before the
    explode) — a `.distinct()` relational op here would shuffle every
    gram occurrence (~50× the doc bytes) across the cluster; the
    row-local form dedups for free inside the scan stage, so the only
    shuffled rows are profile HITS (bounded by docs × langs × top_n).
    A fully expression-level variant (broadcast map<lang, grams> +
    array_intersect argmax per row, zero shuffles) was measured 2.5×
    SLOWER at sf0.1 (11 s vs 4.3 s): the per-row hash-set builds cost
    more CPU than the hit shuffle saves. Revisit only if profile hits
    stop being selective.
    """
    doc_grams = docs.select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(char_ngrams(text_col, k))).alias("gram"),
    )
    scores = (
        doc_grams.join(F.broadcast(profiles), "gram")
        .groupBy("id", "lang")
        .agg(F.count(F.lit(1)).alias("score"))
    )
    w = W.partitionBy("id").orderBy(F.col("score").desc(), "lang")
    best = scores.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return (
        docs.select(F.col(id_col).alias("id"))
        .join(best.select("id", F.col("lang").alias("predicted_lang")), "id", "left")
        .select("id", F.coalesce("predicted_lang", F.lit("und")).alias("predicted_lang"))
    )


def lang_profile_and_id(
    labeled: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
    k: int = 3,
    top_n: int = 20,
) -> DataFrame:
    """Fused self-classification: build the per-language profiles AND
    classify the same corpus in one pass (the q56 confusion-matrix
    shape). `lang_profiles` + `lang_id` run the char-gram explode
    twice — here ONE exploded base (lazily checkpointed) feeds both
    the profile counts and the per-doc distinct grams. Returns
    (id, predicted_lang). Use the separate operators when profiles
    come from a different (e.g. larger, offline) corpus.

    Measured ~1.1× over the two-pass form at sf0.1 — and a round-7
    A/B re-measured it ~1.2× over a "row-local array_distinct +
    second explode" variant (3.2 vs 3.75 s at sf0.1): the
    dropDuplicates shuffle is 1.5M SMALL rows across 32 cores,
    cheaper than re-exploding and per-row array_distinct-ing every
    document. The r6 bench drift on q56 (+0.35 s) re-measured flat
    on an idle box — ordering/JVM noise, not code."""
    base = labeled.select(
        F.col(id_col).alias("id"),
        F.col(lang_col).alias("lang"),
        F.explode(char_ngrams(text_col, k)).alias("gram"),
    ).localCheckpoint(eager=False)
    counts = base.groupBy("lang", "gram").agg(F.count(F.lit(1)).alias("c"))
    w = W.partitionBy("lang").orderBy(F.col("c").desc(), "gram")
    profiles = (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= top_n)
        .select(F.col("lang").alias("plang"), "gram")
    )
    doc_grams = base.select("id", "gram").dropDuplicates(["id", "gram"])
    scores = (
        doc_grams.join(F.broadcast(profiles), "gram")
        .groupBy("id", "plang")
        .agg(F.count(F.lit(1)).alias("score"))
    )
    w2 = W.partitionBy("id").orderBy(F.col("score").desc(), "plang")
    best = scores.withColumn("rn", F.row_number().over(w2)).filter(F.col("rn") == 1)
    return (
        labeled.select(F.col(id_col).alias("id"))
        .join(best.select("id", F.col("plang").alias("predicted_lang")), "id", "left")
        .select("id", F.coalesce("predicted_lang", F.lit("und")).alias("predicted_lang"))
    )


def fingerprint(text_col: str = "text", k: int = 8) -> Column:
    """Content fingerprint: lexicographic-min md5 of character k-gram
    shingles (winnowing-style min-sampling with a single global
    window). Deterministic, engine-portable (md5 is standard).
    Distinct-before-hash: repeated shingles can't win the min twice,
    and small-alphabet text repeats heavily (~2× fewer md5 calls)."""
    return F.array_min(
        F.transform(F.array_distinct(char_ngrams(text_col, k)), lambda g: F.md5(g))
    )


def canonical_text(text_col: str = "text") -> Column:
    """Dedup-canonical form of a text column: lowercase, punctuation
    stripped to spaces, whitespace runs collapsed, ends trimmed — the
    normalization every production dedup runs FIRST, so that casing
    and punctuation jitter can't hide an otherwise-exact duplicate
    (the convention in large-corpus dedup pipelines, e.g. the
    normalize-then-hash step of suffix-array and MinHash setups).
    Entirely expression-level (lower / regexp_replace / trim inside
    codegen); deliberately ASCII-scoped — full Unicode NFKC needs a
    Python UDF and is out of the hot path by design."""
    lowered = F.lower(F.col(text_col))
    depunct = F.regexp_replace(lowered, "[^a-z0-9 ]", " ")
    collapsed = F.regexp_replace(depunct, " +", " ")
    return F.trim(collapsed)


def compression_signals(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", level: int = 6
) -> DataFrame:
    """Per-document zlib compression ratio — the Gopher-style
    redundancy detector (highly repetitive or templated text
    compresses far below prose; random/binary junk barely compresses
    at all). Ratio = deflate(utf8(text)) bytes / raw utf8 bytes.

    Rows-only by nature: deflate output length depends on the zlib
    build, so no cross-engine oracle — the invariants (determinism
    within a run, repetitive < diverse, bounded above by raw+overhead)
    are pinned by property tests instead (tests/test_round7_ops.py).

    Scale shape: embarrassingly parallel Arrow batches via
    mapInPandas — no shuffle, no state, one pass; Python cost is
    amortized over whole record batches (never row-at-a-time UDF
    calls). Reference scoring loops run 1 row per call
    (/root/reference/main.py:99-114 processes rows eagerly in
    pandas); here one worker call compresses thousands of docs."""
    import pandas as pd

    out_schema = f"{id_col} long, raw_bytes long, gz_bytes long, ratio double"

    def batches(it):
        import zlib

        for pdf in it:
            raw = pdf[text_col].fillna("").map(lambda s: s.encode("utf-8"))
            gz = raw.map(lambda b: len(zlib.compress(b, level)))
            n = raw.map(len)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "raw_bytes": n,
                    "gz_bytes": gz,
                    "ratio": (gz / n.where(n > 0, 1)).round(6),
                }
            )

    return docs.select(id_col, text_col).mapInPandas(batches, schema=out_schema)
