"""BPE tokenizer: distributed training loop + vocabulary-side
application (Sennrich et al. 2016). Completes the tokenizer story the
engine started with ``selection.bpe_pair_counts`` (q114 = ONE counting
round): this module iterates the count→argmax→merge loop to an actual
merge table, then applies it — the "train the tokenizer on the corpus
you just curated" step of a training-data pipeline.

Scale shape:
- Everything runs over the WORD VOCABULARY (one corpus-token shuffle
  up front; Heaps' law makes the vocab ≪ the token stream) — the same
  trick real BPE trainers use.
- Each training round is: pair count over symbol arrays (map-side
  combined), a 1-row argmax (TakeOrdered), and a row-local greedy
  merge pass expressed with ``aggregate`` (pure JVM, single
  left-to-right pass — handles overlap like 'aaa' + (a,a) → [aa, a]
  exactly like the reference algorithm). The vocab relation is lazily
  checkpointed per round (CC-loop lineage bound). Driver state per
  round: ONE (pair, count) row.
- Application folds the merge table over each DISTINCT word inside
  ``mapInPandas`` (Python cost ∝ vocabulary, never corpus; a 30k-merge
  production table is a plain closure, not a plan literal), then joins
  token counts back to the corpus by word.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from tp_integ_data_pipeline_spark.operators.text import tokens


def _word_vocab(docs: DataFrame, text_col: str) -> DataFrame:
    words = docs.select(F.explode(tokens(text_col)).alias("word"))
    return (
        words.filter(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("wf"))
    )


def _merge_pass(syms: Column, a: str, b: str) -> Column:
    """One greedy left-to-right merge of adjacent (a, b) inside a
    symbol array — row-local ``aggregate`` with a (out, pend) state:
    pend holds the previous unmerged symbol; (pend==a, s==b) merges
    and clears pend, anything else flushes pend. finish() appends the
    trailing pend."""
    la, lb = F.lit(a), F.lit(b)
    init = F.struct(
        F.array().cast("array<string>").alias("out"),
        F.lit(None).cast("string").alias("pend"),
    )
    return F.aggregate(
        syms,
        init,
        lambda acc, s: F.when(
            acc["pend"].isNull(),
            F.struct(acc["out"].alias("out"), s.alias("pend")),
        )
        .when(
            (acc["pend"] == la) & (s == lb),
            F.struct(
                F.concat(acc["out"], F.array(F.concat(la, lb))).alias("out"),
                F.lit(None).cast("string").alias("pend"),
            ),
        )
        .otherwise(
            F.struct(
                F.concat(acc["out"], F.array(acc["pend"])).alias("out"),
                s.alias("pend"),
            )
        ),
        lambda acc: F.when(
            acc["pend"].isNull(), acc["out"]
        ).otherwise(F.concat(acc["out"], F.array(acc["pend"]))),
    )


def train_bpe(
    docs: DataFrame,
    n_merges: int,
    text_col: str = "text",
    min_count: int = 2,
    vocab: DataFrame | None = None,
) -> list[tuple[str, str]]:
    """Learn ``n_merges`` merges from the corpus. Returns the ordered
    merge table (the model — bounded driver state, one tuple per
    round). Ties break deterministically on the pair string. Stops
    early when the best pair drops under ``min_count``.

    ``vocab`` (a precomputed (word, wf) table — ideally lazily
    checkpointed) lets train and apply share ONE corpus-token shuffle;
    omitted, it is derived here. Each round's checkpointed symbol
    table supersedes the previous one — the explicit gc nudge below
    lets the ContextCleaner release the superseded blocks between
    rounds, so storage holds ~one vocab copy, not n_merges of them.
    The distributed loop is built for corpus-scale COUNTING with a
    modest merge budget; a production 30k-merge train would collect
    the (bounded, Heaps-law) vocabulary after this loop's first count
    and run the remaining rounds driver-side over it."""
    import gc

    base = vocab if vocab is not None else _word_vocab(docs, text_col)
    # filter the trailing '' that split's limit=-1 keeps: without it
    # training sees a phantom end-of-word symbol the apply path
    # (_tokenize_word = list(word)) never sees, and merges learned
    # against it — e.g. ('e','') — are dead weight at apply time
    # (round-6 fix; caught by the q153 train-replay oracle)
    vocab = base.withColumn(
        "syms", F.expr("filter(split(word, '(?!^)'), s -> s != '')")
    ).localCheckpoint(eager=False)
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pairs = vocab.select(
            "wf",
            F.explode(
                F.when(
                    F.size("syms") >= 2,
                    F.expr(
                        "transform(sequence(1, size(syms) - 1), "
                        "i -> struct(syms[i-1] as a, syms[i] as b))"
                    ),
                ).otherwise(F.array().cast("array<struct<a:string,b:string>>"))
            ).alias("p"),
        )
        best = (
            pairs.groupBy("p")
            .agg(F.sum("wf").alias("cnt"))
            .orderBy(F.col("cnt").desc(), F.col("p.a"), F.col("p.b"))
            .limit(1)
            .collect()
        )
        if not best or best[0]["cnt"] < min_count:
            break
        a, b = best[0]["p"]["a"], best[0]["p"]["b"]
        merges.append((a, b))
        vocab = vocab.withColumn("syms", _merge_pass(F.col("syms"), a, b)).localCheckpoint(
            eager=False
        )
        # the collect() above materialized the PREVIOUS checkpoint and
        # truncated its lineage; dropping the Python refs + gc lets the
        # ContextCleaner free its storage blocks before the next round
        gc.collect()
    return merges


def _tokenize_word(word: str, merges: list[tuple[str, str]]) -> list[str]:
    syms = list(word)
    for a, b in merges:
        out, pend = [], None
        for s in syms:
            if pend is None:
                pend = s
            elif pend == a and s == b:
                out.append(a + b)
                pend = None
            else:
                out.append(pend)
                pend = s
        if pend is not None:
            out.append(pend)
        syms = out
    return syms


def apply_bpe(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    vocab: DataFrame | None = None,
) -> DataFrame:
    """Tokenize the corpus with a trained merge table: fold the merges
    over each DISTINCT word (mapInPandas — Python ∝ vocabulary), then
    rejoin by word. Returns (word, wf, tokens array<string>, n_tokens)
    per vocabulary entry — corpus-level rollups (total token counts,
    fertility per word) derive from (wf × n_tokens) without touching
    text again. Pass the same precomputed ``vocab`` given to
    ``train_bpe`` so the corpus-token shuffle runs once for the whole
    train→apply workflow."""
    import pandas as pd

    vocab = vocab if vocab is not None else _word_vocab(docs, text_col)
    mlist = list(merges)

    def tok(batches):
        for pdf in batches:
            pdf = pdf.copy()
            toks = [_tokenize_word(w, mlist) for w in pdf["word"]]
            pdf["tokens"] = toks
            pdf["n_tokens"] = [len(t) for t in toks]
            yield pdf

    return vocab.mapInPandas(
        tok, schema="word string, wf long, tokens array<string>, n_tokens long"
    )
