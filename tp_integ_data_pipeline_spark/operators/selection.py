"""Data-selection operators: hashed-n-gram importance weighting (DSIR)
and n-gram LM surprisal scoring — the model-free data-selection verbs
of a pre-training pipeline (select "target-like" documents out of a
raw 100 TB crawl; rank documents by how surprising their character
statistics are under the corpus language model).

Both operators follow Xie et al. 2023 ("Data Selection for Language
Models via Importance Resampling") and the CCNet/Gopher perplexity-
filtering recipe in SHAPE only — features are hashed word uni+bi-grams
/ char trigrams, the "language models" are smoothed count
distributions estimated from the corpus itself. Everything is
expression-level Spark (split / transform / md5 / conv inside
whole-stage codegen) so the scoring pass is one explode + one or two
keyed shuffles, no Python rows, no driver materialization beyond
1-row scalar aggregates.

Scale notes (1000 executors, 100 TB):

* The hashed feature space is FIXED WIDTH (``n_buckets``, default
  4096): bucket count tables are bounded forever, broadcast-able at
  any corpus size, and the md5-based bucketing is engine-portable so
  a DuckDB oracle can replay it exactly.
* The trigram vocabulary is charset-bounded (~1e6 for ASCII-ish text,
  ~1e7 for broad unicode) but DATA-DEPENDENT — its join goes through
  the stats-gated ``maybe_broadcast`` rather than a hard hint, so a
  giant vocab degrades to a shuffle join instead of an executor OOM.
* Per-doc weights are rounded to 6 dp before any rank/threshold so
  double summation order (Spark partial aggs vs the oracle's serial
  sum) cannot flip an ordering.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tp_integ_data_pipeline_spark.operators.joins import maybe_broadcast
from tp_integ_data_pipeline_spark.operators.text import char_ngrams


def hash_bucket(col: F.Column, n_buckets: int) -> F.Column:
    """Deterministic, engine-portable feature hash: first 8 hex chars
    of md5 → long → mod ``n_buckets``. Matches DuckDB's
    ``CAST(('0x' || substr(md5(g), 1, 8)) AS BIGINT) % n`` exactly, so
    oracle SQL can reproduce the bucketing bit-for-bit (unlike
    xxhash64, which DuckDB lacks)."""
    return (
        F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long") % F.lit(n_buckets)
    )


def _uni_bigrams(text_col: str) -> F.Column:
    """Word unigrams + bigrams as one array (the DSIR feature set).
    Expression-level; [] bigram tail for 1-word docs."""
    w = F.split(F.col(text_col), " ")
    bigrams = F.when(
        F.size(w) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(w) - 1),
            lambda i: F.array_join(F.slice(w, i, 2), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.concat(w, bigrams)


def dsir_weights(
    docs: DataFrame,
    is_target: F.Column,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 4096,
) -> DataFrame:
    """Per-document importance weight log(p_target(x)/q_raw(x)) under
    two smoothed bag-of-hashed-ngrams unigram models (DSIR): p is
    estimated from the rows where ``is_target`` holds, q from the whole
    frame. Returns (id, weight) with weight rounded to 6 dp; rank
    descending and take the top-k to select raw documents most like
    the target domain.

    One exploded gram base (lazily checkpointed — it feeds both the
    bucket-count aggregation and the per-doc scoring join) + a
    ≤``n_buckets``-row broadcast log-ratio table + one per-doc sum:
    two keyed shuffles end to end regardless of corpus size.
    """
    base = (
        docs.select(
            F.col(id_col).alias("id"),
            is_target.alias("__t"),
            F.explode(_uni_bigrams(text_col)).alias("__g"),
        )
        .select("id", "__t", hash_bucket(F.col("__g"), n_buckets).alias("bucket"))
        .localCheckpoint(eager=False)
    )
    counts = base.groupBy("bucket").agg(
        F.count(F.when(F.col("__t"), 1)).alias("ct"),
        F.count(F.lit(1)).alias("cr"),
    )
    totals = counts.agg(
        F.sum("ct").alias("__T"), F.sum("cr").alias("__R")
    )
    # +1 / (total + n_buckets) Laplace smoothing: unseen buckets get
    # nonzero mass in both models, so the log-ratio is total-order safe.
    lr = counts.crossJoin(F.broadcast(totals)).select(
        "bucket",
        (
            F.log((F.col("ct") + 1.0) / (F.col("__T") + F.lit(float(n_buckets))))
            - F.log((F.col("cr") + 1.0) / (F.col("__R") + F.lit(float(n_buckets))))
        ).alias("__lr"),
    )
    return (
        base.join(F.broadcast(lr), "bucket")
        .groupBy("id")
        # + 0.0 normalizes IEEE -0.0 after ROUND (cross-engine hash trap:
        # DuckDB's ROUND keeps a tiny-negative's sign of zero, Spark drops it)
        .agg((F.round(F.sum("__lr"), 6) + F.lit(0.0)).alias("weight"))
    )


def trigram_surprisal(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document mean character-trigram surprisal −mean(ln C(g)/N)
    under the corpus's own trigram distribution — the model-free stand-
    in for CCNet's KenLM perplexity filter: LOW surprisal ≈ text whose
    character statistics the corpus has seen everywhere (boilerplate),
    HIGH surprisal ≈ rare/garbled text; both tails are the filter
    targets. Returns (id, n_grams, surprisal) with surprisal rounded
    to 6 dp (docs shorter than 3 chars have no trigrams and are
    omitted — nothing to score).

    The trigram count table is charset-bounded but data-dependent, so
    it routes through the stats-gated ``maybe_broadcast``; at test SF
    it broadcasts, at an extreme-vocab corpus it degrades to a shuffle
    join instead of OOMing. One exploded base feeds both the count agg
    and the scoring join (lazy checkpoint), mirroring ``dsir_weights``.
    """
    base = docs.select(
        F.col(id_col).alias("id"), F.explode(char_ngrams(text_col, 3)).alias("gram")
    ).localCheckpoint(eager=False)
    counts = base.groupBy("gram").agg(F.count(F.lit(1)).alias("c"))
    total = counts.agg(F.sum("c").alias("__N"))
    scored = base.join(maybe_broadcast(counts), "gram").crossJoin(F.broadcast(total))
    return scored.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_grams"),
        (F.round(-F.avg(F.log(F.col("c") / F.col("__N"))), 6) + F.lit(0.0)).alias("surprisal"),
    )


def bpe_pair_counts(
    docs: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """Corpus-wide adjacent-symbol pair frequencies over the word
    vocabulary — the counting step of one BPE merge round (Sennrich et
    al. 2016): pair counts are weighted by word frequency, so the top
    row is exactly the pair a BPE trainer would merge first. Returns
    (pair, cnt).

    The word-frequency rollup happens FIRST (one map-side-combined
    shuffle on the word), so the quadratic-ish char-pair explode runs
    over the VOCABULARY (≪ corpus tokens; Heaps' law), not over every
    token occurrence — the same vocabulary-not-corpus trick real BPE
    trainers use. Pairs are the character 2-grams of each word
    (``text.char_ngrams``: empty for single-char words), and the final
    rollup is the second and last shuffle."""
    words = docs.select(F.explode(F.split(F.col(text_col), " ")).alias("word"))
    vocab = words.groupBy("word").agg(F.count(F.lit(1)).alias("wf"))
    pairs = vocab.select("wf", F.explode(char_ngrams("word", 2)).alias("pair"))
    return pairs.groupBy("pair").agg(F.sum("wf").cast("long").alias("cnt"))


# --------------------------------------------------------------------------
# Host/domain-keyed curation: URL host extraction + per-domain caps —
# the CC-pipeline verb q102's source-level mixture sampling does not
# cover (RefinedWeb/Gopher cap the number of pages any single site
# contributes before source-level mixing).
# --------------------------------------------------------------------------
# Scheme-prefixed URL host: authority after ``scheme://``, dropping
# userinfo, port, path, query, fragment. RE2/Java-portable (no
# backrefs, no lookaround) so a DuckDB oracle replays it verbatim.
URL_HOST_RE = r"^[a-z][a-z0-9+.\-]*://(?:[^/@]*@)?([^/:?#]+)"


def url_host(url_col: F.Column | str) -> F.Column:
    """Lower-cased host of a URL column ('' when the value does not
    parse as a scheme-prefixed URL — callers group the unparseable
    residue under the empty host rather than dropping rows)."""
    col = F.col(url_col) if isinstance(url_col, str) else url_col
    return F.lower(F.regexp_extract(col, URL_HOST_RE, 1))


def domain_cap(
    df: DataFrame,
    host_col: str,
    n_per_host: int,
    rank_cols: list,
    id_col: str,
    n_salts: int = 16,
) -> DataFrame:
    """Keep at most ``n_per_host`` rows per host, preferring rows that
    sort FIRST under ascending ``rank_cols`` order (callers negate
    numeric columns for descending preference and must include a
    unique tiebreak — e.g. the id — so the kept set is deterministic).

    Two-phase so a hot domain never funnels into one task (the
    100 TB reality: a handful of hosts contribute millions of pages):
    stage 1 takes each (host, salt)'s top-N via array_sort over a
    collect_list bounded by slice — map-side combinable, each group
    emits ≤ N rows — and stage 2 re-sorts the ≤ n_salts·N survivors
    per host. No windows, no data-sized sort; both shuffles carry at
    most n_salts·N rows per host."""
    key = F.struct(*[c if not isinstance(c, str) else F.col(c) for c in rank_cols])
    payload = F.struct(*[F.col(c) for c in df.columns])
    salted = df.withColumn(
        "__salt", F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_salts))
    )
    partial = salted.groupBy(host_col, "__salt").agg(
        F.slice(
            F.array_sort(F.collect_list(F.struct(key.alias("k"), payload.alias("p")))),
            1,
            n_per_host,
        ).alias("top")
    )
    final = partial.groupBy(host_col).agg(
        F.slice(F.array_sort(F.flatten(F.collect_list("top"))), 1, n_per_host).alias(
            "top"
        )
    )
    return final.select(F.explode("top").alias("e")).select("e.p.*")


def canonicalize_url(url_col: F.Column | str) -> F.Column:
    """Canonical form of a URL for recrawl/variant dedup — the CC-
    pipeline normalization pass that collapses trivially-distinct
    fetches of the same page BEFORE content hashing:

    1. strip the fragment (#...)
    2. lowercase scheme://authority (path/query case is preserved —
       paths are case-sensitive on most origins)
    3. drop default ports (:80 for http, :443 for https)
    4. drop utm_* tracking params (up to 3 consecutive — bounded
       passes because neither Java nor RE2 global-replace rescans the
       replacement), then mend '?&' / dangling '?'/'&' separators
    5. strip one trailing '/'

    Query-param SORTING is deliberately out of scope (needs a
    tokenizer, and reordering can change semantics on some origins).
    Known limitation: step 2 lowercases the ENTIRE scheme://authority
    span including any RFC 3986 userinfo ("user:PW@host"), which is
    case-sensitive — distinct credentialed URLs can collapse.
    Accepted: crawl-dedup corpora don't carry credentialed URLs, and
    the pass is deterministic on both engines so oracle hashes are
    unaffected.
    Every step is a regexp the DuckDB oracle replays (RE2-compatible:
    no lookaround, no backrefs in patterns), so canonical equality is
    engine-portable. Row-local, codegen-friendly — no UDF."""
    c = F.col(url_col) if isinstance(url_col, str) else url_col
    c = F.regexp_replace(c, r"#.*$", "")  # 1
    head = F.lower(F.regexp_extract(c, r"^([^:/?#]+://[^/?#]*)", 1))
    tail = F.regexp_extract(c, r"^[^:/?#]+://[^/?#]*(.*)$", 1)
    c = F.when(head == "", c).otherwise(F.concat(head, tail))  # 2
    c = F.regexp_replace(c, r"^(http://[^/:?#]+):80($|[/?#])", r"$1$2")  # 3
    c = F.regexp_replace(c, r"^(https://[^/:?#]+):443($|[/?#])", r"$1$2")
    for _ in range(3):  # 4 (bounded consecutive-param passes)
        c = F.regexp_replace(c, r"([?&])utm_[^&]*&", r"$1")
    c = F.regexp_replace(c, r"[?&]utm_[^&]*$", "")
    c = F.regexp_replace(c, r"\?&", "?")
    c = F.regexp_replace(c, r"[?&]$", "")
    # 5 — guarded so a degenerate scheme-only "https://" keeps its
    # slashes (only strip a '/' that follows a path/authority char)
    c = F.regexp_replace(c, r"([^:/])/$", r"$1")
    return c
