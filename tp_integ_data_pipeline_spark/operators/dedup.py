"""Deduplication operators (SURVEY.md §2.10 X1/X2 + north-star mandate).

Generalizes the reference's dedup-before-write policies (anti-join on
`time` / `id`, /root/reference/main.py:101-133) into the operator set a
100 TB training-data pipeline needs:

- exact dedup            — hash groupBy / window canonical pick
- n-gram Jaccard         — token-shingle inverted index self-join
- MinHash + LSH          — 64 perms, 32 bands × 2 rows, built-in
                           xxhash64 only (no Python in the hot path)
- SimHash                — 64-bit, bit-count hamming, banded candidates
- duplicate clusters     — alternating large-star/small-star connected
                           components (O(log n) rounds)
- embedding cosine       — see operators/similarity.py

Scale notes (1000 executors, 100 TB):
- All pair generation goes through an inverted index (shingle or LSH
  band bucket) — never a cross join. The shuffle key is the
  shingle/bucket, so skewed hot shingles are the main risk; callers
  can cap bucket width (`max_bucket`) to drop degenerate buckets
  (stop-shingle effect), the standard trade in web-scale dedup.
- Signatures are fixed-width (NUM_PERM×8 bytes) per doc — 100 TB of text at
  ~4 KB/doc is 25 G docs → 25 TB of signatures, fine to shuffle.
- Everything is built-in expression work (xxhash64, aggregate, min) —
  whole-stage codegen applies; no Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from tp_integ_data_pipeline_spark.operators.joins import session_width_repartition
from tp_integ_data_pipeline_spark.operators.text import tokens, word_ngrams

# --------------------------------------------------------------------------
# Exact dedup (X1)
# --------------------------------------------------------------------------


def exact_dedup(df: DataFrame, subset: list[str], order_col: str) -> DataFrame:
    """Keep one deterministic canonical row per `subset` group (the one
    with the smallest `order_col`) — `dropDuplicates` with a stable
    winner, which plain dropDuplicates does not guarantee."""
    w = W.partitionBy(*subset).orderBy(order_col)
    return df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")


def dup_stats(df: DataFrame, subset: list[str]) -> DataFrame:
    """One-row summary of duplication over `subset`."""
    return df.groupBy(*subset).agg(F.count(F.lit(1)).alias("__c")).agg(
        F.count(F.lit(1)).alias("n_distinct"),
        F.sum("__c").alias("n_rows"),
        (F.sum("__c") - F.count(F.lit(1))).alias("n_duplicates"),
        F.max("__c").alias("max_group"),
    )


# --------------------------------------------------------------------------
# Token shingles + n-gram Jaccard (X2 exact path)
# --------------------------------------------------------------------------


def shingles(df: DataFrame, id_col: str, text_col: str, k: int = 3) -> DataFrame:
    """Distinct word-`k`-gram shingles per document: (id, sh).

    Pure expression work: split → sequence → slice/concat_ws →
    array_distinct → explode. Documents shorter than k tokens produce
    no shingles. Dedup is ROW-LOCAL (array_distinct before the
    explode): a relational `.distinct()` here would shuffle every
    shingle OCCURRENCE across the cluster just to drop within-doc
    repeats; the row-local form dedups inside the scan stage for free,
    so downstream consumers pay only their own algorithmic shuffle
    (groupBy id for signatures, shuffle on sh for the inverted index).
    """
    toked = df.select(F.col(id_col).alias("id"), tokens(text_col).alias("__toks"))
    return toked.select("id", F.explode(F.array_distinct(word_ngrams("__toks", k))).alias("sh"))


def shingle_sql(table: str, id_col: str, text_col: str, k: int = 3) -> str:
    """DuckDB CTE text producing the identical (id, sh) relation."""
    return f"""
    sh AS (
        SELECT DISTINCT {id_col} AS id,
               array_to_string(toks[i:i+{k - 1}], ' ') AS sh
        FROM (SELECT {id_col}, string_split({text_col}, ' ') AS toks FROM {table}),
             UNNEST(range(1, greatest(len(toks) - {k - 2}, 1))) AS u(i)
    )"""


def pair_jaccard(
    sh: DataFrame, pairs: DataFrame | None = None, sizes: DataFrame | None = None
) -> DataFrame:
    """Jaccard similarity for document pairs from a shingle relation.

    With `pairs=None`, candidates are every pair sharing ≥1 shingle
    (inverted-index self-join — the exact n-gram path). With a
    candidate `pairs(a, b)` DataFrame (e.g. from LSH), only those are
    scored. `sizes(id, n)` can be supplied when the caller already
    computed per-doc shingle counts (avoids an extra aggregation over
    `sh`). Returns (a, b, inter, uni, jaccard).
    """
    if sizes is None:
        sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n"))
    if pairs is None:
        a = sh.alias("a")
        b = sh.alias("b")
        inter = (
            a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.id") < F.col("b.id")))
            .groupBy(F.col("a.id").alias("a"), F.col("b.id").alias("b"))
            .agg(F.count(F.lit(1)).alias("inter"))
        )
    else:
        sa = sh.alias("sa")
        sb = sh.alias("sb")
        inter = (
            pairs.join(sa, pairs.a == F.col("sa.id"))
            .join(sb, (pairs.b == F.col("sb.id")) & (F.col("sa.sh") == F.col("sb.sh")))
            .groupBy("a", "b")
            .agg(F.count(F.lit(1)).alias("inter"))
        )
    na = sizes.select(F.col("id").alias("a"), F.col("n").alias("na"))
    nb = sizes.select(F.col("id").alias("b"), F.col("n").alias("nb"))
    return (
        inter.join(na, "a")
        .join(nb, "b")
        .select(
            "a",
            "b",
            "inter",
            (F.col("na") + F.col("nb") - F.col("inter")).alias("uni"),
            (F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter"))).alias("jaccard"),
        )
    )


# --------------------------------------------------------------------------
# MinHash + LSH (X2 scale path)
# --------------------------------------------------------------------------

NUM_PERM = 64
BANDS = 32  # rows-per-band r = NUM_PERM // BANDS = 2
# P(pair with Jaccard j becomes a candidate) = 1 - (1 - j^r)^b:
#   j=0.6 → 1 - 6e-7 ;  j=0.7 → 1 - 4e-10  (effectively exact above 0.6;
#   the 0.6-threshold property test passes at all three SFs).
# 64/32 was 128/64 in round 1: halving the sketch at the same r keeps
# candidate precision identical and costs ~6e-7 recall per true pair,
# while halving BOTH the signature aggregation work and — measured the
# bigger win at bench scale — the whole-stage-codegen compile time of
# the unrolled per-permutation min aggregates (q42 cold 14.5→9.8 s,
# warm 9.3→4.5 s at sf0.1; identical 256-pair output).


def _minhash_coeffs(num_perm: int) -> list[tuple[int, int]]:
    """The single source of truth for the permutation coefficients —
    `minhash_signatures` and every consumer share these, so the
    signature definition cannot drift between call sites."""
    import random

    p = (1 << 31) - 1
    rng = random.Random(42)
    return [(rng.randrange(1, p) | 1, rng.randrange(0, p)) for _ in range(num_perm)]


def minhash_signatures(
    sh: DataFrame, num_perm: int = NUM_PERM, with_sizes: bool = False
) -> DataFrame:
    """(id, sig array<long>[, n]) MinHash signatures from a shingle relation.

    Universal-hash permutations: perm_i(x) = (a_i·h(x) + b_i) mod p
    over ONE xxhash64 base hash masked to 31 bits (p = 2³¹−1, a_i/b_i
    fixed pseudo-random odd constants) — one string hash per shingle
    instead of num_perm, with products < 2⁶² so ANSI-mode arithmetic
    never overflows. NOTE: the simpler h1 + i·h2 double-hash scheme is
    NOT usable here — for large i the argmin collapses onto argmin(h2),
    destroying permutation independence (observed as LSH misses).
    One shuffle (groupBy id) produces all mins map-side-combined.

    ``with_sizes=True`` rides the per-doc shingle count along in the
    same aggregation (column ``n``) so callers that need set sizes for
    Jaccard verification don't pay a second pass over ``sh``.
    """
    p = (1 << 31) - 1
    coeffs = _minhash_coeffs(num_perm)
    mask = F.lit((1 << 31) - 1)
    h = F.xxhash64(F.col("sh")).bitwiseAND(mask)
    hashed = sh.select("id", h.alias("h"))
    aggs = [
        F.min((F.lit(a) * F.col("h") + F.lit(b)) % F.lit(p)).alias(f"m{i}")
        for i, (a, b) in enumerate(coeffs)
    ]
    if with_sizes:
        aggs.append(F.count(F.lit(1)).alias("n"))
    per_doc = hashed.groupBy("id").agg(*aggs)
    cols = ["id", F.array(*[F.col(f"m{i}") for i in range(num_perm)]).alias("sig")]
    if with_sizes:
        cols.append(F.col("n"))
    return per_doc.select(*cols)


def band_hashes(sig_col, bands: int = BANDS, num_perm: int = NUM_PERM):
    """LSH band-bucket hashes of a signature array column — the single
    source of truth for the bucket definition. `lsh_candidate_pairs`
    (batch) and `NearDupIndex` (incremental, PERSISTED buckets) must
    agree bit-for-bit: drift here would make probes silently return
    zero candidates against an existing index."""
    r = num_perm // bands
    return F.array(
        *[
            F.xxhash64(F.lit(j), *[sig_col[j * r + i] for i in range(r)])
            for j in range(bands)
        ]
    )


def lsh_candidate_pairs(
    sig: DataFrame,
    bands: int = BANDS,
    num_perm: int = NUM_PERM,
    max_bucket: int = 1000,
    hot_bucket: str = "salt",
) -> DataFrame:
    """Distinct candidate pairs (a < b) sharing ≥1 LSH band bucket.

    ``hot_bucket`` governs buckets wider than ``max_bucket``
    (boilerplate-heavy corpora put thousands of docs in one band
    bucket — the skew risk of the inverted-index design):

    - ``"salt"`` (default): the bucket's pair generation is SPLIT
      across ``s = ceil(w / max_bucket)`` salted sub-tasks — the a-side
      keeps one deterministic salt per doc, the b-side is replicated to
      every salt, so EVERY pair is still generated exactly once but no
      single task materializes more than ~``max_bucket × w`` pairs (the
      standard skew-join salting, applied to the self-join). Recall is
      preserved; total pair count is still quadratic in ``w`` — that is
      inherent to bucket membership, and the signature-estimate
      pre-filter downstream prunes it at one codegen'd row per pair.
    - ``"drop"``: the bucket is excluded entirely (stop-shingle
      effect) — the escape hatch for truly degenerate corpora where
      even generating the pairs is unaffordable; costs recall for any
      true pair whose every shared bucket is hot.
    """
    if hot_bucket not in ("salt", "drop"):
        raise ValueError(f"hot_bucket must be 'salt' or 'drop', got {hot_bucket!r}")
    buckets = sig.select(
        "id", F.posexplode(band_hashes(F.col("sig"), bands, num_perm)).alias("band", "bucket")
    )
    widths = buckets.groupBy("band", "bucket").agg(F.count(F.lit(1)).alias("w"))
    if hot_bucket == "drop":
        buckets = buckets.join(
            widths.filter(F.col("w") <= max_bucket).select("band", "bucket"),
            ["band", "bucket"],
        )
        a = buckets.alias("a")
        b = buckets.alias("b")
        return (
            a.join(
                b,
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.bucket") == F.col("b.bucket"))
                & (F.col("a.id") < F.col("b.id")),
            )
            .select(F.col("a.id").alias("a"), F.col("b.id").alias("b"))
            .distinct()
        )
    # salt mode, two paths keyed off the HOT-bucket list — which is
    # TINY by construction (buckets wider than max_bucket; zero on a
    # healthy corpus), so it travels as a broadcast:
    #   narrow path: buckets ANTI-join broadcast(hot) → the plain
    #     self-join, same cost as the uncapped join (no widths column
    #     ever attached to the data rows);
    #   hot path: buckets INNER-join broadcast(hot) → the salted
    #     self-join (a-side salted by id, b-side replicated to every
    #     salt) — every pair still generated exactly once, per-task
    #     fan-out ≤ ~max_bucket × w.
    # With no hot buckets the broadcast is empty, AQE prunes the hot
    # branch, and the plan cost equals the plain self-join.
    hot_list = widths.filter(F.col("w") > max_bucket).withColumn(
        "__s", F.expr(f"int(ceil(w / {int(max_bucket)}))")
    ).select("band", "bucket", "__s")
    narrow = buckets.join(F.broadcast(hot_list), ["band", "bucket"], "left_anti")
    an = narrow.alias("a")
    bn = narrow.alias("b")
    pairs_narrow = an.join(
        bn,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col("a.id") < F.col("b.id")),
    ).select(F.col("a.id").alias("a"), F.col("b.id").alias("b"))
    hot = buckets.join(F.broadcast(hot_list), ["band", "bucket"])
    ah = hot.withColumn("__salt", F.pmod(F.xxhash64("id"), F.col("__s"))).alias("a")
    bh = hot.withColumn(
        "__salt", F.explode(F.expr("sequence(0, cast(__s - 1 as bigint))"))
    ).alias("b")
    pairs_hot = ah.join(
        bh,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col("a.__salt") == F.col("b.__salt"))
        & (F.col("a.id") < F.col("b.id")),
    ).select(F.col("a.id").alias("a"), F.col("b.id").alias("b"))
    return pairs_narrow.union(pairs_hot).distinct()


def estimate_filter_candidates(
    cand: DataFrame, sig: DataFrame, min_matches: int, num_perm: int = NUM_PERM
) -> DataFrame:
    """Drop candidate pairs whose signature-estimated Jaccard
    (matching-minhash fraction) falls below ``min_matches/num_perm``.

    The r=2 band scheme that makes ≥0.6-recall effectively exact is
    also extremely permissive downward (a j=0.2 pair is a candidate
    with p≈0.93), so the candidate set is dominated by junk — measured
    at sf0.1: 7,374 of 7,630 candidates estimate below 0.25 while every
    true pair estimates ≥0.75 (measured with the round-1 128-perm
    sketch; the junk/true separation is perm-count-invariant).
    Estimating from the two NUM_PERM-long
    signature arrays (`zip_with` + `aggregate`, whole-stage-codegen'd,
    one row per pair) is ~30× cheaper than the exact shingle-relation
    probe (hundreds of rows per doc, two joins), so pre-filtering here
    shrinks the expensive verification join to the true-pair set.
    """
    sa = sig.select(F.col("id").alias("a"), F.col("sig").alias("__sig_a"))
    sb = sig.select(F.col("id").alias("b"), F.col("sig").alias("__sig_b"))
    matches = F.expr(
        "aggregate(zip_with(__sig_a, __sig_b, (x, y) -> IF(x = y, 1, 0)), 0, (acc, v) -> acc + v)"
    )
    return (
        cand.join(sa, "a")
        .join(sb, "b")
        .filter(matches >= F.lit(min_matches))
        .select("a", "b")
    )


def minhash_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    threshold: float = 0.6,
    est_sigmas: float | None = 4.5,
    *,
    sig: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate pairs at `jaccard >= threshold`: LSH candidate
    generation + signature-estimate pre-filter + exact Jaccard
    verification of the survivors.

    For threshold ≥ 0.6 the band scheme's miss probability is < 1e-12,
    so the verified output equals the exact n-gram Jaccard result while
    scaling linearly in corpus size instead of quadratically.

    ``est_sigmas`` sets the pre-filter cutoff at
    threshold − est_sigmas·σ where σ = sqrt(t(1−t)/num_perm) — each
    permutation's match is an independent Bernoulli(j), so by
    Hoeffding a TRUE ≥threshold pair is wrongly pruned with
    p ≤ exp(−2·(est_sigmas·σ)²·num_perm) ≈ 6e-5 at t=0.6 (the σ
    definition makes the bound perm-count-invariant)
    (borderline pairs; higher-j pairs are exponentially safer).
    ``None`` disables the pre-filter for exact-recall-certain runs.

    ``sig`` optionally supplies a precomputed ``minhash_signatures(
    shingles(df, ..., k), NUM_PERM, with_sizes=True)`` relation for the
    SAME rows — the threshold-independent prework several queries over
    one corpus share (the ordered_token_sets/ordered= discipline); the
    caller guarantees it was built with this module's constants. The
    shingle relation is still scanned here for exact verification — it
    deliberately stays unmaterialized (see below).
    """
    # One aggregation produces signatures AND shingle-set sizes (the
    # sizes ride along into the LSH band join), so the expensive
    # shingle scan feeds exactly: signature agg + the two verification
    # probes. The SIGNATURE relation is lazily checkpointed: salt-mode
    # candidate generation consumes it from five plan branches (width
    # counts, narrow a/b, hot a/b) plus the estimate filter's two sides
    # and the size lookup — without truncation each branch re-runs the
    # signature aggregation subtree (measured 1.6× whole-operator cost
    # at sf0.1). Fixed width (NUM_PERM longs + n per doc), so the
    # materialization is index-sized — the same class NearDupIndex
    # persists — NOT the corpus-sized shingle TEXT relation, which
    # deliberately stays un-pinned (at 100 TB it would spill ~k× the
    # corpus; its three consumers each reuse the scan-stage exchange
    # instead). An eager .persist() here once degraded later queries
    # via pinned-copy GC pressure; the lazy localCheckpoint ties block
    # lifetime to this plan's RDD, the pattern dup_clusters uses.
    sh = shingles(df, id_col, text_col, k)
    if sig is None:
        sig = minhash_signatures(sh, num_perm=NUM_PERM, with_sizes=True).localCheckpoint(
            eager=False
        )
    cand = lsh_candidate_pairs(sig)
    if est_sigmas is not None:
        sigma = (threshold * (1 - threshold) / NUM_PERM) ** 0.5
        cutoff = max(0.0, threshold - est_sigmas * sigma)
        cand = estimate_filter_candidates(
            cand, sig, min_matches=int(cutoff * NUM_PERM), num_perm=NUM_PERM
        )
    sizes = sig.select("id", "n")
    scored = pair_jaccard(sh, cand, sizes=sizes)
    return scored.filter(F.col("jaccard") >= threshold)


# --------------------------------------------------------------------------
# SimHash (64-bit) — hamming-distance near-dup candidates
# --------------------------------------------------------------------------


def simhash_signatures(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, simhash long): 64-bit SimHash over token occurrences.

    bit_i(doc) = sign of Σ_tokens (±1 by bit i of the token hash),
    occurrence-weighted. All expression-level: one explode + one
    groupBy with 64 conditional sums. The 64 hash bits come from two
    32-bit md5 segments (hex chars 1-8 and 9-16) instead of xxhash64 —
    same distribution quality, but ENGINE-PORTABLE, so the DuckDB
    oracle replays the identical signatures bit-for-bit (round-6
    upgrade that moved q43 off the rows-only list; minhash q41/q42
    keeps xxhash64 — its oracle compares verified Jaccard, not raw
    hashes)."""
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(tokens(text_col)).alias("tok"),
    ).select(
        "id",
        F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("long").alias("h1"),
        F.conv(F.substring(F.md5("tok"), 9, 8), 16, 10).cast("long").alias("h2"),
    )
    bit_sums = [
        F.sum(
            F.when(
                F.shiftright(F.col("h1" if i < 32 else "h2"), i % 32).bitwiseAND(F.lit(1))
                == 1,
                1,
            ).otherwise(-1)
        ).alias(f"b{i}")
        for i in range(64)
    ]
    agg = toks.groupBy("id").agg(*bit_sums)
    sig = None
    for i in range(64):
        bit = F.when(F.col(f"b{i}") > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        term = F.shiftleft(bit, i)
        sig = term if sig is None else sig.bitwiseOR(term)
    return agg.select("id", sig.alias("simhash"))


def hamming_pairs(
    sig: DataFrame, sig_col: str, max_hamming: int = 3, id_col: str = "id"
) -> DataFrame:
    """Pairs of rows whose 64-bit ``sig_col`` values are within
    ``max_hamming``, for ANY 64-bit fingerprint source (text SimHash,
    image dHash, audio chromaprint-style hashes).

    Candidates: pairs agreeing on >= 1 of four 16-bit chunks — by
    pigeonhole, any pair within hamming 3 must agree on one chunk, so
    candidate generation is exact for max_hamming <= 3 and stays an
    equi-join (no cross join). Returns (a, b, hamming)."""
    chunks = sig.select(
        F.col(id_col).alias("id"),
        F.col(sig_col).alias("simhash"),
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col(sig_col), 16 * j).bitwiseAND(F.lit(0xFFFF))
                    for j in range(4)
                ]
            )
        ).alias("chunk_id", "chunk"),
    )
    a = chunks.alias("a")
    b = chunks.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.chunk_id") == F.col("b.chunk_id"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("a"),
            F.col("b.id").alias("b"),
            F.col("a.simhash").alias("sig_a"),
            F.col("b.simhash").alias("sig_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return (
        cand.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("a", "b", "hamming")
    )


def simhash_near_dup_pairs(
    df: DataFrame, id_col: str, text_col: str, max_hamming: int = 3
) -> DataFrame:
    """Text near-dup pairs: SimHash signatures -> :func:`hamming_pairs`
    (chunk-pigeonhole candidates + bit_count verify)."""
    return hamming_pairs(
        simhash_signatures(df, id_col, text_col), "simhash", max_hamming
    )


# --------------------------------------------------------------------------
# Duplicate-cluster resolution (X2 follow-through): near-dup PAIRS →
# connected components → one cluster id per document.
# --------------------------------------------------------------------------


def _large_star(edges: DataFrame) -> DataFrame:
    """One large-star round (Kiveris et al., SoCC'14): every node's
    strictly-larger neighbors are re-linked to the minimum of its
    closed neighborhood. Input/output edges are min-oriented
    ``(u, v)`` with ``u > v``."""
    sym = edges.select(F.col("u").alias("x"), F.col("v").alias("y")).union(
        edges.select(F.col("v").alias("x"), F.col("u").alias("y"))
    )
    mins = (
        sym.groupBy("x")
        .agg(F.min("y").alias("__mn"))
        .select("x", F.least(F.col("__mn"), F.col("x")).alias("m"))
    )
    # Emit (y, m) for neighbors y > x; m <= x < y keeps orientation.
    # No distinct here: output is exactly |E| rows (one per undirected
    # edge, from its smaller endpoint); duplicates are harmless to the
    # small-star mins and are swept by its final distinct — one fewer
    # exchange per round.
    return (
        sym.join(mins.hint("shuffle_hash"), "x")
        .filter(F.col("y") > F.col("x"))
        .select(F.col("y").alias("u"), F.col("m").alias("v"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """One small-star round: every node's smaller neighbors (and the
    node itself) are re-linked to its minimum smaller neighbor. Input
    edges must be min-oriented ``(u, v)`` with ``u > v``."""
    mins = edges.groupBy("u").agg(F.min("v").alias("m"))
    leaves = (
        edges.join(mins.hint("shuffle_hash"), "u")
        .filter(F.col("v") != F.col("m"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )
    roots = mins.select("u", F.col("m").alias("v"))
    return leaves.union(roots).distinct()


def dup_clusters(
    pairs: DataFrame, max_iter: int = 20, stats: dict | None = None
) -> DataFrame:
    """Connected components over an undirected edge list ``pairs(a, b)``
    → ``(id, cluster)`` where ``cluster`` is the minimum node id
    reachable from ``id`` (the canonical-representative convention used
    to collapse near-duplicate groups to one kept document).

    Alternating large-star/small-star (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC'14): each round rewrites
    the edge set toward a star forest rooted at each component's
    minimum node, converging in O(log n) rounds — on the tiny
    cliques/chains of a near-dup graph (diameter ≤ ~4) typically 2.
    Both star joins are pinned to a shuffled hash join built on the
    per-node mins: left to AQE, a join of two tiny sides became a
    broadcast whose build side followed whichever shuffle finished
    first, so a round's job count varied from run to run.
    That replaces the previous O(diameter)-round min-label propagation
    whose per-round driver ``count()`` + eager ``localCheckpoint`` made
    q87/q90 the slowest queries at every SF. Here a round is two edge
    rewrites (each one shuffle) plus ONE convergence probe (an
    early-exit symmetric-difference count, not a collect). Each round
    star-rewrites the edge set through ~8 self-references, so the
    logical plan grows exponentially without truncation — a LAZY
    ``localCheckpoint`` per round truncates it, with the probe's count
    as the materializing action (no extra job, unlike the old
    eager-checkpoint-per-round shape).

    Only nodes with at least one real (a ≠ b) edge in ``pairs`` are
    returned — callers union in singletons (cluster = own id) if they
    need total coverage (a self-loop-only node is a singleton).

    ``stats`` (optional dict) receives ``{"rounds": n}`` on return —
    the scale probe tracks rounds-to-converge alongside wall time.
    """
    if max_iter < 1:
        raise ValueError(f"max_iter must be >= 1, got {max_iter}")
    # Lazy checkpoint: the upstream pair producer (e.g. the whole
    # MinHash/LSH pipeline) would otherwise be embedded ~9× in round
    # 1's plan; materialization rides the first round's rewrite job.
    edges = (
        pairs.select(
            F.greatest(F.col("a"), F.col("b")).alias("u"),
            F.least(F.col("a"), F.col("b")).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    converged = False
    rounds = 0
    for _ in range(max_iter):
        rounds += 1
        new_edges = _small_star(_large_star(edges)).localCheckpoint(eager=False)
        # Fixed-point probe: the min-oriented edge set is a star
        # forest (rooted at component minima — the algorithm's
        # fixed points) iff no node appears as a leaf twice or as
        # both leaf and root. One aggregation + early-exit count —
        # and it fires on the first round that PRODUCES a star
        # forest, so no extra change-detection confirm round.
        ends = new_edges.select(F.col("u").alias("x"), F.lit(1).alias("s")).union(
            new_edges.select(F.col("v").alias("x"), F.lit(0).alias("s"))
        )
        non_star = (
            ends.groupBy("x")
            .agg(F.sum("s").alias("n_u"), F.count(F.lit(1)).alias("n"))
            .filter((F.col("n_u") > 1) | ((F.col("n_u") >= 1) & (F.col("n") > F.col("n_u"))))
            .limit(1)
            .count()
        )
        # The previous round's checkpoint blocks are freed by the
        # ContextCleaner once this reference drops — localCheckpoint
        # storage lives at the RDD level, where Dataset.unpersist()
        # cannot reach it (an explicit call would be a no-op; there is
        # no imperative storage to release on any exit path).
        edges = new_edges
        if non_star == 0:
            converged = True
            break
    if not converged:
        # Exhausting the round budget silently would split any
        # component into several clusters.
        raise RuntimeError(
            f"dup_clusters did not converge within max_iter={max_iter} "
            "rounds. Large-star/small-star needs O(log n) rounds, so "
            "this indicates a pathological graph — raise max_iter."
        )
    if stats is not None:
        stats["rounds"] = rounds
    # The returned DataFrame reads ONLY from the final checkpointed
    # edge set (one row per non-root node — footprint bounded by the
    # label output itself), never from `pairs`: re-reading the pair
    # producer here would re-execute the whole upstream pipeline at the
    # caller's action. Deliberately NOT unpersisted: dropping a
    # localCheckpoint would orphan its truncated lineage.
    # At the fixed point every non-root has exactly one edge, to its
    # component's minimum node (leaf → root); roots map to themselves.
    leaves = edges.select(F.col("u").alias("id"), F.col("v").alias("cluster"))
    roots = edges.select(F.col("v").alias("id"), F.col("v").alias("cluster")).distinct()
    return leaves.union(roots)


def cluster_sizes(clusters: DataFrame) -> DataFrame:
    """(cluster, n_docs) summary of a dup_clusters result."""
    return clusters.groupBy("cluster").agg(F.count(F.lit(1)).alias("n_docs"))


def leakage_safe_split(
    docs: DataFrame, clusters: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Train/val/test assignment that near-dup clusters can NEVER
    straddle: the split key is the cluster REPRESENTATIVE (min-id
    member; a singleton is its own representative), so all members of
    a duplicate cluster land in the same split — otherwise a val/test
    document's near-copy sits in train and the eval is contaminated.
    Same content-stable convention as q76 (first md5 hex digit of the
    key: 0-b train 75%, c-d val 12.5%, e-f test 12.5%). Returns
    (id, split); one broadcast-sized left join against the cluster
    relation (bounded by the number of CLUSTERED docs, not the
    corpus)."""
    rep = (
        docs.select(F.col(id_col).alias("id"))
        .join(clusters, "id", "left")
        .select("id", F.coalesce("cluster", F.col("id")).alias("__rep"))
    )
    d = F.conv(F.substring(F.md5(F.col("__rep").cast("string")), 1, 1), 16, 10).cast("int")
    split = F.when(d < 12, "train").when(d < 14, "val").otherwise("test")
    return rep.select("id", split.alias("split"))


def cluster_canonicals(
    clusters: DataFrame, docs: DataFrame, id_col: str, order_cols: list
) -> DataFrame:
    """Pick ONE canonical member per duplicate cluster by an arbitrary
    quality ordering instead of the min-id convention: returns
    (id, cluster, keep) over every clustered doc, where ``keep`` marks
    the first row per cluster under ``order_cols`` (e.g.
    ``[F.col("quality").desc(), F.col("doc_id")]`` keeps the
    highest-quality member, id as tiebreak — what a curation pipeline
    actually wants when duplicates differ in cleanliness). One window
    per cluster — partitions bounded by cluster size."""
    joined = clusters.join(
        docs.withColumnRenamed(id_col, "id"), "id"
    )
    w = W.partitionBy("cluster").orderBy(*order_cols)
    return (
        joined.withColumn("__rn", F.row_number().over(w))
        .select("id", "cluster", (F.col("__rn") == 1).alias("keep"))
    )


# --------------------------------------------------------------------------
# Exact set-similarity join via prefix filtering (AllPairs/PPJoin,
# Bayardo et al. 2007 / Xiao et al. 2008) — the EXACT complement to
# MinHash-LSH: same "candidates from shared tokens" shape, but the
# prefix bound makes candidate generation LOSSLESS, so the output is
# exactly every pair with Jaccard >= t (hash-checkable against a
# naive all-pairs oracle, no recall caveat).
# --------------------------------------------------------------------------
def ordered_token_sets(toks: DataFrame) -> DataFrame:
    """Per-set element arrays in (global frequency asc, token) order —
    the THRESHOLD-INDEPENDENT prework of every prefix-filtered
    similarity join (rarest-first maximizes prefix selectivity;
    Bayardo et al. 2007). (id, toks, n), lazily checkpointed because
    every consumer reads it at least twice (prefix explode + both
    verify attaches) — and because it is the natural unit to CACHE
    when several queries join the same corpus at different thresholds
    (q175 at 0.6, q185 at 0.5 — plans/similarity_queries._ordered_sets)."""
    freq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("__f"))
    return (
        toks.join(freq, "tok")
        .groupBy("id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct(F.col("__f"), F.col("tok")))),
                lambda s: s["tok"],
            ).alias("toks")
        )
        .select("id", "toks", F.size("toks").alias("n"))
        .localCheckpoint(eager=False)
    )


def set_similarity_join(
    toks: DataFrame | None,
    threshold: float = 0.6,
    *,
    ordered: DataFrame | None = None,
) -> DataFrame:
    """All pairs of documents whose element SETS have Jaccard >=
    ``threshold`` — EXACT, via prefix filtering. ``toks`` is a
    distinct ``(id, tok)`` relation; the element can be anything
    set-shaped (word 3-gram shingles via :func:`shingles` — the q41/
    q42 unit — words, hosts, SKUs).

    Algorithm (AllPairs/PPJoin): order each set's elements by
    ascending GLOBAL frequency (rarest first, deterministic token
    tie-break). Any pair with J(a, b) >= t shares at least one
    element among the first ``|s| - ceil(t * |s|) + 1`` of each side
    (the prefix bound), so candidates = pairs sharing >= 1 PREFIX
    element — an equi-join over the prefix-exploded relation, never
    all-pairs, and the explode is bounded by (1 - t) * |s| + 1
    elements per set (40% at t = 0.6). Unlike MinHash-LSH the
    candidate set is provably COMPLETE, so the output is exactly
    every qualifying pair (hash-checkable against a naive all-pairs
    oracle with no recall caveat); LSH remains the constant-
    signature-width scale path when sets are huge. Verification is
    row-local array_intersect over the two sorted element arrays.
    Shape at 100 TB: one element-freq aggregate, one set-keyed sort,
    the bounded prefix explode, one element-keyed candidate shuffle,
    two id-keyed array attaches.

    Returns (a, b, jaccard) with jaccard rounded to 6 dp BEFORE the
    threshold filter (both engines cut on the same value; ratio of
    non-negative ints — no -0.0 trap).

    ``ordered`` optionally supplies a precomputed/cached
    :func:`ordered_token_sets` relation (it is threshold-independent,
    so queries joining the SAME corpus at different thresholds share
    the dominant prework).
    """
    if ordered is None:
        if toks is None:
            raise ValueError(
                "set_similarity_join: pass a (id, tok) relation or a "
                "precomputed ordered_token_sets relation via ordered="
            )
        ordered = ordered_token_sets(toks)
    # epsilon-guarded ceil: t*n lands a few ULPs ABOVE the exact
    # integer at boundaries (0.6*5 = 3.0000000000000004), which would
    # overshoot the ceil and SHORTEN the prefix by one — a false-
    # negative hazard for pairs sitting exactly on the threshold. The
    # epsilon only ever lengthens the prefix (more candidates — safe).
    prefix_len = (
        F.col("n") - F.ceil(F.col("n") * F.lit(threshold) - F.lit(1e-6)) + 1
    ).cast("int")
    prefix = ordered.select(
        "id",
        "n",
        F.posexplode(F.slice("toks", 1, prefix_len)).alias("p", "tok"),
    ).withColumn("p", F.col("p") + 1)  # 1-based position in the full ordered set
    # Two row-local prunes INSIDE the candidate join — before the
    # distinct and the two array attaches, which is where most
    # spurious candidates die on corpora with a shared-token-heavy
    # vocabulary (round-6 VERDICT finding). Epsilons mirror the
    # prefix bound's: they only WIDEN the window (more candidates —
    # safe).
    #
    # 1. classic AllPairs LENGTH filter: J(a, b) >= t forces
    #    t * max(|a|, |b|) <= |a ∩ b| <= min(|a|, |b|), so each
    #    side's size must be >= t x the other's.
    # 2. PPJoin POSITIONAL filter (Xiao 2008): for the FIRST common
    #    token of a qualifying pair — shared order means every other
    #    common token sits at or after it in BOTH sets — the overlap
    #    is bounded by 1 + min(|x| - px, |y| - py), which must reach
    #    the equivalent-overlap threshold a = ceil(t(|x|+|y|)/(1+t)).
    #    Dropping candidate ROWS that fail the bound is complete:
    #    a qualifying pair's first-common-token row always passes
    #    (and that token is inside both prefixes by the prefix
    #    bound), so the pair survives the distinct even when its
    #    later shared tokens are pruned.
    alpha = F.ceil(
        (F.col("x.n") + F.col("y.n")) * F.lit(threshold / (1.0 + threshold))
        - F.lit(1e-6)
    )
    cand = (
        prefix.alias("x")
        .join(
            prefix.alias("y"),
            (F.col("x.tok") == F.col("y.tok"))
            & (F.col("x.id") < F.col("y.id"))
            & (F.col("y.n") >= F.col("x.n") * F.lit(threshold) - F.lit(1e-6))
            & (F.col("x.n") >= F.col("y.n") * F.lit(threshold) - F.lit(1e-6))
            & (
                F.lit(1)
                + F.least(
                    F.col("x.n") - F.col("x.p"), F.col("y.n") - F.col("y.p")
                )
                >= alpha
            ),
        )
        .select(F.col("x.id").alias("a"), F.col("y.id").alias("b"))
        .distinct()
    )
    # The verification below (two array attaches and an intersect per
    # pair) is compute-dense over a sub-MB relation: an explicit-count
    # exchange keeps it one task per core, where AQE would coalesce the
    # distinct's exchange into one.
    cand = session_width_repartition(cand, "a")
    withsets = (
        cand.join(ordered.select(F.col("id").alias("a"), F.col("toks").alias("__ta")), "a")
        .join(ordered.select(F.col("id").alias("b"), F.col("toks").alias("__tb")), "b")
    )
    inter = F.size(F.array_intersect("__ta", "__tb")).cast("double")
    union = (F.size("__ta") + F.size("__tb")).cast("double") - inter
    return (
        withsets.select("a", "b", F.round(inter / union, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def containment_join(
    qtoks: DataFrame,
    ctoks: DataFrame,
    threshold: float = 0.8,
) -> DataFrame:
    """Asymmetric CONTAINMENT join: pairs (q, c) where corpus set c
    covers >= ``threshold`` of query set q's elements — |q ∩ c| / |q|
    — the pairwise decontamination verb (which corpus document
    contains this benchmark item?), where Jaccard would miss a small
    benchmark prompt embedded in a long document. Inputs are distinct
    ``(id, tok)`` relations (query / corpus side).

    Prefix bound (query side only — containment is asymmetric, so
    only q's misses are budgeted): a c covering >= t|q| elements of q
    must share one of q's first floor((1-t)|q|)+1 rarest elements, so
    candidates = query-prefix explode joined against the corpus
    postings of those (rare!) elements — cost tracks the prefix
    elements' posting lengths, never |q| x |corpus|. Verify is
    row-local array_intersect. Returns (q_id, c_id, containment)
    rounded to 6 dp BEFORE the threshold cut (engine-identical
    boundary; ratio of non-negative ints — no -0.0 trap)."""
    freq = ctoks.groupBy("tok").agg(F.count(F.lit(1)).alias("__f"))
    q_ordered = (
        qtoks.join(freq, "tok", "left")
        .groupBy("id")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.coalesce("__f", F.lit(0)).alias("__f"), F.col("tok")))
                ),
                lambda s: s["tok"],
            ).alias("toks")
        )
        .select("id", "toks", F.size("toks").alias("n"))
        .localCheckpoint(eager=False)
    )
    c_sets = ctoks.groupBy("id").agg(F.array_sort(F.collect_list("tok")).alias("ctoks"))
    # allowed misses = n - min_inter with min_inter = ceil(t*n), via
    # the same epsilon-guarded ceil as set_similarity_join: FP puts
    # t*n a few ULPs above the exact integer at boundaries (0.8*5),
    # which would shorten the prefix and drop exactly-threshold pairs
    prefix_len = (
        F.col("n") - F.ceil(F.col("n") * F.lit(threshold) - F.lit(1e-6)) + 1
    ).cast("int")
    prefix = q_ordered.select("id", F.explode(F.slice("toks", 1, prefix_len)).alias("tok"))
    # no self-pair filter: query and corpus are LOGICALLY DISTINCT id
    # spaces (a benchmark excerpt matching the doc with its own id is
    # the decontamination signal, not a self-join artifact); callers
    # joining a relation against itself filter q_id != c_id downstream
    cand = (
        prefix.join(ctoks.select(F.col("id").alias("c_id"), "tok"), "tok")
        .select(F.col("id").alias("q_id"), "c_id")
        .distinct()
    )
    withsets = (
        cand.join(q_ordered.select(F.col("id").alias("q_id"), F.col("toks").alias("__q")), "q_id")
        .join(c_sets.select(F.col("id").alias("c_id"), F.col("ctoks").alias("__c")), "c_id")
    )
    containment = F.round(
        F.size(F.array_intersect("__q", "__c")).cast("double") / F.size("__q"), 6
    )
    return (
        withsets.select("q_id", "c_id", containment.alias("containment"))
        .filter(F.col("containment") >= threshold)
    )


# --------------------------------------------------------------------------
# Line/paragraph-level exact dedup with keep-FIRST semantics and
# document reassembly (Falcon/CCNet granularity). Complements
# q104-style boilerplate stripping (drop EVERY copy of a frequent
# block): here exactly ONE copy of each distinct line survives — the
# corpus-first occurrence — so unique content is never lost.
# --------------------------------------------------------------------------
LINE_W = 6  # synthetic "line" width (fixture text carries no newlines)


def segment_blocks(
    docs: DataFrame,
    width: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Split whitespace-tokenized documents into non-overlapping
    ``width``-word blocks as (id, pos, line) rows — the synthetic
    "line" unit for fixture text that carries no newlines (real
    corpora would split on '\\n' instead; the downstream machinery is
    identical). One explode, no shuffle."""
    words = tokens(text_col)
    starts = F.sequence(F.lit(1), F.greatest(F.size(words), F.lit(1)), F.lit(width))
    return (
        docs.select(F.col(id_col), words.alias("__w"), F.explode(starts).alias("__i"))
        .select(
            F.col(id_col),
            ((F.col("__i") - 1) / width).cast("int").alias("pos"),
            F.concat_ws(" ", F.slice("__w", F.col("__i"), width)).alias("line"),
        )
    )


def line_dedup_keep_first(
    blocks: DataFrame,
    id_col: str = "doc_id",
    pos_col: str = "pos",
    line_col: str = "line",
) -> DataFrame:
    """Corpus-wide exact line dedup keeping only the FIRST occurrence
    of each distinct line — first = lexicographically smallest
    (id, pos), a total order, so the winner is unique and
    deterministic. Shape at 100 TB: one groupBy on the line key
    (map-side combinable struct-min — no window, no sort of the
    corpus) and one line-keyed equi-join back; both shuffles are on
    the same key so AQE can reuse the exchange. Duplicate lines
    WITHIN a document collapse too (pos > winner pos loses).

    Returns the surviving (id, pos, line) rows; callers reassemble
    documents with an order-preserving re-concat (see
    plans/dedup_queries.q180)."""
    winners = blocks.groupBy(line_col).agg(
        F.min(F.struct(F.col(id_col).alias("wi"), F.col(pos_col).alias("wp"))).alias("__w")
    )
    return (
        blocks.join(winners, line_col)
        .filter(
            (F.col(id_col) == F.col("__w.wi")) & (F.col(pos_col) == F.col("__w.wp"))
        )
        .select(id_col, pos_col, line_col)
    )
