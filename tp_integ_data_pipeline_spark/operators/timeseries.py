"""Time-series repair: grouped linear interpolation of missing values
(the hypertable ``interpolate`` verb, complementing q140's LOCF
``locf``). No reference-repo counterpart — SURVEY.md §2.10 extension
surface for sensor/telemetry feature pipelines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W


def interpolate_linear(
    df: DataFrame,
    key_col: str,
    t_col: str,
    value_col: str,
    out_col: str = "v_interp",
) -> DataFrame:
    """Fill null ``value_col`` rows by linear interpolation between the
    nearest non-null neighbors WITHIN each key's time order; leading
    (no previous anchor) and trailing (no next anchor) gaps fall back
    to the single available anchor (nearest-value extrapolation), and
    a key with no anchors at all stays null.

    Shape at 100 TB: two key-partitioned windows (running last/first
    with ignorenulls over preceding / following frames) — both reuse
    the SAME (key, t) sort order, so Catalyst plans one shuffle + one
    sort for the pair; no self-join, no driver state. ``t_col`` must
    be numeric (epoch/bucket); interpolation weights are computed in
    double.
    """
    prev_frame = (
        W.partitionBy(key_col).orderBy(t_col).rowsBetween(W.unboundedPreceding, -1)
    )
    next_frame = (
        W.partitionBy(key_col).orderBy(t_col).rowsBetween(1, W.unboundedFollowing)
    )
    anchor = F.when(F.col(value_col).isNotNull(), F.struct(F.col(t_col).alias("t"), F.col(value_col).alias("v")))
    prev = F.last(anchor, ignorenulls=True).over(prev_frame)
    nxt = F.first(anchor, ignorenulls=True).over(next_frame)
    with_n = df.withColumn("__p", prev).withColumn("__n", nxt)
    span = F.col("__n.t") - F.col("__p.t")
    interp = F.col("__p.v") + (F.col("__n.v") - F.col("__p.v")) * (
        (F.col(t_col) - F.col("__p.t")) / span
    )
    filled = (
        F.when(F.col(value_col).isNotNull(), F.col(value_col))
        .when(F.col("__p").isNotNull() & F.col("__n").isNotNull() & (span != 0), interp)
        .when(F.col("__p").isNotNull(), F.col("__p.v"))
        .otherwise(F.col("__n.v"))
    )
    return with_n.withColumn(out_col, filled).drop("__p", "__n")


def stratified_sample(
    df: DataFrame, strata: list[str], id_col: str, k: int
) -> DataFrame:
    """Deterministic exact-k-per-stratum sample: rows are ranked within
    each stratum by a content hash of the id (md5 — portable to the
    SQL oracle, unlike xxhash64) and the first ``k`` are kept. Fully
    reproducible across runs/engines — the property a train/eval split
    audit needs; use weighted_sample (q119) when inclusion must track
    a weight column instead.

    Shape: one stratum-keyed window; Spark ≥3.5 rewrites the rank
    filter to WindowGroupLimit, keeping per-partition state at k rows
    per stratum before the shuffle."""
    w = W.partitionBy(*strata).orderBy(
        F.md5(F.col(id_col).cast("string")), F.col(id_col)
    )
    return (
        df.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= k)
        .drop("__rk")
    )


def grouped_median(df: DataFrame, keys: list[str], val: str, out: str) -> DataFrame:
    """Exact per-group median via the rank/count window formulation
    (the q131 percentile pattern): distributed sort WITHIN each group,
    average of the two middle ranks for even counts — matching the SQL
    interpolating MEDIAN() — and never Spark's percentile aggregate,
    whose buffer holds every group value in one task at 100 TB."""
    wk = W.partitionBy(*keys)
    ranked = df.select(
        *keys,
        F.col(val).alias("__v"),
        F.row_number().over(wk.orderBy(F.col(val))).alias("__rk"),
        F.count(F.lit(1)).over(wk).alias("__n"),
    )
    mid = ranked.filter(
        (F.col("__rk") == F.floor((F.col("__n") + 1) / 2))
        | (F.col("__rk") == F.ceil((F.col("__n") + 1) / 2))
    )
    return mid.groupBy(*keys).agg(F.avg("__v").alias(out))


def exact_moments(df: DataFrame, key: str) -> DataFrame:
    """Per-``key`` raw moments of the DECIMAL columns ``x`` and ``y``:
    ``n`` and the sums ``sx``, ``sy``, ``sxy``, ``sxx`` and ``syy``,
    each summed exactly in DECIMAL and then cast to double. An exact sum
    does not depend on the partial-aggregation order, so statistics
    derived from these moments by one double expression tree are
    bit-identical across partitionings and engines (q88, q189). Cast
    the inputs to DECIMAL before calling: the engines round the DECIMAL
    cast of a double product differently. One map-side-combined
    rollup."""
    x, y = F.col("x"), F.col("y")
    return df.groupBy(key).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).cast("double").alias("sx"),
        F.sum(y).cast("double").alias("sy"),
        F.sum(x * y).cast("double").alias("sxy"),
        F.sum(x * x).cast("double").alias("sxx"),
        F.sum(y * y).cast("double").alias("syy"),
    )


def robust_outliers(
    df: DataFrame, keys: list[str], val: str, z: float = 3.5
) -> DataFrame:
    """Per-group robust outlier summary via the modified z-score
    (Iglewicz-Hoaglin): 0.6745 * (x - median) / MAD > z, with MAD the
    median absolute deviation — immune to the outliers themselves,
    unlike mean/stddev z-scores. Returns (keys..., med, mad, n,
    n_outliers). A zero MAD (over half the group identical) flags
    nothing, by convention. Shape: two grouped-median passes (each one
    group-keyed sort) + broadcastable |groups|-row stat joins — no
    all-values-in-one-buffer percentile aggregate."""
    med = grouped_median(df, keys, val, "med")
    with_med = df.join(F.broadcast(med), keys).withColumn(
        "__ad", F.abs(F.col(val) - F.col("med"))
    )
    mad = grouped_median(with_med, keys, "__ad", "mad")
    scored = with_med.join(F.broadcast(mad), keys).withColumn(
        "__mz",
        F.when(
            F.col("mad") > 0,
            F.lit(0.6745) * (F.col(val) - F.col("med")) / F.col("mad"),
        ),
    )
    return (
        scored.groupBy(*keys, "med", "mad")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count(F.when(F.abs(F.col("__mz")) > z, 1)).alias("n_outliers"),
        )
        .select(*keys, "med", "mad", "n", "n_outliers")
    )


def grouped_quantiles(
    df: DataFrame, keys: list[str], val: str, tenths: list[int]
) -> DataFrame:
    """Exact per-group discrete quantiles (percentile_disc semantics:
    the value at rank ceil(q*n), no interpolation) for q = t/10 over
    ``tenths`` — the generalization of :func:`grouped_median`'s p50 to
    a decile vector (feature binning edges, SLA percentiles).

    The target rank is computed in PURE INTEGER arithmetic —
    (t*n + 9) div 10 — so there is no q*n floating-point boundary for
    engines to disagree on (0.1*n is not exact in binary). One
    group-keyed window sort, then a row-local rank-set membership
    filter — never a percentile aggregate buffering whole groups, and
    the output is |groups| x |tenths| rows. Returns (keys..., tenth,
    v)."""
    wk = W.partitionBy(*keys)
    ranked = df.select(
        *keys,
        F.col(val).alias("__v"),
        F.row_number().over(wk.orderBy(F.col(val))).alias("__rk"),
        F.count(F.lit(1)).over(wk).alias("__n"),
    )
    # row-local explode of the constant tenth list (no join node, no
    # broadcast-side allowlisting): |tenths| candidates per row, rank
    # membership filtered immediately
    hits = ranked.select(
        *keys,
        "__v",
        "__rk",
        "__n",
        F.explode(F.array(*[F.lit(t) for t in tenths])).alias("tenth"),
    ).filter(F.col("__rk") == F.expr("(tenth * __n + 9) div 10"))
    return hits.select(*keys, "tenth", F.col("__v").alias("v"))


def grouped_weighted_median(
    df: DataFrame, keys: list[str], val: str, weight: str
) -> DataFrame:
    """Exact per-group WEIGHTED median: the smallest value whose
    running weight sum reaches half the group's total weight (lower
    weighted median — deterministic, no interpolation, so both engines
    pick the identical row). The weighted generalization of
    :func:`grouped_median`: revenue-weighted median price, token-
    weighted median doc length. One group-keyed window sort carrying a
    running weight sum + a 1-per-group total, then a row-local
    first-crossing pick — never a collect of group values. Returns
    (keys..., wmedian)."""
    wk = W.partitionBy(*keys)
    ordered = wk.orderBy(F.col(val), F.col(weight))
    ranked = df.select(
        *keys,
        F.col(val).alias("__v"),
        F.sum(weight).over(ordered.rowsBetween(W.unboundedPreceding, 0)).alias("__cw"),
        F.sum(weight).over(wk).alias("__tw"),
    )
    crossed = ranked.filter(F.col("__cw") * 2 >= F.col("__tw"))
    return crossed.groupBy(*keys).agg(F.min("__v").alias("wmedian"))
