"""Data-layout operators: N-column Z-order (Morton) clustering for
multi-column file skipping, and one-file writes of small frames —
attacking the 100 TB I/O cost from the STORAGE side, which is where a
lakehouse wins or loses.

A box predicate on (x, y) after a 1-D sort on either column prunes on
that column only; sorting by the interleaved-bit Morton value makes
files cover LOCAL RECTANGLES of the key space, so parquet min/max
stats skip most files for multi-column box queries (Delta OPTIMIZE
ZORDER's mechanism). The curve value is a pure bit-interleave
expression — JVM-side arithmetic, no UDF.

``sized_for_write`` writes a small frame as one file, however many
partitions happen to feed it — the small-file half of Delta's optimized
writes, without the extra shuffle. Its plan-time size test,
``split_count``, also sizes the exact cosine kernel
(``similarity.cosine_pairs``).

No reference-repo counterpart — SURVEY.md §2.10 extension surface.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from tp_integ_data_pipeline_spark.operators.joins import parse_size_bytes, plan_size_bytes

Z_BITS = 16  # per-column resolution for zorder_dataframe's quantized path


def _quantize(col: Column, cmin: Column, cmax: Column, bits: int) -> Column:
    """Map a numeric column into [0, 2^bits) via min/max normalization
    (degenerate min==max collapses to 0)."""
    span = cmax.cast("double") - cmin.cast("double")
    frac = F.when(span > 0, (col.cast("double") - cmin.cast("double")) / span).otherwise(
        F.lit(0.0)
    )
    q = F.floor(frac * F.lit((1 << bits) - 1)).cast("long")
    return F.greatest(F.lit(0), F.least(F.lit((1 << bits) - 1), q))


def zorder_interleave(quantized: list[Column], bits: int = Z_BITS) -> Column:
    """Bit-interleave already-quantized [0, 2^bits) columns into one
    z-value: output bit (i·n_cols + j) = bit i of column j.

    Requires ``len(quantized) * bits <= 63``: bit 63 is the sign bit
    of a LongType, so letting the interleave reach it would make the
    top rows sort FIRST under repartitionByRange, and shifts >= 64
    wrap silently (round-6 ADVICE finding). ``zorder_dataframe``
    clamps ``bits`` before calling; direct callers get a hard error."""
    n = len(quantized)
    if n * bits > 63:
        raise ValueError(
            f"zorder_interleave: {n} cols x {bits} bits = {n * bits} "
            "interleaved bits; must be <= 63 to stay in a signed long "
            "(clamp bits, e.g. bits = 63 // n_cols)"
        )
    terms = []
    for i in range(bits):
        for j, q in enumerate(quantized):
            src_bit = q.bitwiseAND(F.lit(1 << i))
            shift = i * n + j - i  # position (i*n + j) minus source position i
            terms.append(
                F.shiftleft(src_bit, shift) if shift >= 0 else F.shiftright(src_bit, -shift)
            )
    z = terms[0]
    for t in terms[1:]:
        z = z.bitwiseOR(t)
    return z


def zorder_dataframe(
    df: DataFrame, cols: list[str], n_files: int, bits: int = Z_BITS
) -> DataFrame:
    """Return ``df`` re-clustered so a .write produces ``n_files`` files
    whose min/max envelopes are tight in EVERY column of ``cols``.

    Column min/max ride along as a 1-row broadcast aggregate computed
    in the same job — no eager driver action, so the operator composes
    lazily like any other plan node. Used by DataLake.compact(zorder_cols=...).
    """
    # stay inside the 63 value bits of a signed long: 4 cols at the
    # default 16 bits would place a bit at position 63 (sign) and 5+
    # cols would wrap shifts past 64 (round-6 ADVICE finding)
    bits = min(bits, 63 // max(1, len(cols)))
    aggs = []
    for c in cols:
        aggs += [F.min(c).alias(f"__min_{c}"), F.max(c).alias(f"__max_{c}")]
    bounds = df.agg(*aggs)
    quantized = [
        _quantize(F.col(c), F.col(f"__min_{c}"), F.col(f"__max_{c}"), bits) for c in cols
    ]
    with_z = (
        df.crossJoin(F.broadcast(bounds))
        .withColumn("__z", zorder_interleave(quantized, bits))
        .drop(*[f"__min_{c}" for c in cols], *[f"__max_{c}" for c in cols])
    )
    return with_z.repartitionByRange(n_files, "__z").sortWithinPartitions("__z").drop("__z")


def _read_size_bytes(df: DataFrame) -> int | None:
    """Bytes of the relations the frame's optimized plan reads: the sum
    of its leaves' size estimates (file sizes, for a scan). None when a
    leaf has no size of its own and reports Spark's unknown-size default
    (``spark.sql.defaultSizeInBytes``), as an RDD-backed frame does."""
    try:
        unknown = int(df.sparkSession._jsparkSession.sessionState().conf().defaultSizeInBytes())
        leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
        sizes = [int(str(leaves.apply(i).stats().sizeInBytes())) for i in range(leaves.size())]
    except Exception:
        return None
    return None if any(s >= unknown for s in sizes) else sum(sizes)


def estimated_bytes(df: DataFrame) -> int | None:
    """The frame's size as a plan-time choice reads it, without a Spark
    job: the smaller of Catalyst's estimate for it and the bytes of the
    relations it reads. Join estimates multiply their sides, and a merge
    writes no more than it reads, while a frame that fans out (e.g. by
    an explode) can outgrow its inputs. None when the frame reads a
    relation of unknown size."""
    read = _read_size_bytes(df)
    if read is None:
        return None
    plan = plan_size_bytes(df)
    return read if plan is None else min(plan, read)


def split_count(df: DataFrame) -> int | None:
    """How many scan splits the frame's estimated size fills, at least
    one: Spark reads a scan of at most ``spark.sql.files.openCostInBytes``
    (from the live session) as one partition. None when the frame reads
    a relation of unknown size."""
    size = estimated_bytes(df)
    if size is None:
        return None
    split = parse_size_bytes(df.sparkSession.conf.get("spark.sql.files.openCostInBytes"))
    return max(1, -(-size // split))


def sized_for_write(df: DataFrame) -> DataFrame:
    """``df`` coalesced to one partition when it fits in one scan split
    (``split_count``), so a small warehouse version or lake batch is
    written as one file and every later scan of it is one task. A frame
    that outgrows its inputs lands as one larger file. A larger frame,
    or one of unknown size, is returned unchanged, so a mid-size or
    large write keeps the parallelism its plan gives it."""
    return df.coalesce(1) if split_count(df) == 1 else df
