"""Product quantization (PQ) with asymmetric-distance search — the
memory-bounded ANN path for corpus-scale embeddings (Jégou et al.
2011, "Product Quantization for Nearest Neighbor Search").

No reference-repo counterpart (SURVEY.md §2.10 extension surface).
Composes the engine's existing pieces into the production IVF-PQ
shape: ``operators/similarity.ivf_*`` restricts candidates to probed
cells (equi-join, never a cross join), PQ codes replace the float
vectors in the candidate scan (m bytes instead of 4d — 32x smaller at
m=8, d=64), ADC scores rank candidates against the TRUE query vector
(asymmetric: only the database side is quantized), and an exact
re-rank of the shortlist restores recall.

Scale/shape notes:
- Training (``pq_fit``) is OFFLINE and the only KMeans: m independent
  sub-space quantizers; the model is a small (sub, code, centroid)
  table — m*k rows — persisted like any catalog table.
- Encode and ADC are row-local higher-order-function work over the
  model attached as ONE broadcast array column (model travels as
  data, not plan literals — plan size is O(1) in m*k, the
  operators/similarity.py convention).
- Zero Python in the query path: no pandas UDFs, everything
  whole-stage-codegen-able.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W


def pq_fit(
    emb: DataFrame,
    m: int = 8,
    k: int = 16,
    seed: int = 42,
    vec_col: str = "embedding",
) -> DataFrame:
    """OFFLINE PQ training: split the d dims into ``m`` contiguous
    sub-spaces, KMeans each (k codes), return the codebook as a
    ``(sub int, code int, centroid array<double>)`` table (m*k rows).
    d must be divisible by m."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    # lazily checkpoint: first() plus m KMeans fits would otherwise
    # re-execute the upstream pipeline m+1 times (the q103-probe
    # lesson); training is offline, so the materialization is paid
    # once per model, not per query
    emb = emb.select(vec_col).localCheckpoint(eager=False)
    d = len(emb.select(vec_col).first()[0])
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    ds = d // m
    rows = []
    for s in range(m):
        sub = emb.select(
            array_to_vector(
                F.slice(F.col(vec_col).cast("array<double>"), s * ds + 1, ds)
            ).alias("features")
        )
        model = KMeans(k=k, seed=seed + s, featuresCol="features").fit(sub)
        rows += [
            (s, c, [float(x) for x in cen])
            for c, cen in enumerate(model.clusterCenters())
        ]
    return emb.sparkSession.createDataFrame(
        rows, "sub int, code int, centroid array<double>"
    )


def _with_codebook(df: DataFrame, codebook: DataFrame) -> DataFrame:
    """Attach the codebook as one broadcast array column ``__cb``,
    sorted by (sub, code) so ``element_at(__cb, sub*k + code + 1)`` is
    positional lookup."""
    cb = codebook.agg(
        F.sort_array(F.collect_list(F.struct("sub", "code", "centroid"))).alias("__cb")
    )
    return df.crossJoin(F.broadcast(cb))


def _sqdist(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x.cast("double") - y) * (x.cast("double") - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def pq_encode(
    emb: DataFrame,
    codebook: DataFrame,
    m: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, codes array<int>) — per sub-space argmin against the
    broadcast codebook, all row-local: for each sub s the centroids are
    the contiguous ``__cb`` slice [s*k+1, k], ranked by (sqdist, code)
    struct sort. m bytes of storage per vector at k<=256."""
    e = emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    withcb = _with_codebook(e, codebook)
    k = F.size("__cb") / F.lit(m)  # codes per sub-space
    ds = F.size("v") / F.lit(m)
    codes = F.transform(
        F.sequence(F.lit(0), F.lit(m - 1)),
        lambda s: F.sort_array(
            F.transform(
                F.slice(F.col("__cb"), (s * k + 1).cast("int"), k.cast("int")),
                lambda c: F.struct(
                    _sqdist(
                        F.slice(F.col("v"), (s * ds + 1).cast("int"), ds.cast("int")),
                        c["centroid"],
                    ).alias("d"),
                    c["code"].alias("code"),
                ),
            )
        )[0]["code"],
    )
    return withcb.select("id", codes.alias("codes"))


def _adc(qv: Column, codes: Column, cb: Column, m: int) -> Column:
    """Asymmetric distance: sum over sub-spaces of sqdist(query
    sub-vector, codebook centroid of the candidate's code). Row-local;
    the candidate's floats are never touched."""
    k = F.size(cb) / F.lit(m)
    ds = F.size(qv) / F.lit(m)
    return F.aggregate(
        F.sequence(F.lit(0), F.lit(m - 1)),
        F.lit(0.0),
        lambda acc, s: acc
        + _sqdist(
            F.slice(qv, (s * ds + 1).cast("int"), ds.cast("int")),
            F.element_at(cb, (s * k + F.element_at(codes, s + 1) + 1).cast("int"))[
                "centroid"
            ],
        ),
    )


def build_inverted_index(
    emb: DataFrame,
    centroids: DataFrame,
    codebook: DataFrame,
    m: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The offline index-build step: (n_id, cell, codes) — IVF cell
    assignment joined with PQ codes, ONE scan of the float corpus
    (lazily checkpointed so the two consumers share it). Persist this
    partitioned/bucketed by ``cell``; the query path then reads only
    probed cells and never the float column."""
    base = emb.select(id_col, vec_col).localCheckpoint(eager=False)
    from tp_integ_data_pipeline_spark.operators.similarity import ivf_assign

    assigned = ivf_assign(base, centroids, id_col, vec_col).select("n_id", "cell")
    coded = pq_encode(base, codebook, m, id_col, vec_col).select(
        F.col("id").alias("n_id"), "codes"
    )
    return assigned.join(coded, "n_id")


def ivf_pq_topk(
    emb: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    codebook: DataFrame,
    m: int,
    k: int = 5,
    n_probe: int = 4,
    shortlist: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    inverted: DataFrame | None = None,
) -> DataFrame:
    """IVF-PQ ANN query: probe n_probe IVF cells (equi-join on cell) →
    ADC-rank the cell members by their PQ codes (no float reads on the
    candidate side) → exact-L2 re-rank of the top ``shortlist``*k ADC
    survivors against the true vectors. ``centroids`` from
    similarity.ivf_fit, ``codebook`` from pq_fit — both offline.

    ``inverted`` is the PERSISTED index — ``build_inverted_index``'s
    (n_id, cell, codes) table, written once offline. Pass it so the
    query path never reads the float corpus for candidates; when
    omitted (small corpora / tests) it is derived inline, which scans
    the floats once per call. At 100 TB with a persisted index the
    candidate scan touches codes (m bytes/vec) instead of vectors
    (4d bytes/vec); only shortlist*k rows per query ever read floats
    again (an id equi-join back into the bucketed corpus).
    """
    from tp_integ_data_pipeline_spark.operators.similarity import (
        nearest_cells,
        with_centroid_list,
    )

    if inverted is None:
        inverted = build_inverted_index(emb, centroids, codebook, m, id_col, vec_col)

    q = queries.select(F.col(id_col).alias("q_id"), F.col(vec_col).alias("qv"))
    probed = (
        with_centroid_list(q, centroids)
        .select(
            "q_id",
            "qv",
            F.explode(nearest_cells(F.col("qv"), F.col("__cs"), n_probe)).alias("p"),
        )
        .select("q_id", "qv", F.col("p.cell").alias("cell"))
    )
    cand = _with_codebook(
        probed.join(inverted, "cell").filter(F.col("q_id") != F.col("n_id")),
        codebook,
    )
    adc = cand.select(
        "q_id", "qv", "n_id", _adc(F.col("qv"), F.col("codes"), F.col("__cb"), m).alias("adc")
    )
    wa = W.partitionBy("q_id").orderBy(F.col("adc"), F.col("n_id"))
    short = (
        adc.withColumn("arank", F.row_number().over(wa))
        .filter(F.col("arank") <= shortlist * k)
        .drop("arank", "adc")
    )
    # exact re-rank: only shortlist*k rows per query re-read floats
    vecs = emb.select(F.col(id_col).alias("n_id"), F.col(vec_col).alias("nv"))
    exact = short.join(vecs, "n_id").withColumn("dist", _sqdist(F.col("qv"), F.col("nv")))
    we = W.partitionBy("q_id").orderBy(F.col("dist"), F.col("n_id"))
    return (
        exact.withColumn("rank", F.row_number().over(we))
        .filter(F.col("rank") <= k)
        .select("q_id", "n_id", "rank", F.round("dist", 6).alias("dist6"))
    )
