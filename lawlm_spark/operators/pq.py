"""Product quantization (PQ) for embedding compression + ADC search.

The fourth ANN tier next to brute force (similarity.py), rp-LSH
(similarity.py) and IVF (ivf.py): compress each D-dim vector into m
sub-space code ids (m bytes at k<=256), then answer top-k with
Asymmetric Distance Computation — the query stays exact, every corpus
vector's distance is approximated as the sum of m precomputed
query-to-centroid partial distances (Jégou et al. 2011, "Product
Quantization for Nearest Neighbor Search").  At 100 TB this is the
memory story: a 64-dim float corpus shrinks 32x into codes, and the
scan becomes m tiny lookups per row.

Spark-first shape:
  - The CODEBOOK is an index artifact (like IVF centroids): m*k rows of
    (sub, code, centroid), trained once, persisted to a parquet mirror,
    broadcast everywhere it is used — never shuffled.
  - `seed_codebook` derives centroids deterministically from the k
    lowest-id vectors' sub-vectors.  No RNG, no iteration: both engines
    can compute it, which is what makes the r6 oracle a full hash
    match.  Quality comes from `train_codebook` (per-subspace
    pyspark.ml KMeans, seed-pinned) — same schema, drop-in.
  - `encode_pq` is relational: explode each vector into m sub-vectors
    (narrow), broadcast-join the codebook, argmin per (id, sub) with a
    deterministic (dist, code) tiebreak.  One shuffle keyed by id.
  - `encode_pq_expr` is the ZERO-SHUFFLE scale path: the codebook rows
    ride in as literals and the argmin happens inside one projection
    (pure codegen) — encode becomes a map-only job.  Unit-tested
    bit-equal to the relational path.
  - `adc_topk`: per-query lookup table = queries x codebook (tiny x
    tiny, broadcast); codes join it map-side; one sum per (query, id);
    WindowGroupLimit top-k.  The corpus-side shuffle is the final
    per-query aggregation only.

All distances are squared L2 computed as sequential double folds so
the DuckDB oracle (r6_pq_adc_topk) reproduces them bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from lawlm_spark.localdata import local_rows


def _subvec(vec_col, sub: int, d_sub: int):
    """Sub-vector `sub` (0-based) as array<double>."""
    return F.transform(
        F.slice(vec_col, sub * d_sub + 1, d_sub), lambda x: x.cast("double")
    )


def _l2sq(a, b):
    """Squared L2 between two array<double>, sequential fold (oracle parity)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def seed_codebook(
    vecs: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    k: int = 16,
    dim: int = 64,
) -> DataFrame:
    """Deterministic codebook: centroids = sub-vectors of the k
    lowest-id vectors; code = rank by id.  (sub, code, centroid)."""
    d_sub = dim // m
    seeds = vecs.orderBy(id_col).limit(k)
    w = Window.orderBy(id_col)
    coded = seeds.select(
        (F.row_number().over(w) - 1).cast("int").alias("code"), F.col(vec_col)
    )
    return coded.select(
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(m - 1)),
                lambda s: F.transform(
                    F.slice(F.col(vec_col), s * d_sub + 1, d_sub),
                    lambda x: x.cast("double"),
                ),
            )
        ).alias("sub", "centroid"),
        "code",
    ).select(F.col("sub").cast("int"), "code", "centroid")


def train_codebook(
    vecs: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    k: int = 16,
    dim: int = 64,
    seed: int = 7,
    max_iter: int = 20,
) -> DataFrame:
    """KMeans codebook (quality path): one seed-pinned pyspark.ml KMeans
    per subspace over the sub-vector population.  Same schema as
    `seed_codebook`, so everything downstream is drop-in.  m model fits
    on sampled/whole sub-vector tables — training is index-build time,
    not query time (mirror it with `write_mirror` like r5_ivf_prebuilt).
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    from pyspark import StorageLevel

    d_sub = dim // m
    spark = vecs.sparkSession
    # each of the m KMeans fits runs max_iter passes over its sub-vector
    # table — without the persist every pass re-reads (and re-slices)
    # the source corpus, m * max_iter scans at index-build time.  The
    # persisted projection is the vector column only.
    src = vecs.select(F.col(vec_col)).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        rows = []
        for s in range(m):
            sub = src.select(
                array_to_vector(_subvec(F.col(vec_col), s, d_sub)).alias("features")
            )
            model = KMeans(k=k, seed=seed + s, maxIter=max_iter).fit(sub)
            rows += [
                (s, int(c), [float(x) for x in ctr])
                for c, ctr in enumerate(model.clusterCenters())
            ]
        # the returned codebook is literal rows, so the persisted source
        # is safe to release here
        return local_rows(spark, rows, "sub int, code int, centroid array<double>")
    finally:
        src.unpersist()


def encode_pq(
    vecs: DataFrame,
    codebook: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    dim: int = 64,
) -> DataFrame:
    """(id, sub, code): nearest centroid per subspace, ties to the
    lowest code.  Codebook broadcast; one shuffle keyed by (id, sub)."""
    d_sub = dim // m
    sub_rows = vecs.select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(m - 1)),
                lambda s: F.transform(
                    F.slice(F.col(vec_col), s * d_sub + 1, d_sub),
                    lambda x: x.cast("double"),
                ),
            )
        ).alias("sub", "subvec"),
    ).select(F.col(id_col), F.col("sub").cast("int"), "subvec")
    dists = sub_rows.join(F.broadcast(codebook), "sub").select(
        id_col, "sub", "code", F.round(_l2sq(F.col("subvec"), F.col("centroid")), 6).alias("dist")
    )
    w = Window.partitionBy(id_col, "sub").orderBy("dist", "code")
    return (
        dists.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(id_col, "sub", "code")
    )


def encode_pq_expr(
    vecs: DataFrame,
    codebook_rows: list,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    dim: int = 64,
) -> DataFrame:
    """(id, codes array<int>): the zero-shuffle encode — codebook rows
    [(sub, code, centroid), ...] embedded as literals, argmin unrolled
    into one projection.  Map-only: no join, no Exchange (plan-asserted
    in tests), the form a 100 TB encode job should take.  Bit-equal to
    `encode_pq` (same rounded-dist + lowest-code tiebreak)."""
    from lawlm_spark.functions.text import let_bound

    d_sub = dim // m
    by_sub: dict[int, list] = {}
    for sub, code, centroid in codebook_rows:
        by_sub.setdefault(int(sub), []).append((int(code), list(centroid)))

    def argmin_for(sub: int):
        # array_min over (dist, code) structs: linear expression size
        # (a chained when-tree doubles per code — exponential blowup),
        # struct ordering = (dist, lowest code) tiebreak for free
        def entries(sv):
            out = []
            for code, centroid in sorted(by_sub[sub]):
                cent = F.array(*[F.lit(float(x)) for x in centroid])
                out.append(
                    F.struct(
                        F.round(_l2sq(sv, cent), 6).alias("dist"),
                        F.lit(code).alias("code"),
                    )
                )
            return F.array(*out)

        return let_bound(
            _subvec(F.col(vec_col), sub, d_sub),
            lambda sv: F.array_min(entries(sv))["code"],
        ).cast("int")

    return vecs.select(
        F.col(id_col), F.array(*[argmin_for(s) for s in range(m)]).alias("codes")
    )


def adc_topk(
    queries: DataFrame,
    codes: DataFrame,
    codebook: DataFrame,
    qid_col: str = "qid",
    qvec_col: str = "qvec",
    id_col: str = "vec_id",
    topk: int = 5,
    m: int = 8,
    dim: int = 64,
) -> DataFrame:
    """(qid, id, adist, rank): ADC top-k.  lut = queries x codebook
    (both tiny, broadcast): partial squared-L2 of each query sub-vector
    to each centroid.  Codes join the lut map-side; the only corpus
    shuffle is the per-(qid, id) sum; WindowGroupLimit prunes top-k."""
    d_sub = dim // m
    lut = queries.crossJoin(F.broadcast(codebook)).select(
        qid_col,
        "sub",
        "code",
        _l2sq(_subvec(F.col(qvec_col), F.col("sub"), d_sub), F.col("centroid")).alias(
            "pdist"
        ),
    )
    # NB: _subvec with a Column sub: slice accepts column start
    joined = codes.join(F.broadcast(lut), ["sub", "code"])
    dists = joined.groupBy(qid_col, id_col).agg(
        F.round(F.sum("pdist"), 6).alias("adist")
    )
    w = Window.partitionBy(qid_col).orderBy("adist", id_col)
    return (
        dists.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= topk)
        .select(qid_col, id_col, "adist", "rank")
    )


def adc_rerank_topk(
    queries: DataFrame,
    codes: DataFrame,
    codebook: DataFrame,
    vecs: DataFrame,
    qid_col: str = "qid",
    qvec_col: str = "qvec",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    topk: int = 10,
    n_candidates: int = 50,
    m: int = 8,
    dim: int = 64,
) -> DataFrame:
    """The production PQ pipeline: ADC generates n_candidates per query
    from the compressed codes (the corpus scan touches only codes),
    then ONLY those rows are re-ranked with exact squared L2 against
    the full vectors.  The expensive exact math runs on queries x
    n_candidates rows — independent of corpus size — and the candidate
    set joins the vector table as a broadcast semi-filter."""
    cand = adc_topk(
        queries, codes, codebook, qid_col, qvec_col, id_col, n_candidates, m, dim
    ).select(qid_col, id_col)
    full = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    qfull = F.transform(F.col(qvec_col), lambda x: x.cast("double"))
    exact = (
        vecs.join(F.broadcast(cand), id_col)
        .join(F.broadcast(queries), qid_col)
        .select(
            qid_col, id_col, F.round(_l2sq(qfull, full), 6).alias("dist")
        )
    )
    w = Window.partitionBy(qid_col).orderBy("dist", id_col)
    return (
        exact.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= topk)
        .select(qid_col, id_col, "dist", "rank")
    )
