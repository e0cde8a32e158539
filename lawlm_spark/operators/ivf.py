"""IVF (inverted-file) approximate nearest neighbor (task brief: "an IVF
or LSH-bucketed variant as the scale path").

Classic two-stage ANN: KMeans partitions the corpus into nlist cells
(the "inverted file"); a query scores only the cells whose centroids are
nearest (nprobe of them).  Complements rp-LSH (similarity.py): IVF
adapts to the data distribution (learned centroids) where LSH is
data-oblivious; IVF recall/cost is tuned by nprobe at query time without
re-indexing.

Scale shape: training samples the corpus (KMeans on a bounded sample),
assignment is one scan + a broadcast of nlist centroids, and the query
join hits nprobe/nlist of the corpus — shuffle on cell id only.  The
centroid set is tiny and always broadcast.

Not oracle-checkable (KMeans float iterations aren't reproducible in
SQL); certified by tests against brute-force cosine instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from lawlm_spark.functions.vectors import cosine
from lawlm_spark.localdata import local_rows
from lawlm_spark.operators.ranking import top_k


def train_ivf_centroids(
    emb: DataFrame, vec_col: str, nlist: int = 16, seed: int = 42, sample_fraction: float = 1.0
) -> DataFrame:
    """(cell_id int, centroid array<double>): KMeans cells.

    At 100 TB pass sample_fraction << 1 — centroid quality needs a
    bounded sample, not the corpus.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    train = emb if sample_fraction >= 1.0 else emb.sample(sample_fraction, seed=seed)
    ds = train.select(array_to_vector(F.col(vec_col).cast("array<double>")).alias("features"))
    model = KMeans(k=nlist, seed=seed, maxIter=20).fit(ds)
    spark = emb.sparkSession
    return local_rows(
        spark,
        [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())],
        "cell_id int, centroid array<double>",
    )


def assign_cells(
    emb: DataFrame, id_col: str, vec_col: str, centroids: DataFrame
) -> DataFrame:
    """Corpus rows + their nearest-centroid cell_id (one scan, centroids
    broadcast, argmax via per-row top-1 window over the tiny cross)."""
    scored = emb.crossJoin(broadcast(centroids)).select(
        id_col,
        vec_col,
        "cell_id",
        cosine(F.col(vec_col), F.col("centroid")).alias("_cc"),
    )
    return top_k(scored, [id_col], F.col("_cc").desc(), 1, tiebreak=["cell_id"]).drop(
        "_cc", "rn"
    )


def ivf_topk(
    indexed: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    query_id_col: str,
    query_vec_col: str,
    k: int = 10,
    nprobe: int = 4,
) -> DataFrame:
    """ANN top-k over an IVF index (`indexed` = assign_cells output).

    Query side: rank cells by centroid cosine, keep nprobe; join the
    corpus on cell_id (probing nprobe/nlist of it); exact cosine re-rank.
    """
    q_cells = queries.crossJoin(broadcast(centroids)).select(
        query_id_col,
        query_vec_col,
        "cell_id",
        cosine(F.col(query_vec_col), F.col("centroid")).alias("_qc"),
    )
    probes = top_k(q_cells, [query_id_col], F.col("_qc").desc(), nprobe, tiebreak=["cell_id"]).select(
        query_id_col, query_vec_col, "cell_id"
    )
    scored = indexed.join(broadcast(probes), "cell_id").select(
        query_id_col,
        id_col,
        F.round(cosine(F.col(vec_col), F.col(query_vec_col)), 6).alias("cos"),
    )
    return top_k(scored, [query_id_col], F.col("cos").desc(), k, tiebreak=[id_col])


def seed_ivf_centroids(
    emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding", nlist: int = 8
) -> DataFrame:
    """(cell_id, centroid): the nlist lowest-id vectors as cells — the
    deterministic twin of train_ivf_centroids (pq.seed_codebook's
    pattern): both engines derive identical centroids, which is what
    lets an IVF-composed query carry a full hash oracle.  KMeans stays
    the quality path."""
    seeds = emb.orderBy(id_col).limit(nlist)
    return seeds.select(
        (F.row_number().over(Window.orderBy(id_col)) - 1).alias("cell_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("centroid"),
    )


def ivfpq_topk(
    indexed: DataFrame,
    codes: DataFrame,
    centroids: DataFrame,
    codebook: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "qid",
    qvec_col: str = "qvec",
    k: int = 5,
    nprobe: int = 4,
    n_candidates: int = 50,
    m: int = 8,
    dim: int = 64,
) -> DataFrame:
    """IVF-PQ: the faiss-IVFPQ composition, the production ANN shape.

    Three bounds stack multiplicatively: the coarse quantizer restricts
    the scan to nprobe/nlist of the corpus (join on cell_id against the
    broadcast probe list); ADC ranks ONLY the probed rows from their
    8-byte codes (the full vectors are never read here); exact L2 then
    re-ranks n_candidates rows per query — constant work independent of
    corpus size.  Every small side (centroids, probes, LUT, candidate
    list) broadcasts; the only corpus-sized shuffle is the per-(query,
    id) partial-distance sum over probed cells.

    `indexed` = assign_cells output (or seed-centroid assignment);
    `codes` = encode_pq/encode_pq_expr output (id, sub, code).  Encoding
    raw vectors, not faiss's cell residuals — a documented deviation:
    residual encoding needs a per-cell codebook train pass that buys
    recall only when cells are tight; the exact re-rank stage recovers
    most of the difference (recall pinned in test_ivf.py).

    With nprobe = nlist and n_candidates >= corpus the result is
    EXACTLY brute-force L2 top-k — the r7_ivfpq hash certification;
    partial probes are the quality path.
    """
    from lawlm_spark.operators.pq import _l2sq, _subvec

    d_sub = dim // m
    q_cells = queries.crossJoin(broadcast(centroids)).select(
        qid_col,
        qvec_col,
        "cell_id",
        cosine(F.col(qvec_col), F.col("centroid")).alias("_qc"),
    )
    probes = top_k(
        q_cells, [qid_col], F.col("_qc").desc(), nprobe, tiebreak=["cell_id"]
    ).select(qid_col, "cell_id")
    lut = queries.crossJoin(broadcast(codebook)).select(
        qid_col,
        "sub",
        "code",
        _l2sq(_subvec(F.col(qvec_col), F.col("sub"), d_sub), F.col("centroid")).alias(
            "pdist"
        ),
    )
    cell_codes = codes.join(indexed.select(id_col, "cell_id"), id_col)
    probed = cell_codes.join(broadcast(probes), "cell_id")
    dists = (
        probed.join(broadcast(lut), [qid_col, "sub", "code"])
        .groupBy(qid_col, id_col)
        .agg(F.round(F.sum("pdist"), 6).alias("adist"))
    )
    cand = top_k(
        dists, [qid_col], F.col("adist").asc(), n_candidates, tiebreak=[id_col]
    ).select(qid_col, id_col)
    full = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    qfull = F.transform(F.col(qvec_col), lambda x: x.cast("double"))
    vecs = indexed.select(id_col, vec_col)
    exact = (
        vecs.join(broadcast(cand), id_col)
        .join(broadcast(queries), qid_col)
        .select(qid_col, id_col, F.round(_l2sq(qfull, full), 6).alias("dist"))
    )
    return top_k(
        exact, [qid_col], F.col("dist").asc(), k, tiebreak=[id_col], rank_col="rank"
    )
