"""Deterministic hash-based sampling, splitting, and training-mix
composition (task brief: first-class training-data ops).

`df.sample` is seed-pinned but NOT layout-stable: its Bernoulli draw
consumes a per-partition RNG stream, so the sampled *membership* changes
whenever the input partitioning does — useless for incremental pipelines
("is doc 42 in the training set?" must have one answer forever).  The
scale-correct primitive is a content hash compared to a threshold:

  u(key) = int(md5(salt ':' key)[:8 hex], 16) / 2^32   in [0, 1)

which is (a) deterministic across reruns, engines, partitionings and
cluster sizes, (b) stable under corpus growth (new keys get fresh draws,
old keys keep their verdict), and (c) a pure Catalyst expression —
codegen'd, no RNG state, no shuffle.  The md5 basis makes the DuckDB
oracle compute bit-identical values (SURVEY.md §5.3 hash-match
contract), which upgrades sampling from the §2.6 "non-oracle-able"
ledger note to a fully hash-certified operator family.

Scale design:
  hash_sample   — stateless filter: no shuffle, fully pushdown-friendly.
  hash_split    — stateless CASE over cumulative weights: one pass,
                  disjoint and exhaustive by construction.
  training_mix  — one tiny groupBy(strata) agg (map-side partial, low
                  cardinality) + broadcast of the per-stratum acceptance
                  fractions back onto the corpus: one scan, one
                  broadcast, zero wide shuffles of the corpus itself.

The reference has no sampling surface (its corpus fits one process);
this family is what a 100 TB curation pipeline needs to cut training
mixes (per-language/domain token budgets, reference config.yml has no
analogue — cited for absence).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from lawlm_spark.localdata import local_rows

# md5's first 8 hex chars interpreted as an unsigned 32-bit int
HASH_SPACE = float(2**32)


def hash_uniform(key: Column, salt: str = "") -> Column:
    """Deterministic uniform draw in [0, 1) from a key column.

    Layout-stable (unlike `df.sample`): the draw depends only on the key
    bytes and the salt, never on partitioning or evaluation order.  Use a
    distinct salt per decision (sampling vs splitting) so the draws are
    independent.
    """
    h = F.md5(F.concat_ws(":", F.lit(salt), key.cast("string")))
    return F.conv(F.substring(h, 1, 8), 16, 10).cast("long") / F.lit(HASH_SPACE)


def hash_sample(df: DataFrame, key_col: str, fraction: float, salt: str = "") -> DataFrame:
    """Keep ~`fraction` of rows, chosen deterministically by key hash.

    Rerunning — on any engine, any partitioning, any cluster size —
    keeps exactly the same rows.  Appending new rows to `df` never
    changes the verdict on existing keys (incremental-safe).
    """
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0, 1], got {fraction}")
    return df.filter(hash_uniform(F.col(key_col), salt) < F.lit(fraction))


def hash_split(
    df: DataFrame, key_col: str, weights: dict[str, float], salt: str = "split"
) -> DataFrame:
    """Add a `split` column assigning each row to one named split.

    `weights` maps split name -> relative weight (normalized internally);
    assignment is by cumulative-range lookup on the hash draw, so splits
    are disjoint, exhaustive, and deterministic — the train/val/test cut
    that survives reprocessing and corpus growth.
    """
    if not weights:
        raise ValueError("weights must be non-empty")
    if any(w < 0 for w in weights.values()) or sum(weights.values()) <= 0:
        raise ValueError(f"weights must be non-negative with a positive sum: {weights}")
    total = float(sum(weights.values()))
    u = hash_uniform(F.col(key_col), salt)
    names = list(weights)
    expr: Column = F.lit(names[-1])  # last split absorbs the tail (u == upper edge)
    upper = 0.0
    cases: list[tuple[float, str]] = []
    for name in names[:-1]:
        upper += weights[name] / total
        cases.append((upper, name))
    for bound, name in reversed(cases):
        expr = F.when(u < F.lit(bound), F.lit(name)).otherwise(expr)
    return df.withColumn("split", expr)


def training_mix(
    docs: DataFrame,
    id_col: str,
    strata_col: str,
    weight_col: str,
    targets: dict[str, float],
    salt: str = "mix",
) -> DataFrame:
    """Deterministic stratified downsampling to per-stratum weight budgets.

    The canonical use: `strata_col` = language/domain, `weight_col` =
    token count, `targets` = tokens wanted per stratum (a training-mix
    recipe).  Acceptance fraction per stratum = min(1, target / total);
    expected kept weight ≈ target (exact in expectation; hash sampling
    cannot cut mid-document, which is the right granularity for
    training data).  Strata absent from `targets` are dropped — the
    recipe IS the mix.

    One tiny aggregate over strata (map-side partial combine; stratum
    cardinality is ~languages, so the shuffle is trivially small even at
    100 TB) and a broadcast join of the per-stratum fractions back onto
    the corpus: the corpus itself is scanned once and never shuffled.
    """
    spark = docs.sparkSession
    tgt = local_rows(
        spark, [(k, float(v)) for k, v in targets.items()], f"{strata_col} string, _target double"
    )
    totals = docs.groupBy(strata_col).agg(
        F.sum(F.col(weight_col)).cast("double").alias("_total")
    )
    frac = (
        totals.join(tgt, strata_col)
        .select(
            strata_col,
            F.least(F.lit(1.0), F.col("_target") / F.col("_total")).alias("_frac"),
        )
    )
    return (
        docs.join(F.broadcast(frac), strata_col)
        .filter(hash_uniform(F.col(id_col), salt) < F.col("_frac"))
        .drop("_frac")
    )


def temperature_mix(
    docs: DataFrame,
    id_col: str,
    strata_col: str,
    weight_col: str,
    total_budget: float,
    alpha: float = 0.5,
    salt: str = "tmix",
) -> DataFrame:
    """Temperature-based mix: budgets DERIVED from the corpus instead of
    hand-written targets (training_mix).  Per-stratum share p_i =
    total_i^alpha / sum_j total_j^alpha — the standard low-resource
    upweighting (multilingual BERT / mT5 exponentiated sampling:
    alpha=1 keeps natural proportions, alpha->0 approaches uniform) —
    then stratum i gets budget total_budget * p_i and docs are kept by
    the same deterministic hash draw as training_mix.

    alpha=0.5 computes via sqrt, which IEEE requires to be correctly
    rounded — both engines produce bit-identical fractions, making the
    d32 oracle exact.  Other alphas use pow (last-ulp engine variance
    possible; fine for production, not for a hash oracle).

    Same scale shape as training_mix: one stratum-cardinality aggregate
    + one singleton normalizer, fractions broadcast back; the corpus is
    scanned once and never shuffled.
    """
    powed = F.sqrt(F.col("_total")) if alpha == 0.5 else F.pow(F.col("_total"), alpha)
    totals = (
        docs.groupBy(strata_col)
        .agg(F.sum(F.col(weight_col)).cast("double").alias("_total"))
        .withColumn("_p", powed)
    )
    z = totals.groupBy().agg(F.sum("_p").alias("_z"))
    frac = totals.crossJoin(F.broadcast(z)).select(
        strata_col,
        F.least(
            F.lit(1.0),
            F.lit(float(total_budget)) * (F.col("_p") / F.col("_z")) / F.col("_total"),
        ).alias("_frac"),
    )
    return (
        docs.join(F.broadcast(frac), strata_col)
        .filter(hash_uniform(F.col(id_col), salt) < F.col("_frac"))
        .drop("_frac")
    )


def cluster_balanced_sample(
    vecs: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 8,
    cap: int = 30,
    dim: int = 64,
) -> DataFrame:
    """Semantic diversity balancing: assign every vector to its nearest
    seed centroid (whole-vector PQ encode with m=1 — the k lowest-id
    vectors are the centroids, deterministic on both engines) and keep
    at most `cap` per cluster (lowest ids).  The embedding-space
    counterpart of per-domain caps: bounds any one semantic region's
    share of the corpus, the cluster-balancing step DataComp-style
    pipelines run before sampling.

    Swap the seed centroids for pq.train_codebook(m=1) KMeans cells in
    production; seeds are what make d33 a full hash oracle.  Plan:
    centroids broadcast into the assignment, one WindowGroupLimit-
    prunable window per cluster — nothing corpus-sized shuffles twice.
    """
    from pyspark.sql import Window

    from lawlm_spark.operators.pq import encode_pq, seed_codebook

    book = seed_codebook(vecs, id_col, vec_col, m=1, k=n_clusters, dim=dim)
    codes = encode_pq(vecs, book, id_col, vec_col, m=1, dim=dim).select(
        id_col, F.col("code").alias("cluster")
    )
    w = Window.partitionBy("cluster").orderBy(F.col(id_col))
    return (
        codes.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= cap)
        .drop("_rn")
    )


def weighted_sample(
    df: DataFrame,
    key_col: str,
    weight_col: str,
    k: int,
    stratum_col: str | None = None,
    salt: str = "wsample",
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement (Efraimidis-
    Spirakis priority sampling on hash draws): each row gets an
    exponential clock e = -ln(u) / w from its md5-uniform draw, and the
    k SMALLEST clocks win — inclusion probability proportional to
    weight, membership a pure function of (key, salt) like every other
    operator in this family (layout-stable, rerun-stable, engine-exact).

    u is (h+1)/2^32 over the 32-bit md5 prefix — exactly representable,
    never zero, so the clock is finite; the clock rounds to 9 dp before
    ranking (ties then break on the key) so the ordering is robust to
    any last-ulp ln() divergence across engines.

    Scale: with `stratum_col`, one window per stratum partition whose
    WindowGroupLimit prunes each to k rows pre-sort; without it, the
    global top-k plans as TakeOrderedAndProject (per-partition partial
    top-k + driver merge — no 1-partition sort).  Weights must be > 0.
    """
    h = F.conv(
        F.substring(
            F.md5(F.concat_ws(":", F.lit(salt), F.col(key_col).cast("string"))), 1, 8
        ),
        16,
        10,
    ).cast("long")
    u = (h + F.lit(1)) / F.lit(HASH_SPACE)
    clock = F.round(-F.log(u) / F.col(weight_col), 9)
    clocked = df.withColumn("_clock", clock)
    if stratum_col is None:
        return clocked.orderBy("_clock", key_col).limit(k).drop("_clock")
    from pyspark.sql import Window

    w = Window.partitionBy(stratum_col).orderBy("_clock", key_col)
    return (
        clocked.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn", "_clock")
    )


def group_split(
    docs: DataFrame,
    id_col: str,
    pairs: DataFrame,
    weights: dict[str, float],
    salt: str = "gsplit",
    src_col: str = "id_a",
    dst_col: str = "id_b",
) -> DataFrame:
    """hash_split keyed on the duplicate GROUP, not the document.

    Splitting a corpus doc-by-doc leaks: two near-duplicate documents
    can land one in train and one in test, and the test metric silently
    measures memorization (the decontamination failure mode Lee et al.
    2022 §6 measure).  The leakage-safe cut hashes the CANONICAL
    component id of each doc's near-dup group — every member of a
    duplicate cluster draws the same number, so a group is always
    entirely inside one split (pinned in test_sampling_hash.py, with
    the doc-keyed counterfactual straddling).

    `pairs` is any duplicate edge list (MinHash/LSH, containment,
    embedding — or their union, as plans/curation composes them);
    transitive closure via connected_components handles chains A~B~C
    where A and C never paired directly.

    Adds `group_id` (the component canonical id) and `split`.  Scale:
    components is O(log d) rounds over the EDGE set only (dup pairs —
    tiny vs the corpus); the label join is one shuffle of (node,
    component) against the corpus; the split itself stays a pure
    codegen hash draw.  Layout-stable like every hash_* op: adding new
    docs never moves an existing group unless new edges genuinely
    merge two groups — in which case moving is the CORRECT behavior
    (the merged group must re-land in one split).
    """
    from lawlm_spark.operators.components import connected_components

    comp = connected_components(pairs, src_col, dst_col)
    labeled = docs.join(comp, docs[id_col] == comp.node, "left").select(
        docs["*"],
        F.coalesce("component_id", F.col(id_col)).alias("group_id"),
    )
    return hash_split(labeled, "group_id", weights, salt)
