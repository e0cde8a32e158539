"""Mergeable sketches: HyperLogLog, count-min, and Bloom filters.

The approximate-aggregation tier every 100 TB engine needs: exact
`COUNT(DISTINCT)` over a high-cardinality key is a full shuffle of every
distinct value; exact heavy-hitters is a full-cardinality aggregate; an
exact semi-join ships the whole build side.  A sketch replaces each with
a CONSTANT-size summary that merges associatively — so partial
aggregation (map-side combine) does almost all the work and the shuffle
carries kilobytes per group regardless of input size.

Spark ships Datasketches HLL (`hll_sketch_agg`) and a Bloom join hint;
this module instead builds the sketches from the engine's own md5
primitive so that

  1. the sketch state is a PLAIN DataFrame (persistable to parquet,
     mergeable across runs/engines — an *artifact*, like the BPE merges
     and the IVF index), and
  2. every register/cell/bit is a pure function of the key bytes, so a
     DuckDB oracle replays the whole construction bit-for-bit
     (SURVEY.md §5.3 hash-match contract) — something the JVM-internal
     sketches can never certify.

Numeric determinism notes (the usual cross-engine traps, pre-resolved):
  * HLL register sums are 1.0 / 2^rho terms — double addition is not
    associative, so a float sum would depend on shuffle order.  We sum
    the INTEGER numerators 2^(57-rho) instead and divide once by 2^57:
    associative, shuffle-order-proof.  The numerator sum can exceed
    2^63 (the empty-register term alone reaches 255 * 2^57), so it
    accumulates in decimal — the mirror of DuckDB's BIGINT -> HUGEINT
    sum widening.
  * The bias constant alpha_m and all thresholds are Python-computed
    literals embedded in both plans, never re-derived per engine.
  * ln() is not IEEE-correctly-rounded, so every estimate that passes
    through ln is rounded to 6 decimals on both sides (house pattern,
    cf. d46/d47).

Reference parity: the reference engine has no sketch surface at all
(its corpus fits one process — exact counts are free); cited for
absence per SURVEY.md §2.6.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from lawlm_spark.localdata import local_rows

# ---------------------------------------------------------------------------
# HyperLogLog (Flajolet et al. 2007), p=8 -> m=256 registers.

HLL_P = 8
HLL_M = 1 << HLL_P  # 256
# 56 value bits follow the 8 bucket bits in the md5's first 64 bits;
# rho in [1, 57].  Integer register weight = 2^(57 - rho).
_HLL_VALUE_BITS = 56
_HLL_RHO_MAX = _HLL_VALUE_BITS + 1
# alpha_m for m >= 128 (Flajolet et al. Fig. 3), computed ONCE here and
# used as a literal by both the Spark plan and the DuckDB oracle.
HLL_ALPHA = 0.7213 / (1.0 + 1.079 / HLL_M)


def _hll_hash(key: Column, salt: str) -> Column:
    return F.md5(F.concat_ws(":", F.lit(salt), key.cast("string")))


def hll_bucket(key: Column, salt: str = "") -> Column:
    """Register index in [0, 256): the hash's first 8 bits."""
    return F.conv(F.substring(_hll_hash(key, salt), 1, 2), 16, 10).cast("int")


def hll_rho(key: Column, salt: str = "") -> Column:
    """Position of the first 1-bit in the 56 value bits (1-based; 57 if
    all zero).  bit_length(v) = length of the base-2 string (conv strips
    leading zeros), so rho = 57 - bit_length(v) for v > 0."""
    vhex = F.substring(_hll_hash(key, salt), 3, _HLL_VALUE_BITS // 4)
    v = F.conv(vhex, 16, 10).cast("long")
    return (
        F.when(v == 0, F.lit(_HLL_RHO_MAX))
        .otherwise(F.lit(_HLL_RHO_MAX) - F.length(F.conv(vhex, 16, 2)))
        .cast("int")
    )


def hll_registers(
    df: DataFrame, key_col: str, group_cols: list[str] | None = None, salt: str = ""
) -> DataFrame:
    """(group..., bucket, rho): max-rho register table — THE sketch.

    One aggregate keyed on (group, bucket): max() combines map-side, so
    the shuffle carries at most m=256 rows per group no matter how many
    input rows fed it.  Absent buckets are empty registers (rho 0) and
    are left implicit — `hll_estimate` accounts for them.
    """
    group_cols = group_cols or []
    key = F.col(key_col)
    return (
        df.select(
            *group_cols,
            hll_bucket(key, salt).alias("bucket"),
            hll_rho(key, salt).alias("rho"),
        )
        .groupBy(*group_cols, "bucket")
        .agg(F.max("rho").alias("rho"))
    )


def hll_merge(*register_tables: DataFrame, group_cols: list[str] | None = None) -> DataFrame:
    """Union sketches: element-wise max of registers.  HLL's defining
    property — merge(sketch(A), sketch(B)) == sketch(A ∪ B) EXACTLY,
    which makes per-partition / per-day / per-source sketches composable
    artifacts (test-pinned in test_sketches.py)."""
    group_cols = group_cols or []
    out = register_tables[0]
    for t in register_tables[1:]:
        out = out.unionByName(t)
    return out.groupBy(*group_cols, "bucket").agg(F.max("rho").alias("rho"))


def hll_estimate(
    registers: DataFrame, group_cols: list[str] | None = None
) -> DataFrame:
    """(group..., est_distinct): the HLL estimate with the standard
    small-range (linear counting) correction.

    The register sum is computed as an INTEGER sum of 2^(57-rho)
    numerators and divided by 2^57 once — exact and shuffle-order-proof
    (module docstring).  Per-register numerators fit a long (≤ 2^56),
    but the SUM can exceed 2^63 (the empty-register term alone reaches
    255 * 2^57), so it accumulates in decimal — exact, and the mirror of
    DuckDB's automatic BIGINT -> HUGEINT sum widening.  The single
    decimal -> double cast at the end is round-to-nearest on both
    engines, and the final round(·, 6) absorbs any 1-ulp residue.
    """
    group_cols = group_cols or []
    num = F.call_function(
        "shiftleft", F.lit(1).cast("long"), F.lit(_HLL_RHO_MAX) - F.col("rho")
    )
    agg = registers.groupBy(*group_cols).agg(
        F.sum(num.cast("decimal(38,0)")).alias("_num_present"),
        F.count(F.lit(1)).alias("_n_present"),
    )
    denom_scale = float(1 << _HLL_RHO_MAX)
    empty = (F.lit(HLL_M) - F.col("_n_present")).cast("decimal(38,0)") * F.lit(
        1 << _HLL_RHO_MAX
    ).cast("decimal(38,0)")
    s = (F.col("_num_present") + empty).cast("double") / F.lit(denom_scale)
    raw = F.lit(HLL_ALPHA * HLL_M * HLL_M) / s
    zeros = (F.lit(HLL_M) - F.col("_n_present")).cast("double")
    est = F.when(
        (raw <= F.lit(2.5 * HLL_M)) & (zeros > 0),
        F.lit(float(HLL_M)) * F.log(F.lit(float(HLL_M)) / zeros),
    ).otherwise(raw)
    return agg.select(*group_cols, F.round(est, 6).alias("est_distinct"))


def hll_count_distinct(
    df: DataFrame, key_col: str, group_cols: list[str] | None = None, salt: str = ""
) -> DataFrame:
    """registers -> estimate in one plan: the drop-in for
    approx_count_distinct with a persistable intermediate."""
    return hll_estimate(hll_registers(df, key_col, group_cols, salt), group_cols)


# ---------------------------------------------------------------------------
# Count-min sketch (Cormode & Muthukrishnan 2005).


def _cms_position(key: Column, row: int, width: int, salt: str) -> Column:
    h = F.md5(F.concat_ws(":", F.lit(str(row)), F.lit(salt), key.cast("string")))
    return (F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % width).cast("int")


def cms_build(
    df: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 512,
    salt: str = "",
    weight_col: str | None = None,
) -> DataFrame:
    """(d, w, cnt): depth x width cell counts — the sketch table.

    One pass: each input row explodes into `depth` (row, col) cells,
    then a sum aggregate keyed on the cell.  Map-side partial sums do
    the heavy lifting; the shuffle carries at most depth*width rows
    total (the sketch is CONSTANT size — 2048 cells at the defaults —
    regardless of corpus size).  Cells never touched are zero and left
    implicit; `cms_lookup` coalesces them.
    """
    key = F.col(key_col)
    w = F.col(weight_col).cast("long") if weight_col else F.lit(1).cast("long")
    cells = F.array(
        *[
            F.struct(
                F.lit(j).alias("d"), _cms_position(key, j, width, salt).alias("w")
            )
            for j in range(depth)
        ]
    )
    return (
        df.select(F.explode(cells).alias("cell"), w.alias("_w"))
        .groupBy(F.col("cell.d").alias("d"), F.col("cell.w").alias("w"))
        .agg(F.sum("_w").alias("cnt"))
    )


def cms_merge(*cms_tables: DataFrame) -> DataFrame:
    """Union count-min sketches: cell-wise sum.  Like `hll_merge`, this
    makes per-source/per-day sketches composable parquet artifacts —
    merge(sketch(A), sketch(B)) == sketch(A ⊎ B) exactly."""
    out = cms_tables[0]
    for t in cms_tables[1:]:
        out = out.unionByName(t)
    return out.groupBy("d", "w").agg(F.sum("cnt").alias("cnt"))


def cms_lookup(
    cms: DataFrame,
    keys: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 512,
    salt: str = "",
) -> DataFrame:
    """keys + (cms_est): point estimate = min over the key's depth cells.

    Never underestimates (est >= true count always); overestimates only
    by hash-collision mass, bounded by eps = e/width per row with
    probability 1 - (1/2)^depth.  The sketch side is a ≤ depth*width-row
    table, so the join broadcasts — the probe set is never shuffled.
    """
    key = F.col(key_col)
    probes = keys.select(
        "*",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("d"),
                        _cms_position(key, j, width, salt).alias("w"),
                    )
                    for j in range(depth)
                ]
            )
        ).alias("cell"),
    )
    joined = probes.join(
        F.broadcast(cms),
        (probes["cell.d"] == cms["d"]) & (probes["cell.w"] == cms["w"]),
        "left",
    )
    out_cols = [c for c in keys.columns]
    return (
        joined.groupBy(*out_cols)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("cms_est"))
    )


# ---------------------------------------------------------------------------
# Bloom filter as a broadcast bitmask.


def bloom_bits(
    df: DataFrame, key_col: str, num_bits: int = 4096, num_hashes: int = 3, salt: str = ""
) -> DataFrame:
    """(bit,): the distinct set bit positions — the filter as a table.

    Build cost: one distinct over ≤ num_bits values (map-side combine
    collapses almost everything).  Persist it to parquet and the filter
    becomes a reusable artifact across jobs (like the LSH near-dup
    index) — rebuild only when the build side changes.
    """
    key = F.col(key_col)
    positions = F.array(
        *[_cms_position(key, j, num_bits, salt) for j in range(num_hashes)]
    )
    return (
        df.select(F.explode(positions).alias("bit")).distinct()
    )


def bloom_mask(bits: DataFrame, num_bits: int) -> list[int]:
    """Fold the bit table into `num_bits/64` longs (driver-side; bounded
    by the filter size, never the data — the same bounded-artifact
    collect as the IVF centroids).  Word layout: bit b lives in word
    b // 64 at position b % 64."""
    words = [0] * ((num_bits + 63) // 64)
    for row in bits.select("bit").collect():
        b = int(row["bit"])
        words[b // 64] |= 1 << (b % 64)
    # Python ints are unbounded; fold to signed 64-bit so the values
    # round-trip through LongType literals exactly.
    return [w - (1 << 64) if w >= (1 << 63) else w for w in words]


def bloom_prune(
    probe: DataFrame,
    key_col: str,
    mask: list[int],
    num_hashes: int = 3,
    salt: str = "",
) -> DataFrame:
    """Rows of `probe` whose key MIGHT be in the filter (no false
    negatives, test-pinned).  The mask travels as a literal array of
    longs and the check is k shift-and-test terms — pure codegen, zero
    joins, zero shuffles: exactly what you put in front of a big
    shuffle join to drop the ~never-matching rows at the scan.
    """
    num_bits = len(mask) * 64
    key = F.col(key_col)
    arr = F.array(*[F.lit(w).cast("long") for w in mask])
    cond = F.lit(True)
    for j in range(num_hashes):
        pos = _cms_position(key, j, num_bits, salt)
        word = F.element_at(arr, (pos / 64).cast("int") + 1)
        cond = cond & (
            F.call_function("shiftrightunsigned", word, (pos % 64).cast("int"))
            .bitwiseAND(1)
            == 1
        )
    return probe.filter(cond)


# ---------------------------------------------------------------------------
# Fixed-boundary histogram: the quantile sketch of the family.


def hist_bins(
    df: DataFrame,
    value_col: str,
    lo: float,
    hi: float,
    n_bins: int = 128,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """(group..., bin, cnt): integer counts over fixed equi-width bins —
    the mergeable quantile state (merge = cell-wise sum, same as CMS).

    Fixed caller-supplied boundaries rather than data-derived ones:
    that's what makes the sketch mergeable across days/sources without
    re-binning, and deterministic without a planning-time scan (bounds
    come from domain knowledge or table metadata, like the zorder
    bounds).  Out-of-range values clamp to the edge bins, so totals are
    never lost.  Spark's own percentile_approx (KLL-ish, certified
    Spark-side in test_approx_aggregates.py) is per-query; this is the
    persistable-artifact form.
    """
    group_cols = group_cols or []
    width = (hi - lo) / n_bins
    raw = F.floor((F.col(value_col) - F.lit(lo)) / F.lit(width)).cast("int")
    b = F.least(F.lit(n_bins - 1), F.greatest(F.lit(0), raw))
    return (
        df.select(*group_cols, b.alias("bin"))
        .groupBy(*group_cols, "bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def hist_merge(*hists: DataFrame, group_cols: list[str] | None = None) -> DataFrame:
    group_cols = group_cols or []
    out = hists[0]
    for t in hists[1:]:
        out = out.unionByName(t)
    return out.groupBy(*group_cols, "bin").agg(F.sum("cnt").alias("cnt"))


def hist_quantiles(
    bins: DataFrame,
    lo: float,
    hi: float,
    n_bins: int,
    probs: list[float],
    group_cols: list[str] | None = None,
) -> DataFrame:
    """(group..., p, q_est): quantile estimates from the bin counts.

    Rank r = ceil(p * N) (1-based); the answer lives in the first bin
    whose cumulative count reaches r, linearly interpolated inside it:
    q = lo + width * (bin + (r - cum_before) / bin_cnt).  Everything up
    to the final interpolation is integer (rank and cumulative counts),
    so the only doubles are two exact-input IEEE ops — cross-engine
    deterministic, rounded to 6 per house convention.

    The cumulative window runs over ≤ n_bins rows per group (constant,
    like every sketch here) — a 1-partition window over 128 rows is
    free; the corpus itself was reduced at `hist_bins` time.

    All probs resolve in ONE pass: the cum table cross-joins a
    broadcast probs literal (the oracle's `unnest(probs)` shape).  The
    earlier per-prob union replicated the upstream lineage per prob —
    Catalyst re-ran the corpus-reducing hist_bins aggregate once per
    probe (8 corpus scans for octiles in the d69b plan audit, r8) —
    where this shape aggregates the corpus exactly once.
    """
    from pyspark.sql import Window

    group_cols = group_cols or []
    width = (hi - lo) / n_bins
    # the ungrouped branch runs over ≤ n_bins sketch rows — bounded
    # window, allowlisted in test_window_hygiene.py
    w = (
        Window.partitionBy(*group_cols).orderBy("bin")
        if group_cols
        else Window.orderBy("bin")
    )
    cum = bins.select(
        *group_cols,
        "bin",
        "cnt",
        (F.sum("cnt").over(w) - F.col("cnt")).alias("cum_before"),
        F.sum("cnt").over(
            w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        ).alias("n_total"),
    )
    probs_df = local_rows(bins.sparkSession, [(float(p),) for p in probs], "p double")
    r = F.ceil(F.col("p") * F.col("n_total")).cast("long")
    est = F.lit(lo) + F.lit(width) * (
        F.col("bin")
        + (r - F.col("cum_before")).cast("double") / F.col("cnt").cast("double")
    )
    return (
        cum.crossJoin(F.broadcast(probs_df))
        .filter((F.col("cum_before") < r) & (r <= F.col("cum_before") + F.col("cnt")))
        .select(*group_cols, "p", F.round(est, 6).alias("q_est"))
    )


# ---------------------------------------------------------------------------
# KMV (k-minimum-values) / theta sketch: distinct counts WITH set algebra.


KMV_HASH_BITS = 48  # 12 hex chars: exact in BIGINT and in DOUBLE's 53-bit mantissa
KMV_HASH_SPACE = float(1 << KMV_HASH_BITS)


def kmv_hash(key: Column, salt: str = "") -> Column:
    """Uniform 48-bit integer draw from the key bytes (md5 prefix).
    48 bits keeps every value exactly representable as a double AND
    makes collisions negligible at any realistic cardinality."""
    h = F.md5(F.concat_ws(":", F.lit(salt), key.cast("string")))
    return F.conv(F.substring(h, 1, KMV_HASH_BITS // 4), 16, 10).cast("long")


def kmv_sketch(
    df: DataFrame,
    key_col: str,
    k: int = 64,
    group_cols: list[str] | None = None,
    salt: str = "",
) -> DataFrame:
    """(group..., h): the k smallest DISTINCT hash values — the theta
    sketch HLL cannot be: because the state is actual hash samples,
    sketches support set ALGEBRA (union, intersection, difference
    estimates via kmv_intersect_estimate), not just union.

    Constant size like every sketch here: the distinct-hash aggregate
    combines map-side, and the k-smallest cut is WindowGroupLimit-pruned
    per group (TakeOrderedAndProject when ungrouped), so no stage ever
    holds more than k rows per group.
    """
    group_cols = group_cols or []
    hashes = (
        df.select(*group_cols, kmv_hash(F.col(key_col), salt).alias("h"))
        .distinct()
    )
    if group_cols:
        from pyspark.sql import Window

        w = Window.partitionBy(*group_cols).orderBy("h")
        return (
            hashes.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= k)
            .drop("_rn")
        )
    return hashes.orderBy("h").limit(k)


def kmv_estimate(
    sketch: DataFrame, k: int = 64, group_cols: list[str] | None = None
) -> DataFrame:
    """(group..., est_distinct): (k-1)/theta with theta = k-th smallest
    hash / 2^48; a sketch holding fewer than k hashes IS the exact
    distinct set, so the count is returned unestimated.  One division
    of exact inputs — cross-engine deterministic — rounded to 6."""
    group_cols = group_cols or []
    agg = sketch.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("_n"), F.max("h").alias("_kth")
    )
    theta = (F.col("_kth").cast("double") + F.lit(1.0)) / F.lit(KMV_HASH_SPACE)
    est = F.when(F.col("_n") < k, F.col("_n").cast("double")).otherwise(
        F.lit(float(k - 1)) / theta
    )
    return agg.select(*group_cols, F.round(est, 6).alias("est_distinct"))


def kmv_union(a: DataFrame, b: DataFrame, k: int = 64) -> DataFrame:
    """Union sketch: merged distinct hashes re-truncated to k smallest
    (exactly sketch(A ∪ B) — the mergeability test pins it)."""
    return a.unionByName(b).distinct().orderBy("h").limit(k)


def kmv_intersect_estimate(a: DataFrame, b: DataFrame, k: int = 64) -> DataFrame:
    """One-row (est_union, est_intersection): the set-algebra payoff.

    Over the union sketch's theta range, membership of a hash in both
    sketches is an unbiased Jaccard sample: J_est = |A ∩ B ∩ [0, theta)|
    / k, and est_intersection = J_est * est_union.  Counts are integers,
    the two divisions take exact inputs — deterministic, rounded to 6.
    Both inputs must be same-k, same-salt sketches over the same key
    domain.
    """
    from lawlm_spark.operators.components import _lineage_cut

    # lineage-cut all three sketch relations (<= k rows each): a and b
    # fan into the union AND the membership semi-joins, u into the
    # theta aggregate and the intersection count — uncut, every branch
    # replays the corpus-reducing sketch build (7 FileScans in the r8
    # d55 audit; 2 after, one per input side).
    reliable = a.sparkSession.sparkContext.getCheckpointDir() is not None
    a = _lineage_cut(a, reliable)
    b = _lineage_cut(b, reliable)
    u = _lineage_cut(kmv_union(a, b, k), reliable)
    kth = u.agg(F.max("h").alias("_kth"), F.count(F.lit(1)).alias("_n"))
    both = (
        u.join(a.select(F.col("h").alias("_ha")), u["h"] == F.col("_ha"), "left_semi")
        .join(b.select(F.col("h").alias("_hb")), F.col("h") == F.col("_hb"), "left_semi")
        .agg(F.count(F.lit(1)).alias("_n_both"))
    )
    j = kth.crossJoin(both)
    theta = (F.col("_kth").cast("double") + F.lit(1.0)) / F.lit(KMV_HASH_SPACE)
    est_union = F.when(F.col("_n") < k, F.col("_n").cast("double")).otherwise(
        F.lit(float(k - 1)) / theta
    )
    j_est = F.col("_n_both").cast("double") / F.col("_n").cast("double")
    return j.select(
        F.round(est_union, 6).alias("est_union"),
        F.round(j_est * est_union, 6).alias("est_intersection"),
    )


def cms_inner_product(a: DataFrame, b: DataFrame, depth: int = 4) -> DataFrame:
    """One-row (est_join_size,): the count-min INNER PRODUCT — an upper
    bound estimate of sum_k f_a(k) * f_b(k), which is EXACTLY the row
    count of the equi-join A ⋈ B on the sketched key.

    The optimizer-statistics use: estimate a join's output size from
    two constant-size sketches BEFORE running it (pick broadcast vs
    shuffle vs salt from the estimate — cf. skew_report for the
    per-key view).  Per depth row, sum_w a[w] * b[w]; the minimum over
    depths is the tightest bound (Cormode & Muthukrishnan §4.2).  Never
    underestimates; overestimate mass is hash-collision cross terms.
    All integer arithmetic (products in decimal — cell counts are
    corpus-sized and their products overflow BIGINT) — the d64 oracle
    replays it exactly.

    Both inputs must be same-(depth, width, salt) `cms_build` outputs.
    """
    aj = a.select(F.col("d"), F.col("w"), F.col("cnt").alias("_ca"))
    bj = b.select(F.col("d"), F.col("w"), F.col("cnt").alias("_cb"))
    per_depth = (
        aj.join(bj, ["d", "w"])
        .groupBy("d")
        .agg(
            F.sum(
                (F.col("_ca").cast("decimal(38,0)") * F.col("_cb"))
            ).alias("_ip")
        )
    )
    return per_depth.agg(F.min("_ip").cast("long").alias("est_join_size"))


def equidepth_bins(
    df: DataFrame,
    value_milli: Column,
    id_col: str,
    group_cols: list[str] | None = None,
    k: int = 8,
    allow_global_sort: bool = False,
) -> DataFrame:
    """(group..., bin, n, lo_milli, hi_milli): EXACT equi-DEPTH binning —
    ntile over a (value, id) total order, then per-bin envelopes.  The
    feature-engineering complement to `hist_bins`' equi-width grid:
    equal mass per bin regardless of distribution shape, the standard
    discretization for monotonic features and decile reports.

    Integer milli-unit values (house convention) make the envelopes
    exact; the id tiebreak makes tied values land deterministically, so
    both engines produce identical bins (ntile's front-loaded remainder
    rule is the same SQL semantics everywhere).  One window per group +
    one keyed aggregate.

    SCALE HAZARD (same class as `latest_by`'s ungrouped form,
    relational.py): with no `group_cols` the ntile window is
    `Window.partitionBy()` — Catalyst sorts the ENTIRE input into ONE
    partition, a straggler at any real size.  The GROUPED call is the
    scale path (d69 certifies it); the ungrouped exact form therefore
    RAISES unless `allow_global_sort=True` is passed explicitly (small
    aggregated inputs only — e.g. re-binning a sketch table).  For
    ungrouped equi-depth at corpus scale use `equidepth_bins_approx`,
    which derives the boundaries from the `hist_bins` sketch and never
    sorts the corpus.
    """
    from pyspark.sql import Window

    group_cols = group_cols or []
    if not group_cols and not allow_global_sort:
        raise ValueError(
            "equidepth_bins with no group_cols sorts the full input into "
            "one partition. Pass group_cols (the scale path), use "
            "equidepth_bins_approx (sketch-derived boundaries, no global "
            "sort), or opt in with allow_global_sort=True for small "
            "pre-aggregated inputs."
        )
    w = (
        Window.partitionBy(*group_cols) if group_cols else Window.partitionBy()
    ).orderBy(value_milli, F.col(id_col))
    v = value_milli.cast("long")
    binned = df.select(
        *group_cols,
        v.alias("_v"),
        F.ntile(k).over(w).alias("bin"),
    )
    return binned.groupBy(*group_cols, "bin").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("_v").alias("lo_milli"),
        F.max("_v").alias("hi_milli"),
    )


def equidepth_bins_approx(
    df: DataFrame,
    value_col: str,
    lo: float,
    hi: float,
    n_bins: int = 128,
    k: int = 8,
    group_cols: list[str] | None = None,
    scale: float = 1000.0,
) -> DataFrame:
    """(group..., bin, n, lo_milli, hi_milli): equi-depth binning with
    boundaries from the `hist_bins` sketch — the UNGROUPED-SAFE scale
    path (the exact ntile form above needs a global sort when no group
    keys exist; this one never sorts the corpus).

    Plan shape: one constant-state sketch aggregate (hist_bins) → k-1
    quantile boundaries (hist_quantiles over ≤n_bins rows) → boundary
    array broadcast back → bin assignment as a pure size/filter
    expression → one keyed aggregate for the envelopes.  Shuffle-linear,
    no Window over the corpus, no single-partition stage.  Per-bin mass
    is approximate (resolution = one sketch bin width, like d72's
    winsorize bounds).  Bin assignment compares the RAW double value
    against the fractional boundaries (an earlier form truncated to
    integer first, which degenerates on sub-unit domains — ADVICE r7);
    ties with a boundary land in the lower bin (`value > boundary`
    advances), a pure function of the value.  Envelopes are exact
    integers in `scale` units (default 1000 → the lo_milli/hi_milli
    names are honest, matching the exact form's pre-scaled milli
    convention): round(value*scale) over the rows each bin received.
    """
    group_cols = group_cols or []
    probs = [i / k for i in range(1, k)]
    bins = hist_bins(df, value_col, lo, hi, n_bins, group_cols)
    qs = hist_quantiles(bins, lo, hi, n_bins, probs, group_cols)
    bounds = qs.groupBy(*group_cols).agg(
        F.sort_array(F.collect_list("q_est")).alias("_bnds")
    )
    joined = (
        df.join(F.broadcast(bounds), group_cols)
        if group_cols
        else df.crossJoin(F.broadcast(bounds))
    )
    raw = F.col(value_col).cast("double")
    v = F.round(F.col(value_col) * F.lit(scale)).cast("long")
    assigned = joined.select(
        *group_cols,
        v.alias("_v"),
        (
            F.lit(1)
            + F.size(F.filter("_bnds", lambda b: raw > b))
        ).alias("bin"),
    )
    return assigned.groupBy(*group_cols, "bin").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("_v").alias("lo_milli"),
        F.max("_v").alias("hi_milli"),
    )


def winsorize(
    df: DataFrame,
    value_col: str,
    lo: float,
    hi: float,
    n_bins: int,
    p_low: float,
    p_high: float,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """df + (v_wins, clamped_low, clamped_high): values clamped to the
    [p_low, p_high] quantile estimates from the histogram sketch — the
    standard outlier-robust preprocessing (winsorization) driven by the
    sketch rather than an exact sort: at 100 TB the exact percentile is
    a full sort, the sketch bound is one constant-size aggregate.

    Clamp bounds come from `hist_quantiles` (resolution = one bin
    width); they broadcast back per group.  Composes two certified
    pieces (d53 + a pure-codegen clamp), so the whole thing replays in
    SQL (d72).
    """
    group_cols = group_cols or []
    bins = hist_bins(df, value_col, lo, hi, n_bins, group_cols)
    qs = hist_quantiles(bins, lo, hi, n_bins, [p_low, p_high], group_cols)
    bounds = (
        qs.groupBy(*group_cols)
        .pivot("p", [p_low, p_high])
        .agg(F.first("q_est"))
        .withColumnRenamed(str(p_low), "_qlo")
        .withColumnRenamed(str(p_high), "_qhi")
    )
    joined = (
        df.join(F.broadcast(bounds), group_cols)
        if group_cols
        else df.crossJoin(F.broadcast(bounds))
    )
    v = F.col(value_col)
    return joined.select(
        *df.columns,
        F.greatest(F.col("_qlo"), F.least(F.col("_qhi"), v)).alias("v_wins"),
        (v < F.col("_qlo")).alias("clamped_low"),
        (v > F.col("_qhi")).alias("clamped_high"),
    )


def cms_l1_divergence(a: DataFrame, b: DataFrame) -> DataFrame:
    """One-row (l1_lower_bound, mass_a, mass_b): frequency-distribution
    drift from two same-config CMS sketches — sum_w |a[w] - b[w]| per
    depth row, MAXIMIZED over depths (each row's L1 is a LOWER bound on
    the true L1 distance between the key-frequency vectors: collisions
    only cancel differences, never create them — so the largest row is
    the tightest bound).  The sketch-resident companion to the exact
    per-token KL monitor (d47): compare this month's cells to last
    month's parquet artifact without either corpus.  All integer.
    """
    aj = a.select("d", "w", F.col("cnt").alias("_ca"))
    bj = b.select("d", "w", F.col("cnt").alias("_cb"))
    per_depth = (
        aj.join(bj, ["d", "w"], "full")
        .select(
            "d",
            F.abs(
                F.coalesce("_ca", F.lit(0)) - F.coalesce("_cb", F.lit(0))
            ).alias("_diff"),
            F.coalesce("_ca", F.lit(0)).alias("_ma"),
            F.coalesce("_cb", F.lit(0)).alias("_mb"),
        )
        .groupBy("d")
        .agg(
            F.sum("_diff").alias("_l1"),
            F.sum("_ma").alias("_sa"),
            F.sum("_mb").alias("_sb"),
        )
    )
    return per_depth.agg(
        F.max("_l1").alias("l1_lower_bound"),
        F.max("_sa").alias("mass_a"),
        F.max("_sb").alias("mass_b"),
    )
