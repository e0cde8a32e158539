"""Unpartitioned-window hygiene (VERDICT r6 item 5).

Spark warns `WindowExec: No Partition Defined` for every empty window
partition spec.  All such windows in this engine run over bounded or
documented relations, so session.py filters that one logger to keep the
bench tail readable — a constant partition key cannot silence it on
Spark 4 because EliminateWindowPartitions (SPARK-46941) strips foldable
partition expressions back out.

With the log line filtered, THIS test is the guard that a REAL
unpartitioned window cannot sneak in silently: it tokenizes every
source file (comments and docstrings excluded) and fails when a
`Window.orderBy(...)` or bare `Window.partitionBy()` appears anywhere
that is not on the allowlist below.  Adding a new site forces the
author to justify its boundedness here, in review — stronger than a
warning line in a log tail.
"""

from __future__ import annotations

import io
import pathlib
import re
import tokenize

REPO = pathlib.Path(__file__).resolve().parent.parent

# file -> (expected occurrence count, why each unpartitioned window there
# is safe).  Counts are over code tokens only — docstrings/comments are
# stripped before matching.
ALLOWLIST = {
    # documented-hazard or bounded-relation sites:
    "lawlm_spark/operators/relational.py": (
        1,
        "latest_by ungrouped form; docstring directs scale users to "
        "agg(max(struct(...))) instead",
    ),
    "lawlm_spark/operators/packing.py": (
        1,
        "pack_documents without shard_col: oracle/small-corpus form, "
        "d16b certifies the sharded scale form",
    ),
    "lawlm_spark/operators/ranking.py": (
        1,
        "top_k ungrouped shape: Spark rewrites limit-after-rank to "
        "TakeOrderedAndProject, no single-partition sort materializes",
    ),
    "lawlm_spark/operators/pq.py": (
        1,
        "seed_codebook rank over the limit(k) seed rows (k <= 64)",
    ),
    "lawlm_spark/operators/ivf.py": (
        1,
        "seed_ivf_centroids rank over the limit(nlist) seed rows",
    ),
    "lawlm_spark/operators/sketches.py": (
        2,
        "hist_quantiles cumulative window over <= n_bins sketch rows; "
        "equidepth_bins ungrouped ntile gated by allow_global_sort raise",
    ),
    "lawlm_spark/operators/topics.py": (
        1,
        "token_drift rank stamp over the limit(k) relation",
    ),
    "lawlm_spark/operators/skyline.py": (
        1,
        "pareto_front_2d running-max window over the groupBy(m1) "
        "aggregate only — bounded by |distinct m1|, never corpus rows "
        "(plan-asserted in test_skyline.py)",
    ),
    "lawlm_spark/operators/skew.py": (
        1,
        "skew_report rank stamp over the limit(k) relation",
    ),
    "lawlm_spark/operators/association.py": (
        1,
        "association_rules rank stamp over the limit(k) relation",
    ),
    "__spark_entry__.py": (
        2,
        "d51 and d74 rank stamps over their limit(20) relations",
    ),
}

PATTERN = re.compile(r"Window\s*\.\s*(orderBy\s*\(|partitionBy\s*\(\s*\))")


def _code_only(path: pathlib.Path) -> str:
    """Source with comments dropped and string literals replaced by a
    placeholder — docstring mentions stop matching, while a
    string-keyed `partitionBy("col")` stays visibly non-empty."""
    out = []
    with open(path, "rb") as f:
        for tok in tokenize.tokenize(f.readline):
            if tok.type == tokenize.COMMENT:
                continue
            out.append("S" if tok.type == tokenize.STRING else tok.string)
    return " ".join(out)


def test_no_unallowlisted_unpartitioned_windows():
    sources = sorted(
        p.relative_to(REPO).as_posix()
        for p in [
            *(REPO / "lawlm_spark").rglob("*.py"),
            REPO / "__spark_entry__.py",
            REPO / "bench.py",
            REPO / "selfcheck.py",
        ]
    )
    problems = []
    seen = {}
    for rel in sources:
        code = _code_only(REPO / rel)
        n = len(PATTERN.findall(code))
        if n:
            seen[rel] = n
        expected = ALLOWLIST.get(rel, (0, ""))[0]
        if n != expected:
            problems.append(f"{rel}: {n} unpartitioned windows, allowlisted {expected}")
    # every allowlist entry must still exist (stale entries rot the ledger)
    for rel, (expected, _) in ALLOWLIST.items():
        if rel not in seen:
            problems.append(f"{rel}: allowlisted {expected} but none found (stale entry)")
    assert not problems, "\n".join(problems)


def test_windowexec_logger_filtered(spark):
    """get_spark raises WindowExec's level to ERROR so the allowlisted
    bounded windows stop flooding the bench tail."""
    jvm = spark.sparkContext._jvm
    lvl = jvm.org.apache.logging.log4j.LogManager.getLogger(
        "org.apache.spark.sql.execution.window.WindowExec"
    ).getLevel()
    assert str(lvl) == "ERROR"


# ---------------------------------------------------------------------------
# Driver-materialization hygiene: collect()/toPandas() in engine code


COLLECT_ALLOWLIST = {
    "lawlm_spark/operators/bpe.py": (
        2,
        "BPE merge loop + artifact load: both vocabulary-sized by "
        "construction (documented HF split of labor in the module doc)",
    ),
    "lawlm_spark/operators/sketches.py": (
        1,
        "bloom_mask folds the n_bits/64-long bit table into a codegen "
        "literal — bounded by the sketch size, never the corpus",
    ),
    "lawlm_spark/serving.py": (
        2,
        "HTTP tier: cached collection stats (1 row) and the per-request "
        "top-k result (<= limit rows) — the serving boundary IS a "
        "driver materialization by definition",
    ),
}

COLLECT_PATTERN = re.compile(r"\.\s*(collect|toPandas)\s*\(\s*\)")


def test_no_unallowlisted_driver_materialization():
    """Every collect()/toPandas() in lawlm_spark/ must be on the
    bounded-relation allowlist above — a corpus-sized driver
    materialization is the one scale bug a plan audit can miss, so new
    sites force a review-time boundedness justification (same policy as
    the unpartitioned-window scan)."""
    sources = sorted(
        p.relative_to(REPO).as_posix() for p in (REPO / "lawlm_spark").rglob("*.py")
    )
    problems = []
    seen = set()
    for rel in sources:
        n = len(COLLECT_PATTERN.findall(_code_only(REPO / rel)))
        if n:
            seen.add(rel)
        expected = COLLECT_ALLOWLIST.get(rel, (0, ""))[0]
        if n != expected:
            problems.append(f"{rel}: {n} driver materializations, allowlisted {expected}")
    for rel, (expected, _) in COLLECT_ALLOWLIST.items():
        if rel not in seen:
            problems.append(f"{rel}: allowlisted {expected} but none found (stale entry)")
    assert not problems, "\n".join(problems)


# ---------------------------------------------------------------------------
# Literal-frame hygiene: one way to build a DataFrame from Python rows


CREATE_DF_ALLOWLIST = {
    "lawlm_spark/localdata.py": (
        1,
        "local_rows itself: hands createDataFrame a pyarrow.Table and "
        "raises unless the result is a LocalRelation",
    ),
}

CREATE_DF_PATTERN = re.compile(r"\bcreateDataFrame\s*\(")


def test_no_unallowlisted_create_dataframe():
    """Every literal-rows frame in lawlm_spark/ goes through
    localdata.local_rows: createDataFrame over a Python list pickles the
    rows into an RDD that a Python worker re-reads in every job over it."""
    sources = sorted(
        p.relative_to(REPO).as_posix() for p in (REPO / "lawlm_spark").rglob("*.py")
    )
    problems = []
    for rel in sources:
        n = len(CREATE_DF_PATTERN.findall(_code_only(REPO / rel)))
        expected = CREATE_DF_ALLOWLIST.get(rel, (0, ""))[0]
        if n != expected:
            problems.append(f"{rel}: {n} createDataFrame calls, allowlisted {expected}")
    assert not problems, "\n".join(problems)
