"""Streaming E1: incremental, restart-safe, idempotent mirror ingest."""

from __future__ import annotations

import glob
import os
import tempfile
import time

import pytest

from lawlm_spark.streaming.ingest import stream_ingest_documents


def _mirror_keys(spark, mirror):
    return [r["chunk_key"] for r in spark.read.parquet(mirror).select("chunk_key").collect()]


def test_streaming_ingest_incremental_and_idempotent(spark, docs):
    base = tempfile.mkdtemp(prefix="stream_ingest_")
    landing, mirror, ckpt = base + "/landing", base + "/mirror", base + "/ckpt"

    # batch 1 lands: first 30 documents
    part1 = docs.filter("doc_id < 30")
    part1.write.parquet(landing)
    stream_ingest_documents(spark, landing, mirror, ckpt)
    keys1 = _mirror_keys(spark, mirror)
    assert len(keys1) > 0 and len(set(keys1)) == len(keys1)

    # batch 2 lands: 20 NEW documents plus 10 RE-LANDED ones (30-49 + 20-29)
    docs.filter("doc_id >= 20 and doc_id < 50").write.mode("append").parquet(landing)
    stream_ingest_documents(spark, landing, mirror, ckpt)
    keys2 = _mirror_keys(spark, mirror)
    assert len(set(keys2)) == len(keys2)  # re-landed docs deduped by chunk_key
    assert set(keys1) < set(keys2)  # strictly grew by the new docs' chunks

    # third run with no new files: the checkpointed file log skips everything
    stream_ingest_documents(spark, landing, mirror, ckpt)
    assert sorted(_mirror_keys(spark, mirror)) == sorted(keys2)

    # the mirror matches a straight batch ingest of the distinct documents
    from lawlm_spark.plans.rag import ingest_documents

    batch_chunks, _ = ingest_documents(
        docs.filter("doc_id < 50"), chunk_size=256, overlap=32, min_chunk=64
    )
    expected = {r["chunk_key"] for r in batch_chunks.select("chunk_key").collect()}
    assert set(keys2) == expected


def test_streaming_ingest_neardup_filter(spark, docs):
    """near_dup_jaccard arms content-level dedup: a later wave of
    near-duplicate copies (same text + tiny pad, NEW ids) must not reach
    the mirror, while genuinely new docs still land."""
    from pyspark.sql import functions as F

    base = tempfile.mkdtemp(prefix="stream_neardup_")
    landing, mirror, ckpt = base + "/landing", base + "/mirror", base + "/ckpt"

    # wave 1: originals
    wave1 = docs.filter("doc_id < 20").select("doc_id", "text")
    wave1.write.parquet(landing)
    stream_ingest_documents(spark, landing, mirror, ckpt, near_dup_jaccard=0.5)
    ids1 = {r["doc_id"] for r in spark.read.parquet(mirror).select("doc_id").distinct().collect()}
    assert ids1  # originals landed

    # wave 2: near-dup copies of wave 1 (new ids) + genuinely new docs
    copies = wave1.select(
        (F.col("doc_id") + 5000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" tiny pad")).alias("text"),
    )
    fresh = docs.filter("doc_id >= 20 and doc_id < 35").select("doc_id", "text")
    copies.unionByName(fresh).write.mode("append").parquet(landing)
    stream_ingest_documents(spark, landing, mirror, ckpt, near_dup_jaccard=0.5)
    ids2 = {r["doc_id"] for r in spark.read.parquet(mirror).select("doc_id").distinct().collect()}
    copy_ids = {r["doc_id"] for r in copies.select("doc_id").collect()}
    # docs whose text yields zero chunks (min_chunk filter) never appear
    # in the mirror regardless of dedup — compare against batch ingest
    from lawlm_spark.plans.rag import ingest_documents

    fresh_chunks, _ = ingest_documents(fresh, chunk_size=256, overlap=32, min_chunk=64)
    fresh_ids = {r["doc_id"] for r in fresh_chunks.select("doc_id").distinct().collect()}
    assert ids2 & copy_ids == set()  # near-dup re-fetches never reached the mirror
    assert fresh_ids and fresh_ids <= ids2  # genuinely new docs landed

    # wave 3: nothing new -> file log skips, mirror unchanged, index stable
    stream_ingest_documents(spark, landing, mirror, ckpt, near_dup_jaccard=0.5)
    ids3 = {r["doc_id"] for r in spark.read.parquet(mirror).select("doc_id").distinct().collect()}
    assert ids3 == ids2

    # the on-disk index holds only accepted docs (supersets the mirror
    # ids: chunk-less accepted docs are indexed but yield no chunks),
    # each exactly once
    bands = spark.read.parquet(mirror + "_neardup_index/bands")
    per_doc = bands.groupBy("doc_id").count().collect()
    index_ids = {r["doc_id"] for r in per_doc}
    assert index_ids & copy_ids == set()
    assert ids2 <= index_ids
    assert all(r["count"] == 4 for r in per_doc)  # 4 bands, no double-insert


def test_streaming_ingest_quality_gate(spark, docs):
    """min_quality gates each batch before chunking/indexing: the mirror
    matches a batch ingest of only the above-threshold docs."""
    from pyspark.sql import functions as F

    from lawlm_spark.functions.text import quality_score
    from lawlm_spark.plans.rag import ingest_documents

    base = tempfile.mkdtemp(prefix="stream_quality_")
    landing, mirror, ckpt = base + "/landing", base + "/mirror", base + "/ckpt"

    wave = docs.filter("doc_id < 40").select("doc_id", "text")
    # pick a threshold that splits the wave (median quality)
    qs = sorted(
        r["q"] for r in wave.select(quality_score(F.col("text")).alias("q")).collect()
    )
    thr = qs[len(qs) // 2]
    passing = wave.filter(quality_score(F.col("text")) >= thr)
    assert 0 < passing.count() < wave.count()

    wave.write.parquet(landing)
    stream_ingest_documents(spark, landing, mirror, ckpt, min_quality=thr)
    got = sorted(_mirror_keys(spark, mirror))
    expected_chunks, _ = ingest_documents(
        passing, chunk_size=256, overlap=32, min_chunk=64
    )
    expected = sorted(r["chunk_key"] for r in expected_chunks.select("chunk_key").collect())
    assert got == expected


def test_streaming_ingest_neardup_within_batch(spark, docs):
    """Within one batch the keep-first smaller-id rule applies."""
    from pyspark.sql import functions as F

    base = tempfile.mkdtemp(prefix="stream_neardup_wb_")
    landing, mirror, ckpt = base + "/landing", base + "/mirror", base + "/ckpt"

    orig = docs.filter("doc_id < 10").select("doc_id", "text")
    dupes = orig.select(
        (F.col("doc_id") + 7000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" pad")).alias("text"),
    )
    orig.unionByName(dupes).write.parquet(landing)
    stream_ingest_documents(spark, landing, mirror, ckpt, near_dup_jaccard=0.5)
    ids = {r["doc_id"] for r in spark.read.parquet(mirror).select("doc_id").distinct().collect()}
    from lawlm_spark.plans.rag import ingest_documents

    orig_chunks, _ = ingest_documents(orig, chunk_size=256, overlap=32, min_chunk=64)
    expected = {r["doc_id"] for r in orig_chunks.select("doc_id").distinct().collect()}
    assert ids == expected  # smaller ids won; dupes never chunked


def _land(df, landing, mtime):
    """Append df to the landing dir with its files' mtime pinned, so the
    file source's oldest-first order is fixed by the test."""
    before = set(glob.glob(landing + "/*.parquet"))
    df.write.mode("append").parquet(landing)
    for f in set(glob.glob(landing + "/*.parquet")) - before:
        os.utime(f, (mtime, mtime))


def _mirror_rows(spark, mirror):
    return sorted(
        (r["chunk_key"], r["chunk_text"])
        for r in spark.read.parquet(mirror).select("chunk_key", "chunk_text").collect()
    )


@pytest.mark.parametrize("near_dup_jaccard", [None, 0.5], ids=["keys_only", "near_dup"])
def test_streaming_ingest_reland_in_one_pass(spark, docs, near_dup_jaccard):
    """A doc and its same-id re-land consumed by ONE pass write each
    chunk_key once, and the pass keeps the earliest-landed row: the
    mirror equals the one two separate passes build."""
    from pyspark.sql import functions as F

    first = docs.filter("doc_id < 30").select("doc_id", "text")
    # re-lands of 20-29 (one with edited text) beside new docs 30-49
    second = docs.filter("doc_id >= 20 and doc_id < 50").select(
        "doc_id",
        F.when(F.col("doc_id") == 21, F.concat("text", F.lit(" revised"))).otherwise(
            F.col("text")
        ).alias("text"),
    )
    now = time.time()
    mirrors = []
    for one_pass in (True, False):
        base = tempfile.mkdtemp(prefix="stream_reland_")
        landing, mirror, ckpt = base + "/landing", base + "/mirror", base + "/ckpt"
        _land(first, landing, now - 20)
        if not one_pass:
            stream_ingest_documents(spark, landing, mirror, ckpt, near_dup_jaccard=near_dup_jaccard)
        _land(second, landing, now - 10)
        stream_ingest_documents(spark, landing, mirror, ckpt, near_dup_jaccard=near_dup_jaccard)
        keys = _mirror_keys(spark, mirror)
        assert len(keys) == len(set(keys))  # chunk_key is distinct
        mirrors.append(_mirror_rows(spark, mirror))
    assert mirrors[0] == mirrors[1]
    assert not any(text.endswith(" revised") for _, text in mirrors[0])
