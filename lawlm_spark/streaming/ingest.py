"""Streaming ingestion (SURVEY §7 Phase 4): the E1 pipeline as a
Structured Streaming job over a document landing directory.

The reference re-runs its whole batch loop and relies on docket-id dedup
to skip work (data_extraction.py:110-123, bug B1 — the resume cursor is
dead).  The Spark-native incremental shape:

  landing dir (parquet files appear as upstream fetches land)
    -> readStream (FileStreamSource tracks processed files in the
       checkpoint — restart-safe, each file exactly once)
    -> foreachBatch:
         clean -> chunk -> keys -> fake/real embed   (per-row ops)
         LEFT ANTI join vs the mirror's chunk_key    (idempotent upsert:
           deterministic uuid5/chunk keys make replays and task retries
           no-ops, the same guarantee the reference gets from Qdrant
           point-id upserts)
         append to the parquet mirror
    -> Trigger.AvailableNow (tests / batch-catchup) or continuous

The BM25 sparse side is deliberately NOT built per-batch: IDF is a
corpus-global statistic, so per-batch postings would score against a
drifting IDF.  Rebuild the posting table in batch over the mirror
(bm25_index), exactly like the reference delegates collection-wide IDF
to the Qdrant server (qdrant_manager.py:28-30).

At 100 TB: the anti-join reads only the mirror's chunk_key column
(columnar pushdown); partition the mirror by ingest date so the join
prunes to recent partitions, and let AQE pick broadcast for small
batches.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lawlm_spark.localdata import local_rows
from lawlm_spark.plans.rag import EMBED_DIM, ingest_documents
from lawlm_spark.sources.mirror import mirror_exists, write_mirror

# near-dup index settings shared by every batch of one ingest pipeline —
# signatures are only comparable when shingle/hash settings match
_NEARDUP_CFG = dict(n=3, num_hashes=8, bands=4)


_LANDED = "_landed"  # (file mtime, file path, row in file) of each batch row


def _first_landed(batch_df: DataFrame, id_col: str) -> DataFrame:
    """One row per id: the earliest landed.  The file source takes files
    oldest first, so when a doc and its same-id re-land fall into
    separate passes the mirror keeps the first and the chunk-key
    anti-join drops the re-land; this keeps the same row when both fall
    into one pass."""
    w = Window.partitionBy(id_col).orderBy(_LANDED)
    return (
        batch_df.withColumn("_first", F.row_number().over(w) == 1)
        .filter("_first")
        .drop("_first", _LANDED)
    )


def _neardup_judge_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    index_dir: str,
    id_col: str,
    text_col: str,
    min_jaccard: float,
):
    """Judge a batch against the persistent LSH index; returns
    (survivors, index_append_fn).  `survivors` is the persisted verdict
    with every batch column, so the chunk write reads it from the cache
    instead of re-reading the batch; unpersist it after the pass.

    The crash-safety protocol (each step idempotent under foreachBatch
    replay, in the order the caller MUST observe — judge, write chunks,
    THEN append index):

      * The survivor verdict is persisted + forced here, BEFORE anything
        mutates the index: the lazy plan reads the index dirs, and a
        re-execution after the append would judge the batch against its
        own rows (self-match at jaccard 1.0) and drop everything.
      * Chunks are written before the index append (by the caller): a
        crash in between replays with an unchanged index -> identical
        verdict -> chunk-key anti-join dedups -> append completes.  The
        reverse order would lose the batch's chunks forever (replay
        self-matches, survivors come back empty).
      * The append itself heals per table — each table only receives
        ids it is missing, so a crash between the shingle and band
        appends cannot double-insert rows (duplicate shingles would
        inflate later Jaccard intersection counts).  Shingles append
        first: a half-indexed doc is shingles-without-bands, invisible
        to candidate generation until the bands append heals it.
      * A FULL replay (index + chunks both written) self-matches and
        drops the whole batch — correct, since everything it produced
        is already in the mirror.
    """
    from pyspark import StorageLevel

    from lawlm_spark.operators.dedup import (
        apply_incremental_near_dup,
        incremental_near_dup_pairs,
        near_dup_index,
    )

    sh_dir, bands_dir = os.path.join(index_dir, "shingles"), os.path.join(index_dir, "bands")
    docs = batch_df.select(F.col(id_col), F.col(text_col))
    have_sh, have_bands = mirror_exists(sh_dir), mirror_exists(bands_dir)
    if have_sh:
        idx_sh = spark.read.parquet(sh_dir)
    else:  # first batch: self-dedup against an empty index
        idx_sh = local_rows(spark, [], f"{id_col} long, shingle string, set_size int")
    if have_bands:
        idx_bands = spark.read.parquet(bands_dir)
    else:
        idx_bands = local_rows(spark, [], f"{id_col} long, band int, band_key string")
    pairs = incremental_near_dup_pairs(
        docs, idx_sh, idx_bands, id_col, text_col,
        min_jaccard=min_jaccard, **_NEARDUP_CFG,
    )
    kept = apply_incremental_near_dup(batch_df, pairs, id_col)
    kept = kept.persist(StorageLevel.MEMORY_AND_DISK)
    kept.count()  # force: snapshot the verdict before any index mutation

    def append_index() -> None:
        new_sh, new_bands = near_dup_index(kept, id_col, text_col, **_NEARDUP_CFG)
        if have_sh:
            new_sh = new_sh.join(idx_sh.select(id_col).distinct(), id_col, "left_anti")
        if have_bands:
            new_bands = new_bands.join(
                idx_bands.select(id_col).distinct(), id_col, "left_anti"
            )
        write_mirror(new_sh, sh_dir, mode="append")
        write_mirror(new_bands, bands_dir, mode="append")

    return kept, append_index


def stream_ingest_documents(
    spark: SparkSession,
    input_dir: str,
    mirror_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_size: int = 256,
    overlap: int = 32,
    min_chunk: int = 64,
    dim: int = EMBED_DIM,
    near_dup_jaccard: float | None = None,
    min_quality: float | None = None,
    await_termination: bool = True,
):
    """Run one availableNow pass of the streaming E1; returns the query.

    Restart-safe (checkpointed file log) and idempotent (anti-join on
    deterministic chunk keys): re-running with no new files writes
    nothing; re-landing the same documents in a new file dedups to
    nothing.  When a doc and its same-id re-land arrive in one pass, the
    pass keeps only the earliest-landed row (_first_landed), the one two
    separate passes would have kept.

    `near_dup_jaccard` arms CONTENT-level dedup on top of the key-level
    anti-join: each batch is judged against a persistent LSH index
    (mirror_dir + "_neardup_index") with O(batch) work — near-duplicate
    re-fetches (the common failure of crawled corpora: same text, new id)
    never reach chunking/embedding, and the index grows only by the
    survivors.  Off by default; key-level semantics are unchanged.

    `min_quality` arms the quality gate (functions/text.quality_score)
    per batch, BEFORE the near-dup judge: rejected docs never reach the
    index, chunking, or embedding.  Pure-codegen filter, deterministic,
    so replays gate identically — the crash-safety protocol is
    unaffected.
    """
    schema = spark.read.parquet(input_dir).schema  # pinned from a batch read
    neardup_index_dir = mirror_dir.rstrip("/") + "_neardup_index"

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        if min_quality is not None:
            from lawlm_spark.functions.text import quality_score

            batch_df = batch_df.filter(quality_score(F.col(text_col)) >= min_quality)
        batch_df = _first_landed(batch_df, id_col)
        append_index = handle = None
        if near_dup_jaccard is not None:
            batch_df, append_index = _neardup_judge_batch(
                spark, batch_df, neardup_index_dir,
                id_col, text_col, near_dup_jaccard,
            )
            handle = batch_df
        try:
            chunks, _postings = ingest_documents(
                batch_df,
                id_col=id_col,
                text_col=text_col,
                chunk_size=chunk_size,
                overlap=overlap,
                min_chunk=min_chunk,
                dim=dim,
            )
            if mirror_exists(mirror_dir):
                existing = spark.read.parquet(mirror_dir).select("chunk_key")
                chunks = chunks.join(existing, "chunk_key", "left_anti")
            write_mirror(chunks, mirror_dir, mode="append")
            if append_index is not None:
                # AFTER the chunk write: see _neardup_judge_batch's
                # crash-safety protocol
                append_index()
        finally:
            if handle is not None:
                handle.unpersist()

    q = (
        spark.readStream.schema(schema)
        .parquet(input_dir)
        .withColumn(
            _LANDED,
            F.struct(
                "_metadata.file_modification_time",
                "_metadata.file_path",
                "_metadata.row_index",
            ),
        )
        .writeStream.foreachBatch(upsert)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    if await_termination:
        q.awaitTermination()
    return q
