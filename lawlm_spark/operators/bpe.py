"""Byte-pair encoding: vocabulary learning and tokenization over a
corpus — real subword token counts for the packing/mix/budget operators
instead of the whitespace/regex approximations (functions/text.py).

Train (Sennrich et al. 2016, the standard split of labor):
  * the DISTRIBUTED step is the word-count aggregate — the only pass
    that touches the corpus (one shuffle on the word key);
  * the merge loop runs driver-side over the aggregated (word, count)
    table, exactly like every production trainer (HF tokenizers,
    SentencePiece): pair statistics are a function of the distinct-word
    table, which is vocabulary-sized (~millions at web scale, fine on a
    driver), not corpus-sized.  Determinism: best pair = highest count,
    ties to the lexicographically smallest pair.

Encode — the 100 TB path dedups the Python work by word:
  * distinct words (vocabulary-sized) go through the merge-application
    UDF ONCE each (`mapInPandas`, Arrow-batched, executor-local memo);
  * the corpus-sized token stream then just JOINS word -> token count
    (pure JVM), so per-row Python cost is zero on the hot path.
  Encoding the same word twice cannot disagree, so the dedup is exact.

End-of-word marker: '</w>' appended to each word's symbol sequence, so
"est" inside "newest" and word-final "est</w>" learn separate merges —
the classic formulation.
"""

from __future__ import annotations

from collections import Counter

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lawlm_spark.functions.text import tokenize
from lawlm_spark.localdata import local_rows

EOW = "</w>"


def word_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, n): the one corpus-scale pass of BPE training."""
    return (
        docs.select(F.explode(tokenize(F.col(text_col))).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("n"))
    )


def _pair_counts(vocab: dict[tuple[str, ...], int]) -> Counter:
    pairs: Counter = Counter()
    for sym, n in vocab.items():
        for a, b in zip(sym, sym[1:]):
            pairs[(a, b)] += n
    return pairs


def _merge_word(sym: tuple[str, ...], pair: tuple[str, str]) -> tuple[str, ...]:
    out, i = [], 0
    while i < len(sym):
        if i + 1 < len(sym) and (sym[i], sym[i + 1]) == pair:
            out.append(sym[i] + sym[i + 1])
            i += 2
        else:
            out.append(sym[i])
            i += 1
    return tuple(out)


def train_bpe(counts: DataFrame, num_merges: int = 200) -> list[tuple[str, str]]:
    """Learn `num_merges` merges from a (word, n) count table.

    The collect here is the documented driver-side step: it pulls the
    DISTINCT-WORD table (vocabulary-sized), never the corpus.
    """
    rows = counts.collect()
    vocab = {tuple(r["word"]) + (EOW,): r["n"] for r in rows}
    merges: list[tuple[str, str]] = []
    for _ in range(num_merges):
        pairs = _pair_counts(vocab)
        if not pairs:
            break
        # deterministic: highest count, ties to lexicographically SMALLEST
        top = max(pairs.values())
        best = min(p for p, n in pairs.items() if n == top)
        merges.append(best)
        vocab = {_merge_word(s, best): n for s, n in vocab.items()}
    return merges


def apply_merges(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Encode one word: repeatedly apply the lowest-rank applicable
    merge (rank order, not left-to-right order — the BPE contract)."""
    sym = tuple(word) + (EOW,)
    while len(sym) > 1:
        cand = [(ranks[p], p) for p in zip(sym, sym[1:]) if p in ranks]
        if not cand:
            break
        _, pair = min(cand)
        sym = _merge_word(sym, pair)
    return list(sym)


def encode_words(words: DataFrame, merges: list[tuple[str, str]]) -> DataFrame:
    """(word, bpe_tokens, n_bpe): the Python boundary, run once per
    DISTINCT word.  Merges travel in the task closure (tiny); an
    executor-local memo collapses repeats within a batch."""
    ranks = {p: i for i, p in enumerate(merges)}
    out_schema = "word string, bpe_tokens array<string>, n_bpe int"

    def enc(batches):
        memo: dict[str, list[str]] = {}
        for pdf in batches:
            toks = []
            for w in pdf["word"]:
                if w not in memo:
                    memo[w] = apply_merges(w, ranks)
                toks.append(memo[w])
            yield pd.DataFrame(
                {
                    "word": pdf["word"],
                    "bpe_tokens": toks,
                    "n_bpe": [len(t) for t in toks],
                }
            )

    return words.select("word").distinct().mapInPandas(enc, out_schema)


def bpe_token_counts(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, n_words, n_bpe_tokens): per-document subword token counts.
    The corpus-scale stream never enters Python — it joins the encoded
    distinct-word table (broadcast-able: vocabulary-sized) and sums."""
    toks = docs.select(F.col(id_col), F.explode(tokenize(F.col(text_col))).alias("word"))
    encoded = encode_words(toks.select("word"), merges).select("word", "n_bpe")
    per_doc = (
        toks.join(F.broadcast(encoded), "word")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_words"),
            F.sum("n_bpe").cast("long").alias("n_bpe_tokens"),
        )
    )
    return (
        docs.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_words", F.lit(0)).cast("long").alias("n_words"),
            F.coalesce("n_bpe_tokens", F.lit(0)).alias("n_bpe_tokens"),
        )
    )


def save_merges(spark, merges: list[tuple[str, str]], path: str) -> None:
    """Persist the learned merge list as a parquet artifact (rank, a, b)
    — train once, encode many, same contract as the IVF/PQ prebuilt
    indexes (r5_ivf_prebuilt).  Rank IS the application order."""
    rows = [(i, a, b) for i, (a, b) in enumerate(merges)]
    local_rows(spark, rows, "rank int, a string, b string").coalesce(
        1
    ).write.mode("overwrite").parquet(path)


def load_merges(spark, path: str) -> list[tuple[str, str]]:
    rows = spark.read.parquet(path).orderBy("rank").collect()
    ranks = [r["rank"] for r in rows]
    if ranks != list(range(len(rows))):
        raise ValueError(f"corrupt merge artifact at {path}: ranks {ranks[:5]}...")
    return [(r["a"], r["b"]) for r in rows]
