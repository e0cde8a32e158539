"""Seeded input generator for the benchmark workloads.

Pure Python + pyarrow, no Spark: generation never competes with Spark
for cores, and the library under test only ever sees the files and
requests produced here.

The document texts follow the profile of the sf0.1 ``documents`` table:
every text is a uniform draw, with replacement, from the same 30-word
vocabulary, 10 to 99 words long, and near-duplicates there are padded
copies (a trailing extra token).  ``lang`` and ``source`` follow that
table's shares (en 41 %, zh/es/fr/de 15 % each; 20 sources).

Every draw comes from ``random.Random(f"{seed}:{stream}")`` so each
stream (build corpus, serving corpus, questions, landing schedule) is
fixed by the seed alone, and the same seed writes byte-identical files.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = (("en", 0.41), ("zh", 0.15), ("es", 0.15), ("fr", 0.15), ("de", 0.14))
N_SOURCES = 20
PAD_WORDS = ("dup", "copy", "mirror", "again")  # near-dup padding tokens

# Planted shares.  The workload sizes live in workloads.py.
EXACT_SHARE = 0.08    # corpus rows that are exact copies of an earlier original
NEAR_SHARE = 0.06     # corpus rows that are padded near-dups of an earlier original
OOV_SHARE = 0.2       # questions with only out-of-vocabulary terms
RELAND_SHARE = 0.1    # rows of each landed file after the first: same-id re-lands
REFETCH_SHARE = 0.1   # ... and new-id padded near-dup re-fetches

SCHEMA = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("source", pa.string()),
        ("n_chars", pa.int64()),
    ]
)


def rng(seed: int, stream: str) -> random.Random:
    return random.Random(f"{seed}:{stream}")


def _text(r: random.Random, min_words: int, max_words: int) -> str:
    return " ".join(r.choice(VOCAB) for _ in range(r.randint(min_words, max_words)))


def _pad(r: random.Random, text: str) -> str:
    """A near-duplicate: the text plus 1-3 padding tokens at the end
    (Jaccard of word 3-shingles stays well above 0.5)."""
    return text + " " + " ".join(r.choice(PAD_WORDS) for _ in range(r.randint(1, 3)))


def _lang(r: random.Random) -> str:
    x, acc = r.random(), 0.0
    for lang, share in LANGS:
        acc += share
        if x < acc:
            return lang
    return LANGS[-1][0]


def _table(rows: list[tuple[int, str, str, str]]) -> pa.Table:
    ids, texts, langs, sources = (list(c) for c in zip(*rows)) if rows else ([], [], [], [])
    return pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(langs, pa.string()),
            "source": pa.array(sources, pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        },
        schema=SCHEMA,
    )


def write_parquet(table: pa.Table, path: str) -> None:
    """Write atomically: a dot-prefixed temp name (which Spark's file
    sources skip), then rename, so no reader sees half a file."""
    d, name = os.path.split(path)
    tmp = os.path.join(d, f".{name}.tmp")
    pq.write_table(table, tmp, compression="snappy")
    os.rename(tmp, path)


@dataclass
class Corpus:
    table: pa.Table
    exact_copies: dict[int, int]  # copy id -> original id
    near_dups: dict[int, int]     # padded copy id -> original id


def corpus(seed: int, stream: str, n_docs: int) -> Corpus:
    """`n_docs` rows: originals, then EXACT_SHARE exact copies and
    NEAR_SHARE padded near-dups of earlier originals.  Copies always get higher ids than their
    original, so keep-first dedup must drop the copy.  Rows are shuffled
    so copies do not sit next to their originals in the file."""
    r = rng(seed, stream)
    n_exact = round(n_docs * EXACT_SHARE)
    n_near = round(n_docs * NEAR_SHARE)
    n_orig = n_docs - n_exact - n_near
    rows = [(i, _text(r, 10, 99), _lang(r), f"src{r.randrange(N_SOURCES)}") for i in range(n_orig)]
    exact, near = {}, {}
    next_id = n_orig
    for _ in range(n_exact):
        src = rows[r.randrange(n_orig)]
        rows.append((next_id, src[1], src[2], src[3]))
        exact[next_id] = src[0]
        next_id += 1
    for _ in range(n_near):
        src = rows[r.randrange(n_orig)]
        rows.append((next_id, _pad(r, src[1]), src[2], src[3]))
        near[next_id] = src[0]
        next_id += 1
    r.shuffle(rows)
    return Corpus(_table(rows), exact, near)


OOV_WORDS = ("zebra", "quartz", "violin", "glacier", "pumpkin", "saffron")


def questions(seed: int, n: int, oov_at: tuple[int, ...]) -> list[str]:
    """2-6 term questions from the corpus vocabulary; OOV_SHARE of them
    (and every index in `oov_at`) use only out-of-vocabulary terms, so
    the BM25 branch returns nothing for them."""
    r = rng(seed, "questions")
    out = []
    for i in range(n):
        oov = r.random() < OOV_SHARE or i in oov_at
        words = OOV_WORDS if oov else VOCAB
        out.append(" ".join(r.choice(words) for _ in range(r.randint(2, 6))))
    return out


@dataclass
class Landing:
    """The stream_ingest input: files before `warmup_files` are ingested
    during set-up; file i >= warmup_files is due (i - warmup_files) *
    interval seconds after the timed window opens."""

    files: list[pa.Table]
    interval_s: float
    warmup_files: int
    originals: set[int] = field(default_factory=set)
    relands: set[int] = field(default_factory=set)    # same id, same row, later file
    refetches: dict[int, int] = field(default_factory=dict)  # new id -> original id

    def due(self, i: int) -> float:
        return (i - self.warmup_files) * self.interval_s


def landing(
    seed: int,
    n_files: int,
    first_docs: int,
    docs_per_file: int,
    interval_s: float,
    warmup_files: int,
) -> Landing:
    """A first file of `first_docs` fresh docs, then files of
    `docs_per_file` rows: fresh docs plus RELAND_SHARE same-id re-lands
    and REFETCH_SHARE new-id near-dup re-fetches of docs from earlier
    files.  Fresh docs
    are at least 20 words long, so each one yields at least one chunk."""
    r = rng(seed, "landing")
    out = Landing([], interval_s, warmup_files)
    earlier: list[tuple[int, str, str, str]] = []
    next_id = 0
    for i in range(n_files):
        n = docs_per_file if i else first_docs
        n_reland = round(n * RELAND_SHARE) if i else 0
        n_refetch = round(n * REFETCH_SHARE) if i else 0
        fresh = []
        for _ in range(n - n_reland - n_refetch):
            fresh.append((next_id, _text(r, 20, 99), _lang(r), f"src{r.randrange(N_SOURCES)}"))
            out.originals.add(next_id)
            next_id += 1
        rows = list(fresh)
        for src in r.sample(earlier, n_reland):
            rows.append(src)
            out.relands.add(src[0])
        for src in r.sample(earlier, n_refetch):
            rows.append((next_id, _pad(r, src[1]), src[2], src[3]))
            out.refetches[next_id] = src[0]
            next_id += 1
        earlier.extend(fresh)
        r.shuffle(rows)
        out.files.append(_table(rows))
    return out
