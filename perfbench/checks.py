"""Output checks and digests, read with pyarrow so they depend on
nothing the library computes.  Each check returns a list of error
strings; an empty list means the output is correct."""

from __future__ import annotations

import hashlib
import json
from collections import Counter
from collections.abc import Iterable, Sequence

import pyarrow as pa
import pyarrow.parquet as pq


def read_dir(path: str, columns: Sequence[str] | None = None) -> pa.Table:
    """A Spark parquet output directory (pyarrow skips `_SUCCESS` and
    the dot-prefixed checksum files)."""
    return pq.read_table(path, columns=list(columns) if columns else None)


def digest(table: pa.Table, sort_keys: Sequence[str], float_digits: int = 9) -> str:
    """Order-independent sha256 of a table's rows.  Floats are rounded
    to `float_digits` so the digest does not hang on summation order."""

    def norm(v):
        if isinstance(v, float):
            return round(v, float_digits)
        if isinstance(v, list):
            return [norm(x) for x in v]
        return v

    rows = table.sort_by([(k, "ascending") for k in sort_keys]).to_pylist()
    h = hashlib.sha256()
    for row in rows:
        h.update(json.dumps({k: norm(v) for k, v in row.items()}, sort_keys=True).encode())
    return h.hexdigest()


def combine(*digests: str) -> str:
    return hashlib.sha256("".join(digests).encode()).hexdigest()


def _dupes(values: Iterable) -> list:
    return [v for v, n in Counter(values).items() if n > 1]


# ---------------------------------------------------------------------------
# build_index


def check_build(
    curated: pa.Table, chunks: pa.Table, postings: pa.Table, exact_copies: Iterable[int]
) -> list[str]:
    errors = []
    kept_copies = set(curated.column("doc_id").to_pylist()) & set(exact_copies)
    if kept_copies:
        errors.append(f"{len(kept_copies)} planted exact copies survived curation")
    dup_points = _dupes(chunks.column("point_id").to_pylist())
    if dup_points:
        errors.append(f"{len(dup_points)} point_id values repeat in the chunks mirror")
    orphan = set(postings.column("chunk_key").to_pylist()) - set(chunks.column("chunk_key").to_pylist())
    if orphan:
        errors.append(f"{len(orphan)} postings chunk_key values are not in the chunks mirror")
    if chunks.num_rows == 0:
        errors.append("the chunks mirror is empty")
    return errors


def build_digest(curated: pa.Table, chunks: pa.Table, postings: pa.Table) -> str:
    return combine(
        digest(curated, ["doc_id"]),
        digest(chunks.select(["chunk_key", "point_id", "chunk_text", "embedding"]), ["chunk_key"]),
        digest(postings.select(["chunk_key", "term", "weight"]), ["chunk_key", "term"]),
    )


# ---------------------------------------------------------------------------
# serve_queries


def check_response(status: int, body: dict | None, limit: int) -> list[str]:
    if status != 200 or body is None:
        return [f"HTTP {status}"]
    found, sources = body.get("documents_found"), body.get("sources")
    if not isinstance(sources, list) or found != len(sources):
        return [f"documents_found={found} but {len(sources or [])} sources"]
    if found > limit:
        return [f"documents_found={found} exceeds limit {limit}"]
    return []


def check_against_batch(served: dict, batched: dict) -> list[str]:
    """`served` is the HTTP response body; `batched` a rag_answer row
    (n_sources, context, summary) for the same question and mirror."""
    errors = []
    sources = batched["context"].split("\n\n") if batched["context"] else []
    if served["sources"] != sources:
        errors.append(f"sources differ from the batched answer for {served['question']!r}")
    if served["summary"] != batched["summary"]:
        errors.append(f"summary differs from the batched answer for {served['question']!r}")
    if served["documents_found"] != batched["n_sources"]:
        errors.append(f"documents_found differs from the batched answer for {served['question']!r}")
    return errors


def answers_digest(bodies: Sequence[dict]) -> str:
    keep = [{k: b[k] for k in ("question", "summary", "sources", "documents_found")} for b in bodies]
    return hashlib.sha256(json.dumps(keep, sort_keys=True).encode()).hexdigest()


# ---------------------------------------------------------------------------
# stream_ingest


def check_stream(
    mirror: pa.Table, originals: Iterable[int], refetches: Iterable[int], relands: Iterable[int]
) -> list[str]:
    errors = []
    keys = mirror.column("chunk_key").to_pylist()
    dup_keys = _dupes(keys)
    if dup_keys:
        errors.append(f"{len(dup_keys)} chunk_key values repeat in the mirror")
    ids = mirror.column("doc_id").to_pylist()
    present = set(ids)
    originals = set(originals)
    missing = originals - present
    if missing:
        errors.append(f"{len(missing)} original docs are missing from the mirror")
    unknown = present - originals - set(refetches)
    if unknown:
        errors.append(f"{len(unknown)} doc ids in the mirror were never landed")
    rows = Counter(ids)
    chunks_per_id = Counter(i for i, _c in set(zip(ids, mirror.column("chunk_index").to_pylist())))
    grown = [d for d in relands if rows[d] != chunks_per_id[d]]
    if grown:
        errors.append(f"{len(grown)} re-landed doc ids added rows")
    return errors


def stream_digest(mirror: pa.Table) -> str:
    return digest(mirror.select(["chunk_key", "point_id", "chunk_text", "embedding"]), ["chunk_key"])
