"""Each output check accepts a clean output and rejects a corrupted one."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq

import checks


def _write_dir(tmp_path, name: str, table: pa.Table):
    d = tmp_path / name
    d.mkdir()
    pq.write_table(table, str(d / "part-00000.parquet"))
    (d / "_SUCCESS").write_text("")
    return checks.read_dir(str(d))


def _build(tmp_path, curated_ids, point_ids, posting_keys):
    keys = [f"k{i}" for i in range(len(point_ids))]
    curated = _write_dir(tmp_path, "curated", pa.table({"doc_id": pa.array(curated_ids, pa.int64())}))
    chunks = _write_dir(tmp_path, "chunks", pa.table({
        "chunk_key": keys, "point_id": point_ids, "chunk_text": ["t"] * len(keys),
        "embedding": [[0.5, 0.25]] * len(keys),
    }))
    postings = _write_dir(tmp_path, "postings", pa.table({
        "chunk_key": posting_keys, "term": ["a"] * len(posting_keys),
        "weight": [1.0] * len(posting_keys),
    }))
    return curated, chunks, postings


def test_build_check_accepts_clean_output(tmp_path):
    tables = _build(tmp_path, [1, 2], ["p0", "p1"], ["k0", "k1"])
    assert checks.check_build(*tables, exact_copies={9: 1}) == []


def test_build_check_rejects_a_surviving_exact_copy(tmp_path):
    tables = _build(tmp_path, [1, 2, 9], ["p0", "p1"], ["k0"])
    assert any("exact copies" in e for e in checks.check_build(*tables, exact_copies={9: 1}))


def test_build_check_rejects_repeated_point_ids(tmp_path):
    tables = _build(tmp_path, [1], ["p0", "p0"], ["k0"])
    assert any("point_id" in e for e in checks.check_build(*tables, exact_copies={}))


def test_build_check_rejects_orphan_postings(tmp_path):
    tables = _build(tmp_path, [1], ["p0"], ["k0", "k7"])
    assert any("postings" in e for e in checks.check_build(*tables, exact_copies={}))


def test_digest_ignores_row_order_and_sees_content():
    t = pa.table({"chunk_key": ["b", "a"], "v": [2.0, 1.0]})
    assert checks.digest(t, ["chunk_key"]) == checks.digest(t.take([1, 0]), ["chunk_key"])
    assert checks.digest(t, ["chunk_key"]) != checks.digest(
        pa.table({"chunk_key": ["b", "a"], "v": [2.0, 1.5]}), ["chunk_key"])


def _body(found, sources, **kw):
    return {"question": "q", "summary": "s", "documents_found": found, "sources": sources, **kw}


def test_response_check():
    assert checks.check_response(200, _body(2, ["a", "b"]), limit=3) == []
    assert checks.check_response(500, None, limit=3) == ["HTTP 500"]
    assert checks.check_response(200, _body(3, ["a", "b"]), limit=3)
    assert checks.check_response(200, _body(4, ["a", "b", "c", "d"]), limit=3)


def test_batch_comparison_rejects_a_different_answer():
    batched = {"n_sources": 2, "context": "a\n\nb", "summary": "s"}
    assert checks.check_against_batch(_body(2, ["a", "b"]), batched) == []
    assert checks.check_against_batch(_body(2, ["a", "c"]), batched)
    assert checks.check_against_batch(_body(2, ["a", "b"], summary="x"), batched)
    empty = {"n_sources": 0, "context": "", "summary": "s"}
    assert checks.check_against_batch(_body(0, []), empty) == []


def _mirror(tmp_path, rows):
    ids, idx = zip(*rows)
    return _write_dir(tmp_path, "mirror", pa.table({
        "doc_id": pa.array(ids, pa.int64()), "chunk_index": pa.array(idx, pa.int32()),
        "chunk_key": [f"{d}:{c}" for d, c in rows],
    }))


def test_stream_check_accepts_clean_mirror(tmp_path):
    m = _mirror(tmp_path, [(1, 0), (1, 1), (2, 0)])
    assert checks.check_stream(m, originals={1, 2}, refetches={5: 1}, relands={1}) == []


def test_stream_check_rejects_a_duplicated_reland(tmp_path):
    m = _mirror(tmp_path, [(1, 0), (1, 1), (1, 0), (2, 0)])
    errors = checks.check_stream(m, originals={1, 2}, refetches={}, relands={1})
    assert any("repeat" in e for e in errors) and any("re-landed" in e for e in errors)


def test_stream_check_rejects_missing_and_unknown_docs(tmp_path):
    m = _mirror(tmp_path, [(1, 0), (7, 0)])
    errors = checks.check_stream(m, originals={1, 2}, refetches={}, relands=set())
    assert any("missing" in e for e in errors) and any("never landed" in e for e in errors)
