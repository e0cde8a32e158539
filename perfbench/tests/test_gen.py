"""The generator is a pure function of the seed."""

from __future__ import annotations

import hashlib

import gen


def _bytes(d, seed: int) -> str:
    """sha256 over every generated file and the question stream."""
    h = hashlib.sha256()
    d.mkdir()
    c = gen.corpus(seed, "build-corpus", 300)
    gen.write_parquet(c.table, str(d / "corpus.parquet"))
    h.update((d / "corpus.parquet").read_bytes())
    land = gen.landing(seed, 4, 60, 50, 7.0, 2)
    for i, t in enumerate(land.files):
        gen.write_parquet(t, str(d / f"f{i}.parquet"))
        h.update((d / f"f{i}.parquet").read_bytes())
    h.update("\n".join(gen.questions(seed, 50, oov_at=(1,))).encode())
    return h.hexdigest()


def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path):
    a = _bytes(tmp_path / "a", 7)
    assert _bytes(tmp_path / "b", 7) == a
    assert _bytes(tmp_path / "c", 8) != a


def test_planted_shares_and_ids():
    c = gen.corpus(3, "build-corpus", 1000)
    assert c.table.num_rows == 1000
    assert len(c.exact_copies) == round(1000 * gen.EXACT_SHARE)
    assert len(c.near_dups) == round(1000 * gen.NEAR_SHARE)
    texts = dict(zip(c.table.column("doc_id").to_pylist(), c.table.column("text").to_pylist()))
    for copy, orig in c.exact_copies.items():
        assert copy > orig and texts[copy] == texts[orig]
    for dup, orig in c.near_dups.items():
        assert dup > orig and texts[dup].startswith(texts[orig] + " ")


def test_landing_relands_and_refetches_point_backwards():
    land = gen.landing(5, 5, 120, 100, 7.0, 2)
    first_seen = {}
    for i, t in enumerate(land.files):
        for d in t.column("doc_id").to_pylist():
            first_seen.setdefault(d, i)
    for i, t in enumerate(land.files[1:], start=1):
        ids = t.column("doc_id").to_pylist()
        assert sum(d in land.relands and first_seen[d] < i for d in ids) == round(100 * gen.RELAND_SHARE)
        assert sum(d in land.refetches for d in ids) == round(100 * gen.REFETCH_SHARE)
    assert all(new > orig for new, orig in land.refetches.items())
    assert land.due(2) == 0.0 and land.due(4) == 14.0


def test_oov_questions_use_no_vocabulary():
    qs = gen.questions(2, 200, oov_at=(1,))
    assert not set(qs[1].split()) & set(gen.VOCAB)
    oov = [q for q in qs if not set(q.split()) & set(gen.VOCAB)]
    assert 0.5 * 200 * gen.OOV_SHARE <= len(oov) <= 1.5 * 200 * gen.OOV_SHARE
    assert all(2 <= len(q.split()) <= 6 for q in qs)
