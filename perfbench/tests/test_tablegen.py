from __future__ import annotations

import pyarrow.parquet as pq

from perfbench.tablegen import DUP_FRAC, SF01_ROWS, VOCAB, write_tables


def test_tables_follow_the_sf01_shapes(tmp_path):
    rows = write_tables(str(tmp_path), 3, tuple(SF01_ROWS), 0.02)
    assert rows == {t: round(n * 0.02) for t, n in SF01_ROWS.items()}
    docs = pq.read_table(tmp_path / "documents.parquet").to_pandas()
    tokens = docs.text.str.split()
    dups = tokens.map(lambda t: t[-1] == "dup")
    assert dups.sum() == round(DUP_FRAC * len(docs))
    assert tokens[~dups].map(len).between(10, 100).all()
    assert set(w for t in tokens for w in t) <= set(VOCAB) | {"dup"}
    texts = set(docs.text)
    assert all(t[: -len(" dup")] in texts for t in docs.text[dups])
    emb = pq.read_table(tmp_path / "embeddings.parquet").to_pandas()
    assert {len(v) for v in emb.embedding} == {64}


def test_same_seed_same_tables(tmp_path):
    a = write_tables(str(tmp_path / "a"), 5, ("events", "lineitem"), 0.01)
    b = write_tables(str(tmp_path / "b"), 5, ("events", "lineitem"), 0.01)
    assert a == b
    for t in a:
        assert pq.read_table(tmp_path / "a" / f"{t}.parquet").equals(pq.read_table(tmp_path / "b" / f"{t}.parquet"))
