"""Seeded inputs: the same seed gives identical files, another seed does not."""

from __future__ import annotations

import inputs


def _digest(tmp_path, name: str, seed: int) -> str:
    out = tmp_path / name
    inputs.make_tables(str(out), 0.001, seed)
    return inputs.digest(str(out))


def test_same_seed_same_tables(tmp_path):
    assert _digest(tmp_path, "a", 7) == _digest(tmp_path, "b", 7)


def test_other_seed_other_tables(tmp_path):
    assert _digest(tmp_path, "a", 7) != _digest(tmp_path, "b", 8)


def test_every_table_changes_with_the_seed(tmp_path):
    inputs.make_tables(str(tmp_path / "a"), 0.001, 7)
    inputs.make_tables(str(tmp_path / "b"), 0.001, 8)
    static = {"region", "nation"}  # fixed dimension tables
    for t in set(inputs.TABLES) - static:
        a = inputs.digest(str(tmp_path / "a" / f"{t}.parquet"))
        b = inputs.digest(str(tmp_path / "b" / f"{t}.parquet"))
        assert a != b, t


def test_documents_plant_near_duplicates(tmp_path):
    import pandas as pd

    inputs.make_tables(str(tmp_path), 0.001, 3)
    docs = pd.read_parquet(tmp_path / "documents.parquet")
    dups = docs[docs.text.str.endswith(" dup")]
    assert len(dups) > 0
    assert dups.text.str[:-4].isin(docs.text).all()
