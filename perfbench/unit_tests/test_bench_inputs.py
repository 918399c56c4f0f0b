"""The input generator is a pure function of the seed."""

import collections
import filecmp
import os

import pyarrow.parquet as pq

import gen


def _files(root):
    return sorted(os.path.relpath(os.path.join(r, f), root) for r, _d, fs in os.walk(root) for f in fs)


def _same_bytes(a, b):
    files = _files(a)
    assert files == _files(b)
    _match, mismatch, errors = filecmp.cmpfiles(a, b, files, shallow=False)
    return not mismatch and not errors


def test_one_seed_gives_byte_identical_tables(tmp_path):
    for d in ("a", "b"):
        gen.write_tables(3, 0.02, str(tmp_path / d))
    gen.write_tables(4, 0.02, str(tmp_path / "c"))
    assert _same_bytes(tmp_path / "a", tmp_path / "b")
    assert not _same_bytes(tmp_path / "a", tmp_path / "c")


def test_large_tables_are_split_with_bounded_row_groups(tmp_path):
    gen.write_tables(3, 0.1, str(tmp_path))
    parts = sorted((tmp_path / "lineitem.parquet").iterdir())
    assert len(parts) == gen.N_FILES
    for p in parts:
        md = pq.ParquetFile(p).metadata
        assert all(md.row_group(i).num_rows <= gen.ROW_GROUP_ROWS for i in range(md.num_row_groups))
    assert (tmp_path / "region.parquet").is_file()


def test_corpus_is_byte_identical_and_holds_k_of_every_word(tmp_path):
    a = gen.write_corpus(5, 300, str(tmp_path / "a"))
    b = gen.write_corpus(5, 300, str(tmp_path / "b"))
    assert len(a) == gen.CORPUS_FILES
    assert _same_bytes(tmp_path / "a", tmp_path / "b")
    counts = collections.Counter()
    for path in a:
        with open(path, encoding="ascii") as f:
            text = f.read()
        assert text and not text.endswith("\n") and "  " not in text
        counts.update(text.split(" "))
    assert counts == {w: 300 for w in gen.CORPUS_VOCAB}
