"""Generator determinism: ``python3 -m pytest perfbench/test_gen.py``."""

from __future__ import annotations

import filecmp
import os
import sys

import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402


def _files(d) -> list[str]:
    """Every file under ``d``, as paths relative to it."""
    return sorted(
        os.path.relpath(os.path.join(root, f), d)
        for root, _dirs, files in os.walk(d) for f in files
    )


def test_same_seed_is_byte_identical(tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    gen.generate(11, str(a))
    gen.generate(11, str(b))
    assert _files(a) == _files(b)
    for f in _files(a):
        assert filecmp.cmp(a / f, b / f, shallow=False), f


def test_different_seed_differs(tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    gen.generate(11, str(a))
    gen.generate(12, str(b))
    # the publication dimensions and the source registry are fixed
    fixed = ("pubmed.parquet", "abstracts.parquet", "kb/sources/part-00000.parquet")
    seeded = [f for f in _files(a) if f not in fixed]
    differing = [f for f in seeded if not filecmp.cmp(a / f, b / f, shallow=False)]
    assert differing == seeded


def test_one_row_group_per_file_and_sizes_recorded(tmp_path):
    manifest = gen.generate(5, str(tmp_path))
    for f in _files(tmp_path):
        if f.endswith(".parquet"):
            meta = pq.ParquetFile(tmp_path / f).metadata
            assert meta.num_row_groups == 1, f
            name = f[: -len(".parquet")]
            if name in manifest["tables"]:
                assert manifest["tables"][name]["rows"] == meta.num_rows
                assert manifest["tables"][name]["bytes"] == os.path.getsize(tmp_path / f)


def test_release_shares_are_seeded(tmp_path):
    a = gen.generate(1, str(tmp_path / "a"))["shares"]
    b = gen.generate(2, str(tmp_path / "b"))["shares"]
    assert a != b
    for sh in (a["disease"], a["civic"]):
        assert 0 < sh["deleted"] < sh["deleted"] + sh["changed"] < 1
        assert sh["new"] > 0
