"""Bytes counted as written by an operation (``workloads.written_bytes``)."""

import os

import workloads


def test_new_files_count_and_hard_links_do_not(tmp_path):
    root = tmp_path / "store"
    (root / "v1").mkdir(parents=True)
    (root / "v1" / "a.parquet").write_bytes(b"x" * 100)
    before = workloads.snapshot([str(root)])
    (root / "v2").mkdir()
    os.link(root / "v1" / "a.parquet", root / "v2" / "a.parquet")  # carried
    (root / "v2" / "b.parquet").write_bytes(b"y" * 30)  # written
    (root / "v1" / "a.parquet").unlink()
    after = workloads.snapshot([str(root)])
    assert workloads.written_bytes(before, after) == 30


def test_snapshot_merges_roots_and_skips_missing(tmp_path):
    (tmp_path / "a").mkdir()
    (tmp_path / "a" / "f").write_bytes(b"12")
    snap = workloads.snapshot([str(tmp_path / "a"), str(tmp_path / "absent")])
    assert [size for _, size in snap.values()] == [2]
