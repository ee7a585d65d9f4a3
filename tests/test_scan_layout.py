"""queries._scan_layout: the driver-side size / row-group probe behind the
scan fan-out of queries.load. Large inputs are sparse files made with
os.truncate, so no real gigabyte is written."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq

from split_ner_spark import queries as Q


def _sparse(path, size: int) -> None:
    open(path, "wb").close()
    os.truncate(path, size)


def test_scan_layout_stops_walking_at_the_size_cap(tmp_path, monkeypatch):
    half = Q._FAN_OUT_MAX_BYTES // 2
    for i in range(4):
        _sparse(tmp_path / f"part-{i}.parquet", half)
    sized = []
    getsize = os.path.getsize

    def counting_getsize(p):
        sized.append(p)
        return getsize(p)

    monkeypatch.setattr(os.path, "getsize", counting_getsize)
    total, row_groups = Q._scan_layout(str(tmp_path))
    # two files reach the cap; the other two are never sized, and no
    # footer is read (these sparse files have none)
    assert len(sized) == 2
    assert total == 2 * half >= Q._FAN_OUT_MAX_BYTES
    assert row_groups == 1 << 30


def test_scan_layout_small_dir_counts_row_groups(tmp_path):
    table = pa.table({"x": list(range(300))})
    pq.write_table(table, tmp_path / "a.parquet", row_group_size=100)
    nested = tmp_path / "part=1"
    nested.mkdir()
    pq.write_table(table, nested / "b.parquet", row_group_size=300)
    (tmp_path / "_SUCCESS").write_text("")
    _sparse(tmp_path / "broken.parquet", 1000)  # unreadable footer: 1 group

    total, row_groups = Q._scan_layout(str(tmp_path))
    files = [tmp_path / "a.parquet", nested / "b.parquet", tmp_path / "broken.parquet"]
    assert total == sum(os.path.getsize(f) for f in files)
    assert row_groups == 3 + 1 + 1
