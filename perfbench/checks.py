"""Output checks: order-insensitive result fingerprints and the stored
reference they are compared with.

``frame_fingerprint`` is the one ``scripts/oracle_check.py`` uses for the
DuckDB-twin gate, copied here so the stored fingerprints keep their
meaning if that script changes.
"""

from __future__ import annotations

import hashlib
import json
import math
import os

from workloads import REFERENCE


def norm_cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        # repr of the double: bitwise-equal doubles stringify identically
        return repr(v)
    return str(v)


def frame_fingerprint(cols: list[str], rows: list[tuple]) -> tuple[int, str]:
    """(row count, hash) independent of row order and column order."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x01".join(norm_cell(r[i]) for i in order) for r in rows)
    return len(lines), hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]


def parquet_fingerprint(table_dir: str) -> tuple[int, str]:
    """Fingerprint of a committed parquet table, read in this process."""
    import pyarrow.parquet as pq

    tbl = pq.read_table(table_dir)
    cols = tbl.column_names
    rows = list(zip(*(tbl.column(c).to_pylist() for c in cols)))
    return frame_fingerprint(cols, rows)


def load_reference() -> dict:
    with open(REFERENCE) as fh:
        return json.load(fh)


def save_reference(ref: dict) -> None:
    tmp = REFERENCE + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(ref, fh, indent=1, sort_keys=True)
        fh.write("\n")
    os.replace(tmp, REFERENCE)
