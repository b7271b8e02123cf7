"""Output checks.  Every function returns a list of error strings (empty
means the output is correct) and works on plain pandas/numpy inputs, so
``selftest.py`` can feed each one a deliberately wrong result.

The checks avoid the code under test where they can: H3 parents are
recomputed with bit arithmetic written here, joins are re-done with
pandas or DuckDB, kNN with brute-force numpy.
"""
from __future__ import annotations

import hashlib
import json
from collections import Counter
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd

EXPECTED_PATH = Path(__file__).with_name("expected.json")

_RES_SHIFT = 52
_DIGIT_BITS = 3


_HEX = np.frombuffer(b"0123456789abcdef", dtype=np.uint8)
_NIBBLE = np.zeros(256, dtype=np.uint64)
_NIBBLE[_HEX] = np.arange(16, dtype=np.uint64)
_TOKEN_LEN = 15  # hex digits of an H3 cell token


def h3_cells_to_int(cells) -> np.ndarray:
    """Lowercase hex tokens -> uint64, without a per-cell Python loop."""
    raw = np.asarray(cells, dtype=f"S{_TOKEN_LEN}").view(np.uint8).reshape(-1, _TOKEN_LEN)
    v = np.zeros(len(raw), dtype=np.uint64)
    for i in range(_TOKEN_LEN):
        v = (v << np.uint64(4)) | _NIBBLE[raw[:, i]]
    return v


def h3_int_to_cells(v: np.ndarray) -> np.ndarray:
    shifts = np.uint64(4) * np.arange(_TOKEN_LEN - 1, -1, -1, dtype=np.uint64)
    digits = (v[:, None] >> shifts) & np.uint64(0xF)
    return _HEX[digits].view(f"S{_TOKEN_LEN}").ravel().astype(str)


def h3_resolution(v: np.ndarray) -> np.ndarray:
    return ((v >> np.uint64(_RES_SHIFT)) & np.uint64(0xF)).astype(np.int64)


def h3_parent(cells, parent_res: int) -> np.ndarray:
    """H3 parent by the index bit layout: set the 4-bit resolution field,
    then fill digits parent_res+1..15 with 7 (unused)."""
    v = h3_cells_to_int(cells)
    v = (v & ~np.uint64(0xF << _RES_SHIFT)) | np.uint64(parent_res << _RES_SHIFT)
    for r in range(parent_res + 1, 16):
        v |= np.uint64(0x7 << ((15 - r) * _DIGIT_BITS))
    return h3_int_to_cells(v)


def digest(df: pd.DataFrame, cols: list[str]) -> str:
    """Order-independent checksum: sha1 over the sorted rows."""
    rows = sorted("\t".join(map(str, r)) for r in df[cols].itertuples(index=False))
    return hashlib.sha1("\n".join(rows).encode()).hexdigest()


def read_cell_table(path: str) -> pd.DataFrame:
    """The Hive-partitioned sink output, read back with DuckDB."""
    sql = (
        f"SELECT * FROM read_parquet('{path}/*/*.parquet', hive_partitioning=true, "
        f"hive_types_autocast=false)"
    )
    with duckdb.connect() as con:
        return con.execute(sql).fetchdf()


def check_index_output(out: pd.DataFrame, point_docs: list[str], res: int, parent_res: int,
                       cell_col: str, parent_col: str) -> list[str]:
    """Holds for any seed: one row per point document, and every row's
    parent column equals the parent of its cell."""
    errors = []
    if out.empty:
        return ["index wrote no rows"]
    per_doc = out["doc_id"].value_counts()
    counts = per_doc.reindex(point_docs, fill_value=0)
    bad = counts[counts != 1]
    if len(bad):
        errors.append(f"{len(bad)} point documents without exactly one cell, e.g. "
                      f"{bad.index[0]} has {bad.iloc[0]}")
    cells = out[cell_col].to_numpy()
    resolution = h3_resolution(h3_cells_to_int(cells))
    off = (resolution < parent_res) | (resolution > res)
    if off.any():
        errors.append(f"{int(off.sum())} cells outside resolutions {parent_res}..{res}")
    parents = h3_parent(cells, parent_res)
    wrong = parents != out[parent_col].to_numpy()
    if wrong.any():
        i = int(np.argmax(wrong))
        errors.append(f"{int(wrong.sum())} rows with a parent inconsistent with their cell, e.g. "
                      f"{cells[i]} -> {out[parent_col].iloc[i]} (expected {parents[i]})")
    return errors


def load_expected() -> dict:
    return json.loads(EXPECTED_PATH.read_text())


def check_frozen(key: str, rows: int, checksum: str, expected: dict) -> list[str]:
    """Row count and checksum frozen for the default seed."""
    want = expected.get(key)
    if want is None:
        return [f"no frozen expectation for {key} (rows={rows}, checksum={checksum})"]
    errors = []
    if rows != want["rows"]:
        errors.append(f"{key}: {rows} rows, frozen {want['rows']}")
    if checksum != want["checksum"]:
        errors.append(f"{key}: checksum {checksum[:12]} differs from frozen {want['checksum'][:12]}")
    return errors


def _multiset_diff(got: list[tuple], want: list[tuple], what: str) -> list[str]:
    g, w = Counter(got), Counter(want)
    if g == w:
        return []
    missing, extra = w - g, g - w
    return [f"{what}: {sum(missing.values())} rows missing, {sum(extra.values())} unexpected "
            f"(e.g. missing {next(iter(missing), None)}, extra {next(iter(extra), None)})"]


def check_join(got: pd.DataFrame, point_cells: pd.DataFrame, poly_cells: pd.DataFrame,
               cell_col: str) -> list[str]:
    """cell_join output equals a pandas merge of the same two tables."""
    want = point_cells.merge(poly_cells, on=cell_col)
    key = ["pid", "doc_id", cell_col]
    return _multiset_diff(list(got[key].itertuples(index=False, name=None)),
                          list(want[key].itertuples(index=False, name=None)), "join")


def brute_knn(queries: pd.DataFrame, targets: pd.DataFrame, k: int) -> pd.DataFrame:
    """Exact planar kNN, ranked by (squared degree distance, target_id)."""
    tlat, tlon = targets["lat"].to_numpy(), targets["lon"].to_numpy()
    tid = targets["target_id"].to_numpy()
    rows = []
    for qid, qlat, qlon in queries[["query_id", "lat", "lon"]].itertuples(index=False):
        d = (qlat - tlat) * (qlat - tlat) + (qlon - tlon) * (qlon - tlon)
        order = np.lexsort((tid, d))[:k]
        rows += [(qid, tid[j], rank + 1) for rank, j in enumerate(order)]
    return pd.DataFrame(rows, columns=["query_id", "target_id", "rank"])


def check_knn(got: pd.DataFrame, queries: pd.DataFrame, targets: pd.DataFrame, k: int) -> list[str]:
    want = brute_knn(queries, targets, k)
    key = ["query_id", "target_id", "rank"]
    return _multiset_diff(list(got[key].itertuples(index=False, name=None)),
                          list(want[key].itertuples(index=False, name=None)), "knn")


def check_tiles(got: pd.DataFrame, table_path: str, parent: str, tiles: pd.DataFrame,
                cell_col: str, parent_col: str) -> list[str]:
    """assign_tiles output equals a DuckDB join of the written partition
    with the media tiles keyed by their parent cell."""
    with duckdb.connect() as con:
        con.register("tiles", tiles)
        want = con.execute(
            f"SELECT c.doc_id, c.{cell_col}, t.media_ref FROM read_parquet("
            f"'{table_path}/{parent_col}={parent}/*.parquet') c "
            f"JOIN tiles t ON t.{parent_col} = '{parent}'"
        ).fetchall()
    key = ["doc_id", cell_col, "media_ref"]
    return _multiset_diff(list(got[key].itertuples(index=False, name=None)), want, "tiles")
