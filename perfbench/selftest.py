"""Feeds every output check a correct and a deliberately wrong result, and
checks BENCHMARK.json against the metrics ``run.py`` prints.  No Spark.

    python3 perfbench/selftest.py

Exits 0 when every check accepts the correct result and rejects each
wrong one.
"""
from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(1, ROOT)

import checks  # noqa: E402
import run  # noqa: E402

CELL, PARENT = "h3_09", "h3_03"
failures: list[str] = []


def expect(name: str, errors: list[str], wrong: bool) -> None:
    if bool(errors) != wrong:
        failures.append(f"{name}: {'accepted a wrong' if wrong else 'rejected a correct'} result "
                        f"{errors}")


def index_checks(backend) -> None:
    rng = np.random.default_rng(0)
    lat, lon = rng.uniform(-44.4, -43.7, 50), rng.uniform(-176.6, -176.2, 50)
    cells = backend.point_to_cell(lat, lon, 9)
    good = pd.DataFrame({CELL: cells, "doc_id": [f"d{i}" for i in range(50)],
                         PARENT: backend.parent(cells, 3)})
    docs = list(good["doc_id"])
    expect("index ok", checks.check_index_output(good, docs, 9, 3, CELL, PARENT), False)
    expect("index duplicate point row",
           checks.check_index_output(pd.concat([good, good.iloc[:1]]), docs, 9, 3, CELL, PARENT), True)
    expect("index missing point row",
           checks.check_index_output(good.iloc[1:], docs, 9, 3, CELL, PARENT), True)
    bad = good.copy()
    bad.loc[3, PARENT] = good.loc[0, PARENT] if good.loc[3, PARENT] != good.loc[0, PARENT] \
        else backend.parent(backend.point_to_cell(np.array([10.0]), np.array([10.0]), 9), 3)[0]
    expect("index wrong parent", checks.check_index_output(bad, docs, 9, 3, CELL, PARENT), True)
    coarse = good.copy()
    coarse.loc[0, CELL] = backend.parent(good[CELL].to_numpy()[:1], 2)[0]
    expect("index cell above parent res",
           checks.check_index_output(coarse, docs, 9, 3, CELL, PARENT), True)

    digest = checks.digest(good, [CELL, "doc_id", PARENT])
    frozen = {"t": {"rows": 50, "checksum": digest}}
    expect("frozen ok", checks.check_frozen("t", 50, checks.digest(good.iloc[::-1], [CELL, "doc_id", PARENT]),
                                            frozen), False)
    expect("frozen rows", checks.check_frozen("t", 49, digest, frozen), True)
    changed = good.copy()
    changed.loc[0, "doc_id"] = "other"
    expect("frozen checksum",
           checks.check_frozen("t", 50, checks.digest(changed, [CELL, "doc_id", PARENT]), frozen), True)


def join_checks() -> None:
    pts = pd.DataFrame({"pid": ["p0", "p1", "p2"], CELL: ["a", "b", "c"]})
    polys = pd.DataFrame({CELL: ["a", "a", "c"], "doc_id": ["x", "y", "z"]})
    good = pts.merge(polys, on=CELL)
    expect("join ok", checks.check_join(good.iloc[::-1], pts, polys, CELL), False)
    expect("join missing row", checks.check_join(good.iloc[1:], pts, polys, CELL), True)
    wrong = good.copy()
    wrong.loc[0, "doc_id"] = "z"
    expect("join wrong match", checks.check_join(wrong, pts, polys, CELL), True)


def knn_checks() -> None:
    rng = np.random.default_rng(1)
    targets = pd.DataFrame({"target_id": [f"t{i}" for i in range(200)],
                            "lat": rng.uniform(0, 1, 200), "lon": rng.uniform(0, 1, 200)})
    queries = pd.DataFrame({"query_id": ["q0", "q1"], "lat": [0.5, 0.2], "lon": [0.5, 0.7]})
    good = checks.brute_knn(queries, targets, 5)
    expect("knn ok", checks.check_knn(good.sample(frac=1, random_state=0), queries, targets, 5), False)
    swapped = good.copy()
    swapped.loc[0, "rank"], swapped.loc[1, "rank"] = 2, 1
    expect("knn rank order", checks.check_knn(swapped, queries, targets, 5), True)
    far = good.copy()
    far.loc[4, "target_id"] = next(t for t in targets["target_id"] if t not in set(good["target_id"]))
    expect("knn non-neighbour", checks.check_knn(far, queries, targets, 5), True)


def tiles_checks(work: str) -> None:
    table = os.path.join(work, "table")
    part = os.path.join(table, f"{PARENT}=p1")
    os.makedirs(part)
    pq.write_table(pa.table({CELL: ["c1", "c2"], "doc_id": ["d1", "d2"]}),
                   os.path.join(part, "part-0.parquet"))
    tiles = pd.DataFrame({"media_ref": ["m1", "m2", "m3"], PARENT: ["p1", "p1", "p2"]})
    good = pd.DataFrame({"doc_id": ["d1", "d1", "d2", "d2"], CELL: ["c1", "c1", "c2", "c2"],
                         "media_ref": ["m1", "m2", "m1", "m2"], PARENT: "p1"})
    expect("tiles ok", checks.check_tiles(good, table, "p1", tiles, CELL, PARENT), False)
    expect("tiles missing row", checks.check_tiles(good.iloc[1:], table, "p1", tiles, CELL, PARENT), True)
    wrong = good.copy()
    wrong.loc[0, "media_ref"] = "m3"
    expect("tiles wrong tile", checks.check_tiles(wrong, table, "p1", tiles, CELL, PARENT), True)


def benchmark_json() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    if e2e != run.END_TO_END:
        failures.append(f"BENCHMARK.json end_to_end differs from run.py: {e2e} vs {run.END_TO_END}")
    if layer != run.per_layer_units():
        diff = set(layer.items()) ^ set(run.per_layer_units().items())
        failures.append(f"BENCHMARK.json per_layer differs from run.py: {sorted(diff)}")


def main() -> int:
    from vector2dggs_spark import get_backend

    work = tempfile.mkdtemp(dir=ROOT, prefix=".perfbench_selftest-")
    try:
        index_checks(get_backend("h3"))
        join_checks()
        knn_checks()
        tiles_checks(work)
        benchmark_json()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for f in failures:
        print("FAIL", f)
    print("selftest", "failed" if failures else "passed")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
