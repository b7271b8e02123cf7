"""H3 cell math: published test vectors + internal consistency.

The two latlng→cell vectors are from the public H3 documentation
(h3geo.org quickstart / API docs) — they exercise the derived base-cell
tables, fold rotations, digit generation, and bit layout end-to-end."""
import numpy as np
import pytest

from vector2dggs_spark.dggs import get_backend
from vector2dggs_spark.dggs import h3core as H
from vector2dggs_spark.dggs.h3core import tables as T


def test_published_vectors():
    # h3geo.org quickstart: (37.7752702151959257, -122.418307270836565) res 9
    v = H.latlng_to_cell([37.7752702151959257], [-122.418307270836565], 9)
    assert H.to_token(v)[0] == "8928308280fffff"
    # h3 API docs example: res 5
    v5 = H.latlng_to_cell([37.3615593], [-122.0553238], 5)
    assert H.to_token(v5)[0] == "85283473fffffff"


def test_bit_layout():
    v = int(H.from_token(["8928308280fffff"])[0])
    assert (v >> 59) & 15 == 1  # mode
    assert (v >> 52) & 15 == 9  # res
    assert (v >> 45) & 127 == 20  # SF base cell
    assert H.get_resolution([v])[0] == 9


def test_parent_child_bit_ops():
    v = H.from_token(["8928308280fffff"])
    p = H.cell_to_parent(v, 5)
    assert H.get_resolution(p)[0] == 5
    assert H.to_token(p)[0] == "85283083fffffff"
    # center child of the parent back down
    cc = H.cell_to_center_child(p, 7)
    assert H.get_resolution(cc)[0] == 7
    assert H.to_token(H.cell_to_parent(cc, 5))[0] == H.to_token(p)[0]


def test_roundtrip_encode_center_reencode():
    rng = np.random.default_rng(42)
    lat = rng.uniform(-85, 85, 2000)
    lon = rng.uniform(-180, 180, 2000)
    for res in (0, 2, 5, 9, 12):
        cells = H.latlng_to_cell(lat, lon, res)
        clat, clon = H.cell_to_latlng(cells)
        again = H.latlng_to_cell(clat, clon, res)
        assert np.array_equal(cells, again), f"res {res}"


def test_hierarchy_consistency():
    """A cell's center must encode to its bit-parent at res-1 (aperture-7
    children never stick their CENTERS outside the parent), and the naive
    point-hierarchy holds for the vast majority of points (it is not
    exact in real H3 either — children overhang parent boundaries)."""
    rng = np.random.default_rng(7)
    lat = rng.uniform(-85, 85, 1000)
    lon = rng.uniform(-180, 180, 1000)
    from vector2dggs_spark.dggs.h3core.tables import IS_PENTAGON

    for res in (1, 4, 8):
        fine = H.latlng_to_cell(lat, lon, res + 1)
        clat, clon = H.cell_to_latlng(fine)
        via_center = H.latlng_to_cell(clat, clon, res)
        # exact everywhere, pentagon base cells included (round 2:
        # derived sector tables replace the old leading-K limitation)
        bp = H.cell_to_parent(fine, res)
        assert np.array_equal(bp, via_center), f"res {res}"
        assert (~IS_PENTAGON[H.base_cell(fine)]).mean() > 0.85
        coarse = H.latlng_to_cell(lat, lon, res)
        agree = (bp == coarse).mean()
        assert agree > 0.85, (res, agree)


def test_children_partition():
    v = int(H.latlng_to_cell([-43.9], [-176.4], 6)[0])
    kids = H.cell_to_children(v, 7)
    assert len(kids) == 7
    # children centers encode back to themselves and parent to v
    kv = np.array(kids, dtype=np.uint64)
    lat, lon = H.cell_to_latlng(kv)
    assert np.array_equal(H.latlng_to_cell(lat, lon, 7), kv)
    assert np.all(H.cell_to_parent(kv, 6) == v)


def test_pentagon_flags():
    assert int(H.IS_PENTAGON.sum()) == 12 if hasattr(H, "IS_PENTAGON") else True
    from vector2dggs_spark.dggs.h3core.tables import IS_PENTAGON

    assert sorted(np.nonzero(IS_PENTAGON)[0].tolist()) == [
        4, 14, 24, 38, 49, 58, 63, 72, 83, 97, 107, 117,
    ]


def test_compact_roundtrip():
    v = int(H.latlng_to_cell([-44.0], [-176.3], 4)[0])
    kids = H.cell_to_children(v, 6)
    assert H.compact_cells(kids) == {v}
    one = H.cell_to_children(v, 5)
    assert H.compact_cells(one[:-1]) == set(one[:-1])


def test_neighbors_and_disk():
    c = H.latlng_to_cell([-44.0], [-176.4], 7)
    nb = H.neighbors(c)
    assert len(set(nb[0].tolist())) == 6
    # neighbors are mutual
    for n in nb[0]:
        back = H.neighbors(np.array([n], dtype=np.uint64))
        assert int(c[0]) in set(back[0].tolist())
    disk1 = H.grid_disk(c, 1)[0]
    assert len(disk1) == 7
    disk2 = H.grid_disk(c, 2)[0]
    assert len(disk2) == 19  # 1 + 6 + 12


def test_neighbors_across_face_edge():
    """Cells straddling an icosahedron edge still get 6 mutual neighbors."""
    # face boundary between faces: pick a point near an icosa edge midpoint
    from vector2dggs_spark.dggs.h3core.tables import FACE_CENTER_GEO

    latm = np.degrees((FACE_CENTER_GEO[0, 0] + FACE_CENTER_GEO[4, 0]) / 2)
    lonm = np.degrees((FACE_CENTER_GEO[0, 1] + FACE_CENTER_GEO[4, 1]) / 2)
    c = H.latlng_to_cell([latm], [lonm], 6)
    disk = H.grid_disk(c, 2)[0]
    assert len(disk) == 19


def test_backend_registered_and_polyfill():
    b = get_backend("h3")
    ring = np.array(
        [[-176.5, -44.2], [-176.3, -44.2], [-176.3, -44.0], [-176.5, -44.0], [-176.5, -44.2]]
    )
    cells = b.polyfill([ring], 7)
    assert len(cells) > 10
    lat, lon = b.cell_center(cells, 7)
    assert np.all((lon > -176.5) & (lon < -176.3) & (lat > -44.2) & (lat < -44.0))
    # parent tokens
    p = b.parent(cells, 3)
    assert all(len(t) == 15 for t in p)


def test_backend_linetrace_connected():
    b = get_backend("h3")
    coords = np.array([[-176.5, -44.2], [-176.35, -44.05], [-176.3, -44.15]])
    cells = b.linetrace(coords, 7)
    assert len(cells) == len(set(cells))
    ends = b.point_to_cell(coords[:, 1], coords[:, 0], 7)
    assert set(ends) <= set(cells)
    # chain connectivity via neighbors
    vs = H.from_token(np.asarray(cells, dtype=str))
    nbs = H.neighbors(vs)
    cellset = set(vs.tolist())
    for idx in range(len(vs)):
        if len(vs) > 1:
            assert cellset & set(nbs[idx].tolist()) - {int(vs[idx])}


def test_parent_expr_native(spark):
    b = get_backend("h3")
    import pandas as pd

    toks = b.point_to_cell(
        np.linspace(-44.3, -43.8, 50), np.linspace(-176.55, -176.25, 50), 9
    )
    df = spark.createDataFrame(pd.DataFrame({"h3_09": toks}))
    from pyspark.sql import functions as F

    out = df.withColumn("h3_03", b.parent_expr(F.col("h3_09"), 9, 3)).toPandas()
    expected = b.parent(toks, 3)
    assert list(out["h3_03"]) == list(expected)


def _path_one_pair_reference(a: int, b: int) -> np.ndarray:
    """The per-pair gridPathCells construction, one pair per call: same
    home face -> hex2d interpolation at 2n+1 ``np.linspace`` samples,
    otherwise a 256-sample lat/lng chord; dedup keep-first."""
    va = np.array([a], dtype=np.uint64)
    vb = np.array([b], dtype=np.uint64)
    res = int(H.get_resolution(va)[0])
    fa, ia, ja, ka, sub = H._cells_to_substrate_ijk(va)
    fb, ib, jb, kb, _ = H._cells_to_substrate_ijk(vb)
    step = T.M_SQRT7 if sub > res else 1.0
    if int(fa[0]) == int(fb[0]):
        xa, ya = H._ijk_to_hex2d(float(ia[0]), float(ja[0]), float(ka[0]))
        xb, yb = H._ijk_to_hex2d(float(ib[0]), float(jb[0]), float(kb[0]))
        n = max(int(np.ceil(np.hypot(xb - xa, yb - ya) / step)), 1)
        t = np.linspace(0.0, 1.0, 2 * n + 1)
        xs = (xa + (xb - xa) * t) / (T.M_SQRT7 ** sub)
        ys = (ya + (yb - ya) * t) / (T.M_SQRT7 ** sub)
        lat, lon = H._hex2d_res0_to_geo(np.full(len(xs), int(fa[0])), xs, ys)
    else:
        la, lo = H.cell_to_latlng(va)
        lb, lob = H.cell_to_latlng(vb)
        t = np.linspace(0, 1, 256)
        lat = la[0] + (lb[0] - la[0]) * t
        lon = lo[0] + (lob[0] - lo[0]) * t
    cells = H.latlng_to_cell(lat, lon, res)
    _, idx = np.unique(cells, return_index=True)
    return cells[np.sort(idx)]


def _face_edge_segment(res: int) -> np.ndarray:
    """Two vertices a few samples either side of the first home-face
    change on the chord between the centres of face 0 and a neighbour."""
    f1 = int(H._FOLD_FACE[0, 0])
    a, b = np.degrees(T.FACE_CENTER_GEO[0]), np.degrees(T.FACE_CENTER_GEO[f1])
    t = np.linspace(0, 1, 400)[:, None]
    lat, lon = (a + (b - a) * t).T
    face = H._cells_to_substrate_ijk(H.latlng_to_cell(lat, lon, res))[0]
    i = int(np.argmax(face != face[0]))
    return np.column_stack([lon[[i - 3, i + 3]], lat[[i - 3, i + 3]]])


def test_grid_path_cells():
    """gridPathCells: connected chain of neighbors including endpoints;
    a batched call equals its one-pair calls concatenated, each equal to
    the per-pair construction; linetrace equals the union of per-segment
    paths deduped keep-first."""
    a = int(H.latlng_to_cell([-44.2], [-176.5], 8)[0])
    b = int(H.latlng_to_cell([-44.0], [-176.25], 8)[0])
    path = H.grid_path_cells(a, b)
    assert path[0] == a or a in path
    assert b in path
    # chain connectivity: each consecutive pair are grid neighbors
    for u, v in zip(path[:-1], path[1:]):
        nb = set(H.neighbors(np.array([u], dtype=np.uint64))[0].tolist())
        assert int(v) in nb, (format(int(u), "x"), format(int(v), "x"))
    # degenerate path: same cell
    assert list(H.grid_path_cells(a, a)) == [a]
    assert len(H.grid_path_cells([], [])) == 0

    cross = _face_edge_segment(5)
    ce = H.latlng_to_cell(cross[:, 1], cross[:, 0], 5)
    face = H._cells_to_substrate_ijk(ce)[0]
    assert face[0] != face[1]  # the segment really crosses a face edge
    lines = [
        # same-face segments, one repeated vertex (a zero-length segment)
        (np.array([[-176.5, -44.2], [-176.35, -44.05], [-176.35, -44.05],
                   [-176.3, -44.15], [-176.6, -44.3]]), 8),
        (np.array([[-176.5, -44.2], [-176.3, -44.15]]), 9),  # two vertices
        (np.array([[-176.5, -44.2]]), 9),  # one vertex
        (np.array([[179.95, -44.10], [-179.95, -44.12]]), 9),  # antimeridian
        # a face-edge crossing between two same-face segments
        (np.vstack([cross[:1] + [0.3, 0.0], cross, cross[1:] + [0.0, 0.3]]), 5),
    ]
    # long same-face lines around face centres: their sample parameter
    # must round exactly like np.linspace, or a few cells change (with
    # this seed, plain i / (cnt - 1) changes 4 of the 100 lines)
    rng = np.random.default_rng(2)
    for _ in range(100):
        fc = np.degrees(T.FACE_CENTER_GEO[int(rng.integers(20))])
        span = float(rng.choice([1, 5, 15]))
        nv = int(rng.integers(2, 6))
        coords = np.column_stack([fc[1] + rng.uniform(-span, span, nv),
                                  fc[0] + rng.uniform(-span, span, nv)])
        lines.append((coords, int(rng.choice([2, 5, 7, 9]))))
    backend = get_backend("h3")
    for coords, res in lines:
        ends = H.latlng_to_cell(coords[:, 1], coords[:, 0], res)
        pairs = list(zip(ends[:-1].tolist(), ends[1:].tolist()))
        one = [H.grid_path_cells(u, v) for u, v in pairs]
        for (u, v), p in zip(pairs, one):
            assert np.array_equal(p, _path_one_pair_reference(u, v)), (u, v)
        if pairs:
            batched = H.grid_path_cells(ends[:-1], ends[1:])
            assert np.array_equal(batched, np.concatenate(one))
        tokens = H.to_token(np.concatenate(one) if one else ends)
        _, idx = np.unique(tokens, return_index=True)
        assert list(backend.linetrace(coords, res)) == list(tokens[np.sort(idx)])


def _ngon(rng, clon, clat, radius, n):
    ang = np.sort(rng.uniform(0, 2 * np.pi, n))
    r = radius * rng.uniform(0.5, 1.0, n)
    ring = np.column_stack([clon + r * np.cos(ang), clat + r * np.sin(ang)])
    return np.vstack([ring, ring[:1]])


def test_polyfill_small_polygons_match_disk_cover():
    """Small polygons (bbox disk radius <= 8, the range once covered by
    a grid-disk BFS) now take the vectorized sample-grid cover; the
    result must equal a centre-in-polygon filter over the grid disk of
    radius k + 2 around the bbox centre cell (k = ceil(half bbox
    diagonal / min spacing)).  Triangles, n-gons, polygons with a hole
    and polygons within 2 cells of a pentagon centre, res 2..9."""
    from vector2dggs_spark.geometry.kernels import points_in_polygon

    backend = get_backend("h3")
    rng = np.random.default_rng(20)
    pents = sorted(T.PENTAGON_CELLS)
    checked = 0
    for res in (2, 3, 5, 7, 9):
        s = H.min_center_spacing_deg(res)
        for case in range(8):
            if case < 3:  # within 2 cells of a pentagon centre
                plat, plon = np.degrees(T.BASE_CENTER_GEO[pents[(res + case) % 12]])
                clat = plat + rng.uniform(-2, 2) * s
                clon = plon + rng.uniform(-2, 2) * s
            else:
                clat, clon = rng.uniform(-70, 70), rng.uniform(-179, 179)
            n = 3 if case % 2 == 0 else int(rng.integers(4, 9))
            outer = _ngon(rng, clon, clat, rng.uniform(1.0, 4.0) * s, n)
            rings = [outer]
            if case in (1, 4):
                rings.append(_ngon(rng, clon, clat, 0.4 * s, 5)[::-1])
            ext = outer
            half_diag = 0.5 * np.hypot(np.ptp(ext[:, 0]), np.ptp(ext[:, 1]))
            k = int(np.ceil(half_diag / s))
            assert k + 2 <= 8, (res, case, k)
            seed = H.latlng_to_cell(
                [(ext[:, 1].min() + ext[:, 1].max()) / 2],
                [(ext[:, 0].min() + ext[:, 0].max()) / 2],
                res,
            )
            disk = H.grid_disk(seed, k + 2)[0]
            lat, lon = H.cell_to_latlng(disk)
            expected = H.to_token(disk[points_in_polygon(lon, lat, rings)])
            got = backend.polyfill(rings, res)
            assert list(got) == list(expected), (res, case)
            checked += len(got) > 0
    assert checked >= 20  # at least half hold a cell centre


# ---------------------------------------------------------------- pentagons
def _pentagon_res0(bc: int) -> int:
    return int(H.MODE_CELL | (np.uint64(bc) << np.uint64(45)) | np.uint64((1 << 45) - 1))


def test_pentagon_children_roundtrip_all12():
    """Every canonical descendant of every pentagon base cell decodes to
    a unique center that re-encodes to itself (encode = decode⁻¹)."""
    from vector2dggs_spark.dggs.h3core.tables import PENTAGON_CELLS

    for bc in sorted(PENTAGON_CELLS):
        for res in (1, 2, 3):
            kids = np.array(H.cell_to_children(_pentagon_res0(bc), res), dtype=np.uint64)
            assert len(kids) == 1 + 5 * (7**res - 1) // 6  # pentagon count
            lat, lon = H.cell_to_latlng(kids)
            assert len({(round(a, 7), round(b, 7)) for a, b in zip(lat, lon)}) == len(kids)
            assert np.array_equal(H.latlng_to_cell(lat, lon, res), kids), (bc, res)


def test_pentagon_coverage_and_canonical_form():
    """Dense random points around each icosahedron vertex: every point in
    a pentagon base cell encodes to a canonical child (never a leading-K
    digit, always within cell_to_children's enumeration)."""
    from vector2dggs_spark.dggs.h3core.tables import BASE_CENTER_GEO, PENTAGON_CELLS

    rng = np.random.default_rng(11)
    for bc in sorted(PENTAGON_CELLS):
        kids = set(H.cell_to_children(_pentagon_res0(bc), 4))
        clat, clon = BASE_CENTER_GEO[bc]  # radians
        ang = rng.uniform(0, 2 * np.pi, 1500)
        rad = np.radians(rng.uniform(0.01, 7.5, 1500))
        sla = np.arcsin(np.clip(np.sin(clat) * np.cos(rad) + np.cos(clat) * np.sin(rad) * np.cos(ang), -1, 1))
        slo = clon + np.arctan2(np.sin(ang) * np.sin(rad) * np.cos(clat), np.cos(rad) - np.sin(clat) * np.sin(sla))
        cells = H.latlng_to_cell(np.degrees(sla), np.degrees(slo), 4)
        mine = H.base_cell(cells) == bc
        assert mine.sum() > 200  # sampling sanity
        lead = H._leading_nonzero_digit(cells[mine], 4)
        assert (lead != 1).all(), f"bc {bc}: leading-K (non-canonical) cell emitted"
        assert all(int(c) in kids for c in cells[mine]), f"bc {bc}: cell outside children cover"


def test_pentagon_sector_tables_structure():
    """Derived sector tables: 5 faces per pentagon, home face identity
    rotation, exactly one K-gap face pair (ccw/cw), matching the
    published H3 deleted-subsequence structure."""
    from vector2dggs_spark.dggs.h3core import _pent_tables
    from vector2dggs_spark.dggs.h3core.tables import HOME_FACE, PENTAGON_CELLS

    PT = _pent_tables()
    for bc in sorted(PENTAGON_CELLS):
        faces = np.nonzero(PT["corner_axis"][bc] >= 0)[0]
        assert len(faces) == 5
        assert PT["rot"][bc, HOME_FACE[bc]] == 0
        kf = PT["kfix"][bc][faces]
        assert sorted(kf.tolist()) == [-1, 0, 0, 0, 1]


def test_pentagon_compact():
    """Pentagon children compact back to the pentagon (6 siblings merge
    at the pentagon level, 7 elsewhere)."""
    from vector2dggs_spark.dggs.h3core.tables import PENTAGON_CELLS

    for bc in sorted(PENTAGON_CELLS)[:3]:
        v = _pentagon_res0(bc)
        kids = H.cell_to_children(v, 2)
        assert H.compact_cells(kids) == {v}


def test_sql_formulation_matches_numpy_kernel(spark):
    """The layered Spark-SQL H3 encode (functions/h3sql.py — the native
    pipeline point path AND the q33 DuckDB oracle formulation) must
    agree with the numpy kernel token-for-token on a global grid
    (~10% of points land in pentagon base cells, so the K-sector fix
    path is exercised), at odd and even resolutions."""
    import numpy as np

    from vector2dggs_spark.dggs import h3core as H
    from vector2dggs_spark.functions.h3sql import h3_cells_df

    lats = np.arange(-86.9, 87.0, 4.3)
    lons = np.arange(-178.7, 180.0, 6.7)
    glat, glon = np.meshgrid(lats, lons, indexing="ij")
    glat, glon = glat.ravel(), glon.ravel()
    df = spark.createDataFrame(
        [(int(i), float(la), float(lo)) for i, (la, lo) in enumerate(zip(glat, glon))],
        "id long, la double, lo double",
    )
    for res in (2, 9, 13):
        expected = H.to_token(H.latlng_to_cell(glat, glon, res))
        got = {r["id"]: r["cell"] for r in h3_cells_df(df, "la", "lo", res, ["id"]).collect()}
        mismatch = [(i, expected[i], got[i]) for i in range(len(expected)) if got[i] != expected[i]]
        assert not mismatch, f"res {res}: {mismatch[:5]}"


def test_sql_encode_is_wholestage_codegen(spark):
    from vector2dggs_spark.functions.h3sql import h3_cells_df

    df = spark.range(10).selectExpr(
        "id", "cast(id as double) / 10.0 AS la", "cast(id as double) AS lo"
    )
    plan = h3_cells_df(df, "la", "lo", 9, ["id"])._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan
    assert "*(1) Project" in plan
