"""H3 backend adapter — wires the from-scratch h3core into the engine.

Cell tokens are lowercase-hex strings exactly like libh3
(``8928308280fffff``); parents are NATIVE Spark bit expressions on the
u64 (``conv`` + mask-or — SURVEY.md C4: "a parent is a bit operation"),
so the secondary index never leaves the JVM.

Reference semantics mirrored (``/root/reference/vector2dggs/indexers/
h3vectorindexer.py``): polygon polyfill is centroid-containment (C1),
linetrace unions per-segment cell chains with (cell, feature) dedup
(C2), compaction uses the center child as the relabel anchor (A3/A4 via
``cell_to_center_child``).
"""
from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

from vector2dggs_spark.dggs import h3core as H


class H3Backend:
    name = "h3"
    min_res = H.MIN_RES
    max_res = H.MAX_RES
    geodesic = True  # H3 polyfill is geodesic (vectorindexer GEODESIC_POLYFILL)
    min_siblings = 6  # pentagons have 6 children; hexagons 7

    # ---------------------------------------------------------- core ops
    def point_to_cell(self, lat, lon, res):
        return H.to_token(H.latlng_to_cell(lat, lon, res))

    def point_to_cell_pa(self, lat, lon, res):
        """Arrow-native encode: uint64 cells -> pyarrow StringArray via
        direct offsets+data buffer construction (no per-cell Python
        strings).  Taken by point_to_cell_udf's arrow_udf path."""
        return H.to_token_pa(H.latlng_to_cell(lat, lon, res))

    def native_point_cells(self, df, lat, lon, res, keep_cols, out="cell"):
        """H3 points stay on the Arrow numpy kernel — a MEASURED call:
        the layered-SQL formulation (functions/h3sql.py, the q33/q36
        oracle) runs 5x slower because the ~39-layer branchy pipeline
        defeats JVM codegen (fused: past HotSpot's huge-method JIT
        limit, ~30 s/10M; un-fused: one UnsafeRow materialization per
        layer, ~9 s/10M) while numpy does 5.9M pts/s (1.7 s/10M)."""
        return None

    def cell_center(self, cells, res):
        return H.cell_to_latlng(H.from_token(np.asarray(cells, dtype=str)))

    def parent(self, cells, parent_res):
        v = H.from_token(np.asarray(cells, dtype=str))
        return H.to_token(H.cell_to_parent(v, parent_res))

    def parent_expr(self, col: Column, res: int, parent_res: int) -> Column:
        """Native JVM bit math: clear res nibble, set parent res, fill
        child digits with 7s; back to the lowercase hex token."""
        v = F.conv(col, 16, 10).cast("long")
        res_mask = 15 << 52
        fill = (1 << (3 * (15 - parent_res))) - 1
        pv = (
            v.bitwiseAND(F.lit(~res_mask))
            .bitwiseOR(F.lit(parent_res << 52))
            .bitwiseOR(F.lit(fill))
        )
        return F.lower(F.hex(pv))

    # ---------------------------------------------------------- compaction kit
    def compact(self, cells):
        v = H.from_token(np.asarray(list(cells), dtype=str))
        return {format(c, "x") for c in H.compact_cells(v)}

    def get_resolution(self, cell: str) -> int:
        # pure-int (res nibble) — the numpy scalar path costs ~20 us
        # and this is called per cell in the compaction floor
        return (int(cell, 16) >> 52) & 15

    def children_at_res(self, cell: str, target_res: int):
        v = int(H.from_token([cell])[0])
        if target_res <= self.get_resolution(cell):
            return [cell]
        return [format(c, "x") for c in H.cell_to_children(v, target_res)]

    def designated_child(self, cell: str, res: int) -> str:
        v = H.from_token([cell])
        return str(H.to_token(H.cell_to_center_child(v, res))[0])

    # ---------------------------------------------------------- geometry ops
    _SAMPLE_CAP = 40_000_000  # hard bound on sample-grid size
    # katana sizing: a piece ~this many cells across keeps each piece's
    # sample grid around 10^5 points — the vectorized sweet spot
    _CUT_SIDE_CELLS = 192

    def _bbox_k(self, ext, res: int) -> int:
        half_diag = 0.5 * np.hypot(
            ext[:, 0].max() - ext[:, 0].min(), ext[:, 1].max() - ext[:, 1].min()
        )
        return int(np.ceil(half_diag / H.min_center_spacing_deg(res))) + 2

    def _bbox_candidates(self, ext, res: int) -> np.ndarray:
        """u64 cells at ``res`` whose centers may fall in the bbox of
        ``ext`` — a conservative cover via ONE vectorized encode of a
        sample grid, for every bbox size.  Hexagons of neighbor spacing
        s contain a disk of radius s/2, so a grid at step 0.6·(global
        min spacing) puts at least one sample in every cell intersecting
        the padded bbox (longitude compression only densifies the grid
        in angular terms — always conservative).  A grid-disk BFS costs
        k Python rounds of 6·k-cell re-encodes, so it is kept only at
        res < 2, where the sample-cap recursion (res − 2) cannot go."""
        if res < 2:
            clon = (ext[:, 0].min() + ext[:, 0].max()) / 2.0
            clat = (ext[:, 1].min() + ext[:, 1].max()) / 2.0
            seed = H.latlng_to_cell([clat], [clon], res)
            return H.grid_disk(seed, self._bbox_k(ext, res))[0]
        spacing = H.min_center_spacing_deg(res)
        step = 0.6 * spacing
        pad = 2.0 * spacing
        gx = np.arange(ext[:, 0].min() - pad, ext[:, 0].max() + pad + step, step)
        gy = np.arange(
            max(ext[:, 1].min() - pad, -90.0),
            min(ext[:, 1].max() + pad, 90.0) + step,
            step,
        )
        if gx.size * gy.size > self._SAMPLE_CAP:
            # gigantic piece: recurse through a coarser cover's children
            coarse = self._bbox_candidates(ext, res - 2)
            kids = [H.cell_to_children(int(c), res) for c in coarse]
            return np.unique(
                np.concatenate([np.array(x, dtype=np.uint64) for x in kids])
            )
        mx, my = np.meshgrid(gx, gy, indexing="ij")
        return np.unique(H.latlng_to_cell(my.ravel(), mx.ravel(), res))

    def polyfill(self, rings, res):
        """Cells whose center is inside the polygon — H3 v4
        'containment: center' modality (reference h3vectorindexer.py:16-18).

        Candidates via a conservative bbox cover (one vectorized encode
        of a sample grid; children of a coarser cover for gigantic
        pieces; a grid disk at res < 2), then one vectorized PIP pass
        over candidate centers."""
        from vector2dggs_spark.geometry.kernels import points_in_polygon

        cand = self._bbox_candidates(rings[0], res)
        lat_c, lon_c = H.cell_to_latlng(cand)
        inside = points_in_polygon(lon_c, lat_c, rings)
        return H.to_token(cand[inside])

    def linetrace(self, coords, res):
        """Reference C2 exactly (h3vectorindexer.py:20-28): per segment,
        grid_path_cells between the endpoint cells; union of segment
        paths, deduped keep-first.  All segments go through ONE batched
        grid_path_cells call (one decode, one encode per line) and the
        whole line dedups once — the same cells in the same order as a
        per-segment dedup followed by the union."""
        ends = H.latlng_to_cell(coords[:, 1], coords[:, 0], res)
        cells = H.grid_path_cells(ends[:-1], ends[1:]) if len(ends) > 1 else ends
        _, idx = np.unique(cells, return_index=True)
        return H.to_token(cells[np.sort(idx)])

    def grid_disk(self, cells, res, k):
        v = H.from_token(np.asarray(cells, dtype=str))
        return [H.to_token(d) for d in H.grid_disk(v, k)]

    def cell_width_deg(self, res: int) -> float:
        return H.mean_center_spacing_deg(res)

    def cell_bbox(self, cells, res):
        # conservative: every hex fits in a cap of radius cell_width
        # (circumradius ≈ 0.58x the center spacing; the measured width
        # is >= the angular spacing), and cap_bbox handles the
        # 1/cos(lat) longitude stretch + pole-containing cells that the
        # old lon±width form under-covered at high latitude
        from vector2dggs_spark.dggs import cap_bbox

        lat, lon = self.cell_center(cells, res)
        return cap_bbox(lat, lon, self.cell_width_deg(res))

    def cell_boundary(self, cells, res):
        """(n, 7, 2) [lon, lat] closed hexagon rings."""
        lat, lon = H.cell_boundary(H.from_token(np.asarray(cells, dtype=str)))
        n = lat.shape[0]
        ring = np.empty((n, 7, 2))
        ring[:, :6, 0] = lon
        ring[:, :6, 1] = lat
        ring[:, 6] = ring[:, 0]
        return ring

    # ---------------------------------------------------------- defaults
    def col_name(self, res: int) -> str:
        return f"{self.name}_{res:02d}"

    def default_parent_res(self, res: int) -> int:
        return max(self.min_res, res - 6)

    def default_cut_threshold_deg2(self, parent_res: int) -> float:
        """Katana threshold derived from the polyfill cover budget: a
        square piece ~_CUT_SIDE_CELLS cells across at the default
        indexing res (parent_res + 6) keeps each piece's vectorized
        sample grid around 10^5 points — big enough to amortize the
        Arrow batch, small enough to parallelize across tasks."""
        from vector2dggs_spark.dggs import DEFAULT_PARENT_OFFSET

        res = min(self.max_res, parent_res + DEFAULT_PARENT_OFFSET)
        side = self._CUT_SIDE_CELLS * H.min_center_spacing_deg(res)
        return side * side

    def ring_guarantee_deg(self, res: int, r: int) -> float:
        """Conservative hex-grid kNN termination bound: cells beyond
        grid-disk(r) are ≥ (r-1)·(global min spacing)·(√3/2) away from
        any point of the center cell (√3/2 = hex lattice row height;
        the -1 absorbs the query point's offset inside its cell).  Uses
        the GLOBAL minimum spacing, not a one-point sample."""
        return max(r - 1, 0) * 0.85 * H.min_center_spacing_deg(res)
