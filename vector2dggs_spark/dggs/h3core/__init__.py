"""H3 v4 cell math — vectorized numpy reimplementation from the
published algorithm (uber/h3, Apache-2.0; public knowledge), with
base-cell tables derived geometrically at import (see tables.py).

Validated against published H3 test vectors (tests/test_h3.py):
latlng→cell reproduces libh3 bit-for-bit at the tested locations and
resolutions; parent/children/compact are exact bit operations on the
H3 index layout.

Pentagon base cells use the deleted-K-subsequence scheme with sector
tables derived geometrically at import (_pent_tables): encode/decode are
exactly mutually consistent in all 122 base cells (roundtrip + coverage
validated in tests/test_h3.py).  Because the canonical pentagon
orientation data (libh3 baseCellData.cwOffsetPent) is hand-authored
rather than geometric, bit-parity with libh3 *inside the 12 pentagon
base cells* is unverifiable in this container; hexagon base cells
reproduce libh3 bit-for-bit at the published test vectors.

Index layout (H3 v4): bit 63 reserved=0 | 62-59 mode=1 | 58-56 reserved
| 55-52 resolution | 51-45 base cell | 44-0 fifteen 3-bit digits
(digit for res r at bits 3·(15-r)..3·(15-r)+2; unused digits = 7).
"""
from __future__ import annotations

import numpy as np

from vector2dggs_spark.dggs.h3core import tables as T

MIN_RES, MAX_RES = 0, 15
MODE_CELL = np.uint64(1) << np.uint64(59)
_U = np.uint64

# digit rotation tables (rotating the direction vector by ±60°)
_ROT_CCW = np.array([0, 5, 3, 1, 6, 4, 2, 7], dtype=np.uint64)
# ccw: K(1)->IK(5), J(2)->JK(3), JK(3)->K(1), I(4)->IJ(6), IK(5)->I(4), IJ(6)->J(2)
_ROT_CW = np.zeros(8, dtype=np.uint64)
for _d in range(7):
    _ROT_CW[_ROT_CCW[_d]] = _d
_ROT_CW[7] = 7

_UNIT_VECS = np.array(
    [(0, 0, 0), (0, 0, 1), (0, 1, 0), (0, 1, 1), (1, 0, 0), (1, 0, 1), (1, 1, 0)],
    dtype=np.int64,
)
_DIGIT_LOOKUP = np.full((2, 2, 2), -1, dtype=np.int64)
for _d, (_i, _j, _k) in enumerate(_UNIT_VECS):
    _DIGIT_LOOKUP[_i, _j, _k] = _d

# fold transforms flattened to arrays: for face f, edge e (opposite
# corner e), neighbor face + rotation k + 2x2 R + T
_EDGE_AXES = {0: (1, 2), 1: (0, 2), 2: (0, 1)}  # edge e spans corners of these axes
_FOLD_FACE = np.zeros((20, 3), dtype=np.int64)
_FOLD_K = np.zeros((20, 3), dtype=np.int64)
_FOLD_R = np.zeros((20, 3, 2, 2))
_FOLD_T = np.zeros((20, 3, 2))


def _corner_xy(a):
    c = {0: (2, 0, 0), 1: (0, 2, 0), 2: (0, 0, 2)}[a]
    i, j = c[0] - c[2], c[1] - c[2]
    return np.array([i - 0.5 * j, j * T.M_SIN60])


_CORNERS_XY = np.stack([_corner_xy(a) for a in range(3)])
_TRI_CEN = _CORNERS_XY.mean(axis=0)
# outward edge normals (edge e connects corners _EDGE_AXES[e])
_EDGE_N = np.zeros((3, 2))
_EDGE_A = np.zeros((3, 2))
for _e in range(3):
    _a, _b = _EDGE_AXES[_e]
    A, B = _CORNERS_XY[_a], _CORNERS_XY[_b]
    n = np.array([-(B - A)[1], (B - A)[0]])
    if n @ (_TRI_CEN - A) > 0:
        n = -n  # make it outward
    _EDGE_N[_e] = n / np.linalg.norm(n)
    _EDGE_A[_e] = A

def _tri_bary(P):
    v0 = _CORNERS_XY[1] - _CORNERS_XY[0]
    v1 = _CORNERS_XY[2] - _CORNERS_XY[0]
    v2 = np.asarray(P) - _CORNERS_XY[0]
    den = v0[0] * v1[1] - v1[0] * v0[1]
    a = (v2[0] * v1[1] - v1[0] * v2[1]) / den
    b = (v0[0] * v2[1] - v2[0] * v0[1]) / den
    return a, b


def _in_tri(P, eps=1e-9):
    a, b = _tri_bary(P)
    return a >= -eps and b >= -eps and a + b <= 1 + eps


for _f in range(20):
    _assigned = 0
    for _g in T.ADJ[_f]:
        _k, _R, _Tv = T.FOLDS[(_f, _g)]
        # which LOCAL edge of f does this fold cross?  The one whose
        # outward-nudged midpoint folds to a point inside the triangle
        # (edge coordinates differ between the two faces' frames, so a
        # midpoint-invariance test would be wrong).
        for _e in range(3):
            _a, _b = _EDGE_AXES[_e]
            mid = (_CORNERS_XY[_a] + _CORNERS_XY[_b]) / 2
            probe = mid + 0.05 * _EDGE_N[_e] * np.linalg.norm(_CORNERS_XY[_a] - _CORNERS_XY[_b])
            folded = _R @ probe + _Tv
            if not _in_tri(probe) and _in_tri(folded):
                _FOLD_FACE[_f, _e] = _g
                _FOLD_K[_f, _e] = _k
                _FOLD_R[_f, _e] = _R
                _FOLD_T[_f, _e] = _Tv
                _assigned += 1
                break
    assert _assigned == 3, f"face {_f}: only {_assigned} fold edges assigned"

# ---- lattice-level face-neighbor transforms (libh3 faceNeighbors analog)
# Derived from the continuous folds: the fold P->R@P+T is an exact
# isomorphism of the class-II res-0 lattices of adjacent faces, so its
# rotation count is _FOLD_K and its translation is a lattice vector.
# Quadrant -> local edge: JK=edge 0 (spans axes j,k), KI=1, IJ=2.
_NEIGH_T_IJK = np.zeros((20, 3, 3), dtype=np.int64)
for _f in range(20):
    for _e in range(3):
        _tx, _ty = _FOLD_T[_f, _e]
        _jj = _ty / T.M_SIN60
        _ii = _tx + 0.5 * _jj
        assert abs(_ii - round(_ii)) < 1e-9 and abs(_jj - round(_jj)) < 1e-9, (
            "fold translation is not a lattice vector"
        )
        _i0, _j0 = int(round(_ii)), int(round(_jj))
        _m = min(_i0, _j0, 0)
        _NEIGH_T_IJK[_f, _e] = (_i0 - _m, _j0 - _m, -_m)


def _ijk_rotate60ccw(i, j, k):
    """Lattice 60° ccw: i->i+j axis, j->j+k, k->i+k (libh3 coordijk.c)."""
    return i + k, i + j, j + k


# ------------------------------------------------------------- ijk (vectorized)
def _ijk_normalize(i, j, k):
    m = np.minimum(np.minimum(i, j), k)
    return i - m, j - m, k - m


def _ijk_to_hex2d(i, j, k):
    ii = i - k
    jj = j - k
    return ii - 0.5 * jj, jj * T.M_SIN60


def _hex2d_to_ijk(x, y):
    """Vectorized port of h3 _hex2dToCoordIJK (nearest hex center)."""
    a1 = np.abs(x)
    a2 = np.abs(y)
    x2 = a2 / T.M_SIN60
    x1 = a1 + x2 / 2.0
    m1 = np.floor(x1).astype(np.int64)
    m2 = np.floor(x2).astype(np.int64)
    r1 = x1 - m1
    r2 = x2 - m2

    i = np.empty_like(m1)
    j = np.empty_like(m2)
    # r1 < 0.5 branch
    b = r1 < 0.5
    bb = b & (r1 < 1.0 / 3.0)
    i = np.where(bb, m1, i)
    j = np.where(bb, np.where(r2 < (1.0 + r1) / 2.0, m2, m2 + 1), j)
    bb = b & (r1 >= 1.0 / 3.0)
    j = np.where(bb, np.where(r2 < (1.0 - r1), m2, m2 + 1), j)
    i = np.where(bb, np.where(((1.0 - r1) <= r2) & (r2 < 2.0 * r1), m1 + 1, m1), i)
    # r1 >= 0.5 branch
    b = ~(r1 < 0.5)
    bb = b & (r1 < 2.0 / 3.0)
    j = np.where(bb, np.where(r2 < (1.0 - r1), m2, m2 + 1), j)
    i = np.where(bb, np.where((2.0 * r1 - 1.0 < r2) & (r2 < 1.0 - r1), m1, m1 + 1), i)
    bb = b & (r1 >= 2.0 / 3.0)
    i = np.where(bb, m1 + 1, i)
    j = np.where(bb, np.where(r2 < r1 / 2.0, m2, m2 + 1), j)

    # fold across axes
    neg_x = x < 0.0
    even_j = (j % 2) == 0
    axisi = np.where(even_j, j // 2, (j + 1) // 2)
    diff = i - axisi
    i = np.where(neg_x, np.where(even_j, i - 2 * diff, i - (2 * diff + 1)), i)
    neg_y = y < 0.0
    i = np.where(neg_y, i - (2 * j + 1) // 2, i)
    j = np.where(neg_y, -j, j)
    k = np.zeros_like(i)
    return _ijk_normalize(i, j, k)


def _up_ap7(i, j, k):
    ii = i - k
    jj = j - k
    return _ijk_normalize(
        np.round((3 * ii - jj) / 7.0).astype(np.int64),
        np.round((ii + 2 * jj) / 7.0).astype(np.int64),
        np.zeros_like(i),
    )


def _up_ap7r(i, j, k):
    ii = i - k
    jj = j - k
    return _ijk_normalize(
        np.round((2 * ii + jj) / 7.0).astype(np.int64),
        np.round((3 * jj - ii) / 7.0).astype(np.int64),
        np.zeros_like(i),
    )


def _down_ap7(i, j, k):
    return _ijk_normalize(3 * i + j, 3 * j + k, i + 3 * k)


def _down_ap7r(i, j, k):
    return _ijk_normalize(3 * i + k, i + 3 * j, j + 3 * k)


# ------------------------------------------------------------- forward
def _geo_to_hex2d(lat, lon, face, res):
    fc = T.FACE_CENTER_GEO[face]
    fclat, fclon = fc[:, 0], fc[:, 1]
    cosr = np.sin(fclat) * np.sin(lat) + np.cos(fclat) * np.cos(lat) * np.cos(lon - fclon)
    r = np.arccos(np.clip(cosr, -1.0, 1.0))
    az = np.arctan2(
        np.cos(lat) * np.sin(lon - fclon),
        np.cos(fclat) * np.sin(lat) - np.sin(fclat) * np.cos(lat) * np.cos(lon - fclon),
    )
    theta = np.mod(T.FACE_AXES_AZ[face, 0] - np.mod(az, 2 * np.pi), 2 * np.pi)
    if res % 2 == 1:
        theta = np.mod(theta - T.M_AP7_ROT_RADS, 2 * np.pi)
    rr = np.tan(r) / T.RES0_U_GNOMONIC
    rr = rr * (T.M_SQRT7 ** res)
    return rr * np.cos(theta), rr * np.sin(theta)


def _rotate_digits(bits: np.ndarray, res: int, table: np.ndarray) -> np.ndarray:
    """Apply a 60° digit rotation table to digits 1..res of the payload."""
    out = bits.copy()
    for r in range(1, res + 1):
        sh = _U(3 * (15 - r))
        d = ((bits >> sh) & _U(7)).astype(np.int64)
        out = (out & ~(_U(7) << sh)) | (table[d] << sh)
    return out


def _leading_nonzero_digit(bits: np.ndarray, res: int) -> np.ndarray:
    """First nonzero digit (r=1..res) per cell; 0 if all digits zero.

    libh3 _h3LeadingNonZeroDigit (h3Index.c, public algorithm)."""
    out = np.zeros(len(bits), dtype=np.int64)
    found = np.zeros(len(bits), dtype=bool)
    for r in range(1, res + 1):
        d = ((bits >> _U(3 * (15 - r))) & _U(7)).astype(np.int64)
        m = ~found & (d != 0)
        out[m] = d[m]
        found |= d != 0
    return out


def _encode_parts(lat, lon, res: int):
    """Radians (lat, lon) -> pre-rotation encode state:
    (face, bc int64, ccw rotation count, header bits, raw digit payload)."""
    xyz = np.stack([np.cos(lat) * np.cos(lon), np.cos(lat) * np.sin(lon), np.sin(lat)], axis=1)
    face = np.argmax(xyz @ T.FACE_XYZ.T, axis=1)
    x, y = _geo_to_hex2d(lat, lon, face, res)
    i, j, k = _hex2d_to_ijk(x, y)

    digits = np.full((lat.shape[0], 16), 7, dtype=np.uint64)
    for r in range(res, 0, -1):
        li, lj, lk = i, j, k
        if r % 2 == 1:
            i, j, k = _up_ap7(i, j, k)
            ci, cj, ck = _down_ap7(i, j, k)
        else:
            i, j, k = _up_ap7r(i, j, k)
            ci, cj, ck = _down_ap7r(i, j, k)
        di, dj, dk = _ijk_normalize(li - ci, lj - cj, lk - ck)
        digits[:, r] = _DIGIT_LOOKUP[di, dj, dk]

    ic = np.clip(i, 0, 2)
    jc = np.clip(j, 0, 2)
    kc = np.clip(k, 0, 2)
    bc = T.BASE_CELL_TABLE[face, ic, jc, kc]
    rots = T.CCW_ROT_TABLE[face, ic, jc, kc]

    v = MODE_CELL | (_U(res) << _U(52)) | (bc.astype(np.uint64) << _U(45))
    digit_bits = np.zeros_like(v)
    for r in range(1, 16):
        digit_bits |= digits[:, r] << _U(3 * (15 - r))
    return face, bc, rots, v, digit_bits


def latlng_to_cell(lat_deg, lon_deg, res: int) -> np.ndarray:
    """Vectorized (lat°, lon°) -> uint64 H3 cell index at ``res``.

    Pentagon base cells use the K-axis-deleted canonicalization of the
    published H3 scheme (h3Index.c): the raw per-face digit payload is
    rotated into the base cell's canonical sector frame by a per-(base
    cell, face) rotation count, and payloads that land on the deleted K
    sector (straddling the sector gap) are rotated once more across the
    gap.  The rotation tables are derived geometrically at import (see
    _pent_tables) rather than recalled from libh3's hand-authored
    baseCellData, so pentagon output is exactly self-consistent
    (encode = inverse of decode, children enumerable, compact exact);
    bit-parity with libh3 near pentagons is unverifiable in this
    container (same status as the S2 backend)."""
    lat = np.radians(np.atleast_1d(np.asarray(lat_deg, dtype=np.float64)))
    lon = np.radians(np.atleast_1d(np.asarray(lon_deg, dtype=np.float64)))
    face, bc, rots, v, digit_bits = _encode_parts(lat, lon, res)

    pent = T.IS_PENTAGON[bc]
    hexm = ~pent
    if res > 0:
        # hexagon base cells: plain ccw rotations of the digit payload
        for rot in range(1, 6):
            m = hexm & (rots >= rot)
            if m.any():
                digit_bits[m] = _rotate_digits(digit_bits[m], res, _ROT_CCW)
        if pent.any():
            PT = _pent_tables()
            t = np.where(pent, PT["rot"][bc, face], 0)
            for rot in range(1, 6):
                m = pent & (t >= rot)
                if m.any():
                    digit_bits[m] = _rotate_digits(digit_bits[m], res, _ROT_CCW)
            lead = _leading_nonzero_digit(digit_bits, res)
            fix = pent & (lead == 1)
            if fix.any():
                kf = PT["kfix"][bc[fix], face[fix]]  # +1 ccw / -1 cw
                sel = np.nonzero(fix)[0]
                ccw_i, cw_i = sel[kf > 0], sel[kf < 0]
                digit_bits[ccw_i] = _rotate_digits(digit_bits[ccw_i], res, _ROT_CCW)
                digit_bits[cw_i] = _rotate_digits(digit_bits[cw_i], res, _ROT_CW)
    return v | digit_bits


# ---------------------------------------------------- pentagon sector tables
_PENT_TABLES = None

# digit -> lattice direction angle in units of 60° (I=4 at 0°, ccw)
_DIGIT_ANG60 = {4: 0, 6: 1, 2: 2, 3: 3, 1: 4, 5: 5}
_ANG60_DIGIT = {v: k for k, v in _DIGIT_ANG60.items()}
# corner axis -> the digit pointing from that corner into the face
# (corner i: center-ward = JK; corner j: IK; corner k: IJ)
_CORNER_CONE_DIGIT = {0: 3, 1: 5, 2: 6}


def _derive_pent_tables() -> dict:
    """Derive the pentagon sector layout per base cell, geometrically.

    Each pentagon base cell sits on an icosahedron vertex shared by 5
    faces; gnomonic projection maps each face's 72° spherical wedge to a
    60° lattice cone at the vertex corner, so the five 60° digit sectors
    (K deleted) tile the sphere around the vertex exactly.  The home
    face keeps its raw cone digit; walking ccw around the vertex, the
    following faces take the next digit directions ccw with K skipped
    (the published H3 deleted-K-subsequence scheme, h3Index.c).  From
    that assignment:
      rot[bc, face]   ccw payload rotations raw cone digit -> sector label
      kfix[bc, face]  ±1: rotation direction across the K gap when a
                      boundary cell's rotated payload leads with K
      sector_face[bc, digit], sector_corner[bc, face(axis)] for decode.
    """
    rot = np.zeros((122, 20), dtype=np.int64)
    kfix = np.zeros((122, 20), dtype=np.int64)
    sector_face = np.full((122, 7), -1, dtype=np.int64)
    corner_axis = np.full((122, 20), -1, dtype=np.int64)

    # geo positions of every face corner
    corner_geo = np.zeros((20, 3, 2))  # lat, lon degrees
    for a in range(3):
        f = np.arange(20)
        la, lo = _hex2d_res0_to_geo(
            f, np.full(20, _CORNERS_XY[a, 0]), np.full(20, _CORNERS_XY[a, 1])
        )
        corner_geo[:, a, 0] = la
        corner_geo[:, a, 1] = lo

    def unit(lat_d, lon_d):
        la, lo = np.radians(lat_d), np.radians(lon_d)
        return np.array([np.cos(la) * np.cos(lo), np.cos(la) * np.sin(lo), np.sin(la)])

    for bc0 in sorted(T.PENTAGON_CELLS):
        vlat, vlon = np.degrees(T.BASE_CENTER_GEO[bc0])
        v = unit(vlat, vlon)
        touch = {}  # face -> corner axis at the vertex
        for f in range(20):
            for a in range(3):
                if np.dot(unit(*corner_geo[f, a]), v) > 1 - 1e-9:
                    touch[f] = a
        assert len(touch) == 5, (bc0, touch)
        home = int(T.HOME_FACE[bc0])
        assert home in touch

        # tangent-plane angles of face centers around the vertex
        t1 = None
        ang = {}
        for f in touch:
            fc = np.array(
                [
                    np.cos(T.FACE_CENTER_GEO[f, 0]) * np.cos(T.FACE_CENTER_GEO[f, 1]),
                    np.cos(T.FACE_CENTER_GEO[f, 0]) * np.sin(T.FACE_CENTER_GEO[f, 1]),
                    np.sin(T.FACE_CENTER_GEO[f, 0]),
                ]
            )
            d = fc - np.dot(fc, v) * v
            d /= np.linalg.norm(d)
            if f == home:
                t1 = d
        t2 = np.cross(v, t1)
        for f in touch:
            fc = np.array(
                [
                    np.cos(T.FACE_CENTER_GEO[f, 0]) * np.cos(T.FACE_CENTER_GEO[f, 1]),
                    np.cos(T.FACE_CENTER_GEO[f, 0]) * np.sin(T.FACE_CENTER_GEO[f, 1]),
                    np.sin(T.FACE_CENTER_GEO[f, 0]),
                ]
            )
            d = fc - np.dot(fc, v) * v
            ang[f] = float(np.arctan2(np.dot(d, t2), np.dot(d, t1)))

        # lattice-ccw direction of increasing tangent angle: probe a
        # point 45° (tangent) ccw of the home cone and see whether the
        # home-frame raw walk leads +60° or -60° from the cone digit
        c_home = _CORNER_CONE_DIGIT[touch[home]]
        rr = np.radians(2.0)
        # probes deep inside the next-ccw (tangent) wedge: their
        # home-frame raw walk leads ±60° from the home cone digit,
        # fixing the tangent-vs-lattice orientation sign
        probe_ang = np.radians(np.array([50.0, 60.0, 70.0]))
        probe_dir = np.cos(probe_ang)[:, None] * t1 + np.sin(probe_ang)[:, None] * t2
        p = np.cos(rr) * v + np.sin(rr) * probe_dir
        plat = np.arcsin(np.clip(p[:, 2], -1, 1))
        plon = np.arctan2(p[:, 1], p[:, 0])
        x, y = _geo_to_hex2d(plat, plon, np.full(len(plat), home), 3)
        i, j, k = _hex2d_to_ijk(x, y)
        bits = np.zeros(len(plat), dtype=np.uint64)
        for r in range(3, 0, -1):
            li, lj, lk = i, j, k
            if r % 2 == 1:
                i, j, k = _up_ap7(i, j, k)
                ci, cj, ck = _down_ap7(i, j, k)
            else:
                i, j, k = _up_ap7r(i, j, k)
                ci, cj, ck = _down_ap7r(i, j, k)
            di, dj, dk = _ijk_normalize(li - ci, lj - cj, lk - ck)
            bits |= _DIGIT_LOOKUP[di, dj, dk].astype(np.uint64) << _U(3 * (15 - r))
        d_probe = _leading_nonzero_digit(bits, 3)
        steps = {
            (_DIGIT_ANG60[int(d)] - _DIGIT_ANG60[c_home]) % 6 for d in d_probe
        } & {1, 5}
        assert len(steps) == 1, (bc0, d_probe.tolist(), c_home)
        sign = 1 if steps.pop() == 1 else -1  # +tangent angle == lattice ccw?

        order = sorted(touch, key=lambda f: (sign * (ang[f] - ang[home])) % (2 * np.pi))
        assert order[0] == home
        # labels ccw from home's cone digit, skipping K
        labels = []
        a60 = _DIGIT_ANG60[c_home]
        for _ in range(5):
            labels.append(_ANG60_DIGIT[a60])
            a60 = (a60 + 1) % 6
            if _ANG60_DIGIT[a60] == 1:  # skip the deleted K direction
                a60 = (a60 + 1) % 6
        for f, lab in zip(order, labels):
            c_f = _CORNER_CONE_DIGIT[touch[f]]
            rot[bc0, f] = (_DIGIT_ANG60[lab] - _DIGIT_ANG60[c_f]) % 6
            sector_face[bc0, lab] = f
            corner_axis[bc0, f] = touch[f]
            # K-gap adjacency: +1 (ccw) if K is this sector's ccw
            # neighbour, -1 (cw) if K is its cw neighbour
            if (_DIGIT_ANG60[lab] + 1) % 6 == _DIGIT_ANG60[1]:
                kfix[bc0, f] = 1
            elif (_DIGIT_ANG60[lab] - 1) % 6 == _DIGIT_ANG60[1]:
                kfix[bc0, f] = -1
        sector_face[bc0, 0] = home  # all-zero payload: the pentagon itself
    return {
        "rot": rot,
        "kfix": kfix,
        "sector_face": sector_face,
        "corner_axis": corner_axis,
    }


def _pent_tables() -> dict:
    global _PENT_TABLES
    if _PENT_TABLES is None:
        import os

        path = os.path.join(
            os.path.dirname(os.path.abspath(T.__file__)), "_pent_cache_v1.npz"
        )
        if os.path.exists(path):
            try:
                z = np.load(path, allow_pickle=False)
                _PENT_TABLES = {k: z[k] for k in z.files}
                return _PENT_TABLES
            except Exception:
                pass
        _PENT_TABLES = _derive_pent_tables()
        try:
            np.savez(path, **_PENT_TABLES)
        except OSError:
            pass
    return _PENT_TABLES


# ------------------------------------------------------------- inverse
def _cells_to_substrate_ijk(cells: np.ndarray):
    """cells -> (face, i, j, k, sub) integer lattice coords on the home
    face in a class-II grid ('substrate' = res+1 for class-III cells)."""
    res = get_resolution(cells)
    if not np.all(res == res[0]):
        raise ValueError("mixed resolutions in batch")
    r0 = int(res[0])
    bc = ((cells >> _U(45)) & _U(127)).astype(np.int64)
    pent = T.IS_PENTAGON[bc]
    face = T.HOME_FACE[bc].copy()
    i = T.HOME_IJK[bc, 0].copy()
    j = T.HOME_IJK[bc, 1].copy()
    k = T.HOME_IJK[bc, 2].copy()
    if r0 > 0 and pent.any():
        # pentagon cells decode per-sector: the leading nonzero digit
        # names the sector, each sector lives wholly on one of the five
        # faces around the icosahedron vertex, and the payload rotates
        # back (cw) into that face's raw cone frame — a single-face walk
        # with no multi-fold path around the vertex (see _pent_tables).
        PT = _pent_tables()
        lead = _leading_nonzero_digit(cells, r0)
        pf = PT["sector_face"][bc[pent], lead[pent]]
        if (pf < 0).any():
            raise ValueError("non-canonical pentagon cell (leading K digit)")
        ca = PT["corner_axis"][bc[pent], pf]
        corner = np.array([[2, 0, 0], [0, 2, 0], [0, 0, 2]])[ca]
        face[pent] = pf
        i[pent], j[pent], k[pent] = corner[:, 0], corner[:, 1], corner[:, 2]
        t = PT["rot"][bc[pent], pf]
        cells = cells.copy()
        sub_cells = cells[pent]
        for rot in range(1, 6):
            mm = t >= rot
            if mm.any():
                sub_cells[mm] = _rotate_digits(sub_cells[mm], r0, _ROT_CW)
        cells[pent] = sub_cells
    # walk matches libh3 _h3ToFaceIjkWithInitializedFijk: the aperture
    # steps normalize (as libh3's _downAp7 does internally) while the
    # digit add stays raw — the overage test below reads coordinate sums.
    for r in range(1, r0 + 1):
        if r % 2 == 1:
            i, j, k = _down_ap7(i, j, k)
        else:
            i, j, k = _down_ap7r(i, j, k)
        d = ((cells >> _U(3 * (15 - r))) & _U(7)).astype(np.int64)
        u = _UNIT_VECS[d]
        i, j, k = i + u[:, 0], j + u[:, 1], k + u[:, 2]
    sub = r0
    if r0 % 2 == 1:  # class III -> class II substrate one res down
        i, j, k = _down_ap7r(i, j, k)
        sub = r0 + 1
    # single-step overage adjustment onto the true face (libh3
    # _adjustOverageClassII for the hexagon case; pentagon sectors are
    # single-face by construction, so at most one edge crossing remains
    # for boundary cells of either kind)
    if r0 > 0:
        face, i, j, k = _adjust_overage_class2(face, i, j, k, sub)
    return face, i, j, k, sub


def _adjust_overage_class2(face, i, j, k, sub: int):
    """Vectorized libh3 _adjustOverageClassII (faceijk.c, published
    algorithm): cells whose face walk overshoots the face triangle are
    re-expressed on the adjacent face via exact lattice transforms
    (rotation count + translation derived from the fold data)."""
    max_dim = 2 * 7 ** (sub // 2)
    unit_scale = 7 ** (sub // 2)
    over = (i + j + k) > max_dim
    if not over.any():
        return face, i, j, k
    face = face.copy()
    i, j, k = i.copy(), j.copy(), k.copy()
    # quadrant from the raw (pre-normalization) coordinates
    quad = np.where(k > 0, np.where(j > 0, 0, 1), 2)  # JK, KI, IJ edges
    sel = np.nonzero(over)[0]
    f0, q0 = face[sel], quad[sel]
    gi, gj, gk = i[sel], j[sel], k[sel]
    rot = _FOLD_K[f0, q0]
    for r in range(1, 6):
        mm = rot >= r
        if mm.any():
            gi[mm], gj[mm], gk[mm] = _ijk_rotate60ccw(gi[mm], gj[mm], gk[mm])
    tv = _NEIGH_T_IJK[f0, q0] * unit_scale
    gi, gj, gk = _ijk_normalize(gi + tv[:, 0], gj + tv[:, 1], gk + tv[:, 2])
    face[sel] = _FOLD_FACE[f0, q0]
    i[sel], j[sel], k[sel] = gi, gj, gk
    return face, i, j, k


def _substrate_to_geo(face, i, j, k, sub):
    x, y = _ijk_to_hex2d(i.astype(np.float64), j.astype(np.float64), k.astype(np.float64))
    scale = T.M_SQRT7 ** sub
    return _hex2d_res0_to_geo(face, x / scale, y / scale)


def cell_to_latlng(cells) -> tuple[np.ndarray, np.ndarray]:
    """cells (uint64) -> (lat°, lon°) of centers, vectorized."""
    cells = np.atleast_1d(np.asarray(cells, dtype=np.uint64))
    face, i, j, k, sub = _cells_to_substrate_ijk(cells)
    return _substrate_to_geo(face, i, j, k, sub)


# ------------------------------------------------------------- bit ops
def get_resolution(cells) -> np.ndarray:
    cells = np.atleast_1d(np.asarray(cells, dtype=np.uint64))
    return ((cells >> _U(52)) & _U(15)).astype(np.int64)


def base_cell(cells) -> np.ndarray:
    cells = np.atleast_1d(np.asarray(cells, dtype=np.uint64))
    return ((cells >> _U(45)) & _U(127)).astype(np.int64)


def cell_to_parent(cells, parent_res: int) -> np.ndarray:
    """Pure bit op (SURVEY.md C4)."""
    cells = np.atleast_1d(np.asarray(cells, dtype=np.uint64))
    res_mask = _U(15) << _U(52)
    fill = _U((1 << (3 * (15 - parent_res))) - 1)
    return (cells & ~res_mask) | (_U(parent_res) << _U(52)) | fill


def cell_to_center_child(cells, child_res: int) -> np.ndarray:
    cells = np.atleast_1d(np.asarray(cells, dtype=np.uint64))
    res = get_resolution(cells)
    if not np.all(res <= child_res):
        raise ValueError("child_res coarser than cell")
    res_mask = _U(15) << _U(52)
    out = (cells & ~res_mask) | (_U(child_res) << _U(52))
    # zero the digits between res+1..child_res (they are currently 7)
    for r in range(1, 16):
        m = (res < r) & (r <= child_res)
        if m.any():
            out[m] &= ~(_U(7) << _U(3 * (15 - r)))
    return out


def is_pentagon(cells) -> np.ndarray:
    cells = np.atleast_1d(np.asarray(cells, dtype=np.uint64))
    bc = base_cell(cells)
    pent = T.IS_PENTAGON[bc]
    res = get_resolution(cells)
    # pentagon cell = pentagon base cell with all-zero digits
    allzero = np.ones(len(cells), dtype=bool)
    for r in range(1, 16):
        d = (cells >> _U(3 * (15 - r))) & _U(7)
        allzero &= (d == 0) | (r > res)
    return pent & allzero


def cell_to_children(cell: int, child_res: int) -> list[int]:
    """All descendants at child_res (pentagon K-subsequence skipped)."""
    cell = int(cell)
    res = int(get_resolution([cell])[0])
    if child_res < res:
        raise ValueError("child_res coarser than cell")
    out = [cell]
    for r in range(res + 1, child_res + 1):
        nxt = []
        for c in out:
            pent = bool(is_pentagon([c])[0])
            base = (c & ~(0xF << 52)) | (r << 52)
            base &= ~(7 << (3 * (15 - r)))
            for d in range(7):
                if pent and d == 1:
                    continue
                nxt.append(base | (d << (3 * (15 - r))))
        out = nxt
    return out


def compact_cells(cells) -> set[int]:
    """Complete-sibling merge to a fixpoint (H3 compactCells semantics).

    Pure-int bit math per cell: the r05 form routed every cell through
    1-element numpy cell_to_parent()/is_pentagon() calls (~20-50 us
    each, the q50 pipeline's dominant compaction cost); the parent is
    three masks and the pentagon test is a table lookup + one digit-
    field check.  Identical merge results."""
    cur = {int(c) for c in np.asarray(list(cells), dtype=np.uint64)}
    res_mask = 15 << 52
    changed = True
    while changed:
        changed = False
        by_parent: dict[int, set[int]] = {}
        for c in cur:
            res = (c >> 52) & 15
            if res == 0:
                continue
            fill = (1 << (3 * (15 - (res - 1)))) - 1
            p = (c & ~res_mask) | ((res - 1) << 52) | fill
            by_parent.setdefault(p, set()).add(c)
        for p, kids in by_parent.items():
            # pentagon parent: pentagon base cell AND digits 1..res_p
            # all zero (the digit field above the 7-fill)
            res_p = (p >> 52) & 15
            pent = bool(T.IS_PENTAGON[(p >> 45) & 127]) and (
                (p >> (3 * (15 - res_p))) & ((1 << (3 * res_p)) - 1)
            ) == 0
            need = 6 if pent else 7
            if len(kids) == need:
                cur -= kids
                cur.add(p)
                changed = True
    return cur


# ------------------------------------------------------------- tokens
def to_token(cells) -> np.ndarray:
    # bulk C hex via binascii, then a cheap per-token LEADING-zero
    # lstrip (format(c, "x") semantics; value 0 -> "0") — ~2.4x faster
    # than the per-cell format() loop.  The Arrow UDF path bypasses
    # this entirely via to_token_pa below.
    import binascii

    cells = np.atleast_1d(np.asarray(cells, dtype=np.uint64))
    hx = binascii.hexlify(cells.astype(">u8").tobytes())
    arr = np.frombuffer(hx, dtype="S16")
    return np.array([t.lstrip(b"0").decode() or "0" for t in arr], dtype=str)


_HEX_CHARS = np.frombuffer(b"0123456789abcdef", dtype=np.uint8)
_NIB_SHIFTS = np.arange(60, -1, -4, dtype=np.uint64)


def to_token_pa(cells):
    """uint64 cells -> pyarrow StringArray of lowercase-hex tokens,
    built directly from offsets+data buffers — zero Python-string
    objects (format(int(c), "x") measured ~0.55 s/M rows; this path
    feeds the Arrow-native point UDF, guide §4.2).  Leading zeros are
    stripped exactly like format(_, "x"); every valid H3 cell (mode 1)
    yields 15 digits, so the uniform-width fast path always taken."""
    import pyarrow as pa

    cells = np.atleast_1d(np.asarray(cells, dtype=np.uint64))
    n = len(cells)
    nib = ((cells[:, None] >> _NIB_SHIFTS[None, :]) & np.uint64(0xF)).astype(np.uint8)
    chars = _HEX_CHARS[nib]
    nz = nib != 0
    first = np.where(nz.any(axis=1), nz.argmax(axis=1), 15).astype(np.int64)
    widths = (16 - first).astype(np.int32)
    offsets = np.zeros(n + 1, dtype=np.int32)
    np.cumsum(widths, out=offsets[1:])
    if n and (first == first[0]).all():
        data = np.ascontiguousarray(chars[:, first[0]:]).tobytes()
    else:  # mixed widths (not produced by cell encodes; kept for safety)
        keep = np.arange(16)[None, :] >= first[:, None]
        data = chars[keep].tobytes()
    return pa.StringArray.from_buffers(
        n, pa.py_buffer(offsets.tobytes()), pa.py_buffer(data)
    )


def from_token(tokens) -> np.ndarray:
    return np.array([np.uint64(int(t, 16)) for t in np.atleast_1d(tokens)], dtype=np.uint64)


# ------------------------------------------------------------- traversal
def neighbors(cells) -> np.ndarray:
    """(n, 6) matrix of neighbor cells (duplicates possible at pentagons).

    Computed geometrically: each cell's six lattice-adjacent centers are
    unfolded to geo and re-encoded — exact for hexagons, and robust at
    face boundaries because encode picks the canonical cell."""
    cells = np.atleast_1d(np.asarray(cells, dtype=np.uint64))
    res = int(get_resolution(cells)[0])
    out = np.empty((len(cells), 6), dtype=np.uint64)
    face, i, j, k, sub = _cells_to_substrate_ijk(cells)
    for d in range(1, 7):
        u = _UNIT_VECS[d]
        if sub > res:
            # class III: a res-r unit step expressed in substrate coords
            # via the linear down-aperture map
            oi, oj, ok = _down_ap7r(
                np.array([u[0]]), np.array([u[1]]), np.array([u[2]])
            )
            oi, oj, ok = int(oi[0]), int(oj[0]), int(ok[0])
        else:
            oi, oj, ok = int(u[0]), int(u[1]), int(u[2])
        ni, nj, nk = _ijk_normalize(i + oi, j + oj, k + ok)
        nlat, nlon = _substrate_to_geo(face, ni, nj, nk, sub)
        out[:, d - 1] = latlng_to_cell(nlat, nlon, res)
    return out


def _hex2d_res0_to_geo(face, x, y):
    face = face.copy()
    x = x.copy()
    y = y.copy()
    for _ in range(4):
        s = np.stack(
            [(np.stack([x, y], 1) - _EDGE_A[e]) @ _EDGE_N[e] for e in range(3)], axis=1
        )
        outm = s.max(axis=1) > 1e-12
        if not outm.any():
            break
        e = s.argmax(axis=1)
        fo = face[outm]
        eo = e[outm]
        P = np.stack([x[outm], y[outm]], axis=1)
        P2 = np.einsum("nab,nb->na", _FOLD_R[fo, eo], P) + _FOLD_T[fo, eo]
        x[outm] = P2[:, 0]
        y[outm] = P2[:, 1]
        face[outm] = _FOLD_FACE[fo, eo]
    r = np.sqrt(x * x + y * y)
    theta = np.arctan2(y, x)
    rr = np.arctan(r * T.RES0_U_GNOMONIC)
    az = np.mod(T.FACE_AXES_AZ[face, 0] - theta, 2 * np.pi)
    fclat = T.FACE_CENTER_GEO[face, 0]
    fclon = T.FACE_CENTER_GEO[face, 1]
    sinlat = np.clip(
        np.sin(fclat) * np.cos(rr) + np.cos(fclat) * np.sin(rr) * np.cos(az), -1, 1
    )
    lat2 = np.arcsin(sinlat)
    lon2 = fclon + np.arctan2(
        np.sin(az) * np.sin(rr) * np.cos(fclat), np.cos(rr) - np.sin(fclat) * sinlat
    )
    return np.degrees(lat2), np.degrees(np.mod(lon2 + np.pi, 2 * np.pi) - np.pi)


def grid_disk(cells, k: int) -> list[np.ndarray]:
    """Per-cell disk (self + rings 1..k) via BFS over ``neighbors``."""
    cells = np.atleast_1d(np.asarray(cells, dtype=np.uint64))
    disks = [set([int(c)]) for c in cells]
    frontier = [set([int(c)]) for c in cells]
    for _ in range(k):
        flat = []
        owners = []
        for idx, fr in enumerate(frontier):
            for c in fr:
                flat.append(c)
                owners.append(idx)
        if not flat:
            break
        nb = neighbors(np.array(flat, dtype=np.uint64))
        new_frontier = [set() for _ in cells]
        for row, owner in zip(nb, owners):
            for c in row:
                ci = int(c)
                if ci not in disks[owner]:
                    disks[owner].add(ci)
                    new_frontier[owner].add(ci)
        frontier = new_frontier
    return [np.array(sorted(d), dtype=np.uint64) for d in disks]


def cell_boundary(cells) -> tuple[np.ndarray, np.ndarray]:
    """cells -> (lat, lon) arrays of shape (n, 6): hexagon vertices.

    Each vertex is the lattice centroid of the cell and two consecutive
    neighbors ((c + n_i + n_{i+1})/3 — exact in the gnomonic plane),
    unfolded across face edges like cell centers.  Pentagon cells get a
    degenerate 6th vertex (duplicate), consistent with the documented
    pentagon limitation."""
    cells = np.atleast_1d(np.asarray(cells, dtype=np.uint64))
    res = int(get_resolution(cells)[0])
    face, i, j, k, sub = _cells_to_substrate_ijk(cells)
    # neighbor offsets in substrate units, sorted by angle
    offs = []
    for d in range(1, 7):
        u = _UNIT_VECS[d]
        if sub > res:
            oi, oj, ok = _down_ap7r(np.array([u[0]]), np.array([u[1]]), np.array([u[2]]))
            offs.append((int(oi[0]), int(oj[0]), int(ok[0])))
        else:
            offs.append((int(u[0]), int(u[1]), int(u[2])))
    xy = [np.array(_ijk_to_hex2d(np.float64(o[0]), np.float64(o[1]), np.float64(o[2]))) for o in offs]
    order = np.argsort([np.arctan2(v[1], v[0]) for v in xy])
    cx, cy = _ijk_to_hex2d(i.astype(np.float64), j.astype(np.float64), k.astype(np.float64))
    scale = T.M_SQRT7 ** sub
    lat_out = np.empty((len(cells), 6))
    lon_out = np.empty((len(cells), 6))
    for vi in range(6):
        o1 = xy[order[vi]]
        o2 = xy[order[(vi + 1) % 6]]
        # vertex = (center + n1 + n2)/3 where n = center + offset
        vx = cx + (o1[0] + o2[0]) / 3.0
        vy = cy + (o1[1] + o2[1]) / 3.0
        la, lo = _hex2d_res0_to_geo(face.copy(), vx / scale, vy / scale)
        lat_out[:, vi] = la
        lon_out[:, vi] = lo
    return lat_out, lon_out


def grid_path_cells(a, b) -> np.ndarray:
    """Cells on the hex-grid lines from ``a[s]`` to ``b[s]`` (inclusive),
    for every segment ``s`` of the endpoint arrays ``a``/``b`` — the h3
    gridPathCells shape: linear interpolation between the two centers
    with per-sample rounding to the containing cell.  Returns every
    segment's path, deduped keep-first within the segment, concatenated
    in segment order (a batched call equals the concatenation of its
    one-pair calls).

    Same-home-face pairs interpolate in the shared gnomonic (substrate
    hex2d) frame at 2n+1 samples (n = hex distance) — exactly the
    hex-line construction; cross-face pairs take a 256-sample geodesic
    chord (the reference's own gridPathCells also degrades for distant
    cells).  All endpoints decode in one call and all samples encode in
    one ``latlng_to_cell`` call, so a line costs one vectorized pass,
    not one per segment."""
    a = np.atleast_1d(np.asarray(a, dtype=np.uint64))
    b = np.atleast_1d(np.asarray(b, dtype=np.uint64))
    if a.shape != b.shape:
        raise ValueError("endpoint arrays differ in length")
    m = len(a)
    if m == 0:
        return np.empty(0, dtype=np.uint64)
    res = int(get_resolution(a)[0])
    face, i, j, k, sub = _cells_to_substrate_ijk(np.concatenate([a, b]))
    x, y = _ijk_to_hex2d(i.astype(np.float64), j.astype(np.float64), k.astype(np.float64))
    same = face[:m] == face[m:]
    step = T.M_SQRT7 if sub > res else 1.0  # res-cell spacing in substrate units
    dx, dy = x[m:] - x[:m], y[m:] - y[:m]
    n = np.maximum(np.ceil(np.hypot(dx, dy) / step).astype(np.int64), 1)
    cnt = np.where(same, 2 * n + 1, 256)  # 2x oversample: < 1/2 cell/step
    seg = np.repeat(np.arange(m), cnt)
    start = np.cumsum(cnt) - cnt
    # sample parameter rounded exactly like np.linspace(0, 1, cnt)
    t = (np.arange(len(seg)) - start[seg]) * (1.0 / (cnt - 1))[seg]
    t[start + cnt - 1] = 1.0
    lat = np.empty(len(seg))
    lon = np.empty(len(seg))
    ss = same[seg]
    if ss.any():
        scale = T.M_SQRT7 ** sub
        sg, ts = seg[ss], t[ss]
        xs = (x[:m][sg] + dx[sg] * ts) / scale
        ys = (y[:m][sg] + dy[sg] * ts) / scale
        lat[ss], lon[ss] = _hex2d_res0_to_geo(face[:m][sg], xs, ys)
    if not ss.all():
        cs = ~ss
        ends = np.nonzero(np.concatenate([~same, ~same]))[0]
        elat = np.empty(2 * m)
        elon = np.empty(2 * m)
        elat[ends], elon[ends] = _substrate_to_geo(face[ends], i[ends], j[ends], k[ends], sub)
        sg, tc = seg[cs], t[cs]
        lat[cs] = elat[:m][sg] + (elat[m:] - elat[:m])[sg] * tc
        lon[cs] = elon[:m][sg] + (elon[m:] - elon[:m])[sg] * tc
    cells = latlng_to_cell(lat, lon, res)
    # keep-first dedup within each segment: stable sort by (segment, cell)
    order = np.lexsort((cells, seg))
    oc, oseg = cells[order], seg[order]
    first = np.ones(len(order), dtype=bool)
    first[1:] = (oc[1:] != oc[:-1]) | (oseg[1:] != oseg[:-1])
    return cells[np.sort(order[first])]


def mean_center_spacing_deg(res: int) -> float:
    """Empirical min center-to-center spacing (degrees) at a resolution —
    used for kNN ring guarantees and polyfill disk sizing."""
    c = latlng_to_cell([-44.0], [-176.4], res)
    nb = neighbors(c)
    lat0, lon0 = cell_to_latlng(c)
    nlat, nlon = cell_to_latlng(nb[0])
    d = np.sqrt((nlat - lat0[0]) ** 2 + (nlon - lon0[0]) ** 2)
    return float(d.min())


_MIN_SPACING_CACHE: dict[int, float] = {}


def min_center_spacing_deg(res: int) -> float:
    """GLOBAL lower bound on neighbor center spacing (great-circle
    degrees) at ``res``: the minimum over face centers, face corners
    (max hex distortion), and pentagon vertices, with a 5% safety
    margin.  A planar lat/lon-degree distance is never smaller than the
    great-circle degree distance, so this bounds both metrics.  Fixes
    the one-point-sample hazard (a single face-interior sample is ~1.3×
    the true global minimum)."""
    if res in _MIN_SPACING_CACHE:
        return _MIN_SPACING_CACHE[res]
    lats = [np.degrees(T.FACE_CENTER_GEO[:, 0])]
    lons = [np.degrees(T.FACE_CENTER_GEO[:, 1])]
    pents = sorted(T.PENTAGON_CELLS)
    lats.append(np.degrees(T.BASE_CENTER_GEO[pents, 0]) + 0.5)
    lons.append(np.degrees(T.BASE_CENTER_GEO[pents, 1]) + 0.5)
    # face corners approached from slightly inside (every max-distortion
    # region of the gnomonic projection)
    for a in range(3):
        xy = _CORNERS_XY[a] * 0.9
        la, lo = _hex2d_res0_to_geo(
            np.arange(20), np.full(20, xy[0]), np.full(20, xy[1])
        )
        lats.append(la)
        lons.append(lo)
    lat = np.concatenate(lats)
    lon = np.concatenate(lons)
    c = latlng_to_cell(lat, lon, res)
    nb = neighbors(c)
    lat0, lon0 = cell_to_latlng(c)
    best = np.inf
    la0, lo0 = np.radians(lat0), np.radians(lon0)
    for col in range(6):
        nlat, nlon = cell_to_latlng(nb[:, col])
        la1, lo1 = np.radians(nlat), np.radians(nlon)
        gc = np.arccos(
            np.clip(
                np.sin(la0) * np.sin(la1) + np.cos(la0) * np.cos(la1) * np.cos(lo0 - lo1),
                -1,
                1,
            )
        )
        pos = gc[gc > 1e-12]
        if len(pos):
            best = min(best, float(np.degrees(pos.min())))
    out = best * 0.95
    _MIN_SPACING_CACHE[res] = out
    return out
