"""Seeded input generators for the benchmark workloads.

The generators live here, not in ``vector2dggs_spark.sources``, so an edit
to the package's own fixture synthesizer cannot silently change what the
benchmark measures.  Every generator takes an explicit seed; the same seed
gives byte-identical inputs.

Documents follow the package's input shape::

    documents(doc_id string, spans array<struct<kind, text, media_ref, offset>>)

and are written straight to Parquet with pyarrow, so generating a corpus
costs no Spark job.
"""
from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Chatham Islands window (lon_min, lat_min, lon_max, lat_max): a few res-3
# parent cells, so the Hive sink writes a realistic handful of partitions.
WINDOW = (-176.6, -44.4, -176.2, -43.7)

# katana roles: plain square, square with a hole, multipolygon
KATANA_WKTS = [
    "POLYGON ((-176.55 -44.35, -176.45 -44.35, -176.45 -44.25, -176.55 -44.25, -176.55 -44.35))",
    "POLYGON ((-176.40 -44.35, -176.28 -44.35, -176.28 -44.23, -176.40 -44.23, -176.40 -44.35), "
    "(-176.36 -44.31, -176.32 -44.31, -176.32 -44.27, -176.36 -44.27, -176.36 -44.31))",
    "MULTIPOLYGON (((-176.58 -43.80, -176.52 -43.80, -176.52 -43.74, -176.58 -43.74, -176.58 -43.80)), "
    "((-176.50 -43.78, -176.44 -43.78, -176.44 -43.72, -176.50 -43.72, -176.50 -43.78)))",
]
# larger than one katana piece: bisected before polyfill
OVERSIZED_WKT = (
    "POLYGON ((-176.60 -44.40, -176.20 -44.40, -176.20 -44.00, -176.60 -44.00, -176.60 -44.40))"
)
# Antimeridian shapes the engine indexes today: a line crossing it, points
# and polygons on either side of it.  A polygon CROSSING the antimeridian
# is left out: with H3 the prepare stage skips the split for geodesic
# backends and the polyfill covers ~360 degrees of longitude (~6M cells for
# a 0.4 x 0.2 degree box, over a minute in one worker), so no run could
# finish; see perfbench/README.md.
ANTIMERIDIAN_WKTS = [
    "LINESTRING (179.95 -44.10, -179.95 -44.12)",
    "POINT (179.999 -44.1)",
    "POINT (-179.999 -44.1)",
    "POLYGON ((179.90 -44.20, 180.00 -44.20, 180.00 -44.15, 179.90 -44.15, 179.90 -44.20))",
    "POLYGON ((-180.00 -44.20, -179.90 -44.20, -179.90 -44.15, -180.00 -44.15, -180.00 -44.20))",
]
# dropped by prepare: empty, unsupported type; plus a doc with no geometry
DEGENERATE_WKTS = ["POLYGON EMPTY", "CIRCULARSTRING (0 0, 1 1, 2 0)", None]

_WORDS = np.array(
    "spark cell grid index tile span doc join shuffle partition hex trace point line poly".split()
)

SPAN_TYPE = pa.list_(
    pa.struct(
        [
            ("kind", pa.string()),
            ("text", pa.string()),
            ("media_ref", pa.string()),
            ("offset", pa.int32()),
        ]
    )
)
DOC_SCHEMA = pa.schema([pa.field("doc_id", pa.string(), nullable=False), ("spans", SPAN_TYPE)])


@dataclass
class Corpus:
    """A generated document table plus what the checks need to know."""

    n_docs: int
    point_docs: list[str] = field(default_factory=list)  # exactly one POINT span each
    polygon_docs: list[str] = field(default_factory=list)
    table: pa.Table | None = None


def tile_ref(lon: float, lat: float, z: int = 8) -> str:
    n = 2**z
    x = int((lon + 180.0) / 360.0 * n) % n
    lat_r = np.radians(np.clip(lat, -85.05, 85.05))
    y = int((1.0 - np.arcsinh(np.tan(lat_r)) / np.pi) / 2.0 * n)
    return f"tile://{z}/{x}/{min(max(y, 0), n - 1)}"


def _rect(cx, cy, w, h) -> str:
    x0, x1, y0, y1 = cx - w / 2, cx + w / 2, cy - h / 2, cy + h / 2
    return (
        f"POLYGON (({x0:.6f} {y0:.6f}, {x1:.6f} {y0:.6f}, {x1:.6f} {y1:.6f}, "
        f"{x0:.6f} {y1:.6f}, {x0:.6f} {y0:.6f}))"
    )


def _ngon(rng, cx, cy, r, n) -> str:
    ang = np.sort(rng.uniform(0, 2 * np.pi, n))
    xs, ys = cx + r * np.cos(ang), cy + r * np.sin(ang)
    pts = ", ".join(f"{x:.6f} {y:.6f}" for x, y in zip(xs, ys))
    return f"POLYGON (({pts}, {xs[0]:.6f} {ys[0]:.6f}))"


def _line(rng, lon0, lat0, nverts) -> str:
    steps = rng.uniform(-0.012, 0.012, (nverts - 1, 2))
    pts = np.concatenate([[[lon0, lat0]], np.cumsum(steps, axis=0) + [lon0, lat0]])
    return "LINESTRING (" + ", ".join(f"{x:.6f} {y:.6f}" for x, y in pts) + ")"


def _span(kind, text=None, media_ref=None, offset=0) -> dict:
    return {"kind": kind, "text": text, "media_ref": media_ref, "offset": offset}


def mixed_corpus(n_docs: int, seed: int) -> Corpus:
    """~60% point (+ media span), 20% polygon, 10% line, 10% text-only
    documents in the Chatham window, after a fixed head of katana-role,
    oversized, antimeridian and degenerate shapes and ~2% overlapping
    polygons."""
    rng = np.random.default_rng(seed)
    lon0, lat0, lon1, lat1 = WINDOW
    corpus = Corpus(n_docs)
    ids, spans = [], []

    def add(wkt, media=None, kind=None):
        doc_id = f"doc{len(ids):08d}"
        s = [_span("text", " ".join(rng.choice(_WORDS, 5)))]
        if wkt is not None or kind == "null_geometry":
            s.append(_span("geometry", wkt, offset=1))
        if media is not None:
            s.append(_span("media", media_ref=media, offset=len(s)))
        ids.append(doc_id)
        spans.append(s)
        if kind == "point":
            corpus.point_docs.append(doc_id)
        elif kind == "polygon":
            corpus.polygon_docs.append(doc_id)

    for w in KATANA_WKTS + [OVERSIZED_WKT]:
        add(w, kind="polygon")
    for w in ANTIMERIDIAN_WKTS:
        add(w, kind="point" if w.startswith("POINT") else None)
    for w in DEGENERATE_WKTS:
        add(w)
    add(None, kind="null_geometry")  # geometry span whose text is null
    cx, cy = (lon0 + lon1) / 2, (lat0 + lat1) / 2
    for _ in range(max(4, n_docs // 50)):
        add(_rect(cx + rng.uniform(-0.02, 0.02), cy + rng.uniform(-0.02, 0.02), 0.05, 0.05),
            kind="polygon")
    # Exact kind shares and evenly spread shape sizes, shuffled by the
    # seed: seeds move shapes around but keep the total work nearly equal,
    # so run-to-run spread reflects the engine, not the draw.
    n = n_docs - len(ids)
    n_pt, n_poly, n_line = round(0.6 * n), round(0.2 * n), round(0.1 * n)
    kinds = rng.permutation(np.repeat(np.arange(4), [n_pt, n_poly, n_line, n - n_pt - n_poly - n_line]))
    sizes = iter(rng.permutation(np.linspace(0.004, 0.03, 2 * n_poly)).reshape(n_poly, 2))
    ngon = iter(rng.permutation(np.arange(n_poly) < round(0.3 * n_poly)))
    verts = iter(rng.permutation(np.arange(n_line) % 9 + 3))
    for kind in kinds:
        lon = rng.uniform(lon0 + 0.01, lon1 - 0.01)
        lat = rng.uniform(lat0 + 0.01, lat1 - 0.01)
        if kind == 0:
            add(f"POINT ({lon:.6f} {lat:.6f})", media=tile_ref(lon, lat), kind="point")
        elif kind == 1:
            w, h = next(sizes)
            if next(ngon):
                wkt = _ngon(rng, lon, lat, (w + h) / 3, int(rng.integers(4, 9)))
            else:
                wkt = _rect(lon, lat, w, h)
            add(wkt, kind="polygon")
        elif kind == 2:
            add(_line(rng, lon, lat, int(next(verts))))
        else:
            add(None)
    corpus.table = pa.table({"doc_id": ids, "spans": spans}, schema=DOC_SCHEMA)
    return corpus


def write_corpus(corpus: Corpus, path: str, files: int = 8) -> None:
    """A directory of ``files`` Parquet files, so the scan is split into
    as many tasks, as it would be for a real corpus."""
    os.makedirs(path, exist_ok=True)
    step = -(-corpus.table.num_rows // files)
    for i in range(files):
        pq.write_table(corpus.table.slice(i * step, step), os.path.join(path, f"part-{i:03d}.parquet"))


@dataclass
class QueryInputs:
    """Request inputs for ``query_mix``: point batches for ``join``, query
    batches and one target set for ``knn``."""

    join_batches: np.ndarray  # (n_batches, batch, 2) lat, lon
    knn_batches: np.ndarray  # (n_batches, batch, 2) lat, lon
    targets: np.ndarray  # (n_targets, 2) lat, lon


def query_inputs(seed: int, n_join: int = 16, join_batch: int = 500, n_knn: int = 8,
                 knn_batch: int = 10, n_targets: int = 4000) -> QueryInputs:
    """Join points spread over the mixed corpus window.  kNN targets sit in
    a few dense clusters and every query lies inside one, so each query's
    5th neighbour is within about one res-9 cell and the ring loop ends
    after the same small number of rounds for any seed."""
    rng = np.random.default_rng(seed + 1_000_003)
    lon0, lat0, lon1, lat1 = WINDOW
    join = np.stack(
        [rng.uniform(lat0, lat1, (n_join, join_batch)), rng.uniform(lon0, lon1, (n_join, join_batch))],
        axis=2,
    )
    n_clusters = 4
    centers = np.stack(
        [rng.uniform(lat0 + 0.05, lat1 - 0.05, n_clusters), rng.uniform(lon0 + 0.05, lon1 - 0.05, n_clusters)],
        axis=1,
    )
    half = 0.015  # cluster half-width, degrees
    which = rng.integers(0, n_clusters, n_targets)
    targets = centers[which] + rng.uniform(-half, half, (n_targets, 2))
    qwhich = rng.integers(0, n_clusters, (n_knn, knn_batch))
    knn = centers[qwhich] + rng.uniform(-half / 2, half / 2, (n_knn, knn_batch, 2))
    return QueryInputs(join, knn, targets)
