"""The workloads: how each sets up, what one operation is, how its
output is checked, and the traced per-layer breakdown.

All workloads index with H3 at resolution 9 and the default parent
(resolution 3), so the cell column is ``h3_09`` and the Hive partition
column ``h3_03``.
"""
from __future__ import annotations

import dataclasses
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

import checks
import gen

RES, PARENT_RES = 9, 3
CELL, PARENT = "h3_09", "h3_03"
DEFAULT_SEED = 1  # the seed whose outputs are frozen in expected.json
KNN_K = 5

# layers that record spans; dggs and session are reported separately
SPAN_LAYERS = ["sources", "prepare", "polyfill", "compaction", "pipeline", "sink", "joins"]


@dataclass
class OpResult:
    kind: str
    seconds: float
    inputs: int  # documents indexed, or request input records
    rows: int  # cell rows written, or result rows returned
    errors: list[str] = field(default_factory=list)
    sink: dict | None = None  # files, bytes, partitions of a written table


def dir_stats(path: str) -> dict:
    """Files, bytes and partition directories of a Hive-partitioned sink."""
    files = size = 0
    parts = set()
    for root, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
                parts.add(root)
    return {"files": files, "bytes": size, "partitions": len(parts)}


def timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t0


class Context:
    """What every workload shares: the session, a scratch directory inside
    the checkout, and the frozen expectations."""

    def __init__(self, spark, work: str, seed: int):
        from vector2dggs_spark import get_backend

        self.spark = spark
        self.work = work
        self.seed = seed
        self.backend = get_backend("h3")
        self.expected = checks.load_expected()
        self._n = 0

    def path(self, stem: str) -> str:
        self._n += 1
        return os.path.join(self.work, f"{stem}-{self._n}")


# ------------------------------------------------------------------ dggs
def dggs_kernels(backend, seed: int = DEFAULT_SEED) -> dict[str, float]:
    """Driver-side calls of the H3 backend kernels on fixed arrays."""
    from vector2dggs_spark.geometry import wkt as gw

    rng = np.random.default_rng(seed)
    lon0, lat0, lon1, lat1 = gen.WINDOW
    lat = rng.uniform(lat0, lat1, 200_000)
    lon = rng.uniform(lon0, lon1, 200_000)
    cells, t_pt = timed(lambda: backend.point_to_cell(lat, lon, RES))
    polys = [gw.parse_wkt(w)[1] for w in gen.KATANA_WKTS[:2] + [gen.OVERSIZED_WKT]]
    filled, t_poly = timed(lambda: sum(len(backend.polyfill(p, RES)) for p in polys))
    disks, t_disk = timed(lambda: backend.grid_disk(cells[:5000], RES, 2))
    return {
        "dggs.point_to_cell_per_s": len(cells) / t_pt,
        "dggs.polyfill_cells_per_s": filled / t_poly,
        "dggs.grid_disk_cells_per_s": sum(len(d) for d in disks) / t_disk,
    }


def dggs_span(ctx: Context, tracer) -> dict[str, float]:
    with tracer.span("dggs", "dggs"):
        return dggs_kernels(ctx.backend)


# ----------------------------------------------------------- index_mixed
class IndexMixed:
    """One operation is ``index(compact=True)`` plus ``write_partitioned``
    over the mixed corpus read from Parquet; the output is read back and
    checked."""

    name = "index_mixed"
    MIN_OPS = 2

    def __init__(self, n_docs: int):
        self.n_docs = n_docs

    # set-up ---------------------------------------------------------
    def prepare_inputs(self, ctx: Context) -> None:
        self.corpus = gen.mixed_corpus(self.n_docs, ctx.seed)
        self.src = os.path.join(ctx.work, "docs.parquet")
        gen.write_corpus(self.corpus, self.src)

    def warm_up(self, ctx: Context) -> list[OpResult]:
        """Index the default-seed corpus once, at full size: Python-worker
        and JIT warm-up, its output checked against the frozen row count
        and checksum on every run, whatever the seed."""
        canary = gen.mixed_corpus(self.n_docs, DEFAULT_SEED)
        src = os.path.join(ctx.work, "canary.parquet")
        gen.write_corpus(canary, src)
        return [self._run(ctx, src, canary, self.name)]

    # measured operation ---------------------------------------------
    def next_kind(self) -> str:
        return "index"

    def op(self, ctx: Context, i: int, kind: str = "index", tracer=None) -> OpResult:
        return self._run(ctx, self.src, self.corpus, None, tracer)

    def _index(self, ctx: Context, docs):
        from vector2dggs_spark import index

        return index(ctx.spark, docs, dggs="h3", resolution=RES, compact=True)

    def _run(self, ctx: Context, src: str, corpus: gen.Corpus, frozen_key: str | None,
             tracer=None) -> OpResult:
        from vector2dggs_spark import write_partitioned

        out = ctx.path("cells")

        def call():
            write_partitioned(self._index(ctx, ctx.spark.read.parquet(src)), out)

        if tracer is None:
            _, dt = timed(call)
        else:
            def traced():
                with tracer.span(self.name, "pipeline"):
                    call()
            _, dt = timed(traced)
        table = checks.read_cell_table(out)
        errors = checks.check_index_output(table, corpus.point_docs, RES, PARENT_RES, CELL, PARENT)
        if frozen_key is not None:
            errors += checks.check_frozen(frozen_key, len(table),
                                          checks.digest(table, [CELL, "doc_id", PARENT]), ctx.expected)
        sink = dir_stats(out)
        shutil.rmtree(out, ignore_errors=True)
        return OpResult("index", dt, corpus.n_docs, len(table), errors, sink)

    def cycle_done(self) -> bool:
        return True

    def metrics(self, ops: list[OpResult]) -> dict[str, float]:
        secs = [o.seconds for o in ops]
        return {
            "docs_per_s": self.n_docs / statistics.median(secs),
            "cells_per_s": statistics.median(o.rows / o.seconds for o in ops),
            "bytes_per_cell": statistics.median(o.sink["bytes"] / o.rows for o in ops),
        }

    # traced breakdown -----------------------------------------------
    def begin_trace(self, ctx: Context) -> None:
        self.docs_cached = ctx.spark.read.parquet(self.src).cache()
        self.docs_cached.count()

    def traced_cycle(self, ctx: Context, tracer):
        """Each layer's public call, materialised on the previous layer's
        cached output, in its own span."""
        from pyspark.sql import functions as F

        from vector2dggs_spark import write_partitioned
        from vector2dggs_spark.operators.compaction import compact_cells_df
        from vector2dggs_spark.operators.polyfill import index_cells
        from vector2dggs_spark.operators.prepare import prepare
        from vector2dggs_spark.plans.pipeline import AUTO_SINGLE_FILE_ROW_CAP
        from vector2dggs_spark.sources.documents import extract_geometries

        spark, backend = ctx.spark, ctx.backend
        cached = []

        def keep(df):
            df = df.persist()
            cached.append(df)
            return df, df.count()

        with tracer.span("cycle"):
            with tracer.span("sources", "sources"):
                geoms, n_geoms = keep(extract_geometries(spark.read.parquet(self.src)))
            with tracer.span("prepare", "prepare"):
                thr = backend.default_cut_threshold_deg2(PARENT_RES)
                prepared, n_parts = keep(prepare(geoms, backend, thr))
            with tracer.span("polyfill", "polyfill"):
                cells, n_cells = keep(index_cells(prepared, backend, RES))
            with tracer.span("compaction", "compaction"):
                cin = cells.select(F.col("cell").alias(CELL), "doc_id").withColumn(
                    PARENT, backend.parent_expr(F.col(CELL), RES, PARENT_RES))
                _, n_compacted = keep(compact_cells_df(cin, backend, RES, PARENT_RES, CELL))
            with tracer.span("pipeline", "pipeline"):
                result = self._index(ctx, self.docs_cached)
                out_cells, _ = keep(result.cells)
            out = ctx.path("traced")
            with tracer.span("sink", "sink"):
                # the untraced operation's input is uncached, for which
                # write_partitioned resolves to this layout; pass it
                # explicitly so the cached input does not switch layouts
                write_partitioned(dataclasses.replace(result, cells=out_cells), out,
                                  single_file_per_partition=False,
                                  max_records_per_file=AUTO_SINGLE_FILE_ROW_CAP)
            kernels = dggs_span(ctx, tracer)
        kept = prepared.select(F.substring_index("part_uid", "#", 2)).distinct().count()
        for df in cached:
            df.unpersist()
        sink = dir_stats(out)
        shutil.rmtree(out, ignore_errors=True)
        return {
            **kernels,
            "prepare.rows_in": n_geoms,
            "prepare.drop_ratio": 1.0 - kept / max(n_geoms, 1),
            "prepare.parts_per_geom": n_parts / max(kept, 1),
            "polyfill.cells_out": n_cells,
            "polyfill.cells_per_part": n_cells / max(n_parts, 1),
            "compaction.rows_in": n_cells,
            "compaction.rows_out": n_compacted,
            "sink.files": sink["files"],
            "sink.bytes": sink["bytes"],
            "sink.partitions": sink["partitions"],
        }, {}, []


# ----------------------------------------------------------- query_mix
class QueryMix:
    """Closed loop, one client: requests of three kinds in a seeded
    rotation against a cell table written once during set-up."""

    # per rotation cycle; the order within a cycle is a seeded permutation
    CYCLE = ["join", "tiles", "knn"]
    MIN_OPS = 2 * len(CYCLE)  # two cycles, so p90 falls between the two knn
    SPANS = {"join": "cell_join", "knn": "knn", "tiles": "assign_tiles"}

    def __init__(self, n_docs: int):
        self.name = "query_mix"
        self.n_docs = n_docs

    def prepare_inputs(self, ctx: Context) -> None:
        self.corpus = gen.mixed_corpus(self.n_docs, ctx.seed)
        self.queries = gen.query_inputs(ctx.seed)
        self.src = os.path.join(ctx.work, "docs.parquet")
        gen.write_corpus(self.corpus, self.src)

    def warm_up(self, ctx: Context) -> list[OpResult]:
        """Write the cell table with the index pipeline (compaction off, so
        polygon cells stay at resolution 9 for the equi-join), cache the
        request inputs, and send one request of each kind."""
        from pyspark.sql import functions as F

        from vector2dggs_spark import index, write_partitioned

        spark = ctx.spark
        self.docs = spark.read.parquet(self.src).cache()  # filled by the table write
        self.table = os.path.join(ctx.work, "table")
        write_partitioned(index(spark, self.docs, dggs="h3", resolution=RES), self.table)
        poly_ids = spark.createDataFrame(pd.DataFrame({"doc_id": self.corpus.polygon_docs}))
        self.poly_cells = (spark.read.parquet(self.table).join(F.broadcast(poly_ids), "doc_id")
                           .select(CELL, "doc_id").cache())
        self.poly_cells.count()
        q = self.queries
        nj, bj, _ = q.join_batches.shape
        self.join_pts = spark.createDataFrame(pd.DataFrame({
            "batch": np.repeat(np.arange(nj), bj),
            "pid": [f"p{i}" for i in range(nj * bj)],
            "lat": q.join_batches[:, :, 0].ravel(), "lon": q.join_batches[:, :, 1].ravel(),
        })).cache()
        nk, bk, _ = q.knn_batches.shape
        self.knn_q = spark.createDataFrame(pd.DataFrame({
            "batch": np.repeat(np.arange(nk), bk),
            "query_id": [f"q{i}" for i in range(nk * bk)],
            "lat": q.knn_batches[:, :, 0].ravel(), "lon": q.knn_batches[:, :, 1].ravel(),
        })).cache()
        self.targets_pdf = pd.DataFrame({
            "target_id": [f"t{i}" for i in range(len(q.targets))],
            "lat": q.targets[:, 0], "lon": q.targets[:, 1],
        })
        self.targets = spark.createDataFrame(self.targets_pdf).cache()
        for df in (self.join_pts, self.knn_q, self.targets):
            df.count()
        self.rng = np.random.default_rng(ctx.seed)
        self.plan: list[str] = []
        self._check_data(ctx)
        # tiles requests go to the largest partition holding a tile centre,
        # so every seed's tiles request does about the same work
        rows = self.table_pdf[PARENT].value_counts()
        with_tiles = rows[rows.index.isin(set(self.tiles_pdf[PARENT]))]
        self.tiles_parent = (with_tiles if len(with_tiles) else rows).idxmax()
        del self.table_pdf
        return [self.op(ctx, None, kind) for kind in ("join", "knn", "tiles")]

    def _check_data(self, ctx: Context) -> None:
        """Driver-side copies the request checks compare against."""
        table = self.table_pdf = checks.read_cell_table(self.table)
        self.table_errors = checks.check_index_output(
            table, self.corpus.point_docs, RES, PARENT_RES, CELL, PARENT)
        if ctx.seed == DEFAULT_SEED:
            self.table_errors += checks.check_frozen(
                "query_mix.table", len(table), checks.digest(table, [CELL, "doc_id", PARENT]),
                ctx.expected)
        self.table_rows = len(table)
        self.table_bytes = dir_stats(self.table)["bytes"]
        self.poly_cells_pdf = table[table["doc_id"].isin(set(self.corpus.polygon_docs))][[CELL, "doc_id"]]
        # media tiles keyed by parent cell, from the generated corpus
        refs = sorted({s["media_ref"] for spans in self.corpus.table.column("spans").to_pylist()
                       for s in spans if s["kind"] == "media"})
        zxy = np.array([[int(v) for v in r[len("tile://"):].split("/")] for r in refs], dtype=float)
        n = 2.0 ** zxy[:, 0]
        lon = (zxy[:, 1] + 0.5) / n * 360.0 - 180.0
        lat = np.degrees(np.arctan(np.sinh(np.pi * (1.0 - 2.0 * (zxy[:, 2] + 0.5) / n))))
        self.tiles_pdf = pd.DataFrame({
            "media_ref": refs, PARENT: ctx.backend.point_to_cell(lat, lon, PARENT_RES)})

    def cycle_done(self) -> bool:
        return not self.plan

    def next_kind(self) -> str:
        if not self.plan:
            self.plan = list(self.rng.permutation(self.CYCLE))
        return self.plan.pop(0)

    def op(self, ctx: Context, i: int | None, kind: str | None = None, tracer=None) -> OpResult:
        res, check = self.request(ctx, kind or self.next_kind(), tracer)
        res.errors = check() + (self.table_errors if i == 0 else [])
        return res

    # requests -------------------------------------------------------
    def request(self, ctx: Context, kind: str, tracer=None):
        """Send one request; returns its result and a callable that checks
        it (kept out of the timed and traced region)."""
        run = {"join": self._join, "knn": self._knn, "tiles": self._tiles}[kind]
        if tracer is None:
            (got, n_in, check), dt = timed(lambda: run(ctx))
        else:
            def traced():
                with tracer.span(self.SPANS[kind], "joins") as sp:
                    self.last_span = sp
                    return run(ctx)
            (got, n_in, check), dt = timed(traced)
        return OpResult(kind, dt, n_in, len(got)), lambda: check(got)

    def _join(self, ctx: Context):
        from pyspark.sql import functions as F

        from vector2dggs_spark.operators.joins import cell_join
        from vector2dggs_spark.operators.udfs import point_to_cell_udf

        b = int(self.rng.integers(len(self.queries.join_batches)))
        enc = point_to_cell_udf(ctx.backend, RES)
        left = self.join_pts.where(F.col("batch") == b).select("pid", enc("lat", "lon").alias(CELL))
        got = cell_join(left, self.poly_cells, CELL).toPandas()

        def check(got):
            pts = self.queries.join_batches[b]
            width = self.queries.join_batches.shape[1]
            point_cells = pd.DataFrame({
                "pid": [f"p{b * width + i}" for i in range(width)],
                CELL: ctx.backend.point_to_cell(pts[:, 0], pts[:, 1], RES)})
            return checks.check_join(got, point_cells, self.poly_cells_pdf, CELL)

        return got, len(self.queries.join_batches[b]), check

    def _knn(self, ctx: Context):
        from pyspark.sql import functions as F

        from vector2dggs_spark.operators.joins import knn

        b = int(self.rng.integers(len(self.queries.knn_batches)))
        q = self.knn_q.where(F.col("batch") == b).select("query_id", "lat", "lon")
        got = knn(q, self.targets, ctx.backend, RES, KNN_K).toPandas()

        def check(got):
            width = self.queries.knn_batches.shape[1]
            pts = self.queries.knn_batches[b]
            queries = pd.DataFrame({"query_id": [f"q{b * width + i}" for i in range(width)],
                                    "lat": pts[:, 0], "lon": pts[:, 1]})
            return checks.check_knn(got, queries, self.targets_pdf, KNN_K)

        return got, len(self.queries.knn_batches[b]), check

    def _tiles(self, ctx: Context):
        from pyspark.sql import functions as F

        from vector2dggs_spark.operators.joins import assign_tiles

        parent = self.tiles_parent
        part = ctx.spark.read.parquet(self.table).where(F.col(PARENT) == parent)
        got = assign_tiles(part, self.docs, ctx.backend, PARENT_RES, PARENT).toPandas()

        def check(got):
            return checks.check_tiles(got, self.table, parent, self.tiles_pdf, CELL, PARENT)

        return got, 1, check

    def metrics(self, ops: list[OpResult]) -> dict[str, float]:
        secs = sum(o.seconds for o in ops)
        return {
            "docs_per_s": sum(o.inputs for o in ops) / secs,
            "cells_per_s": sum(o.rows for o in ops) / secs,
            "bytes_per_cell": self.table_bytes / self.table_rows,
        }

    # traced breakdown -----------------------------------------------
    def begin_trace(self, ctx: Context) -> None:
        pass

    def traced_cycle(self, ctx: Context, tracer):
        """One request of each kind, each in its own span of the ``joins``
        layer.  Returns counts, the request spans by name, and check errors."""
        out, pending, spans = {}, [], {}
        with tracer.span("cycle"):
            for kind in ("join", "knn", "tiles"):
                res, check = self.request(ctx, kind, tracer)
                sp, key = self.last_span, self.SPANS[kind]
                pending.append(check)
                out[f"{key}.rows_out"] = res.rows
                spans[key] = sp
            out.update(dggs_span(ctx, tracer))
        return out, spans, [e for check in pending for e in check()]


WORKLOADS = {
    "index_mixed": lambda: IndexMixed(1000),
    "query_mix": lambda: QueryMix(600),
}
