"""The benchmark's workloads.

Each workload builds its inputs from the seed, runs one *pass* (a fixed
list of operations) per timing sample, and checks its outputs outside the
timers. Every call into a layer sits in a span named after that layer
(``operators.tiling.extent``, ``checkpoint.stage``, ...); with a disabled
tracer the spans cost nothing.

Sizes are dataclass fields so the smoke tests can run every workload at a
tiny size through the same code.

The hydrology fixpoint, the polygon Python lanes and the tile export run
as one workload, hydro_polygon_export: every benchmark run pays a JVM
start and a cold first pass, so each extra workload costs minutes of
set-up in a full measurement.
"""

from __future__ import annotations

import math
import os
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from perfbench.trace import Tracer


@dataclass
class Ctx:
    spark: object
    seed: int
    work: str  # scratch directory inside the checkout
    cores: int
    tracer: Tracer

    def span(self, name: str, **attrs):
        return self.tracer.span(name, **attrs)


def noop_write(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def synth_docs(spark, base: int, n: int, parts: int) -> DataFrame:
    """The interleaved docs table (doc_id, doc_num, spans) over the doc-id
    range [base, base + n); spans come from ``sources.docs.spans_col``."""
    from whitebox_tools_spark.sources.docs import spans_col

    i = F.col("id")
    return spark.range(base, base + n, numPartitions=parts).select(
        F.format_string("doc-%012d", i).alias("doc_id"),
        i.alias("doc_num"),
        spans_col(i).alias("spans"),
    )


def seeded_base(seed: int, n: int) -> int:
    """First doc id of the seed's range: seeds map to disjoint ranges."""
    return (seed % 100_000) * n


def canon(v):
    """The correctness gate's value canonicalisation
    (scripts/verify_contract.py ``canon``): ints and floats compare as
    floats, NaN and NULL get their own ranks."""
    if v is None:
        return (0, 0)
    if isinstance(v, float):
        return (1, 0) if math.isnan(v) else (2, float(v))
    if isinstance(v, (bool, int)):
        return (2, float(v))
    return (3, str(v))


def same_rows(scols, srows, dcols, drows) -> bool:
    """Gate comparison: same column names, same multiset of canonical rows
    (columns matched by name, rows order-insensitive)."""
    so = sorted(range(len(scols)), key=lambda i: scols[i])
    do = sorted(range(len(dcols)), key=lambda i: dcols[i])
    s = sorted(tuple(canon(r[i]) for i in so) for r in srows)
    d = sorted(tuple(canon(r[i]) for i in do) for r in drows)
    return sorted(scols) == sorted(dcols) and s == d


class Workload:
    name = ""
    ops: tuple[str, ...] = ()
    warmup_passes = 1  # untimed passes before the window (JIT warm-up)

    def prepare(self, ctx: Ctx) -> None:
        """Build inputs (and warm caches) for this session."""

    def run_op(self, ctx: Ctx, op: str) -> None:
        raise NotImplementedError

    def check(self, ctx: Ctx) -> dict[str, str | None]:
        """op -> None if its last output is correct, else what is wrong."""
        raise NotImplementedError

    def work(self, op_walls: dict[str, float]) -> dict[str, tuple[int, float]]:
        """Units of work of one pass ("docs", "cells") -> (count, seconds
        of the ops that did them), from the pass's per-op walls."""
        return {}

    def pass_counts(self) -> dict[str, int]:
        """Sizes of what the last pass wrote, measured after it."""
        return {}


# ----------------------------------------------------------- flagship_tag

# docs per run of the 1 -> cores scaling measurement (``run.scaling_eff``)
SCALING_DOCS = 1_000_000


@dataclass
class FlagshipTag(Workload):
    """synth docs -> derive.with_geometry -> tiling.lidar_tile (extent
    computed) -> pip.tag_polygon on the rect layer (expr path) ->
    per-(tile, poly) aggregate. No Python worker is involved."""

    n_docs: int = 4_000_000
    name = "flagship_tag"
    ops = ("flagship",)
    warmup_passes = 3  # short passes: the generated code keeps speeding up
    rows: list = field(default_factory=list)

    def frame(self, ctx: Ctx, n: int) -> DataFrame:
        from whitebox_tools_spark import derive
        from whitebox_tools_spark.operators import pip, tiling
        from whitebox_tools_spark.sources import vectors

        docs = synth_docs(ctx.spark, seeded_base(ctx.seed, self.n_docs), n, ctx.cores * 2)
        geo = derive.with_geometry(docs, "doc_num")
        with ctx.span("operators.tiling.extent"):
            extent = tiling.compute_extent(geo)
        tiled = tiling.lidar_tile(geo, min_points=2, extent=extent)
        tagged = pip.tag_polygon(tiled, vectors.rect_layer())
        return tagged.groupBy("tile", "poly_fid").agg(
            F.count(F.lit(1)).alias("n_docs"), F.sum("z").alias("sum_z")
        )

    def run_op(self, ctx: Ctx, op: str) -> None:
        df = self.frame(ctx, self.n_docs)
        with ctx.span("action"):
            self.rows = [tuple(r) for r in df.collect()]

    def oracle(self, ctx: Ctx) -> list[tuple]:
        """DuckDB transcription of the same pipeline, from
        ``derive.sql_geometry_select`` and ``vectors.rect_layer_fid_case``."""
        import duckdb

        from whitebox_tools_spark import derive
        from whitebox_tools_spark.sources import vectors

        base = seeded_base(ctx.seed, self.n_docs)
        sql = f"""
        WITH pts AS (SELECT {derive.sql_geometry_select('range')}
                     FROM range({base}, {base + self.n_docs})),
        grid AS (SELECT floor(min(x) / 250.0) AS sx, ceil(max(x) / 250.0) AS ex,
                        floor(min(y) / 250.0) AS sy FROM pts),
        tiles AS (SELECT x, y, z,
                         CAST(floor((y - 0.0) / 250.0 - sy) AS BIGINT)
                           * CAST(abs(ex - sx) AS BIGINT)
                         + CAST(floor((x - 0.0) / 250.0 - sx) AS BIGINT) AS tile
                  FROM pts CROSS JOIN grid),
        kept AS (SELECT * FROM tiles WHERE tile IN
                 (SELECT tile FROM tiles GROUP BY tile HAVING count(*) > 2))
        SELECT tile, {vectors.rect_layer_fid_case('x', 'y')} AS poly_fid,
               count(*) AS n_docs, sum(z) AS sum_z
        FROM kept GROUP BY ALL"""
        con = duckdb.connect()
        try:
            con.execute(f"SET threads = {ctx.cores}")
            return con.execute(sql).fetchall()
        finally:
            con.close()

    def check(self, ctx: Ctx) -> dict[str, str | None]:
        want = {(t, f): (n, s) for t, f, n, s in self.oracle(ctx)}
        got = {(t, f): (n, s) for t, f, n, s in self.rows}
        if want.keys() != got.keys():
            return {"flagship": f"groups differ: {len(got)} vs oracle {len(want)}"}
        for k, (n, s) in want.items():
            gn, gs = got[k]
            # sums of many doubles differ in the last bits with summation order
            if gn != n or not math.isclose(gs, s, rel_tol=1e-9):
                return {"flagship": f"group {k}: {(gn, gs)} vs oracle {(n, s)}"}
        return {"flagship": None}

    def work(self, op_walls):
        return {"docs": (self.n_docs, op_walls["flagship"])}


# ------------------------------------------------- hydro_polygon_export


def write_documents(path: str, doc_ids: np.ndarray) -> None:
    """A documents table with the fixture schema
    (doc_id, text, lang, source, n_chars); only doc_id feeds geometry."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    text = [f"synthetic document {i}" for i in doc_ids]
    pq.write_table(
        pa.table({
            "doc_id": pa.array(doc_ids, pa.int64()),
            "text": text,
            "lang": ["en"] * len(text),
            "source": ["perfbench"] * len(text),
            "n_chars": pa.array([len(t) for t in text], pa.int64()),
        }),
        path,
    )


def hydro_doc_ids(seed: int, n: int) -> np.ndarray:
    """Seed 0: doc ids 0..n-1, the id set of the sf0.1 fixture table at
    n=5000. Other seeds: n distinct ids drawn from [0, 2^31)."""
    if seed == 0:
        return np.arange(n, dtype=np.int64)
    rng = np.random.default_rng(abs(seed))
    return np.sort(rng.choice(2**31, size=n, replace=False)).astype(np.int64)


def star_layer(seed: int, n_polys: int, n_vertices: int):
    """Hole-free star polygons (clockwise shells) over [0, 1000)^2."""
    from whitebox_tools_spark.sources.vectors import PolygonFeature

    rng = np.random.default_rng(abs(seed))
    layer = []
    for fid in range(1, n_polys + 1):
        cx, cy = rng.uniform(80.0, 920.0, size=2)
        outer = rng.uniform(25.0, 75.0)
        phase = rng.uniform(0.0, 2 * np.pi)
        ang = phase - np.arange(n_vertices) * (2 * np.pi / n_vertices)  # clockwise
        rad = np.where(np.arange(n_vertices) % 2 == 0, outer, outer * 0.45)
        ring = np.column_stack([cx + rad * np.cos(ang), cy + rad * np.sin(ang)])
        ring = np.vstack([ring, ring[:1]])
        layer.append(PolygonFeature(fid=fid, rings=[ring], holes=[False], attrs={"zone": fid}))
    return layer

# the derived coordinate domain, known up front: lidar_tile skips the scan
KNOWN_EXTENT = (0.0, 1000.0, 0.0, 1000.0)


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )




@dataclass
class HydroPolygonExport(Workload):
    """One pass over three lanes that the Spark driver, the Python workers
    and the writes dominate:

    - ``watershed``, an iterative hydrology query over a 5,000-row
      documents table (a 20x20 DEM): driver loop glue and per-job overhead;
    - the Python-worker lanes against a 10^4-vertex star layer: paint,
      raster clip, and Arrow point-in-polygon over docs carrying spans;
    - tiling and PIP used for writes: a one-stage checkpoint.Pipeline, its
      resume, one LAS per tile and the LAS read-back.
    """

    hydro_docs: int = 5000
    grid: int = 250  # cells per side; 1000/grid must be exact in binary
    n_polys: int = 100
    n_vertices: int = 100
    pip_docs: int = 20_000
    export_docs: int = 40_000
    name = "hydro_polygon_export"
    ops = ("watershed", "paint", "clip", "pip", "stage", "resume", "las_write", "las_read")
    sf_dir: str = ""
    layer: list = field(default_factory=list)
    rows: tuple = ()  # watershed's (columns, rows)
    run_no: int = 0
    state: dict = field(default_factory=dict)  # the export pass's outputs

    def prepare(self, ctx: Ctx) -> None:
        from whitebox_tools_spark import catalog_cache

        self.sf_dir = os.path.join(ctx.work, f"hydro_seed{ctx.seed}")
        os.makedirs(self.sf_dir, exist_ok=True)
        write_documents(os.path.join(self.sf_dir, "documents.parquet"),
                        hydro_doc_ids(ctx.seed, self.hydro_docs))
        # the one shared key watershed reads
        with ctx.span("catalog_cache.build"):
            catalog_cache.z_last(ctx.spark, self.sf_dir)
        self.layer = star_layer(ctx.seed, self.n_polys, self.n_vertices)

    # ------------------------------------------------------------ frames

    def cfg(self):
        from whitebox_tools_spark.operators.gridding import GridConfig

        res = 1000.0 / self.grid
        return GridConfig(rows=self.grid, cols=self.grid, north=1000.0, west=0.0,
                          res_x=res, res_y=res)

    def docs(self, ctx: Ctx, n: int) -> DataFrame:
        return synth_docs(ctx.spark, seeded_base(ctx.seed, n), n, ctx.cores * 2)

    def painted(self, ctx):
        from whitebox_tools_spark.operators import raster

        return raster.polygons_to_raster(ctx.spark, self.layer, self.cfg())

    def clipped(self, ctx):
        from whitebox_tools_spark.operators import raster
        from whitebox_tools_spark.operators.gridding import cell_centers

        grid = cell_centers(ctx.spark, self.cfg()).select(
            "row", "col", F.col("cell").cast("double").alias("value")
        )
        return raster.clip_raster_to_polygon(grid, self.layer, self.cfg())

    def tagged(self, ctx):
        from whitebox_tools_spark import derive
        from whitebox_tools_spark.operators import pip

        docs = derive.with_geometry(self.docs(ctx, self.pip_docs), "doc_num")
        return pip.tag_polygon(docs, self.layer)

    def pipeline(self, ctx: Ctx, root: str):
        from whitebox_tools_spark import checkpoint, derive
        from whitebox_tools_spark.operators import pip, tiling
        from whitebox_tools_spark.sources import vectors

        def tag(spark, inputs):
            geo = derive.with_geometry(self.docs(ctx, self.export_docs), "doc_num")
            tiled = tiling.lidar_tile(geo, min_points=2, extent=KNOWN_EXTENT)
            return pip.tag_polygon(tiled, vectors.rect_layer())

        return checkpoint.Pipeline(root, [checkpoint.Stage("tag", tag, key_cols=["tile"])])

    # --------------------------------------------------------------- ops

    def run_op(self, ctx: Ctx, op: str) -> None:
        from whitebox_tools_spark import api
        from whitebox_tools_spark.io import las

        st = self.state
        source = f"docs-{seeded_base(ctx.seed, self.export_docs)}-{self.export_docs}"
        if op == "watershed":
            with ctx.span("operators.iter", query=op):
                df = api.QUERIES[op](ctx.spark, self.sf_dir)
                self.rows = (df.columns, [tuple(r) for r in df.collect()])
        elif op == "paint":
            with ctx.span("operators.raster.polygons_to_raster"):
                noop_write(self.painted(ctx))
        elif op == "clip":
            with ctx.span("operators.raster.clip_raster_to_polygon"):
                noop_write(self.clipped(ctx))
        elif op == "pip":
            with ctx.span("operators.pip.tag_polygon"):
                noop_write(self.tagged(ctx))
        elif op == "stage":
            # a fresh root per pass, so the stage always executes; the work
            # directory (all roots) is removed when the run ends
            self.run_no += 1
            st.clear()
            st["root"] = os.path.join(ctx.work, f"export_{self.run_no}")
            with ctx.span("checkpoint.stage"):
                st["out"], st["executed"] = self.pipeline(ctx, st["root"]).run(ctx.spark, source)
        elif op == "resume":
            with ctx.span("checkpoint.resume"):
                _, st["resumed"] = self.pipeline(ctx, st["root"]).run(ctx.spark, source)
        elif op == "las_write":
            st["las_dir"] = os.path.join(st["root"], "las")
            pts = st["out"].select("tile", "x", "y", "z", F.col("cls").alias("classification"))
            with ctx.span("io.las.write"):
                st["files"] = las.write_las_tiles(pts, st["las_dir"], "tile")
        else:
            with ctx.span("io.las.read"):
                st["read"] = {
                    r["path"]: r["count"]
                    for r in las.read_las(ctx.spark, st["las_dir"]).groupBy("path").count().collect()
                }

    # ------------------------------------------------------------ checks

    def check(self, ctx: Ctx) -> dict[str, str | None]:
        return {**self.check_watershed(), **self.check_polygons(ctx), **self.check_export(ctx)}

    def check_watershed(self) -> dict[str, str | None]:
        """Against ``api.ORACLE_SQL`` in DuckDB, with the gate's comparison."""
        import duckdb

        from whitebox_tools_spark import api

        con = duckdb.connect()
        try:
            con.execute(
                "CREATE VIEW documents AS SELECT * FROM read_parquet("
                f"'{os.path.join(self.sf_dir, 'documents.parquet')}')"
            )
            res = con.execute(api.ORACLE_SQL["watershed"])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
        finally:
            con.close()
        scols, srows = self.rows
        ok = same_rows(scols, srows, dcols, drows)
        return {"watershed": None if ok else f"mismatch {len(srows)} rows vs oracle {len(drows)}"}

    def check_polygons(self, ctx: Ctx) -> dict[str, str | None]:
        """Paint and clip against last-wins ``tag_polygon(strategy="cells")``
        on the cell centres (the equi-join path, no Python); Arrow PIP keeps
        every row and every span."""
        from whitebox_tools_spark.operators import pip
        from whitebox_tools_spark.operators.gridding import cell_centers
        from whitebox_tools_spark.sources.docs import check_span_equality

        ref = sorted(
            tuple(r)
            for r in pip.tag_polygon(
                cell_centers(ctx.spark, self.cfg()), self.layer, strategy="cells"
            )
            .where(F.col("poly_fid").isNotNull())
            .select("row", "col", F.col("poly_fid").cast("double"))
            .collect()
        )
        painted = sorted(tuple(r) for r in self.painted(ctx).collect())
        clipped = sorted(tuple(r) for r in self.clipped(ctx).select("row", "col").collect())
        out = {
            "paint": None if painted == ref and ref else f"{len(painted)} cells vs {len(ref)}",
            "clip": None if clipped == [r[:2] for r in ref] else f"{len(clipped)} cells kept",
        }
        tagged = self.tagged(ctx).localCheckpoint()
        n_out = tagged.count()
        bad = check_span_equality(self.docs(ctx, self.pip_docs), tagged)
        ok = bad == 0 and n_out == self.pip_docs
        out["pip"] = None if ok else f"{bad} span violations, {n_out} of {self.pip_docs} rows"
        return out

    def check_export(self, ctx: Ctx) -> dict[str, str | None]:
        """The stage ran and kept every span, the resume executed nothing,
        and LAS read-back rows per tile equal the stage's tile counts."""
        from whitebox_tools_spark.sources.docs import check_span_equality

        st = self.state
        out = {}
        bad = check_span_equality(self.docs(ctx, self.export_docs), st["out"])
        n_out = st["out"].count()
        ok = st["executed"] == ["tag"] and bad == 0 and n_out > 0
        out["stage"] = None if ok else f"executed {st['executed']}, {bad} span violations"
        out["resume"] = None if st["resumed"] == [] else f"resume executed {st['resumed']}"
        counts = {r["tile"]: r["count"] for r in st["out"].groupBy("tile").count().collect()}
        files = {os.path.basename(f): f for f in st["files"]}
        want = {f"tile_{t}.las": n for t, n in counts.items()}
        out["las_write"] = None if set(files) == set(want) else f"files {sorted(files)}"
        got = {os.path.basename(p): n for p, n in st["read"].items()}
        out["las_read"] = None if got == want else f"per-tile rows {got} vs stage {want}"
        return out

    # -------------------------------------------------------------- work

    def work(self, op_walls):
        return {
            "docs": (self.pip_docs + self.export_docs,
                     op_walls["pip"] + op_walls["stage"] + op_walls["las_write"]),
            "cells": (2 * self.grid * self.grid, op_walls["paint"] + op_walls["clip"]),
        }

    def pass_counts(self) -> dict[str, int]:
        st = self.state
        return {
            "checkpoint.output_bytes": dir_bytes(os.path.join(st["root"], "tag")),
            "io.las.bytes_written": sum(os.path.getsize(f) for f in st.get("files", [])),
        }


WORKLOADS = {
    "flagship_tag": FlagshipTag,
    "hydro_polygon_export": HydroPolygonExport,
}
