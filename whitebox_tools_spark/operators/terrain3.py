"""Terrain batch 4: DInf pointer (Tarboton), aspect/normal dispersion
windows, gap filling, directional ray ops, profiles, edge density.

Ray ops share the engine's azimuth sampling rule (res_x-spaced samples,
floor(x+0.5) cell snapping) introduced by horizon_angle; the window
dispersion ops run on Horn-derivative normals without the reference's
Gaussian pre-blur (documented deviation; the blur is available as
operators.filters2.gaussian_filter composition).
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from whitebox_tools_spark.operators.fixpoint import pointer_reach
from whitebox_tools_spark.operators.focal import focal_apply, horn_fxfy
from whitebox_tools_spark.operators.gridding import GridConfig

PI = math.pi


def dinf_pointer(raster: DataFrame, cfg: GridConfig, tile_size: int = 128) -> DataFrame:
    """DInfPointer (hydro_analysis/dinf_pointer.rs:214-316, Tarboton
    1997): steepest descent over 8 triangular facets; output flow angle
    in degrees (geographic), -1 for pits/flats. Ties between facets take
    the LAST facet (the reference's >= update)."""
    e1_col = [1, 0, 0, -1, -1, 0, 0, 1]
    e1_row = [0, -1, -1, 0, 0, 1, 1, 0]
    e2_col = [1, 1, -1, -1, -1, -1, 1, 1]
    e2_row = [-1, -1, -1, -1, 1, 1, 1, 1]
    ac_vals = [0.0, 1.0, 1.0, 2.0, 2.0, 3.0, 3.0, 4.0]
    af_vals = [1.0, -1.0, 1.0, -1.0, 1.0, -1.0, 1.0, -1.0]
    grid_res = (cfg.res_x + cfg.res_y) / 2.0
    diag = math.sqrt(cfg.res_x * cfg.res_x + cfg.res_y * cfg.res_y)
    atan1 = math.atan(1.0)

    def _shift(block, valid, dx, dy):
        size_r, size_c = block.shape
        sh = np.full_like(block, np.nan)
        vm = np.zeros_like(valid)
        src_r = slice(max(dy, 0), size_r + min(dy, 0))
        dst_r = slice(max(-dy, 0), size_r + min(-dy, 0))
        src_c = slice(max(dx, 0), size_c + min(dx, 0))
        dst_c = slice(max(-dx, 0), size_c + min(-dx, 0))
        sh[dst_r, dst_c] = block[src_r, src_c]
        vm[dst_r, dst_c] = valid[src_r, src_c]
        return sh, vm

    def stencil(block, valid, base_r, base_c, cfg_):
        e0 = block
        max_slope = np.full_like(block, -np.inf)
        dir_ = np.full_like(block, 360.0)
        with np.errstate(invalid="ignore", divide="ignore"):
            for i in range(8):
                e1, v1 = _shift(block, valid, e1_col[i], e1_row[i])
                e2, v2 = _shift(block, valid, e2_col[i], e2_row[i])
                ok = v1 & v2
                both = ok & (e0 > e1) & (e0 > e2)
                s1 = (e0 - e1) / grid_res
                s1 = np.where(s1 == 0.0, 0.00001, s1)
                s2 = (e1 - e2) / grid_res
                r = np.arctan(s2 / s1)
                s = np.sqrt(s1 * s1 + s2 * s2)
                s = np.where((s1 < 0.0) & (s2 < 0.0), -s, s)
                s = np.where((s1 < 0.0) & (s2 == 0.0), -s, s)
                s = np.where((s1 == 0.0) & (s2 < 0.0), -s, s)
                low = r < 0.0
                high = r > atan1
                s = np.where(low, s1, s)
                r = np.where(low, 0.0, r)
                s = np.where(high, (e0 - e2) / diag, s)
                r = np.where(high, atan1, r)
                upd = both & (s >= max_slope) & (s != 0.00001)
                max_slope = np.where(upd, s, max_slope)
                dir_ = np.where(upd, af_vals[i] * r + ac_vals[i] * (PI / 2.0), dir_)
                # single-descent fallback branch
                one = ok & ~both & ((e0 > e1) | (e0 > e2))
                r_f = np.where(e0 > e1, 0.0, atan1)
                s_f = np.where(e0 > e1, (e0 - e1) / grid_res, (e0 - e2) / diag)
                upd2 = one & (s_f >= max_slope) & (s_f != 0.00001)
                max_slope = np.where(upd2, s_f, max_slope)
                dir_ = np.where(upd2, af_vals[i] * r_f + ac_vals[i] * (PI / 2.0), dir_)
            out = 360.0 - np.degrees(dir_) + 90.0
            out = np.where(out > 360.0, out - 360.0, out)
        out = np.where(max_slope > 0.0, out, -1.0)
        return np.where(valid, out, np.nan)

    return focal_apply(raster, cfg, stencil, 1, tile_size)


def _aspect_rad(block, valid, cfg):
    """Aspect in degrees (aspect_stencil convention) -> radians; flat
    (fx == 0) excluded (NaN)."""
    fx, fy = horn_fxfy(block, valid, 1.0, cfg.res_x)
    with np.errstate(invalid="ignore", divide="ignore"):
        a = 180.0 - np.degrees(np.arctan(fy / fx)) + 90.0 * np.sign(fx)
    return np.where(valid & (fx != 0.0), np.radians(a), np.nan)


def circular_variance_of_aspect(
    raster: DataFrame, cfg: GridConfig, rx: int = 2, ry: int = 2, tile_size: int = 128
) -> DataFrame:
    """CircularVarianceOfAspect (circular_variance_of_aspect.rs, without
    the Gaussian pre-blur): 1 - mean resultant length of the window's
    aspect angles (flat cells excluded); 0 where no aspects exist."""

    def stencil(block, valid, base_r, base_c, cfg_):
        theta = _aspect_rad(block, valid, cfg_)
        c = np.where(np.isnan(theta), 0.0, np.cos(theta))
        s = np.where(np.isnan(theta), 0.0, np.sin(theta))
        m = (~np.isnan(theta)).astype(np.float64)
        sc = np.zeros_like(block)
        ss = np.zeros_like(block)
        n = np.zeros_like(block)
        size_r, size_c = block.shape
        for dy in range(-ry, ry + 1):
            for dx in range(-rx, rx + 1):
                sh_c = np.full_like(block, 0.0)
                sh_s = np.full_like(block, 0.0)
                sh_m = np.full_like(block, 0.0)
                src_r = slice(max(dy, 0), size_r + min(dy, 0))
                dst_r = slice(max(-dy, 0), size_r + min(-dy, 0))
                src_c = slice(max(dx, 0), size_c + min(dx, 0))
                dst_c = slice(max(-dx, 0), size_c + min(-dx, 0))
                sh_c[dst_r, dst_c] = c[src_r, src_c]
                sh_s[dst_r, dst_c] = s[src_r, src_c]
                sh_m[dst_r, dst_c] = m[src_r, src_c]
                sc += sh_c
                ss += sh_s
                n += sh_m
        with np.errstate(invalid="ignore", divide="ignore"):
            rbar = np.sqrt(sc * sc + ss * ss) / n
            out = np.where(n > 0, 1.0 - rbar, 0.0)
        return np.where(valid, out, np.nan)

    return focal_apply(raster, cfg, stencil, max(rx, ry) + 1, tile_size)


def spherical_stdev_of_normals(
    raster: DataFrame, cfg: GridConfig, rx: int = 2, ry: int = 2, tile_size: int = 128
) -> DataFrame:
    """SphericalStdDevOfNormals (spherical_std_dev_of_normals.rs, without
    pre-blur): s = degrees(sqrt(-2 ln(|sum n|/count))) over the window's
    unit surface normals n = (-fx, -fy, 1)/|.|."""

    def stencil(block, valid, base_r, base_c, cfg_):
        fx, fy = horn_fxfy(block, valid, 1.0, cfg_.res_x)
        with np.errstate(invalid="ignore", divide="ignore"):
            norm = np.sqrt(fx * fx + fy * fy + 1.0)
            nx = np.where(valid, -fx / norm, 0.0)
            ny = np.where(valid, -fy / norm, 0.0)
            nz = np.where(valid, 1.0 / norm, 0.0)
        m = valid.astype(np.float64)
        sx = np.zeros_like(block); sy = np.zeros_like(block)
        sz = np.zeros_like(block); n = np.zeros_like(block)
        size_r, size_c = block.shape
        for dy in range(-ry, ry + 1):
            for dx in range(-rx, rx + 1):
                for acc, src in ((sx, nx), (sy, ny), (sz, nz), (n, m)):
                    sh = np.zeros_like(block)
                    src_r = slice(max(dy, 0), size_r + min(dy, 0))
                    dst_r = slice(max(-dy, 0), size_r + min(-dy, 0))
                    src_c = slice(max(dx, 0), size_c + min(dx, 0))
                    dst_c = slice(max(-dx, 0), size_c + min(-dx, 0))
                    sh[dst_r, dst_c] = src[src_r, src_c]
                    acc += sh
        with np.errstate(invalid="ignore", divide="ignore"):
            rbar = np.sqrt(sx * sx + sy * sy + sz * sz) / n
            out = np.degrees(np.sqrt(-2.0 * np.log(rbar)))
        return np.where(valid & (n > 0), out, np.nan)

    return focal_apply(raster, cfg, stencil, max(rx, ry) + 1, tile_size)


def fill_missing_data(
    raster: DataFrame, cfg: GridConfig, r: int = 2, weight: float = 2.0
) -> DataFrame:
    """FillMissingData (terrain_analysis/fill_missing_data.rs): missing
    grid cells get the IDW (1/d^weight) of valid cells within the
    (2r+1)^2 window; valid cells pass through; unfillable holes stay
    missing."""
    spark = raster.sparkSession
    rows = spark.range(cfg.rows).select(F.col("id").alias("row"))
    cols = spark.range(cfg.cols).select(F.col("id").alias("col"))
    grid = rows.crossJoin(cols)
    missing = grid.join(raster.select("row", "col"), ["row", "col"], "left_anti")
    offs = F.array(
        *[
            F.struct(F.lit(dr).alias("dr"), F.lit(dc).alias("dc"))
            for dr in range(-r, r + 1)
            for dc in range(-r, r + 1)
            if not (dr == 0 and dc == 0)
        ]
    )
    ex = missing.select("row", "col", F.explode(offs).alias("o"))
    nb = ex.join(
        raster.select(
            F.col("row").alias("nr"), F.col("col").alias("nc"), F.col("value").alias("nv")
        ),
        (F.col("row") + F.col("o.dr") == F.col("nr"))
        & (F.col("col") + F.col("o.dc") == F.col("nc")),
    )
    d = F.sqrt(
        (F.col("o.dr") * cfg.res_y) * (F.col("o.dr") * cfg.res_y)
        + (F.col("o.dc") * cfg.res_x) * (F.col("o.dc") * cfg.res_x)
    )
    wgt = 1.0 / F.pow(d, F.lit(weight))
    filled = nb.groupBy("row", "col").agg(
        (F.sum(wgt * F.col("nv")) / F.sum(wgt)).alias("value")
    )
    return raster.unionByName(filled)


def _ray_samples(raster: DataFrame, cfg: GridConfig, azimuth: float, max_dist: float):
    spark = raster.sparkSession
    k_max = int(max_dist / cfg.res_x)
    az = math.radians(azimuth)
    ddr = -math.cos(az)
    ddc = math.sin(az)
    steps = spark.range(1, k_max + 1).select(F.col("id").alias("k"))
    c = raster.select(F.col("row").alias("r0"), F.col("col").alias("c0"), "value")
    smp = c.crossJoin(steps).select(
        "r0", "c0", "value", "k",
        F.floor(F.col("r0") + F.col("k").cast("double") * ddr + 0.5).alias("sr"),
        F.floor(F.col("c0") + F.col("k").cast("double") * ddc + 0.5).alias("sc"),
    )
    return c, smp.join(
        raster.select(
            F.col("row").alias("sr"), F.col("col").alias("sc"), F.col("value").alias("zs")
        ),
        ["sr", "sc"],
    )


def fetch_analysis(
    raster: DataFrame,
    cfg: GridConfig,
    azimuth: float = 315.0,
    height_increment: float = 0.05,
    max_dist: float = 1000.0,
) -> DataFrame:
    """FetchAnalysis (terrain_analysis/fetch_analysis.rs, engine
    sampling semantics): distance along the azimuth to the first sample
    with z > z0 + dist*height_increment; -1 when no sample blocks
    within max_dist (open fetch)."""
    c, j = _ray_samples(raster, cfg, azimuth, max_dist)
    dist = F.col("k").cast("double") * cfg.res_x
    blocked = j.where(F.col("zs") > F.col("value") + dist * height_increment)
    first = blocked.groupBy("r0", "c0").agg(F.min("k").alias("kmin"))
    return c.join(first, ["r0", "c0"], "left").select(
        F.col("r0").alias("row"),
        F.col("c0").alias("col"),
        F.coalesce(F.col("kmin").cast("double") * cfg.res_x, F.lit(-1.0)).alias("value"),
    )


def directional_relief(
    raster: DataFrame, cfg: GridConfig, azimuth: float = 315.0, max_dist: float = 1000.0
) -> DataFrame:
    """DirectionalRelief (terrain_analysis/directional_relief.rs, engine
    sampling semantics): mean of sampled elevations along the azimuth
    minus the cell's own elevation; cells with no samples are NoData."""
    c, j = _ray_samples(raster, cfg, azimuth, max_dist)
    per = j.groupBy("r0", "c0").agg(
        (F.sum("zs") / F.count(F.lit(1)) - F.any_value("value")).alias("value")
    )
    return per.select(F.col("r0").alias("row"), F.col("c0").alias("col"), "value")


def visibility_index(
    raster: DataFrame, cfg: GridConfig, viewpoints, station_height: float = 2.0
) -> DataFrame:
    """VisibilityIndex (terrain_analysis/visibility_index.rs, sampled
    engine form): fraction of the given viewpoint set that sees each
    cell (composition of the viewshed operator)."""
    from whitebox_tools_spark.operators.cluster import viewshed

    vs = viewshed(raster, cfg, viewpoints, station_height)
    n = float(len(viewpoints))
    return vs.groupBy("row", "col").agg((F.sum("value") / n).alias("value"))


def profile(segments: DataFrame, raster: DataFrame, cfg: GridConfig) -> DataFrame:
    """Profile (terrain_analysis/profile.rs): z sampled along each line
    segment every res_x/2 map units (engine sampling rule); output
    (seg_id, k, dist, z); samples over missing cells are dropped."""
    step = cfg.res_x / 2.0
    n_steps = F.greatest(
        F.ceil(
            F.sqrt(
                (F.col("x2") - F.col("x1")) * (F.col("x2") - F.col("x1"))
                + (F.col("y2") - F.col("y1")) * (F.col("y2") - F.col("y1"))
            ) / step
        ).cast("long"),
        F.lit(1),
    )
    seg = segments.withColumn("n", n_steps)
    ks = seg.select(
        "seg_id", "x1", "y1", "x2", "y2", "n",
        F.explode(F.sequence(F.lit(0), F.col("n"))).alias("k"),
    )
    t = F.col("k").cast("double") / F.col("n").cast("double")
    x = F.col("x1") + t * (F.col("x2") - F.col("x1"))
    y = F.col("y1") + t * (F.col("y2") - F.col("y1"))
    seglen = F.sqrt(
        (F.col("x2") - F.col("x1")) * (F.col("x2") - F.col("x1"))
        + (F.col("y2") - F.col("y1")) * (F.col("y2") - F.col("y1"))
    )
    pts = ks.select(
        "seg_id", "k",
        (t * seglen).alias("dist"),
        F.floor((F.lit(cfg.north) - y) / cfg.res_y).cast("long").alias("row"),
        F.floor((x - F.lit(cfg.west)) / cfg.res_x).cast("long").alias("col"),
    )
    return pts.join(raster.select("row", "col", F.col("value").alias("z")), ["row", "col"]).select(
        "seg_id", "k", "dist", "z"
    )


def edge_density(
    raster: DataFrame, cfg: GridConfig, rx: int = 2, ry: int = 2,
    threshold: float = 5.0, tile_size: int = 128,
) -> DataFrame:
    """EdgeDensity (terrain_analysis/edge_density.rs, engine form):
    proportion of window cells that are edge cells — a cell is an edge
    when some valid 8-neighbour differs in elevation by more than
    ``threshold``."""
    from whitebox_tools_spark.operators.terrain import _ring8

    def stencil(block, valid, base_r, base_c, cfg_):
        edge = np.zeros_like(valid)
        for sh, vm in _ring8(block, valid):
            with np.errstate(invalid="ignore"):
                edge |= vm & (np.abs(sh - block) > threshold)
        e = (valid & edge).astype(np.float64)
        m = valid.astype(np.float64)
        se = np.zeros_like(block)
        n = np.zeros_like(block)
        size_r, size_c = block.shape
        for dy in range(-ry, ry + 1):
            for dx in range(-rx, rx + 1):
                for acc, src in ((se, e), (n, m)):
                    sh = np.zeros_like(block)
                    src_r = slice(max(dy, 0), size_r + min(dy, 0))
                    dst_r = slice(max(-dy, 0), size_r + min(-dy, 0))
                    src_c = slice(max(dx, 0), size_c + min(dx, 0))
                    dst_c = slice(max(-dx, 0), size_c + min(-dx, 0))
                    sh[dst_r, dst_c] = src[src_r, src_c]
                    acc += sh
        with np.errstate(invalid="ignore", divide="ignore"):
            out = se / n
        return np.where(valid & (n > 0), out, np.nan)

    return focal_apply(raster, cfg, stencil, max(rx, ry) + 1, tile_size)


def long_profile_from_points(
    seeds: DataFrame, dirs: DataFrame, z: DataFrame, cfg: GridConfig,
    max_steps: int = 400,
) -> DataFrame:
    """LongProfileFromPoints (long_profile_from_points.rs): follow the D8
    flow path downslope from each seed cell, emitting every visited cell
    with its along-path distance and elevation. Pointer-doubling over the
    functional successor graph (log2(max_steps) rounds, distances summed
    through the jump table) — no O(path-length) driver loop."""
    from whitebox_tools_spark.operators.hydro import D8_DX, D8_DY

    diag = math.sqrt(cfg.res_x * cfg.res_x + cfg.res_y * cfg.res_y)
    lens = [diag, cfg.res_x, diag, cfg.res_y, diag, cfg.res_x, diag, cfg.res_y]
    dx = F.array(*[F.lit(v) for v in D8_DX])
    dy = F.array(*[F.lit(v) for v in D8_DY])
    ln = F.array(*[F.lit(v) for v in lens])
    cells = dirs.select(
        "row", "col", "dir", (F.col("row") * cfg.cols + F.col("col")).alias("id")
    ).localCheckpoint(eager=True)
    tgt = cells.where(F.col("dir") >= 0).select(
        "id",
        (
            (F.col("row") + F.element_at(dy, F.col("dir") + 1)) * cfg.cols
            + (F.col("col") + F.element_at(dx, F.col("dir") + 1))
        ).alias("nxt"),
        F.element_at(ln, F.col("dir") + 1).alias("len"),
    ).join(cells.select(F.col("id").alias("nxt")), "nxt", "left_semi")
    # terminal cells (pit or flow leaving the raster) self-loop with len 0
    succ = (
        cells.select("id")
        .join(tgt, "id", "left")
        .select(
            "id",
            F.coalesce("nxt", F.col("id")).alias("nxt"),
            F.coalesce("len", F.lit(0.0)).alias("dist"),
        )
        .localCheckpoint(eager=True)
    )
    sid = F.col("row") * cfg.cols + F.col("col")
    start = seeds.select(sid.alias("src"), sid.alias("cur"), F.lit(0.0).alias("dist"))
    reach = pointer_reach(
        "long_profile_from_points", start.distinct(), succ, max_steps, carry="dist"
    )
    zmap = z.select(sid.alias("cur"), F.col("value").alias("z"))
    return (
        reach.join(zmap, "cur")
        .select(
            F.col("src").alias("seed"),
            (F.col("cur") / cfg.cols).cast("long").alias("cell_row"),
            F.pmod("cur", F.lit(cfg.cols)).alias("cell_col"),
            "dist", "z",
        )
    )
