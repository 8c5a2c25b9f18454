"""``terrain``: the paper's computation. A DEM goes through
``run_terrain_pipeline`` (fill, fdir, acc, channels, basins, hand,
hillslopes, tiles, hrus and four property tables: 13 StageRunner commits
into a fresh root), then the run is reopened from that root.

Input: the hills + plane + noise DEM form of ``fixtures.make_dem`` with the
noise drawn from the seed, plus ``fixtures.make_covariates`` over it.
Ground truth: the seven terrain grids from ``oracle/terrain.py`` on the same
DEM.
"""

from __future__ import annotations

import numpy as np

from geospatialtools_spark import fixtures
from geospatialtools_spark.grid import UNDEF, cells_df, collect_dense
from geospatialtools_spark.oracle import terrain as T
from geospatialtools_spark.pipeline import PipelineConfig, run_terrain_pipeline

N = 32
TILE = 16
NAME = "terrain"
ITEM = "DEM cells"
SIZES = {"dem": f"{N}x{N}", "tile": TILE}
STAGE_LAYERS = {
    **{s: "terrain" for s in ("fill", "fdir", "acc", "channels", "basins",
                              "hand", "hillslopes")},
    **{s: "clustering" for s in ("tiles", "hrus")},
    **{s: "zones" for s in ("basin_props", "hillslope_props", "hru_props",
                            "channel_props")},
}
LAYERS = ["terrain", "clustering", "zones", "checkpointing"]
CONFIG = PipelineConfig()


def make_dem(seed: int):
    """``fixtures.make_dem``'s surface with seeded noise."""
    rng = np.random.RandomState(seed % (2 ** 32))
    meta = fixtures.dem_meta(N, N, TILE)
    ii, jj = np.meshgrid(np.arange(N), np.arange(N), indexing="ij")
    x, y = jj / (N - 1), ii / (N - 1)
    dem = (60.0 * np.exp(-(((x - 0.30) ** 2 + (y - 0.35) ** 2) / 0.035))
           + 45.0 * np.exp(-(((x - 0.68) ** 2 + (y - 0.72) ** 2) / 0.06))
           + 25.0 * (1.0 - x)
           + 8.0 * np.sin(6.0 * np.pi * y) * np.cos(4.0 * np.pi * x)
           + rng.normal(0.0, 0.35, size=(N, N))).astype(np.float32)
    mask = np.ones((N, N), dtype=np.int32)
    mask[:, N - max(2, N // 16):] = 0
    dem[mask == 0] = UNDEF
    return meta, dem, mask


def generate(spark, seed: int, work: str) -> dict:
    meta, dem, mask = make_dem(seed)
    cov = fixtures.make_covariates(meta, dem, mask)
    cells = cells_df(spark, meta, dem=dem.astype(np.float64),
                     mask=mask.astype(np.int64),
                     tas=cov["tas"].astype(np.float64),
                     prec=cov["prec"].astype(np.float64))
    return {"meta": meta, "dem": dem, "mask": mask, "cells": cells,
            "items": N * N}


def expected(inp: dict) -> dict:
    """The oracle chain, as the golden tests build it."""
    dem, mask, res = inp["dem"], inp["mask"], CONFIG.res
    th = CONFIG.channel_threshold_factor * res * res
    bth = CONFIG.basin_threshold_factor * res * res
    g = {"filled": T.planchon_fill(dem, res)}
    g["area"], g["fdir"] = T.d8_acc(g["filled"], mask, res)
    g["channels"], _, _ = T.calculate_channels_wocean_wprop(
        g["area"], th, bth, g["fdir"], mask)
    g["basins"] = T.delineate_basins(g["channels"], mask, g["fdir"])
    g["hand"] = T.calculate_depth2channel(g["channels"], mask.copy(),
                                          g["fdir"], g["filled"], leak=False)
    g["hillslopes"] = T.delineate_hillslopes(g["channels"], g["area"],
                                             g["fdir"], mask)
    return g


def run_rep(spark, inp: dict, tracer, rep_dir: str) -> dict:
    with tracer.wrap_checkpointing(STAGE_LAYERS):
        out = run_terrain_pipeline(spark, inp["cells"], inp["meta"], CONFIG,
                                   rep_dir)
    return {"out": out}


def resume(spark, inp: dict, rep_dir: str) -> dict:
    """Reopen the completed run from its checkpoint root."""
    return run_terrain_pipeline(spark, inp["cells"], inp["meta"], CONFIG,
                                rep_dir)


# (output table, column, oracle grid, fill, dtype)
_GRIDS = [("filled", "demns", "filled", UNDEF, np.float32),
          ("fdir", "fi", "fi", -9999, np.int32),
          ("fdir", "fj", "fj", -9999, np.int32),
          ("acc", "area", "area", UNDEF, np.float32),
          ("channels", "channels", "channels", -9999, np.int64),
          ("basins", "basins", "basins", -9999, np.int64),
          ("hand", "hand", "hand", UNDEF, np.float32),
          ("hillslopes", "hillslopes", "hillslopes", -9999, np.int64)]


def check(spark, inp: dict, want: dict, out: dict) -> list[str]:
    meta, res = inp["meta"], out["out"]
    want = {**want, "fi": want["fdir"][:, :, 0], "fj": want["fdir"][:, :, 1]}
    bad = [f"{table}.{col} differs from the oracle in "
           f"{int((got != want[key]).sum())} cells"
           for table, col, key, fill, dtype in _GRIDS
           if not np.array_equal(
               got := collect_dense(meta, res[table], col, fill=fill,
                                    dtype=dtype), want[key])]
    stages = res["_metrics"]
    if len(stages) != 13 or any(m.get("resumed") for m in stages):
        bad.append(f"cold run committed {len(stages)} stages, want 13 fresh")
    resumed = out.get("resumed")
    if resumed is not None and not all(
            m.get("resumed") for m in resumed["_metrics"]):
        bad.append("resume recomputed a committed stage")
    return bad


def quality(spark, inp: dict, want: dict, out: dict) -> dict:
    return {}
