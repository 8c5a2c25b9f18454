"""Tile + halo stencil helper (SURVEY.md §4.2 item 2).

No Spark primitive expresses a 2-D neighborhood, so stencils run as:

1. every cell within ``halo`` of a tile border is *replicated* to the
   adjacent tile(s) (an explode: interior cells emit one row, border
   cells one row per tile that reads them);
2. ``groupBy(tile_i, tile_j).applyInPandas`` rehydrates each tile plus its
   halo into a dense numpy block and applies the kernel;
3. the kernel's output for the CORE cells only is re-emitted long-form.

The groupBy shuffles every cell row, not only the border copies: the plan
has one ``Exchange hashpartitioning(tile_i, tile_j)`` above the explode, so
a pass moves O(area) rows per tile. This is the engine's equivalent of the
reference's whole-grid Fortran stencils (slope/aspect
``terrain_tools.f90:14-54``, D8 ``:199-230``).
"""

from __future__ import annotations

from typing import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..grid import GridMeta


def with_halo_copies(cells: DataFrame, meta: GridMeta, halo: int = 1) -> DataFrame:
    """Replicate border cells into neighboring tiles.

    Adds (home_i, home_j) = owning tile and overwrites (tile_i, tile_j) with
    the destination tile; interior cells emit exactly one row.
    """
    t = meta.tile
    di = (F.col("i") % t)
    dj = (F.col("j") % t)
    # which neighbor tiles need this cell
    lo_i = di < halo
    hi_i = di >= t - halo
    lo_j = dj < halo
    hi_j = dj >= t - halo
    offs = []
    for oi in (-1, 0, 1):
        for oj in (-1, 0, 1):
            ci = F.lit(True) if oi == 0 else (lo_i if oi == -1 else hi_i)
            cj = F.lit(True) if oj == 0 else (lo_j if oj == -1 else hi_j)
            offs.append(
                F.when(ci & cj, F.struct(F.lit(oi).alias("oi"), F.lit(oj).alias("oj")))
            )
    dest = F.array_compact(F.array(*offs))
    out = (
        cells.withColumn("home_i", F.col("tile_i"))
        .withColumn("home_j", F.col("tile_j"))
        .withColumn("_o", F.explode(dest))
        .withColumn("tile_i", F.col("home_i") + F.col("_o.oi"))
        .withColumn("tile_j", F.col("home_j") + F.col("_o.oj"))
        .drop("_o")
    )
    # drop copies that fell off the grid
    nti = (meta.nx + t - 1) // t
    ntj = (meta.ny + t - 1) // t
    return out.filter(
        (F.col("tile_i") >= 0) & (F.col("tile_i") < nti)
        & (F.col("tile_j") >= 0) & (F.col("tile_j") < ntj)
    )


def apply_stencil(
    cells: DataFrame,
    meta: GridMeta,
    value_cols: list[str],
    kernel: Callable,
    out_cols: list[tuple[str, str]],
    halo: int = 1,
) -> DataFrame:
    """Run ``kernel`` per tile on dense (block, i0, j0, core_slice) inputs.

    kernel(blocks: dict[str, np.ndarray], i0, j0, meta, core)
    -> dict[str, np.ndarray], where each block covers [i0, i1) x [j0, j1)
    INCLUDING halo clipped to the grid and ``core`` = (a0, a1, b0, b1) is the
    tile's own window in block coordinates; outputs must be same-shape
    arrays, of which only the core window is emitted. ``out_cols`` is
    [(name, spark_type_ddl)].
    """
    t = meta.tile
    haloed = with_halo_copies(cells, meta, halo)
    schema = "tile_i int, tile_j int, i int, j int, " + ", ".join(
        f"{n} {ty}" for n, ty in out_cols
    )
    out_names = [n for n, _ in out_cols]

    def fn(key, pdf):
        ti, tj = key
        ci0, ci1 = ti * t, min((ti + 1) * t, meta.nx)
        cj0, cj1 = tj * t, min((tj + 1) * t, meta.ny)
        i0, i1 = max(ci0 - halo, 0), min(ci1 + halo, meta.nx)
        j0, j1 = max(cj0 - halo, 0), min(cj1 + halo, meta.ny)
        ii = pdf["i"].to_numpy(np.int64) - i0
        jj = pdf["j"].to_numpy(np.int64) - j0
        blocks = {}
        for c in value_cols:
            b = np.full((i1 - i0, j1 - j0), np.nan, dtype=np.float64)
            b[ii, jj] = pdf[c].to_numpy()
            blocks[c] = b
        res = kernel(blocks, i0, j0, meta,
                     (ci0 - i0, ci1 - i0, cj0 - j0, cj1 - j0))
        ci, cj = np.meshgrid(np.arange(ci0, ci1), np.arange(cj0, cj1), indexing="ij")
        out = {
            "tile_i": np.full(ci.size, ti, dtype=np.int32),
            "tile_j": np.full(ci.size, tj, dtype=np.int32),
            "i": ci.ravel().astype(np.int32),
            "j": cj.ravel().astype(np.int32),
        }
        for n in out_names:
            out[n] = res[n][ci0 - i0:ci1 - i0, cj0 - j0:cj1 - j0].ravel()
        return pd.DataFrame(out)

    return haloed.groupBy("tile_i", "tile_j").applyInPandas(fn, schema=schema)
