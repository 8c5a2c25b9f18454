"""Distributed terrain operators (SURVEY.md §2.9) over the cell table.

Execution strategies, per operator class:

- 3x3 stencils (slope/aspect, D8 flow direction, ocean-boundary detect):
  tile + halo ``applyInPandas`` over the numpy-oracle kernels — one narrow
  shuffle of border rows, exact per-cell results (operators/stencil.py).
  Kernels read a P8 neighbour through ``_shift_read``.
- Float fixpoints (Planchon fill, MFD accumulation, MFD HAND, pit
  removal): one loop, ``_fixpoint``. Each round is one stencil pass that
  re-runs only the tiles whose halo changed in the last round; each kernel
  takes its tile to the local fixpoint for that halo, and the loop stops
  when no tile's core changed bit for bit. Fill only lowers W, so it
  converges monotonically to the unique fixpoint; rounds ~ O(grid_dim /
  tile).
- Flow accumulation: two-level decomposition — exact in-tile topological
  sums, then the tile-exit forest (each exit drains into at most one other
  exit) is accumulated once in one task, then one final in-tile pass with
  the solved inflows. Both tile passes run one in-tile peel. Integers, so
  bit-exact vs the reference recursion; the job count does not grow with
  tile crossings.
- Downstream traversals (basins, HAND, seed groups): numpy pointer doubling
  per tile, then once over the cross-tile hop graph in one task
  (``graph.resolve_tiled``); a fixed number of Spark jobs.
- Global sequential labelings (channel segments, hillslopes): one driver,
  ``_seed_group_walk``. It splits the members into independent seed groups
  by pointer doubling (group = most-downstream member of each flow path),
  runs the operator's EXACT single-seed walk once per group in
  ``grouped_map`` (embarrassingly parallel — groups are drainage basins),
  then restores the reference's global id sequence: groups ordered by
  (seed area desc, column-major position), id offsets = running sum of
  per-group id consumption. This reproduces the Fortran's maxloc-seeded
  sequential ids bit-for-bit because ids within one walk are contiguous
  and seeds are consumed in exactly this order (proof sketch in
  channel_segments docstring).
- Polygonize: per-tile components of the equal-value 4-neighbour graph
  (``graph._components_kernel``), then ``graph.connected_components`` over
  the tile-border edges of those components.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..grid import UNDEF, GridMeta
from ..oracle import terrain as oracle
from . import graph, stencil
from .grouped import grouped_map
from .seq import exclusive_prefix_sum, seq_ids

IUNDEF = -9999
F32_UNDEF = float(np.float32(UNDEF))
# Round cap of the float fixpoint loop (fill, MFD, MFD HAND, pit removal):
# _fixpoint raises rather than return a surface that has not converged.
MAX_FIXPOINT_ROUNDS = 64


def _cid(i, j, meta: GridMeta):
    return (F.col(i).cast("long") * meta.ny + F.col(j)).alias("id")


def _shift_read(arr: np.ndarray, k: int, l: int, fill) -> np.ndarray:
    """arr value at (i+k, j+l), ``fill`` outside the block."""
    out = np.full_like(arr, fill)
    h, w = arr.shape
    a0, a1 = max(0, -k), h - max(0, k)
    b0, b1 = max(0, -l), w - max(0, l)
    out[a0:a1, b0:b1] = arr[a0 + k:a1 + k, b0 + l:b1 + l]
    return out


def _fixpoint(state: DataFrame, meta: GridMeta, kernel,
              cols: list[tuple[str, str]], halo: int, op: str) -> DataFrame:
    """Iterate ``kernel`` over the tiles of ``state`` to the global fixpoint:
    the one round loop of the float fixpoints (fill, MFD, MFD HAND, pit
    removal).

    ``kernel(blocks, i0, j0, meta, core)`` returns a block for every name of
    ``cols`` [(name, spark_type_ddl)] without writing into ``blocks``, and
    must leave its core at the local fixpoint for the halo it was given, or
    raise: a tile whose halo did not change is never re-run.

    Every cell carries ``_chg``, its tile's change flag of the last round.
    Each round is one stencil pass: round 1 runs every tile; a later round
    runs a tile only when some halo cell outside its core has ``_chg > 0``
    and passes any other tile through with ``_chg = 0``. A tile that runs
    sets ``_chg`` by comparing its output core with its input core bit for
    bit. The round's only collect is max(_chg): 0 means converged. Raises
    RuntimeError naming ``op`` after MAX_FIXPOINT_ROUNDS rounds.
    """
    names = [n for n, _ in cols]

    def step(first: bool):
        def run(blocks, i0, j0, m, core):
            a0, a1, b0, b1 = core
            woke = blocks["_chg"] > 0  # NaN (no cell) > 0 is False
            woke[a0:a1, b0:b1] = False
            if not first and not woke.any():
                return {**blocks, "_chg": np.zeros(woke.shape, np.int8)}
            res = kernel(blocks, i0, j0, m, core)
            same = all(np.array_equal(res[n][a0:a1, b0:b1],
                                      blocks[n][a0:a1, b0:b1], equal_nan=True)
                       for n in names)
            return {**res, "_chg": np.full(woke.shape, int(not same), np.int8)}
        return run

    state = state.withColumn("_chg", F.lit(1).cast("tinyint"))
    for r in range(MAX_FIXPOINT_ROUNDS):
        state = stencil.apply_stencil(
            state, meta, [*names, "_chg"], step(r == 0),
            [*cols, ("_chg", "tinyint")], halo=halo).localCheckpoint(eager=False)
        if not state.agg(F.max("_chg")).collect()[0][0]:
            return state.drop("_chg")
    raise RuntimeError(f"{op}: no fixpoint after {MAX_FIXPOINT_ROUNDS} rounds")


# ---------------------------------------------------------------------------
# Stencil operators
# ---------------------------------------------------------------------------

def slope_aspect(cells: DataFrame, meta: GridMeta, dem_col="dem", dx_col="dx", dy_col="dy") -> DataFrame:
    """W5: Horn slope/aspect (terrain_tools.f90:14-54) via tile+halo."""

    def kernel(blocks, i0, j0, m, core):
        s, a = oracle.slope_aspect(
            np.nan_to_num(blocks[dem_col], nan=UNDEF).astype(np.float32),
            np.nan_to_num(blocks[dx_col], nan=1.0).astype(np.float32),
            np.nan_to_num(blocks[dy_col], nan=1.0).astype(np.float32),
        )
        return {"slope": s.astype(np.float64), "aspect": a.astype(np.float64)}

    return stencil.apply_stencil(
        cells, meta, [dem_col, dx_col, dy_col], kernel,
        [("slope", "double"), ("aspect", "double")], halo=1,
    )


def d8_flow_direction(cells: DataFrame, meta: GridMeta, res: float,
                      dem_col="dem") -> DataFrame:
    """G3 step 1: D8 fdir (terrain_tools.f90:199-230) via tile+halo.

    Core-cell outputs are exact: every core cell's 8 neighbors are inside
    the halo block, so the block-border -9999 semantics fire only where the
    block is clipped at the TRUE grid border — the same cells where the
    reference fires them. Returns (tile_i, tile_j, i, j, fi, fj); fi/fj are
    global targets, possibly outside the grid, -9999 when undefined.
    """

    def kernel(blocks, i0, j0, m, core):
        dem = np.nan_to_num(blocks[dem_col], nan=UNDEF).astype(np.float32)
        fd = oracle.d8_fdir(dem, res)
        fi = np.where(fd[:, :, 0] == IUNDEF, IUNDEF, fd[:, :, 0] + i0).astype(np.int32)
        fj = np.where(fd[:, :, 1] == IUNDEF, IUNDEF, fd[:, :, 1] + j0).astype(np.int32)
        return {"fi": fi, "fj": fj}

    out = stencil.apply_stencil(cells, meta, [dem_col], kernel,
                                [("fi", "int"), ("fj", "int")], halo=1)
    return out


def planchon_fill(cells: DataFrame, meta: GridMeta, res: float,
                  dem_col="dem") -> DataFrame:
    """G1: Planchon & Darboux fill (planchon_2001.f90) — tile-iterative.

    The filled surface W is the unique fixpoint of
    ``W(c) = max(z(c), min_n(W(n) + eps))`` with W=z on border/undef-adjacent
    cells; each ``_fixpoint`` round relaxes every tile whose halo changed to
    its local fixpoint (float32, identical update arithmetic to the
    reference) with halo W fixed, then re-exchanges halos. W is monotone
    non-increasing from the wmax initialization, so the iteration converges
    to the same fixpoint the reference's 8-direction scans find.
    """
    eps = np.float32(np.float32(0.0001) * np.float32(res))
    wmax = np.float32(1000000.0)
    undef = np.float32(UNDEF)

    def init_kernel(blocks, i0, j0, m, core):
        z = np.nan_to_num(blocks[dem_col], nan=UNDEF).astype(np.float32)
        interior = np.ones(z.shape, dtype=bool)
        for (k, l) in oracle.P8:
            # block edges that are true grid borders have no neighbor there
            interior &= _shift_read(z, k, l, undef) != undef
        w = z.copy()
        w[(z != undef) & interior] = wmax
        # emit z alongside w: the relax loop then needs no re-join per round
        # (one applyInPandas shuffle per round is the whole round). float32
        # transfer: the kernel arithmetic IS float32, so exchanging doubles
        # would ship 2x the bytes for identical values
        return {"z": z, "w": w}

    state = stencil.apply_stencil(cells, meta, [dem_col], init_kernel,
                                  [("z", "float"), ("w", "float")], halo=1)

    inf32 = np.float32(np.inf)

    def _line_step(w, z, live, cur, prev_c):
        """One Gauss-Seidel step: relax line ``cur`` (a 1-D index into axis 0
        of the transposed views) against the three already-final neighbors in
        line ``prev_c`` (= fl32(w_prev + eps), undef -> inf). All arithmetic
        is the exact float32 ops of the Jacobi kernel, so monotone descent
        toward (never past) the same float32 fixpoint."""
        cand = prev_c.copy()
        cand[1:] = np.minimum(cand[1:], prev_c[:-1])
        cand[:-1] = np.minimum(cand[:-1], prev_c[1:])
        neww = np.minimum(w[cur], np.maximum(z[cur], cand))
        ch = live[cur] & (neww < w[cur])
        if ch.any():
            w[cur][ch] = neww[ch]
            return True
        return False

    def _sweep_pass(z, w, live):
        """Four directional Gauss-Seidel sweeps (down/up rows, right/left
        cols) — together they apply all 8 neighbor constraints, and descent
        along the scan direction propagates a whole line per step instead of
        one cell per Jacobi iteration (planchon_2001.f90 sweeps scan-order
        for the same reason). Returns True if anything changed."""
        changed = False
        for (zz, ww, ll) in ((z, w, live), (z.T, w.T, live.T)):
            n = zz.shape[0]
            for rng in (range(1, n), range(n - 2, -1, -1)):
                step = 1 if rng.step == 1 else -1
                for r in rng:
                    prev = ww[r - step]
                    prev_c = np.where(prev == undef, inf32, prev + eps)
                    changed |= _line_step(ww, zz, ll, r, prev_c)
        return changed

    def relax_kernel(blocks, i0, j0, m, core):
        z = np.nan_to_num(blocks["z"], nan=UNDEF).astype(np.float32)
        w = np.nan_to_num(blocks["w"], nan=UNDEF).astype(np.float32)
        live = z != undef
        # fast descent: directional sweeps until stable. Every update is
        # min(w, max(z, fl32(w_nb + eps))) for a true neighbor, so w stays
        # >= the float32 fixpoint throughout (monotone operator), and the
        # sweep-stable state satisfies all 8 constraints.
        for _ in range(10000):
            if not _sweep_pass(z, w, live):
                break
        # exact full-operator Jacobi = the fixpoint certificate (one
        # no-change iteration after the sweeps converge)
        for _ in range(10000):
            cand = np.full(z.shape, np.inf, dtype=np.float32)
            for (k, l) in oracle.P8:
                nb = _shift_read(w, k, l, undef)
                c = np.where(nb == undef, inf32, (nb + eps).astype(np.float32))
                cand = np.minimum(cand, c)
            upd = live & (w > z)
            neww = np.maximum(z, cand)
            changed = upd & (neww < w)
            if not changed.any():
                return {"z": z, "w": w}
            w[changed] = neww[changed]
        # _fixpoint never re-runs a tile whose halo did not change, so a
        # tile left short of its local fixpoint would stay wrong
        raise RuntimeError(f"planchon_fill: tile at ({i0}, {j0}) did not "
                           "settle in 10000 Jacobi passes")

    state = _fixpoint(state, meta, relax_kernel, [("z", "float"), ("w", "float")],
                      1, "planchon_fill")
    return state.select("tile_i", "tile_j", "i", "j", F.col("w").alias("demns"))


# ---------------------------------------------------------------------------
# Flow accumulation (two-level tile decomposition)
# ---------------------------------------------------------------------------

def _topo_acc(n: int, src: np.ndarray, dst: np.ndarray, base: np.ndarray) -> np.ndarray:
    """acc(v) = base(v) + sum over in-tile upstream acc — exact integers via
    vectorized topological peel (out-degree <= 1 forest)."""
    count = base.astype(np.int64).copy()
    if src.size == 0:
        return count
    indeg = np.bincount(dst, minlength=n)
    out_dst = np.full(n, -1, dtype=np.int64)
    out_dst[src] = dst
    has_out = np.zeros(n, dtype=bool)
    has_out[src] = True
    frontier = np.where((indeg == 0) & has_out)[0]
    while frontier.size:
        d = out_dst[frontier]
        np.add.at(count, d, count[frontier])
        np.subtract.at(indeg, d, 1)
        newly = np.unique(d[indeg[d] == 0])
        frontier = newly[has_out[newly]]
    return count


def _exit_acc(exits: pd.DataFrame, links: pd.DataFrame) -> pd.DataFrame:
    """Accumulated outflow x(u) of every tile exit u: its zero-inflow base
    plus the x of every exit linked into it, solved as one out-degree <= 1
    forest by ``_topo_acc``. ``exits``: (u, base); ``links``: (a, b), exit a
    drains into exit b. On one core a random 4M-exit forest solves in ~4 s
    and ~900 MB: 0.7 s in the peel, most of the rest in the one renumbering
    sort (``np.unique``)."""
    u = exits["u"].to_numpy(np.int64)
    a, b = links["a"].to_numpy(np.int64), links["b"].to_numpy(np.int64)
    nodes, inv = np.unique(np.concatenate([u, a, b]), return_inverse=True)
    base = np.zeros(nodes.size, np.int64)
    base[inv[:u.size]] = exits["base"].to_numpy(np.int64)
    x = _topo_acc(nodes.size, inv[u.size:u.size + a.size], inv[u.size + a.size:], base)
    return pd.DataFrame({"u": u, "x": x[inv[:u.size]]})


def flow_accumulation(fdir_df: DataFrame, meta: GridMeta, res: float,
                      mask_df: DataFrame | None = None,
                      base_col: str | None = None) -> DataFrame:
    """G3 step 2 / G4: upstream cell counts -> area (terrain_tools.f90:232-249).

    fdir_df: (tile_i, tile_j, i, j, fi, fj). Exact integer accumulation:
    in-tile sums are a local topological peel; cross-tile flow is solved
    once on the tile-exit forest (``_exit_acc``), then every tile reruns
    its peel with the solved inflows. Returns
    cells + acc (long) + area (double, float32-exact, -9999 where mask==0 or
    fdir undefined — mask applied when ``mask_df`` (i, j, mask) given).
    """
    t = meta.tile
    valid, dst = _fdir_state(fdir_df, meta)
    edges = fdir_df.select(
        _cid("i", "j", meta),
        F.col("tile_i"), F.col("tile_j"), dst.alias("dst"),
        (F.col("fi") / t).cast("int").alias("dst_ti"),
        (F.col("fj") / t).cast("int").alias("dst_tj"),
    ).filter(valid)
    cross = edges.filter(
        (F.col("dst_ti") != F.col("tile_i")) | (F.col("dst_tj") != F.col("tile_j"))
    ).select(F.col("id").alias("src"), "dst_ti", "dst_tj", "dst").localCheckpoint(eager=True)

    base_sel = ["tile_i", "tile_j", "i", "j", "fi", "fj"] + ([base_col] if base_col else [])
    base_cells = fdir_df.select(*base_sel).localCheckpoint(eager=True)
    ny = meta.ny
    nx = meta.nx

    def in_tile(key, cells_pdf, inflow_pdf=None):
        """One tile's in-tile peel: (gid, acc, src, dst, exit). acc(v) is
        base(v), plus the inflows (``inflow_pdf``: dst, val) that land on v,
        plus the acc of v's in-tile upstream cells; (src, dst) are the
        tile's in-tile edges as rows; ``exit`` marks the cells that drain
        into another tile."""
        ti, tj = key
        gid = cells_pdf["i"].to_numpy(np.int64) * ny + cells_pdf["j"].to_numpy(np.int64)
        n = len(gid)
        # G5 seeded variant (terrain_tools.f90:303-414): base = seed
        # indicator instead of 1 -> acc(v) counts the seeds whose flow
        # path passes v (each seed once: unique downstream paths)
        base = (cells_pdf[base_col].to_numpy(np.int64).copy()
                if base_col else np.ones(n, dtype=np.int64))
        if inflow_pdf is not None and len(inflow_pdf):
            loc = graph._local_index(gid, inflow_pdf["dst"].to_numpy(np.int64))
            hit = loc >= 0
            np.add.at(base, loc[hit], inflow_pdf["val"].to_numpy(np.int64)[hit])
        fi = cells_pdf["fi"].to_numpy(np.int64)
        fj = cells_pdf["fj"].to_numpy(np.int64)
        valid = (fi != IUNDEF) & (fi >= 0) & (fi < nx) & (fj >= 0) & (fj < ny)
        same = valid & (fi // t == ti) & (fj // t == tj)
        loc = graph._local_index(gid, fi * ny + fj)
        src = np.nonzero(same & (loc >= 0))[0]
        return gid, _topo_acc(n, src, loc[src], base), src, loc[src], valid & ~same

    # ---- tile condensation (two full passes + one O(perimeter) solve).
    # Integer acc is a LINEAR function of the boundary inflows with 0/1
    # coefficients: acc(v) = base_acc(v) + sum over inflow cells t whose
    # in-tile path passes v of inflow(t). Phase A computes, per tile, the
    # zero-inflow base acc at every cross-edge source u plus the transfer
    # pairs (t -> u) [t's path exits at u]; phase B composes each exit's
    # cross edge with its target's transfer pair into an exit -> exit
    # forest and accumulates it in one task (``_exit_acc``); phase C is one
    # exact final pass with the solved inflows — bit-identical to iterating
    # full passes, since integer addition is associative.
    def kern_a(key, cells_pdf, cross_pdf):
        gid, acc0, src_l, dst_l, is_exit = in_tile(key, cells_pdf)
        n = len(gid)
        rows = [pd.DataFrame({"kind": np.zeros(int(is_exit.sum()), np.int32),
                              "a": gid[is_exit],
                              "b": np.full(int(is_exit.sum()), -1, np.int64),
                              "val": acc0[is_exit]})]
        if len(cross_pdf):
            succ = np.arange(n)
            succ[src_l] = dst_l  # exits & dead ends self-loop
            for _ in range(int(np.ceil(np.log2(max(n, 2)))) + 1):
                succ = succ[succ]
            ts = np.unique(cross_pdf["dst"].to_numpy(np.int64))
            tl = graph._local_index(gid, ts)
            ok = tl >= 0  # every dst should be present; guard anyway
            term = succ[tl[ok]]
            hits = is_exit[term]
            nh = int(hits.sum())
            rows.append(pd.DataFrame({"kind": np.ones(nh, np.int32),
                                      "a": ts[ok][hits],
                                      "b": gid[term[hits]],
                                      "val": np.zeros(nh, np.int64)}))
        return pd.concat(rows, ignore_index=True)

    def kern_c(key, cells_pdf, inflow_pdf):
        _, acc, *_ = in_tile(key, cells_pdf, inflow_pdf)
        n = len(acc)
        return pd.DataFrame({
            "tile_i": np.full(n, key[0], np.int32), "tile_j": np.full(n, key[1], np.int32),
            "i": cells_pdf["i"].to_numpy(np.int32), "j": cells_pdf["j"].to_numpy(np.int32),
            "acc": acc,
        })

    condensed = (base_cells.groupBy("tile_i", "tile_j")
                 .cogroup(cross.groupBy("dst_ti", "dst_tj"))
                 .applyInPandas(kern_a, schema="kind int, a long, b long, val long")
                 ).localCheckpoint(eager=True)
    exits = condensed.filter(F.col("kind") == 0) \
        .select(F.col("a").alias("u"), F.col("val").alias("base"))
    pairs = condensed.filter(F.col("kind") == 1) \
        .select(F.col("a").alias("pt"), F.col("b").alias("pu"))
    # exit -> exit forest: u' crosses into t, t's in-tile path exits at u
    links = cross.join(pairs, cross.dst == pairs.pt) \
        .select(F.col("src").alias("a"), F.col("pu").alias("b"))
    x = (exits.withColumn("_xg", F.lit(0)).groupBy("_xg")
         .cogroup(links.withColumn("_xg", F.lit(0)).groupBy("_xg"))
         .applyInPandas(_exit_acc, schema="u long, x long"))

    inflows = (cross.join(x.select(F.col("u").alias("src"), "x"), "src")
               .groupBy("dst_ti", "dst_tj", "dst").agg(F.sum("x").alias("val")))
    acc = (base_cells.groupBy("tile_i", "tile_j")
           .cogroup(inflows.groupBy("dst_ti", "dst_tj"))
           .applyInPandas(kern_c, schema="tile_i int, tile_j int, i int, j int, acc long")
           ).localCheckpoint(eager=True)

    res2 = np.float32(res) ** 2
    out = acc.join(fdir_df.select("i", "j", "fi"), ["i", "j"])
    area = F.when(F.col("fi") == IUNDEF, F.lit(F32_UNDEF)).otherwise(
        # float32(res)**2 * float32(count): reproduce the reference's fp32 product
        (F.lit(float(res2)).cast("float") * F.col("acc").cast("float")).cast("double")
    )
    out = out.withColumn("area", area)
    if mask_df is not None:
        out = out.join(mask_df.select("i", "j", "mask"), ["i", "j"], "left").withColumn(
            "area", F.when(F.col("mask") == 0, F.lit(F32_UNDEF)).otherwise(F.col("area"))
        ).drop("mask")
    return out.drop("fi")


# ---------------------------------------------------------------------------
# Pointer-doubling traversals: basins + HAND
# ---------------------------------------------------------------------------

def _fdir_state(cells: DataFrame, meta: GridMeta):
    """(in-grid flag, target cell id) of each cell's fdir (fi, fj)."""
    in_grid = (F.col("fi") >= 0) & (F.col("fi") < meta.nx) \
        & (F.col("fj") >= 0) & (F.col("fj") < meta.ny) & (F.col("fi") != IUNDEF)
    nxt = (F.col("fi").cast("long") * meta.ny + F.col("fj"))
    return in_grid, nxt


def delineate_basins(cells: DataFrame, meta: GridMeta) -> DataFrame:
    """G9 (terrain_tools.f90:1243-1293) by pointer doubling.

    cells: (i, j, channels, mask, fi, fj). basins(v) = id of the first
    downstream channel cell; dead ends (invalid fdir / mask-0 cell on the
    way) label 0, exactly like determine_basin_id. Returns (i, j, basins).
    """
    in_grid, nxt = _fdir_state(cells, meta)
    nxt_ch = cells.select(_cid("i", "j", meta).alias("nid"),
                          F.col("channels").alias("n_ch"),
                          F.col("mask").alias("n_mask"))
    st = cells.select(
        _cid("i", "j", meta), "i", "j", "channels", "mask", "fi", "fj",
        in_grid.alias("ok"), nxt.alias("nxt"),
    )
    walkers = st.filter((F.col("channels") == 0) & (F.col("mask") >= 1))
    walkers = walkers.join(nxt_ch, walkers.nxt == F.col("nid"), "left") \
        .select("id", "i", "j", "ok", "nxt", "n_ch", "n_mask")
    # status per determine_basin_id order: fdir bounds -> own mask (>=1 here)
    # -> downstream label -> recurse. Mid-walk cells apply their own rules
    # when resolved as targets, so only the local step is encoded.
    state = walkers.select(
        "id", "i", "j",
        F.when(~F.col("ok"), F.lit(True))
         .when(F.col("n_ch") > 0, F.lit(True))
         .when(F.col("n_mask") == 0, F.lit(True))
         .otherwise(F.lit(False)).alias("done"),
        F.col("nxt").alias("ptr"),
        F.when(~F.col("ok"), F.lit(0).cast("long"))
         .when(F.col("n_ch") > 0, F.col("n_ch"))
         .when(F.col("n_mask") == 0, F.lit(0).cast("long"))
         .alias("label"),
    )
    # mid-walk targets: cells with mask==0 or channels<0 resolve to 0 when
    # entered (determine_basin_id:1283); add them as DONE states so pointers
    # into them terminate correctly.
    others = st.filter(~((F.col("channels") == 0) & (F.col("mask") >= 1))).select(
        "id", "i", "j", F.lit(True).alias("done"), F.col("nxt").alias("ptr"),
        F.when(F.col("channels") > 0, F.col("channels"))
         .otherwise(F.lit(0).cast("long")).alias("label"),
    )
    # NB: a pointer-doubled jump may land on a non-walker: channels>0 -> its
    # id is the answer; mask==0/channels<0 -> 0. Both encoded above. But the
    # REFERENCE checks the target's label BEFORE entering it, so for
    # channel targets label=channel id matches; for mask-0 targets entering
    # yields 0 — also matches.
    resolved = graph.resolve_tiled(
        state.unionByName(others).filter(F.col("id").isNotNull()), meta,
        label_type="long")
    out = cells.select("tile_i", "tile_j", "i", "j", "channels", "mask",
                       _cid("i", "j", meta))
    resolved = resolved.withColumnRenamed("id", "rid")
    out = out.join(resolved, out.id == F.col("rid"), "left")
    basins = (
        F.when((F.col("channels") == 0) & (F.col("mask") >= 1),
               F.coalesce(F.col("label"), F.lit(0)))
        .otherwise(F.col("channels"))
    )
    return out.select("tile_i", "tile_j", "i", "j", basins.cast("long").alias("basins"))


def depth2channel(cells: DataFrame, meta: GridMeta, dem_col="dem") -> DataFrame:
    """G11 HAND (terrain_tools.f90:1652-1725), PURE-chain semantics.

    cells: (i, j, channels, mask, fi, fj, dem). Chains resolving at a
    positive channel elevation reproduce the reference exactly; dead-end
    chains yield NULL -> -9999 (the reference leaks the previous chain's
    value through its shared ``cd`` variable, terrain_tools.f90:1679 — a
    scan-order dependence the engine deliberately does not reproduce; the
    oracle keeps it for documentation). Returns (i, j, hand).
    """
    in_grid, nxt = _fdir_state(cells, meta)
    cdep = F.when((F.col("mask") > 0) & (F.col("channels") > 0),
                  F.greatest(F.col(dem_col), F.lit(0.0))).otherwise(F.lit(None))
    st = cells.select(_cid("i", "j", meta), "i", "j", "mask", "channels",
                      F.col(dem_col).alias("dem"),
                      in_grid.alias("ok"), nxt.alias("nxt"), cdep.alias("cdep"))
    tgt = st.select(F.col("id").alias("t_id"), F.col("cdep").alias("n_cdep"),
                    F.col("mask").alias("n_mask"))
    # channel cells with clamped elevation exactly 0 do NOT stop the walk
    # (the `.gt. 0` at terrain_tools.f90:1717) — they resolve like walkers.
    is_walker = (F.col("cdep").isNull() | (F.col("cdep") == 0)) & (F.col("mask") >= 1)
    walkers = st.filter(is_walker)
    walkers = walkers.join(tgt, walkers.nxt == tgt.t_id, "left")
    state = walkers.select(
        "id", "i", "j",
        F.when(~F.col("ok"), F.lit(True))
         .when(F.col("n_cdep") > 0, F.lit(True))
         .when(F.col("n_mask") == 0, F.lit(True))
         .otherwise(F.lit(False)).alias("done"),
        F.col("nxt").alias("ptr"),
        F.when(F.col("ok") & (F.col("n_cdep") > 0), F.col("n_cdep")).alias("label"),
    )
    dones = st.filter(~is_walker).select(
        "id", "i", "j", F.lit(True).alias("done"), F.col("nxt").alias("ptr"),
        F.col("cdep").alias("label"),
    )
    resolved = graph.resolve_tiled(state.unionByName(dones), meta,
                                   label_type="double") \
        .withColumnRenamed("id", "rid")
    out = st.join(resolved, st.id == F.col("rid"), "left")
    cd_final = F.when(F.col("cdep") > 0, F.col("cdep")).otherwise(F.col("label"))
    hand = (F.col("dem").cast("float") - cd_final.cast("float")).cast("double")
    hand = F.when(cd_final.isNull(), F.lit(F32_UNDEF)) \
            .when(hand < 0, F.lit(F32_UNDEF)) \
            .when(F.col("mask") <= 0, F.lit(F32_UNDEF)) \
            .otherwise(hand)
    return out.select("i", "j", hand.alias("hand"))


# ---------------------------------------------------------------------------
# Channel segmentation + hillslopes (seed groups)
# ---------------------------------------------------------------------------

def _seed_groups(members: DataFrame, meta: GridMeta) -> DataFrame:
    """Pointer-double each member cell to the most-downstream member on its
    flow path (= the group's seed; strictly the largest area of the group,
    so sequential maxloc seeds exactly these cells, in (area desc,
    column-major) order). members: (i, j, area, fi, fj) pre-filtered.
    Returns (id, gid)."""
    in_grid, nxt = _fdir_state(members, meta)
    st = members.select(_cid("i", "j", meta), "i", "j",
                        in_grid.alias("ok"), nxt.alias("nxt"))
    member_ids = members.select(_cid("i", "j", meta)).withColumnRenamed("id", "m_id")
    st = st.join(member_ids, st.nxt == member_ids.m_id, "left")
    state = st.select(
        "id", "i", "j",
        (~F.col("ok") | F.col("m_id").isNull()).alias("done"),
        F.col("nxt").alias("ptr"),
        F.when(~F.col("ok") | F.col("m_id").isNull(), F.col("id")).alias("label"),
    )
    return graph.resolve_tiled(state, meta, label_type="long") \
        .withColumnRenamed("label", "gid")


def _seed_group_walk(members: DataFrame, meta: GridMeta, cols: list[str],
                     walk) -> DataFrame:
    """Run the exact sequential ``walk`` once per seed group of ``members``
    (i, j, area, fi, fj, *cols) and place its ids in the reference's global
    id sequence.

    Each group is one ``grouped_map`` call on a dense block of its cells
    (+1 halo so out-of-group probes stay cheap). ``walk(pdf, block, fdir,
    seed)`` gets the group's rows, ``block(values, dtype)`` (a zero block
    with ``values`` at the group's cells), the fdir block and the seed,
    both in block coordinates. It returns (labels, topo, n_ids) like
    ``oracle.channels_walk_single_seed``: local ids 1..n_ids, topo (local
    cid -> local downstream, -1 at the outlet) or None.

    Returns (gid, kind, i, j, v, off) rows: kind 0 a positive label v at
    (i, j), kind 1 the group's n_ids v, kind 2 a topology link i -> v.
    ``off`` counts the ids of every group whose seed comes first in (area
    desc, column-major) order, the order the reference's maxloc consumes
    seeds.
    """
    groups = _seed_groups(members.select("i", "j", "fi", "fj"), meta)

    def kern(pdf):
        gid = int(pdf["gid"].iloc[0])
        ii = pdf["i"].to_numpy(np.int64)
        jj = pdf["j"].to_numpy(np.int64)
        i0, j0 = ii.min() - 1, jj.min() - 1
        shape = (ii.max() - i0 + 2, jj.max() - j0 + 2)
        li, lj = ii - i0, jj - j0

        def block(values, dtype):
            b = np.zeros(shape, dtype=dtype)
            b[li, lj] = values
            return b

        fdir = np.full((*shape, 2), IUNDEF, dtype=np.int64)
        fdir[li, lj, 0] = pdf["fi"].to_numpy(np.int64) - i0
        fdir[li, lj, 1] = pdf["fj"].to_numpy(np.int64) - j0
        seed = (gid // meta.ny - i0, gid % meta.ny - j0)
        labels, topo, n_ids = walk(pdf, block, fdir, seed)
        got = labels[li, lj]
        sel = got > 0
        parts = [pd.DataFrame({"kind": 0, "i": ii[sel], "j": jj[sel], "v": got[sel]}),
                 pd.DataFrame({"kind": [1], "i": [-1], "j": [-1], "v": [n_ids]})]
        if topo:
            parts.append(pd.DataFrame({"kind": 2, "i": list(topo.keys()), "j": -1,
                                       "v": list(topo.values())}))
        return pd.concat(parts, ignore_index=True).assign(gid=gid)

    walked = grouped_map(
        members.select(_cid("i", "j", meta), "i", "j", "fi", "fj", *cols)
        .join(groups, "id").drop("id"),
        ["gid"], kern, schema="kind int, i int, j int, v long, gid long",
    ).localCheckpoint(eager=True)
    # the seed table comes from the walk's own id counts: reading the
    # member -> group join again would re-run the hop solve behind it
    seeds = members.select(_cid("i", "j", meta).alias("gid"),
                           (-F.col("area")).alias("_na"), "j", "i").join(
        walked.filter(F.col("kind") == 1).select("gid", F.col("v").alias("n_ids")), "gid")
    offsets = exclusive_prefix_sum(seeds, ["_na", "j", "i"], "n_ids", "off")
    return walked.join(offsets.select("gid", "off"), "gid")


def channel_segments(cells: DataFrame, meta: GridMeta, threshold: float,
                     basin_threshold: float) -> tuple[DataFrame, DataFrame]:
    """G6-G8 (terrain_tools.f90:878-992 wocean_wprop semantics).

    cells: (tile_i, tile_j, i, j, area, mask, fi, fj). Returns
    (channels_df(i, j, channels, channels_wob), topology_df(cid, downstream)).

    Sequential-parity argument: the reference seeds at the remaining global
    max-area channel cell and each walk consumes exactly one contiguous-mask
    upstream component whose most-downstream cell IS that max (area strictly
    increases downstream). Components are therefore processed in (seed area
    desc, column-major) order and each walk's ids are the contiguous block
    hcid+1..hcid+n. Running the identical walk kernel per component and
    offsetting by the running sum of n reproduces the global ids.
    """
    thr = float(np.float32(threshold))
    bt = float(np.float32(basin_threshold))
    chan = cells.filter(F.col("area") > thr)

    def walk(pdf, block, fdir, seed):
        return oracle.channels_walk_single_seed(
            block(pdf["area"].to_numpy(), np.float32), fdir, block(1, np.int32),
            seed, bt, init_label=0, wprop=True)

    walked = _seed_group_walk(chan, meta, ["area"], walk)
    labels = walked.filter(F.col("kind") == 0).select(
        "i", "j", (F.col("v") + F.col("off")).alias("ch_walk"))
    topology = walked.filter(F.col("kind") == 2).select(
        (F.col("i") + F.col("off")).alias("cid"),
        F.when(F.col("v") == -1, F.lit(-1)).otherwise(F.col("v") + F.col("off")).alias("downstream"))

    # ocean/land boundary pseudo-channels: cid = 999999 + (# mask-0 cells
    # before this one in row-major scan), labeled iff any 3x3 neighbor is land
    def nbr_kernel(blocks, i0, j0, m, core):
        msk = np.nan_to_num(blocks["mask"], nan=0.0)
        mx = msk.copy()
        for (k, l) in oracle.P8:
            mx = np.maximum(mx, _shift_read(msk, k, l, -np.inf))
        return {"nbr_land": mx}

    nbr = stencil.apply_stencil(cells.select("tile_i", "tile_j", "i", "j", "mask"),
                                meta, ["mask"], nbr_kernel, [("nbr_land", "double")], halo=1)
    ocean = cells.filter(F.col("mask") == 0).select("i", "j")
    row_counts = ocean.groupBy("i").agg(F.count("*").alias("c"))
    row_off = exclusive_prefix_sum(row_counts, ["i"], "c", "roff").select("i", "roff")
    wj = Window.partitionBy("i").orderBy("j")
    ocean_rank = ocean.join(row_off, "i").select(
        "i", "j", (F.lit(999999) + F.col("roff") + F.row_number().over(wj) - 1).alias("ocid"))
    ocean_lab = ocean_rank.join(nbr.select("i", "j", "nbr_land"), ["i", "j"]) \
                          .filter(F.col("nbr_land") > 0).select("i", "j", "ocid")

    base = cells.select("tile_i", "tile_j", "i", "j", "mask")
    out = base.join(labels, ["i", "j"], "left").join(ocean_lab, ["i", "j"], "left")
    ch_wob = F.coalesce(F.col("ch_walk"), F.lit(0)).cast("long")
    ch_full = F.coalesce(F.col("ocid"), ch_wob).cast("long")
    out = out.select(
        "tile_i", "tile_j", "i", "j",
        F.when((F.col("mask") == 0) & (ch_full == 0), F.lit(IUNDEF)).otherwise(ch_full).alias("channels"),
        F.when((F.col("mask") == 0) & (ch_wob == 0), F.lit(IUNDEF)).otherwise(ch_wob).alias("channels_wob"),
    )
    return out, topology


def _hillslopes_walk_fast(ch: np.ndarray, fdir: np.ndarray, m: np.ndarray,
                          seed: tuple[int, int]):
    """Exact-equal fast twin of ``oracle.hillslopes_walk_single_seed``
    (terrain_tools.f90:1337-1575).

    The channel-tree walk (move_upstream / catchment_seed, O(#channel
    cells)) keeps the oracle's control flow verbatim — including the
    standard-vs-clockwise position quirk — but each ``define_id`` flood
    fill becomes a recorded (root, id, seq) EVENT instead of a per-cell
    recursion. A cell's final label is the id of the LATEST event whose
    root lies on the cell's downstream flow path with no masked cell in
    between — exactly the recursion's overwrite semantics — computed by
    numpy pointer doubling with max-seq aggregation: O(cells log cells)
    vectorized instead of O(cells) Python recursion. Bit-equality is gated
    by test_hillslopes / test_channels_and_topology goldens.
    """
    import sys
    from ..oracle.terrain import P8, P8_CLOCK
    sys.setrecursionlimit(max(sys.getrecursionlimit(), 10 ** 6))
    nx, ny = ch.shape
    state = {"hid": 0, "seq": 0}
    ev_flat: list[int] = []
    ev_id: list[int] = []

    def flows_into(inew, jnew, i, j):
        if not (0 <= inew < nx and 0 <= jnew < ny):
            return False
        return fdir[inew, jnew, 0] == i and fdir[inew, jnew, 1] == j

    def define_id(i, j):
        if m[i, j] == 0:
            return
        ev_flat.append(i * ny + j)
        ev_id.append(state["hid"] + 1)

    def move_upstream(i, j, iold, jold):
        ipos_old = -1
        for pos, (k, l) in enumerate(P8_CLOCK):
            if i + k == iold and j + l == jold:
                ipos_old = pos
        channel_count = 0
        for (k, l) in P8_CLOCK:
            inew, jnew = i + k, j + l
            if flows_into(inew, jnew, i, j) and ch[inew, jnew] > 0:
                channel_count += 1
        start = ipos_old if ipos_old >= 0 else 0
        sweep = list(range(start, 8)) + list(range(0, max(ipos_old, 0)))
        for pos in sweep:
            k, l = P8_CLOCK[pos]
            inew, jnew = i + k, j + l
            if not flows_into(inew, jnew, i, j):
                continue
            if ch[inew, jnew] > 0:
                if channel_count > 1:
                    state["hid"] += 1
                move_upstream(inew, jnew, i, j)
                if channel_count > 1:
                    state["hid"] += 1
            else:
                define_id(inew, jnew)
        if channel_count == 0:
            state["hid"] += 1
            for (k, l) in P8_CLOCK:
                inew, jnew = i + k, j + l
                if flows_into(inew, jnew, i, j):
                    define_id(inew, jnew)
            state["hid"] += 1

    def catchment_seed(i, j):
        iold, jold = int(fdir[i, j, 0]), int(fdir[i, j, 1])
        ipos_old = -1
        for pos, (k, l) in enumerate(P8):
            if i + k == iold and j + l == jold:
                ipos_old = pos
        start = ipos_old if ipos_old >= 0 else 0
        sweep = list(range(start, 8)) + list(range(0, max(ipos_old, 0)))
        for pos in sweep:
            k, l = P8_CLOCK[pos]
            inew, jnew = i + k, j + l
            if not flows_into(inew, jnew, i, j):
                continue
            if ch[inew, jnew] > 0:
                move_upstream(inew, jnew, i, j)
            else:
                define_id(inew, jnew)

    catchment_seed(*seed)

    n = nx * ny
    seq_a = np.zeros(n, dtype=np.int64)
    id_a = np.zeros(n, dtype=np.int64)
    if ev_flat:
        # per-cell latest own event (events are in increasing seq order)
        seq_vals = np.arange(1, len(ev_flat) + 1, dtype=np.int64)
        flat = np.asarray(ev_flat, dtype=np.int64)
        ids = np.asarray(ev_id, dtype=np.int64)
        seq_a[flat] = seq_vals          # later writes win: latest event stays
        id_a[flat] = ids
        # successor: downstream fdir target; terminal (self) when off-grid,
        # from/to a masked cell, or target has undefined fdir entry
        fi = fdir[:, :, 0].reshape(n)
        fj = fdir[:, :, 1].reshape(n)
        mm = (np.asarray(m).reshape(n) != 0)
        valid = (fi >= 0) & (fi < nx) & (fj >= 0) & (fj < ny) & mm
        tgt = np.where(valid, fi * ny + fj, np.arange(n))
        tgt_ok = mm[np.clip(tgt, 0, n - 1)] & valid
        f = np.where(tgt_ok, tgt, np.arange(n))
        for _ in range(int(np.ceil(np.log2(max(n, 2)))) + 1):
            nb_seq = seq_a[f]
            take = nb_seq > seq_a
            seq_a[take] = nb_seq[take]
            id_a[take] = id_a[f][take]
            f = f[f]
        id_a[~mm] = 0  # masked cells are never labeled
    labels = id_a.reshape(nx, ny)
    return labels, None, state["hid"]


def delineate_hillslopes(cells: DataFrame, meta: GridMeta) -> DataFrame:
    """G10 (terrain_tools.f90:1295-1575): per-seed-group exact walks.

    cells: (tile_i, tile_j, i, j, channels, area, mask, fi, fj) where area
    is -9999 outside the mask / where fdir is undefined (as d8_acc leaves
    it). Groups = pointer-doubled "most downstream valid-area cell"; group
    walks run the identical single-seed oracle kernel; offsets restore the
    sequential id stream; cleanup densifies ids to 0..K-1.
    """
    def walk(pdf, block, fdir, seed):
        return _hillslopes_walk_fast(block(pdf["channels"].to_numpy(), np.int64), fdir,
                                     block(pdf["mask"].to_numpy(), np.int64), seed)

    walked = _seed_group_walk(cells.filter(F.col("area") != F32_UNDEF), meta,
                              ["channels", "mask"], walk)
    labels = walked.filter(F.col("kind") == 0).select(
        "i", "j", (F.col("v") + F.col("off")).alias("hlab"))

    base = cells.select("tile_i", "tile_j", "i", "j", "channels", "mask")
    out = base.join(labels, ["i", "j"], "left").select(
        "tile_i", "tile_j", "i", "j",
        F.when((F.col("mask") <= 0) | (F.col("channels") > 0), F.lit(IUNDEF))
         .otherwise(F.coalesce(F.col("hlab"), F.lit(0))).alias("raw"))
    # cleanup_hillslopes (terrain_tools.f90:1604-1650): ascending dense ids 0..K-1
    ids = out.filter(F.col("raw") > 0).select("raw").distinct()
    remap = seq_ids(ids, ["raw"], "new", start=0)
    out = out.join(remap, "raw", "left").select(
        "tile_i", "tile_j", "i", "j",
        F.when(F.col("raw") > 0, F.col("new")).otherwise(F.col("raw")).alias("hillslopes"))
    return out


# ---------------------------------------------------------------------------
# Polygonize (G13) + gap fill (J5)
# ---------------------------------------------------------------------------

def polygonize(cells: DataFrame, meta: GridMeta, value_col: str = "value") -> DataFrame:
    """G13 (terrain_tools.f90:1750-1789): 4-connected same-value regions ->
    sequential ids in i-outer scan order.

    Per-tile connected components of the 4-neighbour equal-value edges
    (``graph._components_kernel``; local root = min global scan id), then
    ``graph.connected_components`` over the tile-border equality edges of
    the CONTRACTED component graph (one node per border component, not per
    cell; one task), then ids = rank of each component's min scan id (==
    the reference's discovery order).

    A NULL or NaN cell equals no cell, so it is its own component: it
    takes an id, as the reference spends one on it (NaN != UNDEF), but
    emits no row.
    """
    t = meta.tile
    val = F.nanvl(F.col(value_col).cast("double"), F.lit(None).cast("double"))
    live = cells.select("tile_i", "tile_j", "i", "j", val.alias("val")) \
                .filter(F.col("val").isNull() | (F.col("val") != F32_UNDEF))

    def cc_kernel(pdf):
        ii = pdf["i"].to_numpy(np.int64)
        jj = pdf["j"].to_numpy(np.int64)
        vv = pdf["val"].to_numpy()
        gid = ii * meta.ny + jj
        pos = np.full((ii.max() - ii.min() + 1, jj.max() - jj.min() + 1), -1)
        pos[ii - ii.min(), jj - jj.min()] = np.arange(len(ii))
        # 4-neighbour equal-value edges, plus a self-loop per cell so that
        # a cell with no equal neighbour is its own component
        u, v = [gid], [gid]
        for a, b in ((pos[:-1], pos[1:]), (pos[:, :-1], pos[:, 1:])):
            a, b = a.ravel(), b.ravel()
            ok = (a >= 0) & (b >= 0)
            a, b = a[ok], b[ok]
            eq = vv[a] == vv[b]
            u.append(gid[a[eq]])
            v.append(gid[b[eq]])
        cc = graph._components_kernel(pd.DataFrame({"u": np.concatenate(u),
                                                    "v": np.concatenate(v)}))
        root = cc["comp"].to_numpy()[np.searchsorted(cc["node"].to_numpy(), gid)]
        return pd.DataFrame({"i": ii, "j": jj, "val": vv, "root": root})

    comp = live.groupBy("tile_i", "tile_j").applyInPandas(
        cc_kernel, schema="i int, j int, val double, root long").localCheckpoint(eager=True)

    # tile-border equality edges between LOCAL roots
    a = comp.select(F.col("i"), F.col("j"), F.col("val"), F.col("root"))
    down = a.filter(((F.col("i") + 1) % t) == 0).select(
        (F.col("i") + 1).alias("i"), "j", F.col("val").alias("v1"), F.col("root").alias("r1"))
    right = a.filter(((F.col("j") + 1) % t) == 0).select(
        "i", (F.col("j") + 1).alias("j"), F.col("val").alias("v1"), F.col("root").alias("r1"))
    e1, e2 = (b.join(a, ["i", "j"]).filter(F.col("v1") == F.col("val"))
              .select(F.col("r1").alias("x"), F.col("root").alias("y")) for b in (down, right))
    # a local root is its tile component's min scan id, so the min root of
    # a merged component (the CC label) is the component's min scan id
    merged = graph.connected_components(e1.unionByName(e2), "x", "y") \
        .withColumnRenamed("node", "root")
    lbl = (comp.select("root").distinct().join(merged, "root", "left")
           .select("root", F.coalesce(F.col("comp"), F.col("root")).alias("lbl"))
           .localCheckpoint(eager=True))
    labeled = comp.join(lbl, "root")
    # sequential numbering: rank of the component's min scan id (each label
    # is the root of exactly one row: its own)
    pid = seq_ids(lbl.filter(F.col("root") == F.col("lbl")).select("lbl"),
                  ["lbl"], "pid", start=0)
    return (labeled.filter(F.col("val").isNotNull()).join(pid, "lbl")
            .select("i", "j", F.col("pid").cast("double").alias("polygon")))


def gap_fill_hrus(cells: DataFrame, meta: GridMeta) -> DataFrame:
    """J5 (terrain_tools.f90:825-876): on real channel cells, take the modal
    HRU of the 3x3 neighborhood (first-seen insertion order tie-break).
    cells: (tile_i, tile_j, i, j, hru, channels)."""

    def kernel(blocks, i0, j0, m, core):
        hrus = np.nan_to_num(blocks["hru"], nan=IUNDEF).astype(np.int64)
        ch = np.nan_to_num(blocks["channels"], nan=IUNDEF).astype(np.int64)
        out = oracle.gap_fill_hrus(hrus, ch)
        return {"hru_filled": out.astype(np.int64)}

    return stencil.apply_stencil(cells, meta, ["hru", "channels"], kernel,
                                 [("hru_filled", "long")], halo=1)


# ---------------------------------------------------------------------------
# MFD accumulation (G5c) + one-step neighbor inflow (G5b)
# ---------------------------------------------------------------------------

# Per-worker-process cache of round-invariant tile plans (levels + fractions)
# for the iterative MFD kernels. dem is static across fixpoint rounds, so the
# wavefront decomposition is computed once per (kernel, tile) per worker and
# reused every round. Module-global => survives task boundaries under
# spark.python.worker.reuse (the default). Bounded with oldest-first
# eviction (a long-lived reused worker running many grids would otherwise
# hold multi-MB plans forever; digests are ~32 B, never array copies), and
# keyed on a sha256 of the input bytes — one hash pass per round (same
# pass the old crc32 key made), with collision odds (2^-128) that can
# never replay a wrong wavefront plan the way a 32-bit crc could.
_MFD_PLAN_CACHE: dict = {}
_MFD_PLAN_CACHE_MAX = 128


def _cached_plan(kind, i0, j0, core, arrays, make):
    """The tile plan for these inputs: from the cache, else ``make()``."""
    import hashlib
    h = hashlib.sha256()
    for a in arrays:
        h.update(np.ascontiguousarray(a).tobytes())
    key = (kind, i0, j0, arrays[0].shape, core, h.digest())
    plan = _MFD_PLAN_CACHE.get(key)
    if plan is None:
        while len(_MFD_PLAN_CACHE) >= _MFD_PLAN_CACHE_MAX:
            _MFD_PLAN_CACHE.pop(next(iter(_MFD_PLAN_CACHE)))
        plan = _MFD_PLAN_CACHE[key] = make()
    return plan


def _peel_levels(live: np.ndarray, core, dep_masks: list[np.ndarray]) -> list[np.ndarray]:
    """Wavefront decomposition of the strict-dem dependency DAG.

    The cells recomputed this sweep (the target) are the ``live`` cells of
    the ``core`` window (a0, a1, b0, b1); ``dep_masks[pos]``: cell c
    depends on its P8 neighbor at pos (True at c). Returns flat index arrays
    level 0, 1, ... such that every dependency of a level-L cell lies in a
    lower level (or outside the target). Processing levels in order with the
    per-cell P8-position addition sequence is arithmetic-identical to the
    sequential sorted-order sweep (strict inequalities => acyclic; equal-dem
    cells never interact)."""
    from ..oracle.terrain import P8

    a0, a1, b0, b1 = core
    remaining = np.zeros(live.shape, dtype=bool)
    remaining[a0:a1, b0:b1] = live[a0:a1, b0:b1]
    levels = []
    while remaining.any():
        can = remaining.copy()
        for pos, (k, l) in enumerate(P8):
            # dependency on a not-yet-peeled neighbor blocks this level
            nb_rem = _shift_read(remaining, k, l, False)
            can &= ~(dep_masks[pos] & nb_rem)
        if not can.any():  # safety: malformed dep masks would loop forever
            levels.append(np.flatnonzero(remaining))
            break
        levels.append(np.flatnonzero(can))
        remaining &= ~can
    return levels

def mfd_accumulation(cells: DataFrame, meta: GridMeta, res: float,
                     p: float = 1.0, dem_col: str = "dem") -> DataFrame:
    """G5c Freeman multiple-flow-direction accumulation
    (terrain_tools.f90:517-626, ``fract_flow_mfd`` :581-626) — iterative
    tile+halo fixpoint matching oracle.mfd_acc bit-for-bit.

    Each ``_fixpoint`` round re-derives the catchment of every tile whose
    halo changed, densely (descending-dem order, float32 additions in the
    Fortran's positions order), from the PREVIOUS round's neighbor-tile
    catchment estimates in the halo; upstream tiles converge first. The
    loop stops at the first round in which no tile's core changed bit for
    bit: 19 passes on the 64^2 fixture in tiles of 16, though its 4x4 tile
    graph has diameter 3.
    Halo = 2: the donor-side normalization (angle_sum of a halo-1 cell)
    needs that cell's own neighbors.

    Scale note: per round only O(perimeter) halo rows shuffle; rounds grow
    with the longest cross-tile flow path in TILES (not cells), so larger
    tiles trade fewer rounds for more per-task memory — at 100 TB pick
    tiles of 4-16k cells/side.
    """
    from ..oracle.terrain import P8, DIAG

    res32 = np.float32(res)
    p32 = np.float32(p)

    state = cells.select("tile_i", "tile_j", "i", "j", F.col(dem_col).alias("dem")) \
        .withColumn("catch", F.lit(1.0))
    state = state.localCheckpoint(eager=True)

    def _plan(dem: np.ndarray, core):
        """Round-invariant tile plan: per-P8-position fraction arrays + the
        wavefront levels. All arithmetic float32, identical per element to
        the sequential kernel's scalar ops (fract = slope^p / angle[donor],
        fract_flow_mfd:600-612); invalid positions encode fract = 0 so the
        masked vector add is a bit-exact no-op."""
        h, w = dem.shape
        angle = np.zeros((h, w), dtype=np.float32)
        for (k, l) in P8:
            length = DIAG * res32 if (k + l) in (-2, 0, 2) else res32
            nb = _shift_read(dem, k, l, np.nan)
            d = ((dem - nb) / length).astype(np.float32)
            s = np.where((dem > nb) & ~np.isnan(d), d, np.float32(0.0)).astype(np.float32)
            angle = (angle + s ** p32).astype(np.float32)
        fracts, deps = [], []
        for (k, l) in P8:
            nb_dem = _shift_read(dem, k, l, np.nan)
            higher = nb_dem > dem  # nan-safe: False outside block / undef
            length = DIAG * res32 if (k + l) in (-2, 0, 2) else res32
            slope = ((nb_dem - dem) / length).astype(np.float32)
            nb_angle = _shift_read(angle, k, l, np.float32(0.0))
            with np.errstate(divide="ignore", invalid="ignore"):
                f = np.where(higher & (nb_angle != 0.0),
                             slope ** p32 / nb_angle, np.float32(0.0))
            fracts.append(f.astype(np.float32).ravel())
            deps.append(higher)
        levels = _peel_levels(~np.isnan(dem), core, deps)
        noffs = [k * w + l for (k, l) in P8]
        return levels, fracts, noffs

    def kern(blocks, i0, j0, m, core):
        dem = blocks["dem"].astype(np.float32)
        prev = blocks["catch"].astype(np.float32)
        h, w = dem.shape
        levels, fracts, noffs = _cached_plan("mfd", i0, j0, core, (dem,),
                                             lambda: _plan(dem, core))
        # level sweep: every donor (strictly higher) of a level-L cell is
        # final (lower level => updated, halo/nan => fixed estimate);
        # additions stay in P8 position order per cell => bit-equal to
        # the sequential descending-dem sweep (oracle.mfd_acc main loop)
        catch = prev.ravel().copy()
        size = catch.size
        for idxs in levels:
            acc = np.ones(idxs.size, dtype=np.float32)
            for pos in range(8):
                f = fracts[pos][idxs]
                nb = catch[np.clip(idxs + noffs[pos], 0, size - 1)]
                # mask like the d2c kernel: a neighbor absent from the
                # input table reads NaN and 0*NaN would poison the sum;
                # adding an explicit 0.0 where fract == 0 is the same
                # bit-exact no-op the zero-fract argument relies on
                contrib = np.where(f != 0.0, (f * nb).astype(np.float32),
                                   np.float32(0.0))
                acc = (acc + contrib).astype(np.float32)
            catch[idxs] = acc
        return {"dem": dem, "catch": catch.reshape(h, w)}

    state = _fixpoint(state, meta, kern, [("dem", "float"), ("catch", "float")],
                      2, "mfd_accumulation")
    area = (F.lit(float(res32)).cast("float") * F.lit(float(res32)).cast("float")
            * F.col("catch").cast("float")).cast("float")
    return state.select("tile_i", "tile_j", "i", "j",
                        area.cast("double").alias("mfd_area"))


def acc_neighbors(cells: DataFrame, meta: GridMeta, res: float,
                  var_col: str, dem_col: str = "dem") -> DataFrame:
    """G5b ``calculate_d8_acc_neighbors`` (terrain_tools.f90:443-515): for
    each cell, the sum of ``var`` over immediate upstream neighbors
    (strictly higher AND D8-flowing into it; slopes init 0, diagonals
    corrected). Non-recursive -> ONE stencil pass, no iteration."""
    from ..oracle.terrain import d8_acc_neighbors as _oracle_fn

    def kern(blocks, i0, j0, m, core):
        dem = np.nan_to_num(blocks["dem"], nan=float(F32_UNDEF))
        var = np.nan_to_num(blocks[var_col], nan=0.0)
        out = _oracle_fn(dem, res, var)
        return {"inflow_sum": out.astype(np.float64)}

    return stencil.apply_stencil(cells, meta, [dem_col, var_col], kern,
                                 [("inflow_sum", "double")], halo=2)


def depth2channel_mfd(cells: DataFrame, meta: GridMeta, res: float,
                      p: int = 1, dem_col: str = "dem",
                      channel_col: str = "channels",
                      mask_col: str = "mask") -> DataFrame:
    """G12 ``calculate_depth2channel_mfd`` (terrain_tools.f90:628-746) —
    tile-iterative fixpoint matching oracle.depth2channel_mfd bit-for-bit.

    Channel cells pin channeldepth = clamp(dem, >=0); every other masked
    cell is the slope^p-weighted average of its strictly-lower masked
    neighbors' channeldepths, resolved in ascending-dem order (float32,
    positions-order additions). Halo carries neighbor tiles' current
    estimates; values propagate uphill one tile per round.
    """
    from ..oracle.terrain import DIAG, P8

    res32 = np.float32(res)
    undef32 = np.float32(UNDEF)
    p32 = np.float32(p)

    init_cd = F.when(
        (F.col("mask") > 0) & (F.col("chan") > 0),
        F.greatest(F.col("dem").cast("float"), F.lit(0.0).cast("float")).cast("double"),
    ).otherwise(F.lit(float(UNDEF)))
    state = cells.select("tile_i", "tile_j", "i", "j",
                         F.col(dem_col).alias("dem"),
                         F.col(mask_col).cast("double").alias("mask"),
                         F.col(channel_col).cast("double").alias("chan")) \
        .withColumn("cd", init_cd).localCheckpoint(eager=True)

    def _plan(dem: np.ndarray, mask: np.ndarray, chan: np.ndarray, core):
        """Round-invariant plan (determine_channel_depth_mfd:690-745
        semantics): slopes toward strictly-lower masked neighbors, f32
        positions-order angle_sum, fract arrays, wavefront levels."""
        h, w = dem.shape
        slopes, valids = [], []
        for (k, l) in P8:
            length = np.float32(DIAG) * res32 if (k + l) in (-2, 0, 2) else res32
            nb_dem = _shift_read(dem, k, l, np.nan)
            nb_mask = _shift_read(mask, k, l, 0.0)
            lower = (dem > nb_dem) & (nb_mask != 0)  # nan-safe: False
            s = np.where(lower, ((dem - nb_dem) / length).astype(np.float32),
                         np.float32(0.0)).astype(np.float32)
            slopes.append(s)
        angle_sum = np.float32(0.0) * np.zeros((h, w), dtype=np.float32)
        for pos in range(8):
            angle_sum = (angle_sum + slopes[pos] ** p32).astype(np.float32)
        fracts, deps = [], []
        for pos in range(8):
            v = slopes[pos] != 0.0
            with np.errstate(divide="ignore", invalid="ignore"):
                f = np.where(v, slopes[pos] ** p32 / angle_sum, np.float32(0.0))
            fracts.append(f.astype(np.float32).ravel())
            valids.append(v.ravel())
            deps.append(v)
        levels = _peel_levels(~np.isnan(dem) & (mask >= 1) & (chan <= 0), core, deps)
        noffs = [k * w + l for (k, l) in P8]
        return levels, fracts, valids, noffs

    def kern(blocks, i0, j0, m, core):
        dem = blocks["dem"].astype(np.float32)
        mask = np.nan_to_num(blocks["mask"], nan=0.0)
        chan = np.nan_to_num(blocks["chan"], nan=0.0)
        cd = np.nan_to_num(blocks["cd"], nan=float(UNDEF)).astype(np.float32)
        h, w = dem.shape
        levels, fracts, valids, noffs = _cached_plan(
            "d2c", i0, j0, core, (dem, mask, chan),
            lambda: _plan(dem, mask, chan, core))
        # ascending-dem level sweep; the acc == undef VALUE check (not a
        # flag) is preserved from the sequential kernel so a partial sum
        # that lands exactly on -9999 resets identically
        cdf = cd.ravel()
        size = cdf.size
        zero32 = np.float32(0.0)
        for idxs in levels:
            acc = np.full(idxs.size, undef32, dtype=np.float32)
            for pos in range(8):
                v = valids[pos][idxs]
                nb = cdf[np.clip(idxs + noffs[pos], 0, size - 1)]
                contrib = fracts[pos][idxs] * nb
                acc = np.where(v & (acc == undef32), zero32, acc)
                acc = (acc + np.where(v, contrib, zero32)).astype(np.float32)
            cdf[idxs] = acc
        # dem/cd exchange as float32 (kernel arithmetic is float32);
        # mask/chan stay double — segment ids can exceed float32's
        # 2^24 exact-integer range at continental scale
        return {"dem": dem, "mask": mask,
                "chan": chan, "cd": cdf.reshape(h, w)}

    state = _fixpoint(state, meta, kern,
                      [("dem", "float"), ("mask", "double"), ("chan", "double"),
                       ("cd", "float")], 1, "depth2channel_mfd")
    d2c = (F.col("dem").cast("float") - F.col("cd").cast("float")).cast("float")
    d2c = F.when(d2c < 0, F.lit(float(UNDEF))) \
           .when(F.col("mask") <= 0, F.lit(float(UNDEF))) \
           .otherwise(d2c)
    return state.select("tile_i", "tile_j", "i", "j",
                        d2c.cast("double").alias("hand_mfd"))


def remove_pits_simple(cells: DataFrame, meta: GridMeta, res: float,
                       dem_col: str = "dem") -> DataFrame:
    """G2 ``remove_pits`` (terrain_tools.f90:56-169): a non-border cell whose
    best (diagonal-corrected) slope is <= 0 is raised to its argmax-slope
    neighbor + 0.01*res, chasing downstream until no pit remains
    (``check_remove_pit`` :127-169; minslope :138; border/undef skip
    :140-141; diagonal lengths corrected :148-152).

    Tile-iterative chaotic iteration of the same monotone raising operator:
    per ``_fixpoint`` round each tile whose halo changed chases its pits to
    a local fixpoint with halo fixed, then halos re-exchange. Raises are
    monotone so the iteration converges, but slowly: each round raises a
    depression that straddles a tile border by about one minslope step, so
    rounds grow with its depth in steps (the 64^2 fixture in tiles of 16
    needs 76 rounds and raises at MAX_FIXPOINT_ROUNDS). The surface differs
    from the serial oracle by raise order on flats; it is tested pit-free
    under the oracle's own criterion and within five minslope steps
    (5 * 0.01 * res) of the oracle.
    """
    from ..oracle.terrain import DIAG, P8

    minslope = np.float32(0.01)
    res32 = np.float32(res)
    undef = np.float32(UNDEF)

    def relax(blocks, i0, j0, m, core):
        ci0, ci1, cj0, cj1 = core
        demb = np.nan_to_num(blocks["w"], nan=UNDEF).astype(np.float32)
        h, w = demb.shape
        # global grid borders (never raised, :140-141) in block coords
        gi0, gj0 = i0, j0

        def is_border(i, j):
            return (gi0 + i == 0 or gi0 + i == m.nx - 1
                    or gj0 + j == 0 or gj0 + j == m.ny - 1)

        stack = [(i, j) for i in range(ci0, ci1) for j in range(cj0, cj1)]
        pops = 0
        while stack:
            pops += 1
            if pops > 10_000_000:
                # _fixpoint never re-runs a tile whose halo did not
                # change, so pits left on the stack would stay
                raise RuntimeError(f"remove_pits_simple: tile at ({i0}, {j0}) "
                                   "still had pits after 10M stack pops")
            i, j = stack.pop()
            if not (ci0 <= i < ci1 and cj0 <= j < cj1):
                continue  # only raise core cells; halo is other tiles' state
            if demb[i, j] == undef or is_border(i, j):
                continue
            slopes = np.full(8, UNDEF, dtype=np.float32)
            for pos, (k, l) in enumerate(P8):
                ii, jj = i + k, j + l
                if ii < 0 or jj < 0 or ii >= h or jj >= w:
                    continue
                length = np.float32(DIAG) * res32 if (k + l) in (-2, 0, 2) else res32
                slopes[pos] = (demb[i, j] - demb[ii, jj]) / length
            if slopes.max() <= 0:
                pos = int(np.argmax(slopes))
                ii, jj = i + P8[pos][0], j + P8[pos][1]
                demb[i, j] = demb[ii, jj] + minslope * res32
                # re-check the raise target and our own neighbors
                stack.append((ii, jj))
                for (k, l) in P8:
                    stack.append((i + k, j + l))
        return {"w": demb.astype(np.float64)}

    state = cells.select("tile_i", "tile_j", "i", "j",
                         F.col(dem_col).alias("w")).localCheckpoint(eager=True)
    state = _fixpoint(state, meta, relax, [("w", "double")], 1,
                      "remove_pits_simple")
    return state.select("tile_i", "tile_j", "i", "j", F.col("w").alias("demns"))
