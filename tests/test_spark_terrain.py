"""Bit-for-bit golden parity: Spark terrain operators vs the numpy oracle
(BASELINE.json north_star correctness gate)."""

import uuid

import numpy as np
import pytest
from pyspark.sql import functions as F

from geospatialtools_spark.grid import UNDEF, cells_df, collect_dense
from geospatialtools_spark.oracle import terrain as T
from geospatialtools_spark.operators import terrain as ST
from tests.conftest import BTH, RES, TH


@pytest.fixture(scope="module")
def base_cells(spark, grid32, golden32):
    meta, dem, mask = grid32
    cells = cells_df(
        spark, meta,
        dem=golden32["filled"].astype(np.float64),
        rawdem=dem.astype(np.float64),
        mask=mask.astype(np.int64),
        dx=np.full(dem.shape, RES), dy=np.full(dem.shape, RES),
    ).localCheckpoint()
    return cells


@pytest.fixture(scope="module")
def fdir_df(base_cells, grid32):
    meta, _, _ = grid32
    return ST.d8_flow_direction(base_cells, meta, RES).localCheckpoint()


@pytest.fixture(scope="module")
def full_df(base_cells, fdir_df, grid32, spark, golden32):
    meta, dem, mask = grid32
    acc = ST.flow_accumulation(fdir_df, meta, RES,
                               mask_df=base_cells.select("i", "j", "mask"))
    full = (fdir_df.join(base_cells.select("i", "j", "mask", "dem"), ["i", "j"])
            .join(acc.select("i", "j", "area"), ["i", "j"])).localCheckpoint()
    return full


def _count_stencil_passes(mp) -> list:
    """Patch ``stencil.apply_stencil`` to append to the returned list."""
    passes = []
    apply = ST.stencil.apply_stencil
    mp.setattr(ST.stencil, "apply_stencil",
               lambda *a, **k: passes.append(1) or apply(*a, **k))
    return passes


def _run_within_pass_budget(spark, monkeypatch, run):
    """Run ``run()`` in its own job group and hold the float fixpoints' job
    budget: at most three Spark jobs per stencil pass, plus two. The rounds
    collect, so they all run inside ``run()``. Returns the output."""
    sc = spark.sparkContext
    group = f"fixpoint-budget-{uuid.uuid4().hex}"
    with monkeypatch.context() as mp:
        passes = _count_stencil_passes(mp)
        sc.setJobGroup(group, "fixpoint pass budget")
        try:
            out = run()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert 0 < jobs <= 3 * len(passes) + 2, (jobs, len(passes))
    return out


def test_planchon(spark, grid32, golden32, monkeypatch):
    meta, dem, mask = grid32
    cells = cells_df(spark, meta, dem=dem.astype(np.float64))
    filled = _run_within_pass_budget(
        spark, monkeypatch, lambda: ST.planchon_fill(cells, meta, RES))
    got = collect_dense(meta, filled, "demns")
    assert np.array_equal(got, golden32["filled"])


def test_slope_aspect(base_cells, grid32, golden32):
    meta, _, _ = grid32
    out = ST.slope_aspect(base_cells, meta)
    assert np.array_equal(collect_dense(meta, out, "slope"), golden32["slope"])
    assert np.array_equal(collect_dense(meta, out, "aspect"), golden32["aspect"])


def test_fdir(fdir_df, grid32, golden32):
    meta, _, _ = grid32
    fi = collect_dense(meta, fdir_df, "fi", fill=-9999, dtype=np.int32)
    fj = collect_dense(meta, fdir_df, "fj", fill=-9999, dtype=np.int32)
    assert np.array_equal(fi, golden32["fdir"][:, :, 0])
    assert np.array_equal(fj, golden32["fdir"][:, :, 1])


def test_accumulation(full_df, grid32, golden32):
    meta, _, _ = grid32
    area = collect_dense(meta, full_df, "area")
    assert np.array_equal(area, golden32["area"])


def test_channels_and_topology(full_df, grid32, golden32):
    meta, _, _ = grid32
    chdf, topodf = ST.channel_segments(full_df, meta, TH, BTH)
    ch = collect_dense(meta, chdf, "channels", fill=-9999, dtype=np.int64)
    wob = collect_dense(meta, chdf, "channels_wob", fill=-9999, dtype=np.int64)
    assert np.array_equal(ch, golden32["channels"])
    assert np.array_equal(wob, golden32["channels_wob"])
    got = {r["cid"]: r["downstream"] for r in topodf.collect()}
    want = {k + 1: int(v) for k, v in enumerate(golden32["topology"]) if v != -9999}
    assert got == want


@pytest.fixture(scope="module")
def with_channels(full_df, spark, grid32, golden32):
    meta, _, _ = grid32
    chdf = cells_df(spark, meta, channels=golden32["channels"])
    return full_df.join(chdf.select("i", "j", "channels"), ["i", "j"]).localCheckpoint()


def test_basins(with_channels, grid32, golden32):
    meta, _, _ = grid32
    out = ST.delineate_basins(with_channels, meta)
    got = collect_dense(meta, out, "basins", fill=-9999, dtype=np.int64)
    assert np.array_equal(got, golden32["basins"])


def test_hand(with_channels, grid32, golden32):
    meta, _, _ = grid32
    out = ST.depth2channel(with_channels, meta)
    got = collect_dense(meta, out, "hand")
    assert np.array_equal(got, golden32["hand"])


def test_hillslopes(with_channels, grid32, golden32):
    meta, _, _ = grid32
    out = ST.delineate_hillslopes(with_channels, meta)
    got = collect_dense(meta, out, "hillslopes", fill=-9999, dtype=np.int64)
    assert np.array_equal(got, golden32["hillslopes"])


def test_rasterize_paths_match_oracle(spark, grid32):
    """S11/J2 flagship burn: BOTH strategies (broadcast mapInPandas and
    tile-cogroup) bit-equal to the numpy rasterize oracle, and pip_join's
    two paths agree row-for-row."""
    from geospatialtools_spark import fixtures
    from geospatialtools_spark.operators import rasterize as OR
    from geospatialtools_spark.oracle import rasterize as R
    meta, dem, mask = grid32
    polys_pdf = fixtures.make_polygons(meta)
    want = R.rasterize(meta, polys_pdf).astype(np.float64)
    cells = cells_df(spark, meta, dem=dem.astype(np.float64))
    polys = spark.createDataFrame(polys_pdf)
    for mbp in (10000, 0):  # broadcast path / cogroup path
        out = OR.rasterize(cells, polys, meta, max_broadcast_polys=mbp)
        got = collect_dense(meta, out, "attr", fill=-9999, dtype=np.float64)
        assert np.array_equal(got, want), f"max_broadcast_polys={mbp}"
        if mbp:  # broadcast path adds ZERO exchanges over its input plan
            plan = out._jdf.queryExecution().executedPlan().toString()
            base = (cells.select("tile_i", "tile_j", "i", "j")
                    ._jdf.queryExecution().executedPlan().toString())
            assert plan.count("Exchange") == base.count("Exchange"), plan
    # pip_join path equality on cell-center points
    import pandas as pd
    ii, jj = np.meshgrid(np.arange(meta.nx), np.arange(meta.ny), indexing="ij")
    cx, cy = meta.cell_center_xy(ii.ravel(), jj.ravel())
    pts = spark.createDataFrame(pd.DataFrame(
        {"pt_id": np.arange(cx.size), "lat": cy, "lon": cx}))
    a = (OR.pip_join(pts, polys, meta).toPandas()
         .sort_values("pt_id").reset_index(drop=True))
    b = (OR.pip_join(pts, polys, meta, max_broadcast_polys=0).toPandas()
         .sort_values("pt_id").reset_index(drop=True))
    pd.testing.assert_frame_equal(a, b)


def _random_field(n: int) -> np.ndarray:
    """A seeded 3-valued field with a few -9999 holes: many small regions,
    many of them crossing tile borders."""
    rng = np.random.RandomState(5)
    field = rng.randint(1, 4, size=(n, n)).astype(np.float64)
    field[rng.rand(n, n) < 0.05] = UNDEF
    return field


def _nan_field(n: int) -> np.ndarray:
    """The random field with NaN cells: scattered singles, an adjacent
    pair inside a tile, and pairs across a tile border both ways."""
    field = _random_field(n)
    field[np.random.RandomState(6).rand(n, n) < 0.03] = np.nan
    field[3, 4:6] = np.nan
    field[15:17, 9] = np.nan
    field[20, 15:17] = np.nan
    return field


def test_polygonize(spark, grid32):
    """Burned polygons at 32^2, and the random field at 32^2 and 64^2,
    with and without NaN cells (each spends one id and keeps none)."""
    from geospatialtools_spark import fixtures
    from geospatialtools_spark.oracle import rasterize as R
    meta = grid32[0]
    cases = [(meta, R.rasterize(meta, fixtures.make_polygons(meta)))]
    cases += [(fixtures.dem_meta(n, n, 16), f(n))
              for n in (32, 64) for f in (_random_field, _nan_field)]
    for meta, field in cases:
        want = T.polygonize(field)
        cells = cells_df(spark, meta, value=field.astype(np.float64))
        got_df = ST.polygonize(cells, meta, "value")
        got = collect_dense(meta, got_df, "polygon", fill=-9999, dtype=np.float64)
        assert np.array_equal(got, want), meta.nx


def test_gap_fill(spark, grid32, golden32):
    meta, dem, mask = grid32
    ch = golden32["channels"]
    rng = np.random.RandomState(0)
    hrus = rng.randint(1, 5, size=ch.shape).astype(np.int64)
    hrus[mask == 0] = -9999
    want = T.gap_fill_hrus(hrus, ch)
    cells = cells_df(spark, meta, hru=hrus, channels=ch)
    out = ST.gap_fill_hrus(cells, meta)
    got = collect_dense(meta, out, "hru_filled", fill=-9999, dtype=np.int64)
    assert np.array_equal(got, want)


def test_prescribed_fdir_accumulation(spark, grid32, golden32):
    """G4: accumulation with an ArcGIS-prescribed fdir (F6 pathway).

    Codes derive from the golden D8 fdir (guaranteed acyclic) so the
    ArcGIS-code round-trip (terrain_tools.py:1666-1697) and the prescribed
    accumulation (terrain_tools.f90:253-301) are both exercised exactly.
    """
    meta, dem, mask = grid32
    g = golden32["fdir"]
    code_of = {(0, 1): 1, (1, 1): 2, (1, 0): 4, (1, -1): 8,
               (0, -1): 16, (-1, -1): 32, (-1, 0): 64, (-1, 1): 128}
    codes = np.zeros(dem.shape, dtype=np.int32)
    for i in range(meta.nx):
        for j in range(meta.ny):
            fi, fj = int(g[i, j, 0]), int(g[i, j, 1])
            if fi != -9999:
                codes[i, j] = code_of.get((fi - i, fj - j), 0)
    fdir = T.transform_arcgis_fdir(codes)
    want = T.d8_acc_pfdir(golden32["filled"], mask, RES, fdir)
    cells = cells_df(spark, meta,
                     fi=fdir[:, :, 0].astype(np.int64), fj=fdir[:, :, 1].astype(np.int64))
    acc = ST.flow_accumulation(cells, meta, RES,
                               mask_df=cells_df(spark, meta, mask=mask.astype(np.int64))
                               .select("i", "j", "mask"))
    got = collect_dense(meta, acc, "area")
    assert np.array_equal(got, want)


def test_mfd_accumulation(spark, grid32, golden32, monkeypatch):
    """G5c distributed MFD == oracle bit-for-bit (float32)."""
    meta, dem, mask = grid32
    cells = cells_df(spark, meta, dem=golden32["filled"].astype(np.float64))
    out = _run_within_pass_budget(
        spark, monkeypatch, lambda: ST.mfd_accumulation(cells, meta, RES, p=1.0))
    got = collect_dense(meta, out, "mfd_area")
    assert np.array_equal(got, golden32["mfd"])


def test_acc_neighbors(spark, grid32, golden32):
    """G5b one-step inflow sum == oracle bit-for-bit."""
    meta, dem, mask = grid32
    rng = np.random.RandomState(9)
    var = rng.rand(meta.nx, meta.ny).astype(np.float32).astype(np.float64)
    cells = cells_df(spark, meta, dem=golden32["filled"].astype(np.float64),
                     v=var)
    out = ST.acc_neighbors(cells, meta, RES, "v")
    got = collect_dense(meta, out, "inflow_sum")
    want = T.d8_acc_neighbors(golden32["filled"], RES, var)
    assert np.array_equal(got, want)


def test_seeded_accumulation(spark, fdir_df, grid32, golden32):
    """G5 seeded counts: acc(v) = #seeds upstream (incl. v)."""
    meta, dem, mask = grid32
    rng = np.random.RandomState(5)
    seeds = (rng.rand(meta.nx, meta.ny) < 0.1).astype(np.int64)
    sdf = cells_df(spark, meta, seed=seeds)
    fdir_seeded = fdir_df.join(sdf.select("i", "j", "seed"), ["i", "j"])
    out = ST.flow_accumulation(fdir_seeded, meta, RES, base_col="seed")
    got = collect_dense(meta, out, "acc", fill=0, dtype=np.int64)
    # numpy oracle: push seed counts down the fdir graph topologically
    fdir = golden32["fdir"]
    want = T._upstream_counts(fdir) * 0  # shape
    # brute-force: follow each seed's path
    want = seeds.copy()
    for i in range(meta.nx):
        for j in range(meta.ny):
            if not seeds[i, j]:
                continue
            ci, cj = i, j
            for _ in range(meta.nx * meta.ny):
                fi, fj = int(fdir[ci, cj, 0]), int(fdir[ci, cj, 1])
                if fi == -9999 or not (0 <= fi < meta.nx and 0 <= fj < meta.ny):
                    break
                want[fi, fj] += 1
                ci, cj = fi, fj
    m = golden32["fdir"][:, :, 0] != -9999
    assert np.array_equal(got[m], want[m])


def test_depth2channel_mfd(spark, grid32, golden32, monkeypatch):
    """G12 distributed MFD HAND == new oracle bit-for-bit."""
    meta, dem, mask = grid32
    want = T.depth2channel_mfd(golden32["channels"], mask, golden32["filled"], RES)
    cells = cells_df(spark, meta, dem=golden32["filled"].astype(np.float64),
                     channels=golden32["channels"].astype(np.int64),
                     mask=mask.astype(np.int64))
    out = _run_within_pass_budget(
        spark, monkeypatch, lambda: ST.depth2channel_mfd(cells, meta, RES))
    got = collect_dense(meta, out, "hand_mfd")
    assert np.array_equal(got, want)


def test_remove_pits_simple(spark, grid32, monkeypatch):
    """G2: pit-free under the oracle's slope criterion; close to the serial
    oracle (raise-order effects within five minslope steps)."""
    meta, dem, mask = grid32
    want = T.remove_pits_simple(dem, RES)
    cells = cells_df(spark, meta, dem=dem.astype(np.float64))
    out = _run_within_pass_budget(
        spark, monkeypatch, lambda: ST.remove_pits_simple(cells, meta, RES))
    got = collect_dense(meta, out, "demns")
    d32 = dem.astype(np.float32)
    valid = d32 != np.float32(-9999)
    assert (got[valid] >= d32[valid]).all()          # only raised
    assert np.allclose(got[valid], want[valid], atol=5 * 0.01 * RES)
    # oracle pit criterion holds everywhere on the result
    for i in range(1, meta.nx - 1):
        for j in range(1, meta.ny - 1):
            if got[i, j] == np.float32(-9999):
                continue
            slopes = []
            for (k, l) in T.P8:
                length = T.DIAG * np.float32(RES) if (k + l) in (-2, 0, 2) else np.float32(RES)
                slopes.append((got[i, j] - got[i + k, j + l]) / length)
            assert max(slopes) > 0, (i, j)


def test_fixpoint_loops_raise_when_out_of_rounds(spark, grid32, golden32,
                                                  monkeypatch):
    """A float fixpoint loop that runs out of rounds raises, naming its
    operator, instead of returning an unconverged surface."""
    meta, dem, mask = grid32
    monkeypatch.setattr(ST, "MAX_FIXPOINT_ROUNDS", 1)
    raw = cells_df(spark, meta, dem=dem.astype(np.float64))
    filled = cells_df(spark, meta, dem=golden32["filled"].astype(np.float64),
                      channels=golden32["channels"].astype(np.int64),
                      mask=mask.astype(np.int64))
    runs = {"planchon_fill": lambda: ST.planchon_fill(raw, meta, RES),
            "mfd_accumulation": lambda: ST.mfd_accumulation(filled, meta, RES),
            "depth2channel_mfd": lambda: ST.depth2channel_mfd(filled, meta, RES),
            "remove_pits_simple": lambda: ST.remove_pits_simple(raw, meta, RES)}
    for name, run in runs.items():
        with pytest.raises(RuntimeError, match=name):
            run()


def test_fixpoint_rounds_and_skip(spark, monkeypatch):
    """_fixpoint on a toy kernel that fills its block with the block's
    nanmax, from one seed at cell (0, 0) in tiles of 16: the max spreads one
    tile ring per round and one more round sees no change, so the rounds are
    the seed tile's distance in tiles to the farthest tile, plus 2. A tile
    runs in round 1 and afterwards only when a halo neighbour changed."""
    from geospatialtools_spark import fixtures

    runs = spark.sparkContext.accumulator(0)

    def spread(blocks, i0, j0, m, core):
        runs.add(1)
        return {"v": np.full(blocks["v"].shape, np.nanmax(blocks["v"]))}

    rounds = _count_stencil_passes(monkeypatch)

    def solve(n):
        meta = fixtures.dem_meta(n, n, 16)
        v = np.zeros((n, n))
        v[0, 0] = 1.0
        rounds.clear()
        out = ST._fixpoint(cells_df(spark, meta, v=v), meta, spread,
                           [("v", "double")], 1, "spread")
        assert (collect_dense(meta, out, "v") == 1.0).all(), n
        return len(rounds)

    assert solve(64) == 5                   # 4x4 tiles
    # tile runs per round on 4x4 tiles: all 16, then the tiles next to one
    # that changed: 3, 9, 15, 12 (not 16 a round)
    assert runs.value == 16 + 3 + 9 + 15 + 12
    assert solve(40) == 4                   # ragged 3x3 tiles
    assert solve(16) == 2                   # one tile: no halo to wake it
    monkeypatch.setattr(ST, "MAX_FIXPOINT_ROUNDS", 4)
    with pytest.raises(RuntimeError, match="spread: no fixpoint after 4 rounds"):
        solve(64)


def _walk(rows, i):
    """Sequential reference for resolve_tiled: follow ptr from row i to the
    first DONE row; a cycle or a ptr naming no row gives None."""
    seen = set()
    while True:
        r = rows.get(i)
        if r is None or i in seen:
            return None
        if r["done"]:
            return r["label"]
        seen.add(i)
        i = r["ptr"]


@pytest.mark.parametrize("label_type", ["long", "double"])
def test_resolve_tiled_matches_sequential_walk(spark, label_type):
    """resolve_tiled equals a sequential pointer walk on a 12x12 grid in
    4x4 tiles: chains across 3+ tiles, in-tile and cross-tile cycles, a
    ptr to a missing id and DONE rows with a NULL label."""
    from geospatialtools_spark import fixtures
    from geospatialtools_spark.operators import graph

    n, t = 12, 4
    meta = fixtures.dem_meta(n, n, t)
    rng = np.random.RandomState(11)
    off = 0.5 if label_type == "double" else 0

    def cid(i, j):
        return i * n + j

    rows = {}
    for i in range(n):
        for j in range(n):
            if rng.rand() < 0.15:
                lab = None if rng.rand() < 0.2 else int(rng.randint(1, 1000)) + off
                rows[cid(i, j)] = {"done": True, "ptr": None, "label": lab}
            else:
                di, dj = (int(d) for d in rng.randint(-1, 2, size=2))
                rows[cid(i, j)] = {"done": False, "ptr": cid(i + di, j + dj),
                                   "label": None}

    def link(*path):
        """Each cell of ``path`` points PENDING at the next one."""
        for (i, j), nxt in zip(path, path[1:]):
            rows[cid(i, j)] = {"done": False, "ptr": cid(*nxt), "label": None}

    # row 0 drains west, then column 0 south, into one DONE cell: (0, 11)
    # crosses five tiles
    link(*[(0, j) for j in range(n - 1, -1, -1)], *[(i, 0) for i in range(1, n)])
    rows[cid(n - 1, 0)] = {"done": True, "ptr": None, "label": 7 + off}
    # in-tile cycle in tile (1, 1), entered from tile (1, 2)
    link((5, 8), (5, 6), (6, 6), (5, 5), (5, 6))
    # cross-tile cycle through tiles (0, 0), (0, 1), (1, 1), (1, 0)
    link((3, 3), (3, 4), (4, 4), (4, 3), (3, 3))
    # a ptr to an id that is not in the state, reached across a tile
    link((9, 7), (9, 9), (9, 10))
    del rows[cid(9, 10)]
    # DONE rows with a NULL label, reached in-tile and across tiles
    for i, j in ((2, 2), (2, 6)):
        rows[cid(i, j)] = {"done": True, "ptr": None, "label": None}
    link((2, 1), (2, 2))
    link((2, 9), (2, 6))

    want = {k: _walk(rows, k) for k in rows}
    assert want[cid(0, 11)] == 7 + off
    assert [want[cid(*c)] for c in ((5, 8), (3, 3), (9, 7), (2, 9))] == [None] * 4

    state = spark.createDataFrame(
        [(k, r["done"], r["ptr"], r["label"], k // n, k % n)
         for k, r in rows.items()],
        f"id long, done boolean, ptr long, label {label_type}, i int, j int")
    got = {r["id"]: r["label"] for r in
           graph.resolve_tiled(state, meta, label_type=label_type).collect()}
    assert got == want


# Spark jobs each boundary-graph operator runs (one noop write included):
# the counts on oracle-built inputs at 64^2 and 128^2 (tile 16).
TERRAIN_JOB_BUDGET = {"acc": 16, "basins": 13, "hand": 13, "polygonize": 16,
                      "channels": 38, "hillslopes": 39}
# channel_segments runs one more job at 128^2 than at 64^2; the others
# run the same count at both sizes
SIZE_FREE_OPS = ("acc", "basins", "hand", "polygonize")


def test_terrain_operator_job_budget(spark):
    """flow_accumulation, delineate_basins, depth2channel, polygonize,
    channel_segments and delineate_hillslopes each run within
    TERRAIN_JOB_BUDGET at 64^2 and 128^2 (16 and 64 tiles, longer
    cross-tile paths), the SIZE_FREE_OPS the same count at both sizes, and
    each is bit-equal to the oracle at both sizes."""
    from geospatialtools_spark import fixtures
    from geospatialtools_spark.oracle import rasterize as R

    sc = spark.sparkContext
    jobs = {}
    for n in (64, 128):
        meta, dem, mask = fixtures.make_dem(n, n, tile=16)
        filled = T.planchon_fill(dem, RES)
        area, fdir = T.d8_acc(filled, mask, RES)
        ch, _, _ = T.calculate_channels_wocean_wprop(area, TH, BTH, fdir, mask)
        hs = T.delineate_hillslopes(ch, area, fdir, mask)
        burned = R.rasterize(meta, fixtures.make_polygons(meta))
        cells = cells_df(spark, meta, fi=fdir[:, :, 0].astype(np.int64),
                         fj=fdir[:, :, 1].astype(np.int64),
                         mask=mask.astype(np.int64), channels=ch,
                         area=area.astype(np.float64),
                         dem=filled.astype(np.float64),
                         value=burned.astype(np.float64)).localCheckpoint()
        want = {
            "acc": ("area", area, UNDEF, np.float32),
            "basins": ("basins", T.delineate_basins(ch, mask, fdir), -9999, np.int64),
            "hand": ("hand", T.calculate_depth2channel(ch, mask.copy(), fdir,
                                                       filled, leak=False),
                     UNDEF, np.float32),
            "polygonize": ("polygon", T.polygonize(burned), -9999, np.float64),
            "channels": ("channels", ch, -9999, np.int64),
            "hillslopes": ("hillslopes", hs, -9999, np.int64),
        }
        ops = {
            "acc": lambda: ST.flow_accumulation(
                cells.select("tile_i", "tile_j", "i", "j", "fi", "fj"), meta,
                RES, mask_df=cells.select("i", "j", "mask")),
            "basins": lambda: ST.delineate_basins(cells, meta),
            "hand": lambda: ST.depth2channel(cells, meta),
            "polygonize": lambda: ST.polygonize(cells, meta, "value"),
            "channels": lambda: ST.channel_segments(cells, meta, TH, BTH)[0],
            "hillslopes": lambda: ST.delineate_hillslopes(cells, meta),
        }
        jobs[n] = {}
        for op, run in ops.items():
            group = f"terrain-budget-{n}-{op}"
            sc.setJobGroup(group, "job budget")
            try:
                out = run()
                out.write.format("noop").mode("overwrite").save()
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            jobs[n][op] = len(sc.statusTracker().getJobIdsForGroup(group))
            col, ref, fill, dtype = want[op]
            got = collect_dense(meta, out, col, fill=fill, dtype=dtype)
            assert np.array_equal(got, ref), (n, op)
    assert all(jobs[64][op] == jobs[128][op] for op in SIZE_FREE_OPS), jobs
    for op, budget in TERRAIN_JOB_BUDGET.items():
        assert 0 < jobs[64][op] <= budget and jobs[128][op] <= budget, (op, jobs)
