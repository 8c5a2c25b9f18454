"""Tests for zone property tables (A1-A4, J6) and clustering/tiling ops
(M1-M7, A8, A9, G14)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from geospatialtools_spark import fixtures
from geospatialtools_spark.grid import cells_df
from geospatialtools_spark.operators import clustering as CL
from geospatialtools_spark.operators import zones as Z
from tests.conftest import RES


@pytest.fixture(scope="module")
def zone_cells(spark, grid32, golden32):
    """Fixture cells with basins, hillslopes, hand, slope + covariates."""
    meta, dem, mask = grid32
    cov = fixtures.make_covariates(meta, dem, mask)
    cells = cells_df(
        spark, meta,
        dem=golden32["filled"].astype(np.float64),
        basins=golden32["basins"].astype(np.int64),
        hillslopes=golden32["hillslopes"].astype(np.int64),
        hand=golden32["hand"].astype(np.float64),
        slope=golden32["slope"].astype(np.float64),
        aspect=golden32["aspect"].astype(np.float64),
        channels=golden32["channels"].astype(np.int64),
        tas=cov["tas"].astype(np.float64),
        prec=cov["prec"].astype(np.float64),
    ).localCheckpoint(eager=True)
    return cells


def test_kmeans_pp_separates_blobs():
    rng = np.random.RandomState(3)
    a = rng.normal(0, 0.1, (50, 2))
    b = rng.normal(5, 0.1, (40, 2))
    X = np.vstack([a, b])
    lab = CL.kmeans_pp(X, 2, seed=35799)
    assert len(set(lab[:50])) == 1 and len(set(lab[50:])) == 1
    assert lab[0] != lab[60]
    # deterministic
    assert np.array_equal(lab, CL.kmeans_pp(X, 2, seed=35799))


def test_cluster_data_edges():
    X = np.ones((5, 2))
    assert np.array_equal(CL.cluster_data(X, 1), np.zeros(5))
    # nc clamped to sample count
    lab = CL.cluster_data(np.arange(6, dtype=float).reshape(3, 2), 10)
    assert len(np.unique(lab)) <= 3


def test_create_tiles_kmeans(spark, zone_cells):
    tiles = CL.create_tiles_kmeans(zone_cells, ["tas", "prec", "hand"], 3)
    pdf = tiles.toPandas()
    u = np.sort(pdf["tile"].unique())
    assert u[0] == 0 and np.array_equal(u, np.arange(len(u)))  # dense 0..K-1
    # deterministic across runs
    pdf2 = CL.create_tiles_kmeans(zone_cells, ["tas", "prec", "hand"], 3).toPandas()
    a = pdf.sort_values(["i", "j"]).reset_index(drop=True)
    b = pdf2.sort_values(["i", "j"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)
    # only basin cells got tiles
    n_basin = zone_cells.filter(F.col("basins") > 0).count()
    assert len(pdf) == n_basin


def test_create_hrus(spark, zone_cells):
    tiles = CL.create_tiles_kmeans(zone_cells, ["tas", "prec", "hand"], 2)
    with_tiles = zone_cells.join(tiles, ["i", "j"])
    hrus = CL.create_hrus(with_tiles, ["tas", "prec"], {"tas": 1.0, "prec": 0.5}, 2)
    pdf = hrus.toPandas()
    u = np.sort(pdf["hru"].unique())
    assert u[0] == 1 and np.array_equal(u, np.arange(1, len(u) + 1))


def test_cluster_zone_table_and_assign(spark, zone_cells):
    props = Z.basin_properties(zone_cells, covariate_cols=["dem", "hand"])
    relabel = CL.cluster_zone_table(props, ["mean_dem", "mean_hand"], 2, "basin")
    assert set(relabel.toPandas()["cluster"]) <= {1, 2}
    joined = CL.assign_clusters(zone_cells, relabel, "basins", "basin")
    got = joined.filter(F.col("basins") > 0).filter(F.col("cluster").isNull()).count()
    assert got == 0


def test_performance_metrics_improves(spark, zone_cells):
    r = {}
    for nc in (2, 6):
        tiles = CL.create_tiles_kmeans(zone_cells, ["tas", "prec"], nc)
        joined = zone_cells.join(tiles, ["i", "j"])
        row = CL.performance_metrics(joined, "tile", ["tas", "prec"]).collect()[0]
        r[nc] = row["rmse_tas"] + row["rmse_prec"]
    assert r[6] <= r[2]


def test_compute_cluster_parameters(spark, zone_cells):
    """M4 doubles the cluster count until every covariate's RMSE is within
    its tolerance: a loose tolerance stops at nc0, one it cannot meet runs
    every round and returns the count of the last clustering it made."""
    cols = ["tas", "prec"]
    n_basin = zone_cells.filter(F.col("basins") > 0).count()
    for tol, want in ((1.0, 2), (-1.0, 2 * 2 ** (3 - 1))):
        out, nc = CL.compute_cluster_parameters(
            zone_cells, cols, {c: tol for c in cols}, nc0=2, max_rounds=3)
        assert nc == want, tol
        pdf = out.select("basins", "tile").toPandas()
        assert len(pdf) == n_basin
        per_basin = pdf.groupby("basins")["tile"].nunique().max()
        assert 1 < per_basin <= nc and (per_basin > 2) == (nc > 2), tol


def test_reduce_basin_number():
    bp = pd.DataFrame({
        "id": [1, 2, 3, 4, 5],
        "nid": [2, 3, 3, 5, -9998],  # downstream pointers (1-based; <0 outlet)
        "area": [10.0, 50.0, 60.0, 5.0, 80.0],
    })
    relabel = CL.reduce_basin_number(bp.copy(), 3)
    assert relabel["new_basin"].nunique() == 3
    u = np.sort(relabel["new_basin"].unique())
    assert np.array_equal(u, np.arange(1, 4))  # dense 1..K
    assert set(relabel["old_basin"]) == {1, 2, 3, 4, 5}
    # smallest basin with a valid downstream (4 -> 5) merged first
    m = dict(zip(relabel["old_basin"], relabel["new_basin"]))
    assert m[4] == m[5]


def test_basin_properties_vs_numpy(spark, zone_cells, golden32):
    out = Z.basin_properties(zone_cells, covariate_cols=["dem", "tas"]).toPandas()
    basins = golden32["basins"]
    dem = golden32["filled"]
    for _, row in out.iterrows():
        m = basins == row["basin"]
        assert row["n_cells"] == m.sum()
        v = dem[m][dem[m] != -9999].astype(np.float64)
        if v.size == 0:  # ocean pseudo-basins carry no valid dem
            assert pd.isna(row["mean_dem"])
            continue
        assert abs(row["mean_dem"] - v.mean()) < 1e-8


def test_channel_properties(spark, zone_cells, golden32):
    out = Z.channel_properties(zone_cells, RES).toPandas()
    ch = golden32["channels"]
    for _, row in out.iterrows():
        m = ch == row["channel"]
        assert abs(row["length"] - RES * m.sum()) < 1e-9
    assert (out["manning"] == 0.03).all()


def test_hillslope_properties_invariants(spark, zone_cells):
    hp = Z.hillslope_properties(zone_cells, RES).toPandas()
    assert len(hp) > 0
    assert (hp["relief"] > 0).all()
    assert (hp["length"] > 0).all()
    assert hp["width_slope"].between(-0.99, 99).all()
    assert hp["relief_a"].between(1, 5).all() and hp["relief_b"].between(1, 5).all()
    for _, r in hp.iterrows():
        pos = np.array(r["position_array"])
        d2c = np.array(r["d2c_array"])
        assert len(pos) == len(d2c) == len(r["width_array"])
        assert d2c[0] == 0.0 and abs(d2c[-2] - 1.0) < 1e-9 or d2c.max() <= 1.0 + 1e-9


def test_fit_frelief_recovers_params():
    x = np.linspace(0.05, 0.95, 40)
    y = Z.frelief(x, 2.3, 3.1)
    a, b = Z.fit_frelief(x, y)
    assert abs(a - 2.3) < 0.1 and abs(b - 3.1) < 0.15
    # inverse consistency
    assert np.allclose(Z.frelief_inv(Z.frelief(x, a, b), a, b), x, atol=1e-8)


def test_hru_properties(spark, zone_cells):
    tiles = CL.create_tiles_kmeans(zone_cells, ["tas", "prec", "hand"], 2)
    with_tiles = zone_cells.join(tiles, ["i", "j"])
    hrus = CL.create_hrus(with_tiles, ["tas", "prec"], {}, 2)
    full = with_tiles.join(hrus, ["i", "j"])
    hp = Z.hillslope_properties(zone_cells, RES)
    out = Z.hru_properties(full, hp, RES).toPandas()
    assert len(out) > 0
    assert (out["area"] > 0).all()
    for e in out["hand_ecdf"]:
        e = np.array(e)
        assert e[0] == 0.0 and abs(e[-1] - 1.0) < 1e-9
        assert (np.diff(e) >= -1e-12).all()
    # lowland default soil depths — only for HRUs whose hillslope made it
    # into the property table (hillslopes with no valid-HAND cell drop out)
    hids = set(hp.toPandas()["hid"])
    covered = out[out["hillslope_id"].isin(hids)]
    assert len(covered) > 0
    assert (covered["soil_depth"] == 2.0).all()
    assert (covered["depth_to_bedrock"] >= 2.0).all()


def test_polygon_adjacency_vs_numpy(spark, grid32):
    from geospatialtools_spark.oracle import rasterize as R
    from geospatialtools_spark.oracle import terrain as T
    meta, dem, mask = grid32
    burned = R.rasterize(meta, fixtures.make_polygons(meta))
    polys = T.polygonize(burned)
    cells = cells_df(spark, meta, polygon=polys.astype(np.int64))
    out = Z.polygon_adjacency(cells)
    edges = set(map(tuple, out["edges"].toPandas().to_numpy()))
    # numpy adjacency oracle: 4-neighbor contacts
    want = set()
    for di, dj in ((0, 1), (1, 0)):
        a = polys[:meta.nx - di, :meta.ny - dj]
        b = polys[di:, dj:]
        m = (a > 0) & (b > 0) & (a != b)
        for x, y in zip(a[m].ravel(), b[m].ravel()):
            want.add((min(x, y), max(x, y)))
    assert edges == want
    cent = out["centroids"].toPandas()
    pid = int(cent["pid"].iloc[0])
    m = polys == pid
    ii, jj = np.where(m)
    row = cent[cent["pid"] == pid].iloc[0]
    assert abs(row["ci"] - ii.mean()) < 1e-9 and abs(row["cj"] - jj.mean()) < 1e-9


def test_basin_count_bisection(spark, zone_cells, grid32):
    meta, _, _ = grid32
    from tests.conftest import BTH
    # zone_cells lacks fdir/area; rebuild minimal acc frame
    from geospatialtools_spark.operators import terrain as ST
    base = zone_cells.select("tile_i", "tile_j", "i", "j", "dem",
                             (F.col("dem") != -9999).cast("long").alias("mask"))
    fdir = ST.d8_flow_direction(base, meta, RES)
    acc = ST.flow_accumulation(fdir, meta, RES)
    full = (fdir.join(acc.select("i", "j", "area"), ["i", "j"])
            .join(base.select("i", "j", "mask", "dem"), ["i", "j"])).localCheckpoint()
    basins, th, n = CL.basin_count_bisection(full, meta, nbasins_goal=4, res=RES,
                                             basin_threshold=BTH, max_iter=6,
                                             tolerance=2)
    # tiny 32x32 grid: basin count vs threshold is coarse/non-monotonic;
    # assert the search returns its best probe and a sane threshold
    assert n >= 1
    assert 10.0 ** 4 <= th <= 10.0 ** 9


def test_create_hillslope_tiles(spark, zone_cells, golden32):
    from geospatialtools_spark.operators import tiles as TI
    hs = golden32["hillslopes"]
    uh = np.unique(hs[hs > 0])
    nbins = {int(h): 3 for h in uh}
    out = TI.create_hillslope_tiles(zone_cells, nbins).toPandas()
    u = np.sort(out["tile"].unique())
    assert u[0] == 1 and np.array_equal(u, np.arange(1, len(u) + 1))  # dense
    # cells WITH valid hand land in <= 3 bins (ids 1..3 pre-cleanup); cells
    # with undef hand keep their hillslope id (reference :867) -> extra ids
    hand = zone_cells.select("i", "j", "hand", "hillslopes").toPandas()
    j = out.merge(hand, on=["i", "j"])
    sel = (j["hand"] != -9999) & (j["hillslopes"] > 0)
    assert j.loc[sel, "tile"].nunique() <= 3
    counts = out.groupby("tile").size()
    assert counts.min() > 0


def test_create_hillslope_tiles_updated(spark, zone_cells):
    import pandas as pd

    from geospatialtools_spark.operators import tiles as TI
    from geospatialtools_spark.operators.zones import hillslope_properties
    hp = hillslope_properties(zone_cells, RES).toPandas()
    hp["nbins"] = 3
    hpdf = spark.createDataFrame(hp[["hid", "relief", "nbins"]])
    out = TI.create_hillslope_tiles_updated(zone_cells, hpdf).toPandas()
    assert (out["new_hand"] >= 0).all()
    u = np.sort(out["tile"].unique())
    assert u[0] == 1 and np.array_equal(u, np.arange(1, len(u) + 1))
    # new_hand never exceeds the hillslope relief (clamped normalization)
    rel = dict(zip(hp["hid"], hp["relief"]))
    joined = out.merge(
        zone_cells.select("i", "j", "hillslopes").toPandas(), on=["i", "j"])
    for _, r in joined.iterrows():
        assert r["new_hand"] <= rel[r["hillslopes"]] + 1e-9


def test_create_basin_tiles(spark, zone_cells):
    from geospatialtools_spark.operators import clustering as CL2
    from geospatialtools_spark.operators import tiles as TI
    from geospatialtools_spark.operators.zones import basin_properties
    props = basin_properties(zone_cells, covariate_cols=["dem", "hand"])
    relabel = CL2.cluster_zone_table(props, ["mean_dem", "mean_hand"], 2, "basin")
    wc = CL2.assign_clusters(zone_cells, relabel, "basins", "basin") \
        .withColumnRenamed("cluster", "basin_cluster") \
        .filter(F.col("basin_cluster").isNotNull())
    out = TI.create_basin_tiles(wc, dh=5.0).toPandas()
    u = np.sort(out["tile"].unique())
    assert u[0] == 0 and np.array_equal(u, np.arange(len(u)))  # sequential 0..K-1
    # tile_position restarts per cluster, sequential
    assert out["tile_position"].min() == 0
    assert (out["new_hand"] >= 0).all()


def test_curate_hru_properties():
    hru = pd.DataFrame({
        "hillslope_id": [1, 1, 1, 1],
        "tile_id": [0, 0, 1, 1],
        "area": [900.0, 900.0, 1800.0, 900.0],
        "depth2channel": [1.0, 1.0, 3.0, 3.0],
    })
    hp = pd.DataFrame({"hid": [1], "length": [100.0],
                       "rwidth": [3.0], "slope": [0.1]})
    out = Z.curate_hru_properties(hru, hp)
    # two elevation tiles -> two distinct lengths/positions
    assert out["hillslope_position"].nunique() == 2
    # area-fraction correction conserves total fraction geometry:
    # f1 proportions (1800 vs 2700)/4500 drive sqrt correction
    assert (out["slope"] == 0.1).all()
    assert (out["width_top"] > out["width_bottom"]).all()  # widening uphill
    # wspec is per-HRU (4 values), split within tiles by area
    assert out["wspec"].nunique() >= 3


def test_hillslope_bbox_means_vs_numpy(spark, zone_cells, golden32):
    """ADVICE r1: covariate means must cover the hillslope's full BOUNDING
    BOX (other hillslopes' cells included), masked only against -9999 —
    terrain_tools.py:634-639."""
    hp = Z.hillslope_properties(zone_cells, RES).toPandas()
    hs = golden32["hillslopes"]
    dem = golden32["filled"]
    for _, r in hp.iterrows():
        ii, jj = np.where(hs == r["hid"])
        win = dem[ii.min():ii.max() + 1, jj.min():jj.max() + 1]
        v = win[win != -9999].astype(np.float64)
        assert abs(r["dem"] - v.mean()) < 1e-8, r["hid"]
    # Pelletier covariates present in the schema, UNDEF when absent
    for c in ("uhrt", "uhst", "lt_uvt", "ul_mask"):
        assert c in hp.columns
        assert (hp[c] == -9999.0).all()


def test_bbox_means_bucket_join_matches_range_join(spark, zone_cells):
    """The bucket-grid equi-join (buckets derived from (i, j), independent
    of the storage tile) must equal a plain broadcast range join — on a
    FILTERED (non-dense) cell table too, the ADVICE-r2 trap that killed the
    old tile-inference path. Runs both a dense and a sparse variant."""
    for cells in (zone_cells, zone_cells.filter(F.col("i") >= 3)):
        src = cells.filter(F.col("hillslopes") > 0)
        got = Z._bbox_window_means(
            cells, src, "hillslopes",
            ["dem"]).toPandas().sort_values("hid").reset_index(drop=True)
        # ground truth: pure range join, no buckets
        bbox = (src.groupBy(F.col("hillslopes").alias("hid"))
                .agg(F.min("i").alias("i0"), F.max("i").alias("i1"),
                     F.min("j").alias("j0"), F.max("j").alias("j1")))
        in_box = ((F.col("i") >= F.col("i0")) & (F.col("i") <= F.col("i1"))
                  & (F.col("j") >= F.col("j0")) & (F.col("j") <= F.col("j1")))
        want = (cells.select("i", "j", "dem").join(F.broadcast(bbox), in_box)
                .groupBy("hid")
                .agg(F.avg(F.when(F.col("dem") != -9999, F.col("dem")))
                     .alias("dem"))
                .toPandas().sort_values("hid").reset_index(drop=True))
        assert np.allclose(got["dem"], want["dem"], atol=1e-9)


def test_tile_offsets_survive_noncontiguous_labels(spark):
    """ADVICE r1: global sequential ids offset by max(label)+1 per zone (the
    reference's icluster = np.max(hrus)+1), so a zone whose k-means emits
    non-contiguous labels (empty cluster) cannot collide with the next
    zone's ids."""
    import pandas as pd
    rows = []
    # zone 1: two tight blobs + one far singleton duplicated -> k=3 over 2
    # effective clusters often leaves a label gap; zone 2: distinct data
    rng = np.random.RandomState(7)
    for z, base in ((1, 0.0), (2, 100.0)):
        for n in range(40):
            rows.append({"i": len(rows), "j": 0, "basins": z,
                         "x": base + (0.0 if n % 2 else 5.0) + rng.normal(0, .01)})
    cells = spark.createDataFrame(pd.DataFrame(rows))
    out = CL.create_tiles_kmeans(cells, ["x"], 3).toPandas()
    j = out.merge(pd.DataFrame(rows), on=["i", "j"])
    # tiles of different zones must be disjoint
    t1 = set(j.loc[j["basins"] == 1, "tile"])
    t2 = set(j.loc[j["basins"] == 2, "tile"])
    assert not (t1 & t2)


def test_create_nd_histogram_vs_numpy(spark, grid32, golden32):
    """A7 operator form vs the numpy reference oracle, bit-for-bit: global
    C-order icluster ids over per-hillslope histogramdd bins, 'p'-type
    percentile transform included (terrain_tools.py:789-859)."""
    from geospatialtools_spark.oracle import terrain as T

    meta, dem, mask = grid32
    cov = fixtures.make_covariates(meta, dem, mask)
    hs = golden32["hillslopes"].astype(np.float64)
    covs_np = [
        {"name": "tas", "data": cov["tas"].astype(np.float64).copy(),
         "nbins": 3, "type": "p"},
        {"name": "prec", "data": cov["prec"].astype(np.float64).copy(),
         "nbins": 2, "type": "n"},
    ]
    expected = T.create_nd_histogram(hs.copy(), covs_np)

    cells = cells_df(spark, meta, hillslope=hs,
                     tas=cov["tas"].astype(np.float64),
                     prec=cov["prec"].astype(np.float64))
    out = Z.create_nd_histogram(
        cells, [{"col": "tas", "nbins": 3, "type": "p"},
                {"col": "prec", "nbins": 2, "type": "n"}],
        hillslope_col="hillslope").toPandas()

    got = np.full((meta.nx, meta.ny), -9999, dtype=np.int32)
    got[out["i"].to_numpy(np.int64), out["j"].to_numpy(np.int64)] = \
        out["hru"].to_numpy(np.int32)
    assert got.max() > 1                      # multiple bins actually formed
    np.testing.assert_array_equal(got, expected)
