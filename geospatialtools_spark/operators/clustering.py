"""Clustering / tiling operators (SURVEY.md §2.10 M1-M7, A8, A9, G14).

The reference clusters with sklearn KMeans/MiniBatchKMeans under fixed seeds
(``terrain_tools.py:85,72,755``). sklearn is absent from this environment, so
``kmeans_pp`` is a from-scratch numpy k-means++ + Lloyd with the same seed
contract — deterministic across runs and partitions, semantically equivalent
(same objective, same cluster-count clamping and QC fallbacks), though not
bit-identical to sklearn's label assignment. All call sites keep the
reference's exact pre/post-processing (subsampling seeds, min-max scaling,
sequential global ids, dense relabel).

Distribution strategy: per-zone clustering runs inside ``applyInPandas``
keyed by zone (zones are independent — embarrassingly parallel); whole-table
clusterings (M5/M6) operate on zone PROPERTY tables, which are tiny by
construction (#zones << #cells), so they run driver-side and ship back as a
broadcast relabel map — the same shape the reference uses.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

UNDEF = -9999.0


# ---------------------------------------------------------------- numpy core

def pairwise_d2(X: np.ndarray, C: np.ndarray) -> np.ndarray:
    """Squared euclidean distances (n, k) in GEMM form:
    ||x||² + ||c||² − 2x·c. The naive (X[:,None,:]-C)² broadcast allocates an
    (n, k, d) temporary — at n=10⁶, k=64, d=64 that is 32 GB per Arrow batch
    chain; the GEMM form is one n×k matmul (round 4: this is the per-batch
    hot loop of IVF assignment and every Lloyd iteration). Tiny negative
    values from cancellation are clipped so argmin/argsort ordering matches
    exact arithmetic on distinct distances."""
    d2 = ((X * X).sum(axis=1)[:, None] + (C * C).sum(axis=1)[None, :]
          - 2.0 * (X @ C.T))
    np.maximum(d2, 0.0, out=d2)
    return d2


def _kmeans_pp_init(X: np.ndarray, nc: int, rng: np.random.RandomState) -> np.ndarray:
    """k-means++ seeding (Arthur & Vassilvitskii 2007)."""
    n = X.shape[0]
    centers = np.empty((nc, X.shape[1]))
    centers[0] = X[rng.randint(n)]
    d2 = pairwise_d2(X, centers[0:1])[:, 0]
    for k in range(1, nc):
        probs = d2 / d2.sum() if d2.sum() > 0 else np.full(n, 1.0 / n)
        centers[k] = X[rng.choice(n, p=probs)]
        d2 = np.minimum(d2, pairwise_d2(X, centers[k:k + 1])[:, 0])
    return centers


def kmeans_pp_centers(X: np.ndarray, nc: int, seed: int = 35799,
                      max_iter: int = 300, tol: float = 1e-6) -> np.ndarray:
    """Fitted centers of Lloyd's k-means with k-means++ init (deterministic
    for a given (X, nc, seed)); empty clusters re-seed at the farthest
    point, like sklearn."""
    X = np.asarray(X, dtype=np.float64)
    rng = np.random.RandomState(seed)
    centers = _kmeans_pp_init(X, nc, rng)
    for _ in range(max_iter):
        d2 = pairwise_d2(X, centers)
        labels = np.argmin(d2, axis=1)
        new_centers = centers.copy()
        for k in range(nc):
            m = labels == k
            if m.any():
                new_centers[k] = X[m].mean(axis=0)
            else:  # re-seed empty cluster at the farthest point
                new_centers[k] = X[np.argmax(d2.min(axis=1))]
        shift = np.sum((new_centers - centers) ** 2)
        centers = new_centers
        if shift <= tol:
            break
    return centers


def kmeans_pp(X: np.ndarray, nc: int, seed: int = 35799,
              max_iter: int = 300, tol: float = 1e-6) -> np.ndarray:
    """Labels 0..nc-1 from ``kmeans_pp_centers``."""
    X = np.asarray(X, dtype=np.float64)
    centers = kmeans_pp_centers(X, nc, seed, max_iter, tol)
    return np.argmin(pairwise_d2(X, centers), axis=1)


def cluster_data(X: np.ndarray, nc: int) -> np.ndarray:
    """M1 ``cluster_data`` (terrain_tools.py:67-95): subsample cap 1e5 with
    seed 1245 (used only to clamp nc in this snapshot — the reference fits
    on the FULL X, :84-90), nc clamped to sample size, nc<=1 -> zeros,
    KMeans(seed 35799) labels otherwise."""
    minsamples = 10 ** 5
    if X.shape[0] > minsamples:
        np.random.seed(1245)
        idx = np.random.choice(np.arange(X.shape[0]), minsamples)
    else:
        idx = np.arange(X.shape[0])
    if idx.size < nc:
        nc = idx.size
    if nc > 1:
        return kmeans_pp(X, nc, seed=35799).astype(np.float64)
    return np.zeros(X.shape[0])


def fit_kmeans_fixed(X: np.ndarray, nc: int, seed: int = 1) -> np.ndarray:
    rng = np.random.RandomState(seed)
    centers = 0.5 * np.ones((nc, X.shape[1])) + 1e-4 * rng.standard_normal((nc, X.shape[1]))
    for _ in range(300):
        labels = np.argmin(pairwise_d2(X, centers), axis=1)
        new_centers = centers.copy()
        for k in range(nc):
            m = labels == k
            if m.any():
                new_centers[k] = X[m].mean(axis=0)
        if np.sum((new_centers - centers) ** 2) <= 1e-12:
            centers = new_centers
            break
        centers = new_centers
    return centers


def predict_kmeans(X: np.ndarray, centers: np.ndarray) -> np.ndarray:
    return np.argmin(pairwise_d2(X, centers), axis=1)


# --------------------------------------------------------------- Spark M2/M3

def create_tiles_kmeans(cells: DataFrame, covariate_cols: list[str],
                        ntiles: int, zone_col: str = "basins") -> DataFrame:
    """M2 ``create_tiles_kmeans`` (terrain_tools.py:727-787) distributed.

    Per-basin: min-max normalize covariates (:749-751), subsample cap with
    seed 1 (:754-760), cluster to ``ntiles`` local labels; then the
    reference's GLOBAL sequential ids (icluster offsets in ascending basin
    order, :777-780) via a window cumsum of per-basin label counts, and the
    final dense relabel (:782-787). Returns (i, j, tile).

    One shuffle (groupBy basin) + one broadcast join for the offsets —
    basins are independent, so this parallelizes across all executors.
    """
    spark = cells.sparkSession
    src = cells.filter(F.col(zone_col) > 0)

    def kern(pdf: pd.DataFrame) -> pd.DataFrame:
        # row-major (i, j) order = the reference's boolean-mask scan order
        # (terrain_tools.py:749) — makes the float reductions inside the
        # k-means fit independent of Arrow arrival order (bit-deterministic
        # across runs AND vs the serial golden twin in oracle/gate_twins.py)
        pdf = pdf.sort_values(["i", "j"], kind="stable")
        X = pdf[covariate_cols].to_numpy(np.float64)
        for c in range(X.shape[1]):
            lo, hi = X[:, c].min(), X[:, c].max()
            X[:, c] = (X[:, c] - lo) / (hi - lo) if hi > lo else 0.0
        minsamples = 10 ** 5
        if X.shape[0] > minsamples:
            np.random.seed(1)
            Xf = X[np.random.choice(np.arange(X.shape[0]), minsamples), :]
        else:
            Xf = X
        nc = min(ntiles, Xf.shape[0])
        if nc > 1:
            # fit on the subsample, predict on the full set (:760-765)
            centers = fit_kmeans_fixed(Xf, nc)
            labels = predict_kmeans(X, centers)
        else:
            labels = np.zeros(X.shape[0], dtype=np.int64)
        return pd.DataFrame({
            "i": pdf["i"], "j": pdf["j"], "zone": pdf[zone_col],
            "local_tile": np.asarray(labels, dtype=np.int64),
        })

    from .grouped import grouped_map
    local = grouped_map(src.select("i", "j", zone_col, *covariate_cols),
                        [zone_col], kern,
                        schema="i int, j int, zone long, local_tile long")
    # materialize: three downstream actions (counts, join, relabel) must not
    # each re-run the clustering pass
    local = local.localCheckpoint(eager=True)
    # global sequential ids: offset advances by max(local_label)+1 per basin
    # (the reference's icluster = np.max(hrus)+1, :777-780) — NOT the
    # distinct-label count: k-means can emit non-contiguous labels (empty
    # clusters), and a distinct-count offset would collide raw ids of
    # adjacent basins, silently merging tiles across zones. Two-level
    # prefix sum (operators/seq.py), not a single-partition window.
    from .seq import exclusive_prefix_sum, seq_ids
    counts = (local.groupBy("zone")
              .agg((F.max("local_tile") + 1).alias("k")))
    offsets = exclusive_prefix_sum(counts, ["zone"], "k", "off")
    tiled = (local.join(F.broadcast(offsets.select("zone", "off")), "zone")
             .withColumn("tile_raw", F.col("local_tile") + F.col("off")))
    # dense relabel to 0..K-1 (cleanup, :782-787)
    relabel = seq_ids(tiled.select("tile_raw").distinct(),
                      ["tile_raw"], "tile", start=0)
    return (tiled.join(F.broadcast(relabel), "tile_raw")
            .select("i", "j", F.col("tile").cast("long").alias("tile")))


def create_hrus(cells: DataFrame, covariate_cols: list[str],
                weights: dict[str, float], nclusters: int,
                hillslope_col: str = "hillslopes",
                tile_col: str = "tile") -> DataFrame:
    """M3 ``create_hrus_hydroblocks`` (terrain_tools.py:1023-1154): per
    (hillslope, tile) group, weight-scaled normalized covariates -> M1
    clusters -> global sequential ids -> dense relabel. Returns (i, j, hru).
    """
    src = cells.filter((F.col(hillslope_col) > 0) & (F.col(tile_col) >= 0))

    # GLOBAL covariate stats, like the reference: -9999 imputed with the
    # whole-grid mean of valid values (terrain_tools.py:1029-1031) and
    # min-max normalization with the covariates' global min/max metadata
    # (normalize_variable, :54-66, called at :1063-1064) — per-group scaling
    # would change relative covariate weights and cluster membership.
    stat_aggs = []
    for c in covariate_cols:
        valid = F.when(F.col(c) != UNDEF, F.col(c))
        stat_aggs += [F.avg(valid).alias(f"mean_{c}"),
                      F.min(valid).alias(f"min_{c}"),
                      F.max(valid).alias(f"max_{c}")]
    g = src.agg(*stat_aggs).collect()[0]
    gstats = {c: (g[f"mean_{c}"], g[f"min_{c}"], g[f"max_{c}"])
              for c in covariate_cols}

    def kern(pdf: pd.DataFrame) -> pd.DataFrame:
        # (i, j) scan order, same rationale as create_tiles_kmeans
        pdf = pdf.sort_values(["i", "j"], kind="stable")
        X = pdf[covariate_cols].to_numpy(np.float64)
        for c, name in enumerate(covariate_cols):
            col = X[:, c]
            mean_v, lo, hi = gstats[name]
            col[col == UNDEF] = mean_v if mean_v is not None else 0.0
            if hi is not None and lo is not None and hi != lo:
                col = (col - lo) / (hi - lo)
            else:
                col = np.zeros_like(col)
            X[:, c] = weights.get(name, 1.0) * col
        labels = cluster_data(X, nclusters).astype(np.int64)
        return pd.DataFrame({"i": pdf["i"], "j": pdf["j"],
                             "hs": pdf[hillslope_col].astype(np.int64),
                             "tl": pdf[tile_col].astype(np.int64),
                             "local_hru": labels})

    from .grouped import grouped_map
    local = grouped_map(src.select("i", "j", hillslope_col, tile_col, *covariate_cols),
                        [hillslope_col, tile_col], kern,
                        schema="i int, j int, hs long, tl long, local_hru long")
    local = local.localCheckpoint(eager=True)  # see create_tiles_kmeans note
    # offset = max(local)+1 per group (maxc = np.max(clusters)+1, :1147-1148)
    # — two-level prefix sum over the (hs, tl) group table (operators/seq.py)
    from .seq import exclusive_prefix_sum, seq_ids
    counts = local.groupBy("hs", "tl").agg((F.max("local_hru") + 1).alias("k"))
    offsets = exclusive_prefix_sum(counts, ["hs", "tl"], "k", "off")
    hrud = (local.join(F.broadcast(offsets.select("hs", "tl", "off")), ["hs", "tl"])
            .withColumn("hru_raw", F.col("local_hru") + F.col("off")))
    relabel = seq_ids(hrud.select("hru_raw").distinct(),
                      ["hru_raw"], "hru", start=1)
    return (hrud.join(F.broadcast(relabel), "hru_raw")
            .select("i", "j", F.col("hru").cast("long").alias("hru")))


# ------------------------------------------------------- M5/M6 + relabel J4

def cluster_zone_table(props: DataFrame, feature_cols: list[str],
                       nc: int, id_col: str) -> DataFrame:
    """M5/M6 ``cluster_hillslopes``/``cluster_basins_updated``
    (terrain_tools.py:1316-1371,1492-1522): cluster the (small) zone
    property table; returns (id_col, cluster) — broadcast-join this back to
    cells for J4 ``assign_clusters_to_hillslopes`` (terrain_tools.f90:
    1727-1748). Min-max normalization per feature before clustering
    (:1341-1344)."""
    pdf = props.select(id_col, *feature_cols).toPandas()
    X = pdf[feature_cols].to_numpy(np.float64)
    for c in range(X.shape[1]):
        lo, hi = X[:, c].min(), X[:, c].max()
        X[:, c] = (X[:, c] - lo) / (hi - lo) if hi > lo else 0.0
    labels = cluster_data(X, nc).astype(np.int64) + 1  # ids 1..nc
    out = pd.DataFrame({id_col: pdf[id_col], "cluster": labels})
    return props.sparkSession.createDataFrame(out)


def assign_clusters(cells: DataFrame, relabel: DataFrame,
                    zone_col: str, id_col: str) -> DataFrame:
    """J4: relabel a zone map through a (zone -> cluster) table; unmatched
    zones keep NULL (reference leaves -9999, terrain_tools.f90:1739-1744)."""
    return cells.join(
        F.broadcast(relabel.select(F.col(id_col).alias(zone_col), "cluster")),
        zone_col, "left")


# ----------------------------------------------------------------------- A8

def covariate_minmax(cells: DataFrame,
                     covariate_cols: list[str]) -> dict[str, tuple[float, float]]:
    """ONE aggregate action over the cell table for every covariate's
    (min, max) — r3 advice: the per-covariate agg().collect() loop scanned
    the cells C times before the real work, and M4 paid it every round."""
    aggs = []
    for c in covariate_cols:
        aggs += [F.min(c).alias(f"mn_{c}"), F.max(c).alias(f"mx_{c}")]
    row = cells.agg(*aggs).collect()[0]
    return {c: (row[f"mn_{c}"], row[f"mx_{c}"]) for c in covariate_cols}


def performance_metrics(cells: DataFrame, cluster_col: str,
                        covariate_cols: list[str],
                        minmax: dict[str, tuple[float, float]] | None = None) -> DataFrame:
    """A8 ``compute_performance_metrics`` (terrain_tools.py:97-129): replace
    each covariate by its cluster mean, report global RMSE per covariate on
    min-max normalized values. One min/max aggregate (or the caller's
    precomputed ``minmax`` — M4 hoists it out of its loop), one window pass,
    one global agg."""
    minmax = minmax or covariate_minmax(cells, covariate_cols)
    out_aggs = []
    df = cells
    for c in covariate_cols:
        mn, mx = minmax[c]
        rng = (mx - mn) or 1.0
        norm = (F.col(c) - F.lit(mn)) / F.lit(rng)
        mean_c = F.avg(norm).over(Window.partitionBy(cluster_col))
        df = df.withColumn(f"_sq_{c}", (norm - mean_c) ** 2)
        out_aggs.append(F.sqrt(F.avg(f"_sq_{c}")).alias(f"rmse_{c}"))
    return df.agg(*out_aggs)


def compute_cluster_parameters(cells: DataFrame, covariate_cols: list[str],
                               tolerances: dict[str, float],
                               nc0: int = 2, max_rounds: int = 10,
                               zone_col: str = "basins") -> tuple[DataFrame, int]:
    """M4 (terrain_tools.py:131-209) driver loop, bounded: double the
    cluster count until every covariate's A8 RMSE is within tolerance
    (the reference also adapts per-covariate weights; weight adaptation is
    equivalent to tolerance scaling here). Returns (cells+cluster, nc)."""
    nc = nc0
    src = cells.filter(F.col(zone_col) > 0).localCheckpoint(eager=True)
    # covariate min/max don't change across rounds (joined = src + labels):
    # one aggregate up front instead of C scans per round
    minmax = covariate_minmax(src, covariate_cols)
    for r in range(max_rounds):
        tiled = create_tiles_kmeans(src, covariate_cols, nc, zone_col=zone_col)
        joined = src.join(tiled, ["i", "j"])
        rmse = performance_metrics(joined, "tile", covariate_cols,
                                   minmax=minmax).collect()[0]
        if all(rmse[f"rmse_{c}"] <= tolerances.get(c, 0.1) for c in covariate_cols):
            break
        if r < max_rounds - 1:  # keep nc = the count actually used for the
            nc *= 2             # returned clustering, even on non-convergence
    return joined, nc


# ----------------------------------------------------------------------- A9

def reduce_basin_number(bp: pd.DataFrame, nbasins_goal: int) -> pd.DataFrame:
    """A9 ``reduce_basin_number`` (terrain_tools.py:293-338) — iterative
    merge of small basins into their downstream neighbor minimizing the
    area standard deviation; candidate set = 10 smallest.

    Runs driver-side on the collected basin table (small by construction);
    returns a relabel map (old_basin -> new_basin) with new ids densified
    1..K (:330-335), to broadcast-join onto the cell table.
    """
    ids = bp["id"].to_numpy(np.int64) - 1
    nids = bp["nid"].to_numpy(np.int64) - 1
    area = bp["area"].to_numpy(np.float64).copy()
    orig = bp["id"].to_numpy(np.int64)
    # track final id of every original basin
    final = {int(i): int(i) for i in orig}
    nbasins = ids.size
    while nbasins > nbasins_goal:
        ibs = np.argsort(area, kind="stable")[:10]
        astd = []
        for ib in ibs:
            area_cp = area.copy()
            area_cp[ids == nids[ib]] += area_cp[ib]
            astd.append(np.std(area_cp))
        astd = np.array(astd)
        ok = nids[ibs] >= 0
        if not ok.any():
            break
        tmp = np.argmin(astd[ok])
        ib = ibs[np.where(astd == astd[ok][tmp])[0][0]]
        # merge basin ib into its downstream neighbor
        area[ids == nids[ib]] += area[ib]
        merged_into = int(nids[ib]) + 1
        merged_from = int(ids[ib]) + 1
        for k, v in final.items():
            if v == merged_from:
                final[k] = merged_into
        nids[nids == ids[ib]] = nids[ib]
        ids = np.delete(ids, ib)
        nids = np.delete(nids, ib)
        area = np.delete(area, ib)
        nbasins -= 1
    # dense reassignment 1..K in ascending surviving-id order (:330-333)
    survivors = sorted(set(final.values()))
    dense = {s: k + 1 for k, s in enumerate(survivors)}
    return pd.DataFrame({
        "old_basin": list(final.keys()),
        "new_basin": [dense[v] for v in final.values()],
    })


# ---------------------------------------------------------------------- G14

def basin_count_bisection(acc_cells: DataFrame, meta, nbasins_goal: int,
                          res: float, basin_threshold: float,
                          log_th_range: tuple[float, float] = (4.0, 9.0),
                          max_iter: int = 10,
                          tolerance: int = 0) -> tuple[DataFrame, float, int]:
    """G14 ``compute_basin_delineation_nbasins`` (terrain_tools.py:211-253):
    bisection on log10(channel threshold) to hit a target basin count.

    ``acc_cells`` carries (i, j, fi, fj, area, mask, dem, ...) — fdir/acc are
    computed ONCE and reused across probes (the reference recomputes them
    every probe; caching is the optimization its own bisection begs for).
    Each probe = channels + basins + countDistinct. Returns
    (cells+basins of best probe, threshold, nbasins).
    """
    from .terrain import channel_segments, delineate_basins
    src = acc_cells.localCheckpoint(eager=True)
    lo, hi = log_th_range
    best = None
    for _ in range(max_iter):
        mid = 0.5 * (lo + hi)
        th = 10.0 ** mid
        chdf, _ = channel_segments(src, meta, th, basin_threshold)
        with_ch = src.join(chdf.select("i", "j", "channels"), ["i", "j"])
        basins = delineate_basins(with_ch, meta)
        n = basins.filter(F.col("basins") > 0).select("basins").distinct().count()
        if best is None or abs(n - nbasins_goal) < abs(best[2] - nbasins_goal):
            best = (basins, th, n)  # keep the closest probe, not the last
        if abs(n - nbasins_goal) <= tolerance:
            break
        if n > nbasins_goal:  # too many basins -> raise threshold
            lo = mid
        else:
            hi = mid
    return best
