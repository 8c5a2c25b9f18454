"""Deterministic synthetic inputs (FIXTURES.md F1-F8). Everything seeded;
no external data. These drive both the numpy-oracle golden rasters and the
Spark correctness/bench runs.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

from .geometry import polygon_to_wkb
from .grid import UNDEF, GridMeta

SEED = 42


def dem_meta(nx: int, ny: int, tile: int) -> GridMeta:
    """The one place the synthetic DEM's grid geometry is defined. Scripts
    that ingest via ``make_dem`` but need the meta before/without the arrays
    (e.g. resumable legs that skip the ingest stage) must call this rather
    than re-deriving resx/resy, so geometry can never diverge from the
    ingested cell table."""
    return GridMeta(nx=nx, ny=ny, minx=-30.0, miny=10.0,
                    resx=30.0 / ny / 3600.0 * 100, resy=30.0 / nx / 3600.0 * 100,
                    tile=tile)


def make_dem(nx: int = 128, ny: int = 128, tile: int = 64) -> tuple[GridMeta, np.ndarray, np.ndarray]:
    """F1: synthetic DEM — two Gaussian hills + tilted plane + seeded noise.

    Guarantees pits, channels, and >=2 basins. mask=0 band along the j-max
    edge (ocean), dem=-9999 there, exercising ocean-boundary pseudo-channels
    (``terrain_tools.f90:961-980``). Returns (meta, dem(float32), mask(int32)).
    """
    rng = np.random.RandomState(SEED)
    meta = dem_meta(nx, ny, tile)
    ii, jj = np.meshgrid(np.arange(nx), np.arange(ny), indexing="ij")
    x = jj / max(ny - 1, 1)
    y = ii / max(nx - 1, 1)
    dem = (
        60.0 * np.exp(-(((x - 0.30) ** 2 + (y - 0.35) ** 2) / 0.035))
        + 45.0 * np.exp(-(((x - 0.68) ** 2 + (y - 0.72) ** 2) / 0.06))
        + 25.0 * (1.0 - x)  # tilted plane draining toward the ocean edge
        + 8.0 * np.sin(6.0 * np.pi * y) * np.cos(4.0 * np.pi * x)
        + rng.normal(0.0, 0.35, size=(nx, ny))
    ).astype(np.float32)
    mask = np.ones((nx, ny), dtype=np.int32)
    ocean = max(2, ny // 16)
    mask[:, ny - ocean:] = 0
    dem = dem.copy()
    dem[mask == 0] = UNDEF
    return meta, dem, mask


def make_covariates(meta: GridMeta, dem: np.ndarray, mask: np.ndarray) -> dict[str, np.ndarray]:
    """F2: per-cell clustering covariates with -9999 holes."""
    rng = np.random.RandomState(SEED + 1)
    nx, ny = meta.nx, meta.ny
    ii, jj = np.meshgrid(np.arange(nx), np.arange(ny), indexing="ij")
    land = mask > 0
    cov = {}
    cov["tas"] = (288.0 - 0.05 * np.where(land, dem, 0.0) + 0.01 * ii).astype(np.float32)
    cov["prec"] = (800.0 + 2.0 * np.where(land, dem, 0.0) + 5.0 * np.sin(jj / 9.0)).astype(np.float32)
    cov["sand"] = (40.0 + 20.0 * np.sin(ii / 13.0) * np.cos(jj / 7.0)).astype(np.float32)
    cov["clay"] = (30.0 + 15.0 * np.cos(ii / 11.0)).astype(np.float32)
    for name, g in cov.items():
        g[~land] = UNDEF
        holes = rng.rand(nx, ny) < 0.01
        g[holes & land] = UNDEF
    return cov


def make_polygons(meta: GridMeta, n_extra: int = 12) -> pd.DataFrame:
    """F3: polygon table (polygon_id, attr, wkb) in grid CRS.

    Includes convex, concave, adjacent (shared edge), overlapping pair (burn
    order matters: last wins), a sliver thinner than one cell, and a polygon
    crossing the ocean-mask edge; plus seeded random convex polygons.
    """
    rng = np.random.RandomState(SEED + 2)
    w, h = meta.maxx - meta.minx, meta.maxy - meta.miny
    x0, y0 = meta.minx, meta.miny

    def box(fx0, fy0, fx1, fy1):
        return np.array([
            [x0 + fx0 * w, y0 + fy0 * h], [x0 + fx1 * w, y0 + fy0 * h],
            [x0 + fx1 * w, y0 + fy1 * h], [x0 + fx0 * w, y0 + fy1 * h],
        ])

    polys: list[list[np.ndarray]] = []
    # convex
    polys.append([box(0.05, 0.05, 0.30, 0.28)])
    # concave (L-shape)
    polys.append([np.array([
        [x0 + 0.35 * w, y0 + 0.05 * h], [x0 + 0.60 * w, y0 + 0.05 * h],
        [x0 + 0.60 * w, y0 + 0.30 * h], [x0 + 0.50 * w, y0 + 0.30 * h],
        [x0 + 0.50 * w, y0 + 0.15 * h], [x0 + 0.35 * w, y0 + 0.15 * h],
    ])])
    # adjacent pair (shared edge at fx=0.75)
    polys.append([box(0.65, 0.05, 0.75, 0.25)])
    polys.append([box(0.75, 0.05, 0.85, 0.25)])
    # overlapping pair (last-wins on the overlap)
    polys.append([box(0.05, 0.35, 0.25, 0.55)])
    polys.append([box(0.15, 0.45, 0.35, 0.65)])
    # sliver thinner than one cell
    polys.append([box(0.45, 0.40, 0.45 + 0.2 / meta.ny, 0.70)])
    # polygon with a hole
    polys.append([box(0.55, 0.40, 0.80, 0.65), box(0.62, 0.47, 0.73, 0.58)])
    # crosses the ocean-mask edge
    polys.append([box(0.90, 0.30, 1.05, 0.50)])
    # seeded random convex blobs
    for _ in range(n_extra):
        cx, cy = rng.rand() * w + x0, rng.rand() * h + y0
        r = (0.03 + 0.10 * rng.rand())
        ang = np.sort(rng.rand(rng.randint(5, 9)) * 2 * np.pi)
        pts = np.stack([cx + r * w * np.cos(ang), cy + r * h * np.sin(ang)], axis=1)
        polys.append([pts])

    rows = [{"polygon_id": k, "attr": float(10 + k), "wkb": polygon_to_wkb(rings)}
            for k, rings in enumerate(polys)]
    return pd.DataFrame(rows)


def make_points(meta: GridMeta, n: int = 500) -> pd.DataFrame:
    """F4: points incl. out-of-bounds (expect -9999) and on-edge points."""
    rng = np.random.RandomState(SEED + 3)
    w, h = meta.maxx - meta.minx, meta.maxy - meta.miny
    x = meta.minx + rng.rand(n) * w * 1.2 - 0.1 * w  # 20% out of bounds
    y = meta.miny + rng.rand(n) * h * 1.2 - 0.1 * h
    # exact cell-edge points (affine rounding rule, gdal_tools.py:19-20)
    x[:8] = meta.minx + np.arange(8) * meta.resx
    y[:8] = meta.miny + np.arange(8) * meta.resy
    return pd.DataFrame({"point_id": np.arange(n, dtype=np.int64), "lon": x, "lat": y})


_KINDS = np.array(["text", "image", "audio"])


def make_documents(meta: GridMeta, n: int = 1000, hotspot_frac: float = 0.2) -> pd.DataFrame:
    """F5: interleaved doc table (doc_id, spans, lat, lon).

    lat/lon derive deterministically from a hash of doc_id, mapped into the
    grid extent with a hotspot (~``hotspot_frac`` of docs in ~1% of the area)
    to exercise skew salting. spans: 1-8 structs, media_ref non-null iff
    kind != text, offset strictly increasing.
    """
    doc_ids = np.array([f"doc{k:012d}" for k in range(n)])
    h = np.array([
        int.from_bytes(hashlib.sha256(d.encode()).digest()[:8], "big")
        for d in doc_ids
    ], dtype=np.uint64)
    u1 = (h & np.uint64(0xFFFFFF)).astype(np.float64) / float(0xFFFFFF)
    u2 = ((h >> np.uint64(24)) & np.uint64(0xFFFFFF)).astype(np.float64) / float(0xFFFFFF)
    hot = (h >> np.uint64(48)).astype(np.float64) / float(0xFFFF) < hotspot_frac
    w, hh = meta.maxx - meta.minx, meta.maxy - meta.miny
    lon = meta.minx + u1 * w
    lat = meta.miny + u2 * hh
    lon[hot] = meta.minx + (0.30 + 0.10 * u1[hot]) * w
    lat[hot] = meta.miny + (0.35 + 0.10 * u2[hot]) * hh

    rng = np.random.RandomState(SEED + 4)
    nspans = rng.randint(1, 9, size=n)
    spans = []
    for k in range(n):
        offs, acc = [], 0
        row = []
        for s in range(nspans[k]):
            kind = _KINDS[rng.randint(0, 3)]
            acc += int(rng.randint(1, 64))
            row.append({
                "kind": str(kind),
                "text": f"{doc_ids[k]}-s{s}" if kind == "text" else None,
                "media_ref": None if kind == "text" else f"blob://{doc_ids[k]}/{s}",
                "offset": acc,
            })
        spans.append(row)
    return pd.DataFrame({"doc_id": doc_ids, "spans": spans, "lat": lat, "lon": lon})


def make_series(nt_in: int = 720) -> np.ndarray:
    """F7: time series for block averaging (float64, seeded)."""
    rng = np.random.RandomState(SEED + 6)
    t = np.arange(nt_in, dtype=np.float64)
    return (10.0 + np.sin(t / 24.0 * 2 * np.pi) + rng.normal(0, 0.1, nt_in)).astype(np.float64)


def saxton_golden() -> dict[str, np.ndarray]:
    """F8: the 12-sample Saxton-2006 table (``pedotransfer.py:118-124``)."""
    return {
        "clay": np.array([88.0, 80.0, 65.0, 40.0, 20.0, 10.0, 60.0, 30.0, 10.0, 10.0, 50.0, 25.0]) / 100,
        "sand": np.array([5.0, 5.0, 10.0, 20.0, 15.0, 5.0, 25.0, 35.0, 35.0, 45.0, 40.0, 50.0]) / 100,
        "om": 2.5,
        "ksat": np.array([108., 96.7, 50.3, 15.5, 16.1, 22., 11.3, 4.3, 5.7, 3.7, 1.4, 1.1]),
        "thetas": np.array([46., 46., 45., 46., 48., 48., 43., 48., 51., 52., 44., 50.]) / 100,
        "theta33": np.array([10., 12., 18., 28., 31., 30., 27., 36., 38., 41., 36., 42.]) / 100,
        "theta1500": np.array([5., 5., 8., 14., 11., 6., 17., 22., 22., 27., 25., 30.]) / 100,
    }


def planted_docs(spark, n: int, checkpoint: bool = True):
    """F9: controlled doc corpus with planted duplicate CLUSTERS — the
    dedup/curation ground-truth generator, in the package so spark-submit
    jobs (``scripts/run_curation.py``) ship it inside the package zip.

    Per 20-doc block starting at m: docs m/m+1/m+2 form a transitive
    3-cluster (m+1 = exact copy of m, m+2 = m plus one appended token,
    jaccard ~= 0.91 at 3-shingles) and docs m+10/m+11 a near 2-cluster.
    Bodies are hash-random (xxhash64 tokens), so the ONLY similar pairs
    are the planted ones and dedup precision/recall are exact ground
    truth, not estimates. Columns: doc_id, text, n_chars (curation
    weight), source (web/wiki/code at ~70/20/10% by id hash — the
    domain-mixture knob's input).
    """
    from pyspark.sql import functions as F
    mod = F.col("doc_id") % 20
    src = F.when(mod == 1, F.col("doc_id") - 1) \
           .when(mod == 2, F.col("doc_id") - 2) \
           .when(mod == 11, F.col("doc_id") - 1) \
           .otherwise(F.col("doc_id"))
    body = F.concat_ws(" ", F.transform(
        F.sequence(F.lit(0), F.lit(11)),
        lambda i: F.concat(F.lit("w"), F.pmod(F.xxhash64(
            F.concat(src.cast("string"), F.lit("_"), i.cast("string"))),
            F.lit(999983)).cast("string"))))
    dom = F.pmod(F.xxhash64(F.col("doc_id").cast("string"), F.lit("dom")),
                 F.lit(10))
    d = (spark.range(n).select(F.col("id").alias("doc_id"))
         .withColumn("text", F.when((mod == 2) | (mod == 11),
                                    F.concat(body, F.lit(" extraword")))
                     .otherwise(body))
         .withColumn("n_chars", F.length("text").cast("long"))
         .withColumn("source", F.when(dom < 7, "web")
                                .when(dom < 9, "wiki")
                                .otherwise("code")))
    return d.localCheckpoint(eager=True) if checkpoint else d
