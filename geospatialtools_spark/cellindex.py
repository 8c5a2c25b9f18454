"""Hierarchical quad-cell spatial index (the engine's H3/S2 analog).

Pure numpy — runs vectorized inside Arrow-batched pandas UDFs (no per-row
Python, per BASELINE.json input_hint). The index is a Morton (Z-order)
quadtree over a normalized lon/lat square:

    cell_id (int64) = [1 bit guard][res (5 bits)][interleaved x/y bits (2*res)]

Properties used by the engine:
- ``encode(lat, lon, res)``: O(1) vectorized encode; equal cells <=> same
  quad at that resolution, so equi-joins on cell_id are spatial joins.
- prefix property: ``parent(cell)`` is a right-shift — Iceberg/parquet
  partitioning by a cell-id prefix gives partition pruning for spatial
  predicates.
- ``kring(cell, k)``: the (2k+1)^2 neighborhood, for expanding-ring kNN
  (SURVEY.md J8).
- ``cover_bbox``: conservative cover of a rectangle at an adaptive
  resolution, for polygon->cells explode before exact PIP refinement.

The reference has no spatial index at all (it rasterizes via GDAL
subprocesses, ``gdal_tools.py:170-192``); this module is the scale path
mandated by BASELINE.json north_rule ("H3/S2 index ... from scratch").
"""

from __future__ import annotations

import numpy as np

MAX_RES = 28  # 2^28 cells per axis ≈ 1.5m at the equator — plenty


def _part1by1(v: np.ndarray) -> np.ndarray:
    """Spread the low 32 bits of v into the even bit positions (Morton)."""
    v = v.astype(np.uint64) & np.uint64(0xFFFFFFFF)
    v = (v | (v << np.uint64(16))) & np.uint64(0x0000FFFF0000FFFF)
    v = (v | (v << np.uint64(8))) & np.uint64(0x00FF00FF00FF00FF)
    v = (v | (v << np.uint64(4))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    v = (v | (v << np.uint64(2))) & np.uint64(0x3333333333333333)
    v = (v | (v << np.uint64(1))) & np.uint64(0x5555555555555555)
    return v


def _compact1by1(v: np.ndarray) -> np.ndarray:
    v = v.astype(np.uint64) & np.uint64(0x5555555555555555)
    v = (v | (v >> np.uint64(1))) & np.uint64(0x3333333333333333)
    v = (v | (v >> np.uint64(2))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    v = (v | (v >> np.uint64(4))) & np.uint64(0x00FF00FF00FF00FF)
    v = (v | (v >> np.uint64(8))) & np.uint64(0x0000FFFF0000FFFF)
    v = (v | (v >> np.uint64(16))) & np.uint64(0x00000000FFFFFFFF)
    return v


def _xy_to_cell(x: np.ndarray, y: np.ndarray, res: int) -> np.ndarray:
    morton = _part1by1(x) | (_part1by1(y) << np.uint64(1))
    head = np.uint64((1 << 62) | (res << 56))
    return ((morton | head)).astype(np.int64)


def encode_xy(x: np.ndarray, y: np.ndarray, res: int) -> np.ndarray:
    """Integer grid coords (x, y in [0, 2^res)) -> cell ids."""
    n = np.int64(1) << np.int64(res)
    x = np.clip(np.asarray(x, dtype=np.int64), 0, n - 1)
    y = np.clip(np.asarray(y, dtype=np.int64), 0, n - 1)
    return _xy_to_cell(x.astype(np.uint64), y.astype(np.uint64), res)


def encode(lat: np.ndarray, lon: np.ndarray, res: int) -> np.ndarray:
    """lat in [-90, 90], lon in [-180, 180) -> int64 cell id at ``res``."""
    n = float(1 << res)
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    x = np.floor((lon + 180.0) / 360.0 * n)
    y = np.floor((lat + 90.0) / 180.0 * n)
    return encode_xy(x, y, res)


def cell_res(cell: np.ndarray) -> np.ndarray:
    return ((np.asarray(cell).astype(np.uint64) >> np.uint64(56)) & np.uint64(0x1F)).astype(np.int32)


def cell_to_xy(cell: np.ndarray):
    c = np.asarray(cell).astype(np.uint64)
    morton = c & np.uint64((1 << 56) - 1)
    x = _compact1by1(morton)
    y = _compact1by1(morton >> np.uint64(1))
    return x.astype(np.int64), y.astype(np.int64)


def parent(cell: np.ndarray, parent_res: int) -> np.ndarray:
    """Ancestor cell at a coarser resolution (prefix truncation)."""
    x, y = cell_to_xy(cell)
    res = cell_res(cell)
    shift = (res - parent_res).astype(np.int64)
    if np.any(shift < 0):
        raise ValueError("parent_res must be <= cell res")
    return encode_xy(x >> shift, y >> shift, parent_res)


def kring(cell: np.ndarray, k: int) -> np.ndarray:
    """All cells within Chebyshev distance k (the (2k+1)^2 block).

    Returns shape (len(cell), (2k+1)^2); out-of-grid neighbors are clipped to
    the grid edge (duplicates possible there — callers dedupe via distinct).
    """
    cell = np.atleast_1d(cell)
    x, y = cell_to_xy(cell)
    res = int(cell_res(cell)[0])
    offs = np.arange(-k, k + 1, dtype=np.int64)
    dx, dy = np.meshgrid(offs, offs, indexing="ij")
    nx = x[:, None] + dx.ravel()[None, :]
    ny = y[:, None] + dy.ravel()[None, :]
    return encode_xy(nx, ny, res)


def ring(cell: np.ndarray, k: int) -> np.ndarray:
    """Exactly the ring at Chebyshev distance k (hollow)."""
    if k == 0:
        return np.atleast_1d(cell)[:, None]
    cell = np.atleast_1d(cell)
    x, y = cell_to_xy(cell)
    res = int(cell_res(cell)[0])
    offs = []
    for dx in range(-k, k + 1):
        for dy in range(-k, k + 1):
            if max(abs(dx), abs(dy)) == k:
                offs.append((dx, dy))
    offs = np.array(offs, dtype=np.int64)
    nx = x[:, None] + offs[:, 0][None, :]
    ny = y[:, None] + offs[:, 1][None, :]
    return encode_xy(nx, ny, res)


def cover_bbox(min_lat: float, min_lon: float, max_lat: float, max_lon: float,
               res: int) -> np.ndarray:
    """All cells at ``res`` whose extent intersects the bbox (conservative)."""
    n = float(1 << res)
    x0 = int(np.clip(np.floor((min_lon + 180.0) / 360.0 * n), 0, n - 1))
    x1 = int(np.clip(np.floor((max_lon + 180.0) / 360.0 * n), 0, n - 1))
    y0 = int(np.clip(np.floor((min_lat + 90.0) / 180.0 * n), 0, n - 1))
    y1 = int(np.clip(np.floor((max_lat + 90.0) / 180.0 * n), 0, n - 1))
    xs = np.arange(x0, x1 + 1, dtype=np.int64)
    ys = np.arange(y0, y1 + 1, dtype=np.int64)
    gx, gy = np.meshgrid(xs, ys, indexing="ij")
    return encode_xy(gx.ravel(), gy.ravel(), res)
