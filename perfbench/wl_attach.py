"""``attach``: the north_rule flagship. Burn 8 rectangles onto a 1024²
grid on the broadcast point-in-polygon path, then attach (i, j), a
quad-cell id and a tile id to N interleaved docs (20% in a hotspot) and
hash every span sequence.

Inputs: the docs table is written as parquet by pyarrow from numpy arrays
built with the ``functions.synth`` coordinate formulas over a doc-id range
offset by the seed. Ground truth: numpy over the same arrays, with
``oracle/rasterize.py`` for the burn.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from geospatialtools_spark.functions import synth as SY
from geospatialtools_spark.grid import UNDEF, GridMeta
from geospatialtools_spark.operators.docs import (attach_grid_cell,
                                                  attach_tile,
                                                  span_fingerprint)
from geospatialtools_spark.operators.rasterize import rasterize
from geospatialtools_spark.oracle import rasterize as oracle_rasterize

from harness import force

N_DOCS = 500_000
GRID = 1024
TILE = 128
FILES = 8
CELL_RES = 20
NAME = "attach"
ITEM = "docs"
SIZES = {"docs": N_DOCS, "grid": GRID, "tile": TILE, "rects": 8}
WARMUP_REPS = 2
MIN_REPS = 1
LAYERS = ["rasterize", "cellindex", "docs"]
# the terrain chain costs about a minute cold, too long for every timed
# run, so its layers are measured in attach's traced run only
TRACED_SECTIONS = ["terrain"]
META = GridMeta(nx=GRID, ny=GRID, minx=0.0, miny=0.0,
                resx=1.0 / GRID, resy=1.0 / GRID, tile=TILE)


def _coords(doc_id: np.ndarray, a: int, b: int, lo: float) -> np.ndarray:
    u = ((doc_id * a + b) % SY.M) / float(SY.M)
    hot = (doc_id % SY.HOT_MOD) < SY.HOT_LT
    return np.where(hot, lo + 0.10 * u, u)


def _docs_table(seed: int) -> tuple[pa.Table, dict]:
    doc_id = (seed % 1000) * N_DOCS + np.arange(N_DOCS, dtype=np.int64)
    lon = _coords(doc_id, SY.A1, SY.B1, 0.30)
    lat = _coords(doc_id, SY.A2, SY.B2, 0.35)
    body = doc_id % 9973
    media = doc_id % 3 == 0
    # spans per doc: text "document body <k>", an image span on every
    # third doc, then a shared text tail
    n_sp = 2 + media.astype(np.int64)
    starts = np.concatenate([[0], np.cumsum(n_sp)])
    total = int(starts[-1])
    first, last = starts[:-1], starts[1:] - 1
    head = pc.binary_join_element_wise(
        "document body ", pa.array(body).cast(pa.string()), "")
    tail = " with some repeated filler text"
    kind_idx = np.ones(total, dtype=np.int64)          # 1 = image
    kind_idx[first] = 0
    kind_idx[last] = 0
    text_idx = np.full(total, N_DOCS + 1, dtype=np.int64)   # NULL
    text_idx[first] = np.arange(N_DOCS)
    text_idx[last] = N_DOCS                                 # the tail
    media_idx = np.full(total, N_DOCS, dtype=np.int64)      # NULL
    media_idx[first[media] + 1] = np.nonzero(media)[0]
    offs = np.zeros(total, dtype=np.int32)
    head_len = pc.utf8_length(head).to_numpy().astype(np.int32)
    offs[last] = head_len + media.astype(np.int32)
    offs[first[media] + 1] = head_len[media]
    texts = pa.concat_arrays([head, pa.array([tail, None], pa.string())])
    refs = pa.concat_arrays([
        pc.binary_join_element_wise(
            "blob://doc/", pa.array(doc_id).cast(pa.string()), ""),
        pa.array([None], pa.string())])
    spans = pa.ListArray.from_arrays(
        pa.array(starts, pa.int32()),
        pa.StructArray.from_arrays(
            [pa.array(["text", "image"]).take(pa.array(kind_idx)),
             texts.take(pa.array(text_idx)),
             refs.take(pa.array(media_idx)),
             pa.array(offs)],
            names=["kind", "text", "media_ref", "offset"]))
    table = pa.table({"doc_id": doc_id, "spans": spans, "lat": lat,
                      "lon": lon})
    return table, {"doc_id": doc_id, "lat": lat, "lon": lon, "body": body,
                   "media": media}


def generate(spark, seed: int, work: str) -> dict:
    """Write the doc table and build the grid and polygon inputs."""
    table, arrays = _docs_table(seed)
    path = os.path.join(work, "docs")
    os.makedirs(path)
    step = -(-N_DOCS // FILES)
    for k in range(FILES):
        pq.write_table(table.slice(k * step, step),
                       os.path.join(path, f"part-{k:03d}.parquet"))
    cells = (spark.range(GRID * GRID)
             .select((F.col("id") / GRID).cast("int").alias("i"),
                     (F.col("id") % GRID).cast("int").alias("j"))
             .withColumn("tile_i", (F.col("i") / TILE).cast("int"))
             .withColumn("tile_j", (F.col("j") / TILE).cast("int")))
    polys_pdf = SY.rects_polygon_pdf()
    return {"docs": path, "cells": cells, "polys_pdf": polys_pdf,
            "polys": spark.createDataFrame(polys_pdf), "arrays": arrays,
            "items": N_DOCS}


def expected(inp: dict) -> dict:
    """Numpy ground truth over the generated rows."""
    a = inp["arrays"]
    burned = oracle_rasterize.rasterize(META, inp["polys_pdf"])
    i, j = META.point_to_ij(a["lon"], a["lat"])
    i, j = i.astype(np.int64), j.astype(np.int64)
    inside = (i >= 0) & (i < GRID) & (j >= 0) & (j < GRID)
    tiled = np.zeros(len(i), dtype=bool)
    tiled[inside] = burned[i[inside], j[inside]] != np.float32(UNDEF)
    # a doc with an image span is unique by its media_ref; the others are
    # told apart by their body number alone
    n_seq = int(a["media"].sum()) + len(np.unique(a["body"][~a["media"]]))
    return {"n": len(i), "n_tiled": int(tiled.sum()), "n_fp": n_seq}


def run_rep(spark, inp: dict, tracer, rep_dir: str) -> dict:
    """One timed rep: burn the grid, then attach every doc."""
    with tracer.span("rasterize", "burn"):
        burned = rasterize(inp["cells"], inp["polys"], META) \
            .localCheckpoint(eager=True)
    with tracer.span("docs", "attach"):
        docs = span_fingerprint(spark.read.parquet(inp["docs"]))
        out = attach_tile(attach_grid_cell(docs, META, res=CELL_RES), burned)
        agg = out.agg(
            F.count("*").alias("n"),
            F.count("tile_id").alias("n_tiled"),
            F.count_distinct("span_fp").alias("n_fp")).first()
    return {"agg": agg.asDict()}


resume = None   # attach commits nothing, so there is nothing to reopen


def check(spark, inp: dict, want: dict, out: dict) -> list[str]:
    got = out["agg"]
    return [f"{k}: got {got[k]}, want {want[k]}"
            for k in ("n", "n_tiled", "n_fp") if got[k] != want[k]]


def quality(spark, inp: dict, want: dict, out: dict) -> dict:
    return {}


def isolate(spark, inp: dict, out: dict, tracer) -> dict:
    """Quad-cell encoding runs lazily inside the attach job; time it alone
    on the same docs, held in memory first."""
    docs = spark.read.parquet(inp["docs"]).localCheckpoint(eager=True)
    with tracer.span("cellindex", "encode", kind="iso"):
        force(attach_grid_cell(docs, META, res=CELL_RES))
    return {}
