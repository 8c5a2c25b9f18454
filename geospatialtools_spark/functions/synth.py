"""Deterministic cross-engine derivations for the driver's correctness gate.

The driver compares every ``queries()[name]`` against ``oracle_sql()[name]``
(DuckDB) on the same parquet tables. Spatial inputs (coordinates, grids,
polygons) are not present in the driver tables, so they are DERIVED from
them — with pure integer modular arithmetic and md5 string hashes, both of
which evaluate bit-identically in Spark and DuckDB. Each derivation here has
a Spark Column form and a SQL text form, kept adjacent so they cannot drift.

Grid convention for the SQL-oracle spatial queries: unit extent [0,1) x
[0,1), G x G cells, cell (i, j) covers [i/G,(i+1)/G) x [j/G,(j+1)/G) in
(lat, lon); centers at ((i+.5)/G, (j+.5)/G). Coordinates are constructed so
no point ever falls exactly on a cell edge or center (denominators are the
prime 1000003, coprime with 2G), so floor/round boundary behavior can never
differ between engines.

Users: the gate (``__spark_entry__``), the ``attach`` workload in
``perfbench/wl_attach.py`` and the ``bench.py`` flagship, which all place
docs and polygons with these same derivations.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

G = 64                     # SQL-oracle grid cells per side
M = 1000003                # prime modulus for coordinate derivation
A1, B1 = 2654435761, 987654321   # lon stream
A2, B2 = 1103515245, 12345       # lat stream
HOT_MOD, HOT_LT = 10, 2          # 20% of docs land in the hotspot


def doc_u(doc_id: Column, a: int, b: int) -> Column:
    return ((doc_id * a + b) % M) / float(M)


def doc_lon(doc_id: Column) -> Column:
    """Uniform in [0,1); hot docs squeezed into [0.30, 0.40) (skew)."""
    u = doc_u(doc_id, A1, B1)
    hot = (doc_id % HOT_MOD) < HOT_LT
    return F.when(hot, 0.30 + 0.10 * u).otherwise(u)


def doc_lat(doc_id: Column) -> Column:
    u = doc_u(doc_id, A2, B2)
    hot = (doc_id % HOT_MOD) < HOT_LT
    return F.when(hot, 0.35 + 0.10 * u).otherwise(u)


SQL_DOC_LON = (f"(CASE WHEN doc_id % {HOT_MOD} < {HOT_LT} "
               f"THEN 0.30 + 0.10 * (((doc_id * {A1} + {B1}) % {M}) / {M}.0) "
               f"ELSE ((doc_id * {A1} + {B1}) % {M}) / {M}.0 END)")
SQL_DOC_LAT = (f"(CASE WHEN doc_id % {HOT_MOD} < {HOT_LT} "
               f"THEN 0.35 + 0.10 * (((doc_id * {A2} + {B2}) % {M}) / {M}.0) "
               f"ELSE ((doc_id * {A2} + {B2}) % {M}) / {M}.0 END)")


# ---- synthetic DEM grid (value from integer hash of (i, j)) ----

DEM_A, DEM_B, DEM_C, DEM_M = 7919, 104729, 12347, 100003


def grid_value(i: Column, j: Column) -> Column:
    return ((i * DEM_A + j * DEM_B + DEM_C) % DEM_M) / float(DEM_M) * 100.0


def grid_df(spark, g: int = G):
    """G x G cell table (i, j, value) from spark.range — no data files."""
    return (
        spark.range(g * g)
        .select((F.col("id") / g).cast("long").alias("i"),
                (F.col("id") % g).cast("long").alias("j"))
        .withColumn("value", grid_value(F.col("i"), F.col("j")))
    )


def sql_grid(g: int = G) -> str:
    """DuckDB CTE body producing the identical grid."""
    return (f"SELECT CAST(idx // {g} AS BIGINT) AS i, CAST(idx % {g} AS BIGINT) AS j, "
            f"((idx // {g}) * {DEM_A} + (idx % {g}) * {DEM_B} + {DEM_C}) % {DEM_M} "
            f"/ {DEM_M}.0 * 100.0 AS value "
            f"FROM range({g * g}) t(idx)")


# ---- rectangles for the rasterize oracle (edges on the 1/(3G) lattice,
#      provably never through a cell center; overlap -> last id wins) ----

RECTS = [  # (rect_id, attr, x0, y0, x1, y1) in unit-extent fractions k/192
    (0, 10.0, 10 / 192, 8 / 192, 58 / 192, 50 / 192),
    (1, 11.0, 40 / 192, 30 / 192, 100 / 192, 80 / 192),     # overlaps 0
    (2, 12.0, 110 / 192, 10 / 192, 170 / 192, 64 / 192),
    (3, 13.0, 20 / 192, 100 / 192, 80 / 192, 160 / 192),
    (4, 14.0, 70 / 192, 130 / 192, 130 / 192, 185 / 192),   # overlaps 3
    (5, 15.0, 140 / 192, 100 / 192, 188 / 192, 150 / 192),
    (6, 16.0, 1 / 192, 170 / 192, 40 / 192, 191 / 192),
    (7, 17.0, 100 / 192, 1 / 192, 104 / 192, 190 / 192),    # tall sliver
]


def rects_polygon_pdf():
    """RECTS as the engine's (polygon_id, attr, wkb) polygon table."""
    import numpy as np
    import pandas as pd

    from ..geometry import polygon_to_wkb
    rows = []
    for rid, attr, x0, y0, x1, y1 in RECTS:
        ring = np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1]])
        rows.append({"polygon_id": rid, "attr": attr, "wkb": polygon_to_wkb([ring])})
    return pd.DataFrame(rows)


def sql_rects() -> str:
    vals = ", ".join(f"({rid}, {attr}, {x0!r}, {y0!r}, {x1!r}, {y1!r})"
                     for rid, attr, x0, y0, x1, y1 in RECTS)
    return (f"SELECT * FROM (VALUES {vals}) "
            f"AS rects(rect_id, attr, x0, y0, x1, y1)")


# ---- kNN query points ----

NQ = 20
QA1, QB1 = 48271, 11            # query lon stream
QA2, QB2 = 69621, 7             # query lat stream


def query_points_df(spark, nq: int = NQ):
    return (
        spark.range(nq)
        .select(F.col("id").alias("query_id"),
                (((F.col("id") * QA2 + QB2) % M) / float(M)).alias("lat"),
                (((F.col("id") * QA1 + QB1) % M) / float(M)).alias("lon"))
    )


def sql_query_points(nq: int = NQ) -> str:
    return (f"SELECT idx AS query_id, "
            f"((idx * {QA2} + {QB2}) % {M}) / {M}.0 AS lat, "
            f"((idx * {QA1} + {QB1}) % {M}) / {M}.0 AS lon "
            f"FROM range({nq}) t(idx)")


SQL_HAVERSINE = (
    "6372800.0 * 2 * atan2("
    "sqrt(pow(sin(radians({lat1} - {lat0}) / 2), 2) "
    "+ cos(radians({lat0})) * cos(radians({lat1})) "
    "* pow(sin(radians({lon1} - {lon0}) / 2), 2)), "
    "sqrt(1 - (pow(sin(radians({lat1} - {lat0}) / 2), 2) "
    "+ cos(radians({lat0})) * cos(radians({lat1})) "
    "* pow(sin(radians({lon1} - {lon0}) / 2), 2))))"
)


# ---- interleaved spans derivation (doc table -> spans array) ----
# Not SQL-oracled (nested struct build); deterministic from doc_id + text.

def with_spans(docs):
    """Derive an interleaved span sequence per doc: the text split into two
    text spans with an image span (media_ref) between them when the doc is
    long enough — offsets strictly increasing. Deterministic, no RNG."""
    half = (F.length("text") / 2).cast("int")
    first = F.substring(F.col("text"), 1, F.greatest(half, F.lit(1)))
    rest = F.expr("substring(text, greatest(cast(length(text)/2 as int), 1) + 1)")
    has_media = (F.col("doc_id") % 3) == 0
    img = F.struct(F.lit("image").alias("kind"), F.lit(None).cast("string").alias("text"),
                   F.concat(F.lit("blob://doc/"), F.col("doc_id").cast("string")).alias("media_ref"),
                   half.alias("offset"))
    t1 = F.struct(F.lit("text").alias("kind"), first.alias("text"),
                  F.lit(None).cast("string").alias("media_ref"), F.lit(0).alias("offset"))
    t2 = F.struct(F.lit("text").alias("kind"), rest.alias("text"),
                  F.lit(None).cast("string").alias("media_ref"), (half + 1).alias("offset"))
    spans = F.when(has_media, F.array(t1, img, t2)).otherwise(F.array(t1, t2))
    return docs.withColumn("spans", spans)
