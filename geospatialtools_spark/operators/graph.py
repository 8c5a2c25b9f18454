"""Graph solves behind the terrain traversals and near-dup grouping
(SURVEY.md §4.2 item 3).

The reference's downstream traversals are per-cell recursion along the D8
flow-direction pointer (``determine_basin_id`` terrain_tools.f90:1272-1293,
``determine_channel_depth`` :1704-1725). Distributed, each is "resolve every
node of a functional graph to the first DONE ancestor".

``resolve_tiled`` solves such a grid-cell graph with one numpy kernel,
``_pointer_doubling``, run twice. First each tile resolves all its cells to
an in-tile terminal, leaving only the first out-of-tile hop unresolved.
The cross-tile hop graph that remains has O(perimeter) nodes (~1% of cells
at 4k tiles) and is closed under that hop, so one grouped ``applyInPandas``
task then solves all of it. The Spark job count does not grow with path
length or tile crossings: the condense / solve once / finalize shape of
published parallel flow-routing algorithms (Barnes 2016/2017
priority-flood family).

State schema: (id long, done boolean, ptr long, label <any>, i, j), with
id = i*ny + j. DONE rows carry their final label; PENDING rows point at
``ptr``.

``connected_components`` labels an undirected pair list (semantic-dedup
groups, polygonize's tile-border merge; ``dedup._keeper_kernel`` runs
``_components_kernel`` itself). It solves the whole graph in
one grouped ``applyInPandas`` task (numpy min-root hooking + pointer
jumping), so its Spark job count does not grow with the component
diameter. A pair with a NULL endpoint is not an edge.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(pairs: DataFrame, src: str = "id_a",
                         dst: str = "id_b") -> DataFrame:
    """Connected components of an undirected pair list — (node, comp) with
    comp = min node id in the component.

    A pair with a NULL endpoint is not an edge: no NULL node is emitted,
    and neither is a node that appears only in such a pair. A self-loop
    (x, x) yields (x, x).

    The whole edge list is solved in ONE grouped ``applyInPandas`` task
    (``_components_kernel``), so the Spark job count does not grow with
    the graph or its diameter. That task holds every edge in one Python
    worker: near-dup pair lists are O(dup docs), not the corpus, and a
    random 4M-edge list solves in ~4 s and ~400 MB on one core.

    The result is lazy, so every read of it re-runs the solve and the pair
    lineage above it: read it once (``semantic_dedup`` folds its group
    sizes into one window) or cache it.
    """
    e = (pairs.select(F.col(src).alias("u"), F.col(dst).alias("v"))
         .filter(F.col("u").isNotNull() & F.col("v").isNotNull()))
    t = e.schema["u"].dataType.simpleString()
    # grouping on a named constant column: groupBy(F.lit(0)) fails to
    # resolve in applyInPandas on pyspark 4.1
    return (e.withColumn("_cc", F.lit(0)).groupBy("_cc")
            .applyInPandas(_components_kernel, schema=f"node {t}, comp {t}"))


def _components_kernel(pdf: pd.DataFrame) -> pd.DataFrame:
    """In-memory connected components of one edge list (u, v): nodes are
    renumbered to their rank, every component root hooks onto the smallest
    root across its edges (``np.minimum.at``), then pointer jumping
    (``lab = lab[lab]``) flattens the forest. Roots only ever hook onto
    smaller roots, so the forest stays acyclic and the component's min
    node ends as its root; every round with an edge between two trees
    hooks at least one root, so the loop ends (14 rounds for a randomly
    numbered 1M-node path, 4 for a random 1M-edge graph)."""
    u, v = pdf["u"].to_numpy(), pdf["v"].to_numpy()
    nodes, inv = np.unique(np.concatenate([u, v]), return_inverse=True)
    a, b = inv[:len(u)], inv[len(u):]
    lab = np.arange(len(nodes))
    while True:
        la, lb = lab[a], lab[b]
        cross = la != lb
        if not cross.any():
            break
        np.minimum.at(lab, np.maximum(la, lb)[cross], np.minimum(la, lb)[cross])
        while True:
            nxt = lab[lab]
            if np.array_equal(nxt, lab):
                break
            lab = nxt
    return pd.DataFrame({"node": nodes, "comp": nodes[lab]})


def _local_index(ids: np.ndarray, q: np.ndarray) -> np.ndarray:
    """Row of each id ``q`` in ``ids``; -1 where ``ids`` does not hold it."""
    if ids.size == 0:
        return np.full(q.shape, -1, dtype=np.int64)
    order = np.argsort(ids, kind="stable")
    loc = np.clip(np.searchsorted(ids[order], q), 0, ids.size - 1)
    return np.where(ids[order[loc]] == q, order[loc], -1)


def _pointer_doubling(pdf: pd.DataFrame) -> pd.DataFrame:
    """Resolve one group of (id, done, ptr, label) rows in memory.

    Pointers between rows of the group are followed by pointer doubling
    (``succ = succ[succ]``) to each row's terminal: a DONE row, or a
    PENDING row whose ``ptr`` leaves the group. Returns (id, fin, label,
    ext): ``fin`` rows are solved (label = the terminal's label, NaN for a
    NULL label or a cycle); the rest leave the group at ``ext``. Labels
    travel as float64 (Arrow has no null-in-float64 here)."""
    ids = pdf["id"].to_numpy(np.int64)
    n = ids.size
    done = pdf["done"].to_numpy(bool)
    praw = pdf["ptr"].to_numpy()
    ptr = np.where(pd.isna(praw), -1, praw).astype(np.int64)
    lab = pd.to_numeric(pdf["label"], errors="coerce").to_numpy(np.float64)
    loc = _local_index(ids, ptr)
    internal = (~done) & (loc >= 0)
    succ = np.arange(n)
    succ[internal] = loc[internal]
    # pointer doubling to the in-group terminal (terminals self-loop)
    for _ in range(int(np.ceil(np.log2(max(n, 2)))) + 1):
        succ = succ[succ]
    fin = done[succ]
    # a pending terminal that still points in-group is a cycle -> null
    cyc = (~fin) & internal[succ]
    out_label = np.where(fin, lab[succ], np.nan)
    ext = np.where(fin | cyc, -1, ptr[succ])
    return pd.DataFrame({"id": ids, "fin": fin | cyc,
                         "label": out_label, "ext": ext})


def resolve_tiled(state: DataFrame, meta, label_type: str = "double") -> DataFrame:
    """Resolve every row of a grid-cell functional graph to the label of
    its first DONE ancestor; returns (id, label), label cast to
    ``label_type``.

    ``state``: (id, done, ptr, label, i, j) with id = i*meta.ny + j. A DONE
    row keeps its own label, NULL included. A PENDING row takes the label
    of the first DONE row along ``ptr``, or NULL when its path enters a
    cycle or reaches a ``ptr`` that names no row. Labels pass through
    float64, so integer labels are exact below 2^53.

    ``_pointer_doubling`` runs once per tile, then once more in ONE task
    over the cross-tile hop graph: every hop target with its tile result.
    That task holds the whole hop graph in one Python worker; on one core
    a random 1M-node hop graph solves in ~1.1 s and ~280 MB, 4M nodes in
    ~9 s and ~760 MB.
    """
    t = meta.tile
    schema = "id long, fin boolean, label double, ext long"
    tiles = (state.withColumn("_ti", (F.col("i") / t).cast("int"))
             .withColumn("_tj", (F.col("j") / t).cast("int"))
             .groupBy("_ti", "_tj").applyInPandas(_pointer_doubling, schema=schema)
             .localCheckpoint(eager=True))

    # cross-tile hop graph: nodes = distinct hop-target cells, each with its
    # tile result; a pending node's ext is again a hop target
    hops = tiles.filter(~F.col("fin")).select(F.col("ext").alias("hid")).distinct()
    hop_state = (tiles.join(hops, tiles.id == F.col("hid"))
                 .select("id", F.col("fin").alias("done"),
                         F.col("ext").alias("ptr"), "label", F.lit(0).alias("_hg")))
    solved = (hop_state.groupBy("_hg").applyInPandas(_pointer_doubling, schema=schema)
              .select(F.col("id").alias("rid"), F.col("label").alias("hop_label")))

    out = tiles.join(solved, tiles.ext == F.col("rid"), "left")
    label = F.when(F.col("fin"), F.col("label")).otherwise(F.col("hop_label"))
    # the kernel encodes null labels as NaN; map back to SQL NULL before
    # the cast (an ext that names no row finds no hop and stays NULL)
    label = F.when(F.isnan(label), F.lit(None)).otherwise(label)
    return out.select("id", label.cast(label_type).alias("label"))
