"""Pointer-doubling iteration over functional graphs (SURVEY.md §4.2 item 3).

The reference's downstream traversals are per-cell recursion along the D8
flow-direction pointer (``determine_basin_id`` terrain_tools.f90:1272-1293,
``determine_channel_depth`` :1704-1725). Distributed, each is "resolve every
node of a functional graph to the first DONE ancestor".

Two engines:

- ``resolve``: flat dataframe pointer doubling — O(log path) shuffle rounds,
  each a self-join of the WHOLE state. Right for small/irregular graphs.
- ``resolve_tiled``: the scale path for grid-cell graphs. Each tile resolves
  ALL its cells to a terminal with in-memory numpy pointer doubling (one
  shuffle total), leaving only the first out-of-tile hop unresolved; the
  cross-tile hop graph has O(perimeter) nodes — ~1% of cells at 4k tiles —
  and resolves with ``resolve``. Shuffle volume drops from
  O(cells x log path) to O(cells + perimeter x log crossings): the same
  condensation used by published parallel flow-routing algorithms
  (Barnes 2016/2017 priority-flood family).

State schema: (id long, done boolean, ptr long, label <any>). DONE rows carry
their final label; PENDING rows point at ``ptr``. Every ptr must reference an
existing id. ``resolve_tiled`` additionally needs (i, j) grid positions.

``connected_components`` labels an undirected pair list (near-dup group
resolution). It solves the whole graph in one grouped ``applyInPandas``
task (numpy min-root hooking + pointer jumping), so its Spark job count
does not grow with the component diameter. A pair with a NULL endpoint is
not an edge.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def resolve(state: DataFrame, max_rounds: int = 64) -> DataFrame:
    """Iterate until no PENDING rows remain; returns (id, label).

    Each round: join pending rows to their target's state — if the target is
    DONE adopt its label, else jump to the target's ptr (doubling). Each
    round is materialized with an eager localCheckpoint (the round's one
    job), so the convergence test is a cheap count over cached blocks, never
    a lineage recompute; at cluster scale this maps to an Iceberg snapshot
    per round (the checkpoint-resume story in plans/checkpointing.py).
    """
    state = state.localCheckpoint(eager=True)
    for _ in range(max_rounds):
        # count() fully materializes the previous round's lazy checkpoint and
        # answers convergence in the same job — one job per round total
        if state.filter(~F.col("done")).count() == 0:
            break
        target = state.select(
            F.col("id").alias("t_id"),
            F.col("done").alias("t_done"),
            F.col("ptr").alias("t_ptr"),
            F.col("label").alias("t_label"),
        )
        resolved = (
            state.filter(~F.col("done"))
            .join(target, F.col("ptr") == F.col("t_id"), "left")
            .select(
                "id",
                F.coalesce(F.col("t_done"), F.lit(True)).alias("done"),
                F.coalesce(F.col("t_ptr"), F.col("ptr")).alias("ptr"),
                F.when(F.coalesce(F.col("t_done"), F.lit(True)), F.col("t_label")).alias("label"),
            )
        )
        state = state.filter(F.col("done")).unionByName(resolved) \
                     .localCheckpoint(eager=False)
    return state.select("id", "label")


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
    lineage above it: read it once (the dedup callers fold their group
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


def resolve_tiled(state: DataFrame, meta, label_type: str = "double",
                  max_rounds: int = 64) -> DataFrame:
    """Tile-condensed resolution of a grid-cell functional graph.

    ``state``: (id, done, ptr, label, i, j) with id = i*meta.ny + j — the
    same state machine ``resolve`` takes. Returns (id, label) with label
    cast to ``label_type``; function value is IDENTICAL to ``resolve``
    (first DONE ancestor's label; unresolved/cyclic -> null), but the heavy
    lifting happens inside one numpy kernel per tile.
    """
    t = meta.tile
    st = (state.withColumn("_ti", (F.col("i") / t).cast("int"))
               .withColumn("_tj", (F.col("j") / t).cast("int")))

    out_schema = "id long, fin boolean, label double, ext long"

    def kern(key, pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["id"].to_numpy(np.int64)
        n = ids.size
        done = pdf["done"].to_numpy(bool)
        praw = pdf["ptr"].to_numpy()
        ptr = np.where(pd.isna(praw), -1, praw).astype(np.int64)
        lab = pd.to_numeric(pdf["label"], errors="coerce").to_numpy(np.float64)
        order = np.argsort(ids, kind="stable")
        sid = ids[order]
        loc = np.clip(np.searchsorted(sid, ptr), 0, n - 1)
        internal = (~done) & (sid[loc] == ptr)
        succ = np.arange(n)
        succ[internal] = order[loc[internal]]
        # pointer doubling to the in-tile terminal (terminals self-loop)
        for _ in range(int(np.ceil(np.log2(max(n, 2)))) + 1):
            succ = succ[succ]
        fin = done[succ]
        # a pending terminal that still points in-tile is a cycle -> null
        cyc = (~fin) & internal[succ]
        out_label = np.where(fin, lab[succ], np.nan)
        ext = np.where(fin | cyc, -1, ptr[succ])
        return pd.DataFrame({"id": ids, "fin": fin | cyc,
                             "label": out_label, "ext": ext})

    part1 = (st.groupBy("_ti", "_tj").applyInPandas(kern, schema=out_schema)
             .localCheckpoint(eager=True))

    # cross-tile hop graph: nodes = distinct hop-target cells (O(perimeter))
    hops = part1.filter(~F.col("fin")).select(F.col("ext").alias("hid")).distinct()
    hop_state = (part1.join(hops, part1.id == F.col("hid"))
                 .select("id", F.col("fin").alias("done"),
                         F.col("ext").alias("ptr"), "label"))
    resolved = resolve(hop_state, max_rounds) \
        .select(F.col("id").alias("rid"), F.col("label").alias("hop_label"))

    out = part1.join(resolved, part1.ext == F.col("rid"), "left")
    label = F.when(F.col("fin"), F.col("label")).otherwise(F.col("hop_label"))
    # the numpy kernel encodes null labels as NaN (Arrow has no null-in-
    # float64 here) — map back to SQL NULL before the cast, matching
    # ``resolve``'s unresolved/null-label semantics exactly
    label = F.when(F.isnan(label), F.lit(None)).otherwise(label)
    return out.select("id", label.cast(label_type).alias("label"))
