"""Partition-local grouped map — the many-tiny-groups fast path.

``applyInPandas`` costs one Python/Arrow roundtrip PER GROUP; with zone
counts in the thousands (millions at production scale) and a few hundred
rows per zone, the per-group overhead (~10-20 ms) dominates the actual
numerics by 10-100x. ``grouped_map`` instead:

1. hash-partitions by the group keys (every group lands whole in exactly
   one partition),
2. runs ONE ``mapInPandas`` pass per partition, concatenating the
   partition's Arrow batches and applying the kernel per group with a local
   pandas groupby — hundreds of groups per Python call.

Memory: a partition holds ~(#groups/#partitions) groups; tune
``spark.sql.shuffle.partitions`` so that stays well inside executor heap
(zone tables are small rows — thousands of groups per partition are fine).
Measured: create_hrus over ~6k (hillslope, tile) groups on a 256^2 grid
dropped from 152 s to a few seconds.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def grouped_map(df: DataFrame, keys: list[str],
                fn: Callable[[pd.DataFrame], pd.DataFrame],
                schema: str) -> DataFrame:
    """apply ``fn`` to every key-group of ``df``; one Python call per
    PARTITION, not per group. ``fn`` receives one group's rows (like
    applyInPandas) and returns a DataFrame matching ``schema``."""
    parted = df.repartition(*keys)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        chunks = list(batches)
        if not chunks:
            return
        pdf = pd.concat(chunks, ignore_index=True) if len(chunks) > 1 else chunks[0]
        if not len(pdf):
            return
        for _, g in pdf.groupby(keys, sort=True):
            out = fn(g)
            if out is not None and len(out):
                yield out

    return parted.mapInPandas(run, schema=schema)
