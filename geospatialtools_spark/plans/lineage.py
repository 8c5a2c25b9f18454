"""Per-partition lineage & metrics records (north_rule requirement).

``lineage_records(df, stage)`` emits one record per parquet file behind a
committed stage: (stage, partition_id, rows, bytes_estimate). The id is the
write task's partition, from Spark's ``part-NNNNN-`` file name; rows and
bytes (summed row-group sizes) come from the file's footer. The StageRunner
appends these to ``<root>/_lineage`` at every commit: a who-wrote-what
trail per stage per partition.

Kept as its own module because it is a footer read on the driver: no Spark
job and no scan of the data, one metadata read per written file.
"""

from __future__ import annotations

import os
import re
from urllib.parse import unquote, urlparse

import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import DataFrame

_SCHEMA = "stage string, partition_id int, rows long, bytes_estimate long"
_PART_RE = re.compile(r"^part-(\d+)-")


def lineage_records(df: DataFrame, stage: str) -> DataFrame:
    """One row per parquet file behind ``df``, sorted by partition id.

    ``df`` must be a parquet read of a local directory (a committed
    stage); a frame with no input files raises ``ValueError``."""
    files = df.inputFiles()
    if not files:
        raise ValueError("lineage_records needs a parquet-backed DataFrame; "
                         "this one has no input files")
    recs = []
    for f in files:
        path = unquote(urlparse(f).path)
        m = _PART_RE.match(os.path.basename(path))
        if m is None:
            raise ValueError(f"not a Spark part file: {f}")
        meta = pq.read_metadata(path)
        recs.append({
            "stage": stage, "partition_id": int(m.group(1)),
            "rows": meta.num_rows,
            "bytes_estimate": sum(meta.row_group(i).total_byte_size
                                  for i in range(meta.num_row_groups)),
        })
    pdf = pd.DataFrame(recs).sort_values("partition_id", kind="stable")
    return df.sparkSession.createDataFrame(pdf, _SCHEMA)
