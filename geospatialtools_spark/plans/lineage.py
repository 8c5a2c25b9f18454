"""Per-partition lineage & metrics records (north_rule requirement).

``read_footers(paths, stage)`` reads each parquet footer a committed stage
wrote, once, and returns one record per file, (stage, partition_id, rows,
bytes_estimate), plus the files' Spark schema. The id is the write task's
partition, from Spark's ``part-NNNNN-`` file name; rows and bytes (summed
row-group sizes) come from the footer; the schema is the footer key Spark's
own schema inference reads. The StageRunner appends the records to
``<root>/_lineage`` at every commit (``append_lineage``: a who-wrote-what
trail per stage per partition) and reads the stage back with the schema.

Kept as its own module because it is a footer read on the driver:
``read_footers`` and ``append_lineage`` run no Spark job and scan no data.
``lineage_records(df, stage)`` returns the same records as a Spark frame,
so reading them back runs a job.
"""

from __future__ import annotations

import glob
import json
import os
import re
from urllib.parse import unquote, urlparse

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql.types import StructType

_SCHEMA = "stage string, partition_id int, rows long, bytes_estimate long"
_PART_RE = re.compile(r"^part-(\d+)-")
_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"
# the ``_lineage`` table: the records plus the stage that committed them
_LINEAGE = pa.schema([("stage", pa.string()), ("partition_id", pa.int32()),
                      ("rows", pa.int64()), ("bytes_estimate", pa.int64()),
                      ("committed_stage", pa.string())])


def part_files(d: str) -> list[str]:
    """The data files of a Spark parquet directory (Spark skips names
    starting with ``_`` or ``.``; every file it writes is ``part-*``)."""
    return sorted(glob.glob(os.path.join(d, "part-*")))


def _nullable(t):
    """The JSON form of a Spark type with every field and element
    nullable: a file read returns ``schema.asNullable``."""
    if isinstance(t, dict):
        t = {k: _nullable(v) for k, v in t.items()}
        for k in ("nullable", "containsNull", "valueContainsNull"):
            if k in t:
                t[k] = True
    elif isinstance(t, list):
        t = [_nullable(v) for v in t]
    return t


def _spark_schema(meta: pq.FileMetaData) -> StructType:
    """The schema ``spark.read.parquet`` gives a Spark-written file."""
    raw = (meta.metadata or {}).get(_ROW_METADATA)
    if raw is None:
        raise ValueError("not a Spark-written parquet file: no "
                         f"{_ROW_METADATA.decode()} footer key")
    return StructType.fromJson(_nullable(json.loads(raw)))


def read_schema(d: str) -> StructType:
    """The schema of a Spark parquet directory, from one file's footer."""
    return _spark_schema(pq.read_metadata(part_files(d)[0]))


def read_footers(paths: list[str], stage: str
                 ) -> tuple[pd.DataFrame, StructType]:
    """Lineage records (one per file, sorted by partition id) and the Spark
    schema of ``paths``, Spark part files of one write."""
    recs, schema = [], None
    for path in paths:
        m = _PART_RE.match(os.path.basename(path))
        if m is None:
            raise ValueError(f"not a Spark part file: {path}")
        meta = pq.read_metadata(path)
        if schema is None:
            schema = _spark_schema(meta)
        recs.append({
            "stage": stage, "partition_id": int(m.group(1)),
            "rows": meta.num_rows,
            "bytes_estimate": sum(meta.row_group(i).total_byte_size
                                  for i in range(meta.num_row_groups)),
        })
    pdf = pd.DataFrame(recs).sort_values("partition_id", kind="stable")
    return pdf, schema


def lineage_records(df: DataFrame, stage: str) -> DataFrame:
    """``read_footers``' records for the files behind ``df``, as a Spark
    frame.

    ``df`` must be a parquet read of a local directory (a committed
    stage); a frame with no input files raises ``ValueError``."""
    files = df.inputFiles()
    if not files:
        raise ValueError("lineage_records needs a parquet-backed DataFrame; "
                         "this one has no input files")
    pdf, _ = read_footers([unquote(urlparse(f).path) for f in files], stage)
    return df.sparkSession.createDataFrame(pdf, _SCHEMA)


def append_lineage(lin_dir: str, records: pd.DataFrame, stage: str,
                   token: str) -> None:
    """Append ``read_footers``' records to the ``_lineage`` table as one
    parquet file named after the commit ``token``. The file is written
    under a dot name, which Spark skips, and renamed into place, so a
    crash never leaves a torn file in the table."""
    os.makedirs(lin_dir, exist_ok=True)
    table = pa.Table.from_pandas(records.assign(committed_stage=stage),
                                 schema=_LINEAGE, preserve_index=False)
    name = f"part-00000-{token}.parquet"
    tmp = os.path.join(lin_dir, f".{name}.tmp")
    pq.write_table(table, tmp)
    os.replace(tmp, os.path.join(lin_dir, name))
