"""Benchmark decontamination at scale: exact per-document eval-set shingle
hits WITHOUT exploding or shuffling the corpus.

The inverted-index shape (``__spark_entry__.q_contamination``) explodes
every corpus document into its shingles and broadcast-joins the eval set —
correct, but the explode multiplies corpus rows ~|tokens|-fold and the
per-doc hit aggregation shuffles them. At 100 TB the corpus side dominates
and almost every document is clean, so the work is wasted on non-matches.

This module's two-stage shape keeps the corpus narrow:

1. **Broadcast fingerprint prefilter** — the eval set's distinct shingles
   hash ENGINE-side (``xxhash64``) into a sorted int64 array (8 bytes per
   eval shingle: ~80 MB for a 10M-shingle suite) that ships to every task
   once. Each corpus document's shingle fingerprints are likewise computed
   engine-side (``transform(shingles, xxhash64)`` — the JVM does all
   hashing), and one Arrow-vectorized ``searchsorted`` per batch counts
   candidate hits. No explode, no shuffle, no per-row python hashing.
2. **Exact verify of the maybe-docs only** — documents with >= 1 candidate
   hit (the contaminated sliver + 64-bit collision noise) re-run the exact
   inverted-index join against the eval shingle STRINGS. False positives
   (fingerprint collisions) die here; false negatives cannot exist (equal
   strings hash equal), so the result is EXACTLY the inverted-index
   answer — the gate twin is the same SQL, not a weaker contract.

Expected cost at a clean corpus: one narrow scan + searchsorted at memory
bandwidth; the explode/join/groupBy runs only over ``P(contaminated) * N``
documents.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as TY

from .dedup import shingles_pudf


def eval_fingerprints(eval_docs: DataFrame, text_col: str = "text",
                      k: int = 3) -> np.ndarray:
    """Sorted distinct int64 xxhash64 fingerprints of the eval set's word
    k-shingles. Driver-side numpy array — the eval set is the BOUNDED side
    (benchmark suites), 8 bytes per distinct shingle."""
    fps = (eval_docs
           .select(F.explode(shingles_pudf(k)(F.col(text_col))).alias("s"))
           .select(F.xxhash64(F.col("s")).alias("fp")).distinct())
    arr = fps.toPandas()["fp"].to_numpy(dtype=np.int64)
    arr.sort()
    return arr


def candidate_hits(docs: DataFrame, eval_fps: np.ndarray,
                   id_col: str = "doc_id", text_col: str = "text",
                   k: int = 3, out_col: str = "n_maybe") -> DataFrame:
    """Per-document count of shingles whose xxhash64 fingerprint appears in
    ``eval_fps`` (sorted int64). Zero false negatives; false positives only
    via 64-bit collisions. One narrow projection + one Arrow pass — the
    corpus never explodes or shuffles."""
    spark = docs.sparkSession
    bc = spark.sparkContext.broadcast(np.ascontiguousarray(eval_fps,
                                                           dtype=np.int64))

    @F.pandas_udf(TY.IntegerType())
    def probe(fp_arrays: pd.Series) -> pd.Series:
        ev = bc.value
        if not len(ev):
            return pd.Series(np.zeros(len(fp_arrays), dtype=np.int32))
        lens = np.fromiter((len(a) if a is not None else 0
                            for a in fp_arrays), dtype=np.int64,
                           count=len(fp_arrays))
        if not lens.sum():
            return pd.Series(np.zeros(len(fp_arrays), dtype=np.int32))
        flat = np.concatenate(
            [np.asarray(a, dtype=np.int64) for a in fp_arrays
             if a is not None and len(a)])
        idx = np.searchsorted(ev, flat)
        hit = np.where(idx < len(ev), ev[np.minimum(idx, len(ev) - 1)] == flat,
                       False).astype(np.int64)
        starts = np.zeros(len(lens), dtype=np.int64)
        np.cumsum(lens[:-1], out=starts[1:])
        sums = np.zeros(len(lens), dtype=np.int64)
        nz = lens > 0
        sums[nz] = np.add.reduceat(hit, starts[nz])
        return pd.Series(sums.astype(np.int32))

    fp_arr = F.transform(shingles_pudf(k)(F.col(text_col)),
                         lambda s: F.xxhash64(s))
    return docs.select(F.col(id_col), probe(fp_arr).alias(out_col))


def contamination_exact(docs: DataFrame, eval_docs: DataFrame,
                        id_col: str = "doc_id", text_col: str = "text",
                        k: int = 3) -> DataFrame:
    """Exact per-document eval-shingle hit counts ``(id_col, n_hits)`` for
    contaminated documents (n_hits >= 1) — bit-identical to the
    inverted-index join, at prefiltered cost (see module docstring).

    The maybe-docs (candidate_hits > 0) are the only rows that explode and
    join; the verify runs against the eval shingle STRINGS, so fingerprint
    collisions are removed and the output is exact.

    The eval side is shingled ONCE (checkpointed distinct-shingle frame):
    the fingerprint array and the verify join both derive from it. Both
    joins against the corpus carry explicit broadcast hints — the
    candidate-id set is tiny by construction but its size ESTIMATE derives
    from the corpus plan, so without the hint the planner would sort-merge
    the semi-join and shuffle the whole corpus (the exact cost this module
    exists to avoid)."""
    ev = (eval_docs
          .select(F.explode(shingles_pudf(k)(F.col(text_col))).alias("shingle"))
          .distinct().localCheckpoint(eager=True))
    fps = ev.select(F.xxhash64(F.col("shingle")).alias("fp")) \
            .toPandas()["fp"].to_numpy(dtype=np.int64)
    fps.sort()
    maybe_ids = (candidate_hits(docs, fps, id_col, text_col, k)
                 .filter(F.col("n_maybe") > 0).select(id_col))
    maybe = docs.join(F.broadcast(maybe_ids), id_col, "left_semi")
    sh = maybe.select(F.col(id_col),
                      F.explode(shingles_pudf(k)(F.col(text_col)))
                       .alias("shingle"))
    return (sh.join(F.broadcast(ev), "shingle")
            .groupBy(id_col).agg(F.count("*").alias("n_hits")))


# an eval band row as Spark holds it: an UnsafeRow null-bit word, three
# 8-byte slots (id, band, bhash offset) and the 32-char md5 hex bhash
_BAND_ROW_BYTES = 64


def contamination_near(docs: DataFrame, eval_docs: DataFrame,
                       id_col: str = "doc_id", text_col: str = "text",
                       eval_id_col: str | None = None,
                       k: int = 3, n_hashes: int | None = None,
                       bands: int | None = None) -> DataFrame:
    """NEAR-duplicate decontamination: corpus documents whose MinHash
    band signature collides with an eval-suite document — the paraphrase
    / light-edit leakage the exact-shingle paths above cannot see
    (the GPT-3 appendix-C / Dolma-style n-gram overlap check catches
    verbatim inclusion; a benchmark answer reworded past the shingle
    set needs the same Jaccard-banding net the dedup surface uses).

    Returns distinct ``(id_col, eval_id)`` candidate pairs under EXACTLY
    ``minhash_lsh_pairs``' contract (same ``_minhash_banded`` code and
    defaults, same banding recall curve: catches Jaccard >~ 0.5 at the
    default 4x4 banding) — restricted to CROSS pairs only. The corpus
    never self-joins: unlike wrapping ``incremental_dup_pairs`` (whose
    (new,new) leg would be a full corpus self-dedup), the only join here
    is corpus-bands x eval-bands.

    Scale shape: the eval side is small by nature (a benchmark suite —
    10^4..10^6 docs x bands rows). Its bands are an eager
    ``localCheckpoint``, counted (a read of the checkpointed blocks), and
    broadcast when that real size is within
    ``spark.sql.autoBroadcastJoinThreshold``: the corpus side stays a
    map-side hash probe, no corpus shuffle at all. An abnormally large
    eval side, past the threshold, gets the join the planner picks. The
    count is needed because the checkpoint carries its source's size
    estimate, which is unbounded for an RDD-backed source such as
    ``createDataFrame``. Bucket blowup is bounded by
    B_corpus x B_eval per bucket with B_eval small; there is no
    star_threshold here because the eval side caps every bucket.
    """
    from .dedup import LSH_BANDS, N_MINHASH, _minhash_banded
    n_hashes = N_MINHASH if n_hashes is None else n_hashes
    bands = LSH_BANDS if bands is None else bands
    eval_id_col = id_col if eval_id_col is None else eval_id_col
    cb = _minhash_banded(docs, text_col, id_col, k, n_hashes, bands)
    eb = _minhash_banded(eval_docs, text_col, eval_id_col,
                         k, n_hashes, bands) \
        .select(F.col("_id").alias("_eval_id"), "band", "bhash")
    limit = eval_docs.sparkSession._jsparkSession.sessionState().conf() \
        .autoBroadcastJoinThreshold()
    if eb.count() * _BAND_ROW_BYTES <= limit:
        eb = F.broadcast(eb)
    return (cb.join(eb, ["band", "bhash"])
            .select(F.col("_id").alias(id_col),
                    F.col("_eval_id").alias("eval_id"))
            .distinct())
