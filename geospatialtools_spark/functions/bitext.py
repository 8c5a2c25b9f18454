"""Bitext mining: margin-based parallel-pair extraction over two
embedding tables — the operator that builds translation training data
from two monolingual corpora (Artetxe & Schwenk 2019, "Margin-based
Parallel Corpus Mining with Multilingual Sentence Embeddings"; the
CCMatrix pipeline's core step, Schwenk et al. 2021). Raw cosine cannot
mine pairs because embedding-space density varies (a hub sentence is
close to everything); the RATIO margin normalizes each pair's cosine by
the mean of both endpoints' k-nearest-neighbor cosines::

    margin(x, y) = cos(x, y) / ((avg_k cos(x, NN_k(x in tgt))
                                 + avg_k cos(y, NN_k(y in src))) / 2)

so a pair only scores high when the two sides single each other out
from their respective neighborhoods.

Two layers, matching the repo's ANN factoring (similarity.py):

- ``margin_score`` — the reusable core: given ANY candidate-pair table
  with cosines, compute per-side top-k neighborhood averages and the
  margin. Per-side windows are PARTITIONED by the id (bounded by the
  candidate fan-out, never corpus-wide), the two averages are per-key
  aggregates joined back (AQE broadcasts when small). With candidates
  from ``similarity.bucketed_topk`` / ``ivf_probe`` this IS the
  CCMatrix shape: FAISS k-NN lists in, margins out.
- ``margin_mine`` — the exact path: brute all-pairs scoring (the same
  role ``cosine_topk`` plays for ANN — calibration baseline and the
  gate-oracle surface), then ``margin_score``, then best-match-per-src
  and a margin threshold; ``mutual=True`` keeps only pairs that are
  each other's best match (the high-precision mode the paper reports).

Float discipline (the cross-engine oracle contract used throughout this
repo): cosines are rounded to 6 before any ranking, margins rounded to 6
before thresholding and best-match ranking, ties broken by id — so
Spark and DuckDB agree bit-for-bit despite summation-order ulp noise in
the k-NN averages.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .similarity import cosine_expr


def margin_score(cand: DataFrame, k: int = 4,
                 src_id: str = "src_id", tgt_id: str = "tgt_id",
                 cos_col: str = "cosine",
                 margin_col: str = "margin") -> DataFrame:
    """Add the ratio margin to a candidate-pair table.

    ``cand`` holds (src_id, tgt_id, cosine) rows — from brute scoring or
    from a forward ∪ backward ANN pass. Each side's neighborhood average
    is taken over its top-``k`` rows IN THE CANDIDATE TABLE (exact when
    the candidates cover each side's true top-k, which brute scoring
    guarantees and a k'-NN candidate pass with k' >= k approximates —
    the same contract CCMatrix runs with FAISS lists).

    Plan shape: two row_number windows partitioned by src_id / tgt_id
    (bounded by the per-id candidate fan-out), two per-key aggregates,
    two joins back (AQE broadcast when the id sets are small). Nothing
    is corpus-wide.
    """
    wx = Window.partitionBy(src_id).orderBy(F.desc(cos_col), F.col(tgt_id))
    wy = Window.partitionBy(tgt_id).orderBy(F.desc(cos_col), F.col(src_id))
    d = (cand.withColumn("_rx", F.row_number().over(wx))
             .withColumn("_ry", F.row_number().over(wy)))
    ax = (d.filter(F.col("_rx") <= k)
           .groupBy(src_id).agg(F.avg(cos_col).alias("_ax")))
    ay = (d.filter(F.col("_ry") <= k)
           .groupBy(tgt_id).agg(F.avg(cos_col).alias("_ay")))
    # the ratio form is only meaningful over a POSITIVE denominator: two
    # all-negative neighborhoods would flip the ranking (-0.9 / -0.45 =
    # 2.0 "wins"), and a denominator rounding to zero divides by zero
    # with engine-dependent semantics. Such pairs get a NULL margin —
    # dropped by any threshold — instead of a nonsense score; the DuckDB
    # gate twin applies the identical CASE.
    den = (F.col("_ax") + F.col("_ay")) / 2
    return (d.drop("_rx", "_ry")
             .join(ax, src_id).join(ay, tgt_id)
             .withColumn(margin_col, F.when(
                 den > 0, F.round(F.col(cos_col) / den, 6)))
             .drop("_ax", "_ay"))


def margin_mine(src: DataFrame, tgt: DataFrame, k: int = 4,
                threshold: float = 1.0, mutual: bool = False,
                id_col: str = "vec_id", vec_col: str = "embedding",
                candidates: DataFrame | None = None) -> DataFrame:
    """Mine parallel pairs from two embedding tables.

    Returns (src_id, tgt_id, cosine, margin): for every src vector its
    best-margin tgt match with margin >= ``threshold``; ``mutual=True``
    additionally requires the pair to be tgt's best match too.

    ``candidates=None`` scores ALL (src, tgt) pairs exactly — the
    calibration/oracle path, quadratic by construction (same role as
    ``cosine_topk``): use it on samples to pick ``threshold``, not on
    two 10^9-row corpora. At scale pass ``candidates`` built from the
    bucketed ANN (forward src->tgt plus backward tgt->src ``bucketed_topk``
    / ``ivf_probe`` lists, unioned and distinct) and the same scoring,
    thresholding and best-match selection run over those lists only.
    """
    if candidates is None:
        from .util import widen_to_parallelism as _widen
        s = _widen(src).select(F.col(id_col).alias("src_id"),
                               F.col(vec_col).alias("_sv"))
        t = tgt.select(F.col(id_col).alias("tgt_id"),
                       F.col(vec_col).alias("_tv"))
        candidates = (s.crossJoin(t)
                      .select("src_id", "tgt_id",
                              F.round(cosine_expr(F.col("_sv"),
                                                  F.col("_tv")), 6)
                               .alias("cosine")))
    scored = margin_score(candidates, k=k)
    if mutual:
        # forward and backward best-match passes both consume scored —
        # materialize once instead of re-running the scoring lineage
        # (quadratic in the brute path) twice
        scored = scored.localCheckpoint(eager=True)
    wb = Window.partitionBy("src_id").orderBy(
        F.desc_nulls_last("margin"), F.col("tgt_id"))
    best = (scored.withColumn("_rb", F.row_number().over(wb))
            .filter((F.col("_rb") == 1)
                    & (F.col("margin") >= F.lit(float(threshold))))
            .drop("_rb"))
    if mutual:
        wt = Window.partitionBy("tgt_id").orderBy(
            F.desc_nulls_last("margin"), F.col("src_id"))
        best_t = (scored.withColumn("_rt", F.row_number().over(wt))
                  .filter(F.col("_rt") == 1)
                  .select("src_id", "tgt_id"))
        best = best.join(best_t, ["src_id", "tgt_id"], "left_semi")
    return best.select("src_id", "tgt_id", "cosine", "margin")


def lsh_candidates(src: DataFrame, tgt: DataFrame, dim: int,
                   n_planes: int = 10, probe_radius: int = 1,
                   id_col: str = "vec_id",
                   vec_col: str = "embedding") -> DataFrame:
    """Candidate (src_id, tgt_id, cosine) lists for ``margin_score`` via
    a sign-LSH bucket COGROUP with one GEMM per bucket — the 100 TB
    candidate generator.

    Why not a bucket equi-join scored per pair: the join materializes
    BOTH vectors on every candidate row, so a 10^8-candidate pass ships
    ~2 * dim * 4 bytes per pair through Arrow (measured 52 GB at 10^8
    pairs / dim 64 — the transfer, not the math, was the wall). The
    cogroup ships each bucket's vectors ONCE (src side exploded over its
    Hamming<=r probe buckets, tgt side plain), computes the bucket's
    full cosine matrix with ``similarity.cosine_matrix``, and emits only
    the scalar triples — input volume drops from O(pairs * dim) to
    O(rows * probes * dim). Multi-probe duplicates (a pair sharing
    several probe buckets) reduce to one row by a max() aggregate over
    the pair key (scalars only; see the note at the return). Cosines are
    float64-from-float32 round-6 — the value contract of ``cosine_expr``
    (parity tested) — so candidates feed ``margin_score`` with unchanged
    cross-engine semantics. A NULL or zero-norm vector is never a
    candidate: a NULL vector has a NULL bucket, which is filtered out
    before the cogroup (a cogroup groups NULL keys together), and a
    zero-norm pair's NaN cosine is dropped.

    Per-task memory is one bucket's src-probe rows x tgt rows matrix;
    with B buckets that is ~(|src|*probes/B) * (|tgt|/B) doubles — size
    ``n_planes`` so it fits (the skew guard of the dedup paths is not
    needed: bucket population is ~uniform for spread-out embeddings,
    and a pathological identical-vector family belongs to the dedup
    operators, not the miner).
    """
    import numpy as np
    import pandas as pd

    from .similarity import cosine_matrix, lsh_buckets, probe_buckets

    sb = (src.select(F.col(id_col).alias("src_id"),
                     F.col(vec_col).alias("_v"),
                     lsh_buckets(F.col(vec_col), dim, n_planes).alias("_b0"))
          .withColumn("_bucket", F.explode(F.array(
              *probe_buckets(F.col("_b0"), n_planes, probe_radius))))
          .drop("_b0")
          .filter(F.col("_bucket").isNotNull()))
    tb = (tgt.select(F.col(id_col).alias("tgt_id"),
                     F.col(vec_col).alias("_v"),
                     lsh_buckets(F.col(vec_col), dim, n_planes)
                     .alias("_bucket"))
          .filter(F.col("_bucket").isNotNull()))

    schema = ("src_id long, tgt_id long, cosine double")

    def score(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if not len(left) or not len(right):
            return pd.DataFrame({"src_id": [], "tgt_id": [],
                                 "cosine": []})
        C = cosine_matrix(np.stack(left["_v"].to_numpy()).astype(np.float64),
                          np.stack(right["_v"].to_numpy()).astype(np.float64))
        si = left["src_id"].to_numpy(np.int64)
        ti = right["tgt_id"].to_numpy(np.int64)
        keep = np.isfinite(C.ravel())
        return pd.DataFrame({
            "src_id": np.repeat(si, len(ti))[keep],
            "tgt_id": np.tile(ti, len(si))[keep],
            "cosine": C.ravel()[keep],
        })

    # dedup multi-probe repeats by PAIR KEY, not full row: the same pair
    # scored in two different-shaped bucket GEMMs could differ by an ulp
    # at a rounding boundary, and a full-row distinct would then leak a
    # duplicate pair into margin_score's top-k averages. max() resolves
    # any such disagreement deterministically (unlike dropDuplicates,
    # whose survivor is partition-order dependent).
    return (sb.groupBy("_bucket").cogroup(tb.groupBy("_bucket"))
            .applyInPandas(score, schema=schema)
            .groupBy("src_id", "tgt_id")
            .agg(F.max("cosine").alias("cosine")))
