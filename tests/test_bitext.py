"""Margin-based bitext mining (functions/bitext.py): numpy reference
parity for the ratio margin, planted-alignment recovery under noise,
mutual-mode precision, and candidate-path equivalence."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from geospatialtools_spark.functions.bitext import margin_mine, margin_score

DIM = 16


def _vec_df(spark, arr, id_start=0):
    rows = [(int(id_start + i), [float(x) for x in v])
            for i, v in enumerate(arr)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def _unit(rng, n, dim=DIM):
    v = rng.standard_normal((n, dim))
    return v / np.linalg.norm(v, axis=1, keepdims=True)


def _ref_mine(S, T, k, threshold):
    """Brute-force python twin: round-6 cosines, top-k neighborhood
    averages, round-6 margins, best-per-src with tgt-id tie-break."""
    Sf = S.astype(np.float32).astype(np.float64)
    Tf = T.astype(np.float32).astype(np.float64)
    cos = np.round(
        (Sf / np.linalg.norm(Sf, axis=1, keepdims=True))
        @ (Tf / np.linalg.norm(Tf, axis=1, keepdims=True)).T, 6)
    kx = min(k, cos.shape[1])
    ky = min(k, cos.shape[0])
    ax = np.sort(cos, axis=1)[:, -kx:].mean(axis=1)
    ay = np.sort(cos, axis=0)[-ky:, :].mean(axis=0)
    margin = np.round(cos / ((ax[:, None] + ay[None, :]) / 2), 6)
    out = {}
    for i in range(cos.shape[0]):
        j = int(np.lexsort((np.arange(cos.shape[1]), -margin[i]))[0])
        if margin[i, j] >= threshold:
            out[i] = (j, margin[i, j], cos[i, j])
    return out


def test_margin_mine_matches_numpy_reference(spark):
    rng = np.random.default_rng(7)
    S, T = _unit(rng, 30), _unit(rng, 40)
    got = {r["src_id"]: (r["tgt_id"], r["margin"], r["cosine"])
           for r in margin_mine(_vec_df(spark, S), _vec_df(spark, T),
                                k=4, threshold=0.0).collect()}
    exp = _ref_mine(S, T, k=4, threshold=0.0)
    assert set(got) == set(exp)
    for i, (j, m, c) in exp.items():
        gj, gm, gc = got[i]
        assert gj == j
        assert abs(gm - m) <= 2e-6        # avg-order ulp under the round
        assert gc == pytest.approx(c, abs=2e-6)


def test_margin_mine_recovers_planted_alignment(spark):
    # tgt = noisy copies of src under a shuffled id map, plus decoys:
    # mutual mining must recover the planted permutation exactly
    rng = np.random.default_rng(11)
    n = 60
    S = _unit(rng, n)
    perm = rng.permutation(n)
    noisy = S[perm] + 0.05 * rng.standard_normal((n, DIM))
    decoys = _unit(rng, 40)
    T = np.vstack([noisy, decoys])
    got = margin_mine(_vec_df(spark, S), _vec_df(spark, T),
                      k=4, threshold=1.02, mutual=True).collect()
    planted = {int(perm[j]): j for j in range(n)}  # src_id -> tgt_id
    assert len(got) >= int(0.95 * n)              # recall under noise
    for r in got:                                  # precision exact
        assert planted[r["src_id"]] == r["tgt_id"]
        assert r["tgt_id"] < n                     # never a decoy


def test_mutual_is_subset_of_forward(spark):
    rng = np.random.default_rng(3)
    S, T = _unit(rng, 25), _unit(rng, 25)
    fwd = {(r["src_id"], r["tgt_id"]) for r in
           margin_mine(_vec_df(spark, S), _vec_df(spark, T),
                       k=4, threshold=0.0).collect()}
    mut = {(r["src_id"], r["tgt_id"]) for r in
           margin_mine(_vec_df(spark, S), _vec_df(spark, T),
                       k=4, threshold=0.0, mutual=True).collect()}
    assert mut and mut <= fwd


def test_candidates_path_equals_brute_on_full_cross(spark):
    # margin_score over an explicitly-built full candidate table is the
    # brute path — the equivalence the ANN-candidates contract rests on
    rng = np.random.default_rng(5)
    S, T = _unit(rng, 20), _unit(rng, 30)
    from geospatialtools_spark.functions.similarity import cosine_expr
    s = _vec_df(spark, S).select(F.col("vec_id").alias("src_id"),
                                 F.col("embedding").alias("_sv"))
    t = _vec_df(spark, T).select(F.col("vec_id").alias("tgt_id"),
                                 F.col("embedding").alias("_tv"))
    cand = s.crossJoin(t).select(
        "src_id", "tgt_id",
        F.round(cosine_expr(F.col("_sv"), F.col("_tv")), 6).alias("cosine"))
    a = sorted(map(tuple, margin_mine(
        _vec_df(spark, S), _vec_df(spark, T), k=4,
        threshold=1.0).collect()))
    b = sorted(map(tuple, margin_mine(
        _vec_df(spark, S), _vec_df(spark, T), k=4, threshold=1.0,
        candidates=cand).collect()))
    assert a == b


def test_margin_score_bounded_per_key_windows(spark):
    # every src gets a margin row for each candidate; ids missing from
    # the candidate table simply don't appear (ANN-candidates contract)
    rng = np.random.default_rng(9)
    S, T = _unit(rng, 10), _unit(rng, 10)
    from geospatialtools_spark.functions.similarity import cosine_expr
    s = _vec_df(spark, S).select(F.col("vec_id").alias("src_id"),
                                 F.col("embedding").alias("_sv"))
    t = _vec_df(spark, T).select(F.col("vec_id").alias("tgt_id"),
                                 F.col("embedding").alias("_tv"))
    cand = (s.crossJoin(t)
            .filter((F.col("src_id") + F.col("tgt_id")) % 2 == 0)
            .select("src_id", "tgt_id",
                    F.round(cosine_expr(F.col("_sv"), F.col("_tv")), 6)
                     .alias("cosine")))
    scored = margin_score(cand, k=3)
    assert scored.count() == cand.count()
    # margins are NULL exactly where the denominator guard fired (both
    # neighborhoods non-positive — rare but legitimate for random
    # vectors); where the guard passed (den > 0), the margin carries the
    # cosine's sign
    nn = scored.filter(F.col("margin").isNotNull())
    assert nn.count() > 0
    assert nn.filter((F.col("margin") > 0) != (F.col("cosine") > 0)) \
             .count() == 0


def test_cosine_matrix_bit_parity_with_expression(spark):
    # the numpy batch kernel must reproduce the Catalyst expression's
    # round-6 value on every pair of a deterministic 50k fixture
    from geospatialtools_spark.functions.similarity import (
        cosine_expr, cosine_matrix)
    n = 50_000
    mk = lambda salt: F.transform(
        F.sequence(F.lit(0), F.lit(31)),
        lambda j: (F.pmod(F.xxhash64(F.col("id") + F.lit(salt), j),
                          F.lit(1000003)).cast("double") / 500001.5 - 1.0)
        .cast("float"))
    d = (spark.range(n).select(mk(0).alias("a"), mk(7).alias("b"))
         .select("a", "b",
                 F.round(cosine_expr(F.col("a"), F.col("b")), 6).alias("e"))
         .toPandas())
    A = np.stack(d["a"].to_numpy()).astype(np.float64)
    B = np.stack(d["b"].to_numpy()).astype(np.float64)
    blk = 1000      # pairs sit on the diagonal of each block's matrix
    got = np.concatenate([
        np.diagonal(cosine_matrix(A[lo:lo + blk], B[lo:lo + blk]))
        for lo in range(0, n, blk)])
    assert (got == d["e"].to_numpy()).all()


def test_lsh_candidates_match_equijoin_scoring(spark):
    # the cogroup-GEMM candidate generator must produce EXACTLY the same
    # (src, tgt, round-6 cosine) set as the bucket equi-join scored with
    # the expression form — same buckets, same probes, same values
    from geospatialtools_spark.functions.bitext import lsh_candidates
    from geospatialtools_spark.functions.similarity import (
        cosine_expr, lsh_buckets, probe_buckets)
    dim, n_planes, radius = 16, 4, 1
    mk = lambda salt: F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda j: (F.pmod(F.xxhash64(F.col("id") + F.lit(salt), j),
                          F.lit(1000003)).cast("double") / 500001.5 - 1.0)
        .cast("float"))
    src = spark.range(300).select(F.col("id").alias("vec_id"),
                                  mk(0).alias("embedding"))
    tgt = spark.range(400).select(F.col("id").alias("vec_id"),
                                  mk(9).alias("embedding"))
    got = sorted(map(tuple, lsh_candidates(
        src, tgt, dim=dim, n_planes=n_planes, probe_radius=radius
        ).collect()))
    sb = (src.select(F.col("vec_id").alias("src_id"),
                     F.col("embedding").alias("_sv"))
          .withColumn("_b0", lsh_buckets(F.col("_sv"), dim, n_planes)))
    sb = (sb.withColumn("_bucket", F.explode(F.array(
              *probe_buckets(F.col("_b0"), n_planes, radius))))
          .drop("_b0"))
    tb = (tgt.select(F.col("vec_id").alias("tgt_id"),
                     F.col("embedding").alias("_tv"))
          .withColumn("_bucket", lsh_buckets(F.col("_tv"), dim, n_planes)))
    exp = sorted(map(tuple, sb.join(tb, "_bucket").select(
        "src_id", "tgt_id",
        F.round(cosine_expr(F.col("_sv"), F.col("_tv")), 6)
         .alias("cosine")).distinct().collect()))
    assert got == exp and len(got) > 1000


def test_margin_null_on_nonpositive_denominator(spark):
    # two corpora pointing in opposite directions: every neighborhood
    # average is negative, so the ratio would invert the ranking — the
    # guard yields NULL margins and the miner returns nothing
    base = np.eye(DIM)[:5]
    S = base
    T = -np.eye(DIM)[:6]
    got = margin_mine(_vec_df(spark, S), _vec_df(spark, T),
                      k=3, threshold=0.5).collect()
    assert got == []
    from geospatialtools_spark.functions.similarity import cosine_expr
    s = _vec_df(spark, S).select(F.col("vec_id").alias("src_id"),
                                 F.col("embedding").alias("_sv"))
    t = _vec_df(spark, T).select(F.col("vec_id").alias("tgt_id"),
                                 F.col("embedding").alias("_tv"))
    cand = s.crossJoin(t).select(
        "src_id", "tgt_id",
        F.round(cosine_expr(F.col("_sv"), F.col("_tv")), 6).alias("cosine"))
    scored = margin_score(cand, k=3)
    assert scored.filter(F.col("margin").isNotNull()).count() == 0
