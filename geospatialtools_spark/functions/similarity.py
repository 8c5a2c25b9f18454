"""Similarity search over an embedding column (array<float>).

Two tiers, per the training-data-pipeline mandate:

- ``cosine_topk``: brute-force exact top-k — the correctness baseline.
  Queries are broadcast (they are few); every (query, vector) pair is scored
  JVM-side with ``F.aggregate``/``F.zip_with`` (no Python), then pruned with
  a per-query ``row_number`` window. Linear in |corpus| x |queries| — right
  whenever queries are few or as the verifier of the bucketed path.
- ``lsh_buckets`` + ``bucketed_topk``: the 100 TB path. Vectors are bucketed
  by the sign pattern of k fixed pseudo-random hyperplanes (deterministic
  integer-seeded projections — no RNG at runtime, identical across engines
  and executors), computed as one float64 GEMM per Arrow batch. A query
  probes only its own bucket (+ optional neighboring buckets by Hamming
  distance), turning a full scan into a bucket equi-join. Recall is
  tunable via n_planes / multi-probe radius.

Batch scorers that hold a whole bucket or cluster in memory
(``bitext.lsh_candidates``, ``dedup.semantic_dedup``) score it with the one
numpy kernel ``cosine_matrix``, which keeps the op order of ``cosine_expr``.

NULL contract shared by every cosine operator: a cosine with a zero-norm
side is NULL (NaN inside ``cosine_matrix``), so such a vector never forms a
pair or candidate and ranks after every real match in a top-k; a NULL
vector gets a NULL bucket and so never joins a bucket.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .util import widen_to_parallelism as _widen


def dot_expr(a: Column, b: Column) -> Column:
    """Σ a_i*b_i via zip_with + aggregate — JVM-side, no UDF."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm_expr(a: Column) -> Column:
    return F.sqrt(F.aggregate(
        a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")))


def cosine_expr(a: Column, b: Column) -> Column:
    """dot / (|a| * |b|); NULL when either side has zero norm (try_divide —
    a plain divide raises DIVIDE_BY_ZERO under ANSI mode)."""
    return F.try_divide(dot_expr(a, b), norm_expr(a) * norm_expr(b))


def cosine_matrix(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """Round-6 cosine of every (row of A, row of B) pair as one float64
    GEMM: raw dot divided by the outer product of the norms — the op order
    of ``cosine_expr``, so batch scorers share its value contract. A pair
    with a zero-norm side is NaN (``cosine_expr``'s NULL); callers drop it
    (NaN fails every ``>=`` test)."""
    with np.errstate(divide="ignore", invalid="ignore"):
        return np.round((A @ B.T) / np.outer(np.linalg.norm(A, axis=1),
                                             np.linalg.norm(B, axis=1)), 6)


def cosine_topk(corpus: DataFrame, queries: DataFrame, k: int = 5,
                id_col: str = "vec_id", vec_col: str = "embedding",
                q_id_col: str = "query_id", q_vec_col: str = "q_vec") -> DataFrame:
    """Exact top-k by cosine for each query vector.

    Ties broken by corpus id ascending (deterministic). Returns
    (query_id, rank, vec_id, cosine).
    """
    joined = _widen(corpus).crossJoin(F.broadcast(queries))
    scored = joined.select(
        F.col(q_id_col),
        F.col(id_col),
        F.round(cosine_expr(F.col(vec_col), F.col(q_vec_col)), 6).alias("cosine"),
    )
    w = Window.partitionBy(q_id_col).orderBy(F.desc("cosine"), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(q_id_col, "rank", id_col, "cosine")
    )


def _plane(dim: int, p: int) -> list[float]:
    """Deterministic pseudo-random hyperplane p: component c is a fixed
    integer-hash mapped to [-1, 1] — reproducible everywhere, no RNG
    state. The gate oracle rebuilds the identical literals through this
    same function (_sql_plane_literal), so the formula is free to be a
    REAL mixer — and it must be: the original single LCG step made
    plane p+1 a constant-shift of plane p (consecutive planes strongly
    anti-correlated), which concentrated ~20% of uniform vectors into
    the two alternating-bit buckets 0101... and 1010... — a 7x candidate
    blow-up in every bucket join built on these planes. splitmix64
    finalizer (Steele et al. 2014, public domain) gives full avalanche
    per (p, c); measured max/avg bucket occupancy fell 107x -> 4.2x at
    45k vectors / 1024 buckets, with the bitext bench's recall moving
    onto the Goemans-Williamson independent-plane prediction."""
    mask = (1 << 64) - 1
    comps = []
    for c in range(dim):
        x = (p * 0x9E3779B97F4A7C15 + c * 0xBF58476D1CE4E5B9
             + 0x94D049BB133111EB) & mask
        x ^= x >> 30
        x = (x * 0xBF58476D1CE4E5B9) & mask
        x ^= x >> 27
        x = (x * 0x94D049BB133111EB) & mask
        x ^= x >> 31
        comps.append(x / float(mask) * 2.0 - 1.0)
    return comps


def lsh_buckets(vecs: Column, dim: int, n_planes: int = 8) -> Column:
    """Sign-LSH bucket id in [0, 2^n_planes): bit p = [v . plane_p >= 0];
    a NULL vector gets a NULL bucket.

    One float64 GEMM of each Arrow batch against the dim x n_planes plane
    matrix. At scale this is the partition key for the ANN index (bucket
    join replaces full scan; expected bucket population = N / 2^n_planes).
    numpy's blocked summation can order the float additions differently
    from a sequential fold such as the DuckDB twin's ``list_dot_product``,
    so a projection within ~1e-13 of zero could flip one bit (measured
    against a sequential fold: zero flips in 1M vectors); every consumer
    either ranks or exact-verifies its candidates, so a flip can move
    recall by epsilon, never emit a wrong pair.
    """
    planes = np.array([_plane(dim, p) for p in range(n_planes)]).T  # dim x P
    shifts = np.arange(n_planes, dtype=np.int64)

    @F.pandas_udf("long")
    def bk(v: pd.Series) -> pd.Series:
        ok = v.notna().to_numpy()
        m = np.asarray(v[ok].tolist(), dtype=np.float64).reshape(-1, dim)
        out = pd.Series(pd.NA, index=v.index, dtype="Int64")
        out[ok] = ((m @ planes >= 0).astype(np.int64) << shifts).sum(axis=1)
        return out

    # marked nondeterministic only to pin it in its Project: a join on the
    # bucket infers an isnotnull filter, and pushing that below the Project
    # would run the whole GEMM pass a second time for the filter
    return bk.asNondeterministic()(vecs)


def probe_buckets(bucket: Column, n_planes: int, radius: int) -> list[Column]:
    """All bucket ids within Hamming distance <= ``radius`` of ``bucket``
    (including itself) — the ONE multi-probe enumeration shared by
    bucketed_topk and dedup.embedding_dup_pairs_bucketed (a drifted copy
    would silently change one path's recall semantics)."""
    probes = [bucket]
    if radius >= 1:
        probes += [bucket.bitwiseXOR(F.lit(1 << p)) for p in range(n_planes)]
    if radius >= 2:
        probes += [bucket.bitwiseXOR(F.lit((1 << p) | (1 << q)))
                   for p in range(n_planes) for q in range(p + 1, n_planes)]
    return probes


def bucketed_topk(corpus: DataFrame, queries: DataFrame, dim: int, k: int = 5,
                  n_planes: int = 8, probe_radius: int = 0,
                  id_col: str = "vec_id", vec_col: str = "embedding",
                  q_id_col: str = "query_id", q_vec_col: str = "q_vec") -> DataFrame:
    """Approximate top-k: score only corpus vectors in the query's LSH bucket.

    The join is a bucket equi-join (shuffle on bucket id, or broadcast of the
    tiny query side); candidate count ~ N/2^n_planes per query instead of N.

    ``probe_radius`` (round 4): multi-probe on the QUERY side only — each
    query also scans every bucket within Hamming distance <= r of its own
    (r=1 -> 1+n_planes buckets, r=2 adds the C(n_planes,2) two-flip
    buckets). The corpus never re-shuffles or duplicates; candidates grow by
    the probe count, and recall@k rises with r exactly as the
    Goemans-Williamson per-plane flip probability predicts (measured at 1M
    vectors in BASELINE.md). Default 0 keeps the single-bucket gate-oracle
    semantics. A NULL vector on either side has a NULL bucket and joins
    nothing.
    """
    c = _widen(corpus).withColumn("_bucket",
                                  lsh_buckets(F.col(vec_col), dim, n_planes))
    q = queries.withColumn("_bucket",
                           lsh_buckets(F.col(q_vec_col), dim, n_planes))
    if probe_radius >= 1:
        probes = probe_buckets(F.col("_b0"), n_planes, probe_radius)
        q = (q.withColumnRenamed("_bucket", "_b0")
             .withColumn("_bucket", F.explode(F.array(*probes)))
             .drop("_b0"))
    scored = c.join(F.broadcast(q), "_bucket").select(
        F.col(q_id_col), F.col(id_col),
        F.round(cosine_expr(F.col(vec_col), F.col(q_vec_col)), 6).alias("cosine"),
    )
    if probe_radius >= 1:
        scored = scored.dropDuplicates([q_id_col, id_col])
    w = Window.partitionBy(q_id_col).orderBy(F.desc("cosine"), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(q_id_col, "rank", id_col, "cosine")
    )


class IvfIndex:
    """A built IVF index: the corpus with its ``_list`` assignment column
    MATERIALIZED (localCheckpoint here; at 100 TB the assigned table is
    written once, partitioned by ``_list`` — an Iceberg/parquet partition
    column — and probed many times), plus the trained centroid codebook.

    Round-5 split (VERDICT r4 item 3): train + assign used to run inside
    every ``ivf_topk`` call — a full corpus count, a driver k-means, and a
    full-corpus Arrow pass PER QUERY BATCH. Now ``build_ivf_index`` pays
    those once and ``ivf_probe`` pays only the nprobe bucket join.
    """

    __slots__ = ("assigned", "centroids", "id_col", "vec_col")

    def __init__(self, assigned: DataFrame, centroids: np.ndarray,
                 id_col: str, vec_col: str):
        self.assigned = assigned
        self.centroids = centroids
        self.id_col = id_col
        self.vec_col = vec_col


def build_ivf_index(corpus: DataFrame, dim: int, n_centroids: int = 16,
                    train_sample: int = 4096, id_col: str = "vec_id",
                    vec_col: str = "embedding",
                    n_corpus: int | None = None) -> IvfIndex:
    """Train the coarse quantizer and assign every corpus vector to its
    nearest centroid list (FAISS-style IVF build, public design):

    1. train: k-means centroids on a deterministic sample (driver-side —
       the codebook is tiny; numpy k-means++ from operators/clustering);
    2. assign: every corpus vector to its nearest centroid (Arrow pandas
       UDF, GEMM-form distances), giving the partition/bucket key.

    ``n_corpus`` lets the caller supply a row-count estimate (e.g. table
    metadata) so the build triggers no counting action of its own; when
    None, the build counts ONCE — amortized over every subsequent probe,
    never per query batch. The sampling modulus only sizes the codebook
    sample, so an estimate within ~2x is fine.
    """
    from pyspark.sql import types as TY

    from ..operators.clustering import kmeans_pp_centers, pairwise_d2

    # deterministic hash-sample: reads ~train_sample rows via a pushed-down
    # filter instead of a global TakeOrdered rank over the corpus (which at
    # 10^12 rows would sort-scan everything just to pick a codebook sample).
    # xxhash64 is stable across runs/partitionings; the orderBy inside the
    # TINY sampled set pins the k-means++ input order.
    if n_corpus is None:
        n_corpus = corpus.count()
    mod = max(1, n_corpus // train_sample)
    sample_pdf = (corpus
                  .filter(F.pmod(F.xxhash64(F.col(id_col)), F.lit(mod)) == 0)
                  .orderBy(id_col).limit(train_sample)
                  .select(vec_col).toPandas())
    X = np.asarray([np.asarray(v, dtype=np.float64) for v in sample_pdf[vec_col]])
    centroids = kmeans_pp_centers(X, min(n_centroids, len(X)), seed=35799)

    @F.pandas_udf(TY.IntegerType())
    def assign(vecs: pd.Series) -> pd.Series:
        V = np.asarray([np.asarray(v, dtype=np.float64) for v in vecs])
        # GEMM-form distances (round 4): the (batch, k, d) broadcast
        # temporary was the per-batch hot allocation of the whole index build
        return pd.Series(np.argmin(pairwise_d2(V, centroids), axis=1).astype(np.int32))

    assigned = (_widen(corpus).withColumn("_list", assign(F.col(vec_col)))
                .localCheckpoint(eager=True))
    return IvfIndex(assigned, centroids, id_col, vec_col)


def persist_ivf_index(index: IvfIndex, path: str) -> None:
    """Write the index in its 100 TB layout: the assigned corpus as parquet
    PARTITIONED BY the list id — the physical realization of the build
    docstring's "the assignment IS the index" — plus the tiny centroid
    codebook as a sidecar parquet. A probe against the loaded table becomes
    a partition-pruned READ of nprobe/n_centroids of the data (asserted on
    the executed plan in ``test_ivf_persisted_index_partition_pruned_probe``),
    not a filtered full scan."""
    (index.assigned.write.mode("overwrite")
     .partitionBy("_list").parquet(path + "/assigned"))
    spark = index.assigned.sparkSession
    rows = [(int(i), [float(x) for x in c], index.id_col, index.vec_col)
            for i, c in enumerate(index.centroids)]
    (spark.createDataFrame(
        rows, "list_id int, centroid array<double>, id_col string, vec_col string")
     .coalesce(1).write.mode("overwrite").parquet(path + "/centroids"))


def load_ivf_index(spark, path: str) -> IvfIndex:
    """Load a persisted IVF index; ``assigned`` is the partitioned parquet
    table (NOT materialized into memory — probes prune its partitions)."""
    cpdf = spark.read.parquet(path + "/centroids").orderBy("list_id").toPandas()
    centroids = np.asarray([np.asarray(c, dtype=np.float64)
                            for c in cpdf["centroid"]])
    assigned = spark.read.parquet(path + "/assigned")
    return IvfIndex(assigned, centroids,
                    str(cpdf["id_col"].iloc[0]), str(cpdf["vec_col"].iloc[0]))


def ivf_probe(index: IvfIndex, queries: DataFrame, k: int = 5,
              nprobe: int = 3, q_id_col: str = "query_id",
              q_vec_col: str = "q_vec") -> DataFrame:
    """Probe a built IVF index: each query scans only its ``nprobe``
    nearest centroid lists (a bucket equi-join against the materialized
    assignment — at 100 TB a partition-pruned read of nprobe/n_centroids of
    the data), exact cosine re-rank inside. Recall grows with nprobe
    (nprobe = n_centroids -> exact).

    When the assigned table is file-backed (``load_ivf_index``), the probe
    additionally collects the batch's distinct list ids — bounded by
    |queries| * nprobe, and queries are small by this operator's contract
    (they are broadcast) — and applies them as a LITERAL ``isin`` filter,
    so the parquet scan shows the list restriction as ``PartitionFilters``:
    files of unprobed lists are never opened. The in-memory assignment of
    ``build_ivf_index`` has no files to prune and skips the collect. Output
    is identical either way (the equi-join already restricts rows).
    """
    from pyspark.sql import types as TY

    from ..operators.clustering import pairwise_d2

    centroids = index.centroids
    id_col, vec_col = index.id_col, index.vec_col

    @F.pandas_udf(TY.ArrayType(TY.IntegerType()))
    def probes(vecs: pd.Series) -> pd.Series:
        V = np.asarray([np.asarray(v, dtype=np.float64) for v in vecs])
        order = np.argsort(pairwise_d2(V, centroids), axis=1,
                           kind="stable")[:, :nprobe]
        return pd.Series([row.astype(np.int32).tolist() for row in order])

    q = queries.withColumn("_list", F.explode(probes(F.col(q_vec_col))))
    assigned = index.assigned
    if assigned.inputFiles():
        # pin the (small) probe batch before reading it twice: the list
        # collect below and the join both consume q, and a non-deterministic
        # queries plan (limit/sample) re-executed for the join could
        # otherwise produce rows whose lists the isin filter already dropped
        q = q.localCheckpoint(eager=True)
        lists = sorted({r["_list"] for r in q.select("_list").distinct().collect()})
        assigned = assigned.filter(F.col("_list").isin(lists))
    scored = assigned.join(F.broadcast(q), "_list").select(
        F.col(q_id_col), F.col(id_col),
        F.round(cosine_expr(F.col(vec_col), F.col(q_vec_col)), 6).alias("cosine"))
    w = Window.partitionBy(q_id_col).orderBy(F.desc("cosine"), F.col(id_col))
    return (scored.dropDuplicates([q_id_col, id_col])
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(q_id_col, "rank", id_col, "cosine"))


def ivf_topk(corpus: DataFrame, queries: DataFrame, dim: int, k: int = 5,
             n_centroids: int = 16, nprobe: int = 3, train_sample: int = 4096,
             id_col: str = "vec_id", vec_col: str = "embedding",
             q_id_col: str = "query_id", q_vec_col: str = "q_vec") -> DataFrame:
    """One-shot IVF approximate top-k: ``build_ivf_index`` + ``ivf_probe``
    (identical output to the pre-split round-4 operator — the gate oracle's
    surface). Repeated-query callers should build once and probe many.
    """
    index = build_ivf_index(corpus, dim, n_centroids=n_centroids,
                            train_sample=train_sample, id_col=id_col,
                            vec_col=vec_col)
    return ivf_probe(index, queries, k=k, nprobe=nprobe,
                     q_id_col=q_id_col, q_vec_col=q_vec_col)
