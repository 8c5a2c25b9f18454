"""Deduplication operators for the training-data pipeline.

Five dedup families over the ``documents`` table (exact, MinHash+LSH,
SimHash, n-gram Jaccard, embedding cosine):

- Shingles, MinHash signatures and SimHash fingerprints are Arrow pandas
  UDFs over the ``textstats.normalize_str`` tokens. Their hashes are
  md5-derived (identical in Spark and DuckDB), so each has an exact
  cross-engine oracle: MinHash is the min of md5 hex strings over
  shingles (a valid random permutation family — md5 on a distinct salt
  per hash function), SimHash votes on the 60-bit ints of 15-hex-char
  md5 prefixes.
- At 100 TB scale: exact dedup is one hash-groupBy (map-side partial agg);
  MinHash-LSH is the standard shingle→signature→band→bucket-join pipeline —
  only same-band candidates shuffle, never all pairs; the brute-force pair
  joins (`ngram_jaccard_pairs`, `embedding_dup_pairs`) are CALIBRATION-scale
  oracles of the LSH path (see ``similarity.lsh_buckets`` for the scale path).
"""

from __future__ import annotations

import logging

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .textstats import normalize_str

from .util import widen_to_parallelism as _widen

_log = logging.getLogger(__name__)
_guard_warned: set[str] = set()


def _warn_weak_guard(op: str) -> None:
    """One-time audit breadcrumb when a star guard with a WEAKER recall
    contract is enabled (embedding / simhash guards verify star pairs
    against the hub only, so member-member pairs inside an oversized bucket
    that don't qualify against the hub are lost; guarded members also skip
    multi-probe). The MinHash guard keeps exact component equivalence and
    does not warn. Callers wanting a quantitative audit can count rows of
    the banded/bucketed intermediate grouped by key with count > threshold."""
    if op not in _guard_warned:
        _guard_warned.add(op)
        _log.warning(
            "%s: star_threshold enabled — oversized buckets emit hub-star "
            "pairs with a reduced member-member recall contract (see "
            "docstring); disable the guard to recover exact clique "
            "semantics at quadratic cost.", op)

N_MINHASH = 16           # signature length
LSH_BANDS = 4            # bands of 4 rows each -> catches J >~ 0.5 pairs
ROWS_PER_BAND = N_MINHASH // LSH_BANDS


def exact_dups(docs: DataFrame, text_col: str = "text",
               id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: group by content hash, keep min id as canonical.

    One hash aggregation — partial (map-side) + final; no pairwise work.
    Returns (content_hash, keeper_id, n_dups) for groups with >1 member.
    """
    return (
        docs.groupBy(F.md5(F.col(text_col)).alias("content_hash"))
        .agg(F.min(id_col).alias("keeper_id"), F.count("*").alias("n_dups"))
        .filter(F.col("n_dups") > 1)
    )


def shingles_pudf(k: int = 3):
    """Arrow-vectorized distinct word k-shingles of the normalized text
    (array<string>, first-occurrence order). Shorter-than-k documents
    yield one shingle of all their tokens, and NULL text is treated as
    "", so every row has >= 1 shingle."""
    from pyspark.sql import types as TY

    @F.pandas_udf(TY.ArrayType(TY.StringType()))
    def sh(text):
        import pandas as pd
        out = []
        for t in text:
            toks = normalize_str(t or "").split(" ")
            seen, grams = set(), []
            for i in range(max(len(toks) - k + 1, 1)):
                g = " ".join(toks[i:i + k])
                if g not in seen:
                    seen.add(g)
                    grams.append(g)
            out.append(grams)
        return pd.Series(out)

    return sh


def minhash_signature_pudf(k: int = 3, n_hashes: int = N_MINHASH):
    """Arrow-vectorized MinHash signature UDF: per hash function h, the
    min over the document's distinct word k-shingles (``shingles_pudf``
    rule) of md5('h|' + shingle) — an array<string> of length
    ``n_hashes``. hashlib in an Arrow batch costs ~1us per md5, where
    interpreted nested higher-order functions cost ~80us on the JVM.

    Each shingle is encoded once and the ``h|`` prefixes are built once;
    the min is taken over raw md5 digests, which sort in the same order
    as their hex strings, so only each minimum is hex-encoded.
    """
    import hashlib

    from pyspark.sql import types as TY

    md5 = hashlib.md5
    prefixes = [f"{h}|".encode() for h in range(n_hashes)]

    @F.pandas_udf(TY.ArrayType(TY.StringType()))
    def sig(text):
        out = []
        for t in text:
            toks = normalize_str(t or "").split(" ")
            grams = [g.encode() for g in
                     {" ".join(toks[i:i + k])
                      for i in range(max(len(toks) - k + 1, 1))}]
            out.append([min(md5(p + g).digest() for g in grams).hex()
                        for p in prefixes])
        import pandas as pd
        return pd.Series(out)

    return sig


def _minhash_bands(docs: DataFrame, text_col: str, id_col: str,
                   k: int, n_hashes: int, bands: int,
                   *carry: Column) -> DataFrame:
    """docs -> MinHash signature (Arrow pandas UDF) -> one (_id, band,
    bhash) row per band, lazy; each row also carries the ``carry``
    columns, evaluated on the doc row."""
    r = n_hashes // bands
    sig = _widen(docs).select(
        F.col(id_col).alias("_id"), *carry,
        minhash_signature_pudf(k, n_hashes)(F.col(text_col)).alias("sig"),
    )
    kept = sig.columns[1:-1]
    return sig.select(
        "_id", *kept,
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("band"),
                     F.md5(F.concat_ws("|", *[F.col("sig")[b * r + i] for i in range(r)]))
                      .alias("bhash"))
            for b in range(bands)
        ])).alias("bb"),
    ).select("_id", *kept, "bb.band", "bb.bhash")


def _minhash_banded(docs: DataFrame, text_col: str, id_col: str,
                    k: int, n_hashes: int, bands: int) -> DataFrame:
    """Shared banding step: ``_minhash_bands`` materialized — the full-run
    pair join (``minhash_lsh_pairs``) and the incremental index
    (``build_minhash_index``) both consume exactly this table, so the two
    paths can never hash differently."""
    # materialize before any join: otherwise both join sides re-scan the
    # source and re-evaluate the full signature expression
    return _minhash_bands(docs, text_col, id_col, k, n_hashes, bands) \
        .localCheckpoint(eager=True)


def minhash_lsh_pairs(docs: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", k: int = 3,
                      n_hashes: int = N_MINHASH, bands: int = LSH_BANDS,
                      star_threshold: int | None = None) -> DataFrame:
    """Candidate near-dup pairs via MinHash banding.

    docs -> shingles -> signature (Arrow pandas UDF) -> per-band hash ->
    self-join on (band, band_hash). Only documents sharing a band bucket ever
    meet in the shuffle (bucket join, not all-pairs). Returns distinct
    (id_a, id_b), id_a < id_b.

    ``star_threshold`` is the 100 TB clique guard: a band bucket holding a
    B-member boilerplate family emits B(B-1)/2 clique pairs — at B=10^5
    that is 5*10^9 rows from ONE bucket. Buckets larger than the threshold
    instead emit a STAR (every member paired to the bucket's min id):
    O(B) pairs with IDENTICAL transitive connectivity, so ``dedup_groups``
    output is unchanged (stars and cliques have the same components);
    only the sub-threshold buckets pay the quadratic join. Default None
    preserves exact clique emission (the gate-oracle semantics).
    """
    banded = _minhash_banded(docs, text_col, id_col, k, n_hashes, bands)
    star = None
    if star_threshold is not None:
        from pyspark.sql import Window
        wb = Window.partitionBy("band", "bhash")
        # checkpoint the window output ONCE: star and the filtered band
        # table both hang off it, and the lazy star branch would otherwise
        # re-run the full (band, bhash) shuffle + window at action time
        bb = (banded.withColumn("_bn", F.count("*").over(wb))
              .withColumn("_hub", F.min("_id").over(wb))
              .localCheckpoint(eager=True))
        star = (bb.filter((F.col("_bn") > star_threshold)
                          & (F.col("_id") != F.col("_hub")))
                .select(F.col("_hub").alias("id_a"), F.col("_id").alias("id_b")))
        banded = bb.filter(F.col("_bn") <= star_threshold) \
                   .select("_id", "band", "bhash")
    left = banded.alias("l")
    right = banded.alias("r")
    pairs = (
        left.join(right, ["band", "bhash"])
        .filter(F.col("l._id") < F.col("r._id"))
        .select(F.col("l._id").alias("id_a"), F.col("r._id").alias("id_b"))
    )
    if star is not None:
        pairs = pairs.unionByName(star)
    return pairs.distinct()


MH_BHASH_BUCKETS = 64


def _mh_bucket(bhash) -> Column:
    """Persisted-layout partition key: a 64-way hash of the band hash, so
    small probes prune files (same design as retrieval's term buckets)."""
    return F.pmod(F.xxhash64(bhash), F.lit(MH_BHASH_BUCKETS)).cast("int")


class MinhashIndex:
    """A built MinHash band index: the (doc_id, band, band-hash) table plus
    per-bucket counts — what a 100 TB ingest pipeline keeps BETWEEN
    batches so a daily increment never re-signatures the history. The
    banding parameters travel with the index: probes derive their banding
    FROM the index (misuse is unrepresentable there), and
    ``extend_minhash_index`` validates the band range of what it folds in
    (a differently-parameterized band table cannot be checked any deeper
    than that — its hashes are just strings — so extend only accepts the
    ``new_banded`` handles this module itself produced)."""

    def __init__(self, banded: DataFrame, bucket_counts: DataFrame,
                 k: int, n_hashes: int, bands: int):
        self.banded = banded
        self.bucket_counts = bucket_counts
        self.k, self.n_hashes, self.bands = k, n_hashes, bands


def build_minhash_index(docs: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", k: int = 3,
                        n_hashes: int = N_MINHASH,
                        bands: int = LSH_BANDS) -> MinhashIndex:
    """One signature pass over the corpus into a materialized band table
    (exactly ``minhash_lsh_pairs``' banding — shared code) plus per-bucket
    counts (the clique guard's old-side sizes, so probes never re-count
    the history)."""
    banded = _minhash_banded(docs, text_col, id_col, k, n_hashes, bands)
    counts = (banded.groupBy("band", "bhash")
              .agg(F.count("*").cast("long").alias("_oc"))
              .localCheckpoint(eager=True))
    return MinhashIndex(banded, counts, k, n_hashes, bands)


def extend_minhash_index(index: MinhashIndex,
                         new_banded: DataFrame) -> MinhashIndex:
    """Fold a probed batch's band rows into the index so the NEXT batch
    dedups against history + this batch. Counts merge by addition
    (mergeable by construction — the property every sketch in this engine
    keeps) and are MATERIALIZED: a long extend chain would otherwise
    stack one lazy groupBy-sum per day, re-executed on every guarded
    probe. The fold validates the band range — the one banding-parameter
    mismatch detectable from rows alone."""
    rng = new_banded.agg(F.min("band").alias("lo"),
                         F.max("band").alias("hi")).first()
    if rng["lo"] is not None and not (0 <= rng["lo"] and
                                      rng["hi"] < index.bands):
        raise ValueError(
            f"new_banded has band ids [{rng['lo']}, {rng['hi']}] but the "
            f"index was built with bands={index.bands} — it was banded "
            f"with different parameters")
    if "_bkt" in index.banded.columns and "_bkt" not in new_banded.columns:
        new_banded = new_banded.withColumn("_bkt", _mh_bucket(F.col("bhash")))
    counts = (index.bucket_counts
              .unionByName(new_banded.groupBy("band", "bhash")
                           .agg(F.count("*").cast("long").alias("_oc")))
              .groupBy("band", "bhash")
              .agg(F.sum("_oc").cast("long").alias("_oc"))
              .localCheckpoint(eager=True))
    return MinhashIndex(index.banded.unionByName(new_banded), counts,
                        index.k, index.n_hashes, index.bands)


def persist_minhash_index(index: MinhashIndex, path: str) -> None:
    """Parquet layout: band rows partitioned by (band, _bkt) where _bkt is
    a 64-way hash of the band hash — a probe touching few buckets reads
    few files (PartitionFilters, the retrieval-index design); counts +
    params as sidecars. Compaction of streaming increments goes through
    ``compact_minhash_index`` — persisting a LOADED index back onto its
    own path would read and overwrite the same files."""
    banded = index.banded
    if "_bkt" not in banded.columns:
        banded = banded.withColumn("_bkt", _mh_bucket(F.col("bhash")))
    (banded.write.mode("overwrite").partitionBy("band", "_bkt")
     .parquet(path + "/banded"))
    index.bucket_counts.write.mode("overwrite").parquet(path + "/counts")
    spark = index.banded.sparkSession
    (spark.createDataFrame([(index.k, index.n_hashes, index.bands)],
                           "k int, n_hashes int, bands int")
     .coalesce(1).write.mode("overwrite").parquet(path + "/params"))


def compact_minhash_index(spark, src_path: str, dst_path: str) -> None:
    """Consolidate a persisted index and its streaming increments into a
    fresh path (base tables only, no inc/) — the Iceberg
    snapshot-compaction shape, done as write-to-new-location + caller
    retargets, because an in-place overwrite would read and rewrite the
    same files mid-job. ``dst_path`` must differ from ``src_path``."""
    if dst_path == src_path:
        raise ValueError("compact_minhash_index writes a NEW consolidated "
                         "index; dst_path must differ from src_path")
    idx = load_minhash_index(spark, src_path)
    # counts is the lazy fold of base + deltas; materialize through the
    # write. banded keeps _bkt from the partitioned read.
    persist_minhash_index(MinhashIndex(
        idx.banded, idx.bucket_counts.localCheckpoint(eager=True),
        idx.k, idx.n_hashes, idx.bands), dst_path)


def append_minhash_batch(index_path: str, new_banded: DataFrame,
                         batch_id: int) -> None:
    """Append-only index growth for streaming ingest: a probed batch's
    band rows and count DELTAS land under ``inc/batch=N`` as an
    OVERWRITE of that one directory — so a replayed micro-batch (the
    Structured Streaming at-least-once window) rewrites its own
    increment instead of double-counting it. ``load_minhash_index``
    folds every increment back in; periodically,
    ``compact_minhash_index`` consolidates base + increments into a
    fresh path. Increments are written UNPARTITIONED with _bkt as a
    data column (a 4x64-directory tree per micro-batch would be a
    small-file explosion); probes prune the partitioned base by file
    and the small increments by row."""
    base = f"{index_path}/inc/batch={int(batch_id)}"
    if "_bkt" not in new_banded.columns:
        new_banded = new_banded.withColumn("_bkt", _mh_bucket(F.col("bhash")))
    new_banded.write.mode("overwrite").parquet(base + "/banded")
    (new_banded.groupBy("band", "bhash")
     .agg(F.count("*").cast("long").alias("_oc"))
     .write.mode("overwrite").parquet(base + "/counts"))


def load_minhash_index(spark, path: str) -> MinhashIndex:
    """Load a persisted index plus any streaming increments; counts are
    the groupBy-sum of the base table and every increment's deltas (lazy —
    one bucket-level aggregation per load, smaller than the band table)."""
    p = spark.read.parquet(path + "/params").first()
    banded = spark.read.parquet(path + "/banded")
    counts = spark.read.parquet(path + "/counts")
    from pyspark.errors import AnalysisException
    try:
        inc_b = spark.read.parquet(path + "/inc/batch=*/banded")
        inc_c = spark.read.parquet(path + "/inc/batch=*/counts")
        banded = banded.select(*inc_b.columns) \
                       .unionByName(inc_b.select(*inc_b.columns))
        counts = counts.unionByName(inc_c)
    except AnalysisException:
        pass  # no streaming increments yet (PATH_NOT_FOUND on the glob)
    counts = counts.groupBy("band", "bhash") \
                   .agg(F.sum("_oc").cast("long").alias("_oc"))
    return MinhashIndex(banded, counts,
                        int(p["k"]), int(p["n_hashes"]), int(p["bands"]))


def incremental_dup_pairs(index: MinhashIndex, new_docs: DataFrame,
                          text_col: str = "text", id_col: str = "doc_id",
                          star_threshold: int | None = None,
                          exclude_new_from_history: bool = False
                          ) -> tuple[DataFrame, DataFrame]:
    """Near-dup pairs of an INCREMENT against a built index: all
    (old, new) and (new, new) candidate pairs, never (old, old) — the
    daily-ingest operation. Equal by construction to
    ``minhash_lsh_pairs(old UNION new)`` minus its old-old pairs
    (asserted in ``test_incremental_pairs_match_full_run``): the band
    rows come from the SAME ``_minhash_banded`` code, and a pair survives
    a full-run band join iff it survives the old-new or new-new join
    here. Returns (pairs, new_banded); feed ``new_banded`` to
    ``extend_minhash_index`` so the next increment sees this one.

    When the index came from ``load_minhash_index`` (carries the _bkt
    partition column), the probe collects the increment's distinct
    bucket keys — at most 64, the key space is that small by design —
    into a literal isin, so the partitioned base shows the restriction as
    PartitionFilters: a small probe reads only the files of its own
    buckets instead of scanning the whole history.

    ``exclude_new_from_history`` (the streaming handler sets it): drop
    history rows whose id appears in the increment BEFORE counting or
    joining, so probing a batch that was already appended (micro-batch
    replay, accidental double-ingestion) behaves exactly like the first
    run — same guard decisions, same pairs — at the cost of computing
    the guard's old-side sizes from the (pruned) band table instead of
    the materialized counts.

    ``star_threshold`` is the same clique guard as ``minhash_lsh_pairs``:
    a bucket whose COMBINED (old + new) size exceeds the threshold emits
    hub-star pairs — hub = the bucket's min new id, every other new
    member and every old member links to it: O(B_old + B_new) rows with
    identical transitive connectivity, where the unguarded join emits
    B_old*B_new + B_new^2/2. Old-side sizes come from the index's
    materialized bucket counts — the probe never re-counts the history
    (except under ``exclude_new_from_history``, where stale counts would
    break replay idempotence). Join strategies are left to
    Catalyst/AQE — the increment side is small in the intended use, but
    a forced broadcast would be an OOM cliff for bulk backfills.
    """
    nb = _minhash_banded(new_docs, text_col, id_col,
                         index.k, index.n_hashes, index.bands)
    hist = index.banded
    if "_bkt" in hist.columns:
        bkts = [r["b"] for r in
                nb.select(_mh_bucket(F.col("bhash")).alias("b"))
                .distinct().collect()]
        hist = hist.filter(F.col("_bkt").isin(bkts))
    if exclude_new_from_history:
        hist = hist.join(nb.select("_id").distinct(), "_id", "left_anti")
    hist = hist.select("_id", "band", "bhash")
    star = None
    new_side = nb
    if star_threshold is not None:
        from pyspark.sql import Window
        wb = Window.partitionBy("band", "bhash")
        nbc = (nb.withColumn("_nn", F.count("*").over(wb))
               .withColumn("_hub", F.min("_id").over(wb)))
        touched = nbc.select("band", "bhash").distinct()
        if exclude_new_from_history:
            # stale materialized counts would include the batch itself on
            # a replay — count the (pruned, excluded) history directly
            oc = (hist.join(touched, ["band", "bhash"], "left_semi")
                  .groupBy("band", "bhash")
                  .agg(F.count("*").cast("long").alias("_oc")))
        else:
            oc = index.bucket_counts.join(touched, ["band", "bhash"])
        nbc = (nbc.join(oc, ["band", "bhash"], "left")
               .withColumn("_oc", F.coalesce(F.col("_oc"), F.lit(0)))
               .localCheckpoint(eager=True))
        guarded = nbc.filter(F.col("_nn") + F.col("_oc") > star_threshold)
        # new members -> hub (skip the hub itself)
        star_new = (guarded.filter(F.col("_id") != F.col("_hub"))
                    .select(F.col("_hub").alias("id_a"),
                            F.col("_id").alias("id_b")))
        # old members -> hub: enumerate the guarded buckets' old rows once
        gb = guarded.select("band", "bhash", "_hub").distinct()
        star_old = (hist.join(gb, ["band", "bhash"])
                    .select(F.col("_id").alias("id_a"),
                            F.col("_hub").alias("id_b")))
        star = star_new.unionByName(star_old)
        new_side = (nbc.filter(F.col("_nn") + F.col("_oc") <= star_threshold)
                    .select("_id", "band", "bhash"))
    old_new = (hist.alias("o")
               .join(new_side.alias("n"), ["band", "bhash"])
               .select(F.col("o._id").alias("id_a"),
                       F.col("n._id").alias("id_b")))
    nn = (new_side.alias("l").join(new_side.alias("r"), ["band", "bhash"])
          .filter(F.col("l._id") < F.col("r._id"))
          .select(F.col("l._id").alias("id_a"), F.col("r._id").alias("id_b")))
    pairs = old_new.unionByName(nn)
    if star is not None:
        pairs = pairs.unionByName(star)
    pairs = (pairs.select(F.least("id_a", "id_b").alias("id_a"),
                          F.greatest("id_a", "id_b").alias("id_b"))
             .filter(F.col("id_a") != F.col("id_b"))
             .distinct())
    return pairs, nb


def _cosine_hub_star(v: DataFrame, key: str, eps: float,
                     star_threshold: int) -> tuple[DataFrame, DataFrame]:
    """Shared oversized-bucket guard for the cosine-VERIFIED dedup paths
    (embedding sign-LSH buckets, semantic-dedup k-means cells): buckets of
    ``key`` holding more than ``star_threshold`` rows emit hub-star pairs
    (hub = min ``_id``; cosine(hub, member) exactly verified >= ``eps``)
    instead of B²/2 clique rows. Returns ``(star_pairs(id_a, id_b,
    cosine), remaining)`` where ``remaining`` is the sub-threshold rows
    (schema ``_id, _v, key``) that keep exact clique semantics. Input
    needs columns ``_id``, ``_v``, ``key``. Callers own the
    ``_warn_weak_guard`` breadcrumb — the recall contract here is the
    weaker one that helper documents (member-member pairs not similar to
    the hub are lost)."""
    from pyspark.sql import Window

    from .similarity import cosine_expr
    wb = Window.partitionBy(key)
    # checkpoint the window output ONCE — star and the filtered table
    # both derive from it (the lazy star branch would otherwise re-run
    # the bucket shuffle + window at action time)
    vv = (v.withColumn("_bn", F.count("*").over(wb))
          .withColumn("_hub", F.min("_id").over(wb))
          .localCheckpoint(eager=True))
    hubs = vv.filter(F.col("_id") == F.col("_hub")) \
             .select(F.col("_hub").alias("_h"), F.col("_v").alias("_hv"))
    star = (vv.filter((F.col("_bn") > star_threshold)
                      & (F.col("_id") != F.col("_hub")))
            .join(hubs, F.col("_hub") == F.col("_h"))
            .withColumn("cosine",
                        F.round(cosine_expr(F.col("_hv"), F.col("_v")), 6))
            .filter(F.col("cosine") >= eps)
            .select(F.col("_hub").alias("id_a"),
                    F.col("_id").alias("id_b"), "cosine"))
    remaining = vv.filter(F.col("_bn") <= star_threshold) \
                  .select("_id", "_v", key)
    return star, remaining


def semantic_dedup(emb: DataFrame, dim: int, eps: float = 0.95,
                   n_clusters: int = 16, id_col: str = "vec_id",
                   vec_col: str = "embedding", train_sample: int = 4096,
                   n_corpus: int | None = None,
                   star_threshold: int | None = None) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, public): semantic deduplication over
    an embedding column — k-means-cluster the corpus, find near-identical
    items WITHIN each cluster (exact cosine >= ``eps``), resolve them into
    transitive groups, keep one per group.

    Returns ``(id_col, cluster, group_id, keeper_id, group_size)`` for
    every member of an intra-cluster near-dup group (``group_size >= 2``);
    anti-join the corpus against the rows with ``id != keeper_id`` to
    apply. The keeper is the group's smallest id (``keeper_id ==
    group_id`` — a content-free deterministic policy; callers wanting the
    paper's lowest-centroid-similarity choice can re-elect over the
    returned groups).

    Execution shape (the 100 TB design, and the paper's own core trade):

    - clustering reuses ``similarity.build_ivf_index`` — the coarse
      quantizer IS a k-means codebook, trained once on a deterministic
      hash sample and assigned in one Arrow GEMM pass; the cluster id is
      the bucket key, exactly the IVF layout, so a persisted index
      (``persist_ivf_index``) doubles as the semantic-dedup partitioning.
    - candidate pairs are scored per cluster: one ``applyInPandas`` group
      per cluster runs ``similarity.cosine_matrix`` over the cluster's
      strict upper triangle, row-blocked so memory is O(block x cluster).
      A cluster must fit one worker — the same constraint the paper's
      per-cluster matmul has. O(sum of cluster_size^2) comparisons —
      ``n_clusters`` is the dial (the paper scales k with the corpus so
      clusters stay worker-sized). Pairs are exact-verified, never
      assumed; a zero-norm vector never pairs (its cosine is NaN).
    - pairs -> ``operators.graph.connected_components`` (min-id label
      over the PAIR nodes only, in one Arrow task) -> keeper election.
      The corpus never re-enters the plan after pair scoring.
    - ``star_threshold``: the same oversized-bucket guard as
      ``embedding_dup_pairs_bucketed``, with the same WEAKER recall
      contract (members pair only against the cluster's min-id hub,
      cosine-verified): an exact-dup family of B copies costs O(B) rows
      instead of B^2/2. Default None = exact within-cluster semantics
      (the gate oracle's regime).

    Recall contract: near-dups split across two clusters are MISSED — the
    documented SemDeDup approximation (quantization noise at cluster
    boundaries); ``n_clusters=1`` recovers exact corpus-wide semantics
    (and is how the gate value-checks this operator end-to-end without a
    cross-engine k-means).
    """
    import numpy as np
    import pandas as pd

    from pyspark.sql import Window

    from ..operators.graph import connected_components
    from .similarity import build_ivf_index, cosine_matrix
    if not 0.0 < eps <= 1.0:
        raise ValueError("eps must be in (0, 1]")
    index = build_ivf_index(emb, dim, n_centroids=n_clusters,
                            train_sample=train_sample, id_col=id_col,
                            vec_col=vec_col, n_corpus=n_corpus)
    a = index.assigned.select(F.col(id_col).alias("_id"),
                              F.col(vec_col).alias("_v"),
                              F.col("_list").alias("_c"))
    star = None
    if star_threshold is not None:
        _warn_weak_guard("semantic_dedup")
        star, a = _cosine_hub_star(a, "_c", eps, star_threshold)
        star = star.select("id_a", "id_b")

    def _kern(pdf: pd.DataFrame) -> pd.DataFrame:
        order = np.argsort(pdf["_id"].to_numpy())
        ids = pdf["_id"].to_numpy()[order]
        V = np.asarray([np.asarray(v, dtype=np.float64)
                        for v in pdf["_v"].iloc[order]])
        outs_a, outs_b = [], []
        blk = 1024  # row-blocked GEMM: memory O(blk x cluster)
        for lo in range(0, len(ids), blk):
            hi = min(lo + blk, len(ids))
            # columns < lo are below the strict upper triangle for
            # every row of this block — don't compute them (halves
            # the total multiply-adds vs V[lo:hi] @ V.T)
            bi, bj = np.nonzero(cosine_matrix(V[lo:hi], V[lo:]) >= eps)
            m = bi < bj                 # strict upper triangle only
            outs_a.append(ids[bi[m] + lo])
            outs_b.append(ids[bj[m] + lo])
        return pd.DataFrame({
            "id_a": np.concatenate(outs_a) if outs_a else [],
            "id_b": np.concatenate(outs_b) if outs_b else []})

    pairs = a.groupBy("_c").applyInPandas(_kern, schema="id_a long, id_b long")
    if star is not None:
        pairs = pairs.unionByName(star)
    # one read of the components: the group size is a window count
    members = connected_components(pairs).select(
        F.col("node").alias(id_col), F.col("comp").alias("group_id"),
        F.count("*").over(Window.partitionBy("comp")).alias("group_size"))
    clusters = index.assigned.select(id_col, F.col("_list").alias("cluster"))
    return (members.join(clusters, id_col)
            .select(id_col, "cluster", "group_id",
                    F.col("group_id").alias("keeper_id"), "group_size"))


# keeper rank of a group member: the text length, -1 for NULL text, and
# _NO_DOC_ROW for a node with no ``docs`` row (it can never keep)
_NO_DOC_ROW = -2


def _keeper_rank(text_col: str) -> Column:
    return F.coalesce(F.length(text_col), F.lit(-1))


def _keeper_kernel(pdf):
    """Components and keepers of one edge list (u, v, w), w = the keeper
    rank of ``u``: ``graph._components_kernel`` labels the components
    (comp = min node), and each component's keeper is its member with the
    highest rank, ties to the smallest node. A node's rank is the max w
    over its ``u`` rows (``_NO_DOC_ROW`` when it has none). Returns (node,
    comp, keeper, size) for every node of a component whose keeper has a
    docs row; a component with none is dropped."""
    import numpy as np
    import pandas as pd

    from ..operators.graph import _components_kernel

    cc = _components_kernel(pdf)
    nodes = cc["node"].to_numpy()
    comp = cc["comp"].to_numpy()
    n = len(nodes)
    root = np.searchsorted(nodes, comp)      # nodes are sorted (np.unique)
    w = np.full(n, _NO_DOC_ROW, dtype=np.int64)
    np.maximum.at(w, np.searchsorted(nodes, pdf["u"].to_numpy()),
                  pdf["w"].to_numpy(np.int64))
    order = np.lexsort((np.arange(n), -w, root))
    ro = root[order]
    first = order[np.r_[True, ro[1:] != ro[:-1]]]
    best = np.empty(n, dtype=np.int64)
    best[root[first]] = first
    keeper = best[root]
    size = np.bincount(root, minlength=n)[root]
    kept = w[keeper] > _NO_DOC_ROW
    return pd.DataFrame({"node": nodes[kept], "comp": comp[kept],
                         "keeper": nodes[keeper[kept]],
                         "size": size[kept]})


def _elect_keepers(edges: DataFrame) -> DataFrame:
    """(u, v, w) edges -> ``_keeper_kernel`` in ONE grouped
    ``applyInPandas`` task: (node, comp, keeper, size). The task holds
    every edge, as ``graph.connected_components``' does."""
    t = edges.schema["u"].dataType.simpleString()
    # grouping on a named constant column: groupBy(F.lit(0)) fails to
    # resolve in applyInPandas on pyspark 4.1
    return (edges.withColumn("_cc", F.lit(0))
            .groupBy("_cc").applyInPandas(
                _keeper_kernel,
                schema=f"node {t}, comp {t}, keeper {t}, size long"))


def dedup_groups(docs: DataFrame, pairs: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id") -> DataFrame:
    """Resolve near-dup PAIRS into transitive dedup groups and pick one
    keeper per group — the operator that lets a curation run actually drop
    rows (pairs alone can't: A~B and B~C must collapse to ONE keeper even
    when A and C never paired).

    pairs (id_a, id_b), each endpoint with its text length from ``docs``
    -> one Arrow task (``_keeper_kernel``): connected components (min-id
    group label over the PAIR nodes only, never the corpus; a pair with a
    NULL endpoint is not an edge) and the keeper per group = the member
    with the LONGEST text, NULL text last, ties to the smallest id
    (keep-the-richest, the usual curation policy); only a member with a
    ``docs`` row can keep, and a group with none is dropped.
    Returns (doc_id, group_id, keeper_id, group_size) for every doc in a
    group; group_size >= 2 by construction. Anti-join the corpus against
    the non-keeper rows to apply the dedup. ``id_col`` is a key of
    ``docs``. ``minhash_near_dedup`` elects keepers with the same kernel.

    The result is lazy: each read re-runs the solve and the pair lineage.
    """
    e = (pairs.filter(F.col("id_a").isNotNull() & F.col("id_b").isNotNull())
         .select(F.explode(F.array(
             F.struct(F.col("id_a").alias("u"), F.col("id_b").alias("v")),
             F.struct(F.col("id_b").alias("u"), F.col("id_a").alias("v"))))
             .alias("e"))
         .select("e.u", "e.v"))
    ranks = docs.select(F.col(id_col).alias("u"),
                        _keeper_rank(text_col).alias("w"))
    edges = e.join(ranks, "u", "left") \
             .withColumn("w", F.coalesce("w", F.lit(_NO_DOC_ROW)))
    return _elect_keepers(edges).select(
        F.col("node").alias(id_col), F.col("comp").alias("group_id"),
        F.col("keeper").alias("keeper_id"),
        F.col("size").alias("group_size"))


def minhash_near_dedup(docs: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """``docs`` without the non-keepers of its MinHash near-dup groups:
    the rows ``dedup_groups(docs, minhash_lsh_pairs(docs, ...))`` marks
    for dropping (default shingle size, signature and bands), anti-joined
    out, in one pass.

    Every (band, bhash) bucket with at least 2 members links each member
    to the bucket's min id (its hub). A star has the same components as
    the bucket's clique of pairs, so the groups, and with them the
    keepers (``_keeper_kernel``), equal the pair path's at any
    ``star_threshold``, with O(members) edges per bucket. A NULL id never
    pairs, so rows with one are never dropped. Nothing is checkpointed:
    the band rows feed one window, the edges one Arrow task. ``id_col``
    is a key of ``docs``.
    """
    from pyspark.sql import Window
    bands_df = _minhash_bands(docs.filter(F.col(id_col).isNotNull()),
                              text_col, id_col, 3, N_MINHASH, LSH_BANDS,
                              _keeper_rank(text_col).alias("w"))
    bucket = Window.partitionBy("band", "bhash")
    edges = (bands_df.withColumn("_n", F.count("*").over(bucket))
             .withColumn("v", F.min("_id").over(bucket))
             .filter(F.col("_n") >= 2)
             .select(F.col("_id").alias("u"), "v", "w"))
    losers = _elect_keepers(edges) \
        .filter(F.col("node") != F.col("keeper")) \
        .select(F.col("node").alias(id_col))
    return docs.join(losers, id_col, "left_anti")


def simhash_pudf(bits: int = 16):
    """Arrow-vectorized SimHash over the normalized word tokens: each
    token hashes to the 60-bit int of its md5's first 15 hex chars; bit b
    of the fingerprint is set when more tokens have bit b set than not.
    Tokens are NON-distinct (repeated tokens vote repeatedly), empty text
    hashes the one empty token, and NULL text fingerprints to 0. Near-dups
    differ in few bits (compare with ``hamming64``).

    Each Arrow batch hashes each token once and resolves all bit votes in
    one numpy broadcast; the DuckDB twin in the gate spells the same vote
    as a grouped sum.
    """
    import hashlib

    import numpy as np
    from pyspark.sql import types as TY

    shifts = np.arange(bits, dtype=np.int64)

    @F.pandas_udf(TY.LongType())
    def sh(text):
        import pandas as pd
        out = []
        for t in text:
            if t is None:
                out.append(0)
                continue
            hs = np.fromiter(
                (int(hashlib.md5(tok.encode()).hexdigest()[:15], 16)
                 for tok in normalize_str(t).split(" ")),
                dtype=np.int64)
            votes = (2 * ((hs[:, None] >> shifts) & 1) - 1).sum(axis=0)
            out.append(int(((votes > 0).astype(np.int64) << shifts).sum()))
        return pd.Series(out, dtype="int64")

    return sh


def hamming64(a: Column, b: Column) -> Column:
    """Popcount of XOR — via binary string of the long (bit_count is
    available in Spark; DuckDB side uses bit_count too)."""
    return F.bit_count(a.bitwiseXOR(b))


def simhash_pairs(docs: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", bits: int = 16,
                  max_hamming: int = 2,
                  star_threshold: int | None = None) -> DataFrame:
    """All pairs with simhash hamming distance <= ``max_hamming`` — the
    pigeonhole-banded plan with EXACT recall by construction: split the
    ``bits``-bit fingerprint into ``max_hamming + 1`` contiguous bands; any
    pair differing in <= max_hamming bits leaves >= 1 band untouched, so the
    per-band equi-join sees every qualifying pair (no probability, unlike
    MinHash banding), and the exact popcount verify drops the rest. Only
    same-band-value documents ever shuffle together; at 100 TB the band
    value is the partition key. Returns distinct (id_a, id_b, hamming).

    ``star_threshold`` is the clique guard (round 5, mirrors
    minhash_lsh_pairs): a B-member identical-boilerplate family has
    identical fingerprints, so it lands WHOLE in one bucket of ALL
    max_hamming+1 bands — ~(t+1)*B²/2 join rows before distinct (B=10⁵,
    h<=3: ~2*10¹⁰). Band buckets larger than the threshold instead emit a
    verified STAR: each member paired to the bucket's min-id hub, with the
    exact popcount hamming(hub, member) computed at emission and the
    ``<= max_hamming`` filter still applied — O(B) pairs.

    RECALL CONTRACT (weaker than the MinHash guard's, same shape as the
    embedding guard's): star pairs are hub-verified, so two members of an
    oversized bucket within max_hamming of EACH OTHER but not of the hub
    lose their pair. For the identical-fingerprint families that actually
    create oversized buckets, hamming(hub, member) = 0 and nothing is lost —
    components (and dedup_groups output) are identical to the clique's.
    Default None preserves exact clique emission (the gate-oracle
    semantics).
    """
    nb = max_hamming + 1
    sig = _widen(docs).select(F.col(id_col).alias("_id"),
                              simhash_pudf(bits)(F.col(text_col)).alias("_fp"))
    # contiguous band boundaries covering all ``bits`` bits
    edges = [round(i * bits / nb) for i in range(nb + 1)]
    bands = F.array(*[
        F.struct(F.lit(b).alias("band"),
                 F.shiftright(F.col("_fp"), edges[b])
                  .bitwiseAND(F.lit((1 << (edges[b + 1] - edges[b])) - 1))
                  .alias("bval"))
        for b in range(nb)
    ])
    banded = (sig.select("_id", "_fp", F.explode(bands).alias("bb"))
              .select("_id", "_fp", "bb.band", "bb.bval")
              .localCheckpoint(eager=True))
    star = None
    if star_threshold is not None:
        _warn_weak_guard("simhash_pairs")
        from pyspark.sql import Window
        wb = Window.partitionBy("band", "bval")
        # min over (_id, _fp) structs = the min-id member AND its
        # fingerprint in one pass, so the star pair's hamming is computable
        # at emission (struct ordering is lexicographic; _id keys are unique).
        # Checkpoint the window output ONCE — star and the filtered band
        # table both derive from it (see minhash_lsh_pairs).
        bb = (banded.withColumn("_bn", F.count("*").over(wb))
              .withColumn("_hub", F.min(F.struct("_id", "_fp")).over(wb))
              .localCheckpoint(eager=True))
        star = (bb.filter((F.col("_bn") > star_threshold)
                          & (F.col("_id") != F.col("_hub._id")))
                .select(F.col("_hub._id").alias("id_a"),
                        F.col("_id").alias("id_b"),
                        hamming64(F.col("_hub._fp"), F.col("_fp"))
                        .alias("hamming"))
                .filter(F.col("hamming") <= max_hamming))
        banded = bb.filter(F.col("_bn") <= star_threshold) \
                   .select("_id", "_fp", "band", "bval")
    pairs = (banded.alias("l").join(banded.alias("r"), ["band", "bval"])
             .filter(F.col("l._id") < F.col("r._id"))
             .select(F.col("l._id").alias("id_a"), F.col("r._id").alias("id_b"),
                     hamming64(F.col("l._fp"), F.col("r._fp")).alias("hamming"))
             .filter(F.col("hamming") <= max_hamming))
    if star is not None:
        pairs = pairs.unionByName(star)
    return pairs.distinct()


def ngram_jaccard_pairs(docs: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", k: int = 3,
                        threshold: float = 0.5,
                        max_df: int | None = None) -> DataFrame:
    """Exact n-gram Jaccard similarity pairs >= threshold.

    Inverted-index join: explode distinct shingles, self-join on shingle
    (only co-occurring docs meet), count intersections, Jaccard by
    inclusion-exclusion. This is the exact ORACLE for the MinHash path —
    at scale run minhash_lsh_pairs first and verify candidates with this on
    the (tiny) candidate set.

    ``max_df`` caps the document frequency of shingles used for CANDIDATE
    GENERATION (a stopword shingle shared by 1e5 docs would emit 1e10 join
    rows); candidate pairs are then verified on their FULL shingle sets, so
    reported jaccard values are exact. Every doc also always indexes its
    lowest-df shingle regardless of the cap (see below), so identical and
    near-identical boilerplate docs still meet; the residual approximation
    is a pair whose only common shingles are >max_df AND whose lowest-df
    shingles differ — pick max_df >> the corpus' near-dup cluster size.
    """
    arrays = _widen(docs).select(
        F.col(id_col).alias("_id"),
        shingles_pudf(k)(F.col(text_col)).alias("sh"),
    ).localCheckpoint(eager=True)  # materialize before the two-sided reuse
    sh = arrays.select("_id", F.size("sh").alias("n"),
                       F.explode("sh").alias("shingle"))
    if max_df is not None:
        from pyspark.sql import Window
        dfc = sh.groupBy("shingle").agg(F.count("*").alias("_df"))
        # recall fallback: every doc's lowest-df shingle indexes even when
        # above the cap (deterministic tie-break on the shingle text), so a
        # doc whose EVERY shingle is boilerplate still generates candidates
        # — in particular two docs with identical shingle sets always meet
        # on the same fallback shingle. Without this, a >=threshold pair
        # sharing only >max_df shingles would silently never be emitted.
        w = Window.partitionBy("_id").orderBy(F.col("_df").asc(),
                                              F.col("shingle").asc())
        sh = (sh.join(dfc, "shingle")
              .withColumn("_rk", F.row_number().over(w))
              .filter((F.col("_df") <= max_df) | (F.col("_rk") == 1))
              .drop("_df", "_rk"))
        # the capped index feeds THREE consumers (per-doc sizes + both sides
        # of the intersection self-join); materialize once or the df-count
        # join + window chain evaluates three times
        sh = sh.localCheckpoint(eager=True)
    # intersection counts from the (capped) index — one groupBy, no arrays.
    # Per doc: n = FULL shingle count, nc = count surviving the cap; a pair's
    # capped common equals its full common unless one side dropped shingles.
    sizes = sh.groupBy("_id").agg(F.first("n").alias("n"),
                                  F.count("*").alias("nc"))
    inter = (
        sh.alias("a").join(sh.alias("b"), "shingle")
        .filter(F.col("a._id") < F.col("b._id"))
        .groupBy(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .agg(F.count("*").alias("common"))
    )
    paired = (
        inter
        .join(sizes.select(F.col("_id").alias("id_a"), F.col("n").alias("na"),
                           (F.col("n") - F.col("nc")).alias("da")), "id_a")
        .join(sizes.select(F.col("_id").alias("id_b"), F.col("n").alias("nb"),
                           (F.col("n") - F.col("nc")).alias("db")), "id_b")
    )
    jac = F.round(F.col("common") / (F.col("na") + F.col("nb") - F.col("common")), 6)
    if max_df is None:
        return (paired.withColumn("jaccard", jac)
                .filter(F.col("jaccard") >= threshold)
                .select("id_a", "id_b", "jaccard"))
    # exact already when neither side dropped a shingle (the usual case);
    # otherwise the capped common is a lower bound — array-verify only pairs
    # whose UPPER bound (common + min(da, db) extra matches) can reach the
    # threshold. The verify set is tiny whenever the cap binds rarely.
    slack = F.least(F.col("da"), F.col("db"))
    upper = (F.col("common") + slack) / (F.col("na") + F.col("nb")
                                         - F.col("common") - slack)
    exact = paired.filter((F.col("da") == 0) | (F.col("db") == 0))
    maybe = (paired.filter((F.col("da") > 0) & (F.col("db") > 0))
             .filter(F.round(upper, 6) >= threshold))
    a_side = arrays.select(F.col("_id").alias("id_a"), F.col("sh").alias("sha"))
    b_side = arrays.select(F.col("_id").alias("id_b"), F.col("sh").alias("shb"))
    full_common = F.size(F.array_intersect(F.col("sha"), F.col("shb")))
    verified = (maybe.join(a_side, "id_a").join(b_side, "id_b")
                .withColumn("common", full_common)
                .select("id_a", "id_b", "common", "na", "nb", "da", "db"))
    return (exact.unionByName(verified)
            .withColumn("jaccard", jac)
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard"))


def embedding_dup_pairs(emb: DataFrame, id_col: str = "vec_id",
                        vec_col: str = "embedding",
                        threshold: float = 0.95) -> DataFrame:
    """Embedding near-dup pairs: cosine >= threshold — BRUTE self-join.

    Calibration/oracle path only (quadratic); the scale path is
    ``embedding_dup_pairs_bucketed`` below.
    """
    from .similarity import cosine_expr
    v = emb.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
    return (
        v.alias("a").join(v.alias("b"), F.col("a._id") < F.col("b._id"))
        .select(
            F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"),
            F.round(cosine_expr(F.col("a._v"), F.col("b._v")), 6).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def embedding_dup_pairs_bucketed(emb: DataFrame, dim: int,
                                 id_col: str = "vec_id",
                                 vec_col: str = "embedding",
                                 threshold: float = 0.95,
                                 n_planes: int = 8,
                                 probe_radius: int = 1,
                                 star_threshold: int | None = None) -> DataFrame:
    """Embedding near-dup pairs at scale: sign-LSH bucket prefilter + exact
    cosine verification of candidates. NO cartesian join — the self-join is
    an equi-join on the bucket id, so only same-bucket pairs shuffle
    (expected candidate volume ~ (1+r*n_planes) * N^2 / 2^n_planes).

    One side multi-probes every bucket within Hamming distance
    <= ``probe_radius`` of its own, so a pair survives whenever its two
    bucket ids differ in <= probe_radius plane signs. Per-plane split
    probability for a cosine-t pair is arccos(t)/pi (Goemans-Williamson),
    so recall = P[Binomial(n_planes, arccos(t)/pi) <= probe_radius]; exact
    duplicates (cosine 1.0, identical vectors) always share a bucket.
    Reported cosine values are exact (verified per candidate).

    ``star_threshold`` is the same clique guard as minhash_lsh_pairs: a
    bucket holding a B-member exact-dup embedding family would emit B²/2
    candidate pairs; above the threshold its members instead pair only with
    the bucket's min id (exact cosine still verified), O(B) pairs.

    RECALL CONTRACT (weaker than the MinHash guard's): because pairs here
    are cosine-VERIFIED, a star preserves components only when members are
    similar to the hub — exactly the exact-/near-dup families that create
    oversized buckets (cosine(hub, member) ~ 1, nothing lost). Two members
    of an oversized bucket that are similar to each other but NOT to the
    hub lose their pair, and guarded members also skip the multi-probe
    neighbor buckets — the documented trade for not materializing 10^10
    rows. (MinHash's guard emits unverified candidates, so its component
    equivalence is exact.) Default None = exact clique semantics (the gate
    oracle's).

    A NULL vector has a NULL bucket and a zero-norm vector a NULL cosine;
    neither ever forms a pair.
    """
    from .similarity import cosine_expr, lsh_buckets
    v = _widen(emb).select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"),
                           lsh_buckets(F.col(vec_col), dim, n_planes).alias("_b"))
    v = v.localCheckpoint(eager=True)  # both join sides reuse the buckets
    star = None
    if star_threshold is not None:
        _warn_weak_guard("embedding_dup_pairs_bucketed")
        star, v = _cosine_hub_star(v, "_b", threshold, star_threshold)
    from .similarity import probe_buckets
    probes = probe_buckets(F.col("_b"), n_planes, probe_radius)
    left = v.select("_id", "_v", F.explode(F.array(*probes)).alias("_b"))
    pairs = (
        left.alias("a").join(v.alias("b"), "_b")
        .filter(F.col("a._id") < F.col("b._id"))
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"),
                F.round(cosine_expr(F.col("a._v"), F.col("b._v")), 6).alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )
    if star is not None:
        pairs = pairs.unionByName(star)
    return pairs.distinct()
