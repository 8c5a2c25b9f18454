"""BM25 full-text retrieval over the documents table — the inverted-index
probe face of the text surface (the dedup side of the same index shape
lives in ``dedup.ngram_jaccard_pairs``).

Public algorithm: Robertson/Sparck-Jones BM25 in its Lucene idf form,
idf(t) = ln(1 + (N - df + 0.5)/(df + 0.5)) (always positive), score(q, d)
= sum over distinct query terms of idf * tf*(k1+1) / (tf + k1*(1 - b +
b*dl/avgdl)). Query term frequency is ignored (distinct-term queries —
the standard short-query simplification, stated contract).

100 TB design, mirroring ``similarity.build_ivf_index``/``ivf_probe``:

- the INDEX is built once — ONE tokenize pass over the corpus into a
  materialized (term, doc_id, tf) table, then postings-sized shuffles for
  doc lengths and term stats — and persisted; probes never re-tokenize
  (or even re-read) the corpus.
- postings are DENORMALIZED with the document length (8 bytes/row) so a
  probe needs NO probe-time join against a corpus-sized doc-length table;
  the only big table a probe touches is the postings slice of the query's
  own terms.
- the probe never shuffles the corpus: query terms (tiny) broadcast into
  the term-stats lookup, the resulting <=|q| idf rows broadcast into the
  postings join, and the only shuffle is the groupBy over CANDIDATE rows
  (docs sharing a term with the query).
- stop-term guard: ``max_df_frac`` drops terms present in more than that
  fraction of documents at BUILD time — the hottest postings lists are
  exactly the terms with the least idf signal, so the guard removes the
  skew before it exists (same posture as the dedup ``df_cap``). Default
  off so the operator is exact; the 100 TB deployment turns it on.

Reference surface: geospatialtools has no text retrieval (this is part of
the mandated training-data-pipeline extension, SURVEY.md §6); tokenization
matches ``textstats.normalize_text`` ([a-z0-9]+ runs of the lowercased
text) so retrieval, fingerprinting and shingle dedup all agree on what a
token is.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .textstats import text_tokens as _tokens  # ONE canonical token def


@dataclass
class TextIndex:
    """postings: (term, doc_id, tf, dl) — dl denormalized at build so the
    probe is join-free against corpus-sized tables; term_stats: (term, df);
    n_docs/avgdl: the two corpus scalars BM25 needs."""
    postings: DataFrame
    term_stats: DataFrame
    n_docs: int
    avgdl: float
    id_col: str


def build_text_index(docs: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text",
                     max_df_frac: float | None = None) -> TextIndex:
    """One tokenize pass + one (term, doc) shuffle; see module docstring.

    Documents whose text contains no [a-z0-9] token contribute nothing
    (they can never match a query); NULL text likewise.
    """
    toks = (docs.select(F.col(id_col), F.explode(_tokens(F.col(text_col)))
                        .alias("term")))
    # ONE corpus tokenize scan, materialized (mirrors build_ivf_index's
    # eager assignment): everything else — doc lengths (dl = sum tf),
    # term stats, corpus scalars — derives from the checkpointed (term,
    # doc, tf) table, and probes never touch the raw corpus again
    postings0 = (toks.groupBy("term", id_col)
                 .agg(F.count("*").cast("long").alias("tf"))
                 .localCheckpoint(eager=True))
    doclen = (postings0.groupBy(id_col)
              .agg(F.sum("tf").cast("long").alias("dl")))
    postings = (postings0.join(doclen, id_col)  # denormalize dl (build-time)
                .localCheckpoint(eager=True))
    # postings0's checkpoint blocks become unreachable here and are freed
    # by the ContextCleaner (session.py pins periodicGC to 1 min);
    # DataFrame.unpersist would be a no-op on a localCheckpointed frame
    term_stats = (postings.groupBy("term")
                  .agg(F.count("*").cast("long").alias("df"))
                  .localCheckpoint(eager=True))
    # avgdl as ONE double division of exact integer aggregates (not
    # F.avg): sum(dl) and n are exact below 2^53, so Spark, Python and a
    # DuckDB oracle all land on the bit-identical quotient — an engine's
    # internal avg() accumulation order can differ in the last ULP, and
    # avgdl feeds every score. n/avgdl come straight off the postings
    # (n = distinct docs, total length = sum tf), no extra corpus pass.
    stats = postings.agg(F.count_distinct(F.col(id_col)).alias("n"),
                         F.sum("tf").alias("tot")).first()
    n_docs = int(stats["n"])
    avgdl = (float(stats["tot"]) / n_docs) if n_docs else 0.0
    if max_df_frac is not None:
        # floor with an epsilon: the contract is "drop terms in MORE than
        # this fraction of docs", and int(0.7 * 90) == 62 would wrongly
        # drop a term sitting at exactly the allowed fraction (63/90)
        cap = math.floor(max_df_frac * n_docs + 1e-9)
        term_stats = term_stats.filter(F.col("df") <= cap)
        # materialize the guarded postings too — left lazy, EVERY probe
        # would re-run the full-postings semi join this branch exists to
        # amortize (the unfiltered path is already checkpointed above)
        postings = (postings.join(F.broadcast(
            term_stats.select("term")), "term", "left_semi")
            .localCheckpoint(eager=True))
    return TextIndex(postings, term_stats, n_docs, avgdl, id_col)


N_TERM_BUCKETS = 256


def _term_bucket(col):
    return F.pmod(F.xxhash64(col), F.lit(N_TERM_BUCKETS))


def persist_text_index(index: TextIndex, path: str) -> None:
    """Write the index in its 100 TB layout: postings and term stats as
    parquet PARTITIONED BY a term hash bucket (_bkt, xxhash64 % 256), the
    two scalars as a one-row sidecar. A probe against the loaded index
    then becomes a partition-pruned READ of only the buckets holding the
    query's own terms (PartitionFilters on the scan, asserted in
    ``test_bm25_persisted_index_partition_pruned_probe``) — a 100-term
    query batch opens at most 100/256 of the postings files, not all of
    them. At cluster scale the postings write is the one big IO;
    everything a probe needs afterwards is a pruned read."""
    (index.postings.withColumn("_bkt", _term_bucket(F.col("term")))
     .write.mode("overwrite").partitionBy("_bkt")
     .parquet(path + "/postings"))
    (index.term_stats.withColumn("_bkt", _term_bucket(F.col("term")))
     .write.mode("overwrite").partitionBy("_bkt")
     .parquet(path + "/term_stats"))
    spark = index.postings.sparkSession
    (spark.createDataFrame(
        [(index.n_docs, float(index.avgdl), index.id_col)],
        "n_docs long, avgdl double, id_col string")
     .coalesce(1).write.mode("overwrite").parquet(path + "/stats"))


def load_text_index(spark, path: str) -> TextIndex:
    s = spark.read.parquet(path + "/stats").first()
    return TextIndex(spark.read.parquet(path + "/postings"),
                     spark.read.parquet(path + "/term_stats"),
                     int(s["n_docs"]), float(s["avgdl"]), str(s["id_col"]))


def bm25_probe(index: TextIndex, queries: DataFrame, k: int = 5,
               k1: float = 1.2, b: float = 0.75,
               q_id_col: str = "query_id",
               q_text_col: str = "q_text") -> DataFrame:
    """Top-k BM25 retrieval of a (small, broadcastable) query batch against
    a built index. Returns (query_id, rank, doc_id, score) with score
    rounded to 6 decimals and ties broken by doc_id ascending — the same
    determinism contract as ``similarity.cosine_topk``.

    Plan shape (asserted in tests): two broadcasts of query-sized tables,
    one shuffle of candidate rows, one per-query window over candidates.
    The corpus-sized postings table is only ever filtered by the term join.

    When the index came from ``load_text_index`` (carries the _bkt
    partition column), the probe collects the query batch's distinct term
    buckets — bounded by the query term count, small by this operator's
    contract — and applies them as a LITERAL isin filter, so the parquet
    scans show the restriction as PartitionFilters: unqueried buckets'
    files are never opened. Output is identical either way (the term
    equi-join already restricts rows).
    """
    qterms = (queries.select(F.col(q_id_col),
                             F.explode(F.array_distinct(
                                 _tokens(F.col(q_text_col)))).alias("term")))
    postings, term_stats = index.postings, index.term_stats
    if "_bkt" in postings.columns:
        # pin the (small) query batch before reading it twice: the bucket
        # collect and the joins both consume qterms, and a
        # non-deterministic queries plan re-executed for the join could
        # otherwise produce terms whose buckets the isin already dropped
        qterms = qterms.localCheckpoint(eager=True)
        bkts = [r["b"] for r in qterms
                .select(_term_bucket(F.col("term")).alias("b"))
                .distinct().collect()]
        postings = postings.filter(F.col("_bkt").isin(bkts))
        if "_bkt" in term_stats.columns:
            term_stats = term_stats.filter(F.col("_bkt").isin(bkts))
    # idf for the query's own terms only: broadcast the tiny query-term
    # table INTO the term-stats join, keeping the big side unshuffled
    n, avgdl = float(index.n_docs), float(index.avgdl)
    q_idf = (term_stats.join(F.broadcast(qterms), "term")
             .withColumn("idf", F.log(
                 1.0 + (F.lit(n) - F.col("df") + 0.5) / (F.col("df") + 0.5))))
    cand = postings.join(
        F.broadcast(q_idf.select("term", q_id_col, "idf")), "term")
    tf = F.col("tf").cast("double")
    part = F.col("idf") * tf * (k1 + 1.0) / \
        (tf + k1 * (1.0 - b + b * F.col("dl").cast("double") / F.lit(avgdl)))
    scored = (cand.groupBy(q_id_col, index.id_col)
              .agg(F.round(F.sum(part), 6).alias("score")))
    w = Window.partitionBy(q_id_col).orderBy(F.desc("score"),
                                             F.col(index.id_col))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(q_id_col, "rank", index.id_col, "score"))


def bm25_topk(docs: DataFrame, queries: DataFrame, k: int = 5,
              k1: float = 1.2, b: float = 0.75, id_col: str = "doc_id",
              text_col: str = "text", q_id_col: str = "query_id",
              q_text_col: str = "q_text",
              max_df_frac: float | None = None) -> DataFrame:
    """One-shot composition (build + probe) for single-batch use; repeated
    probing should ``build_text_index`` once (or ``load_text_index`` a
    persisted one) and call ``bm25_probe`` per batch."""
    return bm25_probe(build_text_index(docs, id_col, text_col, max_df_frac),
                      queries, k=k, k1=k1, b=b,
                      q_id_col=q_id_col, q_text_col=q_text_col)


def tfidf_keywords(index: TextIndex, k: int = 5) -> DataFrame:
    """Per-document top-k keywords by tf-idf over an existing
    ``build_text_index`` result — the dataset-card / topic-labeling
    companion of the BM25 probe, paying zero extra corpus passes
    (everything derives from the checkpointed postings).

    score = tf * ln(n_docs / df) (plain tf-idf with the natural-log
    idf; terms in every document score exactly 0 and still rank by the
    term tie-break). Ranking is a window PARTITIONED BY THE DOC id —
    bounded by a document's distinct-term count, never a corpus-wide
    sort — with (score desc, term asc) determinism.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    # no broadcast hint: term_stats is vocabulary-sized (fine to
    # broadcast at gate scale, an OOM hazard for a 100 TB vocabulary) —
    # AQE picks broadcast when it actually fits
    p = index.postings.join(index.term_stats, "term")
    score = F.round(F.col("tf").cast("double") *
                    F.log(F.lit(float(index.n_docs)) /
                          F.col("df").cast("double")), 6)
    w = Window.partitionBy(index.id_col).orderBy(F.desc("score"), "term")
    return (p.withColumn("score", score)
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(index.id_col, "term", "tf", "score", "rank"))
