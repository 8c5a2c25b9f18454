"""Winnowing document fingerprints (Schleimer, Wilkerson & Aiken 2003,
the MOSS algorithm) — position-robust sub-document fingerprinting.

The dedup hierarchy so far keys on whole docs (``fingerprint``), spans,
lines and fixed token windows (``passage_dedup``). Winnowing is the
classic LOCAL fingerprint selector between those: hash every character
k-gram of the normalized text, slide a window of ``w`` consecutive
hashes, and keep the window minimum (rightmost on ties). Its guarantee
(the winnowing theorem, paper §3): any shared substring of length
>= k + w - 1 between two documents yields at least one shared selected
fingerprint — so ``winnow_pairs`` has EXACT recall for long-enough
clones, at ~2/(w+1) of the k-gram density.

``winnow_fingerprints`` is one Arrow ``mapInPandas`` pass: per batch,
hashlib hashes every gram and a python loop picks the window minima.
``sql_winnow`` spells the same selection in DuckDB from the same
constants, so the gate value-checks the selected (pos, fp) set
bit-for-bit.

Hash: ``int(md5(gram)[:15], 16)`` — the repo's standard cross-engine
60-bit construction (same as sampling.hash_bucket / warc_to_docs
doc ids). Positions are 1-based gram indices into the NORMALIZED text.

Scale shape: fingerprinting is per-row map work (zero shuffle);
``winnow_pairs`` shuffles once on the fingerprint value with the same
``max_df`` boilerplate cap + disclosed-contract guard as
``dedup.ngram_jaccard_pairs`` — a fingerprint shared by the whole
corpus (a license header k-gram) must not build a B^2 join.
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .textstats import normalize_str

DEFAULT_K = 8      # k-gram length (chars of normalized text)
DEFAULT_W = 4      # window: guarantee threshold t = k + w - 1 = 11


def winnow_fingerprints(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", k: int = DEFAULT_K,
                        w: int = DEFAULT_W) -> DataFrame:
    """(id, pos, fp) — the distinct selected fingerprints per document.
    NULL texts and texts shorter than k after normalization contribute no
    rows; texts with fewer than w grams get one short window over all of
    them. One Arrow ``mapInPandas`` pass (hashlib per gram), zero
    shuffle."""
    if k < 1 or w < 1:
        raise ValueError(f"k and w must be >= 1, got k={k} w={w}")
    import hashlib

    import pandas as pd

    id_dtype = dict(df.dtypes)[id_col]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            ids, poss, fps = [], [], []
            for rid, t in zip(b[id_col], b[text_col]):
                if t is None or (isinstance(t, float) and pd.isna(t)):
                    continue
                s = normalize_str(str(t))
                ng = len(s) - (k - 1)
                if ng < 1:
                    continue
                hs = [int(hashlib.md5(s[i:i + k].encode())
                          .hexdigest()[:15], 16)
                      for i in range(ng)]
                seen = set()
                nw = max(ng - (w - 1), 1)
                for st in range(nw):
                    vals = hs[st:st + w]
                    m = min(vals)
                    # rightmost min: ties go to the later gram (paper
                    # §4), so adjacent windows reuse selections
                    ri = len(vals) - 1 - vals[::-1].index(m)
                    key = (st + ri + 1, m)
                    if key not in seen:
                        seen.add(key)
                        ids.append(rid)
                        poss.append(key[0])
                        fps.append(key[1])
            yield pd.DataFrame({id_col: pd.Series(ids, dtype="object"),
                                "pos": pd.Series(poss, dtype="int64"),
                                "fp": pd.Series(fps, dtype="int64")})

    schema = f"{id_col} {id_dtype}, pos long, fp long"
    return df.select(id_col, text_col).mapInPandas(run, schema)


def winnow_pairs(df: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text", k: int = DEFAULT_K,
                 w: int = DEFAULT_W, max_df: int = 1000) -> DataFrame:
    """Unordered doc pairs sharing at least one selected fingerprint —
    exact recall for clones of length >= k + w - 1 (winnowing theorem),
    false positives only via 60-bit hash collisions.

    ``max_df`` drops fingerprints held by more than that many docs
    before the self-join (the ngram_jaccard max_df contract: a
    corpus-wide boilerplate k-gram must not build a quadratic join;
    pairs joined ONLY by dropped fingerprints are lost — disclosed, and
    the cap is a dial). One shuffle on fp; pair emission is per-bucket."""
    fps = winnow_fingerprints(df, id_col, text_col, k, w)
    # materialized once: posts feeds the df-cap aggregate AND both sides
    # of the self-join — without the checkpoint each subtree re-runs the
    # full fingerprint pass over the corpus (the dedup._minhash_banded
    # rule; measured 2.2x at 60k docs)
    posts = (fps.select(F.col(id_col).alias("id"), "fp").distinct()
             .localCheckpoint(eager=True))
    keep = (posts.groupBy("fp").agg(F.count("*").alias("df"))
            .filter(F.col("df") <= max_df).select("fp"))
    p = posts.join(keep, "fp")
    a = p.alias("a")
    b = p.alias("b")
    return (a.join(b, (F.col("a.fp") == F.col("b.fp"))
                   & (F.col("a.id") < F.col("b.id")))
            .select(F.col("a.id").alias("id_a"),
                    F.col("b.id").alias("id_b"))
            .distinct())


# --- DuckDB twin ------------------------------------------------------------

def sql_winnow(id_expr: str, text_expr: str, k: int = DEFAULT_K,
               w: int = DEFAULT_W, table: str = "documents") -> str:
    """SELECT id, pos, fp — the identical selection rule as DuckDB SQL
    (normalize via the replace-chain twin, the same 60-bit md5 hash,
    list slices for the windows)."""
    norm = (f"trim(regexp_replace(regexp_replace(lower({text_expr}), "
            f"'[^a-z0-9]+', ' ', 'g'), ' +', ' ', 'g'))")
    h = (f"CAST(('0x' || substr(md5(substr(s, CAST(i AS INT), {k})), "
         f"1, 15)) AS BIGINT)")
    return f"""
        WITH nz AS (
          SELECT {id_expr} AS id, {norm} AS s FROM {table}
          WHERE {text_expr} IS NOT NULL),
        hs AS (
          SELECT id, list_transform(range(1, length(s) - {k - 1} + 1),
                                    i -> {h}) AS hashes
          FROM nz WHERE length(s) >= {k}),
        sel AS (
          SELECT id, list_transform(
                   range(1, greatest(len(hashes) - {w - 1}, 1) + 1),
                   st -> struct_pack(
                     pos := st + len(hashes[st:st+{w - 1}])
                            - list_position(list_reverse(
                                hashes[st:st+{w - 1}]),
                                list_aggregate(hashes[st:st+{w - 1}],
                                               'min')),
                     fp := list_aggregate(hashes[st:st+{w - 1}],
                                          'min'))) AS picks
          FROM hs)
        -- row-level DISTINCT (duckdb's list_distinct lacks struct lists)
        SELECT DISTINCT id, CAST(u.pos AS BIGINT) AS pos, u.fp AS fp
        FROM (SELECT id, unnest(picks) AS u FROM sel)"""
