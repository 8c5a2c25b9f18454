"""Distributed BPE tokenizer induction — learn a byte-pair-encoding merge
table from a corpus and encode documents with it.

The operator a training-data pipeline runs right before tokenizer-bound
work (token budgeting, packing, vocabulary design): given 100 TB of text,
learn the top-N character-pair merges and the subword vocabulary they
induce (Sennrich, Haddow & Birch 2016, "Neural Machine Translation of
Rare Words with Subword Units" — the counted-words formulation).

Scale shape — collect once, driver loop:

- The CORPUS is touched exactly twice, both linearly: one map-side-
  combined ``word -> count`` aggregation, capped to the top ``vocab_cap``
  words (what every production BPE trainer does), and one Arrow-batched
  encode pass at the end.
- The capped word-count table is collected once, and the whole merge
  loop runs on the driver over it (``_learn_merges``): no Spark job per
  merge, and each merge touches only the words that hold its pair.

Determinism: ties in pair counts break on the pair's lexicographic order
(count DESC, a ASC, b ASC), so the merge sequence is a pure function of
the word counts. Python orders ``str`` by code point, the same order as
Spark's UTF-8 byte order. pytest locks it against an independent pure-python
reference implementation (tests/test_bpe.py).
"""

from __future__ import annotations

import heapq
from collections import Counter, defaultdict

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as TY

from .textstats import words_array


def word_counts(docs: DataFrame, text_col: str = "text",
                vocab_cap: int | None = None) -> DataFrame:
    """``(word, n)`` whitespace-token counts — ONE map-side-combined
    aggregation over the corpus; optionally capped to the ``vocab_cap``
    most frequent words (ties to the lexicographically smaller word),
    which bounds the table ``bpe_train`` collects."""
    wc = (docs.select(F.explode(words_array(F.col(text_col))).alias("word"))
          .groupBy("word").agg(F.count("*").alias("n")))
    if vocab_cap is not None:
        wc = wc.orderBy(F.desc("n"), "word").limit(vocab_cap)
    return wc


def _merge_pair(syms: list[str], a: str, b: str) -> list[str]:
    """Replace every non-overlapping adjacent (a, b) in ``syms`` with the
    fused symbol a+b, scanning left to right (the BPE merge step)."""
    res, i = [], 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
            res.append(a + b)
            i += 2
        else:
            res.append(syms[i])
            i += 1
    return res


def _learn_merges(words: list[tuple[str, int]], n_merges: int,
                  min_pair_count: int) -> list[tuple[str, str, int]]:
    """The merge loop over ``(word, n)`` counts, incrementally: weighted
    pair counts, a pair -> word-index map and a lazy max-heap keyed
    ``(-count, a, b)``. Each merge re-segments only the words that hold
    the merged pair and pushes the pairs whose counts changed; a popped
    entry whose count is no longer current is skipped."""
    segs = [list(w) for w, _ in words]
    ns = [n for _, n in words]
    counts: dict[tuple[str, str], int] = defaultdict(int)
    where: dict[tuple[str, str], set[int]] = defaultdict(set)
    for k, s in enumerate(segs):
        for p in zip(s, s[1:]):
            counts[p] += ns[k]
            where[p].add(k)
    heap = [(-c, a, b) for (a, b), c in counts.items()]
    heapq.heapify(heap)
    merges: list[tuple[str, str, int]] = []
    while heap and len(merges) < n_merges:
        c, a, b = heapq.heappop(heap)
        if -c != counts[(a, b)]:
            continue
        if -c < min_pair_count:
            break
        merges.append((a, b, -c))
        delta: Counter = Counter()
        for k in where.pop((a, b)):
            old, n = segs[k], ns[k]
            segs[k] = new = _merge_pair(old, a, b)
            for p in zip(old, old[1:]):
                delta[p] -= n
            for p in zip(new, new[1:]):
                delta[p] += n
                where[p].add(k)
        for p, d in delta.items():
            if d:
                counts[p] += d
                if counts[p] > 0:
                    heapq.heappush(heap, (-counts[p], *p))
    return merges


def bpe_train(docs: DataFrame, n_merges: int, text_col: str = "text",
              vocab_cap: int = 50_000,
              min_pair_count: int = 2) -> list[tuple[str, str, int]]:
    """Learn ``n_merges`` BPE merges from the corpus; returns the ordered
    merge table ``[(a, b, count), ...]`` (may be shorter than n_merges if
    pair counts fall below ``min_pair_count``).

    One ``word_counts`` pass, collected once (at most ``vocab_cap`` rows,
    so ``vocab_cap`` must be a positive int), then the merge loop on the
    driver: the Spark job count does not grow with ``n_merges``.
    """
    if not isinstance(vocab_cap, int) or vocab_cap < 1:
        raise ValueError(f"vocab_cap must be a positive int, got {vocab_cap!r}")
    words = [(r["word"], r["n"])
             for r in word_counts(docs, text_col, vocab_cap).collect()]
    return _learn_merges(words, n_merges, min_pair_count)


def bpe_encode(docs: DataFrame, merges: list[tuple[str, str, int]],
               text_col: str = "text", id_col: str = "doc_id",
               out_col: str = "tokens") -> DataFrame:
    """Encode every document with a learned merge table: per word, start
    from characters and apply the lowest-rank applicable merge until none
    applies (the standard rank-priority BPE encode — equivalent to
    replaying the merges in order). One Arrow-batched pass over the
    corpus; the merge table ships as a broadcast-sized closure constant.

    Returns ``(id_col, tokens array<string>, n_tokens)``; empty/NULL text
    encodes to an empty token array.
    """
    ranks = {(a, b): i for i, (a, b, _) in enumerate(merges)}

    @F.pandas_udf(TY.ArrayType(TY.StringType()))
    def encode(text):
        import re

        import pandas as pd

        # Java's \s set written out (NOT python str.split(): that also
        # splits on Unicode whitespace like NBSP, which words_array keeps
        # inside tokens) — same fix as the token/quality oracles
        ws = re.compile(r"[ \t\n\x0b\f\r]+")

        cache: dict[str, list[str]] = {}

        def enc_word(w: str) -> list[str]:
            got = cache.get(w)
            if got is not None:
                return got
            s = list(w)
            while len(s) > 1:
                best_rank, best_i = None, -1
                for i in range(len(s) - 1):
                    r = ranks.get((s[i], s[i + 1]))
                    if r is not None and (best_rank is None or r < best_rank):
                        best_rank, best_i = r, i
                if best_rank is None:
                    break
                s[best_i:best_i + 2] = [s[best_i] + s[best_i + 1]]
            cache[w] = s
            return s

        out = []
        for t in text:
            toks: list[str] = []
            for w in ws.split(t or ""):
                if w:
                    toks.extend(enc_word(w))
            out.append(toks)
        return pd.Series(out)

    return docs.select(
        F.col(id_col),
        encode(F.col(text_col)).alias(out_col),
    ).withColumn("n_tokens", F.size(F.col(out_col)))
