"""Golden-twin SQL for the ``bpe_tokens`` gate entry.

The gate query trains a BPE merge table (``functions/bpe.py``: collect
once, driver loop: one Spark word-count aggregation, collected, then an
incremental heap trainer on the driver) on the deterministic fixture
corpus below, and encodes the sf ``documents`` table with it
(rank-priority Arrow encode).
Training is iterative and encoding is rank-recursive — neither is directly
expressible in one SQL statement — so the twin follows the terrain
golden-twin pattern (``gate_twins.py``): the MERGE TABLE values are
computed HERE by an independent pure-python reference implementation of
the counted-words BPE formulation (Sennrich, Haddow & Birch 2016), and the
ENCODE is replayed in DuckDB as pure string algebra.

The replay identity doing the work:

- rank-priority encode == replaying the merge table in order, for tables
  produced by BPE training (a merge's output symbol can only appear in
  pairs consumed by LATER merges — earlier merges' pairs predate it), and
- one merge applied leftmost-one-at-a-time to a fixpoint == non-overlapping
  left-to-right ``replace`` on a separator-guarded char string, run to a
  fixpoint; a single replace pass can skip every other occurrence in a run
  (the trailing guard of one match is the leading guard of the next), but
  pass one isolates the skipped occurrences, so TWO passes reach the
  fixpoint.

So the twin is ``replace(replace(s, pat, rep), pat, rep)`` nested once per
merge over ``chr(1)``-separated characters (chr(1) cannot occur in text the
whitespace tokenizer kept). The comparison the gate performs is two-sided
and real: Spark's word count + heap trainer + Arrow rank-priority encode
vs an independent python trainer that recounts every pair on each merge +
in-SQL order-replay encode, value-hashed per document over the full token
sequence (md5 of the separator-joined tokens).
"""

from __future__ import annotations

import re
from collections import Counter

# Deterministic fixture corpus drawn from the synthetic documents
# vocabulary (TESTDATA.md), with skewed repeats so the learned merges are
# meaningful subwords of the sf text being encoded.
FIXTURE_TEXTS = [
    "the table the table the table scan scan scan",
    "query query query value value value order order",
    "spark stream spark stream batch batch window window",
    "merge join merge join hash hash group group agg agg",
    "fast slow fast slow small big small big data data",
    "customer part line row key column sort filter vector dup a",
]
N_MERGES = 12
SEP = "\x01"

_WS = re.compile(r"[ \t\n\x0b\f\r]+")
_MEMO: dict = {}


def _ref_train(texts: list[str], n_merges: int,
               min_pair_count: int = 2) -> list[tuple[str, str, int]]:
    """Independent single-node reference trainer (counted-words BPE):
    the authority the twin SQL replays. It recounts every pair on each
    merge, a different algorithm from ``bpe.bpe_train``'s incremental
    heap; ties break (count DESC, a ASC, b ASC) the same way."""
    wc: Counter = Counter()
    for t in texts:
        for w in _WS.split(t or ""):
            if w:
                wc[w] += 1
    entries = [(list(w), n) for w, n in wc.items()]
    merges: list[tuple[str, str, int]] = []
    for _ in range(n_merges):
        pc: Counter = Counter()
        for syms, n in entries:
            for i in range(len(syms) - 1):
                pc[(syms[i], syms[i + 1])] += n
        if not pc:
            break
        (a, b), cnt = min(pc.items(),
                          key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        if cnt < min_pair_count:
            break
        merges.append((a, b, cnt))
        new = []
        for syms, n in entries:
            res: list[str] = []
            i = 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    res.append(a + b)
                    i += 2
                else:
                    res.append(syms[i])
                    i += 1
            new.append((res, n))
        entries = new
    return merges


def fixture_merges() -> list[tuple[str, str, int]]:
    """The reference merge table for the gate fixture (memoized)."""
    if "merges" not in _MEMO:
        _MEMO["merges"] = _ref_train(FIXTURE_TEXTS, N_MERGES)
    return _MEMO["merges"]


def bpe_tokens_twin_sql() -> str:
    """DuckDB SQL emitting ``(doc_id, n_tokens, tokens_fp)`` for every
    ``documents`` row: the order-replay encode of the reference merge
    table (see module docstring). Empty/NULL text encodes to zero tokens
    and ``md5('')`` — the same contract as ``bpe.bpe_encode`` +
    ``md5(concat_ws(SEP, tokens))`` on the Spark side."""
    assert all("'" not in a + b for a, b, _ in fixture_merges())
    expr = "chr(1) || regexp_replace(w, '(.)', '\\1' || chr(1), 'g')"
    for a, b, _ in fixture_merges():
        pat = f"chr(1) || '{a}' || chr(1) || '{b}' || chr(1)"
        rep = f"chr(1) || '{a}{b}' || chr(1)"
        expr = f"replace(replace({expr}, {pat}, {rep}), {pat}, {rep})"
    return rf"""
        WITH w AS (
          SELECT doc_id,
                 unnest(list_filter(regexp_split_to_array(text,
                   '[ \t\n\x0b\f\r]+'), x -> x <> '')) AS w,
                 generate_subscripts(list_filter(regexp_split_to_array(text,
                   '[ \t\n\x0b\f\r]+'), x -> x <> ''), 1) AS pos
          FROM documents),
        enc AS (SELECT doc_id, pos, trim({expr}, chr(1)) AS toks FROM w),
        agg AS (
          SELECT doc_id,
                 CAST(sum(len(string_split(toks, chr(1)))) AS BIGINT)
                   AS n_tokens,
                 md5(string_agg(toks, chr(1) ORDER BY pos)) AS tokens_fp
          FROM enc GROUP BY doc_id)
        SELECT d.doc_id,
               coalesce(a.n_tokens, 0) AS n_tokens,
               coalesce(a.tokens_fp, md5('')) AS tokens_fp
        FROM documents d LEFT JOIN agg a USING (doc_id)"""
