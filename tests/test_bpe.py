"""BPE tokenizer induction vs an independent pure-python reference
(Sennrich et al. 2016 counted-words formulation): the merge sequence, the
encoded output, and the edge cases are locked exactly."""

from __future__ import annotations

import random
import re
import uuid
from collections import Counter

import pytest

from geospatialtools_spark.functions.bpe import (bpe_encode, bpe_train,
                                                 word_counts)
from geospatialtools_spark.oracle import bpe_twin

_WS = re.compile(r"[ \t\n\x0b\f\r]+")


def _ref_word_counts(texts):
    c = Counter()
    for t in texts:
        for w in _WS.split(t or ""):
            if w:
                c[w] += 1
    return c


def _ref_encode(word, ranks):
    s = list(word)
    while len(s) > 1:
        best_rank, best_i = None, -1
        for i in range(len(s) - 1):
            r = ranks.get((s[i], s[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_i = r, i
        if best_rank is None:
            break
        s[best_i:best_i + 2] = [s[best_i] + s[best_i + 1]]
    return s


TEXTS = [
    "low low low low low",
    "lower lower newest newest newest",
    "newest newest newest widest widest",
    "low lower lowest newer new",
    "wide wider widest\tnew newest",
    "",
    "a ab aba abab low",
]


def _docs(spark, texts=TEXTS):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")


def test_word_counts_match_reference(spark):
    docs = _docs(spark)
    wc = {r["word"]: r["n"] for r in word_counts(docs).collect()}
    assert wc == dict(_ref_word_counts(TEXTS))


def test_bpe_train_matches_reference_merge_sequence(spark):
    docs = _docs(spark)
    got = bpe_train(docs, n_merges=12)
    ref = bpe_twin._ref_train(TEXTS, 12)
    assert got == ref
    assert len(got) >= 6          # corpus genuinely supports merges
    counts = [c for _, _, c in got]
    # merge counts are non-increasing only within equal vocab states —
    # but the first merge must be the global max pair
    assert counts[0] == max(counts)


def test_bpe_train_stops_below_min_pair_count(spark):
    # every word is a distinct single char except one repeated bigram word
    docs = _docs(spark, ["x y z q", "ab ab"])
    got = bpe_train(docs, n_merges=10, min_pair_count=2)
    assert got == [("a", "b", 2)]


def test_bpe_encode_matches_reference_and_is_lossless(spark):
    docs = _docs(spark)
    merges = bpe_train(docs, n_merges=8)
    ranks = {(a, b): i for i, (a, b, _) in enumerate(merges)}
    out = {r["doc_id"]: (r["tokens"], r["n_tokens"])
           for r in bpe_encode(docs, merges).collect()}
    for i, t in enumerate(TEXTS):
        ref = []
        for w in _WS.split(t or ""):
            if w:
                ref.extend(_ref_encode(w, ranks))
        assert out[i][0] == ref
        assert out[i][1] == len(ref)
        # lossless: concatenated tokens == text minus whitespace
        assert "".join(out[i][0]) == "".join(_WS.split(t))
    # the common words actually compress (fewer tokens than chars)
    toks, _ = out[0]
    assert toks == ["low"] * 5


def test_bpe_gate_twin_replay_equals_rank_priority():
    # the identity the bpe_tokens gate twin (oracle/bpe_twin.py) rests on:
    # for a TRAINED merge table, replaying merges in order on a
    # separator-guarded char string with two replace passes per merge
    # (pass one can skip every other occurrence in a run; pass two
    # reaches the fixpoint) equals the rank-priority encode. Checked over
    # the fixture vocab, adversarial runs, and products of the fixture
    # merges themselves.
    from geospatialtools_spark.oracle.bpe_twin import (SEP, FIXTURE_TEXTS,
                                                       fixture_merges)
    merges = fixture_merges()
    assert len(merges) >= 8
    ranks = {(a, b): i for i, (a, b, _) in enumerate(merges)}

    def replay(word):
        s = SEP + SEP.join(word) + SEP
        for a, b, _ in merges:
            pat, rep = SEP + a + SEP + b + SEP, SEP + a + b + SEP
            s = s.replace(pat, rep).replace(pat, rep)
            assert pat not in s, (word, a, b)
        return [t for t in s.split(SEP) if t]

    words = {w for t in FIXTURE_TEXTS for w in _WS.split(t) if w}
    a0, b0, _ = merges[0]
    words |= {a0 * 6, (a0 + b0) * 4, a0 + b0 * 2 + a0 * 2 + b0,
              "lowlowlow", "tabletable", "querquerquer"}
    for w in sorted(words):
        assert replay(w) == _ref_encode(w, ranks), w


def test_bpe_encode_null_text_and_cap(spark):
    docs = spark.createDataFrame(
        [(0, None), (1, "zz zz yy")], "doc_id long, text string")
    merges = bpe_train(docs, n_merges=3, vocab_cap=1)
    # cap=1 keeps only the most frequent word 'zz' -> one merge (z,z,2)
    assert merges == [("z", "z", 2)]
    out = {r["doc_id"]: r["tokens"] for r in bpe_encode(docs, merges).collect()}
    assert out[0] == []
    assert out[1] == ["zz", "zz", "y", "y"]


# letters of the random corpora: ASCII, Latin-1 and Cyrillic, and two
# astral characters (UTF-16 surrogate pairs on the JVM side)
_ALPHABET = list("abcde") + ["\u00e9", "\u00df", "\u0436", "\U0001d11e",
                              "\U0001f600"]


def _random_corpus(seed):
    """120 docs over 150 random words of 2-10 letters, 15% of the words
    one letter repeated (the a == b merges of runs)."""
    rng = random.Random(seed)
    words = [rng.choice(_ALPHABET) * rng.randint(2, 9) if rng.random() < 0.15
             else "".join(rng.choices(_ALPHABET, k=rng.randint(2, 10)))
             for _ in range(150)]
    return [" ".join(rng.choices(words, k=rng.randint(1, 12)))
            for _ in range(120)]


def test_bpe_train_matches_reference_on_random_corpora(spark):
    """The driver-side heap trainer against the gate's recount-every-pair
    reference on 20 seeded non-ASCII / astral corpora, 200+ merges each:
    the count DESC, a ASC, b ASC tie-break holds beyond ASCII."""
    for seed in range(20):
        texts = _random_corpus(seed)
        ref = bpe_twin._ref_train(texts, 250)
        assert len(ref) == 250, seed
        assert any(ord(c) > 0xFFFF for a, b, _ in ref for c in a + b), seed
        assert bpe_train(_docs(spark, texts), n_merges=250) == ref, seed


def _jobs_in_group(spark, run):
    sc = spark.sparkContext
    group = f"bpe-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "bpe job count")
    try:
        out = run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_bpe_train_job_count_does_not_grow_with_merges(spark):
    """One word-count pass, collected once: the merges run on the driver,
    so 4 and 24 merges run the same (small) number of Spark jobs."""
    docs = _docs(spark, bpe_twin.FIXTURE_TEXTS)
    jobs = {}
    for n in (4, 24):
        got, jobs[n] = _jobs_in_group(spark, lambda: bpe_train(docs, n))
        assert got == bpe_twin._ref_train(bpe_twin.FIXTURE_TEXTS, n)
    assert jobs[4] == jobs[24] <= 3, jobs


@pytest.mark.parametrize("cap", [None, 0, -1])
def test_bpe_train_rejects_unbounded_vocab_cap(spark, cap):
    """The word table is collected, so it must be capped; the check runs
    before any Spark job."""
    docs = _docs(spark)

    def run():
        with pytest.raises(ValueError, match="vocab_cap"):
            bpe_train(docs, 4, vocab_cap=cap)

    assert _jobs_in_group(spark, run)[1] == 0
