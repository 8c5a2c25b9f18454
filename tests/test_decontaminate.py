"""Broadcast fingerprint-set decontamination: exact parity with the
inverted-index join, zero false negatives by construction, collision
false positives removed by the verify stage, and a shuffle-free corpus
prefilter plan."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from geospatialtools_spark.functions.decontaminate import (candidate_hits,
                                                           contamination_exact,
                                                           eval_fingerprints)
from geospatialtools_spark.functions.dedup import shingles_pudf


def _docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "pack my box with five dozen liquor jugs"),
        (2, "the quick brown fox eats five dozen liquor jugs"),  # hits both
        (3, "completely unrelated clean text about spark plans"),
        (4, None),
        (5, ""),
        (6, "the quick brown fox jumps over the lazy dog"),      # dup of 0
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _eval(spark):
    return spark.createDataFrame(
        [(100, "the quick brown fox jumps high"),
         (101, "five dozen liquor jugs on a shelf")],
        "doc_id long, text string")


def _inverted_index(docs, ev):
    sh = docs.select("doc_id",
                     F.explode(shingles_pudf(3)(F.col("text"))).alias("shingle"))
    evs = ev.select(
        F.explode(shingles_pudf(3)(F.col("text"))).alias("shingle")).distinct()
    return (sh.join(F.broadcast(evs), "shingle")
            .groupBy("doc_id").agg(F.count("*").alias("n_hits")))


def test_contamination_exact_matches_inverted_index(spark):
    docs, ev = _docs(spark), _eval(spark)
    got = {r["doc_id"]: r["n_hits"]
           for r in contamination_exact(docs, ev).collect()}
    ref = {r["doc_id"]: r["n_hits"]
           for r in _inverted_index(docs, ev).collect()}
    assert got == ref
    assert set(got) == {0, 1, 2, 6}          # doc 3 clean, 4/5 empty
    assert got[0] == got[6]                  # identical docs, identical hits


def test_candidate_hits_counts_and_nulls(spark):
    docs, ev = _docs(spark), _eval(spark)
    fps = eval_fingerprints(ev)
    assert fps.dtype == np.int64 and (np.diff(fps) > 0).all()
    got = {r["doc_id"]: r["n_maybe"]
           for r in candidate_hits(docs, fps).collect()}
    # prefilter counts == exact counts here (no planted collisions), and
    # every doc gets a row — clean docs 0, empty/null docs 0
    ref = {r["doc_id"]: r["n_hits"]
           for r in _inverted_index(docs, ev).collect()}
    assert got == {**{i: 0 for i in range(7)}, **ref}


def test_collision_false_positives_removed_by_verify(spark):
    # poison the fingerprint set with hashes of NON-eval shingles (the
    # 64-bit-collision stand-in): candidate_hits must rise, but
    # contamination_exact is unchanged because the string verify kills them
    docs, ev = _docs(spark), _eval(spark)
    fps = eval_fingerprints(ev)
    poison = eval_fingerprints(docs.filter("doc_id = 3"))
    fps_bad = np.unique(np.concatenate([fps, poison]))
    maybe = {r["doc_id"]: r["n_maybe"]
             for r in candidate_hits(docs, fps_bad).collect()}
    assert maybe[3] > 0                      # prefilter now flags doc 3
    got = {r["doc_id"]: r["n_hits"]
           for r in contamination_exact(docs, ev).collect()}
    ref = {r["doc_id"]: r["n_hits"]
           for r in _inverted_index(docs, ev).collect()}
    assert got == ref and 3 not in got


def test_empty_eval_set_flags_nothing(spark):
    docs = _docs(spark)
    empty = docs.filter("doc_id < 0")
    fps = eval_fingerprints(empty)
    assert len(fps) == 0
    got = candidate_hits(docs, fps).agg(F.sum("n_maybe")).head()[0]
    assert got == 0
    assert contamination_exact(docs, empty).count() == 0


def test_prefilter_plan_has_no_exchange(spark):
    docs, ev = _docs(spark), _eval(spark)
    fps = eval_fingerprints(ev)
    plan = candidate_hits(docs, fps)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan            # corpus never shuffles


def test_verify_joins_broadcast_without_stats(spark):
    # the candidate-id semi-join and the verify shingle join carry explicit
    # broadcast hints: with auto-broadcast off (the large-corpus regime,
    # where size ESTIMATES derive from the corpus plan) the corpus must
    # still never sort-merge — a dropped hint regresses to shuffling the
    # whole corpus by doc_id
    docs, ev = _docs(spark), _eval(spark)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        q = contamination_exact(docs, ev)
        plan = q._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
        assert plan.count("BroadcastHashJoin") >= 2
        got = {r["doc_id"]: r["n_hits"] for r in q.collect()}
        ref = {r["doc_id"]: r["n_hits"]
               for r in _inverted_index(docs, ev).collect()}
        assert got == ref
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


# ---------------------------------------------------------------------------
# contamination_near (MinHash cross-pair decontamination)


def test_contamination_near_equals_full_run_cross_pairs(spark):
    """Construction contract: the cross pairs of minhash_lsh_pairs over
    corpus UNION eval — nothing more (no corpus-corpus, no eval-eval)."""
    from geospatialtools_spark.functions.decontaminate import (
        contamination_near)
    from geospatialtools_spark.functions.dedup import minhash_lsh_pairs
    rows = []
    for i in range(40):
        rows.append((i, f"corpus document number {i} about topic "
                        f"{'alpha beta gamma delta' if i % 4 == 0 else i}"))
    # two near-identical corpus docs (a corpus-corpus pair that must NOT
    # appear in the decontamination output)
    rows.append((90, "identical corpus twin text about many things here"))
    rows.append((91, "identical corpus twin text about many things here"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    ev = spark.createDataFrame(
        [(1000, "corpus document number 7 about topic 7"),   # near doc 7
         (1001, "eval only question nothing shares this phrasing"),
         (1002, "eval twin question matching no corpus entry"),
         (1003, "eval twin question matching no corpus entry")],
        "doc_id long, text string")
    got = {(r["doc_id"], r["eval_id"])
           for r in contamination_near(docs, ev).collect()}
    full = minhash_lsh_pairs(
        docs.unionByName(ev))
    cross = {(min(a, b), max(a, b))
             for a, b in ((r["id_a"], r["id_b"]) for r in full.collect())}
    want = {(a, b) for a, b in cross if a < 1000 <= b}
    assert {(a, b) for a, b in got} == want
    assert (7, 1000) in got                       # the planted leak
    assert not any(e in (90, 91) for _, e in got)  # no corpus-corpus
    assert not any(c >= 1000 for c, _ in got)      # no eval-eval


def test_contamination_near_broadcasts_eval_side(spark):
    from geospatialtools_spark.functions.decontaminate import (
        contamination_near)
    docs = spark.createDataFrame(
        [(i, f"text number {i} with words") for i in range(20)],
        "doc_id long, text string")
    ev = spark.createDataFrame([(500, "text number 3 with words")],
                               "doc_id long, text string")
    out = contamination_near(docs, ev)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert (3, 500) in {(r["doc_id"], r["eval_id"]) for r in out.collect()}


def test_contamination_near_broadcast_follows_threshold(spark):
    """The eval side broadcasts only within autoBroadcastJoinThreshold
    (the test above: a small side does): at -1 neither the initial nor
    the final adaptive plan has a broadcast join, and the planted pair
    is still found."""
    from geospatialtools_spark.functions.decontaminate import (
        contamination_near)
    docs = spark.createDataFrame(
        [(i, f"text number {i} with words") for i in range(20)],
        "doc_id long, text string")
    ev = spark.createDataFrame([(500, "text number 3 with words")],
                               "doc_id long, text string")
    key = "spark.sql.autoBroadcastJoinThreshold"
    saved = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        out = contamination_near(docs, ev)
        qe = out._jdf.queryExecution()
        assert "BroadcastHashJoin" not in qe.executedPlan().toString()
        got = {(r["doc_id"], r["eval_id"]) for r in out.collect()}
        assert "BroadcastHashJoin" not in qe.executedPlan().toString()
    finally:
        spark.conf.set(key, saved)
    assert (3, 500) in got
