"""Winnowing fingerprints: python-reference parity (incl. across Arrow
batch boundaries), the winnowing guarantee (shared substring >= k+w-1 =>
shared fingerprint), DuckDB twin parity, and the pairs cap contract."""

from __future__ import annotations

import hashlib
import re

import duckdb
import pytest

from geospatialtools_spark.functions import winnow as WN


def py_winnow(text, k=WN.DEFAULT_K, w=WN.DEFAULT_W):
    """Independent reference: set of (pos, fp) selected fingerprints."""
    if text is None:
        return set()
    s = " ".join(re.findall("[a-z0-9]+", text.lower()))
    ng = len(s) - (k - 1)
    if ng < 1:
        return set()
    hs = [int(hashlib.md5(s[i:i + k].encode()).hexdigest()[:15], 16)
          for i in range(ng)]
    out = set()
    for st in range(max(ng - (w - 1), 1)):
        vals = hs[st:st + w]
        m = min(vals)
        ri = len(vals) - 1 - vals[::-1].index(m)
        out.add((st + ri + 1, m))
    return out


TEXTS = [
    (0, "The quick brown fox jumps over the lazy dog"),
    (1, "abababababababab"),                    # forced equal-hash ties
    (2, "aaaaaaaaaaaaaaaaaaaa"),                # all k-grams identical
    (3, "short"),                               # < k after normalize
    (4, ""),
    (5, None),
    (6, "Punct!!! and   CASE folding -> should NOT matter ok"),
    (7, "exactly8"),                            # exactly k chars: 1 gram
    (8, "ninechars"),                           # k+1 chars: 2 grams < w
    (9, "Der schnelle braune Fuchs springt 12345"),
]


def _collect(df):
    return {(r[0], r["pos"], r["fp"]) for r in df.collect()}


def test_winnow_matches_python_reference(spark):
    df = spark.createDataFrame(TEXTS, "doc_id long, text string")
    got = _collect(WN.winnow_fingerprints(df))
    want = {(i, p, f) for i, t in TEXTS for p, f in py_winnow(t)}
    assert got == want
    assert any(i == 1 for i, _, _ in got)       # tie case produced rows
    assert not any(i in (3, 4, 5) for i, _, _ in got)


def test_winnow_fingerprints_bit_parity(spark):
    """The shipped Arrow pass equals the python reference AND the DuckDB
    twin row-for-row with string ids, three partitions and 7-row Arrow
    batches, so the tie, short-text and NULL rows land mid-batch."""
    rows = [(f"d{i}", t) for i, t in TEXTS] + [
        (f"g{i}", f"Generated doc {i}: {'xy' * (i % 9)} tail {i * 7919}")
        for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id string, text string") \
              .repartition(3)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        got = _collect(WN.winnow_fingerprints(df))
    finally:
        spark.conf.set(key, old)
    want = {(i, p, f) for i, t in rows for p, f in py_winnow(t)}
    assert got == want
    con = duckdb.connect()
    con.sql("CREATE TABLE documents(doc_id VARCHAR, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    assert set(con.sql(WN.sql_winnow("doc_id", "text")).fetchall()) == got


def test_winnow_duckdb_twin_parity(spark):
    df = spark.createDataFrame(TEXTS, "doc_id long, text string")
    got = _collect(WN.winnow_fingerprints(df))
    con = duckdb.connect()
    con.sql("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", TEXTS)
    rows = con.sql(WN.sql_winnow("doc_id", "text")).fetchall()
    assert set(rows) == got


def test_winnow_guarantee_shared_substring(spark):
    """Any two docs sharing >= k+w-1 normalized chars share >= 1
    fingerprint — the winnowing theorem, checked on 40 planted pairs
    embedded in otherwise-unique noise."""
    k, w = WN.DEFAULT_K, WN.DEFAULT_W
    shared_len = k + w - 1                       # exactly the threshold
    rows = []
    for i in range(40):
        core = f"sharedcore{i:02d}x"[:shared_len]
        assert len(core) >= shared_len
        rows.append((2 * i, f"left{i}unique prefix {core} and tail{2*i}"))
        rows.append((2 * i + 1, f"other{i}start {core} suffix{2*i+1}"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {(r["id_a"], r["id_b"])
             for r in WN.winnow_pairs(df).collect()}
    for i in range(40):
        assert (2 * i, 2 * i + 1) in pairs, i


def test_winnow_pairs_max_df_cap(spark):
    """A fingerprint held by every doc (shared boilerplate) is dropped
    by the cap; docs still pair through their other shared content."""
    boiler = "common license header boilerplate text here"
    # bodies share no 8-char substring with each other (every 4-char
    # block carries the zero-padded doc number)
    rows = [(i, f"{boiler} q{i:03d}w{i:03d}e{i:03d}r{i:03d}")
            for i in range(30)]
    rows += [(100, "clone pair body shared beyond threshold length"),
             (101, "clone pair body shared beyond threshold length!")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # max_df=5: the boiler-only fps have df=30, the boiler->body
    # boundary fps (e.g. ' here q0') have df=10 (the ten docs sharing a
    # leading digit) — all above the cap, so no boiler-driven pairs
    pairs = {(r["id_a"], r["id_b"])
             for r in WN.winnow_pairs(df, max_df=5).collect()}
    assert (100, 101) in pairs
    assert not any(a < 100 and b < 100 for a, b in pairs)


def test_winnow_rejects_bad_args(spark):
    df = spark.createDataFrame([(0, "x")], "doc_id long, text string")
    with pytest.raises(ValueError):
        WN.winnow_fingerprints(df, k=0)
    with pytest.raises(ValueError):
        WN.winnow_fingerprints(df, w=0)
    with pytest.raises(ValueError):
        WN.winnow_pairs(df, k=0)
