"""Skew-salting equivalence + hypothesis property tests (SURVEY.md §5.2.4).

Property tests run on the numpy oracle (fast, no Spark) over random small
DEMs; the salting test proves the salted join plan returns the same multiset
as the plain join under a pathological hotspot.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from geospatialtools_spark.oracle import terrain as T

RES = 30.0


# ----------------------------------------------------------- skew salting

def test_salted_join_equals_plain_join(spark):
    """salt_hot_keys + explode_salt: the salted equi-join returns exactly
    the plain join's rows while splitting the hot key across salt buckets."""
    from geospatialtools_spark.operators.docs import explode_salt, salt_hot_keys
    n = 5000
    # 80% of facts share ONE hot key
    facts = spark.range(n).select(
        F.col("id").alias("row_id"),
        F.when(F.col("id") % 5 < 4, F.lit(7)).otherwise(F.col("id") % 50).alias("k"))
    dim = spark.range(50).select(F.col("id").alias("k"),
                                 (F.col("id") * 10).alias("attr"))
    plain = facts.join(dim, "k").select("row_id", "attr").toPandas()

    salted, hot = salt_hot_keys(facts, "k", n_salt=8, hot_threshold=100)
    assert hot.count() == 1  # key 7 detected hot
    dim_s = explode_salt(dim, "k", hot, n_salt=8)
    out = salted.join(dim_s, ["k", "salt"]).select("row_id", "attr").toPandas()
    a = plain.sort_values(["row_id", "attr"]).reset_index(drop=True)
    b = out.sort_values(["row_id", "attr"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)
    # the hot key's fact rows really spread over multiple salt buckets
    spread = (salted.filter(F.col("k") == 7).select("salt").distinct().count())
    assert spread > 1


# ------------------------------------------------------- hypothesis (oracle)

def _random_dem(data, n=12):
    vals = data.draw(st.lists(st.floats(min_value=0.0, max_value=100.0,
                                        allow_nan=False, width=32),
                              min_size=n * n, max_size=n * n))
    return np.array(vals, dtype=np.float32).reshape(n, n)


@settings(max_examples=15, deadline=None)
@given(data=st.data())
def test_accumulation_conservation(data):
    """Sum of accumulation counts == sum over cells of their path lengths;
    every cell contributes >= its own res^2 (mass conservation)."""
    dem = _random_dem(data)
    dem = T.planchon_fill(dem, RES)
    mask = np.ones(dem.shape, dtype=np.int32)
    area, fdir = T.d8_acc(dem, mask, RES)
    r2 = np.float32(RES) ** 2
    assert (area >= r2 * np.float32(0.999)).all()
    # outlet cells (fdir undefined or off-grid) collectively drain every cell
    n = dem.size
    acc_counts = np.round(area / r2).astype(np.int64)
    assert acc_counts.max() <= n


@settings(max_examples=15, deadline=None)
@given(data=st.data())
def test_planchon_monotone_idempotent(data):
    dem = _random_dem(data)
    filled = T.planchon_fill(dem, RES)
    assert (filled >= dem - np.float32(1e-5)).all()      # only raises
    again = T.planchon_fill(filled, RES)
    assert np.array_equal(filled, again)                 # idempotent


@settings(max_examples=15, deadline=None)
@given(data=st.data())
def test_basins_constant_downstream(data):
    """Basin labels never change along a flow path below the channel mask."""
    dem = T.planchon_fill(_random_dem(data), RES)
    mask = np.ones(dem.shape, dtype=np.int32)
    area, fdir = T.d8_acc(dem, mask, RES)
    th = float(np.percentile(area, 80))
    ch = T.calculate_channels(area, th, th, fdir)
    basins = T.delineate_basins(ch, mask, fdir)
    nx, ny = dem.shape
    for i in range(nx):
        for j in range(ny):
            if basins[i, j] <= 0:
                continue
            fi, fj = int(fdir[i, j, 0]), int(fdir[i, j, 1])
            if fi == -9999 or not (0 <= fi < nx and 0 <= fj < ny):
                continue
            if basins[fi, fj] > 0 and ch[i, j] <= 0 and ch[fi, fj] <= 0:
                assert basins[fi, fj] == basins[i, j]


@settings(max_examples=20, deadline=None)
@given(ids=st.lists(st.integers(min_value=-9999, max_value=50), min_size=5,
                    max_size=60))
def test_cleanup_relabel_bijective(ids):
    """A5 dense relabel: order-preserving bijection onto 0..K-1."""
    arr = np.array([v if v > 0 else -9999 for v in ids], dtype=np.int64)
    out = T.cleanup_hillslopes(arr.reshape(1, -1).copy()).ravel()
    valid_in = arr[arr > 0]
    valid_out = out[arr > 0]
    if valid_in.size == 0:
        return
    k = np.unique(valid_in).size
    assert set(valid_out) == set(range(k))
    # order preserved
    pairs = sorted(set(zip(valid_in, valid_out)))
    outs = [b for _, b in pairs]
    assert outs == sorted(outs)
    assert (out[arr <= 0] == arr[arr <= 0]).all()  # non-positive untouched


@settings(max_examples=10, deadline=None)
@given(nt_out=st.integers(min_value=1, max_value=24),
       seed=st.integers(min_value=0, max_value=10 ** 6))
def test_time_average_block_mean(nt_out, seed):
    rng = np.random.RandomState(seed)
    nt_in = nt_out * rng.randint(1, 10)
    series = rng.rand(nt_in)
    out = T.time_average(series, nt_out)
    dt = nt_in // nt_out
    for b in range(nt_out):
        assert abs(out[b] - series[b * dt:(b + 1) * dt].sum() / dt) < 1e-12


def test_knn_ring_equals_broadcast(spark):
    """The two kNN engines (expanding cell-ring index search with guard
    radius vs broadcast scan) must return identical exact results —
    including under anisotropic cells at high latitude, where the guard
    phase is load-bearing."""
    import numpy as np
    import pandas as pd

    from geospatialtools_spark.operators.points import knn_broadcast, knn_join

    rng = np.random.RandomState(17)
    t = pd.DataFrame({
        "target_id": np.arange(4000),
        "lat": 55.0 + rng.uniform(-4, 4, 4000),    # high latitude: lon cells
        "lon": 10.0 + rng.uniform(-8, 8, 4000),    # are ~0.57x as wide in m
    })
    q = pd.DataFrame({
        "query_id": np.arange(25),
        "lat": 55.0 + rng.uniform(-3.5, 3.5, 25),
        "lon": 10.0 + rng.uniform(-7, 7, 25),
    })
    targets = spark.createDataFrame(t)
    queries = spark.createDataFrame(q)
    a = knn_join(queries, targets, k=5, res=10).toPandas()
    b = knn_broadcast(queries, targets, k=5).toPandas()
    a = a.sort_values(["qid", "rank"]).reset_index(drop=True)
    b = b.sort_values(["qid", "rank"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)


# ------------------------------------------------------- sessionization

def _sessions_ref(pairs, gap_s):
    """Pure-python sessionization reference: sorted per-user walk."""
    from collections import defaultdict
    by_user = defaultdict(list)
    for u, t in pairs:
        by_user[u].append(t)
    out = []
    for u, ts in by_user.items():
        ts.sort()
        start, last, n, idx = ts[0], ts[0], 1, 1
        for t in ts[1:]:
            if t - last > gap_s:
                out.append((u, idx, start, last, n))
                start, n, idx = t, 0, idx + 1
            last, n = t, n + 1
        out.append((u, idx, start, last, n))
    return sorted(out)


@settings(max_examples=20, deadline=None)
@given(st.lists(st.tuples(st.integers(0, 4),
                          st.integers(0, 20000)), min_size=1, max_size=120),
       st.integers(1, 60))
def test_sessionize_batch_matches_reference(spark, pairs, gap_minutes):
    """Gaps-and-islands sessionize_batch == the obvious per-user walk, over
    random (user, epoch) sets incl. duplicate timestamps and gap edges."""
    pdf = pd.DataFrame(pairs, columns=["user_id", "ep"])
    df = spark.createDataFrame(pdf).select(
        "user_id", F.col("ep").cast("timestamp").alias("ts"))
    from geospatialtools_spark.streaming.ingest import sessionize_batch
    got = sessionize_batch(df, gap_minutes=gap_minutes).toPandas()
    got_t = sorted(map(tuple, got[["user_id", "session_idx", "session_start",
                                   "session_end", "n_events"]].to_numpy()))
    assert got_t == _sessions_ref(pairs, gap_minutes * 60)


# ------------------------------------------------- two-level sequential ids

def test_seq_ids_matches_global_window(spark):
    """seq_ids must equal row_number over a global orderBy for every table
    shape that matters: unique keys, negative keys, more partitions than
    rows, multi-column keys. (The goldens prove the call sites; this pins
    the helper itself.)"""
    from geospatialtools_spark.operators.seq import seq_ids
    rng = np.random.RandomState(7)
    keys = rng.permutation(np.arange(-500, 500))[:137]
    df = spark.createDataFrame([(int(k),) for k in keys], "k long")
    got = {r["k"]: r["idx"] for r in seq_ids(df, ["k"], "idx", start=5).collect()}
    expect = {int(k): i + 5 for i, k in enumerate(sorted(keys))}
    assert got == expect
    # multi-column key, tiny table vs 8 shuffle partitions
    rows = [(a, b) for a in range(3) for b in range(2)]
    df2 = spark.createDataFrame(rows, "a int, b int")
    got2 = {(r["a"], r["b"]): r["i"]
            for r in seq_ids(df2, ["a", "b"], "i").collect()}
    assert got2 == {t: i for i, t in enumerate(sorted(rows))}
    # empty input
    assert seq_ids(df.limit(0), ["k"], "idx").count() == 0


def test_exclusive_prefix_sum_matches_cumsum(spark):
    """exclusive_prefix_sum == pandas cumsum-shifted, including zero and
    large weights and a descending-insert order."""
    from geospatialtools_spark.operators.seq import exclusive_prefix_sum
    rng = np.random.RandomState(11)
    keys = rng.permutation(200)
    vals = rng.randint(0, 10 ** 9, size=200)
    df = spark.createDataFrame(
        [(int(k), int(v)) for k, v in zip(keys, vals)], "k long, v long")
    out = exclusive_prefix_sum(df, ["k"], "v", "pre").toPandas() \
        .sort_values("k").reset_index(drop=True)
    expect = pd.DataFrame({"k": np.sort(keys)})
    expect["v"] = vals[np.argsort(keys)]
    expect["pre"] = expect["v"].cumsum().shift(fill_value=0)
    pd.testing.assert_series_equal(out["pre"], expect["pre"].astype("int64"),
                                   check_names=False)


# ------------------------------------------------ connected components

@settings(max_examples=8, deadline=None)
@given(st.lists(st.tuples(st.integers(0, 40), st.integers(0, 40)),
                min_size=0, max_size=60))
@example([])
def test_connected_components_matches_union_find(spark, edges):
    """Random pair graphs (self-loops, duplicates, arbitrary shapes, empty):
    distributed CC labels == python union-find, every node present."""
    from geospatialtools_spark.operators.graph import connected_components
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expect = {n: find(n) for n in parent}
    df = spark.createDataFrame([(int(a), int(b)) for a, b in edges],
                               "id_a long, id_b long")
    got = {r["node"]: r["comp"] for r in connected_components(df).collect()}
    assert got == expect
