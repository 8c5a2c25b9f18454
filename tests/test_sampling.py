"""Deterministic sampling / splitting / sharding (functions/sampling.py):
stability properties a resumable 100 TB curation job depends on, plus
python-md5 ground truth for the bucket hash."""

from __future__ import annotations

import hashlib

import pandas as pd
import pytest
from pyspark.sql import functions as F

from geospatialtools_spark.functions.sampling import (BUCKETS, hash_bucket,
                                                      hash_split,
                                                      mixture_sample,
                                                      shard_by_budget,
                                                      stratified_sample)

SF = "/root/testdata/sf0.001"


def _docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def test_hash_bucket_matches_python_md5(spark):
    got = (_docs(spark).select("doc_id",
                               hash_bucket(F.col("doc_id")).alias("b"))
           .toPandas())
    for doc_id, b in zip(got["doc_id"], got["b"]):
        want = int(hashlib.md5(str(doc_id).encode()).hexdigest()[:8], 16) % BUCKETS
        assert b == want


def test_hash_split_stable_under_append_and_repartition(spark):
    d = _docs(spark)
    full = hash_split(d, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.05})
    base = full.select("doc_id", "split").toPandas().set_index("doc_id")["split"]
    # half the corpus, shuffled onto a different partitioning: every doc
    # keeps its split (randomSplit/sample would not survive this)
    half = hash_split(d.filter(F.col("doc_id") % 2 == 0).repartition(7),
                      "doc_id", {"train": 0.8, "val": 0.1, "test": 0.05})
    hp = half.select("doc_id", "split").toPandas().set_index("doc_id")["split"]
    for doc_id, s in hp.items():
        assert (s or "holdout") == (base.loc[doc_id] or "holdout")
    # fractions land near their targets (md5 uniformity at 500 docs)
    counts = base.fillna("holdout").value_counts(normalize=True)
    assert abs(counts.get("train", 0) - 0.8) < 0.08


def test_stratified_sample_keeps_default_strata(spark):
    d = _docs(spark)
    out = stratified_sample(d, "doc_id", "lang", {"en": 0.25}, default=1.0)
    got = out.groupBy("lang").count().toPandas().set_index("lang")["count"]
    want = d.groupBy("lang").count().toPandas().set_index("lang")["count"]
    for lang in want.index:
        if lang == "en":
            assert got.get(lang, 0) < want[lang]   # en really downsampled
        else:
            assert got.get(lang, 0) == want[lang]  # others untouched
    # determinism: same call, same rows
    again = stratified_sample(d, "doc_id", "lang", {"en": 0.25}, default=1.0)
    assert sorted(r["doc_id"] for r in out.select("doc_id").collect()) == \
           sorted(r["doc_id"] for r in again.select("doc_id").collect())


def test_mixture_sample_binding_domain_kept_others_cut(spark):
    # 1000 'a' rows vs 500 'b' rows with equal target shares: 'b' binds
    # (T = min(1000/0.5, 500/0.5) = 1000), so ALL of 'b' is kept and 'a'
    # gets cut = floor(0.5*1000/1000*BUCKETS) = BUCKETS/2 (~half); a domain
    # absent from the targets is dropped entirely.
    pdf = pd.DataFrame({
        "doc_id": range(1700),
        "dom": ["a"] * 1000 + ["b"] * 500 + ["junk"] * 200,
    })
    d = spark.createDataFrame(pdf)
    out = mixture_sample(d, "doc_id", "dom", {"a": 0.5, "b": 0.5})
    got = out.groupBy("dom").count().toPandas().set_index("dom")["count"]
    assert got.get("b", 0) == 500          # binding domain: all kept
    assert got.get("junk", 0) == 0         # untargeted domain: dropped
    assert 400 < got.get("a", 0) < 600     # ~half under hash bucketing
    # determinism + partition independence: identical cohort on a reshuffle
    again = mixture_sample(d.repartition(13), "doc_id", "dom",
                           {"a": 0.5, "b": 0.5})
    assert sorted(r["doc_id"] for r in out.select("doc_id").collect()) == \
           sorted(r["doc_id"] for r in again.select("doc_id").collect())


def test_mixture_sample_weighted_targets_token_mass(spark):
    # token-budget mixing: 'a' = 1000 docs x 1 token (mass 1000), 'b' =
    # 250 docs x 2 tokens (mass 500). Equal target shares over MASS:
    # T = min(1000/0.5, 500/0.5) = 1000 -> 'b' binds and is fully kept
    # even though it has 4x fewer DOCS than 'a'; 'a' cut to ~half its docs.
    pdf = pd.DataFrame({
        "doc_id": range(1250),
        "dom": ["a"] * 1000 + ["b"] * 250,
        "tokens": [1] * 1000 + [2] * 250,
    })
    d = spark.createDataFrame(pdf)
    out = mixture_sample(d, "doc_id", "dom", {"a": 0.5, "b": 0.5},
                         weight_col="tokens")
    got = out.groupBy("dom").count().toPandas().set_index("dom")["count"]
    assert got.get("b", 0) == 250          # binding domain BY MASS: all kept
    assert 400 < got.get("a", 0) < 600     # ~half of a's docs (= half its mass)


def test_mixture_sample_nondyadic_shares_keep_binding_domain(spark):
    # review regression: with floor() the binding domain's cut evaluated to
    # 9999 for non-dyadic shares (fp puts share*T/n*BUCKETS at 10000-eps),
    # silently dropping its top hash bucket; ceil + least() pin it to
    # BUCKETS exactly, so EVERY binding-domain row must survive.
    pdf = pd.DataFrame({"doc_id": range(62345),
                        "dom": ["a"] * 50000 + ["b"] * 12345})
    d = spark.createDataFrame(pdf)
    out = mixture_sample(d, "doc_id", "dom", {"a": 0.67, "b": 0.33})
    got = out.groupBy("dom").count().toPandas().set_index("dom")["count"]
    assert got.get("b", 0) == 12345        # binding domain: every row
    # a's cut = ceil(0.67 * (12345/0.33) / 50000 * 1e4) ~ 5013 buckets
    assert 4000 < got.get("a", 0) < 30000


def test_mixture_sample_rejects_bad_inputs(spark):
    pdf = pd.DataFrame({"doc_id": range(10), "dom": ["a"] * 10,
                        "frac_w": [0.5] * 10})
    d = spark.createDataFrame(pdf)
    with pytest.raises(ValueError, match="negative"):
        mixture_sample(d, "doc_id", "dom", {"a": 0.7, "b": -0.3})
    with pytest.raises(ValueError, match="positive share"):
        mixture_sample(d, "doc_id", "dom", {"a": 0.0})
    # a fractional weight column would truncate to 0 per-row and could
    # silently empty the output — rejected up front
    with pytest.raises(ValueError, match="integer type"):
        mixture_sample(d, "doc_id", "dom", {"a": 1.0}, weight_col="frac_w")


def test_mixture_sample_preserves_input_schema_order(spark):
    pdf = pd.DataFrame({"doc_id": range(20), "text": ["x"] * 20,
                        "n": [1] * 20, "dom": ["a"] * 20})
    d = spark.createDataFrame(pdf)
    out = mixture_sample(d, "doc_id", "dom", {"a": 1.0})
    assert out.columns == d.columns       # join must not hoist dom to col 0


def test_mixture_sample_shares_need_not_sum_to_one(spark):
    # only ratios matter: {a: 2, b: 2} == {a: 0.5, b: 0.5}
    pdf = pd.DataFrame({"doc_id": range(1500),
                        "dom": ["a"] * 1000 + ["b"] * 500})
    d = spark.createDataFrame(pdf)
    a = mixture_sample(d, "doc_id", "dom", {"a": 2.0, "b": 2.0})
    b = mixture_sample(d, "doc_id", "dom", {"a": 0.5, "b": 0.5})
    assert sorted(r["doc_id"] for r in a.select("doc_id").collect()) == \
           sorted(r["doc_id"] for r in b.select("doc_id").collect())


def test_weighted_sample_per_group_matches_reference_and_unsalted(spark):
    import math

    from geospatialtools_spark.functions.sampling import \
        weighted_sample_per_group

    # skewed groups: 'big' has 400 rows, 'small' 40, 'tiny' 3 (< k)
    rows = [(i, (i * 37) % 90 + 10,
             "big" if i <= 400 else ("small" if i <= 440 else "tiny"))
            for i in range(1, 444)]
    df = spark.createDataFrame(rows, "id long, w long, g string")

    def pri(key, w):
        h = int(hashlib.md5(str(key).encode()).hexdigest()[:8], 16)
        return -math.log((h + 0.5) / 2**32) / w

    expect = set()
    for g in ("big", "small", "tiny"):
        grp = sorted((r for r in rows if r[2] == g),
                     key=lambda r: (pri(r[0], r[1]), r[0]))[:10]
        expect |= {r[0] for r in grp}

    got = weighted_sample_per_group(df, "id", "w", "g", k=10)
    assert {r["id"] for r in got.select("id").collect()} == expect
    # tiny group (3 < k rows) survives whole
    assert got.filter(F.col("g") == "tiny").count() == 3
    # salted two-phase == direct single-window rank, and repartition-stable
    direct = weighted_sample_per_group(df.repartition(7), "id", "w", "g",
                                       k=10, salt_buckets=1)
    assert {r["id"] for r in direct.select("id").collect()} == expect


def test_weighted_sample_per_group_duplicate_keys_and_null_eligibility(spark):
    from geospatialtools_spark.functions.sampling import \
        weighted_sample_per_group

    # review regression #1: key 7 exists in BOTH groups but is top-k only
    # where it wins — the (key, group) join must not attach the other
    # group's row (a key-only join returned k+1 rows for the other group)
    rows = [(i, 10, "en") for i in range(1, 30)] + \
           [(7, 3, "de"), (8, 3, "de"), (9, 3, "de")]
    df = spark.createDataFrame(rows, "id long, w long, g string")
    out = weighted_sample_per_group(df, "id", "w", "g", k=5).collect()
    per_group = {}
    for r in out:
        per_group.setdefault(r["g"], []).append((r["id"], r["w"]))
    assert len(per_group["en"]) == 5
    assert sorted(per_group["de"]) == [(7, 3), (8, 3), (9, 3)]  # all, once
    # review regression #2/#3: NULL keys and non-positive/NULL weights are
    # ineligible — they must neither appear nor occupy rank slots
    rows2 = [(i, 10, "g") for i in range(1, 5)] + \
            [(None, 10, "g"), (99, 0, "g"), (98, None, "g")]
    df2 = spark.createDataFrame(rows2, "id long, w long, g string")
    got = weighted_sample_per_group(df2, "id", "w", "g", k=10).collect()
    assert sorted(r["id"] for r in got) == [1, 2, 3, 4]
    assert all(r["priority"] != float("inf") for r in got)


def test_shard_by_budget_bounds_and_order(spark):
    budget = 20_000
    d = _docs(spark).select("doc_id", "n_chars")
    out = shard_by_budget(d, "doc_id", "n_chars", budget=budget).toPandas()
    out = out.sort_values("doc_id").reset_index(drop=True)
    # shards are contiguous, non-decreasing in doc order
    assert (out["shard"].diff().dropna() >= 0).all()
    # each shard's weight stays within budget + one row's overshoot
    g = out.groupby("shard")["n_chars"].sum()
    max_row = out["n_chars"].max()
    assert (g.iloc[:-1] >= budget - max_row).all()  # no underfull interior shard
    assert (g <= budget + max_row).all()
    # pure function of the sorted corpus: python prefix-sum twin agrees
    prefix = out["n_chars"].cumsum().shift(fill_value=0)
    pd.testing.assert_series_equal(out["shard"],
                                   (prefix // budget).astype("int64"),
                                   check_names=False)


def test_curation_pipeline_end_to_end_resumable(spark, tmp_path):
    """The full training-data curation chain — exact dedup -> NEAR-dup
    group resolution (round 4: MinHash pairs -> transitive clusters ->
    non-keepers dropped) -> quality filter -> PII scrub -> split -> shard —
    through the PUBLIC ``run_curation_pipeline`` entry point (round 5; the
    chain used to live only in this test), clique guard at its ON default:
    every stage commits via StageRunner, a resume recomputes NOTHING, and
    the final cohorts are byte-identical across the two runs (the
    determinism the sampling layer exists to provide)."""
    from geospatialtools_spark.pipeline import (CurationConfig,
                                                run_curation_pipeline)

    root = str(tmp_path / "curation")
    sf = "/root/testdata/sf0.001"
    cfg = CurationConfig()
    assert cfg.star_threshold is not None       # guard defaults ON

    def run():
        docs = spark.read.parquet(f"{sf}/documents.parquet")
        out = run_curation_pipeline(spark, docs, cfg, root)
        return out["_metrics"], out["shard"]

    r1, out1 = run()
    assert all(not m.get("resumed") for m in r1)
    pdf1 = out1.toPandas().sort_values("doc_id").reset_index(drop=True)
    assert len(pdf1) > 100                      # a real train cohort
    assert pdf1["shard"].nunique() > 1          # actually sharded
    # group resolution left exactly one member per transitive near-dup
    # cluster, so MinHash over the surviving corpus finds ZERO pairs (any
    # surviving pair would mean two keepers in one component)
    from geospatialtools_spark.functions.dedup import minhash_lsh_pairs
    near_out = spark.read.parquet(f"{root}/near_dedup")
    assert minhash_lsh_pairs(near_out).count() == 0
    assert near_out.count() < spark.read.parquet(f"{root}/dedup").count()

    # curation_funnel: the per-stage survivorship audit agrees with direct
    # counts of the checkpointed outputs, drops are monotone through the
    # filtering stages, and the shard row's drop vs split is exactly the
    # val/test holdout (documented non-monotonic reading, not data loss)
    from geospatialtools_spark.pipeline import curation_funnel
    docs0 = spark.read.parquet(f"{sf}/documents.parquet")
    out_all = run_curation_pipeline(spark, docs0, cfg, root)
    funnel = curation_funnel(out_all, weight_col=cfg.weight_col,
                             input_df=docs0)
    by = {r["stage"]: r for r in funnel}
    assert [r["stage"] for r in funnel] == ["input", "dedup", "near_dedup",
                                            "quality", "scrub", "split",
                                            "shard"]
    assert by["input"]["rows"] == docs0.count()
    # without the input baseline the first stage's cut is invisible
    assert by["dedup"]["rows_dropped"] == docs0.count() - by["dedup"]["rows"]
    for stage in ("dedup", "near_dedup", "quality", "scrub", "split"):
        assert by[stage]["rows"] == \
            spark.read.parquet(f"{root}/{stage}").count()
    assert by["near_dedup"]["rows_dropped"] > 0   # planted near-dups fell
    assert by["scrub"]["rows_dropped"] == 0       # scrub edits, never drops
    split_df = spark.read.parquet(f"{root}/split")
    holdout = split_df.filter(F.col("split") != cfg.train_split).count()
    assert by["shard"]["rows_dropped"] == holdout
    assert all(r["weight"] is not None for r in funnel)

    r2, out2 = run()                            # resume: zero recompute
    assert all(m.get("resumed") for m in r2)
    pdf2 = out2.toPandas().sort_values("doc_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(pdf1, pdf2)

    # one commit per stage, in order (read back through the snapshot log)
    from geospatialtools_spark.plans.checkpointing import StageRunner
    r = StageRunner(spark, root, {"pipeline": "curation", **cfg.as_dict()})
    stages = [e["stage"] for e in r.snapshots()]
    assert stages == ["dedup", "near_dedup", "quality", "scrub", "split",
                      "shard"]


# Spark jobs each curation stage may run: the counts on the planted
# fixture, the same at both sizes. A commit adds only the stage's write
# (lineage and schema come from the footers). near_dedup's 5 are the
# adaptive shuffle stages of the bucket window, the one-task
# components-and-keeper solve and the anti-join, then the write.
CURATION_JOB_BUDGET = {"dedup": 2, "near_dedup": 5, "quality": 1,
                       "scrub": 1, "split": 1, "shard": 6}


def test_curation_stage_job_budget(spark, tmp_path):
    """Every curation stage runs a fixed number of Spark jobs: the same at
    two corpus sizes, and within its CURATION_JOB_BUDGET entry. Each
    StageRunner stage runs in its own job group nested under the
    caller's."""
    from geospatialtools_spark import fixtures
    from geospatialtools_spark.pipeline import (CurationConfig,
                                                run_curation_pipeline)

    sc = spark.sparkContext
    jobs = {}
    for n in (400, 2000):
        group = f"stage-budget-{n}"
        docs = fixtures.planted_docs(spark, n)
        sc.setJobGroup(group, "job budget")
        try:
            out = run_curation_pipeline(spark, docs, CurationConfig(),
                                        str(tmp_path / str(n)))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert out["near_dedup"].count() < n      # planted near-dups fell
        jobs[n] = {stage: len(sc.statusTracker().getJobIdsForGroup(
            f"{group}/{stage}")) for stage in CURATION_JOB_BUDGET}
    assert jobs[400] == jobs[2000], jobs
    for stage, budget in CURATION_JOB_BUDGET.items():
        assert 0 < jobs[400][stage] <= budget, (stage, jobs)


def test_hash_split_thirds_cover_every_bucket(spark):
    """Cumulative rounding property (review fix): three 1/3 fractions must
    cover ALL buckets — per-split rounding left bucket 9999 a silent
    holdout. No NULL splits may appear when fractions sum to 1.0."""
    d = _docs(spark)
    out = hash_split(d, "doc_id", {"a": 1 / 3, "b": 1 / 3, "c": 1 / 3})
    assert out.filter(F.col("split").isNull()).count() == 0
    got = set(r["split"] for r in out.select("split").distinct().collect())
    assert got == {"a", "b", "c"}


def test_curation_repetition_filter(spark, tmp_path):
    """The Gopher repetition knobs drop boilerplate-repetitive docs inside
    the quality stage and leave everything else untouched; OFF by default
    (corpus-tuning knobs, unlike the always-on clique guard)."""
    from geospatialtools_spark.pipeline import (CurationConfig,
                                                run_curation_pipeline)

    rows = []
    for i in range(30):
        toks = [f"w{(i * 37 + j * 11) % 997}" for j in range(20)]
        rows.append((i, " ".join(toks), 120))
    rows.append((900, "the cat " * 30, 240))       # top2 coverage ~ 1.0
    docs = spark.createDataFrame(rows, "doc_id long, text string, n_chars long")

    base = dict(quality_min=0.0, splits={"train": 1.0}, shard_budget=500)
    cfg_off = CurationConfig(**base)
    assert cfg_off.max_dup_word_frac is None       # defaults OFF
    out_off = run_curation_pipeline(spark, docs, cfg_off,
                                    str(tmp_path / "off"))
    kept_off = {r["doc_id"] for r in out_off["quality"].select("doc_id").collect()}
    assert 900 in kept_off

    cfg_on = CurationConfig(**base, max_dup_word_frac=0.5,
                            max_top2_char_frac=0.2)
    out_on = run_curation_pipeline(spark, docs, cfg_on, str(tmp_path / "on"))
    kept_on = {r["doc_id"] for r in out_on["quality"].select("doc_id").collect()}
    assert 900 not in kept_on                      # boilerplate dropped
    assert kept_on == kept_off - {900}             # nothing else touched


def test_curation_mixture_stage(spark, tmp_path):
    """The optional mixture stage resamples the SURVIVING corpus to target
    domain shares between scrub and split: binding domain fully kept,
    untargeted domains dropped, and the shard stage sees only the mixed
    cohort. OFF by default."""
    from geospatialtools_spark.pipeline import (CurationConfig,
                                                run_curation_pipeline)

    rows = []
    for i in range(400):
        # per-doc-unique tokens: no shingle overlap, so the dedup stages
        # are no-ops and the mixture math sees exactly 300/80/20 rows
        toks = [f"d{i}w{j}" for j in range(20)]
        dom = "web" if i < 300 else ("wiki" if i < 380 else "junk")
        rows.append((i, " ".join(toks), 120, dom))
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, n_chars long, source string")

    base = dict(quality_min=0.0, splits={"train": 1.0}, shard_budget=5000)
    cfg_off = CurationConfig(**base)
    assert cfg_off.mixture_targets is None         # default OFF
    out_off = run_curation_pipeline(spark, docs, cfg_off,
                                    str(tmp_path / "off"))
    assert "mixture" not in out_off

    # mixture_by_weight exercises the weight_col pass-through; weights are
    # constant (n_chars = 120) so mass-targets == count-targets and the
    # expected kept counts below stay exact
    cfg_on = CurationConfig(**base,
                            mixture_targets={"web": 0.5, "wiki": 0.5},
                            mixture_by_weight=True)
    out_on = run_curation_pipeline(spark, docs, cfg_on, str(tmp_path / "on"))
    mixed = out_on["mixture"].groupBy("source").count() \
        .toPandas().set_index("source")["count"]
    # wiki binds (80 rows vs a 0.5 share): all kept; web cut to ~80; junk out
    assert mixed.get("wiki", 0) == 80
    assert mixed.get("junk", 0) == 0
    assert 60 < mixed.get("web", 0) < 100
    # downstream shard stage operates on the mixed cohort only
    shard_ids = {r["doc_id"] for r in out_on["shard"].select("doc_id").collect()}
    mixed_ids = {r["doc_id"] for r in out_on["mixture"].select("doc_id").collect()}
    assert shard_ids == mixed_ids


# ---------------------------------------------------------------------------
# epoch_shuffle
# ---------------------------------------------------------------------------

import hashlib

from geospatialtools_spark.functions.sampling import epoch_shuffle


def _epoch_twin(keys, seed, n_shards):
    order = sorted(keys, key=lambda k: (
        hashlib.md5(f"{seed}:{k}".encode()).hexdigest(), k))
    return {k: (i % n_shards, i // n_shards) for i, k in enumerate(order)}


def test_epoch_shuffle_matches_md5_twin_and_balances(spark):
    df = spark.range(1000).select(F.col("id").alias("doc_id")).repartition(8)
    got = epoch_shuffle(df, "doc_id", 8, seed=7).collect()
    exp = _epoch_twin(list(range(1000)), 7, 8)
    assert all(exp[r["doc_id"]] == (r["shard"], r["pos"]) for r in got)
    sizes = {}
    for r in got:
        sizes[r["shard"]] = sizes.get(r["shard"], 0) + 1
    assert set(sizes.values()) == {125}  # perfectly balanced round-robin


def test_epoch_shuffle_seed_changes_permutation_not_membership(spark):
    df = spark.range(500).select(F.col("id").alias("doc_id"))
    a = {r["doc_id"]: (r["shard"], r["pos"])
         for r in epoch_shuffle(df, "doc_id", 4, seed=1).collect()}
    b = {r["doc_id"]: (r["shard"], r["pos"])
         for r in epoch_shuffle(df, "doc_id", 4, seed=2).collect()}
    assert set(a) == set(b) == set(range(500))      # nothing lost
    assert a != b                                    # epochs differ
    # each epoch is itself a full permutation of 0..N-1 global positions
    for m in (a, b):
        gpos = sorted(s + 4 * p for s, p in m.values())
        assert gpos == list(range(500))


def test_epoch_shuffle_partition_invariant(spark):
    base = spark.range(777).select(F.col("id").alias("doc_id"))
    a = sorted(map(tuple, epoch_shuffle(
        base.repartition(3), "doc_id", 5, seed=9).collect()))
    b = sorted(map(tuple, epoch_shuffle(
        base.repartition(13), "doc_id", 5, seed=9).collect()))
    assert a == b


def test_curation_normalize_stage_collapses_decomposed_dups(spark, tmp_path):
    """Unicode canonicalization as the leading pipeline stage: a document
    whose text is the DECOMPOSED spelling of another must fall to exact
    dedup only when normalize_form is set — byte-different, text-equal
    is precisely the failure mode the stage exists to close."""
    from geospatialtools_spark.pipeline import (CurationConfig,
                                                run_curation_pipeline)
    base = "a solid quality document about café studies. " * 5
    decomposed = base.replace("café", "café")
    assert base != decomposed                      # byte-different
    rows = ([(0, base), (1, decomposed)] +
            [(i, f"unique filler document number {i} with plain words. " * 5)
             for i in range(2, 30)])
    docs = spark.createDataFrame(rows, "doc_id long, text string") \
        .withColumn("n_chars", F.length("text"))

    cfg_off = CurationConfig(quality_min=0.0)
    out_off = run_curation_pipeline(spark, docs, cfg_off,
                                    str(tmp_path / "off"))
    kept_off = {r["doc_id"] for r in
                out_off["dedup"].select("doc_id").collect()}
    assert {0, 1} <= kept_off                      # both survive unnormalized

    cfg_on = CurationConfig(quality_min=0.0, normalize_form="NFC")
    out_on = run_curation_pipeline(spark, docs, cfg_on,
                                   str(tmp_path / "on"))
    kept_on = {r["doc_id"] for r in
               out_on["dedup"].select("doc_id").collect()}
    assert len({0, 1} & kept_on) == 1              # collapsed to one copy
    # the funnel reports the stage and the weight recount
    from geospatialtools_spark.pipeline import curation_funnel
    funnel = curation_funnel(out_on, weight_col="n_chars", input_df=docs)
    assert [r["stage"] for r in funnel][:2] == ["input", "normalize"]
    assert funnel[1]["rows"] == 30                 # normalize never drops


def test_curation_normalize_keeps_token_weights_when_rechars_off(spark,
                                                                 tmp_path):
    """normalize_weight_rechars=False preserves a token-unit weight_col
    through the normalize stage (the line/passage rechars contract) —
    and the config fingerprint distinguishes the two modes, so a resume
    can never serve stages computed under the other weight semantics."""
    from geospatialtools_spark.pipeline import (CurationConfig,
                                                run_curation_pipeline)
    rows = [(i, f"good plain document number {i} with words. " * 5, 7)
            for i in range(20)]
    docs = spark.createDataFrame(rows,
                                 "doc_id long, text string, n_chars long")
    cfg = CurationConfig(quality_min=0.0, normalize_form="NFC",
                         normalize_weight_rechars=False)
    out = run_curation_pipeline(spark, docs, cfg, str(tmp_path / "keep"))
    got = out["normalize"].select("n_chars").distinct().collect()
    assert [r["n_chars"] for r in got] == [7]      # token weights intact
    a = CurationConfig(normalize_form="NFC",
                       normalize_weight_rechars=False).as_dict()
    b = CurationConfig(normalize_form="NFC").as_dict()
    assert a != b


def test_temperature_shares_flattens_toward_uniform(spark):
    from geospatialtools_spark.functions.sampling import (mixture_sample,
                                                          temperature_shares)
    rows = [(i, "head" if i < 800 else ("mid" if i < 950 else "tail"))
            for i in range(1000)]
    df = spark.createDataFrame(rows, "id long, dom string")
    nat = temperature_shares(df, "dom", alpha=1.0)
    assert abs(nat["head"] - 0.8) < 1e-12 and abs(nat["tail"] - 0.05) < 1e-12
    uni = temperature_shares(df, "dom", alpha=0.0)
    assert all(abs(v - 1 / 3) < 1e-12 for v in uni.values())
    t = temperature_shares(df, "dom", alpha=0.3)
    # flattening: head share shrinks, tail share grows, order preserved
    assert 1 / 3 < t["head"] < 0.8 and 0.05 < t["tail"] < 1 / 3
    assert abs(sum(t.values()) - 1.0) < 1e-12
    # composes with mixture_sample: the flattened mix is achievable and
    # the TAIL (most-boosted) domain binds, surviving ~whole
    out = mixture_sample(df, "id", "dom", t)
    kept = {r["dom"]: 0 for r in out.collect()}
    for r in out.collect():
        kept[r["dom"]] += 1
    assert kept["tail"] >= 45                 # ~50 of 50, hash jitter
    got_frac = {d: kept[d] / sum(kept.values()) for d in kept}
    for d in t:
        assert abs(got_frac[d] - t[d]) < 0.05


def test_temperature_shares_weighted_and_guards(spark):
    import pytest
    from geospatialtools_spark.functions.sampling import temperature_shares
    df = spark.createDataFrame(
        [(0, "a", 900), (1, "b", 100), (2, None, 500)],
        "id long, dom string, w long")
    t = temperature_shares(df, "dom", alpha=1.0, weight_col="w")
    assert abs(t["a"] - 0.9) < 1e-12          # NULL domain excluded
    with pytest.raises(ValueError):
        temperature_shares(df, "dom", alpha=-0.1)
    empty = spark.createDataFrame([], "id long, dom string, w long")
    with pytest.raises(ValueError):
        temperature_shares(empty, "dom")
