"""End-to-end pipelines: the terrain tiling chain (SURVEY.md §3.1
lifecycle — the engine's equivalent of the reference's HydroBlocks
preprocessing driver) and the training-data curation chain (round 5),
both as checkpoint-resumable sequences of pure stages:

    dem -> planchon fill -> D8 fdir -> accumulation -> channels+topology ->
    basins -> HAND -> hillslopes -> k-means tiles -> HRUs ->
    basin/hillslope/HRU property tables

    docs -> exact dedup -> near-dup group resolution (MinHash pairs ->
    transitive clusters -> drop non-keepers) -> quality filter -> PII
    scrub -> train/val split -> budget shards

Every stage commits through plans.checkpointing.StageRunner (parquet +
manifest, the sandbox stand-in for an Iceberg snapshot): a killed run
restarts at the last committed stage, and `<root>/_lineage` accumulates
per-partition rows/bytes records, read from the committed files' parquet
footers, for every commit (north_rule).

Deploy: ``spark-submit --py-files geospatialtools_spark.zip scripts/run_pipeline.py``
(see scripts/ for the cluster entrypoint; zip the package with
``python -m zipfile -c geospatialtools_spark.zip geospatialtools_spark``).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .grid import GridMeta
from .operators import clustering as CL
from .operators import terrain as ST
from .operators import zones as Z
from .plans.checkpointing import StageRunner


@dataclass
class PipelineConfig:
    res: float = 30.0
    channel_threshold_factor: float = 20.0   # * res^2
    basin_threshold_factor: float = 5.0      # * res^2
    ntiles: int = 3
    nhru_clusters: int = 2
    covariates: list[str] = field(default_factory=lambda: ["tas", "prec", "hand"])
    hru_covariates: list[str] = field(default_factory=lambda: ["tas", "prec"])

    def as_dict(self) -> dict:
        return {"res": self.res, "th": self.channel_threshold_factor,
                "bth": self.basin_threshold_factor, "ntiles": self.ntiles,
                "nhru": self.nhru_clusters, "cov": self.covariates,
                "hcov": self.hru_covariates}


def run_terrain_pipeline(spark: SparkSession, cells: DataFrame, meta: GridMeta,
                         config: PipelineConfig, ckpt_root: str) -> dict[str, DataFrame]:
    """Run (or resume) the full chain; returns the named stage outputs.

    ``cells`` needs (tile_i, tile_j, i, j, dem, mask) plus the configured
    covariate columns. Stages are deterministic, so a resume reproduces the
    exact same tables the killed run would have produced.
    """
    res = config.res
    th = config.channel_threshold_factor * res * res
    bth = config.basin_threshold_factor * res * res
    runner = StageRunner(spark, ckpt_root, config.as_dict())
    out: dict[str, DataFrame] = {}

    cells = cells.localCheckpoint(eager=True)
    base_cov = cells.select("i", "j", "mask", *[c for c in config.covariates
                                                if c in cells.columns and c != "hand"])

    filled = runner.run_stage("fill", lambda: ST.planchon_fill(cells, meta, res))
    base = (filled.withColumnRenamed("demns", "dem")
            .join(cells.select("i", "j", "mask"), ["i", "j"]))
    out["filled"] = filled

    fdir = runner.run_stage("fdir", lambda: ST.d8_flow_direction(base, meta, res))
    out["fdir"] = fdir

    acc = runner.run_stage("acc", lambda: ST.flow_accumulation(
        fdir, meta, res, mask_df=base.select("i", "j", "mask")))
    out["acc"] = acc

    full = (fdir.join(base.select("i", "j", "mask", "dem"), ["i", "j"])
            .join(acc.select("i", "j", "area"), ["i", "j"]))

    def _channels():
        chdf, topo = ST.channel_segments(full, meta, th, bth)
        return chdf.join(topo.withColumnRenamed("cid", "channels")
                         .select("channels", "downstream"), ["channels"], "left")
    channels = runner.run_stage("channels", _channels)
    out["channels"] = channels

    with_ch = full.join(channels.select("i", "j", "channels"), ["i", "j"])
    basins = runner.run_stage("basins", lambda: ST.delineate_basins(with_ch, meta))
    out["basins"] = basins

    hand = runner.run_stage("hand", lambda: ST.depth2channel(with_ch, meta))
    out["hand"] = hand

    hillslopes = runner.run_stage(
        "hillslopes", lambda: ST.delineate_hillslopes(with_ch, meta))
    out["hillslopes"] = hillslopes

    zone_cells = (base.select("i", "j", "mask", "dem")
                  .join(base_cov.drop("mask"), ["i", "j"])
                  .join(basins.select("i", "j", "basins"), ["i", "j"])
                  .join(hand.select("i", "j", "hand"), ["i", "j"])
                  .join(hillslopes.select("i", "j", "hillslopes"), ["i", "j"])
                  .join(channels.select("i", "j", "channels"), ["i", "j"]))
    slopes = ST.slope_aspect(
        base.withColumn("dx", F.lit(res)).withColumn("dy", F.lit(res)), meta)
    zone_cells = zone_cells.join(slopes.select("i", "j", "slope", "aspect"), ["i", "j"])
    zone_cells = zone_cells.withColumn(
        "tile_i", (F.col("i") / meta.tile).cast("int")).withColumn(
        "tile_j", (F.col("j") / meta.tile).cast("int")).localCheckpoint(eager=True)

    tiles = runner.run_stage("tiles", lambda: CL.create_tiles_kmeans(
        zone_cells, [c for c in config.covariates if c in zone_cells.columns],
        config.ntiles))
    out["tiles"] = tiles

    with_tiles = zone_cells.join(tiles, ["i", "j"])
    hrus = runner.run_stage("hrus", lambda: CL.create_hrus(
        with_tiles, [c for c in config.hru_covariates if c in zone_cells.columns],
        {}, config.nhru_clusters))
    out["hrus"] = hrus

    out["basin_props"] = runner.run_stage(
        "basin_props", lambda: Z.basin_properties(
            zone_cells, covariate_cols=["dem", "hand", "slope"]))
    hp = runner.run_stage(
        "hillslope_props",
        lambda: Z.hillslope_properties(zone_cells, res, tile=meta.tile))
    out["hillslope_props"] = hp
    out["hru_props"] = runner.run_stage(
        "hru_props", lambda: Z.hru_properties(
            with_tiles.join(hrus, ["i", "j"]), hp, res))
    out["channel_props"] = runner.run_stage(
        "channel_props", lambda: Z.channel_properties(zone_cells, res))

    out["_metrics"] = runner.metrics  # type: ignore[assignment]
    return out


@dataclass
class CurationConfig:
    """Knobs for ``run_curation_pipeline``. ``star_threshold`` no longer
    shapes the ``near_dedup`` output: that stage links each band-bucket
    member to its hub, which needs no clique guard, and its groups equal
    the pair path's at any threshold. The field stays in the config and
    its fingerprint (``star``) for callers that run ``minhash_lsh_pairs``
    with the pipeline's setting."""
    id_col: str = "doc_id"
    text_col: str = "text"
    weight_col: str = "n_chars"
    quality_min: float = 0.3
    splits: dict[str, float] = field(default_factory=lambda: {"train": 0.9,
                                                              "val": 0.1})
    train_split: str = "train"
    shard_budget: int = 50_000
    star_threshold: int | None = 64
    # Gopher-style repetition cutoffs (Rae et al. 2021 §A1.1); None = off.
    # These are corpus-tuning knobs, not scale guards, so unlike
    # star_threshold they default OFF; the paper's reference values are
    # ~0.2 for top-2-gram char coverage and ~0.3 for duplicate-unit
    # fraction. Applied inside the quality stage (textstats.repetition_stats).
    max_dup_word_frac: float | None = None
    max_top2_char_frac: float | None = None
    # C4-style line-level pre-cleaning (round 5; Raffel et al. 2020 §2.2 /
    # RefinedWeb): when ``clean_min_words`` is set, lines with fewer words
    # or containing a blacklist term are dropped per document BEFORE any
    # document-level dedup; when ``line_dedup`` is True, every distinct
    # line additionally survives only at its first corpus occurrence
    # (global boilerplate removal — lines.line_dedup). Documents emptied by
    # either pass are dropped, and ``weight_col`` is recomputed from the
    # edited text so downstream sharding budgets stay truthful.
    clean_min_words: int | None = None
    clean_blacklist: list[str] | None = None
    line_dedup: bool = False
    line_sep: str = "\n"
    # the lines stage refreshes ``weight_col`` as CHAR length of the edited
    # text (stale weights would skew shard budgets). If your weight unit is
    # not characters (tokens, bytes), set this False and recompute the
    # column yourself after the stage — a silent char recount would change
    # the budget semantics by ~the chars-per-token factor.
    line_weight_rechars: bool = True
    # Passage-level dedup (round 5; Lee et al. 2021 ExactSubstr as exact
    # fixed-width token windows — lines.passage_dedup): when
    # ``passage_window`` is set, tokens covered by a non-keeper occurrence
    # of a corpus-duplicated ``passage_window``-token window are removed
    # AFTER document-level near-dedup (whole-doc dups are already gone, so
    # the window pass only pays for partial overlaps). Emptied documents
    # drop; ``weight_col`` is recomputed as chars unless
    # ``passage_weight_rechars`` is False (same contract as
    # ``line_weight_rechars``). The paper uses ~50-token windows; smaller
    # windows dedup more aggressively.
    passage_window: int | None = None
    passage_weight_rechars: bool = True
    # CCNet-style LM perplexity cutoff (round 5): when ``max_nll`` is set,
    # the quality stage fits a unigram model on the post-dedup corpus
    # (deterministic — one count aggregation + top-k vocab) and drops
    # documents whose average negative log-likelihood exceeds the cutoff
    # (high NLL = tail/garbage text). ``lm_vocab_size`` bounds the model.
    max_nll: float | None = None
    lm_vocab_size: int = 50_000
    # Domain-mixture resampling (round 5): when ``mixture_targets`` is set
    # (domain -> target share over ``mixture_domain_col``), the curated
    # corpus is resampled AFTER cleaning/dedup/quality/scrub — so the mix
    # is computed over what actually survives — and before split/shard.
    # ``mixture_by_weight`` targets the shares over ``weight_col`` mass
    # (token budgets) instead of row counts.
    mixture_targets: dict[str, float] | None = None
    mixture_domain_col: str = "source"
    mixture_by_weight: bool = False
    # Unicode canonicalization (round 5; lines.normalize_unicode): when
    # set ("NFC"/"NFKC"/...), a leading stage strips C0/C1 controls and
    # unicode-normalizes the text BEFORE everything else — decomposed and
    # precomposed spellings of equal text are byte-different, so without
    # this every hash-keyed stage (exact/line/passage dedup, MinHash
    # shingles) treats them as distinct documents. ``weight_col`` is
    # recomputed as CHAR length (normalization changes char counts)
    # unless ``normalize_weight_rechars`` is False — same contract as
    # ``line_weight_rechars``: if your weight unit is tokens/bytes, keep
    # the recount off and recompute yourself.
    normalize_form: str | None = None
    normalize_weight_rechars: bool = True

    def as_dict(self) -> dict:
        d = {"id": self.id_col, "text": self.text_col,
             "w": self.weight_col, "qmin": self.quality_min,
             "splits": self.splits, "train": self.train_split,
             "budget": self.shard_budget, "star": self.star_threshold}
        # emitted only when SET: the dict is StageRunner's config
        # fingerprint, and unconditional new keys would invalidate every
        # pre-existing checkpoint root (full recompute on resume) even
        # with the knobs at their no-op default
        if self.max_dup_word_frac is not None:
            d["rep_dup"] = self.max_dup_word_frac
        if self.max_top2_char_frac is not None:
            d["rep_top2"] = self.max_top2_char_frac
        if self.clean_min_words is not None:
            d["clean_mw"] = self.clean_min_words
            d["clean_bl"] = self.clean_blacklist
        if self.line_dedup:
            d["line_dedup"] = True
        if (self.clean_min_words is not None or self.line_dedup) \
                and self.line_sep != "\n":
            d["line_sep"] = self.line_sep
        if (self.clean_min_words is not None or self.line_dedup) \
                and not self.line_weight_rechars:
            d["line_w_keep"] = True
        if self.passage_window is not None:
            d["passage_n"] = self.passage_window
            if not self.passage_weight_rechars:
                d["passage_w_keep"] = True
        if self.normalize_form is not None:
            d["uninorm"] = self.normalize_form
            if not self.normalize_weight_rechars:
                d["uninorm_w_keep"] = True
        if self.max_nll is not None:
            d["max_nll"] = self.max_nll
            d["lm_vocab"] = self.lm_vocab_size
        if self.mixture_targets is not None:
            d["mix"] = self.mixture_targets
            d["mix_dom"] = self.mixture_domain_col
            if self.mixture_by_weight:
                d["mix_w"] = True
        return d


def _swap_edited_text(edited: DataFrame, base: DataFrame, idc: str,
                      txt: str, out_col: str) -> DataFrame:
    """Fold a text-editing operator's output (``idc``, stats, ``out_col``)
    back into the corpus: docs the edit emptied DROP (inner join on the
    n_kept > 0 survivors), ``out_col`` becomes the text column, and every
    other corpus column reattaches. One choreography for the line-dedup
    and passage-dedup stages — the subtle contracts (emptied-doc drop,
    keep-cols excluding the text) live here once."""
    keep_cols = [c for c in base.columns if c != txt]
    return (edited.filter(F.col("n_kept") > 0)
            .select(idc, F.col(out_col).alias(txt))
            .join(base.select(*keep_cols), idc))


def _recount_weight_chars(d: DataFrame, weight_col: str,
                          txt: str) -> DataFrame:
    """Refresh ``weight_col`` as CHAR length of the edited text (stale
    weights would skew shard budgets). NB the recount unit is chars —
    callers with token/byte weights disable it via the stage's
    ``*_weight_rechars`` knob and recompute their own column."""
    if weight_col in d.columns:
        return d.withColumn(weight_col, F.length(txt).cast("long"))
    return d


def run_curation_pipeline(spark: SparkSession, docs: DataFrame,
                          config: CurationConfig,
                          ckpt_root: str) -> dict[str, DataFrame]:
    """Run (or resume) the full training-data curation chain; returns the
    named stage outputs (the library twin of ``run_terrain_pipeline`` —
    VERDICT r4 item 4 promoted this out of tests/test_sampling.py).

    Stages, each committed through StageRunner (resume recomputes nothing):

    - ``lines`` (optional, when ``clean_min_words``/``line_dedup`` are
      set): C4-style per-document line filtering, then global first-
      occurrence line dedup; emptied documents drop out and ``weight_col``
      is recomputed from the edited text.
    - ``dedup``: exact dedup — keep a row iff it IS the min id among the
      rows with its content hash (``exact_dups``' keeper). One pass over
      ``docs``: a window min over the md5 partition, no second scan and
      no driver collection.
    - ``near_dedup``: ``dedup.minhash_near_dedup`` — MinHash band
      buckets -> each member linked to its bucket's min id -> one Arrow
      task solves the transitive groups and elects the keepers (the
      ``dedup_groups`` kernel) -> anti-join the non-keepers out. The
      output equals the ``minhash_lsh_pairs`` + ``dedup_groups`` path's
      at any ``star_threshold``. The edge table is O(dup docs), never the
      corpus.
    - ``passages`` (optional, when ``passage_window`` is set): corpus-wide
      duplicated-passage removal (lines.passage_dedup) on the near-deduped
      survivors; emptied documents drop and ``weight_col`` is recomputed.
    - ``quality``: drop rows under ``quality_min``; when the repetition
      cutoffs are set, also drop rows over ``max_dup_word_frac`` /
      ``max_top2_char_frac`` (Gopher repetition filters, Arrow hot path);
      when ``max_nll`` is set, fit a unigram LM on the deduped corpus and
      drop rows whose average NLL exceeds it (CCNet perplexity filter;
      empty/whitespace docs have no NLL and are dropped too).
    - ``scrub``: PII redaction in place.
    - ``mixture`` (optional, when ``mixture_targets`` is set): resample
      the surviving corpus to the target domain proportions
      (``sampling.mixture_sample`` — binding domain kept ~100%, others
      cut, untargeted domains dropped; by row count or ``weight_col``
      mass).
    - ``split``: deterministic hash split (stable under append/repartition).
    - ``shard``: budget-packed contiguous shards of the train split.
    """
    from .functions.dedup import minhash_near_dedup
    from .functions.sampling import (hash_split, mixture_sample,
                                     shard_by_budget)
    from .functions.textstats import quality_score, redact_pii

    idc, txt = config.id_col, config.text_col
    runner = StageRunner(spark, ckpt_root,
                         {"pipeline": "curation", **config.as_dict()})
    out: dict[str, DataFrame] = {}

    if config.normalize_form is not None:
        from .functions.lines import normalize_unicode, strip_controls

        def _normalize() -> DataFrame:
            t = normalize_unicode(strip_controls(F.col(txt)),
                                  config.normalize_form)
            d = docs.withColumn(txt, t)
            if config.normalize_weight_rechars:
                d = _recount_weight_chars(d, config.weight_col, txt)
            return d

        docs = runner.run_stage("normalize", _normalize)
        out["normalize"] = docs

    if config.clean_min_words is not None or config.line_dedup:
        def _lines() -> DataFrame:
            from .functions.lines import clean_lines, line_dedup
            d = docs
            if config.clean_min_words is not None:
                d = (clean_lines(d, text_col=txt, sep=config.line_sep,
                                 min_words=config.clean_min_words,
                                 blacklist=config.clean_blacklist)
                     .filter(F.col("n_kept") > 0)
                     .drop(txt, "n_lines", "n_kept")
                     .withColumnRenamed("clean_text", txt))
            if config.line_dedup:
                d = _swap_edited_text(
                    line_dedup(d.select(idc, txt), id_col=idc,
                               text_col=txt, sep=config.line_sep),
                    d, idc, txt, "dedup_text")
            if config.line_weight_rechars:
                d = _recount_weight_chars(d, config.weight_col, txt)
            return d
        docs = runner.run_stage("lines", _lines)
        out["lines"] = docs

    # exact dedup in one pass over docs: the keeper is the min id among
    # rows with the same content hash; NULL text or an all-NULL-id group
    # has no keeper and is kept whole
    deduped = runner.run_stage("dedup", lambda: docs
        .withColumn("content_hash", F.md5(txt))
        .withColumn("keeper_id",
                    F.min(idc).over(Window.partitionBy("content_hash")))
        .filter(F.col("content_hash").isNull() | F.col("keeper_id").isNull() |
                (F.col(idc) == F.col("keeper_id")))
        .drop("content_hash", "keeper_id"))
    out["dedup"] = deduped

    near = runner.run_stage("near_dedup", lambda: minhash_near_dedup(
        deduped, text_col=txt, id_col=idc))
    out["near_dedup"] = near

    if config.passage_window is not None:
        def _passages() -> DataFrame:
            from .functions.lines import passage_dedup
            d = _swap_edited_text(
                passage_dedup(near.select(idc, txt), id_col=idc,
                              text_col=txt, n=config.passage_window),
                near, idc, txt, "dedup_text")
            if config.passage_weight_rechars:
                d = _recount_weight_chars(d, config.weight_col, txt)
            return d
        near = runner.run_stage("passages", _passages)
        out["passages"] = near

    def _quality() -> DataFrame:
        d = near.withColumn("q", quality_score(F.col(txt))) \
                .filter(F.col("q") >= config.quality_min)
        if (config.max_dup_word_frac is not None
                or config.max_top2_char_frac is not None):
            from .functions.textstats import repetition_stats
            dup, top2, _ = repetition_stats(F.col(txt))
            if config.max_dup_word_frac is not None:
                d = d.filter(dup <= config.max_dup_word_frac)
            if config.max_top2_char_frac is not None:
                d = d.filter(top2 <= config.max_top2_char_frac)
        if config.max_nll is not None:
            from .functions.classifier import fit_unigram, unigram_nll
            model = fit_unigram(near, text_col=txt,
                                vocab_size=config.lm_vocab_size)
            d = unigram_nll(d, model, id_col=idc, text_col=txt) \
                .filter(F.col("nll") <= config.max_nll).drop("nll")
        return d

    filtered = runner.run_stage("quality", _quality)
    out["quality"] = filtered

    scrubbed = runner.run_stage("scrub", lambda: filtered.withColumn(
        txt, redact_pii(F.col(txt))))
    out["scrub"] = scrubbed

    if config.mixture_targets is not None:
        scrubbed = runner.run_stage("mixture", lambda: mixture_sample(
            scrubbed, idc, config.mixture_domain_col,
            config.mixture_targets,
            weight_col=(config.weight_col if config.mixture_by_weight
                        else None)))
        out["mixture"] = scrubbed

    split = runner.run_stage("split", lambda: hash_split(
        scrubbed, idc, config.splits))
    out["split"] = split

    out["shard"] = runner.run_stage("shard", lambda: shard_by_budget(
        split.filter(F.col("split") == config.train_split),
        idc, config.weight_col, budget=config.shard_budget))

    out["_metrics"] = runner.metrics  # type: ignore[assignment]
    return out


_CURATION_STAGE_ORDER = ("normalize", "lines", "dedup", "near_dedup",
                         "passages",
                         "quality", "scrub", "mixture", "split", "shard")


def curation_funnel(out: dict[str, DataFrame],
                    weight_col: str = "n_tokens",
                    input_df: DataFrame | None = None) -> list[dict]:
    """Per-stage survivorship report for a ``run_curation_pipeline``
    result: one row per executed stage with surviving row count, surviving
    ``weight_col`` mass (token/byte budget — skipped if the stage output
    lacks the column), and the deltas vs the previous stage. Pass the raw
    corpus as ``input_df`` to get a leading ``input`` row — without it the
    first stage's drop vs the raw corpus is unknowable from the outputs
    alone and reads as 0 (with the default config that first stage is
    exact dedup, usually the single biggest cut).

    This is the audit a production curation run ships with its output —
    "dedup dropped 12% of rows, quality another 9%, the mixture cut took
    token mass from 1.9B to 1.2B" — computed as ONE aggregate per stage
    over the stage's already-checkpointed parquet (no recompute of the
    stage itself; cost is a column-pruned scan per stage). Driver-side
    result is O(#stages) scalars, so a plain list of dicts, ready for
    json.dumps next to StageRunner.metrics (wall/resume per stage).

    Two expected non-monotonic readings, called out so nobody "fixes"
    them: ``scrub`` edits text in place (rows never drop, weight may if
    the caller recounts), and ``shard`` covers only the train split, so
    its drop vs ``split`` is the val/test holdout, not data loss.
    """
    report: list[dict] = []
    prev_rows: int | None = None
    prev_w: int | None = None
    stages: list[tuple[str, DataFrame]] = []
    if input_df is not None:
        stages.append(("input", input_df))
    stages += [(s, out[s]) for s in _CURATION_STAGE_ORDER if s in out]
    for stage, d in stages:
        aggs = [F.count(F.lit(1)).alias("rows")]
        has_w = weight_col in d.columns
        if has_w:
            aggs.append(F.coalesce(
                F.sum(F.col(weight_col).cast("long")), F.lit(0)).alias("w"))
        row = d.agg(*aggs).head()
        n, w = int(row["rows"]), (int(row["w"]) if has_w else None)
        report.append({
            "stage": stage,
            "rows": n,
            "rows_dropped": (prev_rows - n) if prev_rows is not None else 0,
            "weight": w,
            "weight_dropped": ((prev_w - w)
                               if (prev_w is not None and w is not None)
                               else 0),
        })
        prev_rows, prev_w = n, w
    return report
