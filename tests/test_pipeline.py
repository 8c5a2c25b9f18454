"""Tests: interleaved-doc invariants, multimodal plumbing, lineage,
checkpoint-resume, streaming windowed ingest."""

from __future__ import annotations

import glob
import json
import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from geospatialtools_spark import fixtures
from geospatialtools_spark.operators import media as MD
from geospatialtools_spark.operators.docs import docs_df, span_fingerprint
from geospatialtools_spark.plans.checkpointing import StageRunner
from geospatialtools_spark.plans.lineage import lineage_records, part_files
from geospatialtools_spark.streaming import ingest as ST


@pytest.fixture(scope="module")
def docs(spark):
    meta, _, _ = fixtures.make_dem(nx=32, ny=32, tile=16)
    pdf = fixtures.make_documents(meta, n=120)
    return docs_df(spark, pdf).localCheckpoint(eager=True)


def test_media_pipeline_shapes(spark, docs):
    media = MD.media_table(docs)
    mp = media.toPandas()
    assert set(mp["kind"].unique()) <= {"image", "audio"}
    assert (mp["media_ref"].str.startswith("blob://")).all()

    feats = MD.decode_and_featurize(MD.fetch_payloads(media)).toPandas()
    assert len(feats) == len(mp)
    assert feats["width"].between(16, 255).all()
    assert all(len(f) == MD.FEATURE_DIM for f in feats["features"])
    # deterministic: same payload -> same features
    again = MD.decode_and_featurize(MD.fetch_payloads(media)).toPandas()
    a = feats.sort_values(["doc_id", "span_idx"]).reset_index(drop=True)
    b = again.sort_values(["doc_id", "span_idx"]).reset_index(drop=True)
    assert all(np.allclose(x, y) for x, y in zip(a["features"], b["features"]))


def test_media_span_order_reassembly(spark, docs):
    """posexplode keys allow reassembling the media table back into span
    order — the multimodal path never loses the interleaving."""
    media = MD.media_table(docs).toPandas()
    orig = docs.select("doc_id", F.posexplode("spans").alias("idx", "span")) \
        .filter(F.col("span.kind") != "text") \
        .select("doc_id", "idx", F.col("span.media_ref").alias("media_ref")).toPandas()
    a = media.sort_values(["doc_id", "span_idx"])[["doc_id", "span_idx", "media_ref"]]
    b = orig.sort_values(["doc_id", "idx"]).rename(columns={"idx": "span_idx"})
    pd.testing.assert_frame_equal(a.reset_index(drop=True), b.reset_index(drop=True))


def test_frame_sample_expansion(spark, docs):
    media = MD.fetch_payloads(MD.media_table(docs).limit(20), n_bytes=256)
    frames = MD.frame_sample(media, every_n_bytes=64).toPandas()
    # 256 bytes / 64 per frame = 4 frames per item
    counts = frames.groupby(["doc_id", "span_idx"]).size()
    assert (counts == 4).all()


_HAS_PIL = __import__("importlib.util", fromlist=["util"]).find_spec("PIL") is not None


def test_decode_stub_gate(spark, docs):
    """decode_stub=False is a lazy real-codec seam (round 4): the plan
    builds identically; a payload NO available codec can decode (the
    synthetic sha-keystream payloads are not valid PNG/WAV) surfaces a
    NotImplementedError that NAMES the missing dependency when the UDF
    executes."""
    if _HAS_PIL:
        pytest.skip("pillow installed; real branch covered by "
                    "test_real_image_decode_contract")
    df = MD.decode_and_featurize(
        MD.fetch_payloads(MD.media_table(docs).limit(2)), decode_stub=False)
    with pytest.raises(Exception, match="pillow"):
        df.collect()


def _encode_png_rgb(arr: np.ndarray) -> bytes:
    """Minimal stdlib PNG encoder (8-bit RGB, filter 0) for test payloads."""
    import struct
    import zlib
    h, w, _ = arr.shape

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (struct.pack(">I", len(data)) + ctype + data
                + struct.pack(">I", zlib.crc32(ctype + data)))

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    raw = b"".join(b"\x00" + arr[y].astype(np.uint8).tobytes() for y in range(h))
    return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b""))


def _encode_wav_pcm16(data: np.ndarray, rate: int = 16000) -> bytes:
    """Stdlib PCM16 WAV writer; data (frames, channels) float in [-1, 1]."""
    import io
    import wave
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(data.shape[1])
        wf.setsampwidth(2)
        wf.setframerate(rate)
        wf.writeframes((np.clip(data, -1, 1) * 32767)
                       .astype("<i2").tobytes())
    return buf.getvalue()


def test_real_codec_stdlib_png_wav(spark):
    """Round 5: the decode_stub=False path exercised END-TO-END with real
    encoded payloads and no third-party codec — PNG through the stdlib-zlib
    decoder, PCM WAV through the wave module — width/height from the actual
    container headers, stub's exact output contract (schema, FEATURE_DIM,
    [0,1] image features). Runs with or without pillow installed (the seam
    prefers pillow; contract is identical)."""
    rng = np.random.RandomState(7)
    rows = []
    for k, (w, h) in enumerate([(20, 10), (7, 33)]):
        img = rng.randint(0, 256, size=(h, w, 3))
        rows.append((f"i{k}", 0, "image", f"img://{k}",
                     bytearray(_encode_png_rgb(img))))
    wav = _encode_wav_pcm16(rng.uniform(-0.5, 0.5, size=(480, 2)))
    rows.append(("a0", 1, "audio", "aud://0", bytearray(wav)))
    media = spark.createDataFrame(
        rows, "doc_id string, span_idx int, kind string, media_ref string, "
              "payload binary")
    out = MD.decode_and_featurize(media, decode_stub=False).toPandas()
    got = {r.media_ref: (r.width, r.height) for r in out.itertuples()}
    assert got == {"img://0": (20, 10), "img://1": (7, 33),
                   "aud://0": (480, 2)}
    assert all(len(f) == MD.FEATURE_DIM for f in out["features"])
    img_feats = out[out.kind == "image"]["features"]
    assert all(0.0 <= v <= 1.0 for f in img_feats for v in f)
    # determinism across plan re-execution
    again = MD.decode_and_featurize(media, decode_stub=False).toPandas()
    a = out.sort_values("media_ref").reset_index(drop=True)
    b = again.sort_values("media_ref").reset_index(drop=True)
    assert all(np.allclose(x, y) for x, y in zip(a["features"], b["features"]))


def test_png_decoder_all_filters_roundtrip():
    """The stdlib PNG decoder must reconstruct every filter type: re-encode
    a known image once per filter (Sub/Up/Average/Paeth applied manually per
    the spec's forward transform) and decode back to identical pixels."""
    import struct
    import zlib
    rng = np.random.RandomState(11)
    img = rng.randint(0, 256, size=(6, 5, 3)).astype(np.int64)
    h, w, ch = img.shape
    for f in (0, 1, 2, 3, 4):
        raws = []
        prev = np.zeros(w * ch, dtype=np.int64)
        for y in range(h):
            row = img[y].reshape(-1)
            a = np.concatenate([np.zeros(ch, np.int64), row[:-ch]])
            c = np.concatenate([np.zeros(ch, np.int64), prev[:-ch]])
            if f == 0:
                filt = row
            elif f == 1:
                filt = row - a
            elif f == 2:
                filt = row - prev
            elif f == 3:
                filt = row - (a + prev) // 2
            else:
                p = a + prev - c
                pa, pb, pc = np.abs(p - a), np.abs(p - prev), np.abs(p - c)
                pr = np.where((pa <= pb) & (pa <= pc), a,
                              np.where(pb <= pc, prev, c))
                filt = row - pr
            raws.append(bytes([f]) + (filt % 256).astype(np.uint8).tobytes())
            prev = row

        def chunk(t, d):
            return (struct.pack(">I", len(d)) + t + d
                    + struct.pack(">I", zlib.crc32(t + d)))

        payload = (b"\x89PNG\r\n\x1a\n"
                   + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
                   + chunk(b"IDAT", zlib.compress(b"".join(raws)))
                   + chunk(b"IEND", b""))
        gw, gh, gray = MD._png_decode(payload)
        # pillow convert("L")'s exact fixed-point form (Convert.c L24)
        want = ((img[:, :, 0] * 19595 + img[:, :, 1] * 38470
                 + img[:, :, 2] * 7471) >> 16).astype(np.float64).ravel()
        assert (gw, gh) == (w, h) and np.array_equal(gray, want), f"filter {f}"


@pytest.mark.skipif(not _HAS_PIL, reason="pillow not installed")
def test_real_image_decode_contract(spark):
    """When a codec exists, the real branch must decode true payload bytes
    and keep the stub's exact output contract (schema, FEATURE_DIM, [0,1]
    feature range) with width/height taken from the actual image."""
    import io

    from PIL import Image
    rows = []
    for k, (w, h) in enumerate([(20, 10), (7, 33)]):
        img = Image.new("RGB", (w, h), color=(k * 40, 100, 200))
        buf = io.BytesIO()
        img.save(buf, format="PNG")
        rows.append((str(k), 0, "image", f"img://{k}", bytearray(buf.getvalue())))
    media = spark.createDataFrame(
        rows, "doc_id string, span_idx int, kind string, media_ref string, "
              "payload binary")
    out = MD.decode_and_featurize(media, decode_stub=False).toPandas()
    got = {r.media_ref: (r.width, r.height) for r in out.itertuples()}
    assert got == {"img://0": (20, 10), "img://1": (7, 33)}
    assert all(len(f) == MD.FEATURE_DIM for f in out["features"])
    assert all(0.0 <= v <= 1.0 for f in out["features"] for v in f)


def test_lineage_records(spark, tmp_path):
    """Lineage is read from the written files' footers: one record per
    part file, ids = the write tasks' partitions (never a read split, which
    may pack several small files), rows exact, no timing column."""
    n_parts = 2 * spark.sparkContext.defaultParallelism
    path = str(tmp_path / "lin")
    spark.range(5000).repartition(n_parts).write.parquet(path)
    lin = lineage_records(spark.read.parquet(path), "stage_x").toPandas()
    assert len(lin) == len(glob.glob(os.path.join(path, "part-*")))
    assert lin["partition_id"].tolist() == list(range(n_parts))
    assert lin["rows"].sum() == 5000
    assert (lin["bytes_estimate"] > 0).all()
    assert (lin["stage"] == "stage_x").all()
    assert "wall_ms" not in lin.columns

    # an empty stage still writes one (empty) part file
    empty = str(tmp_path / "empty")
    spark.range(0).write.parquet(empty)
    lin = lineage_records(spark.read.parquet(empty), "e").toPandas()
    assert lin[["partition_id", "rows"]].values.tolist() == [[0, 0]]

    with pytest.raises(ValueError):       # not file-backed
        lineage_records(spark.range(10), "x")


def test_checkpoint_resume(spark, tmp_path):
    """A killed pipeline resumes from the last committed stage with
    identical output and without recomputing it."""
    root = str(tmp_path / "ckpt")
    calls = {"a": 0, "b": 0}

    def stage_a():
        calls["a"] += 1
        return spark.range(100).withColumn("v", F.col("id") * 2)

    def stage_b(a_df):
        calls["b"] += 1
        return a_df.groupBy((F.col("id") % 10).alias("g")).agg(F.sum("v").alias("s"))

    r1 = StageRunner(spark, root, {"cfg": 1})
    a1 = r1.run_stage("a", stage_a)
    b1 = r1.run_stage("b", lambda: stage_b(a1)).orderBy("g").toPandas()
    assert calls == {"a": 1, "b": 1}

    # "restart": new runner, same root + config -> both stages resume
    r2 = StageRunner(spark, root, {"cfg": 1})
    a2 = r2.run_stage("a", stage_a)
    b2 = r2.run_stage("b", lambda: stage_b(a2)).orderBy("g").toPandas()
    assert calls == {"a": 1, "b": 1}          # nothing recomputed
    pd.testing.assert_frame_equal(b1, b2)     # identical results
    assert [m.get("resumed") for m in r2.metrics] == [True, True]

    # config change invalidates the checkpoint
    r3 = StageRunner(spark, root, {"cfg": 2})
    r3.run_stage("a", stage_a)
    assert calls["a"] == 2

    # lineage table accumulated commits
    lin = spark.read.parquet(os.path.join(root, "_lineage")).toPandas()
    assert set(lin["stage"]) == {"a", "b"}
    # the manifest counts the files the commit wrote
    for stage in ("a", "b"):
        with open(os.path.join(root, f"{stage}.manifest.json")) as f:
            parts = json.load(f)["partitions"]
        assert parts == len(glob.glob(os.path.join(root, stage, "part-*")))


def _stage_jobs(spark, group, run):
    """``run()``'s result and the number of Spark jobs its stage ``a``
    ran, counted in the stage's group under ``group``."""
    sc = spark.sparkContext
    sc.setJobGroup(group, "commit job budget")
    try:
        out = run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(f"{group}/a"))


def test_commit_runs_only_its_write_job(spark, tmp_path):
    """A fresh commit runs one Spark job, the stage's write: lineage and
    schema come from the written footers. A resume runs none. Both return
    the schema ``spark.read.parquet`` infers, nested types included."""
    root = str(tmp_path / "jobs")

    def stage():
        return (spark.range(100).withColumn("v", F.col("id") * 2)
                .withColumn("arr", F.array(F.col("id"), F.lit(1)))
                .withColumn("m", F.create_map(F.lit("k"), F.col("v")))
                .withColumn("s", F.struct(F.col("id").alias("x"),
                                          F.lit("y").alias("y"))))

    fresh, n = _stage_jobs(spark, "commit-fresh", lambda: StageRunner(
        spark, root, {"cfg": 1}).run_stage("a", stage))
    assert n == 1
    resumed, n = _stage_jobs(spark, "commit-resume", lambda: StageRunner(
        spark, root, {"cfg": 1}).run_stage("a", stage))
    assert n == 0
    inferred = spark.read.parquet(os.path.join(root, "a")).schema
    assert fresh.schema == inferred
    assert resumed.schema == inferred
    got = resumed.select("id", "v").orderBy("id").toPandas()
    assert got["v"].tolist() == [2 * i for i in range(100)]


def test_commit_forces_no_gc(spark, tmp_path, monkeypatch):
    """Neither a fresh commit nor a resume forces a Python or JVM garbage
    collection: the ContextCleaner frees a stage's dead blocks."""
    import gc

    from geospatialtools_spark import session
    calls = {"release_blocks": 0, "gc.collect": 0}

    def counter(name):
        def count(*args, **kwargs):
            calls[name] += 1
        return count

    monkeypatch.setattr(session, "release_blocks", counter("release_blocks"))
    monkeypatch.setattr(gc, "collect", counter("gc.collect"))
    root = str(tmp_path / "nogc")
    for _ in range(2):                    # a fresh commit, then a resume
        out = StageRunner(spark, root, {"cfg": 1}).run_stage(
            "a", lambda: spark.range(100).withColumn("v", F.col("id") * 2))
    assert out.count() == 100
    assert calls == {"release_blocks": 0, "gc.collect": 0}


def test_committed_stage_checkpoints_become_unreachable(spark, tmp_path):
    """StageRunner keeps no handle on a stage's intermediates: once the
    committed result is read, a GC lets the ContextCleaner unpersist the
    stage's eager ``localCheckpoint``."""
    import time

    from geospatialtools_spark.session import release_blocks

    # the count of SparkContext.persistentRdds, read in place:
    # ``getPersistentRDDs()`` returns a snapshot map of the RDDs, and while
    # its py4j proxy lives the snapshot alone keeps the checkpoint alive
    def persisted():
        return spark.sparkContext._jsc.sc().persistentRdds().size()

    baseline = persisted()

    def stage():
        mid = (spark.range(1000).withColumn("v", F.col("id") * 3)
               .localCheckpoint(eager=True))
        assert persisted() > baseline
        return mid.withColumn("w", F.col("v") + 1)

    runner = StageRunner(spark, str(tmp_path / "reach"))   # kept alive
    out = runner.run_stage("a", stage)
    assert out.agg(F.sum("w")).first()[0] == 3 * 999 * 1000 // 2 + 1000
    deadline = time.time() + 30
    while True:
        release_blocks(spark)
        if persisted() <= baseline:
            break
        assert time.time() < deadline, persisted()
        time.sleep(1)


def test_lineage_table_mixes_spark_and_pyarrow_files(spark, tmp_path):
    """A ``_lineage`` table whose older commits Spark wrote and whose
    newer ones are pyarrow appends reads back as one table with the
    Spark-written schema; no temp file is left behind."""
    root = str(tmp_path / "mixed")
    lin_dir = os.path.join(root, "_lineage")
    src = str(tmp_path / "src")
    spark.range(10).repartition(2).write.parquet(src)
    (lineage_records(spark.read.parquet(src), "old")
     .withColumn("committed_stage", F.lit("old"))
     .write.mode("append").parquet(lin_dir))
    old_files = set(part_files(lin_dir))
    old_schema = spark.read.parquet(lin_dir).schema

    r = StageRunner(spark, root)
    r.run_stage("new", lambda: spark.range(20))
    r.run_stage("new", lambda: spark.range(30), force=True)
    new_files = sorted(set(part_files(lin_dir)) - old_files)
    assert len(new_files) == 2
    assert spark.read.parquet(*new_files).schema == old_schema
    lin = spark.read.parquet(lin_dir)
    assert lin.schema == old_schema
    pdf = lin.toPandas()
    assert (pdf["stage"] == pdf["committed_stage"]).all()
    assert pdf.groupby("stage")["rows"].sum().to_dict() == {
        "old": 10, "new": 50}
    assert not glob.glob(os.path.join(lin_dir, "*.tmp"))


def test_crashed_commit_window_never_destroys_committed_data(spark, tmp_path):
    """ADVICE r3 (medium): a commit that published its manifest but died
    before its snapshot-log append must NOT be rmtree'd by the next commit's
    orphan guard — the archive branch recognizes the manifest-names-this-data
    token match, logs a recovery snapshot, and keeps the bytes readable."""
    root = str(tmp_path / "crash")
    r = StageRunner(spark, root, {"cfg": 1})
    r.run_stage("a", lambda: spark.range(10).withColumn("v", F.lit("one")))
    r.run_stage("a", lambda: spark.range(20).withColumn("v", F.lit("two")),
                force=True)
    # simulate the pre-fix crash interim: manifest + data for commit 2 are
    # published, but its snapshot-log line never landed
    log_p = os.path.join(root, "_snapshot_log.jsonl")
    with open(log_p) as f:
        lines = f.readlines()
    with open(log_p, "w") as f:
        f.writelines(lines[:-1])
    assert r.is_committed("a")          # resume would serve commit 2's data

    # next commit must RECOVER commit 2 (log + archive), not destroy it
    r.run_stage("a", lambda: spark.range(30).withColumn("v", F.lit("three")),
                force=True)
    log = r.snapshots("a")
    assert [e["action"] for e in log] == ["commit", "recovered_commit", "commit"]
    rec_id = log[1]["snapshot_id"]
    rec = r.read_snapshot("a", rec_id)
    assert rec.count() == 20 and rec.select("v").first()["v"] == "two"
    assert spark.read.parquet(os.path.join(root, "a")).count() == 30

    # the other interim (data renamed + logged, manifest never published)
    # re-runs the stage and archives the logged data under its own id —
    # never serving orphaned bytes as committed
    mf = os.path.join(root, "a.manifest.json")
    with open(mf) as f:
        saved = f.read()
    with open(mf, "w") as f:
        f.write(saved.replace(json.loads(saved)["token"], "deadbeef"))
    assert not r.is_committed("a")


def test_snapshot_time_travel_and_rollback(spark, tmp_path):
    """Iceberg-semantics snapshot log: every commit is a snapshot, old
    states stay readable by id (time travel), rollback promotes an old
    snapshot as a new logged one, expiry is explicit."""
    root = str(tmp_path / "snap")

    r1 = StageRunner(spark, root, {"cfg": 1})
    r1.run_stage("a", lambda: spark.range(10).withColumn("v", F.lit("one")))
    r2 = StageRunner(spark, root, {"cfg": 2})   # config change -> recommit
    r2.run_stage("a", lambda: spark.range(20).withColumn("v", F.lit("two")))
    r3 = StageRunner(spark, root, {"cfg": 3})
    r3.run_stage("a", lambda: spark.range(30).withColumn("v", F.lit("three")))

    log = r3.snapshots("a")
    assert [e["action"] for e in log] == ["commit"] * 3
    assert [e["rows"] for e in log] == [10, 20, 30]
    ids = [e["snapshot_id"] for e in log]
    assert ids == sorted(ids)
    assert log[1]["parent_snapshot_id"] == ids[0]

    # time travel: each snapshot readable with its committed contents
    assert r3.read_snapshot("a", ids[0]).count() == 10
    assert r3.read_snapshot("a", ids[1]).count() == 20
    assert r3.read_snapshot("a", ids[2]).count() == 30
    assert r3.read_snapshot("a", ids[1]).select("v").first()["v"] == "two"

    # resume still reads CURRENT (snapshot 3) and skips recompute
    assert r3.run_stage("a", lambda: 1 / 0).count() == 30

    # rollback to snapshot 2: current data is the old state, the log gains
    # a rollback entry, and snapshot 3 remains time-travel readable
    rolled = r3.rollback("a", ids[1])
    assert rolled.count() == 20
    log2 = r3.snapshots("a")
    assert log2[-1]["action"] == "rollback"
    assert log2[-1]["rolled_back_to"] == ids[1]
    assert r3.read_snapshot("a", ids[2]).count() == 30
    assert spark.read.parquet(os.path.join(root, "a")).count() == 20

    # explicit retention: expire everything but the 2 newest; expired ids
    # raise on read, the log itself keeps their audit entries
    expired = r3.expire_snapshots("a", keep_last=2)
    assert ids[0] in expired
    with pytest.raises(FileNotFoundError):
        r3.read_snapshot("a", ids[0])
    assert len(r3.snapshots("a")) == 4


def test_streaming_windowed_counts(spark, tmp_path):
    """availableNow drain of the windowed-ingest plan == the batch twin."""
    sf_dir = "/root/testdata/sf0.001"
    stream = ST.read_events_stream(spark, sf_dir)
    agg = ST.windowed_ingest_counts(stream, watermark="1 hour", window="1 hour")
    out_dir = str(tmp_path / "out")
    ST.run_available_now(agg, str(tmp_path / "ck"), out_dir)
    got = spark.read.parquet(out_dir).toPandas()

    batch = spark.read.parquet(f"{sf_dir}/events.parquet") \
        .withColumn("ts", F.col("ts").cast("timestamp"))
    expect = (batch.groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
              .agg(F.count("*").alias("n_events"), F.sum("value").alias("sum_value"))
              .select(F.col("win.start").alias("win_start"),
                      F.col("win.end").alias("win_end"), "event_type",
                      "n_events").toPandas())
    # append mode emits a window only once the watermark (max event time -
    # 1 hour) passes its end; trailing windows stay in state at end-of-stream
    wm = batch.agg(F.max("ts")).collect()[0][0] - pd.Timedelta(hours=1)
    closed = expect[expect["win_end"] <= wm]
    g = got.sort_values(["win_start", "event_type"]).reset_index(drop=True)
    e = closed.sort_values(["win_start", "event_type"]).reset_index(drop=True)
    assert len(g) >= len(e) > 0
    merged = e.merge(g, on=["win_start", "event_type"], suffixes=("_b", "_s"))
    assert len(merged) == len(e)
    assert (merged["n_events_b"] == merged["n_events_s"]).all()
    # every emitted window must match the batch twin exactly
    all_merged = g.merge(expect, on=["win_start", "event_type"],
                         suffixes=("_s", "_b"))
    assert len(all_merged) == len(g)
    assert (all_merged["n_events_s"] == all_merged["n_events_b"]).all()


def test_streaming_dedup(spark, tmp_path):
    sf_dir = "/root/testdata/sf0.001"
    stream = ST.read_events_stream(spark, sf_dir)
    dd = ST.dedup_in_watermark(stream).select("event_id", "ts")
    out_dir = str(tmp_path / "out")
    ST.run_available_now(dd, str(tmp_path / "ck"), out_dir)
    got = spark.read.parquet(out_dir)
    n = got.count()
    assert n == got.select("event_id").distinct().count()


def test_sessionize_stream_matches_batch(spark, tmp_path):
    """applyInPandasWithState sessionization == the gaps-and-islands batch
    twin: every emitted session is bit-identical to a batch session, and at
    minimum every NON-FINAL session per user must have been emitted
    in-batch (final sessions may wait on an event-time timeout that
    availableNow is not guaranteed to fire before terminating)."""
    sf_dir = "/root/testdata/sf0.001"
    stream = ST.read_events_stream(spark, sf_dir)
    sess = ST.sessionize_stream(stream, gap_minutes=30, watermark="1 hour")
    out_dir = str(tmp_path / "out")
    ST.run_available_now(sess, str(tmp_path / "ck"), out_dir)
    got = spark.read.parquet(out_dir).toPandas()

    batch = spark.read.parquet(f"{sf_dir}/events.parquet")
    expect = ST.sessionize_batch(batch, gap_minutes=30).toPandas()
    merged = got.merge(expect, on=["user_id", "session_start"],
                       suffixes=("_s", "_b"))
    assert len(merged) == len(got)  # every emission matches a batch session
    assert (merged["session_end_s"] == merged["session_end_b"]).all()
    assert (merged["n_events_s"] == merged["n_events_b"]).all()
    nonfinal = expect[expect.groupby("user_id")["session_idx"]
                      .transform("max") != expect["session_idx"]]
    assert len(got) >= len(nonfinal) > 0


def test_full_pipeline_resume(spark, tmp_path):
    """SURVEY §3.1 lifecycle end-to-end + kill-resume at pipeline level:
    second run resumes every stage; outputs identical."""
    import numpy as np

    from geospatialtools_spark.grid import cells_df
    from geospatialtools_spark.pipeline import PipelineConfig, run_terrain_pipeline
    meta, dem, mask = fixtures.make_dem(nx=32, ny=32, tile=16)
    cov = fixtures.make_covariates(meta, dem, mask)
    cells = cells_df(spark, meta,
                     dem=dem.astype(np.float64), mask=mask.astype(np.int64),
                     tas=cov["tas"].astype(np.float64),
                     prec=cov["prec"].astype(np.float64))
    root = str(tmp_path / "ck")
    cfg = PipelineConfig()
    out1 = run_terrain_pipeline(spark, cells, meta, cfg, root)
    counts1 = {k: v.count() for k, v in out1.items() if k != "_metrics"}
    assert counts1["basins"] > 0 and counts1["hru_props"] > 0
    assert all(not m.get("resumed") for m in out1["_metrics"])

    out2 = run_terrain_pipeline(spark, cells, meta, cfg, root)
    assert all(m.get("resumed") for m in out2["_metrics"])   # full resume
    counts2 = {k: v.count() for k, v in out2.items() if k != "_metrics"}
    assert counts1 == counts2
    b1 = out1["basins"].orderBy("i", "j").toPandas()
    b2 = out2["basins"].orderBy("i", "j").toPandas()
    pd.testing.assert_frame_equal(b1, b2)


def test_streaming_tile_attach_matches_batch(spark, tmp_path):
    """The flagship doc->tile attach run THROUGH the streaming engine
    (file-source micro-batches, availableNow drain) equals the batch twin
    row-for-row: stateless Arrow cell-encode + broadcast dimension join are
    the same operators in both plans, spans and fingerprints untouched."""
    sf_dir = "/root/testdata/sf0.001"
    from geospatialtools_spark.functions import synth as SY
    from geospatialtools_spark.grid import GridMeta
    from geospatialtools_spark.operators.rasterize import rasterize
    from geospatialtools_spark.streaming import ingest as ST

    g, tile = 192, 64
    meta = GridMeta(nx=g, ny=g, minx=0.0, miny=0.0,
                    resx=1.0 / g, resy=1.0 / g, tile=tile)
    cells = (spark.range(g * g)
             .select((F.col("id") / g).cast("int").alias("i"),
                     (F.col("id") % g).cast("int").alias("j"))
             .withColumn("tile_i", (F.col("i") / tile).cast("int"))
             .withColumn("tile_j", (F.col("j") / tile).cast("int")))
    burned = rasterize(cells, spark.createDataFrame(SY.rects_polygon_pdf()),
                       meta).localCheckpoint(eager=True)

    def with_xy(df):
        return (df.withColumn("lat", SY.doc_lat(F.col("doc_id")))
                .withColumn("lon", SY.doc_lon(F.col("doc_id"))))

    stream = ST.streaming_tile_attach(
        with_xy(ST.read_docs_stream(spark, sf_dir)), burned, meta)
    out_dir = str(tmp_path / "out")
    ST.run_available_now(stream, str(tmp_path / "ck"), out_dir)
    got = (spark.read.parquet(out_dir)
           .select("doc_id", "i", "j", "cell_id", "tile_id")
           .toPandas().sort_values("doc_id").reset_index(drop=True))

    batch_docs = with_xy(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    from geospatialtools_spark.operators.docs import attach_grid_cell, attach_tile
    want = (attach_tile(attach_grid_cell(batch_docs, meta, res=20), burned)
            .select("doc_id", "i", "j", "cell_id", "tile_id")
            .toPandas().sort_values("doc_id").reset_index(drop=True))
    assert len(got) == 500
    assert got["tile_id"].notna().sum() > 0       # some docs landed on tiles
    pd.testing.assert_frame_equal(got, want)


def test_snapshot_rollback_to_current_and_orphan_guard(spark, tmp_path):
    """Review-hardening cases: (1) rolling back to the CURRENT id must keep
    that id time-travel readable after later snapshots; (2) a crash between
    the data-dir publish and the manifest write must not let the orphaned
    uncommitted data overwrite the genuine archived snapshot."""
    root = str(tmp_path / "snap")
    r1 = StageRunner(spark, root, {"cfg": 1})
    r1.run_stage("a", lambda: spark.range(10))
    s1 = r1.snapshots("a")[-1]["snapshot_id"]

    # (1) rollback to current: logged as a new snapshot, s1 stays readable
    r1.rollback("a", s1)
    assert r1.snapshots("a")[-1]["action"] == "rollback"
    assert r1.read_snapshot("a", s1).count() == 10

    r2 = StageRunner(spark, root, {"cfg": 2})
    r2.run_stage("a", lambda: spark.range(20))
    assert r2.read_snapshot("a", s1).count() == 10   # still time-travels

    # (2) simulate the crash window exactly as a dying commit leaves it:
    # _archive_current already moved the live state into _history under the
    # latest logged id, os.rename published the new data dir, and the
    # process died before the manifest replace + snapshot-log append
    import shutil
    d = os.path.join(root, "a")
    s_cur = r2.snapshots("a")[-1]["snapshot_id"]
    hist = os.path.join(root, "_history", f"a.s{s_cur}")
    shutil.move(d, hist)
    shutil.copy(os.path.join(root, "a.manifest.json"), hist + ".manifest.json")
    spark.range(99).write.parquet(d)                 # orphan, never committed
    # same-config resume must NOT serve the orphan as committed: the
    # manifest's commit token no longer matches the data dir's
    r2b = StageRunner(spark, root, {"cfg": 2})
    assert not r2b.is_committed("a")
    r3 = StageRunner(spark, root, {"cfg": 3})        # config change -> rerun
    out = r3.run_stage("a", lambda: spark.range(30))
    assert out.count() == 30
    # every previously COMMITTED snapshot still reads its own data; the
    # orphan (99 rows) is nowhere in history
    counts = {e["snapshot_id"]: e for e in r3.snapshots("a")
              if e["action"] == "commit"}
    assert [r3.read_snapshot("a", sid).count() for sid in sorted(counts)] \
        == [10, 20, 30]
