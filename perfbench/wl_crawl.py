"""``crawl``: WARC archives -> ``read_warc`` ->
``warc_to_docs(extractor="blocks")`` -> ``run_curation_pipeline`` ->
shards, then the run is reopened from its checkpoint root.

Input: archives written here (warcinfo, then a request and a response
record per fetch). Of each archive's fetches, ``PLANTED`` carry the
``fixtures.planted_docs`` cluster bodies: in every block of 20, m+1 is an
exact copy of m, m+2 is m plus one token (J~0.91) and m+11 is m+10 plus
one token. The rest are templated pages in the stock
``make_warc_records`` layout: a distinct hash token each, one shared
template, some 404s and JSON bodies. None of the templated pages is a
copy of another, so every one near-dedup drops is a false drop.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import functions as F

from geospatialtools_spark.functions.dedup import (dedup_groups, exact_dups,
                                                   minhash_lsh_pairs)
from geospatialtools_spark.pipeline import (CurationConfig,
                                            run_curation_pipeline)
from geospatialtools_spark.sources.warc import read_warc, warc_to_docs

from harness import dir_mb, force

FILES = 4
PLANTED = 400            # planted fetches per archive (20 blocks of 20)
TEMPLATED = 100          # templated fetches per archive
NAME = "crawl"
ITEM = "WARC fetches"
SIZES = {"archives": FILES, "fetches_per_archive": PLANTED + TEMPLATED,
         "planted_per_archive": PLANTED}
WARMUP_REPS = 1
MIN_REPS = 2
TRACED_SECTIONS: list[str] = []
STAGE_LAYERS = {"dedup": "dedup", "near_dedup": "dedup",
                "quality": "textstats", "scrub": "textstats",
                "split": "sampling", "shard": "sampling"}
LAYERS = ["warc", "html", "dedup", "textstats", "sampling", "checkpointing"]
# quality_min=0 keeps the quality stage from judging hash-token bodies, so
# survivorship is decided by dedup alone
CONFIG = CurationConfig(quality_min=0.0)
NONKEEPERS, KEEPERS = (0, 1, 10), (2, 11)
_NAV = ('<nav><a href="/">home</a> <a href="/about">about</a> '
        '<a href="/news">news</a></nav>')


def _h(s: str) -> str:
    return hashlib.md5(s.encode()).hexdigest()


def _record(wtype: str, headers: dict, block: bytes) -> bytes:
    head = "".join(f"{k}: {v}\r\n" for k, v in
                   {"WARC-Type": wtype, **headers,
                    "Content-Length": len(block)}.items())
    return b"WARC/1.0\r\n" + head.encode() + b"\r\n" + block + b"\r\n\r\n"


def _body(seed: int, src: int) -> str:
    return " ".join(f"w{int(_h(f'{seed}|{src}|{t}')[:12], 16) % 999983}"
                    for t in range(12))


def _fetches(seed: int, f: int):
    """(record_id, uri, status, content_type, payload, truth) per fetch;
    truth is (block start, position in the block of 20) for a planted
    page and None for a templated one."""
    for r in range(PLANTED + TEMPLATED):
        h = _h(f"{seed}|{f}|{r}")
        rid, uri = f"<urn:uuid:{h}>", f"https://site{f}.test/{r}/{h[:8]}"
        if r < PLANTED:
            m = (f * PLANTED + r) // 20 * 20
            pos = r % 20
            src = {1: m, 2: m, 11: m + 10}.get(pos, m + pos)
            text = _body(seed, src) + (" extraword" if pos in (2, 11) else "")
            page = (f"<html><head><title>page {r}</title></head><body>"
                    f"{_NAV}<p>{text}</p><footer>all rights reserved"
                    "</footer></body></html>")
            yield rid, uri, 200, "text/html", page, (m, pos)
        elif r % 5:
            page = (f"<html><title>doc {f}-{r}</title>"
                    f"<p>{h} content for record {r} of file {f}</p></html>")
            yield rid, uri, (200 if r % 7 else 404), "text/html", page, None
        else:
            yield rid, uri, 200, "application/json", f'{{"h": "{h}"}}', None


def generate(spark, seed: int, work: str) -> dict:
    """Write the archives; keep each expected doc's truth by doc id."""
    root = os.path.join(work, "warc")
    os.makedirs(root)
    truth: dict[int, tuple | None] = {}
    for f in range(FILES):
        recs = [_record("warcinfo", {"WARC-Record-ID":
                                     f"<urn:uuid:{_h(f'info|{seed}|{f}')}>",
                                     "Content-Type":
                                     "application/warc-fields"},
                        b"software: perfbench\r\n")]
        for rid, uri, status, ctype, page, pos in _fetches(seed, f):
            common = {"WARC-Target-URI": uri,
                      "WARC-Date": "2026-01-01T00:00:00Z"}
            recs.append(_record(
                "request", {"WARC-Record-ID": rid.replace("uuid:", "uuid:q-"),
                            **common,
                            "Content-Type": "application/http;msgtype=request"},
                f"GET {uri} HTTP/1.1\r\n\r\n".encode()))
            body = page.encode()
            recs.append(_record(
                "response", {"WARC-Record-ID": rid, **common,
                             "Content-Type":
                             "application/http;msgtype=response"},
                f"HTTP/1.1 {status} X\r\nContent-Type: {ctype}\r\n"
                f"Content-Length: {len(body)}\r\n\r\n".encode() + body))
            if status == 200 and ctype.startswith("text/"):
                truth[int(_h(rid)[:15], 16)] = pos
        with open(os.path.join(root, f"crawl-{f:03d}.warc"), "wb") as fh:
            fh.write(b"".join(recs))
    return {"warc": root, "truth": truth, "items": FILES * (PLANTED + TEMPLATED),
            "archive_mb": dir_mb(root)}


def expected(inp: dict) -> dict:
    pos = {d: (p[1] if p else None) for d, p in inp["truth"].items()}
    return {"responses": inp["items"],
            "nonkeepers": {d for d, p in pos.items() if p in NONKEEPERS},
            "keepers": {d for d, p in pos.items() if p in KEEPERS},
            "unique": {d for d, p in pos.items()
                       if p not in NONKEEPERS + KEEPERS}}


def _docs(spark, inp: dict):
    return warc_to_docs(read_warc(spark, inp["warc"]), extractor="blocks")


def run_rep(spark, inp: dict, tracer, rep_dir: str) -> dict:
    with tracer.wrap_checkpointing(STAGE_LAYERS):
        out = run_curation_pipeline(spark, _docs(spark, inp), CONFIG, rep_dir)
    return {"out": out}


def resume(spark, inp: dict, rep_dir: str) -> dict:
    return run_curation_pipeline(spark, _docs(spark, inp), CONFIG, rep_dir)


def _ids(df) -> set[int]:
    return {r[0] for r in df.select("doc_id").collect()}


def check(spark, inp: dict, want: dict, out: dict) -> list[str]:
    res, bad = out["out"], []
    n_resp = read_warc(spark, inp["warc"]).count()
    if n_resp != want["responses"]:
        bad.append(f"parsed {n_resp} response records, wrote "
                   f"{want['responses']}")
    final = res["scrub"]
    n, n_text = final.agg(F.count("*"), F.count_distinct("text")).first()
    if n != n_text:
        bad.append(f"{n - n_text} exact duplicates survived")
    missing = want["keepers"] - _ids(final)
    if missing:
        bad.append(f"{len(missing)} planted keepers dropped")
    train = _ids(res["split"].filter(F.col("split") == CONFIG.train_split))
    if train != _ids(res["shard"]):
        bad.append("train split and shards hold different rows")
    stages = res["_metrics"]
    if any(m.get("resumed") for m in stages):
        bad.append("cold run found committed stages")
    resumed = out.get("resumed")
    if resumed is not None and not all(
            m.get("resumed") for m in resumed["_metrics"]):
        bad.append("resume recomputed a committed stage")
    return bad


def quality(spark, inp: dict, want: dict, out: dict) -> dict:
    """Planted-truth dedup quality: recall over the planted non-keepers,
    and the share of no-duplicate docs that near-dedup dropped."""
    before, after = _ids(out["out"]["dedup"]), _ids(out["out"]["near_dedup"])
    gone = before - after
    nonkeepers = want["nonkeepers"]
    unique = want["unique"] & before
    return {"dup_recall": len(nonkeepers - after) / len(nonkeepers),
            "false_drop_frac": len(unique & gone) / len(unique)}


def isolate(spark, inp: dict, out: dict, tracer) -> dict:
    """Time the lazy layers alone on the run's own inputs: the WARC parse
    and HTML extraction (both run inside the dedup stage), exact dedup on
    the extracted docs, and MinHash pairs versus ``dedup_groups`` on the
    dedup stage's committed output (both inside near_dedup)."""
    with tracer.span("warc", "parse", kind="iso"):
        force(read_warc(spark, inp["warc"]))
    records = read_warc(spark, inp["warc"]).localCheckpoint(eager=True)
    with tracer.span("html", "extract", kind="iso"):
        force(warc_to_docs(records, extractor="blocks"))
    docs = warc_to_docs(records, extractor="blocks").localCheckpoint(eager=True)
    with tracer.span("dedup", "exact", kind="iso"):
        force(exact_dups(docs))
    deduped = out["out"]["dedup"]
    with tracer.span("dedup", "minhash", kind="iso"):
        pairs = minhash_lsh_pairs(
            deduped, star_threshold=CONFIG.star_threshold
        ).localCheckpoint(eager=True)
    with tracer.span("dedup", "groups", kind="iso"):
        force(dedup_groups(deduped, pairs))
    cluster = {d: _cluster(p) for d, p in inp["truth"].items() if p}
    cand = pairs.collect()
    true_pairs = sum(1 for a, b in cand
                     if cluster.get(a) is not None
                     and cluster.get(a) == cluster.get(b))
    return {"dedup.candidate_pairs": float(len(cand)),
            "dedup.pair_precision": true_pairs / max(len(cand), 1),
            "warc.records_lost": float(inp["items"] - records.count())}


def _cluster(planted: tuple[int, int]):
    """The planted cluster a page belongs to, or None for a singleton."""
    m, pos = planted
    return (m, 3) if pos in (0, 1, 2) else (m, 2) if pos in (10, 11) else None
