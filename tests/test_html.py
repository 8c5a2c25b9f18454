"""HTML boilerplate extraction: three-way parity (Catalyst vs pure-python
reference vs DuckDB twin built by the module's own sql_* generators),
rule behavior, and the zero-shuffle plan contract."""

from __future__ import annotations

import re

import duckdb
import pytest

from geospatialtools_spark.functions import html as H


def py_extract(page, min_len=25, mld=0.35, stopwords=None, msf=0.30):
    """Reference implementation: the same regex chain via python re."""
    if page is None:
        return None, None, None

    def txt(x):
        return re.sub(H.WS_RE, " ", re.sub(H.TAG_RE, " ", x)).strip()

    cleaned = re.sub(H.STRIP_RE, " ", re.sub(H.COMMENT_RE, " ", page))
    blocks = re.split(H.BOUNDARY_RE, cleaned)
    structs = [(txt(b), txt(re.sub(H.ANCHOR_RE, " ", b))) for b in blocks]
    sw = {w.lower() for w in stopwords} if stopwords else None
    kept = []
    for t, nl in structs:
        n = len(t)
        link = max(0, n - len(nl))
        ok = n >= min_len and float(link) <= mld * n
        if ok and sw is not None:
            words = t.split(" ")
            n_stop = sum(1 for w in words if w.lower() in sw)
            ok = float(n_stop) >= msf * len(words)
        if ok:
            kept.append(t)
    n_blocks = sum(1 for t, _ in structs if t)
    return "\n".join(kept), n_blocks, len(kept)


PAGES = [
    (0, "<html><head><title>T</title><style>p{color:red}</style></head>"
        "<body><nav><a href='/'>Home</a> <a href='/a'>About</a> "
        "<a href='/c'>Contact us now</a></nav>"
        "<p>The quick brown fox jumps over the lazy dog near the river "
        "bank every single morning.</p>"
        "<div>ok</div>"
        "<p>A second long paragraph with enough visible characters to "
        "clear the minimum length rule comfortably.</p>"
        "<footer><a href='/p'>Privacy</a> <a href='/t'>Terms</a> "
        "copyright</footer></body></html>"),
    (1, "no tags at all, just one plain block of sufficient length for "
        "the keeper rule to fire"),
    (2, ""),
    (3, None),
    (4, "<div><a href='x'>This entire long block is one big anchor link "
        "so the link density rule must reject it</a></div>"
        "<p>Der schnelle braune Fuchs springt über den faulen Hund "
        "am Flussufer.</p>"),
    (5, "<script>var x = '<p>fake</p>';</script><!-- <p>ghost block that "
        "must not appear</p> --><p>Real content paragraph long enough to "
        "be kept by the extractor rules.</p>"),
    (6, "<ul><li>short</li><li>also short</li></ul>"
        "<blockquote>A quotation block that is long enough to survive "
        "and mentions nothing else.</blockquote>"),
    (7, "<p>Mixed <b>inline</b> markup with an <a href='#'>inline "
        "link</a> inside a mostly-prose paragraph should survive the "
        "density rule.</p>"),
    # tag name followed by a NON-ASCII letter: a \b boundary would split
    # here in Java/RE2 (ASCII \b) but not in python re (unicode \b) —
    # the explicit follow-set must agree in all three implementations
    (8, "aaaa bbbb cccc ddd<preäx>eeee ffff gggg hhh"),
    (9, "start words here<pre ättr>real block boundary with enough "
        "text to keep going after it</pre>"),
]


def test_html_extract_matches_python_reference(spark):
    df = spark.createDataFrame(PAGES, "id long, payload string")
    out = {r["id"]: (r["content"], r["n_blocks"], r["n_kept"])
           for r in H.html_extract(df).collect()}
    for pid, page in PAGES:
        c, nb, nk = py_extract(page)
        assert out[pid] == (c, nb, nk), (pid, out[pid], (c, nb, nk))
    # and the rules actually did something on the crafted page
    c0 = out[0][0]
    assert "quick brown fox" in c0 and "second long paragraph" in c0
    assert "Home" not in c0 and "Privacy" not in c0      # nav/footer gone
    assert "ok" not in c0.split("\n")                    # short block gone
    assert "ghost block" not in out[5][0]
    assert "fake" not in out[5][0]
    assert out[4][0].startswith("Der schnelle")          # anchor block gone


def test_html_extract_matches_duckdb_twin(spark):
    df = spark.createDataFrame(PAGES, "id long, payload string")
    got = {r["id"]: (r["content"], r["n_blocks"], r["n_kept"])
           for r in H.html_extract(df).collect()}
    con = duckdb.connect()
    con.sql("CREATE TABLE pages(id BIGINT, payload VARCHAR)")
    con.executemany("INSERT INTO pages VALUES (?, ?)", list(PAGES))
    e = H.sql_html_extract("payload")
    rows = con.sql(
        f"SELECT id, {e['content']} AS c, {e['n_blocks']} AS nb, "
        f"{e['n_kept']} AS nk FROM pages").fetchall()
    for pid, c, nb, nk in rows:
        assert got[pid] == (c, nb, nk), pid


def test_html_extract_stopword_rule_both_engines(spark):
    stop = ["the", "a", "of", "and", "is", "to", "in"]
    pages = [
        (0, "<p>The cat is in the hat and the dog is on a mat which is "
            "fine by the owner of the house.</p>"),
        (1, "<p>Widget gadget sprocket flange bracket grommet spindle "
            "washer gasket bushing coupling flywheel manifold.</p>"),
    ]
    df = spark.createDataFrame(pages, "id long, payload string")
    out = {r["id"]: r["n_kept"]
           for r in H.html_extract(df, stopwords=stop,
                                   min_stop_frac=0.3).collect()}
    assert out[0] == 1 and out[1] == 0   # prose kept, parts-list dropped
    for pid, page in pages:
        c, nb, nk = py_extract(page, stopwords=stop, msf=0.3)
        assert nk == out[pid]
    con = duckdb.connect()
    con.sql("CREATE TABLE pages(id BIGINT, payload VARCHAR)")
    con.executemany("INSERT INTO pages VALUES (?, ?)", pages)
    e = H.sql_html_extract("payload", stopwords=stop, min_stop_frac=0.3)
    rows = con.sql(f"SELECT id, {e['n_kept']} FROM pages").fetchall()
    assert {pid: nk for pid, nk in rows} == out


def test_html_extract_plan_has_no_exchange(spark):
    df = spark.createDataFrame(PAGES, "id long, payload string")
    plan = H.html_extract(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


@pytest.mark.parametrize("name", ["_hs", "_hk", "n_blocks", "n_kept"])
def test_html_extract_rejects_name_collision(spark, name):
    """An input column named like an appended or internal column raises
    instead of being silently overwritten (the filter_disallowed rule)."""
    from pyspark.sql import functions as F
    df = spark.createDataFrame(PAGES[:1], "id long, payload string")
    with pytest.raises(ValueError, match=name):
        H.html_extract(df.withColumn(name, F.lit(0)))


def test_warc_to_docs_block_extractor(spark):
    """The ingest bridge's extractor seam: blocks mode drops nav/footer
    text that strip mode keeps, on the same records."""
    from geospatialtools_spark.sources import warc as W
    page = PAGES[0][1]
    rows = [("rec-1", "response", 200, "text/html",
             "http://ex.com/a", page)]
    records = spark.createDataFrame(
        rows, "record_id string, warc_type string, http_status int, "
              "content_type string, target_uri string, payload string")
    plain = W.warc_to_docs(records).collect()[0]
    blocks = W.warc_to_docs(records, extractor="blocks").collect()[0]
    assert "Home" in plain["text"]
    assert "Home" not in blocks["text"]
    assert "quick brown fox" in blocks["text"]
    assert plain["doc_id"] == blocks["doc_id"]           # same identity
    assert blocks["n_chars"] == len(blocks["text"])
    with pytest.raises(ValueError):
        W.warc_to_docs(records, extractor="nope")
