"""Robots-exclusion filtering: python-reference parity for group
parsing, RFC 9309 longest-match/allow-ties verdicts, DuckDB twin
parity, and the broadcast-probe plan."""

from __future__ import annotations

import re

import duckdb

from geospatialtools_spark.functions import robots as R


def py_rules(body):
    """Reference parser: (rule_path, allow) list for User-agent: *."""
    rules = []
    in_star, in_header_run = False, False
    for raw in re.split("\r\n|\n|\r", body.removeprefix("\ufeff")):
        line = raw.split("#", 1)[0].strip()
        m = re.match("^([^:]+):(.*)$", line)
        d = m.group(1).strip().lower() if m else ""
        v = m.group(2).strip() if m else ""
        if d == "user-agent":
            star_here = v == "*"
            in_star = (in_star or star_here) if in_header_run else star_here
            in_header_run = True
            continue
        in_header_run = False
        if d in ("allow", "disallow") and v and in_star:
            rules.append((v, d == "allow"))
    return rules


def py_verdict(path, rules):
    best_len, best_allow = -1, True
    for rp, allow in rules:
        if path.startswith(rp):
            ln = len(rp)
            if ln > best_len or (ln == best_len and allow
                                 and not best_allow):
                best_len, best_allow = ln, allow
    return best_allow


ROBOTS = [
    ("a.com",
     "User-agent: *\nDisallow: /private/\nAllow: /private/ok\n"
     "Disallow: /tmp\n"),
    ("b.com",
     "# banner\nUser-agent: googlebot\nDisallow: /\n\n"
     "User-agent: *\nUser-agent: bingbot\nDisallow: /secret/  # note\n"),
    ("c.com",
     "User-agent: googlebot\nUser-agent: *\nDisallow: /x/\n\n"
     "User-agent: specialbot\nDisallow: /y/\n"),
    ("d.com", "Disallow: /orphan-before-any-group\nUser-agent: *\n"
              "Disallow:\nAllow: /fine\n"),          # empty Disallow = no rule
    ("e.com", "User-agent: *\r\nDisallow: /a\rAllow: /a/b\r\n"),
    ("f.com", "\ufeffUser-agent: *\nDisallow: /bom/\n"),  # leading BOM
]

URLS = [
    (0, "a.com", "/private/x"),        # disallowed
    (1, "a.com", "/private/ok/page"),  # allow overrides (longer)
    (2, "a.com", "/tmpfile"),          # prefix rule: disallowed
    (3, "a.com", "/public"),           # allowed
    (4, "b.com", "/secret/k"),         # * group in multi-agent header
    (5, "b.com", "/open"),             # googlebot-only rule ignored
    (6, "c.com", "/x/1"),              # header run names * second
    (7, "c.com", "/y/1"),              # specialbot-only: allowed
    (8, "d.com", "/orphan-before-any-group"),  # orphan rule ignored
    (9, "e.com", "/a/c"),              # CR/LF mix: disallowed
    (10, "e.com", "/a/b/c"),           # equal-start, longer allow wins
    (11, "nohost.com", "/anything"),   # no robots: allowed
    (12, "f.com", "/bom/x"),           # BOM-led first group still binds
]


def test_parse_robots_matches_python_reference(spark):
    df = spark.createDataFrame(ROBOTS, "host string, body string")
    got = {}
    for r in R.parse_robots(df).collect():
        got.setdefault(r["host"], []).append((r["rule_path"], r["allow"]))
    for host, body in ROBOTS:
        assert sorted(got.get(host, [])) == sorted(py_rules(body)), host
    assert ("private/ok", True) not in got["a.com"]   # values keep '/'
    assert ("/secret/", False) in got["b.com"]        # comment stripped
    assert got.get("d.com") == [("/fine", True)]      # orphan+empty dropped
    assert got.get("f.com") == [("/bom/", False)]     # BOM stripped


def test_filter_disallowed_verdicts(spark):
    rb = R.parse_robots(spark.createDataFrame(ROBOTS,
                                              "host string, body string"))
    urls = spark.createDataFrame(URLS, "id long, host string, path string")
    out = R.filter_disallowed(urls, rb, keep_verdict=True)
    got = {r["id"]: r["robots_allowed"] for r in out.collect()}
    rules_by_host = {h: py_rules(b) for h, b in ROBOTS}
    for i, h, p in URLS:
        want = py_verdict(p, rules_by_host.get(h, []))
        assert got[i] == want, (i, h, p)
    kept = {r["id"] for r in R.filter_disallowed(urls, rb).collect()}
    assert kept == {i for i, h, p in URLS
                    if py_verdict(p, rules_by_host.get(h, []))}
    assert 0 not in kept and 1 in kept and 11 in kept and 12 not in kept


def test_filter_disallowed_broadcasts_rules(spark):
    rb = R.parse_robots(spark.createDataFrame(ROBOTS,
                                              "host string, body string"))
    urls = spark.createDataFrame(URLS, "id long, host string, path string")
    plan = R.filter_disallowed(urls, rb)._jdf.queryExecution() \
            .executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_robots_duckdb_twin_parity(spark):
    df = spark.createDataFrame(ROBOTS, "host string, body string")
    got = {(r["host"], r["rule_path"], r["allow"])
           for r in R.parse_robots(df).collect()}
    con = duckdb.connect()
    con.sql("CREATE TABLE robots(host VARCHAR, body VARCHAR)")
    con.executemany("INSERT INTO robots VALUES (?, ?)", ROBOTS)
    rows = con.sql(R.sql_robots_rules("host", "body", "robots")).fetchall()
    assert {(h, p, bool(a)) for h, p, a in rows} == got
    assert ("f.com", "/bom/", False) in got


def test_robots_twin_handles_duplicate_host_rows(spark):
    """Two bodies for ONE host (e.g. two crawl snapshots): the twin's
    windows partition by (host, body-row), so a googlebot-only body
    cannot leak its rules into the other body's * group."""
    rows = [("h.com", "User-agent: *\nDisallow: /a\n"),
            ("h.com", "User-agent: googlebot\nDisallow: /b\n")]
    df = spark.createDataFrame(rows, "host string, body string")
    got = {(r["host"], r["rule_path"], r["allow"])
           for r in R.parse_robots(df).collect()}
    assert got == {("h.com", "/a", False)}
    con = duckdb.connect()
    con.sql("CREATE TABLE robots(host VARCHAR, body VARCHAR)")
    con.executemany("INSERT INTO robots VALUES (?, ?)", rows)
    sql_rows = con.sql(R.sql_robots_rules("host", "body",
                                          "robots")).fetchall()
    assert {(h, p, bool(a)) for h, p, a in sql_rows} == got


def test_robots_null_path_kept_and_name_collision(spark):
    import pytest
    rb = R.parse_robots(spark.createDataFrame(
        [("h.com", "User-agent: *\nDisallow: /\n")],
        "host string, body string"))
    urls = spark.createDataFrame([(0, "h.com", None), (1, "h.com", "/x")],
                                 "id long, host string, path string")
    kept = {r["id"] for r in R.filter_disallowed(urls, rb).collect()}
    assert kept == {0}                  # NULL path kept, real path blocked
    bad = urls.withColumn("_robots_rules_arr", F_lit0())
    with pytest.raises(ValueError):
        R.filter_disallowed(bad, rb)


def F_lit0():
    from pyspark.sql import functions as F
    return F.lit(0)
