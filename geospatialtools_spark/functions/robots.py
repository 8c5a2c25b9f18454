"""Robots-exclusion filtering for crawl corpora (RFC 9309 subset).

The URL surface so far governs hosts (``urls.filter_blocklisted``) and
identity (``urls.url_dedup``); robots.txt governs PATHS — the per-host
allow/disallow prefix rules a compliant corpus builder must honor before
text extraction (Common Crawl fetches robots.txt alongside every crawl;
CCNet/C4-style pipelines inherit its verdicts). This module implements
the widely-deployed core of RFC 9309 for the wildcard user-agent:

- ``parse_robots``: robots.txt bodies -> one (host, rule_path, allow)
  row per Allow/Disallow line in ``User-agent: *`` groups. Pure
  Catalyst: lines split, group tracking via the classic
  "last user-agent header run before the rule" trick expressed with
  aggregate over the line array — zero shuffle, one row per rule via
  posexplode.
- ``filter_disallowed``: URLs (or docs carrying them) judged against a
  BROADCAST rules table — longest-match wins, Allow beats Disallow on
  equal length (the RFC 9309 tie rule), no matching group or no rule
  means allowed. The corpus side stays a map-side probe: rules join by
  host (broadcast), the longest-match argmax is an array aggregate over
  the (tiny) per-host rule list.

Deliberate subset, disclosed: only ``*`` user-agent groups bind (a
corpus crawler's practical identity), ``%``-escapes are compared
literally, and ``*``/``$`` wildcards inside rule paths match literally
— the overwhelming majority of real rules are plain prefixes (Google's
own published parser treats non-wildcard rules exactly this way). Every
comparison is byte-literal, so the DuckDB twin in the gate reproduces
verdicts bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_LINE_SPLIT = "\r\n|\n|\r"
# a leading byte-order mark would otherwise glue onto the first
# directive ("\ufeffUser-agent") and hide the first group
_LEADING_BOM = "^\ufeff"


def parse_robots(bodies: DataFrame, host_col: str = "host",
                 body_col: str = "body") -> DataFrame:
    """(host, rule_path, allow) rows for ``User-agent: *`` groups.

    Group semantics per RFC 9309 §2.2.1: consecutive ``User-agent:``
    lines form one header block; the rules that follow belong to every
    agent named in the block, until the next header block starts. A
    rule line therefore binds to ``*`` iff the nearest header RUN above
    it names ``*``. That walk is one F.aggregate pass over the line
    array carrying (in_star_group, was_in_header_run, rules) — per-row,
    zero shuffle. Comment stripping (#...), whitespace trim and
    case-insensitive directive names follow the RFC; empty Disallow
    lines (allow-all idiom) are dropped as rules (they mean "no rule").
    A leading U+FEFF byte-order mark is stripped before the line split.
    """
    lines = F.split(F.regexp_replace(F.col(body_col), _LEADING_BOM, ""),
                    _LINE_SPLIT)
    # normalize each line to struct(directive, value) — directive ''
    # for non-directive lines
    def norm(ln: Column) -> Column:
        clean = F.trim(F.regexp_replace(ln, "#.*$", ""))
        d = F.lower(F.trim(F.regexp_extract(clean, "^([^:]+):", 1)))
        v = F.trim(F.regexp_extract(clean, "^[^:]+:(.*)$", 1))
        return F.struct(d.alias("d"), v.alias("v"))

    normed = F.transform(lines, norm)

    # state: g = current group binds *; h = previous line was a
    # user-agent header (header RUN tracking); rules = collected
    # (path, allow) structs
    def step(acc: Column, x: Column) -> Column:
        is_ua = x["d"] == "user-agent"
        # a header line: extend the run (g stays if already * in run,
        # or becomes * if this header names *); a non-header line ends
        # the run
        g_after_header = F.when(acc["h"], acc["g"] | (x["v"] == "*")) \
                          .otherwise(x["v"] == "*")
        is_rule = x["d"].isin("allow", "disallow") & (x["v"] != "")
        add = F.when(
            acc["g"] & is_rule & ~is_ua,
            F.array(F.struct(x["v"].alias("rule_path"),
                             (x["d"] == "allow").alias("allow")))
        ).otherwise(F.array().cast(
            "array<struct<rule_path:string,allow:boolean>>"))
        return F.struct(
            F.when(is_ua, g_after_header).otherwise(acc["g"]).alias("g"),
            is_ua.alias("h"),
            F.concat(acc["rules"], add).alias("rules"))

    init = F.struct(
        F.lit(False).alias("g"), F.lit(False).alias("h"),
        F.array().cast("array<struct<rule_path:string,allow:boolean>>")
        .alias("rules"))
    rules = F.aggregate(normed, init, step, lambda acc: acc["rules"])
    return (bodies
            .select(F.col(host_col).alias("host"),
                    F.explode(rules).alias("r"))
            .select("host", F.col("r.rule_path").alias("rule_path"),
                    F.col("r.allow").alias("allow")))


def robots_verdict(path: Column, rules: Column) -> Column:
    """TRUE (allowed) / FALSE given a path and this host's rule array
    (array<struct<rule_path,allow>>; NULL/empty array -> allowed).
    Longest matching rule wins; on equal length Allow beats Disallow
    (RFC 9309 §2.3.2). Expressed as one aggregate over the rule array
    keeping the best (len, allow) pair.

    A NULL path is KEPT (allowed) by contract — the
    ``urls.filter_blocklisted`` precedent: a row whose URL failed to
    parse upstream is not silently dropped by a governance filter
    (startswith(NULL) is NULL, every when() falls through, the init
    allow=True survives)."""
    def step(acc: Column, r: Column) -> Column:
        m = path.startswith(r["rule_path"])
        ln = F.length(r["rule_path"])
        better = m & ((ln > acc["ln"]) |
                      ((ln == acc["ln"]) & r["allow"] & ~acc["al"]))
        return F.struct(
            F.when(better, ln).otherwise(acc["ln"]).alias("ln"),
            F.when(better, r["allow"]).otherwise(acc["al"]).alias("al"))

    init = F.struct(F.lit(-1).alias("ln"), F.lit(True).alias("al"))
    best = F.aggregate(F.coalesce(rules, F.array().cast(
        "array<struct<rule_path:string,allow:boolean>>")),
        init, step, lambda acc: acc["al"])
    return best


def filter_disallowed(df: DataFrame, rules: DataFrame,
                      host_col: str = "host", path_col: str = "path",
                      keep_verdict: bool = False) -> DataFrame:
    """Drop rows whose (host, path) a wildcard-agent robots rule
    disallows. ``rules`` is ``parse_robots`` output; it aggregates to
    one rule-array row per host (tiny — robots files are small by
    protocol) and BROADCASTS, so the corpus side is a map-side hash
    probe plus one per-row array aggregate: zero corpus shuffle. Hosts
    with no robots row are fully allowed. ``keep_verdict`` appends the
    boolean instead of filtering (for audits)."""
    for tmp in ("_robots_rules_arr", "_robots_rhost"):
        if tmp in df.columns:
            raise ValueError(f"input column {tmp!r} collides with "
                             "filter_disallowed's internal name")
    per_host = (rules.groupBy("host")
                .agg(F.collect_list(F.struct("rule_path", "allow"))
                     .alias("_robots_rules_arr"))
                .withColumnRenamed("host", "_robots_rhost"))
    ph = F.broadcast(per_host)
    j = (df.join(ph, df[host_col] == ph["_robots_rhost"], "left")
         .drop("_robots_rhost"))
    v = robots_verdict(F.col(path_col), F.col("_robots_rules_arr"))
    if keep_verdict:
        return j.withColumn("robots_allowed", v).drop("_robots_rules_arr")
    return j.filter(v).drop("_robots_rules_arr")


# --- DuckDB twin ------------------------------------------------------------

def sql_robots_rules(host_expr: str, body_expr: str,
                     table: str) -> str:
    """SELECT host, rule_path, allow — parse_robots as DuckDB SQL.

    Same group semantics via window functions instead of the array
    aggregate: a line's group binds * iff the latest header RUN at or
    above it contains 'user-agent: *'. The same leading BOM is
    stripped."""
    # duckdb has no WITH ORDINALITY — index the line list explicitly.
    # rid: windows partition by (host, rid), not host alone — with
    # duplicate host rows the per-host windows would interleave lines
    # from different bodies (nondeterministic ord ties) and header-run
    # tracking would cross body boundaries, emitting rules parse_robots
    # (a per-row walk) never produces.
    return f"""
        WITH ln AS (
          SELECT t.host, t.rid, u.u.ord AS ord,
                 trim(regexp_replace(u.u.line, '#.*$', '')) AS clean
          FROM (SELECT {host_expr} AS host,
                       regexp_replace({body_expr}, '{_LEADING_BOM}', '')
                         AS _b,
                       row_number() OVER () AS rid FROM {table}) t,
               unnest(list_transform(range(1, len(t._b) + 1),
                      i -> struct_pack(ord := i,
                                       line := (regexp_split_to_array(
                                         t._b, '{_LINE_SPLIT}'))[i])))
                 AS u(u)),
        d AS (
          SELECT host, rid, ord,
                 lower(trim(regexp_extract(clean, '^([^:]+):', 1))) AS dir,
                 trim(regexp_extract(clean, '^[^:]+:(.*)$', 1)) AS val
          FROM ln),
        -- header-run ids: a run starts at a user-agent line whose
        -- predecessor is not one (two CTEs — duckdb forbids nesting a
        -- lag() call inside the cumulative sum)
        starts AS (
          SELECT *,
                 CASE WHEN dir = 'user-agent'
                      AND COALESCE(lag(dir) OVER
                        (PARTITION BY host, rid ORDER BY ord), '')
                          <> 'user-agent'
                 THEN 1 ELSE 0 END AS is_start
          FROM d),
        runs AS (
          SELECT *,
                 sum(is_start) OVER (PARTITION BY host, rid ORDER BY ord
                                     ROWS UNBOUNDED PRECEDING) AS last_run
          FROM starts),
        star_runs AS (
          SELECT DISTINCT host, rid, last_run AS run_id FROM runs
          WHERE dir = 'user-agent' AND val = '*'),
        rules AS (
          SELECT r.host, r.val AS rule_path,
                 r.dir = 'allow' AS allow
          FROM runs r JOIN star_runs s
            ON s.host = r.host AND s.rid = r.rid
            AND s.run_id = r.last_run
          WHERE r.dir IN ('allow', 'disallow') AND r.val <> '')
        SELECT host, rule_path, allow FROM rules"""
