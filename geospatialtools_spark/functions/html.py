"""HTML boilerplate removal: block-level content extraction.

``sources/warc.py:warc_to_docs`` bridges crawl archives into the
documents schema with a flat strip-all-tags pass — honest, but it keeps
navigation menus, footers and cookie banners glued to the article text,
and those are exactly the high-frequency spans that pollute dedup and
quality signals downstream. This module is the standard public remedy
(the jusText / Arc90-readability family of heuristics, Pomikalek 2011):
split the page into BLOCKS at block-level tag boundaries and keep a
block iff it looks like prose —

- long enough (``min_len`` visible characters), and
- not link-dominated (chars contributed by ``<a>`` runs at most
  ``max_link_density`` of the block's text), and
- optionally stopword-dense (``stopwords``/``min_stop_frac`` — jusText's
  language-aware rule; off by default because ingest runs before
  language ID).

Everything is ONE chained per-row Catalyst expression (regexp strip ->
regexp split -> array transform/filter/join): zero shuffle, pipelines
inside the scan stage, and — because every regex sticks to the
RE2-compatible subset (no backreferences, explicit ASCII whitespace
classes) — the ``sql_*`` helpers below emit the IDENTICAL rule chain as
DuckDB SQL, so the gate value-checks the extraction bit-for-bit against
an independent engine. The known simplification is disclosed where it
lives: closing-tag matching is alternation-based (RE2 has no
backreferences), so a pathological ``<script>...</style>`` mismatch
truncates at the first closing tag of any stripped kind — deterministic
in all three implementations (Catalyst, RE2, and the pure-python test
reference).

At 100 TB this sits in the WARC ingest map stage (``warc_to_docs``'s
``extractor="blocks"``); it adds no exchange to the ingest plan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# ASCII-explicit whitespace (Java \s and RE2 \s are ASCII; python re's is
# unicode — explicit classes keep all three reference implementations
# byte-identical). The same rule bans \b: Python re's word boundary is
# unicode-aware where Java/RE2's is ASCII (a tag name followed by a
# non-ASCII letter would split in the engines but not in the python test
# reference), so tag-name boundaries are spelled as an explicit
# follow-set instead — the name must be followed directly by '>' or by
# one whitespace-or-slash char before any attributes.
_WS = "[ \\t\\n\\r\\f\\x0b]"
WS_RE = _WS + "+"
_ATTRS = "(?:[ \\t\\n\\r\\f\\x0b/][^>]*)?"   # the \b-free name boundary

# Containers whose CONTENT is never prose: dropped wholesale before
# blocking. Alternation closers (no RE2 backreferences) — see module doc.
_STRIP_TAGS = "script|style|noscript|template|svg|head"
COMMENT_RE = "(?s)<!--.*?-->"
STRIP_RE = (f"(?is)<(?:{_STRIP_TAGS}){_ATTRS}>"
            f".*?</(?:{_STRIP_TAGS}){_WS}*>")

# Block-level boundaries: splitting on these turns a page into candidate
# text blocks. The _ATTRS follow-set keeps <pre> from matching the
# p-alternative and <abbr> from matching a.
_BLOCK_TAGS = ("p|div|h[1-6]|li|ul|ol|dl|dt|dd|td|th|tr|table|thead|tbody"
               "|section|article|header|footer|nav|aside|blockquote|pre"
               "|br|hr|main|figure|figcaption|form|fieldset")
BOUNDARY_RE = f"(?i)</?(?:{_BLOCK_TAGS}){_ATTRS}>"

ANCHOR_RE = f"(?is)<a{_ATTRS}>.*?</a{_WS}*>"
TAG_RE = "<[^>]*>"


def _txt(c: Column) -> Column:
    """Visible text of an HTML fragment: tags -> space, whitespace
    collapsed, trimmed."""
    return F.trim(F.regexp_replace(
        F.regexp_replace(c, TAG_RE, " "), WS_RE, " "))


def strip_nonprose(c: Column) -> Column:
    """Remove comments and script/style/etc containers (content and
    all)."""
    return F.regexp_replace(F.regexp_replace(c, COMMENT_RE, " "),
                            STRIP_RE, " ")


def block_structs(html: Column) -> Column:
    """array<struct<t,nl>>: per block, its visible text ``t`` and the
    visible text with anchor runs removed ``nl`` (so ``len(t)-len(nl)``
    is the block's link-contributed character count)."""
    blocks = F.split(strip_nonprose(html), BOUNDARY_RE)
    return F.transform(
        blocks,
        lambda b: F.struct(
            _txt(b).alias("t"),
            _txt(F.regexp_replace(b, ANCHOR_RE, " ")).alias("nl")))


def _keep_cond(s: Column, min_len: int, max_link_density: float,
               stopwords: list[str] | None, min_stop_frac: float) -> Column:
    n = F.length(s["t"])
    link_chars = F.greatest(F.lit(0), n - F.length(s["nl"]))
    cond = (n >= F.lit(int(min_len))) & \
           (link_chars.cast("double") <=
            F.lit(float(max_link_density)) * n.cast("double"))
    if stopwords:
        sw = F.array(*[F.lit(w) for w in sorted({w.lower()
                                                 for w in stopwords})])
        words = F.split(s["t"], " ")
        n_stop = F.size(F.filter(
            words, lambda w: F.array_contains(sw, F.lower(w))))
        cond = cond & (n_stop.cast("double") >=
                       F.lit(float(min_stop_frac)) *
                       F.size(words).cast("double"))
    return cond


def html_extract(df: DataFrame, html_col: str = "payload",
                 out_col: str = "content",
                 min_len: int = 25, max_link_density: float = 0.35,
                 stopwords: list[str] | None = None,
                 min_stop_frac: float = 0.30) -> DataFrame:
    """Append ``out_col`` (kept blocks joined with newlines), ``n_blocks``
    (non-empty candidate blocks) and ``n_kept``. NULL html stays NULL
    with NULL counts; a page with no surviving block gets an empty
    string. Pure per-row expressions — zero shuffle. An input column
    named like one of the appended or internal columns raises
    ``ValueError`` instead of being overwritten.

    The struct array and the filtered kept array are BOUND as columns in
    their own Projects: Spark's CollapseProject keeps a multiply-
    referenced non-cheap alias in its own Project, while inlining them
    would re-evaluate the whole non-codegen regex/HOF chain once per
    consuming output column — measured ~1.9x slower for identical
    rows."""
    for name in ("_hs", "_hk", "n_blocks", "n_kept"):
        if name in df.columns:
            raise ValueError(f"input column {name!r} collides with "
                             "html_extract's output/internal name")
    b = df.withColumn("_hs", block_structs(F.col(html_col)))
    b = b.withColumn(
        "_hk", F.filter(F.col("_hs"),
                        lambda s: _keep_cond(s, min_len, max_link_density,
                                             stopwords, min_stop_frac)))
    isnull = F.col(html_col).isNull()
    return (b
            .withColumn(out_col,
                        F.array_join(F.transform(F.col("_hk"),
                                                 lambda s: s["t"]), "\n"))
            .withColumn("n_blocks",
                        F.when(isnull, F.lit(None).cast("long"))
                        .otherwise(F.size(F.filter(
                            F.col("_hs"),
                            lambda s: F.length(s["t"]) > 0)).cast("long")))
            .withColumn("n_kept",
                        F.when(isnull, F.lit(None).cast("long"))
                        .otherwise(F.size(F.col("_hk")).cast("long")))
            .drop("_hs", "_hk"))


def html_extract_expr(html: Column, min_len: int = 25,
                      max_link_density: float = 0.35,
                      stopwords: list[str] | None = None,
                      min_stop_frac: float = 0.30) -> Column:
    """The extraction as a single Column — the form ``warc_to_docs``
    plugs into its projection."""
    s = block_structs(html)
    kept = F.filter(s, lambda b: _keep_cond(b, min_len, max_link_density,
                                            stopwords, min_stop_frac))
    return F.array_join(F.transform(kept, lambda b: b["t"]), "\n")


# --- DuckDB twin generators -------------------------------------------------
# The SAME constants rendered as RE2-through-SQL; the gate oracle and the
# cross-engine tests build their SQL from these so the rule chain cannot
# drift from the Catalyst one above.

def _lit(re_src: str) -> str:
    return "'" + re_src.replace("'", "''") + "'"


def sql_txt(expr: str) -> str:
    return ("trim(regexp_replace(regexp_replace(" + expr + ", "
            + _lit(TAG_RE) + ", ' ', 'g'), " + _lit(WS_RE) + ", ' ', 'g'))")


def sql_block_structs(expr: str) -> str:
    cleaned = ("regexp_replace(regexp_replace(" + expr + ", "
               + _lit(COMMENT_RE) + ", ' ', 'g'), "
               + _lit(STRIP_RE) + ", ' ', 'g')")
    blocks = f"regexp_split_to_array({cleaned}, {_lit(BOUNDARY_RE)})"
    nl = sql_txt("regexp_replace(b, " + _lit(ANCHOR_RE) + ", ' ', 'g')")
    return (f"list_transform({blocks}, b -> struct_pack("
            f"t := {sql_txt('b')}, nl := {nl}))")


def sql_keep_cond(min_len: int, max_link_density: float,
                  stopwords: list[str] | None,
                  min_stop_frac: float) -> str:
    cond = (f"length(s.t) >= {int(min_len)} AND "
            f"CAST(greatest(0, length(s.t) - length(s.nl)) AS DOUBLE) <= "
            f"{float(max_link_density)!r} * CAST(length(s.t) AS DOUBLE)")
    if stopwords:
        lst = ", ".join("'" + w.lower().replace("'", "''") + "'"
                        for w in sorted({w.lower() for w in stopwords}))
        cond += (f" AND CAST(len(list_filter(str_split(s.t, ' '), "
                 f"w -> list_contains([{lst}], lower(w)))) AS DOUBLE) >= "
                 f"{float(min_stop_frac)!r} * "
                 f"CAST(len(str_split(s.t, ' ')) AS DOUBLE)")
    return cond


def sql_html_extract(expr: str, min_len: int = 25,
                     max_link_density: float = 0.35,
                     stopwords: list[str] | None = None,
                     min_stop_frac: float = 0.30) -> dict[str, str]:
    """{'content': sql, 'n_blocks': sql, 'n_kept': sql} over the html
    expression ``expr`` — semantics identical to ``html_extract``."""
    s = sql_block_structs(expr)
    cond = sql_keep_cond(min_len, max_link_density, stopwords,
                         min_stop_frac)
    kept = f"list_filter({s}, s -> {cond})"
    return {
        # COALESCE: duckdb's array_to_string of an empty list is NULL
        # where Spark's array_join is '' — NULL pages stay NULL
        "content": ("CASE WHEN " + expr + " IS NULL THEN NULL ELSE "
                    "COALESCE(array_to_string(list_transform(" + kept +
                    ", s -> s.t), chr(10)), '') END"),
        "n_blocks": ("CAST(len(list_filter(" + s +
                     ", s -> length(s.t) > 0)) AS BIGINT)"),
        "n_kept": f"CAST(len({kept}) AS BIGINT)",
    }
