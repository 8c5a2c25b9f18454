"""Text-analysis operators for the training-data pipeline surface.

Per-row operators over a ``text`` column, designed for the ``documents``
table (doc_id, text, lang, source, n_chars) and for the span-level text
of the interleaved doc table (apply to ``span.text`` after ``explode``).
Most are Catalyst expressions (whole-stage codegen, no Python);
``repetition_stats`` counts in one Arrow pass because the same counting
as interpreted higher-order functions is an order of magnitude slower.

Every function is deterministic and ANSI-SQL-expressible, so each has a
DuckDB oracle in ``__spark_entry__.py``. ``text_tokens`` is the one token
rule; ``normalize_str`` is its Python form for the Arrow UDFs in
``dedup`` and ``winnow``.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

TOKEN_SPLIT_RE = r"\s+"
# The canonical token: a lowercase [a-z0-9] run (see text_tokens). Java
# regex and python re agree on this pure-ASCII class.
TOKEN_RE = "[a-z0-9]+"
_TOKEN_PY = re.compile(TOKEN_RE)
# BPE-ish word-piece pattern: runs of letters, runs of digits, or single
# non-space punctuation — a public GPT-2-style pre-tokenizer simplification.
BPE_TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def token_count(text: Column) -> Column:
    """Whitespace token count; 0 for empty/blank strings."""
    t = F.trim(text)
    return F.when(F.length(t) == 0, F.lit(0)) \
            .otherwise(F.size(F.split(t, TOKEN_SPLIT_RE))).cast("long")


def bpe_token_count(text: Column) -> Column:
    """Count of BPE-ish word pieces (letters / digit runs / punct singles)."""
    return F.size(F.regexp_extract_all(text, F.lit(BPE_TOKEN_RE), 0)).cast("long")


# Performance laws for Catalyst regex on THIS engine (round 5, all measured
# at 8M ~90-char docs, local[32], pyspark 4.1 — mechanisms in the JVM are
# opaque, the rules are empirical and reproduced across fresh sessions):
#
# 1. SIBLING regexp_replace — two different patterns whose results are
#    combined in one expression tree (`len(replace(t,p1)) + len(replace(
#    t,p2))`) — is catastrophic: 54-58 s where each alone is 2-5 s and the
#    same pattern twice is 3 s (CSE'd). CHAINED replaces (output feeding
#    the next, as in redact_pii) are fine: 3 patterns in 5.8 s.
# 2. A complement char class that matches nothing in the data
#    (`[^a-z0-9\s]` on alnum+space text) is slow even ALONE: 69-75 s,
#    where `[^0-9]`/`[^a-z0-9]`/positive classes/literals — zero-match or
#    not — run 1-3 s.
# 3. `regexp_count` is slow unconditionally (73 s for ONE positive class).
# 4. `split` and `regexp_extract_all` are well-behaved, including several
#    patterns side by side (lang_id's four alternations ~2 s each).
#
# Hence the shapes below: token_count uses one `split`, _hits one
# `regexp_extract_all` per language, punct_ratio the one `regexp_replace`
# in any hot projection, digit/upper counting uses `translate` (char-map
# deletion, no regex, value-identical for enumerable classes), and
# normalize_text is a single positive-class extract_all.

_DIGITS = "0123456789"
_UPPERS = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"


def punct_ratio(text: Column) -> Column:
    """Fraction of non-alphanumeric, non-space characters."""
    n = F.length(text)
    punct = F.length(F.regexp_replace(text, r"[A-Za-z0-9\s]", ""))
    return F.when(n == 0, F.lit(0.0)).otherwise(punct.cast("double") / n)


def upper_ratio(text: Column) -> Column:
    n = F.length(text)
    up = n - F.length(F.translate(text, _UPPERS, ""))
    return F.when(n == 0, F.lit(0.0)).otherwise(up.cast("double") / n)


def digit_ratio(text: Column) -> Column:
    n = F.length(text)
    d = n - F.length(F.translate(text, _DIGITS, ""))
    return F.when(n == 0, F.lit(0.0)).otherwise(d.cast("double") / n)


# Small fixed stopword inventories for the language-ID heuristic. Function
# words are the standard public signal for statistical language ID (n-gram /
# stopword-hit methods); 8 high-frequency words per language suffice at
# document granularity.
STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "with"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "ein", "mit"],
    "fr": ["le", "la", "les", "et", "est", "pas", "une", "dans"],
    "es": ["el", "los", "las", "es", "una", "por", "con", "para"],
}


def _hits(text: Column, words: list[str]) -> Column:
    """Number of stopword OCCURRENCES (word-boundary matches, case-insensitive).

    ONE alternation-regex pass (round 5): the original per-word form — 8
    regexp_replace passes whose length differences were summed — was
    count-equivalent but violated the one-pattern-per-function-type rule
    above 8 times over (full quality_score measured 86.7 s -> 10.9 s at 8M
    docs after this + the translate ratios). Word-boundary literal-word
    matches cannot overlap, so the single alternation counts exactly the
    same occurrences; the DuckDB oracle twin deliberately keeps the
    per-word length-difference formulation as an independent check."""
    pat = r"\b(" + "|".join(words) + r")\b"
    return F.size(F.regexp_extract_all(F.lower(text), F.lit(pat), F.lit(0))) \
            .cast("long")


def stopword_ratio(text: Column, lang: str = "en") -> Column:
    """Stopword occurrences / whitespace tokens (quality signal)."""
    n = token_count(text)
    return F.when(n == 0, F.lit(0.0)) \
            .otherwise(_hits(text, STOPWORDS[lang]).cast("double") / n)


def lang_id(text: Column) -> Column:
    """Heuristic language ID: argmax of per-language stopword hits.

    Ties and zero-hit documents resolve to 'und' ... unless exactly one
    language is tied at the max (ties broken by language-code sort order,
    deterministic in both engines).
    """
    # four alternation passes, one per language (measured: regexp_extract_all
    # does NOT suffer the regexp_replace pattern-cache thrash, and a single
    # 32-word union pass + per-language array filters re-evaluates the match
    # array under the WHEN chain and comes out 2.5x slower)
    hits = {lang: _hits(text, ws) for lang, ws in sorted(STOPWORDS.items())}
    best = F.greatest(*hits.values())
    expr = F.lit("und")
    for lang in sorted(hits, reverse=True):  # reversed: first lang wins ties
        expr = F.when((hits[lang] == best) & (best > 0), F.lit(lang)).otherwise(expr)
    return expr


def quality_score(text: Column) -> Column:
    """Composite [0,1] quality score: length band + stopword presence -
    punctuation/digit noise. Deterministic, SQL-expressible."""
    n_tok = token_count(text)
    len_ok = F.when((n_tok >= 5) & (n_tok <= 100000), F.lit(0.4)).otherwise(F.lit(0.0))
    sw = stopword_ratio(text)
    # least-form of WHEN sw>=0.05 THEN 0.3 ELSE sw/0.05*0.3: bit-identical
    # (division rounding is monotone, so sw<0.05 => sw/0.05 <= 1.0), but the
    # expensive `sw` subtree appears ONCE — CASE WHEN referencing it in both
    # the predicate and a branch defeated codegen subexpression elimination
    sw_ok = F.least(sw / 0.05 * 0.3, F.lit(0.3))
    noise = punct_ratio(text) * 0.5 + digit_ratio(text) * 0.5
    noise_pen = F.least(noise * 0.6, F.lit(0.3))
    # least() SKIPS nulls (unlike the CASE WHEN forms it replaced), so a
    # NULL text would score 0.3 instead of NULL; one cheap guard on the raw
    # column restores NULL -> NULL (matching the DuckDB oracle twin's CASE
    # WHEN semantics) without duplicating any expensive subtree
    return F.when(text.isNotNull(), F.round(len_ok + sw_ok + (0.3 - noise_pen), 6))


def normalize_text(text: Column) -> Column:
    """Canonical form for fingerprinting: lowercase, collapse whitespace,
    strip punctuation — i.e. the lowercase [a-z0-9] runs joined by single
    spaces.

    Round 5: ONE positive-class regexp_extract_all pass. The original
    two-regexp_replace chain ([^a-z0-9\\s] -> ' ', then \\s+ -> ' ', then
    trim) produced the identical string (proven on the gate corpora plus
    empty/punct-only/unicode adversarial inputs) but measured 70.9 s at 8M
    docs vs 2.0 s for this form — the complement-class replace is one of
    the pathological regexp_replace shapes documented atop this module, and
    normalize_text sits under EVERY fingerprint/MinHash/SimHash/shingle
    path. The DuckDB oracle keeps the replace-chain formulation as an
    independent twin."""
    return F.array_join(text_tokens(text), " ")


def text_tokens(text: Column) -> Column:
    """THE canonical token definition — the lowercase [a-z0-9]+ runs of a
    text column. normalize_text (and through it every fingerprint /
    MinHash / SimHash / shingle path) and retrieval's BM25 index are both
    defined in terms of this one expression, so what counts as a token
    can never silently diverge between dedup and retrieval."""
    return F.regexp_extract_all(F.lower(text), F.lit(TOKEN_RE), F.lit(0))


def normalize_str(t: str) -> str:
    """Python form of ``normalize_text`` for Arrow UDFs: the lowercase
    [a-z0-9]+ runs joined by single spaces. Callers apply their own NULL
    contract first, and split the result on " ", so empty text still
    yields one empty token."""
    return " ".join(_TOKEN_PY.findall(t.lower()))


def fingerprint(text: Column) -> Column:
    """Document fingerprint = md5 of the normalized text (the classic
    Broder-style "document sketch key" reduced to one hash; near-dup variants
    live in ``dedup``)."""
    return F.md5(normalize_text(text))


# PII patterns shared by the Spark expression and the DuckDB oracle twin —
# plain ASCII classes only, so Java regex and RE2 agree token-for-token
PII_EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z][A-Za-z]+"
PII_PHONE = "[+][0-9][0-9 -]{6,}[0-9]"
PII_IPV4 = "[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}"


def redact_pii(text: Column) -> Column:
    """Scrub emails, international-format phone numbers, and IPv4 literals
    to typed placeholder tokens — the pre-training privacy pass. Pure
    Catalyst regexp_replace chain (codegen'd, no Python); order matters:
    emails first (their dotted domains would otherwise half-match the IPv4
    pattern's digit runs)."""
    t = F.regexp_replace(text, PII_EMAIL, "<EMAIL>")
    t = F.regexp_replace(t, PII_IPV4, "<IP>")
    t = F.regexp_replace(t, PII_PHONE, "<PHONE>")
    return t


def pii_counts(text: Column) -> tuple[Column, Column, Column]:
    """Match counts per PII class (audit table before the scrub)."""
    return (F.size(F.regexp_extract_all(text, F.lit(PII_EMAIL), F.lit(0))),
            F.size(F.regexp_extract_all(text, F.lit(PII_IPV4), F.lit(0))),
            F.size(F.regexp_extract_all(text, F.lit(PII_PHONE), F.lit(0))))


# ---------------------------------------------------------------------------
# Repetition statistics (Gopher-style quality signals; Rae et al. 2021 §A1.1)
#
# The classic corpus-curation repetition filters: fraction of duplicated
# words and the character coverage of the most frequent word n-gram. Per-row
# work, no shuffle. ``repetition_stats`` counts in one Arrow pass: the same
# counts as interpreted Catalyst higher-order functions measured ~12.6 s for
# all three stats at 1M 12-token docs, an order of magnitude slower. The
# DuckDB oracle twin computes the values independently with list lambdas.
# ---------------------------------------------------------------------------

def words_array(text: Column) -> Column:
    """Whitespace tokens as an array; NULL text -> NULL.

    Split artifacts are filtered out: F.trim strips ASCII SPACE only, so
    a trim-then-split form leaves phantom '' tokens on text bounded by
    tabs/newlines ('\\nHello\\n' -> ['', 'Hello', '']). One filter pass
    over the split keeps empty/blank/whitespace-bounded text at zero
    tokens whatever the whitespace flavor."""
    return F.filter(F.split(text, TOKEN_SPLIT_RE),
                    lambda x: F.length(x) > 0)


def word_ngrams(words: Column, n: int) -> Column:
    """Space-joined word n-grams (empty array when fewer than n words).

    Built from ``zip_with`` over shifted ``slice``s — NOT transform over a
    sequence of indices with element_at: that form measured 105 s for the
    bare 2-gram size at 1M 12-token docs where this one runs 6.6 s
    (per-element element_at on an interpreted-HOF lambda re-walks the
    subtree; zip_with is one fused pass), values identical."""
    if n < 1:
        raise ValueError("n >= 1")
    sz = F.size(words)
    out = F.slice(words, 1, F.greatest(sz - (n - 1), F.lit(0)))
    for j in range(1, n):
        nxt = F.slice(words, j + 1, F.greatest(sz - (n - 1), F.lit(0)))
        out = F.zip_with(out, nxt, lambda a, b: F.concat(a, F.lit(" "), b))
    return out


def repetition_stats(text: Column) -> tuple[Column, Column, Column]:
    """(dup_word_frac, top2_char_frac, top3_char_frac) of a text column.

    dup_word_frac = (n - n_distinct) / n over the words; topN_char_frac =
    max over distinct word N-grams of count * length, / length(text),
    clamped to 1.0 (count * length over-counts overlapping occurrences,
    e.g. "a a a a"). 0.0 when the text has no words (or fewer than N);
    NULL text -> NULL for all three.

    One Arrow pass counts INTEGERS per row — (n_words, n_distinct_words,
    n_g2, cover2, n_g3, cover3) — with collections.Counter; the fraction
    arithmetic (int/int divide, round(6), clamp) stays in Catalyst, so it
    lands on the same bits as the DuckDB twin. Words are the
    ``words_array`` tokens: split on Java's ASCII-only ``\\s`` class with
    empty fields dropped, so NBSP stays inside a token and no phantom
    token appears whatever whitespace bounds the text.
    """
    from pyspark.sql import types as TY

    ws = re.compile(r"[ \t\n\x0b\f\r]+")  # Java \s+, ASCII-only

    schema = TY.StructType([
        TY.StructField("n_words", TY.IntegerType()),
        TY.StructField("n_distinct_words", TY.IntegerType()),
        TY.StructField("n_g2", TY.IntegerType()),
        TY.StructField("cover2", TY.IntegerType()),
        TY.StructField("n_g3", TY.IntegerType()),
        TY.StructField("cover3", TY.IntegerType()),
    ])

    @F.pandas_udf(schema)
    def rc(text):
        from collections import Counter

        import pandas as pd
        rows = []
        for t in text:
            if t is None:
                rows.append((None,) * 6)
                continue
            w = [x for x in ws.split(t) if x]
            nw = len(w)
            if nw == 0:
                rows.append((0, 0, 0, 0, 0, 0))
                continue
            g2 = [w[i] + " " + w[i + 1] for i in range(nw - 1)]
            g3 = [w[i] + " " + w[i + 1] + " " + w[i + 2] for i in range(nw - 2)]
            c2 = max((cnt * len(g) for g, cnt in Counter(g2).items()),
                     default=0)
            c3 = max((cnt * len(g) for g, cnt in Counter(g3).items()),
                     default=0)
            rows.append((nw, len(set(w)), len(g2), c2, len(g3), c3))
        return pd.DataFrame(rows, columns=[f.name for f in schema])

    c = rc(text)

    def _frac(num: Column, den: Column) -> Column:
        return F.when(den == 0, F.lit(0.0)) \
                .otherwise(F.round(num.cast("double") / den, 6))

    dup = _frac(c.n_words - c.n_distinct_words, c.n_words)
    n = F.length(text)
    # explicit NULL guard: the counters are NULL for NULL text, and
    # F.least SKIPS nulls — unguarded, least(1.0, NULL) scores a NULL doc
    # as maximally repetitive (the quality_score footgun)
    top2 = F.when(c.n_g2.isNull(), F.lit(None).cast("double")) \
            .when(c.n_g2 == 0, F.lit(0.0)) \
            .otherwise(F.least(F.lit(1.0),
                               F.round(c.cover2.cast("double") / n, 6)))
    top3 = F.when(c.n_g3.isNull(), F.lit(None).cast("double")) \
            .when(c.n_g3 == 0, F.lit(0.0)) \
            .otherwise(F.least(F.lit(1.0),
                               F.round(c.cover3.cast("double") / n, 6)))
    return dup, top2, top3


def corpus_stats(docs: DataFrame, text_col: str = "text",
                 source_col: str = "source",
                 lang_col: str = "lang") -> DataFrame:
    """Dataset-card summary in ONE aggregation pass: per-source rows plus
    the corpus TOTAL via ROLLUP — docs, chars, whitespace tokens, distinct
    languages, distinct texts (the exact-dup signal: docs - distinct_texts
    = exactly removable rows), mean length. One shuffle, map-side
    combined; the count-distincts expand internally (Spark rewrites
    multi-distinct aggregates), still one pass over the corpus. A real
    NULL source keeps its own '(null)' row — GROUPING() separates it from
    the rollup TOTAL row — and STAYS in the output as ``is_total``, since
    relabeling alone would collapse a corpus whose source column really
    contains the string 'TOTAL' (or '(null)') into the synthetic rows.

    Tokens count via ``words_array`` (filter-after-split), not the raw
    split — newline/tab-bounded text must not inflate a dataset-card
    total with phantom empty tokens. NULL text contributes to ``docs``
    only (length/md5/token NULLs are skipped by sum/avg/count-distinct in
    both Spark and the DuckDB twin — parity pinned in the gate oracle)."""
    t = F.col(text_col)
    agg = docs.rollup(source_col).agg(
        F.grouping(F.col(source_col)).cast("int").alias("is_total"),
        F.count("*").cast("long").alias("docs"),
        F.sum(F.length(t)).cast("long").alias("chars"),
        F.sum(F.size(words_array(t))).cast("long").alias("tokens"),
        F.count_distinct(F.col(lang_col)).alias("langs"),
        F.count_distinct(F.md5(t)).alias("distinct_texts"),
        F.round(F.avg(F.length(t)), 4).alias("avg_chars"))
    return agg.withColumn(source_col,
                          F.when(F.col("is_total") == 1, F.lit("TOTAL"))
                          .otherwise(F.coalesce(F.col(source_col),
                                                F.lit("(null)"))))


# --- unicode script composition --------------------------------------------
# BMP-only code-point ranges (supplementary-plane ranges excluded on
# purpose: Spark length()/Java regex and DuckDB/RE2 agree on BMP chars
# unconditionally, while astral handling differs between UTF-16 code
# units and code points). Classes are BUILT from chr() at runtime so
# every engine — Catalyst (Java regex), DuckDB (RE2), the python test
# reference — receives literal characters, never engine-specific escape
# syntax.
SCRIPT_RANGES: dict[str, list[tuple[int, int]]] = {
    "latin": [(0x41, 0x5A), (0x61, 0x7A), (0xC0, 0xD6), (0xD8, 0xF6),
              (0xF8, 0x24F)],
    "greek": [(0x370, 0x3FF)],
    "cyrillic": [(0x400, 0x4FF)],
    "hebrew": [(0x590, 0x5FF)],
    "arabic": [(0x600, 0x6FF), (0x750, 0x77F)],
    "devanagari": [(0x900, 0x97F)],
    "cjk": [(0x3040, 0x30FF), (0x3400, 0x4DBF), (0x4E00, 0x9FFF)],
    "hangul": [(0x1100, 0x11FF), (0xAC00, 0xD7A3)],
}


def script_class(name: str) -> str:
    """The positive character class for a script, as a literal-char
    regex usable verbatim in Java, RE2 and python re."""
    return "[" + "".join(chr(a) + "-" + chr(b)
                         for a, b in SCRIPT_RANGES[name]) + "]"


def script_counts(text: Column) -> dict[str, Column]:
    """Per-script character counts (long; NULL text -> NULL counts):
    sum of run lengths from one regexp_extract_all per script.

    Shape chosen by the module-header laws: eight SIBLING
    regexp_replace calls in one expression tree is law #1's
    pattern-cache thrash (54-58 s per sibling pair at 8M docs where
    each alone is 2-5 s), while regexp_extract_all does not thrash
    (law #4 — the lang_id precedent). The extract_all runs feed one
    array aggregate summing lengths — count identical to the
    strip-and-subtract form, measured scale point in BENCH_SCRIPTS."""
    out = {}
    for name in sorted(SCRIPT_RANGES):
        cls = script_class(name)
        runs = F.regexp_extract_all(text, F.lit(cls + "+"), F.lit(0))
        out[name] = F.aggregate(runs, F.lit(0),
                                lambda a, x: a + F.length(x)).cast("long")
    return out


def script_fracs(text: Column) -> dict[str, Column]:
    """Per-script fractions of the document's characters (round 6; 0.0
    for empty docs, NULL for NULL docs) — the script-composition signal
    multilingual curation filters on (e.g. drop docs whose script
    contradicts their language tag)."""
    n = F.length(text)
    return {name: F.when(text.isNull(), F.lit(None).cast("double"))
            .when(n == 0, F.lit(0.0))
            .otherwise(F.round(c.cast("double") / n, 6))
            for name, c in script_counts(text).items()}


def dominant_script(text: Column) -> Column:
    """argmax script by character count — 'und' when no script char
    occurs (or NULL text); exact ties resolve to the alphabetically
    FIRST script name, deterministic in every engine (the lang_id
    tie rule)."""
    counts = script_counts(text)
    best = F.greatest(*counts.values())
    expr = F.lit("und")
    for name in sorted(counts, reverse=True):   # reversed: first wins ties
        expr = F.when((counts[name] == best) & (best > 0), F.lit(name)) \
                .otherwise(expr)
    return F.when(text.isNull(), F.lit(None).cast("string")).otherwise(expr)


def sql_script_counts(expr: str) -> dict[str, str]:
    """DuckDB spellings of script_counts — same chr()-built classes,
    same extract-runs-and-sum shape (empty list sums to NULL in duckdb,
    hence the COALESCE; NULL text stays NULL via the CASE)."""
    out = {}
    for name in sorted(SCRIPT_RANGES):
        cls = script_class(name)
        out[name] = (
            f"CASE WHEN {expr} IS NULL THEN NULL ELSE "
            f"CAST(COALESCE(list_aggregate(list_transform("
            f"regexp_extract_all({expr}, '{cls}+'), x -> length(x)), "
            f"'sum'), 0) AS BIGINT) END")
    return out


# --- collocations -----------------------------------------------------------

def pmi_bigrams(docs: DataFrame, text_col: str = "text",
                min_count: int = 5, top_k: int = 100) -> DataFrame:
    """Top-k collocations by pointwise mutual information (Church &
    Hanks 1990): PMI(a,b) = ln( P(ab) / (P(a)P(b)) ) over corpus word
    and adjacent-bigram counts — the classic phrase-discovery /
    tokenizer-seeding pass (word2vec's phrase step uses the same
    statistic). ``min_count`` drops unstable rare bigrams; result is
    the TakeOrdered top_k by (pmi desc, bigram asc).

    Shape: two map-side-combined count aggregates (words, adjacent
    bigrams via the zip_with word_ngrams — no HOF law violations), two
    scalar totals, and two joins of the bigram table against the word
    counts on its two parts. Join strategy is left to Catalyst/AQE: at
    corpus scale both sides are large (sort-merge on the word), at gate
    scale they broadcast. The PMI double is computed with the EXACT
    operation order ``ln((cab/B) / ((ca/W) * (cb/W)))`` so the DuckDB
    twin lands on the identical bits.
    """
    if min_count < 1 or top_k < 1:
        raise ValueError("min_count and top_k must be >= 1")
    # text_tokens, NOT raw whitespace words: the ONE canonical token
    # definition (the retrieval.py doctrine) — the DuckDB twin and the
    # python test reference both tokenize the normalized [a-z0-9]+ runs,
    # and a raw-token Spark side would diverge on any uppercase or
    # punctuated corpus (code-review finding; the gate corpus being
    # all-lowercase had masked it)
    toks = text_tokens(F.col(text_col))
    words = docs.select(F.explode(toks).alias("w"))
    wc = words.groupBy("w").agg(F.count("*").cast("long").alias("cw")) \
              .localCheckpoint(eager=True)
    total_w = wc.agg(F.sum("cw")).first()[0] or 0
    grams = docs.select(F.explode(word_ngrams(toks, 2)).alias("g"))
    # checkpointed like wc: total_b is an action and the parts join is
    # another — unmaterialized, the dominant bigram explode+shuffle
    # would run twice from the raw corpus
    gc = grams.groupBy("g").agg(F.count("*").cast("long").alias("cab")) \
              .localCheckpoint(eager=True)
    total_b = gc.agg(F.sum("cab")).first()[0] or 0
    if not total_w or not total_b:
        # degenerate corpora (no words, or only 1-token docs): an EMPTY
        # result, exactly what the SQL twin evaluates to — not a raise
        spark = docs.sparkSession
        return spark.createDataFrame(
            [], "bigram string, cab long, pmi double")
    parts = gc.filter(F.col("cab") >= min_count).select(
        "g", "cab",
        F.split(F.col("g"), " ").getItem(0).alias("_a"),
        F.split(F.col("g"), " ").getItem(1).alias("_b"))
    a = wc.select(F.col("w").alias("_a"), F.col("cw").alias("ca"))
    b = wc.select(F.col("w").alias("_b"), F.col("cw").alias("cb"))
    j = parts.join(a, "_a").join(b, "_b")
    pmi = F.log((F.col("cab").cast("double") / F.lit(float(total_b))) /
                ((F.col("ca").cast("double") / F.lit(float(total_w))) *
                 (F.col("cb").cast("double") / F.lit(float(total_w)))))
    return (j.select(F.col("g").alias("bigram"), "cab",
                     F.round(pmi, 6).alias("pmi"))
            .orderBy(F.desc("pmi"), "bigram").limit(top_k))
