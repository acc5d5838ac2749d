"""Text-analysis operators for corpus pipelines (extension surface).

All pure Catalyst expressions (split/filter/size/regexp) — language ID,
quality scoring, token counting, and fingerprinting run inside
whole-stage codegen with zero Python in the row path, so a 100 TB
documents table is one scan + one optional aggregate.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from drill_spark.ops import quote_ident
from drill_spark.ops.dedup import normalize_text, tokens

# Tiny per-language stopword lexicons for the n-gram/stopword-hit
# heuristic language id. Real pipelines plug in fastText/cld3 via a
# pandas_udf; the operator shape (per-row classify -> group) is the same.
STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "it"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein"],
    "fr": ["le", "la", "les", "et", "est", "une", "dans"],
    "es": ["el", "la", "los", "y", "es", "una", "que"],
}


def token_count(col):
    """Whitespace token count (BPE-ish subword estimate = chars/4 is
    also exposed; real BPE runs as a pandas_udf at the edge)."""
    return F.size(tokens(col))


def subword_estimate(col):
    return F.ceil(F.length(F.trim(col)) / 4).cast("bigint")


def lang_hits(col, lang: str):
    # Public higher-order-function API (Connect-safe) — no _jc splicing.
    lex = STOPWORDS[lang]
    return F.size(F.filter(tokens(col), lambda t: t.isin(*lex)))


def lang_id(col):
    """Argmax of stopword hits; 'und' (undetermined) when no lexicon hits."""
    hits = [(lang, lang_hits(col, lang)) for lang in STOPWORDS]
    best = F.greatest(*[h for _, h in hits])
    # build in reverse so earlier lexicon languages win ties
    out = F.lit("und")
    for lang, h in reversed(hits):
        out = F.when((h == best) & (best > 0), F.lit(lang)).otherwise(out)
    return out


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Length / punctuation / stopword-ratio quality features + a
    composite score in [0, 1] (heuristics in the spirit of C4/Gopher
    corpus filters, rebuilt as Catalyst expressions)."""
    t = F.col(text_col)
    n_chars = F.length(t)
    n_words = token_count(t)
    return (
        df.withColumn("n_words", n_words)
        .withColumn("avg_word_len", F.round(n_chars / F.greatest(n_words, F.lit(1)), 4))
        .withColumn(
            "punct_ratio",
            F.round(
                (n_chars - F.length(F.regexp_replace(t, r"[^\w\s]", ""))) / F.greatest(n_chars, F.lit(1)),
                4,
            ),
        )
        .withColumn("stopword_hits", lang_hits(t, "en"))
        .withColumn(
            "quality_score",
            F.round(
                F.least(F.lit(1.0), n_words / F.lit(50.0)) * 0.5
                + F.when(F.col("avg_word_len").between(3, 10), 0.3).otherwise(0.0)
                + F.least(F.lit(0.2), F.col("stopword_hits") / F.lit(10.0) * 0.2),
                4,
            ),
        )
    )


def fingerprint(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Deterministic document fingerprint: md5 of normalized text.
    (Rolling/winnowing fingerprints are a shingle-explode away — see
    ops.dedup.shingles.)"""
    return df.select(
        F.col(id_col), F.md5(normalize_text(F.col(text_col))).alias("fp")
    )


def collocations(df: DataFrame, text_col: str = "text",
                 min_count: int = 5, top_k: int = 50) -> DataFrame:
    """Corpus collocation mining: the strongest adjacent word pairs by
    LIFT = p(a,b) / (p(a)·p(b)) — pointwise mutual information without
    the log (an exact rational of integer counts, so Spark and a SQL
    oracle agree to the bit where ln()'s last-ulp rounding might not).
    The classic phrase/terminology extraction pass over a corpus
    (Manning & Schütze ch. 5).

    Scale shape: ONE bigram explode into a map-combined (a, b) count,
    one unigram count (bounded by vocabulary) broadcast back onto the
    bigram table, scalar totals via a cross join of two single-row
    aggregates, TakeOrdered top-k. The corpus shuffles once, keyed by
    fixed-width gram text.

    Returns (a, b, n_pair, lift) — lift floored to 4 decimals — the
    ``top_k`` pairs with ``n_pair >= min_count`` ordered by
    (lift desc, n_pair desc, a, b).
    """
    # materialize the token array in its own projection so the
    # per-element lookups index a computed column — an inlined
    # filter(split(...)) inside every element_at would re-tokenize the
    # document per position (O(len^2))
    toks_df = df.select(
        F.filter(tokens(F.col(text_col)), lambda t: t != "").alias("__w"))
    w = F.col("__w")
    pairs = toks_df.select(
        F.explode(
            F.when(
                F.size(w) >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.size(w) - 1),
                    lambda i: F.struct(
                        F.element_at(w, i.cast("int")).alias("a"),
                        F.element_at(w, (i + 1).cast("int")).alias("b"),
                    ),
                ),
            ).otherwise(F.array().cast(
                "array<struct<a:string,b:string>>"))
        ).alias("p")
    ).select("p.a", "p.b")
    pc = pairs.groupBy("a", "b").agg(F.count("*").alias("n_pair"))
    uni = toks_df.select(F.explode(w).alias("t")).groupBy("t").agg(
        F.count("*").alias("n"))
    tot_pairs = pc.agg(F.sum("n_pair").alias("tp"))
    tot_uni = uni.agg(F.sum("n").alias("tu"))
    ua = uni.select(F.col("t").alias("a"), F.col("n").alias("na"))
    ub = uni.select(F.col("t").alias("b"), F.col("n").alias("nb"))
    scored = (
        pc.where(F.col("n_pair") >= int(min_count))
        .join(F.broadcast(ua), "a")
        .join(F.broadcast(ub), "b")
        .crossJoin(F.broadcast(tot_pairs))
        .crossJoin(F.broadcast(tot_uni))
        .withColumn(
            # left-to-right double chain (never a bigint product — the
            # count triple would overflow int64 at corpus scale); the
            # oracle mirrors the exact op order so IEEE results match
            "__lift",
            F.col("n_pair").cast("double") * F.col("tu") / F.col("na")
            / F.col("nb") * F.col("tu") / F.col("tp"),
        )
    )
    return (
        scored.select(
            "a", "b", F.col("n_pair").cast("long").alias("n_pair"),
            (F.floor(F.col("__lift") * 1e4) / 1e4).alias("lift"),
        )
        .orderBy(F.desc("lift"), F.desc("n_pair"), "a", "b")
        .limit(int(top_k))
    )


def trigram_lm_score(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Corpus-trained character-trigram LM quality score — the
    KenLM-style perplexity filter of public data-curation pipelines
    (CCNet et al.), with the LM trained on the corpus itself so the
    operator is self-contained and SQL-expressible: each document's
    score is the mean ln((count3(g) + 1) / (count2(prefix2(g)) + V))
    over its character trigrams g, where the counts come from the whole
    corpus and V is the distinct-trigram vocabulary size (add-one
    smoothing). Lower = more surprising under the corpus LM.

    Scale shape: one explode to trigram rows (~n_chars per doc), two
    partial-aggregated counts whose results are VOCABULARY-sized (not
    corpus-sized) so Catalyst broadcasts them back, and one final
    per-doc aggregate — no Python anywhere.
    """
    # sequence(1, 0) runs DESCENDING in Spark, so docs shorter than 3
    # chars must produce an empty array, not a backwards range
    qtext = quote_ident(text_col)
    grams = df.select(
        F.col(id_col),
        F.explode(F.expr(
            f"CASE WHEN length({qtext}) >= 3 THEN "
            f"transform(sequence(1, length({qtext}) - 2), "
            f"i -> substring({qtext}, i, 3)) ELSE array() END"
        )).alias("g"),
    ).withColumn("b", F.expr("substring(g, 1, 2)"))
    c3 = grams.groupBy("g").agg(F.count("*").alias("c3"))
    c2 = grams.groupBy("b").agg(F.count("*").alias("c2"))
    vocab = c3.agg(F.count("*").alias("v"))
    return (
        grams.join(F.broadcast(c3), "g")
        .join(F.broadcast(c2), "b")
        .crossJoin(F.broadcast(vocab))
        .groupBy(id_col)
        .agg(
            F.round(F.avg(F.log((F.col("c3") + 1.0) / (F.col("c2") + F.col("v")))), 3)
            .alias("lm_score"),
            F.count("*").alias("n_grams"),
        )
    )


def canonicalize_url(col):
    """Crawl-pipeline URL canonicalization, all codegen string ops —
    the dedup key a 100 TB web corpus groups by before any content
    hashing (one scan, no shuffle; a groupBy on the result is the
    usual exact URL dedup).

    Rules (the common-crawl normalization core): scheme and host
    lowercase; leading ``www.`` stripped; scheme-default port (:80
    http, :443 https) stripped; fragment dropped; query params split
    on '&', tracking params (utm_*, fbclid=, gclid=) and empties
    removed, the rest sorted; trailing slashes stripped from the path.
    Case in path/params is preserved (paths are case-sensitive).
    """
    scheme = F.lower(F.regexp_extract(col, r"^([^:/?#]+)://", 1))
    hostport = F.lower(F.regexp_extract(col, r"^[^:/?#]+://([^/?#]*)", 1))
    host = F.regexp_replace(hostport, r"^www\.", "")
    host = (
        F.when(scheme == "http", F.regexp_replace(host, ":80$", ""))
        .when(scheme == "https", F.regexp_replace(host, ":443$", ""))
        .otherwise(host)
    )
    path = F.regexp_replace(
        F.regexp_extract(col, r"^[^:/?#]+://[^/?#]*([^?#]*)", 1), "/+$", "")
    qs = F.regexp_extract(col, r"\?([^#]*)", 1)
    params = F.filter(
        F.split(qs, "&"),
        lambda p: (p != "")
        & (F.substring(p, 1, 4) != "utm_")
        & (F.substring(p, 1, 7) != "fbclid=")
        & (F.substring(p, 1, 6) != "gclid="),
    )
    sorted_qs = F.array_join(F.array_sort(params), "&")
    return F.concat(
        scheme, F.lit("://"), host, path,
        F.when(sorted_qs != "", F.concat(F.lit("?"), sorted_qs)).otherwise(""),
    )


# HTML -> text extraction (the step between a WARC response scan and
# the `documents` table in C4/CCNet/RefinedWeb-style crawl curation).
# Pure Catalyst regexp/replace chain: one codegen pass, zero shuffles,
# zero Python — and every pattern is RE2-compatible (no backreferences,
# inline (?is) flags only) so the exact chain replays in the DuckDB
# oracle. Numeric character references (&#160; / &#x2019;) are a
# documented boundary: decoding them needs a per-match chr() transform
# (pandas-UDF tier), and real crawl text carries them rarely since the
# named core below covers the HTML-author vocabulary.

_HTML_DROP_TAGS = ("script", "style", "nav", "aside", "noscript",
                   "iframe", "svg", "select", "title")
_HTML_BLOCK_RE = (
    r"(?i)</?(p|div|br|hr|h[1-6]|li|ul|ol|dl|dt|dd|tr|table|th|td|"
    r"thead|tbody|caption|section|article|header|footer|main|figure|"
    r"figcaption|blockquote|pre|form|fieldset|title|head|body|html)\b[^>]*>"
)
_HTML_ENTITIES = [  # &amp; LAST so "&amp;lt;" decodes to "&lt;" not "<"
    ("&nbsp;", " "), ("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
    ("&#39;", "'"), ("&apos;", "'"), ("&ndash;", "–"),
    ("&mdash;", "—"), ("&hellip;", "…"), ("&copy;", "©"),
    ("&amp;", "&"),
]


def _decode_entities(t):
    for ent, rep in _HTML_ENTITIES:
        t = F.replace(t, F.lit(ent), F.lit(rep))
    return t


def html_title(col):
    """``<title>`` text, entity-decoded and trimmed ('' when absent)."""
    return F.trim(_decode_entities(
        F.regexp_extract(col, r"(?is)<title[^>]*>(.*?)</title", 1)))


def html_to_text(col):
    """HTML document -> extracted plain text, as one codegen expression.

    Pipeline (each step a regexp_replace/replace on the previous):
    drop content-free subtrees (script/style/nav/aside/noscript/iframe/
    svg/select) and comments entirely; turn block-level tags into
    newlines (paragraph structure survives for downstream line
    filters); strip remaining inline tags to spaces; decode the named
    core entities (&amp; last); collapse horizontal whitespace, trim
    around newlines, collapse blank-line runs; trim."""
    t = col
    for tag in _HTML_DROP_TAGS:
        t = F.regexp_replace(
            t, rf"(?is)<{tag}\b[^>]*>.*?</{tag}\s*>", " ")
    t = F.regexp_replace(t, r"(?s)<!--.*?-->", " ")
    t = F.regexp_replace(t, _HTML_BLOCK_RE, "\n")
    t = F.regexp_replace(t, r"(?s)<[^>]*>", " ")
    t = _decode_entities(t)
    t = F.regexp_replace(t, r"[ \t\r\f]+", " ")
    t = F.regexp_replace(t, r" ?\n ?", "\n")
    t = F.regexp_replace(t, r"\n\n+", "\n\n")
    # trim() strips only spaces; strip leading/trailing WS incl. newlines
    return F.regexp_replace(t, r"^\s+|\s+$", "")


def html_links(col):
    """Outbound link targets (href attribute values) as an array — the
    edge source for link-graph operators (ops/graph.py). One
    regexp_extract_all, RE2-safe, codegen."""
    return F.regexp_extract_all(
        col, F.lit("(?i)href\\s*=\\s*[\"']([^\"']+)[\"']"), 1)


def html_extract(df: DataFrame, html_col: str = "html") -> DataFrame:
    """Add ``title`` and ``text`` columns extracted from raw HTML —
    composes directly with a WARC response scan:
    ``html_extract(read_warc(...).select(decode(payload,'utf-8')))``."""
    return df.withColumn("title", html_title(F.col(html_col))).withColumn(
        "text", html_to_text(F.col(html_col)))


def line_dedup(df: DataFrame, id_col: str = "doc_id",
               text_col: str = "text", max_copies: int = 1,
               min_chars: int = 8) -> DataFrame:
    """Corpus-level duplicated-line removal — the RefinedWeb line-dedup
    / C4 boilerplate cut (Penedo et al. 2023 §3.3): split every
    document into lines, count exact (trimmed) line occurrences across
    the WHOLE corpus, drop every line that appears more than
    ``max_copies`` times, and reassemble the survivors in order.
    Lines shorter than ``min_chars`` after trimming (blank separators,
    bullets) are exempt from removal.

    Scale shape: one posexplode scan; the global line count is one
    aggregation on a 16-byte md5 key (map-side combined); the hot-line
    set (distinct lines over the cap — boilerplate, nav bars, cookie
    banners) anti-joins back on the same key (AQE picks broadcast when
    it fits); reassembly is one groupBy per document whose state is
    that document's own lines (collect_list + array_sort + array_join,
    all codegen). No Python anywhere.

    Returns (id_col, clean_text).
    """
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
    ).withColumn("h", F.md5(F.trim(F.col("line"))))
    hot = (
        lines.groupBy("h").agg(F.count("*").alias("n"))
        .where(F.col("n") > max_copies)
        .select("h")
    )
    kept = lines.join(
        hot.withColumnRenamed("h", "hot_h"),
        (F.col("h") == F.col("hot_h"))
        & (F.length(F.trim(F.col("line"))) >= min_chars),
        "left_anti",
    )
    assembled = (
        kept.groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "line"))),
                    lambda s: s.line,
                ),
                "\n",
            ).alias("clean_text")
        )
    )
    # documents whose every line was removed still come back (empty)
    return (
        df.select(id_col).join(assembled, id_col, "left")
        .select(id_col, F.coalesce("clean_text", F.lit("")).alias("clean_text"))
    )


def corpus_report(df: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", strata_col: str = "source",
                  lang_col: str = "lang") -> DataFrame:
    """Per-source corpus profile — the dataset-card numbers every
    curation run reports: document/token counts, average length,
    language spread, and the exact-duplicate rate (1 - distinct
    normalized texts / docs). ONE scan + one aggregation keyed by the
    stratum (every measure is an algebraic or sketchless distinct agg;
    the md5-distinct is per-stratum, map-side combined), so profiling
    100 TB costs the same shape as a groupBy count."""
    from drill_spark.ops.dedup import normalize_text, tokens

    return (
        df.groupBy(strata_col)
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.size(F.filter(tokens(F.col(text_col)),
                                  lambda t: t != ""))).alias("n_tokens"),
            F.round(F.avg(F.length(text_col)), 2).alias("avg_chars"),
            F.countDistinct(lang_col).alias("n_langs"),
            F.countDistinct(F.md5(normalize_text(F.col(text_col))))
            .alias("n_distinct"),
        )
        .select(
            strata_col, "n_docs", "n_tokens", "avg_chars", "n_langs",
            F.round(F.lit(1.0) - F.col("n_distinct").cast("double")
                    / F.col("n_docs"), 4).alias("dup_rate"),
        )
    )


def source_diversity(df: DataFrame, group_col: str = "source",
                     text_col: str = "text", n: int = 3) -> DataFrame:
    """Corpus-level n-gram diversity per source — the distinct-n
    signal (Li et al. 2016 "A Diversity-Promoting Objective") applied
    at the SOURCE level: a source whose documents keep re-emitting the
    same n-grams (mode-collapsed synthetic text, template farms,
    boilerplate mirrors) shows a low distinct/total ratio and a low
    singleton share even when every individual document passes the
    per-doc repetition gates (Gopher's table is within-doc; this is
    the across-doc complement).

    Returns (group, distinct_ngrams, total_ngrams, singleton_ngrams,
    distinct_ratio, singleton_ratio), ratios floored to 6 decimals.

    Scale shape: explode word n-grams hashed to fixed-width 16-hex
    keys (shuffle width independent of n), ONE (group, gram) partial
    aggregate, then a bounded per-group rollup. Counting distinct
    HASHES not strings is the documented contract (md5 collisions are
    negligible and the oracle reproduces the exact same keys). The
    gram array is lambda-bound (hofutil.bind_once), so no plan rewrite
    can inline the tokenizer into the per-position slice."""
    from drill_spark.ops.hofutil import bind_once

    w = F.filter(tokens(F.col(text_col)), lambda t: t != "")
    grams = bind_once(w, lambda wv: F.when(
        F.size(wv) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(wv) - (n - 1)),
            lambda i: F.substring(
                F.md5(F.concat_ws(" ", F.slice(wv, i, n))), 1, 16),
        ),
    ).otherwise(F.array().cast("array<string>")))
    counts = (
        df.select(F.col(group_col), F.explode(grams).alias("__g"))
        .groupBy(group_col, "__g")
        .agg(F.count("*").alias("__c"))
    )
    return (
        counts.groupBy(group_col)
        .agg(
            F.count("*").cast("long").alias("distinct_ngrams"),
            F.sum("__c").cast("long").alias("total_ngrams"),
            F.sum(F.when(F.col("__c") == 1, 1).otherwise(0))
            .cast("long").alias("singleton_ngrams"),
        )
        .select(
            group_col, "distinct_ngrams", "total_ngrams",
            "singleton_ngrams",
            (F.floor(F.col("distinct_ngrams").cast("double") * 1000000
                     / F.col("total_ngrams")) / 1000000)
            .alias("distinct_ratio"),
            (F.floor(F.col("singleton_ngrams").cast("double") * 1000000
                     / F.col("total_ngrams")) / 1000000)
            .alias("singleton_ratio"),
        )
    )


# Mojibake signature: a UTF-8 multi-byte sequence read as Latin-1
# shows a lead char U+00C2-U+00EF followed by continuation-range
# chars U+0080-U+00BF ('Ã¡' for 'a-acute', 'â‚¬'-style triples...).
# Regexes are built from codepoints so no raw control characters live
# in this source file.
_MOJ_PAIR_RE = "[" + chr(0xC2) + "-" + chr(0xEF) + "][" \
    + chr(0x80) + "-" + chr(0xBF) + "]"
# The Latin-1 byte image of the text is ENTIRELY valid UTF-8 — the
# precise repairability condition: every non-ASCII char participates
# in a well-formed double-encoded sequence, so
# decode(encode(t, latin1), utf8) cannot raise and cannot corrupt.
_DOUBLE_UTF8_RE = (
    "^(?:[" + chr(0x00) + "-" + chr(0x7F) + "]"
    + "|[" + chr(0xC2) + "-" + chr(0xDF) + "][" + chr(0x80) + "-" + chr(0xBF) + "]"
    + "|[" + chr(0xE0) + "-" + chr(0xEF) + "][" + chr(0x80) + "-" + chr(0xBF) + "]{2}"
    + "|[" + chr(0xF0) + "-" + chr(0xF4) + "][" + chr(0x80) + "-" + chr(0xBF) + "]{3}"
    + ")*$"
)
_CONTROL_RE = ("[" + chr(0x00) + "-" + chr(0x08) + chr(0x0B) + chr(0x0C)
               + chr(0x0E) + "-" + chr(0x1F) + "]")
_REPLACEMENT_CHAR = chr(0xFFFD)


def encoding_qa(df: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Encoding QA + mojibake repair — the ftfy-core operation every
    web-scale corpus needs: count replacement characters (U+FFFD,
    upstream decode already lost bytes), bare C0 control characters
    (binary contamination), and double-encoded UTF-8 signatures
    (UTF-8 bytes that were re-read as Latin-1: 'Ã¡', 'â€¦'...), and
    REPAIR the last class when it is provably safe.

    Repair = decode(encode(t, ISO-8859-1), UTF-8), applied ONLY when
    the text full-matches the valid-double-encoding grammar (every
    non-ASCII char part of a well-formed re-encoded sequence) — that
    guard makes the round-trip total: Spark 4's strict codecs cannot
    raise, genuine Latin-1/Unicode text (naïve, €) is never touched,
    and MIXED rows (real € next to mojibake) are flagged but left
    alone rather than half-corrupted. Scope is the ISO-8859-1
    round-trip; the cp1252 variant (0x80-0x9F remapped to curly
    quotes etc.) is a documented non-goal.

    Zero shuffles; one codegen pass. Returns (id, n_mojibake,
    n_replacement, n_control, repaired, fixed_text)."""
    t = F.col(text_col)
    n_moj = F.size(F.regexp_extract_all(t, F.lit(_MOJ_PAIR_RE), 0))
    repairable = (n_moj > 0) & t.rlike(_DOUBLE_UTF8_RE)
    return df.select(
        F.col(id_col),
        n_moj.cast("long").alias("n_mojibake"),
        F.size(F.regexp_extract_all(t, F.lit(_REPLACEMENT_CHAR), 0))
        .cast("long").alias("n_replacement"),
        F.size(F.regexp_extract_all(t, F.lit(_CONTROL_RE), 0))
        .cast("long").alias("n_control"),
        repairable.alias("repaired"),
        F.when(repairable,
               F.decode(F.encode(t, "ISO-8859-1"), "UTF-8"))
        .otherwise(t).alias("fixed_text"),
    )


# Vowel-group runs stand in for syllables (the classic heuristic —
# exact syllabification needs a dictionary); a word with no vowel
# group still counts one syllable, per the standard implementation.
_VOWEL_RUN_RE = "[aeiouy]+"
_SENTENCE_RE = "[.!?]+"


def readability(df: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Flesch reading-ease + Flesch-Kincaid grade per document
    (Kincaid et al. 1975) — the fluency gate education-quality filters
    use alongside the stopword/punctuation heuristics.

    Counting is exact and engine-portable: words = nonempty
    whitespace tokens; sentences = max(1, terminal-punctuation runs);
    syllables = vowel-group runs over the whole lowercased text (a
    run never spans whitespace, so the text-level count equals the
    per-word sum) plus one per vowel-less word (the max(1, .) clause
    of the classic heuristic). The two scores are fixed-shape double
    expressions of those integers — identical IEEE results in any
    engine — floored to 4 decimals; NULL when a document has no
    words. Zero shuffles; one codegen pass."""
    lw = F.lower(F.col(text_col))
    words = F.filter(F.split(F.trim(lw), r"\s+"), lambda t: t != "")
    n_w = F.size(words).cast("long")
    n_s = F.greatest(
        F.size(F.regexp_extract_all(F.col(text_col),
                                    F.lit(_SENTENCE_RE), 0)),
        F.lit(1),
    ).cast("long")
    n_y = (
        F.size(F.regexp_extract_all(lw, F.lit(_VOWEL_RUN_RE), 0))
        + F.size(F.filter(words, lambda t: ~t.rlike(_VOWEL_RUN_RE)))
    ).cast("long")
    wps = n_w.cast("double") / n_s
    ypw = n_y.cast("double") / n_w
    ease = F.lit(206.835) - F.lit(1.015) * wps - F.lit(84.6) * ypw
    grade = F.lit(0.39) * wps + F.lit(11.8) * ypw - F.lit(15.59)
    return df.select(
        F.col(id_col),
        n_w.alias("n_words"),
        n_s.alias("n_sentences"),
        n_y.alias("n_syllables"),
        F.when(n_w > 0, F.floor(ease * 10000) / 10000)
        .alias("reading_ease"),
        F.when(n_w > 0, F.floor(grade * 10000) / 10000)
        .alias("fk_grade"),
    )


# Terminal punctuation accepted by the C4 line rule (Raffel et al. 2020
# §2.2: period, exclamation mark, question mark, end quotation mark).
_C4_TERMINAL_RE = r'[.!?"]$'


def c4_clean(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words_per_line: int = 5,
    min_sentences: int = 3,
    badwords: tuple[str, ...] = (),
) -> DataFrame:
    """The C4 heuristic cleaning recipe (Raffel et al. 2020 §2.2) as one
    codegen pass — the published rule set behind the C4 corpus:

    * keep only lines that end in terminal punctuation, have at least
      ``min_words_per_line`` whitespace words, and do not mention
      ``javascript`` (case-insensitive);
    * drop whole pages with fewer than ``min_sentences`` sentences (we
      count terminal punctuation marks in the retained lines), pages
      containing ``lorem ipsum``, a curly brace ``{``, or any word from
      ``badwords`` (the paper's blocklist; parameterized here).

    Emits the per-page signals and the cleaned text so downstream
    stages can filter on ``keep`` or re-score. Scale shape: lines and
    words are per-row array HOFs bounded by document length — ZERO
    shuffles; at 100 TB this is exactly one scan of the text column.
    """
    t = F.col(text_col)
    lines = F.transform(F.split(t, "\n"), F.trim)
    kept = F.filter(
        lines,
        lambda l: l.rlike(_C4_TERMINAL_RE)
        & (F.size(F.split(l, r"\s+")) >= min_words_per_line)
        & ~F.lower(l).contains("javascript"),
    )
    cleaned = F.array_join(kept, "\n")
    low_words = F.split(F.trim(F.lower(t)), r"\s+")
    has_bad = (
        F.arrays_overlap(low_words, F.array(*[F.lit(b) for b in badwords]))
        if badwords
        else F.lit(False)
    )
    out = df.select(
        F.col(id_col),
        F.size(lines).cast("long").alias("n_lines"),
        F.size(kept).cast("long").alias("n_kept_lines"),
        F.regexp_count(cleaned, F.lit(r"[.!?]")).cast("long").alias("n_sentences"),
        F.lower(t).contains("lorem ipsum").alias("has_lorem"),
        t.contains("{").alias("has_brace"),
        has_bad.alias("has_badword"),
        cleaned.alias("cleaned"),
    )
    return out.withColumn(
        "keep",
        (F.col("n_sentences") >= min_sentences)
        & ~F.col("has_lorem") & ~F.col("has_brace") & ~F.col("has_badword"),
    )


# The Gopher "required stop words" (Rae et al. 2021 appendix A1.1).
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_quality(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """The Gopher document-quality rule set (Rae et al. 2021 appendix
    A1.1) as per-row Catalyst HOFs — the other canonical published
    pretraining filter next to C4:

    * 50 ≤ word count ≤ 100,000;  3 ≤ mean word length ≤ 10;
    * symbol-to-word ratio (``#`` or ``...``) < 0.1;
    * < 90% of lines start with a bullet; < 30% end with an ellipsis;
    * ≥ 80% of words contain at least one alphabetic character;
    * at least 2 distinct required stop words present.

    Emits each signal (rounded to 4dp so the keep verdict is computed
    from engine-portable values) plus the composite ``keep``. All
    per-row work is bounded by document length: one scan, no shuffle.
    """
    t = F.col(text_col)
    w = F.split(F.trim(F.lower(t)), r"\s+")
    n_words = F.size(w).cast("long")
    mean_wl = F.round(
        F.aggregate(w, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x))
        / F.greatest(n_words, F.lit(1)),
        4,
    )
    symbol_ratio = F.round(
        (F.regexp_count(t, F.lit("#")) + F.regexp_count(t, F.lit(r"\.\.\.")))
        / F.greatest(n_words, F.lit(1)),
        4,
    )
    lines = F.transform(F.split(t, "\n"), F.trim)
    n_lines = F.greatest(F.size(lines), F.lit(1))
    bullet_frac = F.round(
        F.size(F.filter(lines, lambda l: l.rlike(r"^[-*•]"))) / n_lines, 4
    )
    ellipsis_frac = F.round(
        F.size(F.filter(lines, lambda l: l.endswith("..."))) / n_lines, 4
    )
    alpha_frac = F.round(
        F.size(F.filter(w, lambda x: x.rlike("[a-z]")))
        / F.greatest(n_words, F.lit(1)),
        4,
    )
    stop_hits = F.size(
        F.array_intersect(w, F.array(*[F.lit(s) for s in GOPHER_STOPWORDS]))
    ).cast("long")
    out = df.select(
        F.col(id_col),
        n_words.alias("n_words"),
        mean_wl.alias("mean_word_len"),
        symbol_ratio.alias("symbol_ratio"),
        bullet_frac.alias("bullet_frac"),
        ellipsis_frac.alias("ellipsis_frac"),
        alpha_frac.alias("alpha_frac"),
        stop_hits.alias("stop_hits"),
    )
    return out.withColumn(
        "keep",
        F.col("n_words").between(50, 100000)
        & F.col("mean_word_len").between(3, 10)
        & (F.col("symbol_ratio") < 0.1)
        & (F.col("bullet_frac") < 0.9)
        & (F.col("ellipsis_frac") < 0.3)
        & (F.col("alpha_frac") > 0.8)
        & (F.col("stop_hits") >= 2),
    )


# Unicode scripts profiled by script_profile. Java regex (Spark) takes
# \p{IsLatin}; RE2 (the DuckDB oracle) spells the same class \p{Latin}.
_SCRIPTS = ("latin", "cyrillic", "han", "arabic", "greek", "hangul")


def script_profile(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document Unicode script histogram + dominant script — the
    language-coverage profile a multilingual corpus card reports (and
    the cheap pre-filter before any trained language ID): counts of
    Latin / Cyrillic / Han / Arabic / Greek / Hangul code points plus
    digits, and the argmax script ('none' when no scripted letters).

    Pure codegen regexp_count per row — one scan, zero shuffles; a
    corpus-level rollup is one algebraic groupBy away.
    """
    t = F.col(text_col)
    counts = {
        s: F.regexp_count(t, F.lit(rf"\p{{Is{s.capitalize()}}}")).cast("long")
        for s in _SCRIPTS
    }
    cols = [counts[s].alias(f"n_{s}") for s in _SCRIPTS]
    cols.append(F.regexp_count(t, F.lit("[0-9]")).cast("long").alias("n_digit"))
    out = df.select(F.col(id_col), F.length(t).cast("long").alias("n_chars"), *cols)
    best = F.greatest(*[F.col(f"n_{s}") for s in _SCRIPTS])
    dom = F.lit("none")
    for s in reversed(_SCRIPTS):  # earlier scripts win ties
        dom = F.when((F.col(f"n_{s}") == best) & (best > 0), s).otherwise(dom)
    return out.withColumn("dominant", dom)


def url_domain(col):
    """Registered domain from a canonical URL: the last two host labels
    (naive eTLD — a real pipeline swaps in the Public Suffix List; the
    operator shape is identical). Codegen string ops only."""
    host = F.regexp_extract(col, r"^[a-z]+://([^/:?#]*)", 1)
    labels = F.split(host, r"\.")
    return F.when(
        F.size(labels) >= 2,
        F.concat_ws(".", F.element_at(labels, -2), F.element_at(labels, -1)),
    ).otherwise(host)


def domain_stats(
    df: DataFrame,
    text_col: str = "text",
    url_col: str = "url",
    blocklist: tuple[str, ...] = (),
) -> DataFrame:
    """Per-domain crawl rollup — the curation view a web corpus is
    steered by (domain mixing, spam-domain cuts): canonicalize each
    URL, reduce to the registered domain, and aggregate docs, tokens
    and distinct hosts per domain, flagging ``blocklist`` members.

    Scale shape: one scan + ONE algebraic aggregation keyed by domain
    (map-side combined, so a hot spam domain costs one combiner row per
    task, not a skewed shuffle of raw pages); the blocklist gate is a
    codegen literal-set test. Blocked-domain *filtering* of the corpus
    itself is then a pushdown-friendly semi-join or the same literal
    ``isin`` filter."""
    canon = canonicalize_url(F.col(url_col))
    host = F.regexp_extract(canon, r"^[a-z]+://([^/:?#]*)", 1)
    d = df.select(
        url_domain(canon).alias("domain"),
        host.alias("__host"),
        token_count(F.col(text_col)).alias("__toks"),
    )
    agg = d.groupBy("domain").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("__toks").alias("n_tokens"),
        F.count_distinct("__host").alias("n_hosts"),
    )
    blocked = (
        F.col("domain").isin(*blocklist) if blocklist else F.lit(False)
    )
    return agg.withColumn("blocked", blocked)


def normalize_unicode(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text",
                      form: str = "NFC") -> DataFrame:
    """Unicode normalization (NFC/NFD/NFKC/NFKD) — the first stage of
    any multilingual text pipeline: combining sequences collapse to
    canonical composites so dedup hashes, tokenizers, and equality
    joins see one byte form per grapheme. Spark has no built-in
    normalizer; this is an Arrow-batched pandas pass (the kernel IS
    the work), one scan, no shuffle. Returns (id, normalized, changed);
    ``changed`` marks rows the normalization actually rewrote (the
    audit/monitoring column — at 100 TB you alert on its rate, not
    diff the text).

    NFC parity with DuckDB's ``nfc_normalize`` is oracle-checked in
    ext_text_nfc; compatibility forms (NFKC/NFKD) are pytest-bound.
    """
    import unicodedata

    if form not in ("NFC", "NFD", "NFKC", "NFKD"):
        raise ValueError(f"unknown normalization form: {form}")

    @F.pandas_udf("string")
    def _norm(s: pd.Series) -> pd.Series:
        return s.map(
            lambda t: unicodedata.normalize(form, t) if t is not None else None)

    out = _norm(F.col(text_col))
    return df.select(
        F.col(id_col),
        out.alias("normalized"),
        (out != F.col(text_col)).alias("changed"),
    )
