"""Published pretraining quality filters (ops/text.py): the C4
cleaning recipe (Raffel et al. 2020 §2.2) and the Gopher rule set
(Rae et al. 2021 A1.1) — semantics on constructed pages + the
zero-shuffle scale contract. The corpus-scale oracle compare runs in
test_extops.py via the ORACLES parametrization."""

from __future__ import annotations

from drill_spark.ops.text import c4_clean, gopher_quality
from drill_spark.plans.checks import explain_report
from drill_spark.session import local_frame


def _df(spark, rows):
    return local_frame(spark, rows, "id bigint, text string")


def test_c4_line_rules(spark):
    page = "\n".join(
        [
            "This page has five good words here.",  # kept
            "Too short.",  # < 5 words -> dropped
            "no terminal punctuation on this line at all",  # dropped
            "Please enable JavaScript to continue viewing now.",  # dropped
            'He said "stop right there and wait!"',  # ends with quote -> kept
            "A third full sentence closes the page?",  # kept
        ]
    )
    row = c4_clean(_df(spark, [(1, page)]), "id").collect()[0]
    assert row["n_lines"] == 6
    assert row["n_kept_lines"] == 3
    assert row["cleaned"].splitlines() == [
        "This page has five good words here.",
        'He said "stop right there and wait!"',
        "A third full sentence closes the page?",
    ]
    # sentences counted in the retained text: . ! ? (one each)
    assert row["n_sentences"] == 3
    assert row["keep"] is True


def test_c4_page_poisons(spark):
    good = "\n".join(
        f"Sentence number {i} fills the page body." for i in range(4)
    )
    rows = {
        r["id"]: r
        for r in c4_clean(
            _df(
                spark,
                [
                    (1, good),
                    (2, good + "\nSome Lorem Ipsum boilerplate text here."),
                    (3, good + "\nfunction f() { return 1; }"),
                    (4, good + "\nThis line carries contraband cargo now."),
                    (5, "Only one sentence lives here today."),
                ],
            ),
            "id",
            badwords=("contraband",),
        ).collect()
    }
    assert rows[1]["keep"] is True
    assert rows[2]["has_lorem"] is True and rows[2]["keep"] is False
    assert rows[3]["has_brace"] is True and rows[3]["keep"] is False
    assert rows[4]["has_badword"] is True and rows[4]["keep"] is False
    # fewer than 3 sentences after line filtering -> page dropped
    assert rows[5]["n_sentences"] == 1 and rows[5]["keep"] is False


def test_gopher_rules(spark):
    passing = (
        "the data and the model have to be of good size and that "
        "holds with margin " + "word " * 40
    ).strip()
    rows = {
        r["id"]: r
        for r in gopher_quality(
            _df(
                spark,
                [
                    (1, passing),
                    (2, "tiny doc with the and of that"),  # < 50 words
                    (3, " ".join(["#tag"] * 60)),  # symbols + no stopwords
                    (4, "\n".join(["- bullet item one two"] * 10)),
                    (5, " ".join(["12345"] * 60)),  # non-alphabetic words
                ],
            ),
            "id",
        ).collect()
    }
    r1 = rows[1]
    assert r1["keep"] is True
    assert r1["n_words"] >= 50 and r1["stop_hits"] >= 2
    assert 3 <= r1["mean_word_len"] <= 10
    assert rows[2]["keep"] is False  # word count
    assert rows[3]["symbol_ratio"] >= 0.1 and rows[3]["keep"] is False
    assert rows[4]["bullet_frac"] == 1.0 and rows[4]["keep"] is False
    assert rows[5]["alpha_frac"] == 0.0 and rows[5]["keep"] is False


def test_filters_are_single_pass(spark):
    """Both filters are per-row codegen: zero shuffles, zero Python."""
    df = _df(spark, [(i, f"Body text number {i} ends well.") for i in range(20)])
    for op in (lambda d: c4_clean(d, "id"), lambda d: gopher_quality(d, "id")):
        rep = explain_report(op(df))
        assert rep["shuffles"] == 0, rep
        assert not rep["python_eval"], rep


def test_script_profile_counts_and_dominant(spark):
    from drill_spark.ops.text import script_profile

    rows = {
        r["id"]: r
        for r in script_profile(
            _df(
                spark,
                [
                    (1, "hello world 42"),
                    (2, "привет мир"),
                    (3, "你好世界 hello"),  # 5 latin > 4 han
                    (4, "42 -- !!"),  # digits only, no script
                ],
            ),
            "id",
        ).collect()
    }
    assert rows[1]["n_latin"] == 10 and rows[1]["n_digit"] == 2
    assert rows[1]["dominant"] == "latin"
    assert rows[2]["n_cyrillic"] == 9 and rows[2]["dominant"] == "cyrillic"
    assert rows[3]["n_han"] == 4 and rows[3]["n_latin"] == 5
    assert rows[3]["dominant"] == "latin"
    assert rows[4]["dominant"] == "none"


def test_script_profile_tie_prefers_earlier_script(spark):
    from drill_spark.ops.text import script_profile

    row = script_profile(_df(spark, [(1, "ab мп")]), "id").collect()[0]
    assert row["n_latin"] == row["n_cyrillic"] == 2
    assert row["dominant"] == "latin"


def test_domain_stats_rollup_and_blocklist(spark):
    from drill_spark.ops.text import domain_stats

    df = spark.createDataFrame(
        [
            ("one two three", "HTTPS://WWW.A.Example.COM/x?utm_source=f"),
            ("four five", "https://b.example.com/y/"),
            ("six", "https://ads.tracker.io:443/z#frag"),
        ],
        "text string, url string",
    )
    got = {
        r["domain"]: r
        for r in domain_stats(df, blocklist=("tracker.io",)).collect()
    }
    ex = got["example.com"]
    assert (ex["n_docs"], ex["n_tokens"], ex["n_hosts"]) == (2, 5, 2)
    assert ex["blocked"] is False
    tr = got["tracker.io"]
    assert (tr["n_docs"], tr["n_tokens"], tr["n_hosts"]) == (1, 1, 1)
    assert tr["blocked"] is True


def test_normalize_unicode_forms(spark):
    from drill_spark.ops.text import normalize_unicode

    rows = [
        (1, "café"),          # NFC -> café (precomposed)
        (2, "café"),           # already NFC
        (3, "ﬁle"),            # fi ligature: NFKC folds, NFC keeps
        (4, None),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    nfc = {r["doc_id"]: r for r in
           normalize_unicode(df, "doc_id", "text", "NFC").collect()}
    assert nfc[1]["normalized"] == "café" and nfc[1]["changed"]
    assert nfc[2]["normalized"] == "café" and not nfc[2]["changed"]
    assert nfc[3]["normalized"] == "ﬁle" and not nfc[3]["changed"]
    assert nfc[4]["normalized"] is None
    nfkc = {r["doc_id"]: r for r in
            normalize_unicode(df, "doc_id", "text", "NFKC").collect()}
    assert nfkc[3]["normalized"] == "file" and nfkc[3]["changed"]
    try:
        normalize_unicode(df, "doc_id", "text", "BOGUS")
        assert False, "expected ValueError"
    except ValueError:
        pass


def test_html_to_text_extraction(spark):
    from pyspark.sql import functions as F

    from drill_spark.ops.text import html_extract

    html = (
        '<html><head><title>T &amp; U</title>'
        "<style>body{font:12px}</style>"
        '<script>var s = "<p>fake</p>";</script></head>'
        "<body><!-- comment --><nav><li>Home</li></nav>"
        "<h1>Head</h1><p>First  para.</p>\n<p>Second &lt;p&gt; para.</p>"
        "<span>inline</span> tail</body></html>"
    )
    df = spark.createDataFrame([(1, html)], "doc_id long, html string")
    row = html_extract(df).first()
    assert row["title"] == "T & U"
    # script/style/nav/comment gone; block boundaries become line (or
    # blank-line) breaks; entities decode; inline tags melt into spaces
    assert row["text"] == ("Head\n\nFirst para.\n\n"
                           "Second <p> para.\ninline tail")


def test_html_entity_decode_order(spark):
    from pyspark.sql import functions as F

    from drill_spark.ops.text import html_to_text

    # "&amp;lt;" must decode to the literal text "&lt;", never to "<"
    df = spark.createDataFrame([("x &amp;lt; y",)], "html string")
    assert df.select(html_to_text(F.col("html")).alias("t")
                     ).first()["t"] == "x &lt; y"


def test_html_no_title_and_plain_text(spark):
    from pyspark.sql import functions as F

    from drill_spark.ops.text import html_title, html_to_text

    df = spark.createDataFrame([("no markup at all",)], "html string")
    r = df.select(html_title(F.col("html")).alias("ti"),
                  html_to_text(F.col("html")).alias("tx")).first()
    assert r["ti"] == "" and r["tx"] == "no markup at all"


def test_html_extract_composes_with_warc(spark, tmp_path):
    from pyspark.sql import functions as F

    from drill_spark.ops.text import html_extract
    from drill_spark.readers.warc import read_warc, write_warc

    pages = spark.createDataFrame(
        [(f"https://ex.org/{i}",
          f"<html><title>p{i}</title><body><p>body {i}</p></body></html>")
         for i in range(5)],
        "target_uri string, text string",
    )
    d = str(tmp_path / "crawl")
    write_warc(pages, d)
    docs = html_extract(
        read_warc(spark, d)
        .filter(F.col("warc_type") == "response")
        .select("target_uri", F.decode("payload", "utf-8").alias("html")))
    got = {r["target_uri"]: (r["title"], r["text"]) for r in docs.collect()}
    assert got == {f"https://ex.org/{i}": (f"p{i}", f"body {i}")
                   for i in range(5)}


def test_parse_robots_group_selection_and_rules(spark):
    from drill_spark.ops.crawlpolicy import parse_robots

    text = (
        "# comment\n"
        "User-agent: smartbot\n"
        "Disallow: /smart-only/\n"
        "\n"
        "User-agent: a\n"
        "User-agent: b\n"
        "Disallow: /ab/\n"
        "Allow: /ab/ok\n"
        "\n"
        "User-agent: *\n"
        "Disallow: /everyone/\n"
        "Disallow:\n"          # empty Disallow = allow-all, no rule
        "Crawl-delay: 10\n"    # not a path rule
    )
    df = spark.createDataFrame([("x.example", text)],
                               "domain string, robots string")
    star = {(r.prefix, r.allow)
            for r in parse_robots(df, "robots", "domain").collect()}
    assert star == {("/everyone/", False)}
    b = {(r.prefix, r.allow)
         for r in parse_robots(df, "robots", "domain", agent="B").collect()}
    assert b == {("/ab/", False), ("/ab/ok", True)}
    smart = {(r.prefix, r.allow) for r in parse_robots(
        df, "robots", "domain", agent="smartbot").collect()}
    assert smart == {("/smart-only/", False)}


def test_robots_filter_precedence_wildcards_and_defaults(spark):
    from drill_spark.ops.crawlpolicy import robots_filter

    rules = spark.createDataFrame(
        [("a.example", "/private/", False),
         ("a.example", "/private/ok", True),
         ("a.example", "/*.pdf$", False),
         ("a.example", "/a_b/", False)],
        "domain string, prefix string, allow boolean")
    urls = spark.createDataFrame(
        [("https://a.example/private/x",),
         ("https://a.example/private/ok/y",),
         ("https://a.example/d/f.pdf",),
         ("https://a.example/d/f.pdfz",),   # $ anchor must NOT match
         ("https://a.example/a_b/z",),
         ("https://a.example/aXb/z",),      # _ must be LITERAL
         ("https://a.example/",),
         ("https://nobody.example/q",)],
        "url string")
    got = {r.url: (r.allowed, r.matched_rule)
           for r in robots_filter(urls, rules).collect()}
    assert got["https://a.example/private/x"] == (False, "/private/")
    assert got["https://a.example/private/ok/y"] == (True, "/private/ok")
    assert got["https://a.example/d/f.pdf"] == (False, "/*.pdf$")
    assert got["https://a.example/d/f.pdfz"] == (True, None)
    assert got["https://a.example/a_b/z"] == (False, "/a_b/")
    assert got["https://a.example/aXb/z"] == (True, None)
    assert got["https://a.example/"] == (True, None)
    assert got["https://nobody.example/q"] == (True, None)


def test_robots_filter_keeps_duplicate_urls(spark):
    """Duplicate input URLs (normal in multi-capture crawl data) must
    each keep their own row — output cardinality == input cardinality,
    distinct non-URL columns preserved."""
    from drill_spark.ops.crawlpolicy import robots_filter

    rules = spark.createDataFrame(
        [("a.example", "/private/", False)],
        "domain string, prefix string, allow boolean")
    urls = spark.createDataFrame(
        [("https://a.example/private/x", "cap1"),
         ("https://a.example/private/x", "cap2"),
         ("https://a.example/ok", "cap3")],
        "url string, capture string")
    rows = robots_filter(urls, rules).collect()
    assert len(rows) == 3
    assert sorted(r.capture for r in rows) == ["cap1", "cap2", "cap3"]
    by_cap = {r.capture: r.allowed for r in rows}
    assert by_cap == {"cap1": False, "cap2": False, "cap3": True}


def test_readability_hand_computed(spark):
    from drill_spark.ops.text import readability

    # "the cat sat. a dry gym!" -> words 6, sentences 2,
    # syllables: vowel runs the(1) cat(1) sat(1) a(1) dry(1: 'y')
    # gym(1: 'y') = 6; no vowel-less words
    df = spark.createDataFrame(
        [(1, "the cat sat. a dry gym!"),
         (2, ""),                      # wordless -> NULL scores
         (3, "zzz shh."),              # two vowel-less words -> 2 syl
         (4, "no terminal punctuation here")],
        "doc_id int, text string")
    rows = {r["doc_id"]: r for r in readability(df).collect()}
    r1 = rows[1]
    assert (r1["n_words"], r1["n_sentences"], r1["n_syllables"]) == (6, 2, 6)
    import math
    wps, ypw = 6 / 2, 6 / 6
    assert r1["reading_ease"] == math.floor(
        (206.835 - 1.015 * wps - 84.6 * ypw) * 10000) / 10000
    assert r1["fk_grade"] == math.floor(
        (0.39 * wps + 11.8 * ypw - 15.59) * 10000) / 10000
    assert rows[2]["reading_ease"] is None and rows[2]["fk_grade"] is None
    assert rows[3]["n_syllables"] == 2          # max(1,.) per word
    assert rows[4]["n_sentences"] == 1          # clamped to 1


def test_source_diversity_detects_collapse(spark):
    from drill_spark.ops.text import source_diversity

    # 'fresh' emits all-distinct trigrams; 'loop' repeats one document
    # verbatim — its across-doc diversity collapses even though each
    # individual doc is internally non-repetitive
    fresh = [(i, "fresh", f"alpha{i} beta{i} gamma{i} delta{i} eps{i}")
             for i in range(10)]
    loop = [(100 + i, "loop", "alpha beta gamma delta epsilon")
            for i in range(10)]
    df = spark.createDataFrame(fresh + loop,
                               "doc_id int, source string, text string")
    got = {r["source"]: r for r in source_diversity(df, "source").collect()}
    assert got["fresh"]["distinct_ratio"] == 1.0
    assert got["fresh"]["singleton_ratio"] == 1.0
    assert got["loop"]["distinct_ngrams"] == 3      # one doc's trigrams
    assert got["loop"]["total_ngrams"] == 30
    assert got["loop"]["distinct_ratio"] == 0.1
    assert got["loop"]["singleton_ngrams"] == 0
    # short docs (< n words) contribute nothing, not an error
    tiny = spark.createDataFrame([(1, "s", "one two")],
                                 "doc_id int, source string, text string")
    assert source_diversity(tiny, "source").collect() == []


def test_token_fertility_invariants(spark):
    from drill_spark.ops.bpe import token_fertility

    df = spark.createDataFrame(
        [(1, "a", "the river rose over the old stone bridge"),
         (2, "a", "water keeps falling on the quiet street"),
         (3, "b", "zz qq xx"),
         (4, "c", "")],
        "doc_id int, grp string, text string")
    got = {r["grp"]: r for r in token_fertility(df, "grp").collect()}
    # fertility >= 1: every word is at least one token under any vocab
    for g in ("a", "b"):
        assert got[g]["fertility"] >= 1.0, g
        assert got[g]["n_tokens"] >= got[g]["n_words"]
        assert got[g]["bytes_per_token"] > 0
    # empty-text group: zero denominators -> NULL ratios, zero sums
    assert got["c"]["n_words"] == 0 and got["c"]["n_tokens"] == 0
    assert got["c"]["fertility"] is None
    assert got["c"]["bytes_per_token"] is None


def test_encoding_qa_repair_and_guards(spark):
    from drill_spark.ops.text import encoding_qa

    euro_moj = chr(0xE2) + chr(0x82) + chr(0xAC)   # 3-byte euro as latin1
    rows = [
        (1, "th" + chr(0xC3) + chr(0xA1) + "t c" + chr(0xC3) + chr(0xA1) + "t"),
        (2, "plain ascii"),
        (3, "na" + chr(0xEF) + "ve already fine"),      # genuine latin1
        (4, "price " + euro_moj + "5 total"),           # 3-byte mojibake
        (5, "mixed " + chr(0xC3) + chr(0xA9) + " and real " + chr(0x20AC)),
        (6, "lost " + chr(0xFFFD) + " bytes" + chr(0x07)),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {r["doc_id"]: r for r in encoding_qa(df).collect()}

    assert got[1]["repaired"] and got[1]["fixed_text"] == \
        "th" + chr(0xE1) + "t c" + chr(0xE1) + "t"
    assert got[1]["n_mojibake"] == 2
    assert not got[2]["repaired"] and got[2]["fixed_text"] == rows[1][1]
    # genuine latin1 'naive': no continuation char after the i-trema
    assert not got[3]["repaired"] and got[3]["fixed_text"] == rows[2][1]
    # 3-byte sequence repairs to the euro sign
    assert got[4]["repaired"]
    assert got[4]["fixed_text"] == "price " + chr(0x20AC) + "5 total"
    # mixed genuine unicode + mojibake: flagged, NOT half-corrupted
    assert got[5]["n_mojibake"] == 1 and not got[5]["repaired"]
    assert got[5]["fixed_text"] == rows[4][1]
    # replacement + control counting
    assert got[6]["n_replacement"] == 1 and got[6]["n_control"] == 1
    assert not got[6]["repaired"]
