"""Tests for ops/search.py (BM25 + tf-idf), ops/fuzzy.py (blocked
fuzzy join), ops/pipeline.group_split, and ops/text.canonicalize_url.

The oracle-backed driver queries cover engine parity; these tests pin
the operator semantics themselves: hand-computed BM25 scores, postings
reuse, brute-force fuzzy-join equality, hot-token pruning, group
integrity of the split, and URL normalization edge cases.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from drill_spark.ops.fuzzy import fuzzy_join
from drill_spark.ops.pipeline import group_split
from drill_spark.ops.search import bm25_topk, build_postings, tfidf_keywords
from drill_spark.ops.text import canonicalize_url


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (0, "spark shuffle join spark"),
        (1, "hash join probe build"),
        (2, "spark spark spark spark spark"),
        (3, "window frame sort"),
        (4, "join"),
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def _bm25_expected(corpus_rows, terms, k1=1.2, b=0.75):
    docs = {i: t.split() for i, t in corpus_rows}
    n = len(docs)
    avgdl = sum(len(v) for v in docs.values()) / n
    dfreq = {
        t: sum(1 for v in docs.values() if t in v) for t in terms
    }
    out = {}
    for i, toks in docs.items():
        s = 0.0
        for t in terms:
            tf = toks.count(t)
            if tf == 0 or dfreq[t] == 0:
                continue
            idf = math.log(1.0 + (n - dfreq[t] + 0.5) / (dfreq[t] + 0.5))
            s += idf * (tf * (k1 + 1) / (tf + k1 * (1 - b + b * len(toks) / avgdl)))
        if s > 0:
            out[i] = round(s, 6)
    return out


def test_bm25_scores_match_hand_formula(corpus):
    rows = [(0, "spark shuffle join spark"), (1, "hash join probe build"),
            (2, "spark spark spark spark spark"), (3, "window frame sort"),
            (4, "join")]
    expected = _bm25_expected(rows, ["spark", "join"])
    got = {r.doc_id: r.score
           for r in bm25_topk(corpus, ["spark", "join"], k=10).collect()}
    assert got == pytest.approx(expected)


def test_bm25_prebuilt_postings_equal_inline(corpus):
    post = build_postings(corpus)
    inline = bm25_topk(corpus, ["spark", "join"], k=5).collect()
    reused = bm25_topk(corpus, ["spark", "join"], k=5, postings=post).collect()
    assert [tuple(r) for r in inline] == [tuple(r) for r in reused]


def test_bm25_k_cut_and_order(corpus):
    top = bm25_topk(corpus, ["join"], k=2).collect()
    assert len(top) == 2
    assert top[0].score >= top[1].score
    with pytest.raises(ValueError):
        bm25_topk(corpus, ["   "])


def test_tfidf_keywords_rank_and_bound(corpus):
    kws = tfidf_keywords(corpus, top_n=2).collect()
    per_doc = {}
    for r in kws:
        per_doc.setdefault(r.doc_id, []).append(r)
    assert set(per_doc) == {0, 1, 2, 3, 4}
    for rows in per_doc.values():
        assert len(rows) <= 2
        rows.sort(key=lambda r: r.kw_rank)
        scores = [r.tfidf for r in rows]
        assert scores == sorted(scores, reverse=True)
    # doc 2 is pure "spark": its single keyword is spark
    assert per_doc[2][0].term == "spark"
    assert len(per_doc[2]) == 1


# ---------------------------------------------------------------- fuzzy


@pytest.fixture(scope="module")
def names(spark):
    left = spark.createDataFrame(
        [(1, "small ring"), (2, "blue bolt"), (3, "hot gear"),
         (4, "blue belt"), (5, "red plate")],
        "lid bigint, lname string")
    right = spark.createDataFrame(
        [(10, "small rinx"), (11, "blue bolt"), (12, "cold gear"),
         (13, "green plate xxl")],
        "rid bigint, rname string")
    return left, right


def test_fuzzy_join_equals_brute_force(spark, names):
    left, right = names
    got = {(r.lid, r.rid)
           for r in fuzzy_join(left, right, "lid", "lname", "rid", "rname",
                               max_dist=2).collect()}
    # brute force: all pairs sharing a token with lev <= 2
    pairs = set()
    for lrow in left.collect():
        for rrow in right.collect():
            shared = set(lrow.lname.split()) & set(rrow.rname.split())
            if not shared:
                continue
            dist = _lev(lrow.lname, rrow.rname)
            if dist <= 2:
                pairs.add((lrow.lid, rrow.rid))
    assert got == pairs
    assert (1, 10) in got and (2, 11) in got and (4, 11) in got
    # "hot gear"/"cold gear" share a token but are 3 edits apart;
    # "green plate xxl" is blocked via "plate" but fails the length band
    assert (3, 12) not in got and (5, 13) not in got


def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                           prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def test_fuzzy_join_max_df_prunes_hot_tokens(spark):
    # "common" appears everywhere; without it the true pair still links
    # via its rare token, but a pair sharing ONLY the hot token is lost
    left = spark.createDataFrame(
        [(i, f"common tok{i}") for i in range(20)] + [(100, "common rare")],
        "lid bigint, lname string")
    right = spark.createDataFrame(
        [(200, "common rarx"), (201, "common tok0x")],
        "rid bigint, rname string")
    uncapped = {(r.lid, r.rid)
                for r in fuzzy_join(left, right, "lid", "lname", "rid",
                                    "rname", max_dist=2).collect()}
    capped = {(r.lid, r.rid)
              for r in fuzzy_join(left, right, "lid", "lname", "rid",
                                  "rname", max_dist=2, max_df=5).collect()}
    assert (100, 200) in uncapped
    # capped: "common" is pruned (df=21 > 5); (100,200) shared only
    # "common" -> dropped; (0,201) still blocks via "tok0"? tokens are
    # "tok0" vs "tok0x" — different tokens, so it must have come via
    # "common" and drops too
    assert (100, 200) not in capped
    assert capped <= uncapped


def test_fuzzy_join_rejects_colliding_names(names):
    left, right = names
    with pytest.raises(ValueError):
        fuzzy_join(left, right.withColumnRenamed("rid", "lid"),
                   "lid", "lname", "lid", "rname")


# ----------------------------------------------------------- group split


def test_group_split_keeps_groups_together(spark):
    rows = [(i, f"text {i % 7}") for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = group_split(df, F.md5(F.col("text")), "doc_id").collect()
    by_group = {}
    for r in out:
        by_group.setdefault(r.text, set()).add(r.split)
    assert all(len(s) == 1 for s in by_group.values())
    assert len(out) == 200


def test_group_split_fractions_and_determinism(spark):
    df = spark.range(0, 5000).select(
        F.col("id").alias("doc_id"),
        F.col("id").cast("string").alias("text"))
    a = group_split(df, F.col("text"), "doc_id")
    counts = {r.split: r.n for r in
              a.groupBy("split").agg(F.count("*").alias("n")).collect()}
    # bounds e6/f3: 230/13/13 of 256 buckets; md5 is uniform
    assert 0.85 < counts["train"] / 5000 < 0.93
    assert 0.02 < counts["val"] / 5000 < 0.08
    assert 0.02 < counts["test"] / 5000 < 0.08
    b = {(r.doc_id, r.split) for r in
         group_split(df, F.col("text"), "doc_id").collect()}
    assert {(r.doc_id, r.split) for r in a.collect()} == b


# ------------------------------------------------------------------ url


def test_canonicalize_url_cases(spark):
    cases = [
        ("HTTPS://WWW.Example.COM:443/A/B/?utm_source=x&b=2&a=1#frag",
         "https://example.com/A/B?a=1&b=2"),
        ("http://Example.com:80/", "http://example.com"),
        ("http://example.com:8080/x", "http://example.com:8080/x"),
        ("https://example.com/path?gclid=1&fbclid=2&utm_medium=m",
         "https://example.com/path"),
        ("https://www.example.com/p?z=1&a=2", "https://example.com/p?a=2&z=1"),
        ("https://example.com/keep:443/x", "https://example.com/keep:443/x"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    got = [r.c for r in df.select(canonicalize_url(F.col("url")).alias("c"))
           .collect()]
    assert got == [want for _, want in cases]


def test_canonicalize_url_idempotent(spark):
    try:
        from hypothesis import given, settings
        from hypothesis import strategies as st
    except ImportError:
        pytest.skip("hypothesis not installed")

    seg = st.text(
        alphabet="aBc0-._~", min_size=0, max_size=6)
    urls = st.builds(
        lambda sch, host, port, path, q, frag:
            f"{sch}://{host}{port}/{path}?{q}#{frag}",
        st.sampled_from(["http", "HTTPS", "ftp"]),
        st.sampled_from(["www.Ex.com", "ex.COM", "a.b.ORG"]),
        st.sampled_from(["", ":80", ":443", ":8080"]),
        seg,
        st.sampled_from(["", "a=1", "b=2&a=1", "utm_source=x&a=1", "gclid=9"]),
        st.sampled_from(["", "frag"]),
    )

    @settings(max_examples=30, deadline=None)
    @given(urls=st.lists(urls, min_size=1, max_size=8))
    def check(urls):
        df = spark.createDataFrame([(u,) for u in urls], "url string")
        once = [r.c for r in
                df.select(canonicalize_url(F.col("url")).alias("c")).collect()]
        df2 = spark.createDataFrame([(u,) for u in once], "url string")
        twice = [r.c for r in
                 df2.select(canonicalize_url(F.col("url")).alias("c"))
                 .collect()]
        assert once == twice

    check()


def test_bm25_bucketed_postings_skip_shuffle(spark, tmp_path):
    """The reusable-index path: postings persisted bucketed by term are
    read back without an Exchange feeding the per-term df aggregation —
    the property that makes repeated searches scan-only at 100 TB."""
    from drill_spark.ops.scale import write_bucketed

    rows = [(i, f"alpha beta tok{i % 11} gamma") for i in range(200)]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    post = build_postings(docs)
    write_bucketed(spark, post, "postings_bucketed", ["term"], buckets=4)
    try:
        stored = spark.table("postings_bucketed")
        dfreq = stored.groupBy("term").agg(F.count("*").alias("df"))
        plan = dfreq._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        # and the search over the stored postings matches the inline path
        inline = bm25_topk(docs, ["alpha", "tok3"], k=5).collect()
        reused = bm25_topk(docs, ["alpha", "tok3"], k=5,
                           postings=stored).collect()
        assert [tuple(r) for r in inline] == [tuple(r) for r in reused]
    finally:
        spark.sql("DROP TABLE IF EXISTS postings_bucketed")


# ------------------------------------------------------------ line dedup


def test_line_dedup_semantics(spark):
    from drill_spark.ops.text import line_dedup

    rows = [
        (1, "keep me one\nshared boilerplate\n--\nbody one"),
        (2, "keep me two\nshared boilerplate\n--\nbody two"),
        (3, "shared boilerplate\nshared boilerplate"),
        (4, "solo document with no dupes"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {r.doc_id: r.clean_text
           for r in line_dedup(df, max_copies=1, min_chars=8).collect()}
    # duplicated long line removed everywhere; '--' short-line exempt;
    # order preserved; all-removed doc comes back empty
    assert got[1] == "keep me one\n--\nbody one"
    assert got[2] == "keep me two\n--\nbody two"
    assert got[3] == ""
    assert got[4] == "solo document with no dupes"


def test_line_dedup_max_copies_threshold(spark):
    from drill_spark.ops.text import line_dedup

    rows = [(i, "twice is fine line\nalways dup line") for i in range(3)]
    rows[2] = (2, "unique tail two\nalways dup line")
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {r.doc_id: r.clean_text
           for r in line_dedup(df, max_copies=2, min_chars=8).collect()}
    # "twice is fine line" appears twice (<= max_copies) -> kept;
    # "always dup line" appears three times -> removed
    assert got[0] == "twice is fine line"
    assert got[1] == "twice is fine line"
    assert got[2] == "unique tail two"


# ------------------------------------------------------- gapfill/triplets


def test_gap_fill_locf_semantics(spark):
    from datetime import datetime

    from drill_spark.ops.temporal import gap_fill_locf

    rows = [
        (1, datetime(2024, 1, 1, 0, 15), 10.0),
        (1, datetime(2024, 1, 1, 0, 45), 20.0),   # hour 0: avg 15
        (1, datetime(2024, 1, 1, 3, 10), 40.0),   # hours 1-2: gaps
        (2, datetime(2024, 1, 1, 5, 0), 7.0),     # single bucket key
    ]
    df = spark.createDataFrame(rows, "user_id bigint, ts timestamp, value double")
    out = {(r.user_id, r.bucket.hour): (r.value, r.n_events)
           for r in gap_fill_locf(df, "ts", "user_id", "value").collect()}
    assert out[(1, 0)] == (15.0, 2)
    assert out[(1, 1)] == (15.0, 0)   # gap: carried forward
    assert out[(1, 2)] == (15.0, 0)
    assert out[(1, 3)] == (40.0, 1)
    assert out[(2, 5)] == (7.0, 1)
    # grids are per-key: key 2 has exactly one bucket, key 1 four
    assert len([k for k in out if k[0] == 1]) == 4
    assert len([k for k in out if k[0] == 2]) == 1


def test_triplet_mine_matches_bruteforce(spark):
    import numpy as np

    from drill_spark.ops.similarity import triplet_mine

    rng = np.random.RandomState(7)
    vecs = rng.randn(30, 8).astype("float32")
    labels = [i % 3 for i in range(30)]
    rows = [(i, [float(x) for x in vecs[i]], labels[i]) for i in range(30)]
    df = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int")
    got = {r.anchor_id: (r.pos_id, r.neg_id)
           for r in triplet_mine(df, query_ids=[0, 1, 2]).collect()}

    def cos(a, b):
        return round(float(np.dot(a, b) / (np.linalg.norm(a) * np.linalg.norm(b))), 4)

    for a in (0, 1, 2):
        same = [(cos(vecs[a], vecs[j]), -j) for j in range(30)
                if j != a and labels[j] == labels[a]]
        diff = [(cos(vecs[a], vecs[j]), -j) for j in range(30)
                if j != a and labels[j] != labels[a]]
        want_pos = -max(same)[1]
        want_neg = -max(diff)[1]
        assert got[a] == (want_pos, want_neg), a


def test_line_dedup_identity_when_nothing_hot(spark):
    """With max_copies high enough nothing is removed: reassembly must
    reproduce every document byte-for-byte (order + separators) — the
    invariant that makes the cutting side trustworthy."""
    import random

    rng = random.Random(11)
    words = ["alpha", "beta", "gamma", "delta", "x", ""]
    rows = []
    for i in range(40):
        n = rng.randint(1, 6)
        text = "\n".join(" ".join(rng.choices(words, k=rng.randint(0, 4)))
                         for _ in range(n))
        rows.append((i, text))
    from drill_spark.ops.text import line_dedup

    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {r.doc_id: r.clean_text
           for r in line_dedup(df, max_copies=10**6).collect()}
    assert got == dict(rows)


# ----------------------------------------------------------------- hybrid


def test_rrf_fuse_math_and_missing_ids(spark):
    from drill_spark.ops.search import rrf_fuse

    a = spark.createDataFrame([(1, 1), (2, 2), (3, 3)], "doc_id bigint, rank int")
    b = spark.createDataFrame([(3, 1), (4, 2)], "doc_id bigint, rank int")
    got = {r.doc_id: r.rrf_score
           for r in rrf_fuse(a, b, "doc_id", k=10, rrf_k=60).collect()}
    assert got[1] == pytest.approx(1 / 61)
    assert got[3] == pytest.approx(1 / 63 + 1 / 61)   # in both lists
    assert got[4] == pytest.approx(1 / 62)            # only in b
    assert set(got) == {1, 2, 3, 4}
    # the doubly-ranked id wins
    assert max(got, key=got.get) == 3


def test_hybrid_topk_contains_both_towers(spark, corpus):
    import numpy as np

    from drill_spark.ops.search import hybrid_topk

    rng = np.random.RandomState(3)
    vecs = [(i, [float(x) for x in rng.randn(4)], 0) for i in range(5)]
    vdf = spark.createDataFrame(
        vecs, "vec_id bigint, embedding array<float>, label int")
    out = hybrid_topk(corpus, vdf, ["spark"], query_vec_id=0,
                      k=5, pool=5).collect()
    ids = [r.doc_id for r in out]
    # doc 2 ("spark" x5) must rank from the lexical tower
    assert 2 in ids
    scores = [r.rrf_score for r in out]
    assert scores == sorted(scores, reverse=True)


def test_canonicalize_url_sql_matches_column(spark):
    """The rewrite-time SQL scalar (functions._canon_url_sql) must be
    byte-equal to the Column builder on every edge case — the drift
    guard between the two faces."""
    from drill_spark.functions import rewrite_convert_calls

    urls = [
        "HTTPS://WWW.Example.COM:443/A/B/?utm_source=x&b=2&a=1#frag",
        "http://Example.com:80/",
        "http://example.com:8080/x",
        "https://example.com/path?gclid=1&fbclid=2&utm_medium=m",
        "https://www.example.com/p?z=1&a=2",
        "https://example.com/keep:443/x",
        "ftp://Host.org/file",
    ]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    df.createOrReplaceTempView("urls_t")
    via_col = [r.c for r in
               df.select(canonicalize_url(F.col("url")).alias("c")).collect()]
    sql = rewrite_convert_calls(
        "select canonicalize_url(url) as c from urls_t")
    assert "canonicalize_url" not in sql  # fully expanded
    via_sql = [r.c for r in spark.sql(sql).collect()]
    assert via_sql == via_col


def test_corpus_report_closed_form(spark):
    from drill_spark.ops.text import corpus_report

    rows = [
        (1, "a b c", "en", "s1"),
        (2, "a b c", "en", "s1"),     # exact dup of 1
        (3, "d e", "fr", "s1"),
        (4, "x", "en", "s2"),
    ]
    df = spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string")
    got = {r.source: r for r in corpus_report(df).collect()}
    s1 = got["s1"]
    assert (s1.n_docs, s1.n_tokens, s1.n_langs) == (3, 8, 2)
    assert s1.dup_rate == pytest.approx(round(1 - 2 / 3, 4))
    s2 = got["s2"]
    assert (s2.n_docs, s2.n_tokens, s2.dup_rate) == (1, 1, 0.0)


def test_bm25_batch_matches_per_query(spark):
    """Batch BM25 must equal running bm25_topk per query."""
    from drill_spark.ops.search import bm25_topk, bm25_topk_batch

    docs = spark.createDataFrame(
        [(i, f"alpha beta w{i} " + ("spark " * (i % 4)) + ("join " * (i % 3)))
         for i in range(30)],
        "doc_id bigint, text string",
    )
    queries = spark.createDataFrame(
        [("qa", ["spark", "alpha"]), ("qb", ["join"])],
        "query_id string, terms array<string>",
    )
    batch = bm25_topk_batch(docs, queries, k=5).collect()
    for qid, terms in [("qa", ["spark", "alpha"]), ("qb", ["join"])]:
        single = [(r["doc_id"], r["score"])
                  for r in bm25_topk(docs, terms, k=5).collect()]
        got = sorted(
            ((r["doc_id"], r["score"]) for r in batch
             if r["query_id"] == qid),
            key=lambda t: (-t[1], t[0]))
        assert got == single, qid


def test_bm25_batch_reuses_postings(spark):
    from drill_spark.ops.search import build_postings, bm25_topk_batch

    docs = spark.createDataFrame(
        [(i, f"alpha w{i} spark") for i in range(10)],
        "doc_id bigint, text string",
    )
    post = build_postings(docs)
    queries = spark.createDataFrame([("q", ["spark"])],
                                    "query_id string, terms array<string>")
    inline = bm25_topk_batch(docs, queries, k=3).collect()
    reused = bm25_topk_batch(docs, queries, k=3, postings=post).collect()
    assert sorted(map(tuple, inline)) == sorted(map(tuple, reused))


def test_sessionize_gap_semantics_and_single_shuffle(spark):
    from drill_spark.ops.temporal import sessionize

    rows = [
        # user 1: three events 10 min apart, then a 2-hour jump
        (1, "2024-01-01 10:00:00", 1),
        (2, "2024-01-01 10:10:00", 1),
        (3, "2024-01-01 10:20:00", 1),
        (4, "2024-01-01 12:20:00", 1),
        # user 2: single event
        (5, "2024-01-01 09:00:00", 2),
    ]
    df = spark.createDataFrame(rows, "event_id bigint, ts string, user_id bigint") \
        .withColumn("ts", F.col("ts").cast("timestamp"))
    got = sessionize(df, "ts", "user_id", gap_seconds=1800.0,
                     order_col="event_id")
    s = {(r["user_id"], r["session_idx"]): r for r in got.collect()}
    assert len(s) == 3
    assert s[(1, 1)]["n_events"] == 3
    assert s[(1, 1)]["duration_s"] == 1200.0
    assert s[(1, 2)]["n_events"] == 1 and s[(1, 2)]["duration_s"] == 0.0
    assert s[(2, 1)]["n_events"] == 1
    # exactly one exchange: flag, running sum, and rollup share the
    # user_id partitioning
    plan = got._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    import re
    n_exchanges = len(re.findall(r"Exchange hashpartitioning", final))
    assert n_exchanges == 1, final


def test_maxsim_prefers_docs_containing_query_tokens(spark):
    from drill_spark.ops.search import maxsim_topk

    rows = [
        (1, "neural retrieval with late interaction"),
        (2, "neural retrieval"),
        (3, "cooking pasta with tomatoes"),
        (4, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = maxsim_topk(df, ["neural", "retrieval", "interaction"], k=3)
    out = {r["rank"]: r for r in got.collect()}
    # doc 1 has an exact match for every query token (each max-dot = 1)
    assert out[1]["doc_id"] == 1
    assert abs(out[1]["score"] - 3.0) < 1e-6
    # doc 2 matches 2 of 3 tokens -> second
    assert out[2]["doc_id"] == 2
    # empty doc is dropped entirely
    assert all(r["doc_id"] != 4 for r in out.values())
    # scoring is scan-side: no exchange before the TakeOrdered
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def _maxsim_replay(rows, q, k=10, dim=4, max_tokens=32):
    """Top-k (id, score, rank) by an md5 replay of the ColBERT score:
    token vector = md5 16-bit slices /65536 - 0.5, L2-normalized;
    score = sum over query tokens of the max dot over the first
    max_tokens doc tokens, rounded HALF_UP to 6 dp."""
    import hashlib
    import math
    import re
    from decimal import ROUND_HALF_UP, Decimal

    def vec(w):
        h = hashlib.md5(w.encode()).hexdigest()
        raw = [int(h[4 * j:4 * j + 4], 16) / 65536.0 - 0.5
               for j in range(dim)]
        n = math.sqrt(sum(x * x for x in raw))
        return [x / n for x in raw]

    scored = []
    for i, text in rows:
        toks = [t for t in re.split(r"[ \t\n\x0b\f\r]+",
                                    (text or "").lower().strip(" ")) if t]
        if not toks:
            continue
        s = sum(max(sum(a * b for a, b in zip(vec(t), vec(w)))
                    for w in toks[:max_tokens]) for t in q)
        scored.append((i, float(Decimal(s).quantize(
            Decimal("0.000001"), ROUND_HALF_UP))))
    top = sorted(scored, key=lambda r: (-r[1], r[0]))[:k]
    return [(i, sc, rk) for rk, (i, sc) in enumerate(top, 1)]


def _assert_maxsim_matches_replay(got, want):
    assert [(i, rk) for i, _, rk in got] == [(i, rk) for i, _, rk in want]
    for (i, a, _), (_, b, _) in zip(got, want):
        assert abs(a - b) < 1e-9, (i, a, b)


def test_maxsim_edge_docs_and_fixture_match_replay(spark):
    """Scores and ranking equal an md5 replay on edge docs (empty,
    whitespace, NULL, single token, longer than max_tokens) and on the
    fixture documents; the output schema is fixed."""
    from drill_spark.ops.search import maxsim_topk
    from drill_spark.session import load_fixture

    from .conftest import SF_DIR

    rows = [
        (1, "neural retrieval with late interaction"),
        (2, "neural retrieval"),
        (3, "cooking pasta with tomatoes and basil and oil"),
        (4, ""),
        (5, "   "),
        (6, " ".join(f"w{i}" for i in range(50)) + " neural"),
        (7, None),
        (8, "Interaction"),
        (9, " ".join(f"v{i}" for i in range(31)) + " retrieval"),  # 32nd
        (10, " ".join(f"v{i}" for i in range(32)) + " retrieval"),  # 33rd
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    q = ["neural", "retrieval", "interaction"]
    got = [tuple(r) for r in maxsim_topk(df, q, k=10).collect()]
    _assert_maxsim_matches_replay(got, _maxsim_replay(rows, q))
    assert {t[0] for t in got} == {1, 2, 3, 6, 8, 9, 10}
    # doc 1 holds every query token: each max dot is 1, score 3.0
    assert got[0][:2] == (1, 3.0)
    # doc 6 is longer than max_tokens=32: "neural" sits past the cap,
    # so it must NOT get an exact-match (=1.0) contribution for that
    # term — an all-exact triple scores 3.0, truncated must be below
    by_id = {t[0]: t[1] for t in got}
    assert by_id[6] < 2.9999

    docs = load_fixture(spark, SF_DIR, "documents")
    fq = ["query", "join", "fast"]
    _assert_maxsim_matches_replay(
        [tuple(r) for r in maxsim_topk(docs, fq, k=10).collect()],
        _maxsim_replay([(r.doc_id, r.text) for r in docs.collect()], fq))

    assert [(f.name, f.dataType.simpleString())
            for f in maxsim_topk(df, q).schema.fields] == [
        ("doc_id", "bigint"), ("score", "double"), ("rank", "int")]


def test_funnel_order_and_window_semantics(spark):
    from drill_spark.ops.temporal import funnel

    rows = [
        # user 1 completes view -> click -> buy in order
        (1, "2024-01-01 10:00:00", "view"),
        (1, "2024-01-01 10:05:00", "click"),
        (1, "2024-01-01 10:10:00", "buy"),
        # user 2 clicks BEFORE viewing: click must not count
        (2, "2024-01-01 09:00:00", "click"),
        (2, "2024-01-01 09:30:00", "view"),
        # user 3 views then clicks outside the 1h window
        (3, "2024-01-01 08:00:00", "view"),
        (3, "2024-01-01 09:30:00", "click"),
        # user 4 never views
        (4, "2024-01-01 11:00:00", "click"),
    ]
    df = spark.createDataFrame(rows, "user_id bigint, ts string, et string") \
        .withColumn("ts", F.col("ts").cast("timestamp"))
    got = {r["step_idx"]: r for r in funnel(
        df, "ts", "user_id", "et", ["view", "click", "buy"],
        within_seconds=3600.0).collect()}
    assert got[1]["n_keys"] == 3      # users 1, 2, 3 viewed
    assert got[2]["n_keys"] == 1      # only user 1 clicked after viewing in-window
    assert got[3]["n_keys"] == 1      # and bought
    # no window: user 3's late click now counts
    got2 = {r["step_idx"]: r["n_keys"] for r in funnel(
        df, "ts", "user_id", "et", ["view", "click", "buy"]).collect()}
    assert got2[2] == 2


def test_retention_cohorts_and_offsets(spark):
    from drill_spark.ops.temporal import retention

    rows = [
        (1, "2024-01-01 10:00:00"),  # cohort week of Jan 1 (Monday)
        (1, "2024-01-09 10:00:00"),  # active week +1
        (1, "2024-01-16 10:00:00"),  # active week +2
        (2, "2024-01-02 10:00:00"),  # same cohort, only week 0
        (3, "2024-01-10 10:00:00"),  # cohort week of Jan 8
    ]
    df = spark.createDataFrame(rows, "user_id bigint, ts string") \
        .withColumn("ts", F.col("ts").cast("timestamp"))
    got = {(str(r["cohort"])[:10], r["offset"]): r["n_keys"]
           for r in retention(df, "ts", "user_id", "week").collect()}
    assert got[("2024-01-01", 0)] == 2
    assert got[("2024-01-01", 1)] == 1
    assert got[("2024-01-01", 2)] == 1
    assert got[("2024-01-08", 0)] == 1
    import pytest as _pytest
    with _pytest.raises(ValueError):
        retention(df, "ts", "user_id", "month")


def test_mad_outliers_robust_to_the_outlier(spark):
    from drill_spark.ops.scale import mad_outliers

    # key 1: tight cluster around 10 plus one wild point; the wild
    # point must flag and the cluster must not
    rows = [(1, v) for v in [9.0, 10.0, 10.0, 10.0, 11.0, 100.0]]
    # key 2: constant values -> mad 0 -> nothing flags
    rows += [(2, 5.0)] * 4
    df = spark.createDataFrame(rows, "user_id bigint, value double")
    got = mad_outliers(df, "user_id", "value", k=3.0).collect()
    assert len(got) == 1
    r = got[0]
    assert r["user_id"] == 1 and r["value"] == 100.0
    assert r["med"] == 10.0 and r["mad"] > 0
    assert r["score"] > 3.0


# ------------------------------------------------------- setsim_join


def _brute_jaccard_pairs(rows, threshold, ngram=None):
    import itertools

    def toks(s):
        s = s.strip().lower()
        if ngram:
            return {s[i:i + ngram] for i in range(max(len(s) - ngram + 1, 0))}
        return {t for t in s.split() if t}

    out = {}
    for (i, a), (j, b) in itertools.combinations(rows, 2):
        ta, tb = toks(a), toks(b)
        if not ta or not tb:
            continue
        jac = round(len(ta & tb) / len(ta | tb), 4)
        if jac >= threshold:
            out[(min(i, j), max(i, j))] = jac
    return out


def test_setsim_join_equals_brute_force(spark):
    """Prefix filtering must be lossless: exact equality (pairs AND
    scores) with all-pairs brute force on a randomized corpus, at
    several thresholds, for word tokens and 3-gram shingles."""
    import random

    from drill_spark.ops.fuzzy import setsim_join

    rng = random.Random(13)
    vocab = [f"w{i}" for i in range(40)]
    rows = [(i, " ".join(rng.choices(vocab, k=rng.randint(0, 12))))
            for i in range(80)]
    rows += [(100 + i, rows[i][1] + " extra") for i in range(10)]  # planted
    df = spark.createDataFrame(rows, "doc_id long, text string")

    for t in (0.3, 0.6, 0.9):
        got = {(r.id_a, r.id_b): r.jaccard
               for r in setsim_join(df, threshold=t).collect()}
        assert got == _brute_jaccard_pairs(rows, t), t

    got3 = {(r.id_a, r.id_b): r.jaccard
            for r in setsim_join(df, threshold=0.6, ngram=3).collect()}
    assert got3 == _brute_jaccard_pairs(rows, 0.6, ngram=3)


def test_setsim_prefix_filter_prunes(spark):
    """On a sparse corpus the candidate join must examine far fewer
    pairs than all-pairs: docs sharing only the hot token 'the' (which
    sorts LAST in the rarest-first order and lands in no prefix at
    t=0.8) generate zero candidates, so the count of verified pairs
    bounds the candidate count well below n*(n-1)/2."""
    from drill_spark.ops.fuzzy import _setsim_candidates, setsim_join

    # 50 docs, all sharing 'the'; only 0/1 are near-dups
    # (9 shared of 10 tokens each -> J = 9/11 = 0.8182 >= 0.8)
    rows = [(0, "the alpha beta gamma delta eta theta iota kappa lambda"),
            (1, "the alpha beta gamma mu eta theta iota kappa lambda")]
    rows += [(i, f"the u{i}a u{i}b u{i}c u{i}d") for i in range(2, 50)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    n_cand = _setsim_candidates(df, "doc_id", "text", 0.8, None).count()
    assert n_cand <= 4          # vs 1225 all-pairs; 'the' never joins
    got = {(r.id_a, r.id_b) for r in
           setsim_join(df, threshold=0.8).collect()}
    assert got == {(0, 1)}


def test_setsim_join_validates_threshold(spark):
    from drill_spark.ops.fuzzy import setsim_join

    df = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    import pytest as _pytest
    with _pytest.raises(ValueError):
        setsim_join(df, threshold=0.0)
    with _pytest.raises(ValueError):
        setsim_join(df, threshold=1.5)


def test_containment_join_equals_brute_force(spark):
    """The probe-prefix filter must be lossless for containment
    (|q∩d|/|q| >= t): exact equality with all-pairs brute force on a
    randomized probe/corpus split, including probe tokens absent from
    the corpus (df=0 ordering) and a probe fully contained in a much
    larger doc (the case symmetric Jaccard mis-scores)."""
    import random

    from drill_spark.ops.fuzzy import containment_join

    rng = random.Random(29)
    vocab = [f"w{i}" for i in range(30)]
    corpus = [(i, " ".join(rng.choices(vocab, k=rng.randint(3, 25))))
              for i in range(60)]
    # doc 60: superset of probe 0's exact tokens plus 20 extras
    corpus.append((60, "p0a p0b p0c " + " ".join(f"x{j}" for j in range(20))))
    probes = [(0, "p0a p0b p0c"),
              (1, "w1 w2 w3 zz_absent"),          # token with df=0
              (2, " ".join(rng.choices(vocab, k=6))),
              (3, "")]                            # empty probe drops out
    pdf = spark.createDataFrame(probes, "qid long, qtext string")
    cdf = spark.createDataFrame(corpus, "doc_id long, text string")

    for t in (0.5, 0.8, 1.0):
        got = {(r.qid, r.doc_id): (r.containment, r.jaccard)
               for r in containment_join(pdf, cdf, threshold=t).collect()}
        exp = {}
        for qid, qt in probes:
            q = {x for x in qt.lower().split() if x}
            if not q:
                continue
            for did, dt in corpus:
                d = {x for x in dt.lower().split() if x}
                c = round(len(q & d) / len(q), 4)
                if c >= t:
                    exp[(qid, did)] = (c, round(len(q & d) / len(q | d), 4))
        assert got == exp, t
    # the planted superset pair survives at t=1.0 with low jaccard
    full = {(r.qid, r.doc_id): r.jaccard
            for r in containment_join(pdf, cdf, threshold=1.0).collect()}
    assert (0, 60) in full and full[(0, 60)] < 0.2


def test_containment_join_validates_args(spark):
    import pytest as _pytest

    from drill_spark.ops.fuzzy import containment_join

    df = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    with _pytest.raises(ValueError):
        containment_join(df, df, threshold=0.0)
    with _pytest.raises(ValueError):
        containment_join(df, df, probe_id="doc_id", corpus_id="doc_id")


def test_incremental_setsim_batches_and_replay(spark, tmp_path):
    """Exact cross-run set-similarity dedup: batch-1 survivors must
    equal the brute-force reference (within-batch chain collapse, then
    drop vs batch-0 SURVIVORS only), replaying a committed batch_id
    returns the same survivors without re-appending, and the store
    holds postings — never text."""
    import itertools

    from drill_spark.ops.fuzzy import incremental_setsim
    from drill_spark.readers.delta import read_delta

    vocab = [f"w{i}" for i in range(12)]
    import random

    rng = random.Random(5)
    rows = [(i, " ".join(rng.sample(vocab, rng.randint(3, 8))))
            for i in range(40)]
    rows += [(100 + i, rows[i][1]) for i in range(6)]   # cross-batch dups
    evens = [(i, t) for i, t in rows if i % 2 == 0]
    odds = [(i, t) for i, t in rows if i % 2 == 1]
    store = str(tmp_path / "setsim_store")
    T = 0.8

    def toks(s):
        return {x for x in s.lower().split() if x}

    def within_survivors(batch):
        drop = set()
        for (i, a), (j, b) in itertools.combinations(sorted(batch), 2):
            ta, tb = toks(a), toks(b)
            if ta and tb and len(ta & tb) / len(ta | tb) >= T:
                drop.add(max(i, j))
        return [(i, t) for i, t in batch if i not in drop and toks(t)]

    df0 = spark.createDataFrame(evens, "doc_id long, text string")
    df1 = spark.createDataFrame(odds, "doc_id long, text string")
    got0 = {r.doc_id for r in
            incremental_setsim(df0, store, threshold=T).collect()}
    surv0 = within_survivors(evens)
    assert got0 == {i for i, _ in surv0}

    got1 = {r.doc_id for r in
            incremental_setsim(df1, store, threshold=T).collect()}
    w1 = within_survivors(odds)
    exp1 = {i for i, t in w1
            if not any(len(toks(t) & toks(ot)) / len(toks(t) | toks(ot)) >= T
                       for _, ot in surv0)}
    assert got1 == exp1

    n_store_rows = read_delta(spark, store).count()
    replay = {r.doc_id for r in
              incremental_setsim(df1, store, threshold=T,
                                 batch_id=1).collect()}
    assert replay == exp1
    assert read_delta(spark, store).count() == n_store_rows  # no re-append
    assert "text" not in read_delta(spark, store).columns
    assert set(read_delta(spark, store).columns) == {
        "tok", "doc_id", "sz", "batch_id"}


def test_incremental_setsim_mixed_store_legacy_replay(spark, tmp_path):
    """A store carrying the LEGACY single-txn key plus at least one
    newer per-batch key must still replay the legacy batch — its
    per-batch key never existed, so the absence is expected, not a
    skipped-ahead numbering error (ADVICE r11)."""
    from drill_spark.ops.fuzzy import _INCR_SETSIM_APP_ID, incremental_setsim
    from drill_spark.readers.delta import read_delta, write_delta

    store = str(tmp_path / "mixed_store")
    # fabricate a legacy batch 0: postings rows + the single app-id txn
    # key (the pre-per-batch stamping layout)
    legacy = spark.createDataFrame(
        [("alpha", 10, 3, 0), ("beta", 10, 3, 0), ("gamma", 11, 2, 0)],
        "tok string, doc_id long, sz int, batch_id int")
    write_delta(legacy, store, mode="error", txn=(_INCR_SETSIM_APP_ID, 0))

    # a modern batch 1 appends a per-batch key -> mixed store
    df1 = spark.createDataFrame(
        [(20, "totally new words here"), (21, "other fresh content")],
        "doc_id long, text string")
    got1 = {r.doc_id for r in
            incremental_setsim(df1, store, threshold=0.8,
                               batch_id=2).collect()}
    assert got1 == {20, 21}

    # replaying legacy batch 0 returns its STORED survivors (doc ids
    # present in the store at batch_id 0), appends nothing, raises nothing
    n_rows = read_delta(spark, store).count()
    df0 = spark.createDataFrame(
        [(10, "alpha beta gamma resubmitted"), (12, "never stored")],
        "doc_id long, text string")
    replay = {r.doc_id for r in
              incremental_setsim(df0, store, threshold=0.8,
                                 batch_id=0).collect()}
    assert replay == {10}
    assert read_delta(spark, store).count() == n_rows

    # a genuinely-skipped id — above the legacy mark, below the
    # per-batch high-water mark, never committed — still raises
    with pytest.raises(ValueError, match="never committed"):
        incremental_setsim(df0, store, threshold=0.8, batch_id=1)


def test_setsim_float_boundary_completeness(spark):
    """Regression for float-product overshoot: 0.07*100 =
    7.000000000000001 in doubles, which (unguarded) both shortens the
    size-100 doc's prefix from 94 to 93 tokens AND falsely rejects the
    (100, 7)-sized pair at the length filter — silently missing a TRUE
    pair with J = 7/100 = 0.07 exactly. The _EPS slack must keep it."""
    from drill_spark.ops.fuzzy import containment_join, setsim_join

    shared = [f"s{i}" for i in range(7)]
    big = " ".join([f"u{i}" for i in range(93)] + shared)
    small = " ".join(shared)
    df = spark.createDataFrame(
        [(1, big), (2, small)], "doc_id long, text string")
    got = {(r.id_a, r.id_b): r.jaccard
           for r in setsim_join(df, threshold=0.07).collect()}
    assert got == {(1, 2): 0.07}

    # containment twin: 7 of the probe's 100 tokens (the ones whose
    # global rarity puts them LAST in the prefix order) appear in the doc
    probe = spark.createDataFrame([(0, big)], "qid long, qtext string")
    corpus = spark.createDataFrame([(2, small)], "doc_id long, text string")
    cg = {(r.qid, r.doc_id): r.containment
          for r in containment_join(probe, corpus, threshold=0.07).collect()}
    assert cg == {(0, 2): 0.07}


def test_setsim_join_property_random_corpora(spark):
    """Property: setsim_join == brute force on randomized corpora —
    hypothesis drives corpus shape (doc count, token draws, planted
    near-dups, empty docs) and threshold, with shrinking on failure.
    Spark jobs are slow, so examples are few but adversarial: tiny
    vocabularies maximize tie density in the (df, tok) global order."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from drill_spark.ops.fuzzy import setsim_join

    docs_strategy = st.lists(
        st.lists(st.integers(min_value=0, max_value=11),
                 min_size=0, max_size=9),
        min_size=2, max_size=14,
    )

    @settings(max_examples=12, deadline=None)
    @given(docs=docs_strategy,
           t=st.sampled_from([0.07, 0.25, 0.5, 0.75, 1.0]))
    def run(docs, t):
        rows = [(i, " ".join(f"w{x}" for x in toks))
                for i, toks in enumerate(docs)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {(r.id_a, r.id_b): r.jaccard
               for r in setsim_join(df, threshold=t).collect()}
        assert got == _brute_jaccard_pairs(rows, t)

    run()


def test_setsim_join_tables_equals_brute_force(spark):
    """Cross-table exact set-similarity: equality with brute force on
    randomized two-table corpora (colliding ids across tables must NOT
    merge — sides are distinct keys), no self-side pairs ever."""
    import random

    from drill_spark.ops.fuzzy import setsim_join_tables

    rng = random.Random(41)
    vocab = [f"w{i}" for i in range(25)]
    lrows = [(i, " ".join(rng.choices(vocab, k=rng.randint(0, 10))))
             for i in range(40)]
    # right table re-uses ids 0..29 (collision on purpose) + planted dups
    rrows = [(i, " ".join(rng.choices(vocab, k=rng.randint(0, 10))))
             for i in range(30)]
    rrows += [(900 + i, lrows[i][1]) for i in range(5)]

    ldf = spark.createDataFrame(lrows, "id_a long, text_a string")
    rdf = spark.createDataFrame(rrows, "id_b long, text_b string")

    def toks(s):
        return {x for x in s.lower().split() if x}

    for t in (0.4, 0.8, 1.0):
        got = {(r.id_a, r.id_b): r.jaccard
               for r in setsim_join_tables(ldf, rdf, threshold=t).collect()}
        exp = {}
        for i, a in lrows:
            for j, b in rrows:
                ta, tb = toks(a), toks(b)
                if not ta or not tb:
                    continue
                jac = round(len(ta & tb) / len(ta | tb), 4)
                if jac >= t:
                    exp[(i, j)] = jac
        assert got == exp, t
    # the 5 planted identical docs surface at t=1.0
    full = setsim_join_tables(ldf, rdf, threshold=1.0).collect()
    assert {(r.id_a, r.id_b) for r in full} >= {
        (i, 900 + i) for i in range(5) if toks(lrows[i][1])}


def test_setsim_join_tables_validates(spark):
    import pytest as _pytest

    from drill_spark.ops.fuzzy import setsim_join_tables

    df = spark.createDataFrame([(1, "a")], "id_a long, text_a string")
    with _pytest.raises(ValueError):
        setsim_join_tables(df, df, threshold=2.0)
    with _pytest.raises(ValueError):
        setsim_join_tables(df, df, left_id="x", right_id="x")


def test_containment_join_property_random_corpora(spark):
    """Property: containment_join == brute force on randomized
    probe/corpus splits — hypothesis drives shapes and thresholds,
    with tiny vocabularies maximizing order-tie density and tokens
    absent from the corpus (df=0) appearing in probe prefixes."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from drill_spark.ops.fuzzy import containment_join

    docs_strategy = st.lists(
        st.lists(st.integers(min_value=0, max_value=13),
                 min_size=0, max_size=8),
        min_size=1, max_size=10,
    )

    @settings(max_examples=10, deadline=None)
    @given(probes=docs_strategy, corpus=docs_strategy,
           t=st.sampled_from([0.07, 0.34, 0.5, 1.0]))
    def run(probes, corpus, t):
        prows = [(i, " ".join(f"w{x}" for x in toks))
                 for i, toks in enumerate(probes)]
        crows = [(i, " ".join(f"w{x}" for x in toks))
                 for i, toks in enumerate(corpus)]
        pdf = spark.createDataFrame(prows, "qid long, qtext string")
        cdf = spark.createDataFrame(crows, "doc_id long, text string")
        got = {(r.qid, r.doc_id): r.containment
               for r in containment_join(pdf, cdf, threshold=t).collect()}
        exp = {}
        for qid, qt in prows:
            q = {x for x in qt.split() if x}
            if not q:
                continue
            for did, dt in crows:
                d = {x for x in dt.split() if x}
                c = round(len(q & d) / len(q), 4)
                if d and c >= t:
                    exp[(qid, did)] = c
        assert got == exp

    run()


def test_incremental_setsim_skipped_batch_raises(spark, tmp_path):
    """A batch_id at or below the store's high-water mark that was
    NEVER committed must raise, not silently return zero survivors as
    a phantom replay (the skipped-ahead-numbering data-loss trap);
    genuinely committed ids still replay."""
    import pytest

    from drill_spark.ops.fuzzy import incremental_setsim

    df = spark.createDataFrame([(1, "alpha beta"), (2, "gamma delta")],
                               "doc_id long, text string")
    store = str(tmp_path / "store")
    incremental_setsim(df, store, threshold=0.9, batch_id=5).collect()

    with pytest.raises(ValueError, match="never.*committed|high-water"):
        incremental_setsim(df, store, threshold=0.9, batch_id=3).collect()

    # committed id replays fine
    replay = incremental_setsim(df, store, threshold=0.9, batch_id=5)
    assert {r.doc_id for r in replay.collect()} == {1, 2}


def test_incremental_setsim_zero_survivor_batch_replays(spark, tmp_path):
    """A batch whose documents ALL dedup away still commits its
    per-batch txn, so replaying it returns empty (not an error) and
    the next auto-assigned batch id advances past it."""
    from drill_spark.ops.fuzzy import incremental_setsim
    from drill_spark.readers.delta import read_delta

    store = str(tmp_path / "store")
    base = spark.createDataFrame([(0, "one two three")],
                                 "doc_id long, text string")
    incremental_setsim(base, store, threshold=0.9).collect()  # batch 0

    dup = spark.createDataFrame([(11, "one two three")],
                                "doc_id long, text string")
    assert incremental_setsim(dup, store, threshold=0.9).count() == 0  # b1

    # replaying the zero-survivor batch: empty, no raise, no re-append
    n_rows = read_delta(spark, store).count()
    assert incremental_setsim(dup, store, threshold=0.9,
                              batch_id=1).count() == 0
    assert read_delta(spark, store).count() == n_rows

    # auto-assign continues at 2 (the empty batch advanced the mark)
    nxt = spark.createDataFrame([(20, "four five six")],
                                "doc_id long, text string")
    assert incremental_setsim(nxt, store, threshold=0.9).count() == 1
    batches = {r.batch_id for r in
               read_delta(spark, store).select("batch_id")
               .distinct().collect()}
    assert batches == {0, 2}


def test_incremental_setsim_cap_truncation_warns(spark, tmp_path):
    """When max_candidates_per_doc actually truncates verification
    fan-out, a warning reports it — exactness-up-to-cap is observable,
    never silent; without a cap (the default) no warning fires."""
    import warnings as w

    from drill_spark.ops.fuzzy import incremental_setsim

    # 8 mutually-dissimilar store docs (pairwise J = 1/7) that are all
    # length-compatible candidates of the new doc via the shared token
    store_rows = [(i, f"alpha x{i} y{i} z{i}") for i in range(8)]
    df0 = spark.createDataFrame(store_rows, "doc_id long, text string")
    store = str(tmp_path / "store")
    incremental_setsim(df0, store, threshold=0.5).collect()

    new = spark.createDataFrame([(100, "alpha beta gamma zz")],
                                "doc_id long, text string")
    # The truncation count is an explicit bounded job BY DESIGN: r12
    # measured df.observe() as the zero-job alternative and found AQE
    # returns an EMPTY metrics row when an enclosing branch is
    # empty-relation-pruned (zero dups / zero survivors) and a SILENT
    # ZERO when the observed subtree runs inside a broadcast stage —
    # either would suppress the warning, i.e. silent inexactness.
    with w.catch_warnings(record=True) as rec:
        w.simplefilter("always")
        incremental_setsim(new, store, threshold=0.5, batch_id=1,
                           max_candidates_per_doc=3).collect()
    assert any("truncated" in str(x.message) for x in rec)

    # uncapped default: exact, silent
    new2 = spark.createDataFrame([(101, "alpha q1 q2 q3")],
                                 "doc_id long, text string")
    with w.catch_warnings(record=True) as rec2:
        w.simplefilter("always")
        got = incremental_setsim(new2, store, threshold=0.5).collect()
    assert not [x for x in rec2 if "truncated" in str(x.message)]
    # doc 101 is J=1/7 vs every stored doc -> survives the exact path
    assert [r.doc_id for r in got] == [101]


def test_incremental_setsim_hot_token_postings_cap(spark, tmp_path):
    """max_postings_per_token bounds the STORE side before the
    candidate join: a store-hot token can't fan out a batch-rare
    prefix token pre-cap. Semantics check: the cap keeps the smallest
    store ids, so a true duplicate living beyond the cap is missed
    (the documented recall trade) while the uncapped default finds
    it."""
    from drill_spark.ops.fuzzy import incremental_setsim

    # 30 store docs share hot token 'h'; only doc 29 (the LARGEST id)
    # duplicates the probe
    rows = [(i, f"h filler{i} pad{i}") for i in range(29)]
    rows.append((29, "h target token"))
    df0 = spark.createDataFrame(rows, "doc_id long, text string")
    store = str(tmp_path / "store")
    incremental_setsim(df0, store, threshold=0.9).collect()

    probe = spark.createDataFrame([(100, "h target token")],
                                  "doc_id long, text string")
    # uncapped: exact — the duplicate is found, probe dropped
    assert incremental_setsim(probe, store, threshold=0.9,
                              batch_id=1).count() == 0

    # capped at 5 postings/token in a FRESH store replay: doc 29's 'h'
    # posting is beyond the cap; its rare tokens still match, so build
    # a store where ONLY the hot token links probe to the dup
    store2 = str(tmp_path / "store2")
    rows2 = [(i, f"h filler{i} pad{i}") for i in range(29)]
    rows2.append((29, "h"))
    df2 = spark.createDataFrame(rows2, "doc_id long, text string")
    incremental_setsim(df2, store2, threshold=0.9).collect()
    probe2 = spark.createDataFrame([(100, "h")],
                                   "doc_id long, text string")
    # uncapped finds the single-token duplicate
    assert incremental_setsim(probe2, store2, threshold=0.9,
                              batch_id=1).count() == 0
    # replay the SAME batch id capped: replay path returns committed
    # survivors, so use a new batch id — capped run misses doc 29
    probe3 = spark.createDataFrame([(101, "h")],
                                   "doc_id long, text string")
    assert incremental_setsim(probe3, store2, threshold=0.9, batch_id=2,
                              max_postings_per_token=5).count() == 1


def test_incremental_setsim_store_survives_optimize(spark, tmp_path):
    """OPTIMIZE-compacting the postings store must preserve the
    incremental contract: per-batch txns still replay, auto-assigned
    ids continue past the high-water mark, and the next batch dedups
    against the SAME postings — compaction is maintenance, not
    semantics."""
    from drill_spark.ops.fuzzy import incremental_setsim
    from drill_spark.readers.delta import optimize, read_delta

    store = str(tmp_path / "store")
    b0 = spark.createDataFrame(
        [(0, "alpha beta gamma"), (1, "delta epsilon zeta")],
        "doc_id long, text string")
    incremental_setsim(b0, store, threshold=0.9).collect()
    b1 = spark.createDataFrame(
        [(10, "eta theta iota"), (11, "alpha beta gamma")],
        "doc_id long, text string")
    surv1 = {r.doc_id for r in
             incremental_setsim(b1, store, threshold=0.9).collect()}
    assert surv1 == {10}  # 11 duplicates batch-0 doc 0

    optimize(spark, store)
    n_rows = read_delta(spark, store).count()

    # replay of batch 1 unchanged after compaction
    replay = {r.doc_id for r in
              incremental_setsim(b1, store, threshold=0.9,
                                 batch_id=1).collect()}
    assert replay == {10}
    assert read_delta(spark, store).count() == n_rows

    # a new batch dedups against compacted postings and gets id 2
    b2 = spark.createDataFrame(
        [(20, "eta theta iota"), (21, "fresh new words")],
        "doc_id long, text string")
    surv2 = {r.doc_id for r in
             incremental_setsim(b2, store, threshold=0.9).collect()}
    assert surv2 == {21}
    batches = {r.batch_id for r in read_delta(spark, store)
               .select("batch_id").distinct().collect()}
    assert batches == {0, 1, 2}
