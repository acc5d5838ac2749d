"""Training-data pipeline operators (ops/pipeline.py): semantics on
constructed inputs + the scale contracts (no shuffle / no Python eval
for the per-document ops). The corpus-scale oracle compare runs in
test_extops.py via the ORACLES parametrization."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from drill_spark.ops.pipeline import (
    chunk_tokens,
    decontaminate,
    pii_scan,
    repetition_stats,
    stratified_sample,
)
from drill_spark.plans.checks import explain_report
from drill_spark.session import local_frame

SF_MED = "/root/testdata/sf0.01"


def _df(spark, rows, schema="id bigint, text string"):
    return local_frame(spark, rows, schema)


def test_pii_scan_counts_and_redacts(spark):
    rows = [
        (1, "mail me at jo.doe+x@corp.example.org or 10.0.0.7 works"),
        (2, "ssn 123-45-6789 phone 555-867-5309"),
        (3, "clean document, nothing to scrub"),
    ]
    got = {r["id"]: r for r in pii_scan(_df(spark, rows), "id", "text").collect()}
    assert (got[1]["n_email"], got[1]["n_ip"]) == (1, 1)
    assert got[1]["redacted"] == "mail me at [EMAIL] or [IP] works"
    assert (got[2]["n_ssn"], got[2]["n_phone"]) == (1, 1)
    assert got[2]["redacted"] == "ssn [SSN] phone [PHONE]"
    assert got[3]["redacted"] == rows[2][1]
    assert all(got[3][c] == 0 for c in ("n_email", "n_ssn", "n_phone", "n_ip"))


def test_pii_ssn_precedence_over_phone(spark):
    # 3-2-4 digits is an SSN, never half-redacted by the 3-3-4 phone rule
    out = pii_scan(_df(spark, [(1, "id 078-05-1120 end")]), "id", "text").head()
    assert out["redacted"] == "id [SSN] end"
    assert out["n_ssn"] == 1 and out["n_phone"] == 0


def test_decontaminate_shared_8gram(spark):
    shared = "one two three four five six seven eight"
    corpus = _df(spark, [(1, "prefix " + shared + " suffix"), (2, "totally different words here " * 3)])
    bench = _df(spark, [(100, shared + " and a benchmark tail")])
    got = decontaminate(corpus, bench, "id", "text", n=8).collect()
    assert [(r["id"], r["n_shared"]) for r in got] == [(1, 1)]


def test_decontaminate_short_docs_are_safe(spark):
    # < n tokens: Spark's sequence(1, 0) is descending, so the guard in
    # _ngram_keys must yield ZERO grams, not one malformed gram
    corpus = _df(spark, [(1, "only three words")])
    bench = _df(spark, [(2, "only three words")])
    assert decontaminate(corpus, bench, "id", "text", n=8).count() == 0


def test_chunk_tokens_windows(spark):
    words = [f"w{i}" for i in range(70)]
    out = chunk_tokens(_df(spark, [(1, " ".join(words))]), "id", "text", max_tokens=32)
    rows = sorted(out.collect(), key=lambda r: r["chunk_id"])
    assert [(r["chunk_id"], r["n_tokens"]) for r in rows] == [(0, 32), (1, 32), (2, 6)]
    expect = hashlib.md5(" ".join(words[64:70]).encode()).hexdigest()
    assert rows[2]["chunk_hash"] == expect


def test_repetition_stats_flags_degenerate(spark):
    rows = [
        (1, "spam spam spam spam spam"),          # one word repeated
        (2, " ".join(f"unique{i}" for i in range(20))),  # no repetition
    ]
    got = {r["id"]: r for r in repetition_stats(_df(spark, rows), "id", "text").collect()}
    assert got[1]["dup_word_frac"] == 0.8          # 1 - 1/5
    assert got[1]["top_bigram_frac"] == 1.0        # 'spam spam' is every bigram
    assert got[1]["flagged"] is True
    assert got[2]["dup_word_frac"] == 0.0
    assert got[2]["flagged"] is False


def test_repetition_single_word_doc(spark):
    got = repetition_stats(_df(spark, [(1, "lonely")]), "id", "text").head()
    assert got["top_bigram_frac"] == 0.0 and got["flagged"] is False


def test_stratified_sample_is_md5_deterministic(spark):
    df = _df(spark, [(i, "en" if i % 2 == 0 else "de") for i in range(200)],
             "id bigint, lang string")
    got = {r["id"] for r in stratified_sample(df, "lang", {"en": "80"}, "id",
                                              default_threshold="20").collect()}
    expect = set()
    for i in range(200):
        thr = "80" if i % 2 == 0 else "20"
        if hashlib.md5(str(i).encode()).hexdigest()[:2] < thr:
            expect.add(i)
    assert got == expect


def test_per_document_ops_have_no_shuffle(spark):
    """The scale contract: PII, chunking and repetition are single-pass
    codegen — zero exchanges, zero Python evaluators."""
    df = _df(spark, [(i, f"word{i} common text body {i}") for i in range(50)])
    for op in (
        lambda d: pii_scan(d, "id", "text"),
        lambda d: chunk_tokens(d, "id", "text", 8),
        lambda d: repetition_stats(d, "id", "text"),
        lambda d: stratified_sample(d, "text", {"x": "80"}, "id"),
    ):
        rep = explain_report(op(df))
        assert rep["shuffles"] == 0, rep
        assert not rep["python_eval"], rep


def test_decontaminate_is_broadcast_join(spark):
    """Benchmark side broadcasts; the corpus is never shuffled for the
    join itself (one shuffle remains for the per-doc count aggregate)."""
    corpus = _df(spark, [(i, f"a b c d e f g h doc{i}") for i in range(50)])
    bench = _df(spark, [(0, "a b c d e f g h")])
    rep = explain_report(decontaminate(corpus, bench, "id", "text"))
    assert rep["joins"].get("BroadcastHashJoin", 0) >= 1, rep
    assert rep["joins"].get("SortMergeJoin", 0) == 0, rep


def test_quality_mixture_rates_favor_quality(spark):
    """The mixture keeps high-quality bands at a higher rate than the
    junk band, and the gate stays a deterministic no-shuffle filter."""
    from drill_spark.ops.pipeline import quality_mixture_sample

    rows = []
    for i in range(400):
        if i % 2 == 0:  # junky: few words
            rows.append((i, "x y"))
        else:  # clean english-ish, 60 words
            rows.append((i, "the quick brown fox jumps over the lazy dog and " * 6))
    df = local_frame(spark, rows, "doc_id bigint, text string")
    kept = quality_mixture_sample(df, "doc_id", "text").collect()
    junk_rate = sum(1 for r in kept if r.doc_id % 2 == 0) / 200
    clean_rate = sum(1 for r in kept if r.doc_id % 2 == 1) / 200
    assert clean_rate > junk_rate * 2, (junk_rate, clean_rate)
    rep = explain_report(quality_mixture_sample(df, "doc_id", "text"))
    assert rep["shuffles"] == 0 and not rep["python_eval"], rep


def test_cluster_balanced_sample(spark):
    """Embedding-space mixture balancing: per-cluster hash-gate rates
    hold (~rate per cluster, deterministic), unlisted clusters take the
    default, and the gate stays a plain filter over one assignment
    scan."""
    import numpy as np
    import pandas as pd

    from drill_spark.ops.pipeline import cluster_balanced_sample

    rng = np.random.default_rng(5)
    centers = np.eye(4)
    rows = []
    for i in range(2000):
        c = i % 4
        v = centers[c] * 10 + rng.normal(0, 0.2, 4)
        rows.append((i, [float(x) for x in v]))
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["vec_id", "embedding"]))
    out = cluster_balanced_sample(
        df, n_clusters=4,
        per_cluster_rate={0: "40", 1: "ff"},  # 25% and ~100%
        default_threshold="80",               # 50% elsewhere
    ).cache()
    total = out.count()
    assert 0 < total < 2000
    by_cell = {r.cell: r.cnt for r in
               out.groupBy("cell").count().withColumnRenamed("count", "cnt").collect()}
    # each k-means cell holds ~500 rows; rates within generous bounds
    per_rates = sorted(c / 500 for c in by_cell.values())
    assert per_rates[0] < 0.40          # the 25% cell
    assert per_rates[-1] > 0.90         # the ~100% cell
    # deterministic: same call, same survivors
    out2 = cluster_balanced_sample(
        df, n_clusters=4, per_cluster_rate={0: "40", 1: "ff"},
        default_threshold="80")
    assert {r.vec_id for r in out2.collect()} == \
        {r.vec_id for r in out.collect()}


def test_dsir_prefers_target_like_documents(spark):
    """DSIR (Xie et al. 2023): a corpus doc sharing the target's
    vocabulary must outweigh one from a disjoint vocabulary."""
    from drill_spark.ops.pipeline import dsir_weights

    target = _df(
        spark,
        [(100 + i, "alpha beta gamma delta epsilon zeta") for i in range(4)],
    )
    corpus = _df(
        spark,
        [
            (1, "alpha beta gamma delta"),  # target-like
            (2, "xray yankee zulu quebec"),  # off-distribution
            (3, "alpha beta xray yankee"),  # mixed
        ],
    )
    w = {
        r["id"]: r["dsir_weight"]
        for r in dsir_weights(corpus, target, "id", "text").collect()
    }
    assert w[1] > w[3] > w[2]


def test_dsir_model_table_is_broadcast(spark):
    """The per-bucket model table joins broadcast-side (bounded at
    65,536 rows regardless of corpus size)."""
    from drill_spark.ops.pipeline import dsir_weights

    corpus = _df(spark, [(i, f"word{i} alpha beta") for i in range(1, 40)])
    target = _df(spark, [(0, "alpha beta alpha beta")])
    rep = explain_report(dsir_weights(corpus, target, "id", "text"))
    assert rep["joins"].get("BroadcastHashJoin", 0) >= 1, rep
    assert not rep["python_eval"], rep


def test_pack_bins_invariants(spark):
    """FFD packing: every chunk assigned exactly once, no bin over
    capacity (absent oversize chunks), per-shard bin count within the
    FFD guarantee vs the token lower bound, and bin_fill is the true
    final fill of each bin."""
    from drill_spark.ops.pipeline import chunk_tokens, pack_bins

    docs = _df(
        spark,
        [(i, " ".join(f"w{i}x{j}" for j in range(5 + (i * 7) % 40)))
         for i in range(60)],
    )
    chunks = chunk_tokens(docs, "id", "text", max_tokens=16)
    packed = pack_bins(chunks, id_cols=("id", "chunk_id"),
                       capacity=32, n_shards=4).collect()
    n_chunks = chunks.count()
    assert len(packed) == n_chunks
    assert len({(r["id"], r["chunk_id"]) for r in packed}) == n_chunks
    import collections
    fills = collections.defaultdict(int)
    for r in packed:
        fills[r["bin_id"]] += r["n_tokens"]
        assert not r["oversize"]
    for r in packed:
        assert fills[r["bin_id"]] == r["bin_fill"]
        assert r["bin_fill"] <= 32
    shard_tokens = collections.defaultdict(int)
    shard_bins = collections.defaultdict(set)
    for r in packed:
        shard_tokens[r["shard"]] += r["n_tokens"]
        shard_bins[r["shard"]].add(r["bin_id"])
    import math
    for s, bins in shard_bins.items():
        lower = math.ceil(shard_tokens[s] / 32)
        assert len(bins) <= math.ceil(lower * 11 / 9) + 1, (s, len(bins), lower)


def test_pack_bins_oversize_and_determinism(spark):
    from drill_spark.ops.pipeline import pack_bins

    chunks = spark.createDataFrame(
        [(1, 0, 50), (1, 1, 10), (2, 0, 20), (3, 0, 25)],
        "doc_id bigint, chunk_id bigint, n_tokens bigint",
    )
    a = pack_bins(chunks, capacity=32, n_shards=2).collect()
    big = next(r for r in a if r["n_tokens"] == 50)
    assert big["oversize"] and big["bin_fill"] == 50
    # oversize chunk sits alone in its bin
    assert sum(1 for r in a if r["bin_id"] == big["bin_id"]) == 1
    b = pack_bins(chunks.repartition(3), capacity=32, n_shards=2).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_fixed_k_sample_exact_counts_and_determinism(spark):
    from drill_spark.ops.pipeline import fixed_k_sample

    df = spark.createDataFrame(
        [(i, "en" if i % 3 else "zh") for i in range(40)],
        "id bigint, lang string",
    )
    got = fixed_k_sample(df, "lang", "id", 5).collect()
    import collections
    by = collections.Counter(r["lang"] for r in got)
    assert by == {"en": 5, "zh": 5}
    again = fixed_k_sample(df.repartition(7), "lang", "id", 5).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, again))
    # stratum smaller than k: all rows kept
    small = fixed_k_sample(df.where("lang = 'zh'"), "lang", "id", 99).count()
    assert small == 14


def test_skew_profile_orders_and_ratios(spark):
    from drill_spark.ops.scale import skew_profile

    df = spark.createDataFrame(
        [(k,) for k in ["hot"] * 60 + ["warm"] * 30 + ["c1", "c2", "c3"]],
        "k string",
    )
    rows = skew_profile(df, "k", top=2).collect()
    assert [(r["key"], r["cnt"]) for r in rows] == [("hot", 60), ("warm", 30)]
    # 5 keys, 93 rows -> mean 18.6; hot skew = 60/18.6
    assert abs(rows[0]["skew"] - round(60 * 5 / 93, 4)) < 1e-9
    assert abs(rows[0]["share"] - round(60 / 93, 6)) < 1e-9


def test_novelty_score_fractions(spark):
    from drill_spark.ops.pipeline import novelty_score

    ref = _df(spark, [(100, "a b c d e f g h i j")])
    corpus = _df(spark, [
        (1, "a b c d e f g h i j"),        # fully seen
        (2, "x y z q r s t u v w"),        # fully novel
        (3, "a b c d e f g h zz"),         # 2 grams: 1 seen, 1 novel
    ])
    got = {r["id"]: r for r in
           novelty_score(corpus, ref, "id", "text").collect()}
    assert got[1]["novelty"] == 0.0
    assert got[2]["novelty"] == 1.0
    assert (got[3]["n_grams"], got[3]["n_seen"]) == (2, 1)
    assert got[3]["novelty"] == 0.5


def test_temperature_sample_flattens_mixture(spark):
    from drill_spark.ops.pipeline import temperature_sample

    # 900 'en' docs vs 100 'rare' docs; alpha=0.5 up-weights the rare
    # stratum relative to proportional sampling.
    rows = [(i, "en" if i < 900 else "rare") for i in range(1000)]
    df = spark.createDataFrame(rows, "id bigint, lang string")
    out = temperature_sample(df, "lang", "id", alpha=0.5, budget_frac=0.5)
    got = out.groupBy("lang").count().collect()
    by = {r["lang"]: r["count"] for r in got}
    # expected rates: w_en = 30/40, w_rare = 10/40 of a 500-row budget
    # -> rate_en = 500*0.75/900 ~= 0.4167, rate_rare = min(1, 500*0.25/100)=1.0
    assert by["rare"] == 100                      # rare stratum fully kept
    assert 290 <= by["en"] <= 460                 # ~0.4167 * 900, md5 noise
    # deterministic: same input -> identical sample
    a = {r["id"] for r in out.collect()}
    b = {r["id"] for r in temperature_sample(
        df, "lang", "id", alpha=0.5, budget_frac=0.5).collect()}
    assert a == b
    # alpha=1 is proportional sampling: every stratum gets the budget rate
    prop = temperature_sample(df, "lang", "id", alpha=1.0, budget_frac=0.5)
    gates = {r["lang"]: r["gate"] for r in prop.select("lang", "gate").distinct().collect()}
    assert gates["en"] == gates["rare"] == (1 << 23)


def test_temperature_sample_no_corpus_shuffle(spark):
    from drill_spark.ops.pipeline import temperature_sample

    rows = [(i, "s%d" % (i % 3)) for i in range(300)]
    df = spark.createDataFrame(rows, "id bigint, lang string")
    out = temperature_sample(df, "lang", "id")
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the corpus side reaches the join via broadcast, not an exchange:
    # the only shuffles allowed are the tiny stratum-count aggregations
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_luhn_scan_validates_and_redacts(spark):
    from drill_spark.ops.pipeline import luhn_scan

    rows = [
        (1, "pay with 4111 1111 1111 1111 today"),       # valid, spaced
        (2, "card 4111-1111-1111-1111 works"),           # valid, dashed
        (3, "order 4111111111111112 is not a card"),     # bad checksum
        (4, "ts 20260815 and id 123456 are short"),      # too short
        (5, "amex 378282246310005 ok"),                  # valid 15-digit
    ]
    got = {r["id"]: r for r in luhn_scan(
        spark.createDataFrame(rows, "id bigint, text string"),
        "id", "text").collect()}
    assert got[1]["n_card"] == 1 and "[CARD]" in got[1]["redacted"]
    assert "4111" not in got[1]["redacted"]
    assert got[2]["n_card"] == 1 and "[CARD]" in got[2]["redacted"]
    assert got[3]["n_card"] == 0 and got[3]["redacted"] == rows[2][1]
    assert got[4]["n_card"] == 0 and got[4]["redacted"] == rows[3][1]
    assert got[5]["n_card"] == 1 and "[CARD]" in got[5]["redacted"]
    plan = luhn_scan(
        spark.createDataFrame(rows, "id bigint, text string"),
        "id", "text")._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # one codegen pass, no shuffle


def test_weighted_sample_proportional_and_takeordered(spark):
    from drill_spark.ops.pipeline import weighted_sample

    # 500 light rows (w=1) vs 500 heavy rows (w=20): heavy rows should
    # dominate a k=100 sample (expected ~95 heavy)
    rows = [(i, 1.0 if i < 500 else 20.0) for i in range(1000)]
    df = spark.createDataFrame(rows, "id bigint, w double")
    got = weighted_sample(df, "id", "w", 100).collect()
    assert len(got) == 100
    heavy = sum(1 for r in got if r["id"] >= 500)
    assert heavy >= 80
    # deterministic
    again = weighted_sample(df, "id", "w", 100).collect()
    assert [r["id"] for r in got] == [r["id"] for r in again]
    # TakeOrdered, not a global sort
    plan = weighted_sample(df, "id", "w", 100)._jdf.queryExecution(
        ).executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_luhn_scan_randomized_parity(spark):
    """200 seeded random digit-runs vs a reference Python Luhn: the
    operator's per-row card count must match exactly (single Spark
    job for all cases)."""
    import random

    from drill_spark.ops.pipeline import luhn_scan

    rng = random.Random(42)

    def luhn_ok(num: str) -> bool:
        t = 0
        for i, ch in enumerate(reversed(num)):
            d = int(ch)
            if i % 2 == 1:
                d *= 2
                if d > 9:
                    d -= 9
            t += d
        return t % 10 == 0

    import re as _re

    from drill_spark.ops.pipeline import CARD_RE

    pat = _re.compile(CARD_RE)
    rows, expected = [], {}
    for i in range(200):
        n_digits = rng.randint(12, 21)
        num = "".join(rng.choice("0123456789") for _ in range(n_digits))
        sep = rng.choice(["", " ", "-"])
        shown = sep.join(num[j:j + 4] for j in range(0, len(num), 4)) \
            if sep else num
        text = f"ref {shown} end"
        rows.append((i, text))
        # reference model = the operator's contract: regex candidates
        # (same pattern, same non-overlapping semantics), Luhn-checked
        expected[i] = sum(
            1 for m in pat.findall(text)
            if 13 <= len(m.replace(" ", "").replace("-", "")) <= 19
            and luhn_ok(m.replace(" ", "").replace("-", "")))
    got = {r["id"]: r["n_card"] for r in luhn_scan(
        spark.createDataFrame(rows, "id bigint, text string"),
        "id", "text").collect()}
    assert got == expected


def test_heavy_hitters_exact_vs_bruteforce(spark):
    import random

    from drill_spark.ops.sketch import heavy_hitters

    rng = random.Random(7)
    rows = (["alpha"] * 400 + ["beta"] * 250 + ["gamma"] * 90
            + [f"t{rng.randrange(10_000)}" for _ in range(260)])
    rng.shuffle(rows)
    df = spark.createDataFrame([(v,) for v in rows], "value string") \
        .repartition(8)
    for k in (2, 5, 20):
        got = {(r.value, r.cnt)
               for r in heavy_hitters(df, "value", k=k).collect()}
        from collections import Counter
        c = Counter(rows)
        want = {(v, n) for v, n in c.items() if n * (k + 1) > len(rows)}
        assert got == want, (k, got ^ want)


def test_heavy_hitters_majority_and_nulls(spark):
    from drill_spark.ops.sketch import heavy_hitters

    rows = [("m",)] * 60 + [(None,)] * 30 + [("x",)] * 25 + [("y",)] * 15
    df = spark.createDataFrame(rows, "value string").repartition(4)
    # k=1: strictly-majority element among NON-NULL rows (100 of them)
    got = heavy_hitters(df, "value", k=1).collect()
    assert [(r.value, r.cnt) for r in got] == [("m", 60)]


def test_pagerank_sums_to_one_and_ranks_hub(spark):
    from drill_spark.ops.graph import pagerank

    # star + chain: everyone links to 0; 0 links to 1
    edges = [(i, 0) for i in range(1, 8)] + [(0, 1)]
    e = spark.createDataFrame(edges, "src long, dst long")
    pr = {r.node: r.rank for r in pagerank(e, iterations=20).collect()}
    assert abs(sum(pr.values()) - 1.0) < 1e-6
    assert pr[0] == max(pr.values())        # the hub dominates
    assert pr[1] > pr[2]                    # fed by the hub


def test_pagerank_dangling_mass_redistributes(spark):
    from drill_spark.ops.graph import pagerank

    # 0 -> 1 -> 2, 2 has NO out-edges (dangling)
    e = spark.createDataFrame([(0, 1), (1, 2)], "src long, dst long")
    pr = {r.node: r.rank for r in pagerank(e, iterations=30).collect()}
    assert abs(sum(pr.values()) - 1.0) < 1e-6  # mass conserved
    assert pr[2] > pr[1] > pr[0]


def test_html_links_extraction(spark):
    from pyspark.sql import functions as F

    from drill_spark.ops.text import html_links

    html = ('<a href="https://a.example/x">A</a> '
            "<A HREF='https://b.example/y'>B</A> "
            '<img src="z.png"> <a name="no-href">C</a>')
    df = spark.createDataFrame([(html,)], "html string")
    links = df.select(html_links(F.col("html")).alias("l")).first()["l"]
    assert links == ["https://a.example/x", "https://b.example/y"]


def test_build_mixture_hits_token_targets(spark):
    """Realized per-source token totals track weight * budget within
    one document's granularity + the fractional md5 gate's variance."""
    from drill_spark.ops.pipeline import build_mixture

    docs = spark.read.parquet(f"{SF_MED}/documents.parquet")
    weights = {"src0": 0.4, "src1": 0.3, "src2": 0.2, "src3": 0.1}
    budget = 200_000
    mix = build_mixture(docs, "source", "doc_id", "text", weights, budget)
    got = {r["source"]: r["tok"]
           for r in mix.groupBy("source")
           .agg(F.sum("n_tokens").alias("tok")).collect()}
    assert set(got) == set(weights)  # unlisted sources dropped
    for s, w in weights.items():
        target = w * budget
        assert abs(got[s] - target) / target < 0.25, (s, got[s], target)
    # over-sampled sources repeat: every source here is smaller than its
    # target, so at least one must have epoch >= 2
    assert mix.agg(F.max("epoch")).first()[0] >= 2
    # deterministic across re-runs
    again = build_mixture(docs, "source", "doc_id", "text", weights, budget)
    assert mix.exceptAll(again).count() == 0
    assert again.exceptAll(mix).count() == 0


def test_build_mixture_corpus_never_shuffles(spark):
    """The corpus side reaches the epoch fan-out through a broadcast
    join only — the only exchanges are on the tiny rates table."""
    from drill_spark.ops.pipeline import build_mixture

    docs = spark.read.parquet(f"{SF_MED}/documents.parquet")
    mix = build_mixture(docs, "source", "doc_id", "text",
                        {"src0": 1.0}, 1000)
    rep = explain_report(mix)
    assert rep["joins"].get("BroadcastHashJoin", 0) >= 1
    assert not rep["python_eval"]


def test_epoch_shuffle_decorrelates_epochs(spark):
    from drill_spark.ops.pipeline import epoch_shuffle

    docs = spark.read.parquet(f"{SF_MED}/documents.parquet")
    e1 = epoch_shuffle(docs.select("doc_id"), "doc_id", epoch=1, n_shards=4)
    e2 = epoch_shuffle(docs.select("doc_id"), "doc_id", epoch=2, n_shards=4)
    # same address space, different permutation
    n = docs.count()
    assert e1.count() == n and e2.count() == n
    j = e1.alias("a").join(e2.alias("b"), "doc_id").where(
        (F.col("a.shard") == F.col("b.shard"))
        & (F.col("a.pos") == F.col("b.pos")))
    assert j.count() < n * 0.05
    # pos is contiguous 1..n_shard within each shard
    per = e1.groupBy("shard").agg(
        F.count("*").alias("n"), F.max("pos").alias("mx"),
        F.min("pos").alias("mn")).collect()
    for r in per:
        assert r["mn"] == 1 and r["mx"] == r["n"]


def test_kmv_distinct_exact_below_k_and_bounded_above(spark):
    from drill_spark.ops.sketch import kmv_distinct

    rows = [(f"s{i % 3}", f"item{i % 200}") for i in range(2000)]
    df = spark.createDataFrame(rows, "seg string, item string")
    # k above cardinality: exact
    exact = kmv_distinct(df, "seg", "item", k=512).collect()
    for r in exact:
        assert r["est_distinct"] == float(r["n_hashes"])
    truth = {r["seg"]: r["d"]
             for r in df.groupBy("seg")
             .agg(F.count_distinct("item").alias("d")).collect()}
    for r in exact:
        assert r["est_distinct"] == truth[r["seg"]]
    # k below cardinality: unbiased estimator within 4 relative
    # standard errors (rse ~ 1/sqrt(k-2))
    est = kmv_distinct(df, "seg", "item", k=32).collect()
    for r in est:
        rse = 1.0 / (32 - 2) ** 0.5
        assert abs(r["est_distinct"] - truth[r["seg"]]) \
            <= 4 * rse * truth[r["seg"]], (r, truth[r["seg"]])


def test_kmv_sketch_is_partitioning_invariant(spark):
    """The merge is associative: the distributed sketch equals the
    single-partition sketch bit-for-bit (the property that makes the
    DuckDB oracle reproducible)."""
    from drill_spark.ops.sketch import kmv_distinct

    rows = [(f"s{i % 2}", f"v{i % 97}") for i in range(1500)]
    df = spark.createDataFrame(rows, "seg string, item string")
    one = sorted(map(tuple, kmv_distinct(
        df.coalesce(1), "seg", "item", k=16).collect()))
    many = sorted(map(tuple, kmv_distinct(
        df.repartition(13), "seg", "item", k=16).collect()))
    assert one == many


def test_kmv_overlap_tracks_exact_jaccard(spark):
    from drill_spark.ops.sketch import kmv_overlap

    # A = 0..299, B = 200..499  ->  |A|=|B|=300, inter=100, union=500
    rows = [("a", f"x{i}") for i in range(300)] + \
           [("b", f"x{i}") for i in range(200, 500)]
    df = spark.createDataFrame(rows, "seg string, item string")
    r = kmv_overlap(df, "seg", "item", "a", "b", k=128).first()
    assert abs(r["est_a"] - 300) < 90
    assert abs(r["est_union"] - 500) < 150
    assert abs(r["est_intersect"] - 100) < 60
    assert abs(r["jaccard"] - 0.2) < 0.12


def test_curation_pipeline_plan_shape(spark):
    """The composed raw-docs->shards plan: benchmark grams and mixture
    rates reach the corpus as broadcast joins, no cartesian product,
    no Python evaluator, and the corpus-scale exchanges stay bounded
    (digest agg + gram agg + dedup/anti joins + the final epoch/shard
    window)."""
    from drill_spark.ops.pipeline import curation_pipeline

    docs = spark.read.parquet(f"{SF_MED}/documents.parquet")
    out = curation_pipeline(
        docs.where(F.col("doc_id") % 20 != 0),
        docs.where(F.col("doc_id") % 20 == 0),
        "doc_id", "text", "source",
        {"src0": 0.5, "src1": 0.5}, token_budget=50_000, n_shards=8)
    rep = explain_report(out)
    assert rep["joins"].get("BroadcastHashJoin", 0) >= 2
    assert "CartesianProduct" not in rep["joins"]
    assert not rep["python_eval"]
    # 11 static exchanges since r13: build_mixture stages its narrow
    # (id, source, n_tokens) projection behind one repartition(id) so
    # the availability aggregate and the join-back probe share a
    # single execution of the upstream dedup/decontam subtree; the
    # staged exchange appears twice in the pre-AQE plan (identical
    # subtrees) and is reused at runtime, so the executed shuffle
    # count is unchanged while the corpus parse count halves.
    assert rep["shuffles"] <= 11
    # output invariants: pos contiguous per (epoch, shard)
    per = out.groupBy("epoch", "shard").agg(
        F.count("*").alias("n"), F.max("pos").alias("mx")).collect()
    assert per and all(r["mx"] == r["n"] for r in per)


def test_curation_audit_agrees_with_pipeline(spark):
    """Ledger⇄pipeline consistency: the audit's kept set (stage_dropped
    null) is exactly the pipeline's distinct output docs, per-doc
    n_epochs equals the pipeline's epoch fan-out, every input doc
    appears exactly once, and dropped stages carry their evidence
    (dup_of points at a smaller kept-or-dropped canonical, quality
    failers have no dup_of)."""
    from drill_spark.ops.pipeline import curation_audit, curation_pipeline

    docs = spark.read.parquet(f"{SF_MED}/documents.parquet")
    corpus = docs.where(F.col("doc_id") % 20 != 0)
    bench = docs.where(F.col("doc_id") % 20 == 0)
    args = ("doc_id", "text", "source", {"src0": 0.5, "src1": 0.5})
    pipe = curation_pipeline(corpus, bench, *args, token_budget=50_000,
                             n_shards=8)
    audit = curation_audit(corpus, bench, *args, token_budget=50_000)

    arows = audit.collect()
    assert len(arows) == corpus.count()
    assert len({r.doc_id for r in arows}) == len(arows)

    from collections import Counter
    pipe_epochs = Counter(r.doc_id for r in pipe.collect())
    kept = {r.doc_id: r.n_epochs for r in arows if r.stage_dropped is None}
    assert kept == dict(pipe_epochs)
    for r in arows:
        if r.stage_dropped == "dedup":
            assert r.dup_of is not None and r.dup_of < r.doc_id
        if r.stage_dropped == "quality":
            assert r.dup_of is None and r.n_epochs == 0
        if r.stage_dropped is None:
            assert r.n_epochs >= 1 and r.quality_pass
    # all four verdicts are exercised by the fixture or at least three
    stages = {r.stage_dropped for r in arows}
    assert None in stages and "quality" not in (None,)  # kept rows exist
    assert len(stages) >= 3, stages


def test_kmv_rolling_distinct_tracks_exact(spark):
    """Sketch-merged rolling distinct tracks the exact re-scan answer
    within KMV error bounds, and the merge never exceeds k hashes."""
    from drill_spark.ops.sketch import kmv_rolling_distinct

    ev = spark.read.parquet(f"{SF_MED}/events.parquet")
    got = {r["day"]: r for r in
           kmv_rolling_distinct(ev, "ts", "user_id", k=32, n_days=7)
           .collect()}
    exact = {r["day"]: (r["d1"], r["d7"]) for r in spark.sql(f"""
        with e as (select cast(date_trunc('day', ts) as date) as day,
                          user_id
                   from parquet.`{SF_MED}/events.parquet`),
        days as (select distinct day from e)
        select d.day,
               (select count(distinct user_id) from e
                where e.day = d.day) as d1,
               (select count(distinct user_id) from e
                where e.day between d.day - interval 6 days
                      and d.day) as d7
        from days d""").collect()}
    assert set(got) == set(exact)
    rse = 1.0 / (32 - 2) ** 0.5
    for day, (d1, d7) in exact.items():
        assert abs(got[day]["est_day"] - d1) <= 4 * rse * d1
        assert abs(got[day]["est_rolling"] - d7) <= 4 * rse * d7


def test_snapshot_diff_statuses(spark):
    from drill_spark.ops.dedup import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "id bigint, text string")
    new = spark.createDataFrame(
        [(2, "b"), (3, "C2"), (4, "d")], "id bigint, text string")
    got = {r["id"]: r["status"]
           for r in snapshot_diff(old, new, "id", "text").collect()}
    assert got == {1: "removed", 3: "changed", 4: "added"}  # 2 unchanged


def test_snapshot_diff_null_text(spark):
    """Null text hashes to a null digest; presence must still be
    classified by per-side flags, not digest nullness."""
    from drill_spark.ops.dedup import snapshot_diff

    old = spark.createDataFrame(
        [(1, None), (2, None), (3, "x"), (5, None)],
        "id bigint, text string")
    new = spark.createDataFrame(
        [(1, None), (3, None), (4, None)], "id bigint, text string")
    got = {r["id"]: r["status"]
           for r in snapshot_diff(old, new, "id", "text").collect()}
    # 1: null->null is unchanged (omitted); 2,5: removed even with null
    # text; 3: text->null is changed; 4: added even with null text.
    assert got == {2: "removed", 3: "changed", 4: "added",
                   5: "removed"}


def test_build_mixture_zero_token_source(spark):
    """A weighted source whose documents all tokenize to zero tokens is
    dropped instead of producing an Infinity rate / epoch explosion."""
    from drill_spark.ops.pipeline import build_mixture

    docs = spark.createDataFrame(
        [("web", 1, "alpha beta gamma"), ("web", 2, "delta epsilon"),
         ("empty", 3, ""), ("empty", 4, "   ")],
        "source string, doc_id bigint, text string")
    mix = build_mixture(docs, "source", "doc_id", "text",
                        {"web": 0.5, "empty": 0.5}, 100)
    rows = mix.collect()
    assert rows and all(r["source"] == "web" for r in rows)
    assert all(r["epoch"] >= 1 for r in rows)


def test_kmv_rolling_distinct_across_bucket_boundary(spark):
    """The distributed bucket-replicated window must produce windows
    identical to a global-order window even when a rolling window
    straddles a coarse-bucket boundary (day 365 looking back into the
    previous yearly bucket)."""
    import datetime

    from drill_spark.ops.sketch import kmv_rolling_distinct

    base = datetime.datetime(1970, 1, 1)
    rows = []
    # Days 360..370 of 1970 plus the first days of 1971: the yearly
    # bucket boundary (dnum 365) falls inside every 7-day window here.
    for d in list(range(359, 372)):
        for u in range(1, 40):
            rows.append((base + datetime.timedelta(days=d, hours=1),
                         (d * 7 + u) % 61))
    ev = spark.createDataFrame(rows, "ts timestamp, user_id bigint")
    got = {r["day"]: r["est_rolling"] for r in
           kmv_rolling_distinct(ev.repartition(13), "ts", "user_id",
                                k=512, n_days=7).collect()}
    ev.createOrReplaceTempView("__kmv_bucket_ev")
    exact = {r["day"]: r["d7"] for r in spark.sql("""
        with e as (select cast(date_trunc('day', ts) as date) as day,
                          user_id from __kmv_bucket_ev),
        days as (select distinct day from e)
        select d.day, (select count(distinct user_id) from e
                       where e.day between d.day - interval 6 days
                             and d.day) as d7
        from days d""").collect()}
    assert set(got) == set(exact)
    # k=512 >> 61 distinct users: every sketch is exact, so the rolling
    # estimate must EQUAL the true windowed distinct on every day,
    # including the ones whose lookback crosses the bucket boundary.
    for day, d7 in exact.items():
        assert got[day] == float(d7), (day, got[day], d7)


def test_rolling_quantiles_tracks_exact_within_bin_width(spark):
    """Histogram quantiles track the exact re-scan answer within one
    bin width (the operator's documented error bound)."""
    from drill_spark.ops.sketch import rolling_quantiles

    ev = spark.read.parquet(f"{SF_MED}/events.parquet")
    lo, hi, nb = 0.0, 500.0, 256
    got = {r["day"]: r for r in
           rolling_quantiles(ev, "ts", "value", lo, hi, n_bins=nb,
                             n_days=7).collect()}
    exact = {r["day"]: (r["p50"], r["p95"]) for r in spark.sql(f"""
        with e as (select cast(date_trunc('day', ts) as date) as day,
                          value
                   from parquet.`{SF_MED}/events.parquet`),
        days as (select distinct day from e)
        select d.day,
               (select percentile(value, 0.5) from e
                where e.day between d.day - interval 6 days and d.day)
                 as p50,
               (select percentile(value, 0.95) from e
                where e.day between d.day - interval 6 days and d.day)
                 as p95
        from days d""").collect()}
    width = (hi - lo) / nb
    assert set(got) == set(exact)
    for day, (p50, p95) in exact.items():
        assert abs(got[day]["q50"] - p50) <= width + 1e-9
        assert abs(got[day]["q95"] - p95) <= width + 1e-9


def test_kmv_sketch_single_shuffle_contract(spark):
    """The sketch's only exchange is the tiny partial-merge groupBy —
    the raw rows never shuffle (the whole point at 100 TB)."""
    from drill_spark.ops.sketch import kmv_distinct

    docs = spark.read.parquet(f"{SF_MED}/documents.parquet")
    rep = explain_report(kmv_distinct(docs, "lang", "text", k=16))
    assert rep["shuffles"] == 1
    assert "CartesianProduct" not in rep["joins"]


def test_kmv_property_partitioning_and_subset(spark):
    """Property check over randomized-ish inputs: (a) the sketch is
    partitioning-invariant, (b) every sketch hash belongs to the true
    global hash set (k smallest distinct)."""
    import hashlib

    vals = [f"w{(i * 7919) % 613}" for i in range(3000)]
    df = spark.createDataFrame([("s", v) for v in vals],
                               "seg string, item string")
    from drill_spark.ops.sketch import _kmv_sketches

    for k in (4, 33, 100):
        one = _kmv_sketches(df.coalesce(1), "seg", "item", k).first()
        many = _kmv_sketches(df.repartition(17), "seg", "item", k).first()
        assert one["hashes"] == many["hashes"]
        truth = sorted({
            int(hashlib.md5(v.encode()).hexdigest()[:15], 16)
            for v in vals})[:k]
        assert one["hashes"] == truth


def test_cms_never_underestimates_and_bounded(spark):
    from drill_spark.ops.sketch import cms_build, cms_estimate

    n, w, d = 5000, 512, 4
    rows = [(f"k{i % 37}",) for i in range(n)]
    df = spark.createDataFrame(rows, "key string")
    sk = cms_build(df, "key", width=w, depth=d)
    # sketch mass conservation: every hash row sums to n
    per_row = {r["j"]: r["s"] for r in
               sk.groupBy("j").agg(F.sum("c").alias("s")).collect()}
    assert per_row == {j: n for j in range(d)}
    probes = df.distinct()
    got = {r["key"]: r["est"]
           for r in cms_estimate(sk, probes, "key", width=w,
                                 depth=d).collect()}
    truth = {r["key"]: r["c"] for r in
             df.groupBy("key").agg(F.count("*").alias("c")).collect()}
    for kk, t in truth.items():
        assert got[kk] >= t                      # CMS never underestimates
        assert got[kk] <= t + 3 * (n // w) + 3   # collision bound
    # absent key estimates only collision mass
    miss = cms_estimate(
        sk, spark.createDataFrame([("zzz",)], "key string"),
        "key", width=w, depth=d).first()
    assert 0 <= miss["est"] <= 3 * (n // w) + 3


def test_build_mixture_partitioning_invariant(spark):
    """Content-addressed gates make the mixture independent of physical
    partitioning — the reproducibility contract."""
    from drill_spark.ops.pipeline import build_mixture

    rows = [(i, f"src{i % 3}", " ".join(f"w{j}" for j in range(i % 9 + 1)))
            for i in range(400)]
    df = spark.createDataFrame(rows, "doc_id bigint, source string, text string")
    w = {"src0": 0.5, "src1": 0.3, "src2": 0.2}
    a = build_mixture(df.coalesce(1), "source", "doc_id", "text", w, 9000)
    b = build_mixture(df.repartition(19), "source", "doc_id", "text", w, 9000)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_sketch_merges_equal_sketch_of_union(spark):
    """Mergeability is exact: merging per-dataset sketches equals
    sketching the unioned data — CMS counter-wise, KMV k-minima."""
    from drill_spark.ops.sketch import (_kmv_sketches, cms_build,
                                        cms_merge, kmv_merge)

    a = spark.createDataFrame([(f"k{i % 11}",) for i in range(500)],
                              "key string")
    b = spark.createDataFrame([(f"k{i % 17}",) for i in range(700)],
                              "key string")
    u = a.unionByName(b)
    merged = cms_merge(cms_build(a, "key", 64, 3),
                       cms_build(b, "key", 64, 3))
    assert sorted(map(tuple, merged.collect())) == \
        sorted(map(tuple, cms_build(u, "key", 64, 3).collect()))

    sa = a.selectExpr("'s' as seg", "key as item")
    sb = b.selectExpr("'s' as seg", "key as item")
    km = kmv_merge(_kmv_sketches(sa, "seg", "item", 8),
                   _kmv_sketches(sb, "seg", "item", 8), "seg", 8)
    ku = _kmv_sketches(sa.unionByName(sb), "seg", "item", 8)
    assert sorted(map(tuple, km.collect())) == \
        sorted(map(tuple, ku.collect()))


_WS = r"[ \t\n\x0b\f\r]+"  # Java's \s (ASCII whitespace)


def _round4(x):
    """Spark's round(double, 4): HALF_UP on the double's shortest repr
    (Python's round() is half-to-even)."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(repr(x)).quantize(Decimal("0.0001"), ROUND_HALF_UP))


_GOPHER_LIMITS = {
    "dup_line_frac": 0.30, "dup_para_frac": 0.30,
    "dup_line_char_frac": 0.20, "dup_para_char_frac": 0.20,
    "top_2gram_char_frac": 0.20, "top_3gram_char_frac": 0.18,
    "top_4gram_char_frac": 0.16,
    "dup_5gram_char_frac": 0.15, "dup_6gram_char_frac": 0.14,
    "dup_7gram_char_frac": 0.13, "dup_8gram_char_frac": 0.12,
    "dup_9gram_char_frac": 0.11, "dup_10gram_char_frac": 0.10,
}


def _gopher_replay(text):
    """Exhaustive Python replay of one gopher_repetition row; None for
    a document with no tokens (excluded from the table)."""
    import collections
    import re

    if text is None:
        return None
    low = text.lower()
    tk = [t for t in re.split(_WS, low) if t]
    if not tk:
        return None
    total = sum(len(t) for t in tk)
    exp = {}
    for n in range(2, 11):
        grams = [" ".join(tk[j:j + n]) for j in range(len(tk) - n + 1)]
        cnt = collections.Counter(grams)
        if n <= 4:
            ch = 0
            if grams:
                g, c = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[0]
                ch = c * (len(g) - (n - 1))
            exp[f"top_{n}gram_char_frac"] = _round4(ch / total)
        else:
            covered = set()
            for j, g in enumerate(grams):
                if cnt[g] >= 2:
                    covered.update(range(j, j + n))
            exp[f"dup_{n}gram_char_frac"] = _round4(
                sum(len(tk[q]) for q in covered) / total)
    for sep, occ, chrn in (
            ("\n", "dup_line_frac", "dup_line_char_frac"),
            ("\n\n", "dup_para_frac", "dup_para_char_frac")):
        segs = [re.sub(f"^{_WS}|{_WS}$", "", x) for x in low.split(sep)]
        segs = [x for x in segs if x]
        c = collections.Counter(segs)
        dupsegs = [x for x in segs if c[x] >= 2]
        exp[occ] = _round4(len(dupsegs) / len(segs)) if segs else 0.0
        tc = sum(len(x) for x in segs)
        exp[chrn] = (_round4(sum(len(x) for x in dupsegs) / tc)
                     if tc else 0.0)
    exp["flagged"] = any(exp[k] > t for k, t in _GOPHER_LIMITS.items())
    return exp


def _assert_gopher_matches_replay(df, rows):
    from drill_spark.ops.pipeline import gopher_repetition

    got = {r.doc_id: r.asDict() for r in gopher_repetition(df).collect()}
    want = {i: _gopher_replay(t) for i, t in rows}
    assert set(got) == {i for i, e in want.items() if e is not None}
    for i, row in got.items():
        for k, v in want[i].items():
            assert row[k] == v, (i, k, row[k], v)
    return got


def test_gopher_repetition_full_table(spark):
    """Full Gopher Table A1 signals equal an exhaustive Python replay
    on planted fixtures: heavy n-gram repetition, duplicate lines,
    duplicate paragraphs, and a clean doc."""
    rows = [
        (0, "the cat sat the cat sat the cat sat"),
        (1, "completely unique words in this one longer sentence here"),
        (2, "line one\nline one\nline two"),
        (3, "para a\n\npara a\n\npara b"),
        (4, "w1 w2 w3 w4 w5 w6 filler w1 w2 w3 w4 w5 w6"),  # dup 6-gram
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = _assert_gopher_matches_replay(df, rows)

    assert got[0]["flagged"] is True          # "the cat sat" x3
    assert got[2]["dup_line_frac"] > 0.3      # 2 of 3 lines duplicated
    assert got[3]["dup_para_frac"] > 0.3
    assert got[4]["dup_6gram_char_frac"] > 0.5


def test_gopher_repetition_edge_docs_and_fixture_match_replay(spark):
    """Edge docs (empty, NULL, whitespace-only, single word,
    interior-whitespace paragraph residue, repeated everything, a
    shorter-than-10-token doc) and the sampled documents fixture
    against the Python replay; hand-computed values pin the replay
    itself, and the output schema is fixed."""
    from drill_spark.ops.pipeline import gopher_repetition
    from drill_spark.session import load_fixture

    from .conftest import SF_DIR

    rows = [
        (0, "the cat sat the cat sat the cat sat"),
        (5, ""),                      # zero tokens: excluded entirely
        (6, "   \n  \n   "),          # whitespace-only: excluded
        (7, "word"),                  # single token
        (8, "a b\n \t\nx  y\n\na b"),   # residue whitespace at edges
        (9, "dup dup\n\ndup dup\n\ndup dup"),
        (10, None),                   # NULL text: excluded
        (11, "\tlead tab"),
        (12, "one two three four five six seven eight nine ten "
             "| one two three four five six seven eight nine ten"),
    ]
    edge = spark.createDataFrame(rows, "doc_id long, text string")
    got = _assert_gopher_matches_replay(edge, rows)
    assert set(got) == {0, 7, 8, 9, 11, 12}
    # hand-computed: "word" has no n-grams and one unique line
    assert {k: v for k, v in got[7].items() if k != "doc_id"} == {
        **{k: 0.0 for k in _GOPHER_LIMITS}, "flagged": False}
    # doc 9: 3 equal paragraphs, 6 "dup" tokens (18 chars); the top
    # 2-gram "dup dup" occurs 5 times x 6 token chars = 30 of 18
    assert got[9]["dup_para_frac"] == 1.0
    assert got[9]["dup_line_char_frac"] == 1.0
    assert got[9]["top_2gram_char_frac"] == round(5 * 6 / 18, 4)
    # doc 8: lines "a b" x2, "x  y", paragraphs "a b\n \t\nx  y", "a b"
    assert got[8]["dup_line_frac"] == 0.6667
    assert got[8]["dup_para_frac"] == 0.0
    # doc 12: a repeated 10-gram covers 78 of 79 token chars
    assert got[12]["dup_10gram_char_frac"] == 0.9873

    docs = load_fixture(spark, SF_DIR, "documents")
    fixture = [(r.doc_id, r.text) for r in docs.select("doc_id", "text")
               .collect()]
    assert len(_assert_gopher_matches_replay(docs, fixture)) > 0

    assert [(f.name, f.dataType.simpleString())
            for f in gopher_repetition(edge).schema.fields] == [
        ("doc_id", "bigint"),
        ("dup_line_frac", "double"), ("dup_line_char_frac", "double"),
        ("dup_para_frac", "double"), ("dup_para_char_frac", "double"),
        ("top_2gram_char_frac", "double"), ("top_3gram_char_frac", "double"),
        ("top_4gram_char_frac", "double"),
        *[(f"dup_{n}gram_char_frac", "double") for n in range(5, 11)],
        ("flagged", "boolean")]


def test_gopher_repetition_many_line_doc(spark):
    """The dup-line/paragraph metrics must stay linear-ish in the
    segment count: a 10^4-line document is a normal web page dump, and
    the pre-r12 nested-filter form cost O(lines^2) comparisons inside
    one projection (ADVICE r11). Correctness on an exactly-known
    mixture doubles as the regression anchor."""
    from drill_spark.ops.pipeline import gopher_repetition

    # 8000 duplicated lines (4000 values x2) + 2000 unique lines
    lines = [f"dup line {i // 2} text" for i in range(8000)]
    lines += [f"unique line {i} payload" for i in range(2000)]
    df = spark.createDataFrame(
        [(0, "\n".join(lines))], "doc_id long, text string")
    r = gopher_repetition(df).select(
        "dup_line_frac", "dup_line_char_frac").collect()[0]
    assert r.dup_line_frac == 0.8
    dchars = sum(len(x) for x in lines[:8000])
    tchars = sum(len(x) for x in lines)
    assert abs(r.dup_line_char_frac - round(dchars / tchars, 4)) < 1e-9


def test_chunk_tokens_stride_overlap(spark):
    """Sliding-window chunking: consecutive windows overlap by
    max_tokens - stride, coverage is gap-free, default stride equals
    the old non-overlapping behavior, and gaps are rejected."""
    import pytest

    from drill_spark.ops.pipeline import chunk_tokens

    text = " ".join(f"t{i}" for i in range(10))
    df = spark.createDataFrame([(0, text)], "doc_id long, text string")

    over = sorted((r.chunk_id, r.n_tokens) for r in
                  chunk_tokens(df, "doc_id", "text", max_tokens=4,
                               stride=2).collect())
    # starts 1,3,5,7,9 -> sizes 4,4,4,4,2
    assert over == [(0, 4), (1, 4), (2, 4), (3, 4), (4, 2)]

    plain = sorted((r.chunk_id, r.n_tokens) for r in
                   chunk_tokens(df, "doc_id", "text",
                                max_tokens=4).collect())
    explicit = sorted((r.chunk_id, r.n_tokens) for r in
                      chunk_tokens(df, "doc_id", "text", max_tokens=4,
                                   stride=4).collect())
    assert plain == explicit == [(0, 4), (1, 4), (2, 2)]

    with pytest.raises(ValueError):
        chunk_tokens(df, "doc_id", "text", max_tokens=4, stride=5)
    with pytest.raises(ValueError):
        chunk_tokens(df, "doc_id", "text", max_tokens=4, stride=0)


def test_binary_auc_matches_pair_counting(spark):
    """binary_auc equals the O(P*N) definition (fraction of
    (pos, neg) pairs ranked correctly, ties at 0.5) on a labeled
    fixture with planted overlap; calibration bins and Brier replay
    exactly; the corpus-scale plan is one partial-agg groupBy (the
    ordered window runs on the bounded distinct-bin table)."""
    import itertools

    from drill_spark.ops.mlmetrics import (
        binary_auc,
        brier_score,
        calibration_bins,
    )

    rows = []
    import hashlib
    for i in range(400):
        y = 1 if i % 3 == 0 else 0
        h = int(hashlib.md5(str(i).encode()).hexdigest()[:6], 16)
        rows.append((i, y, (h % 700000) / 1e6 + 0.3 * y))
    df = local_frame(spark, rows, "doc_id long, y int, score double")

    r = binary_auc(df, "y", "score").collect()[0]
    pos = [s for _, y, s in rows if y == 1]
    neg = [s for _, y, s in rows if y == 0]
    u = sum(1.0 if p > n else 0.5 if p == n else 0.0
            for p, n in itertools.product(pos, neg))
    import math
    exp_auc = math.floor(u / (len(pos) * len(neg)) * 1e6) / 1e6
    assert (r.n_pos, r.n_neg) == (len(pos), len(neg))
    assert abs(r.auc - exp_auc) < 1e-9, (r.auc, exp_auc)
    assert 0.6 < r.auc < 1.0  # planted overlap: informative, not perfect

    cb = calibration_bins(df, "y", "score").collect()
    assert [c.bin for c in cb] == sorted({min(int(s * 10), 9)
                                          for _, _, s in rows})
    assert sum(c.n for c in cb) == 400
    for c in cb:
        members = [(y, s) for _, y, s in rows if min(int(s * 10), 9) == c.bin]
        assert c.n == len(members)
        assert c.n_pos == sum(y for y, _ in members)

    b = brier_score(df, "y", "score").collect()[0]
    exp_b = sum((math.floor(s * 1e6) - y * 1e6) ** 2
                for _, y, s in rows) / (400 * 1e12)
    assert abs(b.brier - math.floor(exp_b * 1e6) / 1e6) < 1e-9

    # scale shape: the groupBy partial-aggregates before any exchange
    from drill_spark.plans import explain_report
    rep = explain_report(binary_auc(df, "y", "score"))
    assert not rep["python_eval"]


def test_stratified_weighted_sample_replay(spark):
    """Per-stratum Sequential Poisson carve: exactly min(k, |stratum|)
    rows per stratum, keys equal the manual u/w replay, zero/negative
    weights excluded, and heavier rows win ties of u (for equal md5
    draws a larger weight gives a smaller key)."""
    import hashlib

    from drill_spark.ops.pipeline import stratified_weighted_sample

    rows = [(i, "s" + str(i % 3), float(1 + i % 7)) for i in range(120)]
    rows += [(200, "s0", 0.0), (201, "s1", -2.0)]      # excluded
    df = spark.createDataFrame(rows, "doc_id long, g string, w double")
    got = stratified_weighted_sample(df, "doc_id", "w", k=10,
                                     strata_col="g").collect()

    def xi(i, w):
        h = int(hashlib.md5(str(i).encode()).hexdigest()[:6], 16)
        return (h + 1) / (1 << 24) / w

    exp = {}
    import math
    for i, g, w in rows:
        if w > 0:
            exp.setdefault(g, []).append((xi(i, w), i))
    expect = set()
    for g, lst in exp.items():
        for key, i in sorted(lst)[:10]:
            expect.add((i, g, math.floor(key * 1e10) / 1e10))
    assert {(r.doc_id, r.g, r.xi) for r in got} == expect
    from collections import Counter
    per = Counter(r.g for r in got)
    assert all(v == 10 for v in per.values())
    assert 200 not in {r.doc_id for r in got}
    assert 201 not in {r.doc_id for r in got}


def test_binary_auc_by_group_matches_global_per_slice(spark):
    """Per-group AUC equals binary_auc run on each slice; a group with
    one class reports NULL (undefined, surfaced not skipped)."""
    import hashlib

    from drill_spark.ops.mlmetrics import binary_auc, binary_auc_by_group

    rows = []
    for i in range(300):
        g = f"g{i % 3}"
        y = 1 if i % 4 == 0 else 0
        h = int(hashlib.md5(str(i).encode()).hexdigest()[:6], 16)
        rows.append((i, g, y, (h % 600000) / 1e6 + 0.35 * y))
    rows += [(900, "only_pos", 1, 0.9), (901, "only_pos", 1, 0.8)]
    df = spark.createDataFrame(rows, "doc_id long, g string, y int, score double")
    got = {r.g: (r.n_pos, r.n_neg, r.auc)
           for r in binary_auc_by_group(df, "g", "y", "score").collect()}
    for grp in ("g0", "g1", "g2"):
        exp = binary_auc(df.where(df.g == grp), "y", "score").collect()[0]
        assert got[grp] == (exp.n_pos, exp.n_neg, exp.auc), grp
    assert got["only_pos"] == (2, 0, None)


def test_incremental_curation_audit_protocol(spark, tmp_path):
    """Cross-run ledger protocol: batch 1 marks docs whose digest
    batch 0 committed as dedup_prior (with the introducing batch id),
    within-batch dups as dedup, benchmark leaks as decontam; a replay
    of a committed batch recomputes the same ledger without growing
    the store; a skipped-ahead batch_id raises."""
    import pytest

    from drill_spark.ops.pipeline import incremental_curation_audit
    from drill_spark.readers.delta import read_delta

    bench = spark.createDataFrame(
        [(1000, "benchmark eight gram one two three four five six")],
        "doc_id long, text string")
    b0 = spark.createDataFrame([
        (0, "the original canonical document body with enough words"),
        (2, "another perfectly fine unique document here today ok"),
        (4, "xx"),                                        # quality fail
    ], "doc_id long, text string").withColumn("source", F.lit("s"))
    b1 = spark.createDataFrame([
        (1, "the original canonical document body with enough words"),
        (3, "a brand new essay that nobody has ever written before"),
        (5, "a brand new essay that nobody has ever written before"),
        (7, "leak: benchmark eight gram one two three four five six !"),
        (9, "yy"),                                        # quality fail
    ], "doc_id long, text string").withColumn("source", F.lit("s"))
    store = str(tmp_path / "store")
    led0 = incremental_curation_audit(b0, bench, store).collect()
    assert {r.doc_id: r.stage_dropped for r in led0} == {
        0: None, 2: None, 4: "quality"}

    led1 = {r.doc_id: r for r in
            incremental_curation_audit(b1, bench, store).collect()}
    assert led1[1].stage_dropped == "dedup_prior"
    assert led1[1].dup_batch == 0 and led1[1].dup_of is None
    assert led1[3].stage_dropped is None
    assert led1[5].stage_dropped == "dedup" and led1[5].dup_of == 3
    assert led1[7].stage_dropped == "decontam" and led1[7].contaminated
    assert led1[9].stage_dropped == "quality"

    n_store = read_delta(spark, store).count()
    replay = {r.doc_id: r.stage_dropped for r in
              incremental_curation_audit(b1, bench, store,
                                         batch_id=1).collect()}
    assert replay == {k: v.stage_dropped for k, v in led1.items()}
    assert read_delta(spark, store).count() == n_store  # no re-append

    # create a gap (batch 3 skips 2), then the uncommitted id below the
    # high-water mark raises
    incremental_curation_audit(b0, bench, store, batch_id=3).count()
    with pytest.raises(ValueError, match="never committed"):
        incremental_curation_audit(b1, bench, store, batch_id=2)


def test_mlmetrics_degenerate_inputs_null_not_nan(spark):
    """Single-class input (plausible first streaming micro-batch)
    surfaces auc = NULL — matching binary_auc_by_group — never NaN;
    empty input gives brier = NULL."""
    from drill_spark.ops.mlmetrics import binary_auc, brier_score

    only_pos = spark.createDataFrame(
        [(0, 1, 0.9), (1, 1, 0.4)], "doc_id long, y int, score double")
    r = binary_auc(only_pos, "y", "score").collect()[0]
    assert (r.n_pos, r.n_neg, r.auc) == (2, 0, None)
    r = binary_auc(only_pos.withColumn("y", F.lit(0)),
                   "y", "score").collect()[0]
    assert (r.n_pos, r.n_neg, r.auc) == (0, 2, None)

    b = brier_score(only_pos.where(F.lit(False)),
                    "y", "score").collect()[0]
    assert (b.n, b.brier) == (0, None)


def test_retrieval_eval_duplicate_ranks_count_once(spark):
    """A doc retrieved at several ranks <= k counts ONCE in hits_at_k
    (recall can never exceed 1.0) and RR uses its best rank."""
    from drill_spark.ops.mlmetrics import retrieval_eval

    retrieved = spark.createDataFrame([
        ("a", 11, 1), ("a", 11, 2), ("a", 11, 3),   # same doc thrice
        ("b", 20, 1), ("b", 21, 2), ("b", 20, 2),   # dup at rank 2
    ], "query_id string, doc_id long, rank int")
    relevant = spark.createDataFrame(
        [("a", 11), ("b", 20), ("b", 21)],
        "query_id string, doc_id long")
    got = {r.query_id: (r.n_rel, r.hits_at_k, r.recall_at_k, r.rr_micro)
           for r in retrieval_eval(retrieved, relevant, k=3).collect()}
    assert got["a"] == (1, 1, 1.0, 1000000)   # once, at min rank 1
    assert got["b"] == (2, 2, 1.0, 1000000)


def test_retrieval_eval_replay(spark):
    """recall@k / RR equal the by-hand definition on a planted ranking
    with a known relevance set; zero-hit queries report zeros, queries
    absent from the relevance set don't appear."""
    from drill_spark.ops.mlmetrics import retrieval_eval

    retrieved = spark.createDataFrame([
        ("a", 10, 1), ("a", 11, 2), ("a", 12, 3),
        ("b", 20, 1), ("b", 21, 2),
        ("c", 30, 1),
    ], "query_id string, doc_id long, rank int")
    relevant = spark.createDataFrame([
        ("a", 11), ("a", 12), ("a", 99),   # 2 of 3 hit, first at rank 2
        ("b", 77),                          # nothing retrieved hits
        ("d", 1),                           # query never retrieved
    ], "query_id string, doc_id long")
    got = {r.query_id: (r.n_rel, r.hits_at_k, r.recall_at_k, r.rr_micro)
           for r in retrieval_eval(retrieved, relevant, k=2).collect()}
    # k=2 cuts doc 12 (rank 3): only doc 11 counts for query a
    import math
    assert got["a"] == (3, 1, math.floor(1 / 3 * 1e6) / 1e6, 500000)
    assert got["b"] == (1, 0, 0.0, 0)
    assert got["d"] == (1, 0, 0.0, 0)
    assert "c" not in got                      # no relevance judgments


def test_sql_text_builders_quote_column_names(spark):
    """The SQL-text builders backtick-quote id_col/text_col: a frame whose
    columns are named `doc id`/`body text` gives the same rows as the
    plain-named run."""
    from drill_spark.ops import quote_ident
    from drill_spark.ops.pipeline import gopher_repetition
    from drill_spark.ops.search import window_cooccur
    from drill_spark.ops.text import trigram_lm_score

    plain = spark.createDataFrame([
        (1, "alpha beta gamma alpha beta delta"),
        (2, "line one\nline one\nline two"),
        (3, "para a\n\npara a\n\npara b alpha x delta"),
        (4, "the cat sat the cat sat the cat sat"),
    ], "doc_id long, text string")
    odd = plain.toDF("doc id", "body text")
    runs = [
        lambda df, i, t: gopher_repetition(df, id_col=i, text_col=t),
        lambda df, i, t: window_cooccur(df, ["alpha", "delta"], window=10,
                                        id_col=i, text_col=t),
        lambda df, i, t: trigram_lm_score(df, id_col=i, text_col=t),
    ]
    for run in runs:
        a = run(plain, "doc_id", "text")
        b = run(odd, "doc id", "body text")
        assert b.columns[0] == "doc id"
        got = sorted(map(tuple, b.collect()))
        assert got == sorted(map(tuple, a.collect())) and got
    assert quote_ident("a`b") == "`a``b`"
    assert spark.range(1).toDF("a`b").selectExpr(quote_ident("a`b")).columns == ["a`b"]
