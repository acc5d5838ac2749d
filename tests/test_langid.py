"""N-gram-profile language identification (ops/langid.py).

The Arrow-UDF kernel is pinned against the pure-Python replay
(`classify_lang_py`, with distances recomputed here) row-by-row — the
two share only the profile tables, so agreement checks the gram
extraction, counting, top-K ordering, and out-of-place distance
independently.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from drill_spark.ops.langid import (
    LANGS,
    TOP_K,
    classify_lang,
    classify_lang_py,
    lang_profiles,
    profile_values_sql,
)

SAMPLES = [
    ("the children were watching the river rise over the old stone "
     "bridge while their mother called them back inside the house",
     "en"),
    ("die kinder sahen zu wie der fluss ueber die alte steinerne "
     "bruecke stieg waehrend ihre mutter sie zurueck ins haus rief",
     "de"),
    ("les enfants regardaient la riviere monter sur le vieux pont de "
     "pierre pendant que leur mere les rappelait dans la maison",
     "fr"),
    ("los ninos miraban como el rio subia sobre el viejo puente de "
     "piedra mientras su madre los llamaba de vuelta a la casa",
     "es"),
    ("i bambini guardavano il fiume salire sopra il vecchio ponte di "
     "pietra mentre la madre li richiamava dentro casa",
     "it"),
    ("as criancas olhavam o rio subir sobre a velha ponte de pedra "
     "enquanto a mae as chamava de volta para dentro de casa",
     "pt"),
]

EDGE_TEXTS = [
    "",                    # no grams at all
    "     ",               # whitespace only
    "12345 67890 !!!",     # no letters
    "a",                   # single char (1-gram only)
    "ab",                  # shorter than the 3-gram width
    "THE THE THE the",     # case folding + repetition
    "zzz qqq xxx www kkk", # letters but nothing like any profile
]


def _classified(spark, texts):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id int, text string"
    )
    return {
        r["doc_id"]: (r["pred_lang"], r["lang_distance"])
        for r in classify_lang(df, keep_distance=True).collect()
    }


def test_profiles_are_deterministic_and_bounded():
    p1 = lang_profiles()
    assert sorted(p1) == LANGS
    for lang, prof in p1.items():
        assert 0 < len(prof) <= TOP_K
        assert len(set(prof)) == len(prof)
        # word-boundary grams (space-padded) must be present, but the
        # pure-whitespace gram itself is filtered out
        assert any(" " in g for g in prof)
        assert " " not in prof
    # VALUES-list oracle injection: one row per (lang, gram)
    n_rows = profile_values_sql().count("(")
    assert n_rows == sum(len(p) for p in p1.values())


def test_known_language_samples(spark):
    got = _classified(spark, [t for t, _ in SAMPLES])
    for i, (text, want) in enumerate(SAMPLES):
        assert got[i][0] == want, text[:40]
        assert got[i][1] is not None


def test_matches_python_replay_on_fixture_docs(spark):
    rows = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
        .collect()
    )
    texts = [r["text"] for r in rows]
    got = _classified(spark, texts)
    for i, t in enumerate(texts):
        assert got[i][0] == classify_lang_py(t)


def test_edge_cases_match_replay_und_is_null_distance(spark):
    got = _classified(spark, EDGE_TEXTS)
    for i, t in enumerate(EDGE_TEXTS):
        want = classify_lang_py(t)
        assert got[i][0] == want, repr(t)
        if want == "und":
            assert got[i][1] is None, repr(t)
        else:
            assert got[i][1] is not None, repr(t)


def test_null_text_classifies_und(spark):
    df = spark.createDataFrame([(0, None)], "doc_id int, text string")
    r = classify_lang(df, keep_distance=True).collect()[0]
    assert r["pred_lang"] == "und" and r["lang_distance"] is None


def test_survives_downstream_aggregation_plans(spark):
    """Regression for the plan-inlining hang: referencing pred_lang as
    a grouping key while aggregating an interpreted-HOF token count
    used to make Catalyst inline the normalization regexp into the
    per-gram transform lambda (O(len^2) per document — jstack showed
    RegExpReplace under ArrayTransform). With lambda-bound
    intermediates the same shape completes in linear time; texts here
    are long enough (~20 KB) that the quadratic plan would take
    minutes while the linear one takes seconds."""
    base = " ".join(["the quick brown fox jumps over the lazy dog"] * 400)
    df = spark.createDataFrame(
        [(i, base + f" tail {i}") for i in range(8)],
        "doc_id int, text string",
    )
    toks = F.size(
        F.filter(F.split(F.col("text"), r"\s+"), lambda w: w != "")
    )
    rows = (
        classify_lang(df)
        .groupBy("pred_lang")
        .agg(F.sum(toks).alias("n_tokens"))
        .collect()
    )
    assert rows == [("en", 8 * (9 * 400 + 2))] or [
        (r["pred_lang"], r["n_tokens"]) for r in rows
    ] == [("en", 8 * (9 * 400 + 2))]


def test_feeds_build_mixture_by_language(spark):
    from drill_spark.ops.pipeline import build_mixture

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    mix = build_mixture(
        classify_lang(docs), "pred_lang", "doc_id", "text",
        {"en": 0.6, "de": 0.4}, token_budget=5_000,
    )
    rows = mix.collect()
    assert rows, "mixture should select documents"
    assert {r["pred_lang"] for r in rows} <= {"en", "de"}
    assert all(r["epoch"] >= 1 for r in rows)


@pytest.mark.parametrize("lang", LANGS)
def test_seed_texts_self_classify(lang):
    from drill_spark.ops.langid import SEED_TEXTS

    assert classify_lang_py(SEED_TEXTS[lang]) == lang


def _replay_with_distance(text):
    """(lang, winning out-of-place distance) from the pure-Python
    profile code; ('und', None) when the text has no letter grams."""
    from drill_spark.ops.langid import _doc_profile

    doc = _doc_profile(text) if text is not None else []
    if not doc:
        return "und", None
    profiles = lang_profiles()
    dist, lang = min(
        (sum(abs((profiles[lg].index(g) if g in profiles[lg] else TOP_K)
                 - i) for i, g in enumerate(doc)), lg)
        for lg in LANGS)
    assert classify_lang_py(text) == lang
    return lang, dist


def test_predictions_and_distances_match_replay(spark):
    """Predictions AND distances equal the Python replay on the
    samples, every edge case, NULL text and the fixture documents;
    the output columns keep their types."""
    from .conftest import SF_DIR

    fixture = [r["text"] for r in spark.read.parquet(
        f"{SF_DIR}/documents.parquet").select("text").collect()]
    texts = [t for t, _ in SAMPLES] + EDGE_TEXTS + [None] + fixture
    got = _classified(spark, texts)
    assert got == {i: _replay_with_distance(t) for i, t in enumerate(texts)}
    assert got[len(SAMPLES) + len(EDGE_TEXTS)] == ("und", None)  # NULL

    df = spark.createDataFrame([(0, "x")], "doc_id int, text string")
    assert [(f.name, f.dataType.simpleString()) for f in classify_lang(
        df, keep_distance=True).schema.fields] == [
        ("doc_id", "int"), ("text", "string"), ("pred_lang", "string"),
        ("lang_distance", "bigint")]
