"""Chat/instruction-data operators (ops/chat.py): structural
validation failure modes and exact ChatML rendering, plus the
zero-shuffle scale contract. Corpus-scale oracle compare runs in
test_extops.py via the ORACLES parametrization."""

from __future__ import annotations

from drill_spark.ops.chat import render_chat, validate_conversations
from drill_spark.plans.checks import explain_report
from drill_spark.session import local_frame

_SCHEMA = (
    "conv_id bigint, "
    "turns array<struct<role:string,content:string>>"
)


def _conv(spark, rows):
    return local_frame(spark, rows, _SCHEMA)


def _t(role, content):
    return {"role": role, "content": content}


def test_validate_failure_modes(spark):
    rows = [
        (1, [_t("user", "hi"), _t("assistant", "hello")]),  # ok
        (2, [_t("system", "be nice"), _t("user", "hi"),
             _t("assistant", "hello")]),  # ok with system
        (3, [_t("user", "hi")]),  # too_short
        (4, [_t("assistant", "hi"), _t("user", "x")]),  # bad_start
        (5, [_t("user", "a"), _t("user", "b"),
             _t("assistant", "c")]),  # bad_alternation
        (6, [_t("user", "a"), _t("assistant", "b"),
             _t("user", "c")]),  # bad_end
        (7, [_t("user", "a"), _t("assistant", "   ")]),  # empty_content
    ]
    got = {r["conv_id"]: r for r in
           validate_conversations(_conv(spark, rows)).collect()}
    assert got[1]["reason"] == "ok" and got[1]["valid"] is True
    assert got[2]["reason"] == "ok" and got[2]["n_turns"] == 3
    assert got[3]["reason"] == "too_short"
    assert got[4]["reason"] == "bad_start"
    assert got[5]["reason"] == "bad_alternation"
    assert got[6]["reason"] == "bad_end"
    assert got[7]["reason"] == "empty_content"
    assert all(not got[i]["valid"] for i in range(3, 8))


def test_render_chatml_exact(spark):
    rows = [(1, [_t("user", "hi"), _t("assistant", "hello there")])]
    out = render_chat(_conv(spark, rows)).collect()[0]["rendered"]
    assert out == (
        "<|im_start|>user\nhi<|im_end|>\n"
        "<|im_start|>assistant\nhello there<|im_end|>\n"
    )


def test_chat_ops_are_single_pass(spark):
    df = _conv(spark, [(i, [_t("user", "q"), _t("assistant", "a")])
                       for i in range(10)])
    for op in (validate_conversations, render_chat):
        rep = explain_report(op(df))
        assert rep["shuffles"] == 0, rep
        assert not rep["python_eval"], rep


def test_preference_pairs_extremes_and_margin_filter(spark):
    from drill_spark.ops.chat import preference_pairs

    df = spark.createDataFrame(
        [
            ("p1", "meh", 2), ("p1", "great", 9), ("p1", "bad", 0),
            ("p2", "tie-a", 5), ("p2", "tie-b", 5),  # margin 0 -> dropped
            ("p3", "only", 7),  # single candidate -> margin 0 -> dropped
        ],
        "prompt_id string, response string, score bigint",
    )
    got = {r["prompt_id"]: r for r in preference_pairs(df).collect()}
    assert list(got) == ["p1"]
    r = got["p1"]
    assert (r["chosen"], r["rejected"]) == ("great", "bad")
    assert (r["chosen_score"], r["rejected_score"], r["margin"]) == (9, 0, 9)
    assert r["n_candidates"] == 3


def test_preference_pairs_single_aggregation(spark):
    """No window, no self-join: one hash aggregate computes both
    extremes (max/min over a (score, response) struct)."""
    from drill_spark.ops.chat import preference_pairs

    df = local_frame(
        spark, [(f"p{i%4}", f"r{i}", i % 7) for i in range(40)],
        "prompt_id string, response string, score bigint",
    )
    rep = explain_report(preference_pairs(df))
    assert rep["shuffles"] <= 1, rep
    assert rep["joins"] == {} or not any(rep["joins"].values()), rep
    assert not rep["python_eval"], rep


def test_null_content_fails_validation_and_renders_empty(spark):
    """NULL turn content: validation must flag it (forall over a null
    predicate must not read as 'ok'), and rendering must keep the turn
    with empty content instead of silently dropping it."""
    from drill_spark.ops.chat import render_chat, validate_conversations

    rows = [(1, [("user", "hi"), ("assistant", None)])]
    df = spark.createDataFrame(
        rows, "conv_id bigint, turns array<struct<role string, content string>>")
    v = validate_conversations(df).head()
    assert not v["valid"] and v["reason"] == "empty_content"
    r = render_chat(df).head()["rendered"]
    assert r.count("<|im_start|>") == 2  # both turns present
    assert "<|im_start|>assistant\n<|im_end|>" in r


def test_preference_pairs_ignore_null_scores(spark):
    """One unscored candidate must not destroy the prompt's pair."""
    from drill_spark.ops.chat import preference_pairs

    rows = [("p1", "a", 1.0), ("p1", "b", 5.0), ("p1", "c", None)]
    df = spark.createDataFrame(
        rows, "prompt_id string, response string, score double")
    got = preference_pairs(df).collect()
    assert len(got) == 1
    r = got[0]
    assert r["chosen"] == "b" and r["rejected"] == "a"
    assert r["margin"] == 4.0
