"""ExactSubstr dedup (ops/substr.py): brute-force parity, property
tests, edge cases, and plan-shape assertions. The reference has no
substring dedup — this is the Lee et al. 2022 training-data primitive
the LLM-pipeline family adds; its test model mirrors the setsim suite
(exact operator == exhaustive Python replay, plans stay equi-joins).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from __spark_entry__ import REGISTRY
from drill_spark.ops.substr import substr_dedup, substr_duplicate_spans


def _toks(s: str) -> list[str]:
    return [t for t in s.lower().strip().split() if t]


def _brute_dedup(rows: list[tuple[int, str]], L: int) -> dict:
    """Keep-lowest-doc ExactSubstr replay in plain Python."""
    spans: dict[str, list[tuple[int, int]]] = {}
    for i, t in rows:
        tk = _toks(t)
        for p in range(len(tk) - L + 1):
            spans.setdefault(" ".join(tk[p:p + L]), []).append((i, p + 1))
    removed: dict[int, set[int]] = {}
    for occ in spans.values():
        mi = min(i for i, _ in occ)
        for i, p in occ:
            if i > mi:
                removed.setdefault(i, set()).update(range(p, p + L))
    out = {}
    for i, t in rows:
        tk = _toks(t)
        if not tk:
            continue
        cov = removed.get(i, set())
        kept = [w for q, w in enumerate(tk, 1) if q not in cov]
        out[i] = (len(tk), len(tk) - len(kept), " ".join(kept))
    return out


def _brute_spans(rows: list[tuple[int, str]], L: int) -> set:
    spans: dict[str, list[tuple[int, int]]] = {}
    for i, t in rows:
        tk = _toks(t)
        for p in range(len(tk) - L + 1):
            spans.setdefault(" ".join(tk[p:p + L]), []).append((i, p + 1))
    cov: dict[int, set[int]] = {}
    for occ in spans.values():
        if len({i for i, _ in occ}) >= 2:
            for i, p in occ:
                cov.setdefault(i, set()).update(range(p, p + L))
    out = set()
    for i, ps in cov.items():
        ps = sorted(ps)
        s = e = ps[0]
        for x in ps[1:]:
            if x == e + 1:
                e = x
            else:
                out.add((i, s, e, e - s + 1))
                s = e = x
        out.add((i, s, e, e - s + 1))
    return out


def test_substr_dedup_planted_duplicates(spark):
    """A verbatim 9-token span shared by three docs survives only in
    the lowest doc_id; a full-document duplicate empties out but still
    returns a row; unique docs pass through untouched."""
    shared = "quick brown fox jumps over the lazy dog tonight"
    rows = [
        (0, f"the {shared}"),
        (1, f"something else entirely here {shared} extra"),
        (2, "totally unique words nothing shared at all whatsoever"),
        (3, f"the {shared}"),        # full dup of doc 0
        (4, ""),                      # zero tokens -> excluded
        (5, f"prefix words then {shared} and a distinct tail section"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: (r.n_tokens, r.n_removed, r.clean_text)
           for r in substr_dedup(df, min_tokens=4).collect()}
    assert got == _brute_dedup(rows, 4)
    assert got[3] == (10, 10, "")          # fully removed, row kept
    assert got[0][1] == 0                  # canonical copy untouched
    assert 4 not in got                    # empty doc excluded
    # doc 5 keeps its unique head and tail around the removed middle
    assert got[5][2].startswith("prefix words then")
    assert got[5][2].endswith("distinct tail section")


def test_substr_spans_equals_brute_force(spark):
    rows = [
        (0, "a b c d e f g h i j"),
        (1, "x y a b c d e f q r"),      # shares a..f (6 tokens)
        (2, "m n o p q r s t u v"),
        (3, "p q r s t u extra words here now"),  # shares p..u with 2
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r.doc_id, r.start_tok, r.end_tok, r.n_tokens)
           for r in substr_duplicate_spans(df, min_tokens=3).collect()}
    assert got == _brute_spans(rows, 3)


def test_substr_dedup_within_doc_repeat_kept(spark):
    """A span repeated WITHIN one document only is never removed —
    cross-document is the contract (and the canonical doc keeps all
    its own occurrences even when the span also lives elsewhere)."""
    rows = [
        (0, "alpha beta gamma delta alpha beta gamma delta"),
        (1, "unrelated content alpha beta gamma delta trailing bits"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: (r.n_removed, r.clean_text)
           for r in substr_dedup(df, min_tokens=4).collect()}
    # doc 0 is canonical for every shared span: both its repeats stay
    assert got[0] == (0, rows[0][1])
    # doc 1 loses exactly the shared 4-token span
    assert got[1] == (4, "unrelated content trailing bits")


def test_substr_digest_mode_equals_exact_and_never_shuffles_spans(spark):
    """detect='digest' (128-bit md5 keys, the 100 TB path for corpora
    whose duplicate-hash set outgrows the broadcast threshold) returns
    the same rows as exact mode on real duplicates, honors score
    canonicalization, and — the plan contract — NO exchange in the
    whole job carries the span-string column; only (id, p, digest)
    payloads cross shuffles."""
    from drill_spark.plans import exchange_payload_columns

    shared = "quick brown fox jumps over the lazy dog tonight"
    rows = [
        (0, f"the {shared}"),
        (1, f"something else entirely here {shared} extra"),
        (2, "totally unique words nothing shared at all whatsoever"),
        (3, f"the {shared}"),
        (5, f"prefix words then {shared} and a distinct tail section"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    exact = substr_dedup(df, min_tokens=4).collect()
    digest = substr_dedup(df, min_tokens=4, detect="digest")
    assert sorted(map(tuple, digest.collect())) == sorted(map(tuple, exact))

    for col_list in exchange_payload_columns(digest):
        assert "span" not in col_list, col_list

    sp_exact = substr_duplicate_spans(df, min_tokens=4).collect()
    sp_digest = substr_duplicate_spans(df, min_tokens=4, detect="digest")
    assert (sorted(map(tuple, sp_digest.collect()))
            == sorted(map(tuple, sp_exact)))
    for col_list in exchange_payload_columns(sp_digest):
        assert "span" not in col_list, col_list

    # score canonicalization works under digest keys too
    sdf = spark.createDataFrame(
        [(i, t, float(i)) for i, t in rows],
        "doc_id long, text string, q double")
    se = substr_dedup(sdf, min_tokens=4, score_col="q").collect()
    sd = substr_dedup(sdf, min_tokens=4, score_col="q",
                      detect="digest").collect()
    assert sorted(map(tuple, sd)) == sorted(map(tuple, se))

    import pytest as _pt
    with _pt.raises(ValueError, match="detect"):
        substr_dedup(df, min_tokens=4, detect="nope")


def test_substr_positions_leading_whitespace(spark):
    """Token positions are 1-based AFTER whitespace stripping: a
    leading tab/newline must not shift every reported position by one
    (F.trim is space-only, so the split used to emit a '' first
    element; the audit report's start_tok/end_tok are user-facing)."""
    from drill_spark.ops.substr import _token_positions

    toks = _token_positions(
        spark.createDataFrame([(0, "\ta b c d e"), (1, "\n x y"),
                               (2, " \t\n ")], "doc_id long, text string"),
        "doc_id", "text").collect()
    got = {(r.id, r.p): r.tok for r in toks}
    assert got[(0, 1)] == "a" and got[(0, 5)] == "e"
    assert got[(1, 1)] == "x"
    assert not any(i == 2 for i, _ in got)  # all-whitespace -> no tokens

    rows = [
        (0, "\tshared run of five tokens plus a unique tail here"),
        (1, "\n\nshared run of five tokens plus other distinct material"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got_spans = {(r.doc_id, r.start_tok, r.end_tok, r.n_tokens)
                 for r in substr_duplicate_spans(df, min_tokens=5).collect()}
    assert got_spans == _brute_spans(rows, 5)
    assert all(s == 1 for _, s, _, _ in got_spans)  # both start at token 1


def test_substr_dedup_validates_min_tokens(spark):
    df = spark.createDataFrame([(0, "a b")], "doc_id long, text string")
    with pytest.raises(ValueError):
        substr_dedup(df, min_tokens=0)
    with pytest.raises(ValueError):
        substr_duplicate_spans(df, min_tokens=0)


def test_substr_dedup_property_random_corpora(spark):
    """Property: substr_dedup == exhaustive Python replay on random
    corpora — tiny vocabularies maximize accidental span collisions,
    and L sweeps through degenerate (1) and over-long (> doc) sizes."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    docs_strategy = st.lists(
        st.lists(st.integers(min_value=0, max_value=6),
                 min_size=0, max_size=12),
        min_size=1, max_size=8,
    )

    @settings(max_examples=10, deadline=None)
    @given(docs=docs_strategy, L=st.sampled_from([1, 2, 3, 5, 15]))
    def run(docs, L):
        rows = [(i, " ".join(f"w{x}" for x in tk))
                for i, tk in enumerate(docs)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r.doc_id: (r.n_tokens, r.n_removed, r.clean_text)
               for r in substr_dedup(df, min_tokens=L).collect()}
        assert got == _brute_dedup(rows, L)

    run()


def test_substr_dedup_plan_shape(spark):
    """The whole operator is Catalyst: no cartesian/NLJ (span
    detection is a hash-keyed groupBy + semi-join, not a self-join on
    inequality), no Python eval, and exactly one window pass builds
    the rolling spans."""
    from drill_spark import plans

    from .conftest import SF_DIR

    for name in ("ext_substr_dedup", "ext_substr_spans",
                 "ext_substr_decontam", "ext_gopher_repetition"):
        df = REGISTRY[name].build(spark, SF_DIR)
        assert not plans.has_python_eval(df), name
        phys = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in phys, name
        assert "BroadcastNestedLoopJoin" not in phys, name


def test_substr_decontaminate_planted(spark):
    """Benchmark spans are removed from every corpus occurrence (no
    canonical copy — the benchmark is the canonical text); disjoint
    docs pass through; corpus-internal duplication is NOT touched."""
    from drill_spark.ops.substr import substr_decontaminate

    corpus = spark.createDataFrame([
        (0, "alpha beta gamma delta unique tail here"),
        (1, "no overlap at all in this document"),
        (2, "prefix stuff beta gamma delta suffix"),
        (3, "shared corpus words shared corpus words"),  # internal dup only
    ], "doc_id long, text string")
    bench = spark.createDataFrame([
        (0, "question about beta gamma delta maybe"),
    ], "bench_id long, text string")
    got = {r.doc_id: (r.n_tokens, r.n_removed, r.clean_text)
           for r in substr_decontaminate(corpus, bench,
                                         min_tokens=3).collect()}
    assert got[0] == (7, 3, "alpha unique tail here")
    assert got[1] == (7, 0, "no overlap at all in this document")
    assert got[2] == (6, 3, "prefix stuff suffix")
    assert got[3] == (6, 0, "shared corpus words shared corpus words")


def test_incremental_substr_dedup_protocol(spark, tmp_path):
    """Two-batch protocol: batch 1 loses spans seen in batch 0 (the
    store) and within-batch keep-lowest; replaying a committed batch
    recomputes identically without re-appending; a skipped-ahead
    batch_id raises."""
    import pytest

    from drill_spark.ops.substr import incremental_substr_dedup
    from drill_spark.readers.delta import read_delta

    store = str(tmp_path / "store")
    b0 = spark.createDataFrame([
        (0, "one two three four five"),
        (1, "completely different words here"),
    ], "doc_id long, text string")
    r0 = {r.doc_id: r.n_removed
          for r in incremental_substr_dedup(b0, store,
                                            min_tokens=3).collect()}
    assert r0 == {0: 0, 1: 0}

    b1 = spark.createDataFrame([
        (10, "intro one two three four five outro"),
        (11, "fresh content alpha beta gamma"),
        (12, "fresh content alpha beta gamma"),
    ], "doc_id long, text string")
    r1 = {r.doc_id: (r.n_removed, r.clean_text)
          for r in incremental_substr_dedup(b1, store,
                                            min_tokens=3).collect()}
    assert r1[10] == (5, "intro outro")        # store hit
    assert r1[11] == (0, "fresh content alpha beta gamma")  # canonical
    assert r1[12] == (5, "")                   # within-batch dup

    n = read_delta(spark, store).count()
    replay = {r.doc_id: (r.n_removed, r.clean_text)
              for r in incremental_substr_dedup(b1, store, min_tokens=3,
                                                batch_id=1).collect()}
    assert replay == r1
    assert read_delta(spark, store).count() == n  # no re-append
    assert set(read_delta(spark, store).columns) == {"h", "batch_id"}

    incremental_substr_dedup(b1, store, min_tokens=3, batch_id=5).count()
    with pytest.raises(ValueError, match="never.*committed|high-water"):
        incremental_substr_dedup(b1, store, min_tokens=3,
                                 batch_id=3).count()


def test_substr_dedup_score_canonical(spark):
    """score_col flips the canonical copy: the duplicated span
    survives in the HIGHEST-scored document (ties to the smaller id),
    while the default keeps the lowest id."""
    shared = "alpha beta gamma delta epsilon"
    rows = [
        (0, f"head {shared} tail", 0.2),
        (1, f"other {shared} words", 0.9),   # best copy
        (2, f"{shared}", 0.9),               # ties doc 1 -> doc 1 wins
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, q double")

    default = {r.doc_id: r.n_removed
               for r in substr_dedup(df, min_tokens=5).collect()}
    assert default == {0: 5, 1: 5, 2: 5} or default[0] == 0
    assert default[0] == 0 and default[1] == 5 and default[2] == 5

    scored = {r.doc_id: r.n_removed
              for r in substr_dedup(df, min_tokens=5,
                                    score_col="q").collect()}
    assert scored == {0: 5, 1: 0, 2: 5}


def test_gopher_repetition_property_random(spark):
    """Property: gopher_repetition == exhaustive Python replay on
    random corpora (tiny vocab + random newlines drive every signal
    including segment duplication)."""
    import collections
    import re

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from drill_spark.ops.pipeline import gopher_repetition

    token_strategy = st.lists(
        st.one_of(st.integers(min_value=0, max_value=4),
                  st.just(-1),      # newline
                  st.just(-2)),     # blank line (paragraph break)
        min_size=1, max_size=30,
    )

    def render(seq):
        out = []
        for x in seq:
            out.append("\n" if x == -1 else "\n\n" if x == -2 else f"w{x} ")
        return "".join(out)

    @settings(max_examples=8, deadline=None)
    @given(docs=st.lists(token_strategy, min_size=1, max_size=4))
    def run(docs):
        rows = [(i, render(s)) for i, s in enumerate(docs)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r.doc_id: r.asDict()
               for r in gopher_repetition(df).collect()}

        def toks(s):
            return [t for t in s.lower().strip().split() if t]

        for i, text in rows:
            tk = toks(text)
            if not tk:
                assert i not in got
                continue
            total = sum(len(t) for t in tk)
            exp = {}
            for n in range(2, 11):
                grams = [" ".join(tk[j:j + n])
                         for j in range(len(tk) - n + 1)]
                cnt = collections.Counter(grams)
                if n <= 4:
                    ch = 0
                    if grams:
                        g, c = sorted(cnt.items(),
                                      key=lambda kv: (-kv[1], kv[0]))[0]
                        ch = c * (len(g) - (n - 1))
                    exp[f"top_{n}gram_char_frac"] = round(ch / total, 4)
                else:
                    covered = set()
                    for j, g in enumerate(grams):
                        if cnt[g] >= 2:
                            covered.update(range(j + 1, j + n + 1))
                    exp[f"dup_{n}gram_char_frac"] = round(
                        sum(len(tk[q - 1]) for q in covered) / total, 4)
            for sep, occ, chrn in (
                    ("\n", "dup_line_frac", "dup_line_char_frac"),
                    ("\n\n", "dup_para_frac", "dup_para_char_frac")):
                segs = [x.strip() for x in re.split(sep, text.lower())
                        if x.strip()]
                c = collections.Counter(segs)
                dupsegs = [s for s in segs if c[s] >= 2]
                exp[occ] = round(len(dupsegs) / len(segs), 4) if segs \
                    else 0.0
                tc = sum(len(s) for s in segs)
                exp[chrn] = round(sum(len(s) for s in dupsegs) / tc, 4) \
                    if tc else 0.0
            for k, v in exp.items():
                assert abs(got[i][k] - v) < 1e-9, (i, k, got[i][k], v)

    run()


def test_substr_contamination_report_planted(spark):
    """The report names the exact (benchmark, corpus) leak pairs with
    shared-window and covered-token counts; disjoint docs are absent."""
    from drill_spark.ops.substr import substr_contamination_report

    corpus = spark.createDataFrame([
        (0, "alpha beta gamma delta unique tail here"),
        (1, "no overlap at all in this document"),
        (2, "prefix beta gamma delta suffix beta gamma delta end"),
    ], "doc_id long, text string")
    bench = spark.createDataFrame([
        (0, "question about beta gamma delta maybe"),
        (1, "zeta eta theta"),
    ], "bench_id long, text string")
    got = {(r.bench_id, r.doc_id): (r.n_shared_windows, r.n_covered_tokens)
           for r in substr_contamination_report(
               bench, corpus, min_tokens=3).collect()}
    # bench 0's 3-windows include "beta gamma delta"; doc 0 has one
    # occurrence (3 tokens), doc 2 has two (6 tokens)
    assert got == {(0, 0): (1, 3), (0, 2): (2, 6)}
