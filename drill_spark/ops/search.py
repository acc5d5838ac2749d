"""Full-text retrieval operators: BM25 top-k search, inverted-index
postings, and per-document TF-IDF keyword extraction.

The reference ships no search engine; this is part of the
training-data-pipeline extension surface (retrieval-style corpus
exploration and retrieval-based decontamination). Everything is a pure
Catalyst plan:

- the postings build is one tokenize+explode pass and one (term, doc)
  aggregation — at 100 TB this is the classic term-sharded inverted
  index and can be materialized once (``build_postings`` → write as
  parquet bucketed by term) and reused across queries;
- an inline BM25 search filters the exploded token stream to the
  query's terms BEFORE any shuffle, so only query-term postings move;
- document length comes from ``size(split(...))`` on the scan — no
  explode, no shuffle;
- per-term document frequencies and the corpus (N, avgdl) row are tiny
  aggregates joined back via broadcast;
- top-k is ``orderBy(...).limit(k)`` → TakeOrderedAndProject (per-
  partition heaps + driver merge of k rows), never a global sort.

Scores use Lucene's BM25 idf ``ln(1 + (N - df + 0.5)/(df + 0.5))``
(non-negative for df <= N) and tf-idf uses the sklearn smooth idf
``ln((1 + N)/(1 + df)) + 1``. Ranking compares scores rounded to 6
decimals (ties broken by id/term) so results are reproducible across
engines whose ``ln`` differs in the last ulp.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from drill_spark.ops import quote_ident
from drill_spark.ops.dedup import tokens
from drill_spark.ops.hofutil import bind_once

_K1 = 1.2
_B = 0.75


def _term_stream(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """One row per (id, token) occurrence; empty tokens dropped."""
    return (
        df.select(id_col, F.explode(tokens(F.col(text_col))).alias("term"))
        .where(F.col("term") != "")
    )


def build_postings(df: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """Inverted-index postings: one row per (term, id) with the term
    frequency. One explode + one aggregation (shuffle on (term, id));
    materialize with ``.write.bucketBy(n, "term")`` to make repeated
    searches scan-only."""
    return (
        _term_stream(df, id_col, text_col)
        .groupBy("term", id_col)
        .agg(F.count("*").alias("tf"))
    )


def doc_lengths(df: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """(id, dl) token counts straight off the scan — size(split()),
    zero shuffles."""
    return df.select(
        id_col,
        F.size(F.filter(tokens(F.col(text_col)), lambda t: t != "")).alias("dl"),
    )


def bm25_topk(df: DataFrame, query_terms: list[str], k: int = 10,
              k1: float = _K1, b: float = _B, id_col: str = "doc_id",
              text_col: str = "text",
              postings: DataFrame | None = None) -> DataFrame:
    """BM25 top-k document retrieval for a bag-of-words query.

    Returns (id, score) of the k highest-scoring documents, score
    rounded to 6 decimals, ranked (rounded score desc, id asc). When
    ``postings`` is given (a ``build_postings`` result, e.g. read back
    from a bucketed table) the text column is only used for document
    lengths; otherwise postings are built inline restricted to the
    query's terms, so the aggregation shuffle carries query-term rows
    only — at 100 TB that is a few rows per matching document, not the
    token stream.
    """
    terms = sorted({t.strip().lower() for t in query_terms if t.strip()})
    if not terms:
        raise ValueError("bm25_topk: empty query")

    if postings is None:
        stream = _term_stream(df, id_col, text_col)
        stream = stream.where(F.col("term").isin(terms))
        post = stream.groupBy("term", id_col).agg(F.count("*").alias("tf"))
    else:
        post = postings.where(F.col("term").isin(terms))

    dl = doc_lengths(df, id_col, text_col)
    corpus = dl.agg(
        F.count("*").alias("n_docs"),
        (F.sum("dl") / F.count("*")).alias("avgdl"),
    )
    # The no-op tf reference keeps this branch's copy of the postings
    # aggregate column-identical to the scorer's (r14, guide §2.4):
    # without it, column pruning drops the count from the df branch, the
    # two (term, id) exchanges stop being canonically equal, and the
    # executed plan re-runs the whole corpus tokenize + shuffle a second
    # time just to count document frequencies (ReusedExchange evidence in
    # plans/r14/ext_bm25_batch_{before,after}.txt). tf = count(*) >= 1 by
    # construction, so the filter removes nothing.
    dfreq = (post.where(F.col("tf") > 0)
             .groupBy("term").agg(F.count("*").alias("df")))

    idf = F.log(F.lit(1.0) + (F.col("n_docs") - F.col("df") + 0.5)
                / (F.col("df") + 0.5))
    norm = F.col("tf") * (k1 + 1) / (
        F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl")))

    scored = (
        post.join(F.broadcast(dfreq), "term")
        .join(dl, id_col)
        .crossJoin(F.broadcast(corpus))
        .select(id_col, (idf * norm).alias("part"))
        .groupBy(id_col)
        .agg(F.round(F.sum("part"), 6).alias("score"))
    )
    return scored.orderBy(F.col("score").desc(), F.col(id_col)).limit(k)


def phrase_search(df: DataFrame, phrase: str, id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """Exact PHRASE matching — the positional complement of the BM25
    bag-of-words scorer (a search surface needs both): documents whose
    token stream contains the query tokens CONSECUTIVELY, with the
    occurrence count and the first match position.

    Scale shape: a pure per-row HOF — each document checks its own
    token array (filter over candidate start positions, bounded by
    doc length × phrase length), so the plan is ONE codegen scan with
    zero shuffles and zero joins; the classic positional-postings
    m-way self-join is never needed when the text column is already
    in hand. Tokenization is the module convention (lowercased,
    whitespace-split).

    Returns (id_col, n_hits, first_pos) for documents with >= 1 hit;
    positions are 1-based token indices.
    """
    terms = [t for t in phrase.lower().split() if t]
    if not terms:
        raise ValueError("phrase_search: phrase must contain tokens")
    m = len(terms)
    import re as _re

    # cheap codegen pre-filter: a java-regex superset test (terms in
    # order, any whitespace between) runs native over the raw text, so
    # the interpreted positional HOF below only touches candidate
    # documents — on a selective phrase that is ~all of the win
    pat = r"\s+".join(_re.escape(t) for t in terms)
    cand = df.where(F.lower(F.col(text_col)).rlike(pat))

    # token array routed through bind_once: an aliased `__w` projection
    # column is NOT a reliable defense — the pushed-down hit filter
    # inlined it back into every element_at (verified in the r13
    # optimized plan), re-tokenizing the document per candidate
    # position per term. A bound lambda variable cannot be inlined, so
    # each evaluation of the starts expression tokenizes exactly once.
    def _starts(w):
        def _match(i):
            c = None
            for k, term in enumerate(terms):
                e = F.element_at(w, (i + F.lit(k)).cast("int")) == term
                c = e if c is None else c & e
            return c

        # Spark's sequence(1, 0) is DESCENDING [1, 0], not empty — docs
        # shorter than the phrase must short-circuit to no candidates
        return F.when(
            F.size(w) >= m,
            F.filter(F.sequence(F.lit(1), F.size(w) - (m - 1)), _match),
        ).otherwise(F.array().cast("array<int>"))

    from drill_spark.ops.hofutil import bind_once

    starts = bind_once(
        F.filter(tokens(F.col(text_col)), lambda t: t != ""), _starts)
    # the pushed-down `n_hits > 0` filter re-evaluates the aliased
    # expression once below the projection — a 2x constant on the
    # bound single-pass scan, not the old O(positions) blowup
    st = cand.select(F.col(id_col), starts.alias("__st"))
    return (
        st.select(
            F.col(id_col),
            F.size("__st").cast("long").alias("n_hits"),
            F.element_at("__st", 1).cast("long").alias("first_pos"),
        )
        .where(F.col("n_hits") > 0)
    )


def window_cooccur(df: DataFrame, terms: list[str], window: int = 10,
                   id_col: str = "doc_id",
                   text_col: str = "text", impl: str = "sql") -> DataFrame:
    """Unordered proximity matching: documents where ALL query terms
    occur together inside at least one ``window``-token span, with the
    count of such spans — the "terms near each other" operator between
    exact phrase match and whole-document AND.

    Per-row HOF like :func:`phrase_search` (each candidate window
    checks containment of every term — bounded by doc length × window
    × |terms|, all codegen, zero shuffles).

    Returns (id_col, n_windows) for documents with >= 1 qualifying
    window.

    ``impl`` (r14, guide §5): ``"sql"`` (default) assembles the whole
    per-row expression — pre-filter, merged position stream, fold and
    narrow-band scan — as ONE parsed SQL string (~1.1k py4j gateway
    roundtrips and ~0.4s driver wall per invocation collapse to a
    handful of calls; same defect class as the r13 minhash/simhash
    rewrites). ``"column"`` keeps the original Column-API builder;
    ``test_window_cooccur_sql_impl_matches_column`` pins the two
    bit-equal on fixtures and edge cases.
    """
    qs = [t.lower() for t in terms if t]
    if not qs:
        raise ValueError("window_cooccur: terms must be non-empty")
    if window < len(qs):
        raise ValueError("window_cooccur: window must hold all terms")
    if impl == "sql":
        return _window_cooccur_sql(df, qs, window, id_col, text_col)
    if impl != "column":
        raise ValueError(f"window_cooccur: unknown impl {impl!r}")
    T = len(qs)
    # codegen substring pre-filter (superset: a token present implies
    # the substring is present) keeps everything below off documents
    # that cannot qualify
    cand = df
    for term in qs:
        cand = cand.where(F.lower(F.col(text_col)).contains(term))

    # r13 positional pre-filter (this row was top-10 in the bench at
    # 2.78 s: the contains() superset passes most docs for common
    # terms, and the window scan then costs O(len x window x T) per
    # candidate). One O(occ x T) fold over the merged term-position
    # stream computes (a) the MINIMUM span covering one occurrence of
    # every term — min_span <= window is EXACTLY "n_windows >= 1", so
    # non-matching docs never reach the scan — and (b) per-term
    # first/last occurrence bounds: a qualifying start i needs every
    # term inside [i, i+window-1], hence i >= max(firsts)-window+1 and
    # i <= min(lasts), so the scan walks only that narrow band instead
    # of the whole document. Counts are provably identical to the full
    # scan. All intermediates are lambda-BOUND (bind_once): a plain
    # aliased token column is exposed to Catalyst inlining the
    # tokenizer into the per-start slice lambda (the measured O(len^2)
    # langid failure mode).
    INF = (1 << 31) - 1

    def _n_windows(w):
        def _win_ok(i):
            sl = F.slice(w, i.cast("int"), window)
            c = None
            for term in qs:
                e = F.array_contains(sl, term)
                c = e if c is None else (c & e)
            return c

        merged = F.array_sort(F.concat(*[
            F.filter(
                F.zip_with(
                    w, F.sequence(F.lit(1), F.greatest(F.size(w), F.lit(1))),
                    (lambda t: lambda tok, i: F.when(
                        tok == t[1],
                        F.struct(i.alias("pos"), F.lit(t[0]).alias("tid"))
                    ))((ti, term)),
                ),
                lambda x: x.isNotNull(),
            )
            for ti, term in enumerate(qs)
        ]))

        def _step(a, x):
            nl = F.transform(
                a["ls"],
                (lambda tid: lambda v, j: F.when(j == tid, x["pos"])
                 .otherwise(v))(x["tid"]),
            )
            nf = F.transform(
                a["fs"],
                (lambda tid: lambda v, j: F.when(
                    (j == tid) & v.isNull(), x["pos"]).otherwise(v)
                 )(x["tid"]),
            )
            seen_all = ~F.exists(nl, lambda e: e.isNull())
            best = F.when(
                seen_all,
                F.least(a["best"], x["pos"] - F.array_min(nl) + 1),
            ).otherwise(a["best"])
            return F.struct(nl.alias("ls"), nf.alias("fs"),
                            best.alias("best"))

        def _finish(a):
            s_max = F.greatest(F.size(w) - (window - 1), F.lit(1))
            lo = F.greatest(F.lit(1),
                            F.array_max(a["fs"]) - (window - 1))
            hi = F.least(s_max, F.array_min(a["ls"]))
            return F.when(
                (a["best"] <= window) & (lo <= hi),
                F.size(F.filter(F.sequence(lo, hi), _win_ok)),
            ).otherwise(F.lit(0))

        nulls = F.array_repeat(F.lit(None).cast("int"), T)
        return F.aggregate(
            merged,
            F.struct(nulls.alias("ls"), nulls.alias("fs"),
                     F.lit(INF).alias("best")),
            _step,
            _finish,
        )

    toks = F.filter(tokens(F.col(text_col)), lambda t: t != "")
    st = cand.select(
        F.col(id_col),
        bind_once(toks, _n_windows).cast("long").alias("n_windows"),
    )
    return st.where(F.col("n_windows") > 0)


def _window_cooccur_sql(df: DataFrame, qs: list[str], window: int,
                        id_col: str, text_col: str) -> DataFrame:
    """SQL-text builder for :func:`window_cooccur` — term-for-term the
    Column form's expressions (same CASE/struct/fold shapes, same
    literal types), assembled as one parsed string. The bind_once
    defense survives as the literal element_at(transform(array(...)))
    wrapper, so the tokenizer still evaluates once per row."""
    T = len(qs)
    INF = (1 << 31) - 1

    def lit(s: str) -> str:
        return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"

    low = f"lower({quote_ident(text_col)})"
    pre = " AND ".join(f"contains({low}, {lit(t)})" for t in qs)
    streams = ", ".join(
        f"filter(zip_with(w, sequence(1, greatest(size(w), 1)), "
        f"(tok, i) -> CASE WHEN tok = {lit(t)} "
        f"THEN struct(i as pos, {ti} as tid) END), x -> x is not null)"
        for ti, t in enumerate(qs))
    merged = f"array_sort(concat({streams}))"
    nl = ("transform(a.ls, (v, j) -> "
          "CASE WHEN j = x.tid THEN x.pos ELSE v END)")
    nf = ("transform(a.fs, (v, j) -> "
          "CASE WHEN (j = x.tid) AND (v IS NULL) THEN x.pos ELSE v END)")
    seen_all = f"NOT exists({nl}, e -> e is null)"
    best = (f"CASE WHEN {seen_all} "
            f"THEN least(a.best, (x.pos - array_min({nl})) + 1) "
            f"ELSE a.best END")
    step = f"(a, x) -> struct({nl} as ls, {nf} as fs, {best} as best)"
    win_ok = " AND ".join(
        f"array_contains(slice(w, cast(i as int), {window}), {lit(t)})"
        for t in qs)
    lo = f"greatest(1, array_max(a.fs) - {window - 1})"
    hi = f"least(greatest(size(w) - {window - 1}, 1), array_min(a.ls))"
    finish = (f"a -> CASE WHEN (a.best <= {window}) AND ({lo} <= {hi}) "
              f"THEN size(filter(sequence({lo}, {hi}), i -> {win_ok})) "
              f"ELSE 0 END")
    nulls = f"array_repeat(cast(null as int), {T})"
    init = f"struct({nulls} as ls, {nulls} as fs, {INF} as best)"
    toks = f"filter(split(trim({low}), '\\\\s+'), t -> t != '')"
    nw = (f"cast(element_at(transform(array({toks}), "
          f"w -> aggregate({merged}, {init}, {step}, {finish})), 1) "
          f"as bigint)")
    return (df.where(pre)
            .selectExpr(quote_ident(id_col), f"{nw} as n_windows")
            .where("n_windows > 0"))


def tfidf_keywords(df: DataFrame, top_n: int = 3, id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """Per-document top-n keywords by smooth tf-idf.

    Returns (id, term, tfidf, kw_rank). Document frequencies are a
    vocabulary-sized aggregate (bounded regardless of corpus size)
    joined back via broadcast; the per-document ranking is one window
    partitioned by id — state per task is one document's vocabulary.
    Ranked by (tfidf rounded to 6 desc, term asc) for reproducibility.
    """
    post = build_postings(df, id_col, text_col)
    n_docs = df.agg(F.count("*").alias("n_docs"))
    # The no-op tf reference keeps this branch's copy of the postings
    # aggregate column-identical to the scorer's (r14, guide §2.4):
    # without it, column pruning drops the count from the df branch, the
    # two (term, id) exchanges stop being canonically equal, and the
    # executed plan re-runs the whole corpus tokenize + shuffle a second
    # time just to count document frequencies (ReusedExchange evidence in
    # plans/r14/ext_bm25_batch_{before,after}.txt). tf = count(*) >= 1 by
    # construction, so the filter removes nothing.
    dfreq = (post.where(F.col("tf") > 0)
             .groupBy("term").agg(F.count("*").alias("df")))

    idf = F.log((F.lit(1.0) + F.col("n_docs")) / (F.col("df") + 1.0)) + 1.0
    w = Window.partitionBy(id_col).orderBy(
        F.col("tfidf").desc(), F.col("term"))
    return (
        post.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(n_docs))
        .select(id_col, "term", F.round(F.col("tf") * idf, 6).alias("tfidf"))
        .withColumn("kw_rank", F.row_number().over(w))
        .where(F.col("kw_rank") <= top_n)
        .select(id_col, "term", "tfidf", "kw_rank")
    )


def rrf_fuse(ranked_a: DataFrame, ranked_b: DataFrame, id_col: str,
             k: int = 10, rrf_k: int = 60) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. 2009) of two ranked
    lists: score = Σ 1/(rrf_k + rank), a list contributing 0 where the
    id is absent. Rank-based, so the fusion is exact and
    engine-portable regardless of how the underlying scores were
    computed. Inputs are (id, rank) DataFrames; both are
    top-k-bounded, so the fusion is a tiny full-outer join."""
    a = ranked_a.select(id_col, F.col("rank").alias("rank_a"))
    b = ranked_b.select(id_col, F.col("rank").alias("rank_b"))
    fused = (
        a.join(b, id_col, "full_outer")
        .select(
            id_col,
            (F.coalesce(1.0 / (rrf_k + F.col("rank_a")), F.lit(0.0))
             + F.coalesce(1.0 / (rrf_k + F.col("rank_b")), F.lit(0.0))
             ).alias("rrf_score"),
        )
    )
    return fused.orderBy(F.col("rrf_score").desc(), F.col(id_col)).limit(k)


def hybrid_topk(docs: DataFrame, vecs: DataFrame, query_terms: list[str],
                query_vec_id: int, k: int = 10, pool: int = 50,
                rrf_k: int = 60, id_col: str = "doc_id",
                text_col: str = "text", vec_id_col: str = "vec_id",
                vec_col: str = "embedding") -> DataFrame:
    """Hybrid sparse+dense retrieval: BM25 over the text and cosine
    over the embeddings each produce a ``pool``-sized candidate list;
    reciprocal-rank fusion merges them — the standard two-tower
    retrieval stack (lexical recall + semantic recall), with both
    towers' scale shapes unchanged (query-term postings / broadcast
    query vector). Returns (id, rrf_score) of the fused top-k."""
    from drill_spark.ops.similarity import brute_force_topk

    bm = bm25_topk(docs, query_terms, k=pool, id_col=id_col,
                   text_col=text_col)
    w = Window.orderBy(F.col("score").desc(), F.col(id_col))
    bm_ranked = bm.select(id_col, F.row_number().over(w).alias("rank"))

    cos = brute_force_topk(
        vecs, vecs.where(F.col(vec_id_col) == query_vec_id),
        id_col=vec_id_col, vec_col=vec_col, k=pool,
    ).select(F.col("neighbor_id").alias(id_col), "rank")
    return rrf_fuse(bm_ranked, cos, id_col, k=k, rrf_k=rrf_k)


def bm25_topk_batch(df: DataFrame, queries: DataFrame, k: int = 10,
                    k1: float = _K1, b: float = _B, id_col: str = "doc_id",
                    text_col: str = "text", query_id_col: str = "query_id",
                    terms_col: str = "terms",
                    postings: DataFrame | None = None) -> DataFrame:
    """Batch BM25: top-k documents for EVERY query in ``queries``
    ((query_id, terms array<string>)) in ONE corpus pass — the
    realistic retrieval shape (an eval-set decontamination sweep or a
    RAG build scores thousands of queries; running bm25_topk per query
    would rescan the corpus per query).

    Scale shape: the query-term table is broadcast twice (once to
    filter the token stream — only postings for SOME query's terms
    shuffle — and once to fan each (term, doc) posting out to the
    queries containing the term); document frequencies and corpus
    stats stay broadcast aggregates; per-query top-k is a window
    partitioned by query_id — per-task state is one query's heap, and
    the global sort never happens. Pass a materialized ``postings``
    table (build_postings) to make repeated sweeps scan-only.

    Returns (query_id, id, score, rank), score rounded to 6 decimals,
    rank by (rounded score desc, id asc) within each query.
    """
    qt = (
        queries.select(
            query_id_col,
            F.explode(
                F.array_distinct(
                    F.transform(F.col(terms_col),
                                lambda t: F.lower(F.trim(t))))
            ).alias("term"),
        )
        .where(F.col("term") != "")
    )
    all_terms = qt.select("term").distinct()
    if postings is None:
        stream = _term_stream(df, id_col, text_col).join(
            F.broadcast(all_terms), "term")
        post = stream.groupBy("term", id_col).agg(F.count("*").alias("tf"))
    else:
        post = postings.join(F.broadcast(all_terms), "term")

    dl = doc_lengths(df, id_col, text_col)
    corpus = dl.agg(
        F.count("*").alias("n_docs"),
        (F.sum("dl") / F.count("*")).alias("avgdl"),
    )
    # The no-op tf reference keeps this branch's copy of the postings
    # aggregate column-identical to the scorer's (r14, guide §2.4):
    # without it, column pruning drops the count from the df branch, the
    # two (term, id) exchanges stop being canonically equal, and the
    # executed plan re-runs the whole corpus tokenize + shuffle a second
    # time just to count document frequencies (ReusedExchange evidence in
    # plans/r14/ext_bm25_batch_{before,after}.txt). tf = count(*) >= 1 by
    # construction, so the filter removes nothing.
    dfreq = (post.where(F.col("tf") > 0)
             .groupBy("term").agg(F.count("*").alias("df")))

    idf = F.log(F.lit(1.0) + (F.col("n_docs") - F.col("df") + 0.5)
                / (F.col("df") + 0.5))
    norm = F.col("tf") * (k1 + 1) / (
        F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl")))

    scored = (
        post.join(F.broadcast(dfreq), "term")
        .join(dl, id_col)
        .crossJoin(F.broadcast(corpus))
        .join(F.broadcast(qt), "term")
        .select(query_id_col, id_col, (idf * norm).alias("part"))
        .groupBy(query_id_col, id_col)
        .agg(F.round(F.sum("part"), 6).alias("score"))
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("score").desc(), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def _hash_token_vec(word_col, dim: int = 4):
    """Deterministic pseudo-embedding for a token: dim components from
    md5(word_j) scaled to (-0.5, 0.5), L2-normalized. SQL-expressible
    on both engines (the oracle replays it), so multi-vector retrieval
    is hash-checkable end-to-end; a real deployment swaps this for
    model token embeddings read from a column.

    The raw (pre-norm) vector is bound to a lambda variable via a
    single-element array wrapper so the md5 components are evaluated
    ONCE per token — Catalyst does not common-subexpression-eliminate
    across HOF lambda bodies, and inlining the raw transform into the
    norm AND the scaled output multiplies the hash work."""
    if dim > 8:
        raise ValueError("hash token vectors support dim <= 8 "
                         "(one md5 yields 8 16-bit components)")
    # ONE md5 per token; components are disjoint 16-bit slices of it
    raw = F.transform(
        F.array(F.md5(word_col)),
        lambda h: F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda j: F.conv(
                F.substring(h, j * 4 + 1, 4),
                16, 10).cast("double") / 65536.0 - 0.5,
        ),
    )[0]
    return F.element_at(
        F.transform(
            F.array(raw),
            lambda r: F.transform(
                r,
                lambda x: x / F.sqrt(
                    F.aggregate(r, F.lit(0.0), lambda a, y: a + y * y)),
            ),
        ),
        1,
    )


def _maxsim_kernel(query_terms: list[str], dim: int, max_tokens: int):
    """Per-worker ColBERT scorer for the Arrow path: the IDENTICAL
    arithmetic as the Catalyst HOF chain, operation for operation and
    in the same order, so scores are bit-equal — tokenization is
    trim-spaces + ASCII ``\\s+`` split (Spark's trim/split), token
    vectors are 16-bit md5 slices /65536 - 0.5 L2-normalized with the
    same sequential fold order, the q×d interaction folds doc tokens
    left-to-right carrying one running max per query token, and the
    final round replays Spark's HALF_UP BigDecimal rounding. Word
    vectors are memoized per worker (docs share vocabulary, so each
    distinct word hashes once — the Catalyst path re-hashes per
    occurrence)."""
    import hashlib
    import math
    import re as _re
    from decimal import ROUND_HALF_UP, Decimal

    ws_split = _re.compile(r"\s+", _re.ASCII)
    vec_cache: dict[str, list[float]] = {}

    def vec(word: str) -> list[float]:
        v = vec_cache.get(word)
        if v is None:
            h = hashlib.md5(word.encode("utf-8")).hexdigest()
            raw = [int(h[j * 4:j * 4 + 4], 16) / 65536.0 - 0.5
                   for j in range(dim)]
            s = 0.0
            for y in raw:
                s += y * y
            n = math.sqrt(s)
            v = [x / n for x in raw]
            vec_cache[word] = v
        return v

    qvecs = [vec(t) for t in query_terms]

    def score(text) -> float | None:
        if text is None:
            return None
        toks = [w for w in ws_split.split(text.lower().strip(" "))
                if w != ""]
        if not toks:
            return None
        maxes = [float("-inf")] * len(qvecs)
        for w in toks[:max_tokens]:
            dv = vec(w)
            for qi, qv in enumerate(qvecs):
                d = 0.0
                for a, b in zip(qv, dv):
                    d += a * b
                if d > maxes[qi]:
                    maxes[qi] = d
        s = 0.0
        for m in maxes:
            s += m
        return float(Decimal(s).quantize(Decimal("0.000001"),
                                         ROUND_HALF_UP))

    return score


def maxsim_topk(df: DataFrame, query_terms: list[str], k: int = 10,
                dim: int = 4, max_tokens: int = 32,
                id_col: str = "doc_id", text_col: str = "text",
                engine: str = "arrow") -> DataFrame:
    """ColBERT-style late-interaction retrieval: score(q, d) =
    sum over query tokens of the MAX dot product against any document
    token vector (Khattab & Zaharia 2020) — the multi-vector ranking
    that beats single-vector cosine on phrase queries.

    The whole scoring is Catalyst HOFs over nested arrays: document
    token vectors are ``transform`` over the first ``max_tokens``
    tokens, the q×d interaction is a single fold over the DOC tokens
    carrying one running max per query token — so the (large) document
    vector expression appears exactly ONCE in the plan and each token's
    md5 components are hashed once (Catalyst inlines rather than CSEs
    repeated HOF subtrees; the naive sum-over-query-tokens shape
    re-evaluated the doc vectors |q|+1 times and benched ~10x slower).
    Per-row cost |q|·max_tokens·dim, bounded regardless of corpus
    size. No explode, no shuffle for scoring; top-k is TakeOrdered.
    Returns (id, score, rank), score rounded 6dp with id tiebreak.

    ``engine`` (r13): ``"arrow"`` (default) scores inside an
    Arrow-batched pandas UDF — the interpreted HOF chain costs
    ~|q|·max_tokens·dim expression-interpreter calls plus array
    allocations per row and re-hashes every token occurrence, while
    the kernel memoizes one vector per distinct word per worker and
    runs plain float arithmetic (measured 3.7 → ~1s at sf0.1, scores
    bit-equal — same fold orders, same HALF_UP rounding).
    ``"catalyst"`` keeps the pure-expression path; a test pins the
    two engines equal.
    """
    if engine == "arrow":
        @F.pandas_udf("double")
        def _score(s: pd.Series) -> pd.Series:
            kern = _maxsim_kernel(list(query_terms), dim, max_tokens)
            return s.map(kern, na_action=None).astype("float64")

        score = _score(F.col(text_col))
    elif engine == "catalyst":
        words = F.slice(
            F.filter(tokens(F.col(text_col)), lambda t: t != ""),
            1, max_tokens)
        dvecs = F.transform(words, lambda w: _hash_token_vec(w, dim))
        # query vectors are literal expressions — constant-folded at
        # plan time, so referencing qvecs repeatedly is free
        qvecs = F.transform(
            F.array(*[F.lit(t) for t in query_terms]),
            lambda w: _hash_token_vec(w, dim))
        dot = lambda qt, dt: F.aggregate(  # noqa: E731
            F.zip_with(qt, dt, lambda a, b: a * b),
            F.lit(0.0), lambda s, x: s + x)
        # fold over doc tokens: state = running max per query token
        maxes = F.aggregate(
            dvecs,
            F.transform(qvecs, lambda _: F.lit(float("-inf"))),
            lambda acc, dt: F.zip_with(
                acc, qvecs, lambda m, qt: F.greatest(m, dot(qt, dt))),
        )
        score = F.round(
            F.aggregate(maxes, F.lit(0.0), lambda s, m: s + m), 6)
    else:
        raise ValueError(f"maxsim_topk: unknown engine {engine!r}")
    scored = (
        df.where(F.size(F.filter(tokens(F.col(text_col)),
                                 lambda t: t != "")) > 0)
        .select(F.col(id_col), score.alias("score"))
    )
    return (
        scored.orderBy(F.desc("score"), F.asc(id_col)).limit(k)
        .select(
            id_col, "score",
            F.row_number().over(
                Window.orderBy(F.desc("score"), F.asc(id_col))
            ).alias("rank"),
        )
    )
