"""Training-data pipeline operators: PII redaction, benchmark
decontamination, sequence chunking/packing, repetition filtering
(Gopher-style), and stratified sampling.

These are the curation stages a 100 TB pretraining pipeline runs after
dedup/quality (ops/dedup.py, ops/text.py): scrub identifiers, drop
benchmark-contaminated documents, cut documents into model-sized token
windows, kill degenerate repetition, and sample per-stratum.

Every operator here is pure Catalyst — string/array higher-order
functions only, no Python UDFs — so each stays inside whole-stage
codegen and scales as one scan (+ one shuffle where a join/agg is
inherent). Per-row HOF work is bounded by document length, not corpus
size, which is the scale-safe direction: no explode→groupBy shuffle for
per-document metrics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Column
from pyspark.sql import functions as F

from drill_spark.ops import quote_ident

# Engine-portable PII patterns (valid in both Java regex and RE2, so the
# DuckDB oracles run the identical expressions).
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
SSN_RE = r"\b\d{3}-\d{2}-\d{4}\b"
PHONE_RE = r"\b\d{3}-\d{3}-\d{4}\b"
IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"


def pii_scan(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Detect + redact PII in one pass: per-document match counts for
    emails / SSNs / phone numbers / IPv4 addresses, plus the redacted
    text with typed placeholders.

    SSN before phone: the two patterns share the leading ``\\d{3}-`` so
    redaction order is part of the operator contract (an SSN must never
    be half-eaten by the phone rule). One scan, zero shuffles, all
    codegen — the 100 TB cost is exactly one pass over the text column.
    """
    t = F.col(text_col)
    redacted = t
    for pat, tag in (
        (SSN_RE, "[SSN]"),
        (PHONE_RE, "[PHONE]"),
        (EMAIL_RE, "[EMAIL]"),
        (IPV4_RE, "[IP]"),
    ):
        redacted = F.regexp_replace(redacted, pat, tag)
    return df.select(
        F.col(id_col),
        F.size(F.regexp_extract_all(t, F.lit(EMAIL_RE), F.lit(0))).cast("long").alias("n_email"),
        F.size(F.regexp_extract_all(t, F.lit(SSN_RE), F.lit(0))).cast("long").alias("n_ssn"),
        F.size(F.regexp_extract_all(t, F.lit(PHONE_RE), F.lit(0))).cast("long").alias("n_phone"),
        F.size(F.regexp_extract_all(t, F.lit(IPV4_RE), F.lit(0))).cast("long").alias("n_ip"),
        redacted.alias("redacted"),
    )


def _words(text_col: str) -> Column:
    return F.split(F.trim(F.lower(F.col(text_col))), r"\s+")


def _ngram_keys(text_col: str, n: int) -> Column:
    """Distinct n-gram join keys per document: 16 hex chars of md5 over
    each whitespace n-gram. Hashing before the join keeps the shuffle
    key fixed-width regardless of n-gram text length (and md5 is
    engine-portable, so oracles can reproduce the exact keys).

    The word array is routed through :func:`~drill_spark.ops.hofutil.
    bind_once`: referencing the raw ``split(...)`` expression inside
    the per-position ``transform`` lambda lets Catalyst inline the
    whole tokenization into the lambda body — every gram re-splits the
    document, O(n_words²) per row (measured r13: the 8-gram explode
    was ~6s of the 7s curation-audit wall at sf0.1; bound form ~1s).
    """
    from drill_spark.ops.hofutil import bind_once

    def grams_of(w):
        # Spark's sequence(1, 0) is DESCENDING [1, 0], not empty —
        # documents shorter than n tokens must short-circuit to an
        # empty gram list.
        g = F.when(
            F.size(w) >= n,
            F.transform(
                F.sequence(F.lit(1), F.size(w) - (n - 1)),
                lambda i: F.concat_ws(" ", F.slice(w, i, n)),
            ),
        ).otherwise(F.array().cast("array<string>"))
        return F.array_distinct(
            F.transform(g, lambda x: F.substring(F.md5(x), 1, 16)))

    return bind_once(_words(text_col), grams_of)


def _spread(df: DataFrame) -> DataFrame:
    """Round-robin repartition ONLY when the scan can't already fan out
    across the cluster's slots (a single small parquet file scans as one
    partition, collapsing per-row HOF work onto one core). Uses the
    public ``inputFiles()`` leaf-file census — never the RDD API (engine
    rule: plans stay DataFrame-only) — counting one split per
    ``maxPartitionBytes`` for local files, so a single BIG splittable
    file (which Spark already fans out) is not re-shuffled. Frames with
    no leaf files (in-memory, post-shuffle) are left alone: their
    partitioning came from a shuffle or the driver and re-shuffling a
    derived 100 TB frame here would add a full-corpus exchange."""
    target = df.sparkSession.sparkContext.defaultParallelism
    try:
        files = df.inputFiles()
    except Exception:
        return df
    if not files:
        return df
    import os
    from urllib.parse import unquote, urlparse

    split_bytes = 128 * 1024 * 1024
    splits = 0
    for f in files:
        u = urlparse(f)
        path = unquote(u.path) if u.scheme in ("file", "") else None
        try:
            size = os.path.getsize(path) if path else 0
        except OSError:
            size = 0
        splits += max(1, -(-size // split_bytes))
        if splits >= target:
            return df
    return df.repartition(target)


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
) -> DataFrame:
    """Benchmark decontamination: find corpus documents sharing any
    word n-gram (default 8-gram, the published GPT-3/PaLM convention)
    with a held-out benchmark set. Returns (id, n_shared) for
    contaminated documents — anti-join the result to scrub.

    Scale shape: each side explodes to distinct n-gram hashes (per-row
    HOF, no shuffle), then ONE equi-join on the 16-hex-char hash and one
    partial-aggregated count per document. The benchmark side is tiny in
    practice → broadcast; the corpus side never self-joins.
    """
    c = _spread(corpus).select(
        F.col(id_col), F.explode(_ngram_keys(text_col, n)).alias("__ng")
    )
    b = _spread(benchmark).select(
        F.explode(_ngram_keys(text_col, n)).alias("__ng")
    ).distinct()
    return (
        c.join(F.broadcast(b), "__ng")
        .groupBy(id_col)
        .agg(F.count_distinct("__ng").alias("n_shared"))
    )


def chunk_tokens(
    df: DataFrame, id_col: str, text_col: str, max_tokens: int = 32,
    stride: int | None = None,
) -> DataFrame:
    """Sequence chunking: cut each document into windows of at most
    ``max_tokens`` whitespace tokens. Emits (id, chunk_id, n_tokens,
    chunk_hash) — the deterministic chunk inventory a
    tokenize-and-pack trainer consumes.

    ``stride`` (default = ``max_tokens``, i.e. non-overlapping)
    selects the retrieval convention instead: window k starts at
    token ``k*stride + 1``, so consecutive chunks share
    ``max_tokens - stride`` tokens — the sliding-window chunking a
    RAG index wants so no passage straddles a boundary unseen. Gaps
    (stride > max_tokens) are rejected.

    The chunk loop is a per-row array transform (sequence → slice), so
    the plan is one scan + one generator — no shuffle, and output size
    is input size times the fixed overlap factor, never input×chunks."""
    s = int(stride) if stride is not None else int(max_tokens)
    if not 1 <= s <= int(max_tokens):
        raise ValueError(
            f"chunk_tokens: stride must be in [1, max_tokens], got {s}")
    from drill_spark.ops.hofutil import bind_once

    # starts at 1, 1+s, ... while start <= n  ->  ids 0..floor((n-1)/s);
    # for s == max_tokens this is exactly ceil(n/max) windows. The word
    # array is lambda-bound: referencing the raw split() inside the
    # per-chunk lambda lets Catalyst inline the tokenizer there —
    # every chunk would re-split the document (the measured O(len²)
    # _ngram_keys failure mode; see hofutil).
    chunks = bind_once(_words(text_col), lambda w: F.transform(
        F.sequence(
            F.lit(0),
            F.floor(F.greatest(F.size(w) - 1, F.lit(0)) / F.lit(s)).cast("int"),
        ),
        lambda i: F.struct(
            i.cast("long").alias("chunk_id"),
            F.size(F.slice(w, i * s + 1, max_tokens)).cast("long").alias("n_tokens"),
            F.md5(F.concat_ws(" ", F.slice(w, i * s + 1, max_tokens))).alias(
                "chunk_hash"
            ),
        ),
    ))
    return df.select(F.col(id_col), F.explode(chunks).alias("c")).select(
        id_col, "c.chunk_id", "c.n_tokens", "c.chunk_hash"
    )


def repetition_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Gopher-style repetition signals per document: duplicate-word
    fraction (1 − distinct/total) and most-frequent-bigram fraction,
    plus the composite ``flagged`` verdict (Rae et al. 2021 thresholds:
    top-2-gram fraction > 0.18, duplicate-word fraction > 0.6).

    All per-row HOFs: the bigram mode is computed inside the row
    (distinct × filter), bounded by document length squared — for
    capped-length web documents this beats the explode→groupBy→join
    alternative, which costs two corpus-wide shuffles.

    The word array and the bigram array are routed through
    :func:`~drill_spark.ops.hofutil.bind_once`: referenced bare inside
    the positional lambdas, Catalyst inlines the full ``split(...)``
    at every ``element_at`` (one re-split per bigram position) and
    re-evaluates the bigram transform once per DISTINCT bigram in the
    mode loop — O(n_words^3) split evaluations per row instead of
    one."""
    from drill_spark.ops.hofutil import bind_once

    dup_frac = bind_once(
        _words(text_col),
        lambda w: F.round(1 - F.size(F.array_distinct(w)) / F.size(w), 4),
    ).alias("dup_word_frac")

    def _top_bigram(w):
        # the >=2 guard must wrap the transform itself: bind_once
        # evaluates its value eagerly, and sequence(1, 0) is the
        # DESCENDING [1, 0] whose element_at(w, 0) raises
        bg_expr = F.when(
            F.size(w) >= 2,
            F.transform(
                F.sequence(F.lit(1), F.size(w) - 1),
                lambda i: F.concat(
                    F.element_at(w, i), F.lit(" "), F.element_at(w, i + 1)),
            ),
        ).otherwise(F.array().cast("array<string>"))
        return bind_once(
            bg_expr,
            lambda bg: F.when(F.size(w) < 2, F.lit(0.0)).otherwise(
                F.round(
                    F.array_max(
                        F.transform(
                            F.array_distinct(bg),
                            lambda b: F.size(F.filter(bg, lambda x: x == b)),
                        )
                    )
                    / F.size(bg),
                    4,
                )
            ),
        )

    top_bigram = bind_once(_words(text_col), _top_bigram).alias(
        "top_bigram_frac")
    out = df.select(F.col(id_col), dup_frac, top_bigram)
    return out.withColumn(
        "flagged",
        (F.col("dup_word_frac") > 0.6) | (F.col("top_bigram_frac") > 0.18),
    )


def gopher_repetition(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text") -> DataFrame:
    """The FULL Gopher repetition table (Rae et al. 2021, Table A1) —
    the 13-signal published standard, extending
    :func:`repetition_stats`'s two-signal summary:

    - duplicate line / paragraph fraction: occurrences belonging to a
      line (paragraph) that appears >= 2 times in the document, over
      total lines (paragraphs); and the same as a character fraction
      (characters of those occurrences over all line characters).
      Lines split on ``\\n``, paragraphs on ``\\n\\n``, segments
      trimmed, empties dropped; text is lowercased first (the module's
      tokenization convention).
    - top-{2,3,4}-gram character fraction: occurrences of the single
      most frequent word n-gram (ties broken lexicographically) times
      its character length, over total token characters — the paper's
      count×len form, overlaps counted per occurrence.
    - dup-{5..10}-gram character fraction: characters covered by ANY
      word n-gram occurring >= 2 times, covered positions counted
      ONCE (the paper's "taking care not to count characters more
      than once") — the same coverage-union machinery as
      ops/substr.py.

    ``flagged`` applies the paper's thresholds (dup line/para > 0.30,
    their char fractions > 0.20, top 2/3/4-gram > 0.20/0.18/0.16,
    dup 5..10-gram > 0.15/0.14/0.13/0.12/0.11/0.10).

    Scale shape: the line/paragraph signals are per-row HOFs (zero
    shuffles); ALL NINE n-gram signals come off ONE ordered window
    pass (collect_list of the next 10 tokens, each row emitting its
    n∈2..10 grams) feeding one (id, n, gram) count — not nine separate
    explodes — then a bounded top-1 window for n<=4 and a
    coverage-union join for n>=5. Exact integer character sums, so
    every fraction is one double division and the whole table
    hash-checks against a closed-form oracle. Documents with zero
    tokens are excluded (the family convention).

    The table is assembled as parsed SQL text: the same expressions
    built through the Column API cost ~3.5k py4j gateway roundtrips
    (~1.3s driver wall) per invocation, the SQL builder a handful of
    parse calls. Fractional literals carry the ``D`` suffix so every
    comparison stays double-typed.
    """
    from drill_spark.ops.substr import _token_positions

    toks = _token_positions(df, id_col, text_col)
    base = toks.groupBy("id").agg(F.expr("sum(length(tok)) as total_chars"))
    grams = (
        toks.selectExpr(
            "id", "p",
            "collect_list(tok) OVER (PARTITION BY id ORDER BY p "
            "ROWS BETWEEN CURRENT ROW AND 9 FOLLOWING) as warr")
        .selectExpr(
            "id", "p",
            "explode(filter(transform(sequence(2, 10), "
            "n -> struct(n as n, CASE WHEN size(warr) >= n "
            "THEN array_join(slice(warr, 1, n), ' ') END as g)), "
            "s -> s.g is not null)) as s")
        .selectExpr("id", "p", "s.n as n", "s.g as g")
    )
    gc = grams.groupBy("id", "n", "g").agg(F.expr("count(*) as c"))
    top = (
        gc.where("n <= 4")
        .selectExpr("id", "n", "c", "g",
                    "row_number() OVER (PARTITION BY id, n "
                    "ORDER BY c DESC, g ASC) as rk")
        .where("rk = 1")
        .selectExpr("id", "n",
                    "cast(c * (length(g) - (n - 1)) as bigint) as chars")
    )
    dups = gc.where("n >= 5 and c >= 2").select("id", "n", "g")
    cov = (
        grams.join(dups, ["id", "n", "g"], "left_semi")
        .selectExpr("id", "n", "explode(sequence(p, p + n - 1)) as q")
        .distinct()
    )
    covc = (
        cov.join(toks.selectExpr("id", "p as q", "length(tok) as cl"),
                 ["id", "q"])
        .groupBy("id", "n").agg(F.expr("sum(cl) as chars"))
    )
    fr = (
        top.unionByName(covc)
        .groupBy("id")
        .agg(*[F.expr(f"max(CASE WHEN n = {k} THEN chars END) as __ch{k}")
               for k in range(2, 11)])
    )

    qid, qtext = quote_ident(id_col), quote_ident(text_col)

    # segments strip ALL edge whitespace (trim() is space-only in both
    # Spark and DuckDB) and are sorted, so an occurrence belongs to a
    # >=2-count value iff it equals an adjacent element: O(n) per doc,
    # not the O(n^2) nested filter (a 10^4-line page is normal)
    def _seg(sep: str) -> str:
        return (f"array_sort(filter(transform(split(lower({qtext}), "
                f"'{sep}'), x -> regexp_replace(x, '^\\\\s+|\\\\s+$', '')), "
                f"x -> x != ''))")

    def _metrics(srt: str, occ_name: str, chr_name: str) -> list[str]:
        dup_occ = (f"filter({srt}, (x, i) -> "
                   f"coalesce(get({srt}, i - 1) = x, false) OR "
                   f"coalesce(get({srt}, i + 1) = x, false))")
        agg = "aggregate({a}, cast(0 as bigint), (a, x) -> a + length(x))"
        tchars = agg.format(a=srt)
        dchars = agg.format(a=dup_occ)
        return [
            (f"round(CASE WHEN size({srt}) > 0 "
             f"THEN size({dup_occ}) / size({srt}) "
             f"ELSE 0.0D END, 4) as {occ_name}"),
            (f"round(CASE WHEN {tchars} > 0 THEN {dchars} / {tchars} "
             f"ELSE 0.0D END, 4) as {chr_name}"),
        ]

    segs = (
        df.selectExpr(f"{qid} as id",
                      _seg("\\\\n") + " as __lines",
                      _seg("\\\\n\\\\n") + " as __paras")
        .selectExpr(
            "id",
            *_metrics("__lines", "dup_line_frac", "dup_line_char_frac"),
            *_metrics("__paras", "dup_para_frac", "dup_para_char_frac"),
        )
    )
    out = (
        base.join(fr, "id", "left").join(segs, "id")
        .selectExpr(
            f"id as {qid}",
            "dup_line_frac", "dup_line_char_frac",
            "dup_para_frac", "dup_para_char_frac",
            *[f"round(coalesce(__ch{k}, 0) / total_chars, 4) as {nm}"
              for k, nm in [(2, "top_2gram_char_frac"),
                            (3, "top_3gram_char_frac"),
                            (4, "top_4gram_char_frac")]
              + [(k, f"dup_{k}gram_char_frac") for k in range(5, 11)]],
        )
    )
    flagged = " OR ".join(
        f"({c} > {t}D)" for c, t in _GOPHER_REPETITION_LIMITS.items())
    return out.withColumn("flagged", F.expr(flagged))


_GOPHER_REPETITION_LIMITS = {
    "dup_line_frac": 0.30, "dup_para_frac": 0.30,
    "dup_line_char_frac": 0.20, "dup_para_char_frac": 0.20,
    "top_2gram_char_frac": 0.20, "top_3gram_char_frac": 0.18,
    "top_4gram_char_frac": 0.16,
    "dup_5gram_char_frac": 0.15, "dup_6gram_char_frac": 0.14,
    "dup_7gram_char_frac": 0.13, "dup_8gram_char_frac": 0.12,
    "dup_9gram_char_frac": 0.11, "dup_10gram_char_frac": 0.10,
}


def quality_mixture_sample(
    df: DataFrame,
    id_col: str,
    text_col: str,
    thresholds: tuple[str, ...] = ("10", "40", "80", "c0"),
) -> DataFrame:
    """Quality-weighted mixture sampling — the data-mixing primitive:
    score each document (ops.text.quality_features), bucket the score
    into ``len(thresholds)`` equal bands, and keep each document with
    the band's md5-prefix rate (defaults: worst band ~6%, then 25%,
    50%, 75%). Up-weights clean text and down-weights junk in one
    deterministic scan-and-filter pass — no shuffle, reproducible
    across engines and re-runs."""
    from drill_spark.ops.text import quality_features

    n = len(thresholds)
    q = quality_features(df, text_col)
    bucket = F.least(
        F.lit(n), (F.floor(F.col("quality_score") * n) + 1).cast("int")
    ).alias("bucket")
    thr = F.element_at(F.array(*[F.lit(t) for t in thresholds]), F.col("bucket"))
    return (
        q.select(F.col(id_col), F.col("quality_score"), bucket)
        .where(F.substring(F.md5(F.col(id_col).cast("string")), 1, 2) < thr)
    )


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    rates: dict[str, str],
    id_col: str,
    default_threshold: str = "10",
) -> DataFrame:
    """Deterministic stratified sampling: per-stratum rates expressed as
    2-hex-digit md5-prefix thresholds ('80' = 50%, '40' = 25%, '20' =
    12.5%...). Content-addressed like ops hash sampling — no RNG state,
    reproducible across engines/partitionings, and the gate is an
    ordinary filter (pushes down, no shuffle).

    Up-weighting high-quality strata (and down-weighting boilerplate
    sources) this way is the standard pretraining-mixture move; the
    hex-prefix comparison works because lowercase hex ordering is
    numeric ordering."""
    gate = F.substring(F.md5(F.col(id_col).cast("string")), 1, 2)
    thr = None
    for stratum, threshold in rates.items():
        cond = F.col(strata_col) == stratum
        thr = F.when(cond, threshold) if thr is None else thr.when(cond, threshold)
    thr = thr.otherwise(default_threshold) if thr is not None else F.lit(default_threshold)
    return df.where(gate < thr)


def cluster_balanced_sample(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 8,
    per_cluster_rate: dict[int, str] | None = None,
    default_threshold: str = "80",
    seed: int = 42,
) -> DataFrame:
    """Embedding-space mixture balancing: k-means-cluster the corpus
    (the bounded-sample coarse quantizer from ops/similarity.ivf_assign)
    and hash-sample each cluster at its own rate — the
    cluster-proportional curation move (DoReMi / DSIR-style domain
    balancing when no domain labels exist: clusters stand in for
    domains). Rates are the same 2-hex md5 thresholds stratified_sample
    uses ('80' = 50%), keyed by cluster id; unlisted clusters get
    ``default_threshold``.

    Scale shape: k-means trains on a bounded driver sample; assignment
    is one codegen'd scan; the gate is a plain filter — ZERO shuffles
    beyond the assignment scan itself. Returns the surviving rows with
    their ``cell`` (cluster id) attached."""
    from drill_spark.ops.similarity import ivf_assign

    assigned, _cents = ivf_assign(df, id_col, vec_col,
                                  n_cells=n_clusters, seed=seed)
    rates = {str(k): v for k, v in (per_cluster_rate or {}).items()}
    return _cluster_gate(assigned, rates, id_col, default_threshold)


def _cluster_gate(assigned: DataFrame, rates: dict[str, str],
                  id_col: str, default_threshold: str) -> DataFrame:
    gate = F.substring(F.md5(F.col(id_col).cast("string")), 1, 2)
    thr = None
    for cell, threshold in rates.items():
        cond = F.col("cell") == int(cell)
        thr = F.when(cond, threshold) if thr is None else thr.when(cond, threshold)
    thr = thr.otherwise(default_threshold) if thr is not None \
        else F.lit(default_threshold)
    return assigned.where(gate < thr)


def group_split(
    df: DataFrame,
    group_expr: Column,
    id_col: str,
    bounds: tuple[str, str] = ("e6", "f3"),
) -> DataFrame:
    """Leakage-safe train/val/test assignment: every row in the same
    group gets the same split, so duplicates (or near-duplicate
    clusters, URL domains, repo names...) can never straddle the
    train/eval boundary — the standard contamination guard when
    carving held-out sets from a deduplicated corpus (Lee et al. 2022
    §6; The Pile's holdout protocol).

    ``group_expr`` is any Catalyst expression identifying the group
    (e.g. ``F.md5(normalize_text(F.col("text")))`` for exact-dup
    groups, or a cluster id from the dedup ops). The group's
    representative is its MINIMUM id (deterministic), and the split is
    the representative's md5 2-hex prefix against ``bounds``: below
    bounds[0] → train, below bounds[1] → val, else test. Defaults
    ('e6', 'f3') ≈ 90/5/5. Hex-prefix comparison = numeric comparison
    (lowercase fixed-width hex), the same gate stratified_sample uses —
    content-addressed, no RNG, reproducible across engines.

    Scale shape: ONE aggregation on the group key (map-side combined
    min) + one shuffle join back on the group key; the gate itself is
    a codegen expression. Returns the input rows + (split) column.
    """
    lo, hi = bounds
    grouped = df.withColumn("_grp", group_expr)
    reps = grouped.groupBy("_grp").agg(F.min(id_col).alias("_rep"))
    gate = F.substring(F.md5(F.col("_rep").cast("string")), 1, 2)
    split = (
        F.when(gate < lo, "train").when(gate < hi, "val").otherwise("test")
    ).alias("split")
    return (
        grouped.join(reps, "_grp")
        .select(*df.columns, split)
    )


def _hashed_gram_buckets(text_col: str) -> Column:
    """Hashed n-gram feature stream for DSIR: word unigram + bigram
    OCCURRENCES (not distinct — the importance weight is a product over
    occurrences), each hashed to a 4-hex md5 prefix = 65,536 buckets.
    Fixed-width, engine-portable bucket ids keep the model tables
    bounded regardless of vocabulary size.

    The word array is routed through :func:`~drill_spark.ops.hofutil.
    bind_once`: referenced bare inside the bigram position lambda,
    Catalyst inlines the full ``split(...)`` at every ``element_at``
    — two re-splits of the document PER BIGRAM, O(n_words^2) per row
    (the defect class fixed for ``_ngram_keys`` this round)."""
    from drill_spark.ops.hofutil import bind_once

    def _grams(w):
        bi = F.when(
            F.size(w) >= 2,
            F.transform(
                F.sequence(F.lit(1), F.size(w) - 1),
                lambda i: F.concat(
                    F.element_at(w, i), F.lit(" "), F.element_at(w, i + 1)
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))
        return F.transform(
            F.concat(w, bi), lambda g: F.substring(F.md5(g), 1, 4)
        )

    return bind_once(_words(text_col), _grams)


def dsir_weights(
    corpus: DataFrame,
    target: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Data Selection via Importance Resampling (Xie et al. 2023): score
    each raw-corpus document by how much more likely its hashed n-gram
    features are under a small TARGET corpus (the distribution you want
    more of — e.g. Wikipedia/books) than under the raw corpus itself.

    Both distributions are bag-of-hashed-ngrams unigram models with
    add-one smoothing over the B=65,536 buckets; a document's weight is
    the MEAN per-occurrence log-likelihood ratio (length-normalized so
    long documents aren't favored), rounded to 4dp for engine-portable
    ranking. Select with ``orderBy(desc(dsir_weight), id).limit(k)`` —
    TakeOrdered, never a global sort.

    Scale shape: two algebraic count aggregations keyed by the 4-hex
    bucket (≤65,536 groups, map-side combined), the per-bucket model
    table broadcasts (≤65,536 rows however big the corpus is), and one
    per-document aggregation — no self-joins, no driver collect.
    """
    n_buckets = 65536
    c = _spread(corpus).select(
        F.col(id_col), F.explode(_hashed_gram_buckets(text_col)).alias("b")
    )
    t = _spread(target).select(
        F.explode(_hashed_gram_buckets(text_col)).alias("b"))
    # The two bucket-count tables are BOUNDED (≤ 65,536 rows each) and
    # re-read three times (full-outer merge, totals, the scoring join's
    # broadcast) — persisting them caps the corpus text at exactly two
    # passes (one to count, one to score) instead of re-exploding the
    # gram stream per consumer. A bounded persist, never the stream.
    rc = c.groupBy("b").agg(F.count(F.lit(1)).alias("cr")).persist()
    tc = t.groupBy("b").agg(F.count(F.lit(1)).alias("ct")).persist()
    buckets = rc.join(tc, "b", "full_outer").select(
        "b",
        F.coalesce("cr", F.lit(0)).alias("cr"),
        F.coalesce("ct", F.lit(0)).alias("ct"),
    )
    totals = buckets.agg(
        F.sum("cr").alias("tot_r"), F.sum("ct").alias("tot_t")
    )
    table = buckets.crossJoin(F.broadcast(totals)).select(
        "b",
        (
            F.log((F.col("ct") + 1) / (F.col("tot_t") + n_buckets))
            - F.log((F.col("cr") + 1) / (F.col("tot_r") + n_buckets))
        ).alias("lr"),
    )
    return (
        c.join(F.broadcast(table), "b", "left")
        .groupBy(id_col)
        .agg(
            F.round(F.avg("lr"), 4).alias("dsir_weight"),
            F.count(F.lit(1)).alias("n_grams"),
        )
    )


def pack_bins(
    chunks: DataFrame,
    id_cols: tuple[str, ...] = ("doc_id", "chunk_id"),
    tokens_col: str = "n_tokens",
    capacity: int = 2048,
    n_shards: int = 64,
) -> DataFrame:
    """Sequence packing: assign token chunks (e.g. chunk_tokens output)
    to fixed-capacity context-window bins by first-fit-decreasing — the
    trainer-side packing step that turns a chunk inventory into dense
    batches with minimal padding.

    Global bin packing is inherently sequential, so the distributed
    shape is the standard one: chunks hash-shard into ``n_shards``
    independent groups (deterministic AND engine-portable: the first 8
    hex chars of md5 over the '|'-joined id columns — reproducible
    across runs, partitionings, and engines, so a SQL oracle can
    replay the exact sharding) and FFD runs per shard in one Arrow
    batch; ``bin_id = shard * 2^32 + local``. FFD's quality bound
    (≤ 11/9·OPT + 1 bins) holds per shard, so the padding overhead
    stays bounded while every shard packs in parallel; per-task state
    is one shard's chunk list, bounded by n_shards sizing, never the
    corpus. The whole operator is a pure function of its input — the
    per-shard FFD fold replays closed-form (a recursive CTE carrying
    the bin-fill list), which is how ext_substr-style hash oracles
    check it end to end.

    Chunks larger than ``capacity`` get a bin of their own and are
    flagged ``oversize`` (the caller's chunker normally prevents this).
    Adds: shard, bin_id, bin_fill (the bin's final token fill, the
    padding-efficiency signal), oversize.
    """
    shard = (
        F.conv(F.substring(
            F.md5(F.concat_ws("|", *[F.col(c).cast("string")
                                     for c in id_cols])), 1, 8), 16, 10)
        .cast("bigint") % n_shards
    ).cast("int")
    df = chunks.withColumn("shard", shard)
    out_schema = df.schema.simpleString()[7:-1].replace(":", " ") + \
        ", bin_id bigint, bin_fill bigint, oversize boolean"

    id_list = list(id_cols)

    def _ffd(pdf):
        import numpy as np

        pdf = pdf.sort_values(
            [tokens_col, *id_list],
            ascending=[False] + [True] * len(id_list),
            kind="mergesort",
        )
        fills: list[int] = []
        assign: list[int] = []
        for tok in pdf[tokens_col].tolist():
            placed = -1
            if tok <= capacity:
                for j, f in enumerate(fills):
                    if f + tok <= capacity:
                        placed = j
                        break
            if placed < 0:
                placed = len(fills)
                fills.append(0)
            fills[placed] += tok
            assign.append(placed)
        shard_id = int(pdf["shard"].iloc[0]) if len(pdf) else 0
        arr = np.asarray(assign, dtype="int64")
        pdf = pdf.copy()
        pdf["bin_id"] = shard_id * (1 << 32) + arr
        pdf["bin_fill"] = np.asarray(fills, dtype="int64")[arr]
        pdf["oversize"] = pdf[tokens_col].to_numpy() > capacity
        return pdf

    return df.groupBy("shard").applyInPandas(_ffd, out_schema)


def curation_audit(
    df: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    source_col: str,
    weights: dict[str, float],
    token_budget: int,
    min_words: int = 5,
    max_word_len: float = 20.0,
) -> DataFrame:
    """The drop ledger for :func:`curation_pipeline`: one row per INPUT
    document recording its fate through every stage — which gate
    dropped it (and why-shaped columns a curator can aggregate), or
    how many epochs it contributes if kept. At 100 TB you never re-run
    the pipeline to find out why a document vanished; the audit is the
    pipeline's observability face, produced by the SAME stage
    arithmetic (quality gate, min-id exact dedup, 8-gram benchmark
    decontamination, token-budget mixture) so ledger and pipeline can
    never disagree.

    Returns (id_col, source_col, n_words, quality_pass, dup_of,
    contaminated, n_epochs, stage_dropped) where ``dup_of`` is the
    canonical doc id when dedup dropped the row (null otherwise),
    ``n_epochs`` is the kept row's mixture fan-out (0 when dropped),
    and ``stage_dropped`` ∈ {'quality','dedup','decontam','mixture',
    null} — null means the document ships.

    Scale shape (r13): the per-document verdict columns (packed word
    counts, quality, digest) are parsed ONCE; the canonical id is
    attached by a min-window over the digest partition — the window's
    hashpartitioning(__h) exchange is the ledger's only exchange and
    both its consumers (final output, mixture-rates aggregate) reuse
    it, so the text is parsed exactly once for the ledger (the
    pre-r13 plan executed 8 scans / 4 gram explodes; see
    plans/r13/ext_curation_audit_*). Only narrow columns shuffle —
    never the text. The gram explode for decontamination keeps its own
    scan branch (grams would triple the staged row width), joined
    against the broadcast benchmark gram set. Output is one row per
    input document, never inflated by epochs.
    """
    if not weights:
        raise ValueError("curation_audit: weights must be non-empty")
    from pyspark.sql import Window

    words = _words(text_col)
    n_words = F.size(words)
    quality = (
        (n_words >= min_words)
        & (F.length(F.col(text_col)) / F.greatest(n_words, F.lit(1))
           <= max_word_len)
    )
    digest = F.md5(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))
    toks = F.size(F.filter(words, lambda w: w != ""))
    # Parse once: the canonical id is attached with a WINDOW over the
    # digest partition instead of a groupBy+self-join — the window's
    # required hashpartitioning(__h) exchange is the ONLY exchange the
    # ledger needs, and there is no second branch re-parsing the text
    # for the aggregate side (guide §2.4). The word counts are packed
    # into one long (n_words << 32 | clean_tokens) so the final-output
    # branch and the mixture-rates branch prune the staged projection
    # to the IDENTICAL column set — otherwise Catalyst's per-branch
    # column pruning makes the two exchange subtrees differ and AQE
    # cannot reuse the shuffle (measured: two full scans+parses).
    packed = (F.shiftleft(n_words.cast("long"), 32)
              .bitwiseOR(toks.cast("long")))
    base = df.select(
        F.col(id_col), F.col(source_col),
        packed.alias("__wc"),
        quality.alias("quality_pass"),
        digest.alias("__h"),
    )
    wh = Window.partitionBy("__h")
    led = base.withColumn(
        "__canon",
        F.min(F.when(F.col("quality_pass"), F.col(id_col))).over(wh))

    bench_grams = benchmark.select(
        F.explode(_ngram_keys(text_col, 8)).alias("__ng")).distinct()
    dirty = (
        df.where(quality)
        .select(F.col(id_col), F.explode(_ngram_keys(text_col, 8))
                .alias("__ng"))
        .join(F.broadcast(bench_grams), "__ng")
        .select(id_col).distinct()
        .withColumn("__dirty", F.lit(True))
    )
    led = led.join(dirty, id_col, "left")

    # mixture rates over the CLEAN set — the same availability the
    # pipeline's build_mixture would see
    is_clean = (F.col("quality_pass")
                & (F.col(id_col) == F.col("__canon"))
                & F.col("__dirty").isNull())
    spark = df.sparkSession
    wdf = spark.createDataFrame(
        [(s, float(w)) for s, w in sorted(weights.items())],
        f"{source_col} string, __w double")
    avail = (led.where(is_clean)
             .groupBy(source_col)
             .agg(F.sum(F.col("__wc").bitwiseAND(F.lit(0xFFFFFFFF)))
                  .cast("double").alias("__avail")))
    rates = (
        avail.where(F.col("__avail") > 0)
        .join(wdf, source_col)
        .select(
            source_col,
            F.floor(F.col("__w") * F.lit(float(token_budget))
                    / F.col("__avail")).cast("long").alias("__epochs"),
            F.floor(
                (F.col("__w") * F.lit(float(token_budget)) / F.col("__avail")
                 - F.floor(F.col("__w") * F.lit(float(token_budget))
                           / F.col("__avail")))
                * F.lit(float(1 << 24))).cast("long").alias("__gate"),
        )
    )
    led = led.join(F.broadcast(rates), source_col, "left")
    h24 = F.conv(
        F.substring(F.md5(F.col(id_col).cast("string")), 1, 6), 16, 10
    ).cast("long")
    total = (
        F.col("__epochs")
        + F.when(h24 < F.col("__gate"), F.lit(1)).otherwise(F.lit(0))
    )
    n_epochs = F.when(is_clean, F.coalesce(total, F.lit(0))).otherwise(0)
    stage = (
        F.when(~F.col("quality_pass"), F.lit("quality"))
        .when(F.col(id_col) != F.col("__canon"), F.lit("dedup"))
        .when(F.col("__dirty"), F.lit("decontam"))
        .when(n_epochs == 0, F.lit("mixture"))
        .otherwise(F.lit(None).cast("string"))
    )
    return led.select(
        F.col(id_col), F.col(source_col),
        F.shiftright("__wc", 32).alias("n_words"),
        F.col("quality_pass"),
        F.when(F.col("quality_pass")
               & (F.col(id_col) != F.col("__canon")), F.col("__canon"))
        .alias("dup_of"),
        F.coalesce(F.col("__dirty"), F.lit(False)).alias("contaminated"),
        n_epochs.cast("long").alias("n_epochs"),
        stage.alias("stage_dropped"),
    )


_INCR_AUDIT_APP_ID = "drill_spark.incremental_curation_audit"


def incremental_curation_audit(
    df: DataFrame,
    benchmark: DataFrame,
    store_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
    min_words: int = 5,
    max_word_len: float = 20.0,
    batch_id: int | None = None,
    txn_app_id: str = _INCR_AUDIT_APP_ID,
) -> DataFrame:
    """The drop ledger for a CONTINUOUSLY-INGESTING curation pipeline:
    batch N's per-document fate where exact dedup also checks every
    PRIOR batch via a persistent digest store (16 bytes/doc — prior
    text is never rescanned), alongside the quality gate and benchmark
    decontamination of :func:`curation_audit`. The mixture stage is
    deliberately absent: token-budget rates are a whole-corpus
    property, not a per-batch one — run :func:`build_mixture` over the
    accumulated survivors instead.

    Store/replay contract mirrors ops/dedup.incremental_dedup: kept
    documents' digests append txn-stamped (h, batch_id) rows; a
    committed batch_id recomputes its ledger deterministically against
    digests committed strictly BEFORE it and appends nothing; an
    unknown batch_id at or below the high-water mark raises.

    Returns (id_col, source_col, n_words, quality_pass, dup_of,
    dup_batch, contaminated, stage_dropped) with stage_dropped ∈
    {'quality','dedup','dedup_prior','decontam', null}: ``dup_of`` is
    the within-batch canonical id, ``dup_batch`` the prior batch that
    already holds the digest (the store records which batch INTRODUCED
    each digest, so the ledger can say which ingest run displaced the
    document).
    """
    from drill_spark.ops.dedup import normalize_text
    from drill_spark.readers.delta import BatchLedger

    words = _words(text_col)
    n_words = F.size(words)
    quality = (
        (n_words >= min_words)
        & (F.length(F.col(text_col)) / F.greatest(n_words, F.lit(1))
           <= max_word_len)
    )
    # parse once (r13, same design as curation_audit): the canon
    # window below induces the ledger's single hashpartitioning(__h)
    # exchange; the prior-store join is co-partitioned on it, and the
    # gram explode for decontamination keeps its own scan branch.
    base = df.select(
        F.col(id_col), F.col(source_col),
        n_words.cast("long").alias("n_words"),
        quality.alias("quality_pass"),
        F.md5(normalize_text(F.col(text_col))).alias("__h"),
    )

    ledger = BatchLedger(df.sparkSession, store_path, txn_app_id, batch_id,
                         "incremental_curation_audit")
    store, batch_id = ledger.store, ledger.batch_id

    # within-batch canonical id as a min-window over the digest
    # partition (r13): the window's hashpartitioning(__h) exchange is
    # the staging point above, so the canon attach adds no join and no
    # second parse of the batch
    from pyspark.sql import Window

    led = base.withColumn(
        "__canon",
        F.min(F.when(F.col("quality_pass"), F.col(id_col)))
        .over(Window.partitionBy("__h")))
    if store is not None:
        prior = (store.where(F.col("batch_id") < batch_id)
                 .groupBy("h").agg(F.min("batch_id").alias("dup_batch"))
                 .withColumnRenamed("h", "__h"))
        led = led.join(prior, "__h", "left")
    else:
        led = led.withColumn("dup_batch", F.lit(None).cast("long"))

    bench_grams = benchmark.select(
        F.explode(_ngram_keys(text_col, 8)).alias("__ng")).distinct()
    dirty = (
        df.where(quality)
        .select(F.col(id_col), F.explode(_ngram_keys(text_col, 8))
                .alias("__ng"))
        .join(F.broadcast(bench_grams), "__ng")
        .select(id_col).distinct()
        .withColumn("__dirty", F.lit(True))
    )
    led = led.join(dirty, id_col, "left")

    stage = (
        F.when(~F.col("quality_pass"), F.lit("quality"))
        .when(F.col(id_col) != F.col("__canon"), F.lit("dedup"))
        .when(F.col("dup_batch").isNotNull(), F.lit("dedup_prior"))
        .when(F.col("__dirty"), F.lit("decontam"))
        .otherwise(F.lit(None).cast("string"))
    )
    out = led.select(
        F.col(id_col), F.col(source_col), "n_words", "quality_pass",
        F.when(F.col("quality_pass")
               & (F.col(id_col) != F.col("__canon")), F.col("__canon"))
        .alias("dup_of"),
        F.col("dup_batch").cast("long").alias("dup_batch"),
        F.coalesce(F.col("__dirty"), F.lit(False)).alias("contaminated"),
        stage.alias("stage_dropped"),
    )

    if not ledger.replay:
        kept_h = (led.where(
            F.col("quality_pass")
            & (F.col(id_col) == F.col("__canon"))
            & F.col("dup_batch").isNull()
            & F.col("__dirty").isNull())
            .select(F.col("__h").alias("h")).distinct()
            .withColumn("batch_id", F.lit(batch_id)))
        ledger.commit(kept_h)
    return out


def fixed_k_sample(
    df: DataFrame, strata_col: str, id_col: str, k: int
) -> DataFrame:
    """Exactly-k-per-stratum sampling (min(k, stratum size)) — the
    balanced eval-set / few-shot-pool carve: deterministic reservoir by
    ranking each stratum on md5(id) (content-addressed, so the same
    corpus always yields the same sample regardless of partitioning or
    engine) and keeping the first k.

    Shape: one shuffle keyed by the stratum + a per-stratum TOP-K
    window — state per task is one stratum's heap, never the corpus.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(strata_col).orderBy(
        F.md5(F.col(id_col).cast("string")), id_col
    )
    return (
        df.withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") <= k)
        .drop("__rk")
    )


def stratified_weighted_sample(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    k: int,
    strata_col: str,
) -> DataFrame:
    """Per-stratum weighted sampling WITHOUT replacement: keep the k
    rows of each stratum with inclusion probability roughly
    proportional to ``weight_col`` — Sequential Poisson Sampling
    (Ohlsson 1998, the πps approximation national statistics offices
    run): rank by ξ = u / w with u uniform and keep the k smallest.
    The stratified complement of :func:`weighted_sample` (global A-ES
    top-k): per-language / per-source carves in one pass.

    Content-addressed and engine-exact: u = (h24(id) + 1) / 2^24 from
    the first 6 hex digits of md5(id) — the module's sampling
    convention — and ξ is ONE double division of exact values (no
    pow/ln, whose last-ulp rounding could differ between engines), so
    the same corpus yields the same sample in any engine, partitioning
    or re-run. Ties break on id. Rows with weight <= 0 or null are
    excluded (zero inclusion mass).

    Scale shape: one window keyed by the stratum — per-task state is
    one stratum's top-k heap, never the corpus.

    Returns the input columns plus ``xi`` (the sampling key, floored
    to 10 dp — floor, not round, so engines can't split a midpoint).
    """
    if k < 1:
        raise ValueError(f"stratified_weighted_sample: k >= 1, got {k}")
    from pyspark.sql import Window

    h24 = F.conv(
        F.substring(F.md5(F.col(id_col).cast("string")), 1, 6), 16, 10
    ).cast("long")
    xi = (h24 + 1) / F.lit(float(1 << 24)) / F.col(weight_col)
    base = (df.where(F.col(weight_col) > 0)
            .withColumn("__xi", xi))
    w = Window.partitionBy(strata_col).orderBy(F.asc("__xi"),
                                               F.asc(id_col))
    return (
        base.withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") <= int(k))
        .drop("__rk")
        .withColumn("xi", F.floor(F.col("__xi") * 1e10) / 1e10)
        .drop("__xi")
    )


def novelty_score(
    corpus: DataFrame,
    reference: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
) -> DataFrame:
    """Per-document n-gram novelty vs a reference corpus — the
    memorization / freshness measure (the complement of benchmark-
    overlap decontamination; Lee et al. 2022's duplication analysis
    reads this distribution): for each document, the fraction of its
    DISTINCT word n-grams that do NOT occur in ``reference``.

    Returns (id, n_grams, n_seen, novelty) for every document with at
    least one n-gram; novelty = 1 − n_seen/n_grams, rounded 4dp.

    Scale shape: both sides reduce to fixed-width gram hashes per row
    (no shuffle), the reference gram set aggregates once, and the
    membership check is ONE left-semi-style broadcast join counted per
    document — same plan family as decontaminate, so the shuffle is
    sized by the corpus gram stream, never a self-join.
    """
    c = _spread(corpus).select(
        F.col(id_col), F.explode(_ngram_keys(text_col, n)).alias("__ng")
    )
    r = _spread(reference).select(
        F.explode(_ngram_keys(text_col, n)).alias("__ng")
    ).distinct()
    seen = (
        c.join(F.broadcast(r), "__ng", "left_semi")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_seen"))
    )
    totals = c.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_grams"))
    return (
        totals.join(seen, id_col, "left")
        .select(
            id_col, "n_grams",
            F.coalesce("n_seen", F.lit(0)).alias("n_seen"),
            F.round(
                1 - F.coalesce("n_seen", F.lit(0)) / F.col("n_grams"), 4
            ).alias("novelty"),
        )
    )


def temperature_sample(
    df: DataFrame,
    strata_col: str,
    id_col: str,
    alpha: float = 0.5,
    budget_frac: float = 0.5,
) -> DataFrame:
    """Temperature-scaled mixture sampling — the multilingual /
    multi-source balancing move from mT5 and XLM-R: sample stratum s
    with probability proportional to p_s^alpha (alpha < 1 flattens the
    mixture, up-weighting rare languages/sources without starving the
    head), subject to an overall row budget of ``budget_frac * N``.

    Per-stratum keep rate: ``min(1, N*budget_frac * w_s / c_s)`` with
    ``w_s = c_s^alpha / sum(c^alpha)``. The keep decision is
    content-addressed like every sampler here — the first 6 hex digits
    of md5(id) as a 24-bit integer compared against
    ``floor(rate * 2^24)`` — so it is reproducible across engines,
    re-runs, and partitionings, and the comparison is integer-exact
    (no float-rounding drift between engines).

    Scale shape: ONE map-combined count aggregation over strata (tiny:
    one row per language/source), rates derived on that bounded table
    (single-row totals cross-joined — both sides broadcast), then a
    broadcast join back and an ordinary filter on the scan. No shuffle
    of the corpus itself.

    Returns (id, strata, gate) where ``gate`` is the integer threshold
    applied to the stratum (exposes the realized mixture for audit).
    """
    counts = df.groupBy(strata_col).agg(
        F.count(F.lit(1)).cast("double").alias("__c")
    )
    totals = counts.agg(
        F.sum(F.pow("__c", F.lit(alpha))).alias("__z"),
        F.sum("__c").alias("__n"),
    )
    rates = counts.crossJoin(F.broadcast(totals)).select(
        strata_col,
        F.floor(
            F.least(
                F.lit(1.0),
                F.lit(budget_frac) * F.col("__n")
                * (F.pow("__c", F.lit(alpha)) / F.col("__z"))
                / F.col("__c"),
            )
            * F.lit(float(1 << 24))
        ).cast("long").alias("gate"),
    )
    h24 = F.conv(
        F.substring(F.md5(F.col(id_col).cast("string")), 1, 6), 16, 10
    ).cast("long")
    return (
        df.join(F.broadcast(rates), strata_col)
        .where(h24 < F.col("gate"))
        .select(id_col, strata_col, "gate")
    )


CARD_RE = r"\b(?:\d[ -]?){12,18}\d\b"


def luhn_scan(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Checksum-validated payment-card PII — the detector regexes alone
    can't provide: a 13-19-digit run (spaces/dashes allowed) is only
    PII if its Luhn checksum verifies, so plain number soup (order ids,
    timestamps) survives while real PANs are counted and redacted.

    Candidate extraction is leftmost non-overlapping with word
    boundaries, so a digit run longer than 19 can still yield a
    boundary-aligned sub-match (e.g. the first four groups of a
    five-group separated run) — RE2 and Java regex agree on this,
    randomized-parity-tested against Python re.

    Entirely Catalyst HOFs — candidates from ``regexp_extract_all``,
    the Luhn sum as ``transform`` (indexed lambda) + ``aggregate`` over
    the reversed digit array, and redaction as an ``aggregate`` fold
    replacing each VALID candidate. One codegen pass over the text,
    zero shuffles, per-row work bounded by document length; the same
    algebra runs in the DuckDB oracle (1-based lambda index there).

    Returns (id, n_card, redacted).
    """
    t = F.col(text_col)

    def luhn_ok(c):
        # bind the separator-stripped digits once per candidate:
        # referenced bare, the regexp_replace re-ran at every one of
        # its three uses (split input + the length check)
        from drill_spark.ops.hofutil import bind_once

        return bind_once(F.regexp_replace(c, "[ -]", ""), _luhn_digits_ok)

    def _luhn_digits_ok(s):
        rev = F.split(F.reverse(s), "")
        vals = F.transform(
            rev,
            lambda x, i: F.when(
                i % 2 == F.lit(1),
                F.when(x.cast("int") * 2 > 9, x.cast("int") * 2 - 9)
                .otherwise(x.cast("int") * 2),
            ).otherwise(x.cast("int")),
        )
        total = F.aggregate(vals, F.lit(0), lambda acc, x: acc + x)
        return F.length(s).between(13, 19) & (total % 10 == F.lit(0))

    cards = F.filter(
        F.regexp_extract_all(t, F.lit(CARD_RE), F.lit(0)), luhn_ok)
    redacted = F.aggregate(
        cards, t, lambda acc, c: F.replace(acc, c, F.lit("[CARD]")))
    return df.select(
        F.col(id_col),
        F.size(cards).cast("long").alias("n_card"),
        redacted.alias("redacted"),
    )


def weighted_sample(df: DataFrame, id_col: str, weight_col: str,
                    k: int) -> DataFrame:
    """Weighted sampling WITHOUT replacement (Efraimidis–Spirakis
    A-ES): each row draws a content-addressed uniform u from its id's
    md5 and ranks by exponential key ``-ln(u)/w`` — the k smallest keys
    are a true weight-proportional sample, the distributed-systems
    standard for quality-weighted corpus carving (weights = quality
    scores, token counts, dataset-mixture multipliers...).

    Content-addressed u (24-bit md5 prefix, +1 so u > 0) keeps the
    draw reproducible across engines/partitionings; keys round to 6dp
    with id tiebreak so last-ulp ln() differences can't flip ranks.
    Selection is ``orderBy(key, id).limit(k)`` — TakeOrdered per-
    partition heaps + driver merge of k rows, never a global sort.

    A-ES requires strictly positive weights: rows with w <= 0 (or null)
    are excluded from the draw — a negative weight would otherwise sort
    AHEAD of every positive one and deterministically enter the sample.

    Returns (id, weight, key) for the k sampled rows.
    """
    df = df.where(F.col(weight_col) > 0)
    u = (
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 6),
               16, 10).cast("double") + F.lit(1.0)
    ) / F.lit(float(1 << 24))
    key = F.round(-F.log(u) / F.col(weight_col), 6)
    return (
        df.select(
            F.col(id_col),
            F.col(weight_col).cast("double").alias("weight"),
            key.alias("key"),
        )
        .orderBy("key", id_col)
        .limit(k)
    )


def training_shards(df: DataFrame, id_col: str,
                    n_shards: int = 1024) -> DataFrame:
    """Deterministic global shuffle for training-data writing: every
    row gets a (shard, pos) address where the shard is a
    content-addressed hash bucket and ``pos`` is the row's rank under
    an md5 permutation within the shard — together a reproducible
    whole-corpus shuffle (the examples a data loader reads in
    (shard, pos) order are de-correlated from source order, the
    Fisher-Yates-quality property pretraining loaders need) with no
    RNG state and no driver involvement.

    Scale shape: one shuffle keyed by the shard id + one in-shard
    sort; pick ``n_shards`` so a shard fits an executor's sort buffer
    (at 100 TB: tens of thousands). Write with
    ``.repartition("shard").sortWithinPartitions("pos")`` and the
    files ARE the shuffled dataset.

    Returns (id, shard, pos).
    """
    from pyspark.sql import Window

    h = F.md5(F.col(id_col).cast("string"))
    shard = (
        F.conv(F.substring(h, 1, 6), 16, 10).cast("long") % n_shards
    ).cast("int")
    w = Window.partitionBy("shard").orderBy(F.md5(
        F.concat(F.lit("pos_"), F.col(id_col).cast("string"))), id_col)
    return (
        df.select(F.col(id_col), shard.alias("shard"))
        .withColumn("pos", F.row_number().over(w))
    )


def build_mixture(
    df: DataFrame,
    source_col: str,
    id_col: str,
    text_col: str,
    weights: dict[str, float],
    token_budget: int,
    tokens=None,
) -> DataFrame:
    """Token-budget mixture builder — compose the final training mix
    from heterogeneous sources with target weights measured in TOKENS,
    the way published pretraining mixes are specified (The Pile's
    per-component epochs, Gao et al. 2021 table 1; LLaMA's sampling
    proportions, Touvron et al. 2023 table 1): source s should
    contribute ``weights[s] * token_budget`` tokens to the mix.

    Per-source rate = target_tokens / available_tokens. Rates above 1
    mean the source is smaller than its target share, so its documents
    REPEAT floor(rate) times (multiple epochs — exactly how small
    high-quality sources like Wikipedia are over-sampled in practice)
    plus a fractional extra epoch gated content-addressed: the first 6
    hex digits of md5(id) as a 24-bit integer against
    ``floor(frac * 2^24)`` — integer-exact, reproducible across
    engines, re-runs, and partitionings (the same gate every sampler
    in this module uses). Sources absent from ``weights`` are dropped.

    Scale shape: the input is projected to (id, source, n_tokens) and
    staged behind ONE hash exchange so the availability aggregate and
    the join-back probe share a single execution of the input subtree
    (expensive token counters / source classifiers / upstream join
    trees run once); the aggregate is map-combined into one row per
    source, rates are derived on that bounded table and broadcast
    back, then the per-row epoch fan-out (``explode(sequence(...))``
    — output size is the answer size) runs on the staged rows. The
    text itself never shuffles.

    ``tokens`` (optional Column) overrides the whitespace word count
    with a tokenizer-true one — pass
    ``ops.bpe.bpe_count_column(text_col, merges)`` so budgets are
    measured under the vocabulary that will actually train; the
    difference is material for mixture weights at scale.

    Returns (id, source, epoch, n_tokens) — epoch is 1-based; feed
    (id, epoch) to :func:`epoch_shuffle` so each epoch's copies land
    in a different global order.
    """
    if not weights:
        raise ValueError("build_mixture: weights must be non-empty")
    toks = (tokens if tokens is not None
            else F.size(F.filter(_words(text_col), lambda w: w != "")))
    spark = df.sparkSession
    wdf = spark.createDataFrame(
        [(s, float(w)) for s, w in sorted(weights.items())],
        f"{source_col} string, __w double",
    )
    # The mixture consumes its input from TWO branches (the per-source
    # availability aggregate and the join-back probe). Without a
    # materialization point between them, Catalyst executes the whole
    # input subtree twice — and ``toks``/``source_col`` may be
    # EXPENSIVE per-row work (the Arrow-batched BPE tokenizer, the
    # language classifier, or an upstream dedup/decontam join tree).
    # Stage the three narrow columns the mixture actually needs behind
    # one hash exchange: AQE's exchange reuse executes the input once
    # and both branches read the shuffle output. Shuffled rows are
    # (id, source, n_tokens) — never the text (guide §2.3/§2.4); the
    # partition count is the session's shuffle.partitions (AQE
    # coalesces a repartition-by-column, so this stays scale-adaptive).
    narrow = (
        df.select(
            F.col(id_col), F.col(source_col),
            toks.cast("long").alias("__bm_tok"))
        .repartition(F.col(id_col))
    )
    avail = narrow.groupBy(source_col).agg(
        F.sum("__bm_tok").cast("double").alias("__avail")
    )
    rates = (
        # A weighted source whose documents all tokenize to zero tokens
        # would make __rate = Infinity and the epoch fan-out explode;
        # such a source cannot contribute tokens, so drop it here (the
        # one-row-per-source table is bounded, so the filter is free).
        # LEFT join for the same plan reason as the probe join below:
        # an inner join's isnotnull(source_col) constraint pushes
        # below the aggregate into the scan and re-evaluates an
        # expression-valued source column there; unweighted sources
        # ride along with NULL __w -> NULL epochs/gate -> dropped by
        # the probe-side explode, so the output is unchanged.
        avail.where(F.col("__avail") > 0)
        .join(wdf, source_col, "left")
        .select(
            source_col,
            (F.col("__w") * F.lit(float(token_budget)) / F.col("__avail")
             ).alias("__rate"),
        )
        .select(
            source_col,
            F.floor("__rate").cast("long").alias("__epochs"),
            F.floor(
                (F.col("__rate") - F.floor("__rate")) * F.lit(float(1 << 24))
            ).cast("long").alias("__gate"),
        )
    )
    h24 = F.conv(
        F.substring(F.md5(F.col(id_col).cast("string")), 1, 6), 16, 10
    ).cast("long")
    total = (
        F.col("__epochs")
        + F.when(h24 < F.col("__gate"), F.lit(1)).otherwise(F.lit(0))
    )
    # Spark's sequence(1, 0) is DESCENDING [1, 0], not empty — rows
    # whose epoch count is zero must short-circuit to an empty list.
    epochs = F.when(
        total >= 1, F.sequence(F.lit(1), total.cast("int"))
    ).otherwise(F.array().cast("array<int>"))
    # LEFT join, not inner: rows from sources outside the weight table
    # get NULL __epochs, so `total` is NULL and the explode drops them
    # — identical output to an inner join. The difference is the PLAN:
    # an inner join infers isnotnull(source_col) and pushes it into
    # the probe-side SCAN as a data filter, which re-evaluates the
    # whole source expression below any spread/exchange (measured with
    # the language-ID column: the full classifier ran a second time,
    # single-threaded, inside the FileScan's DataFilters). A left
    # join generates no such constraint, and the explode is a
    # generator, not a null-rejecting Filter, so EliminateOuterJoin
    # cannot convert it back.
    #
    # NULL-SAFE key (<=>), not plain equality (r13): a left join still
    # infers isnotnull(key) for its RIGHT side — null keys never match
    # — and that constraint propagates down the rates lineage through
    # the availability aggregate into ITS copy of the staged subtree
    # as Filter(isnotnull(<source expr>)). Measured with the LID
    # column: the filter re-evaluated the classifier per row AND made
    # the two staged subtrees differ, so AQE could not reuse the
    # exchange — the classifier ran 3x per query. <=> generates no
    # null constraint; output is identical because a null-keyed rates
    # row (only possible from a null source group) joins wdf on plain
    # equality, carries NULL __w -> NULL epochs, and the explode drops
    # it exactly as the non-matching case did.
    rt = rates.withColumnRenamed(source_col, "__bm_src")
    return (
        narrow.join(F.broadcast(rt),
                    F.col(source_col).eqNullSafe(F.col("__bm_src")),
                    "left")
        .select(
            F.col(id_col),
            F.col(source_col),
            F.explode(epochs).alias("epoch"),
            F.col("__bm_tok").alias("n_tokens"),
        )
    )


def epoch_shuffle(df: DataFrame, id_col: str, epoch: int | None = None,
                  n_shards: int = 1024,
                  keep_columns: bool = False) -> DataFrame:
    """Epoch-aware deterministic global shuffle: the same corpus gets a
    DIFFERENT reproducible permutation every epoch (pretraining loaders
    reshuffle between epochs; doing it content-addressed means any
    worker can recompute example k of epoch e without coordination).

    Identical to :func:`training_shards` but the permutation hash is
    salted with the epoch number — pass ``epoch=None`` to read the
    per-row ``epoch`` column produced by :func:`build_mixture`, so each
    repeated copy of an over-sampled document lands in a different
    place in the global order.

    Scale shape: one shuffle keyed by the shard id + one in-shard sort
    (see training_shards). Returns (id, epoch, shard, pos); with
    ``keep_columns=True`` the input columns pass through instead
    (``epoch`` must then already be a column) — the mode
    :func:`curation_pipeline` composes on, so the salt/addressing
    logic exists exactly once.
    """
    from pyspark.sql import Window

    e = F.lit(int(epoch)) if epoch is not None else F.col("epoch")
    salt = F.concat(F.lit("pos_e"), e.cast("string"), F.lit("_"),
                    F.col(id_col).cast("string"))
    shard = (
        F.conv(F.substring(F.md5(salt), 1, 6), 16, 10).cast("long")
        % n_shards
    ).cast("int")
    w = Window.partitionBy(e, shard).orderBy(F.md5(salt), id_col)
    addressed = df.withColumn("shard", shard).withColumn(
        "pos", F.row_number().over(w))
    if keep_columns:
        return addressed
    return addressed.select(F.col(id_col), e.cast("int").alias("epoch"),
                            "shard", "pos")


def curation_pipeline(
    df: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    source_col: str,
    weights: dict[str, float],
    token_budget: int,
    n_shards: int = 16,
    min_words: int = 5,
    max_word_len: float = 20.0,
) -> DataFrame:
    """The end-to-end curation path from raw documents to addressed
    training examples, composed as ONE Catalyst plan:

    1. quality gate — length + mean-word-length predicates (C4-style,
       Raffel et al. 2020), pure codegen on the scan;
    2. exact dedup — keep the minimum-id document per normalized-text
       md5 (one map-combined aggregation on the digest);
    3. decontamination — drop survivors sharing any word 8-gram with
       the held-out benchmark (GPT-3 appendix C convention; benchmark
       grams broadcast);
    4. token-budget mixture — per-source epoch fan-out against
       ``weights``/``token_budget`` (:func:`build_mixture` inline);
    5. shard addressing — the epoch-salted md5 permutation of
       :func:`epoch_shuffle`, windowed in-plan.

    Shuffle budget for the corpus (r13 restructure): the text is
    parsed ONCE into narrow per-document columns (id, source, digest,
    clean-token count); the dedup keep decision is a min-window over
    the digest partition (one exchange, no groupBy+self-join branch),
    the gram explode keeps its own scan branch against the broadcast
    benchmark grams, the mixture stages (id, source, n_tokens) behind
    one more narrow exchange inside :func:`build_mixture`, and the
    final (epoch, shard) window is the one remaining shuffle. The
    pre-r13 composition re-executed the quality+dedup+decontam
    subtree for every consumer — 16 parquet scans; see
    plans/r13/ext_curation_pipeline_*. Returns (id, source, epoch,
    n_tokens, shard, pos), fully deterministic → DuckDB-oracle-backed.
    """
    from pyspark.sql import Window

    words = _words(text_col)
    n_words = F.size(words)
    gate = (
        (n_words >= min_words)
        & (F.length(F.col(text_col)) / F.greatest(n_words, F.lit(1))
           <= max_word_len)
    )
    digest = F.md5(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))
    toks = F.size(F.filter(words, lambda w: w != ""))
    # parse once (same design as curation_audit): the keep decision is
    # a min-window over the digest partition — one exchange, no
    # groupBy+self-join branch re-parsing the text
    passed = df.where(gate).select(
        F.col(id_col), F.col(source_col),
        digest.alias("__h"), toks.alias("__ntok"),
    )
    wh = Window.partitionBy("__h")
    survivors = (
        passed.withColumn("__canon", F.min(id_col).over(wh))
        .where(F.col(id_col) == F.col("__canon"))
    )

    grams = df.where(gate).select(
        F.col(id_col), F.explode(_ngram_keys(text_col, 8)).alias("__ng"))
    bench_grams = benchmark.select(
        F.explode(_ngram_keys(text_col, 8)).alias("__ng")).distinct()
    dirty = (
        grams.join(F.broadcast(bench_grams), "__ng")
        .select(id_col).distinct()
    )
    clean = survivors.join(dirty, id_col, "left_anti")

    mix = build_mixture(clean, source_col, id_col, text_col,
                        weights, token_budget, tokens=F.col("__ntok"))
    return epoch_shuffle(
        mix, id_col, epoch=None, n_shards=n_shards, keep_columns=True
    ).select(id_col, source_col, "epoch", "n_tokens", "shard", "pos")
