"""Exact substring deduplication (ExactSubstr) — the published
standard for training-data dedup (Lee et al. 2022, "Deduplicating
Training Data Makes Language Models Better"): find verbatim token
spans of length >= L shared across documents and remove every
occurrence except the canonical one, leaving the rest of each
document intact. This is the exact-match primitive the doc-level
operators can't express: winnowing fingerprints (ops/winnow.py)
SAMPLE spans, MinHash/setsim (ops/dedup.py, ops/fuzzy.py) score WHOLE
documents, and the fixed-n decontamination grams
(ops/pipeline.py::decontaminate) only flag — none of them removes the
duplicated text itself.

Where the paper builds a corpus-wide suffix array (a single-machine
data structure), the distributed re-expression is a rolling L-token
window join — the same postings shape as ops/fuzzy.containment_join:

- tokenize once; each document emits one row per token position
  (linear in corpus tokens);
- every L-token window becomes a span row via ONE ordered
  ``collect_list`` window pass (rowsBetween(0, L-1) — no self-join,
  no explode-by-L blow-up: row count stays = token count, only the
  payload widens by the span text);
- duplicate detection is TWO-PHASE so the wide span strings don't
  dominate the shuffle at corpus scale: a map-combined count over the
  8-byte ``xxhash64(span)`` first (only hashes shuffle), then a
  semi-join keeps the surviving windows and an exact string groupBy
  over that (tiny) stream decides TRUE duplicates — hash collisions
  are a pre-filter concern only, never a correctness one;
- removal is keep-lowest-doc: a span's occurrences are kept in the
  smallest doc_id that contains it (ALL its occurrences there,
  deterministic and order-free) and removed everywhere else; covered
  token positions come from one bounded ``sequence`` explode over
  removed windows only;
- text reconstruction is one per-doc ordered aggregate.

Every step is a Catalyst plan (no Python in the row path), shuffles
are keyed on doc ids or span hashes, and the only corpus-scale
exchanges are the token/window streams — the same budget as the
set-similarity family. Deterministic end to end, so the whole
operator hash-checks against a closed-form DuckDB oracle
(__spark_entry__ ``ext_substr_dedup``).

Whitespace canonicalization: tokens come from ``\\s+``-splitting the
trimmed, lowercased text (the convention shared with ops/dedup and
ops/fuzzy), so reconstruction joins with single spaces. Documents
with zero tokens are excluded (no span to compare), mirroring the
set-similarity operators.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _token_positions(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, p, tok): 1-based dense token positions per document.

    Leading/trailing whitespace is stripped with a regexp (NOT F.trim,
    which removes spaces only — a leading tab/newline would otherwise
    leave a '' first element and shift every position by one), so
    ``\\s+``-splitting never yields interior empties and posexplode
    indices are already dense; the empty-token filter only drops the
    single '' an all-whitespace document produces.
    """
    return (
        df.select(
            F.col(id_col).alias("id"),
            F.posexplode(
                F.split(
                    F.regexp_replace(F.lower(F.col(text_col)),
                                     r"^\s+|\s+$", ""),
                    r"\s+")
            ).alias("p0", "tok"),
        )
        .where(F.col("tok") != "")
        .select("id", (F.col("p0") + 1).alias("p"), "tok")
    )


def _window_spans(toks: DataFrame, min_tokens: int) -> DataFrame:
    """(id, p, span): every L-token window as a single space-joined
    string — one ordered window pass, row count unchanged."""
    w = (Window.partitionBy("id").orderBy("p")
         .rowsBetween(0, min_tokens - 1))
    return (
        toks.withColumn("warr", F.collect_list("tok").over(w))
        .where(F.size("warr") == min_tokens)
        .select("id", "p", F.array_join("warr", " ").alias("span"))
    )


def _removed_windows(spans: DataFrame,
                     scores: DataFrame | None = None,
                     detect: str = "exact") -> DataFrame:
    """(id, p) of windows to remove under the canonical-copy rule.
    Default: keep-lowest-doc (the span also occurs in some smaller
    doc_id). With ``scores`` — (id, __score) — the canonical doc is
    the HIGHEST-scored one holding the span (ties to the smaller id),
    so duplicated text survives in its best copy.

    ``detect`` picks the duplicate-detection payload:

    - ``"exact"``: hash pre-filter (8-byte xxhash64 shuffle keys) then
      an exact span-string groupBy over the hash survivors — string
      compares decide, collisions can't cost correctness. PRECONDITION
      at scale: the duplicate-hash set must broadcast; on a heavily
      duplicated corpus where it exceeds the broadcast threshold, the
      semi-join falls back to shuffling full span strings.
    - ``"digest"``: detection AND canonicalization key on the 128-bit
      md5 of the span (the engine's content-digest contract, shared
      with the incremental store) — span strings NEVER cross an
      exchange; only (id, p, digest) shuffles. Exact up to md5
      collision (~2^-64 at 10^13 spans) — the 100 TB path.
    """
    if detect == "digest":
        hashed = spans.select("id", "p", F.md5("span").alias("h"))
        if scores is None:
            canon = (
                hashed.groupBy("h")
                .agg(F.count("*").alias("c"), F.min("id").alias("keep_id"))
                .where(F.col("c") >= 2)
                .select("h", "keep_id")
            )
        else:
            canon = (
                hashed.join(scores, "id")
                .groupBy("h")
                .agg(F.count("*").alias("c"),
                     F.max(F.struct(F.col("__score"),
                                    (-F.col("id")).alias("__nid"))).alias("m"))
                .where(F.col("c") >= 2)
                .select("h", (-F.col("m.__nid")).alias("keep_id"))
            )
        return (
            hashed.join(canon, "h")
            .where(F.col("id") != F.col("keep_id"))
            .select("id", "p")
        )
    if detect != "exact":
        raise ValueError(
            f"detect must be 'exact' or 'digest', got {detect!r}")
    hashed = spans.withColumn("h", F.xxhash64("span"))
    multi = (hashed.groupBy("h").agg(F.count("*").alias("c"))
             .where(F.col("c") >= 2).select("h"))
    survivors = hashed.join(multi, "h", "left_semi")
    if scores is None:
        canon = survivors.groupBy("span").agg(F.min("id").alias("keep_id"))
    else:
        # argmax(score) with min-id tiebreak: max over a (score, -id)
        # struct — one aggregate, no window
        canon = (
            survivors.join(scores, "id")
            .groupBy("span")
            .agg(F.max(F.struct(F.col("__score"),
                                (-F.col("id")).alias("__nid"))).alias("m"))
            .select("span", (-F.col("m.__nid")).alias("keep_id"))
        )
    return (
        survivors.join(canon, "span")
        .where(F.col("id") != F.col("keep_id"))
        .select("id", "p")
    )


def substr_duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 8,
    detect: str = "exact",
) -> DataFrame:
    """Report maximal CROSS-DOCUMENT duplicated regions: for every
    document, the merged (islands) token ranges covered by some
    L-token window that also appears verbatim in at least one OTHER
    document. The audit face of :func:`substr_dedup` — same detection,
    no removal.

    ``detect="digest"`` keys detection on the 128-bit span md5 so span
    strings never shuffle (see :func:`_removed_windows`) — the choice
    for heavily duplicated corpora where the duplicate-hash set
    outgrows the broadcast threshold.

    Returns (id_col, start_tok, end_tok, n_tokens) with 1-based
    inclusive token positions, one row per maximal region.
    """
    L = int(min_tokens)
    if L < 1:
        raise ValueError(f"substr_duplicate_spans: min_tokens >= 1, got {L}")
    spans = _window_spans(_token_positions(df, id_col, text_col), L)
    if detect == "digest":
        hashed = spans.select("id", "p", F.md5("span").alias("h"))
        cross = (hashed.groupBy("h")
                 .agg(F.countDistinct("id").alias("ndocs"))
                 .where(F.col("ndocs") >= 2).select("h"))
        dup_wins = hashed.join(cross, "h", "left_semi").select("id", "p")
    elif detect == "exact":
        hashed = spans.withColumn("h", F.xxhash64("span"))
        multi = (hashed.groupBy("h").agg(F.count("*").alias("c"))
                 .where(F.col("c") >= 2).select("h"))
        survivors = hashed.join(multi, "h", "left_semi")
        cross = survivors.groupBy("span").agg(
            F.countDistinct("id").alias("ndocs"))
        dup_wins = (
            survivors.join(cross.where(F.col("ndocs") >= 2).select("span"),
                           "span", "left_semi")
            .select("id", "p")
        )
    else:
        raise ValueError(
            f"detect must be 'exact' or 'digest', got {detect!r}")
    covered = (
        dup_wins.select(
            "id", F.explode(F.sequence(F.col("p"),
                                       F.col("p") + (L - 1))).alias("p"))
        .distinct()
    )
    # gaps-and-islands: consecutive covered positions merge into one
    # maximal region
    isl = (
        covered.withColumn(
            "rn", F.row_number().over(Window.partitionBy("id").orderBy("p")))
        .withColumn("grp", F.col("p") - F.col("rn"))
    )
    return (
        isl.groupBy("id", "grp")
        .agg(F.min("p").alias("start_tok"), F.max("p").alias("end_tok"),
             F.count("*").alias("n_tokens"))
        .select(F.col("id").alias(id_col), "start_tok", "end_tok",
                "n_tokens")
    )


def substr_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 8,
    score_col: str | None = None,
    detect: str = "exact",
) -> DataFrame:
    """ExactSubstr removal: delete every token covered by an L-token
    window whose span text also occurs in the canonical copy's
    document (which keeps ALL its occurrences), and reconstruct the
    remaining text. Exact, deterministic, order-free.

    Canonical-copy rule: lowest doc_id by default; pass ``score_col``
    (a numeric quality column on ``df``) to keep each duplicated span
    in its HIGHEST-scored document instead (ties to the smaller id) —
    the curation-grade choice when copies differ in quality.

    ``detect="digest"`` keys detection and canonicalization on the
    128-bit span md5 so span strings never cross an exchange — use it
    when the duplicate-hash set would outgrow the broadcast threshold
    (see :func:`_removed_windows` for the exact trade).

    Returns (id_col, n_tokens, n_removed, clean_text) — one row per
    document with >= 1 token; a fully-duplicated document survives
    with clean_text = '' and n_removed = n_tokens, so downstream
    filters see the removal rather than a silently vanished row.
    """
    L = int(min_tokens)
    if L < 1:
        raise ValueError(f"substr_dedup: min_tokens >= 1, got {L}")
    toks = _token_positions(df, id_col, text_col)
    scores = None
    if score_col is not None:
        scores = df.select(F.col(id_col).alias("id"),
                           F.col(score_col).alias("__score"))
    removed = _removed_windows(_window_spans(toks, L), scores, detect=detect)
    covered = (
        removed.select(
            "id", F.explode(F.sequence(F.col("p"),
                                       F.col("p") + (L - 1))).alias("p"))
        .distinct()
    )
    return _reconstruct(toks, covered, id_col)


def substr_decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_id: str = "bench_id",
    bench_text: str = "text",
    min_tokens: int = 8,
) -> DataFrame:
    """Verbatim benchmark decontamination — the EXACT-MATCH half of the
    decontamination story: remove from every corpus document each token
    covered by an L-token window that appears verbatim anywhere in the
    benchmark set (the published n-gram-overlap scrub, GPT-3 appendix C
    / Lee et al. 2022 §6, applied as REMOVAL rather than the
    flag-and-drop of ops/pipeline.decontaminate, and exact rather than
    the threshold-Jaccard of ops/fuzzy.containment_join).

    Scale shape: the benchmark side is small by nature — its distinct
    span set broadcasts; the corpus stream keeps the linear one-window-
    pass shape of substr_dedup and never shuffles for detection (the
    only exchanges are the per-doc reconstruction aggregates).

    Returns (id_col, n_tokens, n_removed, clean_text), one row per
    corpus document with >= 1 token.
    """
    L = int(min_tokens)
    if L < 1:
        raise ValueError(f"substr_decontaminate: min_tokens >= 1, got {L}")
    toks = _token_positions(corpus, id_col, text_col)
    cspans = _window_spans(toks, L)
    bspans = (
        _window_spans(_token_positions(benchmark, bench_id, bench_text), L)
        .select("span").distinct()
    )
    removed = cspans.join(F.broadcast(bspans), "span", "left_semi")
    covered = (
        removed.select(
            "id", F.explode(F.sequence(F.col("p"),
                                       F.col("p") + (L - 1))).alias("p"))
        .distinct()
    )
    return _reconstruct(toks, covered, id_col)


def _reconstruct(toks: DataFrame, covered: DataFrame,
                 id_col: str) -> DataFrame:
    """(id_col, n_tokens, n_removed, clean_text) from the token stream
    minus covered positions — the shared tail of the removal ops."""
    totals = toks.groupBy("id").agg(F.count("*").alias("n_tokens"))
    kept = (
        toks.join(covered, ["id", "p"], "left_anti")
        .groupBy("id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("p", "tok"))),
                    lambda s: s["tok"],
                ), " ").alias("clean_text"),
            F.count("*").alias("n_kept"),
        )
    )
    return (
        totals.join(kept, "id", "left")
        .select(
            F.col("id").alias(id_col),
            "n_tokens",
            (F.col("n_tokens") - F.coalesce("n_kept", F.lit(0)))
            .cast("long").alias("n_removed"),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        )
    )


_INCR_SUBSTR_APP_ID = "drill_spark.incremental_substr_dedup"


def incremental_substr_dedup(
    df: DataFrame,
    store_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 8,
    batch_id: int | None = None,
    txn_app_id: str = _INCR_SUBSTR_APP_ID,
    detect: str = "exact",
) -> DataFrame:
    """Cross-run ExactSubstr dedup against a persistent span-digest
    store — the substring sibling of ops/fuzzy.incremental_setsim:
    batch N removes every token covered by an L-window whose span was
    seen in ANY earlier batch (earlier batches are canonical), plus
    the keep-lowest-doc rule within the batch, WITHOUT rescanning
    prior batches' text. What persists is the batch's distinct span
    digests — md5, the same engine-portable content-digest convention
    as the exact-dedup store, so 'exact up to digest collision' is the
    identical contract (and a SQL oracle can replay the digests).

    Store layout: Delta (h: md5 hex of the span text, batch_id), one
    row per distinct span per batch; linear in corpus tokens, ~16
    bytes per span — the honest cost of cross-run exactness. Digests
    are computed over INPUT text (not the cleaned output), so removal
    splice artifacts never become canonical spans. Replay/ordering
    follow incremental_setsim's per-batch txn contract: committed
    batch ids replay from the store without re-append; an unknown id
    at or below the high-water mark raises.

    Returns (id_col, n_tokens, n_removed, clean_text) for the batch.
    A replay recomputes the same deterministic result from the
    resubmitted batch text against the spans committed strictly
    BEFORE this batch (the batch's own digests are excluded by
    ``batch_id < N``), and appends nothing — idempotent end to end.
    """
    from drill_spark.readers.delta import BatchLedger

    L = int(min_tokens)
    if L < 1:
        raise ValueError(f"incremental_substr_dedup: min_tokens >= 1, got {L}")
    ledger = BatchLedger(df.sparkSession, store_path, txn_app_id, batch_id,
                         "incremental_substr_dedup")
    store, batch_id = ledger.store, ledger.batch_id

    toks = _token_positions(df, id_col, text_col)
    spans = _window_spans(toks, L).withColumn("h", F.md5("span"))

    # within-batch keep-lowest-doc removal (substr_dedup semantics;
    # detect="digest" keeps span strings out of the exchanges here too
    # — the store side already keys on md5 either way)
    removed = _removed_windows(spans.drop("h"), detect=detect)
    if store is not None:
        olds = (store.where(F.col("batch_id") < batch_id)
                .select("h").distinct())
        hit = (spans.join(olds, "h", "left_semi")
               .select("id", "p"))
        removed = removed.unionByName(hit)
    covered = (
        removed.select(
            "id", F.explode(F.sequence(F.col("p"),
                                       F.col("p") + (L - 1))).alias("p"))
        .distinct()
    )
    out = _reconstruct(toks, covered, id_col)

    if not ledger.replay:
        ledger.commit(spans.select("h").distinct()
                      .withColumn("batch_id", F.lit(batch_id)))
    return out


def substr_contamination_report(
    probe: DataFrame,
    corpus: DataFrame,
    probe_id: str = "bench_id",
    probe_text: str = "text",
    corpus_id: str = "doc_id",
    corpus_text: str = "text",
    min_tokens: int = 8,
) -> DataFrame:
    """The audit face of :func:`substr_decontaminate`: which benchmark
    item leaked verbatim into which corpus document, and how badly —
    one row per (benchmark, corpus) pair sharing at least one L-token
    window, with the count of shared windows and the count of corpus
    token positions those windows cover (the removal footprint the
    scrub would take). Run this BEFORE committing to removal.

    Scale shape: the benchmark span set stays broadcast-sized; the
    pair aggregation keys on (benchmark id, corpus id) — bounded by
    true contamination, not corpus size.

    Returns (probe_id, corpus_id, n_shared_windows, n_covered_tokens).
    """
    L = int(min_tokens)
    if L < 1:
        raise ValueError(
            f"substr_contamination_report: min_tokens >= 1, got {L}")
    if probe_id == corpus_id:
        raise ValueError("substr_contamination_report: probe_id and "
                         "corpus_id must differ (alias one side)")
    cspans = _window_spans(_token_positions(corpus, corpus_id, corpus_text),
                           L).withColumnRenamed("id", "cid")
    bspans = (
        _window_spans(_token_positions(probe, probe_id, probe_text), L)
        .select(F.col("id").alias("bid"), "span").distinct()
    )
    hits = cspans.join(F.broadcast(bspans), "span")
    pairs = hits.groupBy("bid", "cid").agg(
        F.count("*").alias("n_shared_windows"))
    covered = (
        hits.select("bid", "cid",
                    F.explode(F.sequence(F.col("p"),
                                         F.col("p") + (L - 1))).alias("q"))
        .distinct()
        .groupBy("bid", "cid").agg(F.count("*").alias("n_covered_tokens"))
    )
    return (
        pairs.join(covered, ["bid", "cid"])
        .select(F.col("bid").alias(probe_id), F.col("cid").alias(corpus_id),
                "n_shared_windows", "n_covered_tokens")
    )
