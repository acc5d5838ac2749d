"""Fuzzy join / entity resolution: token blocking + edit-distance
verify, as one equi-join plan.

The classic record-linkage shape (Papadakis et al. blocking surveys,
Dedoop/Magellan): generate candidate pairs by joining on a shared
blocking key — here shared lowercase tokens — then verify candidates
with an exact string distance. All Catalyst:

- blocking is ONE equi-join on the token column (shuffle bounded by
  the token streams, never an all-pairs product);
- hot tokens (stopword-like blocking keys that would make one bucket
  quadratic) are dropped by a document-frequency cap *before* the
  join — the standard stop-token pruning; recall is then limited to
  pairs sharing a sub-cap token, which the caller trades off via
  ``max_df`` (None keeps everything);
- a cheap length-band prefilter (|len(a) - len(b)| <= max_dist, a
  necessary condition for edit distance) runs in codegen before the
  O(len^2) levenshtein, which itself is Catalyst's built-in
  ``levenshtein`` — no Python in the row path.

The verify metric is exact Levenshtein so results are deterministic
and engine-portable (integer distances, no float thresholds).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from drill_spark.ops.dedup import tokens

# Slack for float products of a threshold and an integer size: when t*sz
# is exactly an integer k, the double product can land a few ulps HIGH
# (e.g. 0.07*100 = 7.000000000000001), which would shorten a prefix by
# one token or falsely reject a length-boundary pair — silent
# incompleteness. ceil(t*sz - _EPS) and "<= min + _EPS" err toward MORE
# candidates (the exact verify still decides), never fewer.
_EPS = 1e-9


def _block_keys(df: DataFrame, id_col: str, text_col: str,
                max_df: int | None) -> DataFrame:
    """Distinct (id, token) blocking pairs, hot tokens pruned."""
    keys = (
        df.select(id_col, F.explode(tokens(F.col(text_col))).alias("tok"))
        .where(F.col("tok") != "")
        .distinct()
    )
    if max_df is not None:
        freq = keys.groupBy("tok").agg(F.count("*").alias("df"))
        keys = (
            keys.join(F.broadcast(freq.where(F.col("df") > max_df)),
                      "tok", "left_anti")
        )
    return keys


def fuzzy_join(left: DataFrame, right: DataFrame, left_id: str,
               left_col: str, right_id: str, right_col: str,
               max_dist: int = 2,
               max_df: int | None = None) -> DataFrame:
    """Join rows whose strings are within ``max_dist`` edits and share
    at least one (sub-``max_df``) token.

    Returns (left_id, right_id, left_col, right_col, dist). Candidate
    generation is an equi-join on tokens; the df cap is evaluated on
    the LEFT stream (the big side at scale — the right stream prunes
    with the same token set so both sides drop the same keys).
    """
    if len({left_id, left_col, right_id, right_col}) != 4:
        raise ValueError("fuzzy_join: column names must be distinct "
                         "(alias the inputs)")
    lk = _block_keys(left, left_id, left_col, max_df=max_df)
    rk = _block_keys(right, right_id, right_col, max_df=None)
    if max_df is not None:
        # prune the right stream with the left's surviving token set so
        # hot tokens never reach the join from either side
        rk = rk.join(lk.select("tok").distinct(), "tok", "left_semi")

    cand = (
        lk.join(rk, "tok")
        .select(left_id, right_id)
        .distinct()
    )
    out = (
        cand.join(left.select(left_id, left_col), left_id)
        .join(right.select(right_id, right_col), right_id)
        .where(F.abs(F.length(left_col) - F.length(right_col)) <= max_dist)
        .withColumn("dist", F.levenshtein(F.col(left_col), F.col(right_col)))
        .where(F.col("dist") <= max_dist)
    )
    return out.select(left_id, right_id, left_col, right_col, "dist")


def setsim_join(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.7,
    ngram: int | None = None,
) -> DataFrame:
    """EXACT set-similarity self-join via prefix filtering: every pair
    of documents whose token-set Jaccard >= threshold, with id_a <
    id_b — no approximation, no missed pairs (the MinHash trade-off
    removed).

    The published AllPairs / PPJoin recipe (Bayardo et al. 2007,
    "Scaling Up All Pairs Similarity Search"; Xiao et al. 2008,
    "Efficient Similarity Joins for Near Duplicate Detection"): under
    ONE global token order — rarest first, by (document frequency,
    token) — a pair with Jaccard >= t MUST share a token inside both
    sets' prefixes of length |s| - ceil(t*|s|) + 1. So only prefix
    tokens (the rarest ~(1-t) fraction of each set) generate
    candidates, and the equi-join never sees hot tokens: 'the' sorts
    last and lands in no prefix. Candidates then length-filter
    (t*max(|a|,|b|) <= min(|a|,|b|), necessary for J >= t) and verify
    with an exact JVM-side array_intersect.

    Scale shape: one token-df aggregate (map-combined), one join of the
    token stream against the df table (linear in corpus tokens), one
    per-doc sort_array (inside a single groupBy), a candidate equi-join
    keyed ONLY on rare prefix tokens, and an id-keyed verify join. No
    all-pairs product anywhere; shuffle volume tracks corpus tokens +
    candidate pairs, and candidate pairs approach the true result size
    as t grows. Set ``ngram=k`` for character-k-gram shingles instead
    of word tokens (order-sensitive similarity).

    Reference anchor: the same verbatim-duplicate surface Drill users
    script around `contrib/` UDFs; here it is one Catalyst plan.
    """
    sets, cand = _setsim_sets_and_candidates(
        df, id_col, text_col, threshold, ngram)
    sa = sets.select(F.col("id").alias("id_a"), F.col("ts").alias("ta"), F.col("sz").alias("na"))
    sb = sets.select(F.col("id").alias("id_b"), F.col("ts").alias("tb"), F.col("sz").alias("nb"))
    return (
        cand.join(sa, "id_a").join(sb, "id_b")
        .withColumn("i", F.size(F.array_intersect("ta", "tb")))
        # membership is decided on the UNROUNDED ratio (the prefix
        # filter is complete only for exact-score >= t; a pair just
        # below t must not round UP into the result, because candidate
        # generation may legitimately have pruned it) — rounding is
        # display-only on the reported column
        .withColumn("__j", F.col("i") / (F.col("na") + F.col("nb") - F.col("i")))
        .where(F.col("__j") >= threshold)
        .select("id_a", "id_b", F.round("__j", 4).alias("jaccard"))
    )


def _setsim_sets_and_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float,
    ngram: int | None,
) -> tuple[DataFrame, DataFrame]:
    """(sets, candidates) for setsim_join: sets = (id, ordered token
    array ts, size sz); candidates = distinct (id_a < id_b) pairs that
    share a prefix token AND pass the length filter."""
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"setsim_join: threshold in (0, 1], got {threshold}")
    t = F.lit(float(threshold))
    base = df.select(F.col(id_col).alias("id"),
                     F.trim(F.lower(F.col(text_col))).alias("t"))
    if ngram is not None:
        k = int(ngram)
        toks = base.select(
            "id",
            F.explode(F.array_distinct(F.transform(
                F.sequence(F.lit(1), F.greatest(F.length("t") - (k - 1), F.lit(0))),
                lambda i: F.col("t").substr(i, F.lit(k)),
            ))).alias("tok"),
        ).where(F.length("tok") == k)
    else:
        toks = (base.select("id", F.explode(tokens(F.col("t"))).alias("tok"))
                .where(F.col("tok") != "").distinct())

    dfreq = toks.groupBy("tok").agg(F.count("*").alias("df"))
    # one ordered token array per doc; (df, tok) is the global order
    sets = (
        toks.join(dfreq, "tok")
        .groupBy("id")
        .agg(F.array_sort(F.collect_list(F.struct("df", "tok"))).alias("st"))
        .select(
            "id",
            F.transform("st", lambda x: x["tok"]).alias("ts"),
            F.size("st").alias("sz"),
        )
        .where(F.col("sz") > 0)
    )
    # prefix length |s| - ceil(t*|s|) + 1; prefixes carry only (id, sz)
    pref = sets.select(
        "id", "sz",
        F.explode(F.slice(
            "ts", 1,
            (F.col("sz") - F.ceil(t * F.col("sz") - _EPS) + 1).cast("int"),
        )).alias("ptok"),
    )
    a = pref.select(F.col("ptok"), F.col("id").alias("id_a"), F.col("sz").alias("sza"))
    b = pref.select(F.col("ptok"), F.col("id").alias("id_b"), F.col("sz").alias("szb"))
    cand = (
        a.join(b, "ptok")
        .where((F.col("id_a") < F.col("id_b"))
               & (t * F.greatest("sza", "szb") <= F.least("sza", "szb") + _EPS))
        .select("id_a", "id_b")
        .distinct()
    )
    return sets, cand


def _setsim_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float,
    ngram: int | None = None,
) -> DataFrame:
    """Candidate pairs only — exposed so tests can assert the prefix
    filter prunes (candidates << n*(n-1)/2 on sparse corpora)."""
    return _setsim_sets_and_candidates(df, id_col, text_col, threshold, ngram)[1]


def containment_join(
    probe: DataFrame,
    corpus: DataFrame,
    probe_id: str = "qid",
    probe_text: str = "qtext",
    corpus_id: str = "doc_id",
    corpus_text: str = "text",
    threshold: float = 0.8,
    ngram: int | None = None,
) -> DataFrame:
    """EXACT containment search: every (probe, corpus doc) pair where
    >= threshold of the probe's token set appears in the doc —
    |q ∩ d| / |q| >= t. The asymmetric sibling of setsim_join and the
    decontamination primitive: "is this benchmark question contained
    in some training document", where symmetric Jaccard is wrong for a
    40-token question inside a 4000-token doc and verbatim n-gram
    match is too strict for light edits.

    Prefix filter, containment form: if overlap >= ceil(t*|q|), the
    probe's first |q| - ceil(t*|q|) + 1 tokens (ANY total order) must
    contain a shared token — fewer than ceil(t*|q|) tokens remain
    outside the prefix. So only probe PREFIX tokens join the corpus
    postings; ordering rarest-first (by corpus document frequency,
    absent tokens rarest of all) just makes those postings short.

    Scale shape: the corpus tokenizes once into a postings stream
    (linear); probes explode only their rare prefix; the candidate
    equi-join is bounded by the postings of rare tokens; verify is one
    id-keyed join + array_intersect. Probe side is typically the small
    one (benchmark sets) — at 100 TB the corpus stream never
    all-pairs, and shuffle volume tracks corpus tokens + candidates.

    Returns (probe_id, corpus_id, containment, jaccard).
    """
    if not 0.0 < threshold <= 1.0:
        raise ValueError(
            f"containment_join: threshold in (0, 1], got {threshold}")
    if probe_id == corpus_id:
        raise ValueError("containment_join: probe_id and corpus_id must "
                         "differ (alias one side)")
    t = F.lit(float(threshold))

    def _toks(df, idc, txt):
        base = df.select(F.col(idc).alias("id"),
                         F.trim(F.lower(F.col(txt))).alias("t"))
        if ngram is not None:
            k = int(ngram)
            return base.select(
                "id",
                F.explode(F.array_distinct(F.transform(
                    F.sequence(F.lit(1),
                               F.greatest(F.length("t") - (k - 1), F.lit(0))),
                    lambda i: F.col("t").substr(i, F.lit(k)),
                ))).alias("tok"),
            ).where(F.length("tok") == k)
        return (base.select("id", F.explode(tokens(F.col("t"))).alias("tok"))
                .where(F.col("tok") != "").distinct())

    ptoks = _toks(probe, probe_id, probe_text)
    dtoks = _toks(corpus, corpus_id, corpus_text)
    dfreq = dtoks.groupBy("tok").agg(F.count("*").alias("df"))

    def _sets(tk, with_df):
        joined = tk.join(with_df, "tok", "left").na.fill({"df": 0})
        return (
            joined.groupBy("id")
            .agg(F.array_sort(F.collect_list(F.struct("df", "tok"))).alias("st"))
            .select("id",
                    F.transform("st", lambda x: x["tok"]).alias("ts"),
                    F.size("st").alias("sz"))
            .where(F.col("sz") > 0)
        )

    qsets = _sets(ptoks, dfreq)
    dsets = _sets(dtoks, dfreq)

    # probe prefix length |q| - ceil(t*|q|) + 1; corpus side is FULL
    # postings (containment puts no bound on the doc's extra tokens)
    qpref = qsets.select(
        F.col("id").alias("qid_"),
        F.explode(F.slice(
            "ts", 1,
            (F.col("sz") - F.ceil(t * F.col("sz") - _EPS) + 1).cast("int"),
        )).alias("tok"),
    )
    cand = (
        qpref.join(dtoks.select(F.col("id").alias("did_"), "tok"), "tok")
        .select("qid_", "did_")
        .distinct()
    )
    qa = qsets.select(F.col("id").alias("qid_"), F.col("ts").alias("tq"),
                      F.col("sz").alias("nq"))
    da = dsets.select(F.col("id").alias("did_"), F.col("ts").alias("td"),
                      F.col("sz").alias("nd"))
    return (
        cand.join(qa, "qid_").join(da, "did_")
        .withColumn("i", F.size(F.array_intersect("tq", "td")))
        # unrounded membership decision (prefix completeness holds for
        # exact containment >= t only); rounding is display-only
        .withColumn("__c", F.col("i") / F.col("nq"))
        .where(F.col("__c") >= threshold)
        .select(F.col("qid_").alias(probe_id), F.col("did_").alias(corpus_id),
                F.round("__c", 4).alias("containment"),
                F.round(F.col("i") / (F.col("nq") + F.col("nd") - F.col("i")),
                        4).alias("jaccard"))
    )


_INCR_SETSIM_APP_ID = "drill_spark.incremental_setsim"


def incremental_setsim(
    df: DataFrame,
    store_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.7,
    ngram: int | None = None,
    batch_id: int | None = None,
    max_candidates_per_doc: int | None = None,
    max_postings_per_token: int | None = None,
    txn_app_id: str = _INCR_SETSIM_APP_ID,
) -> DataFrame:
    """Cross-run EXACT set-similarity dedup against a persistent
    postings store — the exact sibling of
    ``ops/dedup.py::incremental_near_dedup``: batch N+1 drops
    documents whose token-set Jaccard with any previously committed
    survivor is >= threshold, with NO MinHash estimation error and
    WITHOUT rescanning prior batches' text. What persists is the
    postings stream of survivors — (tok, doc_id, sz, batch_id) in a
    Delta table this repo's own writer commits — the honest linear
    cost of exactness.

    Why the cross-batch step stays exact with a prefix on the NEW side
    only: J(q, d) >= t implies overlap >= ceil(t*|q|) (the size bound
    t*|q| <= |d| makes t(|q|+|d|)/(1+t) >= t*|q|), so by the pigeonhole
    argument q's first |q| - ceil(t*|q|) + 1 tokens under ANY total
    order must contain a shared token — old batches' ordering never
    matters, so the store needs no order maintenance as the corpus
    grows. Verify is a counting join against the candidate docs'
    postings (distinct-token streams on both sides), no arrays in the
    store.

    Within-batch dedup shares ``setsim_join``'s candidate generation
    and exact verify on the UNROUNDED ratio, and drops the larger id
    of each qualifying pair — the greedy chain-collapse convention
    shared with the MinHash path.

    **Exactness caps (both default OFF — the default run is fully
    exact):** ``max_candidates_per_doc`` bounds per-new-doc verify
    fan-out (post-join, keeps the ``max_candidates_per_doc`` smallest
    store ids); when it truncates, a warning reports how many docs
    lost candidates — truncation is observable, never silent.
    ``max_postings_per_token`` bounds the STORE side before the
    candidate join (per-token postings cap), closing the
    store-hot/batch-rare-token fan-out at corpus scale; both caps
    trade recall beyond the cap for bounded work and are the
    documented exactness boundary when set.

    Replay/ordering: every commit stamps a per-batch Delta txn
    (``{txn_app_id}#batch{N}``), so re-running a committed batch_id
    returns its original survivors without re-appending — including
    zero-survivor batches — while an UNKNOWN batch_id at or below the
    high-water mark raises (a skipped-ahead numbering would otherwise
    silently classify later legitimate batches as replays and drop
    their data). Documents with zero tokens have no set to compare
    and are excluded (never returned, never stored).

    Returns the surviving rows of ``df`` (original columns).
    """
    import warnings

    from pyspark.sql import Window

    from drill_spark.readers.delta import BatchLedger, read_delta

    spark = df.sparkSession
    t = F.lit(float(threshold))
    sets, cand_within = _setsim_sets_and_candidates(
        df, id_col, text_col, threshold, ngram)
    sets = sets.localCheckpoint(eager=False)
    sa = sets.select(F.col("id").alias("id_a"), F.col("ts").alias("ta"),
                     F.col("sz").alias("na"))
    sb = sets.select(F.col("id").alias("id_b"), F.col("ts").alias("tb"),
                     F.col("sz").alias("nb"))
    within_pairs = (
        cand_within.join(sa, "id_a").join(sb, "id_b")
        .withColumn("i", F.size(F.array_intersect("ta", "tb")))
        .where(F.col("i") / (F.col("na") + F.col("nb") - F.col("i"))
               >= threshold)
    )
    dropped = within_pairs.select(F.col("id_b").alias("id")).distinct()
    batch_kept = sets.select("id").join(dropped, "id", "left_anti")

    ledger = BatchLedger(spark, store_path, txn_app_id, batch_id,
                         "incremental_setsim")
    store, batch_id = ledger.store, ledger.batch_id
    if ledger.replay:
        mine = (store.where(F.col("batch_id") == batch_id)
                .select(F.col("doc_id").alias(id_col)).distinct())
        return df.join(mine, id_col, "left_semi")

    survivors = batch_kept
    if store is not None:
        olds = store.select("tok", F.col("doc_id").alias("did"),
                            F.col("sz").alias("nd"))
        if max_postings_per_token is not None:
            # pre-join per-token postings cap: bounds the fan-out of a
            # store-hot token BEFORE it multiplies against the batch
            # prefix (the post-join cap can't stop that blow-up);
            # smallest store ids kept, recall beyond the cap is the
            # documented trade
            olds = (
                olds.withColumn("__pk", F.row_number().over(
                    Window.partitionBy("tok").orderBy("did")))
                .where(F.col("__pk") <= int(max_postings_per_token))
                .drop("__pk")
            )
        qpref = (
            sets.join(batch_kept, "id", "left_semi")
            .select(
                F.col("id").alias("qid"), F.col("sz").alias("nq"),
                F.explode(F.slice(
                    "ts", 1,
                    (F.col("sz") - F.ceil(t * F.col("sz") - _EPS) + 1).cast("int"),
                )).alias("tok"),
            )
        )
        cand = (
            qpref.join(olds, "tok")
            .where(t * F.greatest("nq", "nd") <= F.least("nq", "nd") + _EPS)
            .select("qid", "nq", "did", "nd").distinct()
        )
        if max_candidates_per_doc is not None:
            # Truncation must be OBSERVABLE (r10 advice). r12 measured
            # the zero-job alternative, df.observe(): under AQE the
            # CollectMetrics row comes back EMPTY whenever an enclosing
            # branch is empty-relation-pruned (zero duplicates found,
            # or zero batch survivors — both routine) and SILENTLY ZERO
            # when the observed subtree executes inside a
            # broadcast-exchange stage (dup_ids is broadcast-sized by
            # design, so that's the common plan). A missed warning is
            # silent inexactness, so the explicit bounded count stays;
            # the lazy checkpoint makes it the materializing pass the
            # verify join below reuses, and counting rows at __rk==1
            # (exactly one per qid) replaces the old distinct+count
            # extra shuffle.
            annotated = (
                cand
                .withColumn("__rk", F.row_number().over(
                    Window.partitionBy("qid").orderBy("did")))
                .withColumn("__n", F.count("*").over(
                    Window.partitionBy("qid")))
                .localCheckpoint(eager=False)
            )
            n_truncated = (annotated
                           .where((F.col("__rk") == 1)
                                  & (F.col("__n")
                                     > int(max_candidates_per_doc)))
                           .count())
            if n_truncated:
                warnings.warn(
                    f"incremental_setsim: candidate cap "
                    f"(max_candidates_per_doc={max_candidates_per_doc}) "
                    f"truncated verification fan-out for {n_truncated} "
                    f"document(s) in batch {batch_id}; results are exact "
                    f"only up to the cap — raise it (or pass None) for a "
                    f"fully exact run", stacklevel=2)
            cand = (annotated
                    .where(F.col("__rk") <= int(max_candidates_per_doc))
                    .drop("__rk", "__n"))
        new_toks = sets.select(F.col("id").alias("qid"),
                               F.explode("ts").alias("tok"))
        inter = (
            cand.join(olds.select("did", "tok"), "did")
            .join(new_toks, ["qid", "tok"])
            .groupBy("qid", "did", "nq", "nd")
            .agg(F.count("*").alias("i"))
        )
        dup_ids = (
            inter.where(F.col("i") / (F.col("nq") + F.col("nd") - F.col("i"))
                        >= threshold)
            .select(F.col("qid").alias("id")).distinct()
        )
        survivors = batch_kept.join(dup_ids, "id", "left_anti")

    # ONE verification pass: the store write below is the only action
    # that executes it (no survivors localCheckpoint), and the returned
    # survivors are read BACK from the just-written postings (every
    # survivor has >= 1 token, hence >= 1 posting row) — the exact
    # mechanism the replay path already uses, for the price of a tiny
    # batch-pruned store scan instead of a recompute or pinned
    # executor-cached partitions.
    new_rows = (
        sets.join(survivors, "id", "left_semi")
        .select(F.explode("ts").alias("tok"), F.col("id").alias("doc_id"),
                F.col("sz"), F.lit(batch_id).alias("batch_id"))
    )
    ledger.commit(new_rows)
    mine = (read_delta(spark, store_path)
            .where(F.col("batch_id") == batch_id)
            .select(F.col("doc_id").alias(id_col)).distinct())
    return df.join(mine, id_col, "left_semi")


def setsim_join_tables(
    left: DataFrame,
    right: DataFrame,
    left_id: str = "id_a",
    left_text: str = "text_a",
    right_id: str = "id_b",
    right_text: str = "text_b",
    threshold: float = 0.7,
    ngram: int | None = None,
) -> DataFrame:
    """EXACT set-similarity join BETWEEN two tables: every (left,
    right) pair with token-set Jaccard >= threshold — the fuzzy
    sibling of snapshot_diff (which only sees exact content digests),
    e.g. "which documents of snapshot B are near-duplicates of
    something in snapshot A", or release-vs-release near-dup auditing.

    Same AllPairs/PPJoin machinery as the self-join, with ONE global
    token order computed over the UNION of both tables' token streams
    (the prefix theorem requires both sides' prefixes under the same
    order); candidates are cross-side prefix matches only, so neither
    table ever self-pairs. Exact, deterministic, hash-oracle-able.

    Returns (left_id, right_id, jaccard).
    """
    if not 0.0 < threshold <= 1.0:
        raise ValueError(
            f"setsim_join_tables: threshold in (0, 1], got {threshold}")
    if left_id == right_id:
        raise ValueError("setsim_join_tables: left_id and right_id must "
                         "differ (alias one side)")
    t = F.lit(float(threshold))

    def _toks(df, idc, txt, side):
        base = df.select(F.col(idc).alias("id"),
                         F.trim(F.lower(F.col(txt))).alias("t"))
        if ngram is not None:
            k = int(ngram)
            tk = base.select(
                "id",
                F.explode(F.array_distinct(F.transform(
                    F.sequence(F.lit(1),
                               F.greatest(F.length("t") - (k - 1), F.lit(0))),
                    lambda i: F.col("t").substr(i, F.lit(k)),
                ))).alias("tok"),
            ).where(F.length("tok") == k)
        else:
            tk = (base.select("id", F.explode(tokens(F.col("t"))).alias("tok"))
                  .where(F.col("tok") != "").distinct())
        return tk.withColumn("side", F.lit(side))

    toks = _toks(left, left_id, left_text, 0).unionByName(
        _toks(right, right_id, right_text, 1))
    dfreq = toks.groupBy("tok").agg(F.count("*").alias("df"))
    sets = (
        toks.join(dfreq, "tok")
        .groupBy("side", "id")
        .agg(F.array_sort(F.collect_list(F.struct("df", "tok"))).alias("st"))
        .select("side", "id",
                F.transform("st", lambda x: x["tok"]).alias("ts"),
                F.size("st").alias("sz"))
        .where(F.col("sz") > 0)
    )
    pref = sets.select(
        "side", "id", "sz",
        F.explode(F.slice(
            "ts", 1,
            (F.col("sz") - F.ceil(t * F.col("sz") - _EPS) + 1).cast("int"),
        )).alias("ptok"),
    )
    a = (pref.where(F.col("side") == 0)
         .select("ptok", F.col("id").alias("la"), F.col("sz").alias("sza")))
    b = (pref.where(F.col("side") == 1)
         .select("ptok", F.col("id").alias("rb"), F.col("sz").alias("szb")))
    cand = (
        a.join(b, "ptok")
        .where(t * F.greatest("sza", "szb") <= F.least("sza", "szb") + _EPS)
        .select("la", "rb")
        .distinct()
    )
    sa = (sets.where(F.col("side") == 0)
          .select(F.col("id").alias("la"), F.col("ts").alias("ta"),
                  F.col("sz").alias("na")))
    sb = (sets.where(F.col("side") == 1)
          .select(F.col("id").alias("rb"), F.col("ts").alias("tb"),
                  F.col("sz").alias("nb")))
    return (
        cand.join(sa, "la").join(sb, "rb")
        .withColumn("i", F.size(F.array_intersect("ta", "tb")))
        # unrounded membership decision, display-only rounding (see
        # setsim_join)
        .withColumn("__j", F.col("i") / (F.col("na") + F.col("nb") - F.col("i")))
        .where(F.col("__j") >= threshold)
        .select(F.col("la").alias(left_id), F.col("rb").alias(right_id),
                F.round("__j", 4).alias("jaccard"))
    )
