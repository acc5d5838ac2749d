"""Deduplication operators (extension surface — not in the reference;
Drill has only DISTINCT, physical/impl/aggregate/HashAggBatch.java).

All operators are DataFrame -> DataFrame, built from JVM-side Catalyst
expressions only (no Python UDFs in any hot path), so they inherit
whole-stage codegen, AQE, and spill behavior.

Scale design (100 TB corpus, 1000 executors):
- exact_dedup: one hash-shuffle on the digest; map-side partial agg
  collapses duplicates before the exchange.
- minhash_lsh_*: per-doc signature is ONE pass (explode shingles ->
  groupBy doc, n min-aggs); banding turns O(n^2) similarity into ONE
  aggregation keyed by (band_idx, band_hash) that keeps each bucket's
  row count and sorted id list; pairs come from inside each list, so
  only docs sharing a band are compared. Hot buckets (boilerplate
  shingles) are capped via max_bucket_size to bound worst-case skew.
- minhash_near_dupes verify: one row per doc holding its distinct word
  set as an array; each candidate joins the two arrays and scores
  size(array_intersect) — no per-word rows, no per-pair aggregation.
- jaccard_pairs (exact): token-inverted-index join; quadratic in the
  per-token posting list, so at scale it is the *verify* stage applied
  to LSH candidates, not a standalone all-pairs scan. Provided
  standalone for oracle-checkable correctness at test scale.
- simhash: one explode + ``bits`` (default 48) conditional-sum
  aggregates (single shuffle); near-dup candidates pair within
  fingerprint prefix bands.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from drill_spark.session import local_frame


def normalize_text(col):
    """Lowercase + collapse whitespace (fingerprint normalization)."""
    return F.regexp_replace(F.lower(col), r"\s+", " ")


def tokens(col):
    return F.split(F.trim(F.lower(col)), r"\s+")


# ---------------------------------------------------------------- exact


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Keep the lowest-id row per exact (normalized) text digest.

    Returns (h, keep_id, n_dupes). One shuffle on the md5 digest.
    """
    return (
        df.select(F.md5(normalize_text(F.col(text_col))).alias("h"), F.col(id_col))
        .groupBy("h")
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("n_dupes"))
    )


# ------------------------------------------------------------ minhash/LSH


def shingles(col, k: int = 3):
    """k-word shingles as an array column (JVM-side, no UDF).

    The token array is routed through :func:`~drill_spark.ops.hofutil.
    bind_once`: embedded bare inside the positional lambda (the old
    ``F.expr`` form), Catalyst inlined the full ``split(...)`` at every
    shingle position — one re-split of the document per shingle,
    O(n_words^2) per row."""
    from drill_spark.ops.hofutil import bind_once

    return bind_once(
        tokens(col),
        lambda w: F.transform(
            F.sequence(F.lit(0), F.greatest(F.size(w) - k, F.lit(0))),
            lambda i: F.concat_ws(" ", F.slice(w, i + 1, k)),
        ),
    )


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, num_hashes: int = 32, shingle_k: int = 3
) -> DataFrame:
    """Per-doc minhash signature: array<bigint> of length num_hashes.

    h_i(doc) = min over shingles of xxhash64(shingle, i). One explode +
    one groupBy(doc) with num_hashes min-aggregates = single shuffle
    (a repeated shingle needs no distinct: min ignores repeats).
    """
    sh = df.select(
        F.col(id_col), F.explode(shingles(F.col(text_col), shingle_k)).alias("sh")
    ).where(F.col("sh") != "")
    # One SQL string instead of num_hashes py4j-built aggregate columns:
    # the expression tree the JVM plans is identical (array of
    # min(xxhash64(sh, i)) partial aggregates — integer literals both
    # ways), but ~6 driver<->JVM roundtrips per hash collapse into one
    # parse call; measured ~0.4s of driver time per signature build at
    # num_hashes=32.
    mins = ", ".join(f"min(xxhash64(sh, {i}))" for i in range(num_hashes))
    return sh.groupBy(id_col).agg(F.expr(f"array({mins})").alias("sig"))


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_k: int = 3,
    max_bucket_size: int = 1000,
) -> DataFrame:
    """Candidate near-dup pairs via LSH banding: docs sharing any band
    hash. Returns (id_a, id_b) distinct, id_a < id_b.

    One aggregation per (band_idx, band_hash) bucket collects its sorted
    ids; each id pairs with the ids after it. max_bucket_size drops
    degenerate buckets (boilerplate) — the skew guard that bounds the
    pairs a bucket emits at scale.
    """
    rows_per_band = num_hashes // bands
    sig = minhash_signatures(df, id_col, text_col, num_hashes, shingle_k)
    banded = sig.select(
        F.col(id_col),
        F.posexplode(
            F.expr(
                f"transform(sequence(0, {bands - 1}), "
                f"b -> xxhash64(concat_ws(',', slice(sig, b * {rows_per_band} + 1, {rows_per_band})), b))"
            )
        ).alias("band_idx", "band_hash"),
    )
    # the cap counts rows, NULL ids included: collect_list skips them, so
    # size(ids) would not
    buckets = (
        banded.groupBy("band_idx", "band_hash")
        .agg(F.count("*").alias("n"), F.array_sort(F.collect_list(id_col)).alias("ids"))
        .where(F.col("n") <= max_bucket_size)
    )
    return (
        buckets.select("ids", F.posexplode("ids").alias("p", "id_a"))
        .select("id_a", F.explode(F.slice("ids", F.col("p") + 2, F.size("ids"))).alias("id_b"))
        .distinct()
    )


# ------------------------------------------------------- exact jaccard


def jaccard_pairs(
    df: DataFrame, id_col: str, text_col: str, threshold: float = 0.8
) -> DataFrame:
    """Exact word-set Jaccard similarity for all pairs sharing a token.

    Inverted-index join: explode distinct tokens, self-join per token,
    count intersections, join set sizes. Returns
    (id_a, id_b, jaccard) with jaccard rounded to 4.

    At 100 TB this runs on LSH candidates only (posting lists of common
    tokens explode quadratically); standalone form is the oracle-
    checkable verify kernel.
    """
    tok = (
        df.select(F.col(id_col).alias("doc_id"), F.explode(tokens(F.col(text_col))).alias("w"))
        .where(F.col("w") != "")
        .distinct()
    )
    sizes = tok.groupBy("doc_id").agg(F.count("*").alias("sz"))
    a = tok.select(F.col("doc_id").alias("id_a"), "w")
    b = tok.select(F.col("doc_id").alias("id_b"), "w")
    inter = (
        a.join(b, "w")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("id_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("jaccard", F.round(F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")), 4))
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_near_dupes(
    df: DataFrame, id_col: str, text_col: str, threshold: float = 0.8, **lsh_kwargs
) -> DataFrame:
    """Full near-dup pipeline: LSH candidates -> exact-jaccard verify.
    Returns (id_a, id_b, jaccard) with jaccard, the word-set Jaccard
    rounded to 4, at least ``threshold``.

    The scale path: candidate generation is linear-ish (banding), the
    quadratic verify only touches candidate pairs. The verify joins each
    candidate to both documents' word-set arrays (one row per id, built
    by one aggregation) and computes |a & b| / (|a| + |b| - |a & b|)
    with array_intersect — 7 shuffles for the whole pipeline.
    """
    cands = minhash_lsh_candidates(df, id_col, text_col, **lsh_kwargs)
    # one row per id: its distinct non-empty words (rows sharing an id
    # merge their sets; an id without words cannot pair)
    words = (
        df.select(F.col(id_col).alias("doc_id"),
                  F.array_remove(tokens(F.col(text_col)), "").alias("w"))
        .groupBy("doc_id")
        .agg(F.array_distinct(F.flatten(F.collect_list("w"))).alias("w"))
        .where(F.size("w") > 0)
    )
    wa = words.select(F.col("doc_id").alias("id_a"), F.col("w").alias("wa"))
    wb = words.select(F.col("doc_id").alias("id_b"), F.col("w").alias("wb"))
    inter = F.size(F.array_intersect("wa", "wb"))
    jaccard = F.round(inter / (F.size("wa") + F.size("wb") - inter), 4)
    return (
        cands.join(wa, "id_a")
        .join(wb, "id_b")
        .select("id_a", "id_b", jaccard.alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


# ------------------------------------------------------------- simhash


def simhash(df: DataFrame, id_col: str, text_col: str, bits: int = 48) -> DataFrame:
    """Per-doc SimHash fingerprint (bits <= 62 to stay in a signed long).

    One explode + `bits` conditional sums (single shuffle, all codegen):
    bit_i(doc) = sign of sum over tokens of (+1 if bit i of xxhash64(token) else -1).
    """
    tok = df.select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("w")).where(
        F.col("w") != ""
    )
    h = tok.withColumn("th", F.xxhash64("w"))
    # The whole fingerprint is ONE parsed expression (48 aggregates
    # inside one sum-of-terms projection) instead of `bits` separate
    # F.sum(F.when(...)) columns plus a `bits`-term Python fold: the
    # column-by-column form cost ~8k py4j gateway roundtrips (~4s of
    # driver wall per call, measured via cProfile); the JVM-side plan
    # — `bits` partial sums then one combining projection — and the
    # integer arithmetic are identical, so fingerprints are
    # bit-identical (same defense as minhash_signatures).
    fp_sql = " + ".join(
        f"(case when sum(case when (shiftright(th, {i}) & 1) = 1"
        f" then 1 else -1 end) > 0"
        f" then cast({1 << i} as bigint) else cast(0 as bigint) end)"
        for i in range(bits)
    )
    return h.groupBy(id_col).agg(F.expr(fp_sql).alias("fingerprint"))


def simhash_near_dupes(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 48,
    bands: int = 4,
    max_hamming: int = 6,
    max_bucket_size: int = 2000,
) -> DataFrame:
    """SimHash near-duplicate pairs: band the fingerprint into `bands`
    contiguous bit slices; docs sharing ANY band's slice become
    candidates (two fingerprints within `max_hamming` of each other
    must agree exactly on >= 1 band when max_hamming < bands, pigeonhole);
    verify with bit_count(xor) — all JVM-side.

    Scale: candidate generation is a shuffle keyed by (band, slice
    value) — never an all-pairs product; hot buckets (constant-ish
    fingerprints over boilerplate) are capped at max_bucket_size like
    minhash banding. Verification cost = candidate count, not n^2.
    """
    fp = simhash(df, id_col, text_col, bits)
    width = bits // bands
    mask = (1 << width) - 1
    banded = fp.select(
        F.col(id_col),
        F.col("fingerprint"),
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned("fingerprint", b * width).bitwiseAND(F.lit(mask))
                    for b in range(bands)
                ]
            )
        ).alias("band", "slice"),
    )
    cap = Window.partitionBy("band", "slice").orderBy(id_col)
    banded = banded.withColumn("_r", F.row_number().over(cap)).where(
        F.col("_r") <= max_bucket_size
    )
    a = banded.select("band", "slice", F.col(id_col).alias("id_a"), F.col("fingerprint").alias("fp_a"))
    b = banded.select("band", "slice", F.col(id_col).alias("id_b"), F.col("fingerprint").alias("fp_b"))
    return (
        a.join(b, ["band", "slice"])
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b"))).alias("hamming"),
        )
        # verify BEFORE the dedup shuffle: hamming is a function of the
        # pair, so filter-then-distinct equals distinct-then-filter and
        # only qualifying pairs cross the exchange
        .where(F.col("hamming") <= max_hamming)
        .distinct()  # a pair may agree on several bands
    )


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 20,
    driver_max_edges: int = 200_000,
) -> DataFrame:
    """Connected components by min-label propagation: every node
    repeatedly takes the smallest label among itself and its neighbors
    until no label changes. Returns (node, component).

    Scale: each iteration is one shuffle (join + min-agg), the standard
    distributed-CC shape; dup clusters are shallow so few iterations
    run in practice. localCheckpoint() truncates plan lineage each
    round — without it the plan tree doubles per iteration and
    planning, not execution, becomes the bottleneck.

    Small graphs skip the iteration entirely: at or under
    ``driver_max_edges`` distinct edges the (bounded) edge list
    collects and a path-compressing union-find labels components in one
    pass — the same threshold-gated driver/executor split as the Delta
    DV decoder (readers/delta.py). A 26-pair dedup graph should not pay
    four Spark rounds; a billion-pair one never touches the driver.
    The fast path is also immune to the max_iter diameter bound — a
    200-node chain converges instantly under union-find where min-label
    propagation would need 200 rounds. Both paths produce the identical
    labeling (component = min node id), asserted against each other in
    tests.
    """
    sym = edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
    sym = sym.union(sym.select(F.col("d").alias("s"), F.col("s").alias("d"))).distinct()
    sym = sym.localCheckpoint(eager=True)
    # One bounded probe action instead of count()-then-collect(): pull at
    # most cap+1 rows off the checkpointed edge list; a full result set
    # (<= cap rows) IS the collect the union-find path needs, an
    # overflowing one costs cap+1 cached-partition reads and falls
    # through to the distributed iteration. Saves one job per CC call on
    # both paths; the expensive edge computation still runs exactly once
    # (the eager checkpoint above).
    cap = 2 * driver_max_edges
    probe_rows = sym.limit(cap + 1).collect()
    if len(probe_rows) <= cap:
        node_type = sym.schema["s"].dataType
        parent: dict = {}

        def find(x):
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:  # path compression
                parent[x], x = root, parent[x]
            return root

        for row in probe_rows:
            a, b = row["s"], row["d"]
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[rb] = ra
        comp_min: dict = {}
        for n in parent:
            r = find(n)
            m = comp_min.get(r)
            if m is None or n < m:
                comp_min[r] = n
        from pyspark.sql.types import StructField, StructType

        schema = StructType([
            StructField("node", node_type, False),
            StructField("component", node_type, False),
        ])
        rows = [(n, comp_min[find(n)]) for n in parent]
        return local_frame(edges.sparkSession, rows, schema)
    labels = sym.select(F.col("s").alias("node")).distinct().withColumn("label", F.col("node"))
    converged = False
    for _ in range(max_iter):
        nmin = (
            sym.join(labels, sym["d"] == labels["node"])
            .groupBy("s")
            .agg(F.min("label").alias("nmin"))
        )
        stepped = (
            labels.join(nmin, labels["node"] == nmin["s"], "left")
            .select(
                F.col("node"),
                F.col("label").alias("__prev"),
                F.least(F.col("label"), F.coalesce(F.col("nmin"), F.col("label"))).alias("label"),
            )
            .localCheckpoint(eager=False)
        )
        # exact changed-label count — immune to the long-sum wraparound
        # a sum(label) fingerprint risks at extreme id ranges (ANSI off
        # wraps silently); the lazy checkpoint means this same action
        # materializes AND persists the new labels, so each round costs
        # ONE job (the eager variant pays a materialization job plus
        # the agg job).
        changed = stepped.agg(
            F.count(F.when(F.col("label") != F.col("__prev"), True)).alias("n")
        ).head()[0]
        labels = stepped.drop("__prev")
        if changed == 0:
            converged = True
            break
    if not converged:
        # returning partial labels would silently split one duplicate
        # cluster into several "canonical" representatives
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} iterations "
            f"(component diameter exceeds max_iter); raise max_iter"
        )
    return labels.select(F.col("node"), F.col("label").alias("component"))


def dedup_clusters(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Resolve near-dup pairs into clusters: every document gets a
    cluster_id (the smallest doc id in its duplicate component;
    singletons keep their own id) and a keep flag for the canonical
    representative — the decision a dedup pipeline actually needs.
    """
    comp = connected_components(pairs, id_a, id_b)
    return (
        df.select(F.col(id_col))
        .join(comp, df[id_col] == comp["node"], "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("component"), F.col(id_col)).alias("cluster_id"),
        )
        .withColumn("keep", F.col(id_col) == F.col("cluster_id"))
    )


# ------------------------------------------------------- incremental


_INCR_APP_ID = "drill_spark.incremental_dedup"


def incremental_dedup(
    df: DataFrame,
    store_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    batch_id: int | None = None,
    fpp: float = 0.001,
    txn_app_id: str = _INCR_APP_ID,
) -> DataFrame:
    """Cross-run exact dedup against a persistent digest store: return
    the rows of ``df`` whose (normalized-text md5) digest has never
    been committed by ANY previous batch, keeping the lowest id within
    the batch, and append the survivors' digests to the store.

    The pattern a continuously-ingesting 100 TB pipeline needs: batch
    N+1 dedups against every prior batch WITHOUT rescanning their
    text — only the digest store (16 bytes/doc) is read. The store is
    a Delta table written by this repo's own protocol-conformant
    writer (readers/delta.py), so any engine can audit it.

    Scale shape:
    - within-batch: the exact_dedup shuffle (one digest hash-shuffle,
      map-side combine).
    - cross-batch: EXACT anti join against the store via
      bloom_anti_join (ops/bloom.py), which is adaptive — below its
      broadcast threshold the store digests broadcast-hash-anti-join
      directly (one codegen stage); past it (the 1e8-1e10-digest
      regime) the Bloom sketch prefilters map-side and at fpp=1e-3
      only ~0.1% of genuinely-new digests (plus true dupes) reach the
      exact anti join against the store scan.
    - replay safety: the store commit carries a per-batch Delta
      ``txn`` action (``readers/delta.BatchLedger``); re-running an
      already-committed batch_id returns its survivors WITHOUT
      appending again (exactly-once store growth, PROTOCOL.md
      "Transaction Identifiers"), and an id at or below the newest
      batch that was never committed raises.

    ``batch_id`` defaults to (last committed txn version + 1). The
    store rows are (h, batch_id) — recording which batch INTRODUCED a
    digest is what makes replay return the batch's original survivors
    (a semi join on store.batch_id == this batch) instead of an empty
    set after its digests already landed.
    """
    from drill_spark.readers.delta import BatchLedger

    digested = df.withColumn(
        "__h", F.md5(normalize_text(F.col(text_col)))
    )
    within = digested.withColumn(
        "__rn",
        F.row_number().over(
            Window.partitionBy("__h").orderBy(F.col(id_col))),
    ).where(F.col("__rn") == 1).drop("__rn")

    ledger = BatchLedger(df.sparkSession, store_path, txn_app_id, batch_id,
                         "incremental_dedup")
    store, batch_id = ledger.store, ledger.batch_id
    if ledger.replay:
        # replayed batch: its digests are already committed; the rows
        # the original run returned are exactly those whose digest this
        # batch introduced
        mine = store.where(F.col("batch_id") == batch_id).select("h")
        return (
            within.join(mine, within["__h"] == mine["h"], "left_semi")
            .drop("__h")
        )

    if store is not None:
        from drill_spark.ops.bloom import bloom_anti_join

        # store digests are unique by construction, so the filter sizes
        # from the plain parquet count (footer metadata, no distinct
        # shuffle) instead of bloom_anti_join's distinct+count job
        survivors = bloom_anti_join(
            within.withColumnRenamed("__h", "h"),
            store.select("h"), "h", fpp=fpp,
            expected_items=store.count(),
        ).withColumnRenamed("h", "__h")
    else:
        survivors = within
    # materialize once (executor-local) so the store append and the
    # returned DataFrame don't each recompute the anti join
    survivors = survivors.localCheckpoint(eager=False)

    ledger.commit(survivors.select(
        F.col("__h").alias("h"), F.lit(batch_id).alias("batch_id")))
    return survivors.drop("__h")


_INCR_NEAR_APP_ID = "drill_spark.incremental_near_dedup"


def incremental_near_dedup(
    df: DataFrame,
    store_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_k: int = 3,
    sim_threshold: float = 0.7,
    batch_id: int | None = None,
    max_bucket_size: int = 1000,
    max_candidates_per_doc: int = 50,
    txn_app_id: str = _INCR_NEAR_APP_ID,
) -> DataFrame:
    """Cross-run NEAR-dup dedup against a persistent MinHash store —
    the fuzzy sibling of ``incremental_dedup``: batch N+1 drops
    documents whose MinHash signature agrees with any previously
    committed document at >= ``sim_threshold`` (the standard unbiased
    Jaccard estimator: fraction of equal signature components),
    WITHOUT rescanning prior batches' text. Only signatures and LSH
    band keys persist (a Delta table this repo's own writer commits).

    Store rows: (band_idx, band_hash, doc_id, sig, batch_id) — one row
    per band so the cross-batch candidate step is an EQUI-join on
    (band_idx, band_hash); ``sig`` rides along (comma-joined int64s)
    so the verify never needs a second lookup.

    Scale shape:
    - within-batch: LSH candidates (hot buckets capped at
      ``max_bucket_size``) verified by signature agreement; the
      drop set is id_b of verified pairs — greedy chain collapse,
      same convention as the pair-based dedups here.
    - cross-batch: band equi-join against the store; per-new-doc
      candidate fan-out capped at ``max_candidates_per_doc`` (the
      boilerplate guard — a band bucket that grows across batches
      can't explode the verify; compact/OPTIMIZE the store when
      buckets age past usefulness). Verify = one zip_with equality
      count in codegen.
    - replay: the store commit carries a per-batch Delta txn
      (``readers/delta.BatchLedger``); re-running a committed batch_id
      returns its original survivors without re-appending.

    Returns the surviving rows of ``df`` (original columns).
    """
    from drill_spark.readers.delta import BatchLedger

    rows_per_band = num_hashes // bands
    sig = minhash_signatures(df, id_col, text_col, num_hashes, shingle_k)
    banded = sig.select(
        F.col(id_col), F.col("sig"),
        F.posexplode(F.expr(
            f"transform(sequence(0, {bands - 1}), "
            f"b -> xxhash64(concat_ws(',', slice(sig, b * {rows_per_band} + 1, "
            f"{rows_per_band})), b))"
        )).alias("band_idx", "band_hash"),
    # the band table feeds the within-batch self-join (twice), the
    # cross-batch candidate join, and the store append — checkpoint it
    # so the shingle+signature pass runs ONCE per batch
    ).localCheckpoint(eager=False)

    def agree(a, b):
        eq = F.zip_with(a, b, lambda x, y: F.when(x == y, 1).otherwise(0))
        return F.aggregate(eq, F.lit(0), lambda s, x: s + x) / F.lit(num_hashes)

    # within-batch: capped LSH candidates, signature-agreement verify,
    # drop the larger id of each verified pair
    sized = banded.withColumn(
        "__n", F.count("*").over(Window.partitionBy("band_idx", "band_hash"))
    ).where(F.col("__n") <= max_bucket_size)
    a = sized.select(F.col(id_col).alias("id_a"), F.col("sig").alias("sig_a"),
                     "band_idx", "band_hash")
    b = sized.select(F.col(id_col).alias("id_b"), F.col("sig").alias("sig_b"),
                     "band_idx", "band_hash")
    within_pairs = (
        a.join(b, ["band_idx", "band_hash"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sig_a", "sig_b").distinct()
        .where(agree(F.col("sig_a"), F.col("sig_b")) >= sim_threshold)
    )
    dropped_within = within_pairs.select(
        F.col("id_b").alias(id_col)).distinct()
    batch_kept = df.join(dropped_within, id_col, "left_anti")

    ledger = BatchLedger(df.sparkSession, store_path, txn_app_id, batch_id,
                         "incremental_near_dedup")
    store, batch_id = ledger.store, ledger.batch_id
    if ledger.replay:
        mine = store.where(
            F.col("batch_id") == batch_id).select(id_col).distinct()
        return df.join(mine, id_col, "left_semi")

    survivors = batch_kept
    if store is not None:
        cand = (
            banded.join(batch_kept.select(id_col), id_col, "left_semi")
            .select(F.col(id_col), F.col("sig").alias("sig_new"),
                    "band_idx", "band_hash")
            .join(store.select("band_idx", "band_hash",
                               F.col("sig").alias("sig_old")),
                  ["band_idx", "band_hash"])
            .select(id_col, "sig_new", "sig_old").distinct()
            .withColumn(
                "__rk",
                F.row_number().over(
                    Window.partitionBy(id_col).orderBy("sig_old")),
            ).where(F.col("__rk") <= max_candidates_per_doc)
        )
        old_arr = F.transform(
            F.split(F.col("sig_old"), ","), lambda x: x.cast("long"))
        dup_ids = (
            cand.where(agree(F.col("sig_new"), old_arr) >= sim_threshold)
            .select(id_col).distinct()
        )
        survivors = batch_kept.join(dup_ids, id_col, "left_anti")
    survivors = survivors.localCheckpoint(eager=False)

    new_rows = (
        banded.join(survivors.select(id_col), id_col, "left_semi")
        .select(
            "band_idx", "band_hash", F.col(id_col),
            F.concat_ws(",", F.col("sig")).alias("sig"),
            F.lit(batch_id).alias("batch_id"),
        )
    )
    ledger.commit(new_rows)
    return survivors


def snapshot_diff(old: DataFrame, new: DataFrame, id_col: str,
                  text_col: str) -> DataFrame:
    """Dataset-versioning diff between two corpus snapshots: classify
    every document id as added / removed / changed / unchanged by
    comparing normalized-content digests (the same 16-byte fingerprint
    exact_dedup keys on, so a diff between 100 TB snapshots moves
    digests, never text).

    Scale shape: each side reduces to (id, digest) at scan time, then
    ONE full-outer equi-join on the id — the join carries two 32-hex
    digests per id. Returns (id, status, old_h, new_h) for every id
    whose status is not 'unchanged', plus the unchanged COUNT can be
    derived by the caller; emitting changed rows only keeps output
    proportional to the delta, which is the point of a snapshot diff.
    """
    # Presence is tracked by explicit flags, not digest nullness: a
    # null-text document hashes to a null digest, and classifying on
    # old_h IS NULL would misreport an id present in both snapshots
    # with null text as 'added' (and a null-text old-only id too).
    o = old.select(F.col(id_col),
                   F.md5(normalize_text(F.col(text_col))).alias("old_h"),
                   F.lit(True).alias("__in_old"))
    n = new.select(F.col(id_col),
                   F.md5(normalize_text(F.col(text_col))).alias("new_h"),
                   F.lit(True).alias("__in_new"))
    j = o.join(n, id_col, "full_outer")
    status = (
        F.when(F.col("__in_old").isNull(), "added")
        .when(F.col("__in_new").isNull(), "removed")
        .when(~F.col("old_h").eqNullSafe(F.col("new_h")), "changed")
        .otherwise("unchanged")
    )
    return (
        j.select(F.col(id_col), status.alias("status"), "old_h", "new_h")
        .where(F.col("status") != "unchanged")
    )
