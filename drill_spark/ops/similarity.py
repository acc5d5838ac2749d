"""Similarity search over embedding columns (extension surface).

Brute-force cosine top-k is the exact baseline; LSH (random
hyperplanes) is the scale path. Cosine math is pure Catalyst
(zip_with + aggregate -> whole-stage codegen); the only Python is the
deterministic hyperplane construction on the driver (tiny).

Scale design (100 TB, billions of vectors):
- brute_force_topk: query set is broadcast (small side); candidate scan
  is a single pass, per-partition partial top-k via window over the
  broadcast-joined product. No driver collect.
- Norms are precomputed once per side (projection, not a shuffle).
- lsh_topk: bucket = sign bits of dot(v, plane_j); exact search only
  within the query's bucket(s) -> shuffle keyed by bucket id;
  multiprobe (nprobe > 1) flips the lowest-margin bits to probe
  adjacent buckets, raising recall at ~nprobe/2^n_planes of the
  corpus per query.
- ivf_topk: k-means coarse quantizer (sampled training) + nprobe
  nearest cells — the trained-partition alternative to LSH.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from drill_spark.session import local_frame


def _dot(a: str, b: str):
    return F.expr(f"aggregate(zip_with({a}, {b}, (x, y) -> cast(x as double) * cast(y as double)), 0D, (acc, v) -> acc + v)")


def _norm(a: str):
    return F.expr(f"sqrt(aggregate(transform({a}, x -> cast(x as double) * cast(x as double)), 0D, (acc, v) -> acc + v))")


def with_norm(df: DataFrame, vec_col: str, out: str = "nrm") -> DataFrame:
    return df.withColumn(out, _norm(vec_col))


def brute_force_topk(
    candidates: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
) -> DataFrame:
    """Exact cosine top-k neighbors for every query vector.

    Returns (query_id, neighbor_id, cosine, rank). Ties broken by
    neighbor id so results are deterministic across engines.
    """
    q = with_norm(
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")), "qv", "qn"
    )
    c = with_norm(
        candidates.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")), "cv", "cn"
    )
    scored = (
        c.join(F.broadcast(q))
        .where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine", F.round(_dot("qv", "cv") / (F.col("qn") * F.col("cn")), 4))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def cosine_dedup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bucket_col: str = "label",
    threshold: float = 0.95,
    n_salt: int = 8,
    prefilter_dims: int | None = None,
) -> DataFrame:
    """Embedding near-duplicate pairs: cosine >= threshold within a
    blocking bucket (here `label`; at scale an LSH bucket). EXACT
    within the bucket — every qualifying pair is emitted once, with
    id_a < id_b.

    Scale shape: a plain self-join keyed on the bucket column puts each
    bucket's entire m^2 comparison on ONE task, so parallelism collapses
    as buckets grow (measured 18x wall at 10x rows in the sf1 soak).
    The triangle-join decomposition fixes that without changing results:
    each row gets a deterministic salt s in [0, n_salt); the unordered
    pair space splits into salt blocks (i, j), i <= j; side A explodes
    to its blocks with j >= s, side B to blocks with i <= s; the join
    key (bk, i, j) spreads one bucket over n_salt*(n_salt+1)/2 tasks.
    Same total comparisons, ~n_salt/2 row replication, full cluster
    parallelism. n_salt=1 degrades to the single-block join.

    The triangle join only spreads the pair work when the EXECUTED join
    exchanges on (bk, i, j); below the broadcast threshold the planner
    broadcasts side B and side A's partitioning — i.e. the input scan's
    — carries straight through to the quadratic scoring stage, so a
    single-file embedding table runs every comparison on one or two
    tasks. _spread (guarded: no-op for multi-split scans and for
    post-shuffle frames) fans the narrow (bk, id, v) projection first;
    the round-robin exchange moves each vector once, nothing compared
    to the pair volume it parallelizes.

    ``prefilter_dims`` (r14, guide §3.2 "reduce before the join"): a
    LOSSLESS Cauchy-Schwarz upper bound drops candidate pairs before
    the full dot fold. Per row (linear, pre-explode) compute the
    P-dim prefix array ``pv = v[:P]`` and the suffix norm ``sn =
    |v[P:]|``; per pair the prefix dot plus ``sn_a*sn_b`` bounds the
    full dot from above (dot_suffix <= |a_s||b_s| by Cauchy-Schwarz),
    so ``(prefix_dot + sn_a*sn_b)/(na*nb) < threshold - 1e-4`` proves
    the pair cannot reach the gate — the 1e-4 slack covers the gate's
    round-to-4 half-up (5e-5) plus float noise, and a NULL or NaN
    bound KEEPS its pair (``coalesce(bound >= cut, true)``; Spark
    orders NaN above every double, so NaN passes the filter exactly
    as a NaN cosine passes the gate). Survivors run the IDENTICAL
    fold and round, so the emitted pair set is bit-equal for any P
    (pinned by test).

    Cost model (measured, r14): the bound must be CODEGEN arithmetic
    to pay. Slicing per PAIR (slice(va,1,P) inside the predicate) or
    folding the prefix with aggregate(zip_with(...)) both LOSE — the
    per-pair array allocation + interpreted-lambda overhead exceeds
    the full fold they save, at sf0.1 and sf1 alike. What wins is
    pre-slicing the prefix per ROW and an UNROLLED
    ``get(pa,0)*get(pb,0) + ...`` sum (plain codegen'd expressions,
    no lambdas): semantic-dedup pair stage at the 10x soak fixture
    2.93 -> 1.93s min (keep fraction 0.02% at P=16/t=0.95), sf0.1
    0.556 -> 0.515s. ``None`` = auto: 16 dims when threshold >= 0.6,
    off below (at low thresholds the suffix bound alone exceeds the
    threshold for typical energy layouts, so every pair survives and
    the prefix work is pure overhead — measured at embed_dedup's
    0.35: best P keeps ~19%, a wash). ``0`` disables explicitly.
    """
    from drill_spark.ops.pipeline import _spread

    side = with_norm(
        _spread(df.select(F.col(bucket_col).alias("bk"), F.col(id_col).alias("id"), F.col(vec_col).alias("v"))),
        "v",
        "n",
    )
    if prefilter_dims is None:
        prefilter_dims = 16 if threshold >= 0.6 else 0
    # cap: the unrolled bound is one parsed expression; past ~a hundred
    # terms the parser rejects it, and a prefix that long has no
    # pruning advantage anyway (the bound is monotone in P only in
    # tightness, not in cost)
    P = min(max(int(prefilter_dims), 0), 64)
    if P:
        # prefix slice + suffix norm once per ROW (linear), carried
        # through the explode/join; per-pair slicing measured SLOWER
        # than no filter at all (allocation per pair). slice() past
        # the end is empty -> sn = 0 for short vectors, NaN elements
        # poison sn to NaN. (suffix length = size(v): always covers
        # the suffix, and start+length stays inside int32 — a MAX_INT
        # literal overflows slice())
        side = side.withColumn("pv", F.expr(f"slice(v, 1, {P})")).withColumn(
            "sn",
            F.expr(
                f"sqrt(aggregate(transform(slice(v, {P + 1}, size(v)), "
                f"x -> cast(x as double) * cast(x as double)), 0D, (acc, y) -> acc + y))"
            ),
        )
    S = max(int(n_salt), 1)
    salted = side.withColumn("s", F.pmod(F.xxhash64("id"), F.lit(S)).cast("int"))
    sn_a = [F.col("pv").alias("pa"), F.col("sn").alias("sa")] if P else []
    sn_b = [F.col("pv").alias("pb"), F.col("sn").alias("sb")] if P else []
    a = (
        salted.select(
            "bk", F.col("s").alias("i"),
            F.col("id").alias("id_a"), F.col("v").alias("va"), F.col("n").alias("na"),
            *sn_a,
        )
        .withColumn("j", F.explode(F.expr(f"sequence(i, {S - 1})")))
    )
    b = (
        salted.select(
            "bk", F.col("s").alias("j"),
            F.col("id").alias("id_b"), F.col("v").alias("vb"), F.col("n").alias("nb"),
            *sn_b,
        )
        .withColumn("i", F.explode(F.expr("sequence(0, j)")))
    )
    # i < j blocks hold cross-salt pairs once by construction; the
    # diagonal i == j needs the id order to not double-count
    keep = (F.col("i") < F.col("j")) | (F.col("id_a") < F.col("id_b"))
    if P:
        # ONE combined predicate, diagonal test FIRST (it kills ~half
        # the diagonal block for free; separate .where calls made the
        # optimizer order it after the bound). The prefix dot is an
        # UNROLLED codegen sum over the pre-sliced prefix arrays — no
        # lambdas, no per-pair allocation (the left-to-right + chain
        # is the same accumulation order as the fold, so the value is
        # bit-identical where both are defined). coalesce(_, true)
        # keeps NULL-bound pairs — the gate drops them identically —
        # and, being null-TOLERANT, stops InferFiltersFromConstraints
        # from deriving isnotnull(sqrt(aggregate(...))) scan filters
        # that re-evaluate both norms once more per row.
        prefix_dot = F.expr(" + ".join(
            f"cast(get(pa, {i}) as double) * cast(get(pb, {i}) as double)"
            for i in range(P)
        ))
        bound_ok = F.coalesce(
            (prefix_dot + F.col("sa") * F.col("sb")) / (F.col("na") * F.col("nb"))
            >= F.lit(float(threshold) - 1e-4),
            F.lit(True),
        )
        keep = keep & bound_ok
    return (
        a.join(b, ["bk", "i", "j"])
        .where(keep)
        .withColumn("cosine", F.round(_dot("va", "vb") / (F.col("na") * F.col("nb")), 4))
        .where(F.col("cosine") >= threshold)
        .select(
            F.col("bk").alias(bucket_col),
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
            "cosine",
        )
    )


def hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (driver-side, tiny)."""
    import numpy as np

    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).tolist()


def _plane_dots(vec_col: str, planes: list[list[float]]):
    """dot(v, p_j) for every hyperplane as ONE transform() over the
    literal plane matrix (linear expression tree, codegen'd)."""
    mat = _cents_sql(planes)
    return F.expr(
        f"transform({mat}, p -> aggregate(zip_with({vec_col}, p, "
        f"(x, y) -> cast(x as double) * y), 0D, (acc, v) -> acc + v))"
    )


_BUCKET_FROM_DOTS = (
    "aggregate(zip_with({dots}, sequence(0, size({dots}) - 1), "
    "(d, i) -> IF(d > 0, shiftleft(1L, i), 0L)), 0L, (a, b) -> a + b)"
)


def lsh_bucket(df: DataFrame, vec_col: str, planes: list[list[float]], out: str = "bucket") -> DataFrame:
    """Random-hyperplane LSH bucket id: int of sign bits of dot(v, p_j).

    The planes are inlined as array literals — constant-folded by
    Catalyst, broadcast with the plan, evaluated in codegen.
    """
    return (
        df.withColumn("_dots", _plane_dots(vec_col, planes))
        .withColumn(out, F.expr(_BUCKET_FROM_DOTS.format(dots="_dots")))
        .drop("_dots")
    )


def lsh_probe_buckets(nprobe: int):
    """Multiprobe bucket list for a query: its own bucket plus the
    buckets reached by flipping the `nprobe - 1` lowest-margin sign
    bits (|dot| smallest = most likely to be on the wrong side).
    Expects `_dots` and `bucket` columns; pure Catalyst."""
    flips = (
        "slice(transform(array_sort(zip_with(_dots, sequence(0, size(_dots) - 1), "
        "(d, i) -> struct(abs(d) as m, i as i))), s -> s.i), 1, {n})"
    ).format(n=nprobe - 1)
    return F.expr(
        f"concat(array(bucket), transform({flips}, i -> bucket ^ shiftleft(1L, i)))"
    )


def _train_sample(df: DataFrame, vec_col: str, max_train: int):
    """Arrow-batched collect of the bounded quantizer-training sample
    (toPandas with arrow enabled moves columnar batches, ~10x the
    row-at-a-time head()). Factored out so a caller that trains BOTH a
    coarse quantizer and PQ codebooks (ivfpq_topk, build_vector_index)
    pays the collect ONCE — the two trainers' samples are the identical
    expression, so sharing changes nothing about the result."""
    import numpy as np

    sample_pdf = (df.select(F.col(vec_col).cast("array<double>").alias("v"))
                  .limit(max_train).toPandas())
    return np.asarray(sample_pdf["v"].tolist())


def ivf_assign(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 8,
    seed: int = 42,
    max_train: int = 50_000,
    sample=None,
) -> tuple[DataFrame, list[list[float]]]:
    """IVF coarse quantizer: k-means centroids + per-vector cell
    assignment. Returns (df + `cell`, centroids).

    Scale: training runs driver-side in numpy on a bounded sample —
    coarse quantizers don't need the full corpus (FAISS practice), and
    one collect beats a Spark job per Lloyd iteration (MLlib KMeans
    schedules ~10 jobs even on tiny data). Assignment stays a single
    distributed Catalyst scan. The inverted file = the table
    hash-partitioned by cell — exactly the layout a later `search only
    nprobe cells` query wants.
    """
    import numpy as np

    if sample is None:
        sample = _train_sample(df, vec_col, max_train)
    rng = np.random.default_rng(seed)
    s2 = (sample**2).sum(axis=1)
    # k-means++ seeding: each next centroid drawn proportional to the
    # squared distance from the nearest chosen one (better-balanced
    # cells than uniform choice, matching k-means|| quality)
    k = min(n_cells, len(sample))
    idx = [int(rng.integers(len(sample)))]
    best = s2 + (sample[idx[0]] ** 2).sum() - 2.0 * (sample @ sample[idx[0]])
    for _ in range(1, k):
        p = np.clip(best, 0, None)
        p = p / p.sum() if p.sum() > 0 else None
        nxt = int(rng.choice(len(sample), p=p))
        idx.append(nxt)
        d_new = s2 + (sample[nxt] ** 2).sum() - 2.0 * (sample @ sample[nxt])
        best = np.minimum(best, d_new)
    cents = sample[idx]
    for _ in range(20):  # Lloyd's; instant at sample scale
        # |s|^2 + |c|^2 - 2 s.c  (n x k, never materializes n x k x dim)
        d2 = s2[:, None] + (cents**2).sum(axis=1)[None, :] - 2.0 * (sample @ cents.T)
        assign = d2.argmin(axis=1)
        new = np.stack(
            [
                sample[assign == c].mean(axis=0) if (assign == c).any() else cents[c]
                for c in range(len(cents))
            ]
        )
        if np.allclose(new, cents, atol=1e-6):
            break
        cents = new
    centroids = cents.tolist()
    return _assign_cells(df, vec_col, centroids), centroids


def _cents_sql(centroids: list[list[float]]) -> str:
    """Centroid matrix as a SQL array<array<double>> literal."""
    return "array(" + ",".join(
        "array(" + ",".join(f"{x}D" for x in c) + ")" for c in centroids
    ) + ")"


def _dist2_array(vec_col: str, centroids: list[list[float]]):
    """Squared L2 distance to every centroid as ONE transform() over the
    literal centroid matrix — linear-size expression tree (a per-centroid
    when-chain grows exponentially under Catalyst project collapse and
    overflows the JVM stack), constant-folded, codegen'd."""
    cents = _cents_sql(centroids)
    return F.expr(
        f"transform({cents}, c -> aggregate(zip_with({vec_col}, c, "
        f"(x, y) -> (cast(x as double) - y) * (cast(x as double) - y)), 0D, (acc, v) -> acc + v))"
    )


def _assign_cells(df: DataFrame, vec_col: str, centroids: list[list[float]]) -> DataFrame:
    """argmin over centroid distances as a pure Catalyst expression."""
    return (
        df.withColumn("_dists", _dist2_array(vec_col, centroids))
        .withColumn("cell", (F.expr("array_position(_dists, array_min(_dists))") - 1).cast("int"))
        .drop("_dists")
    )


def ivf_topk(
    df: DataFrame,
    query_ids,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    n_cells: int = 8,
    nprobe: int = 2,
) -> DataFrame:
    """IVF approximate top-k: exact cosine only within the query's
    nprobe nearest cells. The candidate shuffle is keyed by cell id;
    cost scales with corpus/nprobe÷n_cells, not corpus size."""
    assigned, centroids = ivf_assign(df, id_col, vec_col, n_cells)
    assigned = with_norm(assigned, vec_col, "n")
    # per-query nprobe nearest centroids (tiny: |queries| × n_cells rows
    # from one posexplode of the distance array — no per-centroid union)
    q_rows = assigned.where(F.col(id_col).isin(list(query_ids)))
    exploded = q_rows.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        F.col("n").alias("qn"),
        F.posexplode(_dist2_array(vec_col, centroids)).alias("pcell", "d2"),
    )
    wq = Window.partitionBy("query_id").orderBy("d2", "pcell")
    probes = (
        exploded.withColumn("_r", F.row_number().over(wq))
        .where(F.col("_r") <= nprobe)
        .select("query_id", F.col("pcell").alias("cell"), "qv", "qn")
    )
    cand = assigned.select(
        F.col("cell"), F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"), F.col("n").alias("cn")
    )
    scored = (
        cand.join(F.broadcast(probes), "cell")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine", F.round(_dot("qv", "cv") / (F.col("qn") * F.col("cn")), 4))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def lsh_topk(
    df: DataFrame,
    query_ids,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    n_planes: int = 4,
    dim: int = 64,
    nprobe: int = 1,
) -> DataFrame:
    """Approximate top-k: exact cosine within the query's LSH bucket(s).

    nprobe > 1 = multiprobe: each query also searches the buckets
    reached by flipping its lowest-margin hash bits — recall rises
    toward exact while candidate cost stays ~nprobe/2^n_planes of the
    corpus (the standard LSH recall/cost dial)."""
    planes = hyperplanes(dim, n_planes)
    bucketed = lsh_bucket(with_norm(df, vec_col, "n"), vec_col, planes)
    q = (
        bucketed.where(F.col(id_col).isin(list(query_ids)))
        .withColumn("_dots", _plane_dots(vec_col, planes))
        .withColumn("_probes", lsh_probe_buckets(nprobe))
        .select(
            F.explode("_probes").alias("bucket"),
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("qv"),
            F.col("n").alias("qn"),
        )
    )
    c = bucketed.select(
        F.col("bucket"), F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"), F.col("n").alias("cn")
    )
    scored = (
        c.join(F.broadcast(q), "bucket")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine", F.round(_dot("qv", "cv") / (F.col("qn") * F.col("cn")), 4))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def semantic_dedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int | None = 8,
    threshold: float = 0.95,
    n_salt: int = 8,
    seed: int = 42,
    target_cell_size: int = 512,
    max_cells: int = 4096,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (the published method:
    Abbas et al. 2023, "SemDeDup: Data-efficient learning at web-scale
    through semantic deduplication"): k-means-cluster the embeddings,
    find cosine-similar pairs WITHIN each cluster, resolve them into
    duplicate groups, and keep one canonical member (smallest id) per
    group. Returns (id, cell, group_id, keep).

    Scale shape: the coarse quantizer trains on a bounded driver
    sample (ivf_assign); assignment is one Catalyst scan; the
    within-cluster pair search is the triangle-salted bucket join
    (cosine_dedup_pairs — no all-pairs, one-bucket-one-task collapse
    already fixed and soak-measured); group resolution is min-label
    connected components (1 shuffle/iteration, lineage-truncated).
    Cross-cluster duplicates are missed by construction — the recall
    trade SemDeDup itself makes.

    Within-cluster cost is quadratic in cluster size, so n_cells must
    grow with the corpus. ``n_cells=None`` auto-sizes it as
    ceil(count / target_cell_size) — the paper's own recipe (it uses
    clusters of 10^4-10^5 embeddings at web scale) — so per-cell pair
    work stays bounded and total cost stays ~linear as the corpus
    grows; the one extra count() job is trivial next to the pair join.
    The k-means sample cap handles any n_cells the driver can hold;
    max_cells bounds the driver-side Lloyd cost."""
    from drill_spark.ops.dedup import connected_components

    if n_cells is None:
        n_rows = df.count()
        n_cells = max(8, min(int(max_cells), -(-n_rows // max(int(target_cell_size), 1))))
    assigned, _cents = ivf_assign(df, id_col, vec_col, n_cells=n_cells, seed=seed)
    pairs = cosine_dedup_pairs(
        assigned, id_col, vec_col, bucket_col="cell",
        threshold=threshold, n_salt=n_salt,
    )
    comp = connected_components(pairs, "id_a", "id_b")
    base = assigned.select(F.col(id_col), F.col("cell"))
    return (
        base.join(comp, base[id_col] == comp["node"], "left")
        .select(
            F.col(id_col),
            F.col("cell"),
            F.coalesce(F.col("component"), F.col(id_col)).alias("group_id"),
            (F.coalesce(F.col("component"), F.col(id_col)) == F.col(id_col)).alias("keep"),
        )
    )


# ------------------------------------------------------- product quantization


def pq_train(df: DataFrame, vec_col: str = "embedding", m: int = 8,
             k: int = 16, seed: int = 42,
             max_train: int = 50_000, sample=None) -> list[list[list[float]]]:
    """Product-quantization codebooks (Jégou et al. 2011, the FAISS
    standard): split the vector into ``m`` subvectors and k-means each
    subspace independently on a bounded driver sample. Returns
    codebooks[m][k][sub_dim]. Compression: dim floats -> m codes."""
    import numpy as np

    if sample is None:
        sample = _train_sample(df, vec_col, max_train)
    dim = sample.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    rng = np.random.default_rng(seed)
    books = []
    for j in range(m):
        x = sample[:, j * sub: (j + 1) * sub]
        kk = min(k, len(x))
        cents = x[rng.choice(len(x), kk, replace=False)]
        for _ in range(15):  # Lloyd's on the subspace sample
            d2 = ((x[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            a = d2.argmin(axis=1)
            new = np.stack([x[a == c].mean(axis=0) if (a == c).any() else cents[c]
                            for c in range(kk)])
            if np.allclose(new, cents, atol=1e-7):
                break
            cents = new
        books.append(cents.tolist())
    return books


def pq_encode(df: DataFrame, codebooks, id_col: str = "vec_id",
              vec_col: str = "embedding",
              passthrough: tuple = ()) -> DataFrame:
    """(id, *passthrough, codes array<int>) — per-subspace argmin
    against the literal codebooks, pure Catalyst (one transform per
    subspace, constant-folded). The codes column is what a 100 TB
    corpus persists: m bytes per vector instead of dim floats.

    ``passthrough`` names input columns carried to the output in the
    same projection: the IVF+PQ callers need ``cell`` next to the
    codes, and carrying it here is free while re-attaching it with a
    join is a full corpus-width shuffle on the id (guide §2.4)."""
    sub = len(codebooks[0][0])
    keep = [F.col(c) for c in passthrough]
    out = df.select(F.col(id_col), F.col(vec_col), *keep)
    code_cols = []
    for j, book in enumerate(codebooks):
        cents = _cents_sql(book)
        d = (f"transform({cents}, c -> aggregate(zip_with("
             f"slice({vec_col}, {j * sub + 1}, {sub}), c, "
             f"(x, y) -> (cast(x as double) - y) * (cast(x as double) - y)), "
             f"0D, (acc, v) -> acc + v))")
        code_cols.append(
            (F.expr(f"array_position({d}, array_min({d}))") - 1)
            .cast("int").alias(f"_c{j}"))
    out = out.select(id_col, vec_col, *passthrough, *code_cols)
    return out.select(
        id_col,
        *passthrough,
        F.array(*[F.col(f"_c{j}") for j in range(len(codebooks))]).alias("codes"),
    )


def pq_topk(df: DataFrame, query_ids, codebooks=None,
            id_col: str = "vec_id", vec_col: str = "embedding",
            k: int = 3, m: int = 8, n_codes: int = 16,
            rerank: int | None = None) -> DataFrame:
    """PQ approximate top-k by asymmetric distance computation (ADC)
    with exact re-ranking — the FAISS IndexPQ + refine pattern:

    1. each query precomputes an m x k lookup table of exact subvector
       distances to the codebook entries; every corpus vector's
       approximate distance is m table lookups summed over its CODES —
       no float vectors touched in the scan, which is the whole point
       at 100 TB (the corpus side reads m small ints per row);
    2. the top ``rerank`` (default 10*k) ADC candidates per query —
       a tiny set — fetch their float vectors and re-rank by exact
       cosine, recovering the recall that quantization noise costs on
       near-tied neighbors.

    The per-query LUTs are plan literals (queries are a small set);
    stage 1 is one codegen'd scan + a top-R window; stage 2 joins only
    R rows per query back to the corpus."""
    import numpy as np

    if codebooks is None:
        codebooks = pq_train(df, vec_col, m=m, k=n_codes)
    encoded = pq_encode(df, codebooks, id_col, vec_col)
    rerank = rerank or 10 * k

    q_rows = (df.where(F.col(id_col).isin(list(query_ids)))
              .select(F.col(id_col), F.col(vec_col).cast("array<double>"))
              .collect())  # bounded: the query set
    sub = len(codebooks[0][0])
    books = np.asarray(codebooks)  # (m, k, sub)
    # ONE corpus scan scores every query: the per-query LUTs stack into
    # a 3-D literal and a transform+posexplode emits (query_idx, dist)
    all_luts = []
    for r in q_rows:
        qv = np.asarray(r[1])
        all_luts.append([
            ((books[j] - qv[j * sub: (j + 1) * sub][None, :]) ** 2).sum(axis=1).tolist()
            for j in range(len(codebooks))
        ])
    qluts_sql = "array(" + ",".join(
        "array(" + ",".join(
            "array(" + ",".join(f"{x}D" for x in row) + ")" for row in luts
        ) + ")" for luts in all_luts
    ) + ")"
    qid_sql = "array(" + ",".join(str(int(r[0])) + "L" for r in q_rows) + ")"
    dists = (f"transform({qluts_sql}, lq -> aggregate(zip_with(lq, codes, "
             f"(lut, c) -> element_at(lut, c + 1)), 0D, (acc, v) -> acc + v))")
    out = (
        encoded.select(
            F.col(id_col).alias("neighbor_id"),
            F.posexplode(F.expr(dists)).alias("_qi", "adc_dist"),
        )
        .withColumn("query_id", F.expr(f"element_at({qid_sql}, _qi + 1)"))
        .where(F.col("neighbor_id") != F.col("query_id"))
        .drop("_qi")
    )
    wa = Window.partitionBy("query_id").orderBy(F.asc("adc_dist"), F.asc("neighbor_id"))
    cands = (out.withColumn("_r", F.row_number().over(wa))
             .where(F.col("_r") <= rerank)
             .select("query_id", "neighbor_id"))

    # exact refine: R rows per query fetch their float vectors
    side = with_norm(
        df.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")),
        "cv", "cn")
    qdf = with_norm(
        local_frame(
            df.sparkSession, [(int(r[0]), list(map(float, r[1]))) for r in q_rows],
            "query_id bigint, qv array<double>"),
        "qv", "qn")
    scored = (
        cands.join(side, "neighbor_id")
        .join(F.broadcast(qdf), "query_id")
        .withColumn("cosine", F.round(_dot("qv", "cv") / (F.col("qn") * F.col("cn")), 4))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "cosine", "rank"))


def ivfpq_topk(df: DataFrame, query_ids,
               id_col: str = "vec_id", vec_col: str = "embedding",
               k: int = 3, n_cells: int = 8, nprobe: int = 3,
               m: int = 8, n_codes: int = 16,
               rerank: int | None = None) -> DataFrame:
    """IVF + PQ — the standard billion-scale ANN layout (FAISS
    IVFPQ, here with by_residual=False): the coarse quantizer limits
    the search to the query's ``nprobe`` cells, PQ codes make the
    scanned rows m small ints, ADC scores them via per-query literal
    LUTs, and the top candidates re-rank by exact cosine. Cost per
    query: nprobe/n_cells of the corpus read as CODES, plus ``rerank``
    float-vector fetches."""
    import numpy as np

    shared = _train_sample(df, vec_col, 50_000)
    assigned, centroids = ivf_assign(df, id_col, vec_col, n_cells,
                                     sample=shared)
    codebooks = pq_train(df, vec_col, m=m, k=n_codes, sample=shared)
    encoded = pq_encode(assigned, codebooks, id_col, vec_col,
                        passthrough=("cell",))
    rerank = rerank or 10 * k

    q_rows = (df.where(F.col(id_col).isin(list(query_ids)))
              .select(F.col(id_col), F.col(vec_col).cast("array<double>"))
              .collect())
    sub = len(codebooks[0][0])
    books = np.asarray(codebooks)
    cents = np.asarray(centroids)

    # Per-query probe cells (driver math — centroids are tiny). The ADC
    # lookup tables ride IN the broadcast probes DataFrame as a data
    # column — nprobe rows x m x n_codes doubles per query — instead of
    # a giant literal array expression: Catalyst re-analyzes a
    # several-thousand-node literal tree on EVERY downstream
    # transformation (measured 0.4-0.5s per analysis pass at 640x8),
    # while a data column costs the analyzer one attribute. Same
    # mechanism probe_many in ops/vecindex.py uses; the fold and its
    # values are unchanged.
    probe_rows = []
    for r in q_rows:
        qv = np.asarray(r[1])
        d2 = ((cents - qv[None, :]) ** 2).sum(axis=1)
        lut = [
            ((books[j] - qv[j * sub: (j + 1) * sub][None, :]) ** 2).sum(axis=1).tolist()
            for j in range(len(codebooks))
        ]
        for cell in np.argsort(d2)[:nprobe]:
            probe_rows.append((int(r[0]), int(cell), lut))
    probes = local_frame(
        df.sparkSession, probe_rows, "query_id bigint, cell int, lut array<array<double>>")
    dist = ("aggregate(zip_with(lut, codes, "
            "(l, c) -> element_at(l, c + 1)), 0D, (acc, v) -> acc + v)")
    cand = (
        encoded.join(F.broadcast(probes), "cell")
        .where(F.col(id_col) != F.col("query_id"))
        .select("query_id",
                F.col(id_col).alias("neighbor_id"),
                F.expr(dist).alias("adc_dist"))
    )
    wa = Window.partitionBy("query_id").orderBy(F.asc("adc_dist"), F.asc("neighbor_id"))
    shortlist = (cand.withColumn("_r", F.row_number().over(wa))
                 .where(F.col("_r") <= rerank)
                 .select("query_id", "neighbor_id"))
    side = with_norm(
        df.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")),
        "cv", "cn")
    qdf = with_norm(
        local_frame(
            df.sparkSession, [(int(r[0]), list(map(float, r[1]))) for r in q_rows],
            "query_id bigint, qv array<double>"),
        "qv", "qn")
    scored = (
        shortlist.join(side, "neighbor_id")
        .join(F.broadcast(qdf), "query_id")
        .withColumn("cosine", F.round(_dot("qv", "cv") / (F.col("qn") * F.col("cn")), 4))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "cosine", "rank"))


def triplet_mine(
    df: DataFrame,
    query_ids,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Contrastive training-pair mining: for every anchor, the nearest
    SAME-label vector (positive) and the nearest DIFFERENT-label vector
    (hard negative) by cosine — the batch-hard mining recipe
    (Hermans et al. 2017) embedding models train on.

    One broadcast of the anchor batch against one corpus scan; the
    per-anchor ranking is a window split by (anchor, same-label) so
    positives and negatives rank independently. At 100 TB compose with
    the ANN shortlist (ivf_topk / pq_topk) instead of the full scan —
    this operator's join/rank shape is identical either way.

    Returns (anchor_id, pos_id, pos_sim, neg_id, neg_sim); cosine
    rounded to 4 before ranking (cand-id tiebreak) so results are
    deterministic and engine-portable.
    """
    q = with_norm(
        df.where(F.col(id_col).isin(list(query_ids))).select(
            F.col(id_col).alias("anchor_id"),
            F.col(label_col).alias("anchor_label"),
            F.col(vec_col).alias("qv"),
        ),
        "qv", "qn",
    )
    c = with_norm(
        df.select(
            F.col(id_col).alias("cand_id"),
            F.col(label_col).alias("cand_label"),
            F.col(vec_col).alias("cv"),
        ),
        "cv", "cn",
    )
    scored = (
        c.join(F.broadcast(q))
        .where(F.col("anchor_id") != F.col("cand_id"))
        .withColumn(
            "cosine",
            F.round(_dot("qv", "cv") / (F.col("qn") * F.col("cn")), 4),
        )
        .withColumn("is_pos", F.col("anchor_label") == F.col("cand_label"))
    )
    w = Window.partitionBy("anchor_id", "is_pos").orderBy(
        F.desc("cosine"), F.asc("cand_id"))
    best = scored.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1)
    pos = best.where(F.col("is_pos")).select(
        "anchor_id", F.col("cand_id").alias("pos_id"),
        F.col("cosine").alias("pos_sim"))
    neg = best.where(~F.col("is_pos")).select(
        "anchor_id", F.col("cand_id").alias("neg_id"),
        F.col("cosine").alias("neg_sim"))
    return pos.join(neg, "anchor_id")
