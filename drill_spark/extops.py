"""Extension-operator queries: dedup, similarity search, text analysis,
multimodal — the training-data-pipeline surface (SURVEY §7 step 6),
wired into the driver contract with DuckDB oracles where the semantics
are SQL-expressible. Approximate / iterative / stubbed ops are
rows-only by design — each carries a stronger pytest instead (recall
bounds, brute-force equality, union-find equality): ext_dedup_minhash,
ext_dedup_simhash(_pairs), ext_dedup_clusters, ext_ann_lsh,
ext_ann_ivf, ext_text_topk_approx, ext_multimodal_features,
ext_crossmodal_topk, ext_incremental_near_dedup.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from drill_spark.session import load_fixture, local_frame


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_fixture(spark, sf_dir, "documents")


def _embs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_fixture(spark, sf_dir, "embeddings")


# ---------------------------------------------------------------- dedup


def q_dedup_exact(spark, sf_dir):
    from drill_spark.ops.dedup import exact_dedup

    return exact_dedup(_docs(spark, sf_dir), "doc_id", "text")


def q_incremental_dedup(spark, sf_dir):
    """Cross-run dedup against a persistent Delta digest store
    (ops/dedup.py::incremental_dedup): even-id documents commit as
    batch 0, then odd-id documents dedup against the store as batch 1 —
    the returned rows are batch 1's survivors (new digest, lowest id in
    batch). A fresh store directory per invocation keeps the query a
    pure function of the fixtures (the driver runs it twice)."""
    import tempfile

    from drill_spark.ops.dedup import incremental_dedup

    docs = _docs(spark, sf_dir)
    store = tempfile.mkdtemp(prefix="incdedup_") + "/store"
    incremental_dedup(
        docs.where(F.col("doc_id") % 2 == 0), store, "doc_id", "text"
    ).count()  # materialize batch 0's store commit
    return incremental_dedup(
        docs.where(F.col("doc_id") % 2 == 1), store, "doc_id", "text"
    ).select("doc_id")


ORACLE_INCREMENTAL_DEDUP = r"""
with d as (
  select doc_id, md5(regexp_replace(lower(text), '\s+', ' ', 'g')) as h
  from documents
),
b2 as (select * from d where doc_id % 2 = 1),
keep as (select h, min(doc_id) as doc_id from b2 group by 1)
select k.doc_id
from keep k
where not exists (select 1 from d where doc_id % 2 = 0 and d.h = k.h)
"""


ORACLE_DEDUP_EXACT = r"""
select md5(regexp_replace(lower(text), '\s+', ' ', 'g')) as h,
       min(doc_id) as keep_id, count(*) as n_dupes
from documents
group by 1
"""


def q_dedup_jaccard(spark, sf_dir):
    from drill_spark.ops.dedup import jaccard_pairs

    docs = _docs(spark, sf_dir).where(F.col("doc_id") < 100)
    return jaccard_pairs(docs, "doc_id", "text", threshold=0.9)


ORACLE_DEDUP_JACCARD = r"""
with tok as (
  select distinct doc_id, w
  from (select doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) as w
        from documents where doc_id < 100)
  where w <> ''
),
sizes as (select doc_id, count(*) as sz from tok group by 1),
inter as (
  select a.doc_id as id_a, b.doc_id as id_b, count(*) as i
  from tok a join tok b on a.w = b.w and a.doc_id < b.doc_id
  group by 1, 2
)
select id_a, id_b, round(i * 1.0 / (sa.sz + sb.sz - i), 4) as jaccard
from inter
join sizes sa on sa.doc_id = id_a
join sizes sb on sb.doc_id = id_b
where round(i * 1.0 / (sa.sz + sb.sz - i), 4) >= 0.9
"""


def q_dedup_apply(spark, sf_dir):
    """The apply stage: corpus filtered to canonical survivors (one doc
    per normalized-content digest). Broadcast-joinable keep set at test
    scale; at 100 TB the same plan is a shuffle semi-join on doc_id."""
    from drill_spark.ops.dedup import exact_dedup

    docs = _docs(spark, sf_dir)
    keep = exact_dedup(docs, "doc_id", "text").select("keep_id")
    return docs.join(
        keep, docs["doc_id"] == keep["keep_id"], "left_semi"
    ).select("doc_id", "lang", "source")


ORACLE_DEDUP_APPLY = r"""
with keep as (
  select min(doc_id) as keep_id
  from documents
  group by md5(regexp_replace(lower(text), '\s+', ' ', 'g'))
)
select d.doc_id, d.lang, d.source
from documents d
where d.doc_id in (select keep_id from keep)
"""


def q_dedup_minhash(spark, sf_dir):
    """Approximate (LSH recall < 1) — rows-only check by design."""
    from drill_spark.ops.dedup import minhash_near_dupes

    docs = _docs(spark, sf_dir).where(F.col("doc_id") < 100)
    # shingle_k=1: signature granularity must match the verify metric
    # (word-set jaccard); use k=3 shingles when order sensitivity matters.
    return minhash_near_dupes(docs, "doc_id", "text", threshold=0.9, shingle_k=1)


def q_dedup_simhash(spark, sf_dir):
    """SimHash fingerprints (hash-design-specific — rows-only check)."""
    from drill_spark.ops.dedup import simhash

    return simhash(_docs(spark, sf_dir), "doc_id", "text", bits=48)


def q_dedup_simhash_pairs(spark, sf_dir):
    """SimHash near-dup pairs via banded candidates (rows-only; banding
    completeness vs brute force asserted in test_simhash_pairs_complete)."""
    from drill_spark.ops.dedup import simhash_near_dupes

    docs = _docs(spark, sf_dir).where(F.col("doc_id") < 200)
    return simhash_near_dupes(docs, "doc_id", "text", bits=48, bands=4, max_hamming=3)


def q_dedup_clusters(spark, sf_dir):
    """Near-dup pairs resolved to clusters + canonical keep flag via
    distributed connected components (iterative — rows-only; equality
    with union-find asserted in test_dedup_clusters_match_union_find)."""
    from drill_spark.ops.dedup import dedup_clusters, simhash_near_dupes

    docs = _docs(spark, sf_dir).where(F.col("doc_id") < 200)
    pairs = simhash_near_dupes(docs, "doc_id", "text", bits=48, bands=4, max_hamming=3)
    return dedup_clusters(docs, pairs, "doc_id")


# ------------------------------------------------------------ similarity


def q_embed_topk(spark, sf_dir):
    from drill_spark.ops.similarity import brute_force_topk

    embs = _embs(spark, sf_dir)
    return brute_force_topk(embs, embs.where(F.col("vec_id") < 5), k=3)


ORACLE_EMBED_TOPK = """
with q as (select vec_id as query_id, embedding as qv from embeddings where vec_id < 5),
scored as (
  select q.query_id, e.vec_id as neighbor_id,
         round(list_cosine_similarity(cast(e.embedding as double[]), cast(q.qv as double[])), 4) as cosine
  from embeddings e cross join q
  where e.vec_id <> q.query_id
)
select query_id, neighbor_id, cosine,
       cast(row_number() over (partition by query_id order by cosine desc, neighbor_id) as int) as rank
from scored
qualify rank <= 3
"""


def q_embed_dedup(spark, sf_dir):
    from drill_spark.ops.similarity import cosine_dedup_pairs

    return cosine_dedup_pairs(_embs(spark, sf_dir), threshold=0.35)


ORACLE_EMBED_DEDUP = """
select a.label, a.vec_id as id_a, b.vec_id as id_b,
       round(list_cosine_similarity(cast(a.embedding as double[]), cast(b.embedding as double[])), 4) as cosine
from embeddings a
join embeddings b on a.label = b.label and a.vec_id < b.vec_id
where round(list_cosine_similarity(cast(a.embedding as double[]), cast(b.embedding as double[])), 4) >= 0.35
"""


def q_ann_lsh(spark, sf_dir):
    """LSH-bucketed ANN (approximate by construction — rows-only)."""
    from drill_spark.ops.similarity import lsh_topk

    return lsh_topk(_embs(spark, sf_dir), query_ids=[0, 1, 2, 3, 4], k=3, nprobe=2)


def q_ann_ivf(spark, sf_dir):
    """IVF ANN: k-means coarse cells + nprobe search (rows-only)."""
    from drill_spark.ops.similarity import ivf_topk

    return ivf_topk(_embs(spark, sf_dir), query_ids=[0, 1, 2, 3, 4], k=3, n_cells=8, nprobe=3)


def q_cluster_sample(spark, sf_dir):
    """Cluster-balanced mixture sampling (ops/pipeline.py): k-means
    cells as stand-in domains, per-cell md5 gates (rows-only: the
    k-means sample is a bounded driver read, rate bounds pytest-held
    in test_cluster_balanced_sample)."""
    from drill_spark.ops.pipeline import cluster_balanced_sample

    return (cluster_balanced_sample(
                _embs(spark, sf_dir), n_clusters=4,
                per_cluster_rate={0: "40"}, default_threshold="80")
            .select("vec_id", "cell").orderBy("vec_id"))


# ---------------------------------------------------------------- text


def q_text_token_freq(spark, sf_dir):
    """Exact corpus-wide token frequency top-20 (two-phase hash agg;
    the shuffle carries one row per distinct token, not per token)."""
    from drill_spark.ops.dedup import tokens

    return (
        _docs(spark, sf_dir)
        .select(F.explode(tokens(F.col("text"))).alias("token"))
        .where(F.col("token") != "")
        .groupBy("token")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("token"))
        .limit(20)
    )


ORACLE_TOKEN_FREQ = r"""
select token, count(*) as n
from (select unnest(string_split_regex(trim(lower(text)), '\s+')) as token
      from documents)
where token <> ''
group by token
order by n desc, token asc
limit 20
"""


def q_text_topk_approx(spark, sf_dir):
    """Sketch-based frequent tokens (approx_top_k — single-pass,
    mergeable, fixed memory: the 100 TB path). Upgraded rows-only →
    hash-oracle (r13): the sketch tracks up to maxItemsTracked(=10^4)
    items EXACTLY, far above the fixture vocabulary, so its counts are
    exact here and the only nondeterminism — which of equal-count
    items the sketch surfaces at the k boundary (the fixture ties at
    rank 10/11) — is removed by over-fetching (k=64) and applying the
    deterministic (count desc, token asc) top-10 ourselves. The oracle
    is the exact top-10 under the same ordering; the approximate
    regime (vocab > 10^4) stays bounded by
    test_topk_sketch_matches_exact."""
    from drill_spark.ops.dedup import tokens

    toks = (
        _docs(spark, sf_dir)
        .select(F.explode(tokens(F.col("text"))).alias("token"))
        .where(F.col("token") != "")
    )
    return (
        toks.select(F.expr("approx_top_k(token, 64)").alias("top"))
        .select(F.explode("top").alias("e"))
        .select(F.col("e.item").alias("token"),
                F.col("e.count").alias("n"))
        .orderBy(F.desc("n"), F.asc("token"))
        .limit(10)
    )


ORACLE_TEXT_TOPK_APPROX = r"""
select token, count(*) as n
from (select unnest(string_split_regex(trim(lower(text)), '\s+')) as token
      from documents)
where token <> ''
group by token
order by n desc, token asc
limit 10
"""


def q_sample_hash(spark, sf_dir):
    """Deterministic ~1/16 corpus sample by content-addressed hash
    (md5 of the id) — the reproducible-pipeline sampling idiom: no RNG
    state, stable across engines/runs/partitionings, pushes down as an
    ordinary filter."""
    return (
        _docs(spark, sf_dir)
        .where(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) == "0")
        .select("doc_id", "lang", "n_chars")
    )


ORACLE_SAMPLE_HASH = """
select doc_id, lang, n_chars
from documents
where substring(md5(cast(doc_id as varchar)), 1, 1) = '0'
"""


def q_text_histogram(spark, sf_dir):
    """Document-length histogram via width_bucket (feature-distribution
    profiling; one scan + one tiny agg)."""
    return (
        _docs(spark, sf_dir)
        .select(F.expr("width_bucket(n_chars, 0, 2000, 10)").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("n_docs"))
    )


ORACLE_TEXT_HISTOGRAM = """
-- width_bucket emulated arithmetically (DuckDB has no width_bucket)
select cast(case when n_chars < 0 then 0
                 when n_chars >= 2000 then 11
                 else floor(n_chars / 200) + 1 end as bigint) as bucket,
       count(*) as n_docs
from documents
group by 1
"""


def q_text_stats(spark, sf_dir):
    from drill_spark.ops.text import subword_estimate, token_count

    return (
        _docs(spark, sf_dir)
        .select("lang", token_count(F.col("text")).alias("tok"), subword_estimate(F.col("text")).alias("sub"))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("tok").alias("total_tokens"),
            F.sum("sub").alias("total_subwords"),
            F.round(F.avg("tok"), 4).alias("avg_tokens"),
        )
    )


def q_text_tokens_bpe(spark, sf_dir):
    """BPE-style pretokenization count (the token-budget accounting a
    training pipeline runs before the actual tokenizer): runs of
    letters / digits / non-alphanumeric symbols, whitespace dropped —
    pure Catalyst regexp_extract_all, identical semantics in the
    DuckDB oracle."""
    pat = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+"
    return (
        _docs(spark, sf_dir)
        .select(
            "doc_id",
            F.size(F.regexp_extract_all(F.col("text"), F.lit(pat), F.lit(0))).alias("n_pretokens"),
            F.octet_length(F.col("text")).alias("n_bytes"),
        )
        .withColumn(
            "bytes_per_token",
            F.round(F.col("n_bytes") / F.greatest(F.col("n_pretokens"), F.lit(1)), 4),
        )
    )


ORACLE_TEXT_TOKENS_BPE = r"""
select doc_id,
       cast(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+')) as int) as n_pretokens,
       cast(strlen(text) as bigint) as n_bytes,
       round(strlen(text) / greatest(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+')), 1), 4) as bytes_per_token
from documents
"""


def q_dedup_ngram(spark, sf_dir):
    """Character-3-gram Jaccard near-dup pairs (order-sensitive where
    word-set Jaccard is not — catches shuffled-word near-dupes): the
    shingle sets build via a sequence/transform HOF (no Python), the
    pair scores via a shingle-key equi-join — never an all-pairs cross
    product, the same scale shape as the word-level kernel."""
    docs = (
        _docs(spark, sf_dir)
        .where(F.col("doc_id") < 60)
        .select("doc_id", F.trim(F.lower(F.col("text"))).alias("t"))
    )
    grams = (
        docs.select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.transform(
                        F.sequence(F.lit(1), F.greatest(F.length("t") - 2, F.lit(0))),
                        lambda i: F.col("t").substr(i, F.lit(3)),
                    )
                )
            ).alias("g"),
        )
        .where(F.length("g") == 3)
    )
    sizes = grams.groupBy("doc_id").agg(F.count("*").alias("sz"))
    a = grams.alias("a")
    b = grams.alias("b")
    inter = (
        a.join(b, (F.col("a.g") == F.col("b.g")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(F.count("*").alias("i"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    return (
        inter.join(sa, F.col("id_a") == F.col("sa.doc_id"))
        .join(sb, F.col("id_b") == F.col("sb.doc_id"))
        .select(
            "id_a", "id_b",
            F.round(F.col("i") / (F.col("sa.sz") + F.col("sb.sz") - F.col("i")), 4).alias("jaccard"),
        )
        .where(F.col("jaccard") >= 0.6)
    )


ORACLE_DEDUP_NGRAM = r"""
with g as (
  select distinct doc_id, g
  from (
    select doc_id,
           unnest(list_transform(range(1, greatest(len(t) - 2, 0) + 1), i -> substr(t, i, 3))) as g
    from (select doc_id, trim(lower(text)) as t from documents where doc_id < 60)
  )
  where len(g) = 3
),
sizes as (select doc_id, count(*) as sz from g group by 1),
inter as (
  select a.doc_id id_a, b.doc_id id_b, count(*) i
  from g a join g b on a.g = b.g and a.doc_id < b.doc_id
  group by 1, 2
)
select id_a, id_b, round(i * 1.0 / (sa.sz + sb.sz - i), 4) as jaccard
from inter
join sizes sa on sa.doc_id = id_a
join sizes sb on sb.doc_id = id_b
where round(i * 1.0 / (sa.sz + sb.sz - i), 4) >= 0.6
"""


def q_setsim_join(spark, sf_dir):
    """EXACT word-set Jaccard self-join: AllPairs/PPJoin prefix
    filtering under a rarest-first global token order, so only the
    rare ~(1-t) fraction of each doc's tokens generates candidates and
    hot tokens ('the') never reach the join. Candidate set is provably
    complete (prefix theorem), verify is JVM-side array_intersect —
    hence a hash oracle, where MinHash can only be rows-only. The doc
    cap bounds the OUTPUT, not the algorithm: the synthetic corpus is
    template-dense (7.7% of ALL pairs sit above J=0.9), so the true
    result is quadratic in the fixture by construction — real corpora
    are sparse and the prefix filter keeps candidates near the result
    size (test_setsim_prefix_filter_prunes)."""
    from drill_spark.ops.fuzzy import setsim_join

    docs = _docs(spark, sf_dir).where(F.col("doc_id") < 400)
    return setsim_join(docs, "doc_id", "text", threshold=0.7)


def q_containment_join(spark, sf_dir):
    """EXACT containment decontamination probe: which corpus docs
    contain >= 60% of a benchmark snippet's token set (|q∩d|/|q|) —
    the asymmetric primitive verbatim n-gram matching is too strict
    for and symmetric Jaccard mis-scores. Probe side = first-8-word
    snippets of docs 450..499 (a stand-in benchmark); corpus = docs
    below 450. Exact, so hash-oracle-backed."""
    from drill_spark.ops.fuzzy import containment_join

    docs = _docs(spark, sf_dir)
    probe = (docs.where(F.col("doc_id") >= 450)
             .where(F.col("doc_id") < 500)
             .select((F.col("doc_id") - 450).alias("qid"),
                     F.array_join(
                         F.slice(F.split(F.trim(F.lower("text")), r"\s+"), 1, 8),
                         " ").alias("qtext")))
    corpus = docs.where(F.col("doc_id") < 450)
    return containment_join(probe, corpus, "qid", "qtext",
                            "doc_id", "text", threshold=0.6)


ORACLE_CONTAINMENT_JOIN = r"""
with probe as (
  select doc_id - 450 as qid,
         array_to_string(string_split_regex(trim(lower(text)), '\s+')[1:8], ' ') as qtext
  from documents where doc_id >= 450 and doc_id < 500
),
qtok as (
  select distinct qid, tok
  from (select qid, unnest(string_split_regex(trim(lower(qtext)), '\s+')) as tok from probe)
  where tok <> ''
),
dtok as (
  select distinct doc_id, tok
  from (select doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) as tok
        from documents where doc_id < 450)
  where tok <> ''
),
qsz as (select qid, count(*) as nq from qtok group by 1),
dsz as (select doc_id, count(*) as nd from dtok group by 1),
inter as (
  select q.qid, d.doc_id, count(*) as i
  from qtok q join dtok d on q.tok = d.tok
  group by 1, 2
)
select i.qid, i.doc_id,
       round(i.i * 1.0 / qsz.nq, 4) as containment,
       round(i.i * 1.0 / (qsz.nq + dsz.nd - i.i), 4) as jaccard
from inter i
join qsz on qsz.qid = i.qid
join dsz on dsz.doc_id = i.doc_id
where i.i * 1.0 / qsz.nq >= 0.6
"""


def q_incremental_setsim(spark, sf_dir):
    """Cross-run EXACT set-similarity dedup vs a persistent postings
    store (ops/fuzzy.py::incremental_setsim): even-id docs commit as
    batch 0, odd-id docs dedup against batch 0's SURVIVORS as batch 1
    — returned rows are batch 1's survivors. Exact (no MinHash
    estimation), so the whole two-batch protocol takes a closed-form
    DuckDB oracle. Fresh store dir per invocation keeps the query a
    pure function of the fixtures; the candidate caps stay at their
    exact-by-default OFF setting (no truncation anywhere)."""
    import tempfile

    from drill_spark.ops.fuzzy import incremental_setsim

    docs = _docs(spark, sf_dir).where(F.col("doc_id") < 240)
    store = tempfile.mkdtemp(prefix="incsetsim_") + "/store"
    incremental_setsim(
        docs.where(F.col("doc_id") % 2 == 0), store, "doc_id", "text",
        threshold=0.8,
    ).count()  # materialize batch 0's store commit
    return incremental_setsim(
        docs.where(F.col("doc_id") % 2 == 1), store, "doc_id", "text",
        threshold=0.8,
    ).select("doc_id")


ORACLE_INCREMENTAL_SETSIM = r"""
with d as (select doc_id, trim(lower(text)) as t from documents
           where doc_id < 240),
tok as (
  select distinct doc_id, tok
  from (select doc_id, unnest(string_split_regex(t, '\s+')) as tok from d)
  where tok <> ''
),
sz as (select doc_id, count(*) as sz from tok group by 1),
jac as (
  select a.doc_id as id_a, b.doc_id as id_b,
         count(*) * 1.0 / (sa.sz + sb.sz - count(*)) as j
  from tok a
  join tok b on a.tok = b.tok and a.doc_id < b.doc_id
  join sz sa on sa.doc_id = a.doc_id
  join sz sb on sb.doc_id = b.doc_id
  group by a.doc_id, b.doc_id, sa.sz, sb.sz
),
even_surv as (
  select doc_id from sz where doc_id % 2 = 0
    and doc_id not in (select id_b from jac
                       where id_a % 2 = 0 and id_b % 2 = 0 and j >= 0.8)
),
odd_within as (
  select doc_id from sz where doc_id % 2 = 1
    and doc_id not in (select id_b from jac
                       where id_a % 2 = 1 and id_b % 2 = 1 and j >= 0.8)
)
select o.doc_id
from odd_within o
where not exists (
  select 1 from jac, even_surv e
  where j >= 0.8
    and ((id_a = o.doc_id and id_b = e.doc_id)
         or (id_b = o.doc_id and id_a = e.doc_id)))
"""


def q_setsim_tables(spark, sf_dir):
    """Cross-TABLE exact set-similarity (the fuzzy sibling of
    snapshot_diff): which docs of the 200..399 slice are word-set
    near-duplicates (J >= 0.8) of something in the 0..199 slice —
    one shared rarest-first token order over the UNION of both
    streams, cross-side prefix candidates only. Exact, so
    hash-oracle-backed."""
    from drill_spark.ops.fuzzy import setsim_join_tables

    docs = _docs(spark, sf_dir)
    old = docs.where(F.col("doc_id") < 200).select(
        F.col("doc_id").alias("id_a"), F.col("text").alias("text_a"))
    new = (docs.where((F.col("doc_id") >= 200) & (F.col("doc_id") < 400))
           .select(F.col("doc_id").alias("id_b"),
                   F.col("text").alias("text_b")))
    return setsim_join_tables(old, new, threshold=0.8)


ORACLE_SETSIM_TABLES = r"""
with ta as (
  select distinct doc_id, tok
  from (select doc_id,
               unnest(string_split_regex(trim(lower(text)), '\s+')) as tok
        from documents where doc_id < 200)
  where tok <> ''
),
tb as (
  select distinct doc_id, tok
  from (select doc_id,
               unnest(string_split_regex(trim(lower(text)), '\s+')) as tok
        from documents where doc_id >= 200 and doc_id < 400)
  where tok <> ''
),
sza as (select doc_id, count(*) as sz from ta group by 1),
szb as (select doc_id, count(*) as sz from tb group by 1),
inter as (
  select a.doc_id as id_a, b.doc_id as id_b, count(*) as i
  from ta a join tb b on a.tok = b.tok
  group by 1, 2
)
select id_a, id_b,
       round(i * 1.0 / (sza.sz + szb.sz - i), 4) as jaccard
from inter
join sza on sza.doc_id = id_a
join szb on szb.doc_id = id_b
where i * 1.0 / (sza.sz + szb.sz - i) >= 0.8
"""


def q_substr_dedup(spark, sf_dir):
    """ExactSubstr dedup (ops/substr.py, Lee et al. 2022): remove every
    token covered by an 8-token window whose span text also occurs
    verbatim in a smaller doc_id, keeping the canonical copy intact —
    the published-standard training-data dedup primitive (exact
    substring removal, not doc-level scoring). Fully deterministic, so
    the whole operator — tokenize, rolling windows, keep-lowest-doc
    removal, text reconstruction — hash-checks against the closed-form
    DuckDB replay."""
    from drill_spark.ops.substr import substr_dedup

    return substr_dedup(_docs(spark, sf_dir), min_tokens=8)


def q_substr_dedup_digest(spark, sf_dir):
    """The 100 TB detection path of ExactSubstr (ops/substr.py,
    detect='digest'): duplicate detection and canonicalization key on
    the 128-bit span md5 so span STRINGS never cross an exchange —
    only (id, p, digest) shuffles, with no broadcast precondition on
    the duplicate-hash set. Output is identical to exact mode (md5
    collisions are ~2^-64 at 10^13 spans), so it hash-checks against
    the SAME closed-form oracle."""
    from drill_spark.ops.substr import substr_dedup

    return substr_dedup(_docs(spark, sf_dir), min_tokens=8,
                        detect="digest")


ORACLE_SUBSTR_DEDUP = r"""
with d2 as (
  select doc_id, toks, len(toks) as n
  from (select doc_id,
               list_filter(string_split_regex(trim(lower(text)), '\s+'),
                           x -> x <> '') as toks
        from documents)
  where len(toks) > 0
),
w as (
  select doc_id, unnest(list_transform(range(1, greatest(n - 8, -1) + 2),
         i -> struct_pack(p := i,
                          span := array_to_string(toks[i:i+7], ' ')))) as s
  from d2
),
wf as (select doc_id, s.p as p, s.span as span from w),
md as (select span, min(doc_id) as min_id from wf group by 1),
rem as (select wf.doc_id, wf.p from wf join md using (span)
        where wf.doc_id > md.min_id),
cov as (select distinct doc_id, unnest(range(p, p + 8)) as p from rem),
tokp as (select doc_id, unnest(toks) as tok,
                unnest(range(1, n + 1)) as p from d2),
keptagg as (
  select t.doc_id,
         array_to_string(list(t.tok order by t.p), ' ') as clean_text,
         count(*) as n_kept
  from tokp t
  where not exists (select 1 from cov c
                    where c.doc_id = t.doc_id and c.p = t.p)
  group by 1
)
select d2.doc_id,
       cast(d2.n as bigint) as n_tokens,
       cast(d2.n - coalesce(k.n_kept, 0) as bigint) as n_removed,
       coalesce(k.clean_text, '') as clean_text
from d2 left join keptagg k using (doc_id)
"""


def q_substr_spans(spark, sf_dir):
    """ExactSubstr audit face (ops/substr.py::substr_duplicate_spans):
    maximal cross-document duplicated token regions per doc — the
    report that tells a curator WHERE the verbatim overlap lives
    before committing to removal. Gaps-and-islands over covered
    positions; exact and hash-oracle-backed."""
    from drill_spark.ops.substr import substr_duplicate_spans

    # detect="digest" — identical rows (A/B'd: 0-row exceptAll diff at
    # sf0.1), but span strings never shuffle and one aggregate+semi-join
    # replaces two: the 100 TB path, ~25% faster here too.
    return substr_duplicate_spans(_docs(spark, sf_dir), min_tokens=8,
                                  detect="digest")


ORACLE_SUBSTR_SPANS = r"""
with d2 as (
  select doc_id, toks, len(toks) as n
  from (select doc_id,
               list_filter(string_split_regex(trim(lower(text)), '\s+'),
                           x -> x <> '') as toks
        from documents)
  where len(toks) > 0
),
w as (
  select doc_id, unnest(list_transform(range(1, greatest(n - 8, -1) + 2),
         i -> struct_pack(p := i,
                          span := array_to_string(toks[i:i+7], ' ')))) as s
  from d2
),
wf as (select doc_id, s.p as p, s.span as span from w),
cross_dup as (select span from wf group by span
              having count(distinct doc_id) >= 2),
dupwin as (select wf.doc_id, wf.p from wf
           where wf.span in (select span from cross_dup)),
cov as (select distinct doc_id, unnest(range(p, p + 8)) as p from dupwin),
isl as (
  select doc_id, p,
         p - row_number() over (partition by doc_id order by p) as grp
  from cov
)
select doc_id, min(p) as start_tok, max(p) as end_tok,
       cast(count(*) as bigint) as n_tokens
from isl
group by doc_id, grp
"""


def q_substr_decontam(spark, sf_dir):
    """Verbatim benchmark decontamination (ops/substr.py::
    substr_decontaminate — the EXACT-match half of the
    decontamination story, removal rather than flagging): first-12-
    word snippets of docs 450..499 play the benchmark; every corpus
    token (docs < 400) covered by a 6-token window that appears
    verbatim in a snippet is removed and the text reconstructed.
    Deterministic end to end → hash-oracle-backed."""
    from drill_spark.ops.substr import substr_decontaminate

    docs = _docs(spark, sf_dir)
    bench = (docs.where((F.col("doc_id") >= 450) & (F.col("doc_id") < 500))
             .select((F.col("doc_id") - 450).alias("bench_id"),
                     F.array_join(
                         F.slice(F.split(F.trim(F.lower("text")), r"\s+"),
                                 1, 12), " ").alias("text")))
    corpus = docs.where(F.col("doc_id") < 400)
    return substr_decontaminate(corpus, bench, min_tokens=6)


ORACLE_SUBSTR_DECONTAM = r"""
with d2 as (
  select doc_id, toks, len(toks) as n
  from (select doc_id,
               list_filter(string_split_regex(trim(lower(text)), '\s+'),
                           x -> x <> '') as toks
        from documents where doc_id < 400)
  where len(toks) > 0
),
bsnip as (
  select list_filter(string_split_regex(trim(lower(text)), '\s+'),
                     x -> x <> '')[1:12] as toks
  from documents where doc_id >= 450 and doc_id < 500
),
bspan as (
  select distinct array_to_string(toks[i:i+5], ' ') as span
  from (select toks, len(toks) as n from bsnip where len(toks) >= 6),
       unnest(range(1, n - 6 + 2)) as t(i)
),
w as (
  select doc_id, unnest(list_transform(range(1, greatest(n - 6, -1) + 2),
         i -> struct_pack(p := i,
                          span := array_to_string(toks[i:i+5], ' ')))) as s
  from d2
),
wf as (select doc_id, s.p as p, s.span as span from w),
rem as (select wf.doc_id, wf.p from wf
        where wf.span in (select span from bspan)),
cov as (select distinct doc_id, unnest(range(p, p + 6)) as p from rem),
tokp as (select doc_id, unnest(toks) as tok,
                unnest(range(1, n + 1)) as p from d2),
keptagg as (
  select t.doc_id,
         array_to_string(list(t.tok order by t.p), ' ') as clean_text,
         count(*) as n_kept
  from tokp t
  where not exists (select 1 from cov c
                    where c.doc_id = t.doc_id and c.p = t.p)
  group by 1
)
select d2.doc_id,
       cast(d2.n as bigint) as n_tokens,
       cast(d2.n - coalesce(k.n_kept, 0) as bigint) as n_removed,
       coalesce(k.clean_text, '') as clean_text
from d2 left join keptagg k using (doc_id)
"""


def q_substr_contam_report(spark, sf_dir):
    """Contamination audit report (ops/substr.py::
    substr_contamination_report): which benchmark snippet leaked
    verbatim into which corpus document — one row per contaminated
    (bench, doc) pair with shared-window and covered-token counts,
    the run-before-you-scrub view of ext_substr_decontam. Exact and
    hash-oracle-backed."""
    from drill_spark.ops.substr import substr_contamination_report

    docs = _docs(spark, sf_dir)
    bench = (docs.where((F.col("doc_id") >= 450) & (F.col("doc_id") < 500))
             .select((F.col("doc_id") - 450).alias("bench_id"),
                     F.array_join(
                         F.slice(F.split(F.trim(F.lower("text")), r"\s+"),
                                 1, 12), " ").alias("text")))
    corpus = docs.where(F.col("doc_id") < 400)
    return substr_contamination_report(bench, corpus, min_tokens=4)


ORACLE_SUBSTR_CONTAM_REPORT = r"""
with d2 as (
  select doc_id, toks, len(toks) as n
  from (select doc_id,
               list_filter(string_split_regex(trim(lower(text)), '\s+'),
                           x -> x <> '') as toks
        from documents where doc_id < 400)
  where len(toks) > 0
),
bsnip as (
  select doc_id - 450 as bench_id,
         list_filter(string_split_regex(trim(lower(text)), '\s+'),
                     x -> x <> '')[1:12] as toks
  from documents where doc_id >= 450 and doc_id < 500
),
bspan as (
  select distinct bench_id, array_to_string(toks[i:i+3], ' ') as span
  from (select bench_id, toks, len(toks) as n from bsnip
        where len(toks) >= 4),
       unnest(range(1, n - 4 + 2)) as t(i)
),
w as (
  select doc_id, unnest(list_transform(range(1, greatest(n - 4, -1) + 2),
         i -> struct_pack(p := i,
                          span := array_to_string(toks[i:i+3], ' ')))) as s
  from d2
),
wf as (select doc_id, s.p as p, s.span as span from w),
hits as (select b.bench_id, wf.doc_id, wf.p
         from wf join bspan b using (span)),
pairs as (select bench_id, doc_id, count(*) as n_shared_windows
          from hits group by 1, 2),
cov as (
  select bench_id, doc_id, count(*) as n_covered_tokens
  from (select distinct bench_id, doc_id, unnest(range(p, p + 4)) as q
        from hits)
  group by 1, 2
)
select p.bench_id, p.doc_id,
       cast(p.n_shared_windows as bigint) as n_shared_windows,
       cast(c.n_covered_tokens as bigint) as n_covered_tokens
from pairs p join cov c using (bench_id, doc_id)
"""


def q_incremental_substr(spark, sf_dir):
    """Cross-run ExactSubstr dedup vs a persistent span-digest store
    (ops/substr.py::incremental_substr_dedup): even-id docs (< 240)
    commit as batch 0, odd-id docs clean as batch 1 — every odd-doc
    token covered by an 8-token window seen in ANY even doc (the
    store) or in a lower odd doc (within-batch keep-lowest) is
    removed. Returns batch 1's cleaned rows; the whole two-batch
    protocol replays closed-form in DuckDB. Fresh store per
    invocation keeps the query a pure function of the fixtures."""
    import tempfile

    from drill_spark.ops.substr import incremental_substr_dedup

    docs = _docs(spark, sf_dir).where(F.col("doc_id") < 240)
    store = tempfile.mkdtemp(prefix="incsubstr_") + "/store"
    incremental_substr_dedup(
        docs.where(F.col("doc_id") % 2 == 0), store, min_tokens=8,
    ).count()  # materialize batch 0's store commit
    return incremental_substr_dedup(
        docs.where(F.col("doc_id") % 2 == 1), store, min_tokens=8)


ORACLE_INCREMENTAL_SUBSTR = r"""
with d2 as (
  select doc_id, toks, len(toks) as n
  from (select doc_id,
               list_filter(string_split_regex(trim(lower(text)), '\s+'),
                           x -> x <> '') as toks
        from documents where doc_id < 240)
  where len(toks) > 0
),
w as (
  select doc_id, unnest(list_transform(range(1, greatest(n - 8, -1) + 2),
         i -> struct_pack(p := i,
                          span := array_to_string(toks[i:i+7], ' ')))) as s
  from d2
),
wf as (select doc_id, s.p as p, s.span as span from w),
evenspan as (select distinct span from wf where doc_id % 2 = 0),
oddw as (select * from wf where doc_id % 2 = 1),
md as (select span, min(doc_id) as min_id from oddw group by 1),
rem as (
  select o.doc_id, o.p from oddw o join md using (span)
  where o.doc_id > md.min_id
  union
  select o.doc_id, o.p from oddw o
  where o.span in (select span from evenspan)
),
cov as (select distinct doc_id, unnest(range(p, p + 8)) as p from rem),
odd2 as (select * from d2 where doc_id % 2 = 1),
tokp as (select doc_id, unnest(toks) as tok,
                unnest(range(1, n + 1)) as p from odd2),
keptagg as (
  select t.doc_id,
         array_to_string(list(t.tok order by t.p), ' ') as clean_text,
         count(*) as n_kept
  from tokp t
  where not exists (select 1 from cov c
                    where c.doc_id = t.doc_id and c.p = t.p)
  group by 1
)
select odd2.doc_id,
       cast(odd2.n as bigint) as n_tokens,
       cast(odd2.n - coalesce(k.n_kept, 0) as bigint) as n_removed,
       coalesce(k.clean_text, '') as clean_text
from odd2 left join keptagg k using (doc_id)
"""


ORACLE_SETSIM_JOIN = r"""
with d as (select doc_id, trim(lower(text)) as t from documents
           where doc_id < 400),
tok as (
  select distinct doc_id, tok
  from (select doc_id, unnest(string_split_regex(t, '\s+')) as tok from d)
  where tok <> ''
),
sz as (select doc_id, count(*) as sz from tok group by 1),
inter as (
  select a.doc_id as id_a, b.doc_id as id_b, count(*) as i
  from tok a join tok b on a.tok = b.tok and a.doc_id < b.doc_id
  group by 1, 2
)
select id_a, id_b, round(i * 1.0 / (sa.sz + sb.sz - i), 4) as jaccard
from inter
join sz sa on sa.doc_id = id_a
join sz sb on sb.doc_id = id_b
where i * 1.0 / (sa.sz + sb.sz - i) >= 0.7
"""


ORACLE_TEXT_STATS = r"""
with t as (
  select lang,
         len(string_split_regex(trim(lower(text)), '\s+')) as tok,
         cast(ceil(length(trim(text)) / 4.0) as bigint) as sub
  from documents
)
select lang, count(*) as n_docs,
       cast(sum(tok) as bigint) as total_tokens,
       cast(sum(sub) as bigint) as total_subwords,
       round(avg(tok), 4) as avg_tokens
from t
group by lang
"""


def q_text_quality(spark, sf_dir):
    from drill_spark.ops.text import quality_features

    return (
        quality_features(_docs(spark, sf_dir))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("n_words"), 4).alias("avg_words"),
            F.round(F.avg("avg_word_len"), 4).alias("avg_wlen"),
            F.round(F.avg("quality_score"), 4).alias("avg_quality"),
        )
    )


ORACLE_TEXT_QUALITY = r"""
with feats as (
  select source,
         len(string_split_regex(trim(lower(text)), '\s+')) as n_words,
         round(length(text) * 1.0 / greatest(len(string_split_regex(trim(lower(text)), '\s+')), 1), 4) as avg_word_len,
         len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
             t -> t in ('the','and','of','to','a','in','is','it'))) as stopword_hits
  from documents
),
scored as (
  select source, n_words, avg_word_len,
         round(least(1.0, n_words / 50.0) * 0.5
               + case when avg_word_len between 3 and 10 then 0.3 else 0.0 end
               + least(0.2, stopword_hits / 10.0 * 0.2), 4) as quality_score
  from feats
)
select source, count(*) as n_docs,
       round(avg(n_words), 4) as avg_words,
       round(avg(avg_word_len), 4) as avg_wlen,
       round(avg(quality_score), 4) as avg_quality
from scored
group by source
"""


def q_text_langid(spark, sf_dir):
    from drill_spark.ops.text import lang_id

    return (
        _docs(spark, sf_dir)
        .select(lang_id(F.col("text")).alias("pred_lang"))
        .groupBy("pred_lang")
        .agg(F.count("*").alias("n"))
    )


ORACLE_TEXT_LANGID = r"""
with h as (
  select
    len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
        t -> t in ('the','and','of','to','a','in','is','it'))) as en,
    len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
        t -> t in ('der','die','das','und','ist','nicht','ein'))) as de,
    len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
        t -> t in ('le','la','les','et','est','une','dans'))) as fr,
    len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
        t -> t in ('el','la','los','y','es','una','que'))) as es
  from documents
)
select case
         when greatest(en, de, fr, es) = 0 then 'und'
         when en = greatest(en, de, fr, es) then 'en'
         when de = greatest(en, de, fr, es) then 'de'
         when fr = greatest(en, de, fr, es) then 'fr'
         else 'es'
       end as pred_lang,
       count(*) as n
from h
group by 1
"""


def q_text_fingerprint(spark, sf_dir):
    from drill_spark.ops.text import fingerprint

    return fingerprint(_docs(spark, sf_dir).where(F.col("doc_id") < 50))


ORACLE_TEXT_FINGERPRINT = r"""
select doc_id, md5(regexp_replace(lower(text), '\s+', ' ', 'g')) as fp
from documents
where doc_id < 50
"""


def q_lang_id(spark, sf_dir):
    """Cavnar-Trenkle n-gram-profile language identification
    (ops/langid.py::classify_lang) as a confusion matrix against the
    fixture's labeled lang column: per-row top-K char-gram profile vs
    six fixed literal language profiles, out-of-place rank distance,
    argmin. Zero corpus shuffles — the only exchange is the bounded
    (pred_lang, lang) aggregate. The oracle replays the identical
    integer rank arithmetic over the same literal profiles."""
    from drill_spark.ops.langid import classify_lang

    return (
        classify_lang(_docs(spark, sf_dir))
        .groupBy("pred_lang", "lang")
        .agg(F.count("*").alias("n_docs"))
    )


def _lang_pred_sql() -> str:
    """Shared oracle fragment: per-document Cavnar-Trenkle prediction.
    Yields CTEs ending in ``lid_pred (doc_id, pred_lang)``; the fixed
    profiles are injected as a VALUES table (pure function of the
    embedded seed texts in ops/langid.py)."""
    from drill_spark.ops.langid import LANGS, TOP_K, profile_values_sql

    langs_vals = ", ".join(f"('{lang}')" for lang in LANGS)
    return f"""
lid_norm as (
  select doc_id,
         ' ' || trim(regexp_replace(lower(text), '[^a-z]+', ' ', 'g'))
             || ' ' as t
  from documents
),
lid_grams as (
  select doc_id, substring(t, s.i, n.n) as g
  from lid_norm
  cross join (values (1), (2), (3)) as n(n)
  cross join lateral (
    select unnest(range(1, greatest(len(t) - n.n + 2, 1))) as i) as s
  where trim(substring(t, s.i, n.n)) <> ''
),
lid_counts as (select doc_id, g, count(*) as c from lid_grams group by all),
lid_ranked as (
  select *, row_number() over (partition by doc_id
                               order by c desc, g asc) - 1 as r
  from lid_counts
),
lid_top as (select * from lid_ranked where r < {TOP_K}),
lid_prof(plang, g, pr) as (values {profile_values_sql()}),
lid_cand(plang) as (values {langs_vals}),
lid_dist as (
  select t.doc_id, c.plang,
         sum(abs(coalesce(p.pr, {TOP_K}) - t.r)) as d
  from lid_top t
  cross join lid_cand c
  left join lid_prof p on p.plang = c.plang and p.g = t.g
  group by all
),
lid_best as (
  select doc_id, plang,
         row_number() over (partition by doc_id order by d, plang) as rn
  from lid_dist
),
lid_pred as (
  select d.doc_id, coalesce(b.plang, 'und') as pred_lang
  from documents d
  left join (select * from lid_best where rn = 1) b using (doc_id)
)"""


def _oracle_lang_id() -> str:
    return f"""
with {_lang_pred_sql()}
select p.pred_lang, d.lang, count(*) as n_docs
from lid_pred p join documents d using (doc_id)
group by all
"""


def q_lang_mixture(spark, sf_dir):
    """Per-LANGUAGE training mixture: classify every document with the
    n-gram LID, then compose a token-budget mix with per-language
    target shares (the way real pretraining mixes are specified —
    language gates feed the mixture, not a trusted metadata column).
    Classification is per-row; the mixture adds ONE map-combined
    token-sum over the bounded language key space. Languages outside
    the weight table are dropped (exactly build_mixture's contract)."""
    from drill_spark.ops.langid import classify_lang
    from drill_spark.ops.pipeline import build_mixture

    # build_mixture stages its narrow (id, source, n_tokens) input
    # behind one hash exchange internally (r13: shared by every
    # mixture caller), so the per-row LID runs exactly once and the
    # shuffled rows are (id, lang, n_tokens), never the text — no
    # extra repartition needed here.
    toks = F.size(F.filter(
        F.split(F.trim(F.lower(F.col("text"))), r"\s+"),
        lambda w: w != ""))
    narrow = (
        classify_lang(_docs(spark, sf_dir))
        .select("doc_id", "pred_lang", toks.alias("__ntok"))
    )
    return build_mixture(
        narrow, "pred_lang", "doc_id", "text",
        {"en": 0.45, "de": 0.25, "es": 0.15, "it": 0.15},
        token_budget=100_000,
        tokens=F.col("__ntok"),
    )


def _oracle_lang_mixture() -> str:
    return f"""
with {_lang_pred_sql()},
toks as (
  select d.doc_id, p.pred_lang,
         cast(len(list_filter(string_split_regex(trim(lower(d.text)),
                                                 '\\s+'),
                              w -> w <> '')) as bigint) as n_tokens
  from documents d join lid_pred p using (doc_id)
),
w(pred_lang, __w) as (values ('en', 0.45), ('de', 0.25),
                             ('es', 0.15), ('it', 0.15)),
avail as (select pred_lang, cast(sum(n_tokens) as double) as __avail
          from toks group by 1),
rates as (
  select a.pred_lang,
         cast(floor(__w * 100000.0 / __avail) as bigint) as __epochs,
         cast(floor(((__w * 100000.0 / __avail)
                     - floor(__w * 100000.0 / __avail))
              * 16777216.0) as bigint) as __gate
  from avail a join w using (pred_lang)
),
gated as (
  select t.doc_id, t.pred_lang, t.n_tokens,
         r.__epochs + case when cast('0x' ||
             substring(md5(cast(t.doc_id as varchar)), 1, 6) as bigint)
             < r.__gate then 1 else 0 end as total
  from toks t join rates r using (pred_lang)
)
select doc_id, pred_lang,
       cast(unnest(range(1, cast(total as int) + 1)) as int) as epoch,
       n_tokens
from gated where total >= 1
"""




def q_source_diversity(spark, sf_dir):
    """Across-document n-gram diversity per source (ops/text.py::
    source_diversity): distinct/total/singleton trigram counts and
    ratios — the mode-collapse / template-farm detector that
    complements the WITHIN-doc Gopher repetition table. One
    fixed-width (source, gram-hash) partial aggregate + a bounded
    per-source rollup; the oracle reproduces the md5 gram keys and
    the floor-6 ratios exactly."""
    from drill_spark.ops.text import source_diversity

    return source_diversity(_docs(spark, sf_dir), "source")


ORACLE_SOURCE_DIVERSITY = r"""
with docw as (
  select source,
         list_filter(string_split_regex(trim(lower(text)), '\s+'),
                     w -> w <> '') as ws
  from documents
),
grams as (
  select source,
         substring(md5(array_to_string(list_slice(ws, s.i, s.i + 2),
                                       ' ')), 1, 16) as g
  from docw
  cross join lateral (
    select unnest(range(1, greatest(len(ws) - 2, 0) + 1)) as i) s
),
counts as (select source, g, count(*) as c from grams group by all)
select source, cast(count(*) as bigint) as distinct_ngrams,
       cast(sum(c) as bigint) as total_ngrams,
       cast(sum(case when c = 1 then 1 else 0 end) as bigint)
         as singleton_ngrams,
       floor(cast(count(*) as double) * 1000000 / sum(c)) / 1000000
         as distinct_ratio,
       floor(cast(sum(case when c = 1 then 1 else 0 end) as double)
             * 1000000 / sum(c)) / 1000000 as singleton_ratio
from counts group by source
"""


def q_readability(spark, sf_dir):
    """Flesch reading-ease + Flesch-Kincaid grade per document
    (ops/text.py::readability) — exact integer word/sentence/syllable
    counts, fixed-shape double score expressions floored to 4
    decimals, NULL for wordless docs. Zero shuffles."""
    from drill_spark.ops.text import readability

    return readability(_docs(spark, sf_dir))


ORACLE_READABILITY = r"""
with w as (
  select doc_id, text, lower(text) as lt,
         list_filter(string_split_regex(trim(lower(text)), '\s+'),
                     x -> x <> '') as ws
  from documents
),
c as (
  select doc_id,
         cast(len(ws) as bigint) as n_words,
         cast(greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
              as bigint) as n_sentences,
         cast(len(regexp_extract_all(lt, '[aeiouy]+'))
              + len(list_filter(ws,
                                x -> not regexp_matches(x, '[aeiouy]')))
              as bigint) as n_syllables
  from w
)
select doc_id, n_words, n_sentences, n_syllables,
       case when n_words > 0 then
         floor((cast(206.835 as double)
                - cast(1.015 as double)
                  * (cast(n_words as double) / n_sentences)
                - cast(84.6 as double)
                  * (cast(n_syllables as double) / n_words)) * 10000)
           / 10000 end as reading_ease,
       case when n_words > 0 then
         floor((cast(0.39 as double)
                  * (cast(n_words as double) / n_sentences)
                + cast(11.8 as double)
                  * (cast(n_syllables as double) / n_words)
                - cast(15.59 as double)) * 10000) / 10000 end as fk_grade
from c
"""


def q_token_fertility(spark, sf_dir):
    """Tokenizer fertility by PREDICTED language (ops/bpe.py::
    token_fertility over ops/langid.py::classify_lang): subwords per
    word and bytes per token under the fixed BPE vocabulary, the
    XLM-R-style tokenizer-fairness table. The BPE count is one
    Arrow-batched pass; the LID is per-row bound-lambda Catalyst; the
    aggregate is one map-combined groupBy over the bounded language
    space. The oracle replays the BPE merge loop per distinct word
    (recursive CTE), the rank-order LID, and the floor-6 ratios."""
    from drill_spark.ops.bpe import token_fertility
    from drill_spark.ops.langid import classify_lang

    return token_fertility(classify_lang(_docs(spark, sf_dir)),
                           "pred_lang")


def _oracle_token_fertility() -> str:
    return "with recursive " + _bpe_wtok_sql() + ", " + _lang_pred_sql() + r""",
fert_base as (
  select dw.doc_id, p.pred_lang, len(dw.ws) as n_words, dt.n_tokens,
         octet_length(encode(d.text)) as n_bytes
  from doc_words dw
  join doc_tok dt using (doc_id)
  join lid_pred p using (doc_id)
  join documents d using (doc_id)
)
select pred_lang, cast(count(*) as bigint) as n_docs,
       cast(sum(n_words) as bigint) as n_words,
       cast(sum(n_tokens) as bigint) as n_tokens,
       cast(sum(n_bytes) as bigint) as n_bytes,
       case when sum(n_words) > 0 then
         floor(cast(sum(n_tokens) as double) * 1000000 / sum(n_words))
           / 1000000 end as fertility,
       case when sum(n_tokens) > 0 then
         floor(cast(sum(n_bytes) as double) * 1000000 / sum(n_tokens))
           / 1000000 end as bytes_per_token
from fert_base group by pred_lang
"""




def q_encoding_qa(spark, sf_dir):
    """Encoding QA + mojibake repair (ops/text.py::encoding_qa): odd
    doc_ids get their text double-encoded in-plan (every 'a' becomes
    the Latin-1 reading of UTF-8 'a-acute'), the operator must count
    the mojibake pairs and round-trip them back through
    Latin-1->UTF-8, leaving even docs byte-identical. The oracle
    rebuilds both the planted input and the expected repaired text
    closed-form, so the hash covers the full output strings."""
    from drill_spark.ops.text import encoding_qa

    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 2 == 1,
            F.replace(F.col("text"), F.lit("a"), F.lit("\u00c3\u00a1")),
        ).otherwise(F.col("text")).alias("text"),
    )
    return encoding_qa(docs)


def _oracle_encoding_qa() -> str:
    moj = chr(0xC3) + chr(0xA1)        # 'a-acute' read as Latin-1
    fixed = chr(0xE1)                  # real 'a-acute'
    return f"""
with planted as (
  select doc_id, text as orig,
         case when doc_id % 2 = 1
              then replace(text, 'a', '{moj}') else text end as t
  from documents
),
counted as (
  select doc_id, orig, t,
         cast(len(regexp_extract_all(
           t, '[\\x{{C2}}-\\x{{EF}}][\\x{{80}}-\\x{{BF}}]'))
           as bigint) as n_mojibake
  from planted
)
select doc_id, n_mojibake,
       cast(len(regexp_extract_all(t, '{chr(0xFFFD)}')) as bigint)
         as n_replacement,
       cast(len(regexp_extract_all(
         t, '[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f]')) as bigint)
         as n_control,
       n_mojibake > 0 as repaired,
       case when n_mojibake > 0
            then replace(orig, 'a', '{fixed}') else t end as fixed_text
from counted
"""


# ------------------------------------------------------------ multimodal


def q_multimodal_meta(spark, sf_dir):
    from drill_spark.ops.multimodal import attach_payload

    return attach_payload(_docs(spark, sf_dir)).select(
        "doc_id", F.col("meta.kind").alias("kind"), F.col("meta.n_bytes").alias("n_bytes")
    )


ORACLE_MULTIMODAL_META = """
select doc_id, 'text/plain' as kind, octet_length(encode(text)) as n_bytes
from documents
"""


def q_multimodal_features(spark, sf_dir):
    """mapInPandas feature extraction over binary payloads. Upgraded
    rows-only → hash-oracle (r13): the deterministic stub kernel is
    exact integer arithmetic (mean of the first 1024 payload bytes,
    then /255.0 — two IEEE divisions of exact integers), and the
    payload is the UTF-8 encoding of the fixture text, so DuckDB can
    replay the whole thing byte-for-byte from the parquet. The oracle
    now checks the ENTIRE Arrow mapInPandas plumbing (batching,
    struct metadata access, schema) end-to-end; only the decode
    KERNEL remains a stand-in for a real codec (the pluggable-decoder
    seam, test_extract_features_pluggable_decoder)."""
    from drill_spark.ops.multimodal import attach_payload, extract_features

    return extract_features(attach_payload(_docs(spark, sf_dir).where(F.col("doc_id") < 100)))


# feat_mean replay: sum of the first min(1024, len) UTF-8 bytes over
# max(n, 1), then / 255.0 — same division order as the kernel so the
# doubles are bit-identical; the kernel's round-to-6 equals the
# comparator's float normalization, so the oracle emits the raw
# value. DuckDB's substring cannot index a BLOB, so bytes come from
# unicode() over chars — byte-exact because the doc_id < 100 slice is
# pure ASCII (max codepoint 121, verified); octet_length(encode())
# still measures true UTF-8 bytes for n_bytes.
ORACLE_MULTIMODAL_FEATURES = """
with b as (
  select doc_id, text, octet_length(encode(text)) as nb
  from documents where doc_id < 100
),
bytes as (
  select doc_id, unicode(substring(text, s.i, 1)) as v
  from b
  cross join lateral (
    select unnest(range(1, least(len(text), 1024) + 1)) as i) s
),
agg as (select doc_id, sum(v) as sm, count(*) as n from bytes group by 1)
select b.doc_id, 'text/plain' as kind,
       cast(b.nb as bigint) as n_bytes,
       cast(coalesce(a.sm, 0) as double)
         / greatest(coalesce(a.n, 0), 1) / 255.0 as feat_mean,
       cast(8 as int) as feat_dim
from b left join agg a using (doc_id)
"""


def q_multimodal_probe(spark, sf_dir):
    """Image header probe over real binary payloads, oracle-checked.

    Payload synthesis is pure Catalyst (no Python): even doc_ids get a
    genuine PNG signature+IHDR whose width/height derive from doc_id
    (big-endian ints via hex/lpad/unhex), odd doc_ids get text bytes
    prefixed with a space (which can match no image magic). The probe
    kernel (mapInPandas header parse, reference contrib/format-image
    metadata tier) must then recover exactly the closed-form answer the
    DuckDB oracle computes without parsing anything."""
    from drill_spark.ops.multimodal import probe_images

    def be4(c):
        return F.unhex(F.lpad(F.hex(c), 8, "0"))

    docs = (
        _docs(spark, sf_dir)
        .where(F.col("doc_id") < 200)
        .withColumn("w", (F.lit(16) + F.col("doc_id") % 64).cast("int"))
        .withColumn("h", (F.lit(16) + F.col("doc_id") % 48).cast("int"))
    )
    png = F.concat(
        F.lit(b"\x89PNG\r\n\x1a\n"),
        F.lit(b"\x00\x00\x00\x0dIHDR"),
        be4(F.col("w")),
        be4(F.col("h")),
    )
    payloads = docs.withColumn(
        "payload",
        F.when(F.col("doc_id") % 2 == 0, png).otherwise(
            F.concat(F.lit(b" "), F.encode(F.col("text"), "UTF-8"))
        ),
    )
    return probe_images(payloads)


ORACLE_MULTIMODAL_PROBE = """
select doc_id,
  case when doc_id % 2 = 0 then 'png' else 'unknown' end as format,
  cast(case when doc_id % 2 = 0 then 16 + doc_id % 64 end as int) as width,
  cast(case when doc_id % 2 = 0 then 16 + doc_id % 48 end as int) as height,
  cast(case when doc_id % 2 = 0 then 24
       else 1 + octet_length(encode(text)) end as bigint) as n_bytes
from documents
where doc_id < 200
"""


# --------------------------------------------------------- streaming

_STREAM_RUN = {"n": 0}


def q_stream_tumbling(spark, sf_dir):
    """Structured-Streaming tumbling-window aggregation, run to
    completion over the finite events fixture. Oracle = the batch
    time_bucket SQL (backfill-equivalence: stream result == batch
    result on the same data)."""
    from drill_spark.streaming.events import read_event_stream, run_to_completion, tumbling_counts

    _STREAM_RUN["n"] += 1
    out = run_to_completion(
        tumbling_counts(read_event_stream(spark, sf_dir)),
        f"drv_stream_tumbling_{_STREAM_RUN['n']}",
        "complete",
    )
    return out.where(F.col("n") > 5).select(
        F.col("ws").cast("timestamp_ntz").alias("ws"), "event_type", "n", "sum_v"
    )


ORACLE_STREAM_TUMBLING = """
select time_bucket(interval '6 hours', ts) as ws, event_type, count(*) as n,
       round(sum(value), 2) as sum_v
from events
group by 1, 2
having count(*) > 5
"""


def q_stream_sliding(spark, sf_dir):
    """Sliding-window rates (streaming/events.py::sliding_rates, 6h
    width / 3h slide) run to completion — each event lands in exactly
    two windows, so the oracle is the batch union of both aligned
    bucket starts (backfill equivalence, like the tumbling row)."""
    from drill_spark.streaming.events import (
        read_event_stream, run_to_completion, sliding_rates)

    _STREAM_RUN["n"] += 1
    out = run_to_completion(
        sliding_rates(read_event_stream(spark, sf_dir)),
        f"drv_stream_sliding_{_STREAM_RUN['n']}", "complete")
    return out.select(
        F.col("ws").cast("timestamp_ntz").alias("ws"), "n")


ORACLE_STREAM_SLIDING = """
with w as (
  select time_bucket(interval '3 hours', ts) as ws from events
  union all
  select time_bucket(interval '3 hours', ts) - interval '3 hours' as ws
  from events
)
select ws, cast(count(*) as bigint) as n from w group by 1
"""


def q_stream_join(spark, sf_dir):
    """Stream-stream interval join (streaming/events.py::
    stream_stream_join): each view paired with the same user's
    purchases within 12 hours, watermarks + time bounds on BOTH sides
    so join state expires. Inner-join matches are emitted regardless of
    the watermark, so the finite-source run equals the batch interval
    join — the oracle."""
    from drill_spark.streaming.events import (
        read_event_stream, run_to_completion, stream_stream_join)

    _STREAM_RUN["n"] += 1
    out = run_to_completion(
        stream_stream_join(read_event_stream(spark, sf_dir)),
        f"drv_stream_join_{_STREAM_RUN['n']}")
    return out.select(
        "user_id", "a_id",
        F.col("a_ts").cast("timestamp_ntz").alias("a_ts"),
        "b_id",
        F.col("b_ts").cast("timestamp_ntz").alias("b_ts"))


ORACLE_STREAM_JOIN = """
select a.user_id, a.event_id as a_id, a.ts as a_ts,
       b.event_id as b_id, b.ts as b_ts
from events a join events b on a.user_id = b.user_id
where a.event_type = 'view' and b.event_type = 'purchase'
  and b.ts >= a.ts and b.ts <= a.ts + interval 12 hours
"""


def q_stream_dedup(spark, sf_dir):
    """Stateful streaming dedup (streaming/events.py::stream_dedup =
    dropDuplicatesWithinWatermark): the event stream UNIONED with
    itself — every event arrives twice — must dedup back to exactly
    the original rows on the id key; state stays bounded by the
    watermark horizon. Oracle = the batch table itself."""
    from drill_spark.streaming.events import (
        read_event_stream, run_to_completion, stream_dedup)

    _STREAM_RUN["n"] += 1
    ev = read_event_stream(spark, sf_dir)
    doubled = ev.union(read_event_stream(spark, sf_dir))
    out = run_to_completion(
        stream_dedup(doubled),
        f"drv_stream_dedup_{_STREAM_RUN['n']}")
    return out.select("event_id", "user_id", "event_type")


ORACLE_STREAM_DEDUP = """
select event_id, user_id, event_type from events
"""


def q_stream_enrich(spark, sf_dir):
    """Stream-static enrichment join (streaming/events.py::
    stream_static_enrich): each event joined to a static customer
    dimension (re-broadcast per micro-batch — zero state), left join
    so unmatched users survive with nulls. Oracle = the batch left
    join. Filtered to a bounded id slice so the row is compare-sized."""
    from drill_spark.streaming.events import (
        read_event_stream, run_to_completion, stream_static_enrich)

    _STREAM_RUN["n"] += 1
    dim = load_fixture(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_nationkey")
    ev = read_event_stream(spark, sf_dir).where(F.col("event_id") < 500)
    out = run_to_completion(
        stream_static_enrich(ev, dim),
        f"drv_stream_enrich_{_STREAM_RUN['n']}")
    return out.select("event_id", "user_id", "c_nationkey")


ORACLE_STREAM_ENRICH = """
select e.event_id, e.user_id, c.c_nationkey
from events e left join customer c on e.user_id = c.c_custkey
where e.event_id < 500
"""


# ------------------------------------------------------- temporal joins


def q_asof_join(spark, sf_dir):
    """Most recent click value as of each purchase, per user (as-of
    join; DuckDB oracle uses its native ASOF JOIN)."""
    from drill_spark.ops.temporal import as_of_join

    ev = load_fixture(spark, sf_dir, "events")
    left = ev.where(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    right = (
        ev.where(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("click_val"))
    )
    out = as_of_join(left, right, on=["user_id"], left_ts="ts", right_ts="ts", right_vals=["click_val"])
    return out.select(
        "event_id", "user_id", F.round("click_val_asof", 2).alias("click_val_asof")
    )


ORACLE_ASOF_JOIN = """
with r as (
  select user_id, ts, max(value) as click_val
  from events where event_type = 'click' group by 1, 2
)
select l.event_id, l.user_id, round(r.click_val, 2) as click_val_asof
from (select event_id, user_id, ts from events where event_type = 'purchase') l
asof left join r on l.user_id = r.user_id and l.ts >= r.ts
"""


def q_range_join(spark, sf_dir):
    """Point-in-interval join via bucketing (equi-join on bucket id, not
    an inequality cross product)."""
    from drill_spark.ops.temporal import point_in_interval_join

    ev = load_fixture(spark, sf_dir, "events").where(F.col("user_id") < 50)
    tiers = local_frame(
        ev.sparkSession,
        [("t0", 0.0, 5.0), ("t1", 5.0, 25.0), ("t2", 25.0, 100.0), ("t3", 100.0, 1000.0)],
        "tier string, lo double, hi double",
    )
    # bucket_width ~ median interval span: fan-out stays O(10) per
    # interval (width far below the span explodes the widest interval)
    out = point_in_interval_join(
        ev.select("event_id", "value"), tiers, on=[], point_col="value",
        start_col="lo", end_col="hi", bucket_width=25.0,
    )
    return out.select("event_id", "tier")


ORACLE_RANGE_JOIN = """
with tiers(tier, lo, hi) as (
  values ('t0', 0.0, 5.0), ('t1', 5.0, 25.0), ('t2', 25.0, 100.0), ('t3', 100.0, 1000.0)
)
select e.event_id, t.tier
from (select * from events where user_id < 50) e
join tiers t on e.value >= t.lo and e.value < t.hi
"""


def _code_digest(code, h) -> None:
    """Feed a code object's bytecode, constants (nested code objects
    recursively, frozensets in a hash-seed-independent order) and the
    names it calls into ``h``. Line numbers are not part of ``co_code``,
    so moving a builder within the file keeps its digest."""
    h.update(code.co_code)
    h.update(repr(code.co_names).encode())
    for c in code.co_consts:
        if hasattr(c, "co_code"):
            _code_digest(c, h)
        elif isinstance(c, frozenset):
            h.update(repr(sorted(map(repr, c))).encode())
        else:
            h.update(repr(c).encode())


def _materialize_once(sf_dir: str, kind: str, build) -> str:
    """Build a per-sf_dir format fixture under /tmp exactly once,
    ATOMICALLY: ``build(staging_dir)`` writes into a fresh staging
    directory which is then renamed into place, so a killed run can
    never leave a half-written table that a later exists-check trusts.
    A concurrent winner's rename is tolerated. The directory is
    ``drill_spark_<kind>_<sf tag>_<code tag>``: the code tag digests the
    builder's code, so a changed builder never reuses a fixture its
    older version wrote, and building removes the fixtures other
    versions of the builder left for the same ``sf_dir`` and kind (so
    builders that share a kind must share their code, or each build
    evicts the other's)."""
    import hashlib
    import re
    import shutil
    import tempfile

    sf_tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:12]
    h = hashlib.md5()
    _code_digest(build.__code__, h)
    tmp = tempfile.gettempdir()
    name = f"drill_spark_{kind}_{sf_tag}_{h.hexdigest()[:12]}"
    final = os.path.join(tmp, name)
    if os.path.isdir(final):
        return final
    staging = f"{final}.staging.{os.getpid()}"
    shutil.rmtree(staging, ignore_errors=True)
    build(staging)
    try:
        os.rename(staging, final)
    except OSError:
        if not os.path.isdir(final):  # lost a race is fine; else re-raise
            raise
        shutil.rmtree(staging, ignore_errors=True)
    # other builder versions' fixtures (and the code-less tag older
    # releases used); staging directories are never touched
    stale = re.compile(
        rf"drill_spark_{re.escape(kind)}_{sf_tag}(?:_[0-9a-f]{{12}})?")
    for other in os.listdir(tmp):
        if other != name and stale.fullmatch(other):
            shutil.rmtree(os.path.join(tmp, other), ignore_errors=True)
    return final


def _write_two_batch_source(src: str, batch0: DataFrame,
                            batch1: DataFrame) -> None:
    """Write a two-micro-batch file-stream source: each batch lands as
    ``src/batch-{i}.parquet`` with a batch-pinned mtime. Batches are
    staged into their own directories and renamed by BATCH INDEX —
    never ordered by observed mtime, which ties when both writes land
    within the filesystem's timestamp resolution and would then fall
    back to arbitrary directory order, swapping the batches."""
    import shutil

    os.makedirs(src, exist_ok=True)
    for i, bdf in enumerate((batch0, batch1)):
        stage = os.path.join(src, f"_stage-{i}")
        bdf.coalesce(1).write.parquet(stage)
        part = next(f for f in sorted(os.listdir(stage))
                    if f.endswith(".parquet"))
        dst = os.path.join(src, f"batch-{i}.parquet")
        shutil.move(os.path.join(stage, part), dst)
        shutil.rmtree(stage)
        os.utime(dst, (1_600_000_000 + i * 60, 1_600_000_000 + i * 60))


def q_avro_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avro format scan (store/avro/AvroBatchReader.java parity): the
    supplier fixture is written to Avro OCF with the distributed writer
    once per sf_dir, then read back with the distributed range-split
    decoder — so the correctness row checks the full write+read format
    path against the parquet-derived oracle."""
    from drill_spark.readers.avro import read_avro, write_avro

    out_dir = _materialize_once(
        sf_dir, "avro", lambda d: write_avro(load_fixture(spark, sf_dir, "supplier"), d)
    )
    return read_avro(spark, out_dir).select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")


ORACLE_AVRO_SCAN = """
select s_suppkey, s_name, s_nationkey, s_acctbal from supplier
"""


def q_delta_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta format scan (contrib/format-deltalake/ DeltaFormatPlugin
    parity): the supplier fixture is written once per sf_dir as a
    partitioned Delta table (data parquet + transaction log), then read
    back through the log-replay reader — partition values re-attached
    from add.partitionValues, so the row checks the full protocol path
    against the parquet-derived oracle."""
    from drill_spark.readers.delta import read_delta, write_delta

    out_dir = _materialize_once(
        sf_dir,
        "delta",
        lambda d: write_delta(
            load_fixture(spark, sf_dir, "supplier").select(
                "s_suppkey", "s_name", "s_nationkey", "s_acctbal"
            ),
            d,
            partition_by=["s_nationkey"],
        ),
    )
    return read_delta(spark, out_dir).select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")


ORACLE_DELTA_SCAN = """
select s_suppkey, s_name, s_nationkey, s_acctbal from supplier
"""


def q_delta_zorder_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE ZORDER BY + stats-based file skipping end to end
    (readers/delta_stats.py): orders written as a multi-file Delta
    table, Z-ordered on (o_custkey, o_totalprice), then read through
    the `predicate` option — the driver prunes the file list with the
    footer-derived add.stats BEFORE any scan I/O and re-applies the
    predicate as a Catalyst filter, so the result is exact and must
    match the plain SQL filter oracle."""
    from drill_spark.readers.delta import optimize, read_delta, write_delta

    def build(d: str) -> None:
        write_delta(
            load_fixture(spark, sf_dir, "orders").select(
                "o_orderkey", "o_custkey", "o_totalprice"
            ).repartition(16),
            d,
        )
        optimize(spark, d, zorder_by=["o_custkey", "o_totalprice"],
                 target_file_bytes=64 * 1024)

    out_dir = _materialize_once(sf_dir, "delta_zorder", build)
    return read_delta(
        spark, out_dir,
        {"predicate": "o_custkey < 500 and o_totalprice > 100000"},
    ).select("o_orderkey", "o_custkey", "o_totalprice")


ORACLE_DELTA_ZORDER_SCAN = """
select o_orderkey, o_custkey, o_totalprice from orders
where o_custkey < 500 and o_totalprice > 100000
"""


def q_delta_dv_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta deletion vectors, merge-on-read (delta-standalone applies
    DVs for the reference inside contrib/format-deltalake/; here the
    PROTOCOL.md RoaringBitmapArray format is decoded directly): the
    customer fixture is written as a partitioned Delta table, then
    ``delete_where`` commits deletion vectors for every
    c_custkey % 5 == 0 row — no data file rewritten — so the scan must
    anti-join the DV row indexes to match the oracle."""
    from drill_spark.readers.delta import delete_where, read_delta, write_delta

    def build(d: str) -> None:
        write_delta(
            load_fixture(spark, sf_dir, "customer").select(
                "c_custkey", "c_name", "c_nationkey", "c_acctbal"
            ),
            d,
            partition_by=["c_nationkey"],
        )
        delete_where(spark, d, "c_custkey % 5 = 0")

    out_dir = _materialize_once(sf_dir, "delta_dv", build)
    return read_delta(spark, out_dir).select("c_custkey", "c_name", "c_nationkey", "c_acctbal")


ORACLE_DELTA_DV_SCAN = """
select c_custkey, c_name, c_nationkey, c_acctbal from customer
where c_custkey % 5 <> 0
"""


def q_pdf_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PDF table extraction (contrib/format-pdf PdfBatchReader.java via
    tabula; here the ISO 32000-1 text model + the published detection/
    extraction methods run natively, readers/pdf*.py): the nation
    fixture is laid out as a spec-built multi-page tabular PDF once per
    sf_dir, then scanned back with combinePages — text-position
    clustering must reconstruct every row and column to match the
    parquet-derived oracle."""
    from pyspark.sql import functions as F

    from drill_spark.readers.pdf import read_pdf, write_pdf_table

    def build(d: str) -> None:
        os.makedirs(d, exist_ok=True)
        rows = [
            [r["n_name"], str(r["n_nationkey"]), str(r["n_regionkey"])]
            for r in sorted(
                load_fixture(spark, sf_dir, "nation").collect(),
                key=lambda r: r["n_nationkey"],
            )
        ]
        write_pdf_table(
            os.path.join(d, "nation.pdf"),
            ["Nation", "Key", "Region Key"],
            rows,
            title="Nations of the TPC-H world",
        )

    out_dir = _materialize_once(sf_dir, "pdf", build)
    df = read_pdf(spark, os.path.join(out_dir, "nation.pdf"), combine_pages=True)
    return df.select(
        F.col("Nation").alias("n_name"),
        F.col("Key").cast("bigint").alias("n_nationkey"),
        F.col("Region Key").cast("bigint").alias("n_regionkey"),
    )


ORACLE_PDF_SCAN = """
select n_name, n_nationkey, n_regionkey from nation
"""


def q_paimon_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paimon table-format scan (contrib/format-paimon reads through
    paimon-java; here the published snapshot/manifest layout is walked
    natively, readers/paimon.py): the region+nation join fixture is
    written once per sf_dir as a two-snapshot append table (initial
    write + append), then read back through snapshot/manifest replay."""
    from drill_spark.readers.paimon import read_paimon, write_paimon

    def build(d: str) -> None:
        nat = load_fixture(spark, sf_dir, "nation").select(
            "n_nationkey", "n_name", "n_regionkey"
        )
        write_paimon(nat.where(F.col("n_nationkey") < 12), d)
        write_paimon(nat.where(F.col("n_nationkey") >= 12), d, mode="append")

    out_dir = _materialize_once(sf_dir, "paimon", build)
    return read_paimon(spark, out_dir)


ORACLE_PAIMON_SCAN = """
select n_nationkey, n_name, n_regionkey from nation
"""


def q_msaccess_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MS Access format scan (contrib/format-access reads Jet through
    Jackcess; here the publicly documented Jet layout is decoded
    natively, readers/msaccess.py — independently validated against
    the reference's six fixture vintages): the supplier fixture is
    written once per sf_dir as a Jet4 database by the spec-built
    fixture writer, then read back through the catalog walk + row
    cracker to match the parquet-derived oracle."""
    from drill_spark.readers.msaccess import read_access, write_access_table

    def build(d: str) -> None:
        os.makedirs(d, exist_ok=True)
        rows = [
            [int(r["s_suppkey"]), r["s_name"], float(r["s_acctbal"])]
            for r in sorted(
                load_fixture(spark, sf_dir, "supplier").collect(),
                key=lambda r: r["s_suppkey"],
            )
        ]
        write_access_table(
            os.path.join(d, "supplier.mdb"),
            "supplier",
            [("s_suppkey", "int"), ("s_name", "text"), ("s_acctbal", "double")],
            rows,
        )

    out_dir = _materialize_once(sf_dir, "msaccess", build)
    df = read_access(spark, os.path.join(out_dir, "supplier.mdb"), table_name="supplier")
    return df.select(
        F.col("s_suppkey").cast("bigint"),
        "s_name",
        F.round(F.col("s_acctbal"), 2).alias("s_acctbal"),
    )


ORACLE_MSACCESS_SCAN = """
select s_suppkey, s_name, round(s_acctbal, 2) as s_acctbal from supplier
"""


def q_multimodal_decode(spark, sf_dir):
    """REAL media decode, oracle-checked end to end: each nation row
    becomes a genuine 24-bit BMP (key%7==0; constant pixel value
    (key*9)%256, width key%5+2, height 3), a 16-bit PCM WAV (key%7==1;
    square wave of amplitude (key%50)/100, 80+key samples at 8 kHz),
    a REAL JPEG — alternating baseline SOF0 and progressive SOF2
    (key%7==2; constant gray (key*9)%256 — exact through the codec
    because the q75 luminance DC step equals the 8x8 DCT's DC gain,
    see ops/jpeg.py), a REAL AVI video (key%7==3;
    key%3+2 uncompressed BI_RGB frames at 5 fps, frame i constant value
    (key*9)%200 + 10*i, so the all-frame pixel mean is the closed form
    (key*9)%200 + 5*(key%3+1)), or a REAL FLAC (key%7==4; 16-bit square
    wave of integer amplitude (key%40+1)*500, 100+key samples at
    16 kHz — lossless, so the decoded RMS is exactly amp/32767), a
    REAL TIFF through the LZW strip path (key%7==5) or a REAL GIF
    through palette + LZW (key%7==6) — both lossless constant-gray,
    exact mean — built with the codecs in ops/multimodal.py +
    ops/jpeg.py + ops/tiff.py + ops/video.py + ops/flac.py, and the decode kernel must recover dimensions / sample
    counts / frame counts / fps / mean pixel / RMS exactly as the
    closed-form oracle computes them — no stub anywhere in this path."""
    import pandas as pd

    from drill_spark.ops.multimodal import (
        DECODE_SCHEMA, encode_bmp, encode_gif, encode_wav, media_decode,
    )

    nat = load_fixture(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("bigint").alias("doc_id")
    )

    def build(batches):
        import numpy as np

        from drill_spark.ops.flac import encode_flac
        from drill_spark.ops.jpeg import encode_jpeg, encode_jpeg_progressive
        from drill_spark.ops.tiff import encode_tiff
        from drill_spark.ops.video import encode_avi

        for pdf in batches:
            rows = []
            for k in pdf["doc_id"]:
                k = int(k)
                w = k % 5 + 2
                v = (k * 9) % 256
                if k % 7 == 0:
                    img = np.full((3, w, 3), v, dtype="uint8")
                    rows.append({"doc_id": k, "payload": encode_bmp(img)})
                elif k % 7 == 1:
                    a = (k % 50) / 100.0
                    n = 80 + k
                    x = np.where(np.arange(n) % 2 == 0, a, -a)
                    rows.append({"doc_id": k, "payload": encode_wav(x, 8000)})
                elif k % 7 == 2:
                    img = np.full((3, w, 3), v, dtype="uint8")
                    # alternate baseline SOF0 / progressive SOF2 payloads
                    # — same quantized coefficients, identical decode,
                    # so the closed-form oracle covers both processes
                    enc = encode_jpeg if (k // 7) % 2 == 0 else encode_jpeg_progressive
                    rows.append({"doc_id": k, "payload": enc(img)})
                elif k % 7 == 3:
                    frames = [
                        np.full((3, w, 3), (k * 9) % 200 + 10 * i, dtype="uint8")
                        for i in range(k % 3 + 2)
                    ]
                    rows.append({"doc_id": k, "payload": encode_avi(frames, fps=5)})
                elif k % 7 == 4:
                    amp = (k % 40 + 1) * 500
                    n = 100 + k
                    x = np.where(np.arange(n) % 2 == 0, amp, -amp)
                    rows.append({"doc_id": k, "payload": encode_flac(x, 16000)})
                elif k % 7 == 5:
                    # TIFF through the LZW strip path — lossless, exact mean
                    img = np.full((3, w, 3), v, dtype="uint8")
                    rows.append({"doc_id": k, "payload": encode_tiff(img, compression=5)})
                else:
                    # GIF: constant gray through palette + LZW — exact mean
                    img = np.full((3, w, 3), v, dtype="uint8")
                    rows.append({"doc_id": k, "payload": encode_gif(img)})
            yield pd.DataFrame.from_records(rows, columns=["doc_id", "payload"])

    payloads = nat.mapInPandas(build, schema="doc_id bigint, payload binary")
    return media_decode(payloads)


def q_audio_probe(spark, sf_dir):
    """REAL MPEG audio (MP3) metadata, oracle-checked: each nation row
    becomes a spec-built Layer III stream (key%4+2 frames at 44.1 kHz,
    bitrate from a small table, mono/stereo by key parity) and the
    frame-header walker must recover layer/rate/channels/frame count/
    duration/bitrate exactly as the closed-form oracle computes them.
    Full psychoacoustic sample decode stays behind the labeled gate."""
    import pandas as pd

    from drill_spark.ops.multimodal import build_mpeg_frames, probe_mpeg_audio

    nat = load_fixture(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("bigint").alias("doc_id")
    )

    def build_and_probe(batches):
        from drill_spark.ops.multimodal import build_id3v2

        rates = (32, 64, 128, 192)
        for pdf in batches:
            rows = []
            for k in pdf["doc_id"]:
                k = int(k)
                payload = build_mpeg_frames(
                    n_frames=k % 4 + 2,
                    bitrate_kbps=rates[k % 4],
                    channels=k % 2 + 1,
                )
                # even keys carry a REAL ID3v2.4 tag ahead of the frames
                if k % 2 == 0:
                    payload = build_id3v2(
                        {"TIT2": f"track {k}", "TPE1": f"artist {k % 5}"}
                    ) + payload
                rows.append({"doc_id": k, **probe_mpeg_audio(payload)})
            yield pd.DataFrame.from_records(
                rows,
                columns=["doc_id", "kind", "mpeg_version", "sample_rate",
                         "channels", "n_frames", "duration_s", "bitrate_kbps",
                         "title", "artist"],
            )

    return nat.mapInPandas(
        build_and_probe,
        schema="doc_id bigint, kind string, mpeg_version string, "
        "sample_rate int, channels int, n_frames int, "
        "duration_s double, bitrate_kbps double, "
        "title string, artist string",
    )


ORACLE_AUDIO_PROBE = """
select n_nationkey as doc_id,
  'audio/mpeg-layer3' as kind,
  '1' as mpeg_version,
  cast(44100 as int) as sample_rate,
  cast(n_nationkey % 2 + 1 as int) as channels,
  cast(n_nationkey % 4 + 2 as int) as n_frames,
  round((n_nationkey % 4 + 2) * 1152.0 / 44100, 4) as duration_s,
  cast(case n_nationkey % 4 when 0 then 32 when 1 then 64
       when 2 then 128 else 192 end as double) as bitrate_kbps,
  case when n_nationkey % 2 = 0
       then 'track ' || cast(n_nationkey as varchar) end as title,
  case when n_nationkey % 2 = 0
       then 'artist ' || cast(n_nationkey % 5 as varchar) end as artist
from nation
"""


ORACLE_MULTIMODAL_DECODE = """
select n_nationkey as doc_id,
  case when n_nationkey % 7 = 0 then 'image/bmp'
       when n_nationkey % 7 = 1 then 'audio/wav'
       when n_nationkey % 7 = 2 then 'image/jpeg'
       when n_nationkey % 7 = 3 then 'video/avi'
       when n_nationkey % 7 = 4 then 'audio/flac'
       when n_nationkey % 7 = 5 then 'image/tiff'
       else 'image/gif' end as kind,
  cast(case when n_nationkey % 7 in (0, 2, 3, 5, 6) then n_nationkey % 5 + 2 end as int) as width,
  cast(case when n_nationkey % 7 in (0, 2, 3, 5, 6) then 3 end as int) as height,
  cast(case when n_nationkey % 7 = 1 then 80 + n_nationkey
            when n_nationkey % 7 = 3 then n_nationkey % 3 + 2
            when n_nationkey % 7 = 4 then 100 + n_nationkey end as int) as n_samples,
  cast(case when n_nationkey % 7 = 1 then 8000
            when n_nationkey % 7 = 3 then 5
            when n_nationkey % 7 = 4 then 16000 end as int) as sample_rate,
  round(case when n_nationkey % 7 = 1 then (n_nationkey % 50) / 100.0
             when n_nationkey % 7 = 3
               then (n_nationkey * 9) % 200 + 5.0 * (n_nationkey % 3 + 1)
             when n_nationkey % 7 = 4
               then (n_nationkey % 40 + 1) * 500 / 32767.0
             else cast((n_nationkey * 9) % 256 as double) end, 4) as mean_val
from nation
"""


def q_iceberg_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg format scan (contrib/format-iceberg/ IcebergFormatPlugin
    parity): the part fixture is written once per sf_dir as an Iceberg
    table (parquet data + avro manifests + metadata json), then read
    back through the snapshot walker."""
    from drill_spark.readers.iceberg import read_iceberg, write_iceberg

    out_dir = _materialize_once(
        sf_dir,
        "iceberg",
        lambda d: write_iceberg(
            load_fixture(spark, sf_dir, "part").select(
                "p_partkey", "p_name", "p_brand", "p_retailprice"
            ),
            d,
        ),
    )
    return read_iceberg(spark, out_dir)


ORACLE_ICEBERG_SCAN = """
select p_partkey, p_name, p_brand, p_retailprice from part
"""


def q_iceberg_skip_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest-stats file skipping end to end (readers/
    iceberg_stats.py): customer written as a multi-file range-
    clustered Iceberg table whose manifest entries carry footer-
    derived lower/upper bounds, then read through the `predicate`
    option — scan planning prunes the data-file list from the
    MANIFESTS alone (the InclusiveMetricsEvaluator step iceberg-core
    does for the reference's contrib/storage-iceberg) and re-applies
    the predicate as a Catalyst filter, so the result is exact and
    must match the plain SQL filter oracle."""
    from drill_spark.readers.iceberg import read_iceberg, write_iceberg

    def build(d: str) -> None:
        write_iceberg(
            load_fixture(spark, sf_dir, "customer").select(
                "c_custkey", "c_name", "c_acctbal", "c_mktsegment"
            ).repartitionByRange(8, "c_custkey")
            .sortWithinPartitions("c_custkey"),
            d,
        )

    out_dir = _materialize_once(sf_dir, "iceberg_skip", build)
    return read_iceberg(
        spark, out_dir,
        {"predicate": "c_custkey between 20 and 120 and c_acctbal > 0"},
    ).select("c_custkey", "c_name", "c_acctbal", "c_mktsegment")


ORACLE_ICEBERG_SKIP_SCAN = """
select c_custkey, c_name, c_acctbal, c_mktsegment from customer
where c_custkey between 20 and 120 and c_acctbal > 0
"""


def q_iceberg_part_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Identity-PARTITIONED Iceberg table scan (r5 writer): the
    supplier fixture written partitioned by s_nationkey — hive-layout
    dirs, typed partition values in the manifests — and read back
    through the snapshot walker; oracle = the plain table."""
    from drill_spark.readers.iceberg import read_iceberg, write_iceberg

    out_dir = _materialize_once(
        sf_dir,
        "iceberg_part",
        lambda d: write_iceberg(
            load_fixture(spark, sf_dir, "supplier").select(
                "s_suppkey", "s_name", "s_nationkey", "s_acctbal"
            ),
            d,
            partition_by=["s_nationkey"],
        ),
    )
    return read_iceberg(spark, out_dir).select(
        "s_suppkey", "s_name", "s_nationkey", "s_acctbal")


ORACLE_ICEBERG_PART_SCAN = """
select s_suppkey, s_name, s_nationkey, s_acctbal from supplier
"""


def q_iceberg_v2_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg format-version-2 row-level deletes (IcebergGroupScan.java
    reads through the Iceberg lib, which applies delete files; here the
    spec's delete rules run as Spark anti-joins): the part fixture is
    written as an Iceberg table, then a second snapshot commits BOTH a
    position-delete file (every p_partkey % 7 == 0 row, addressed by
    physical file/pos) and an equality-delete file (p_brand =
    'Brand#23'), so the scan must merge-on-read both kinds."""
    from drill_spark.readers.iceberg import (
        append_delete_files,
        read_iceberg,
        write_iceberg,
    )

    def build(d: str) -> None:
        from pyspark.sql import functions as F

        write_iceberg(
            load_fixture(spark, sf_dir, "part").select(
                "p_partkey", "p_name", "p_brand", "p_retailprice"
            ),
            d,
        )
        targets = (
            read_iceberg(spark, d)
            .where(F.col("p_partkey") % 7 == 0)
            .select(
                F.regexp_replace(
                    F.col("_metadata.file_path"), "^file:/*", "/"
                ).alias("fp"),
                F.col("_metadata.row_index").alias("pos"),
            )
            .collect()
        )
        append_delete_files(
            d,
            position_deletes=[(r.fp, r.pos) for r in targets],
            equality_deletes=local_frame(
                spark, [("Brand#23",)], "p_brand string"
            ),
            equality_cols=["p_brand"],
        )

    out_dir = _materialize_once(sf_dir, "iceberg_v2", build)
    return read_iceberg(spark, out_dir)


ORACLE_ICEBERG_V2_SCAN = """
select p_partkey, p_name, p_brand, p_retailprice from part
where p_partkey % 7 <> 0 and p_brand <> 'Brand#23'
"""


def q_image_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image format scan (contrib/format-image ImageBatchReader.java
    parity): one deterministic PNG per nation (width = nationkey+1,
    height = 2*(nationkey+1), RGBA) written once per sf_dir, then read
    as a metadata table — format/dimensions/color typing against the
    closed-form oracle. EXIF decoding is byte-checked in
    tests/test_image.py."""
    import struct

    from drill_spark.readers.image import read_images

    def build(out_dir: str) -> None:
        os.makedirs(out_dir, exist_ok=True)
        keys = [
            int(r.n_nationkey)
            for r in load_fixture(spark, sf_dir, "nation").select("n_nationkey").collect()
        ]
        for k in keys:
            ihdr = struct.pack(">IIBBBBB", k + 1, 2 * (k + 1), 8, 6, 0, 0, 0)
            png = (
                b"\x89PNG\r\n\x1a\n"
                + struct.pack(">I", len(ihdr)) + b"IHDR" + ihdr + b"\x00" * 4
                + struct.pack(">I", 0) + b"IEND" + b"\x00" * 4
            )
            with open(os.path.join(out_dir, f"n{k:03d}.png"), "wb") as f:
                f.write(png)

    out_dir = _materialize_once(sf_dir, "images", build)
    return read_images(spark, out_dir).select(
        "file_name", "format", "pixel_width", "pixel_height",
        "color_mode", "bits_per_pixel", "has_alpha",
    )


ORACLE_IMAGE_SCAN = """
select
  'n' || lpad(cast(n_nationkey as varchar), 3, '0') || '.png' as file_name,
  'png' as format,
  cast(n_nationkey + 1 as int) as pixel_width,
  cast(2 * (n_nationkey + 1) as int) as pixel_height,
  'RGBA' as color_mode,
  cast(32 as int) as bits_per_pixel,
  true as has_alpha
from nation
"""


def q_dfdl_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DFDL format scan (contrib/format-daffodil DaffodilBatchReader
    parity): nation keys packed as big-endian xs:int pairs in a .dat
    file (the reference's data0NInt.dat shape) with a two-column DFDL
    schema, read back through the subset interpreter. Full reference-
    fixture parity (binary/text/arrays/types) is in tests/test_dfdl.py."""
    from drill_spark.readers.dfdl import DFDL_TWO_INT_XSD, read_dfdl, write_dfdl_ints

    def build(out_dir: str) -> None:
        os.makedirs(out_dir, exist_ok=True)
        rows = sorted(
            (int(r.n_nationkey), int(r.n_regionkey))
            for r in load_fixture(spark, sf_dir, "nation")
            .select("n_nationkey", "n_regionkey").collect()
        )
        write_dfdl_ints(
            [(k, rk * 1000 + k) for k, rk in rows],
            os.path.join(out_dir, "nations.dat"),
        )
        with open(os.path.join(out_dir, "nations.dfdl.xsd"), "w") as f:
            f.write(DFDL_TWO_INT_XSD)

    out_dir = _materialize_once(sf_dir, "dfdl", build)
    return read_dfdl(
        spark,
        os.path.join(out_dir, "nations.dat"),
        schema_uri=os.path.join(out_dir, "nations.dfdl.xsd"),
        root_name="row",
    )


ORACLE_DFDL_SCAN = """
select
  cast(n_nationkey as int) as a1,
  cast(n_regionkey * 1000 + n_nationkey as int) as a2
from nation
"""


def q_shp_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ESRI shapefile scan (contrib/format-esri ShpBatchReader.java
    parity): the nation fixture becomes a point shapefile (one point
    per nation, deterministic order) once per sf_dir; the read-back
    checks gid assignment, .prj SRID extraction, shape typing and dbf
    attribute decoding against the parquet-derived oracle. geom (WKB
    bytes) is covered structurally in tests/test_esri.py — DuckDB has
    no WKB constructor to oracle it here."""
    from drill_spark.readers.esri import read_shp, write_shp

    def build(out_dir: str) -> None:
        os.makedirs(out_dir, exist_ok=True)
        nat = (
            load_fixture(spark, sf_dir, "nation")
            .select("n_nationkey", "n_name")
            .orderBy("n_nationkey")
            .collect()
        )
        rows = [
            {"x": float(r.n_nationkey) * 1.5, "y": -float(r.n_nationkey),
             "nkey": int(r.n_nationkey), "nname": r.n_name}
            for r in nat
        ]
        write_shp(rows, os.path.join(out_dir, "nations"), srid=4326)

    out_dir = _materialize_once(sf_dir, "shp", build)
    return (
        read_shp(spark, os.path.join(out_dir, "nations.shp"))
        .select("gid", "srid", F.col("shapeType").alias("shape_type"), "nkey", "nname")
    )


ORACLE_SHP_SCAN = """
select
  cast(row_number() over (order by n_nationkey) as int) as gid,
  cast(4326 as int) as srid,
  'Point' as shape_type,
  cast(n_nationkey as bigint) as nkey,
  n_name as nname
from nation
"""


def q_warc_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC web-archive scan (net-new vs the reference — the Common
    Crawl input format of 100 TB LLM crawl pipelines): the documents
    fixture is wrapped into HTTP response records and written as
    record-at-time-gzipped .warc.gz by the distributed writer once per
    sf_dir, then read back through the byte-range-split validated
    gzip-member scanner (readers/warc.py) — so the correctness row
    checks the full write+read format path, HTTP envelope split
    included, against the parquet-derived oracle."""
    from drill_spark.readers.warc import read_warc, write_warc

    def build(d):
        write_warc(
            load_fixture(spark, sf_dir, "documents").select(
                F.concat(
                    F.lit("https://crawl.example/doc/"),
                    F.col("doc_id").cast("string"),
                ).alias("target_uri"),
                "text",
            ),
            d,
        )

    out_dir = _materialize_once(sf_dir, "warc", build)
    return (
        read_warc(spark, out_dir)
        .filter(F.col("warc_type") == "response")
        .select(
            "target_uri",
            "http_status",
            F.octet_length("payload").alias("payload_len"),
            F.decode("payload", "UTF-8").alias("text"),
        )
    )


ORACLE_WARC_SCAN = """
select 'https://crawl.example/doc/' || doc_id as target_uri,
       cast(200 as int) as http_status,
       cast(octet_length(cast(text as blob)) as int) as payload_len,
       text
from documents
"""


def q_arc_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ARC legacy web-archive scan (pre-2013 Common Crawl snapshots;
    readers/arc.py): the documents fixture written as record-at-time
    gzipped .arc.gz v1 records with HTTP envelopes, read back through
    the shared validated-member byte-range scanner — full write+read
    path vs the parquet-derived oracle."""
    from drill_spark.readers.arc import read_arc, write_arc

    def build(d):
        write_arc(
            load_fixture(spark, sf_dir, "documents").select(
                F.concat(
                    F.lit("http://crawl.example/arc/"),
                    F.col("doc_id").cast("string"),
                ).alias("url"),
                "text",
            ),
            d,
        )

    out_dir = _materialize_once(sf_dir, "arc", build)
    return (
        read_arc(spark, out_dir)
        .filter(~F.col("url").startswith("filedesc://"))
        .select(
            "url",
            "http_status",
            F.octet_length("payload").alias("payload_len"),
            F.decode("payload", "UTF-8").alias("text"),
        )
    )


ORACLE_ARC_SCAN = """
select 'http://crawl.example/arc/' || doc_id as url,
       cast(200 as int) as http_status,
       cast(octet_length(cast(text as blob)) as int) as payload_len,
       text
from documents
"""


def q_pcapng_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pcapng format scan (contrib/format-pcapng PcapngBatchReader
    parity): one TCP packet per nation — SYN for even keys, ACK for
    odd, src_port = 1000+key — encoded as spec-conformant EPB blocks
    once per sf_dir, then read back through the block walker. Checks
    timestamp resolution, L2-L4 parsing and the flag columns against
    the closed-form oracle."""
    import struct

    def build(out_dir: str) -> None:
        os.makedirs(out_dir, exist_ok=True)
        keys = sorted(
            int(r.n_nationkey)
            for r in load_fixture(spark, sf_dir, "nation").select("n_nationkey").collect()
        )

        def block(btype, body):
            total = 12 + len(body) + (-len(body)) % 4
            return (
                struct.pack("<II", btype, total)
                + body + b"\x00" * ((-len(body)) % 4)
                + struct.pack("<I", total)
            )

        out = block(0x0A0D0D0A, struct.pack("<IHHq", 0x1A2B3C4D, 1, 0, -1))
        out += block(0x00000001, struct.pack("<HHI", 1, 0, 0) + struct.pack("<HH", 0, 0))
        for k in keys:
            flags = 0x02 if k % 2 == 0 else 0x10
            eth = bytes(6) + bytes(range(6)) + b"\x08\x00"
            tcp = struct.pack(">HHIIBB", 1000 + k, 443, 1, k, 0x50, flags) + b"\x00" * 8
            ip = bytes([0x45, 0]) + struct.pack(">H", 20 + len(tcp)) + b"\x00" * 4
            ip += bytes([64, 6]) + b"\x00\x00" + bytes([10, 0, 0, 1]) + bytes([10, 0, 0, 2])
            frame = eth + ip + tcp
            ts = (1_700_000_000 + k) * 10**6
            body = struct.pack("<IIIII", 0, ts >> 32, ts & 0xFFFFFFFF, len(frame), len(frame))
            out += block(0x00000006, body + frame)
        with open(os.path.join(out_dir, "nations.pcapng"), "wb") as f:
            f.write(out)

    from drill_spark.readers.pcapng import read_pcapng

    out_dir = _materialize_once(sf_dir, "pcapng", build)
    return read_pcapng(spark, os.path.join(out_dir, "nations.pcapng")).select(
        F.col("src_port"), F.col("dst_port"), F.col("type"),
        F.col("tcp_ack"), F.col("tcp_flags_syn"), F.col("tcp_flags_ack"),
        F.col("tcp_parsed_flags"), F.col("timestamp").cast("string").alias("ts"),
    )


def q_orc_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC format scan (Spark-native columnar source, registered in the
    suffix map like Drill's format registry): customer fixture written
    once per sf_dir, read back with pushdown intact."""

    def build(out_dir: str) -> None:
        load_fixture(spark, sf_dir, "customer").select(
            "c_custkey", "c_name", "c_nationkey", "c_acctbal"
        ).write.orc(out_dir)

    out_dir = _materialize_once(sf_dir, "orc", build)
    return spark.read.orc(out_dir).where(F.col("c_acctbal") > 0)


ORACLE_ORC_SCAN = """
select c_custkey, c_name, c_nationkey, c_acctbal
from customer where c_acctbal > 0
"""


def q_hdf5_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HDF5 format scan (contrib/format-hdf5 HDF5BatchReader parity):
    a classic-layout .h5 with one int64 dataset derived from nation,
    read back via the defaultPath projection (TestHDF5Format's
    dataset-as-rows mode). The decoder itself is validated against the
    reference plugin's own binary fixtures in tests/test_hdf5.py."""
    from drill_spark.readers.hdf5 import read_hdf5, write_h5_simple

    def build(out_dir: str) -> None:
        os.makedirs(out_dir, exist_ok=True)
        keys = sorted(
            int(r.n_nationkey)
            for r in load_fixture(spark, sf_dir, "nation").select("n_nationkey").collect()
        )
        write_h5_simple(
            {"nkeys": [k * 7 + 1 for k in keys]},
            os.path.join(out_dir, "nations.h5"),
        )

    out_dir = _materialize_once(sf_dir, "hdf5", build)
    return read_hdf5(
        spark, os.path.join(out_dir, "nations.h5"), {"defaultPath": "/nkeys"}
    )


ORACLE_HDF5_SCAN = """
select cast(n_nationkey * 7 + 1 as bigint) as nkeys from nation
"""


def q_spss_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPSS format scan (contrib/format-spss SpssBatchReader parity):
    the region fixture becomes a .sav file (numeric key with value
    labels + string name) once per sf_dir; the read-back checks
    dictionary decode, value-label binding (the <name>_value column)
    and string trimming against the parquet-derived oracle."""
    from drill_spark.readers.spss import read_sav, write_sav

    def build(out_dir: str) -> None:
        os.makedirs(out_dir, exist_ok=True)
        regs = sorted(
            ((int(r.r_regionkey), r.r_name)
             for r in load_fixture(spark, sf_dir, "region")
             .select("r_regionkey", "r_name").collect()),
        )
        rows = [{"RKEY": float(k), "RNAME": n} for k, n in regs]
        write_sav(
            rows,
            os.path.join(out_dir, "regions.sav"),
            value_labels={"RKEY": {0.0: "zero", 1.0: "one", 2.0: "two"}},
        )

    out_dir = _materialize_once(sf_dir, "spss", build)
    return read_sav(spark, os.path.join(out_dir, "regions.sav")).select(
        F.col("RKEY").alias("rkey"), F.col("RKEY_value").alias("rkey_value"),
        F.col("RNAME").alias("rname"),
    )


ORACLE_SPSS_SCAN = """
select
  cast(r_regionkey as double) as rkey,
  case r_regionkey when 0 then 'zero' when 1 then 'one' when 2 then 'two'
       else null end as rkey_value,
  r_name as rname
from region
"""


ORACLE_PCAPNG_SCAN = """
select
  cast(1000 + n_nationkey as int) as src_port,
  cast(443 as int) as dst_port,
  'TCP' as type,
  cast(n_nationkey as bigint) as tcp_ack,
  cast(case when n_nationkey % 2 = 0 then 1 else 0 end as int) as tcp_flags_syn,
  cast(case when n_nationkey % 2 = 0 then 0 else 1 end as int) as tcp_flags_ack,
  case when n_nationkey % 2 = 0 then 'SYN' else 'ACK' end as tcp_parsed_flags,
  strftime(to_timestamp(1700000000 + n_nationkey), '%Y-%m-%d %H:%M:%S') as ts
from nation
"""


# --------------------------------------------- training-data pipeline ops


_PII_ENRICH_SPARK = """
concat(text,
  case when doc_id % 3 = 0
       then concat(' contact user', cast(doc_id as string), '@example.com')
       else '' end,
  case when doc_id % 5 = 0
       then concat(' call 555-', lpad(cast(doc_id * 7 % 1000 as string), 3, '0'),
                   '-', lpad(cast(doc_id * 13 % 10000 as string), 4, '0'))
       else '' end,
  case when doc_id % 7 = 0
       then concat(' from 10.', cast(doc_id % 256 as string), '.0.',
                   cast(doc_id * 3 % 256 as string))
       else '' end,
  case when doc_id % 11 = 0
       then concat(' ssn 123-45-', lpad(cast(doc_id % 10000 as string), 4, '0'))
       else '' end)
"""

_PII_ENRICH_DUCK = _PII_ENRICH_SPARK.replace("as string", "as varchar")


def q_pii_redact(spark, sf_dir):
    """PII scan + redaction (one codegen pass; the fixture text is
    deterministically enriched with synthetic emails/phones/IPs/SSNs so
    the detector has real matches to find)."""
    from drill_spark.ops.pipeline import pii_scan

    docs = _docs(spark, sf_dir).select(
        "doc_id", F.expr(_PII_ENRICH_SPARK).alias("text")
    )
    return pii_scan(docs, "doc_id", "text")


ORACLE_PII_REDACT = r"""
with enriched as (
  select doc_id, {enrich} as text from documents
)
select doc_id,
  cast(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{{2,}}')) as bigint) as n_email,
  cast(len(regexp_extract_all(text, '\b\d{{3}}-\d{{2}}-\d{{4}}\b')) as bigint) as n_ssn,
  cast(len(regexp_extract_all(text, '\b\d{{3}}-\d{{3}}-\d{{4}}\b')) as bigint) as n_phone,
  cast(len(regexp_extract_all(text, '\b\d{{1,3}}\.\d{{1,3}}\.\d{{1,3}}\.\d{{1,3}}\b')) as bigint) as n_ip,
  regexp_replace(
    regexp_replace(
      regexp_replace(
        regexp_replace(text, '\b\d{{3}}-\d{{2}}-\d{{4}}\b', '[SSN]', 'g'),
        '\b\d{{3}}-\d{{3}}-\d{{4}}\b', '[PHONE]', 'g'),
      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{{2,}}', '[EMAIL]', 'g'),
    '\b\d{{1,3}}\.\d{{1,3}}\.\d{{1,3}}\.\d{{1,3}}\b', '[IP]', 'g') as redacted
from enriched
""".format(enrich=_PII_ENRICH_DUCK)


_LUHN_GOOD = "4208631975319752086420864197531975308642086429753197531864208642075319753196420864208531975319742086"
_LUHN_BAD = "9753186420864207531975319642086420853197531974208642086319753197520864208641975319753086420864297531"

_LUHN_ENRICH_SPARK = f"""
concat(text, ' pay ',
  concat('4111111111111', lpad(cast(doc_id % 100 as string), 2, '0'),
    case when doc_id % 2 = 0
         then substring('{_LUHN_GOOD}', cast(doc_id % 100 as int) + 1, 1)
         else substring('{_LUHN_BAD}', cast(doc_id % 100 as int) + 1, 1)
    end))
"""

_LUHN_ENRICH_DUCK = _LUHN_ENRICH_SPARK.replace("as string", "as varchar")


def q_pii_luhn(spark, sf_dir):
    """Checksum-validated card-number PII (ops/pipeline.py::luhn_scan):
    every document gets a synthetic 16-digit PAN appended — even
    doc_ids a Luhn-VALID one (check digit from a precomputed table),
    odd doc_ids the same number with a corrupted check digit. The
    validator must redact exactly the valid half; the oracle replays
    the full Luhn fold in DuckDB HOFs (1-based lambda index there)."""
    from drill_spark.ops.pipeline import luhn_scan

    docs = _docs(spark, sf_dir).select(
        "doc_id", F.expr(_LUHN_ENRICH_SPARK).alias("text"))
    return luhn_scan(docs, "doc_id", "text")


ORACLE_PII_LUHN = r"""
with enriched as (
  select doc_id, {enrich} as text from documents
),
c as (
  select doc_id, text,
    list_filter(regexp_extract_all(text, '\b(?:\d[ -]?){{12,18}}\d\b'), x ->
      len(regexp_replace(x, '[ -]', '', 'g')) between 13 and 19
      and list_sum(list_transform(
            generate_series(1, len(regexp_replace(x, '[ -]', '', 'g'))),
            i -> case when i % 2 = 0 then
                   case when cast(substring(reverse(regexp_replace(x, '[ -]', '', 'g')), i, 1) as int) * 2 > 9
                        then cast(substring(reverse(regexp_replace(x, '[ -]', '', 'g')), i, 1) as int) * 2 - 9
                        else cast(substring(reverse(regexp_replace(x, '[ -]', '', 'g')), i, 1) as int) * 2
                   end
                 else cast(substring(reverse(regexp_replace(x, '[ -]', '', 'g')), i, 1) as int)
            end)) % 10 = 0
    ) as cards
  from enriched
)
select doc_id, cast(len(cards) as bigint) as n_card,
  list_reduce(list_prepend(text, cards),
              (acc, x) -> replace(acc, x, '[CARD]')) as redacted
from c
""".format(enrich=_LUHN_ENRICH_DUCK)


def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination: every 20th document plays the held-out
    benchmark; corpus documents sharing any word 8-gram with it are
    reported (GPT-3/PaLM n-gram overlap convention)."""
    from drill_spark.ops.pipeline import decontaminate

    docs = _docs(spark, sf_dir)
    bench = docs.where(F.col("doc_id") % 20 == 0)
    corpus = docs.where(F.col("doc_id") % 20 != 0)
    return decontaminate(corpus, bench, "doc_id", "text", n=8)


ORACLE_DECONTAMINATE = r"""
with w as (
  select doc_id, string_split_regex(trim(lower(text)), '\s+') as w from documents
),
g as (
  select doc_id, unnest(list_distinct(list_transform(
      generate_series(1, greatest(len(w) - 7, 0)),
      i -> substring(md5(array_to_string(w[i:i+7], ' ')), 1, 16)))) as ng
  from w
  where len(w) >= 8
),
b as (select distinct ng from g where doc_id % 20 = 0),
c as (select * from g where doc_id % 20 <> 0)
select c.doc_id, count(distinct c.ng) as n_shared
from c join b on c.ng = b.ng
group by 1
"""


def q_bloom_decontaminate(spark, sf_dir):
    """Same decontamination contract as q_decontaminate through the
    ADAPTIVE membership join (ops/bloom.py): below the broadcast
    threshold (this SF) the benchmark gram set broadcast-hash-joins
    directly; past it a Catalyst-native Bloom sketch prefilters the
    corpus gram stream map-side and survivors exact-verify — identical
    results either way (the shared ORACLE_DECONTAMINATE proves it;
    sketch-path equivalence is pytest-forced via min_keys=0), shuffle
    sized by contamination rate instead of corpus size."""
    from drill_spark.ops.bloom import bloom_decontaminate

    docs = _docs(spark, sf_dir)
    bench = docs.where(F.col("doc_id") % 20 == 0)
    corpus = docs.where(F.col("doc_id") % 20 != 0)
    return bloom_decontaminate(corpus, bench, "doc_id", "text", n=8,
                               fpp=0.001)


def q_chunk_pack(spark, sf_dir):
    """Sequence packing: 32-token windows per document (chunk inventory
    for a tokenize-and-pack trainer)."""
    from drill_spark.ops.pipeline import chunk_tokens

    return chunk_tokens(_docs(spark, sf_dir), "doc_id", "text", max_tokens=32)


ORACLE_CHUNK_PACK = r"""
with w as (
  select doc_id, string_split_regex(trim(lower(text)), '\s+') as w from documents
),
c as (
  select doc_id, unnest(list_transform(
      generate_series(0, cast(ceil(len(w) / 32.0) as int) - 1),
      i -> struct_pack(
        chunk_id := cast(i as bigint),
        n_tokens := cast(len(w[i*32+1 : i*32+32]) as bigint),
        chunk_hash := md5(array_to_string(w[i*32+1 : i*32+32], ' '))))) as c
  from w
)
select doc_id, c.chunk_id as chunk_id, c.n_tokens as n_tokens,
       c.chunk_hash as chunk_hash
from c
"""


def q_repetition(spark, sf_dir):
    """Gopher-style repetition filter signals (per-row HOFs, no
    shuffle)."""
    from drill_spark.ops.pipeline import repetition_stats

    return repetition_stats(_docs(spark, sf_dir), "doc_id", "text")


ORACLE_REPETITION = r"""
with w as (
  select doc_id, string_split_regex(trim(lower(text)), '\s+') as w from documents
),
t as (
  select doc_id,
    round(1 - len(list_distinct(w)) * 1.0 / len(w), 4) as dup_word_frac,
    case when len(w) < 2 then 0.0 else
      round(list_max(list_transform(
          list_distinct(list_transform(generate_series(1, len(w) - 1),
                                       i -> w[i] || ' ' || w[i+1])),
          b -> len(list_filter(
              list_transform(generate_series(1, len(w) - 1),
                             i -> w[i] || ' ' || w[i+1]),
              x -> x = b)))) * 1.0
        / (len(w) - 1), 4)
    end as top_bigram_frac
  from w
)
select doc_id, dup_word_frac, top_bigram_frac,
       (dup_word_frac > 0.6 or top_bigram_frac > 0.18) as flagged
from t
"""


def q_stratified_sample(spark, sf_dir):
    """Deterministic per-language stratified sample: en 50%, zh 25%,
    es 12.5%, everything else ~6%."""
    from drill_spark.ops.pipeline import stratified_sample

    return stratified_sample(
        _docs(spark, sf_dir), "lang", {"en": "80", "zh": "40", "es": "20"},
        "doc_id",
    ).select("doc_id", "lang", "n_chars")


ORACLE_STRATIFIED_SAMPLE = """
select doc_id, lang, n_chars
from documents
where substring(md5(cast(doc_id as varchar)), 1, 2) <
      case lang when 'en' then '80' when 'zh' then '40' when 'es' then '20'
           else '10' end
"""


def q_quality_mixture(spark, sf_dir):
    """Quality-weighted mixture sampling: per-quality-band keep rates
    (6%/25%/50%/75%) over the composite quality score."""
    from drill_spark.ops.pipeline import quality_mixture_sample

    return quality_mixture_sample(_docs(spark, sf_dir), "doc_id", "text")


ORACLE_QUALITY_MIXTURE = r"""
with feats as (
  select doc_id,
         len(string_split_regex(trim(lower(text)), '\s+')) as n_words,
         round(length(text) * 1.0 / greatest(len(string_split_regex(trim(lower(text)), '\s+')), 1), 4) as avg_word_len,
         len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
             t -> t in ('the','and','of','to','a','in','is','it'))) as stopword_hits
  from documents
),
scored as (
  select doc_id,
         round(least(1.0, n_words / 50.0) * 0.5
               + case when avg_word_len between 3 and 10 then 0.3 else 0.0 end
               + least(0.2, stopword_hits / 10.0 * 0.2), 4) as quality_score
  from feats
),
bucketed as (
  select doc_id, quality_score,
         cast(least(4, floor(quality_score * 4) + 1) as int) as bucket
  from scored
)
select doc_id, quality_score, bucket
from bucketed
where substring(md5(cast(doc_id as varchar)), 1, 2) <
      case bucket when 1 then '10' when 2 then '40' when 3 then '80'
           else 'c0' end
"""


def q_semantic_dedup(spark, sf_dir):
    """SemDeDup-style semantic dedup (Abbas et al. 2023): k-means
    clusters + within-cluster cosine groups + canonical-keep flags.
    Iterative k-means training is not SQL-expressible -> rows-only
    driver check; exactness vs a brute-force union-find oracle is
    pytest-verified (test_semantic_dedup_matches_bruteforce)."""
    from drill_spark.ops.similarity import semantic_dedup

    # n_cells=None auto-sizes the quantizer to ceil(count/250): 8 cells
    # at sf0.1 (unchanged), 80 at the 10x soak, 800 at 100x — per-cell
    # pair work stays ~constant instead of growing quadratically.
    return semantic_dedup(_embs(spark, sf_dir), n_cells=None,
                          target_cell_size=250, threshold=0.9)


def q_trigram_lm(spark, sf_dir):
    """Corpus-trained char-trigram LM quality score (the KenLM-style
    perplexity filter of public curation pipelines), oracle-backed."""
    from drill_spark.ops.text import trigram_lm_score

    docs = load_fixture(spark, sf_dir, "documents").where("doc_id < 200")
    return trigram_lm_score(docs)


ORACLE_TRIGRAM_LM = """
with docs as (
  select doc_id, text from documents where doc_id < 200 and length(text) >= 3
),
idx as (
  select doc_id, text, unnest(generate_series(1, length(text) - 2)) as i from docs
),
grams as (
  select doc_id, substr(text, cast(i as int), 3) as g,
         substr(text, cast(i as int), 2) as b
  from idx
),
c3 as (select g, count(*) as c3 from grams group by g),
c2 as (select b, count(*) as c2 from grams group by b),
v as (select count(*) as v from c3)
select doc_id, round(avg(ln((c3 + 1.0) / (c2 + v))), 3) as lm_score,
       cast(count(*) as bigint) as n_grams
from grams join c3 using (g) join c2 using (b) cross join v
group by doc_id
"""


def q_chunk_overlap(spark, sf_dir):
    """Sliding-window chunking (chunk_tokens with stride < max):
    24-token windows every 16 tokens, so consecutive chunks share 8
    tokens — the RAG-index convention where no passage straddles a
    boundary unseen. Same one-generator plan as the non-overlapping
    inventory; hash-oracle-backed."""
    from drill_spark.ops.pipeline import chunk_tokens

    return chunk_tokens(_docs(spark, sf_dir), "doc_id", "text",
                        max_tokens=24, stride=16)


ORACLE_CHUNK_OVERLAP = r"""
with w as (
  select doc_id, string_split_regex(trim(lower(text)), '\s+') as w
  from documents
),
c as (
  select doc_id, unnest(list_transform(
      generate_series(0, cast(floor(greatest(len(w) - 1, 0) / 16.0) as int)),
      i -> struct_pack(
        chunk_id := cast(i as bigint),
        n_tokens := cast(len(w[i*16+1 : i*16+24]) as bigint),
        chunk_hash := md5(array_to_string(w[i*16+1 : i*16+24], ' '))))) as c
  from w
)
select doc_id, c.chunk_id as chunk_id, c.n_tokens as n_tokens,
       c.chunk_hash as chunk_hash
from c
"""


def q_bpe_tokens(spark, sf_dir):
    """REAL trained-BPE token accounting (Sennrich et al. merge loop,
    trained on the corpus word counts): per-doc subword token counts.
    Upgraded rows-only -> HASH-ORACLE in r12: the DuckDB replay runs
    BOTH halves of the algorithm — the training loop as a recursive
    CTE over the word-frequency table (global argmax pair per
    iteration via a scalar subquery over the working table;
    lexicographic tie-break; the non-overlapping left-to-right merge
    application as a list_reduce fold — a+b can never equal a, so the
    fold IS the paper's single pass) and the by-rank encode loop as a
    second recursion per distinct word — so the whole train+apply
    pipeline is engine-exact, not just pytest-pinned."""
    from drill_spark.ops.bpe import corpus_bpe_stats

    docs = _docs(spark, sf_dir).where("doc_id < 500")
    return corpus_bpe_stats(spark, docs, n_merges=100)


ORACLE_BPE_TOKENS = r"""
with recursive
doc_words as (
  select doc_id,
         list_filter(string_split_regex(trim(lower(text)), '\s+'),
                     x -> x <> '') as ws
  from documents where doc_id < 500
),
train(it, w, syms, n, mk) as (
  select 0, w,
         list_append(list_transform(range(1, length(w) + 1), i -> w[i]),
                     '</w>'),
         n, cast(null as varchar)
  from (select w, cast(count(*) as bigint) as n
        from (select unnest(ws) as w from doc_words)
        group by w order by n desc, w limit 50000)
  union all
  select t.it + 1, t.w,
         list_reduce(
           list_transform(t.syms, s -> [s]),
           (acc, x) -> case when acc[len(acc)] = best.a and x[1] = best.b
                            then list_slice(acc, 1, len(acc) - 1)
                                 || [best.a || best.b]
                            else acc || x end),
         t.n, best.k
  from train t,
       (select k, string_split(k, chr(1))[1] as a,
               string_split(k, chr(1))[2] as b, s
        from (select k, sum(n) as s from (
                select unnest(list_transform(range(1, len(syms)),
                       i -> syms[i] || chr(1) || syms[i+1])) as k, n
                from train) z
              group by k) zz
        where s = (select max(s2) from (select sum(n) as s2 from (
                     select unnest(list_transform(range(1, len(syms)),
                            i -> syms[i] || chr(1) || syms[i+1])) as k2, n
                     from train) y group by k2) yy)
        order by k limit 1) best
  where t.it < 100 and best.s >= 2
),
rmap as (
  select map(list(mk), list(it - 1)) as m
  from (select distinct it, mk from train where mk is not null)
),
dwords as (select distinct unnest(ws) as w from doc_words),
enc(w, syms) as (
  select w, list_append(list_transform(range(1, length(w) + 1),
                                       i -> w[i]), '</w>')
  from dwords
  union all
  select w, list_slice(syms, 1, bi - 1) || [syms[bi] || syms[bi + 1]]
            || list_slice(syms, bi + 2, len(syms))
  from (
    select w, syms, list_position(prs, list_min(prs)) as bi,
           list_min(prs) as br
    from (
      select w, syms,
             list_transform(range(1, len(syms)), i ->
               coalesce(map_extract(m, syms[i] || chr(1) || syms[i + 1])[1],
                        1073741824)) as prs
      from enc, rmap
    ) p1
  ) p2
  where br < 1073741824
),
wtok as (select w, cast(min(len(syms)) as bigint) as n_tok
         from enc group by w)
select dw.doc_id,
       coalesce(s.n_tokens, cast(0 as bigint)) as n_tokens,
       cast(len(dw.ws) as bigint) as n_words
from doc_words dw
left join (
  select doc_id, cast(sum(n_tok) as bigint) as n_tokens
  from (select doc_id, unnest(ws) as w from doc_words) u
  join wtok using (w)
  group by doc_id
) s using (doc_id)
"""


def q_ann_pq(spark, sf_dir):
    """Product-quantization ANN (Jegou et al. 2011 / FAISS IndexPQ +
    refine): per-subspace codebooks trained on a bounded sample, ADC
    scan over m-byte codes, exact re-rank of the top candidates.
    K-means training is not SQL-expressible -> rows-only; recall vs
    brute force is pytest-bounded (test_ann_pq_recall)."""
    from drill_spark.ops.similarity import pq_topk

    return pq_topk(_embs(spark, sf_dir), query_ids=[0, 1, 2, 3, 4],
                   k=3, m=8, n_codes=16)


def q_gopher_repetition(spark, sf_dir):
    """FULL Gopher repetition table (Rae et al. 2021 Table A1 —
    ops/pipeline.py::gopher_repetition): 13 signals per document —
    duplicate line/paragraph occurrence+character fractions, top-2/3/4
    word-gram character fractions, and coverage-union dup-5..10-gram
    character fractions — plus the paper's composite flag. All nine
    n-gram signals come off ONE window pass; exact integer character
    sums make every fraction a single double division, so the whole
    table hash-checks against the closed-form DuckDB replay."""
    from drill_spark.ops.pipeline import gopher_repetition

    return gopher_repetition(_docs(spark, sf_dir))


ORACLE_GOPHER_REPETITION = r"""
with d3 as (
  select doc_id, lower(text) as lt, toks, len(toks) as ntok,
         cast(list_sum(list_transform(toks, t -> length(t))) as bigint)
           as total_chars
  from (select doc_id, text,
               list_filter(string_split_regex(trim(lower(text)), '\s+'),
                           x -> x <> '') as toks
        from documents)
  where len(toks) > 0
),
g as (
  select doc_id, nn.n as n, pp.i as p,
         array_to_string(toks[pp.i : pp.i + nn.n - 1], ' ') as g
  from d3,
       unnest(range(2, 11)) as nn(n),
       unnest(range(1, greatest(ntok - nn.n, -1) + 2)) as pp(i)
),
gc as (select doc_id, n, g, count(*) as c from g group by all),
top as (
  select doc_id, n,
         cast(c * (length(g) - (n - 1)) as bigint) as chars
  from (select *, row_number() over (partition by doc_id, n
                                     order by c desc, g asc) as rk
        from gc where n <= 4)
  where rk = 1
),
dup as (select doc_id, n, g from gc where n >= 5 and c >= 2),
cov as (
  select distinct g.doc_id, g.n, cq.q
  from g join dup using (doc_id, n, g),
       unnest(range(g.p, g.p + g.n)) as cq(q)
),
tokp as (select doc_id, unnest(toks) as tok,
                unnest(range(1, ntok + 1)) as q from d3),
covc as (
  select cov.doc_id, cov.n, cast(sum(length(t.tok)) as bigint) as chars
  from cov join tokp t on t.doc_id = cov.doc_id and t.q = cov.q
  group by cov.doc_id, cov.n
),
fr as (
  select doc_id,
         max(case when n = 2 then chars end) as ch2,
         max(case when n = 3 then chars end) as ch3,
         max(case when n = 4 then chars end) as ch4,
         max(case when n = 5 then chars end) as ch5,
         max(case when n = 6 then chars end) as ch6,
         max(case when n = 7 then chars end) as ch7,
         max(case when n = 8 then chars end) as ch8,
         max(case when n = 9 then chars end) as ch9,
         max(case when n = 10 then chars end) as ch10
  from (select * from top union all select * from covc)
  group by doc_id
),
segsrc as (
  select doc_id,
         list_filter(list_transform(string_split_regex(lt, '\n'),
             x -> regexp_replace(x, '^\s+|\s+$', '', 'g')),
             x -> x <> '') as ls,
         list_filter(list_transform(string_split_regex(lt, '\n\n'),
             x -> regexp_replace(x, '^\s+|\s+$', '', 'g')),
             x -> x <> '') as ps
  from d3
),
segm as (
  select doc_id,
         case when len(ls) > 0 then round(
           cast(len(list_filter(ls, x -> len(list_filter(ls, y -> y = x)) >= 2)) as double) / len(ls), 4)
           else 0.0 end as dup_line_frac,
         case when coalesce(list_sum(list_transform(ls, s -> length(s))), 0) > 0 then round(
           cast(coalesce(list_sum(list_transform(list_filter(ls, x -> len(list_filter(ls, y -> y = x)) >= 2), s -> length(s))), 0) as double)
           / list_sum(list_transform(ls, s -> length(s))), 4)
           else 0.0 end as dup_line_char_frac,
         case when len(ps) > 0 then round(
           cast(len(list_filter(ps, x -> len(list_filter(ps, y -> y = x)) >= 2)) as double) / len(ps), 4)
           else 0.0 end as dup_para_frac,
         case when coalesce(list_sum(list_transform(ps, s -> length(s))), 0) > 0 then round(
           cast(coalesce(list_sum(list_transform(list_filter(ps, x -> len(list_filter(ps, y -> y = x)) >= 2), s -> length(s))), 0) as double)
           / list_sum(list_transform(ps, s -> length(s))), 4)
           else 0.0 end as dup_para_char_frac
  from segsrc
)
select d3.doc_id,
       segm.dup_line_frac, segm.dup_line_char_frac,
       segm.dup_para_frac, segm.dup_para_char_frac,
       round(cast(coalesce(ch2, 0) as double) / total_chars, 4) as top_2gram_char_frac,
       round(cast(coalesce(ch3, 0) as double) / total_chars, 4) as top_3gram_char_frac,
       round(cast(coalesce(ch4, 0) as double) / total_chars, 4) as top_4gram_char_frac,
       round(cast(coalesce(ch5, 0) as double) / total_chars, 4) as dup_5gram_char_frac,
       round(cast(coalesce(ch6, 0) as double) / total_chars, 4) as dup_6gram_char_frac,
       round(cast(coalesce(ch7, 0) as double) / total_chars, 4) as dup_7gram_char_frac,
       round(cast(coalesce(ch8, 0) as double) / total_chars, 4) as dup_8gram_char_frac,
       round(cast(coalesce(ch9, 0) as double) / total_chars, 4) as dup_9gram_char_frac,
       round(cast(coalesce(ch10, 0) as double) / total_chars, 4) as dup_10gram_char_frac,
       (segm.dup_line_frac > 0.30 or segm.dup_para_frac > 0.30
        or segm.dup_line_char_frac > 0.20 or segm.dup_para_char_frac > 0.20
        or round(cast(coalesce(ch2,0) as double)/total_chars,4) > 0.20
        or round(cast(coalesce(ch3,0) as double)/total_chars,4) > 0.18
        or round(cast(coalesce(ch4,0) as double)/total_chars,4) > 0.16
        or round(cast(coalesce(ch5,0) as double)/total_chars,4) > 0.15
        or round(cast(coalesce(ch6,0) as double)/total_chars,4) > 0.14
        or round(cast(coalesce(ch7,0) as double)/total_chars,4) > 0.13
        or round(cast(coalesce(ch8,0) as double)/total_chars,4) > 0.12
        or round(cast(coalesce(ch9,0) as double)/total_chars,4) > 0.11
        or round(cast(coalesce(ch10,0) as double)/total_chars,4) > 0.10)
         as flagged
from d3 join fr using (doc_id) join segm using (doc_id)
"""


def q_gis_points(spark, sf_dir):
    """GIS point fast path (Catalyst HOFs, no pandas UDF): st_point /
    st_x / st_y / st_distance / st_dwithin / st_within_box over
    supplier-derived coordinates — oracle = the plain closed-form
    geometry math in SQL, so the whole ST_* fast tier is hash-checked
    by the driver, not just pytest."""
    from drill_spark import functions as dfn

    dfn.ensure_registered(spark)
    sup = load_fixture(spark, sf_dir, "supplier")
    sup.createOrReplaceTempView("supplier")
    return spark.sql("""
        select s_suppkey,
               round(st_x(pt), 4) as x, round(st_y(pt), 4) as y,
               round(st_distance(pt, st_point(0.0, 0.0)), 4) as dist_origin,
               st_dwithin(pt, st_point(10.0, 10.0), 15.0) as near_corner,
               st_within_box(pt, -50.0, -10.0, 50.0, 30.0) as in_box
        from (
          select s_suppkey,
                 st_point(s_acctbal / 100.0, cast(s_nationkey as double)) as pt
          from supplier
        )
    """)


ORACLE_GIS_POINTS = """
select s_suppkey,
       round(s_acctbal / 100.0, 4) as x,
       round(cast(s_nationkey as double), 4) as y,
       round(sqrt((s_acctbal / 100.0) * (s_acctbal / 100.0)
                  + s_nationkey * s_nationkey), 4) as dist_origin,
       (sqrt((s_acctbal / 100.0 - 10.0) * (s_acctbal / 100.0 - 10.0)
             + (s_nationkey - 10.0) * (s_nationkey - 10.0)) <= 15.0) as near_corner,
       (s_acctbal / 100.0 between -50.0 and 50.0
        and s_nationkey between -10.0 and 30.0) as in_box
from supplier
"""


def q_ann_ivfpq(spark, sf_dir):
    """IVF+PQ ANN (the FAISS IVFPQ layout, by_residual=False): coarse
    cells bound the search, ADC over m-byte codes scores it, exact
    re-rank finishes. rows-only (k-means); recall + probe-restriction
    pytest-verified (test_ivfpq_recall_and_probe_restriction)."""
    from drill_spark.ops.similarity import ivfpq_topk

    return ivfpq_topk(_embs(spark, sf_dir), query_ids=[0, 1, 2, 3, 4],
                      k=3, n_cells=8, nprobe=3)


def q_substring_dedup(spark, sf_dir):
    """Exact-substring dedup via winnowing fingerprints (ops/winnow.py;
    the Lee et al. 2022 duplication mode, MOSS-style candidate
    generation). Oracle-checkable ground truth: documents.text rows
    share long verbatim passages only where the fixture generator
    reused sentences — instead of depending on that, the query plants
    its own passages: doc text = fixture text + a passage selected by
    doc_id % 5, so docs with equal doc_id % 5 (within the id<60 slice)
    share a >=40-char verbatim span and others don't. The oracle is the
    closed-form pair set in SQL. Spans found by the real
    fingerprint->join->extend pipeline, pairs compared."""
    from drill_spark.ops.winnow import substring_dup_spans

    # passages interleave the class digit every few characters so no
    # two classes share a 40-char run; fillers are doc-unique tokens
    passages = [
        f"b{i}oilerplate p{i}assage re{i}peated ve{i}rbatim "
        f"acr{i}oss doc{i}uments edi{i}tion cl{i}ass fin{i}al"
        for i in range(5)
    ]
    docs = (
        load_fixture(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 60)
        .select(
            "doc_id",
            F.concat(
                F.lit("document "), F.col("doc_id").cast("string"),
                F.lit(" filler "),
                F.repeat(F.concat(F.lit("tok"), F.col("doc_id").cast("string"),
                                  F.lit(" ")), 20),
                F.lit("<<"),
                F.element_at(F.array(*[F.lit(p) for p in passages]),
                             (F.col("doc_id") % 5 + 1).cast("int")),
                F.lit(">>"),
            ).alias("text"),
        )
    )
    return (substring_dup_spans(docs, min_len=40, max_bucket=16)
            .select("id_a", "id_b").distinct().orderBy("id_a", "id_b"))


ORACLE_SUBSTRING_DEDUP = """
select a.doc_id as id_a, b.doc_id as id_b
from documents a
join documents b
  on a.doc_id % 5 = b.doc_id % 5 and a.doc_id < b.doc_id
where a.doc_id < 60 and b.doc_id < 60
order by id_a, id_b
"""


# Shared by q_substring_dedup_apply and its oracle: the planted
# passages interleave the class digit so no two classes share a
# 40-char run.
_APPLY_PASSAGES = [
    f"b{i}oilerplate p{i}assage re{i}peated ve{i}rbatim "
    f"acr{i}oss doc{i}uments edi{i}tion cl{i}ass fin{i}al"
    for i in range(5)
]


def q_substring_dedup_apply(spark, sf_dir):
    """APPLY exact-substring dedup end to end: detect duplicated
    passages with the real winnowing pipeline (ops/winnow.py), then cut
    them from the lower-priority documents (remove_dup_spans). The
    fixture pins the span boundaries closed-form: each doc's planted
    passage is wrapped in chr(161+doc_id) sentinels, unique per doc, so
    the maximal verbatim span between same-class docs is EXACTLY the
    passage — never extended into neighbors — and the oracle can
    rebuild both the dirty and the cleaned text in plain SQL."""
    from drill_spark.ops.winnow import remove_dup_spans, substring_dup_spans

    base = (
        load_fixture(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 60)
        .select("doc_id")
    )
    did = F.col("doc_id").cast("string")
    sentinel = F.expr("char(161 + doc_id)")
    passage = F.element_at(
        F.array(*[F.lit(p) for p in _APPLY_PASSAGES]),
        (F.col("doc_id") % 5).cast("int") + 1)
    docs = base.select(
        "doc_id",
        F.concat(
            F.lit("doc "), did, F.lit(" start "), sentinel, passage,
            sentinel, F.lit(" tail "),
            F.repeat(F.concat(F.lit("u"), did, F.lit(" ")), 10),
        ).alias("text"),
    )
    spans = substring_dup_spans(docs, "doc_id", "text", min_len=40)
    return remove_dup_spans(docs, spans, "doc_id", "text").select(
        "doc_id", "text", "removed_chars")


_APPLY_PASSAGE_SQL = "case doc_id % 5 " + " ".join(
    f"when {i} then '{p}'" for i, p in enumerate(_APPLY_PASSAGES)
) + " end"

ORACLE_SUBSTRING_DEDUP_APPLY = f"""
with d as (
  select doc_id,
         {_APPLY_PASSAGE_SQL} as p,
         'doc ' || doc_id || ' start ' || chr(cast(161 + doc_id as int)) as pre,
         chr(cast(161 + doc_id as int)) || ' tail ' || repeat('u' || doc_id || ' ', 10) as post
  from documents
  where doc_id < 60
),
dup as (
  select distinct b.doc_id
  from d a join d b on a.doc_id % 5 = b.doc_id % 5 and a.doc_id < b.doc_id
)
select d.doc_id,
       case when dup.doc_id is null then d.pre || d.p || d.post
            else d.pre || d.post end as text,
       cast(case when dup.doc_id is null then 0 else length(d.p) end as bigint)
         as removed_chars
from d left join dup on d.doc_id = dup.doc_id
"""


def q_audio_dedup(spark, sf_dir):
    """Audio fingerprint dedup (ops/audiofp.py: Haitsma-Kalker frame
    hashes + offset-aligned anchor join), oracle-checked with
    closed-form ground truth: nation key k belongs to waveform group
    g = k div 3; the three members are the SAME two-tone signal as
    (k%3==0) the original FLAC, (k%3==1) an EXACT x2 gain (integer
    doubling — sign-of-difference hashes are scale-invariant), and
    (k%3==2) a 2-hop leading trim (the offset histogram aligns it).
    All payloads go through the real FLAC codec; different groups use
    different tone pairs and share no aligned frames, so the duplicate
    pair set is the within-group pairs — plain integer SQL for the
    oracle."""
    import pandas as pd

    from drill_spark.ops.audiofp import audio_near_dupes

    nat = load_fixture(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("bigint").alias("doc_id")
    )

    def build(batches):
        import numpy as np

        from drill_spark.ops.flac import encode_flac

        rate = 8000
        t = np.arange(rate * 2) / rate  # 2 s = 14 frames: enough anchors, half the encode cost
        for pdf in batches:
            rows = []
            for k in pdf["doc_id"]:
                k = int(k)
                g = k // 3
                sig = (0.30 * np.sin(2 * np.pi * (500 + 70 * g) * t)
                       + 0.18 * np.sin(2 * np.pi * (900 + 110 * g)
                                       * t * (1 + 0.05 * np.sin(2 * np.pi * 0.5 * t))))
                base = (sig * 8000).astype("int32")
                if k % 3 == 1:
                    pcm = base * 2  # exact gain: integer doubling
                elif k % 3 == 2:
                    pcm = base[2048:]  # 2-hop leading trim
                else:
                    pcm = base
                rows.append({"doc_id": k,
                             "payload": encode_flac(pcm, rate, bits=16)})
            yield pd.DataFrame.from_records(rows, columns=["doc_id", "payload"])

    from drill_spark.ops.pipeline import _spread

    # fan the 25-row driver fixture across the cluster first: the codec
    # synthesis below is the expensive per-row stage, and a single-file
    # scan would run it in ONE task
    docs = _spread(nat).mapInPandas(build, schema="doc_id bigint, payload binary")
    return (audio_near_dupes(docs, "doc_id", "payload", min_matches=6)
            .select("id_a", "id_b").orderBy("id_a", "id_b"))


ORACLE_AUDIO_DEDUP = """
select a.n_nationkey as id_a, b.n_nationkey as id_b
from nation a
join nation b
  on a.n_nationkey // 3 = b.n_nationkey // 3
 and a.n_nationkey < b.n_nationkey
order by id_a, id_b
"""


def q_quality_classifier(spark, sf_dir):
    """Trainable quality classifier (ops/classifier.py — the
    fastText-shaped hashed-ngram logistic regression the published
    corpus pipelines gate on). Deterministic ground truth: documents
    with even doc_id get a planted 'reference' vocabulary suffix, odd
    ones a 'crawl' suffix; the pipeline trains on doc_id < 300 and
    scores the rest. Rows-only for the driver (LBFGS weights are not a
    cross-engine contract); the pytest bounds holdout accuracy."""
    from drill_spark.ops.classifier import score_text, train_text_classifier

    docs = (
        load_fixture(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 500)
        .select(
            "doc_id",
            (F.col("doc_id") % 2 == 0).cast("double").alias("label"),
            F.concat(
                F.col("text"), F.lit(" "),
                F.when(F.col("doc_id") % 2 == 0,
                       F.lit("theorem manifold integral lemma polynomial"))
                .otherwise(F.lit("click cheap winner casino offer")),
            ).alias("text"),
        )
    )
    train = docs.where("doc_id < 300")
    rest = docs.where("doc_id >= 300")
    model = train_text_classifier(train, n_features=1 << 12, max_iter=8)
    return (score_text(rest, model)
            .select("doc_id", "label",
                    (F.col("quality_score") >= 0.5).alias("keep"))
            .orderBy("doc_id"))


def q_video_dedup(spark, sf_dir):
    """Video dedup (ops/videofp.py: per-frame DCT pHash + offset-aligned
    banded join), oracle-checked: nation key k belongs to clip group
    g = k div 3; members are the SAME structured 6-frame clip as
    (k%3==0) raw BI_RGB AVI, (k%3==1) a REAL MJPG re-encode through the
    from-scratch JPEG codec, (k%3==2) a 2-frame-trimmed raw copy.
    Different groups use different gradients/blob tracks and never
    align; the duplicate pair set is the within-group pairs — plain
    integer SQL for the oracle."""
    import pandas as pd

    from drill_spark.ops.videofp import video_near_dupes

    nat = load_fixture(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("bigint").alias("doc_id")
    )

    def build(batches):
        import numpy as np

        from drill_spark.ops.video import encode_avi

        for pdf in batches:
            rows = []
            for k in pdf["doc_id"]:
                k = int(k)
                g = k // 3
                frames = []
                y, x = np.mgrid[0:40, 0:40]
                for t in range(6):
                    img = np.stack([
                        (x * 6 + g * 61 + t * 11) % 256,
                        (y * 6 + g * 43) % 256,
                        ((x + y) * 3 + g * 29) % 256,
                    ], axis=2).astype(np.uint8)
                    img[4 + t * 3: 16 + t * 3, 6:26] = [(g * 83) % 256, 200, 40]
                    frames.append(img)
                if k % 3 == 1:
                    payload = encode_avi(frames, fps=5, codec="mjpg")
                elif k % 3 == 2:
                    payload = encode_avi(frames[2:], fps=5, codec="raw")
                else:
                    payload = encode_avi(frames, fps=5, codec="raw")
                rows.append({"doc_id": k, "payload": payload})
            yield pd.DataFrame.from_records(rows, columns=["doc_id", "payload"])

    from drill_spark.ops.pipeline import _spread

    # fan the 25-row driver fixture across the cluster first: the MJPG
    # re-encode below is the expensive per-row stage, and a single-file
    # scan would run it in ONE task
    docs = _spread(nat).mapInPandas(build, schema="doc_id bigint, payload binary")
    return (video_near_dupes(docs, "doc_id", "payload", min_matches=3)
            .select("id_a", "id_b").orderBy("id_a", "id_b"))


ORACLE_VIDEO_DEDUP = ORACLE_AUDIO_DEDUP  # same closed-form group pairs


def q_image_phash_dedup(spark, sf_dir):
    """Perceptual-hash image dedup (ops/phash.py: DCT pHash + banded
    hamming bucket join), oracle-checked with closed-form ground truth:
    every nation key k belongs to base-image group g = k div 3; the
    three group members are the SAME structured image as (k%3==0) a
    BMP original, (k%3==1) a REAL JPEG q85 re-encode, (k%3==2) a
    brightness-shifted BMP. Re-encodes and brightness shifts land
    within a couple of pHash bits; different groups (different gradient
    phase + blob position) differ by ~30 — so the exact duplicate-pair
    set is the within-group pairs, which the DuckDB oracle computes as
    plain integer arithmetic. No stub: payloads go through the real
    BMP/JPEG codecs on both sides of the hash."""
    import pandas as pd

    from drill_spark.ops.phash import phash_near_dupes

    nat = load_fixture(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("bigint").alias("doc_id")
    )

    def build(batches):
        import numpy as np

        from drill_spark.ops.jpeg import encode_jpeg
        from drill_spark.ops.multimodal import encode_bmp

        for pdf in batches:
            rows = []
            for k in pdf["doc_id"]:
                k = int(k)
                g = k // 3
                y, x = np.mgrid[0:64, 0:64]
                img = np.stack([
                    (x * 4 + g * 37) % 256,
                    (y * 4 + g * 59) % 256,
                    ((x + y) * 2 + g * 23) % 256,
                ], axis=2).astype(np.uint8)
                bx = 8 + (g * 11) % 30
                by = 8 + (g * 17) % 30
                img[by:by + 18, bx:bx + 18] = [(g * 71) % 256, 30, 220]
                if k % 3 == 1:
                    payload = encode_jpeg(img, quality=85)
                elif k % 3 == 2:
                    payload = encode_bmp(
                        np.clip(img.astype(int) + 15, 0, 255).astype(np.uint8))
                else:
                    payload = encode_bmp(img)
                rows.append({"doc_id": k, "payload": payload})
            yield pd.DataFrame.from_records(rows, columns=["doc_id", "payload"])

    docs = nat.mapInPandas(build, schema="doc_id bigint, payload binary")
    return (phash_near_dupes(docs, "doc_id", "payload",
                             bands=4, max_hamming=10)
            .select("id_a", "id_b")
            .orderBy("id_a", "id_b"))


ORACLE_IMAGE_PHASH_DEDUP = """
select a.n_nationkey as id_a, b.n_nationkey as id_b
from nation a
join nation b
  on a.n_nationkey // 3 = b.n_nationkey // 3
 and a.n_nationkey < b.n_nationkey
order by id_a, id_b
"""


def q_bm25_topk(spark, sf_dir):
    """BM25 top-10 retrieval over documents (ops/search.py): inline
    postings restricted to the query terms before any shuffle, dl from
    size(split()) with no explode, df + corpus stats broadcast, top-k
    via TakeOrderedAndProject. Oracle recomputes Lucene-idf BM25
    closed-form in SQL; ranking compares 6-decimal-rounded scores with
    doc_id tiebreak so last-ulp ln() differences can't flip ranks."""
    from drill_spark.ops.search import bm25_topk

    return bm25_topk(_docs(spark, sf_dir),
                     ["merge", "spark", "vector", "window"], k=10)


ORACLE_BM25_TOPK = r"""
with tok as (
  select doc_id, term from (
    select doc_id,
           unnest(regexp_split_to_array(trim(lower(text)), '\s+')) as term
    from documents)
  where term <> ''
),
dl as (select doc_id, count(*) as dl from tok group by 1),
corpus as (select count(*) as n_docs, avg(dl) as avgdl from dl),
post as (
  select term, doc_id, count(*) as tf from tok
  where term in ('merge', 'spark', 'vector', 'window') group by 1, 2
),
dfreq as (select term, count(*) as df from post group by 1),
scored as (
  select p.doc_id,
         round(sum(ln(1.0 + (c.n_docs - f.df + 0.5) / (f.df + 0.5))
                   * (p.tf * 2.2
                      / (p.tf + 1.2 * (1 - 0.75 + 0.75 * d.dl / c.avgdl)))),
               6) as score
  from post p
  join dfreq f using (term)
  join dl d using (doc_id)
  cross join corpus c
  group by p.doc_id
)
select doc_id, score from scored order by score desc, doc_id limit 10
"""


def q_tfidf_keywords(spark, sf_dir):
    """Per-document top-3 keywords by smooth tf-idf (ops/search.py):
    vocabulary-sized df aggregate broadcast back, one window per doc.
    Oracle is the same math in SQL; rank compares rounded tf-idf with
    term tiebreak."""
    from drill_spark.ops.search import tfidf_keywords

    return tfidf_keywords(_docs(spark, sf_dir), top_n=3)


ORACLE_TFIDF_KEYWORDS = r"""
with tok as (
  select doc_id, term from (
    select doc_id,
           unnest(regexp_split_to_array(trim(lower(text)), '\s+')) as term
    from documents)
  where term <> ''
),
post as (select term, doc_id, count(*) as tf from tok group by 1, 2),
dfreq as (select term, count(*) as df from post group by 1),
n as (select count(*) as n_docs from documents),
scored as (
  select p.doc_id, p.term,
         round(p.tf * (ln((1.0 + n.n_docs) / (f.df + 1.0)) + 1.0), 6)
           as tfidf
  from post p join dfreq f using (term) cross join n
),
ranked as (
  select doc_id, term, tfidf,
         cast(row_number() over (partition by doc_id
                                 order by tfidf desc, term) as int)
           as kw_rank
  from scored
)
select doc_id, term, tfidf, kw_rank from ranked where kw_rank <= 3
"""


def q_fuzzy_join(spark, sf_dir):
    """Fuzzy join / entity resolution (ops/fuzzy.py): part names vs a
    deterministically-perturbed name list (last char -> 'x'), token
    blocking + length-band prefilter + codegen levenshtein verify at
    distance <= 2. Oracle replays the same blocking + verify in SQL
    (integer distances — no float thresholds to disagree on)."""
    from drill_spark.ops.fuzzy import fuzzy_join

    part = load_fixture(spark, sf_dir, "part")
    left = part.select("p_partkey", "p_name")
    right = (
        part.select(F.expr(
            "concat(substring(p_name, 1, length(p_name) - 1), 'x')"
        ).alias("rname"))
        .distinct()
        .select(F.col("rname").alias("rid"), "rname")
    )
    return (
        fuzzy_join(left, right, "p_partkey", "p_name", "rid", "rname",
                   max_dist=2)
        .select("p_partkey", "rname", F.col("dist").cast("int").alias("dist"))
    )


ORACLE_FUZZY_JOIN = r"""
with l as (select p_partkey, p_name from part),
r0 as (
  select distinct
         concat(substring(p_name, 1, length(p_name) - 1), 'x') as rname
  from part
),
lt as (
  select distinct p_partkey, tok from (
    select p_partkey,
           unnest(regexp_split_to_array(trim(lower(p_name)), '\s+')) as tok
    from l)
  where tok <> ''
),
rt as (
  select distinct rname, tok from (
    select rname,
           unnest(regexp_split_to_array(trim(lower(rname)), '\s+')) as tok
    from r0)
  where tok <> ''
),
cand as (select distinct p_partkey, rname from lt join rt using (tok)),
verified as (
  select c.p_partkey, c.rname,
         cast(levenshtein(l.p_name, c.rname) as int) as dist
  from cand c join l using (p_partkey)
  where abs(length(l.p_name) - length(c.rname)) <= 2
)
select p_partkey, rname, dist from verified where dist <= 2
"""


def q_leakage_split(spark, sf_dir):
    """Leakage-safe train/val/test split (ops/pipeline.py::group_split):
    exact-dup groups (md5 of normalized text) each land wholly in one
    split, keyed by the md5 2-hex prefix of the group's min doc_id.
    Oracle reproduces groups + gate closed-form."""
    from drill_spark.ops.dedup import normalize_text
    from drill_spark.ops.pipeline import group_split

    docs = _docs(spark, sf_dir)
    return group_split(
        docs, F.md5(normalize_text(F.col("text"))), "doc_id"
    ).select("doc_id", "split")


ORACLE_LEAKAGE_SPLIT = r"""
with g as (
  select doc_id,
         md5(regexp_replace(lower(text), '\s+', ' ', 'g')) as grp
  from documents
),
reps as (select grp, min(doc_id) as rep from g group by 1)
select g.doc_id,
       case when substring(md5(cast(r.rep as varchar)), 1, 2) < 'e6'
              then 'train'
            when substring(md5(cast(r.rep as varchar)), 1, 2) < 'f3'
              then 'val'
            else 'test' end as split
from g join reps r using (grp)
"""


def q_url_canon(spark, sf_dir):
    """Crawl URL canonicalization (ops/text.py::canonicalize_url):
    URLs synthesized deterministically from the documents table (mixed
    case, www + default port, tracking param, unsorted params,
    trailing slash, fragment) and normalized by the operator; the
    oracle constructs the expected canonical form independently."""
    from drill_spark.ops.text import canonicalize_url

    docs = _docs(spark, sf_dir)
    url = F.concat(
        F.lit("HTTPS://WWW.Example-"), F.col("source"),
        F.lit(".COM:443/Docs/"), F.col("doc_id").cast("string"),
        F.lit("/?utm_source=feed&b="), F.col("lang"), F.lit("&a=1#sec"),
    )
    return docs.select("doc_id", canonicalize_url(url).alias("canon_url"))


ORACLE_URL_CANON = """
select doc_id,
       concat('https://example-', source, '.com/Docs/',
              cast(doc_id as varchar), '?a=1&b=', lang) as canon_url
from documents
"""


def q_line_dedup(spark, sf_dir):
    """Corpus-level duplicated-line removal (RefinedWeb line dedup —
    ops/text.py::line_dedup): docs get a planted unique head line, a
    boilerplate line shared by their doc_id%3 class (removed: >1 copy,
    >=8 chars), a short '--' separator (duplicated but exempt under
    min_chars), then the fixture body (exact-dup bodies also vanish).
    Oracle rebuilds the same lines + counts + ordered reassembly in
    SQL; the hash compare covers the full cleaned strings."""
    from drill_spark.ops.text import line_dedup

    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.lit("unique head "), F.col("doc_id").cast("string"),
            F.lit("\n"),
            F.element_at(
                F.array(F.lit("shared boilerplate alpha"),
                        F.lit("shared boilerplate beta"),
                        F.lit("shared boilerplate gamma")),
                (F.col("doc_id") % 3 + 1).cast("int")),
            F.lit("\n--\n"),
            F.col("text"),
        ).alias("text"),
    )
    return line_dedup(docs, max_copies=1, min_chars=8)


ORACLE_LINE_DEDUP = """
with docs2 as (
  select doc_id,
         concat('unique head ', cast(doc_id as varchar), chr(10),
                case cast(doc_id % 3 as int)
                  when 0 then 'shared boilerplate alpha'
                  when 1 then 'shared boilerplate beta'
                  else 'shared boilerplate gamma' end,
                chr(10), '--', chr(10), text) as text
  from documents
),
lines as (
  select doc_id,
         unnest(range(1, len(string_split(text, chr(10))) + 1)) as pos,
         unnest(string_split(text, chr(10))) as line
  from docs2
),
counts as (select md5(trim(line)) as h, count(*) as n from lines group by 1),
kept as (
  select l.doc_id, l.pos, l.line from lines l
  left join counts c
    on md5(trim(l.line)) = c.h
   and length(trim(l.line)) >= 8 and c.n > 1
  where c.h is null
)
select d.doc_id, coalesce(k.clean_text, '') as clean_text
from docs2 d
left join (
  select doc_id, string_agg(line, chr(10) order by pos) as clean_text
  from kept group by 1
) k using (doc_id)
"""


def q_gap_fill(spark, sf_dir):
    """Time-bucket gap fill + LOCF (ops/temporal.py::gap_fill_locf —
    the TimescaleDB time_bucket_gapfill/locf idiom): hourly avg(value)
    per user over the first 3 fixture days, every user's own hour grid
    generated via sequence(), gaps carried forward. Oracle rebuilds the
    grid with generate_series + last_value(ignore nulls)."""
    from drill_spark.ops.temporal import gap_fill_locf

    ev = (
        load_fixture(spark, sf_dir, "events")
        .where((F.col("user_id") < 10)
               & (F.col("ts") < F.lit("2024-01-04").cast("timestamp")))
        .select("user_id", "ts", "value")
    )
    return gap_fill_locf(ev, "ts", "user_id", "value", unit="hour")


ORACLE_GAP_FILL = """
with ev as (
  select user_id, ts, value from events
  where user_id < 10 and ts < timestamp '2024-01-04'
),
obs as (
  select user_id, date_trunc('hour', ts) as bucket,
         round(avg(value), 4) as v, count(*) as n_obs
  from ev group by 1, 2
),
span as (select user_id, min(bucket) as b0, max(bucket) as b1
         from obs group by 1),
grid as (
  select user_id,
         unnest(generate_series(b0, b1, interval 1 hour)) as bucket
  from span
),
joined as (
  select g.user_id, g.bucket, o.v,
         coalesce(o.n_obs, 0) as n_events
  from grid g left join obs o using (user_id, bucket)
)
select user_id, bucket,
       last_value(v ignore nulls) over (
         partition by user_id order by bucket
         rows between unbounded preceding and current row) as value,
       n_events
from joined
"""


def q_triplet_mine(spark, sf_dir):
    """Contrastive triplet mining (ops/similarity.py::triplet_mine):
    nearest same-label positive + nearest different-label hard negative
    per anchor, broadcast anchor batch x one corpus scan. Oracle is the
    same ranking over list_cosine_similarity; cosine rounded to 4
    before ranking with cand-id tiebreak on both engines."""
    from drill_spark.ops.similarity import triplet_mine

    return triplet_mine(_embs(spark, sf_dir), query_ids=list(range(8)))


ORACLE_TRIPLET_MINE = """
with q as (
  select vec_id as anchor_id, label as anchor_label, embedding as qv
  from embeddings where vec_id < 8
),
scored as (
  select q.anchor_id, e.vec_id as cand_id,
         round(list_cosine_similarity(cast(e.embedding as double[]),
                                      cast(q.qv as double[])), 4) as cosine,
         (e.label = q.anchor_label) as is_pos
  from embeddings e cross join q
  where e.vec_id <> q.anchor_id
),
best as (
  select anchor_id, cand_id, cosine, is_pos,
         row_number() over (partition by anchor_id, is_pos
                            order by cosine desc, cand_id) as rn
  from scored
)
select p.anchor_id, p.cand_id as pos_id, p.cosine as pos_sim,
       n.cand_id as neg_id, n.cosine as neg_sim
from best p
join best n on p.anchor_id = n.anchor_id
where p.rn = 1 and p.is_pos and n.rn = 1 and not n.is_pos
"""


def q_hybrid_search(spark, sf_dir):
    """Hybrid sparse+dense retrieval (ops/search.py::hybrid_topk):
    BM25 and cosine top-30 pools fused by reciprocal-rank fusion
    (1/(60+rank) sums). Fusion is rank-based — integers in, identical
    doubles out — so the oracle reproduces BOTH towers' rankings
    (rounded-score tiebreaks already proven by ext_bm25_topk /
    ext_embed_topk) and the exact RRF arithmetic in SQL."""
    from drill_spark.ops.search import hybrid_topk

    return hybrid_topk(
        _docs(spark, sf_dir), _embs(spark, sf_dir),
        ["merge", "spark", "vector"], query_vec_id=0, k=10, pool=30)


ORACLE_HYBRID_SEARCH = r"""
with tok as (
  select doc_id, term from (
    select doc_id,
           unnest(regexp_split_to_array(trim(lower(text)), '\s+')) as term
    from documents)
  where term <> ''
),
dl as (select doc_id, count(*) as dl from tok group by 1),
corpus as (select count(*) as n_docs, avg(dl) as avgdl from dl),
post as (
  select term, doc_id, count(*) as tf from tok
  where term in ('merge', 'spark', 'vector') group by 1, 2
),
dfreq as (select term, count(*) as df from post group by 1),
bm_scored as (
  select p.doc_id,
         round(sum(ln(1.0 + (c.n_docs - f.df + 0.5) / (f.df + 0.5))
                   * (p.tf * 2.2
                      / (p.tf + 1.2 * (1 - 0.75 + 0.75 * d.dl / c.avgdl)))),
               6) as score
  from post p
  join dfreq f using (term)
  join dl d using (doc_id)
  cross join corpus c
  group by p.doc_id
),
bm_ranked as (
  select doc_id,
         row_number() over (order by score desc, doc_id) as rank_a
  from bm_scored
  qualify rank_a <= 30
),
q as (select embedding as qv from embeddings where vec_id = 0),
cos_scored as (
  select e.vec_id as doc_id,
         round(list_cosine_similarity(cast(e.embedding as double[]),
                                      cast(q.qv as double[])), 4) as cosine
  from embeddings e cross join q
  where e.vec_id <> 0
),
cos_ranked as (
  select doc_id,
         row_number() over (order by cosine desc, doc_id) as rank_b
  from cos_scored
  qualify rank_b <= 30
),
fused as (
  select coalesce(a.doc_id, b.doc_id) as doc_id,
         coalesce(1.0 / (60 + a.rank_a), 0.0)
           + coalesce(1.0 / (60 + b.rank_b), 0.0) as rrf_score
  from bm_ranked a full outer join cos_ranked b on a.doc_id = b.doc_id
)
select doc_id, rrf_score from fused
order by rrf_score desc, doc_id limit 10
"""


def q_corpus_report(spark, sf_dir):
    """Per-source dataset-card profile (ops/text.py::corpus_report):
    docs, tokens, avg length, language spread, exact-dup rate — one
    scan + one stratum-keyed aggregation. Oracle recomputes every
    measure closed-form."""
    from drill_spark.ops.text import corpus_report

    return corpus_report(_docs(spark, sf_dir))


ORACLE_CORPUS_REPORT = r"""
with d as (
  select source, lang, text,
         length(text) as n_chars_real,
         len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                         t -> t <> '')) as n_toks,
         md5(regexp_replace(lower(text), '\s+', ' ', 'g')) as h
  from documents
)
select source,
       count(*) as n_docs,
       cast(sum(n_toks) as bigint) as n_tokens,
       round(avg(n_chars_real), 2) as avg_chars,
       count(distinct lang) as n_langs,
       round(1.0 - cast(count(distinct h) as double) / count(*), 4)
         as dup_rate
from d group by source
"""


_HTML_FIXTURE_PRE = (
    '<html><head><title>Doc ', ' &amp; Co.</title><style>p{color:red}'
    '</style><script type="text/javascript">var s="<p>not text</p>";'
    '</script></head><body><!-- boilerplate -->'
    '<nav><ul><li>Home</li><li>About</li></ul></nav><h1>Doc ',
    '</h1><p>', '</p><div class="foot">&copy; 2020 Example &ndash; '
    'rights</div></body></html>',
)


def q_html_extract(spark, sf_dir):
    """HTML -> text extraction (ops/text.py::html_to_text — the step
    between a WARC response scan and the documents table in C4/CCNet/
    RefinedWeb curation): each document is wrapped in a realistic page
    (title with entities, style/script/nav/comment boilerplate, block
    structure), then title + text are extracted by the pure-Catalyst
    regexp chain. The oracle replays the IDENTICAL chain in DuckDB —
    generated from the same pattern tables (_html_oracle_sql), so the
    two sides cannot drift."""
    from drill_spark.ops.text import html_title, html_to_text

    docs = load_fixture(spark, sf_dir, "documents")
    sid = F.col("doc_id").cast("string")
    p0, p1, p2, p3 = _HTML_FIXTURE_PRE
    html = F.concat(F.lit(p0), sid, F.lit(p1), sid, F.lit(p2),
                    F.col("text"), F.lit(p3))
    return docs.select(
        "doc_id",
        html_title(html).alias("title"),
        html_to_text(html).alias("text_clean"),
    )


def _html_chain_sql(src: str) -> tuple[str, str]:
    """Render the html_title / html_to_text chains as DuckDB SQL over
    an arbitrary source expression, generated from the SAME pattern
    tables ops/text.py compiles to Catalyst — every pattern is
    RE2-safe by construction (no backreferences), so the two chains
    cannot drift. Returns (title_sql, text_sql)."""
    from drill_spark.ops.text import (
        _HTML_BLOCK_RE, _HTML_DROP_TAGS, _HTML_ENTITIES)

    def q(s: str) -> str:
        return s.replace("'", "''")

    def entities(t: str) -> str:
        for ent, rep in _HTML_ENTITIES:
            t = f"replace({t}, '{q(ent)}', '{q(rep)}')"
        return t

    title_extract = (
        "regexp_extract(" + src + ", '(?is)<title[^>]*>(.*?)</title', 1)")
    title = "trim(" + entities(title_extract) + ")"
    t = src
    for tag in _HTML_DROP_TAGS:
        t = (f"regexp_replace({t}, '(?is)<{tag}\\b[^>]*>.*?"
             f"</{tag}\\s*>', ' ', 'g')")
    t = f"regexp_replace({t}, '(?s)<!--.*?-->', ' ', 'g')"
    t = f"regexp_replace({t}, '{_HTML_BLOCK_RE}', e'\\n', 'g')"
    t = f"regexp_replace({t}, '(?s)<[^>]*>', ' ', 'g')"
    t = entities(t)
    t = f"regexp_replace({t}, '[ \\t\\r\\f]+', ' ', 'g')"
    t = f"regexp_replace({t}, ' ?\\n ?', e'\\n', 'g')"
    t = f"regexp_replace({t}, '\\n\\n+', e'\\n\\n', 'g')"
    t = f"regexp_replace({t}, '^\\s+|\\s+$', '', 'g')"
    return title, t


def _html_fixture_src_sql() -> str:
    p0, p1, p2, p3 = _HTML_FIXTURE_PRE
    esc = [p.replace("'", "''") for p in (p0, p1, p2, p3)]
    return (f"'{esc[0]}' || doc_id || '{esc[1]}' || doc_id || "
            f"'{esc[2]}' || text || '{esc[3]}'")


def _html_oracle_sql() -> str:
    title, t = _html_chain_sql(_html_fixture_src_sql())
    return (f"select doc_id, {title} as title, {t} as text_clean "
            "from documents")


ORACLE_HTML_EXTRACT = _html_oracle_sql()


def q_c4_filters(spark, sf_dir):
    """The C4 cleaning recipe (Raffel et al. 2020 — ops/text.py::
    c4_clean) over planted multi-line pages: a kept lead sentence, a
    short unpunctuated stub (dropped), a javascript line (dropped),
    two extra sentences on even docs (so only they clear the
    3-sentence page rule), plus lorem-ipsum (doc_id%7), curly-brace
    (doc_id%11) and blocklist (doc_id%13) page poisons. The oracle
    rebuilds every signal and the cleaned text closed-form."""
    from drill_spark.ops.text import c4_clean

    docs = _docs(spark, sf_dir)
    even = F.col("doc_id") % 2 == 0
    text = F.concat_ws(
        "\n",
        F.concat(F.lit("This is a good sentence about "),
                 F.col("source"), F.lit(" today.")),
        F.lit("short stub"),
        F.lit("Please enable javascript to continue viewing now."),
        F.when(even, "Another valid sentence appears right here."),
        F.when(even, "And a third one lands here!"),
        F.when(F.col("doc_id") % 7 == 0,
               "Lorem ipsum filler content sits here."),
        F.when(F.col("doc_id") % 11 == 0,
               "code { block sample without end"),
        F.when(F.col("doc_id") % 13 == 0,
               "This parcel holds contraband goods inside."),
    )
    return c4_clean(docs.select("doc_id", text.alias("text")),
                    badwords=("contraband",))


ORACLE_C4_FILTERS = """
with f as (
  select doc_id,
         doc_id % 2 = 0 as even,
         doc_id % 7 = 0 as lorem,
         doc_id % 11 = 0 as brace,
         doc_id % 13 = 0 as bad,
         'This is a good sentence about ' || source || ' today.' as lead
  from documents
)
select doc_id,
       cast(3 + 2 * cast(even as int) + cast(lorem as int)
              + cast(brace as int) + cast(bad as int) as bigint) as n_lines,
       cast(1 + 2 * cast(even as int) + cast(lorem as int)
              + cast(bad as int) as bigint) as n_kept_lines,
       cast(1 + 2 * cast(even as int) + cast(lorem as int)
              + cast(bad as int) as bigint) as n_sentences,
       lorem as has_lorem,
       brace as has_brace,
       bad as has_badword,
       concat_ws(chr(10), lead,
                 case when even then 'Another valid sentence appears right here.' end,
                 case when even then 'And a third one lands here!' end,
                 case when lorem then 'Lorem ipsum filler content sits here.' end,
                 case when bad then 'This parcel holds contraband goods inside.' end)
         as cleaned,
       (1 + 2 * cast(even as int) + cast(lorem as int) + cast(bad as int)) >= 3
         and not lorem and not brace and not bad as keep
from f
"""


def q_gopher_quality(spark, sf_dir):
    """The Gopher quality rule set (Rae et al. 2021 A1.1 — ops/text.py
    ::gopher_quality) over the raw fixture text; the oracle replays
    every signal generically in DuckDB list HOFs."""
    from drill_spark.ops.text import gopher_quality

    return gopher_quality(_docs(spark, sf_dir))


ORACLE_GOPHER_QUALITY = r"""
with w as (
  select doc_id, text,
         string_split_regex(trim(lower(text)), '\s+') as w,
         list_transform(string_split(text, chr(10)), x -> trim(x)) as lines
  from documents
),
s as (
  select doc_id,
    cast(len(w) as bigint) as n_words,
    round(list_sum(list_transform(w, x -> len(x))) * 1.0
          / greatest(len(w), 1), 4) as mean_word_len,
    round((len(regexp_extract_all(text, '#'))
           + len(regexp_extract_all(text, '\.\.\.'))) * 1.0
          / greatest(len(w), 1), 4) as symbol_ratio,
    round(len(list_filter(lines, l -> regexp_matches(l, '^[-*•]'))) * 1.0
          / greatest(len(lines), 1), 4) as bullet_frac,
    round(len(list_filter(lines, l -> regexp_matches(l, '\.\.\.$'))) * 1.0
          / greatest(len(lines), 1), 4) as ellipsis_frac,
    round(len(list_filter(w, x -> regexp_matches(x, '[a-z]'))) * 1.0
          / greatest(len(w), 1), 4) as alpha_frac,
    cast(len(list_filter(['the','be','to','of','and','that','have','with'],
                         s -> list_contains(w, s))) as bigint) as stop_hits
  from w
)
select *,
       n_words between 50 and 100000
       and mean_word_len between 3 and 10
       and symbol_ratio < 0.1
       and bullet_frac < 0.9
       and ellipsis_frac < 0.3
       and alpha_frac > 0.8
       and stop_hits >= 2 as keep
from s
"""


def q_script_profile(spark, sf_dir):
    """Unicode script histogram (ops/text.py::script_profile) over
    mixed-script pages: each doc keeps a Latin prefix + two digits and
    appends 0-5 copies of a Cyrillic/Han/Arabic/Greek snippet keyed by
    doc_id, so dominance flips between scripts. The oracle recounts
    every script class in RE2 and replays the argmax/tie rule."""
    from drill_spark.ops.text import script_profile

    docs = _docs(spark, sf_dir)
    snippet = F.element_at(
        F.array(F.lit("привет мир "), F.lit("你好世界 "),
                F.lit("مرحبا بالعالم "), F.lit("γεια σου ")),
        (F.col("doc_id") % 4 + 1).cast("int"),
    )
    text = F.concat(
        F.substring(F.col("text"), 1, 24), F.lit(" 42 "),
        F.repeat(snippet, (F.col("doc_id") % 6).cast("int")),
    )
    return script_profile(docs.select("doc_id", text.alias("text")))


ORACLE_SCRIPT_PROFILE = r"""
with t as (
  select doc_id,
         concat(substring(text, 1, 24), ' 42 ',
                repeat(case cast(doc_id % 4 as int)
                         when 0 then 'привет мир '
                         when 1 then '你好世界 '
                         when 2 then 'مرحبا بالعالم '
                         else 'γεια σου ' end,
                       cast(doc_id % 6 as int))) as text2
  from documents
),
c as (
  select doc_id,
    cast(length(text2) as bigint) as n_chars,
    cast(len(regexp_extract_all(text2, '\p{Latin}')) as bigint) as n_latin,
    cast(len(regexp_extract_all(text2, '\p{Cyrillic}')) as bigint) as n_cyrillic,
    cast(len(regexp_extract_all(text2, '\p{Han}')) as bigint) as n_han,
    cast(len(regexp_extract_all(text2, '\p{Arabic}')) as bigint) as n_arabic,
    cast(len(regexp_extract_all(text2, '\p{Greek}')) as bigint) as n_greek,
    cast(len(regexp_extract_all(text2, '\p{Hangul}')) as bigint) as n_hangul,
    cast(len(regexp_extract_all(text2, '[0-9]')) as bigint) as n_digit
  from t
)
select *,
  case when greatest(n_latin, n_cyrillic, n_han, n_arabic, n_greek, n_hangul) = 0
         then 'none'
       when n_latin = greatest(n_latin, n_cyrillic, n_han, n_arabic, n_greek, n_hangul) then 'latin'
       when n_cyrillic = greatest(n_latin, n_cyrillic, n_han, n_arabic, n_greek, n_hangul) then 'cyrillic'
       when n_han = greatest(n_latin, n_cyrillic, n_han, n_arabic, n_greek, n_hangul) then 'han'
       when n_arabic = greatest(n_latin, n_cyrillic, n_han, n_arabic, n_greek, n_hangul) then 'arabic'
       when n_greek = greatest(n_latin, n_cyrillic, n_han, n_arabic, n_greek, n_hangul) then 'greek'
       else 'hangul' end as dominant
from c
"""


def q_domain_stats(spark, sf_dir):
    """Per-domain crawl rollup (ops/text.py::domain_stats): four
    synthetic hosts (two under one registered domain) with tracking
    params; the operator canonicalizes, reduces to registered domains
    and aggregates docs/tokens/hosts, flagging the blocklisted ad
    domain. The oracle replays the whole rollup in SQL."""
    from drill_spark.ops.text import domain_stats

    docs = _docs(spark, sf_dir)
    host = F.element_at(
        F.array(F.lit("www.alpha.example.com"), F.lit("beta.example.com"),
                F.lit("cdn.images-host.net"), F.lit("TRACKER.adsite.io")),
        (F.col("doc_id") % 4 + 1).cast("int"),
    )
    url = F.concat(F.lit("https://"), host, F.lit("/p/"),
                   F.col("doc_id").cast("string"),
                   F.lit("?utm_campaign=x&z=1"))
    return domain_stats(docs.select("text", url.alias("url")),
                        blocklist=("adsite.io",))


ORACLE_DOMAIN_STATS = r"""
with u as (
  select doc_id, text,
         lower(case cast(doc_id % 4 as int)
                 when 0 then 'www.alpha.example.com'
                 when 1 then 'beta.example.com'
                 when 2 then 'cdn.images-host.net'
                 else 'tracker.adsite.io' end) as rawhost
  from documents
),
h as (
  select regexp_replace(rawhost, '^www\.', '') as host,
         len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                         t -> t <> '')) as toks
  from u
),
d as (
  select regexp_extract(host, '([^.]+\.[^.]+)$', 1) as domain, host, toks
  from h
)
select domain, count(*) as n_docs, cast(sum(toks) as bigint) as n_tokens,
       count(distinct host) as n_hosts, domain in ('adsite.io') as blocked
from d group by domain
"""


def q_dsir_sample(spark, sf_dir):
    """DSIR importance resampling (Xie et al. 2023 — ops/pipeline.py::
    dsir_weights): every 10th doc plays the target distribution, the
    rest are scored by hashed-ngram log-likelihood ratio and the top
    100 selected (TakeOrdered, rounded-weight + id tiebreak). The
    oracle replays the two bucket models, the smoothing and the
    ranking in SQL.

    Perf note (r11 investigation of the r10 bench jump 1.30→2.27s):
    measured three designs at sf0.1 — the committed bounded-persist
    (2.36s cold / 1.7s steady), per-(doc,bucket) pre-aggregation
    before the scoring join (3.1/2.5s — the extra (doc,bucket)
    shuffle costs more than avg()'s per-doc map-side combine saves),
    and localCheckpoint instead of persist (3.6/2.9s — adds a
    materialization job). The persist design wins; the r10 jump was
    host contention + cold cache (host probe 1.35× slower), not a
    plan regression. The persisted tables are ≤65,536 rows each —
    bounded, not a pressure source."""
    from drill_spark.ops.pipeline import dsir_weights

    docs = _docs(spark, sf_dir)
    target = docs.where(F.col("doc_id") % 10 == 0)
    corpus = docs.where(F.col("doc_id") % 10 != 0)
    w = dsir_weights(corpus, target, "doc_id", "text")
    return w.orderBy(F.desc("dsir_weight"), "doc_id").limit(100)


ORACLE_DSIR_SAMPLE = r"""
with w0 as (
  select doc_id, string_split_regex(trim(lower(text)), '\s+') as w
  from documents
),
g as (
  select doc_id, unnest(list_concat(
    w,
    case when len(w) >= 2
         then list_transform(generate_series(1, len(w) - 1),
                             i -> w[i] || ' ' || w[i+1])
         else [] end)) as gram
  from w0
),
gb as (select doc_id, substring(md5(gram), 1, 4) as b from g),
rc as (select b, count(*) as cr from gb where doc_id % 10 <> 0 group by b),
tc as (select b, count(*) as ct from gb where doc_id % 10 = 0 group by b),
bk as (select coalesce(rc.b, tc.b) as b, coalesce(cr, 0) as cr,
              coalesce(ct, 0) as ct
       from rc full outer join tc on rc.b = tc.b),
tot as (select sum(cr) as tot_r, sum(ct) as tot_t from bk),
tbl as (select b, ln((ct + 1) * 1.0 / (tot_t + 65536))
                  - ln((cr + 1) * 1.0 / (tot_r + 65536)) as lr
        from bk, tot)
select gb.doc_id, round(avg(lr), 4) as dsir_weight,
       count(*) as n_grams
from gb join tbl using (b)
where gb.doc_id % 10 <> 0
group by gb.doc_id
order by dsir_weight desc, doc_id
limit 100
"""


def q_pack_bins(spark, sf_dir):
    """Sequence packing (ops/pipeline.py::pack_bins): 32-token chunks
    from chunk_tokens packed FFD into 128-token bins across 8 hash
    shards. HASH-oracle-backed (upgraded from rows-only in r11): the
    engine-portable md5 sharding plus FFD's determinism let a DuckDB
    recursive CTE replay the per-shard first-fit fold bin for bin —
    the fills list is the recursion state, list_position finds the
    first fitting bin. The invariants (exactly-once assignment,
    capacity, FFD bound, partitioning-independence) remain
    pytest-proven in test_pipeline.py."""
    from drill_spark.ops.pipeline import chunk_tokens, pack_bins

    chunks = chunk_tokens(_docs(spark, sf_dir), "doc_id", "text",
                          max_tokens=32)
    return pack_bins(chunks, capacity=128, n_shards=8)


ORACLE_PACK_BINS = r"""
with recursive chunksrc as (
  select doc_id, string_split_regex(trim(lower(text)), '\s+') as w
  from documents
),
chunks as (
  select doc_id, i as chunk_id,
         cast(len(w[i*32+1 : i*32+32]) as bigint) as n_tokens,
         md5(array_to_string(w[i*32+1 : i*32+32], ' ')) as chunk_hash,
         cast(('0x' || substring(md5(doc_id::varchar || '|' || i::varchar),
                                 1, 8))::bigint % 8 as int) as shard
  from chunksrc, unnest(range(0, cast(ceil(len(w) / 32.0) as bigint))) as t(i)
),
ch as (
  select *, row_number() over (partition by shard
                               order by n_tokens desc, doc_id, chunk_id)
              as step
  from chunks
),
rec as (
  select distinct shard, cast(0 as bigint) as step,
         cast([] as bigint[]) as fills, cast([] as bigint[]) as assign
  from ch
  union all
  select r.shard, r.step + 1,
         case when l.idx is null then list_append(r.fills, c.n_tokens)
              else r.fills[1:l.idx-1] || [r.fills[l.idx] + c.n_tokens]
                   || r.fills[l.idx+1:] end,
         list_append(r.assign, coalesce(l.idx - 1, len(r.fills)))
  from rec r
  join ch c on c.shard = r.shard and c.step = r.step + 1,
  lateral (select nullif(list_position(
      list_transform(r.fills, f -> f + c.n_tokens <= 128), true), 0) as idx) l
),
final as (
  select r.shard, r.fills, r.assign
  from rec r join (select shard, max(step) ms from rec group by 1) m
    on r.shard = m.shard and r.step = m.ms
)
select c.doc_id, c.chunk_id, c.n_tokens, c.chunk_hash, c.shard,
       cast(c.shard as bigint) * 4294967296 + f.assign[c.step] as bin_id,
       f.fills[f.assign[c.step] + 1] as bin_fill,
       c.n_tokens > 128 as oversize
from ch c join final f using (shard)
"""


def q_skew_profile(spark, sf_dir):
    """Key-skew diagnostic (ops/scale.py::skew_profile) on the orders
    table's customer key — the measurement run before choosing
    salting/broadcast for a shuffle keyed on the column. The oracle
    replays counts, shares and the skew ratio with the same tiebreak."""
    from drill_spark.ops.scale import skew_profile

    orders = load_fixture(spark, sf_dir, "orders")
    return skew_profile(orders, "o_custkey", top=10)


ORACLE_SKEW_PROFILE = """
with c as (
  select cast(o_custkey as varchar) as key, count(*) as cnt
  from orders group by 1
),
t as (select sum(cnt) as total_rows, count(*) as n_keys from c)
select key, cnt,
       round(cnt * 1.0 / total_rows, 6) as share,
       round(cnt * 1.0 * n_keys / total_rows, 4) as skew
from c, t
order by cnt desc, key
limit 10
"""


def q_stratified_topk(spark, sf_dir):
    """Exactly-k-per-stratum deterministic sample (ops/pipeline.py::
    fixed_k_sample): 20 documents per language, ranked by md5(id) so
    the carve is content-addressed. The oracle replays the ranking."""
    from drill_spark.ops.pipeline import fixed_k_sample

    return fixed_k_sample(
        _docs(spark, sf_dir), "lang", "doc_id", 20
    ).select("doc_id", "lang", "source")


ORACLE_STRATIFIED_TOPK = """
select doc_id, lang, source
from (
  select doc_id, lang, source,
         row_number() over (
           partition by lang
           order by md5(cast(doc_id as varchar)), doc_id) as rk
  from documents
)
where rk <= 20
"""


def _chat_fixture(spark, sf_dir):
    """Synthesized SFT conversations over the documents table: optional
    system turn (doc_id%3), doubled user turn (%9 → bad alternation),
    dropped final assistant (%5 → bad end), blank assistant (%7 →
    empty content)."""
    docs = _docs(spark, sf_dir)
    st = "array<struct<role:string,content:string>>"
    empty = F.array().cast(st)

    def turn(role, content):
        return F.struct(F.lit(role).alias("role"),
                        (content if not isinstance(content, str)
                         else F.lit(content)).alias("content"))

    conv = F.concat(
        F.when(F.col("doc_id") % 3 == 0,
               F.array(turn("system", "Be helpful."))).otherwise(empty),
        F.array(turn("user", F.substring(F.col("text"), 1, 30)),
                turn("assistant", F.substring(F.col("text"), 31, 30)),
                turn("user", "More?")),
        F.when(F.col("doc_id") % 9 == 0,
               F.array(turn("user", "More?"))).otherwise(empty),
        F.when(F.col("doc_id") % 5 == 0, empty).otherwise(
            F.array(turn("assistant",
                         F.when(F.col("doc_id") % 7 == 0, "  ")
                         .otherwise(F.lit("Sure thing."))))),
    )
    return docs.select(F.col("doc_id").alias("conv_id"),
                       conv.alias("turns"))


_CHAT_FIXTURE_DUCK = r"""
conv as (
  select doc_id as conv_id,
    case when doc_id % 3 = 0
         then [struct_pack(role := 'system', content := 'Be helpful.')]
         else [] end
    || [struct_pack(role := 'user', content := substring(text, 1, 30)),
        struct_pack(role := 'assistant', content := substring(text, 31, 30)),
        struct_pack(role := 'user', content := 'More?')]
    || case when doc_id % 9 = 0
            then [struct_pack(role := 'user', content := 'More?')]
            else [] end
    || case when doc_id % 5 = 0 then []
            else [struct_pack(role := 'assistant',
                              content := case when doc_id % 7 = 0 then '  '
                                              else 'Sure thing.' end)] end
      as turns
  from documents
)
"""


def q_chat_validate(spark, sf_dir):
    """Conversation-structure validation (ops/chat.py::
    validate_conversations) over synthesized SFT conversations with
    planted structural defects; the oracle replays the role/alternation
    /content rules over the same construction in DuckDB struct HOFs."""
    from drill_spark.ops.chat import validate_conversations

    return validate_conversations(_chat_fixture(spark, sf_dir))


ORACLE_CHAT_VALIDATE = r"""
with {conv},
v as (
  select conv_id, turns,
         list_transform(turns, x -> x.role) as roles
  from conv
),
b as (
  select conv_id, turns,
         case when roles[1] = 'system' then roles[2:] else roles end as body
  from v
)
select conv_id,
       cast(len(turns) as bigint) as n_turns,
       case
         when len(body) < 2 then 'too_short'
         when body[1] <> 'user' then 'bad_start'
         when len(list_filter(generate_series(1, len(body)),
                  i -> body[i] <> case when i % 2 = 1 then 'user'
                                       else 'assistant' end)) > 0
           then 'bad_alternation'
         when body[-1] <> 'assistant' then 'bad_end'
         when len(list_filter(turns, x -> length(trim(x.content)) = 0)) > 0
           then 'empty_content'
         else 'ok' end as reason,
       case
         when len(body) < 2 then 'too_short'
         when body[1] <> 'user' then 'bad_start'
         when len(list_filter(generate_series(1, len(body)),
                  i -> body[i] <> case when i % 2 = 1 then 'user'
                                       else 'assistant' end)) > 0
           then 'bad_alternation'
         when body[-1] <> 'assistant' then 'bad_end'
         when len(list_filter(turns, x -> length(trim(x.content)) = 0)) > 0
           then 'empty_content'
         else 'ok' end = 'ok' as valid
from b
""".format(conv=_CHAT_FIXTURE_DUCK.strip())


def q_chat_render(spark, sf_dir):
    """ChatML template rendering (ops/chat.py::render_chat) of the same
    conversations; the oracle rebuilds the exact template string."""
    from drill_spark.ops.chat import render_chat

    return render_chat(_chat_fixture(spark, sf_dir))


ORACLE_CHAT_RENDER = r"""
with {conv}
select conv_id,
       array_to_string(list_transform(turns,
         x -> '<|im_start|>' || x.role || chr(10) || x.content
              || '<|im_end|>' || chr(10)), '') as rendered
from conv
""".format(conv=_CHAT_FIXTURE_DUCK.strip())


def q_preference_pairs(spark, sf_dir):
    """DPO preference-pair construction (ops/chat.py::
    preference_pairs): three deterministic scored responses per
    document-prompt; chosen/rejected by score with response-string
    tiebreaks, zero-margin prompts dropped. The oracle replays the
    extremes via ranked windows."""
    from drill_spark.ops.chat import preference_pairs

    docs = _docs(spark, sf_dir)
    cand = docs.select(
        F.concat(F.lit("P"), F.col("doc_id").cast("string")).alias("prompt_id"),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(2)),
                lambda i: F.struct(
                    F.concat(F.substring(F.col("text"), i * 10 + 1, 20),
                             F.lit(" #"), i.cast("string")).alias("response"),
                    ((F.col("doc_id") * 31 + i * 17) % 97).alias("score"),
                ),
            )
        ).alias("c"),
    ).select("prompt_id", "c.response", "c.score")
    return preference_pairs(cand)


ORACLE_PREFERENCE_PAIRS = """
with cand as (
  select 'P' || cast(doc_id as varchar) as prompt_id,
         substring(text, i * 10 + 1, 20) || ' #' || cast(i as varchar)
           as response,
         (doc_id * 31 + i * 17) % 97 as score
  from documents, unnest(generate_series(0, 2)) as t(i)
),
r as (
  select prompt_id, response, score,
         row_number() over (partition by prompt_id
                            order by score desc, response desc) as rb,
         row_number() over (partition by prompt_id
                            order by score asc, response asc) as rw,
         count(*) over (partition by prompt_id) as n_candidates
  from cand
),
b as (select prompt_id, response as chosen, score as chosen_score,
             n_candidates from r where rb = 1),
w as (select prompt_id, response as rejected, score as rejected_score
      from r where rw = 1)
select b.prompt_id, chosen, rejected, chosen_score, rejected_score,
       chosen_score - rejected_score as margin,
       n_candidates
from b join w using (prompt_id)
where chosen_score - rejected_score > 0
"""


def q_bm25_batch(spark, sf_dir):
    """Batch BM25 (ops/search.py::bm25_topk_batch): three queries
    scored against the corpus in ONE pass, per-query top-5. The oracle
    replays postings, document frequencies and the Lucene-idf formula
    for all three queries."""
    from drill_spark.ops.search import bm25_topk_batch

    queries = local_frame(
        spark,
        [("q1", ["spark", "vector"]), ("q2", ["merge", "window"]),
         ("q3", ["customer", "order", "join"])],
        "query_id string, terms array<string>",
    )
    return bm25_topk_batch(_docs(spark, sf_dir), queries, k=5)


ORACLE_BM25_BATCH = r"""
with q as (
  select * from (values ('q1', ['spark', 'vector']),
                        ('q2', ['merge', 'window']),
                        ('q3', ['customer', 'order', 'join']))
    as t(query_id, terms)
),
qt as (select query_id, unnest(list_distinct(terms)) as term from q),
tok as (
  select doc_id, term from (
    select doc_id,
           unnest(regexp_split_to_array(trim(lower(text)), '\s+')) as term
    from documents)
  where term <> ''
),
dl as (select doc_id, count(*) as dl from tok group by 1),
corpus as (select count(*) as n_docs, avg(dl) as avgdl from dl),
post as (
  select term, doc_id, count(*) as tf from tok
  where term in (select term from qt) group by 1, 2
),
dfreq as (select term, count(*) as df from post group by 1),
scored as (
  select qt.query_id, p.doc_id,
         round(sum(ln(1.0 + (c.n_docs - f.df + 0.5) / (f.df + 0.5))
                   * (p.tf * 2.2
                      / (p.tf + 1.2 * (1 - 0.75 + 0.75 * d.dl / c.avgdl)))),
               6) as score
  from post p
  join dfreq f using (term)
  join dl d using (doc_id)
  cross join corpus c
  join qt on qt.term = p.term
  group by qt.query_id, p.doc_id
)
select query_id, doc_id, score, rank from (
  select query_id, doc_id, score,
         cast(row_number() over (partition by query_id
                                 order by score desc, doc_id) as int) as rank
  from scored)
where rank <= 5
"""


def q_retrieval_eval(spark, sf_dir):
    """Retrieval-quality scorecard (ops/mlmetrics.py::retrieval_eval):
    the batch-BM25 retriever's top-20 per query evaluated against
    boolean-AND relevance (documents containing ALL the query's terms)
    — per-query recall@20 and reciprocal rank, every metric an exact
    per-query rational (no cross-query double sums). The oracle
    replays the BM25 ranking AND the evaluation arithmetic."""
    from drill_spark.ops.mlmetrics import retrieval_eval
    from drill_spark.ops.search import bm25_topk_batch

    docs = _docs(spark, sf_dir)
    queries = local_frame(
        spark,
        [("q1", ["spark", "vector"]), ("q2", ["merge", "window"]),
         ("q3", ["customer", "order", "join"])],
        "query_id string, terms array<string>",
    )
    retrieved = bm25_topk_batch(docs, queries, k=20)
    # boolean-AND relevance WITHOUT a query x corpus cross join: the
    # distinct doc-token stream equi-joins the query-term table and a
    # doc is relevant when it matched ALL of the query's terms — the
    # same postings shape BM25 itself uses, corpus-scale-safe
    qt = queries.select(
        "query_id", F.explode(F.array_distinct("terms")).alias("t"))
    nq = queries.select(
        "query_id", F.size(F.array_distinct("terms")).alias("__nt"))
    dtok = (docs.select(
        "doc_id",
        F.explode(F.array_distinct(
            F.filter(F.split(F.trim(F.lower(F.col("text"))), r"\s+"),
                     lambda t: t != ""))).alias("t")))
    rel = (dtok.join(F.broadcast(qt), "t")
           .groupBy("query_id", "doc_id")
           .agg(F.count("*").alias("__c"))
           .join(F.broadcast(nq), "query_id")
           .where(F.col("__c") == F.col("__nt"))
           .select("query_id", "doc_id"))
    return retrieval_eval(retrieved, rel, k=20)


ORACLE_RETRIEVAL_EVAL = r"""
with q as (
  select * from (values ('q1', ['spark', 'vector']),
                        ('q2', ['merge', 'window']),
                        ('q3', ['customer', 'order', 'join']))
    as t(query_id, terms)
),
qt as (select query_id, unnest(list_distinct(terms)) as term from q),
tok as (
  select doc_id, term from (
    select doc_id,
           unnest(regexp_split_to_array(trim(lower(text)), '\s+')) as term
    from documents)
  where term <> ''
),
dl as (select doc_id, count(*) as dl from tok group by 1),
corpus as (select count(*) as n_docs, avg(dl) as avgdl from dl),
post as (
  select term, doc_id, count(*) as tf from tok
  where term in (select term from qt) group by 1, 2
),
dfreq as (select term, count(*) as df from post group by 1),
scored as (
  select qt.query_id, p.doc_id,
         round(sum(ln(1.0 + (c.n_docs - f.df + 0.5) / (f.df + 0.5))
                   * (p.tf * 2.2
                      / (p.tf + 1.2 * (1 - 0.75 + 0.75 * d.dl / c.avgdl)))),
               6) as score
  from post p
  join dfreq f using (term)
  join dl d using (doc_id)
  cross join corpus c
  join qt on qt.term = p.term
  group by qt.query_id, p.doc_id
),
retrieved as (
  select query_id, doc_id, rank from (
    select query_id, doc_id,
           cast(row_number() over (partition by query_id
                                   order by score desc, doc_id) as int)
             as rank
    from scored)
  where rank <= 20
),
dw as (
  select doc_id,
         list_filter(string_split_regex(trim(lower(text)), '\s+'),
                     x -> x <> '') as ws
  from documents
),
rel as (
  select q.query_id, dw.doc_id
  from q, dw
  where len(list_filter(q.terms, t -> not list_contains(dw.ws, t))) = 0
),
nrel as (select query_id, count(*) as n_rel from rel group by 1),
hits as (
  select r.query_id, count(*) as hits_at_k, min(r.rank) as first_rank
  from retrieved r join rel using (query_id, doc_id)
  group by r.query_id
)
select n.query_id, cast(n.n_rel as bigint) as n_rel,
       cast(coalesce(h.hits_at_k, 0) as bigint) as hits_at_k,
       floor(coalesce(h.hits_at_k, 0) * 1.0 / n.n_rel * 1e6) / 1e6
         as recall_at_k,
       cast(coalesce(floor(1e6 / h.first_rank), 0) as bigint) as rr_micro
from nrel n left join hits h using (query_id)
"""


def q_novelty(spark, sf_dir):
    """N-gram novelty vs a reference corpus (ops/pipeline.py::
    novelty_score): every 4th doc plays the reference; the rest report
    the fraction of their distinct 8-grams unseen in it. The oracle
    replays grams, membership and the fraction."""
    from drill_spark.ops.pipeline import novelty_score

    docs = _docs(spark, sf_dir)
    ref = docs.where(F.col("doc_id") % 4 == 0)
    corpus = docs.where(F.col("doc_id") % 4 != 0)
    return novelty_score(corpus, ref, "doc_id", "text", n=8)


ORACLE_NOVELTY = r"""
with w as (
  select doc_id, string_split_regex(trim(lower(text)), '\s+') as w
  from documents
),
g as (
  select doc_id, unnest(list_distinct(list_transform(
      generate_series(1, greatest(len(w) - 7, 0)),
      i -> substring(md5(array_to_string(w[i:i+7], ' ')), 1, 16)))) as ng
  from w
  where len(w) >= 8
),
r as (select distinct ng from g where doc_id % 4 = 0),
c as (select * from g where doc_id % 4 <> 0),
t as (select doc_id, count(*) as n_grams from c group by 1),
s as (select c.doc_id, count(*) as n_seen from c join r using (ng)
      group by 1)
select t.doc_id, n_grams,
       coalesce(n_seen, 0) as n_seen,
       round(1 - coalesce(n_seen, 0) * 1.0 / n_grams, 4) as novelty
from t left join s on t.doc_id = s.doc_id
"""


def q_stream_incr_dedup(spark, sf_dir):
    """Streaming ingest dedup (streaming/events.py::
    stream_incremental_dedup): even-id docs arrive as micro-batch 0,
    odd-id as micro-batch 1 (file source, maxFilesPerTrigger=1, mtimes
    pinned so batch order is deterministic); each batch dedups within
    itself and against the Delta digest store, survivors land in an
    output Delta exactly-once. The oracle is the batch semantics
    replayed in SQL — streaming and batch share ONE dedup contract."""
    import os
    import tempfile

    from drill_spark.readers.delta import read_delta
    from drill_spark.streaming.events import stream_incremental_dedup

    docs = _docs(spark, sf_dir)

    def build(src):
        _write_two_batch_source(
            src,
            docs.where(F.col("doc_id") % 2 == 0),
            docs.where(F.col("doc_id") % 2 == 1),
        )

    # the two-batch source is content-stable per sf_dir — write it once;
    # the digest store / output / checkpoint stay per-run (they ARE the
    # operator's stateful surface)
    src = _materialize_once(sf_dir, "sincdedup_src", build)
    base = tempfile.mkdtemp(prefix="sincdedup_")
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1).parquet(src)
    )
    q = stream_incremental_dedup(
        stream, os.path.join(base, "store"), os.path.join(base, "out"),
        os.path.join(base, "ckpt"),
    )
    q.awaitTermination()
    return read_delta(spark, os.path.join(base, "out")).select("doc_id")


ORACLE_STREAM_INCR_DEDUP = r"""
with d as (
  select doc_id, md5(regexp_replace(lower(text), '\s+', ' ', 'g')) as h
  from documents
),
b0 as (select h, min(doc_id) as doc_id from d where doc_id % 2 = 0
       group by 1),
b1 as (select h, min(doc_id) as doc_id from d where doc_id % 2 = 1
       group by 1),
b1k as (
  select b1.doc_id from b1
  where not exists (select 1 from b0 where b0.h = b1.h)
)
select doc_id from b0
union all
select doc_id from b1k
"""


def q_stream_setsim_dedup(spark, sf_dir):
    """Streaming EXACT set-similarity ingest dedup (streaming/
    events.py::stream_incremental_setsim): even-id docs arrive as
    micro-batch 0, odd-id as micro-batch 1 (file source, pinned
    mtimes); each batch dedups within itself (setsim_join chain
    collapse) and against the persistent postings store, survivors
    land in an output Delta exactly-once. Deterministic end to end —
    no MinHash estimation — so the STREAMED protocol hash-checks
    against the closed-form batch oracle (union of both batches'
    survivors)."""
    import os
    import tempfile

    from drill_spark.readers.delta import read_delta
    from drill_spark.streaming.events import stream_incremental_setsim

    docs = _docs(spark, sf_dir).where(F.col("doc_id") < 240)

    def build(src):
        _write_two_batch_source(
            src,
            docs.where(F.col("doc_id") % 2 == 0),
            docs.where(F.col("doc_id") % 2 == 1),
        )

    src = _materialize_once(sf_dir, "ssetsim_src", build)
    base = tempfile.mkdtemp(prefix="ssetsim_")
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1).parquet(src)
    )
    q = stream_incremental_setsim(
        stream, os.path.join(base, "store"), os.path.join(base, "out"),
        os.path.join(base, "ckpt"),
        threshold=0.8,
    )
    q.awaitTermination()
    return read_delta(spark, os.path.join(base, "out")).select("doc_id")


def q_stream_substr_dedup(spark, sf_dir):
    """Streaming ExactSubstr ingest dedup (streaming/events.py::
    stream_incremental_substr): even-id docs (< 240) arrive as
    micro-batch 0, odd-id as micro-batch 1 (file source, batch-named
    files); each batch is cleaned of spans seen in earlier batches via
    the persistent span-digest store plus within-batch keep-lowest,
    and the CLEANED rows land in an output Delta exactly-once.
    Deterministic end to end, so the STREAMED protocol hash-checks
    against the closed-form batch oracle (union of both batches'
    cleaned rows)."""
    import os
    import tempfile

    from drill_spark.readers.delta import read_delta
    from drill_spark.streaming.events import stream_incremental_substr

    docs = _docs(spark, sf_dir).where(F.col("doc_id") < 240)

    def build(src):
        _write_two_batch_source(
            src,
            docs.where(F.col("doc_id") % 2 == 0),
            docs.where(F.col("doc_id") % 2 == 1),
        )

    src = _materialize_once(sf_dir, "ssubstr_src", build)
    base = tempfile.mkdtemp(prefix="ssubstr_")
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1).parquet(src)
    )
    q = stream_incremental_substr(
        stream, os.path.join(base, "store"), os.path.join(base, "out"),
        os.path.join(base, "ckpt"), min_tokens=8,
    )
    q.awaitTermination()
    return read_delta(spark, os.path.join(base, "out"))


ORACLE_STREAM_SUBSTR_DEDUP = r"""
with d2 as (
  select doc_id, toks, len(toks) as n
  from (select doc_id,
               list_filter(string_split_regex(trim(lower(text)), '\s+'),
                           x -> x <> '') as toks
        from documents where doc_id < 240)
  where len(toks) > 0
),
w as (
  select doc_id, unnest(list_transform(range(1, greatest(n - 8, -1) + 2),
         i -> struct_pack(p := i,
                          span := array_to_string(toks[i:i+7], ' ')))) as s
  from d2
),
wf as (select doc_id, s.p as p, s.span as span from w),
-- batch 0 (evens): within-batch keep-lowest only
evw as (select * from wf where doc_id % 2 = 0),
emd as (select span, min(doc_id) as min_id from evw group by 1),
erem as (select e.doc_id, e.p from evw e join emd using (span)
         where e.doc_id > emd.min_id),
-- batch 1 (odds): within-batch keep-lowest + any even span (store)
odw as (select * from wf where doc_id % 2 = 1),
omd as (select span, min(doc_id) as min_id from odw group by 1),
orem as (
  select o.doc_id, o.p from odw o join omd using (span)
  where o.doc_id > omd.min_id
  union
  select o.doc_id, o.p from odw o
  where o.span in (select distinct span from evw)
),
rem as (select * from erem union all select * from orem),
cov as (select distinct doc_id, unnest(range(p, p + 8)) as p from rem),
tokp as (select doc_id, unnest(toks) as tok,
                unnest(range(1, n + 1)) as p from d2),
keptagg as (
  select t.doc_id,
         array_to_string(list(t.tok order by t.p), ' ') as clean_text,
         count(*) as n_kept
  from tokp t
  where not exists (select 1 from cov c
                    where c.doc_id = t.doc_id and c.p = t.p)
  group by 1
)
select d2.doc_id,
       cast(d2.n as bigint) as n_tokens,
       cast(d2.n - coalesce(k.n_kept, 0) as bigint) as n_removed,
       coalesce(k.clean_text, '') as clean_text
from d2 left join keptagg k using (doc_id)
"""


ORACLE_STREAM_SETSIM_DEDUP = r"""
with d as (select doc_id, trim(lower(text)) as t from documents
           where doc_id < 240),
tok as (
  select distinct doc_id, tok
  from (select doc_id, unnest(string_split_regex(t, '\s+')) as tok from d)
  where tok <> ''
),
sz as (select doc_id, count(*) as sz from tok group by 1),
jac as (
  select a.doc_id as id_a, b.doc_id as id_b,
         count(*) * 1.0 / (sa.sz + sb.sz - count(*)) as j
  from tok a
  join tok b on a.tok = b.tok and a.doc_id < b.doc_id
  join sz sa on sa.doc_id = a.doc_id
  join sz sb on sb.doc_id = b.doc_id
  group by a.doc_id, b.doc_id, sa.sz, sb.sz
),
even_surv as (
  select doc_id from sz where doc_id % 2 = 0
    and doc_id not in (select id_b from jac
                       where id_a % 2 = 0 and id_b % 2 = 0 and j >= 0.8)
),
odd_within as (
  select doc_id from sz where doc_id % 2 = 1
    and doc_id not in (select id_b from jac
                       where id_a % 2 = 1 and id_b % 2 = 1 and j >= 0.8)
),
odd_surv as (
  select o.doc_id
  from odd_within o
  where not exists (
    select 1 from jac, even_surv e
    where j >= 0.8
      and ((id_a = o.doc_id and id_b = e.doc_id)
           or (id_b = o.doc_id and id_a = e.doc_id)))
)
select doc_id from even_surv
union all
select doc_id from odd_surv
"""


def q_stream_crawl(spark, sf_dir):
    """Streaming crawl ingest (streaming/crawl.py): two .warc.gz
    archives (even-id docs, then odd-id) arrive as separate
    micro-batches (binaryFile arrival source, maxFilesPerTrigger=1);
    each epoch hands its file list to the BATCH WARC reader + HTML
    extraction and appends exactly-once to a Delta documents table.
    The oracle replays the batch semantics closed-form: every document
    once, with title/text produced by the same generated HTML chain as
    ext_html_extract — streaming and batch share ONE extraction path,
    which is the point."""
    import os
    import tempfile

    from drill_spark.readers.delta import read_delta
    from drill_spark.readers.warc import write_warc
    from drill_spark.streaming.crawl import stream_crawl_ingest

    docs = load_fixture(spark, sf_dir, "documents")
    sid = F.col("doc_id").cast("string")
    p0, p1, p2, p3 = _HTML_FIXTURE_PRE
    pages = docs.select(
        F.concat(F.lit("https://crawl.example/doc/"), sid).alias("target_uri"),
        F.concat(F.lit(p0), sid, F.lit(p1), sid, F.lit(p2),
                 F.col("text"), F.lit(p3)).alias("text"),
    )
    def build(d):
        parity = F.col("target_uri").substr(-1, 1).cast("int") % 2
        write_warc(pages.where(parity == 0).coalesce(1), d)
        write_warc(pages.where(parity == 1).coalesce(1), d)

    src = _materialize_once(sf_dir, "scrawl_src", build)
    base = tempfile.mkdtemp(prefix="scrawl_")
    q = stream_crawl_ingest(
        spark, src, os.path.join(base, "out"), os.path.join(base, "ckpt"),
        max_files_per_trigger=1,
    )
    q.awaitTermination()
    return (
        read_delta(spark, os.path.join(base, "out"))
        .select("url", "title", F.col("text").alias("text_clean"))
    )


def _stream_crawl_oracle() -> str:
    title, t = _html_chain_sql(_html_fixture_src_sql())
    return (
        "select 'https://crawl.example/doc/' || doc_id as url, "
        f"{title} as title, {t} as text_clean from documents"
    )


ORACLE_STREAM_CRAWL = _stream_crawl_oracle()


def q_crawl_pipeline(spark, sf_dir):
    """End-to-end crawl curation in ONE declarative plan (the composed
    form of op_warc_scan + ext_html_extract + exact-dup signaling): the
    WARC archives are scanned with byte-range member splits, pages are
    HTML-extracted by the Catalyst regexp chain, the body (text after
    the first blank line, i.e. past the per-page heading) is hashed,
    and a window marks body-duplicate pages — scan -> extract -> dedup
    signal with no materialization barrier; the only shuffle is the
    dup-hash window. Oracle replays every step closed-form, including
    the generated HTML chain."""
    from pyspark.sql import Window

    from drill_spark.ops.text import html_title, html_to_text
    from drill_spark.readers.warc import read_warc, write_warc

    docs = load_fixture(spark, sf_dir, "documents")
    sid = F.col("doc_id").cast("string")
    p0, p1, p2, p3 = _HTML_FIXTURE_PRE
    # every 7th page is crawl boilerplate (same body, distinct URL and
    # heading) so the dup signal has real positives to find
    body_text = F.when(
        F.col("doc_id") % 7 == 3,
        F.lit("Construction notice. Check back soon."),
    ).otherwise(F.col("text"))
    pages = docs.select(
        F.concat(F.lit("https://crawl.example/doc/"), sid).alias("target_uri"),
        F.concat(F.lit(p0), sid, F.lit(p1), sid, F.lit(p2),
                 body_text, F.lit(p3)).alias("text"),
    )

    def build(d):
        parity = F.col("target_uri").substr(-1, 1).cast("int") % 2
        write_warc(pages.where(parity == 0).coalesce(1), d)
        write_warc(pages.where(parity == 1).coalesce(1), d)

    src = _materialize_once(sf_dir, "crawlpipe_src", build)
    html = F.decode(F.col("payload"), "UTF-8")
    ext = (
        read_warc(spark, src)
        .filter(F.col("warc_type") == "response")
        .select(
            F.col("target_uri").alias("url"),
            html_title(html).alias("title"),
            html_to_text(html).alias("txt"),
        )
    )
    body = F.col("txt").substr(
        F.locate("\n\n", F.col("txt")) + F.lit(2), F.length("txt"))
    w = Window.partitionBy(F.md5(body))
    return ext.select(
        "url", "title",
        F.length("txt").alias("n_chars"),
        (F.count("*").over(w) > 1).alias("is_dup"),
    )


def _crawl_pipeline_oracle() -> str:
    p0, p1, p2, p3 = _HTML_FIXTURE_PRE
    esc = [p.replace("'", "''") for p in (p0, p1, p2, p3)]
    body = ("case when doc_id % 7 = 3 "
            "then 'Construction notice. Check back soon.' "
            "else text end")
    src = (f"'{esc[0]}' || doc_id || '{esc[1]}' || doc_id || "
           f"'{esc[2]}' || ({body}) || '{esc[3]}'")
    title, t = _html_chain_sql(src)
    return f"""
with x as (
  select 'https://crawl.example/doc/' || doc_id as url,
         {title} as title, {t} as txt
  from documents
)
select url, title, cast(length(txt) as int) as n_chars,
       count(*) over (partition by
                      md5(substr(txt, strpos(txt, e'\\n\\n') + 2))) > 1
         as is_dup
from x
"""


ORACLE_CRAWL_PIPELINE = _crawl_pipeline_oracle()


def q_vector_index(spark, sf_dir):
    """Persistent vector index (ops/vecindex.py — CREATE VECTOR INDEX
    semantics: ONE build persisted as centroids+codebooks+cell-
    partitioned codes, then cheap partition-pruned ADC probes): the
    index over embeddings is built once per sf_dir, and the driver
    probe runs with nprobe = n_cells and unbounded rerank so the
    result is provably the EXACT cosine top-k — the correctness gate
    for the full build/persist/load/probe/rerank path (the
    approximate nprobe path is recall-bounded in pytest)."""
    from drill_spark.ops.vecindex import build_vector_index, index_topk

    embs = _embs(spark, sf_dir)

    def build(d):
        build_vector_index(embs, d, n_cells=8, m=8, n_codes=16)

    path = _materialize_once(sf_dir, "vecidx", build)
    queries = embs.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"))
    return index_topk(spark, path, queries, k=3, nprobe=8,
                      rerank=10**6, base=embs)


def q_vector_index_probe(spark, sf_dir):
    """Serve-path probe against the SAME prebuilt index as
    ext_vector_index: nprobe=2 of 8 cells (the realistic
    build-once/probe-many pattern), so the codes scan reads ~1/4 of
    the cell directories via the STATIC `cell IN` partition filter and
    reranks a bounded shortlist. Approximate by design → rows-only
    driver check; recall and the partition-prune plan are bounded in
    tests/test_vecindex.py."""
    from drill_spark.ops.vecindex import build_vector_index, index_topk

    embs = _embs(spark, sf_dir)

    def build(d):
        build_vector_index(embs, d, n_cells=8, m=8, n_codes=16)

    path = _materialize_once(sf_dir, "vecidx", build)
    queries = embs.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"))
    return index_topk(spark, path, queries, k=3, nprobe=2,
                      rerank=50, base=embs)


ORACLE_VECTOR_INDEX = """
with q as (select vec_id as query_id, embedding as qv from embeddings where vec_id < 5),
scored as (
  select q.query_id, e.vec_id as neighbor_id,
         round(list_cosine_similarity(cast(e.embedding as double[]), cast(q.qv as double[])), 4) as cosine
  from embeddings e cross join q
  where e.vec_id <> q.query_id
)
select query_id, neighbor_id, cosine,
       cast(row_number() over (partition by query_id order by cosine desc, neighbor_id) as int) as rank
from scored
qualify rank <= 3
"""


def q_link_graph(spark, sf_dir):
    """Domain-level link graph from raw HTML (ops/text.py::html_links
    + url_domain): pages with planted <a href> outlinks are reduced to
    a (src_domain, dst_domain, links) edge aggregation — the input of
    the PageRank/centrality stage of a crawl pipeline, and all
    codegen: one regexp_extract_all, one explode, one aggregate."""
    from drill_spark.ops.text import html_links, url_domain

    docs = load_fixture(spark, sf_dir, "documents")
    sid = F.col("doc_id").cast("string")
    page = F.concat(
        F.lit('<html><body><a href="https://site'), (F.col("doc_id") % 5).cast("string"),
        F.lit('.example/p/'), sid,
        F.lit('">x</a> <a href="https://site'), (F.col("doc_id") % 3).cast("string"),
        F.lit('.example/q">y</a></body></html>'),
    )
    src_url = F.concat(F.lit("https://host"), (F.col("doc_id") % 4).cast("string"),
                       F.lit(".example/doc/"), sid)
    pages = docs.select(src_url.alias("url"), page.alias("html"))
    edges = pages.select(
        url_domain(F.col("url")).alias("src_domain"),
        F.explode(html_links(F.col("html"))).alias("href"),
    )
    return (
        edges.select("src_domain",
                     url_domain(F.col("href")).alias("dst_domain"))
        .groupBy("src_domain", "dst_domain")
        .agg(F.count("*").alias("links"))
    )


ORACLE_LINK_GRAPH = r"""
with pages as (
  select 'https://host' || (doc_id % 4) || '.example/doc/' || doc_id as url,
         '<html><body><a href="https://site' || (doc_id % 5)
         || '.example/p/' || doc_id
         || '">x</a> <a href="https://site' || (doc_id % 3)
         || '.example/q">y</a></body></html>' as html
  from documents
),
links as (
  select url, unnest(regexp_extract_all(html,
           '(?i)href\s*=\s*["'']([^"'']+)["'']', 1)) as href
  from pages
),
hosts as (
  select regexp_extract(url, '^[a-z]+://([^/:?#]*)', 1) as sh,
         regexp_extract(href, '^[a-z]+://([^/:?#]*)', 1) as dh
  from links
)
select case when len(string_split(sh, '.')) >= 2
            then string_split(sh, '.')[-2] || '.' || string_split(sh, '.')[-1]
            else sh end as src_domain,
       case when len(string_split(dh, '.')) >= 2
            then string_split(dh, '.')[-2] || '.' || string_split(dh, '.')[-1]
            else dh end as dst_domain,
       count(*) as links
from hosts
group by 1, 2
"""


def q_warc_digest_dedup(spark, sf_dir):
    """Decode-free exact crawl dedup: a metadata-only WARC scan
    (payload bytes dropped INSIDE the decode task, never moved through
    Arrow) grouped by the spec's WARC-Payload-Digest — the Common
    Crawl dedup recipe, where a 100 TB archive set dedups on 32-byte
    digests without inflating a single body. Fixture plants identical
    boilerplate bodies on every 5th page; the oracle groups the same
    closed-form body text (sha1 is injective on the fixture)."""
    from drill_spark.readers.warc import read_warc, write_warc

    docs = load_fixture(spark, sf_dir, "documents")
    sid = F.col("doc_id").cast("string")
    body = F.when(F.col("doc_id") % 5 == 0,
                  F.lit("duplicate boilerplate page")).otherwise(
        F.concat(F.lit("page "), sid))

    def build(d):
        write_warc(
            docs.select(
                F.concat(F.lit("https://crawl.example/wd/"),
                         sid).alias("target_uri"),
                body.alias("text")),
            d)

    src = _materialize_once(sf_dir, "warcdigest", build)
    meta = read_warc(spark, src, with_payload=False)
    return (
        meta.filter(F.col("warc_type") == "response")
        .groupBy("payload_digest")
        .agg(F.count("*").alias("n_pages"),
             F.min("target_uri").alias("canonical_url"))
        # the digest itself is engine-specific (sha1:BASE32 — DuckDB
        # has no base32); the dedup RESULT is the comparable part
        .select("n_pages", "canonical_url")
    )


ORACLE_WARC_DIGEST_DEDUP = """
with pages as (
  select 'https://crawl.example/wd/' || doc_id as url,
         case when doc_id % 5 = 0 then 'duplicate boilerplate page'
              else 'page ' || doc_id end as body
  from documents
)
select cast(count(*) as bigint) as n_pages,
       min(url) as canonical_url
from pages
group by body
"""


def q_robots_filter(spark, sf_dir):
    """RFC 9309 robots.txt filtering (ops/crawlpolicy.py): URLs judged
    against a per-domain rule table by longest-match with Allow
    precedence, `*` wildcards and `$` anchors — pure Catalyst
    (broadcast rules + one window); the oracle replays the LIKE
    translation and precedence window closed-form. Fixture plants
    private paths, pdf files (caught by the anchored wildcard), a
    fully-disallowed domain, and rule-free domains (default allow)."""
    from drill_spark.ops.crawlpolicy import robots_filter

    docs = load_fixture(spark, sf_dir, "documents")
    sid = F.col("doc_id").cast("string")
    path = (
        F.when(F.col("doc_id") % 5 == 0, F.concat(F.lit("/private/doc"), sid))
        .when(F.col("doc_id") % 7 == 1, F.concat(F.lit("/files/d"), sid,
                                                 F.lit(".pdf")))
        .otherwise(F.concat(F.lit("/pages/"), sid))
    )
    urls = docs.select(F.concat(
        F.lit("https://site"), (F.col("doc_id") % 4).cast("string"),
        F.lit(".example"), path).alias("url"))
    rules = local_frame(
        spark,
        [("site0.example", "/private/", False),
         ("site0.example", "/private/doc10", True),
         ("site0.example", "/*.pdf$", False),
         ("site1.example", "/", False)],
        "domain string, prefix string, allow boolean")
    return robots_filter(urls, rules).select("url", "allowed",
                                             "matched_rule")


ORACLE_ROBOTS_FILTER = r"""
with urls as (
  select 'https://site' || (doc_id % 4) || '.example' ||
         case when doc_id % 5 = 0 then '/private/doc' || doc_id
              when doc_id % 7 = 1 then '/files/d' || doc_id || '.pdf'
              else '/pages/' || doc_id end as url,
         'site' || (doc_id % 4) || '.example' as dom,
         case when doc_id % 5 = 0 then '/private/doc' || doc_id
              when doc_id % 7 = 1 then '/files/d' || doc_id || '.pdf'
              else '/pages/' || doc_id end as path
  from documents
),
rules(domain, prefix, allow, pat) as (
  values ('site0.example', '/private/', false, '/private/%'),
         ('site0.example', '/private/doc10', true, '/private/doc10%'),
         ('site0.example', '/*.pdf$', false, '/%.pdf'),
         ('site1.example', '/', false, '/%')
),
joined as (
  select u.url, r.prefix, r.allow,
         (r.prefix is not null and u.path like r.pat escape '\') as hit,
         length(r.prefix) as plen
  from urls u left join rules r on r.domain = u.dom
),
ranked as (
  select url, prefix, allow, hit,
         row_number() over (
           partition by url
           order by case when hit then plen end desc nulls last,
                    case when hit then allow end desc nulls last,
                    prefix asc nulls last) as rn
  from joined
)
select url,
       coalesce(case when hit then allow end, true) as allowed,
       case when hit then prefix end as matched_rule
from ranked where rn = 1
"""


def q_cdx_index(spark, sf_dir):
    """CDXJ capture index over a crawl archive (readers/cdx.py — the
    random-access layer: sorted SURT-keyed shards + cluster.idx built
    in one metadata-only distributed pass; consumers then fetch ONE
    page via (filename, offset) without scanning archives): the oracle
    replays the SURT transform and capture facts closed-form; the
    byte coordinates and point-lookup path are pytest-verified
    (tests/test_cdx.py)."""
    from drill_spark.readers.cdx import generate_cdx, read_cdx
    from drill_spark.readers.warc import write_warc

    docs = load_fixture(spark, sf_dir, "documents")
    sid = F.col("doc_id").cast("string")
    body = F.when(F.col("doc_id") % 5 == 0,
                  F.lit("duplicate boilerplate page")).otherwise(
        F.concat(F.lit("page "), sid))

    def build_warc(d):
        write_warc(
            docs.select(
                F.concat(F.lit("https://crawl.example/wd/"),
                         sid).alias("target_uri"),
                body.alias("text")),
            d)

    warc_dir = _materialize_once(sf_dir, "warcdigest", build_warc)

    def build_cdx(d):
        generate_cdx(spark, warc_dir, d, shards=4)

    cdx_dir = _materialize_once(sf_dir, "cdxidx", build_cdx)
    return read_cdx(spark, cdx_dir).select("urlkey", "ts", "url", "status")


ORACLE_CDX_INDEX = """
select 'example,crawl)/wd/' || doc_id as urlkey,
       '20200101000000' as ts,
       'https://crawl.example/wd/' || doc_id as url,
       cast(200 as int) as status
from documents
"""


_PR_ITERS = 3


def q_pagerank(spark, sf_dir):
    """Distributed PageRank over a planted link graph (ops/graph.py —
    the crawl-centrality signal quality filters consume; one shuffle
    per iteration, dangling mass folded back in-plan): every doc links
    to (id+1)%n and (2*id+3)%n, 3 synchronous iterations at d=0.85.
    The update is pure arithmetic, so the oracle UNROLLS the same
    iterations as SQL CTEs and hash-matches to 6 decimals."""
    from drill_spark.ops.graph import pagerank

    docs = load_fixture(spark, sf_dir, "documents")
    n = docs.count()
    e1 = docs.select(F.col("doc_id").alias("src"),
                     ((F.col("doc_id") + 1) % n).alias("dst"))
    e2 = docs.select(F.col("doc_id").alias("src"),
                     ((F.col("doc_id") * 2 + 3) % n).alias("dst"))
    pr = pagerank(e1.unionByName(e2), iterations=_PR_ITERS)
    return pr.select("node", F.round("rank", 6).alias("rank"))


def _pagerank_oracle() -> str:
    ctes = [
        "n as (select count(*) as c from documents)",
        ("e as (select doc_id as src, (doc_id + 1) % c as dst "
         "from documents, n union all "
         "select doc_id, (doc_id * 2 + 3) % c from documents, n)"),
        "deg as (select src, count(*) as outdeg from e group by src)",
        "r0 as (select doc_id as node, 1.0 / c as rank from documents, n)",
    ]
    for it in range(1, _PR_ITERS + 1):
        ctes.append(
            f"r{it} as (select d.doc_id as node, "
            f"0.15 / n.c + 0.85 * coalesce(cs.s, 0) as rank "
            f"from documents d cross join n left join ("
            f"select e.dst as node, sum(r.rank / deg.outdeg) as s "
            f"from e join r{it - 1} r on r.node = e.src "
            f"join deg on deg.src = e.src group by e.dst) cs "
            f"on cs.node = d.doc_id)"
        )
    return ("with " + ", ".join(ctes)
            + f" select node, round(rank, 6) as rank from r{_PR_ITERS}")


ORACLE_PAGERANK = _pagerank_oracle()


def q_heavy_hitters(spark, sf_dir):
    """Exact heavy hitters at bounded memory (ops/sketch.py:
    Misra-Gries candidates + exact verify — state k*n_tasks instead of
    key cardinality): a skewed value column ('mega' ~33%, 'minor' ~10%
    of non-mega, singleton tail) with k=5, so the n/6 threshold admits
    ONLY 'mega' — the oracle replays the threshold closed-form, and
    'minor' sitting just below it proves the cutoff is exact."""
    from drill_spark.ops.sketch import heavy_hitters

    docs = load_fixture(spark, sf_dir, "documents")
    val = (
        F.when(F.col("doc_id") % 3 == 0, F.lit("mega"))
        .when(F.col("doc_id") % 7 == 1, F.lit("minor"))
        .otherwise(F.concat(F.lit("tail-"), F.col("doc_id").cast("string")))
    )
    return heavy_hitters(
        docs.select(val.alias("value")).repartition(8), "value", k=5
    ).select("value", "cnt")


ORACLE_HEAVY_HITTERS = """
with v as (
  select case when doc_id % 3 = 0 then 'mega'
              when doc_id % 7 = 1 then 'minor'
              else 'tail-' || doc_id end as value
  from documents
),
tot as (select count(*) as n from v)
select value, cast(count(*) as bigint) as cnt
from v, tot
group by value, n
having count(*) * 6 > n
"""


def q_skew_join(spark, sf_dir):
    """Skew-resilient join through the documented auto-path
    (ops/scale.py::auto_skew_join = skew_profile → salted_join): a
    derived fact key where ONE supplier receives ~2/3 of all lineitem
    rows (every l_orderkey % 3 != 0 row maps to supplier 1 — far past
    the 30% single-key share that melts a hash-distributed join), then
    an inner join to supplier and a per-supplier revenue rollup.

    The profile measures skew >> 4× mean, routes to salted_join
    (salt=16 spreads the hot key over 16 reducers), and the oracle is
    the PLAIN join — so this CORRECTNESS row proves result-set equality
    of the skew path end-to-end. Revenue is aggregated in integer
    cents (floor) so the hash matches across engines.

    Reference anchor: Drill hash-distributes both sides by join key
    (planner/physical/DrillDistributionTrait.java:144) with no skew
    mitigation; AQE's runtime split plus this static salt path is the
    Spark-first answer (tests/test_scale.py::test_aqe_skew_join_split
    proves the runtime half)."""
    from drill_spark.ops.scale import auto_skew_join

    li = load_fixture(spark, sf_dir, "lineitem").select(
        F.when(F.col("l_orderkey") % 3 != 0, F.lit(1).cast("long"))
        .otherwise(F.col("l_suppkey")).alias("sk"),
        F.floor(F.col("l_extendedprice") * (1 - F.col("l_discount"))
                * 100).alias("cents"),
    )
    supp = load_fixture(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("sk"), "s_name")
    return (
        auto_skew_join(li, supp, ["sk"], "inner", salt=16)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("n_items"),
             F.sum("cents").alias("revenue_cents"))
    )


ORACLE_SKEW_JOIN = """
with f as (
  select case when l_orderkey % 3 <> 0 then 1 else l_suppkey end as sk,
         cast(floor(l_extendedprice * (1 - l_discount) * 100) as bigint)
           as cents
  from lineitem
)
select s_name, cast(count(*) as bigint) as n_items,
       cast(sum(cents) as bigint) as revenue_cents
from f join supplier on s_suppkey = sk
group by s_name
"""


def _crossmodal_images(docs):
    """Solid-color BMPs derived from doc_id through the repo's real
    codec — the shared image side of the crossmodal fixture queries."""
    import numpy as np
    import pandas as pd

    from drill_spark.ops.multimodal import encode_bmp

    def mk_payload(batches):
        for pdf in batches:
            payloads = [
                encode_bmp(np.full(
                    (8, 8, 3),
                    (int(i) * 37 % 256, int(i) * 59 % 256, int(i) * 83 % 256),
                    dtype=np.uint8))
                for i in pdf["doc_id"]
            ]
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    return docs.select("doc_id").mapInPandas(
        mk_payload, schema="doc_id long, payload binary")


def _crossmodal_captions(docs, id_expr):
    """rgb() captions for the color scheme of ``_crossmodal_images``,
    colored by ``id_expr`` (the doc's own id for aligned pairs, a
    shifted id for misaligned ones)."""
    return docs.select(
        "doc_id",
        F.format_string(
            "photo colored rgb(%d, %d, %d)",
            id_expr * 37 % 256, id_expr * 59 % 256, id_expr * 83 % 256,
        ).alias("text"),
    )


def q_crossmodal_topk(spark, sf_dir):
    """CLIP-style cross-modal retrieval (ops/crossmodal.py): solid-color
    BMPs built from doc_id through the repo's real codec, captions with
    literal rgb() spans, both embedded into one joint space (real Arrow
    decode plumbing, stub encoder weights) and joined by cosine top-3.
    Rows-only by design (the projection matrix is not SQL-expressible);
    retrieval identity is pytest-bound in test_crossmodal.py."""
    from drill_spark.ops.crossmodal import (
        crossmodal_topk, embed_captions, embed_images)

    docs = _docs(spark, sf_dir).where(F.col("doc_id") < 96)
    images = _crossmodal_images(docs)
    captions = _crossmodal_captions(docs, F.col("doc_id"))
    return crossmodal_topk(
        embed_images(images), embed_captions(captions), k=3)


def q_mad_outliers(spark, sf_dir):
    """Robust per-user outlier detection (ops/scale.py::mad_outliers):
    events whose value deviates from the user's median by more than
    3 MADs; the oracle replays the two-pass median algebra."""
    from drill_spark.ops.scale import mad_outliers

    ev = load_fixture(spark, sf_dir, "events").select("user_id", "value")
    return mad_outliers(ev, "user_id", "value", k=3.0)


ORACLE_MAD_OUTLIERS = """
with med as (
  select user_id, median(value) as med from events group by 1
),
dev as (
  select e.user_id, median(abs(e.value - m.med)) as mad, min(m.med) as med
  from events e join med m using (user_id)
  group by 1
)
select e.user_id, e.value,
       round(d.med, 4) as med, round(d.mad, 4) as mad,
       round(abs(e.value - d.med) / d.mad, 4) as score
from events e join dev d using (user_id)
where d.mad > 0 and abs(e.value - d.med) > 3.0 * d.mad
"""


def q_incremental_near_dedup(spark, sf_dir):
    """Cross-run NEAR-dup dedup against a persistent MinHash store
    (ops/dedup.py::incremental_near_dedup): even-id docs commit as
    batch 0, odd-id docs then dedup against the store by signature
    agreement. Rows-only by design (xxhash64 signatures are not
    DuckDB-expressible); batch/replay semantics are pytest-bound."""
    import tempfile

    from drill_spark.ops.dedup import incremental_near_dedup

    docs = _docs(spark, sf_dir).where(F.col("doc_id") < 200)
    store = tempfile.mkdtemp(prefix="neardedup_") + "/store"
    incremental_near_dedup(
        docs.where(F.col("doc_id") % 2 == 0), store).count()
    out = incremental_near_dedup(
        docs.where(F.col("doc_id") % 2 == 1), store)
    return out.select("doc_id")


def q_training_shards(spark, sf_dir):
    """Deterministic global shuffle addressing (ops/pipeline.py::
    training_shards): every document gets a content-addressed (shard,
    pos); the oracle replays the hash bucketing and the in-shard md5
    permutation rank."""
    from drill_spark.ops.pipeline import training_shards

    return training_shards(_docs(spark, sf_dir), "doc_id", n_shards=8)


ORACLE_TRAINING_SHARDS = """
with s as (
  select doc_id,
         cast(cast('0x' || substring(md5(cast(doc_id as varchar)), 1, 6)
              as bigint) % 8 as int) as shard
  from documents
)
select doc_id, shard,
       cast(row_number() over (
         partition by shard
         order by md5('pos_' || cast(doc_id as varchar)), doc_id
       ) as int) as pos
from s
"""


def q_funnel(spark, sf_dir):
    """Ordered funnel (ops/temporal.py::funnel): view -> click ->
    purchase per user, later steps strictly after the user's earliest
    prior-step time and within 1 day of step 1; the oracle replays the
    per-step conditional-min CTE chain."""
    from drill_spark.ops.temporal import funnel

    ev = load_fixture(spark, sf_dir, "events").select(
        "user_id", "ts", "event_type")
    return funnel(ev, "ts", "user_id", "event_type",
                  ["view", "click", "purchase"], within_seconds=86400.0)


ORACLE_FUNNEL = """
with ev as (
  select user_id, event_type, epoch(ts) as s from events
),
s1 as (
  select user_id, min(s) as t1 from ev where event_type = 'view'
  group by 1
),
s2 as (
  select e.user_id, min(e.s) as t2, min(s1.t1) as t1
  from ev e join s1 using (user_id)
  where e.event_type = 'click' and e.s > s1.t1 and e.s - s1.t1 <= 86400.0
  group by 1
),
s3 as (
  select e.user_id, min(e.s) as t3
  from ev e join s2 using (user_id)
  where e.event_type = 'purchase' and e.s > s2.t2 and e.s - s2.t1 <= 86400.0
  group by 1
)
select cast(1 as int) as step_idx, 'view' as step,
       (select count(*) from s1) as n_keys
union all
select cast(2 as int), 'click', (select count(*) from s2)
union all
select cast(3 as int), 'purchase', (select count(*) from s3)
"""


def q_retention(spark, sf_dir):
    """Weekly cohort retention (ops/temporal.py::retention): users
    cohort by first-event week; the oracle replays the distinct-
    activity/min-cohort/offset rollup."""
    from drill_spark.ops.temporal import retention

    ev = load_fixture(spark, sf_dir, "events").select("user_id", "ts")
    return retention(ev, "ts", "user_id", unit="week")


ORACLE_RETENTION = """
with active as (
  select distinct user_id, cast(date_trunc('week', ts) as timestamp) as p
  from events
),
cohort as (
  select user_id, min(p) as cohort from active group by 1
)
select c.cohort, cast(date_diff('day', c.cohort, a.p) / 7 as int) as offset,
       count(*) as n_keys
from active a join cohort c using (user_id)
group by 1, 2
"""


def q_maxsim_topk(spark, sf_dir):
    """ColBERT-style late-interaction retrieval (ops/search.py::
    maxsim_topk): top-10 documents for a 3-token query under the
    sum-of-max-dot-products score over per-token hash embeddings; the
    oracle replays tokenization, the deterministic token vectors, the
    q x d interaction max and the ranking entirely in DuckDB HOFs."""
    from drill_spark.ops.search import maxsim_topk

    return maxsim_topk(
        _docs(spark, sf_dir), ["query", "join", "fast"], k=10)


ORACLE_MAXSIM_TOPK = r"""
with d as (
  select doc_id,
         list_transform(
           list_filter(string_split_regex(trim(lower(text)), '\s+'),
                       x -> x <> '')[1:32],
           w -> list_transform(
             list_transform(generate_series(0, 3), j ->
               cast(concat('0x', substring(md5(w), j * 4 + 1, 4)) as int) / 65536.0 - 0.5),
             x -> x / sqrt(list_sum(list_transform(
               list_transform(generate_series(0, 3), j ->
                 cast(concat('0x', substring(md5(w), j * 4 + 1, 4)) as int) / 65536.0 - 0.5),
               y -> y * y)))))
         as dv
  from documents
),
q as (
  select list_transform(['query', 'join', 'fast'],
           w -> list_transform(
             list_transform(generate_series(0, 3), j ->
               cast(concat('0x', substring(md5(w), j * 4 + 1, 4)) as int) / 65536.0 - 0.5),
             x -> x / sqrt(list_sum(list_transform(
               list_transform(generate_series(0, 3), j ->
                 cast(concat('0x', substring(md5(w), j * 4 + 1, 4)) as int) / 65536.0 - 0.5),
               y -> y * y)))))
         as qv
),
scored as (
  select doc_id,
         round(list_sum(list_transform(qv, qt ->
           list_max(list_transform(dv, dt ->
             list_sum(list_transform(generate_series(1, 4),
                                     i -> qt[i] * dt[i])))))), 6) as score
  from d, q
  where len(dv) > 0
)
select doc_id, score,
       cast(row_number() over (order by score desc, doc_id) as int) as rank
from scored
order by score desc, doc_id
limit 10
"""


def q_sessionize(spark, sf_dir):
    """Gap-based sessionization (ops/temporal.py::sessionize): 60-min
    gap sessions per user over the events stream; the oracle replays
    the lag/flag/running-sum/rollup window algebra in DuckDB (epoch
    doubles are exact at microsecond precision on both engines)."""
    from drill_spark.ops.temporal import sessionize

    ev = load_fixture(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id")
    return sessionize(ev, "ts", "user_id", gap_seconds=3600.0,
                      order_col="event_id")


ORACLE_SESSIONIZE = """
with flagged as (
  select user_id, ts, event_id,
         case when lag(epoch(ts)) over w is null
                   or epoch(ts) - lag(epoch(ts)) over w > 3600.0
              then 1 else 0 end as new_sess
  from events
  window w as (partition by user_id order by ts, event_id)
),
runs as (
  select user_id, ts,
         sum(new_sess) over (partition by user_id order by ts, event_id
                             rows unbounded preceding) as session_idx
  from flagged
)
select user_id, session_idx, min(ts) as session_start,
       max(ts) as session_end, count(*) as n_events,
       round(max(epoch(ts)) - min(epoch(ts)), 6) as duration_s
from runs
group by user_id, session_idx
"""


def q_event_paths(spark, sf_dir):
    """Top user-journey paths (ops/temporal.py::event_paths):
    60-min-gap sessions per user, each rendered as its first 5 events
    in order ("view > click > ..."), counted per path — the classic
    product-analytics paths report. One key-shuffle (session algebra
    shares the exchange), a map-combined path count, TakeOrdered
    top-50; deterministic sort keys make it hash-oracle-backed."""
    from drill_spark.ops.temporal import event_paths

    ev = load_fixture(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type")
    return event_paths(ev, "ts", "user_id", "event_type",
                       gap_seconds=3600.0, max_steps=5,
                       order_col="event_id", top=50)


ORACLE_EVENT_PATHS = """
with flagged as (
  select user_id, ts, event_id, event_type,
         case when lag(epoch(ts)) over w is null
                   or epoch(ts) - lag(epoch(ts)) over w > 3600.0
              then 1 else 0 end as new_sess
  from events
  window w as (partition by user_id order by ts, event_id)
),
runs as (
  select user_id, ts, event_id, event_type,
         sum(new_sess) over (partition by user_id order by ts, event_id
                             rows unbounded preceding) as sess
  from flagged
),
paths as (
  select user_id, sess,
         array_to_string(
           (list(event_type order by ts, event_id))[1:5], ' > ') as path
  from runs
  group by user_id, sess
)
select path, count(*) as n_sessions
from paths
group by path
order by n_sessions desc, path
limit 50
"""

def q_event_transitions(spark, sf_dir):
    """First-order event transition matrix (ops/temporal.py::
    event_transitions): within 60-min-gap sessions, consecutive
    (from, to) step counts and outgoing shares — the Markov companion
    of the paths report; output is |event types|^2 regardless of
    event volume. Hash-oracle-backed."""
    from drill_spark.ops.temporal import event_transitions

    ev = load_fixture(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type")
    return event_transitions(ev, "ts", "user_id", "event_type",
                             gap_seconds=3600.0, order_col="event_id")


ORACLE_EVENT_TRANSITIONS = """
with flagged as (
  select user_id, ts, event_id, event_type,
         case when lag(epoch(ts)) over w is null
                   or epoch(ts) - lag(epoch(ts)) over w > 3600.0
              then 1 else 0 end as new_sess
  from events
  window w as (partition by user_id order by ts, event_id)
),
runs as (
  select user_id, ts, event_id, event_type,
         sum(new_sess) over (partition by user_id order by ts, event_id
                             rows unbounded preceding) as sess
  from flagged
),
steps as (
  select event_type as from_event,
         lead(event_type) over w as to_event,
         sess, lead(sess) over w as next_sess
  from runs
  window w as (partition by user_id order by ts, event_id)
),
pairs as (
  select from_event, to_event, count(*) as n
  from steps
  where to_event is not null and next_sess = sess
  group by 1, 2
)
select from_event, to_event, n,
       round(n * 1.0 / sum(n) over (partition by from_event), 4) as share
from pairs
"""

def q_text_nfc(spark, sf_dir):
    """Unicode NFC normalization (ops/text.py::normalize_unicode):
    fixture text enriched with decomposed combining sequences (e +
    U+0301, A + U+030A...) that NFC must collapse to precomposed
    codepoints; DuckDB's nfc_normalize is the oracle. The kernel is an
    Arrow pandas pass over one scan. Spark's chr() is byte-only, so
    the Spark side appends unicode literals; the oracle builds the
    identical tail with DuckDB's codepoint chr()."""
    from drill_spark.ops.text import normalize_unicode

    tail = (
        F.when(F.col("doc_id") % 3 == 0,
               F.lit(" cafe\u0301 resume\u0301"))
        .when(F.col("doc_id") % 3 == 1,
              F.lit(" A\u030angstro\u0308m"))
        .otherwise(F.lit(" plain ascii tail"))
    )
    docs = _docs(spark, sf_dir).select(
        "doc_id", F.concat(F.col("text"), tail).alias("text"))
    return normalize_unicode(docs, "doc_id", "text", form="NFC")


ORACLE_TEXT_NFC = """
with enriched as (
  select doc_id,
         text || case when doc_id % 3 = 0
                      then ' cafe' || chr(769) || ' resume' || chr(769)
                      when doc_id % 3 = 1
                      then ' A' || chr(778) || 'ngstro' || chr(776) || 'm'
                      else ' plain ascii tail' end as text
  from documents
)
select doc_id, nfc_normalize(text) as normalized,
       nfc_normalize(text) <> text as changed
from enriched
"""


def q_weighted_sample(spark, sf_dir):
    """Efraimidis-Spirakis weighted sampling without replacement
    (ops/pipeline.py::weighted_sample): 100 documents drawn with
    probability proportional to n_chars via content-addressed
    exponential keys; the oracle replays the -ln(u)/w ranking."""
    from drill_spark.ops.pipeline import weighted_sample

    return weighted_sample(_docs(spark, sf_dir), "doc_id", "n_chars", 100)


ORACLE_WEIGHTED_SAMPLE = """
select doc_id, cast(n_chars as double) as weight,
       -- w > 0 gate mirrors the operator's A-ES precondition
       round(-ln((cast('0x' || substring(md5(cast(doc_id as varchar)), 1, 6)
                  as bigint) + 1.0) / 16777216.0) / n_chars, 6) as key
from documents
where n_chars > 0
order by key, doc_id
limit 100
"""


def q_crossmodal_align(spark, sf_dir):
    """CLIP-score alignment filtering (ops/crossmodal.py::
    alignment_filter): even doc_ids carry captions matching their
    image's color, odd doc_ids a shifted (wrong) caption. The filter
    keeps ALL aligned pairs (cosine 1.0) and drops misaligned ones,
    except near-achromatic collisions — the stub feature space is
    brightness-invariant for grays, so two near-gray colors embed
    near-parallel (a documented stub property, not a filter bug).
    Rows-only by design; separation is also pytest-bound."""
    from drill_spark.ops.crossmodal import alignment_filter

    docs = _docs(spark, sf_dir).where(F.col("doc_id") < 96)
    images = _crossmodal_images(docs)
    # even ids: caption colors match the image; odd ids: shifted by 1
    cap_src = F.when(F.col("doc_id") % 2 == 0, F.col("doc_id")) \
        .otherwise(F.col("doc_id") + 1)
    captions = _crossmodal_captions(docs, cap_src)
    return alignment_filter(images, captions, threshold=0.999)


def q_temperature_sample(spark, sf_dir):
    """Temperature-scaled mixture sampling (ops/pipeline.py::
    temperature_sample): per-language keep rates proportional to
    p_lang^0.5 under a 50% row budget, gated by an integer-exact
    md5-prefix threshold. The oracle replays the rate algebra and the
    24-bit gate closed-form."""
    from drill_spark.ops.pipeline import temperature_sample

    return temperature_sample(
        _docs(spark, sf_dir), "lang", "doc_id", alpha=0.5, budget_frac=0.5
    )


ORACLE_TEMPERATURE_SAMPLE = """
with counts as (
  select lang, cast(count(*) as double) as c from documents group by lang
),
tot as (select sum(pow(c, 0.5)) as z, sum(c) as n from counts),
rates as (
  select lang,
         cast(floor(least(1.0, 0.5 * n * (pow(c, 0.5) / z) / c)
              * 16777216.0) as bigint) as gate
  from counts, tot
)
select d.doc_id, d.lang, r.gate
from documents d join rates r using (lang)
where cast('0x' || substring(md5(cast(d.doc_id as varchar)), 1, 6)
      as bigint) < r.gate
"""


def q_mixture_build(spark, sf_dir):
    """Token-budget mixture composition (ops/pipeline.py::
    build_mixture): four sources get Pile/LLaMA-style token-share
    targets; under-sized sources repeat for multiple epochs plus a
    content-addressed fractional epoch. The oracle replays the
    token-sum, rate, and md5 gate arithmetic exactly (same IEEE double
    expressions), so the repeat fan-out hash-matches."""
    from drill_spark.ops.pipeline import build_mixture

    return build_mixture(
        _docs(spark, sf_dir), "source", "doc_id", "text",
        {"src0": 0.4, "src1": 0.3, "src2": 0.2, "src3": 0.1},
        token_budget=200_000,
    )


ORACLE_MIXTURE_BUILD = r"""
with toks as (
  select doc_id, source,
         cast(len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
                              w -> w <> '')) as bigint) as n_tokens
  from documents
),
w(source, __w) as (values ('src0', 0.4), ('src1', 0.3),
                          ('src2', 0.2), ('src3', 0.1)),
avail as (select source, cast(sum(n_tokens) as double) as __avail
          from toks group by 1),
rates as (
  select a.source,
         cast(floor(__w * 200000.0 / __avail) as bigint) as __epochs,
         cast(floor(((__w * 200000.0 / __avail)
                     - floor(__w * 200000.0 / __avail))
              * 16777216.0) as bigint) as __gate
  from avail a join w using (source)
),
gated as (
  select t.doc_id, t.source, t.n_tokens,
         r.__epochs + case when cast('0x' ||
             substring(md5(cast(t.doc_id as varchar)), 1, 6) as bigint)
             < r.__gate then 1 else 0 end as total
  from toks t join rates r using (source)
)
select doc_id, source,
       cast(unnest(range(1, cast(total as int) + 1)) as int) as epoch,
       n_tokens
from gated where total >= 1
"""


def _bpe_wtok_sql() -> str:
    """Shared oracle fragment: per-distinct-word token counts under
    the FIXED BPE merge table (ops/bpe.py::FIXED_MERGES_V1), replayed
    by a DuckDB recursive CTE running the same one-merge-per-iteration
    loop as ops/bpe.py::encode_word (lowest rank wins, first occurrence
    merges). The final count per word is min(len(syms)) — merging
    strictly shrinks the symbol list, so the minimum IS the fixed
    point. Yields CTEs: doc_words (doc_id, source, ws), wtok
    (w, n_tok), doc_tok (doc_id, source, n_tokens)."""
    from drill_spark.ops.bpe import FIXED_MERGES_V1

    ranks = ", ".join(f"('{a}', '{b}', {i})"
                      for i, (a, b) in enumerate(FIXED_MERGES_V1))
    return r"""
bpe_ranks(x, y, rk) as (values %s),
rmap as (select map(list(x || chr(1) || y), list(rk)) as m from bpe_ranks),
doc_words as (
  select doc_id, source,
         list_filter(string_split_regex(trim(lower(text)), '\s+'),
                     w -> w <> '') as ws
  from documents
),
dwords as (select distinct unnest(ws) as w from doc_words),
enc as (
  select w, list_append(list_transform(range(1, length(w) + 1),
                                       i -> w[i]), '</w>') as syms
  from dwords
  union all
  select w, list_slice(syms, 1, bi - 1) || [syms[bi] || syms[bi + 1]]
            || list_slice(syms, bi + 2, len(syms))
  from (
    select w, syms, list_position(prs, list_min(prs)) as bi,
           list_min(prs) as br
    from (
      select w, syms,
             list_transform(range(1, len(syms)), i ->
               coalesce(map_extract(m, syms[i] || chr(1) || syms[i + 1])[1],
                        1073741824)) as prs
      from enc, rmap
    ) p1
  ) p2
  where br < 1073741824
),
wtok as (select w, cast(min(len(syms)) as bigint) as n_tok
         from enc group by w),
doc_tok as (
  select dw.doc_id, dw.source,
         coalesce(s.n_tokens, cast(0 as bigint)) as n_tokens
  from doc_words dw
  left join (
    select doc_id, cast(sum(n_tok) as bigint) as n_tokens
    from (select doc_id, unnest(ws) as w from doc_words) u
    join wtok using (w)
    group by doc_id
  ) s using (doc_id)
)""" % ranks


def q_mixture_build_bpe(spark, sf_dir):
    """Tokenizer-TRUE mixture budgets (r11 verdict item 5): the same
    Pile/LLaMA-style token-share targets as ext_mixture_build, but
    counted under the fixed BPE merge table instead of whitespace
    words — the vocabulary that would actually train decides the
    per-source rates. The count column is one Arrow-batched pass
    (ops/bpe.py::bpe_count_column, ranks broadcast in the closure);
    everything downstream keeps build_mixture's zero-corpus-shuffle
    shape. Deterministic, so the DuckDB oracle replays the merge loop
    per distinct word (recursive CTE) and hash-matches."""
    from drill_spark.ops.bpe import FIXED_MERGES_V1, bpe_count_column
    from drill_spark.ops.pipeline import build_mixture

    return build_mixture(
        _docs(spark, sf_dir), "source", "doc_id", "text",
        {"src0": 0.4, "src1": 0.3, "src2": 0.2, "src3": 0.1},
        token_budget=200_000,
        tokens=bpe_count_column("text", FIXED_MERGES_V1),
    )


def _oracle_mixture_build_bpe() -> str:
    return "with recursive " + _bpe_wtok_sql() + r""",
w(source, __w) as (values ('src0', 0.4), ('src1', 0.3),
                          ('src2', 0.2), ('src3', 0.1)),
avail as (select source, cast(sum(n_tokens) as double) as __avail
          from doc_tok group by 1),
rates as (
  select a.source,
         cast(floor(__w * 200000.0 / __avail) as bigint) as __epochs,
         cast(floor(((__w * 200000.0 / __avail)
                     - floor(__w * 200000.0 / __avail))
              * 16777216.0) as bigint) as __gate
  from avail a join w using (source)
),
gated as (
  select t.doc_id, t.source, t.n_tokens,
         r.__epochs + case when cast('0x' ||
             substring(md5(cast(t.doc_id as varchar)), 1, 6) as bigint)
             < r.__gate then 1 else 0 end as total
  from doc_tok t join rates r using (source)
)
select doc_id, source,
       cast(unnest(range(1, cast(total as int) + 1)) as int) as epoch,
       n_tokens
from gated where total >= 1
"""


def q_chunk_pack_bpe(spark, sf_dir):
    """Tokenizer-TRUE chunk inventory: 32-WORD windows per document
    (the same boundaries as ext_chunk_pack) with each chunk's REAL
    token count under the fixed BPE merge table — what a
    tokenize-and-pack trainer actually budgets per sequence. Window
    construction stays a per-row Catalyst transform (no shuffle); only
    the count column is an Arrow-batched pass over the chunk text."""
    from drill_spark.ops.bpe import FIXED_MERGES_V1, bpe_count_column

    from drill_spark.ops.hofutil import bind_once

    docs = _docs(spark, sf_dir)
    # bind the tokenization once per row — referenced bare inside the
    # chunk lambda it would re-split+re-filter the document per chunk
    chunks = bind_once(
        F.filter(F.split(F.trim(F.lower(F.col("text"))), r"\s+"),
                 lambda x: x != ""),
        lambda w: F.transform(
            F.sequence(
                F.lit(0),
                F.floor(F.greatest(F.size(w) - 1, F.lit(0)) / F.lit(32))
                .cast("int"),
            ),
            lambda i: F.struct(
                i.cast("long").alias("chunk_id"),
                F.concat_ws(" ", F.slice(w, i * 32 + 1, 32)).alias("ctext"),
            ),
        ),
    )
    ex = (docs.select("doc_id", F.explode(chunks).alias("c"))
          .select("doc_id", "c.chunk_id", "c.ctext"))
    return ex.select(
        "doc_id", "chunk_id",
        F.size(F.split(F.col("ctext"), " ")).cast("long").alias("n_words"),
        bpe_count_column("ctext", FIXED_MERGES_V1).alias("n_tokens"),
        F.md5("ctext").alias("chunk_hash"),
    )


def _oracle_chunk_pack_bpe() -> str:
    return "with recursive " + _bpe_wtok_sql() + r""",
chunks as (
  select doc_id, i as chunk_id, ws[i*32+1 : i*32+32] as cw
  from doc_words,
       unnest(range(0, greatest(cast(ceil(len(ws) / 32.0) as bigint), 1)))
         as t(i)
),
ctok as (
  select doc_id, chunk_id,
         cast(coalesce(sum(n_tok), 0) as bigint) as n_tokens
  from (select doc_id, chunk_id, unnest(cw) as w from chunks) u
  left join wtok using (w)
  group by doc_id, chunk_id
)
select c.doc_id, c.chunk_id,
       cast(greatest(len(c.cw), 1) as bigint) as n_words,
       coalesce(ct.n_tokens, cast(0 as bigint)) as n_tokens,
       md5(array_to_string(c.cw, ' ')) as chunk_hash
from chunks c left join ctok ct using (doc_id, chunk_id)
"""


def q_epoch_shuffle(spark, sf_dir):
    """Epoch-salted deterministic global shuffle (ops/pipeline.py::
    epoch_shuffle) over the mixture's repeated copies: each epoch's
    copy of a document lands at a different (shard, pos) address. The
    oracle recomputes the salted md5 bucketing + in-shard rank."""
    from drill_spark.ops.pipeline import build_mixture, epoch_shuffle

    mix = build_mixture(
        _docs(spark, sf_dir), "source", "doc_id", "text",
        {"src0": 0.4, "src1": 0.3, "src2": 0.2, "src3": 0.1},
        token_budget=200_000,
    )
    return epoch_shuffle(mix, "doc_id", epoch=None, n_shards=8)


ORACLE_EPOCH_SHUFFLE = r"""
with toks as (
  select doc_id, source,
         cast(len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
                              w -> w <> '')) as bigint) as n_tokens
  from documents
),
w(source, __w) as (values ('src0', 0.4), ('src1', 0.3),
                          ('src2', 0.2), ('src3', 0.1)),
avail as (select source, cast(sum(n_tokens) as double) as __avail
          from toks group by 1),
rates as (
  select a.source,
         cast(floor(__w * 200000.0 / __avail) as bigint) as __epochs,
         cast(floor(((__w * 200000.0 / __avail)
                     - floor(__w * 200000.0 / __avail))
              * 16777216.0) as bigint) as __gate
  from avail a join w using (source)
),
gated as (
  select t.doc_id,
         r.__epochs + case when cast('0x' ||
             substring(md5(cast(t.doc_id as varchar)), 1, 6) as bigint)
             < r.__gate then 1 else 0 end as total
  from toks t join rates r using (source)
),
m as (
  select doc_id, cast(unnest(range(1, cast(total as int) + 1)) as int) as epoch
  from gated where total >= 1
),
s as (
  select doc_id, epoch,
         md5('pos_e' || cast(epoch as varchar) || '_'
             || cast(doc_id as varchar)) as hh,
         cast(cast('0x' || substring(md5('pos_e' || cast(epoch as varchar)
             || '_' || cast(doc_id as varchar)), 1, 6) as bigint) % 8
             as int) as shard
  from m
)
select doc_id, epoch, shard,
       cast(row_number() over (partition by epoch, shard
                               order by hh, doc_id) as int) as pos
from s
"""


def q_kmv_distinct(spark, sf_dir):
    """KMV distinct-count sketch per language (ops/sketch.py::
    kmv_distinct, k=16 so the estimator path — not the exact small-set
    path — is exercised). Deterministic given the md5 hash, so the
    oracle reproduces the identical sketch with a row_number window
    and the identical (k-1)/theta estimate."""
    from drill_spark.ops.sketch import kmv_distinct

    return kmv_distinct(_docs(spark, sf_dir), "lang", "text", k=16)


ORACLE_KMV_DISTINCT = """
with h as (
  select distinct lang,
         cast('0x' || substring(md5(text), 1, 15) as bigint) as hv
  from documents where lang is not null and text is not null
),
rk as (select lang, hv,
              row_number() over (partition by lang order by hv) as r
       from h),
sk as (select lang, cast(count(*) as bigint) as n_hashes,
              max(hv) as theta_hash
       from rk where r <= 16 group by 1)
select lang, n_hashes, theta_hash,
       case when n_hashes < 16 then cast(n_hashes as double)
            else round(15.0 * 1152921504606846976.0
                       / cast(theta_hash as double), 4)
       end as est_distinct
from sk
"""


def q_kmv_overlap(spark, sf_dir):
    """Theta-sketch set overlap (ops/sketch.py::kmv_overlap): how much
    distinct trigram vocabulary two sources share, estimated from two
    k=128 KMV sketches (union ~2.7K trigrams at sf0.01, well past k,
    so this is the true estimation regime). The oracle replays the
    sketch build and the theta intersection/union estimators."""
    from drill_spark.ops.hofutil import bind_once
    from drill_spark.ops.sketch import kmv_overlap

    docs = _docs(spark, sf_dir).where(F.col("source").isin("src0", "src1"))
    # bind the tokenization once per row: referencing the split as `w`
    # directly would inline it at every element_at inside the position
    # lambda — three re-splits of the document PER GRAM, O(n_words^2)
    grams = bind_once(
        F.split(F.trim(F.lower(F.col("text"))), r"\s+"),
        lambda w: F.when(
            F.size(w) >= 3,
            F.transform(
                F.sequence(F.lit(1), F.size(w) - 2),
                lambda i: F.concat_ws(
                    " ", F.element_at(w, i), F.element_at(w, i + 1),
                    F.element_at(w, i + 2)),
            ),
        ).otherwise(F.array().cast("array<string>")),
    )
    tri = docs.select("source", F.explode(grams).alias("g"))
    return kmv_overlap(tri, "source", "g", "src0", "src1", k=128)


ORACLE_KMV_OVERLAP = r"""
with w as (
  select source, string_split_regex(trim(lower(text)), '\s+') as ws
  from documents where source in ('src0', 'src1')
),
g as (
  select source,
         unnest(list_transform(range(1, len(ws) - 1),
                i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) as g
  from w where len(ws) >= 3
),
h as (
  select distinct source,
         cast('0x' || substring(md5(g), 1, 15) as bigint) as hv
  from g
),
rk as (select source, hv,
              row_number() over (partition by source order by hv) as r
       from h),
sk as (select source, hv from rk where r <= 128),
th as (
  select source,
         case when count(*) < 128 then 1152921504606846976
              else max(hv) end as t
  from sk group by 1
),
theta as (select least(max(case when source='src0' then t end),
                       max(case when source='src1' then t end)) as th
          from th),
ua as (select hv from sk, theta where source='src0' and hv < th),
ub as (select hv from sk, theta where source='src1' and hv < th),
cnt as (
  select (select count(*) from ua) as ca,
         (select count(*) from ub) as cb,
         (select count(*) from (select hv from ua
                                intersect select hv from ub)) as ci,
         (select count(*) from (select hv from ua
                                union select hv from ub)) as cu,
         (select th from theta) as th
)
select 'src0' as seg_a, 'src1' as seg_b,
       round(ca * 1152921504606846976.0 / cast(th as double), 4) as est_a,
       round(cb * 1152921504606846976.0 / cast(th as double), 4) as est_b,
       round(cu * 1152921504606846976.0 / cast(th as double), 4) as est_union,
       round(ci * 1152921504606846976.0 / cast(th as double), 4)
         as est_intersect,
       round(case when cu > 0 then ci * 1.0 / cu else 0.0 end, 4) as jaccard
from cnt
"""


def q_curation_pipeline(spark, sf_dir):
    """End-to-end curation flagship (ops/pipeline.py::
    curation_pipeline): quality gate -> exact dedup -> 8-gram
    decontamination against the held-out slice -> token-budget mixture
    -> epoch-salted shard addresses, composed as ONE plan. The oracle
    replays the full CTE chain."""
    from drill_spark.ops.pipeline import curation_pipeline

    docs = _docs(spark, sf_dir)
    return curation_pipeline(
        docs.where(F.col("doc_id") % 20 != 0),
        docs.where(F.col("doc_id") % 20 == 0),
        "doc_id", "text", "source",
        {"src0": 0.4, "src1": 0.3, "src2": 0.2, "src3": 0.1},
        token_budget=150_000, n_shards=16,
    )


def q_incremental_curation_audit(spark, sf_dir):
    """Cross-run drop ledger (ops/pipeline.py::
    incremental_curation_audit): even-id corpus docs commit as ingest
    batch 0 (their kept digests land in the persistent store), odd-id
    docs audit as batch 1 — each odd doc's fate records quality,
    within-batch dedup (dup_of), PRIOR-batch dedup (dup_batch, from
    the store without rescanning batch-0 text), and benchmark
    contamination. Returns batch 1's ledger; the whole two-batch
    protocol replays closed-form in DuckDB. Fresh store per
    invocation keeps the query a pure function of the fixtures."""
    import tempfile

    from drill_spark.ops.pipeline import incremental_curation_audit

    docs = _docs(spark, sf_dir)
    corpus = docs.where(F.col("doc_id") % 20 != 0)
    bench = docs.where(F.col("doc_id") % 20 == 0)
    store = tempfile.mkdtemp(prefix="incaudit_") + "/store"
    incremental_curation_audit(
        corpus.where(F.col("doc_id") % 2 == 0), bench, store).count()
    return incremental_curation_audit(
        corpus.where(F.col("doc_id") % 2 == 1), bench, store)


ORACLE_INCREMENTAL_CURATION_AUDIT = r"""
with base as (
  -- unfiltered split, matching the Spark op's F.size(_words) and the
  -- batch ORACLE_CURATION_AUDIT: an empty/whitespace-only document
  -- counts 1 word in both engines
  select doc_id, source, text,
         string_split_regex(trim(lower(text)), '\s+') as ws,
         md5(regexp_replace(lower(text), '\s+', ' ', 'g')) as h,
         len(string_split_regex(trim(lower(text)), '\s+')) >= 5
         and length(text) * 1.0
             / greatest(len(string_split_regex(trim(lower(text)),
                                               '\s+')), 1) <= 20.0
           as qp
  from documents where doc_id % 20 <> 0
),
bench as (
  select doc_id, text,
         string_split_regex(trim(lower(text)), '\s+') as ws
  from documents where doc_id % 20 = 0
),
b0 as (select * from base where doc_id % 2 = 0),
b1 as (select * from base where doc_id % 2 = 1),
bgrams as (
  select distinct unnest(list_distinct(list_transform(
      generate_series(1, greatest(len(ws) - 7, 0)),
      i -> substring(md5(array_to_string(ws[i:i+7], ' ')), 1, 16)))) as ng
  from bench where len(ws) >= 8
),
d0 as (
  select distinct g.doc_id from (
    select doc_id, unnest(list_distinct(list_transform(
        generate_series(1, greatest(len(ws) - 7, 0)),
        i -> substring(md5(array_to_string(ws[i:i+7], ' ')), 1, 16)))) as ng
    from b0 where qp and len(ws) >= 8) g
  join bgrams using (ng)
),
c0 as (select h, min(doc_id) as canon from b0 where qp group by h),
store0 as (
  -- batch 0's kept digests = quality passers, within-batch canonical,
  -- not contaminated (no prior store exists for batch 0)
  select distinct b0.h
  from b0 join c0 on b0.h = c0.h and b0.doc_id = c0.canon
  where b0.qp and b0.doc_id not in (select doc_id from d0)
),
c1 as (select h, min(doc_id) as canon from b1 where qp group by h),
d1 as (
  select distinct g.doc_id from (
    select doc_id, unnest(list_distinct(list_transform(
        generate_series(1, greatest(len(ws) - 7, 0)),
        i -> substring(md5(array_to_string(ws[i:i+7], ' ')), 1, 16)))) as ng
    from b1 where qp and len(ws) >= 8) g
  join bgrams using (ng)
)
select b1.doc_id, b1.source,
       cast(len(b1.ws) as bigint) as n_words,
       b1.qp as quality_pass,
       case when b1.qp and b1.doc_id <> c1.canon then c1.canon end
         as dup_of,
       case when b1.h in (select h from store0)
            then cast(0 as bigint) end as dup_batch,
       b1.doc_id in (select doc_id from d1) as contaminated,
       case when not b1.qp then 'quality'
            when b1.doc_id <> c1.canon then 'dedup'
            when b1.h in (select h from store0) then 'dedup_prior'
            when b1.doc_id in (select doc_id from d1) then 'decontam'
       end as stage_dropped
from b1 left join c1 on b1.h = c1.h
"""


def q_collocations(spark, sf_dir):
    """Collocation mining by exact lift (ops/text.py::collocations):
    the corpus's strongest adjacent word pairs — PMI without the log,
    an exact rational of integer counts so both engines agree to the
    bit. One bigram explode + map-combined counts, vocabulary-bounded
    broadcast joins, TakeOrdered top-k."""
    from drill_spark.ops.text import collocations

    return collocations(_docs(spark, sf_dir), min_count=10, top_k=40)


ORACLE_COLLOCATIONS = r"""
with w as (
  select list_filter(string_split_regex(trim(lower(text)), '\s+'),
                     x -> x <> '') as ws
  from documents
),
pairs as (
  select ws[i] as a, ws[i+1] as b
  from w, unnest(range(1, len(ws))) as t(i)
  where len(ws) >= 2
),
pc as (select a, b, count(*) as n_pair from pairs group by a, b),
uni as (select unnest(ws) as t from w),
uc as (select t, count(*) as n from uni group by t),
tp as (select sum(n_pair) as tp from pc),
tu as (select sum(n) as tu from uc)
select a, b, cast(n_pair as bigint) as n_pair,
       floor(cast(n_pair as double) * tu / ua.n / ub.n * tu / tp * 1e4)
         / 1e4 as lift
from pc
join uc ua on ua.t = pc.a
join uc ub on ub.t = pc.b
cross join tp cross join tu
where n_pair >= 10
order by lift desc, n_pair desc, a, b
limit 40
"""


def q_phrase_search(spark, sf_dir):
    """Exact phrase matching (ops/search.py::phrase_search) — the
    positional complement of BM25: documents containing 'table hash'
    consecutively, with occurrence count and first position. A pure
    per-row HOF (one codegen scan, zero joins/shuffles — no positional
    postings m-way self-join needed when the text is in hand)."""
    from drill_spark.ops.search import phrase_search

    return phrase_search(_docs(spark, sf_dir), "table hash")


ORACLE_PHRASE_SEARCH = r"""
with w as (
  select doc_id,
         list_filter(string_split_regex(trim(lower(text)), '\s+'),
                     x -> x <> '') as ws
  from documents
),
hits as (
  select doc_id,
         list_filter(range(1, greatest(len(ws) - 1, 0) + 1),
                     i -> ws[i] = 'table' and ws[i+1] = 'hash') as st
  from w
)
select doc_id, cast(len(st) as bigint) as n_hits,
       cast(st[1] as bigint) as first_pos
from hits where len(st) > 0
"""


def q_window_cooccur(spark, sf_dir):
    """Unordered proximity matching (ops/search.py::window_cooccur):
    documents where 'vector' and 'small' fall inside one 8-token span,
    with the qualifying-span count — between exact phrase match and
    whole-document AND; per-row HOF, zero shuffles."""
    from drill_spark.ops.search import window_cooccur

    return window_cooccur(_docs(spark, sf_dir), ["vector", "small"],
                          window=8)


ORACLE_WINDOW_COOCCUR = r"""
with w as (
  select doc_id,
         list_filter(string_split_regex(trim(lower(text)), '\s+'),
                     x -> x <> '') as ws
  from documents
),
hits as (
  select doc_id,
         list_filter(range(1, greatest(len(ws) - 7, 1) + 1),
                     i -> list_contains(ws[i:i+7], 'vector')
                          and list_contains(ws[i:i+7], 'small')) as st
  from w
)
select doc_id, cast(len(st) as bigint) as n_windows
from hits where len(st) > 0
"""


def _labeled_scores(spark, sf_dir):
    """Deterministic labeled quality scores for evaluating a scorer:
    label = doc_id % 3 == 0; score = md5-noise in [0, 0.7) shifted
    +0.3 for positives — overlapping distributions so the AUC is
    meaningfully between 0.5 and 1, reproducible in both engines."""
    docs = _docs(spark, sf_dir)
    label = (F.col("doc_id") % 3 == 0).cast("int")
    h24 = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 6), 16, 10
    ).cast("long")
    score = (h24 % 700000) / F.lit(1000000.0) + label * F.lit(0.3)
    return docs.select("doc_id", label.alias("y"), score.alias("score"))


_LABELED_SCORES_SQL = """
s as (
  select doc_id,
         case when doc_id % 3 = 0 then 1 else 0 end as y,
         (cast('0x' || substring(md5(cast(doc_id as varchar)), 1, 6)
               as bigint) % 700000) / 1000000.0
           + case when doc_id % 3 = 0 then 0.3 else 0.0 end as score
  from documents
)
"""


def q_stratified_weighted_sample(spark, sf_dir):
    """Per-stratum weighted sampling without replacement
    (ops/pipeline.py::stratified_weighted_sample, Sequential Poisson
    Sampling, Ohlsson 1998): per language stratum, keep the 15
    documents with the smallest u/w key where the weight is the
    document's word count — longer docs proportionally likelier,
    content-addressed u so the carve is reproducible across engines
    and re-runs. No pow/ln in the key (one exact division), so the row
    set AND the reported keys hash-match the oracle. Complements the
    global A-ES ext_sample row."""
    from drill_spark.ops.pipeline import stratified_weighted_sample

    docs = _docs(spark, sf_dir).select(
        "doc_id", "lang",
        F.size(F.filter(F.split(F.trim(F.lower(F.col("text"))), r"\s+"),
                        lambda w: w != "")).cast("double").alias("w"),
    )
    return stratified_weighted_sample(docs, "doc_id", "w", k=15,
                                      strata_col="lang")


ORACLE_STRAT_WEIGHTED_SAMPLE = r"""
with d as (
  select doc_id, lang,
         cast(len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
                              w -> w <> '')) as double) as w
  from documents
),
keyed as (
  select doc_id, lang, w,
         (cast('0x' || substring(md5(cast(doc_id as varchar)), 1, 6)
               as bigint) + 1) / 16777216.0 / w as xi
  from d where w > 0
),
rk as (
  select *, row_number() over (partition by lang
                               order by xi, doc_id) as r
  from keyed
)
select doc_id, lang, w, floor(xi * 1e10) / 1e10 as xi
from rk where r <= 15
"""


def q_quality_auc(spark, sf_dir):
    """ROC-AUC of a quality scorer against a labeled slice
    (ops/mlmetrics.py::binary_auc) — exact Mann-Whitney midrank
    arithmetic on micro-unit-binned scores: ONE map-combined groupBy
    at corpus scale, every later step on the bounded distinct-bin
    table, all-integer until one final division. The evaluation gate a
    pipeline runs before trusting a learned quality filter."""
    from drill_spark.ops.mlmetrics import binary_auc

    return binary_auc(_labeled_scores(spark, sf_dir), "y", "score")


ORACLE_QUALITY_AUC = "with " + _LABELED_SCORES_SQL + """,
g as (select cast(floor(score * 1000000) as bigint) as b,
             sum(y) as pos, count(*) - sum(y) as neg
      from s group by 1),
c as (select b, pos, neg,
             coalesce(sum(neg) over (order by b rows between
                 unbounded preceding and 1 preceding), 0) as neg_below
      from g)
select cast(sum(pos) as bigint) as n_pos,
       cast(sum(neg) as bigint) as n_neg,
       floor(sum(pos * (2 * neg_below + neg))
             / (2.0 * sum(pos) * sum(neg)) * 1e6) / 1e6 as auc
from c
"""


def q_quality_auc_by_group(spark, sf_dir):
    """Per-language scorer drift (ops/mlmetrics.py::
    binary_auc_by_group): the slice-level AUC view a quality gate
    monitors — a scorer that holds overall but fails one language
    silently skews the mixture. Group-keyed everywhere; per-task
    state is one group's distinct-bin table."""
    from drill_spark.ops.mlmetrics import binary_auc_by_group

    docs = _docs(spark, sf_dir)
    label = (F.col("doc_id") % 3 == 0).cast("int")
    h24 = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 6), 16, 10
    ).cast("long")
    score = (h24 % 700000) / F.lit(1000000.0) + label * F.lit(0.3)
    scored = docs.select("doc_id", "lang", label.alias("y"),
                         score.alias("score"))
    return binary_auc_by_group(scored, "lang", "y", "score")


ORACLE_QUALITY_AUC_BY_GROUP = """
with s as (
  select doc_id, lang,
         case when doc_id % 3 = 0 then 1 else 0 end as y,
         (cast('0x' || substring(md5(cast(doc_id as varchar)), 1, 6)
               as bigint) % 700000) / 1000000.0
           + case when doc_id % 3 = 0 then 0.3 else 0.0 end as score
  from documents
),
g as (select lang, cast(floor(score * 1000000) as bigint) as b,
             sum(y) as pos, count(*) - sum(y) as neg
      from s group by 1, 2),
c as (select lang, b, pos, neg,
             coalesce(sum(neg) over (partition by lang order by b
                 rows between unbounded preceding and 1 preceding), 0)
               as neg_below
      from g)
select lang,
       cast(sum(pos) as bigint) as n_pos,
       cast(sum(neg) as bigint) as n_neg,
       case when sum(pos) > 0 and sum(neg) > 0 then
         floor(sum(pos * (2 * neg_below + neg))
               / (2.0 * sum(pos) * sum(neg)) * 1e6) / 1e6 end as auc
from c
group by lang
"""


def q_calibration_bins(spark, sf_dir):
    """Reliability table of the same scorer (ops/mlmetrics.py::
    calibration_bins): ten equal-width score bins with count, positive
    fraction, and exact mean score (integer micro-unit sums, one
    division) — the data behind a reliability diagram."""
    from drill_spark.ops.mlmetrics import calibration_bins

    return calibration_bins(_labeled_scores(spark, sf_dir), "y", "score")


ORACLE_CALIBRATION_BINS = "with " + _LABELED_SCORES_SQL + """
select cast(least(floor(score * 10), 9) as int) as bin,
       cast(count(*) as bigint) as n,
       cast(sum(y) as bigint) as n_pos,
       floor(sum(cast(floor(score * 1000000) as bigint))
             / (count(*) * 1000000.0) * 1e6) / 1e6 as mean_score,
       floor(sum(y) * 1.0 / count(*) * 1e6) / 1e6 as frac_pos
from s
group by 1
order by 1
"""


def q_stream_quality_auc(spark, sf_dir):
    """Streaming classifier monitoring (streaming/events.py::
    stream_quality_auc): even-id scored docs arrive as micro-batch 0,
    odd-id as micro-batch 1; each batch folds binned (pos, neg)
    counts — AUC's sufficient statistic, exactly associative — into a
    persistent store and emits the RUNNING (batch_id, n_pos, n_neg,
    auc) exactly-once. Deterministic end to end: batch 0's row is the
    evens-only AUC, batch 1's the full AUC, both replayed closed-form
    by the oracle."""
    import os
    import tempfile

    from drill_spark.readers.delta import read_delta
    from drill_spark.streaming.events import stream_quality_auc

    scored = _labeled_scores(spark, sf_dir)

    def build(src):
        _write_two_batch_source(
            src,
            scored.where(F.col("doc_id") % 2 == 0),
            scored.where(F.col("doc_id") % 2 == 1),
        )

    src = _materialize_once(sf_dir, "sauc_src", build)
    base = tempfile.mkdtemp(prefix="sauc_")
    stream = (
        spark.readStream.schema(scored.schema)
        .option("maxFilesPerTrigger", 1).parquet(src)
    )
    q = stream_quality_auc(
        stream, os.path.join(base, "store"), os.path.join(base, "out"),
        os.path.join(base, "ckpt"),
    )
    q.awaitTermination()
    return read_delta(spark, os.path.join(base, "out"))


def _oracle_stream_quality_auc() -> str:
    def one(bid: int, pred: str) -> str:
        return f"""
select cast({bid} as int) as batch_id,
       cast(sum(pos) as bigint) as n_pos,
       cast(sum(neg) as bigint) as n_neg,
       floor(sum(pos * (2 * neg_below + neg))
             / (2.0 * sum(pos) * sum(neg)) * 1e6) / 1e6 as auc
from (select b, pos, neg,
             coalesce(sum(neg) over (order by b rows between
                 unbounded preceding and 1 preceding), 0) as neg_below
      from (select cast(floor(score * 1000000) as bigint) as b,
                   sum(y) as pos, count(*) - sum(y) as neg
            from s where {pred} group by 1) g{bid}) c{bid}
"""

    return ("with " + _LABELED_SCORES_SQL
            + one(0, "doc_id % 2 = 0")
            + "union all" + one(1, "1 = 1"))




def q_stream_lang_mix(spark, sf_dir):
    """Streaming language-mix drift monitor (streaming/events.py::
    stream_lang_mix): even-id docs arrive as micro-batch 0, odd-id as
    micro-batch 1; each batch classifies with the rank-order LID,
    folds per-language counts into a persistent store, and emits the
    RUNNING per-language share + integer-ppm L1 drift from a target
    baseline exactly-once. Batch 0's rows are the evens-only mix,
    batch 1's the full mix — both replayed closed-form by the
    oracle (including the unobserved-language drift contribution)."""
    import os
    import tempfile

    from drill_spark.readers.delta import read_delta
    from drill_spark.streaming.events import stream_lang_mix

    docs = _docs(spark, sf_dir).select("doc_id", "text")

    def build(src):
        _write_two_batch_source(
            src,
            docs.where(F.col("doc_id") % 2 == 0),
            docs.where(F.col("doc_id") % 2 == 1),
        )

    src = _materialize_once(sf_dir, "slmix_src", build)
    base = tempfile.mkdtemp(prefix="slmix_")
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1).parquet(src)
    )
    q = stream_lang_mix(
        stream, os.path.join(base, "store"), os.path.join(base, "out"),
        os.path.join(base, "ckpt"),
        baseline=_LANG_MIX_BASELINE,
    )
    q.awaitTermination()
    return read_delta(spark, os.path.join(base, "out"))


_LANG_MIX_BASELINE = {"en": 0.5, "de": 0.2, "es": 0.1, "fr": 0.05,
                      "it": 0.1, "pt": 0.05}


def _oracle_stream_lang_mix() -> str:
    base_vals = ", ".join(
        f"('{lang}', {int(round(w * 1_000_000))})"
        for lang, w in sorted(_LANG_MIX_BASELINE.items()))

    def one(bid: int, pred: str) -> str:
        return f"""
b{bid} as (select pred_lang, count(*) as n from lid_pred
           where {pred} group by 1),
m{bid} as (
  select pred_lang,
         cast(coalesce(b.n, 0) as bigint) as n_docs,
         cast(floor(coalesce(b.n, 0) * 1000000 / t.t) as bigint)
           as share_ppm,
         coalesce(base.base_ppm, 0) as base_ppm
  from b{bid} b
  full outer join base using (pred_lang)
  cross join (select sum(n) as t from b{bid}) t
),
r{bid} as (
  select cast({bid} as int) as batch_id, pred_lang, n_docs,
         share_ppm / cast(1000000 as double) as share,
         (select sum(abs(share_ppm - base_ppm)) from m{bid})
           / cast(1000000 as double) as l1_drift
  from m{bid}
)"""

    return ("with " + _lang_pred_sql()
            + ", base(pred_lang, base_ppm) as (values " + base_vals + ")"
            + ","
            + one(0, "doc_id % 2 = 0")
            + "," + one(1, "1 = 1")
            + "\nselect * from r0 union all select * from r1")


def q_curation_audit(spark, sf_dir):
    """Drop ledger for the curation flagship (ops/pipeline.py::
    curation_audit): one row per INPUT document with its fate — the
    gate that dropped it (quality/dedup/decontam/mixture), the
    canonical id that displaced it, the contamination flag, and the
    kept rows' epoch fan-out. Same stage arithmetic as
    ext_curation_pipeline (ledger and pipeline cannot disagree);
    output is one row per input doc, never epoch-inflated. The oracle
    replays every verdict column."""
    from drill_spark.ops.pipeline import curation_audit

    docs = _docs(spark, sf_dir)
    return curation_audit(
        docs.where(F.col("doc_id") % 20 != 0),
        docs.where(F.col("doc_id") % 20 == 0),
        "doc_id", "text", "source",
        {"src0": 0.4, "src1": 0.3, "src2": 0.2, "src3": 0.1},
        token_budget=150_000,
    )


ORACLE_CURATION_AUDIT = r"""
with base as (
  select doc_id, source, text,
         string_split_regex(trim(lower(text)), '\s+') as ws,
         md5(regexp_replace(lower(text), '\s+', ' ', 'g')) as h
  from documents
),
corpus as (select * from base where doc_id % 20 <> 0),
bench as (select * from base where doc_id % 20 = 0),
q as (
  select *,
         len(ws) >= 5
         and length(text) * 1.0 / greatest(len(ws), 1) <= 20.0
           as quality_pass
  from corpus
),
canon as (
  select h, min(doc_id) as canon_id from q where quality_pass group by h
),
grams as (
  select doc_id, unnest(list_distinct(list_transform(
      generate_series(1, greatest(len(ws) - 7, 0)),
      i -> substring(md5(array_to_string(ws[i:i+7], ' ')), 1, 16)))) as ng
  from q where quality_pass and len(ws) >= 8
),
bgrams as (
  select distinct unnest(list_distinct(list_transform(
      generate_series(1, greatest(len(ws) - 7, 0)),
      i -> substring(md5(array_to_string(ws[i:i+7], ' ')), 1, 16)))) as ng
  from bench where len(ws) >= 8
),
dirty as (select distinct g.doc_id from grams g join bgrams b using (ng)),
led as (
  select q.doc_id, q.source,
         cast(len(q.ws) as bigint) as n_words,
         q.quality_pass,
         c.canon_id,
         d.doc_id is not null as contaminated,
         cast(len(list_filter(q.ws, x -> x <> '')) as bigint) as n_toks
  from q
  left join canon c using (h)
  left join dirty d using (doc_id)
),
clean as (
  select * from led
  where quality_pass and doc_id = canon_id and not contaminated
),
w(source, __w) as (values ('src0', 0.4), ('src1', 0.3),
                          ('src2', 0.2), ('src3', 0.1)),
avail as (select source, cast(sum(n_toks) as double) as __avail
          from clean group by 1),
rates as (
  select a.source,
         cast(floor(__w * 150000.0 / __avail) as bigint) as __epochs,
         cast(floor(((__w * 150000.0 / __avail)
                     - floor(__w * 150000.0 / __avail))
              * 16777216.0) as bigint) as __gate
  from avail a join w using (source)
),
scored as (
  select l.*,
         case when l.quality_pass and l.doc_id = l.canon_id
                   and not l.contaminated
              then coalesce(r.__epochs + case when cast('0x' ||
                     substring(md5(cast(l.doc_id as varchar)), 1, 6)
                     as bigint) < r.__gate then 1 else 0 end, 0)
              else 0 end as n_epochs
  from led l left join rates r using (source)
)
select doc_id, source, n_words, quality_pass,
       case when quality_pass and doc_id <> canon_id
            then canon_id end as dup_of,
       contaminated,
       cast(n_epochs as bigint) as n_epochs,
       case when not quality_pass then 'quality'
            when doc_id <> canon_id then 'dedup'
            when contaminated then 'decontam'
            when n_epochs = 0 then 'mixture'
       end as stage_dropped
from scored
"""


ORACLE_CURATION_PIPELINE = r"""
with base as (
  select doc_id, source, text,
         string_split_regex(trim(lower(text)), '\s+') as ws
  from documents
),
corpus as (select * from base where doc_id % 20 <> 0),
bench as (select * from base where doc_id % 20 = 0),
passed as (
  select * from corpus
  where len(ws) >= 5
    and length(text) * 1.0 / greatest(len(ws), 1) <= 20.0
),
keep as (
  select min(doc_id) as doc_id
  from (select doc_id,
               md5(regexp_replace(lower(text), '\s+', ' ', 'g')) as h
        from passed)
  group by h
),
grams as (
  select doc_id, unnest(list_distinct(list_transform(
      generate_series(1, greatest(len(ws) - 7, 0)),
      i -> substring(md5(array_to_string(ws[i:i+7], ' ')), 1, 16)))) as ng
  from passed where len(ws) >= 8
),
bgrams as (
  select distinct unnest(list_distinct(list_transform(
      generate_series(1, greatest(len(ws) - 7, 0)),
      i -> substring(md5(array_to_string(ws[i:i+7], ' ')), 1, 16)))) as ng
  from bench where len(ws) >= 8
),
dirty as (select distinct g.doc_id from grams g join bgrams b using (ng)),
clean as (
  select p.doc_id, p.source,
         cast(len(list_filter(p.ws, x -> x <> '')) as bigint) as n_tokens
  from passed p
  join keep k using (doc_id)
  where p.doc_id not in (select doc_id from dirty)
),
w(source, __w) as (values ('src0', 0.4), ('src1', 0.3),
                          ('src2', 0.2), ('src3', 0.1)),
avail as (select source, cast(sum(n_tokens) as double) as __avail
          from clean group by 1),
rates as (
  select a.source,
         cast(floor(__w * 150000.0 / __avail) as bigint) as __epochs,
         cast(floor(((__w * 150000.0 / __avail)
                     - floor(__w * 150000.0 / __avail))
              * 16777216.0) as bigint) as __gate
  from avail a join w using (source)
),
gated as (
  select c.doc_id, c.source, c.n_tokens,
         r.__epochs + case when cast('0x' ||
             substring(md5(cast(c.doc_id as varchar)), 1, 6) as bigint)
             < r.__gate then 1 else 0 end as total
  from clean c join rates r using (source)
),
m as (
  select doc_id, source, n_tokens,
         cast(unnest(range(1, cast(total as int) + 1)) as int) as epoch
  from gated where total >= 1
),
s as (
  select doc_id, source, n_tokens, epoch,
         md5('pos_e' || cast(epoch as varchar) || '_'
             || cast(doc_id as varchar)) as hh,
         cast(cast('0x' || substring(md5('pos_e' || cast(epoch as varchar)
             || '_' || cast(doc_id as varchar)), 1, 6) as bigint) % 16
             as int) as shard
  from m
)
select doc_id, source, epoch, n_tokens, shard,
       cast(row_number() over (partition by epoch, shard
                               order by hh, doc_id) as int) as pos
from s
"""


def q_stream_heavy_hitters(spark, sf_dir):
    """Streaming Misra-Gries heavy hitters (streaming/events.py::
    stream_heavy_hitters) run to completion over the events fixture,
    then exact-verified: candidates are order/batching-dependent but
    the verified output is not (the MG superset guarantee), so the
    oracle is the closed-form HAVING over the batch table."""
    from drill_spark.streaming.events import (
        read_event_stream, run_to_completion, stream_heavy_hitters,
        verified_stream_heavy_hitters)

    _STREAM_RUN["n"] += 1
    ev = read_event_stream(spark, sf_dir)
    tbl = run_to_completion(
        stream_heavy_hitters(ev, "event_type", k=16, n_buckets=4),
        f"drv_stream_hh_{_STREAM_RUN['n']}", "update")
    batch = load_fixture(spark, sf_dir, "events")
    return verified_stream_heavy_hitters(
        spark, tbl, batch, "event_type", k=16)


ORACLE_STREAM_HEAVY_HITTERS = """
select cast(event_type as varchar) as event_type,
       cast(count(*) as bigint) as cnt
from events
where event_type is not null
group by 1
having cast(count(*) as bigint) * 17 >
       (select count(*) from events where event_type is not null)
"""


def q_rolling_distinct(spark, sf_dir):
    """Rolling 7-day distinct users per day from mergeable per-day KMV
    sketches (ops/sketch.py::kmv_rolling_distinct): each day's raw rows
    are summarized once; rolling windows merge <= 7 tiny sketch arrays
    instead of re-scanning raw rows. Deterministic -> oracle replays
    the per-day sketch + window merge."""
    from drill_spark.ops.sketch import kmv_rolling_distinct

    ev = load_fixture(spark, sf_dir, "events")
    return kmv_rolling_distinct(ev, "ts", "user_id", k=16, n_days=7)


ORACLE_ROLLING_DISTINCT = """
with h as (
  select distinct cast(date_trunc('day', ts) as date) as day,
         cast('0x' || substring(md5(cast(user_id as varchar)), 1, 15)
              as bigint) as hv
  from events where user_id is not null
),
rk as (select day, hv,
              row_number() over (partition by day order by hv) as r
       from h),
sk as (select day, hv from rk where r <= 16),
pairs as (
  select d1.day, d2.hv
  from (select distinct day from sk) d1
  join sk d2 on d2.day between d1.day - 6 and d1.day
),
rr as (select day, hv,
              row_number() over (partition by day order by hv) as r
       from (select distinct day, hv from pairs)),
roll as (select day, count(*) as n, max(hv) as theta
         from rr where r <= 16 group by 1),
dayest as (select day, count(*) as n, max(hv) as theta
           from sk group by 1)
select d.day,
       case when d.n < 16 then cast(d.n as double)
            else round(15.0 * 1152921504606846976.0
                       / cast(d.theta as double), 4) end as est_day,
       case when r.n < 16 then cast(r.n as double)
            else round(15.0 * 1152921504606846976.0
                       / cast(r.theta as double), 4) end as est_rolling
from dayest d join roll r using (day)
"""


def q_snapshot_diff(spark, sf_dir):
    """Corpus snapshot diff (ops/dedup.py::snapshot_diff): old = ids
    < 450, new = ids >= 50 with every 10th doc's text edited — the
    diff reports added/removed/changed by normalized digest; one
    full-outer join on the id, digests only."""
    from drill_spark.ops.dedup import snapshot_diff

    docs = _docs(spark, sf_dir)
    old = docs.where(F.col("doc_id") < 450)
    new = (
        docs.where(F.col("doc_id") >= 50)
        .withColumn(
            "text",
            F.when(F.col("doc_id") % 10 == 0,
                   F.concat(F.col("text"), F.lit(" [rev2]")))
            .otherwise(F.col("text")))
    )
    return snapshot_diff(old, new, "doc_id", "text")


ORACLE_SNAPSHOT_DIFF = r"""
with o as (
  select doc_id,
         md5(regexp_replace(lower(text), '\s+', ' ', 'g')) as old_h
  from documents where doc_id < 450
),
n as (
  select doc_id,
         md5(regexp_replace(lower(case when doc_id % 10 = 0
             then text || ' [rev2]' else text end), '\s+', ' ', 'g'))
           as new_h
  from documents where doc_id >= 50
),
j as (
  select coalesce(o.doc_id, n.doc_id) as doc_id, o.old_h, n.new_h
  from o full outer join n on o.doc_id = n.doc_id
)
select doc_id,
       case when old_h is null then 'added'
            when new_h is null then 'removed'
            when old_h <> new_h then 'changed'
            else 'unchanged' end as status,
       old_h, new_h
from j
where case when old_h is null then 'added'
           when new_h is null then 'removed'
           when old_h <> new_h then 'changed'
           else 'unchanged' end <> 'unchanged'
"""


def q_stream_kmv_distinct(spark, sf_dir):
    """Streaming KMV distinct users per event type (streaming/
    events.py::stream_kmv_distinct): the sketch merge is associative
    and commutative, so the streamed sketch is bit-identical to the
    batch one regardless of batching — the oracle is the same
    closed-form sketch replay kmv_distinct uses."""
    from drill_spark.streaming.events import (
        latest_kmv_sketches, read_event_stream, run_to_completion,
        stream_kmv_distinct)

    _STREAM_RUN["n"] += 1
    ev = read_event_stream(spark, sf_dir)
    tbl = run_to_completion(
        stream_kmv_distinct(ev, "event_type", "user_id", k=16),
        f"drv_stream_kmv_{_STREAM_RUN['n']}", "update")
    return latest_kmv_sketches(tbl, "event_type", k=16)


ORACLE_STREAM_KMV_DISTINCT = """
with h as (
  select distinct cast(event_type as varchar) as event_type,
         cast('0x' || substring(md5(cast(user_id as varchar)), 1, 15)
              as bigint) as hv
  from events where event_type is not null and user_id is not null
),
rk as (select event_type, hv,
              row_number() over (partition by event_type order by hv) as r
       from h),
sk as (select event_type, cast(count(*) as bigint) as n_hashes,
              max(hv) as theta_hash
       from rk where r <= 16 group by 1)
select event_type, n_hashes, theta_hash,
       case when n_hashes < 16 then cast(n_hashes as double)
            else round(15.0 * 1152921504606846976.0
                       / cast(theta_hash as double), 4)
       end as est_distinct
from sk
"""


def q_rolling_quantiles(spark, sf_dir):
    """Rolling 7-day p50/p95 from ADDITIVE per-day histograms
    (ops/sketch.py::rolling_quantiles): each day's raw rows reduce to
    <=256 bin counts once; rolling windows are vector adds.
    Deterministic (bin-midpoint rule, no sampling) -> the oracle
    replays the histogram build and the cumulative-rank read."""
    from drill_spark.ops.sketch import rolling_quantiles

    ev = load_fixture(spark, sf_dir, "events")
    return rolling_quantiles(ev, "ts", "value", lo=0.0, hi=500.0,
                             n_bins=256, n_days=7)


ORACLE_ROLLING_QUANTILES = r"""
with per as (
  select cast(date_trunc('day', ts) as date) as day,
         least(255, greatest(0,
           cast(floor((value - 0.0) * 256 / 500.0) as int))) as bin,
         count(*) as c
  from events where value is not null
  group by 1, 2
),
days as (select distinct day from per),
bins as (select distinct bin from per),
dense as (
  select d.day, b.bin, coalesce(p.c, 0) as c
  from days d cross join bins b
  left join per p on p.day = d.day and p.bin = b.bin
),
rolled as (
  select day, bin,
         sum(c) over (partition by bin order by day
                      range between interval 6 days preceding
                      and current row) as rc
  from dense
),
cum as (
  select day, bin, rc,
         sum(rc) over (partition by day order by bin
                       rows between unbounded preceding
                       and current row) as cum,
         sum(rc) over (partition by day) as tot
  from rolled
)
select day,
       cast(max(tot) as bigint) as n_rolling,
       round((min(case when cum >= 0.5 * tot then bin end) + 0.5)
             * 500.0 / 256 + 0.0, 4) as q50,
       round((min(case when cum >= 0.95 * tot then bin end) + 0.5)
             * 500.0 / 256 + 0.0, 4) as q95
from cum
group by day
having max(tot) > 0
"""


def q_cms_estimate(spark, sf_dir):
    """Count-min sketch point queries (ops/sketch.py::cms_build /
    cms_estimate): the events fixture is sketched into 4x1024 counters
    (one map-combined agg, output bounded regardless of cardinality),
    then ten user keys are estimated as the min over their 4 counters.
    Deterministic -> the oracle replays the hashes and the min."""
    from drill_spark.ops.sketch import cms_build, cms_estimate

    ev = load_fixture(spark, sf_dir, "events")
    sk = cms_build(ev, "user_id", width=1024, depth=4)
    probes = ev.where(F.col("user_id") < 10).select("user_id").distinct()
    return cms_estimate(sk, probes, "user_id", width=1024, depth=4)


ORACLE_CMS_ESTIMATE = """
with src as (
  select cast(user_id as varchar) as key
  from events where user_id is not null
),
js as (select unnest(range(0, 4)) as j),
h as (
  select j,
         cast(cast('0x' || substring(md5(cast(j as varchar) || ':' || key),
              1, 8) as bigint) % 1024 as bigint) as bucket
  from src cross join js
),
sk as (select j, bucket, cast(count(*) as bigint) as c
       from h group by 1, 2),
probes as (select distinct cast(user_id as varchar) as key
           from events where user_id < 10),
spine as (
  select key, j,
         cast(cast('0x' || substring(md5(cast(j as varchar) || ':' || key),
              1, 8) as bigint) % 1024 as bigint) as bucket
  from probes cross join js
)
select key, min(coalesce(c, 0)) as est
from spine left join sk using (j, bucket)
group by key
"""


QUERIES = {
    "op_avro_scan": q_avro_scan,
    "op_delta_scan": q_delta_scan,
    "op_delta_dv_scan": q_delta_dv_scan,
    "op_delta_zorder_scan": q_delta_zorder_scan,
    "op_iceberg_skip_scan": q_iceberg_skip_scan,
    "op_pdf_scan": q_pdf_scan,
    "op_paimon_scan": q_paimon_scan,
    "op_msaccess_scan": q_msaccess_scan,
    "op_iceberg_scan": q_iceberg_scan,
    "op_iceberg_part_scan": q_iceberg_part_scan,
    "op_iceberg_v2_scan": q_iceberg_v2_scan,
    "op_shp_scan": q_shp_scan,
    "op_warc_scan": q_warc_scan,
    "op_arc_scan": q_arc_scan,
    "op_pcapng_scan": q_pcapng_scan,
    "op_spss_scan": q_spss_scan,
    "op_orc_scan": q_orc_scan,
    "op_hdf5_scan": q_hdf5_scan,
    "op_image_scan": q_image_scan,
    "op_dfdl_scan": q_dfdl_scan,
    "ext_dedup_exact": q_dedup_exact,
    "ext_incremental_dedup": q_incremental_dedup,
    "ext_dedup_apply": q_dedup_apply,
    "ext_dedup_jaccard": q_dedup_jaccard,
    "ext_dedup_minhash": q_dedup_minhash,
    "ext_dedup_simhash": q_dedup_simhash,
    "ext_dedup_simhash_pairs": q_dedup_simhash_pairs,
    "ext_dedup_clusters": q_dedup_clusters,
    "ext_embed_topk": q_embed_topk,
    "ext_embed_dedup": q_embed_dedup,
    "ext_ann_lsh": q_ann_lsh,
    "ext_ann_ivf": q_ann_ivf,
    "ext_text_stats": q_text_stats,
    "ext_text_tokens_bpe": q_text_tokens_bpe,
    "ext_mixture_build_bpe": q_mixture_build_bpe,
    "ext_chunk_pack_bpe": q_chunk_pack_bpe,
    "ext_dedup_ngram": q_dedup_ngram,
    "ext_setsim_join": q_setsim_join,
    "ext_setsim_tables": q_setsim_tables,
    "ext_incremental_setsim": q_incremental_setsim,
    "ext_containment_join": q_containment_join,
    "ext_substr_dedup": q_substr_dedup,
    "ext_substr_dedup_digest": q_substr_dedup_digest,
    "ext_substr_spans": q_substr_spans,
    "ext_substr_decontam": q_substr_decontam,
    "ext_substr_contam_report": q_substr_contam_report,
    "ext_incremental_substr": q_incremental_substr,
    "ext_text_token_freq": q_text_token_freq,
    "ext_text_topk_approx": q_text_topk_approx,
    "ext_sample_hash": q_sample_hash,
    "ext_text_histogram": q_text_histogram,
    "ext_text_quality": q_text_quality,
    "ext_text_langid": q_text_langid,
    "ext_lang_id": q_lang_id,
    "ext_lang_mixture": q_lang_mixture,
    "ext_source_diversity": q_source_diversity,
    "ext_readability": q_readability,
    "ext_token_fertility": q_token_fertility,
    "ext_stream_lang_mix": q_stream_lang_mix,
    "ext_encoding_qa": q_encoding_qa,
    "ext_text_fingerprint": q_text_fingerprint,
    "ext_multimodal_meta": q_multimodal_meta,
    "ext_multimodal_features": q_multimodal_features,
    "ext_multimodal_probe": q_multimodal_probe,
    "ext_multimodal_decode": q_multimodal_decode,
    "ext_audio_probe": q_audio_probe,
    "ext_asof_join": q_asof_join,
    "ext_range_join": q_range_join,
    "ext_stream_tumbling": q_stream_tumbling,
    "ext_stream_sliding": q_stream_sliding,
    "ext_stream_join": q_stream_join,
    "ext_stream_dedup": q_stream_dedup,
    "ext_stream_enrich": q_stream_enrich,
    "ext_pii_redact": q_pii_redact,
    "ext_decontaminate": q_decontaminate,
    "ext_bloom_decontaminate": q_bloom_decontaminate,
    "ext_chunk_pack": q_chunk_pack,
    "ext_chunk_overlap": q_chunk_overlap,
    "ext_repetition": q_repetition,
    "ext_gopher_repetition": q_gopher_repetition,
    "ext_stratified_sample": q_stratified_sample,
    "ext_quality_mixture": q_quality_mixture,
    "ext_semantic_dedup": q_semantic_dedup,
    "ext_trigram_lm": q_trigram_lm,
    "ext_bpe_tokens": q_bpe_tokens,
    "ext_ann_pq": q_ann_pq,
    "op_gis_points": q_gis_points,
    "ext_ann_ivfpq": q_ann_ivfpq,
    "ext_image_phash_dedup": q_image_phash_dedup,
    "ext_substring_dedup": q_substring_dedup,
    "ext_substring_dedup_apply": q_substring_dedup_apply,
    "ext_audio_dedup": q_audio_dedup,
    "ext_video_dedup": q_video_dedup,
    "ext_quality_classifier": q_quality_classifier,
    "ext_cluster_sample": q_cluster_sample,
    "ext_bm25_topk": q_bm25_topk,
    "ext_tfidf_keywords": q_tfidf_keywords,
    "ext_mixture_build": q_mixture_build,
    "ext_epoch_shuffle": q_epoch_shuffle,
    "ext_kmv_distinct": q_kmv_distinct,
    "ext_kmv_overlap": q_kmv_overlap,
    "ext_curation_pipeline": q_curation_pipeline,
    "ext_curation_audit": q_curation_audit,
    "ext_stratified_weighted_sample": q_stratified_weighted_sample,
    "ext_incremental_curation_audit": q_incremental_curation_audit,
    "ext_collocations": q_collocations,
    "ext_phrase_search": q_phrase_search,
    "ext_window_cooccur": q_window_cooccur,
    "ext_quality_auc": q_quality_auc,
    "ext_stream_quality_auc": q_stream_quality_auc,
    "ext_retrieval_eval": q_retrieval_eval,
    "ext_quality_auc_by_group": q_quality_auc_by_group,
    "ext_calibration_bins": q_calibration_bins,
    "ext_stream_heavy_hitters": q_stream_heavy_hitters,
    "ext_rolling_distinct": q_rolling_distinct,
    "ext_snapshot_diff": q_snapshot_diff,
    "ext_stream_kmv_distinct": q_stream_kmv_distinct,
    "ext_rolling_quantiles": q_rolling_quantiles,
    "ext_cms_estimate": q_cms_estimate,
    "ext_fuzzy_join": q_fuzzy_join,
    "ext_leakage_split": q_leakage_split,
    "ext_url_canon": q_url_canon,
    "ext_line_dedup": q_line_dedup,
    "ext_gap_fill": q_gap_fill,
    "ext_triplet_mine": q_triplet_mine,
    "ext_hybrid_search": q_hybrid_search,
    "ext_corpus_report": q_corpus_report,
    "ext_c4_filters": q_c4_filters,
    "ext_html_extract": q_html_extract,
    "ext_gopher_quality": q_gopher_quality,
    "ext_script_profile": q_script_profile,
    "ext_domain_stats": q_domain_stats,
    "ext_dsir_sample": q_dsir_sample,
    "ext_pack_bins": q_pack_bins,
    "ext_skew_profile": q_skew_profile,
    "ext_stratified_topk": q_stratified_topk,
    "ext_chat_validate": q_chat_validate,
    "ext_chat_render": q_chat_render,
    "ext_preference_pairs": q_preference_pairs,
    "ext_bm25_batch": q_bm25_batch,
    "ext_novelty": q_novelty,
    "ext_stream_incr_dedup": q_stream_incr_dedup,
    "ext_stream_setsim_dedup": q_stream_setsim_dedup,
    "ext_stream_substr_dedup": q_stream_substr_dedup,
    "ext_stream_crawl": q_stream_crawl,
    "ext_crawl_pipeline": q_crawl_pipeline,
    "ext_heavy_hitters": q_heavy_hitters,
    "ext_skew_join": q_skew_join,
    "ext_vector_index": q_vector_index,
    "ext_vector_index_probe": q_vector_index_probe,
    "ext_pagerank": q_pagerank,
    "ext_link_graph": q_link_graph,
    "ext_warc_digest_dedup": q_warc_digest_dedup,
    "ext_robots_filter": q_robots_filter,
    "ext_cdx_index": q_cdx_index,
    "ext_temperature_sample": q_temperature_sample,
    "ext_crossmodal_topk": q_crossmodal_topk,
    "ext_crossmodal_align": q_crossmodal_align,
    "ext_pii_luhn": q_pii_luhn,
    "ext_weighted_sample": q_weighted_sample,
    "ext_text_nfc": q_text_nfc,
    "ext_sessionize": q_sessionize,
    "ext_event_paths": q_event_paths,
    "ext_event_transitions": q_event_transitions,
    "ext_maxsim_topk": q_maxsim_topk,
    "ext_funnel": q_funnel,
    "ext_retention": q_retention,
    "ext_training_shards": q_training_shards,
    "ext_incremental_near_dedup": q_incremental_near_dedup,
    "ext_mad_outliers": q_mad_outliers,
}

ORACLES = {
    "op_avro_scan": ORACLE_AVRO_SCAN,
    "op_delta_scan": ORACLE_DELTA_SCAN,
    "op_delta_dv_scan": ORACLE_DELTA_DV_SCAN,
    "op_delta_zorder_scan": ORACLE_DELTA_ZORDER_SCAN,
    "op_iceberg_skip_scan": ORACLE_ICEBERG_SKIP_SCAN,
    "op_pdf_scan": ORACLE_PDF_SCAN,
    "op_paimon_scan": ORACLE_PAIMON_SCAN,
    "op_msaccess_scan": ORACLE_MSACCESS_SCAN,
    "op_iceberg_scan": ORACLE_ICEBERG_SCAN,
    "op_iceberg_part_scan": ORACLE_ICEBERG_PART_SCAN,
    "op_iceberg_v2_scan": ORACLE_ICEBERG_V2_SCAN,
    "op_shp_scan": ORACLE_SHP_SCAN,
    "op_warc_scan": ORACLE_WARC_SCAN,
    "op_arc_scan": ORACLE_ARC_SCAN,
    "op_pcapng_scan": ORACLE_PCAPNG_SCAN,
    "op_spss_scan": ORACLE_SPSS_SCAN,
    "op_orc_scan": ORACLE_ORC_SCAN,
    "op_hdf5_scan": ORACLE_HDF5_SCAN,
    "op_image_scan": ORACLE_IMAGE_SCAN,
    "op_dfdl_scan": ORACLE_DFDL_SCAN,
    "ext_dedup_exact": ORACLE_DEDUP_EXACT,
    "ext_incremental_dedup": ORACLE_INCREMENTAL_DEDUP,
    "ext_dedup_apply": ORACLE_DEDUP_APPLY,
    "ext_dedup_jaccard": ORACLE_DEDUP_JACCARD,
    "ext_embed_topk": ORACLE_EMBED_TOPK,
    "ext_embed_dedup": ORACLE_EMBED_DEDUP,
    "ext_text_stats": ORACLE_TEXT_STATS,
    "ext_trigram_lm": ORACLE_TRIGRAM_LM,
    "op_gis_points": ORACLE_GIS_POINTS,
    "ext_text_tokens_bpe": ORACLE_TEXT_TOKENS_BPE,
    "ext_bpe_tokens": ORACLE_BPE_TOKENS,
    "ext_mixture_build_bpe": _oracle_mixture_build_bpe(),
    "ext_chunk_pack_bpe": _oracle_chunk_pack_bpe(),
    "ext_dedup_ngram": ORACLE_DEDUP_NGRAM,
    "ext_setsim_join": ORACLE_SETSIM_JOIN,
    "ext_setsim_tables": ORACLE_SETSIM_TABLES,
    "ext_incremental_setsim": ORACLE_INCREMENTAL_SETSIM,
    "ext_containment_join": ORACLE_CONTAINMENT_JOIN,
    "ext_substr_dedup": ORACLE_SUBSTR_DEDUP,
    "ext_substr_dedup_digest": ORACLE_SUBSTR_DEDUP,
    "ext_substr_spans": ORACLE_SUBSTR_SPANS,
    "ext_substr_decontam": ORACLE_SUBSTR_DECONTAM,
    "ext_substr_contam_report": ORACLE_SUBSTR_CONTAM_REPORT,
    "ext_incremental_substr": ORACLE_INCREMENTAL_SUBSTR,
    "ext_text_token_freq": ORACLE_TOKEN_FREQ,
    "ext_sample_hash": ORACLE_SAMPLE_HASH,
    "ext_text_histogram": ORACLE_TEXT_HISTOGRAM,
    "ext_text_quality": ORACLE_TEXT_QUALITY,
    "ext_text_langid": ORACLE_TEXT_LANGID,
    "ext_lang_id": _oracle_lang_id(),
    "ext_lang_mixture": _oracle_lang_mixture(),
    "ext_source_diversity": ORACLE_SOURCE_DIVERSITY,
    "ext_readability": ORACLE_READABILITY,
    "ext_token_fertility": _oracle_token_fertility(),
    "ext_stream_lang_mix": _oracle_stream_lang_mix(),
    "ext_encoding_qa": _oracle_encoding_qa(),
    "ext_text_fingerprint": ORACLE_TEXT_FINGERPRINT,
    "ext_text_topk_approx": ORACLE_TEXT_TOPK_APPROX,
    "ext_multimodal_features": ORACLE_MULTIMODAL_FEATURES,
    "ext_multimodal_meta": ORACLE_MULTIMODAL_META,
    "ext_multimodal_probe": ORACLE_MULTIMODAL_PROBE,
    "ext_multimodal_decode": ORACLE_MULTIMODAL_DECODE,
    "ext_audio_probe": ORACLE_AUDIO_PROBE,
    "ext_asof_join": ORACLE_ASOF_JOIN,
    "ext_range_join": ORACLE_RANGE_JOIN,
    "ext_stream_tumbling": ORACLE_STREAM_TUMBLING,
    "ext_stream_sliding": ORACLE_STREAM_SLIDING,
    "ext_stream_join": ORACLE_STREAM_JOIN,
    "ext_stream_dedup": ORACLE_STREAM_DEDUP,
    "ext_stream_enrich": ORACLE_STREAM_ENRICH,
    "ext_pii_redact": ORACLE_PII_REDACT,
    "ext_decontaminate": ORACLE_DECONTAMINATE,
    "ext_bloom_decontaminate": ORACLE_DECONTAMINATE,
    "ext_chunk_pack": ORACLE_CHUNK_PACK,
    "ext_chunk_overlap": ORACLE_CHUNK_OVERLAP,
    "ext_pack_bins": ORACLE_PACK_BINS,
    "ext_repetition": ORACLE_REPETITION,
    "ext_gopher_repetition": ORACLE_GOPHER_REPETITION,
    "ext_stratified_sample": ORACLE_STRATIFIED_SAMPLE,
    "ext_quality_mixture": ORACLE_QUALITY_MIXTURE,
    "ext_image_phash_dedup": ORACLE_IMAGE_PHASH_DEDUP,
    "ext_substring_dedup": ORACLE_SUBSTRING_DEDUP,
    "ext_substring_dedup_apply": ORACLE_SUBSTRING_DEDUP_APPLY,
    "ext_audio_dedup": ORACLE_AUDIO_DEDUP,
    "ext_video_dedup": ORACLE_VIDEO_DEDUP,
    "ext_bm25_topk": ORACLE_BM25_TOPK,
    "ext_tfidf_keywords": ORACLE_TFIDF_KEYWORDS,
    "ext_fuzzy_join": ORACLE_FUZZY_JOIN,
    "ext_leakage_split": ORACLE_LEAKAGE_SPLIT,
    "ext_url_canon": ORACLE_URL_CANON,
    "ext_line_dedup": ORACLE_LINE_DEDUP,
    "ext_gap_fill": ORACLE_GAP_FILL,
    "ext_triplet_mine": ORACLE_TRIPLET_MINE,
    "ext_hybrid_search": ORACLE_HYBRID_SEARCH,
    "ext_corpus_report": ORACLE_CORPUS_REPORT,
    "ext_c4_filters": ORACLE_C4_FILTERS,
    "ext_html_extract": ORACLE_HTML_EXTRACT,
    "ext_gopher_quality": ORACLE_GOPHER_QUALITY,
    "ext_script_profile": ORACLE_SCRIPT_PROFILE,
    "ext_domain_stats": ORACLE_DOMAIN_STATS,
    "ext_dsir_sample": ORACLE_DSIR_SAMPLE,
    "ext_skew_profile": ORACLE_SKEW_PROFILE,
    "ext_stratified_topk": ORACLE_STRATIFIED_TOPK,
    "ext_chat_validate": ORACLE_CHAT_VALIDATE,
    "ext_chat_render": ORACLE_CHAT_RENDER,
    "ext_preference_pairs": ORACLE_PREFERENCE_PAIRS,
    "ext_bm25_batch": ORACLE_BM25_BATCH,
    "ext_novelty": ORACLE_NOVELTY,
    "ext_stream_incr_dedup": ORACLE_STREAM_INCR_DEDUP,
    "ext_stream_setsim_dedup": ORACLE_STREAM_SETSIM_DEDUP,
    "ext_stream_substr_dedup": ORACLE_STREAM_SUBSTR_DEDUP,
    "ext_stream_crawl": ORACLE_STREAM_CRAWL,
    "ext_crawl_pipeline": ORACLE_CRAWL_PIPELINE,
    "ext_heavy_hitters": ORACLE_HEAVY_HITTERS,
    "ext_skew_join": ORACLE_SKEW_JOIN,
    "ext_vector_index": ORACLE_VECTOR_INDEX,
    "ext_pagerank": ORACLE_PAGERANK,
    "ext_link_graph": ORACLE_LINK_GRAPH,
    "ext_warc_digest_dedup": ORACLE_WARC_DIGEST_DEDUP,
    "ext_robots_filter": ORACLE_ROBOTS_FILTER,
    "ext_cdx_index": ORACLE_CDX_INDEX,
    "ext_temperature_sample": ORACLE_TEMPERATURE_SAMPLE,
    "ext_pii_luhn": ORACLE_PII_LUHN,
    "ext_weighted_sample": ORACLE_WEIGHTED_SAMPLE,
    "ext_text_nfc": ORACLE_TEXT_NFC,
    "ext_sessionize": ORACLE_SESSIONIZE,
    "ext_event_paths": ORACLE_EVENT_PATHS,
    "ext_event_transitions": ORACLE_EVENT_TRANSITIONS,
    "ext_maxsim_topk": ORACLE_MAXSIM_TOPK,
    "ext_funnel": ORACLE_FUNNEL,
    "ext_retention": ORACLE_RETENTION,
    "ext_training_shards": ORACLE_TRAINING_SHARDS,
    "ext_mad_outliers": ORACLE_MAD_OUTLIERS,
    "ext_mixture_build": ORACLE_MIXTURE_BUILD,
    "ext_epoch_shuffle": ORACLE_EPOCH_SHUFFLE,
    "ext_kmv_distinct": ORACLE_KMV_DISTINCT,
    "ext_kmv_overlap": ORACLE_KMV_OVERLAP,
    "ext_curation_pipeline": ORACLE_CURATION_PIPELINE,
    "ext_curation_audit": ORACLE_CURATION_AUDIT,
    "ext_stratified_weighted_sample": ORACLE_STRAT_WEIGHTED_SAMPLE,
    "ext_incremental_curation_audit": ORACLE_INCREMENTAL_CURATION_AUDIT,
    "ext_collocations": ORACLE_COLLOCATIONS,
    "ext_phrase_search": ORACLE_PHRASE_SEARCH,
    "ext_window_cooccur": ORACLE_WINDOW_COOCCUR,
    "ext_quality_auc": ORACLE_QUALITY_AUC,
    "ext_stream_quality_auc": _oracle_stream_quality_auc(),
    "ext_retrieval_eval": ORACLE_RETRIEVAL_EVAL,
    "ext_quality_auc_by_group": ORACLE_QUALITY_AUC_BY_GROUP,
    "ext_calibration_bins": ORACLE_CALIBRATION_BINS,
    "ext_stream_heavy_hitters": ORACLE_STREAM_HEAVY_HITTERS,
    "ext_rolling_distinct": ORACLE_ROLLING_DISTINCT,
    "ext_snapshot_diff": ORACLE_SNAPSHOT_DIFF,
    "ext_stream_kmv_distinct": ORACLE_STREAM_KMV_DISTINCT,
    "ext_rolling_quantiles": ORACLE_ROLLING_QUANTILES,
    "ext_cms_estimate": ORACLE_CMS_ESTIMATE,
}


def queries() -> dict:
    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    return dict(ORACLES)
