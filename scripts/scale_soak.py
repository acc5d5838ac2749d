"""sf1 scale soak: prove the ~linear-scaling claims at 10x the bench SF.

The 100 TB judgments in SCALE.md rest on plan reading; this script
measures the trend instead. It

1. generates an sf1 fixture dir (10x sf0.1) by key-offset replication —
   each table is the union of 10 copies with all join keys shifted by
   copy_index * keyspace, so per-key fan-in (orders per customer,
   lineitems per order, docs per dup-group) is preserved and every join
   keeps its sf0.1 selectivity shape. Fully distributed: the union of 10
   literal-offset selects is one Catalyst plan, no driver rows.
2. times the TPC-H + ext query groups (the groups whose input grows with
   sf; op_* relational queries share the same scan shapes as tpch and the
   fmt scans read fixed /tmp fixtures, so both are excluded) at sf0.1 and
   sf1, best-of-2 after warmup, same protocol as bench.py.
3. writes soak_sf1.json and rewrites the measured-scaling table in
   SCALE.md. bench.py embeds soak_sf1.json into bench_result.json when
   present, so the driver records the soak alongside the bench.

Pass/fail: a query FAILS the soak when its per-row cost at sf1 exceeds
2x its per-row cost at sf0.1 (i.e. wall > 2 * 10 * t_sf01), with a
0.2 s floor on the sf0.1 time so sub-noise queries can't fail on
jitter. Queries that select a bounded slice (doc_id < 100 style caps)
should come out ~flat — that is the pushdown working, not a miss.

Usage: python scripts/scale_soak.py [--regen] [--sf1-dir DIR]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF01 = "/root/testdata/sf0.1"
COPIES = 10

# join-key columns per table -> the table whose keyspace they index into.
# Keys are shifted by copy * (max_key + 1) of the owning table, so
# referential integrity holds within each copy and copies never collide.
_KEY_OWNERS = {
    "customer": {"c_custkey": "customer"},
    "supplier": {"s_suppkey": "supplier"},
    "part": {"p_partkey": "part"},
    "orders": {"o_orderkey": "orders", "o_custkey": "customer"},
    "lineitem": {
        "l_orderkey": "orders",
        "l_partkey": "part",
        "l_suppkey": "supplier",
    },
    "events": {"event_id": "events", "user_id": "__events_user__"},
    "documents": {"doc_id": "documents"},
    "embeddings": {"vec_id": "embeddings"},
    # nation / region: fixed dimensions, copied once, never offset
    "nation": {},
    "region": {},
}


# The ~20 flagship ops for the deeper sf10 soak (second decade of scale
# evidence: quadratic tails — banded pair explosion, window state — can
# hide inside one decade, so the flagships get 100x). Chosen to cover
# every scale-critical family: curation, dedup (exact/near/line/
# substring), retrieval (BM25/vector serve), graph, the mergeable
# sketches, mixture/shuffle, skew, and two TPC-H anchors.
FLAGSHIPS = [
    "ext_curation_pipeline", "ext_dedup_exact", "ext_dedup_minhash",
    "ext_line_dedup", "ext_substr_dedup", "ext_incremental_substr",
    "ext_snapshot_diff",
    "ext_bm25_batch", "ext_pagerank", "ext_vector_index_probe",
    "ext_kmv_distinct", "ext_cms_estimate", "ext_rolling_distinct",
    "ext_rolling_quantiles", "ext_heavy_hitters", "ext_mixture_build",
    "ext_epoch_shuffle", "ext_skew_join", "ext_decontaminate",
    "ext_sessionize", "tpch_q01", "tpch_q18",
    # r10b: auto-cell SemDeDup — the row whose fixed-k version was the
    # worst per-row ratio in the r10 sf1 soak; prove the auto path
    # holds a second decade too.
    "ext_semantic_dedup",
    # r12 flagships: digest-mode substr (the no-broadcast-precondition
    # path must scale like exact mode), the drop ledger (pipeline
    # shuffle budget + one join), the binned-AUC metric (one groupBy at
    # corpus scale), tokenizer-true mixture (Arrow pass + mixture), and
    # the per-stratum sampler (top-k heap per stratum).
    "ext_substr_dedup_digest", "ext_curation_audit", "ext_quality_auc",
    "ext_mixture_build_bpe", "ext_stratified_weighted_sample",
    # r13 flagships: the per-row LID (interpreted-HOF pipeline must
    # stay linear), the LID-fed mixture (LID + rates + epoch fan-out),
    # tokenizer fertility (Arrow BPE pass + LID + bounded groupBy),
    # source diversity (the (source, gram-hash) shuffle), readability
    # and encoding QA (pure codegen passes), and the positional
    # pre-filtered window co-occurrence.
    "ext_lang_id", "ext_lang_mixture", "ext_token_fertility",
    "ext_source_diversity", "ext_readability", "ext_encoding_qa",
    "ext_window_cooccur",
]


def generate_scaled(spark, out_dir: str, copies: int) -> None:
    from pyspark.sql import functions as F

    os.makedirs(out_dir, exist_ok=True)
    # keyspace per owner = max key + 1, read once from the sf0.1 footers
    maxes: dict[str, int] = {}
    for owner, keycol in [
        ("customer", "c_custkey"),
        ("supplier", "s_suppkey"),
        ("part", "p_partkey"),
        ("orders", "o_orderkey"),
        ("events", "event_id"),
        ("documents", "doc_id"),
        ("embeddings", "vec_id"),
    ]:
        df = spark.read.parquet(f"{SF01}/{owner}.parquet")
        maxes[owner] = int(df.agg(F.max(keycol)).first()[0]) + 1
    maxes["__events_user__"] = int(
        spark.read.parquet(f"{SF01}/events.parquet").agg(F.max("user_id")).first()[0]
    ) + 1

    for table, keys in _KEY_OWNERS.items():
        src = spark.read.parquet(f"{SF01}/{table}.parquet")
        dst = f"{out_dir}/{table}.parquet"
        if not keys:  # fixed dims
            src.write.mode("overwrite").parquet(dst)
            continue
        parts = []
        for i in range(copies):
            out = src
            for col, owner in keys.items():
                out = out.withColumn(
                    col, (F.col(col) + F.lit(i * maxes[owner])).cast(src.schema[col].dataType)
                )
            parts.append(out)
        big = parts[0]
        for p in parts[1:]:
            big = big.unionByName(p)
        big.write.mode("overwrite").parquet(dst)
        print(f"[soak] wrote {table} x{copies}", file=sys.stderr)


def _soak_queries(names: list[str] | None = None):
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    if names is not None:
        return {k: qs[k] for k in names if k in qs}
    return {
        k: v
        for k, v in qs.items()
        if k.startswith("tpch_") or k.startswith("ext_")
    }


def time_queries(spark, qs, sf_dir: str) -> dict[str, float]:
    # untimed setup pass (fixture materialization / plan build)
    for name in sorted(qs):
        try:
            qs[name](spark, sf_dir)
        except Exception as e:
            print(f"[soak] setup {name}@{sf_dir}: {e}", file=sys.stderr)
    timings: dict[str, float] = {}
    for _ in range(2):
        for name in sorted(qs):
            t0 = time.time()
            try:
                qs[name](spark, sf_dir).count()
                dt = round(time.time() - t0, 3)
            except Exception as e:
                print(f"[soak] error {name}@{sf_dir}: {e}", file=sys.stderr)
                dt = -1.0
            prev = timings.get(name)
            if prev is None or (0 <= dt < prev) or prev < 0:
                timings[name] = dt
    return timings


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf1-dir", default=os.environ.get(
        "SPARK_GRAFT_SF1_DIR", "/tmp/spark_graft_scale/sf1"))
    ap.add_argument("--regen", action="store_true")
    ap.add_argument("--sf10", action="store_true", help=(
        "second-decade soak: 100x replication, flagship ops only, "
        "writes soak_sf10.json (SCALE.md table untouched)"))
    args = ap.parse_args()

    copies = 100 if args.sf10 else COPIES
    sf_big_dir = (args.sf1_dir.rstrip("/").rsplit("/", 1)[0] + "/sf10"
                  if args.sf10 else args.sf1_dir)
    out_json = "soak_sf10.json" if args.sf10 else "soak_sf1.json"

    from drill_spark.session import get_spark

    spark = get_spark("drill_spark_soak", cores=int(
        os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8)))

    if args.regen or not os.path.exists(f"{sf_big_dir}/lineitem.parquet"):
        t0 = time.time()
        generate_scaled(spark, sf_big_dir, copies)
        print(f"[soak] x{copies} fixture generated in "
              f"{round(time.time() - t0, 1)}s", file=sys.stderr)

    qs = _soak_queries(FLAGSHIPS if args.sf10 else None)
    import __spark_entry__ as entrymod

    # warm codegen / arrow pool / streaming on the small dir
    entrymod.warm(spark, "/root/testdata/sf0.001", qs)

    t01 = time_queries(spark, qs, SF01)
    t1 = time_queries(spark, qs, sf_big_dir)

    rows = []
    for name in sorted(qs):
        a, b = t01.get(name, -1.0), t1.get(name, -1.0)
        if a < 0 or b < 0:
            rows.append({"query": name, "sf0.1": a, "sf1": b,
                         "wall_ratio": None, "per_row_ratio": None,
                         "ok": False})
            continue
        wall = round(b / max(a, 0.2), 2)
        per_row = round(b / (copies * max(a, 0.2)), 3)
        rows.append({"query": name, "sf0.1": a, "sf1": b,
                     "wall_ratio": wall, "per_row_ratio": per_row,
                     "ok": per_row <= 2.0})
    result = {
        "sf1_dir": sf_big_dir,
        "copies": copies,
        "n_queries": len(rows),
        "n_fail": sum(1 for r in rows if not r["ok"]),
        "total_sf0.1": round(sum(r["sf0.1"] for r in rows if r["sf0.1"] >= 0), 3),
        "total_sf1": round(sum(r["sf1"] for r in rows if r["sf1"] >= 0), 3),
        "queries": rows,
    }
    with open(os.path.join(REPO, out_json), "w") as f:
        json.dump(result, f, indent=1)
    print(json.dumps({k: v for k, v in result.items() if k != "queries"}))

    if not args.sf10:
        _rewrite_scale_md(result)


def _rewrite_scale_md(result: dict) -> None:
    """Replace (or append) the measured-scaling section in SCALE.md."""
    path = os.path.join(REPO, "SCALE.md")
    marker = "## Measured scaling: sf0.1 -> sf1"
    lines = [
        marker,
        "",
        f"10x replication soak (`scripts/scale_soak.py`, best-of-2 after "
        f"warmup, local[32]). Per-row ratio = t_sf1 / (10 * t_sf0.1), "
        f"0.2 s floor; <=1 is linear-or-better, <=2 passes. "
        f"{result['n_fail']} of {result['n_queries']} queries exceed 2x.",
        "",
        "| query | sf0.1 s | sf1 s | wall x | per-row x |",
        "|---|---|---|---|---|",
    ]
    for r in result["queries"]:
        lines.append(
            f"| {r['query']} | {r['sf0.1']} | {r['sf1']} | "
            f"{r['wall_ratio']} | {r['per_row_ratio']} |")
    lines.append("")
    lines.append(
        f"Totals: {result['total_sf0.1']} s -> {result['total_sf1']} s. "
        "Bounded-slice queries (doc_id < N caps) staying ~flat is the "
        "parquet filter pushdown doing its job at 10x the scan.")
    block = "\n".join(lines) + "\n"
    try:
        with open(path) as f:
            text = f.read()
    except OSError:
        text = ""
    if marker in text:
        head = text.split(marker)[0]
        text = head + block
    else:
        text = text.rstrip() + "\n\n" + block
    with open(path, "w") as f:
        f.write(text)


if __name__ == "__main__":
    main()
