"""Operations of each workload, their expected results and their checks.

An operation is one closed-loop step: it calls the engine's public API
(``DrillSession.sql`` or a ``drill_spark.ops`` function), materializes
every output column on the client with ``toArrow()`` (or writes it with
``DataFrame.write``) and hands the result to its check. A wrong result
raises ``CheckFailed``.

``raw_files`` operations are all SQL over path tables, so each pays the
SQL front end and schema inference. ``curation_batch`` reads its two
tables once during set-up into cached DataFrames, and its operations
call the operators on those: no SQL front end, no reader.

Expected results never come from the engine under test:

- ``raw_files`` queries are replayed by DuckDB over the generated files;
- ``curation_batch`` results are compared with the DuckDB oracle
  entries of the query registry (``drill_spark.extops.oracle_sql()``)
  where the operator call is the registry's own call, and with the
  ground truth the generator planted.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field
from typing import Callable

import duckdb


class CheckFailed(AssertionError):
    pass


@dataclass
class Op:
    name: str
    kind: str  # "query" or "write"
    rows_in: int
    run: Callable  # (ctx) -> result: a pyarrow.Table, or a written table's path
    check: Callable  # (result) -> None, raises CheckFailed


@dataclass
class Workload:
    ops: list  # one pass runs them in this order
    expected: dict = field(default_factory=dict)
    setup: Callable = lambda ctx: None  # (ctx) -> None, run once during set-up


# ------------------------------------------------------------- compare


def _key(row: tuple) -> tuple:
    out = []
    for v in row:
        if v is None:
            out.append((0, ""))
        elif isinstance(v, float):
            out.append((1, round(v, 3) if math.isfinite(v) else str(v)))
        elif isinstance(v, (list, tuple)):
            out.append((2, str(v)))
        else:
            out.append((1, v) if isinstance(v, (int, bool)) else (3, str(v)))
    return tuple(out)


def _close(a, b, rel: float, abs_: float) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        a, b = float(a), float(b)
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return abs(a - b) <= max(abs_, rel * max(abs(a), abs(b)))
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(_close(x, y, rel, abs_) for x, y in zip(a, b))
    return a == b


def rows_of(table, columns=None) -> list[tuple]:
    cols = columns or table.column_names
    data = [table.column(c).to_pylist() for c in cols]
    return list(zip(*data)) if data else []


def same_rows(actual: list[tuple], expected: list[tuple], what: str,
              rel: float = 1e-9, abs_: float = 1e-9) -> None:
    """Order-insensitive multiset equality with a float tolerance."""
    if len(actual) != len(expected):
        raise CheckFailed(f"{what}: {len(actual)} rows, expected {len(expected)}")
    for a, e in zip(sorted(actual, key=_key), sorted(expected, key=_key)):
        if len(a) != len(e) or not all(_close(x, y, rel, abs_) for x, y in zip(a, e)):
            raise CheckFailed(f"{what}: row {a!r} != expected {e!r}")


def same_table(table, expected: tuple, what: str, **tol) -> None:
    """``expected`` is (column names, rows) from DuckDB; the engine's
    columns are matched by name when both sides have the same names."""
    names, rows = expected
    cols = names if set(names) <= set(table.column_names) else None
    if cols is None and table.num_columns != len(names):
        raise CheckFailed(f"{what}: columns {table.column_names}, expected {names}")
    same_rows(rows_of(table, cols), rows, what, **tol)


def duck(con, sql: str) -> tuple:
    rel = con.sql(sql)
    return tuple(rel.columns), [tuple(r) for r in rel.fetchall()]


# ------------------------------------------------------------ raw_files

_CSV_TF = "table(dfs.`{li}`(type => 'text', extractHeader => 'true'))"

# (name, engine SQL, DuckDB SQL, input tables). The engine sees Drill path
# tables; DuckDB reads the same files directly.
_RAW_QUERIES = [
    ("events_filter_agg",
     "select event_type, count(*) as n, sum(value) as v "
     "from dfs.`{ev}` where value > 10 group by event_type",
     "select event_type, count(*) as n, sum(value) as v "
     "from {EV} where value > 10 group by event_type",
     ("events",)),
    ("events_nested",
     "select event_type, count(*) as n, sum(t.props.k) as k "
     "from dfs.`{ev}` t group by event_type",
     "select event_type, count(*) as n, sum(props.k) as k "
     "from {EV} group by event_type",
     ("events",)),
    ("events_array",
     "select recent[1] as prev_type, count(*) as n, max(size(recent)) as m "
     "from dfs.`{ev}` where size(recent) > 1 group by recent[1]",
     "select recent[2] as prev_type, count(*) as n, max(len(recent)) as m "
     "from {EV} where len(recent) > 1 group by recent[2]",
     ("events",)),
    ("events_drift",
     "select count(*) as n, count(value_cents) as n_cents, sum(value_cents) as c, "
     "sum(t.props.k) as k, max(t.props.k) as mx from dfs.`{ev}` t",
     "select count(*) as n, count(value_cents) as n_cents, sum(value_cents) as c, "
     "sum(props.k) as k, max(props.k) as mx from {EV}",
     ("events",)),
    ("csv_table_fn",
     "select l_returnflag, count(*) as n, sum(cast(l_quantity as double)) as q "
     "from " + _CSV_TF + " group by l_returnflag",
     "select l_returnflag, count(*) as n, sum(cast(l_quantity as double)) as q "
     "from {LI} group by l_returnflag",
     ("lineitem",)),
    ("json_csv_join",
     "select o.o_orderpriority, count(*) as n, "
     "sum(cast(l.l_extendedprice as double)) as rev "
     "from dfs.`{orders}` o join " + _CSV_TF + " l "
     "on o.o_orderkey = cast(l.l_orderkey as bigint) "
     "where o.o_orderstatus = 'F' group by o.o_orderpriority",
     "select o.o_orderpriority, count(*) as n, sum(l.l_extendedprice) as rev "
     "from {ORD} o join {LI} l on o.o_orderkey = l.l_orderkey "
     "where o.o_orderstatus = 'F' group by o.o_orderpriority",
     ("orders", "lineitem")),
]

# (name, CTAS select, DuckDB replay of the select, follow-up over the
# written table, its DuckDB replay, input tables)
_RAW_CTAS = [
    ("events_by_user",
     "select user_id, event_type, count(*) as n, sum(value) as v "
     "from dfs.`{ev}` group by user_id, event_type",
     "select user_id, event_type, count(*) as n, sum(value) as v "
     "from {EV} group by user_id, event_type",
     "select event_type, count(*) as users, sum(n) as n, sum(v) as v "
     "from bench.`{out}` group by event_type",
     "select event_type, count(*) as users, sum(n) as n, sum(v) as v "
     "from ({sel}) group by event_type",
     ("events",)),
    ("open_orders",
     "select o_orderkey, o_custkey, o_totalprice from dfs.`{orders}` "
     "where o_orderstatus = 'O'",
     "select o_orderkey, o_custkey, o_totalprice from {ORD} "
     "where o_orderstatus = 'O'",
     "select count(*) as n, sum(o_totalprice) as t, max(o_custkey) as c "
     "from bench.`{out}`",
     "select count(*) as n, sum(o_totalprice) as t, max(o_custkey) as c "
     "from ({sel})",
     ("orders",)),
]


def _duck_raw(con, paths: dict) -> dict:
    """Load the generated files into DuckDB once; the replays read the tables."""
    con.sql(f"create table ev as select * from read_json('{paths['events']}/*.json', "
            "union_by_name = true, format = 'newline_delimited')")
    con.sql(f"create table ord as select * from read_json('{paths['orders']}/*.json', "
            "format = 'newline_delimited')")
    con.sql(f"create table li as select * from read_csv('{paths['lineitem']}', header = true)")
    return {"EV": "ev", "ORD": "ord", "LI": "li"}


def raw_files(inputs: dict) -> Workload:
    paths, rows = inputs["paths"], inputs["rows"]
    fmt = {"ev": paths["events"], "orders": paths["orders"], "li": paths["lineitem"]}
    con = duckdb.connect()
    dsrc = _duck_raw(con, paths)
    expected: dict = {}
    ops: list = []

    def query_op(name, sql, exp, n_in):
        def run(ctx):
            return ctx.action(ctx.sql(sql))

        def check(table):
            same_table(table, exp, name)

        return Op(name, "query", n_in, run, check)

    for name, sql, dsql, tables in _RAW_QUERIES:
        expected[name] = duck(con, dsql.format(**dsrc))
        ops.append(query_op(name, sql.format(**fmt), expected[name],
                            sum(rows[t] for t in tables)))

    for name, sel, dsel, follow, dfollow, tables in _RAW_CTAS:
        sel_sql = sel.format(**fmt)
        dsel_sql = dsel.format(**dsrc)
        n_out = con.sql(f"select count(*) from ({dsel_sql})").fetchone()[0]
        expected[name] = duck(con, dfollow.format(sel=dsel_sql))

        def ctas_run(ctx, name=name, sel_sql=sel_sql):
            out = ctx.next_output(name)
            return ctx.action(ctx.sql(f"create table bench.`{out}` as {sel_sql}"))

        def ctas_check(table, name=name):
            ok = table.column("ok").to_pylist() if "ok" in table.column_names else []
            if ok != [True]:
                raise CheckFailed(f"{name}: CTAS returned {table.to_pylist()!r}")

        def follow_run(ctx, name=name, follow=follow):
            return ctx.action(ctx.sql(follow.format(out=ctx.last_output(name))))

        exp = expected[name]
        ops += [
            Op(f"ctas_{name}", "write", sum(rows[t] for t in tables), ctas_run, ctas_check),
            Op(f"read_{name}", "query", n_out, follow_run,
               lambda table, name=name, exp=exp: same_table(table, exp, f"read_{name}")),
        ]
    con.close()
    return Workload(ops, expected)


# ------------------------------------------------------- curation_batch

_MIX_WEIGHTS = {"src0": 0.4, "src1": 0.3, "src2": 0.2, "src3": 0.1}
MINHASH_THRESHOLD = 0.8
MINHASH_MIN_RECALL = 0.95


def _jaccard(a: str, b: str) -> float:
    sa, sb = set(a.lower().split()), set(b.lower().split())
    return len(sa & sb) / len(sa | sb) if sa | sb else 0.0


def curation(inputs: dict) -> Workload:
    import pyarrow.parquet as pq
    from drill_spark.extops import oracle_sql

    paths, rows, truth = inputs["paths"], inputs["rows"], inputs["truth"]
    oracles = oracle_sql()
    con = duckdb.connect()
    con.sql(f"create view documents as select * from read_parquet('{paths['documents']}')")
    con.sql(f"create view embeddings as select * from read_parquet('{paths['embeddings']}')")
    expected = {k: duck(con, oracles[k]) for k in (
        "ext_curation_pipeline", "ext_embed_dedup", "ext_lang_id")}
    con.close()
    texts = pq.read_table(paths["documents"], columns=["doc_id", "text"]).to_pydict()
    text_of = dict(zip(texts["doc_id"], texts["text"]))
    n_docs, n_vecs = rows["documents"], rows["embeddings"]
    frames: dict = {}

    def setup(ctx):
        for name, path in paths.items():
            frames[name] = ctx.session.sql(f"select * from dfs.`{path}`").cache()
            frames[name].count()  # fills the cache with every column

    def pipeline_run(ctx):
        from pyspark.sql import functions as F
        from drill_spark.ops.pipeline import curation_pipeline

        docs = frames["documents"]
        df = ctx.build("curation_pipeline", curation_pipeline,
                       docs.where(F.col("doc_id") % 20 != 0),
                       docs.where(F.col("doc_id") % 20 == 0),
                       "doc_id", "text", "source", _MIX_WEIGHTS,
                       token_budget=150_000, n_shards=16)
        return ctx.write(df, "curated")

    def pipeline_check(path):
        table = pq.read_table(path)
        same_table(table, expected["ext_curation_pipeline"], "curation_pipeline")
        kept = set(table.column("doc_id").to_pylist())
        dropped = {max(g) for g in truth["exact_groups"] if min(g) % 20 and max(g) % 20}
        if kept & dropped:
            raise CheckFailed(f"curation_pipeline kept exact duplicates {sorted(kept & dropped)[:5]}")

    def minhash_run(ctx):
        from drill_spark.ops.dedup import minhash_near_dupes

        return ctx.action(ctx.build("minhash_near_dupes", minhash_near_dupes,
                                    frames["documents"], "doc_id", "text",
                                    threshold=MINHASH_THRESHOLD))

    def minhash_check(table):
        got = {}
        for a, b, j in rows_of(table, ["id_a", "id_b", "jaccard"]):
            if a >= b or (a, b) in got:
                raise CheckFailed(f"minhash: pair ({a}, {b}) not canonical or repeated")
            want = _jaccard(text_of[a], text_of[b])
            if want < MINHASH_THRESHOLD or abs(want - j) > 1e-4:
                raise CheckFailed(f"minhash: pair ({a}, {b}) jaccard {j}, exact {want}")
            got[(a, b)] = j
        planted = [tuple(sorted(g)) for g in truth["exact_groups"] + truth["near_groups"]]
        planted = [p for p in planted
                   if _jaccard(text_of[p[0]], text_of[p[1]]) >= MINHASH_THRESHOLD]
        missing = [p for p in planted if p not in got]
        if any(tuple(sorted(g)) not in got for g in truth["exact_groups"]):
            raise CheckFailed("minhash: an exact duplicate pair is missing")
        if planted and 1 - len(missing) / len(planted) < MINHASH_MIN_RECALL:
            raise CheckFailed(f"minhash: recall {1 - len(missing) / len(planted):.3f} "
                              f"on {len(planted)} planted pairs")

    def cosine_run(ctx):
        from drill_spark.ops.similarity import cosine_dedup_pairs

        return ctx.action(ctx.build("cosine_dedup_pairs", cosine_dedup_pairs,
                                    frames["embeddings"], threshold=0.35))

    def cosine_check(table):
        same_table(table, expected["ext_embed_dedup"], "cosine_dedup_pairs",
                   rel=0, abs_=1.5e-4)
        got = set(rows_of(table, ["id_a", "id_b"]))
        missing = [p for p in truth["vec_pairs"] if tuple(p) not in got]
        if missing:
            raise CheckFailed(f"cosine_dedup_pairs: planted pairs missing {missing[:5]}")

    def lang_run(ctx):
        from drill_spark.ops.langid import classify_lang

        return ctx.action(ctx.build("classify_lang", classify_lang, frames["documents"]))

    def lang_check(table):
        if table.num_rows != n_docs:
            raise CheckFailed(f"classify_lang: {table.num_rows} rows, expected {n_docs}")
        for d, t in rows_of(table, ["doc_id", "text"]):
            if text_of[d] != t:
                raise CheckFailed(f"classify_lang: text of doc {d} changed")
        counts: dict = {}
        for p, lang in rows_of(table, ["pred_lang", "lang"]):
            counts[(p, lang)] = counts.get((p, lang), 0) + 1
        same_rows([(p, lang, n) for (p, lang), n in counts.items()],
                  expected["ext_lang_id"][1], "classify_lang confusion")

    ops = [
        Op("curation_pipeline", "write", n_docs, pipeline_run, pipeline_check),
        Op("minhash_near_dupes", "query", n_docs, minhash_run, minhash_check),
        Op("cosine_dedup_pairs", "query", n_vecs, cosine_run, cosine_check),
        Op("classify_lang", "query", n_docs, lang_run, lang_check),
    ]
    return Workload(ops, expected, setup)


WORKLOADS = {"raw_files": raw_files, "curation_batch": curation}
