"""Drill SQL front end: a light pre-rewriter in front of ``spark.sql``.

Drill parses SQL with Calcite plus grammar extensions
(exec/java-exec/src/main/codegen/includes/parserImpls.ftl): backtick
path-as-table names (``dfs.`/data/x.json```), ALTER SESSION SET, SHOW
FILES, table functions with reader options
(store/table/function/WithOptionsTableMacro.java). Catalyst's ANTLR
grammar covers standard SQL; this module translates the Drill-isms and
delegates everything else untouched — **no Catalyst fork**.

Rewrites performed on every statement (``rewrite``):
- ``<workspace>.`<path>``` table refs  → read the file(s), register a
  temp view, substitute the view name. Format chosen by
  ``readers/formats.py::infer_format`` (table-format directory, file
  suffix) or the workspace default, read through its ``FORMATS`` row
  (schema-on-read: ScanBatch.java:73 analog is Spark's reader
  inference).
- ``table(<ws>.`p`(<k> => '<v>', ...))`` table functions → reader options
  (TestSelectWithOption.java semantics).
- ``table(pipeline.`<name>`(<k> => '<v>', ...))`` → an ops/ operator,
  its options bound through the ``PIPELINE`` table.

Drill's own statements (USE, SHOW FILES, CTAS, ALTER SESSION, views,
aliases, materialized views, ...) are the ``STATEMENTS`` rows, each
naming the Drill handler it stands for. Everything else, EXPLAIN PLAN
FOR and ``sys.``/``information_schema.`` tables included, runs as a
Spark statement (``_plain_query``).
"""

from __future__ import annotations

import os
import re
import shutil
from dataclasses import dataclass
from importlib import import_module
from typing import Callable, NamedTuple

from pyspark.sql import DataFrame, Row

from drill_spark.readers import files, formats
from drill_spark.readers.formats import flag
from drill_spark.session import local_frame

# ws.`/path` or ws.sub.`/path` (workspace part without backticks): the
# path-table token, ``{table}`` in a STATEMENTS pattern
_TABLE = r"(?P<ws>(?:\w+\.)+)`(?P<rel>[^`]+)`"
_PATH_TABLE = re.compile(r"(?<![\w`])" + _TABLE)
# option values may be quoted strings containing ')' or ',' (e.g. a
# regex or a schema DDL) — consume quoted segments atomically
_TABLE_FN = re.compile(
    r"table\(\s*" + _TABLE + r"\s*\(((?:'[^']*'|\"[^\"]*\"|[^)])*)\)\s*\)",
    re.IGNORECASE,
)
# a query, EXPLAIN/DESCRIBE of one, or an INSERT into a Spark table
# (after leading comments and parentheses): Spark analyzes (an INSERT
# also runs) it once and stores no SQL text that names the rewrite's
# temp views
_PLAIN_QUERY = re.compile(
    r"(?:\s|--[^\n]*|/\*.*?\*/|\()*(?:SELECT|WITH|VALUES|EXPLAIN|DESC|DESCRIBE|INSERT)\b",
    re.IGNORECASE | re.DOTALL)
_EXPLAIN_PLAN = re.compile(
    r"\s*EXPLAIN\s+PLAN\s+(?:WITH\s+IMPLEMENTATION\s+)?FOR\s+(.*)", re.IGNORECASE | re.DOTALL)
# a string literal as Spark reads one (single- or double-quoted, a quote
# escaped by a backslash or by doubling it) or a -- comment: text that an
# identifier rewrite must leave as it is
_LITERAL_OR_COMMENT = re.compile(
    r"'(?:[^'\\]|\\.|'')*'|\"(?:[^\"\\]|\\.|\"\")*\"|--[^\n]*", re.DOTALL)
# INFORMATION_SCHEMA.x / sys.x tables (store/ischema/, store/sys/), x
# plain or backquoted. A backquoted span, a literal or a comment matches
# first and is kept, so tsdb.`sys.cpu.user` (a path that merely contains
# "sys.") stays a path and 'sys.version' a string
_SYSTEM_TABLE = re.compile(
    rf"`[^`]*`|{_LITERAL_OR_COMMENT.pattern}"
    r"|\b(sys|information_schema)\s*\.\s*(?:`(\w+)`|(\w+))",
    re.IGNORECASE | re.DOTALL)


def _system_view(m: re.Match) -> str:
    """The snapshot view a _SYSTEM_TABLE match names (sys.options ->
    sys_options); a kept span comes back unchanged."""
    if not m.group(1):
        return m.group(0)
    return f"{m.group(1)}_{m.group(2) or m.group(3)}".lower()


def _split_where(tail: str) -> tuple[str, str]:
    """Split 'SET-items WHERE condition' at the first TOP-LEVEL WHERE
    keyword (quotes and parens respected — a WHERE inside a string
    literal or subexpression never splits)."""
    depth, q, i, n = 0, None, 0, len(tail)
    while i < n:
        ch = tail[i]
        if q:
            if ch == q:
                q = None
        elif ch in "'\"":
            q = ch
        elif ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
        elif depth == 0 and tail[i:i + 5].upper() == "WHERE":
            before_ok = i == 0 or tail[i - 1].isspace()
            after_ok = i + 5 >= n or tail[i + 5].isspace()
            if before_ok and after_ok:
                return tail[:i].rstrip(), tail[i + 5:].strip()
        i += 1
    raise ValueError("UPDATE requires a WHERE clause")


def _split_top_level(clause: str) -> list[str]:
    """Split on top-level commas (parens and quotes respected)."""
    parts, depth, buf, q = [], 0, [], None
    for ch in clause:
        if q:
            if ch == q:
                q = None
        elif ch in "'\"":
            q = ch
        elif ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
        elif ch == "," and depth == 0:
            parts.append("".join(buf))
            buf = []
            continue
        buf.append(ch)
    parts.append("".join(buf))
    return parts


def _split_set_clause(clause: str) -> dict[str, str]:
    """SET a = expr, b = expr — top-level comma split, then each item
    on its first '='."""
    out = {}
    for p in _split_top_level(clause):
        if "=" not in p:
            raise ValueError(f"bad SET item: {p!r}")
        col, _, expr = p.partition("=")
        out[col.strip().strip("`")] = expr.strip()
    return out


# a table qualifier, a plain or backquoted name before a dot (group 1);
# else a string literal or a backquoted name, kept as it is
_QUALIFIER = re.compile(r"(?<![\w.`])(\w+|`[^`]*`)(?=\s*\.)"
                        r"|'(?:[^'\\]|\\.)*'|\"(?:[^\"\\]|\\.)*\"|`[^`]*`")


def _realias(expr: str | None, aliases: dict[str, str]) -> str | None:
    """``expr`` with each table qualifier ``<alias>.`` outside string
    literals renamed by ``aliases`` (lower-case keys: SQL names match
    in any case). MERGE's table functions name its sides t and src."""
    if expr is None:
        return None
    return _QUALIFIER.sub(
        lambda m: aliases.get(m.group(1).strip("`").lower(), m.group(1))
        if m.group(1) else m.group(0), expr)


# a table directory's provided schema (CREATE SCHEMA ... FOR TABLE) and
# statistics (ANALYZE TABLE)
SCHEMA_FILE = ".drill.schema"
STATS_FILE = ".stats.drill"

# the incrementally-maintainable MV shape: single source, optional
# WHERE, GROUP BY, and a select list of group columns + decomposable
# aggregates (COUNT/SUM/MIN/MAX)
_MV_SHAPE = re.compile(
    r"^\s*select\s+(?P<sel>.+?)\s+from\s+(?P<src>.+?)"
    r"(?:\s+where\s+(?P<where>.+?))?\s+group\s+by\s+(?P<grp>.+?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_MV_AGG_ITEM = re.compile(
    r"^(count|sum|min|max)\s*\(\s*(distinct\b)?\s*([^)]*?)\s*\)\s+as\s+`?(\w+)`?$",
    re.IGNORECASE,
)


def _parse_incr_mv(select: str):
    """Parse an MV definition into its incremental-merge recipe, or
    None when the shape isn't incrementally maintainable (the caller
    then keeps full-recompute-only semantics)."""
    m = _MV_SHAPE.match(select.strip())
    if not m:
        return None
    src = m.group("src").strip()
    # the source must be ONE bare table/path reference — a join,
    # subquery, table function, or aliased source means the appended
    # raw files are NOT the rows the select aggregates, and merging
    # them would silently corrupt the MV
    if (re.search(r"\s", src) or "(" in src
            or not re.match(r"^(?:[\w.]+|(?:[\w.]+\.)?`[^`]+`)$", src)):
        return None
    groups = [g.strip().strip("`") for g in m.group("grp").split(",")]
    items = [s.strip() for s in _split_top_level(m.group("sel"))]
    # (alias, merge agg kind, original agg kind, normalized arg) — the
    # last two feed the aggregate-rollup rewrite (_rollup_rewrite)
    merge: list[tuple[str, str, str, str]] = []
    for it in items:
        am = _MV_AGG_ITEM.match(it)
        if am:
            kind, distinct, arg, alias = am.groups()
            if distinct:
                return None  # COUNT(DISTINCT) isn't decomposable
            kind = kind.lower()
            merge.append(
                (alias, "sum" if kind in ("count", "sum") else kind,
                 kind, _norm_expr(arg, count_arg=kind == "count")))
        elif it.strip("`") in groups:
            col = it.strip("`")
            merge.append((col, "group", "group", _norm_expr(col)))
        else:
            return None
    # every GROUP BY column must ride in the select list and at least
    # one mergeable aggregate must exist, or the merge can't rebuild
    # the stored state
    sel_groups = {a for a, k, *_ in merge if k == "group"}
    if not set(groups) <= sel_groups:
        return None
    if not any(k != "group" for _, k, *_ in merge):
        return None
    return {
        "source": m.group("src").strip(),
        "sel": m.group("sel").strip(),
        "where": m.group("where"),
        "groups": groups,
        "merge": merge,
        "select": select,
    }


def _resolve_input(session, ref: str) -> DataFrame:
    """Resolve a pipeline table-function input: a ``sys.x`` /
    ``information_schema.x`` name reads its snapshot view, then a
    registered table/view name, then a Drill-style `ws.relpath`, then a
    bare filesystem path — registered relations win so a same-named
    file in the server's CWD can never silently shadow the caller's
    view."""
    m = _SYSTEM_TABLE.fullmatch(ref)
    if m and m.group(1):
        from drill_spark.catalog import register_system_views

        register_system_views(session)
        return session.spark.table(_system_view(m))
    try:
        if session.spark.catalog.tableExists(ref):
            return session.spark.table(ref)
    except Exception:
        pass
    if "." in ref:
        ws, _, rest = ref.partition(".")
        if ws in session.workspaces:
            return _read_path(session, ws, rest.strip("`"))
    if os.path.exists(ref):
        return files.read_auto(session.spark, ref,
                               formats.infer_format(ref, "parquet"), {}, session)
    return session.spark.table(ref)


# -- pipeline table functions ----------------------------------------------
#
# ``TABLE(pipeline.`<name>`(input => 'documents', k => '5'))`` runs an
# ops/ builder and substitutes its result, the same rewrite-time
# mechanism format table functions use. Like a Drill table function,
# each name binds its named options against one declared signature: a
# ``PIPELINE`` row. Every option arrives as a string (Drill's table-fn
# convention) and its converter casts it; an option the caller leaves
# out is not passed, so the operator's own default applies.

_REQ = object()  # option default: the caller must set the option


def _commas(v: str) -> list[str]:
    return v.split(",")


def _names(v: str) -> tuple[str, ...]:
    return tuple(x for x in v.split(",") if x)


def _ints(v: str) -> list[int]:
    return [int(x) for x in v.split(",")]


def _expr(v: str):
    from pyspark.sql import functions as F

    return F.expr(v)


def _weights(v: str) -> dict[str, float]:
    weights = {}
    for kv in v.split(","):
        src_name, _, w = kv.rpartition(":")
        if not src_name:
            raise ValueError(f"weights entries are '<source>:<weight>', got {kv!r}")
        weights[src_name] = float(w)
    return weights


@dataclass(frozen=True)
class Op:
    """One pipeline table function. ``fn`` is an operator named
    ``"<module>.<function>"`` under ``drill_spark.ops`` (imported on
    first use) or a function ``fn(session, **kwargs)`` that composes
    operator calls. ``tables`` maps each table option to the parameter
    that receives the resolved table; ``options`` maps every other
    option to ``(parameter, converter, default)``, where a default of
    None passes nothing and ``_REQ`` makes the option required."""

    fn: str | Callable[..., DataFrame]
    tables: dict[str, str]
    options: dict[str, tuple[str, Callable, object]]


def _op(fn, tables: dict[str, str] | None = None, **options) -> Op:
    """A row. Each option is ``"param"`` (a string, optional) or
    ``(param, converter[, default])``."""
    spec = {key: (o, str, None) if isinstance(o, str) else (*o, None)[:3]
            for key, o in options.items()}
    return Op(fn, tables or {"input": "df"}, spec)


# options whose operator parameter has no default
_ID = ("id_col", str, "doc_id")
_TEXT = ("text_col", str, "text")
_TS = ("ts_col", str, "ts")
_KEY = ("key_col", str, "user_id")
_SOURCE = ("source_col", str, "source")
_BUDGET = ("token_budget", int, "1000000")


def _vector_topk(session, index: str, base: str | None = None, **kw) -> DataFrame:
    from drill_spark.ops.vecindex import index_topk

    return index_topk(session.spark, session.vector_indexes.get(index, index),
                      base=_resolve_input(session, base) if base else None, **kw)


def _robots_filter(session, urls, rules, url_col="url", rules_are_text=False,
                   text_col="robots", domain_col="domain", agent="*") -> DataFrame:
    from drill_spark.ops.crawlpolicy import parse_robots, robots_filter

    if rules_are_text:
        rules = parse_robots(rules, text_col, domain_col, agent=agent)
    return robots_filter(urls, rules, url_col=url_col)


def _crossmodal_topk(session, images, captions, id_col="doc_id",
                     payload_col="payload", text_col="text", k=3) -> DataFrame:
    from drill_spark.ops.crossmodal import crossmodal_topk, embed_captions, embed_images

    return crossmodal_topk(
        embed_images(images, id_col=id_col, payload_col=payload_col),
        embed_captions(captions, id_col=id_col, text_col=text_col),
        id_col=id_col, k=k)


def _cms_estimate(session, df, probes, col, **size) -> DataFrame:
    from drill_spark.ops.sketch import cms_build, cms_estimate

    return cms_estimate(cms_build(df, col, **size), probes, col, **size)


_TOKENIZERS = ("whitespace", "bpe", "fixed_bpe")


def _tokenizer(v: str) -> str:
    if v.lower() not in _TOKENIZERS:
        raise ValueError(f"expected one of {', '.join(_TOKENIZERS)}, got {v!r}")
    return v.lower()


def _mixture_build(session, tokenizer: str = "whitespace", **kw) -> DataFrame:
    from drill_spark.ops.pipeline import build_mixture

    if tokenizer != "whitespace":
        from drill_spark.ops.bpe import FIXED_MERGES_V1, bpe_count_column

        kw["tokens"] = bpe_count_column(kw["text_col"], FIXED_MERGES_V1)
    return build_mixture(**kw)


PIPELINE: dict[str, Op] = {
    # search and retrieval
    "bm25": _op("search.bm25_topk", query=("query_terms", str.split, _REQ),
                k=("k", int), id="id_col", text="text_col"),
    "bm25_batch": _op("search.bm25_topk_batch", {"input": "df", "queries": "queries"},
                      k=("k", int), id="id_col", text="text_col"),
    "tfidf_keywords": _op("search.tfidf_keywords", top_n=("top_n", int),
                          id="id_col", text="text_col"),
    "hybrid_search": _op("search.hybrid_topk", {"docs": "docs", "vecs": "vecs"},
                         query=("query_terms", str.split, _REQ),
                         vec_id=("query_vec_id", int, _REQ),
                         k=("k", int), pool=("pool", int)),
    "maxsim": _op("search.maxsim_topk", query=("query_terms", str.split, _REQ),
                  k=("k", int), id="id_col", text="text_col"),
    "vector_topk": _op(_vector_topk, {"input": "queries"},
                       index=("index", str, _REQ), base="base", k=("k", int),
                       nprobe=("nprobe", int), rerank=("rerank", int)),
    "crossmodal_topk": _op(_crossmodal_topk, {"images": "images", "captions": "captions"},
                           id="id_col", payload="payload_col", text="text_col",
                           k=("k", int)),
    "crossmodal_align": _op("crossmodal.alignment_filter",
                            {"images": "images", "captions": "captions"},
                            id="id_col", threshold=("threshold", float)),
    "triplet_mine": _op("similarity.triplet_mine", ids=("query_ids", _ints, "0"),
                        id="id_col", vec="vec_col", label="label_col"),
    # joins
    "fuzzy_join": _op("fuzzy.fuzzy_join", {"left": "left", "right": "right"},
                      left_id=("left_id", str, _REQ), left_col=("left_col", str, _REQ),
                      right_id=("right_id", str, _REQ),
                      right_col=("right_col", str, _REQ),
                      max_dist=("max_dist", int), max_df=("max_df", int)),
    "setsim_join": _op("fuzzy.setsim_join", id="id_col", text="text_col",
                       threshold=("threshold", float), ngram=("ngram", int)),
    "setsim_tables": _op("fuzzy.setsim_join_tables", {"left": "left", "right": "right"},
                         left_id="left_id", left_text="left_text",
                         right_id="right_id", right_text="right_text",
                         threshold=("threshold", float), ngram=("ngram", int)),
    "containment_join": _op("fuzzy.containment_join", {"probe": "probe", "corpus": "corpus"},
                            probe_id="probe_id", probe_text="probe_text",
                            id="corpus_id", text="corpus_text",
                            threshold=("threshold", float), ngram=("ngram", int)),
    "skew_join": _op("scale.auto_skew_join", {"hot": "hot", "small": "small"},
                     on=("on", _commas, _REQ), how="how",
                     threshold=("skew_threshold", float), salt=("salt", int)),
    # dedup
    "dedup_exact": _op("dedup.exact_dedup", id=_ID, text=_TEXT),
    "line_dedup": _op("text.line_dedup", id="id_col", text="text_col",
                      max_copies=("max_copies", int), min_chars=("min_chars", int)),
    "snapshot_diff": _op("dedup.snapshot_diff", {"old": "old", "new": "new"},
                         id=_ID, text=_TEXT),
    "substr_dedup": _op("substr.substr_dedup", id="id_col", text="text_col",
                        min_tokens=("min_tokens", int), score="score_col",
                        detect="detect"),
    "substr_spans": _op("substr.substr_duplicate_spans", id="id_col", text="text_col",
                        min_tokens=("min_tokens", int), detect="detect"),
    "substr_decontaminate": _op("substr.substr_decontaminate",
                                {"corpus": "corpus", "benchmark": "benchmark"},
                                id="id_col", text="text_col", bench_id="bench_id",
                                bench_text="bench_text",
                                min_tokens=("min_tokens", int)),
    "substr_contam_report": _op("substr.substr_contamination_report",
                                {"benchmark": "probe", "corpus": "corpus"},
                                bench_id="probe_id", bench_text="probe_text",
                                id="corpus_id", text="corpus_text",
                                min_tokens=("min_tokens", int)),
    # text quality and filters
    "c4_clean": _op("text.c4_clean", id="id_col", text="text_col",
                    min_words=("min_words_per_line", int),
                    min_sentences=("min_sentences", int),
                    badwords=("badwords", _names)),
    "gopher_quality": _op("text.gopher_quality", id="id_col", text="text_col"),
    "gopher_repetition": _op("pipeline.gopher_repetition", id="id_col", text="text_col"),
    "script_profile": _op("text.script_profile", id="id_col", text="text_col"),
    "readability": _op("text.readability", id="id_col", text="text_col"),
    "encoding_qa": _op("text.encoding_qa", id="id_col", text="text_col"),
    "normalize_unicode": _op("text.normalize_unicode", id="id_col", text="text_col",
                             form="form"),
    "html_extract": _op("text.html_extract", html="html_col"),
    "domain_stats": _op("text.domain_stats", text="text_col", url="url_col",
                        blocklist=("blocklist", _names)),
    "robots_filter": _op(_robots_filter, {"input": "urls", "rules": "rules"},
                         url="url_col", rules_are_text=("rules_are_text", flag),
                         robots="text_col", domain="domain_col", agent="agent"),
    "luhn_scan": _op("pipeline.luhn_scan", id=_ID, text=_TEXT),
    "classify_lang": _op("langid.classify_lang", text="text_col", out="out_col",
                         distance=("keep_distance", flag)),
    "corpus_report": _op("text.corpus_report", id="id_col", text="text_col",
                         strata="strata_col", lang="lang_col"),
    "source_diversity": _op("text.source_diversity", group="group_col",
                            text="text_col", n=("n", int)),
    "token_fertility": _op("bpe.token_fertility", group=("group_col", str, _REQ),
                           text="text_col"),
    # mixtures, sampling and sharding
    "dsir": _op("pipeline.dsir_weights", {"raw": "corpus", "target": "target"},
                id=_ID, text=_TEXT),
    "mixture_build": _op(_mixture_build, source=_SOURCE, id=_ID, text=_TEXT,
                         weights=("weights", _weights, _REQ), budget=_BUDGET,
                         tokenizer=("tokenizer", _tokenizer)),
    "curation_audit": _op("pipeline.curation_audit",
                          {"corpus": "df", "benchmark": "benchmark"},
                          id=_ID, text=_TEXT, source=_SOURCE,
                          weights=("weights", _weights, _REQ), budget=_BUDGET,
                          min_words=("min_words", int),
                          max_word_len=("max_word_len", float)),
    "group_split": _op("pipeline.group_split", group=("group_expr", _expr, _REQ),
                       id=_ID),
    "pack_bins": _op("pipeline.pack_bins", {"input": "chunks"}, ids=("id_cols", _names),
                     tokens="tokens_col", capacity=("capacity", int),
                     shards=("n_shards", int)),
    "chunk_tokens": _op("pipeline.chunk_tokens", id=_ID, text=_TEXT,
                        max_tokens=("max_tokens", int), stride=("stride", int)),
    "fixed_k_sample": _op("pipeline.fixed_k_sample", strata=("strata_col", str, "lang"),
                          id=_ID, k=("k", int, "10")),
    "temperature_sample": _op("pipeline.temperature_sample",
                              strata=("strata_col", str, "lang"), id=_ID,
                              alpha=("alpha", float), budget=("budget_frac", float)),
    "weighted_sample": _op("pipeline.weighted_sample", id=_ID,
                           weight=("weight_col", str, "n_chars"), k=("k", int, "100")),
    "stratified_weighted_sample": _op("pipeline.stratified_weighted_sample", id=_ID,
                                      weight=("weight_col", str, _REQ),
                                      k=("k", int, "10"),
                                      strata=("strata_col", str, _REQ)),
    "training_shards": _op("pipeline.training_shards", id=_ID, shards=("n_shards", int)),
    "epoch_shuffle": _op("pipeline.epoch_shuffle", id=_ID, epoch=("epoch", int),
                         shards=("n_shards", int)),
    # chat data
    "chat_validate": _op("chat.validate_conversations", id="id_col", turns="conv_col"),
    "chat_render": _op("chat.render_chat", id="id_col", turns="conv_col"),
    "preference_pairs": _op("chat.preference_pairs", prompt="prompt_col",
                            response="response_col", score="score_col"),
    # events and time series
    "gap_fill": _op("temporal.gap_fill_locf", ts=_TS, key=_KEY,
                    val=("val_col", str, "value"), unit="unit"),
    "sessionize": _op("temporal.sessionize", ts=_TS, key=_KEY,
                      gap_seconds=("gap_seconds", float), order="order_col"),
    "funnel": _op("temporal.funnel", ts=_TS, key=_KEY,
                  type=("type_col", str, "event_type"), steps=("steps", _commas, _REQ),
                  within_seconds=("within_seconds", float)),
    "retention": _op("temporal.retention", ts=_TS, key=_KEY, unit="unit"),
    "pagerank": _op("graph.pagerank", {"input": "edges"}, src="src", dst="dst",
                    damping=("damping", float), iterations=("iterations", int)),
    # sketches and skew
    "heavy_hitters": _op("sketch.heavy_hitters", col=("col", str, "value"),
                         k=("k", int)),
    "kmv_distinct": _op("sketch.kmv_distinct", seg=("seg_col", str, _REQ),
                        item=("item_col", str, _REQ), k=("k", int)),
    "kmv_overlap": _op("sketch.kmv_overlap", seg=("seg_col", str, _REQ),
                       item=("item_col", str, _REQ), a=("seg_a", str, _REQ),
                       b=("seg_b", str, _REQ), k=("k", int)),
    "rolling_distinct": _op("sketch.kmv_rolling_distinct", ts=("time_col", str, "ts"),
                            item=("item_col", str, _REQ), k=("k", int),
                            days=("n_days", int)),
    "rolling_quantiles": _op("sketch.rolling_quantiles", ts=("time_col", str, "ts"),
                             val=("val_col", str, _REQ), lo=("lo", float, "0"),
                             hi=("hi", float, _REQ), bins=("n_bins", int),
                             days=("n_days", int)),
    "cms_estimate": _op(_cms_estimate, {"input": "df", "probes": "probes"},
                        col=("col", str, _REQ), width=("width", int),
                        depth=("depth", int)),
    "skew_profile": _op("scale.skew_profile", key=("key_col", str, _REQ),
                        top=("top", int)),
    "mad_outliers": _op("scale.mad_outliers", key=_KEY, val=("val_col", str, "value"),
                        k=("k", float)),
    "topk_per_key": _op("scale.salted_topk", keys=("key_cols", _commas, _REQ),
                        order=("order_col", str, _REQ), k=("k", int, "10"),
                        ascending=("ascending", flag), salt=("salt", int)),
    # model-quality metrics
    "quality_auc": _op("mlmetrics.binary_auc", label=("label_col", str, _REQ),
                       score=("score_col", str, _REQ),
                       decimals=("score_decimals", int)),
    "calibration_bins": _op("mlmetrics.calibration_bins",
                            label=("label_col", str, _REQ),
                            score=("score_col", str, _REQ), bins=("n_bins", int),
                            decimals=("score_decimals", int)),
    "brier_score": _op("mlmetrics.brier_score", label=("label_col", str, _REQ),
                       score=("score_col", str, _REQ),
                       decimals=("score_decimals", int)),
}


def _pipeline_table(session, op: str, opts: dict[str, str]) -> DataFrame:
    """Bind ``opts`` against the ``PIPELINE`` row for ``op`` and run it.
    Unknown functions, unknown options and values their converter
    rejects raise ValueError; tables name a registered view, a
    `ws.path` or a plain path."""
    name = op.strip("`").lower()
    row = PIPELINE.get(name)
    if row is None:
        raise ValueError(f"unknown pipeline table function `{name}`; "
                         f"available: {', '.join(sorted(PIPELINE))}")
    unknown = sorted(set(opts) - set(row.tables) - set(row.options))
    if unknown:
        raise ValueError(
            f"pipeline.{name}: unknown option(s) {', '.join(unknown)}; "
            f"accepted: {', '.join(sorted([*row.tables, *row.options]))}")

    def given(key, default=_REQ):
        v = opts.get(key, default)
        if v is _REQ or (default is _REQ and not v):
            raise ValueError(f"pipeline.{name}: missing option `{key}`")
        return v

    kwargs = {}
    for key, (param, conv, default) in row.options.items():
        v = given(key, default)
        if v is None:
            continue
        try:
            kwargs[param] = conv(v)
        except ValueError as e:
            raise ValueError(
                f"pipeline.{name}: bad value for option `{key}` => {v!r}: {e}") from e
    for key, param in row.tables.items():
        kwargs[param] = _resolve_input(session, given(key))
    if callable(row.fn):
        return row.fn(session, **kwargs)
    module, _, fn = row.fn.rpartition(".")
    return getattr(import_module(f"drill_spark.ops.{module}"), fn)(**kwargs)


def _read_path(session, ws_name: str, rel_path: str, options: dict[str, str] | None = None) -> DataFrame:
    from drill_spark.readers.external import PLUGINS, read_plugin

    ws = session.workspaces.get(ws_name.rstrip("."))
    if ws is not None and ws.kind in PLUGINS:
        return read_plugin(session.spark, ws.kind, ws.path, rel_path, ws.options, options)
    root = ws.path if ws else "/"
    default_fmt = ws.default_format if ws else "parquet"
    path = rel_path if os.path.isabs(rel_path) else os.path.join(root, rel_path)
    if path.endswith(".view.drill") or os.path.exists(path + ".view.drill"):
        # persisted view file (ViewHandler.java / dotdrill/): stored SQL
        # re-planned against the current session
        import json as _json

        vp = path if path.endswith(".view.drill") else path + ".view.drill"
        with open(vp) as f:
            view = _json.load(f)
        return session.spark.sql(rewrite(session, view["sql"]))
    fmt = (options or {}).get("type") or formats.infer_format(path, default_fmt)
    opts = dict(options or {})
    sf = os.path.join(path, SCHEMA_FILE)
    if "schema" not in opts and os.path.isdir(path) and os.path.exists(sf):
        # provided schema persisted by CREATE SCHEMA ... FOR TABLE
        # (SchemaHandler.java .drill.schema analog): skip inference
        import json as _json

        with open(sf) as f:
            opts["schema"] = _json.load(f)["ddl"]
    return files.read_auto(session.spark, path, fmt, opts, session)


_TF_OPT = re.compile(
    r"`?(\w+)`?\s*=>\s*(?:'((?:[^']|'')*)'|\"((?:[^\"]|\"\")*)\"|([^,)\s]+))")


def _parse_tf_options(raw: str) -> dict[str, str]:
    """k => 'v' pairs; quoted values may contain commas (e.g. a provided
    schema DDL string) and their own quote doubled (SQL escaping:
    'it''s' is it's, "a""b" is a"b). Text that is not such a pair
    (``type = 'text'``) raises instead of being dropped."""
    rest = _TF_OPT.sub("", raw)
    if rest.replace(",", "").strip():
        raise ValueError(
            "table function options must be `name => value` pairs; "
            f"not understood: {rest.strip(', ')!r} in ({raw})")
    opts: dict[str, str] = {}
    for m in _TF_OPT.finditer(raw):
        single, double, bare = m.group(2, 3, 4)
        if single is not None:
            opts[m.group(1)] = single.replace("''", "'")
        elif double is not None:
            opts[m.group(1)] = double.replace('""', '"')
        else:
            opts[m.group(1)] = bare
    return opts


def _sub_outside_literals(pattern: re.Pattern, repl: str, query: str) -> str:
    """Apply pattern.sub only to the parts of the query that are not
    string literals or line comments."""
    parts: list[str] = []
    last = 0
    for m in _LITERAL_OR_COMMENT.finditer(query):
        parts.append(pattern.sub(repl, query[last : m.start()]))
        parts.append(m.group(0))
        last = m.end()
    parts.append(pattern.sub(repl, query[last:]))
    return "".join(parts)


def rewrite(session, query: str) -> str:
    """Rewrite Drill-isms into plain Spark SQL (registering temp views)."""

    # alias resolution first (CreateAliasHandler: aliases resolve before
    # table lookup) — standalone identifiers only, not `x.alias` parts,
    # and never inside string literals or comments
    for alias, target in getattr(session, "aliases", {}).items():
        pat = re.compile(rf"(?<![\w.`']){re.escape(alias)}(?![\w`])")
        query = _sub_outside_literals(pat, target, query)

    # convert_from/convert_to with literal encodings + sqltypeof ->
    # typed expressions (codec/type resolved at rewrite time like
    # Drill's planner)
    if re.search(
        r"convert_(?:from|to)\w*\s*\(|sqltypeof\s*\(|drilltypeof\s*\(|modeof\s*\("
        r"|aes_(?:en|de)crypt\s*\(|nearest_?date\s*\("
        r"|hll(?:_decode|_merge)?\s*\(|regr(?:slope|intercept)\s*\("
        r"|hash(?:32|64)(?:asdouble)?\s*\(|parse_user_agent\s*\("
        r"|canonicalize_url\s*\(",
        query,
        re.IGNORECASE,
    ):
        from drill_spark.functions import rewrite_convert_calls

        query = rewrite_convert_calls(query)

    def tf_sub(m: re.Match) -> str:
        ws, path, raw_opts = m.group(1), m.group(2), m.group(3)
        opts = _parse_tf_options(raw_opts)
        if ws.rstrip(".") == "pipeline":
            df = _pipeline_table(session, path, opts)
        else:
            df = _read_path(session, ws.rstrip("."), path, opts)
        view = session._fresh_view("tf")
        df.createOrReplaceTempView(view)
        return view

    query = _TABLE_FN.sub(tf_sub, query)

    def path_sub(m: re.Match) -> str:
        ws, path = m.group(1).rstrip("."), m.group(2)
        if ws not in session.workspaces and not os.path.exists(path):
            return m.group(0)  # not a known workspace — leave untouched
        df = _read_path(session, ws, path)
        view = session._fresh_view("path")
        df.createOrReplaceTempView(view)
        return view

    return _PATH_TABLE.sub(path_sub, query)


def _ok(spark, summary: str) -> DataFrame:
    return local_frame(spark, [Row(ok=True, summary=summary)])


_DRILL_TO_SPARK_TYPE = {
    "INT": "int", "INTEGER": "int", "BIGINT": "bigint", "SMALLINT": "smallint",
    "TINYINT": "tinyint", "VARCHAR": "string", "CHAR": "string",
    "CHARACTER": "string", "DOUBLE": "double", "FLOAT": "float",
    "BOOLEAN": "boolean", "DATE": "date", "TIME": "string",
    "TIMESTAMP": "timestamp", "VARBINARY": "binary", "BINARY": "binary",
    "INTERVAL": "string",
}


def _drill_cols_to_spark_ddl(cols: str) -> str:
    """Drill column-list DDL (SchemaHandler.java) -> Spark schema DDL.
    Splits on top-level commas (DECIMAL(p,s) nests one) and maps the
    Drill type names; NOT NULL / format clauses are dropped — Spark's
    reader treats the schema as all-nullable."""
    out = []
    depth, cur, parts = 0, "", []
    for ch in cols:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append(cur)
            cur = ""
        else:
            cur += ch
    if cur.strip():
        parts.append(cur)
    for part in parts:
        toks = part.strip().split()
        if len(toks) < 2:
            raise ValueError(f"bad schema column: {part!r}")
        name = toks[0].strip("`")
        typ = toks[1].upper()
        if typ.startswith("DECIMAL") or typ.startswith("NUMERIC"):
            spark_t = typ.lower().replace("numeric", "decimal")
        else:
            base = typ.split("(", 1)[0]
            spark_t = _DRILL_TO_SPARK_TYPE.get(base)
            if spark_t is None:
                raise ValueError(f"unsupported schema type {typ!r}")
        out.append(f"`{name}` {spark_t}")
    return ", ".join(out)


def _writable_path(session, ws_name: str, rel_path: str) -> tuple[str, str]:
    """Resolve a CTAS/INSERT/DROP target inside a writable workspace."""
    ws = session.workspaces.get(ws_name)
    if ws is None:
        raise ValueError(f"unknown workspace: {ws_name}")
    if not ws.writable:
        raise ValueError(f"workspace {ws_name} is not writable (CreateTableHandler analog)")
    path = os.path.join(ws.path, rel_path)
    # `store.format` session option overrides the workspace default
    # (ExecConstants OUTPUT_FORMAT_OPTION — Drill's CTAS output format)
    default_fmt = session.get_option("store.format", ws.default_format)
    fmt = formats.infer_format(path, default_fmt)
    return path, fmt


def _has_data(path: str) -> bool:
    """True when ``path`` is a file or a directory holding an entry
    that is not hidden (``_SUCCESS``, ``.crc``): a table to append to."""
    if os.path.isdir(path):
        return any(not n.startswith(("_", ".")) for n in os.listdir(path))
    return os.path.isfile(path)


def _cast_to_table(spark, df: DataFrame, target, table: str) -> DataFrame:
    """``df`` stored by position in the ``target`` schema as Spark's own
    INSERT INTO a table stores it: ANSI store assignment. Raises
    ValueError, before anything is written, when the column counts
    differ or the rules forbid a cast (``Cast.canANSIStoreAssign``, e.g.
    string or boolean to a number). A value the cast cannot hold (an
    overflow, such as 4294967297 into int, or NaN into int) fails the
    write's job with USER_RAISED_EXCEPTION, so no file is committed;
    the session's non-ANSI cast would wrap or null it instead."""
    from pyspark.sql import functions as F

    from drill_spark.ops import quote_ident

    if len(df.columns) != len(target.fields):
        raise ValueError(f"INSERT INTO {table}: the table has {len(target.fields)} "
                         f"columns, the query {len(df.columns)}")
    allowed = spark._jvm.org.apache.spark.sql.catalyst.expressions.Cast.canANSIStoreAssign
    parse = spark._jsparkSession.parseDataType
    cols = []
    for src, dst in zip(df.schema.fields, target.fields):
        what = (f"{src.dataType.simpleString()} column {quote_ident(src.name)} in "
                f"{dst.dataType.simpleString()} column {quote_ident(dst.name)}")
        if not allowed(parse(src.dataType.json()), parse(dst.dataType.json())):
            raise ValueError(f"INSERT INTO {table}: cannot store {what}")
        col = F.col(quote_ident(dst.name))
        if src.dataType != dst.dataType:
            stored = col.try_cast(dst.dataType)  # null where the value overflows
            col = F.when(col.isNotNull() & stored.isNull(), F.raise_error(
                f"INSERT INTO {table}: a value overflows storing {what}")).otherwise(stored)
        cols.append(col.alias(dst.name))
    return df.toDF(*target.fieldNames()).select(cols)


# -- Drill-side statements ---------------------------------------------------
#
# Drill's DrillSqlWorker hands each parsed statement kind to one
# SqlHandler. Here a ``STATEMENTS`` row does: the row whose pattern
# matches the statement runs its handler, and any other statement is a
# plain query for Spark (``_plain_query``). No statement matches two
# rows (tests/test_statements.py), so the row order does not matter.


class Target(NamedTuple):
    """A statement's ``ws.`rel``` table and the file path it names."""

    ws: str
    rel: str
    path: str
    fmt: str  # the format a write stores; "" for a table it only reads

    def __str__(self) -> str:
        return f"{self.ws}.`{self.rel}`"


@dataclass(frozen=True)
class Statement:
    """One statement kind. ``handler(session, **groups)`` receives the
    pattern's named groups; a ``{table}`` target arrives as ``table``, a
    ``Target`` inside a writable workspace when ``writable``. ``op``
    names the ``formats.Format`` function of the target's table format,
    which the handler receives as ``fn``. A ``refresh`` row changes its
    table in place, so Spark's cached reads of it are refreshed after
    the handler. A handler returns a DataFrame, a summary string, a dict
    of result columns that follow ``ok``, or None to run the statement
    as Spark's own."""

    kind: str
    pattern: re.Pattern
    handler: Callable[..., DataFrame | str | dict | None]
    writable: bool = False
    op: str = ""
    refresh: bool = False


def _stmt(kind: str, text: str, handler, **flags) -> Statement:
    """A row. ``text`` is the statement's own pattern: each space stands
    for any whitespace, ``{table}`` for the path-table token; the row
    adds the anchor and the optional ``;``."""
    text = text.replace(" ", r"\s+").replace("{table}", _TABLE)
    return Statement(kind, re.compile(rf"^\s*{text}\s*;?\s*$", re.IGNORECASE | re.DOTALL),
                     handler, **flags)


# what a table format without the ``op`` function raises
_NO_TABLE_FN = {
    "merge": (NotImplementedError, "MERGE needs a delta or iceberg table"),
    "update": (NotImplementedError, "UPDATE needs a delta, iceberg or paimon-PK table "
                                    "(plain parquet: rewrite via CTAS)"),
    "delete": (NotImplementedError, "DELETE needs a delta, iceberg or paimon-PK table "
                                    "(plain parquet files are immutable — rewrite via "
                                    "CTAS instead)"),
    "history": (ValueError, "DESCRIBE HISTORY needs a delta or iceberg table: {path}"),
}


def _table_fn(path: str, op: str):
    """The ``op`` function (a ``formats.Format`` field) of the table
    format at ``path``."""
    ref = getattr(formats.row(formats.infer_format(path, "")), op)
    if not ref:
        exc, msg = _NO_TABLE_FN[op]
        raise exc(msg.format(path=path))
    return formats.load(ref)


def _scratch_dir(session, kind: str, name: str) -> str:
    """Where a session-built artifact lives: under the dfs.tmp workspace."""
    tmp_ws = session.workspaces.get("dfs.tmp")
    return os.path.join(tmp_ws.path if tmp_ws else "/tmp", kind, name)


def _remove(path: str) -> None:
    shutil.rmtree(path) if os.path.isdir(path) else os.remove(path)


def _use(session, name):
    if name not in session.workspaces:
        return None  # a Spark database
    session.options["drill.default_workspace"] = name
    return f"Default schema changed to [{name}]"


def _show_schemas(session):
    from drill_spark.catalog import information_schema_schemata

    return information_schema_schemata(session)


def _describe_schema(session, name):
    ws = session.workspaces.get(name)
    if ws is None:
        raise ValueError(f"unknown schema: {name}")
    return local_frame(
        session.spark, [(ws.name, ws.path, ws.default_format, ws.writable, ws.kind)],
        "schema_name string, location string, default_format string, writable boolean, "
        "type string")


def _ctas(session, table, replace, temporary, partition, select):
    df = session.spark.sql(rewrite(session, select))
    cols = [c.strip().strip("`") for c in (partition or "").split(",") if c.strip()]
    row = formats.row(table.fmt)
    if row.write:
        # formats written by our native writers, not a JVM datasource
        if cols and not row.partitions:
            raise NotImplementedError(f"PARTITION BY is not supported for {row.name} CTAS")
        if os.path.exists(table.path):
            if not replace:
                raise ValueError(f"table already exists: {table.path}")
            _remove(table.path)
        formats.load(row.write)(df, table.path, **({"partition_by": cols} if cols else {}))
    else:
        writer = df.write.format(row.spark or row.name).options(**row.spark_options).mode(
            "overwrite" if replace else "errorifexists")
        if cols:
            # CTAS PARTITION BY -> Hive-layout directories; filters on
            # partition columns prune at listing time on readback
            # (Drill's dir-pruning, natively)
            writer = writer.partitionBy(*cols)
        writer.save(table.path)
    if temporary:
        # session-scoped table, dropped by DrillSession.close()
        session.temp_tables.append(table.path)
    suffix = f" partitioned by ({partition})" if partition else ""
    return f"created table {table} ({table.fmt}){suffix}"


def _insert(session, table, select):
    spark = session.spark
    df = spark.sql(rewrite(session, select))
    row = formats.row(table.fmt)
    if row.insert:
        formats.load(row.insert)(df, table.path)
    else:
        if row.typed_files and _has_data(table.path):
            target = spark.read.format(row.spark or row.name).load(table.path).schema
            df = _cast_to_table(spark, df, target, str(table))
        df.write.format(row.spark or row.name).options(
            **row.spark_options).mode("append").save(table.path)
    return f"appended to {table}"


def _optimize(session, table, zorder):
    from drill_spark.readers.delta import optimize

    cols = [c.strip().strip("`") for c in zorder.split(",")] if zorder else None
    return optimize(session.spark, table.path, zorder_by=cols)


def _vacuum(session, table, hours, dry_run):
    from drill_spark.readers.delta import vacuum

    gone = vacuum(session.spark, table.path,
                  retention_hours=float(hours) if hours else 168, dry_run=bool(dry_run))
    return {"n_removed": len(gone), "dry_run": bool(dry_run)}


def _restore(session, table, version, timestamp):
    from drill_spark.readers.delta import restore_table

    return restore_table(session.spark, table.path,
                         version=int(version) if version else None, timestamp=timestamp)


def _merge(session, table, fn, target_alias, source, source_alias, on, assign, delete,
           insert_cols, insert_vals):
    aliases = {source_alias.lower(): "src", (target_alias or "t").lower(): "t"}
    on, assign, insert_vals = (_realias(e, aliases) for e in (on, assign, insert_vals))
    subquery = source.startswith("(") and source.endswith(")")
    source_sql = source[1:-1] if subquery else f"select * from {source}"
    insert_map = None
    if insert_cols is not None:
        cols = [c.strip().strip("`") for c in insert_cols.split(",")]
        vals = [v.strip() for v in _split_top_level(insert_vals)]
        if len(cols) != len(vals):
            raise ValueError("INSERT column/value count mismatch")
        insert_map = dict(zip(cols, vals))
    return fn(session.spark, table.path, session.spark.sql(rewrite(session, source_sql)),
              on.strip(),
              when_matched_update=_split_set_clause(assign) if assign else None,
              when_matched_delete=bool(delete), when_not_matched_insert=insert_map)


def _update(session, table, fn, tail):
    assign, cond = _split_where(tail)
    n = fn(session.spark, table.path, cond, _split_set_clause(assign))
    return {"summary": f"updated {n} rows in {table}", "rows_updated": n}


def _delete(session, table, fn, cond):
    n = fn(session.spark, table.path, cond)
    return {"summary": f"deleted {n} rows from {table}", "rows_deleted": n}


def _drop_table(session, table, if_exists):
    if not os.path.exists(table.path):
        if if_exists:
            return f"table {table.rel} did not exist"
        raise ValueError(f"table not found: {table}")
    _remove(table.path)
    return f"dropped table {table}"


def _create_alias(session, alias, target):
    session.aliases[alias] = target
    return f"alias {alias} -> {target}"


def _drop_alias(session, if_exists, alias):
    if alias not in session.aliases and not if_exists:
        raise ValueError(f"alias not found: {alias}")
    session.aliases.pop(alias, None)
    return f"alias {alias} dropped"


def _refresh_metadata(session, name, table=None):
    path = table.path if table else name
    if not os.path.exists(path):
        session.spark.catalog.refreshTable(path)
        return f"metadata refreshed for table {path}"
    summary = f"metadata refreshed for {path}"
    if os.path.isdir(path) and formats.infer_format(path, "") == "parquet":
        # plain parquet dir: write the .drill.parquet_metadata cache
        # (MetadataHandler.java; reads consult it to skip listing)
        cache = files.write_parquet_metadata_cache(path)
        summary = (f"metadata cache updated for {path}: {len(cache['files'])} files, "
                   f"{cache['total_rows']} rows")
    session.spark.catalog.refreshByPath(path)
    return summary


# CREATE VECTOR INDEX ... WITH (<option> => <value>, ...): option ->
# (build_vector_index parameter, converter, default)
_VECTOR_INDEX_OPTIONS = {"id": ("id_col", str, "vec_id"), "cells": ("n_cells", int, 8),
                         "m": ("m", int, 8), "codes": ("n_codes", int, 16)}


def _create_vector_index(session, replace, name, source, col, options):
    from drill_spark.ops.vecindex import build_vector_index

    if name in session.vector_indexes and not replace:
        raise ValueError(
            f"vector index already exists: {name} (use CREATE OR REPLACE VECTOR INDEX)")
    given = [p for p in _split_top_level(options or "") if p.strip()]
    try:
        opts = _parse_tf_options(options or "")
    except ValueError:  # a malformed pair: the error below lists the options
        opts = {}
    unknown = sorted(set(opts) - set(_VECTOR_INDEX_OPTIONS))
    if unknown or len(opts) != len(given):
        raise ValueError(f"CREATE VECTOR INDEX: bad option(s) in ({options}); accepted, "
                         f"as name => value: {', '.join(sorted(_VECTOR_INDEX_OPTIONS))}")
    kwargs = {param: conv(opts.get(key, default))
              for key, (param, conv, default) in _VECTOR_INDEX_OPTIONS.items()}
    df = _resolve_input(session, source.strip().strip("`"))
    path = _scratch_dir(session, "_vector_indexes", name)
    shutil.rmtree(path, ignore_errors=True)
    meta = build_vector_index(df, path, vec_col=col, **kwargs)
    session.vector_indexes[name] = path
    return (f"vector index {name} at {path} ({meta['rows']} vectors, "
            f"{meta['n_cells']} cells)")


def _drop_vector_index(session, if_exists, name):
    path = session.vector_indexes.pop(name, None)
    if path is None:
        if if_exists:
            return f"vector index {name} did not exist"
        raise ValueError(f"vector index not found: {name}")
    shutil.rmtree(path, ignore_errors=True)
    return f"vector index {name} dropped"


def _create_materialized_view(session, replace, if_not_exists, name, select):
    spark = session.spark
    if name in session.materialized:
        # reference syntax (docs/dev/MaterializedViews.md): plain
        # CREATE errors on an existing MV, IF NOT EXISTS no-ops,
        # OR REPLACE rebuilds
        if if_not_exists:
            return f"materialized view {name} already exists"
        if not replace:
            raise ValueError(f"materialized view already exists: {name} "
                             "(use CREATE OR REPLACE MATERIALIZED VIEW)")
    path = _scratch_dir(session, "_materialized", name)
    df = spark.sql(rewrite(session, select))
    df.write.mode("overwrite").parquet(path)
    spark.read.parquet(path).createOrReplaceTempView(name)
    session.materialized[name] = path
    # memoize the definition for automatic rewrite (DefaultSqlHandler
    # .java:209 / docs/dev/MaterializedViews.md): normalized text for
    # the fast path, canonicalized analyzed plan for semantic match
    session.mv_defs[name] = (_normalize_sql(select), _canonical_plan(df))
    recipe = _parse_incr_mv(select) or {"select": select}
    if "merge" in recipe:
        recipe["files"] = sorted(set(df.inputFiles()))
        # rollup-candidate ranking: when several MVs can answer a
        # query, prefer the smallest materialization
        recipe["rows"] = spark.read.parquet(path).count()
    session.mv_incr[name] = recipe
    return f"materialized view {name} at {path}"


def _refresh_materialized_view(session, name, full):
    path = session.materialized.get(name)
    if path is None:
        raise ValueError(f"materialized view not found: {name}")
    return _refresh_matview(session, name, path, bool(full))


def _drop_materialized_view(session, if_exists, name):
    path = session.materialized.pop(name, None)
    session.mv_defs.pop(name, None)
    session.mv_incr.pop(name, None)
    if path is None:
        if if_exists:
            return f"materialized view {name} did not exist"
        raise ValueError(f"materialized view not found: {name}")
    session.spark.catalog.dropTempView(name)
    shutil.rmtree(path, ignore_errors=True)
    return f"materialized view {name} dropped"


_HIST_BUCKETS = 10


def _analyze(session, table, sample):
    """Write the table's statistics file. One distributed agg computes
    every column's stats (rowcount, ndv, non-null count, and equi-depth
    histogram boundaries for numeric/date columns via approx
    percentiles — DrillStatsTable holds the same shape: its t-digest
    serializes to equi-depth bucket boundaries, HistogramUtils.java)."""
    import json

    from pyspark.sql import functions as F

    df = _read_path(session, table.ws.split(".")[0], table.path)
    if sample:
        df = df.sample(fraction=int(sample) / 100.0, seed=42)
    grid = [i / _HIST_BUCKETS for i in range(_HIST_BUCKETS + 1)]
    numeric = {
        f.name for f in df.schema.fields
        if f.dataType.simpleString() in (
            "tinyint", "smallint", "int", "bigint", "float", "double",
            "date", "timestamp", "timestamp_ntz")
        or f.dataType.simpleString().startswith("decimal")
    }
    aggs = [F.count(F.lit(1)).alias("__rowcount")]
    for c in df.columns:
        aggs.append(F.approx_count_distinct(c).alias(f"__ndv_{c}"))
        aggs.append(F.count(c).alias(f"__nn_{c}"))
        if c in numeric:
            aggs.append(F.percentile_approx(F.col(c).cast("double"), grid).alias(f"__hist_{c}"))
    row = df.agg(*aggs).head().asDict()

    def _col_stats(c):
        out = {
            "column": c,
            "ndv": row[f"__ndv_{c}"],
            "nonnullcount": row[f"__nn_{c}"],
            "nullcount": row["__rowcount"] - row[f"__nn_{c}"],
        }
        bounds = row.get(f"__hist_{c}")
        if bounds is not None:
            out["histogram"] = {
                "category": "numeric-histogram",
                "numRowsPerBucket": row[f"__nn_{c}"] // _HIST_BUCKETS,
                "buckets": bounds,
            }
        return out

    stats = {
        "statistics_version": "v1",
        "computed": True,
        "rowcount": row["__rowcount"],
        "sample_percent": int(sample) if sample else 100,
        "columns": [_col_stats(c) for c in df.columns],
    }
    path = table.path
    with open(os.path.join(path, STATS_FILE) if os.path.isdir(path) else path + STATS_FILE,
              "w") as f:
        json.dump(stats, f)
    return local_frame(
        session.spark, [(True, f"analyzed {table.rel}", stats["rowcount"], len(df.columns))],
        "ok boolean, summary string, rows bigint, columns int")


def _create_schema(session, replace, cols, table):
    import json

    sf = os.path.join(table.path, SCHEMA_FILE)
    if os.path.exists(sf) and not replace:
        raise ValueError(f"schema already exists for table {table.rel}")
    os.makedirs(table.path, exist_ok=True)
    with open(sf, "w") as f:
        json.dump({"ddl": _drill_cols_to_spark_ddl(cols)}, f)
    return f"created schema for table {table}"


def _drop_schema(session, if_exists, table):
    sf = os.path.join(table.path, SCHEMA_FILE)
    if not os.path.exists(sf):
        if if_exists:
            return "schema did not exist"
        raise ValueError(f"no schema for table {table.rel}")
    os.remove(sf)
    return f"dropped schema for table {table}"


def _function_jar(session):
    # CreateFunctionHandler.java registers jar-packaged
    # DrillSimpleFuncs; the Spark-first equivalents are SQL UDFs
    # (CREATE TEMPORARY FUNCTION f(...) RETURN <expr> — JVM-inlined)
    # and spark.udf.register — a Drill UDF jar has no Spark entry
    # points, so loading one cannot work by construction
    raise NotImplementedError(
        "CREATE FUNCTION USING JAR loads Drill-interface UDFs, which "
        "have no Spark entry points. Use CREATE TEMPORARY FUNCTION "
        "name(args) RETURN <expr> (inlined into codegen) or "
        "spark.udf.register for Python/pandas UDFs."
    )


def _create_view(session, replace, prefix, name, select):
    df = session.spark.sql(rewrite(session, select))
    if replace:
        df.createOrReplaceTempView(name)
    else:
        df.createTempView(name)
    # workspace-qualified views persist as <name>.view.drill JSON in
    # the workspace root (dotdrill/ — Drill views are files, visible to
    # SHOW FILES and future sessions)
    ws = session.workspaces.get(prefix.rstrip(".")) if prefix else None
    if ws is not None and ws.kind == "file" and ws.writable:
        import json

        with open(os.path.join(ws.path, f"{name}.view.drill"), "w") as f:
            json.dump({"name": name, "sql": select.strip()}, f)
        return f"view {name} persisted in {ws.name}"
    return f"view {name} created"


def _drop_view(session, if_exists, prefix, name):
    dropped = session.spark.catalog.dropTempView(name)
    ws = session.workspaces.get(prefix.rstrip(".")) if prefix else None
    p = os.path.join(ws.path, f"{name}.view.drill") if ws else None
    if p and os.path.exists(p):
        os.remove(p)
        dropped = True
    if not dropped and not if_exists:
        raise ValueError(f"view not found: {name}")
    return f"view {name} dropped"


def _alter_set(session, name, value):
    session.set_option(name, value)
    return f"{name} updated"


def _reset(session, name):
    session.reset_option(name)
    return f"{name} reset"


def _show_tables(session, name):
    """A file workspace's tables: its files and directories, minus
    dot/underscore metadata entries."""
    ws = session.workspaces.get(name)
    if ws is None:
        return None  # a Spark database
    names = sorted(os.listdir(ws.path)) if os.path.isdir(ws.path) else []
    return local_frame(session.spark, [(name, n) for n in names if not n.startswith((".", "_"))],
                       "TABLE_SCHEMA string, TABLE_NAME string")


def _show_files(session, target):
    import datetime

    target = (target or "dfs").strip("`")
    ws = session.workspaces.get(target)
    if ws is not None and ws.kind != "file":
        raise ValueError(f"SHOW FILES lists file workspaces; {target} is a {ws.kind} workspace")
    if ws is None and not os.path.isdir(target):
        raise ValueError(f"SHOW FILES: {target} is neither a workspace nor a directory")
    root = ws.path if ws else target
    rows = []
    for name in sorted(os.listdir(root)) if os.path.isdir(root) else []:
        p = os.path.join(root, name)
        st = os.stat(p)
        rows.append((name, os.path.isdir(p), os.path.isfile(p), st.st_size,
                     datetime.datetime.fromtimestamp(st.st_mtime),
                     datetime.datetime.fromtimestamp(st.st_atime),
                     oct(st.st_mode & 0o777)[2:]))
    return local_frame(
        session.spark, rows,
        "name string, isDirectory boolean, isFile boolean, length long, "
        "modificationTime timestamp, accessTime timestamp, permissions string")


_IF_EXISTS = "(?P<if_exists>IF EXISTS )?"
_NAME = r"`?(?P<name>\w+)`?"

# Each row names the Drill handler (exec/java-exec/.../planner/sql/
# handlers/) or grammar rule (parserImpls.ftl) it stands for.
STATEMENTS: tuple[Statement, ...] = (
    # UseSchemaHandler (parserImpls.ftl:135); a non-workspace name is a
    # Spark database
    _stmt("use", r"USE `?(?P<name>[\w.]+)`?", _use),
    # ShowSchemasHandler (parserImpls.ftl:42-110)
    _stmt("show_schemas", "SHOW (?:SCHEMAS|DATABASES)", _show_schemas),
    # DescribeSchemaHandler: the workspace's properties as one row
    _stmt("describe_schema", r"DESCRIBE SCHEMA `?(?P<name>[\w.]+)`?", _describe_schema),
    # ShowTablesHandler in a workspace; else Spark's SHOW TABLES
    _stmt("show_tables", r"SHOW TABLES (?:IN|FROM) (?P<name>[\w.]+)", _show_tables),
    # ShowFilesHandler: a file workspace's or a directory's listing
    _stmt("show_files", r"SHOW FILES(?: (?:IN|FROM) (?P<target>[^\s;]+))?", _show_files),
    # SetOptionHandler / ResetOptionHandler; option names may carry
    # hyphens (store.parquet.block-size et al.)
    _stmt("alter_session", r"ALTER (?:SESSION|SYSTEM) SET `?(?P<name>[\w.-]+)`?\s*=\s*"
          r"'?(?P<value>[^'\s;]+)'?", _alter_set),
    _stmt("reset", r"(?:ALTER SESSION )?RESET `?(?P<name>[\w.-]+)`?", _reset),
    # CreateTableHandler (CTAS, TEMPORARY, PARTITION BY) / DropTableHandler
    _stmt("ctas", r"CREATE (?P<replace>OR REPLACE )?(?P<temporary>TEMPORARY )?TABLE {table}"
          r"(?: PARTITION BY\s*\((?P<partition>[^)]*)\))? AS (?P<select>.*)", _ctas,
          writable=True),
    _stmt("drop_table", f"DROP TABLE {_IF_EXISTS}{{table}}", _drop_table, writable=True),
    # INSERT INTO a path table: appends in the table's format and types
    # (no Drill analog — read-mostly engine — like the lakehouse rows
    # below, which run the table format's own function)
    _stmt("insert", r"INSERT INTO {table} (?P<select>.*)", _insert, writable=True,
          refresh=True),
    _stmt("optimize", r"OPTIMIZE {table}(?: ZORDER BY\s*\((?P<zorder>[^)]+)\))?", _optimize,
          writable=True, refresh=True),
    _stmt("vacuum", r"VACUUM {table}(?: RETAIN (?P<hours>\d+) HOURS)?(?P<dry_run> DRY RUN)?",
          _vacuum, writable=True),
    _stmt("restore", r"RESTORE TABLE {table} TO (?:VERSION AS OF (?P<version>\d+)"
          r"|TIMESTAMP AS OF '(?P<timestamp>[^']+)')", _restore, writable=True, refresh=True),
    _stmt("describe_history", "DESCRIBE HISTORY {table}",
          lambda session, table, fn: fn(session.spark, table.path), op="history"),
    # MERGE INTO ws.`path` [[AS] <alias>] USING (<subquery>)|<table> [AS] <alias>
    #   ON cond [WHEN MATCHED THEN UPDATE SET ... | WHEN MATCHED THEN DELETE]
    #   [WHEN NOT MATCHED THEN INSERT (cols) VALUES (exprs)]
    _stmt("merge", r"MERGE INTO {table}(?: (?:AS )?(?P<target_alias>\w+))? USING "
          r"(?P<source>\(.*\)|(?:[^\s`]|`[^`]*`)+) (?:AS )?(?P<source_alias>\w+) ON (?P<on>.+?)"
          r"(?: WHEN MATCHED THEN (?:UPDATE SET (?P<assign>.+?)|(?P<delete>DELETE)))?"
          r"(?: WHEN NOT MATCHED THEN INSERT\s*\((?P<insert_cols>[^)]*)\)\s*"
          r"VALUES\s*\((?P<insert_vals>.+?)\))?", _merge, writable=True, op="merge",
          refresh=True),
    _stmt("update", r"UPDATE {table} SET (?P<tail>.*?)", _update, writable=True, op="update",
          refresh=True),
    _stmt("delete", r"DELETE FROM {table} WHERE (?P<cond>.*?)", _delete, writable=True,
          op="delete", refresh=True),
    # CreateAliasHandler / DropAliasHandler (docs/dev/Aliases.md; PUBLIC
    # = system-wide vs user scope — one session here, so scope is cosmetic)
    _stmt("create_alias", r"CREATE (?:OR REPLACE )?(?:PUBLIC )?ALIAS `?(?P<alias>\w+)`? FOR "
          r"(?:TABLE )?(?P<target>.+?)", _create_alias),
    _stmt("drop_alias", rf"DROP (?:PUBLIC )?ALIAS {_IF_EXISTS}`?(?P<alias>\w+)`?", _drop_alias),
    _stmt("show_aliases", "SHOW ALIASES", lambda session: local_frame(
        session.spark, sorted(session.aliases.items()), "alias string, target string")),
    # REFRESH TABLE METADATA (parserImpls.ftl:556-579, MetadataHandler):
    # rebuild the parquet metadata cache, invalidate Spark's cached reads
    _stmt("refresh_metadata", r"REFRESH TABLE METADATA (?:{table}|`?(?P<name>[\w./-]+)`?)",
          _refresh_metadata),
    # CREATE/DROP VECTOR INDEX (net-new DDL over ops/vecindex.py — the
    # similarity stack's build-once/probe-many surface)
    _stmt("create_vector_index", r"CREATE (?P<replace>OR REPLACE )?VECTOR INDEX " + _NAME +
          r" ON (?P<source>.+?)\s*\(\s*`?(?P<col>\w+)`?\s*\)(?:\s*WITH\s*\((?P<options>.*?)\))?",
          _create_vector_index),
    _stmt("drop_vector_index", f"DROP VECTOR INDEX {_IF_EXISTS}{_NAME}", _drop_vector_index),
    # materialized views (MaterializedViewHandler, docs/dev/MaterializedViews.md)
    _stmt("create_mv", r"CREATE (?P<replace>OR REPLACE )?MATERIALIZED VIEW "
          r"(?P<if_not_exists>IF NOT EXISTS )?" + _NAME + " AS (?P<select>.*)",
          _create_materialized_view),
    _stmt("refresh_mv", f"REFRESH MATERIALIZED VIEW {_NAME}(?P<full> FULL)?",
          _refresh_materialized_view),
    _stmt("drop_mv", f"DROP MATERIALIZED VIEW {_IF_EXISTS}{_NAME}", _drop_materialized_view),
    # AnalyzeTableHandler; the artifact's shape follows
    # planner/common/DrillStatsTable.java: rowcount + per-column ndv /
    # non-null count / histogram buckets
    _stmt("analyze", r"ANALYZE TABLE {table} COMPUTE STATISTICS"
          r"(?: SAMPLE (?P<sample>\d+) PERCENT)?", _analyze, writable=True),
    # SchemaHandler: a provided schema for a (usually schema-less text)
    # table directory, read instead of inferring
    _stmt("create_schema", r"CREATE (?P<replace>OR REPLACE )?SCHEMA\s*\((?P<cols>[^)]*)\)\s*"
          "FOR TABLE {table}", _create_schema, writable=True),
    _stmt("drop_schema", f"DROP SCHEMA {_IF_EXISTS}FOR TABLE {{table}}", _drop_schema,
          writable=True),
    # CreateFunctionHandler / DropFunctionHandler (dynamic UDF jars)
    _stmt("function_jar", "(?:CREATE|DROP) FUNCTION USING JAR '[^']+'", _function_jar),
    # ViewHandler: a Spark temp view; a workspace-qualified one persists
    # as a .view.drill file
    _stmt("create_view", r"CREATE (?P<replace>OR REPLACE )?VIEW (?P<prefix>(?:\w+\.)+)?"
          + _NAME + " AS (?P<select>.*)", _create_view),
    _stmt("drop_view", rf"DROP VIEW {_IF_EXISTS}(?P<prefix>(?:\w+\.)+)?{_NAME}", _drop_view),
)


def execute(session, query: str) -> DataFrame:
    for row in STATEMENTS:
        m = row.pattern.match(query)
        if m:
            return _run(session, row, query, m.groupdict())
    return _plain_query(session, query)


def _run(session, row: Statement, query: str, groups: dict) -> DataFrame:
    """Bind the row's target, run its handler and make its result a
    DataFrame."""
    spark = session.spark
    ws, rel = groups.pop("ws", None), groups.pop("rel", None)
    if ws:
        ws = ws.rstrip(".")
        if row.writable:
            table = Target(ws, rel, *_writable_path(session, ws, rel))
        else:
            root = session.workspaces[ws].path if ws in session.workspaces else "/"
            table = Target(ws, rel, os.path.join(root, rel), "")
        groups["table"] = table
        if row.op:
            groups["fn"] = _table_fn(table.path, row.op)
    out = row.handler(session, **groups)
    if row.refresh:
        spark.catalog.refreshByPath(groups["table"].path)
    if out is None:
        return spark.sql(query)
    if isinstance(out, str):
        return _ok(spark, out)
    if isinstance(out, dict):
        return local_frame(spark, [Row(ok=True, **out)])
    return out


def _plain_query(session, sql: str) -> DataFrame:
    """A statement no STATEMENTS row takes, run by Spark after the
    rewrite; a query a materialized view answers reads the view."""
    spark = session.spark
    em = _EXPLAIN_PLAN.match(sql)
    if em:
        # EXPLAIN PLAN FOR <q> (Drill grammar) -> Spark EXPLAIN <q>.
        # When the inner query is answered by a materialized view
        # (docs/dev/MaterializedViews.md: "Use EXPLAIN to see if a
        # materialized view is being used"), explain the REWRITTEN plan —
        # its FileScan points at the materialization.
        inner = em.group(1)
        if getattr(session, "mv_defs", None):
            try:
                mv = _match_materialized(session, inner, spark.sql(rewrite(session, inner)))
            except Exception:
                mv = None
            if mv is not None:
                return local_frame(
                    spark, [(mv._jdf.queryExecution().toString(),)], "plan string")
        sql = "EXPLAIN " + inner
    # the sys/information_schema names read snapshot views
    renamed = _SYSTEM_TABLE.sub(_system_view, sql)
    if renamed != sql:
        from drill_spark.catalog import register_system_views

        register_system_views(session)
        sql = renamed
    text = rewrite(session, sql)
    if not _PLAIN_QUERY.match(sql):
        # Spark may store this statement's text (a SQL function body, a
        # temp view, CACHE TABLE) and resolve it on every later use
        session._keep_statement_views()
    df = spark.sql(text)
    mv = _match_materialized(session, sql, df)
    return mv if mv is not None else df


def _refresh_matview(session, name: str, path: str, force_full: bool):
    """REFRESH MATERIALIZED VIEW — incremental when possible.

    The incremental path (the IVM move real warehouses ship for
    append-only sources) applies when the definition parsed as a
    single-source GROUP BY with decomposable aggregates
    (COUNT/SUM/MIN/MAX — COUNT merges by SUM), every file seen at the
    last (re)build is still present, and the only change is NEW parquet
    files. Then only the new files are scanned: the delta aggregates
    union with the stored state and re-aggregate with the merge
    functions — cost proportional to the appended data, not the
    source. Any other situation (FULL requested, files rewritten or
    deleted, non-decomposable shape) falls back to a full recompute
    and the status message says which path ran.
    """
    import os

    from pyspark.sql import functions as F

    spark = session.spark
    state = session.mv_incr.get(name, {})
    select = state.get("select")
    if select is None:
        raise ValueError(f"materialized view definition lost: {name}")

    def full():
        df = spark.sql(rewrite(session, select))
        df.write.mode("overwrite").parquet(path)
        spark.catalog.refreshByPath(path)
        spark.read.parquet(path).createOrReplaceTempView(name)
        if "merge" in state:
            state["files"] = sorted(set(df.inputFiles()))
        return df

    if force_full or "merge" not in state:
        full()
        return _ok(spark, f"materialized view {name} refreshed (full)")

    try:
        current = spark.sql(rewrite(session, select))
        new_files = set(current.inputFiles())
        old_files = set(state["files"])
        if not old_files <= new_files:
            full()
            return _ok(
                spark,
                f"materialized view {name} refreshed (full: source files "
                "rewritten or removed)")
        added = sorted(new_files - old_files)
        if not added:
            return _ok(spark, f"materialized view {name} is up to date "
                              "(0 new files)")
        if not all(f.endswith(".parquet") for f in added):
            full()
            return _ok(spark, f"materialized view {name} refreshed (full: "
                              "non-parquet appends)")

        delta_view = f"__mv_delta_{name}"
        spark.read.parquet(*[f.replace("file:", "") for f in added]) \
            .createOrReplaceTempView(delta_view)
        where = f" where {state['where']}" if state.get("where") else ""
        delta_sql = (
            f"select {state['sel']} from {delta_view}{where} "
            f"group by {', '.join(state['groups'])}")
        delta = spark.sql(rewrite(session, delta_sql))
        stored = spark.read.parquet(path)
        merge_aggs = [
            (F.sum(a) if kind == "sum" else getattr(F, kind)(a)).alias(a)
            for a, kind, *_ in state["merge"] if kind != "group"
        ]
        out_cols = [a for a, *_ in state["merge"]]
        merged = (
            stored.select(*out_cols).unionByName(delta.select(*out_cols))
            .groupBy(*state["groups"])
            .agg(*merge_aggs)
            .select(*out_cols)
        )
        # stored types: count() re-merged via sum() widens bigint->bigint,
        # but sum(double) of a bigint column would widen — realign to the
        # stored schema so refresh never drifts the MV's types
        for f_old in stored.schema.fields:
            merged = merged.withColumn(
                f_old.name, F.col(f_old.name).cast(f_old.dataType))
        merged = merged.select(*out_cols).localCheckpoint(eager=True)
        merged.write.mode("overwrite").parquet(path)
        spark.catalog.refreshByPath(path)
        spark.read.parquet(path).createOrReplaceTempView(name)
        spark.catalog.dropTempView(delta_view)
        state["files"] = sorted(new_files)
        return _ok(
            spark,
            f"materialized view {name} refreshed incrementally "
            f"({len(added)} new file(s) scanned, {len(old_files)} skipped)")
    except Exception as exc:  # safety net: never corrupt, never strand
        full()
        return _ok(
            spark,
            f"materialized view {name} refreshed (full: incremental "
            f"path failed: {type(exc).__name__})")


def _normalize_sql(sql: str) -> str:
    return re.sub(r"\s+", " ", sql.strip().rstrip(";")).lower()


def _norm_expr(s: str, count_arg: bool = False) -> str:
    """Whitespace/backtick/case-insensitive expression fingerprint;
    COUNT's argument normalizes `1` to `*` (they count the same)."""
    n = re.sub(r"[\s`]+", "", (s or "").lower())
    return "*" if count_arg and n in ("*", "1") else n


# identifiers a rollup-eligible WHERE clause may contain BESIDES the
# MV's group columns (operators/literals only — any other identifier
# means the predicate touches a column the MV no longer carries)
_WHERE_NEUTRAL = {
    "and", "or", "not", "in", "between", "like", "is", "null",
    "true", "false",
}


def _rollup_rewrite(session, query: str, df):
    """Aggregate-rollup MV rewrite (docs/dev/MaterializedViews.md
    'Rewriting Scenarios: Aggregate Rollup'): a single-source GROUP BY
    query whose group keys are a SUBSET of a materialized view's and
    whose aggregates are derivable from the MV's stored partials is
    answered by re-aggregating the (far smaller) materialization —
    COUNT/SUM roll up via SUM, MIN/MAX via MIN/MAX, AVG via
    SUM(sum)/SUM(count) when the MV stores both. An optional WHERE may
    reference MV group columns only (it filters the materialization
    directly). The rewritten result is renamed and cast positionally
    to the original plan's schema, so a type or arity mismatch
    disqualifies the rewrite instead of changing the answer."""
    from pyspark.sql import functions as F

    qm = _MV_SHAPE.match(query.strip())
    if not qm:
        return None
    qsrc = _norm_expr(qm.group("src"))
    qwhere = qm.group("where")
    qgroups = [_norm_expr(g) for g in qm.group("grp").split(",")]
    items = [s.strip() for s in _split_top_level(qm.group("sel"))]
    norm_q = _normalize_sql(query).split()
    candidates: list = []

    for name, recipe in getattr(session, "mv_incr", {}).items():
        if "merge" not in recipe or name.lower() in norm_q:
            continue
        if recipe.get("where"):
            continue  # MV pre-filters rows: only the exact-match path
        if _norm_expr(recipe["source"]) != qsrc:
            continue
        mv_groups = {_norm_expr(a): a for a, k, *_ in recipe["merge"]
                     if k == "group"}
        if not set(qgroups) <= set(mv_groups):
            continue
        if qwhere:
            # string literals out first, else 'ASIA' reads as a column
            bare = re.sub(r"'[^']*'", " ", qwhere.lower())
            idents = set(re.findall(r"[a-z_][a-z0-9_]*", bare))
            idents -= _WHERE_NEUTRAL
            if not idents <= set(mv_groups):
                continue
        stored = {(ok, arg): (a, mk)
                  for a, mk, ok, arg in recipe["merge"] if mk != "group"}
        sel = []
        ok = True
        for it in items:
            am = re.match(
                r"^(count|sum|min|max|avg)\s*\(\s*(distinct\b)?\s*(.*?)\s*\)"
                r"(?:\s+as\s+`?\w+`?)?$", it, re.IGNORECASE)
            gm = re.match(r"^`?(\w+)`?(?:\s+as\s+`?\w+`?)?$", it)
            if am:
                kind, distinct, arg = am.groups()
                if distinct:
                    ok = False
                    break
                kind = kind.lower()
                narg = _norm_expr(arg, count_arg=kind == "count")
                if kind == "avg":
                    s_hit = stored.get(("sum", narg))
                    c_hit = stored.get(("count", narg))
                    if not (s_hit and c_hit):
                        ok = False
                        break
                    sel.append(F.sum(s_hit[0]) / F.sum(c_hit[0]))
                else:
                    hit = stored.get((kind, narg))
                    if hit is None:
                        ok = False
                        break
                    a, mk = hit
                    sel.append(F.sum(a) if mk == "sum" else getattr(F, mk)(a))
            elif gm and _norm_expr(gm.group(1)) in set(qgroups):
                sel.append(F.first(F.col(mv_groups[_norm_expr(gm.group(1))])))
            else:
                ok = False
                break
        if not ok or len(sel) != len(df.columns):
            continue
        candidates.append((recipe.get("rows", 1 << 62), name,
                           list(sel), dict(mv_groups)))
    # several MVs can answer: re-aggregate the SMALLEST materialization
    for _, name, sel, mv_groups in sorted(candidates, key=lambda c: c[0]):
        t = session.spark.table(name)
        if qwhere:
            t = t.where(qwhere)
        gcols = [mv_groups[g] for g in qgroups]
        out = t.groupBy(*gcols).agg(*[c.alias(f"_c{i}")
                                      for i, c in enumerate(sel)])
        out = out.select(*[f"_c{i}" for i in range(len(sel))]).toDF(*df.columns)
        try:
            for fld in df.schema.fields:
                out = out.withColumn(fld.name,
                                     F.col(fld.name).cast(fld.dataType))
        except Exception:
            continue
        return out.select(*df.columns)
    return None


def _canonical_plan(df) -> str | None:
    """Canonicalized analyzed plan string: stable across formatting,
    case, and expression-id differences — the v1 fingerprint for MV
    equivalence."""
    try:
        return df._jdf.queryExecution().analyzed().canonicalized().toString()
    except Exception:
        return None


def _match_materialized(session, query: str, df):
    """Automatic materialized-view rewrite (reference:
    planner/sql/handlers/DefaultSqlHandler.java:209 +
    docs/dev/MaterializedViews.md): a SELECT over base tables whose
    semantics equal a registered MV definition is answered from the
    materialization instead of recomputing.

    Scenarios (docs/dev/MaterializedViews.md): exact match (normalized
    text or canonicalized-plan equality) and aggregate rollup
    (_rollup_rewrite). Gated by the reference's session option
    `planner.enable_materialized_view_rewrite` (default true)."""
    mv_defs = getattr(session, "mv_defs", None)
    if not mv_defs:
        return None
    if str(session.get_option(
            "planner.enable_materialized_view_rewrite", "true")
           ).lower() in ("false", "0"):
        return None
    norm = _normalize_sql(query)
    canon = None
    for name, (def_norm, def_canon) in mv_defs.items():
        if name.lower() in norm.split():  # query already names the MV
            continue
        if norm == def_norm:
            return session.spark.table(name)
        if def_canon is not None:
            if canon is None:
                canon = _canonical_plan(df)
            if canon == def_canon:
                return session.spark.table(name)
    return _rollup_rewrite(session, query, df)
