"""Measure the column distributions of the sf0.1 fixture tables.

    python3 perfbench/fixture_profile.py <sf0.1 fixture dir>

writes ``perfbench/fixture_profile.json``, which the generators in
``gen.py`` draw from. The benchmark reads only its own checkout, so the
fixtures are not read at run time: the profile records them instead.

Each column is a categorical distribution (``{"cat": [[value, share],
...]}``) or an empirical quantile function (``{"q": [101 quantiles]}``,
sampled by inverse CDF). In the fixtures every column is drawn on its
own, so marginals are all there is to record: foreign keys are uniform
(``l_orderkey`` hits each order about four times), a document's
``lang`` label is independent of its text (every text uses the same
31-word vocabulary), and the embeddings are normalised Gaussian vectors
(component std 1/sqrt(dim), no pair above cosine 0.61).
"""

from __future__ import annotations

import json
import os
import sys
from collections import Counter

import numpy as np
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
PROFILE = os.path.join(HERE, "fixture_profile.json")
QUANTILES = 101
_DAY_US = 86_400 * 10**6


def cat(values) -> dict:
    counts = Counter(values)
    n = sum(counts.values())
    return {"cat": [[v, round(c / n, 6)] for v, c in sorted(counts.items())]}


def quant(values) -> dict:
    q = np.quantile(np.asarray(values, dtype=np.float64), np.linspace(0, 1, QUANTILES))
    return {"q": [round(float(x), 6) for x in q]}


def days(ts_col) -> np.ndarray:
    return ts_col.cast("int64").to_numpy() // _DAY_US


def profile(sf_dir: str) -> dict:
    def read(name):
        return pq.read_table(os.path.join(sf_dir, f"{name}.parquet"))

    ev = read("events")
    ts = ev.column("ts").cast("int64").to_numpy()
    props = [json.loads(p) for p in ev.column("props").to_pylist()]
    orders = read("orders")
    li = read("lineitem")
    docs = read("documents")
    words = [t.split() for t in docs.column("text").to_pylist()]
    emb = np.array(read("embeddings").column("embedding").to_pylist(), dtype=np.float64)
    unit = emb / np.linalg.norm(emb, axis=1, keepdims=True)
    cos = unit @ unit.T
    np.fill_diagonal(cos, 0)
    texts = docs.column("text").to_pylist()
    return {
        "rows": {name: read(name).num_rows
                 for name in ("events", "orders", "lineitem", "documents", "embeddings")},
        "events": {
            "ts_start_us": int(ts[0]),
            "ts_gap_s": quant(np.diff(ts) / 1e6),
            "user_id": quant(ev.column("user_id").to_numpy()),
            "event_type": cat(ev.column("event_type").to_pylist()),
            "value": quant(ev.column("value").to_numpy()),
            "props.k": quant([p["k"] for p in props]),
        },
        "orders": {
            "o_custkey": quant(orders.column("o_custkey").to_numpy()),
            "o_orderstatus": cat(orders.column("o_orderstatus").to_pylist()),
            "o_totalprice": quant(orders.column("o_totalprice").to_numpy()),
            "o_orderdate_day": quant(days(orders.column("o_orderdate"))),
            "o_orderpriority": cat(orders.column("o_orderpriority").to_pylist()),
        },
        "lineitem": {
            "l_linenumber": cat(li.column("l_linenumber").to_pylist()),
            "l_quantity": cat(li.column("l_quantity").to_pylist()),
            "l_extendedprice": quant(li.column("l_extendedprice").to_numpy()),
            "l_discount": cat(li.column("l_discount").to_pylist()),
            "l_returnflag": cat(li.column("l_returnflag").to_pylist()),
            "l_shipdate_day": quant(days(li.column("l_shipdate"))),
        },
        "documents": {
            "word": cat([w for ws in words for w in ws]),
            "words_per_doc": quant([len(ws) for ws in words]),
            "lang": cat(docs.column("lang").to_pylist()),
            "source": cat(docs.column("source").to_pylist()),
            "exact_dup_share": round(1 - len(set(texts)) / len(texts), 6),
        },
        "embeddings": {
            "dim": int(emb.shape[1]),
            "label": cat(read("embeddings").column("label").to_pylist()),
            "component_std": round(float(unit.std()), 6),
            "max_cosine": round(float(cos.max()), 6),
        },
    }


if __name__ == "__main__":
    if len(sys.argv) != 2:
        raise SystemExit(__doc__.split("\n\n")[1])
    with open(PROFILE, "w") as f:
        json.dump(profile(sys.argv[1]), f, indent=1)
        f.write("\n")
