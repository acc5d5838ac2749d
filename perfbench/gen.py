"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of ``seed``: the same seed writes
byte-identical files. The program under test only ever sees the files.
Every column is drawn from the distribution measured on the sf0.1
fixture table it comes from (``fixture_profile.json``, written by
``fixture_profile.py``).

- ``raw_files``: NDJSON events (a nested ``props`` object and a
  ``recent`` array), NDJSON orders and a headered CSV of line items,
  plus one late events file whose schema drifts (an added field and
  ``props.k`` changing from int to double).
- ``curation_batch``: a documents table and an embeddings table, with
  exact duplicates, near-duplicate documents and near-duplicate vectors
  planted at known rates. The planted ground truth is returned
  alongside the file paths.
"""

from __future__ import annotations

import csv
import hashlib
import json
import os

import numpy as np

PROFILE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixture_profile.json")

# Sizes of one workload instance; small enough that one pass of every
# operation fits a few seconds on a 4-core host. The sf0.1 fixtures hold
# 100K events, 150K orders, 600K line items, 5K documents and 2K vectors;
# line items per order (4) is kept.
EVENT_FILES = 3
EVENTS_PER_FILE = 12_000
LATE_EVENTS = 4_000
RECENT_EVENTS = 3
ORDER_FILES = 2
ORDERS_PER_FILE = 5_000
LINEITEMS = 40_000

N_DOCS = 1_000
N_VECS = 800
# Planted at known rates; the fixture documents hold 0.16% exact
# duplicates and no near duplicates, and no vector pair above cosine 0.61.
EXACT_DUP_RATE = 0.04
NEAR_DUP_RATE = 0.04
VEC_DUP_RATE = 0.05


def load_profile() -> dict:
    with open(PROFILE) as f:
        return json.load(f)


def draw(rng: np.random.Generator, spec: dict, n: int) -> np.ndarray:
    """``n`` values from a profiled column: a categorical distribution or
    an empirical quantile function (sampled by inverse CDF)."""
    if "cat" in spec:
        values, shares = zip(*spec["cat"])
        p = np.array(shares) / sum(shares)
        return np.array(values)[rng.choice(len(values), n, p=p)]
    q = spec["q"]
    return np.interp(rng.random(n), np.linspace(0, 1, len(q)), q)


def draw_int(rng: np.random.Generator, spec: dict, n: int) -> np.ndarray:
    return np.rint(draw(rng, spec, n)).astype(np.int64)


def _dates(days: np.ndarray) -> list[str]:
    return [str(d) for d in np.rint(days).astype("datetime64[D]")]


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent deterministic stream per (seed, purpose)."""
    salt = int.from_bytes(hashlib.sha256(stream.encode()).digest()[:8], "little")
    return np.random.default_rng([seed, salt])


def file_digest(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for block in iter(lambda: f.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()[:16]


def describe(paths: list[str]) -> dict:
    """Digest and size of every generated file, keyed by basename."""
    out = {}
    for p in paths:
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(p, f) for f in os.listdir(p))
        for f in files:
            out[os.path.relpath(f, os.path.dirname(p))] = {
                "sha256_16": file_digest(f), "bytes": os.path.getsize(f)}
    return out


def _write_ndjson(path: str, rows: list[dict]) -> None:
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r, separators=(",", ":")))
            f.write("\n")


# ------------------------------------------------------------ raw_files


def generate_raw_files(seed: int, out_dir: str) -> dict:
    """NDJSON events/orders, a headered line-item CSV and a drifting late
    events file, drawn from the fixtures' events, orders and lineitem
    columns. Returns the paths, row counts and file digests.

    The fixture's ``props`` JSON string becomes a nested object, and
    ``recent`` (an array) lists the user's last event types, newest
    first. The late file writes ``props.k`` as a double (int -> double
    drift) and adds ``value_cents``."""
    prof = load_profile()
    rng = _rng(seed, "raw_files")
    ev_dir = os.path.join(out_dir, "events")
    ord_dir = os.path.join(out_dir, "orders")
    os.makedirs(ev_dir)
    os.makedirs(ord_dir)

    ep = prof["events"]
    n_ev = EVENT_FILES * EVENTS_PER_FILE + LATE_EVENTS
    ts_us = ep["ts_start_us"] + np.cumsum(np.rint(draw(rng, ep["ts_gap_s"], n_ev) * 1e6))
    ts = [str(t) for t in ts_us.astype(np.int64).astype("datetime64[us]")]
    user = draw_int(rng, ep["user_id"], n_ev)
    etype = draw(rng, ep["event_type"], n_ev)
    value = np.round(draw(rng, ep["value"], n_ev), 2)
    k = draw_int(rng, ep["props.k"], n_ev)
    recent: dict[int, list[str]] = {}
    rows = []
    for j in range(n_ev):
        late = j >= EVENT_FILES * EVENTS_PER_FILE
        u = int(user[j])
        recent[u] = [str(etype[j])] + recent.get(u, [])[: RECENT_EVENTS - 1]
        r = {"event_id": j, "ts": ts[j], "user_id": u, "event_type": str(etype[j]),
             "value": float(value[j]),
             "props": {"k": float(k[j]) + 0.5 if late else int(k[j])},
             "recent": recent[u]}
        if late:
            r["value_cents"] = int(round(value[j] * 100))
        rows.append(r)
    for i in range(EVENT_FILES):
        _write_ndjson(os.path.join(ev_dir, f"part-{i}.json"),
                      rows[i * EVENTS_PER_FILE:(i + 1) * EVENTS_PER_FILE])
    _write_ndjson(os.path.join(ev_dir, "part-late.json"), rows[EVENT_FILES * EVENTS_PER_FILE:])

    op = prof["orders"]
    n_orders = ORDER_FILES * ORDERS_PER_FILE
    cust = draw_int(rng, op["o_custkey"], n_orders)
    status = draw(rng, op["o_orderstatus"], n_orders)
    total = np.round(draw(rng, op["o_totalprice"], n_orders), 2)
    odate = _dates(draw(rng, op["o_orderdate_day"], n_orders))
    prio = draw(rng, op["o_orderpriority"], n_orders)
    for i in range(ORDER_FILES):
        _write_ndjson(os.path.join(ord_dir, f"part-{i}.json"), [
            {"o_orderkey": j, "o_custkey": int(cust[j]), "o_orderstatus": str(status[j]),
             "o_totalprice": float(total[j]), "o_orderdate": odate[j],
             "o_orderpriority": str(prio[j])}
            for j in range(i * ORDERS_PER_FILE, (i + 1) * ORDERS_PER_FILE)])

    lp = prof["lineitem"]
    li = os.path.join(out_dir, "lineitem.csv")
    cols = {
        "l_orderkey": rng.integers(0, n_orders, LINEITEMS),  # uniform, as in the fixture
        "l_linenumber": draw(rng, lp["l_linenumber"], LINEITEMS),
        "l_quantity": draw(rng, lp["l_quantity"], LINEITEMS).astype(np.int64),
        "l_extendedprice": [f"{x:.2f}" for x in draw(rng, lp["l_extendedprice"], LINEITEMS)],
        "l_discount": [f"{x:.2f}" for x in draw(rng, lp["l_discount"], LINEITEMS)],
        "l_returnflag": draw(rng, lp["l_returnflag"], LINEITEMS),
        "l_shipdate": _dates(draw(rng, lp["l_shipdate_day"], LINEITEMS)),
    }
    with open(li, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(cols)
        w.writerows(zip(*cols.values()))

    rows = {"events": n_ev, "orders": n_orders, "lineitem": LINEITEMS}
    paths = {"events": ev_dir, "orders": ord_dir, "lineitem": li}
    return {"paths": paths, "rows": rows, "files": describe(list(paths.values()))}


# ------------------------------------------------------- curation_batch


def generate_curation(seed: int, out_dir: str) -> dict:
    """Documents and embeddings parquet drawn from the fixtures'
    distributions, with planted duplicates.

    A near duplicate is its original with one more word at the end.
    Returns the paths, row counts, digests and the planted truth:
    ``exact_groups`` / ``near_groups`` (doc-id pairs that share an
    original) and ``vec_pairs`` (near-duplicate vector pairs, same label)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    prof = load_profile()
    dp, vp = prof["documents"], prof["embeddings"]
    rng = _rng(seed, "curation")
    os.makedirs(out_dir, exist_ok=True)

    n_words = draw_int(rng, dp["words_per_doc"], N_DOCS)
    langs = list(draw(rng, dp["lang"], N_DOCS))
    kinds = rng.random(N_DOCS)
    texts: list[str] = []
    originals: list[int] = []  # clean docs that may seed a planted copy
    exact_groups: list[list[int]] = []
    near_groups: list[list[int]] = []
    for i in range(N_DOCS):
        k = kinds[i]
        if originals and k < EXACT_DUP_RATE + NEAR_DUP_RATE:
            o = originals.pop(int(rng.integers(0, len(originals))))
            langs[i] = langs[o]
            if k < EXACT_DUP_RATE:
                texts.append(texts[o])
                exact_groups.append([o, i])
            else:
                texts.append(f"{texts[o]} {draw(rng, dp['word'], 1)[0]}")
                near_groups.append([o, i])
            continue
        texts.append(" ".join(draw(rng, dp["word"], int(n_words[i]))))
        originals.append(i)
    docs = pa.table({
        "doc_id": pa.array(np.arange(N_DOCS), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([str(x) for x in langs], pa.string()),
        "source": pa.array([str(x) for x in draw(rng, dp["source"], N_DOCS)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    docs_path = os.path.join(out_dir, "documents.parquet")
    pq.write_table(docs, docs_path)

    vecs = rng.standard_normal((N_VECS, vp["dim"]))
    labels = draw(rng, vp["label"], N_VECS)
    vec_pairs = []
    for i in range(1, N_VECS):
        if rng.random() < VEC_DUP_RATE:
            o = int(rng.integers(0, i))
            vecs[i] = vecs[o] + rng.standard_normal(vp["dim"]) * 0.05
            labels[i] = labels[o]
            vec_pairs.append((o, i))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    embs = pa.table({
        "vec_id": pa.array(np.arange(N_VECS), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    embs_path = os.path.join(out_dir, "embeddings.parquet")
    pq.write_table(embs, embs_path)

    paths = {"documents": docs_path, "embeddings": embs_path}
    return {
        "paths": paths,
        "rows": {"documents": N_DOCS, "embeddings": N_VECS},
        "files": describe(list(paths.values())),
        "truth": {"exact_groups": exact_groups, "near_groups": near_groups,
                  "vec_pairs": vec_pairs},
    }


GENERATORS = {"raw_files": generate_raw_files, "curation_batch": generate_curation}
