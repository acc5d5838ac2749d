"""Self-tests of the benchmark (no Spark needed):

    python3 -m pytest perfbench/test_perfbench.py -q -p no:cacheprovider

- the generators are deterministic in the seed;
- the checks flag a deliberately wrong result;
- the metrics the benchmark prints are the ones BENCHMARK.json names.
"""

from __future__ import annotations

import json
import os
import sys

import pyarrow as pa
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import gen  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402
from workloads import CheckFailed  # noqa: E402


@pytest.fixture(scope="module")
def raw(tmp_path_factory):
    inputs = gen.generate_raw_files(7, str(tmp_path_factory.mktemp("raw")))
    return inputs, workloads.raw_files(inputs)


@pytest.fixture(scope="module")
def cur(tmp_path_factory):
    inputs = gen.generate_curation(7, str(tmp_path_factory.mktemp("cur")))
    return inputs, workloads.curation(inputs)


@pytest.mark.parametrize("name", sorted(gen.GENERATORS))
def test_generator_is_deterministic(name, tmp_path):
    a = gen.GENERATORS[name](3, str(tmp_path / "a"))
    b = gen.GENERATORS[name](3, str(tmp_path / "b"))
    c = gen.GENERATORS[name](4, str(tmp_path / "c"))
    assert a["files"] == b["files"]
    assert a.get("truth") == b.get("truth")
    assert a["files"] != c["files"]


def _table(expected) -> pa.Table:
    names, rows = expected
    return pa.table({n: [r[i] for r in rows] for i, n in enumerate(names)})


def _perturbed(table: pa.Table) -> pa.Table:
    """The same table with one numeric value changed."""
    for i, col in enumerate(table.columns):
        if pa.types.is_floating(col.type) or pa.types.is_integer(col.type):
            vals = col.to_pylist()
            vals[0] = vals[0] + 1
            return table.set_column(i, table.field(i), pa.array(vals, col.type))
    raise AssertionError("no numeric column")


def test_raw_checks_flag_wrong_results(raw):
    _, wl = raw
    queries = [op for op in wl.ops if op.kind == "query"]
    assert len(queries) == len(workloads._RAW_QUERIES) + len(workloads._RAW_CTAS)
    for op in queries:
        key = op.name.removeprefix("read_")
        good = _table(wl.expected[key])
        op.check(good)
        with pytest.raises(CheckFailed):
            op.check(_perturbed(good))
        with pytest.raises(CheckFailed):
            op.check(good.slice(1))


def test_curation_checks_flag_wrong_results(cur):
    inputs, wl = cur
    ops = {op.name: op for op in wl.ops}
    good = _table(wl.expected["ext_embed_dedup"])
    ops["cosine_dedup_pairs"].check(good)
    with pytest.raises(CheckFailed):
        ops["cosine_dedup_pairs"].check(good.slice(1))
    with pytest.raises(CheckFailed):
        ops["cosine_dedup_pairs"].check(_perturbed(good))

    import pyarrow.parquet as pq

    docs = pq.read_table(inputs["paths"]["documents"]).to_pydict()
    text = dict(zip(docs["doc_id"], docs["text"]))
    truth = inputs["truth"]
    pairs = sorted(tuple(sorted(g)) for g in truth["exact_groups"] + truth["near_groups"])
    pairs = [p for p in pairs
             if workloads._jaccard(text[p[0]], text[p[1]]) >= workloads.MINHASH_THRESHOLD]
    good = pa.table({"id_a": [a for a, _ in pairs], "id_b": [b for _, b in pairs],
                     "jaccard": [round(workloads._jaccard(text[a], text[b]), 4)
                                 for a, b in pairs]})
    ops["minhash_near_dupes"].check(good)
    with pytest.raises(CheckFailed):  # a pair below the threshold
        ops["minhash_near_dupes"].check(pa.concat_tables([good, pa.table({
            "id_a": [0], "id_b": [1], "jaccard": [0.9]})]))
    with pytest.raises(CheckFailed):  # the planted pairs are missing
        ops["minhash_near_dupes"].check(good.slice(0, 0))


def test_metric_names_match_benchmark_json():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == run.END_TO_END
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == run.PER_LAYER
    assert sorted(w["name"] for w in spec["workloads"]) == sorted(gen.GENERATORS)
    assert sorted(workloads.WORKLOADS) == sorted(gen.GENERATORS)

    recs = [{"op": "x", "kind": k, "id": f"p0.{i}", "rows_in": 10, "latency_s": 0.5 + i,
             "ok": True} for i, k in enumerate(["query", "write", "query"])]
    e2e, _ = run.end_to_end(recs, 3.0, 40.0, 2**30)
    assert list(e2e) == [n for n, _ in run.END_TO_END]
    assert all(v > 0 for v in e2e.values())

    class FakeTracer:
        def span_total(self, op, name, self_only=False):
            return 0.01

    stats = dict.fromkeys(("jobs", "sql_jobs", "stages", "tasks", "run_ms", "cpu_ns",
                           "input_b", "shuffle_read_b", "shuffle_write_b", "spill_b",
                           "gc_ms"), 1)
    for r in recs:
        r.update(stats=stats, catalyst_ms={"analysis": 1.0, "optimization": 1.0,
                                           "planning": 1.0},
                 python_cpu_s=0.1, py4j_calls=3)
    layers = run.per_layer(recs, FakeTracer(), {"spark_start_s": 1, "register_s": 1,
                                                "warmup_s": 1}, [0.2], 5, 4)
    assert list(layers) + ["host.steal_share"] == [n for n, _ in run.PER_LAYER]


def test_tail_percentile():
    import random
    import statistics

    assert run.tail([float(i) for i in range(1, 101)]) == (90.0, 90.0, 100)
    assert run.tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)  # too few samples: the max
    rng = random.Random(0)
    for n in (1, 8, 16, 99, 100, 250):
        xs = [rng.expovariate(1.0) for _ in range(n)]
        assert run.tail(xs)[0] >= statistics.median(xs)
