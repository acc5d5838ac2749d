"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR.

Prints EXACTLY ONE COMPACT line on stdout — a summary JSON:
  {"metric": "...", "value": N, "unit": "sec", "groups": {...},
   "sf": ..., "n_queries": N, "n_errored": N, "cpus": N, "probe": N}
The per-query timing map is deliberately NOT on stdout (a 124-query map
is ~6 KB and overflows the driver's 2 KB tail window); the full detail —
including per-query timings, setup costs and the git revision — is written to
bench_result.json next to this file AND to bench_result_c{cpus}.json,
so a low-core scaling run never clobbers the high-core per-query map
(r14; the r13 scaling comparison was empty for exactly that reason). Everything else (Spark/JVM chatter,
progress, per-query errors, setup-vs-query breakdown) goes to stderr.

value = total wall-clock seconds over the headline query set (each
query executed to completion via a count-collecting action; results
not materialized on the driver).

"probe" is the MEDIAN wall-clock of a fixed constant-work Spark job
(sum over range(50M)) sampled 7 times INTERLEAVED through the run
(post-warmup, post-setup, mid-pass and end-of-pass for both timed
passes, post; a pre-warmup "cold" sample is recorded separately as
probe_cold since first-job spin-up is deterministic cost, not noise):
it is identical every round, so a round-over-round shift in
probe is machine/JVM contention, not a plan change. A single pre/post
pair proved untrustworthy (r12: two same-day runs of identical code
measured 0.212 vs 0.282 — 1.33x — which under host-adjustment would
have manufactured ~145 phantom regressions); the summary therefore
carries probe_min/probe_max too, and the full sample list is in
bench_result.json as probe_samples. Host-adjust round-over-round
deltas ONLY when the two runs' [min, max] spreads are tight and
non-overlapping; otherwise compare raw walls.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time


def _revision(repo: str) -> str:
    """The checkout's git commit, so detail files from different code
    revisions are never compared as one run; "unknown" outside git."""
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=repo,
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.SubprocessError):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def main() -> None:
    # Hard stdout hygiene: anything the JVM/py4j/libraries print during the
    # run is shunted to stderr; only the final JSON line touches real stdout.
    real_stdout = sys.stdout
    sys.stdout = sys.stderr

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))

    from drill_spark.session import get_spark

    spark = get_spark("drill_spark_bench", cores=cpus)

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    # Dev smoke knob (never set by the driver): comma-separated name
    # substrings to subset the query list for harness testing.
    flt = os.environ.get("SPARK_GRAFT_BENCH_FILTER")
    if flt:
        subs = [s for s in flt.split(",") if s]
        qs = {k: v for k, v in qs.items() if any(s in k for s in subs)}
        print(f"[bench] FILTERED to {len(qs)} queries via "
              f"SPARK_GRAFT_BENCH_FILTER={flt}", file=sys.stderr)

    probe_samples: list[float] = []

    def probe(tag: str, record: bool = True) -> float:
        t0 = time.time()
        spark.range(50_000_000).selectExpr("sum(id)").collect()
        dt = round(time.time() - t0, 3)
        if record:
            probe_samples.append(dt)
        print(f"\n[bench] constant-work probe ({tag}): {dt}s", file=sys.stderr)
        return dt

    # The very first Spark job pays one-time executor/codegen spin-up —
    # that is a deterministic cold cost, not host contention, so it is
    # recorded (probe_cold in bench_result.json) but excluded from the
    # median/spread stats.
    probe_cold = probe("cold", record=False)

    # Warm the JVM on the SMALLEST fixture dir (never the benched one):
    # whole-stage codegen, the Python/Arrow worker pool, and the
    # streaming machinery all pay a first-use compile/startup cost that
    # is not part of steady-state throughput. Warmup is not timed.
    warm_dir = sf_dir
    for cand in ("/root/testdata/sf0.001",):
        if os.path.isdir(cand) and os.path.abspath(cand) != os.path.abspath(sf_dir):
            warm_dir = cand
            break
    t_warm = time.time()
    entrymod.warm(spark, warm_dir, qs)
    print(f"\n[bench] warmup: {round(time.time() - t_warm, 3)}s", file=sys.stderr)
    probe("post-warmup")

    # Pre-build every on-first-touch format fixture at the BENCHED sf_dir
    # before any timed pass (constructing the DataFrame triggers
    # _materialize_once); setup cost is reported separately so the timed
    # numbers measure query execution, not fixture writes.
    setup: dict[str, float] = {}
    for name in sorted(qs):
        t0 = time.time()
        try:
            qs[name](spark, sf_dir)
        except Exception as e:
            print(f"setup error in {name}: {e}", file=sys.stderr)
        dt = round(time.time() - t0, 3)
        if dt >= 0.05:
            setup[name] = dt
    setup_total = round(sum(setup.values()), 3)
    print(f"\n[bench] fixture/plan setup total: {setup_total}s "
          f"(per-query >=0.05s: {json.dumps(setup)})", file=sys.stderr)
    probe("post-setup")

    # Two passes, best-of per query: single-shot timings on a shared
    # host swing 2-3x with neighbor load; the min of two runs is a far
    # more stable estimate of steady-state throughput and is applied
    # identically every round, so round-over-round deltas stay honest.
    timings: dict[str, float] = {}
    for _pass in range(2):
        t_pass = time.time()
        ordered = sorted(qs)
        mid = len(ordered) // 2
        for i, name in enumerate(ordered):
            if i == mid:
                # interleaved sample at the pass midpoint: a host-load
                # spike that lands mid-run must show in the spread
                probe(f"mid-pass-{_pass + 1}")
            t0 = time.time()
            try:
                df = qs[name](spark, sf_dir)
                df.count()
                elapsed = round(time.time() - t0, 3)
            except Exception as e:  # keep the bench line parseable on failure
                print(f"bench error in {name}: {e}", file=sys.stderr)
                elapsed = -1.0
            prev = timings.get(name)
            if prev is None or (0 <= elapsed < prev) or prev < 0:
                timings[name] = elapsed
        print(f"\n[bench] pass {_pass + 1} wall: {round(time.time() - t_pass, 3)}s",
              file=sys.stderr)
        probe(f"end-pass-{_pass + 1}")

    probe("post")
    probe_median = sorted(probe_samples)[len(probe_samples) // 2]

    ok = {k: v for k, v in timings.items() if v >= 0}
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    # format scans build a /tmp fixture on first touch and grow as new
    # formats land — their own group keeps "op" comparable across rounds
    fmt_queries = {
        k for k in ok if k.startswith("op_") and k.endswith("_scan")
    }

    def _group(prefix: str) -> float:
        members = (
            fmt_queries
            if prefix == "fmt"
            else {k for k in ok if k.startswith(prefix)} - fmt_queries
        )
        return round(sum(ok[k] for k in members), 3)

    summary = {
        "metric": "total_wall_clock_headline_queries",
        "value": round(sum(ok.values()), 3),
        "unit": "sec",
        # family subtotals for round-over-round comparison
        "groups": {
            "tpch": _group("tpch_"),
            "tpcds": _group("tpcds_"),
            "op": _group("op_"),
            "fmt": _group("fmt"),
            "ext": _group("ext_"),
        },
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "n_queries": len(timings),
        "n_errored": len(timings) - len(ok),
        "cpus": cpus,
        "probe": probe_median,
        "probe_min": min(probe_samples),
        "probe_max": max(probe_samples),
    }
    here = os.path.dirname(os.path.abspath(__file__))
    detail = dict(summary)
    detail["revision"] = _revision(here)
    detail["queries"] = timings
    detail["setup"] = setup
    detail["probe_samples"] = probe_samples
    detail["probe_cold"] = probe_cold
    # fold in the latest sf1 scale soak (scripts/scale_soak.py) so the
    # driver's bench record carries the measured-scaling evidence too
    soak_path = os.path.join(here, "soak_sf1.json")
    if os.path.exists(soak_path):
        try:
            with open(soak_path) as f:
                detail["sf1_soak"] = json.load(f)
        except (OSError, ValueError) as e:
            print(f"soak_sf1.json not embedded: {e}", file=sys.stderr)
    # The detail file is written twice: bench_result.json (the historical
    # name every round's tooling reads) AND bench_result_c{cpus}.json, so
    # a low-core scaling run no longer clobbers the high-core per-query
    # map (r13 PERF could not compute per-query scaling ratios because
    # the c8 run overwrote the c32 detail in the shared file).
    for fname in ("bench_result.json", f"bench_result_c{cpus}.json"):
        try:
            with open(os.path.join(here, fname), "w") as f:
                f.write(json.dumps(detail) + "\n")
        except OSError as e:
            print(f"{fname} not written: {e}", file=sys.stderr)
    line = json.dumps(summary)
    assert len(line) < 1500, f"stdout bench line too long ({len(line)} bytes)"
    print(line, file=real_stdout)
    real_stdout.flush()


if __name__ == "__main__":
    main()
