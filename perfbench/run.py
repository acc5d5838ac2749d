"""Benchmark entry point: one seeded workload against the sparkdrill engine.

    python3 perfbench/run.py --workload raw_files --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. One process, one Spark session at
``local[$SPARK_GRAFT_CPUS]`` (default: all cores) and one client in a
closed loop: the next operation starts only after the previous result
has been materialized and checked.

Phases: generate the seeded inputs and their expected results (not
timed) -> set-up (Spark start, ``DrillSession()``, workspace
registration, the workload's own set-up, warmup passes) -> the
timed phase: whole passes over the workload's operations, as many as
take about ``--seconds`` on a 4-core host and at least two (see PASS_S).

Stdout has two JSON lines. The first records the run: input digests,
sizes and row counts, pass times, and the percentile and sample count
behind ``query_tail_ms``. The last has ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``
and the per-layer metrics with ``--trace 1`` (names and units as in
BENCHMARK.json). Everything else goes to stderr. A traced run also
writes its full record to ``.perfbench/trace-<workload>-<seed>.json``:
input digests and sizes, per-operation samples, the spans and their
self times, and the traced run's end-to-end metrics.

Each run works in a fresh ``.perfbench/run-<pid>`` directory of the
checkout: TMPDIR, Spark local dirs, the working directory (so that
``spark-warehouse/`` and ``derby.log`` land there) and the CTAS
workspace all live in it, and it is removed at exit.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Warmup: whole passes until pass times settle on a 4-core host. After one
# pass, raw_files' next pass still runs about 20% slower than the one after
# it; curation_batch's passes are within a few percent after one.
WARM_PASSES = {"raw_files": 2, "curation_batch": 1}
# Nominal seconds per warm pass on a 4-core host. The timed phase runs
# round(--seconds / PASS_S) whole passes, at least MIN_PASSES because one
# sample per operation spreads too much from run to run: a count fixed per
# workload, so a slow run is not also measured over fewer passes.
PASS_S = {"raw_files": 5.0, "curation_batch": 9.0}
MIN_PASSES = 2
PROBE_ROWS = 20_000_000
# Spark driver heap (get_spark reads SPARK_GRAFT_DRIVER_MEM). The inputs
# need far less; a fixed cap keeps peak RSS from following GC timing.
DRIVER_MEM = "2g"
# Operators that verify candidate pairs in a join below the one that
# applies the threshold; their plans yield ops.pair_keep_ratio.
PAIR_OPS = {"minhash_near_dupes"}

END_TO_END = [
    ("setup_s", "s"), ("peak_rss_mb", "MB"), ("ok_share", "ratio"),
    ("query_p50_ms", "ms"), ("query_tail_ms", "ms"), ("queries_per_s", "1/s"),
    ("input_rows_per_s", "rows/s"), ("write_p50_ms", "ms"),
]
PER_LAYER = [
    ("session.spark_start_s", "s"), ("functions.register_s", "s"),
    ("bench.warmup_s", "s"), ("session.sql_ms", "ms"), ("sqlfront.rewrite_ms", "ms"),
    ("sqlfront.temp_views", "count"), ("readers.read_auto_ms", "ms"),
    ("readers.inference_jobs", "count"), ("readers.input_mb", "MB"),
    ("catalyst.analysis_ms", "ms"), ("catalyst.optimization_ms", "ms"),
    ("catalyst.planning_ms", "ms"), ("spark.jobs", "count"), ("spark.stages", "count"),
    ("spark.tasks", "count"), ("spark.busy_share", "ratio"),
    ("spark.executor_run_s", "s"), ("spark.executor_cpu_s", "s"),
    ("spark.shuffle_read_mb", "MB"), ("spark.shuffle_write_mb", "MB"),
    ("spark.spill_mb", "MB"), ("spark.gc_ms", "ms"), ("ops.build_ms", "ms"),
    ("ops.py4j_calls", "count"), ("ops.python_worker_cpu_s", "s"),
    ("ops.pair_keep_ratio", "ratio"), ("writer.files_written", "count"),
    ("writer.bytes_out_per_in", "ratio"), ("host.probe_ms", "ms"),
    ("host.steal_share", "ratio"),
]


def log(*a) -> None:
    print("[perfbench]", *a, file=sys.stderr, flush=True)


def seconds_since_process_start() -> float:
    with open("/proc/self/stat") as f:
        raw = f.read()
    start_ticks = int(raw[raw.rindex(")") + 2:].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf("SC_CLK_TCK")


def cpu_ticks() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share_since(ticks0: list[int]) -> float:
    """Share of all CPU time since ``ticks0`` that the hypervisor gave to
    other guests: a host-contention signal, not a program metric."""
    d = [b - a for a, b in zip(ticks0, cpu_ticks())]
    return d[7] / sum(d) if sum(d) else 0.0


def tail(samples: list[float]) -> tuple[float, float, int]:
    """The highest percentile with at least 10 samples beyond it, by
    nearest rank (the value at rank n - 10, percentile 100 * (n - 10) / n),
    when that is p90 or higher, i.e. with 100 samples or more. Fewer
    samples hold no such tail, and the maximum (p100) is reported.
    Returns (value, percentile, sample count)."""
    s = sorted(samples)
    k = len(s) - 10 if len(s) >= 100 else len(s)
    return s[k - 1], round(100.0 * k / len(s), 1), len(s)


class Ctx:
    """What an operation sees: instrumented entry points into the engine."""

    def __init__(self, session, out_dir: str, tracer=None):
        self.session = session
        self.spark = session.spark
        self.out_dir = out_dir
        self.tracer = tracer
        self._outputs: dict[str, str] = {}
        self._n = 0
        self.action_dfs: list = []
        self.produced: list[str] = []  # tables written by the current operation

    def span(self, name):
        return self.tracer.span(name) if self.tracer else contextlib.nullcontext()

    def group(self, phase):
        return self.tracer.group(phase) if self.tracer else contextlib.nullcontext()

    def sql(self, query: str):
        with self.span("session.sql"), self.group("sql"):
            return self.session.sql(query)

    def build(self, name: str, fn, *a, **kw):
        if not self.tracer:
            return fn(*a, **kw)
        with self.tracer.span(f"ops.{name}"), self.tracer.group("build"), \
                self.tracer.counting_py4j():
            return fn(*a, **kw)

    def action(self, df):
        self.action_dfs.append(df)
        with self.span("action"), self.group("run"):
            return df.toArrow()

    def write(self, df, name: str) -> str:
        """Write ``df`` as a new parquet table; returns its path."""
        path = self.output_path(self.next_output(name))
        df.write.format("parquet").save(path)
        return path

    def next_output(self, name: str) -> str:
        self._n += 1
        self._outputs[name] = f"{name}_{self._n}"
        self.produced.append(self._outputs[name])
        return self._outputs[name]

    def last_output(self, name: str) -> str:
        return self._outputs[name]

    def output_path(self, name: str) -> str:
        return os.path.join(self.out_dir, name)


def run_op(ctx: Ctx, op, op_id: str) -> dict:
    from workloads import CheckFailed

    tr = ctx.tracer
    rec = {"op": op.name, "kind": op.kind, "id": op_id, "rows_in": op.rows_in}
    ctx.action_dfs, ctx.produced = [], []
    if tr:
        tr.op_id, tr.written, tr.py4j_calls = op_id, [], 0
        cpu0 = tr.python_cpu()
        tr.sc.setJobGroup(f"{op_id}:other", op_id)
    t0 = time.perf_counter()
    try:
        with ctx.span(f"op.{op.name}"):
            result = op.run(ctx)
        rec["latency_s"] = time.perf_counter() - t0
        op.check(result)
        rec["ok"] = True
    except CheckFailed as e:
        rec.update(ok=False, error=f"wrong result: {e}")
    except Exception:  # an operation that raises counts as failed
        rec.update(ok=False, error=traceback.format_exc(limit=-3)[-2000:])
    rec.setdefault("latency_s", time.perf_counter() - t0)
    if not rec["ok"]:
        log(f"FAILED {op.name}: {rec['error']}")
    if tr:
        tr.op_id = "between"
        tr.sc.setJobGroup("bench:idle", "bench:idle")
        rec["python_cpu_s"] = tr.python_cpu() - cpu0
        rec["py4j_calls"] = tr.py4j_calls
        rec["stats"] = tr.stage_stats(op_id)
        cat = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
        for df in ctx.action_dfs + tr.written:
            for k, v in tr.catalyst_ms(df).items():
                cat[k] += v
        rec["catalyst_ms"] = cat
        if op.name in PAIR_OPS and rec["ok"]:
            emitted, cands = tr.pair_counts(ctx.action_dfs[-1])
            rec["pair_keep_ratio"] = emitted / cands if cands else 0.0
        if op.kind == "write":
            rec["written"] = written_files(ctx)
    return rec


def written_files(ctx: Ctx) -> dict:
    """Data files and bytes of the tables the current operation wrote."""
    files = nbytes = 0
    for name in ctx.produced:
        d = ctx.output_path(name)
        for f in os.listdir(d):
            if not f.startswith(("_", ".")):
                files += 1
                nbytes += os.path.getsize(os.path.join(d, f))
    return {"files": files, "bytes": nbytes}


def run_pass(ctx, workload, label: str, records: list) -> float:
    """Every operation once, in the workload's fixed order (the same
    order in every run keeps JIT and cache state comparable across
    seeds; the seed varies the data)."""
    t0 = time.perf_counter()
    for op in workload.ops:
        records.append(run_op(ctx, op, f"{label}.{len(records)}"))
    return time.perf_counter() - t0


def probe(spark) -> float:
    t0 = time.perf_counter()
    spark.range(PROBE_ROWS).selectExpr("sum(id)").collect()
    return time.perf_counter() - t0


def end_to_end(timed: list, phase_wall: float, setup_s: float, peak_rss: int) -> tuple:
    ok = [r for r in timed if r["ok"]]
    q = [r["latency_s"] * 1000 for r in ok if r["kind"] == "query"] or [0.0]
    w = [r["latency_s"] * 1000 for r in ok if r["kind"] == "write"] or [0.0]
    tail_v, tail_p, tail_n = tail(q)
    metrics = {
        "setup_s": setup_s,
        "peak_rss_mb": peak_rss / 2**20,
        "ok_share": len(ok) / len(timed),
        "query_p50_ms": statistics.median(q),
        "query_tail_ms": tail_v,
        "queries_per_s": len(ok) / phase_wall,
        "input_rows_per_s": sum(r["rows_in"] for r in ok) / phase_wall,
        "write_p50_ms": statistics.median(w),
    }
    return metrics, {"query_tail_percentile": tail_p, "query_samples": tail_n,
                     "write_samples": len(w)}


def per_layer(timed: list, tracer, setup: dict, probes: list, temp_views: int,
              cores: int) -> dict:
    n = len(timed)

    def mean(f):
        return sum(f(r) for r in timed) / n

    def st(key):
        return mean(lambda r: r["stats"][key])

    run_s = st("run_ms") / 1000
    action_s = mean(lambda r: tracer.span_total(r["id"], "action")
                    + tracer.span_total(r["id"], "writer.save"))
    pairs = [r["pair_keep_ratio"] for r in timed if "pair_keep_ratio" in r]
    writes = [r for r in timed if "written" in r]
    in_b = sum(r["stats"]["input_b"] for r in writes)
    ops_build = mean(lambda r: tracer.span_total(r["id"], f"ops.{r['op']}"))
    return {
        "session.spark_start_s": setup["spark_start_s"],
        "functions.register_s": setup["register_s"],
        "bench.warmup_s": setup["warmup_s"],
        "session.sql_ms": 1000 * mean(lambda r: tracer.span_total(r["id"], "session.sql")),
        "sqlfront.rewrite_ms": 1000 * mean(
            lambda r: tracer.span_total(r["id"], "sqlfront.rewrite", self_only=True)),
        "sqlfront.temp_views": temp_views,
        "readers.read_auto_ms": 1000 * mean(
            lambda r: tracer.span_total(r["id"], "readers.read_auto")),
        "readers.inference_jobs": st("sql_jobs"),
        "readers.input_mb": st("input_b") / 1e6,
        "catalyst.analysis_ms": mean(lambda r: r["catalyst_ms"]["analysis"]),
        "catalyst.optimization_ms": mean(lambda r: r["catalyst_ms"]["optimization"]),
        "catalyst.planning_ms": mean(lambda r: r["catalyst_ms"]["planning"]),
        "spark.jobs": st("jobs"),
        "spark.stages": st("stages"),
        "spark.tasks": st("tasks"),
        "spark.busy_share": run_s / (action_s * cores) if action_s else 0.0,
        "spark.executor_run_s": run_s,
        "spark.executor_cpu_s": st("cpu_ns") / 1e9,
        "spark.shuffle_read_mb": st("shuffle_read_b") / 1e6,
        "spark.shuffle_write_mb": st("shuffle_write_b") / 1e6,
        "spark.spill_mb": st("spill_b") / 1e6,
        "spark.gc_ms": st("gc_ms"),
        "ops.build_ms": 1000 * ops_build,
        "ops.py4j_calls": mean(lambda r: r["py4j_calls"]),
        "ops.python_worker_cpu_s": mean(lambda r: r["python_cpu_s"]),
        "ops.pair_keep_ratio": statistics.mean(pairs) if pairs else 0.0,
        "writer.files_written": (sum(r["written"]["files"] for r in writes) / len(writes)
                                 if writes else 0.0),
        "writer.bytes_out_per_in": (sum(r["written"]["bytes"] for r in writes) / in_b
                                    if in_b else 0.0),
        "host.probe_ms": 1000 * statistics.median(probes),
    }


def isolate(work: str) -> None:
    """Fresh TMPDIR, Spark local dirs and working directory for this run,
    and a PYTHONPATH under which PySpark workers import drill_spark."""
    for d in ("tmp", "local", "cwd", "inputs", "out"):
        os.makedirs(os.path.join(work, d))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # every JVM (spark-submit's launcher and the Spark driver) keeps its temp
    # files and its perf-data file out of /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:+PerfDisableSharedMem")
    pp = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + pp if pp else "")
    os.chdir(os.path.join(work, "cwd"))


def stop_spark(spark) -> None:
    """Stop Spark, end the JVM and wait until every process of the tree
    has exited."""
    sc = spark.sparkContext
    gw = sc._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    try:
        gw.shutdown()
    except Exception:
        pass
    if proc is not None:
        try:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        except Exception:
            pass
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    from proctree import descendants

    deadline = time.time() + 30
    while time.time() < deadline:
        left = descendants(os.getpid())
        if not left:
            return
        time.sleep(0.2)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, 9)
        except OSError:
            pass


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    import gen
    import workloads

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload}; one of {sorted(workloads.WORKLOADS)}")

    # The engine under test is the checkout's; fail before any work otherwise.
    import drill_spark
    from drill_spark.session import get_spark

    if not os.path.abspath(drill_spark.__file__).startswith(ROOT + os.sep):
        raise SystemExit(f"drill_spark imported from {drill_spark.__file__}, not {ROOT}")

    cores = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count())
    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    real_cwd = os.getcwd()
    isolate(work)
    spark = sampler = None
    try:
        t_gen = time.perf_counter()
        inputs = gen.GENERATORS[args.workload](args.seed, os.path.join(work, "inputs"))
        workload = workloads.WORKLOADS[args.workload](inputs)
        gen_s = time.perf_counter() - t_gen
        log(f"inputs and expected results in {gen_s:.2f}s: {inputs['rows']}")

        from proctree import RssSampler

        tracer = None
        if args.trace:
            from tracing import Tracer

            tracer = Tracer()
            tracer.install_wrappers()
            tracer.install_py4j_counter()
        sampler = RssSampler().start()
        span = tracer.span if tracer else (lambda name: contextlib.nullcontext())

        t0 = time.perf_counter()
        with span("session.get_spark"):
            spark = get_spark("perfbench", cores=cores)
        spark_start_s = time.perf_counter() - t0
        if tracer:
            tracer.sc = spark.sparkContext
        from drill_spark import DrillSession

        t1 = time.perf_counter()
        with span("session.DrillSession"):
            session = DrillSession(spark)
        register_s = (tracer.span_total("setup", "functions.register_all") if tracer
                      else time.perf_counter() - t1)
        out_dir = os.path.join(work, "out")
        session.register_workspace("bench", out_dir, "parquet", writable=True)
        ctx = Ctx(session, out_dir, tracer)
        with span("bench.workload_setup"):
            workload.setup(ctx)

        records: list = []
        t_warm = time.perf_counter()
        warm_times: list[float] = []
        for i in range(WARM_PASSES[args.workload]):
            warm_times.append(run_pass(ctx, workload, f"w{i}", records))
        warmup_s = time.perf_counter() - t_warm
        setup_s = seconds_since_process_start() - gen_s
        log(f"set-up {setup_s:.2f}s (spark {spark_start_s:.2f}s, DrillSession "
            f"{time.perf_counter() - t1 - warmup_s:.2f}s, warmup passes "
            f"{[round(t, 2) for t in warm_times]})")

        probes = [probe(spark)] if tracer else []
        timed: list = []
        pass_times = []
        ticks0 = cpu_ticks()
        for i in range(max(MIN_PASSES, round(args.seconds / PASS_S[args.workload]))):
            pass_times.append(run_pass(ctx, workload, f"p{i}", timed))
            if tracer:
                probes.append(probe(spark))
        phase_wall = sum(pass_times)
        steal_share = steal_share_since(ticks0)
        log(f"timed phase {phase_wall:.2f}s, passes {[round(t, 2) for t in pass_times]}")
        temp_views = len(spark.catalog.listTables()) if tracer else 0
        sampler.stop()

        warm_ok = all(r["ok"] for r in records)
        failed = sum(not r["ok"] for r in timed)
        e2e, e2e_info = end_to_end(timed, phase_wall, setup_s, sampler.peak)
        detail = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "cores": cores, "inputs": inputs["files"],
            "input_rows": inputs["rows"], "generate_s": gen_s,
            "setup": {"spark_start_s": spark_start_s, "register_s": register_s,
                      "warmup_s": warmup_s, "warmup_passes": warm_times},
            "passes": pass_times, "phase_wall_s": phase_wall, "steal_share": steal_share,
            "end_to_end": e2e, **e2e_info,
            "operations": [{k: v for k, v in r.items() if k not in ("stats",)}
                           for r in records + timed],
        }
        if tracer:
            setup = {"spark_start_s": spark_start_s, "register_s": register_s,
                     "warmup_s": warmup_s}
            layers = per_layer(timed, tracer, setup, probes, temp_views, cores)
            layers["host.steal_share"] = steal_share
            ids = {r["id"] for r in timed}
            detail["per_layer"] = layers
            detail["self_time_s_per_op"] = {
                k: v / len(timed) for k, v in sorted(tracer.self_times(ids).items())}
            detail["setup_self_time_s"] = tracer.self_times({"setup"})
            detail["spans"] = tracer.spans
            metrics = {name: {"value": layers[name], "unit": unit} for name, unit in PER_LAYER}
            # spans were kept in memory until now
            with open(os.path.join(ROOT, ".perfbench",
                                   f"trace-{args.workload}-{args.seed}.json"), "w") as f:
                json.dump(detail, f, indent=1, default=str)
        else:
            metrics = {name: {"value": e2e[name], "unit": unit} for name, unit in END_TO_END}
        summary = {k: detail[k] for k in (
            "workload", "seed", "cores", "input_rows", "inputs", "passes", "steal_share",
            "query_tail_percentile", "query_samples", "write_samples")}
        result = {"correct": warm_ok and failed == 0, "attempted": len(timed),
                  "failed": failed, "metrics": metrics}
    finally:
        if spark is not None:
            stop_spark(spark)
        if sampler is not None:
            sampler.stop()
        os.chdir(real_cwd)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    print(json.dumps(summary))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
