"""Per-query Spark JOB decomposition for optimization work (guide §1.2
step 2: "count the jobs").

Usage: python scripts/job_profile.py q [q...]

Runs each named query once (warm, untimed) then once timed with the
bench's count action, with the Spark event log enabled, and prints per
query: number of jobs, wall per job, task counts and the job's first
stage name — the tool that shows WHERE a fixed-cost-dominated query
spends its wall (many joblings at the scheduler floor vs one real job).
"""

from __future__ import annotations

import glob
import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    names = sys.argv[1:]
    import __spark_entry__ as entrymod

    unknown = [n for n in names if n not in entrymod.REGISTRY]
    if unknown:
        print(f"unknown queries: {' '.join(unknown)}", file=sys.stderr)
        return 2

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    evdir = tempfile.mkdtemp(prefix="sparkev_")

    from drill_spark.session import get_spark

    spark = get_spark(
        "job_profile", cores=cpus,
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": evdir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    qs = entrymod.queries()

    marks: list[tuple[str, float, float]] = []  # (name, t_start, t_end)
    for name in names:
        spark.sparkContext.setJobDescription(f"warm:{name}")
        try:
            qs[name](spark, sf_dir).count()
        except Exception as e:
            print(f"warm {name}: {type(e).__name__}: {e}")
            continue
        spark.sparkContext.setJobDescription(f"timed:{name}")
        t0 = time.time()
        qs[name](spark, sf_dir).count()
        t1 = time.time()
        marks.append((name, t0 * 1000, t1 * 1000))
        print(f"[wall] {name}: {t1 - t0:.3f}s")
    spark.sparkContext.setJobDescription(None)
    spark.stop()

    # parse the event log: job start/end + first stage name per job
    jobs = []  # (submit_ms, end_ms, n_tasks, desc, stage_name)
    paths = []
    for p in glob.glob(os.path.join(evdir, "*")):
        if os.path.isdir(p):
            paths.extend(q for q in glob.glob(os.path.join(p, "*"))
                         if os.path.isfile(q) and "appstatus" not in q)
        else:
            paths.append(p)
    for path in paths:
        with open(path) as f:
            stages_tasks: dict[int, int] = {}
            stage_names: dict[int, str] = {}
            pend: dict[int, dict] = {}
            for line in f:
                try:
                    ev = json.loads(line)
                except Exception:
                    continue
                et = ev.get("Event")
                if et == "SparkListenerJobStart":
                    sid = ev.get("Stage Infos") or []
                    n_tasks = sum(s.get("Number of Tasks", 0) for s in sid)
                    sname = sid[0].get("Stage Name", "?") if sid else "?"
                    pend[ev["Job ID"]] = {
                        "t0": ev["Submission Time"],
                        "n_tasks": n_tasks,
                        "desc": (ev.get("Properties") or {}).get(
                            "spark.job.description", ""),
                        "stage": sname,
                        "n_stages": len(sid),
                    }
                elif et == "SparkListenerJobEnd":
                    j = pend.pop(ev["Job ID"], None)
                    if j is not None:
                        jobs.append((j["t0"], ev["Completion Time"],
                                     j["n_tasks"], j["desc"], j["stage"],
                                     j["n_stages"]))
    jobs.sort()
    for name, t0, t1 in marks:
        mine = [j for j in jobs if j[0] >= t0 - 5 and j[0] <= t1 + 5]
        total = sum(j[1] - j[0] for j in mine)
        print(f"\n=== {name}: {len(mine)} jobs, sum(job wall)={total/1000:.3f}s, "
              f"query wall={(t1 - t0)/1000:.3f}s")
        for j in mine:
            print(f"  {(j[1] - j[0])/1000:7.3f}s  tasks={j[2]:4d} stages={j[5]:2d}  {j[4][:90]}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
