"""Survey catalog entries: Spark jobs, stages, shuffle and input volume, the
build/action split and the labelled pins of each entry, read from Spark's
status stores with the UI off.

    python3 tools/survey.py [--reps N] [--calib] [--plans DIR] [ENTRY ...]

With no ENTRY it surveys ``bench.HEADLINE``.  The data directory is
``SPARK_GRAFT_SF_DIR`` (default: the sf0.01 copies in ``perfbench/data``);
the session runs on ``local[$SPARK_GRAFT_CPUS]``, as ``bench.py``'s does.

Each entry runs one warm build plus noop-sink action, then ``--reps``
measured ones (default 3).  The jobs, stages and volumes are read the way
the benchmark's traced run reads them (``perfbench/layers.Tracer``).  The
fields of the fastest measured rep are reported:

* ``wall``, ``build_s``, ``exec_s``: seconds of build + action, of building
  the query (eager pins and stream drains run here) and of the action;
* ``build_jobs``, ``jobs``: Spark jobs of the build and of the action;
* ``stages``, ``shuffle_read_mb``, ``shuffle_write_mb``, ``input_mb``: the
  stages the action's jobs ran and their volumes;
* ``pins``: ``{label: {"calls", "jobs", "s"}}`` from the SQL executions
  described ``pin:<label>`` (one ``session.pin`` call is one execution),
  so ``calls`` of a loop's round label is its rounds to convergence.

``walls`` lists every rep, and ``run_jobs`` the ``[build_jobs, jobs]`` of
every run, the warm run first, so run-to-run job noise shows as spread.
``--calib`` adds ``calib_before`` and ``calib_after``, the host probe of
``bench.py`` run before and after the survey.  ``--plans DIR`` writes each
entry's ``explain("formatted")`` to ``DIR/<entry>.txt``.  An A/B is two
runs of this command alternated between two checkouts.  The result is one
JSON line on stdout.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import bench  # noqa: E402
from perfbench.layers import Tracer  # noqa: E402

# keep every job, stage and SQL execution of the run in the status stores
RETAIN = {
    "spark.ui.retainedJobs": "100000",
    "spark.ui.retainedStages": "100000",
    "spark.sql.ui.retainedExecutions": "100000",
}


def _pins(spark, first_job: int, end_job: int) -> dict[str, dict]:
    """``{label: {"calls", "jobs", "s"}}`` over the SQL executions described
    ``pin:<label>`` that ran jobs ``first_job`` .. ``end_job - 1``."""
    status = spark.sparkContext._jsc.sc().statusStore()
    sql = spark._jsparkSession.sharedState().statusStore()
    exec_ids = {}  # insertion-ordered: labels appear in the order they ran
    for jid in range(first_job, end_job):
        eid = status.jobWithAssociatedSql(jid)._2()
        if eid.isDefined():
            exec_ids[eid.get()] = None
    pins: dict[str, dict] = {}
    for eid in exec_ids:
        ex = sql.execution(eid).get()
        if not ex.description().startswith("pin:"):
            continue
        p = pins.setdefault(ex.description()[4:],
                            {"calls": 0, "jobs": 0, "s": 0.0})
        p["calls"] += 1
        p["jobs"] += ex.jobs().size()
        done = ex.completionTime()
        if done.isDefined():
            p["s"] += (done.get().getTime() - ex.submissionTime()) / 1e3
    for p in pins.values():
        p["s"] = round(p["s"], 3)
    return pins


def _run(spark, tracer, query, data_dir, plans_file=None) -> dict:
    """One build plus noop-sink action of catalog builder ``query``,
    traced."""
    tracer.start_pass()
    marks = [tracer.mark()]
    t0 = time.perf_counter()
    df = query(spark, data_dir)
    t1 = time.perf_counter()
    marks.append(tracer.mark())
    if plans_file:
        with open(plans_file, "w") as f:
            f.write(df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"))
    df.write.format("noop").mode("overwrite").save()
    t2 = time.perf_counter()
    marks.append(tracer.mark())
    tracer.record(tuple(marks), t1 - t0, t2 - t1)
    t = tracer.totals
    return {
        "wall": round(t2 - t0, 3),
        "build_s": round(t1 - t0, 3),
        "exec_s": round(t2 - t1, 3),
        "build_jobs": marks[1] - marks[0],
        "jobs": marks[2] - marks[1],
        "stages": int(t["engine.stages"]),
        "shuffle_read_mb": round(t["engine.shuffle_read_mb"], 3),
        "shuffle_write_mb": round(t["engine.shuffle_write_mb"], 3),
        "input_mb": round(t["engine.input_mb"], 3),
        "pins": _pins(spark, marks[0], marks[2]),
    }


def survey(spark, names, data_dir: str, reps: int = 3,
           plans_dir: str | None = None) -> dict[str, dict]:
    """Survey ``names`` at ``data_dir``; the result keyed by entry (see the
    module docstring).  An entry that raises reports ``{"error": ...}``."""
    from gofast_spark.plans.catalog import QUERIES

    tracer = Tracer(spark)
    out = {}
    try:
        for name in names:
            plans_file = plans_dir and os.path.join(plans_dir, f"{name}.txt")
            try:
                query = QUERIES[name]
                runs = [_run(spark, tracer, query, data_dir, plans_file)]
                runs += [_run(spark, tracer, query, data_dir)
                         for _ in range(reps)]
            except Exception as e:  # noqa: BLE001 - reported, not fatal
                traceback.print_exc(file=sys.stderr)
                tracer.skip()
                out[name] = {"error": f"{type(e).__name__}: {e}"[:500]}
                continue
            best = min(runs[1:], key=lambda r: r["wall"])
            out[name] = {
                **best,
                "walls": [r["wall"] for r in runs[1:]],
                "run_jobs": [[r["build_jobs"], r["jobs"]] for r in runs],
            }
            print(f"{name}: {json.dumps(out[name])}", file=sys.stderr,
                  flush=True)
    finally:
        # the stream listener Tracer added would outlive the survey
        spark.streams.removeListener(tracer._streams)
    return out


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("entries", nargs="*", help="catalog entries "
                    "(default: bench.HEADLINE)")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--calib", action="store_true",
                    help="run bench.py's host probe before and after")
    ap.add_argument("--plans", metavar="DIR",
                    help="write each entry's formatted plan to DIR")
    args = ap.parse_args()
    if args.reps < 1:
        ap.error("--reps must be at least 1")
    if args.plans:
        os.makedirs(args.plans, exist_ok=True)
    data_dir = os.environ.get("SPARK_GRAFT_SF_DIR",
                              os.path.join(ROOT, "perfbench/data/sf0.01"))

    from gofast_spark import get_session

    spark = get_session("gofast-spark-survey", **RETAIN)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        calib = {"calib_before": bench._calibrate(spark)} if args.calib else {}
        out = survey(spark, args.entries or bench.HEADLINE, data_dir,
                     args.reps, args.plans)
        if args.calib:
            calib["calib_after"] = bench._calibrate(spark)
    finally:
        spark.stop()
    print(json.dumps({**out, **calib}), flush=True)


if __name__ == "__main__":
    main()
