"""gofast-spark benchmark: one workload of catalog entries, closed loop.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 24 --trace 0

One process runs one workload (``perfbench/workloads.py``) on ``local[4]`` at
sf0.01 (the parquet under ``perfbench/data``) as a closed loop with one
client: one query at a time, each built with the catalog builder
``QUERIES[name](spark, data_dir)`` and executed.  The first pass, in a fresh
JVM, is the cold pass.  Its action is a collect, whose rows are compared
with the precomputed DuckDB oracle (``perfbench/oracle.json``) after the
timed passes.  Then, with a noop-sink write as the action, warm-up passes
run for the first half of ``--seconds`` and warm passes for the second
half, at least two of each; the warm-up lets the JIT settle (the driver
JVM compiles with C1 only, see ``JVM_OPTS``) and only the warm passes
count.  The cold pass runs the entries in workload order: the query a
fresh JVM runs first shapes its JIT profile, and runs whose first query
differed ran their warm passes up to twice as slow.  The seed only
shuffles the query order of the later passes.  A query that raises or
mismatches the oracle counts as failed; it never aborts the run.

``--trace 0`` reports the end-to-end metrics:

* ``setup_s``: median over two fresh processes (a probe and the run itself,
  which start at the same time) of importing ``gofast_spark`` and getting a
  ready ``get_session``;
* ``cold_pass_s``: the cold pass, build + collect per query, including
  codegen and JIT;
* ``warm_pass_s``: median warm pass;
* ``query_geomean_s``: geometric mean over entries of the median warm
  latency;
* ``query_p50_s``: median warm latency over all samples; the sample count,
  and the highest percentile with ten samples beyond it when a run has
  that many, are printed in the context line, as is ``failed_share``.

``--trace 1`` runs warm passes untraced and traced in the order U T T U
(repeated) and reports the per-layer metrics of ``perfbench/layers.py`` as
the median over traced passes, plus ``session.start_s``, ``host.calib_s``
(a fixed CPU probe sized for four cores), ``trace.overhead_frac`` (traced
vs untraced warm pass) and ``host.peak_rss_mb``, the peak resident memory
of the Python driver, the driver JVM and the Python workers, sampled
together. Peak memory is not an end-to-end metric: the driver JVM grows its
heap when the collector decides to, so the peak of one run differs from the
next by a factor of two. Stage counters (``engine.stages`` ..
``engine.gc_s``) cover the jobs of the final action;
``engine.cpu_busy_frac`` is their task CPU time over ``engine.exec_s`` x
cores. The jobs the build launches count in ``plans.build_jobs``,
``plans.build_task_cpu_s`` and ``plans.build_gc_s``.
A layer that a workload does not exercise reads 0 (``udf.*`` on
``iterative``, ``streaming.*`` on ``relational``).

Each run keeps its Spark local dirs, temp files and warehouse in a private
directory under ``.perfbench_tmp/`` of the checkout and removes it at exit.
The last line of stdout is the result JSON; the line before it records the
run context (versions, seed, per-pass query order and latencies, the wall
time of each phase of the run).
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = 4
SETUP_SAMPLES = 2
MIN_WARM_PASSES = 2
# the traced run alternates untraced and traced warm passes as U T T U
MIN_TRACED_WARM_PASSES = 4
# spark.range rows of the host probe: about 0.6 s on four cores
CALIB_ROWS = 100_000_000


# PerfDisableSharedMem: no hsperfdata file in the system /tmp.
# TieredStopAtLevel=1: the JIT compiles with C1 only.  With C2 as well, a
# one-minute run never reaches C2's steady state: on a 4-vCPU host the pass
# time kept falling for over 70 s, the warm pass of one JVM read up to 1.6x
# that of the next, and the C2 compiler threads kept about one of the four
# cores busy.  With C1 only a run settles within its warm-up, and session
# start and the cold pass take about 30% and 15% less; warm passes run as
# fast as C2's do a minute in.
JVM_OPTS = "-XX:+PerfDisableSharedMem -XX:TieredStopAtLevel=1"


def _session_conf(scratch: str, traced: bool) -> dict[str, str]:
    conf = {
        "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={scratch}/tmp {JVM_OPTS}",
    }
    if traced:
        # keep every job, stage and SQL execution of the run in the stores
        conf.update({
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        })
    return conf


def _start_session(scratch: str, traced: bool):
    """Import gofast_spark and get a session; returns (spark, seconds)."""
    t0 = time.perf_counter()
    from gofast_spark import get_session

    spark = get_session("gofast-spark-perfbench", master=f"local[{CORES}]",
                        **_session_conf(scratch, traced))
    return spark, time.perf_counter() - t0


def _stop_session(spark) -> None:
    """Stop Spark and wait for the driver JVM (and its Python workers) to
    exit: the JVM leaves when its stdin closes."""
    from pyspark import SparkContext

    proc = SparkContext._gateway.proc if SparkContext._gateway else None
    spark.stop()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _private_env(scratch: str) -> None:
    """Point every temp location of the driver, JVM and workers into
    ``scratch``, and put the repo root on the Python workers' path."""
    for d in ("local", "tmp", "warehouse"):
        os.makedirs(os.path.join(scratch, d))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "local")
    os.environ["SPARK_LAUNCHER_OPTS"] = JVM_OPTS
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(scratch, "tmp")
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    sys.path.insert(0, ROOT)


def _start_setup_probes(scratch: str, n: int) -> list[subprocess.Popen]:
    """Start ``n`` fresh processes that each time a session start."""
    return [subprocess.Popen(
        [sys.executable, os.path.abspath(__file__), "--probe-setup", scratch],
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
    ) for _ in range(n)]


def _finish_setup_probes(probes: list[subprocess.Popen]) -> list[float]:
    """Wait for the probes to exit; their session start times."""
    times = []
    for p in probes:
        out, _ = p.communicate(timeout=170)
        if p.returncode:
            raise RuntimeError(f"setup probe exited with {p.returncode}")
        times.append(float(out.strip().splitlines()[-1]))
    return times


class _RssSampler(threading.Thread):
    """Peak summed resident memory of this process and its descendants."""

    def __init__(self, period: float = 0.25) -> None:
        super().__init__(daemon=True)
        self._period = period
        self._stop_evt = threading.Event()
        self.peak_mb = 0.0

    @staticmethod
    def _tree_rss_mb() -> float:
        children: dict[int, list[int]] = {}
        rss: dict[int, int] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as f:
                    stat = f.read()
                with open(f"/proc/{entry}/statm") as f:
                    rss[int(entry)] = int(f.read().split()[1])
            except (OSError, IndexError, ValueError):
                continue
            ppid = int(stat.rsplit(")", 1)[1].split()[1])
            children.setdefault(ppid, []).append(int(entry))
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            total += rss.get(pid, 0)
            todo.extend(children.get(pid, ()))
        return total * os.sysconf("SC_PAGE_SIZE") / 2**20

    def run(self) -> None:
        while not self._stop_evt.is_set():
            self.peak_mb = max(self.peak_mb, self._tree_rss_mb())
            self._stop_evt.wait(self._period)

    def stop(self) -> float:
        self._stop_evt.set()
        self.join()
        return self.peak_mb


def _run_query(spark, queries, name, data_dir, tracer, failures, outputs):
    """Build and execute one entry; returns (latency seconds, succeeded).

    The action is a noop-sink write, or, when ``outputs`` is a dict, a
    collect whose columns and rows are stored there under ``name``."""
    marks = [tracer.mark()] if tracer else None
    t0 = time.perf_counter()
    try:
        df = queries[name](spark, data_dir)
        t1 = time.perf_counter()
        if tracer:
            marks.append(tracer.mark())
        if outputs is None:
            df.write.format("noop").mode("overwrite").save()
        else:
            rows = df.collect()
        t2 = time.perf_counter()
    except Exception:  # noqa: BLE001 - a failed query is counted, not fatal
        failures.append(name)
        traceback.print_exc(file=sys.stderr)
        if tracer:
            tracer.skip()
        return time.perf_counter() - t0, False
    if tracer:
        marks.append(tracer.mark())
        tracer.record(tuple(marks), t1 - t0, t2 - t1)
    if outputs is not None:
        outputs[name] = (df.columns, rows)
    return t2 - t0, True


def _mismatched(outputs: dict, scale: str) -> list[str]:
    """Entries whose collected output does not match the oracle digest."""
    import oracle

    expected = oracle.load()[scale]
    bad = []
    for name, (columns, rows) in outputs.items():
        try:
            ok = oracle.digest(columns, rows) == expected[name]
        except Exception:  # noqa: BLE001
            traceback.print_exc(file=sys.stderr)
            ok = False
        if not ok:
            bad.append(name)
    return bad


def _calibrate(spark) -> float:
    from pyspark.sql import functions as F

    runs = []
    for _ in range(3):
        t0 = time.perf_counter()
        spark.range(0, CALIB_ROWS, 1, CORES).select(
            F.expr("bit_xor(xxhash64(id))")
        ).write.format("noop").mode("overwrite").save()
        runs.append(time.perf_counter() - t0)
    return min(runs)


def _git_sha() -> str | None:
    """HEAD of the checkout when it is a git work tree; None otherwise."""
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def _context(spark, args, scale) -> dict:
    import platform

    jvm = spark.sparkContext._jvm
    return {
        "workload": args.workload, "seed": args.seed, "scale": scale,
        "seconds": args.seconds, "trace": args.trace,
        "nproc": os.cpu_count(), "cores": CORES,
        "spark": spark.version,
        "java": jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
        "git_sha": _git_sha(),
    }


def _measure(spark, names, data_dir, seconds, rng, tracer):
    """The cold pass, which collects the outputs, then warm-up and warm
    passes for ``seconds / 2`` each.  With a tracer, warm passes run
    untraced and traced as U T T U (repeated), which cancels a linear
    drift."""
    from gofast_spark.plans.catalog import QUERIES

    passes: list[dict] = []
    failures: list[str] = []
    outputs: dict = {}

    def one_pass(kind: str, traced: bool = False) -> None:
        order = list(names)
        if kind != "cold":
            rng.shuffle(order)
        if traced:
            tracer.start_pass()
        lat, ran = {}, set()
        for name in order:
            lat[name], ok = _run_query(
                spark, QUERIES, name, data_dir, tracer if traced else None,
                failures, outputs if kind == "cold" else None)
            if ok:
                ran.add(name)
        passes.append({"kind": kind, "lat": lat, "ran": ran,
                       "wall": sum(lat.values()),
                       "layers": dict(tracer.totals) if traced else None})

    one_pass("cold")
    t0, n = time.perf_counter(), 0
    while n < MIN_WARM_PASSES or time.perf_counter() - t0 < seconds / 2:
        one_pass("warmup")
        n += 1
    min_warm = MIN_TRACED_WARM_PASSES if tracer else MIN_WARM_PASSES
    t0, n = time.perf_counter(), 0
    while n < min_warm or time.perf_counter() - t0 < seconds / 2:
        one_pass("warm", tracer is not None and n % 4 in (1, 2))
        n += 1
    return passes, failures, outputs


def _end_to_end(passes, setup):
    warm = [p for p in passes if p["kind"] == "warm"]
    per_query: dict[str, list[float]] = {}
    for p in warm:
        for n in p["ran"]:
            per_query.setdefault(n, []).append(p["lat"][n])
    if not per_query:
        raise RuntimeError("no query succeeded in the warm passes")
    samples = sorted(v for vs in per_query.values() for v in vs)
    medians = {n: statistics.median(v) for n, v in per_query.items()}
    metrics = {
        "setup_s": (statistics.median(setup), "s"),
        "cold_pass_s": (passes[0]["wall"], "s"),
        "warm_pass_s": (statistics.median(p["wall"] for p in warm), "s"),
        "query_geomean_s": (
            math.exp(statistics.fmean(math.log(v) for v in medians.values())),
            "s"),
        "query_p50_s": (statistics.median(samples), "s"),
    }
    # the highest percentile with at least ten samples beyond it; a run
    # has too few warm samples for it to be steady, so it is context only
    tail = None
    if len(samples) > 10:
        i = len(samples) - 11
        tail = {"percentile": 100 * (i + 1) / len(samples),
                "value_s": samples[i]}
    extra = {"setup_samples": setup, "warm_samples": len(samples),
             "query_tail": tail, "entry_median_s": medians}
    return metrics, extra


def _per_layer(passes, session_s):
    from layers import PASS_METRICS

    warm = [p for p in passes if p["kind"] == "warm"]
    traced = [p["layers"] | {"wall": p["wall"]}
              for p in warm if p["layers"] is not None]
    untraced = [p["wall"] for p in warm if p["layers"] is None]

    def med(f):
        return statistics.median(f(t) for t in traced)

    metrics = {k: (med(lambda t: t[k]), u) for k, u in PASS_METRICS.items()}
    metrics.update({
        "plans.build_share": (med(lambda t: t["plans.build_s"] / (
            t["plans.build_s"] + t["engine.exec_s"])), "ratio"),
        "engine.cpu_busy_frac": (
            med(lambda t: t["engine.task_cpu_s"]
                / (t["engine.exec_s"] * CORES)),
            "ratio"),
        "session.start_s": (session_s, "s"),
        "trace.overhead_frac": (
            med(lambda t: t["wall"]) / statistics.median(untraced) - 1,
            "ratio"),
    })
    return metrics


def _bench(args, scratch: str) -> dict:
    from workloads import BENCH_SCALE, WORKLOADS

    scale = args.scale or BENCH_SCALE
    names = WORKLOADS[args.workload]
    data_dir = os.path.join(HERE, "data", scale)
    traced = bool(args.trace)
    phases = {}
    t0 = time.perf_counter()
    # a session start keeps about two of the four cores busy, so the probes
    # start theirs alongside the run's own; all have ended before the
    # cold pass
    probes = _start_setup_probes(scratch, 0 if traced else SETUP_SAMPLES - 1)
    try:
        spark, session_s = _start_session(scratch, traced)
    finally:
        setup = _finish_setup_probes(probes)
    phases["setup"] = time.perf_counter() - t0
    try:
        spark.sparkContext.setLogLevel("ERROR")
        setup.append(session_s)
        tracer = sampler = None
        if traced:
            from layers import Tracer

            tracer, sampler = Tracer(spark), _RssSampler()
            sampler.start()
        t0 = time.perf_counter()
        passes, failures, outputs = _measure(
            spark, names, data_dir, args.seconds, random.Random(args.seed),
            tracer)
        phases["passes"] = time.perf_counter() - t0
        if traced:
            host = {"host.peak_rss_mb": (sampler.stop(), "MB"),
                    "host.calib_s": (_calibrate(spark), "s")}
        context = _context(spark, args, scale)
    finally:
        t0 = time.perf_counter()
        _stop_session(spark)
        phases["stop"] = time.perf_counter() - t0

    t0 = time.perf_counter()
    mismatched = _mismatched(outputs, scale)
    phases["check"] = time.perf_counter() - t0
    attempted = sum(len(p["lat"]) for p in passes)
    failed = len(failures) + sum(
        1 for p in passes for n in p["lat"]
        if n in mismatched and n in p["ran"])
    if traced:
        metrics = _per_layer(passes, session_s) | host
        extra = {}
    else:
        metrics, extra = _end_to_end(passes, setup)
    context.update(extra)
    context.update({
        # per pass, in run order: its kind and entry -> latency
        "passes": [{"kind": p["kind"], "latency_s": p["lat"]}
                   | ({"layers": p["layers"]} if p["layers"] else {})
                   for p in passes],
        "failed_entries": sorted(set(failures)), "mismatched": mismatched,
        "failed_share": failed / attempted,
        # wall seconds of each phase of the run
        "phase_s": phases,
    })
    print(json.dumps({"context": context}), flush=True)
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def _parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=24)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", help="data scale under perfbench/data "
                    "(default: the benchmark scale, sf0.01)")
    ap.add_argument("--probe-setup", metavar="SCRATCH", help=argparse.SUPPRESS)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = _parse_args(argv)
    if args.probe_setup:
        # the parent made the scratch dirs and set the environment
        sys.path.insert(0, ROOT)
        spark, seconds = _start_session(args.probe_setup, traced=False)
        _stop_session(spark)
        print(f"{seconds!r}", flush=True)
        return 0
    sys.path.insert(0, HERE)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    missing = [p for p in ("gofast_spark/__init__.py", "tests/oracle_util.py")
               if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"not a gofast-spark checkout: missing {missing}", file=sys.stderr)
        return 2
    base = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(base, exist_ok=True)
    scratch = tempfile.mkdtemp(prefix="run-", dir=base)
    try:
        _private_env(scratch)
        result = _bench(args, scratch)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
