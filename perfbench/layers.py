"""Per-layer tracing for the benchmark, read from Spark's own status stores.

The traced run times the calls into each layer from outside (the catalog
builder is ``plans``, the final noop-sink action is ``engine``) and, between
queries, reads what Spark recorded while they ran:

* the AppStatusStore (jobs, stages and task metrics),
* the SQL status store (the Python-worker metrics of the MapInPandas /
  ArrowEvalPython / FlatMapGroupsInPandas nodes),
* a StreamingQueryListener (micro-batches and state stores).

All three work with ``spark.ui.enabled=false``.  Jobs are attributed to a
phase by job id: the benchmark runs one query at a time, so every job
started between two marks (including micro-batch jobs of a stream drain,
which run in their own job group) belongs to that phase.

``plans.build_s`` and ``engine.exec_s`` are wall times.  The stage counters
``engine.stages`` .. ``engine.gc_s`` cover the jobs of the final action
only; the task CPU and GC time of the jobs the build launches (eager pins,
stream drains) are ``plans.build_task_cpu_s`` and ``plans.build_gc_s``.
The times Spark records per task (``*task_*_s``, ``*gc_s``, ``udf.*`` and
``streaming.state_commit_s``) are summed over tasks, so on four cores they
can exceed the wall time of the pass.
"""

from __future__ import annotations

import re
import threading

from pyspark.sql.streaming import StreamingQueryListener

# SQL metric names of Spark's PythonSQLMetrics -> per-layer metric
_PY_METRICS = {
    "time to start Python workers": "udf.python_start_s",
    "time to initialize Python workers": "udf.python_init_s",
    "time to run Python workers": "udf.python_run_s",
    "data sent to Python workers": "udf.to_python_mb",
    "data returned from Python workers": "udf.from_python_mb",
}
_PLAN_METRIC = re.compile(r"SQLPlanMetric\(([^,]+),(\d+),")
_MAP_ENTRY = re.compile(r"(?:^\w*Map\(|, )(\d+) -> ")
_VALUE = re.compile(r"^(-?[\d.]+)\s*(B|KiB|MiB|GiB|TiB|ms|s|m|h)?")
_SCALE = {
    None: 1.0, "B": 1 / 2**20, "KiB": 1 / 2**10, "MiB": 1.0, "GiB": 2**10,
    "TiB": 2**20, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_MB = 1 / 2**20

# per-layer metrics summed over one pass -> unit
PASS_METRICS = {
    "plans.build_s": "s", "plans.build_jobs": "count",
    "plans.build_task_cpu_s": "s", "plans.build_gc_s": "s",
    "engine.exec_s": "s", "engine.jobs": "count", "engine.stages": "count",
    "engine.tasks": "count", "engine.task_run_s": "s",
    "engine.task_cpu_s": "s", "engine.shuffle_write_mb": "MB",
    "engine.shuffle_read_mb": "MB", "engine.input_mb": "MB",
    "engine.spill_mb": "MB", "engine.gc_s": "s",
    "udf.python_start_s": "s", "udf.python_init_s": "s",
    "udf.python_run_s": "s", "udf.to_python_mb": "MB",
    "udf.from_python_mb": "MB",
    "streaming.batches": "count", "streaming.batch_s": "s",
    "streaming.state_rows": "count", "streaming.state_commit_s": "s",
}
# per-stage counters, summed over the stages of a job
_STAGE_METRICS = (
    "engine.stages", "engine.tasks", "engine.task_run_s", "engine.task_cpu_s",
    "engine.shuffle_write_mb", "engine.shuffle_read_mb", "engine.input_mb",
    "engine.spill_mb", "engine.gc_s",
)


def _metric_value(text: str) -> float:
    """Total of a formatted SQL metric ("12 ms", or a "total (min, med,
    max ...)" header line followed by "1.5 MiB (...)"), in MB or seconds."""
    line = text.split("\n")[1] if "\n" in text else text
    m = _VALUE.match(line.strip())
    if m is None:
        return 0.0
    return float(m.group(1)) * _SCALE[m.group(2)]


class _StreamStats(StreamingQueryListener):
    """Counts micro-batches and state-store work of every stream drain."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._zero()

    def _zero(self) -> None:
        self.batches = 0
        self.batch_s = 0.0
        self.commit_s = 0.0
        self.state_rows: dict[str, int] = {}

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        ops = p.stateOperators or []
        with self._lock:
            self.batches += 1
            self.batch_s += p.durationMs.get("triggerExecution", 0) / 1e3
            self.commit_s += sum(o.commitTimeMs for o in ops) / 1e3
            # the state size after a query's last batch
            self.state_rows[str(p.id)] = sum(o.numRowsTotal for o in ops)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def take(self) -> dict[str, float]:
        with self._lock:
            out = {
                "streaming.batches": self.batches,
                "streaming.batch_s": self.batch_s,
                "streaming.state_rows": sum(self.state_rows.values()),
                "streaming.state_commit_s": self.commit_s,
            }
            self._zero()
        return out


class Tracer:
    """Attributes Spark jobs, stages and SQL executions to the build and
    action phases of each query, and sums them per pass."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        jsc = self._sc._jsc.sc()
        self._dag = jsc.dagScheduler()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._streams = _StreamStats()
        spark.streams.addListener(self._streams)
        self._seen_stages: set[int] = set()
        self._seen_execs = int(self._sql.executionsCount())
        self.totals = dict.fromkeys(PASS_METRICS, 0.0)

    def mark(self) -> int:
        """The id the next Spark job will get."""
        return int(self._dag.numTotalJobs())

    def start_pass(self) -> None:
        self.skip()
        self.totals = dict.fromkeys(PASS_METRICS, 0.0)

    def skip(self) -> None:
        """Drop what Spark recorded since the last query was recorded (an
        untraced pass, or a query that failed)."""
        self._flush()
        self._seen_execs = int(self._sql.executionsCount())
        self._streams.take()

    def record(self, marks: tuple[int, int, int], build_s: float,
               exec_s: float) -> None:
        """Add one query: ``marks`` are the job ids before the build, before
        the action and after it."""
        self._flush()
        t = self.totals
        t["plans.build_s"] += build_s
        t["engine.exec_s"] += exec_s
        t["plans.build_jobs"] += marks[1] - marks[0]
        t["engine.jobs"] += marks[2] - marks[1]
        for jid in range(marks[0], marks[1]):
            st = self._job_stages(jid)
            t["plans.build_task_cpu_s"] += st["engine.task_cpu_s"]
            t["plans.build_gc_s"] += st["engine.gc_s"]
        for jid in range(marks[1], marks[2]):
            for k, v in self._job_stages(jid).items():
                t[k] += v
        self._add_sql_executions()
        for k, v in self._streams.take().items():
            t[k] += v

    def _flush(self) -> None:
        self._bus.waitUntilEmpty()

    def _job_stages(self, jid: int) -> dict[str, float]:
        """Stage counters of the stages job ``jid`` ran, under their
        ``engine.*`` names."""
        t = dict.fromkeys(_STAGE_METRICS, 0.0)
        info = self._sc.statusTracker().getJobInfo(jid)
        if info is None:
            return t
        for sid in info.stageIds:
            # a job lists the shuffle stages it reuses from earlier jobs;
            # count each stage once, in the job that ran it
            if sid in self._seen_stages:
                continue
            self._seen_stages.add(sid)
            s = self._store.lastStageAttempt(sid)
            if s.status().toString() == "SKIPPED":
                continue
            t["engine.stages"] += 1
            t["engine.tasks"] += s.numCompleteTasks() + s.numFailedTasks()
            t["engine.task_run_s"] += s.executorRunTime() / 1e3
            t["engine.task_cpu_s"] += s.executorCpuTime() / 1e9
            t["engine.shuffle_write_mb"] += s.shuffleWriteBytes() * _MB
            t["engine.shuffle_read_mb"] += s.shuffleReadBytes() * _MB
            t["engine.input_mb"] += s.inputBytes() * _MB
            t["engine.spill_mb"] += (
                s.memoryBytesSpilled() + s.diskBytesSpilled()) * _MB
            t["engine.gc_s"] += s.jvmGcTime() / 1e3
        return t

    def _add_sql_executions(self) -> None:
        n = int(self._sql.executionsCount())
        if n <= self._seen_execs:
            return
        execs = self._sql.executionsList(self._seen_execs, n - self._seen_execs)
        self._seen_execs = n
        for i in range(execs.length()):
            ex = execs.apply(i)
            wanted = {
                int(acc): _PY_METRICS[name]
                for name, acc in _PLAN_METRIC.findall(ex.metrics().toString())
                if name in _PY_METRICS
            }
            if not wanted:
                continue
            text = self._sql.executionMetrics(ex.executionId()).toString()
            parts = _MAP_ENTRY.split(text.rstrip(")"))
            for acc, value in zip(parts[1::2], parts[2::2]):
                key = wanted.get(int(acc))
                if key is not None:
                    self.totals[key] += _metric_value(value)
