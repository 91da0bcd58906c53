"""The traced run's in-memory spans and its per-layer split.

Spans nest run → pass → op sample → Spark job.  Job, stage and task
counters come from Spark's own status stores (``AppStatusStore`` for jobs
and stages, the SQL store for the Python-worker metrics), read after each
sample from its job group once the listener bus has delivered every event
of the sample, so no job or stage is read half-updated.  Nothing inside the package is instrumented.
"""

from __future__ import annotations

import itertools
import statistics
import time
from dataclasses import dataclass, field

MODULES = ("operators", "mapreduce", "functions")
MODULE_METRICS = {
    "plan_s": "s", "exec_s": "s", "driver_gap_s": "s",
    "jobs": "count", "stages": "count", "tasks": "count",
    "executor_run_s": "s", "executor_cpu_s": "s", "gc_s": "s",
    "spill_bytes": "bytes", "shuffle_write_bytes": "bytes",
    "shuffle_read_bytes": "bytes", "task_skew": "ratio",
    "python_s": "s", "python_bytes_sent": "bytes", "python_bytes_received": "bytes",
}
# Which end-to-end metric each layer metric should move, and where; a
# module's metrics are predicted to leave the other two workloads flat.
LAYER_MAP = {
    "session.start_s": "setup_s on all workloads",
    "sources.stage_s": "setup_s on all workloads",
    "session.warmup_s": "none gated: the cold cost a one-shot CLI run pays",
    "sources.input_bytes": "wall_s on star_sql",
    "sources.input_records": "wall_s on star_sql",
    "sources.decode_s": "wall_s on matmul_job",
    "sinks.write_s": "wall_s on matmul_job and corpus_curate; flat on star_sql",
    "sinks.output_bytes": "wall_s on matmul_job and corpus_curate; flat on star_sql",
    "m.plan_s": "op_geomean_s on m's workload",
    "m.exec_s": "wall_s and op_geomean_s on m's workload",
    "m.driver_gap_s": "op_geomean_s: short star_sql queries, curate's eager actions",
    "m.jobs|stages|tasks": "op_geomean_s on m's workload",
    "m.executor_run_s|executor_cpu_s": "wall_s and cpu_s",
    "m.gc_s|spill_bytes": "jvm_peak_rss_mb and wall_s",
    "m.shuffle_write_bytes|shuffle_read_bytes": "wall_s",
    "m.task_skew": "wall_s on corpus_curate (hot-key ppjoin)",
    "m.python_s|python_bytes_sent|python_bytes_received":
        "wall_s and cpu_s on matmul_job (matrix decode, block GEMM);"
        " zero on corpus_curate (its quality gate is JVM-side) and star_sql",
}
# SQL metric names of the Python-worker operators
_PY_METRICS = {
    "time to run Python workers": "python_s",
    "data sent to Python workers": "python_bytes_sent",
    "data returned from Python workers": "python_bytes_received",
}


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Keeps spans in memory; ``enabled=False`` makes every call a no-op
    apart from handing out span ids."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._spark = spark
        self._seen_stages: set[int] = set()
        self._seen_execs = 0
        self._accs = spark.sparkContext._jvm.org.apache.spark.util.AccumulatorContext

    def start(self, name: str, parent: int | None = None, **attrs) -> Span:
        span = Span(next(self._ids), parent, name, time.time(), attrs=attrs)
        if self.enabled:
            self.spans.append(span)
        return span

    @staticmethod
    def end(span: Span, **attrs) -> None:
        span.end = time.time()
        span.attrs.update(attrs)

    def collect_sample(self, span: Span, group: str, exec_window: tuple[float, float]) -> dict:
        """Job, stage, task and Python-worker counters of one sample's job
        group; adds one child span per Spark job."""
        sc = self._spark.sparkContext
        # the stores are fed asynchronously by the listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        store = sc._jsc.sc().statusStore()
        quantiles = sc._gateway.new_array(sc._jvm.double, 2)
        quantiles[0], quantiles[1] = 0.5, 1.0
        c = dict.fromkeys(
            ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
             "spill_bytes", "shuffle_write_bytes", "shuffle_read_bytes", "task_skew",
             "python_s", "python_bytes_sent", "python_bytes_received"), 0.0)
        job_ids = sorted(sc.statusTracker().getJobIdsForGroup(group))
        intervals = []
        for jid in job_ids:
            job = store.job(jid)
            t0 = job.submissionTime().get().getTime() / 1000.0
            done = job.completionTime()
            t1 = done.get().getTime() / 1000.0 if done.isDefined() else t0
            intervals.append((t0, t1))
            js = Span(next(self._ids), span.id, f"job {jid}", t0, t1,
                      {"status": job.status().toString()})
            self.spans.append(js)
            c["jobs"] += 1
            ids = job.stageIds()
            for k in range(ids.size()):
                sid = ids.apply(k)
                if sid in self._seen_stages:
                    continue
                stage = store.lastStageAttempt(sid)
                if stage.status().toString() == "SKIPPED":
                    continue
                self._seen_stages.add(sid)
                c["stages"] += 1
                c["tasks"] += stage.numTasks()
                c["executor_run_s"] += stage.executorRunTime() / 1e3
                c["executor_cpu_s"] += stage.executorCpuTime() / 1e9
                c["gc_s"] += stage.jvmGcTime() / 1e3
                c["spill_bytes"] += stage.memoryBytesSpilled() + stage.diskBytesSpilled()
                c["shuffle_write_bytes"] += stage.shuffleWriteBytes()
                c["shuffle_read_bytes"] += stage.shuffleReadBytes()
                summary = store.taskSummary(sid, stage.attemptId(), quantiles)
                if summary.isDefined():
                    run = summary.get().executorRunTime()
                    c["task_skew"] = max(c["task_skew"], run.apply(1) / max(run.apply(0), 1.0))
        c.update(self._python_metrics(set(job_ids)))
        c["driver_gap_s"] = _uncovered(exec_window, intervals)
        span.attrs.update(c)
        return c

    def _python_metrics(self, job_ids: set[int]) -> dict:
        """Python-worker SQL metrics of the SQL executions that ran
        ``job_ids``.  Plans run outside a SQL execution (``DataFrame.rdd``)
        are not covered."""
        sql_store = self._spark._jsparkSession.sharedState().statusStore()
        n = int(sql_store.executionsCount())
        execs = sql_store.executionsList(self._seen_execs, n - self._seen_execs)
        self._seen_execs = n
        out = dict.fromkeys(_PY_METRICS.values(), 0.0)
        seen = set()
        for i in range(execs.size()):
            ex = execs.apply(i)
            if not any(ex.jobs().contains(j) for j in job_ids):
                continue
            metrics = ex.metrics()
            for k in range(metrics.size()):
                m = metrics.apply(k)
                key = _PY_METRICS.get(m.name())
                # AQE re-plans list one accumulator under several plan nodes
                if key is None or m.accumulatorId() in seen:
                    continue
                seen.add(m.accumulatorId())
                acc = self._accs.get(m.accumulatorId())
                if acc.isDefined():
                    value = acc.get().value()
                    out[key] += value / 1e3 if key == "python_s" else value
        return out

    def dump(self) -> list[dict]:
        return [vars(s) for s in self.spans]


def _uncovered(window: tuple[float, float], intervals: list[tuple[float, float]]) -> float:
    """Length of ``window`` not covered by the union of ``intervals``."""
    lo, hi = window
    covered, cursor = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cursor), min(b, hi)
        if b > a:
            covered += b - a
            cursor = b
    return max(0.0, (hi - lo) - covered)


def layer_metrics(samples: list[dict], ops_module: dict[str, str]) -> dict[str, float]:
    """Per-module metrics of one pass: each op's median over its timed
    samples, summed over the module's ops (``task_skew``: the max)."""
    by_op: dict[str, list[dict]] = {}
    for s in samples:
        by_op.setdefault(s["op"], []).append(s)
    out = {f"{m}.{k}": 0.0 for m in MODULES for k in MODULE_METRICS}
    for op, rows in by_op.items():
        m = ops_module[op]
        for k in MODULE_METRICS:
            med = statistics.median(r[k] for r in rows)
            key = f"{m}.{k}"
            out[key] = max(out[key], med) if k == "task_skew" else out[key] + med
    return out
