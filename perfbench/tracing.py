"""Per-layer tracing for the traced benchmark run.

Everything here observes the engine from outside: spans around calls
into the engine's public functions (``dialect.translate``,
``dml.execute``, a declared query's builder, ``toPandas``), one Spark
job tag per operation (``SparkContext.addJobTag`` is thread-local, so
it is safe under the concurrent clients), and Spark's own counters read
once at the end of the run from the status stores, grouped by that tag.
Spans stay in memory and are written out once, when the run ends.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import threading
import time
from collections import defaultdict

TAG_PREFIX = "perfbench-op-"

#: SQL metric descriptions of the Python-worker layer (Spark 4.1
#: ``PythonSQLMetrics``) -> per-layer metric name
PYTHON_METRICS = {
    "time to run Python workers": "spark.python.run_ms",
    "time to start Python workers": "spark.python.start_ms",
    "time to initialize Python workers": "spark.python.init_ms",
    "data sent to Python workers": "spark.python.bytes_sent",
    "data returned from Python workers": "spark.python.bytes_returned",
}

_UNITS = {
    "ns": 1e-6, "ms": 1.0, "s": 1e3, "m": 60e3, "h": 3600e3, "min": 60e3,
    "B": 1.0, "KiB": 1024.0, "MiB": 1024.0**2, "GiB": 1024.0**3, "TiB": 1024.0**4,
}
_VALUE_RE = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def parse_sql_metric(text: str) -> float:
    """Total of a formatted SQL metric ("1.3 s", "567.0 KiB", or the
    multi-line "total (min, med, max ...)\\n2.0 s (...)" form) in ms or
    bytes."""
    lines = text.strip().splitlines()
    m = _VALUE_RE.match(lines[-1] if len(lines) > 1 else lines[0])
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


class NullTracer:
    """Tracing off: every hook is a no-op."""

    enabled = False

    def operation(self, spark, op):
        return contextlib.nullcontext()

    def span(self, name):
        return contextlib.nullcontext()

    def catalyst(self, op, df) -> None:
        pass


class Tracer:
    """Spans and per-operation counters of one traced run."""

    enabled = True

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self.phase_ms: dict[int, dict[str, float]] = {}
        self.translate_ms = 0.0
        self.translate_calls = 0
        self._restore: list = []

    # -- spans ---------------------------------------------------------

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str):
        stack = self._stack()
        parent = stack[-1] if stack else None
        rec = {
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": parent["id"] if parent else None,
            "op": getattr(self._local, "op", None),
        }
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.perf_counter()

    @contextlib.contextmanager
    def operation(self, spark, op):
        """Root span of one operation; its Spark jobs carry its tag."""
        sc = spark.sparkContext
        tag = f"{TAG_PREFIX}{op.op_id}"
        self._local.op = op.op_id
        sc.addJobTag(tag)
        try:
            with self.span(f"op:{op.name}"):
                yield
        finally:
            sc.removeJobTag(tag)
            self._local.op = None

    # -- wrapped engine entry points ------------------------------------

    def wrap_translate(self, *modules) -> None:
        """Time the outermost ``translate`` call on each thread; the
        same function object is bound under ``translate`` in each
        given module."""
        original = modules[0].translate

        def translate(*args, **kwargs):
            if getattr(self._local, "in_translate", False):
                return original(*args, **kwargs)
            self._local.in_translate = True
            t0 = time.perf_counter()
            try:
                with self.span("dialect.translate"):
                    return original(*args, **kwargs)
            finally:
                dt = time.perf_counter() - t0
                self._local.in_translate = False
                with self._lock:
                    self.translate_ms += dt * 1e3
                    self.translate_calls += 1

        for mod in modules:
            self._restore.append((mod, "translate", mod.translate))
            mod.translate = translate

    def restore(self) -> None:
        for mod, attr, fn in reversed(self._restore):
            setattr(mod, attr, fn)
        self._restore.clear()

    def catalyst(self, op, df) -> None:
        """Catalyst phase times of the operation's final frame."""
        try:
            jvm = df.sparkSession.sparkContext._jvm
            phases = jvm.scala.jdk.javaapi.CollectionConverters.asJava(
                df._jdf.queryExecution().tracker().phases()
            )
            out = {}
            for key in ("analysis", "optimization", "planning"):
                ph = phases.get(key)
                out[key] = float(ph.endTimeMs() - ph.startTimeMs()) if ph else 0.0
        except Exception:  # noqa: BLE001 - a frame without a QueryExecution
            return
        self.phase_ms[op.op_id] = out

    # -- Spark counters, read once after the run -------------------------

    def spark_counters(self, spark) -> dict[int, dict[str, float]]:
        """op id -> summed execution counters of the jobs tagged for it."""
        jsc = spark.sparkContext._jsc.sc()
        jvm = spark.sparkContext._jvm
        conv = jvm.scala.jdk.javaapi.CollectionConverters
        store = jsc.statusStore()
        per_op: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        job_op: dict[int, int] = {}
        job_stages: dict[int, list[int]] = {}
        for job in conv.asJava(store.jobsList(None)).toArray():
            op_id = None
            for tag in conv.asJava(job.jobTags()).toArray():
                if tag.startswith(TAG_PREFIX):
                    op_id = int(tag[len(TAG_PREFIX):])
            if op_id is None:
                continue
            jid = job.jobId()
            job_op[jid] = op_id
            job_stages[jid] = list(conv.asJava(job.stageIds()).toArray())
            c = per_op[op_id]
            c["spark.exec.jobs"] += 1
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                c["spark.exec.job_ms"] += done.get().getTime() - sub.get().getTime()
        stages = {}
        empty = jvm.java.util.ArrayList()
        quantiles = spark.sparkContext._gateway.new_array(jvm.double, 0)
        for st in conv.asJava(store.stageList(None, False, False, quantiles, empty)).toArray():
            if str(st.status()) == "SKIPPED":
                continue
            s = stages.setdefault(st.stageId(), defaultdict(float))
            s["spark.exec.stages"] = 1
            s["spark.exec.tasks"] += st.numCompleteTasks() + st.numFailedTasks()
            s["spark.exec.failed_tasks"] += st.numFailedTasks()
            s["spark.exec.task_run_ms"] += st.executorRunTime()
            s["spark.exec.shuffle_read_bytes"] += st.shuffleReadBytes()
            s["spark.exec.shuffle_write_bytes"] += st.shuffleWriteBytes()
            s["spark.exec.spill_bytes"] += st.diskBytesSpilled()
        for jid, op_id in job_op.items():
            for sid in job_stages[jid]:
                for k, v in stages.pop(sid, {}).items():
                    per_op[op_id][k] += v
        sql = spark._jsparkSession.sharedState().statusStore()
        for ex in conv.asJava(sql.executionsList()).toArray():
            wanted = {
                int(acc): PYTHON_METRICS[desc]
                for desc, acc in re.findall(
                    r"SQLPlanMetric\(([^,()]+),(\d+),", ex.metrics().toString()
                )
                if desc in PYTHON_METRICS
            }
            if not wanted:
                continue
            ops = {job_op.get(j) for j in conv.asJava(ex.jobs()).keySet().toArray()}
            ops.discard(None)
            if len(ops) != 1:
                continue
            op_id = ops.pop()
            values = conv.asJava(sql.executionMetrics(ex.executionId()))
            for entry in values.entrySet().toArray():
                name = wanted.get(entry.getKey())
                if name:
                    per_op[op_id][name] += parse_sql_metric(entry.getValue())
        return per_op

    def write_spans(self, path: str, t0: float) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(
                    json.dumps(
                        {
                            "id": s["id"],
                            "name": s["name"],
                            "start_ms": round((s["start"] - t0) * 1e3, 3),
                            "end_ms": round(((s["end"] or s["start"]) - t0) * 1e3, 3),
                            "parent": s["parent"],
                            "op": s["op"],
                        }
                    )
                    + "\n"
                )


def written(before: dict, after: dict) -> tuple[int, int]:
    """(bytes, files) that are new or rewritten between two snapshots."""
    files = [k for k, v in after.items() if before.get(k) != v]
    return sum(after[k][0] for k in files), len(files)
