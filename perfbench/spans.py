"""Spans and Spark status-store counters for the benchmark.

Spans are recorded only around calls this benchmark makes, plus thin
wrappers installed at run time around public engine functions; the engine
sources are never edited. Spans live in memory and are summarised when the
run ends. A layer's self time is its span minus the time its child spans
cover.

Counters are read from Spark's status store (works with the UI disabled):
jobs and stages are attributed to an op by id range (ops run one at a time,
closed loop), and to a phase by the job group the benchmark sets around the
call (`<workload>:<op>:<phase>`). Jobs started from threads the benchmark
does not own (the streaming micro-batch thread, the engine's append pool)
carry no benchmark group and count as execution.
"""

from __future__ import annotations

import functools
import re
import time
from contextlib import contextmanager

# SQL metric of every Python-evaluation node (ArrowEvalPython, MapInPandas,
# BatchEvalPython, ...); nodes are picked by this metric, not by node name.
_PY_TIME = "time to run Python workers"
_PY_ROWS = "number of output rows"
_PY_NODE = re.compile(r"Python|Pandas|Arrow")
_DURATION = {"ms": 1.0, "s": 1e3, "m": 60e3, "h": 3600e3}


def _metric_number(text: str) -> tuple[float, str]:
    """First value of a formatted SQL metric: '2.7 s', '822 ms', '1,234',
    or the 'total (min, med, max ...)\\n5.0 s (...)' multi-task form."""
    lines = [ln for ln in text.splitlines() if not ln.startswith("total")]
    m = re.match(r"\s*([\d,.]+)\s*([a-zA-Z]*)", lines[0] if lines else "")
    if not m:
        return 0.0, ""
    return float(m.group(1).replace(",", "")), m.group(2)


class Tracer:
    """Per-run span log plus status-store readers for one SparkSession."""

    def __init__(self, spark, workload: str, enabled: bool):
        self.spark = spark
        self.sc = spark.sparkContext
        self.workload = workload
        self.enabled = enabled
        self.op: str | None = None
        # [name, start, end, parent index, op, phase]
        self.spans: list[list] = []
        self._stack: list[int] = []
        # catalyst.<phase>_ms summed over the timed ops' actions
        self.catalyst: dict[str, float] = {}
        jsc = self.sc._jsc.sc()
        self._dag = jsc.dagScheduler()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._sql = spark._jsparkSession.sharedState().statusStore()

    # -- spans -------------------------------------------------------------

    @contextmanager
    def span(self, name: str, phase: str | None = None):
        """Record a span; with `phase`, jobs started inside it are tagged
        `<workload>:<op>:<phase>` (traced runs only)."""
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append([name, time.perf_counter(), None, parent, self.op, phase])
        self._stack.append(idx)
        prev = None
        if phase:
            prev = self.sc.getLocalProperty("spark.jobGroup.id")
            self.sc.setJobGroup(f"{self.workload}:{self.op}:{phase}", phase, False)
        try:
            yield
        finally:
            self.spans[idx][2] = time.perf_counter()
            self._stack.pop()
            if phase:
                self.sc.setLocalProperty("spark.jobGroup.id", prev)

    def wrap(self, owner, attr: str, name: str, phase: str | None = None) -> None:
        """Replace `owner.attr` with a wrapper that records span `name`."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name, phase):
                return fn(*args, **kwargs)

        setattr(owner, attr, traced)

    def op_spans(self, op: str | None = None) -> list[list]:
        return [s for s in self.spans if s[4] is not None and (op is None or s[4] == op)]

    def total(self, name: str, outermost: bool = True) -> float:
        """Summed duration of timed-op spans called `name`; with
        `outermost`, a span nested in another of the same name is skipped."""
        out = 0.0
        for s in self.op_spans():
            if s[0] != name:
                continue
            if outermost and self.has_ancestor(s, name):
                continue
            out += s[2] - s[1]
        return out

    def count(self, name: str) -> int:
        return sum(1 for s in self.op_spans() if s[0] == name)

    def self_time(self, name: str) -> float:
        """Summed self time of spans called `name`: each span's duration
        minus the union of its direct children's intervals."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s[3] is not None:
                children.setdefault(s[3], []).append((s[1], s[2]))
        out = 0.0
        for i, s in enumerate(self.spans):
            if s[0] != name or s[4] is None:
                continue
            covered, cur_end = 0.0, s[1]
            for a, b in sorted(children.get(i, [])):
                a, b = max(a, cur_end), min(b, s[2])
                if b > a:
                    covered += b - a
                    cur_end = b
            out += (s[2] - s[1]) - covered
        return out

    def has_ancestor(self, s: list, name: str) -> bool:
        p = s[3]
        while p is not None:
            if self.spans[p][0] == name:
                return True
            p = self.spans[p][3]
        return False

    # -- status store ------------------------------------------------------

    def mark(self) -> tuple[int, int, int]:
        """Next job id, next stage id and SQL execution count: the lower
        bound of everything the next op starts."""
        return (
            int(self._dag.nextJobId()),
            int(self._dag.nextStageId()),
            int(self._sql.executionsCount()),
        )

    def counters(self, lo: tuple[int, int, int], hi: tuple[int, int, int],
                 python_metrics: bool) -> dict[str, float]:
        """Job, stage and Python-node counters for everything started in
        [lo, hi). Waits for the listener bus so the store is complete."""
        self._bus.waitUntilEmpty(60000)
        c = {
            "build.jobs": 0, "build.job_s": 0.0, "exec.jobs": 0,
            "exec.skipped_stages": 0, "exec.stages": 0, "exec.tasks": 0,
            "exec.executor_run_ms": 0.0, "exec.executor_cpu_ms": 0.0,
            "exec.gc_ms": 0.0, "exec.shuffle_write_bytes": 0,
            "exec.shuffle_write_records": 0, "exec.shuffle_read_bytes": 0,
            "exec.spill_bytes": 0, "exec.input_bytes": 0,
            "exec.output_bytes": 0, "udf.python_ms": 0.0, "udf.python_rows": 0,
        }
        for j in range(lo[0], hi[0]):
            try:
                jd = self._store.job(j)
            except Exception:  # trimmed or never registered: nothing to count
                continue
            g = jd.jobGroup()
            group = g.get() if g.isDefined() else ""
            c["exec.skipped_stages"] += int(jd.numSkippedStages())
            if group.endswith(":build"):
                c["build.jobs"] += 1
                sub, end = jd.submissionTime(), jd.completionTime()
                if sub.isDefined() and end.isDefined():
                    c["build.job_s"] += (end.get().getTime() - sub.get().getTime()) / 1e3
            else:
                c["exec.jobs"] += 1
        for s in range(lo[1], hi[1]):
            try:
                sd = self._store.lastStageAttempt(s)
            except Exception:
                continue
            if str(sd.status()) != "COMPLETE":
                continue
            c["exec.stages"] += 1
            c["exec.tasks"] += int(sd.numTasks())
            c["exec.executor_run_ms"] += float(sd.executorRunTime())
            c["exec.executor_cpu_ms"] += float(sd.executorCpuTime()) / 1e6
            c["exec.gc_ms"] += float(sd.jvmGcTime())
            c["exec.shuffle_write_bytes"] += int(sd.shuffleWriteBytes())
            c["exec.shuffle_write_records"] += int(sd.shuffleWriteRecords())
            c["exec.shuffle_read_bytes"] += int(sd.shuffleReadBytes())
            c["exec.spill_bytes"] += int(sd.memoryBytesSpilled()) + int(sd.diskBytesSpilled())
            c["exec.input_bytes"] += int(sd.inputBytes())
            c["exec.output_bytes"] += int(sd.outputBytes())
        if python_metrics:
            for e in range(lo[2], hi[2]):
                self._python_nodes(e, c)
        return c

    def _python_nodes(self, execution_id: int, c: dict) -> None:
        """Add the Python-eval nodes' SQL metrics of one execution's final
        (post-AQE) plan graph."""
        try:
            nodes = self._sql.planGraph(execution_id).allNodes()
            values = self._sql.executionMetrics(execution_id)
        except Exception:  # execution not recorded (no plan): nothing to add
            return
        for i in range(nodes.size()):
            node = nodes.apply(i)
            if not _PY_NODE.search(node.name()):
                continue
            metrics = node.metrics()
            named = {}
            for k in range(metrics.size()):
                m = metrics.apply(k)
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    named[m.name()] = v.get()
            if _PY_TIME not in named:
                continue
            n, unit = _metric_number(named[_PY_TIME])
            c["udf.python_ms"] += n * _DURATION.get(unit, 1.0)
            c["udf.python_rows"] += int(_metric_number(named.get(_PY_ROWS, "0"))[0])

    def persistent_rdds(self) -> int:
        return int(self.sc._jsc.getPersistentRDDs().size())

    def release_persistent(self) -> None:
        """Unpersist every RDD still persisted (cached relations and
        localCheckpoint blocks left by the previous op)."""
        for rdd in list(self.sc._jsc.getPersistentRDDs().values()):
            rdd.unpersist(True)

    def plan_before(self, owner, attr: str, df_of) -> None:
        """Wrap the action `owner.attr` so that, inside a timed op, the
        DataFrame `df_of(self)` is planned in a `catalyst` span first and
        its Catalyst phase timings are added to `self.catalyst`."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(obj, *args, **kwargs):
            df = df_of(obj)
            if self.op is not None and not df.isStreaming:
                with self.span("catalyst", "plan"):
                    self._add_catalyst_ms(df)
            return fn(obj, *args, **kwargs)

        setattr(owner, attr, traced)

    def _add_catalyst_ms(self, df) -> None:
        """Force the executed plan and add Catalyst's phase timings."""
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        phases = qe.tracker().phases()
        for p in ("analysis", "optimization", "planning"):
            o = phases.get(p)
            if o.isDefined():
                key = f"catalyst.{p}_ms"
                self.catalyst[key] = self.catalyst.get(key, 0.0) + float(o.get().durationMs())
