"""Traced run: spans around the public call into each layer, plus
per-op snapshots of Spark's own status-store counters.

Spans carry (name, start, end, parent, op) and stay in memory until
the run writes them out. Counters are read over py4j from
`sc.statusStore()` (stages: run time, CPU, GC, I/O, shuffle, spill)
and the SQL status store (Python-worker time and Arrow bytes of
MapInPandas / MapInArrow plans). Both stores keep only a bounded number
of stages and executions, so `poll()` snapshots what is new after
every op instead of reading once at the end.
"""

from __future__ import annotations

import functools
import itertools
import re
import threading
import time
from dataclasses import dataclass, field

_DONE = ("COMPLETE", "FAILED", "SKIPPED")
_PYTHON_PLAN = re.compile(r"MapInPandas|MapInArrow|ArrowEvalPython|BatchEvalPython|FlatMap\w*InPandas|PythonUDTF")
_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ms": 1, "s": 1_000, "m": 60_000, "h": 3_600_000,
}


def parse_sql_metric(text: str) -> float:
    """Total of one rendered SQL metric: '1.4 s', '12.0 KiB', or the
    multi-task form 'total (min, med, max ...)\\n3.1 s (...)'."""
    value, unit = text.strip().splitlines()[-1].split(" (")[0].split()
    return float(value.replace(",", "")) * _UNITS[unit]


@dataclass
class Span:
    sid: int
    name: str
    start: float  # epoch seconds
    end: float = 0.0
    parent: int | None = None
    op: int | None = None
    children_s: float = 0.0  # time covered by direct children

    @property
    def dur(self) -> float:
        return self.end - self.start


@dataclass
class StageRec:
    stage_id: int
    start: float  # epoch seconds
    end: float
    tasks: int
    run_ms: int
    cpu_ms: float
    gc_ms: int
    input_bytes: int
    output_bytes: int
    shuffle_read: int
    shuffle_write: int
    spill: int
    op: int | None  # op that was running when the stage was polled


@dataclass
class Tracer:
    spark: object
    spans: list = field(default_factory=list)
    stages: list = field(default_factory=list)
    phases: set = field(default_factory=set)  # (name, start_s, end_s)
    python: dict = field(default_factory=lambda: {"worker_ms": 0.0, "arrow_bytes": 0.0})
    op_jobs: dict = field(default_factory=dict)  # span name -> jobs launched inside it
    jobs: int = 0

    def __post_init__(self):
        self._tl = threading.local()
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._patches: list = []
        sc = self.spark.sparkContext
        self._jsc = sc._jsc.sc()
        self._jvm = sc._jvm
        self._gw = sc._gateway
        self._sql_store = self.spark._jsparkSession.sharedState().statusStore()
        self._seen_stages: set = set()
        self._seen_execs: set = set()
        # start past everything that ran before tracing began
        self._jsc.listenerBus().waitUntilEmpty()
        stages = self._stage_list()
        self._stage_floor = stages.apply(0).stageId() + 1 if stages.length() else 0
        execs = self._sql_store.executionsList()
        n = execs.length()
        self._exec_floor = execs.apply(n - 1).executionId() + 1 if n else 0
        self._job_mark = self._next_job_id()

    # ---- spans ----

    def _stack(self) -> list:
        st = getattr(self._tl, "stack", None)
        if st is None:
            st = self._tl.stack = []
        return st

    def set_op(self, op: int | None) -> None:
        self._tl.op = op

    def begin(self, name: str) -> Span:
        st = self._stack()
        sp = Span(
            next(self._ids), name, time.time(),
            parent=st[-1].sid if st else None, op=getattr(self._tl, "op", None),
        )
        st.append(sp)
        return sp

    def end(self, sp: Span) -> None:
        sp.end = time.time()
        st = self._stack()
        st.pop()
        if st:
            st[-1].children_s += sp.dur
        with self._lock:
            self.spans.append(sp)

    def call(self, name: str, fn, *args):
        """fn(*args) inside a span; the Spark jobs it launched are added
        to op_jobs[name]."""
        mark = self.job_mark()
        sp = self.begin(name)
        try:
            return fn(*args)
        finally:
            self.end(sp)
            self.op_jobs[name] = self.op_jobs.get(name, 0) + self.jobs_since(mark)

    def _patch(self, owner, attr: str, name: str, after=None) -> None:
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            sp = self.begin(name)
            try:
                out = orig(*args, **kwargs)
            finally:
                self.end(sp)
            if after is not None:
                after(*args)
            return out

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def install(self) -> None:
        """Wrap the public call into each layer. Undone by uninstall()."""
        import fuse_query_spark.engine as engine_mod
        from pyspark.sql import SparkSession

        probe = self.spark.range(0)
        df_cls, writer_cls = type(probe), type(probe.write)
        self._patch(engine_mod.Engine, "sql", "engine.sql")
        self._patch(engine_mod.Engine, "sql_collect", "engine.sql")
        self._patch(engine_mod, "rewrite_select", "dialect.rewrite")
        self._patch(SparkSession, "sql", "catalyst.parse_analyze")
        self._patch(df_cls, "collect", "force.collect", after=lambda df: self._phases(df._jdf))
        self._patch(writer_cls, "parquet", "sources.write", after=lambda w, *a: self.replan(w._df))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def replan(self, df) -> None:
        """A write runs its own QueryExecution, whose planning tracker
        is out of reach; plan the written DataFrame once more to record
        its optimization and planning phases."""
        sp = self.begin("catalyst.replan")
        df._jdf.queryExecution().executedPlan()
        self.end(sp)
        self._phases(df._jdf)

    def _phases(self, jdf) -> None:
        ph = jdf.queryExecution().tracker().phases()
        for name in ("parsing", "analysis", "optimization", "planning"):
            o = ph.get(name)
            if o.isDefined():
                p = o.get()
                with self._lock:
                    self.phases.add((name, p.startTimeMs() / 1e3, p.endTimeMs() / 1e3))

    # ---- Spark counters ----

    def _next_job_id(self) -> int:
        jobs = self._jsc.statusStore().jobsList(None)  # newest first
        return jobs.apply(0).jobId() + 1 if jobs.length() else 0

    def jobs_since(self, mark: int) -> int:
        self._jsc.listenerBus().waitUntilEmpty()
        return self._next_job_id() - mark

    def job_mark(self) -> int:
        self._jsc.listenerBus().waitUntilEmpty()
        return self._next_job_id()

    def poll(self) -> None:
        """Record every stage and SQL execution finished since the last
        poll. Call after each op, before the stores evict them."""
        self._jsc.listenerBus().waitUntilEmpty()
        with self._lock:
            self._poll_stages()
            self._poll_executions()
            nxt = self._next_job_id()
            self.jobs += nxt - self._job_mark
            self._job_mark = nxt

    def _stage_list(self):
        jl = self._jvm.java.util.ArrayList
        return self._jsc.statusStore().stageList(
            jl(), False, False, self._gw.new_array(self._jvm.double, 0), jl()
        )  # newest first

    def _poll_stages(self) -> None:
        lst = self._stage_list()
        pending, top = None, self._stage_floor - 1
        for i in range(lst.length()):
            s = lst.apply(i)
            sid = s.stageId()
            if sid < self._stage_floor:
                break
            top = max(top, sid)
            key = (sid, s.attemptId())
            if key in self._seen_stages:
                continue
            status = s.status().toString()
            if status not in _DONE:
                pending = sid if pending is None else min(pending, sid)
                continue
            self._seen_stages.add(key)
            if status == "SKIPPED" or not s.submissionTime().isDefined():
                continue
            self.stages.append(
                StageRec(
                    sid,
                    s.submissionTime().get().getTime() / 1e3,
                    s.completionTime().get().getTime() / 1e3,
                    s.numTasks(),
                    s.executorRunTime(),
                    s.executorCpuTime() / 1e6,
                    s.jvmGcTime(),
                    s.inputBytes(),
                    s.outputBytes(),
                    s.shuffleReadBytes(),
                    s.shuffleWriteBytes(),
                    s.diskBytesSpilled(),
                    getattr(self._tl, "op", None),
                )
            )
        self._stage_floor = pending if pending is not None else top + 1

    def _poll_executions(self) -> None:
        execs = self._sql_store.executionsList()  # oldest first
        pending = None
        i = execs.length() - 1
        while i >= 0:
            e = execs.apply(i)
            eid = e.executionId()
            if eid < self._exec_floor:
                break
            i -= 1
            if eid in self._seen_execs:
                continue
            if not e.completionTime().isDefined():
                pending = eid
                continue
            self._seen_execs.add(eid)
            if not _PYTHON_PLAN.search(e.physicalPlanDescription()):
                continue
            values = self._sql_store.executionMetrics(eid)
            ms = e.metrics()
            for j in range(ms.length()):
                m = ms.apply(j)
                name = m.name()
                if name == "time to run Python workers":
                    key = "worker_ms"
                elif name in ("data sent to Python workers", "data returned from Python workers"):
                    key = "arrow_bytes"
                else:
                    continue
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    self.python[key] += parse_sql_metric(v.get())
        if execs.length():
            top = execs.apply(execs.length() - 1).executionId() + 1
            self._exec_floor = pending if pending is not None else max(self._exec_floor, top)

    # ---- layer report ----

    def durations(self, *names: str) -> float:
        return sum(s.dur for s in self.spans if s.name in names)

    def self_time(self, name: str) -> float:
        return sum(s.dur - s.children_s for s in self.spans if s.name == name)

    def span_table(self) -> dict:
        """name -> (count, total seconds, self seconds) over all spans."""
        out: dict = {}
        for s in self.spans:
            n, tot, own = out.get(s.name, (0, 0.0, 0.0))
            out[s.name] = (n + 1, tot + s.dur, own + s.dur - s.children_s)
        return out

    def unaccounted(self, t0: float, t1: float, build: tuple[str, ...]) -> float:
        """Wall time in [t0, t1] covered by no build span, no Catalyst
        phase and no stage."""
        iv = [(s.start, s.end) for s in self.spans if s.name in build]
        iv += [(a, b) for _, a, b in self.phases]
        iv += [(s.start, s.end) for s in self.stages]
        covered, cur_a, cur_b = 0.0, None, None
        for a, b in sorted((max(a, t0), min(b, t1)) for a, b in iv if b > t0 and a < t1):
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    covered += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            covered += cur_b - cur_a
        return (t1 - t0) - covered

    def stage_totals(self) -> dict:
        st = self.stages
        return {
            "stages": len(st),
            "tasks": sum(s.tasks for s in st),
            "run_ms": sum(s.run_ms for s in st),
            "cpu_ms": sum(s.cpu_ms for s in st),
            "gc_ms": sum(s.gc_ms for s in st),
            "input_bytes": sum(s.input_bytes for s in st),
            "output_bytes": sum(s.output_bytes for s in st),
            "shuffle_read": sum(s.shuffle_read for s in st),
            "shuffle_write": sum(s.shuffle_write for s in st),
            "spill": sum(s.spill for s in st),
        }

    def dump(self) -> dict:
        return {
            "spans": [
                {"id": s.sid, "name": s.name, "start": s.start, "end": s.end,
                 "parent": s.parent, "op": s.op}
                for s in sorted(self.spans, key=lambda s: s.start)
            ],
            "stages": [s.__dict__ for s in self.stages],
            "phases": [{"name": n, "start": a, "end": b} for n, a, b in sorted(self.phases)],
        }


BUILD_SPANS = ("queries.build", "dialect.rewrite")


def layer_metrics(tr: Tracer, t0: float, t1: float, passes: int, cores: int,
                  operators: tuple, wire_ms: float, result_bytes: int) -> dict:
    """Per-layer metrics of a traced window [t0, t1], per pass."""
    ms = lambda *names: tr.durations(*names) * 1e3  # noqa: E731
    st = tr.stage_totals()
    phase = lambda *names: sum(b - a for n, a, b in tr.phases if n in names) * 1e3  # noqa: E731
    op_spans = tuple(f"operators.{op}" for op in operators)
    unacc = tr.unaccounted(t0, t1, BUILD_SPANS + op_spans) * 1e3
    engine_ms = ms("engine.sql")
    m = {
        "servers.self_ms": wire_ms - engine_ms if wire_ms else 0.0,
        "servers.result_bytes": result_bytes,
        "engine.sql_ms": engine_ms,
        "engine.self_ms": tr.self_time("engine.sql") * 1e3,
        "dialect.rewrite_ms": ms("dialect.rewrite"),
        "queries.build_ms": ms("queries.build"),
        "queries.build_jobs": tr.op_jobs.get("queries.build", 0),
    }
    for op, name in zip(operators, op_spans):
        m[f"{name}.ms"] = ms(name)
        m[f"{name}.jobs"] = tr.op_jobs.get(name, 0)
    m.update({
        "operators.eager_jobs": sum(tr.op_jobs.get(n, 0) for n in op_spans),
        "sources.input_bytes": st["input_bytes"],
        "sources.write_ms": ms("sources.write"),
        "sources.output_bytes": st["output_bytes"],
        "catalyst.analysis_ms": phase("parsing", "analysis"),
        "catalyst.optimization_ms": phase("optimization"),
        "catalyst.planning_ms": phase("planning"),
        "scheduler.jobs": tr.jobs,
        "scheduler.stages": st["stages"],
        "scheduler.tasks": st["tasks"],
        "scheduler.unaccounted_ms": unacc,
        "executor.run_ms": st["run_ms"],
        "executor.cpu_ms": st["cpu_ms"],
        "executor.gc_ms": st["gc_ms"],
        "shuffle.read_bytes": st["shuffle_read"],
        "shuffle.write_bytes": st["shuffle_write"],
        "spill_bytes": st["spill"],
        "python.worker_ms": tr.python["worker_ms"],
        "python.arrow_bytes": tr.python["arrow_bytes"],
    })
    m = {k: v / passes for k, v in m.items()}
    wall_ms = (t1 - t0) * 1e3
    m["scheduler.unaccounted_frac"] = unacc / wall_ms
    m["executor.cpu_util"] = st["cpu_ms"] / (wall_ms * cores)
    return m
