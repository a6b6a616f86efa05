"""The traced run's instrumentation, built from the benchmark's own files.

- Wraps the module attributes the queries call through (``io.load_table``,
  ``operators.graph``, the ``streaming`` CDC/snapshot/LSM functions, the
  ``dedup`` signature stores, the two Python-worker entry points and the
  ``pipelines.*.build_*`` builders) and counts ``configure`` calls. Every
  binding of a wrapped function in any ``clif_spark`` module is replaced,
  so ``from x import f`` call sites are covered too.
- Keeps spans in memory (name, start, end, parent, run id).
- Puts one job group on each build phase and one on each exec phase, and
  after each traced pass reads jobs and stages from Spark's status store.
  A job belongs to the innermost span open when it was submitted, which
  also catches jobs that streaming queries launch from their own threads.
- Walks each final physical plan for join/exchange counts and the Python
  nodes' data-sent/received metrics.
"""

from __future__ import annotations

import contextlib
import functools
import inspect
import json
import re
import sys
import time

#: (module, function-name pattern, layer). Public functions only.
LAYERS = [
    ("clif_spark.io", r"load_table$", "io"),
    ("clif_spark.operators.graph", r".*", "graph"),
    ("clif_spark.streaming", r".*(cdc|snapshot|lsm).*", "store"),
    ("clif_spark.dedup", r".*sig(nature)?_store.*", "store"),
    ("clif_spark.similarity", r"cosine_topk_arrow$", "python"),
    ("clif_spark.multimodal", r"media_sample_features$", "python"),
    ("clif_spark.pipelines.", r"build_.*", "pipelines"),
]
MB = 1 << 20


class Span:
    __slots__ = ("name", "layer", "start", "end", "parent", "nested_s")

    def __init__(self, name, layer, parent):
        self.name, self.layer, self.parent = name, layer, parent
        self.start, self.end, self.nested_s = time.time(), None, 0.0


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spark = None
        self.active = False
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.configure_calls = 0
        self.overhead_s = 0.0  # the tracer's own time inside the pass
        self.plans: list[dict] = []
        self._last_job = -1
        self._install()

    # --- wrapping -------------------------------------------------------

    def _install(self) -> None:
        mods = {n: m for n, m in list(sys.modules.items())
                if n.startswith("clif_spark") and m is not None}
        targets = {}
        for prefix, pattern, layer in LAYERS:
            for name, mod in mods.items():
                if not (name == prefix or (prefix.endswith(".")
                                           and name.startswith(prefix))):
                    continue
                for attr, fn in vars(mod).items():
                    if (inspect.isfunction(fn) and not attr.startswith("_")
                            and getattr(fn, "__module__", "") == name
                            and re.fullmatch(pattern, attr)):
                        targets[id(fn)] = (fn, self._wrap(
                            fn, layer, f"{layer}.{attr}"))
        session = mods["clif_spark.session"]
        targets[id(session.configure)] = (
            session.configure, self._count_configure(session.configure))
        for mod in mods.values():
            for attr, fn in list(vars(mod).items()):
                hit = targets.get(id(fn))
                if hit is not None and hit[0] is fn:
                    setattr(mod, attr, hit[1])

    def _count_configure(self, fn):
        @functools.wraps(fn)
        def configure(*a, **kw):
            if self.active:
                self.configure_calls += 1
            return fn(*a, **kw)
        return configure

    def _wrap(self, fn, layer, name):
        @functools.wraps(fn)
        def wrapper(*a, **kw):
            top = self._stack[-1] if self._stack else None
            if not self.active or (top is not None
                                   and self.spans[top].layer == layer):
                return fn(*a, **kw)
            with self.span(name, layer):
                return fn(*a, **kw)
        return wrapper

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        s = Span(name, layer, parent)
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        self.overhead_s += time.perf_counter() - t0
        try:
            yield s
        finally:
            s.end = time.time()
            t0 = time.perf_counter()
            self._stack.pop()
            if parent is not None and self.spans[parent].layer != layer:
                self.spans[parent].nested_s += s.end - s.start
            self.overhead_s += time.perf_counter() - t0

    @contextlib.contextmanager
    def phase(self, query: str, phase: str):
        """One query's build or exec phase, under its own job group."""
        if not self.active:
            yield
            return
        sc = self.spark.sparkContext
        t0 = time.perf_counter()
        sc.setJobGroup(f"{self.run_id}:{query}:{phase}", f"{query} {phase}")
        self.overhead_s += time.perf_counter() - t0
        try:
            with self.span(f"{query}.{phase}", phase):
                yield
        finally:
            t0 = time.perf_counter()
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            self.overhead_s += time.perf_counter() - t0

    # --- per-pass readout -----------------------------------------------

    def start_pass(self) -> None:
        self.active = True
        self.configure_calls = 0
        self.overhead_s = 0.0
        self.plans = []
        self._first_span = len(self.spans)
        self._last_job = self._max_job_id()
        self.spark._profiler_collector.clear_perf_profiles()

    def _max_job_id(self) -> int:
        sc = self.spark.sparkContext._jsc.sc()
        sc.listenerBus().waitUntilEmpty()
        jobs = sc.statusStore().jobsList(None)
        return jobs.apply(0).jobId() if jobs.size() else -1

    def after_exec(self, df) -> None:
        if self.active:
            self.plans.append(plan_stats(
                df._jdf.queryExecution().executedPlan()))

    def end_pass(self, pass_s: float, queries: list[str]) -> dict:
        """Per-layer metrics of the pass that just ran."""
        self.active = False
        spans = self.spans
        own = range(self._first_span, len(spans))
        jobs = self._jobs_since(self._last_job)
        for j in jobs:  # innermost span open at submission: spans nest,
            j["span"] = None  # so the last one to start that contains it
            for i in own:
                if spans[i].start <= j["submit"] <= spans[i].end:
                    j["span"] = i

        def dur(i):
            return spans[i].end - spans[i].start

        def jobs_under(i):
            return [j for j in jobs if _within(spans, j["span"], i)]

        m: dict[str, float] = {}
        m["session.configure_calls"] = self.configure_calls
        m["trace.overhead_s"] = self.overhead_s
        build = [i for i in own if spans[i].layer == "build"]
        m["queries.build_s"] = sum(dur(i) for i in build)
        m["queries.exec_s"] = sum(dur(i) for i in own
                                  if spans[i].layer == "exec")
        m["queries.build_driver_s"] = sum(
            dur(i) - _covered(spans[i].start, spans[i].end,
                              [(j["submit"], j["done"]) for j in jobs_under(i)])
            for i in build)
        for q in queries:
            phases = [i for i in own
                      if spans[i].name in (f"{q}.build", f"{q}.exec")]
            m[f"{q}.build_s"] = sum(dur(i) for i in phases if i in build)
            m[f"{q}.wall_s"] = sum(dur(i) for i in phases)
            m[f"{q}.jobs"] = sum(len(jobs_under(i)) for i in phases)
        stages = [st for j in jobs for st in j["stages"]]
        m["spark.jobs"] = len(jobs)
        m["spark.stages"] = len(stages)
        m["spark.tasks"] = sum(st["tasks"] for st in stages)
        m["spark.task_run_s"] = sum(st["run_ms"] for st in stages) / 1e3
        m["spark.task_cpu_s"] = sum(st["cpu_ns"] for st in stages) / 1e9
        m["spark.shuffle_write_mb"] = sum(
            st["shuffle_write"] for st in stages) / MB
        m["spark.spill_mb"] = sum(st["spill"] for st in stages) / MB
        m["spark.failed_tasks"] = sum(st["failed"] for st in stages)
        m["spark.busy_frac"] = m["spark.task_run_s"] / (
            pass_s * self.spark.sparkContext.defaultParallelism)
        m["io.input_mb"] = sum(st["input"] for st in stages) / MB
        for layer in ("io", "graph", "store", "pipelines", "python"):
            calls = [i for i in own if spans[i].layer == layer]
            m[f"{layer}.calls"] = len(calls)
            m[f"{layer}.s"] = sum(dur(i) - spans[i].nested_s for i in calls)
            m[f"{layer}.jobs"] = sum(
                1 for j in jobs
                if j["span"] is not None and spans[j["span"]].layer == layer)
        m["store.write_mb"] = sum(
            st["output"] for j in jobs if j["span"] is not None
            and spans[j["span"]].layer == "store" for st in j["stages"]) / MB
        m["io.load_table_s"] = m["io.s"]
        m["pipelines.build_s"] = m["pipelines.s"]
        for k in ("smj", "bhj", "exchanges"):
            m[f"plan.{k}"] = sum(p[k] for p in self.plans)
        m["python.mb_sent"] = sum(p["py_sent"] for p in self.plans) / MB
        m["python.mb_received"] = sum(p["py_recv"] for p in self.plans) / MB
        m["python.udf_s"] = sum(
            st.total_tt for st in self.spark
            ._profiler_collector._perf_profile_results.values())
        return m

    def _jobs_since(self, last: int) -> list[dict]:
        sc = self.spark.sparkContext._jsc.sc()
        sc.listenerBus().waitUntilEmpty()
        store = sc.statusStore()
        out = []
        for jid in range(last + 1, self._max_job_id() + 1):
            jd = store.job(jid)
            done = jd.completionTime()
            job = {"id": jid,
                   "submit": jd.submissionTime().get().getTime() / 1e3,
                   "done": (done.get().getTime() / 1e3 if done.isDefined()
                            else time.time()),
                   "stages": []}
            ids = jd.stageIds()
            for k in range(ids.size()):
                st = store.lastStageAttempt(ids.apply(k))
                if st.status().toString() == "SKIPPED":
                    continue
                job["stages"].append({
                    "tasks": st.numCompleteTasks() + st.numFailedTasks(),
                    "failed": st.numFailedTasks(),
                    "run_ms": st.executorRunTime(),
                    "cpu_ns": st.executorCpuTime(),
                    "input": st.inputBytes(), "output": st.outputBytes(),
                    "shuffle_write": st.shuffleWriteBytes(),
                    "spill": st.diskBytesSpilled()})
            out.append(job)
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "run": self.run_id, "name": s.name, "start": s.start,
                    "end": s.end, "parent": s.parent}) + "\n")


def _within(spans, i, ancestor) -> bool:
    while i is not None:
        if i == ancestor:
            return True
        i = spans[i].parent
    return False


def _covered(lo: float, hi: float, intervals) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, end = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


def plan_stats(plan) -> dict:
    """Join/exchange counts and Python data volumes of a final plan."""
    out = {"smj": 0, "bhj": 0, "exchanges": 0, "py_sent": 0, "py_recv": 0}
    todo = [plan]
    while todo:
        node = todo.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            todo.append(node.plan())
            continue
        if cls == "SortMergeJoinExec":
            out["smj"] += 1
        elif cls == "BroadcastHashJoinExec":
            out["bhj"] += 1
        elif cls in ("ShuffleExchangeExec", "BroadcastExchangeExec"):
            out["exchanges"] += 1
        metrics = node.metrics()
        for key, field in (("pythonDataSent", "py_sent"),
                           ("pythonDataReceived", "py_recv")):
            if metrics.contains(key):
                out[field] += metrics.apply(key).value()
        kids = node.children()
        todo.extend(kids.apply(i) for i in range(kids.size()))
    return out
