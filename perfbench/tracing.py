"""Spans, Spark status-store readers and the process-tree memory
sampler.

A span is recorded around each call the benchmark makes into one
layer of the engine: name, start, end, parent and op id, kept in
memory and written out when the run ends.  Each span also names the
Spark jobs it starts: the job group is ``<workload>#<op>`` and the
job description ``<workload>/<layer>``, so stage metrics in the
status store attach to the span's layer and op.  Nothing here is
installed inside ``geomesa_spark/``; ``wrap`` replaces a module
attribute with a spanned twin while a traced op runs.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time


class NullTracer:
    on = False

    def span(self, name: str):
        return contextlib.nullcontext()

    def count(self, name: str, v: float) -> None:
        pass


class Tracer:
    on = True

    def __init__(self, sc, workload: str):
        self.sc = sc
        self.workload = workload
        self.spans: list[dict] = []
        self.counts: list[tuple[int, str, float]] = []
        self.stack: list[int] = []
        self.op: int | None = None
        # perf_counter -> epoch ms, to line spans up with Spark's clock
        self.epoch0 = time.time() - time.perf_counter()

    def _describe(self, layer: str | None) -> None:
        if layer is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", f"{self.workload}#{self.op}")
            self.sc.setLocalProperty("spark.job.description", f"{self.workload}/{layer}")

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self.stack[-1] if self.stack else None
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": parent, "op": self.op}
        self.stack.append(len(self.spans))
        self.spans.append(rec)
        self._describe(name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self.stack.pop()
            self._describe(self.spans[parent]["name"] if parent is not None else None)

    def count(self, name: str, v: float) -> None:
        self.counts.append((self.op, name, float(v)))

    def self_times(self) -> list[float]:
        own = [s["end"] - s["start"] for s in self.spans]
        for s in self.spans:
            if s["parent"] is not None:
                own[s["parent"]] -= s["end"] - s["start"]
        return own

    def dump(self, path: str) -> None:
        own = self.self_times()
        with open(path, "w") as fh:
            for s, o in zip(self.spans, own):
                fh.write(json.dumps({**s, "self": o}) + "\n")


@contextlib.contextmanager
def wrap(tr: Tracer, module, attr: str, span: str | None, count=None):
    """Replace ``module.attr`` by a spanned call for the with-block.
    `count` = (name, fn(args, result)) also records a count."""
    orig = getattr(module, attr)

    def traced(*a, **kw):
        with tr.span(span) if span else contextlib.nullcontext():
            out = orig(*a, **kw)
        if count:
            tr.count(count[0], count[1](a, out))
        return out

    setattr(module, attr, traced)
    try:
        yield
    finally:
        setattr(module, attr, orig)


# ---------------------------------------------------------------------------
# Spark status store (live, in the session's JVM; no event log needed)
# ---------------------------------------------------------------------------

def _opt(o, default=None):
    return o.get() if o.isDefined() else default


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def job_stats(spark) -> list[dict]:
    """Every job the status store holds: id, group, description,
    wall interval (epoch ms) and per-stage metrics."""
    sc = spark.sparkContext
    st = sc._jsc.sc().statusStore()
    gw = sc._gateway
    q = gw.new_array(gw.jvm.double, 2)
    q[0], q[1] = 0.5, 1.0
    out = []
    for j in _seq(st.jobsList(None)):
        stages = []
        for sid in _seq(j.stageIds()):
            try:
                sd = st.lastStageAttempt(sid)
            except Exception:  # py4j: stage evicted or never ran
                continue
            if sd.numCompleteTasks() == 0:
                continue  # skipped: its shuffle output was reused
            summ = _opt(st.taskSummary(sid, sd.attemptId(), q))
            med = mx = 0.0
            if summ is not None:
                ert = summ.executorRunTime()
                med, mx = ert.apply(0), ert.apply(1)
            stages.append({
                "run_ms": sd.executorRunTime(),
                "cpu_ms": sd.executorCpuTime() / 1e6,
                "gc_ms": sd.jvmGcTime(),
                "shuffle_write_b": sd.shuffleWriteBytes(),
                "fetch_wait_ms": sd.shuffleFetchWaitTime(),
                "spill_b": sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
                "task_med_ms": med,
                "task_max_ms": mx,
            })
        sub, end = _opt(j.submissionTime()), _opt(j.completionTime())
        out.append({
            "id": j.jobId(),
            "group": _opt(j.jobGroup()),
            "desc": _opt(j.description()),
            "t0": sub.getTime() if sub is not None else None,
            "t1": end.getTime() if end is not None else None,
            "stages": stages,
        })
    return out


def plan_metrics(df) -> list[tuple[str, dict]]:
    """(node name, {metric: value}) for every node of `df`'s executed
    physical plan, after an action ran on `df` itself."""
    out = []

    def walk(node):
        ms = node.metrics()
        it = ms.keysIterator()
        vals = {}
        while it.hasNext():
            k = it.next()
            vals[k] = ms.apply(k).value()
        out.append((node.nodeName(), vals))
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            kids = [node.executedPlan()]
        elif cls.endswith("QueryStageExec"):
            kids = [node.plan()]
        else:
            kids = _seq(node.children())
        for k in kids:
            walk(k)

    walk(df._jdf.queryExecution().executedPlan())
    return out


def metric_sum(nodes, name_prefix: str, metric: str) -> float:
    return float(sum(v.get(metric, 0) for n, v in nodes if n.startswith(name_prefix)))


# ---------------------------------------------------------------------------
# process-tree resident memory
# ---------------------------------------------------------------------------

def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out.extend(int(c) for c in fh.read().split())
    except OSError:
        pass
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree(pid: int) -> list[int]:
    seen, todo = [], [pid]
    while todo:
        p = todo.pop()
        seen.append(p)
        todo.extend(_children(p))
    return seen


class RssSampler:
    """Peak of the summed VmRSS of this process and its descendants
    (the JVM and the Python workers it forks), sampled every `dt`."""

    def __init__(self, dt: float = 0.2, rescan: int = 5):
        self.dt = dt
        self.rescan = rescan  # re-walk the process tree every n samples
        self.peak_kb = 0
        self.pids: set[int] = set()
        self._stop = threading.Event()
        self._th = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        me = os.getpid()
        pids: list[int] = []
        k = 0
        while not self._stop.is_set():
            if k % self.rescan == 0:
                pids = tree(me)
                self.pids.update(pids)
            k += 1
            self.peak_kb = max(self.peak_kb, sum(_rss_kb(p) for p in pids))
            self._stop.wait(self.dt)

    def start(self):
        self._th.start()
        return self

    def stop(self):
        self._stop.set()
        self._th.join()
