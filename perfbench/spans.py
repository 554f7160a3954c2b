"""Op timing and the traced layer split.

Every timed op goes through :class:`Tracer`.  With tracing off it only
reads the wall clock around the op.  With tracing on, each op becomes a
span with two children, ``construct`` (until the public function
returns its DataFrame) and ``exec`` (the action).  For each span the
tracer sets the Spark job group, counts py4j round trips by wrapping the
gateway client's ``send_command``, reads the Catalyst phase times from
``queryExecution().tracker()``, and sums the stage metrics of the span's
jobs from Spark's status store.  Spans stay in memory until
:meth:`Tracer.dump` writes them at the end of the run.

Metric reads happen after a span closes, so they never count as the
op's own time.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time

# per-span metrics and their units
SPAN_METRICS = {"construct_s": "s", "jobs_in_construct": "count",
                "py4j_calls": "count", "plan_ms": "ms", "exec_s": "s",
                "executor_cpu_s": "s", "shuffle_bytes": "B",
                "cached_rdds_delta": "count", "gc_s": "s",
                "spill_bytes": "B"}


class _Py4jCounter:
    """Counts ``send_command`` calls on the gateway client while
    installed.  Only the traced run installs it."""

    def __init__(self, gateway_client):
        self.client = gateway_client
        self.n = 0
        self._orig = gateway_client.send_command

        def counting(*a, **kw):
            self.n += 1
            return self._orig(*a, **kw)

        gateway_client.send_command = counting

    def close(self):
        self.client.send_command = self._orig


class Op:
    """One timed call into the engine: ``construct`` then ``execute``."""

    def __init__(self, tracer, name, request):
        self.tracer, self.name, self.request = tracer, name, request
        self.construct_s = 0.0
        self.exec_s = 0.0
        self.df = None
        self.span = None

    def construct(self, fn):
        """Call the public function; returns what it returns."""
        tr = self.tracer
        if tr.enabled:
            tr.set_group(self, "construct")
        t0 = time.perf_counter()
        out = fn()
        self.construct_s += time.perf_counter() - t0
        if hasattr(out, "_jdf"):
            self.df = out
        return out

    def execute(self, fn):
        """Run the action that materializes the result."""
        tr = self.tracer
        if tr.enabled:
            tr.set_group(self, "exec")
        t0 = time.perf_counter()
        out = fn()
        self.exec_s += time.perf_counter() - t0
        return out

    @property
    def seconds(self):
        return self.construct_s + self.exec_s


class Tracer:
    """Times ops and, while ``enabled``, records spans with layer
    metrics.  The runner flips ``enabled`` per request, so a traced run
    also times untraced requests and can report the tracing overhead."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[dict] = []
        self._seq = 0
        self._groups: dict[str, list[str]] = {}
        self._py4j = None
        self.t0 = time.perf_counter()

    # -- span bookkeeping ----------------------------------------------
    def set_group(self, op, phase):
        gid = f"{op.span['id']}/{phase}"
        self._groups.setdefault(op.span["id"], []).append(gid)
        n0 = self._py4j.n
        self.sc.setJobGroup(gid, op.name, False)
        # the tracer's own round trips are not the op's
        op.span["_py4j0"] += self._py4j.n - n0

    @contextlib.contextmanager
    def op(self, name: str, request: int):
        """Context for one timed op; yields the :class:`Op`."""
        op = Op(self, name, request)
        self._open(op)
        error = None
        try:
            yield op
        except Exception as e:
            error = repr(e)
            raise
        finally:
            self._close(op, error)

    def _open(self, op):
        self._seq += 1
        op.span = {"id": f"s{self._seq}", "name": op.name,
                   "request": op.request, "parent": None,
                   "start": time.perf_counter() - self.t0}
        if self.enabled:
            if self._py4j is None:
                self._py4j = _Py4jCounter(self.sc._gateway._gateway_client)
            op.span["_rdds0"] = self._persistent_rdds()
            op.span["_py4j0"] = self._py4j.n

    def _close(self, op, error):
        sp = op.span
        sp["end"] = time.perf_counter() - self.t0
        sp["construct_s"] = op.construct_s
        sp["exec_s"] = op.exec_s
        sp["error"] = error
        if self.enabled:
            sp["py4j_calls"] = self._py4j.n - sp.pop("_py4j0")
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            sp.update(self._span_metrics(op))
            sp["cached_rdds_delta"] = (self._persistent_rdds()
                                       - sp.pop("_rdds0"))
            # children: the construct and exec phases, back to back
            c0 = sp["start"]
            self.spans.append({
                "id": sp["id"] + ".c", "name": op.name + ".construct",
                "request": op.request, "parent": sp["id"],
                "start": c0, "end": c0 + op.construct_s})
            self.spans.append({
                "id": sp["id"] + ".e", "name": op.name + ".exec",
                "request": op.request, "parent": sp["id"],
                "start": c0 + op.construct_s,
                "end": c0 + op.construct_s + op.exec_s})
            self.spans.append(sp)

    # -- Spark-side reads (traced run only) ------------------------------
    def _persistent_rdds(self) -> int:
        return self.sc._jsc.getPersistentRDDs().size()

    def _span_metrics(self, op) -> dict:
        st = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        out = {"jobs_in_construct": 0, "jobs": 0, "executor_cpu_s": 0.0,
               "executor_run_s": 0.0, "gc_s": 0.0, "shuffle_bytes": 0,
               "spill_bytes": 0, "plan_ms": 0.0}
        stage_ids = set()
        for gid in self._groups.pop(op.span["id"], []):
            jobs = list(st.getJobIdsForGroup(gid))
            out["jobs"] += len(jobs)
            if gid.endswith("/construct"):
                out["jobs_in_construct"] += len(jobs)
            for j in jobs:
                info = st.getJobInfo(j)
                if info is not None:
                    stage_ids.update(info.stageIds)
        for sid in stage_ids:
            try:
                sd = store.lastStageAttempt(sid)
            except Exception:       # stage evicted from the store
                continue
            if str(sd.status()) != "COMPLETE":
                continue
            out["executor_cpu_s"] += sd.executorCpuTime() / 1e9
            out["executor_run_s"] += sd.executorRunTime() / 1e3
            out["gc_s"] += sd.jvmGcTime() / 1e3
            out["shuffle_bytes"] += sd.shuffleWriteBytes()
            out["spill_bytes"] += (sd.diskBytesSpilled()
                                   + sd.memoryBytesSpilled())
        if op.df is not None:
            phases = op.df._jdf.queryExecution().tracker().phases()
            it = phases.iterator()
            while it.hasNext():
                kv = it.next()
                out["plan_ms"] += kv._2().durationMs()
        return out

    def close(self):
        if self._py4j is not None:
            self._py4j.close()
            self._py4j = None

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


# -- process-tree resources ---------------------------------------------

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children_map():
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        kids.setdefault(int(fields[1]), []).append(int(name))
    return kids


def process_tree(root: int) -> list[int]:
    """``root`` and all its descendants: the driver, the JVM it launched
    and the JVM's Python workers."""
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """User + system CPU seconds of the tree, including reaped children."""
    total = 0
    for p in process_tree(root):
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])
    return total / _CLK


def tree_rss_bytes(root: int) -> int:
    total = 0
    for p in process_tree(root):
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            continue
    return total


class RssSampler:
    """Samples the tree's resident memory every ``period`` seconds from
    a daemon thread and keeps the peak."""

    def __init__(self, root: int, period: float = 0.25):
        self.root, self.period = root, period
        self.peak = tree_rss_bytes(root)
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.wait(self.period):
            self.peak = max(self.peak, tree_rss_bytes(self.root))

    def __enter__(self):
        self._t.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._t.join(timeout=5)
        self.peak = max(self.peak, tree_rss_bytes(self.root))
        return False
