"""Per-layer tracing for one key execution, recorded from outside the
engine.

A traced execution is bracketed by Python timestamps (call start, the
``QUERIES[key]`` return, the ``toPandas()`` return). The layers inside
that window are read back afterwards from Spark's own records:

- jobs and stages from the application status store (``AppStatusStore``),
  addressed by the job ids the DAG scheduler handed out during the call;
- scan volume and Python-worker bytes from the SQL metrics of the SQL
  executions started during the call;
- Catalyst phases from ``queryExecution().tracker().phases()`` of the
  returned DataFrame;
- micro-batches from a Python ``StreamingQueryListener``;
- py4j round-trips by wrapping the client's ``send_command``.

Each read that raises increments ``probe_errors[layer]``; nothing is
swallowed silently.

Self times partition the execution's wall. Job spans are split into
executor time (task run time per slot, capped by the stage span) and
dispatch (the rest of the job span); micro-batch time outside jobs is
``streaming``; Catalyst phase time outside both is ``catalyst``; what
remains of the call span is ``operators`` (Python plan construction)
and of the ``toPandas()`` span is ``fetch``. Spans read from Spark are
not clipped to the window, so any job or batch recorded outside it (a
leaked background query, a clock mismatch) makes the sum exceed the
wall and fails :func:`closes`.
"""

from __future__ import annotations

import datetime as dt
import re
import threading
from collections import Counter

from py4j.clientserver import ClientServerConnection
from py4j.java_gateway import GatewayConnection
from pyspark.sql.streaming import StreamingQueryListener

# |sum(self) - wall| allowed per execution: Spark's records carry
# millisecond timestamps, so each span edge may be off by up to 1 ms.
CLOSE_TOL_MS = 5.0
CLOSE_TOL_FRAC = 0.02

LAYERS = ("operators", "catalyst", "dispatch", "executor", "streaming", "fetch")
PHASES = ("analysis", "optimization", "planning")

# PySpark sends through ClientServerConnection in its default pinned-thread
# mode and through GatewayConnection otherwise
_PY4J_SENDERS = (ClientServerConnection, GatewayConnection)
# py4j's memory (garbage-collection) commands are sent when Python
# proxies die, at times set by the garbage collector, not by the plan
_MEMORY_COMMAND = "m\n"


class Py4jCounter:
    """Counts py4j commands sent from the calling thread while active."""

    def __init__(self) -> None:
        self.count = 0
        self._thread = threading.get_ident()
        self._saved: list[tuple[type, object]] = []

    def __enter__(self) -> "Py4jCounter":
        for cls in _PY4J_SENDERS:
            original = cls.send_command
            self._saved.append((cls, original))

            def send_command(conn, command, *a, _orig=original, **kw):
                if threading.get_ident() == self._thread and not command.startswith(
                    _MEMORY_COMMAND
                ):
                    self.count += 1
                return _orig(conn, command, *a, **kw)

            cls.send_command = send_command
        return self

    def __exit__(self, *exc) -> None:
        for cls, original in self._saved:
            cls.send_command = original
        self._saved.clear()


class ProgressListener(StreamingQueryListener):
    """Keeps every micro-batch progress record it is sent."""

    def __init__(self) -> None:
        self.progress = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        self.progress.append(event.progress)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


_PYWORKER_METRICS = {
    "data sent to Python workers": "pyworker.bytes_sent",
    "data returned from Python workers": "pyworker.bytes_received",
}
# SQL metrics of the scan nodes (file, cached-table, RDD and local
# scans): rows each scan returned, and the size of the files it read
_SCAN_METRICS = {
    "number of output rows": "sources.input_rows",
    "size of files read": "sources.input_bytes",
}
_PLAN_METRIC = re.compile(r"SQLPlanMetric\((.*),(\d+),(\w+)\)")
_SIZE = re.compile(r"([\d.]+) (B|KiB|MiB|GiB|TiB)")
_SIZE_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}


def _plan_metrics(seq) -> list[tuple[str, str]]:
    """(name, accumulator id) of each ``SQLPlanMetric`` in a Scala Seq."""
    out = []
    for text in seq.mkString("\u0001").split("\u0001"):
        m = _PLAN_METRIC.fullmatch(text)
        if m:
            out.append((m.group(1), m.group(2)))
    return out


def _metric_values(store, exec_id) -> dict[str, str]:
    """Formatted value of each SQL metric of an execution, by
    accumulator id."""
    entries = store.executionMetrics(exec_id).mkString("\u0001").split("\u0001")
    return {acc_id: text for acc_id, _, text in (e.partition(" -> ") for e in entries)}


def _is_scan(node_name: str) -> bool:
    return node_name.startswith("Scan ") or node_name.endswith(("TableScan", "BatchScan"))


def _count(text: str) -> float:
    """Value of a formatted sum SQL metric ("1,234,567")."""
    return float(text.strip().replace(",", ""))


def _size_bytes(text: str) -> float:
    """Bytes of a formatted size SQL metric: the value itself, or the
    total on the line after a "total (min, med, max ...)" header."""
    m = _SIZE.search(text.rsplit("\n", 1)[-1])
    if m is None:
        raise ValueError(f"not a size metric: {text!r}")
    return float(m.group(1)) * _SIZE_UNITS[m.group(2)]


def _ms(opt_date):
    """Epoch ms of a Scala ``Option[java.util.Date]``, or None."""
    return float(opt_date.get().getTime()) if opt_date.isDefined() else None


def _iso_ms(stamp: str) -> float:
    return dt.datetime.fromisoformat(stamp.replace("Z", "+00:00")).timestamp() * 1e3


def _union(spans):
    """Sorted, disjoint (start, end) spans covering the given ones."""
    out: list[tuple[float, float]] = []
    for a, b in sorted(tuple(s) for s in spans if s[1] > s[0]):
        if out and a <= out[-1][1]:
            out[-1] = (out[-1][0], max(out[-1][1], b))
        else:
            out.append((a, b))
    return out


def _length(spans) -> float:
    return sum(b - a for a, b in spans)


def _minus(spans, cut):
    """Parts of the (disjoint, sorted) ``spans`` not covered by ``cut``."""
    out = []
    for a, b in spans:
        pieces = [(a, b)]
        for c, d in cut:
            nxt = []
            for x, y in pieces:
                if d <= x or c >= y:
                    nxt.append((x, y))
                    continue
                if x < c:
                    nxt.append((x, c))
                if d < y:
                    nxt.append((d, y))
            pieces = nxt
        out.extend(pieces)
    return out


def _clip(spans, lo: float, hi: float):
    return [(max(a, lo), min(b, hi)) for a, b in spans if b > lo and a < hi]


class Tracer:
    """Reads the per-layer record of one execution at a time.

    Usage::

        tracer = Tracer(spark)
        tracer.begin()            # before QUERIES[key]
        ...                       # call, then toPandas()
        rec = tracer.end(df, t0, t1, t2, pdf)
    """

    def __init__(self, spark) -> None:
        self.spark = spark
        self.slots = spark.sparkContext.defaultParallelism
        self.probe_errors: Counter[str] = Counter()
        self.last_error: str | None = None
        self._jsc = spark.sparkContext._jsc.sc()
        self._listener = ProgressListener()
        spark.streams.addListener(self._listener)
        self._counter: Py4jCounter | None = None
        self._first_job = 0
        self._first_exec = 0

    def _sql_store(self):
        return self.spark._jsparkSession.sharedState().statusStore()

    def close(self) -> None:
        self.spark.streams.removeListener(self._listener)

    def _probe(self, layer: str, fn, default=None):
        try:
            return fn()
        except Exception as exc:  # noqa: BLE001 - counted and reported
            self.probe_errors[layer] += 1
            self.last_error = f"{layer}: {type(exc).__name__}: {str(exc)[:200]}"
            return default

    def begin(self) -> None:
        # events of earlier executions (streaming progress arrives after
        # the query returns) must be delivered before the list is cleared
        self._probe("streaming", lambda: self._jsc.listenerBus().waitUntilEmpty())
        self._first_job = self._probe(
            "dispatch", lambda: self._jsc.dagScheduler().numTotalJobs(), 0
        )
        self._first_exec = self._probe(
            "pyworker", lambda: self._sql_store().executionsCount(), 0
        )
        self._listener.progress.clear()
        self._counter = Py4jCounter().__enter__()

    def abort(self) -> None:
        """End an execution that raised; nothing is recorded."""
        self._counter.__exit__(None, None, None)

    def end(self, df, t0: float, t1: float, t2: float, pdf) -> dict:
        """Record of the execution whose call ran over [t0, t1] and
        whose ``toPandas()`` ran over [t1, t2] (epoch seconds)."""
        py4j_calls = self._counter.count
        self._counter.__exit__(None, None, None)
        self._probe("dispatch", lambda: self._jsc.listenerBus().waitUntilEmpty())
        w0, w1, w2 = t0 * 1e3, t1 * 1e3, t2 * 1e3
        m: dict[str, float] = {"operators.py4j_calls": py4j_calls}
        jobs, stages = self._probe("dispatch", self._jobs_and_stages, ([], []))
        job_spans = _union(jobs)
        m["dispatch.jobs"] = len(jobs)
        m["dispatch.stages"] = len(stages)
        m["dispatch.tasks"] = sum(s["tasks"] for s in stages)
        for name in (
            "executor.run_ms",
            "executor.cpu_ms",
            "executor.gc_ms",
            "shuffle.read_bytes",
            "shuffle.write_bytes",
            "executor.spill_bytes",
            "sources.output_rows",
            "sources.output_bytes",
        ):
            m[name] = sum(s[name] for s in stages)
        share = sum(
            min(s["executor.run_ms"] / min(self.slots, max(1, s["tasks"])), s["span_ms"])
            for s in stages
        )
        executor = min(share, _length(job_spans))

        batch_spans, streaming = self._probe("streaming", self._batches, ([], {}))
        m.update(streaming)
        zero_bytes = {name: 0.0 for name in _PYWORKER_METRICS.values()}
        m.update(self._probe("pyworker", self._python_bytes, zero_bytes))
        zero_scan = {name: 0.0 for name in _SCAN_METRICS.values()}
        m.update(self._probe("sources", self._scan_volume, zero_scan))
        batch_spans = _minus(_union(batch_spans), job_spans)

        phases = self._probe("catalyst", lambda: self._phases(df), {})
        for p in PHASES:
            start, stop = phases.get(p, (0.0, 0.0))
            m[f"catalyst.{p}_ms"] = stop - start
        phase_spans = _minus(_minus(_union(phases.values()), job_spans), batch_spans)

        busy = _union(job_spans + batch_spans + phase_spans)
        call_busy = _length(_clip(busy, w0, w1))
        m["operators.plan_build_ms"] = (w1 - w0) - _length(
            _clip(_union(job_spans + batch_spans), w0, w1)
        )
        last_job_end = max([b for _, b in job_spans] + [w1])
        m["fetch.ms"] = w2 - min(max(last_job_end, w1), w2)
        m["fetch.rows"] = len(pdf)
        m["fetch.bytes"] = int(pdf.memory_usage(index=False, deep=True).sum())
        self_ms = {
            "operators": (w1 - w0) - call_busy,
            "catalyst": _length(phase_spans),
            "dispatch": _length(job_spans) - executor,
            "executor": executor,
            "streaming": _length(batch_spans),
            "fetch": (w2 - w1) - _length(_clip(busy, w1, w2)),
        }
        return {"wall_ms": w2 - w0, "self_ms": self_ms, "metrics": m}

    def _jobs_and_stages(self):
        store = self._jsc.statusStore()
        last = self._jsc.dagScheduler().numTotalJobs()
        jobs, stages = [], []
        for jid in range(self._first_job, last):
            job = store.job(jid)
            start, end = _ms(job.submissionTime()), _ms(job.completionTime())
            if start is None or end is None:
                raise RuntimeError(f"job {jid} has no completed span")
            jobs.append((start, end))
            ids = job.stageIds()
            for i in range(ids.size()):
                st = store.lastStageAttempt(ids.apply(i))
                if str(st.status().toString()) == "SKIPPED":
                    continue
                stages.append(self._stage(st))
        return jobs, stages

    def _stage(self, st) -> dict:
        s0, s1 = _ms(st.submissionTime()), _ms(st.completionTime())
        return {
            "tasks": st.numTasks(),
            "span_ms": (s1 - s0) if s0 is not None and s1 is not None else 0.0,
            "executor.run_ms": float(st.executorRunTime()),
            "executor.cpu_ms": st.executorCpuTime() / 1e6,
            "executor.gc_ms": float(st.jvmGcTime()),
            "shuffle.read_bytes": st.shuffleReadBytes(),
            "shuffle.write_bytes": st.shuffleWriteBytes(),
            "executor.spill_bytes": st.diskBytesSpilled(),
            "sources.output_rows": st.outputRecords(),
            "sources.output_bytes": st.outputBytes(),
        }

    def _executions(self):
        """The SQL status store and the SQL executions started since
        :meth:`begin`."""
        store = self._sql_store()
        last = store.executionsCount()
        execs = store.executionsList(self._first_exec, last - self._first_exec)
        return store, [execs.apply(i) for i in range(execs.size())]

    def _python_bytes(self) -> dict[str, float]:
        """Bytes across the Python-worker boundary, from the SQL
        metrics of the executions that ran during the call. The status
        store keeps them formatted ("11.9 KiB"), so they are exact to
        three significant digits."""
        store, execs = self._executions()
        out = {name: 0.0 for name in _PYWORKER_METRICS.values()}
        for ex in execs:
            names = {
                acc_id: _PYWORKER_METRICS[name]
                for name, acc_id in _plan_metrics(ex.metrics())
                if name in _PYWORKER_METRICS
            }
            if names:
                for acc_id, text in _metric_values(store, ex.executionId()).items():
                    if acc_id in names:
                        out[names[acc_id]] += _size_bytes(text)
        return out

    def _scan_volume(self) -> dict[str, float]:
        """Rows out of every scan node, and file bytes of the file scans,
        of the SQL executions that ran during the call (read from the
        final plan of each, so AQE's re-planned stages are included).
        A cached table counts the rows its in-memory scan returned."""
        store, execs = self._executions()
        out = {name: 0.0 for name in _SCAN_METRICS.values()}
        for ex in execs:
            nodes = store.planGraph(ex.executionId()).allNodes()
            names = {}
            for j in range(nodes.size()):
                node = nodes.apply(j)
                if _is_scan(node.name()):
                    for name, acc_id in _plan_metrics(node.metrics()):
                        if name in _SCAN_METRICS:
                            names[acc_id] = _SCAN_METRICS[name]
            if names:
                for acc_id, text in _metric_values(store, ex.executionId()).items():
                    if names.get(acc_id) == "sources.input_bytes":
                        out["sources.input_bytes"] += _size_bytes(text)
                    elif acc_id in names:
                        out["sources.input_rows"] += _count(text)
        return out

    def _phases(self, df) -> dict[str, tuple[float, float]]:
        phases = df._jdf.queryExecution().tracker().phases()
        out = {}
        for p in PHASES:
            opt = phases.get(p)
            if opt.isDefined():
                s = opt.get()
                out[p] = (float(s.startTimeMs()), float(s.endTimeMs()))
        return out

    def _batches(self):
        spans, trigger, planning, commit, add_batch = [], 0.0, 0.0, 0.0, 0.0
        state_rows: dict[str, int] = {}
        for p in self._listener.progress:
            d = p.durationMs
            spans.append(
                (_iso_ms(p.timestamp), _iso_ms(p.timestamp) + d.get("triggerExecution", 0))
            )
            trigger += d.get("triggerExecution", 0)
            planning += d.get("queryPlanning", 0)
            commit += d.get("walCommit", 0) + d.get("commitOffsets", 0)
            add_batch += d.get("addBatch", 0)
            state_rows[str(p.id)] = sum(s.numRowsTotal for s in p.stateOperators)
        return spans, {
            "streaming.batches": len(self._listener.progress),
            "streaming.trigger_ms": trigger,
            "streaming.planning_ms": planning,
            "streaming.commit_ms": commit,
            "streaming.add_batch_ms": add_batch,
            "streaming.state_rows": sum(state_rows.values()),
        }


def closes(rec: dict) -> bool:
    """True when the layer self times sum to the wall within tolerance."""
    err = abs(sum(rec["self_ms"].values()) - rec["wall_ms"])
    return err <= max(CLOSE_TOL_MS, CLOSE_TOL_FRAC * rec["wall_ms"])
