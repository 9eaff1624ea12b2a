"""Per-layer tracing for the benchmark's traced runs.

Everything here observes the program from outside, through counters
Spark already exposes:

* :class:`QueryRecorder` — a ``QueryExecutionListener`` (py4j callback)
  that reads Catalyst phase times and the final physical plan of every
  query that actually executes. ``df.count()`` plans a fresh aggregate
  over ``df``; the listener sees that executed plan, not ``df``'s.
* :class:`StreamRecorder` — a ``StreamingQueryListener`` that counts
  stream queries, micro-batches and trigger time.
* :func:`aggregate_eventlog` — folds a Spark event log into job, stage,
  task, shuffle, Python-worker and storage counters, attributing each
  job to the benchmark span it was submitted in.
* :func:`udf_profile_seconds` — total time inside profiled Python UDFs
  (``spark.profile``'s perf profiler).
* :func:`old_gen_peak_bytes` — the JVM old generation's peak use
  (``MemoryPoolMXBean``).

Spans are ``(t0_ms, t1_ms)`` epoch-millisecond intervals recorded
by the harness around calls into the program; the event log uses the
same clock, so a job belongs to the span its submission time falls in.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import threading
import time
from collections import defaultdict
from collections.abc import Iterable

# Physical plan nodes that run Python workers (nodeName prefixes).
PYTHON_NODE = re.compile(
    r"^(ArrowEvalPython|BatchEvalPython|MapInPandas|MapInArrow|PythonMapInArrow"
    r"|FlatMapGroupsIn(Pandas|Arrow)|FlatMapCoGroupsIn(Pandas|Arrow)"
    r"|AggregateInPandas|ArrowAggregatePython|WindowInPandas|ArrowWindowPython"
    r"|FlatMapGroupsInPandasWithState|TransformWithStateInPandas)"
)
PY_SENT = "data sent to Python workers"
PY_RECEIVED = "data returned from Python workers"
ROWS_OUT = "number of output rows"
_NODE_LINE = re.compile(r"^[\s:|+\-]*(?:\*\(\d+\)\s*)?(\w+)")


# ---------------------------------------------------------------------------
# plan strings
# ---------------------------------------------------------------------------


def plan_shape(plan_string: str) -> tuple[int, int]:
    """(nodes, exchanges) of a physical plan's tree string. For an
    adaptive plan only the ``Final Plan`` section counts."""
    text = plan_string.split("== Initial Plan ==")[0]
    nodes = exchanges = 0
    for line in text.splitlines():
        m = _NODE_LINE.match(line)
        if not m or line.lstrip().startswith("=="):
            continue
        name = m.group(1)
        if name in ("AdaptiveSparkPlan",):
            continue
        nodes += 1
        if name.endswith("Exchange"):
            exchanges += 1
    return nodes, exchanges


# ---------------------------------------------------------------------------
# live listeners (py4j callbacks)
# ---------------------------------------------------------------------------


class QueryRecorder:
    """Catalyst phases and final-plan shape of every executed query.

    Register with :meth:`attach`; only queries finishing while
    :attr:`active` is set are kept. Callbacks arrive on the listener
    bus, so the harness drains the bus before toggling ``active``.
    """

    PHASES = ("analysis", "optimization", "planning")

    def __init__(self) -> None:
        self.active = False
        self.records: list[dict] = []
        self.errors = 0
        self._lock = threading.Lock()

    def attach(self, spark) -> None:
        from pyspark.java_gateway import ensure_callback_server_started

        ensure_callback_server_started(spark.sparkContext._gateway)
        spark._jsparkSession.listenerManager().register(self)

    def onSuccess(self, funcName, qe, durationNs):  # noqa: N802 — Java interface
        if not self.active:
            return
        try:
            phases = qe.tracker().phases()
            rec = {"func": funcName}
            for name in self.PHASES:
                opt = phases.get(name)
                rec[name] = opt.get().durationMs() if opt.isDefined() else 0
            rec["nodes"], rec["exchanges"] = plan_shape(qe.executedPlan().toString())
        except Exception:  # noqa: BLE001 — a listener must never break the query
            with self._lock:
                self.errors += 1
            return
        with self._lock:
            self.records.append(rec)

    def onFailure(self, funcName, qe, exception):  # noqa: N802
        if self.active:
            with self._lock:
                self.errors += 1

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def _make_stream_recorder():
    from pyspark.sql.streaming.listener import StreamingQueryListener

    class StreamRecorder(StreamingQueryListener):
        """Stream queries, micro-batches and trigger time; ``fixed_s`` is
        each query's start-to-termination wall time minus its triggers."""

        def __init__(self) -> None:
            self.active = False
            self.started: dict[str, float] = {}
            self.spans: list[float] = []
            self.batches = 0
            self.trigger_ms = 0.0
            self._lock = threading.Lock()

        def onQueryStarted(self, event):  # noqa: N802
            if self.active:
                with self._lock:
                    self.started[str(event.runId)] = time.time()

        def onQueryProgress(self, event):  # noqa: N802
            if not self.active:
                return
            trig = (event.progress.durationMs or {}).get("triggerExecution", 0)
            with self._lock:
                self.batches += 1
                self.trigger_ms += float(trig)

        def onQueryIdle(self, event):  # noqa: N802
            pass

        def onQueryTerminated(self, event):  # noqa: N802
            with self._lock:
                t0 = self.started.pop(str(event.runId), None)
                if t0 is not None:
                    self.spans.append(time.time() - t0)

    return StreamRecorder()


def stream_recorder(spark):
    """A StreamRecorder registered on ``spark``."""
    rec = _make_stream_recorder()
    spark.streams.addListener(rec)
    return rec


def drain_listener_bus(spark) -> None:
    """Block until every posted listener event has been delivered."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def _old_gen_pools(spark) -> list:
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return [p for p in mf.getMemoryPoolMXBeans() if "Old" in p.getName()]


def reset_old_gen_peak(spark) -> None:
    for pool in _old_gen_pools(spark):
        pool.resetPeakUsage()


def old_gen_peak_bytes(spark) -> int:
    """Peak used bytes of the JVM's old generation since the last
    :func:`reset_old_gen_peak`: the heap's high-water mark of retained
    data, which peak RSS includes once the young generation is touched."""
    return sum(pool.getPeakUsage().getUsed() for pool in _old_gen_pools(spark))


def udf_profile_seconds(spark) -> float:
    """Total seconds inside Python UDFs profiled so far by the session's
    perf profiler (``spark.sql.pyspark.udf.profiler=perf``)."""
    results = spark._profiler_collector._perf_profile_results
    return float(sum(stats.total_tt for stats in results.values()))


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------


def eventlog_lines(log_dir: str) -> Iterable[str]:
    """Lines of every event-log file under ``log_dir`` (uncompressed)."""
    for root, _dirs, files in os.walk(log_dir):
        for name in sorted(files):
            if name.startswith("."):
                continue
            with open(os.path.join(root, name), encoding="utf-8") as f:
                yield from f


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total = 0.0
    end = float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def _clip(iv: tuple[float, float], span: tuple[float, float]) -> tuple[float, float] | None:
    a, b = max(iv[0], span[0]), min(iv[1], span[1])
    return (a, b) if b > a else None


def _walk_plan(info: dict, py_ids: dict[str, set[int]]) -> None:
    """Collect accumulator ids of Python-node metrics in a plan tree.
    Rows sent to Python are the output rows of the nearest descendant
    (down the first-child chain) that counts its rows."""
    name = info.get("nodeName", "")
    if PYTHON_NODE.match(name):
        for m in info.get("metrics", []):
            if m["name"] == PY_SENT:
                py_ids["sent"].add(m["accumulatorId"])
            elif m["name"] == PY_RECEIVED:
                py_ids["received"].add(m["accumulatorId"])
        child = (info.get("children") or [None])[0]
        while child is not None:
            rows = [m for m in child.get("metrics", []) if m["name"] == ROWS_OUT]
            if rows:
                py_ids["rows_sent"].add(rows[0]["accumulatorId"])
                break
            child = (child.get("children") or [None])[0]
    for c in info.get("children", []):
        _walk_plan(c, py_ids)


def aggregate_eventlog(
    lines: Iterable[str],
    window: tuple[float, float],
    build_spans: list[tuple[float, float]],
) -> dict[str, float]:
    """Fold an event log into totals over the jobs submitted inside
    ``window`` (epoch ms). Jobs submitted inside one of ``build_spans``
    are the builders' eager jobs. Storage peaks cover the whole log
    (block updates carry no timestamp)."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stages: dict[int, dict] = {}
    task_runs: dict[int, list[float]] = defaultdict(list)
    tot: dict[str, float] = defaultdict(float)
    acc: dict[int, float] = defaultdict(float)
    py_ids: dict[str, set[int]] = {"sent": set(), "received": set(), "rows_sent": set()}
    cached_rdds: set[int] = set()
    blocks: dict[str, float] = {}
    storage = peak_storage = 0.0
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            t = ev["Submission Time"]
            if window[0] <= t <= window[1]:
                jobs[ev["Job ID"]] = {"start": t, "end": t}
                for s in ev.get("Stage IDs", []):
                    stage_job.setdefault(s, ev["Job ID"])
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            sid = info["Stage ID"]
            if sid in stage_job:
                stages[sid] = {
                    "wall": info.get("Completion Time", 0) - info.get("Submission Time", 0)
                }
                for rdd in info.get("RDD Info", []):
                    lvl = rdd.get("Storage Level", {})
                    if lvl.get("Use Memory") or lvl.get("Use Disk"):
                        cached_rdds.add(rdd["RDD ID"])
        elif kind == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            if sid not in stage_job:
                continue
            ti, tm = ev["Task Info"], ev.get("Task Metrics") or {}
            tot["tasks"] += 1
            if ti.get("Failed") or ev.get("Task End Reason", {}).get("Reason") != "Success":
                tot["failed_tasks"] += 1
            run = tm.get("Executor Run Time", 0)
            task_runs[sid].append(run)
            tot["run_ms"] += run
            tot["cpu_ms"] += tm.get("Executor CPU Time", 0) / 1e6
            tot["gc_ms"] += tm.get("JVM GC Time", 0)
            tot["overhead_ms"] += (
                tm.get("Executor Deserialize Time", 0)
                + tm.get("Result Serialization Time", 0)
                + ti.get("Getting Result Time", 0)
            )
            sr = tm.get("Shuffle Read Metrics", {})
            tot["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            tot["shuffle_write_bytes"] += tm.get("Shuffle Write Metrics", {}).get(
                "Shuffle Bytes Written", 0
            )
            tot["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
                "Disk Bytes Spilled", 0
            )
            tot["input_bytes"] += tm.get("Input Metrics", {}).get("Bytes Read", 0)
            tot["output_bytes"] += tm.get("Output Metrics", {}).get("Bytes Written", 0)
            for a in ti.get("Accumulables", []):
                if isinstance(a.get("Update"), (int, float)):
                    acc[a["ID"]] += a["Update"]
                elif isinstance(a.get("Update"), str) and a["Update"].lstrip("-").isdigit():
                    acc[a["ID"]] += int(a["Update"])
        elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
            "SparkListenerSQLAdaptiveExecutionUpdate"
        ):
            _walk_plan(ev.get("sparkPlanInfo", {}), py_ids)
        elif kind == "SparkListenerBlockUpdated":
            b = ev["Block Updated Info"]
            bid = b["Block ID"]
            if bid.startswith("rdd_"):
                size = b.get("Memory Size", 0) + b.get("Disk Size", 0)
                storage += size - blocks.get(bid, 0.0)
                blocks[bid] = size
                peak_storage = max(peak_storage, storage)
    intervals = [(j["start"], j["end"]) for j in jobs.values()]
    eager = []
    for span in build_spans:
        for iv in intervals:
            if span[0] <= iv[0] <= span[1]:
                eager.append(_clip(iv, span) or (iv[0], iv[0]))
    skew = 1.0
    if stages:
        longest = max(stages, key=lambda s: stages[s]["wall"])
        runs = task_runs.get(longest) or [0]
        med = statistics.median(runs)
        skew = max(runs) / med if med > 0 else 1.0
    out = {k: float(tot.get(k, 0.0)) for k in (
        "tasks", "failed_tasks", "run_ms", "cpu_ms", "gc_ms", "shuffle_read_bytes",
        "shuffle_write_bytes", "spill_bytes", "input_bytes", "output_bytes",
    )}
    out.update(
        jobs=float(len(jobs)),
        stages=float(len(stages)),
        task_overhead_ms=tot["overhead_ms"] / tot["tasks"] if tot["tasks"] else 0.0,
        task_skew=float(skew),
        busy_ms=_union_ms(intervals),
        eager_jobs=float(len(eager)),
        eager_ms=_union_ms(eager),
        py_rows_sent=sum(acc[i] for i in py_ids["rows_sent"]),
        py_bytes_sent=sum(acc[i] for i in py_ids["sent"]),
        py_bytes_received=sum(acc[i] for i in py_ids["received"]),
        persists=float(len(cached_rdds)),
        peak_storage_bytes=peak_storage,
    )
    return out
