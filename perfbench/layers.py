"""Per-layer tracing for the benchmark, recorded from outside the program.

Sources, all attached by the benchmark rather than built into the
program:

- spans around the calls into each layer: ``suite.common.t`` and
  ``events`` (scan), ``memo_df`` and ``_checkpoint_sized`` (memo),
  ``suite.harness.maybe_spread`` (scan), the entry's ``fn`` (build)
  and the noop ``save()`` (exec). The suite modules import these
  helpers by value, so every module's binding is patched;
- the Spark event log, for jobs, stages, task metrics and the SQL
  metrics of the Python/Arrow operators;
- a ``QueryExecutionListener``, for the Catalyst phase times of each
  action (``queryExecution().tracker()``);
- the JVM codegen counters (``CodegenMetrics``, ``CodeGenerator``);
- a ``StreamingQueryListener``, for micro-batch progress.

Jobs carry the entry name as job group and the pass and phase as
local properties. A streaming query runs its jobs on its own thread
under a job group equal to its run id, so stream work is attributed
through the listener's query-start event, which maps the run id to the
entry that started the query.
"""

from __future__ import annotations

import glob
import json
import os
import sys
import threading
import time
from collections import Counter, defaultdict
from contextlib import contextmanager, nullcontext

PROGRAM = "marketing_etl_analytics_spark"

# event-log SQL metric names on Python/Arrow exec nodes -> counter key
_ARROW_NODE_WORDS = ("Python", "Pandas", "Arrow")
_ARROW_METRICS = {
    "number of output rows": "pyarrow_rows",
    "data sent to Python workers": "pyarrow_sent_b",
    "data returned from Python workers": "pyarrow_received_b",
    "time to run Python workers": "pyarrow_python_ms",
}
_STREAM_DURATIONS = {
    "addBatch": "stream_add_batch_ms",
    "queryPlanning": "stream_query_planning_ms",
    "walCommit": "stream_wal_commit_ms",
    "commitOffsets": "stream_commit_offsets_ms",
    "latestOffset": "stream_latest_offset_ms",
}

MB = 1 << 20

# (name, unit) of every per-layer metric, in report order
LAYER_METRICS = [
    ("session.get_spark_s", "s"),
    ("session.warm_sql_s", "s"),
    ("session.warm_python_s", "s"),
    ("session.warm_stream_s", "s"),
    ("scan.calls", "count"),
    ("scan.cache_hit_ratio", "ratio"),
    ("scan.input_mb", "MB"),
    ("scan.input_rows", "count"),
    ("memo.calls", "count"),
    ("memo.builds", "count"),
    ("memo.hit_ratio", "ratio"),
    ("memo.build_s", "s"),
    ("memo.stored_mb", "MB"),
    ("memo.partitions", "count"),
    ("build.s", "s"),
    ("build.jobs", "count"),
    ("plan.analysis_s", "s"),
    ("plan.optimizer_s", "s"),
    ("plan.planning_s", "s"),
    ("codegen.compiles", "count"),
    ("codegen.compile_s", "s"),
    ("exec.s", "s"),
    ("exec.jobs", "count"),
    ("exec.stages", "count"),
    ("exec.tasks", "count"),
    ("exec.task_run_s", "s"),
    ("exec.gc_s", "s"),
    ("exec.core_busy", "ratio"),
    ("exec.shuffle_write_mb", "MB"),
    ("exec.shuffle_read_mb", "MB"),
    ("exec.spill_mb", "MB"),
    ("pyarrow.rows", "count"),
    ("pyarrow.python_s", "s"),
    ("pyarrow.sent_mb", "MB"),
    ("pyarrow.received_mb", "MB"),
    ("stream.queries", "count"),
    ("stream.batches", "count"),
    ("stream.input_rows", "count"),
    ("stream.add_batch_s", "s"),
    ("stream.query_planning_s", "s"),
    ("stream.wal_commit_s", "s"),
    ("stream.commit_offsets_s", "s"),
    ("stream.latest_offset_s", "s"),
    ("stream.state_rows", "count"),
    ("stream.state_mem_mb", "MB"),
    ("stream.state_commit_s", "s"),
    ("trace.warm_pass_s", "s"),
    ("trace.self_s", "s"),
]


def _ratio(num: float, den: float) -> float:
    return num / den if den else 0.0


def derive(c: Counter, cores: int) -> dict[str, float]:
    """Per-layer metrics from one additive counter set (an entry in one
    pass, or the sum over many). Session and trace metrics are added
    by the caller."""
    return {
        "scan.calls": c["scan_calls"],
        "scan.cache_hit_ratio": _ratio(c["scan_hits"], c["scan_calls"]),
        "scan.input_mb": c["input_b"] / MB,
        "scan.input_rows": c["input_rows"],
        "memo.calls": c["memo_calls"],
        "memo.builds": c["memo_builds"],
        "memo.hit_ratio": _ratio(c["memo_calls"] - c["memo_builds"], c["memo_calls"]),
        "memo.build_s": c["memo_build_s"],
        "memo.stored_mb": c["memo_stored_b"] / MB,
        "memo.partitions": c["memo_partitions"],
        "build.s": c["build_self_s"],
        "build.jobs": c["build_jobs"],
        "plan.analysis_s": c["analysis_ms"] / 1e3,
        "plan.optimizer_s": c["optimization_ms"] / 1e3,
        "plan.planning_s": c["planning_ms"] / 1e3,
        "codegen.compiles": c["compiles"],
        "codegen.compile_s": c["compile_ns"] / 1e9,
        "exec.s": c["exec_s"],
        "exec.jobs": c["exec_jobs"],
        "exec.stages": c["exec_stages"],
        "exec.tasks": c["exec_tasks"],
        "exec.task_run_s": c["exec_run_ms"] / 1e3,
        "exec.gc_s": c["exec_gc_ms"] / 1e3,
        "exec.core_busy": _ratio(c["exec_run_ms"] / 1e3, c["exec_s"] * cores),
        "exec.shuffle_write_mb": c["exec_shuffle_write_b"] / MB,
        "exec.shuffle_read_mb": c["exec_shuffle_read_b"] / MB,
        "exec.spill_mb": c["exec_spill_b"] / MB,
        "pyarrow.rows": c["pyarrow_rows"],
        "pyarrow.python_s": c["pyarrow_python_ms"] / 1e3,
        "pyarrow.sent_mb": c["pyarrow_sent_b"] / MB,
        "pyarrow.received_mb": c["pyarrow_received_b"] / MB,
        "stream.queries": c["stream_queries"],
        "stream.batches": c["stream_batches"],
        "stream.input_rows": c["stream_input_rows"],
        "stream.add_batch_s": c["stream_add_batch_ms"] / 1e3,
        "stream.query_planning_s": c["stream_query_planning_ms"] / 1e3,
        "stream.wal_commit_s": c["stream_wal_commit_ms"] / 1e3,
        "stream.commit_offsets_s": c["stream_commit_offsets_ms"] / 1e3,
        "stream.latest_offset_s": c["stream_latest_offset_ms"] / 1e3,
        "stream.state_rows": c["stream_state_rows"],
        "stream.state_mem_mb": c["stream_state_mem_b"] / MB,
        "stream.state_commit_s": c["stream_state_commit_ms"] / 1e3,
    }


# --- spans ------------------------------------------------------------------


def self_times(spans: list[dict]) -> dict[int, float]:
    """Self time of every span: its duration minus the part of its
    interval that its child spans cover."""
    kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            kids[s["parent"]].append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered, reach = 0.0, s["start"]
        for a, b in sorted(kids[s["id"]]):
            a, b = max(a, reach), min(b, s["end"])
            if b > a:
                covered += b - a
                reach = b
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


class Spans:
    """In-memory span recorder. Each thread nests its own spans; a span
    opened on a thread with nothing open (a streaming foreachBatch
    callback) takes the innermost span of the main thread as parent."""

    def __init__(self):
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main_stack: list[int] = []

    def _stack(self) -> list[int]:
        if threading.current_thread() is threading.main_thread():
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        parent = stack[-1] if stack else (
            self._main_stack[-1] if self._main_stack else None
        )
        rec = {"id": 0, "name": name, "parent": parent,
               "start": time.perf_counter(), "end": None, **attrs}
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec["id"])
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.perf_counter()


class NullTracer:
    """Tracing off: every hook is a no-op, so the timed code path is the
    same in both modes apart from these calls."""

    def span(self, name: str, **attrs):
        return nullcontext()

    def begin_entry(self, pass_no: int, entry: str) -> None:
        pass

    def end_entry(self, df=None) -> None:
        pass

    def set_phase(self, phase: str) -> None:
        pass


class Tracer(Spans):
    def __init__(self, event_log_dir: str, cores: int):
        super().__init__()
        self.event_log_dir = event_log_dir
        self.cores = cores
        self.spark = None
        self.key: tuple = ("setup", "")
        self.counts: dict[tuple, Counter] = defaultdict(Counter)
        self.run_entry: dict[str, tuple] = {}  # stream run id -> key
        self.progress: list[tuple[tuple, dict]] = []
        self.memo_tables: list[tuple[tuple, object]] = []  # (key, memo frame)
        self.self_s = 0.0  # tracer bookkeeping inside the timed passes
        self._restore: list[tuple[object, str, object]] = []
        self._codegen0 = (0, 0)

    # spark configuration the tracer needs at session start
    def spark_conf(self) -> dict[str, str]:
        return {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.abspath(self.event_log_dir),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }

    # --- attach / detach ----------------------------------------------------

    def attach(self, spark) -> None:
        from pyspark.java_gateway import ensure_callback_server_started
        from pyspark.sql.streaming import StreamingQueryListener

        self.spark = spark
        ensure_callback_server_started(spark.sparkContext._gateway)
        tracer = self

        class _QeListener:
            def onSuccess(self, func_name, qe, duration_ns):
                tracer._on_query(qe)

            def onFailure(self, func_name, qe, exc):
                tracer._on_query(qe)

            class Java:
                implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

        class _StreamListener(StreamingQueryListener):
            def onQueryStarted(self, event):
                tracer.run_entry[str(event.runId)] = tracer.key

            def onQueryProgress(self, event):
                p = json.loads(event.progress.json)
                tracer.progress.append((tracer.run_entry.get(p["runId"]), p))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._qe_listener = _QeListener()
        self._stream_listener = _StreamListener()
        spark._jsparkSession.listenerManager().register(self._qe_listener)
        spark.streams.addListener(self._stream_listener)
        self._patch_layers()

    def detach(self) -> None:
        for mod, attr, orig in reversed(self._restore):
            setattr(mod, attr, orig)
        self._restore.clear()
        if self.spark is not None:
            self._flush()
            self.spark._jsparkSession.listenerManager().unregister(self._qe_listener)
            self.spark.streams.removeListener(self._stream_listener)

    def _patch(self, original, wrapper) -> None:
        for name, mod in list(sys.modules.items()):
            if mod is None or not name.startswith(PROGRAM):
                continue
            for attr, val in list(vars(mod).items()):
                if val is original:
                    setattr(mod, attr, wrapper)
                    self._restore.append((mod, attr, original))

    def _patch_layers(self) -> None:
        from marketing_etl_analytics_spark.suite import common, harness

        tracer = self
        t0, events0 = common.t, common.events
        memo0, cp0, spread0 = common.memo_df, common._checkpoint_sized, harness.maybe_spread

        def events(spark, sf_dir):
            key = (spark.sparkContext.applicationId, sf_dir, "events")
            hit = common._cache_on() and key in common._TABLE_CACHE
            with tracer.span("scan", table="events", hit=hit):
                return events0(spark, sf_dir)

        def t(spark, sf_dir, name):
            if name == "events":
                return events(spark, sf_dir)
            key = (spark.sparkContext.applicationId, sf_dir, name)
            hit = common._cache_on() and key in common._TABLE_CACHE
            with tracer.span("scan", table=name, hit=hit):
                return t0(spark, sf_dir, name)

        def memo_df(spark, sf_dir, name, build):
            key = (spark.sparkContext.applicationId, sf_dir, name)
            hit = key in common._DERIVED_CACHE
            with tracer.span("memo", memo=name, hit=hit):
                df = memo0(spark, sf_dir, name, build)
            if not hit:
                tracer.memo_tables.append((tracer.key, df))
            return df

        def _checkpoint_sized(spark, df):
            with tracer.span("checkpoint"):
                return cp0(spark, df)

        def maybe_spread(df, path):
            with tracer.span("spread", path=os.path.basename(path)):
                return spread0(df, path)

        self._patch(events0, events)
        self._patch(t0, t)
        self._patch(memo0, memo_df)
        self._patch(cp0, _checkpoint_sized)
        self._patch(spread0, maybe_spread)

    # --- JVM-side hooks -----------------------------------------------------

    def _jvm_codegen(self) -> tuple[int, int]:
        jvm = self.spark._jvm
        n = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()
        ns = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime()
        return int(n), int(ns)

    def _on_query(self, qe) -> None:
        c = self.counts[self.key]
        it = qe.tracker().phases().iterator()
        while it.hasNext():
            kv = it.next()
            c[f"{kv._1()}_ms"] += kv._2().durationMs()

    def _flush(self) -> None:
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()

    def _set_props(self, **props) -> None:
        sc = self.spark.sparkContext
        for k, v in props.items():
            sc.setLocalProperty(f"perfbench.{k}", str(v))

    # --- runner hooks -------------------------------------------------------

    def begin_entry(self, pass_no: int, entry: str) -> None:
        t = time.perf_counter()
        self.key = (pass_no, entry)
        self._set_props(**{"pass": pass_no, "phase": "build"})
        self._codegen0 = self._jvm_codegen()
        self.self_s += time.perf_counter() - t

    def set_phase(self, phase: str) -> None:
        t = time.perf_counter()
        self._set_props(phase=phase)
        self.self_s += time.perf_counter() - t

    def end_entry(self, df=None) -> None:
        t = time.perf_counter()
        c = self.counts[self.key]
        if df is not None:
            # analysis of the returned frame ran eagerly inside fn()
            ph = df._jdf.queryExecution().tracker().phases()
            if ph.contains("analysis"):
                c["analysis_ms"] += ph.apply("analysis").durationMs()
        self._flush()
        n, ns = self._jvm_codegen()
        c["compiles"] += n - self._codegen0[0]
        c["compile_ns"] += ns - self._codegen0[1]
        self.key = ("setup", "")
        self._set_props(**{"pass": "setup", "phase": "setup"})
        self.self_s += time.perf_counter() - t

    # --- collection ---------------------------------------------------------

    def collect_memo(self) -> None:
        """Storage size and partition count of every memo table built in
        a timed pass, while the session is still up."""
        sc = self.spark.sparkContext
        infos = {int(i.id()): i for i in sc._jsc.sc().getRDDStorageInfo()}
        for key, df in self.memo_tables:
            c = self.counts[key]
            leaves = df._jdf.queryExecution().analyzed().collectLeaves()
            for i in range(leaves.length()):
                leaf = leaves.apply(i)
                if leaf.getClass().getSimpleName() == "LogicalRDD":
                    info = infos.get(int(leaf.rdd().id()))
                    if info is not None:
                        c["memo_stored_b"] += int(info.memSize()) + int(info.diskSize())
            c["memo_partitions"] += int(df._jdf.rdd().getNumPartitions())

    def _span_counts(self) -> None:
        selfs = self_times(self.spans)
        for s in self.spans:
            s["self"] = selfs[s["id"]]
            key = s.get("key")
            if key is None:
                # layer spans take the key of the entry span they sit in
                p = s["parent"]
                while p is not None and self.spans[p].get("key") is None:
                    p = self.spans[p]["parent"]
                key = self.spans[p]["key"] if p is not None else None
                s["key"] = key
            if key is None:
                continue
            c = self.counts[tuple(key)]
            dur = s["end"] - s["start"]
            if s["name"] == "scan":
                c["scan_calls"] += 1
                c["scan_hits"] += bool(s["hit"])
            elif s["name"] == "memo":
                c["memo_calls"] += 1
                if not s["hit"]:
                    c["memo_builds"] += 1
                    c["memo_build_s"] += dur
            elif s["name"] == "build":
                c["build_self_s"] += selfs[s["id"]]
            elif s["name"] == "exec":
                c["exec_s"] += dur

    def _stream_counts(self) -> None:
        last: dict[str, tuple[tuple, dict]] = {}
        for key, p in self.progress:
            if key is None:
                continue
            c = self.counts[key]
            c["stream_batches"] += 1
            c["stream_input_rows"] += int(p.get("numInputRows") or 0)
            for k, ck in _STREAM_DURATIONS.items():
                c[ck] += int((p.get("durationMs") or {}).get(k, 0))
            for op in p.get("stateOperators") or []:
                c["stream_state_commit_ms"] += int(op.get("commitTimeMs") or 0)
            last[p["runId"]] = (key, p)
        for key, p in last.values():
            c = self.counts[key]
            c["stream_queries"] += 1
            for op in p.get("stateOperators") or []:
                c["stream_state_rows"] += int(op.get("numRowsTotal") or 0)
                c["stream_state_mem_b"] += int(op.get("memoryUsedBytes") or 0)

    def _event_log_counts(self) -> None:
        """Jobs, stages, tasks and Python/Arrow SQL metrics per key, read
        from the event log after the session stopped."""
        stage_key: dict[int, tuple] = {}
        arrow_ids: dict[int, tuple[int, str]] = {}  # acc id -> (node, counter)
        node_ids: dict[tuple, int] = {}
        acc_sum: dict[tuple[tuple, int], int] = defaultdict(int)

        def walk(plan):
            if any(w in plan["nodeName"] for w in _ARROW_NODE_WORDS):
                ids = tuple(sorted(m["accumulatorId"] for m in plan["metrics"]))
                node = node_ids.setdefault(ids, len(node_ids))
                for m in plan["metrics"]:
                    if m["name"] in _ARROW_METRICS:
                        arrow_ids[m["accumulatorId"]] = (node, _ARROW_METRICS[m["name"]])
            for ch in plan["children"]:
                walk(ch)

        for path in sorted(glob.glob(os.path.join(self.event_log_dir, "*"))):
            with open(path) as fh:
                for line in fh:
                    ev = json.loads(line)
                    kind = ev["Event"]
                    if kind == "SparkListenerJobStart":
                        props = ev.get("Properties") or {}
                        group = props.get("spark.jobGroup.id")
                        key = self.run_entry.get(group)
                        phase = props.get("perfbench.phase")
                        if key is None:
                            pass_no = props.get("perfbench.pass")
                            if pass_no in (None, "setup") or group is None:
                                continue
                            key = (int(pass_no), group)
                        else:
                            phase = "build"
                        c = self.counts[key]
                        c["build_jobs" if phase == "build" else "exec_jobs"] += 1
                        for sid in ev["Stage IDs"]:
                            stage_key[sid] = (key, phase)
                    elif kind == "SparkListenerStageCompleted":
                        hit = stage_key.get(ev["Stage Info"]["Stage ID"])
                        if hit and hit[1] == "exec":
                            self.counts[hit[0]]["exec_stages"] += 1
                    elif kind == "SparkListenerTaskEnd":
                        hit = stage_key.get(ev["Stage ID"])
                        if hit is None:
                            continue
                        key, phase = hit
                        self._task_counts(self.counts[key], phase, ev.get("Task Metrics") or {})
                        for a in (ev.get("Task Info") or {}).get("Accumulables", []):
                            if a["ID"] in arrow_ids:
                                # SQL metric updates are logged as strings
                                acc_sum[(key, a["ID"])] += int(a.get("Update") or 0)
                    elif "sparkPlanInfo" in ev:
                        walk(ev["sparkPlanInfo"])
        # a node may declare one metric under two ids (the Python rows
        # and the state-operator rows of applyInPandasWithState): take
        # the larger per node instead of adding them
        per_node: dict[tuple, int] = defaultdict(int)
        for (key, acc), v in acc_sum.items():
            node, counter = arrow_ids[acc]
            per_node[(key, node, counter)] = max(per_node[(key, node, counter)], v)
        for (key, _node, counter), v in per_node.items():
            self.counts[key][counter] += v

    @staticmethod
    def _task_counts(c: Counter, phase: str, m: dict) -> None:
        inp = m.get("Input Metrics") or {}
        c["input_b"] += int(inp.get("Bytes Read", 0))
        c["input_rows"] += int(inp.get("Records Read", 0))
        if phase != "exec":
            return
        sr = m.get("Shuffle Read Metrics") or {}
        sw = m.get("Shuffle Write Metrics") or {}
        c["exec_tasks"] += 1
        c["exec_run_ms"] += int(m.get("Executor Run Time", 0))
        c["exec_gc_ms"] += int(m.get("JVM GC Time", 0))
        c["exec_spill_b"] += int(m.get("Disk Bytes Spilled", 0))
        c["exec_shuffle_write_b"] += int(sw.get("Shuffle Bytes Written", 0))
        c["exec_shuffle_read_b"] += int(sr.get("Remote Bytes Read", 0)) + int(
            sr.get("Local Bytes Read", 0)
        )

    def report(self, warm_pass_s: float) -> tuple[dict[str, float], dict]:
        """Per-layer totals over the timed passes, and the full record
        (spans, per-entry metrics) for the trace file. Call after the
        session stopped, so the event log is complete."""
        self._span_counts()
        self._stream_counts()
        self._event_log_counts()
        passes = [k for k in self.counts if isinstance(k[0], int)]
        total = sum((self.counts[k] for k in passes), Counter())
        metrics = derive(total, self.cores)
        for s in self.spans:
            if s["name"].startswith("session."):
                metrics[s["name"] + "_s"] = s["end"] - s["start"]
        metrics["trace.warm_pass_s"] = warm_pass_s
        metrics["trace.self_s"] = self.self_s
        per_entry = [
            {"pass": k[0], "entry": k[1], **derive(self.counts[k], self.cores)}
            for k in sorted(passes)
        ]
        return metrics, {"spans": self.spans, "per_entry": per_entry}
