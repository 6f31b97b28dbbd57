"""Out-of-program tracing: wrap the engine's public functions and methods,
label the Spark jobs each call launches, and read per-stage metrics back
from Spark's status store after the run.

Each wrapped call records a span (layer, start, end, parent, trace id). A
span's Spark jobs carry the job group ``"{workload}/{span-id}/{layer}"`` —
set on the calling thread for the duration of the call and restored on
return — so a nested call (``lake.merge`` inside ``engine.apply_slice``)
owns its jobs and the outer span keeps the rest. Spans of one operation
share a trace id. Spans stay in memory until ``collect`` runs.

The engine looks ``read_control``/``validate_resolved_contract`` up through
``tiflow_spark.engine`` at call time (the MQ and streaming front-ends import
them inside the calling function), and methods through their class, so
patching the module attribute and the class attribute reaches every caller.
"""

from __future__ import annotations

import functools
import itertools
import threading
import time

GROUP_KEY = "spark.jobGroup.id"
DESC_KEY = "spark.job.description"


class Tracer:
    def __init__(self, spark, workload: str):
        self.sc = spark.sparkContext
        self.workload = workload
        self.spans: list[dict] = []
        # consulted when a root span opens: False runs that whole call tree
        # untraced (the overhead comparison alternates on this)
        self.policy = lambda layer: True
        self.op_label: str | None = None
        self._local = threading.local()
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []
        # (start, end) of roots the policy left untraced, per layer
        self.untraced: dict[str, list[tuple[float, float]]] = {}

    def alternate(self, layer: str) -> None:
        """Trace every other root call of ``layer`` and leave the rest
        untraced, so both kinds interleave through the run (JIT warm-up
        drift then biases neither side of the overhead figure)."""
        count = itertools.count()
        self.policy = lambda name: name != layer or next(count) % 2 == 1

    def overhead_frac(self, layer: str, since: float) -> float:
        """median(traced root wall) / median(untraced root wall) - 1 over
        the roots of ``layer`` that started at or after ``since``."""
        from perfbench.common import median

        traced = [s["end"] - s["start"] for s in self.spans
                  if s["layer"] == layer and s["parent"] is None
                  and s["start"] >= since]
        plain = [e - s for s, e in self.untraced.get(layer, []) if s >= since]
        if not traced or not plain:
            return 0.0
        return median(traced) / median(plain) - 1.0

    # ---------------------------------------------------------- patching
    def wrap(self, owner, attr: str, layer: str, attrs=None) -> None:
        """Replace ``owner.attr`` with a tracing wrapper. ``attrs(args,
        kwargs, before, result)`` adds fields to the span; ``before`` is
        what ``attrs(args, kwargs, None, None)`` returned before the call."""
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            return tracer._call(layer, orig, args, kwargs, attrs)

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    # ------------------------------------------------------------- spans
    def _call(self, layer, fn, args, kwargs, attrs):
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        if stack:
            parent = stack[-1]
            if parent is None:  # inside an untraced root
                return fn(*args, **kwargs)
        else:
            parent = None
            if not self.policy(layer):
                stack.append(None)  # untraced root: children pass through
                t0 = time.perf_counter()
                try:
                    return fn(*args, **kwargs)
                finally:
                    stack.pop()
                    with self._lock:
                        self.untraced.setdefault(layer, []).append(
                            (t0, time.perf_counter()))
        sid = next(self._ids)
        span = {
            "id": sid,
            "parent": parent["id"] if parent else None,
            "trace": parent["trace"] if parent else sid,
            "op": parent["op"] if parent else (self.op_label or f"t{sid}"),
            "layer": layer,
            "group": f"{self.workload}/{sid}/{layer}",
        }
        before = attrs(args, kwargs, None, None) if attrs else None
        sc = self.sc
        prev = (sc.getLocalProperty(GROUP_KEY), sc.getLocalProperty(DESC_KEY))
        sc.setLocalProperty(GROUP_KEY, span["group"])
        sc.setLocalProperty(DESC_KEY, span["group"])
        stack.append(span)
        span["start"] = time.perf_counter()
        ok = False
        try:
            result = fn(*args, **kwargs)
            ok = True
            return result
        finally:
            span["end"] = time.perf_counter()
            stack.pop()
            sc.setLocalProperty(GROUP_KEY, prev[0])
            sc.setLocalProperty(DESC_KEY, prev[1])
            span["ok"] = ok
            if ok and attrs:
                span.update(attrs(args, kwargs, before, result) or {})
            with self._lock:
                self.spans.append(span)

    # ------------------------------------------------------ stage metrics
    def collect(self) -> dict:
        """Attach per-span Spark job and stage metrics (status store).

        Each stage counts once, under the span whose job ran it: the lowest
        job id that lists it (jobs running at once can share a stage).
        SKIPPED stages, whose map output an earlier job wrote, ran nowhere.
        Returns the run's totals over every stage in the store beside the
        executors' own totals, which must agree when no stage is lost or
        counted twice."""
        from py4j.protocol import Py4JJavaError

        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        store = jsc.statusStore()
        gw = self.sc._gateway
        q = gw.new_array(gw.jvm.double, 2)
        q[0], q[1] = 0.5, 1.0

        def stage(sid: int) -> dict:
            try:
                sd = store.lastStageAttempt(sid)
            except Py4JJavaError:  # stage evicted or never ran
                return {}
            if sd.status().toString() == "SKIPPED":
                return {}
            st = {
                "run_ms": sd.executorRunTime(),
                "cpu_ms": sd.executorCpuTime() / 1e6,
                "shuffle_read": sd.shuffleReadBytes(),
                "shuffle_write": sd.shuffleWriteBytes(),
                "input_bytes": sd.inputBytes(),
                "input_records": sd.inputRecords(),
                "output_bytes": sd.outputBytes(),
                "skew": None,
            }
            if st["shuffle_read"] > 0 and st["run_ms"] > 0:
                dist = store.taskSummary(sid, sd.attemptId(), q)
                if dist.isDefined():
                    rt = dist.get().executorRunTime()
                    med, mx = rt.apply(0), rt.apply(1)
                    st["skew"] = mx / med if med > 0 else None
            return st

        owner: dict[int, tuple[int, dict | None]] = {}  # stage -> (job, span)
        jobs = store.jobsList(gw.jvm.java.util.ArrayList())
        for i in range(jobs.size()):
            job = jobs.apply(i)
            ids = job.stageIds()
            for k in range(ids.size()):
                sid = ids.apply(k)
                if sid not in owner or job.jobId() < owner[sid][0]:
                    owner[sid] = (job.jobId(), None)
        for span in self.spans:
            span_jobs = list(tracker.getJobIdsForGroup(span["group"]))
            span["spark"] = {"jobs": len(span_jobs), "run_ms": 0.0,
                             "cpu_ms": 0.0, "shuffle_read": 0,
                             "shuffle_write": 0, "input_records": 0,
                             "output_bytes": 0, "skew": None}
            for j in span_jobs:
                info = tracker.getJobInfo(j)
                for sid in (list(info.stageIds) if info is not None else []):
                    if owner.get(sid, (None,))[0] == j:
                        owner[sid] = (j, span)

        keys = ("run_ms", "cpu_ms", "shuffle_read", "shuffle_write",
                "input_records", "output_bytes")
        totals = {"shuffle_read": 0, "shuffle_write": 0, "input_bytes": 0}
        best_read: dict[int, int] = {}
        for sid, (_job, span) in sorted(owner.items()):
            st = stage(sid)
            for k in totals:
                totals[k] += st.get(k, 0)
            if span is None or not st:
                continue
            agg = span["spark"]
            for k in keys:
                agg[k] += st[k]
            # the exchange stage: the one reading the most shuffle
            if st["skew"] and st["shuffle_read"] > best_read.get(span["id"], -1):
                best_read[span["id"]] = st["shuffle_read"]
                agg["skew"] = st["skew"]

        executors = {"shuffle_read": 0, "shuffle_write": 0, "input_bytes": 0}
        ex = store.executorList(False)
        for i in range(ex.size()):
            e = ex.apply(i)
            executors["shuffle_read"] += e.totalShuffleRead()
            executors["shuffle_write"] += e.totalShuffleWrite()
            executors["input_bytes"] += e.totalInputBytes()
        return {"stages": totals, "executors": executors}


def self_ms(span: dict, children: list[dict]) -> float:
    """Span duration minus the part of it its child spans cover."""
    ivs = sorted((max(c["start"], span["start"]), min(c["end"], span["end"]))
                 for c in children)
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in ivs:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return (span["end"] - span["start"] - covered) * 1000.0


def install_engine_wrappers(tracer: Tracer) -> None:
    """Wrap every engine layer the per-layer table names."""
    import os

    import tiflow_spark.engine as engine
    import tiflow_spark.sinks.mq as mq
    from tiflow_spark.lake import LakeTable
    from tiflow_spark.streaming.changefeed_stream import StreamingChangefeed

    def merge_attrs(args, kwargs, before, result):
        table = args[0]
        files = {e["path"] for e in (table.current_manifest() or {}).get("files", [])}
        if before is None:
            return {"files_before": files}
        return {
            "files_written": len(files - before["files_before"]),
            "buckets_rewritten": len(set(kwargs.get("affected_buckets") or [])),
            "table": table.path,
            "committed": bool(result),
        }

    def advance_attrs(args, kwargs, before, result):
        if before is None:
            return {}
        barrier = kwargs.get("barrier_ts", args[2] if len(args) > 2 else None)
        return {"barrier_ts": barrier, "epochs": len(result or [])}

    def run_attrs(args, kwargs, before, result):
        if before is None:
            return {}
        return {"run_events": result.total_events, "epochs": len(result.epochs)}

    def apply_attrs(args, kwargs, before, result):
        if before is None:
            return {}
        return {"events": result.dml_events + result.ddl_events}

    def publish_attrs(args, kwargs, before, result):
        if before is None:
            return {}
        sink = args[0].sink
        size = 0
        for dirpath, _d, files in os.walk(sink.path):
            size += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
        return {"messages": sum(r["messages"] for r in result),
                "topic_bytes": size}

    tracer.wrap(engine, "read_control", "engine.read_control")
    tracer.wrap(engine, "validate_resolved_contract", "engine.validate")
    tracer.wrap(engine.ChangefeedEngine, "run", "engine.run", run_attrs)
    tracer.wrap(engine.ChangefeedEngine, "bootstrap", "engine.bootstrap")
    tracer.wrap(engine.ChangefeedEngine, "apply_slice", "engine.apply_slice",
                apply_attrs)
    tracer.wrap(engine.MultiTableEngine, "bootstrap", "engine.bootstrap")
    tracer.wrap(engine.MultiTableEngine, "advance_to",
                "engine.multitable.advance_to", advance_attrs)
    tracer.wrap(LakeTable, "create", "lake.create")
    tracer.wrap(LakeTable, "merge", "lake.merge", merge_attrs)
    tracer.wrap(StreamingChangefeed, "_apply_batch", "streaming.batch")
    tracer.wrap(mq.MQChangefeed, "run", "mq.publish", publish_attrs)
    tracer.wrap(mq, "topic_to_log", "mq.relay")
