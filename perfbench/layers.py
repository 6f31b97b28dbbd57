"""Per-layer metrics derived from the traced run's spans.

Times and counts are per operation (one bulk replay, one streaming
micro-batch, one publish + relay) and reported as the median over the
traced operations of the run. A layer a workload never calls reads 0.
"""

from __future__ import annotations

from perfbench.common import median
from perfbench.trace import self_ms

# name -> unit; BENCHMARK.json's per_layer list mirrors this table
PER_LAYER = {
    "session.start_s": "s",
    "lake.create.ms": "ms",
    "lake.create.jobs": "count",
    "engine.read_control.ms": "ms",
    "engine.read_control.jobs": "count",
    "engine.read_control.calls": "count",
    "engine.validate.ms": "ms",
    "engine.validate.jobs": "count",
    "engine.validate.rows_scanned": "rows",
    "engine.apply_slice.self_ms": "ms",
    "engine.apply_slice.jobs": "count",
    "engine.apply_slice.rows_in": "rows",
    "engine.apply_slice.shuffle_bytes": "bytes",
    "lake.merge.ms": "ms",
    "lake.merge.jobs": "count",
    "lake.merge.shuffle_bytes": "bytes",
    "lake.merge.bytes_written": "bytes",
    "lake.merge.files_written": "count",
    "lake.merge.buckets_rewritten": "count",
    "lake.merge.task_skew": "ratio",
    "lake.manifest.bytes": "bytes",
    "engine.multitable.tick_ms": "ms",
    "engine.multitable.tables_per_tick": "count",
    "engine.multitable.apply_parallelism": "ratio",
    "streaming.discover_ms": "ms",
    "streaming.batches": "count",
    "streaming.empty_batch_frac": "ratio",
    "mq.publish.ms": "ms",
    "mq.publish.jobs": "count",
    "mq.publish.topic_bytes": "bytes",
    "mq.publish.bytes_per_msg": "bytes",
    "mq.relay.ms": "ms",
    "mq.relay.jobs": "count",
    "mq.relay.executor_cpu_ms": "ms",
    "spark.jobs_per_op": "count",
    "spark.executor_busy_frac": "ratio",
    "spark.shuffle_bytes_per_event": "bytes",
    "loadgen.late_ms_max": "ms",
    "loadgen.backlog_marks_max": "count",
    "tracing.overhead_frac": "ratio",
}


def _dur(s: dict) -> float:
    return (s["end"] - s["start"]) * 1000.0


def _sum(spans, key) -> float:
    return float(sum(s["spark"][key] for s in spans))


def op_metrics(spans: list[dict], cores: int) -> dict:
    """Per-layer numbers of ONE operation (all spans sharing an op id)."""
    by_layer: dict[str, list[dict]] = {}
    kids: dict[int, list[dict]] = {}
    for s in spans:
        by_layer.setdefault(s["layer"], []).append(s)
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)
    roots = [s for s in spans if s["parent"] is None]
    wall = sum(_dur(s) for s in roots)
    L = lambda name: by_layer.get(name, [])  # noqa: E731
    apply_ = L("engine.apply_slice")
    merge = L("lake.merge")
    adv = L("engine.multitable.advance_to")
    pub, rel = L("mq.publish"), L("mq.relay")
    events = sum(s.get("events", 0) for s in apply_) or sum(
        s.get("messages", 0) for s in pub)
    m = {
        "wall_ms": wall,
        "events": events,
        "engine.read_control.ms": sum(map(_dur, L("engine.read_control"))),
        "engine.read_control.jobs": _sum(L("engine.read_control"), "jobs"),
        "engine.read_control.calls": len(L("engine.read_control")),
        "engine.validate.ms": sum(map(_dur, L("engine.validate"))),
        "engine.validate.jobs": _sum(L("engine.validate"), "jobs"),
        "engine.validate.rows_scanned": _sum(L("engine.validate"), "input_records"),
        "engine.apply_slice.self_ms": sum(
            self_ms(s, kids.get(s["id"], [])) for s in apply_),
        "engine.apply_slice.jobs": _sum(apply_, "jobs"),
        "engine.apply_slice.rows_in": _sum(apply_, "input_records"),
        "engine.apply_slice.shuffle_bytes": _sum(apply_, "shuffle_write"),
        "lake.merge.ms": sum(map(_dur, merge)),
        "lake.merge.jobs": _sum(merge, "jobs"),
        "lake.merge.shuffle_bytes": _sum(merge, "shuffle_write"),
        "lake.merge.bytes_written": _sum(merge, "output_bytes"),
        "lake.merge.files_written": sum(s.get("files_written", 0) for s in merge),
        "lake.merge.buckets_rewritten": sum(
            s.get("buckets_rewritten", 0) for s in merge),
        "lake.merge.task_skew": median(
            s["spark"]["skew"] for s in merge if s["spark"]["skew"]),
        "engine.multitable.tick_ms": sum(map(_dur, adv)),
        "engine.multitable.tables_per_tick": (
            sum(1 for s in apply_ if s["parent"] in {a["id"] for a in adv})
            / len(adv) if adv else 0.0),
        "engine.multitable.apply_parallelism": (
            sum(_dur(s) for s in apply_ if s["parent"] in {a["id"] for a in adv})
            / max(sum(map(_dur, adv)), 1e-9) if adv else 0.0),
        "mq.publish.ms": sum(map(_dur, pub)),
        "mq.publish.jobs": _sum(pub, "jobs"),
        "mq.publish.topic_bytes": sum(s.get("topic_bytes", 0) for s in pub),
        "mq.publish.bytes_per_msg": (
            sum(s.get("topic_bytes", 0) for s in pub)
            / max(sum(s.get("messages", 0) for s in pub), 1) if pub else 0.0),
        "mq.relay.ms": sum(map(_dur, rel)),
        "mq.relay.jobs": _sum(rel, "jobs"),
        "mq.relay.executor_cpu_ms": _sum(rel, "cpu_ms"),
        "spark.jobs_per_op": _sum(spans, "jobs"),
        "spark.executor_busy_frac": (
            _sum(spans, "run_ms") / (wall * cores) if wall else 0.0),
        "spark.shuffle_bytes_per_event": (
            _sum(spans, "shuffle_write") / events if events else 0.0),
    }
    return m


def layer_metrics(tracer, cores: int, op_roots: set[str]) -> tuple[dict, list[dict]]:
    """Median per-op layer metrics over ops whose roots are ``op_roots``
    layers and that applied at least one event; also returns the per-op
    rows for the run record."""
    ops: dict[str, list[dict]] = {}
    for s in tracer.spans:
        ops.setdefault(s["op"], []).append(s)
    rows = []
    for label, spans in ops.items():
        roots = {s["layer"] for s in spans if s["parent"] is None}
        if roots and roots <= op_roots:
            row = op_metrics(spans, cores)
            row["op"] = label
            rows.append(row)
    busy = [r for r in rows if r["events"] > 0]
    out = {name: 0.0 for name in PER_LAYER}
    for name in PER_LAYER:
        vals = [r[name] for r in busy if name in r]
        if vals:
            out[name] = median(vals)
    creates = [s for s in tracer.spans if s["layer"] == "lake.create"]
    if creates:
        out["lake.create.ms"] = median(_dur(s) for s in creates)
        out["lake.create.jobs"] = median(s["spark"]["jobs"] for s in creates)
    return out, rows
