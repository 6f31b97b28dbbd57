"""tail_fanout2: open-loop streaming tail into two routed tables.

A seeded feed is generated up front and cut at its resolved (R) marks into
segments, one mark per segment. Each event's ``tbl`` is ``t{hint % 2}``
from the generator's ``partition_hint``; R rows stay changefeed-global.
Both tables bootstrap from the same base snapshot and are driven by
``StreamingChangefeed(MultiTableEngine)`` with the default trigger, so a
micro-batch starts as soon as the previous one ends.

The load generator is a producer as the engine expects one: each segment is
written under a hidden temporary name and renamed into place, its R row is
mirrored into ``log/_control/`` the same way, and the sidecar coverage is
updated with ``write_control_coverage``. After a fixed number of warm-up
ticks (closed loop: append one segment, wait for its commit) the generator
appends one segment every ``1/rate`` seconds on a fixed schedule. A mark's
freshness runs from its scheduled time until both tables' committed
checkpoints cover it, observed by polling the table pointers every 10 ms.
"""

from __future__ import annotations

import os
import threading
import time

from perfbench.common import (
    Context,
    frames_equal,
    median,
    newest_manifest_bytes,
    normalize,
)

SIZES = {
    # base conversations (x10 turns = rows per table), events per segment,
    # segments (= marks) appended per second, warm-up ticks
    "full": {"convs": 1_000, "seg_events": 20, "rate": 6.25, "buckets": 4,
             "warmup": 2, "drain_s": 60.0},
    "smoke": {"convs": 100, "seg_events": 10, "rate": 25.0, "buckets": 2,
              "warmup": 1, "drain_s": 60.0},
}
N_TABLES = 2
TABLES = [f"t{i}" for i in range(N_TABLES)]
POLL_S = 0.01


class Segment:
    __slots__ = ("table", "ts", "events", "due", "appended", "committed")

    def __init__(self, table, ts, events):
        self.table, self.ts, self.events = table, ts, events
        self.due = self.appended = self.committed = None


def cut_segments(log_path: str) -> list[Segment]:
    """Generated log → one segment per R mark, with a ``tbl`` column."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pq.read_table(log_path)
    tbl = [None if h is None else f"t{h % N_TABLES}"
           for h in t.column("partition_hint").to_pylist()]
    t = t.append_column("tbl", pa.array(tbl, pa.string()))
    ops = t.column("op").to_pylist()
    ts = t.column("commit_ts").to_pylist()
    out, start = [], 0
    for i, op in enumerate(ops):
        if op == "R":
            seg = t.slice(start, i + 1 - start)
            out.append(Segment(seg, ts[i], i - start))
            start = i + 1
    return out


class Producer:
    """Appends segments the way a real producer must: rename into place,
    mirror control rows, then update the sidecar coverage."""

    def __init__(self, log_dir: str, segments: list[Segment]):
        self.log_dir = log_dir
        self.ctl_dir = os.path.join(log_dir, "_control")
        os.makedirs(self.ctl_dir, exist_ok=True)
        self.segments = segments

    def append(self, i: int) -> None:
        import pyarrow as pa
        import pyarrow.compute as pc

        from tiflow_spark.engine import write_control_coverage

        seg = self.segments[i].table
        self._put(seg, self.log_dir, f"changefeed-{i:06d}.parquet")
        control = pc.is_in(seg.column("op"), value_set=pa.array(["R", "DDL"]))
        self._put(seg.filter(control), self.ctl_dir, f"control-{i:06d}.parquet")
        write_control_coverage(self.log_dir)

    @staticmethod
    def _put(table, directory: str, name: str) -> None:
        import pyarrow.parquet as pq

        tmp = os.path.join(directory, f".{name}.tmp")  # hidden from readers
        pq.write_table(table, tmp)
        os.rename(tmp, os.path.join(directory, name))


class CommitPoller(threading.Thread):
    """Stamps each registered mark with the first poll at which every
    table's committed checkpoint covers it."""

    def __init__(self, table_paths: list[str]):
        super().__init__(daemon=True)
        self.table_paths = table_paths
        self.marks: list[Segment] = []  # registered in ts order
        self.stop_event = threading.Event()
        self.lock = threading.Lock()
        self.error: BaseException | None = None

    def register(self, seg: Segment) -> None:
        with self.lock:
            self.marks.append(seg)

    def run(self) -> None:
        try:
            self._loop()
        except BaseException as exc:  # reported by the workload
            self.error = exc

    def _loop(self) -> None:
        from tiflow_spark.lake import LakeTable

        tables = [LakeTable(p) for p in self.table_paths]
        ptr = [None] * len(tables)
        chk = [-1] * len(tables)
        nxt = 0
        while not self.stop_event.is_set():
            for i, t in enumerate(tables):
                with open(os.path.join(t.path, "_CURRENT")) as f:
                    cur = f.read()
                if cur != ptr[i]:
                    ptr[i] = cur
                    chk[i] = t.current_manifest()["checkpoint_ts"]
            now = time.perf_counter()
            low = min(chk)
            with self.lock:
                while nxt < len(self.marks) and self.marks[nxt].ts <= low:
                    self.marks[nxt].committed = now
                    nxt += 1
            self.stop_event.wait(POLL_S)


def run(ctx: Context) -> None:
    from tiflow_spark.engine import MultiTableEngine
    from tiflow_spark.generator import generate_changefeed
    from tiflow_spark.lake import LakeTable
    from tiflow_spark.oracle import sequential_apply
    from tiflow_spark.streaming import StreamingChangefeed

    size = SIZES["smoke" if ctx.smoke else "full"]
    spark = ctx.spark
    n_window = max(int(round(ctx.seconds * size["rate"])), 1)
    n_marks = size["warmup"] + n_window
    feed = generate_changefeed(
        ctx.fresh_dir("gen"),
        n_convs=size["convs"],
        turns_per_conv=10,
        n_changes=n_marks * size["seg_events"],
        seed=ctx.seed,
        resolved_every=size["seg_events"],
    )
    segments = cut_segments(feed.log_path)[:n_marks]
    log_dir = ctx.fresh_dir("log")
    paths = {t: ctx.path("tables", t) for t in TABLES}
    engine = MultiTableEngine(
        log_dir, {t: LakeTable(p, num_buckets=size["buckets"])
                  for t, p in paths.items()})
    engine.bootstrap(spark, {t: feed.base_path for t in TABLES})

    if ctx.tracer is not None:  # warm-up ticks stay out of the figures
        ctx.tracer.policy = lambda layer: layer != "streaming.batch"
    producer = Producer(log_dir, segments)
    poller = CommitPoller(list(paths.values()))
    poller.start()
    stream = StreamingChangefeed(engine, ctx.path("stream-checkpoint"))
    query = None
    try:
        # warm-up: a fixed count of closed-loop ticks (the first is cold)
        for i in range(size["warmup"]):
            seg = segments[i]
            poller.register(seg)
            producer.append(i)
            if query is None:
                query = stream.start(spark)
            if not _wait(lambda: seg.committed is not None, query, poller,
                         size["drain_s"]):
                raise TimeoutError(f"warm-up tick {i} did not commit")

        if ctx.tracer is not None:
            ctx.tracer.alternate("streaming.batch")
        window = segments[size["warmup"]:]
        t0 = time.perf_counter() + 0.05
        for j, seg in enumerate(window):
            seg.due = t0 + j / size["rate"]
        ctx.e2e["setup_s"] = t0 - ctx.t_process
        for j, seg in enumerate(window):
            delay = seg.due - time.perf_counter()
            if delay > 0:
                time.sleep(delay)
            poller.register(seg)
            producer.append(size["warmup"] + j)
            seg.appended = time.perf_counter()
        _wait(lambda: all(s.committed is not None for s in window), query,
              poller, size["drain_s"])
    finally:
        if query is not None:
            query.stop()
        poller.stop_event.set()
        poller.join(timeout=10)
    if poller.error is not None:
        raise poller.error

    committed = [s for s in window if s.committed is not None]
    ctx.freshness_ms = [(s.committed - s.due) * 1000.0 for s in committed]
    ctx.e2e["events_per_s"] = commit_throughput(committed)
    late = [(s.appended - s.due) * 1000.0 for s in window]
    ctx.layers["loadgen.late_ms_max"] = max(late)
    ctx.layers["loadgen.backlog_marks_max"] = float(max_backlog(window))

    # correctness: each table equals the oracle restricted to its source
    # table and cut at the table's final checkpoint
    all_ok = True
    for t in TABLES:
        m = engine.tables[t].current_manifest()
        expected = normalize(sequential_apply(
            feed.base_path, log_dir, source_tables={t},
            barrier_ts=m["checkpoint_ts"]))
        same, why = frames_equal(engine.final_state(spark, t).toPandas(),
                                 expected)
        all_ok &= ctx.check(f"table {t}", same, why)
    ctx.attempted = len(window)
    ctx.ok = len(committed) if all_ok else 0
    ctx.info.update({
        "marks_in_window": len(window),
        "marks_committed": len(committed),
        "events_per_segment": size["seg_events"],
        "offered_events_per_s": size["seg_events"] * size["rate"],
        "base_rows_per_table": feed.n_base_rows,
        "stream_epochs": len(stream.epochs),
    })
    if ctx.tracer is not None:
        tracer = ctx.tracer
        ctx.layer_roots = {"streaming.batch"}
        ctx.layers["tracing.overhead_frac"] = tracer.overhead_frac(
            "streaming.batch", t0)
        traced = [s for s in tracer.spans
                  if s["layer"] == "streaming.batch" and s["start"] >= t0]
        plain = [x for x in tracer.untraced.get("streaming.batch", [])
                 if x[0] >= t0]
        ctx.layers["streaming.batches"] = float(len(traced) + len(plain))
        ctx.info["batch_walls_ms"] = [
            round((e - s) * 1000.0) for s, e in sorted(
                [(x["start"], x["end"]) for x in traced] + plain)]
        applied = {s["trace"] for s in tracer.spans
                   if s["layer"] == "engine.apply_slice"}
        ctx.layers["streaming.empty_batch_frac"] = (
            sum(1 for s in traced if s["id"] not in applied) / len(traced)
            if traced else 0.0)
        ctx.layers["streaming.discover_ms"] = median(discover_ms(tracer, window))
        ctx.layers["lake.manifest.bytes"] = newest_manifest_bytes(
            paths.values())


def _wait(done, query, poller, timeout: float) -> bool:
    """Poll ``done`` until it holds (True) or ``timeout`` passes (False);
    a dead stream or poller raises."""
    deadline = time.perf_counter() + timeout
    while not done():
        if poller.error is not None:
            raise poller.error
        if query is not None and not query.isActive:
            raise RuntimeError(f"stream stopped: {query.exception()}")
        if time.perf_counter() > deadline:
            return False
        time.sleep(POLL_S)
    return True


def commit_throughput(committed: list[Segment]) -> float:
    """Sustained commit rate: the least-squares slope of cumulative
    committed events against commit time over the window's marks. It equals
    the offered rate while the tail keeps up and falls below it when the
    backlog grows. Fitting every mark, instead of dividing by the span
    between two commits, keeps where the window edges cut a tick from
    moving the figure."""
    cum, xs, ys = 0, [], []
    for s in committed:
        cum += s.events
        xs.append(s.committed)
        ys.append(cum)
    if len(xs) < 2:
        return 0.0
    mx, my = sum(xs) / len(xs), sum(ys) / len(ys)
    var = sum((x - mx) ** 2 for x in xs)
    if var == 0:
        return 0.0
    return sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / var


def max_backlog(window: list[Segment]) -> int:
    """Most marks appended but not yet committed at any one time."""
    edges = []
    for s in window:
        edges.append((s.appended, 1))
        edges.append((s.committed if s.committed is not None else float("inf"), -1))
    depth = best = 0
    for _, d in sorted(edges, key=lambda e: (e[0], e[1])):
        depth += d
        best = max(best, depth)
    return best


def discover_ms(tracer, window: list[Segment]) -> list[float]:
    """Segment append → start of the ``advance_to`` covering it. The
    covering call is the first micro-batch after the append whose barrier
    reaches the mark; marks whose covering batch ran untraced are skipped."""
    advance = {s["parent"]: s for s in tracer.spans
               if s["layer"] == "engine.multitable.advance_to"}
    batches = sorted(
        [(s["start"], advance.get(s["id"])) for s in tracer.spans
         if s["layer"] == "streaming.batch" and s["parent"] is None]
        + [(s, False) for s, _ in tracer.untraced.get("streaming.batch", [])],
        key=lambda b: b[0])
    out = []
    for seg in window:
        for start, adv in batches:
            if start < seg.appended or adv is None:
                continue  # before the append, or a batch with no epoch
            if adv is False:
                break  # covered by an untraced batch: unknown
            if adv["barrier_ts"] >= seg.ts:
                out.append((adv["start"] - seg.appended) * 1000.0)
                break
    return out
