"""bulk_replay: catch-up capacity of one coalesced epoch.

One seeded feed into one table: Zipf keys with 5% of events on one hot key,
55% U / 30% I / 15% D, and one ``add_column`` DDL half-way. The base
snapshot is bootstrapped once; each operation starts from a file copy of
that table (untimed) and replays the whole feed as one epoch
(``ChangefeedEngine.run``, stride 0, timed). A fixed number of warm-up
replays run first, then a fixed number of timed replays. Every timed
replay's final table must equal
``tiflow_spark.oracle.sequential_apply`` on the same feed; the oracle runs
after the timed replays, so it shares the cores with neither set-up nor
the window.

Every mark of the feed is on disk when a replay starts and becomes visible
with its one commit, so a replay gives ONE freshness sample (its wall
time) however many marks it covers. That is too few for a percentile, so
this workload claims none: it reports the median replay wall under both
freshness names (see README.md).
"""

from __future__ import annotations

import shutil
import time

from perfbench.common import (
    Context,
    frames_equal,
    median,
    newest_manifest_bytes,
    normalize,
    table_digest,
)

SIZES = {
    # events, base conversations (x10 turns), resolved-mark spacing; warm-up
    # replays (the first ``warm_cut`` of them stop at 60% of the feed, past
    # the half-way DDL, the rest replay it whole); timed replays per
    # ``replay_s`` of --seconds (a nominal table copy + warm replay on 4
    # cores, so the count depends on the arguments only, never on host
    # speed); the traced run adds an MQ leg publishing the feed up to its
    # mq_marks-th mark
    "full": {"events": 150_000, "convs": 3_000, "resolved_every": 3_750,
             "buckets": 16, "warmup": 4, "warm_cut": 2, "replay_s": 3.2,
             "min_ops": 3, "mq_marks": 6},
    "smoke": {"events": 3_000, "convs": 100, "resolved_every": 30,
              "buckets": 4, "warmup": 2, "warm_cut": 1, "replay_s": 1.0,
              "min_ops": 2, "mq_marks": 10},
}

ADD_NOTE = {"action": "add_column", "name": "note", "type": "string",
            "default": ""}


def generate(ctx: Context, size: dict, name: str = "feed"):
    from tiflow_spark.generator import generate_changefeed

    return generate_changefeed(
        ctx.fresh_dir(name),
        n_convs=size["convs"],
        turns_per_conv=10,
        n_changes=size["events"],
        seed=ctx.seed,
        hot_key_frac=0.05,
        resolved_every=size["resolved_every"],
        ddl_plan=[(0.5, ADD_NOTE)],
        n_files=ctx.cores,
    )


def run(ctx: Context) -> None:
    from tiflow_spark.engine import ChangefeedEngine
    from tiflow_spark.lake import LakeTable
    from tiflow_spark.oracle import sequential_apply

    size = SIZES["smoke" if ctx.smoke else "full"]
    spark = ctx.spark
    t0 = time.perf_counter()
    feed = generate(ctx, size)
    ctx.info["generate_s"] = time.perf_counter() - t0
    n_marks = -(-size["events"] // size["resolved_every"])

    # one bootstrap; each replay starts from a file copy of its table
    base_table = ctx.path("targets", "bootstrap")
    ChangefeedEngine(
        feed.log_path, LakeTable(base_table, num_buckets=size["buckets"]),
    ).bootstrap(spark, feed.base_path)

    def replay(tag: str, target_ts: int | None = None):
        target = ctx.path("targets", tag)
        shutil.rmtree(target, ignore_errors=True)
        shutil.copytree(base_table, target)
        engine = ChangefeedEngine(
            feed.log_path, LakeTable(target, num_buckets=size["buckets"]))
        t0 = time.perf_counter()
        stats = engine.run(spark, target_ts=target_ts)
        return engine, stats, time.perf_counter() - t0

    # warm-ups stay out of the traced figures
    if ctx.tracer is not None:
        ctx.tracer.policy = lambda layer: layer != "engine.run"
    cut = mark_ts(feed.log_path, n_marks * 3 // 5)
    warm = []
    for i in range(size["warmup"]):
        target_ts = cut if i < size["warm_cut"] else None
        warm.append(replay(f"warm{i}", target_ts)[2])
        shutil.rmtree(ctx.path("targets", f"warm{i}"))
    ctx.info["warmup_replay_s"] = [round(w, 4) for w in warm]

    t_first = time.perf_counter()
    ctx.e2e["setup_s"] = t_first - ctx.t_process
    if ctx.tracer is not None:
        ctx.tracer.alternate("engine.run")
    n_ops = max(size["min_ops"], round(ctx.seconds / size["replay_s"]))
    ops = [replay(f"op{i}") for i in range(n_ops)]
    ctx.info["timed_window_s"] = time.perf_counter() - t_first

    # correctness, outside the timed window: every replay's table equals
    # the oracle, row by row unless its digest matches a table that did
    t0 = time.perf_counter()
    expected = normalize(sequential_apply(feed.base_path, feed.log_path))
    ctx.info["oracle_s"] = time.perf_counter() - t0
    walls, rates, proven = [], [], set()
    for i, (engine, stats, wall) in enumerate(ops):
        ctx.attempted += 1
        committed = len(stats.epochs) == 1 and stats.epochs[0].committed
        final = engine.final_state(spark)
        digest = table_digest(final)
        same, why = (True, "") if digest in proven else frames_equal(
            final.toPandas(), expected)
        if same:
            proven.add(digest)
        if ctx.check(f"replay{i}", committed and same,
                     why or ("" if committed else "epoch not committed")):
            ctx.ok += 1
        walls.append(wall)
        rates.append(stats.total_events / wall)
    ctx.e2e["events_per_s"] = median(rates)
    # one freshness sample per replay: no percentile is claimed
    ctx.e2e["freshness_ms_p50"] = ctx.e2e["freshness_ms_p90"] = (
        median(walls) * 1000.0)
    ctx.info["samples"] = {"freshness_ms_p50": len(walls),
                           "freshness_ms_p90": len(walls)}
    ctx.info.update({
        "replay_s": [round(w, 4) for w in walls],
        "events_per_replay": ops[0][1].total_events,
        "marks_per_replay": n_marks,
        "base_rows": feed.n_base_rows,
    })
    if ctx.tracer is not None:
        from perfbench.mq_leg import mq_leg

        ctx.layer_roots = {"engine.run"}
        ctx.layers["tracing.overhead_frac"] = ctx.tracer.overhead_frac(
            "engine.run", t_first)
        ctx.layers["lake.manifest.bytes"] = newest_manifest_bytes(
            [ctx.path("targets", f"op{i}") for i in range(len(ops))])
        mq_leg(ctx, feed, mark_ts(feed.log_path, size["mq_marks"]))


def mark_ts(log_path: str, k: int) -> int:
    """commit_ts of the k-th resolved mark of a generated feed."""
    import os

    import pyarrow.parquet as pq

    ctl = pq.read_table(os.path.join(log_path, "_control")).to_pydict()
    marks = sorted(ts for op, ts in zip(ctl["op"], ctl["commit_ts"]) if op == "R")
    return marks[min(k, len(marks)) - 1]
