"""The MQ leg of the traced ``bulk_replay`` run: publish the feed on the
versioned Avro wire, then relay it back to a changefeed log.

``MQChangefeed(protocol="avro")`` publishes to a fresh ``FileMQSink`` of
``nproc`` partitions (codec encode, topic write) and ``topic_to_log``
relays the topic (per-message Python Avro decode in ``mapInPandas``). The
feed carries a DDL half-way, so two writer schemas travel on the wire. The
relayed log, replayed by ``ChangefeedEngine``, must equal the
sequential-apply oracle cut at the same mark.
"""

from __future__ import annotations

import time

from perfbench.common import Context, frames_equal, normalize


def publish_and_relay(ctx: Context, log_path: str, tag: str,
                      up_to_ts: int | None = None):
    """One operation: returns (relayed log dir, messages, publish s, relay s).
    ``topic_to_log`` is looked up through its module at call time."""
    import tiflow_spark.sinks.mq as mq

    sink = mq.FileMQSink(ctx.fresh_dir("topics", tag), n_partitions=ctx.cores)
    out = ctx.path("relayed", tag)
    t0 = time.perf_counter()
    published = mq.MQChangefeed(log_path, sink, protocol="avro").run(
        ctx.spark, up_to_ts=up_to_ts)
    t1 = time.perf_counter()
    mq.topic_to_log(ctx.spark, sink, out)
    t2 = time.perf_counter()
    return out, sum(p["messages"] for p in published), t1 - t0, t2 - t1


def mq_leg(ctx: Context, feed, up_to_ts: int) -> None:
    """Publish and relay the feed up to ``up_to_ts`` (one untraced warm-up,
    one traced operation), so the ``mq.*`` layers are measured; then check
    the relayed log (untraced)."""
    from tiflow_spark.engine import ChangefeedEngine
    from tiflow_spark.lake import LakeTable
    from tiflow_spark.oracle import sequential_apply

    tracer = ctx.tracer
    tracer.policy = lambda layer: False
    publish_and_relay(ctx, feed.log_path, "mq-warm", up_to_ts)
    tracer.policy = lambda layer: True
    tracer.op_label = "mq-leg"
    relayed, messages, pub_s, rel_s = publish_and_relay(
        ctx, feed.log_path, "mq-leg", up_to_ts)
    tracer.op_label = None
    tracer.policy = lambda layer: False
    ctx.mq_roots = {"mq.publish", "mq.relay"}
    ctx.info["mq_leg"] = {"messages": messages, "publish_s": pub_s,
                          "relay_s": rel_s}

    expected = normalize(sequential_apply(
        feed.base_path, feed.log_path, barrier_ts=up_to_ts))
    engine = ChangefeedEngine(relayed, LakeTable(ctx.fresh_dir("check", "mq")))
    engine.bootstrap(ctx.spark, feed.base_path)
    engine.run(ctx.spark)
    same, why = frames_equal(engine.final_state(ctx.spark).toPandas(), expected)
    ctx.check("relay mq-leg", same, why)
