"""``mediation_backlog``: a bounded drain of a pre-staged Avro backlog.

The paper's path end to end: ``read_stream_avro`` (jar-less Avro
decode) -> ``run_mediation_pipeline(trigger={"availableNow": True})``
(keying, validity gate, dead-letter query, inline-expiry TTL dedup,
HTTP POST to the stub, epoch-partitioned analytics). About 5% of the
records are toxic; of the valid ones about 90% carry a fresh key and
about 10% repeat an earlier key. There is no historical table and the
TTL is longer than the run, so every valid key is POSTed exactly once.

A record is handled when it has an analytics row (valid) or a
dead-letter row (toxic); a drain's time runs from query start until
both queries have drained.

Set-up ends with a cold drain of the measured size, so the measured
drain runs in a warm session, as a long-running job does (after a
250-record cold drain, the next drain ran up to 1.5x slower than the
drains after it, and the measured figure spread 33% across seeds
instead of 10%). A warm drain still pays a
fixed cost (planning, state-store open and commit, Python worker
hand-off) of several seconds on 4 cores; the measured backlog is sized
so that per-record work is the larger part of it, and the traced run
separates the two with a second, small warm drain.
"""

from __future__ import annotations

import glob
import os
import time

import common
import gen

#: Records per measured drain, and the files every backlog is staged in
#: (one micro-batch: availableNow with no per-trigger file cap).
BACKLOG = 2000
FILES = 8
#: Records of the cold set-up drain.
WARM_UP = BACKLOG
#: Records of the traced run's small warm drains: the one that separates
#: fixed from per-record cost, and the single-core session's warm-up
#: (its JVM is already warm).
SMALL = 250
TTL_S = 3600.0
#: Sender settings: no client-side throttle (the reference's 1000 req/s
#: is an endpoint SLA, not an engine limit), default retries and
#: concurrency, a short fixed backoff.
SEND_KW = {"throttle_rps": None, "backoff_s": 0.05}
#: State-store partitions of the streaming session: 2x the benchmark's
#: 4 cores, the sizing session.py recommends (its 32 default is sized
#: for a cluster and puts 64 RocksDB instances behind every batch).
STREAM_CONF = {"spark.sql.shuffle.partitions": "8"}
DRAIN_TIMEOUT_S = 150
#: Event time of every record (2023-11-14T22:13:20Z): a constant, so
#: that the inputs depend on the seed alone.
STAMP_MS = 1_700_000_000_000


def make_backlog(ctx, tag: str, n: int) -> dict:
    """Generate and stage one seeded backlog of ``n`` records."""
    root = common.fresh_dir(os.path.join(ctx.work, tag))
    records = gen.backlog_records(ctx.seed, tag, n, STAMP_MS)
    gen.write_backlog(os.path.join(root, "in"), records, FILES)
    return {"tag": tag, "root": root, "in": os.path.join(root, "in"),
            "records": records}


def stage(ctx) -> None:
    ctx.warm_up = make_backlog(ctx, "warm-up", WARM_UP)
    ctx.backlog = make_backlog(ctx, "d0", BACKLOG)


def _await(send_q, ko_q) -> None:
    if not send_q.awaitTermination(DRAIN_TIMEOUT_S):
        raise RuntimeError("send query did not drain in time")
    if send_q.exception() is not None:
        raise RuntimeError(f"send query failed: {send_q.exception()}")
    # The dead-letter query runs on the default trigger whatever the
    # send query's trigger is, so it is drained, then stopped.
    ko_q.processAllAvailable()
    ko_q.stop()


def drain(ctx, spark, b: dict, traced: bool = False) -> dict:
    """Drain one staged backlog through the whole pipeline."""
    from scio_db_spark.sources.readers import read_stream_avro

    b["analytics"] = os.path.join(b["root"], "analytics")
    b["dead"] = os.path.join(b["root"], "dead")
    ck = os.path.join(b["root"], "ck")
    t0 = time.time()
    cpu0 = ctx.cpu.now()
    stream = read_stream_avro(spark, b["in"])
    if traced:
        send_q, ko_q = _start_traced(ctx, spark, stream, b, ck)
    else:
        from scio_db_spark.streaming.mediation import run_mediation_pipeline

        qs = run_mediation_pipeline(
            stream, url=ctx.stub.url, checkpoint_dir=ck,
            dead_letter_path=b["dead"], analytics_path=b["analytics"],
            ttl_seconds=TTL_S, trigger={"availableNow": True}, **SEND_KW,
        )
        send_q, ko_q = qs["send_query"], qs["ko_query"]
    _await(send_q, ko_q)
    b["elapsed_s"] = time.time() - t0
    b["cpu_s"] = ctx.cpu.now() - cpu0
    b["start_ms"] = t0 * 1000.0
    b["send_q"], b["ko_q"] = send_q, ko_q
    for q in (send_q, ko_q):
        # Idle polls update lastProgress without a progress event, so
        # wait for the last batch that read rows.
        data = [p["batchId"] for p in q.recentProgress if p["numInputRows"]]
        if data:
            ctx.progress.wait_for(q, max(data))
    return b


def _start_traced(ctx, spark, stream, b, ck):
    """The same pipeline driven from its public pieces, so the batch
    body can be split into ttl_dedup, http_sink and analytics spans."""
    from scio_db_spark.sinks.files import (
        dead_letter_sink,
        idempotent_batch_writer,
    )
    from scio_db_spark.streaming.mediation import (
        build_mediation_core,
        send_deduped_batch,
    )

    core = build_mediation_core(stream, ttl_seconds=TTL_S, use_timers=False)
    ko_q = dead_letter_sink(core["ko"], b["dead"], f"{ck}/ko")
    writer = idempotent_batch_writer(b["analytics"])
    spans = ctx.spans

    def process(batch_df, epoch_id):
        attrs = {"epoch": epoch_id, "drain": b["tag"]}
        with spans.span("streaming.mediation.batch_body", **attrs) as body:
            with spans.span("streaming.ttl_dedup", body.id, **attrs):
                deduped = batch_df.persist()
                deduped.count()
            with spans.span("sinks.http_sink", body.id, **attrs):
                out = send_deduped_batch(deduped, ctx.stub.url, **SEND_KW)
                out = out.persist()
                out.count()
            with spans.span("sinks.files.analytics", body.id, **attrs):
                writer(out, epoch_id)
            out.unpersist()
            deduped.unpersist()

    send_q = (
        core["deduped"].writeStream.foreachBatch(process)
        .outputMode("update")
        .option("checkpointLocation", f"{ck}/send")
        .trigger(availableNow=True)
        .start()
    )
    return send_q, ko_q


def evaluate(ctx, b: dict) -> dict:
    """Check every output of one drain; per-record handling times."""
    import pyarrow.parquet as pq

    records = b["records"]
    valid = [r for r in records if gen.is_valid(r)]
    toxic = [r for r in records if not gen.is_valid(r)]
    keys = {gen.key_of(r) for r in valid}
    rows = pq.read_table(b["analytics"]).to_pylist() if os.path.isdir(
        b["analytics"]) else []
    dead_files = glob.glob(os.path.join(b["dead"], "toxic", "**",
                                        "*.parquet"), recursive=True)
    dead = pq.read_table(os.path.join(b["dead"], "toxic")).to_pylist() \
        if dead_files else []
    title_key = {r["notification_id"]: gen.key_of(r) for r in valid}
    log = [e for e in ctx.stub.log() if e[0] in title_key]

    checks = {}
    ok_posts: dict[str, int] = {}
    for title, _attempt, status, _t in log:
        if status == 201:
            k = title_key[title]
            ok_posts[k] = ok_posts.get(k, 0) + 1
    checks["one_post_per_key"] = sum(1 for n in ok_posts.values() if n != 1)
    checks["posted_keys_equal_valid_keys"] = len(set(ok_posts) ^ keys)
    by_event: dict[str, list] = {}
    for r in rows:
        by_event.setdefault(r["event_id"], []).append(r)
    valid_ids = {r["event_id"] for r in valid}
    checks["one_analytics_row_per_valid_record"] = (
        sum(1 for e in valid_ids if len(by_event.get(e, ())) != 1)
        + sum(1 for e in by_event if e not in valid_ids)
    )
    dead_ids = [r["event_id"] for r in dead]
    toxic_ids = {r["event_id"] for r in toxic}
    checks["dead_letter_equals_toxic"] = (
        len(set(dead_ids) ^ toxic_ids) + len(dead_ids) - len(set(dead_ids))
    )
    gate = {"n_ok": 0, "n_ko": 0}
    for e in ctx.progress.of(b["send_q"]):
        g = (e.get("observedMetrics") or {}).get("mediation_gate") or {}
        for k in gate:
            gate[k] += int(g.get(k) or 0)
    checks["gate_counts"] = int(
        gate["n_ok"] != len(valid) or gate["n_ko"] != len(toxic)
    )

    # Failed records: a valid record without a successful final
    # response, a toxic record missing from the dead letter.
    failed_records = 0
    sent_rows = []
    for r in valid:
        got = by_event.get(r["event_id"])
        if not got or not got[0]["nhub_success"]:
            failed_records += 1
        elif got[0]["send_status"] == "SENT":
            sent_rows.append(got[0])
    failed_records += len(toxic_ids - set(dead_ids))

    # Delivery time of each notification: drain start to the stub's
    # receipt of its accepted POST.
    posted_ms = [t - b["start_ms"] for _title, _a, status, t in log
                 if status == 201]
    return {
        "records": len(records), "valid": len(valid), "toxic": len(toxic),
        "keys": len(keys), "checks": checks, "gate": gate,
        "failed_records": failed_records, "posted_ms": posted_ms,
        "sent_rows": sent_rows, "dead_rows": len(dead),
        "posts": len(log),
        "retries": sum(1 for e in log if e[1] > 1),
        "http_failed": sum(1 for r in rows if r["send_status"] == "SENT"
                           and not r["nhub_success"]),
    }
