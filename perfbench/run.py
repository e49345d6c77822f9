"""Benchmark of the mediation path and the headline query set, 4 cores.

Usage (from the repository root):
    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Workloads:
- ``mediation_backlog``: a bounded drain of a seeded Avro backlog
  through ``run_mediation_pipeline`` to a local HTTP stub;
- ``batch_headline``: the registry's headline queries, each forced
  through a noop write.

Every output is checked (a failed check counts as a failed
operation). The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0``
``metrics`` holds the end-to-end metrics, with ``--trace 1`` the
per-layer ones. Lines before it are a compact summary. Per-layer
detail, spans and progress events go to a sidecar file under
``perfbench/_out/``.

End-to-end metrics, on both workloads:
- ``setup_s``: median of three set-ups (session creation, input
  generation and staging) plus the single warm-up: on
  ``mediation_backlog`` a cold drain of the measured size, on
  ``batch_headline`` one pass that collects every result (checked
  against the oracle, which runs before the timer starts);
- ``throughput_per_min``: input records fully handled per minute of a
  warm drain (backlog), or headline queries completed per minute
  (batch);
- ``latency_geomean_ms``: geometric mean of the time each unit of work
  waits: per notification, from drain start to the stub's receipt of
  its accepted POST (backlog); per query, its median wall time (batch),
  so that slowing many small queries cannot hide behind speeding up
  one large one.

CPU time per item, the latency percentiles and peak RSS are per-layer
metrics. Peak RSS and the percentiles did not repeat within a tenth
across seeds; CPU time moved with other tenants' load on a shared
host as much as wall time did.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time
import types

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "_out")
sys.path.insert(0, HERE)

import common  # noqa: E402

SETUP_REPS = 3


def _setup(ctx, stage, conf: dict) -> tuple:
    """Set up SETUP_REPS times; returns (spark, rep seconds, rss sampler)."""
    spark, reps, rss = None, [], None
    for i in range(SETUP_REPS):
        t0 = time.perf_counter()
        if spark is not None:
            spark.stop()
        with ctx.spans.span("session.create", rep=i) as s:
            spark = common.create_session(f"perfbench-{ctx.workload}", conf)
        if i == 0:
            ctx.layers["session.create_s"] = s.ms / 1000.0
            rss = common.RssSampler(common.jvm_pid(spark))
            ctx.cpu = common.CpuClock(common.jvm_pid(spark))
        with ctx.spans.span("setup.stage", rep=i):
            stage(ctx)
        reps.append(time.perf_counter() - t0)
    return spark, reps, rss


# ---------------------------------------------------------------------------
# mediation_backlog
# ---------------------------------------------------------------------------


def run_backlog(ctx) -> dict:
    import backlog

    ctx.stub = common.StubProcess(os.path.join(ctx.work, "stub"), ctx.seed)
    spark = rss = None
    try:
        spark, reps, rss = _setup(ctx, backlog.stage, backlog.STREAM_CONF)
        ctx.progress = common.Progress(spark, ctx.progress_path)
        with ctx.spans.span("warm_up"):
            warm = backlog.drain(ctx, spark, ctx.warm_up)
        drains = []
        t_end = time.perf_counter() + ctx.seconds
        while True:
            b = ctx.backlog if not drains else backlog.make_backlog(
                ctx, f"d{len(drains)}", backlog.BACKLOG)
            drains.append(backlog.drain(ctx, spark, b))
            if time.perf_counter() >= t_end:
                break
        ctx.layers["peak_rss_mb"] = rss.stop()
        measured = [backlog.evaluate(ctx, b) for b in drains]
        extra = [backlog.evaluate(ctx, warm)]
        if ctx.trace:
            extra += _trace_backlog(ctx, spark, drains[0], measured[0])
    finally:
        if rss is not None:
            rss.stop()
        if spark is not None:
            spark.stop()
        ctx.stub_stats = ctx.stub.stop()

    rates = [e["records"] / d["elapsed_s"] * 60.0
             for e, d in zip(measured, drains)]
    posted = [ms for e in measured for ms in e["posted_ms"]]
    # Every drain's output is checked: the warm-up and the traced run's
    # extra drains too.
    checked = measured + extra
    checks = {}
    for e in checked:
        for k, v in e["checks"].items():
            checks[k] = checks.get(k, 0) + v
    n_checks = len(checks) * len(checked)
    failed_checks = sum(1 for e in checked for v in e["checks"].values() if v)
    records = sum(e["records"] for e in checked)
    failed_records = sum(e["failed_records"] for e in checked)

    e2e = {
        "setup_s": (common.median(reps) + warm["elapsed_s"], "s", SETUP_REPS),
        "throughput_per_min": (common.median(rates), "1/min", len(rates)),
        "latency_geomean_ms": (common.geomean(posted), "ms", len(posted)),
    }
    ctx.layers["drain.cold_warm_up_s"] = warm["elapsed_s"]
    ctx.layers["cpu_ms_per_item"] = common.median(
        [d["cpu_s"] * 1000.0 / e["records"] for e, d in zip(measured, drains)])
    ctx.layers["latency_p50_ms"] = common.percentile(posted, 50)
    ctx.layers["latency_p99_ms"] = common.percentile(posted, 99)
    ev = measured[0]
    sent_lat = [r["send_latency_ms"] for r in ev["sent_rows"]]
    send_events = ctx.progress.of(drains[0]["send_q"])
    ko_events = ctx.progress.of(drains[0]["ko_q"])
    both = send_events + ko_events
    ops = [s for e in send_events for s in e.get("stateOperators", [])]
    last_ops = send_events[-1].get("stateOperators", []) if send_events else []
    rows_end = sum(s.get("numRowsTotal", 0) for s in last_ops)
    dur = [e["durationMs"] for e in send_events]

    def gate_total(e):
        # Records entering the gate; numInputRows counts Avro files.
        return int(((e.get("observedMetrics") or {}).get("mediation_gate")
                    or {}).get("n_total") or 0)

    rows_read = sum(gate_total(e) for e in both)
    mem = sum(s.get("memoryUsedBytes", 0) for s in last_ops)
    ctx.layers.update({
        "sources.rows_read": rows_read,
        "sources.read_amplification": rows_read / ev["records"],
        "sources.files_read": sum(e.get("numInputRows", 0) for e in both),
        "sources.list_ms": sum(
            d.get("latestOffset", 0) + d.get("getBatch", 0)
            for d in [e["durationMs"] for e in both]),
        "operators.gate_ok": ev["gate"]["n_ok"],
        "operators.gate_ko": ev["gate"]["n_ko"],
        "ttl_dedup.groups": sum(s.get("numRowsUpdated", 0)
                                + s.get("numRowsRemoved", 0) for s in ops),
        "ttl_dedup.state_rows_end": rows_end,
        # The drain is too short for RocksDB to flush SST files, so the
        # state's size is its reported memory.
        "ttl_dedup.state_bytes_per_key": mem / rows_end if rows_end else 0.0,
        "ttl_dedup.state_commit_ms": sum(s.get("commitTimeMs", 0)
                                         for s in ops),
        "ttl_dedup.rows_removed": sum(s.get("numRowsRemoved", 0)
                                      for s in ops),
        "ttl_dedup.sent_share": len(ev["sent_rows"]) / ev["valid"],
        "batch.count": len(send_events),
        "batch.rows_p50": common.median([gate_total(e) for e in send_events]),
        "batch.trigger_ms_p50": common.median(
            [d.get("triggerExecution", 0) for d in dur]),
        "batch.trigger_ms_max": max(
            [d.get("triggerExecution", 0) for d in dur] or [0]),
        "batch.add_batch_ms_sum": sum(d.get("addBatch", 0) for d in dur),
        "batch.planning_ms_sum": sum(d.get("queryPlanning", 0) for d in dur),
        "batch.wal_commit_ms_sum": sum(d.get("walCommit", 0) for d in dur),
        "batch.commit_offsets_ms_sum": sum(
            d.get("commitOffsets", 0) for d in dur),
        "http.posts": ev["posts"],
        "http.retries": ev["retries"],
        "http.failed": ev["http_failed"],
        "http.send_latency_ms_p50": common.percentile(sent_lat, 50),
        "http.send_latency_ms_p99": common.percentile(sent_lat, 99),
        "stub.cpu_s": ctx.stub_stats.get("cpu_s", 0.0),
        "files.dead_letter_s": sum(
            e["durationMs"].get("addBatch", 0) for e in ko_events) / 1000.0,
        "files.dead_letter_rows": ev["dead_rows"],
        "gen.rows": ev["records"],
    })
    records_per_min = common.median(rates)
    failed_share = failed_records / records
    return {
        "e2e": e2e,
        "checks": checks,
        "attempted": records + n_checks,
        "failed": failed_records + failed_checks,
        "summary": {
            "mediation_backlog.records_per_min": (records_per_min,
                                                  "records/min", len(rates)),
            "mediation_backlog.failed_share": (failed_share, "ratio",
                                               records),
            "backlog_records_per_drain": (backlog.BACKLOG, "records", 1),
            "drain_s": (common.median([d["elapsed_s"] for d in drains]),
                        "s", len(drains)),
        },
    }


def _trace_backlog(ctx, spark, measured, measured_eval) -> list[dict]:
    """Traced drain, fixed-cost split, rungs and the single-core
    baseline; returns the checked outputs of the extra drains."""
    import backlog

    # Tracing overhead: a traced drain against the measured one, both
    # warm and of the same size.
    b = backlog.drain(ctx, spark, backlog.make_backlog(
        ctx, "traced", backlog.BACKLOG), traced=True)
    ctx.layers["trace.untraced_drain_s"] = measured["elapsed_s"]
    ctx.layers["trace.traced_drain_s"] = b["elapsed_s"]
    ctx.layers["trace.overhead_s"] = b["elapsed_s"] - measured["elapsed_s"]
    # Fixed against per-record cost: a small warm drain beside the
    # measured one.
    small = backlog.drain(ctx, spark, backlog.make_backlog(
        ctx, "small", backlog.SMALL))
    per_record_s = ((measured["elapsed_s"] - small["elapsed_s"])
                    / (backlog.BACKLOG - backlog.SMALL))
    ctx.layers["drain.small_warm_s"] = small["elapsed_s"]
    ctx.layers["drain.marginal_records_per_min"] = 60.0 / per_record_s
    ctx.layers["drain.fixed_s"] = (small["elapsed_s"]
                                   - backlog.SMALL * per_record_s)
    ctx.layers["drain.per_record_share"] = (
        backlog.BACKLOG * per_record_s / measured["elapsed_s"])
    for name, key in (("streaming.ttl_dedup", "ttl_dedup.span_s"),
                      ("sinks.http_sink", "http.span_s"),
                      ("sinks.files.analytics", "files.analytics_s")):
        ctx.layers[key] = sum(
            s["end_ms"] - s["start_ms"] for s in ctx.spans.named(name)
            if s.get("drain") == "traced") / 1000.0
    # One span per micro-batch (query id, batchId); its children are
    # the progress phases, anchored at the batch start (Spark reports
    # their durations, not their offsets).
    for e in ctx.progress.of(b["send_q"]) + ctx.progress.of(b["ko_q"]):
        start = common.iso_ms(e["timestamp"])
        dur = e["durationMs"]
        sid = ctx.spans.add(
            "streaming.mediation.micro_batch", start,
            start + dur.get("triggerExecution", 0),
            query=e["id"], batch=e["batchId"], drain="traced")
        for phase, ms in dur.items():
            if phase != "triggerExecution":
                ctx.spans.add(f"progress.{phase}", start, start + ms, sid)
    extra = [backlog.evaluate(ctx, b), backlog.evaluate(ctx, small)]

    from scio_db_spark.sinks.http_sink import send_http_batch
    from scio_db_spark.sources.readers import read_stream_avro
    from scio_db_spark.streaming.mediation import build_mediation_core

    def rung(df, tag, mode):
        ck = common.fresh_dir(os.path.join(ctx.work, f"rung-{tag}"))
        with ctx.spans.span(f"rung.{tag}") as s:
            q = (df.writeStream.foreachBatch(lambda d, _e: d.count())
                 .outputMode(mode).option("checkpointLocation", ck)
                 .trigger(availableNow=True).start())
            q.awaitTermination(backlog.DRAIN_TIMEOUT_S)
        return s.ms / 1000.0

    src = read_stream_avro(spark, measured["in"])
    decode_s = rung(src, "source", "append")
    core = build_mediation_core(read_stream_avro(spark, measured["in"]),
                                ttl_seconds=backlog.TTL_S, use_timers=False)
    core_s = rung(core["deduped"], "core", "update")
    ctx.layers["sources.decode_s"] = decode_s
    ctx.layers["ttl_dedup.self_s"] = core_s - decode_s
    rows = [(r["title"], r["body"], r["user_id"])
            for r in measured_eval["sent_rows"]]
    static = spark.createDataFrame(rows, "title string, body string, user_id int")
    with ctx.spans.span("rung.http") as s:
        send_http_batch(static, ctx.stub.url, **backlog.SEND_KW).write.format(
            "noop").mode("overwrite").save()
    ctx.layers["http.send_s"] = s.ms / 1000.0

    # Single-core baseline under the measured drain's condition: a
    # local[1] session, warmed by a small drain, then a drain of the
    # measured size.
    spark.stop()
    one = common.create_session("perfbench-1cpu", backlog.STREAM_CONF, "1")
    saved = ctx.progress
    ctx.progress = common.Progress(one)
    try:
        for tag, n in (("onecpu-warm-up", backlog.SMALL),
                       ("onecpu", backlog.BACKLOG)):
            b1 = backlog.drain(ctx, one, backlog.make_backlog(ctx, tag, n))
            extra.append(backlog.evaluate(ctx, b1))
        ctx.layers["scaling.backlog_records_per_min_1cpu"] = (
            backlog.BACKLOG / b1["elapsed_s"] * 60.0)
    finally:
        ctx.progress = saved
        one.stop()
    return extra


# ---------------------------------------------------------------------------
# batch_headline
# ---------------------------------------------------------------------------


def run_headline(ctx) -> dict:
    import headline

    specs = headline.headline_specs()
    spark = rss = None
    try:
        spark, reps, rss = _setup(ctx, headline.stage, {})
        # The oracle runs on the final staged tables before the timed
        # warm-up, and the results are checked after it.
        with ctx.spans.span("oracle"):
            expected = headline.oracle(ctx, specs)
        t0 = time.perf_counter()
        with ctx.spans.span("warm_up"):
            got, failures = headline.warm_up(ctx, spark, specs)
        warm_s = time.perf_counter() - t0
        headline.check(got, expected, failures)
        cpu0 = ctx.cpu.now()
        times = headline.measure(ctx, spark, specs, ctx.seconds)
        cpu_s = ctx.cpu.now() - cpu0
        ctx.layers["peak_rss_mb"] = rss.stop()
    finally:
        if rss is not None:
            rss.stop()
        if spark is not None:
            spark.stop()
    if ctx.trace:
        _trace_headline(ctx, specs, times)

    per_query = {n: common.median(v) for n, v in times.items()}
    total = sum(per_query.values())
    ms = [v * 1000.0 for v in per_query.values()]
    ctx.layers["latency_p50_ms"] = common.percentile(ms, 50)
    ctx.layers["latency_p99_ms"] = common.percentile(ms, 99)
    for n, v in per_query.items():
        ctx.layers[f"plans.{n}.s"] = v
    ctx.layers["plans.failures"] = failures
    passes = len(next(iter(times.values())))
    ctx.layers["cpu_ms_per_item"] = cpu_s * 1000.0 / (len(specs) * passes)
    return {
        "e2e": {
            "setup_s": (common.median(reps) + warm_s, "s", SETUP_REPS),
            "throughput_per_min": (len(specs) * 60.0 / total, "1/min",
                                   passes),
            "latency_geomean_ms": (common.geomean(ms), "ms", len(ms)),
        },
        "checks": {n: 1 for n in failures},
        "attempted": len(specs),
        "failed": len(failures),
        "summary": {
            "batch_headline.total_s": (total, "s", passes),
            "batch_headline.geomean_s": (common.geomean(ms) / 1000.0, "s",
                                         passes),
            "batch_headline.failed_share": (len(failures) / len(specs),
                                            "ratio", len(specs)),
        },
    }


def _trace_headline(ctx, specs, untraced) -> None:
    """One labelled pass in a session with the event log on."""
    import headline

    evdir = common.fresh_dir(os.path.join(ctx.work, "events"))
    spark = common.create_session("perfbench-headline-traced", {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": evdir,
        "spark.eventLog.compress": "false",
        # One plain file: Spark 4 writes a rolling log directory by
        # default.
        "spark.eventLog.rolling.enabled": "false",
    })
    try:
        traced = headline.measure(ctx, spark, specs, 0, label=True)
        app = spark.sparkContext.applicationId
    finally:
        spark.stop()
    ctx.layers["trace.overhead_s"] = (
        sum(v[0] for v in traced.values())
        - sum(common.median(v) for v in untraced.values()))
    (log,) = [f for f in os.listdir(evdir) if app in f]
    parsed = headline.parse_event_log(os.path.join(evdir, log))
    per = parsed["per_query"]
    for n in specs:
        ctx.layers[f"plans.{n}.task_s"] = per.get(n, {}).get("task_ms",
                                                             0) / 1000.0

    def total(k):
        return sum(p.get(k, 0) for p in per.values())

    ctx.layers.update({
        "plans.jobs": parsed["jobs"],
        "plans.stages": parsed["stages"],
        "plans.input_mb": total("input_b") / 2**20,
        "plans.shuffle_write_mb": total("shuffle_write_b") / 2**20,
        "plans.fetch_wait_ms": total("fetch_wait_ms"),
        "plans.gc_ms": total("gc_ms"),
        "plans.spill_mb": total("spill_b") / 2**20,
        "plans.skew_max_over_median": parsed["skew_max_over_median"],
    })


WORKLOADS = {
    "mediation_backlog": run_backlog,
    "batch_headline": run_headline,
}


def _fmt(v) -> str:
    return f"{v:.6g}" if isinstance(v, float) else str(v)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    # Spark's Python workers import the engine by module path too.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    try:
        import scio_db_spark.session  # noqa: F401
    except ImportError as e:
        print(f"perfbench: engine not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2

    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    os.makedirs(OUT, exist_ok=True)
    ctx = types.SimpleNamespace(
        workload=args.workload, seed=args.seed, seconds=args.seconds,
        trace=bool(args.trace), spans=common.Spans(), layers={},
        work=common.fresh_dir(os.path.join(OUT, f"work-{tag}")),
        progress_path=os.path.join(OUT, f"{tag}.progress.jsonl"),
    )
    if os.path.exists(ctx.progress_path):
        os.remove(ctx.progress_path)
    common.use_tmp(os.path.join(ctx.work, "tmp"))
    load_before = os.getloadavg()
    cpu_before = common.host_cpu_ticks()
    t0 = time.perf_counter()
    try:
        res = WORKLOADS[args.workload](ctx)
    finally:
        common.stop_processes()
    wall = time.perf_counter() - t0
    load_after = os.getloadavg()
    steal = common.steal_share(cpu_before, common.host_cpu_ticks())

    correct = res["failed"] == 0 and not any(res["checks"].values())
    e2e = res["e2e"]
    ctx.layers.update({k: v for k, (v, _u, _n) in res["summary"].items()})
    layers = {k: v for k, v in ctx.layers.items()
              if isinstance(v, (int, float)) and not isinstance(v, bool)}
    for name, (value, unit, n) in {**e2e, **res["summary"]}.items():
        print(f"{name} = {_fmt(value)} {unit} (n={n})")
    print(f"seed={args.seed} nproc={os.cpu_count()} cpus={common.CPUS} "
          f"load_before={load_before[0]:.2f} load_after={load_after[0]:.2f} "
          f"steal={steal:.1%} "
          f"wall_s={wall:.1f} correct={correct} "
          f"attempted={res['attempted']} failed={res['failed']}")
    sidecar = os.path.join(OUT, f"{tag}.json")
    with open(sidecar, "w") as fh:
        json.dump({
            "workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace,
            "nproc": os.cpu_count(), "cpus": common.CPUS,
            "load_before": load_before, "load_after": load_after,
            "steal_share": steal,
            "wall_s": wall,
            "end_to_end": {k: {"value": v, "unit": u, "n": n}
                           for k, (v, u, n) in e2e.items()},
            "summary": {k: {"value": v, "unit": u, "n": n}
                        for k, (v, u, n) in res["summary"].items()},
            "per_layer": layers,
            "checks": res["checks"],
            "details": {k: v for k, v in ctx.layers.items()
                        if k not in layers},
            "spans": ctx.spans.as_list(),
            "progress_file": os.path.relpath(ctx.progress_path, ROOT),
        }, fh, default=str)
    print(f"sidecar: {os.path.relpath(sidecar, ROOT)}")

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if args.trace:
        # Every per-layer metric on every workload; one that does not
        # apply to this workload reads 0.
        metrics = {m["name"]: {"value": float(layers.get(m["name"], 0.0)),
                               "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": float(e2e[m["name"]][0]),
                               "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    shutil.rmtree(ctx.work)
    return 0


if __name__ == "__main__":
    # A SIGTERM unwinds like an error, so the processes still get
    # stopped.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        code = main()
    finally:
        common.stop_processes()
    sys.exit(code)
