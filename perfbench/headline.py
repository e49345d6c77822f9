"""``batch_headline``: the registry's headline queries at sf0.01.

Inputs are the repository's synthetic sf0.01 test tables (TESTDATA.md),
vendored under ``data/sf0.01`` so that the benchmark reads nothing
outside its own checkout. The seed permutes
the row order of every table before it is staged, so each seed gives
other input files with the same rows; every query's result is checked
against its DuckDB oracle on the staged files, with the
order-insensitive value hash of ``tools/check_oracle.py``.
"""

from __future__ import annotations

import hashlib
import json
import os
import time

import common

DATA = os.path.join(common.HERE, "data", "sf0.01")


def value_hash(df) -> str:
    """Order-insensitive hash: columns sorted by name, floats at full
    precision, rows sorted by their string form."""
    cols = sorted(df.columns)
    d = df[cols].copy()
    for c in cols:
        d[c] = d[c].map(
            lambda v: repr(float(v)) if isinstance(v, float) else str(v)
        )
    rows = sorted(
        "\x01".join(str(v) for v in rec) for rec in d.itertuples(index=False)
    )
    return hashlib.md5("\x02".join(rows).encode()).hexdigest()


def headline_specs() -> dict:
    from scio_db_spark.plans.registry import all_queries

    return {n: s for n, s in sorted(all_queries().items()) if s.headline}


def stage(ctx) -> None:
    """Seed-permuted copies of every table, one parquet file each."""
    import numpy as np
    import pyarrow.parquet as pq

    out = common.fresh_dir(os.path.join(ctx.work, "sf"))
    rng = np.random.default_rng(ctx.seed)
    for f in sorted(os.listdir(DATA)):
        t = pq.read_table(os.path.join(DATA, f))
        pq.write_table(t.take(rng.permutation(t.num_rows)),
                       os.path.join(out, f))
    ctx.sf_dir = out


def oracle(ctx, specs) -> dict:
    """DuckDB oracle results -> (rows, sorted columns, value hash)."""
    import duckdb

    from scio_db_spark.plans.catalog import TABLES

    con = duckdb.connect(config={"threads": int(common.CPUS)})
    try:
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"'{os.path.join(ctx.sf_dir, t)}.parquet'"
            )
        out = {}
        for name, spec in specs.items():
            pdf = con.execute(spec.oracle).fetchdf()
            out[name] = (len(pdf), sorted(pdf.columns), value_hash(pdf))
        return out
    finally:
        con.close()


def warm_up(ctx, spark, specs) -> tuple[dict, dict]:
    """One pass that collects every result; returns (query -> pandas
    frame, query -> failure reason)."""
    got, failures = {}, {}
    for name, spec in specs.items():
        try:
            got[name] = spec.spark(spark, ctx.sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001 - a failing query is a result
            failures[name] = f"spark error: {type(e).__name__}: {e}"[:300]
    return got, failures


def check(got: dict, expected: dict, failures: dict) -> dict:
    """Compare each collected result with its oracle; adds to and
    returns ``failures`` (query -> reason, empty when all pass)."""
    for name, pdf in got.items():
        g = (len(pdf), sorted(pdf.columns), value_hash(pdf))
        want = expected[name]
        if g != want:
            failures[name] = (
                f"rows {g[0]} vs {want[0]}" if g[0] != want[0]
                else "columns differ" if g[1] != want[1]
                else "value hash differs"
            )
    return failures


def measure(ctx, spark, specs, seconds: float,
            label: bool = False) -> dict[str, list[float]]:
    """Passes over all queries, each forced through a noop write, until
    ``seconds`` have elapsed (at least one pass). ``label`` tags each
    query's jobs ``plans:<query>`` for the event log."""
    sc = spark.sparkContext
    times: dict[str, list[float]] = {n: [] for n in specs}
    t_end = time.perf_counter() + seconds
    while True:
        for name, spec in specs.items():
            if label:
                sc.setJobDescription(f"plans:{name}")
            t0 = time.perf_counter()
            with ctx.spans.span(f"plans.{name}"):
                spec.spark(spark, ctx.sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
            times[name].append(time.perf_counter() - t0)
            if label:
                sc.setJobDescription(None)
        if time.perf_counter() >= t_end:
            return times


def parse_event_log(path: str) -> dict:
    """Per-label task metrics from a Spark JSON event log."""
    label_of_stage: dict[int, str] = {}
    per: dict[str, dict] = {}
    stage_tasks: dict[int, list[float]] = {}
    jobs = 0
    stages = set()
    with open(path) as fh:
        lines = fh.readlines()
    for line in lines:
        try:
            ev = json.loads(line)
        except ValueError:
            continue
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            desc = (ev.get("Properties") or {}).get(
                "spark.job.description") or ""
            if not desc.startswith("plans:"):
                continue
            jobs += 1
            for sid in ev.get("Stage IDs", []):
                label_of_stage[sid] = desc[len("plans:"):]
        elif kind == "SparkListenerTaskEnd":
            sid = ev.get("Stage ID")
            label = label_of_stage.get(sid)
            if label is None:
                continue
            stages.add(sid)
            tm = ev.get("Task Metrics") or {}
            acc = per.setdefault(label, {
                "task_ms": 0, "gc_ms": 0, "input_b": 0,
                "shuffle_write_b": 0, "fetch_wait_ms": 0, "spill_b": 0,
            })
            run_ms = tm.get("Executor Run Time", 0)
            acc["task_ms"] += run_ms
            acc["gc_ms"] += tm.get("JVM GC Time", 0)
            acc["input_b"] += (tm.get("Input Metrics") or {}).get(
                "Bytes Read", 0)
            acc["shuffle_write_b"] += (
                tm.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            acc["fetch_wait_ms"] += (
                tm.get("Shuffle Read Metrics") or {}).get(
                "Fetch Wait Time", 0)
            acc["spill_b"] += tm.get("Disk Bytes Spilled", 0)
            stage_tasks.setdefault(sid, []).append(run_ms)
    skew = 0.0
    for runs in stage_tasks.values():
        med = common.median(runs)
        if len(runs) > 1 and med:
            skew = max(skew, max(runs) / med)
    return {"per_query": per, "jobs": jobs, "stages": len(stages),
            "skew_max_over_median": skew}
