"""Workload ``wire_decode``: one seeded change set in two wire formats, each
decoded in batch through ``apply_pipeline`` -> ``latest_state``.

- binary pgoutput, written by ``feeds`` (not by the program's
  ``encode_*``) to parquet ``(lsn, payload)`` and decoded by
  ``decode_pgoutput`` (a ``mapInPandas`` Python-worker pass);
- wal2json format-version 2 JSON lines, decoded by ``parse_wal2json_v2``
  (JVM expressions only).

One round decodes both, in an order that alternates between rounds. Each
timed decode is built from the public functions and run to the end with a
``noop`` write, so every output column is computed and nothing is
collected. The warm-up decode of each format, the same plan on the same
input, is the checked one: its state is collected and compared with the
generator's truth, and its dead-lettered messages are counted. One
untimed round of the timed decodes follows it.

End-to-end: ``latency_s`` is the median time of one round (the change set
decoded in both formats), ``throughput_per_s`` the changes decoded per
second over the median decode time of each format, and ``bytes_written``
the shuffle bytes one round writes. The per-format split is in the
per-layer metrics.
"""

from __future__ import annotations

import os
import time

import feeds
from harness import (PYTHON_TIME, SqlMeter, StageMeter, median, metric_sum,
                     upsert_metrics)

N_CHANGES = 30_000
N_KEYS = 20_000
N_FILES = 8

def pgoutput_state(spark, path: str):
    from pgcdc_spark.cdc.envelope import STUDENT_SCHEMA
    from pgcdc_spark.cdc.pgoutput import decode_pgoutput
    from pgcdc_spark.cdc.transform import apply_pipeline
    from pgcdc_spark.cdc.upsert import latest_state

    env = decode_pgoutput(spark.read.parquet(path), STUDENT_SCHEMA)
    return env, latest_state(apply_pipeline(env), keys=["id"], order_by=["lsn"])


def wal2json_state(spark, path: str):
    from pgcdc_spark.cdc.envelope import STUDENT_SCHEMA
    from pgcdc_spark.cdc.transform import apply_pipeline
    from pgcdc_spark.cdc.upsert import latest_state
    from pgcdc_spark.cdc.wal2json import parse_wal2json_v2

    env = parse_wal2json_v2(spark.read.text(path), STUDENT_SCHEMA)
    return env, latest_state(apply_pipeline(env), keys=["id"], order_by=["lsn"])


BUILD = {"pgoutput": pgoutput_state, "wal2json": wal2json_state}


def decode(spark, fmt: str, path: str, tracer) -> None:
    """One timed decode: build, then run to the end into a ``noop`` sink."""
    with tracer.span(f"{fmt}.build"):
        _, state = BUILD[fmt](spark, path)
    with tracer.span(f"{fmt}.execute"):
        state.write.format("noop").mode("overwrite").save()


def check(spark, fmt: str, path: str, truth: dict) -> list[str]:
    """The decoder dead-letters no message of the generated set, and the
    decoded state equals the generator's truth (so both formats also
    equal each other)."""
    env, state = BUILD[fmt](spark, path)
    dead = env.filter(env.tag.isin("_corrupt", "_control")).count()
    problems = [f"{fmt}: {dead} dead-lettered messages"] if dead else []
    rows = state.toPandas()
    got = {int(r.id): (int(r.id), r.first_name, r.last_name, r.date_of_birth,
                       int(r.status_id))
           for r in rows.itertuples(index=False)}
    if got != truth:
        bad = len(got.keys() ^ truth.keys()) + sum(
            1 for k in got.keys() & truth.keys() if got[k] != truth[k])
        problems.append(f"{fmt}: {bad} keys differ from the generator's truth")
    return problems


def _instrument(tracer, meter) -> None:
    from pgcdc_spark.cdc import pgoutput

    def after(attrs, result, *args):
        meter.take()  # the relation scan's stages are not the decode's

    tracer.patch(pgoutput, "discover_relations", "pgoutput.relation_scan", after)


def run(ctx) -> dict:
    spark, tracer, work = ctx.spark, ctx.tracer, ctx.work
    t = time.perf_counter()
    messages = feeds.make_changes(ctx.seed, N_CHANGES, N_KEYS)
    truth = feeds.truth(messages)
    paths = {"pgoutput": os.path.join(work, "pgoutput"),
             "wal2json": os.path.join(work, "wal2json")}
    feeds.write_pgoutput_parquet(messages, paths["pgoutput"], N_FILES)
    feeds.write_text_files([feeds.wal2json_v2_line(m) for m in messages],
                           paths["wal2json"], N_FILES)
    n = feeds.n_data(messages)
    ctx.note(feed_s=time.perf_counter() - t)
    # warm-up: the checked decode of each format, then one untimed round
    t = time.perf_counter()
    problems = []
    for fmt in BUILD:
        problems += check(spark, fmt, paths[fmt], truth)
    for fmt in BUILD:  # the first run of the timed plan is slower
        decode(spark, fmt, paths[fmt], tracer)
    ctx.note(warm_s=time.perf_counter() - t)
    meter, sql = StageMeter(spark), SqlMeter(spark)
    _instrument(tracer, meter)
    ctx.setup_done()

    secs = {fmt: [] for fmt in BUILD}
    acc: dict[str, list] = {fmt: [] for fmt in BUILD}
    t0 = time.perf_counter()
    r = 0
    while r == 0 or time.perf_counter() - t0 < ctx.seconds:
        order = list(BUILD) if r % 2 == 0 else list(BUILD)[::-1]
        for fmt in order:
            t = time.perf_counter()
            decode(spark, fmt, paths[fmt], tracer)
            secs[fmt].append(time.perf_counter() - t)
            acc[fmt].append((meter.take(), sql.take() if tracer.enabled else []))
        r += 1

    rounds = [a + b for a, b in zip(secs["pgoutput"], secs["wal2json"])]
    shuffle = [a[0]["shuffleWriteBytes"] + b[0]["shuffleWriteBytes"]
               for a, b in zip(acc["pgoutput"], acc["wal2json"])]
    out = {
        "e2e": {
            "throughput_per_s": 2 * n / sum(median(secs[fmt]) for fmt in BUILD),
            "latency_s": median(rounds),
            "bytes_written": median(shuffle),
        },
        "attempted": 2 * r,
        "failed": 0,
        "problems": problems,
        "detail": {"rounds": r, "changes": n, "messages": len(messages),
                   "seconds": secs},
    }
    if tracer.enabled:
        out["layers"] = _layers(tracer, acc, secs, r)
    return out


def _layers(tracer, acc: dict, secs: dict, rounds: int) -> dict:
    def per_round(fmt, fn):
        return sum(fn(stages, graphs) for stages, graphs in acc[fmt]) / rounds

    def scan(field):
        # the stages that read the input are the ones that decode it
        return lambda stages, graphs: sum(
            s[field] for s in stages["list"] if s["inputBytes"] > 0)

    upsert = {}
    for fmt in acc:
        for stages, graphs in acc[fmt]:
            for k, v in upsert_metrics(graphs).items():
                upsert[k] = upsert.get(k, 0.0) + v / rounds
    return {
        "cdc.pgoutput.decode_s": median(secs["pgoutput"]),
        "cdc.wal2json.decode_s": median(secs["wal2json"]),
        "cdc.pgoutput.relation_scan_s": tracer.total("pgoutput.relation_scan") / rounds,
        "cdc.pgoutput.decode_tasks": per_round("pgoutput", scan("numTasks")),
        "cdc.pgoutput.decode_stage_s": per_round(
            "pgoutput", scan("executorRunTime")) / 1000.0,
        "cdc.pgoutput.python_s": per_round("pgoutput", lambda s, g: metric_sum(
            g, "MapInPandas", PYTHON_TIME)),
        "cdc.wal2json.decode_stage_s": per_round(
            "wal2json", scan("executorRunTime")) / 1000.0,
        "cdc.wal2json.input_bytes": per_round("wal2json", scan("inputBytes")),
        **{f"cdc.upsert.{k}": v for k, v in upsert.items()},
    }
