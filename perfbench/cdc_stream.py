"""Workload ``cdc_stream``: an envelope-JSON change feed replayed through
``read_envelope_stream`` -> ``start_upsert_stream`` -> ``BucketedStateStore``.

One round is one replay of the seeded feed into a fresh state and
checkpoint: a bulk phase of large micro-batches (every batch touches
every bucket) followed by a trickle phase of micro-batches of a few
dozen changes, where fixed per-batch cost and read fan-in dominate.
The feed files are written once; each round's stream reads the same
directory with ``maxFilesPerTrigger=1``, so micro-batch ``i`` is file
``i`` in every round.

End-to-end: ``throughput_per_s`` is bulk changes per second of bulk
micro-batch time, ``latency_s`` the median trigger-to-commit time of a
trickle micro-batch, ``bytes_written`` what the state store's writes put
out in one replay.
"""

from __future__ import annotations

import json
import os
import time

import feeds
from harness import SqlMeter, StageMeter, median, upsert_metrics

BULK_FILES = 2
BULK_CHANGES = 3000
TRICKLE_FILES = 6
TRICKLE_CHANGES = 24
N_KEYS = 20_000


class Feed:
    """The seeded feed: bulk files then trickle files, mtimes in order."""

    def __init__(self, seed: int, directory: str) -> None:
        sizes = [BULK_CHANGES] * BULK_FILES + [TRICKLE_CHANGES] * TRICKLE_FILES
        self.messages = feeds.make_changes(seed, sum(sizes), N_KEYS)
        self.truth = feeds.truth(self.messages)
        self.dir = directory
        self.files: list[tuple[str, int, int]] = []  # (path, lines, changes)
        os.makedirs(directory)
        pos = 0
        base = time.time() - 10_000
        for i, want in enumerate(sizes):
            chunk, n = [], 0
            while pos < len(self.messages) and (n < want or not chunk):
                m = self.messages[pos]
                chunk.append(feeds.envelope_line(m))
                n += m.change is not None
                pos += 1
            if i == len(sizes) - 1:  # the tail (its commit) joins the last file
                chunk += [feeds.envelope_line(m) for m in self.messages[pos:]]
                pos = len(self.messages)
            path = os.path.join(directory, f"feed-{i:05d}.json")
            with open(path, "w") as fh:
                fh.write("\n".join(chunk) + "\n")
            os.utime(path, (base + i, base + i))  # the file source orders by mtime
            self.files.append((path, len(chunk), n))
        self.lines = sum(f[1] for f in self.files)
        self.bulk_changes = sum(f[2] for f in self.files[:BULK_FILES])


def replay(spark, feed: Feed, source: str, work: str, tag: str):
    """One stream over ``source`` into a fresh state; returns its progress
    list and the state directory."""
    from pgcdc_spark.cdc.envelope import STUDENT_SCHEMA
    from pgcdc_spark.streaming.pipeline import read_envelope_stream, start_upsert_stream

    state = os.path.join(work, f"state-{tag}")
    ckpt = os.path.join(work, f"ckpt-{tag}")
    changes = read_envelope_stream(spark, source, STUDENT_SCHEMA,
                                   max_files_per_trigger=1)
    q = start_upsert_stream(changes, state, ckpt, keys=["id"])
    q.awaitTermination()
    if q.exception() is not None:
        raise RuntimeError(f"stream failed: {q.exception()}")
    progress = [json.loads(p.json) for p in q.recentProgress]
    return [p for p in progress if p["numInputRows"] > 0], state


def check_state(spark, state: str, truth: dict) -> str | None:
    from pgcdc_spark.streaming.pipeline import read_state

    got = {r["id"]: (r["id"], r["first_name"], r["last_name"], r["date_of_birth"],
                     r["status_id"])
           for r in read_state(spark, state).collect()}
    if got == truth:
        return None
    missing = len(truth.keys() - got.keys())
    extra = len(got.keys() - truth.keys())
    wrong = sum(1 for k in truth.keys() & got.keys() if truth[k] != got[k])
    return f"state differs: {missing} missing, {extra} extra, {wrong} wrong keys"


def _instrument(tracer) -> None:
    """Spans around the state store's public methods and the fs commit."""
    from pgcdc_spark import fs
    from pgcdc_spark.streaming.statestore import BucketedStateStore

    def after_merge(attrs, version, store, *rest):
        if version is None:
            return
        man = store.current_manifest() or {"buckets": {}}
        live = set(man["buckets"].values())
        attrs["buckets_touched"] = sum(1 for v in man["buckets"].values()
                                       if v == version)
        attrs["live_versions"] = len(live)
        _size(attrs, os.path.join(store.root, version))

    def after_compact(attrs, version, store, *rest):
        if version is not None:
            _size(attrs, os.path.join(store.root, version))

    def _size(attrs, path):
        files = size = 0
        if os.path.isdir(path):
            for d, _, names in os.walk(path):
                for n in names:
                    files += 1
                    size += os.path.getsize(os.path.join(d, n))
        attrs["files"], attrs["bytes"] = files, size

    tracer.patch(BucketedStateStore, "merge", "statestore.merge", after_merge)
    tracer.patch(BucketedStateStore, "compact", "statestore.compact", after_compact)
    tracer.patch(BucketedStateStore, "read_buckets", "statestore.read")
    tracer.patch(fs.LocalStateFS, "write_text_atomic", "fs.write_text_atomic")


def run(ctx) -> dict:
    spark, tracer, work = ctx.spark, ctx.tracer, ctx.work
    t_feed = time.perf_counter()
    feed = Feed(ctx.seed, os.path.join(work, "feed"))
    # warm-up: a short replay (one bulk and one trickle file), which pays
    # the cold first micro-batches
    warm = os.path.join(work, "warm")
    os.makedirs(warm)
    for path, _, _ in feed.files[:1] + feed.files[BULK_FILES:BULK_FILES + 1]:
        os.link(path, os.path.join(warm, os.path.basename(path)))
        st = os.stat(path)
        os.utime(os.path.join(warm, os.path.basename(path)), (st.st_atime, st.st_mtime))
    t = time.perf_counter()
    replay(spark, feed, warm, work, "warm")
    ctx.note(feed_s=t - t_feed, warm_s=time.perf_counter() - t)
    meter, sql = StageMeter(spark), SqlMeter(spark)
    _instrument(tracer)
    ctx.setup_done()

    rounds = []
    problems: list[str] = []
    t0 = time.perf_counter()
    while not rounds or time.perf_counter() - t0 < ctx.seconds:
        r = len(rounds)
        with tracer.span("cdc_stream.round", round=r):
            progress, state = replay(spark, feed, feed.dir, work, f"r{r}")
        stages = meter.take()
        graphs = sql.take() if tracer.enabled else []
        rows = sum(p["numInputRows"] for p in progress)
        if rows != feed.lines:
            problems.append(f"round {r}: numInputRows {rows} != {feed.lines} lines")
        rounds.append({"progress": progress, "stages": stages, "graphs": graphs,
                       "state": state})


    bulk_s = sum(p["durationMs"]["triggerExecution"]
                 for r in rounds for p in r["progress"][:BULK_FILES]) / 1000.0
    trickle = [p["durationMs"]["triggerExecution"] / 1000.0
               for r in rounds for p in r["progress"][BULK_FILES:]]
    e2e = {
        "throughput_per_s": feed.bulk_changes * len(rounds) / bulk_s,
        "latency_s": median(trickle),
        "bytes_written": median([r["stages"]["outputBytes"] for r in rounds]),
    }
    changes = sum(f[2] for f in feed.files)
    out = {
        "e2e": e2e,
        "attempted": changes * len(rounds),
        "failed": 0,
        "problems": problems,
        "detail": {"rounds": len(rounds), "lines": feed.lines, "changes": changes,
                   "trigger_ms": [[p["durationMs"]["triggerExecution"]
                                   for p in r["progress"]] for r in rounds]},
    }
    if tracer.enabled:
        out["layers"] = _layers(tracer, rounds, parse_stage_s(spark, feed.dir))
        tracer.unpatch()  # the check's own state read is not the replay's
    bad = check_state(spark, rounds[-1]["state"], feed.truth)
    if bad:
        problems.append(bad)
    return out


def _layers(tracer, rounds, parse_s: float) -> dict:
    n = len(rounds)
    progress = [p for r in rounds for p in r["progress"]]
    stages = sum(r["stages"]["stages"] for r in rounds)
    upsert: dict[str, float] = {}
    for r in rounds:
        for k, v in upsert_metrics(r["graphs"]).items():
            upsert[k] = upsert.get(k, 0.0) + v / n
    merges = tracer.of("statestore.merge")
    compacts = tracer.of("statestore.compact")

    def dur(key):
        return median([p["durationMs"].get(key, 0) for p in progress])

    return {
        "cdc.envelope.parse_stage_s": parse_s,
        **{f"cdc.upsert.{k}": v for k, v in upsert.items()},
        "streaming.pipeline.batches": len(progress) / n,
        "streaming.pipeline.trigger_ms": dur("triggerExecution"),
        "streaming.pipeline.add_batch_ms": dur("addBatch"),
        "streaming.pipeline.get_batch_ms": dur("getBatch"),
        "streaming.pipeline.latest_offset_ms": dur("latestOffset"),
        "streaming.pipeline.jobs_per_batch": stages / len(progress),
        "streaming.statestore.merge_s": tracer.self_total("statestore.merge") / n,
        "streaming.statestore.buckets_touched": sum(
            s["attrs"].get("buckets_touched", 0) for s in merges) / n,
        "streaming.statestore.live_versions": max(
            [s["attrs"].get("live_versions", 0) for s in merges] or [0]),
        "streaming.statestore.compactions": len(compacts) / n,
        "streaming.statestore.publish_s": tracer.total("fs.write_text_atomic") / n,
        "streaming.statestore.read_s": tracer.total("statestore.read") / n,
        "streaming.statestore.files_written": sum(
            s["attrs"].get("files", 0) for s in merges + compacts) / n,
        "streaming.statestore.bytes_written": sum(
            s["attrs"].get("bytes", 0) for s in merges + compacts) / n,
    }


def parse_stage_s(spark, feed_dir: str) -> float:
    """Executor time of parsing the whole feed once as a batch: the
    envelope layer on its own, apart from the stream."""
    from pgcdc_spark.cdc.envelope import STUDENT_SCHEMA, parse_envelope

    meter = StageMeter(spark)
    parse_envelope(spark.read.text(feed_dir), "value", STUDENT_SCHEMA) \
        .write.format("noop").mode("overwrite").save()
    return meter.take()["executorRunTime"] / 1000.0
