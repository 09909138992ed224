"""Workload ``query_mix``: registry queries, each warmed up, then timed
over passes of the whole mix.

The mix covers every operator family of the repository's query bench
except cdc and streaming, with the families' open performance items
(ANN probe, k-means, semantic dedup, PageRank) in it. The seed fixes the
order of the queries in every pass, so drift that depends on what ran
before shows up as a seed effect. Each timed query is ``fn(spark,
sf_dir)`` (plan build, including eager driver jobs) followed by
``toPandas()`` (execution); the result of the last pass must equal the
query's DuckDB oracle, compared order-insensitively.

Input: the five tables the mix reads, made from the seed by ``corpus``
in the run's scratch root (see that module). The oracles read the same
files through DuckDB views.

End-to-end: ``latency_s`` is the sum over the queries of their median
(build + execute) time over passes, ``throughput_per_s`` the queries of
the mix over that sum, and ``bytes_written`` the shuffle bytes one pass
writes (median over passes).
"""

from __future__ import annotations

import gc
import os
import random
import time

import corpus
from harness import PYTHON_TIME, SqlMeter, StageMeter, median, metric_sum

FAMILIES = {
    "relational": ("q18_large_orders",),
    "dedup": ("emb_semantic_dedup",),
    "ann": ("emb_kmeans_lloyd", "emb_ann_index_probe"),
    "text": ("docs_quality_score",),
    "graph": ("graph_pagerank",),
    "multimodal": ("mm_audio_resample",),
}
MIX = tuple(q for qs in FAMILIES.values() for q in qs)

_FAMILY_METRICS = ("build_s", "exec_s", "catalyst_s", "tasks", "gc_s",
                   "shuffle_bytes")


def run_query(spark, qd, sf_dir: str, tracer):
    from pgcdc_spark.cache import release_shared

    t0 = time.perf_counter()
    with tracer.span("query.build", query=qd.name):
        df = qd.fn(spark, sf_dir)
    t1 = time.perf_counter()
    with tracer.span("query.execute", query=qd.name):
        pdf = df.toPandas()
    t2 = time.perf_counter()
    release_shared()  # shared-subplan blocks must not carry across runs
    return df, pdf, t1 - t0, t2 - t1


def check(results: dict, sf_dir: str) -> list[str]:
    import duckdb
    from pgcdc_spark.oracle import compare

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in corpus.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    problems = []
    for name, (qd, pdf) in results.items():
        res = compare(name, pdf, con.execute(qd.oracle).df())
        if not res.ok:
            problems.append(f"{name}: {res.detail}")
    con.close()
    return problems


def _instrument(tracer) -> None:
    from pgcdc_spark.operators.annindex import AnnIndex

    tracer.patch(AnnIndex, "build", "annindex.build")
    tracer.patch(AnnIndex, "probe", "annindex.probe")


def run(ctx) -> dict:
    from pgcdc_spark.queries import all_queries

    spark, tracer = ctx.spark, ctx.tracer
    sf_dir = os.path.join(ctx.work, "corpus")
    ctx.note(corpus_rows=corpus.write(ctx.seed, sf_dir))
    registry = all_queries()
    order = list(MIX)
    random.Random(ctx.seed).shuffle(order)
    _instrument(tracer)
    for name in order:  # warm-up pass; builds the ANN index
        run_query(spark, registry[name], sf_dir, tracer)
    gc.collect()
    ctx.note(order=order)
    meter, sql = StageMeter(spark), SqlMeter(spark)
    ctx.setup_done()

    times = {q: [] for q in MIX}
    shuffle = []
    layers: dict[str, list] = {q: [] for q in MIX}
    results = {}
    t0 = time.perf_counter()
    passes = 0
    while passes == 0 or time.perf_counter() - t0 < ctx.seconds:
        pass_shuffle = 0
        for name in order:
            df, pdf, build, execute = run_query(spark, registry[name], sf_dir, tracer)
            times[name].append((build, execute))
            results[name] = (registry[name], pdf)
            stages = meter.take()
            pass_shuffle += stages["shuffleWriteBytes"]
            if tracer.enabled:
                layers[name].append((build, execute, stages, sql.take(),
                                     _catalyst_s(df)))
        shuffle.append(pass_shuffle)
        gc.collect()
        passes += 1

    mix_s = sum(median([b + e for b, e in times[q]]) for q in MIX)
    out = {
        "e2e": {
            "throughput_per_s": len(MIX) / mix_s,
            "latency_s": mix_s,
            "bytes_written": median(shuffle),
        },
        "attempted": passes * len(MIX),
        "failed": 0,
        "problems": check(results, sf_dir),
        "detail": {"passes": passes, "order": order, "shuffle": shuffle,
                   "seconds": {q: [round(b + e, 4) for b, e in times[q]] for q in MIX}},
    }
    if tracer.enabled:
        out["layers"] = _layers(tracer, layers, passes)
        out["detail"]["queries"] = {
            q: {"build_s": median([r[0] for r in layers[q]]),
                "exec_s": median([r[1] for r in layers[q]])} for q in MIX}
    return out


def _catalyst_s(df) -> float:
    """Analysis, optimization and planning time of the query's execution."""
    phases = df._jdf.queryExecution().tracker().phases()
    total = 0.0
    it = phases.iterator()
    while it.hasNext():
        total += it.next()._2().durationMs() / 1000.0
    return total


def _layers(tracer, layers: dict, passes: int) -> dict:
    out = {}
    python_s = 0.0
    for fam, qs in FAMILIES.items():
        acc = dict.fromkeys(_FAMILY_METRICS, 0.0)
        for q in qs:
            for build, execute, stages, graphs, catalyst in layers[q]:
                acc["build_s"] += build
                acc["exec_s"] += execute
                acc["catalyst_s"] += catalyst
                acc["tasks"] += stages["numTasks"]
                acc["gc_s"] += stages["jvmGcTime"] / 1000.0
                acc["shuffle_bytes"] += stages["shuffleWriteBytes"]
                # the mix's only Python-worker node is mm_audio_resample's MapInPandas
                python_s += metric_sum(graphs, "MapInPandas", PYTHON_TIME)
        for m, v in acc.items():
            out[f"queries.{fam}.{m}"] = v / passes
    out["queries.python_s"] = python_s / passes
    out["operators.annindex.index_build_s"] = tracer.total("annindex.build")
    out["operators.annindex.probe_s"] = tracer.total("annindex.probe") / (passes + 1)
    return out
