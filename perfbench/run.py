#!/usr/bin/env python3
"""The benchmark's one command: run one workload for one seed.

    python3 perfbench/run.py --workload cdc_stream --seed 1 --seconds 12 --trace 0

Run from the root of a checkout of the repository. The workload makes its
own inputs from ``--seed``, sets up a Spark session on ``local[nproc]``
through ``pgcdc_spark.session.get_spark``, warms up, then repeats whole
rounds of its operations for ``--seconds`` and checks every output against
a computation made apart from the program. The last line of standard
output is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics``: every end-to-end metric of ``BENCHMARK.json``, or with
``--trace 1`` every per-layer metric of it, a layer the workload does not
load reading 0. Each run works under its own scratch root,
``.perfbench_runs/<workload>-<pid>``, removed at exit; traced runs write
their spans to ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("cdc_stream", "wire_decode", "query_mix")


class Context:
    """What a workload gets: the session, its seed and time, a tracer and
    a scratch directory; ``setup_done()`` marks the end of set-up."""

    def __init__(self, spark, args, tracer, work: str) -> None:
        self.spark = spark
        self.seed = args.seed
        self.seconds = args.seconds
        self.tracer = tracer
        self.work = work
        self.setup_s = None
        self.notes: dict = {}

    def note(self, **kv) -> None:
        """Record set-up figures for the run's stderr summary."""
        self.notes.update(kv)

    def setup_done(self) -> None:
        from harness import process_age

        self.setup_s = process_age()


def _hygiene(work: str) -> None:
    """Environment for the session, its JVM and its Python workers, set
    before Spark starts so that the children inherit it."""
    cpus = len(os.sched_getaffinity(0))
    for sub in ("local", "tmp"):
        os.makedirs(os.path.join(work, sub))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PGCDC_ANN_CACHE"] = "0"
    os.environ["JAVA_TOOL_OPTIONS"] = (
        os.environ.get("JAVA_TOOL_OPTIONS", "")
        + f" -Djava.io.tmpdir={os.path.join(work, 'tmp')}").strip()


def _manifest() -> tuple[dict, dict]:
    """Units of the end-to-end and per-layer metrics, by name."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        m = json.load(fh)
    return ({x["name"]: x["unit"] for x in m["end_to_end"]},
            {x["name"]: x["unit"] for x in m["per_layer"]})


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops its session and removes its scratch root
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isfile(os.path.join(ROOT, "pgcdc_spark", "session.py")):
        print(f"no pgcdc_spark package under {ROOT}: run from a checkout",
              file=sys.stderr)
        return 2
    e2e_units, layer_units = _manifest()
    runs = os.path.join(ROOT, ".perfbench_runs")
    work = os.path.join(runs, f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    _hygiene(work)
    sys.path[:0] = [HERE, ROOT]
    os.chdir(work)  # spark-warehouse and the like land in the scratch root

    from harness import Tracer, peak_rss_mb, calibrate

    tracer = Tracer(args.trace == 1)
    spark = None
    try:
        from pgcdc_spark.session import get_spark

        t = time.perf_counter()
        spark = get_spark(app_name=f"perfbench-{args.workload}")
        start_s = time.perf_counter() - t
        spark.sparkContext.setLogLevel("ERROR")
        ctx = Context(spark, args, tracer, work)
        mod = importlib.import_module(args.workload)
        out = mod.run(ctx)
        calib = calibrate()
        e2e = dict(out["e2e"], setup_s=ctx.setup_s)
        if e2e.keys() != e2e_units.keys():
            raise RuntimeError(f"end-to-end metrics {sorted(e2e)} differ "
                               f"from the manifest's {sorted(e2e_units)}")
        if args.trace:
            layers = dict(out["layers"])
            layers["session.start_s"] = start_s
            layers["session.peak_rss_mb"] = peak_rss_mb()
            unknown = layers.keys() - layer_units.keys()
            if unknown:
                raise RuntimeError(f"per-layer metrics not in the manifest: {sorted(unknown)}")
            units = layer_units
            # a layer the workload does not load reads 0
            metrics = {k: layers.get(k, 0.0) for k in units}
        else:
            units, metrics = e2e_units, e2e
        if args.trace:
            tracer.dump(
                os.path.join(ROOT, ".perfbench_out",
                             f"trace-{args.workload}-{args.seed}.json"),
                {"layers": metrics, "e2e": e2e,
                 "detail": out["detail"], "calibrate_s": calib})
    finally:
        tracer.unpatch()
        try:
            if spark is not None:
                spark.stop()
        finally:
            os.chdir(ROOT)
            shutil.rmtree(work, ignore_errors=True)
            try:
                os.rmdir(runs)
            except OSError:
                pass  # another run still uses it

    for p in out["problems"]:
        print(f"CHECK FAILED: {p}", file=sys.stderr)
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "calibrate_s": calib, "session_start_s": start_s,
                      **ctx.notes, **out["detail"]}, default=str),
          file=sys.stderr)
    print(json.dumps({
        "correct": not out["problems"],
        "attempted": int(out["attempted"]),
        "failed": int(out["failed"]),
        "metrics": {k: {"value": float(v), "unit": units[k]}
                    for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
