"""Run plumbing shared by the workloads: spans, Spark's own metrics, and
the session.

Spans are recorded only in traced runs, around calls into the program's
public functions (the program itself is not edited). Spark's stage and
SQL metrics are read from the driver's status store and from the
executed plan, after the timed work.
"""

from __future__ import annotations

import functools
import json
import os
import statistics
import time
from contextlib import contextmanager


class Tracer:
    """In-memory spans: (name, start, end, parent index, attrs).

    Disabled, ``span`` and ``patch`` cost nothing and record nothing."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield attrs
            return
        rec = {"name": name, "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None, "attrs": attrs}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield attrs
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def patch(self, owner, attr: str, name: str, after=None) -> None:
        """Wrap ``owner.attr`` in a span; ``after(attrs, result, *args)``
        may add attributes once the call returns."""
        if not self.enabled:
            return
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with tracer.span(name) as attrs:
                result = orig(*args, **kwargs)
                if after is not None:
                    after(attrs, result, *args)
                return result

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def unpatch(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def of(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and s["end"]]

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.of(name))

    def self_total(self, name: str) -> float:
        """Summed duration of ``name`` spans minus their child spans."""
        out = 0.0
        for i, s in enumerate(self.spans):
            if s["name"] != name or not s["end"]:
                continue
            kids = sum(c["end"] - c["start"] for c in self.spans
                       if c["parent"] == i and c["end"])
            out += s["end"] - s["start"] - kids
        return out

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, **extra}, fh, default=str)


class StageMeter:
    """Stage metrics of the jobs run since the last ``take()``, read from
    the driver's status store (``AppStatusStore.stageList``)."""

    FIELDS = ("numTasks", "executorRunTime", "jvmGcTime", "inputBytes",
              "outputBytes", "shuffleWriteBytes", "shuffleReadBytes")

    def __init__(self, spark) -> None:
        self._store = spark.sparkContext._jsc.sc().statusStore()
        gw = spark.sparkContext._gateway
        self._args = (None, False, False, gw.new_array(gw.jvm.double, 0),
                      gw.jvm.java.util.ArrayList())
        self._seen: set[tuple[int, int]] = set()
        self.take()

    def take(self) -> dict:
        """Summed metrics of the stages completed since the previous call,
        plus ``stages`` (their number) and ``list`` (per stage)."""
        out = {f: 0 for f in self.FIELDS}
        out["stages"] = 0
        out["list"] = []
        stages = self._store.stageList(*self._args)
        it = stages.iterator()
        while it.hasNext():
            s = it.next()
            if s.status().toString() != "COMPLETE":
                continue
            key = (s.stageId(), s.attemptId())
            if key in self._seen:
                continue
            self._seen.add(key)
            out["stages"] += 1
            one = {f: getattr(s, f)() for f in self.FIELDS}
            for f in self.FIELDS:
                out[f] += one[f]
            out["list"].append(one)
        return out


_UNITS = {"B": 1, "KiB": 1024, "MiB": 1024 ** 2, "GiB": 1024 ** 3,
          "TiB": 1024 ** 4, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0,
          "h": 3600.0, "ns": 1e-9}


def _metric_value(text: str) -> float | None:
    """A formatted SQL metric (``'1,234'``, ``'2.0 s'``, or the
    ``total (min, med, max ...)`` form) as bytes, seconds or a count;
    None for the per-task averages, which have no total."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
        if text.startswith("("):
            return None
        text = text.split(" (", 1)[0]
    parts = text.replace(",", "").split()
    value = float(parts[0])
    return value * _UNITS.get(parts[1], 1.0) if len(parts) > 1 else value


class SqlMeter:
    """Plan graphs and SQL metrics of the queries completed since the last
    ``take()``, read from the session's SQL status store."""

    def __init__(self, spark) -> None:
        self._store = spark._jsparkSession.sharedState().statusStore()
        self._next = 0
        self.take()

    def take(self) -> list[dict]:
        """One dict per execution: ``nodes`` (id -> name, desc, metrics
        by name) and ``children`` (id -> child ids)."""
        out = []
        execs = self._store.executionsList()
        it = execs.iterator()
        last = self._next
        while it.hasNext():
            e = it.next()
            eid = e.executionId()
            if eid < self._next or e.completionTime().isEmpty():
                continue
            last = max(last, eid + 1)
            out.append(self._graph(eid))
        self._next = last
        return out

    def _graph(self, eid: int) -> dict:
        values = self._store.executionMetrics(eid)
        g = self._store.planGraph(eid)
        nodes = {}
        it = g.allNodes().iterator()
        while it.hasNext():
            n = it.next()
            metrics = {}
            ms = n.metrics().iterator()
            while ms.hasNext():
                m = ms.next()
                v = values.get(m.accumulatorId())
                value = _metric_value(v.get()) if v.isDefined() else None
                if value is not None:
                    metrics[m.name()] = value
            nodes[n.id()] = {"name": n.name().split(" (")[0], "desc": n.desc(),
                             "metrics": metrics}
        children: dict[int, list[int]] = {}
        it = g.edges().iterator()
        while it.hasNext():
            edge = it.next()  # fromId is the child of toId
            children.setdefault(edge.toId(), []).append(edge.fromId())
        return {"id": eid, "nodes": nodes, "children": children}


PYTHON_TIME = "time to run Python workers"  # SQL metric of the Python-worker nodes


def metric_sum(graphs: list[dict], node: str, metric: str) -> float:
    """Summed ``metric`` over every node named ``node``."""
    return sum(n["metrics"].get(metric, 0.0)
               for g in graphs for n in g["nodes"].values() if n["name"] == node)


def upsert_metrics(graphs: list[dict]) -> dict:
    """The ``latest_state`` aggregate (the ``max_by`` nodes) in each plan:
    rows into its partial and out of its final aggregate, the sort time
    below them and the bytes of the shuffle between them."""
    rows_in = rows_out = sort_s = shuffle = 0.0
    for g in graphs:
        nodes, kids = g["nodes"], g["children"]
        parents = {c: p for p, cs in kids.items() for c in cs}
        for nid, n in nodes.items():
            if not n["name"].endswith("Aggregate") or "max_by" not in n["desc"]:
                continue
            # walk each input branch down to its first node that counts rows
            below, fed = list(kids.get(nid, [])), 0.0
            while below:
                c = below.pop()
                metrics = nodes[c]["metrics"]
                if nodes[c]["name"] == "Sort":
                    sort_s += metrics.get("sort time", 0.0)
                if "number of output rows" in metrics:
                    fed += metrics["number of output rows"]
                elif nodes[c]["name"] not in ("Exchange", "AQEShuffleRead"):
                    below.extend(kids.get(c, []))
            if "partial_max_by" in n["desc"]:
                rows_in += fed
                p = parents.get(nid)
                while p is not None and nodes[p]["name"] != "Exchange":
                    p = parents.get(p)
                if p is not None:
                    shuffle += nodes[p]["metrics"].get("shuffle bytes written", 0.0)
            else:
                rows_out += n["metrics"].get("number of output rows", 0.0)
    return {"rows_in": rows_in, "rows_out": rows_out, "sort_s": sort_s,
            "shuffle_bytes": shuffle}


def peak_rss_mb() -> float:
    """Peak resident set of this process plus its JVM, in MiB (the Python
    workers, children of the JVM, are not counted)."""
    import resource

    own = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    kids = resource.getrusage(resource.RUSAGE_CHILDREN).ru_maxrss
    jvm = _jvm_hwm_kb()
    return (own + max(kids, jvm)) / 1024.0


def _jvm_hwm_kb() -> int:
    """VmHWM of the child JVM, which has not exited yet."""
    me = str(os.getpid())
    best = 0
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                ppid = fh.read().rsplit(")", 1)[1].split()[1]
            if ppid != me:
                continue
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        best = max(best, int(line.split()[1]))
        except (OSError, IndexError, ValueError):
            continue
    return best


def median(xs) -> float:
    return float(statistics.median(xs))


def process_age() -> float:
    """Seconds since this process started (from /proc, so interpreter
    start-up is included)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def calibrate(n: int = 5_000_000) -> float:
    """A fixed pure-Python loop; its time tracks host speed, not the program."""
    t = time.perf_counter()
    acc = 0
    for i in range(n):
        acc = (acc + i * i) % 1_000_003
    return time.perf_counter() - t
