"""Traced runs: spans around the library's layer boundaries, Spark's own
stage and SQL metrics, and the per-layer table built from both.

Spans are recorded from the benchmark's side only. :class:`Tracer` swaps
module attributes that ``run_crawl`` and the registry jobs resolve at call
time for timing wrappers, and :class:`TracedStore` times every store call.
While a span is open the Spark job group is set to it, so the jobs its
eager calls trigger are attributed to it. Spans stay in memory until the
run ends.
"""

from __future__ import annotations

import json
import os
import re
import time
from contextlib import contextmanager

from german_newspaper_crawler_spark.sources.store import SnapshotStore

from perfbench.workloads import dir_mb


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.stack: list[dict] = []
        self.counts: dict[str, float] = {}
        self._patched: list[tuple[object, str, object]] = []
        self._round: dict | None = None

    # -- spans ------------------------------------------------------------------
    def begin(self, name: str) -> dict:
        s = {
            "id": len(self.spans), "name": name,
            "parent": self.stack[-1]["id"] if self.stack else None,
            "t0": time.perf_counter(), "w0": time.time(), "t1": None, "w1": None,
        }
        self.spans.append(s)
        self.stack.append(s)
        self.sc.setJobGroup(f"span-{s['id']}", name)
        return s

    def end(self, s: dict) -> None:
        if self.stack[-1] is not s:
            raise RuntimeError(f"span {s['name']} closed out of order")
        s["t1"], s["w1"] = time.perf_counter(), time.time()
        self.stack.pop()
        if self.stack:
            top = self.stack[-1]
            self.sc.setJobGroup(f"span-{top['id']}", top["name"])
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    @contextmanager
    def span(self, name: str):
        s = self.begin(name)
        try:
            yield s
        finally:
            self.end(s)

    def add(self, key: str, v: float = 1) -> None:
        self.counts[key] = self.counts.get(key, 0) + v

    # -- crawl rounds -------------------------------------------------------------
    def next_round(self) -> None:
        """Close the open round span and open the next; called when
        ``run_crawl`` pops a frontier batch, which starts every round."""
        if self._round is not None:
            self.end(self._round)
        self._round = self.begin("crawl.round")

    def close_round(self) -> None:
        if self._round is not None:
            self.end(self._round)
            self._round = None

    # -- patching -------------------------------------------------------------------
    def wrap(self, owner, attr: str, name: str, after=None) -> None:
        """Replace ``owner.attr`` with a wrapper that runs it in span
        ``name``; ``after(result, args, kwargs)`` may return a substitute
        result (used to attach ``observe()`` counts)."""
        orig = getattr(owner, attr)

        def traced(*args, **kwargs):
            with self.span(name):
                out = orig(*args, **kwargs)
                return after(out, args, kwargs) if after else out

        traced.__wrapped__ = orig
        self._patched.append((owner, attr, orig))
        setattr(owner, attr, traced)

    def unpatch(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()


class TracedStore(SnapshotStore):
    """A :class:`SnapshotStore` whose calls are spans, with bytes written and
    live snapshot counts recorded."""

    def __init__(self, root: str, tracer: Tracer):
        super().__init__(root)
        self.tracer = tracer

    def _timed(self, name: str, fn, *args, **kwargs):
        with self.tracer.span(f"store.{name}"):
            return fn(*args, **kwargs)

    def read(self, spark, table, schema=None):
        self.tracer.add("store.read_calls")
        return self._timed("read", super().read, spark, table, schema)

    def _write_snapshot(self, table, df):
        snap = super()._write_snapshot(table, df)
        self.tracer.add("store.written_mb", dir_mb(os.path.join(self._tdir(table), snap)))
        return snap

    def append(self, table, df, op="append"):
        return self._timed("append", super().append, table, df, op)

    def overwrite(self, table, df, op="overwrite"):
        return self._timed("overwrite", super().overwrite, table, df, op)

    def merge_delta(self, table, batch, keys):
        return self._timed("merge_delta", super().merge_delta, table, batch, keys)

    def compact(self, spark, table):
        # one span for the whole rewrite: the read and overwrite inside it
        # are compaction, not store.read / store.append
        out = self._timed("compact", SnapshotStore(self.root).compact, spark, table)
        live = self._read_manifest(table)["live"]
        if live:
            self.tracer.add("store.written_mb", dir_mb(os.path.join(self._tdir(table), live[-1])))
        return out

    def expire_snapshots(self, table, keep_last=3):
        return self._timed("expire", super().expire_snapshots, table, keep_last)

    def prune_live(self, table, keep_last):
        return self._timed("prune", super().prune_live, table, keep_last)

    def live_snapshots(self) -> int:
        return sum(
            len(self._read_manifest(t)["live"]) for t in sorted(os.listdir(self.root))
            if os.path.isdir(os.path.join(self.root, t))
        )


# --- what Spark recorded -------------------------------------------------------------

def _json(mapper, obj):
    return json.loads(mapper.writeValueAsString(obj))


def spark_records(spark) -> dict:
    """Jobs, stages and the Python-node SQL metrics of every execution, read
    from the status stores once the listener bus has drained. Scala objects
    are serialized to JSON inside the JVM (one py4j call per collection)."""
    sc = spark.sparkContext
    jvm, jsc = sc._jvm, sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    scala_mod = getattr(getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$"), "MODULE$")
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper().registerModule(scala_mod)
    st = jsc.statusStore()
    empty = jvm.java.util.ArrayList()
    jobs = _json(mapper, st.jobsList(None))
    stages = _json(
        mapper, st.stageList(empty, False, False, sc._gateway.new_array(jvm.double, 0), empty)
    )
    sql = spark._jsparkSession.sharedState().statusStore()
    python_nodes = []
    it = sql.executionsList().iterator()
    while it.hasNext():
        ex = it.next()
        eid = ex.executionId()
        nodes = [
            n for n in _json(mapper, sql.planGraph(eid).allNodes())
            if n["name"] in ("MapInPandas", "ArrowEvalPython", "MapInArrow")
        ]
        if not nodes:
            continue
        values = _json(mapper, sql.executionMetrics(eid))
        for n in nodes:
            python_nodes.append({
                "exec": eid, "name": n["name"], "desc": n["desc"],
                "jobs": [int(j) for j in _json(mapper, ex.jobs())],
                "metrics": {
                    m["name"]: values[str(m["accumulatorId"])]
                    for m in n["metrics"] if str(m["accumulatorId"]) in values
                },
            })
    return {"jobs": jobs, "stages": stages, "python_nodes": python_nodes}


_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1 / 2**20, "KiB": 1 / 2**10, "MiB": 1.0, "GiB": 2**10, "TiB": 2**20,
}
_VALUE = re.compile(r"([-\d.]+)\s*(ms|s|m|h|B|KiB|MiB|GiB|TiB)?\b")


def metric_values(text: str) -> list[float]:
    """Parse a formatted SQL metric. A plain value gives ``[total]``; a
    per-task summary ("total (min, med, max (stageId: taskId))") gives
    ``[total, min, med, max]``. Times in seconds, sizes in MiB."""
    lines = text.strip().splitlines()
    line = lines[-1]
    line = re.sub(r"\(stage [^)]*\)", "", line)
    out = []
    for num, unit in _VALUE.findall(line):
        try:
            out.append(float(num) * _UNITS.get(unit or "", 1.0))
        except ValueError:
            continue
    return out[:4]
