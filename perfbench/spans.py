"""Spans around calls into calaspark's layers, recorded from outside.

``Tracer.install`` replaces each traced function wherever a calaspark
module binds it (a ``from x import f`` binding included) with a
wrapper that records a span and runs the call under a Spark job group
of its own.  The Spark status tracker then attributes every job, stage
and task to exactly one span's group; ``job_stats`` reads those counts
back.
Spans stay in memory until the run writes them out.

A layer that calls itself (one public ``ops`` function calling another
of the same module) records only the outermost span, so a layer's
time is never counted twice.
"""

from __future__ import annotations

import contextlib
import importlib
import inspect
import itertools
import os
import sys
import threading
import time

GROUP_KEY = "spark.jobGroup.id"

#: (module, attribute, layer).  "Class.method" patches a method.
WRAPPED = [
    ("calaspark.tables", "load_table", "tables.load"),
    ("calaspark.ops.materialize", "materialize", "ops.materialize"),
    ("calaspark.ingest.orchestrator", "split_clean", "ingest.clean"),
    ("calaspark.ingest.orchestrator", "type_table", "ingest.type"),
    ("calaspark.ingest.orchestrator", "write_quarantine", "ingest.quarantine"),
    ("calaspark.ingest.orchestrator", "write_parquet_wap", "ingest.load"),
    ("calaspark.ingest.manifest", "Manifest.save", "ingest.manifest"),
    ("calaspark.ingest.manifest", "Manifest.write_table", "ingest.manifest"),
]

#: Modules whose every public function is one layer's entry point.
ENTRY_MODULES = {
    "calaspark.ops.lsh": "ops.lsh",
    "calaspark.ops.components": "ops.components",
    "calaspark.ops.semdedup": "ops.semdedup",
    "calaspark.ops.ann_ivf": "ops.ann",
    "calaspark.ops.ann_pq": "ops.ann",
    "calaspark.ops.bpe": "ops.bpe",
}


def _sc():
    from pyspark import SparkContext

    return SparkContext._active_spark_context


class Tracer:
    """In-memory span recorder.  ``where`` holds the run/pass/op ids
    stamped on each new span."""

    def __init__(self, run_id: str):
        self.spans: list[dict] = []
        self.where = {"run": run_id, "pass": None, "op": None}
        self._ids = itertools.count(1)
        self._stack: list[dict] = []
        self._active_layers: dict[str, int] = {}

    # -------------------------------------------------------- spans

    @contextlib.contextmanager
    def span(self, name: str, layer: str | None = None):
        layer = layer or name
        if self._active_layers.get(layer):
            yield None
            return
        sid = next(self._ids)
        rec = {
            "id": sid,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "name": name,
            "layer": layer,
            "group": f"perfbench-span-{sid}",
            **self.where,
        }
        sc = _sc()
        prev = sc.getLocalProperty(GROUP_KEY) if sc else None
        if sc:
            sc.setLocalProperty(GROUP_KEY, rec["group"])
        self._stack.append(rec)
        self._active_layers[layer] = 1
        rec["t0"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["t1"] = time.perf_counter()
            self._active_layers[layer] = 0
            self._stack.pop()
            if sc:
                sc.setLocalProperty(GROUP_KEY, prev)
            self.spans.append(rec)

    # ----------------------------------------------------- wrapping

    def _wrap(self, fn, name: str, layer: str):
        tracer = self

        def traced(*a, **kw):
            with tracer.span(name, layer):
                return fn(*a, **kw)

        traced.__wrapped__ = fn
        traced.__name__ = getattr(fn, "__name__", name)
        return traced

    def _rebind(self, orig, new) -> None:
        """Point every calaspark module attribute bound to ``orig`` at
        ``new``."""
        for mname, mod in list(sys.modules.items()):
            if not mname.startswith("calaspark") or mod is None:
                continue
            for attr, val in list(vars(mod).items()):
                if val is orig:
                    setattr(mod, attr, new)

    def install(self) -> None:
        import calaspark.queries  # noqa: F401  (binds every layer import)

        for mname, attr, layer in WRAPPED:
            mod = importlib.import_module(mname)
            if "." in attr:
                cls_name, meth = attr.split(".")
                cls = getattr(mod, cls_name)
                orig = getattr(cls, meth)
                setattr(cls, meth, self._wrap(orig, f"{layer}:{meth}", layer))
            else:
                orig = getattr(mod, attr)
                self._rebind(orig, self._wrap(orig, f"{layer}:{attr}", layer))
        for mname, layer in ENTRY_MODULES.items():
            mod = importlib.import_module(mname)
            for attr, fn in list(vars(mod).items()):
                if (
                    inspect.isfunction(fn)
                    and fn.__module__ == mname
                    and not attr.startswith("_")
                ):
                    self._rebind(fn, self._wrap(fn, f"{layer}:{attr}", layer))


def job_stats(sc, group: str) -> dict:
    """Jobs, stages that ran, completed tasks and failed tasks started
    under ``group``, from the status tracker."""
    tracker = sc.statusTracker()
    out = {"jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0}
    for jid in tracker.getJobIdsForGroup(group):
        out["jobs"] += 1
        info = tracker.getJobInfo(jid)
        for sid in info.stageIds if info else ():
            st = tracker.getStageInfo(sid)
            if st is None or st.numCompletedTasks + st.numFailedTasks == 0:
                continue  # skipped: its shuffle output was reused
            out["stages"] += 1
            out["tasks"] += st.numCompletedTasks
            out["failed_tasks"] += st.numFailedTasks
    return out


class RssSampler:
    """Peak resident memory of this process plus all its descendants
    (the Spark JVM), sampled every ``interval`` seconds on a thread."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> int:
        """Stop sampling; return the peak in bytes."""
        self._stop.set()
        self._thread.join(timeout=5)
        return self.peak_bytes

    def _loop(self) -> None:
        page = os.sysconf("SC_PAGE_SIZE")
        root = os.getpid()
        while not self._stop.is_set():
            parent, rss = {}, {}
            for d in os.listdir("/proc"):
                if not d.isdigit():
                    continue
                try:
                    with open(f"/proc/{d}/stat") as f:
                        fields = f.read().rsplit(")", 1)[1].split()
                except OSError:
                    continue
                parent[int(d)] = int(fields[1])
                rss[int(d)] = int(fields[21]) * page
            total = 0
            for pid in rss:
                p = pid
                while p and p != root:
                    p = parent.get(p, 0)
                if p == root:
                    total += rss[pid]
            self.peak_bytes = max(self.peak_bytes, total)
            self._stop.wait(self.interval)
