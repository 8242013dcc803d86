"""One measured run of one workload, in the current process.

Run by ``run.py`` in an isolated child process; not meant to be
started by hand.  Order of a run:

1. generate the seeded inputs (before any clock starts);
2. ``setup_s`` clock: start the session, then the workload's
   WARMUP_PASSES warm-up passes;
3. timed passes, as many as fill ``--seconds`` at the workload's
   nominal pass time (at least MIN_PASSES), with a host canary, the load average, the cached
   storage and the pass's Spark job/stage/task counts recorded between
   passes;
4. write the run record as JSON to ``--out``.

Output checks run after the last timed pass, outside every timed
section: each of that pass's results is fetched and checked (an
ingest pass is checked from its manifest as it ends).  The harness never
clears calaspark's memos, never unpersists and never restarts the
session between passes.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import statistics
import sys
import time
import traceback
from pathlib import Path

import spans as tr
from workloads import WORKLOADS

MIN_PASSES = 2
TAIL_PERCENTILES = (99.9, 99, 95, 90, 75, 50)


def cpu_canary() -> float:
    """Seconds for a fixed pure-Python LCG loop: host speed as one
    interpreter thread sees it, independent of Spark."""
    t0 = time.perf_counter()
    x, acc, mask = 0x9E3779B97F4A7C15, 0, (1 << 64) - 1
    for _ in range(300_000):
        x = (x * 6364136223846793005 + 1442695040888963407) & mask
        acc ^= x >> 33
    return time.perf_counter() - t0


def timed_passes(seconds: float, wl) -> int:
    """A fixed pass count per (seconds, workload): about ``seconds`` of
    measured work at the workload's nominal pass time on a 4-core host.
    Fixed rather than clock-driven, so every run of a workload averages
    over the same number of passes."""
    return max(MIN_PASSES, round(seconds / wl.NOMINAL_PASS_S))


def tail(values: list[float]) -> tuple[float, float]:
    """(percentile, value): the highest of TAIL_PERCENTILES that leaves
    at least ten samples above it, by nearest rank.  With too few
    samples for any of them it falls back to the median, the same
    value op_p50_s reports."""
    s = sorted(values)
    for p in TAIL_PERCENTILES[:-1]:
        rank = math.ceil(p / 100 * len(s))
        if len(s) - rank >= 10:
            return p, s[rank - 1]
    return 50, statistics.median(s)


def cached_storage(sc) -> tuple[int, int]:
    infos = sc._jsc.sc().getRDDStorageInfo()
    return len(infos), sum(i.memSize() + i.diskSize() for i in infos)


class Run:
    def __init__(self, args):
        self.args = args
        self.wl = WORKLOADS[args.workload](Path(args.work), args.seed, args.smoke)
        self.tracer = tr.Tracer(f"{args.workload}-{args.seed}") if args.trace else None
        self.passes: list[dict] = []

    # ---------------------------------------------------------- ops

    def _span(self, name, layer=None):
        return self.tracer.span(name, layer) if self.tracer else contextlib.nullcontext()

    def query_op(self, spark, qid: str, pass_no: int) -> dict:
        """Builder call + noop write, timed.  The built DataFrame is kept
        in the record (``df``) for the output check."""
        wl = self.wl
        rec = {"op": qid, "error": None}
        if self.tracer:
            self.tracer.where["op"] = qid
        t0 = time.perf_counter()
        try:
            with self._span(f"build:{qid}", "queries.build"):
                df = wl.build(spark, qid, pass_no)
            t1 = time.perf_counter()
            if self.tracer:
                with self._span(f"plan:{qid}", "queries.plan"):
                    df._jdf.queryExecution().executedPlan()
            t2 = time.perf_counter()
            with self._span(f"exec:{qid}", "queries.exec"):
                wl.execute(df)
            t3 = time.perf_counter()
            rec.update(wall=(t1 - t0) + (t3 - t2), build=t1 - t0, exec=t3 - t2, df=df)
        except Exception as e:  # an op that raises is a failed op, not a dead run
            rec.update(wall=time.perf_counter() - t0, error=f"raised {type(e).__name__}: {e}"[:500])
            traceback.print_exc()
        finally:
            if self.tracer:
                self.tracer.where["op"] = None
        return rec

    def check_pass(self, spark, rec: dict) -> None:
        """Fetch and check each op result of one pass, outside any timed
        section and under a job group of its own."""
        spark.sparkContext.setLocalProperty(tr.GROUP_KEY, "perfbench-check")
        if self.tracer:
            self.tracer.where["pass"] = None
        for o in rec["ops"]:
            df = o.pop("df", None)
            if df is None:
                continue
            try:
                tbl = df.toArrow()
                o["error"] = self.wl.check(o["op"], tbl)
            except Exception as e:
                o["error"] = f"check raised {type(e).__name__}: {e}"[:500]
                traceback.print_exc()
        spark.sparkContext.setLocalProperty(tr.GROUP_KEY, None)

    def run_pass(self, spark, pass_no: int) -> dict:
        sc = spark.sparkContext
        wl = self.wl
        wl.prepare_pass(pass_no)
        group = f"perfbench-pass-{pass_no}"
        sc.setLocalProperty(tr.GROUP_KEY, group)
        if self.tracer:
            self.tracer.where["pass"] = pass_no
        n_spans = len(self.tracer.spans) if self.tracer else 0
        t0 = time.perf_counter()
        if wl.ops_are_queries:
            ops = [self.query_op(spark, q, pass_no) for q in wl.pass_ops(pass_no)]
            wall = sum(o["wall"] for o in ops)
        else:
            with self._span("ingest.update"):
                ops = wl.run_pass(spark)
            wall = time.perf_counter() - t0
        sc.setLocalProperty(tr.GROUP_KEY, None)
        groups = [group]
        if self.tracer:
            for span in self.tracer.spans[n_spans:]:
                span.update(tr.job_stats(sc, span["group"]))
                groups.append(span["group"])
        counts = {"jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0}
        for g in groups:
            for k, v in tr.job_stats(sc, g).items():
                counts[k] += v
        rdds, cached = cached_storage(sc)
        return {"pass": pass_no, "wall": wall, "ops": ops, "counts": counts,
                "cached_rdds": rdds, "cached_bytes": cached}

    # ---------------------------------------------------------- run

    def run(self) -> dict:
        a = self.args
        gen_t0 = time.perf_counter()
        inputs = self.wl.generate()
        gen_s = time.perf_counter() - gen_t0
        if self.tracer:
            self.tracer.install()
        rss = tr.RssSampler() if self.tracer else None
        if rss:
            rss.start()

        from calaspark.session import get_spark

        t0 = time.perf_counter()
        spark = get_spark("perfbench")
        start_s = time.perf_counter() - t0
        spark.sparkContext.setLogLevel("ERROR")
        warm = []
        for pass_no in range(self.wl.WARMUP_PASSES):
            warm.append(self.run_pass(spark, pass_no))
            for o in warm[-1]["ops"]:
                o.pop("df", None)
        setup_s = time.perf_counter() - t0

        host = []
        first = self.wl.WARMUP_PASSES
        for pass_no in range(first, first + timed_passes(a.seconds, self.wl)):
            host.append({"canary_s": cpu_canary(), "loadavg_1m": os.getloadavg()[0]})
            if self.passes:  # only the last pass's results are checked
                for o in self.passes[-1]["ops"]:
                    o.pop("df", None)
            self.passes.append(self.run_pass(spark, pass_no))
        t = time.perf_counter()
        self.check_pass(spark, self.passes[-1])
        check_s = time.perf_counter() - t

        extra = {}
        if self.tracer and not self.wl.ops_are_queries:
            t = time.perf_counter()
            with self._span("ingest.rerun"):
                self.wl.update(spark, force=False)
            extra["rerun_s"] = time.perf_counter() - t
            extra["lake"] = self.wl.lake_stats()
        spark.stop()
        if rss:
            extra["peak_rss_bytes"] = rss.stop()

        record = {
            "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
            "trace": a.trace, "smoke": a.smoke, "cpus": os.environ.get("SPARK_GRAFT_CPUS"),
            "inputs": inputs, "gen_s": gen_s, "start_s": start_s,
            "setup_s": setup_s, "check_s": check_s, "warmup": warm,
            "passes": self.passes, "host": host, "extra": extra,
        }
        record["metrics"] = end_to_end(record, self.wl)
        if self.tracer:
            record["metrics"].update(per_layer(record, self.tracer, self.wl))
            record["spans"] = self.tracer.spans
        return record


# ------------------------------------------------------------- metrics


def end_to_end(rec: dict, wl) -> dict:
    ops = [o for p in rec["passes"] for o in p["ops"]]
    walls = [o["wall"] for o in ops if not math.isnan(o["wall"])]
    failed = sum(1 for o in ops if o["error"])
    pass_s = statistics.median(p["wall"] for p in rec["passes"])
    pct, tail_v = tail(walls)
    return {
        "setup_s": {"value": rec["setup_s"], "unit": "s"},
        "pass_s": {"value": pass_s, "unit": "s", "passes": len(rec["passes"])},
        "op_p50_s": {"value": statistics.median(walls), "unit": "s", "samples": len(walls)},
        "op_tail_s": {"value": tail_v, "unit": "s", "percentile": pct, "samples": len(walls)},
        "rows_per_s": {"value": wl.input_rows / pass_s, "unit": "rows/s", "rows": wl.input_rows},
        "op_fail_share": {"value": failed / len(ops), "unit": "ratio",
                          "attempted": len(ops), "failed": failed},
    }


#: per-layer time metric → the span layer whose per-pass time it sums
LAYER_TIMES = {
    "tables.load_s": "tables.load",
    "queries.build_s": "queries.build",
    "queries.plan_s": "queries.plan",
    "queries.exec_s": "queries.exec",
    "ops.materialize_s": "ops.materialize",
    "ops.lsh_s": "ops.lsh",
    "ops.components_s": "ops.components",
    "ops.semdedup_s": "ops.semdedup",
    "ops.ann_s": "ops.ann",
    "ops.bpe_s": "ops.bpe",
    "ingest.clean_s": "ingest.clean",
    "ingest.type_s": "ingest.type",
    "ingest.quarantine_s": "ingest.quarantine",
    "ingest.load_s": "ingest.load",
    "ingest.manifest_s": "ingest.manifest",
}
_INGEST_CHILDREN = ("ingest.clean", "ingest.type", "ingest.quarantine", "ingest.load", "ingest.manifest")


def _inclusive(spans: list[dict], layer: str, key: str) -> int:
    """Sum of ``key`` over the spans of ``layer`` and all their descendants."""
    children: dict = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    total = 0
    stack = [s for s in spans if s["layer"] == layer]
    while stack:
        s = stack.pop()
        total += s.get(key, 0)
        stack.extend(children.get(s["id"], ()))
    return total


def per_layer(rec: dict, tracer, wl) -> dict:
    by_pass: dict[int, list[dict]] = {}
    for s in tracer.spans:
        by_pass.setdefault(s["pass"], []).append(s)
    rows = []
    for p in rec["passes"]:
        spans = by_pass.get(p["pass"], [])
        dur = {}
        for s in spans:
            dur[s["layer"]] = dur.get(s["layer"], 0.0) + s["t1"] - s["t0"]
        row = {m: dur.get(layer, 0.0) for m, layer in LAYER_TIMES.items()}
        row["tables.load_calls"] = sum(1 for s in spans if s["layer"] == "tables.load")
        row["ops.materialize_calls"] = sum(1 for s in spans if s["layer"] == "ops.materialize")
        row["queries.build_jobs"] = _inclusive(spans, "queries.build", "jobs")
        for k in ("jobs", "stages", "tasks"):
            row[f"queries.exec_{k}"] = _inclusive(spans, "queries.exec", k)
        row["queries.failed_tasks"] = _inclusive(spans, "queries.exec", "failed_tasks")
        row["ingest.count_s"] = dur.get("ingest.update", 0.0) - sum(dur.get(c, 0.0) for c in _INGEST_CHILDREN)
        row["ingest.jobs"] = _inclusive(spans, "ingest.update", "jobs")
        row["ingest.tasks"] = _inclusive(spans, "ingest.update", "tasks")
        rows.append(row)
    out = {
        k: {"value": statistics.median(r[k] for r in rows), "unit": "s" if k.endswith("_s") else "count"}
        for k in rows[0]
    }
    cached = [p["cached_bytes"] for p in rec["passes"]]
    n = len(cached)
    ex = rec["extra"]
    lake = ex.get("lake", {})
    out.update({
        "session.start_s": {"value": rec["start_s"], "unit": "s"},
        "session.warmup_s": {"value": rec["setup_s"] - rec["start_s"], "unit": "s"},
        "session.cached_rdds": {"value": rec["passes"][-1]["cached_rdds"], "unit": "count"},
        "session.cached_bytes": {"value": cached[-1], "unit": "bytes"},
        "session.cached_bytes_growth": {"value": (cached[-1] - cached[0]) / max(n - 1, 1), "unit": "bytes"},
        "session.peak_rss_mb": {"value": ex["peak_rss_bytes"] / 2**20, "unit": "MB"},
        "ingest.rerun_s": {"value": ex.get("rerun_s", 0.0), "unit": "s"},
        "ingest.write_amp": {"value": lake.get("bytes", 0) / getattr(wl, "input_bytes", 1), "unit": "ratio"},
        "ingest.lake_files": {"value": lake.get("parquet_files", 0), "unit": "count"},
        "host.canary_s": {"value": statistics.median(h["canary_s"] for h in rec["host"]), "unit": "s"},
        "trace.pass_s": {"value": statistics.median(p["wall"] for p in rec["passes"]), "unit": "s"},
    })
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    record = Run(args).run()
    Path(args.out).write_text(json.dumps(record, default=str))
    return 0


if __name__ == "__main__":
    sys.exit(main())
