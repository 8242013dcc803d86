"""calaspark benchmark: one command per workload run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: ingest_release, analyst_queries, dedup_corpus (see
workloads.py for what each runs and why).  Run from the repository
root.  The run:

- generates its inputs from ``--seed`` (same seed, same inputs);
- runs in a child process of its own, with a fresh TMPDIR,
  SPARK_LOCAL_DIRS and working directory under
  ``.perfbench_work/`` (removed afterwards) and SPARK_GRAFT_CPUS set
  to the number of usable cores;
- checks every op's output and counts ops that raised or produced a
  wrong result as failed;
- prints a human-readable summary, then as its last line one JSON
  object ``{"correct", "attempted", "failed", "metrics"}`` — the
  end-to-end metrics with ``--trace 0``, the per-layer metrics of a
  traced run with ``--trace 1``;
- keeps the full run record (per-pass ops, job/stage/task counts,
  host canary and load average, cached storage; spans when traced) in
  ``.perfbench_out/``.

Exits non-zero without printing a result when the run fails, for
example when calaspark is not importable.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

from workloads import WORKLOADS

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
CHILD_TIMEOUT_S = 165

#: Printed in the result line of an untraced run.  op_fail_share is
#: left out: it is 0 on a healthy run, and the line's ``failed`` /
#: ``attempted`` carry it.
END_TO_END = ("setup_s", "pass_s", "op_p50_s", "op_tail_s", "rows_per_s")


def _stop_group(proc: subprocess.Popen) -> None:
    """Kill what is left of the child's process group (the Spark JVM
    included) and wait until every member has exited."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(proc.pid, sig)
        except ProcessLookupError:
            return
        deadline = time.monotonic() + 5
        while time.monotonic() < deadline:
            proc.poll()  # reap the child itself once it exits
            try:
                os.killpg(proc.pid, 0)
            except ProcessLookupError:
                return
            time.sleep(0.05)


def _run_child(args, work: Path, out: Path) -> int | None:
    for d in ("tmp", "local", "cwd"):
        (work / d).mkdir(parents=True)
    env = dict(
        os.environ,
        TMPDIR=str(work / "tmp"),
        SPARK_LOCAL_DIRS=str(work / "local"),
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        PYTHONPATH=os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")])),
        PYTHONHASHSEED="0",
    )
    cmd = [
        sys.executable, str(HERE / "harness.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", str(work / "data"), "--out", str(out),
    ] + (["--smoke"] if args.smoke else [])
    with open(work / "run.log", "w") as log:
        proc = subprocess.Popen(
            cmd, cwd=work / "cwd", env=env, stdout=log, stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        try:
            rc = proc.wait(timeout=CHILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            _stop_group(proc)
            proc.wait()
    return rc


def _summary(rec: dict) -> list[str]:
    lines = [f"workload {rec['workload']} seed {rec['seed']} trace {rec['trace']} "
             f"cpus {rec['cpus']} inputs {json.dumps(rec['inputs'])}"]
    for p in rec["passes"]:
        c = p["counts"]
        lines.append(
            f"  pass {p['pass']:2d} {p['wall']:8.3f} s  jobs {c['jobs']} stages {c['stages']} "
            f"tasks {c['tasks']}  cached {p['cached_rdds']} rdds / {p['cached_bytes']} B"
        )
    for h in rec["host"]:
        lines.append(f"  host canary {h['canary_s']:.4f} s loadavg {h['loadavg_1m']:.2f}")
    for p in rec["passes"]:
        for o in p["ops"]:
            if o["error"]:
                lines.append(f"  FAILED pass {p['pass']} {o['op']}: {o['error']}")
    for name, m in rec["metrics"].items():
        extra = {k: v for k, v in m.items() if k not in ("value", "unit")}
        lines.append(f"  {name} = {m['value']:.6g} {m['unit']} {json.dumps(extra) if extra else ''}")
    return lines


def _run_name(workload: str, seed: int, trace: int, smoke: bool) -> str:
    return f"{workload}{'-smoke' if smoke else ''}-s{seed}-t{trace}"


def _overhead(rec: dict, out_dir: Path) -> str | None:
    """Traced pass_s against the latest untraced run of the same
    workload and seed, when one was recorded."""
    prev = sorted(out_dir.glob(f"{_run_name(rec['workload'], rec['seed'], 0, rec['smoke'])}-*.json"))
    if not prev:
        return None
    base = json.loads(prev[-1].read_text())["metrics"]["pass_s"]["value"]
    traced = rec["metrics"]["trace.pass_s"]["value"]
    return f"  tracing overhead: pass_s {traced:.4f} s traced vs {base:.4f} s untraced ({traced / base - 1:+.1%})"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=list(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs, for the benchmark's own tests")
    args = ap.parse_args(argv)
    # a terminated run still stops its child process group (finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    stamp = f"{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}"
    work = ROOT / ".perfbench_work" / f"{args.workload}-{stamp}"
    out = work / "record.json"
    try:
        rc = _run_child(args, work, out)
        if rc != 0 or not out.exists():
            log = (work / "run.log").read_text(errors="replace")
            sys.stderr.write(log[-6000:])
            sys.stderr.write(f"\nrun failed (exit {rc})\n")
            return 1
        rec = json.loads(out.read_text())
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            work.parent.rmdir()  # only when no other run is using it

    out_dir = ROOT / ".perfbench_out"
    out_dir.mkdir(exist_ok=True)
    path = out_dir / f"{_run_name(args.workload, args.seed, args.trace, args.smoke)}-{stamp}.json"
    path.write_text(json.dumps(rec))
    print("\n".join(_summary(rec)))
    if args.trace:
        line = _overhead(rec, out_dir)
        if line:
            print(line)
    print(f"  record: {path.relative_to(ROOT)}")

    ops = [o for p in rec["passes"] for o in p["ops"]]
    failed = sum(1 for o in ops if o["error"])
    m = rec["metrics"]
    names = [k for k in m if k not in END_TO_END + ("op_fail_share",)] if args.trace else END_TO_END
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": m[k]["value"], "unit": m[k]["unit"]} for k in names},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
