"""pixelspark benchmark: one seeded workload per run, end-to-end metrics
or (with ``--trace 1``) per-layer metrics, checked against oracles.

    python3 perfbench/run.py --workload daily_billing --seed 1 --seconds 5 --trace 0

Run it from the repository root.  The last line of standard output is
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``.
The line before it carries the run's receipts, sample counts,
percentiles and the workload's named figures.  See README.md in this
directory for what each metric means on each workload.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import signal
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
# A run that has not finished by then is stopped and reported as failed, so
# the command always ends within its 180 s limit.  A normal run takes 40-120 s.
DEADLINE_S = 170


class RunTimeout(BaseException):
    """Raised in the main thread when the run passes DEADLINE_S.  Not an
    Exception, so the per-operation guard does not swallow it."""


def _on_alarm(_signum, _frame):
    raise RunTimeout


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "pixelspark", "__init__.py")):
        print("perfbench: run from the pixelspark repository root "
              "(no pixelspark/ package here)", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    import layers
    import probe
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    cpus = len(os.sched_getaffinity(0))
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    # Python workers import the program and the charge stub; every
    # temporary file stays inside the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["TMPDIR"] = work
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)

    # orphans of a killed JVM (its Python workers) become children of this
    # process, so _kill_jvm can wait for them
    _become_subreaper()
    load_start = probe.loadavg()
    run = workloads.Run(work, args.seed, args.seconds, bool(args.trace), cpus)
    overran = False
    signal.signal(signal.SIGALRM, _on_alarm)
    signal.alarm(DEADLINE_S)
    try:
        workloads.WORKLOADS[args.workload](run)
        receipts = probe.receipts(run.spark, args.seed)
        if run.trace:
            span_file = os.path.join(base, f"spans-{args.workload}-{args.seed}.jsonl")
            run.tracer.dump(span_file)
            receipts["spans"] = os.path.relpath(span_file, ROOT)
            receipts["span_summary"] = run.tracer.summary()
    except RunTimeout:
        overran = True
        run.op(False, f"run did not finish within {DEADLINE_S} s; stopped"
                      + _numeric_dirs(work))
        receipts = probe.receipts(None, args.seed)
    finally:
        signal.alarm(0)
        if overran:
            _kill_jvm()
        else:
            _stop(run.spark)
        shutil.rmtree(work, ignore_errors=True)
    rss = run.rss
    receipts.update(load_start=load_start, load_end=probe.loadavg(), inputs=run.inputs,
                    workload=args.workload, seconds=args.seconds, trace=args.trace,
                    peak_rss_mb={"driver": rss[0], "jvm": rss[1]})

    s = run.samples
    e2e = {
        "setup_s": _median(s["setup"]),
        "first_step_s": _median(s["first"]),
        "step_p50_s": _median(s["step"]),
        "read_p50_s": _median(s["read"]),
        "rows_per_s": run.rows / run.rows_seconds if run.rows_seconds else None,
        "peak_rss_mb": None if None in rss else sum(rss),
    }
    if run.trace and s["step"] and s["untraced_step"]:
        run.layers["trace.overhead_ratio"] = (
            statistics.median(s["step"]) / statistics.median(s["untraced_step"]) - 1)
        # a layer this workload never calls reads 0
        metrics = {k: {"value": run.layers.get(k, 0), "unit": unit}
                   for k, (unit, _better, _moves) in layers.PER_LAYER.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": unit}
                   for k, (unit, _better, _meaning) in layers.END_TO_END.items()}
    missing = [k for k, m in metrics.items() if m["value"] is None]
    detail = {
        "receipts": receipts,
        "samples": {k: probe.percentile_summary(v) for k, v in s.items() if v},
        "phase_s": run.phases,
        "named": {**run.detail, "failed_ratio": run.failed / max(run.attempted, 1)},
        "end_to_end": e2e,
        "missing_metrics": missing,
        "problems": run.problems[:20],
    }
    print(json.dumps(detail, default=str))
    print(json.dumps({
        "correct": run.failed == 0 and not missing,
        "attempted": max(run.attempted, 1),
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0


def _median(xs: list[float]) -> float | None:
    return statistics.median(xs) if xs else None


def _numeric_dirs(work: str) -> str:
    """Name data directories whose id Spark's partition-type inference reads
    as a number in scientific notation (`__snap=897726e165554963` is
    897726 x 10^165554963, which it expands digit by digit)."""
    found = sorted({d for _root, dirs, _files in os.walk(work) for d in dirs
                    if re.fullmatch(r"__\w+=\d+e\d+", d)})
    return f"; data dirs that parse as numbers: {', '.join(found)}" if found else ""


def _become_subreaper() -> None:
    import ctypes

    try:
        ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER
    except (OSError, AttributeError):
        pass


def _kill_jvm() -> None:
    """Kill the JVM and every process under it, and wait until they end."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is None:
        return
    pids, changed = {proc.pid}, True
    while changed:  # the JVM's descendants: Python worker daemons
        changed = False
        for d in os.listdir("/proc"):
            try:
                with open(f"/proc/{d}/stat", encoding="ascii") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, ValueError, IndexError):
                continue
            if ppid in pids and int(d) not in pids:
                pids.add(int(d))
                changed = True
    for pid in pids:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    proc.wait(timeout=30)
    for pid in pids - {proc.pid}:  # orphans, reparented to this process
        try:
            os.waitpid(pid, 0)
        except ChildProcessError:
            pass


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM to exit."""
    if spark is None:
        return
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            try:
                proc.stdin.close()
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 - make sure it is gone
                proc.kill()
                proc.wait(timeout=10)


if __name__ == "__main__":
    sys.exit(main())
