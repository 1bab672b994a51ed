"""Measurement plumbing: Spark status-store deltas, in-memory spans,
wrapping of the program's public functions, peak memory and run
receipts.

Nothing here changes what the program computes.  Wrapping replaces a
module or class attribute with a timing shim that calls the original;
``Tracer.unpatch`` restores every attribute it replaced.
"""

from __future__ import annotations

import functools
import importlib
import json
import os
import statistics
import time

STAGE_FIELDS = {
    # status-store field -> (metric key, scale to the unit we report)
    "numCompleteTasks": ("tasks", 1),
    "executorRunTime": ("exec_run_s", 1e-3),   # ms
    "executorCpuTime": ("exec_cpu_s", 1e-9),   # ns
    "inputRecords": ("input_rows", 1),
    "inputBytes": ("input_bytes", 1),
    "outputBytes": ("bytes_written", 1),
    "shuffleReadBytes": ("shuffle_read_bytes", 1),
    "shuffleWriteBytes": ("shuffle_bytes", 1),
    "memoryBytesSpilled": ("spill_mem_bytes", 1),
    "diskBytesSpilled": ("spill_disk_bytes", 1),
}
COUNT_KEYS = ("jobs", "stages") + tuple(k for k, _ in STAGE_FIELDS.values())


class StatusStore:
    """Reads per-call deltas of Spark's own task metrics from the
    driver's ``AppStatusStore`` (works with the UI disabled).

    Stage and job ids grow monotonically within one SparkContext, so a
    delta is "everything with an id above the mark taken before the
    call".  The status store is fed by an asynchronous listener bus, so
    every read first waits for the bus to drain.  When the API is not
    reachable the reader reports ``None``: a missing metric, never 0.
    """

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.ok = True
        try:
            jsc = self.sc._jsc.sc()
            self._store = jsc.statusStore()
            self._bus = jsc.listenerBus()
            self._no_quantiles = self.sc._gateway.new_array(self.sc._jvm.double, 0)
            self.mark()
        except Exception:  # noqa: BLE001 - any py4j failure means "no API"
            self.ok = False

    def _drain(self) -> None:
        self._bus.waitUntilEmpty()

    def _stages(self):
        # Spark 4.1: stageList(statuses, details, withSummaries,
        # unsortedQuantiles, taskStatus); the 1-argument form is gone
        return self._store.stageList(None, False, False, self._no_quantiles, None)

    def mark(self) -> tuple[int, int] | None:
        """(last job id, last stage id) as of now.  Both lists come back
        newest first."""
        if not self.ok:
            return None
        try:
            self._drain()
            jobs, stages = self._store.jobsList(None), self._stages()
            return (jobs.apply(0).jobId() if jobs.size() else -1,
                    stages.apply(0).stageId() if stages.size() else -1)
        except Exception:  # noqa: BLE001
            self.ok = False
            return None

    def delta(self, mark: tuple[int, int] | None) -> dict | None:
        """Counts of the jobs and stages that started after `mark`."""
        if mark is None or not self.ok:
            return None
        try:
            self._drain()
            last_job, last_stage = mark
            out = {k: 0 for k in COUNT_KEYS}
            jobs = self._store.jobsList(None)
            for i in range(jobs.size()):
                if jobs.apply(i).jobId() <= last_job:
                    break
                out["jobs"] += 1
            stages = self._stages()
            for i in range(stages.size()):
                s = stages.apply(i)
                if s.stageId() <= last_stage:
                    break
                if str(s.status()) == "SKIPPED":
                    continue
                out["stages"] += 1
                for field, (key, scale) in STAGE_FIELDS.items():
                    out[key] += getattr(s, field)() * scale
            return out
        except Exception:  # noqa: BLE001
            self.ok = False
            return None


class Tracer:
    """Spans kept in memory: (name, start, end, parent, run id) plus the
    status-store delta of the span when ``counts`` is set.  A disabled
    tracer's ``span`` still times the call but records nothing."""

    def __init__(self, run_id: str, store: StatusStore | None, enabled: bool):
        self.run_id = run_id
        self.store = store
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []
        self.counters: dict[str, float] = {}

    def count(self, key: str, n: float = 1) -> None:
        if self.enabled:
            self.counters[key] = self.counters.get(key, 0) + n

    def span(self, name: str, fn, *args, counts: bool = True, **kwargs):
        """Run fn(*args, **kwargs) inside span `name`; returns
        (result, seconds)."""
        if not self.enabled:
            t0 = time.perf_counter()
            res = fn(*args, **kwargs)
            return res, time.perf_counter() - t0
        mark = self.store.mark() if (counts and self.store) else None
        rec = {"name": name, "parent": self._stack[-1] if self._stack else None,
               "run": self.run_id, "id": len(self.spans)}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        rec["start"] = time.perf_counter()
        try:
            res = fn(*args, **kwargs)
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
        if mark is not None:
            rec["counts"] = self.store.delta(mark)
        return res, rec["end"] - rec["start"]

    def wrap(self, owner, attr: str, name: str, counts: bool = True) -> None:
        """Replace owner.attr (a module or class attribute) by a shim
        recording span `name` around each call."""
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def shim(*args, **kwargs):
            res = tracer.span(name, orig, *args, counts=counts, **kwargs)[0]
            if res is False:  # a lost compare-and-set (write_text_atomic)
                tracer.count(f"{name}.lost")
            return res

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, shim)

    def unpatch(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    # -- derived numbers ---------------------------------------------------

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def summary(self) -> dict:
        """Per span name: calls, total, p50 and self time.  Self time is
        the duration minus what the direct children cover; children of
        one span never overlap, because one thread makes every call."""
        covered: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                covered[s["parent"]] = covered.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, dict] = {}
        for name in sorted({s["name"] for s in self.spans}):
            ss = self.named(name)
            d = [s["end"] - s["start"] for s in ss]
            out[name] = {
                "calls": len(ss), "s": sum(d), "s_p50": statistics.median(d),
                "self_s": sum(x - covered.get(s["id"], 0.0) for x, s in zip(d, ss)),
            }
        return out

    def total(self, name: str, key: str) -> float | None:
        """Sum of a status-store count over the spans named `name`;
        None when any of them has no counts."""
        vals = [(s.get("counts") or {}).get(key) for s in self.named(name)]
        if not vals or any(v is None for v in vals):
            return None
        return sum(vals)

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def wrap_program(tracer: Tracer) -> None:
    """Wrap the functions the program calls internally, at the attribute
    each caller resolves.  ``job.py`` imports ``build_report`` by name,
    so the ``pixelspark.job`` binding is the one wrapped.  Storage
    methods are wrapped on every backend class that defines them.  Calls
    the benchmark makes itself get their spans from the workload code."""
    job = importlib.import_module("pixelspark.job")
    io = importlib.import_module("pixelspark.io")
    billing = importlib.import_module("pixelspark.ops.billing")
    external = importlib.import_module("pixelspark.ops.external")
    storage = importlib.import_module("pixelspark.storage")

    tracer.wrap(job, "build_report", "report.build_report")
    tracer.wrap(billing, "daily_billing", "billing.daily_billing.build")
    tracer.wrap(io, "append_records", "io.append_records")
    tracer.wrap(io, "latest_state", "io.latest_state")
    tracer.wrap(external, "charge_shops", "external.charge_shops.build")
    for cls in (storage.LocalStorage, storage.HadoopStorage, storage.ConditionalPutStorage):
        for meth in ("write_text_atomic", "read_text", "list"):
            if meth in cls.__dict__:
                tracer.wrap(cls, meth, f"storage.{meth}", counts=False)


# -- memory and receipts ----------------------------------------------------


def vm_hwm_mb(pid: int) -> float | None:
    """Peak resident set (VmHWM) of a process, from /proc."""
    try:
        with open(f"/proc/{pid}/status", encoding="ascii") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        return None
    return None


def jvm_pid(spark) -> int | None:
    try:
        return int(spark.sparkContext._jvm.ProcessHandle.current().pid())
    except Exception:  # noqa: BLE001
        return None


def loadavg() -> list[float]:
    with open("/proc/loadavg", encoding="ascii") as f:
        return [float(x) for x in f.read().split()[:3]]


def receipts(spark, seed: int) -> dict:
    import pyarrow
    import pyspark

    return {
        "seed": seed,
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "defaultParallelism": spark.sparkContext.defaultParallelism if spark else None,
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
    }


def percentile_summary(samples: list[float]) -> dict:
    """Median plus the highest of p90/p99/p999 that leaves at least ten
    samples beyond it (None when the sample is too small)."""
    xs = sorted(samples)
    n = len(xs)
    out = {"n": n, "p50": statistics.median(xs) if xs else None, "tail": None}
    for p in (0.999, 0.99, 0.9):
        if n * (1 - p) >= 10:
            out["tail"] = {"p": p, "value": xs[min(n - 1, int(p * n))]}
            break
    return out
