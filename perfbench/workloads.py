"""The benchmark workloads.

Each workload is a closed loop: one client in one process makes one
call at a time into the program and waits for it.  A workload function
gets a ``Run`` (session, tracer, timers, problem list) and fills in
``run.samples`` (end-to-end timings), ``run.detail`` (the workload's
named figures) and, when tracing, ``run.layers`` (per-layer figures).

Every run makes one cold step and then a fixed number of warm steps
per workload (more only while ``--seconds`` of warm steps have not yet
passed), so the sample count does not depend on how fast the program
is.  A traced run makes at least three warm steps and leaves the middle
one untraced, so it can report the tracing overhead against its traced
neighbours.  Inputs and their oracle answers are made in a child
process, so the generators' memory never counts in the driver's peak
RSS, which is read right after the timed part.
"""

from __future__ import annotations

import datetime as dt
import multiprocessing
import os
import statistics
import time
from concurrent.futures import ProcessPoolExecutor

import numpy as np

import gen
import oracle
import probe
import stub


class Run:
    def __init__(self, work: str, seed: int, seconds: float, trace: bool, cpus: int):
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.cpus = cpus
        self.spark = None
        self.jvm_pid = None
        self.tracer = probe.Tracer(f"{seed}-{os.getpid()}", None, trace)
        self.samples: dict[str, list[float]] = {
            "setup": [], "first": [], "step": [], "read": [], "untraced_step": []}
        self.rows = 0           # input rows behind rows_per_s
        self.rows_seconds = 0.0
        self.rss: list[float | None] = [None, None]  # VmHWM MB: driver, JVM
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.detail: dict = {}
        self.layers: dict = {}
        self.inputs: dict = {}
        self.phases: dict[str, float] = {}  # wall seconds per phase of the run
        self._phase_t = time.perf_counter()

    def phase(self, name: str) -> None:
        """Close the current phase of the run under `name`."""
        now = time.perf_counter()
        self.phases[name] = now - self._phase_t
        self._phase_t = now

    def setup(self, make) -> None:
        """Session start, a first job, then make(): the workload's own
        program set-up.  Timed as one setup_s sample."""
        from pixelspark.session import get_spark

        t0 = time.perf_counter()
        local = os.path.join(self.work, "spark-local")
        os.makedirs(local, exist_ok=True)
        self.spark = get_spark(
            "perfbench", master=f"local[{self.cpus}]", shuffle_partitions=self.cpus,
            extra_conf={
                "spark.local.dir": local,
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={local}",
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.spark.range(1).collect()
        if self.trace:
            self.tracer.store = probe.StatusStore(self.spark)
            probe.wrap_program(self.tracer)
        make()
        self.samples["setup"].append(time.perf_counter() - t0)
        self.jvm_pid = probe.jvm_pid(self.spark)

    def op(self, ok: bool, what: str = "") -> None:
        """Count one checked operation; a failed one records why."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append(what or "failed")

    def guarded(self, what: str, fn, *args, **kwargs):
        """Call fn; an exception counts as a failed operation."""
        try:
            return fn(*args, **kwargs)
        except Exception as exc:  # noqa: BLE001 - a failing call is a result, not a crash
            self.op(False, f"{what} raised {type(exc).__name__}: {str(exc)[:300]}")
            return None

    def steps(self, n_max: int, warm: int):
        """Yield step numbers 0 (cold), then 1..warm (1..3 at least when
        tracing), then more only until --seconds of warm steps have
        passed; the caller records each with record()."""
        need = max(warm, 3) if self.trace else warm
        t_start = None
        for i in range(n_max):
            if i == 1:
                t_start = time.perf_counter()
            elif i > need and time.perf_counter() - t_start >= self.seconds:
                break
            self._set_traced(not self._untraced(i))
            yield i
        self._set_traced(True)

    def _untraced(self, i: int) -> bool:
        return self.trace and i == 2

    def record(self, i: int, secs: float, rows: int) -> None:
        if i == 0:
            self.samples["first"].append(secs)
        elif self._untraced(i):
            self.samples["untraced_step"].append(secs)
        else:
            self.samples["step"].append(secs)
        self.rows += rows
        self.rows_seconds += secs

    def end_timed(self) -> None:
        """Read the peak RSS of the driver and the JVM; called right
        after the timed part, before the checks that follow it."""
        self.rss = [probe.vm_hwm_mb(os.getpid()), probe.vm_hwm_mb(self.jvm_pid or -1)]

    def _set_traced(self, on: bool) -> None:
        if not self.trace or on == self.tracer.enabled:
            return
        self.tracer.enabled = on
        if on:
            probe.wrap_program(self.tracer)
        else:
            self.tracer.unpatch()

    def layer_calls(self, name: str, *keys: str) -> None:
        """Per-layer figures of the spans called `name`: `s`/`s_p50` is
        the median seconds per call, any other key the mean per call of
        that status-store count."""
        spans = self.tracer.named(name)
        for key in keys:
            if not spans:
                self.layers[f"{name}.{key}"] = 0
            elif key in ("s", "s_p50"):
                self.layers[f"{name}.{key}"] = statistics.median(
                    s["end"] - s["start"] for s in spans)
            else:
                tot = self.tracer.total(name, key)
                self.layers[f"{name}.{key}"] = None if tot is None else tot / len(spans)


def in_child(fn, *args):
    """fn(*args) in a forked child process (before Spark starts), so the
    memory the generators and oracles use stays out of the driver."""
    ctx = multiprocessing.get_context("fork")
    with ProcessPoolExecutor(1, mp_context=ctx) as pool:
        return pool.submit(fn, *args).result()


def tree_bytes(root: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _dirs, files in os.walk(root) for f in files)


def data_files(root: str) -> int:
    return sum(1 for _d, _dirs, files in os.walk(root) for f in files if f.endswith(".parquet"))


# -- daily_billing ----------------------------------------------------------

# Sizes and the charge latency are assumptions: the reference repository
# records no traffic or API latency figures.  Events per shop per day (~330)
# are of the order of a 2,000-shop, 1M-events-a-day deployment, scaled down
# in shops so that a day fits the run budget.  The charge sink keeps the
# reference's 5 calls in flight and its 1 s first backoff (charge_shops'
# defaults); each call sleeps latency_s, a round figure for one HTTPS
# GraphQL mutation.  One failing shop a day: two could share a charge
# partition and back off in series, which would make day times bimodal.
# The read-backs run in two blocks, after the cold day and after the last
# day, so their median spans most of the run: the host's speed drifts by
# a quarter within a minute, and a median over a short window inherits it.
BILLING = {"shops": 300, "days": 14, "events_per_day": 100_000, "fail_per_day": 1,
           "latency_s": 0.1, "warm_days": 1, "readbacks": (2, 3)}


def _billing_prepare(in_dir: str, seed: int, cfg: dict, days: list[str]):
    info = gen.billing_inputs(in_dir, seed, cfg["shops"], cfg["days"], cfg["events_per_day"])
    return info, oracle.daily_bills(in_dir, days), oracle.events_per_day(in_dir)


def daily_billing(run: Run) -> None:
    from pixelspark import job
    from pixelspark.report import build_report
    from pixelspark.schemas import load_table

    cfg = BILLING
    in_dir = os.path.join(run.work, "in")
    days = [gen.day_str(i) for i in range(cfg["days"])]
    info, bills, day_events = in_child(_billing_prepare, in_dir, run.seed, cfg, days)
    run.inputs = {k: info[k] for k in ("rows", "bytes", "days", "shops", "row_groups")}
    run.phase("generate")

    def make() -> None:
        load_table(run.spark, in_dir, "customer").schema
        load_table(run.spark, in_dir, "events").schema

    run.setup(make)
    run.phase("setup")
    out = os.path.join(run.work, "out")
    table_path, ledger, calls_dir = f"{out}/usage", f"{out}/ledger", f"{out}/calls"
    tr = run.tracer
    reports: dict[str, dict] = {}
    failing: dict[str, set[int]] = {}
    billed: list[str] = []
    traced_days: list[str] = []
    results = []  # (days billed when read back, read-back result)

    def readback():
        state = job.current_billing_state(run.spark, table_path)
        rows = state.select("shop", "billing_date", "page_views", "billing_amount",
                            "shopify_billing_status").collect()
        return rows, build_report(state)

    def readbacks(n: int) -> None:
        for _ in range(n):
            res, secs = tr.span("job.readback", run.guarded, "readback", readback)
            run.samples["read"].append(secs)
            results.append((list(billed), res))

    # the log always holds days the run does not bill
    for i in run.steps(len(days) - 2, cfg["warm_days"]):
        day = days[i]
        failing[day] = _pick_failing(run.seed, i, oracle.billable(bills[day]),
                                     cfg["fail_per_day"])
        charge = stub.ChargeStub(day, calls_dir, failing[day], cfg["latency_s"])
        payload, secs = tr.span(
            "job.day", run.guarded, f"run_daily_billing {day}", job.run_daily_billing,
            run.spark, in_dir, day, table_path=table_path, ledger_dir=ledger, charge_fn=charge)
        billed.append(day)
        if tr.enabled:
            traced_days.append(day)
        if payload is not None:
            reports[day] = payload
        run.record(i, secs, day_events[day])
        if i == 0:
            readbacks(cfg["readbacks"][0])

    run.phase("days")
    readbacks(cfg["readbacks"][1])
    run.end_timed()

    run.phase("readback")
    # checks, after the timed part
    log_rows = oracle.usage_log(table_path)
    calls = stub.read_calls(calls_dir)
    mismatched = 0
    for day in reports:  # a day that raised is already counted as failed
        bill = bills[day]
        p = oracle.check_usage_day(log_rows, day, bill) + \
            oracle.check_charges(calls, day, bill, failing[day])
        run.op(not p, "; ".join(p[:3]))
        rp = oracle.check_report(reports[day], oracle.report_payload(
            [(s, pv, a) for s, (pv, a) in bill.items()], with_status=True))
        if rp:
            mismatched += 1
            run.detail.setdefault("report_mismatch_example", rp[:2])
    for upto, res in results:
        if res is None:
            continue
        rows, rep = res
        got = [(int(r[0]), str(r[1]), r[2], r[3], r[4]) for r in rows]
        want_report = oracle.report_payload(
            [(str(s), *bills[d][s]) for d in upto for s in bills[d]], with_status=False)
        p = oracle.check_state(got, {d: bills[d] for d in upto}) + \
            oracle.check_report(rep, want_report)
        run.op(not p, "; ".join(p[:3]))

    run.phase("check")
    s = run.samples
    run.detail.update({
        "day_cold_s": s["first"][0],
        "day_p50_s": statistics.median(s["step"]),
        "readback_s": statistics.median(s["read"]),
        "days_billed": len(billed),
        "report_mismatch_ratio": mismatched / len(billed),
        "duplicate_status_rows": sum(
            (r.get("status_counts") or {}).get("duplicate", 0) for r in reports.values()),
    })
    if run.trace:
        _billing_layers(run, calls, traced_days, day_events, table_path)


def _pick_failing(seed: int, day_idx: int, billable_shops: list[int], k: int) -> set[int]:
    """The billable shops whose first charge attempt fails that day."""
    if not billable_shops:
        return set()
    rng = np.random.default_rng([seed, 2, day_idx])
    return {int(s) for s in rng.choice(billable_shops, min(k, len(billable_shops)), replace=False)}


def _billing_layers(run: Run, calls, traced_days, day_events, table_path) -> None:
    tr = run.tracer
    spans = tr.named("job.day")
    run.layer_calls("job.day", "jobs", "tasks", "exec_cpu_s")
    counts = [s.get("counts") for s in spans]
    if spans and None not in counts:
        wall = sum(s["end"] - s["start"] for s in spans)
        run.layers["job.day.core_use"] = sum(c["exec_run_s"] for c in counts) / (wall * run.cpus)
        run.layers["billing.events_read_per_event"] = (
            sum(c["input_rows"] for c in counts) / sum(day_events[d] for d in traced_days))
    else:
        run.layers["job.day.core_use"] = run.layers["billing.events_read_per_event"] = None
    run.layer_calls("io.append_records", "s", "jobs", "input_rows", "bytes_written")
    run.layer_calls("billing.daily_billing.build", "s")
    run.layers["billing.daily_billing.build_s"] = run.layers.pop("billing.daily_billing.build.s")
    # the stub logs every call; keep the traced days'
    traced = set(traced_days)
    st = stub.call_stats([c for c in calls if c[1] in traced])
    n = len(traced_days)
    # wall time of a day's charge stage: first call start to last call end,
    # backoff included
    stage = [max(c[4] for c in cs) - min(c[3] for c in cs)
             for cs in ([c for c in calls if c[1] == d] for d in traced_days) if cs]
    run.layers.update({
        "external.calls": st["calls"] / n, "external.retries": st["retries"] / n,
        "external.call_p50_ms": st["call_p50_ms"] or 0.0, "external.busy_s": st["busy_s"] / n,
        "external.stage_s": statistics.median(stage) if stage else 0.0,
        "external.max_in_flight": st["max_in_flight"],
        "external.duplicate_rows": run.detail["duplicate_status_rows"] / run.detail["days_billed"],
        "report.mismatch_ratio": run.detail["report_mismatch_ratio"],
    })
    run.layer_calls("report.build_report", "s", "jobs", "input_rows")
    run.layer_calls("io.latest_state", "s")
    run.layer_calls("job.readback", "jobs", "input_rows")
    run.layers["io.log_files"] = data_files(table_path)


# -- table_dml_corpus -------------------------------------------------------

DML = {"shops": 400, "days": 12, "topn": 10, "warm_days": 1}
# ANN queries run in three blocks: after the cold table day, after the warm
# days and after the corpus work, so their median spans most of the run
# (the host's speed drifts by a quarter within a minute).  None runs right
# after set-up, where queries are up to 1.9x slower and speed up call by
# call as the JVM warms.
CORPUS = {"docs": 450, "vectors": 3000, "k": 10, "shortlist": 200, "queries": (2, 2, 2),
          "index": {"n_clusters": 8, "m": 4, "ksub": 16, "n_iter": 1}}


def _tc_prepare(c_dir: str, seed: int):
    batches = gen.dml_batches(seed, DML["shops"], DML["days"])
    cinfo = gen.corpus_inputs(c_dir, seed, CORPUS["docs"], CORPUS["vectors"])
    return batches, cinfo, oracle.true_pairs(cinfo["texts"])


def table_dml_corpus(run: Run) -> None:
    """The usage log as a partitioned SnapshotTable under daily DML, then
    corpus curation and single-vector ANN queries.  Set-up creates the
    table and builds the vector index."""
    from pixelspark.ops.pq import VectorIndex
    from pixelspark.schemas import load_table
    from pixelspark.table import SnapshotTable

    c_dir = os.path.join(run.work, "in")
    batches, cinfo, truth = in_child(_tc_prepare, c_dir, run.seed)
    run.inputs = {"shops": DML["shops"], "days": DML["days"],
                  "rows": DML["shops"] * DML["days"] + cinfo["rows"], "bytes": cinfo["bytes"],
                  "docs": cinfo["docs"], "vectors": cinfo["vectors"],
                  "planted_families": len(cinfo["families"]), "true_pairs": len(truth)}
    root = os.path.join(run.work, "tables")
    h: dict = {}
    run.phase("generate")

    def make() -> None:
        t = SnapshotTable(run.spark, f"{root}/usage", stats_cols=("shop",))
        t.overwrite(_batch_df(run.spark, batches[0]), partition_col="billing_date")
        idx = VectorIndex(run.spark, f"{root}/vindex")
        run.tracer.span("pq.VectorIndex.build", idx.build,
                        load_table(run.spark, c_dir, "embeddings"), **CORPUS["index"])
        h.update(t=t, idx=idx)

    run.setup(make)
    run.phase("setup")
    ann = _AnnQueries(run, h["idx"], c_dir, cinfo)
    blocks = iter(CORPUS["queries"])
    _table_days(run, h["t"], batches, root, lambda: ann.block(next(blocks)))
    ann.block(next(blocks))
    run.phase("table")
    _corpus(run, c_dir, cinfo, truth)
    ann.block(next(blocks))
    run.end_timed()
    run.phase("corpus")
    ann.finish()


def _batch_df(spark, b: dict):
    d = dt.date.fromisoformat(b["day"])
    rows = [(s, d, int(pv), oracle.amount(int(pv)), "pending") for s, pv in enumerate(b["views"])]
    return spark.createDataFrame(
        rows, "shop long, billing_date date, page_views long, billing_amount double, "
              "status string")


def _table_days(run: Run, t, batches: list[dict], root: str, after_cold) -> None:
    from pixelspark.ops import matview
    from pixelspark.table import SnapshotTable

    spark, tr = run.spark, run.tracer
    topn = SnapshotTable(spark, f"{root}/topn")
    agg = SnapshotTable(spark, f"{root}/totals")
    keys = ("shop", "billing_date")
    model = oracle.TableModel()
    model.append(batches[0]["day"], batches[0]["views"])
    snapshots = {t.latest_version(): model.snapshot()}
    ops: dict[str, list[float]] = {}
    files = [data_files(root)]

    def timed(name: str, what: str, fn, *args, **kwargs):
        res, secs = tr.span(name, run.guarded, what, fn, *args, **kwargs)
        ops.setdefault(what, []).append(secs)
        if tr.enabled:
            files.append(data_files(root))
            tr.count(f"{name}.files_added", files[-1] - files[-2])
            tr.count(f"{name}.calls")
        elif run.trace:
            files[-1] = data_files(root)
        return res, secs

    def rows_of(df) -> list[tuple]:
        return [(int(r[0]), str(r[1]), int(r[2]), float(r[3]), r[4]) for r in df.select(
            "shop", "billing_date", "page_views", "billing_amount", "status").collect()]

    def views_check(day: str) -> None:
        got = [(str(r[0]), int(r[1]), int(r[2]), int(r[3])) for r in topn.read().select(
            "billing_date", "rank", "page_views", "shop").collect()]
        p = oracle.check_rows(f"{day} top-n view", got, model.topn(DML["topn"]))
        run.op(not p, "; ".join(p))
        got = [(str(r[0]), int(r[1]), int(r[2])) for r in agg.read().select(
            "billing_date", "n", "page_views").collect()]
        p = oracle.check_rows(f"{day} totals view", got, model.totals())
        run.op(not p, "; ".join(p))

    for i in run.steps(len(batches) - 1, DML["warm_days"]):
        b = batches[i + 1]
        day = b["day"]
        d = dt.date.fromisoformat(day)
        outcomes = spark.createDataFrame(
            [(s, d, "success" if oracle.amount(int(pv)) > 0 else "skipped")
             for s, pv in enumerate(b["views"])],
            "shop long, billing_date date, status string")
        c0 = time.perf_counter()
        # every day after the first opens with a compaction, so the day's
        # writes and reads all run on the compacted layout
        if i > 0:
            timed("table.compact", "compact", t.compact)
        v_prev = t.latest_version()
        snapshots[v_prev] = model.snapshot()
        timed("table.append", "append", t.append, _batch_df(spark, b))
        timed("table.merge", "merge", t.merge, outcomes, keys,
              when_matched_update={"status": "s.status"}, when_not_matched_insert=False,
              mode="rewrite")
        refunds = ", ".join(str(s) for s in b["refunds"])
        timed("table.delete", "delete", t.delete,
              f"billing_date = DATE'{day}' AND shop IN ({refunds})", mode="dv")
        fixes = ", ".join(str(s) for s in b["fixes"])
        timed("table.update", "update", t.update,
              {"page_views": f"page_views + {b['fix_delta']}", "status": "'corrected'"},
              f"billing_date = DATE'{day}' AND shop IN ({fixes})", mode="rewrite")
        v_now = t.latest_version()
        latest, _ = timed("table.read", "read", lambda: rows_of(t.read()))
        old, _ = timed("table.read", "read_tt", lambda: rows_of(t.read(version=v_prev)))
        changes, _ = timed("table.read_changes", "read_changes", lambda: t.read_changes(
            v_prev, v_now, keys=keys).select(
                "shop", "billing_date", "page_views", "status", "change_type").collect())
        timed("matview.refresh_topn_view", "refresh_topn", matview.refresh_topn_view,
              t, topn, ("billing_date",), ("page_views", "shop"), n=DML["topn"],
              descending=(True, False), payload=("billing_amount",), src_keys=keys)
        timed("matview.refresh_agg_view", "refresh_agg", matview.refresh_agg_view,
              t, agg, ("billing_date",), sum_cols=("page_views",), count_col="n",
              src_keys=keys)
        run.record(i, time.perf_counter() - c0, len(b["views"]))

        # the oracle model follows the same operations; checks are untimed
        model.append(day, b["views"])
        model.merge_outcomes(day)
        model.delete(day, b["refunds"])
        model.update(day, b["fixes"], b["fix_delta"])
        snapshots[v_now] = model.snapshot()
        for what, got, want in (
                ("read", latest, snapshots[v_now]), ("time travel read", old, snapshots[v_prev])):
            p = ["raised"] if got is None else oracle.check_rows(
                f"{day} {what}", got, oracle.TableModel.as_tuples(want))
            run.op(not p, "; ".join(p))
        if changes is not None:
            got = [(int(r[0]), str(r[1]), int(r[2]), r[3], r[4]) for r in changes]
            want = [(s, dd, r["page_views"], r["status"], "inserted")
                    for (s, dd), r in snapshots[v_now].items() if dd == day]
            p = oracle.check_rows(f"{day} read_changes", got, want)
            run.op(not p, "; ".join(p))
        if i == 0:
            after_cold()
    # every day's board and totals stay in the views, so one check at the
    # end covers each refresh
    views_check(b["day"])

    created = sum(tree_bytes(os.path.join(root, n)) for n in ("usage", "topn", "totals"))
    live = sum(_live_bytes(x) for x in (t, topn, agg))
    dml = [x for k in ("merge", "update", "delete") for x in ops[k][1:]]
    run.detail.update({
        "table_days": len(ops["append"]),
        "append_p50_s": statistics.median(ops["append"][1:]),
        "dml_p50_s": statistics.median(dml),
        "compact_p50_s": statistics.median(ops["compact"]),
        "table_read_p50_s": statistics.median(ops["read"][1:] + ops["read_tt"][1:]),
        "refresh_p50_s": statistics.median(
            a + b for a, b in zip(ops["refresh_topn"][1:], ops["refresh_agg"][1:])),
        "write_amp": created / live,
        "table_op_s": ops,
    })
    if not run.trace:
        return
    for op in ("append", "merge", "update", "delete", "compact"):
        name = f"table.{op}"
        run.layer_calls(name, "s_p50", "jobs", "bytes_written")
        n = tr.counters.get(f"{name}.calls", 0)
        run.layers[f"{name}.files_added"] = tr.counters.get(f"{name}.files_added", 0) / n if n else 0
    for name in ("table.read", "table.read_changes", "matview.refresh_topn_view",
                 "matview.refresh_agg_view"):
        run.layer_calls(name, "s_p50", "jobs", "input_rows")
    v = t.latest_version()
    run.layers["table.live_entries"] = len(t.manifest(v).get("entries") or [])
    run.layers["table.manifest_bytes"] = os.path.getsize(t._manifest_path(v))
    run.layers["table.write_amp"] = run.detail["write_amp"]
    n_ops = sum(tr.counters.get(f"{n}.calls", 0) for n in (
        "table.append", "table.merge", "table.update", "table.delete", "table.compact",
        "table.read", "table.read_changes", "matview.refresh_topn_view",
        "matview.refresh_agg_view"))
    for meth in ("write_text_atomic", "read_text", "list"):
        run.layers[f"storage.{meth}.calls"] = len(tr.named(f"storage.{meth}")) / n_ops
    run.layer_calls("storage.write_text_atomic", "s")
    run.layers["table.conflict_retries"] = tr.counters.get("storage.write_text_atomic.lost", 0)


def _live_bytes(t) -> int:
    """Bytes of the data files the latest snapshot reads."""
    total = 0
    for u in t.files():
        path = u["path"] if os.path.isabs(u["path"]) else os.path.join(u["root"], u["path"])
        total += tree_bytes(path) if os.path.isdir(path) else os.path.getsize(path)
    return total


class _AnnQueries:
    """Single-vector VectorIndex.query calls, each timed as a read_p50_s
    sample and checked against a numpy brute-force top-k."""

    def __init__(self, run: Run, idx, c_dir: str, cinfo: dict):
        from pixelspark.schemas import load_table

        self.run, self.idx, self.cinfo = run, idx, cinfo
        self.emb = load_table(run.spark, c_dir, "embeddings")
        self.rng = np.random.default_rng([run.seed, 5])
        self.recalls: list[float] = []

    def block(self, n: int) -> None:
        run = self.run
        for _ in range(n):
            qid = int(self.rng.integers(CORPUS["vectors"]))
            got, secs = run.tracer.span(
                "pq.VectorIndex.query", run.guarded, f"ann query {qid}",
                lambda: self.idx.query(self.emb, [qid], k=CORPUS["k"],
                                       shortlist=CORPUS["shortlist"]).select(
                    "neighbor_id", "cosine", "rank").collect())
            run.samples["read"].append(secs)
            if got is not None:
                p, rec = oracle.check_ann([(int(r[0]), float(r[1]), int(r[2])) for r in got],
                                          self.cinfo["vecs"], qid, CORPUS["k"])
                self.recalls.append(rec)
                run.op(not p, "; ".join(p[:2]))

    def finish(self) -> None:
        run = self.run
        run.detail.update({
            "ann_query_p50_s": statistics.median(run.samples["read"]),
            "ann_recall_at_10": statistics.mean(self.recalls) if self.recalls else None,
        })
        if not run.trace:
            return
        run.layer_calls("pq.VectorIndex.build", "s", "jobs")
        run.layer_calls("pq.VectorIndex.query", "jobs", "tasks", "input_rows", "exec_cpu_s")
        run.layers["pq.VectorIndex.query.recall_at_10"] = run.detail["ann_recall_at_10"]


def _corpus(run: Run, c_dir: str, cinfo: dict, truth: dict) -> None:
    from pixelspark.ops import llm
    from pixelspark.schemas import load_table

    spark, tr = run.spark, run.tracer
    docs = load_table(spark, c_dir, "documents")
    c0 = time.perf_counter()
    cur, _ = tr.span("llm.curate_corpus", run.guarded, "curate_corpus",
                     lambda: llm.curate_corpus(docs).collect())
    pairs, _ = tr.span("llm.near_dup_pairs", run.guarded, "near_dup_pairs",
                       lambda: llm.near_dup_pairs(docs, threshold=0.5).collect())
    stats: dict = {}
    clusters = None
    if pairs is not None:
        pdf = spark.createDataFrame([(r[0], r[1]) for r in pairs], "id_a long, id_b long")
        clusters, _ = tr.span("llm.dedup_clusters", run.guarded, "dedup_clusters",
                              lambda: llm.dedup_clusters(pdf, stats=stats).collect())
    run.rows, run.rows_seconds = cinfo["docs"], time.perf_counter() - c0

    nd_recall = None
    p = ["raised"] if cur is None else oracle.check_curated([tuple(r) for r in cur],
                                                            cinfo["texts"])
    run.op(not p, "; ".join(p[:2]))
    if pairs is not None:
        p, nd_recall = oracle.check_near_dups([(r[0], r[1], r[2]) for r in pairs], truth)
        run.op(not p, "; ".join(p[:2]))
    if clusters is not None:
        p = oracle.check_clusters([(r[0], r[1]) for r in clusters], [(r[0], r[1]) for r in pairs])
        run.op(not p, "; ".join(p[:2]))
    run.detail.update({
        "curate_docs_per_s": run.rows / run.rows_seconds,
        "near_dup_recall": nd_recall,
        "near_dup_pairs": len(pairs or []),
        "dedup_rounds": stats.get("rounds"),
    })
    if not run.trace:
        return
    for name in ("llm.curate_corpus", "llm.near_dup_pairs", "llm.dedup_clusters"):
        run.layer_calls(name, "s", "jobs", "exec_cpu_s", "shuffle_bytes")
    run.layers["llm.near_dup_pairs.pairs"] = len(pairs or [])
    run.layers["llm.near_dup_pairs.recall"] = nd_recall
    run.layers["llm.dedup_clusters.rounds"] = stats.get("rounds")


WORKLOADS = {"daily_billing": daily_billing, "table_dml_corpus": table_dml_corpus}
