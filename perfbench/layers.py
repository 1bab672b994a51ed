"""The benchmark's metric catalogue.

``END_TO_END`` lists the metrics every untraced run reports, with what
each one means on each workload.  ``PER_LAYER`` lists the metrics every
traced run reports: for each, its unit, which direction is better, the
end-to-end metric it should move and the workload that exercises it.
A traced run of the other workload reports 0 for a layer it never
calls.  ``BENCHMARK.json`` and README.md are written from these tables.

Per-layer conventions: ``.s``/``.s_p50`` are medians over calls;
``jobs``, ``tasks``, ``input_rows``, ``bytes_written``,
``shuffle_bytes`` and ``exec_cpu_s`` are means per call of Spark
status-store deltas; ``external.*`` are per billed day.
"""

from __future__ import annotations

DB, TC = "daily_billing", "table_dml_corpus"

END_TO_END = {
    # name: (unit, better, {workload: meaning})
    "setup_s": ("s", "lower", {
        DB: "JVM and session start, a first job, resolving both inputs",
        TC: "JVM and session start, a first job, creating the usage table, VectorIndex.build"}),
    "first_step_s": ("s", "lower", {
        DB: "day_cold_s: the first billed day in a fresh session",
        TC: "the first day of table DML in a fresh session"}),
    "step_p50_s": ("s", "lower", {
        DB: "day_p50_s: the warm billed day",
        TC: "the warm day of table DML (compact, append, merge, delete, update, "
            "latest and time-travel read, read_changes, both view refreshes)"}),
    "read_p50_s": ("s", "lower", {
        DB: "readback_s: current_billing_state plus build_report over the billing log "
            "after the first and after the last billed day",
        TC: "ann_query_p50_s: one single-vector VectorIndex.query"}),
    "rows_per_s": ("1/s", "higher", {
        DB: "event rows of every billed day, cold day included, per second of those "
            "days: a fresh process billing days back to back, as a backfill does",
        TC: "curate_docs_per_s: documents through curate_corpus, near_dup_pairs and "
            "dedup_clusters per second"}),
    "peak_rss_mb": ("MB", "lower", {
        DB: "VmHWM of the driver Python process plus the JVM at the end of the timed "
            "part; inputs and oracle answers are made in a child process",
        TC: "the same"}),
}

_day = ("step_p50_s", DB)
_read = ("read_p50_s", DB)
_tbl = ("step_p50_s", TC)
_llm = ("rows_per_s", TC)
_ann = ("read_p50_s", TC)

PER_LAYER: dict[str, tuple[str, str, tuple[str, str]]] = {
    "billing.events_read_per_event": ("ratio", "lower", _day),
    "job.day.jobs": ("count", "lower", _day),
    "job.day.tasks": ("count", "lower", _day),
    "job.day.exec_cpu_s": ("s", "lower", _day),
    "job.day.core_use": ("ratio", "higher", _day),
    "billing.daily_billing.build_s": ("s", "lower", _day),
    "io.append_records.s": ("s", "lower", _day),
    "io.append_records.jobs": ("count", "lower", _day),
    "io.append_records.input_rows": ("count", "lower", _day),
    "io.append_records.bytes_written": ("bytes", "lower", _day),
    "external.calls": ("count", "lower", _day),
    "external.retries": ("count", "lower", _day),
    "external.call_p50_ms": ("ms", "lower", _day),
    "external.busy_s": ("s", "lower", _day),
    "external.stage_s": ("s", "lower", _day),
    "external.max_in_flight": ("count", "higher", _day),
    "external.duplicate_rows": ("count", "lower", _day),
    "report.build_report.s": ("s", "lower", _day),
    "report.build_report.jobs": ("count", "lower", _day),
    "report.build_report.input_rows": ("count", "lower", _day),
    "report.mismatch_ratio": ("ratio", "lower", _day),
    "io.latest_state.s": ("s", "lower", _read),
    "job.readback.jobs": ("count", "lower", _read),
    "job.readback.input_rows": ("count", "lower", _read),
    "io.log_files": ("count", "lower", _read),
    **{f"table.{op}.{k}": (u, "lower", _tbl)
       for op in ("append", "merge", "update", "delete", "compact")
       for k, u in (("s_p50", "s"), ("jobs", "count"), ("bytes_written", "bytes"),
                    ("files_added", "count"))},
    **{f"table.{op}.{k}": (u, "lower", _tbl)
       for op in ("read", "read_changes")
       for k, u in (("s_p50", "s"), ("jobs", "count"), ("input_rows", "count"))},
    "table.live_entries": ("count", "lower", _tbl),
    "table.manifest_bytes": ("bytes", "lower", _tbl),
    "table.write_amp": ("ratio", "lower", _tbl),
    "table.conflict_retries": ("count", "lower", _tbl),
    "storage.write_text_atomic.calls": ("count", "lower", _tbl),
    "storage.read_text.calls": ("count", "lower", _tbl),
    "storage.list.calls": ("count", "lower", _tbl),
    "storage.write_text_atomic.s": ("s", "lower", _tbl),
    **{f"matview.{v}.{k}": (u, "lower", _tbl)
       for v in ("refresh_topn_view", "refresh_agg_view")
       for k, u in (("s_p50", "s"), ("jobs", "count"), ("input_rows", "count"))},
    **{f"llm.{f}.{k}": (u, "lower", _llm)
       for f in ("curate_corpus", "near_dup_pairs", "dedup_clusters")
       for k, u in (("s", "s"), ("jobs", "count"), ("exec_cpu_s", "s"),
                    ("shuffle_bytes", "bytes"))},
    "llm.near_dup_pairs.pairs": ("count", "higher", _llm),
    "llm.near_dup_pairs.recall": ("ratio", "higher", _llm),
    "llm.dedup_clusters.rounds": ("count", "lower", _llm),
    "pq.VectorIndex.build.s": ("s", "lower", ("setup_s", TC)),
    "pq.VectorIndex.build.jobs": ("count", "lower", ("setup_s", TC)),
    "pq.VectorIndex.query.jobs": ("count", "lower", _ann),
    "pq.VectorIndex.query.tasks": ("count", "lower", _ann),
    "pq.VectorIndex.query.input_rows": ("count", "lower", _ann),
    "pq.VectorIndex.query.exec_cpu_s": ("s", "lower", _ann),
    "pq.VectorIndex.query.recall_at_10": ("ratio", "higher", _ann),
    "trace.overhead_ratio": ("ratio", "lower", ("step_p50_s", "both")),
}
