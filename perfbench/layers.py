"""The per-layer metrics of a traced run, and where each comes from.

Each entry is ``name -> (kind, source, unit)``. Kinds: ``span`` is the
p50 per traced batch of the inclusive time in spans of that name,
``calls`` the p50 count of such spans (both inside the batch's
landing -> commit span), ``read`` the p50 of a read span after the commit,
``self`` the p50 of the layer's self
time (span time not covered by child spans), ``batch`` a per-batch value
from the batch record, ``shuffle`` shuffle bytes from the event log,
``end`` a value read once at the end of the run, and ``trace`` the batch
p50 of traced (True) or untraced (False) batches, or (None) their ratio
minus one. Spans a workload never
enters read 0. README.md says which end-to-end metric each should move.
"""

LAYER_METRICS = {
    # pipeline stages: these three sum to the batch latency on cdc_trickle
    "pipeline.ingest_s": ("span", "pipeline.ingest", "s"),
    "pipeline.silver_s": ("span", "pipeline.silver", "s"),
    "pipeline.gold_s": ("span", "pipeline.gold", "s"),
    # sources
    "sources.list_new_s": ("span", "sources.list_new", "s"),
    "sources.schema_evolve_s": ("span", "sources.schema_evolve", "s"),
    "sources.read_json_s": ("span", "sources.read_json", "s"),
    # operators.cdc
    "operators.cdc.merge_cdc_batch_s": ("span", "operators.cdc.merge_cdc_batch", "s"),
    "operators.cdc.merge_agg_delta_s": ("span", "operators.cdc.merge_agg_delta", "s"),
    # lake.table
    "lake.table.merge_s": ("span", "lake.table.merge", "s"),
    "lake.table.merge_calls": ("calls", "lake.table.merge", "count"),
    "lake.table.append_s": ("span", "lake.table.append", "s"),
    "lake.table.append_calls": ("calls", "lake.table.append", "count"),
    "lake.table.read_changes_s": ("span", "lake.table.read_changes", "s"),
    "lake.table.read_changes_calls": ("calls", "lake.table.read_changes", "count"),
    "lake.table.rows_written_per_row_changed": (
        "end",
        lambda x: x["rows_written"] / x["rows_changed"] if x["rows_changed"] else 0.0,
        "ratio",
    ),
    "lake.table.silver_files": ("end", lambda x: x["silver_files"], "count"),
    "lake.table.silver_bytes": ("end", lambda x: x["silver_bytes"], "B"),
    # lake.log and lake.streaming
    "lake.log.write_commit_s": ("span", "lake.log.write_commit", "s"),
    "lake.log.write_commit_calls": ("calls", "lake.log.write_commit", "count"),
    "lake.log.read_log_s": ("span", "lake.log.read_log", "s"),
    "lake.log.read_log_calls": ("calls", "lake.log.read_log", "count"),
    "lake.log.table_state_s": ("span", "lake.log.table_state", "s"),
    "lake.log.table_state_calls": ("calls", "lake.log.table_state", "count"),
    "lake.log.bytes": ("end", lambda x: x["log_bytes"], "B"),
    "lake.streaming.process_available_s": ("span", "lake.streaming.process_available", "s"),
    # the Spark / py4j boundary
    "session.py4j_calls_per_batch": ("batch", lambda b: b.py4j_calls, "count"),
    "session.jobs_per_batch": ("batch", lambda b: b.jobs[0], "count"),
    "session.stages_per_batch": ("batch", lambda b: b.jobs[1], "count"),
    "session.tasks_per_batch": ("batch", lambda b: b.jobs[2], "count"),
    "session.driver_cpu_s_per_batch": ("batch", lambda b: b.driver_cpu_s, "s"),
    "session.jvm_cpu_s_per_batch": ("batch", lambda b: b.jvm_cpu_s, "s"),
    "session.shuffle_bytes_per_batch": ("shuffle", None, "B"),
    # operators.text / operators.dedup: timed at the consuming action
    "operators.text.score_s": ("span", "operators.text.score", "s"),
    "operators.dedup.exact_s": ("span", "operators.dedup.exact", "s"),
    "operators.dedup.bands_s": ("span", "operators.dedup.bands", "s"),
    "operators.dedup.candidates_s": ("span", "operators.dedup.candidates", "s"),
    "operators.dedup.candidates_per_dup": (
        "end",
        lambda x: x["candidates"] / x["dups"] if x.get("dups") else 0.0,
        "ratio",
    ),
    "operators.text.bm25_s": ("read", "operators.text.bm25", "s"),
    # self time per layer (span time not covered by a child span)
    "self.bench_s": ("self", "bench", "s"),
    "self.pipeline_s": ("self", "pipeline", "s"),
    "self.sources_s": ("self", "sources", "s"),
    "self.operators.cdc_s": ("self", "operators.cdc", "s"),
    "self.operators.text_s": ("self", "operators.text", "s"),
    "self.operators.dedup_s": ("self", "operators.dedup", "s"),
    "self.lake.table_s": ("self", "lake.table", "s"),
    "self.lake.log_s": ("self", "lake.log", "s"),
    "self.lake.streaming_s": ("self", "lake.streaming", "s"),
    # tracing cost: traced against untraced timed batches of the same run
    "trace.traced_batch_p50_s": ("trace", True, "s"),
    "trace.untraced_batch_p50_s": ("trace", False, "s"),
    "trace.overhead_ratio": ("trace", None, "ratio"),
}
