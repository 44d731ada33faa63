"""The benchmark's workloads and metrics (BENCHMARK.json lists the same
names; test_stats.py checks that they agree), and the assembly of the
per-layer metrics from a traced run's raw record."""

import stats

WORKLOADS = ("ingest_replay", "tail_feed")

# name, unit, better. Every workload reports all of them. `lat_*`:
# ingest_replay, the wall time of one backlog replay; tail_feed, segment
# freshness. `tput_per_s`: events/s ingested. `scan_s`: full resolve of the
# workload's final table.
END_TO_END = [
    {"name": "setup_s", "unit": "s", "better": "lower"},
    {"name": "tput_per_s", "unit": "1/s", "better": "higher"},
    {"name": "lat_p50_ms", "unit": "ms", "better": "lower"},
    {"name": "lat_p90_ms", "unit": "ms", "better": "lower"},
    {"name": "scan_s", "unit": "s", "better": "lower"},
    {"name": "peak_rss_mb", "unit": "MB", "better": "lower"},
]

_L = [
    # prepare/rules and LWW (cdc.CdcApply.prepareBatch, lwwDedupSorted)
    ("cdc.map_stage_ms", "ms", "lower"),
    ("cdc.rows_in", "count", "higher"),
    ("cdc.shuffle_write_bytes", "bytes", "lower"),
    ("cdc.spill_bytes", "bytes", "lower"),
    ("cdc.keep_ratio", "ratio", "lower"),
    # lake write (LakeTable.writeDeltaFiles)
    ("lake.write_stage_ms", "ms", "lower"),
    ("lake.plan_ms", "ms", "lower"),
    ("lake.footer_ms", "ms", "lower"),
    ("lake.files_written", "count", "lower"),
    ("lake.bytes_written", "bytes", "lower"),
    # lake commit (commitDelta)
    ("lake.commit_ms", "ms", "lower"),
    ("lake.commits", "count", "higher"),
    # compaction (compact, maybeCompactAsync)
    ("lake.compact_ms", "ms", "lower"),
    ("lake.compactions", "count", "lower"),
    ("lake.compact_bytes", "bytes", "lower"),
    ("lake.delta_depth_max", "count", "lower"),
    # stream/pipeline (CdcStream, CdcPipeline)
    ("stream.trigger_ms", "ms", "lower"),
    ("stream.latest_offset_ms", "ms", "lower"),
    ("stream.wal_commit_ms", "ms", "lower"),
    ("stream.add_batch_ms", "ms", "lower"),
    ("stream.batches", "count", "lower"),
    ("pipeline.commit_lag_ms", "ms", "lower"),
    # change feed (streaming.ChangeFeedSource)
    ("feed.trigger_ms", "ms", "lower"),
    ("feed.latest_offset_ms", "ms", "lower"),
    ("feed.get_batch_ms", "ms", "lower"),
    ("feed.rows", "count", "higher"),
    ("feed.lag_versions_max", "count", "lower"),
    # lake read (readConv, filesForConv, read; tail_feed's traced read probe)
    ("lake.prune_ms", "ms", "lower"),
    ("lake.files_per_read", "count", "lower"),
    ("lake.read_plan_ms", "ms", "lower"),
    ("lake.read_job_ms", "ms", "lower"),
    ("lake.read_shuffle_bytes", "bytes", "lower"),
    ("lake.scan_shuffle_bytes", "bytes", "lower"),
    # Spark engine (listener)
    ("spark.slot_util", "ratio", "higher"),
    ("spark.task_cpu_ms", "ms", "lower"),
    ("spark.gc_ms", "ms", "lower"),
    ("spark.jobs", "count", "lower"),
    ("spark.tasks", "count", "lower"),
    ("spark.task_failures", "count", "lower"),
    # single-core baseline (ingest_replay)
    ("ingest_eps_1core", "1/s", "higher"),
    ("scaling_eff_1to4", "ratio", "higher"),
    # trace quality and noise record
    ("trace.path_cover_frac", "ratio", "higher"),
    ("trace.path_cover_ok", "count", "higher"),
    ("trace.read_cover_frac", "ratio", "higher"),
    ("gen_late_ms_max", "ms", "lower"),
    ("failed_frac", "ratio", "lower"),
    ("env.loadavg_before", "load", "lower"),
    ("env.loadavg_after", "load", "lower"),
    ("env.nproc", "count", "higher"),
] + [("trace_overhead_frac." + m["name"], "ratio", "lower")
     for m in END_TO_END if m["name"] not in ("setup_s", "peak_rss_mb")]

PER_LAYER = [{"name": n, "unit": u, "better": b} for n, u, b in _L]

# The traced spans must account for the blocking path's wall time within
# this share: ingest_replay's serial walk; tail_feed's freshness, against
# the trigger, commit-lag and feed phases of the progress reports.
PATH_COVER_TOLERANCE = 0.10

# Per-layer samples reported as their median.
_MEDIAN_SAMPLES = ("stream.trigger_ms", "stream.latest_offset_ms", "stream.wal_commit_ms",
                   "stream.add_batch_ms", "pipeline.commit_lag_ms", "feed.trigger_ms",
                   "feed.latest_offset_ms", "feed.get_batch_ms")


def _median_or_zero(xs):
    return stats.median(xs) if xs else 0.0


def per_layer_values(raw, e2e, traced, load_before, load_after):
    """Every per-layer metric of a traced run; layers a workload does not
    exercise read 0."""
    counts = raw["counts"]
    spans = raw["spans"]
    jobs = raw["jobs"]
    v = {m["name"]: 0.0 for m in PER_LAYER}
    for k in v:
        if k in counts:
            v[k] = counts[k]
    for k in _MEDIAN_SAMPLES:
        v[k] = _median_or_zero(raw["samples"].get(k, []))

    plan, write, footer = stats.job_split(spans, jobs, "lake.write")
    v["lake.plan_ms"] = _median_or_zero(plan)
    v["lake.write_stage_ms"] = _median_or_zero(write)
    v["lake.footer_ms"] = _median_or_zero(footer)
    v["lake.commit_ms"] = _median_or_zero(stats.durations(spans, "lake.commit"))
    v["lake.compact_ms"] = sum(stats.durations(spans, "lake.compact"))
    read_plan, read_job, _ = stats.job_split(spans, jobs, "lake.read")
    v["lake.read_plan_ms"] = _median_or_zero(read_plan)
    v["lake.read_job_ms"] = _median_or_zero(read_job)
    v["lake.prune_ms"] = _median_or_zero(stats.durations(spans, "lake.prune"))
    if counts.get("lake.reads"):
        v["lake.files_per_read"] = counts.get("lake.files_read", 0.0) / counts["lake.reads"]

    v["trace.read_cover_frac"] = stats.path_cover(spans, "read")
    if any(s["name"] == "batch" for s in spans):
        cover = stats.path_cover(spans, "batch")
    else:
        # tail_feed: trigger, commit-lag and feed phases against freshness
        # (progress-report medians; trigger waits are not covered)
        phases = (v["stream.trigger_ms"] + v["pipeline.commit_lag_ms"] + v["feed.trigger_ms"])
        cover = phases / traced["lat_p50_ms"] if traced["lat_p50_ms"] else 0.0
    v["trace.path_cover_frac"] = cover
    v["trace.path_cover_ok"] = 1.0 if abs(cover - 1) <= PATH_COVER_TOLERANCE else 0.0

    if v["ingest_eps_1core"]:
        v["scaling_eff_1to4"] = e2e["tput_per_s"] / (counts["env.nproc"] * v["ingest_eps_1core"])
    v["failed_frac"] = raw["failed"] / max(1, raw["attempted"])
    v["env.loadavg_before"] = load_before
    v["env.loadavg_after"] = load_after
    better = {m["name"]: m["better"] for m in END_TO_END}
    for k in traced:
        name = "trace_overhead_frac." + k
        if name in v:
            v[name] = stats.overhead(e2e[k], traced[k], better[k])
    return v
