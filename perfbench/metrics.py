"""Metric definitions and the statistics the runner derives from raw samples.

End-to-end metrics are reported on every workload. Per-layer metrics come
from the traced run (`--trace 1`); a layer that does no work on a workload
reports 0.
"""
import math
import re
import statistics

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")

# name -> (unit, better, bound); what each counts per workload is in NOTES.md
END_TO_END = {
    "setup_s": ("s", "lower", 0.25),
    "peak_rss_mb": ("MB", "lower", 0.1),
    "throughput_per_s": ("1/s", "higher", 0.25),
    "latency_p50_s": ("s", "lower", 0.25),
    "bytes_stored_per_input_byte": ("ratio", "lower", 0.2),
}

# query_suite's slice of SparkEntry, by family; the engine side reads it
# from the generated inputs
QUERIES = {
    "session": ["q4_window_latest", "q16_session_merge", "q33_sessionize", "q110_session_paths"],
    "codec": ["q185_warc_zst_extract", "q196_dump_multistream", "q197_lz4_shard", "q201_tar_xz",
              "q204_seekable_fetch"],
    "loop": ["q99_pagerank"],
}

LAYERS = "streaming state diff sources operators spark".split()

PER_LAYER = (
    [("streaming." + n, u) for n, u in [
        ("batches", "count"), ("trigger_p50_s", "s"), ("plan_s", "s"), ("source_s", "s"),
        ("add_batch_s", "s"), ("commit_s", "s"), ("deadletter_s", "s"), ("post_drain_s", "s"),
        ("upsert_buckets_per_batch", "count"), ("upsert_rows_rewritten_per_row_changed", "ratio"),
        ("diff_files", "count"), ("rows_dropped", "count"), ("rows_quarantined", "count")]]
    + [("state." + n, u) for n, u in [
        ("keys", "count"), ("keys_updated_per_batch", "count"), ("evicted", "count"),
        ("memory_bytes", "bytes"), ("store_commit_s", "s"), ("checkpoint_bytes", "bytes"),
        ("merge_us_per_event", "us")]]
    + [("diff." + n, u) for n, u in [
        ("docs", "count"), ("bytes_per_doc", "bytes"), ("compute_us_per_event", "us"),
        ("canonical_bytes_per_event", "bytes")]]
    + [("sources.enrich_s", "s"), ("sources.report_files", "count")]
    + [(f"operators.{q}.{m}", u) for fam in QUERIES.values() for q in fam
       for m, u in [("s", "s"), ("jobs", "count")]]
    + [(f"operators.{f}.{m}", u) for f in QUERIES for m, u in [
        ("plan_s", "s"), ("exec_s", "s"), ("shuffle_bytes", "bytes"), ("driver_jobs", "count")]]
    + [("spark." + n, u) for n, u in [
        ("jobs", "count"), ("stages", "count"), ("tasks", "count"), ("executor_run_s", "s"),
        ("shuffle_bytes", "bytes"), ("output_bytes", "bytes"), ("gc_s", "s")]]
    + [(f"{layer}.self_s", "s") for layer in LAYERS]
    + [("trace.overhead_ratio", "ratio"), ("host.calibration_s", "s")]
)

TAIL_LADDER = [50, 75, 90, 95, 99, 99.9]


def _rank(p, n):
    """1-based nearest rank of percentile p among n samples."""
    return max(1, math.ceil(round(p * n / 100, 9)))


def percentile(values, p):
    """Nearest-rank percentile of a non-empty sample."""
    return sorted(values)[_rank(p, len(values)) - 1]


def tail(values):
    """(label, value) of the highest ladder percentile that still has at
    least ten samples beyond it; p50 when the sample is too small for any."""
    n = len(values)
    best = 50
    for p in TAIL_LADDER:
        if n - _rank(p, n) >= 10:
            best = p
    return f"p{best:g}", percentile(values, best)


def median(values):
    return statistics.median(values) if values else 0.0


def file_latencies(published, batch_of, query_id, batches):
    """Seconds from each file's due time to the progress event of the batch
    that read it. `batch_of` maps a file's path to its batch id, as the
    engine read it from the stream's source log. Returns (latencies,
    unconsumed files)."""
    seen = {b["batch"]: b["seen_ms"] for b in batches if b["query"] == query_id}
    lat, missing = [], []
    for p in published:
        b = batch_of.get(p["file"])
        if b is None or b not in seen:
            missing.append(p["file"])
        else:
            lat.append((seen[b] - p["due_ms"]) / 1000.0)
    return lat, missing
