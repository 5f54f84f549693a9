"""The benchmark's metric names and units; ``BENCHMARK.json`` lists the
same names (a test keeps the two in step)."""

from __future__ import annotations

#: name -> unit; reported with ``--trace 0``
END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "write_s.p50": "s",
    "write_s.tail": "s",
    "read_s.p50": "s",
    "read_s.tail": "s",
    "rows_per_s": "1/s",
    "write_amp": "ratio",
    "space_amp": "ratio",
    "peak_rss_mb": "MB",
}

#: spans the benchmark opens around public engine functions, by layer
SPANS = (
    "session.get_spark",
    "catalog.write",
    "catalog.table",
    "catalog.table_changes",
    "merge.write_table",
    "merge.merge_pruned",
    "paged.read_paged",
    "paged.write_paged",
    "dedup.simhash_band_pairs",
    "dedup.kcore",
    "dedup.connected_components",
    "dedup.substring_dup_spans",
    "dedup.write_lsh_index",
    "dedup.probe_lsh_index",
    "dedup.append_lsh_index",
    "similarity.write_ivfpq_index",
    "similarity.probe_ivfpq_index",
    "similarity.append_ivfpq_index",
    "textops.tfidf",
)

#: lazy functions: their span has an ``.action`` child (the noop write)
LAZY = frozenset(
    {
        "catalog.table",
        "catalog.table_changes",
        "paged.read_paged",
        "dedup.simhash_band_pairs",
        "dedup.kcore",
        "dedup.connected_components",
        "dedup.substring_dup_spans",
        "dedup.probe_lsh_index",
        "similarity.probe_ivfpq_index",
        "textops.tfidf",
    }
)

#: spans whose executor work an optimization is most likely to move get
#: the full stage breakdown; the rest report time, driver time, jobs and
#: executor run time (the 128-metric cap rules out all fields everywhere)
FULL_STAGE = frozenset(
    {
        "catalog.table_changes",
        "merge.merge_pruned",
        "paged.read_paged",
        "dedup.simhash_band_pairs",
        "dedup.kcore",
        "dedup.connected_components",
        "dedup.substring_dup_spans",
        "dedup.probe_lsh_index",
        "similarity.probe_ivfpq_index",
        "textops.tfidf",
    }
)

_UNITS = {
    "s": "s",
    "driver_s": "s",
    "jobs": "count",
    "executor_run_s": "s",
    "executor_cpu_s": "s",
    "shuffle_bytes": "bytes",
    "spill_bytes": "bytes",
}

#: domain counters, measured by the workloads
COUNTERS = {
    "catalog.bytes_written": "bytes",
    "catalog.files_live": "count",
    "paged.wire_calls": "count",
    "paged.wire_calls_per_page": "ratio",
    "trace.overhead_s": "s",
}


def per_layer() -> dict:
    """name -> unit of every per-layer metric, reported with ``--trace 1``."""
    out = {}
    for span in SPANS:
        fields = ["s", "driver_s", "jobs", "executor_run_s"]
        if span in FULL_STAGE:
            fields += ["executor_cpu_s", "shuffle_bytes", "spill_bytes"]
        for f in fields:
            out[f"{span}.{f}"] = _UNITS[f]
        if span in LAZY:
            out[f"{span}.action_s"] = "s"
    out.update(COUNTERS)
    return out


PER_LAYER = per_layer()
