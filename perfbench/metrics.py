"""Metric names and units, shared by the runner and BENCHMARK.json."""

from __future__ import annotations

from perfbench.gen import QUERY_NAMES, SLICE

# every workload reports all of these (see README.md for what op,
# light and heavy are on each workload)
END_TO_END = {
    "setup_s": "s",
    "ok_frac": "ratio",
    "op_s": "s",
    "light_s": "s",
    "heavy_s": "s",
}


def _unit(name: str) -> str:
    leaf = name.rsplit(".", 1)[-1]
    if leaf.endswith("_per_input_byte") or leaf == "overlap":
        return "ratio"
    if leaf.endswith("_mb"):
        return "MB"
    if leaf.endswith("_ms"):
        return "ms"
    if leaf.endswith("_bytes") or leaf == "bytes_rewritten":
        return "bytes"
    if leaf == "s" or leaf.endswith("_s"):
        return "s"
    return "count"


def _layer_names() -> list[str]:
    names = [
        "session.get_spark_s", "session.warmup_s", "process.peak_rss_mb",
        "trace.pass_s", "trace.overhead_s",
    ]
    for op in ("insert", "merge"):
        p = f"ingest.{op}"
        names += [f"{p}.pipeline.self_s", f"{p}.pipeline.self_tasks", f"{p}.readers.s",
                  f"{p}.validators.s", f"{p}.validators.jobs"]
        names += [f"{p}.upsert.{k}" for k in (
            "s", "jobs", "tasks", "shuffle_write_bytes", "executor_cpu_ms",
            "files_written", "bytes_written_per_input_byte")]
        names += [f"{p}.gc_ms", f"{p}.spill_bytes"]
    for fold in ("dedup", "upsert", "neardup", "embedding"):
        names += [f"refresh.fold.{fold}.{k}" for k in ("s", "tasks", "shuffle_write_bytes")]
    names += [
        "refresh.fold.max_s", "refresh.fold.overlap",
        "refresh.compact.index_s", "refresh.compact.table_s", "refresh.compact.bytes_rewritten",
        "refresh.loop.self_s", "refresh.store.files", "refresh.store.bytes_per_input_byte",
        "refresh.gc_ms", "refresh.spill_bytes",
    ]
    names += _query_names(SLICE)
    return names + [
        "queries.relational.executor_cpu_ms", "queries.pipeline.executor_cpu_ms",
        "queries.pipeline.spill_bytes", "queries.gc_ms",
    ]


def _query_names(queries: list[str]) -> list[str]:
    return [f"queries.{q}.{k}" for q in queries for k in ("s", "build_s", "jobs", "shuffle_write_bytes")]


# the per-layer metrics of the workloads in BENCHMARK.json ...
PER_LAYER = {name: _unit(name) for name in _layer_names()}
# ... and those only the queries workload (run by hand) adds
QUERY_LAYER = {
    name: _unit(name) for name in _query_names([q for q in QUERY_NAMES if q not in SLICE])
}
