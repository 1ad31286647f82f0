"""Per-layer numbers for one traced pass, from the status-store readout
(``tracing.StatusReader.read``) and the pass's spans."""

from __future__ import annotations

from typing import Any

from tracing import Tracer, in_windows

_MB = float(1 << 20)
_WRITE_NODE = "Execute InsertIntoHadoopFsRelationCommand"


def _is_csv_scan(node: dict[str, Any]) -> bool:
    name = node["name"].lower()
    return name.startswith("scan") and "csv" in name


def from_status(readout: dict[str, Any], tracer: Tracer, since: int) -> dict[str, float]:
    stages = readout["stages"]
    execs = readout["executions"]
    out: dict[str, float] = {}

    def add(name: str, value: float) -> None:
        out[name] = out.get(name, 0.0) + value

    # engine and shuffle: every stage of the pass
    for s in stages.values():
        add("engine.executor_run_ms", s["run_ms"])
        add("engine.executor_cpu_ms", s["cpu_ns"] / 1e6)
        add("engine.gc_ms", s["gc_ms"])
        add("engine.spill_bytes", s["spill"])
        add("engine.tasks", s["tasks"])
        add("shuffle.bytes_written", s["shuffle_bytes"])
        add("shuffle.records_written", s["shuffle_records"])
        add("shuffle.write_ms", s["shuffle_write_ns"] / 1e6)
        add("shuffle.fetch_wait_ms", s["fetch_wait_ms"])
    out["engine.peak_exec_mem_mb"] = max((s["peak_mem"] for s in stages.values()), default=0) / _MB
    out["engine.jobs"] = readout["jobs"]

    dedup_ran = bool(tracer.durations_ms("dedup.deterministic_dedup", since))
    etl_ran = bool(tracer.durations_ms("etl.apply_rules", since))
    sink_windows = tracer.windows_ms("sinks.", since)
    topk_windows = tracer.windows_ms("similarity.", since)
    for e in execs:
        nodes = e["nodes"]
        csv_rows = 0.0
        for n in nodes:
            m = n["metrics"]
            if _is_csv_scan(n):
                csv_rows += m.get("number of output rows", 0.0)
                add("readers.bytes_read", m.get("size of files read", 0.0))
            elif n["name"] == "Sort" and dedup_ran:
                add("dedup.sort_ms", m.get("sort time", 0.0))
                add("dedup.peak_mem_mb", m.get("peak memory", 0.0) / _MB)
                add("dedup.spill_bytes", m.get("spill size", 0.0))
            elif n["name"] == "MapInArrow":
                add("similarity.py_run_ms", m.get("time to run Python workers", 0.0))
                add("similarity.py_start_ms", m.get("time to start Python workers", 0.0))
                add("similarity.py_init_ms", m.get("time to initialize Python workers", 0.0))
                add("similarity.bytes_to_py", m.get("data sent to Python workers", 0.0))
                add("similarity.bytes_from_py", m.get("data returned from Python workers", 0.0))
                add("similarity.rows_from_py", m.get("number of output rows", 0.0))
            elif n["name"] == _WRITE_NODE and in_windows(e["submitted_ms"], sink_windows):
                add("sinks.files_written", m.get("number of written files", 0.0))
                add("sinks.bytes_written", m.get("written output", 0.0))
        if csv_rows:
            # the stages of this execution that read files are the scans
            scans = [stages[i] for i in e["stages"] if i in stages and stages[i]["input_bytes"] > 0]
            add("readers.rows_out", csv_rows)
            add("readers.scan_tasks", sum(s["tasks"] for s in scans))
            add("readers.scan_ms", sum(s["run_ms"] for s in scans))
        if (
            in_windows(e["submitted_ms"], topk_windows)
            and not any(n["name"] == "MapInArrow" for n in nodes)
        ):
            add("similarity.query_collect_ms", e["duration_ms"])
    if etl_ran:
        out["etl.jobs"] = readout["jobs"]
        out["etl.stages"] = len(stages)
        out["etl.tasks"] = sum(s["tasks"] for s in stages.values())
    out["sinks.write_ms"] = sum(tracer.durations_ms("sinks.write_json", since))
    return out
