"""Metric names and the per-layer report of a traced run.

Layers are named after the engine's modules. A layer's ``*_s`` time is
the self time of its spans (span wall minus child spans) over the
measured phase; its Spark figures come from the stages whose jobs ran
under its spans' job groups. Every workload prints every name; a layer
a workload does not exercise reports 0. A figure of a layer the
workload does exercise but that has no sample is NaN, which the runner
reports as a failed run.
"""

from __future__ import annotations

import re

from stats import median
from spans import StatusStore

END_TO_END = ("setup_s", "throughput_per_s", "op_p50_ms", "cpu_ms_per_unit")

#: the per-layer metrics of the benchmark's workloads (BENCHMARK.json)
PER_LAYER = {
    "sources.read_s": "s", "sources.rows": "count", "sources.bytes": "B",
    "sources.archives_skipped": "count",
    "ingest.busy_s": "s", "ingest.rows": "count",
    "ingest.write_share": "ratio",
    "store.merge_s": "s", "store.append_s": "s", "store.compact_s": "s",
    "store.commit_gate_s": "s", "store.compactions": "count",
    "store.files_per_bucket_max": "count", "store.rows_appended": "count",
    "store.tombstones": "count",
    "etl.busy_s": "s", "etl.cpu_s": "s",
    "etl.codegen_subtrees": "count", "etl.codegen_over_limit": "count",
    "etl.max_method_bytes": "B",
    "streaming.upsert_s": "s", "streaming.rows": "count",
    "harvest.freshness_p50_s": "s",
    "harvest.store_bytes_per_input_byte": "ratio",
    "query.busy_s": "s", "query.compile_ms": "ms",
    "query.jobs_per_request": "count",
    "query.rows_scanned_per_row_returned": "ratio",
    "query.files_read_per_search": "count",
    "export.write_s": "s", "export.zip_bytes": "B", "export.rows": "count",
    "export.reuse_share": "ratio",
    "search.lookup_p50_ms": "ms", "search.download_p50_s": "s",
    "search.repeat_share": "ratio",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.executor_run_s": "s", "spark.executor_cpu_s": "s",
    "spark.wait_s": "s", "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "B", "spark.spill_bytes": "B",
    "codegen.subtrees": "count", "codegen.over_limit": "count",
    "codegen.max_method_bytes": "B",
    "trace.self_time_share": "ratio", "trace.overhead_s": "s",
    "trace.spans": "count", "process.peak_rss_mb": "MB",
}

#: span name -> the time metric its self time adds to
_TIME_OF_SPAN = {
    "sources.scan": "sources.read_s",
    "sources.open": "sources.read_s",
    "ingest.kernel": "ingest.busy_s",
    "store.merge": "store.merge_s",
    "store.append": "store.append_s",
    "store.compact": "store.compact_s",
    "store.commit_gate": "store.commit_gate_s",
    "etl.enrich": "etl.busy_s",
    "etl.incremental": "etl.busy_s",
    "sink.write_index": "sink.write_s",
    "streaming.upsert": "streaming.upsert_s",
    "query.search": "query.busy_s",
    "query.lookup": "query.busy_s",
    "export.write_dwca": "export.write_s",
}

_NUM = re.compile(r"-?\d[\d,]*\.?\d*")
_UNIT = {"ns": 1e-9, "us": 1e-6, "ms": 1e-3, "s": 1.0, "m": 60.0,
         "h": 3600.0}


def metric_total(text: str) -> float:
    """The total of a SQL metric string, in base units: '1,234',
    '2.1 s', or 'total (min, med, max (stageId: taskId))\\n12.0 ms
    (...)' (the total is the first figure of the last line)."""
    line = text.strip().split("\n")[-1]
    m = _NUM.search(line)
    if not m:
        return 0.0
    v = float(m.group(0).replace(",", ""))
    rest = line[m.end():].split()
    return v * _UNIT.get(rest[0], 1.0) if rest else v


def _stage_totals(stages: list[dict]) -> dict:
    out = {"stages": 0, "tasks": 0, "run": 0.0, "cpu": 0.0, "gc": 0.0,
           "shuffle": 0, "spill": 0}
    for st in stages:
        out["stages"] += 1
        out["tasks"] += st["numTasks"]
        out["run"] += st["executorRunTime"] / 1e3
        out["cpu"] += st["executorCpuTime"] / 1e9
        out["gc"] += st.get("jvmGcTime", 0) / 1e3
        out["shuffle"] += st.get("shuffleWriteBytes", 0)
        out["spill"] += st.get("memoryBytesSpilled", 0) + st.get(
            "diskBytesSpilled", 0
        )
    return out


def per_layer(spark, tracer, w, measured: float) -> dict:
    out = {name: 0.0 for name in PER_LAYER}

    spans = tracer.measured()
    selfs = tracer.self_times()
    for name, t in selfs.items():
        if name in _TIME_OF_SPAN:
            out[_TIME_OF_SPAN[name]] += t
    out["trace.spans"] = len(spans)
    out["trace.self_time_share"] = sum(selfs.values()) / measured
    out["trace.overhead_s"] = tracer.overhead

    # Spark's stage metrics, attributed to spans through job groups
    store = StatusStore(spark)
    store.settle()
    span_of = {s.sid: s.name for s in spans}
    job_span: dict[int, str] = {}
    stage_span: dict[int, str] = {}
    for j in store.jobs():
        name = span_of.get(j.get("jobGroup"))
        if name is not None:
            job_span[j["jobId"]] = name
            for sid in j["stageIds"]:
                stage_span[sid] = name
    by_span: dict[str, list] = {}
    for st in store.stages():
        name = stage_span.get(st["stageId"])
        if name is not None and st["status"] == "COMPLETE":
            by_span.setdefault(name, []).append(st)
    tot = _stage_totals([s for v in by_span.values() for s in v])
    out.update({
        "spark.jobs": len(job_span),
        "spark.stages": tot["stages"], "spark.tasks": tot["tasks"],
        "spark.executor_run_s": tot["run"],
        "spark.executor_cpu_s": tot["cpu"],
        "spark.wait_s": tot["run"] - tot["cpu"],
        "spark.gc_s": tot["gc"],
        "spark.shuffle_write_bytes": tot["shuffle"],
        "spark.spill_bytes": tot["spill"],
    })
    out["etl.cpu_s"] = _stage_totals(
        [s for n, v in by_span.items() if n.startswith("etl.") for s in v]
    )["cpu"]

    # scan metrics of the searches' SQL executions
    scanned = files_read = 0.0
    for ex in store.sql():
        jids = ex.get("successJobIds", []) + ex.get("failedJobIds", [])
        if not any(job_span.get(j) == "query.search" for j in jids):
            continue
        for node in ex.get("nodes", []):
            if node["nodeName"].startswith("Scan"):
                ms = {m["name"]: m["value"] for m in node.get("metrics", [])}
                scanned += metric_total(ms.get("number of output rows", "0"))
                files_read += metric_total(
                    ms.get("number of files read", "0")
                )

    # the workload's own counters and samples
    lay = w.layer
    for k, v in lay.items():
        if k in out:
            out[k] = v
    if lay.get("ingest.rows"):
        out["ingest.write_share"] = lay.get("ingest.writes", 0) / lay[
            "ingest.rows"
        ]
    if w.name == "search":
        searches = w.samples.get("search_s", [])
        out["query.jobs_per_request"] = sum(
            1 for n in job_span.values() if n.startswith("query.")
        ) / max(w.units, 1)
        out["query.rows_scanned_per_row_returned"] = scanned / max(
            sum(w.hit_log), 1
        )
        out["query.files_read_per_search"] = files_read / max(
            len(searches), 1
        )
        out["query.compile_ms"] = 1000 * median(w.compile_log)
        fresh, reused = lay.get("export.fresh", 0), lay.get("export.reused", 0)
        if fresh + reused:
            out["export.reuse_share"] = reused / (fresh + reused)
    # the workload's own figures; a missing sample stays NaN, so the
    # runner marks the run rather than reporting a best-case 0
    for k, v in w.metrics(measured).items():
        if f"{w.name}.{k}" in out:
            out[f"{w.name}.{k}"] = v[0]

    for layer, c in tracer.codegen().items():
        out["codegen.subtrees"] += c["subtrees"]
        out["codegen.over_limit"] += c["over_limit"]
        out["codegen.max_method_bytes"] = max(
            out["codegen.max_method_bytes"], c["max_bytes"]
        )
        if layer == "etl":
            out["etl.codegen_subtrees"] = c["subtrees"]
            out["etl.codegen_over_limit"] = c["over_limit"]
            out["etl.max_method_bytes"] = c["max_bytes"]
    return {k: {"value": float(v), "unit": PER_LAYER[k]}
            for k, v in out.items()}
