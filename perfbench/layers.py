"""Per-layer metrics of a traced run, named by the engine module they time.

Every workload reports every metric; a layer the workload does not exercise
reads 0. Times and counts are per operation of the workload (per call for
``batch`` kinds, per request, per ``build_index`` for the ``index.*`` build
phases, which come from the run's set-up).
"""

from __future__ import annotations

import statistics
from pathlib import Path

from perfbench import inputs
from perfbench.system import dir_bytes
from perfbench.tracing import call_site_kind, job_totals, parse_event_log

SPARK_FIELDS = {
    "jobs": "count", "stages": "count", "tasks": "count", "task_run_s": "s",
    "task_cpu_s": "s", "python_stage_s": "s", "scan_stage_s": "s",
    "shuffle_read_bytes": "bytes", "failed_tasks": "count",
}
#: op kind → layer prefix of its entry point
BATCH_KINDS = {
    "search_batch": "query.engine.search_batch",
    "search_batch_filtered": "query.engine.search_batch_filtered",
    "search_conj_batch": "query.boolean.search_conj_batch",
}
SPARK_KINDS = list(BATCH_KINDS) + ["request"]
#: build phase → the job description build_index gives it
BUILD_PHASES = {
    "index.docs": "index_build: docs",
    "index.segments": "index_build: segments",
    "index.merge": "index_build: merge",
    "index.stats.termdf": "index_build: termdf",
}
ARTIFACTS = {"docs": "docs.parquet", "segments": "segments", "index": "index",
             "termdf": "termdf", "doclen": "doclen"}
REQUEST_PARTS = ["hits", "numfound", "facets", "other"]


def _units() -> dict[str, str]:
    u = {
        "query.exact.query_terms.ms": "ms",
        "query.engine.term_dfs.ms": "ms",
        "query.engine.term_dfs.calls": "count",
        "query.engine.term_dfs.new_terms": "count",
        "query.engine.fetch.ms": "ms",
        "query.engine.fetch.rows": "count",
        "query.engine.fetch.postings": "count",
        "query.wand.topk_rows.ms": "ms",
        "query.wand.lookup_on": "count",
        "query.boolean.topk_conj.ms": "ms",
    }
    for prefix in BATCH_KINDS.values():
        u[f"{prefix}.plan_ms"] = "ms"
        u[f"{prefix}.run_ms"] = "ms"
        u[f"{prefix}.qps"] = "1/s"
    for kind in SPARK_KINDS:
        for f, unit in SPARK_FIELDS.items():
            u[f"spark.{kind}.{f}"] = unit
    u.update({
        "plans.model.build.ms": "ms",
        "operators.executor.execute.ms": "ms",
        "operators.executor.spark_jobs": "count",
        "operators.executor.fq_reuse_ratio": "ratio",
    })
    for part in REQUEST_PARTS:
        u[f"operators.executor.{part}.jobs"] = "count"
        u[f"operators.executor.{part}.ms"] = "ms"
    for phase in BUILD_PHASES:
        u[f"{phase}.s"] = "s"
        u[f"{phase}.tasks"] = "count"
        u[f"{phase}.shuffle_write_bytes"] = "bytes"
        u[f"{phase}.spill_bytes"] = "bytes"
    u["index.builder.driver_s"] = "s"
    for a in ARTIFACTS:
        u[f"index.bytes.{a}"] = "bytes"
    u.update({
        "op.samples": "count",
        "trace.coverage": "ratio",
        "trace.overhead_pct": "%",
        "trace.traced_p50_ms": "ms",
        "trace.untraced_p50_ms": "ms",
        "trace.spans": "count",
        "error_rate": "ratio",
    })
    return u


UNITS = _units()


def per_layer(workload: str, wl, tracer, ops: list[dict], events: Path,
              index_dir: Path, error_rate: float) -> tuple[dict, dict]:
    """(metrics for the result line, fuller table for the raw file)."""
    m = {k: 0.0 for k in UNITS}
    jobs, stages = parse_event_log(events)
    good = [o for o in ops if not o["error"]]
    traced = [o for o in good if o["traced"]]
    traced_ids = {o["i"] for o in traced}
    n = max(1, len(traced))
    selfs = tracer.self_times(traced_ids)

    def per_op_ms(*names: str) -> float:
        return 1000 * sum(selfs.get(x, 0.0) for x in names) / n

    # point layers (driver-local, zero Spark jobs)
    m["query.exact.query_terms.ms"] = per_op_ms("query_terms")
    m["query.engine.term_dfs.ms"] = per_op_ms("term_dfs")
    m["query.engine.term_dfs.calls"] = tracer.count("term_dfs", traced_ids) / n
    m["query.engine.term_dfs.new_terms"] = tracer.attr_sum("term_dfs", "new_terms",
                                                           traced_ids) / n
    if workload == "point":
        m["query.engine.fetch.ms"] = per_op_ms("search_local", "search_conj_local")
        for name in ("topk_rows", "topk_conj"):
            for key in ("rows", "postings"):
                m[f"query.engine.fetch.{key}"] += tracer.attr_sum(name, key, traced_ids) / n
        m["query.wand.topk_rows.ms"] = per_op_ms("topk_rows")
        m["query.boolean.topk_conj.ms"] = per_op_ms("topk_conj")
        m["query.wand.lookup_on"] = sum(o["lookup_on"] for o in traced) / n

    # Spark work per operation kind, from the event log's job groups
    by_group: dict[str, list] = {}
    for j in jobs:
        by_group.setdefault(j.group, []).append(j)
    op_jobs = {o["i"]: by_group.get(f"op-{o['i']}", []) for o in good}
    for kind in SPARK_KINDS:
        kind_ops = [o for o in good if o["kind"] == kind]
        if not kind_ops:
            continue
        tot = job_totals([j for o in kind_ops for j in op_jobs[o["i"]]], stages)
        for f in SPARK_FIELDS:
            m[f"spark.{kind}.{f}"] = tot.get(f, 0.0) / len(kind_ops)
    for kind, prefix in BATCH_KINDS.items():
        kind_ops = [o for o in good if o["kind"] == kind]
        if not kind_ops:
            continue
        m[f"{prefix}.qps"] = (sum(o["units"] for o in kind_ops)
                              / sum(o["s"] for o in kind_ops))
        ids = {o["i"] for o in kind_ops if o["traced"]}
        if ids:
            entry = "search_conj_batch" if kind == "search_conj_batch" else "search_batch"
            spans = [s for s in tracer.spans if s.op in ids and s.parent < 0]
            m[f"{prefix}.plan_ms"] = 1000 * sum(
                s.dur for s in spans if s.name == entry) / len(ids)
            m[f"{prefix}.run_ms"] = 1000 * sum(
                s.dur for s in spans if s.name == "collect") / len(ids)

    requests = [o for o in good if o["kind"] == "request"]
    if requests:
        nr = max(1, sum(o["traced"] for o in requests))
        m["plans.model.build.ms"] = 1000 * selfs.get("model.build", 0.0) / nr
        m["operators.executor.execute.ms"] = 1000 * selfs.get("executor.execute", 0.0) / nr
        m["operators.executor.spark_jobs"] = statistics.mean(o["jobs"] for o in requests)
        for o in requests:
            # a job without a call site is named by its result stage
            # (DataFrame.count has none); adaptive execution's shuffle-stage
            # jobs serve the next job of the request
            part = "other"
            for j in reversed(op_jobs[o["i"]]):
                last = stages.get(j.stage_ids[-1]) if j.stage_ids else None
                site = j.call_site or (last.name if last is not None else "")
                if site and "withThreadLocalCaptured" not in site:
                    part = call_site_kind(site)
                m[f"operators.executor.{part}.jobs"] += 1 / len(requests)
                m[f"operators.executor.{part}.ms"] += 1000 * j.wall_s / len(requests)
        ran = [wl.request.stream[wl.request_index(o["i"])] for o in requests]
        m["operators.executor.fq_reuse_ratio"] = inputs.fq_reuse_ratio(
            ran, inputs.FILTER_CACHE_SIZE)

    # build phases, from the set-up's build_index call
    builds = [s for s in tracer.spans if s.name == "build_index"]
    nb = max(1, len(builds))
    phase_wall = 0.0
    for phase, label in BUILD_PHASES.items():
        pj = [j for j in jobs if (j.description or "").startswith(label)]
        tot = job_totals(pj, stages)
        m[f"{phase}.s"] = tot.get("wall_s", 0.0) / nb
        m[f"{phase}.tasks"] = tot.get("tasks", 0.0) / nb
        m[f"{phase}.shuffle_write_bytes"] = tot.get("shuffle_write_bytes", 0.0) / nb
        m[f"{phase}.spill_bytes"] = tot.get("spill_bytes", 0.0) / nb
        phase_wall += tot.get("wall_s", 0.0)
    m["index.builder.driver_s"] = (sum(s.dur for s in builds) - phase_wall) / nb
    for a, sub in ARTIFACTS.items():
        p = Path(index_dir) / sub
        m[f"index.bytes.{a}"] = float(dir_bytes(p)) if p.exists() else 0.0

    # coverage and overhead
    roots = [s for s in tracer.spans if s.op in traced_ids and s.parent < 0]
    covered = sum(s.dur for s in roots)
    m["trace.coverage"] = covered / max(1e-12, sum(o["s"] for o in traced))
    blocks: dict[int, list] = {}
    for o in good:
        blocks.setdefault(o["i"] // wl.period, []).append(o)
    # block 0 still pays first-call costs, so it is left out of both sides
    full = [b for n, b in blocks.items() if len(b) == wl.period and n > 0]
    t_lat = [sum(o["s"] for o in b) for b in full if b[0]["traced"]]
    u_lat = [sum(o["s"] for o in b) for b in full if not b[0]["traced"]]
    if t_lat and u_lat:
        t50, u50 = statistics.median(t_lat), statistics.median(u_lat)
        m["trace.traced_p50_ms"] = 1000 * t50
        m["trace.untraced_p50_ms"] = 1000 * u50
        m["trace.overhead_pct"] = 100 * (t50 - u50) / u50
    m["trace.spans"] = float(len(tracer.spans))
    m["op.samples"] = float(len(good))
    m["error_rate"] = error_rate

    table = {
        "metrics": {k: {"value": v, "unit": UNITS[k]} for k, v in m.items()},
        "self_ms_per_op": {k: 1000 * v / n for k, v in sorted(selfs.items())},
        "jobs": [{"id": j.id, "group": j.group, "description": j.description,
                  "call_site": j.call_site, "wall_s": j.wall_s,
                  "stages": j.stage_ids} for j in jobs],
        "stages": {sid: {"name": s.name, "tasks": s.tasks, "wall_s": s.wall_s,
                         "run_s": s.run_s, "cpu_s": s.cpu_s,
                         "python": s.python, "scan": s.scan,
                         "nodes": sorted(s.nodes)} for sid, s in stages.items()},
    }
    return m, table
