"""Per-layer metrics of a traced run, named by the engine's modules.

Every traced run reports every metric here; a layer the workload does
not exercise reads 0. Times and counts are means per operation of that
layer (per pipeline run, per query, per micro-batch or per replay).
"""

from __future__ import annotations

from perfbench.spans import JobCounters

PLAN_FAMILIES = ("relational", "events", "text", "similarity", "multimodal")
PLAN_FIELDS = {
    "build_s": "s", "exec_s": "s", "jobs": "count", "tasks": "count",
    "shuffle_read_bytes": "bytes", "shuffle_write_bytes": "bytes", "spill_bytes": "bytes",
    "gc_s": "s", "busy_share": "ratio", "failed_tasks": "count",
}
STREAM_FIELDS = {
    "trigger_s": "s", "add_batch_s": "s", "commit_s": "s", "planning_s": "s", "get_batch_s": "s",
    "state_rows": "count", "state_memory_bytes": "bytes", "watermark_dropped_rows": "count",
    "batches": "count",
}
# Stage RDD scope of the scrape parse (sources.scrape runs it in mapInPandas).
PARSE_SCOPE = "MapInPandas"

UNITS: dict[str, str] = {
    "session.get_spark_s": "s", "session.first_scan_s": "s",
    "sources.ingest_s": "s", "sources.parse_tasks": "count", "sources.parse_amplification": "ratio",
    "sources.rows_out": "count", "sources.scan_bytes": "bytes",
    "operators.transform_s": "s", "operators.rows_in": "count", "operators.rows_out": "count",
    "operators.keep_ratio": "ratio",
    "sinks.load_s": "s", "sinks.jobs": "count", "sinks.bytes_written": "bytes",
    "pipeline.jobs": "count", "pipeline.self_s": "s",
    **{f"plans.{fam}.{k}": u for fam in PLAN_FAMILIES for k, u in PLAN_FIELDS.items()},
    **{f"streaming.{k}": u for k, u in STREAM_FIELDS.items()},
    "trace.items_per_s_ratio": "ratio", "trace.layered_items_per_s_ratio": "ratio",
}


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def per_layer(tracer, groups: dict[str, JobCounters], wl, setup: dict, cores: int,
              rates: dict[str, float]) -> dict:
    """name -> (value, unit), from the spans of the traced phases and the
    items per second of every phase."""
    spans = tracer.spans
    kids: dict[int, list] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)

    def counters(span, deep: bool = True) -> JobCounters:
        total = JobCounters()
        todo = [span]
        while todo:
            s = todo.pop()
            total.add(groups.get(tracer.group_id(s), JobCounters()))
            if deep:
                todo += kids.get(s.span_id, [])
        return total

    def named(name: str, phase: str = "layered") -> list:
        return [s for s in spans if s.name == name and s.phase == phase]

    def child(span, name: str):
        return next((c for c in kids.get(span.span_id, []) if c.name == name), None)

    v: dict[str, float] = dict.fromkeys(UNITS, 0.0)
    v["session.get_spark_s"] = setup["get_spark_s"]
    v["session.first_scan_s"] = setup["first_scan_s"]
    # tracing overhead: the same passes with spans and the event log on
    # over the passes with both off
    v["trace.items_per_s_ratio"] = rates["plain"] / rates["untraced"] if rates["untraced"] else 0.0
    # materialising each layer in turn against the plain passes: in
    # etl_products the re-parsing it avoids, elsewhere the child spans' cost
    v["trace.layered_items_per_s_ratio"] = rates["layered"] / rates["plain"] if rates["plain"] else 0.0

    # etl_products: the plain phase runs the pipeline as it is (its real
    # parse-stage shape), the layered phase materialises each layer in turn.
    plain = [s for s in named("op", "plain") if s.attrs.get("kind") == "etl"]
    if plain:
        parse = [sum(n for n, scopes in counters(s).stages.values() if PARSE_SCOPE in scopes)
                 for s in plain]
        v["sources.parse_tasks"] = _mean(parse)
        v["sources.parse_amplification"] = _mean(parse) / max(1, wl.input_partitions)
    # a failed operation may lack some child spans; it feeds no layer metric
    runs = [r for r in named("pipeline")
            if all(child(r, n) for n in ("sources", "operators", "sinks"))]
    if runs:
        src = [child(r, "sources") for r in runs]
        ops = [child(r, "operators") for r in runs]
        snk = [child(r, "sinks") for r in runs]
        v["sources.ingest_s"] = _mean(s.seconds for s in src)
        v["sources.rows_out"] = _mean(s.attrs["rows_out"] for s in src)
        v["operators.transform_s"] = _mean(s.seconds for s in ops)
        v["operators.rows_in"] = _mean(s.attrs["rows_in"] for s in ops)
        v["operators.rows_out"] = _mean(s.attrs["rows_out"] for s in ops)
        v["operators.keep_ratio"] = v["operators.rows_out"] / max(1.0, v["operators.rows_in"])
        v["sinks.load_s"] = _mean(s.seconds for s in snk)
        v["sinks.jobs"] = _mean(counters(s).jobs for s in snk)
        v["sinks.bytes_written"] = _mean(counters(s).output_bytes for s in snk)
        v["pipeline.jobs"] = _mean(counters(r, deep=False).jobs for r in runs)
        v["pipeline.self_s"] = _mean(tracer.self_seconds(r) for r in runs)

    # analytics_mix: one span per query, with build and exec children.
    plan_ops = 0
    scan_bytes = 0
    for fam in PLAN_FAMILIES:
        qs = [q for q in named(f"plans.{fam}") if child(q, "build") and child(q, "exec")]
        if not qs:
            continue
        cs = [counters(q) for q in qs]
        plan_ops += len(qs)
        scan_bytes += sum(c.input_bytes for c in cs)
        p = f"plans.{fam}."
        v[p + "build_s"] = _mean(child(q, "build").seconds for q in qs)
        v[p + "exec_s"] = _mean(child(q, "exec").seconds for q in qs)
        for k in ("jobs", "tasks", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
                  "gc_s", "failed_tasks"):
            v[p + k] = _mean(getattr(c, k) for c in cs)
        v[p + "busy_share"] = sum(c.run_s for c in cs) / (sum(q.seconds for q in qs) * cores)
    if plan_ops:
        v["sources.scan_bytes"] = scan_bytes / plan_ops

    replays = [r for r in getattr(wl, "progress", []) if r["phase"] == "layered"]
    batches = [b for r in replays for b in r["batches"]]
    if batches:
        def dur(b, *keys):
            return sum(b["durationMs"].get(k, 0) for k in keys) / 1000

        def state(b, key):
            return sum(op.get(key, 0) for op in b.get("stateOperators", []))

        v["streaming.trigger_s"] = _mean(dur(b, "triggerExecution") for b in batches)
        v["streaming.add_batch_s"] = _mean(dur(b, "addBatch") for b in batches)
        v["streaming.commit_s"] = _mean(dur(b, "walCommit", "commitOffsets") for b in batches)
        v["streaming.planning_s"] = _mean(dur(b, "queryPlanning") for b in batches)
        v["streaming.get_batch_s"] = _mean(dur(b, "getBatch", "latestOffset") for b in batches)
        # state at the end of each replay, summed over its state operators
        v["streaming.state_rows"] = _mean(state(r["batches"][-1], "numRowsTotal") for r in replays)
        v["streaming.state_memory_bytes"] = _mean(
            state(r["batches"][-1], "memoryUsedBytes") for r in replays)
        v["streaming.watermark_dropped_rows"] = _mean(
            sum(state(b, "numRowsDroppedByWatermark") for b in r["batches"]) for r in replays)
        v["streaming.batches"] = len(batches) / len(replays)
    return {k: (v[k], UNITS[k]) for k in UNITS}
