"""Per-layer metrics of a traced run, derived from its spans and Spark
counters.  ``PER_LAYER`` is the list in BENCHMARK.json, in order.

Each workload's traced run covers every layer: its own phase (the
timed cycle once more, traced) plus a layer sweep of the layers it does
not enter (see worker.search_sweep / worker.pipeline_sweep).
"""

from __future__ import annotations

import statistics

import worker

LAYERS = [
    ("session.start_ms", "ms"),
    ("host.canary_pre_ms", "ms"),
    ("host.canary_post_ms", "ms"),
    ("trace.overhead", "ratio"),
    ("api.bulk_ms", "ms"),
    ("dsl.parse_ms", "ms"),
    ("compiler.compile_ms", "ms"),
    ("catalog.open_ms", "ms"),
    ("engine.search_ms", "ms"),
    ("engine.driver_self_ms", "ms"),
    ("spark.jobs_per_search", "count"),
    ("spark.stages_per_search", "count"),
    ("spark.tasks_per_search", "count"),
    ("spark.job_wall_ms_per_search", "ms"),
    ("spark.executor_run_ms_per_search", "ms"),
    ("spark.executor_cpu_ms_per_search", "ms"),
    ("spark.shuffle_bytes_per_search", "bytes"),
    ("catalog.flush_ms", "ms"),
    ("spark.jobs_per_commit", "count"),
    ("spark.tasks_per_commit", "count"),
    ("spark.shuffle_bytes_per_commit", "bytes"),
    ("builder.build_index_ms", "ms"),
    ("segments.write_segment_ms", "ms"),
    ("segments.count_p50", "count"),
    ("segments.count_max", "count"),
    ("segments.bytes_written_per_input_byte", "ratio"),
    ("merge.runs", "count"),
    ("merge.run_ms", "ms"),
    ("merge.bytes_rewritten", "bytes"),
    ("index.docs_per_s", "docs/s"),
    ("index.bytes_per_input_byte", "ratio"),
    ("plan.python_nodes", "count"),
    ("plan.exchanges", "count"),
    ("plan.broadcasts", "count"),
]
OP_LAYERS = (
    [(f"op.{k}_ms", "ms") for k in worker.PIPELINE_KEYS]
    + [(f"op.{k}.spark_tasks", "count") for k in worker.PIPELINE_KEYS]
    + [(f"op.{k}.spill_bytes", "bytes") for k in worker.PIPELINE_KEYS]
)
PER_LAYER = LAYERS + OP_LAYERS


def _median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def _mean(xs) -> float:
    xs = list(xs)
    return float(sum(xs)) / len(xs) if xs else 0.0


def per_layer_metrics(tracer, env: dict, st: dict, samples: list[float],
                      traced: list[float], after: list[float]) -> dict:
    reqs = tracer.requests
    searches = [r for r in reqs if r.kind == "search"]
    commits = [r for r in reqs if r.kind == "commit"]
    bulks = [r for r in reqs if r.kind == "bulk"]
    ops = [r for r in reqs if r.kind == "op"]
    own = searches if env["workload"] == "search" else ops
    spans = tracer.spans
    writes = [s for s in spans if s.name == "write_segment"]
    merge_writes = [s for s in writes if tracer.under(s, "run_merge")]
    merges = [s for s in spans if s.name == "run_merge"
              and s.info.get("merged")]
    six = st["six"]
    seg_counts = six.segments_after_commit

    def spark(rs, key):
        return [r.spark[key] for r in rs]

    m = {
        "session.start_ms": env["session_start_ms"],
        "host.canary_pre_ms": env["canary_pre_ms"],
        "host.canary_post_ms": env["canary_post_ms"],
        "trace.overhead":
            _mean(traced) / ((_mean(samples) + _mean(after)) / 2) - 1.0,
        "api.bulk_ms": _median(r.span.ms for r in bulks),
        "dsl.parse_ms": _median(tracer.child_ms(r, "parse_search")
                                for r in searches),
        "compiler.compile_ms": _median(tracer.child_ms(r, "Compiler.compile")
                                       for r in searches),
        "catalog.open_ms": _median(tracer.child_ms(r, "IndexCatalog.open")
                                   for r in searches),
        "engine.search_ms": _median(
            tracer.child_ms(r, "FullTextIndex.search") for r in searches),
        "engine.driver_self_ms": _median(
            max(0.0, r.span.ms - r.spark["job_wall_ms"]) for r in searches),
        "spark.jobs_per_search": _mean(spark(searches, "jobs")),
        "spark.stages_per_search": _mean(spark(searches, "stages")),
        "spark.tasks_per_search": _mean(spark(searches, "tasks")),
        "spark.job_wall_ms_per_search": _median(spark(searches,
                                                      "job_wall_ms")),
        "spark.executor_run_ms_per_search": _median(spark(searches,
                                                          "run_ms")),
        "spark.executor_cpu_ms_per_search": _median(spark(searches,
                                                          "cpu_ms")),
        "spark.shuffle_bytes_per_search": _mean(spark(searches,
                                                      "shuffle_bytes")),
        "catalog.flush_ms": _median(tracer.child_ms(r, "IndexCatalog.flush")
                                    for r in commits),
        "spark.jobs_per_commit": _mean(spark(commits, "jobs")),
        "spark.tasks_per_commit": _mean(spark(commits, "tasks")),
        "spark.shuffle_bytes_per_commit": _mean(spark(commits,
                                                      "shuffle_bytes")),
        "builder.build_index_ms": _median(
            s.ms for s in spans if s.name == "build_index"
            and not tracer.under(s, "build_index")),
        "segments.write_segment_ms": _median(
            s.ms for s in writes if s not in merge_writes),
        "segments.count_p50": _median(seg_counts),
        "segments.count_max": float(max(seg_counts)),
        "segments.bytes_written_per_input_byte":
            sum(s.info.get("bytes", 0) for s in writes) / six.input_bytes,
        "merge.runs": float(sum(s.info["merged"] for s in merges)),
        "merge.run_ms": sum(s.ms for s in merges),
        "merge.bytes_rewritten": float(sum(s.info.get("bytes", 0)
                                           for s in merge_writes)),
        "index.docs_per_s": st["docs_per_s"],
        "index.bytes_per_input_byte": st["bytes_ratio"],
        "plan.python_nodes": _mean(spark(own, "python_nodes")),
        "plan.exchanges": _mean(spark(own, "exchanges")),
        "plan.broadcasts": _mean(spark(own, "broadcasts")),
    }
    for k in worker.PIPELINE_KEYS:
        mine = [r for r in ops if r.label == k]
        m[f"op.{k}_ms"] = _median(r.span.ms for r in mine)
        m[f"op.{k}.spark_tasks"] = _mean(spark(mine, "tasks"))
        m[f"op.{k}.spill_bytes"] = _mean(spark(mine, "spill_bytes"))
    units = dict(PER_LAYER)
    return {name: {"value": float(m[name]), "unit": units[name]}
            for name, _unit in PER_LAYER}
