"""Per-layer metrics of a traced pass.

Sources: the tracer's spans (wrapped public calls, each with its own
Spark job group), the ``metrics.REGISTRY`` delta over the ingest,
``StreamingQueryProgress.durationMs``, and what each commit of the pass
added, read back from the manifest chain. Spark is lazy, so a span covers
driver-side work plus the jobs it launched itself: executor decode time,
for one, lands in the writer job that materialises the decoded frame.

Per-batch values are means over the pass's non-empty micro-batches.
"""

from __future__ import annotations

import statistics

# name → unit, in BENCHMARK.json order
UNITS = {
    "lake.writer.write_ms": "ms",
    "lake.writer.jobs_per_write": "count",
    "lake.writer.merge_plan_agg_ms": "ms",
    "lake.writer.merge_bloom_probe_ms": "ms",
    "lake.writer.fallbacks": "count",
    "lake.writer.conflict_replans": "count",
    "lake.table.rows_rewritten_per_row_upserted": "ratio",
    "lake.table.write_data_files_ms": "ms",
    "lake.table.harvest_ms": "ms",
    "lake.table.files_added_per_commit": "count",
    "lake.table.manifest_resolves_per_batch": "count",
    "lake.table.read_ms": "ms",
    "lake.table.read_jobs": "count",
    "lake.mor.delete_files_live": "count",
    "lake.maintenance.compactions": "count",
    "lake.maintenance.compact_ms": "ms",
    "lake.maintenance.bytes_rewritten": "bytes",
    "sources.decode_ms": "ms",
    "sources.decode_jobs": "count",
    "sources.dlq_share": "ratio",
    "schema.reconcile_ms": "ms",
    "schema.evolutions": "count",
    "streaming.process_batch_ms": "ms",
    "streaming.jobs_per_batch": "count",
    "streaming.engine_wal_ms": "ms",
    "streaming.engine_plan_ms": "ms",
    "streaming.records_per_batch": "count",
    "streaming.generator_late_ms": "ms",
    "unattributed_ms": "ms",
    "trace.overhead_pct": "%",
}


def _mean(values) -> float:
    values = list(values)
    return statistics.fmean(values) if values else 0.0


def per_layer(workload: str, res, tracer, plain) -> dict:
    """{name: (value, unit, details)} for every name in ``UNITS``."""
    kids = tracer.children()
    batches = tracer.named("streaming.process_batch")
    n = max(1, len(batches))
    in_batch = {s.id for s in batches}

    def under_batch(span) -> bool:
        return tracer.within(span, "streaming.process_batch") or span.id in in_batch

    reg = res.registry or {"operations": {}, "counters": {}}
    ops, counters = reg["operations"], reg["counters"]

    def op_ms(name: str) -> float:
        return ops.get(name, {}).get("total_ms", 0.0)

    writers = [s for s in tracer.outermost("lake.writer.") if under_batch(s)]
    ingest_commits = [c for c in res.commits if c["op"] != "COMPACT"]
    compacts = tracer.named("lake.maintenance.compact")
    decodes = [s for s in tracer.named("sources.") if under_batch(s)]
    reconciles = [s for s in tracer.named("schema.reconcile") if under_batch(s)]
    bench_reads = tracer.named("bench.read")
    table_reads = [s for s in tracer.named("lake.table.read") if tracer.within(s, "bench.read")]
    resolves = [s for s in tracer.named("lake.table.manifest") if under_batch(s)]
    data = [p for p in res.progress if p["numInputRows"] > 0]

    def dur(p, *keys) -> float:
        return sum(float(p["durationMs"].get(k, 0)) for k in keys)

    keyed = workload in ("upsert_catchup", "trickle_mor_readers")
    upserted = res.records if keyed else 0
    traced_p50 = statistics.median(res.batch_latency_ms) if res.batch_latency_ms else 0.0
    plain_p50 = statistics.median(plain.batch_latency_ms) if plain.batch_latency_ms else 0.0

    values = {
        "lake.writer.write_ms": sum(s.ms for s in writers) / n,
        "lake.writer.jobs_per_write": _mean(tracer.inclusive_jobs(s, kids) for s in writers),
        "lake.writer.merge_plan_agg_ms": op_ms("merge.planAgg") / n,
        "lake.writer.merge_bloom_probe_ms": op_ms("merge.bloomProbe") / n,
        "lake.writer.fallbacks": sum(v for k, v in counters.items() if k.endswith("Fallback")),
        "lake.writer.conflict_replans": counters.get("merge.commitConflictReplans", 0),
        "lake.table.rows_rewritten_per_row_upserted": (
            sum(c["rows"] for c in res.commits if c["op"].startswith("MERGE")) / upserted
            if upserted else 0.0
        ),
        "lake.table.write_data_files_ms": op_ms("write.dataFiles") / n,
        "lake.table.harvest_ms": op_ms("write.harvest") / n,
        "lake.table.files_added_per_commit": _mean(c["files"] for c in ingest_commits),
        "lake.table.manifest_resolves_per_batch": len(resolves) / n,
        "lake.table.read_ms": _mean(s.ms for s in table_reads),
        "lake.table.read_jobs": _mean(tracer.inclusive_jobs(s, kids) for s in bench_reads),
        "lake.mor.delete_files_live": res.delete_files_live,
        "lake.maintenance.compactions": len(compacts),
        "lake.maintenance.compact_ms": sum(s.ms for s in compacts),
        "lake.maintenance.bytes_rewritten": sum(
            c["bytes"] for c in res.commits if c["op"] == "COMPACT"
        ),
        "sources.decode_ms": sum(s.ms for s in decodes) / n,
        "sources.decode_jobs": sum(tracer.inclusive_jobs(s, kids) for s in decodes) / n,
        "sources.dlq_share": res.dlq_rows / res.records if res.records else 0.0,
        "schema.reconcile_ms": sum(s.ms for s in reconciles) / n,
        "schema.evolutions": sum(s.counts.get("evolved", 0) for s in reconciles),
        "streaming.process_batch_ms": _mean(s.ms for s in batches),
        "streaming.jobs_per_batch": _mean(tracer.inclusive_jobs(s, kids) for s in batches),
        "streaming.engine_wal_ms": _mean(dur(p, "walCommit", "commitOffsets") for p in data),
        "streaming.engine_plan_ms": _mean(
            dur(p, "latestOffset", "getBatch", "queryPlanning") for p in data
        ),
        "streaming.records_per_batch": _mean(p["numInputRows"] for p in data),
        "streaming.generator_late_ms": max(res.generator_late_ms, default=0.0),
        "unattributed_ms": _mean(
            s.ms - sum(k.ms for k in kids.get(s.id, [])) for s in batches
        ),
        "trace.overhead_pct": 100.0 * (traced_p50 - plain_p50) / plain_p50 if plain_p50 else 0.0,
    }
    details = {
        "streaming.process_batch_ms": {"n": len(batches)},
        "trace.overhead_pct": {
            "traced_batch_p50_ms": traced_p50,
            "untraced_batch_p50_ms": plain_p50,
            "spans": len(tracer.spans),
        },
        "lake.maintenance.compactions": {"registry_compactTable": ops.get("compactTable", {})},
    }
    return {k: (values[k], UNITS[k], details.get(k)) for k in UNITS}
