"""Workload drivers: set-up, warm-up, the measured pass and the gate.

Every pass feeds the production sink the way ``IngestPipeline.start``
wires it: a file-stream stand-in for Kafka (the Kafka jar is absent)
into ``writeStream.foreachBatch(IngestPipeline.process_batch)`` with a
checkpoint and a processing-time trigger of 0 s (run back to back).

- closed loop (``upsert_catchup``, ``append_fanout_drift``): the whole
  backlog is staged before the query starts; one file per trigger
  (``maxFilesPerTrigger=1``, the ``maxOffsetsPerTrigger`` analogue).
  Every record is due when the query starts. A fixed set of reads runs
  once the backlog has drained.
- open loop (``trickle_mor_readers``): a generator thread publishes one
  staged file per due time, with no per-trigger cap, while a reader
  thread issues point lookups and grouped aggregates on its own fixed
  schedule. Records and reads are timed from their due times.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import statistics
import threading
import time
from dataclasses import dataclass, field

from . import gate, gen
from .host import RssSampler

TRIGGER_SECONDS = 0
# closed-loop reads after a catch-up: two point lookups per grouped
# aggregate, so the median sits among point lookups and the tail (ten
# samples beyond it) among aggregates
CATCHUP_READS = 36
WARMUP_BATCHES = 2
WARMUP_READS = 6
# the staged envelope fields, as a static DataFrame
ENVELOPE_DDL = "topic string, partition int, offset bigint, value string"


@dataclass
class Sink:
    """Connector configuration of one workload (printed in the stamp)."""

    topic2table: dict
    tables: dict  # table → TableSpec kwargs
    max_files_per_trigger: int | None  # None: no per-trigger cap

    def config(self):
        from ducklake_kafka_connect_spark.streaming.ingest import IngestConfig, TableSpec

        return IngestConfig(
            topic2table=dict(self.topic2table),
            tables={t: TableSpec(**kw) for t, kw in self.tables.items()},
        )

    def describe(self) -> dict:
        return {
            "trigger": f"processingTime {TRIGGER_SECONDS} s",
            "max_files_per_trigger": self.max_files_per_trigger,
            "topic2table": self.topic2table,
            "tables": {
                t: {
                    "merge_mode": kw.get("merge_mode") or "copy-on-write (default)",
                    "partition_by": kw.get("partition_by"),
                    "id_columns": kw.get("id_columns", []),
                }
                for t, kw in self.tables.items()
            },
        }


SINKS = {
    "upsert_catchup": Sink(
        {"f1_results": "results"},
        {
            "results": dict(
                id_columns=["id"],
                partition_by="month(created_at)",
                auto_create=True,
                merge_mode="copy-on-write",
            )
        },
        max_files_per_trigger=1,
    ),
    "append_fanout_drift": Sink(
        {"orders_web": "orders", "orders_app": "orders", "clicks": "clicks"},
        {"orders": dict(auto_create=True), "clicks": dict(auto_create=True)},
        max_files_per_trigger=1,
    ),
    "trickle_mor_readers": Sink(
        {"wide_cdc": "wide"},
        {"wide": dict(id_columns=["id"], auto_create=True, merge_mode="merge-on-read")},
        max_files_per_trigger=None,
    ),
}


def is_open_loop(workload: str) -> bool:
    return SINKS[workload].max_files_per_trigger is None


# ---------------------------------------------------------------- set-up


@dataclass
class Prepared:
    """One set-up: staged inputs plus an empty or preloaded catalog."""

    inputs: gen.Inputs
    root: str
    files: list  # staged paths, in batch order
    input_bytes: int

    @property
    def lake(self) -> str:
        return os.path.join(self.root, "lake")

    @property
    def src(self) -> str:
        return os.path.join(self.root, "src")

    @property
    def checkpoint(self) -> str:
        return os.path.join(self.root, "checkpoint")


def setup(spark, workload: str, seed: int, seconds: float, scale: str, root: str) -> Prepared:
    """Generate and stage the inputs, create the catalog and preload the
    target table. This is what ``setup_s`` times."""
    from ducklake_kafka_connect_spark.lake import LakeCatalog

    inputs = gen.generate(workload, seed, seconds, scale)
    os.makedirs(root)
    staged = os.path.join(root, "staged" if is_open_loop(workload) else "src")
    files = gen.stage(inputs, staged, base_mtime=time.time() - 86_400)
    os.makedirs(os.path.join(root, "src"), exist_ok=True)
    catalog = LakeCatalog(spark, os.path.join(root, "lake"))
    if workload == "upsert_catchup":
        _preload_through_sink(spark, catalog, workload, inputs)
    elif workload == "trickle_mor_readers":
        _preload_mor(spark, catalog, inputs, root)
    return Prepared(inputs, root, files, sum(os.path.getsize(f) for f in files))


def _preload_through_sink(spark, catalog, workload: str, inputs: gen.Inputs) -> None:
    """Initial load through the same sink, as one static batch."""
    from ducklake_kafka_connect_spark.streaming.ingest import IngestPipeline

    topic = next(iter(SINKS[workload].topic2table))
    n = len(inputs.preload)
    rows = [(topic, 0, i - n, json.dumps(r)) for i, r in enumerate(inputs.preload)]
    IngestPipeline(catalog, SINKS[workload].config()).process_batch(
        spark.createDataFrame(rows, ENVELOPE_DDL)
    )


def _preload_mor(spark, catalog, inputs: gen.Inputs, root: str) -> None:
    """The preload goes through a Parquet file, which is much faster to
    hand to Spark than 100k × 26 driver-side values."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from ducklake_kafka_connect_spark.lake import LakeWriter

    spec = SINKS["trickle_mor_readers"].tables["wide"]
    path = os.path.join(root, "preload.parquet")
    pq.write_table(pa.table({c: inputs.preload[c] for c in inputs.columns["wide"]}), path)
    LakeWriter(
        catalog.table("wide"), pk=spec["id_columns"], merge_mode=spec["merge_mode"]
    ).write(spark.read.parquet(path))


def warm_up(spark, workload: str, scratch: Prepared) -> None:
    """Warm the workload's code paths on a scratch set-up (one the
    measured passes do not use): its first staged batches through
    ``process_batch`` — merges on keyed tables — and a few reads."""
    from ducklake_kafka_connect_spark.lake import LakeCatalog
    from ducklake_kafka_connect_spark.streaming.ingest import IngestPipeline

    catalog = LakeCatalog(spark, scratch.lake)
    pipeline = IngestPipeline(catalog, SINKS[workload].config())
    for epoch, batch in enumerate(scratch.inputs.batches[:WARMUP_BATCHES]):
        rows = [(e["topic"], e["partition"], e["offset"], e["value"]) for e in batch.envelopes]
        pipeline.process_batch(spark.createDataFrame(rows, ENVELOPE_DDL), epoch)
    Reads(spark, catalog, workload, scratch.inputs).closed_loop(WARMUP_READS, PassResult())


# ---------------------------------------------------------------- the pass


@dataclass
class PassResult:
    batches: list = field(default_factory=list)  # (epoch, start, end, ok)
    progress: list = field(default_factory=list)  # dicts
    batch_latency_ms: list = field(default_factory=list)
    freshness_ms: list = field(default_factory=list)
    read_latency_ms: list = field(default_factory=list)
    generator_late_ms: list = field(default_factory=list)
    reads: int = 0
    reads_failed: int = 0
    batches_failed: int = 0
    gate_checks: int = 0
    gate_failed: int = 0
    problems: list = field(default_factory=list)  # messages of every failure
    records: int = 0
    ingest_wall_s: float = 0.0
    input_bytes: int = 0
    bytes_written: int = 0
    live_files: int = 0
    delete_files_live: int = 0
    dlq_rows: int = 0
    peak_rss_mb: float = 0.0
    error: str | None = None
    registry: dict | None = None  # REGISTRY snapshot (traced pass)
    commits: list = field(default_factory=list)  # one dict per commit of the pass
    phases_s: dict = field(default_factory=dict)  # where the pass's time went

    @property
    def attempted(self) -> int:
        return len(self.batches) + self.reads + self.gate_checks

    @property
    def failed(self) -> int:
        return self.batches_failed + self.reads_failed + self.gate_failed


def _parquet_files(root: str) -> set:
    return set(glob.glob(os.path.join(root, "**", "*.parquet"), recursive=True))


def _file_batches(checkpoint: str) -> dict:
    """staged file name → micro-batch id, from the file source's own log."""
    out = {}
    for p in glob.glob(os.path.join(checkpoint, "sources", "0", "*")):
        with open(p) as fh:
            for line in fh:
                line = line.strip()
                if line.startswith("{"):
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = int(e["batchId"])
    return out


def _progress(q) -> list:
    out = []
    for p in q.recentProgress:
        out.append(
            {
                "batchId": p.batchId,
                "numInputRows": p.numInputRows,
                "durationMs": dict(p.durationMs),
            }
        )
    return out


def run_pass(spark, workload: str, prep: Prepared, seconds: float, tracer=None,
             registry=None, reads: int = CATCHUP_READS) -> PassResult:
    """Stream the prepared inputs through the sink, read, then gate.
    ``registry``: snapshot ``metrics.REGISTRY`` once ingest has ended."""
    from ducklake_kafka_connect_spark.lake import LakeCatalog
    from ducklake_kafka_connect_spark.sources.kafka_source import KAFKA_LIKE_SCHEMA
    from ducklake_kafka_connect_spark.streaming.ingest import IngestPipeline

    sink = SINKS[workload]
    res = PassResult(input_bytes=prep.input_bytes)
    catalog = LakeCatalog(spark, prep.lake)
    before = _parquet_files(prep.lake)
    versions = {t: catalog.table(t).current_version() for t in catalog.list_tables()}
    pipeline = IngestPipeline(catalog, sink.config())
    process_batch = pipeline.process_batch
    lock = threading.Lock()

    def clocked(df, epoch_id):
        t0 = time.perf_counter()
        ok = False
        try:
            process_batch(df, epoch_id)
            ok = True
        finally:
            with lock:
                res.batches.append((epoch_id, t0, time.perf_counter(), ok))

    # the batch clock: the instance attribute shadows the method that
    # IngestPipeline.start hands to foreachBatch
    pipeline.process_batch = clocked
    source = spark.readStream.format("json").schema(KAFKA_LIKE_SCHEMA)
    if sink.max_files_per_trigger:
        source = source.option("maxFilesPerTrigger", str(sink.max_files_per_trigger))
    stream = source.load(prep.src)
    total = prep.inputs.records
    rss = RssSampler()
    rss.start()
    reader = Reads(spark, catalog, workload, prep.inputs, tracer)
    try:
        if is_open_loop(workload):
            t0 = _open_loop(pipeline, stream, prep, seconds, res, reader, total)
        else:
            t0 = time.perf_counter()
            q = pipeline.start(stream, prep.checkpoint, trigger_seconds=TRIGGER_SECONDS,
                               query_name=f"connbench_{workload}")
            _drain(q, total, res, deadline=t0 + max(120.0, 8 * seconds))
    finally:
        res.peak_rss_mb = rss.stop()
    if registry is not None:
        res.registry = registry.snapshot()
    _timings(prep, res, t0)
    mark = time.perf_counter()
    res.phases_s["ingest"] = mark - t0
    if not is_open_loop(workload) and not res.error:
        reader.closed_loop(reads, res)
    res.phases_s["reads"] = time.perf_counter() - mark
    mark = time.perf_counter()
    _gate(spark, catalog, workload, prep, res)
    res.phases_s["gate"] = time.perf_counter() - mark
    res.bytes_written = sum(os.path.getsize(p) for p in _parquet_files(prep.lake) - before)
    res.commits = _commits(catalog, versions)
    return res


def _commits(catalog, versions: dict) -> list:
    """What each commit since ``versions`` (table → version) added, read
    back from the manifest chain: the operation and the files, rows and
    bytes of the files it added."""
    out = []
    for name in catalog.list_tables():
        table = catalog.table(name)
        first = versions.get(name, -1) + 1
        parent: set = set()
        if first > 0:
            parent = set(table.manifest(first - 1).all_files())
        for v in range(first, table.current_version() + 1):
            m = table.manifest(v)
            files = set(m.all_files())
            added = files - parent
            parent = files
            stats = [m.file_stats.get(f) or {} for f in added]
            out.append({
                "table": name,
                "version": v,
                "op": m.props.get("last_op", ""),
                "files": len(added),
                "rows": sum(int(s.get("__rows") or 0) for s in stats),
                "bytes": sum(int(s.get("__bytes") or 0) for s in stats),
            })
    return out


def _drain(q, total: int, res: PassResult, deadline: float) -> None:
    """Wait until the query has taken every staged record, then stop it.
    Polls five times a second: ``recentProgress`` parses every progress
    event so far, and a busy poll would compete with the sink's own
    driver-side Python for the interpreter lock."""
    try:
        while q.isActive and time.perf_counter() < deadline:
            if res.batches and sum(p.numInputRows for p in q.recentProgress) >= total:
                break
            time.sleep(0.2)
        res.progress = _progress(q)
        if not q.isActive:
            res.error = f"query terminated: {q.exception()}"
        elif sum(p["numInputRows"] for p in res.progress) < total:
            res.error = "backlog not drained before the deadline"
    finally:
        q.stop()


def _open_loop(pipeline, stream, prep, seconds, res, reads, total) -> float:
    """Publish each staged file at its due time while ``reads`` runs on
    its own schedule; return the time the schedule started."""
    q = pipeline.start(stream, prep.checkpoint, trigger_seconds=TRIGGER_SECONDS,
                       query_name="connbench_trickle_mor_readers")
    time.sleep(1.0)  # let the query reach its first (empty) trigger
    t0 = time.perf_counter()
    stop_reads = threading.Event()

    def publish():
        for path, batch in zip(prep.files, prep.inputs.batches):
            due = t0 + batch.due_s
            delay = due - time.perf_counter()
            if delay > 0:
                time.sleep(delay)
            dest = os.path.join(prep.src, os.path.basename(path))
            os.replace(path, dest)
            res.generator_late_ms.append((time.perf_counter() - due) * 1000.0)

    publisher = threading.Thread(target=publish, name="connbench-generator")
    reader = threading.Thread(
        target=reads.open_loop, args=(t0, stop_reads, res), name="connbench-reader"
    )
    publisher.start()
    reader.start()
    try:
        publisher.join()
        _drain(q, total, res, deadline=time.perf_counter() + max(60.0, 4 * seconds))
    finally:
        stop_reads.set()
        reader.join()
    return t0


def _timings(prep: Prepared, res: PassResult, t0: float) -> None:
    ends = {e: end for e, _, end, ok in res.batches if ok}
    res.batches_failed = sum(1 for b in res.batches if not b[3])
    res.batch_latency_ms = [
        float(p["durationMs"]["triggerExecution"])
        for p in res.progress
        if p["numInputRows"] > 0
    ]
    which = _file_batches(prep.checkpoint)
    landed_at = []
    for path, batch in zip(prep.files, prep.inputs.batches):
        epoch = which.get(os.path.basename(path))
        if epoch is None or epoch not in ends:
            continue
        res.records += len(batch.envelopes)
        fresh = (ends[epoch] - (t0 + batch.due_s)) * 1000.0
        res.freshness_ms += [fresh] * len(batch.envelopes)
        landed_at.append(ends[epoch])
    res.ingest_wall_s = (max(landed_at) - t0) if landed_at else 0.0
    if res.records < prep.inputs.records and not res.error:
        res.error = f"{prep.inputs.records - res.records} records never committed"


# ---------------------------------------------------------------- reads


class Reads:
    """Point lookups and grouped aggregates against the target table."""

    def __init__(self, spark, catalog, workload: str, inputs: gen.Inputs, tracer=None):
        from pyspark.sql import functions as F

        self.F = F
        self.spark = spark
        self.catalog = catalog
        self.workload = workload
        self.inputs = inputs
        self.tracer = tracer

    def _timed(self, op, res: PassResult, due: float) -> None:
        res.reads += 1
        try:
            problems = self.tracer.span("bench.read", op) if self.tracer else op()
        except Exception as e:  # a failed read is counted, not fatal
            problems = [f"read failed: {type(e).__name__}: {e}"[:300]]
        if problems:
            res.reads_failed += 1
            res.problems += problems[: gate.MAX_REPORTED]
        res.read_latency_ms.append((time.perf_counter() - due) * 1000.0)

    def op(self, i: int):
        keys = self.inputs.read_keys
        key = keys[(i * 7919) % len(keys)]
        if i % 3 < 2:
            return lambda: self.point(key)
        return self.aggregate

    def closed_loop(self, n: int, res: PassResult) -> None:
        for i in range(n):
            self._timed(self.op(i), res, time.perf_counter())

    def open_loop(self, t0: float, stop: threading.Event, res: PassResult) -> None:
        interval = self.inputs.read_interval_s
        i = 0
        while not stop.is_set():
            due = t0 + i * interval
            delay = due - time.perf_counter()
            if delay > 0 and stop.wait(delay):
                return
            self._timed(self.op(i), res, due)
            i += 1

    def point(self, key) -> list:
        F = self.F
        if self.workload == "upsert_catchup":
            t, col = "results", "id"
            want = self.inputs.expected["results"].get(key)
            want = [gate.canonical(want, self.inputs.columns[t], self.inputs.timestamp_columns)]
        elif self.workload == "append_fanout_drift":
            t, col = "orders", "order_id"
            want = [
                gate.canonical(r, self.inputs.columns[t], self.inputs.timestamp_columns)
                for r in self.inputs.expected["orders"]
                if r["order_id"] == key
            ]
        else:
            rows = self.catalog.table("wide").read(where=f"id = {int(key)}").select("id").collect()
            return gate.check_point_lookup(key, rows)
        cols = _select(F, self.inputs.columns[t], self.inputs.timestamp_columns)
        got = [tuple(r) for r in self.catalog.table(t).read(where=f"{col} = {int(key)}").select(*cols).collect()]
        return [] if got == want else [f"point lookup {t}.{col}={key}: expected {want!r}, got {got!r}"]

    def aggregate(self) -> list:
        F = self.F
        if self.workload == "upsert_catchup":
            df = self.catalog.table("results").read().groupBy(F.month("created_at").alias("m"))
            rows = df.agg(F.count("*").alias("n"), F.sum("score").alias("s")).collect()
            return gate.check_count("results rows by month", len(self.inputs.expected["results"]),
                                    sum(r["n"] for r in rows))
        if self.workload == "append_fanout_drift":
            df = self.catalog.table("orders").read().groupBy("region")
            rows = df.agg(F.count("*").alias("n"), F.sum("amount").alias("s")).collect()
            return gate.check_count("orders rows by region", len(self.inputs.expected["orders"]),
                                    sum(r["n"] for r in rows))
        df = self.catalog.table("wide").read().groupBy("grp")
        rows = df.agg(F.count("*").alias("n"), F.avg("f01").alias("a")).collect()
        n = sum(r["n"] for r in rows)
        low = len(self.inputs.preload["id"])
        high = low + len(self.inputs.expected["wide"])
        return [] if low <= n <= high else [f"wide rows by grp: {n} outside [{low}, {high}]"]


def _select(F, columns, timestamp_columns):
    return [F.unix_micros(c).alias(c) if c in timestamp_columns else F.col(c) for c in columns]


# ---------------------------------------------------------------- gate


def _gate(spark, catalog, workload: str, prep: Prepared, res: PassResult) -> None:
    """Compare the final tables with the generator's model. Each check
    is one attempted operation; a check with any mismatch is one failure."""
    from pyspark.sql import functions as F
    from ducklake_kafka_connect_spark.lake.mor import mor_state

    inputs = prep.inputs

    def check(found: list) -> None:
        res.gate_checks += 1
        if found:
            res.gate_failed += 1
            res.problems += found

    check([res.error] if res.error else [])  # every staged record committed
    for t, cols in inputs.columns.items():
        if not catalog.table_exists(t):
            check([f"table {t} missing"])
            continue
        df = catalog.table(t).read()
        extra = sorted(set(df.columns) - set(cols) - {"_inserted_at"})
        check([f"table {t}: unexpected columns {extra}"] if extra else [])
        if workload == "trickle_mor_readers":
            got = df.select(*cols).toPandas().sort_values("id").reset_index(drop=True)
            check(gate.check_frame(gate.mor_model(inputs), got))
        else:
            rows = [tuple(r) for r in df.select(*_select(F, cols, inputs.timestamp_columns)).collect()]
            compare = gate.check_keyed if workload == "upsert_catchup" else gate.check_multiset
            check(compare(inputs.expected[t], rows, cols, inputs.timestamp_columns))
    for t, want in inputs.expected_dlq.items():
        name = f"{t}_dlq"
        got = catalog.table(name).row_count() if catalog.table_exists(name) else 0
        res.dlq_rows += got
        check(gate.check_count(f"{name} rows", want, got))
    for name in catalog.list_tables():
        m = catalog.table(name).manifest()
        deletes = len(mor_state(m)[1])
        res.live_files += len(m.all_files()) + deletes
        res.delete_files_live += deletes


# ---------------------------------------------------------------- summary


def tail(values: list) -> tuple[float, float]:
    """(value, percentile): the highest percentile with at least ten
    samples beyond it; the maximum when there are ten samples or fewer."""
    s = sorted(values)
    n = len(s)
    if n <= 10:
        return s[-1], 100.0
    return s[n - 11], 100.0 * (n - 10) / n


def end_to_end(res: PassResult, setup_s: float) -> dict:
    """The user-visible metrics of one pass, with their sample counts."""
    out = {"setup_s": (setup_s, "s", None)}
    out["ingest_records_per_s"] = (res.records / res.ingest_wall_s, "1/s", None)
    for name, values in (
        ("batch_latency", res.batch_latency_ms),
        ("freshness", res.freshness_ms),
        ("read_latency", res.read_latency_ms),
    ):
        t, pct = tail(values)
        out[f"{name}_p50_ms"] = (statistics.median(values), "ms", {"n": len(values)})
        out[f"{name}_tail_ms"] = (t, "ms", {"n": len(values), "percentile": round(pct, 2)})
    out["bytes_written_per_input_byte"] = (res.bytes_written / res.input_bytes, "ratio", None)
    out["live_files_end"] = (res.live_files, "count", None)
    out["peak_rss_mb"] = (res.peak_rss_mb, "MB", None)
    return out


def remove(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
