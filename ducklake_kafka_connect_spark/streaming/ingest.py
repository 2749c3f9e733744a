"""Streaming ingestion pipeline: decode → DLQ split → MERGE/INSERT.

The Spark re-expression of the reference's hot path (SURVEY §3.1):

    Kafka Connect put() → group by partition → convert/unify → buffer
    → threshold flush → consolidate → ensureTable → MERGE/INSERT

becomes

    readStream → foreachBatch( route by topic → decode_json →
    split_dlq → LakeWriter.write )

Everything the reference hand-builds disappears into engine behavior:
buffering/thresholds are the trigger interval + maxOffsetsPerTrigger
(E1), per-partition parallelism is task scheduling (E5), spill is the
UnifiedMemoryManager (A11), at-least-once + idempotent MERGE is the
checkpoint + merge key (E8) — and the offset only advances after the
batch commits, which is strictly stronger than the reference's
decoupled offset commits (E8b).

Config parity (``connect/DucklakeSinkConfig.java``): topic→table map
with identity fallback (A2), per-table id-columns (D2), partition-by
expressions (B12), auto-create flag default false (C8).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..lake import LakeCatalog, LakeWriter
from ..lake.writer import EPHEMERAL_ORDER, _dedup_last_wins, one_task_if_small
from ..metrics import REGISTRY
from ..schema.reconcile import ReconcileError
from ..sources.json_decode import CORRUPT_COL, DEFAULT_SAMPLE, decode_json, split_dlq
from ..lake.relation_cache import local_rows_df

_TOPIC_RE = re.compile(r"^[A-Za-z0-9._-]+$")

DEFAULT_INLINING_ROW_LIMIT = 10_000


def parse_inlining_limit(value) -> int | None:
    """``ducklake.data_inlining_row_limit`` semantics
    (``DucklakeSinkConfig.java`` / ``DucklakeSinkConfigTest.java:58-88``):
    unset → the 10000 default; ``"off"`` (any case) disables the
    feature → None; numeric strings / ints parse; anything else raises.
    In this engine the limit drives write-path auto-compaction — small
    commits below the threshold get folded together — instead of the
    reference's catalog inlining, which is the same contract (tiny
    batches must not accrete as standalone files)."""
    if value is None:
        return DEFAULT_INLINING_ROW_LIMIT
    if isinstance(value, bool):
        raise ValueError(f"Invalid data-inlining row limit: {value!r}")
    if isinstance(value, int):
        n = value
    else:
        s = str(value).strip()
        if s.lower() == "off":
            return None
        try:
            n = int(s)
        except ValueError:
            raise ValueError(f"Invalid data-inlining row limit: {value!r}")
    if n < 0:
        raise ValueError(f"Invalid data-inlining row limit: {value!r}")
    return n


@dataclass
class TableSpec:
    """Per-table connector config (ducklake.table.<t>.* analogues plus
    the worker's value.converter choice as a per-table ``format``)."""

    id_columns: list[str] = field(default_factory=list)
    partition_by: str | None = None
    auto_create: bool = False
    format: str = "json"  # json | avro | avro_registry | arrow | mixed | proto | csv
    avro_schema: str | None = None
    # {field_number: ProtoField} (sources/proto_lite.py) for format='proto'
    proto_schema: dict | None = None
    # DDL string ("pk long, name string") for format='csv'; field order
    # = wire column order
    csv_schema: str | None = None
    csv_options: dict | None = None
    confluent_framing: bool = False
    # DATA_INLINING_ROW_LIMIT analogue: None→default 10000, "off"→disable
    inlining_row_limit: str | int | None = None
    # CHECK constraints with CONNECTOR semantics: violating ROWS route to
    # the DLQ with the violated constraint names (the pipeline must not
    # crash on bad data — contrast LakeWriter(check_constraints=...),
    # which rejects whole batches at the lake boundary)
    check_constraints: dict = field(default_factory=dict)
    # SMT hook (B13, README.md:204-212 TimestampConverter analogue): a
    # DataFrame→DataFrame transform applied after decode + constraint
    # routing, before the write — arbitrary per-table record rewriting
    # exactly where the reference applies its single-message transforms
    transform: object = None
    # write.merge.mode analogue as per-table connector config: None →
    # the table property / copy-on-write default; 'merge-on-read' makes
    # every upsert commit delta + tombstone files (lake/mor.py) — the
    # right mode for wide tables under CDC-style streaming upserts
    merge_mode: str | None = None

    def __post_init__(self):
        if self.format not in ("json", "avro", "avro_registry", "arrow", "mixed", "proto", "csv"):
            raise ValueError(f"Unknown format: {self.format!r}")
        if self.merge_mode is not None:
            from ..lake.mor import MODE_COW, MODE_MOR

            if self.merge_mode not in (MODE_COW, MODE_MOR):
                raise ValueError(
                    f"Unknown merge-mode: {self.merge_mode!r} "
                    f"(expected {MODE_COW!r} or {MODE_MOR!r})"
                )
        if self.format == "avro" and not self.avro_schema:
            raise ValueError("format='avro' requires avro_schema")
        if self.format == "proto" and not self.proto_schema:
            raise ValueError("format='proto' requires proto_schema")
        if self.format == "csv" and not self.csv_schema:
            raise ValueError("format='csv' requires csv_schema")
        # validate eagerly (ConfigException-at-construction parity) and
        # ALSO validate partition expressions up front
        self.inlining_rows = parse_inlining_limit(self.inlining_row_limit)
        if self.partition_by is not None:
            from ..lake.partitioning import parse_partition_exprs

            parse_partition_exprs(self.partition_by)


@dataclass
class IngestConfig:
    topic2table: dict[str, str] = field(default_factory=dict)
    tables: dict[str, TableSpec] = field(default_factory=dict)
    dlq_suffix: str = "_dlq"
    # commit-conflict replan budget for every writer this pipeline
    # builds — ducklake.max_retry_count (DucklakeSinkConfig.java:62,164)
    max_retry_count: int = 10

    def __post_init__(self):
        for topic, table in self.topic2table.items():
            if not _TOPIC_RE.match(topic) or not _TOPIC_RE.match(table):
                raise ValueError(
                    f"Invalid topic→table mapping entry: {topic!r}:{table!r}"
                )

    @staticmethod
    def parse_topic2table(spec: str) -> dict[str, str]:
        """Parse ``"t1:tbl1,t2:tbl2"`` (TopicToTableValidator.java:99-154)."""
        out: dict[str, str] = {}
        for pair in spec.split(","):
            pair = pair.strip()
            if not pair:
                continue
            if ":" not in pair:
                raise ValueError(f"Invalid topic:table pair: {pair!r}")
            topic, _, table = pair.partition(":")
            topic, table = topic.strip(), table.strip()
            if not topic or not table:
                raise ValueError(f"Invalid topic:table pair: {pair!r}")
            if topic in out:
                raise ValueError(f"Duplicate topic in mapping: {topic!r}")
            out[topic] = table
        return out

    def table_for(self, topic: str) -> str:
        return self.topic2table.get(topic, topic)  # identity fallback

    def spec_for(self, table: str) -> TableSpec:
        return self.tables.get(table, TableSpec())

    def non_json_topics(self) -> set[str]:
        """Topics whose table decodes a format other than JSON: mapped
        topics plus identity-mapped ones (a topic named after its table)."""
        out = {t for t, tbl in self.topic2table.items() if self.spec_for(tbl).format != "json"}
        out |= {
            tbl for tbl, spec in self.tables.items()
            if spec.format != "json" and tbl not in self.topic2table
        }
        return out


class IngestPipeline:
    """foreachBatch sink writing decoded records into lake tables."""

    def __init__(self, catalog: LakeCatalog, config: IngestConfig, registry=None):
        self.catalog = catalog
        self.config = config
        # SchemaRegistryClient for tables with format='avro_registry'
        # (the worker-level value.converter.schema.registry.url analogue)
        self.registry = registry

    # -- batch entry point (also usable for non-streaming backfills) --

    def process_batch(self, batch: DataFrame, epoch_id: int = -1) -> None:
        """One micro-batch of kafka-shaped rows (topic/value/offset…).
        Topic slices are grouped by TARGET table first: N topics mapped
        onto one table land as ONE group commit (write_many) instead of
        N sequential merges — the reference consolidates cross-topic
        batches per table the same way (BatchConsolidation)."""
        # The incoming frame is consumed by the routing aggregate AND
        # each topic slice's decode — an expensive source (Kafka, an
        # upstream decoder) would otherwise re-execute per consumer.
        # Micro-batches are threshold-bounded (E1), so one persist for
        # the duration of the batch is safe; released in the finally.
        persisted = False
        try:
            if batch.storageLevel.useMemory or batch.storageLevel.useDisk:
                pass  # caller already persists; leave their lifecycle alone
            else:
                batch = batch.persist()
                persisted = True
            if "topic" in batch.columns:
                samples = self._route(batch)
            else:
                samples = {None: None}
            by_table: dict[str, list] = {}
            for topic, sample in samples.items():
                part = (
                    batch.filter(F.col("topic") == topic) if topic else batch
                )
                table = self.config.table_for(topic) if topic else "events"
                by_table.setdefault(table, []).append((part, sample))
            for table, parts in by_table.items():
                self._ingest_table_batches(parts, table, epoch_id=epoch_id)
        finally:
            if persisted:
                batch.unpersist()

    def _route(self, batch: DataFrame) -> dict:
        """{topic: schema-inference sample} from ONE aggregate
        over the batch: the topic set, plus each JSON topic's first
        DEFAULT_SAMPLE non-null values in (partition, offset) order — the
        sample the decode would otherwise collect in a job of its own.
        Other formats get an empty sample, which their decoders ignore.

        ``collect_top_k`` is PySpark's internal (undocumented) entry
        point; where it is missing or refused, the topic set comes from a
        plain ``distinct`` and each decode samples its slice itself."""
        from py4j.protocol import Py4JError
        from pyspark.errors import AnalysisException

        try:
            from pyspark.sql.internal import InternalFunction

            return self._route_sampled(batch, InternalFunction.collect_top_k)
        except (ImportError, AttributeError, AnalysisException, Py4JError):
            REGISTRY.inc("ingest.routeUnsampled")
            return {r[0]: None for r in batch.select("topic").distinct().collect()}

    def _route_sampled(self, batch: DataFrame, collect_top_k) -> dict:
        order = [c for c in ("partition", "offset") if c in batch.columns]
        json_topic = ~F.col("topic").isin(list(self.config.non_json_topics()))
        value = F.col("value")
        if dict(batch.dtypes).get("value") == "binary":
            value = value.cast("string")  # as _decode does
        # collect_top_k keeps a bounded heap per group (reverse: the k
        # SMALLEST, ascending), so the sample costs O(k) per topic
        # whatever the batch size; NULLs (tombstones, other formats) are
        # skipped
        top = collect_top_k(
            F.when(
                json_topic & value.isNotNull(),
                F.struct(*[F.col(c) for c in order], value.alias("v")),
            ),
            DEFAULT_SAMPLE,
            True,
        )
        rows = (
            one_task_if_small(batch).groupBy("topic").agg(top.alias("s")).collect()
        )
        # a NULL/empty topic routes the whole batch (see process_batch),
        # so its decode samples the batch itself
        return {
            r["topic"]: [x["v"] for x in r["s"] or ()] if r["topic"] else None
            for r in rows
        }

    def _ingest_table_batches(
        self, parts: list, table: str, epoch_id: int = -1
    ) -> None:
        """``parts``: (topic slice, JSON schema sample or None) pairs."""
        spec = self.config.spec_for(table)
        goods: list[DataFrame] = []
        bads: list[DataFrame] = []
        cached: list[DataFrame] = []
        # last-write-wins by transport offset (SURVEY risk #2) is resolved
        # ONCE, inside the merge: the offset rides the write as the
        # writer's ephemeral order column and never enters the schema.
        # Constraint routing and transforms must see deduplicated rows,
        # so those tables resolve it here instead.
        order_col = None
        dedup_here = bool(spec.check_constraints or spec.transform is not None)
        for part, sample in parts:
            keep = [c for c in ("offset",) if c in part.columns]
            good, bad = self._decode(part, spec, keep, cached=cached, sample=sample)
            if "offset" in good.columns and spec.id_columns:
                if dedup_here:
                    REGISTRY.inc("ingest.dedupBeforeWrite")
                    good = _dedup_last_wins(good, spec.id_columns, "offset")
                    # consumed by both sides of the constraint split: one
                    # dedup shuffle, not two
                    good = good.persist()
                    cached.append(good)
                else:
                    good = good.withColumnRenamed("offset", EPHEMERAL_ORDER)
                    keep = []
                    order_col = EPHEMERAL_ORDER
            if spec.check_constraints:
                good, bad = self._route_constraint_violations(good, bad, spec)
            if spec.transform is not None:
                good = spec.transform(good)
            goods.append(good.drop(*keep) if keep else good)
            bads.append(bad)
        writer = LakeWriter(
            self.catalog.table(table),
            pk=spec.id_columns,
            partition_by=spec.partition_by,
            auto_create=spec.auto_create,
            # 'off' disables write-path auto-compaction for this table
            auto_compact=spec.inlining_rows is not None,
            max_retry_count=self.config.max_retry_count,
            merge_mode=spec.merge_mode,
        )
        # idempotent epoch commit (E8 exactly-once upgrade): a replayed
        # foreachBatch epoch whose commit already landed is skipped at
        # the manifest-marker check — APPEND tables stop duplicating on
        # restart, MERGE tables stop paying a no-op replay write
        txn = (f"ingest:{table}", epoch_id) if epoch_id >= 0 else None

        try:
            # A slice whose column type conflicts with the table (or with
            # an earlier slice of the group) would fail the whole group
            # commit: the union coerces the column and the write's cast
            # fails. Such a slice is dead-lettered whole; the rest land
            # as one group.
            from ..schema.reconcile import enriched_reconcile_message

            conflicts = writer.schema_conflicts(goods)
            for i, e in conflicts.items():
                good = goods[i]
                if order_col:
                    # last write per key, as the merge would have landed
                    # it; the transport offset never enters the payload
                    good = _dedup_last_wins(
                        good, spec.id_columns, order_col
                    ).drop(order_col)
                # the note carries the column, both types, and sample
                # values from the offending slice
                # (SinkRecordToArrowConverter.java:305-385 parity)
                note = enriched_reconcile_message(e, good)
                bads[i] = bads[i].unionByName(
                    good.select(
                        F.to_json(F.struct(*good.columns)).alias("raw_value"),
                        F.lit(f"reconcile_error: {note}").alias("error"),
                        F.current_timestamp().alias("_dlq_at"),
                    ),
                    allowMissingColumns=True,
                )
            writer.write_many(
                [g for i, g in enumerate(goods) if i not in conflicts],
                order_col=order_col,
                txn=txn,
            )
            bad = bads[0]
            for b in bads[1:]:
                bad = bad.unionByName(b, allowMissingColumns=True)
            if bad.isEmpty():
                return
            dlq_writer = LakeWriter(
                self.catalog.table(f"{table}{self.config.dlq_suffix}"),
                pk=[],
                auto_create=True,
            )
            dlq_writer.append(
                bad,
                txn=(f"ingest_dlq:{table}", epoch_id) if epoch_id >= 0 else None,
            )
        finally:
            for c in cached:
                c.unpersist()

    def _route_constraint_violations(
        self, good: DataFrame, bad: DataFrame, spec: TableSpec
    ):
        """Row-level CHECK constraint routing: rows whose predicate
        evaluates FALSE move to the DLQ with the violated constraint
        names; NULL/UNKNOWN passes (standard SQL CHECK / Delta Lake
        semantics — only rows that provably break the constraint are
        rejected, matching LakeWriter._enforce_constraints). One
        codegen'd filter pass each way — no extra job."""
        fails = {
            name: ~F.coalesce(F.expr(pred), F.lit(True))
            for name, pred in spec.check_constraints.items()
        }
        any_fail = None
        for c in fails.values():
            any_fail = c if any_fail is None else (any_fail | c)
        which = F.concat_ws(
            ",", *[F.when(c, F.lit(n)) for n, c in fails.items()]
        )
        viol = good.filter(any_fail).select(
            F.to_json(F.struct(*good.columns)).alias("raw_value"),
            F.concat(F.lit("check_constraint: "), which).alias("error"),
            F.current_timestamp().alias("_dlq_at"),
        )
        return (
            good.filter(~any_fail),
            bad.unionByName(viol, allowMissingColumns=True),
        )

    def _decode(
        self,
        part: DataFrame,
        spec: TableSpec,
        keep: list[str],
        cached: "list | None" = None,
        sample: list | None = None,
    ):
        """Per-table format dispatch (the reference's value.converter
        choice: JsonConverter / AvroConverter / ArrowIpcConverter, plus
        the mixed per-batch sniff of A7).

        ``cached``: the good/bad DLQ split consumes the SAME decoded
        frame twice (the write and the DLQ check). Persisting the
        pre-split decoded frame (appended to ``cached`` so the caller's
        finally releases it) makes both sides cache reads — one decode
        pass per batch part instead of two. ``sample``: the JSON schema-
        inference sample the routing aggregate already collected."""

        def _split(decoded, **kw):
            if cached is not None:
                decoded = decoded.persist()
                cached.append(decoded)
            return split_dlq(decoded, **kw)

        if spec.format == "json":
            from ..sources.json_decode import conflict_note

            if dict(part.dtypes).get("value") == "binary":
                # kafka-shaped value is bytes; JSON decode wants text
                part = part.withColumn("value", F.col("value").cast("string"))
            conflicts: dict = {}
            decoded = decode_json(
                part, value_col="value", keep_cols=keep,
                conflicts_out=conflicts, sample=sample,
            )
            return _split(decoded, error_note=conflict_note(conflicts))
        if spec.format == "avro_registry":
            from ..sources.schema_registry import decode_avro_registry

            if self.registry is None:
                raise ValueError(
                    "format='avro_registry' requires IngestPipeline(registry=...)"
                )
            decoded = decode_avro_registry(
                part, self.registry, value_col="value", keep_cols=keep
            )
            return _split(decoded)
        if spec.format == "avro":
            # auto-selects the JVM from_avro fast path when the
            # spark-avro jar is present; pure-Python fallback otherwise
            from ..sources.avro_decode import decode_avro_auto

            decoded = decode_avro_auto(
                part,
                spec.avro_schema,
                confluent_framing=spec.confluent_framing,
                keep_cols=keep,
                with_corrupt_col=True,
            )
            return _split(decoded)
        if spec.format == "csv":
            from ..sources.csv_decode import decode_csv

            decoded = decode_csv(
                part,
                spec.csv_schema,
                keep_cols=keep,
                options=spec.csv_options,
            )
            return _split(decoded)
        if spec.format == "proto":
            from ..sources.proto_lite import decode_proto_lite

            decoded = decode_proto_lite(
                part,
                spec.proto_schema,
                keep_cols=keep,
                with_corrupt_col=True,
                confluent_framing=spec.confluent_framing,
            )
            return _split(decoded)
        if spec.format == "arrow":
            from ..sources.arrow_ipc import decode_arrow_ipc

            # IPC payloads explode to many rows; transport columns do
            # not map 1:1 → no offset carry, no per-row DLQ (a corrupt
            # stream fails the batch, like the reference's converter)
            good = decode_arrow_ipc(part.filter(F.col("value").isNotNull()), "value")
            bad = local_rows_df(good.sparkSession, 
                [], "raw_value string, error string, _dlq_at timestamp"
            )
            return good, bad
        from ..sources.mixed_format import decode_mixed

        decoded = decode_mixed(part, value_col="value")
        if CORRUPT_COL in decoded.columns:
            return _split(decoded)
        bad = local_rows_df(decoded.sparkSession, 
            [], "raw_value string, error string, _dlq_at timestamp"
        )
        return decoded, bad

    # -- DLQ reprocessing (operational replay loop) --

    def reprocess_dlq(self, table: str) -> dict:
        """Replay ``<table>_dlq`` through decode → constraint routing →
        write, landing rows that now succeed and atomically swapping the
        processed DLQ snapshot for the residual failures.

        The reference's operational loop is "fix the schema/config, then
        replay the DLQ topic through the connector"
        (`EndToEndIntegrationTest.java` recovery story); with the DLQ as
        a lake table the replay is a batch job over it. All DLQ
        ``raw_value`` payloads are JSON text by construction — corrupt
        source rows keep their original JSON, and constraint/reconcile
        rejects are stored as ``to_json(struct(...))`` — so reprocessing
        always decodes JSON, then applies the table's CURRENT spec
        (constraints, pk, partitioning). Rows that fail again (still
        corrupt, still conflicting) stay in the DLQ with a fresh error.

        Exactly-once across crashes: the main-table write carries
        ``txn=("dlq_reprocess:<t>", dlq_version)`` — a crash between the
        write and the DLQ swap re-runs safely (the replayed write is
        skipped at the marker, then the swap completes). The swap itself
        is ONE manifest commit that drops exactly the processed
        snapshot's files and adds the residual file, so DLQ rows
        appended concurrently (files newer than the snapshot) are
        untouched and a crash can never lose residuals to a
        delete-then-append window."""
        from ..lake.table import Manifest
        from ..metrics import REGISTRY
        from ..sources.json_decode import conflict_note

        with REGISTRY.timer("dlqReprocess"):
            return self._reprocess_dlq(table, Manifest, conflict_note)

    def _reprocess_dlq(self, table: str, Manifest, conflict_note) -> dict:
        dlq_t = self.catalog.table(f"{table}{self.config.dlq_suffix}")
        out = {"attempted": 0, "landed": 0, "residual": 0}
        if not dlq_t.exists():
            return out
        snap = dlq_t.manifest()
        rows = dlq_t.read(version=snap.version)
        if "raw_value" not in rows.columns:
            return {**out, "error": "DLQ table has no raw_value column"}
        # metadata-only count: the DLQ is append-only (no MOR state), so
        # the manifest's per-file row stats answer without a scan job
        attempted = dlq_t.row_count(snap.version)
        if attempted == 0:
            return out
        spec = self.config.spec_for(table)
        conflicts: dict = {}
        decoded = decode_json(
            rows.select(F.col("raw_value").alias("value")),
            value_col="value",
            conflicts_out=conflicts,
        ).persist()  # consumed by isEmpty + write + residual count/write:
        # one decode pass, not four (released in the finally below)
        try:
            good, bad = split_dlq(decoded, error_note=conflict_note(conflicts))
            # constraint/reconcile DLQ rows serialize the transport
            # `offset` into raw_value (it is dropped only after routing
            # on first ingest), so the replay re-runs the offset-ordered
            # last-write-wins dedup and then drops it — same contract as
            # process_batch: deterministic winners, no transport column
            # in the table schema
            if "offset" in good.columns:
                if spec.id_columns:
                    good = _dedup_last_wins(good, spec.id_columns, "offset")
                good = good.drop("offset")
            if spec.check_constraints:
                good, bad = self._route_constraint_violations(good, bad, spec)
            writer = LakeWriter(
                self.catalog.table(table),
                pk=spec.id_columns,
                partition_by=spec.partition_by,
                auto_create=spec.auto_create,
                auto_compact=spec.inlining_rows is not None,
                max_retry_count=self.config.max_retry_count,
                merge_mode=spec.merge_mode,
            )
            if not good.isEmpty():
                try:
                    writer.write(
                        good, txn=(f"dlq_reprocess:{table}", snap.version)
                    )
                except ReconcileError as e:
                    # schema still conflicts: the batch stays in the DLQ
                    # with the enriched note (same contract as first
                    # ingest)
                    from ..schema.reconcile import enriched_reconcile_message

                    note = enriched_reconcile_message(e, good)
                    bad = bad.unionByName(
                        good.select(
                            F.to_json(F.struct(*good.columns)).alias("raw_value"),
                            F.lit(f"reconcile_error: {note}").alias("error"),
                            F.current_timestamp().alias("_dlq_at"),
                        ),
                        allowMissingColumns=True,
                    )
            residual = bad.count()
            with dlq_t.lock():
                latest = dlq_t.manifest()
                drop = set(snap.all_files()) & set(latest.all_files())
                new_files: dict = {}
                new_stats: dict = {}
                if residual:
                    dlq_writer = LakeWriter(dlq_t, pk=[], auto_create=True)
                    prepared = dlq_writer._prepare_insert(bad, latest)
                    new_files, new_stats = dlq_t.write_data_files(
                        # rebalance: the residual is usually a sliver —
                        # 'natural' emitted one near-empty file per
                        # upstream partition of the decode pipeline
                        prepared, latest.version + 1, layout="rebalance",
                        manifest=latest,
                    )
                files = {
                    k: [f for f in v if f not in drop]
                    for k, v in latest.files.items()
                }
                files = {k: v for k, v in files.items() if v}
                for k, v in new_files.items():
                    files.setdefault(k, []).extend(v)
                fstats = {
                    f: s for f, s in latest.file_stats.items() if f not in drop
                }
                fstats.update(new_stats)
                dlq_t._commit(
                    Manifest(
                        version=latest.version + 1,
                        schema=latest.schema,
                        pk=latest.pk,
                        partition_spec=latest.partition_spec,
                        files=files,
                        parent=latest.version,
                        props={**latest.props, "last_op": "DLQ_REPROCESS"},
                        file_stats=fstats,
                    ),
                    parent_manifest=latest,
                )
        finally:
            decoded.unpersist()
        return {
            "attempted": attempted,
            "landed": attempted - residual,
            "residual": residual,
            "dlq_version": latest.version + 1,
        }

    # -- streaming wiring --

    def start(
        self,
        stream: DataFrame,
        checkpoint_dir: str,
        trigger_seconds: int = 60,
        query_name: str = "ducklake_ingest",
    ):
        """Attach foreachBatch and start the query (E1: the trigger is
        the flush clock; maxOffsetsPerTrigger on the source bounds batch
        size)."""
        return (
            stream.writeStream.foreachBatch(self.process_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(processingTime=f"{trigger_seconds} seconds")
            .queryName(query_name)
            .start()
        )
