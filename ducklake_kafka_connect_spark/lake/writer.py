"""Write path: auto-create / evolve → route MERGE-vs-INSERT → commit.

Parity targets (reference ``ingestor/DucklakeWriter.java``):

- D3 routing (:85-96): MERGE only when PK columns are configured AND the
  table pre-existed; otherwise plain INSERT (append).
- D2 MERGE (:98-187): name-mapped upsert on the PK equi-join;
- D6 (:116-137): PK columns and ``_inserted_at`` never updated on match;
- B10 (:147-148,213-214): ``_inserted_at = NOW()`` stamped on insert only;
- D5: batch consolidation is ``unionByName`` / a single micro-batch;
- C8-C11: auto-create + ADD COLUMN + widening via ``schema/reconcile.py``.

MERGE physical strategy (the 100 TB design):

The source micro-batch is small relative to the table, so every join
broadcasts the source — the target is **never shuffled**. (Batches
above MERGE_BROADCAST_ROWS — bulk backfills — degrade to ordinary
shuffle joins instead of OOMing the driver as a broadcast.) Affected
partitions are computed from (a) the source rows' partition values and
(b) a column-pruned scan of target (pk + partition columns) semi-joined
against the broadcast source keys — so keys whose update moves them
across partitions delete their old copy. Only affected partitions are
re-read (file pruning happens driver-side against the manifest) and
rewritten; untouched partitions keep their immutable files. Plan shape:

    scan(target, affected-partitions only)  ──┐
    broadcast(src) ── left_anti (untouched) ──┤
    broadcast(src) ── inner   (matched)     ──┼─ unionByName → write
    broadcast(src) ── left_anti (inserts)   ──┘

At 1000 executors this is one pruned scan + three broadcast hash joins —
no shuffle of table data, no sort. Pruning is two-level: partition dirs
(from the manifest) and files (parquet-footer min/max of the first PK
column, harvested at write time into the manifest) — only files whose
key range overlaps the batch are rewritten; everything else carries its
immutable files into the next snapshot untouched.
"""

from __future__ import annotations

import os
import re
from typing import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..metrics import REGISTRY
from ..schema.reconcile import INSERTED_AT, ReconcileError, plan_evolution
from .partitioning import (
    canon_partition_value,
    dir_key_to_canon_tuple,
    partition_column_names,
    with_partition_columns,
)
from .table import CommitConflict, LakeTable, Manifest, is_complex, to_physical_schema


class ConstraintViolation(ValueError):
    """A batch failed a writer CHECK constraint; nothing was written."""

HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"
# Above this many affected partitions, skip per-partition pruning and
# rewrite via a full-table pass (the OR-filter would not be worth it).
MAX_PRUNED_PARTITIONS = 1024
# above this many source rows a MERGE batch is shuffle-joined, not broadcast
MERGE_BROADCAST_ROWS = 4_000_000
# batches up to this many rows Bloom-probe overlap files to shrink the
# rewrite set (keys already collected by the summarize job)
MERGE_BLOOM_PROBE_KEYS = 100_000
# Manifests at or below this many data files skip partition/outside-file
# pruning entirely: bloom-probing and rewriting a handful of files is
# cheaper than any extra planning job.
MERGE_SMALL_MANIFEST_FILES = 8
# A concurrent commit between planning and the table lock forces a replan
# (the rewrite set was chosen against a stale file list).
# Merges whose rewrite-set + batch estimate fits one output file take the
# single-shuffle window-merge plan and write exactly one file.
SMALL_OUTPUT_BYTES = 64 * 1024 * 1024
EST_ROW_BYTES = 256
# Small-merge outputs are range-split by PK into files of ~this many rows
# (capped), so per-file key ranges stay disjoint and later merges rewrite
# only the files their batch keys overlap (bounded rewrite amplification).
MERGE_TARGET_FILE_ROWS = 32_768
# Bytes floor for range-split output files: 2× the auto-compact small-file
# threshold, so a merge's own output can never re-trigger compaction.
MERGE_TARGET_FILE_BYTES = 16 * 1024 * 1024
MERGE_RANGE_MAX_FILES = 16


def _range_file_count(est_rows: int, est_bytes: int) -> int:
    """Range-split file count balancing two pressures: the ROWS term
    wants many narrow-key-range files (later merges prune to the files
    their keys overlap), the BYTES term refuses files so small that the
    commit's own output would re-trigger auto-compaction. Compaction
    fires only at MORE THAN ``AUTO_COMPACT_MIN_FILES`` small files per
    dir, so up to that many range files may sit under the byte target
    safely — narrow-row tables keep their pruning granularity."""
    rows_based = -(-est_rows // MERGE_TARGET_FILE_ROWS)
    bytes_based = -(-est_bytes // MERGE_TARGET_FILE_BYTES)
    return max(bytes_based, min(rows_based, AUTO_COMPACT_MIN_FILES))
# Large (non-small-output) CoW merges whose rewrite estimate is at or
# below this write through one AQE REBALANCE shuffle so the output comes
# out in ~advisory-sized files. Rationale: Spark splits a small rewrite
# set to minPartitionNum (= parallelism) scan tasks, so the "natural"
# layout emits one KB/MB-class file per task and every merge then paid a
# post-commit auto-compact — a SECOND full rewrite (measured 2.2 s of the
# 7.6 s wide26 bench merge). Above the gate the shuffle would move the
# whole rewrite set, and scan splits are ~maxPartitionBytes there anyway,
# which already IS the right output file size — natural stays. Tunable
# for clusters where shuffling more before the write is cheaper than the
# small files (Iceberg write.distribution-mode=hash makes the same call).
MERGE_REBALANCE_MAX_BYTES = int(
    os.environ.get("DUCKLAKE_MERGE_REBALANCE_MAX_BYTES", 1024 * 1024 * 1024)
)
# Tables at or below this total size take the zero-planning-job fast path
# (rewrite-all window-merge; the merge is the write job).
MERGE_SMALL_TABLE_BYTES = 32 * 1024 * 1024

# Batches whose optimizer size estimate is at or below this are coalesced
# before a driver-bound action: to 4 partitions before toArrow (stream-
# count overhead wins), to ONE task under the merge-planning and ingest-
# routing aggregates (no shuffle: one job instead of a map job plus a
# result job); larger/unknown estimates keep their parallelism (compute
# wins)
EVAL_COALESCE_MAX_BYTES = 4 * 1024 * 1024


def one_task_if_small(df: DataFrame) -> DataFrame:
    """``df.coalesce(1)`` when the optimizer estimates it at or below
    EVAL_COALESCE_MAX_BYTES, else ``df``. Under a grouped or global
    aggregate a single partition satisfies the required distribution, so
    the aggregate runs in the scan's own stage."""
    try:
        est = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return df
    return df.coalesce(1) if est <= EVAL_COALESCE_MAX_BYTES else df


# Within the small-table window-merge, unions at or below this many rows
# run as ONE shuffle-free task; above it the window distributes across a
# pk-hash shuffle (serial sort+write dominates past a few hundred k rows)
SMALL_MERGE_SINGLE_TASK_ROWS = 300_000
# Within the small-table path, tables whose whole content fits in the
# driver comfortably are merged DRIVER-SIDE over Arrow (one Spark job to
# evaluate the batch, zero to merge/write) — the latency analogue of the
# reference's in-process DuckDB MERGE. Guarded by strict eligibility
# checks with transparent fallback to the Spark plan.
ARROW_MERGE_MAX_BYTES = 32 * 1024 * 1024
# {table_dir: (version, pyarrow.Table)} — contents as of that committed
# version, populated by successful Arrow merges. Bounded (≤4 tables, each
# ≤ARROW_MERGE_MAX_BYTES); any non-Arrow write bumps the version so the
# entry just misses. In-process analogue of an embedded engine's buffer
# pool: sequential small merges stop re-reading the whole table.
_ARROW_TARGET_CACHE: dict = {}
# Reserved name of an ORDER column that rides the write but never enters
# the table schema: merge_many's synthetic (batch ordinal, order) struct,
# and the transport offset the ingest pipeline hands over so last-write-
# wins is resolved once, inside the merge (a creating write dedups by it
# before the append)
EPHEMERAL_ORDER = "__merge_seq_ord"
# Auto-compaction (DucklakeConnectionFactory.java:88-92 analogue, Delta
# autoOptimize shape): a commit that leaves a partition with more than
# MIN_FILES files under SMALL_BYTES each fires a targeted small-file
# compaction for the offenders — a steady micro-batch drip stays bounded
# in file count without an external OPTIMIZE schedule.
AUTO_COMPACT_MIN_FILES = 8
AUTO_COMPACT_SMALL_BYTES = 8 * 1024 * 1024


def _window_merge(
    target: DataFrame,
    raw: DataFrame,
    pk: Sequence[str],
    out_cols: Sequence[str],
    order_col: str | None,
    dead_col: str | None = None,
    single_partition: bool = False,
) -> DataFrame:
    """Small-merge plan: union(target-rewrite-rows, un-deduped batch) →
    one row_number window per PK picks the winner (batch over target,
    newest batch row over older by order_col / arrival). ``_inserted_at``
    of a matched key survives via a min-over-partition (target rows carry
    it, batch rows carry NULL); fresh keys get NOW(). With ``dead_col``,
    batch rows flagged true are tombstones: they compete in the same
    last-write-wins order and a winning tombstone deletes its key. One
    shuffle total, no joins, no broadcasts — the latency-optimal shape
    when the rewrite set is small.

    ``order_col`` may be a column absent from ``out_cols`` (merge_many's
    ephemeral batch ordinal): it rides the union as an extra column —
    NULL on the target side, safe because ``__pri`` already ranks every
    batch row above every target row — and is dropped by the final
    out_cols projection."""
    from pyspark.sql import Window as W

    carry_order = (
        [order_col] if order_col and order_col not in out_cols else []
    )
    tgt_side = target.select(
        *[F.col(c) for c in out_cols],
        *[
            F.lit(None).cast(raw.schema[c].dataType).alias(c)
            for c in carry_order
        ],
        F.lit(0).alias("__pri"),
        F.lit(None).cast("long").alias("__mono"),
        F.lit(False).alias("__dead"),
    )
    dead = (
        F.coalesce(F.col(dead_col), F.lit(False)) if dead_col else F.lit(False)
    )
    src_side = raw.withColumn(INSERTED_AT, F.lit(None).cast("timestamp")).select(
        *[F.col(c) for c in out_cols],
        *[F.col(c) for c in carry_order],
        F.lit(1).alias("__pri"),
        F.monotonically_increasing_id().alias("__mono"),
        dead.alias("__dead"),
    )
    order = [F.col("__pri").desc()]
    if order_col:
        order.append(F.col(order_col).desc())
    order.append(F.col("__mono").desc())
    # Both window expressions share one (partition, order) spec — the min
    # just widens its frame to the whole partition — so Catalyst plans a
    # single WindowExec pass (a second unordered spec would add another
    # full pass over the union).
    wo = W.partitionBy(*pk).orderBy(*order)
    full_frame = wo.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    u = tgt_side.unionByName(src_side)
    if single_partition:
        # SinglePartition satisfies the window's ClusteredDistribution,
        # so the whole merge collapses to ONE stage (scan → union → sort
        # → window → write in a single task) with no shuffle at all —
        # worth ~0.2-0.3 s of stage scheduling + shuffle I/O per merge
        # when the union is small. coalesce, not repartition: a
        # repartition(1) is itself an exchange. __mono stays faithful to
        # arrival order (the coalesced task reads parent partitions in
        # order, assigning sequential ids).
        u = u.coalesce(1)
    return (
        u.withColumn("__rn", F.row_number().over(wo))
        .withColumn("__ts0", F.min(INSERTED_AT).over(full_frame))
        .filter((F.col("__rn") == 1) & ~F.col("__dead"))
        .withColumn(INSERTED_AT, F.coalesce(F.col("__ts0"), F.current_timestamp()))
        .select(*[_qcol(c) for c in out_cols])
    )


def _stats_columns_arrow(schema, pk: list[str]) -> list[str]:
    """Arrow-schema twin of ``table._stats_columns``: scalar columns
    worth footer-stat-ing, PK first, same cap — so manifests written by
    the driver-side Arrow merge prune identically to Spark-written ones."""
    import pyarrow as pa

    from .table import MAX_STATS_COLUMNS

    def scalar(t) -> bool:
        return (
            pa.types.is_integer(t)
            or pa.types.is_floating(t)
            or pa.types.is_boolean(t)
            or pa.types.is_string(t)
            or pa.types.is_large_string(t)
            or pa.types.is_timestamp(t)
            or pa.types.is_date(t)
            or pa.types.is_decimal(t)
        )

    names = [
        f.name for f in schema if scalar(f.type) and f.name != INSERTED_AT
    ]
    ordered = [c for c in pk if c in names] + [c for c in names if c not in pk]
    return ordered[:MAX_STATS_COLUMNS]


def _qcol(name: str) -> Column:
    """Column ref that resolves ``name`` literally — schemaless field
    names may contain dots that select()/selectExpr() would misparse as
    nested traversal (B11 identifier handling)."""
    return F.col("`" + name.replace("`", "``") + "`")


def _logical_schema_of(df: DataFrame) -> T.StructType:
    return T.StructType([f for f in df.schema.fields if f.name != INSERTED_AT])


def _bt(name: str) -> str:
    """Backtick-quote an identifier for selectExpr."""
    return "`" + name.replace("`", "``") + "`"


def column_defaults(manifest) -> "dict[str, str]":
    """``{col: SQL default expr}`` from ``default.<col>`` table
    properties (``CREATE TABLE (c T DEFAULT expr)`` / ``ALTER COLUMN c
    SET DEFAULT expr``). Applied where SQL applies defaults: a write
    that OMITS the column entirely; an explicitly-NULL value in a
    present column stays NULL."""
    if manifest is None:
        return {}
    tp = manifest.props.get("tblproperties", {})
    return {
        k[len("default."):]: v
        for k, v in tp.items()
        if k.startswith("default.")
    }


def _conform_exprs(
    df: DataFrame,
    logical: T.StructType,
    extra: Sequence[str] = (),
    defaults: "dict[str, str] | None" = None,
) -> list[str]:
    """SQL expression strings projecting a batch onto the table's
    logical schema in physical form (see _conform). String-built so the
    whole projection is ONE selectExpr/Py4J round trip — building the
    same projection Column-by-Column costs ~1 ms per call on the merge
    hot path."""
    physical = to_physical_schema(logical)
    cols: list[str] = []
    taken: set[str] = set()
    df_cols = set(df.columns)
    schema = None
    for lf, pf in zip(logical.fields, physical.fields):
        if lf.name == INSERTED_AT:
            continue
        taken.add(lf.name)
        q = _bt(lf.name)
        if lf.name not in df_cols:
            d = (defaults or {}).get(lf.name)
            fill = f"({d})" if d is not None else "NULL"
            cols.append(f"CAST({fill} AS {pf.dataType.simpleString()}) AS {q}")
        elif is_complex(lf.dataType):
            if schema is None:
                schema = df.schema
            src_type = schema[lf.name].dataType
            if isinstance(src_type, T.StringType):
                cols.append(q)  # pre-serialized
            else:
                cols.append(f"to_json({q}) AS {q}")
        else:
            cols.append(f"CAST({q} AS {pf.dataType.simpleString()}) AS {q}")
    for name in extra:
        if name in df_cols and name not in taken:
            taken.add(name)
            cols.append(_bt(name))
    return cols


def _conform(
    df: DataFrame,
    logical: T.StructType,
    extra: Sequence[str] = (),
    defaults: "dict[str, str] | None" = None,
) -> DataFrame:
    """Project a batch onto the table's logical schema in physical form:
    missing columns default- or null-filled (B1), complex columns
    serialized to JSON (B9), scalars cast to the (possibly widened)
    table type. ``extra`` columns (system / partition columns) pass
    through untouched. ``defaults`` applies ONLY on incoming-batch
    conforms — existing-row rewrites (merge target, dead rows) must
    not mutate stored NULLs into defaults."""
    return df.selectExpr(*_conform_exprs(df, logical, extra, defaults))


def _overlaps(stats, bounds, pk0: str) -> bool:
    """Can a file whose per-column stats are ``stats`` contain any key in
    bounds? Conservative: missing/uncomparable stats → True; an empty
    source key range → False (nothing can match). A None upper bound
    (truncated string stat) is unbounded above."""
    if bounds["lo"] is None:
        return False
    rng = (stats or {}).get(pk0)
    if not rng:
        return True
    try:
        lo, hi = rng[0], rng[1]
        if hi is not None and hi < bounds["lo"]:
            return False
        if lo is not None and lo > bounds["hi"]:
            return False
        return True
    except TypeError:
        return True


def _dedup_last_wins(df: DataFrame, pk: Sequence[str], order_col: str | None) -> DataFrame:
    """Collapse in-batch duplicate keys to the last write (SURVEY risk #2:
    DuckDB MERGE applies last-write; a multi-match would also break the
    join-based merge)."""
    from pyspark.sql import Window as W

    order = F.col(order_col) if order_col else F.monotonically_increasing_id()
    if order_col is None:
        df = df.withColumn("__order", F.monotonically_increasing_id())
        order = F.col("__order")
    w = W.partitionBy(*[F.col(c) for c in pk]).orderBy(order.desc())
    out = df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")
    if order_col is None:
        out = out.drop("__order")
    return out


class LakeWriter:
    """Per-table writer — create/evolve + merge-vs-insert routing."""

    def __init__(
        self,
        table: LakeTable,
        pk: Sequence[str] | None = None,
        partition_by: str | list[str] | None = None,
        auto_create: bool = True,
        small_table_fast_path: bool = True,
        auto_compact: bool = True,
        check_constraints: dict[str, str] | None = None,
        max_retry_count: int = 10,
        merge_mode: str | None = None,
    ):
        self.table = table
        self.pk = list(pk or [])
        # merge strategy: explicit arg > tblproperties['write.merge.mode']
        # > copy-on-write. 'merge-on-read' commits delta + tombstone
        # files instead of rewriting matched files (lake/mor.py).
        self.merge_mode = merge_mode
        self.partition_by = partition_by
        self.auto_create = auto_create
        self.auto_compact = auto_compact
        # commit-conflict replan budget under concurrent writers — the
        # reference's ducklake.max_retry_count (DucklakeSinkConfig.java:164,
        # default 10, "increase for high-concurrency deployments")
        self.max_retry_count = int(max_retry_count)
        # Delta-style CHECK constraints: {name: sql_predicate}. Every
        # incoming batch is validated BEFORE any file is written; a
        # violating batch rejects the whole commit (ConstraintViolation
        # with per-constraint counts). One extra aggregate job per write
        # when configured; zero cost otherwise.
        self.check_constraints = dict(check_constraints or {})
        # idempotent-commit marker for the in-flight write (set by the
        # public API's txn= parameter, folded into manifest props at
        # commit time — Delta txnAppId/txnVersion analogue)
        self._txn: tuple[str, int] | None = None
        # extra manifest props folded into the NEXT commit(s) — the
        # materialized-view layer rides its base-version watermark here
        # so data + marker land in ONE atomic commit (lake/matview.py)
        self.extra_commit_props: dict = {}
        # Rewrite-all window-merge for tables under MERGE_SMALL_TABLE_BYTES
        # (single partition dir only): trades a little write amplification
        # on tiny tables for a zero-planning-job merge. Off → every merge
        # takes the pruning path (file-level rewrite minimization).
        self.small_table_fast_path = small_table_fast_path

    # ---------- public API ----------

    _RESOLVE = object()  # sentinel: "resolve the manifest yourself"

    _NEXTVAL_DEFAULT = re.compile(
        r"nextval\s*\(\s*'([^']+)'\s*\)", re.IGNORECASE
    )

    def _apply_sequence_defaults(self, df: DataFrame, manifest) -> DataFrame:
        """Fill omitted columns whose stored DEFAULT is
        ``nextval('seq')`` (DuckDB's auto-increment idiom) with freshly
        allocated sequence values. Must run BEFORE constraint
        enforcement and the conform projection — neither can evaluate
        nextval as a Spark expression. One block CAS per batch per
        sequence (``lake/sequence.py``); assignment is per-partition
        arithmetic, no shuffle. Costs one extra lightweight count job,
        only on tables that actually store a sequence default."""
        if manifest is None:
            return df
        from . import sequence as _seq

        todo = [
            (col, m.group(1))
            for col, d in column_defaults(manifest).items()
            if col not in df.columns
            and (m := self._NEXTVAL_DEFAULT.fullmatch(d.strip()))
        ]
        if not todo:
            return df
        fs, root = self.table.fs, self.table.root
        counts = _seq.partition_counts(df)
        total = sum(counts)
        for col, name in todo:
            st = _seq.sequence_state(fs, root, name)
            if total == 0:
                df = df.withColumn(col, F.lit(None).cast("long"))
                continue
            lo = _seq.allocate(fs, root, name, total)
            df = _seq.attach_sequence(df, col, lo, st["increment"], counts)
        return df

    def _enforce_constraints(
        self, df: DataFrame, manifest=_RESOLVE, dedup_order: str | None = None
    ) -> None:
        """Reject the batch if any CHECK constraint is violated. One
        aggregate job computes every constraint's violation count at
        once. A row violates only when the predicate evaluates FALSE;
        NULL/UNKNOWN passes — standard SQL CHECK (and Delta Lake)
        semantics, where a constraint rejects only rows that provably
        break it. The evaluation frame mirrors what the conform will
        LAND, not what the batch carries: schema columns missing from
        the batch extend lazily as their DEFAULT expression (when one
        is stored) or a typed NULL — so a CHECK over an omitted column
        evaluates exactly as it would post-write (usually UNKNOWN →
        pass), a stored NOT NULL over an omitted defaultless column
        rejects every row, and a zero-row frame (the live subset of a
        delete-only tombstone batch) passes everything. User-supplied
        ``check_constraints`` naming columns outside the table schema
        still fail analysis, surfaced as-is.

        Table-STORED constraints (``ALTER TABLE ... ADD CONSTRAINT``,
        persisted as ``constraint.<name>`` TBLPROPERTIES) are enforced
        here too — every writer sees them, not just the one constructed
        with ``check_constraints=`` (Delta's contract). ADD/DROP
        CONSTRAINT take effect on live writers immediately because the
        props come off the manifest the write is planned against.
        Stored NOT NULL (``notnull.<col>``) enforces strictly in the
        same single aggregate.

        ``manifest`` is the write path's ALREADY-RESOLVED manifest —
        pass it so constraint lookup costs zero extra metadata reads
        (at 100 TB a manifest is O(files) big; a second chain resolve
        per 10k-row CDC batch is real money). ``None`` means the table
        is known to not exist (no stored constraints possible); the
        default self-resolves, for callers with no manifest in hand.

        ``dedup_order``: judge only each key's last write by this column
        (a batch whose in-batch duplicates are resolved inside the merge
        — rows that never land are not checked)."""
        checks = dict(self.check_constraints)
        if manifest is LakeWriter._RESOLVE:
            m = self.table.manifest() if self.table.exists() else None
        elif manifest is None:
            m = None
        else:
            m = manifest
        stored = dict(m.props.get("tblproperties", {})) if m else {}
        for k, v in stored.items():
            if k.startswith("constraint."):
                checks.setdefault(k[len("constraint."):], v)
            elif k.startswith("notnull."):
                col = k[len("notnull."):]
                checks[f"notnull_{col}"] = f"`{col}` IS NOT NULL"
        if not checks:
            return
        if dedup_order is not None:
            df = _dedup_last_wins(df, self.pk, dedup_order)
        # constraints run BEFORE the conform projection, so the
        # evaluation frame extends (lazily — same single aggregate, no
        # extra job) to what the conform will land: omitted columns fill
        # with their DEFAULT when stored, else a typed NULL off the
        # table schema
        fill = {}
        for f in m.schema.fields if m else ():
            if f.name == INSERTED_AT or f.name in df.columns:
                continue
            d = stored.get(f"default.{f.name}")
            fill[f.name] = (
                F.expr(d).cast(f.dataType)
                if d is not None
                else F.lit(None).cast(f.dataType)
            )
        if fill:
            df = df.withColumns(fill)
        aggs = [
            F.sum(
                F.when(F.coalesce(F.expr(pred), F.lit(True)), 0).otherwise(1)
            ).alias(name)
            for name, pred in checks.items()
        ]
        row = df.agg(*aggs).collect()[0]
        bad = {n: int(row[n]) for n in checks if row[n]}
        if bad:
            raise ConstraintViolation(
                f"batch violates CHECK constraint(s) on {self.table.name}: "
                + ", ".join(
                    f"{n} ({c} row(s), predicate: {checks[n]!r})"
                    for n, c in bad.items()
                )
            )

    def txn_applied(self, txn: tuple[str, int] | None) -> bool:
        """True iff an idempotent-commit marker (app_id, epoch) is
        already recorded at or past ``epoch`` — i.e. this micro-batch
        landed in a previous run and must not be written again.

        Exactly-once upgrade for foreachBatch (SURVEY §2 E8): Spark
        re-delivers a batch whose write finished but whose checkpoint
        advance did not; MERGE absorbs the replay per key, but APPEND
        tables would duplicate. The marker travels in manifest props
        (whole through delta segments), so the check is one driver-side
        dict lookup. Single-writer-per-table deployment assumption as
        documented in SCALE.md — the marker is re-checked nowhere else."""
        if txn is None or not self.table.exists():
            return False
        app, epoch = txn
        last = self.table.manifest().props.get("txns", {}).get(app)
        return last is not None and int(last) >= int(epoch)

    def write(
        self,
        df: DataFrame,
        order_col: str | None = None,
        txn: tuple[str, int] | None = None,
    ) -> None:
        """Reference routing (DucklakeWriter.java:85-96): MERGE when PKs
        are configured and the table pre-existed, else plain INSERT.
        ``txn=(app_id, epoch)`` makes the write idempotent: a replayed
        epoch is skipped entirely (see :meth:`txn_applied`)."""
        if self.txn_applied(txn):
            return
        self._txn = txn
        try:
            pre_existed = self.table.exists()
            if self.pk and pre_existed:
                self.merge(df, order_col=order_col)
            else:
                self.append(self._resolve_ephemeral(df, order_col))
        finally:
            self._txn = None

    def _resolve_ephemeral(self, df: DataFrame, order_col: str | None) -> DataFrame:
        """An append never stores the ephemeral order column; on a keyed
        table (the creating write) it first picks each key's last write."""
        if order_col != EPHEMERAL_ORDER or order_col not in df.columns:
            return df
        if self.pk:
            df = _dedup_last_wins(df, self.pk, order_col)
        return df.drop(order_col)

    def write_many(
        self,
        dfs: Sequence[DataFrame],
        order_col: str | None = None,
        txn: tuple[str, int] | None = None,
    ) -> None:
        """Group-commit form of :meth:`write`: N batches → one commit.
        Routing mirrors write(); merge order is batch-sequential (later
        batches win per key). Falls back to sequential writes when the
        batches can't union (cross-batch type promotion goes through the
        schema ladder one merge at a time). ``txn`` as in write() —
        the whole group is one epoch, skipped wholesale on replay.

        A column whose types conflict (double vs string) DOES union —
        unionByName coerces it to string and the write's cast then fails
        the whole group; callers that must land the rest split such
        batches out first with :meth:`schema_conflicts`."""
        dfs = [d for d in dfs if d is not None]
        if not dfs:
            return
        if self.txn_applied(txn):
            return
        if len(dfs) == 1:
            return self.write(dfs[0], order_col=order_col, txn=txn)
        pre_existed = self.table.exists()
        try:
            if self.pk:
                if not pre_existed:
                    # reference routing: the creating write is an append,
                    # every later batch merges (write()'s exact sequence).
                    # The txn marker goes on the group's FINAL commit
                    # only — a replay after a partial group re-routes the
                    # creating batch through the idempotent PK merge.
                    self.write(dfs[0], order_col=order_col)
                    dfs = dfs[1:]
                self._txn = txn
                self.merge_many(dfs, order_col=order_col)
            else:
                u = dfs[0]
                for d in dfs[1:]:
                    u = u.unionByName(d, allowMissingColumns=True)
                self._txn = txn
                self.append(self._resolve_ephemeral(u, order_col))
        except Exception as e:
            # unionByName raises eagerly (before any write/commit) on
            # incompatible column types — replay batch-at-a-time so the
            # promotion ladder can widen the schema between merges
            if type(e).__name__ != "AnalysisException":
                raise
            self._txn = None
            for d in dfs[:-1]:
                self.write(d, order_col=order_col)
            self.write(dfs[-1], order_col=order_col, txn=txn)
        finally:
            self._txn = None

    def schema_conflicts(self, dfs: Sequence[DataFrame]) -> "dict[int, ReconcileError]":
        """{index: error} for the batches whose schema would not reconcile
        if ``dfs`` were written in order: each batch's schema is folded
        over the table's (or, for a table not yet created, the first
        batch's) the way sequential writes evolve it, and a batch that
        conflicts is left out of the fold. Nothing is read but the
        manifest."""
        skip = (INSERTED_AT, EPHEMERAL_ORDER)

        def fields(schema: T.StructType) -> T.StructType:
            return T.StructType([f for f in schema.fields if f.name not in skip])

        running = (
            fields(self.table.manifest().schema) if self.table.exists() else None
        )
        out: dict[int, ReconcileError] = {}
        for i, d in enumerate(dfs):
            incoming = fields(d.schema)
            try:
                running = (
                    incoming
                    if running is None
                    else plan_evolution(running, incoming).final_schema
                )
            except ReconcileError as e:
                out[i] = e
        return out

    # ---------- data inlining (lake/inline.py) ----------

    def _maybe_inline_append(self, out: DataFrame, df: DataFrame, manifest):
        """Inline-or-flush decision for an append on an opted-in table
        (``write.inlining.row.limit`` tblproperty; lake/inline.py).

        → (handled, out, manifest). handled=True means the batch was
        committed here — either as a metadata-only inline commit (ONE
        manifest PUT, no Spark write job, no parquet file) or, when the
        accumulated buffer would overflow the limit, as a FLUSH commit
        that lands buffer + batch together in real files. Both branches
        run under the table lock with replan-on-advance, so concurrent
        inline appends stack instead of losing rows."""
        from .inline import encode_table, inline_state, table_inline_limit

        limit = table_inline_limit(manifest)
        if limit is None:
            return False, out, manifest
        # zero-job driver-side eval for LocalRelation-folded micro-
        # batches (the inline trickle shape) — tried FIRST: their data
        # already sits in the driver, and the optimizer reports an
        # 8-EiB unknown-size sentinel for RDD-backed local frames that
        # would otherwise defeat the estimate gate. The row-limit check
        # below rejects oversized results either way.
        with REGISTRY.timer("append.inlineEval"):
            from .relation_cache import local_plan_arrow

            tbl = local_plan_arrow(out)
        if tbl is None:
            # fast reject on a RELIABLE big estimate; unknown estimates
            # fall through to the bounded probe instead
            try:
                est = int(
                    out._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
                )
            except Exception:
                est = None
            if est is not None and (1 << 60) > est > self.ARROW_APPEND_MAX_BYTES:
                return False, out, manifest
            # bounded probe: collect at most limit+1 rows — CollectLimit
            # short-circuits, so a huge append pays one cheap partial
            # scan, a tiny one IS fully collected right here
            with REGISTRY.timer("append.inlineEval"):
                tbl = out.limit(limit + 1).toArrow()
        if tbl.num_rows == 0 or tbl.num_rows > limit:
            return False, out, manifest
        with self.table.lock():
            if self._chain_advanced(manifest.version):
                manifest = self.table.manifest()
            blobs, pending = inline_state(manifest)
            schema = _logical_schema_of_batch(df, manifest)
            if pending + tbl.num_rows <= limit:
                with REGISTRY.timer("append.inlineCommit"):
                    self._commit_next(
                        manifest,
                        manifest.files,
                        schema,
                        manifest.file_stats,
                        op="INSERT_INLINE",
                        extra_props={
                            "inlined": {
                                "ipc": blobs + [encode_table(tbl)],
                                "rows": pending + tbl.num_rows,
                            }
                        },
                    )
                return True, out, manifest
            # overflow → flush buffer + batch as real files, ONE commit
            with REGISTRY.timer("append.inlineFlush"):
                self._flush_locked(manifest, schema, extra=out)
            return True, out, manifest

    def _flush_locked(
        self, manifest: Manifest, schema, extra: DataFrame | None = None
    ) -> None:
        """Write the pending inline buffer (+ optionally one more
        physical batch frame) as real data files and clear the buffer —
        caller holds the table lock."""
        from .inline import inline_rows_df

        pend = inline_rows_df(
            self.table.spark, manifest, self.table.read_schema(manifest)
        )
        frames = [f for f in (pend, extra) if f is not None]
        if not frames:
            return
        combined = frames[0]
        for f in frames[1:]:
            combined = combined.unionByName(f, allowMissingColumns=True)
        new_files, new_stats = self.table.write_data_files(
            combined, manifest.version + 1, layout="rebalance",
            manifest=manifest,
        )
        files = {k: list(v) for k, v in manifest.files.items()}
        for k, paths in new_files.items():
            files.setdefault(k, []).extend(paths)
        stats = dict(manifest.file_stats)
        stats.update(new_stats)
        self._commit_next(
            manifest, files, schema,
            stats, op="FLUSH_INLINED", extra_props={"inlined": {}},
        )

    def flush_inlined(self) -> int:
        """``ducklake_flush_inlined_data()`` parity: materialize the
        pending inline buffer into real parquet files (one commit) and
        empty it. Returns the number of rows flushed (0 = no-op)."""
        from .inline import inline_state

        if not self.table.exists():
            return 0
        with self.table.lock():
            manifest = self.table.manifest()
            blobs, pending = inline_state(manifest)
            if not blobs:
                return 0
            schema = T.StructType(
                [f for f in manifest.schema.fields if f.name != INSERTED_AT]
            )
            self._flush_locked(manifest, schema)
            return pending

    def _flush_inline_locked(self, manifest: Manifest) -> Manifest:
        """Flush-first hook for locked rewrite operations (UPDATE /
        DELETE): their planning is file-based, so pending inlined rows
        must become file rows before the operation can see them. Caller
        holds the table lock and passes its already-resolved manifest —
        the clean path (no buffer) costs ZERO extra metadata reads; the
        flush path commits once and re-resolves."""
        from .inline import inline_state

        if not inline_state(manifest)[0]:
            return manifest
        schema = T.StructType(
            [f for f in manifest.schema.fields if f.name != INSERTED_AT]
        )
        self._flush_locked(manifest, schema)
        return self.table.manifest()

    def delete_where(self, predicate: str) -> None:
        """Predicate DELETE (``DELETE FROM t WHERE p``): only files whose
        stats admit a match are rewritten with the surviving rows;
        everything else carries its immutable files into the next
        snapshot. Same manifest-prune machinery as MERGE — at scale this
        touches exactly the partitions/files the predicate can reach.
        (The reference has no DELETE; CDC-style per-key deletes go
        through merge(tombstone_col=...) instead.)

        Under ``write.merge.mode=merge-on-read`` the delete commits only
        a PK tombstone file for the matching VISIBLE rows — no file is
        rewritten (lake/mor.py); OPTIMIZE materializes later."""
        from .mor import MODE_MOR, resolve_merge_mode

        with REGISTRY.timer("deleteWhere"), self.table.lock():
            manifest = self._flush_inline_locked(self.table.manifest())
            affected, _ = self.table.prune_files(predicate, manifest=manifest)
            if not affected:
                return
            if self.pk and resolve_merge_mode(manifest, self.merge_mode) == MODE_MOR:
                self._delete_where_mor(manifest, affected, predicate)
                return
            survivors = self._read_files(manifest, affected).filter(
                f"NOT ({predicate}) OR ({predicate}) IS NULL"
            )
            new_files, new_stats = self.table.write_data_files(
                survivors, manifest.version + 1,
                layout=self._rewrite_layout(manifest, affected),
                manifest=manifest,
            )
            dropped = set(affected)
            files = {
                k: [f for f in v if f not in dropped]
                for k, v in manifest.files.items()
            }
            files = {k: v for k, v in files.items() if v}
            for k, v in new_files.items():
                files.setdefault(k, []).extend(v)
            stats = {
                f: s for f, s in manifest.file_stats.items() if f not in dropped
            }
            stats.update(new_stats)
            self.table._commit(
                Manifest(
                    version=manifest.version + 1,
                    schema=manifest.schema,
                    pk=manifest.pk,
                    partition_spec=manifest.partition_spec,
                    files=files,
                    parent=manifest.version,
                    props={**manifest.props, "last_op": "DELETE"},
                    file_stats=stats,
                ),
                parent_manifest=manifest,
            )

    def _delete_where_mor(
        self, manifest: Manifest, affected: list[str], predicate: str
    ) -> None:
        """Tombstone-only DELETE (caller holds the table lock): the pks
        of visible rows matching ``predicate`` inside the pruned file
        set become one tombstone file; data files are untouched."""
        from .mor import mor_state, write_tombstones
        from .table import Manifest as _M

        keys = (
            self._read_files(manifest, affected)
            .filter(predicate)
            .select(*self.pk)
            .distinct()
        )
        v = manifest.version + 1
        tomb_rel, meta = write_tombstones(self.table, keys, manifest, v)
        if meta["rows"] == 0:
            # stats admitted a match but no row actually matched: drop
            # the staged empty tombstone, commit nothing
            self.table.fs.delete(
                os.path.join(self.table.dir, tomb_rel), missing_ok=True
            )
            return
        seq_map, deletes = mor_state(manifest)
        deletes = {**deletes, tomb_rel: meta}
        self.table._commit(
            _M(
                version=v,
                schema=manifest.schema,
                pk=manifest.pk,
                partition_spec=manifest.partition_spec,
                files=manifest.files,
                parent=manifest.version,
                props={
                    **manifest.props,
                    "mor": {"seq": seq_map, "deletes": deletes},
                    "last_op": "DELETE(MOR)",
                },
                file_stats=manifest.file_stats,
            ),
            parent_manifest=manifest,
        )

    def update_where(self, predicate: str, assignments: dict[str, str]) -> None:
        """Predicate UPDATE (``UPDATE t SET c = expr WHERE p``): files
        whose stats admit a match are rewritten with SET expressions
        applied to matching rows; non-matching rows and untouched files
        pass through byte-identical. PK columns cannot be assigned —
        rewriting keys inside a subset of files could create duplicate
        PKs against rows in files the predicate never touched (use
        merge()/delete for key changes). Same prune machinery as
        delete_where: cost ∝ files the predicate can reach."""
        bad = [c for c in assignments if c in (self.pk or [])]
        if bad:
            raise ValueError(f"update_where cannot assign PK column(s) {bad}")
        with REGISTRY.timer("updateWhere"), self.table.lock():
            manifest = self._flush_inline_locked(self.table.manifest())
            # partition source/output columns are immutable under UPDATE:
            # moving a row between partition dirs is a merge-shaped
            # operation (delete + reinsert), not an in-place file rewrite
            part_cols = {
                c
                for e in manifest.partition_exprs
                for c in (e.column, e.output_name)
            }
            bad = [c for c in assignments if c in part_cols]
            if bad:
                raise ValueError(
                    f"update_where cannot assign partition column(s) {bad}"
                )
            unknown = [
                c
                for c in assignments
                if c not in manifest.schema.fieldNames()
            ]
            if unknown:
                raise ValueError(f"update_where: unknown column(s) {unknown}")
            affected, _ = self.table.prune_files(predicate, manifest=manifest)
            if not affected:
                return
            from .mor import MODE_MOR, resolve_merge_mode

            if self.pk and resolve_merge_mode(manifest, self.merge_mode) == MODE_MOR:
                self._update_where_mor(manifest, affected, predicate, assignments)
                return
            src = self._read_files(manifest, affected)
            cond = F.expr(predicate)
            rewritten = src.select(
                *[
                    F.when(cond, F.expr(assignments[c]).cast(src.schema[c].dataType))
                    .otherwise(F.col(c))
                    .alias(c)
                    if c in assignments
                    else F.col(c)
                    for c in src.columns
                ]
            )
            # SET expressions must not commit rows that append()/merge()
            # would have rejected — validate the rewritten rows against
            # the table's CHECK constraints before any file is written.
            self._enforce_constraints(rewritten, manifest)
            new_files, new_stats = self.table.write_data_files(
                rewritten, manifest.version + 1,
                layout=self._rewrite_layout(manifest, affected),
                manifest=manifest,
            )
            dropped = set(affected)
            files = {
                k: [f for f in v if f not in dropped]
                for k, v in manifest.files.items()
            }
            files = {k: v for k, v in files.items() if v}
            for k, v in new_files.items():
                files.setdefault(k, []).extend(v)
            stats = {
                f: s for f, s in manifest.file_stats.items() if f not in dropped
            }
            stats.update(new_stats)
            self.table._commit(
                Manifest(
                    version=manifest.version + 1,
                    schema=manifest.schema,
                    pk=manifest.pk,
                    partition_spec=manifest.partition_spec,
                    files=files,
                    parent=manifest.version,
                    props={**manifest.props, "last_op": "UPDATE"},
                    file_stats=stats,
                ),
                parent_manifest=manifest,
            )

    def _update_where_mor(
        self,
        manifest: Manifest,
        affected: list[str],
        predicate: str,
        assignments: dict[str, str],
    ) -> None:
        """Merge-on-read UPDATE (caller holds the table lock): the
        visible rows matching ``predicate`` are re-emitted with SET
        expressions applied as a DELTA file, their pks as a TOMBSTONE —
        cost O(matched rows), no file rewritten. The delta and tombstone
        share one seq, so the delta is never self-suppressed."""
        from .mor import mor_state, write_tombstones

        src = self._read_files(manifest, affected).filter(predicate)
        delta = src.select(
            *[
                F.expr(assignments[c]).cast(src.schema[c].dataType).alias(c)
                if c in assignments
                else F.col(c)
                for c in src.columns
            ]
        )
        self._enforce_constraints(delta, manifest)
        v = manifest.version + 1
        new_files, new_stats = self.table.write_data_files(
            # the delta is a filtered sliver of the affected files —
            # 'natural' emitted one near-empty file per scan task
            delta, v, layout=self._rewrite_layout(manifest, affected),
            manifest=manifest,
        )
        n_rows = sum(int(s.get("__rows") or 0) for s in new_stats.values())
        if n_rows == 0:
            for k, paths in new_files.items():
                for f in paths:
                    self.table.fs.delete(
                        os.path.join(self.table.dir, f), missing_ok=True
                    )
            return
        tomb_rel, meta = write_tombstones(
            self.table, src.select(*self.pk).distinct(), manifest, v
        )
        seq_map, deletes = mor_state(manifest)
        for paths in new_files.values():
            for f in paths:
                seq_map[f] = v
        deletes = {**deletes, tomb_rel: meta}
        files = {k: list(paths) for k, paths in manifest.files.items()}
        for k, paths in new_files.items():
            files.setdefault(k, []).extend(paths)
        self.table._commit(
            Manifest(
                version=v,
                schema=manifest.schema,
                pk=manifest.pk,
                partition_spec=manifest.partition_spec,
                files=files,
                parent=manifest.version,
                props={
                    **manifest.props,
                    "mor": {"seq": seq_map, "deletes": deletes},
                    "last_op": "UPDATE(MOR)",
                },
                file_stats={**manifest.file_stats, **new_stats},
            ),
            parent_manifest=manifest,
        )

    def append(self, df: DataFrame, txn: tuple[str, int] | None = None) -> None:
        if self.txn_applied(txn):
            return
        if txn is not None:
            self._txn = txn
        try:
            with REGISTRY.timer("simpleInsert"):
                self._append(df)
        finally:
            if txn is not None:
                self._txn = None

    def overwrite(self, df: DataFrame, txn: tuple[str, int] | None = None) -> None:
        """INSERT OVERWRITE: ONE commit whose file set is exactly this
        batch's files — an atomic replace (a reader sees the old content
        or the new, never an empty in-between, unlike truncate+insert),
        with full history preserved for time travel. Schema evolution
        applies the same as append (the batch's schema conforms/widens
        the manifest's)."""
        if self.txn_applied(txn):
            return
        if txn is not None:
            self._txn = txn
        try:
            with REGISTRY.timer("insertOverwrite"):
                # one manifest resolve: enforcement reuses the planning
                # manifest; a violating first batch still rejects BEFORE
                # auto-create (no stored constraints can exist then)
                if self.table.exists():
                    manifest = self.table.manifest()
                    df = self._apply_sequence_defaults(df, manifest)
                    self._enforce_constraints(df, manifest)
                else:
                    self._enforce_constraints(df, None)
                    manifest = self._ensure_table(df)
                out = self._prepare_insert(df, manifest)
                with self.table.lock():
                    # re-resolve only if a commit landed since planning
                    if self._chain_advanced(manifest.version):
                        manifest = self.table.manifest()
                    new_files, new_stats = self.table.write_data_files(
                        out,
                        manifest.version + 1,
                        layout="rebalance",
                        manifest=manifest,
                    )
                    # OVERWRITE replaces the table's whole content — any
                    # pending inline buffer is part of that content and
                    # empties here (no flush: the rows are superseded)
                    self._commit_next(
                        manifest,
                        new_files,
                        _logical_schema_of_batch(df, manifest),
                        new_stats,
                        op="INSERT_OVERWRITE",
                        extra_props={"inlined": {}},
                    )
        finally:
            if txn is not None:
                self._txn = None

    def _append(self, df: DataFrame) -> None:
        # one manifest resolve: enforcement reuses the planning manifest
        if self.table.exists():
            manifest = self.table.manifest()
            df = self._apply_sequence_defaults(df, manifest)
            self._enforce_constraints(df, manifest)
        else:
            self._enforce_constraints(df, None)
            manifest = self._ensure_table(df)
        out = self._prepare_insert(df, manifest)
        handled, out, manifest = self._maybe_inline_append(out, df, manifest)
        if handled:
            return
        if self._append_small_arrow(out, df, manifest):
            return
        with self.table.lock():
            # re-resolve only if a commit landed since planning
            if self._chain_advanced(manifest.version):
                manifest = self.table.manifest()
            new_files, new_stats = self.table.write_data_files(
                out, manifest.version + 1, layout="rebalance",
                manifest=manifest,
            )
            merged_files = {k: list(v) for k, v in manifest.files.items()}
            for k, paths in new_files.items():
                merged_files.setdefault(k, []).extend(paths)
            stats = dict(manifest.file_stats)
            stats.update(new_stats)
            self._commit_next(
                manifest, merged_files, _logical_schema_of_batch(df, manifest), stats,
                op="INSERT",
            )
        self._maybe_auto_compact(merged_files, stats)

    # Appends whose optimizer-estimated batch size is at or below this
    # take the driver-side Arrow path: ONE Spark job (toArrow), then the
    # partition split, parquet write, stats harvest, and commit happen
    # in-process — the same latency shape as _merge_small_table_arrow.
    # Large appends never reach it, and any doubt (escaped partition
    # tokens, nulls in partition values, harvest failure) falls back to
    # the Spark write path.
    ARROW_APPEND_MAX_BYTES = 16 * 1024 * 1024
    _SIMPLE_TOKEN = re.compile(r"^[A-Za-z0-9._-]+$")

    def _append_small_arrow(self, out: DataFrame, df: DataFrame, manifest) -> bool:
        """Driver-side Arrow append for small batches. Returns True when
        the batch was written and committed; False → Spark path runs."""
        import datetime
        import uuid as _uuid

        try:
            import pyarrow as pa
            import pyarrow.parquet as pq

            from .relation_cache import local_plan_arrow
            from .table import _harvest_one, _stats_columns, _bloom_column

            with REGISTRY.timer("append.arrowBatchEval"):
                # LocalRelation-folded micro-batches evaluate driver-
                # side with ZERO Spark jobs (~10 vs ~85 ms) — tried
                # FIRST because their data already sits in the driver
                # (and an RDD-backed local frame reports an unknown-
                # size sentinel that would wrongly fail the gate).
                # Everything else gates on the optimizer estimate, with
                # the same gated coalesce as the Arrow merge path: a
                # small batch often arrives in 32 near-empty map
                # partitions and collecting them is pure task-
                # scheduling overhead (~60→35 ms measured); only plans
                # the optimizer thinks are tiny qualify, so compute-
                # heavy pipelines keep their parallelism.
                batch = local_plan_arrow(out)
                if batch is not None:
                    if batch.nbytes > self.ARROW_APPEND_MAX_BYTES:
                        return False  # one huge file helps nobody
                else:
                    est = int(
                        out._jdf.queryExecution()
                        .optimizedPlan()
                        .stats()
                        .sizeInBytes()
                    )
                    if est > self.ARROW_APPEND_MAX_BYTES:
                        return False
                    eval_df = (
                        out.coalesce(4)
                        if est <= EVAL_COALESCE_MAX_BYTES
                        else out
                    )
                    batch = eval_df.toArrow()  # the ONE Spark job
            if batch.num_rows == 0:
                return False
            exprs = manifest.partition_exprs
            part_cols = [e.output_name for e in exprs]
            dir_names = [e.dir_name for e in exprs]
            # partition → row-index groups, with dir tokens formatted the
            # way Spark's partitionBy would write them (fall back on any
            # token needing Hive escaping or a null partition value)
            groups: dict[str, list[int]] = {}
            if exprs:
                cols = [batch.column(c).to_pylist() for c in part_cols]
                for i in range(batch.num_rows):
                    toks = []
                    for vals in cols:
                        t = canon_partition_value(vals[i])
                        if t is None or not self._SIMPLE_TOKEN.match(t):
                            return False
                        toks.append(t)
                    key = "/".join(
                        f"{d}={t}" for d, t in zip(dir_names, toks)
                    )
                    groups.setdefault(key, []).append(i)
            else:
                groups[""] = list(range(batch.num_rows))
            # match the Spark reader/writer: timestamps as MICROS
            out_fields = [
                pa.field(f.name, pa.timestamp("us", tz=f.type.tz))
                if pa.types.is_timestamp(f.type)
                else f
                for f in batch.schema
            ]
            batch = batch.cast(pa.schema(out_fields))
            stat_cols = _stats_columns(out.schema, self.pk)
            bloom_col = _bloom_column(out.schema, self.pk)
            # write boundary of metadata-only RENAME COLUMN: files carry
            # PHYSICAL names (zero-copy pyarrow rename — the Arrow path
            # stays live after a rename), manifest stats stay logical
            ren = manifest.column_renames
            inv_ren = {p: l for l, p in ren.items()}
            if ren:
                batch = batch.rename_columns(
                    [ren.get(n, n) for n in batch.schema.names]
                )
                stat_cols = [ren.get(c, c) for c in stat_cols]
                bloom_col = ren.get(bloom_col, bloom_col) if bloom_col else None
        except Exception:
            REGISTRY.inc("append.arrowFallback")
            return False
        # From here the commit is the point of no return: once
        # _commit_next succeeds, NO exception may reach the caller's
        # fallback — the Spark path would re-append the same batch
        # (append, unlike the Arrow merge path, is not idempotent on
        # retry). Pre-commit failures still fall back cleanly.
        committed = False
        try:
            with self.table.lock():
                current = self.table.manifest()
                if current.column_renames != ren:
                    # a RENAME COLUMN landed after the batch was prepared
                    # — physical names are stale; let the Spark path
                    # re-read and translate
                    REGISTRY.inc("append.arrowFallback")
                    return False
                stage_rel = os.path.join(
                    "data", f"s{current.version + 1}-{_uuid.uuid4().hex[:8]}"
                )
                new_files: dict[str, list[str]] = {}
                new_stats: dict = {}
                with REGISTRY.timer("append.arrowWrite"):
                    for part_key, idxs in groups.items():
                        rel_dir = (
                            os.path.join(stage_rel, part_key)
                            if part_key
                            else stage_rel
                        )
                        self.table.fs.ensure_dir(
                            os.path.join(self.table.dir, rel_dir)
                        )
                        fn = f"part-00000-{_uuid.uuid4().hex[:8]}.parquet"
                        rel_file = os.path.join(rel_dir, fn)
                        abs_file = os.path.join(self.table.dir, rel_file)
                        sub = (
                            batch
                            if len(groups) == 1
                            else batch.take(pa.array(idxs))
                        )
                        pq.write_table(
                            sub, abs_file,
                            compression=manifest.props.get(
                                "tblproperties", {}
                            ).get("write.compression", "snappy"),
                        )
                        new_files.setdefault(part_key, []).append(rel_file)
                        s = _harvest_one(abs_file, stat_cols, bloom_col)
                        if s:
                            new_stats[rel_file] = (
                                {inv_ren.get(c, c): v for c, v in s.items()}
                                if inv_ren
                                else s
                            )
                merged_files = {k: list(v) for k, v in current.files.items()}
                for k, paths in new_files.items():
                    merged_files.setdefault(k, []).extend(paths)
                stats = dict(current.file_stats)
                stats.update(new_stats)
                self._commit_next(
                    current,
                    merged_files,
                    _logical_schema_of_batch(df, current),
                    stats,
                    op="INSERT",
                )
                committed = True
        except Exception:
            if committed:
                raise
            REGISTRY.inc("append.arrowFallback")
            return False
        # Post-commit, outside the try: a compaction failure propagates
        # (same as the Spark path) instead of triggering a duplicate
        # append via the False fallback.
        self._maybe_auto_compact(merged_files, stats)
        return True

    def _maybe_auto_compact(self, files: dict, stats: dict) -> None:
        """Post-commit trigger (runs OUTSIDE the table lock — compact
        takes it afresh, so a concurrent writer just wins the race and
        the next commit re-triggers). The check is driver-side over the
        manifest dicts already in hand: zero I/O unless it fires."""
        if not self.auto_compact:
            return
        for v in files.values():
            small = sum(
                1
                for f in v
                if int((stats.get(f) or {}).get("__bytes") or 0)
                < AUTO_COMPACT_SMALL_BYTES
            )
            if small > AUTO_COMPACT_MIN_FILES:
                from .maintenance import compact

                with REGISTRY.timer("autoCompact"):
                    compact(
                        self.table,
                        max_files_per_partition=AUTO_COMPACT_MIN_FILES,
                        small_file_bytes=AUTO_COMPACT_SMALL_BYTES,
                    )
                return

    def merge(
        self,
        df: DataFrame,
        order_col: str | None = None,
        tombstone_col: str | None = None,
    ) -> None:
        """Upsert ``df`` by PK. With ``tombstone_col`` (boolean), rows
        flagged true DELETE their key instead — the CDC extension the
        reference lacks (SURVEY §2.G: null-valued records are not
        deletes there). Tombstones participate in last-write-wins
        ordering, so delete-then-reinsert within a batch resolves by
        ``order_col``."""
        with REGISTRY.timer("upsertWithMergeInto"):
            self._merge(df, order_col, tombstone_col)

    def merge_many(
        self,
        batches: Sequence[DataFrame],
        order_col: str | None = None,
        tombstone_col: str | None = None,
    ) -> None:
        """Group commit: apply N queued micro-batches as ONE merge — one
        planning pass, one write job, one commit — amortizing the fixed
        per-merge overhead (cache materialization, planning collect,
        write-job scheduling, commit) that dominates small-batch MERGE
        latency. Equivalent to merging the batches sequentially: a later
        batch beats an earlier one on the same key, and within a batch
        last-write-wins by ``order_col`` / arrival — enforced by an
        ephemeral ``struct(batch_ordinal, order)`` column that rides the
        merge but never enters the table schema. Batches must be
        column-type-compatible (unionByName null-fills missing columns;
        cross-batch type promotion should go through separate merges)."""
        batches = [b for b in batches if b is not None]
        if not batches:
            return
        if len(batches) == 1 and order_col is not None:
            # single batch: the plain path needs no ephemeral ordinal
            with REGISTRY.timer("upsertWithMergeInto"):
                self._merge(batches[0], order_col, tombstone_col)
            return
        with REGISTRY.timer("upsertWithMergeInto"):
            tagged = []
            for i, b in enumerate(batches):
                inner = (
                    F.col(order_col)
                    if order_col
                    else F.monotonically_increasing_id()
                )
                tagged.append(
                    b.withColumn(
                        EPHEMERAL_ORDER,
                        F.struct(F.lit(i).alias("s"), inner.alias("o")),
                    )
                )
            u = tagged[0]
            for t in tagged[1:]:
                u = u.unionByName(t, allowMissingColumns=True)
            self._merge(u, order_col=EPHEMERAL_ORDER, tombstone_col=tombstone_col)

    def _chain_advanced(self, planned_version: int) -> bool:
        """Stale-plan check under the table lock: has the chain moved
        past the manifest this write planned against?

        Compares the PHYSICAL tip first (cheap pointer/LIST read — the
        common path). When they differ, the tip may merely be held by a
        foreign open transaction (lake/txn.py) whose versions are
        invisible — replanning would spin forever because the VISIBLE
        manifest never advances; in that case report not-stale and let
        the commit CAS raise TxnInProgress with the remedy instead."""
        if self.table.current_version() == planned_version:
            return False
        return self.table.visible_version() != planned_version

    def _merge(
        self,
        df: DataFrame,
        order_col: str | None = None,
        tombstone_col: str | None = None,
    ) -> None:
        if not self.pk:
            raise ValueError(f"merge() on table {self.table.name} requires pk columns")
        ephemeral_order = order_col == EPHEMERAL_ORDER
        # one manifest resolve: the pre-lock planning manifest doubles as
        # the constraint source and seeds the FIRST _merge_once attempt
        # (replans after a commit conflict re-resolve, as they must)
        pre = self.table.manifest() if self.table.exists() else None
        # merge planning is file-based: pending inlined rows must become
        # file rows first or a matching source row would duplicate
        # instead of updating (lake/inline.py)
        from .inline import inline_state

        if pre is not None and inline_state(pre)[0]:
            self.flush_inlined()
            pre = self.table.manifest()
        df = self._apply_sequence_defaults(df, pre)
        # tombstoned rows are DELETES — they carry no insertable values,
        # so constraints (incl. NOT NULL) must not judge them: a narrow
        # pk-only delete batch against a NOT NULL table is legitimate
        dedup_order = order_col if ephemeral_order else None
        if tombstone_col and tombstone_col in df.columns:
            self._enforce_constraints(
                df.filter(~F.coalesce(F.col(tombstone_col), F.lit(False))),
                pre,
                dedup_order,
            )
        else:
            self._enforce_constraints(df, pre, dedup_order)
        # The rewrite set is planned against a manifest read OUTSIDE the
        # table lock; if another commit lands before this merge takes the
        # lock, the planned file list is stale (re-emitting rows a
        # concurrent compaction already rewrote would duplicate them) —
        # so the commit re-checks the version under the lock and replans.
        retries = max(1, self.max_retry_count)
        for attempt in range(retries):
            if self._merge_once(
                df, order_col, tombstone_col, ephemeral_order,
                manifest=pre if attempt == 0 else None,
            ):
                return
            REGISTRY.inc("merge.commitConflictReplans")
        raise CommitConflict(
            f"merge on {self.table.name}: manifest advanced during planning "
            f"{retries} times (max_retry_count={self.max_retry_count})"
        )

    def _merge_once(
        self,
        df: DataFrame,
        order_col: str | None,
        tombstone_col: str | None,
        ephemeral_order: bool = False,
        manifest=None,
    ) -> bool:
        # ephemeral order columns never enter the table schema
        drop_for_schema = [c for c in (tombstone_col,) if c]
        if ephemeral_order and order_col:
            drop_for_schema.append(order_col)
        payload = df.drop(*drop_for_schema) if drop_for_schema else df
        if manifest is None:
            manifest = self._ensure_table(payload)
        planned_version = manifest.version
        final_logical = _logical_schema_of_batch(payload, manifest)
        exprs = manifest.partition_exprs
        part_cols = partition_column_names(exprs)

        from .mor import MODE_MOR, resolve_merge_mode

        if self.pk and resolve_merge_mode(manifest, self.merge_mode) == MODE_MOR:
            return self._merge_mor_once(
                df, manifest, planned_version, final_logical, exprs,
                part_cols, order_col, tombstone_col, ephemeral_order,
            )

        # ---- small-table fast path: zero planning jobs ----
        # While the whole table fits a few small files in at most ONE
        # partition dir, pruning machinery has nothing to prune: rewrite
        # everything through ONE window-merge job (DuckDB's MERGE
        # effectively rewrites such tables too). No cache, no planning
        # aggregate, no bloom probe — the merge IS the write job. Multi-
        # partition tables always take the pruning path below, preserving
        # the untouched-partitions-keep-their-files contract.
        n_files_total = sum(len(v) for v in manifest.files.values())
        if (
            self.small_table_fast_path
            and len(manifest.files) <= 1
            and n_files_total <= MERGE_SMALL_MANIFEST_FILES
        ):
            table_bytes = sum(
                int((manifest.file_stats.get(f) or {}).get("__bytes") or MERGE_SMALL_TABLE_BYTES)
                for f in manifest.all_files()
            )
            # No rows gate here: a measured 110k-row/2 MB table merges in
            # ~1.0 s via this single-job rewrite-all vs ~2.0 s through the
            # pruning path (planning collect + bloom probe + range-split
            # write are three extra jobs that dwarf the rows saved at
            # this size). Bytes is the right proxy for when pruning wins.
            if table_bytes <= MERGE_SMALL_TABLE_BYTES:
                return self._merge_small_table(
                    df, manifest, planned_version, final_logical, exprs,
                    part_cols, order_col, tombstone_col, ephemeral_order,
                )

        if tombstone_col:
            # Tombstones need last-write-wins resolution BEFORE the
            # live/dead split (delete-then-reinsert resolves by order),
            # so this rarer path pays the dedup shuffle eagerly.
            src0 = _dedup_last_wins(df, self.pk, order_col)
            flag = F.coalesce(F.col(tombstone_col), F.lit(False))
            dead = src0.filter(flag).drop(tombstone_col)
            src0 = src0.filter(~flag).drop(tombstone_col)
            raw = _conform(src0, final_logical, defaults=column_defaults(manifest))
            np_cap = self.table.spark.sparkContext.defaultParallelism
            raw = with_partition_columns(raw, exprs).coalesce(np_cap).cache()
            src = raw
            dead_conf = _conform(dead, final_logical)
        else:
            # Hot path: cache the batch UN-deduped and run the planning
            # aggregate straight over it (no shuffle barrier inside the
            # blocking planning job). Duplicate keys only widen bounds /
            # add partition values — conservative for planning — and the
            # dedup window runs lazily inside the write job instead,
            # where its shuffle overlaps the rest of the plan.
            extra = (order_col,) if ephemeral_order and order_col else ()
            raw = _conform(
                df, final_logical, extra=extra,
                defaults=column_defaults(manifest),
            )
            # cap the batch's partition count at the session's parallelism:
            # a merge_many union of N micro-batches arrives with N×32 tiny
            # upstream partitions, and every downstream stage (planning
            # agg, window, write) would schedule one task per partition —
            # measured 321-task write jobs at ~3 s pure scheduling. A
            # coalesce never increases partition count, so normal batches
            # are untouched.
            np_cap = self.table.spark.sparkContext.defaultParallelism
            raw = with_partition_columns(raw, exprs).coalesce(np_cap).cache()
            src = _dedup_last_wins(raw, self.pk, order_col)
            dead = dead_conf = None
        # One row per PK after dedup, and the live/dead split is disjoint
        # — the key frames below are already distinct, no dedup shuffle.
        live_keys = src.select(*self.pk)
        src_keys = (
            live_keys.unionByName(dead_conf.select(*self.pk))
            if dead_conf is not None
            else live_keys
        )

        # ---- the ONE planning job ----
        # A single JVM-side aggregate over the cached source yields exact
        # row count, pk[0] bounds, and the batch's partition-value set —
        # replacing the former bounds-agg + partition-distinct job chain
        # (every extra driver-blocking job is ~100+ ms of scheduling on a
        # micro-batch). The collect also materializes the cache the write
        # job reuses. Dead (tombstone) rows count toward bounds/keys but
        # contribute no partition values (their old copies may live
        # anywhere; the overlap probe finds them).
        pk0 = self.pk[0]
        probe = raw.select(
            F.lit(True).alias("__live"),
            F.col(pk0).alias("__k"),
            *[F.col(c) for c in part_cols],
        )
        if dead_conf is not None:
            probe = probe.unionByName(
                dead_conf.select(
                    F.lit(False).alias("__live"),
                    F.col(pk0).alias("__k"),
                    *[
                        F.lit(None).cast(src.schema[c].dataType).alias(c)
                        for c in part_cols
                    ],
                )
            )
        agg_cols = [
            F.count(F.lit(1)).alias("n"),
            F.min("__k").alias("lo"),
            F.max("__k").alias("hi"),
            # Fold the bloom-probe key set into this same job (the former
            # separate key-collect was one more ~100+ ms driver-blocking
            # job per merge). slice() caps the transferred array at CAP+1:
            # exactly CAP+1 back means overflow → probing is skipped. NULL
            # keys don't collect_set, so they're counted separately — any
            # NULL key disables probing (a sidecar can't prove absence of
            # a key it never hashed in canonical form).
            F.slice(
                F.collect_set("__k"), 1, MERGE_BLOOM_PROBE_KEYS + 1
            ).alias("ks"),
            F.count(F.when(F.col("__k").isNull(), 1)).alias("null_keys"),
        ]
        if part_cols:
            # collect_set skips NULLs, so non-live rows drop out here
            agg_cols.append(
                F.collect_set(
                    F.when(F.col("__live"), F.struct(*part_cols))
                ).alias("parts")
            )
        with REGISTRY.timer("merge.planAgg"):
            row = one_task_if_small(probe).agg(*agg_cols).collect()[0]
        n_src = row["n"]
        bounds = {"lo": row["lo"], "hi": row["hi"]}
        src_parts = {tuple(p) for p in row["parts"]} if part_cols else set()
        probe_keys = list(row["ks"] or [])
        if row["null_keys"] or len(probe_keys) > MERGE_BLOOM_PROBE_KEYS:
            probe_keys = None  # overflow / NULL key → no bloom probing

        # Micro-batches broadcast (hash-join against only the rewrite
        # files, no shuffle of the table); a bulk backfill batch above
        # the row threshold would OOM the driver as a broadcast, so it
        # degrades to ordinary shuffle joins instead.
        bcast = F.broadcast if n_src <= MERGE_BROADCAST_ROWS else (lambda d: d)

        # ---- file-level pruning on PK range (parquet footer stats) ----
        # A target row can only match a source key if its file's
        # [min, max] of pk[0] overlaps the batch's key range; files
        # without stats are conservatively kept.
        overlap_by_part = {
            k: [f for f in v if _overlaps(manifest.file_stats.get(f), bounds, pk0)]
            for k, v in manifest.files.items()
        }
        # Small batches additionally Bloom-probe the surviving files:
        # after interleaved appends every file's PK range overlaps every
        # batch, but the sidecars prove which files actually hold the
        # keys — the rewrite set shrinks to true containers. The key
        # collect is one small job against the cache, spent only when
        # more than one file survived range pruning; large overlap sets
        # probe executor-side so wall-time stays flat with file count.
        n_overlap = sum(len(v) for v in overlap_by_part.values())
        if probe_keys and n_src > 0 and n_overlap > 1:
            from .bloom import MEMBERSHIP_SPARK_THRESHOLD, membership_filter, membership_filter_spark

            with REGISTRY.timer("merge.bloomProbe"):
                # key set came back with the planning aggregate — the
                # probe itself is sidecar reads only, no extra Spark job
                # below the executor-side threshold
                flat = [f for v in overlap_by_part.values() for f in v]
                abs_paths = [os.path.join(self.table.dir, f) for f in flat]
                if len(flat) > MEMBERSHIP_SPARK_THRESHOLD:
                    kept = membership_filter_spark(self.table.spark, abs_paths, probe_keys)
                else:
                    kept = membership_filter(abs_paths, probe_keys)
            keep = dict(zip(flat, kept))
            overlap_by_part = {
                k: [f for f in v if keep[f]] for k, v in overlap_by_part.items()
            }

        # ---- affected partitions (driver-side partition pruning) ----
        # Both sides of the membership test go through ONE canonical
        # encoding (canon_partition_value / dir_key_to_canon_tuple):
        # Python str() of a boolean/timestamp/escaped value differs from
        # the Hive directory token Spark writes, and a raw-string compare
        # would silently skip partitions (old rows never rewritten →
        # duplicate keys). Tiny manifests skip partition pruning: probing
        # and rewriting every overlap file is cheaper than planning.
        n_files_total = sum(len(v) for v in manifest.files.values())
        if part_cols and n_files_total > MERGE_SMALL_MANIFEST_FILES:
            affected = {
                tuple(canon_partition_value(v) for v in p) for p in src_parts
            }
            # Old copies of updated keys may live in partitions the new
            # rows don't touch (partition-value drift). Only files
            # OUTSIDE the already-affected partitions can add to the
            # rewrite set — scan just those; usually there are none and
            # the probe job is skipped entirely.
            outside_files = [
                f
                for k, v in overlap_by_part.items()
                if dir_key_to_canon_tuple(k, exprs) not in affected
                for f in v
            ]
            if outside_files:
                target_outside = self._read_files(manifest, outside_files)
                matched_parts = (
                    target_outside.select(*self.pk, *part_cols)
                    .join(bcast(src_keys), on=self.pk, how="left_semi")
                    .select(*part_cols)
                    .distinct()
                    .collect()
                )
                affected |= {
                    tuple(canon_partition_value(r[c]) for c in part_cols)
                    for r in matched_parts
                }
            if len(affected) > MAX_PRUNED_PARTITIONS:
                rewrite_files = [f for v in overlap_by_part.values() for f in v]
            else:
                rewrite_files = [
                    f
                    for k, v in overlap_by_part.items()
                    if dir_key_to_canon_tuple(k, exprs) in affected
                    for f in v
                ]
        else:
            # unpartitioned or tiny manifest → every overlapping file
            rewrite_files = [f for v in overlap_by_part.values() for f in v]

        rewrite_set = set(rewrite_files)
        target = self._read_files(manifest, rewrite_files)
        # Conform the target side to the evolved schema too: null-fill
        # added columns, cast widened ones; keep system/partition columns.
        passthrough = [INSERTED_AT] + [c for c in part_cols if c not in final_logical.fieldNames()]
        target = _conform(target, final_logical, extra=passthrough)
        out_cols = (
            [f.name for f in to_physical_schema(final_logical).fields]
            + [INSERTED_AT]
            + [c for c in part_cols if c not in final_logical.fieldNames()]
        )

        # ---- physical strategy: window-merge vs broadcast 3-join ----
        # The rewrite set's size is known from the manifest (__bytes per
        # file). When rewrite ∪ batch fits one output file, a single
        # shuffle of that union through one row_number window resolves
        # the whole merge — no broadcasts, no joins, in-batch dup keys
        # resolved by the same sort, one file written. Above the
        # threshold the broadcast 3-join keeps the (large) target side
        # unshuffled, which is the plan that survives 100 TB.
        est_bytes = self._est_rewrite_bytes(manifest, rewrite_files) + n_src * EST_ROW_BYTES
        small = dead_conf is None and est_bytes <= SMALL_OUTPUT_BYTES
        est_rows = self._est_rewrite_rows(manifest, rewrite_files) + n_src
        # Rows want MANY narrow-range files (pruning); auto-compact wants
        # FEW sub-8 MB files. Its trigger is strictly MORE THAN
        # AUTO_COMPACT_MIN_FILES small files per dir, so up to that many
        # range files may go sub-threshold safely — the former pure
        # rows/32k split emitted 13 × 3.8 MB files for a 51 MB wide-row
        # merge and every commit paid a second full rewrite that also
        # destroyed the range layout's key-disjointness.
        n_out = max(1, min(MERGE_RANGE_MAX_FILES, _range_file_count(est_rows, est_bytes)))
        if small:
            # One output file (n_out == 1 implies a union of at most
            # MERGE_TARGET_FILE_ROWS): the whole merge (rewrite-set scan,
            # batch, window, write) runs as ONE shuffle-free task — one
            # Spark job, the small-table path's shape. Several range
            # files: collapse the (small, cached) batch to one task so
            # every downstream stage schedules 1-2 tasks, not 32
            # near-empty ones.
            merged = _window_merge(
                target,
                raw if n_out == 1 else raw.coalesce(1),
                self.pk,
                out_cols,
                order_col,
                single_partition=n_out == 1,
            )
        else:
            # the three broadcast joins (src deduped lazily here)
            untouched = target.join(bcast(src_keys), on=self.pk, how="left_anti")
            ins_lookup = target.select(*self.pk, INSERTED_AT)
            matched = (
                ins_lookup.join(bcast(src), on=self.pk, how="inner")
                .select(*[F.col(c) for c in src.columns if c != INSERTED_AT], F.col(INSERTED_AT))
            )
            inserts = (
                src.join(bcast(ins_lookup.select(*self.pk)), on=self.pk, how="left_anti")
                .withColumn(INSERTED_AT, F.current_timestamp())
            )
            # The changed side (matched + inserts) is at most n_src rows,
            # but each branch inherits its upstream partitioning — the
            # matched rows land one sliver per rewrite-file scan task and
            # the inserts one per cached batch partition, so every large
            # merge used to emit dozens of KB-class files and immediately
            # trip auto-compact into a SECOND full rewrite (measured:
            # 2.2 s of the 7.6 s wide26 CoW merge was that compaction).
            # Repartitioning just the changed union to batch-sized task
            # counts shuffles only ≤ n_src rows (the untouched side —
            # the heavy one at 100 TB — stays unshuffled) and the merge
            # output comes out right-sized on its own.
            changed = matched.select(
                *[_qcol(c) for c in out_cols]
            ).unionByName(inserts.select(*[_qcol(c) for c in out_cols]))
            if est_bytes > MERGE_REBALANCE_MAX_BYTES:
                # natural-layout write below: collapse only the changed
                # side (the rebalance layout already right-sizes outputs)
                n_changed = max(
                    1, -(-(n_src * EST_ROW_BYTES) // SMALL_OUTPUT_BYTES)
                )
                changed = changed.repartition(n_changed)
            merged = untouched.select(
                *[_qcol(c) for c in out_cols]
            ).unionByName(changed)

        try:
            with self.table.lock():
                # cheap tip check (one tiny LATEST read, not a chain
                # resolve): unchanged version ⇒ the pre-lock planning
                # manifest IS the tip, so reuse it as-is
                if self._chain_advanced(planned_version):
                    return False  # concurrent commit — replan against it
                if small and n_out > 1:
                    # key-disjoint output files: see write_data_files'
                    # range layout (bounded rewrite amplification)
                    new_files, new_stats = self.table.write_data_files(
                        merged, manifest.version + 1,
                        layout="range", range_split=(list(self.pk), n_out),
                        manifest=manifest,
                    )
                else:
                    if small:
                        layout = "natural"  # one file from one task already
                    elif est_bytes <= MERGE_REBALANCE_MAX_BYTES:
                        layout = "rebalance"  # right-sized files, no compact
                    else:
                        layout = "natural"
                    new_files, new_stats = self.table.write_data_files(
                        merged, manifest.version + 1,
                        layout=layout,
                        manifest=manifest,
                    )
                # keep every file that was not rewritten (including
                # non-overlapping files inside affected partitions)
                merged_files = {
                    k: [f for f in v if f not in rewrite_set]
                    for k, v in manifest.files.items()
                }
                merged_files = {k: v for k, v in merged_files.items() if v}
                for k, paths in new_files.items():
                    merged_files.setdefault(k, []).extend(paths)
                stats = {
                    f: s for f, s in manifest.file_stats.items() if f not in rewrite_set
                }
                stats.update(new_stats)
                self._commit_next(manifest, merged_files, final_logical, stats, op="MERGE")
        finally:
            raw.unpersist()
        self._maybe_auto_compact(merged_files, stats)
        return True

    def _merge_mor_once(
        self,
        df: DataFrame,
        manifest: Manifest,
        planned_version: int,
        final_logical: T.StructType,
        exprs,
        part_cols: list[str],
        order_col: str | None,
        tombstone_col: str | None,
        ephemeral_order: bool = False,
    ) -> bool:
        """Merge-on-read upsert (``write.merge.mode=merge-on-read``,
        lake/mor.py): commit the batch's post-image rows as a DELTA file
        and the touched keys as a TOMBSTONE file — no matched file is
        rewritten, so write cost is O(batch) regardless of table width
        or how many files hold the matched keys. The only read of the
        target is a pk+``_inserted_at`` lookup over the range/Bloom-
        pruned overlap files (two columns, not the row width), needed to
        preserve insertion timestamps on updated keys; a provably
        insert-only batch (no overlap survives pruning) reads nothing
        and writes no tombstone at all. The read path reconstructs the
        snapshot by suppressing rows whose pk appears in a LATER
        tombstone; OPTIMIZE materializes the debt."""
        from .mor import (
            MOR_AUTO_MATERIALIZE_DELETES,
            mor_state,
            write_tombstones,
        )

        pk0 = self.pk[0]
        keep_extra = tuple(c for c in (tombstone_col,) if c) + (
            (order_col,) if ephemeral_order and order_col else ()
        )
        src0 = _conform(
            df, final_logical, extra=keep_extra,
            defaults=column_defaults(manifest),
        )
        np_cap = self.table.spark.sparkContext.defaultParallelism
        # delta files must hold exactly ONE row per pk (rows within one
        # commit share a seq, so nothing suppresses an in-batch dup) —
        # dedup eagerly, unlike the COW path where it rides the window
        src0 = _dedup_last_wins(src0.coalesce(np_cap), self.pk, order_col)
        if tombstone_col:
            flag = F.coalesce(F.col(tombstone_col), F.lit(False))
            dead_keys = src0.filter(flag).select(*self.pk)
            live = src0.filter(~flag)
        else:
            dead_keys = None
            live = src0
        if keep_extra:
            live = live.drop(*keep_extra)
        live = with_partition_columns(live, exprs).cache()

        # ---- the ONE planning job (bounds + count + bloom keys) ----
        probe = live.select(F.col(pk0).alias("__k"))
        if dead_keys is not None:
            probe = probe.unionByName(dead_keys.select(F.col(pk0).alias("__k")))
        try:
            with REGISTRY.timer("merge.planAgg"):
                row = probe.agg(
                    F.count(F.lit(1)).alias("n"),
                    F.min("__k").alias("lo"),
                    F.max("__k").alias("hi"),
                    F.slice(
                        F.collect_set("__k"), 1, MERGE_BLOOM_PROBE_KEYS + 1
                    ).alias("ks"),
                    F.count(F.when(F.col("__k").isNull(), 1)).alias("null_keys"),
                ).collect()[0]
            n_src = row["n"]
            if n_src == 0:
                return True  # empty batch: no commit
            bounds = {"lo": row["lo"], "hi": row["hi"]}
            probe_keys = list(row["ks"] or [])
            if row["null_keys"] or len(probe_keys) > MERGE_BLOOM_PROBE_KEYS:
                probe_keys = None

            # ---- overlap files: pk-range stats + Bloom sidecars ----
            overlap_by_part = {
                k: [f for f in v if _overlaps(manifest.file_stats.get(f), bounds, pk0)]
                for k, v in manifest.files.items()
            }
            n_overlap = sum(len(v) for v in overlap_by_part.values())
            if probe_keys and n_overlap > 1:
                from .bloom import (
                    MEMBERSHIP_SPARK_THRESHOLD,
                    membership_filter,
                    membership_filter_spark,
                )

                with REGISTRY.timer("merge.bloomProbe"):
                    flat = [f for v in overlap_by_part.values() for f in v]
                    abs_paths = [os.path.join(self.table.dir, f) for f in flat]
                    if len(flat) > MEMBERSHIP_SPARK_THRESHOLD:
                        kept = membership_filter_spark(
                            self.table.spark, abs_paths, probe_keys
                        )
                    else:
                        kept = membership_filter(abs_paths, probe_keys)
                keep = dict(zip(flat, kept))
                overlap_by_part = {
                    k: [f for f in v if keep[f]]
                    for k, v in overlap_by_part.items()
                }
            overlap = [f for v in overlap_by_part.values() for f in v]

            # ---- post-image composition ----
            if overlap:
                # pk + _inserted_at only: a 2-column pruned scan, never
                # the row width — and visibility-aware, so a key whose
                # only copies are tombstone-suppressed counts as absent
                ins_lookup = (
                    self._read_files(manifest, overlap)
                    .select(*self.pk, F.col(INSERTED_AT).alias("__t_ins"))
                )
                if self._est_rewrite_rows(manifest, overlap) <= MERGE_BROADCAST_ROWS:
                    ins_lookup = F.broadcast(ins_lookup)
                out = (
                    live.join(ins_lookup, on=self.pk, how="left")
                    .withColumn(
                        INSERTED_AT,
                        F.coalesce(F.col("__t_ins"), F.current_timestamp()),
                    )
                    .drop("__t_ins")
                )
                # tombstone only keys that actually MATCH a visible row
                # (plus CDC dead keys below): inserts need no
                # suppression, and at scale an insert-heavy batch must
                # not inflate the standing tombstone set the read path
                # anti-joins against
                matched_keys = live.join(ins_lookup, on=self.pk, how="left_semi")
            else:
                out = live.withColumn(INSERTED_AT, F.current_timestamp())
                matched_keys = None
            out_cols = (
                [f.name for f in to_physical_schema(final_logical).fields]
                + [INSERTED_AT]
                + [c for c in part_cols if c not in final_logical.fieldNames()]
            )
            out = out.select(*[_qcol(c) for c in out_cols])
            est_bytes = n_src * EST_ROW_BYTES
            n_out = max(
                1, min(MERGE_RANGE_MAX_FILES, _range_file_count(n_src, est_bytes))
            )

            with self.table.lock():
                # cheap tip check; unchanged ⇒ planning manifest is tip
                if self._chain_advanced(planned_version):
                    return False  # concurrent commit — replan
                v = manifest.version + 1
                if est_bytes <= SMALL_OUTPUT_BYTES:
                    new_files, new_stats = self.table.write_data_files(
                        out, v, layout="single", manifest=manifest
                    )
                else:
                    new_files, new_stats = self.table.write_data_files(
                        out, v, layout="range",
                        range_split=(list(self.pk), n_out), manifest=manifest,
                    )
                files = {k: list(paths) for k, paths in manifest.files.items()}
                for k, paths in new_files.items():
                    files.setdefault(k, []).extend(paths)
                stats = {**manifest.file_stats, **new_stats}
                seq_map, deletes = mor_state(manifest)
                for paths in new_files.values():
                    for f in paths:
                        seq_map[f] = v
                if overlap:
                    keys = matched_keys.select(*self.pk)
                    if dead_keys is not None:
                        keys = keys.unionByName(dead_keys)
                    tomb_rel, tomb_meta = write_tombstones(
                        self.table, keys, manifest, v
                    )
                    if tomb_meta["rows"] == 0:
                        # no key matched after all (stats/bloom are
                        # conservative): drop the staged empty tombstone
                        self.table.fs.delete(
                            os.path.join(self.table.dir, tomb_rel),
                            missing_ok=True,
                        )
                    else:
                        deletes = {**deletes, tomb_rel: tomb_meta}
                REGISTRY.inc("merge.morCommits")
                self._commit_next(
                    manifest, files, final_logical, stats, op="MERGE(MOR)",
                    extra_props={"mor": {"seq": seq_map, "deletes": deletes}},
                )
        finally:
            live.unpersist()
        # bound read amplification AND per-commit props metadata: past
        # the threshold the debt materializes (visibility-applied full
        # rewrite through compact(); tombstones retire at that commit)
        if self.auto_compact and len(deletes) > MOR_AUTO_MATERIALIZE_DELETES:
            from .maintenance import compact

            with REGISTRY.timer("autoCompact"):
                compact(self.table)
        return True

    def _merge_small_table(
        self,
        df: DataFrame,
        manifest: Manifest,
        planned_version: int,
        final_logical: T.StructType,
        exprs,
        part_cols: list[str],
        order_col: str | None,
        tombstone_col: str | None,
        ephemeral_order: bool = False,
    ) -> bool:
        """Zero-planning-job merge for tables that fit a few small files:
        union(whole table, batch) → one window sweep → rewrite everything.
        Exactly one Spark job (the write); AQE sizes the output files.
        Tombstones ride the same window (a winning tombstone deletes its
        key), so this path needs no eager dedup or live/dead split."""
        extra = tuple(c for c in (tombstone_col,) if c)
        if ephemeral_order and order_col:
            extra = extra + (order_col,)
        # conform + derived partition columns as ONE selectExpr (one
        # Py4J round trip on the per-batch hot path). Derived exprs wrap
        # the conform cast of their source column so they see the same
        # value a post-conform withColumn would.
        proj = _conform_exprs(
            df, final_logical, extra=extra,
            defaults=column_defaults(manifest),
        )
        logical_types = {f.name: f for f in to_physical_schema(final_logical).fields}
        _part_sql = {"year": "year", "month": "month", "day": "dayofmonth"}
        if all(
            (not e.is_derived) or e.column in logical_types for e in exprs
        ):
            for e in exprs:
                if e.is_derived:
                    ddl = logical_types[e.column].dataType.simpleString()
                    proj.append(
                        f"{_part_sql[e.fn]}(CAST({_bt(e.column)} AS {ddl}))"
                        f" AS {_bt(e.output_name)}"
                    )
            raw = df.selectExpr(*proj)
        else:
            raw = with_partition_columns(df.selectExpr(*proj), exprs)
        out_cols = (
            [f.name for f in to_physical_schema(final_logical).fields]
            + [INSERTED_AT]
            + [c for c in part_cols if c not in final_logical.fieldNames()]
        )
        from .mor import mor_state

        if tombstone_col is None and not mor_state(manifest)[1]:
            # the Arrow fast path reads files raw (no tombstone
            # visibility) — a table carrying merge-on-read state takes
            # the Spark window path below, whose _read_files applies it
            done = self._merge_small_table_arrow(
                raw, manifest, planned_version, final_logical,
                exprs, part_cols, order_col, ephemeral_order, out_cols,
            )
            if done is not None:
                return done
        # target is only needed by the Spark window plan — building the
        # read + conform DataFrames costs ~60 ms of Py4J per call, so it
        # waits until the Arrow path has actually declined the batch
        rewrite_files = manifest.all_files()
        target = self._read_files(manifest, rewrite_files)
        passthrough = [INSERTED_AT] + [
            c for c in part_cols if c not in final_logical.fieldNames()
        ]
        target = _conform(target, final_logical, extra=passthrough)
        # single_partition: the whole table is ≤ MERGE_SMALL_TABLE_BYTES
        # by this path's gate, so the union usually fits one task and the
        # merge runs as ONE shuffle-free stage (also subsumes the old
        # coalesce(np_cap) cap on merge_many's N×32 micro-partitions).
        # ADAPTIVE: near the top of the size gate (≳ a few hundred k
        # rows) one serial task becomes the bottleneck — a pk-hash
        # shuffle across cores wins there (measured at the 1M-row sf1
        # rehearsal: 1.65 s serial vs 1.32 s distributed, and the
        # multi-file output reads back faster too).
        # Gate on table AND batch size (mirrors the + n_src term in the
        # pruning path's gate): a huge batch into a small table must not
        # serial-sort the whole union in one task. No planning job here,
        # so the batch side comes from the optimizer's size estimate.
        est_rows = self._est_rewrite_rows(manifest, manifest.all_files())
        try:
            batch_bytes = int(
                raw._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
            )
            est_rows += batch_bytes // EST_ROW_BYTES
        except Exception:
            pass
        merged = _window_merge(
            target, raw, self.pk, out_cols, order_col, dead_col=tombstone_col,
            single_partition=est_rows <= SMALL_MERGE_SINGLE_TASK_ROWS,
        )
        with self.table.lock():
            # cheap tip check; unchanged ⇒ planning manifest is tip
            if self._chain_advanced(planned_version):
                return False  # concurrent commit — replan against it
            current = manifest
            # skip_bloom: a table this small is read whole for any point
            # lookup, so a sidecar buys nothing; once the table graduates
            # past the size gate, the first pruning-path rewrite restores
            # sidecars (missing ones are conservatively kept anyway).
            new_files, new_stats = self.table.write_data_files(
                # single-partition windows emit exactly one right-sized
                # file naturally; the distributed window would emit one
                # sub-MB file per shuffle partition — rebalance those
                merged, current.version + 1,
                layout=(
                    "natural"
                    if est_rows <= SMALL_MERGE_SINGLE_TASK_ROWS
                    else "rebalance"
                ),
                skip_bloom=True,
                manifest=current,
            )
            self._commit_next(current, new_files, final_logical, new_stats, op="MERGE")
        return True

    def _merge_small_table_arrow(
        self,
        raw: DataFrame,
        manifest: Manifest,
        planned_version: int,
        final_logical: T.StructType,
        exprs,
        part_cols: list[str],
        order_col: str | None,
        ephemeral_order: bool,
        out_cols: list[str],
    ):
        """Driver-side Arrow merge for tables the small-table gate already
        proved tiny (≤ MERGE_SMALL_TABLE_BYTES): ONE Spark job evaluates
        the conformed batch (``toArrow``), then the whole merge — union,
        last-write-wins winner selection, ``_inserted_at`` carry-over,
        parquet write, stats harvest — happens in-process. This is the
        latency shape of the reference's MERGE (an in-process DuckDB
        statement, ``ingestor/DucklakeWriter.java:98-187``): a 10k-row
        merge drops from ~0.9 s (Spark plan analysis + codegen + job
        scheduling on every fresh plan) to the batch-evaluation job plus
        ~50 ms of Arrow work. At scale nothing changes — tables past the
        size gate never reach this method, and ANY eligibility doubt
        (multi-dir manifests, batch rows outside the existing partition,
        unsortable order columns, null PKs, schema drift between batch
        and files) returns None → the Spark plan runs instead.

        Returns True (committed), False (version conflict → replan), or
        None (ineligible / any failure → Spark fallback)."""
        import datetime

        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        # metadata-only RENAME COLUMN support: run the merge entirely in
        # LOGICAL column space (targets renamed physical→logical right
        # after the file read, zero-copy), translate back at the write
        # boundary — the fast path stays live after a rename
        ren = manifest.column_renames
        inv_ren = {p: l for l, p in ren.items()}
        try:
            import pandas as pd

            part_keys = list(manifest.files.keys())
            if len(part_keys) > 1:
                return None
            if part_cols and not part_keys:
                return None  # no existing dir token to reuse for new dirs
            part_key = part_keys[0] if part_keys else ""
            with REGISTRY.timer("merge.arrowBatchEval"):
                # coalesce: a small batch often arrives in 32 map
                # partitions; collecting 32 near-empty Arrow streams is
                # pure task-scheduling overhead (~70→30 ms for 10k rows).
                # coalesce merges ADJACENT partitions, so the concat
                # order (the __mono arrival order below) is unchanged.
                # Gate on the optimizer's size estimate: coalescing a
                # COMPUTE-heavy batch (e.g. a JSON-decode pipeline)
                # would serialize that compute onto 4 cores — only
                # plans the optimizer thinks are tiny qualify.
                eval_df = raw
                try:
                    est = int(
                        raw._jdf.queryExecution()
                        .optimizedPlan()
                        .stats()
                        .sizeInBytes()
                    )
                    if est <= EVAL_COALESCE_MAX_BYTES:
                        eval_df = raw.coalesce(4)
                except Exception:
                    pass
                from .relation_cache import local_plan_arrow

                # zero-job eval when the batch folded to a LocalRelation
                batch = local_plan_arrow(raw)
                if batch is None:
                    batch = eval_df.toArrow()  # the ONE Spark job
            # batch rows must all land in the single existing partition
            # dir — otherwise Spark's partitionBy must create new dirs
            if part_cols and batch.num_rows:
                want = dir_key_to_canon_tuple(part_key, exprs)
                for e, w in zip(exprs, want):
                    vals = pc.unique(batch.column(e.output_name)).to_pylist()
                    if any(canon_partition_value(v) != w for v in vals):
                        return None

            files = manifest.all_files()
            # in-process target cache (the embedded-engine buffer-pool
            # analogue): a successful Arrow merge KNOWS the table's full
            # contents at the version it just committed, so the next
            # merge skips re-reading every target file. Version-keyed —
            # any write through another path bumps the version and the
            # entry just misses.
            cached = _ARROW_TARGET_CACHE.get(self.table.dir)
            if cached is not None and cached[0] == manifest.version:
                target = cached[1]
                if (
                    target is not None
                    and target.nbytes + batch.nbytes > ARROW_MERGE_MAX_BYTES
                ):
                    return None
            else:
                targets = [
                    pq.read_table(os.path.join(self.table.dir, f)) for f in files
                ]
                if inv_ren:
                    targets = [
                        t.rename_columns(
                            [inv_ren.get(n, n) for n in t.column_names]
                        )
                        for t in targets
                    ]
                if (
                    sum(t.nbytes for t in targets) + batch.nbytes
                    > ARROW_MERGE_MAX_BYTES
                ):
                    return None
                target = pa.concat_tables(targets) if targets else None

            # ---- align both sides to out_cols with one common schema ----
            if target is not None:
                if sorted(target.column_names) != sorted(out_cols):
                    return None
                target = target.select(out_cols)
                common = target.schema
            else:
                fields = []
                for c in out_cols:
                    if c == INSERTED_AT:
                        fields.append(pa.field(c, pa.timestamp("us", tz="UTC")))
                    else:
                        fields.append(pa.field(c, batch.schema.field(c).type))
                common = pa.schema(fields)
            b_arrays = []
            for f in common:
                if f.name in batch.column_names:
                    b_arrays.append(batch.column(f.name).cast(f.type))
                elif f.name == INSERTED_AT:
                    b_arrays.append(pa.nulls(batch.num_rows, type=f.type))
                else:
                    return None
            bt = pa.table(b_arrays, schema=common)
            combined = pa.concat_tables([target, bt]) if target is not None else bt
            n_t = target.num_rows if target is not None else 0
            n_b = bt.num_rows

            # ---- winner selection (the row_number window, in pandas) ----
            if any(combined.column(k).null_count for k in self.pk):
                return None  # window null-group semantics — let Spark do it
            import numpy as _np0

            key_df = combined.select(self.pk).to_pandas()
            key_df["__pri"] = _np0.repeat(
                _np0.array([0, 1], dtype="int8"), [n_t, n_b]
            )

            def _batch_only(series: "pd.Series") -> "pd.Series":
                # full-length object column, null on the target side —
                # nulls only ever compare within the __pri=0 group (where
                # every value is null), so object-dtype sorting is safe
                full = pd.Series([None] * (n_t + n_b), dtype="object")
                full.iloc[n_t:] = list(series)
                return full

            sort_cols = ["__pri"]
            if order_col and ephemeral_order:
                # batch-only order: merge_many's (ordinal, order) struct
                # or a plain transport offset
                st = batch.column(order_col)
                keys = (
                    [pc.struct_field(st, "s"), pc.struct_field(st, "o")]
                    if pa.types.is_struct(st.type)
                    else [st]
                )
                for i, k in enumerate(keys):
                    k_pd = k.to_pandas()
                    if k_pd.dtype == object:
                        return None
                    key_df[f"__o{i}"] = _batch_only(k_pd)
                    sort_cols.append(f"__o{i}")
            elif order_col:
                o_pd = combined.column(order_col).to_pandas()
                if o_pd.dtype == object:
                    return None
                key_df["__ord"] = o_pd
                sort_cols.append("__ord")
            # arrival order within the batch (monotonically_increasing_id
            # twin: toArrow concatenates partitions in order); numpy —
            # a 100k-element Python list costs ~15 ms in sanitize alone
            import numpy as _np

            key_df["__mono"] = _np.concatenate(
                [_np.arange(-n_t, 0), _np.arange(n_b)]
            )
            sort_cols.append("__mono")
            key_df["__idx"] = _np.arange(len(key_df))
            pk_cols = list(self.pk)
            if sort_cols == ["__pri", "__mono"]:
                # no order column → winner is simply the LAST batch
                # occurrence of a key, else the (unique-keyed) target
                # row. Hash-based: O(n) vs the O(n log n) full sort.
                b_w = key_df.iloc[n_t:].drop_duplicates(
                    subset=pk_cols, keep="last"
                )
                if n_t:
                    t_keys = key_df.iloc[:n_t]
                    if len(pk_cols) == 1:
                        keep = ~t_keys[pk_cols[0]].isin(b_w[pk_cols[0]]).values
                    else:
                        keep = ~pd.MultiIndex.from_frame(
                            t_keys[pk_cols]
                        ).isin(pd.MultiIndex.from_frame(b_w[pk_cols]))
                    winners = pd.concat([t_keys[keep], b_w])
                else:
                    winners = b_w
            else:
                winners = (
                    key_df.sort_values(
                        sort_cols, ascending=False, kind="stable",
                        na_position="last",
                    )
                    .drop_duplicates(subset=pk_cols, keep="first")
                )
            out_tbl = combined.take(pa.array(winners["__idx"].to_numpy()))

            # ---- _inserted_at: keep the matched key's original stamp ----
            ts_type = common.field(INSERTED_AT).type
            now = datetime.datetime.now(datetime.timezone.utc)
            if ts_type.tz is None:
                now = now.replace(tzinfo=None)
            # carry-over computed on int64 epoch-µs values: vectorized,
            # and immune to pandas' unit/tz dtype variation (ns vs us vs
            # Arrow-backed) across files written by Spark (INT96→ns) and
            # the Arrow fast paths (us)
            import numpy as np

            us_type = pa.timestamp("us", tz=ts_type.tz)
            ts_us = (
                out_tbl.column(INSERTED_AT).cast(us_type).cast(pa.int64()).to_pandas()
            )
            if ts_us.isna().any():
                if now.tzinfo is not None:
                    now_us = int(now.timestamp() * 1_000_000)
                else:
                    now_us = int(
                        (now - datetime.datetime(1970, 1, 1)).total_seconds()
                        * 1_000_000
                    )
                if n_t:
                    # target keys are unique (merge invariant) → an
                    # Index lookup replaces the pandas join: O(n_t)
                    # build + O(|winners|) probe, no row realignment
                    old_us = (
                        target.column(INSERTED_AT)
                        .cast(us_type)
                        .cast(pa.int64())
                        .to_pandas()
                        .values
                    )
                    if len(self.pk) == 1:
                        old_index = pd.Index(key_df[self.pk[0]].values[:n_t])
                        w_keys = winners[self.pk[0]].values
                    else:
                        old_index = pd.MultiIndex.from_frame(
                            key_df.iloc[:n_t][list(self.pk)]
                        )
                        w_keys = pd.MultiIndex.from_frame(
                            winners[list(self.pk)]
                        )
                    pos = old_index.get_indexer(w_keys)
                    m_vals = np.where(
                        pos >= 0,
                        old_us[np.maximum(pos, 0)].astype("float64"),
                        np.nan,
                    )
                    filled = np.where(
                        ts_us.notna(),
                        ts_us.values,
                        np.where(~np.isnan(m_vals), m_vals, now_us),
                    ).astype("int64")
                else:
                    filled = ts_us.fillna(now_us).astype("int64").values
                out_tbl = out_tbl.set_column(
                    out_tbl.column_names.index(INSERTED_AT),
                    pa.field(INSERTED_AT, ts_type),
                    pa.array(filled).cast(us_type).cast(ts_type),
                )

            # ---- write + commit (same protocol as the Spark path) ----
            import uuid as _uuid

            from .table import _harvest_one

            with self.table.lock():
                # cheap tip check; unchanged ⇒ planning manifest is tip
                if self._chain_advanced(planned_version):
                    return False
                current = manifest
                stage_rel = os.path.join(
                    "data", f"s{current.version + 1}-{_uuid.uuid4().hex[:8]}"
                )
                rel_dir = os.path.join(stage_rel, part_key) if part_key else stage_rel
                self.table.fs.ensure_dir(os.path.join(self.table.dir, rel_dir))
                with REGISTRY.timer("merge.arrowWrite"):
                    # micro-precision timestamps: Spark reads TIMESTAMP
                    # (MICROS) everywhere; a ns-unit column (INT96 files
                    # surface as ns in Arrow) written back as nanos
                    # would NOT round-trip through the engine's reader
                    out_fields = [
                        pa.field(f.name, pa.timestamp("us", tz=f.type.tz))
                        if pa.types.is_timestamp(f.type)
                        else f
                        for f in out_tbl.schema
                    ]
                    out_tbl = out_tbl.cast(pa.schema(out_fields))
                    stat_cols = _stats_columns_arrow(common, list(self.pk))
                    # write boundary: files carry PHYSICAL names
                    # (zero-copy rename); the cache and stats stay logical
                    write_tbl = (
                        out_tbl.rename_columns(
                            [ren.get(n, n) for n in out_tbl.column_names]
                        )
                        if ren
                        else out_tbl
                    )
                    stat_cols = [ren.get(c, c) for c in stat_cols]
                    # Range-split: tables past one MERGE_TARGET_FILE_ROWS
                    # chunk are pk-sorted and written as N files — (a)
                    # per-file pk ranges are disjoint, so the NEXT
                    # merge's overlap prune has something to prune, and
                    # (b) the parquet encoding (GIL-released) runs in a
                    # thread pool instead of one serial write_table.
                    n_rows = write_tbl.num_rows
                    if n_rows > 2 * MERGE_TARGET_FILE_ROWS:
                        # write_tbl carries PHYSICAL names — translate
                        # the logical pk through the rename map or a
                        # renamed-pk table would fail the sort and
                        # silently bounce the merge to the Spark path
                        order = pc.sort_indices(
                            write_tbl,
                            sort_keys=[
                                (ren.get(k, k), "ascending") for k in self.pk
                            ],
                        )
                        write_tbl = write_tbl.take(order)
                        out_tbl = (
                            out_tbl.take(order) if ren else write_tbl
                        )
                        # same rows-vs-bytes balance as the Spark range
                        # layout (Arrow nbytes overestimate parquet —
                        # errs toward fewer, larger files)
                        n_files = max(
                            1,
                            min(
                                MERGE_RANGE_MAX_FILES,
                                _range_file_count(n_rows, write_tbl.nbytes),
                            ),
                        )
                        step = -(-n_rows // n_files)
                        slices = [
                            write_tbl.slice(i * step, step)
                            for i in range(n_files)
                            if i * step < n_rows
                        ]
                    else:
                        slices = [write_tbl]
                    rel_files, abs_files = [], []
                    for _ in slices:
                        fn = f"part-{len(rel_files):05d}-{_uuid.uuid4().hex[:8]}.parquet"
                        rel_files.append(os.path.join(rel_dir, fn))
                        abs_files.append(
                            os.path.join(self.table.dir, rel_files[-1])
                        )

                    _codec = current.props.get("tblproperties", {}).get(
                        "write.compression", "snappy"
                    )

                    def _write_one(i: int):
                        pq.write_table(
                            slices[i], abs_files[i], compression=_codec
                        )
                        return _harvest_one(abs_files[i], stat_cols, None)

                    if len(slices) == 1:
                        harvested = [_write_one(0)]
                    else:
                        from concurrent.futures import ThreadPoolExecutor

                        with ThreadPoolExecutor(
                            max_workers=min(8, len(slices))
                        ) as ex:
                            harvested = list(
                                ex.map(_write_one, range(len(slices)))
                            )
                    stats = {
                        rf: (
                            {inv_ren.get(c, c): v for c, v in h.items()}
                            if inv_ren
                            else h
                        )
                        for rf, h in zip(rel_files, harvested)
                        if h
                    }
                self._commit_next(
                    current, {part_key: rel_files}, final_logical, stats
                )
            if len(_ARROW_TARGET_CACHE) >= 4:
                _ARROW_TARGET_CACHE.clear()
            _ARROW_TARGET_CACHE[self.table.dir] = (current.version + 1, out_tbl)
            return True
        except Exception:
            REGISTRY.inc("merge.arrowFallback")
            return None

    # ---------- internals ----------

    def _est_rewrite_rows(self, manifest: Manifest, rewrite_files: list[str]) -> int:
        """Rewrite-set row count from manifest ``__rows`` stats; files
        without one (pre-``__rows`` manifests) fall back to a bytes-based
        estimate, which under-counts skinny rows — harmless: it only
        under-splits the output."""
        total = 0
        for f in rewrite_files:
            s = manifest.file_stats.get(f) or {}
            r = s.get("__rows")
            if r is None:
                r = int(s.get("__bytes") or 0) // EST_ROW_BYTES
            total += int(r)
        return total

    def _est_rewrite_bytes(self, manifest: Manifest, rewrite_files: list[str]) -> int:
        """Rewrite-set size from manifest __bytes stats; files the
        manifest has no size for fall back to one local stat call, and
        failing that are assumed large (→ the conservative plan)."""
        total = 0
        for f in rewrite_files:
            b = (manifest.file_stats.get(f) or {}).get("__bytes")
            if b is None:
                try:
                    b = self.table.fs.file_size(os.path.join(self.table.dir, f))
                except OSError:
                    b = SMALL_OUTPUT_BYTES
            total += int(b)
        return total

    def _rewrite_layout(self, manifest: Manifest, rewrite_files: list[str]) -> str:
        """Layout for a file-rewrite commit (CoW DELETE/UPDATE): small
        rewrite sets get split to ~parallelism scan tasks by Spark, so
        the 'natural' layout would emit one sub-compact-threshold file
        per task and the commit would immediately pay an auto-compact
        rewrite; bounded sets rebalance into advisory-sized files
        instead (same gate as the merge path)."""
        return (
            "rebalance"
            if self._est_rewrite_bytes(manifest, rewrite_files)
            <= MERGE_REBALANCE_MAX_BYTES
            else "natural"
        )

    def _ensure_table(self, df: DataFrame) -> Manifest:
        if not self.table.exists():
            if not self.auto_create:
                raise ValueError(
                    f"Table {self.table.name} does not exist and auto-create is disabled"
                )
            with REGISTRY.timer("createTable"):
                self.table.create(
                    _logical_schema_of(df), pk=self.pk, partition_by=self.partition_by
                )
        return self.table.manifest()

    def _prepare_insert(self, df: DataFrame, manifest: Manifest) -> DataFrame:
        final_logical = _logical_schema_of_batch(df, manifest)
        out = _conform(
            df, final_logical, defaults=column_defaults(manifest)
        ).withColumn(INSERTED_AT, F.current_timestamp())
        return with_partition_columns(out, manifest.partition_exprs)

    def _commit_next(
        self,
        manifest: Manifest,
        files: dict[str, list[str]],
        final_logical: T.StructType,
        file_stats: dict | None = None,
        op: str = "WRITE",
        extra_props: dict | None = None,
    ) -> None:
        fields = [f for f in final_logical.fields if f.name != INSERTED_AT]
        fields.append(T.StructField(INSERTED_AT, T.TimestampType(), True))
        props = dict(manifest.props)
        if self.extra_commit_props:
            props.update(self.extra_commit_props)
        if extra_props:
            props.update(extra_props)
        props["last_op"] = op  # history()/DESCRIBE-HISTORY lineage
        if self._txn is not None:
            app, epoch = self._txn
            txns = dict(props.get("txns", {}))
            txns[str(app)] = int(epoch)
            props["txns"] = txns
        self.table._commit(
            Manifest(
                version=manifest.version + 1,
                schema=T.StructType(fields),
                pk=manifest.pk or self.pk,
                partition_spec=manifest.partition_spec,
                files=files,
                parent=manifest.version,
                props=props,
                file_stats=file_stats if file_stats is not None else manifest.file_stats,
            ),
            parent_manifest=manifest,
        )

    def _read_files(self, manifest: Manifest, rel_files: list[str]) -> DataFrame:
        """Read an explicit file list under the manifest's read schema,
        with merge-on-read tombstone visibility applied — so every
        copy-on-write rewrite (merge/update/delete) over a table
        carrying MOR state reads only VISIBLE rows and thereby
        materializes the debt for the files it touches."""
        from .mor import read_visible

        df = read_visible(self.table, manifest, rel_files)
        return self.table.to_logical_names(df, manifest)


def _logical_schema_of_batch(df: DataFrame, manifest: Manifest) -> T.StructType:
    """Reconcile the incoming batch's logical schema against the stored
    schema → final (possibly evolved) logical schema. Raises on
    incompatible evolution (caller DLQs)."""
    incoming = _logical_schema_of(df)
    existing = T.StructType([f for f in manifest.schema.fields if f.name != INSERTED_AT])
    return plan_evolution(existing, incoming).final_schema
