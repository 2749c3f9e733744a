"""Manifest-based lakehouse tables on plain Parquet.

The reference writes DuckLake tables: Parquet data files plus a
transactional catalog that tracks the file set per snapshot
(``connect/DucklakeConnectionFactory.java:80-95``). Delta/Iceberg jars are
not in this image, so the same model is built here directly:

- ``<root>/<table>/_meta/v{N}.json`` — versioned manifest: logical schema,
  primary-key columns, partition expressions, and the list of live data
  files grouped by partition value.
- ``<root>/<table>/_meta/LATEST`` — current version pointer, updated by
  atomic rename; readers always see a consistent snapshot.
- ``<root>/<table>/data/s{N}-{uuid}/…`` — immutable Parquet files written
  once by a commit, never modified (append commits add files; merge
  commits swap the file set of affected partitions only).

Scale notes: data files are immutable and partition-grouped, so a MERGE
touching k of n partitions rewrites only k partitions' files; appends
never rewrite anything. The manifest is driver-side JSON — at true 100 TB
scale it would graduate to a compacted/Avro manifest chain (Iceberg-style),
which changes no executor-side code path.

Complex (struct/array/map) columns are persisted as canonical JSON text —
the reference stores them as DuckDB JSON columns
(``ingestor/DucklakeTableManager.java:419-423``, README.md:8) — with the
original logical type kept in the manifest for the JSON evolution guard.

Concurrency: single-writer-per-table via an exclusive lock file with
timeout/retry — the analogue of the reference's per-table lock
(``ingestor/DucklakeTableManager.java:51-52``) and its catalog-conflict
retries (``ducklake_max_retry_count``).
"""

from __future__ import annotations

import decimal
import json
import math
import os
import re
import time
import uuid
from dataclasses import dataclass, field as dc_field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..metrics import REGISTRY
from . import txn as _txn
from .backend import StorageBackend, resolve_backend
from .relation_cache import local_rows_df
from .txn import TxnContext, TxnInProgress
from .partitioning import (
    PartitionExpr,
    derived_column_names,
    dir_column_names,
    parse_partition_exprs,
    with_dir_columns,
)

INSERTED_AT = "_inserted_at"


def is_complex(dtype: T.DataType) -> bool:
    return isinstance(dtype, (T.StructType, T.ArrayType, T.MapType))


def to_physical_schema(logical: T.StructType) -> T.StructType:
    """Complex columns → JSON string columns (reference storage semantics)."""
    fields = []
    for f in logical.fields:
        if is_complex(f.dataType):
            fields.append(T.StructField(f.name, T.StringType(), True, metadata={"ducklake.json": True}))
        else:
            fields.append(f)
    return T.StructType(fields)


def json_column_names(logical: T.StructType) -> list[str]:
    return [f.name for f in logical.fields if is_complex(f.dataType)]


class CommitConflict(RuntimeError):
    pass


# Full base manifest at least every N commits; intermediate commits
# serialize only their file/stat delta. Bounds both per-commit metadata
# I/O (O(changed files), not O(table files)) and resolution chain length.
COMPACT_EVERY = 8


@dataclass
class Manifest:
    version: int
    schema: T.StructType            # logical schema (complex types preserved)
    pk: list[str]
    partition_spec: list[str]       # e.g. ["year(ts)", "event_type"]
    files: dict[str, list[str]]     # partition-dir relpath ("" if unpartitioned) -> file relpaths
    parent: int | None = None
    props: dict = dc_field(default_factory=dict)
    # per-file {column: [min, max]} (parquet footer stats, harvested at
    # write time) — MERGE prunes its rewrite set by the PK column's
    # range, and read(where=...) skips files by any stat-ed column.
    # For long strings min is truncated (valid lower bound) and max is
    # None (unbounded above).
    file_stats: dict = dc_field(default_factory=dict)
    # how many delta segments sit between this version and its full
    # base (0 = this version has a full manifest). Resolution metadata,
    # not serialized — _commit uses it to place the next full base.
    delta_depth: int = 0

    def to_dict(self) -> dict:
        return {
            "version": self.version,
            "schema": self.schema.jsonValue(),
            "pk": self.pk,
            "partition_spec": self.partition_spec,
            "files": self.files,
            "parent": self.parent,
            "props": self.props,
            "file_stats": self.file_stats,
        }

    def to_json(self) -> str:
        return json.dumps(self.to_dict(), indent=1)

    @staticmethod
    def from_json(text: str) -> "Manifest":
        return Manifest.from_dict(json.loads(text))

    @staticmethod
    def from_dict(d: dict) -> "Manifest":
        pk = list(d.get("pk") or [])
        stats = d.get("file_stats") or {}
        # legacy form: {file: [min, max]} of pk[0] → normalize to per-column
        stats = {
            f: (s if isinstance(s, dict) else ({pk[0]: s} if pk else {}))
            for f, s in stats.items()
        }
        return Manifest(
            version=d["version"],
            schema=T.StructType.fromJson(d["schema"]),
            pk=pk,
            partition_spec=list(d.get("partition_spec") or []),
            files={k: list(v) for k, v in d.get("files", {}).items()},
            parent=d.get("parent"),
            props=d.get("props") or {},
            file_stats=stats,
        )

    @property
    def partition_exprs(self) -> list[PartitionExpr]:
        return parse_partition_exprs(self.partition_spec)

    @property
    def column_renames(self) -> dict[str, str]:
        """{logical name → physical-in-files name} for columns renamed
        after data was written (metadata-only RENAME COLUMN). Stored in
        props so it travels whole through delta segments AND the binary
        manifest form without any serialization change. Empty for
        tables that never renamed — every boundary helper no-ops."""
        return dict(self.props.get("column_renames") or {})

    def all_files(self) -> list[str]:
        return [p for paths in self.files.values() for p in paths]

    def retention_files(self) -> list[str]:
        """Every file this version references for retention purposes:
        data files PLUS merge-on-read tombstone files (``lake/mor.py``)
        — the set vacuum must keep, restore must validate, and clone
        must carry. Read paths keep using ``all_files`` (data only)."""
        tombs = list((self.props.get("mor") or {}).get("deletes") or {})
        return self.all_files() + tombs


def _make_delta(parent: Manifest, child: Manifest) -> dict:
    """Delta segment: schema/pk/spec/props travel whole (small, and
    schema evolution must survive the chain); the big files/stats dicts
    travel as add/remove sets only."""
    add: dict[str, list[str]] = {}
    remove: dict[str, list[str]] = {}
    for part in set(parent.files) | set(child.files):
        old = set(parent.files.get(part, []))
        new = set(child.files.get(part, []))
        # preserve child ordering for added files (read order stability)
        added = [f for f in child.files.get(part, []) if f not in old]
        removed = sorted(old - new)
        if added:
            add[part] = added
        if removed:
            remove[part] = removed
    added_flat = {f for fs in add.values() for f in fs}
    # Stats travel for added files AND for retained files whose stats
    # object changed (metadata-only ops like drop_column strip columns
    # from every file's stats without touching the file sets — a delta
    # that only carried added-file stats would silently resurrect the
    # parent's stats on resolution).
    stats_add = {
        f: s
        for f, s in child.file_stats.items()
        if f in added_flat or parent.file_stats.get(f) != s
    }
    return {
        "delta": True,
        "version": child.version,
        "parent": parent.version,
        "schema": child.schema.jsonValue(),
        "pk": child.pk,
        "partition_spec": child.partition_spec,
        "props": child.props,
        "files_add": add,
        "files_remove": remove,
        "stats_add": stats_add,
    }


def _parse_asof_timestamp(ts) -> float:
    """AS-OF timestamp → epoch seconds. Accepts epoch numbers (or
    numeric strings) and ISO-8601 strings ('Z' suffix ok; naive = UTC,
    matching the engine's pinned-UTC session)."""
    if isinstance(ts, (int, float)):
        return float(ts)
    s = str(ts).strip().strip("'\"")
    try:
        return float(s)
    except ValueError:
        pass
    from datetime import datetime, timezone

    try:
        dt = datetime.fromisoformat(s.replace("Z", "+00:00"))
    except ValueError as e:
        raise ValueError(
            f"unparseable AS OF timestamp {ts!r} (epoch seconds or ISO-8601)"
        ) from e
    if dt.tzinfo is None:
        dt = dt.replace(tzinfo=timezone.utc)
    return dt.timestamp()


def _apply_delta(parent: Manifest, d: dict) -> Manifest:
    files = {k: list(v) for k, v in parent.files.items()}
    for part, removed in d.get("files_remove", {}).items():
        kept = [f for f in files.get(part, []) if f not in set(removed)]
        if kept:
            files[part] = kept
        else:
            files.pop(part, None)
    for part, added in d.get("files_add", {}).items():
        files.setdefault(part, []).extend(added)
    removed_flat = {f for fs in d.get("files_remove", {}).values() for f in fs}
    stats = {f: s for f, s in parent.file_stats.items() if f not in removed_flat}
    stats.update(d.get("stats_add", {}))
    return Manifest(
        version=d["version"],
        schema=T.StructType.fromJson(d["schema"]),
        pk=list(d.get("pk") or []),
        partition_spec=list(d.get("partition_spec") or []),
        files=files,
        parent=d["parent"],
        props=d.get("props") or {},
        file_stats=stats,
        delta_depth=parent.delta_depth + 1,
    )


# ---------------------------------------------------------------------------
# Binary manifest segments (the object-store form).
#
# Iceberg stores manifests as Avro for a reason: at object-store scale
# the metadata path is dominated by bytes moved per commit/resolution,
# and a text-JSON segment repeats key names per file entry. The binary
# form encodes each segment (full or delta) as ONE Avro record via the
# in-repo pure-Python codec (sources/avro_lite.py — the same machinery
# the Kafka Avro decode path uses), deflate-compressed, behind a
# per-table ``manifest_format`` flag. Readers never need the flag: every
# resolution probes both extensions, so mixed chains (a table that
# switched formats mid-history) resolve fine, and time travel + tags
# work identically in both modes. Per-file stat dicts travel as JSON
# leaf strings inside the Avro map — the big wins (file-name keys, the
# repeated per-entry structure) are Avro-native, while the heterogeneous
# stat values (int/float/str bounds) keep one stable encoding.
# ---------------------------------------------------------------------------

MANIFEST_MAGIC = b"DLMS1\n"
_SEGMENT_AVRO_SCHEMA = {
    "type": "record",
    "name": "ManifestSegment",
    "fields": [
        {"name": "delta", "type": "boolean"},
        {"name": "version", "type": "long"},
        {"name": "parent", "type": ["null", "long"]},
        {"name": "schema", "type": "string"},
        {"name": "pk", "type": {"type": "array", "items": "string"}},
        {"name": "partition_spec", "type": {"type": "array", "items": "string"}},
        {"name": "props", "type": "string"},
        {"name": "files", "type": {"type": "map", "values": {"type": "array", "items": "string"}}},
        {"name": "files_remove", "type": {"type": "map", "values": {"type": "array", "items": "string"}}},
        {"name": "stats", "type": {"type": "map", "values": "string"}},
    ],
}


def encode_segment_binary(d: dict) -> bytes:
    """Segment dict (full-manifest or delta shape) → magic + deflate(Avro)."""
    import zlib

    from ..sources.avro_lite import encode_avro

    is_delta = bool(d.get("delta"))
    rec = {
        "delta": is_delta,
        "version": int(d["version"]),
        "parent": d.get("parent"),
        "schema": json.dumps(d["schema"]),
        "pk": list(d.get("pk") or []),
        "partition_spec": list(d.get("partition_spec") or []),
        "props": json.dumps(d.get("props") or {}),
        "files": d.get("files_add" if is_delta else "files") or {},
        "files_remove": d.get("files_remove") or {},
        "stats": {
            f: json.dumps(s)
            for f, s in (d.get("stats_add" if is_delta else "file_stats") or {}).items()
        },
    }
    return MANIFEST_MAGIC + zlib.compress(
        encode_avro(json.dumps(_SEGMENT_AVRO_SCHEMA), rec)
    )


def decode_segment_binary(payload: bytes) -> dict:
    """Inverse of encode_segment_binary, returning the exact dict shape
    the JSON form uses (so resolution code is format-blind)."""
    import zlib

    from ..sources.avro_lite import _Reader, _decode

    if not payload.startswith(MANIFEST_MAGIC):
        raise ValueError("not a binary manifest segment")
    rec = _decode(
        _SEGMENT_AVRO_SCHEMA, _Reader(zlib.decompress(payload[len(MANIFEST_MAGIC):]))
    )
    stats = {f: json.loads(s) for f, s in rec["stats"].items()}
    base = {
        "version": rec["version"],
        "parent": rec["parent"],
        "schema": json.loads(rec["schema"]),
        "pk": rec["pk"],
        "partition_spec": rec["partition_spec"],
        "props": json.loads(rec["props"]),
    }
    if rec["delta"]:
        base.update(
            delta=True,
            files_add=rec["files"],
            files_remove=rec["files_remove"],
            stats_add=stats,
        )
    else:
        base.update(files=rec["files"], file_stats=stats)
    return base


class TableLock:
    """Exclusive advisory lock via ``fcntl.flock`` on a persistent lock
    file. The kernel owns the lock through the fd: it is released
    automatically when the holder's process exits, so there is no
    mtime-based stale-lock breaking — and none of the unlink/recreate
    TOCTOU races breaking invites (a waiter deciding an old lock is
    stale could otherwise delete a *new* holder's lock file).
    ``stale_after`` is retained for API compatibility; flock makes it
    moot. The lock file itself is never unlinked — all processes flock
    the same inode forever."""

    def __init__(self, path: str, timeout: float = 60.0, stale_after: float = 600.0):
        self.path = path
        self.timeout = timeout
        self.stale_after = stale_after
        self._fd: int | None = None

    def __enter__(self):
        import fcntl

        deadline = time.monotonic() + self.timeout
        fd = os.open(self.path, os.O_CREAT | os.O_RDWR)
        while True:
            try:
                fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
                self._fd = fd
                return self
            except OSError:
                if time.monotonic() > deadline:
                    os.close(fd)
                    raise CommitConflict(f"Timed out acquiring table lock {self.path}")
                time.sleep(0.05)

    def __exit__(self, *exc):
        if self._fd is not None:
            import fcntl

            fcntl.flock(self._fd, fcntl.LOCK_UN)
            os.close(self._fd)
            self._fd = None

    # flock is kernel-held for the life of the fd: renewal is moot and
    # holding is structural. Kept so long critical sections can call the
    # same heartbeat surface on either backend's lock.
    def renew(self) -> None:
        if self._fd is None:
            raise CommitConflict(f"table lock {self.path} is not held")

    def assert_held(self) -> None:
        if self._fd is None:
            raise CommitConflict(f"table lock {self.path} is not held")


class LakeTable:
    def __init__(
        self,
        spark: SparkSession,
        root: str,
        name: str,
        manifest_format: str | None = None,
        backend: "StorageBackend | str | None" = None,
        txn_ctx: "TxnContext | None" = None,
    ):
        # default comes from $DUCKLAKE_MANIFEST_FORMAT so whole suites
        # can exercise the binary form without touching call sites
        if manifest_format is None:
            manifest_format = os.environ.get("DUCKLAKE_MANIFEST_FORMAT", "json")
        if manifest_format not in ("json", "binary"):
            raise ValueError(f"unknown manifest_format {manifest_format!r}")
        self.spark = spark
        self.name = name
        self.root = root
        # catalog-shared transaction context (lake/txn.py): when the
        # owning catalog has an open BEGIN, commits stamp pending_txn
        # and reads see the txn's own pending versions. Tables built
        # outside a catalog get a fresh inactive context — visibility
        # rules for FOREIGN pending versions still apply (they derive
        # from manifest props + markers, not from this object).
        self._txn_ctx = txn_ctx if txn_ctx is not None else _txn.TxnContext()
        self.dir = os.path.join(root, name)
        self.meta_dir = os.path.join(self.dir, "_meta")
        self.data_dir = os.path.join(self.dir, "data")
        # write-side choice only: resolution always probes both forms,
        # so mixed-format chains (format switched mid-history) resolve
        self.manifest_format = manifest_format
        # storage backend: every manifest/pointer/lock byte goes through
        # it (backend.py) — posix (flock + rename) or cas (object-store
        # create-if-absent commits, lease locks, LIST-derived versions)
        self.fs = resolve_backend(backend)

    # ---------- segment I/O (format-blind reads) ----------

    def _read_full_segment(self, version: int) -> dict | None:
        b = self.fs.try_read_bytes(os.path.join(self.meta_dir, f"v{version}.json"))
        if b is not None:
            return json.loads(b)
        b = self.fs.try_read_bytes(os.path.join(self.meta_dir, f"v{version}.avro"))
        if b is not None:
            return decode_segment_binary(b)
        return None

    def _read_delta_segment(self, version: int) -> dict | None:
        b = self.fs.try_read_bytes(
            os.path.join(self.meta_dir, f"v{version}.delta.json")
        )
        if b is not None:
            return json.loads(b)
        b = self.fs.try_read_bytes(
            os.path.join(self.meta_dir, f"v{version}.delta.avro")
        )
        if b is not None:
            return decode_segment_binary(b)
        return None

    # ---------- metadata ----------

    _SEG_RE = re.compile(r"^v(\d+)(?:\.delta)?\.(?:json|avro)$")

    def _listed_versions(self) -> list[int]:
        """Committed versions derived from a LIST of the manifest prefix —
        the authoritative source under CAS commits (LATEST is a hint that
        can lag or regress when a writer dies between the segment CAS and
        the hint PUT)."""
        return sorted(
            {
                int(m.group(1))
                for fn in self.fs.list_names(self.meta_dir)
                if (m := self._SEG_RE.match(fn))
            }
        )

    def exists(self) -> bool:
        if self.fs.exists(os.path.join(self.meta_dir, "LATEST")):
            return True
        return self.fs.cas_commits and bool(self._listed_versions())

    def current_version(self) -> int:
        if self.fs.cas_commits:
            vers = self._listed_versions()
            if not vers:
                raise FileNotFoundError(
                    f"{self.name}: no committed versions under {self.meta_dir}"
                )
            return vers[-1]
        return int(
            self.fs.read_bytes(os.path.join(self.meta_dir, "LATEST")).decode().strip()
        )

    def manifest(
        self, version: int | None = None, *, check_txn: bool = True
    ) -> Manifest:
        """Resolve a version: full manifests load directly; delta
        segments walk parents to the nearest full base and re-apply
        (bounded by COMPACT_EVERY — a full base is written at least
        every N commits, so the chain is short by construction).

        Transaction visibility (lake/txn.py): with no explicit version,
        the walk starts at the physical tip and steps down parent
        pointers past versions whose ``pending_txn`` is not visible to
        this reader (not committed and not this catalog's own open
        transaction) — so a half-done multi-table BEGIN is invisible
        here, at zero cost to tables with no pending marker (the props
        check is on an already-loaded manifest). An EXPLICIT version
        belonging to an open/aborted transaction refuses with the txn
        named — time travel must never surface uncommitted state.
        ``check_txn=False`` is for maintenance walks (history, vacuum,
        timestamp scans, rollback itself) that must see the raw chain.
        """
        REGISTRY.inc("manifest.resolves")
        if version is None:
            m = self._resolve_segment(self.current_version())
            while (
                check_txn
                and (p := m.props.get("pending_txn"))
                and not self._txn_visible(p)
            ):
                if m.parent is None:
                    raise FileNotFoundError(
                        f"table {self.name} was created inside "
                        f"transaction {p} ({_txn.txn_status(self.fs, self.root, p)}) "
                        f"and has no committed version yet"
                    )
                m = self._resolve_segment(m.parent)
            return m
        m = self._resolve_segment(version)
        if (
            check_txn
            and (p := m.props.get("pending_txn"))
            and not self._txn_visible(p)
        ):
            raise ValueError(
                f"version {version} of {self.name} belongs to "
                f"transaction {p}, which is "
                f"{_txn.txn_status(self.fs, self.root, p)} — uncommitted "
                f"state is not addressable (COMMIT it, or rollback_txn "
                f"to discard)"
            )
        return m

    def _txn_visible(self, txn_id: str) -> bool:
        if txn_id == self._txn_ctx.active:
            return True  # read-your-writes inside the open transaction
        return _txn.txn_status(self.fs, self.root, txn_id) == "committed"

    def visible_version(self) -> int:
        """The version committed READERS currently resolve — equals
        ``current_version()`` except while an open/aborted transaction
        holds the tip."""
        return self.manifest().version

    def _resolve_segment(self, v: int) -> Manifest:
        base = self._read_full_segment(v)
        if base is not None:
            return Manifest.from_dict(base)
        deltas: list[dict] = []
        cur: int | None = v
        while cur is not None and (base := self._read_full_segment(cur)) is None:
            d = self._read_delta_segment(cur)
            if d is None:
                raise FileNotFoundError(
                    f"Version {v} of {self.name} is not resolvable: "
                    f"no full or delta segment for v{cur}"
                )
            deltas.append(d)
            cur = d["parent"]
        if cur is None:
            raise FileNotFoundError(
                f"Version {v} of {self.name} has a delta chain with no full base"
            )
        m = Manifest.from_dict(base)
        for d in reversed(deltas):
            m = _apply_delta(m, d)
        return m

    def has_version(self, version: int) -> bool:
        return any(
            self.fs.exists(os.path.join(self.meta_dir, f"v{version}{ext}"))
            for ext in (".json", ".avro", ".delta.json", ".delta.avro")
        )

    # ---------- named snapshot refs (tags) ----------
    #
    # Refs are versioned exactly like manifests: a CAS chain of
    # ``refs.g{N}.json`` objects published with create-if-absent, tip
    # derived by LIST. Tag edits are therefore LOCK-FREE single-object
    # transactions with replan on conflict (the same protocol as table
    # commits), on BOTH backends — the lease now guards only vacuum's
    # multi-step read-decide-delete, shrinking any lock bug's blast
    # radius to that one maintenance path. A legacy un-numbered
    # ``refs.json`` (pre-chain layout) reads as generation 0 and is
    # superseded by the first chain commit.

    #: superseded refs generations kept for racing readers (a reader
    #: that LISTed an older tip can still GET it; staler gens re-LIST)
    REFS_GC_TAIL = 8
    #: ancestor ids carried in every refs object — bounds the
    #: post-create descends-from check in :meth:`_refs_commit`
    REFS_ANCESTOR_RING = 64
    #: never GC a generation younger than this many seconds (0 = off).
    #: Defense-in-depth for production object stores: a generation name
    #: can only be re-created after GC frees it, so an age floor ≫ any
    #: plausible writer stall makes name reuse unreachable even without
    #: the post-create verification (the same reasoning as Delta Lake's
    #: log-retention window).
    REFS_GC_MIN_AGE_S = float(os.environ.get("DUCKLAKE_REFS_GC_MIN_AGE_S", "0") or 0)

    #: test hooks: called as f(table, target_gen) immediately before /
    #: after the refs CAS-create — deterministic interleave injection
    #: (mirrors CasLeaseLock.test_hook_pre_steal)
    _refs_pre_cas_hook = None
    _refs_post_cas_hook = None

    @property
    def _refs_path(self) -> str:
        return os.path.join(self.meta_dir, "refs.json")

    def _refs_gen_path(self, gen: int) -> str:
        return os.path.join(self.meta_dir, f"refs.g{gen:08d}.json")

    def _refs_gens(self) -> list[int]:
        return sorted(
            int(n[6:-5])
            for n in self.fs.list_names(self.meta_dir)
            if n.startswith("refs.g") and n.endswith(".json") and n[6:-5].isdigit()
        )

    def _refs_tip_obj(self) -> "tuple[int, dict[str, int], dict | None]":
        """(generation, tags, raw tip object) at the refs-chain tip.
        Generation 0 covers both the legacy single-object layout and the
        empty state (object ``None`` when the chain is empty)."""
        while True:
            gens = self._refs_gens()
            if not gens:
                b = self.fs.try_read_bytes(self._refs_path)
                if b is None:
                    return 0, {}, None
                obj = json.loads(b)
                return 0, {k: int(v) for k, v in obj.get("tags", {}).items()}, obj
            top = gens[-1]
            raw = self.fs.try_read_bytes(self._refs_gen_path(top))
            if raw is None:
                continue  # tip vanished between LIST and GET (GC race) — re-derive
            obj = json.loads(raw)
            return top, {k: int(v) for k, v in obj.get("tags", {}).items()}, obj

    def _refs_tip(self) -> "tuple[int, dict[str, int]]":
        gen, tags, _ = self._refs_tip_obj()
        return gen, tags

    def tags(self) -> dict[str, int]:
        """Named snapshot refs: tag name → committed version."""
        return self._refs_tip()[1]

    def _refs_descends(self, tip_gen: int, gen: int, gen_id: str) -> bool:
        """True iff the chain object at ``tip_gen`` provably descends from
        the object ``gen_id`` committed at ``gen`` — decided from the
        ancestor-id ring each object carries (no chain walk, so it works
        even when intermediate generations were GC'd). Conservative
        ``False`` when unprovable (ring exhausted / legacy object /
        vanished tip): callers treat that as an orphaned create."""
        raw = self.fs.try_read_bytes(self._refs_gen_path(tip_gen))
        if raw is None:
            return False
        try:
            obj = json.loads(raw)
        except (ValueError, TypeError):
            return False
        d = tip_gen - gen
        if d <= 0:
            return obj.get("id") == gen_id
        anc = obj.get("ancestors") or []
        return d <= len(anc) and anc[d - 1] == gen_id

    def _refs_gc_eligible(self, gen: int) -> bool:
        if self.REFS_GC_MIN_AGE_S <= 0:
            return True
        try:
            mt = self.fs.file_mtime(self._refs_gen_path(gen))
        except (FileNotFoundError, OSError):
            return True
        return (time.time() - mt) >= self.REFS_GC_MIN_AGE_S

    def _refs_commit(self, mutate) -> dict[str, int]:
        """Lock-free refs RMW: read the tip (gen N), apply
        ``mutate(tags)``, CAS-create ``refs.g{N+1}.json``; a lost CAS
        re-reads and replays the mutation against the advanced chain —
        no concurrent edit is ever overwritten (linear chain by
        construction). A no-op mutation commits nothing.

        Generation-reuse guard (root cause of the r11
        ``test_two_process_tag_edit_stress[posix]`` flake): because GC
        deletes superseded generation objects, their NAMES become
        create-able again — a writer stalled between its tip LIST (gen
        N) and its CAS-create can succeed on ``g{N+1}`` after the chain
        advanced ≥ ``REFS_GC_TAIL`` generations and GC freed that name,
        landing its edit BELOW the tip (silent lost update). A bad
        create therefore implies a live generation ≥ N+1+TAIL existed at
        create time, and since the live maximum only grows, it is still
        visible to any later LIST. So after every successful create at
        ``target`` we re-LIST:

        - max live gen < target+TAIL → the create was provably the tip;
          committed.
        - max live gen ≥ target+TAIL → EITHER name reuse (orphaned) OR
          ≥ TAIL descendants landed in the create→LIST window. The two
          are distinguished exactly by the ancestor-id ring (every
          object records the ids of its last ``REFS_ANCESTOR_RING``
          ancestors): descendants carry our id; a reused-name chain
          cannot. Orphaned → retract our object and replay the mutation
          against the real tip.

        Residual (documented, not silent): a create whose ≥ RING (64)
        descendants all landed inside the create→LIST window is
        unprovable and replays an idempotent tag edit — equivalent to a
        client retry. ``REFS_GC_MIN_AGE_S`` closes even that for
        deployments that want it (name reuse then additionally requires
        a stall longer than the age floor)."""
        for _ in range(200):
            gen, tags, tip_obj = self._refs_tip_obj()
            new_tags = mutate(dict(tags))
            if new_tags == tags:
                return new_tags
            target = gen + 1
            my_id = uuid.uuid4().hex
            ancestors: list[str] = []
            if tip_obj is not None and tip_obj.get("id"):
                ancestors = [tip_obj["id"], *tip_obj.get("ancestors", [])]
                ancestors = ancestors[: self.REFS_ANCESTOR_RING]
            payload = json.dumps(
                {"tags": new_tags, "id": my_id, "ancestors": ancestors}, indent=1
            )
            if self._refs_pre_cas_hook is not None:
                self._refs_pre_cas_hook(self, target)
            if not self.fs.put_if_absent(self._refs_gen_path(target), payload):
                time.sleep(0.01)
                continue
            if self._refs_post_cas_hook is not None:
                self._refs_post_cas_hook(self, target)
            gens = self._refs_gens()
            top = max(gens) if gens else target
            if top >= target + self.REFS_GC_TAIL and not self._refs_descends(
                top, target, my_id
            ):
                # orphaned below the tip (generation-name reuse) — retract
                self.fs.delete(self._refs_gen_path(target))
                continue
            for g in gens:
                if g <= target - self.REFS_GC_TAIL and self._refs_gc_eligible(g):
                    self.fs.delete(self._refs_gen_path(g))
            if gen == 0:
                self.fs.delete(self._refs_path)  # legacy object superseded
            return new_tags
        raise CommitConflict(
            f"refs chain on {self.name}: lost the CAS 200 times (livelock?)"
        )

    # ---------- replication write-fence ----------

    def replica_of(self) -> str | None:
        """Source identity string when this table is a replication
        mirror (stamped by ``lake/replicate.py``), else None. The
        marker lives OUTSIDE the manifest segments because replication
        copies those byte-for-byte from the source."""
        b = self.fs.try_read_bytes(os.path.join(self.meta_dir, "REPLICA_OF"))
        return b.decode().strip() if b is not None else None

    def promote_replica(self) -> None:
        """Detach this mirror from its source: lifts the commit fence so
        local writes are accepted again. After promotion the source and
        this table are independent forks — re-pointing replicate() at a
        promoted table refuses on the first version collision."""
        self.fs.delete(
            os.path.join(self.meta_dir, "REPLICA_OF"), missing_ok=True
        )

    def tag(self, name: str, version: int | None = None) -> int:
        """Pin a name to a committed version (Iceberg tag / Delta named
        snapshot). Tagged versions are retention roots: vacuum keeps
        their files and manifest chains regardless of keep_versions.
        Returns the pinned version. Lock-free: the edit is a CAS commit
        on the refs chain with replan on conflict."""
        if not name or "/" in name or name.startswith("."):
            raise ValueError(f"Invalid tag name: {name!r}")
        v = self.current_version() if version is None else int(version)
        if not self.has_version(v):
            raise ValueError(f"Version {v} of {self.name} does not exist")

        def mut(tags):
            tags[name] = v
            return tags

        self._refs_commit(mut)
        return v

    def delete_tag(self, name: str) -> None:
        def mut(tags):
            tags.pop(name, None)
            return tags

        self._refs_commit(mut)

    def resolve_tag(self, name: str) -> int:
        tags = self.tags()
        if name not in tags:
            raise ValueError(f"Unknown tag {name!r} on {self.name}")
        return tags[name]

    def resolve_timestamp(self, ts) -> int:
        """``TIMESTAMP AS OF`` resolution (Delta semantics): the LATEST
        committed version whose commit wall-clock is ≤ ``ts``.

        ``ts``: epoch seconds (int/float, or a numeric string) or an
        ISO-8601 string (naive = UTC). Commit times come from the
        ``committed_at`` stamp each version's own segment carries (props
        ride delta segments whole, so the stamp survives chain
        compaction); pre-stamp legacy segments fall back to the segment
        file's mtime — with Delta's documented caveat that maintenance
        may rewrite those files."""
        target = _parse_asof_timestamp(ts)
        best: int | None = None
        for v in range(self.current_version() + 1):
            if not self.has_version(v):
                continue
            t_v = self._commit_time_of(v)
            if t_v is not None and t_v <= target:
                best = v
        if best is None:
            raise ValueError(
                f"no version of {self.name} was committed at or before "
                f"{ts!r} (use DESCRIBE HISTORY to see available versions)"
            )
        return best

    def _commit_time_of(self, v: int) -> "float | None":
        """Commit wall-clock of version ``v`` for timestamp resolution,
        or None when the version must not resolve (still pending or
        aborted). Versions committed inside a multi-table transaction
        became VISIBLE at the final marker's instant, not at their
        segment stamp — a ``TIMESTAMP AS OF`` between the two must see
        the pre-transaction state, so the marker's time wins."""
        try:
            m = self.manifest(v, check_txn=False)
        except (FileNotFoundError, ValueError):
            return None
        p = m.props.get("pending_txn")
        if p is not None:
            t_marker = _txn.txn_committed_at(self.fs, self.root, p)
            if t_marker is None:  # open or aborted — not resolvable
                return None
            return t_marker
        try:
            return float(m.props.get("committed_at"))
        except (TypeError, ValueError):
            try:
                return self.fs.file_mtime(
                    os.path.join(self.meta_dir, self.chain_filenames(v)[0])
                )
            except (FileNotFoundError, OSError, IndexError):
                return None

    # ---------- user table properties (TBLPROPERTIES) ----------
    #
    # User properties live in their OWN namespace inside manifest props
    # (``props["tblproperties"]``), so they can never collide with the
    # engine's state keys (column_renames, txns, last_op, clone_*).
    # Edits are versioned commits: SET/UNSET advance the manifest chain,
    # so properties time-travel with the table and survive delta
    # segments (props travel whole).

    def properties(self) -> "dict[str, str]":
        """User table properties at the current version."""
        return dict(self.manifest().props.get("tblproperties", {}))

    def set_properties(self, props: "dict[str, str]") -> int:
        """ALTER TABLE ... SET TBLPROPERTIES: merge ``props`` into the
        user-property namespace as a new committed version."""
        if not props:
            raise ValueError("SET TBLPROPERTIES requires at least one pair")
        with self.lock():
            m = self.manifest()
            tp = {
                **m.props.get("tblproperties", {}),
                **{str(k): str(v) for k, v in props.items()},
            }
            self._commit(
                Manifest(
                    version=m.version + 1,
                    schema=m.schema,
                    pk=m.pk,
                    partition_spec=m.partition_spec,
                    files=m.files,
                    parent=m.version,
                    props={**m.props, "tblproperties": tp,
                           "last_op": "SET TBLPROPERTIES"},
                    file_stats=m.file_stats,
                ),
                parent_manifest=m,
            )
            return m.version + 1

    def unset_properties(self, keys: "list[str]", if_exists: bool = False) -> int:
        """ALTER TABLE ... UNSET TBLPROPERTIES [IF EXISTS]."""
        with self.lock():
            m = self.manifest()
            tp = dict(m.props.get("tblproperties", {}))
            missing = [k for k in keys if k not in tp]
            if missing and not if_exists:
                raise ValueError(
                    f"unknown table propert{'ies' if len(missing) > 1 else 'y'} "
                    f"{missing} on {self.name} (use IF EXISTS to ignore)"
                )
            for k in keys:
                tp.pop(k, None)
            self._commit(
                Manifest(
                    version=m.version + 1,
                    schema=m.schema,
                    pk=m.pk,
                    partition_spec=m.partition_spec,
                    files=m.files,
                    parent=m.version,
                    props={**m.props, "tblproperties": tp,
                           "last_op": "UNSET TBLPROPERTIES"},
                    file_stats=m.file_stats,
                ),
                parent_manifest=m,
            )
            return m.version + 1

    def chain_filenames(self, version: int) -> list[str]:
        """Manifest filenames needed to resolve ``version`` (itself plus
        any delta ancestors down to the full base)."""
        out: list[str] = []
        cur: int | None = version
        while cur is not None:
            hit = False
            for full in (f"v{cur}.json", f"v{cur}.avro"):
                if self.fs.exists(os.path.join(self.meta_dir, full)):
                    out.append(full)
                    return out
            for dname in (f"v{cur}.delta.json", f"v{cur}.delta.avro"):
                if self.fs.exists(os.path.join(self.meta_dir, dname)):
                    out.append(dname)
                    hit = True
                    break
            if not hit:
                raise FileNotFoundError(
                    f"no segment for v{cur} of {self.name}"
                )
            d = self._read_delta_segment(cur)
            cur = d["parent"] if d else None
        return out

    def lock(self):
        """Commit critical section for this table — flock on the posix
        backend, a CAS lease on the object-store backend (the analogue of
        the reference's per-table lock, ``DucklakeTableManager.java:51-52``)."""
        return self.fs.commit_lock(self.meta_dir)

    # ---------- vacuum intent (clone-vs-vacuum handshake) ----------
    #
    # Vacuum decides deletions from a read of tips + tags, THEN deletes —
    # a shallow clone pinning a tag between that read and the deletes
    # would reference files vacuum is about to remove. The handshake:
    # vacuum publishes an INTENT marker before its retention read and
    # clears it after the deletes; ``clone(pin=True)`` writes its pin tag
    # first, then waits for any active intent to clear before validating
    # file existence. Either the pin precedes vacuum's read (files kept)
    # or the clone observes the intent and validates only after the
    # deletes finish — no interleave leaves a pinned clone referencing
    # vacuumed files. Expiry bounds a crashed vacuum's marker.

    VACUUM_INTENT_TTL = 300.0

    @property
    def _vacuum_intent_path(self) -> str:
        return os.path.join(self.meta_dir, "VACUUM.intent")

    def _vacuum_intent_active(self) -> bool:
        raw = self.fs.try_read_bytes(self._vacuum_intent_path)
        if raw is None:
            return False
        try:
            expires = float(json.loads(raw).get("expires", 0))
        except (ValueError, TypeError):
            expires = 0.0
        return time.time() <= expires

    def await_no_vacuum(self, timeout: float = 120.0) -> None:
        """Block until no unexpired vacuum-intent marker exists on this
        table (a crashed vacuum's marker lapses via its TTL)."""
        deadline = time.monotonic() + timeout
        while self._vacuum_intent_active():
            if time.monotonic() > deadline:
                raise CommitConflict(
                    f"vacuum in progress on {self.name} did not finish "
                    f"within {timeout}s"
                )
            time.sleep(0.05)

    def _commit(self, manifest: Manifest, parent_manifest: Manifest | None = None) -> None:
        """Commit a new version. The version segment is published with
        create-if-absent — on the posix backend under flock this is a
        belt-and-braces check; on the object-store backend it IS the
        transaction (S3 conditional PUT): the first writer to create
        ``v{N}`` owns version N, any concurrent writer that planned the
        same version loses the CAS, gets CommitConflict, and replans —
        the reference's PG serialization-conflict retry
        (``DucklakeConnectionFactory.java:68-70``) re-expressed on
        storage. LATEST is then published as a plain PUT: on posix it is
        the authoritative pointer (atomic rename), under CAS commits it
        is only a hint — readers derive the tip from a LIST
        (``current_version``), so a stale/regressed hint after a crash
        between the two PUTs is harmless.

        Compacted manifest chain (SCALE.md): when the parent manifest is
        in hand and the chain since the last full base is shorter than
        COMPACT_EVERY, only a DELTA segment (files added/removed + their
        stats) is serialized — O(changed files) per commit instead of
        O(table files). Every COMPACT_EVERY commits a full base manifest
        is written (the compaction step), bounding resolution cost.
        Time travel resolves any committed version through the chain.
        """
        # replica write-fence (r14, VERDICT r13 #5): a mirror kept in
        # sync by lake/replicate.py must never take local commits — a
        # local version here would silently FORK the chain the next
        # replication run tries to extend. replicate() stamps the
        # destination with a REPLICA_OF marker (outside the verbatim-
        # copied segments); every commit path funnels through this
        # chokepoint, so the fence covers writers, DDL/DML, matview
        # refreshes, and maintenance alike. Promote with
        # LakeTable.promote_replica() to accept the fork explicitly.
        marker = self.replica_of()
        if marker is not None:
            raise ValueError(
                f"table {self.name} is a replication mirror of "
                f"{marker!r} — local writes would fork the version "
                f"chain the next replicate() run extends. Write to the "
                f"source and re-replicate, or promote_replica() to "
                f"detach this mirror first"
            )
        # multi-table transaction protocol (lake/txn.py): stamp this
        # version as pending when the owning catalog has an open BEGIN;
        # otherwise STRIP any stamp inherited through the common
        # ``{**parent.props, ...}`` construction — a committed txn's
        # marker must not ride along forever (it would cost every future
        # reader a marker lookup), and an open txn's must never leak
        # onto an outside write. Building on a FOREIGN pending or
        # aborted version is refused here, which is what makes the
        # reader walk's invariant hold: non-visible versions are always
        # a contiguous tip suffix of one transaction.
        active = self._txn_ctx.active
        parent_txn = (
            parent_manifest.props.get("pending_txn")
            if parent_manifest is not None
            else None
        )
        if parent_txn is not None and parent_txn != active:
            pst = _txn.txn_status(self.fs, self.root, parent_txn)
            if pst == "open":
                raise TxnInProgress(
                    f"table {self.name} tip (v{parent_manifest.version}) "
                    f"belongs to open transaction {parent_txn} — wait for "
                    f"its COMMIT, or rollback_txn({parent_txn!r}) to "
                    f"discard it"
                )
            if pst == "aborted":
                raise TxnInProgress(
                    f"table {self.name} tip (v{parent_manifest.version}) "
                    f"belongs to aborted transaction {parent_txn} whose "
                    f"cleanup has not finished — run "
                    f"rollback_txn({parent_txn!r}) to complete it"
                )
        if active is not None:
            manifest.props["pending_txn"] = active
            _txn.record_touched(self.fs, self.root, active, self.name)
        else:
            manifest.props.pop("pending_txn", None)
        self.fs.ensure_dir(self.meta_dir)
        # pre-check across BOTH serialization forms and delta-ness (the
        # CAS below only guards the exact path being written)
        if self.has_version(manifest.version):
            raise self._commit_collision_error(manifest.version)
        # merge-on-read bookkeeping rides THIS chokepoint so no write
        # path can forget it: files added while tombstones are active
        # get stamped with the committing version, and tombstones that
        # can no longer suppress anything are dropped (lake/mor.py)
        from .mor import commit_adjust

        commit_adjust(parent_manifest, manifest)
        # commit wall-clock for TIMESTAMP AS OF resolution: stored in the
        # version's own segment (props ride delta segments whole), so it
        # survives chain compaction — unlike segment-file mtimes, which
        # vacuum's full-base materialization rewrites (Delta resolves
        # timestamps from log-file mtimes and carries that caveat; the
        # stamp avoids it; mtime stays the legacy-segment fallback)
        # unconditional: most callers build props as {**parent.props, ...},
        # which would otherwise inherit the PARENT's stamp
        manifest.props["committed_at"] = round(time.time(), 3)
        as_delta = (
            parent_manifest is not None
            and manifest.parent == parent_manifest.version
            and parent_manifest.delta_depth + 1 < COMPACT_EVERY
        )
        binary = self.manifest_format == "binary"
        if as_delta:
            d = _make_delta(parent_manifest, manifest)
            if binary:
                spath = os.path.join(self.meta_dir, f"v{manifest.version}.delta.avro")
                payload: bytes | str = encode_segment_binary(d)
            else:
                spath = os.path.join(self.meta_dir, f"v{manifest.version}.delta.json")
                payload = json.dumps(d, indent=1)
        else:
            if binary:
                spath = os.path.join(self.meta_dir, f"v{manifest.version}.avro")
                payload = encode_segment_binary(manifest.to_dict())
            else:
                spath = os.path.join(self.meta_dir, f"v{manifest.version}.json")
                payload = manifest.to_json()
        if not self.fs.put_if_absent(spath, payload):
            raise self._commit_collision_error(manifest.version)
        self.fs.put(os.path.join(self.meta_dir, "LATEST"), str(manifest.version))

    def _commit_collision_error(self, version: int) -> Exception:
        """The right error for 'version N already exists': a plain
        CommitConflict (caller replans on the new tip) — UNLESS the
        collider belongs to an open/aborted transaction, where a replan
        would re-read the same visible manifest and collide forever;
        that caller needs TxnInProgress with the remedy instead."""
        try:
            p = self._resolve_segment(version).props.get("pending_txn")
        except (FileNotFoundError, KeyError, ValueError):
            p = None
        if p is not None and p != self._txn_ctx.active:
            st = _txn.txn_status(self.fs, self.root, p)
            if st == "open":
                return TxnInProgress(
                    f"cannot commit v{version} on {self.name}: that "
                    f"version is held by open transaction {p} — wait for "
                    f"its COMMIT, or rollback_txn({p!r}) to discard it"
                )
            if st == "aborted":
                return TxnInProgress(
                    f"cannot commit v{version} on {self.name}: that "
                    f"version belongs to aborted transaction {p} whose "
                    f"cleanup has not finished — run rollback_txn({p!r}) "
                    f"to complete it"
                )
        return CommitConflict(
            f"Version {version} already committed on {self.name}"
        )

    # ---------- history / restore ----------

    def history(self) -> "DataFrame":
        """DESCRIBE-HISTORY analogue (DuckLake's ``ducklake_snapshots``
        shape): one row per resolvable committed version — (version,
        parent, op, n_files, n_bytes, committed_at). Vacuumed versions
        are skipped (their segments are gone by design). SQL surface:
        ``DESCRIBE HISTORY t`` or the ``table_snapshots('t')`` TVF."""
        import datetime as _dt

        rows = []
        for v in range(self.current_version() + 1):
            if not self.has_version(v):
                continue
            # raw chain walk: versions pending under an open transaction
            # appear (an operator debugging a stuck BEGIN needs to see
            # them) but are invisible to reads until the txn commits
            m = self.manifest(v, check_txn=False)
            n_bytes = sum(
                int((m.file_stats.get(f) or {}).get("__bytes") or 0)
                for f in m.all_files()
            )
            try:
                ts = _dt.datetime.fromtimestamp(
                    float(m.props["committed_at"]), tz=_dt.timezone.utc
                ).replace(tzinfo=None)
            except (KeyError, TypeError, ValueError):
                ts = None
            rows.append(
                (
                    v,
                    m.parent,
                    str(m.props.get("last_op") or "WRITE"),
                    len(m.all_files()),
                    n_bytes,
                    ts,
                )
            )
        return local_rows_df(
            self.spark,
            rows,
            "version long, parent long, op string, n_files long, "
            "n_bytes long, committed_at timestamp",
        )

    def restore(self, version: int) -> int:
        """RESTORE TABLE analogue: commit a NEW version whose content is
        the state at ``version`` — time travel moves forward through the
        log (history is preserved; nothing is rewritten, the new
        manifest re-references the old immutable files). Refuses if any
        referenced data file has been vacuumed away. Returns the new
        version number."""
        with self.lock():
            old = self.manifest(version)
            missing = [
                f
                for f in old.retention_files()
                if not self.fs.exists(os.path.join(self.dir, f))
            ]
            if missing:
                raise ValueError(
                    f"cannot restore {self.name} to v{version}: "
                    f"{len(missing)} data file(s) vacuumed (e.g. {missing[0]})"
                )
            cur = self.manifest()
            # state that describes the restored FILES travels from the
            # restored version (merge-on-read seq/tombstones, rename
            # map); session-scoped state (txns idempotency markers,
            # tblproperties) stays current. mor_preserve: the commit
            # chokepoint must not re-stamp restored base files — that
            # would un-suppress rows the restored tombstones hide.
            props = {**cur.props, "last_op": f"RESTORE({version})"}
            for k in ("mor", "column_renames"):
                props.pop(k, None)
                if k in old.props:
                    props[k] = old.props[k]
            if "mor" in props:
                props["mor_preserve"] = True
            new = Manifest(
                version=cur.version + 1,
                schema=old.schema,
                pk=old.pk,
                partition_spec=old.partition_spec,
                files={k: list(v) for k, v in old.files.items()},
                parent=cur.version,
                props=props,
                file_stats=dict(old.file_stats),
            )
            self._commit(new, parent_manifest=cur)
            return new.version

    def clone(
        self,
        dest_root: str,
        dest_name: str,
        deep: bool = False,
        version: int | None = None,
        tag: str | None = None,
        pin: bool = False,
        dest_backend: "StorageBackend | str | None" = None,
    ) -> "LakeTable":
        """CREATE TABLE ... CLONE analogue (Delta SHALLOW/DEEP CLONE).

        Shallow (default): the destination's v0 manifest references the
        source snapshot's data files by ABSOLUTE path — zero bytes are
        copied, and every path-resolution site already accepts absolute
        entries because ``os.path.join(self.dir, f)`` returns ``f``
        unchanged when absolute. Writes to the clone land under its own
        directory; a MERGE/DELETE that rewrites a shared file writes the
        survivor locally and drops the absolute reference, so the source
        is never mutated. ``vacuum`` only walks a table's OWN data dir,
        so vacuuming the clone never touches source files — but (as with
        Delta shallow clones) vacuuming the SOURCE can delete files the
        clone still references; use ``deep=True`` to materialize an
        independent copy (files + bloom sidecars, layout preserved), or
        ``pin=True`` to tag the cloned version on the SOURCE — tags are
        vacuum retention roots, so the shared files survive any source
        vacuum until ``delete_tag(f"clone-{dest_name}")`` releases them.

        ``version``/``tag`` clone a historical snapshot (time travel).

        ``dest_backend`` clones ACROSS storage backends (default: the
        source's) — with ``deep=True`` this is the lake-migration path
        (e.g. posix NFS table → object-store CAS table: files copied,
        commit protocol switched, history restarts at the clone's v0).
        """
        if version is not None and tag is not None:
            raise ValueError("pass version or tag, not both")
        if tag is not None:
            version = self.resolve_tag(tag)
        src = self.manifest(version)
        dest = LakeTable(
            self.spark,
            dest_root,
            dest_name,
            manifest_format=self.manifest_format,
            backend=dest_backend if dest_backend is not None else self.fs,
        )
        if dest.exists():
            raise ValueError(f"clone destination {dest.dir} already exists")
        # pin FIRST: the retention tag must be a vacuum root BEFORE the
        # file-existence validation below, else a concurrent source
        # vacuum can delete validated files in the window between the
        # check and the tag (TOCTOU). The tag is rolled back if anything
        # later fails, so no stray pin survives a failed clone. After
        # pinning, wait out any in-flight vacuum whose retention read may
        # predate the pin (the VACUUM.intent handshake) — then the
        # validation is decisive: either every file survived or the
        # clone fails cleanly and unpins.
        pinned = False
        if pin and not deep:
            self.tag(f"clone-{dest_name}", src.version)
            pinned = True
            self.await_no_vacuum()
        try:
            files, stats, path_map = self._clone_collect_files(src, dest, deep)
        except BaseException:
            if pinned:
                try:
                    self.delete_tag(f"clone-{dest_name}")
                except Exception:
                    pass
            raise
        from .mor import remap_for_clone

        mor_props = remap_for_clone(src, path_map)
        m = Manifest(
            version=0,
            schema=src.schema,
            pk=src.pk,
            partition_spec=src.partition_spec,
            files=files,
            parent=None,
            props={
                "last_op": f"CLONE({'deep' if deep else 'shallow'})",
                "clone_source": os.path.abspath(self.dir),
                "clone_source_version": src.version,
                # renamed columns keep their physical-in-file names in
                # the cloned files too — the mapping must travel
                **(
                    {"column_renames": src.column_renames}
                    if src.column_renames
                    else {}
                ),
                # merge-on-read seq/tombstone state remapped to the
                # clone's paths; preserved verbatim through this commit
                **({"mor": mor_props, "mor_preserve": True} if mor_props else {}),
                # a pending inline buffer is table CONTENT — it must
                # clone with the files (lake/inline.py; path-free, so
                # no remapping needed)
                **(
                    {"inlined": src.props["inlined"]}
                    if src.props.get("inlined", {}).get("ipc")
                    else {}
                ),
            },
            file_stats=stats,
        )
        dest._commit(m)
        if not deep and not pinned:
            # un-pinned shallow clones share Delta's documented hazard
            # (a source vacuum can orphan them); narrow the window with
            # a post-commit re-validation and roll the clone back rather
            # than leave dangling manifest references
            gone = [
                f
                for f in m.retention_files()
                if not self.fs.exists(os.path.join(self.dir, f))
            ]
            if gone:
                dest.fs.delete_tree(dest.dir)
                raise ValueError(
                    f"cannot clone {self.name}@v{src.version}: "
                    f"{len(gone)} data file(s) vacuumed during the clone "
                    f"(e.g. {gone[0]}); use pin=True or deep=True"
                )
        return dest

    def _clone_collect_files(
        self, src: "Manifest", dest: "LakeTable", deep: bool
    ) -> "tuple[dict[str, list[str]], dict[str, dict], dict[str, str]]":
        files: dict[str, list[str]] = {}
        stats: dict[str, dict] = {}
        path_map: dict[str, str] = {}
        seen_keys: set[str] = set()

        def _collect_one(f: str, pdir: str) -> str:
            src_abs = os.path.join(self.dir, f)
            if not self.fs.exists(src_abs):
                raise ValueError(
                    f"cannot clone {self.name}@v{src.version}: "
                    f"data file vacuumed ({f})"
                )
            if deep:
                base = f"clone-v{src.version}"
                key = os.path.join(
                    "data", base, pdir, os.path.basename(f)
                ) if pdir else os.path.join("data", base, os.path.basename(f))
                # files from different source dirs (e.g. prior
                # add_files imports) may share a basename within one
                # partition dir — uniquify instead of silently
                # overwriting the first copy
                if key in seen_keys:
                    stem, ext = os.path.splitext(key)
                    n = 1
                    while f"{stem}-{n}{ext}" in seen_keys:
                        n += 1
                    key = f"{stem}-{n}{ext}"
                seen_keys.add(key)
                dst_abs = os.path.join(dest.dir, key)
                # the DESTINATION backend owns the write (cross-
                # backend deep clone = read src store, PUT dest store)
                dest.fs.copy_file(src_abs, dst_abs)
                side = src_abs + ".bloom"
                if self.fs.exists(side):
                    dest.fs.copy_file(side, dst_abs + ".bloom")
            else:
                key = os.path.abspath(src_abs)
            path_map[f] = key
            return key

        for pdir, rels in src.files.items():
            out = []
            for f in rels:
                key = _collect_one(f, pdir)
                out.append(key)
                if f in src.file_stats:
                    stats[key] = src.file_stats[f]
            files[pdir] = out
        # merge-on-read tombstone files travel with the clone (same
        # shallow-abs / deep-copy rules); clone() remaps the mor props
        # through path_map (lake/mor.py remap_for_clone)
        for tf in (src.props.get("mor") or {}).get("deletes") or {}:
            _collect_one(tf, "deletes")
        return files, stats, path_map

    def add_files(
        self,
        files: "list[str] | LakeTable",
        copy: bool = False,
    ) -> int:
        """Metadata-only import of existing parquet files (Iceberg
        ``add_files`` analogue): commit a new version referencing the
        given files — by absolute path (zero bytes moved) or copied
        under the table dir with ``copy=True``. This is also the
        publish step of a write-audit-publish flow: stage into a
        scratch table, validate, then ``target.add_files(stage)``.

        Scope guards (refused, not silently wrong): PK tables (imported
        rows could duplicate keys the MERGE invariant assumes unique)
        and partitioned tables (external files have no partition-dir
        attribution). Each file's parquet schema must contain exactly
        the table's physical data columns with equal types —
        ``_inserted_at`` and missing-nullable columns null-fill on
        read. Footer stats + ``__rows``/``__bytes`` are harvested, so
        imported files participate in pruning and metadata-only COUNT
        like native writes. Returns the new version."""
        import pyarrow.parquet as _pq

        src_files: list[str]
        if isinstance(files, LakeTable):
            src_files = [
                os.path.abspath(os.path.join(files.dir, f))
                for f in files.manifest().all_files()
            ]
        else:
            src_files = [os.path.abspath(p) for p in files]
        if not src_files:
            raise ValueError("add_files: empty file list")
        src_files = list(dict.fromkeys(src_files))  # same path twice = one ref
        with self.lock():
            m = self.manifest()
            if m.pk:
                raise ValueError(
                    "add_files on a PK table would bypass the MERGE "
                    "uniqueness invariant; use LakeWriter.merge instead"
                )
            if m.partition_exprs:
                raise ValueError(
                    "add_files target must be unpartitioned (external "
                    "files carry no partition-dir attribution)"
                )
            from ..sources.arrow_ipc import from_arrow_schema

            phys = to_physical_schema(m.schema)
            ren = m.column_renames
            expected = {
                ren.get(f.name, f.name): (
                    f.dataType.simpleString(),
                    f.nullable,
                )
                for f in phys.fields
                if f.name != INSERTED_AT
            }
            for p in src_files:
                if not self.fs.exists(p):
                    raise ValueError(f"add_files: missing file {p}")
                got = {
                    f.name: f.dataType.simpleString()
                    for f in from_arrow_schema(_pq.read_schema(p)).fields
                    if f.name != INSERTED_AT
                }
                extra = sorted(c for c in got if c not in expected)
                bad = sorted(
                    f"{c}: {got[c]} != {expected[c][0]}"
                    for c in got
                    if c in expected and got[c] != expected[c][0]
                )
                missing = sorted(
                    c
                    for c, (_, nullable) in expected.items()
                    if c not in got and not nullable
                )
                if extra or bad or missing:
                    raise ValueError(
                        f"add_files: {p} schema mismatch (extra={extra}, "
                        f"type={bad}, missing-required={missing})"
                    )
            stat_cols = _stats_columns(phys, [])
            stat_cols = [ren.get(c, c) for c in stat_cols]
            inv = {v: k for k, v in ren.items()}
            keys: list[str] = []
            abs_paths: list[str] = []
            if copy:
                stage_rel = os.path.join(
                    "data", f"import-v{m.version + 1}-{uuid.uuid4().hex[:8]}"
                )
                self.fs.ensure_dir(os.path.join(self.dir, stage_rel))
                # two sources may share a basename (/a/data.parquet,
                # /b/data.parquet) — uniquify destination names so the
                # second copy can't silently overwrite the first while
                # the manifest references the survivor twice
                seen: set[str] = set()
                for p in src_files:
                    key = os.path.join(stage_rel, os.path.basename(p))
                    if key in seen:
                        stem, ext = os.path.splitext(key)
                        n = 1
                        while f"{stem}-{n}{ext}" in seen:
                            n += 1
                        key = f"{stem}-{n}{ext}"
                    seen.add(key)
                    dst = os.path.join(self.dir, key)
                    self.fs.copy_file(p, dst)
                    keys.append(key)
                    abs_paths.append(dst)
            else:
                keys = list(src_files)
                abs_paths = list(src_files)
            stats = dict(m.file_stats)
            for key, ap in zip(keys, abs_paths):
                s = _harvest_one(ap, stat_cols, None)
                if s:
                    stats[key] = {inv.get(c, c): v for c, v in s.items()}
            new_files = {k: list(v) for k, v in m.files.items()}
            new_files.setdefault("", []).extend(keys)
            nm = Manifest(
                version=m.version + 1,
                schema=m.schema,
                pk=m.pk,
                partition_spec=m.partition_spec,
                files=new_files,
                parent=m.version,
                props={
                    **m.props,
                    "last_op": f"ADD FILES({len(keys)})",
                },
                file_stats=stats,
            )
            self._commit(nm, parent_manifest=m)
            return nm.version

    def truncate(self) -> int:
        """TRUNCATE TABLE: commit a new version referencing ZERO data
        files — metadata-only (files stay on disk for time travel until
        vacuum), schema/pk/partitioning preserved. Returns the new
        version."""
        with self.lock():
            m = self.manifest()
            nm = Manifest(
                version=m.version + 1,
                schema=m.schema,
                pk=m.pk,
                partition_spec=m.partition_spec,
                files={},
                parent=m.version,
                # TRUNCATE drops ALL content — pending inlined rows
                # (lake/inline.py) are content and empty with it
                props={**m.props, "inlined": {}, "last_op": "TRUNCATE"},
                file_stats={},
            )
            self._commit(nm, parent_manifest=m)
            return nm.version

    def add_column(self, name: str, type_ddl: str) -> int:
        """Metadata-only ADD COLUMN: commit a new manifest whose schema
        appends a NULLABLE column — no file is touched; existing files
        null-fill on read (the same mechanism write-path evolution
        uses, ``schema/reconcile.py``). Returns the new version."""
        with self.lock():
            m = self.manifest()
            if name in m.schema.fieldNames():
                raise ValueError(f"column {name!r} already exists")
            if name in m.column_renames.values():
                raise ValueError(
                    f"{name!r} is the physical name of a renamed column"
                )
            if isinstance(type_ddl, T.DataType):
                # callers running OUTSIDE a live SparkSession (the Python
                # DataSource writer plans in a sessionless worker) pass
                # the DataType directly — fromDDL needs the JVM
                dt = type_ddl
            else:
                dt = T.StructType.fromDDL(f"`{name}` {type_ddl}")[name].dataType
            fields = [f for f in m.schema.fields if f.name != INSERTED_AT]
            fields.append(T.StructField(name, dt, True))
            if INSERTED_AT in m.schema.fieldNames():
                fields.append(m.schema[INSERTED_AT])  # system col stays last
            nm = Manifest(
                version=m.version + 1,
                schema=T.StructType(fields),
                pk=m.pk,
                partition_spec=m.partition_spec,
                files={k: list(v) for k, v in m.files.items()},
                parent=m.version,
                props={**m.props, "last_op": f"ADD COLUMN({name})"},
                file_stats=dict(m.file_stats),
            )
            self._commit(nm, parent_manifest=m)
            return nm.version

    def rename_column(self, old: str, new: str) -> int:
        """Metadata-only RENAME COLUMN (Delta column-mapping style): the
        column's PHYSICAL name inside already-written parquet files never
        changes; the manifest records {logical → physical} and every
        file-boundary site translates (reads rename physical→logical
        after load, writes rename logical→physical before the file
        write). No data file is touched; time travel to older versions
        sees the old name. Refuses PK, partition source/output, and
        system columns (their names thread through merge planning,
        pruning, and dir layout). Returns the new version."""
        with self.lock():
            m = self.manifest()
            from .inline import require_no_inline

            require_no_inline(m, self.name, "RENAME COLUMN")
            names = m.schema.fieldNames()
            if old not in names:
                raise ValueError(f"no column {old!r} on {self.name}")
            if new in names:
                raise ValueError(f"column {new!r} already exists")
            renames = m.column_renames
            # renaming a column back to its OWN physical name is legal
            # (it clears the mapping); colliding with another renamed
            # column's physical name is not — its files already use it
            if any(p == new for l, p in renames.items() if l != old):
                raise ValueError(
                    f"{new!r} is the physical name of a renamed column"
                )
            if old in (m.pk or []):
                raise ValueError(f"cannot rename PK column {old!r}")
            part_cols = {
                c
                for e in m.partition_exprs
                for c in (e.column, e.output_name)
            }
            if old in part_cols:
                raise ValueError(f"cannot rename partition column {old!r}")
            if old == INSERTED_AT:
                raise ValueError("cannot rename the system _inserted_at column")
            fields = [
                T.StructField(new, f.dataType, f.nullable, f.metadata)
                if f.name == old
                else f
                for f in m.schema.fields
            ]
            # physical name = whatever the files call it: the original
            # name, or the pre-rename physical if renamed before
            phys = renames.pop(old, old)
            if new != phys:
                renames[new] = phys
            stats = {
                f: {(new if c == old else c): v for c, v in s.items()}
                for f, s in m.file_stats.items()
            }
            props = {**m.props, "last_op": f"RENAME COLUMN({old}->{new})"}
            if renames:
                props["column_renames"] = renames
            else:
                props.pop("column_renames", None)
            # per-column DEFAULT / NOT NULL / COMMENT props follow the rename
            tp = dict(props.get("tblproperties", {}))
            moved = False
            for pre in ("default.", "notnull.", "comment."):
                if pre + old in tp:
                    tp[pre + new] = tp.pop(pre + old)
                    moved = True
            if moved:
                props["tblproperties"] = tp
            nm = Manifest(
                version=m.version + 1,
                schema=T.StructType(fields),
                pk=m.pk,
                partition_spec=m.partition_spec,
                files={k: list(v) for k, v in m.files.items()},
                parent=m.version,
                props=props,
                file_stats=stats,
            )
            self._commit(nm, parent_manifest=m)
            return nm.version

    # ---------- create ----------

    def create(
        self,
        schema: T.StructType,
        pk: list[str] | None = None,
        partition_by: str | list[str] | None = None,
        props: dict | None = None,
    ) -> Manifest:
        """Auto-create: logical schema + _inserted_at system column
        (DucklakeTableManager.java:186-231)."""
        if self.exists():
            return self.manifest()
        # mirror of create_view's table-collision guard: a view of the
        # same name would otherwise silently shadow the new table in
        # every catalog.sql query (view refs resolve case-insensitively)
        views_dir = os.path.join(os.path.dirname(self.dir), "_views")
        try:
            vnames = self.fs.list_names(views_dir)
        except FileNotFoundError:
            vnames = []
        if any(
            n.endswith(".json") and n[:-5].lower() == self.name.lower()
            for n in vnames
        ):
            raise ValueError(
                f"cannot create table {self.name!r}: a view with that name "
                f"exists (DROP VIEW it first)"
            )
        exprs = parse_partition_exprs(partition_by)
        for e in exprs:
            if e.column not in schema.fieldNames():
                raise ValueError(
                    f"Partition expression {e.spec_string()!r} references "
                    f"unknown column {e.column!r}"
                )
        fields = [f for f in schema.fields if f.name != INSERTED_AT]
        fields.append(T.StructField(INSERTED_AT, T.TimestampType(), True))
        m = Manifest(
            version=0,
            schema=T.StructType(fields),
            pk=list(pk or []),
            partition_spec=[e.spec_string() for e in exprs],
            files={},
            parent=None,
            props=props or {},
        )
        with self.lock():
            if not self.exists():
                self._commit(m)
        return self.manifest()

    def replace(
        self,
        schema: T.StructType,
        pk: list[str] | None = None,
        partition_by: str | list[str] | None = None,
        props: dict | None = None,
    ) -> Manifest:
        """CREATE OR REPLACE TABLE: ONE metadata commit that resets
        schema, pk, partitioning, column renames, and user properties —
        while PRESERVING history (every prior version still time-travels;
        its files reclaim through vacuum retention as usual). Idempotent
        txn markers survive the replace (an exactly-once writer that
        continues across a REPLACE must still dedupe its epochs).
        ``props`` seeds the post-replace manifest props (e.g. a caller
        that must keep a marker visible across the replace window)."""
        if not self.exists():
            return self.create(schema, pk=pk, partition_by=partition_by, props=props)
        exprs = parse_partition_exprs(partition_by)
        for e in exprs:
            if e.column not in schema.fieldNames():
                raise ValueError(
                    f"Partition expression {e.spec_string()!r} references "
                    f"unknown column {e.column!r}"
                )
        fields = [f for f in schema.fields if f.name != INSERTED_AT]
        fields.append(T.StructField(INSERTED_AT, T.TimestampType(), True))
        with self.lock():
            m = self.manifest()
            nm = Manifest(
                version=m.version + 1,
                schema=T.StructType(fields),
                pk=list(pk or []),
                partition_spec=[e.spec_string() for e in exprs],
                files={},
                parent=m.version,
                props={
                    **(props or {}),
                    "last_op": "REPLACE",
                    "txns": m.props.get("txns", {}),
                },
                file_stats={},
            )
            self._commit(nm, parent_manifest=m)
            return nm

    def first_version_at_or_after(self, ts) -> "int | None":
        """Streaming ``startingTimestamp`` resolution (Delta semantics):
        the EARLIEST committed version whose commit wall-clock is ≥
        ``ts``; None when every commit predates it (stream starts at the
        tip, consuming only future commits)."""
        target = _parse_asof_timestamp(ts)
        for v in range(self.current_version() + 1):
            if not self.has_version(v):
                continue
            t_v = self._commit_time_of(v)
            if t_v is not None and t_v >= target:
                return v
        return None

    def drop_column(self, name: str) -> int:
        """Metadata-only DROP COLUMN (Iceberg-style): commit a new
        manifest whose schema omits the column — no data file is
        touched, and because reads always apply the manifest's EXPLICIT
        schema, the column simply stops being projected (time travel to
        older versions still sees it). Refuses PK, partition
        source/output, and system columns. Returns the new version."""
        with self.lock():
            m = self.manifest()
            from .inline import require_no_inline

            require_no_inline(m, self.name, "DROP COLUMN")
            if name not in m.schema.fieldNames():
                raise ValueError(f"no column {name!r} on {self.name}")
            if name in (m.pk or []):
                raise ValueError(f"cannot drop PK column {name!r}")
            part_cols = {
                c
                for e in m.partition_exprs
                for c in (e.column, e.output_name)
            }
            if name in part_cols:
                raise ValueError(f"cannot drop partition column {name!r}")
            if name == INSERTED_AT:
                raise ValueError("cannot drop the system _inserted_at column")
            fields = [f for f in m.schema.fields if f.name != name]
            stats = {
                f: {c: v for c, v in s.items() if c != name}
                for f, s in m.file_stats.items()
            }
            props = {**m.props, "last_op": f"DROP COLUMN({name})"}
            # retire the column's DEFAULT / NOT NULL props — a stale
            # `default.<col>` would resurrect if the name is re-added
            tp = {
                k: v
                for k, v in props.get("tblproperties", {}).items()
                if k not in (
                    f"default.{name}", f"notnull.{name}", f"comment.{name}"
                )
            }
            if tp != props.get("tblproperties", {}):
                props["tblproperties"] = tp
            renames = m.column_renames
            if renames.pop(name, None) is not None:
                # dropping a renamed column retires its mapping entry
                if renames:
                    props["column_renames"] = renames
                else:
                    props.pop("column_renames", None)
            new = Manifest(
                version=m.version + 1,
                schema=T.StructType(fields),
                pk=m.pk,
                partition_spec=m.partition_spec,
                files={k: list(v) for k, v in m.files.items()},
                parent=m.version,
                props=props,
                file_stats=stats,
            )
            self._commit(new, parent_manifest=m)
            return new.version

    def evolve_partition_spec(self, partition_by: str | list[str] | None) -> None:
        """Iceberg-style partition evolution: change how FUTURE writes
        are laid out, without rewriting a byte of data.

        Safe by construction in this engine because partition dirs are
        pure layout/skipping metadata: partition values live as real
        columns inside every file (``PartitionExpr.dir_name`` docstring)
        and all pruning is per-file footer stats, so reads and predicate
        skipping never depend on the directory scheme a file was written
        under. After evolution: old files keep their old dirs; MERGE's
        driver-side partition pruning canonicalizes old-spec dirs to an
        all-None tuple, which routes them through the outside-partition
        key probe — conservative, never missing an old copy (pinned in
        tests/test_partition_evolution.py). Prior specs are recorded in
        manifest props for lineage.
        """
        exprs = parse_partition_exprs(partition_by)
        with self.lock():
            m = self.manifest()
            for e in exprs:
                if e.column not in m.schema.fieldNames():
                    raise ValueError(
                        f"Partition expression {e.spec_string()!r} references "
                        f"unknown column {e.column!r}"
                    )
            new_spec = [e.spec_string() for e in exprs]
            if new_spec == m.partition_spec:
                return
            props = dict(m.props)
            hist = [list(s) for s in props.get("prior_partition_specs", [])]
            hist.append(list(m.partition_spec))
            props["prior_partition_specs"] = hist
            self._commit(
                Manifest(
                    version=m.version + 1,
                    schema=m.schema,
                    pk=m.pk,
                    partition_spec=new_spec,
                    files=m.files,
                    parent=m.version,
                    props=props,
                    file_stats=m.file_stats,
                ),
                parent_manifest=m,
            )

    # ---------- read ----------

    def read_schema(self, m: Manifest) -> T.StructType:
        """Physical file schema: physical data columns (renamed columns
        under their in-file names) plus derived partition columns (real
        columns inside each file)."""
        physical = to_physical_schema(m.schema)
        ren = m.column_renames
        fields = [
            T.StructField(ren.get(f.name, f.name), f.dataType, f.nullable, f.metadata)
            if f.name in ren
            else f
            for f in physical.fields
        ]
        for e in m.partition_exprs:
            if e.is_derived:
                fields.append(T.StructField(e.output_name, T.IntegerType(), True))
        return T.StructType(fields)

    @staticmethod
    def to_logical_names(df: DataFrame, m: Manifest) -> DataFrame:
        """Rename physical file columns back to their logical names —
        the read-boundary half of metadata-only RENAME COLUMN. No-op
        for tables without renames."""
        ren = m.column_renames
        if not ren:
            return df
        cols = set(df.columns)
        mapping = {
            phys: logical for logical, phys in ren.items() if phys in cols
        }
        return df.withColumnsRenamed(mapping) if mapping else df

    def prune_files(
        self,
        predicate: str,
        version: int | None = None,
        manifest: Manifest | None = None,
    ) -> tuple[list[str], int]:
        """Manifest-level data skipping: relative paths of files that may
        hold rows matching ``predicate``, plus how many were pruned.
        Derived partition columns are stat-ed like any other column, so
        partition pruning falls out of the same mechanism. Equality /
        IN conjuncts on the bloomed PK column additionally probe each
        surviving file's Bloom sidecar (one small read per file that
        range stats could not eliminate)."""
        from .skipping import parse_conjuncts, prune_files as _prune

        # Accept an already-resolved manifest so callers holding a
        # snapshot (read(where=...)) stay pinned to it — re-resolving
        # LATEST here could see a concurrent commit and return a file
        # list from a NEWER version than the schema the caller planned.
        m = manifest if manifest is not None else self.manifest(version)
        kept, pruned = _prune(m.all_files(), m.file_stats, predicate)
        # Bloom sidecars hash the canonical str() of the STORED value, so a
        # probe is only sound when the literal's Python type matches the
        # bloomed column's type — `pk = 5.0` on a BIGINT column is true in
        # SQL for pk=5 but hashes '5.0' vs the stored '5' and would wrongly
        # prune. Mixed/mismatched literals skip the probe (range stats
        # already guard those conservatively).
        pk0_type = (
            m.schema[m.pk[0]].dataType
            if m.pk and m.pk[0] in m.schema.fieldNames()
            else None
        )

        def _probe_ok(v) -> bool:
            if isinstance(pk0_type, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
                return isinstance(v, int) and not isinstance(v, bool)
            if isinstance(pk0_type, T.StringType):
                return isinstance(v, str)
            return False

        point_probes = [
            vals
            for vals in (
                (c.value if c.op == "in" else [c.value])
                for c in parse_conjuncts(predicate)
                if c.op in ("=", "in") and m.pk and c.column == m.pk[0]
            )
            if all(_probe_ok(v) for v in vals)
        ]
        if point_probes:
            from .bloom import sidecar_might_contain

            survivors = []
            for f in kept:
                p = os.path.join(self.dir, f)
                if all(sidecar_might_contain(p, vals) for vals in point_probes):
                    survivors.append(f)
            pruned += len(kept) - len(survivors)
            kept = survivors
        return kept, pruned

    def read(
        self,
        version: int | None = None,
        include_hidden: bool = False,
        where: str | None = None,
        tag: str | None = None,
        timestamp=None,
    ) -> DataFrame:
        """Snapshot read: explicit file list from the manifest, explicit
        schema (no inference scan, no partition discovery — partition
        values are stored as data columns). Old files missing newly-added
        columns are null-filled by the Parquet reader.

        ``where`` applies the predicate AND skips manifest files whose
        footer stats preclude a match — Spark never opens them. The
        result is identical to ``read().filter(where)`` (skipping is
        provably conservative; see ``lake/skipping.py``).
        ``tag`` reads a named snapshot ref (see :meth:`tag`);
        ``timestamp`` reads the snapshot as of a wall-clock instant
        (see :meth:`resolve_timestamp`)."""
        if sum(x is not None for x in (version, tag, timestamp)) > 1:
            raise ValueError("Pass version= or tag= or timestamp=, not both")
        if tag is not None:
            version = self.resolve_tag(tag)
        elif timestamp is not None:
            version = self.resolve_timestamp(timestamp)
        m = self.manifest(version)
        exprs = m.partition_exprs
        schema = self.read_schema(m)
        rel_files = m.all_files()
        if where is not None:
            rel_files, _ = self.prune_files(where, manifest=m)
        # merge-on-read visibility (tombstone anti-join) applies here —
        # a plain schema'd multi-path read when the table has no MOR
        # state (lake/mor.py). File pruning above stays sound: pruning
        # only drops files whose rows the predicate rejects anyway.
        from .inline import inline_rows_df
        from .mor import read_visible

        df = read_visible(self, m, rel_files, schema=schema)
        # pending inlined rows (lake/inline.py) union in at the single
        # read chokepoint — bounded by the inline limit, physical-shaped
        # like any file row, and filtered by `where` below exactly as
        # file rows are (file pruning above is unaffected: it only
        # narrows the FILE list)
        inl = inline_rows_df(self.spark, m, schema)
        if inl is not None:
            df = df.unionByName(inl, allowMissingColumns=True)
        df = self.to_logical_names(df, m)
        if where is not None:
            df = df.filter(where)
        if not include_hidden:
            hidden = derived_column_names(exprs)
            if hidden:
                df = df.drop(*hidden)
        return df

    def row_count(self, version: int | None = None) -> int:
        """Metadata-only COUNT(*): sum of the per-file ``__rows`` footer
        stats recorded in the manifest — zero file opens, zero Spark
        jobs. DuckDB answers ``SELECT count(*)`` on a ducklake table
        from catalog metadata the same way; at 100 TB this is the
        difference between a dict sum and a full scan. Files written
        before ``__rows`` harvesting fall back to one pruned-scan count
        over just those files. Merge-on-read tables cannot answer from
        footers alone (tombstones suppress rows inside files), so they
        count the visible snapshot instead."""
        m = self.manifest(version)
        if (m.props.get("mor") or {}).get("deletes"):
            return self.read(version=m.version).count()
        from .inline import inline_state

        total = inline_state(m)[1]  # pending inlined rows: metadata-only
        missing: list[str] = []
        for f in m.all_files():
            r = (m.file_stats.get(f) or {}).get("__rows")
            if r is None:
                missing.append(f)
            else:
                total += int(r)
        if missing:
            files = [os.path.join(self.dir, p) for p in missing]
            total += self.spark.read.schema(self.read_schema(m)).parquet(
                *files
            ).count()
        return total

    def changes(
        self,
        from_version: int,
        to_version: int | None = None,
        preimages: bool = False,
    ) -> DataFrame:
        """Change-data feed between two committed versions: one row per
        PK whose content changed, with ``_change_type`` in
        ('insert', 'update', 'delete'). With ``preimages=True`` each
        update instead emits TWO rows — ``update_preimage`` (old values)
        and ``update_postimage`` (new values), Delta CDF semantics — so a
        downstream consumer can maintain aggregates incrementally:
        sign every row +1 (insert/postimage) or -1 (delete/preimage) and
        the signed deltas fold into any SUM/COUNT-shaped state, including
        rows that migrate between group keys. Requires a PK (the identity
        that makes 'update' meaningful). Built as a full-outer join of the
        two snapshot reads on the PK — no change-log machinery, just
        immutable files + manifest versioning. File-level optimization:
        files present in BOTH manifests are identical objects (files are
        immutable), so each side scans only the files the other version
        does NOT share — the diff cost scales with the changed file set,
        not the table. At 100 TB an incremental consumer therefore pays
        for the churn, not the corpus."""
        m_from = self.manifest(from_version)
        m_to = self.manifest(to_version)
        if not m_from.pk:
            raise ValueError(f"changes() on {self.name} requires pk columns")
        pk = list(m_from.pk)
        # CDF needs a STABLE row identity across the span: a REPLACE (or
        # pk change) in between makes "the same row" undefined — raise a
        # diagnosis instead of an unresolved-column analysis error
        if list(m_to.pk or []) != pk or any(
            c not in m_to.schema.fieldNames() for c in pk
        ):
            raise ValueError(
                f"changes() on {self.name}: pk changed between "
                f"v{m_from.version} ({pk}) and v{m_to.version} "
                f"({list(m_to.pk or [])}) — the span crosses a REPLACE or "
                f"pk redefinition, so row identity (and therefore CDF) is "
                f"undefined across it; diff within one schema lineage"
            )
        # CDF is a FILE diff; an inline buffer that differs between the
        # endpoints holds row changes no file records. Equal buffers
        # cancel exactly (both sides would scan the same rows), so only
        # a difference refuses — with the flush remedy.
        from .inline import inline_state

        if inline_state(m_from)[0] != inline_state(m_to)[0]:
            raise ValueError(
                f"changes() on {self.name}: the inline buffer differs "
                f"between v{m_from.version} and v{m_to.version} — run "
                f"FLUSH INLINED DATA {self.name} and diff spans whose "
                f"endpoints have no pending inlined rows"
            )
        shared = set(m_from.all_files()) & set(m_to.all_files())
        only_from = [f for f in m_from.all_files() if f not in shared]
        only_to = [f for f in m_to.all_files() if f not in shared]

        from .relation_cache import empty_relation, schema_relation

        def _side(m: Manifest, rel_files: list[str]) -> DataFrame:
            schema = self.read_schema(m)
            files = [os.path.join(self.dir, p) for p in rel_files]
            if not files:
                df = empty_relation(self.spark, schema)
            else:
                df = schema_relation(self.spark, schema, files)
            # physical in-file names are the invariant across versions:
            # align BOTH snapshots to the TO side's logical names, so a
            # rename between the versions compares values, not names
            df = self.to_logical_names(df, m_to)
            hidden = derived_column_names(m.partition_exprs)
            return df.drop(*hidden) if hidden else df

        from .mor import mor_state, read_visible

        ms_from, ms_to = mor_state(m_from), mor_state(m_to)
        if ms_from != ms_to or ms_from[1] or ms_to[1]:
            # Merge-on-read span — OR standing tombstones on either end:
            # file identity no longer equals row identity (a shared
            # file's rows can be suppressed on one side only; equal
            # states with live tombstones still poison the file diff,
            # because a file removed in the span — e.g. a copy-on-write
            # delete dropping a whole seq-0 file — carries row versions
            # the tombstones were suppressing, and the raw diff would
            # surface them as spurious deletes/updates). Diff the
            # VISIBLE snapshots instead, semi-joined to the span's
            # candidate keys — every changed pk must appear in a
            # tombstone file added in the span, a data file added in the
            # span, or a file removed in the span (copy-on-write ops
            # interleaved with MOR state), so the join output stays
            # O(churn) even though both sides scan their snapshot.
            def _pk_of(m: Manifest, rel_files: list[str]) -> DataFrame:
                ren = m.column_renames
                pkp = [ren.get(c, c) for c in pk]
                if not rel_files:
                    return empty_relation(
                        self.spark,
                        T.StructType([self.read_schema(m)[p] for p in pkp]),
                    ).toDF(*pk)
                d = schema_relation(
                    self.spark,
                    self.read_schema(m),
                    [os.path.join(self.dir, p) for p in rel_files],
                )
                return d.select(*[F.col(p).alias(l) for p, l in zip(pkp, pk)])

            new_tombs = {
                tf: mv for tf, mv in ms_to[1].items() if tf not in ms_from[1]
            }
            cand_parts = [_pk_of(m_to, only_to), _pk_of(m_from, only_from)]
            if new_tombs:
                from .mor import _tombstone_frame

                tomb, pk_phys, _ = _tombstone_frame(self, m_to, new_tombs, prefix="")
                cand_parts.append(
                    tomb.select(
                        *[F.col(p).alias(l) for p, l in zip(pk_phys, pk)]
                    )
                )
            from functools import reduce as _reduce

            cand = _reduce(lambda a, b: a.unionByName(b), cand_parts).distinct()
            # The semi-join's right side is bounded by the SPAN'S CHURN
            # (files added/removed between the versions + new tombstone
            # keys), not the table — when those bytes fit the MOR
            # broadcast cap, broadcast the candidate keys so each
            # snapshot branch hash-probes in place instead of
            # sort-merge-shuffling the full snapshot by pk. The optimizer
            # pushes the semi-join below the per-seq union, so without
            # the hint the candidate aggregate is recomputed (and
            # re-shuffled) once per branch; broadcast exchanges dedupe
            # via reuse. Over the cap (bulk rewrite spans) the shuffled
            # plan stands — there the churn IS the table and a broadcast
            # would OOM the executors.
            from .mor import MOR_BROADCAST_BYTES

            churn_bytes = sum(
                int(v.get("bytes") or 0) for v in new_tombs.values()
            )
            for rel in only_from + only_to:
                p = os.path.join(self.dir, rel)
                churn_bytes += int(os.path.getsize(p)) if os.path.exists(p) else 0
            if churn_bytes <= MOR_BROADCAST_BYTES:
                cand = F.broadcast(cand)

            def _visible_side(m: Manifest) -> DataFrame:
                df = read_visible(self, m, m.all_files())
                df = self.to_logical_names(df, m_to)
                hidden = derived_column_names(m.partition_exprs)
                df = df.drop(*hidden) if hidden else df
                return df.join(cand, on=pk, how="left_semi")

            old = _visible_side(m_from)
            new = _visible_side(m_to)
        else:
            old = _side(m_from, only_from)
            new = _side(m_to, only_to)
        phys_to = to_physical_schema(m_to.schema)
        data_cols = [
            f.name
            for f in phys_to.fields
            if f.name not in pk and f.name != INSERTED_AT
        ]
        # payload structs aligned to the TO-side physical schema: columns
        # the old snapshot predates are typed nulls, so evolved tables
        # compare field-for-field instead of failing on struct shape
        o = old.select(
            *[F.col(c).alias(f"__o_{c}") for c in pk],
            F.struct(
                *[
                    F.col(c).cast(phys_to[c].dataType).alias(c)
                    if c in old.columns
                    else F.lit(None).cast(phys_to[c].dataType).alias(c)
                    for c in data_cols
                ]
            ).alias("__o_payload"),
        )
        n = new.select(
            *[F.col(c).alias(f"__n_{c}") for c in pk],
            F.struct(*[F.col(c) for c in data_cols]).alias("__n_payload"),
            *[F.col(c) for c in data_cols],
        )
        cond = None
        for c in pk:
            eq = F.col(f"__o_{c}") == F.col(f"__n_{c}")
            cond = eq if cond is None else (cond & eq)
        j = o.join(n, cond, "full_outer")
        is_insert = F.col(f"__o_{pk[0]}").isNull()
        is_delete = F.col(f"__n_{pk[0]}").isNull()
        change = (
            F.when(is_insert, "insert")
            .when(is_delete, "delete")
            .otherwise("update")
        )
        out_pk = [
            F.coalesce(F.col(f"__n_{c}"), F.col(f"__o_{c}")).alias(c) for c in pk
        ]
        changed = j.filter(
            is_insert
            | is_delete
            # eqNullSafe: null fields compare equal (a row whose only
            # nulls persisted must not surface as an update)
            | ~F.col("__o_payload").eqNullSafe(F.col("__n_payload"))
        )
        if preimages:
            # update → two rows (pre/post image); insert/delete → one.
            # Both payload structs are aligned to the TO-side physical
            # schema above, so the array element types unify.
            n_payload = F.struct(
                *[F.col(c).alias(c) for c in data_cols]
            )
            rows = (
                F.when(
                    is_insert,
                    F.array(
                        F.struct(
                            F.lit("insert").alias("ct"),
                            n_payload.alias("p"),
                        )
                    ),
                )
                .when(
                    is_delete,
                    F.array(
                        F.struct(
                            F.lit("delete").alias("ct"),
                            F.col("__o_payload").alias("p"),
                        )
                    ),
                )
                .otherwise(
                    F.array(
                        F.struct(
                            F.lit("update_preimage").alias("ct"),
                            F.col("__o_payload").alias("p"),
                        ),
                        F.struct(
                            F.lit("update_postimage").alias("ct"),
                            n_payload.alias("p"),
                        ),
                    )
                )
            )
            return (
                changed.select(*out_pk, F.explode(rows).alias("__r"))
                .select(
                    *pk,
                    *[F.col("__r.p")[c].alias(c) for c in data_cols],
                    F.col("__r.ct").alias("_change_type"),
                )
            )
        # deletes carry their last-seen values (Delta CDF semantics)
        out_data = [
            F.when(is_delete, F.col("__o_payload")[c])
            .otherwise(F.col(c))
            .alias(c)
            for c in data_cols
        ]
        return changed.select(*out_pk, *out_data, change.alias("_change_type"))

    # ---------- physical file management (used by the writer) ----------

    def write_data_files(
        self,
        df: DataFrame,
        version_hint: int,
        layout: str = "natural",
        skip_bloom: bool = False,
        range_split: tuple[list[str], int] | None = None,
        manifest: Manifest | None = None,
    ) -> tuple[dict[str, list[str]], dict]:
        """Write a DataFrame as immutable Parquet under a fresh stage dir,
        partitioned by the table's partition columns; return the
        ({partition-relpath: [file-relpath]},
        {file-relpath: {column: [min, max]}}) pair for the manifest.
        Stats = footer min/max of every scalar column (PK first, capped
        at MAX_STATS_COLUMNS) — read locally here; on an object store
        the same footers are one ranged GET per file, or come back from
        the write tasks. Callers that already hold the current manifest
        pass it via ``manifest`` to skip a redundant chain resolution."""
        m = manifest if manifest is not None else (self.manifest() if self.exists() else None)
        exprs = m.partition_exprs if m else []
        pk = m.pk if m else []
        stat_cols = _stats_columns(df.schema, pk)
        bloom_col = _bloom_column(df.schema, pk)
        stage_rel = os.path.join("data", f"s{version_hint}-{uuid.uuid4().hex[:8]}")
        stage_abs = os.path.join(self.dir, stage_rel)
        df = with_dir_columns(df, exprs)
        # write boundary of metadata-only RENAME COLUMN: files always
        # carry PHYSICAL names; manifest state (stats keys) stays logical
        ren = m.column_renames if m else {}
        if ren:
            df = df.withColumnsRenamed(ren)
            stat_cols = [ren.get(c, c) for c in stat_cols]
            bloom_col = ren.get(bloom_col, bloom_col) if bloom_col else None
        dir_cols = dir_column_names(exprs)
        # layout='single': the caller knows the output is small (micro-batch
        # merge) — coalesce to one task so the commit writes one right-sized
        # file instead of a shard per upstream task, with NO extra shuffle.
        # layout='rebalance' (appends): Delta-style optimized write — one
        # AQE REBALANCE shuffle sizes output partitions at ~advisory bytes,
        # so bulk appends emit 64 MB-class files, not one per input task.
        # layout='natural' keeps upstream parallelism: at scale each task
        # holds ~maxPartitionBytes of scan output, which is already the
        # file size you want (used by large merges, whose plan already
        # avoids shuffling the target).
        if layout == "single":
            # repartition(1), NOT coalesce(1): for callers whose upstream
            # plan is parallel work (the merge-on-read delta, a large
            # window merge) coalesce would pull that compute into the
            # write's single task. The round-robin shuffle moves only the
            # small output rows. A caller whose whole plan fits one task
            # coalesces upstream itself and writes 'natural' instead (the
            # small CoW merge: one shuffle-free job, see
            # writer._window_merge).
            df = df.repartition(1)
        elif layout == "range" and range_split:
            # Range-split by the given columns (the PK for merges): each
            # task writes a key-DISJOINT file, so the manifest's per-file
            # min/max stay tight and a later merge's rewrite set is only
            # the files its batch keys actually overlap — without this,
            # every merge output spans the full key range and forces the
            # next merge to rewrite everything (unbounded rewrite
            # amplification on hot tables).
            cols, n = range_split
            df = df.repartitionByRange(n, *[F.col(c) for c in cols])
        elif layout == "rebalance":
            df = df.hint("rebalance", *dir_cols) if dir_cols else df.hint("rebalance")
        writer = df.write.mode("overwrite")
        # per-table codec knob (Iceberg write.parquet.compression-codec /
        # Delta parity): TBLPROPERTIES write.compression — zstd for cold
        # archival tables, snappy (Spark default) for hot ones
        codec = (m.props.get("tblproperties", {}) if m else {}).get(
            "write.compression"
        )
        if codec:
            writer = writer.option("compression", codec)
        if dir_cols:
            writer = writer.partitionBy(*dir_cols)
        with REGISTRY.timer("write.dataFiles"):
            if layout == "rebalance":
                # AQE's coalescePartitions.parallelismFirst (default true)
                # makes REBALANCE ignore the 64 MB advisory and keep
                # ~defaultParallelism partitions — measured: a 45 MB
                # append came out as 32 × 1.6 MB files and every such
                # commit then paid an auto-compact rewrite. Honor the
                # advisory for exactly this write job (scoped + restored:
                # flipping it session-wide would also collapse the
                # intermediate shuffles of compute-heavy queries to one
                # 64 MB partition). Worst case for a concurrent query on
                # another thread is one coarser-grained AQE stage.
                pf_key = (
                    "spark.sql.adaptive.coalescePartitions.parallelismFirst"
                )
                sized = os.environ.get("DUCKLAKE_WRITE_SIZED_FILES", "1") != "0"
                conf = self.spark.conf
                old_pf = None
                if sized:
                    try:
                        old_pf = conf.get(pf_key)
                    except Exception:
                        old_pf = None
                    conf.set(pf_key, "false")
                try:
                    writer.parquet(stage_abs)
                finally:
                    if sized:
                        if old_pf is None:
                            conf.unset(pf_key)
                        else:
                            conf.set(pf_key, old_pf)
            else:
                writer.parquet(stage_abs)

        files: dict[str, list[str]] = {}
        abs_files: list[str] = []
        rel_files: list[str] = []
        for rel in self.fs.walk_files(stage_abs):
            if not rel.endswith(".parquet"):
                continue
            rel_dir = os.path.dirname(rel)
            part_key = rel_dir
            rel_file = os.path.join(stage_rel, rel)
            files.setdefault(part_key, []).append(rel_file)
            abs_files.append(os.path.join(stage_abs, rel))
            rel_files.append(rel_file)
        with REGISTRY.timer("write.harvest"):
            stats = self._harvest(
                abs_files, rel_files, stat_cols, None if skip_bloom else bloom_col
            )
        if ren:
            inv = {p: l for l, p in ren.items()}
            stats = {
                f: {inv.get(c, c): v for c, v in s.items()}
                for f, s in stats.items()
            }
        # ZERO-ROW parts are dropped, not committed: Spark's writer emits
        # an (empty) part file per empty task, and a delete/update whose
        # survivors vanish entirely would otherwise commit a useless file
        # that every later scan, prune pass, and manifest diff pays for.
        # Detection is free — __rows is already in the harvested footer.
        empty = {
            f for f, s in stats.items() if s.get("__rows") == 0
        }
        if empty:
            for part_key in list(files):
                kept = [f for f in files[part_key] if f not in empty]
                if kept:
                    files[part_key] = kept
                else:
                    del files[part_key]
            for f in empty:
                stats.pop(f, None)
                self.fs.delete(os.path.join(self.dir, f), missing_ok=True)
        return files, stats

    # Above this many freshly written bytes, footer-stat/bloom harvesting
    # fans out as a Spark job instead of a serial driver loop. The job
    # costs ~0.3-0.45 s before it reads a byte (scheduling plus Python
    # worker start-up); the driver harvests ~3 ms per MB (a 141 MB,
    # 2M-row file: ~0.4 s, Bloom hashing dominates; twelve ~50 KB merge
    # outputs: 13 ms). Bytes, not file count, is what the driver loop
    # pays for: a partitioned micro-batch writes one small file per
    # partition dir.
    HARVEST_SPARK_MIN_BYTES = 128 * 1024 * 1024

    def _harvest(
        self,
        abs_files: list[str],
        rel_files: list[str],
        stat_cols: list[str],
        bloom_col: str | None,
    ) -> dict:
        """Per-file footer min/max stats + Bloom sidecars for a freshly
        written stage dir. Small commits run on the driver (no job
        scheduling cost); larger ones parallelize across executors
        (files must be executor-readable, as with membership_filter_spark)."""
        if not abs_files or (not stat_cols and not bloom_col):
            return {}
        if _total_bytes(abs_files) <= self.HARVEST_SPARK_MIN_BYTES:
            return {
                rel: s
                for rel, s in zip(
                    rel_files,
                    (_harvest_one(p, stat_cols, bloom_col) for p in abs_files),
                )
                if s
            }
        REGISTRY.inc("write.harvestSpark")
        sc = self.spark.sparkContext
        pairs = list(zip(abs_files, rel_files))
        results = (
            sc.parallelize(pairs, min(len(pairs), sc.defaultParallelism))
            .map(lambda t: (t[1], _harvest_one(t[0], stat_cols, bloom_col)))
            .collect()
        )
        return {rel: s for rel, s in results if s}


def _total_bytes(abs_files: list[str]) -> int:
    """Summed size of freshly written local files (unknown sizes count
    as 0, like ``_harvest_one``'s ``__bytes``)."""
    total = 0
    for p in abs_files:
        try:
            total += os.path.getsize(p)
        except OSError:
            pass
    return total


MAX_STATS_COLUMNS = 12
MAX_STAT_STRING = 64


def _bloom_column(schema: T.StructType, pk: list[str]) -> str | None:
    """First PK column, if int/string-typed — the point-lookup Bloom
    sidecar target (floats excluded: canonical-form parity trap)."""
    if not pk or pk[0] not in schema.fieldNames():
        return None
    dt = schema[pk[0]].dataType
    ok = isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType, T.StringType))
    return pk[0] if ok else None


def _harvest_one(abs_path: str, stat_cols: list[str], bloom_col: str | None) -> dict:
    """Footer stats + bloom sidecar for one data file (runs on the driver
    for small commits, inside an executor task for large ones). One
    ParquetFile open serves both passes: stats come from the footer
    metadata, the bloom from a single read of the PK column — no second
    file open (on an object store: one GET for the footer, one ranged
    GET for the column chunk). The reserved ``__bytes`` entry records
    the file size so later merges can size their rewrite set from the
    manifest alone — no per-file stat calls in the planning path."""
    try:
        import pyarrow.parquet as pq

        pf = pq.ParquetFile(abs_path)
    except Exception:
        return {}
    s = _footer_stats_of(pf, stat_cols)
    try:
        s["__bytes"] = os.path.getsize(abs_path)
    except OSError:
        pass
    if bloom_col:
        _write_bloom_sidecar(pf, abs_path, bloom_col)
    return s


def _write_bloom_sidecar(pf, path: str, column: str) -> None:
    try:
        from .bloom import write_sidecar

        if pf.schema_arrow.get_field_index(column) < 0:
            return
        tbl = pf.read(columns=[column])
        if tbl.num_columns != 1:
            return
        col = tbl.column(0)
        import pyarrow as pa

        if col.null_count == 0 and pa.types.is_integer(col.type):
            write_sidecar(path, col.combine_chunks().to_numpy())
        else:
            write_sidecar(path, col.to_pylist())
    except Exception:
        pass  # blooms are an optimization; never fail a write over one


def _stats_columns(schema: T.StructType, pk: list[str]) -> list[str]:
    """Scalar columns worth stat-ing, PK columns first (they drive MERGE
    pruning), capped so manifests stay small on wide tables."""
    scalar = [
        f.name
        for f in schema.fields
        if not isinstance(f.dataType, (T.StructType, T.ArrayType, T.MapType, T.BinaryType))
        and f.name != INSERTED_AT
    ]
    ordered = [c for c in pk if c in scalar] + [c for c in scalar if c not in pk]
    return ordered[:MAX_STATS_COLUMNS]


def _normalize_stat(lo, hi):
    """Footer min/max → JSON-safe, comparison-safe [lo, hi]; None = drop.
    hi=None means unbounded above (truncated long string)."""
    if lo is None or isinstance(lo, (bytes, bytearray)):
        return None
    if isinstance(lo, bool) or isinstance(lo, (int, float, str)):
        pass
    elif isinstance(lo, decimal.Decimal):
        # str(Decimal) orders lexicographically, NOT numerically ("10.5"
        # < "9.1") — a silent wrong-pruning trap. Store floats nudged
        # one ulp outward so the bounds stay conservative despite the
        # float conversion's rounding direction being unknown.
        lo = math.nextafter(float(lo), -math.inf)
        hi = math.nextafter(float(hi), math.inf)
    else:  # datetime/date → ISO-ish str(); lexicographic order == value order
        lo, hi = str(lo), str(hi)
    if isinstance(lo, str) and (len(lo) > MAX_STAT_STRING or len(hi) > MAX_STAT_STRING):
        # a prefix of min is still a valid lower bound; a truncated max
        # is NOT a valid upper bound, so it becomes unbounded
        return [lo[:MAX_STAT_STRING], None]
    return [lo, hi]


def _footer_stats(path: str, columns: list[str]) -> dict:
    """{column: [min, max(, null_count)]} from parquet row-group footer
    statistics (no data pages read); columns with absent stats are
    omitted, all-NULL columns keep a null-count-only entry."""
    try:
        import pyarrow.parquet as pq

        return _footer_stats_of(pq.ParquetFile(path), columns)
    except Exception:
        return {}


def _footer_stats_of(f, columns: list[str]) -> dict:
    try:
        out: dict = {"__rows": f.metadata.num_rows}
    except Exception:
        return {}
    for column in columns:
        # per-COLUMN isolation: pyarrow raises decoding some columns'
        # statistics (e.g. Spark-written decimals) — one bad column must
        # not discard every other column's stats (that silently disables
        # ALL merge/read pruning for the file)
        try:
            idx = f.schema_arrow.get_field_index(column)
            if idx < 0:
                continue
            import pyarrow as pa

            ftype = f.schema_arrow.field(idx).type
            dec_scale = ftype.scale if pa.types.is_decimal(ftype) else None
            lo = hi = None
            mm_ok = True
            nulls = 0
            nulls_ok = True
            for rg in range(f.metadata.num_row_groups):
                col = f.metadata.row_group(rg).column(idx)
                st = col.statistics
                if st is None:
                    mm_ok = nulls_ok = False
                    break
                if st.has_null_count:
                    nulls += st.null_count
                else:
                    nulls_ok = False
                if not st.has_min_max:
                    # all-NULL columns legitimately lack min/max; keep
                    # accumulating null counts so IS NOT NULL can prune
                    mm_ok = False
                    continue
                if dec_scale is not None:
                    # Spark stores decimals as unscaled INT32/INT64/FLBA;
                    # pyarrow's typed st.min/max raises on them, but the
                    # raw values decode directly
                    mn = _decimal_from_raw(st.min_raw, dec_scale)
                    mx = _decimal_from_raw(st.max_raw, dec_scale)
                else:
                    mn, mx = st.min, st.max
                lo = mn if lo is None else min(lo, mn)
                hi = mx if hi is None else max(hi, mx)
            norm = _normalize_stat(lo, hi) if (mm_ok and lo is not None) else None
            if norm is None:
                if not nulls_ok:
                    continue
                # null-count-only entry ([None, None, nulls]): min/max
                # unusable but NULL pruning still sound
                norm = [None, None]
            if nulls_ok:
                norm = norm + [nulls]
            out[column] = norm
        except Exception:
            continue
    return out


def _decimal_from_raw(raw, scale: int) -> decimal.Decimal:
    """Unscaled parquet decimal statistic (int for INT32/INT64 storage,
    big-endian two's-complement bytes for FIXED_LEN_BYTE_ARRAY) →
    Decimal."""
    if isinstance(raw, (bytes, bytearray)):
        unscaled = int.from_bytes(raw, "big", signed=True)
    else:
        unscaled = int(raw)
    return decimal.Decimal(unscaled).scaleb(-scale)


# SQL identifier fragment for the dispatched DDL/DML parsers: a bare
# word, a double-quoted identifier with "" escaping (the reference's
# quoting discipline, ingestor/SqlIdentifierUtil.java:32-39), or a
# backtick-quoted identifier with `` escaping (the Spark flavor).
_IDENT = r'(?:[A-Za-z_]\w*|"(?:[^"]|"")+"|`(?:[^`]|``)+`)'


def _has_subquery(text: str) -> bool:
    """True when a predicate contains a subquery — ``(SELECT`` outside
    single-quoted string literals ('' escape respected)."""
    import re as _re

    blanked = _re.sub(r"'(?:[^']|'')*'", "''", text)
    return _re.search(r"\(\s*SELECT\b", blanked, _re.IGNORECASE) is not None


def quote_ident(name: str) -> str:
    """The reference's quoting discipline
    (``ingestor/SqlIdentifierUtil.java:32-39``): names matching
    ``[A-Za-z_][A-Za-z0-9_]*`` pass through bare; anything else is
    double-quoted with internal ``"`` doubled. ``unquote_ident`` is the
    exact inverse."""
    if name is None:
        raise ValueError("Identifier cannot be None")
    if re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", name):
        return name
    return '"' + name.replace('"', '""') + '"'


def unquote_ident(s: str) -> str:
    """Resolve a possibly-quoted SQL identifier to its raw name."""
    s = s.strip()
    if len(s) >= 2 and s[0] == s[-1] == '"':
        return s[1:-1].replace('""', '"')
    if len(s) >= 2 and s[0] == s[-1] == "`":
        return s[1:-1].replace("``", "`")
    return s


def _dq_idents_to_backticks(sql_fragment: str) -> str:
    """Rewrite double-quoted identifiers to backtick form so Spark's DDL
    parser (``StructType.fromDDL``) accepts them (Spark treats "..." as a
    string literal, not an identifier)."""

    def repl(m: "re.Match[str]") -> str:
        inner = m.group(1).replace('""', '"').replace("`", "``")
        return f"`{inner}`"

    return re.sub(r'"((?:[^"]|"")+)"', repl, sql_fragment)


def _parse_string_literal(text: str) -> str:
    """A single-quoted SQL string literal with '' escaping → its value."""
    s = text.strip()
    m = re.fullmatch(r"'((?:[^']|'')*)'", s, re.DOTALL)
    if not m:
        raise ValueError(f"expected a string literal, got: {text.strip()!r}")
    return m.group(1).replace("''", "'")


def _parse_tblproperties(body: str) -> dict[str, str]:
    """``'k'='v', 'k2'='v2'`` (Spark TBLPROPERTIES syntax: keys and
    values are string literals) → dict."""
    props: dict[str, str] = {}
    for part in split_top_level(body):
        sides = split_top_level(part, "=")
        if len(sides) != 2:
            raise ValueError(f"bad TBLPROPERTIES pair: {part.strip()!r}")
        props[_parse_string_literal(sides[0])] = _parse_string_literal(sides[1])
    return props


def split_top_level(text: str, sep: str = ",") -> list[str]:
    """Split on ``sep`` at paren depth 0 and OUTSIDE string/identifier
    quotes ('…' with '' escape, "…", `…`) — the scanner the UPDATE SET
    clause and PK lists need so literals like 'a,b' or '(' can't corrupt
    the split."""
    parts: list[str] = []
    buf: list[str] = []
    depth = 0
    quote: str | None = None
    i = 0
    while i < len(text):
        ch = text[i]
        if quote is not None:
            buf.append(ch)
            if ch == quote:
                if i + 1 < len(text) and text[i + 1] == quote:
                    buf.append(quote)  # escaped '' / "" / ``
                    i += 1
                else:
                    quote = None
        elif ch in ("'", '"', "`"):
            quote = ch
            buf.append(ch)
        elif ch == "(":
            depth += 1
            buf.append(ch)
        elif ch == ")":
            depth -= 1
            buf.append(ch)
        elif ch == sep and depth == 0:
            parts.append("".join(buf))
            buf = []
        else:
            buf.append(ch)
        i += 1
    parts.append("".join(buf))
    return parts


def _strip_column_options(cols: str) -> "tuple[str, dict[str, str]]":
    """Strip per-column ``DEFAULT <expr>`` / ``NOT NULL`` /
    ``CHECK (<pred>)`` options and table-level ``[CONSTRAINT <name>]
    CHECK (<pred>)`` items from a CREATE TABLE column list (any order,
    DuckDB-style) and return the bare ``name type`` list Spark's
    ``fromDDL`` parses, plus the options as table properties:
    ``default.<col>`` → the default expression, ``notnull.<col>`` →
    "true", ``constraint.<name>`` → the CHECK predicate (the same
    namespace ``ALTER TABLE ADD CONSTRAINT`` uses, so every writer
    enforces them identically). Keyword scanning runs over a literal-
    blanked copy (same length, positions map 1:1) so a default like
    ``DEFAULT 'NOT NULL'`` can't be mangled."""

    def _blank(text: str) -> str:
        return re.sub(r"'(?:[^']|'')*'", lambda m: " " * len(m.group(0)), text)

    out: list[str] = []
    props: dict[str, str] = {}
    n_anon = 0
    for item in split_top_level(cols):
        s = item.strip()
        # table-level constraint item: [CONSTRAINT name] CHECK (pred)
        tm = re.match(
            rf"(?:CONSTRAINT\s+({_IDENT})\s+)?CHECK\s*\((.+)\)\s*$",
            s,
            re.IGNORECASE | re.DOTALL,
        )
        if tm:
            if tm.group(1):
                cname = unquote_ident(tm.group(1))
            else:
                n_anon += 1
                cname = f"check_{n_anon}"
            props[f"constraint.{cname}"] = tm.group(2).strip()
            continue
        notnull = False
        default: str | None = None
        check: str | None = None
        while True:
            b = _blank(s)
            # single-\s anchors, not \s+: a blanked literal is all
            # spaces, and a greedy \s+ would swallow it into the match
            # (mangling `DEFAULT 'new' NOT NULL` to `DEFAULT`)
            mnn = re.search(r"\sNOT\s+NULL\s*$", b, re.IGNORECASE)
            if mnn:
                notnull = True
                s = s[: mnn.start()].rstrip()
                continue
            if check is None:
                mck = re.search(
                    r"\sCHECK\s*\(.*\)\s*$", b, re.IGNORECASE | re.DOTALL
                )
                if mck:
                    tail = s[mck.start():].strip()
                    check = tail[tail.index("(") + 1: tail.rindex(")")].strip()
                    s = s[: mck.start()].rstrip()
                    continue
            if default is None:
                mdf = re.search(r"\sDEFAULT(?=\s)", b, re.IGNORECASE)
                if mdf:
                    default = s[mdf.end():].strip()
                    s = s[: mdf.start()].rstrip()
                    continue
            break
        cm = re.match(rf"\s*({_IDENT})", s)
        cname = unquote_ident(cm.group(1)) if cm else None
        if cname:
            if notnull:
                props[f"notnull.{cname}"] = "true"
            if default is not None:
                props[f"default.{cname}"] = default
            if check is not None:
                props[f"constraint.{cname}_check"] = check
        out.append(s)
    return ", ".join(out), props


def _find_top_level_kw(text: str, kw: str) -> int:
    """Index of the first paren-depth-0 occurrence of keyword ``kw``
    outside single-quoted literals, word-bounded; -1 if absent."""
    i, depth, n, L = 0, 0, len(text), len(kw)
    kw_u = kw.upper()
    while i < n:
        c = text[i]
        if c == "'":
            j = i + 1
            while j < n:
                if text[j] == "'":
                    if j + 1 < n and text[j + 1] == "'":
                        j += 2
                        continue
                    break
                j += 1
            i = j + 1
            continue
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        elif depth == 0 and text[i:i + L].upper() == kw_u:
            before = text[i - 1] if i else " "
            after = text[i + L] if i + L < n else " "
            if not (before.isalnum() or before in "_`\"") and not (
                after.isalnum() or after in "_`\""
            ):
                return i
        i += 1
    return -1


# DuckDB scalar-function names with a 1:1 Spark builtin (identical arg
# shape and semantics) — renamed in place. Names Spark 4 already ships
# (len, contains, string_agg, split_part, date_trunc, ...) need nothing.
_DUCKDB_FN_RENAME = {
    "list_transform": "transform",
    "list_filter": "filter",
    "list_contains": "array_contains",
    "list_value": "array",
    "list_pack": "array",
    "list_distinct": "array_distinct",
    "list_concat": "concat",
    "list_cat": "concat",
    "array_length": "size",
    "starts_with": "startswith",
    "ends_with": "endswith",
    "suffix": "endswith",
    "prefix": "startswith",
    "strpos": "instr",
    "regexp_matches": "regexp_like",
    "epoch_ms": "unix_millis",
    "epoch_us": "unix_micros",
}

# strftime/strptime %-token → JDK DateTimeFormatter pattern. The
# dash modifier (%-d = no padding) maps to the single-letter form.
_STRF_TOKENS = {
    "Y": "yyyy", "y": "yy", "m": "MM", "-m": "M", "d": "dd", "-d": "d",
    "H": "HH", "-H": "H", "I": "hh", "-I": "h", "M": "mm", "-M": "m",
    "S": "ss", "-S": "s", "f": "SSSSSS", "g": "SSS", "j": "DDD",
    "p": "a", "a": "EEE", "A": "EEEE", "b": "MMM", "B": "MMMM",
    "%": "%",
}


def _strf_to_java(fmt: str) -> str:
    """``%Y-%m-%d`` → ``yyyy-MM-dd``; literal text that is meaningful to
    DateTimeFormatter (letters) gets quoted. Unknown % tokens refuse —
    a silently-wrong format is worse than an error."""
    out: list[str] = []
    i, n = 0, len(fmt)
    while i < n:
        c = fmt[i]
        if c == "%":
            tok = fmt[i + 1] if i + 1 < n else ""
            if tok == "-" and i + 2 < n:
                tok = "-" + fmt[i + 2]
                i += 3
            else:
                i += 2
            if tok == "%":
                out.append("%")
                continue
            if tok not in _STRF_TOKENS:
                raise ValueError(
                    f"strftime/strptime: unsupported format token %{tok}"
                )
            out.append(_STRF_TOKENS[tok])
        elif c.isalpha():
            j = i
            while j < n and fmt[j].isalpha():
                j += 1
            out.append("'" + fmt[i:j] + "'")
            i = j
        else:
            if c == "'":
                out.append("''")
            else:
                out.append(c)
            i += 1
    return "".join(out)


def _sql_str(value: str) -> str:
    """Value → single-quoted Spark SQL literal (backslash + quote
    escaped; Spark's lexer treats backslash as an escape)."""
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _rewrite_duckdb_functions(text: str) -> str:
    """Quote-aware scan renaming DuckDB scalar functions onto Spark
    builtins, plus three arg-transforming rewrites: ``strftime(ts,
    '%…')`` → ``date_format(ts, '<java>')``, ``strptime(s, '%…')`` →
    ``to_timestamp(s, '<java>')`` (literal formats only — a computed
    format refuses), and ``string_split(s, sep)`` → ``split(s,
    <regex-escaped sep>)`` (DuckDB's separator is a literal, Spark's a
    regex — escaping at rewrite time keeps the semantics exact).
    Recurses into argument lists so nested calls rewrite too."""
    import re as _re2

    out: list[str] = []
    i, n = 0, len(text)
    transform_fns = ("strftime", "strptime", "string_split", "str_split")
    while i < n:
        ch = text[i]
        if ch == "'":
            j = i + 1
            while j < n:
                if text[j] == "'":
                    if j + 1 < n and text[j + 1] == "'":
                        j += 2
                        continue
                    break
                j += 1
            out.append(text[i:j + 1])
            i = j + 1
            continue
        if ch in ('"', "`"):
            j = text.find(ch, i + 1)
            while j != -1 and j + 1 < n and text[j + 1] == ch:
                j = text.find(ch, j + 2)
            if j == -1:
                j = n - 1
            out.append(text[i:j + 1])
            i = j + 1
            continue
        if ch.isalpha() or ch == "_":
            j = i
            while j < n and (text[j].isalnum() or text[j] == "_"):
                j += 1
            word = text[i:j]
            lw = word.lower()
            k = j
            while k < n and text[k].isspace():
                k += 1
            is_call = k < n and text[k] == "("
            if is_call and (lw in _DUCKDB_FN_RENAME or lw in transform_fns):
                depth, m_, quote = 0, k, None
                while m_ < n:
                    c = text[m_]
                    if quote:
                        if c == quote:
                            if (
                                quote == "'"
                                and m_ + 1 < n
                                and text[m_ + 1] == "'"
                            ):
                                m_ += 1
                            else:
                                quote = None
                    elif c in ("'", '"', "`"):
                        quote = c
                    elif c == "(":
                        depth += 1
                    elif c == ")":
                        depth -= 1
                        if depth == 0:
                            break
                    m_ += 1
                inner = _rewrite_duckdb_functions(text[k + 1:m_])
                if lw in _DUCKDB_FN_RENAME:
                    out.append(f"{_DUCKDB_FN_RENAME[lw]}({inner})")
                else:
                    args = [a.strip() for a in split_top_level(inner)]
                    if len(args) != 2:
                        raise ValueError(f"{word}: expected 2 arguments")
                    if lw in ("strftime", "strptime"):
                        # DuckDB puts the format second; fall back to a
                        # literal first arg (seen in the wild) only
                        # when the second isn't a literal
                        if args[1].startswith("'"):
                            lit, other = args[1], args[0]
                        elif args[0].startswith("'"):
                            lit, other = args[0], args[1]
                        else:
                            raise ValueError(
                                f"{word}: the format must be a string "
                                f"literal for the Spark rewrite"
                            )
                        java = _strf_to_java(_parse_string_literal(lit))
                        fn = (
                            "date_format" if lw == "strftime"
                            else "to_timestamp"
                        )
                        out.append(f"{fn}({other}, {_sql_str(java)})")
                    else:  # string_split / str_split
                        s, sep = args
                        if not sep.startswith("'"):
                            raise ValueError(
                                f"{word}: the separator must be a string "
                                f"literal for the Spark rewrite"
                            )
                        esc = _re2.escape(_parse_string_literal(sep))
                        out.append(f"split({s}, {_sql_str(esc)})")
                i = m_ + 1
                continue
            out.append(word)
            i = j
            continue
        out.append(ch)
        i += 1
    return "".join(out)


def _subst_macro_params(body: str, binding: "dict[str, str]") -> str:
    """Replace whole-word parameter references in a macro body with the
    parenthesized argument text, case-insensitively, skipping string
    literals and quoted identifiers (a parameter named ``x`` must not
    rewrite inside ``'x marks'`` or ``"x"``). Dotted references
    (``t.x``) never substitute — the dot marks a column qualifier."""
    lut = {p.lower(): a for p, a in binding.items()}
    out: list[str] = []
    i, n = 0, len(body)
    while i < n:
        ch = body[i]
        if ch == "'":
            j = i + 1
            while j < n:
                if body[j] == "'":
                    if j + 1 < n and body[j + 1] == "'":
                        j += 2
                        continue
                    break
                j += 1
            out.append(body[i:j + 1])
            i = j + 1
            continue
        if ch in ('"', "`"):
            j = body.find(ch, i + 1)
            while j != -1 and j + 1 < n and body[j + 1] == ch:
                j = body.find(ch, j + 2)
            if j == -1:
                j = n - 1
            out.append(body[i:j + 1])
            i = j + 1
            continue
        if ch.isalpha() or ch == "_":
            j = i
            while j < n and (body[j].isalnum() or body[j] == "_"):
                j += 1
            word = body[i:j]
            prev = body[i - 1] if i else " "
            if word.lower() in lut and prev != ".":
                out.append(f"({lut[word.lower()]})")
            else:
                out.append(word)
            i = j
            continue
        out.append(ch)
        i += 1
    return "".join(out)


def _rewrite_distinct_on(query: str) -> str:
    """DuckDB/Postgres ``SELECT DISTINCT ON (keys) ... [ORDER BY o]`` —
    keep the FIRST row per key group under the statement's ORDER BY
    (arbitrary but deterministic when no ORDER BY is given). Spark has
    no such clause; the standard rewrite is a ``row_number() OVER
    (PARTITION BY keys ORDER BY o) = 1`` filter around the FROM body,
    with the select list, ORDER BY, and LIMIT re-applied outside. The
    ORDER BY must reference base columns (not select-list aliases) —
    the window runs BENEATH the projection. One shuffle on the keys,
    same as the hand-written window idiom."""
    di = _find_top_level_kw(query, "DISTINCT")
    if di < 0:
        return query
    after = query[di + len("DISTINCT"):]
    am = re.match(r"\s*ON\s*\(", after, re.IGNORECASE)
    if not am:
        return query
    pre = query[:di]
    if not pre.rstrip().upper().endswith("SELECT"):
        return query
    pre = pre.rstrip()[: -len("SELECT")]
    # keys: the parenthesized expression list (paren/quote aware)
    k0 = di + len("DISTINCT") + am.end() - 1
    depth, i, quote = 0, k0, None
    n = len(query)
    while i < n:
        c = query[i]
        if quote:
            if c == quote:
                if quote == "'" and i + 1 < n and query[i + 1] == "'":
                    i += 1
                else:
                    quote = None
        elif c in ("'", '"', "`"):
            quote = c
        elif c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
            if depth == 0:
                break
        i += 1
    keys_txt = query[k0 + 1:i].strip()
    if not keys_txt:
        raise ValueError("DISTINCT ON requires at least one expression")
    rest = query[i + 1:]
    fi = _find_top_level_kw(rest, "FROM")
    if fi < 0:
        raise ValueError("DISTINCT ON requires a FROM clause")
    select_list = rest[:fi].strip()
    body_plus = rest[fi:]
    cuts = [
        x
        for x in (
            _find_top_level_kw(body_plus, "ORDER"),
            _find_top_level_kw(body_plus, "LIMIT"),
        )
        if x >= 0
    ]
    cut = min(cuts) if cuts else len(body_plus)
    body, tail = body_plus[:cut].rstrip(), body_plus[cut:].strip()
    om = re.match(r"ORDER\s+BY\s+(.*?)(?:\bLIMIT\b.*)?$", tail,
                  re.IGNORECASE | re.DOTALL)
    order_txt = om.group(1).strip() if om else keys_txt
    tail = f" {tail}" if tail else ""
    if select_list == "*":
        select_list = "* EXCEPT (__don)"
    return (
        f"{pre}SELECT {select_list} FROM ("
        f"SELECT *, row_number() OVER (PARTITION BY {keys_txt} "
        f"ORDER BY {order_txt}) AS __don {body}"
        f") __don_q WHERE __don = 1{tail}"
    )


_USING_SAMPLE_RE = re.compile(
    r"USING\s+SAMPLE\s+"
    r"(?:(?P<meth>reservoir|bernoulli|system)\s*\(\s*)?"
    r"(?P<num>\d+(?:\.\d+)?)\s*(?P<unit>%|PERCENT\b|ROWS?\b)?"
    r"(?(meth)\s*\))"
    r"(?:\s*\(\s*(?:reservoir|bernoulli|system)\s*"
    r"(?:,\s*(?P<seed>\d+))?\s*\))?"
    r"(?:\s*REPEATABLE\s*\(\s*(?P<seed2>\d+)\s*\))?",
    re.IGNORECASE,
)


def _rewrite_using_sample(query: str) -> str:
    """DuckDB ``USING SAMPLE`` → Spark ``TABLESAMPLE``. Both attach to a
    table reference, so the rewrite is a local keyword-and-spec
    substitution: ``t USING SAMPLE 10%``, ``10 PERCENT``, ``100 ROWS``,
    a bare row count, ``reservoir(100 ROWS)``, and a method/seed suffix
    ``10% (bernoulli, 42)`` / ``REPEATABLE (42)`` all map. Percentage
    sampling keeps the seed via Spark's REPEATABLE; row sampling drops
    it (Spark's ROWS form is a deterministic prefix, DuckDB's reservoir
    an unseeded-by-default sample — neither row set is portable across
    engines, which is inherent to sampling, not the rewrite)."""

    def repl(m: "re.Match") -> str:
        num, unit = m.group("num"), (m.group("unit") or "").upper().strip()
        seed = m.group("seed") or m.group("seed2")
        if unit in ("%", "PERCENT"):
            out = f"TABLESAMPLE ({num} PERCENT)"
            if seed:
                out += f" REPEATABLE ({seed})"
            return out
        return f"TABLESAMPLE ({int(float(num))} ROWS)"

    return _USING_SAMPLE_RE.sub(repl, query)


def _rewrite_duckdb_dialect(query: str) -> str:
    """DuckDB-dialect SELECT features the reference's users rely on,
    rewritten onto Spark SQL (r14):

    - ``* EXCLUDE (cols)`` → Spark's ``* EXCEPT (cols)`` (same
      semantics, different keyword).
    - top-level ``QUALIFY <pred>`` → the standard wrap: the query (sans
      QUALIFY/ORDER/LIMIT) becomes a subquery filtered by the predicate,
      with ORDER BY/LIMIT re-applied outside. Predicates naming window
      ALIASES wrap directly (works under leading CTEs too); predicates
      with INLINE ``... OVER (...)`` windows inject a computed
      ``__qualify`` column into the select list and filter on it
      (``SELECT * EXCEPT (__qualify)`` keeps the output shape) —
      supported on plain SELECT statements.

    Subquery-level QUALIFY is out of scope (Spark's parser reports it).

    Scalar-function parity runs first (``_rewrite_duckdb_functions``):
    DuckDB names with exact Spark builtins rename in place, and
    strftime/strptime/string_split translate their literal format or
    separator arguments."""
    query = _rewrite_duckdb_functions(query)
    query = _rewrite_distinct_on(query)
    query = _rewrite_using_sample(query)
    q = re.sub(r"(\*\s*)EXCLUDE\b", r"\1EXCEPT", query, flags=re.IGNORECASE)
    qi = _find_top_level_kw(q, "QUALIFY")
    if qi < 0:
        return q
    head = q[:qi].rstrip()
    rest = q[qi + len("QUALIFY"):]
    cuts = [
        x
        for x in (
            _find_top_level_kw(rest, "ORDER"),
            _find_top_level_kw(rest, "LIMIT"),
        )
        if x >= 0
    ]
    cut = min(cuts) if cuts else len(rest)
    pred, tail = rest[:cut].strip(), rest[cut:].strip()
    tail = f" {tail}" if tail else ""
    if re.search(r"\bOVER\s*\(", pred, re.IGNORECASE):
        if not head.lstrip().upper().startswith("SELECT"):
            raise ValueError(
                "QUALIFY with an inline OVER(...) window is supported on "
                "plain SELECT statements — under WITH, alias the window "
                "in the select list and QUALIFY the alias"
            )
        fi = _find_top_level_kw(head, "FROM")
        if fi < 0:
            raise ValueError("QUALIFY requires a FROM clause")
        injected = (
            head[:fi].rstrip() + f", ({pred}) AS __qualify " + head[fi:]
        )
        return (
            f"SELECT * EXCEPT (__qualify) FROM ({injected}) __q "
            f"WHERE __qualify{tail}"
        )
    return f"SELECT * FROM ({head}) __q WHERE {pred}{tail}"


class LakeCatalog:
    """A directory of LakeTables — the engine's 'lake.main' namespace."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        manifest_format: str | None = None,
        backend: "StorageBackend | str | None" = None,
    ):
        self.spark = spark
        self.root = root
        self.manifest_format = manifest_format
        self.fs = resolve_backend(backend)
        self.fs.ensure_dir(root)
        # ATTACH'd sibling lakes (alias → LakeCatalog), session-scoped
        # like DuckDB's ATTACH — nothing persists across processes
        self._attached: "dict[str, LakeCatalog]" = {}
        # multi-table transaction context (lake/txn.py) — shared with
        # every LakeTable this catalog hands out, so BEGIN/COMMIT here
        # govern all of them
        self._txn = TxnContext()
        # currval('s') state: last sequence value handed out THROUGH
        # THIS catalog (DuckDB's currval is likewise session-scoped)
        self._seq_currval: "dict[str, int]" = {}

    # ---------- ATTACH (read-only sibling lakes) ----------
    #
    # `ATTACH '<root>' AS alias` exposes another lake's tables to this
    # catalog's SQL as `alias.table` — the engine-side analogue of the
    # reference attaching its ducklake catalog to a DuckDB connection
    # (`connect/DucklakeConnectionFactory.java:36-95`). Attachment is
    # READ-ONLY by design: a replica's version chain must not fork
    # under a remote writer (lake/replicate.py's fence rationale), so
    # DML/DDL against an attached name refuses.

    def attach(self, path: str, alias: str) -> None:
        if not re.match(r"[A-Za-z_]\w*$", alias):
            raise ValueError(f"ATTACH: invalid alias {alias!r}")
        if alias.lower() in (a.lower() for a in self._attached):
            raise ValueError(f"ATTACH: alias {alias!r} already in use")
        self._attached[alias] = LakeCatalog(
            self.spark, path, manifest_format=self.manifest_format
        )

    def detach(self, alias: str) -> None:
        canon = next(
            (a for a in self._attached if a.lower() == alias.lower()), None
        )
        if canon is None:
            raise ValueError(f"DETACH: {alias!r} is not attached")
        del self._attached[canon]

    def _rewrite_attached_refs(self, query: str):
        """Rewrite every ``alias.table`` reference to a synthetic temp
        view over the attached catalog's table read (current version).
        Quote-aware; returns (rewritten query, views to drop)."""
        import uuid as _uuid

        views: list[str] = []
        if not self._attached:
            return query, views
        aliases = {a.lower(): a for a in self._attached}
        out: list[str] = []
        i, n = 0, len(query)
        while i < n:
            ch = query[i]
            if ch == "'":
                j = i + 1
                while j < n:
                    if query[j] == "'":
                        if j + 1 < n and query[j + 1] == "'":
                            j += 2
                            continue
                        break
                    j += 1
                out.append(query[i:j + 1])
                i = j + 1
                continue
            if ch in ('"', "`"):
                j = query.find(ch, i + 1)
                while j != -1 and j + 1 < n and query[j + 1] == ch:
                    j = query.find(ch, j + 2)
                if j == -1:
                    j = n - 1
                out.append(query[i:j + 1])
                i = j + 1
                continue
            if (ch.isalpha() or ch == "_") and (
                i == 0 or not (query[i - 1].isalnum() or query[i - 1] in "_.")
            ):
                j = i
                while j < n and (query[j].isalnum() or query[j] == "_"):
                    j += 1
                word = query[i:j]
                if (
                    word.lower() in aliases
                    and j < n
                    and query[j] == "."
                    and j + 1 < n
                    and (query[j + 1].isalpha() or query[j + 1] == "_")
                ):
                    k = j + 1
                    while k < n and (query[k].isalnum() or query[k] == "_"):
                        k += 1
                    tbl = query[j + 1:k]
                    att = self._attached[aliases[word.lower()]]
                    if att.table_exists(tbl):
                        syn = (
                            f"__att_{word.lower()}_{tbl}_"
                            f"{_uuid.uuid4().hex[:6]}"
                        )
                        att.table(tbl).read().createOrReplaceTempView(syn)
                        views.append(syn)
                        out.append(quote_ident(syn))
                        i = k
                        continue
                out.append(word)
                i = j
                continue
            out.append(ch)
            i += 1
        return "".join(out), views

    def table(self, name: str) -> LakeTable:
        return LakeTable(
            self.spark,
            self.root,
            name,
            manifest_format=self.manifest_format,
            backend=self.fs,
            txn_ctx=self._txn,
        )

    # ---------- multi-table transactions (lake/txn.py) ----------
    #
    # DuckLake's catalog-level ACID story: BEGIN; write several tables;
    # COMMIT — and every touched table flips visible in ONE atomic
    # create-if-absent PUT of the final marker. The reference gets this
    # from its Postgres catalog's transactions
    # (`DucklakeConnectionFactory.java:36-95`); here the protocol lives
    # on storage so it holds on posix and object-store backends alike.
    # See lake/txn.py for the full protocol + crash matrix.

    def begin(self) -> str:
        """Open a transaction. Subsequent writes through THIS catalog
        (Python API or SQL DML/DDL) stay invisible to other readers
        until :meth:`commit_txn`. Returns the transaction id."""
        if self._txn.active is not None:
            raise ValueError(
                f"transaction {self._txn.active} is already open on this "
                f"catalog (nested BEGIN is not supported — COMMIT or "
                f"ROLLBACK it first)"
            )
        self._txn.active = _txn.begin_txn(self.fs, self.root)
        return self._txn.active

    def commit_txn(self) -> str:
        """Atomically publish every write made since :meth:`begin`."""
        txn_id = self._txn.active
        if txn_id is None:
            raise ValueError("no open transaction (BEGIN first)")
        tables = _txn.touched_tables(self.fs, self.root, txn_id)
        _txn.finalize_txn(self.fs, self.root, txn_id, "committed", tables)
        self._txn.active = None
        return txn_id

    def rollback_txn(self, txn_id: str | None = None) -> str:
        """Abort a transaction and physically undo its writes.

        With no argument, rolls back this catalog's open transaction.
        Pass an id to clean up a FOREIGN transaction (one whose process
        died mid-flight, or whose own rollback crashed mid-cleanup) —
        the final marker lands first, so re-running is idempotent and
        a crash here never widens the damage. After cleanup the chain
        is clean: freed version numbers are reused by the next writer.
        """
        target = txn_id if txn_id is not None else self._txn.active
        if target is None:
            raise ValueError("no open transaction and no txn id given")
        status = _txn.txn_status(self.fs, self.root, target)
        if status == "committed":
            raise ValueError(
                f"transaction {target} already committed — committed "
                f"state rolls back via time travel (RESTORE), not "
                f"ROLLBACK"
            )
        if status == "open":
            _txn.finalize_txn(
                self.fs,
                self.root,
                target,
                "aborted",
                _txn.touched_tables(self.fs, self.root, target),
            )
        for tname in _txn.touched_tables(self.fs, self.root, target):
            self._rollback_table(tname, target)
        if self._txn.active == target:
            self._txn.active = None
        return target

    def _rollback_table(self, tname: str, txn_id: str) -> None:
        """Delete ``txn_id``'s pending versions from one table: the
        segments AND the data/tombstone files only they referenced.
        Pending versions are a contiguous tip suffix (the _commit fence
        guarantees it), so the walk is tip-down to the first visible
        ancestor."""
        t = self.table(tname)
        if not t.exists():
            return  # table was created inside the txn and fully cleaned
        try:
            tip = t.current_version()
        except FileNotFoundError:
            return
        pending: list[Manifest] = []
        v: int | None = tip
        while v is not None and v >= 0:
            try:
                m = t.manifest(v, check_txn=False)
            except FileNotFoundError:
                break
            if m.props.get("pending_txn") != txn_id:
                break
            pending.append(m)
            v = m.parent if m.parent is not None else -1
        if not pending:
            return
        keep_version = pending[-1].parent
        kept_files: set[str] = set()
        if keep_version is not None:
            kept_files = set(
                t.manifest(keep_version, check_txn=False).retention_files()
            )
        doomed_files = {
            f for m in pending for f in m.retention_files()
        } - kept_files
        # order: data files first, segments last, pointer fix after —
        # a crash at any point leaves the txn aborted-and-invisible,
        # and a re-run resumes (missing files skip silently)
        for rel in sorted(doomed_files):
            for path in (
                os.path.join(t.dir, rel),
                os.path.join(t.dir, rel) + ".bloom",
            ):
                try:
                    t.fs.delete(path)
                except FileNotFoundError:
                    pass
        if doomed_files:
            t.fs.remove_empty_dirs(t.data_dir)
        for m in pending:
            for fn in (
                f"v{m.version}{ext}"
                for ext in (".json", ".avro", ".delta.json", ".delta.avro")
            ):
                try:
                    t.fs.delete(os.path.join(t.meta_dir, fn))
                except FileNotFoundError:
                    pass
        if keep_version is None:
            # table born inside the aborted txn — remove its breadcrumb
            # pointer so exists() turns false again on posix
            try:
                t.fs.delete(os.path.join(t.meta_dir, "LATEST"))
            except FileNotFoundError:
                pass
        elif not t.fs.cas_commits:
            t.fs.put(os.path.join(t.meta_dir, "LATEST"), str(keep_version))

    def list_transactions(self) -> "DataFrame":
        """One row per transaction: (txn, status, opened_at,
        finalized_at, tables)."""
        rows = [
            (
                d["txn"],
                d["status"],
                d["opened_at"],
                d["finalized_at"],
                d["tables"],
            )
            for d in _txn.list_txns(self.fs, self.root)
        ]
        return local_rows_df(
            self.spark,
            rows or [],
            "txn string, status string, opened_at double, "
            "finalized_at double, tables array<string>",
        )

    def transaction(self):
        """Context manager: ``with cat.transaction(): ...`` commits on
        clean exit, rolls back (physically undoing every write) when
        the body raises."""
        import contextlib

        @contextlib.contextmanager
        def _cm():
            self.begin()
            try:
                yield self
            except BaseException:
                self.rollback_txn()
                raise
            else:
                self.commit_txn()

        return _cm()

    def table_exists(self, name: str) -> bool:
        return self.table(name).exists()

    def list_tables(self) -> list[str]:
        return sorted(
            d for d in self.fs.list_names(self.root) if self.table(d).exists()
        )

    # ---------- SQL views (logical, macro-expanded) ----------
    #
    # A view is a stored SELECT expanded into the referencing statement
    # as a leading CTE (transitively, in dependency order) — so Catalyst
    # optimizes THROUGH view bodies (predicate pushdown, column pruning)
    # and the engine's manifest pruning sees the base tables the
    # expanded text references. Definitions live as one small JSON
    # object per view under <root>/_views/ (create = put, drop = delete
    # — last-write-wins, like every catalog that stores view text).

    @property
    def _views_dir(self) -> str:
        return os.path.join(self.root, "_views")

    def list_views(self) -> list[str]:
        try:
            names = self.fs.list_names(self._views_dir)
        except FileNotFoundError:
            return []
        return sorted(n[:-5] for n in names if n.endswith(".json"))

    def view_query(self, name: str) -> str:
        p = os.path.join(self._views_dir, f"{name}.json")
        if not self.fs.exists(p):
            # references resolve case-insensitively; so does lookup
            canon = next(
                (v for v in self.list_views() if v.lower() == name.lower()),
                None,
            )
            if canon is None:
                raise ValueError(f"view {name!r} does not exist")
            p = os.path.join(self._views_dir, f"{canon}.json")
        return json.loads(self.fs.read_bytes(p))["query"]

    def create_view(self, name: str, query: str, replace: bool = False) -> None:
        # case-insensitive collision check — view references resolve
        # case-insensitively, so view `Docs` would shadow table `docs`
        if any(t.lower() == name.lower() for t in self.list_tables()):
            raise ValueError(
                f"cannot create view {name!r}: a table with that name exists"
            )
        # view-vs-view collision is case-insensitive too — references
        # resolve case-insensitively, so `Docs` beside `docs` would drag
        # two same-named CTEs into every query's prelude. OR REPLACE
        # targets the existing canonical file rather than forking a
        # second case variant on disk.
        existing = next(
            (v for v in self.list_views() if v.lower() == name.lower()), None
        )
        if existing is not None and not replace:
            raise ValueError(f"view {name!r} already exists (use OR REPLACE)")
        if existing is not None:
            name = existing
        p = os.path.join(self._views_dir, f"{name}.json")
        q = query.strip().rstrip(";").strip()
        self.fs.ensure_dir(self._views_dir)
        prev = self.fs.try_read_bytes(p)  # OR REPLACE rollback target
        doc = {"query": q}
        if prev is not None:
            # OR REPLACE keeps catalog metadata that isn't the body —
            # COMMENT ON VIEW survives a redefinition (Postgres
            # semantics; the comment describes the view, not its text)
            doc = {**json.loads(prev), "query": q}
        self.fs.put(p, json.dumps(doc))
        try:
            # eager validation, the way real catalogs bind views at
            # create time: expand + plan against current tables (zero
            # rows collected). Restore the prior definition on failure.
            self.sql(f"SELECT * FROM (SELECT * FROM {quote_ident(name)}) WHERE 1=0")
        except Exception:
            if prev is None:
                self.fs.delete(p, missing_ok=True)
            else:
                self.fs.put(p, prev)
            raise

    def drop_view(self, name: str, if_exists: bool = False) -> None:
        # case-insensitive, matching view resolution semantics
        canon = next(
            (v for v in self.list_views() if v.lower() == name.lower()), None
        )
        if canon is None:
            if if_exists:
                return
            raise ValueError(f"view {name!r} does not exist")
        self.fs.delete(os.path.join(self._views_dir, f"{canon}.json"))

    # ---------- SQL macros (DuckDB CREATE MACRO) ----------
    #
    # A macro is a stored, named SQL expression with parameters —
    # DuckDB's reusable-snippet mechanism (scalar macros inline into
    # expressions; table macros into FROM clauses as parenthesized
    # subqueries). Expansion is TEXTUAL, before every other rewrite, so
    # Catalyst sees only the substituted expression: zero runtime cost,
    # zero Python boundary, and the dialect layer (ASOF, strftime, …)
    # applies inside macro bodies too. Definitions live under
    # <root>/_macros/ like views.

    @property
    def _macros_dir(self) -> str:
        return os.path.join(self.root, "_macros")

    def list_macros(self) -> list[str]:
        try:
            names = self.fs.list_names(self._macros_dir)
        except FileNotFoundError:
            return []
        return sorted(n[:-5] for n in names if n.endswith(".json"))

    def macro_def(self, name: str) -> dict:
        canon = next(
            (m for m in self.list_macros() if m.lower() == name.lower()), None
        )
        if canon is None:
            raise ValueError(f"macro {name!r} does not exist")
        return json.loads(
            self.fs.read_bytes(os.path.join(self._macros_dir, f"{canon}.json"))
        )

    def create_macro(
        self,
        name: str,
        params: "list[str]",
        body: str,
        replace: bool = False,
        table: bool = False,
        defaults: "dict[str, str] | None" = None,
    ) -> None:
        existing = next(
            (m for m in self.list_macros() if m.lower() == name.lower()), None
        )
        if existing is not None and not replace:
            raise ValueError(f"macro {name!r} already exists (use OR REPLACE)")
        if existing is not None:
            name = existing
        seen = set()
        for p in params:
            if p.lower() in seen:
                raise ValueError(f"macro {name!r}: duplicate parameter {p!r}")
            seen.add(p.lower())
        self.fs.ensure_dir(self._macros_dir)
        self.fs.put(
            os.path.join(self._macros_dir, f"{name}.json"),
            json.dumps(
                {
                    "params": list(params),
                    "defaults": dict(defaults or {}),
                    "body": body.strip().rstrip(";").strip(),
                    "table": bool(table),
                }
            ),
        )

    def drop_macro(self, name: str, if_exists: bool = False) -> None:
        canon = next(
            (m for m in self.list_macros() if m.lower() == name.lower()), None
        )
        if canon is None:
            if if_exists:
                return
            raise ValueError(f"macro {name!r} does not exist")
        self.fs.delete(os.path.join(self._macros_dir, f"{canon}.json"))

    _MACRO_MAX_DEPTH = 10

    def _expand_macros(self, query: str, _depth: int = 0) -> str:
        """Inline every ``name(args)`` macro call: arguments bind
        positionally then by trailing defaults, each substitutes into
        the body parenthesized (so ``a + b`` called with ``1, 2 * 3``
        stays ``(1) + (2 * 3)``), and the substituted body re-expands
        (macros may call macros; cycles hit the depth cap and refuse).
        Quote-aware: calls inside string literals or quoted identifiers
        never expand."""
        macros = {m.lower(): m for m in self.list_macros()}
        if not macros or _depth > self._MACRO_MAX_DEPTH:
            if macros and _depth > self._MACRO_MAX_DEPTH:
                raise ValueError(
                    "macro expansion exceeded depth "
                    f"{self._MACRO_MAX_DEPTH} (cyclic macros?)"
                )
            return query

        out: list[str] = []
        i, n = 0, len(query)
        changed = False
        while i < n:
            ch = query[i]
            if ch == "'":
                j = i + 1
                while j < n:
                    if query[j] == "'":
                        if j + 1 < n and query[j + 1] == "'":
                            j += 2
                            continue
                        break
                    j += 1
                out.append(query[i:j + 1])
                i = j + 1
                continue
            if ch in ('"', "`"):
                j = query.find(ch, i + 1)
                while j != -1 and j + 1 < n and query[j + 1] == ch:
                    j = query.find(ch, j + 2)
                if j == -1:
                    j = n - 1
                out.append(query[i:j + 1])
                i = j + 1
                continue
            if ch.isalpha() or ch == "_":
                j = i
                while j < n and (query[j].isalnum() or query[j] == "_"):
                    j += 1
                word = query[i:j]
                k = j
                while k < n and query[k].isspace():
                    k += 1
                if word.lower() in macros and k < n and query[k] == "(":
                    depth, m_, quote = 0, k, None
                    while m_ < n:
                        c = query[m_]
                        if quote:
                            if c == quote:
                                if (
                                    quote == "'"
                                    and m_ + 1 < n
                                    and query[m_ + 1] == "'"
                                ):
                                    m_ += 1
                                else:
                                    quote = None
                        elif c in ("'", '"', "`"):
                            quote = c
                        elif c == "(":
                            depth += 1
                        elif c == ")":
                            depth -= 1
                            if depth == 0:
                                break
                        m_ += 1
                    d = self.macro_def(macros[word.lower()])
                    inner = query[k + 1:m_].strip()
                    args = (
                        [a.strip() for a in split_top_level(inner)]
                        if inner
                        else []
                    )
                    params = d["params"]
                    if len(args) > len(params):
                        raise ValueError(
                            f"macro {word}: takes {len(params)} "
                            f"argument(s), got {len(args)}"
                        )
                    binding = dict(zip(params, args))
                    for p in params[len(args):]:
                        if p not in d["defaults"]:
                            raise ValueError(
                                f"macro {word}: missing argument {p!r}"
                            )
                        binding[p] = d["defaults"][p]
                    body = _subst_macro_params(d["body"], binding)
                    out.append(f"({body})")
                    changed = True
                    i = m_ + 1
                    continue
                out.append(word)
                i = j
                continue
            out.append(ch)
            i += 1
        result = "".join(out)
        if changed:
            return self._expand_macros(result, _depth + 1)
        return result

    def _expand_views(self, query: str) -> str:
        """Prepend every transitively-referenced view as a CTE (refused
        cycles raise). Word-boundary reference detection — the same
        conservative convention the table registrar uses, but CASE-
        INSENSITIVE (matching the rest of the identifier handling) and
        blind to single-quoted string literals (a view named ``docs``
        must not be dragged in by ``WHERE src = 'docs'``)."""
        import re as _re

        views = self.list_views()
        if not views:
            return query

        def _blank_literals(text: str) -> str:
            # replace '...' literal bodies ('' escape) with spaces so
            # ref detection never fires inside them
            return _re.sub(
                r"'(?:[^']|'')*'", lambda m: " " * len(m.group(0)), text
            )

        def refs(text: str, pool) -> list[str]:
            blanked = _blank_literals(text)
            return [
                v
                for v in pool
                if _re.search(
                    rf"(?<![A-Za-z0-9_]){_re.escape(v)}(?![A-Za-z0-9_])",
                    blanked,
                    _re.IGNORECASE,
                )
            ]

        needed: list[str] = []  # dependency order: referenced-first
        seen: set[str] = set()

        def add(v: str, stack: tuple = ()) -> None:
            if v in stack:
                raise ValueError(
                    f"view cycle: {' -> '.join(stack + (v,))}"
                )
            if v in seen:
                return
            seen.add(v)
            body = self.view_query(v)
            for dep in refs(body, [x for x in views if x != v]):
                add(dep, stack + (v,))
            needed.append(v)

        for v in refs(query, views):
            add(v)
        if not needed:
            return query
        # time travel THROUGH a view is ambiguous (pin the view's base
        # tables? the view definition itself is unversioned) — name the
        # problem instead of letting the CTE rewrite die downstream
        for v in needed:
            if _re.search(
                rf"(?<![A-Za-z0-9_]){_re.escape(v)}(?![A-Za-z0-9_])\s+"
                rf"(?:VERSION\s+AS\s+OF|TIMESTAMP\s+AS\s+OF|FOR\s+TAG"
                rf"|AT\s*\(\s*(?:VERSION|SNAPSHOT|TIMESTAMP)\s*=>)",
                _blank_literals(query),
                _re.IGNORECASE,
            ):
                raise ValueError(
                    f"time travel through view {v!r} is ambiguous — a view "
                    f"definition is unversioned, so 'VERSION AS OF' cannot "
                    f"name a snapshot of it; time-travel the base table(s) "
                    f"inside the view definition instead, or query the base "
                    f"table directly with VERSION AS OF"
                )
        # view bodies may use macros and DuckDB dialect (QUALIFY,
        # EXCLUDE, strftime, ...): those rewrites already ran over the
        # OUTER query text before expansion, so apply them to each body
        # as it inlines — otherwise a macro call stored inside a view
        # reaches Catalyst unexpanded and dies as UNRESOLVED_ROUTINE
        ctes = ", ".join(
            f"{quote_ident(v)} AS "
            f"({_rewrite_duckdb_dialect(self._expand_macros(self.view_query(v)))})"
            for v in needed
        )
        m = _re.match(r"^\s*WITH\s+", query, _re.IGNORECASE)
        if m:
            return f"WITH {ctes}, " + query[m.end():]
        return f"WITH {ctes} " + query

    # identifiers may be bare, "double-quoted" ("" escape — the
    # reference's SqlIdentifierUtil.java:32-39 discipline), or
    # `backtick-quoted` (`` escape, the Spark flavor)
    _DDL_PATTERNS = [
        ("drop_table", rf"DROP\s+TABLE\s+(?:IF\s+EXISTS\s+)?({_IDENT})\s*$"),
        ("create_tag", rf"ALTER\s+TABLE\s+({_IDENT})\s+CREATE\s+TAG\s+({_IDENT})(?:\s+AS\s+OF\s+VERSION\s+(\d+))?\s*$"),
        ("drop_tag", rf"ALTER\s+TABLE\s+({_IDENT})\s+DROP\s+TAG\s+({_IDENT})\s*$"),
        ("rename_col", rf"ALTER\s+TABLE\s+({_IDENT})\s+RENAME\s+COLUMN\s+({_IDENT})\s+TO\s+({_IDENT})\s*$"),
        ("add_constraint", rf"ALTER\s+TABLE\s+({_IDENT})\s+ADD\s+CONSTRAINT\s+({_IDENT})\s+CHECK\s*\((.+)\)\s*$"),
        ("drop_constraint", rf"ALTER\s+TABLE\s+({_IDENT})\s+DROP\s+CONSTRAINT\s+(?:(IF\s+EXISTS)\s+)?({_IDENT})\s*$"),
        ("drop_col", rf"ALTER\s+TABLE\s+({_IDENT})\s+DROP\s+COLUMN\s+({_IDENT})\s*$"),
        ("set_default", rf"ALTER\s+TABLE\s+({_IDENT})\s+ALTER\s+COLUMN\s+({_IDENT})\s+SET\s+DEFAULT\s+(.+?)\s*$"),
        ("drop_default", rf"ALTER\s+TABLE\s+({_IDENT})\s+ALTER\s+COLUMN\s+({_IDENT})\s+DROP\s+DEFAULT\s*$"),
        ("set_notnull", rf"ALTER\s+TABLE\s+({_IDENT})\s+ALTER\s+COLUMN\s+({_IDENT})\s+SET\s+NOT\s+NULL\s*$"),
        ("drop_notnull", rf"ALTER\s+TABLE\s+({_IDENT})\s+ALTER\s+COLUMN\s+({_IDENT})\s+DROP\s+NOT\s+NULL\s*$"),
        ("add_col", rf"ALTER\s+TABLE\s+({_IDENT})\s+ADD\s+COLUMN\s+({_IDENT})\s+(.+?)\s*$"),
        ("set_props", rf"ALTER\s+TABLE\s+({_IDENT})\s+SET\s+TBLPROPERTIES\s*\((.*)\)\s*$"),
        ("unset_props", rf"ALTER\s+TABLE\s+({_IDENT})\s+UNSET\s+TBLPROPERTIES\s*(?:(IF\s+EXISTS)\s*)?\((.*)\)\s*$"),
        ("comment_table", rf"COMMENT\s+ON\s+TABLE\s+({_IDENT})\s+IS\s+(NULL|'(?:[^']|'')*')\s*$"),
        ("comment_col", rf"COMMENT\s+ON\s+COLUMN\s+({_IDENT})\.({_IDENT})\s+IS\s+(NULL|'(?:[^']|'')*')\s*$"),
        ("truncate", rf"TRUNCATE\s+TABLE\s+({_IDENT})\s*$"),
        ("flush_inlined", rf"FLUSH\s+INLINED\s+DATA\s+({_IDENT})\s*$"),
        ("vacuum", rf"VACUUM\s+({_IDENT})(?:\s+RETAIN\s+(\d+)\s+VERSIONS)?(?:\s+(DRY\s+RUN))?\s*$"),
        ("optimize", rf"OPTIMIZE\s+({_IDENT})(?:\s+ZORDER\s+BY\s*\(([^)]*)\))?(?:\s+WHERE\s+(.+?))?\s*$"),
    ]
    _CREATE_RE = rf"CREATE\s+(?:(OR\s+REPLACE)\s+)?TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?({_IDENT})\s*\((.*)\)\s*$"
    # the trailing partition clause is peeled off FIRST (rightmost-anchored,
    # greedy) so function-style exprs — PARTITIONED BY (year(ts)) — can't
    # backtrack the column-list capture into garbage
    _PARTITIONED_BY_RE = r"\bPARTITIONED\s+BY\s*\((.*)\)\s*$"

    def ddl(self, statement: str):
        """SQL DDL surface over the lake API (the reference's users
        manage ducklake tables with DuckDB DDL; this is the engine-side
        equivalent, dispatched — not parsed by Catalyst — so metadata
        ops stay metadata ops). Supported:

        - ``CREATE [OR REPLACE] TABLE [IF NOT EXISTS] t
          (cols...[, PRIMARY KEY (a,b)]) [PARTITIONED BY (exprs)]``
          (OR REPLACE = history-preserving schema/pk/partition reset;
          columns take ``DEFAULT <expr>`` and ``NOT NULL`` options,
          stored as ``default.<col>`` / ``notnull.<col>`` properties —
          defaults fill writes that omit the column, NOT NULL is
          enforced strictly by every writer)
        - ``ALTER TABLE t ALTER COLUMN c SET DEFAULT <expr> |
          DROP DEFAULT | SET NOT NULL | DROP NOT NULL`` (SET NOT NULL
          validates existing rows with one column-pruned scan)
        - ``CREATE [OR REPLACE] TABLE [IF NOT EXISTS] t
          [PARTITIONED BY (exprs)] AS <query>`` (CTAS through the
          pruned SQL path, landed via the writer append)
        - ``CREATE TABLE [IF NOT EXISTS] t [SHALLOW|DEEP] CLONE s
          [AT VERSION n | AT TAG x]`` (zero-copy / materialized)
        - ``DROP TABLE [IF EXISTS] t``
        - ``ALTER TABLE t RENAME COLUMN a TO b`` (metadata-only)
        - ``ALTER TABLE t DROP COLUMN a``       (metadata-only)
        - ``ALTER TABLE t ADD COLUMN a <type>`` (metadata-only)
        - ``ALTER TABLE t CREATE TAG x [AS OF VERSION n]`` /
          ``ALTER TABLE t DROP TAG x`` (refs CAS chain via SQL;
          ``SHOW TAGS t`` lists them)
        - ``RESTORE TABLE t TO VERSION AS OF n | TO TIMESTAMP AS OF
          'ts' | TO TAG x``
        - ``TRUNCATE TABLE t``                  (metadata-only)
        - ``VACUUM t [RETAIN n VERSIONS]``
        - ``OPTIMIZE t [ZORDER BY (a, b)]``
        - ``COMMENT ON TABLE t | COLUMN t.c | VIEW v IS 'text' | NULL``
          (DuckDB comments; table/column comments are versioned
          tblproperties, view comments live in the view catalog file)
        - ``EXPORT DATABASE 'dir'`` / ``IMPORT DATABASE 'dir'``
          (whole-catalog round trip: parquet data + replayable DDL)

        ``LakeCatalog.sql`` routes these automatically. Returns a
        one-row status DataFrame (op, table, detail). Anything
        unrecognized raises — never silently a no-op."""
        import re as _re

        from .sql_prune import strip_catalog_prefix

        stmt = strip_catalog_prefix(statement).strip().rstrip(";").strip()
        # statements that mutate UNVERSIONED state (tree deletes, view/
        # macro catalog files, foreign roots, physical file reclamation)
        # cannot participate in ROLLBACK — refuse them inside an open
        # transaction rather than silently breaking its atomicity.
        # Versioned DDL (ALTER ADD COLUMN, TRUNCATE, RESTORE, CTAS, ...)
        # rides _commit and rolls back like any write.
        if self._txn.active is not None and _re.match(
            r"(DROP\s+TABLE|VACUUM|OPTIMIZE"
            r"|CREATE\s+(OR\s+REPLACE\s+)?(MATERIALIZED\s+)?VIEW"
            r"|DROP\s+(MATERIALIZED\s+)?VIEW|ALTER\s+VIEW"
            r"|CREATE\s+(OR\s+REPLACE\s+)?MACRO"
            r"|DROP\s+MACRO|REPLICATE\s+TABLE|IMPORT\s+DATABASE"
            r"|COMMENT\s+ON\s+VIEW"
            r"|CREATE\s+(OR\s+REPLACE\s+)?SEQUENCE|DROP\s+SEQUENCE"
            r"|ATTACH|DETACH)\b",
            stmt,
            _re.IGNORECASE,
        ):
            raise ValueError(
                f"{stmt.split(None, 1)[0].upper()} mutates unversioned "
                f"catalog state and cannot be rolled back — not supported "
                f"inside an open transaction (COMMIT or ROLLBACK "
                f"{self._txn.active} first)"
            )
        # ---- COPY INTO: idempotent bulk file ingestion (Delta parity:
        # already-loaded files are remembered in table props and skipped
        # on re-run, so a failed batch job reruns safely) ----
        cpm = _re.match(
            rf"COPY\s+INTO\s+({_IDENT})\s+FROM\s+'((?:[^']|'')*)'"
            rf"(?:\s+FILEFORMAT\s*=\s*(PARQUET|CSV|JSON))?"
            rf"(?:\s+PATTERN\s*=\s*'((?:[^']|'')*)')?\s*$",
            stmt,
            _re.IGNORECASE,
        )
        if cpm:
            return self._copy_into(
                unquote_ident(cpm.group(1)),
                cpm.group(2).replace("''", "'"),
                (cpm.group(3) or "PARQUET").upper(),
                cpm.group(4).replace("''", "'") if cpm.group(4) else None,
            )
        # ---- EXPORT/IMPORT DATABASE: whole-catalog round trip ----
        edm = _re.match(
            r"(EXPORT|IMPORT)\s+DATABASE\s+'((?:[^']|'')*)'\s*$",
            stmt,
            _re.IGNORECASE,
        )
        if edm:
            d = edm.group(2).replace("''", "'")
            if edm.group(1).upper() == "EXPORT":
                return self.export_database(d)
            return self.import_database(d)
        # ---- replication (lake/replicate.py) ----
        rpm = _re.match(
            rf"REPLICATE\s+TABLE\s+({_IDENT})\s+TO\s+'((?:[^']|'')*)'\s*$",
            stmt,
            _re.IGNORECASE,
        )
        if rpm:
            from .replicate import replicate as _replicate

            name = unquote_ident(rpm.group(1))
            t = self.table(name)
            if not t.exists():
                raise ValueError(f"table {name!r} does not exist")
            r = _replicate(t, rpm.group(2).replace("''", "'"))
            return self._ddl_result(
                "REPLICATE TABLE",
                name,
                f"{r.versions_synced} version(s), {r.files_copied} file(s), "
                f"{r.tags_synced} tag(s) -> v{r.dest_version}",
            )
        # ---- materialized views (lake/matview.py) ----
        mvc = _re.match(
            rf"CREATE\s+(OR\s+REPLACE\s+)?MATERIALIZED\s+VIEW\s+({_IDENT})\s+AS\s+(.+)$",
            stmt,
            _re.IGNORECASE | _re.DOTALL,
        )
        if mvc:
            from .matview import create_materialized_view

            name = unquote_ident(mvc.group(2))
            v = create_materialized_view(
                self, name, mvc.group(3), replace=bool(mvc.group(1))
            )
            return self._ddl_result(
                "CREATE MATERIALIZED VIEW", name, f"materialized at v{v}"
            )
        mvr = _re.match(
            rf"REFRESH\s+MATERIALIZED\s+VIEW\s+({_IDENT})(\s+FULL)?\s*$",
            stmt,
            _re.IGNORECASE,
        )
        if mvr:
            from .matview import refresh_materialized_view

            name = unquote_ident(mvr.group(1))
            st = refresh_materialized_view(self, name, full=bool(mvr.group(2)))
            return self._ddl_result(
                "REFRESH MATERIALIZED VIEW",
                name,
                f"{st['mode']} v{st['from']}->v{st['to']}",
            )
        vwc = _re.match(
            rf"CREATE\s+(OR\s+REPLACE\s+)?VIEW\s+({_IDENT})\s+AS\s+(.+)$",
            stmt,
            _re.IGNORECASE | _re.DOTALL,
        )
        if vwc:
            name = unquote_ident(vwc.group(2))
            self.create_view(name, vwc.group(3), replace=bool(vwc.group(1)))
            return self._ddl_result("CREATE VIEW", name, "defined")
        mc = _re.match(
            rf"CREATE\s+(OR\s+REPLACE\s+)?MACRO\s+({_IDENT})\s*\(([^)]*)\)"
            rf"\s+AS\s+(TABLE\s+)?(.+)$",
            stmt,
            _re.IGNORECASE | _re.DOTALL,
        )
        if mc:
            name = unquote_ident(mc.group(2))
            params, defaults = [], {}
            ptxt = mc.group(3).strip()
            for p in split_top_level(ptxt) if ptxt else []:
                pname, sep, dflt = p.partition(":=")
                pname = unquote_ident(pname.strip())
                params.append(pname)
                if sep:
                    defaults[pname] = dflt.strip()
            self.create_macro(
                name,
                params,
                mc.group(5),
                replace=bool(mc.group(1)),
                table=bool(mc.group(4)),
                defaults=defaults,
            )
            return self._ddl_result("CREATE MACRO", name, "defined")
        md = _re.match(
            rf"DROP\s+MACRO\s+(IF\s+EXISTS\s+)?({_IDENT})\s*$",
            stmt,
            _re.IGNORECASE,
        )
        if md:
            name = unquote_ident(md.group(2))
            self.drop_macro(name, if_exists=bool(md.group(1)))
            return self._ddl_result("DROP MACRO", name, "dropped")
        vwa = _re.match(
            rf"ALTER\s+VIEW\s+({_IDENT})\s+AS\s+(.+)$",
            stmt,
            _re.IGNORECASE | _re.DOTALL,
        )
        if vwa:
            name = unquote_ident(vwa.group(1))
            # case-insensitive lookup, matching view resolution semantics
            canon = next(
                (v for v in self.list_views() if v.lower() == name.lower()),
                None,
            )
            if canon is None:
                raise ValueError(f"ALTER VIEW: view {name!r} does not exist")
            self.create_view(canon, vwa.group(2), replace=True)
            return self._ddl_result("ALTER VIEW", name, "redefined")
        vcm = _re.match(
            rf"COMMENT\s+ON\s+VIEW\s+({_IDENT})\s+IS\s+(NULL|'(?:[^']|'')*')\s*$",
            stmt,
            _re.IGNORECASE,
        )
        if vcm:
            # view comments live in the view's catalog file (views are
            # unversioned catalog objects; their metadata is too)
            name = unquote_ident(vcm.group(1))
            canon = next(
                (v for v in self.list_views() if v.lower() == name.lower()),
                None,
            )
            if canon is None:
                raise ValueError(f"COMMENT ON VIEW: view {name!r} does not exist")
            p = os.path.join(self._views_dir, f"{canon}.json")
            doc = json.loads(self.fs.read_bytes(p))
            if vcm.group(2).upper() == "NULL":
                doc.pop("comment", None)
            else:
                doc["comment"] = _parse_string_literal(vcm.group(2))
            self.fs.put(p, json.dumps(doc))
            return self._ddl_result("COMMENT ON", name, "VIEW")
        sqc = _re.match(
            rf"CREATE\s+(OR\s+REPLACE\s+)?SEQUENCE\s+(IF\s+NOT\s+EXISTS\s+)?"
            rf"({_IDENT})\s*(.*)$",
            stmt,
            _re.IGNORECASE | _re.DOTALL,
        )
        if sqc:
            from . import sequence as _sequence

            name = unquote_ident(sqc.group(3))
            opts = {"increment": 1, "start": None, "minvalue": None,
                    "maxvalue": None, "cycle": False}
            rest = sqc.group(4).strip()
            opt_pat = _re.compile(
                r"\s*(?:INCREMENT(?:\s+BY)?\s+(-?\d+)"
                r"|MINVALUE\s+(-?\d+)|NO\s+MINVALUE"
                r"|MAXVALUE\s+(-?\d+)|NO\s+MAXVALUE"
                r"|START(?:\s+WITH)?\s+(-?\d+)"
                r"|(CYCLE)|NO\s+CYCLE)\s*",
                _re.IGNORECASE,
            )
            pos = 0
            while pos < len(rest):
                om = opt_pat.match(rest, pos)
                if om is None:
                    raise ValueError(
                        f"CREATE SEQUENCE: unrecognized option at "
                        f"{rest[pos:][:40]!r}"
                    )
                if om.group(1):
                    opts["increment"] = int(om.group(1))
                elif om.group(2):
                    opts["minvalue"] = int(om.group(2))
                elif om.group(3):
                    opts["maxvalue"] = int(om.group(3))
                elif om.group(4):
                    opts["start"] = int(om.group(4))
                elif om.group(5):
                    opts["cycle"] = True
                pos = om.end()
            _sequence.create_sequence(
                self.fs,
                self.root,
                name,
                increment=opts["increment"],
                start=opts["start"],
                minvalue=opts["minvalue"],
                maxvalue=opts["maxvalue"],
                cycle=opts["cycle"],
                replace=bool(sqc.group(1)),
                if_not_exists=bool(sqc.group(2)),
            )
            return self._ddl_result("CREATE SEQUENCE", name, "defined")
        ckm = _re.match(
            rf"(?:FORCE\s+)?CHECKPOINT(?:\s+({_IDENT}))?\s*$",
            stmt,
            _re.IGNORECASE,
        )
        if ckm:
            # DuckDB's CHECKPOINT persists buffered state; the lake
            # analogue is flushing pending inlined rows into real
            # parquet (DuckLake: ducklake_flush_inlined_data()). With a
            # name it targets one table, bare it sweeps the catalog.
            from .inline import inline_state
            from .writer import LakeWriter

            if ckm.group(1):
                names = [unquote_ident(ckm.group(1))]
                if not self.table(names[0]).exists():
                    raise ValueError(f"table {names[0]!r} does not exist")
            else:
                names = self.list_tables()
            total = flushed_tables = 0
            for n in names:
                t = self.table(n)
                if inline_state(t.manifest())[0]:
                    total += LakeWriter(t, auto_create=False).flush_inlined()
                    flushed_tables += 1
            return self._ddl_result(
                "CHECKPOINT",
                ckm.group(1) or "*",
                f"{total} row(s) flushed across {flushed_tables} table(s)",
            )
        sqd = _re.match(
            rf"DROP\s+SEQUENCE\s+(IF\s+EXISTS\s+)?({_IDENT})\s*$",
            stmt,
            _re.IGNORECASE,
        )
        if sqd:
            from . import sequence as _sequence

            name = unquote_ident(sqd.group(2))
            _sequence.drop_sequence(
                self.fs, self.root, name, if_exists=bool(sqd.group(1))
            )
            return self._ddl_result("DROP SEQUENCE", name, "dropped")
        vwd = _re.match(
            rf"DROP\s+VIEW\s+(IF\s+EXISTS\s+)?({_IDENT})\s*$",
            stmt,
            _re.IGNORECASE,
        )
        if vwd:
            name = unquote_ident(vwd.group(2))
            self.drop_view(name, if_exists=bool(vwd.group(1)))
            return self._ddl_result("DROP VIEW", name, "dropped")
        mvd = _re.match(
            rf"DROP\s+MATERIALIZED\s+VIEW\s+(IF\s+EXISTS\s+)?({_IDENT})\s*$",
            stmt,
            _re.IGNORECASE,
        )
        if mvd:
            from .matview import PROP_QUERY

            name = unquote_ident(mvd.group(2))
            t = self.table(name)
            if not t.exists():
                if mvd.group(1):
                    return self._ddl_result(
                        "DROP MATERIALIZED VIEW", name, "absent"
                    )
                raise ValueError(f"materialized view {name!r} does not exist")
            if PROP_QUERY not in t.properties():
                raise ValueError(f"{name!r} is a table, not a materialized view")
            return self.ddl(f"DROP TABLE {quote_ident(name)}")
        lkm = _re.match(
            rf"CREATE\s+TABLE\s+(?:(IF\s+NOT\s+EXISTS)\s+)?({_IDENT})\s+"
            rf"LIKE\s+({_IDENT})\s*$",
            stmt,
            _re.IGNORECASE,
        )
        if lkm:
            # schema/pk/partitioning copy, zero data (ANSI CREATE TABLE
            # LIKE; CLONE is the data-carrying sibling)
            name = unquote_ident(lkm.group(2))
            src = self.table(unquote_ident(lkm.group(3)))
            if not src.exists():
                raise ValueError(
                    f"CREATE TABLE LIKE: source {lkm.group(3)!r} does not exist"
                )
            t = self.table(name)
            if t.exists():
                if lkm.group(1):
                    return self._ddl_result("CREATE TABLE LIKE", name, "exists")
                raise ValueError(f"table {name!r} already exists")
            m = src.manifest()
            t.create(
                m.schema,
                pk=list(m.pk or []),
                partition_by=list(m.partition_spec) or None,
            )
            return self._ddl_result(
                "CREATE TABLE LIKE", name, f"like {src.name}"
            )
        cm = _re.match(
            rf"CREATE\s+TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?({_IDENT})\s+"
            rf"(SHALLOW\s+|DEEP\s+)?CLONE\s+({_IDENT})"
            rf"(?:\s+AT\s+VERSION\s+(\d+)|\s+AT\s+TAG\s+({_IDENT}))?\s*$",
            stmt,
            _re.IGNORECASE,
        )
        if cm:
            name = unquote_ident(cm.group(1))
            deep = bool(cm.group(2)) and cm.group(2).strip().upper() == "DEEP"
            src_name = unquote_ident(cm.group(3))
            if self.table(name).exists():
                if _re.search(r"IF\s+NOT\s+EXISTS", stmt, _re.IGNORECASE):
                    return self._ddl_result("CREATE TABLE CLONE", name, "exists")
                raise ValueError(f"table {name!r} already exists")
            src = self.table(src_name)
            if not src.exists():
                raise ValueError(f"clone source {src_name!r} does not exist")
            src.clone(
                self.root,
                name,
                deep=deep,
                version=int(cm.group(4)) if cm.group(4) else None,
                tag=unquote_ident(cm.group(5)) if cm.group(5) else None,
            )
            return self._ddl_result(
                "CREATE TABLE CLONE",
                name,
                f"{'deep' if deep else 'shallow'} of {src_name}",
            )
        rm = _re.match(
            rf"RESTORE\s+TABLE\s+({_IDENT})\s+TO\s+(?:"
            rf"VERSION\s+AS\s+OF\s+(\d+)"
            rf"|TIMESTAMP\s+AS\s+OF\s+('(?:[^']|'')*')"
            rf"|TAG\s+({_IDENT}))\s*$",
            stmt,
            _re.IGNORECASE,
        )
        if rm:
            name = unquote_ident(rm.group(1))
            t = self.table(name)
            if not t.exists():
                raise ValueError(f"table {name!r} does not exist")
            if rm.group(2) is not None:
                v = int(rm.group(2))
            elif rm.group(3) is not None:
                v = t.resolve_timestamp(rm.group(3))
            else:
                v = t.resolve_tag(unquote_ident(rm.group(4)))
            new_v = t.restore(v)
            return self._ddl_result(
                "RESTORE TABLE", name, f"to v{v} as v{new_v}"
            )
        ctm = _re.match(
            rf"CREATE\s+(?:(OR\s+REPLACE)\s+)?TABLE\s+(?:(IF\s+NOT\s+EXISTS)\s+)?({_IDENT})\s+"
            rf"(?:PARTITIONED\s+BY\s*\((.*?)\)\s+)?"
            rf"AS\s+((?:SELECT|WITH|TABLE|VALUES)\b.*)$",
            stmt,
            _re.IGNORECASE | _re.DOTALL,
        )
        if ctm:
            # CTAS: the SELECT runs through sql() (lake views registered,
            # pruned, time-travel clauses honored), then lands through
            # the writer append path so footer stats are harvested and
            # the table is a first-class lake citizen from v1. OR REPLACE
            # resets schema/pk/partitioning in a history-preserving
            # metadata commit, then the data lands.
            from .writer import LakeWriter as _W

            replace = bool(ctm.group(1))
            name = unquote_ident(ctm.group(3))
            t = self.table(name)
            if t.exists() and not replace:
                if ctm.group(2):
                    return self._ddl_result("CREATE TABLE AS", name, "exists")
                raise ValueError(f"table {name!r} already exists")
            df = self.sql(ctm.group(5))
            if replace and t.exists():
                t.replace(df.schema, partition_by=ctm.group(4))
            else:
                t.create(df.schema, partition_by=ctm.group(4))
            _W(t, auto_create=False).write(df)
            return self._ddl_result(
                "CREATE OR REPLACE TABLE AS" if replace else "CREATE TABLE AS",
                name,
                f"{len(df.columns)} col(s) v{t.current_version()}",
            )
        if _re.match(r"CREATE\s+(?:OR\s+REPLACE\s+)?TABLE\b", stmt, _re.IGNORECASE):
            part_spec: str | None = None
            body = stmt
            pm = _re.search(self._PARTITIONED_BY_RE, body, _re.IGNORECASE | _re.DOTALL)
            if pm:
                part_spec = pm.group(1).strip()
                body = body[: pm.start()].rstrip()
            m = _re.match(self._CREATE_RE, body, _re.IGNORECASE | _re.DOTALL)
            if not m:
                raise ValueError(f"unsupported DDL statement: {statement!r}")
            replace = bool(m.group(1))
            name = unquote_ident(m.group(2))
            t = self.table(name)
            if t.exists() and not replace:
                if _re.search(r"IF\s+NOT\s+EXISTS", body, _re.IGNORECASE):
                    return self._ddl_result("CREATE TABLE", name, "exists")
                raise ValueError(f"table {name!r} already exists")
            cols = m.group(3).strip()
            pk: list[str] = []
            pk_m = _re.search(
                r",\s*PRIMARY\s+KEY\s*\(([^)]*)\)\s*$", cols, _re.IGNORECASE
            )
            if pk_m:
                pk = [
                    unquote_ident(c) for c in split_top_level(pk_m.group(1))
                ]
                cols = cols[: pk_m.start()]
            cols, col_props = _strip_column_options(cols)
            schema = T.StructType.fromDDL(_dq_idents_to_backticks(cols))
            # CHECK predicates bind at create time (driver-only analysis
            # over a zero-row frame) — a typo'd column refuses here, not
            # at the first write
            for ck, cpred in col_props.items():
                if not ck.startswith("constraint."):
                    continue
                try:
                    local_rows_df(self.spark, [], schema).filter(
                        cpred
                    ).schema
                except Exception as e:
                    raise ValueError(
                        f"invalid CHECK ({cpred}) on {name}: {e}"
                    ) from None
            cprops = {"tblproperties": col_props} if col_props else None
            if replace and t.exists():
                t.replace(schema, pk=pk, partition_by=part_spec, props=cprops)
            else:
                t.create(schema, pk=pk, partition_by=part_spec, props=cprops)
            return self._ddl_result(
                "CREATE OR REPLACE TABLE" if replace else "CREATE TABLE",
                name,
                cols,
            )
        for op, pat in self._DDL_PATTERNS:
            m = _re.match(pat, stmt, _re.IGNORECASE | _re.DOTALL)
            if not m:
                continue
            name = unquote_ident(m.group(1))
            t = self.table(name)
            if op == "drop_table":
                if not t.exists():
                    if _re.search(r"IF\s+EXISTS", stmt, _re.IGNORECASE):
                        return self._ddl_result("DROP TABLE", name, "absent")
                    raise ValueError(f"table {name!r} does not exist")
                self.fs.delete_tree(t.dir)
                return self._ddl_result("DROP TABLE", name, "")
            if op == "flush_inlined":
                from .writer import LakeWriter

                if not t.exists():
                    raise ValueError(f"table {name!r} does not exist")
                n = LakeWriter(t, auto_create=False).flush_inlined()
                return self._ddl_result(
                    "FLUSH INLINED DATA", name, f"{n} row(s) flushed"
                )
            if op == "create_tag":
                # Iceberg SQL-extension parity: tags through SQL ride the
                # same lock-free refs CAS chain as the API
                v = t.tag(
                    unquote_ident(m.group(2)),
                    int(m.group(3)) if m.group(3) else None,
                )
                return self._ddl_result(
                    "CREATE TAG", name, f"{unquote_ident(m.group(2))} -> v{v}"
                )
            if op == "drop_tag":
                t.delete_tag(unquote_ident(m.group(2)))
                return self._ddl_result(
                    "DROP TAG", name, unquote_ident(m.group(2))
                )
            if op == "rename_col":
                old, new = unquote_ident(m.group(2)), unquote_ident(m.group(3))
                v = t.rename_column(old, new)
                return self._ddl_result(
                    "RENAME COLUMN", name, f"{old}->{new} v{v}"
                )
            if op == "add_constraint":
                # table-stored CHECK constraint (Delta's ALTER TABLE ADD
                # CONSTRAINT): persisted in TBLPROPERTIES under
                # `constraint.<name>`, enforced by EVERY LakeWriter write
                # from then on. Like Delta, existing rows must already
                # satisfy it — validated here with one pruned-scan count.
                cname = unquote_ident(m.group(2))
                pred = m.group(3).strip()
                key = f"constraint.{cname}"
                if key in t.properties():
                    raise ValueError(
                        f"constraint {cname!r} already exists on {name}"
                    )
                n_bad = (
                    t.read()
                    .filter(f"NOT ({pred}) AND ({pred}) IS NOT NULL")
                    .limit(1)
                    .count()
                )
                if n_bad:
                    raise ValueError(
                        f"cannot ADD CONSTRAINT {cname}: existing rows of "
                        f"{name} violate CHECK ({pred})"
                    )
                v = t.set_properties({key: pred})
                return self._ddl_result(
                    "ADD CONSTRAINT", name, f"{cname} CHECK ({pred}) v{v}"
                )
            if op == "drop_constraint":
                cname = unquote_ident(m.group(3))
                v = t.unset_properties(
                    [f"constraint.{cname}"], if_exists=bool(m.group(2))
                )
                return self._ddl_result(
                    "DROP CONSTRAINT", name, f"{cname} v{v}"
                )
            if op == "drop_col":
                col = unquote_ident(m.group(2))
                v = t.drop_column(col)
                return self._ddl_result("DROP COLUMN", name, f"{col} v{v}")
            if op in ("set_default", "drop_default", "set_notnull",
                      "drop_notnull"):
                col = unquote_ident(m.group(2))
                if col not in t.manifest().schema.fieldNames():
                    raise ValueError(
                        f"table {name!r} has no column {col!r}"
                    )
                if op == "set_default":
                    v = t.set_properties({f"default.{col}": m.group(3)})
                    return self._ddl_result(
                        "SET DEFAULT", name, f"{col} = {m.group(3)} v{v}"
                    )
                if op == "drop_default":
                    v = t.unset_properties([f"default.{col}"])
                    return self._ddl_result("DROP DEFAULT", name, f"{col} v{v}")
                if op == "set_notnull":
                    # validate existing rows first (a single column-pruned
                    # scan) — DuckDB errors on existing NULLs the same way
                    n_bad = (
                        t.read()
                        .filter(f"{quote_ident(col)} IS NULL")
                        .limit(1)
                        .count()
                    )
                    if n_bad:
                        raise ValueError(
                            f"cannot SET NOT NULL: existing rows of "
                            f"{name} hold NULL in {col!r}"
                        )
                    v = t.set_properties({f"notnull.{col}": "true"})
                    return self._ddl_result(
                        "SET NOT NULL", name, f"{col} v{v}"
                    )
                v = t.unset_properties([f"notnull.{col}"])
                return self._ddl_result("DROP NOT NULL", name, f"{col} v{v}")
            if op == "add_col":
                col = unquote_ident(m.group(2))
                type_ddl = m.group(3)
                clean, copts = _strip_column_options(
                    f"{m.group(2)} {type_ddl}"
                )
                if f"notnull.{col}" in copts:
                    # existing rows read NULL for a just-added column (the
                    # add is metadata-only — no O(table) backfill rewrite),
                    # so a NOT NULL new column is unsatisfiable. Delta
                    # refuses the same way.
                    raise ValueError(
                        "ADD COLUMN ... NOT NULL is not supported: existing "
                        "rows read NULL for the new column (metadata-only "
                        "add; no backfill). Add the column nullable, "
                        "backfill with UPDATE, then ALTER COLUMN ... SET "
                        "NOT NULL"
                    )
                type_clean = clean[len(m.group(2)):].strip()
                v = t.add_column(col, type_clean)
                dflt = copts.get(f"default.{col}")
                if dflt is not None:
                    # Delta semantics, named divergence from DuckDB: the
                    # default applies to FUTURE writes that omit the
                    # column; existing rows read NULL (no backfill —
                    # a backfill is an O(table) rewrite at 100 TB)
                    v = t.set_properties({f"default.{col}": dflt})
                return self._ddl_result(
                    "ADD COLUMN", name,
                    f"{col} {type_clean}"
                    + (f" DEFAULT {dflt}" if dflt is not None else "")
                    + f" v{v}",
                )
            if op == "set_props":
                v = t.set_properties(_parse_tblproperties(m.group(2)))
                return self._ddl_result("SET TBLPROPERTIES", name, f"v{v}")
            if op == "unset_props":
                keys = [
                    _parse_string_literal(p)
                    for p in split_top_level(m.group(3))
                ]
                v = t.unset_properties(
                    keys, if_exists=bool(m.group(2))
                )
                return self._ddl_result("UNSET TBLPROPERTIES", name, f"v{v}")
            if op in ("comment_table", "comment_col"):
                # DuckDB's COMMENT ON (TABLE | COLUMN t.c) IS 'text' —
                # stored as tblproperties (`comment` / `comment.<col>`),
                # so comments are VERSIONED: they time-travel, clone,
                # replicate, and roll back with the table like any
                # property. IS NULL clears, exactly like DuckDB.
                if not t.exists():
                    raise ValueError(f"table {name!r} does not exist")
                lit = m.group(3) if op == "comment_col" else m.group(2)
                text = (
                    None if lit.upper() == "NULL"
                    else _parse_string_literal(lit)
                )
                if op == "comment_col":
                    col = unquote_ident(m.group(2))
                    if col not in t.manifest().schema.fieldNames():
                        raise ValueError(
                            f"table {name!r} has no column {col!r}"
                        )
                    key = f"comment.{col}"
                    what = f"COLUMN {col}"
                else:
                    key = "comment"
                    what = "TABLE"
                if text is None:
                    v = t.unset_properties([key], if_exists=True)
                else:
                    v = t.set_properties({key: text})
                return self._ddl_result(
                    "COMMENT ON", name, f"{what} v{v}"
                )
            if op == "truncate":
                v = t.truncate()
                return self._ddl_result("TRUNCATE", name, f"v{v}")
            if op == "vacuum":
                from .maintenance import vacuum as _vacuum

                keep = int(m.group(2)) if m.group(2) else 1
                dry = bool(m.group(3))
                n = _vacuum(t, keep_versions=keep, dry_run=dry)
                return self._ddl_result(
                    "VACUUM",
                    name,
                    f"would delete {n} files (dry run)"
                    if dry
                    else f"deleted {n} files",
                )
            if op == "optimize":
                from .maintenance import compact as _compact

                z = (
                    [unquote_ident(c) for c in split_top_level(m.group(2))]
                    if m.group(2)
                    else None
                )
                r = _compact(t, zorder_by=z, where=m.group(3))
                return self._ddl_result(
                    "OPTIMIZE", name,
                    f"files {r.files_before}->{r.files_after}"
                    + (f" zorder {z}" if z else "")
                    + (f" where {m.group(3)}" if m.group(3) else ""),
                )
        raise ValueError(f"unsupported DDL statement: {statement!r}")

    def show_tables(self):
        """``SHOW TABLES`` — one row per committed table."""
        names = self.list_tables()
        return local_rows_df(
            self.spark,
            [(n,) for n in names] or [], "name string"
        )

    def describe(self, name: str):
        """``DESCRIBE <t>`` — DuckDB-flavored: (column_name, column_type,
        "null", key). PK columns carry ``PRI``; the column order is the
        manifest schema order (``_inserted_at`` last, as stored)."""
        t = self.table(name)
        if not t.exists():
            raise ValueError(f"table {name!r} does not exist")
        m = t.manifest()
        pk = set(m.pk or [])
        tp = m.props.get("tblproperties", {})
        rows = [
            (
                f.name,
                f.dataType.simpleString().upper(),
                "NO"
                if (f"notnull.{f.name}" in tp or not f.nullable)
                else "YES",
                "PRI" if f.name in pk else "",
                tp.get(f"comment.{f.name}"),
            )
            for f in m.schema.fields
        ]
        return local_rows_df(
            self.spark,
            rows,
            "column_name string, column_type string, null string, "
            "key string, comment string",
        )

    def summarize(self, target: str):
        """DuckDB's ``SUMMARIZE <t>`` / ``SUMMARIZE SELECT ...`` — one
        profiling row per column: (column_name, column_type, min, max,
        approx_unique, avg, std, q25, q50, q75, count,
        null_percentage). Everything computes in ONE aggregate pass
        over the relation (map-side combined; approx_count_distinct is
        HLL, quantiles are percentile_approx) — the single collected
        row is O(columns), then transposed driver-side. min/max render
        as strings so heterogeneous column types share the output
        schema, exactly like DuckDB's."""
        import re as _re

        from pyspark.sql import functions as F

        if _re.match(rf"^{_IDENT}\s*$", target):
            name = unquote_ident(target)
            t = self.table(name)
            if t.exists():
                df = t.read()
            else:
                df = self.sql(f"SELECT * FROM {target}")  # view / temp
        else:
            df = self.sql(target)
        num_types = {
            "byte", "short", "integer", "long", "float", "double", "decimal"
        }
        aggs: list = [F.count(F.lit(1)).alias("__n")]
        for f in df.schema.fields:
            c, tn = f.name, f.dataType.typeName()
            simple = tn in num_types or tn in (
                "string", "date", "timestamp", "timestamp_ntz", "boolean"
            )
            aggs.append(
                (F.min(c).cast("string") if simple else F.lit(None).cast("string"))
                .alias(f"__min_{c}")
            )
            aggs.append(
                (F.max(c).cast("string") if simple else F.lit(None).cast("string"))
                .alias(f"__max_{c}")
            )
            aggs.append(F.approx_count_distinct(c).alias(f"__uniq_{c}"))
            if tn in num_types:
                aggs.append(F.avg(c).cast("double").alias(f"__avg_{c}"))
                aggs.append(F.stddev(c).cast("double").alias(f"__std_{c}"))
                aggs.append(
                    F.percentile_approx(c, [0.25, 0.5, 0.75]).alias(f"__q_{c}")
                )
            aggs.append(F.count(c).alias(f"__cnt_{c}"))
        (row,) = df.agg(*aggs).collect()
        n = row["__n"]
        out = []
        for f in df.schema.fields:
            c, tn = f.name, f.dataType.typeName()
            qs = row[f"__q_{c}"] if tn in num_types else None
            out.append((
                c,
                f.dataType.simpleString().upper(),
                row[f"__min_{c}"],
                row[f"__max_{c}"],
                int(row[f"__uniq_{c}"]),
                float(row[f"__avg_{c}"]) if tn in num_types
                and row[f"__avg_{c}"] is not None else None,
                float(row[f"__std_{c}"]) if tn in num_types
                and row[f"__std_{c}"] is not None else None,
                float(qs[0]) if qs else None,
                float(qs[1]) if qs else None,
                float(qs[2]) if qs else None,
                int(n),
                round(100.0 * (n - row[f"__cnt_{c}"]) / n, 2) if n else None,
            ))
        return local_rows_df(
            self.spark,
            out,
            "column_name string, column_type string, min string, "
            "max string, approx_unique bigint, avg double, std double, "
            "q25 double, q50 double, q75 double, count bigint, "
            "null_percentage double",
        )

    def export_database(self, out_dir: str):
        """DuckDB's ``EXPORT DATABASE '<dir>'``: every plain table's
        rows land as a parquet directory (one distributed write per
        table — executor-parallel, no driver row handling), and the
        catalog's DDL lands twice: ``schema.sql`` for humans (the
        round-trippable SHOW CREATE statements plus views and macros)
        and ``manifest.json`` for :meth:`import_database` (no
        statement-splitting heuristics on the way back in).
        Materialized views export as their CREATE statement only —
        REFRESH FULL rebuilds their rows from the imported bases —
        and replicas are skipped (they refuse writes by design)."""
        from ..schema.reconcile import INSERTED_AT
        from .matview import PROP_QUERY as _MV_Q

        os.makedirs(out_dir, exist_ok=True)
        stmts: list[str] = []
        data_tables: list[str] = []
        mv_stmts: list[str] = []
        skipped: list[str] = []
        for name in self.list_tables():
            t = self.table(name)
            props = t.properties()
            if t.replica_of() is not None:
                skipped.append(name)
                continue
            if _MV_Q in props:
                mv_stmts.append(
                    f"CREATE MATERIALIZED VIEW {quote_ident(name)} AS "
                    f"{props[_MV_Q]}"
                )
                continue
            (row,) = self.show_create_table(name).collect()
            stmts.append(row["create_statement"])
            data_tables.append(name)
            m = t.manifest()
            derived = [
                e.output_name
                for e in m.partition_exprs
                if e.output_name != e.column
            ]
            df = t.read().drop(INSERTED_AT, *derived)
            df.write.mode("overwrite").parquet(os.path.join(out_dir, name))
        # macros BEFORE views: create_view validates eagerly on import,
        # so anything a view body expands must already exist
        for mname in self.list_macros():
            d = self.macro_def(mname)
            params = ", ".join(
                p + (f" := {d['defaults'][p]}" if p in d["defaults"] else "")
                for p in d["params"]
            )
            stmts.append(
                f"CREATE MACRO {quote_ident(mname)}({params}) AS "
                f"{'TABLE ' if d['table'] else ''}{d['body']}"
            )
        # views in dependency order (view-over-view is legal): a view
        # whose body references another view sorts after it. Textual
        # word-boundary detection, case-insensitive like resolution.
        views = self.list_views()
        bodies = {v: self.view_query(v) for v in views}
        emitted: set[str] = set()
        pending = list(views)
        while pending:
            progress = False
            for v in list(pending):
                deps = [
                    o
                    for o in views
                    if o.lower() != v.lower()
                    and re.search(
                        rf"\b{re.escape(o)}\b", bodies[v], re.IGNORECASE
                    )
                ]
                if all(d.lower() in emitted for d in deps):
                    stmts.append(
                        f"CREATE VIEW {quote_ident(v)} AS {bodies[v]}"
                    )
                    emitted.add(v.lower())
                    pending.remove(v)
                    progress = True
            if not progress:  # reference cycle: emit remaining as-is
                for v in pending:
                    stmts.append(
                        f"CREATE VIEW {quote_ident(v)} AS {bodies[v]}"
                    )
                break
        stmts.extend(mv_stmts)  # matviews AFTER their bases and views
        with open(os.path.join(out_dir, "schema.sql"), "w") as f:
            f.write(";\n".join(stmts) + ("\n" if stmts else ""))
        with open(os.path.join(out_dir, "manifest.json"), "w") as f:
            json.dump(
                {
                    "statements": stmts,
                    "tables": data_tables,
                    "format": "parquet",
                    "skipped_replicas": skipped,
                },
                f,
                indent=1,
            )
        return self._ddl_result(
            "EXPORT DATABASE",
            out_dir,
            f"{len(data_tables)} table(s), {len(stmts)} statement(s)",
        )

    def import_database(self, in_dir: str):
        """``IMPORT DATABASE '<dir>'``: replay the exported DDL, then
        bulk-load each table's parquet directory through COPY INTO —
        so the import inherits COPY INTO's idempotence (a crashed
        import rerun skips exactly the files that landed) and the
        writer's merge-vs-insert routing. The DDL replay is made
        idempotent to match (CREATE TABLE → IF NOT EXISTS, views/
        macros/matviews → OR REPLACE): a crashed import simply reruns.
        Materialized views are created LAST, after their bases load,
        and CREATE materializes against the current base — no extra
        refresh needed."""
        man_p = os.path.join(in_dir, "manifest.json")
        if not os.path.exists(man_p):
            raise ValueError(
                f"IMPORT DATABASE: no manifest.json under {in_dir!r} "
                f"(exported by EXPORT DATABASE)"
            )
        with open(man_p) as f:
            man = json.load(f)
        mvs: list[str] = []
        for stmt in man["statements"]:
            stmt = re.sub(
                r"^\s*CREATE\s+TABLE\s+(?!IF\s+NOT\s+EXISTS\b)",
                "CREATE TABLE IF NOT EXISTS ",
                stmt,
                flags=re.IGNORECASE,
            )
            stmt = re.sub(
                r"^\s*CREATE\s+(?!OR\s+REPLACE\b)"
                r"(VIEW|MACRO|MATERIALIZED\s+VIEW)\b",
                r"CREATE OR REPLACE \1",
                stmt,
                flags=re.IGNORECASE,
            )
            if re.match(
                r"\s*CREATE\s+(OR\s+REPLACE\s+)?MATERIALIZED\s+VIEW\s",
                stmt,
                re.IGNORECASE,
            ):
                mvs.append(stmt)
                continue
            self.sql(stmt)
        for name in man["tables"]:
            self._copy_into(
                name, os.path.join(in_dir, name), man["format"].upper(), None
            )
        for stmt in mvs:
            self.sql(stmt)
        return self._ddl_result(
            "IMPORT DATABASE",
            in_dir,
            f"{len(man['tables'])} table(s), {len(mvs)} matview(s)",
        )

    def show_create_table(self, name: str):
        """``SHOW CREATE TABLE <t>`` — a ROUND-TRIPPABLE statement: the
        emitted string re-creates an equivalent table through
        :meth:`ddl` (columns in manifest order minus the system column,
        hostile identifiers double-quoted per the reference's
        SqlIdentifierUtil discipline, PRIMARY KEY and PARTITIONED BY
        clauses included)."""
        from ..schema.reconcile import INSERTED_AT

        t = self.table(name)
        if not t.exists():
            raise ValueError(f"table {name!r} does not exist")
        props = t.properties()
        from .matview import PROP_QUERY as _MV_Q

        if _MV_Q in props:
            # a materialized view IS a lake table — SHOW CREATE emits its
            # maintained definition, with the IVM restriction stated
            note = (
                "-- incremental refresh folds fact churn through the "
                "pinned broadcast dim; dim changes require REFRESH FULL"
                if "mv.dim_version" in props
                else "-- incremental refresh maintains sum/count/avg over "
                "a single base table (no join views; star-join to one "
                "broadcast dim supported)"
            )
            return local_rows_df(
            self.spark,
                [(
                    name,
                    f"CREATE MATERIALIZED VIEW {quote_ident(name)} AS "
                    f"{props[_MV_Q]} {note}",
                )],
                "table string, create_statement string",
            )
        m = t.manifest()
        derived = {
            c
            for e in m.partition_exprs
            for c in ([e.output_name] if e.output_name != e.column else [])
        }
        cols = [
            f"{quote_ident(f.name)} {f.dataType.simpleString().upper()}"
            + (
                f" DEFAULT {props['default.' + f.name]}"
                if f"default.{f.name}" in props
                else ""
            )
            + (" NOT NULL" if f"notnull.{f.name}" in props else "")
            for f in m.schema.fields
            if f.name != INSERTED_AT and f.name not in derived
        ]
        # stored CHECK constraints round-trip as table-level items (the
        # re-parse lands them back in the same constraint.* namespace)
        cols.extend(
            f"CONSTRAINT {quote_ident(k[len('constraint.'):])} CHECK ({v})"
            for k, v in sorted(props.items())
            if k.startswith("constraint.")
        )
        if m.pk:
            cols.append(
                "PRIMARY KEY (" + ", ".join(quote_ident(c) for c in m.pk) + ")"
            )
        stmt = f"CREATE TABLE {quote_ident(name)} ({', '.join(cols)})"
        if m.partition_spec:
            stmt += " PARTITIONED BY (" + ", ".join(m.partition_spec) + ")"
        return local_rows_df(
            self.spark,
            [(name, stmt)], "table string, create_statement string"
        )

    def dml(self, statement: str):
        """SQL DML over the lake write API (the engine-side counterpart
        of the DuckDB statements the reference's users run):

        - ``INSERT INTO t [(cols)] <select>|VALUES (...), ...`` — the
          query runs through :meth:`sql` (so it can read other lake
          tables, pruned); an explicit column list maps the output
          positionally (missing table columns null-fill), bare VALUES
          maps positionally onto the table's data columns; the result
          lands via the writer's merge-vs-insert routing, i.e. on a PK
          table INSERT has the connector's UPSERT semantics.
        - ``DELETE FROM t WHERE p`` — file-pruned predicate delete.
        - ``UPDATE t SET a = expr[, ...] WHERE p`` — file-pruned
          predicate update.
        - ``MERGE INTO t USING (<select>)|name ON <pk conds> WHEN
          MATCHED [AND c] THEN UPDATE SET *|assignments [WHEN MATCHED
          [AND c] THEN DELETE] [WHEN NOT MATCHED [AND c] THEN INSERT
          *|(cols) VALUES (exprs)]`` — the reference's flagship
          statement (``ingestor/DucklakeWriter.java:151-168``),
          compiled onto the writer merge (``lake/sql_merge.py``).

        ``LakeCatalog.sql`` routes these automatically. Returns a
        one-row status DataFrame — unless the statement carries
        DuckDB's ``RETURNING <exprs>`` tail, in which case the affected
        rows come back instead: INSERT returns the inserted frame,
        DELETE the deleted rows, UPDATE the post-assignment rows (all
        SET right-hand sides evaluate against the OLD row, like SQL).
        The returned frame is pinned to the statement's snapshot
        versions, so it stays valid until a VACUUM drops them.
        RETURNING is supported on the plain three forms; the
        merge-compiled dialects (ON CONFLICT, UPDATE FROM, DELETE
        USING, subquery predicates, MERGE) refuse it explicitly."""
        import re as _re

        from pyspark.sql import functions as _F

        from .sql_prune import strip_catalog_prefix
        from .writer import LakeWriter as _W

        stmt = strip_catalog_prefix(statement).strip().rstrip(";").strip()
        # sequence calls: INSERT ... VALUES substitution + currval also
        # apply on DIRECT dml() calls (sql() routes pre-rewritten, so
        # this is a no-op there); INSERT ... SELECT nextval resolves
        # when the source routes back through sql(). Anywhere else —
        # UPDATE/DELETE/MERGE expressions — nextval would reach
        # Catalyst as an unresolved function, so refuse with guidance
        if _re.search(r"\b(?:nextval|currval)\s*\(", stmt, _re.IGNORECASE):
            stmt = self._rewrite_sequence_calls(stmt)
        if not _re.match(
            r"INSERT\b", stmt, _re.IGNORECASE
        ) and _re.search(r"\bnextval\s*\(", stmt, _re.IGNORECASE):
            raise ValueError(
                "nextval('...') is supported in INSERT ... VALUES and in "
                "SELECT lists (including INSERT ... SELECT); draw the "
                "sequence values in a SELECT and write them via "
                "INSERT/MERGE instead of referencing nextval inside "
                f"{stmt.split(None, 1)[0].upper()}"
            )
        returning: str | None = None
        ri = _find_top_level_kw(stmt, "RETURNING")
        if ri >= 0:
            returning = stmt[ri + len("RETURNING"):].strip()
            if not returning:
                raise ValueError("RETURNING requires at least one expression")
            stmt = stmt[:ri].rstrip()

        def _ret(df):
            return df.selectExpr(
                *[p.strip() for p in split_top_level(returning)]
            )
        if _re.match(r"MERGE\s+INTO\b", stmt, _re.IGNORECASE):
            from .sql_merge import merge_into

            if returning is not None:
                raise ValueError("RETURNING is not supported on MERGE")
            name = merge_into(self, stmt)
            return self._ddl_result(
                "MERGE", name, f"v{self.table(name).current_version()}"
            )
        # DuckDB upsert dialect (r14): INSERT ... ON CONFLICT, UPDATE ...
        # FROM, DELETE ... USING — all compile onto MERGE (lake/sql_merge)
        orm = _re.match(
            r"INSERT\s+OR\s+(REPLACE|IGNORE)\s+INTO\b", stmt, _re.IGNORECASE
        )
        if orm:
            # DuckDB shorthand: OR REPLACE ≡ ON CONFLICT DO UPDATE SET
            # <every non-pk source column> = excluded.<col>; OR IGNORE ≡
            # ON CONFLICT DO NOTHING — same MERGE compilation
            if returning is not None:
                raise ValueError(
                    "RETURNING is not supported on INSERT OR "
                    f"{orm.group(1).upper()} (it compiles onto MERGE)"
                )
            head = "INSERT INTO" + stmt[orm.end():]
            return self._insert_on_conflict(
                head,
                "DO NOTHING",
                replace_all=orm.group(1).upper() == "REPLACE",
            )
        ci = _find_top_level_kw(stmt, "CONFLICT")
        if ci >= 0 and _re.match(r"INSERT\s+INTO\b", stmt, _re.IGNORECASE):
            om = _re.search(r"\bON\s*$", stmt[:ci], _re.IGNORECASE)
            if om:
                if returning is not None:
                    raise ValueError(
                        "RETURNING is not supported on INSERT ... ON "
                        "CONFLICT (it compiles onto MERGE)"
                    )
                return self._insert_on_conflict(
                    stmt[:om.start()].rstrip(),
                    stmt[ci + len("CONFLICT"):].strip(),
                )
        m = _re.match(rf"UPDATE\s+({_IDENT})\s+SET\s+", stmt, _re.IGNORECASE)
        if m:
            body = stmt[m.end():]
            fi = _find_top_level_kw(body, "FROM")
            wi = _find_top_level_kw(body, "WHERE")
            if fi >= 0 and wi > fi:
                if returning is not None:
                    raise ValueError(
                        "RETURNING is not supported on UPDATE ... FROM "
                        "(it compiles onto MERGE)"
                    )
                return self._dml_from_source(
                    unquote_ident(m.group(1)),
                    body[fi + 4:wi].strip(),
                    body[wi + 5:].strip(),
                    assigns_text=body[:fi].strip(),
                )
        m = _re.match(
            rf"DELETE\s+FROM\s+({_IDENT})\s+USING\s+", stmt, _re.IGNORECASE
        )
        if m:
            body = stmt[m.end():]
            wi = _find_top_level_kw(body, "WHERE")
            if wi < 0:
                raise ValueError("DELETE ... USING requires a WHERE clause")
            if returning is not None:
                raise ValueError(
                    "RETURNING is not supported on DELETE ... USING "
                    "(it compiles onto MERGE)"
                )
            return self._dml_from_source(
                unquote_ident(m.group(1)),
                body[:wi].strip(),
                body[wi + 5:].strip(),
                assigns_text=None,
            )
        m = _re.match(
            rf"INSERT\s+(INTO|OVERWRITE)\s+(?:TABLE\s+)?({_IDENT})\s*(?:\(([^)]*)\)\s*)?"
            rf"((?:SELECT|VALUES|WITH|TABLE)\b.*)$",
            stmt,
            _re.IGNORECASE | _re.DOTALL,
        )
        if m:
            overwrite = m.group(1).upper() == "OVERWRITE"
            name = unquote_ident(m.group(2))
            t, df = self._insert_frame(name, m.group(3), m.group(4))
            pk = t.manifest().pk if t.exists() else []
            w = _W(t, pk=pk or None, auto_create=False)
            if overwrite:
                # one atomic commit replacing the file set (history kept)
                w.overwrite(df)
            else:
                w.write(df)
            if returning is not None:
                return _ret(df)
            return self._ddl_result(
                "INSERT OVERWRITE" if overwrite else "INSERT",
                name,
                f"v{t.current_version()}",
            )
        m = _re.match(
            rf"DELETE\s+FROM\s+({_IDENT})(?:\s+WHERE\s+(.+))?$",
            stmt,
            _re.IGNORECASE | _re.DOTALL,
        )
        if m:
            name = unquote_ident(m.group(1))
            t = self.table(name)
            ret = None
            if returning is not None:
                if m.group(2) is not None and _has_subquery(m.group(2)):
                    raise ValueError(
                        "RETURNING is not supported with a subquery "
                        "predicate (it compiles onto MERGE)"
                    )
                # the deleted rows, pinned to the pre-statement snapshot
                ret = t.read(version=t.current_version())
                if m.group(2) is not None:
                    ret = ret.filter(m.group(2))
            if m.group(2) is None:
                # standard SQL: DELETE without WHERE removes every row —
                # metadata-only (truncate semantics, history preserved)
                v = t.truncate()
                if ret is not None:
                    return _ret(ret)
                return self._ddl_result("DELETE", name, f"all rows v{v}")
            if _has_subquery(m.group(2)):
                # subquery predicate (`WHERE id IN (SELECT ...)`): the
                # file-level predicate engine can't host subqueries, so
                # compile onto MERGE — matched keys come from the full
                # SQL engine (views/time-travel/pruning all apply), the
                # delete lands through the pk-keyed merge
                return self._dml_via_merge(name, t, m.group(2), None)
            _W(t, pk=t.manifest().pk or None, auto_create=False).delete_where(
                m.group(2)
            )
            if ret is not None:
                return _ret(ret)
            return self._ddl_result("DELETE", name, f"v{t.current_version()}")
        m = _re.match(
            rf"UPDATE\s+({_IDENT})\s+SET\s+(.+?)(?:\s+WHERE\s+(.+))?$",
            stmt,
            _re.IGNORECASE | _re.DOTALL,
        )
        if m:
            name = unquote_ident(m.group(1))
            t = self.table(name)
            assigns: dict[str, str] = {}
            # split assignments on TOP-LEVEL commas only — the scanner
            # tracks paren depth AND quote state, so a string literal
            # holding a comma ('a,b') or an unbalanced paren ('(') can
            # neither mis-split an assignment nor corrupt the depth
            for p in split_top_level(m.group(2)):
                col, _, expr = p.partition("=")
                if not expr:
                    raise ValueError(f"bad SET clause: {p.strip()!r}")
                assigns[unquote_ident(col)] = expr.strip()
            if m.group(3) is not None and _has_subquery(m.group(3)):
                if any(_has_subquery(v) for v in assigns.values()):
                    raise ValueError(
                        "UPDATE: subqueries are supported in WHERE, not in "
                        "SET expressions"
                    )
                if returning is not None:
                    raise ValueError(
                        "RETURNING is not supported with a subquery "
                        "predicate (it compiles onto MERGE)"
                    )
                return self._dml_via_merge(name, t, m.group(3), assigns)
            ret = None
            if returning is not None:
                # the post-assignment rows: pre-statement snapshot rows
                # matching WHERE, with every SET right-hand side
                # evaluated against the OLD row in one projection
                # (simultaneous-assignment SQL semantics, matching
                # update_where itself)
                ret = t.read(version=t.current_version())
                if m.group(3) is not None:
                    ret = ret.filter(m.group(3))
                ret = ret.select(
                    *[
                        _F.expr(assigns[c]).alias(c) if c in assigns
                        else _F.col(c)
                        for c in ret.columns
                    ]
                )
            _W(t, pk=t.manifest().pk or None, auto_create=False).update_where(
                m.group(3) if m.group(3) is not None else "true", assigns
            )
            if ret is not None:
                return _ret(ret)
            return self._ddl_result("UPDATE", name, f"v{t.current_version()}")
        if any(
            re.search(rf"(?<![\w.]){re.escape(a)}\.\w", stmt, re.IGNORECASE)
            for a in self._attached
        ):
            raise ValueError(
                "attached lakes are READ-ONLY: write through a "
                "LakeCatalog rooted at the attached path (or REPLICATE "
                "TABLE for mirroring) instead"
            )
        raise ValueError(f"unsupported DML statement: {statement!r}")

    def _insert_frame(self, name: str, cols_text: "str | None", query_text: str):
        """Shared INSERT source mapping: run the feeding query and map
        its output onto target column names — positionally through an
        explicit column list, or against the table's data columns for
        bare VALUES (Spark's col1/col2… literal names mean nothing)."""
        import re as _re

        from ..schema.reconcile import INSERTED_AT

        t = self.table(name)
        df = self.sql(query_text)
        if cols_text is not None:
            cols = [unquote_ident(c) for c in split_top_level(cols_text)]
            if len(cols) != len(df.columns):
                raise ValueError(
                    f"INSERT INTO {name} ({len(cols)} column(s)) fed by "
                    f"a {len(df.columns)}-column query"
                )
            df = df.toDF(*cols)
        elif _re.match(r"VALUES\b", query_text, _re.IGNORECASE):
            if not t.exists():
                raise ValueError(
                    f"INSERT INTO {name} VALUES needs an existing table "
                    f"(or an explicit column list)"
                )
            data_cols = [
                f.name
                for f in t.manifest().schema.fields
                if f.name != INSERTED_AT
            ]
            if len(data_cols) != len(df.columns):
                raise ValueError(
                    f"INSERT INTO {name} VALUES arity {len(df.columns)} "
                    f"!= table data columns {len(data_cols)}"
                )
            df = df.toDF(*data_cols)
        if t.exists():
            # SQL literal typing diverges from the stored schema in
            # benign ways (Spark types `4.0` as DECIMAL(2,1), integer
            # literals as INT against a BIGINT column). Cast matching
            # columns to the table's declared type up front — DuckDB
            # coerces INSERT sources the same way — so the writer's
            # evolution planner only sees REAL schema changes.
            from pyspark.sql import functions as _F

            # UP-casts only: a WIDER incoming type must stay as-is so
            # the writer's evolution planner widens the TABLE instead
            # of this silently truncating the data.
            rank = {"byte": 0, "short": 1, "integer": 2, "long": 3}
            target = {f.name: f.dataType for f in t.manifest().schema.fields}

            def _up(src, dst):
                s, d = src.typeName(), dst.typeName()
                if s == "decimal" and d in ("double", "float"):
                    return True  # SQL literal `4.0` arrives as DECIMAL
                if s in rank and (
                    d in ("double", "float", "decimal")
                    or (d in rank and rank[s] < rank[d])
                ):
                    return True
                return s == "float" and d == "double"

            casts = {
                c: _F.col(c).cast(target[c])
                for c in df.columns
                if c in target and df.schema[c].dataType != target[c]
                and _up(df.schema[c].dataType, target[c])
            }
            if casts:
                df = df.withColumns(casts)
        return t, df

    def _insert_on_conflict(
        self,
        insert_head: str,
        conflict_tail: str,
        replace_all: bool = False,
    ):
        """DuckDB's ``INSERT INTO t [(cols)] <src> ON CONFLICT [(cols)]
        DO NOTHING | DO UPDATE SET ... [WHERE c]`` compiled onto MERGE.
        The conflict target must be the table's PRIMARY KEY (the lake's
        only uniqueness constraint). The incoming row is visible to DO
        UPDATE expressions as ``excluded.<col>`` (DuckDB's convention);
        target columns qualify with the table name. ``replace_all``
        (INSERT OR REPLACE) synthesizes DO UPDATE SET over every non-pk
        source column; with no non-pk columns it degrades to DO
        NOTHING, as DuckDB's does."""
        import re as _re
        import uuid as _uuid

        m = _re.match(
            rf"INSERT\s+INTO\s+(?:TABLE\s+)?({_IDENT})\s*(?:\(([^)]*)\)\s*)?"
            rf"((?:SELECT|VALUES|WITH|TABLE)\b.*)$",
            insert_head,
            _re.IGNORECASE | _re.DOTALL,
        )
        if not m:
            raise ValueError(
                f"unsupported INSERT ... ON CONFLICT head: {insert_head!r}"
            )
        name = unquote_ident(m.group(1))
        t, df = self._insert_frame(name, m.group(2), m.group(3))
        if not t.exists():
            raise ValueError(f"INSERT ... ON CONFLICT: unknown table {name!r}")
        pk = list(t.manifest().pk or [])
        if not pk:
            raise ValueError(
                f"INSERT ... ON CONFLICT on {name!r} requires a PRIMARY KEY "
                f"(the conflict target); plain INSERT appends"
            )
        cm = _re.match(
            r"(?:\(([^)]*)\)\s*)?DO\s+(NOTHING|UPDATE\s+SET\s+(.+))$",
            conflict_tail,
            _re.IGNORECASE | _re.DOTALL,
        )
        if not cm:
            raise ValueError(
                f"unsupported ON CONFLICT clause: {conflict_tail!r}"
            )
        if cm.group(1) is not None:
            target = sorted(
                unquote_ident(c) for c in split_top_level(cm.group(1))
            )
            if target != sorted(pk):
                raise ValueError(
                    f"ON CONFLICT target {target} must be {name}'s "
                    f"PRIMARY KEY {sorted(pk)} (the lake's only "
                    f"uniqueness constraint)"
                )
        missing = [c for c in pk if c not in df.columns]
        if missing:
            raise ValueError(
                f"INSERT ... ON CONFLICT source lacks pk column(s) {missing}"
            )
        on = " AND ".join(
            f"{quote_ident(name)}.{quote_ident(c)} = excluded.{quote_ident(c)}"
            for c in pk
        )
        ins_cols = ", ".join(quote_ident(c) for c in df.columns)
        ins_vals = ", ".join(f"excluded.{quote_ident(c)}" for c in df.columns)
        non_pk = [c for c in df.columns if c not in pk]
        if replace_all and non_pk:
            matched = "WHEN MATCHED THEN UPDATE SET " + ", ".join(
                f"{quote_ident(c)} = excluded.{quote_ident(c)}"
                for c in non_pk
            ) + " "
        elif cm.group(2).upper() == "NOTHING" or replace_all:
            matched = ""
        else:
            set_text = cm.group(3)
            wi = _find_top_level_kw(set_text, "WHERE")
            cond = ""
            if wi >= 0:
                cond = f"AND ({set_text[wi + 5:].strip()}) "
                set_text = set_text[:wi].strip()
            matched = f"WHEN MATCHED {cond}THEN UPDATE SET {set_text} "
        tmp = f"__oc_{_uuid.uuid4().hex[:10]}"
        df.createOrReplaceTempView(tmp)
        try:
            from .sql_merge import merge_into

            merge_into(
                self,
                f"MERGE INTO {quote_ident(name)} USING (SELECT * FROM {tmp}) "
                f"AS excluded ON {on} {matched}"
                f"WHEN NOT MATCHED THEN INSERT ({ins_cols}) "
                f"VALUES ({ins_vals})",
            )
        finally:
            self.spark.catalog.dropTempView(tmp)
        return self._ddl_result(
            "INSERT ON CONFLICT", name, f"v{t.current_version()}"
        )

    def _dml_from_source(
        self,
        name: str,
        source_text: str,
        where_text: str,
        assigns_text: "str | None",
    ):
        """DuckDB's joined DML — ``UPDATE t SET ... FROM s WHERE ...``
        and ``DELETE FROM t USING s WHERE ...`` — compiled onto MERGE.
        The WHERE's top-level AND conjuncts split into the MERGE ON
        (equalities binding the target's pk columns — required to cover
        the full pk, row identity) and the WHEN MATCHED condition
        (everything else). Aliases: the target is its table name; the
        source keeps the user's alias (or its own name)."""
        import re as _re

        t = self.table(name)
        if not t.exists():
            raise ValueError(f"{name!r} does not exist")
        pk = list(t.manifest().pk or [])
        if not pk:
            raise ValueError(
                f"UPDATE ... FROM / DELETE ... USING on {name!r} requires "
                f"a PRIMARY KEY (keys select through MERGE)"
            )
        # split WHERE on top-level ANDs; pk-equality conjuncts → ON
        conjs, rest = [], where_text
        while True:
            ai = _find_top_level_kw(rest, "AND")
            if ai < 0:
                conjs.append(rest.strip())
                break
            conjs.append(rest[:ai].strip())
            rest = rest[ai + 3:]
        on_conjs, extra = [], []
        pk_l = {c.lower() for c in pk}
        for c in conjs:
            sides = split_top_level(c, "=")
            is_on = False
            if len(sides) == 2 and not any(
                s.rstrip().endswith(("<", ">", "!")) for s in sides[:1]
            ):
                for s in sides:
                    ref = _re.fullmatch(
                        rf"\s*(?:({_IDENT})\s*\.\s*)?({_IDENT})\s*", s
                    )
                    if ref and unquote_ident(ref.group(2)).lower() in pk_l and (
                        ref.group(1) is None
                        or unquote_ident(ref.group(1)).lower() == name.lower()
                    ):
                        is_on = True
                        break
            (on_conjs if is_on else extra).append(c)
        if not on_conjs:
            raise ValueError(
                f"the WHERE clause must equate {name}'s PRIMARY KEY "
                f"{pk} with the source (row identity for the MERGE)"
            )
        cond = f"AND ({' AND '.join(extra)}) " if extra else ""
        action = (
            f"WHEN MATCHED {cond}THEN UPDATE SET {assigns_text}"
            if assigns_text is not None
            else f"WHEN MATCHED {cond}THEN DELETE"
        )
        from .sql_merge import merge_into

        merge_into(
            self,
            f"MERGE INTO {quote_ident(name)} USING {source_text} "
            f"ON {' AND '.join(on_conjs)} {action}",
        )
        return self._ddl_result(
            "UPDATE" if assigns_text is not None else "DELETE",
            name,
            f"v{t.current_version()}",
        )

    def _dml_via_merge(
        self, name: str, t: "LakeTable", predicate: str,
        assigns: "dict[str, str] | None",
    ):
        """DELETE/UPDATE with a SUBQUERY predicate, compiled onto MERGE:
        the matched keys are computed by the full SQL engine (so `IN
        (SELECT ...)`, EXISTS, views, and time travel inside the
        predicate all work), then land through the pk-keyed merge —
        O(matched) under merge-on-read, prune-bounded under
        copy-on-write. Requires a PRIMARY KEY (row identity)."""
        from .sql_merge import merge_into

        pk = list(t.manifest().pk or [])
        if not pk:
            raise ValueError(
                f"{'UPDATE' if assigns else 'DELETE'} with a subquery "
                f"predicate needs a PRIMARY KEY on {name} (keys select "
                f"through MERGE); add one, or materialize the subquery "
                f"and use a plain predicate"
            )
        # the source subquery's PK columns are aliased to reserved names
        # so a SET expression referencing a PK column unqualified
        # (UPDATE t SET a = id + 1 WHERE id IN (...)) resolves against
        # the target only, instead of hitting an ambiguous-reference
        # AnalysisException in the compiled projection
        pk_cols = ", ".join(
            f"{quote_ident(c)} AS {quote_ident('__s_pk_' + c)}" for c in pk
        )
        on = " AND ".join(
            f"__t.{quote_ident(c)} = __s.{quote_ident('__s_pk_' + c)}"
            for c in pk
        )
        if assigns is None:
            action = "WHEN MATCHED THEN DELETE"
            op = "DELETE"
        else:
            sets = ", ".join(
                f"{quote_ident(c)} = {e}" for c, e in assigns.items()
            )
            action = f"WHEN MATCHED THEN UPDATE SET {sets}"
            op = "UPDATE"
        merge_into(
            self,
            f"MERGE INTO {quote_ident(name)} AS __t USING "
            f"(SELECT {pk_cols} FROM {quote_ident(name)} "
            f"WHERE {predicate}) AS __s ON {on} {action}",
        )
        return self._ddl_result(op, name, f"v{t.current_version()}")

    def _ddl_result(self, op: str, table: str, detail: str):
        return local_rows_df(
            self.spark,
            [(op, table, detail)], "op string, table string, detail string"
        )

    def _copy_into(
        self, name: str, path: str, fmt: str, pattern: str | None
    ):
        """``COPY INTO t FROM 'dir' [FILEFORMAT = PARQUET|CSV|JSON]
        [PATTERN = 'glob']`` — idempotent bulk ingestion (Delta's COPY
        INTO semantics): every source file loaded is remembered in the
        manifest props IN THE SAME COMMIT as its rows, so a rerun after
        a crash skips exactly the files that made it in and loads the
        rest. Rows land through the writer (schema conform/evolution,
        merge-vs-insert routing on PK tables, partition layout) — this
        is ingestion, not the zero-copy ``add_files`` import. The
        loaded-set is one absolute path per file; for unbounded daily
        feeds, VACUUM-style hygiene is the caller's rotation of source
        dirs (the set is per-table and grows with distinct loaded
        files — same contract as Delta's COPY INTO file history)."""
        import fnmatch

        from .writer import LakeWriter as _W

        t = self.table(name)
        if not t.exists():
            raise ValueError(f"COPY INTO: table {name!r} does not exist")
        ext = {"PARQUET": ".parquet", "CSV": ".csv", "JSON": ".json"}[fmt]
        if not os.path.isdir(path):
            raise ValueError(f"COPY INTO: source dir {path!r} does not exist")
        found: list[str] = []
        for root_dir, _dirs, fs in os.walk(path):
            for f in fs:
                if f.endswith(ext) and not f.startswith(("_", ".")):
                    found.append(os.path.abspath(os.path.join(root_dir, f)))
        found.sort()
        if pattern:
            found = [
                f
                for f in found
                if fnmatch.fnmatch(os.path.relpath(f, path), pattern)
            ]
        m = t.manifest()
        loaded = set(m.props.get("copy_into", []))
        new = [f for f in found if f not in loaded]
        if not new:
            return self._ddl_result(
                "COPY INTO", name,
                f"0 new file(s) ({len(found)} already loaded)",
            )
        if fmt == "PARQUET":
            df = self.spark.read.parquet(*new)
        elif fmt == "CSV":
            df = (
                self.spark.read.option("header", "true")
                .option("inferSchema", "true").csv(new)
            )
        else:
            df = self.spark.read.json(new)
        w = _W(t, pk=list(m.pk) or None, auto_create=False)
        w.extra_commit_props = {"copy_into": sorted(loaded | set(new))}
        w.write(df)
        return self._ddl_result(
            "COPY INTO", name,
            f"{len(new)} file(s) v{t.current_version()}",
        )

    def sql(
        self,
        query: str,
        versions: dict[str, int] | None = None,
        where_hints: dict[str, str] | None = None,
    ):
        """Run a Spark SQL string against the lake's tables.

        Every committed table the query references is registered as a
        temp view under its own name (the reference exposes tables to
        DuckDB SQL as ``lake.main.<name>``; here Catalyst is the SQL
        engine — `DucklakeTableManager.java:161-164` parity at the API
        level). ``versions={"t": 3}`` pins a table to a committed
        snapshot, so ``AS OF``-style time travel composes with plain
        SQL.

        Manifest-level file skipping applies to the SQL path too: the
        statement's top-level WHERE conjuncts are attributed per table
        (``lake/sql_prune.py``, conservative — any shape it cannot
        prove is simply not pruned) and each view is registered over
        the stat/Bloom-pruned file list via ``read(where=...)``, so a
        selective point query opens the same file count through SQL as
        through ``read(where=)``. ``where_hints={"t": "pk = 42"}``
        overrides extraction for a table when the predicate is implied
        by the query but not top-level (e.g. under an OR the caller
        knows is exhaustive) — hints are trusted and applied as both a
        prune AND a row filter on that view, so a hint NOT implied by
        the query changes results; it is the caller's assertion.

        Only tables the query (or ``versions``) actually references are
        registered — a 50-table catalog must not pay 50 manifest chain
        resolutions for a one-table SELECT, and unrelated temp views
        sharing a table's name must not be clobbered. The reference test
        is a word-boundary match on the SQL text: conservative (a name
        in a string literal registers too), never under-registers.
        """
        import re as _re

        from .sql_prune import extract_table_predicates, strip_catalog_prefix

        # reference namespace parity: queries written for the DuckDB
        # attachment (`lake.main.<table>`) run unchanged
        query = strip_catalog_prefix(query)
        q = query.strip().rstrip(";").strip()
        # multi-table transaction statements (session-stateful, like
        # DuckDB's BEGIN/COMMIT against an attached ducklake catalog)
        if _re.match(r"(BEGIN|START)(\s+TRANSACTION)?\s*$", q, _re.IGNORECASE):
            txn_id = self.begin()
            return local_rows_df(
            self.spark,
                [(txn_id, "open")], "txn string, status string"
            )
        if _re.match(r"COMMIT(\s+TRANSACTION)?\s*$", q, _re.IGNORECASE):
            txn_id = self.commit_txn()
            return local_rows_df(
            self.spark,
                [(txn_id, "committed")], "txn string, status string"
            )
        rbm = _re.match(
            r"ROLLBACK(?:\s+TRANSACTION)?(?:\s+'([0-9a-f]+)')?\s*$",
            q,
            _re.IGNORECASE,
        )
        if rbm:
            txn_id = self.rollback_txn(rbm.group(1))
            return local_rows_df(
            self.spark,
                [(txn_id, "aborted")], "txn string, status string"
            )
        if _re.match(r"SHOW\s+TRANSACTIONS\s*$", q, _re.IGNORECASE):
            return self.list_transactions()
        stl = _re.match(
            r"SHOW\s+TABLES(?:\s+LIKE\s+'((?:[^']|'')*)')?\s*$", q, _re.IGNORECASE
        )
        if stl:
            if stl.group(1) is None:
                return self.show_tables()
            import fnmatch

            pat = stl.group(1).replace("''", "'").replace("%", "*").replace("_", "?")
            names = [
                n for n in self.list_tables()
                if fnmatch.fnmatchcase(n.lower(), pat.lower())
            ]
            return local_rows_df(
            self.spark,
                [(n,) for n in names] or [], "name string"
            )
        exm = _re.match(
            r"EXPLAIN(?:\s+(EXTENDED|FORMATTED|COST|CODEGEN))?\s+(.+)$",
            q,
            _re.IGNORECASE | _re.DOTALL,
        )
        if exm:
            # EXPLAIN <select>: plan the statement through this same
            # entry point (views expand, tables register pruned, time
            # travel resolves) and return the physical plan as a row —
            # the SQL-side twin of df.explain(). A plan request must
            # never have side effects, so statements that would hit the
            # ddl()/dml() dispatch below (EXPLAIN DELETE / INSERT /
            # VACUUM / ...) are refused up front rather than routed
            # through sql(), which would EXECUTE them and plan only the
            # tiny status DataFrame.
            inner = exm.group(2).strip()
            if _re.match(
                r"(CREATE|DROP|REFRESH|ALTER|TRUNCATE|VACUUM|OPTIMIZE"
                r"|RESTORE|COPY|REPLICATE|INSERT|DELETE|UPDATE|MERGE"
                r"|FLUSH|EXPORT|IMPORT|COMMENT|ATTACH|DETACH"
                r"|CHECKPOINT|FORCE|BEGIN|COMMIT|ROLLBACK)\b",
                inner,
                _re.IGNORECASE,
            ):
                raise ValueError(
                    "EXPLAIN supports SELECT queries only; refusing to "
                    "plan (and thereby execute) a DDL/DML statement: "
                    + inner.split(None, 1)[0].upper()
                )
            mode = (exm.group(1) or "formatted").lower()
            df = self.sql(inner, versions=versions, where_hints=where_hints)
            jmode = self.spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
            plan = df._jdf.queryExecution().explainString(jmode)
            return local_rows_df(self.spark, [(plan,)], "plan string")
        scv = _re.match(
            rf"SHOW\s+CREATE\s+VIEW\s+({_IDENT})\s*$", q, _re.IGNORECASE
        )
        if scv:
            vname = unquote_ident(scv.group(1))
            body = self.view_query(vname)  # raises if absent
            return local_rows_df(
            self.spark,
                [(f"CREATE VIEW {quote_ident(vname)} AS {body}",)],
                "create_stmt string",
            )
        scm = _re.match(
            rf"SHOW\s+CREATE\s+TABLE\s+({_IDENT})\s*$", q, _re.IGNORECASE
        )
        if scm:
            return self.show_create_table(unquote_ident(scm.group(1)))
        spm = _re.match(
            rf"SHOW\s+TBLPROPERTIES\s+({_IDENT})\s*$", q, _re.IGNORECASE
        )
        if spm:
            t = self.table(unquote_ident(spm.group(1)))
            if not t.exists():
                raise ValueError(f"table {spm.group(1)!r} does not exist")
            rows = sorted(t.properties().items())
            return local_rows_df(
            self.spark,
                rows or [], "key string, value string"
            )
        spp = _re.match(rf"SHOW\s+PARTITIONS\s+({_IDENT})\s*$", q, _re.IGNORECASE)
        if spp:
            from .partitioning import dir_key_to_canon_tuple

            t = self.table(unquote_ident(spp.group(1)))
            if not t.exists():
                raise ValueError(f"table {spp.group(1)!r} does not exist")
            m = t.manifest()
            if not m.partition_exprs:
                raise ValueError(f"table {t.name} is not partitioned")
            names = [e.spec_string() for e in m.partition_exprs]
            rows = sorted(
                {dir_key_to_canon_tuple(k, m.partition_exprs) for k in m.files}
            , key=lambda tup: tuple((v is None, v) for v in tup))
            rows = [
                ("/".join(
                    f"{n}={'null' if v is None else v}"
                    for n, v in zip(names, tup)
                ), sum(len(m.files[k]) for k in m.files
                       if dir_key_to_canon_tuple(k, m.partition_exprs) == tup))
                for tup in rows
            ]
            return local_rows_df(
            self.spark,
                rows or [], "partition string, n_files long"
            )
        stm = _re.match(rf"SHOW\s+TAGS\s+({_IDENT})\s*$", q, _re.IGNORECASE)
        if stm:
            t = self.table(unquote_ident(stm.group(1)))
            if not t.exists():
                raise ValueError(f"table {stm.group(1)!r} does not exist")
            rows = sorted(t.tags().items())
            return local_rows_df(self.spark, rows or [], "tag string, version long")
        ddm = _re.match(
            rf"DESC(?:RIBE)?\s+DETAIL\s+({_IDENT})\s*$", q, _re.IGNORECASE
        )
        if ddm:
            # Delta's DESCRIBE DETAIL: one metadata-only summary row
            from .mor import mor_state

            t = self.table(unquote_ident(ddm.group(1)))
            if not t.exists():
                raise ValueError(f"table {ddm.group(1)!r} does not exist")
            m = t.manifest()
            seq_map, deletes = mor_state(m)
            n_files = sum(len(v) for v in m.files.values())
            stats = [m.file_stats.get(f) or {} for f in m.all_files()]
            size = sum(int(s.get("__bytes") or 0) for s in stats)
            nrows = (
                sum(int(s["__rows"]) for s in stats)
                if stats and all(s.get("__rows") is not None for s in stats)
                else None
            )
            row = (
                t.name,
                int(m.version),
                n_files,
                size,
                nrows,
                ", ".join(m.partition_spec),
                ", ".join(m.pk or []),
                len(deletes),
                json.dumps(dict(sorted(m.props.get("tblproperties", {}).items()))),
            )
            return local_rows_df(
            self.spark,
                [row],
                "table string, version bigint, num_files bigint, "
                "size_bytes bigint, num_rows bigint, partition_spec string, "
                "primary_key string, mor_tombstone_files bigint, "
                "properties string",
            )
        dhm = _re.match(
            rf"DESC(?:RIBE)?\s+HISTORY\s+({_IDENT})\s*$", q, _re.IGNORECASE
        )
        if dhm:
            t = self.table(unquote_ident(dhm.group(1)))
            if not t.exists():
                raise ValueError(f"table {dhm.group(1)!r} does not exist")
            return t.history()
        dm = _re.match(rf"DESC(?:RIBE)?\s+({_IDENT})\s*$", q, _re.IGNORECASE)
        if dm:
            return self.describe(unquote_ident(dm.group(1)))
        pti = _re.match(
            r"PRAGMA\s+table_info\s*\(\s*'([^']+)'\s*\)\s*$", q, _re.IGNORECASE
        )
        if pti:
            # DuckDB/SQLite pragma shape: (cid, name, type, notnull,
            # dflt_value, pk) — the describe() facts re-keyed for tools
            # that speak the pragma dialect
            name = pti.group(1)
            t = self.table(name)
            if not t.exists():
                raise ValueError(f"table {name!r} does not exist")
            m = t.manifest()
            tp = m.props.get("tblproperties", {})
            pk = set(m.pk or [])
            rows = [
                (
                    i,
                    f.name,
                    f.dataType.simpleString().upper(),
                    (f"notnull.{f.name}" in tp) or not f.nullable,
                    tp.get(f"default.{f.name}"),
                    f.name in pk,
                )
                for i, f in enumerate(m.schema.fields)
            ]
            return local_rows_df(
            self.spark,
                rows,
                "cid int, name string, type string, notnull boolean, "
                "dflt_value string, pk boolean",
            )
        sm = _re.match(r"SUMMARIZE\s+(.+)$", q, _re.IGNORECASE | _re.DOTALL)
        if sm:
            return self.summarize(sm.group(1).strip())
        am = _re.match(
            r"ATTACH\s+'((?:[^']|'')+)'\s+AS\s+(\w+)"
            r"(?:\s*\(\s*READ_ONLY\s*\))?\s*$",
            q,
            _re.IGNORECASE,
        )
        if am:
            self.attach(am.group(1).replace("''", "'"), am.group(2))
            return self._ddl_result("ATTACH", am.group(2), "read_only")
        dtm = _re.match(r"DETACH\s+(\w+)\s*$", q, _re.IGNORECASE)
        if dtm:
            self.detach(dtm.group(1))
            return self._ddl_result("DETACH", dtm.group(1), "detached")
        if _re.match(r"SHOW\s+DATABASES\s*$", q, _re.IGNORECASE):
            rows = [("main", self.root, "read_write")] + [
                (a, c.root, "read_only")
                for a, c in sorted(self._attached.items())
            ]
            return local_rows_df(
            self.spark,
                rows, "database string, root string, access string"
            )
        svw = _re.match(r"SHOW\s+VIEWS\s*$", q, _re.IGNORECASE)
        if svw:
            rows = [(v, self.view_query(v)) for v in self.list_views()]
            return local_rows_df(self.spark, rows or [], "view string, query string")
        ssq = _re.match(r"SHOW\s+SEQUENCES\s*$", q, _re.IGNORECASE)
        if ssq:
            from . import sequence as _sequence

            rows = [
                (
                    n,
                    int(st["increment"]),
                    st["min"],
                    st["max"],
                    bool(st["cycle"]),
                    int(st["next"]),
                )
                for n in _sequence.list_sequences(self.fs, self.root)
                for st in (_sequence.sequence_state(self.fs, self.root, n),)
            ]
            return local_rows_df(
            self.spark,
                rows or [],
                "name string, increment bigint, min bigint, max bigint, "
                "cycle boolean, next bigint",
            )
        if _re.match(
            r"\s*(CREATE\s+(?:OR\s+REPLACE\s+)?(?:TABLE|MATERIALIZED\s+VIEW|VIEW|MACRO|SEQUENCE)"
            r"|DROP\s+(?:TABLE|MATERIALIZED\s+VIEW|VIEW|MACRO|SEQUENCE)"
            r"|REFRESH\s+MATERIALIZED\s+VIEW"
            r"|ALTER\s+TABLE|ALTER\s+VIEW|TRUNCATE\s+TABLE|VACUUM|OPTIMIZE"
            r"|FLUSH\s+INLINED\s+DATA"
            r"|RESTORE\s+TABLE|COPY\s+INTO|REPLICATE\s+TABLE"
            r"|COMMENT\s+ON|(?:FORCE\s+)?CHECKPOINT"
            r"|EXPORT\s+DATABASE|IMPORT\s+DATABASE)\b",
            query,
            _re.IGNORECASE,
        ):
            return self.ddl(query)
        # sequence calls resolve BEFORE dispatch (but after the DDL
        # route, so a stored `DEFAULT nextval('s')` text is never
        # rewritten): currval('s') is a per-statement constant; nextval
        # in a pure `INSERT ... VALUES` substitutes one allocated block
        # textually. nextval in a SELECT list is handled below (strip,
        # compile the rest, attach values distributed).
        if _re.search(r"\b(?:nextval|currval)\s*\(", query, _re.IGNORECASE):
            query = q = self._rewrite_sequence_calls(q)
        # DML dispatches BEFORE view expansion — prepending a views CTE
        # to `INSERT INTO t SELECT * FROM v` would produce `WITH ... INSERT`,
        # which no longer matches here and dies in the SELECT path as an
        # unresolved InsertIntoStatement. dml() expands views internally:
        # INSERT/MERGE source queries route back through sql(), and the
        # MERGE bare-name source resolves lake views explicitly.
        if _re.match(
            r"\s*(INSERT\s+(?:INTO|OVERWRITE|OR\s+(?:REPLACE|IGNORE)\s+INTO)"
            r"|DELETE\s+FROM|UPDATE|MERGE\s+INTO)\b", query, _re.IGNORECASE
        ):
            return self.dml(query)
        if _re.search(r"\bnextval\s*\(", query, _re.IGNORECASE):
            return self._select_with_nextval(query, versions, where_hints)
        # logical views expand next (leading CTEs), so time travel /
        # CDF rewrites and table registration see the expanded text
        # DuckDB-dialect rewrites (r14): the reference's users write
        # DuckDB SQL — macros, ASOF JOIN, QUALIFY and `* EXCLUDE (...)`
        # port unchanged. Macros expand first (their bodies may use any
        # dialect feature); ASOF next: its sides resolve recursively
        # through sql(), so a side may itself use QUALIFY/EXCLUDE.
        query = self._expand_macros(query)
        # attached-lake references resolve next (read-only snapshots) so
        # ASOF sides and view bodies may name `alias.table` directly
        query, att_views = self._rewrite_attached_refs(query)
        asof_views: list[str] = []
        if _find_top_level_kw(query, "ASOF") >= 0:
            query, asof_views = self._rewrite_asof_join(query)
        query = _rewrite_duckdb_dialect(query)
        query = self._expand_views(query)
        # SQL time travel: `t VERSION AS OF n`, `t TIMESTAMP AS OF 'ts'`,
        # `t FOR TAG x` table references resolve to pinned versions
        # registered under synthetic view names — so one statement can
        # even join two snapshots of the SAME table (snapshot diffing)
        query, travel = self._rewrite_time_travel(query)
        # Delta-parity CDF TVF: table_changes('t', from [, to]) becomes a
        # view over LakeTable.changes (file-diff cost, not table cost)
        query, cdf_views = self._rewrite_table_changes(query)
        # metadata TVF: table_files('t'[, version]) — the manifest's file
        # inventory as SQL rows (Iceberg `t.files` analogue), zero scan
        query, files_views = self._rewrite_table_files(query)
        # metadata TVF: table_snapshots('t') — version history as rows
        # (DuckLake's ducklake_snapshots per-table), zero scan
        query, snap_views = self._rewrite_table_snapshots(query)
        # catalog introspection: duckdb_tables() / duckdb_columns()
        query, meta_views = self._rewrite_catalog_fns(query)
        cdf_views = (
            cdf_views + files_views + snap_views + meta_views
            + asof_views + att_views
        )
        pins = dict(versions or {})
        hints = dict(where_hints or {})
        referenced = [
            name
            for name in self.list_tables()
            if name in pins
            or name in hints
            or _re.search(
                rf"(?<![A-Za-z0-9_]){_re.escape(name)}(?![A-Za-z0-9_])", query
            )
        ]
        tables = {name: self.table(name) for name in referenced}
        for syn, (base, v) in travel.items():
            tables[syn] = self.table(base)
            pins[syn] = v
        manifests = {
            name: t.manifest(pins.get(name)) for name, t in tables.items()
        }
        auto = extract_table_predicates(
            query,
            set(tables),
            {n: set(m.schema.fieldNames()) for n, m in manifests.items()},
        )
        pruned: list[str] = []
        for name, t in tables.items():
            where = hints.get(name, auto.get(name))
            df = t.read(version=pins.get(name), where=where)
            df.createOrReplaceTempView(name)
            if where is not None:
                pruned.append(name)
        result = self.spark.sql(query)  # analysis resolves the views NOW
        # Temp views outlive this call (D1: tables stay SQL-visible), so
        # a predicate-narrowed view must not linger under the table's
        # name — re-register pruned views unfiltered. The already-
        # analyzed `result` plan is unaffected. Synthetic time-travel
        # views are dropped outright.
        for name in pruned:
            if name in travel:
                continue
            tables[name].read(version=pins.get(name)).createOrReplaceTempView(
                name
            )
        for syn in travel:
            self.spark.catalog.dropTempView(syn)
        for syn in cdf_views:
            self.spark.catalog.dropTempView(syn)
        return result

    def _rewrite_catalog_fns(self, query: str):
        """Rewrite ``duckdb_tables()`` / ``duckdb_columns()`` (DuckDB's
        catalog-introspection functions) to synthetic views built from
        manifests — pure metadata, zero data scan. Comments from
        COMMENT ON surface here exactly as DuckDB exposes them."""
        import re as _re
        import uuid as _uuid

        views: list[str] = []
        query = self._rewrite_information_schema(query, views)
        if not _re.search(
            r"\bduckdb_(tables|columns)\s*\(\s*\)", query, _re.IGNORECASE
        ):
            return query, views

        def sub(m: "_re.Match") -> str:
            kind = m.group(1).lower()
            syn = f"__duckdb_{kind}_{_uuid.uuid4().hex[:6]}"
            rows = []
            for n in self.list_tables():
                t = self.table(n)
                mf = t.manifest()
                tp = mf.props.get("tblproperties", {})
                if kind == "tables":
                    rows.append(
                        (
                            n,
                            int(mf.version),
                            len(mf.schema.fields),
                            bool(mf.pk),
                            tp.get("comment"),
                        )
                    )
                else:
                    for i, f in enumerate(mf.schema.fields):
                        rows.append(
                            (
                                n,
                                f.name,
                                i,
                                f.dataType.simpleString().upper(),
                                f.nullable
                                and f"notnull.{f.name}" not in tp,
                                tp.get(f"comment.{f.name}"),
                            )
                        )
            schema = (
                "table_name string, version bigint, column_count int, "
                "has_primary_key boolean, comment string"
                if kind == "tables"
                else "table_name string, column_name string, "
                "column_index int, data_type string, is_nullable boolean, "
                "comment string"
            )
            local_rows_df(self.spark, rows or [], schema) \
                .createOrReplaceTempView(syn)
            views.append(syn)
            return quote_ident(syn)

        return (
            _re.sub(
                r"\bduckdb_(tables|columns)\s*\(\s*\)",
                sub,
                query,
                flags=_re.IGNORECASE,
            ),
            views,
        )

    def _rewrite_information_schema(self, query: str, views: list) -> str:
        """ANSI ``information_schema.tables`` / ``.columns`` over the
        catalog (DuckDB exposes the same). Tables AND logical views
        appear in ``tables`` with their standard table_type; columns
        carry 1-based ordinal_position, 'YES'/'NO' nullability, and the
        stored DEFAULT text."""
        import re as _re
        import uuid as _uuid

        def sub(m: "_re.Match") -> str:
            kind = m.group(1).lower()
            syn = f"__infoschema_{kind}_{_uuid.uuid4().hex[:6]}"
            rows = []
            if kind == "tables":
                for n in self.list_tables():
                    rows.append(("lake", "main", n, "BASE TABLE"))
                for v in self.list_views():
                    rows.append(("lake", "main", v, "VIEW"))
                schema = (
                    "table_catalog string, table_schema string, "
                    "table_name string, table_type string"
                )
            else:
                for n in self.list_tables():
                    mf = self.table(n).manifest()
                    tp = mf.props.get("tblproperties", {})
                    for i, f in enumerate(mf.schema.fields):
                        nullable = (
                            f.nullable and f"notnull.{f.name}" not in tp
                        )
                        rows.append(
                            (
                                n,
                                f.name,
                                i + 1,
                                f.dataType.simpleString().upper(),
                                "YES" if nullable else "NO",
                                tp.get(f"default.{f.name}"),
                            )
                        )
                schema = (
                    "table_name string, column_name string, "
                    "ordinal_position int, data_type string, "
                    "is_nullable string, column_default string"
                )
            local_rows_df(self.spark, rows or [], schema) \
                .createOrReplaceTempView(syn)
            views.append(syn)
            return quote_ident(syn)

        return _re.sub(
            r"\binformation_schema\s*\.\s*(tables|columns)\b",
            sub,
            query,
            flags=_re.IGNORECASE,
        )

    # ---------- sequence call resolution (lake/sequence.py) ----------

    _NEXTVAL_RE = re.compile(
        r"\bnextval\s*\(\s*'([^']+)'\s*\)", re.IGNORECASE
    )

    def _rewrite_sequence_calls(self, q: str) -> str:
        """Resolve ``currval('s')`` anywhere (a per-statement constant:
        the last value this catalog handed out) and ``nextval('s')``
        inside a pure ``INSERT ... VALUES`` statement (each textual
        occurrence = one evaluated row-cell, exactly DuckDB's
        semantics; ALL occurrences of one sequence draw from a single
        block — one CAS commit per statement). nextval anywhere else
        passes through to :meth:`_select_with_nextval`."""
        import re as _re

        from . import sequence as _sequence

        def cur(m: "_re.Match") -> str:
            name = m.group(1)
            if name not in self._seq_currval:
                # existence first: DuckDB errors differently for a
                # missing sequence vs one unused in this session
                _sequence.sequence_state(self.fs, self.root, name)
                raise ValueError(
                    f"currval('{name}'): nextval has not been called "
                    f"for this sequence in this session"
                )
            return str(self._seq_currval[name])

        q = _re.sub(
            r"\bcurrval\s*\(\s*'([^']+)'\s*\)", cur, q, flags=_re.IGNORECASE
        )
        if not (
            _re.match(
                rf"\s*INSERT\s+(?:OR\s+(?:REPLACE|IGNORE)\s+)?INTO\s+"
                rf"{_IDENT}\s*(?:\([^)]*\))?\s*VALUES\s*\(",
                q,
                _re.IGNORECASE,
            )
            and self._NEXTVAL_RE.search(q)
        ):
            return q
        # one block per sequence, sized by occurrence count
        names = [m.group(1) for m in self._NEXTVAL_RE.finditer(q)]
        blocks: dict[str, dict] = {}
        for name in names:
            if name not in blocks:
                n = names.count(name)
                st = _sequence.sequence_state(self.fs, self.root, name)
                lo = _sequence.allocate(self.fs, self.root, name, n)
                blocks[name] = {"next": lo, "inc": st["increment"]}
                self._seq_currval[name] = lo + (n - 1) * st["increment"]

        def sub(m: "_re.Match") -> str:
            b = blocks[m.group(1)]
            v = b["next"]
            b["next"] = v + b["inc"]
            return str(v)

        return self._NEXTVAL_RE.sub(sub, q)

    def _select_with_nextval(self, q: str, versions, where_hints):
        """``SELECT ... nextval('s') ... FROM ...``: strip the nextval
        items from the TOP-LEVEL select list, compile the remainder
        through the normal path, then attach the sequence values
        distributed — ONE block reservation (CAS) per sequence per
        statement, value assignment by pure per-partition arithmetic
        (``lake/sequence.py``: no shuffle, no window, no Python
        boundary). Like DuckDB under parallel execution, which row gets
        which value is unspecified; uniqueness and density are exact.

        nextval is supported as a whole select-list item (optionally
        aliased). Anywhere else — expressions, WHERE, subqueries — we
        refuse with guidance rather than silently miscompute."""
        import re as _re

        from . import sequence as _sequence

        sm = _re.match(r"\s*SELECT\s+(DISTINCT\s+)?", q, _re.IGNORECASE)
        if sm is None or sm.group(1):
            raise ValueError(
                "nextval('...') is supported in INSERT ... VALUES and in "
                "the top-level select list of a plain SELECT (no "
                "DISTINCT/WITH); rewrite the query to draw sequence "
                "values at the top level"
            )
        body = q[sm.end():]
        # find the top-level FROM (depth-0, outside quotes); everything
        # before it is the select list
        depth, quote, from_at = 0, None, None
        i = 0
        while i < len(body):
            ch = body[i]
            if quote is not None:
                if ch == quote:
                    if i + 1 < len(body) and body[i + 1] == quote:
                        i += 1
                    else:
                        quote = None
            elif ch in ("'", '"', "`"):
                quote = ch
            elif ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            elif depth == 0 and ch in "Ff":
                if _re.match(r"FROM\b", body[i:], _re.IGNORECASE) and (
                    i == 0 or not (body[i - 1].isalnum() or body[i - 1] == "_")
                ):
                    from_at = i
                    break
            i += 1
        sel = body[:from_at] if from_at is not None else body
        tail = body[from_at:] if from_at is not None else ""
        items = split_top_level(sel)
        item_re = _re.compile(
            rf"\s*nextval\s*\(\s*'([^']+)'\s*\)\s*(?:AS\s+({_IDENT})\s*)?$",
            _re.IGNORECASE,
        )
        kept: list[str] = []
        seq_items: list[tuple[int, str, str]] = []  # (position, seq, col)
        for pos, item in enumerate(items):
            m = item_re.match(item)
            if m:
                col = unquote_ident(m.group(2)) if m.group(2) else "nextval"
                seq_items.append((pos, m.group(1), col))
            else:
                if self._NEXTVAL_RE.search(item):
                    raise ValueError(
                        "nextval('...') must be a whole select-list item "
                        f"(optionally aliased); found it inside {item.strip()!r}"
                    )
                kept.append(item)
        if self._NEXTVAL_RE.search(tail):
            raise ValueError(
                "nextval('...') is only supported in the top-level select "
                "list, not in WHERE/GROUP BY/subqueries"
            )
        marker = None
        if not kept:
            marker = "__seq_rowmark"
            kept = [f"1 AS {marker}"]
        inner = "SELECT " + ", ".join(k.strip() for k in kept) + " " + tail
        df = self.sql(inner, versions=versions, where_hints=where_hints)
        # a seq alias colliding with a compiled column would make
        # withColumn REPLACE it — rename until free (the original
        # positional order restores the requested shape below)
        used: set[str] = set()
        for i_, (pos, seq, col) in enumerate(seq_items):
            while col in df.columns or col in used:
                col = col + "_"
            used.add(col)
            seq_items[i_] = (pos, seq, col)
        counts = _sequence.partition_counts(df)
        total = sum(counts)
        for _, seq, col in seq_items:
            st = _sequence.sequence_state(self.fs, self.root, seq)
            if total == 0:
                df = df.withColumn(col, F.lit(None).cast("long"))
                continue
            lo = _sequence.allocate(self.fs, self.root, seq, total)
            df = _sequence.attach_sequence(df, col, lo, st["increment"], counts)
            self._seq_currval[seq] = lo + (total - 1) * st["increment"]
        # restore the original column order
        base_cols = [c for c in df.columns if c not in used]
        if marker is not None:
            base_cols.remove(marker)
        out_cols: list[str] = []
        bi = 0
        seq_by_pos = {p: c for p, _, c in seq_items}
        for pos in range(len(items)):
            if pos in seq_by_pos:
                out_cols.append(seq_by_pos[pos])
            else:
                out_cols.append(base_cols[bi])
                bi += 1
        out_cols.extend(base_cols[bi:])
        return df.select(*[df[c] for c in out_cols])

    def _rewrite_table_changes(self, query: str):
        """Rewrite ``table_changes('t', from [, to])`` calls (Delta's CDF
        TVF) to synthetic views over :meth:`LakeTable.changes`, plus the
        DuckLake metadata-function twins ``table_insertions`` /
        ``table_deletions`` (``ducklake_table_insertions/_deletions``:
        the row values that became / stopped being visible in the span —
        the same CDF diff filtered by change direction, update images
        included). Returns (rewritten query, synthetic views to drop)."""
        import re as _re
        import uuid as _uuid

        views: list[str] = []
        pat = _re.compile(
            r"table_(changes|insertions|deletions)\s*\(\s*'([^']+)'\s*,"
            r"\s*(\d+)\s*(?:,\s*(\d+)\s*)?\)",
            _re.IGNORECASE,
        )

        def sub(m: "_re.Match") -> str:
            kind = m.group(1).lower()
            name = m.group(2)
            t = self.table(name)
            if not t.exists():
                raise ValueError(f"table_{kind}: unknown table {name!r}")
            frm = int(m.group(3))
            to = int(m.group(4)) if m.group(4) else None
            syn = (
                f"{_re.sub(r'[^A-Za-z0-9_]', '_', name)}__{kind}_"
                f"{frm}_{to if to is not None else 'cur'}_{_uuid.uuid4().hex[:6]}"
            )
            df = t.changes(frm, to, preimages=kind != "changes")
            if kind == "insertions":
                # DuckLake's ducklake_table_insertions: every row VALUE
                # that became visible in the span — fresh inserts plus
                # the new image of updated rows
                df = df.filter(
                    F.col("_change_type").isin("insert", "update_postimage")
                ).drop("_change_type")
            elif kind == "deletions":
                # ducklake_table_deletions: every row value that STOPPED
                # being visible — deletes plus the old image of updates
                df = df.filter(
                    F.col("_change_type").isin("delete", "update_preimage")
                ).drop("_change_type")
            df.createOrReplaceTempView(syn)
            views.append(syn)
            return quote_ident(syn)

        return pat.sub(sub, query), views

    def _rewrite_table_files(self, query: str):
        """Rewrite ``table_files('t'[, version])`` calls to synthetic
        views over the manifest's file inventory (Iceberg's ``t.files``
        metadata table as a TVF): one row per data file with its
        partition key, footer row/byte counts, and merge-on-read commit
        seq — METADATA ONLY, no file is opened. Lets operational SQL
        answer "which partitions are fragmented", "how much debt does
        this MOR table carry" with plain aggregates."""
        import re as _re
        import uuid as _uuid

        views: list[str] = []
        pat = _re.compile(
            r"table_files\s*\(\s*'([^']+)'\s*(?:,\s*(\d+)\s*)?\)",
            _re.IGNORECASE,
        )

        def sub(m: "_re.Match") -> str:
            from .mor import mor_state

            name = m.group(1)
            t = self.table(name)
            if not t.exists():
                raise ValueError(f"table_files: unknown table {name!r}")
            mf = t.manifest(int(m.group(2)) if m.group(2) else None)
            seq_map = mor_state(mf)[0]
            rows = [
                (
                    part or "",
                    f,
                    int(st.get("__rows")) if st.get("__rows") is not None else None,
                    int(st.get("__bytes")) if st.get("__bytes") is not None else None,
                    int(seq_map.get(f, 0)),
                )
                for part, fs in sorted(mf.files.items())
                for f in fs
                for st in [mf.file_stats.get(f) or {}]
            ]
            syn = (
                f"{_re.sub(r'[^A-Za-z0-9_]', '_', name)}__files_"
                f"{mf.version}_{_uuid.uuid4().hex[:6]}"
            )
            local_rows_df(
            self.spark,
                rows or [],
                "partition string, file string, rows bigint, "
                "bytes bigint, seq bigint",
            ).createOrReplaceTempView(syn)
            views.append(syn)
            return quote_ident(syn)

        return pat.sub(sub, query), views

    def _rewrite_table_snapshots(self, query: str):
        """Rewrite ``table_snapshots('t')`` calls to synthetic views
        over :meth:`LakeTable.history` — DuckLake's
        ``ducklake_snapshots()`` as a per-table TVF (one metadata row
        per resolvable version; no data file opened). Lets operational
        SQL join snapshot metadata against anything: "versions per
        hour", "which commit grew the table", retention audits."""
        import re as _re
        import uuid as _uuid

        views: list[str] = []
        pat = _re.compile(
            r"table_snapshots\s*\(\s*'([^']+)'\s*\)", _re.IGNORECASE
        )

        def sub(m: "_re.Match") -> str:
            name = m.group(1)
            t = self.table(name)
            if not t.exists():
                raise ValueError(f"table_snapshots: unknown table {name!r}")
            syn = (
                f"{_re.sub(r'[^A-Za-z0-9_]', '_', name)}__snaps_"
                f"{_uuid.uuid4().hex[:6]}"
            )
            t.history().createOrReplaceTempView(syn)
            views.append(syn)
            return quote_ident(syn)

        return pat.sub(sub, query), views

    # grammar: FROM <rel> [AS] <alias> ASOF [LEFT] JOIN <rel> [AS] <alias>
    #          ON <equi-conds AND one ts inequality>
    # where <rel> is a table/view name or a parenthesized subquery.
    _ASOF_TAIL_KWS = (
        "WHERE", "GROUP", "ORDER", "HAVING", "LIMIT",
        "QUALIFY", "UNION", "INTERSECT", "EXCEPT", "WINDOW",
    )

    def _rewrite_asof_join(self, query: str):
        """DuckDB ``ASOF [LEFT] JOIN`` SQL surface — the reference's
        users write it natively (DuckDB docs: AsOf joins), Spark's
        parser has no such clause. Rewritten onto the union-and-sweep
        operator (operators/asof.py — one shuffle + one window sweep,
        no range-join explosion): both sides resolve recursively
        through :meth:`sql` (so views, time travel, and subquery WHERE
        pruning all apply inside a side), the joined result registers
        as a synthetic temp view, and the statement's FROM clause plus
        every ``alias.col`` reference rewrites against it. All four
        comparison operators (``>= > <= <``) map to the operator's
        direction/strict axes; ``ASOF JOIN`` is inner, ``ASOF LEFT
        JOIN`` keeps unmatched probes. Returns (rewritten query, list
        of synthetic views to drop). One ASOF join per statement; a
        WITH prelude is refused (inline the CTE as a subquery)."""
        import re as _re
        import uuid as _uuid

        from pyspark.sql import functions as F

        from ..operators.asof import asof_join

        q = query
        ai = _find_top_level_kw(q, "ASOF")
        if ai < 0:
            return q, []
        jm = _re.match(r"ASOF\s+(LEFT\s+)?JOIN\b", q[ai:], _re.IGNORECASE)
        if not jm:
            return q, []  # e.g. a column literally named asof
        if _re.match(r"\s*WITH\b", q, _re.IGNORECASE):
            raise ValueError(
                "ASOF JOIN under a WITH prelude is not supported — "
                "inline the CTE as a parenthesized subquery"
            )
        if _find_top_level_kw(q[ai + 4:], "ASOF") >= 0:
            raise ValueError("one ASOF JOIN per statement is supported")
        how = "left" if jm.group(1) else "inner"
        fi = _find_top_level_kw(q, "FROM")
        if fi < 0 or fi > ai:
            raise ValueError("ASOF JOIN requires a FROM clause")
        head = q[:fi]
        left_txt = q[fi + 4:ai].strip()
        if len(split_top_level(left_txt)) > 1 or _find_top_level_kw(
            left_txt, "JOIN"
        ) >= 0:
            raise ValueError(
                "ASOF JOIN must be the only join in the FROM clause — "
                "wrap other joins in a parenthesized subquery side"
            )
        rest = q[ai + jm.end():]
        oi = _find_top_level_kw(rest, "ON")
        if oi < 0:
            raise ValueError("ASOF JOIN requires an ON clause")
        right_txt = rest[:oi].strip()
        after_on = rest[oi + 2:]
        cuts = [
            x
            for kw in self._ASOF_TAIL_KWS
            if (x := _find_top_level_kw(after_on, kw)) >= 0
        ]
        cut = min(cuts) if cuts else len(after_on)
        cond_txt, tail = after_on[:cut].strip(), after_on[cut:]

        def _parse_rel(txt: str, side: str):
            txt = txt.strip()
            if txt.startswith("("):
                depth, i, quote = 0, 0, None
                for i, ch in enumerate(txt):
                    if quote:
                        if ch == quote:
                            quote = None
                    elif ch in ("'", '"', "`"):
                        quote = ch
                    elif ch == "(":
                        depth += 1
                    elif ch == ")":
                        depth -= 1
                        if depth == 0:
                            break
                sub, alias_txt = txt[1:i], txt[i + 1:].strip()
                am = _re.match(
                    rf"(?:AS\s+)?({_IDENT})\s*$", alias_txt, _re.IGNORECASE
                )
                if not am:
                    raise ValueError(
                        f"ASOF JOIN: the {side} subquery needs an alias"
                    )
                return self.sql(sub), unquote_ident(am.group(1))
            m = _re.match(
                rf"({_IDENT})(?:\s+(?:AS\s+)?({_IDENT}))?\s*$",
                txt,
                _re.IGNORECASE,
            )
            if not m:
                raise ValueError(
                    f"ASOF JOIN: cannot parse the {side} relation: {txt!r}"
                )
            name = unquote_ident(m.group(1))
            alias = unquote_ident(m.group(2)) if m.group(2) else name
            return self.sql(f"SELECT * FROM {m.group(1)}"), alias

        ldf, la = _parse_rel(left_txt, "left")
        rdf, ra = _parse_rel(right_txt, "right")
        if la.lower() == ra.lower():
            raise ValueError("ASOF JOIN sides must have distinct aliases")

        # --- ON clause: equality pairs + exactly one ts inequality ---
        conds, cur = [], cond_txt
        while True:
            i = _find_top_level_kw(cur, "AND")
            if i < 0:
                conds.append(cur.strip())
                break
            conds.append(cur[:i].strip())
            cur = cur[i + 3:]
        cpat = _re.compile(
            rf"^\(?\s*({_IDENT})\.({_IDENT})\s*(>=|<=|=|>|<)\s*"
            rf"({_IDENT})\.({_IDENT})\s*\)?$"
        )
        pairs: list[tuple[str, str]] = []
        ineq = None
        lmap_ci = {c.lower(): c for c in ldf.columns}
        rmap_ci = {c.lower(): c for c in rdf.columns}
        for c in conds:
            m = cpat.match(c)
            if not m:
                raise ValueError(
                    f"ASOF JOIN ON supports alias-qualified comparisons "
                    f"joined by AND; cannot parse: {c!r}"
                )
            q1, c1, op, q2, c2 = (
                unquote_ident(m.group(1)), unquote_ident(m.group(2)),
                m.group(3),
                unquote_ident(m.group(4)), unquote_ident(m.group(5)),
            )
            if q1.lower() == la.lower() and q2.lower() == ra.lower():
                lc, rc = c1, c2
            elif q1.lower() == ra.lower() and q2.lower() == la.lower():
                lc, rc = c2, c1
                op = {">=": "<=", "<=": ">=", ">": "<", "<": ">"}.get(op, op)
            else:
                raise ValueError(
                    f"ASOF JOIN ON term must compare the two sides "
                    f"({la!r}, {ra!r}): {c!r}"
                )
            lc = lmap_ci.get(lc.lower())
            rc = rmap_ci.get(rc.lower())
            if lc is None or rc is None:
                raise ValueError(f"ASOF JOIN ON references unknown column: {c!r}")
            if op == "=":
                pairs.append((lc, rc))
            elif ineq is not None:
                raise ValueError(
                    "ASOF JOIN requires exactly one inequality in ON"
                )
            else:
                ineq = (lc, rc, op)
        if ineq is None:
            raise ValueError("ASOF JOIN requires one ts inequality in ON")
        lts, rts, op = ineq
        direction = "backward" if op in (">=", ">") else "forward"
        strict = op in (">", "<")

        # --- build the joined frame: right key cols under the LEFT
        # names for the equi-join, the ts under a reserved name, and
        # EVERY right column duplicated as an indexed payload copy so
        # `ra.anything` (including the key and ts) survives with LEFT-
        # join NULL semantics for unmatched probes ---
        rcols = list(rdf.columns)
        l_out = list(ldf.columns)
        if not pairs:
            # keyless ASOF (DuckDB allows it): one global timeline.
            # Constant key = a single window partition — correct, but
            # serializes the sweep; at scale users should carry an
            # equality key (the operator docstring's escalation note).
            ldf = ldf.withColumn("__asof_k", F.lit(1))
            rdf = rdf.withColumn("__asof_k", F.lit(1))
            pairs = [("__asof_k", "__asof_k")]
            rcols = [c for c in rcols]  # __asof_k stays internal
        rdf2 = rdf.select(
            *[F.col(rc).alias(lc) for lc, rc in pairs],
            F.col(rts).alias("__asof_rts"),
            *[F.col(c).alias(f"__asof_p_{i}") for i, c in enumerate(rcols)],
        )
        joined = asof_join(
            ldf,
            rdf2,
            key=[lc for lc, _ in pairs],
            left_ts=lts,
            right_ts="__asof_rts",
            payload=[f"__asof_p_{i}" for i in range(len(rcols))],
            suffix="",
            how=how,
            direction=direction,
            strict=strict,
        )
        taken = {c.lower() for c in l_out}
        exposed: dict[str, str] = {}
        out_cols = [F.col(c) for c in l_out]
        for i, c in enumerate(rcols):
            name = c
            while name.lower() in taken:
                name = f"{name}_r"
            taken.add(name.lower())
            exposed[c.lower()] = name
            out_cols.append(F.col(f"__asof_p_{i}").alias(name))
        syn = f"__asof_{_uuid.uuid4().hex[:8]}"
        joined.select(*out_cols).createOrReplaceTempView(syn)

        def _fix_refs(txt: str) -> str:
            def repl(m: "_re.Match") -> str:
                alias, col = unquote_ident(m.group(1)), m.group(2)
                if alias.lower() == la.lower():
                    if col == "*":
                        return ", ".join(quote_ident(c) for c in l_out)
                    lc = lmap_ci.get(unquote_ident(col).lower())
                    if lc is None:
                        raise ValueError(
                            f"unknown column {col!r} on ASOF side {la!r}"
                        )
                    return quote_ident(lc)
                if col == "*":
                    return ", ".join(
                        quote_ident(exposed[c.lower()]) for c in rcols
                    )
                rc = rmap_ci.get(unquote_ident(col).lower())
                if rc is None:
                    raise ValueError(
                        f"unknown column {col!r} on ASOF side {ra!r}"
                    )
                return quote_ident(exposed[rc.lower()])

            return _re.sub(
                rf"(?<![\w.])({_re.escape(la)}|{_re.escape(ra)})"
                rf"\.({_IDENT}|\*)",
                repl,
                txt,
                flags=_re.IGNORECASE,
            )

        new_q = f"{_fix_refs(head)}FROM {quote_ident(syn)} {_fix_refs(tail)}"
        return new_q, [syn]

    def _rewrite_time_travel(self, query: str):
        """Rewrite AS-OF table references to synthetic view names.

        Recognized (Delta/Iceberg SQL): ``<table> [FOR] VERSION AS OF
        <n>``, ``<table> [FOR] TIMESTAMP AS OF '<ts>'``, ``<table> FOR
        TAG <name>``; and the DuckLake-native spellings DuckDB users
        write against the reference's catalog: ``<table> AT (VERSION =>
        <n>)``, ``<table> AT (TIMESTAMP => '<ts>')`` (snapshot ids here
        ARE versions, so ``AT (SNAPSHOT => <n>)`` is accepted as a
        synonym). Only identifiers naming an existing lake table are
        rewritten (an alias that happens to precede the words stays
        untouched because the clause itself must follow the name).
        Returns (rewritten query, {synthetic: (base table, version)})."""
        import re as _re

        existing = set(self.list_tables())
        travel: dict[str, tuple[str, int]] = {}

        pat = _re.compile(
            rf"({_IDENT})\s+(?:"
            rf"(?:FOR\s+)?VERSION\s+AS\s+OF\s+(\d+)"
            rf"|(?:FOR\s+)?TIMESTAMP\s+AS\s+OF\s+('(?:[^']|'')*')"
            rf"|FOR\s+TAG\s+({_IDENT})"
            rf"|AT\s*\(\s*(?:VERSION|SNAPSHOT)\s*=>\s*(\d+)\s*\)"
            rf"|AT\s*\(\s*TIMESTAMP\s*=>\s*('(?:[^']|'')*')\s*\)"
            rf")",
            _re.IGNORECASE,
        )

        def sub(m: "_re.Match") -> str:
            base = unquote_ident(m.group(1))
            if base not in existing:
                return m.group(0)
            t = self.table(base)
            if m.group(2) is not None or m.group(5) is not None:
                v = int(m.group(2) or m.group(5))
                if not t.has_version(v):
                    raise ValueError(
                        f"Version {v} of {base} does not exist"
                    )
            elif m.group(3) is not None or m.group(6) is not None:
                v = t.resolve_timestamp(m.group(3) or m.group(6))
            else:
                v = t.resolve_tag(unquote_ident(m.group(4)))
            safe = _re.sub(r"\W", "_", base)
            if safe != base:  # sanitized names could collide; disambiguate
                import hashlib

                safe += "_" + hashlib.md5(base.encode()).hexdigest()[:6]
            syn = f"{safe}__asof_v{v}"
            travel[syn] = (base, v)
            return quote_ident(syn)

        return pat.sub(sub, query), travel
