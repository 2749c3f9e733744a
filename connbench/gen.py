"""Seeded input generator for the connector benchmark.

Pure Python and Spark-free: every workload's inputs are a function of
``(seed, scale, seconds)`` alone. The generator also keeps the records
it produced, so the correctness gate can rebuild the expected table
contents without reading anything the program wrote.

Staged inputs are Kafka-shaped JSON-lines envelopes
(``sources.kafka_source.KAFKA_LIKE_SCHEMA``: topic / partition / offset
/ value) — the file-stream stand-in for the Kafka source.
"""

from __future__ import annotations

import json
import math
import os
import random
from dataclasses import dataclass, field

# Per-trigger cost of the closed-loop catch-ups on a 4-core host; the
# backlog holds enough triggers to keep a run busy for about
# ``--seconds``. A faster program drains the same backlog sooner.
UPSERT_EST_BATCH_S = 1.9
APPEND_EST_BATCH_S = 1.7


@dataclass(frozen=True)
class Scale:
    """Input sizes. ``full`` is the benchmark; ``tiny`` is the smoke-test
    size used by the benchmark's own tests."""

    upsert_preload: int
    upsert_batch: int
    append_batch: int
    mor_preload: int
    mor_interval_s: float
    mor_records_per_file: int
    read_interval_s: float
    min_batches: int


SCALES = {
    "full": Scale(
        upsert_preload=12_000,
        upsert_batch=600,
        append_batch=2_000,
        mor_preload=100_000,
        mor_interval_s=0.25,
        mor_records_per_file=5,
        read_interval_s=1.5,
        min_batches=4,
    ),
    "tiny": Scale(
        upsert_preload=300,
        upsert_batch=60,
        append_batch=120,
        mor_preload=400,
        mor_interval_s=0.5,
        mor_records_per_file=3,
        read_interval_s=1.0,
        min_batches=6,
    ),
}


@dataclass
class Batch:
    """One staged file = one trigger of the closed loops (the
    ``maxOffsetsPerTrigger`` analogue) or one produce of the open loop."""

    envelopes: list[dict]  # topic / partition / offset / value
    due_s: float = 0.0  # open loop: seconds after the start of the run


@dataclass
class Inputs:
    """Everything a workload feeds the program, plus what the gate needs."""

    workload: str
    batches: list[Batch]
    preload: object = None  # list of dicts, or a column dict (MOR)
    # expected final state, per table: keyed tables map pk → row dict,
    # keyless tables hold a list of row dicts (a multiset)
    expected: dict = field(default_factory=dict)
    expected_dlq: dict = field(default_factory=dict)  # table → DLQ rows
    columns: dict = field(default_factory=dict)  # table → final columns
    timestamp_columns: tuple = ()
    read_keys: list = field(default_factory=list)  # keys that exist throughout
    read_interval_s: float = 0.0  # open loop: one read due every interval

    @property
    def records(self) -> int:
        return sum(len(b.envelopes) for b in self.batches)


def _ts(rng: random.Random, month: int) -> str:
    return (
        f"2024-{month:02d}-{rng.randrange(1, 29):02d}T"
        f"{rng.randrange(24):02d}:{rng.randrange(60):02d}:{rng.randrange(60):02d}Z"
    )


def ts_micros(iso: str) -> int:
    """Epoch microseconds of a generator ``...Z`` timestamp (UTC)."""
    from datetime import datetime, timezone

    dt = datetime.strptime(iso, "%Y-%m-%dT%H:%M:%SZ").replace(tzinfo=timezone.utc)
    return int(dt.timestamp()) * 1_000_000


def _backlog_batches(seconds: float, est_batch_s: float, scale: Scale) -> int:
    return max(scale.min_batches, math.ceil(seconds / est_batch_s))


class _Offsets:
    def __init__(self):
        self.next = 0

    def envelope(self, topic: str, value: str) -> dict:
        env = {"topic": topic, "partition": 0, "offset": self.next, "value": value}
        self.next += 1
        return env


def upsert_catchup(seed: int, seconds: float, scale: Scale) -> Inputs:
    """Keyed F1-style rows ``id/name/score/created_at``; about 30 % of
    each batch's keys conflict, biased towards recently inserted keys,
    plus a few within-batch duplicates (offset last-wins). The preload
    covers months 1-6; the backlog moves through months 7-12, so a batch
    touches one or two partitions."""
    rng = random.Random(seed)
    offsets = _Offsets()
    rows: dict[int, dict] = {}

    def row(i: int, created_at: str) -> dict:
        return {
            "id": i,
            "name": f"driver-{rng.randrange(1_000_000):06d}",
            "score": round(rng.uniform(0, 400), 3),
            "created_at": created_at,
        }

    preload = []
    for i in range(scale.upsert_preload):
        r = row(i, _ts(rng, 1 + i % 6))
        preload.append(r)
        rows[i] = r
    next_id = scale.upsert_preload
    n_batches = _backlog_batches(seconds, UPSERT_EST_BATCH_S, scale)
    batches = []
    for b in range(n_batches):
        month = 7 + (b * 6) // n_batches
        envs = []
        in_batch: list[int] = []
        for _ in range(scale.upsert_batch):
            u = rng.random()
            if u < 0.02 and in_batch:
                k = rng.choice(in_batch)  # within-batch duplicate
                r = row(k, rows[k]["created_at"])
            elif u < 0.30:
                # recent-biased conflict: exponential distance from the tip
                k = max(0, next_id - 1 - int(rng.expovariate(1 / 2_000)))
                r = row(k, rows[k]["created_at"])
            else:
                k = next_id
                next_id += 1
                r = row(k, _ts(rng, month))
            rows[k] = r
            in_batch.append(k)
            envs.append(offsets.envelope("f1_results", json.dumps(r)))
        batches.append(Batch(envs))
    return Inputs(
        workload="upsert_catchup",
        batches=batches,
        preload=preload,
        expected={"results": rows},
        expected_dlq={},
        columns={"results": ["id", "name", "score", "created_at"]},
        timestamp_columns=("created_at",),
        read_keys=list(range(0, scale.upsert_preload, 7)),
    )


ORDER_TOPICS = ("orders_web", "orders_app")
REGIONS = ("emea", "amer", "apac", "latam", "anz", "nordics", "dach", "iberia")


def append_fanout_drift(seed: int, seconds: float, scale: Scale) -> Inputs:
    """Keyless multi-topic batches: two order topics fan into ``orders``
    (a ``write_many`` group commit) and ``clicks`` lands alone. About
    1 % of records are corrupt JSON. Every third batch adds a nullable
    column; one ``orders_app`` slice widens ``qty`` int→long; one
    ``clicks`` slice sends ``dwell_ms`` as text, a type conflict the
    connector routes to the DLQ as a whole slice.

    The conflict sits on the single-topic table: a conflicting slice in
    a multi-topic group commit fails the batch instead (``write_many``'s
    union casts the text column and the write raises
    ``CAST_INVALID_INPUT``), and a benchmark workload must not fail."""
    rng = random.Random(seed)
    offsets = _Offsets()
    n_batches = _backlog_batches(seconds, APPEND_EST_BATCH_S, scale)
    widen_at = n_batches // 3
    conflict_at = (2 * n_batches) // 3
    # nullable columns added over the run, alternating tables
    extra_cols = ["coupon", "referrer", "channel", "device", "campaign", "locale"]
    added: dict[str, list[str]] = {"orders": [], "clicks": []}
    table_rows: dict[str, list] = {"orders": [], "clicks": []}
    dlq: dict[str, int] = {"orders": 0, "clicks": 0}
    next_order = 0
    next_click = 0
    batches = []
    for b in range(n_batches):
        if b > 0 and b % 3 == 0 and b // 3 - 1 < len(extra_cols):
            t = "orders" if (b // 3) % 2 else "clicks"
            added[t].append(extra_cols[b // 3 - 1])
        envs = []
        for _ in range(scale.append_batch):
            u = rng.random()
            topic = ORDER_TOPICS[0] if u < 0.4 else ORDER_TOPICS[1] if u < 0.7 else "clicks"
            table = "clicks" if topic == "clicks" else "orders"
            if table == "orders":
                r = {
                    "order_id": next_order,
                    "customer": f"c{rng.randrange(50_000):05d}",
                    "region": rng.choice(REGIONS),
                    "amount": round(rng.uniform(1, 900), 2),
                    "qty": rng.randrange(1, 20),
                    "placed_at": _ts(rng, 1 + b % 12),
                }
                next_order += 1
                if topic == ORDER_TOPICS[1] and b == widen_at:
                    r["qty"] = 3_000_000_000 + rng.randrange(1_000)
            else:
                r = {
                    "click_id": next_click,
                    "page": f"/p/{rng.randrange(500)}",
                    "dwell_ms": rng.randrange(10, 90_000),
                    "clicked_at": _ts(rng, 1 + b % 12),
                }
                next_click += 1
            for col in added[table]:
                if rng.random() < 0.5:
                    r[col] = f"{col}-{rng.randrange(100)}"
            conflict = table == "clicks" and b == conflict_at
            if conflict:
                r["dwell_ms"] = f"{r['dwell_ms']}ms"
            if rng.random() < 0.01:
                text = json.dumps(r)
                value = text[: rng.randrange(1, len(text) - 1)]  # truncated JSON
                dlq[table] += 1
            else:
                value = json.dumps(r)
                if conflict:
                    dlq[table] += 1
                else:
                    table_rows[table].append(r)
            envs.append(offsets.envelope(topic, value))
        batches.append(Batch(envs))
    base = {
        "orders": ["order_id", "customer", "region", "amount", "qty", "placed_at"],
        "clicks": ["click_id", "page", "dwell_ms", "clicked_at"],
    }
    return Inputs(
        workload="append_fanout_drift",
        batches=batches,
        expected=table_rows,
        expected_dlq=dlq,
        columns={t: base[t] + added[t] for t in base},
        timestamp_columns=("placed_at", "clicked_at"),
        read_keys=list(range(0, next_order, max(1, next_order // 64))),
    )


WIDE_FLOATS = [f"f{i:02d}" for i in range(1, 13)]
WIDE_INTS = [f"i{i:02d}" for i in range(1, 7)]
WIDE_STRS = [f"s{i:02d}" for i in range(1, 7)]
WIDE_COLUMNS = ["id", "grp"] + WIDE_FLOATS + WIDE_INTS + WIDE_STRS  # 26
GROUPS = [f"g{i:02d}" for i in range(32)]


def _wide_row(rng: random.Random, key: int) -> dict:
    r = {"id": key, "grp": rng.choice(GROUPS)}
    for c in WIDE_FLOATS:
        r[c] = round(rng.uniform(-1e4, 1e4), 4)
    for c in WIDE_INTS:
        r[c] = rng.randrange(1_000_000)
    for c in WIDE_STRS:
        r[c] = f"{c}-{rng.randrange(10**8):08d}"
    return r


def trickle_mor(seed: int, seconds: float, scale: Scale) -> Inputs:
    """Open loop: a small file of wide upserts is due every
    ``mor_interval_s`` for ``seconds`` (20 records/s at full scale); the
    source has no per-trigger cap, so whatever arrived while the last
    trigger ran coalesces into the next one (about 50 records). The
    26-column merge-on-read target is preloaded with ``mor_preload``
    rows. 90 % of upserts hit a preloaded key."""
    import numpy as np

    rng = random.Random(seed)
    nrng = np.random.default_rng(seed)
    n = scale.mor_preload
    cols: dict = {"id": np.arange(n, dtype=np.int64)}
    cols["grp"] = np.array(GROUPS, dtype=object)[nrng.integers(0, len(GROUPS), n)]
    for c in WIDE_FLOATS:
        cols[c] = np.round(nrng.uniform(-1e4, 1e4, n), 4)
    for c in WIDE_INTS:
        cols[c] = nrng.integers(0, 1_000_000, n, dtype=np.int64)
    for c in WIDE_STRS:
        cols[c] = np.char.add(f"{c}-", nrng.integers(0, 10**8, n).astype("U8")).astype(object)
    offsets = _Offsets()
    updates: dict[int, dict] = {}
    next_id = n
    batches = []
    n_files = max(scale.min_batches, int(seconds / scale.mor_interval_s))
    for f in range(n_files):
        envs = []
        for _ in range(scale.mor_records_per_file):
            if rng.random() < 0.9:
                k = rng.randrange(n)
            else:
                k = next_id
                next_id += 1
            r = _wide_row(rng, k)
            updates[k] = r
            envs.append(offsets.envelope("wide_cdc", json.dumps(r)))
        batches.append(Batch(envs, due_s=f * scale.mor_interval_s))
    return Inputs(
        workload="trickle_mor_readers",
        batches=batches,
        preload=cols,
        expected={"wide": updates},  # applied over the preload by the gate
        columns={"wide": list(WIDE_COLUMNS)},
        read_keys=list(range(0, n, max(1, n // 997))),
        read_interval_s=scale.read_interval_s,
    )


WORKLOADS = {
    "upsert_catchup": upsert_catchup,
    "append_fanout_drift": append_fanout_drift,
    "trickle_mor_readers": trickle_mor,
}


def generate(workload: str, seed: int, seconds: float, scale: str = "full") -> Inputs:
    return WORKLOADS[workload](seed, seconds, SCALES[scale])


def write_batch(path: str, batch: Batch, mtime: float | None = None) -> int:
    """Write one envelope file atomically (temp name the file source
    ignores, then rename); return its size in bytes."""
    tmp = os.path.join(os.path.dirname(path), "." + os.path.basename(path) + ".tmp")
    with open(tmp, "w") as fh:
        for env in batch.envelopes:
            fh.write(json.dumps(env))
            fh.write("\n")
    if mtime is not None:
        os.utime(tmp, (mtime, mtime))
    size = os.path.getsize(tmp)
    os.replace(tmp, path)
    return size


def stage(inputs: Inputs, directory: str, base_mtime: float) -> list[str]:
    """Stage every batch as one file, with strictly increasing mtimes so
    the file source takes them in generator order."""
    os.makedirs(directory, exist_ok=True)
    paths = []
    for i, b in enumerate(inputs.batches):
        p = os.path.join(directory, f"batch-{i:05d}.json")
        write_batch(p, b, mtime=base_mtime + i)
        paths.append(p)
    return paths
