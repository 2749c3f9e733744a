"""Streaming tests: file-source micro-batches through the event-time
operators and the stateful latest-per-key, plus an end-to-end streamed
ingestion into the lake (checkpointed foreachBatch)."""

import json
import os

import pytest
from pyspark.sql import functions as F

from ducklake_kafka_connect_spark.lake import LakeCatalog
from ducklake_kafka_connect_spark.sources.kafka_source import (
    KAFKA_LIKE_SCHEMA,
    file_stream_source,
)
from ducklake_kafka_connect_spark.streaming.ingest import (
    IngestConfig,
    IngestPipeline,
    TableSpec,
)
from ducklake_kafka_connect_spark.streaming.windows import (
    dedup_stream,
    latest_per_key_stream,
    sessionized_counts,
    windowed_counts,
)

EVENTS = [
    # user 1: two sessions (gap > 30 min); user 2: one session
    (1, "2024-01-01T10:00:00", 10.0),
    (1, "2024-01-01T10:10:00", 11.0),
    (1, "2024-01-01T12:00:00", 12.0),
    (2, "2024-01-01T10:05:00", 20.0),
    (2, "2024-01-01T10:20:00", 21.0),
]


@pytest.fixture()
def event_stream(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    rows = [
        {"user_id": u, "ts": ts, "value": v}
        for u, ts, v in EVENTS
    ]
    (src / "batch0.json").write_text("\n".join(json.dumps(r) for r in rows))
    schema = "user_id long, ts timestamp, value double"
    return (
        spark.readStream.format("json").schema(schema).load(str(src))
    )


def _run_to_memory(spark, df, name, mode):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.sql(f"SELECT * FROM {name}")


class TestEventTime:
    def test_windowed_counts(self, spark, event_stream):
        # watermark = max_ts - 1s = 11:59:59 → the 10:00 window is closed
        # and emitted; the 12:00 window stays open and is withheld (the
        # late-data contract append mode guarantees).
        out = _run_to_memory(
            spark, windowed_counts(event_stream, "1 hour", "1 second"), "win_counts", "append"
        )
        rows = {str(r["window_start"]): (r["n"], r["sum_value"]) for r in out.collect()}
        assert rows["2024-01-01 10:00:00"] == (4, 62.0)
        assert "2024-01-01 12:00:00" not in rows

    def test_sessionized_counts(self, spark, event_stream):
        # sessions ending before the watermark emit; user 1's 12:00
        # singleton is still open (gap not elapsed) and is withheld
        out = _run_to_memory(
            spark,
            sessionized_counts(event_stream, gap="30 minutes", watermark="1 second"),
            "sess_counts",
            "append",
        )
        sessions = sorted((r["user_id"], r["n_events"]) for r in out.collect())
        assert sessions == [(1, 2), (2, 2)]

    def test_latest_per_key_stateful(self, spark, event_stream):
        out = _run_to_memory(
            spark, latest_per_key_stream(event_stream), "latest_keys", "update"
        )
        latest = {r["user_id"]: (str(r["ts"]), r["value"]) for r in out.collect()}
        assert latest[1] == ("2024-01-01 12:00:00", 12.0)
        assert latest[2] == ("2024-01-01 10:20:00", 21.0)


    def test_dedup_stream_within_watermark(self, spark, tmp_path):
        """At-least-once redelivery: the same event_id arrives twice
        (second copy with a slightly later ingestion ts). The
        within-watermark dedup emits exactly one row per id."""
        src = tmp_path / "dedup_src"
        src.mkdir()
        rows = [
            {"event_id": 1, "ts": "2024-01-01T10:00:00", "value": 10.0},
            {"event_id": 2, "ts": "2024-01-01T10:01:00", "value": 20.0},
            # redeliveries: same ids, ts drifted by a few seconds
            {"event_id": 1, "ts": "2024-01-01T10:00:03", "value": 10.0},
            {"event_id": 2, "ts": "2024-01-01T10:01:00", "value": 20.0},
        ]
        (src / "b0.json").write_text("\n".join(json.dumps(r) for r in rows))
        stream = (
            spark.readStream.format("json")
            .schema("event_id long, ts timestamp, value double")
            .load(str(src))
        )
        out = _run_to_memory(
            spark, dedup_stream(stream, keys=("event_id",)), "dedup_stream_t", "append"
        )
        got = sorted((r["event_id"], r["value"]) for r in out.collect())
        assert got == [(1, 10.0), (2, 20.0)]


class TestWindowedAggToLake:
    def test_windowed_counts_append_to_lake(self, spark, tmp_path):
        """Composition: file stream → watermarked tumbling windows →
        foreachBatch append into a lake table partitioned by day of the
        window — closed windows land incrementally, exactly once per
        window under append mode."""
        src = tmp_path / "src"
        src.mkdir()
        rows = [
            {"user_id": u, "ts": ts, "value": v}
            for u, ts, v in EVENTS
        ]
        (src / "b0.json").write_text("\n".join(json.dumps(r) for r in rows))
        stream = (
            spark.readStream.format("json")
            .schema("user_id long, ts timestamp, value double")
            .load(str(src))
        )
        agg = windowed_counts(stream, "1 hour", "1 second")
        catalog = LakeCatalog(spark, str(tmp_path / "lake"))
        from ducklake_kafka_connect_spark.lake import LakeWriter

        def sink(batch, epoch_id):
            if not batch.isEmpty():
                LakeWriter(
                    catalog.table("hourly_counts"),
                    partition_by="day(window_start)",
                ).append(batch)

        q = (
            agg.writeStream.foreachBatch(sink)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        table = catalog.table("hourly_counts")
        out = {str(r["window_start"]): (r["n"], r["sum_value"]) for r in table.read().collect()}
        assert out == {"2024-01-01 10:00:00": (4, 62.0)}
        assert any("_pd_day_window_start=1" in k for k in table.manifest().files)


class TestStreamedIngestion:
    def test_file_stream_to_lake_with_checkpoint(self, spark, tmp_path):
        src = tmp_path / "kafka_like"
        src.mkdir()
        msgs = [
            {"key": None, "value": json.dumps({"id": i, "v": f"x{i}"}),
             "topic": "t_stream", "partition": 0, "offset": i, "timestamp": None}
            for i in range(5)
        ]
        (src / "b0.json").write_text("\n".join(json.dumps(m) for m in msgs))

        catalog = LakeCatalog(spark, str(tmp_path / "lake"))
        cfg = IngestConfig(
            tables={"t_stream": TableSpec(id_columns=["id"], auto_create=True)}
        )
        pipe = IngestPipeline(catalog, cfg)
        stream = file_stream_source(spark, str(src), fmt="json", schema=KAFKA_LIKE_SCHEMA)
        ckpt = str(tmp_path / "ckpt")
        q = (
            stream.writeStream.foreachBatch(pipe.process_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        table = catalog.table("t_stream")
        assert table.read().count() == 5

        # second run with an upsert batch: checkpoint skips batch 0,
        # processes only the new file, MERGE updates not duplicates
        msgs2 = [
            {"key": None, "value": json.dumps({"id": 0, "v": "updated"}),
             "topic": "t_stream", "partition": 0, "offset": 10, "timestamp": None}
        ]
        (src / "b1.json").write_text("\n".join(json.dumps(m) for m in msgs2))
        q2 = (
            file_stream_source(spark, str(src), fmt="json", schema=KAFKA_LIKE_SCHEMA)
            .writeStream.foreachBatch(pipe.process_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q2.awaitTermination(120)
        rows = {r["id"]: r["v"] for r in table.read().collect()}
        assert rows == {0: "updated", 1: "x1", 2: "x2", 3: "x3", 4: "x4"}


def _envelope_frame(spark, path, envelopes):
    """Kafka-shaped JSON envelopes staged as a file and read back the way
    the file-stream source reads them."""
    with open(path, "w") as fh:
        fh.write("\n".join(json.dumps(e) for e in envelopes))
    return spark.read.schema(KAFKA_LIKE_SCHEMA).json(str(path))


def _envelope(topic, partition, offset, value):
    return {"key": None, "value": value, "topic": topic, "partition": partition,
            "offset": offset, "timestamp": None}


class TestSingleDedupEquivalence:
    """Last-write-wins by offset is resolved once, inside the merge. A
    seeded sequence through ``process_batch`` must land exactly what a
    last-write-wins-by-offset model says, on every write path: the
    creating write, a multi-topic group commit, the CoW pruning path,
    the small-table (Arrow) path, merge-on-read, and a table whose
    connector CHECK constraints still dedup before routing. The DLQ
    holds the corrupt rows verbatim and the constraint violators as
    ``to_json`` of the deduplicated row, offset included."""

    CFG = IngestConfig(
        topic2table={"cow_a": "cow", "cow_b": "cow", "small": "small",
                     "mor": "mor", "chk": "chk"},
        tables={
            "cow": TableSpec(id_columns=["id"], partition_by="month(ts)",
                             auto_create=True, merge_mode="copy-on-write"),
            "small": TableSpec(id_columns=["id"], auto_create=True),
            "mor": TableSpec(id_columns=["id"], auto_create=True,
                             merge_mode="merge-on-read"),
            "chk": TableSpec(id_columns=["id"], auto_create=True,
                             check_constraints={"qty_pos": "qty > 0"}),
        },
    )

    @staticmethod
    def _epochs(seed, n_epochs=4):
        """[(envelopes, {table: [(offset, record)]}, [corrupt values])]"""
        import random

        rnd = random.Random(seed)
        offset = 0
        out = []
        for epoch in range(n_epochs):
            envs, by_table, corrupt = [], {}, []
            for topic in ("cow_a", "cow_b", "small", "mor", "chk"):
                table = TestSingleDedupEquivalence.CFG.table_for(topic)
                for _ in range(rnd.randint(20, 40)):
                    k = rnd.randrange(30)
                    if topic == "cow_a":
                        k *= 2  # the two cow topics never share a key
                    elif topic == "cow_b":
                        k = 2 * k + 1
                    rec = {"id": k, "qty": rnd.randint(-3, 20),
                           "name": f"e{epoch}-{rnd.randrange(1000)}"}
                    if table == "cow":
                        rec["ts"] = f"2024-{rnd.randint(1, 12):02d}-0{rnd.randint(1, 9)}T00:00:00Z"
                    offset += rnd.randint(1, 3)  # unique across partitions
                    envs.append(_envelope(topic, rnd.randrange(3), offset, json.dumps(rec)))
                    by_table.setdefault(table, []).append((offset, rec))
            for topic in ("cow_b", "small"):
                bad = f"{{not json {epoch}-{topic}"
                offset += 1
                envs.append(_envelope(topic, 0, offset, bad))
                corrupt.append((TestSingleDedupEquivalence.CFG.table_for(topic), bad))
            rnd.shuffle(envs)  # out-of-order offsets within the batch
            out.append((envs, by_table, corrupt))
        return out

    def test_matches_last_write_wins_model(self, spark, tmp_path):
        from ducklake_kafka_connect_spark.metrics import REGISTRY, to_prometheus

        cat = LakeCatalog(spark, str(tmp_path / "lake"))
        pipe = IngestPipeline(cat, self.CFG)
        model = {t: {} for t in self.CFG.tables}
        dlq = {t: [] for t in self.CFG.tables}
        stamps: dict = {}
        counters = REGISTRY.snapshot()["counters"]
        arrow_fallbacks = counters.get("merge.arrowFallback", 0)
        early_dedups = counters.get("ingest.dedupBeforeWrite", 0)
        for epoch, (envs, by_table, corrupt) in enumerate(self._epochs(seed=7)):
            pipe.process_batch(
                _envelope_frame(spark, tmp_path / f"b{epoch}.json", envs), epoch
            )
            for table, rows in by_table.items():
                winners = {}
                for off, rec in sorted(rows, key=lambda r: r[0]):
                    winners[rec["id"]] = (off, rec)
                for k, (off, rec) in winners.items():
                    if table == "chk" and rec["qty"] <= 0:
                        dlq[table].append(({"offset": off, **rec}, "check_constraint: qty_pos"))
                    else:
                        model[table][k] = rec
            for table, raw in corrupt:
                dlq[table].append((raw, "json_parse_or_schema_conflict"))

            for table, want in model.items():
                got = cat.table(table).read(include_hidden=True).collect()
                assert len(got) == len(want), (epoch, table)
                for r in got:
                    rec = want[r["id"]]
                    assert (r["qty"], r["name"]) == (rec["qty"], rec["name"]), (epoch, table)
                    if "ts" in rec:
                        assert r["ts"].strftime("%Y-%m-%d") == rec["ts"][:10]
                    assert "offset" not in r and not any(c.startswith("__") for c in r.asDict())
                    # _inserted_at survives every update of a key
                    first = stamps.setdefault((table, r["id"]), r["_inserted_at"])
                    assert r["_inserted_at"] == first, (epoch, table, r["id"])
            for table, want in dlq.items():
                name = f"{table}_dlq"
                got = (
                    cat.table(name).read().collect() if name in cat.list_tables() else []
                )
                norm = sorted(
                    (json.dumps(json.loads(r["raw_value"]), sort_keys=True)
                     if r["raw_value"].startswith('{"') else r["raw_value"], r["error"])
                    for r in got
                )
                assert norm == sorted(
                    (json.dumps(v, sort_keys=True) if isinstance(v, dict) else v, e)
                    for v, e in want
                ), (epoch, table)
        counters = REGISTRY.snapshot()["counters"]
        # the small table stayed on the driver-side Arrow merge throughout
        assert counters.get("merge.arrowFallback", 0) == arrow_fallbacks
        # only the constrained table dedups before the write, once a batch
        assert counters["ingest.dedupBeforeWrite"] == early_dedups + 4
        assert 'records_counter{counter="ingest.dedupBeforeWrite"}' in to_prometheus(REGISTRY)

    def test_stored_constraint_judges_each_keys_last_write(self, spark, tmp_path):
        """A table-stored CHECK constraint sees what lands: a superseded
        in-batch duplicate that violates it does not reject the batch,
        a violating last write does."""
        from ducklake_kafka_connect_spark.lake import ConstraintViolation

        cat = LakeCatalog(spark, str(tmp_path / "lake"))
        cfg = IngestConfig(tables={"st": TableSpec(id_columns=["id"], auto_create=True)})
        pipe = IngestPipeline(cat, cfg)

        def batch(name, rows):
            return _envelope_frame(spark, tmp_path / f"{name}.json", [
                _envelope("st", 0, off, json.dumps({"id": k, "qty": q}))
                for off, k, q in rows
            ])

        pipe.process_batch(batch("b0", [(0, 1, 5), (1, 2, 5)]), 0)
        cat.sql("ALTER TABLE st ADD CONSTRAINT pos CHECK (qty > 0)")
        pipe.process_batch(batch("b1", [(3, 1, 7), (2, 1, -1)]), 1)
        assert {r["id"]: r["qty"] for r in cat.table("st").read().collect()} == {1: 7, 2: 5}
        with pytest.raises(ConstraintViolation, match="pos"):
            pipe.process_batch(batch("b2", [(4, 2, 9), (5, 2, -2)]), 2)


class TestUpsertJobChain:
    """Per-trigger fixed cost: one keyed JSON upsert trigger into a month-
    partitioned copy-on-write table past the small-manifest size runs in
    at most 7 Spark jobs (routing + sample, planning, one write, the DLQ
    check), and a small commit harvests its file stats on the driver."""

    CFG = IngestConfig(
        topic2table={"f1": "results"},
        tables={"results": TableSpec(id_columns=["id"], partition_by="month(created_at)",
                                     auto_create=True, merge_mode="copy-on-write")},
    )

    @staticmethod
    def _batch(keys, first_offset, tag):
        envs = []
        for i, k in enumerate(keys):
            rec = {"id": k, "name": f"{tag}-{k}", "score": k * 0.5,
                   "created_at": f"2024-{k % 12 + 1:02d}-15T08:00:00Z"}
            envs.append(_envelope("f1", i % 2, first_offset + i, json.dumps(rec)))
        return envs

    def test_upsert_trigger_job_budget(self, spark, tmp_path, spark_jobs):
        from ducklake_kafka_connect_spark.metrics import REGISTRY

        cat = LakeCatalog(spark, str(tmp_path / "lake"))
        pipe = IngestPipeline(cat, self.CFG)
        pipe.process_batch(
            _envelope_frame(spark, tmp_path / "b0.json", self._batch(range(2400), 0, "v0")), 0
        )
        t = cat.table("results")
        assert sum(len(v) for v in t.manifest().files.values()) > 8
        harvests = REGISTRY.snapshot()["counters"].get("write.harvestSpark", 0)
        for epoch in (1, 2):
            # ~30 % updates, ~70 % inserts, a few in-batch duplicates
            keys = [k for k in range(epoch * 10_000, epoch * 10_000 + 410)]
            keys += list(range(epoch * 300, epoch * 300 + 180)) + keys[:10]
            frame = _envelope_frame(
                spark, tmp_path / f"b{epoch}.json",
                self._batch(keys, epoch * 100_000, f"v{epoch}"),
            )
            with spark_jobs() as jobs:
                pipe.process_batch(frame, epoch)
            assert jobs.n <= 7, f"upsert trigger {epoch} ran {jobs.n} Spark jobs"
        got = {r["id"]: r["name"] for r in t.read().collect()}
        assert len(got) == 2400 + 2 * 410
        assert got[600] == "v2-600" and got[300] == "v1-300" and got[5] == "v0-5"
        # the commits' harvests stayed on the driver
        assert REGISTRY.snapshot()["counters"].get("write.harvestSpark", 0) == harvests

    def test_route_without_collect_top_k(self, spark, tmp_path, monkeypatch):
        """Where PySpark's internal ``collect_top_k`` is missing, routing
        falls back to a distinct topic scan and each decode samples its
        own slice: the trigger still lands, last write per key winning."""
        from pyspark.sql.internal import InternalFunction

        from ducklake_kafka_connect_spark.metrics import REGISTRY

        monkeypatch.delattr(InternalFunction, "collect_top_k")
        before = REGISTRY.snapshot()["counters"].get("ingest.routeUnsampled", 0)
        cat = LakeCatalog(spark, str(tmp_path / "lake"))
        pipe = IngestPipeline(cat, self.CFG)
        envs = self._batch(list(range(20)) + [3], 0, "v0")
        envs[-1]["value"] = envs[-1]["value"].replace("v0-3", "v1-3")
        pipe.process_batch(_envelope_frame(spark, tmp_path / "b0.json", envs), 0)
        got = {r["id"]: r["name"] for r in cat.table("results").read().collect()}
        assert len(got) == 20 and got[3] == "v1-3" and got[4] == "v0-4"
        assert REGISTRY.snapshot()["counters"]["ingest.routeUnsampled"] == before + 1

    def test_small_commit_harvest_launches_no_job(self, spark, tmp_path, spark_jobs,
                                                  monkeypatch):
        import os

        from ducklake_kafka_connect_spark.lake.table import (
            LakeTable,
            _bloom_column,
            _stats_columns,
        )
        from ducklake_kafka_connect_spark.metrics import REGISTRY, to_prometheus

        cat = LakeCatalog(spark, str(tmp_path / "lake"))
        pipe = IngestPipeline(cat, self.CFG)
        pipe.process_batch(
            _envelope_frame(spark, tmp_path / "b0.json", self._batch(range(240), 0, "v0")), 0
        )
        t = cat.table("results")
        m = t.manifest()
        rel = m.all_files()
        assert len(rel) > 8
        paths = [os.path.join(t.dir, f) for f in rel]
        schema = t.read().schema
        args = (paths, rel, _stats_columns(schema, ["id"]), _bloom_column(schema, ["id"]))
        with spark_jobs() as jobs:
            on_driver = t._harvest(*args)
        assert jobs.n == 0
        before = REGISTRY.snapshot()["counters"].get("write.harvestSpark", 0)
        monkeypatch.setattr(LakeTable, "HARVEST_SPARK_MIN_BYTES", 0)
        with spark_jobs() as jobs:
            on_spark = t._harvest(*args)
        assert jobs.n >= 1
        assert on_spark == on_driver and set(on_driver) == set(rel)
        assert REGISTRY.snapshot()["counters"]["write.harvestSpark"] == before + 1
        assert 'records_counter{counter="write.harvestSpark"}' in to_prometheus(REGISTRY)


class TestRocksDBStateStore:
    def test_stateful_query_on_rocksdb(self, spark, event_stream, tmp_path):
        """The windowed aggregate runs on the RocksDB state store
        provider (off-heap state — the 1e9-key scale configuration) and
        produces identical results; the checkpoint must actually contain
        RocksDB changelog/snapshot state files."""
        from ducklake_kafka_connect_spark.session import (
            ROCKSDB_PROVIDER,
            enable_rocksdb_state_store,
        )

        prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
        enable_rocksdb_state_store(spark)
        ckpt = str(tmp_path / "ckpt_rocks")
        try:
            assert (
                spark.conf.get("spark.sql.streaming.stateStore.providerClass")
                == ROCKSDB_PROVIDER
            )
            q = (
                windowed_counts(event_stream, "1 hour", "1 second")
                .writeStream.format("memory")
                .queryName("rocks_counts")
                .outputMode("append")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)
            rows = {
                str(r["window_start"]): (r["n"], r["sum_value"])
                for r in spark.sql("SELECT * FROM rocks_counts").collect()
            }
            assert rows["2024-01-01 10:00:00"] == (4, 62.0)
            state_files = []
            for dirpath, _d, files in os.walk(os.path.join(ckpt, "state")):
                state_files += [os.path.join(dirpath, f) for f in files]
            assert any(
                f.endswith((".changelog", ".zip", ".sst")) for f in state_files
            ), f"expected RocksDB state artifacts, got: {state_files[:10]}"
        finally:
            if prev is None:
                spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
            else:
                spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)


class TestStreamStreamJoin:
    def test_windowed_interval_join(self, spark, tmp_path):
        """Clicks join purchases of the same user within 30 minutes
        after the click; state is watermark-bounded on both sides."""
        import json as _json

        from ducklake_kafka_connect_spark.streaming.windows import stream_stream_join

        lsrc = tmp_path / "l"
        rsrc = tmp_path / "r"
        lsrc.mkdir(); rsrc.mkdir()
        clicks = [
            {"user_id": 1, "ts": "2024-01-01T10:00:00", "value": 1.0},
            {"user_id": 2, "ts": "2024-01-01T10:00:00", "value": 2.0},
        ]
        purchases = [
            {"user_id": 1, "r_ts": "2024-01-01T10:10:00", "amount": 9.0},   # in window
            {"user_id": 1, "r_ts": "2024-01-01T11:10:00", "amount": 8.0},   # too late
            {"user_id": 2, "r_ts": "2024-01-01T09:50:00", "amount": 7.0},   # before click
        ]
        (lsrc / "b0.json").write_text("\n".join(_json.dumps(r) for r in clicks))
        (rsrc / "b0.json").write_text("\n".join(_json.dumps(r) for r in purchases))
        l = spark.readStream.format("json").schema(
            "user_id long, ts timestamp, value double").load(str(lsrc))
        r = spark.readStream.format("json").schema(
            "user_id long, r_ts timestamp, amount double").load(str(rsrc))
        q = (
            stream_stream_join(l, r, join_window="30 minutes")
            .writeStream.format("memory")
            .queryName("ss_join")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        rows = [
            (r["user_id"], r["amount"])
            for r in spark.sql("SELECT * FROM ss_join").collect()
        ]
        assert rows == [(1, 9.0)]


class TestTransformWithState:
    def test_plan_construction_and_output_schema(self, spark, tmp_path):
        """Plan building needs no protobuf: the operator must construct
        with the declared output schema even where the runtime gate
        (below) is closed."""
        from ducklake_kafka_connect_spark.streaming.windows import (
            running_totals_stream,
        )

        src = tmp_path / "rt_schema_src"
        src.mkdir()
        schema = "event_type string, value double"
        stream = spark.readStream.format("json").schema(schema).load(str(src))
        out = running_totals_stream(stream)
        assert out.isStreaming
        assert [f.name for f in out.schema.fields] == [
            "event_type", "n_events", "value_cents",
        ]

    @pytest.mark.skipif(
        __import__("importlib.util", fromlist=["util"]).find_spec("google") is None,
        reason="transformWithStateInPandas runtime needs protobuf "
        "(pyspark's StateMessage proto); not installed in this env",
    )
    def test_running_totals_across_batches(self, spark, tmp_path):
        """Two micro-batches; state carries totals across them and the
        second emission reflects the cumulative sum."""
        import json as _json

        from ducklake_kafka_connect_spark.streaming.windows import (
            running_totals_stream,
        )

        src = tmp_path / "rt_src"
        src.mkdir()
        b0 = [
            {"event_type": "click", "value": 1.25},
            {"event_type": "click", "value": 2.50},
            {"event_type": "view", "value": 10.00},
        ]
        (src / "b0.json").write_text("\n".join(_json.dumps(r) for r in b0))
        schema = "event_type string, value double"
        stream = spark.readStream.format("json").schema(schema).load(str(src))
        out = running_totals_stream(stream)
        ckpt = str(tmp_path / "rt_ckpt")

        def run_once(name):
            q = (
                out.writeStream.format("memory")
                .queryName(name)
                .outputMode("update")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)
            return {
                r["event_type"]: (r["n_events"], r["value_cents"])
                for r in spark.sql(f"SELECT * FROM {name}").collect()
            }

        got = run_once("rt1")
        assert got == {"click": (2, 375), "view": (1, 1000)}

        b1 = [{"event_type": "click", "value": 0.25}]
        (src / "b1.json").write_text("\n".join(_json.dumps(r) for r in b1))
        got2 = run_once("rt2")
        # only the touched key emits; totals are cumulative via state
        assert got2 == {"click": (3, 400)}
