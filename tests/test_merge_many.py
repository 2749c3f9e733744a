"""merge_many / write_many: group commit must be batch-sequentially
equivalent to merging the same batches one at a time (reference
consolidation semantics: BatchConsolidation.java applies later records
over earlier ones per key), while producing exactly ONE commit."""

import pytest
from pyspark.sql import functions as F

from ducklake_kafka_connect_spark.lake import LakeCatalog, LakeWriter


def _rows(t):
    return sorted(
        (r["id"], r["name"], r["v"]) for r in t.read().collect()
    )


def _mk_batch(spark, ids, name, v_base=0):
    return spark.createDataFrame(
        [(i, name, v_base + i) for i in ids], "id long, name string, v long"
    )


@pytest.fixture()
def cat(spark, tmp_path):
    return LakeCatalog(spark, str(tmp_path / "lake"))


class TestMergeManyEquivalence:
    def test_small_table_path_matches_sequential(self, spark, cat):
        seq_w = LakeWriter(cat.table("seq"), pk=["id"])
        grp_w = LakeWriter(cat.table("grp"), pk=["id"])
        base = _mk_batch(spark, range(20), "base")
        b1 = _mk_batch(spark, range(0, 10), "b1", 100)
        b2 = _mk_batch(spark, range(5, 15), "b2", 200)
        b3 = _mk_batch(spark, range(12, 25), "b3", 300)

        seq_w.append(base)
        for b in (b1, b2, b3):
            seq_w.merge(b)
        grp_w.append(base)
        grp_w.merge_many([b1, b2, b3])

        assert _rows(cat.table("grp")) == _rows(cat.table("seq"))

    def test_single_commit(self, spark, cat):
        w = LakeWriter(cat.table("one"), pk=["id"])
        w.append(_mk_batch(spark, range(10), "base"))
        v0 = cat.table("one").current_version()
        w.merge_many([
            _mk_batch(spark, range(3), "a"),
            _mk_batch(spark, range(2, 6), "b"),
            _mk_batch(spark, range(5, 9), "c"),
        ])
        assert cat.table("one").current_version() == v0 + 1

    def test_pruning_path_matches_sequential(self, spark, cat):
        # large enough (and multi-file) to leave the small-table fast path
        def big(tag, lo, hi, v):
            return spark.range(lo, hi).select(
                F.col("id"),
                F.lit(tag).alias("name"),
                (F.col("id") + v).alias("v"),
                F.timestamp_seconds(1704067200 + F.col("id") % 5_184_000)
                .alias("created_at"),
            )

        seq_w = LakeWriter(
            cat.table("pseq"), pk=["id"], partition_by="month(created_at)",
            small_table_fast_path=False,
        )
        grp_w = LakeWriter(
            cat.table("pgrp"), pk=["id"], partition_by="month(created_at)",
            small_table_fast_path=False,
        )
        base = big("base", 0, 5000, 0)
        b1, b2 = big("b1", 1000, 2000, 7), big("b2", 1500, 6000, 13)
        seq_w.append(base)
        seq_w.merge(b1)
        seq_w.merge(b2)
        grp_w.append(base)
        grp_w.merge_many([b1, b2])

        a = sorted(tuple(r) for r in cat.table("pseq").read().drop("_inserted_at").collect())
        b = sorted(tuple(r) for r in cat.table("pgrp").read().drop("_inserted_at").collect())
        assert a == b
        assert len(a) == 6000

    def test_later_batch_beats_order_col(self, spark, cat):
        # cross-batch: batch ordinal outranks order_col (sequential
        # merges would do the same — the later merge always wins)
        w = LakeWriter(cat.table("ord"), pk=["id"])
        w.append(
            spark.createDataFrame([(1, "base", 0)], "id long, name string, ts long")
        )
        b1 = spark.createDataFrame([(1, "early_hi_ts", 999)], "id long, name string, ts long")
        b2 = spark.createDataFrame([(1, "late_lo_ts", 5)], "id long, name string, ts long")
        w.merge_many([b1, b2], order_col="ts")
        [r] = cat.table("ord").read().collect()
        assert r["name"] == "late_lo_ts"

    def test_order_col_within_batch(self, spark, cat):
        w = LakeWriter(cat.table("ord2"), pk=["id"])
        w.append(
            spark.createDataFrame([(1, "base", 0)], "id long, name string, ts long")
        )
        b = spark.createDataFrame(
            [(1, "lo", 5), (1, "hi", 50)], "id long, name string, ts long"
        )
        w.merge_many([b, b.filter(F.lit(False))], order_col="ts")
        [r] = cat.table("ord2").read().collect()
        assert r["name"] == "hi"

    def test_ephemeral_order_not_in_schema(self, spark, cat):
        w = LakeWriter(cat.table("eph"), pk=["id"])
        w.append(_mk_batch(spark, range(5), "base"))
        w.merge_many([_mk_batch(spark, range(3), "a"), _mk_batch(spark, range(2), "b")])
        t = cat.table("eph")
        cols = t.manifest().schema.fieldNames()
        assert all(not c.startswith("__") for c in cols)
        assert all(not c.startswith("__") for c in t.read().columns)

    def test_tombstones_across_batches(self, spark, cat):
        w = LakeWriter(cat.table("tomb"), pk=["id"])
        w.append(_mk_batch(spark, range(6), "base"))
        b1 = spark.createDataFrame(
            [(1, "x", 0, True), (2, "upd", 0, False)],
            "id long, name string, v long, _deleted boolean",
        )
        b2 = spark.createDataFrame(
            [(1, "revived", 9, False), (3, "y", 0, True)],
            "id long, name string, v long, _deleted boolean",
        )
        w.merge_many([b1, b2], tombstone_col="_deleted")
        rows = {r["id"]: r["name"] for r in cat.table("tomb").read().collect()}
        assert 3 not in rows           # deleted by b2
        assert rows[1] == "revived"    # b2 beats b1's tombstone
        assert rows[2] == "upd"
        assert set(rows) == {0, 1, 2, 4, 5}


class TestWriteMany:
    def test_creates_then_merges(self, spark, cat):
        w = LakeWriter(cat.table("wm"), pk=["id"], auto_create=True)
        w.write_many([
            _mk_batch(spark, range(5), "a"),
            _mk_batch(spark, range(3, 8), "b"),
        ])
        rows = {r["id"]: r["name"] for r in cat.table("wm").read().collect()}
        assert set(rows) == set(range(8))
        assert rows[4] == "b" and rows[1] == "a"

    def test_no_pk_appends_once(self, spark, cat):
        w = LakeWriter(cat.table("ap"), pk=[], auto_create=True)
        w.write_many([_mk_batch(spark, range(4), "a"), _mk_batch(spark, range(4), "b")])
        t = cat.table("ap")
        assert t.read().count() == 8
        # create + one grouped append
        assert t.current_version() == 1

    def test_union_conflict_falls_back_sequential(self, spark, cat):
        from ducklake_kafka_connect_spark.schema.reconcile import ReconcileError

        w = LakeWriter(cat.table("tc"), pk=["id"], auto_create=True)
        b1 = spark.createDataFrame([(1, 10)], "id long, v long")
        b2 = spark.createDataFrame([(2, [1, 2])], "id long, v array<long>")
        # union can't resolve long vs array<long> → sequential replay:
        # the compatible batch lands, the offender raises ReconcileError
        # (ingest catches it and routes that slice to the DLQ)
        with pytest.raises(ReconcileError):
            w.write_many([b1, b2])
        assert {r["id"] for r in cat.table("tc").read().collect()} == {1}


class TestIngestGroupCommit:
    def test_multi_topic_same_table(self, spark, cat):
        from ducklake_kafka_connect_spark.streaming.ingest import (
            IngestConfig,
            IngestPipeline,
            TableSpec,
        )

        cfg = IngestConfig(
            topic2table={"t_a": "merged", "t_b": "merged"},
            tables={"merged": TableSpec(id_columns=["id"], auto_create=True)},
        )
        pipe = IngestPipeline(cat, cfg)
        rows = [
            ("t_a", 0, '{"id": 1, "name": "a1"}'),
            ("t_a", 1, '{"id": 2, "name": "a2"}'),
            ("t_b", 0, '{"id": 2, "name": "b2"}'),
            ("t_b", 1, '{"id": 3, "name": "b3"}'),
        ]
        batch = spark.createDataFrame(rows, "topic string, offset long, value string")
        pipe.process_batch(batch)
        t = cat.table("merged")
        got = {r["id"]: r["name"] for r in t.read().collect()}
        assert got[1] == "a1" and got[3] == "b3"
        assert got[2] in ("a2", "b2")  # cross-topic same-key: either slice may win
        # both topics landed in at most two commits (create+append, merge)
        assert t.current_version() <= 2

    @pytest.mark.parametrize("id_columns", [[], ["id"]], ids=["keyless", "keyed"])
    def test_conflicting_slice_dead_letters_alone(self, spark, cat, id_columns):
        """One topic slice whose column type conflicts with the table
        (double vs string) inside a multi-topic group: the other slice
        lands, the conflicting slice's rows go to the DLQ — the group's
        union must not coerce the column and fail the whole batch. On a
        keyed table both slices carry in-batch duplicate keys in shuffled
        offset order: the table and the DLQ each hold each key's last
        write by offset, as a per-slice dedup before the write would."""
        import json

        from ducklake_kafka_connect_spark.streaming.ingest import (
            IngestConfig,
            IngestPipeline,
            TableSpec,
        )

        cfg = IngestConfig(
            topic2table={"t_a": "merged", "t_b": "merged"},
            tables={"merged": TableSpec(id_columns=id_columns, auto_create=True)},
        )
        pipe = IngestPipeline(cat, cfg)
        schema = "topic string, offset long, value string"
        pipe.process_batch(
            spark.createDataFrame([("t_a", 0, '{"id": 0, "x": 0.5}')], schema), 0
        )
        rows = [
            ("t_a", 7, '{"id": 1, "x": 1.7}'),
            ("t_a", 2, '{"id": 2, "x": 2.5}'),
            ("t_a", 3, '{"id": 1, "x": 1.3}'),
            ("t_b", 9, '{"id": 4, "x": "d9"}'),
            ("t_b", 4, '{"id": 3, "x": "c4"}'),
            ("t_b", 6, '{"id": 3, "x": "c6"}'),
            ("t_b", 5, '{"id": 4, "x": "d5"}'),
            ("t_b", 1, '{"id": 3, "x": "c1"}'),
        ]
        pipe.process_batch(spark.createDataFrame(rows, schema), 1)
        got = sorted((r["id"], r["x"]) for r in cat.table("merged").read().collect())
        dlq = cat.table("merged_dlq").read().collect()
        dead = sorted((v["id"], v["x"]) for v in (json.loads(r["raw_value"]) for r in dlq))
        if id_columns:
            assert got == [(0, 0.5), (1, 1.7), (2, 2.5)]
            assert dead == [(3, "c6"), (4, "d9")]
        else:
            assert got == [(0, 0.5), (1, 1.3), (1, 1.7), (2, 2.5)]
            assert dead == [(3, "c1"), (3, "c4"), (3, "c6"), (4, "d5"), (4, "d9")]
        assert all(r["error"].startswith("reconcile_error: ") for r in dlq)
        assert all(set(json.loads(r["raw_value"])) == {"id", "x"} for r in dlq)
