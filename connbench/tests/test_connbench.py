"""The benchmark's own tests.

    python -m pytest connbench/tests -q

Fast tests cover the generator and the gate on plain rows. The Spark
tests run each workload end to end at tiny scale (one fresh JVM per
workload, about a minute each) and show that the gate rejects a
deliberately wrong table.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from connbench import gate, gen

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
WORKLOADS = ["upsert_catchup", "append_fanout_drift", "trickle_mor_readers"]


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


# ---------------------------------------------------------------- generator


@pytest.mark.parametrize("workload", WORKLOADS)
def test_generator_is_a_function_of_the_seed(workload):
    a = gen.generate(workload, 5, 3, "tiny")
    b = gen.generate(workload, 5, 3, "tiny")
    c = gen.generate(workload, 6, 3, "tiny")
    assert [x.envelopes for x in a.batches] == [x.envelopes for x in b.batches]
    assert [x.envelopes for x in a.batches] != [x.envelopes for x in c.batches]
    assert a.records > 0


def test_upsert_inputs_conflict_and_duplicate():
    inputs = gen.generate("upsert_catchup", 1, 20, "full")
    preload = {r["id"] for r in inputs.preload}
    seen = set(preload)
    conflicts = dups = total = 0
    for b in inputs.batches:
        ids = [json.loads(e["value"])["id"] for e in b.envelopes]
        dups += len(ids) - len(set(ids))
        conflicts += sum(1 for i in set(ids) if i in seen)
        seen |= set(ids)
        total += len(ids)
    assert 0.2 < conflicts / total < 0.35
    assert dups > 0


def test_append_inputs_inject_dlq_rows_and_drift():
    inputs = gen.generate("append_fanout_drift", 1, 20, "full")
    assert inputs.expected_dlq["orders"] > 0  # corrupt JSON
    assert inputs.expected_dlq["clicks"] > 0.5 * gen.SCALES["full"].append_batch * 0.3
    assert len(inputs.columns["orders"]) + len(inputs.columns["clicks"]) > 10
    assert any(r["qty"] > 2**31 for r in inputs.expected["orders"])


# ---------------------------------------------------------------- gate


def _upsert_rows(inputs):
    cols = inputs.columns["results"]
    return [gate.canonical(r, cols, inputs.timestamp_columns) for r in inputs.expected["results"].values()]


def test_keyed_gate_accepts_the_model_and_rejects_wrong_tables():
    inputs = gen.generate("upsert_catchup", 3, 3, "tiny")
    cols, ts = inputs.columns["results"], inputs.timestamp_columns
    rows = _upsert_rows(inputs)
    assert gate.check_keyed(inputs.expected["results"], rows, cols, ts) == []
    wrong_value = [rows[0][:2] + (rows[0][2] + 1,) + rows[0][3:]] + rows[1:]
    assert gate.check_keyed(inputs.expected["results"], wrong_value, cols, ts)
    assert gate.check_keyed(inputs.expected["results"], rows + [rows[5]], cols, ts)
    assert gate.check_keyed(inputs.expected["results"], rows[1:], cols, ts)


def test_multiset_gate_rejects_missing_extra_and_unfilled_rows():
    inputs = gen.generate("append_fanout_drift", 3, 3, "tiny")
    cols, ts = inputs.columns["orders"], inputs.timestamp_columns
    expected = inputs.expected["orders"]
    rows = [gate.canonical(r, cols, ts) for r in expected]
    assert gate.check_multiset(expected, rows, cols, ts) == []
    assert gate.check_multiset(expected, rows[1:], cols, ts)
    assert gate.check_multiset(expected, rows + rows[:1], cols, ts)
    shifted = [r[:-1] + ("x",) for r in rows]
    assert gate.check_multiset(expected, shifted, cols, ts)


def test_frame_gate_and_point_lookup():
    inputs = gen.generate("trickle_mor_readers", 3, 3, "tiny")
    model = gate.mor_model(inputs)
    assert gate.check_frame(model, model.copy()) == []
    wrong = model.copy()
    wrong.loc[3, "f01"] += 1.0
    assert gate.check_frame(model, wrong)
    assert gate.check_frame(model, model.iloc[1:].reset_index(drop=True))
    assert gate.check_point_lookup(7, [("a",), ("b",)])
    assert gate.check_point_lookup(7, [])
    assert gate.check_point_lookup(7, [("a",)]) == []


def test_tail_is_the_highest_percentile_with_ten_beyond():
    from connbench.workloads import tail

    assert tail(list(range(100))) == (89, 90.0)
    assert tail([3.0, 1.0, 2.0]) == (3.0, 100.0)


# ---------------------------------------------------------------- Spark


@pytest.mark.parametrize("workload", WORKLOADS)
def test_tiny_run_end_to_end(workload, tmp_path):
    """A tiny-scale run of each workload passes its gate and prints the
    metrics BENCHMARK.json names, with --trace 0 and --trace 1."""
    spec = _benchmark_json()
    for trace, key in ((0, "end_to_end"), (1, "per_layer")):
        p = subprocess.run(
            [sys.executable, os.path.join(ROOT, "connbench", "run.py"), "--workload", workload,
             "--seed", "11", "--seconds", "2", "--trace", str(trace), "--scale", "tiny"],
            cwd=tmp_path, capture_output=True, text=True, timeout=400,
        )
        assert p.returncode == 0, p.stderr[-4000:]
        result = json.loads(p.stdout.strip().splitlines()[-1])
        assert result["correct"] and result["failed"] == 0, p.stdout[-3000:]
        assert set(result["metrics"]) == {m["name"] for m in spec[key]}
        for m in spec[key]:
            assert result["metrics"][m["name"]]["unit"] == m["unit"]


def test_gate_rejects_a_wrong_table(tmp_path):
    """Tamper with a correctly ingested table; the gate must fail it."""
    from connbench import run, workloads

    work = str(tmp_path)
    run.prepare_env(work)
    spark = run.start_session(work)
    try:
        from pyspark.sql import functions as F
        from ducklake_kafka_connect_spark.lake import LakeCatalog, LakeWriter

        w = "upsert_catchup"
        prep = workloads.setup(spark, w, 4, 0, "tiny", os.path.join(work, "t"))
        res = workloads.run_pass(spark, w, prep, 0, reads=2)
        assert res.failed == 0, res.problems

        table = LakeCatalog(spark, prep.lake).table("results")
        key = next(iter(prep.inputs.expected["results"]))
        wrong = table.read(where=f"id = {key}").drop("_inserted_at").withColumn(
            "score", F.col("score") + 1
        )
        LakeWriter(table, pk=["id"]).merge(wrong)

        bad = workloads.PassResult()
        workloads._gate(spark, LakeCatalog(spark, prep.lake), w, prep, bad)
        assert bad.gate_failed == 1
        assert any(f"key {key!r}" in p for p in bad.problems)
    finally:
        run.stop_session(spark)
