"""Schemaless JSON decode (reference operator A3 + C1/C2).

The reference parses each record with Jackson, infers a per-record
schema (ID-heuristic + ISO-8601 sniffing), unifies across the batch,
then materializes typed structs
(``connect/SinkRecordToArrowConverter.java:113-152,772-897``).

Spark shape: sample a bounded number of raw values to the driver, run
the same inference + promotion ladder (pure Python, once per batch), and
decode the full column with ``from_json`` under the unified schema —
executor-side, vectorized, no Python in the row loop. Rows that fail to
parse under the unified schema land in a ``_corrupt`` column for DLQ
routing (the reference's per-record schema-conflict triage,
``connect/DucklakeSinkTask.java:969-1097``).

Top-level timestamp-sniffed fields are parsed from strings with the
engine's ISO parser (handles compact ``±hhmm`` offsets and naive-as-UTC
like ``connect/TimestampUtils.java:64-95``); nested timestamps use
``from_json``'s default ISO parsing.
"""

from __future__ import annotations

import json
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.timestamps import parse_iso_timestamp
from ..schema.inference import infer_record_schema
from ..schema.merge import SchemaUnificationError, unify_schemas

CORRUPT_COL = "_corrupt"
DEFAULT_SAMPLE = 1000


def infer_batch_schema(
    df: DataFrame,
    value_col: str = "value",
    sample_size: int = DEFAULT_SAMPLE,
    conflicts_out: dict | None = None,
    sample: list | None = None,
) -> tuple[T.StructType, int]:
    """Sample raw JSON strings and infer the unified batch schema.

    Returns (schema, n_rejected_sample_records). Records whose schema
    cannot unify with the running majority are skipped (they will fail
    from_json later and be DLQ-routed) — mirroring the reference's
    DLQ triage rather than failing the whole batch. Pass a dict as
    ``conflicts_out`` to receive {field: {types, samples}} describing
    the conflicts (used to enrich DLQ error notes). ``sample``: raw
    values the caller already collected (the ingest pipeline's routing
    aggregate) — no sampling job then."""
    if sample is None:
        sample = [
            r[0]
            for r in df.select(value_col).limit(sample_size).collect()
            if r[0] is not None
        ]
    unified: T.StructType | None = None
    rejects = 0
    for raw in sample:
        try:
            value: Any = json.loads(raw) if isinstance(raw, (str, bytes)) else raw
        except (json.JSONDecodeError, UnicodeDecodeError):
            rejects += 1
            continue
        rec_schema = infer_record_schema(value)
        if rec_schema is None:
            continue
        if unified is None:
            unified = rec_schema
            continue
        try:
            unified = unify_schemas([unified, rec_schema])
        except SchemaUnificationError as e:
            rejects += 1  # conflicting record → will be DLQ'd at parse time
            # record the offending value for DLQ error enrichment
            if conflicts_out is not None and e.field is not None:
                c = conflicts_out.setdefault(
                    e.field,
                    {"types": [t.simpleString() for t in e.types], "samples": []},
                )
                if isinstance(value, dict) and len(c["samples"]) < 5:
                    c["samples"].append(value.get(e.field))
    return unified or T.StructType([]), rejects


def _parse_schema(schema: T.StructType) -> T.StructType:
    """Schema handed to from_json: top-level timestamps read as strings
    (re-parsed with the engine's ISO rules), plus the corrupt column."""
    fields = []
    for f in schema.fields:
        if isinstance(f.dataType, T.TimestampType):
            fields.append(T.StructField(f.name, T.StringType(), True))
        else:
            fields.append(f)
    fields.append(T.StructField(CORRUPT_COL, T.StringType(), True))
    return T.StructType(fields)


def decode_json(
    df: DataFrame,
    value_col: str = "value",
    schema: T.StructType | None = None,
    sample_size: int = DEFAULT_SAMPLE,
    keep_cols: list[str] | None = None,
    conflicts_out: dict | None = None,
    sample: list | None = None,
) -> DataFrame:
    """Decode a column of schemaless JSON into typed columns.

    Output: one column per schema field (+ any ``keep_cols`` passed
    through, e.g. kafka metadata) and ``_corrupt`` holding the raw value
    for rows that failed to parse (DLQ candidates). ``conflicts_out``
    (a dict) receives per-field conflict info from inference, for DLQ
    error enrichment; ``sample`` as in :func:`infer_batch_schema`."""
    if schema is None:
        schema, _ = infer_batch_schema(
            df, value_col, sample_size, conflicts_out, sample
        )
    parse_schema = _parse_schema(schema)
    parsed = df.withColumn(
        "__rec",
        F.from_json(
            F.col(value_col).cast("string"),
            parse_schema,
            {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": CORRUPT_COL},
        ),
    )
    out_cols: list[Column] = []
    rec = F.col("__rec")
    for f in schema.fields:
        # getField resolves the name LITERALLY — schemaless JSON keys may
        # contain dots/colons that a "__rec.name" path string would
        # misparse as nested traversal (B11 identifier handling)
        c = rec.getField(f.name)
        if isinstance(f.dataType, T.TimestampType):
            c = parse_iso_timestamp(c)
        out_cols.append(c.alias(f.name))
    # PERMISSIVE from_json accepts an empty/whitespace-only payload as an
    # all-null row with no corrupt marker; the reference's JsonConverter
    # rejects it → DLQ. NULL payloads stay untouched (Kafka tombstones
    # are not corrupt records).
    raw = F.col(value_col).cast("string")
    out_cols.append(
        F.coalesce(
            rec.getField(CORRUPT_COL),
            F.when(F.trim(raw) == "", F.coalesce(raw, F.lit(""))),
        ).alias(CORRUPT_COL)
    )
    for k in keep_cols or []:
        out_cols.insert(0, F.col(k))
    return parsed.select(*out_cols)


def split_dlq(
    decoded: DataFrame,
    value_cols: list[str] | None = None,
    error_note: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Good rows (corrupt col dropped) vs DLQ rows (raw + error note).
    ``error_note`` overrides the generic note — callers pass the
    enriched schema-conflict description (field, types, sample values)."""
    good = decoded.filter(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)
    bad = (
        decoded.filter(F.col(CORRUPT_COL).isNotNull())
        .select(
            F.col(CORRUPT_COL).alias("raw_value"),
            F.lit(error_note or "json_parse_or_schema_conflict").alias("error"),
            F.current_timestamp().alias("_dlq_at"),
        )
    )
    return good, bad


def conflict_note(conflicts: dict) -> str | None:
    """Human-readable summary of inference conflicts for the DLQ error
    column: field name, the conflicting types, and sample values."""
    if not conflicts:
        return None
    parts = [
        f"field '{f}' types={c['types']} samples={[repr(s)[:80] for s in c['samples']]}"
        for f, c in conflicts.items()
    ]
    return "schema_conflict: " + "; ".join(parts)
