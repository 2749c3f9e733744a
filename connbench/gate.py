"""Correctness gate: compare what the program wrote with a reference
model built from the generator's own records.

- keyed tables: last write wins by offset, per key;
- keyless tables: the exact multiset of rows, evolved columns null-filled;
- DLQ tables: the row count equals the injected corrupt and conflicting rows;
- merge-on-read: the final read equals the model, and no point lookup
  returns two rows for one key.

Every function returns a list of human-readable mismatch strings; an
empty list means the check passed. Inputs are plain Python rows
(timestamps as epoch microseconds), so the gate runs without Spark.
"""

from __future__ import annotations

from collections import Counter

from .gen import ts_micros

MAX_REPORTED = 5


def canonical(row: dict, columns: list[str], timestamp_columns=()) -> tuple:
    """Model row → comparable tuple over ``columns`` (missing → None)."""
    out = []
    for c in columns:
        v = row.get(c)
        if v is not None and c in timestamp_columns:
            v = ts_micros(v)
        out.append(v)
    return tuple(out)


def check_keyed(
    expected: dict, actual: list[tuple], columns: list[str], timestamp_columns=()
) -> list[str]:
    """``expected``: pk → model row (pk is ``columns[0]``); ``actual``:
    table rows as tuples over ``columns``."""
    problems: list[str] = []
    seen: dict = {}
    for row in actual:
        if row[0] in seen:
            problems.append(f"duplicate key {row[0]!r}")
        seen[row[0]] = row
    for k, model_row in expected.items():
        want = canonical(model_row, columns, timestamp_columns)
        got = seen.pop(k, None)
        if got != want:
            problems.append(f"key {k!r}: expected {want!r}, got {got!r}")
        if len(problems) >= MAX_REPORTED:
            break
    for k in list(seen)[: max(0, MAX_REPORTED - len(problems))]:
        problems.append(f"unexpected key {k!r}")
    return problems


def check_multiset(
    expected: list[dict], actual: list[tuple], columns: list[str], timestamp_columns=()
) -> list[str]:
    want = Counter(canonical(r, columns, timestamp_columns) for r in expected)
    got = Counter(actual)
    if want == got:
        return []
    missing = want - got
    extra = got - want
    problems = [
        f"rows: expected {sum(want.values())}, got {sum(got.values())}; "
        f"{sum(missing.values())} missing, {sum(extra.values())} unexpected"
    ]
    problems += [f"missing {r!r}" for r in list(missing)[:2]]
    problems += [f"unexpected {r!r}" for r in list(extra)[:2]]
    return problems


def check_count(what: str, expected: int, actual: int) -> list[str]:
    return [] if expected == actual else [f"{what}: expected {expected}, got {actual}"]


def check_frame(expected, actual) -> list[str]:
    """pandas frames with the same columns, both sorted by the key."""
    if list(expected.columns) != list(actual.columns):
        return [f"columns: expected {list(expected.columns)}, got {list(actual.columns)}"]
    if len(expected) != len(actual):
        return [f"rows: expected {len(expected)}, got {len(actual)}"]
    problems = []
    for c in expected.columns:
        a = expected[c].to_numpy()
        b = actual[c].to_numpy()
        bad = (a != b).nonzero()[0]
        if len(bad):
            i = bad[0]
            problems.append(
                f"column {c}: {len(bad)} rows differ, first at "
                f"id={expected['id'].iat[i]}: expected {a[i]!r}, got {b[i]!r}"
            )
    return problems[:MAX_REPORTED]


def mor_model(inputs):
    """pandas frame of the MOR table the inputs should produce: the
    preload with every upsert applied (last write wins), sorted by id."""
    import pandas as pd

    cols = inputs.columns["wide"]
    base = pd.DataFrame({c: inputs.preload[c] for c in cols}).set_index("id", drop=False)
    upd = pd.DataFrame([inputs.expected["wide"][k] for k in inputs.expected["wide"]], columns=cols)
    upd = upd.astype({c: base[c].dtype for c in cols}).set_index("id", drop=False)
    merged = pd.concat([base[~base.index.isin(upd.index)], upd])
    return merged.sort_index().reset_index(drop=True)[cols]


def check_point_lookup(key, rows: list) -> list[str]:
    if len(rows) > 1:
        return [f"point lookup id={key!r} returned {len(rows)} rows"]
    if not rows:
        return [f"point lookup id={key!r} returned no row"]
    return []
