"""Sampling-based schema inference.

Rule-for-rule parity with the reference's inference
(/root/reference/mongo2pq/schema.py:306-389), reimplemented over plain
Python rows with two deliberate changes:

1. ``now`` is injectable into the epoch heuristic (the reference anchors
   the ±5-year window at wall-clock time — schema.py:327 — which makes
   inferred schemas drift across days; tests pin it).
2. No BSON dependency: ``bson.Int64`` and ``bson.ObjectId`` values are
   recognized structurally (type-name check), so the rules match the
   reference without importing bson. The reference maps Int64 straight
   to int64 BEFORE the epoch heuristic (schema.py:345-346); the
   structural check reproduces that — an explicit Int64 never narrows
   to int32 and never infers as a timestamp.

Distribution note (100 TB): inference runs over a bounded sample
(default 20 000 rows), so the lattice fold is O(sample) driver-side
work. ``infer_schema_from_df`` pushes the per-partition type inference
into executors via ``mapInArrow`` and only ships tiny
(field, type-alias) partial schemas to the driver for the final unify —
no sample rows ever cross to the driver.
"""

from __future__ import annotations

import math
from datetime import datetime
from typing import Any, Iterable, Iterator, Mapping

import pyarrow as pa

from mongo2pq_spark.exceptions import NestedValueError
from mongo2pq_spark.schema.unify import unify_types

#: bounds of the embedded-able signed integer widths
_INT32_MIN, _INT32_MAX = -(2**31), 2**31 - 1
_INT64_MIN, _INT64_MAX = -(2**63), 2**63 - 1
_FLOAT32_MAX = 3.4028234663852886e38

PythonPrimitive = bool | int | float | str | bytes | datetime

_SECONDS_PER_YEAR = 31_536_000.0


def cast_from_string(value: str) -> PythonPrimitive:
    """Speculatively parse a string: bool words, int, float, ISO
    datetime — first success wins, else the string itself."""
    lowered = value.lower()
    if lowered in ("true", "yes"):
        return True
    if lowered in ("false", "no"):
        return False
    # a letter can start only "nan"/"inf"/"infinity" among the three
    # parsers' inputs: skip three raised ValueErrors per plain word
    if value[:1].isalpha() and value[0] not in "nNiI":
        return value
    for parser in (int, float, datetime.fromisoformat):
        try:
            return parser(value)  # type: ignore[operator]
        except ValueError:
            continue
    return value


def is_epoch_timestamp(
    value: int | float, years: int = 5, now: datetime | None = None
) -> bool:
    """True if ``value`` looks like epoch seconds within ±``years`` of
    ``now`` (wall clock when not injected)."""
    anchor = (now or datetime.now()).timestamp()
    span = years * _SECONDS_PER_YEAR
    return anchor - span <= value <= anchor + span


def _looks_like_objectid(value: Any) -> bool:
    return type(value).__name__ == "ObjectId"


def _looks_like_bson_int64(value: Any) -> bool:
    """bson.Int64 detected structurally (int subclass named Int64) —
    no bson import needed, parity with reference schema.py:345-346."""
    return type(value).__name__ == "Int64"


def infer_type(value: Any, name: str, now: datetime | None = None) -> pa.DataType:
    """Single-value type inference. Full ruleset in SURVEY.md §1.2."""
    if isinstance(value, (dict, list)):
        raise NestedValueError(name)

    if isinstance(value, str):
        value = cast_from_string(value)
        if isinstance(value, str):
            return pa.string()

    if _looks_like_objectid(value):
        return pa.string()

    if isinstance(value, bool):
        return pa.bool_()

    if isinstance(value, datetime):
        if (value.hour, value.minute, value.second, value.microsecond) == (0, 0, 0, 0):
            return pa.date32()
        return pa.date64()

    # Explicit bson.Int64 maps straight to int64 — BEFORE the epoch
    # heuristic, like the reference: the sender already declared the
    # width, so neither timestamp inference nor int32 narrowing applies.
    if _looks_like_bson_int64(value):
        return pa.int64()

    if isinstance(value, (int, float)) and is_epoch_timestamp(value, now=now):
        return pa.timestamp("s")

    if isinstance(value, int):
        if _INT32_MIN <= value <= _INT32_MAX:
            return pa.int32()
        if _INT64_MIN <= value <= _INT64_MAX:
            return pa.int64()
        return pa.string()  # integer too wide for any storage int

    if isinstance(value, float):
        if math.isinf(value) or math.isnan(value) or abs(value) <= _FLOAT32_MAX:
            return pa.float32()
        return pa.float64()

    if isinstance(value, bytes):
        return pa.binary()

    return pa.string()


def infer_fields_from_rows(
    rows: Iterable[Mapping[str, Any]],
    now: datetime | None = None,
    on_nested: str = "raise",
) -> dict[str, pa.DataType]:
    """Fold the single-value rule over a batch of rows, unifying
    conflicts through the lattice (``FieldInference``). Missing keys
    are simply absent (the reference drops schema-absent keys at
    export; SURVEY O-6)."""
    inference = FieldInference(now, on_nested)
    for row in rows:
        for field_name, value in row.items():
            inference.add(field_name, value)
    return inference.fields


class FieldInference:
    """The single-value rule folded over values one at a time, so a
    caller that walks its own documents infers in the same loop.

    ``now`` anchors the epoch heuristic once for the whole fold (the
    wall clock at construction when not injected).

    ``on_nested`` controls the flat-schema boundary (the reference
    fails outright on any dict/list value, schema.py:331-335):
    ``"raise"`` is reference parity; ``"skip"`` drops a field that was
    EVER observed nested from the inferred schema entirely — it then
    falls under the schema-absent-keys-dropped-at-export rule, so a
    real mongoexport with subdocuments still loads (documented
    divergence, logged once per field)."""

    def __init__(self, now: datetime | None = None, on_nested: str = "raise"):
        if on_nested not in ("raise", "skip"):
            raise ValueError(
                f"on_nested must be 'raise' or 'skip', got {on_nested!r}"
            )
        self.now = now or datetime.now()
        self.on_nested = on_nested
        #: field → unified type, in first-seen order
        self.fields: dict[str, pa.DataType] = {}
        self._poisoned: set[str] = set()

    def add(
        self, field_name: str, value: Any, typed: pa.DataType | None = None
    ) -> pa.DataType | None:
        """Fold one value into its field. Returns the value's own
        inferred type (``typed`` when the caller already knows it), or
        None when it carries no type signal or its field is dropped as
        nested."""
        # None and "" carry no type signal: both are suppressed to
        # null at export (falsy-drop, SURVEY O-7), so they must not
        # drag a column to `string` during inference either.
        if value is None or (isinstance(value, str) and value == ""):
            return None
        if field_name in self._poisoned:
            return None
        try:
            inferred = (
                typed if typed is not None
                else infer_type(value, field_name, now=self.now)
            )
        except NestedValueError:
            if self.on_nested == "raise":
                raise
            # a field with ANY nested value can't be delivered under
            # a scalar type (other rows' scalars would coexist with
            # dicts) — drop the whole field, not just this value
            self._poisoned.add(field_name)
            self.fields.pop(field_name, None)
            _warn_nested_skipped(field_name)
            return None
        known = self.fields.get(field_name)
        if known is None:
            self.fields[field_name] = inferred
        elif not known.equals(inferred):
            self.fields[field_name] = unify_types(known, inferred)
        return inferred


def _warn_nested_skipped(field_name: str) -> None:
    import logging

    logging.getLogger(__name__).warning(
        "Field %r holds nested documents; dropped from the inferred "
        "schema (flat schemas only — reference parity is to fail, "
        "on_nested='skip' drops instead)",
        field_name,
    )


def infer_schema_from_df(
    df,
    samples: int = 20_000,
    now: datetime | None = None,
    seed: int = 42,
) -> dict[str, pa.DataType]:
    """Distributed inference over a DataFrame sample.

    Replaces the reference's server-side ``$sample`` + driver-side
    per-row loop (schema.py:219-239): Spark samples without collecting
    the rows, each partition infers a partial (field → alias) schema via
    ``mapInArrow``, and only those tiny partials reach the driver for
    the lattice fold. Scales to any input size.
    """
    from mongo2pq_spark.deploy import ensure_shipped

    ensure_shipped(df.sparkSession)

    total = df.count()
    if total == 0:
        return {}
    if total > samples:
        # Oversample slightly, then cap: .sample is a narrow op (no shuffle).
        fraction = min(1.0, samples * 1.2 / total)
        sampled = df.sample(fraction=fraction, seed=seed).limit(samples)
    else:
        sampled = df

    fixed_now = now or datetime.now()

    def infer_partition(batches: Iterator) -> Iterator:
        # mapInArrow, NOT mapInPandas: pandas converts a nullable int
        # column to float64 (1 → 1.0) before inference would see it,
        # silently turning optional int fields into float32. Arrow
        # batches keep exact types; to_pylist yields ints with None.
        partial: dict[str, pa.DataType] = {}
        for batch in batches:
            columns = {
                name: batch.column(i).to_pylist()
                for i, name in enumerate(batch.schema.names)
            }
            rows = [
                {name: values[r] for name, values in columns.items()}
                for r in range(batch.num_rows)
            ]
            for name, dtype in infer_fields_from_rows(rows, now=fixed_now).items():
                known = partial.get(name)
                partial[name] = (
                    dtype if known is None or known.equals(dtype) else unify_types(known, dtype)
                )
        yield pa.RecordBatch.from_pydict(
            {"field": list(partial), "alias": [str(t) for t in partial.values()]}
        )

    partials = sampled.mapInArrow(infer_partition, "field string, alias string")
    merged: dict[str, pa.DataType] = {}
    ordered_names = list(df.columns)
    for row in partials.collect():
        dtype = pa.type_for_alias(row["alias"])
        known = merged.get(row["field"])
        merged[row["field"]] = (
            dtype if known is None or known.equals(dtype) else unify_types(known, dtype)
        )
    # Restore source column order (mapInArrow partials are unordered).
    return {name: merged[name] for name in ordered_names if name in merged}


