"""Python DataSource (Spark 4 API) for MongoDB extended-JSON dumps.

``mongoexport`` / ``mongodump --jsonArray``-style line-delimited
extended JSON is the standard OFFLINE interchange for Mongo
collections — the file-based stand-in for the live connector path
(``sources/mongo.py``), and the same decode surface the reference
implements per-row over BSON (``/root/reference/mongo2pq/schema.py:110-164``:
ObjectId→str, datetime→timestamp, numeric casts).

This source registers as ``spark.read.format("mongodump")`` and
unwraps the extended-JSON type wrappers:

- ``{"$oid": "..."}``        → string (24-hex ObjectId)
- ``{"$date": "ISO-8601"}``  → timestamp (also ``{"$date": {"$numberLong": ms}}``)
- ``{"$numberLong"/"$numberInt"/"$numberDouble": "n"}`` → numeric

Scale shape: one input partition per dump file, and files larger than
``splitsize`` (default 128 MB) further split into BYTE-RANGE
partitions via the newline-delimited split protocol (``partitions()``)
— a sharded export parallelizes across executors AND a single huge
mongoexport is no longer a 1-task read; rows stream through
``json.loads`` line-at-a-time (bounded memory). This is deliberately
the Python slow path — the API-surface demonstration for sources Spark
has no native reader for; live collections use the JVM connector.
"""

from __future__ import annotations

import json
import os
import uuid
from datetime import datetime, timezone
from typing import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceWriter,
    InputPartition,
    WriterCommitMessage,
)
from pyspark.sql.types import StringType


def unwrap_extended_json(value):
    """Recursively unwrap Mongo extended-JSON type wrappers."""
    if isinstance(value, dict):
        if "$oid" in value:
            return str(value["$oid"])
        if "$date" in value:
            inner = value["$date"]
            if isinstance(inner, dict) and "$numberLong" in inner:
                ms = int(inner["$numberLong"])
                return datetime.fromtimestamp(ms / 1000.0, tz=timezone.utc).replace(
                    tzinfo=None
                )
            return _parse_iso(str(inner))
        if "$numberLong" in value:
            return int(value["$numberLong"])
        if "$numberInt" in value:
            return int(value["$numberInt"])
        if "$numberDouble" in value:
            return float(value["$numberDouble"])
        return {k: unwrap_extended_json(v) for k, v in value.items()}
    if isinstance(value, list):
        return [unwrap_extended_json(v) for v in value]
    return value


def _parse_iso(s: str) -> datetime:
    if s.endswith("Z"):
        s = s[:-1]
    return datetime.fromisoformat(s)


#: everything a corrupt wrapper value can raise while unwrapping:
#: int("x")/float("x") → ValueError, fromisoformat(garbage) →
#: ValueError, fromtimestamp overflow → OverflowError/OSError,
#: a non-string inside a wrapper → TypeError. Permissive mode must
#: skip ALL of these — "one corrupt export line must not fail the
#: whole job" covers corrupt wrappers, not just corrupt JSON.
_DECODE_ERRORS = (ValueError, TypeError, OverflowError, OSError)


def flatten_doc(doc: dict, sep: str = ".") -> dict:
    """Flatten nested subdocuments into dotted-path keys, recursively
    (``{"a": {"b": {"c": 1}}}`` → ``{"a.b.c": 1}``). Applied AFTER
    extended-JSON unwrapping, so type wrappers are already scalars and
    only genuine subdocuments flatten. Lists are left in place (no
    positional flattening) — under ``on_nested="flatten"`` a
    list-valued field then falls to the skip rule. A dotted key
    colliding with a flattened path resolves last-wins (insertion
    order of the source document).

    An EMPTY subdocument contributes no keys: ``{"a": {}}`` → ``{}``
    — the field disappears from the flattened document entirely (there
    is no scalar to carry, and a ``NULL`` placeholder column would
    invent a path the data never contains). Unlike the driver-side
    skip rule this emits no warning: flatten runs per-line inside
    executors, where a per-row warning would be noise at scale. The
    behavior is pinned by ``tests/test_mongodump.py``."""
    out: dict = {}
    for k, v in doc.items():
        if isinstance(v, dict):
            for sk, sv in flatten_doc(v, sep).items():
                out[f"{k}{sep}{sk}"] = sv
        else:
            out[k] = v
    return out


def _decode_line(line: str, flatten: bool) -> dict:
    """json.loads + wrapper unwrap (+ optional subdoc flattening) —
    the full per-line decode, inside ONE error boundary so permissive
    mode skips corrupt wrappers exactly like corrupt JSON."""
    raw = json.loads(line)
    if not isinstance(raw, dict):
        raise ValueError("line is not a JSON object")
    doc = {k: unwrap_extended_json(v) for k, v in raw.items()}
    return flatten_doc(doc) if flatten else doc


class _DumpFilePartition(InputPartition):
    """A byte range [start, end) of one dump file. ``start == 0``
    owns the file head; a later split owns every line whose FIRST
    byte falls inside its range (the standard newline-delimited
    split protocol: seek, discard the partial line unless at 0,
    stop after passing ``end``)."""

    def __init__(self, path: str, start: int = 0, end: int | None = None):
        self.path = path
        self.start = start
        self.end = end


def _dump_files(path: str) -> list[str]:
    """The files of a dump: ``path`` itself, or the sorted entries of
    the directory ``path`` that are not hidden (``.``) or markers
    (``_SUCCESS``, ``_tmp-*``). The driver-side sample and the
    distributed read both list through here, so they see one dump."""
    if not os.path.isdir(path):
        return [path]
    return sorted(
        os.path.join(path, f)
        for f in os.listdir(path)
        if not f.startswith(("_", "."))
    )


class MongoDumpReader(DataSourceReader):
    def __init__(self, schema, options):
        self._path = options.get("path")
        # failfast (default): a malformed line kills the read WITH
        # file + byte-offset context; permissive: skip malformed lines
        # — at 100 TB one corrupt export line must not fail the job
        self._mode = options.get("mode", "failfast").lower()
        if self._mode not in ("failfast", "permissive"):
            raise ValueError(
                f"mongodump mode must be failfast or permissive, got {self._mode!r}"
            )
        if not self._path:
            raise ValueError("mongodump source requires a 'path' option")
        # dotted-path subdocument flattening (on_nested="flatten")
        self._flatten = options.get("flatten", "false").lower() == "true"
        # (name, read as string): a string column takes any scalar
        # as its text, so a field mixing representations still reads
        self._columns = [
            (f.name, isinstance(f.dataType, StringType)) for f in schema.fields
        ]
        # intra-file parallelism: files larger than splitsize bytes are
        # read as multiple byte-range partitions (the newline-delimited
        # split protocol Spark's own text source uses) — without it a
        # single huge mongoexport is a ONE-task read no matter how many
        # executors the cluster has. 0 disables splitting.
        self._split_size = int(options.get("splitsize", 128 * 1024 * 1024))

    def partitions(self):
        parts: list[_DumpFilePartition] = []
        for p in _dump_files(self._path):
            size = os.path.getsize(p)
            if self._split_size <= 0 or size <= self._split_size:
                parts.append(_DumpFilePartition(p, 0, None))
                continue
            start = 0
            while start < size:
                end = min(start + self._split_size, size)
                parts.append(_DumpFilePartition(p, start, end))
                start = end
        return parts

    def read(self, partition: _DumpFilePartition) -> Iterator[tuple]:
        # binary mode: byte offsets must agree with os.path.getsize —
        # text mode would count decoded characters
        with open(partition.path, "rb") as fh:
            if partition.start > 0:
                # a line straddling the boundary belongs to the
                # PREVIOUS split (which reads past its end to finish
                # it). Seek to start-1, not start: if the byte at
                # start-1 is the previous line's '\n', readline()
                # consumes exactly that newline and a line beginning
                # AT the boundary is correctly kept; seeking to start
                # would discard it (it starts inside this range).
                fh.seek(partition.start - 1)
                fh.readline()
            offset = fh.tell()
            for raw_line in fh:
                line_start = offset
                offset += len(raw_line)
                # a split owns lines that START inside [start, end)
                if partition.end is not None and line_start >= partition.end:
                    break
                line = raw_line.decode("utf-8").strip()
                if not line:
                    continue
                try:
                    doc = _decode_line(line, self._flatten)
                except _DECODE_ERRORS as exc:
                    if self._mode == "permissive":
                        continue
                    raise ValueError(
                        f"malformed extended-JSON at {partition.path}:"
                        f"byte {line_start}: {exc}"
                    ) from exc
                yield tuple(
                    _field_value(doc.get(name), as_str)
                    for name, as_str in self._columns
                )


def _field_value(value, as_str: bool):
    if not as_str or value is None or isinstance(value, str):
        return value
    return value.isoformat() if isinstance(value, datetime) else str(value)


class MongoDumpDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "mongodump"

    def schema(self) -> str:
        # a user-supplied .schema(ddl) overrides this default; the
        # default covers the bare _id case for quick inspection
        return "_id STRING"

    def reader(self, schema) -> MongoDumpReader:
        return MongoDumpReader(schema, self.options)

    def writer(self, schema, overwrite: bool) -> "MongoDumpWriter":
        return MongoDumpWriter(schema, self.options, overwrite)


def register_mongodump_source(spark) -> None:
    """Idempotently register the mongodump Python data source."""
    from mongo2pq_spark.sources.registry import register_python_source

    register_python_source(spark, MongoDumpDataSource)


def read_mongodump(
    spark,
    path: str,
    sample_lines: int = 2000,
    on_nested: str = "skip",
    mode: str = "failfast",
    split_size: int = 128 * 1024 * 1024,
):
    """Read an extended-JSON dump as a typed DataFrame, with the
    engine's OWN schema inference: one sample, one inference, one cast.

    1. **One sample.** Peek up to ``sample_lines`` unwrapped documents
       driver-side: the dump analog of the reference's ``$sample``
       phase (``schema.py:219-239``), a bounded read, not a full pass.
    2. **One inference** over those rows gives two schemas:

       - the *typed* fields, by the reference's rules
         (``infer_fields_from_rows``). A field whose sampled values are
         raw epoch numbers, possibly mixed with ``$date`` wrappers, is
         ``timestamp[s]``: both mean "point in time", and the unify
         lattice alone would degrade the mix to string.
       - the *read* schema, by each field's JSON-level source type:
         bool → boolean, int → long, float (or int and float) →
         double, ``$date`` → timestamp, anything else or a mix →
         string. For a string column the reader delivers every scalar
         as text (datetimes in ISO form), so no sampled value can fail
         the scan.
    3. **One cast.** ``Schema.apply`` (``schema/model.py``) turns the
       read types into the typed fields in one Catalyst projection:
       quoted scalars ("yes", "12", ISO strings) parse, and raw epoch
       numbers become timestamps, as the reference's
       ``schema.py:110-164`` casts do per row.

    ``read_mongodump_fields`` returns the typed field map next to the
    frame; the CLI dumps that map as the collection's schema.

    ``on_nested="skip"`` (default) drops subdocument/array fields from
    the schema with a warning so real mongoexports load;
    ``on_nested="raise"`` is reference parity (schema.py:331-335 fails
    on any nested value); ``on_nested="flatten"`` flattens
    subdocuments into dotted-path columns (``meta.kind``) — the mode a
    real mongoexport user usually wants — with list-valued fields
    still falling to the skip rule (no positional flattening). A field
    holding an EMPTY subdocument (``{"a": {}}``) flattens to nothing
    and is absent from the inferred schema — see ``flatten_doc``.

    ``mode``: ``failfast`` (default) dies on the first malformed line
    — corrupt JSON or a corrupt type wrapper like
    ``{"$numberLong": "x"}`` — with file:line context; ``permissive``
    skips such lines in both the driver-side sample and the
    distributed read: at scale one corrupt export line must not fail
    the whole job. (The driver-side sample reports file:line; the
    distributed read reports file:byte-offset — splits don't know
    their global line number.)

    ``split_size``: files larger than this many bytes are read as
    multiple byte-range partitions (newline-delimited split protocol),
    so ONE huge mongoexport still parallelizes across executors —
    without it the file-per-partition layout makes it a 1-task read.
    0 disables splitting.
    """
    return read_mongodump_fields(
        spark, path, sample_lines, on_nested, mode, split_size
    )[0]


def read_mongodump_fields(spark, path, sample_lines, on_nested, mode, split_size):
    """``read_mongodump``'s typed frame and the field map (name → Arrow
    type) its inference produced. Types such as ``timestamp[s]`` and
    ``date64`` do not survive a round trip through the frame's Spark
    types, so the map is handed over rather than re-derived."""
    import pyarrow as pa
    from pyspark.sql import types as T

    from mongo2pq_spark.schema.inference import (
        infer_fields_from_rows,
        is_epoch_timestamp,
    )
    from mongo2pq_spark.schema.model import Schema

    if on_nested not in ("raise", "skip", "flatten"):
        raise ValueError(
            f"on_nested must be 'raise', 'skip' or 'flatten', got {on_nested!r}"
        )
    flatten = on_nested == "flatten"
    rows = []
    for fp in _dump_files(path):
        if len(rows) >= sample_lines:
            break
        with open(fp, encoding="utf-8") as fh:
            for lineno, line in enumerate(fh, start=1):
                line = line.strip()
                if not line:
                    continue
                try:
                    rows.append(_decode_line(line, flatten))
                except _DECODE_ERRORS as exc:
                    if mode == "permissive":
                        continue
                    raise ValueError(
                        f"malformed extended-JSON at {fp}:{lineno}: {exc}"
                    ) from exc
                if len(rows) >= sample_lines:
                    break
    if not rows:
        raise ValueError(f"mongodump at {path!r} contains no documents")
    # flatten already removed subdocs; remaining nested values (lists,
    # or subdocs under skip/raise) go through the requested rule
    fields = infer_fields_from_rows(
        rows, on_nested="skip" if flatten else on_nested
    )

    def _is_raw_epoch(v) -> bool:
        return (
            isinstance(v, (int, float))
            and not isinstance(v, bool)
            and is_epoch_timestamp(v)
        )

    read_types = {
        frozenset({bool}): T.BooleanType(),
        frozenset({int}): T.LongType(),
        frozenset({float}): T.DoubleType(),
        frozenset({int, float}): T.DoubleType(),
        frozenset({datetime}): T.TimestampType(),
    }
    read_schema = T.StructType()
    for name in list(fields):
        vals = [r.get(name) for r in rows if r.get(name) is not None]
        # decided from ALL sampled values, not the first: raw epoch
        # numbers mixed with $date wrappers are one point-in-time field
        if any(_is_raw_epoch(v) for v in vals) and all(
            _is_raw_epoch(v) or isinstance(v, datetime) for v in vals
        ):
            fields[name] = pa.timestamp("s")
        kinds = frozenset(map(type, vals))
        read_schema.add(name, read_types.get(kinds, T.StringType()))
    register_mongodump_source(spark)
    scan = (
        spark.read.format("mongodump")
        .schema(read_schema)
        .option("path", path)
        .option("mode", mode)
        .option("flatten", "true" if flatten else "false")
        .option("splitsize", str(split_size))
        .load()
    )
    return Schema(os.path.basename(path), fields).apply(scan), fields


# -- writer: the mongoexport side of the interchange ------------------------

_OID_HEX = frozenset("0123456789abcdef")


def wrap_extended_json(value, field: str | None = None):
    """Inverse of ``unwrap_extended_json``: Python/Row values →
    extended-JSON. ``datetime`` → ``{"$date": ISO-8601}``; ints beyond
    the double-safe range → ``{"$numberLong": "n"}`` (smaller ints are
    plain JSON numbers, which the reader accepts as-is); non-finite
    floats → ``{"$numberDouble": "..."}``; a 24-hex string in the
    ``_id`` field → ``{"$oid": ...}`` (the mongoexport convention);
    nested dicts/lists recurse. Binary is a loud TypeError — extended
    JSON would need base64 ``$binary`` support on BOTH sides, and a
    silent str() would corrupt payloads."""
    import math
    from datetime import date as _date
    from decimal import Decimal as _Decimal

    from pyspark.sql import Row as _Row

    if isinstance(value, _Row):
        # Row subclasses tuple — without this branch a struct column
        # would serialize as a field-nameless JSON array and never
        # round-trip back into a subdocument
        return {
            k: wrap_extended_json(v, k)
            for k, v in value.asDict().items()
        }
    if isinstance(value, datetime):
        # canonical extended JSON is millisecond $date; sub-ms values
        # widen to microseconds so the round trip is LOSSLESS (the
        # reader's fromisoformat accepts both). $date is UTC by
        # definition: tz-aware values are converted to UTC and the
        # offset dropped (isoformat()+"Z" on an aware value would emit
        # the invalid "…+00:00Z"); NAIVE datetimes are stamped as UTC
        # as-is — the session is pinned to UTC (session.py), so naive
        # session-local IS UTC here.
        if value.tzinfo is not None:
            value = value.astimezone(timezone.utc).replace(tzinfo=None)
        spec = "microseconds" if value.microsecond % 1000 else "milliseconds"
        return {"$date": value.isoformat(timespec=spec) + "Z"}
    if isinstance(value, bool):
        return value
    if isinstance(value, int):
        if abs(value) > (1 << 53):
            return {"$numberLong": str(value)}
        return value
    if isinstance(value, float):
        if not math.isfinite(value):
            return {"$numberDouble": str(value)}
        return value
    if isinstance(value, str):
        if (
            field == "_id"
            and len(value) == 24
            and set(value) <= _OID_HEX
        ):
            return {"$oid": value}
        return value
    if isinstance(value, dict):
        return {k: wrap_extended_json(v, k) for k, v in value.items()}
    if isinstance(value, (list, tuple)):
        return [wrap_extended_json(v) for v in value]
    if isinstance(value, (bytes, bytearray)):
        raise TypeError(
            "binary columns cannot round-trip through extended JSON "
            "(no $binary support); drop or encode them first"
        )
    if isinstance(value, _date):  # plain date (datetime handled above)
        raise TypeError(
            "DateType columns cannot round-trip through extended JSON "
            "($date implies a timestamp); cast to timestamp or string "
            "first"
        )
    if isinstance(value, _Decimal):
        raise TypeError(
            "DecimalType columns cannot round-trip through extended "
            "JSON losslessly; cast to double or string first"
        )
    return value


class _DumpCommit(WriterCommitMessage):
    """Commit message carrying the task's part-file name, so commit()
    can distinguish this write's files from stale leftovers."""

    def __init__(self, filename: str):
        self.filename = filename


class MongoDumpWriter(DataSourceWriter):
    """Per-partition writer: each task streams its rows as one
    ``part-<pid>[-<writeid>].jsonl`` of extended JSON, written to a
    temp name and atomically renamed — a re-executed task overwrites
    its own file, so speculative/retried tasks are idempotent.
    ``commit`` drops a ``_SUCCESS`` marker after every task reported
    in. Write modes honor the DataSource ``overwrite`` flag:
    overwrite prunes every part file this write didn't produce (a
    previous WIDER dataset's leftovers would otherwise be read back
    mixed in); append tags this write's parts with a driver-generated
    write id — unique names per write, so pre-existing parts survive
    and commit prunes nothing."""

    def __init__(self, schema, options, overwrite: bool):
        self.schema = schema
        self.path = options.get("path")
        if not self.path:
            raise ValueError("mongodump write requires a path")
        self.overwrite = overwrite
        # generated ONCE on the driver; the pickled writer ships it to
        # every task, so retries of the same write reuse the same id
        # (idempotent) while distinct appends never collide
        self.write_id = None if overwrite else uuid.uuid4().hex[:12]

    def write(self, rows):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        os.makedirs(self.path, exist_ok=True)
        suffix = "" if self.write_id is None else f"-{self.write_id}"
        fname = f"part-{pid:05d}{suffix}.jsonl"
        tmp = os.path.join(self.path, f"_tmp-{fname}")
        names = [f.name for f in self.schema.fields]
        with open(tmp, "w") as fh:
            for row in rows:
                doc = {
                    name: wrap_extended_json(value, name)
                    for name, value in zip(names, row)
                    if value is not None
                }
                fh.write(json.dumps(doc, separators=(",", ":")) + "\n")
        os.replace(tmp, os.path.join(self.path, fname))
        return _DumpCommit(fname)

    def commit(self, messages):
        # overwrite: drop part files no task of THIS write produced —
        # a previous larger dataset's leftover parts would otherwise
        # be read back mixed into the new one (the writer owns
        # overwrite semantics in the Python DataSource contract).
        # append: prune NOTHING — pre-existing parts are the data
        # being appended to; this write's parts carry a unique
        # write id so the two sets can't collide.
        if self.overwrite:
            expected = {m.filename for m in messages}
            for f in os.listdir(self.path):
                if f.startswith("part-") and f not in expected:
                    os.remove(os.path.join(self.path, f))
        with open(os.path.join(self.path, "_SUCCESS"), "w"):
            pass

    def abort(self, messages):
        # partial part- files may remain; the _SUCCESS marker is the
        # completeness signal, matching the Hadoop committer contract
        pass
