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


class MongoDumpReader(DataSourceReader):
    def __init__(self, schema, options):
        self._fields = [f.name for f in schema.fields]
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
        # fields read as DOUBLE epoch seconds (the ±5-year heuristic):
        # a document carrying a $date wrapper for such a field (mixed
        # raw-number / wrapper representation) unwraps to a datetime —
        # the reader converts it so one consistent type reaches Spark
        epoch = options.get("epochfields", "")
        self._epoch_fields = frozenset(f for f in epoch.split(",") if f)
        # intra-file parallelism: files larger than splitsize bytes are
        # read as multiple byte-range partitions (the newline-delimited
        # split protocol Spark's own text source uses) — without it a
        # single huge mongoexport is a ONE-task read no matter how many
        # executors the cluster has. 0 disables splitting.
        self._split_size = int(options.get("splitsize", 128 * 1024 * 1024))

    def partitions(self):
        if os.path.isdir(self._path):
            files = sorted(
                os.path.join(self._path, f)
                for f in os.listdir(self._path)
                if not f.startswith(("_", "."))
            )
        else:
            files = [self._path]
        parts: list[_DumpFilePartition] = []
        for p in files:
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
                    self._field_value(doc, name) for name in self._fields
                )

    def _field_value(self, doc: dict, name: str):
        value = doc.get(name)
        if name in self._epoch_fields and isinstance(value, datetime):
            # unwrap produces naive-UTC datetimes; deliver epoch
            # seconds (float keeps sub-second fidelity) for fields the
            # heuristic typed from raw numbers
            return value.replace(tzinfo=timezone.utc).timestamp()
        return value


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
    """Read an extended-JSON dump with the engine's OWN schema
    inference: peek up to ``sample_lines`` unwrapped documents
    driver-side (the dump analog of the reference's ``$sample`` phase,
    /root/reference/mongo2pq/schema.py:219-239 — a bounded read, not a
    full pass), fold them through the inference lattice, then read the
    whole dump distributed through the ``mongodump`` source under the
    inferred schema.

    Epoch delivery: a field the heuristic types ``timestamp[s]`` from
    RAW NUMBERS (not ``$date`` wrappers — those unwrap to datetimes)
    arrives from the reader as int/float epoch seconds, so its READ
    schema is DOUBLE and the timestamp materializes via
    ``timestamp_seconds`` in the scan-output projection (the reference
    does the same two-step: int/float passthrough into an Arrow
    ``timestamp[s]`` column, schema.py:142-150).

    A field mixing raw-number and ``$date``-wrapper representations is
    typed from ALL sampled values: any raw-number occurrence forces
    the DOUBLE path, and the reader converts wrapper-decoded datetimes
    of that field to epoch seconds so one consistent type reaches the
    scan (first-value-only sampling used to mistype such fields).

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
    import pyarrow as pa
    from pyspark.sql import functions as F
    from pyspark.sql.types import DoubleType, StructField, StructType

    from mongo2pq_spark.schema.inference import infer_fields_from_rows
    from mongo2pq_spark.schema.types import arrow_to_spark

    if os.path.isdir(path):
        files = sorted(
            os.path.join(path, f)
            for f in os.listdir(path)
            if not f.startswith(("_", "."))
        )
    else:
        files = [path]
    if on_nested not in ("raise", "skip", "flatten"):
        raise ValueError(
            f"on_nested must be 'raise', 'skip' or 'flatten', got {on_nested!r}"
        )
    flatten = on_nested == "flatten"
    rows = []
    for fp in files:
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

    # timestamp[s] fields whose sampled values are raw numbers (the
    # epoch heuristic) need the DOUBLE read schema + cast. Decided
    # from ALL sampled values, not the first: a field mixing $date
    # wrappers (→ datetimes) with raw epoch numbers must take the
    # DOUBLE path for every row (the reader converts the datetimes to
    # epoch seconds), or the scan would see two incompatible Python
    # types. The unify lattice alone would degrade such a mixed field
    # (timestamp[s] ⊔ date64 → string), so it is forced back to
    # timestamp[s] here — both representations mean "point in time".
    from mongo2pq_spark.schema.inference import is_epoch_timestamp

    def _is_raw_epoch(v) -> bool:
        return (
            isinstance(v, (int, float))
            and not isinstance(v, bool)
            and is_epoch_timestamp(v)
        )

    numeric_epoch: set[str] = set()
    for name in list(fields):
        vals = [r.get(name) for r in rows if r.get(name) is not None]
        if any(_is_raw_epoch(v) for v in vals) and all(
            _is_raw_epoch(v) or isinstance(v, datetime) for v in vals
        ):
            fields[name] = pa.timestamp("s")
            numeric_epoch.add(name)
    register_mongodump_source(spark)
    raw_fields = [
        StructField(
            name,
            DoubleType() if name in numeric_epoch else arrow_to_spark(dtype),
            True,
        )
        for name, dtype in fields.items()
    ]
    df = (
        spark.read.format("mongodump")
        .schema(StructType(raw_fields))
        .option("path", path)
        .option("mode", mode)
        .option("flatten", "true" if flatten else "false")
        .option("epochfields", ",".join(sorted(numeric_epoch)))
        .option("splitsize", str(split_size))
        .load()
    )
    if numeric_epoch:
        # dotted flattened names need backtick quoting or F.col reads
        # them as struct navigation
        def q(c: str):
            return F.col("`" + c.replace("`", "``") + "`")

        df = df.select(
            *[
                F.timestamp_seconds(q(c)).alias(c)
                if c in numeric_epoch
                else q(c)
                for c in df.columns
            ]
        )
    return df


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
