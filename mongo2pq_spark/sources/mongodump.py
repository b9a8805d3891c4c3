"""MongoDB extended-JSON dumps: ``read_mongodump``, the one reader of
a dump, and the ``mongodump`` Spark-4 Python DataSource that writes
one.

``mongoexport`` / ``mongodump --jsonArray``-style line-delimited
extended JSON is the standard OFFLINE interchange for Mongo
collections — the file-based stand-in for the live connector path
(``sources/mongo.py``), and the same decode surface the reference
implements per-row over BSON (the reference's ``schema.py:110-164``:
ObjectId→str, datetime→timestamp, numeric casts). The extended-JSON
type wrappers unwrap as:

- ``{"$oid": "..."}``        → string (24-hex ObjectId)
- ``{"$date": "ISO-8601"}``  → timestamp (also ``{"$date": {"$numberLong": ms}}``)
- ``{"$numberLong"/"$numberInt"/"$numberDouble": "n"}`` → numeric

``read_mongodump`` (and so ``cli.main --source-format mongodump``)
peeks a sample on the driver in Python, then decodes the whole dump in
the JVM: ``spark.read.text`` splits the files (one partition per file,
files larger than ``split_size`` in byte ranges), one ``from_json``
parses each line, and Catalyst unwraps the wrappers and checks each
line. No Python runs per line.

``df.write.format("mongodump")`` is the export side
(``MongoDumpWriter``): it writes line-delimited extended JSON that
``read_mongodump`` reads back.
"""

from __future__ import annotations

import json
import os
import uuid
from datetime import datetime, timezone
from typing import NamedTuple

from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.datasource import (
    DataSource,
    DataSourceWriter,
    WriterCommitMessage,
)

from mongo2pq_spark.functions.textfns import spark_ident


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


#: the extended-JSON type wrappers, in the order
#: ``unwrap_extended_json`` tests them
_WRAPPERS = ("$oid", "$date", "$numberLong", "$numberInt", "$numberDouble")


def _wrapper_key(value: dict) -> str | None:
    for key in _WRAPPERS:
        if key in value:
            return key
    return None


def _leaves(doc: dict, flatten: bool, prefix: tuple = ()):
    """``(key path, value)`` per field of ``doc``; with ``flatten`` a
    subdocument (a dict that is no type wrapper) yields its own fields
    instead, recursively."""
    for key, value in doc.items():
        path = prefix + (key,)
        if flatten and isinstance(value, dict) and _wrapper_key(value) is None:
            yield from _leaves(value, True, path)
        else:
            yield path, value


def _decode_raw(line: str, flatten: bool) -> tuple[dict, dict | None]:
    """One ``json.loads`` of a line, still wrapped: ``({name: raw JSON
    value}, {name: key path})``. Under ``flatten`` the names are dotted
    paths (a later path overwrites an earlier one of the same name) and
    an empty subdocument yields no name; without it they are the
    top-level keys and there is no path map."""
    raw = json.loads(line)
    if not isinstance(raw, dict):
        raise ValueError("line is not a JSON object")
    if not flatten:
        return raw, None
    raws, paths = {}, {}
    for path, value in _leaves(raw, True):
        name = ".".join(path)
        raws[name], paths[name] = value, path
    return raws, paths


def _unwrap_doc(raws: dict) -> dict:
    return {
        k: unwrap_extended_json(v) if type(v) in (dict, list) else v
        for k, v in raws.items()
    }


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


class MongoDumpDataSource(DataSource):
    """The ``mongodump`` format: writes only; ``read_mongodump`` reads."""

    @classmethod
    def name(cls) -> str:
        return "mongodump"

    def writer(self, schema, overwrite: bool) -> "MongoDumpWriter":
        return MongoDumpWriter(schema, self.options, overwrite)


def register_mongodump_source(spark) -> None:
    """Idempotently register the mongodump Python data source (the
    export writer)."""
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
    engine's OWN schema inference: one sample, one inference, one
    scan, one cast.

    1. **One sample.** Peek up to ``sample_lines`` documents
       driver-side, one ``json.loads`` per line: the dump analog of the
       reference's ``$sample`` phase (``schema.py:219-239``), a bounded
       read, not a full pass.
    2. **One inference**, in the same loop, gives two schemas:

       - the *typed* fields, by the reference's rules
         (``FieldInference`` over the unwrapped values). A field whose
         sampled values are raw epoch numbers, possibly mixed with
         ``$date`` wrappers, is ``timestamp[s]``: both mean "point in
         time", and the unify lattice alone would degrade the mix to
         string.
       - the *read* schema, by each field's raw JSON kinds: plain
         scalars keep their JSON type (bool → boolean, int → long,
         float or int and float → double, else string); a field that
         only ever holds wrappers reads as a struct of the wrapper keys
         sampled in it (``struct<$oid: string>``) and is unwrapped in
         Catalyst (ISO ``$date`` →
         timestamp, ``{"$date": {"$numberLong": ms}}`` → timestamp
         from millis, ``$numberLong``/``$numberInt`` → long,
         ``$numberDouble`` → double, or their text when the wrappers
         mix); a field mixing wrappers and scalars reads as string,
         each wrapper as its unwrapped text (datetimes in ISO form).
    3. **One scan.** ``spark.read.text`` and ONE ``from_json`` per
       line; the wrapper unwrap and the per-line check below run in
       the same projection, in the JVM.
    4. **One cast.** ``Schema.apply`` (``schema/model.py``) turns the
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
    holding an EMPTY subdocument (``{"a": {}}``) flattens to nothing:
    it is absent from the inferred schema, with no warning and no
    ``NULL`` placeholder column (that would invent a path the data
    never holds).

    ``mode``: a line is bad when it is malformed JSON, is not a JSON
    object, holds a type wrapper with an invalid payload (like
    ``{"$numberLong": "x"}``) in any field, read or not, or holds a
    value of another JSON type than the peek saw for a read field
    (``{"n": "abc"}`` after int ``n`` values). ``failfast`` (default)
    dies on the first bad line; ``permissive`` skips bad lines in both
    the driver-side sample and the distributed read: at scale one
    corrupt export line must not fail the whole job. The sample
    reports file:line; the distributed read names the file and the
    byte range of the split holding the line (a split does not know
    its global line number).

    ``split_size``: files larger than this many bytes are read as
    multiple byte-range partitions (Spark's newline-delimited split
    protocol), so ONE huge mongoexport still parallelizes across
    executors; every file starts a partition of its own. 0 disables
    splitting. Spark takes the split size from the session, not the
    read, so the scan runs in a child session (``spark.newSession()``
    with the caller's runtime conf) and the caller's
    ``spark.sql.files.*`` settings are left alone.

    Where the scan delivers other values than the peek's Python unwrap
    (``unwrap_extended_json``), all of them outside the documents
    ``mongoexport`` writes:

    - in a string column, a bool reads ``true``/``false`` (Python
      ``str()``: ``True``/``False``), a float reads in Java's form
      (``1.0E20``, Python ``1e+20``), and a subdocument or list reads
      as its compact JSON text;
    - in a field mixing wrappers with plain scalars, a
      ``$numberLong``/``$numberDouble`` reads as its payload text as
      written (Python: ``"0012"`` → ``12``), a ``$date`` with a UTC
      offset as the UTC wall time, and a string whose text is itself
      a compact wrapper (``'{"$oid":"x"}'``) is unwrapped;
    - a wrapper past the peek in a field sampled with strings only
      reads as its compact JSON text; past the peek in a field
      sampled with other plain scalars only, or another wrapper key
      or a plain scalar in a wrapper-only field, makes its line bad;
    - a line with trailing garbage after its object parses;
    - the wrapper check accepts the payloads Spark's casts parse:
      integer ``$numberLong``/``$numberInt`` text or JSON integers,
      decimal or NaN/Infinity ``$numberDouble`` text or JSON numbers,
      ``YYYY-MM-DD[Thh:mm[:ss[.f]]][Z|±hh[:mm]]`` or at most 15-digit
      millis for ``$date``. The peek also takes ``"1_000"``, a
      fractional JSON number in ``$numberLong`` and compact ISO forms,
      and takes millis up to year 9999 only; the peek checks only the
      first wrapper key of an object, the scan every one;
    - under ``flatten``, a key holding a subdocument in some sampled
      lines and a scalar in others reads as the scalar column, its
      dotted fields dropped with a warning; a literal dotted key
      colliding with a flattened path takes the value of the path
      the sample saw first when a line holds both.
    """
    return read_mongodump_fields(
        spark, path, sample_lines, on_nested, mode, split_size
    )[0]


def read_mongodump_fields(spark, path, sample_lines, on_nested, mode, split_size):
    """``read_mongodump``'s typed frame and the field map (name → Arrow
    type) its inference produced. Types such as ``timestamp[s]`` and
    ``date64`` do not survive a round trip through the frame's Spark
    types, so the map is handed over rather than re-derived."""
    from mongo2pq_spark.schema.model import Schema

    if on_nested not in ("raise", "skip", "flatten"):
        raise ValueError(
            f"on_nested must be 'raise', 'skip' or 'flatten', got {on_nested!r}"
        )
    if mode not in ("failfast", "permissive"):
        raise ValueError(f"mongodump mode must be failfast or permissive, got {mode!r}")
    flatten = on_nested == "flatten"
    files = _dump_files(path)
    fields, reads = _peek(files, sample_lines, flatten, on_nested, mode)
    scan = _scan(spark, files, reads, mode, split_size)
    return Schema(os.path.basename(path), fields).apply(scan), fields


def _sample(files, sample_lines, flatten, mode):
    """Yield the first ``sample_lines`` documents, each as ``(raw
    values, unwrapped values, key paths)`` (see ``_decode_raw``); a bad
    line raises with file:line context, or is skipped under
    permissive."""
    n = 0
    for fp in files:
        with open(fp, encoding="utf-8") as fh:
            for lineno, line in enumerate(fh, start=1):
                line = line.strip()
                if not line:
                    continue
                try:
                    raws, paths = _decode_raw(line, flatten)
                    values = _unwrap_doc(raws)
                except _DECODE_ERRORS as exc:
                    if mode == "permissive":
                        continue
                    raise ValueError(
                        f"malformed extended-JSON at {fp}:{lineno}: {exc}"
                    ) from exc
                yield raws, values, paths
                n += 1
                if n >= sample_lines:
                    return
    if not n:
        raise ValueError(f"mongodump at {files!r} contains no documents")


#: the read type of a field by the Python types of its sampled
#: (unwrapped) values; any other mix reads as string
_READ_TYPES = {
    frozenset({bool}): T.BooleanType(),
    frozenset({int}): T.LongType(),
    frozenset({float}): T.DoubleType(),
    frozenset({int, float}): T.DoubleType(),
    frozenset({datetime}): T.TimestampType(),
}

#: the Python type each wrapper unwraps to
_UNWRAPPED = {
    "$oid": str, "$date": datetime, "$numberLong": int, "$numberInt": int,
    "$numberDouble": float,
}

#: the kind of a raw JSON number the epoch heuristic types timestamp[s]
_EPOCH_KINDS = {int: "epoch int", float: "epoch float"}
_EPOCH_TYPES = {kind: t for t, kind in _EPOCH_KINDS.items()}


class _Read(NamedTuple):
    """How the scan reads one field."""

    #: key paths into the parsed document (more than one only when
    #: flattened names collide)
    paths: list
    #: the type the scan delivers
    type: T.DataType
    #: the wrapper keys sampled in the field
    wrappers: frozenset
    #: whether plain JSON scalars were sampled in it too
    plain: bool


def _peek(files, sample_lines, flatten, on_nested, mode):
    """Infer the typed fields and plan the read of each, in one loop
    over the sample. Returns ``fields`` and ``{name: _Read}``."""
    import pyarrow as pa

    from mongo2pq_spark.schema.inference import FieldInference

    epoch = pa.timestamp("s")
    # flatten already removed subdocs; remaining nested values (lists,
    # or subdocs under skip/raise) go through the requested rule
    inference = FieldInference(on_nested="skip" if flatten else on_nested)
    # name → the kinds of its values: a wrapper key, an epoch kind, or
    # the JSON value's Python type
    kinds: dict[str, set] = {}
    # name → key paths (dict as an ordered set), under flatten only
    name_paths: dict[str, dict] = {}
    for raws, values, paths in _sample(files, sample_lines, flatten, mode):
        for name, value in values.items():
            raw = raws[name]
            kind = type(raw)
            if kind is dict:
                kind = _wrapper_key(raw)
            # an ObjectId is a string, as in the reference: never parse
            # its hex (leading zeros would be cast away as an int)
            inferred = inference.add(
                name, value, pa.string() if kind == "$oid" else None
            )
            if value is None:
                continue
            if kind in _EPOCH_KINDS and inferred == epoch:
                kind = _EPOCH_KINDS[kind]
            seen = kinds.get(name)
            if seen is None:
                seen = kinds[name] = set()
            seen.add(kind)
            if paths is not None:
                name_paths.setdefault(name, {})[paths[name]] = None
    fields = inference.fields
    reads = {}
    for name in fields:
        seen = kinds[name]
        # decided from ALL sampled values, not the first: raw epoch
        # numbers mixed with $date wrappers are one point-in-time field
        if seen & _EPOCH_TYPES.keys() and seen <= _EPOCH_TYPES.keys() | {"$date"}:
            fields[name] = epoch
        wrappers = frozenset(seen & _UNWRAPPED.keys())
        plain = seen - wrappers
        types = frozenset(
            [_UNWRAPPED[k] for k in wrappers] + [_EPOCH_TYPES.get(k, k) for k in plain]
        )
        read = _READ_TYPES.get(types, T.StringType())
        if wrappers and plain:
            read = T.StringType()  # wrappers mixed with plain scalars: text
        paths = list(name_paths[name]) if flatten else [(name,)]
        reads[name] = _Read(paths, read, wrappers, bool(plain))
    # under flatten a key can be a scalar in one line and a subdocument
    # in another; the read schema holds one of them, the scalar
    leaves = {p for read in reads.values() for p in read.paths}
    for name, read in list(reads.items()):
        if any(p[:i] in leaves for p in read.paths for i in range(1, len(p))):
            del reads[name], fields[name]
            _warn_shadowed(name)
    return fields, reads


def _warn_shadowed(name: str) -> None:
    import logging

    logging.getLogger(__name__).warning(
        "Field %r lies under a key that also holds scalars; dropped "
        "from the flattened schema", name,
    )


#: from_json's column for a line it cannot parse
_CORRUPT = "_corrupt_record"

#: a wrapper as from_json renders it into a string column:
#: ``{"$key":payload}``, the payload unquoted (group 1)
_WRAPPER_TEXT = r'^\{"\$(?:oid|date|numberLong|numberInt|numberDouble)":"?(.*?)"?\}$'

_INT = r'"\s*[+-]?\d+\s*"|-?\d+\s*[,}\]]'
_DOUBLE = (
    r'"\s*[+-]?(?:(?:\d+\.?\d*|\.\d+)(?:[eE][+-]?\d+)?|(?i:nan|inf|infinity))\s*"'
    r"|-?\d"
)
_DATE = (
    r'"\d{4}-\d{2}-\d{2}(?:[T ]\d{2}:\d{2}(?::\d{2}(?:\.\d+)?)?)?'
    r'(?:Z|[+-]\d{2}(?::?\d{2})?)?"'
    r'|\{\s*"\$numberLong"\s*:\s*(?:"[+-]?\d{1,15}"|-?\d{1,15})\s*\}'
)
#: a type wrapper with an invalid payload, anywhere in a raw line. The
#: alternatives share the literal ``"$`` prefix, so the scan tests
#: them only where a ``"$`` occurs. The blanks before a payload are
#: matched possessively, or the lookahead would test from inside them.
_BAD_WRAPPER = (
    r'"\$(?:number(?:Long|Int)"\s*:\s*+(?!' + _INT + r")"
    r'|numberDouble"\s*:\s*+(?!' + _DOUBLE + r")"
    r'|date"\s*:\s*+(?!' + _DATE + r"))"
)


def _scan(spark, files, reads, mode, split_size):
    """The distributed read: one ``from_json`` per line against the
    read schema, the unwrap, and the per-line check folded into the
    one column that keeps or drops (or fails on) the line. The
    expressions are SQL text: one call builds a projection, where
    Column objects would cost a py4j round trip per operator."""
    tree: dict = {}
    for read in reads.values():
        for path in read.paths:
            node = tree
            for key in path[:-1]:
                node = node.setdefault(key, {})
            node[path[-1]] = (
                T.StructType([
                    T.StructField(k, T.StringType())
                    for k in _WRAPPERS if k in read.wrappers
                ])
                if read.wrappers and not read.plain
                else read.type
            )
    schema = _struct(tree).add(_CORRUPT, T.StringType())
    session = _split_session(
        spark, split_size or max(map(os.path.getsize, files)) + 1
    )
    parsed = session.read.text(files).select(
        "value",
        "_metadata",
        F.from_json(
            "value", schema,
            {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": _CORRUPT},
        ).alias("doc"),
    )
    # values as _v<i>, and _w<i> for whether a wrapper-only field holds
    # a wrapper: one projection over the parsed struct
    checked, drift = [], []
    for i, read in enumerate(reads.values()):
        cols = [_name("doc", *path) for path in read.paths]
        if read.wrappers and not read.plain:
            value = ", ".join(_unwrap(c, read) for c in cols)
            checked.append(
                " OR ".join(f"{c} IS NOT NULL" for c in cols) + f" AS _w{i}"
            )
            # a wrapper the field's type cannot take: drift past the peek
            drift.append(f" OR (_w{i} AND _v{i} IS NULL)")
        elif read.wrappers:
            value = ", ".join(map(_text, cols))
        else:
            value = ", ".join(cols)
        checked.append(f"coalesce({value}) AS _v{i}")
    checked = parsed.selectExpr(
        *checked,
        "doc IS NULL AS _blank",
        f"doc.{_CORRUPT} IS NOT NULL OR value RLIKE {_raw(_BAD_WRAPPER)} AS _bad",
        "value",
        "_metadata",
    )
    bad = "_bad" + "".join(drift)
    # the keep/drop decision is an explode over a 0- or 1-element
    # array, not a filter: a filter on the parsed columns would be
    # pushed below the projection and parse every line again. The
    # exploded expression must not be a bare column, or Spark infers
    # that filter itself.
    if mode == "permissive":
        keep = f"CASE WHEN NOT _blank AND NOT ({bad}) THEN array(1) END"
    else:
        keep = (
            f"CASE WHEN _blank THEN NULL WHEN {bad} THEN raise_error(concat("
            "'malformed extended-JSON in ', _metadata.file_path, ':bytes ', "
            "CAST(_metadata.file_block_start AS STRING), '-', "
            "CAST(_metadata.file_block_start + _metadata.file_block_length "
            "AS STRING), ': ', substr(value, 1, 200))) ELSE array(1) END"
        )
    return checked.selectExpr(
        *(f"_v{i} AS {_name(name)}" for i, name in enumerate(reads)),
        f"explode({keep}) AS _keep",
    ).drop("_keep")


def _struct(tree: dict) -> T.StructType:
    return T.StructType([
        T.StructField(k, _struct(v) if isinstance(v, dict) else v)
        for k, v in tree.items()
    ])


def _split_session(spark, split_bytes: int):
    """A child session of ``spark``'s context carrying its runtime conf,
    whose file scans split at ``split_bytes`` and start a partition
    per file (open cost = split size)."""
    session = spark.newSession()
    for key, value in spark.conf.getAll.items():
        if spark.conf.isModifiable(key):
            session.conf.set(key, value)
    session.conf.set("spark.sql.files.maxPartitionBytes", str(split_bytes))
    session.conf.set("spark.sql.files.openCostInBytes", str(split_bytes))
    return session


def _name(*parts: str) -> str:
    """A SQL reference to a (nested) column, every part quoted."""
    return ".".join(map(spark_ident, parts))


def _raw(pattern: str) -> str:
    """A regex as a SQL raw string literal."""
    assert "'" not in pattern
    return f"r'{pattern}'"


def _date_value(text: str) -> str:
    """A ``$date`` payload as from_json reads it (ISO-8601 text, or the
    JSON text of ``{"$numberLong": ms}``) as a timestamp."""
    millis = f"try_cast(regexp_extract({text}, {_raw(r'-?[0-9]+')}, 0) AS BIGINT)"
    return (
        f"CASE WHEN startswith({text}, '{{') "
        f"THEN timestamp_micros(try_multiply({millis}, 1000)) "
        f"ELSE try_cast({text} AS TIMESTAMP) END"
    )


def _iso(ts: str) -> str:
    """``datetime.isoformat()`` of a naive timestamp: the fraction only
    when there are microseconds."""
    return (
        f"regexp_replace(date_format({ts}, 'yyyy-MM-dd\\'T\\'HH:mm:ss.SSSSSS'), "
        f"{_raw(r'[.]000000$')}, '')"
    )


def _unwrap(wrapper: str, read: _Read) -> str:
    """A wrapper-only field's value as its read type, from the wrapper
    keys its sample held (another key reads NULL: drift)."""
    keys = [k for k in _WRAPPERS if k in read.wrappers]
    date = _date_value(f"{wrapper}.`$date`")
    number = "try_cast(coalesce({}) AS BIGINT)".format(", ".join(
        f"{wrapper}.`{k}`" for k in keys if k in ("$numberLong", "$numberInt")
    ))
    double = f"try_cast({wrapper}.`$numberDouble` AS DOUBLE)"
    if isinstance(read.type, T.TimestampType):
        return date
    if isinstance(read.type, T.LongType):
        return number
    if isinstance(read.type, T.DoubleType):
        if keys == ["$numberDouble"]:
            return double
        return f"coalesce(CAST({number} AS DOUBLE), {double})"
    text = {
        "$oid": f"{wrapper}.`$oid`",
        "$date": _iso(date),
        "$numberLong": f"CAST({number} AS STRING)",
        "$numberInt": f"CAST({number} AS STRING)",
        "$numberDouble": f"CAST({double} AS STRING)",
    }
    return "coalesce({})".format(", ".join(dict.fromkeys(text[k] for k in keys)))


def _text(col: str) -> str:
    """The value of a field mixing wrappers with plain scalars, read as
    string: from_json renders an object there as its compact JSON
    text, so a wrapper reads as its payload text, a ``$date`` in ISO
    form."""
    payload = f"regexp_extract({col}, {_raw(_WRAPPER_TEXT)}, 1)"
    return (
        f"CASE WHEN NOT startswith({col}, '{{\"$') THEN {col} "
        f"WHEN startswith({col}, '{{\"$date\"') THEN {_iso(_date_value(payload))} "
        f"WHEN {col} RLIKE {_raw(_WRAPPER_TEXT)} THEN {payload} "
        f"ELSE {col} END"
    )


# -- writer: the mongoexport side of the interchange ------------------------

_OID_HEX = frozenset("0123456789abcdef")


def wrap_extended_json(value, field: str | None = None):
    """Inverse of ``unwrap_extended_json``: Python/Row values →
    extended-JSON. ``datetime`` → ``{"$date": ISO-8601}``; ints beyond
    the double-safe range → ``{"$numberLong": "n"}`` (smaller ints are
    plain JSON numbers); non-finite floats →
    ``{"$numberDouble": "..."}``; a 24-hex string in the
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
        # widen to microseconds so the round trip is LOSSLESS
        # (``read_mongodump`` reads both). $date is UTC by
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
