"""Source readers.

Production path is the Spark MongoDB connector (sources/mongo.py);
the test path reads parquet / JSON-lines stand-ins. Either way the
result is a DataFrame, so everything downstream (schema apply, sinks,
operators) is source-agnostic.
"""

from __future__ import annotations

from functools import lru_cache
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession


def read_table(spark: SparkSession, path: str | Path, fmt: str | None = None) -> DataFrame:
    """Read one table from a path, inferring the format from the suffix
    when not given. JSON reads disable Spark's native schema inference
    subtleties by loading as-is; the engine's own sampler (schema
    inference, SURVEY O-11) decides final types."""
    path = str(path)
    if fmt is None:
        if path.endswith(".parquet"):
            fmt = "parquet"
        elif path.endswith((".json", ".jsonl", ".ndjson")):
            fmt = "json"
        elif path.endswith((".csv", ".tsv")):
            fmt = "csv"
        else:
            fmt = "parquet"
    if fmt == "parquet":
        return spark.read.parquet(path)
    if fmt == "json":
        # primitivesAsString: deliver raw values and let the engine's
        # own sampler decide types (string speculation, epoch heuristic,
        # int-width fitting) — mirrors the reference seeing raw BSON
        # instead of Spark's JSON inference, which has different rules.
        return spark.read.option("primitivesAsString", "true").json(path)
    if fmt == "csv":
        # all-string delivery for the same reason as JSON: the engine's
        # sampler owns typing (Spark's CSV inferSchema has other rules)
        sep = "\t" if path.endswith(".tsv") else ","
        return (
            spark.read.option("header", "true").option("sep", sep).csv(path)
        )
    raise ValueError(f"unsupported source format {fmt!r}")


def register_python_source(spark: SparkSession, source: type) -> None:
    """Register a Python data source class on ``spark``, idempotently.

    Sessions of one context (``spark.newSession()``) keep separate
    source registries, but Spark checks a new name against the ACTIVE
    session's: registering in a second session a name its parent holds
    raises ``DATA_SOURCE_ALREADY_EXISTS`` while the name stays
    unresolvable there. So a name the session already holds is kept,
    and a new one is registered with the session made active."""
    jsession = spark._jsparkSession
    if jsession.sessionState().dataSourceManager().dataSourceExists(
        source.name()
    ):
        return
    jvm_sessions = spark.sparkContext._jvm.org.apache.spark.sql.SparkSession
    active = jvm_sessions.getActiveSession()
    jvm_sessions.setActiveSession(jsession)
    try:
        spark.dataSource.register(source)
    finally:
        if active.isDefined():
            jvm_sessions.setActiveSession(active.get())
        else:
            jvm_sessions.clearActiveSession()


def read_sf_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one of the driver-generated testdata tables, normalizing
    parquet timestamps to plain TIMESTAMP.

    Two generations of testdata exist: INT64 TIMESTAMP(NANOS), which
    Spark's parquet reader rejects outright (PARQUET_TYPE_ILLEGAL)
    unless the legacy nanos-as-long escape hatch is on, and µs
    timestamps with isAdjustedToUTC=false, which Spark 4 reads as
    TIMESTAMP_NTZ — a type `unix_micros`, `withWatermark`, and every
    event-time operator rejects. Both normalize to TimestampType here
    (session timezone is pinned UTC, so the NTZ→TZ cast is
    value-preserving and matches DuckDB's naive µs reading bit for
    bit). Conversion happens in the projection (codegen; no extra
    pass), and every query/streaming operator shares this one
    definition instead of re-handling parquet timestamp dialects.
    """
    path = f"{sf_dir}/{name}.parquet"
    _ensure_nanos_conf(spark)
    nano_cols = _nano_timestamp_columns(path)
    df = spark.read.parquet(path)
    if nano_cols:
        from pyspark.sql import functions as F

        # `div` = exact integer division; a double `/` would round (ns
        # epochs exceed 2^53) and drift ±1µs from DuckDB's truncation.
        df = df.select(
            *[
                F.timestamp_micros(F.expr(f"`{c}` div 1000")).alias(c)
                if c in nano_cols
                else F.col(c)
                for c in df.columns
            ]
        )
    return normalize_ntz_timestamps(df)


def normalize_ntz_timestamps(df: DataFrame) -> DataFrame:
    """Cast every TIMESTAMP_NTZ column — including NTZ fields nested
    inside struct/array/map — to TIMESTAMP.

    With the session timezone pinned to UTC the cast re-labels the
    same wall-clock instant (no value shift), and downstream
    event-time machinery (watermarks, unix_micros, window()) gets the
    TIMESTAMP type it requires. Nested NTZ converts through one
    struct-level cast (field-wise, codegen). No-op (returns df
    unchanged, no extra projection) when nothing is NTZ.

    Filter-pushdown note: predicates on a normalized column still
    reach the parquet scan — Catalyst unwraps the cast in binary
    comparisons and pushes the rewritten NTZ predicate
    (plan-asserted by tests/test_plans.py on `events_time_slice`)."""
    from pyspark.sql import functions as F

    changed: dict[str, object] = {}
    for f in df.schema.fields:
        new_type, did_change = _replace_ntz(f.dataType)
        if did_change:
            changed[f.name] = new_type
    if not changed:
        return df
    return df.select(
        *[
            F.col(c).cast(changed[c]).alias(c) if c in changed else F.col(c)
            for c in df.columns
        ]
    )


def _replace_ntz(dtype):
    """(new_type, changed): the type with every TIMESTAMP_NTZ replaced
    by TIMESTAMP, recursing through struct/array/map."""
    from pyspark.sql import types as T

    if isinstance(dtype, T.TimestampNTZType):
        return T.TimestampType(), True
    if isinstance(dtype, T.StructType):
        fields, changed = [], False
        for f in dtype.fields:
            new_type, did_change = _replace_ntz(f.dataType)
            changed = changed or did_change
            fields.append(
                T.StructField(f.name, new_type, f.nullable, f.metadata)
            )
        return T.StructType(fields), changed
    if isinstance(dtype, T.ArrayType):
        new_type, did_change = _replace_ntz(dtype.elementType)
        return T.ArrayType(new_type, dtype.containsNull), did_change
    if isinstance(dtype, T.MapType):
        new_key, key_changed = _replace_ntz(dtype.keyType)
        new_val, val_changed = _replace_ntz(dtype.valueType)
        return (
            T.MapType(new_key, new_val, dtype.valueContainsNull),
            key_changed or val_changed,
        )
    return dtype, False


_NANOS_CONF_SET: set[str] = set()


def _ensure_nanos_conf(spark: SparkSession) -> None:
    """Set the nanos escape hatch once per session (repeated conf sets
    go through py4j on every table read otherwise). Also pins the
    session timezone to UTC so the NTZ→TIMESTAMP normalization in
    read_sf_table is value-preserving even under a session this
    package didn't build.

    Keyed on ``applicationId`` (stable, unique per SparkContext) — NOT
    ``id(sparkContext)``, which CPython recycles after GC: a recycled
    id would silently skip the conf for a brand-new context. The set
    grows one short string per application ever seen in this process
    (bounded by session churn, effectively one).

    Spark Connect sessions expose no driver-side SparkContext and may
    not carry a usable ``spark.app.id`` — a constant fallback key
    would make the SECOND Connect session in a process silently skip
    the UTC pin (the exact value-shift bug the pin prevents). Connect
    sessions therefore set the two confs unconditionally: the extra
    round-trips are per-read on a remote session, negligible next to
    the read itself, and the shared path stays Connect-clean
    (classic-only touchpoints elsewhere are listed in SCALING.md)."""
    try:
        key = spark.sparkContext.applicationId
    except Exception:  # Spark Connect: no sparkContext on the client
        key = None
    if key is None or key not in _NANOS_CONF_SET:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        if key is not None:
            _NANOS_CONF_SET.add(key)


@lru_cache(maxsize=256)
def _nano_timestamp_columns(path: str) -> frozenset[str]:
    """Columns stored as INT64 TIMESTAMP(NANOS), from the parquet
    footer (driver-side metadata read; cached — testdata files are
    immutable and queries re-read the same tables constantly).

    The check must read the PHYSICAL type, not the arrow schema:
    pyarrow reports legacy INT96 timestamps (Spark's own default
    parquet output) as timestamp[ns] too, but Spark reads INT96
    natively as TIMESTAMP — treating those as nanos-as-long would
    apply `div 1000` to a TIMESTAMP column and fail analysis on any
    Spark-written input. Only INT64 nanos need the rebuild."""
    import pyarrow.dataset as ds
    import pyarrow.parquet as pq
    import pyarrow.types as pat

    dataset = ds.dataset(path, format="parquet")
    arrow_ns = {
        field.name
        for field in dataset.schema
        if pat.is_timestamp(field.type) and field.type.unit == "ns"
    }
    if not arrow_ns:
        return frozenset()
    frag = next(iter(dataset.files), None)
    if frag is None:
        return frozenset()
    meta = pq.ParquetFile(frag).schema
    int64_cols = {
        meta.column(i).name
        for i in range(len(meta))
        if meta.column(i).physical_type == "INT64"
    }
    return frozenset(arrow_ns & int64_cols)
