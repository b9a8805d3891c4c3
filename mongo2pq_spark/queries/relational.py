"""Reference-parity operators as oracle-checked queries (SURVEY.md §2
rows O-1…O-24 restated over the testdata tables).

Each builder reads parquet directly (Catalyst pushes the projection and
filters into the scan) and aliases every computed column identically to
its oracle SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mongo2pq_spark.queries.registry import register
from mongo2pq_spark.sources.staging import generation_tmp_dir


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mongo2pq_spark.sources.registry import read_sf_table

    return read_sf_table(spark, sf_dir, "events")


@register(
    "scan_projection",
    "SELECT event_id, event_type, value FROM events",
    doc="O-1/O-6: source scan with column pruning pushed into the parquet reader",
)
def scan_projection(spark, sf_dir):
    return _events(spark, sf_dir).select("event_id", "event_type", "value")


@register(
    "filter_equality",
    "SELECT event_id, user_id, value FROM events WHERE event_type = 'click'",
    doc="O-5: equality predicate, pushed down to the scan",
)
def filter_equality(spark, sf_dir):
    return (
        _events(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select("event_id", "user_id", "value")
    )


@register(
    "events_time_slice",
    """
    SELECT event_type,
           count(*) AS n,
           min(ts) AS min_ts,
           max(ts) AS max_ts
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
      AND ts <  TIMESTAMP '2024-01-12 00:00:00'
    GROUP BY event_type
    """,
    doc="bounded time-slice aggregate: the ts predicate must reach the "
        "parquet scan as PushedFilters THROUGH the NTZ-normalization "
        "cast that read_sf_table interposes (Catalyst's cast-unwrap "
        "rewrites the comparison onto the stored NTZ column under the "
        "pinned-UTC session) — parquet min/max row-group stats then "
        "prune chunks entirely outside the slice, the scan-level "
        "guarantee every time-partitioned query at 100 TB relies on; "
        "asserted by tests/test_plans.py",
)
def events_time_slice(spark, sf_dir):
    lo = F.lit("2024-01-10").cast("timestamp")
    hi = F.lit("2024-01-12").cast("timestamp")
    return (
        _events(spark, sf_dir)
        .filter((F.col("ts") >= lo) & (F.col("ts") < hi))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.min("ts").alias("min_ts"),
            F.max("ts").alias("max_ts"),
        )
    )


@register(
    "distinct_values",
    "SELECT DISTINCT event_type FROM events",
    doc="O-3: distinct partition values (hash aggregate; reference pushes $group to mongod)",
)
def distinct_values(spark, sf_dir):
    return _events(spark, sf_dir).select("event_type").distinct()


@register(
    "count_rows",
    "SELECT COUNT(*) AS n_rows FROM events",
    doc="O-4: exact count (reference uses collection metadata estimate)",
)
def count_rows(spark, sf_dir):
    return _events(spark, sf_dir).agg(F.count("*").alias("n_rows"))


@register(
    "partition_counts",
    "SELECT event_type, COUNT(*) AS n FROM events GROUP BY event_type",
    doc="O-3/O-17: per-partition-value row counts (verifies partitioned sink fan-out)",
)
def partition_counts(spark, sf_dir):
    return _events(spark, sf_dir).groupBy("event_type").agg(F.count("*").alias("n"))


@register(
    "column_casts",
    """
    SELECT event_id,
           CAST(event_id AS VARCHAR) AS event_id_str,
           CAST(floor(value) AS BIGINT) AS value_int,
           CAST(ts AS DATE) AS event_date
    FROM events
    """,
    doc="O-8: Catalyst casts replace the reference's per-row Python cast table "
        "(floor() pinned in both engines: Spark truncates double→int, DuckDB rounds)",
)
def column_casts(spark, sf_dir):
    df = _events(spark, sf_dir)
    return df.select(
        "event_id",
        F.col("event_id").cast("string").alias("event_id_str"),
        F.floor("value").cast("bigint").alias("value_int"),
        F.col("ts").cast("date").alias("event_date"),
    )


@register(
    "falsy_suppression",
    """
    SELECT event_id,
           NULLIF(event_type, '') AS event_type,
           CASE WHEN value = 0 THEN NULL ELSE value END AS value
    FROM events
    """,
    doc="O-7: None/''→null plus the strict-compat zero-suppression quirk "
        "(reference schema.py:115)",
)
def falsy_suppression(spark, sf_dir):
    df = _events(spark, sf_dir)
    return df.select(
        "event_id",
        F.nullif(F.col("event_type"), F.lit("")).alias("event_type"),
        F.when(F.col("value") == 0, F.lit(None)).otherwise(F.col("value")).alias("value"),
    )


@register(
    "speculative_parse",
    """
    SELECT event_id,
           CAST(regexp_extract(props, '[0-9]+', 0) AS INTEGER) AS parsed_k
    FROM events
    """,
    doc="O-9: string→typed speculative parse (reference cast_from_string) as a "
        "runtime expression",
)
def speculative_parse(spark, sf_dir):
    df = _events(spark, sf_dir)
    return df.select(
        "event_id",
        F.regexp_extract("props", "[0-9]+", 0).cast("int").alias("parsed_k"),
    )


@register(
    "epoch_seconds",
    """
    SELECT event_id,
           CAST(floor(epoch(ts)) AS BIGINT) AS epoch_s,
           date_trunc('second', ts) AS ts_second
    FROM events
    """,
    doc="O-10: epoch-seconds round-trip (reference's timestamp[s] semantics)",
)
def epoch_seconds(spark, sf_dir):
    df = _events(spark, sf_dir)
    return df.select(
        "event_id",
        F.unix_timestamp("ts").alias("epoch_s"),
        F.date_trunc("second", F.col("ts")).alias("ts_second"),
    )


@register(
    "rename_projection",
    "SELECT event_id AS id, event_type AS kind, user_id AS uid FROM events",
    doc="O-13: column renames compiled into the projection",
)
def rename_projection(spark, sf_dir):
    return _events(spark, sf_dir).select(
        F.col("event_id").alias("id"),
        F.col("event_type").alias("kind"),
        F.col("user_id").alias("uid"),
    )


@register(
    "top_k",
    """
    SELECT event_id, value FROM events
    ORDER BY value DESC, event_id LIMIT 10
    """,
    doc="sort/top-k (absent from the reference; Spark TakeOrderedAndProject — "
        "no global sort materialized)",
)
def top_k(spark, sf_dir):
    return (
        _events(spark, sf_dir)
        .select("event_id", "value")
        .orderBy(F.col("value").desc(), "event_id")
        .limit(10)
    )


@register(
    "systematic_sample",
    "SELECT event_id, user_id FROM events WHERE event_id % 20 = 0",
    doc="O-2: deterministic systematic sample (stand-in for $sample, which is "
        "inherently random; the engine's random path is df.sample(seed))",
)
def systematic_sample(spark, sf_dir):
    return (
        _events(spark, sf_dir)
        .filter(F.col("event_id") % 20 == 0)
        .select("event_id", "user_id")
    )


@register(
    "el_partitioned_roundtrip",
    "SELECT event_type, COUNT(*) AS n FROM events GROUP BY event_type",
    doc="O-16/O-17 end-to-end: schema apply → hive-partitioned parquet sink → "
        "re-read → per-partition counts (layout equals the reference's "
        "key=value/ fan-out)",
)
def el_partitioned_roundtrip(spark, sf_dir):
    import os

    from mongo2pq_spark.plans.pipeline import extract_load_collection
    from mongo2pq_spark.schema.model import Schema
    from mongo2pq_spark.schema.types import spark_to_arrow

    df = _events(spark, sf_dir)
    fields = {f.name: spark_to_arrow(f.dataType) for f in df.schema.fields}
    schema = Schema("events", fields)
    # generation-keyed path (VERDICT r15 #2): stable across bench
    # repeats over an unchanged source (no /tmp accretion), distinct
    # per scale factor / regenerated source so plan-keyed caches and
    # concurrent sessions can never cross generations
    outdir = generation_tmp_dir(sf_dir, "el_roundtrip_out", table="events")
    path = extract_load_collection(df, schema, outdir, partition_key="event_type")
    return (
        spark.read.parquet(path)
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("event_type").cast("string").alias("event_type"), "n")
    )


@register(
    "merge_upsert_events",
    """
    WITH updates AS (
        SELECT event_id, ts, user_id, 'corrected' AS event_type,
               round(value * 2, 2) AS value, props
        FROM events WHERE event_id % 100 = 0
    )
    SELECT event_id, user_id, event_type,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value
    FROM (
        SELECT * FROM events WHERE event_id NOT IN (SELECT event_id FROM updates)
        UNION ALL
        SELECT * FROM updates
    )
    GROUP BY event_id, user_id, event_type
    """,
    doc="MERGE INTO emulation (CDC upsert): anti-join survivors UNION ALL "
        "updates — one shuffle on the key; the pre-lakehouse upsert pattern",
)
def merge_upsert_events(spark, sf_dir):
    from mongo2pq_spark.operators.merge import merge_upsert

    base = _events(spark, sf_dir)
    updates = (
        base.filter(F.col("event_id") % 100 == 0)
        .withColumn("event_type", F.lit("corrected"))
        .withColumn("value", F.round(F.col("value") * 2, 2))
    )
    merged = merge_upsert(base, updates, key="event_id")
    return merged.groupBy("event_id", "user_id", "event_type").agg(
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("value")
    )


@register(
    "limit_page",
    """
    SELECT event_id, event_type FROM events ORDER BY event_id LIMIT 100
    """,
    doc="O-24: bounded page fetch (cursor page → deterministic ORDER BY + LIMIT)",
)
def limit_page(spark, sf_dir):
    return (
        _events(spark, sf_dir)
        .select("event_id", "event_type")
        .orderBy("event_id")
        .limit(100)
    )


@register(
    "el_jsonl_roundtrip",
    """
    SELECT lang, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents GROUP BY lang
    """,
    doc="JSONL sink + source round-trip: the documents table is written "
        "as line-delimited JSON (the lingua franca of training-corpus "
        "interchange) and read back through Spark's distributed JSON "
        "reader with schema inference, then aggregated — proving the "
        "ingest path a real pipeline uses upstream of parquet",
)
def el_jsonl_roundtrip(spark, sf_dir):
    import os

    from mongo2pq_spark.sources.registry import read_sf_table

    docs = read_sf_table(spark, sf_dir, "documents")
    # generation-keyed path (the el_roundtrip_out policy)
    outdir = generation_tmp_dir(sf_dir, "el_jsonl_out")
    docs.write.mode("overwrite").json(outdir)
    back = spark.read.json(outdir)
    return back.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
    )


@register(
    "el_orc_roundtrip",
    """
    SELECT event_type, count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events GROUP BY event_type
    """,
    doc="ORC sink + source round-trip: the events table is written as "
        "ORC (Spark's second first-class columnar format — built-in "
        "vectorized reader/writer, same predicate-pushdown and "
        "column-pruning surface as parquet) and read back, then "
        "aggregated; the oracle aggregates the original table, so the "
        "round-trip must be lossless for timestamps, doubles, and "
        "strings alike",
)
def el_orc_roundtrip(spark, sf_dir):
    import os

    from mongo2pq_spark.sources.registry import read_sf_table

    ev = read_sf_table(spark, sf_dir, "events")
    outdir = generation_tmp_dir(sf_dir, "el_orc_out", table="events")
    ev.write.mode("overwrite").orc(outdir)
    back = spark.read.orc(outdir)
    return back.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)"))
        .cast("double")
        .alias("total_value"),
    )


@register(
    "el_schema_evolution",
    """
    SELECT CASE WHEN event_id % 2 = 1 THEN event_type
                ELSE '<missing>' END AS event_type,
           count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events GROUP BY 1
    """,
    doc="schema evolution on read: generation 1 of a dataset is written "
        "WITHOUT the event_type column, generation 2 WITH it; a "
        "mergeSchema read unifies the generations (missing column → "
        "null, surfaced as '<missing>') and aggregates across both — "
        "the add-a-column lifecycle every long-lived 100 TB dataset "
        "goes through, resolved at the reader without rewriting old "
        "partitions. The oracle simulates the split on the original "
        "table, so null-fill and value fidelity are both pinned",
)
def el_schema_evolution(spark, sf_dir):
    import os

    from mongo2pq_spark.sources.registry import read_sf_table

    ev = read_sf_table(spark, sf_dir, "events")
    base = generation_tmp_dir(sf_dir, "el_evolution_out", table="events")
    ev.filter(F.col("event_id") % 2 == 0).select(
        "event_id", "user_id", "value"
    ).write.mode("overwrite").parquet(os.path.join(base, "gen=1"))
    ev.filter(F.col("event_id") % 2 == 1).select(
        "event_id", "user_id", "value", "event_type"
    ).write.mode("overwrite").parquet(os.path.join(base, "gen=2"))
    merged = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(base, "gen=1"), os.path.join(base, "gen=2")
    )
    return merged.groupBy(
        F.coalesce(F.col("event_type"), F.lit("<missing>")).alias("event_type")
    ).agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)"))
        .cast("double")
        .alias("total_value"),
    )


@register(
    "el_csv_roundtrip",
    """
    SELECT lang, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents GROUP BY lang
    """,
    doc="CSV sink + source round-trip: the documents table is written "
        "as headered CSV and read back through the engine's CSV source "
        "path (read_table handles .csv/.tsv) with an explicit schema — "
        "no inference pass over the data — then aggregated; completes "
        "the format matrix (parquet, JSONL, ORC, CSV, XML) for the EL "
        "surface. Explicit schema matters at scale: CSV inference is a "
        "full extra read of the dataset",
)
def el_csv_roundtrip(spark, sf_dir):
    import os

    from mongo2pq_spark.sources.registry import read_sf_table

    docs = read_sf_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    outdir = generation_tmp_dir(sf_dir, "el_csv_out")
    docs.write.mode("overwrite").option("header", "true").csv(outdir)
    back = spark.read.option("header", "true").schema(docs.schema).csv(outdir)
    return back.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
    )


@register(
    "el_mongodump_scan",
    """
    SELECT event_type,
           count(*) AS n_events,
           count(DISTINCT substr(md5(CAST(event_id AS VARCHAR)), 1, 24))
               AS n_oids,
           CAST(sum(CAST(CAST(value AS FLOAT) AS DECIMAL(18,2))) AS DOUBLE)
               AS total_value,
           max(ts) AS max_ts,
           max(date_trunc('second', ts)) AS max_created
    FROM events GROUP BY event_type
    """,
    doc="Mongo extended-JSON dump ingestion through read_mongodump: "
        "the events table is staged as a mongoexport-style dump ($oid "
        "ObjectIds, $date timestamps at microsecond fidelity, "
        "$numberLong wrappers, a RAW epoch-seconds number, and a nested "
        "subdocument) by a distributed write, then read back — the "
        "engine's OWN sampling inference over unwrapped documents, a "
        "JVM text scan with one from_json per line, wrappers unwrapped "
        "per the reference's BSON decode rules (schema.py:110-164) — "
        "and aggregated; must equal the batch aggregate of the original "
        "table. Inference consequences the oracle mirrors: `value` "
        "infers float32 (reference rule: any float within float32 "
        "range), so the oracle quantizes through CAST(value AS FLOAT); "
        "`created` is a raw epoch int that the ±5-year heuristic types "
        "timestamp[s] — read as long at the scan and cast to a "
        "timestamp in Schema.apply, equal to date_trunc('second', ts); "
        "the nested `meta` subdoc is DROPPED by on_nested='skip' (the "
        "reference fails outright on nested values, schema.py:331-335). "
        "The offline companion to the gated live-connector path",
)
def el_mongodump_scan(spark, sf_dir):
    import os

    from mongo2pq_spark.deploy import ensure_shipped
    from mongo2pq_spark.sources.mongodump import read_mongodump
    from mongo2pq_spark.sources.registry import read_sf_table

    ensure_shipped(spark)
    ev = read_sf_table(spark, sf_dir, "events")
    oid = F.substring(F.md5(F.col("event_id").cast("string").cast("binary")), 1, 24)
    doc = F.to_json(
        F.struct(
            F.struct(oid.alias("$oid")).alias("_id"),
            F.col("event_id"),
            F.struct(
                F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS").alias(
                    "$date"
                )
            ).alias("ts"),
            F.struct(
                F.col("user_id").cast("string").alias("$numberLong")
            ).alias("user_id"),
            F.col("event_type"),
            F.col("value"),
            # raw epoch seconds (no wrapper): exercises the ±5-year
            # heuristic; read as long, cast to timestamp in the one
            # Schema.apply projection
            F.unix_timestamp("ts").alias("created"),
            # nested subdocument: dropped by on_nested='skip'
            F.struct(
                F.col("event_type").alias("kind"),
                F.col("user_id").alias("uid"),
            ).alias("meta"),
        )
    )
    outdir = generation_tmp_dir(sf_dir, "el_mongodump_out", table="events")
    ev.select(doc.alias("value")).write.mode("overwrite").text(outdir)
    back = read_mongodump(spark, outdir)
    assert "meta" not in back.columns  # nested subdoc must be dropped
    return back.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.countDistinct("_id").alias("n_oids"),
        F.sum(F.col("value").cast("decimal(18,2)"))
        .cast("double")
        .alias("total_value"),
        F.max("ts").alias("max_ts"),
        F.max("created").alias("max_created"),
    )


@register(
    "el_mongodump_flatten",
    """
    SELECT event_type AS kind,
           count(*) AS n_events,
           count(DISTINCT user_id) AS n_users,
           CAST(sum(user_id) AS BIGINT) AS sum_uid
    FROM events GROUP BY event_type
    """,
    doc="on_nested='flatten' on the mongodump source: subdocuments "
        "become dotted-path columns (`meta.kind`, `meta.uid`) with "
        "full inference — the mode a real mongoexport user wants for "
        "nested collections (the reference FAILS on any nested value, "
        "/root/reference/mongo2pq/schema.py:331-335; on_nested='skip' "
        "drops the field). The events table is staged as an "
        "extended-JSON dump whose scalars are tucked INSIDE a `meta` "
        "subdoc plus a list field (lists are never flattened — they "
        "fall to the skip rule), read back distributed through the "
        "flattening reader, and aggregated purely from the flattened "
        "columns; must equal the batch aggregate of the original "
        "table.",
)
def el_mongodump_flatten(spark, sf_dir):
    import os

    from mongo2pq_spark.deploy import ensure_shipped
    from mongo2pq_spark.sources.mongodump import read_mongodump
    from mongo2pq_spark.sources.registry import read_sf_table

    ensure_shipped(spark)
    ev = read_sf_table(spark, sf_dir, "events")
    oid = F.substring(F.md5(F.col("event_id").cast("string").cast("binary")), 1, 24)
    doc = F.to_json(
        F.struct(
            F.struct(oid.alias("$oid")).alias("_id"),
            F.col("event_id"),
            # the aggregation columns live INSIDE the subdoc: the
            # query only works if flattening delivers them
            F.struct(
                F.col("event_type").alias("kind"),
                F.col("user_id").alias("uid"),
            ).alias("meta"),
            F.array(F.col("event_type")).alias("tags"),  # skipped list
        )
    )
    outdir = generation_tmp_dir(
        sf_dir, "el_mongodump_flat_out", table="events"
    )
    ev.select(doc.alias("value")).write.mode("overwrite").text(outdir)
    back = read_mongodump(spark, outdir, on_nested="flatten")
    assert "meta.kind" in back.columns and "meta" not in back.columns
    assert "tags" not in back.columns
    return back.groupBy(F.col("`meta.kind`").alias("kind")).agg(
        F.count("*").alias("n_events"),
        F.countDistinct(F.col("`meta.uid`")).alias("n_users"),
        F.sum(F.col("`meta.uid`")).cast("bigint").alias("sum_uid"),
    )


@register(
    "el_xml_roundtrip",
    """
    SELECT lang, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents GROUP BY lang
    """,
    doc="XML sink + source round-trip (Spark 4 NATIVE XML, no external "
        "package): the documents table is written as row-tagged XML "
        "and read back with an explicit schema — XML inference, like "
        "CSV's, is a full extra pass over the data — then aggregated; "
        "extends the EL format matrix to parquet / JSONL / ORC / CSV "
        "/ XML / mongodump. XML stays the interchange format of "
        "record for enterprise feeds (and e.g. the Wikipedia dumps "
        "LLM corpora start from)",
)
def el_xml_roundtrip(spark, sf_dir):
    import os

    from mongo2pq_spark.sources.registry import read_sf_table

    docs = read_sf_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    outdir = generation_tmp_dir(sf_dir, "el_xml_out")
    (
        docs.write.mode("overwrite")
        .option("rootTag", "documents")
        .option("rowTag", "document")
        .format("xml")
        .save(outdir)
    )
    back = (
        spark.read.option("rowTag", "document")
        .schema(docs.schema)
        .format("xml")
        .load(outdir)
    )
    return back.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
    )


@register(
    "el_zorder_roundtrip",
    """
    SELECT event_type, count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events
    WHERE user_id BETWEEN 100 AND 200 AND event_id BETWEEN 1000 AND 50000
    GROUP BY event_type
    """,
    doc="Z-order layout round-trip (operators/layout.py::write_zordered): "
        "events are rewritten clustered by the Morton interleave of "
        "(user_id, event_id) — range-fit, range-partitioned, sorted — "
        "then read back under a two-dimensional filter and aggregated; "
        "the oracle aggregates the ORIGINAL table, so the layout "
        "rewrite must be value-lossless while making row-group min/max "
        "stats tight on BOTH filter columns (the footer-stats tightness "
        "itself is pinned by tests/test_layout.py). The curation story "
        "at 100 TB: one layout pass buys every later two-column scan "
        "its pruning",
)
def el_zorder_roundtrip(spark, sf_dir):
    import os

    from mongo2pq_spark.operators.layout import write_zordered
    from mongo2pq_spark.sources.registry import read_sf_table

    ev = read_sf_table(spark, sf_dir, "events")
    outdir = generation_tmp_dir(sf_dir, "el_zorder_out", table="events")
    write_zordered(ev, outdir, "user_id", "event_id", bits=12)
    back = spark.read.parquet(outdir)
    return (
        back.filter(
            F.col("user_id").between(100, 200)
            & F.col("event_id").between(1000, 50000)
        )
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_value"),
        )
    )


@register(
    "profile_events_stats",
    """
    SELECT count(*) AS n_rows,
           count(DISTINCT user_id) AS user_id_ndv,
           count(DISTINCT event_type) AS event_type_ndv,
           CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS value_nulls,
           CAST(sum(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS props_nulls,
           round(min(value), 6) AS value_min,
           round(max(value), 6) AS value_max,
           CAST(min(user_id) AS BIGINT) AS user_id_min,
           CAST(max(user_id) AS BIGINT) AS user_id_max
    FROM events
    """,
    doc="table profiling (the ANALYZE/data-quality pass a pipeline runs "
        "before publishing a dataset): row count, exact NDV, null "
        "counts, and numeric min/max in ONE aggregation over the "
        "table. Scale shape: a single pass with map-side partials — "
        "count(distinct) compiles to a two-phase expand+agg, still one "
        "scan; for monitoring cadence at 100 TB the exact NDVs swap to "
        "the mergeable HLL rollup (sketch_rollup_distinct_users) "
        "without changing the shape",
)
def profile_events_stats(spark, sf_dir):
    e = _events(spark, sf_dir)
    return e.agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("user_id").alias("user_id_ndv"),
        F.countDistinct("event_type").alias("event_type_ndv"),
        F.sum(F.col("value").isNull().cast("int"))
        .cast("bigint")
        .alias("value_nulls"),
        F.sum(F.col("props").isNull().cast("int"))
        .cast("bigint")
        .alias("props_nulls"),
        F.round(F.min("value"), 6).alias("value_min"),
        F.round(F.max("value"), 6).alias("value_max"),
        F.min("user_id").cast("bigint").alias("user_id_min"),
        F.max("user_id").cast("bigint").alias("user_id_max"),
    )


@register(
    "el_mongodump_export_roundtrip",
    """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(user_id AS BIGINT)) AS BIGINT) AS user_id_sum,
           CAST(sum(CAST(CAST(value AS FLOAT) AS DECIMAL(18,2))) AS DOUBLE)
               AS value_sum,
           min(ts) AS first_ts,
           max(ts) AS last_ts
    FROM events
    WHERE event_id < 20000
    GROUP BY event_type
    """,
    doc="mongodump EXPORT round trip — the Python DataSource writer "
        "(sources/mongodump.py::MongoDumpWriter): events rows are "
        "serialized to line-delimited extended JSON ($date with "
        "lossless sub-ms widening, $numberLong beyond the double-safe "
        "range, $oid for 24-hex _id, per-task atomic part-file rename "
        "so retries are idempotent), read back through read_mongodump "
        "(the one reader of a dump: sampled inference, JVM scan, one "
        "cast), and aggregated; the oracle aggregates the original "
        "table directly, so the export must be value-lossless through "
        "both directions of the interchange — timestamps at "
        "microsecond precision included. The oracle mirrors the "
        "inference: `value` infers float32, so the oracle sums it "
        "through CAST(value AS FLOAT) to DECIMAL(18,2). Completes the "
        "offline-Mongo story: the engine can CONSUME and PRODUCE the "
        "dump format",
)
def el_mongodump_export_roundtrip(spark, sf_dir):
    import os

    from pyspark.sql import functions as F

    from mongo2pq_spark.deploy import ensure_shipped
    from mongo2pq_spark.sources.mongodump import (
        read_mongodump,
        register_mongodump_source,
    )
    from mongo2pq_spark.sources.registry import read_sf_table

    # the writer class executes ON EXECUTORS (pickled) — without the
    # package shipped, any session whose cwd is not the repo root
    # fails the import (the vanilla-session probe catches exactly this)
    ensure_shipped(spark)
    register_mongodump_source(spark)
    ev = read_sf_table(spark, sf_dir, "events").filter(
        F.col("event_id") < 20000
    ).select("event_id", "ts", "user_id", "event_type", "value")
    # generation-keyed path (supersedes the per-SCALE-only key: a
    # REGENERATED source at the same SF now also gets a fresh dir)
    out = generation_tmp_dir(
        sf_dir, "el_mongodump_export", table="events"
    )
    ev.write.format("mongodump").mode("overwrite").save(out)
    back = read_mongodump(spark, out)
    return back.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum("user_id").cast("bigint").alias("user_id_sum"),
        F.sum(F.col("value").cast("decimal(18,2)"))
        .cast("double")
        .alias("value_sum"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
    )


@register(
    "el_compact_roundtrip",
    """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(event_id) AS BIGINT) AS sum_event_id,
           true AS compacted
    FROM events GROUP BY event_type
    """,
    doc="small-file compaction round trip: events stage hive-"
        "partitioned with 24 deliberately tiny files per partition "
        "(the incremental-writer pathology), compact_partitions "
        "rewrites each partition to <=2 files through the audited "
        "crash-safe swap, and the result re-reads value-lossless "
        "(count + exact integer sum per partition vs the raw table) "
        "with the audit invariant folded in (compacted = files "
        "dropped to the target with zero row drift) — the lake-"
        "maintenance operation that keeps a 100 TB dataset's "
        "open/footer overhead proportional to data, not to write "
        "history",
)
def el_compact_roundtrip(spark, sf_dir):
    import os

    from mongo2pq_spark.plans.pipeline import compact_partitions

    df = _events(spark, sf_dir)
    out = generation_tmp_dir(sf_dir, "el_compact_out", table="events")
    # stage the pathology: 24 files per partition dir
    (
        df.repartition(24)
        .write.partitionBy("event_type")
        .mode("overwrite")
        .parquet(out)
    )
    audit = compact_partitions(spark, out, "event_type", target_files=2)
    ok = {
        a["partition"]: (
            a["files_after"] <= 2
            and a["files_after"] < a["files_before"]
            and a["rows_after"] == a["rows_before"]
        )
        for a in audit
    }
    audit_df = spark.createDataFrame(
        [(k, bool(v)) for k, v in ok.items()],
        "event_type string, compacted boolean",
    )
    back = (
        spark.read.parquet(out)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum("event_id").cast("bigint").alias("sum_event_id"),
        )
        .select(
            F.col("event_type").cast("string").alias("event_type"),
            "n_rows",
            "sum_event_id",
        )
    )
    return back.join(F.broadcast(audit_df), "event_type").select(
        "event_type", "n_rows", "sum_event_id", "compacted"
    )


@register(
    "dq_validate_events",
    """
    WITH a AS (
        SELECT count(*) AS n_rows,
               sum(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS v_nn,
               count(*) - count(DISTINCT event_id) AS v_uq,
               sum(CASE WHEN value IS NOT NULL AND value < 0
                        THEN 1 ELSE 0 END) AS v_min,
               sum(CASE WHEN value IS NOT NULL AND value > 1000
                        THEN 1 ELSE 0 END) AS v_max,
               sum(CASE WHEN event_type IS NOT NULL AND event_type
                        NOT IN ('click','view','purchase','signup','error')
                        THEN 1 ELSE 0 END) AS v_set,
               sum(CASE WHEN props IS NOT NULL
                        AND NOT regexp_matches(props, '^\\{.*\\}$')
                        THEN 1 ELSE 0 END) AS v_re
        FROM events
    ),
    rules(rule_id, kind, col, v) AS (
        SELECT 'r1_event_id_not_null', 'not_null', 'event_id',
               (SELECT v_nn FROM a)
        UNION ALL SELECT 'r2_event_id_unique', 'unique', 'event_id',
               (SELECT v_uq FROM a)
        UNION ALL SELECT 'r3_value_min', 'min', 'value',
               (SELECT v_min FROM a)
        UNION ALL SELECT 'r4_value_max', 'max', 'value',
               (SELECT v_max FROM a)
        UNION ALL SELECT 'r5_event_type_domain', 'in_set', 'event_type',
               (SELECT v_set FROM a)
        UNION ALL SELECT 'r6_props_json_shape', 'regex', 'props',
               (SELECT v_re FROM a)
    )
    SELECT rule_id, kind, col AS column,
           CAST((SELECT n_rows FROM a) AS BIGINT) AS n_rows,
           CAST(v AS BIGINT) AS n_violations,
           round(CAST(v AS DOUBLE)
                 / greatest((SELECT n_rows FROM a), 1), 6) + 0.0
               AS violation_frac,
           v = 0 AS passed
    FROM rules ORDER BY rule_id
    """,
    doc="data-quality CONTRACT over the events table (the assert-"
        "before-publish stage; profile_events_stats describes, this "
        "JUDGES): not-null, uniqueness, range, domain-set, and "
        "JSON-shape regex rules evaluated by the declarative rule "
        "runner (operators/contracts.py) — every rule compiles into "
        "ONE aggregate pass (uniqueness adds a count-distinct expand "
        "to the same scan), the wide result unpivots to a bounded "
        "per-rule report. The fixture satisfies the contract, so the "
        "oracle's value check covers the full counting machinery and "
        "the planted-violation unit test covers every violation path",
)
def dq_validate_events(spark, sf_dir):
    from mongo2pq_spark.operators.contracts import validate_rules
    from mongo2pq_spark.sources.registry import read_sf_table

    e = read_sf_table(spark, sf_dir, "events")
    return validate_rules(
        e,
        [
            {"rule_id": "r1_event_id_not_null", "kind": "not_null",
             "col": "event_id"},
            {"rule_id": "r2_event_id_unique", "kind": "unique",
             "col": "event_id"},
            {"rule_id": "r3_value_min", "kind": "min", "col": "value",
             "value": 0.0},
            {"rule_id": "r4_value_max", "kind": "max", "col": "value",
             "value": 1000.0},
            {"rule_id": "r5_event_type_domain", "kind": "in_set",
             "col": "event_type",
             "values": ["click", "view", "purchase", "signup", "error"]},
            {"rule_id": "r6_props_json_shape", "kind": "regex",
             "col": "props", "pattern": "^\\{.*\\}$"},
        ],
    )


@register(
    "dq_referential_lineitem",
    """
    WITH a AS (
        SELECT
            (SELECT count(*) FROM lineitem) AS n_rows,
            (SELECT count(*) FROM lineitem l
             WHERE l.l_orderkey IS NOT NULL
               AND l.l_orderkey NOT IN (SELECT o_orderkey FROM orders))
                AS v_ord,
            (SELECT count(*) FROM lineitem l
             WHERE l.l_partkey IS NOT NULL
               AND l.l_partkey NOT IN (SELECT p_partkey FROM part))
                AS v_part,
            (SELECT count(*) FROM lineitem l
             WHERE l.l_suppkey IS NOT NULL
               AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier))
                AS v_supp
    ),
    rules(rule_id, kind, col, v) AS (
        SELECT 'r1_orderkey_fk', 'fk', 'l_orderkey',
               (SELECT v_ord FROM a)
        UNION ALL SELECT 'r2_partkey_fk', 'fk', 'l_partkey',
               (SELECT v_part FROM a)
        UNION ALL SELECT 'r3_suppkey_fk', 'fk', 'l_suppkey',
               (SELECT v_supp FROM a)
    )
    SELECT rule_id, kind, col AS column,
           CAST((SELECT n_rows FROM a) AS BIGINT) AS n_rows,
           CAST(v AS BIGINT) AS n_violations,
           round(CAST(v AS DOUBLE)
                 / greatest((SELECT n_rows FROM a), 1), 6) + 0.0
               AS violation_frac,
           v = 0 AS passed
    FROM rules ORDER BY rule_id
    """,
    doc="referential-integrity contract over the TPC-H fact table: "
        "lineitem's order/part/supplier keys must all resolve — the "
        "fk rule kind of the contract runner. Each dimension's "
        "distinct key is BROADCAST and left-joined ahead of the one "
        "counting aggregate (dimensions are the bounded side by "
        "definition), so three fk rules still scan lineitem once; at "
        "100 TB this is the same shape as the TPC-H joins the AQE "
        "planner already broadcasts. Fixture keys all resolve; the "
        "planted-orphan unit test proves the counting path",
)
def dq_referential_lineitem(spark, sf_dir):
    from mongo2pq_spark.operators.contracts import validate_rules
    from mongo2pq_spark.sources.registry import read_sf_table

    li = read_sf_table(spark, sf_dir, "lineitem")
    return validate_rules(
        li,
        [
            {"rule_id": "r1_orderkey_fk", "kind": "fk",
             "col": "l_orderkey",
             "dim_df": read_sf_table(spark, sf_dir, "orders"),
             "dim_col": "o_orderkey"},
            {"rule_id": "r2_partkey_fk", "kind": "fk",
             "col": "l_partkey",
             "dim_df": read_sf_table(spark, sf_dir, "part"),
             "dim_col": "p_partkey"},
            {"rule_id": "r3_suppkey_fk", "kind": "fk",
             "col": "l_suppkey",
             "dim_df": read_sf_table(spark, sf_dir, "supplier"),
             "dim_col": "s_suppkey"},
        ],
    )


@register(
    "el_jsonl_gzip_roundtrip",
    """
    SELECT lang, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           md5(string_agg(CAST(doc_id AS VARCHAR), ','
               ORDER BY doc_id)) AS id_digest
    FROM documents GROUP BY lang
    """,
    doc="gzip-compressed JSONL round-trip: the documents table is "
        "written as .json.gz (how web corpora actually ship — "
        "CommonCrawl WET/WARC segments, HF dataset shards) and read "
        "back through Spark's transparent codec path, then "
        "aggregated with a per-group sorted doc-id digest so the "
        "check is value-complete, not just counts. The 100 TB note "
        "this query exists to document: gzip is NOT splittable — one "
        ".gz file = one task regardless of size — so the write side "
        "here produces MANY shard files (the source partitioning), "
        "which is exactly the layout that keeps compressed-text "
        "ingestion parallel at scale",
)
def el_jsonl_gzip_roundtrip(spark, sf_dir):
    import os

    from mongo2pq_spark.sources.registry import read_sf_table

    docs = read_sf_table(spark, sf_dir, "documents")
    outdir = generation_tmp_dir(sf_dir, "el_jsonl_gz_out")
    docs.write.mode("overwrite").option(
        "compression", "gzip"
    ).json(outdir)
    back = spark.read.json(outdir)
    return back.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list("doc_id")),
                    lambda x: x.cast("string"),
                ),
                ",",
            )
        ).alias("id_digest"),
    )


@register(
    "el_snapshot_diff",
    """
    WITH run1 AS (
        SELECT event_id, event_type, value FROM events
        WHERE event_id < 8000
    ),
    run2 AS (
        SELECT event_id, event_type,
               CASE WHEN event_id % 13 = 0 THEN value * 2
                    ELSE value END AS value
        FROM events WHERE event_id >= 2000
    ),
    d AS (
        SELECT coalesce(run1.event_id, run2.event_id) AS event_id,
               CASE WHEN run1.event_id IS NULL THEN 'added'
                    WHEN run2.event_id IS NULL THEN 'removed'
                    WHEN run1.value <> run2.value
                         OR run1.event_type <> run2.event_type
                         THEN 'changed'
                    ELSE 'unchanged' END AS status
        FROM run1 FULL OUTER JOIN run2 USING (event_id)
    )
    SELECT status,
           CAST(count(*) AS BIGINT) AS n,
           md5(string_agg(CAST(event_id AS VARCHAR), ','
               ORDER BY event_id)) AS key_digest
    FROM d GROUP BY status
    """,
    doc="dataset-version diff between two snapshots (the promote-or-"
        "not audit between yesterday's and today's EL run): two "
        "simulated runs of the events table — overlapping key ranges "
        "plus a planted value modification on every 13th key — are "
        "diffed by operators/merge.py::snapshot_diff into added / "
        "removed / changed / unchanged per key, reported as counts "
        "plus an order-canonical key digest so the check is value-"
        "complete (WHICH keys, not just how many). Shape: ONE "
        "full-outer equi-join on the key — the minimal diff plan; "
        "null-safe column digests make NULL→value transitions count "
        "as changed",
)
def el_snapshot_diff(spark, sf_dir):
    from mongo2pq_spark.operators.merge import snapshot_diff
    from mongo2pq_spark.sources.registry import read_sf_table

    e = read_sf_table(spark, sf_dir, "events")
    run1 = e.filter(F.col("event_id") < 8000).select(
        "event_id", "event_type", "value"
    )
    run2 = e.filter(F.col("event_id") >= 2000).select(
        "event_id",
        "event_type",
        F.when(F.col("event_id") % 13 == 0, F.col("value") * 2)
        .otherwise(F.col("value"))
        .alias("value"),
    )
    d = snapshot_diff(
        run1, run2, ["event_id"], ["event_type", "value"]
    )
    return d.groupBy("status").agg(
        F.count("*").cast("bigint").alias("n"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list("event_id")),
                    lambda x: x.cast("string"),
                ),
                ",",
            )
        ).alias("key_digest"),
    )


@register(
    "el_footer_manifest",
    """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(user_id AS BIGINT)) AS BIGINT) AS user_id_sum
    FROM events GROUP BY event_type
    """,
    doc="lakehouse metadata manifest: the events table is written "
        "hive-partitioned, then per-partition row counts are read "
        "from parquet FOOTER metadata alone (pyarrow ParquetFile, "
        "zero data pages touched — the same metadata channel the "
        "compaction audit and every table-stats system use) while "
        "the user_id sums come from one re-read of the data. The "
        "oracle aggregates the source table directly, so a match "
        "proves footer row counts EQUAL data-scan truth across the "
        "partitioned layout — the property that makes metadata-only "
        "NDV/rowcount planning trustworthy at 100 TB. The footer "
        "pass is driver-side but bounded by #files (the same order "
        "of work the scan planner already does)",
)
def el_footer_manifest(spark, sf_dir):
    import os

    import pyarrow.parquet as pq

    from mongo2pq_spark.sources.registry import read_sf_table

    ev = read_sf_table(spark, sf_dir, "events")
    outdir = generation_tmp_dir(sf_dir, "el_footer_out", table="events")
    ev.write.mode("overwrite").partitionBy("event_type").parquet(outdir)

    rows = []
    for entry in sorted(os.listdir(outdir)):
        if not entry.startswith("event_type="):
            continue
        part = entry.split("=", 1)[1]
        n = sum(
            pq.ParquetFile(os.path.join(outdir, entry, f)).metadata.num_rows
            for f in os.listdir(os.path.join(outdir, entry))
            if f.endswith(".parquet")
        )
        rows.append((part, n))
    footer = spark.createDataFrame(rows, "event_type string, n_rows long")

    sums = (
        spark.read.parquet(outdir)
        .groupBy("event_type")
        .agg(F.sum(F.col("user_id").cast("bigint")).alias("user_id_sum"))
    )
    return footer.join(F.broadcast(sums), "event_type").select(
        "event_type",
        F.col("n_rows").cast("bigint").alias("n_rows"),
        F.col("user_id_sum").cast("bigint").alias("user_id_sum"),
    )


@register(
    "el_tar_shards_roundtrip",
    """
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           md5(text) AS content_md5
    FROM documents
    """,
    doc="WebDataset-style tar-shard sink + real-codec re-ingestion: "
        "the documents table is written as a directory of "
        "shard-NNNNN.tar files (sources/tarshards.py — the standard "
        "multimodal-training interchange, one tar per task partition "
        "so repartition(n) IS the shard-sizing knob), then re-read "
        "through the INDEPENDENT chain binaryFile scan -> real tar "
        "parse (archive_manifest) and checked per document: member "
        "byte length and content md5 must equal the source text's "
        "UTF-8 bytes — the oracle states both from the original "
        "table, so the tar framing, the atomic shard commit and the "
        "parse must all be value-lossless",
)
def el_tar_shards_roundtrip(spark, sf_dir):
    from mongo2pq_spark.operators.archives import archive_manifest
    from mongo2pq_spark.operators.multimodal import ingest_binary_dir
    from mongo2pq_spark.sources.registry import read_sf_table
    from mongo2pq_spark.sources.staging import generation_tmp_dir
    from mongo2pq_spark.sources.tarshards import register_tarshards_sink

    register_tarshards_sink(spark)
    docs = read_sf_table(spark, sf_dir, "documents")
    outdir = generation_tmp_dir(sf_dir, "el_tar_shards_out")
    (
        docs.select(
            F.concat(
                F.lit("doc"), F.col("doc_id").cast("string"), F.lit(".txt")
            ).alias("name"),
            F.encode(F.col("text"), "UTF-8").alias("payload"),
        )
        .repartition(4)
        .write.format("tarshards")
        .mode("overwrite")
        .save(outdir)
    )
    shards = ingest_binary_dir(spark, outdir, glob="shard-*.tar")
    entries = archive_manifest(shards)
    return entries.select(
        F.regexp_extract(F.col("name"), r"^doc(\d+)\.txt$", 1)
        .cast("bigint")
        .alias("doc_id"),
        F.col("n_bytes").cast("bigint").alias("n_bytes"),
        "content_md5",
    )


@register(
    "el_tar_shards_native_read",
    """
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           md5(text) AS content_md5
    FROM documents
    """,
    doc="first-class tar-shard SOURCE (r13, completing the WebDataset "
        "interchange both ways): the documents table is written as "
        "shard-NNNNN.tar files, then read back through "
        "spark.read.format('tarshards') — ONE input partition per "
        "shard, members streamed sequentially in r| mode (one "
        "member's payload in memory at a time, never the shard, no "
        "seeks, no central index: a 10k-shard corpus is 10k parallel "
        "sequential scans). Per document the decoded member's byte "
        "length and content md5 must equal the source text's UTF-8 "
        "bytes, both stated by the oracle from the original table — "
        "so the sink framing AND the native parse must be value-"
        "lossless. The partition-per-shard contract is asserted in "
        "tests/test_el_fixture.py",
)
def el_tar_shards_native_read(spark, sf_dir):
    from mongo2pq_spark.sources.registry import read_sf_table
    from mongo2pq_spark.sources.staging import generation_tmp_dir
    from mongo2pq_spark.sources.tarshards import register_tarshards

    register_tarshards(spark)
    docs = read_sf_table(spark, sf_dir, "documents")
    outdir = generation_tmp_dir(sf_dir, "el_tar_native_out")
    (
        docs.select(
            F.concat(
                F.lit("doc"), F.col("doc_id").cast("string"), F.lit(".txt")
            ).alias("name"),
            F.encode(F.col("text"), "UTF-8").alias("payload"),
        )
        .repartition(4)
        .write.format("tarshards")
        .mode("overwrite")
        .save(outdir)
    )
    back = spark.read.format("tarshards").load(outdir)
    return back.select(
        F.regexp_extract(F.col("name"), r"^doc(\d+)\.txt$", 1)
        .cast("bigint")
        .alias("doc_id"),
        F.octet_length(F.col("payload")).cast("bigint").alias("n_bytes"),
        F.md5(F.col("payload")).alias("content_md5"),
    )


@register(
    "el_tar_manifest_scan",
    """
    SELECT 'meta' AS ext,
           count(*) AS n_members,
           count(*) AS n_null_payloads,
           CAST(sum(octet_length(encode(
               'doc' || CAST(doc_id AS VARCHAR) || '.meta'))) AS BIGINT)
               AS name_bytes
    FROM documents
    UNION ALL
    SELECT 'txt' AS ext,
           count(*) AS n_members,
           count(*) AS n_null_payloads,
           CAST(sum(octet_length(encode(
               'doc' || CAST(doc_id AS VARCHAR) || '.txt'))) AS BIGINT)
               AS name_bytes
    FROM documents
    """,
    doc="manifest-only tar-shard sweep (r14): two-part samples are "
        "written as shards, then scanned with "
        "option('payloads','false') — the native reader's manual "
        "column-pruning stand-in (Python DataSources get no pruning): "
        "members are never extracted, so a names/stats sweep of a "
        "100 TB corpus costs tar header parsing, not payload "
        "materialization. Per extension the member count and total "
        "name bytes must match the source table closed-form, and "
        "n_null_payloads MUST equal n_members — the oracle-visible "
        "proof that the scan really ran payload-free",
)
def el_tar_manifest_scan(spark, sf_dir):
    from mongo2pq_spark.sources.registry import read_sf_table
    from mongo2pq_spark.sources.staging import generation_tmp_dir
    from mongo2pq_spark.sources.tarshards import register_tarshards

    register_tarshards(spark)
    docs = read_sf_table(spark, sf_dir, "documents")
    key = F.concat(F.lit("doc"), F.col("doc_id").cast("string"))
    members = docs.select(
        F.concat(key, F.lit(".txt")).alias("name"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
    ).unionByName(
        docs.select(
            F.concat(key, F.lit(".meta")).alias("name"),
            F.encode(
                F.concat(
                    F.lit("lang="), F.col("lang"),
                    F.lit(";source="), F.col("source"),
                ),
                "UTF-8",
            ).alias("payload"),
        )
    )
    outdir = generation_tmp_dir(sf_dir, "el_tar_mscan_out")
    (
        members.repartition(4)
        .write.format("tarshards")
        .mode("overwrite")
        .save(outdir)
    )
    lean = (
        spark.read.format("tarshards")
        .option("payloads", "false")
        .load(outdir)
    )
    return (
        lean.select(
            F.regexp_extract("name", r"^[^.]*\.(.*)$", 1).alias("ext"),
            "name",
            "payload",
        )
        .groupBy("ext")
        .agg(
            F.count("*").alias("n_members"),
            F.sum(
                F.when(F.col("payload").isNull(), 1).otherwise(0)
            ).alias("n_null_payloads"),
            F.sum(F.octet_length("name")).alias("name_bytes"),
        )
    )


@register(
    "el_tar_member_glob_scan",
    """
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           md5(text) AS content_md5
    FROM documents
    """,
    doc="name-predicate tar-shard read (r15): mixed-content shards "
        "(every doc ships a .txt payload AND a .meta sidecar, the "
        "WebDataset norm) are scanned with "
        "option('member_glob','*.txt') — the native reader's manual "
        "stand-in for predicate pushdown on the member name (Python "
        "DataSources get neither pruning nor pushdown): non-matching "
        "members are skipped BEFORE extraction, so a tokens-only or "
        "metadata-only pass over a 100 TB mixed corpus never "
        "materializes the other modality's bytes. The Spark side "
        "parses doc_id with the STRICT .txt regex and does NOT "
        "filter: a leaked .meta member would surface as a NULL-id "
        "row and break the row-count/hash match — the oracle-visible "
        "proof the glob really filtered; per-doc md5 equality proves "
        "the matched members came back byte-exact",
)
def el_tar_member_glob_scan(spark, sf_dir):
    from mongo2pq_spark.sources.registry import read_sf_table
    from mongo2pq_spark.sources.staging import generation_tmp_dir
    from mongo2pq_spark.sources.tarshards import register_tarshards

    register_tarshards(spark)
    docs = read_sf_table(spark, sf_dir, "documents")
    key = F.concat(F.lit("doc"), F.col("doc_id").cast("string"))
    members = docs.select(
        F.concat(key, F.lit(".txt")).alias("name"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
    ).unionByName(
        docs.select(
            F.concat(key, F.lit(".meta")).alias("name"),
            F.encode(
                F.concat(
                    F.lit("lang="), F.col("lang"),
                    F.lit(";source="), F.col("source"),
                ),
                "UTF-8",
            ).alias("payload"),
        )
    )
    outdir = generation_tmp_dir(sf_dir, "el_tar_glob_out")
    (
        members.repartition(4)
        .write.format("tarshards")
        .mode("overwrite")
        .save(outdir)
    )
    back = (
        spark.read.format("tarshards")
        .option("member_glob", "*.txt")
        .load(outdir)
    )
    return back.select(
        F.regexp_extract(F.col("name"), r"^doc(\d+)\.txt$", 1)
        .cast("bigint")
        .alias("doc_id"),
        F.octet_length(F.col("payload")).cast("bigint").alias("n_bytes"),
        F.md5(F.col("payload")).alias("content_md5"),
    )


@register(
    "el_tar_reshard_roundtrip",
    """
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           md5(text) AS content_md5
    FROM documents
    """,
    doc="tar-shard RESHARDING (r14) — the WebDataset OPTIMIZE job: an "
        "existing snapshot written at an arbitrary shard count is "
        "native-read, rebalanced to ~64 KiB target shards via "
        "shard_members (ONE byte-sum aggregate + hash repartition on "
        "the sample key, the wds adjacency contract), and committed "
        "as a NEW immutable generation (the sink's append refusal is "
        "the design: generations never interleave). The second "
        "generation is then native-read and every member's bytes + "
        "md5 must still equal the source text closed-form — "
        "read -> reshard -> write -> read is value-lossless. This is "
        "the maintenance pass a crawler-fed landing corpus needs "
        "before training reads it (thousands of small drop shards -> "
        "sequential-throughput-sized shards)",
)
def el_tar_reshard_roundtrip(spark, sf_dir):
    from mongo2pq_spark.sources.registry import read_sf_table
    from mongo2pq_spark.sources.staging import generation_tmp_dir
    from mongo2pq_spark.sources.tarshards import (
        register_tarshards,
        shard_members,
    )

    register_tarshards(spark)
    docs = read_sf_table(spark, sf_dir, "documents")
    gen1 = generation_tmp_dir(sf_dir, "el_tar_reshard_gen1")
    gen2 = generation_tmp_dir(sf_dir, "el_tar_reshard_gen2")
    (
        docs.select(
            F.concat(
                F.lit("doc"), F.col("doc_id").cast("string"), F.lit(".txt")
            ).alias("name"),
            F.encode(F.col("text"), "UTF-8").alias("payload"),
        )
        .repartition(8)  # the "many small drop shards" starting state
        .write.format("tarshards")
        .mode("overwrite")
        .save(gen1)
    )
    back = spark.read.format("tarshards").load(gen1).select(
        "name", "payload"
    )
    resharded = shard_members(
        back,
        target_shard_bytes=64 << 10,
        key_expr=F.regexp_extract("name", r"^([^.]*)", 1),
    )
    resharded.sortWithinPartitions("name").write.format(
        "tarshards"
    ).mode("overwrite").save(gen2)
    final = spark.read.format("tarshards").load(gen2)
    return final.select(
        F.regexp_extract(F.col("name"), r"^doc(\d+)\.txt$", 1)
        .cast("bigint")
        .alias("doc_id"),
        F.octet_length(F.col("payload")).cast("bigint").alias("n_bytes"),
        F.md5(F.col("payload")).alias("content_md5"),
    )


@register(
    "el_tar_incremental_ship",
    """
    WITH gen_b AS (
        SELECT doc_id,
               CASE WHEN doc_id % 9 = 0 THEN text || ' [r16]'
                    ELSE text END AS text
        FROM documents WHERE doc_id % 11 != 0
    )
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           md5(text) AS content_md5
    FROM gen_b
    """,
    doc="SHARD-LEVEL incremental ship (r16, VERDICT r15 #6), proven "
        "on the raw tarshards machinery independent of the tokenize "
        "pipeline: generation A (full corpus as text members) ships "
        "once; generation B (doc_id%9==0 changed, doc_id%11==0 "
        "removed — closed-form) ships via write_shards_incremental, "
        "which rewrites ONLY the buckets the diff touched (pinned "
        "bucket space pmod(murmur3(name), n_shards), removals "
        "derived from a names-only header scan, clean-bucket "
        "membership verified name-for-name before shipping) and "
        "inherits every clean bucket's shard from gen A by manifest "
        "reference. The native read resolves owned + inherited and "
        "every member's bytes + md5 must equal generation B "
        "closed-form — the reuse-correctness oracle: a stale or "
        "missing inherited shard, a mis-bucketed member, or a "
        "dropped removal would all break the value hash. At 100 TB "
        "this is what makes a crawl-wave ship O(wave) in WRITE bytes "
        "too, not just in encode CPU",
)
def el_tar_incremental_ship(spark, sf_dir):
    from mongo2pq_spark.sources.registry import read_sf_table
    from mongo2pq_spark.sources.staging import generation_tmp_dir
    from mongo2pq_spark.sources.tarshards import (
        register_tarshards,
        shard_members,
        write_shards_incremental,
    )

    register_tarshards(spark)
    docs = read_sf_table(spark, sf_dir, "documents")
    as_members = lambda d: d.select(  # noqa: E731
        F.concat(
            F.lit("doc"), F.col("doc_id").cast("string"), F.lit(".txt")
        ).alias("name"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
    )
    gen_a_dir = generation_tmp_dir(sf_dir, "el_tar_incr_gen_a")
    (
        shard_members(as_members(docs), target_shard_bytes=64 << 10)
        .sortWithinPartitions("name")
        .write.format("tarshards")
        .mode("overwrite")
        .save(gen_a_dir)
    )
    gen_b = docs.filter(F.col("doc_id") % 11 != 0).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 9 == 0,
            F.concat(F.col("text"), F.lit(" [r16]")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    gen_b_dir = generation_tmp_dir(sf_dir, "el_tar_incr_gen_b")
    dirty = gen_b.filter(F.col("doc_id") % 9 == 0).select(
        F.concat(
            F.lit("doc"), F.col("doc_id").cast("string"), F.lit(".txt")
        ).alias("name")
    )
    write_shards_incremental(
        as_members(gen_b), gen_b_dir, gen_a_dir, dirty
    )
    back = spark.read.format("tarshards").load(gen_b_dir)
    return back.select(
        F.regexp_extract(F.col("name"), r"^doc(\d+)\.txt$", 1)
        .cast("bigint")
        .alias("doc_id"),
        F.octet_length(F.col("payload")).cast("bigint").alias("n_bytes"),
        F.md5(F.col("payload")).alias("content_md5"),
    )
