"""read_mongodump: inference-driven extended-JSON dump ingestion.

Covers the decode surface the reference implements per-row over BSON
(the reference's schema.py:110-164) plus the dirty-dump paths: raw
epoch-seconds numbers (±5-year heuristic → read as long/double →
timestamp[s] in the one ``Schema.apply`` cast), quoted scalars ("yes",
"12", ISO strings → read as string → parsed in that same cast) and
nested subdocuments (reference parity is to FAIL, schema.py:331-335;
on_nested='skip' drops the field instead). The CLI tests pin that a
mongodump collection is sampled once (``--samples`` documents),
inferred once and that inference is its dumped schema.
"""

import json
from datetime import datetime, timezone

import pytest

from mongo2pq_spark.exceptions import NestedValueError
from mongo2pq_spark.sources.mongodump import read_mongodump

#: an epoch-seconds value safely inside the ±5-year heuristic window
#: regardless of when the test runs (pinned to "now" at import)
EPOCH_NOW = int(datetime.now(tz=timezone.utc).timestamp())


@pytest.fixture()
def dump_path(tmp_path):
    docs = [
        {
            "_id": {"$oid": "64b0c0ffee64b0c0ffee0001"},
            "name": "alpha",
            "created": EPOCH_NOW,  # raw epoch int → timestamp[s]
            "score": 1.5,
            "ts": {"$date": "2024-01-05T10:20:30.123456"},
            "big": {"$numberLong": "9007199254740993"},
            "meta": {"kind": "click", "depth": 2},  # nested subdoc
        },
        {
            "_id": {"$oid": "64b0c0ffee64b0c0ffee0002"},
            "name": "beta",
            "created": EPOCH_NOW + 60,
            "score": 2.5,
            "ts": {"$date": {"$numberLong": "1704450030123"}},
            "big": {"$numberLong": "3"},
            "tags": ["a", "b"],  # nested array
        },
    ]
    path = tmp_path / "dump.jsonl"
    path.write_text("\n".join(json.dumps(d) for d in docs) + "\n")
    return str(path)


def test_epoch_ints_deliver_as_timestamps(spark, dump_path):
    df = read_mongodump(spark, dump_path)
    assert dict(df.dtypes)["created"] == "timestamp"
    got = {r["name"]: r["created"] for r in df.collect()}
    assert got["alpha"] == datetime.fromtimestamp(EPOCH_NOW, tz=timezone.utc).replace(
        tzinfo=None
    )
    assert got["beta"] == datetime.fromtimestamp(
        EPOCH_NOW + 60, tz=timezone.utc
    ).replace(tzinfo=None)


def test_date_wrappers_deliver_microsecond_timestamps(spark, dump_path):
    rows = {r["name"]: r for r in read_mongodump(spark, dump_path).collect()}
    assert rows["alpha"]["ts"] == datetime(2024, 1, 5, 10, 20, 30, 123456)
    # {$date: {$numberLong: ms}} decodes as epoch millis
    assert rows["beta"]["ts"] == datetime(2024, 1, 5, 10, 20, 30, 123000)


def test_nested_fields_skipped_by_default(spark, dump_path):
    df = read_mongodump(spark, dump_path)
    assert "meta" not in df.columns
    assert "tags" not in df.columns
    # scalar fields survive with reference-rule types
    dtypes = dict(df.dtypes)
    assert dtypes["_id"] == "string"  # ObjectId → 24-hex string
    assert dtypes["big"] == "bigint"  # $numberLong beyond int32 → int64
    assert dtypes["score"] == "float"  # float within float32 range


def test_nested_fields_raise_in_strict_mode(spark, dump_path):
    with pytest.raises(NestedValueError) as exc:
        read_mongodump(spark, dump_path, on_nested="raise")
    assert exc.value.field in ("meta", "tags")


def test_nested_value_error_is_not_implemented_error(spark, dump_path):
    # reference signal compatibility (schema.py:331-335 raises the
    # not-implemented signal): callers catching NotImplementedError
    # keep working
    with pytest.raises(NotImplementedError):
        read_mongodump(spark, dump_path, on_nested="raise")


def test_empty_dump_raises(spark, tmp_path):
    path = tmp_path / "empty.jsonl"
    path.write_text("")
    with pytest.raises(ValueError):
        read_mongodump(spark, str(path))


def test_malformed_line_failfast_names_file_and_line(spark, tmp_path):
    path = tmp_path / "bad.jsonl"
    path.write_text('{"a": 1}\nNOT JSON AT ALL\n{"a": 3}\n')
    with pytest.raises(Exception) as exc:
        read_mongodump(spark, str(path))
    assert "bad.jsonl:2" in str(exc.value)


def test_malformed_line_permissive_skips(spark, tmp_path):
    path = tmp_path / "mixed.jsonl"
    path.write_text('{"a": 1}\nNOT JSON\n[1, 2]\n{"a": 3}\n')
    df = read_mongodump(spark, str(path), mode="permissive")
    assert sorted(r["a"] for r in df.collect()) == [1, 3]


def test_cli_mongodump_source_format(spark, tmp_path):
    """CLI end-to-end over a real mongoexport-style dump: with
    --source-format mongodump the wrappers unwrap (ObjectId → string,
    $date → timestamp) and the EL output carries proper types instead
    of nested structs."""
    import json as jsonlib

    from mongo2pq_spark.cli import main as cli_main

    src = tmp_path / "src"
    out = tmp_path / "out"
    src.mkdir()
    docs = [
        {
            "_id": {"$oid": f"64b0c0ffee64b0c0ffee{i:04d}"},
            "ts": {"$date": "2024-01-05T10:20:30.123456"},
            "amount": {"$numberLong": str(100 + i)},
            "label": f"row{i}",
        }
        for i in range(20)
    ]
    (src / "ledger.jsonl").write_text(
        "\n".join(jsonlib.dumps(d) for d in docs) + "\n"
    )
    rc = cli_main(
        f"file:{src}",
        outdir=out,
        samples=20,
        source_format="mongodump",
        use_source_types=True,
        spark=spark,
    )
    assert rc == 0
    back = spark.read.parquet(str(out / "ledger.parquet"))
    dtypes = dict(back.dtypes)
    assert dtypes["_id"] == "string"
    assert dtypes["ts"] == "timestamp"
    assert back.count() == 20


def test_infer_fields_skip_drops_mixed_scalar_nested_field():
    """A field that is scalar in some docs and nested in others must be
    dropped WHOLESALE under skip (a scalar read schema would choke on
    the nested rows)."""
    from mongo2pq_spark.schema.inference import infer_fields_from_rows

    rows = [{"a": 1, "b": "x"}, {"a": {"k": 1}, "b": "y"}, {"a": 2, "b": "z"}]
    fields = infer_fields_from_rows(rows, on_nested="skip")
    assert "a" not in fields
    assert "b" in fields


def test_corrupt_wrapper_permissive_skips(spark, tmp_path):
    """A corrupt type WRAPPER (valid JSON, garbage inside) is the same
    corruption class as a malformed line: permissive skips it instead
    of failing the whole job."""
    path = tmp_path / "wrap.jsonl"
    path.write_text(
        '{"a": 1}\n'
        '{"a": 2, "w": {"$numberLong": "x"}}\n'
        '{"a": 3, "w": {"$date": "garbage"}}\n'
        '{"a": 4}\n'
    )
    df = read_mongodump(spark, str(path), mode="permissive")
    assert sorted(r["a"] for r in df.collect()) == [1, 4]


def test_corrupt_wrapper_failfast_names_file_and_line(spark, tmp_path):
    path = tmp_path / "wrap2.jsonl"
    path.write_text('{"a": 1}\n{"a": 2, "w": {"$numberLong": "x"}}\n')
    with pytest.raises(Exception) as exc:
        read_mongodump(spark, str(path))
    assert "wrap2.jsonl:2" in str(exc.value)


def test_mixed_epoch_and_date_wrapper_field(spark, tmp_path):
    """A field mixing raw epoch numbers with $date wrappers must be
    typed from ALL sampled values: every row lands as a timestamp with
    the wrapper rows exact to the microsecond."""
    docs = [
        {"name": "n1", "when": EPOCH_NOW},  # raw epoch int
        {"name": "n2", "when": {"$date": "2024-01-05T10:20:30.123456"}},
        {"name": "n3", "when": EPOCH_NOW + 5},
    ]
    path = tmp_path / "mixed_epoch.jsonl"
    path.write_text("\n".join(json.dumps(d) for d in docs) + "\n")
    df = read_mongodump(spark, str(path))
    assert dict(df.dtypes)["when"] == "timestamp"
    got = {r["name"]: r["when"] for r in df.collect()}
    assert got["n1"] == datetime.fromtimestamp(
        EPOCH_NOW, tz=timezone.utc
    ).replace(tzinfo=None)
    assert got["n2"] == datetime(2024, 1, 5, 10, 20, 30, 123456)
    assert got["n3"] == datetime.fromtimestamp(
        EPOCH_NOW + 5, tz=timezone.utc
    ).replace(tzinfo=None)


def test_on_nested_flatten_dotted_columns(spark, dump_path):
    """on_nested='flatten' delivers subdocument leaves as dotted-path
    columns with full inference (strings, ints); lists still fall to
    the skip rule."""
    df = read_mongodump(spark, dump_path, on_nested="flatten")
    dtypes = dict(df.dtypes)
    assert dtypes["meta.kind"] == "string"
    assert dtypes["meta.depth"] == "int"
    assert "meta" not in df.columns
    assert "tags" not in df.columns  # lists are never flattened
    got = {r["name"]: r for r in df.collect()}
    assert got["alpha"]["meta.kind"] == "click"
    assert got["alpha"]["meta.depth"] == 2
    assert got["beta"]["meta.kind"] is None  # doc without the subdoc


def test_flatten_recurses_multiple_levels(spark, tmp_path):
    docs = [
        {"n": 1, "a": {"b": {"c": 7, "d": "x"}}},
        {"n": 2, "a": {"b": {"c": 9, "d": "y"}}},
    ]
    path = tmp_path / "deep.jsonl"
    path.write_text("\n".join(json.dumps(d) for d in docs) + "\n")
    df = read_mongodump(spark, str(path), on_nested="flatten")
    rows = {r["n"]: r for r in df.collect()}
    assert rows[1]["a.b.c"] == 7 and rows[2]["a.b.d"] == "y"


def test_bad_on_nested_value_raises():
    import pytest as _pytest

    with _pytest.raises(ValueError):
        read_mongodump(None, "/nonexistent", on_nested="explode")


def test_cli_on_nested_flatten(spark, tmp_path):
    """--on-nested flatten end-to-end: nested subdocs land as typed
    dotted-path columns in the EL parquet output."""
    import json as jsonlib

    from mongo2pq_spark.cli import main as cli_main

    src = tmp_path / "src"
    out = tmp_path / "out"
    src.mkdir()
    docs = [
        {
            "_id": {"$oid": f"64b0c0ffee64b0c0ffee{i:04d}"},
            "meta": {"kind": "row", "depth": i},
        }
        for i in range(10)
    ]
    (src / "things.jsonl").write_text(
        "\n".join(jsonlib.dumps(d) for d in docs) + "\n"
    )
    rc = cli_main(
        f"file:{src}",
        outdir=out,
        samples=10,
        source_format="mongodump",
        on_nested="flatten",
        use_source_types=True,
        spark=spark,
    )
    assert rc == 0
    back = spark.read.parquet(str(out / "things.parquet"))
    dtypes = dict(back.dtypes)
    assert dtypes["meta.kind"] == "string"
    assert dtypes["meta.depth"] == "int"
    assert back.count() == 10


def test_flatten_nested_epoch_field_delivers_timestamp(spark, tmp_path):
    """A raw epoch int INSIDE a subdocument must survive the full
    pipeline: flatten → dotted field → ±5-year heuristic → long read
    type → timestamp in the one cast, on a backtick-quoted dotted
    column."""
    docs = [
        {"n": 1, "meta": {"created": EPOCH_NOW}},
        {"n": 2, "meta": {"created": EPOCH_NOW + 30}},
    ]
    path = tmp_path / "nested_epoch.jsonl"
    path.write_text("\n".join(json.dumps(d) for d in docs) + "\n")
    df = read_mongodump(spark, str(path), on_nested="flatten")
    assert dict(df.dtypes)["meta.created"] == "timestamp"
    got = {r["n"]: r["meta.created"] for r in df.collect()}
    assert got[1] == datetime.fromtimestamp(
        EPOCH_NOW, tz=timezone.utc
    ).replace(tzinfo=None)


def test_flatten_dotted_key_collision_takes_the_first_sampled_path(
    spark, tmp_path
):
    """A literal dotted key colliding with a flattened path is one
    column; a line holding both takes the value of the path the sample
    saw first (here the subdocument's), whatever the key order of that
    line."""
    docs = [
        {"n": 1, "a": {"b": 2}},
        {"n": 2, "a.b": 3},
        {"n": 3, "a.b": 4, "a": {"b": 5}},
        {"n": 4, "a": {"b": 7}, "a.b": 6},
    ]
    path = tmp_path / "collide.jsonl"
    path.write_text("\n".join(json.dumps(d) for d in docs) + "\n")
    df = read_mongodump(spark, str(path), on_nested="flatten")
    assert df.columns == ["n", "a.b"]
    assert sorted(tuple(r) for r in df.collect()) == [
        (1, 2), (2, 3), (3, 5), (4, 7),
    ]


def test_flatten_empty_subdoc_field_vanishes(spark, tmp_path):
    """Pin the documented flatten contract: a field holding an EMPTY
    subdocument contributes no dotted-path keys — it is absent from
    the peek's flattened document and therefore from the inferred
    schema (there is no scalar to carry; a NULL placeholder would
    invent a path the data never contains)."""
    from mongo2pq_spark.sources.mongodump import _decode_raw

    assert _decode_raw('{"a": {}, "n": 1}', True) == ({"n": 1}, {"n": ("n",)})
    assert _decode_raw('{"a": {"b": {}}, "n": 1}', True)[0] == {"n": 1}

    docs = [{"n": 1, "empty": {}}, {"n": 2, "empty": {}}]
    path = tmp_path / "empty.jsonl"
    path.write_text("\n".join(json.dumps(d) for d in docs) + "\n")
    df = read_mongodump(spark, str(path), on_nested="flatten")
    assert df.columns == ["n"]
    assert sorted(r["n"] for r in df.collect()) == [1, 2]


def test_multi_file_dump_reads_one_partition_per_file(spark, tmp_path):
    """The scan opens one input partition per dump file (its session's
    open cost is the split size, ``_split_session``), so a many-file
    dump dir reads in parallel — the distributed-read contract a
    single-task scan would silently break. Asserted from the executors'
    own spark_partition_id, not the planner's claim."""
    from pyspark.sql import functions as F

    d = tmp_path / "dump"
    d.mkdir()
    for i in range(4):
        docs = [{"n": i * 10 + j, "f": f"file{i}"} for j in range(5)]
        (d / f"part{i}.jsonl").write_text(
            "\n".join(json.dumps(x) for x in docs) + "\n"
        )
    df = read_mongodump(spark, str(d))
    pids = (
        df.select(F.spark_partition_id().alias("pid"))
        .distinct()
        .collect()
    )
    assert len(pids) == 4, f"expected 4 input partitions, got {len(pids)}"
    assert df.count() == 20


def test_split_single_file_parallel_and_identical(spark, tmp_path):
    """A single dump file larger than split_size must read as multiple
    byte-range partitions (no more 1-task scans of a huge mongoexport)
    and deliver EXACTLY the unsplit content — boundary lines belong to
    the split where they start, the next split discards its leading
    partial line."""
    from pyspark.sql import functions as F

    docs = [{"n": i, "pad": "x" * (17 + i % 13)} for i in range(500)]
    path = tmp_path / "big.jsonl"
    path.write_text("\n".join(json.dumps(d) for d in docs) + "\n")

    whole = read_mongodump(spark, str(path), split_size=0)
    split = read_mongodump(spark, str(path), split_size=512)
    n_parts = (
        split.select(F.spark_partition_id().alias("p")).distinct().count()
    )
    assert n_parts > 10, f"expected many byte-range splits, got {n_parts}"
    assert sorted(r["n"] for r in split.collect()) == sorted(
        r["n"] for r in whole.collect()
    ) == list(range(500))


def test_split_permissive_skips_corrupt_line_mid_split(spark, tmp_path):
    """Permissive mode must survive a corrupt line that lands inside an
    arbitrary split; failfast must name the byte offset."""
    import pytest as _pytest

    lines = [json.dumps({"n": i}) for i in range(100)]
    lines[57] = '{"n": 57, "w": {"$numberLong": "x"}}'
    path = tmp_path / "corrupt_split.jsonl"
    path.write_text("\n".join(lines) + "\n")

    ok = read_mongodump(
        spark, str(path), mode="permissive", sample_lines=10, split_size=256
    )
    got = sorted(r["n"] for r in ok.collect())
    assert got == [i for i in range(100) if i != 57]

    with _pytest.raises(Exception) as exc:
        read_mongodump(
            spark, str(path), sample_lines=10, split_size=256
        ).collect()
    assert "corrupt_split.jsonl:byte" in str(exc.value)


def test_cli_split_size_parallel_el(spark, tmp_path):
    """--split-size end-to-end: a single large dump EL-loads through
    byte-range partitions with content identical to the unsplit read."""
    from mongo2pq_spark.cli import main as cli_main

    src = tmp_path / "src"
    out = tmp_path / "out"
    src.mkdir()
    docs = [{"n": i, "name": f"doc{i}"} for i in range(300)]
    (src / "items.jsonl").write_text(
        "\n".join(json.dumps(d) for d in docs) + "\n"
    )
    rc = cli_main(
        uri=f"file:{src}",
        outdir=out,
        source_format="mongodump",
        split_size=256,
        spark=spark,
    )
    assert rc == 0
    back = spark.read.parquet(str(out / "items.parquet"))
    assert sorted(r["n"] for r in back.collect()) == list(range(300))


def test_mongodump_writer_roundtrip_and_wrap_rules(spark, tmp_path):
    """The write side of the interchange: $oid/$date/$numberLong/
    $numberDouble wrapping is the exact inverse of read_mongodump's
    unwrapping (lossless round trip incl. sub-ms timestamps and
    beyond-double-safe longs); nulls are omitted like mongoexport;
    binary columns fail loud; a rerun overwrites its own part files."""
    from datetime import datetime

    import pytest

    from mongo2pq_spark.sources.mongodump import (
        register_mongodump_source,
        wrap_extended_json,
    )

    register_mongodump_source(spark)
    rows = [
        ("64b5f0a1c2d3e4f5a6b7c8d9", 2**60, 1.5,
         datetime(2024, 1, 2, 3, 4, 5, 123456), "hi"),
        ("not-an-oid-string-xyz-!!", -7, float("inf"),
         datetime(2020, 6, 7), None),
    ]
    ddl = "_id string, big long, x double, ts timestamp, s string"
    df = spark.createDataFrame(rows, ddl)
    out = str(tmp_path / "dump")
    df.write.format("mongodump").mode("overwrite").save(out)
    df.write.format("mongodump").mode("overwrite").save(out)  # rerun

    back = read_mongodump(spark, out)
    got = sorted([tuple(r) for r in back.collect()])
    assert got == sorted(rows)

    # wrap rules, directly
    assert wrap_extended_json("64b5f0a1c2d3e4f5a6b7c8d9", "_id") == {
        "$oid": "64b5f0a1c2d3e4f5a6b7c8d9"
    }
    assert wrap_extended_json(
        "64b5f0a1c2d3e4f5a6b7c8d9", "other"
    ) == "64b5f0a1c2d3e4f5a6b7c8d9"
    assert wrap_extended_json(5) == 5
    assert wrap_extended_json(2**60) == {
        "$numberLong": str(2**60)
    }
    assert wrap_extended_json(True) is True  # bool is not wrapped int
    with pytest.raises(TypeError, match="binary"):
        wrap_extended_json(b"\x00\x01")


def test_mongodump_writer_overwrite_drops_stale_parts(spark, tmp_path):
    """mode('overwrite') after a WIDER previous write must not leave
    the old extra part files mixed into the read-back — commit prunes
    parts no task of the current write produced."""
    from mongo2pq_spark.sources.mongodump import register_mongodump_source

    register_mongodump_source(spark)
    ddl = "k long, v string"
    out = str(tmp_path / "dump")
    wide = spark.createDataFrame(
        [(i, f"w{i}") for i in range(8)], ddl
    ).repartition(6)
    wide.write.format("mongodump").mode("overwrite").save(out)
    narrow = spark.createDataFrame([(100, "only")], ddl).repartition(1)
    narrow.write.format("mongodump").mode("overwrite").save(out)
    back = read_mongodump(spark, out)
    assert [tuple(r) for r in back.collect()] == [(100, "only")]


def test_mongodump_writer_append_preserves_existing_parts(spark, tmp_path):
    """mode('append') must ADD to a previous write, not silently
    delete it (ADVICE r11: commit() pruned every part file the
    current write didn't produce regardless of mode). Append parts
    carry a per-write unique id so two appends never collide; only
    overwrite prunes."""
    from mongo2pq_spark.sources.mongodump import register_mongodump_source

    register_mongodump_source(spark)
    ddl = "k long, v string"
    out = str(tmp_path / "dump")
    first = spark.createDataFrame(
        [(i, f"a{i}") for i in range(4)], ddl
    ).repartition(2)
    first.write.format("mongodump").mode("overwrite").save(out)
    second = spark.createDataFrame([(100, "b0"), (101, "b1")], ddl)
    second.write.format("mongodump").mode("append").save(out)
    third = spark.createDataFrame([(200, "c0")], ddl)
    third.write.format("mongodump").mode("append").save(out)

    back = read_mongodump(spark, out)
    assert sorted(r["k"] for r in back.collect()) == [
        0, 1, 2, 3, 100, 101, 200,
    ]
    # ...and a subsequent overwrite prunes ALL of it, append ids
    # included
    narrow = spark.createDataFrame([(999, "z")], ddl).repartition(1)
    narrow.write.format("mongodump").mode("overwrite").save(out)
    back = read_mongodump(spark, out)
    assert [tuple(r) for r in back.collect()] == [(999, "z")]


def test_wrap_extended_json_tz_aware_normalizes_to_utc():
    """$date is UTC by definition: a tz-aware datetime must convert
    to UTC and drop the offset (ADVICE r11: isoformat()+'Z' emitted
    the invalid '…+05:30Z'); naive datetimes are stamped as UTC
    as-is (the documented session contract)."""
    from datetime import datetime, timedelta, timezone

    from mongo2pq_spark.sources.mongodump import wrap_extended_json

    ist = timezone(timedelta(hours=5, minutes=30))
    aware = datetime(2024, 1, 2, 9, 34, 5, tzinfo=ist)
    assert wrap_extended_json(aware) == {
        "$date": "2024-01-02T04:04:05.000Z"
    }
    utc = datetime(2024, 1, 2, 3, 4, 5, 123000, tzinfo=timezone.utc)
    assert wrap_extended_json(utc) == {
        "$date": "2024-01-02T03:04:05.123Z"
    }
    naive = datetime(2024, 1, 2, 3, 4, 5, 123456)
    assert wrap_extended_json(naive) == {
        "$date": "2024-01-02T03:04:05.123456Z"
    }


def test_mongodump_writer_struct_and_unsupported_types(spark, tmp_path):
    """Nested struct columns serialize as subdocuments (Row is a tuple
    subclass — the dedicated branch must win), and DateType / Decimal
    fail loud with guidance instead of a bare json error."""
    import json as jsonlib
    from datetime import date

    import pytest

    from mongo2pq_spark.sources.mongodump import (
        register_mongodump_source,
        wrap_extended_json,
    )

    register_mongodump_source(spark)
    ddl = "k long, s struct<a:int,b:string>"
    df = spark.createDataFrame([(1, (7, "x"))], ddl)
    out = str(tmp_path / "dump")
    df.write.format("mongodump").mode("overwrite").save(out)
    lines = []
    for f in sorted((tmp_path / "dump").glob("part-*")):
        lines += [l for l in f.read_text().splitlines() if l]
    assert jsonlib.loads(lines[0])["s"] == {"a": 7, "b": "x"}
    # on_nested="flatten" reads it back as dotted paths — the round
    # trip read_mongodump advertises for subdocuments
    back = read_mongodump(spark, out, on_nested="flatten")
    assert back.columns == ["k", "s.a", "s.b"]
    assert [tuple(r) for r in back.collect()] == [(1, 7, "x")]

    from decimal import Decimal

    with pytest.raises(TypeError, match="DateType"):
        wrap_extended_json(date(2024, 1, 2))
    with pytest.raises(TypeError, match="Decimal"):
        wrap_extended_json(Decimal("1.5"))


def test_sources_register_from_a_second_session(spark, dump_path, tmp_path):
    """Sessions of one context keep separate source registries, yet
    Spark checks a new name against the active session's: both
    Python sources must register (and resolve) from
    ``spark.newSession()`` after the first session registered them."""
    from mongo2pq_spark.sources.mongodump import register_mongodump_source
    from mongo2pq_spark.sources.tarshards import register_tarshards_sink

    register_mongodump_source(spark)
    register_tarshards_sink(spark)
    second = spark.newSession()
    register_mongodump_source(second)
    register_tarshards_sink(second)
    register_mongodump_source(second)  # idempotent within a session

    names = {r["name"] for r in read_mongodump(second, dump_path).collect()}
    assert names == {"alpha", "beta"}
    out = str(tmp_path / "shards")
    second.createDataFrame(
        [("a.txt", b"x")], "name string, payload binary"
    ).write.format("tarshards").mode("overwrite").save(out)
    back = second.read.format("tarshards").load(out).collect()
    assert [(r["name"], bytes(r["payload"])) for r in back] == [
        ("a.txt", b"x")
    ]


def _cli_dump(spark, tmp_path, name, docs, **kwargs):
    """Run ``cli.main`` over one mongodump collection; returns the
    dumped schema's fields and the written rows."""
    from mongo2pq_spark.cli import main as cli_main
    from mongo2pq_spark.schema.yaml_io import load_schema_from_file

    src, out = tmp_path / "src", tmp_path / "out"
    src.mkdir()
    (src / f"{name}.jsonl").write_text(
        "\n".join(json.dumps(d) for d in docs) + "\n"
    )
    rc = cli_main(
        f"file:{src}", outdir=out, source_format="mongodump", spark=spark,
        **kwargs,
    )
    assert rc == 0
    fields = load_schema_from_file(out / f"{name}.yaml").fields
    return fields, spark.read.parquet(str(out / f"{name}.parquet")).collect()


def test_cli_quoted_scalars_parse_in_the_one_cast(spark, tmp_path):
    """Fields that only ever hold QUOTED scalars ("yes"/"no", "12", ISO
    strings) read as strings and parse in the one cast: every row is
    written, the dumped schema carries the reference's types, and the
    Parquet values are parsed, not the raw text."""
    import pyarrow as pa

    docs = [
        {
            "_id": {"$oid": f"{i:024x}"},
            "answer": "yes" if i % 2 else "no",
            "qty_s": str(i % 50),
            "when_s": f"2025-01-{i % 28 + 1:02d}T10:00:00",
        }
        for i in range(60)
    ]
    fields, rows = _cli_dump(spark, tmp_path, "probe", docs)
    assert fields["answer"] == pa.bool_()
    assert fields["qty_s"] == pa.int32()
    assert fields["when_s"] == pa.date64()
    assert len(rows) == 60
    got = {int(r["_id"], 16): r for r in rows}
    for i in range(60):
        assert got[i]["answer"] is bool(i % 2)
        assert got[i]["qty_s"] == i % 50
        assert got[i]["when_s"] == datetime(2025, 1, i % 28 + 1, 10)


def test_cli_raw_epoch_fields_dump_as_timestamp_seconds(spark, tmp_path):
    """Raw epoch int and float fields keep the reference's
    ``timestamp[s]`` in the dumped schema (a second inference over the
    already-cast frame used to re-type them ``date64[ms]``)."""
    import pyarrow as pa

    docs = [
        {"n": i, "seen_at": EPOCH_NOW + i, "score_at": EPOCH_NOW + i + 0.5}
        for i in range(20)
    ]
    fields, rows = _cli_dump(spark, tmp_path, "epochs", docs)
    assert fields["seen_at"] == pa.timestamp("s")
    assert fields["score_at"] == pa.timestamp("s")
    got = {r["n"]: r for r in rows}
    utc = datetime.fromtimestamp(EPOCH_NOW + 3, tz=timezone.utc)
    assert got[3]["seen_at"] == utc.replace(tzinfo=None)
    assert got[3]["score_at"] == utc.replace(tzinfo=None, microsecond=500000)


def test_cli_mongodump_infers_once_from_the_samples_peek(
    spark, tmp_path, monkeypatch
):
    """A mongodump collection is inferred once, from the first
    ``samples`` documents: the distributed re-inference is never
    called, and a field first seen after the peek is not in the
    schema."""
    import pyarrow as pa

    from mongo2pq_spark.schema import inference

    def second_inference(*args, **kwargs):
        raise AssertionError("mongodump collection inferred twice")

    monkeypatch.setattr(inference, "infer_schema_from_df", second_inference)
    docs = [{"n": i} for i in range(10)]
    docs += [{"n": i, "late": "x"} for i in range(10, 20)]
    fields, rows = _cli_dump(spark, tmp_path, "peek", docs, samples=10)
    assert fields == {"n": pa.int32()}
    assert sorted(r["n"] for r in rows) == list(range(20))
    assert all("late" not in r.asDict() for r in rows)


# -- the JVM scan: one text scan, one from_json, the per-line checks kept --

#: plan nodes that would mean a Python worker touches every line; a
#: Python data source scan prints as ``BatchScan <name>[...] (Python)``
PYTHON_NODES = (
    "BatchEvalPython", "ArrowEvalPython", "MapInArrow", "MapInPandas",
    "(Python)",
)


def _executed_plan(df) -> str:
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001


def test_scan_plan_has_no_python_node_and_one_from_json(spark, dump_path):
    """The executed plan of ``read_mongodump`` decodes in the JVM: no
    Python node, and exactly one ``from_json`` — a filter on the parsed
    struct would be pushed below the projection and parse again."""
    for kwargs in ({}, {"on_nested": "flatten"}, {"mode": "permissive"}):
        plan = _executed_plan(read_mongodump(spark, dump_path, **kwargs))
        assert [n for n in PYTHON_NODES if n in plan] == [], plan
        assert plan.count("from_json(") == 1, plan


def test_cli_never_plans_the_python_reader(spark, tmp_path, monkeypatch):
    """``cli.main --source-format mongodump`` plans no read of the
    Python ``mongodump`` DataSource."""
    from pyspark.sql.readwriter import DataFrameReader

    real_format = DataFrameReader.format

    def format(self, source):
        assert source != "mongodump", "Python reader planned on the EL path"
        return real_format(self, source)

    monkeypatch.setattr(DataFrameReader, "format", format)
    docs = [{"_id": {"$oid": f"{i:024x}"}, "n": i} for i in range(12)]
    _, rows = _cli_dump(spark, tmp_path, "jvm", docs, split_size=64)
    assert sorted(r["n"] for r in rows) == list(range(12))


def test_split_size_leaves_the_caller_conf_alone(spark, tmp_path):
    """Spark takes the split size from the session, so the scan splits
    in a child session: the read splits, and the caller's
    ``spark.sql.files.*`` values are the same afterwards."""
    from pyspark.sql import functions as F

    def files_conf():
        conf = spark.conf.getAll
        return {k: v for k, v in conf.items() if k.startswith("spark.sql.files.")}, [
            spark.conf.get(k)
            for k in (
                "spark.sql.files.maxPartitionBytes",
                "spark.sql.files.openCostInBytes",
            )
        ]

    path = tmp_path / "conf.jsonl"
    path.write_text(
        "\n".join(json.dumps({"n": i, "pad": "x" * 20}) for i in range(400)) + "\n"
    )
    before = files_conf()
    df = read_mongodump(spark, str(path), split_size=512)
    parts = df.select(F.spark_partition_id()).distinct().count()
    assert df.count() == 400
    assert parts > 10
    assert files_conf() == before


def test_drifted_json_type_past_the_peek_marks_its_line_bad(spark, tmp_path):
    """A value past the peek whose JSON type drifts (``"abc"`` after
    int ``n`` values) no longer fails the job outright: failfast names
    the file and the split, permissive skips the line."""
    docs = [{"n": i} for i in range(20)] + [{"n": "abc"}]
    path = tmp_path / "drift.jsonl"
    path.write_text("\n".join(json.dumps(d) for d in docs) + "\n")

    ok = read_mongodump(spark, str(path), sample_lines=10, mode="permissive")
    assert sorted(r["n"] for r in ok.collect()) == list(range(20))

    with pytest.raises(Exception) as exc:
        read_mongodump(spark, str(path), sample_lines=10).collect()
    assert "drift.jsonl:bytes" in str(exc.value)


EQUIVALENCE_DOCS = [
    {
        "_id": {"$oid": "64b0c0ffee64b0c0ffee0001"},
        "iso": {"$date": "2024-01-05T10:20:30.123456"},
        "iso_z": {"$date": "2024-01-05T10:20:30.123Z"},
        "sub_us": {"$date": "2024-01-05T10:20:30.1234567Z"},
        "millis": {"$date": {"$numberLong": "1704450030123"}},
        "long": {"$numberLong": "9007199254740993"},
        "long_num": {"$numberLong": 12},
        "int32": {"$numberInt": "-7"},
        "double": {"$numberDouble": "1.5"},
        "inf": {"$numberDouble": "Infinity"},
        "oid_or_long": {"$oid": "abc"},
        "long_or_double": {"$numberLong": "5"},
        "epoch": EPOCH_NOW,
        "epoch_f": EPOCH_NOW + 0.25,
        "when": EPOCH_NOW,
        "count": 3,
        "ratio": 1,
        "flag": True,
        "text": "alpha",
        "mixed": 5,
        "meta": {"kind": "click", "at": {"$date": "2024-02-01T00:00:00Z"}},
    },
    {
        "_id": {"$oid": "64b0c0ffee64b0c0ffee0002"},
        "iso": {"$date": "2023-12-31T23:59:59"},
        "iso_z": {"$date": "2023-12-31T23:59:59Z"},
        "sub_us": None,
        "millis": {"$date": {"$numberLong": "-1000"}},
        "long": {"$numberLong": "-3"},
        "long_num": None,
        "int32": {"$numberInt": "2147483647"},
        "double": {"$numberDouble": "-2.25e3"},
        "inf": {"$numberDouble": "-Infinity"},
        "oid_or_long": {"$numberLong": "77"},
        "long_or_double": {"$numberDouble": "2.5"},
        "epoch": EPOCH_NOW + 1,
        "epoch_f": None,
        "when": {"$date": "2024-01-05T10:20:30.5Z"},
        "count": None,
        "ratio": 2.5,
        "flag": False,
        "text": "",
        "mixed": {"$numberLong": "6"},
        "meta": {"kind": "", "at": {"$date": {"$numberLong": "1706745600000"}}},
    },
    {
        "_id": {"$oid": "64b0c0ffee64b0c0ffee0003"},
        "when": {"$date": {"$numberLong": "1704450030000"}},
        "text": None,
        "mixed": "seven",
        "meta": {},
    },
]


def _field_value(value, as_str: bool):
    """A Python-decoded value as the scan delivers it in a column read
    as string (``as_str``): its text, a datetime in ISO form."""
    if not as_str or value is None or isinstance(value, str):
        return value
    return value.isoformat() if isinstance(value, datetime) else str(value)


def assert_jvm_and_python_are_equal_collect(spark, path, flatten):
    """Collect the JVM scan once (before the cast) and compare it, row
    for row, with the pure-Python decode of the same lines (the peek's
    ``_decode_raw`` + ``_unwrap_doc``, then ``_field_value``) under the
    same read types."""
    from pyspark.sql import types as T

    from mongo2pq_spark.sources import mongodump

    on_nested = "flatten" if flatten else "skip"
    _, reads = mongodump._peek([path], 100, flatten, on_nested, "failfast")
    jvm = mongodump._scan(spark, [path], reads, "failfast", 0).collect()
    python = []
    with open(path) as fh:
        for line in fh:
            if not line.strip():
                continue
            doc = mongodump._unwrap_doc(mongodump._decode_raw(line, flatten)[0])
            python.append(tuple(
                _field_value(doc.get(name), isinstance(read.type, T.StringType))
                for name, read in reads.items()
            ))
    assert [tuple(r) for r in jvm] == python
    return reads


@pytest.mark.parametrize("flatten", [False, True])
def test_jvm_scan_equals_the_python_decode(spark, tmp_path, flatten):
    """Every wrapper shape, ``$date`` with and without ``Z`` and past
    millisecond precision, raw epoch numbers, fields mixing wrappers
    with scalars, nulls and empty strings, blank lines, and flatten:
    the JVM scan delivers what the Python decode does."""
    from pyspark.sql import types as T

    path = tmp_path / "equiv.jsonl"
    lines = [json.dumps(d) for d in EQUIVALENCE_DOCS]
    path.write_text(lines[0] + "\n\n" + lines[1] + "\n   \n" + lines[2] + "\n")
    reads = assert_jvm_and_python_are_equal_collect(spark, str(path), flatten)
    read_types = {name: read.type for name, read in reads.items()}
    # the fixture covers each read shape
    assert isinstance(read_types["when"], T.StringType)  # epoch + $date
    assert isinstance(read_types["mixed"], T.StringType)  # int + wrapper
    assert isinstance(read_types["millis"], T.TimestampType)
    assert isinstance(read_types["oid_or_long"], T.StringType)
    assert isinstance(read_types["long_or_double"], T.DoubleType)
    assert ("meta.at" in reads) is flatten


def test_oid_payloads_type_as_string(spark, tmp_path, monkeypatch):
    """An ObjectId is a string, as in the reference: an all-digit hex
    ``$oid`` keeps its leading zeros, and the peek never runs the
    speculative string parsers over it."""
    from mongo2pq_spark.schema import inference
    from mongo2pq_spark.sources.mongodump import read_mongodump_fields

    path = tmp_path / "oids.jsonl"
    path.write_text("".join(
        json.dumps({"_id": {"$oid": f"{i:024x}"}, "n": i}) + "\n"
        for i in range(1, 6)
    ))
    parsed = []
    cast = inference.cast_from_string
    monkeypatch.setattr(
        inference, "cast_from_string", lambda v: parsed.append(v) or cast(v)
    )
    df, fields = read_mongodump_fields(
        spark, str(path), 100, "raise", "failfast", 128 * 1024 * 1024
    )
    assert str(fields["_id"]) == "string"
    assert dict(df.dtypes)["_id"] == "string"
    assert sorted(r["_id"] for r in df.collect()) == [
        f"{i:024x}" for i in range(1, 6)
    ]
    assert parsed == []
