"""End-to-end EL tests over the FIXTURES.md F1 dirty-inference fixture:
JSONL source (Mongo stand-in) → CLI orchestration → inferred YAML
schema → config rewrite → partitioned parquet → re-read assertions.
"""

import json
import random
from datetime import datetime, timedelta
from pathlib import Path

import pyarrow as pa
import pytest

from mongo2pq_spark.cli import main as cli_main, parse_args
from mongo2pq_spark.schema.yaml_io import dump_schema_to_file, load_schema_from_file
from mongo2pq_spark.schema.model import Schema

N_ROWS = 600

F3_CONFIG = """
schema:
  telemetry_data:
    - type: retype_equals
      fieldname: telemetry_snapshot_time
      fieldtype: timestamp[ms]
    - type: retype_regex
      fieldname: (?<!numeric_)id
      fieldtype: string
    - type: retype_contains
      fieldname: orientation
      fieldtype: float
    - type: rename_regex
      oldname: (\\S+)_(\\S+)
      newname: \\2_\\1
"""


def _generate_f1(path: Path, n: int = N_ROWS) -> None:
    """FIXTURES.md F1 telemetry_data rows, deterministic (seed 42)."""
    rng = random.Random(42)
    now = datetime.now()
    with path.open("w") as out:
        for i in range(n):
            row = {
                "_id": "".join(rng.choices("0123456789abcdef", k=24)),
                "numeric_id": str(rng.randint(1, 2**31 - 1)),
                "big_id": str(rng.randint(2**31, 2**62)),
                "huge_id": str(rng.randint(2**63 + 1, 2**80)),
                "flap_orientation": (
                    f"{rng.uniform(0, 40):.1f}" if rng.random() < 0.10
                    else str(rng.randint(0, 40))
                ),
                "telemetry_snapshot_time": (
                    now - timedelta(hours=rng.randint(1, 5000))
                ).isoformat(timespec="seconds"),
                "event_day": (now - timedelta(days=rng.randint(0, 800))).strftime(
                    "%Y-%m-%d"
                ),
                "recorded_ts": (
                    f"{now.timestamp() - rng.uniform(0, 3.1e7):.2f}"
                    if rng.random() < 0.10
                    else str(int(now.timestamp()) - rng.randint(0, 31_000_000))
                ),
                "plain_count": str(rng.randint(100_000, 10**9)),
                "is_active": (
                    rng.choice(["yes", "no"]) if rng.random() < 0.20
                    else rng.choice(["true", "false"])
                ),
                "engine_temp": (
                    None if rng.random() < 0.05
                    else "" if rng.random() < 0.05
                    else f"{rng.uniform(50, 150):.2f}"
                ),
                "zero_val": "0" if rng.random() < 0.30 else str(rng.randint(1, 100)),
                "note": rng.choice(["all good", "42abc", "needs check", "ok"]),
                "mixed_chaos": rng.choice(["7", "seven", "true"]),
                "datapoint_source": rng.choice(["sensor_a", "sensor_b"]),
            }
            if rng.random() < 0.01:
                row["sparse_field"] = "rare"
            if rng.random() < 0.02:
                row["ghost_field"] = "boo"
            out.write(json.dumps(row) + "\n")


@pytest.fixture(scope="module")
def f1_run(spark, tmp_path_factory):
    src = tmp_path_factory.mktemp("f1_src")
    out = tmp_path_factory.mktemp("f1_out")
    _generate_f1(src / "telemetry_data.jsonl")
    cfg = src / "config.yaml"
    cfg.write_text(F3_CONFIG)
    rc = cli_main(
        f"file:{src}",
        outdir=out,
        config_file=cfg,
        samples=N_ROWS,
        debug_config=True,
        spark=spark,
    )
    assert rc == 0
    return src, out


def test_inferred_schema_types(f1_run):
    _, out = f1_run
    schema = load_schema_from_file(out / "telemetry_data.yaml")
    fields = schema.fields
    assert fields["_id"].equals(pa.string())
    assert fields["numeric_id"].equals(pa.int32())
    assert fields["big_id"].equals(pa.int64())
    assert fields["huge_id"].equals(pa.string())          # > int64 → string
    assert fields["flap_orientation"].equals(pa.float32())  # int ⊔ float
    assert fields["telemetry_snapshot_time"].equals(pa.date64())
    assert fields["event_day"].equals(pa.date32())
    assert fields["recorded_ts"].equals(pa.timestamp("s"))  # epoch heuristic
    assert fields["plain_count"].equals(pa.int32())       # heuristic must NOT fire
    assert fields["is_active"].equals(pa.bool_())
    assert fields["engine_temp"].equals(pa.float32())     # ""/None don't poison
    assert fields["note"].equals(pa.string())
    assert fields["mixed_chaos"].equals(pa.string())      # lattice fallback
    assert "sparse_field" in fields


def test_config_applied_schema(f1_run):
    _, out = f1_run
    applied = load_schema_from_file(out / "telemetry_data_config_applied.yaml")
    fields = applied.fields
    # retype_equals + rename (\S+)_(\S+) → \2_\1 (greedy: split at LAST _)
    assert fields["time_telemetry_snapshot"].equals(pa.timestamp("ms"))
    # (?<!numeric_)id: big_id retyped to string, numeric_id untouched
    assert fields["id_big"].equals(pa.string())
    assert fields["id_numeric"].equals(pa.int32())
    assert fields["orientation_flap"].equals(pa.float32())


def test_exported_parquet(f1_run, spark):
    _, out = f1_run
    df = spark.read.parquet(str(out / "telemetry_data.parquet"))
    assert df.count() == N_ROWS
    dtypes = dict(df.dtypes)
    assert dtypes["id_numeric"] == "int"
    assert dtypes["id_big"] == "string"
    assert dtypes["ts_recorded"] == "timestamp"
    assert dtypes["active_is"] == "boolean"
    assert dtypes["day_event"] == "date"
    # falsy-drop: empty-string engine_temp exported as null, not 0
    temps = df.select("temp_engine").collect()
    assert any(r.temp_engine is None for r in temps)
    # ghost_field was inferred (it exists in data) — full-sample run keeps it
    assert "field_ghost" in df.columns


def test_partitioned_cli_layout(spark, tmp_path):
    src = tmp_path / "src"
    out = tmp_path / "out"
    src.mkdir()
    _generate_f1(src / "telemetry_data.jsonl", n=200)
    rc = cli_main(
        f"file:{src}",
        outdir=out,
        partition_key="datapoint_source",
        samples=200,
        spark=spark,
    )
    assert rc == 0
    dataset = out / "telemetry_data.parquet"
    parts = {p.name for p in dataset.iterdir() if p.is_dir()}
    assert parts == {"datapoint_source=sensor_a", "datapoint_source=sensor_b"}


def test_schema_file_prunes_ghost(spark, tmp_path):
    """A supplied schema (as if inferred from a sample missing
    ghost_field) drops the column at export — SURVEY O-6."""
    src = tmp_path / "src"
    out = tmp_path / "out"
    src.mkdir()
    _generate_f1(src / "telemetry_data.jsonl", n=150)
    fields = {
        "_id": pa.string(),
        "numeric_id": pa.int32(),
        "is_active": pa.bool_(),
        "datapoint_source": pa.string(),
    }
    schema_file_dir = tmp_path / "schemas"
    dump_schema_to_file(Schema("telemetry_data", fields), destination=schema_file_dir)
    rc = cli_main(
        f"file:{src}",
        outdir=out,
        schema_paths=[schema_file_dir / "telemetry_data.yaml"],
        spark=spark,
    )
    assert rc == 0
    df = spark.read.parquet(str(out / "telemetry_data.parquet"))
    assert set(df.columns) == set(fields)


def test_broken_schema_file_falls_back(spark, tmp_path):
    src = tmp_path / "src"
    out = tmp_path / "out"
    src.mkdir()
    _generate_f1(src / "telemetry_data.jsonl", n=100)
    bad = tmp_path / "telemetry_data.yaml"
    bad.write_text("!schema\nname: telemetry_data\nfields:\n  a: notatype\n")
    rc = cli_main(
        f"file:{src}", outdir=out, schema_paths=[bad], samples=100, spark=spark
    )
    assert rc == 0  # warned, inferred instead
    assert (out / "telemetry_data.yaml").exists()


def test_binary_column_parquet_el(spark, tmp_path):
    """Binary payloads can't ride JSONL; the parquet source path must
    infer `binary` (contagion) and round-trip bytes exactly."""
    import pyarrow as pa_mod
    import pyarrow.parquet as pq

    src = tmp_path / "src"
    out = tmp_path / "out"
    src.mkdir()
    table = pa_mod.table(
        {
            "blob_id": pa_mod.array([1, 2, 3], pa_mod.int64()),
            "payload": pa_mod.array([b"\x00\x01", b"xyz", None], pa_mod.binary()),
            "kind": pa_mod.array(["a", "b", "a"], pa_mod.string()),
        }
    )
    pq.write_table(table, src / "blobs.parquet")
    rc = cli_main(f"file:{src}", outdir=out, samples=10, spark=spark)
    assert rc == 0
    schema = load_schema_from_file(out / "blobs.yaml")
    assert schema.fields["payload"].equals(pa.binary())
    back = {r.blob_id: r.payload for r in
            spark.read.parquet(str(out / "blobs.parquet")).collect()}
    assert back[1] == b"\x00\x01" and back[2] == b"xyz" and back[3] is None


def test_use_source_types_preserves_widths(spark, tmp_path):
    """--use-source-types: parquet→parquet EL is type-preserving (no
    value-based int narrowing)."""
    import pyarrow as pa_mod
    import pyarrow.parquet as pq

    src = tmp_path / "src"
    out = tmp_path / "out"
    src.mkdir()
    pq.write_table(
        pa_mod.table({"small_id": pa_mod.array([1, 2, 3], pa_mod.int64())}),
        src / "typed.parquet",
    )
    rc = cli_main(f"file:{src}", outdir=out, use_source_types=True, spark=spark)
    assert rc == 0
    schema = load_schema_from_file(out / "typed.yaml")
    assert schema.fields["small_id"].equals(pa.int64())  # NOT narrowed


def test_cli_rerun_overwrites(spark, tmp_path):
    src = tmp_path / "src"
    out = tmp_path / "out"
    src.mkdir()
    _generate_f1(src / "telemetry_data.jsonl", n=120)
    for _ in range(2):  # second run must overwrite cleanly
        assert cli_main(f"file:{src}", outdir=out, samples=120, spark=spark) == 0
    df = spark.read.parquet(str(out / "telemetry_data.parquet"))
    assert df.count() == 120  # not doubled


def test_parallel_collections_and_file_cap(spark, sf_dir, tmp_path):
    """Two collections EL'd concurrently; maxRecordsPerFile splits
    output files."""
    from mongo2pq_spark.plans.pipeline import extract_load_collection
    from mongo2pq_spark.schema.model import Schema
    from mongo2pq_spark.sources.registry import read_sf_table

    src = tmp_path / "src"
    out = tmp_path / "out"
    src.mkdir()
    _generate_f1(src / "coll_a.jsonl", n=80)
    _generate_f1(src / "coll_b.jsonl", n=80)
    rc = cli_main(
        f"file:{src}", outdir=out, samples=80, parallel_collections=2, spark=spark
    )
    assert rc == 0
    for name in ("coll_a", "coll_b"):
        assert spark.read.parquet(str(out / f"{name}.parquet")).count() == 80

    # small-file control: cap forces multiple part files
    df = read_sf_table(spark, sf_dir, "events").coalesce(1)
    schema = Schema.from_df("events_capped", df)
    path = extract_load_collection(
        df, schema, tmp_path, max_records_per_file=300
    )
    parts = [p for p in Path(path).iterdir() if p.suffix == ".parquet"]
    assert len(parts) == 4  # 1000 rows / 300-cap from one task: 300×3 + 100
    import pyarrow.parquet as pq

    assert all(pq.read_metadata(p).num_rows <= 300 for p in parts)


def test_dynamic_partition_overwrite_backfill(spark, sf_dir, tmp_path):
    """Incremental backfill: overwriting with only ONE partition's data
    under dynamic mode replaces that partition and leaves the rest of
    the dataset untouched (static overwrite would wipe them)."""
    from pyspark.sql import functions as F

    from mongo2pq_spark.plans.pipeline import extract_load_collection
    from mongo2pq_spark.schema.model import Schema
    from mongo2pq_spark.sources.registry import read_sf_table

    df = read_sf_table(spark, sf_dir, "events")
    schema = Schema.from_df("events_dyn", df)
    path = extract_load_collection(
        df, schema, tmp_path, partition_key="event_type"
    )
    before = {
        r["event_type"]: r["n"]
        for r in spark.read.parquet(path)
        .groupBy("event_type").agg(F.count("*").alias("n")).collect()
    }

    # re-extract ONLY the click partition, doubled
    clicks = df.filter(F.col("event_type") == "click")
    doubled = clicks.unionByName(clicks)
    extract_load_collection(
        doubled,
        schema,
        tmp_path,
        partition_key="event_type",
        dynamic_partition_overwrite=True,
    )
    after = {
        r["event_type"]: r["n"]
        for r in spark.read.parquet(path)
        .groupBy("event_type").agg(F.count("*").alias("n")).collect()
    }
    assert after["click"] == 2 * before["click"]
    for etype, n in before.items():
        if etype != "click":
            assert after[etype] == n  # untouched partitions survive


def test_write_observation_metrics(spark, sf_dir, tmp_path):
    """rows_written is measured by the write job itself (Observation on
    the sink projection) — it must equal the actual row count with no
    second scan issued by the pipeline."""
    from mongo2pq_spark.plans.pipeline import extract_load_collection
    from mongo2pq_spark.schema.model import Schema
    from mongo2pq_spark.sources.registry import read_sf_table

    df = read_sf_table(spark, sf_dir, "events")
    schema = Schema.from_df("events_obs", df)
    metrics: dict = {}
    path = extract_load_collection(
        df, schema, tmp_path, partition_key="event_type", metrics=metrics
    )
    assert metrics["rows_written"] == spark.read.parquet(path).count()


def test_compression_codec_roundtrip(spark, sf_dir, tmp_path):
    """Per-write codec choice (cold corpus storage wants zstd, hot
    intermediates snappy): files carry the codec marker and read back
    value-identical."""
    from mongo2pq_spark.plans.pipeline import extract_load_collection
    from mongo2pq_spark.schema.model import Schema
    from mongo2pq_spark.sources.registry import read_sf_table

    df = read_sf_table(spark, sf_dir, "events")
    schema = Schema.from_df("events_zstd", df)
    path = extract_load_collection(df, schema, tmp_path, compression="zstd")
    parts = [p for p in Path(path).iterdir() if p.suffix == ".parquet"]
    assert parts and all(".zstd." in p.name for p in parts)
    back = spark.read.parquet(path)
    assert back.count() == df.count()
    import pyarrow.parquet as pq

    meta = pq.ParquetFile(parts[0]).metadata
    codecs = {
        meta.row_group(i).column(0).compression
        for i in range(meta.num_row_groups)
    }
    assert codecs == {"ZSTD"}


def test_dedup_during_el(spark, tmp_path):
    """--dedup-text-col drops exact duplicate texts (min-id survivor)
    during extract-load; collections without the column are untouched."""
    src = tmp_path / "src"
    out = tmp_path / "out"
    src.mkdir()
    rows = [
        {"rec_id": "1", "body": "same text", "tag": "x"},
        {"rec_id": "2", "body": "same text", "tag": "y"},
        {"rec_id": "3", "body": "unique text", "tag": "z"},
    ]
    (src / "docs.jsonl").write_text("\n".join(json.dumps(r) for r in rows) + "\n")
    (src / "other.jsonl").write_text('{"k": "1"}\n{"k": "2"}\n')
    rc = cli_main(
        f"file:{src}", outdir=out, samples=10, dedup_text_col="body", spark=spark
    )
    assert rc == 0
    docs = spark.read.parquet(str(out / "docs.parquet"))
    kept = sorted(r.rec_id for r in docs.collect())
    assert kept == [1, 3]  # min-id survivor of the dup pair + the unique row
    assert spark.read.parquet(str(out / "other.parquet")).count() == 2


def test_partial_failure_reports_and_continues(spark, tmp_path, capsys):
    """One collection fails (partition key absent) → exit 1, the other
    collection still completes, and the failure names the collection."""
    src = tmp_path / "src"
    out = tmp_path / "out"
    src.mkdir()
    _generate_f1(src / "good.jsonl", n=60)
    (src / "bad.jsonl").write_text('{"only_field": "x"}\n' * 30)
    rc = cli_main(
        f"file:{src}",
        outdir=out,
        partition_key="datapoint_source",  # absent from 'bad'
        samples=60,
        parallel_collections=2,
        spark=spark,
    )
    assert rc == 1
    assert (out / "good.parquet").exists()
    err = capsys.readouterr().err
    assert "collection 'bad' failed" in err


def test_missing_source_dir_fails(spark, tmp_path):
    assert cli_main(f"file:{tmp_path}/nope", outdir=tmp_path, spark=spark) == 1


def test_parse_args_surface(tmp_path, capsys):
    assert parse_args([]) is None  # no URI → usage error
    ns = parse_args(["-u", "file:/x", "-p", "key", "-s", "500"])
    assert ns.partition == "key" and ns.samples == 500
    missing = tmp_path / "missing.yaml"
    ns = parse_args(["-u", "file:/x", "-S", str(missing)])
    assert ns.schemas == []  # warned and dropped
    # media store flags demand the media source format (they
    # fingerprint binary payload columns that only it produces), and
    # the consolidate flag demands a store — hard errors, not no-ops
    assert parse_args(["-u", "file:/x", "--media-afp-store", "/s"]) is None
    assert parse_args(
        ["-u", "file:/x", "--source-format", "media",
         "--media-store-consolidate"]
    ) is None
    ns = parse_args(
        ["-u", "file:/x", "--source-format", "media",
         "--media-afp-store", "/s", "--media-store-consolidate"]
    )
    assert ns is not None and ns.media_store_consolidate
    # BPE pinning: merges need the column, learning needs the artifact
    assert parse_args(["-u", "file:/x", "--bpe-merges", "/m"]) is None
    assert parse_args(["-u", "file:/x", "--bpe-learn", "50"]) is None
    ns = parse_args(
        ["-u", "file:/x", "--bpe-merges", "/m",
         "--bpe-text-col", "text", "--bpe-learn", "50"]
    )
    assert ns is not None and ns.bpe_learn == 50


def test_single_file_compat_layout(spark, tmp_path):
    """--single-file reproduces the reference's exact layout: ONE
    part file per collection dataset (extract_load.py:40-45)."""
    src = tmp_path / "src"
    out = tmp_path / "out"
    src.mkdir()
    _generate_f1(src / "telemetry_data.jsonl", n=100)
    rc = cli_main(
        f"file:{src}", outdir=out, samples=100, single_file=True, spark=spark
    )
    assert rc == 0
    dataset = out / "telemetry_data.parquet"
    parts = [p for p in dataset.iterdir() if p.name.startswith("part-")]
    assert len(parts) == 1
    assert spark.read.parquet(str(dataset)).count() == 100


def test_single_file_rejects_partition_key(spark, tmp_path):
    import pytest as _pytest

    from mongo2pq_spark.plans.pipeline import extract_load_collection
    from mongo2pq_spark.sources.registry import read_sf_table

    events = read_sf_table(spark, "/root/testdata/sf0.001", "events")
    schema = Schema.from_df("events", events)
    with _pytest.raises(ValueError, match="single_file"):
        extract_load_collection(
            events, schema, tmp_path, partition_key="event_type", single_file=True
        )


def test_csv_collection_el(spark, tmp_path):
    """A .csv stand-in collection flows through the full pipeline:
    all-string delivery -> speculative-parse inference -> typed parquet."""
    src = tmp_path / "src"
    out = tmp_path / "out"
    src.mkdir()
    (src / "metrics.csv").write_text(
        "rec_id,score,label\n1,10.5,a\n2,11.25,b\n3,9.75,a\n"
    )
    rc = cli_main(f"file:{src}", outdir=out, samples=10, spark=spark)
    assert rc == 0
    got = spark.read.parquet(str(out / "metrics.parquet"))
    types = dict(got.dtypes)
    assert types["rec_id"] == "int"
    assert types["score"] == "float"
    assert got.count() == 3


def test_cli_near_dedup_store_across_runs(spark, sf_dir, tmp_path):
    """--near-dedup-store: a second EL run over re-crawled copies of
    already-ingested documents drops them against the persistent band
    index at O(increment) cost; genuinely new documents pass. Also:
    the flag without --dedup-text-col is an argparse-level error."""
    from pyspark.sql import functions as F

    from mongo2pq_spark.cli import parse_args

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    run1_src = tmp_path / "run1"
    run2_src = tmp_path / "run2"
    run1_src.mkdir()
    run2_src.mkdir()
    docs.filter(F.col("doc_id") < 100).write.parquet(
        str(run1_src / "docs.parquet")
    )
    # run 2 = 50 re-crawled copies (same text, fresh ids) + 30 new docs
    copies = docs.filter(F.col("doc_id") < 50).withColumn(
        "doc_id", F.col("doc_id") + 10_000
    )
    fresh = docs.filter(
        (F.col("doc_id") >= 100) & (F.col("doc_id") < 130)
    )
    copies.unionByName(fresh).write.parquet(str(run2_src / "docs.parquet"))

    store = tmp_path / "bandstore"
    out1, out2 = tmp_path / "out1", tmp_path / "out2"
    for src, out in ((run1_src, out1), (run2_src, out2)):
        rc = cli_main(
            f"file:{src}",
            outdir=out,
            dedup_text_col="text",
            dedup_id_col="doc_id",
            near_dedup_store=store,
            use_source_types=True,
            spark=spark,
        )
        assert rc == 0

    written2 = spark.read.parquet(str(out2 / "docs.parquet"))
    ids2 = {r.doc_id for r in written2.select("doc_id").collect()}
    # every re-crawled copy collided with run 1's bands and was dropped
    assert not any(i >= 10_000 for i in ids2)
    # the genuinely new docs survived (near-dup-free fixture range)
    assert {i for i in ids2 if 100 <= i < 130}
    # store layout: per-batch sig + band partitions and done markers
    assert len(list((store / "docs" / "sigs").glob("batch=*"))) == 2
    assert len(list((store / "docs" / "bands").glob("batch=*"))) == 2
    assert len(list((store / "docs" / "runs").glob("*.done"))) == 2

    # RERUN of run 2 (operator retry / idempotent replay): the probe
    # excludes the batch's own partitions, so the output must be
    # byte-identical — NOT emptied by self-collision with the bands
    # this very batch committed
    rc = cli_main(
        f"file:{run2_src}",
        outdir=out2,
        dedup_text_col="text",
        dedup_id_col="doc_id",
        near_dedup_store=store,
        use_source_types=True,
        spark=spark,
    )
    assert rc == 0
    rerun_ids = {
        r.doc_id
        for r in spark.read.parquet(str(out2 / "docs.parquet"))
        .select("doc_id")
        .collect()
    }
    assert rerun_ids == ids2

    # flag without the text column: hard error, not a silent no-op
    assert parse_args(
        ["-u", f"file:{run1_src}", "--near-dedup-store", str(store)]
    ) is None

    # parameter drift against an existing store: hard error (probing
    # across minhash-parameter changes yields garbage candidates)
    import pytest

    from mongo2pq_spark.plans.neardedup_store import NearDedupStore

    with pytest.raises(ValueError, match="different parameters"):
        NearDedupStore(store, "docs", text_col="text", k=16)
    # non-local store roots are rejected up front, not silently no-op'd
    with pytest.raises(ValueError, match="driver-visible"):
        NearDedupStore("s3://bucket/bands", "docs", text_col="text")


def test_cli_near_dedup_consolidate_increment_parity(spark, sf_dir, tmp_path):
    """--near-dedup-consolidate end to end at the CLI level: three EL
    increments, consolidation as part of run 3, then a fourth
    increment containing re-crawled copies of docs from EVERY earlier
    increment — its written output must be IDENTICAL to the same four
    runs against a never-consolidated store (consolidation changes
    maintenance cost, never a dedup decision), and the consolidated
    store's trees must have collapsed to batch=c0 (+ run 4's own
    partition). Also: the flag without --near-dedup-store is an
    argparse-level error."""
    from pyspark.sql import functions as F

    from mongo2pq_spark.cli import parse_args

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    increments = [
        docs.filter(F.col("doc_id") < 40),
        docs.filter((F.col("doc_id") >= 40) & (F.col("doc_id") < 80)),
        docs.filter((F.col("doc_id") >= 80) & (F.col("doc_id") < 120)),
        # run 4: one re-crawled copy-block per earlier increment
        # (matches absorbed history from each) + genuinely new docs
        docs.filter(F.col("doc_id") < 10)
        .unionByName(docs.filter((F.col("doc_id") >= 40) & (F.col("doc_id") < 50)))
        .unionByName(docs.filter((F.col("doc_id") >= 80) & (F.col("doc_id") < 90)))
        .withColumn("doc_id", F.col("doc_id") + 10_000)
        .unionByName(
            docs.filter((F.col("doc_id") >= 120) & (F.col("doc_id") < 150))
        ),
    ]
    for i, inc in enumerate(increments):
        src = tmp_path / f"src{i}"
        src.mkdir()
        inc.write.parquet(str(src / "docs.parquet"))

    def run_all(store, outbase, consolidate_on_run3):
        for i in range(4):
            rc = cli_main(
                f"file:{tmp_path / f'src{i}'}",
                outdir=outbase / f"out{i}",
                dedup_text_col="text",
                dedup_id_col="doc_id",
                near_dedup_store=store,
                near_dedup_consolidate=(consolidate_on_run3 and i == 2),
                use_source_types=True,
                spark=spark,
            )
            assert rc == 0
        return {
            r.doc_id
            for r in spark.read.parquet(str(outbase / "out3" / "docs.parquet"))
            .select("doc_id")
            .collect()
        }

    plain = run_all(tmp_path / "plain_store", tmp_path / "plain", False)
    cons = run_all(tmp_path / "cons_store", tmp_path / "cons", True)
    assert cons == plain
    # every re-crawled copy (from pre- AND post-consolidation history)
    # was dropped; the genuinely new docs survived
    assert not any(i >= 10_000 for i in cons)
    assert {i for i in cons if 120 <= i < 150}
    # consolidation collapsed runs 1-3 into c0; run 4 added one more
    for sub in ("sigs", "bands"):
        parts = sorted(
            p.name
            for p in (tmp_path / "cons_store" / "docs" / sub).glob("batch=*")
        )
        assert len(parts) == 2 and "batch=c0" in parts, parts
    # flag without a store: hard error, not a silent no-op
    assert parse_args(
        ["-u", f"file:{tmp_path / 'src0'}", "--dedup-text-col", "text",
         "--near-dedup-consolidate"]
    ) is None


def test_near_dedup_store_guards(tmp_path, capsys):
    """Misconfiguration and partial-commit states must be loud:
    out-of-range thresholds and meta-less non-empty directories are
    hard errors; a batch with store data but no completion marker
    (crash inside commit) warns on the next open."""
    from mongo2pq_spark.plans.neardedup_store import NearDedupStore

    root = tmp_path / "store"
    for bad in (0.0, -1.0, 1.5):
        with pytest.raises(ValueError, match="threshold"):
            NearDedupStore(root, "c", text_col="text", threshold=bad)

    # populated directory without meta.json: refuse, don't silently
    # initialize over (and dedup against nothing)
    legacy = root / "legacy"
    legacy.mkdir(parents=True)
    (legacy / "old_index.parquet").write_bytes(b"")
    with pytest.raises(ValueError, match="no \n?meta.json|meta.json"):
        NearDedupStore(root, "legacy", text_col="text")

    # partial commit: batch data present, no done marker -> warning
    NearDedupStore(root, "c", text_col="text")  # creates meta
    part = root / "c" / "bands" / "batch=9_9_9"
    part.mkdir(parents=True)
    (part / "part-0.parquet").write_bytes(b"")
    capsys.readouterr()
    NearDedupStore(root, "c", text_col="text")
    assert "partially-committed batches" in capsys.readouterr().err


def test_media_store_guards(tmp_path, capsys):
    """The media stores share the near-dedup store's guards: a
    meta-less non-empty directory is refused, and a batch with store
    data but no completion marker (crash inside commit) warns on the
    next open."""
    from mongo2pq_spark.plans.mediadedup_store import ImageDedupStore

    root = tmp_path / "store"
    legacy = root / "legacy"
    legacy.mkdir(parents=True)
    (legacy / "old_index.parquet").write_bytes(b"")
    with pytest.raises(ValueError, match="meta.json"):
        ImageDedupStore(root, "legacy")

    ImageDedupStore(root, "c")  # creates meta
    part = root / "c" / "fps" / "batch=9_9_9"
    part.mkdir(parents=True)
    (part / "part-0.parquet").write_bytes(b"")
    capsys.readouterr()
    ImageDedupStore(root, "c")
    assert "partially-committed batches ['9_9_9']" in capsys.readouterr().err


def test_near_dedup_store_consolidation(spark, sf_dir, tmp_path):
    """consolidate() merges completed batches into one batch=c0 per
    tree without changing any future dedup decision, and a retry of an
    ABSORBED batch stays idempotent (row-level src_token exclusion
    replaces the path-level one after consolidation)."""
    from pyspark.sql import functions as F

    from mongo2pq_spark.plans.neardedup_store import NearDedupStore

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    b1 = docs.filter(F.col("doc_id") < 60)
    b2 = docs.filter((F.col("doc_id") >= 60) & (F.col("doc_id") < 120))
    # batch 3 = copies of batch-1 texts (must drop) + fresh docs
    b3 = (
        docs.filter(F.col("doc_id") < 30)
        .withColumn("doc_id", F.col("doc_id") + 10_000)
        .unionByName(
            docs.filter((F.col("doc_id") >= 120) & (F.col("doc_id") < 150))
        )
    )

    def ingest(store, batch):
        token = store.batch_token(batch)
        out = store.filter_new(batch, token)
        ids = {r.doc_id for r in out.select("doc_id").collect()}
        store.commit(token)
        return ids

    def run(root, consolidate_after_two):
        for batch in (b1, b2):
            ingest(
                NearDedupStore(root, "docs", text_col="text"), batch
            )
        if consolidate_after_two:
            NearDedupStore(root, "docs", text_col="text").consolidate(spark)
        return ingest(NearDedupStore(root, "docs", text_col="text"), b3)

    plain = run(tmp_path / "plain", consolidate_after_two=False)
    cons = run(tmp_path / "cons", consolidate_after_two=True)
    assert cons == plain
    assert not any(i >= 10_000 for i in cons)  # copies dropped
    # trees collapsed to exactly one partition each
    for sub in ("sigs", "bands"):
        parts = sorted(
            p.name for p in (tmp_path / "cons" / "docs" / sub).glob("batch=*")
        )
        # batch 3 added its own partition after consolidation
        assert len(parts) == 2 and "batch=c0" in parts

    # retry an ABSORBED batch: its rows live only in c0 now; the
    # row-level exclusion must keep the retry's drop set identical
    # (batch 1 saw an empty store, so nothing may be dropped)
    retry = ingest(NearDedupStore(tmp_path / "cons", "docs", text_col="text"), b1)
    assert retry == {r.doc_id for r in b1.select("doc_id").collect()}


def test_near_dedup_store_consolidation_crash_recovery(spark, sf_dir, tmp_path):
    """The two consolidation crash windows must preserve every
    absorbed index entry: (a) a stranded complete swap-in with no
    batch=c0 (crash between the rename-aside of old c0 and the final
    rename) rolls FORWARD at the next store open; (b) re-consolidating
    when batch=c0 exists (c0 is complete-by-naming, no marker) must
    absorb it, never delete it unread."""
    import shutil

    from pyspark.sql import functions as F

    from mongo2pq_spark.plans.neardedup_store import NearDedupStore

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    root = tmp_path / "store"

    def ingest(batch):
        store = NearDedupStore(root, "docs", text_col="text")
        token = store.batch_token(batch)
        out = store.filter_new(batch, token)
        ids = {r.doc_id for r in out.select("doc_id").collect()}
        store.commit(token)
        return ids

    ingest(docs.filter(F.col("doc_id") < 60))
    ingest(docs.filter((F.col("doc_id") >= 60) & (F.col("doc_id") < 120)))
    NearDedupStore(root, "docs", text_col="text").consolidate(spark)

    # (a) simulate the mid-swap crash: c0 renamed away to the swap-in
    from mongo2pq_spark.plans.bandstore_core import aux_path

    sigs = root / "docs" / "sigs"
    swapin = aux_path(sigs / "batch=c0", "swapin")
    shutil.move(str(sigs / "batch=c0"), str(swapin))
    NearDedupStore(root, "docs", text_col="text")  # open = recovery
    assert (sigs / "batch=c0").is_dir()
    assert not swapin.exists()

    # (b) c0 exists with NO marker; a third batch lands and we
    # consolidate again — copies of batch-1 docs (absorbed into c0)
    # must STILL be dropped afterwards, proving c0 was merged, not
    # rmtree'd unread
    ingest(docs.filter((F.col("doc_id") >= 120) & (F.col("doc_id") < 150)))
    NearDedupStore(root, "docs", text_col="text").consolidate(spark)
    assert sorted(
        p.name for p in sigs.glob("batch=*")
    ) == ["batch=c0"]
    copies = (
        docs.filter(F.col("doc_id") < 30)
        .withColumn("doc_id", F.col("doc_id") + 20_000)
    )
    survivors = ingest(copies)
    assert survivors == set()  # every copy matched absorbed history


def test_near_dedup_batch_token_is_layout_independent(spark, sf_dir, tmp_path):
    """The batch token — the store's idempotency anchor — must depend
    only on the batch's text-digest SET: row order, partitioning, and
    column order must not move it, and any content change must."""
    from pyspark.sql import functions as F

    from mongo2pq_spark.plans.neardedup_store import NearDedupStore

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    ).filter(F.col("doc_id") < 100)
    store = NearDedupStore(tmp_path / "s", "c", text_col="text")

    base = store.batch_token(docs)
    assert store.batch_token(docs.orderBy(F.col("doc_id").desc())) == base
    assert store.batch_token(docs.repartition(17, "text")) == base
    assert store.batch_token(docs.select("text", "doc_id")) == base
    assert store.batch_token(docs.limit(99)) != base
    changed = docs.withColumn(
        "text",
        F.when(F.col("doc_id") == 0, F.concat(F.col("text"), F.lit("!")))
        .otherwise(F.col("text")),
    )
    assert store.batch_token(changed) != base


def test_consolidation_recovery_migrates_legacy_names(spark, sf_dir, tmp_path):
    """A consolidation crashed mid-swap under the PRE-unification
    naming (_swapin_c0, with batch=c0 already removed) must roll
    forward at the next store open — the absorbed index entries are
    the only copy."""
    import shutil

    from pyspark.sql import functions as F

    from mongo2pq_spark.plans.neardedup_store import NearDedupStore

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    root = tmp_path / "store"

    def ingest(batch):
        store = NearDedupStore(root, "docs", text_col="text")
        token = store.batch_token(batch)
        out = store.filter_new(batch, token)
        ids = {r.doc_id for r in out.select("doc_id").collect()}
        store.commit(token)
        return ids

    ingest(docs.filter(F.col("doc_id") < 60))
    ingest(docs.filter((F.col("doc_id") >= 60) & (F.col("doc_id") < 120)))
    NearDedupStore(root, "docs", text_col="text").consolidate(spark)

    sigs = root / "docs" / "sigs"
    shutil.move(str(sigs / "batch=c0"), str(sigs / "_swapin_c0"))
    NearDedupStore(root, "docs", text_col="text")  # open = recovery
    assert (sigs / "batch=c0").is_dir()
    assert not (sigs / "_swapin_c0").exists()
    # the absorbed history still dedups: copies of batch-1 docs drop
    copies = docs.filter(F.col("doc_id") < 30).withColumn(
        "doc_id", F.col("doc_id") + 50_000
    )
    assert ingest(copies) == set()


def test_cli_consolidate_covers_trees_not_indexed_this_run(spark, sf_dir, tmp_path):
    """--near-dedup-consolidate is store-wide maintenance: a tree
    whose collection is ABSENT from the triggering run must still
    collapse to batch=c0 (a scheduler's every-N-runs pass must not
    silently skip a store that happened not to ingest that day)."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    store = tmp_path / "bandstore"
    # two EL runs build up the 'docs' tree (2 batch partitions)
    for lo, hi in ((0, 50), (50, 100)):
        src = tmp_path / f"src_{lo}"
        src.mkdir()
        docs.filter(
            (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
        ).write.parquet(str(src / "docs.parquet"))
        assert cli_main(
            f"file:{src}", outdir=tmp_path / f"out_{lo}",
            dedup_text_col="text", dedup_id_col="doc_id",
            near_dedup_store=store, use_source_types=True, spark=spark,
        ) == 0
    # the maintenance run ingests a DIFFERENT collection entirely
    other = tmp_path / "src_other"
    other.mkdir()
    docs.filter(F.col("doc_id") < 20).write.parquet(
        str(other / "other.parquet")
    )
    assert cli_main(
        f"file:{other}", outdir=tmp_path / "out_other",
        dedup_text_col="text", dedup_id_col="doc_id",
        near_dedup_store=store, near_dedup_consolidate=True,
        use_source_types=True, spark=spark,
    ) == 0
    # the docs tree consolidated even though this run never touched it
    for sub in ("sigs", "bands"):
        parts = sorted(
            p.name for p in (store / "docs" / sub).glob("batch=*")
        )
        assert parts == ["batch=c0"], parts


def test_cli_media_source_format(spark, tmp_path):
    """--source-format media: a directory tree of real media files
    (PNG + WAV, through the engine's own encoders) lands as one
    parquet dataset per subdirectory with exact binaryFile-derived
    types (inference bypassed), correct per-file mime/size/md5
    metadata, and payload bytes that round-trip bit-for-bit."""
    import hashlib

    import numpy as np

    from mongo2pq_spark.operators.audio import encode_wav
    from mongo2pq_spark.operators.multimodal import encode_png

    src = tmp_path / "lake"
    (src / "images").mkdir(parents=True)
    (src / "sounds").mkdir()
    (src / "not_media").mkdir()
    rng = np.random.default_rng(5)
    payloads = {}
    for i in range(4):
        p = encode_png(rng.integers(0, 256, (8, 9, 3), dtype="uint8"))
        (src / "images" / f"img_{i}.png").write_bytes(p)
        payloads[f"img_{i}.png"] = p
    wav = encode_wav(
        rng.integers(-500, 500, (100,)).astype("int16"), 8000
    )
    (src / "sounds" / "a.wav").write_bytes(wav)
    payloads["a.wav"] = wav
    (src / "not_media" / "notes.txt").write_text("no media here")

    out = tmp_path / "out"
    out.mkdir()
    rc = cli_main(f"file:{src}", source_format="media", outdir=out,
                  spark=spark)
    assert rc == 0

    imgs = spark.read.parquet(str(out / "images.parquet"))
    assert set(imgs.columns) == {
        "doc_id", "source_path", "payload", "mime", "n_bytes",
        "payload_md5",
    }
    rows = {r["source_path"].rsplit("/", 1)[-1]: r for r in imgs.collect()}
    assert set(rows) == {f"img_{i}.png" for i in range(4)}
    for name, r in rows.items():
        assert bytes(r["payload"]) == payloads[name]
        assert r["mime"] == "image/png"
        assert r["n_bytes"] == len(payloads[name])
        assert r["payload_md5"] == hashlib.md5(payloads[name]).hexdigest()

    snd = spark.read.parquet(str(out / "sounds.parquet")).collect()
    assert len(snd) == 1 and snd[0]["mime"] == "audio/wav"

    # the non-media directory is not a collection; schemas were dumped
    assert not (out / "not_media.parquet").exists()
    assert (out / "images.yaml").exists() and (out / "sounds.yaml").exists()


def test_cli_media_dhash_store_across_runs(spark, tmp_path):
    """--media-dhash-store: run 2's brightness-shifted re-crawls of
    run 1's images (different BYTES and payload_md5 — byte dedup sees
    nothing) are dropped against the persisted fingerprint index;
    fresh images and non-decodable payloads pass through; a rerun of
    run 2 is idempotent (same survivors, own batch excluded from its
    probe)."""
    import numpy as np

    from mongo2pq_spark.operators.multimodal import encode_png

    rng = np.random.default_rng(31)
    arrs = [
        rng.integers(10, 230, (8, 9, 3), dtype="uint8") for _ in range(5)
    ]
    run1 = tmp_path / "run1" / "images"
    run2 = tmp_path / "run2" / "images"
    run1.mkdir(parents=True)
    run2.mkdir(parents=True)
    for i, a in enumerate(arrs):
        (run1 / f"orig_{i}.png").write_bytes(encode_png(a))
    # run 2: 3 shifted re-crawls + 2 genuinely new + 1 fake "png"
    for i in range(3):
        shifted = (arrs[i].astype("int16") + 5).astype("uint8")
        (run2 / f"recrawl_{i}.png").write_bytes(encode_png(shifted))
    fresh = [
        rng.integers(10, 230, (8, 9, 3), dtype="uint8") for _ in range(2)
    ]
    for i, a in enumerate(fresh):
        (run2 / f"fresh_{i}.png").write_bytes(encode_png(a))
    (run2 / "broken.png").write_bytes(b"\x89PNG\r\n\x1a\nnot really")

    store = tmp_path / "imgstore"
    out1, out2, out2b = (tmp_path / d for d in ("out1", "out2", "out2b"))
    for o in (out1, out2, out2b):
        o.mkdir()

    def run(src, out):
        rc = cli_main(
            f"file:{src}", source_format="media", outdir=out,
            media_dhash_store=store, spark=spark,
        )
        assert rc == 0
        return {
            r["source_path"].rsplit("/", 1)[-1]
            for r in spark.read.parquet(str(out / "images.parquet")).collect()
        }

    names1 = run(tmp_path / "run1", out1)
    assert names1 == {f"orig_{i}.png" for i in range(5)}

    names2 = run(tmp_path / "run2", out2)
    # re-crawls dropped; fresh kept; undecodable passes through
    assert names2 == {"fresh_0.png", "fresh_1.png", "broken.png"}

    # idempotent rerun: same survivors, not self-colliding
    assert run(tmp_path / "run2", out2b) == names2

    # drift guard: different radius refuses the store
    import pytest as _pytest

    with _pytest.raises(Exception, match="different parameters"):
        from mongo2pq_spark.plans.mediadedup_store import ImageDedupStore

        ImageDedupStore(store, "images", max_hamming=1)


def test_cli_bpe_tokenize_at_ingest(spark, tmp_path):
    """--bpe-merges/--bpe-learn: a missing artifact without --bpe-learn
    is a hard error; with it, run 1 trains from the corpus, pins the
    artifact atomically, and writes every doc row with an
    n_bpe_tokens column whose values equal the stats operator's
    accounting under the loaded artifact (and the schema YAML
    documents the column); collections lacking the text column are
    written without it; run 2 over NEW data reuses the pinned artifact
    byte-identically, keeping token accounting comparable across
    ingests."""
    import json as jsonlib

    docs1 = ["the cat sat on the mat", "the dog sat", "", "cats and dogs"]
    docs2 = ["the the the", "an unseen zebra word"]
    src1, src2 = tmp_path / "src1", tmp_path / "src2"
    src1.mkdir()
    src2.mkdir()
    (src1 / "docs.jsonl").write_text("\n".join(
        jsonlib.dumps({"doc_id": i, "text": t})
        for i, t in enumerate(docs1)
    ))
    (src1 / "plain.jsonl").write_text("\n".join(
        jsonlib.dumps({"doc_id": i, "v": i * 2}) for i in range(3)
    ))
    (src2 / "docs.jsonl").write_text("\n".join(
        jsonlib.dumps({"doc_id": i, "text": t})
        for i, t in enumerate(docs2)
    ))
    art = tmp_path / "merges.bpe"
    out0, out1, out2 = (tmp_path / d for d in ("out0", "out1", "out2"))
    for o in (out0, out1, out2):
        o.mkdir()

    # missing artifact, no --bpe-learn: refuse rather than silently
    # train (token accounting must be pinned, not accidental)
    rc = cli_main(f"file:{src1}", outdir=out0, bpe_merges=art,
                  bpe_text_col="text", spark=spark)
    assert rc == 1 and not art.exists()

    rc = cli_main(f"file:{src1}", outdir=out1, bpe_merges=art,
                  bpe_text_col="text", bpe_learn=30, spark=spark)
    assert rc == 0 and art.is_file()

    from mongo2pq_spark.operators.bpe import bpe_encode_stats, load_merges

    merges = load_merges(str(art))
    expected = {
        r["doc_id"]: r["n_tokens"]
        for r in bpe_encode_stats(
            spark.createDataFrame(
                list(enumerate(docs1)), "doc_id bigint, text string"
            ),
            merges,
        ).collect()
    }
    priced = spark.read.parquet(str(out1 / "docs.parquet"))
    assert "n_bpe_tokens" in priced.columns
    got = {r["doc_id"]: r["n_bpe_tokens"] for r in priced.collect()}
    assert got == expected
    # the dumped schema documents the engine-computed column
    assert "n_bpe_tokens" in (out1 / "docs.yaml").read_text()
    # the no-text-column collection is written, without the column
    plain = spark.read.parquet(str(out1 / "plain.parquet"))
    assert plain.count() == 3 and "n_bpe_tokens" not in plain.columns

    # run 2: the pinned artifact is REUSED, not retrained (even with
    # --bpe-learn set), so counts stay comparable across ingests
    pinned = art.read_bytes()
    rc = cli_main(f"file:{src2}", outdir=out2, bpe_merges=art,
                  bpe_text_col="text", bpe_learn=30, spark=spark)
    assert rc == 0 and art.read_bytes() == pinned
    expected2 = {
        r["doc_id"]: r["n_tokens"]
        for r in bpe_encode_stats(
            spark.createDataFrame(
                list(enumerate(docs2)), "doc_id bigint, text string"
            ),
            merges,
        ).collect()
    }
    got2 = {
        r["doc_id"]: r["n_bpe_tokens"]
        for r in spark.read.parquet(str(out2 / "docs.parquet")).collect()
    }
    assert got2 == expected2


def test_cli_media_afp_store_across_runs(spark, tmp_path):
    """--media-afp-store: run 2's re-MASTERED re-crawls of run 1's
    audio (gain ×2 and a mono→stereo duplication — different BYTES and
    payload_md5, byte dedup sees nothing; the envelope fingerprint is
    invariant to both) are dropped against the persisted index; fresh
    audio and undecodable payloads pass through; a rerun of run 2 is
    idempotent; the kind pin refuses an image-store open of the same
    tree."""
    import numpy as np

    from mongo2pq_spark.operators.audio import encode_wav

    rng = np.random.default_rng(7)
    base = [
        rng.integers(-500, 500, (200,)).astype("int16") for _ in range(4)
    ]
    run1 = tmp_path / "run1" / "sounds"
    run2 = tmp_path / "run2" / "sounds"
    run1.mkdir(parents=True)
    run2.mkdir(parents=True)
    for i, s in enumerate(base):
        (run1 / f"orig_{i}.wav").write_bytes(encode_wav(s, 8000))
    # re-masters: exact gain x2 (|-500..500| doubles without clipping)
    # and a stereo duplication of base[2] — envelope-hash invariants
    for i in range(2):
        (run2 / f"remaster_{i}.wav").write_bytes(
            encode_wav((base[i] * 2).astype("int16"), 8000)
        )
    stereo = np.stack([base[2], base[2]], axis=1).astype("int16")
    (run2 / "stereo_2.wav").write_bytes(encode_wav(stereo, 8000))
    (run2 / "fresh.wav").write_bytes(
        encode_wav(rng.integers(-500, 500, (200,)).astype("int16"), 8000)
    )
    (run2 / "broken.wav").write_bytes(b"RIFF\x10\x00\x00\x00WAVEjunk")

    store = tmp_path / "afpstore"
    out1, out2, out2b = (tmp_path / d for d in ("out1", "out2", "out2b"))
    for o in (out1, out2, out2b):
        o.mkdir()

    def run(src, out):
        rc = cli_main(
            f"file:{src}", source_format="media", outdir=out,
            media_afp_store=store, spark=spark,
        )
        assert rc == 0
        return {
            r["source_path"].rsplit("/", 1)[-1]
            for r in spark.read.parquet(str(out / "sounds.parquet")).collect()
        }

    assert run(tmp_path / "run1", out1) == {
        f"orig_{i}.wav" for i in range(4)
    }

    names2 = run(tmp_path / "run2", out2)
    # re-masters dropped; fresh kept; undecodable passes through
    assert names2 == {"fresh.wav", "broken.wav"}

    # idempotent rerun: same survivors, not self-colliding
    assert run(tmp_path / "run2", out2b) == names2

    # kind pin: an IMAGE-store open of the audio tree is refused
    import pytest as _pytest

    from mongo2pq_spark.plans.mediadedup_store import ImageDedupStore

    with _pytest.raises(Exception, match="different parameters"):
        ImageDedupStore(store, "sounds")


def test_cli_media_store_consolidate(spark, tmp_path):
    """--media-store-consolidate: after two committed image batches,
    the store's fps tree collapses to a single batch=c0; a later run's
    re-crawls of BOTH absorbed batches are still dropped (the probe's
    answer is consolidation-invariant), and a retry of an absorbed
    batch stays idempotent (src_token-based own-row exclusion survives
    absorption)."""
    import numpy as np

    from mongo2pq_spark.operators.multimodal import encode_png

    rng = np.random.default_rng(43)
    arrs1 = [
        rng.integers(10, 230, (8, 9, 3), dtype="uint8") for _ in range(3)
    ]
    arrs2 = [
        rng.integers(10, 230, (8, 9, 3), dtype="uint8") for _ in range(2)
    ]
    run1 = tmp_path / "run1" / "images"
    run2 = tmp_path / "run2" / "images"
    run3 = tmp_path / "run3" / "images"
    for d in (run1, run2, run3):
        d.mkdir(parents=True)
    for i, a in enumerate(arrs1):
        (run1 / f"one_{i}.png").write_bytes(encode_png(a))
    for i, a in enumerate(arrs2):
        (run2 / f"two_{i}.png").write_bytes(encode_png(a))
    # run 3: one shifted re-crawl of each absorbed batch + one fresh
    (run3 / "re1.png").write_bytes(
        encode_png((arrs1[0].astype("int16") + 5).astype("uint8"))
    )
    (run3 / "re2.png").write_bytes(
        encode_png((arrs2[0].astype("int16") + 5).astype("uint8"))
    )
    (run3 / "new.png").write_bytes(
        encode_png(rng.integers(10, 230, (8, 9, 3), dtype="uint8"))
    )

    store = tmp_path / "imgstore"
    outs = {n: tmp_path / f"out{n}" for n in ("1", "2", "3", "2b")}
    for o in outs.values():
        o.mkdir()

    def run(src, out, consolidate=False):
        rc = cli_main(
            f"file:{src}", source_format="media", outdir=out,
            media_dhash_store=store,
            media_store_consolidate=consolidate, spark=spark,
        )
        assert rc == 0
        return {
            r["source_path"].rsplit("/", 1)[-1]
            for r in spark.read.parquet(str(out / "images.parquet")).collect()
        }

    run(tmp_path / "run1", outs["1"])
    run(tmp_path / "run2", outs["2"], consolidate=True)

    fps = store / "images" / "fps"
    assert [p.name for p in sorted(fps.iterdir()) if p.is_dir()] == [
        "batch=c0"
    ]

    # probe answer unchanged by consolidation: both absorbed batches'
    # re-crawls dropped, the fresh image kept
    assert run(tmp_path / "run3", outs["3"]) == {"new.png"}

    # retry of the ABSORBED run 2: own rows (now inside batch=c0)
    # excluded via src_token, so the rerun reproduces run 2's original
    # survivors instead of self-colliding into an empty output
    assert run(tmp_path / "run2", outs["2b"]) == {
        "two_0.png", "two_1.png"
    }


def test_cli_inverted_index_at_ingest(spark, tmp_path):
    """--inverted-index: run 1 indexes the ingested collection as one
    batch; run 2 over NEW docs appends a second batch without
    re-reading the first; the probe over the store equals a direct
    posting computation over everything ingested; a rerun of run 2 is
    idempotent (same content token, same batch count); consolidation
    folds to batch=c0 with probe answers unchanged; a collection
    lacking the columns is written unindexed with a warning."""
    import json as jsonlib
    from pathlib import Path

    from mongo2pq_spark.operators.text import query_postings

    docs1 = ["apple banana", "banana banana cherry", "apple"]
    docs2 = ["cherry apple apple", "banana"]
    src1, src2 = tmp_path / "src1", tmp_path / "src2"
    src1.mkdir(); src2.mkdir()
    (src1 / "docs.jsonl").write_text("\n".join(
        jsonlib.dumps({"doc_id": i, "text": t})
        for i, t in enumerate(docs1)
    ))
    (src1 / "plain.jsonl").write_text(
        jsonlib.dumps({"doc_id": 0, "v": 1})
    )
    (src2 / "docs.jsonl").write_text("\n".join(
        jsonlib.dumps({"doc_id": 10 + i, "text": t})
        for i, t in enumerate(docs2)
    ))
    store = tmp_path / "idx"
    out1, out2, out3 = (tmp_path / d for d in ("o1", "o2", "o3"))
    for o in (out1, out2, out3):
        o.mkdir()

    rc = cli_main(f"file:{src1}", outdir=out1, inverted_index=store,
                  index_text_col="text", spark=spark)
    assert rc == 0
    tree = store / "docs"
    assert len(list(tree.glob("batch=*"))) == 1
    assert not (store / "plain").exists()  # columns missing → skipped

    rc = cli_main(f"file:{src2}", outdir=out2, inverted_index=store,
                  index_text_col="text", spark=spark)
    assert rc == 0
    assert len(list(tree.glob("batch=*"))) == 2

    def probe():
        return sorted(
            tuple(r) for r in query_postings(
                spark, str(tree), ["apple", "banana", "cherry"]
            ).collect()
        )

    all_docs = {i: t for i, t in enumerate(docs1)}
    all_docs.update({10 + i: t for i, t in enumerate(docs2)})
    want = sorted(
        (term, d, t.split().count(term))
        for d, t in all_docs.items()
        for term in set(t.split())
        if term in ("apple", "banana", "cherry")
    )
    assert probe() == want

    # rerun of increment 2: content token unchanged → same batches
    rc = cli_main(f"file:{src2}", outdir=out3, inverted_index=store,
                  index_text_col="text", spark=spark)
    assert rc == 0
    assert len(list(tree.glob("batch=*"))) == 2
    assert probe() == want

    # consolidation folds to one batch, probe invariant
    rc = cli_main(f"file:{src2}", outdir=out3, inverted_index=store,
                  index_text_col="text", index_consolidate=True,
                  spark=spark)
    assert rc == 0
    assert sorted(
        p.name for p in Path(tree).glob("batch=*") if p.is_dir()
    ) == ["batch=c0"]
    assert probe() == want


def _ingest_base_then_increment(spark, src, root):
    """Base then increment through cli.main with exact dedup, the
    near-dedup store and the inverted index; returns the written rows,
    the index postings and the store's sigs and bands, each sorted."""
    for phase in ("base", "inc"):
        rc = cli_main(
            f"file:{src / phase}",
            outdir=root / phase,
            dedup_text_col="text",
            dedup_id_col="doc_id",
            near_dedup_store=root / "store",
            inverted_index=root / "idx",
            index_text_col="text",
            use_source_types=True,
            spark=spark,
        )
        assert rc == 0

    def rows(path):
        return sorted(
            tuple(sorted(r.asDict().items()))
            for r in spark.read.parquet(str(path)).collect()
        )

    return (
        [rows(root / phase / "docs.parquet") for phase in ("base", "inc")],
        rows(root / "idx" / "docs"),
        rows(root / "store" / "docs" / "sigs"),
        rows(root / "store" / "docs" / "bands"),
    )


def test_cli_written_frame_materialized_once(spark, tmp_path, monkeypatch):
    """After the near-dedup filter, the frame handed to the EL write is
    also read by the index token, its range sample and the index write.
    It is materialized once: the frame write_inverted_index receives is
    cached and its plan reads an in-memory table, with the store's
    left-anti join only inside the cached relation, not re-run above
    it. Rows, postings and the store equal an uncached run's."""
    import json as jsonlib
    import random

    import mongo2pq_spark.operators.text as text_mod

    rng = random.Random(5)
    words = [f"w{i}" for i in range(300)]
    base = [" ".join(rng.choices(words, k=30)) for _ in range(40)]
    # an increment of one-word edits of base docs (near duplicates
    # the store drops) and fresh docs
    edited = [t.replace(t.split()[0], "edited", 1) for t in base[:12]]
    fresh = [" ".join(rng.choices(words, k=30)) for _ in range(12)]
    src = tmp_path / "src"
    for phase, texts, first in (("base", base, 0), ("inc", edited + fresh, 1000)):
        (src / phase).mkdir(parents=True)
        (src / phase / "docs.jsonl").write_text("\n".join(
            jsonlib.dumps({"doc_id": first + i, "text": t})
            for i, t in enumerate(texts)
        ))

    seen = []
    real_write = text_mod.write_inverted_index

    def spy(df, *args, **kwargs):
        plan = df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
            df._jdf.queryExecution(), "formatted"  # noqa: SLF001
        )
        seen.append((df.is_cached, plan.split("\n\n")[0]))
        return real_write(df, *args, **kwargs)

    monkeypatch.setattr(text_mod, "write_inverted_index", spy)
    cached = _ingest_base_then_increment(spark, src, tmp_path / "cached")
    assert len(seen) == 2
    inc_cached, inc_tree = seen[1]
    assert inc_cached
    above_cache = inc_tree.split("InMemoryRelation")[0]
    assert "InMemoryTableScan" in above_cache
    assert "Join" not in above_cache
    assert "LeftAnti" in inc_tree  # the store's filter, inside the cache
    # the increment really lost its near duplicates
    assert 0 < len(cached[0][1]) < len(edited) + len(fresh)

    # the reference run caches nothing at all
    monkeypatch.setattr(type(spark.range(1)), "persist", lambda self, *a: self)
    uncached = _ingest_base_then_increment(spark, src, tmp_path / "uncached")
    assert not seen[-1][0]
    assert cached == uncached


def test_cli_media_phash_store_across_runs(spark, tmp_path):
    """--media-phash-store: the frequency-domain image store rides the
    same lifecycle — run 2's brightness-shifted re-crawls (identical
    DCT AC coefficients, distance 0) drop against the persisted pHash
    index, fresh images survive, a rerun is idempotent, and the
    kind-pin refuses opening the tree as a dHash store."""
    import numpy as np
    import pytest as _pytest

    from mongo2pq_spark.operators.multimodal import encode_png

    rng = np.random.default_rng(47)
    arrs = [
        rng.integers(10, 230, (8, 9, 3), dtype="uint8") for _ in range(4)
    ]
    run1 = tmp_path / "run1" / "images"
    run2 = tmp_path / "run2" / "images"
    run1.mkdir(parents=True)
    run2.mkdir(parents=True)
    for i, a in enumerate(arrs):
        (run1 / f"orig_{i}.png").write_bytes(encode_png(a))
    for i in range(2):  # +5 brightness: bytes differ, pHash identical
        shifted = (arrs[i].astype("int16") + 5).astype("uint8")
        (run2 / f"recrawl_{i}.png").write_bytes(encode_png(shifted))
    fresh = rng.integers(10, 230, (8, 9, 3), dtype="uint8")
    (run2 / "fresh.png").write_bytes(encode_png(fresh))

    store = tmp_path / "phashstore"
    out1, out2, out2b = (tmp_path / d for d in ("o1", "o2", "o2b"))
    for o in (out1, out2, out2b):
        o.mkdir()

    def run(src, out):
        rc = cli_main(
            f"file:{src}", source_format="media", outdir=out,
            media_phash_store=store, spark=spark,
        )
        assert rc == 0
        return {
            r["source_path"].rsplit("/", 1)[-1]
            for r in spark.read.parquet(str(out / "images.parquet")).collect()
        }

    assert run(tmp_path / "run1", out1) == {
        f"orig_{i}.png" for i in range(4)
    }
    names2 = run(tmp_path / "run2", out2)
    assert names2 == {"fresh.png"}
    assert run(tmp_path / "run2", out2b) == names2

    # kind pin: the tree refuses to open as a different modality
    from mongo2pq_spark.plans.mediadedup_store import ImageDedupStore

    with _pytest.raises(ValueError, match="kind"):
        ImageDedupStore(store, "images").batch_token  # noqa: B018


def test_cli_compact_partitions_post_run(spark, tmp_path):
    """--compact-partitions N: after the run's writes commit, every
    hive partition of every written collection is rewritten to <= N
    files through the crash-safe swap, value-lossless; requires -p
    (validated at parse time)."""
    src = tmp_path / "src"
    out = tmp_path / "out"
    src.mkdir()
    rows = [
        {"rec_id": i, "tag": "t%d" % (i % 3), "v": i * 2}
        for i in range(60)
    ]
    (src / "docs.jsonl").write_text(
        "\n".join(json.dumps(r) for r in rows) + "\n"
    )
    rc = cli_main(
        f"file:{src}", outdir=out, samples=10, partition_key="tag",
        max_records_per_file=5, compact_partitions=1, spark=spark,
    )
    assert rc == 0
    tree = out / "docs.parquet"
    for d in tree.glob("tag=*"):
        files = list(d.glob("*.parquet"))
        assert len(files) == 1, (d, files)  # compacted from >=4
    back = spark.read.parquet(str(tree))
    assert back.count() == 60
    assert sorted(r.rec_id for r in back.collect()) == list(range(60))
    # parse-time guard: the flag without -p is a hard usage error
    from mongo2pq_spark.cli import parse_args

    assert parse_args(
        ["-u", f"file:{src}", "-o", str(out), "--compact-partitions", "2"]
    ) is None


def test_cli_dq_contract_at_ingest(spark, tmp_path):
    """--dq-rules: each collection's published rows are judged before
    the write, the per-rule report lands beside the output, fk rules
    resolve against sibling collections of the same run, malformed
    rules and missing columns warn-and-skip, and
    --dq-fail-on-violation keeps a failing collection UNWRITTEN while
    the run exits nonzero."""
    src = tmp_path / "src"
    src.mkdir()
    (src / "users.jsonl").write_text("\n".join(
        json.dumps(r) for r in [
            {"uid": 1, "age": 30, "ref": 10},
            {"uid": 1, "age": -5, "ref": 10},   # dup uid, below min
            {"uid": 2, "age": 40, "ref": 99},   # fk orphan
        ]
    ))
    (src / "dims.jsonl").write_text("\n".join(
        json.dumps({"k": k}) for k in (10, 11)
    ))
    rules = tmp_path / "rules.yaml"
    rules.write_text("""
users:
  - rule_id: uid_unique
    kind: unique
    col: uid
  - rule_id: age_min
    kind: min
    col: age
    value: 0
  - rule_id: ref_fk
    kind: fk
    col: ref
    dim: dims
    dim_col: k
  - rule_id: ghost_col
    kind: not_null
    col: not_a_column
  - kind: not_null
    col: uid
dims:
  - rule_id: k_not_null
    kind: not_null
    col: k
""")

    # report-only mode: everything written, report records failures
    out1 = tmp_path / "out1"
    out1.mkdir()
    rc = cli_main(f"file:{src}", outdir=out1, dq_rules=rules, spark=spark)
    assert rc == 0
    assert (out1 / "users.parquet").exists()
    rep = {r["rule_id"]: r for r in json.load(
        open(out1 / "users_dq_report.json")
    )}
    # ghost_col and the rule_id-less entry were skipped
    assert set(rep) == {"uid_unique", "age_min", "ref_fk"}
    assert rep["uid_unique"]["n_violations"] == 1
    assert rep["age_min"]["n_violations"] == 1
    assert rep["ref_fk"]["n_violations"] == 1
    assert not any(r["passed"] for r in rep.values())
    dimrep = json.load(open(out1 / "dims_dq_report.json"))
    assert dimrep[0]["passed"] and dimrep[0]["n_violations"] == 0

    # enforcing mode: the failing collection is NOT written, the
    # clean sibling still is, and the run exits nonzero
    out2 = tmp_path / "out2"
    out2.mkdir()
    rc = cli_main(f"file:{src}", outdir=out2, dq_rules=rules,
                  dq_fail_on_violation=True, spark=spark)
    assert rc != 0
    assert not (out2 / "users.parquet").exists()
    assert (out2 / "dims.parquet").exists()
    assert (out2 / "users_dq_report.json").exists()  # report still lands


def test_cli_substring_store_across_runs(spark, tmp_path):
    """--substring-store: a second EL run whose documents lead with
    token spans copied from run 1 gets those tokens CUT and the text
    column rewritten against the persistent span-hash index at
    O(increment) cost; unique documents pass untouched; a retry of
    the same run is byte-identical; consolidation folds the store to
    one partition with history preserved. Flag-dependency errors are
    argparse-level."""
    from mongo2pq_spark.cli import main as _main, parse_args as _parse

    def words(prefix, n):
        return " ".join(f"{prefix}_{k}" for k in range(n))

    run1 = [(i, words(f"w{i}", 20)) for i in range(40)]
    # run 2: 15 docs lead with 12 tokens COPIED from run-1 doc i,
    # then 6 unique; 10 docs fully unique
    run2 = [
        (1000 + i, " ".join(run1[i][1].split()[:12]) + " " + words(f"u{i}", 6))
        for i in range(15)
    ] + [(2000 + i, words(f"z{i}", 10)) for i in range(10)] + [
        # ADVICE r12 regression: a unique document with newlines, tabs,
        # space runs and edge whitespace must pass through BYTE-
        # IDENTICAL — the r12 rewrite unconditionally substituted the
        # whitespace-normalized token rebuild for every document
        (2500, "  gn_a gn_b\tgn_c\ngn_d  gn_e gn_f gn_g gn_h gn_i gn_j ")
    ]

    run1_src, run2_src = tmp_path / "r1", tmp_path / "r2"
    run1_src.mkdir(), run2_src.mkdir()
    spark.createDataFrame(run1, "doc_id long, text string").write.parquet(
        str(run1_src / "docs.parquet")
    )
    spark.createDataFrame(run2, "doc_id long, text string").write.parquet(
        str(run2_src / "docs.parquet")
    )

    store = tmp_path / "spanstore"
    out1, out2 = tmp_path / "o1", tmp_path / "o2"
    for src, out in ((run1_src, out1), (run2_src, out2)):
        rc = _main(
            f"file:{src}",
            outdir=out,
            dedup_text_col="text",
            dedup_id_col="doc_id",
            substring_store=store,
            use_source_types=True,
            spark=spark,
        )
        assert rc == 0

    got = {
        r["doc_id"]: r["text"]
        for r in spark.read.parquet(str(out2 / "docs.parquet")).collect()
    }
    for i in range(15):  # copied leads cut, unique tails survive
        assert got[1000 + i] == words(f"u{i}", 6), i
    for i in range(10):  # unique docs untouched
        assert got[2000 + i] == words(f"z{i}", 10), i
    # untouched documents keep their exact bytes (whitespace included)
    assert got[2500] == (
        "  gn_a gn_b\tgn_c\ngn_d  gn_e gn_f gn_g gn_h gn_i gn_j "
    )

    # retry of run 2: own-batch exclusion keeps the output identical
    rc = _main(
        f"file:{run2_src}",
        outdir=out2,
        dedup_text_col="text",
        dedup_id_col="doc_id",
        substring_store=store,
        use_source_types=True,
        spark=spark,
    )
    assert rc == 0
    again = {
        r["doc_id"]: r["text"]
        for r in spark.read.parquet(str(out2 / "docs.parquet")).collect()
    }
    assert again == got

    # maintenance: consolidate folds to one c0 partition; a third run
    # copying run-1 tokens still probes the full history
    run3_src, out3 = tmp_path / "r3", tmp_path / "o3"
    run3_src.mkdir()
    spark.createDataFrame(
        [(3000, " ".join(run1[20][1].split()[:12]) + " " + words("v", 4))],
        "doc_id long, text string",
    ).write.parquet(str(run3_src / "docs.parquet"))
    rc = _main(
        f"file:{run3_src}",
        outdir=out3,
        dedup_text_col="text",
        dedup_id_col="doc_id",
        substring_store=store,
        substring_consolidate=True,
        use_source_types=True,
        spark=spark,
    )
    assert rc == 0
    got3 = spark.read.parquet(str(out3 / "docs.parquet")).collect()
    assert got3[0]["text"] == words("v", 4)
    assert [p.name for p in (store / "docs" / "spans").glob("batch=*")] == [
        "batch=c0"
    ]

    # NULL-text rows must pass through UNCHANGED, never be dropped
    # (the rewrite joins the cleaned text back; a NULL md5 key would
    # fall out of an inner join)
    run4_src, out4 = tmp_path / "r4", tmp_path / "o4"
    run4_src.mkdir()
    spark.createDataFrame(
        [(4000, None), (4001, words("q", 9))],
        "doc_id long, text string",
    ).write.parquet(str(run4_src / "docs.parquet"))
    rc = _main(
        f"file:{run4_src}",
        outdir=out4,
        dedup_text_col="text",
        dedup_id_col="doc_id",
        substring_store=store,
        use_source_types=True,
        spark=spark,
    )
    assert rc == 0
    got4 = {
        r["doc_id"]: r["text"]
        for r in spark.read.parquet(str(out4 / "docs.parquet")).collect()
    }
    assert got4 == {4000: None, 4001: words("q", 9)}

    # flag dependencies are hard errors, not silent no-ops
    assert _parse(
        ["-u", f"file:{run1_src}", "--substring-store", str(store)]
    ) is None
    assert _parse(
        ["-u", f"file:{run1_src}", "--substring-consolidate"]
    ) is None


def test_tarshards_sink_contract(spark, tmp_path):
    """tarshards write-mode contract: overwrite prunes stale shards
    from a previous wider write; append is a loud NotImplementedError;
    NULL samples and a wrong schema fail loud; shard bytes are
    deterministic (fixed mtime/mode) given identical partitioning."""
    import pytest

    from mongo2pq_spark.sources.tarshards import register_tarshards_sink

    register_tarshards_sink(spark)
    out = str(tmp_path / "shards")
    ddl = "name string, payload binary"
    wide = spark.createDataFrame(
        [(f"a{i}.txt", f"body-{i}".encode()) for i in range(8)], ddl
    ).repartition(4)
    wide.write.format("tarshards").mode("overwrite").save(out)
    # an EMPTY partition writes no shard (a zero-member tar is dead
    # weight to a shard-sequential loader — ADVICE r12), so the shard
    # count equals the NON-empty partition count and no sample is lost
    n_nonempty = sum(1 for n in wide.rdd.glom().map(len).collect() if n)
    wide_shards = sorted((tmp_path / "shards").glob("shard-*.tar"))
    assert len(wide_shards) == n_nonempty

    from mongo2pq_spark.operators.archives import parse_archive_manifest

    members = [
        r["name"] for s in wide_shards for r in parse_archive_manifest(
            s.read_bytes()
        )
    ]
    assert sorted(members) == [f"a{i}.txt" for i in range(8)]

    narrow = spark.createDataFrame([("only.txt", b"x")], ddl).repartition(4)
    narrow.write.format("tarshards").mode("overwrite").save(out)
    shards = list((tmp_path / "shards").glob("shard-*.tar"))
    # 1 row over 4 partitions: 3 empty partitions skipped, stale wider
    # shards pruned by commit — exactly one shard remains
    assert len(shards) == 1

    recs = parse_archive_manifest(shards[0].read_bytes())
    assert [r["name"] for r in recs] == ["only.txt"]

    # determinism: same single-partition write -> identical bytes
    before = shards[0].read_bytes()
    narrow.write.format("tarshards").mode("overwrite").save(out)
    assert shards[0].read_bytes() == before

    with pytest.raises(Exception, match="overwrite.*only|immutable"):
        narrow.write.format("tarshards").mode("append").save(out)
    bad = spark.createDataFrame([("n.txt", None)], ddl).repartition(1)
    with pytest.raises(Exception, match="NULL name or payload"):
        bad.write.format("tarshards").mode("overwrite").save(out)
    wrong = spark.createDataFrame([(1, b"x")], "doc_id long, payload binary")
    with pytest.raises(Exception, match="requires columns"):
        wrong.write.format("tarshards").mode("overwrite").save(out)


def test_tarshards_native_reader_contract(spark, tmp_path):
    """Native tar-shard source (r13): exactly ONE input partition per
    shard file (the WebDataset shard-sequential contract), members
    and payloads value-identical to the write, shard provenance
    correct, read->re-shard write round-trips without a projection,
    and a directory without _SUCCESS is refused loud."""
    import pytest

    from mongo2pq_spark.operators.archives import parse_archive_manifest
    from mongo2pq_spark.sources.tarshards import register_tarshards

    register_tarshards(spark)
    ddl = "name string, payload binary"
    rows = [(f"s{i}.txt", f"payload-{i}".encode()) for i in range(10)]
    df = spark.createDataFrame(rows, ddl).repartition(3)
    out = str(tmp_path / "shards")
    df.write.format("tarshards").mode("overwrite").save(out)
    n_shards = len(list((tmp_path / "shards").glob("shard-*.tar")))

    back = spark.read.format("tarshards").load(out)
    # partition-per-shard: the scale contract a 10k-shard corpus needs
    assert back.rdd.getNumPartitions() == n_shards
    got = {(r["name"], bytes(r["payload"])) for r in back.collect()}
    assert got == set(rows)
    # shard provenance matches the on-disk file of each member
    for r in back.collect():
        recs = parse_archive_manifest(
            (tmp_path / "shards" / r["shard"]).read_bytes()
        )
        assert r["name"] in {m["name"] for m in recs}

    # read -> re-shard write without a projection (name/payload lead)
    out2 = str(tmp_path / "reshard")
    back.repartition(1).write.format("tarshards").mode(
        "overwrite"
    ).save(out2)
    again = spark.read.format("tarshards").load(out2)
    assert {
        (r["name"], bytes(r["payload"])) for r in again.collect()
    } == set(rows)

    # no _SUCCESS -> refuse: reading a half-committed snapshot would
    # silently train on a partial corpus
    (tmp_path / "shards" / "_SUCCESS").unlink()
    with pytest.raises(Exception, match="_SUCCESS"):
        spark.read.format("tarshards").load(out).collect()


def test_shard_members_sizing(spark, tmp_path):
    """shard_members: shard count = ceil(total payload bytes /
    target); sample parts co-shard under a key expression; a
    sub-target table still writes one shard."""
    from pyspark.sql import functions as F

    from mongo2pq_spark.sources.tarshards import (
        register_tarshards,
        shard_members,
    )

    register_tarshards(spark)
    rows = [
        (f"k{i}.{ext}", bytes(100))
        for i in range(40)
        for ext in ("txt", "meta")
    ]
    df = spark.createDataFrame(rows, "name string, payload binary")
    key = F.regexp_extract("name", r"^([^.]*)", 1)

    sized = shard_members(df, target_shard_bytes=2000, key_expr=key)
    assert sized.rdd.getNumPartitions() == 4  # 8000 bytes / 2000

    out = str(tmp_path / "sized")
    sized.write.format("tarshards").mode("overwrite").save(out)
    back = spark.read.format("tarshards").load(out)
    # a sample's parts share a shard (the wds adjacency contract)
    per_key = (
        back.select(
            F.regexp_extract("name", r"^([^.]*)", 1).alias("k"), "shard"
        )
        .groupBy("k")
        .agg(F.countDistinct("shard").alias("n"))
        .collect()
    )
    assert all(r["n"] == 1 for r in per_key) and len(per_key) == 40

    assert shard_members(df, target_shard_bytes=1 << 30) \
        .rdd.getNumPartitions() == 1


def test_shard_members_recompute_mode_matches_persist(
    spark, tmp_path, monkeypatch
):
    """SPARK_GRAFT_SHARD_SIZING=recompute (r19, VERDICT r18 #3 — the
    disk-constrained deployment knob) must produce the IDENTICAL
    shard count and member→bucket placement as the default persist
    mode, while registering nothing in the bounded cache registry
    (the corpus-sized member persist is exactly what the mode
    exists to avoid)."""
    from pyspark.sql import functions as F

    from mongo2pq_spark.operators.cache import _LIVE_CACHES, release_caches
    from mongo2pq_spark.sources.tarshards import (
        register_tarshards,
        shard_members,
    )

    register_tarshards(spark)
    rows = [(f"m{i}.bin", bytes(150)) for i in range(30)]
    df = spark.createDataFrame(rows, "name string, payload binary")

    release_caches()
    monkeypatch.setenv("SPARK_GRAFT_SHARD_SIZING", "recompute")
    sized = shard_members(df, target_shard_bytes=1000)
    assert _LIVE_CACHES == []  # nothing corpus-sized cached
    out_a = str(tmp_path / "recompute")
    sized.sortWithinPartitions("name").write.format("tarshards").mode(
        "overwrite"
    ).save(out_a)

    monkeypatch.setenv("SPARK_GRAFT_SHARD_SIZING", "persist")
    out_b = str(tmp_path / "persist")
    shard_members(df, target_shard_bytes=1000).sortWithinPartitions(
        "name"
    ).write.format("tarshards").mode("overwrite").save(out_b)
    release_caches()

    a = spark.read.format("tarshards").load(out_a)
    b = spark.read.format("tarshards").load(out_b)
    pa_rows = sorted(
        (r["name"], r["shard"]) for r in a.select("name", "shard").collect()
    )
    pb_rows = sorted(
        (r["name"], r["shard"]) for r in b.select("name", "shard").collect()
    )
    # identical placement, not just identical counts
    assert [n for n, _ in pa_rows] == [n for n, _ in pb_rows]
    assert [s.rsplit("/", 1)[-1] for _, s in pa_rows] == [
        s.rsplit("/", 1)[-1] for _, s in pb_rows
    ]


def test_tarshards_manifest_integrity(spark, tmp_path):
    """Commit-time _MANIFEST.json + distributed verification: a clean
    snapshot verifies all-ok; a flipped byte reports 'corrupt'; a
    deleted shard reports 'missing' AND is refused by the reader's
    shard-set cross-check; a pre-manifest snapshot (no _MANIFEST)
    still reads."""
    import json
    import os

    import pytest

    from mongo2pq_spark.sources.tarshards import (
        register_tarshards,
        verify_tar_shards,
    )

    register_tarshards(spark)
    ddl = "name string, payload binary"
    df = spark.createDataFrame(
        [(f"m{i}.txt", f"data-{i}".encode() * 50) for i in range(9)], ddl
    ).repartition(3)
    out = str(tmp_path / "shards")
    df.write.format("tarshards").mode("overwrite").save(out)

    with open(os.path.join(out, "_MANIFEST.json")) as fh:
        manifest = json.load(fh)["shards"]
    shard_files = sorted(
        f for f in os.listdir(out) if f.startswith("shard-")
    )
    assert sorted(manifest) == shard_files
    ok = {r["shard"]: r["status"] for r in verify_tar_shards(spark, out).collect()}
    assert set(ok.values()) == {"ok"} and len(ok) == len(shard_files)
    # member count of the soon-to-die shard (round-robin partition
    # sizes are not guaranteed equal)
    back = spark.read.format("tarshards").load(out)
    n_victim = back.filter(back["shard"] == shard_files[0]).count()

    # flip one byte mid-file -> corrupt (length unchanged)
    victim = os.path.join(out, shard_files[0])
    blob = bytearray(open(victim, "rb").read())
    blob[600] ^= 0xFF
    open(victim, "wb").write(bytes(blob))
    statuses = {
        r["shard"]: r["status"]
        for r in verify_tar_shards(spark, out).collect()
    }
    assert statuses[shard_files[0]] == "corrupt"
    assert all(
        v == "ok" for k, v in statuses.items() if k != shard_files[0]
    )

    # delete a shard -> verification says missing; the reader refuses
    os.remove(victim)
    statuses = {
        r["shard"]: r["status"]
        for r in verify_tar_shards(spark, out).collect()
    }
    assert statuses[shard_files[0]] == "missing"
    with pytest.raises(Exception, match="does not match _MANIFEST"):
        spark.read.format("tarshards").load(out).collect()

    # pre-manifest snapshots still read (backward compatibility)
    os.remove(os.path.join(out, "_MANIFEST.json"))
    remaining = spark.read.format("tarshards").load(out).count()
    assert remaining == 9 - n_victim


def test_tarshards_read_payloads_false(spark, tmp_path):
    """Manifest-only native read: .option('payloads','false') skips
    member extraction — names/shards identical to the full read,
    payload uniformly NULL (the manual column-pruning stand-in for
    Python DataSources; VERDICT r13 stretch #7). Full-read default
    unchanged; junk option values fail loud."""
    import pytest

    from mongo2pq_spark.sources.tarshards import register_tarshards

    register_tarshards(spark)
    df = spark.createDataFrame(
        [(f"doc{i}.txt", f"payload-{i}".encode()) for i in range(12)],
        "name string, payload binary",
    ).repartition(3)
    out = str(tmp_path / "shards")
    df.write.format("tarshards").mode("overwrite").save(out)

    full = spark.read.format("tarshards").load(out)
    lean = (
        spark.read.format("tarshards")
        .option("payloads", "false")
        .load(out)
    )
    assert lean.schema == full.schema
    lean_rows = lean.collect()
    assert all(r["payload"] is None for r in lean_rows)
    assert sorted((r["name"], r["shard"]) for r in lean_rows) == sorted(
        (r["name"], r["shard"]) for r in full.collect()
    )
    # stat scans compose: member count per shard without payloads
    counts = lean.groupBy("shard").count().collect()
    assert sum(r["count"] for r in counts) == 12 and len(counts) == 3

    with pytest.raises(Exception, match="payloads"):
        (
            spark.read.format("tarshards")
            .option("payloads", "maybe")
            .load(out)
            .collect()
        )


def test_tarshards_read_member_glob(spark, tmp_path):
    """Name-predicate native read (VERDICT r14 stretch #8): a
    mixed-content generation (tokens + metadata sidecars per sample,
    the WebDataset norm) serves a tokens-only scan via
    .option('member_glob', '*.tokens') — matching members byte-exact,
    non-matching members never emitted; composes with
    payloads=false; the unfiltered default is unchanged; an empty
    pattern fails loud."""
    import pytest

    from mongo2pq_spark.sources.tarshards import register_tarshards

    register_tarshards(spark)
    rows = []
    for i in range(8):
        rows.append((f"doc{i}.tokens", f"ids-{i}".encode()))
        rows.append((f"doc{i}.meta.json", b'{"lang":"en"}'))
    df = spark.createDataFrame(
        rows, "name string, payload binary"
    ).repartition(3)
    out = str(tmp_path / "mixed")
    df.write.format("tarshards").mode("overwrite").save(out)

    toks = (
        spark.read.format("tarshards")
        .option("member_glob", "*.tokens")
        .load(out)
        .collect()
    )
    assert sorted((r["name"], bytes(r["payload"])) for r in toks) == sorted(
        (n, p) for n, p in rows if n.endswith(".tokens")
    )

    # composes with payloads=false: filtered names-only sweep
    meta_lean = (
        spark.read.format("tarshards")
        .option("member_glob", "*.meta.json")
        .option("payloads", "false")
        .load(out)
        .collect()
    )
    assert sorted(r["name"] for r in meta_lean) == sorted(
        n for n, _ in rows if n.endswith(".meta.json")
    )
    assert all(r["payload"] is None for r in meta_lean)

    # default read still sees every member
    assert spark.read.format("tarshards").load(out).count() == len(rows)

    with pytest.raises(Exception, match="member_glob"):
        (
            spark.read.format("tarshards")
            .option("member_glob", "")
            .load(out)
            .collect()
        )


def test_verify_tar_shards_chunked_and_skew(spark, tmp_path):
    """The fsck's chunked re-hash: a chunk_bytes smaller than the
    shard forces the multi-chunk path (hash must agree across buffer
    boundaries — the O(chunk) peak-memory contract, VERDICT r13 #2);
    a mid-file flip past the first chunk is still caught; the
    bytes_over_median skew column reports the one oversized shard a
    heavy indivisible sample produces."""
    import json
    import os

    from pyspark.sql import functions as F

    from mongo2pq_spark.sources.tarshards import (
        register_tarshards,
        verify_tar_shards,
    )

    register_tarshards(spark)
    # 3 samples of ~2 KB and one 64 KB heavyweight, keyed so the
    # heavy sample sits alone in its shard
    rows = [(f"s{i}.txt", (f"body-{i} " * 256).encode()) for i in range(3)]
    rows.append(("heavy.txt", b"H" * 65536))
    df = spark.createDataFrame(rows, "name string, payload binary")
    out = str(tmp_path / "shards")
    (
        df.repartition(4, F.col("name"))
        .write.format("tarshards")
        .mode("overwrite")
        .save(out)
    )

    # chunk far below shard size: every shard hashes over many chunks
    res = {
        r["shard"]: r
        for r in verify_tar_shards(spark, out, chunk_bytes=1024).collect()
    }
    assert all(r["status"] == "ok" for r in res.values())
    # same verdicts as the default chunk size (chunking is invisible)
    default = {
        r["shard"]: (r["actual_md5"], r["actual_bytes"])
        for r in verify_tar_shards(spark, out).collect()
    }
    assert default == {
        k: (r["actual_md5"], r["actual_bytes"]) for k, r in res.items()
    }

    # skew report: the heavy shard reads >1x median, the rest ~equal
    heavy_shard = max(res.values(), key=lambda r: r["expected_bytes"])
    assert heavy_shard["bytes_over_median"] > 5.0
    light = [r for r in res.values() if r is not heavy_shard]
    assert all(0.1 < r["bytes_over_median"] <= 1.5 for r in light)

    # corruption past the first chunk boundary is still caught
    victim = os.path.join(out, heavy_shard["shard"])
    blob = bytearray(open(victim, "rb").read())
    blob[5000] ^= 0xFF  # > chunk_bytes=1024 into the file
    open(victim, "wb").write(bytes(blob))
    statuses = {
        r["shard"]: r["status"]
        for r in verify_tar_shards(spark, out, chunk_bytes=1024).collect()
    }
    assert statuses[heavy_shard["shard"]] == "corrupt"
    assert sorted(statuses.values()).count("ok") == len(statuses) - 1

    with pytest.raises(ValueError, match="chunk_bytes"):
        verify_tar_shards(spark, out, chunk_bytes=0)

    # empty-manifest snapshot: zero rows, no division-by-zero skew
    empty = str(tmp_path / "empty")
    os.makedirs(empty)
    with open(os.path.join(empty, "_MANIFEST.json"), "w") as fh:
        json.dump({"shards": {}}, fh)
    assert verify_tar_shards(spark, empty).count() == 0


def test_tarshards_incremental_ship_inheritance(spark, tmp_path):
    """write_shards_incremental (VERDICT r15 #6 — shard-level reuse):
    only the buckets touched by changed/added/removed members are
    REWRITTEN for generation B; every clean bucket's shard is
    inherited by manifest reference from the generation that owns
    its bytes. Pins: (1) the bucket formula pmod(murmur3(name), n)
    IS repartition(n, name)'s assignment (filename == bucket); (2)
    the read covers owned + inherited and is value-identical to a
    full ship; (3) inheritance is a BORROW — rewriting the owner's
    shard flows through gen B's read and trips the fsck; (4) the
    drift rail fails loud on an under-declared increment; (5) a
    vanished owner fails the read; (6) gen C inheriting through gen
    B flattens 'from' to the true owner (depth 1)."""
    import io
    import json
    import os
    import tarfile

    import pytest
    from pyspark.sql import functions as F

    from mongo2pq_spark.sources.tarshards import (
        register_tarshards,
        verify_tar_shards,
        write_shards_incremental,
    )

    register_tarshards(spark)
    ddl = "name string, payload binary"
    N = 8
    gen_a_rows = [(f"doc{i}.bin", f"A-{i}".encode() * 3) for i in range(40)]
    gen_a_df = spark.createDataFrame(gen_a_rows, ddl)
    dir_a = str(tmp_path / "gen_a")
    (
        gen_a_df.repartition(N, F.col("name"))
        .sortWithinPartitions("name")
        .write.format("tarshards")
        .mode("overwrite")
        .save(dir_a)
    )
    man_a = json.load(open(os.path.join(dir_a, "_MANIFEST.json")))
    assert man_a["n_shards"] == N

    # (1) filename == pmod(murmur3(name), n): the cross-generation
    # shard-identity pin everything else rests on
    placed = {
        r["name"]: int(r["shard"].split("-")[1].split(".")[0])
        for r in spark.read.format("tarshards")
        .option("payloads", "false")
        .load(dir_a)
        .collect()
    }
    formula = {
        r["name"]: r["b"]
        for r in gen_a_df.select(
            "name", F.pmod(F.hash("name"), F.lit(N)).alias("b")
        ).collect()
    }
    assert placed == formula

    # generation B: docs 3 and 17 change, doc 5 removed, one doc
    # ADDED — chosen so its bucket is otherwise CLEAN (the drift-rail
    # scenario below needs an omission that actually matters; an
    # added doc landing in an already-dirty bucket is legitimately
    # rewriteable without being declared)
    base_dirty = {
        formula["doc3.bin"], formula["doc17.bin"], formula["doc5.bin"]
    }
    cands = [(f"doc{i}.bin",) for i in range(50, 80)]
    added = next(
        r["name"]
        for r in spark.createDataFrame(cands, "name string")
        .select("name", F.pmod(F.hash("name"), F.lit(N)).alias("b"))
        .collect()
        if r["b"] not in base_dirty
    )
    b_added = spark.createDataFrame([(added,)], "name string").select(
        F.pmod(F.hash("name"), F.lit(N)).alias("b")
    ).first()["b"]
    changed = {3, 17}
    gen_b_rows = [
        (n, f"B-{n}".encode() * 3 if int(n[3:-4]) in changed else p)
        for n, p in gen_a_rows
        if n != "doc5.bin"
    ] + [(added, b"B-new" * 3)]
    gen_b_df = spark.createDataFrame(gen_b_rows, ddl)
    dirty_names = spark.createDataFrame(
        [("doc3.bin",), ("doc17.bin",), (added,)], "name string"
    )
    dir_b = str(tmp_path / "gen_b")
    stats = write_shards_incremental(gen_b_df, dir_b, dir_a, dirty_names)
    assert stats["n_shards"] == N
    dirty_buckets = base_dirty | {b_added}
    owned_files = {
        f for f in os.listdir(dir_b) if f.startswith("shard-")
    }
    assert owned_files == {
        f"shard-{b:05d}.tar" for b in dirty_buckets
    }
    man_b = json.load(open(os.path.join(dir_b, "_MANIFEST.json")))
    assert set(man_b["inherited"]) == {
        f"shard-{b:05d}.tar"
        for b in set(placed.values()) - dirty_buckets
    }
    assert stats["owned"] == len(owned_files)
    assert stats["inherited"] == len(man_b["inherited"])
    for meta in man_b["inherited"].values():
        assert meta["from"] == os.path.abspath(dir_a)

    # (2) the read is value-identical to the full member table
    back = {
        r["name"]: bytes(r["payload"])
        for r in spark.read.format("tarshards").load(dir_b).collect()
    }
    assert back == dict(gen_b_rows)
    assert {
        r["status"]
        for r in verify_tar_shards(spark, dir_b).collect()
    } == {"ok"}

    # (6) gen C: nothing changes — everything inherited, and shards
    # gen B itself inherited keep 'from' = gen A (depth-1 chains)
    dir_c = str(tmp_path / "gen_c")
    empty_dirty = spark.createDataFrame([], "name string")
    stats_c = write_shards_incremental(gen_b_df, dir_c, dir_b, empty_dirty)
    assert stats_c["owned"] == 0
    man_c = json.load(open(os.path.join(dir_c, "_MANIFEST.json")))
    assert set(man_c["inherited"]) == set(man_b["shards"]) | set(
        man_b["inherited"]
    )
    for fname, meta in man_c["inherited"].items():
        expect_from = (
            os.path.abspath(dir_b)
            if fname in man_b["shards"]
            else os.path.abspath(dir_a)
        )
        assert meta["from"] == expect_from, fname
    back_c = {
        r["name"]: bytes(r["payload"])
        for r in spark.read.format("tarshards").load(dir_c).collect()
    }
    assert back_c == dict(gen_b_rows)

    # (4) drift rail: omit the ADDED doc from dirty_names — its clean
    # bucket would inherit a stale shard; must fail loud, not ship
    with pytest.raises(ValueError, match="under-declares"):
        write_shards_incremental(
            gen_b_df,
            str(tmp_path / "gen_bad"),
            dir_a,
            spark.createDataFrame(
                [("doc3.bin",), ("doc17.bin",)], "name string"
            ),
        )

    # (3) borrow, not copy: rewrite one inherited shard IN THE OWNER
    # with a different payload — gen B's read must reflect it, and
    # the fsck must flag it against gen B's recorded md5
    inh_name = sorted(man_b["inherited"])[0]
    victim_path = os.path.join(dir_a, inh_name)
    with tarfile.open(victim_path) as tf:
        victims = [m.name for m in tf.getmembers() if m.isfile()]
    with tarfile.open(victim_path, "w", format=tarfile.USTAR_FORMAT) as tf:
        for vn in victims:
            blob = b"TAMPERED"
            info = tarfile.TarInfo(vn)
            info.size = len(blob)
            info.mtime = 0
            info.mode = 0o644
            tf.addfile(info, io.BytesIO(blob))
    back2 = {
        r["name"]: bytes(r["payload"])
        for r in spark.read.format("tarshards").load(dir_b).collect()
    }
    assert all(back2[vn] == b"TAMPERED" for vn in victims)
    flagged = {
        r["shard"]: r["status"]
        for r in verify_tar_shards(spark, dir_b).collect()
    }
    assert flagged[inh_name] == "corrupt"

    # (5) vanished owner: the read refuses the dangling reference
    os.remove(victim_path)
    with pytest.raises(Exception, match="inherited shard"):
        spark.read.format("tarshards").load(dir_b).collect()


def test_verify_tar_shards_large_shard_smoke(spark, tmp_path):
    """~200 MB shard through the default 8 MB chunk: the fsck's task
    memory is the read buffer, not the shard (the old binaryFile
    formulation held the whole file as one row). The fixture file is
    written directly — the fsck hashes bytes, it never parses tar —
    with its md5 computed the same incremental way."""
    import hashlib
    import json
    import os

    from mongo2pq_spark.sources.tarshards import verify_tar_shards

    out = str(tmp_path / "big")
    os.makedirs(out)
    block = bytes(range(256)) * 4096  # 1 MiB
    hasher = hashlib.md5()
    n = 200
    with open(os.path.join(out, "shard-00000.tar"), "wb") as fh:
        for i in range(n):
            buf = bytes([i % 251]) + block[1:]
            fh.write(buf)
            hasher.update(buf)
    with open(os.path.join(out, "_MANIFEST.json"), "w") as fh:
        json.dump(
            {
                "shards": {
                    "shard-00000.tar": {
                        "md5": hasher.hexdigest(),
                        "bytes": n * len(block),
                    }
                }
            },
            fh,
        )
    [row] = verify_tar_shards(spark, out).collect()
    assert row["status"] == "ok"
    assert row["actual_bytes"] == n * len(block)


def test_cli_nb_classifier_at_ingest(spark, tmp_path):
    """--nb-store: labeled collections TEACH the persisted count store
    at ingest (content-keyed batch; identical retry no-ops, edited
    re-teach replaces the prior generation), every collection
    carrying text+id gains nb_pred_label/nb_pred_score from the model
    rebuilt over the store's whole history, a later score-only run
    needs no config flags (the store's pin is authoritative), and the
    predictions equal nb_train+nb_score computed directly. Error
    paths: untrained store, config drift, argparse dependencies."""
    from mongo2pq_spark.cli import main as _main, parse_args as _parse
    from mongo2pq_spark.operators.classifier import nb_score, nb_train

    labeled = [
        (1, "spam buy now buy cheap", "spam"),
        (2, "buy cheap spam spam offer", "spam"),
        (3, "hello dear friend meeting", "ham"),
        (4, "dear friend hello hello agenda", "ham"),
    ]
    unlabeled = [
        (10, "buy spam offer"),
        (11, "hello agenda friend"),
        (12, ""),
    ]
    src1 = tmp_path / "src1"
    src1.mkdir()
    spark.createDataFrame(
        labeled, "doc_id long, text string, label string"
    ).write.parquet(str(src1 / "labeled.parquet"))
    spark.createDataFrame(
        unlabeled, "doc_id long, text string"
    ).write.parquet(str(src1 / "unlabeled.parquet"))

    store = tmp_path / "nbstore"
    out1 = tmp_path / "o1"
    rc = _main(
        f"file:{src1}",
        outdir=out1,
        nb_store=store,
        nb_label_col="label",
        use_source_types=True,
        spark=spark,
    )
    assert rc == 0

    # expectation: the model the CLI used, rebuilt directly
    train_df = spark.createDataFrame(
        labeled, "doc_id long, text string, label string"
    )
    model, priors = nb_train(train_df, "label")
    expect = {
        r["doc_id"]: (r["pred_label"], r["score"])
        for r in nb_score(
            spark.createDataFrame(unlabeled, "doc_id long, text string"),
            model,
            priors,
        ).collect()
    }
    got_unlabeled = {
        r["doc_id"]: (r["nb_pred_label"], r["nb_pred_score"])
        for r in spark.read.parquet(
            str(out1 / "unlabeled.parquet")
        ).collect()
    }
    assert got_unlabeled == expect
    # the labeled collection is scored too (it carries text + id)
    lab_out = spark.read.parquet(str(out1 / "labeled.parquet"))
    assert {"nb_pred_label", "nb_pred_score"} <= set(lab_out.columns)
    # the schema dump (re-ingestion contract) describes the new cols
    dumped = (out1 / "unlabeled.yaml").read_text()
    assert "nb_pred_label" in dumped and "nb_pred_score" in dumped

    # score-only run against the trained store: NO config flags
    src2 = tmp_path / "src2"
    src2.mkdir()
    spark.createDataFrame(
        [(20, "spam spam buy"), (21, "friend meeting hello")],
        "doc_id long, text string",
    ).write.parquet(str(src2 / "more.parquet"))
    out2 = tmp_path / "o2"
    rc = _main(
        f"file:{src2}",
        outdir=out2,
        nb_store=store,
        use_source_types=True,
        spark=spark,
    )
    assert rc == 0
    got2 = {
        r["doc_id"]: r["nb_pred_label"]
        for r in spark.read.parquet(str(out2 / "more.parquet")).collect()
    }
    assert got2 == {20: "spam", 21: "ham"}

    # retried teach run: batch replaced, predictions unchanged
    out3 = tmp_path / "o3"
    rc = _main(
        f"file:{src1}",
        outdir=out3,
        nb_store=store,
        nb_label_col="label",
        use_source_types=True,
        spark=spark,
    )
    assert rc == 0
    again = {
        r["doc_id"]: (r["nb_pred_label"], r["nb_pred_score"])
        for r in spark.read.parquet(
            str(out3 / "unlabeled.parquet")
        ).collect()
    }
    assert again == expect

    # untrained store, score-only: fail loud
    rc = _main(
        f"file:{src2}",
        outdir=tmp_path / "o4",
        nb_store=tmp_path / "fresh_store",
        use_source_types=True,
        spark=spark,
    )
    assert rc == 1

    # config drift (hash buckets vs the store's pin): fail loud
    rc = _main(
        f"file:{src1}",
        outdir=tmp_path / "o5",
        nb_store=store,
        nb_label_col="label",
        nb_hash_buckets=16,
        use_source_types=True,
        spark=spark,
    )
    assert rc == 1

    # argparse dependency: teaching flags without the store
    assert _parse(["-u", "mongodb://x", "--nb-label-col", "label"]) is None
    assert _parse(["-u", "mongodb://x", "--nb-hash-buckets", "8"]) is None
    assert _parse(["-u", "mongodb://x", "--nb-compact"]) is None

    # --nb-compact: history folds to one batch=c0 per tree, model
    # (and therefore predictions) unchanged; a retried teach of the
    # absorbed collection after compaction stays a no-op
    import os

    out6 = tmp_path / "o6"
    rc = _main(
        f"file:{src2}",
        outdir=out6,
        nb_store=store,
        nb_compact=True,
        use_source_types=True,
        spark=spark,
    )
    assert rc == 0
    for tree in ("term_counts", "doc_counts"):
        dirs = [
            d
            for d in os.listdir(store / tree)
            if d.startswith("batch=")
        ]
        assert dirs == ["batch=c0"], dirs
    got6 = {
        r["doc_id"]: r["nb_pred_label"]
        for r in spark.read.parquet(str(out6 / "more.parquet")).collect()
    }
    assert got6 == {20: "spam", 21: "ham"}
    out7 = tmp_path / "o7"
    rc = _main(  # retried teach of the absorbed collection: no-op
        f"file:{src1}",
        outdir=out7,
        nb_store=store,
        nb_label_col="label",
        use_source_types=True,
        spark=spark,
    )
    assert rc == 0
    assert {
        r["doc_id"]: (r["nb_pred_label"], r["nb_pred_score"])
        for r in spark.read.parquet(
            str(out7 / "unlabeled.parquet")
        ).collect()
    } == expect


def test_cli_parallel_collections_scoped_caches(spark, tmp_path):
    """--parallel-collections 2 with --nb-store: each collection's
    thread registers its caches (nb_score's tf_doc among them) in its
    own cache scope. So the run evicts no stream that another caller
    registered and has not yet materialized, the evicted-unmaterialized
    counter does not move, nothing the run cached is left in the
    bounded registry, and the written rows equal the serial run's."""
    from mongo2pq_spark.operators.cache import (
        _LIVE_CACHES,
        _MAX_LIVE,
        cache_stream,
        evicted_unmaterialized_count,
        release_caches,
    )

    src = tmp_path / "src"
    src.mkdir()
    labeled = [
        (1, "spam buy now buy cheap", "spam"),
        (2, "buy cheap spam spam offer", "spam"),
        (3, "hello dear friend meeting", "ham"),
        (4, "dear friend hello hello agenda", "ham"),
    ]
    spark.createDataFrame(
        labeled, "doc_id long, text string, label string"
    ).write.parquet(str(src / "labeled.parquet"))
    spark.createDataFrame(
        [(10, "buy spam offer"), (11, "hello agenda friend"), (12, "")],
        "doc_id long, text string",
    ).write.parquet(str(src / "unlabeled.parquet"))

    def run(tag: str, parallel: int) -> dict:
        out = tmp_path / tag
        rc = cli_main(
            f"file:{src}",
            outdir=out,
            nb_store=tmp_path / f"nb_{tag}",
            nb_label_col="label",
            parallel_collections=parallel,
            use_source_types=True,
            spark=spark,
        )
        assert rc == 0
        return {
            name: sorted(
                tuple(sorted(r.asDict().items()))
                for r in spark.read.parquet(
                    str(out / f"{name}.parquet")
                ).collect()
            )
            for name in ("labeled", "unlabeled")
        }

    serial = run("serial", 1)
    release_caches()
    # a full bounded registry of streams some other caller built and
    # has not yet run
    pending = [
        cache_stream(spark.range(50 + i).select("id"))
        for i in range(_MAX_LIVE)
    ]
    before = evicted_unmaterialized_count()
    parallel = run("parallel", 2)
    assert evicted_unmaterialized_count() == before
    assert len(_LIVE_CACHES) == _MAX_LIVE
    assert all(any(c is p for c in _LIVE_CACHES) for p in pending)
    release_caches()
    assert parallel == serial
    # the rows carry the scores the threads computed
    assert any(("nb_pred_label", "spam") in r for r in parallel["unlabeled"])


def test_nb_cli_batch_id_sanitizes_any_collection_name():
    """Mongo collection names may contain chars illegal in store batch
    ids (ADVICE r14: a dotted name raised ValueError AFTER earlier
    collections were folded, aborting a half-applied run). The CLI
    key must be valid for ANY name, stable per name, collision-free
    across distinct names, and unchanged for historical legal names."""
    from mongo2pq_spark.cli import _nb_cli_batch_id
    from mongo2pq_spark.operators.classifier import _nb_batch_id_ok

    legal = _nb_cli_batch_id("events_2024")
    assert legal == "cli-events_2024"  # historical keys untouched
    for name in ("a.b", "a b", "ns.sub.coll", "Ünïcode", "a/b", "a_b"):
        key = _nb_cli_batch_id(name)
        assert _nb_batch_id_ok(key), (name, key)
        assert key == _nb_cli_batch_id(name)  # stable
    # sanitized forms that would collide get distinct hash suffixes
    assert _nb_cli_batch_id("a.b") != _nb_cli_batch_id("a_b")
    assert _nb_cli_batch_id("a.b") != _nb_cli_batch_id("a b")


def test_cli_nb_reteach_after_compaction_content_keyed(spark, tmp_path):
    """ADVICE r15 (medium): with name-keyed CLI batches, a post-
    --nb-compact re-teach of a collection whose CONTENT changed was
    silently dropped (its name key sat in the absorbed set) while the
    CLI printed 'folded'. The v2 content-keyed scheme must: (1) give
    an edited re-teach a NEW batch id that ingests post-compaction;
    (2) keep the identical-content retry a no-op, reported as
    SKIPPED, not 'folded'; (3) REPLACE the prior generation's live
    batch dir pre-compaction (no double count); (4) replace a legacy
    name-keyed ``cli-<name>`` batch on the first v2 teach."""
    import os

    from mongo2pq_spark.cli import (
        _nb_cli_batch_id,
        _nb_cli_batch_key,
    )
    from mongo2pq_spark.operators.classifier import (
        compact_nb_store,
        ingest_nb_counts,
        load_nb_model,
        nb_train,
    )

    schema = "doc_id long, text string, label string"
    gen_a = [(1, "spam buy now", "spam"), (2, "hello friend", "ham")]
    gen_b = [(1, "spam buy now", "spam"), (2, "dear agenda agenda", "ham")]
    df_a = spark.createDataFrame(gen_a, schema)
    df_b = spark.createDataFrame(gen_b, schema)

    def snap(pair):
        model, priors = pair
        return (
            sorted(tuple(r) for r in model.collect()),
            sorted(tuple(r) for r in priors.collect()),
        )

    # content keying: identical content -> same key; edited -> new key
    key_a, globs = _nb_cli_batch_key(df_a, "docs", "label", "text")
    key_a2, _ = _nb_cli_batch_key(df_a, "docs", "label", "text")
    key_b, globs_b = _nb_cli_batch_key(df_b, "docs", "label", "text")
    assert key_a == key_a2 and key_a != key_b
    assert globs == globs_b  # replace scope is per-NAME, not content
    other_key, _ = _nb_cli_batch_key(df_a, "other", "label", "text")
    assert other_key != key_a  # distinct collections never collide

    store = str(tmp_path / "store")
    # (4) legacy migration: a pre-upgrade name-keyed batch gets
    # replaced by the v2 teach of the same collection
    legacy_id = _nb_cli_batch_id("docs")
    assert ingest_nb_counts(df_a, store, legacy_id, "label") == "ingested"
    assert (
        ingest_nb_counts(
            df_a, store, key_a, "label", replace_globs=globs
        )
        == "ingested"
    )
    batch_dirs = lambda: sorted(  # noqa: E731
        d
        for d in os.listdir(os.path.join(store, "term_counts"))
        if d.startswith("batch=")
    )
    assert batch_dirs() == [f"batch={key_a}"]
    assert snap(load_nb_model(spark, store, "label")) == snap(
        nb_train(df_a, "label")
    )

    # (3) pre-compaction edited re-teach REPLACES, never appends
    assert (
        ingest_nb_counts(
            df_b, store, key_b, "label", replace_globs=globs
        )
        == "ingested"
    )
    assert batch_dirs() == [f"batch={key_b}"]
    assert snap(load_nb_model(spark, store, "label")) == snap(
        nb_train(df_b, "label")
    )

    compact_nb_store(spark, store)
    # (2) identical-content retry post-compaction: absorbed no-op
    assert (
        ingest_nb_counts(
            df_b, store, key_b, "label", replace_globs=globs
        )
        == "absorbed"
    )
    assert batch_dirs() == ["batch=c0"]

    # (1) EDITED re-teach post-compaction: fresh content key, so it
    # ingests (the old counts stay inside c0 — additive append, the
    # documented post-compaction boundary; never a silent drop)
    gen_c = [(3, "offer offer buy", "spam")]
    df_c = spark.createDataFrame(gen_c, schema)
    key_c, globs_c = _nb_cli_batch_key(df_c, "docs", "label", "text")
    assert (
        ingest_nb_counts(
            df_c, store, key_c, "label", replace_globs=globs_c
        )
        == "ingested"
    )
    assert batch_dirs() == ["batch=c0", f"batch={key_c}"]
    assert snap(load_nb_model(spark, store, "label")) == snap(
        nb_train(spark.createDataFrame(gen_b + gen_c, schema), "label")
    )


def test_generation_tmp_dir_distinct_per_source_generation(tmp_path):
    """The pipeline queries' staging dirs are keyed by (source path,
    mtime) — VERDICT r14 #2: a fixed /tmp path shared across scale
    factors / sessions can interleave write/read and serve a mixed or
    stale generation. Distinct sf_dirs and regenerated sources must
    map to distinct dirs; an unchanged source reuses its dir."""
    import os

    from mongo2pq_spark.queries.llm_pipeline import _generation_tmp_dir

    sf_a = tmp_path / "sf_a"
    sf_b = tmp_path / "sf_b"
    for d in (sf_a, sf_b):
        d.mkdir()
        (d / "documents.parquet").write_bytes(b"x")

    d_a = _generation_tmp_dir(str(sf_a), "pipeline_token_shards")
    d_b = _generation_tmp_dir(str(sf_b), "pipeline_token_shards")
    assert d_a != d_b  # distinct scale factors never share a dir
    assert d_a == _generation_tmp_dir(str(sf_a), "pipeline_token_shards")
    # distinct tags (queries) never share either
    assert d_a != _generation_tmp_dir(str(sf_a), "pipeline_packed_seqs")

    # a REGENERATED source (new mtime) is a new generation -> new dir
    src = sf_a / "documents.parquet"
    old_mtime = src.stat().st_mtime
    os.utime(src, (old_mtime + 10, old_mtime + 10))
    assert _generation_tmp_dir(str(sf_a), "pipeline_token_shards") != d_a

    # directory-shaped source: an in-place PART rewrite that leaves
    # the dir mtime untouched must still key a new generation (the
    # streaming staging helpers' max-over-entries rule)
    sf_c = tmp_path / "sf_c"
    src_c = sf_c / "documents.parquet"
    src_c.mkdir(parents=True)
    part = src_c / "part-00000.parquet"
    part.write_bytes(b"v1")
    d_c = _generation_tmp_dir(str(sf_c), "pipeline_token_shards")
    dir_times = (src_c.stat().st_atime, src_c.stat().st_mtime)
    os.utime(part, (part.stat().st_mtime + 10, part.stat().st_mtime + 10))
    os.utime(src_c, dir_times)  # dir mtime pinned back: file-only change
    assert _generation_tmp_dir(str(sf_c), "pipeline_token_shards") != d_c

    # NESTED (hive-partitioned) source: an in-place rewrite of a leaf
    # part two levels down changes neither the top dir's mtime nor
    # its direct entries' — the ADVICE r15 hazard; the recursive
    # fingerprint must key a new generation anyway
    sf_d = tmp_path / "sf_d"
    src_d = sf_d / "documents.parquet"
    leaf_dir = src_d / "batch=x"
    leaf_dir.mkdir(parents=True)
    leaf = leaf_dir / "part-00000.parquet"
    leaf.write_bytes(b"v1")
    d_d = _generation_tmp_dir(str(sf_d), "pipeline_token_shards")
    assert d_d == _generation_tmp_dir(str(sf_d), "pipeline_token_shards")
    top_times = (src_d.stat().st_atime, src_d.stat().st_mtime)
    sub_times = (leaf_dir.stat().st_atime, leaf_dir.stat().st_mtime)
    os.utime(leaf, (leaf.stat().st_mtime + 10, leaf.stat().st_mtime + 10))
    os.utime(leaf_dir, sub_times)  # both dir mtimes pinned back
    os.utime(src_d, top_times)
    assert _generation_tmp_dir(str(sf_d), "pipeline_token_shards") != d_d

    # SAME-mtime in-place rewrite that changes the size keys anew too
    d_d2 = _generation_tmp_dir(str(sf_d), "pipeline_token_shards")
    t = leaf.stat()
    leaf.write_bytes(b"v2-longer")
    os.utime(leaf, (t.st_atime, t.st_mtime))
    os.utime(leaf_dir, sub_times)
    os.utime(src_d, top_times)
    assert _generation_tmp_dir(str(sf_d), "pipeline_token_shards") != d_d2

    # per_process: same generation, two processes -> disjoint dirs
    # (the rmtree-at-entry store queries' same-generation race guard)
    from mongo2pq_spark.sources.staging import generation_tmp_dir

    mine = generation_tmp_dir(str(sf_a), "nb_store", per_process=True)
    assert mine == generation_tmp_dir(
        str(sf_a), "nb_store", per_process=True
    )
    assert mine != generation_tmp_dir(str(sf_a), "nb_store")
    assert mine.endswith(f"-p{os.getpid()}")
    import subprocess
    import sys

    other = subprocess.run(
        [
            sys.executable,
            "-c",
            "from mongo2pq_spark.sources.staging import "
            "generation_tmp_dir; "
            f"print(generation_tmp_dir({str(sf_a)!r}, 'nb_store', "
            "per_process=True))",
        ],
        capture_output=True,
        text=True,
        cwd="/root/repo",
        check=True,
    ).stdout.strip()
    assert other != mine  # concurrent sessions cannot collide


def test_tarshards_incremental_refuses_foreign_partitioner(spark, tmp_path):
    """ADVICE r16 (the round's one medium): the drift rail must
    verify clean-bucket membership against each name's ACTUAL shard
    file, not a recomputation of pmod(hash(name), n) — a prior
    snapshot written via shard_members with a custom key_expr (a
    supported parameter) places members in shards the pinned bucket
    function disagrees with, and inheriting any 'clean' bucket would
    silently ship wrong member sets. The ship must refuse loudly and
    point at a FULL re-ship."""
    import pytest
    from pyspark.sql import functions as F

    from mongo2pq_spark.sources.tarshards import (
        register_tarshards,
        write_shards_incremental,
    )

    register_tarshards(spark)
    ddl = "name string, payload binary"
    N = 8
    rows = [(f"doc{i}.bin", f"A-{i}".encode() * 3) for i in range(40)]
    df = spark.createDataFrame(rows, ddl)
    # custom sample-key partitioner: hash of the REVERSED name — a
    # stand-in for shard_members(key_expr=...) placement that almost
    # surely disagrees with pmod(hash(name), N) for some member
    dir_a = str(tmp_path / "gen_a_custom")
    (
        df.repartition(N, F.reverse(F.col("name")))
        .sortWithinPartitions("name")
        .write.format("tarshards")
        .mode("overwrite")
        .save(dir_a)
    )
    # sanity: the fixture really does mislocate at least one member
    placed = {
        r["name"]: r["shard"]
        for r in spark.read.format("tarshards")
        .option("payloads", "false")
        .load(dir_a)
        .collect()
    }
    formula = {
        r["name"]: f"shard-{r['b']:05d}.tar"
        for r in df.select(
            "name", F.pmod(F.hash("name"), F.lit(N)).alias("b")
        ).collect()
    }
    assert any(placed[n] != formula[n] for n in placed)

    gen_b = spark.createDataFrame(
        [(n, p if n != "doc3.bin" else b"B-3B-3") for n, p in rows], ddl
    )
    with pytest.raises(ValueError, match="different partitioner"):
        write_shards_incremental(
            gen_b,
            str(tmp_path / "gen_b_custom"),
            dir_a,
            spark.createDataFrame([("doc3.bin",)], "name string"),
        )


def test_tarshards_inherited_borrow_rail_two_process(spark, tmp_path):
    """VERDICT r16 #5: prove the borrow contract's fail-loud rail
    fires under a CONCURRENT overwrite of the owning generation —
    the tamper runs in a SEPARATE PROCESS while this session already
    holds gen B's LAZY reader (Python DataSource partitions() runs at
    execution, so the read plan outlives the tamper). Both outcomes:
    (a) owner shard deleted → the dependent read fails loud naming
    the owning generation; (b) owner shard rewritten in place → the
    borrow semantics surface the NEW bytes and verify_tar_shards
    flags the shard corrupt against gen B's recorded md5."""
    import json
    import os
    import subprocess
    import sys

    import pytest
    from pyspark.sql import functions as F

    from mongo2pq_spark.sources.tarshards import (
        register_tarshards,
        verify_tar_shards,
        write_shards_incremental,
    )

    register_tarshards(spark)
    ddl = "name string, payload binary"
    N = 4
    rows = [(f"doc{i}.bin", f"A-{i}".encode() * 3) for i in range(24)]
    df = spark.createDataFrame(rows, ddl)
    dir_a = str(tmp_path / "owner")
    (
        df.repartition(N, F.col("name"))
        .sortWithinPartitions("name")
        .write.format("tarshards")
        .mode("overwrite")
        .save(dir_a)
    )
    # gen B: one changed doc; everything else inherited from A
    gen_b = spark.createDataFrame(
        [(n, p if n != "doc7.bin" else b"B7B7") for n, p in rows], ddl
    )
    dir_b = str(tmp_path / "dependent")
    stats = write_shards_incremental(
        gen_b, dir_b, dir_a,
        spark.createDataFrame([("doc7.bin",)], "name string"),
    )
    assert stats["inherited"] >= 1
    man_b = json.load(open(os.path.join(dir_b, "_MANIFEST.json")))
    victim = sorted(man_b["inherited"])[0]

    # LAZY reader created BEFORE the tamper: the hazard window
    lazy = spark.read.format("tarshards").load(dir_b)

    # (b) REWRITE the victim in the owner dir from another process
    tamper = (
        "import io, tarfile, sys\n"
        "p = sys.argv[1]\n"
        "with tarfile.open(p) as tf:\n"
        "    names = [m.name for m in tf.getmembers() if m.isfile()]\n"
        "with tarfile.open(p, 'w', format=tarfile.USTAR_FORMAT) as tf:\n"
        "    for n in names:\n"
        "        blob = b'TAMPERED-BY-OTHER-PROCESS'\n"
        "        info = tarfile.TarInfo(n)\n"
        "        info.size = len(blob); info.mtime = 0; info.mode = 0o644\n"
        "        tf.addfile(info, io.BytesIO(blob))\n"
    )
    subprocess.run(
        [sys.executable, "-c", tamper, os.path.join(dir_a, victim)],
        check=True,
    )
    got = {
        r["name"]: bytes(r["payload"]) for r in lazy.collect()
    }
    assert b"TAMPERED-BY-OTHER-PROCESS" in got.values()  # borrow, not copy
    flagged = {
        r["shard"]: r["status"]
        for r in verify_tar_shards(spark, dir_b).collect()
    }
    assert flagged[victim] == "corrupt"  # the fsck rail fires

    # (a) DELETE the victim from another process: a still-lazy read
    # (fresh plan, same hazard) fails loud naming the owner
    lazy2 = spark.read.format("tarshards").load(dir_b)
    subprocess.run(
        [sys.executable, "-c", "import os, sys; os.remove(sys.argv[1])",
         os.path.join(dir_a, victim)],
        check=True,
    )
    with pytest.raises(Exception, match="missing from owning generation"):
        lazy2.collect()
    # and the fsck reports it missing rather than crashing
    statuses = {
        r["shard"]: r["status"]
        for r in verify_tar_shards(spark, dir_b).collect()
    }
    assert statuses[victim] == "missing"
