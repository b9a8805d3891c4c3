"""The benchmark's workloads. Each one makes its inputs from a seed,
runs them through the engine's public entry point (``cli.main`` with a
caller-owned session), checks the output, and can replay the same work
as a traced sequence of the layers ``cli.main`` calls, in its order."""

from __future__ import annotations

import shutil
from pathlib import Path

import checks
import inputs
from tracing import CALL_METRICS, DRIVER_METRICS, noop_sink

#: byte-range split of the dump: 16 read tasks over the ~63 MB dump,
#: so each of 4 cores gets several
DUMP_SPLIT = 4 << 20


def _clean(path: Path) -> Path:
    shutil.rmtree(path, ignore_errors=True)
    return path


class ElDump:
    """One seeded mongodump collection through sampled inference, the
    config's retype/rename projection and the hive-partitioned write."""

    name = "el_dump"
    docs = 160_000
    #: timed repetitions per run; the median is reported
    reps = 2
    warm_docs = 20_000

    def __init__(self, work: Path, seed: int):
        self.work = work
        self.manifest = inputs.el_dump_input(
            work / "inputs" / self.name, seed, self.docs
        )
        self.src = work / "inputs" / self.name / "src"
        self.config = work / "inputs" / self.name / "config.yaml"
        self.warm_src = work / "warm" / self.name / "src"
        inputs.slice_dump(
            self.src / f"{inputs.DUMP_COLLECTION}.jsonl",
            self.warm_src / f"{inputs.DUMP_COLLECTION}.jsonl",
            self.warm_docs,
        )
        self.bytes_in = sum(
            size for name, size in self.manifest["bytes"].items()
            if name.startswith("src/")
        )

    def _main(self, spark, src: Path, outdir: Path, split: int = DUMP_SPLIT) -> int:
        from mongo2pq_spark import cli

        return cli.main(
            uri=f"file:{src}",
            source_format="mongodump",
            partition_key="region",
            config_file=self.config,
            split_size=split,
            outdir=outdir,
            spark=spark,
        )

    def warm_up(self, spark) -> None:
        """Ingest a slice of the dump, split so that every core runs
        read tasks."""
        src = self.warm_src / f"{inputs.DUMP_COLLECTION}.jsonl"
        split = src.stat().st_size // (2 * spark.sparkContext.defaultParallelism) + 1
        if self._main(spark, self.warm_src, _clean(self.work / "warm_out"), split):
            raise RuntimeError("el_dump warm-up failed")

    def run(self, spark, outdir: Path) -> dict:
        """One timed operation; returns its operation and failure counts."""
        rc = self._main(spark, self.src, _clean(outdir))
        return {"ops": 1, "failed": int(rc != 0)}

    def output_stats(self, outdir: Path) -> dict:
        rows, files, size = checks.rows_per_partition(
            outdir / f"{inputs.DUMP_COLLECTION}.parquet"
        )
        return {"rows": rows, "files_out": files, "bytes_out": size}

    def check(self, outdir: Path) -> list:
        return checks.check_el_dump(outdir, self.manifest["truth"])

    def traced(self, spark, tracer, outdir: Path) -> None:
        """``cli.main``'s layer sequence for one mongodump collection."""
        from mongo2pq_spark.config import parse_config
        from mongo2pq_spark.plans.pipeline import extract_load_collection
        from mongo2pq_spark.schema.inference import infer_schema_from_df
        from mongo2pq_spark.schema.model import Schema
        from mongo2pq_spark.schema.yaml_io import dump_schema_to_file
        from mongo2pq_spark.sources.mongodump import read_mongodump

        _clean(outdir)
        path = self.src / f"{inputs.DUMP_COLLECTION}.jsonl"
        with tracer.span(self.name, jobs=False):
            with tracer.span("sources.read_mongodump"):
                df = read_mongodump(spark, str(path), split_size=DUMP_SPLIT)
            with tracer.span("sources.decode"):
                noop_sink(df)
            with tracer.span("schema.infer_schema_from_df"):
                schema = Schema(
                    inputs.DUMP_COLLECTION, infer_schema_from_df(df)
                )
            dump_schema_to_file(schema, destination=outdir)
            schema.use_config(parse_config(self.config)["schema"])
            with tracer.span("plans.extract_load_collection") as span:
                metrics: dict = {}
                extract_load_collection(
                    df, schema, outdir, partition_key="region",
                    metrics=metrics,
                )
                span["rows_written"] = metrics["rows_written"]

    #: per-layer metric prefix -> (span path, suffixes)
    layers = {
        layer: (f"el_dump/{layer}", suffixes)
        for layer, suffixes in (
            ("sources.read_mongodump", DRIVER_METRICS),
            ("sources.decode", CALL_METRICS),
            ("schema.infer_schema_from_df", CALL_METRICS),
            ("plans.extract_load_collection", CALL_METRICS + ("rows_written",)),
        )
    }


class IngestDedup:
    """A base text collection, then an increment carrying planted
    near-duplicates of it, through exact dedup, the near-dedup store and
    the inverted index, written hive-partitioned by language."""

    name = "ingest_dedup"
    n_base, n_inc = 8_000, 4_000
    reps = 1
    warm_docs = 1_000

    def __init__(self, work: Path, seed: int):
        self.work = work
        root = work / "inputs" / self.name
        self.manifest = inputs.ingest_dedup_input(
            root, seed, self.n_base, self.n_inc
        )
        self.base_src, self.inc_src = root / "base", root / "inc"
        warm = work / "warm" / self.name
        inputs.ingest_dedup_input(warm, seed, self.warm_docs, 0)
        self.warm_src = warm / "base"
        self.docs = self.n_base + self.n_inc
        self.bytes_in = sum(self.manifest["bytes"].values())

    @staticmethod
    def _main(spark, src: Path, outdir: Path, state: Path) -> int:
        from mongo2pq_spark import cli

        return cli.main(
            uri=f"file:{src}",
            use_source_types=True,
            dedup_text_col="text",
            near_dedup_store=state / "store",
            inverted_index=state / "index",
            index_text_col="text",
            partition_key="lang",
            outdir=outdir,
            spark=spark,
        )

    def warm_up(self, spark) -> None:
        """Ingest a small batch into a fresh warm-up store."""
        state = _clean(self.work / "warm_out")
        if self._main(spark, self.warm_src, state / "out", state):
            raise RuntimeError("ingest_dedup warm-up failed")

    def run(self, spark, outdir: Path) -> dict:
        _clean(outdir)
        failed = 0
        for src, sub in ((self.base_src, "base"), (self.inc_src, "inc")):
            failed += int(self._main(spark, src, outdir / sub, outdir) != 0)
        return {"ops": 2, "failed": failed}

    def output_stats(self, outdir: Path) -> dict:
        out = {"rows": {}, "files_out": 0, "bytes_out": 0}
        for sub in ("base", "inc"):
            rows, files, size = checks.rows_per_partition(
                outdir / sub / f"{inputs.DEDUP_COLLECTION}.parquet"
            )
            out["rows"].update({f"{sub}/{k}": v for k, v in rows.items()})
            out["files_out"] += files
            out["bytes_out"] += size
        return out

    def check(self, outdir: Path) -> list:
        return checks.check_ingest_dedup(
            outdir / "base", outdir / "inc", outdir / "store",
            self.manifest["truth"],
        )

    def traced(self, spark, tracer, outdir: Path) -> None:
        """``cli.main``'s layer sequence, once for the base and once for
        the increment. The lazy layers are materialized through a noop
        sink over a cached input, so each span holds its own work."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from mongo2pq_spark.cli import _index_batch_token
        from mongo2pq_spark.operators.dedup import drop_exact_duplicates
        from mongo2pq_spark.operators.text import write_inverted_index
        from mongo2pq_spark.plans.neardedup_store import NearDedupStore
        from mongo2pq_spark.plans.pipeline import extract_load_collection
        from mongo2pq_spark.schema.model import Schema
        from mongo2pq_spark.schema.yaml_io import dump_schema_to_file
        from mongo2pq_spark.sources.registry import read_table

        def counted(df, span, key):
            obs = Observation(key)
            noop_sink(df.observe(obs, F.count(F.lit(1)).alias("n")))
            span[key] = obs.get["n"]

        _clean(outdir)
        name = inputs.DEDUP_COLLECTION
        for src, phase in ((self.base_src, "base"), (self.inc_src, "inc")):
            out = outdir / phase
            with tracer.span(phase, jobs=False):
                with tracer.span("sources.read_table"):
                    raw = read_table(spark, src / f"{name}.parquet").persist()
                    noop_sink(raw)
                schema = Schema.from_df(name, raw)
                dump_schema_to_file(schema, destination=out)
                df = drop_exact_duplicates(raw, text_col="text", id_col="doc_id")
                with tracer.span("operators.drop_exact_duplicates") as span:
                    counted(df, span, "rows_out")
                store = NearDedupStore(outdir / "store", name, text_col="text")
                cached = df.persist()
                try:
                    with tracer.span("plans.neardedup_store.batch_token"):
                        token = store.batch_token(cached)
                    df = store.filter_new(cached, token)
                    with tracer.span("plans.neardedup_store.filter_new") as span:
                        counted(df, span, "rows_out")
                    with tracer.span("plans.extract_load_collection") as span:
                        metrics: dict = {}
                        extract_load_collection(
                            df, schema, out, partition_key="lang",
                            metrics=metrics,
                        )
                        span["rows_written"] = metrics["rows_written"]
                    with tracer.span("plans.neardedup_store.commit"):
                        store.commit(token)
                    with tracer.span("operators.write_inverted_index"):
                        write_inverted_index(
                            df, str(outdir / "index" / name),
                            id_col="doc_id", text_col="text",
                            batch_token=_index_batch_token(df, "doc_id", "text"),
                        )
                finally:
                    store.close()
                    cached.unpersist()
                    raw.unpersist()

    layers = {
        f"{phase}.{layer}": (f"{phase}/{layer}", CALL_METRICS + extra)
        for phase in ("base", "inc")
        for layer, extra in (
            ("operators.drop_exact_duplicates", ("rows_out",)),
            ("plans.neardedup_store.batch_token", ()),
            ("plans.neardedup_store.filter_new", ("rows_out",)),
            ("plans.extract_load_collection", ("rows_written",)),
            ("plans.neardedup_store.commit", ()),
            ("operators.write_inverted_index", ()),
        )
    }


WORKLOADS = {w.name: w for w in (ElDump, IngestDedup)}
