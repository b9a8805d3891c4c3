"""Command-line surface: migrate MongoDB collections to Parquet.

Mirrors the reference CLI argument-for-argument
(/root/reference/mongo2pq/main.py:100-172): ``-u/-o/-s/-d/-c/-p/-S/-C/-D``,
URI from ``$MONGODB_URI``, config from ``$MONGO2PQ_CONFIG``, schema
files validated with warn-and-infer fallback.

Two source schemes:
- ``mongodb://…`` — production path via the Spark MongoDB connector
  (sources/mongo.py; gated on the connector jar).
- ``file:<dir>`` — test/stand-in path: every ``<name>.parquet`` /
  ``<name>.jsonl`` in the directory is a collection. This keeps the
  whole orchestration (infer → YAML dump → config rewrite → EL) runnable
  end-to-end without a live MongoDB.

Per collection the flow matches the reference's two phases
(main.py:45-95): schema phase (load YAML or infer by sampling, dump,
apply config) then EL phase (projection + partitioned parquet write).
"""

from __future__ import annotations

import sys
from argparse import ArgumentParser, Namespace
from os import environ
from pathlib import Path

from mongo2pq_spark import PROJECT_NAME
from mongo2pq_spark.exceptions import SchemaParseError


def _nb_cli_batch_id(collection: str) -> str:
    """Stable, always-valid store batch id for a collection name.

    Batch ids are restricted to ``[A-Za-z0-9_-]`` (they become
    ``batch=<id>`` directory names), but Mongo collection names may
    legally contain dots etc. — and the teach loop runs AFTER earlier
    collections were already folded, so a late ValueError would abort
    a half-applied run (ADVICE r14). Disallowed chars are replaced
    with ``_`` and, when any replacement happened, a short hash of the
    ORIGINAL name is appended so distinct names (``a.b`` vs ``a_b``)
    can never collide on one batch key; legal names keep their
    historical ``cli-<name>`` key unchanged."""
    import hashlib
    import re

    safe = re.sub(r"[^A-Za-z0-9_\-]", "_", collection)
    if safe == collection:
        return f"cli-{collection}"
    digest = hashlib.md5(collection.encode()).hexdigest()[:8]
    return f"cli-{safe}-{digest}"


def _nb_cli_batch_key(
    df, collection: str, label_col: str, text_col: str
) -> tuple[str, list[str]]:
    """CONTENT-keyed NB batch id for one teach of ``collection``,
    plus the replace globs giving it name-level replace semantics.

    The r15 name-keyed scheme (``cli-<name>``) broke after
    ``--nb-compact``: a re-teach of a collection whose CONTENT
    changed carried the absorbed name key, so ``ingest_nb_counts``
    silently dropped it (ADVICE r15 medium). Keying by content —
    ``cliv2-<md5(name)[:10]>-ct<md5(token)[:12]>`` over the shared
    ``digest_batch_token`` of the (label, text) pairs — means only a
    truly IDENTICAL retry can match an absorbed token; an edited
    re-teach always gets a fresh id. The name tag is fixed-length hex
    under a versioned prefix, so the replace glob
    ``batch=cliv2-<tag>-ct*`` can only ever match this collection's
    own older generations (no sanitized-name prefix aliasing); the
    exact legacy ``cli-...`` id rides along so a v2 teach replaces a
    pre-upgrade batch of the same collection instead of
    double-counting next to it."""
    import hashlib

    from pyspark.sql import functions as F

    from mongo2pq_spark.plans.bandstore_core import digest_batch_token

    # null-safe (label, text) digest: coalesce to a sentinel no real
    # value contains, so (NULL, 'a') and ('a', NULL) cannot alias
    sentinel = "\x00null\x00"
    dig = F.md5(
        F.concat_ws(
            "\x00:",
            F.coalesce(F.col(label_col).cast("string"), F.lit(sentinel)),
            F.coalesce(F.col(text_col).cast("string"), F.lit(sentinel)),
        ).cast("binary")
    )
    token = digest_batch_token(df.select(label_col, text_col), dig)
    name_tag = hashlib.md5(collection.encode()).hexdigest()[:10]
    ct = hashlib.md5(token.encode()).hexdigest()[:12]
    key = f"cliv2-{name_tag}-ct{ct}"
    globs = [
        f"batch=cliv2-{name_tag}-ct*",
        f"batch={_nb_cli_batch_id(collection)}",
    ]
    return key, globs


def _index_batch_token(df, id_col: str, text_col: str) -> str:
    """Deterministic CONTENT token for one index batch — the shared
    digest_batch_token over md5(id ':' text), so an edited re-crawl of
    the same doc ids maps to a NEW token (content identity, the same
    rationale as the dedup stores' tokens) while a retry of identical
    input overwrites its own batch. Batches must still hold disjoint
    doc-id sets across DIFFERENT tokens — query_postings' documented
    contract; the index never re-reads history to police it (that
    would break the O(increment) economics)."""
    from pyspark.sql import functions as F

    from mongo2pq_spark.plans.bandstore_core import digest_batch_token

    dig = F.md5(
        F.concat_ws(
            ":", F.col(id_col).cast("string"), F.col(text_col)
        ).cast("binary")
    )
    return digest_batch_token(df, dig)


def main(
    uri: str,
    *,
    db: str | None = None,
    collections: list[str] | None = None,
    outdir: Path = Path("."),
    schema_paths: list[Path] | None = None,
    samples: int = 20_000,
    partition_key: str | None = None,
    config_file: Path | None = None,
    debug_config: bool = False,
    strict_compat: bool = False,
    use_source_types: bool = False,
    parallel_collections: int = 1,
    max_records_per_file: int | None = None,
    dedup_text_col: str | None = None,
    dedup_id_col: str | None = None,
    near_dedup_store: Path | None = None,
    near_dedup_threshold: float = 0.8,
    near_dedup_consolidate: bool = False,
    substring_store: Path | None = None,
    substring_span_words: int = 8,
    substring_consolidate: bool = False,
    media_dhash_store: Path | None = None,
    media_dhash_max_hamming: int = 3,
    media_phash_store: Path | None = None,
    media_phash_max_hamming: int = 8,
    media_afp_store: Path | None = None,
    media_afp_max_hamming: int = 3,
    media_store_consolidate: bool = False,
    bpe_merges: Path | None = None,
    bpe_text_col: str | None = None,
    bpe_learn: int | None = None,
    inverted_index: Path | None = None,
    index_text_col: str | None = None,
    index_id_col: str = "doc_id",
    index_consolidate: bool = False,
    nb_store: Path | None = None,
    nb_label_col: str | None = None,
    nb_text_col: str = "text",
    nb_id_col: str = "doc_id",
    nb_hash_buckets: int | None = None,
    nb_compact: bool = False,
    dq_rules: Path | None = None,
    dq_fail_on_violation: bool = False,
    compact_partitions: int | None = None,
    single_file: bool = False,
    compression: str | None = None,
    source_format: str = "auto",
    on_nested: str = "skip",
    split_size: int = 128 * 1024 * 1024,
    dynamic_partition_overwrite: bool = False,
    spark=None,
) -> int:
    from mongo2pq_spark.config import parse_config
    from mongo2pq_spark.operators.cache import cache_scope, pin
    from mongo2pq_spark.plans.pipeline import extract_load_collection
    from mongo2pq_spark.schema.inference import infer_schema_from_df
    from mongo2pq_spark.schema.model import Schema
    from mongo2pq_spark.schema.yaml_io import dump_schema_to_file, load_schema_from_file
    from mongo2pq_spark.session import get_spark

    spark = spark or get_spark(app_name=PROJECT_NAME)
    outdir = Path(outdir)

    try:
        readers = _collection_readers(
            spark, uri, db, collections, source_format, on_nested,
            split_size, samples,
        )
    except ConnectionError as err:
        print(f"Error: could not connect to source: {err}", file=sys.stderr)
        return 1

    if source_format == "media" and not use_source_types:
        # sampling inference speculative-parses STRING columns; a
        # binary payload column has no textual interpretation, and the
        # binaryFile scan already yields exact types
        print(
            "NOTE: --source-format media implies --use-source-types",
            file=sys.stderr,
        )
        use_source_types = True

    config = parse_config(config_file) if config_file else {}
    schema_files = {p.stem: p for p in (schema_paths or [])}

    bpe_merges_table = None
    if bpe_merges:
        # tokenize-at-ingest under a PINNED merge table: token counts
        # are only reproducible under the exact artifact that priced
        # them, so the artifact is load-if-present; --bpe-learn N
        # trains it ONCE from this run's corpus (union of collections
        # carrying the column — order-independent) and pins it
        # atomically before any collection is priced.
        from mongo2pq_spark.operators.bpe import (
            learn_bpe,
            load_merges,
            save_merges,
        )

        bpe_path = Path(bpe_merges)
        if bpe_path.is_file():
            bpe_merges_table = load_merges(str(bpe_path))
        elif bpe_learn:
            import os as _os
            from functools import reduce

            from pyspark.sql import functions as F

            parts = []
            for nm in readers:
                d, _ = readers[nm]()
                if bpe_text_col in d.columns:
                    parts.append(
                        d.select(F.col(bpe_text_col).alias("text"))
                    )
            if not parts:
                print(
                    f"Error: --bpe-learn found no collection with "
                    f"column {bpe_text_col!r} to train on",
                    file=sys.stderr,
                )
                return 1
            corpus = reduce(lambda a, b: a.unionByName(b), parts)
            bpe_merges_table = learn_bpe(corpus, "text", n_merges=bpe_learn)
            tmp = bpe_path.with_name(f"_{bpe_path.name}.tmp")
            save_merges(bpe_merges_table, str(tmp))
            _os.replace(tmp, bpe_path)  # pin atomically — never torn
            print(
                f"BPE merge table learned ({len(bpe_merges_table)} "
                f"merges) and pinned at {bpe_path}",
                file=sys.stderr,
            )
        else:
            print(
                f"Error: BPE merge table {bpe_path} does not exist; "
                "pass --bpe-learn N to train and pin it from this "
                "run's corpus",
                file=sys.stderr,
            )
            return 1

    dq_contract: dict[str, list[dict]] = {}
    if dq_rules:
        # contract-at-ingest: rules judge the rows about to be
        # PUBLISHED (post-dedup/post-store-filtering). Parse follows
        # the config-file heritage — warn-and-skip malformed entries,
        # never die on a user's contract file (config.py:33 pattern).
        import yaml

        from mongo2pq_spark.operators.contracts import _KINDS

        try:
            with open(dq_rules) as fh:
                raw = yaml.safe_load(fh) or {}
        except (OSError, yaml.YAMLError) as err:
            print(f"Error: cannot read --dq-rules: {err}", file=sys.stderr)
            return 1
        if not isinstance(raw, dict):
            print("Error: --dq-rules must map collection -> rule list",
                  file=sys.stderr)
            return 1
        for cname, rlist in raw.items():
            kept, seen = [], set()
            for r in rlist if isinstance(rlist, list) else []:
                ok = (
                    isinstance(r, dict)
                    and {"rule_id", "kind", "col"} <= r.keys()
                    and r["kind"] in _KINDS
                    and r["rule_id"] not in seen
                    and (r["kind"] != "fk" or "dim" in r)
                )
                if not ok:
                    print(
                        f"WARNING: skipping malformed dq rule {r!r} "
                        f"for '{cname}'",
                        file=sys.stderr,
                    )
                    continue
                seen.add(r["rule_id"])
                kept.append(r)
            if kept:
                dq_contract[cname] = kept

    nb_model = None  # (model, priors) once the store can score
    nb_meta = None
    if nb_store:
        # classify-at-ingest under the persisted NB count store:
        # labeled collections TEACH (each folds its additive counts
        # under batch=cli-<collection> — a re-run of the same
        # collection REPLACES its counts, never double-counts), then
        # every collection carrying the text+id columns is SCORED
        # with the model rebuilt from the whole store — history
        # included, so the classifier sharpens across runs at
        # O(increment) ingest cost (corpus text is never re-read).
        from mongo2pq_spark.operators.classifier import (
            ingest_nb_counts,
            load_nb_model,
            nb_store_meta,
        )

        nb_store_dir = str(nb_store)
        try:
            if nb_label_col:
                folded = 0
                for nm in readers:
                    d, _ = readers[nm]()
                    if (
                        nb_label_col in d.columns
                        and nb_text_col in d.columns
                    ):
                        batch_key, replace_globs = _nb_cli_batch_key(
                            d, nm, nb_label_col, nb_text_col
                        )
                        status = ingest_nb_counts(
                            d,
                            nb_store_dir,
                            batch_key,
                            nb_label_col,
                            text_col=nb_text_col,
                            hash_buckets=nb_hash_buckets,
                            replace_globs=replace_globs,
                        )
                        if status == "absorbed":
                            # identical-content retry of a batch that
                            # --nb-compact already folded into c0 —
                            # a correct no-op, reported LOUDLY (the
                            # r15 'folded'-that-wasn't ADVICE bug)
                            print(
                                f"NB store: SKIPPED collection "
                                f"'{nm}' — batch {batch_key} already "
                                f"absorbed by compaction (identical "
                                f"content retry; counts live in "
                                f"batch=c0)",
                                file=sys.stderr,
                            )
                            continue
                        folded += 1
                        print(
                            f"NB store: folded labeled collection "
                            f"'{nm}' as batch {batch_key}",
                            file=sys.stderr,
                        )
                if not folded:
                    print(
                        f"WARNING: --nb-label-col {nb_label_col!r}: no "
                        f"collection carries both it and "
                        f"{nb_text_col!r}; nothing folded",
                        file=sys.stderr,
                    )
            if nb_compact:
                # fold this store's whole wave history into one
                # batch=c0 per tree (crash-safe swap; absorbed waves
                # recorded so producer retries stay no-ops) — the
                # --index-consolidate of the classifier store
                from mongo2pq_spark.operators.classifier import (
                    compact_nb_store,
                )

                compact_nb_store(spark, nb_store_dir)
                print(
                    "NB store: compacted history into batch=c0",
                    file=sys.stderr,
                )
            nb_meta = nb_store_meta(nb_store_dir)
            if nb_meta is None:
                print(
                    "Error: --nb-store has never been trained; pass "
                    "--nb-label-col with a labeled collection to fold "
                    "counts first",
                    file=sys.stderr,
                )
                return 1
            # the store's own pin is authoritative for scoring — a
            # score-only run needs no config flags at all
            nb_model = load_nb_model(
                spark,
                nb_store_dir,
                nb_meta["label_col"],
                hash_buckets=nb_meta["hash_buckets"],
            )
        except ValueError as err:
            print(f"Error: --nb-store: {err}", file=sys.stderr)
            return 1
        except Exception as err:  # empty/torn store: meta but no batches
            print(
                f"Error: --nb-store unreadable ({err}); re-fold with "
                "--nb-label-col",
                file=sys.stderr,
            )
            return 1

    @cache_scope()
    def _process_collection(name: str) -> None:
        """Both phases for one collection (the parallel unit): schema
        (load-or-infer, dump, config rewrite) then extract-load.

        One materialization rule: a frame more than one consumer reads
        is pinned once, in this collection's cache scope — the input of
        each dedup store stage (its batch token, fingerprint or
        signature build and filter join all read it) and the frame
        handed to the EL write when the index or the DQ pass also
        reads it. Leaving the scope releases every pin, the stores'
        own and ``cache_stream``'s included; a thread of
        ``--parallel-collections`` only ever releases its own."""
        df, source_fields = readers[name]()
        schema = None
        if schema_path := schema_files.get(name):
            try:
                schema = load_schema_from_file(schema_path)
            except SchemaParseError as err:
                print(
                    f"WARNING: schema file for '{name}' unusable ({err}); inferring",
                    file=sys.stderr,
                )
        dump_inferred = schema is None
        if schema is None:
            if source_fields is not None:
                # the mongodump reader's one inference is the schema,
                # whatever --use-source-types says
                schema = Schema(name, source_fields)
            elif use_source_types:
                schema = Schema.from_df(name, df)
            else:
                schema = Schema(name, infer_schema_from_df(df, samples=samples))
        bpe_active = bpe_merges_table is not None
        if bpe_active and bpe_text_col not in df.columns:
            print(
                f"WARNING: BPE column {bpe_text_col!r} not in '{name}'; "
                "collection written without token accounting",
                file=sys.stderr,
            )
            bpe_active = False
        if bpe_active:
            # the written dataset gains the engine-computed count
            # column, so the schema (and its YAML dump below) must
            # describe it — the dump is the contract for re-ingestion
            import pyarrow as pa

            schema.merge(Schema(schema.name, {"n_bpe_tokens": pa.int64()}))
        nb_active = nb_model is not None
        if nb_active and not (
            nb_text_col in df.columns and nb_id_col in df.columns
        ):
            print(
                f"WARNING: classifier columns {nb_text_col!r}/"
                f"{nb_id_col!r} not both in '{name}'; collection "
                "written without nb_pred columns",
                file=sys.stderr,
            )
            nb_active = False
        if nb_active:
            # the written dataset gains the engine-computed
            # prediction columns — the schema dump (the re-ingestion
            # contract) must describe them, same as n_bpe_tokens
            import pyarrow as pa

            schema.merge(
                Schema(
                    schema.name,
                    {
                        "nb_pred_label": pa.string(),
                        "nb_pred_score": pa.float64(),
                    },
                )
            )
        if dump_inferred:
            dump_schema_to_file(schema, destination=outdir)
        if schema_config := config.get("schema"):
            schema.use_config(schema_config)
            if debug_config:
                dump_schema_to_file(
                    schema, filename=f"{name}_config_applied.yaml", destination=outdir
                )
        if dedup_text_col and dedup_text_col not in df.columns:
            # with a near-dedup store configured this is worse than a
            # skipped dedup: the collection is also never INDEXED, so
            # later runs cannot dedup against it — say so explicitly
            store_note = (
                " and NOT indexed in the near-dedup store (later runs "
                "cannot deduplicate against it)"
                if near_dedup_store
                else ""
            )
            print(
                f"WARNING: dedup column {dedup_text_col!r} not in '{name}'; "
                f"collection not deduplicated{store_note}",
                file=sys.stderr,
            )
        dedup_active = bool(dedup_text_col) and dedup_text_col in df.columns
        if dedup_active:
            from mongo2pq_spark.operators.dedup import drop_exact_duplicates

            # survivor-selection key: explicit, else the first non-text
            # column (JSON sources sort columns alphabetically, so
            # "first column" alone could be the text column itself).
            # Dedup is complete even when this key is non-unique —
            # drop_exact_duplicates keeps exactly one row per digest
            # partition — the key only decides WHICH row survives.
            id_col = dedup_id_col or next(
                c for c in df.columns if c != dedup_text_col
            )
            df = drop_exact_duplicates(df, text_col=dedup_text_col, id_col=id_col)
        stores: list = []
        if source_format == "media" and (
            media_dhash_store or media_phash_store or media_afp_store
        ):
            # cross-RUN incremental MEDIA near-dedup: drop rows whose
            # perceptual fingerprint (real-codec image dHash / audio
            # envelope) lies within the Hamming radius of any
            # previously ingested batch's fingerprints — the
            # --near-dedup-store contract applied to binary media
            # (brightness-shifted / re-mastered re-crawls that
            # byte-level payload_md5 dedup misses). Same token-
            # partitioned idempotency; commit after the EL write. The
            # two modality stores filter DISJOINT mime sets, so they
            # chain without interaction.
            from mongo2pq_spark.plans.mediadedup_store import (
                AudioDedupStore,
                ImageDedupStore,
                PhashImageDedupStore,
            )

            if media_dhash_store:
                stores.append(ImageDedupStore(
                    media_dhash_store, name,
                    max_hamming=media_dhash_max_hamming,
                ))
            if media_phash_store:
                # image stores CHAIN: pHash probes the dHash
                # survivors — only ever drops MORE re-crawls
                stores.append(PhashImageDedupStore(
                    media_phash_store, name,
                    max_hamming=media_phash_max_hamming,
                ))
            if media_afp_store:
                stores.append(AudioDedupStore(
                    media_afp_store, name,
                    max_hamming=media_afp_max_hamming,
                ))
        elif near_dedup_store and dedup_active:
            # cross-RUN incremental near-dedup: drop documents whose
            # MinHash bands collide with the persistent per-collection
            # store AND whose signature agreement confirms the match,
            # so a daily re-crawl with small edits is deduplicated
            # against all history at O(increment) cost. Batch-token
            # partitioning + own-partition exclusion make reruns and
            # crash-retries idempotent (see plans/neardedup_store.py).
            from mongo2pq_spark.plans.neardedup_store import NearDedupStore

            stores.append(NearDedupStore(
                near_dedup_store, name,
                text_col=dedup_text_col,
                threshold=near_dedup_threshold,
            ))
        if stores:
            df = pin(df)
        # every token comes from the store input; the filters chain
        tokens = [st.batch_token(df) for st in stores]
        for st, tok in zip(stores, tokens):
            df = st.filter_new(df, tok)
        if substring_store and dedup_text_col and dedup_text_col in df.columns:
            # cross-RUN incremental ExactSubstr removal: tokens covered
            # by an 8-token span seen in ANY previous batch (or
            # duplicated within this one) are cut and the text column
            # REWRITTEN -- the partially-copied-document remnant that
            # whole-row dedup (exact or near) cannot touch. Runs after
            # the row-level dedups so only surviving rows pay; BPE
            # pricing below then counts the CLEANED text. Keyed
            # internally by md5(text) -- unique after exact dedup and
            # caller-id-independent, the near-dedup store's STORE_ID
            # rule. Same content-token idempotency as the sibling
            # stores (plans/spanstore.py).
            from pyspark.sql import functions as F_span

            from mongo2pq_spark.plans.spanstore import SpanHashStore

            sstore = SpanHashStore(
                substring_store, name,
                text_col=dedup_text_col,
                span_words=substring_span_words,
            )
            proj = pin(df).withColumn(
                "__span_id", F_span.md5(F_span.col(dedup_text_col))
            )
            cleaned = sstore.process_increment(
                spark,
                proj.filter(
                    F_span.col("__span_id").isNotNull()
                ).select("__span_id", dedup_text_col),
                id_col="__span_id",
                with_text=True,
            ).select(
                "__span_id",
                # private alias: a source column literally named
                # clean_text must not collide through the join.
                # clean_text is the whitespace-normalized token
                # rebuild (array_join(tokens, ' ')), so substitute it
                # ONLY when spans were actually removed (n_kept <
                # n_tokens) — a document with zero duplicated spans
                # must pass through byte-identical, preserving its
                # newlines/tabs/space runs and content hash
                # (ADVICE r12: the unconditional rebuild silently
                # re-whitespaced the whole corpus)
                F_span.when(
                    F_span.col("n_kept") < F_span.col("n_tokens"),
                    F_span.col("clean_text"),
                ).alias("__span_clean"),
            )
            # LEFT join + coalesce: NULL-text rows (no __span_id),
            # untouched rows (NULL __span_clean above), and any row
            # the store result misses pass through UNCHANGED — the
            # rewrite must never drop or alter an unaffected document
            df = (
                proj.join(cleaned, "__span_id", "left")
                .withColumn(
                    dedup_text_col,
                    F_span.coalesce(
                        F_span.col("__span_clean"),
                        F_span.col(dedup_text_col),
                    ),
                )
                .drop("__span_id", "__span_clean")
            )
        if bpe_active:
            # price the rows that will actually be WRITTEN (post-dedup,
            # post-store-filtering); map-only, so placement changes
            # cost, never values
            from mongo2pq_spark.operators.bpe import with_token_counts

            df = with_token_counts(df, bpe_merges_table, bpe_text_col)
        if nb_active:
            # score the rows that will actually be WRITTEN (post-
            # dedup, post-store-filtering) against the model rebuilt
            # from the whole store; the model side is broadcast, the
            # join back is on the unique id
            from pyspark.sql import functions as F

            from mongo2pq_spark.operators.classifier import nb_score

            model, priors = nb_model
            pred = nb_score(
                df,
                model,
                priors,
                id_col=nb_id_col,
                text_col=nb_text_col,
                hash_buckets=nb_meta["hash_buckets"],
            )
            df = df.join(
                pred.select(
                    nb_id_col,
                    F.col("pred_label").alias("nb_pred_label"),
                    F.col("score").alias("nb_pred_score"),
                ),
                nb_id_col,
                "left",
            )
        index_active = bool(
            inverted_index and index_text_col
            and index_text_col in df.columns and index_id_col in df.columns
        )
        if index_active or name in dq_contract:
            # the EL write plus the index token, its range sample and
            # its write, or the DQ pass, each read the written frame
            df = pin(df)
        if name in dq_contract:
            # validate BEFORE the EL write: --dq-fail-on-violation
            # exists to stop bad data from being PUBLISHED, so the
            # judgment must precede the publish. Rules judge the
            # SCHEMA-APPLIED frame — the exact typed/renamed rows
            # the sink writes — not the raw source frame: file
            # sources carry strings until Schema.apply casts them,
            # and a numeric range rule against an uncast string
            # column would crash under ANSI (found by the sf0.1
            # CLI scale drive). The report is bounded at
            # len(rules) rows; on a raise the scope still releases
            # the pins.
            import json as jsonlib

            from mongo2pq_spark.operators.contracts import validate_rules

            published = schema.apply(df, strict_compat=strict_compat)
            rules = []
            for r in dq_contract[name]:
                rr = dict(r)
                if rr["col"] not in published.columns:
                    print(
                        f"WARNING: dq rule {rr['rule_id']!r} column "
                        f"{rr['col']!r} not in '{name}'; rule skipped",
                        file=sys.stderr,
                    )
                    continue
                if rr["kind"] == "fk":
                    dim_name = rr.pop("dim")
                    if dim_name not in readers:
                        print(
                            f"WARNING: dq rule {rr['rule_id']!r} dim "
                            f"collection {dim_name!r} not in this "
                            "run; rule skipped",
                            file=sys.stderr,
                        )
                        continue
                    rr["dim_df"], _ = readers[dim_name]()
                    rr.setdefault("dim_col", rr["col"])
                rules.append(rr)
            if rules:
                report = [
                    row.asDict()
                    for row in validate_rules(published, rules).collect()
                ]
                with open(outdir / f"{name}_dq_report.json", "w") as fh:
                    jsonlib.dump(report, fh, indent=1)
                failed = [r["rule_id"] for r in report if not r["passed"]]
                print(
                    f"{name}: dq contract {len(report)} rules, "
                    f"{len(failed)} failed"
                    + (f" ({', '.join(failed)})" if failed else ""),
                    file=sys.stderr,
                )
                if failed and dq_fail_on_violation:
                    raise ValueError(
                        f"dq contract failed for '{name}': "
                        f"{', '.join(failed)} — collection NOT "
                        "written"
                    )
        metrics: dict = {}
        extract_load_collection(
            df,
            schema,
            outdir,
            partition_key=partition_key,
            strict_compat=strict_compat,
            max_records_per_file=max_records_per_file,
            single_file=single_file,
            compression=compression,
            metrics=metrics,
            dynamic_partition_overwrite=dynamic_partition_overwrite,
        )
        # rows-written observed by the write job itself (no
        # recount) — the reference's tqdm progress accounting,
        # Spark-style
        print(
            f"{name}: {metrics.get('rows_written', '?')} rows written",
            file=sys.stderr,
        )
        for st, tok in zip(stores, tokens):
            # index the SURVIVORS only, and only after the EL write
            # succeeded — a crash before this commit leaves output
            # and store consistent (docs never indexed-but-
            # unwritten); the commit overwrites the batch's OWN
            # partitions, so a retry is idempotent rather than
            # self-colliding
            st.commit(tok)
        if index_active:
            # retrieval-index-at-ingest: append this run's WRITTEN
            # rows as one batch= partition of the collection's
            # inverted-index tree — O(increment) maintenance, same
            # post-write commit rule as the dedup stores (a crash
            # before this point leaves no rows indexed-but-
            # unwritten; the content-derived token makes retries
            # overwrite their own batch)
            from mongo2pq_spark.operators.text import write_inverted_index

            tok = _index_batch_token(df, index_id_col, index_text_col)
            write_inverted_index(
                df,
                str(Path(inverted_index) / name),
                id_col=index_id_col,
                text_col=index_text_col,
                batch_token=tok,
            )
            print(
                f"{name}: postings appended to inverted index "
                f"(batch={tok})",
                file=sys.stderr,
            )
        elif inverted_index and index_text_col:
            print(
                f"WARNING: index columns ({index_text_col!r}, "
                f"{index_id_col!r}) not both in '{name}'; "
                "collection not indexed",
                file=sys.stderr,
            )

    failures: list[tuple[str, Exception]] = []
    if parallel_collections > 1 and len(readers) > 1:
        # Driver threads overlap whole per-collection pipelines (Spark's
        # scheduler interleaves the jobs). NOTE: this goes beyond the
        # reference, whose asyncio tasks parallelize partitions WITHIN
        # one collection (extract_load.py:38-56) while collections run
        # serially (main.py:88-95).
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=parallel_collections) as pool:
            futures = {name: pool.submit(_process_collection, name) for name in readers}
        for name, future in futures.items():
            if (err := future.exception()) is not None:
                failures.append((name, err))
    else:
        for name in readers:
            try:
                _process_collection(name)
            except Exception as err:
                failures.append((name, err))
    # post-run maintenance: every tree under each configured root, not
    # only the collections this run touched (a scheduler's every-N-runs
    # pass must not skip a tree whose collection failed THIS run, or its
    # partition count grows unbounded). It runs after all of this
    # invocation's increments committed, is content-preserving, and
    # reports failures as run failures so schedulers retry it.
    if near_dedup_consolidate and near_dedup_store:
        from mongo2pq_spark.plans.neardedup_store import (
            open_store as open_near_dedup,
        )

        _maintain_trees(
            near_dedup_store,
            lambda t: open_near_dedup(
                t.parent, t.name, threshold=near_dedup_threshold
            ).consolidate(spark),
            failures,
        )
    if index_consolidate and inverted_index:
        from mongo2pq_spark.operators.text import (
            consolidate_inverted_index,
        )

        _maintain_trees(
            inverted_index,
            lambda t: consolidate_inverted_index(spark, str(t)),
            failures,
            is_tree=Path.is_dir,
        )
    if media_store_consolidate:
        from mongo2pq_spark.plans.mediadedup_store import (
            open_store as open_media,
        )

        for root in (media_dhash_store, media_phash_store, media_afp_store):
            if root:
                _maintain_trees(
                    root,
                    lambda t: open_media(t.parent, t.name).consolidate(spark),
                    failures,
                )
    if substring_consolidate and substring_store:
        from mongo2pq_spark.plans.spanstore import open_store as open_span

        _maintain_trees(
            substring_store,
            lambda t: open_span(t.parent, t.name).consolidate(spark),
            failures,
        )
    if compact_partitions and partition_key:
        # lake maintenance: rewrite every hive partition of every
        # collection under outdir down to <= N files through the
        # crash-safe swap. Repeated runs mint a file per task per run;
        # without a compaction cadence a year of daily EL leaves
        # open/footer overhead proportional to write history, not data.
        from mongo2pq_spark.plans.pipeline import (
            compact_partitions as _compact,
        )

        def compact(tree: Path) -> None:
            audit = _compact(
                spark, str(tree), partition_key,
                target_files=compact_partitions,
            )
            n_before = sum(a["files_before"] for a in audit)
            n_after = sum(a["files_after"] for a in audit)
            print(
                f"{tree.name}: compacted {len(audit)} partitions, "
                f"{n_before} -> {n_after} files"
            )

        _maintain_trees(
            outdir,
            compact,
            failures,
            is_tree=lambda p: p.is_dir() and any(p.glob(f"{partition_key}=*")),
        )
    for name, err in failures:
        print(f"ERROR: collection '{name}' failed: {err}", file=sys.stderr)
    return 1 if failures else 0


def _maintain_trees(
    root, maintain, failures: list, is_tree=None
) -> None:
    """Run ``maintain(tree)`` on every collection tree under ``root``
    (by default each subdirectory holding a store pin), collecting a
    tree's failure into ``failures`` instead of aborting the rest."""
    from mongo2pq_spark.plans.bandstore_core import read_pin

    if is_tree is None:
        is_tree = lambda p: read_pin(p) is not None  # noqa: E731
    root = Path(root)
    if not root.is_dir():
        return
    for tree in sorted(p for p in root.iterdir() if is_tree(p)):
        try:
            maintain(tree)
        except Exception as err:
            failures.append((tree.name, err))


def _collection_readers(
    spark,
    uri: str,
    db: str | None,
    collections: list[str] | None,
    source_format: str,
    on_nested: str,
    split_size: int,
    samples: int,
):
    """name → zero-arg factory of ``(DataFrame, fields)`` for each
    collection; ``fields`` is the inferred field map when the read
    inferred one, else None.

    ``source_format="mongodump"`` routes file: JSON-lines through the
    extended-JSON dump reader (``read_mongodump_fields``, its peek
    sized by ``samples``): $oid/$date/$numberLong wrappers unwrap per
    the reference's BSON decode rules instead of surfacing as nested
    structs, with subdocuments handled per ``on_nested`` (skip / raise
    / flatten to dotted-path columns). ``auto`` keeps the plain
    per-suffix readers."""
    if uri.startswith("file:"):
        root = Path(uri.removeprefix("file:"))
        if db:
            root = root / db
        if not root.is_dir():
            raise ConnectionError(f"source directory {root} does not exist")
        if source_format == "media":
            # media lake ingestion: every SUBDIRECTORY holding at
            # least one known media file is a collection (the
            # db/collection layout applied to file trees); the reader
            # is the distributed binaryFile scan + typed metadata
            # (operators/multimodal.py::ingest_binary_dir). Discovery
            # lists directory entries only — payloads are opened by
            # executors, never the driver.
            from mongo2pq_spark.operators.multimodal import (
                _EXT_MIME,
                ingest_binary_dir,
            )

            media_suffixes = {f".{e}" for e in _EXT_MIME}
            media = {
                d.name: d
                for d in sorted(root.iterdir())
                if d.is_dir()
                and any(
                    f.suffix.lower() in media_suffixes
                    for f in d.iterdir()
                    if f.is_file()
                )
            }
            if collections:
                media = {n: p for n, p in media.items() if n in collections}
            if not media:
                raise ConnectionError(
                    f"no media collection directories under {root}"
                )
            def _read_media(p):
                from pyspark.sql import functions as F

                # flatten the meta struct: the EL schema model is
                # deliberately scalar (the reference's column model),
                # and a flat lake table is the queryable shape anyway;
                # operators that want the struct use ingest_binary_dir
                # directly
                return ingest_binary_dir(spark, str(p)).select(
                    "doc_id",
                    "source_path",
                    "payload",
                    F.col("meta.mime").alias("mime"),
                    F.col("meta.n_bytes").alias("n_bytes"),
                    F.col("meta.payload_md5").alias("payload_md5"),
                )

            return {
                name: (lambda p=path: (_read_media(p), None))
                for name, path in media.items()
            }
        found = {
            p.stem: p
            for p in sorted(root.iterdir())
            if p.suffix in (".parquet", ".jsonl", ".json", ".ndjson", ".csv", ".tsv")
        }
        if collections:
            found = {n: p for n, p in found.items() if n in collections}
        if source_format == "mongodump":
            from mongo2pq_spark.sources.mongodump import read_mongodump_fields

            return {
                name: (
                    lambda p=path: read_mongodump_fields(
                        spark, str(p), samples, on_nested, "failfast",
                        split_size,
                    )
                )
                for name, path in found.items()
            }
        from mongo2pq_spark.sources.registry import read_table

        return {
            name: (lambda p=path: (read_table(spark, p), None))
            for name, path in found.items()
        }

    from mongo2pq_spark.sources.mongo import list_collections, read_collection

    try:
        db_name, names = list_collections(uri, db)
    except Exception as err:
        raise ConnectionError(str(err))
    if collections:
        names = [n for n in names if n in collections]
    return {
        name: (lambda n=name: (read_collection(spark, uri, db_name, n), None))
        for name in names
    }


def parse_args(argv: list[str] | None = None) -> Namespace | None:
    parser = ArgumentParser(
        prog=PROJECT_NAME,
        description="Migrate MongoDB collections (or a file: directory of "
        "parquet/jsonl stand-ins) to Apache Parquet datasets",
    )
    parser.add_argument(
        "-u", "--uri",
        default=environ.get("MONGODB_URI"),
        help="MongoDB URI or file:<dir>; also via $MONGODB_URI",
    )
    parser.add_argument("-o", "--outdir", default="./", type=Path)
    parser.add_argument("-s", "--samples", type=int, default=20_000,
                        help="sample size for schema inference (on a "
                             "mongodump source: documents peeked)")
    parser.add_argument("-d", "--db", help="database (default: first found)")
    parser.add_argument("-c", "--collections", nargs="*")
    parser.add_argument("-p", "--partition", help="hive partition key")
    parser.add_argument("-S", "--schemas", type=Path, nargs="*",
                        help="YAML schema files (stem = collection name)")
    parser.add_argument("-C", "--config", type=Path,
                        default=environ.get("MONGO2PQ_CONFIG"),
                        help="YAML config with retype/rename rules")
    parser.add_argument("-D", "--debug_config", action="store_true",
                        help="dump post-config schemas")
    parser.add_argument("--strict-compat", action="store_true",
                        help="reproduce the reference's literal quirks "
                             "(falsy-drop of 0/False, string→bool always False)")
    parser.add_argument("--parallel-collections", type=int, default=1,
                        help="process N collections concurrently (schema "
                             "inference + extract-load per thread)")
    parser.add_argument("--max-records-per-file", type=int, default=None,
                        help="cap rows per output parquet file (small-file "
                             "control's dual: prevents giant single files)")
    parser.add_argument("--source-format", default="auto",
                        choices=("auto", "mongodump", "media"),
                        help="file: source interpretation: auto = plain "
                             "parquet/jsonl/csv readers; mongodump = "
                             "extended-JSON dumps ($oid/$date/$numberLong "
                             "unwrapped per Mongo's BSON decode rules); "
                             "media = each subdirectory of image/audio/"
                             "video files becomes a collection via the "
                             "distributed binaryFile scan (doc_id, "
                             "source_path, payload, mime/size/md5 "
                             "metadata) — source types are used as-is "
                             "(text-oriented sampling inference is "
                             "meaningless on binary payloads)")
    parser.add_argument("--split-size", type=int,
                        default=128 * 1024 * 1024,
                        help="mongodump files larger than this many bytes "
                             "read as multiple byte-range partitions "
                             "(parallel scan of one huge export; every "
                             "file starts a partition of its own); 0 "
                             "disables splitting")
    parser.add_argument("--on-nested", default="skip",
                        choices=("skip", "raise", "flatten"),
                        help="mongodump subdocument handling: skip = drop "
                             "nested fields with a warning (default); raise "
                             "= reference parity (fail on any nested "
                             "value); flatten = dotted-path columns (a.b)")
    parser.add_argument("--dynamic-partition-overwrite", action="store_true",
                        help="overwrite only the hive partitions present in "
                             "the extracted data (incremental backfill); "
                             "requires -p/--partition")
    parser.add_argument("--compression", default=None,
                        help="parquet codec for the sink (e.g. zstd, snappy, "
                             "gzip; default: session default, snappy) — cold "
                             "corpus storage wants zstd, hot intermediates "
                             "snappy")
    parser.add_argument("--dedup-text-col", default=None,
                        help="exact-dedup collections on this text column "
                             "during extract-load (keeps the min-id row per "
                             "distinct value; skipped where the column is absent)")
    parser.add_argument("--dedup-id-col", default=None,
                        help="survivor-selection key for --dedup-text-col "
                             "(default: first non-text column)")
    parser.add_argument("--near-dedup-store", type=Path, default=None,
                        help="persistent MinHash band-index directory for "
                             "cross-run incremental NEAR-dedup (requires "
                             "--dedup-text-col): documents colliding with "
                             "any previous run's bands are dropped, then "
                             "this run's survivors are indexed — per-run "
                             "cost scales with the increment, never the "
                             "corpus")
    parser.add_argument("--near-dedup-consolidate", action="store_true",
                        help="after this run's batches commit, merge all "
                             "completed --near-dedup-store batch partitions "
                             "into one per tree (bounds partition-count "
                             "growth of long ingestion histories; "
                             "content-preserving and crash-safe — "
                             "recommended every ~50 runs)")
    parser.add_argument("--near-dedup-threshold", type=float, default=0.8,
                        help="minimum MinHash signature agreement (estimated "
                             "Jaccard) for --near-dedup-store to drop a band-"
                             "collision candidate (default 0.8; raw candidacy "
                             "alone has a known false-positive rate)")
    parser.add_argument("--substring-store", type=Path, default=None,
                        help="persistent span-hash index directory for "
                             "cross-run incremental ExactSubstr removal "
                             "(requires --dedup-text-col): tokens covered "
                             "by an 8-token span seen in any previous "
                             "batch (or duplicated within this one) are "
                             "cut and the text column rewritten -- the "
                             "partially-copied remnant row-level dedup "
                             "misses; per-run cost scales with the "
                             "increment, never the corpus")
    parser.add_argument("--substring-span-words", type=int, default=8,
                        help="span width in whitespace tokens for "
                             "--substring-store (default 8; pinned per "
                             "store tree -- hashes are only comparable "
                             "within one width)")
    parser.add_argument("--substring-consolidate", action="store_true",
                        help="after this run's batches commit, fold all "
                             "completed --substring-store batch partitions "
                             "into one per tree (bounds partition-count "
                             "growth; content-preserving and crash-safe)")
    parser.add_argument("--media-dhash-store", type=Path, default=None,
                        help="persistent cross-run incremental IMAGE "
                             "near-dedup store (requires --source-format "
                             "media): decodable image payloads are "
                             "dHashed, probed against all previously "
                             "ingested batches (banded Hamming join + "
                             "exact popcount), near-dup re-crawls "
                             "dropped before the write, survivors "
                             "indexed after it")
    parser.add_argument("--media-dhash-max-hamming", type=int, default=3,
                        help="Hamming radius for --media-dhash-store "
                             "(dHash bits differing; 3 = re-encode/"
                             "brightness tolerance, 0 = exact "
                             "perceptual match)")
    parser.add_argument("--media-phash-store", type=Path, default=None,
                        help="cross-run incremental image near-dedup by "
                             "DCT pHash (frequency-domain; catches "
                             "dithered/re-encoded copies the gradient "
                             "dHash reacts to); chains with "
                             "--media-dhash-store on the same run")
    parser.add_argument("--media-phash-max-hamming", type=int, default=8,
                        help="pHash Hamming radius counted as the same "
                             "image (default 8 of 60 bits)")
    parser.add_argument("--media-afp-store", type=Path, default=None,
                        help="persistent cross-run incremental AUDIO "
                             "near-dedup store (requires --source-format "
                             "media): decodable PCM-WAV payloads are "
                             "envelope-fingerprinted (gain/channel "
                             "invariant), probed against all previously "
                             "ingested batches (banded Hamming join + "
                             "exact popcount), re-mastered re-crawls "
                             "dropped before the write, survivors "
                             "indexed after it; combinable with "
                             "--media-dhash-store (disjoint mimes)")
    parser.add_argument("--media-afp-max-hamming", type=int, default=3,
                        help="Hamming radius for --media-afp-store "
                             "(envelope bits differing; 3 = re-master "
                             "tolerance, 0 = exact perceptual match)")
    parser.add_argument("--media-store-consolidate", action="store_true",
                        help="after this run's batches commit, merge all "
                             "completed batch partitions of every tree "
                             "under each --media-*-store root into one "
                             "batch=c0 (parameters read from each tree's "
                             "meta.json pin; content-preserving and "
                             "crash-safe)")
    parser.add_argument("--bpe-merges", type=Path, default=None,
                        help="tokenize-at-ingest: pinned BPE merge-table "
                             "artifact (bpe-merges-v1). If the file "
                             "exists it is loaded and applied; every "
                             "collection carrying --bpe-text-col gains "
                             "an n_bpe_tokens column in its output")
    parser.add_argument("--bpe-text-col", default=None,
                        help="column to tokenize for --bpe-merges "
                             "(collections lacking it are written "
                             "without token accounting, with a warning)")
    parser.add_argument("--bpe-learn", type=int, default=None,
                        help="if the --bpe-merges artifact does not "
                             "exist, learn this many merges from this "
                             "run's corpus (union of collections with "
                             "--bpe-text-col) and pin the artifact "
                             "atomically before pricing")
    parser.add_argument("--inverted-index", type=Path, default=None,
                        help="retrieval-index-at-ingest: append every "
                             "collection's postings (delta-encoded, "
                             "sharded, term-range layout) as one batch "
                             "of <store>/<collection>/ — O(increment) "
                             "incremental maintenance; probe with "
                             "operators.text.query_postings")
    parser.add_argument("--index-text-col", default=None,
                        help="column to tokenize for --inverted-index "
                             "(collections lacking it or the id column "
                             "are written unindexed, with a warning)")
    parser.add_argument("--index-id-col", default="doc_id",
                        help="numeric id column for --inverted-index "
                             "posting lists (default doc_id)")
    parser.add_argument("--index-consolidate", action="store_true",
                        help="after this run's batches commit, fold "
                             "every collection tree of the inverted "
                             "index into one batch=c0 via the "
                             "crash-safe swap")
    parser.add_argument("--nb-store", type=Path, default=None,
                        help="classify-at-ingest under a persisted "
                             "Naive Bayes count store: collections "
                             "carrying --nb-label-col fold their "
                             "additive counts (batch=cli-<name>; "
                             "re-runs replace, never double-count), "
                             "then every collection with the text+id "
                             "columns gains nb_pred_label/"
                             "nb_pred_score from the model rebuilt "
                             "over the store's WHOLE history — "
                             "O(increment) teaching, cross-run "
                             "sharpening")
    parser.add_argument("--nb-compact", action="store_true",
                        help="after this run's teaching folds commit, "
                             "compact the NB count store's whole wave "
                             "history into one batch=c0 per tree via "
                             "the crash-safe swap (model unchanged; "
                             "bounded file count)")
    parser.add_argument("--nb-label-col", default=None,
                        help="label column for --nb-store teaching; "
                             "omit for a score-only run against an "
                             "already-trained store (the store's own "
                             "config pin is authoritative)")
    parser.add_argument("--nb-text-col", default="text",
                        help="text column for --nb-store teaching and "
                             "scoring (default text)")
    parser.add_argument("--nb-id-col", default="doc_id",
                        help="unique id column the prediction joins "
                             "back on (default doc_id)")
    parser.add_argument("--nb-hash-buckets", type=int, default=None,
                        help="feature-hashing term space for "
                             "--nb-store teaching: bounds the model "
                             "at buckets x labels regardless of "
                             "vocabulary (the 100 TB path); must "
                             "match the store's pin once set")
    parser.add_argument("--dq-rules", type=Path, default=None,
                        metavar="YAML",
                        help="data-quality contract file mapping "
                             "collection -> rule list (not_null / "
                             "unique / min / max / in_set / regex / "
                             "fk); each collection's PUBLISHED rows "
                             "(post-dedup) are judged in one pass "
                             "before its write and the per-rule "
                             "report lands at "
                             "OUTDIR/<name>_dq_report.json; "
                             "malformed rules warn-and-skip")
    parser.add_argument("--dq-fail-on-violation", action="store_true",
                        help="with --dq-rules: a collection with any "
                             "failing rule is NOT written and the "
                             "run exits nonzero (the report is still "
                             "produced)")
    parser.add_argument("--compact-partitions", type=int, default=None,
                        metavar="N",
                        help="after this run's writes commit, rewrite "
                             "every hive partition of every collection "
                             "under OUTDIR down to <= N parquet files "
                             "through the crash-safe swap (lake "
                             "maintenance for incremental-run small "
                             "files; requires -p)")
    parser.add_argument("--single-file", action="store_true",
                        help="write ONE parquet file per collection (the "
                             "reference's exact layout) via coalesce(1); "
                             "small-data compat mode, incompatible with -p")
    parser.add_argument("--use-source-types", action="store_true",
                        help="trust the source's existing types instead of "
                             "value-based sampling inference (no int narrowing; "
                             "for already-typed parquet; no effect on mongodump)")

    parsed = parser.parse_args(argv)
    if not parsed.uri:
        print("ERROR: source URI not given (use --uri or $MONGODB_URI)", file=sys.stderr)
        parser.print_help()
        return None
    if parsed.substring_store and not parsed.dedup_text_col:
        print(
            "ERROR: --substring-store requires --dedup-text-col "
            "(the column to scan for duplicated spans)",
            file=sys.stderr,
        )
        return None
    if parsed.substring_consolidate and not parsed.substring_store:
        print(
            "ERROR: --substring-consolidate requires --substring-store "
            "(the store to consolidate)",
            file=sys.stderr,
        )
        return None
    if parsed.near_dedup_store and not parsed.dedup_text_col:
        print(
            "ERROR: --near-dedup-store requires --dedup-text-col "
            "(the column to shingle)",
            file=sys.stderr,
        )
        return None
    if parsed.media_dhash_store and parsed.source_format != "media":
        print(
            "ERROR: --media-dhash-store requires --source-format media "
            "(it fingerprints binary image payloads)",
            file=sys.stderr,
        )
        return None
    if parsed.media_phash_store and parsed.source_format != "media":
        print(
            "ERROR: --media-phash-store requires --source-format media "
            "(it fingerprints binary image payloads)",
            file=sys.stderr,
        )
        return None
    if parsed.media_afp_store and parsed.source_format != "media":
        print(
            "ERROR: --media-afp-store requires --source-format media "
            "(it fingerprints binary audio payloads)",
            file=sys.stderr,
        )
        return None
    if parsed.media_store_consolidate and not (
        parsed.media_dhash_store
        or parsed.media_phash_store
        or parsed.media_afp_store
    ):
        print(
            "ERROR: --media-store-consolidate requires a media store "
            "(--media-dhash-store / --media-afp-store) to consolidate",
            file=sys.stderr,
        )
        return None
    if parsed.bpe_merges and not parsed.bpe_text_col:
        print(
            "ERROR: --bpe-merges requires --bpe-text-col "
            "(the column to tokenize)",
            file=sys.stderr,
        )
        return None
    if parsed.bpe_learn is not None and not parsed.bpe_merges:
        print(
            "ERROR: --bpe-learn requires --bpe-merges "
            "(the artifact path to pin)",
            file=sys.stderr,
        )
        return None
    if parsed.inverted_index and not parsed.index_text_col:
        print(
            "ERROR: --inverted-index requires --index-text-col "
            "(the column to tokenize)",
            file=sys.stderr,
        )
        return None
    if parsed.index_consolidate and not parsed.inverted_index:
        print(
            "ERROR: --index-consolidate requires --inverted-index "
            "(the store to consolidate)",
            file=sys.stderr,
        )
        return None
    if (
        parsed.nb_label_col
        or parsed.nb_hash_buckets is not None
        or parsed.nb_compact
    ) and not parsed.nb_store:
        print(
            "ERROR: --nb-label-col / --nb-hash-buckets / --nb-compact "
            "require --nb-store (the count store to teach)",
            file=sys.stderr,
        )
        return None
    if parsed.near_dedup_consolidate and not parsed.near_dedup_store:
        print(
            "ERROR: --near-dedup-consolidate requires --near-dedup-store "
            "(the store to consolidate)",
            file=sys.stderr,
        )
        return None
    if parsed.compact_partitions is not None:
        if parsed.compact_partitions < 1:
            print(
                "ERROR: --compact-partitions must be >= 1",
                file=sys.stderr,
            )
            return None
        if not parsed.partition:
            print(
                "ERROR: --compact-partitions requires -p/--partition "
                "(the hive key whose directories are compacted)",
                file=sys.stderr,
            )
            return None
    if parsed.schemas:
        kept = []
        for schema in parsed.schemas:
            if schema.is_file():
                kept.append(schema)
            else:
                print(f"WARNING: schema '{schema}' doesn't exist; will infer",
                      file=sys.stderr)
        parsed.schemas = kept
    if parsed.config and not parsed.config.is_file():
        print(f"WARNING: config '{parsed.config}' doesn't exist; ignored",
              file=sys.stderr)
        parsed.config = None
    return parsed


def run(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    if not args:
        return 1
    return main(
        args.uri,
        db=args.db,
        collections=args.collections,
        outdir=args.outdir,
        schema_paths=args.schemas,
        samples=args.samples,
        partition_key=args.partition,
        config_file=args.config,
        debug_config=args.debug_config,
        strict_compat=args.strict_compat,
        use_source_types=args.use_source_types,
        parallel_collections=args.parallel_collections,
        max_records_per_file=args.max_records_per_file,
        dedup_text_col=args.dedup_text_col,
        dedup_id_col=args.dedup_id_col,
        near_dedup_store=args.near_dedup_store,
        near_dedup_threshold=args.near_dedup_threshold,
        near_dedup_consolidate=args.near_dedup_consolidate,
        substring_store=args.substring_store,
        substring_span_words=args.substring_span_words,
        substring_consolidate=args.substring_consolidate,
        media_dhash_store=args.media_dhash_store,
        media_dhash_max_hamming=args.media_dhash_max_hamming,
        media_phash_store=args.media_phash_store,
        media_phash_max_hamming=args.media_phash_max_hamming,
        media_afp_store=args.media_afp_store,
        media_afp_max_hamming=args.media_afp_max_hamming,
        media_store_consolidate=args.media_store_consolidate,
        bpe_merges=args.bpe_merges,
        bpe_text_col=args.bpe_text_col,
        bpe_learn=args.bpe_learn,
        inverted_index=args.inverted_index,
        index_text_col=args.index_text_col,
        index_id_col=args.index_id_col,
        index_consolidate=args.index_consolidate,
        nb_store=args.nb_store,
        nb_label_col=args.nb_label_col,
        nb_compact=args.nb_compact,
        nb_text_col=args.nb_text_col,
        nb_id_col=args.nb_id_col,
        nb_hash_buckets=args.nb_hash_buckets,
        dq_rules=args.dq_rules,
        dq_fail_on_violation=args.dq_fail_on_violation,
        compact_partitions=args.compact_partitions,
        single_file=args.single_file,
        compression=args.compression,
        source_format=args.source_format,
        on_nested=args.on_nested,
        split_size=args.split_size,
        dynamic_partition_overwrite=args.dynamic_partition_overwrite,
    )


if __name__ == "__main__":
    sys.exit(run())
