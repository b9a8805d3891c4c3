"""Query registry: every engine capability is declared as a named
(Spark builder, DuckDB oracle SQL) pair. The driver contract
(__spark_entry__.py) and the test harness both consume this table.

``oracle`` is ANSI SQL over the pre-registered testdata views
(region nation customer supplier part orders lineitem events documents
embeddings). ``oracle=None`` marks genuinely non-SQL-expressible ops
(driver records a weaker rows-only check).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession

SparkQuery = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: SparkQuery
    oracle: Optional[str]
    doc: str = ""


QUERIES: dict[str, QuerySpec] = {}


def register(name: str, oracle: Optional[str], doc: str = ""):
    def wrap(fn: SparkQuery) -> SparkQuery:
        if name in QUERIES:
            raise ValueError(f"duplicate query name {name!r}")
        QUERIES[name] = QuerySpec(name=name, fn=fn, oracle=oracle, doc=doc)
        return fn

    return wrap


# The driver's correctness gate checks the FIRST 50 registry entries.
# This list pins the window: queries with no hard correctness signal
# yet (round-1 positions > 50) and queries whose implementation or
# oracle changed this round come first; long-stable round-1-green
# parity queries rotate to the back. Every name must exist — load_all
# fails loudly on a typo.
_DRIVER_WINDOW_FIRST = [
    # hash-moved re-entries (rotation contract): the export round trip
    # now reads its dump back through read_mongodump (the Python format
    # reader is gone; its oracle mirrors the float32 inference of
    # `value`), and el_mongodump_scan's doc note describes the JVM
    # scan. They take the slots of corpus_vocab_growth and
    # corpus_dsir_select (unchanged, green driver rows r12/r18/r19).
    "el_mongodump_export_roundtrip",
    "el_mongodump_scan",
    # r19 window = the r18 window with the two hash-moved re-entries
    # of the r19 OPTIMIZATION round at the front (rotation contract:
    # a changed query must re-enter the window or its green driver
    # row goes stale). Both bodies were restructured to cache a
    # double-consumed intermediate (results value-identical, proven
    # by the full DuckDB oracle at sf0.001 AND sf0.01 before
    # re-entry); corpus_perplexity_buckets was already in the r18
    # window and keeps its slot, retrieval_eval_metrics re-enters in
    # place of dedup_cluster_survivors (r12 cohort, green r18 row,
    # unchanged — the stable-anchor rotation rule).
    "retrieval_eval_metrics",
    # (r18 window below, unchanged order:)
    # (a) ALL 14 late-wave r17 registrations with NO driver row ever
    # (VERDICT r17 #1 — the only registry entries without a hard
    # external correctness signal); the full r17 _NEXT_WINDOW_QUEUE:
    "multimodal_zip_encrypted_manifest",
    "multimodal_jpeg12_roundtrip",
    "multimodal_tiff_pixel_roundtrip",
    "web_sitemap_index",
    "multimodal_webp_metadata",
    "multimodal_archive_compression_matrix",
    "multimodal_png_variant_matrix",
    "multimodal_bmp_variant_matrix",
    "multimodal_tiff_extended_matrix",
    "multimodal_wav_pcm_widths",
    "multimodal_gif_subframe_composite",
    "multimodal_mpeg_family_triage",
    "multimodal_bmp_bitfields_roundtrip",
    "multimodal_ico_manifest",
    # (a') hash-moved re-entries (rotation contract): the stale
    # encrypted-zip doc note refreshed (VERDICT r17 #6);
    "multimodal_archive_manifest",
    # (a'') new r18 registrations — CCITT G3/G4 fax decode for TIFF
    # (VERDICT r17 #5), JPEG-in-TIFF (the last TIFF compression
    # refusal, old- and new-style framings), and 12-bit
    # color/progressive JPEG (the named r17 tail);
    "multimodal_tiff_ccitt_roundtrip",
    "multimodal_tiff_jpeg_roundtrip",
    "multimodal_jpeg12_color_roundtrip",
    "multimodal_pdf_embedded_images",
    # (a''') doc-note re-entries (rotation contract — the "remaining
    # JPEG stubs" notes went stale when 12-bit color/progressive
    # landed):
    "multimodal_jpeg_subsampled_roundtrip",
    "multimodal_jpeg_progressive_roundtrip",
    # (b) ALL 19 r11-latest entries (VERDICT r17 #3 — they hit the
    # seven-round staleness ceiling at r18), registry order;
    "speculative_parse",
    "epoch_seconds",
    "falsy_suppression",
    "column_casts",
    "rename_projection",
    "count_rows",
    "distinct_values",
    "limit_page",
    "top_k",
    "q12_delay_priority",
    "text_clean",
    "text_zipf_slope",
    "text_boilerplate_ngrams",
    "text_decontaminate",
    "semdedup_prune_consistency",
    "embedding_quantize_int8",
    "multimodal_image_cell_features",
    "multimodal_image_dhash_incremental",
    "multimodal_wav_audio_stats",
    # (c) the oldest of the 42 r12-latest entries, registry order,
    # less the two rotated out for the mongodump re-entries at the
    # front (the remaining r12s are the staged r19 front — the
    # rotation's oldest cohort after this round);
    "events_pivot_daily",
    "graph_pagerank_interactions",
    "graph_pagerank_weighted",
    "events_markov_transitions",
    "text_bigram_logprob",
    "text_trigram_backoff",
    "corpus_perplexity_buckets",
]


def complex_top_level_cols(schema) -> list[str]:
    """Names of top-level array/struct/map columns in a Spark schema.

    Registered queries must return NONE: the driver's canonicalizer
    sorts and hashes result rows with pandas, and an unhashable list /
    dict cell crashes it (hit twice: multimodal_decode_features r1,
    embedding_quantize_int8 r2). Scalarize instead — emit the size plus
    an md5 digest of the serialized value (see those two queries)."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    return [
        f.name
        for f in schema.fields
        if isinstance(f.dataType, (ArrayType, MapType, StructType))
    ]


# Queries registered this round whose driver row is DELIBERATELY
# staged for the NEXT round's window (this round's 50 slots are
# committed to the freshness rotation — verdict r8 #1). Every entry
# must hold full DuckDB-oracle parity in tests/test_queries_oracle.py
# NOW; the queue only defers the driver RECORDING, not the check.
# Entries MUST move to the front of _DRIVER_WINDOW_FIRST next round.
_NEXT_WINDOW_QUEUE: list[str] = [
    # From r14 on the rotation is pure freshness; a new query goes in
    # the front of _DRIVER_WINDOW_FIRST (rotating out a stable green
    # anchor) or stages here with full pytest-oracle parity until the
    # next round covers it.
    #
    # r18: the full r17 queue (14 entries) moved to the window front —
    # every registry entry now has either a driver row or a window
    # slot this round. New late-r18 registrations stage here.
]


def query_source_hashes() -> dict[str, str]:
    """Per-query source fingerprint: sha256 over the AST dump of the
    registered function's own source (decorator included, so the
    oracle SQL literal is covered twice) plus the oracle string.
    The AST dump normalizes formatting/comments, so only semantic
    edits to the query fn or its oracle move the hash. Deliberate
    limit: shared-helper changes do NOT move it — the window-re-entry
    contract is scoped to the registered surface itself."""
    import ast
    import hashlib
    import inspect
    import textwrap

    out = {}
    for name, spec in QUERIES.items():
        src = textwrap.dedent(inspect.getsource(spec.fn))
        digest = hashlib.sha256()
        digest.update(ast.dump(ast.parse(src)).encode())
        digest.update(b"\x00")
        digest.update((spec.oracle or "").encode())
        out[name] = digest.hexdigest()[:16]
    return out


def stale_hashes_outside_window(
    current: dict[str, str],
    manifest: dict[str, str],
    window: set[str],
) -> list[str]:
    """Names whose source hash changed relative to the committed
    manifest WITHOUT the name being restaged into the driver window —
    the one manual invariant of the rotation policy (verdict r11 #4),
    now machinery: a changed query keeps its stale green driver row
    unless it re-enters the window, so this list must be empty.
    Names absent from the manifest are new registrations (handled by
    the queue/window guards, not here)."""
    return sorted(
        n
        for n, h in current.items()
        if n in manifest and manifest[n] != h and n not in window
    )


def unchecked_queries_outside_window(
    names: list[str], checked: set[str], window_size: int = 50
) -> list[str]:
    """Registered queries that have NEVER had a driver correctness row
    AND sit outside the driver's check window — i.e. queries that would
    ship with zero correctness signal. Must be empty apart from the
    explicitly declared ``_NEXT_WINDOW_QUEUE``: new queries either go
    at the front of _DRIVER_WINDOW_FIRST (rotating out stable green
    anchors) or are staged in the queue with full pytest-oracle parity
    until the next CORRECTNESS round covers them."""
    return [
        n
        for n in names[window_size:]
        if n not in checked and n not in _NEXT_WINDOW_QUEUE
    ]


def load_all() -> dict[str, QuerySpec]:
    """Import every query module so registration side effects run;
    return the registry reordered so the driver's 50-query correctness
    window covers every query lacking a hard signal (see
    _DRIVER_WINDOW_FIRST)."""
    from mongo2pq_spark.queries import (  # noqa: F401
        analytics,
        corpus_stats,
        dedup,
        functions_lib,
        joins_ext,
        llm_pipeline,
        multimodal,
        relational,
        sampling_quant,
        similarity,
        streaming,
        text,
        timeseries,
        tpch_complete,
        udfs,
    )

    missing = [n for n in _NEXT_WINDOW_QUEUE if n not in QUERIES]
    if missing:
        raise ValueError(
            f"_NEXT_WINDOW_QUEUE names unregistered queries: {missing}"
        )
    ordered = {name: QUERIES[name] for name in _DRIVER_WINDOW_FIRST}
    for name, spec in QUERIES.items():
        if name not in ordered:
            ordered[name] = spec
    return ordered
