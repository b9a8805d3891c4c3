"""Persistent cross-run incremental MEDIA near-dedup stores — the
``--near-dedup-store`` contract (plans/neardedup_store.py) applied to
perceptual fingerprints of binary media payloads. One audited base
(`MediaFingerprintStore`) carries the whole lifecycle; a modality
plugs in only (a) which mimes its real codec decodes and (b) the
payload→60-bit-fingerprint function:

- ``ImageDedupStore`` (CLI ``--media-dhash-store``): dHash through the
  real PNG / baseline-JPEG pixel codecs — catches brightness-shifted /
  re-encoded image re-crawls that byte-level payload_md5 dedup misses.
- ``AudioDedupStore`` (CLI ``--media-afp-store``): the gain/channel-
  invariant energy-envelope fingerprint through the real PCM-WAV codec
  (operators/audio.py::audio_envelope_bits) — catches re-mastered /
  re-gained audio re-crawls.

Each media EL run is one BATCH: decodable payloads are fingerprinted
once (Arrow-batched mapInPandas, map-only), probed against every
PREVIOUSLY ingested batch's banded fingerprints (pigeonhole-complete
Hamming blocking + exact popcount verify — the same audited machinery
as ``operators/dedup.py::hamming_incremental_new`` and the streaming
Hamming store), near-dup re-crawls are DROPPED before the parquet
write, and the surviving fingerprints are committed. Per-run cost
scales with the increment; history's only trace is one int64
fingerprint (× bands) per surviving file.

A file is identified by the md5 of its payload BYTES (rerun-stable,
id-column-independent); the batch token is built from the
payload-digest set.

Scope honesty: only mimes the real codecs decode are fingerprinted.
Other-modality rows and payloads the codec rejects (GIF/WebP,
progressive JPEG, 16-bit PNG; float/ADPCM WAV) pass through UN-deduped
and UN-indexED — counted and warned, never silently dropped or crashed
on: an ingestion run must not die on one odd file, and pretending to
dedup what we cannot decode would be a fake. Within-batch near-dups
both survive (exact payload-digest dedup runs upstream in the CLI; the
text store has the same contract).

Pin, batch token, commit + done marker (with the partial-commit
audit), consolidation to ``batch=c0`` and swap recovery are the shared
lifecycle in ``plans/bandstore_core.py``.
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mongo2pq_spark.operators.cache import pin
from mongo2pq_spark.plans.bandstore_core import (
    RunLog,
    consolidate_tree,
    data_partition_dirs,
    digest_batch_token,
    pin_meta,
    read_pin,
    recover_replace,
)

#: canonical media id inside the store: md5 of the payload bytes
STORE_ID = "__m2p_media_id"

FP_SCHEMA = f"{STORE_ID} string, fp bigint, decode_err string"


class MediaFingerprintStore:
    """Shared lifecycle for perceptual-fingerprint media dedup stores.

    Subclasses pin ``KIND`` (the meta.json layout marker — probing
    across kinds is refused), ``DECODABLE_MIMES``, and
    ``_fingerprint_payload(payload) -> int`` (the ≤63-bit hash; typed
    decode failures must raise ValueError/NotImplementedError)."""

    KIND: str = ""
    DECODABLE_MIMES: tuple[str, ...] = ()

    def __init__(
        self,
        root: str | os.PathLike,
        collection: str,
        max_hamming: int = 3,
        bits: int = 60,
    ) -> None:
        if not 0 <= max_hamming < bits:
            raise ValueError(
                f"max_hamming must be in [0, {bits}), got {max_hamming}"
            )
        self.max_hamming = max_hamming
        self.bits = bits
        self._hashed = None
        self._fp = None
        self._dropped = None
        self.dir = pin_meta(
            os.path.join(root, collection),
            {
                "layout": 1,
                "kind": self.KIND,
                "max_hamming": max_hamming,
                "bits": bits,
            },
            "media fingerprint store",
            audit=("fps",),
        )
        recover_replace(self.dir / "fps" / "batch=c0")

    # -------------------------------------------------------- modality

    def _fingerprint_payload(self, payload: bytes) -> int:
        raise NotImplementedError  # subclass contract

    # ---------------------------------------------------------- batch

    def batch_token(self, df: DataFrame) -> str:
        """Deterministic, order-independent fingerprint of the batch's
        payload-digest set (same construction and collision margin as
        the text store's token: count + both 64-bit md5-half sums)."""
        return digest_batch_token(df, F.col("payload_md5"))

    def _fp_or_null(self, df: DataFrame) -> DataFrame:
        """(payload_md5, fp, decode_err) for DECODABLE-mime rows: the
        real-codec fingerprint, with per-file typed decode failures
        captured as a reason string instead of killing the whole Arrow
        stage — those rows pass through un-deduped and un-indexed
        (warned)."""
        from mongo2pq_spark.deploy import ensure_shipped

        ensure_shipped(df.sparkSession)
        fingerprint = self._fingerprint_payload

        def hash_batches(batches):
            import pandas as pd

            for pdf in batches:
                ids, fps, errs = [], [], []
                for md5_, payload in zip(
                    pdf["payload_md5"], pdf["payload"]
                ):
                    ids.append(md5_)
                    try:
                        fps.append(fingerprint(bytes(payload)))
                        errs.append(None)
                    except (ValueError, NotImplementedError) as exc:
                        fps.append(None)
                        errs.append(f"{type(exc).__name__}: {exc}")
                yield pd.DataFrame(
                    {STORE_ID: ids, "fp": fps, "decode_err": errs}
                )

        return df.filter(F.col("mime").isin(*self.DECODABLE_MIMES)).select(
            "payload_md5", "payload"
        ).mapInPandas(hash_batches, FP_SCHEMA)

    def _banded(self, fp_df: DataFrame) -> DataFrame:
        from mongo2pq_spark.operators.dedup import _hamming_band_table

        return _hamming_band_table(
            fp_df, "fp", STORE_ID, self.max_hamming, self.bits, 100_000
        )

    def filter_new(self, df: DataFrame, token: str) -> DataFrame:
        """Drop rows whose fingerprint lies within ``max_hamming`` of
        ANY previously ingested batch's fingerprint; other-modality and
        undecodable rows pass through (warned)."""
        hashed = pin(self._fp_or_null(df))
        self._hashed = hashed
        n_bad = hashed.filter(F.col("decode_err").isNotNull()).count()
        if n_bad:
            sample = (
                hashed.filter(F.col("decode_err").isNotNull())
                .select("decode_err")
                .first()["decode_err"]
            )
            print(
                f"WARNING: {n_bad} {self.KIND} payload(s) not decodable "
                f"by the built-in codecs (e.g. {sample}) — ingested "
                "un-deduped and un-indexed",
                file=sys.stderr,
            )
        fp = hashed.filter(F.col("fp").isNotNull()).select(STORE_ID, "fp")
        self._fp = fp

        spark = df.sparkSession
        fp_dirs = [
            str(p)
            for p in data_partition_dirs(
                self.dir / "fps", exclude=f"batch={token}"
            )
        ]
        if not fp_dirs:
            self._dropped = None
            return df
        index = (
            spark.read.parquet(*fp_dirs)
            .filter(F.col("src_token") != token)
            .select(
                F.col("fp").alias("other_fp"), "band_id", "band_value"
            )
        )
        ham = F.bit_count(F.col("fp").bitwiseXOR(F.col("other_fp")))
        dropped = pin(
            self._banded(fp)
            .join(index, ["band_id", "band_value"])
            .filter(ham <= self.max_hamming)
            .select(STORE_ID)
            .distinct()
        )
        self._dropped = dropped
        return df.join(
            dropped.withColumnRenamed(STORE_ID, "__m2p_drop_md5"),
            F.col("payload_md5") == F.col("__m2p_drop_md5"),
            "left_anti",
        )

    def commit(self, token: str) -> None:
        """Index the batch's surviving fingerprints (banded rows,
        overwrite-by-partition, then the done marker) — only after the
        EL write succeeded, same ordering contract as the text store."""
        if self._fp is None:
            raise RuntimeError("commit() before filter_new()")
        survivors = (
            self._fp
            if self._dropped is None
            else self._fp.join(self._dropped, STORE_ID, "left_anti")
        )
        self._banded(survivors).withColumn(
            "src_token", F.lit(token)
        ).write.mode("overwrite").parquet(
            str(self.dir / "fps" / f"batch={token}")
        )
        RunLog(self.dir / "runs").mark_done(token)
        self.close()

    # -------------------------------------------------- maintenance

    def consolidate(self, spark: SparkSession) -> None:
        """Merge every completed batch into one ``batch=c0``
        (``bandstore_core.consolidate_tree``). The preservation key is
        the full (band_id, band_value, fp) triple: the probe joins on
        (band_id, band_value) and verifies by exact popcount against
        ``fp``, so one surviving row per triple leaves every future drop
        decision unchanged. The min (src_token, id) struct keeps the
        survivor deterministic and its origin token intact. Run it
        between EL runs."""
        consolidate_tree(
            spark,
            self.dir / "fps",
            lambda d: d.groupBy("band_id", "band_value", "fp")
            .agg(F.min(F.struct("src_token", STORE_ID)).alias("first"))
            .select(
                F.col(f"first.{STORE_ID}").alias(STORE_ID),
                "fp",
                "band_id",
                "band_value",
                F.col("first.src_token").alias("src_token"),
            ),
            RunLog(self.dir / "runs").done_tokens(),
        )

    def close(self) -> None:
        """Release the pinned increment artifacts (an enclosing
        ``cache_scope`` releases them too on exit)."""
        for cached in (self._hashed, self._dropped):
            if cached is not None:
                cached.unpersist(False)
        self._hashed = self._fp = self._dropped = None


class ImageDedupStore(MediaFingerprintStore):
    """Image modality: 60-bit dHash through the engine's real PNG /
    baseline-JPEG pixel codecs (CLI ``--media-dhash-store``)."""

    KIND = "image-dhash"
    DECODABLE_MIMES = ("image/png", "image/jpeg")

    def _fingerprint_payload(self, payload: bytes) -> int:
        from mongo2pq_spark.operators.multimodal import (
            decode_image_pixels,
            dhash_bits,
        )

        return dhash_bits(decode_image_pixels(payload)[3])


class PhashImageDedupStore(MediaFingerprintStore):
    """Image modality, frequency-domain: 60-bit DCT pHash through the
    real codecs (CLI ``--media-phash-store``) — catches the dithered /
    re-encoded near-copies whose high-frequency noise moves the
    gradient dHash. Covers the same mimes as the dHash store: when
    both are configured the stores CHAIN (this one probes the dHash
    survivors), which only ever drops more re-crawls, never fewer."""

    KIND = "image-phash"
    DECODABLE_MIMES = ("image/png", "image/jpeg")

    def _fingerprint_payload(self, payload: bytes) -> int:
        from mongo2pq_spark.operators.multimodal import (
            decode_image_pixels,
            phash_bits,
        )

        return phash_bits(decode_image_pixels(payload)[3])


class AudioDedupStore(MediaFingerprintStore):
    """Audio modality: the gain/channel-invariant 60-bit energy-
    envelope fingerprint through the real PCM-WAV codec (CLI
    ``--media-afp-store``)."""

    KIND = "audio-envelope"
    DECODABLE_MIMES = ("audio/wav",)

    def _fingerprint_payload(self, payload: bytes) -> int:
        from mongo2pq_spark.operators.audio import (
            audio_envelope_bits,
            decode_wav_samples,
        )

        return audio_envelope_bits(decode_wav_samples(payload)[2])


#: kind marker → store class, for opening an existing tree by its pin
KIND_TO_STORE: dict[str, type[MediaFingerprintStore]] = {
    cls.KIND: cls
    for cls in (ImageDedupStore, PhashImageDedupStore, AudioDedupStore)
}


def open_store(
    root: str | os.PathLike, collection: str
) -> MediaFingerprintStore:
    """Open an EXISTING store tree with the parameters pinned in its
    meta.json (maintenance entry point — a consolidation pass must
    never guess parameters and trip the drift guard)."""
    pinned = read_pin(os.path.join(root, collection))
    cls = KIND_TO_STORE.get(pinned.get("kind"))
    if cls is None:
        raise ValueError(
            f"{os.path.join(root, collection)} pins unknown store kind "
            f"{pinned.get('kind')!r}"
        )
    return cls(
        root,
        collection,
        max_hamming=pinned["max_hamming"],
        bits=pinned["bits"],
    )
