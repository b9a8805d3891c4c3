"""Persistent cross-run incremental near-dedup store — the backend of
the CLI's ``--near-dedup-store`` flag.

Each EL run is one BATCH: the incoming documents are shingled once,
probed against every PREVIOUSLY ingested batch's LSH bands, candidate
collisions are VERIFIED against stored MinHash signatures (band
collision alone is a candidate generator with a known false-positive
rate — ~1.3 % at true Jaccard 0.2 for the 32/8 default — so dropping
on candidacy would silently delete distinct documents), and the
surviving documents' signatures + bands are committed to the store.
Per-run cost scales with the increment, never the corpus; history's
only trace is the k-integer signature table and its band projection.

The store identifies documents by the md5 DIGEST of their text, not by
any caller id column: digests are unique after the exact-dedup pass
that precedes the store in the CLI (one survivor per digest), identical
for identical texts even without it (so a merged signature is the same
signature), and immune to id-column name/width/uniqueness drift
between runs.

Layout under ``<root>/<collection>/``::

    meta.json              pinned minhash params + text column
    runs/<token>.done      batch completion markers
    sigs/batch=<token>/    (doc id [string], mh0..mh{k-1}, src_token)
    bands/batch=<token>/   (doc id [string], band_id, band_hash,
                            src_token) — survivors only

Pin, batch token, commit + done marker, consolidation to ``batch=c0``
and swap recovery are the shared lifecycle in
``plans/bandstore_core.py``. Layout v2 (rows carry ``src_token``) is
the first that ever persisted.

Scale shape: probe = one equi-join of the increment's bands against
the stored band partitions; verify = one join of candidate pairs
against two signature tables + a k-term agreement expression (no
text, no UDF); the only cached artifacts are the increment's
signatures and the dropped-id set (≪ increment size).
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mongo2pq_spark.operators.cache import pin
from mongo2pq_spark.operators.dedup import (
    DEFAULT_BANDS,
    DEFAULT_K,
    minhash_agreement,
    minhash_band_table,
    minhash_signatures,
)
from mongo2pq_spark.plans.bandstore_core import (
    RunLog,
    aux_path,
    consolidate_tree,
    data_partition_dirs,
    digest_batch_token,
    pin_meta,
    read_pin,
    recover_replace,
)

#: canonical id column inside the store: md5(text). Unique per
#: distinct text, rerun-stable, independent of caller id columns
STORE_ID = "__m2p_id"


class NearDedupStore:
    def __init__(
        self,
        root: str | os.PathLike,
        collection: str,
        text_col: str,
        threshold: float = 0.8,
        k: int = DEFAULT_K,
        bands: int = DEFAULT_BANDS,
        shingle_n: int = 3,
        seed: int = 42,
    ) -> None:
        if not 0.0 < threshold <= 1.0:
            raise ValueError(
                f"near-dedup threshold must be in (0, 1], got {threshold}"
                " — above 1 the verification can never pass (silent"
                " no-op); at or below 0 every raw band-collision"
                " candidate is dropped unverified"
            )
        self.text_col = text_col
        self.threshold = threshold
        self.k, self.bands = k, bands
        self.shingle_n, self.seed = shingle_n, seed
        self._sig = None
        self._dropped = None
        self.dir = pin_meta(
            os.path.join(root, collection),
            {
                "layout": 2,  # v2: rows carry src_token (see consolidate)
                "text_col": text_col,
                "k": k,
                "bands": bands,
                "shingle_n": shingle_n,
                "seed": seed,
            },
            "near-dedup store",
            audit=("sigs", "bands"),
        )
        self._recover_consolidation()

    # ---------------------------------------------------------- batch

    def _digest(self) -> Column:
        return F.md5(F.encode(F.col(self.text_col), "utf-8"))

    def batch_token(self, df: DataFrame) -> str:
        """Deterministic, order-independent fingerprint of the batch's
        text-digest set: row count + decimal sums of both 64-bit md5
        halves (~128 collision bits — a 32-bit checksum here would make
        accidental or constructible token collisions alias two
        DIFFERENT batches, corrupting both their index partitions) in
        one map-side aggregate; a rerun of the same input maps to the
        same token.

        Deliberate consequence of content-only identity: an input
        whose digest set EXACTLY equals an already-committed batch is
        indistinguishable from a retry of that batch and replays it
        (same output as the original, own partitions excluded from the
        probe) rather than dropping everything as history-duplicates.
        Between the two ways to resolve the ambiguity this is the safe
        one — the alternative empties the output on every operator
        retry — and byte-identical re-crawls are exactly what plain
        exact dedup catches downstream; this store's value is the
        EDITED re-crawl."""
        return digest_batch_token(df, self._digest())

    def _other_batches(self, sub: str, token: str) -> list[str]:
        """Partition dirs of OTHER batches that hold actual data files
        (shared listing: a crashed append's droppings or an empty-batch
        partition holding only ``_SUCCESS`` must not poison the read)."""
        return [
            str(p)
            for p in data_partition_dirs(
                self.dir / sub, exclude=f"batch={token}"
            )
        ]

    def filter_new(self, df: DataFrame, token: str) -> DataFrame:
        """Drop documents that near-duplicate ANY previously ingested
        batch: band collision proposes, signature agreement ≥ threshold
        confirms. The increment's signatures are computed ONCE and
        pinned (k integers per doc; ``cache.pin``) for reuse by
        ``commit``."""
        sig = pin(minhash_signatures(
            df.select(
                self._digest().alias(STORE_ID),
                F.col(self.text_col),
            ),
            STORE_ID,
            self.text_col,
            self.k,
            self.shingle_n,
            self.seed,
        ))
        self._sig = sig

        spark = df.sparkSession
        band_dirs = self._other_batches("bands", token)
        if not band_dirs:
            self._dropped = None
            return df
        # row-level own-batch exclusion (src_token) is the
        # correctness backbone once batches are CONSOLIDATED into one
        # partition; the path-level exclusion above remains as a pure
        # read-avoidance optimization for unconsolidated batches
        index_bands = (
            spark.read.parquet(*band_dirs)
            .filter(F.col("src_token") != token)
            .select(F.col(STORE_ID).alias("existing_id"), "band_id", "band_hash")
        )
        new_bands = minhash_band_table(sig, STORE_ID, self.k, self.bands)
        # NOTE: no self-match guard on the ids — the probe already
        # excludes this batch's own partitions, so an equal digest
        # across batches IS a genuine duplicate (the same text
        # re-ingested) and must be dropped, not skipped
        cand = (
            new_bands.join(index_bands, ["band_id", "band_hash"])
            .select(STORE_ID, "existing_id")
            .distinct()
        )
        sig_dirs = self._other_batches("sigs", token)
        index_sigs = spark.read.parquet(*sig_dirs).filter(
            F.col("src_token") != token
        )
        # the k-term verify is one SQL string over the aliased sides
        agreement = minhash_agreement("n.", "e.", self.k)
        dropped = pin(
            cand.join(sig, STORE_ID).alias("n")
            .join(index_sigs.alias("e"), F.expr(f"n.existing_id = e.{STORE_ID}"))
            .where(
                f"({agreement}) / CAST({self.k} AS DOUBLE)"
                f" >= CAST('{self.threshold!r}' AS DOUBLE)"
            )
            .selectExpr(f"n.{STORE_ID}")
            .distinct()
        )
        self._dropped = dropped
        return df.join(
            dropped.withColumnRenamed(STORE_ID, "__m2p_drop_id"),
            self._digest() == F.col("__m2p_drop_id"),
            "left_anti",
        )

    def commit(self, token: str) -> None:
        """Index the batch's SURVIVORS (overwrite-by-partition, then
        the done marker): called only after the EL write succeeded, so
        a crash never leaves documents indexed-but-unwritten, and a
        retry overwrites its own partitions instead of appending."""
        if self._sig is None:
            raise RuntimeError("commit() before filter_new()")
        survivors = (
            self._sig
            if self._dropped is None
            else self._sig.join(self._dropped, STORE_ID, "left_anti")
        ).withColumn("src_token", F.lit(token))
        survivors.write.mode("overwrite").parquet(
            str(self.dir / "sigs" / f"batch={token}")
        )
        minhash_band_table(survivors, STORE_ID, self.k, self.bands).withColumn(
            "src_token", F.lit(token)
        ).write.mode("overwrite").parquet(
            str(self.dir / "bands" / f"batch={token}")
        )
        RunLog(self.dir / "runs").mark_done(token)
        self.close()

    def _recover_consolidation(self) -> None:
        """Roll an interrupted consolidation swap forward or back on
        each tree's ``batch=c0``. Pre-unification consolidations used
        ``_swapin_c0``/``_build_c0``; a store crashed mid-swap under
        those names is migrated to the shared names first so its
        absorbed index entries survive the upgrade."""
        for sub in ("sigs", "bands"):
            base = self.dir / sub
            if not base.is_dir():
                continue
            c0 = base / "batch=c0"
            for legacy, kind in (("_swapin_c0", "swapin"), ("_build_c0", "build")):
                legacy_dir = base / legacy
                target = aux_path(c0, kind)
                if legacy_dir.is_dir() and not target.exists():
                    os.rename(legacy_dir, target)
            recover_replace(c0)

    def consolidate(self, spark) -> None:
        """Merge every completed batch into one ``batch=c0`` per tree
        (``bandstore_core.consolidate_tree``). Duplicate rows a retry
        re-commits after absorption are benign (the probe's DISTINCT
        tolerates them) and fold back in at the next consolidation. The
        two trees swap independently: consolidation preserves each
        tree's content. Run it between EL runs."""
        self._recover_consolidation()  # legacy swap names first
        done = RunLog(self.dir / "runs").done_tokens()
        mh_mins = [F.min(f"mh{i}").alias(f"mh{i}") for i in range(self.k)]
        consolidate_tree(
            spark, self.dir / "sigs",
            lambda d: d.groupBy(STORE_ID).agg(
                F.min("src_token").alias("src_token"), *mh_mins
            ),
            done,
        )
        consolidate_tree(
            spark, self.dir / "bands",
            lambda d: d.groupBy(STORE_ID, "band_id", "band_hash").agg(
                F.min("src_token").alias("src_token")
            ),
            done,
        )

    def close(self) -> None:
        """Release the pinned increment artifacts (an enclosing
        ``cache_scope`` releases them too on exit)."""
        for cached in (self._sig, self._dropped):
            if cached is not None:
                cached.unpersist()
        self._sig = self._dropped = None


def open_store(
    root: str | os.PathLike, collection: str, threshold: float
) -> NearDedupStore:
    """Open an EXISTING store tree with the parameters pinned in its
    meta.json (maintenance entry point: a consolidation pass must never
    guess parameters and trip the drift guard)."""
    pinned = read_pin(os.path.join(root, collection))
    return NearDedupStore(
        root, collection,
        text_col=pinned["text_col"],
        threshold=threshold,
        k=pinned["k"], bands=pinned["bands"],
        shingle_n=pinned["shingle_n"], seed=pinned["seed"],
    )
