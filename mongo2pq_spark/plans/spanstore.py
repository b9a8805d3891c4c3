"""Cross-run ExactSubstr span-hash store — the persisted index behind
``duplicated_span_removal_incremental``.

A corpus ingested in daily increments needs substring dedup against
EVERYTHING seen so far, at O(increment) cost: each increment's spans
probe the store's hash set (one equi-join), covered tokens are
removed, and the increment's own distinct span hashes are appended —
corpus text is never re-read.

Layout (one tree per collection)::

    <root>/<collection>/meta.json              pinned span/text params
    <root>/<collection>/spans/batch=<token>/   (h bigint, src_token, multi)
    <root>/<collection>/spans/_absorbed.json   folded batch tokens

Pin, batch token, the whole-tree fold to ``batch=c0`` with its
absorbed-token record, and swap recovery are the shared lifecycle in
``plans/bandstore_core.py``. The fold keeps one row per distinct hash
with ``src_token`` = min contributing token and ``multi`` — true iff
the hash came from >= 2 distinct batches. That makes the
post-consolidation retry exclusion EXACT: a replaying batch excludes
only hashes whose sole contributor is itself (``src_token == own AND
NOT multi``); a multi-contributor hash is genuinely historical for any
single batch and stays in its history view.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mongo2pq_spark.plans.bandstore_core import (
    absorbed_tokens,
    data_partition_dirs,
    digest_batch_token,
    fold_tree,
    pin_meta,
    read_pin,
    recover_replace,
)


class SpanHashStore:
    def __init__(
        self,
        root: str | os.PathLike,
        collection: str,
        text_col: str = "text",
        span_words: int = 8,
    ) -> None:
        self.text_col = text_col
        self.span_words = span_words
        # layout 2: span hashes are the 60-bit hash64 (destructive
        # removal must not key on 32 bits). A layout-1 store persisted
        # 32-bit hashes that 60-bit spans would silently never match,
        # so the pin makes it fail loud; rebuild it from corpus text.
        self.dir = pin_meta(
            os.path.join(root, collection),
            {
                "layout": 2,
                "span_hash": "md5-60bit",
                "text_col": text_col,
                "span_words": span_words,
            },
            "span store",
        )
        recover_replace(self.dir / "spans")

    def _token(self, df: DataFrame) -> str:
        return digest_batch_token(df, F.md5(F.col(self.text_col)))

    def _index(
        self, spark: SparkSession, own_token: str
    ) -> DataFrame:
        """History hash set EXCLUDING the probing batch's own spans:
        other batch partitions by directory, plus (post-consolidation
        retry) ``batch=c0`` rows whose ``src_token`` differs."""
        spans = self.dir / "spans"
        dirs = data_partition_dirs(spans, exclude=f"batch={own_token}")
        if not dirs:
            return spark.createDataFrame([], "h bigint")
        idx = spark.read.parquet(*[str(d) for d in dirs])
        return idx.filter(
            F.col("multi") | (F.col("src_token") != own_token)
        ).select("h")

    def process_increment(
        self,
        spark: SparkSession,
        df: DataFrame,
        id_col: str = "doc_id",
        with_text: bool = False,
    ) -> DataFrame:
        """Remove duplicated spans from ``df`` against the store's
        history (plus within-increment duplication), append the
        increment's distinct span hashes, and return the removal
        result ``(id, n_tokens, n_kept, clean_md5)``. Idempotent:
        a retry maps to the same content token, excludes its own
        partition (or its ``src_token`` rows after consolidation)
        from the probe, and overwrites only its own partition."""
        from mongo2pq_spark.operators.dedup import (
            duplicated_span_removal_incremental,
            span_hash_index,
        )

        spans = self.dir / "spans"
        recover_replace(spans)
        token = self._token(df)
        index = self._index(spark, token)
        result = duplicated_span_removal_incremental(
            df,
            index,
            id_col=id_col,
            text_col=self.text_col,
            span_words=self.span_words,
            with_text=with_text,
        )
        if token not in absorbed_tokens(spans):
            (
                span_hash_index(
                    df,
                    id_col=id_col,
                    text_col=self.text_col,
                    span_words=self.span_words,
                )
                .withColumn("src_token", F.lit(token))
                .withColumn("multi", F.lit(False))
                .write.mode("overwrite")
                .parquet(str(spans / f"batch={token}"))
            )
        return result

    def consolidate(self, spark: SparkSession) -> None:
        """Fold every batch into one ``batch=c0`` (one row per distinct
        hash; ``bandstore_core.fold_tree``) — bounding a year of daily
        increments to the size of the distinct span set, with probe
        answers unchanged."""

        def write(sources: list[str], c0: str) -> None:
            # multi: >= 2 distinct contributing batches, OR already
            # marked multi by a previous fold (re-folding c0 with new
            # batches must not lose the flag)
            spark.read.parquet(*sources).groupBy("h").agg(
                F.min("src_token").alias("src_token"),
                (
                    (F.count_distinct("src_token") > 1)
                    | (F.max(F.col("multi").cast("int")) == 1)
                ).alias("multi"),
            ).write.mode("overwrite").parquet(c0)

        fold_tree(self.dir / "spans", write)


def open_store(root: str | os.PathLike, collection: str) -> SpanHashStore:
    """Open an EXISTING store tree with the parameters pinned in its
    meta.json (maintenance entry point)."""
    pinned = read_pin(os.path.join(root, collection))
    return SpanHashStore(
        root,
        collection,
        text_col=pinned["text_col"],
        span_words=pinned["span_words"],
    )
