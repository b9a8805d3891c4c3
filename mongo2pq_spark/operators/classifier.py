"""Trained multinomial Naive Bayes text classifier (train + score).

The trained-classifier stage of a CCNet/GPT-3-style corpus pipeline
(Wenzek et al. 2020 §4; Brown et al. 2020 Appendix A): learn per-label
token log-likelihoods from a labeled slice, score the open corpus by
summed log-probability, route/filter documents by predicted label.
The reference engine stops at EL (reference ``mongo2pq/main.py`` has
no model stage); this module is mandated training-pipeline extension
surface alongside lang-id and the perplexity LMs.

Spark-first shape — built-in JVM expressions end to end, no UDFs:

* ``nb_train`` is one explode + two partial-agg ``groupBy``s over the
  labeled slice. The dense (label × term) log-prob table is a
  crossJoin of two BOUNDED aggregates (distinct train terms × label
  stats) left-joined against observed counts — smoothed zeros are
  materialized, so scoring never probes a per-label vocabulary.
* The model is bounded and broadcast: scoring touches the corpus with
  map-side joins only, then ONE shuffle for the per-(doc, label)
  score aggregation and one per-doc window for the argmax. With
  ``hash_buckets=k`` the term space becomes the md5-derived 32-bit
  token hash mod k (portable across engines), so the model stays
  ≤ k × L rows no matter how large the corpus vocabulary grows — the
  100 TB path: accuracy degrades gracefully with hash collisions
  while the broadcast stays O(k·L).
* Determinism by construction: no RNG anywhere (splits are the
  salted-md5 bucket idiom, hashing is md5), per-(doc, label) scores
  are rounded to 6 dp BEFORE the argmax, and ties break on label
  ascending — the winner is a pure function of the rounded score
  table, identical in Spark and the DuckDB oracle and stable under
  any partitioning.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from mongo2pq_spark.functions.hashing import token_hash32
from mongo2pq_spark.functions.textfns import tokens
from mongo2pq_spark.operators.cache import cache_stream

#: Laplace smoothing weight; baked into the oracle SQL as well.
DEFAULT_ALPHA = 1.0


def _terms(text_col: Column, hash_buckets: int | None) -> Column:
    """array<string> of classifier terms: whitespace tokens, or — on
    the bounded-model path — each token's md5-hash bucket rendered as
    a string so the term column keeps one type either way. NULL text
    is an empty document (scored on priors alone), not a NULL array —
    ``F.size(NULL)`` is -1 and would poison the OOV arithmetic."""
    toks = tokens(F.coalesce(text_col, F.lit("")))
    if hash_buckets is None:
        return toks
    return F.transform(
        toks,
        lambda t: (token_hash32(t) % F.lit(hash_buckets)).cast("string"),
    )


def nb_train(
    docs: DataFrame,
    label_col: str,
    text_col: str = "text",
    alpha: float = DEFAULT_ALPHA,
    hash_buckets: int | None = None,
    max_vocab: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Fit the multinomial NB model on a labeled document slice.

    Returns ``(model, priors)``:

    * ``model``: (label, term, logp) — dense over the global train
      vocabulary (smoothed zero-count cells included), so the scoring
      join needs no per-label missing-term fallback;
    * ``priors``: (label, log_prior, logp_unseen) — one row per label;
      ``logp_unseen`` is the smoothed log-probability of a term absent
      from the train vocabulary (count 0 under Laplace), applied to
      every out-of-vocabulary token at scoring time.

    Shape: explode → groupBy(label, term) → two bounded follow-up
    aggregates; the dense table is vocab × labels (a crossJoin of a
    bounded distinct against a broadcast ≤L-row stats table). A label
    whose train docs are all empty still gets a row (doc counts are
    the base; token totals left-join onto them).

    Scale contract: the model is BROADCAST at scoring time, so it
    must stay bounded. ``hash_buckets=k`` bounds it at k × L
    structurally; ``max_vocab=N`` bounds the exact-vocab path by
    keeping only the N train terms with the highest corpus frequency
    (ties broken by term ascending — deterministic), with dropped
    terms scored as out-of-vocabulary exactly like unseen ones. The
    top-N selection sorts only the DISTINCT-term aggregate (V rows),
    never the corpus. An unbounded exact-vocab model is fine for a
    bounded train slice; pick one of the two caps before pointing
    training at an open corpus.
    """
    terms = docs.select(
        F.col(label_col).alias("label"),
        F.explode(_terms(F.col(text_col), hash_buckets)).alias("term"),
    )
    # persisted: the bounded (label, term) count table feeds four
    # consumers (label totals, vocab, vocab size, the dense-model
    # join) and Catalyst has no cross-branch CSE — without the
    # persist each one would re-tokenize the train slice.
    counts = cache_stream(
        terms.groupBy("label", "term").agg(F.count("*").alias("c"))
    )
    if max_vocab is not None:
        term_tot = counts.groupBy("term").agg(F.sum("c").alias("ct"))
        top_w = Window.orderBy(F.col("ct").desc(), F.col("term").asc())
        top = (
            term_tot.select(
                "term", F.row_number().over(top_w).alias("_nb_rk")
            )
            .filter(F.col("_nb_rk") <= max_vocab)
            .select("term")
        )
        counts = counts.join(F.broadcast(top), "term")
    doc_counts = docs.groupBy(F.col(label_col).alias("label")).agg(
        F.count("*").alias("n_docs")
    )
    return _model_from_counts(counts, doc_counts, alpha)


def _model_from_counts(
    counts: DataFrame, doc_counts: DataFrame, alpha: float
) -> tuple[DataFrame, DataFrame]:
    """Dense model + priors from ADDITIVE count tables — counts
    (label, term, c) and doc_counts (label, n_docs). Shared by
    nb_train (counts fresh from a labeled slice) and load_nb_model
    (counts summed across a persisted store's ingest batches): NB
    sufficient statistics are plain sums, so the two paths are
    value-identical by construction."""
    label_tok = counts.groupBy("label").agg(F.sum("c").alias("n_label"))
    total_docs = doc_counts.agg(F.sum("n_docs").alias("n_total"))
    vocab = counts.select("term").distinct()
    vsize = vocab.agg(F.count("*").alias("v"))

    labels = (
        doc_counts.join(label_tok, "label", "left")
        .crossJoin(F.broadcast(total_docs))
        .crossJoin(F.broadcast(vsize))
        .select(
            "label",
            F.coalesce(F.col("n_label"), F.lit(0)).alias("n_label"),
            "n_docs",
            "n_total",
            "v",
        )
    )
    model = (
        vocab.crossJoin(F.broadcast(labels))
        .join(counts, ["label", "term"], "left")
        .select(
            "label",
            "term",
            F.log(
                (F.coalesce(F.col("c"), F.lit(0)) + F.lit(alpha))
                / (F.col("n_label") + F.lit(alpha) * F.col("v"))
            ).alias("logp"),
        )
    )
    priors = labels.select(
        "label",
        F.log(F.col("n_docs").cast("double") / F.col("n_total")).alias(
            "log_prior"
        ),
        F.log(
            F.lit(alpha) / (F.col("n_label") + F.lit(alpha) * F.col("v"))
        ).alias("logp_unseen"),
    )
    return model, priors


def nb_score(
    docs: DataFrame,
    model: DataFrame,
    priors: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_buckets: int | None = None,
) -> DataFrame:
    """Score documents against a fitted model; one row per document:
    (id_col, pred_label, score, margin).

    ``score`` is the winning label's rounded log-probability;
    ``margin`` is its rounded lead over the runner-up (NULL for a
    single-label model). Empty documents score on priors alone.

    Shape: tf per (doc, term) is one shuffle; the model join is a
    broadcast; the doc × label skeleton is a broadcast nested-loop of
    the ≤L-row priors; per-(doc, label) assembly is an equi-join on
    the composite key; argmax is one per-doc window. ``hash_buckets``
    MUST match training — the term spaces are otherwise disjoint.
    """
    base = docs.select(
        F.col(id_col).alias("_nb_id"),
        _terms(F.col(text_col), hash_buckets).alias("_nb_toks"),
    )
    # ONE tokenization pass, compressed to (doc, term) granularity
    # and persisted: the per-doc total and the model probe both read
    # it (no cross-branch CSE in Catalyst — unpersisted, each branch
    # would re-tokenize the corpus). explode_outer keeps empty docs
    # as a NULL-term row with tf 0, so they survive into the totals
    # and score on priors alone. Corpus-sized, and kept on purpose:
    # one (id, term, tf) row per distinct term of a document is of
    # the order of the text it tokenizes (shard_members' persist,
    # which has a recompute knob, carries payload bytes), and a
    # recompute would tokenize twice. Under the CLI it lives in the
    # collection's cache scope and is released when that collection
    # is written; elsewhere it takes a bounded-registry slot.
    tf_doc = cache_stream(
        base.select("_nb_id", F.explode_outer("_nb_toks").alias("term"))
        .groupBy("_nb_id", "term")
        .agg(F.count("term").alias("tf"))
    )
    doc_tot = tf_doc.groupBy("_nb_id").agg(F.sum("tf").alias("n_terms"))
    tf = tf_doc.filter(F.col("term").isNotNull())
    in_vocab = (
        tf.join(F.broadcast(model), "term")
        .groupBy("_nb_id", "label")
        .agg(
            F.sum(F.col("tf") * F.col("logp")).alias("s_in"),
            F.sum("tf").alias("tf_in"),
        )
    )
    scores = (
        doc_tot.crossJoin(F.broadcast(priors))
        .join(in_vocab, ["_nb_id", "label"], "left")
        .select(
            "_nb_id",
            "label",
            F.round(
                F.col("log_prior")
                + F.coalesce(F.col("s_in"), F.lit(0.0))
                + (F.col("n_terms") - F.coalesce(F.col("tf_in"), F.lit(0)))
                * F.col("logp_unseen"),
                6,
            ).alias("score"),
        )
    )
    w = Window.partitionBy("_nb_id").orderBy(
        F.col("score").desc(), F.col("label").asc()
    )
    ranked = scores.select(
        "_nb_id",
        "label",
        "score",
        F.row_number().over(w).alias("_nb_rk"),
        F.lead("score").over(w).alias("_nb_second"),
    )
    return ranked.filter(F.col("_nb_rk") == 1).select(
        F.col("_nb_id").alias(id_col),
        F.col("label").alias("pred_label"),
        "score",
        F.round(F.col("score") - F.col("_nb_second"), 6).alias("margin"),
    )


def nb_crossval(
    docs: DataFrame,
    label_col: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_folds: int = 5,
    salt: str = "nbcv",
    alpha: float = DEFAULT_ALPHA,
    hash_buckets: int | None = None,
) -> DataFrame:
    """K-fold cross-validated NB accuracy in ONE counting pass:
    (fold, n_docs, n_correct, accuracy) per fold.

    Fold assignment is the salted-md5 bucket of the document id mod
    ``n_folds`` (no RNG; a doc never migrates between folds across
    runs or cluster sizes). The k leave-one-fold-out models are NOT
    trained by re-scanning the corpus k times: token counts are
    aggregated once per (fold, label, term) and once per (label,
    term), and fold f's model is the global count MINUS fold f's own
    — the subtraction happens in the bounded dense table, so the
    corpus is tokenized exactly once regardless of k. Smoothing uses
    the global union vocabulary (V constant across folds — a
    documented simplification that keeps the dense table one
    crossJoin wide).

    Each document is scored ONLY against its own held-out model (the
    tf × model join carries the fold key), so the row multiplier is
    L, not L × k. Output is integer counts plus one rounded ratio —
    the most float-stable surface a classifier eval can have.

    Cache-registry footprint (ADVICE r18): THREE simultaneously-live
    ``cache_stream`` slots (``tf_doc``, ``cnt_flt``, ``doc_stats``)
    out of the global ``_MAX_LIVE`` capacity — composing this
    operator with other cache-using operators in one query leaves
    little headroom, and an eviction before the terminal action
    re-tokenizes the corpus per consumer (now observable:
    ``cache.evicted_unmaterialized_count``).
    """
    fold = (
        token_hash32(
            F.concat(F.lit(salt + ":"), F.col(id_col).cast("string"))
        )
        % n_folds
    ).alias("fold")
    base = docs.select(
        fold,
        F.col(label_col).alias("label"),
        _terms(F.col(text_col), hash_buckets).alias("_nb_toks"),
        F.col(id_col).alias("_nb_row"),
    )
    # ONE tokenization pass, compressed to (doc, term) granularity
    # and persisted: every model-side count AND every corpus-side
    # stat below derives from this table (no cross-branch CSE in
    # Catalyst — unpersisted, each consumer would re-tokenize the
    # corpus; plan-tested). explode_outer keeps empty docs as a
    # NULL-term row with tf 0, so they survive into the doc stats.
    tf_doc = cache_stream(
        base.select(
            "_nb_row",
            "fold",
            "label",
            F.explode_outer("_nb_toks").alias("term"),
        )
        .groupBy("_nb_row", "fold", "label", "term")
        .agg(F.count("term").alias("tf"))
    )
    tf_terms = tf_doc.filter(F.col("term").isNotNull())
    # also persisted: cnt_flt feeds three consumers (cnt_lt, tok_fl,
    # the model join) and doc_stats two (doc_fl, the scoring base) —
    # uncached, each consumer re-shuffles the full cached token stream
    # into the same aggregate (no cross-branch CSE in Catalyst).
    # Both are far smaller than tf_doc: folds×labels×vocab resp. one
    # row per document.
    cnt_flt = cache_stream(
        tf_terms.groupBy("fold", "label", "term").agg(
            F.sum("tf").alias("c_own")
        )
    )
    cnt_lt = cnt_flt.groupBy("label", "term").agg(
        F.sum("c_own").alias("c_all")
    )
    tok_fl = cnt_flt.groupBy("fold", "label").agg(
        F.sum("c_own").alias("n_tok_own")
    )
    tok_l = tok_fl.groupBy("label").agg(F.sum("n_tok_own").alias("n_tok_all"))
    doc_stats = cache_stream(
        tf_doc.groupBy("_nb_row", "fold", "label").agg(
            F.sum("tf").alias("n_terms")
        )
    )
    doc_fl = doc_stats.groupBy("fold", "label").agg(
        F.count("*").alias("n_doc_own")
    )
    doc_l = doc_fl.groupBy("label").agg(F.sum("n_doc_own").alias("n_doc_all"))
    doc_f = doc_fl.groupBy("fold").agg(F.sum("n_doc_own").alias("n_doc_fold"))
    doc_t = doc_fl.agg(F.sum("n_doc_own").alias("n_doc_total"))
    vocab = cnt_lt.select("term").distinct()
    vsize = vocab.agg(F.count("*").alias("v"))

    folds = doc_fl.select("fold").distinct()
    # per-(fold, label) leave-one-out stats; labels with no docs in a
    # fold still get rows (folds × labels dense base).
    lf = (
        folds.crossJoin(
            F.broadcast(doc_l.join(tok_l, "label", "left"))
        )
        .join(doc_fl, ["fold", "label"], "left")
        .join(tok_fl, ["fold", "label"], "left")
        .join(F.broadcast(doc_f), "fold", "left")
        .crossJoin(F.broadcast(doc_t))
        .crossJoin(F.broadcast(vsize))
        .select(
            "fold",
            "label",
            (
                F.coalesce(F.col("n_tok_all"), F.lit(0))
                - F.coalesce(F.col("n_tok_own"), F.lit(0))
            ).alias("n_label"),
            (
                F.col("n_doc_all") - F.coalesce(F.col("n_doc_own"), F.lit(0))
            ).alias("n_docs"),
            (
                F.col("n_doc_total")
                - F.coalesce(F.col("n_doc_fold"), F.lit(0))
            ).alias("n_total"),
            "v",
        )
    )
    model = (
        vocab.crossJoin(F.broadcast(lf))
        .join(cnt_lt, ["label", "term"], "left")
        .join(cnt_flt, ["fold", "label", "term"], "left")
        .select(
            "fold",
            "label",
            "term",
            F.log(
                (
                    F.coalesce(F.col("c_all"), F.lit(0))
                    - F.coalesce(F.col("c_own"), F.lit(0))
                    + F.lit(alpha)
                )
                / (F.col("n_label") + F.lit(alpha) * F.col("v"))
            ).alias("logp"),
        )
    )
    priors = lf.select(
        "fold",
        "label",
        F.log(F.col("n_docs").cast("double") / F.col("n_total")).alias(
            "log_prior"
        ),
        F.log(
            F.lit(alpha) / (F.col("n_label") + F.lit(alpha) * F.col("v"))
        ).alias("logp_unseen"),
    )

    doc_tot = doc_stats.select(
        "_nb_row", "fold", F.col("label").alias("true_label"), "n_terms"
    )
    tf = tf_terms.select("_nb_row", "fold", "term", "tf")
    in_vocab = (
        tf.join(F.broadcast(model), ["fold", "term"])
        .groupBy("_nb_row", "label")
        .agg(
            F.sum(F.col("tf") * F.col("logp")).alias("s_in"),
            F.sum("tf").alias("tf_in"),
        )
    )
    scores = (
        doc_tot.join(F.broadcast(priors), "fold")
        .join(in_vocab, ["_nb_row", "label"], "left")
        .select(
            "_nb_row",
            "fold",
            "true_label",
            "label",
            F.round(
                F.col("log_prior")
                + F.coalesce(F.col("s_in"), F.lit(0.0))
                + (F.col("n_terms") - F.coalesce(F.col("tf_in"), F.lit(0)))
                * F.col("logp_unseen"),
                6,
            ).alias("score"),
        )
    )
    w = Window.partitionBy("_nb_row").orderBy(
        F.col("score").desc(), F.col("label").asc()
    )
    pred = (
        scores.select(
            "_nb_row",
            "fold",
            "true_label",
            "label",
            F.row_number().over(w).alias("_nb_rk"),
        )
        .filter(F.col("_nb_rk") == 1)
    )
    return (
        pred.groupBy("fold")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(
                (F.col("label") == F.col("true_label")).cast("bigint")
            ).alias("n_correct"),
        )
        .select(
            F.col("fold").cast("bigint").alias("fold"),
            "n_docs",
            "n_correct",
            F.round(F.col("n_correct") / F.col("n_docs"), 6).alias(
                "accuracy"
            ),
        )
    )


# -- persisted count store: O(increment) classifier refresh ------------------

#: store layout version — bumped on any byte-format change so stale
#: stores fail loud instead of silently mis-merging
NB_STORE_LAYOUT = 1

_NB_META_NAME = "_NB_STORE_META.json"

#: the consolidated partition compact_nb_store folds history into —
#: reserved (ingest refuses it as a producer batch id)
_NB_COMPACT_BATCH = "c0"


def _nb_batch_id_ok(batch_id: str) -> bool:
    import re

    return bool(re.fullmatch(r"[A-Za-z0-9_\-]+", batch_id))


def _nb_check_meta(
    store_dir: str, label_col: str, hash_buckets: int | None
) -> None:
    """Create-or-validate the store's config pin
    (``bandstore_core.pin_meta``): a store ingested under one (label
    column, term space) must refuse batches from another — hash-bucket
    or label drift would merge incompatible counts SILENTLY (the
    numbers still look plausible)."""
    from mongo2pq_spark.plans.bandstore_core import pin_meta

    pin_meta(
        store_dir,
        {
            "layout": NB_STORE_LAYOUT,
            "label_col": label_col,
            "hash_buckets": hash_buckets,
        },
        "nb count store",
        name=_NB_META_NAME,
    )


def _nb_trees(store_dir: str) -> list:
    """The store's two count trees, each rolled forward or back from an
    interrupted compaction swap, so a read never sees a missing root
    and a write never lands next to a half-swapped tree."""
    from pathlib import Path

    from mongo2pq_spark.plans.bandstore_core import recover_replace

    trees = [Path(store_dir) / "term_counts", Path(store_dir) / "doc_counts"]
    for tree in trees:
        recover_replace(tree)
    return trees


def _nb_refuse_torn(store_dir: str) -> None:
    """Refuse a store whose ingest stopped between its ``term_counts``
    and ``doc_counts`` writes: the priors of such a store load silently
    wrong. Re-running the torn batch's ingest repairs it."""
    from mongo2pq_spark.plans.bandstore_core import torn_batches

    if torn := torn_batches(_nb_trees(store_dir)):
        raise ValueError(
            f"nb count store {store_dir}: batches {torn} hold counts in "
            "only one of term_counts/doc_counts (an ingest stopped "
            "between its two writes); re-run their ingest"
        )


def nb_count_tables(
    docs: DataFrame,
    label_col: str,
    text_col: str = "text",
    hash_buckets: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """The ADDITIVE sufficient statistics of one labeled batch:
    (label, term, c) token counts and (label, n_docs) doc counts.
    Everything a multinomial NB model needs is a sum of these across
    batches — which is what makes the persisted store O(increment)."""
    counts = (
        docs.select(
            F.col(label_col).alias("label"),
            F.explode(_terms(F.col(text_col), hash_buckets)).alias("term"),
        )
        .groupBy("label", "term")
        .agg(F.count("*").alias("c"))
    )
    doc_counts = docs.groupBy(F.col(label_col).alias("label")).agg(
        F.count("*").alias("n_docs")
    )
    return counts, doc_counts


def ingest_nb_counts(
    docs: DataFrame,
    store_dir: str,
    batch_id: str,
    label_col: str,
    text_col: str = "text",
    hash_buckets: int | None = None,
    replace_globs: "tuple[str, ...] | list[str]" = (),
) -> str:
    """Fold one labeled batch into the persisted count store,
    tokenizing ONLY this batch — historical corpus text is never
    re-read (the classifier sibling of the span/band stores'
    O(increment) ingest). Each batch writes its own
    ``batch=<id>`` directory with mode=overwrite, so a retried or
    re-run ingest of the same batch REPLACES itself instead of
    double-counting — idempotence by directory key, the same
    contract as the streaming tar ingest's batch-keyed overwrite.

    After a ``compact_nb_store`` pass, a RETRIED producer run whose
    batch was already folded into ``batch=c0`` must NOT re-append it
    next to the consolidated partition (compaction is a pure regroup,
    so the duplicate counts would be baked in permanently) — absorbed
    batch ids are recorded in the swap-atomic ``_absorbed.json``
    sidecar and re-ingesting one is a no-op. The no-op is NOT silent:
    the return value says which branch ran — ``"absorbed"`` for the
    post-compaction skip, ``"ingested"`` otherwise — so callers (the
    CLI) can surface the skip instead of reporting a fold that never
    happened (the r15 ADVICE finding).

    ``replace_globs`` gives CONTENT-keyed callers name-level replace
    semantics: each entry is a ``batch=...`` dir-name glob (relative
    to either tree root) whose live matches — other than this batch's
    own dir — are deleted before the write. A caller that keys
    batches by content (so an edited re-teach gets a NEW id and is
    never mistaken for an absorbed retry) passes the glob covering
    its older generations, which would otherwise double-count next to
    the new one. Absorbed generations are gone as directories (their
    counts live inside ``c0``) so the globs cannot un-absorb history;
    that boundary is the caller's to surface."""
    import shutil

    from mongo2pq_spark.plans.bandstore_core import absorbed_tokens

    if not _nb_batch_id_ok(batch_id):
        raise ValueError(f"bad nb store batch id: {batch_id!r}")
    if batch_id == _NB_COMPACT_BATCH:
        raise ValueError(
            f"nb store batch id {batch_id!r} is reserved for "
            "compact_nb_store's consolidated partition"
        )
    _nb_check_meta(store_dir, label_col, hash_buckets)
    # roll forward/back any interrupted compaction BEFORE writing next
    # to it (the inverted-index store's rule)
    trees = _nb_trees(store_dir)
    if any(batch_id in absorbed_tokens(t) for t in trees):
        # the union guards the crash window between the two tree
        # swaps: if EITHER tree absorbed this batch, re-writing it
        # into either would double-count after the next compaction
        return "absorbed"
    counts, doc_counts = nb_count_tables(
        docs, label_col, text_col=text_col, hash_buckets=hash_buckets
    )
    for tree in trees:
        if not tree.is_dir():
            continue
        for pat in replace_globs:
            for old in tree.glob(pat):
                if old.is_dir() and old.name != f"batch={batch_id}":
                    shutil.rmtree(old)
    counts.write.mode("overwrite").parquet(
        f"{store_dir}/term_counts/batch={batch_id}"
    )
    doc_counts.write.mode("overwrite").parquet(
        f"{store_dir}/doc_counts/batch={batch_id}"
    )
    return "ingested"


def load_nb_model(
    spark,
    store_dir: str,
    label_col: str,
    alpha: float = DEFAULT_ALPHA,
    hash_buckets: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Rebuild the dense model + priors from every ingested batch:
    two groupBy-sums over the (tiny) count tables — the corpus itself
    is untouched. Value-identical to nb_train on the union of all
    ingested batches BY CONSTRUCTION (NB statistics are additive; the
    oracle-backed classifier_nb_incremental query proves it
    value-exact). Config is validated against the store's meta pin;
    a torn store (a batch in only one of the two trees) raises
    ``ValueError``."""
    _nb_check_meta(store_dir, label_col, hash_buckets)
    _nb_refuse_torn(store_dir)
    # deliberately NOT routed through cache_stream: store directories
    # MUTATE between loads (a re-taught batch overwrites its own part
    # files), and the plan-keyed cache would serve the previous
    # generation — or chase deleted files (FileReadException, hit by
    # the CLI retry test). The count tables are tiny; the dense-model
    # fanout re-reading them a handful of times is cheaper than any
    # invalidation protocol.
    counts = (
        spark.read.parquet(f"{store_dir}/term_counts")
        .groupBy("label", "term")
        .agg(F.sum("c").alias("c"))
    )
    doc_counts = (
        spark.read.parquet(f"{store_dir}/doc_counts")
        .groupBy("label")
        .agg(F.sum("n_docs").alias("n_docs"))
    )
    return _model_from_counts(counts, doc_counts, alpha)


def compact_nb_store(spark, store_dir: str) -> None:
    """Fold every ``batch=`` partition of the count store into a
    single ``batch=c0`` — bounding years of arrival waves back to one
    count row per (label, term) / per label (VERDICT r14 stretch #9:
    the store otherwise accretes one directory per wave forever).

    NB sufficient statistics are ADDITIVE integers, so compaction is
    an exact sum-regroup: the rebuilt model is value-identical to the
    uncompacted store's by construction (pinned by the equality test
    in tests/test_operators.py). Each tree folds through
    ``bandstore_core.fold_tree`` (crash-safe swap, absorbed-token
    record); a crash BETWEEN the two tree swaps is harmless because
    each tree's sums are independently preserved. Ingest after
    compaction keeps its O(increment) shape: new batches land NEXT to
    ``c0``. A torn store raises ``ValueError`` before anything is
    folded (see ``_nb_refuse_torn``)."""
    from mongo2pq_spark.plans.bandstore_core import fold_tree

    _nb_refuse_torn(store_dir)
    for tree, keys, agg in (
        ("term_counts", ["label", "term"], F.sum("c").alias("c")),
        ("doc_counts", ["label"], F.sum("n_docs").alias("n_docs")),
    ):
        fold_tree(
            f"{store_dir}/{tree}",
            lambda sources, c0: spark.read.parquet(*sources)
            .groupBy(*keys)
            .agg(agg)
            .write.mode("overwrite")
            .parquet(c0),
        )


def nb_store_meta(store_dir: str) -> dict | None:
    """The store's config pin, or None if the store has never been
    ingested into — callers (the CLI's score-only path) use it to
    adopt the store's own label column and term space instead of
    guessing."""
    from mongo2pq_spark.plans.bandstore_core import read_pin

    return read_pin(store_dir, _NB_META_NAME)
