"""Deduplication operators for large-scale document pipelines.

All hashes are MD5-derived (functions/hashing.py) so every operator is
oracle-checkable value-for-value against DuckDB — and deterministic
across engines, runs, and cluster sizes.

Scale design (100 TB):
- exact dedup: single hash-shuffle on the text digest; map-side partial
  aggregation keeps the shuffle at one digest row per distinct text per
  task.
- MinHash: signatures are computed in ONE aggregation pass (k min()
  aggregates over the exploded shingle-hash stream — no k-pass loop),
  then LSH banding turns the quadratic candidate search into an
  equi-join on (band, band_hash): only same-bucket docs ever meet.
  Skewed buckets (boilerplate shingles) are handled by AQE skew-join.
- n-gram Jaccard: the shingle equi-join is the scalable candidate
  generator; hot shingles (appearing in > ~1% of docs) carry no
  near-dup signal and can be dropped before the join (`max_shingle_df`).
- SimHash: one aggregation pass computes all bit-position votes; the
  fingerprint is a plain BIGINT usable for banded Hamming search.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mongo2pq_spark.functions.hashing import (
    hash64,
    minhash_perms,
    spark_token_hash32,
    sql_minhash,
    token_hash32,
)
from mongo2pq_spark.functions.textfns import (
    spark_ident as _q,
    spark_word_shingles,
    tokens,
    word_shingles,
)

DEFAULT_K = 32          # minhash permutations
DEFAULT_BANDS = 8       # LSH bands (rows per band = K / BANDS = 4)
SIMHASH_BITS = 60       # md5-prefix hash width (fits signed int64)

# Bounded, memoized cache for multi-consumer streams (measured 2×
# end-to-end on ngram Jaccard without it) — shared with the similarity
# operators; see operators/cache.py for the full contract.
from mongo2pq_spark.operators.cache import (  # noqa: E402
    cache_stream as _cache_stream,
    release_caches,
)


def exact_dedup_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """One row per distinct text: digest, kept (min) id, copy count."""
    return (
        df.groupBy(F.md5(F.col(text_col).cast("binary")).alias("text_md5"))
        .agg(
            F.min(id_col).alias("keeper_doc_id"),
            F.count("*").alias("n_copies"),
        )
    )


def drop_exact_duplicates(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep exactly ONE row per distinct text: the min-``id_col`` row
    (ties on id broken by a whole-row digest, so the survivor is
    deterministic even with non-unique ids).

    One aggregate per text digest picks the survivor:
    ``min_by(<row struct>, struct(<id>, <row digest>))``. It runs over
    one hash shuffle on the digest and combines map-side, so a
    boilerplate text duplicated millions of times shrinks to one row
    per task before the shuffle instead of routing every copy into one
    straggler task (the skew trap of the row_number-over-digest
    formulation). Fully identical copies of the winning row collapse in
    the same aggregate. The plan is SQL text: a handful of py4j calls
    however wide the row.

    NULL-text rows pass through UNTOUCHED: a missing text is not a
    duplicate of anything (callers that want null texts gone should
    filter explicitly, not lose them to a dedup)."""
    row = "struct(" + ", ".join(_q(c) for c in df.columns) + ")"
    text = _q(text_col)
    key = f"struct({_q(id_col)}, md5(CAST(to_json({row}) AS BINARY)))"
    return (
        df.where(f"{text} IS NOT NULL")
        .groupBy(F.expr(f"md5(CAST({text} AS BINARY))"))
        .agg(F.expr(f"min_by({row}, {key}) AS __row"))
        .selectExpr("__row.*")
        .unionByName(df.where(f"{text} IS NULL"))
    )


def _doc_shingle_hashes(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(id, h): distinct 32-bit shingle hashes per document.

    The shingles come from one regex scan of the whitespace-collapsed
    text (``textfns.spark_word_shingles``), the same arrays as
    ``word_shingles(tokens(text), n)`` without their interpreted
    lambdas; each distinct shingle hashes to its md5 prefix
    (``token_hash32``). Built as SQL text, so the whole stream is
    generated code and costs a few py4j calls to plan."""
    shingles = spark_word_shingles(_q(text_col), n)
    return df.selectExpr(
        _q(id_col), f"explode(array_distinct({shingles})) AS shingle"
    ).selectExpr(_q(id_col), f"{spark_token_hash32('shingle')} AS h")


def _signatures(
    hashes: DataFrame, id_col: str, k: int, seed: int, extra: str = ""
) -> DataFrame:
    """(id, mh0..mh{k-1}[, extra]) from a ``_doc_shingle_hashes``
    stream: k ``min`` aggregates in one struct, so the aggregation is
    one SQL expression (and one py4j call), not k Column trees."""
    mins = ", ".join(
        f"min({sql_minhash('h', a, b)}) AS mh{i}"
        for i, (a, b) in enumerate(minhash_perms(k, seed))
    )
    return (
        hashes.groupBy(id_col)
        .agg(F.expr(f"struct({mins}{extra}) AS __sig"))
        .selectExpr(_q(id_col), "__sig.*")
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = DEFAULT_K,
    shingle_n: int = 3,
    seed: int = 42,
) -> DataFrame:
    """doc → k-wide MinHash signature, computed in a single groupBy
    pass (columns mh0..mh{k-1})."""
    return _signatures(
        _doc_shingle_hashes(df, id_col, text_col, shingle_n), id_col, k, seed
    )


def _bands(k: int, bands: int) -> str:
    """The LSH band rows of a signature as one ``inline`` generator:
    (band_id, band_hash) per band, band_hash = md5 of the band's
    comma-joined MinHash values."""
    rows = k // bands
    structs = ", ".join(
        f"named_struct('band_id', {b}, 'band_hash', md5(CAST(concat_ws(',', "
        + ", ".join(f"mh{b * rows + r}" for r in range(rows))
        + ") AS BINARY)))"
        for b in range(bands)
    )
    return f"inline(array({structs}))"


def minhash_agreement(left: str, right: str, k: int) -> str:
    """SQL count of the MinHash components two signatures share;
    ``left``/``right`` prefix the ``mh<i>`` column names."""
    return " + ".join(
        f"CASE WHEN {left}mh{i} = {right}mh{i} THEN 1 ELSE 0 END"
        for i in range(k)
    )


def minhash_band_table(
    sig: DataFrame, id_col: str = "doc_id", k: int = DEFAULT_K,
    bands: int = DEFAULT_BANDS,
) -> DataFrame:
    """(id, band_id, band_hash) LSH band table from a signature table —
    the PERSISTABLE index form: at scale the corpus band table is
    written once and every future increment probes it by equi-join
    without re-shingling history (see incremental_near_dup_candidates)."""
    return sig.selectExpr(_q(id_col), _bands(k, bands))


def band_candidate_pairs(
    banded: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Distinct candidate pairs (doc_a < doc_b) from an EXISTING band
    table (``minhash_band_table`` output — the persistable index
    form): docs agreeing on all rows of ≥1 band meet in an equi-join
    on (band_id, band_hash) — linear-ish in corpus size. Public so
    pipelines holding a persisted/cached band table pair it without
    re-shingling the text (see pipeline_generation_resplit)."""
    return _band_pairs(banded, id_col).distinct()


def _band_pairs(banded: DataFrame, id_col: str, *cols: str) -> DataFrame:
    """(doc_a, doc_b, *cols) per band two docs share, doc_a < doc_b:
    the band table's self equi-join on (band_id, band_hash); ``cols``
    are SQL over the ``a``/``b`` sides."""
    idq = _q(id_col)
    return (
        banded.alias("a")
        .join(
            banded.alias("b"),
            F.expr(
                "a.band_id = b.band_id AND a.band_hash = b.band_hash"
                f" AND a.{idq} < b.{idq}"
            ),
        )
        .selectExpr(f"a.{idq} AS doc_a", f"b.{idq} AS doc_b", *cols)
    )


def _minhash_band_candidates(
    sig: DataFrame, id_col: str, k: int, bands: int
) -> DataFrame:
    """Candidate pairs from a signature table; see
    ``band_candidate_pairs`` for the band-table form."""
    return band_candidate_pairs(
        minhash_band_table(sig, id_col, k, bands), id_col
    )


def minhash_candidate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = DEFAULT_K,
    bands: int = DEFAULT_BANDS,
    shingle_n: int = 3,
    seed: int = 42,
) -> DataFrame:
    """LSH banding candidate pairs; see _minhash_band_candidates."""
    if k % bands:
        raise ValueError("k must be divisible by bands")
    sig = minhash_signatures(df, id_col, text_col, k, shingle_n, seed)
    return _minhash_band_candidates(sig, id_col, k, bands)


def minhash_jaccard_estimates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = DEFAULT_K,
    bands: int = DEFAULT_BANDS,
    shingle_n: int = 3,
    seed: int = 42,
) -> DataFrame:
    """Sketch-only similarity for LSH candidate pairs: Jaccard
    estimated as the fraction of agreeing MinHash components
    (E[agreement] = true Jaccard; σ ≈ 1/√k).

    This is the 100 TB verification path that never re-reads text:
    the k-int signature table is orders of magnitude smaller than the
    corpus, candidates come from the band equi-join, and the estimate
    is k integer comparisons per pair. Exact Jaccard
    (ngram_jaccard_pairs) re-joins the full shingle stream instead.

    Plan shape: the full k-wide signature rides along WITH the band
    rows into the self-join, so the agreement count falls out of the
    single band equi-join — no separate sig re-joins, no persist. Both
    join sides are the identical plan, so Spark's ReuseExchange runs
    the signature aggregation + band shuffle ONCE; the query leaves no
    cached RDDs behind (asserted in tests/test_operators.py).
    """
    if k % bands:
        raise ValueError("k must be divisible by bands")
    sig = minhash_signatures(df, id_col, text_col, k, shingle_n, seed)
    return (
        _band_pairs(
            sig.selectExpr("*", _bands(k, bands)), id_col,
            f"{minhash_agreement('a.', 'b.', k)} AS agree",
        )
        # a pair colliding in several bands appears once per band with
        # the same agreement count — collapse, then scale to [0, 1]
        .groupBy("doc_a", "doc_b")
        .agg(F.round(F.max("agree") / F.lit(float(k)), 6).alias("jaccard_est"))
    )


def minhash_containment_estimates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = DEFAULT_K,
    bands: int = DEFAULT_BANDS,
    shingle_n: int = 3,
    seed: int = 42,
) -> DataFrame:
    """Directed containment estimates for LSH candidate pairs.

    Containment C(A→B) = |A∩B| / |A| is the right measure when one
    document may be EMBEDDED in another (quote inclusion, boilerplate
    wrapping, partial scrapes) — symmetric Jaccard under-scores those.
    The sketch gives Ĵ; exact set sizes come free in the SAME signature
    aggregation (one extra count column), and
    |A∩B| ≈ Ĵ/(1+Ĵ)·(|A|+|B|) turns them into both directed
    containments. Everything after the signature pass is arithmetic on
    (k+1)-column rows — text is never re-read (the 100 TB verify
    path), and all inputs are MD5-deterministic, so the DuckDB oracle
    matches value-for-value.

    Candidate-generation caveat: pairs surface through JACCARD banding
    (P(candidate) ≈ 1−(1−Ĵ^rows)^bands), so a tiny document embedded in
    a huge one (containment ≈ 1 but J ≈ |A|/|B| ≈ 0) will NOT band-
    collide — this estimator scores asymmetry among near-dup
    candidates; discovering extreme-ratio embeddings needs the shingle
    equi-join path (`ngram_jaccard_pairs` candidates score containment
    exactly from the same inter/size columns).
    """
    if k % bands:
        raise ValueError("k must be divisible by bands")
    hashes = _doc_shingle_hashes(df, id_col, text_col, shingle_n)
    # signature + exact set size in ONE aggregation; cached because the
    # banded self-join reads it twice
    sig = _cache_stream(_signatures(hashes, id_col, k, seed, ", count(*) AS sz"))
    paired = (
        _band_pairs(
            sig.selectExpr("*", _bands(k, bands)), id_col,
            f"{minhash_agreement('a.', 'b.', k)} AS agree",
            "a.sz AS sz_a",
            "b.sz AS sz_b",
        )
        .groupBy("doc_a", "doc_b")
        .agg(
            F.max("agree").alias("agree"),
            F.max("sz_a").alias("sz_a"),
            F.max("sz_b").alias("sz_b"),
        )
    )
    jr = F.col("agree") / F.lit(float(k))
    return paired.select(
        "doc_a",
        "doc_b",
        F.round(jr, 6).alias("jaccard_est"),
        F.round(
            jr / (F.lit(1.0) + jr) * (F.col("sz_a") + F.col("sz_b")) / F.col("sz_a"),
            6,
        ).alias("containment_a"),
        F.round(
            jr / (F.lit(1.0) + jr) * (F.col("sz_a") + F.col("sz_b")) / F.col("sz_b"),
            6,
        ).alias("containment_b"),
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Exact Jaccard near-dup pairs over n-word-shingle sets.

    Candidate pairs come from the shingle equi-join (only docs sharing
    ≥1 shingle meet); intersection sizes fall out of the join group-by;
    union = |A| + |B| − inter. ``max_shingle_df`` drops shingles that
    occur in more than that many docs before the join (hot-key guard
    for web-scale corpora; boilerplate carries no near-dup signal).

    Plan shape (each choice measured at sf0.1, best-of-3 noop sink):
    - The guard is a **broadcast anti-join against the HOT set**, not a
      shuffle semi-join against the rare set: shingles with
      df > max(50, 1%·N) number at most
      total_occurrences / (0.01·N) ≈ 100 × shingles-per-doc —
      a corpus-size-independent constant — so the hot set always
      broadcasts and the full hash stream never shuffles for the
      guard.
    - The guarded stream is persisted UNSHUFFLED via the module's
      bounded `_cache_stream` contract: it feeds three consumers (the
      sizes aggregation and both self-join sides), Catalyst has no
      cross-branch CSE, and exchange reuse does not fire across the
      alias-renamed join sides — without the persist the
      tokenize→shingle→md5 pipeline runs once per consumer (measured
      2× end-to-end).
    - Per-doc sizes come from a ``groupBy(id).count()`` over the cached
      stream — map-side partial aggregation shrinks the shuffle to one
      row per doc, where a window-over-doc formulation would shuffle
      the FULL stream a second time (measured +1s at sf0.1). Sizes are
      joined back onto the (small) pair table, and AQE picks broadcast
      vs shuffle by the pair count at runtime. Sizes come from the SAME
      (post-guard) stream as the join, so Jaccard is consistently "over
      retained shingles" — an unfiltered denominator under a filtered
      intersection would deflate every score.
    """
    hashes = _doc_shingle_hashes(df, id_col, text_col, shingle_n)
    if max_shingle_df is not None:
        hot = (
            hashes.groupBy("h")
            .agg(F.count("*").alias("df_count"))
            .filter(F.col("df_count") > max_shingle_df)
            .select("h")
        )
        hashes = hashes.join(F.broadcast(hot), "h", "left_anti")
    hashes = _cache_stream(hashes)
    sizes = hashes.groupBy(id_col).agg(F.count("*").alias("sz"))
    a = hashes.alias("a")
    b = hashes.alias("b")
    return (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b")
        )
        .agg(F.count("*").alias("inter"))
        .join(
            sizes.select(F.col(id_col).alias("doc_a"), F.col("sz").alias("sz_a")),
            "doc_a",
        )
        .join(
            sizes.select(F.col(id_col).alias("doc_b"), F.col("sz").alias("sz_b")),
            "doc_b",
        )
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")), 6
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def near_dup_clusters(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iterations: int = 20,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Connected components over near-dup pairs: every doc appearing in
    a pair gets a ``cluster_id`` = the min doc id reachable through the
    pair graph — the final step of near-dedup (cluster → keep one).

    Iterative min-label propagation WITH pointer doubling: each round
    every node adopts the smallest label among itself, its neighbors'
    labels, and its label's label (one pointer jump). The jump halves
    the remaining distance to the component minimum each round, so
    convergence is O(log diameter) instead of O(diameter) — a
    10 000-node boilerplate chain converges in ~15 rounds, not 10 000.
    The hard cap stays as a backstop, with a warning if it is hit
    before convergence (silently split clusters would corrupt the
    dedup).
    Each round is one join + one aggregation on the EDGE set plus one
    self-join on the label table — both orders of magnitude smaller
    than the corpus.

    ``checkpoint_dir``: when given, per-round lineage truncation uses a
    RELIABLE checkpoint in that directory (HDFS/object-store path on a
    real cluster) — ``localCheckpoint`` stores blocks on executors
    only, so an executor loss mid-loop kills the job at cluster scale.
    Default stays local (fastest for single-node/test runs).

    Cache hygiene: each round's localCheckpoint supersedes the previous
    round's blocks, which would otherwise sit in executor storage until
    driver GC triggers the ContextCleaner. Superseded checkpoint RDDs
    (and the edge set, once the loop ends) are unpersisted eagerly, so
    the only blocks a finished call leaves behind are the ones backing
    the RETURNED labels table (its lineage is truncated, so they must
    outlive the caller's terminal action). Best-effort under concurrent
    checkpointing in the same session.
    """
    sc = pairs.sparkSession.sparkContext

    def _persistent_ids() -> set[int]:
        ids = set()
        it = sc._jsc.sc().getPersistentRDDs().iterator()  # noqa: SLF001
        while it.hasNext():
            ids.add(it.next()._1())
        return ids

    def _unpersist_ids(ids: set[int]) -> None:
        stale = []
        it = sc._jsc.sc().getPersistentRDDs().iterator()  # noqa: SLF001
        while it.hasNext():
            t = it.next()
            if t._1() in ids:
                stale.append(t._2())
        for rdd in stale:
            rdd.unpersist(False)

    if checkpoint_dir is not None:
        sc.setCheckpointDir(checkpoint_dir)

    def _truncate_lineage(df: DataFrame) -> tuple[DataFrame, set[int]]:
        before = _persistent_ids()
        if checkpoint_dir is not None:
            cp = df.checkpoint(eager=True)
        else:
            cp = df.localCheckpoint(eager=True)
        return cp, _persistent_ids() - before

    # materialize the edge set ONCE: `pairs` is typically an expensive
    # lazy pipeline (shingle join), and every loop iteration would
    # otherwise recompute it from scratch (measured 15s → ~1s at sf0.1)
    edges_directed, edge_block_ids = _truncate_lineage(
        pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .unionByName(
            pairs.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst"))
        )
        .distinct()
    )
    labels = (
        edges_directed.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )
    label_block_ids: set[int] = set()
    for _ in range(max_iterations):
        neighbor_labels = (
            edges_directed.join(
                labels.select(
                    F.col("node").alias("dst"), F.col("label").alias("n_label")
                ),
                "dst",
            )
            .groupBy("src")
            .agg(F.min("n_label").alias("min_neighbor"))
        )
        updated = (
            labels.join(
                neighbor_labels.select(
                    F.col("src").alias("node"), "min_neighbor"
                ),
                "node",
                "left",
            )
            .select(
                "node",
                # prior label rides along so convergence is detectable
                # from the checkpointed round alone (below) — labels
                # only ever DECREASE, so new != old ⟺ something moved
                F.col("label").alias("prev_label"),
                F.least(
                    F.col("label"), F.coalesce(F.col("min_neighbor"), F.col("label"))
                ).alias("label"),
            )
        )
        # pointer doubling: follow the label one more hop (labels are
        # always node ids, so label[label] is defined); halves the
        # distance to the component minimum every round
        grand = updated.select(
            F.col("node").alias("label"), F.col("label").alias("grand_label")
        )
        updated = updated.join(grand, "label", "left").select(
            "node",
            "prev_label",
            F.least(
                F.col("label"), F.coalesce(F.col("grand_label"), F.col("label"))
            ).alias("label"),
        )
        # checkpoint per round: truncates the exponentially-growing
        # iterative lineage (standard practice for Spark loop algorithms)
        updated, new_block_ids = _truncate_lineage(updated)
        # convergence check on the checkpointed blocks themselves: a
        # filter + limit(1) short-circuit scan — the former shuffle
        # join against the previous round's labels was a full extra
        # job PER ROUND (guide §2.4: remove shuffles outright; at
        # cluster scale the join shuffled the whole label table once
        # per round just to answer a boolean)
        changed = (
            updated.filter(F.col("label") != F.col("prev_label"))
            .limit(1)
            .count()
        )
        # the previous round's checkpoint blocks are superseded the
        # moment `updated` is materialized and compared — release them
        _unpersist_ids(label_block_ids)
        label_block_ids = new_block_ids
        labels = updated.select("node", "label")
        if changed == 0:
            break
    else:
        if changed != 0:
            import warnings

            warnings.warn(
                f"near_dup_clusters hit the {max_iterations}-iteration cap "
                "before converging: some components have a diameter larger "
                "than the cap and their labels are still split. Raise "
                "max_iterations (propagation is O(diameter)).",
                RuntimeWarning,
                stacklevel=2,
            )
    # the loop is over: only the final labels checkpoint must survive
    _unpersist_ids(edge_block_ids)
    return labels.select(F.col("node").alias("doc_id"), F.col("label").alias("cluster_id"))


def simhash_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = SIMHASH_BITS,
) -> DataFrame:
    """SimHash fingerprint per doc (one aggregation pass: per-bit votes
    over distinct token hashes, then bit assembly)."""
    toks = (
        df.select(
            F.col(id_col),
            F.explode(F.array_distinct(tokens(F.col(text_col)))).alias("tok"),
        )
        .select(F.col(id_col), hash64(F.col("tok")).alias("h"))
    )
    vote_aggs = [
        F.sum(
            F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"v{i}")
        for i in range(bits)
    ]
    votes = toks.groupBy(id_col).agg(*vote_aggs)
    fingerprint = None
    for i in range(bits):
        bit = F.when(F.col(f"v{i}") > 0, F.lit(1).cast("bigint") * (1 << i)).otherwise(
            F.lit(0).cast("bigint")
        )
        fingerprint = bit if fingerprint is None else fingerprint + bit
    return votes.select(F.col(id_col), fingerprint.alias("simhash"))


def hamming_near_pairs(
    fp: DataFrame,
    hash_col: str,
    id_col: str = "doc_id",
    max_hamming: int = 3,
    bits: int = SIMHASH_BITS,
    max_band_bucket: int = 100_000,
) -> DataFrame:
    """Pairs of rows with Hamming(``hash_col``) ≤ max_hamming, for ANY
    ≤63-bit fingerprint column (simhash, image dhash, ...). Returns
    ``(doc_a, doc_b, hamming)``.

    Candidates come from (max_hamming+1)-way band blocking (a pair
    within Hamming h must agree exactly on ≥1 of h+1 disjoint bands —
    pigeonhole), so the join is an equi-join on (band_id, band_value),
    not a cross join.

    ``max_band_bucket``: at billions of docs a 15-bit band (32 768
    values) collides heavily — band buckets larger than the cap are
    dropped before the self-join, bounding it at bands·n·cap candidate
    rows (a pair losing a bucket can still meet in any other band it
    agrees on; only pairs ALL of whose agreeing bands are degenerate
    are lost). The cap never triggers at test scale, so the blocking
    stays provably lossless there (asserted vs brute force in tests).
    """
    banded = _hamming_band_table(
        fp, hash_col, id_col, max_hamming, bits, max_band_bucket
    )
    a, b = banded.alias("a"), banded.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_value") == F.col("b.band_value"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
            F.col(f"a.{hash_col}").alias("sh_a"),
            F.col(f"b.{hash_col}").alias("sh_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        candidates.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def _hamming_band_table(
    fp: DataFrame,
    hash_col: str,
    id_col: str,
    max_hamming: int,
    bits: int,
    max_band_bucket: int,
) -> DataFrame:
    """(id, hash, band_id, band_value) rows: the (max_hamming+1)-way
    disjoint band split of each fingerprint, with oversized band
    buckets dropped (the shared candidate generator behind the pair
    and incremental Hamming paths)."""
    from pyspark.sql import Window

    n_bands = max_hamming + 1
    band_width = bits // n_bands
    mask = (1 << band_width) - 1
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                F.shiftright(F.col(hash_col), b * band_width)
                .bitwiseAND(F.lit(mask))
                .alias("band_value"),
            )
            for b in range(n_bands)
        ]
    )
    banded = fp.select(
        F.col(id_col), F.col(hash_col), F.explode(bands).alias("band")
    ).select(id_col, hash_col, "band.band_id", "band.band_value")
    w = Window.partitionBy("band_id", "band_value")
    return (
        banded.withColumn("bucket_n", F.count("*").over(w))
        .filter(F.col("bucket_n") <= max_band_bucket)
        .drop("bucket_n")
    )


def hamming_incremental_new(
    new_fp: DataFrame,
    index_fp: DataFrame,
    hash_col: str = "dhash",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    bits: int = SIMHASH_BITS,
    max_band_bucket: int = 100_000,
) -> DataFrame:
    """Incremental Hamming dedup — the new-batch-vs-corpus ingestion
    pattern for FINGERPRINTED content (image dhash, text simhash):
    flag each new-batch row by whether its fingerprint lies within
    ``max_hamming`` of ANY corpus-index fingerprint. Returns the new
    batch's ``(id, hash, is_new)``.

    Scale shape (the `dedup_incremental_near_dups` economics applied
    to Hamming space): the corpus appears ONLY through its banded
    fingerprint index — one int64 per document, never content — and
    the probe is an equi-join of the increment's bands against the
    index's bands (pigeonhole-complete for ≤ max_hamming, same
    ``max_band_bucket`` degenerate-bucket guard), verified by exact
    popcount. Cost O(increment · bands + collisions); history is never
    re-scanned."""
    inc = _hamming_band_table(
        new_fp, hash_col, id_col, max_hamming, bits, max_band_bucket
    ).select(
        F.col(id_col), F.col(hash_col), "band_id", "band_value"
    )
    idx = _hamming_band_table(
        index_fp, hash_col, id_col, max_hamming, bits, max_band_bucket
    ).select(
        F.col(hash_col).alias("idx_hash"), "band_id", "band_value"
    )
    matched = (
        inc.join(idx, ["band_id", "band_value"])
        .filter(
            F.bit_count(F.col(hash_col).bitwiseXOR(F.col("idx_hash")))
            <= max_hamming
        )
        .select(id_col)
        .distinct()
        .withColumn("__hit", F.lit(True))
    )
    return (
        new_fp.select(F.col(id_col), F.col(hash_col))
        .join(matched, id_col, "left")
        .select(
            F.col(id_col),
            F.col(hash_col),
            F.coalesce(~F.col("__hit"), F.lit(True)).alias("is_new"),
        )
    )


def simhash_near_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    bits: int = SIMHASH_BITS,
    max_band_bucket: int = 100_000,
) -> DataFrame:
    """Pairs with Hamming(simhash) ≤ max_hamming — simhash
    fingerprints fed through the generic banded ``hamming_near_pairs``
    (one audited blocking implementation backs text simhash and image
    dhash alike)."""
    fp = simhash_fingerprints(df, id_col, text_col, bits)
    return hamming_near_pairs(
        fp, "simhash", id_col, max_hamming, bits, max_band_bucket
    )


def normalized_token_fingerprint(text_col: Column) -> Column:
    """Content fingerprint invariant to token order and repetition:
    md5 of the sorted distinct-token bag. Catches re-crawled /
    shuffled / re-serialized copies of a document that raw-text
    hashing misses, while staying a pure column expression (codegen,
    no UDF). Both engines sort with binary collation, so the digest is
    bit-identical to the DuckDB oracle's."""
    return F.md5(
        F.array_join(
            F.array_sort(F.array_distinct(F.split(text_col, " "))), " "
        )
    )


def incremental_new_docs(
    new_docs: DataFrame, existing: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Incremental corpus dedup — the daily-increment ingestion
    pattern: keep only new-batch documents whose normalized content
    fingerprint does NOT already exist in the corpus.

    Scale shape (100 TB): the fingerprint is a map-side projection on
    both sides; the existing corpus reduces to DISTINCT hashes (one
    partial-aggregated shuffle of ~16-byte digests, NOT documents)
    before the LEFT ANTI equi-join; AQE broadcasts the hash set while
    it fits and falls back to a shuffled anti join when it doesn't.
    No window, no all-pairs comparison anywhere."""
    fp = normalized_token_fingerprint(F.col(text_col))
    existing_hashes = existing.select(fp.alias("h")).distinct()
    return new_docs.withColumn("h", fp).join(existing_hashes, "h", "left_anti")


def incremental_near_dup_candidates(
    new_df: DataFrame,
    index: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = DEFAULT_K,
    bands: int = DEFAULT_BANDS,
    shingle_n: int = 3,
    seed: int = 42,
    new_bands: DataFrame | None = None,
) -> DataFrame:
    """(new_id, existing_id) NEAR-dup candidates of an incoming batch
    against a PERSISTED corpus band index (``minhash_band_table``
    output) — the incremental ingestion path beyond exact digests
    (``incremental_new_docs``): re-crawls with small edits still
    collide on ≥1 MinHash band.

    Scale shape: only the NEW batch is shingled (cost ∝ increment, not
    corpus); the probe is an equi-join on (band_id, band_hash) against
    the index — AQE broadcasts the batch's band table while it fits,
    shuffles when it doesn't. History is never re-read: the index is
    the corpus's only trace. Same-seed signatures keep candidates
    identical to a full-corpus banding restricted to new×existing.

    ``new_bands``: optionally pass the batch's band table directly
    (``minhash_band_table`` output over the SAME parameters) when the
    caller already built it for another consumer (e.g. the
    within-batch ``band_candidate_pairs``) — the batch is then
    shingled once, not per consumer."""
    if new_bands is None:
        new_bands = minhash_band_table(
            minhash_signatures(
                new_df, id_col, text_col, k, shingle_n, seed
            ),
            id_col, k, bands,
        )
    new_bands = new_bands.select(
        F.col(id_col).alias("new_id"), "band_id", "band_hash"
    )
    probe = index.select(
        F.col(id_col).alias("existing_id"), "band_id", "band_hash"
    )
    return (
        new_bands.join(probe, ["band_id", "band_hash"])
        .select("new_id", "existing_id")
        .distinct()
    )


def levenshtein_blocked_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str = "lang",
    len_col: str = "n_chars",
    prefix_len: int = 32,
    max_distance: int = 4,
    band_width: int = 10,
    max_band_size: int | None = None,
) -> DataFrame:
    """Edit-distance near-dup pairs with LENGTH-BAND blocking: two
    documents are candidates iff they share ``group_col`` and their
    ``len_col`` falls in the same or an adjacent ``band_width``-wide
    band; candidates are emitted when the Levenshtein distance of
    their ``prefix_len``-char prefixes is ≤ ``max_distance``.

    The edit-distance modality the shingle/MinHash/SimHash family
    misses: character-level typo variants ("teh fast key order…")
    share few word shingles but sit one edit apart. Levenshtein is
    O(prefix_len²) per PAIR, so it can never run all-pairs — blocking
    bounds candidates at Σ band_size² per group, and an explicit cap
    (``max_band_size``, default max(200, 5 % of corpus)) drops
    pathological bands outright (the analog of the hot-shingle guard:
    a band holding half the corpus is boilerplate-length, not dedup
    signal). Recall < 1 by blocking construction — a pair differing
    by more than one band in length, or edited beyond the prefix, is
    missed — the same documented trade every candidate generator in
    this module makes.

    Plan shape: one tiny (group, band) count aggregate → broadcast
    anti-join guard → band equi-join (never cartesian) → codegen'd
    ``levenshtein`` on the surviving candidates only. Deterministic,
    so a SQL oracle running the identical pipeline matches
    value-for-value.
    """
    d = df.select(
        F.col(id_col),
        F.col(group_col).alias("grp"),
        F.substring(F.col(text_col), 1, prefix_len).alias("pfx"),
        F.floor(F.col(len_col) / float(band_width)).cast("long").alias("band"),
    )
    # `d` feeds the default-cap count, the oversized-band count, the
    # anti-join probe, and (via `keep`) BOTH join sides — cache FIRST
    # so every action (including the default-cap count below) runs on
    # the cached narrow projection and the corpus scans once, not
    # five times (the 100 TB cost is the scan, not the projection)
    d = _cache_stream(d)
    if max_band_size is None:
        max_band_size = max(200, int(d.count() * 0.05))
    oversized = (
        d.groupBy("grp", "band")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") > max_band_size)
        .select("grp", "band")
    )
    keep = d.join(F.broadcast(oversized), ["grp", "band"], "left_anti")
    expanded = keep.unionByName(
        keep.withColumn("band", F.col("band") + F.lit(1))
    )
    a, b = keep.alias("a"), expanded.alias("b")
    swap = F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    cand = (
        a.join(
            b,
            (F.col("a.grp") == F.col("b.grp"))
            & (F.col("a.band") == F.col("b.band"))
            & (F.col(f"a.{id_col}") != F.col(f"b.{id_col}")),
        )
        .select(
            F.least(F.col(f"a.{id_col}"), F.col(f"b.{id_col}")).alias("doc_a"),
            F.greatest(F.col(f"a.{id_col}"), F.col(f"b.{id_col}")).alias("doc_b"),
            F.when(swap, F.col("a.pfx")).otherwise(F.col("b.pfx")).alias("pfx_a"),
            F.when(swap, F.col("b.pfx")).otherwise(F.col("a.pfx")).alias("pfx_b"),
        )
        .distinct()
    )
    return cand.select(
        "doc_a",
        "doc_b",
        F.levenshtein("pfx_a", "pfx_b").alias("prefix_distance"),
    ).filter(F.col("prefix_distance") <= max_distance)


def cluster_survivors(
    docs: DataFrame,
    clusters: DataFrame,
    quality_col: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """Quality-aware survivor selection — the step that turns a
    near-dup CLUSTERING into a cleaned corpus: within every cluster
    keep exactly the best-``quality_col`` doc (ties by lowest id, so
    selection is deterministic); docs in no cluster keep themselves.
    Returns every input doc with a ``kept`` flag (callers filter or
    audit). Works over ANY (id, cluster_id) table — Jaccard text
    clusters, image-dHash or audio-envelope Hamming clusters,
    embedding LSH clusters — because cluster formation and survivor
    policy are independent axes.

    Scale shape: the cluster-label table is pair-graph-sized (docs
    that had at least one near-dup), orders of magnitude smaller than
    the corpus; the rank runs on the labeled subset only (one shuffle
    by cluster_id on that subset), and the corpus-sized step is a
    single left join against those labels. min-id-keeps semantics
    (`drop_exact_duplicates`) is the quality_col=constant special
    case."""
    labeled = clusters.join(
        docs.select(F.col(id_col), F.col(quality_col)), id_col
    )
    from pyspark.sql import Window

    w = Window.partitionBy("cluster_id").orderBy(
        F.col(quality_col).desc(), F.col(id_col)
    )
    ranked = labeled.select(
        F.col(id_col),
        (F.row_number().over(w) == 1).alias("__kept"),
    )
    return docs.select(F.col(id_col)).join(ranked, id_col, "left").select(
        F.col(id_col),
        F.coalesce(F.col("__kept"), F.lit(True)).alias("kept"),
    )


def chunk_dedup_reassemble(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_words: int = 8,
) -> DataFrame:
    """Cross-document CHUNK-level exact dedup with document
    reassembly — the CCNet/RefinedWeb paragraph-dedup shape (every
    paragraph hashed, only the corpus-first occurrence kept, documents
    rebuilt from their surviving paragraphs), generalized to fixed
    ``chunk_words``-word chunks for corpora without paragraph markers.
    Sub-document dedup catches boilerplate SHARED ACROSS documents
    (headers, license blocks, templated intros) that document-level
    exact/near dedup never removes because the surrounding text
    differs.

    Semantics: docs split into consecutive ``chunk_words``-word chunks
    (single-space split so reassembly is faithful; last partial chunk
    kept); a chunk survives iff its (doc_id, chunk_id) is the MINIMAL
    occurrence of its md5 key corpus-wide (deterministic first-wins);
    ``clean_text`` is the in-order join of a doc's surviving chunks
    (possibly empty), with before/after chunk counts for pruning
    decisions downstream.

    Scale shape: tokenize+chunk is one narrow pass (materialized token
    array projected BEFORE the posexplode — the `chunk_documents`
    anti-inlining pattern). Survivor selection is a min-struct
    aggregate per chunk key, as in ``drop_exact_duplicates``, not a
    window over the chunk key: ``groupBy(key).agg(min(struct(doc, chunk)))`` combines
    map-side, so a boilerplate chunk duplicated millions of times
    never routes every copy into one straggler task (the
    window-over-key formulation cannot partial-aggregate and AQE
    cannot split a window partition — it CAN split the skewed join
    that picks winners back out). The rebuild is one shuffle back on
    the doc id (collect_list of (chunk_id, text) sorted in-group —
    per-group memory is one document). Costs one extra exchange vs
    the window form; at corpus scale, skew resilience wins."""
    base = df.select(
        F.col(id_col), F.split(F.col(text_col), " ").alias("__toks")
    ).select(id_col, "__toks", F.size("__toks").alias("__n"))
    starts = F.sequence(
        F.lit(0),
        F.greatest(F.col("__n") - 1, F.lit(0)),
        F.lit(chunk_words),
    )
    chunks = (
        base.filter(F.col("__n") > 0)
        .select(
            F.col(id_col),
            F.col("__toks"),
            F.posexplode(starts).alias("chunk_id", "__start"),
        )
        .select(
            F.col(id_col),
            F.col("chunk_id").cast("bigint").alias("chunk_id"),
            F.array_join(
                F.slice(F.col("__toks"), F.col("__start") + 1, chunk_words),
                " ",
            ).alias("chunk_text"),
        )
    )
    keyed = chunks.withColumn(
        "__key", F.md5(F.col("chunk_text").cast("binary"))
    )
    winners = keyed.groupBy("__key").agg(
        F.min(
            F.struct(
                F.col(id_col).alias("d"), F.col("chunk_id").alias("c")
            )
        ).alias("__w")
    )
    flagged = keyed.join(winners, "__key").select(
        F.col(id_col),
        "chunk_id",
        "chunk_text",
        (
            (F.col("__w.d") == F.col(id_col))
            & (F.col("__w.c") == F.col("chunk_id"))
        ).alias("__keep"),
    )
    per_doc = flagged.groupBy(id_col).agg(
        F.array_sort(
            F.collect_list(F.struct("chunk_id", "chunk_text", "__keep"))
        ).alias("__cs")
    )
    kept = F.filter(F.col("__cs"), lambda c: c["__keep"])
    return per_doc.select(
        F.col(id_col),
        F.array_join(
            F.transform(kept, lambda c: c["chunk_text"]), " "
        ).alias("clean_text"),
        F.size("__cs").cast("bigint").alias("n_chunks"),
        F.size(kept).cast("bigint").alias("n_chunks_kept"),
    )


def cdc_chunk_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window_words: int = 3,
    divisor: int = 4,
) -> DataFrame:
    """Content-defined chunking (CDC) dedup statistics — the
    SHIFT-ROBUST counterpart to ``chunk_dedup_reassemble``'s fixed
    8-word grid. Fixed-grid chunking breaks when one word is inserted
    upstream: every later chunk boundary moves, so a shared paragraph
    stops matching. CDC places boundaries where a rolling CONTENT hash
    satisfies a predicate, so boundaries re-synchronize right after an
    edit — the rsync/LBFS/dedup-storage technique applied to corpus
    text at word granularity.

    Rule: a boundary falls AFTER token position p (1-based,
    ``window_words`` ≤ p < n) iff the md5-derived 32-bit hash of the
    ``window_words``-token window ending at p is ≡ 0 mod ``divisor``
    (expected chunk length ≈ ``divisor`` tokens + window warm-up).
    Chunk identity is the md5 of its space-joined tokens; a chunk is a
    cross-doc duplicate iff it occurs in ≥ 2 distinct documents.
    Output: per-doc ``n_chunks``, ``n_dup_chunks``,
    ``dup_chunk_frac`` (rounded 6 dp).

    Shape at scale: per-position rows ride ONE doc-keyed shuffle that
    serves the boundary-prefix window AND the chunk rebuild aggregate
    (doc_id is data-scaling and high-cardinality — no skew); chunk →
    distinct-doc counting is two partial-agg groupBys on the chunk
    key (never a window over the chunk key — a boilerplate chunk
    shared by millions of docs is exactly the skewed-key case the
    drop_exact_duplicates docstring warns about); the dup-flag table
    is one row per distinct chunk and joins back on the chunk key
    under AQE. The token array materializes BEFORE the position
    generator, so window hashes slice the materialized array — not a
    re-tokenize per position (the Catalyst lambda-inlining trap)."""
    from pyspark.sql import Window

    w = window_words
    base = (
        df.select(F.col(id_col), tokens(F.col(text_col)).alias("__toks"))
        .withColumn("__n", F.size("__toks"))
        .filter(F.col("__n") > 0)
    )
    pos = base.select(
        F.col(id_col),
        F.col("__toks"),
        F.col("__n"),
        F.explode(F.sequence(F.lit(1), F.col("__n"))).alias("p"),
    )
    cut = pos.select(
        F.col(id_col),
        F.col("p"),
        F.element_at("__toks", F.col("p")).alias("tok"),
        F.when(
            (F.col("p") >= w) & (F.col("p") < F.col("__n")),
            (
                token_hash32(
                    F.concat_ws(
                        " ", F.slice(F.col("__toks"), F.col("p") - (w - 1), w)
                    )
                )
                % divisor
                == 0
            ).cast("int"),
        )
        .otherwise(F.lit(0))
        .alias("cut"),
    )
    prefix = (
        Window.partitionBy(id_col)
        .orderBy("p")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    chunked = cut.withColumn(
        "chunk_id", F.coalesce(F.sum("cut").over(prefix), F.lit(0))
    )
    chunks = chunked.groupBy(id_col, "chunk_id").agg(
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("p", "tok"))),
                    lambda x: x["tok"],
                ),
                " ",
            ).cast("binary")
        ).alias("m")
    )
    chunks = _cache_stream(chunks)  # feeds the dup-flag agg AND the join
    per_doc_chunk = chunks.groupBy("m", id_col).agg(F.count("*").alias("__c"))
    dup_flags = (
        per_doc_chunk.groupBy("m")
        .agg(F.count("*").alias("n_docs_with"))
        .select("m", (F.col("n_docs_with") >= 2).alias("is_dup"))
    )
    return (
        chunks.join(dup_flags, "m")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum(F.col("is_dup").cast("bigint")).alias("n_dup_chunks"),
        )
        .select(
            id_col,
            F.col("n_chunks").cast("bigint").alias("n_chunks"),
            F.col("n_dup_chunks").cast("bigint").alias("n_dup_chunks"),
            F.round(
                F.col("n_dup_chunks") / F.col("n_chunks"), 6
            ).alias("dup_chunk_frac"),
        )
    )


def duplicated_span_removal(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_words: int = 8,
) -> DataFrame:
    """ExactSubstr REMOVAL (Lee et al. 2021, 'Deduplicating Training
    Data Makes Language Models Better' §4 — the step after the signal
    ``duplicated-span coverage`` measures): delete every token covered
    by a ``span_words``-token span that appears verbatim in >= 2
    distinct documents, then rebuild each document from its surviving
    tokens in order. Unlike the reference paper's suffix-array scan
    (a single-machine construction), the fixed-width span grid makes
    the same removal criterion expressible as equi-joins and
    aggregations only — the distributed formulation.

    Semantics: a span is duplicated iff its hash occurs in >= 2
    DISTINCT documents (the same rule as the coverage signal —
    self-repeats within one document do not trigger removal); a token
    at position p is removed iff some duplicated span starts at s
    with s <= p <= s + span_words - 1.
    Documents shorter than ``span_words`` tokens are never touched.
    Returns ``(id_col, n_tokens, n_kept, clean_md5)`` for EVERY input
    row — a fully-duplicated doc keeps 0 tokens and hashes the empty
    string.

    Scale shape: the span-hash stream is linear in corpus tokens and
    feeds two consumers (the duplicated-hash build and the anchor
    join) — cached once. Duplicate detection is a partial-agg groupBy
    on the span hash (never a window over the skewable key); covered
    positions explode at most span_words rows per duplicated anchor;
    removal is one (doc, pos) anti-join; the rebuild is the one
    doc-keyed shuffle shared with ``chunk_dedup_reassemble`` (in-group
    sort of one document). No doc-pair joins anywhere."""
    tok, sh = _span_hash_stream(df, id_col, text_col, span_words)
    sh = _cache_stream(sh)
    dup = (
        sh.groupBy("h")
        .agg(F.countDistinct(id_col).alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("h")
    )
    return _remove_covered(df, tok, sh.join(dup, "h"), id_col, span_words)


def _span_hash_stream(
    df, id_col: str, text_col: str, span_words: int, cache_base: bool = False
):
    """(token-positions, span-hash-anchors) streams shared by the
    batch and incremental ExactSubstr paths — ONE tokenize, the span
    hash at anchor position p covering tokens p..p+span_words-1.

    ``cache_base`` persists the tokenized ``(id, token-array)`` table
    through the bounded registry so every downstream consumer (the
    span stream, the covered-token anti-join, the per-doc totals)
    re-reads the arrays instead of re-tokenizing ``df``. Safe ONLY
    when ``df`` is increment-sized: the batch path passes the whole
    CORPUS here, and a corpus of token arrays is a corpus-sized
    MEMORY_AND_DISK spill (the r18 shard_members lesson), so the
    batch operator keeps the uncached default.

    The span hash is the 60-bit ``hash64``, NOT the 32-bit token
    hash: span membership drives DESTRUCTIVE token deletion, and at
    the birthday bound ~77k distinct spans already give ~50% odds of
    one 32-bit collision — two unrelated spans counted as 'duplicated
    in >= 2 docs' and both silently cut. 60 bits pushes the same 50%
    point past 10^9 spans (ADVICE r12). Non-destructive signals
    (coverage stats, sampling buckets) keep the cheaper 32-bit hash."""
    base = df.select(F.col(id_col), tokens(F.col(text_col)).alias("__toks"))
    if cache_base:
        base = _cache_stream(base)
    tok = base.select(
        id_col, F.posexplode(F.col("__toks")).alias("pos", "tok")
    )
    sh = base.select(
        F.col(id_col),
        F.posexplode(
            word_shingles(F.col("__toks"), span_words)
        ).alias("apos", "s"),
    ).select(id_col, "apos", hash64(F.col("s")).alias("h"))
    return tok, sh


def _remove_covered(
    df: DataFrame,
    tok: DataFrame,
    danchors: DataFrame,
    id_col: str,
    span_words: int,
    with_text: bool = False,
) -> DataFrame:
    """Shared removal tail: explode duplicated anchors into covered
    positions, anti-join them out of the token stream, rebuild every
    input doc (empty docs included) as (id, n_tokens, n_kept,
    clean_md5[, clean_text if ``with_text``])."""
    covered = (
        danchors.select(
            F.col(id_col),
            F.explode(
                F.sequence(
                    F.col("apos"), F.col("apos") + F.lit(span_words - 1)
                )
            ).alias("pos"),
        )
        .distinct()
    )
    kept = tok.join(covered, [id_col, "pos"], "left_anti")
    reb = kept.groupBy(id_col).agg(
        F.count("*").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda x: x["tok"],
            ),
            " ",
        ).alias("__clean"),
    )
    tot = tok.groupBy(id_col).agg(F.count("*").alias("n_tokens"))
    return (
        df.select(id_col)
        .join(tot, id_col, "left")
        .join(reb, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("n_tokens"), F.lit(0))
            .cast("bigint")
            .alias("n_tokens"),
            F.coalesce(F.col("n_kept"), F.lit(0))
            .cast("bigint")
            .alias("n_kept"),
            F.md5(F.coalesce(F.col("__clean"), F.lit(""))).alias(
                "clean_md5"
            ),
            *(
                [
                    F.coalesce(F.col("__clean"), F.lit("")).alias(
                        "clean_text"
                    )
                ]
                if with_text
                else []
            ),
        )
    )


def span_hash_index(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_words: int = 8,
) -> DataFrame:
    """Distinct span-hash table of a corpus — the bounded artifact an
    incremental ExactSubstr pipeline persists and probes (at
    deployment this is a parquet store maintained like the band
    stores; size is O(corpus tokens), but the INCREMENT never rescans
    the corpus text)."""
    _, sh = _span_hash_stream(df, id_col, text_col, span_words)
    return sh.select("h").distinct()


def duplicated_span_removal_incremental(
    new_df: DataFrame,
    index: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_words: int = 8,
    with_text: bool = False,
) -> DataFrame:
    """Incremental ExactSubstr removal — the O(increment) economics
    of the other incremental dedup paths applied to substring
    duplication: a new batch's spans are duplicated iff their hash
    occurs in the persisted corpus ``index`` (``span_hash_index``)
    OR in >= 2 distinct documents of the increment itself; covered
    tokens are removed and the increment's docs rebuilt, corpus text
    never re-read. Returns the same ``(id, n_tokens, n_kept,
    clean_md5)`` contract as the batch operator.

    Scale shape: the increment's span stream (linear in increment
    tokens) is cached once and probed against the index via one
    LEFT SEMI equi-join on the hash — the index is NEVER re-aggregated
    (a union().distinct() here would re-shuffle the O(corpus-tokens)
    index on every increment, VERDICT r12 #3); within-batch
    duplication is the batch operator's partial-agg groupBy over the
    increment only. An anchor matching both sources appears twice in
    the union; the covered-position distinct downstream (bounded by
    increment tokens) absorbs it.

    Cache-registry footprint: TWO slots — the tokenized increment
    (``cache_base``: without it the increment is re-tokenized three
    times, once for the span stream and once per ``_remove_covered``
    consumer of ``tok``; O(increment tokens), bounded) and the span
    stream below."""
    tok, sh = _span_hash_stream(
        new_df, id_col, text_col, span_words, cache_base=True
    )
    sh = _cache_stream(sh)
    dup_within = (
        sh.groupBy("h")
        .agg(F.countDistinct(id_col).alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("h")
    )
    danchors = sh.join(dup_within, "h").select(
        id_col, "apos"
    ).unionByName(
        sh.join(index.select("h"), "h", "left_semi").select(id_col, "apos")
    )
    return _remove_covered(
        new_df,
        tok,
        danchors,
        id_col,
        span_words,
        with_text=with_text,
    )


def leakage_safe_split(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    train_pct: int = 80,
    val_pct: int = 10,
    seed_tag: str = "split:",
) -> DataFrame:
    """Leakage-safe train/val/test assignment: near-duplicate
    documents must NEVER straddle an evaluation split (a test doc
    whose near-copy sits in train leaks the answer — the
    train-on-test contamination eval decks measure). Split identity
    is therefore assigned per near-dup CLUSTER, not per document:
    connected components over ``pairs`` (``near_dup_clusters``) give
    every paired doc its cluster's min id; unpaired docs are their
    own singleton cluster; the split is a deterministic hash bucket
    of the cluster id, so every member of a cluster lands in the
    same split by construction.

    Returns ``(id_col, cluster_id, split)`` for EVERY input row,
    split in {'train','val','test'} at ``train_pct``/``val_pct``/
    remainder percent of hash space (fractions are exact only in
    expectation — hashing, not sampling).

    Scale shape: the CC loop runs on the PAIR graph (orders of
    magnitude smaller than the corpus, O(log diameter) rounds); the
    corpus itself sees one left equi-join against the label table
    and a map-only hash projection. Deterministic across runs and
    partitionings (md5-derived hash, no rand())."""
    if not 0 < train_pct < 100 or not 0 < val_pct < 100 - train_pct:
        raise ValueError(
            f"bad split percentages: train={train_pct} val={val_pct}"
        )
    clusters = near_dup_clusters(pairs)
    labeled = (
        df.select(id_col)
        .join(clusters, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("cluster_id"), F.col(id_col)).alias(
                "cluster_id"
            ),
        )
    )
    u = (
        token_hash32(
            F.concat(F.lit(seed_tag), F.col("cluster_id").cast("string"))
        )
        % 100
    )
    return labeled.select(
        F.col(id_col),
        F.col("cluster_id"),
        F.when(u < F.lit(train_pct), F.lit("train"))
        .when(u < F.lit(train_pct + val_pct), F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )
