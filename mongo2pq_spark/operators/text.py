"""Text-analysis operators: token stats, quality scoring, language ID,
document fingerprinting. Pure built-in column expressions — each
operator has an exact SQL equivalent for oracle checking, and none
leaves the JVM.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mongo2pq_spark.functions.hashing import hash64, token_hash32
from mongo2pq_spark.functions.textfns import (
    STOPWORDS,
    spark_ident as _q,
    spark_tokens,
    stopword_hits,
    tokens,
)

#: BPE-ish word/number/punctuation regex (word pieces, digit runs,
#: single punctuation marks) — a cheap token-count proxy.
BPE_ISH_PATTERN = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"


def token_stats(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Whitespace-token and regex-token counts plus char length."""
    toks = tokens(F.col(text_col))
    regex_tokens = F.regexp_count(F.col(text_col), F.lit(BPE_ISH_PATTERN))
    return df.select(
        F.col(id_col),
        F.length(text_col).cast("bigint").alias("n_chars"),
        F.size(toks).cast("bigint").alias("n_ws_tokens"),
        regex_tokens.cast("bigint").alias("n_bpeish_tokens"),
    )


def quality_scores(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Heuristic quality features + a composite score in [0, 1]:
    length score (saturating at 500 chars), English stopword ratio
    (saturating at 0.3), alpha-char ratio. All components rounded to
    6 dp so the composite is engine-exact."""
    toks = tokens(F.col(text_col))
    n_tokens = F.size(toks)
    n_chars = F.length(text_col)
    n_alpha = F.length(F.regexp_replace(F.col(text_col), "[^A-Za-z]", ""))
    sw_ratio = F.round(
        stopword_hits(toks, STOPWORDS["en"]) / F.greatest(n_tokens, F.lit(1)), 6
    )
    len_score = F.round(F.least(n_chars / F.lit(500.0), F.lit(1.0)), 6)
    alpha_ratio = F.round(n_alpha / F.greatest(n_chars, F.lit(1)), 6)
    sw_score = F.round(F.least(sw_ratio / F.lit(0.3), F.lit(1.0)), 6)
    quality = F.round((len_score + alpha_ratio + sw_score) / 3.0, 6)
    return df.select(
        F.col(id_col),
        n_tokens.cast("bigint").alias("n_tokens"),
        sw_ratio.alias("stopword_ratio"),
        alpha_ratio.alias("alpha_ratio"),
        len_score.alias("len_score"),
        quality.alias("quality"),
    )


def language_id(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Stopword-voting language ID: the language whose stopword list
    hits the most tokens wins; ties resolve by fixed language order;
    zero hits → 'und'."""
    toks = tokens(F.col(text_col))
    langs = list(STOPWORDS)
    hit_cols = {lang: stopword_hits(toks, STOPWORDS[lang]) for lang in langs}
    scored = df.select(
        F.col(id_col),
        *[hit_cols[lang].alias(f"hits_{lang}") for lang in langs],
    )
    best = F.lit("und")
    best_hits = F.lit(0)
    for lang in langs:  # earlier language wins ties (strict > below)
        is_better = F.col(f"hits_{lang}") > best_hits
        best = F.when(is_better, F.lit(lang)).otherwise(best)
        best_hits = F.when(is_better, F.col(f"hits_{lang}")).otherwise(best_hits)
    return scored.select(
        F.col(id_col),
        best.alias("predicted_lang"),
        best_hits.cast("bigint").alias("stopword_hits"),
    )


def tfidf_top_terms(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_k: int = 3,
) -> DataFrame:
    """Top-k terms per document by smoothed TF-IDF
    (idf = ln((N+1)/(df+1)) + 1, the classic smooth-idf; scores rounded
    to 6 dp before ranking, ties break on the term string).

    Shape at scale: one aggregation for per-doc term counts, a join on
    ``term`` against the docfreq side, one window for the top-k — all
    JVM-side. The docfreq join carries NO broadcast hint: a web-scale
    vocabulary exceeds broadcast limits, so the plan stays a shuffle
    join and AQE converts it to broadcast only when the side actually
    fits.
    """
    from pyspark.sql import Window

    toks = df.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("term")
    )
    tf = toks.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    n_docs = df.count()  # driver-side scalar; one metadata-cheap job
    docfreq = (
        tf.groupBy("term")
        .agg(F.count("*").alias("df"))
        .withColumn(
            "idf", F.log((F.lit(n_docs) + 1.0) / (F.col("df") + 1.0)) + 1.0
        )
    )
    scored = tf.join(docfreq, "term").select(
        F.col(id_col),
        "term",
        F.round(F.col("tf") * F.col("idf"), 6).alias("tfidf"),
    )
    w = Window.partitionBy(id_col).orderBy(F.col("tfidf").desc(), F.col("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= top_k)
        .select(id_col, "term", "tfidf", "rank")
    )


def clean_text(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Standard corpus cleaning projection: strip HTML-ish tags,
    drop control characters, collapse whitespace runs, trim. Pure
    column expressions (one narrow pass, no shuffle); emits the
    cleaned text plus before/after lengths for shrinkage auditing."""
    no_tags = F.regexp_replace(F.col(text_col), "<[^>]{1,256}>", " ")
    no_ctrl = F.regexp_replace(no_tags, "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]", "")
    collapsed = F.trim(F.regexp_replace(no_ctrl, "\\s+", " "))
    return df.select(
        F.col(id_col),
        collapsed.alias("clean_text"),
        F.length(text_col).cast("bigint").alias("n_chars_raw"),
        F.length(collapsed).cast("bigint").alias("n_chars_clean"),
    )


def decontaminate_flags(
    df: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str = "text",
    shingle_n: int = 3,
    min_overlap: int = 2,
) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing
    ≥ ``min_overlap`` distinct n-gram shingles with ANY benchmark
    text — the standard guard against test-set leakage in training
    corpora.

    Shape at scale: the benchmark shingle set is tiny relative to the
    corpus (evaluation suites, not web data), so the overlap join is an
    equi-join on the shingle hash against a small build side (AQE
    broadcasts it when it fits); one aggregation per flagged doc. The
    corpus is never self-joined.
    """
    from mongo2pq_spark.functions.textfns import word_shingles as _shingles

    doc_sh = df.select(
        F.col(id_col),
        F.explode(
            F.array_distinct(_shingles(tokens(F.col(text_col)), shingle_n))
        ).alias("shingle"),
    ).select(F.col(id_col), token_hash32(F.col("shingle")).alias("h"))
    bench_sh = (
        benchmark.select(
            F.explode(
                F.array_distinct(_shingles(tokens(F.col(bench_text_col)), shingle_n))
            ).alias("shingle")
        )
        .select(token_hash32(F.col("shingle")).alias("h"))
        .distinct()
    )
    overlap = (
        doc_sh.join(bench_sh, "h", "left_semi")
        .groupBy(id_col)
        .agg(F.count("*").alias("bench_overlap"))
    )
    return df.select(F.col(id_col)).join(overlap, id_col, "left").select(
        F.col(id_col),
        F.coalesce(F.col("bench_overlap"), F.lit(0)).cast("bigint").alias("bench_overlap"),
        (F.coalesce(F.col("bench_overlap"), F.lit(0)) >= min_overlap).alias("contaminated"),
    )


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    window: int = 4,
) -> DataFrame:
    """MOSS-style winnowing fingerprints (Schleimer/Wilkerson/Aiken):
    the distinct set of minimum shingle-hashes over every sliding
    window of ``window`` consecutive shingles. Guarantee: any two
    documents sharing a run of ≥ window + shingle_n - 1 tokens share at
    least one fingerprint — the standard sub-document near-dup /
    provenance primitive (a rolling selection over the full ordered
    hash stream, unlike MinHash's global set sketch).

    Shape at scale: posexplode → per-document window min (documents
    are small, so window partitions are tiny and fully parallel) → one
    hash-shuffle distinct. No joins.
    """
    from pyspark.sql import Window

    from mongo2pq_spark.functions.textfns import word_shingles as _shingles

    # ORDERED shingles (no distinct): winnowing operates on the
    # positional hash stream, duplicates included
    sh = _shingles(tokens(F.col(text_col)), shingle_n)
    positioned = df.select(
        F.col(id_col), F.posexplode(sh).alias("pos", "shingle")
    ).select(
        F.col(id_col),
        F.col("pos"),
        token_hash32(F.col("shingle")).alias("h"),
    )
    win = (
        Window.partitionBy(id_col).orderBy("pos").rowsBetween(0, window - 1)
    )
    per_doc = Window.partitionBy(id_col)
    return (
        positioned.withColumn("win_min", F.min("h").over(win))
        .withColumn("n_shingles", F.count("*").over(per_doc))
        .filter(F.col("pos") <= F.col("n_shingles") - window)
        .select(F.col(id_col), F.col("win_min").alias("fingerprint"))
        .distinct()
    )


def fingerprints(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Deterministic 60-bit content fingerprint over normalized text
    (lowercase, whitespace collapsed) — the cheap exact-dup key."""
    normalized = F.regexp_replace(F.lower(F.trim(F.col(text_col))), "\\s+", " ")
    return df.select(
        F.col(id_col),
        hash64(normalized).alias("fingerprint"),
        F.length(normalized).cast("bigint").alias("n_chars_normalized"),
    )


#: PII patterns shared by the Spark and oracle sides — kept to syntax
#: with identical semantics in Java regex and RE2 (DuckDB): character
#: classes, bounded repetition, \b word boundaries.
EMAIL_PATTERN = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
IPV4_PATTERN = "\\b[0-9]{1,3}(\\.[0-9]{1,3}){3}\\b"


def gopher_quality_flags(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Gopher-style document quality rules (Rae et al. 2021, word-level
    subset — the fixture corpus is single-line, so the line-shape rules
    are omitted): word count bounds, mean word length bounds, symbol
    ratio, fraction of words containing an alphabetic character, and a
    minimum stopword hit count. Emits each feature, each flag, and the
    conjunction ``keep`` — pure column expressions, zero shuffles, one
    narrow pass (the standard pre-training corpus filter shape: applied
    to 100 TB it is a map-only scan)."""
    words = tokens(F.col(text_col))
    n_words = F.size(words)
    # total non-whitespace chars / words == mean word length
    len_nospace = F.length(F.regexp_replace(F.col(text_col), "\\s", ""))
    mean_word_len = F.round(len_nospace / F.greatest(n_words, F.lit(1)), 6)
    n_symbols = F.regexp_count(F.col(text_col), F.lit("#|\\.\\.\\.|…"))
    symbol_ratio = F.round(n_symbols / F.greatest(n_words, F.lit(1)), 6)
    alpha_words = F.size(F.filter(words, lambda w: w.rlike("[A-Za-z]")))
    alpha_word_frac = F.round(alpha_words / F.greatest(n_words, F.lit(1)), 6)
    stop_hits = stopword_hits(words, STOPWORDS["en"])
    flags = {
        "word_count_ok": (n_words >= 50) & (n_words <= 100_000),
        "mean_word_len_ok": (mean_word_len >= 3) & (mean_word_len <= 10),
        "symbol_ratio_ok": symbol_ratio <= 0.1,
        "alpha_word_frac_ok": alpha_word_frac >= 0.8,
        "stopword_ok": stop_hits >= 2,
    }
    keep = None
    for expr in flags.values():
        keep = expr if keep is None else keep & expr
    return df.select(
        F.col(id_col),
        n_words.cast("bigint").alias("n_words"),
        mean_word_len.alias("mean_word_len"),
        symbol_ratio.alias("symbol_ratio"),
        alpha_word_frac.alias("alpha_word_frac"),
        stop_hits.cast("bigint").alias("stopword_hits"),
        *[expr.alias(name) for name, expr in flags.items()],
        keep.alias("keep"),
    )


def repetition_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Within-document repetition features (the Gopher repetition
    family): duplicate word-5-gram fraction (array-side, no shuffle)
    and the share of all bigrams taken by the single most frequent
    bigram (explode → two keyed aggregations; every key is the
    high-cardinality doc id, so partitions stay balanced at any corpus
    size). High values on either flag boilerplate / generated spam."""
    from pyspark.sql import Window

    from mongo2pq_spark.functions.textfns import word_shingles as _shingles

    words = tokens(F.col(text_col))
    sh5 = _shingles(words, 5)
    base = df.select(
        F.col(id_col),
        F.size(sh5).cast("bigint").alias("n_5grams"),
        F.when(
            F.size(sh5) > 0,
            F.round(
                1.0 - F.size(F.array_distinct(sh5)) / F.size(sh5), 6
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("dup_5gram_frac"),
    )
    bg = df.select(
        F.col(id_col), F.explode(_shingles(words, 2)).alias("bigram")
    )
    counts = bg.groupBy(id_col, "bigram").agg(F.count("*").alias("cnt"))
    w = Window.partitionBy(id_col).orderBy(F.col("cnt").desc(), "bigram")
    top = (
        counts.withColumn("rn", F.row_number().over(w))
        .withColumn(
            "total", F.sum("cnt").over(Window.partitionBy(id_col))
        )
        .filter(F.col("rn") == 1)
        .select(
            F.col(id_col),
            F.col("bigram").alias("top_bigram"),
            F.round(F.col("cnt") / F.col("total"), 6).alias("top_bigram_share"),
        )
    )
    return base.join(top, id_col, "left").select(
        id_col,
        "n_5grams",
        "dup_5gram_frac",
        F.coalesce(F.col("top_bigram"), F.lit("")).alias("top_bigram"),
        F.coalesce(F.col("top_bigram_share"), F.lit(0.0)).alias(
            "top_bigram_share"
        ),
    )


def pii_redact(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """C4-style PII scrubbing: replace emails and IPv4 addresses with
    typed placeholders, counting matches. One narrow regexp pass (the
    redacted text is emitted for the pipeline; the registered query
    scalarizes it to a digest). Emails are replaced BEFORE IPs so digit
    runs inside a hostname cannot be double-matched."""
    text = F.col(text_col)
    n_emails = F.regexp_count(text, F.lit(EMAIL_PATTERN))
    no_email = F.regexp_replace(text, EMAIL_PATTERN, "<EMAIL>")
    n_ipv4 = F.regexp_count(no_email, F.lit(IPV4_PATTERN))
    redacted = F.regexp_replace(no_email, IPV4_PATTERN, "<IP>")
    return df.select(
        F.col(id_col),
        n_emails.cast("bigint").alias("n_emails"),
        n_ipv4.cast("bigint").alias("n_ipv4"),
        redacted.alias("redacted_text"),
        F.length(redacted).cast("bigint").alias("n_chars_redacted"),
    )


def collapse_repeated_tokens(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Intra-document consecutive-duplicate-token removal — the
    repetition NORMALIZATION companion to ``repetition_stats`` (which
    only measures): keep token i iff it differs from token i−1, then
    rejoin. Stutter runs ("the the the") collapse to one token;
    non-adjacent repeats are untouched (they are legitimate prose).

    Split is plain single-space (not the lossy ``tokens`` helper) so
    the output is a faithful reconstruction: for any input with no
    adjacent duplicates, ``clean_text`` round-trips byte-identically.

    Scale shape: built-in array expressions only — map-only, zero
    shuffle, whole-stage codegen. The pairing with the previous token
    is a SHIFTED zip_with (the ``word_shingles`` pattern), not a
    per-index ``get`` inside a lambda: Catalyst inlines outer
    expressions into lambda bodies, so an indexed self-reference would
    re-evaluate the split per ELEMENT (O(n²) per doc). The token array
    is materialized in its own projection first. zip_with pads the
    shorter side with NULLs: the one trailing pad element maps to NULL
    and is filtered with the collapsed duplicates (split never yields
    NULL tokens, so NULL is a safe sentinel); the first token survives
    via null-safe inequality against its NULL predecessor."""
    base = df.select(
        F.col(id_col), F.split(F.col(text_col), " ").alias("__toks")
    )
    prev = F.concat(
        F.array(F.lit(None).cast("string")), F.col("__toks")
    )
    marked = F.zip_with(
        F.col("__toks"), prev, lambda a, b: F.when(~a.eqNullSafe(b), a)
    )
    kept = F.filter(marked, lambda x: x.isNotNull())
    return base.select(
        F.col(id_col),
        F.array_join(kept, " ").alias("clean_text"),
        F.size("__toks").cast("bigint").alias("n_tokens_before"),
        F.size(kept).cast("bigint").alias("n_tokens_after"),
    )


def bm25_topk(
    df: DataFrame,
    queries: dict[str, list[str]],
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 5,
) -> DataFrame:
    """BM25 retrieval: the top-k documents per query for a fixed query
    set — the sparse-retrieval half of a RAG / data-curation stack
    (embedding ANN in operators/similarity.py is the dense half).

    Scoring is Lucene-style Okapi BM25:
    ``score(q, d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·|d|/avgdl))``
    with ``idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5))``; scores are
    rounded to 6 dp BEFORE ranking and ties break on doc id, so the
    ordering is engine-portable (the tfidf_top_terms contract).

    Shape at scale: ONE pass builds per-doc term counts; doc lengths
    and the corpus stats (N, avgdl) derive from that table (the text is
    never re-read); the query-term table is a literal — broadcast by
    construction — so the tf table is pruned to matching terms before
    any scoring work, and df counts for those terms are a
    queries×terms-bounded broadcast. The final top-k is TWO-PHASE:
    a per-(query, doc_id%salt) local row_number prunes to
    salt·top_k candidates per query before the global per-query
    window — a single-partition-per-query window over millions of
    matching docs would serialize at 100 TB (the drop_exact_duplicates
    skew lesson applied to ranking).
    """
    toks = df.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("term")
    )
    tf = toks.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    return bm25_from_tf(
        tf, queries, id_col=id_col, k1=k1, b=b, top_k=top_k
    )


def bm25_from_tf(
    tf: DataFrame,
    queries: dict[str, list[str]],
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 5,
) -> DataFrame:
    """BM25 scoring over a (id, term, tf) table — the shared back half
    of ``bm25_topk`` (tf from raw text) and index-served retrieval
    (tf decoded from the inverted-index artifact, which is
    SELF-SUFFICIENT: doc lengths, N, avgdl and df all derive from the
    postings alone). Same rounding/tiebreak contract as bm25_topk."""
    qterms = tf.sparkSession.createDataFrame(
        [(q, t) for q, terms in queries.items() for t in terms],
        "query_id string, term string",
    )
    scored = bm25_scores(tf, qterms, id_col=id_col, k1=k1, b=b)
    from mongo2pq_spark.operators.joins import salted_topk

    return salted_topk(
        scored,
        ["query_id"],
        [F.col("score").desc(), F.col(id_col)],
        top_k,
        salt_src=F.col(id_col),
    ).select("query_id", id_col, "score", "rank")


def bm25_scores(
    tf: DataFrame,
    qterms: DataFrame,
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Per-(query, doc) BM25 scores over a (id, term, tf) table for a
    ``(query_id string, term string)`` query-term table — the scoring
    core behind ``bm25_from_tf`` (literal query sets) and the hybrid
    retrieval fusion (query-by-example term tables). ``qterms`` must be
    small relative to the corpus (a query workload, not a table scan):
    it is broadcast, so the tf table is pruned to matching terms before
    any scoring work. Scores round to 6 dp (the engine-portable
    ordering contract); ranking/tiebreaks are the CALLER's, so top-k
    depth and exclusion rules stay out of the scoring core."""
    from mongo2pq_spark.operators.cache import cache_stream

    tf = cache_stream(tf)  # feeds doc lengths, df counts AND scoring
    dl = tf.groupBy(id_col).agg(F.sum("tf").alias("dl"))
    stats = dl.agg(
        F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    qtf = tf.join(F.broadcast(qterms), "term")
    # tf has exactly one row per (doc, term), so a plain count IS the
    # document frequency — no distinct aggregation needed
    docfreq = qtf.groupBy("query_id", "term").agg(
        F.count("*").alias("df")
    )
    return (
        qtf.join(F.broadcast(docfreq), ["query_id", "term"])
        .join(dl, id_col)
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "idf",
            F.log(
                1.0
                + (F.col("n_docs") - F.col("df") + 0.5)
                / (F.col("df") + 0.5)
            ),
        )
        .withColumn(
            "w",
            F.col("idf")
            * (F.col("tf") * (k1 + 1.0))
            / (
                F.col("tf")
                + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
            ),
        )
        .groupBy("query_id", id_col)
        .agg(F.round(F.sum("w"), 6).alias("score"))
    )


def write_inverted_index(
    df: DataFrame,
    out_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_shards: int = 16,
    batch_token: str = "b0",
    positions: bool = False,
) -> None:
    """Export a retrieval inverted index as a parquet artifact: one row
    per (term, shard) holding the shard's posting list — sorted doc
    ids DELTA-encoded (first id, then gaps; small ints columnar-
    compress far better than raw 64-bit ids — the classic postings
    trick) alongside parallel term frequencies.

    Layout at scale: each token is given its ``shard = doc_id %
    n_shards`` first, and ONE ``repartitionByRange`` on (term, shard)
    serves both aggregates (per-doc term frequency, then the posting
    list) and the ``sortWithinPartitions`` write: one exchange. Every
    parquet row group covers a tight term range, so a term-equality
    probe prunes to a handful of row groups via footer stats — the
    lakehouse answer to a high-cardinality partition key (a hive
    ``partitionBy(term)`` would create one directory per vocabulary
    entry). The shard bounds each posting ROW, and because it is part
    of the range key it also bounds the task: a stopword's corpus-wide
    list splits across shards, and its shards across range partitions,
    instead of forming one giant array cell in one straggler task.

    Incremental maintenance: each call writes ONE
    ``batch=<batch_token>`` partition under ``out_dir`` — indexing a
    daily increment costs O(increment) and never re-reads earlier
    batches (the near-dedup stores' economics applied to retrieval);
    a rerun with the same token overwrites its own partition, so
    retries are idempotent. ``query_postings`` probes across all
    batches; ``consolidate_inverted_index`` folds them back into one
    via the audited crash-safe swap.

    ``positions=True`` makes the index POSITIONAL: each posting also
    carries the sorted 0-based token positions of the term in the doc
    (``pos_lists``), enabling exact phrase queries served from the
    artifact (``phrase_query_index``). Positions are stored absolute,
    not gap-encoded — they are already small ints bounded by document
    token length (unlike 64-bit doc ids), so delta gains are marginal
    and the decode stays array-local. A store is positional or not
    from its first batch; do not mix within one store.
    """
    import os
    from pathlib import Path

    from mongo2pq_spark.plans.bandstore_core import (
        absorbed_tokens,
        recover_replace,
    )

    # roll forward/back any interrupted consolidation BEFORE touching
    # the root: Spark would happily create a missing out_dir and write
    # just this batch into it, after which recovery would discard the
    # stranded complete store as stale (the other stores' rule)
    recover_replace(Path(out_dir))
    if batch_token in absorbed_tokens(out_dir):
        # post-absorption retry exclusion (the media stores'
        # src_token rule): this batch's postings already live inside
        # batch=c0 — re-writing them next to it would permanently
        # duplicate every posting, and consolidation (a pure regroup)
        # would bake the duplicates in
        return
    doc_id = _q(id_col)
    term = spark_tokens(_q(text_col))
    toks = df.selectExpr(
        f"{doc_id} AS doc_id",
        f"CAST({doc_id} % {n_shards} AS INT) AS shard",
        f"posexplode({term}) AS (pos, term)" if positions
        else f"explode({term}) AS term",
    ).repartitionByRange(
        max(df.sparkSession.sparkContext.defaultParallelism, 4), "term", "shard"
    )
    tf = toks.groupBy("term", "shard", "doc_id").agg(
        F.expr("count(*) AS tf"),
        *([F.expr("sort_array(collect_list(pos)) AS positions")] if positions else []),
    )
    (
        _encode_postings(tf)
        .sortWithinPartitions("term", "shard")
        .write.mode("overwrite")
        .parquet(os.path.join(out_dir, f"batch={batch_token}"))
    )


def _encode_postings(tf: DataFrame) -> DataFrame:
    """(term, shard, doc_id, tf) rows → encoded posting rows (term,
    shard, df_shard, doc_id_deltas, tfs). The single definition of the
    gap encoding — write and consolidate must never diverge. A
    ``positions`` column (sorted array<int> per posting), when
    present, rides along as a parallel ``pos_lists`` array — the
    positional-index variant."""
    positional = "positions" in tf.columns
    struct_cols = ["doc_id", "tf"] + (["positions"] if positional else [])
    # doc_id is unique within (term, shard), so struct sort order never
    # reaches the array field
    postings = tf.groupBy("term", "shard").agg(
        F.sort_array(F.collect_list(F.struct(*struct_cols))).alias("__p")
    )
    ids = F.transform(F.col("__p"), lambda s: s["doc_id"])
    prev = F.concat(F.array(F.lit(None).cast("bigint")), ids)
    # zip_with pads to the LONGER side (prev is L+1), so slice back to
    # L — the phantom trailing element would decode as a duplicated
    # final doc id in every posting row
    deltas = F.slice(
        F.zip_with(
            ids, prev, lambda a, b: F.when(b.isNull(), a).otherwise(a - b)
        ),
        1,
        F.size("__p"),
    )
    out_cols = [
        F.col("term"),
        F.col("shard"),
        F.size("__p").cast("bigint").alias("df_shard"),
        deltas.alias("doc_id_deltas"),
        F.transform(F.col("__p"), lambda s: s["tf"]).alias("tfs"),
    ]
    if positional:
        out_cols.append(
            F.transform(F.col("__p"), lambda s: s["positions"]).alias(
                "pos_lists"
            )
        )
    return postings.select(*out_cols)


def _decode_postings(idx: DataFrame, keep_shard: bool = False) -> DataFrame:
    """Encoded posting rows → (term[, shard], doc_id, tf). The single
    definition of the gap decode: a LINEAR windowed prefix sum per
    (batch, term, shard) run — an array-side fold rebuilding via
    concat would be O(L²) per list, and a stopword shard holds
    ~df/n_shards entries. The window partitions on (batch, term,
    shard): the shard split exists to bound these partitions, so a
    hot term never serializes through one task, and the prefix sum
    never leaks across batches."""
    from pyspark.sql import Window

    positional = "pos_lists" in idx.columns
    zipped = [
        F.col("doc_id_deltas").alias("d"),
        F.col("tfs").alias("tf"),
    ] + ([F.col("pos_lists").alias("ps")] if positional else [])
    ex = idx.select(
        "term",
        "shard",
        F.col("batch"),
        F.posexplode(F.arrays_zip(*zipped)).alias("pos", "z"),
    )
    w = (
        Window.partitionBy("batch", "term", "shard")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cols = ["term"] + (["shard"] if keep_shard else [])
    return ex.select(
        *cols,
        F.sum(F.col("z.d")).over(w).alias("doc_id"),
        F.col("z.tf").alias("tf"),
        *([F.col("z.ps").alias("positions")] if positional else []),
    )


def query_postings(
    spark, index_dir: str, terms: list[str] | None = None
) -> DataFrame:
    """Probe an inverted-index artifact for a term set (``terms=None``
    decodes the FULL index, distributed — no driver-side vocabulary
    materialization): the equality filter pushes to the parquet scan,
    where the term-range layout prunes row groups; the delta-encoded
    postings decode back to
    (term, doc_id, tf) rows. The probe spans every ``batch=`` partition
    (corpus + increments); the increment contract is that batches hold
    DISJOINT doc sets, so the union IS the merged index."""
    from pathlib import Path

    from mongo2pq_spark.plans.bandstore_core import recover_replace

    # a probe must never read a half-swapped store: roll any
    # interrupted consolidation forward/back first (the other stores'
    # open-time rule)
    recover_replace(Path(index_dir))
    idx = spark.read.parquet(index_dir)
    if terms is not None:
        idx = idx.filter(F.col("term").isin(terms))
    return _decode_postings(idx)


def phrase_query_index(
    spark, index_dir: str, phrases: dict[str, list[str]]
) -> DataFrame:
    """Exact phrase search served FROM a positional index artifact
    (``write_inverted_index(..., positions=True)``): the probe prunes
    the parquet scan to the phrase vocabulary (term-equality pushdown
    over the term-range layout), decodes only those postings'
    position lists, and runs the same anchor reduction as the
    from-text ``phrase_matches`` — the two faces must answer
    identically, which is the registered query's oracle. Never
    touches raw text: the per-query scan cost is the phrase terms'
    postings, not the corpus."""
    vocab = sorted({t for terms in phrases.values() for t in terms})
    decoded = query_postings(spark, index_dir, vocab)
    if "positions" not in decoded.columns:
        raise ValueError(
            "phrase_query_index needs a POSITIONAL index (written "
            "with positions=True); this artifact has no pos_lists"
        )
    tokpos = decoded.select(
        "doc_id", "term", F.explode("positions").alias("pos")
    )
    return _phrase_anchor_matches(tokpos, phrases)


def consolidate_inverted_index(spark, index_dir: str) -> None:
    """Fold every ``batch=`` partition of an inverted-index artifact
    into a single ``batch=c0`` — bounding a year of daily increments
    back to one posting row per (term, shard), with probe answers
    unchanged (batches hold disjoint doc sets, so consolidation is a
    pure regroup: decode every batch's gap runs, re-sort the union per
    (term, shard), re-encode). The swap and the absorbed-token record
    are ``bandstore_core.fold_tree``: a regroup destroys per-row
    provenance, so retry exclusion rides the sidecar, not ``src_token``
    rows."""
    from mongo2pq_spark.plans.bandstore_core import fold_tree

    def write(sources: list[str], c0: str) -> None:
        # basePath keeps the batch column the prefix-sum window needs
        idx = spark.read.option("basePath", index_dir).parquet(*sources)
        (
            _encode_postings(_decode_postings(idx, keep_shard=True))
            .repartitionByRange(
                max(spark.sparkContext.defaultParallelism, 4), "term"
            )
            .sortWithinPartitions("term", "shard")
            .write.mode("overwrite")
            .parquet(c0)
        )

    fold_tree(index_dir, write)


def phrase_matches(
    df: DataFrame,
    phrases: dict[str, list[str]],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact phrase search over a document corpus for a fixed phrase
    set — the positional-retrieval surface BM25's bag-of-words scoring
    cannot express ("slow hash batch" must match only consecutive,
    in-order occurrences).

    Algorithm is the classic positional-index ANCHOR reduction: every
    occurrence of phrase term i at token position p votes for anchor
    p − i; an anchor where ALL |phrase| distinct offsets voted is an
    exact match starting there. One aggregation replaces the naive
    (|phrase| − 1)-way self-join chain, and repeated phrase terms
    ("value value") fall out correctly because each occurrence votes
    once per offset the term holds.

    Shape at scale: one posexplode pass; the literal phrase-term table
    broadcasts and prunes positions to phrase vocabulary BEFORE any
    shuffle; the anchor aggregation keys on (query, doc, anchor) —
    cardinality ~matching tokens, hash-distributed with no skewable
    low-cardinality key (doc_id is in the key); the per-doc rollup is
    a second partial-agg groupBy. No windows, no self-joins.

    Output: (query_id, doc_id, n_matches, first_pos) for documents
    with ≥ 1 exact occurrence; positions are 0-based token offsets.
    """
    toks = df.select(
        F.col(id_col),
        F.posexplode(tokens(F.col(text_col))).alias("pos", "term"),
    )
    return _phrase_anchor_matches(toks, phrases, id_col=id_col)


def _phrase_anchor_matches(
    tokpos: DataFrame,
    phrases: dict[str, list[str]],
    id_col: str = "doc_id",
) -> DataFrame:
    """The anchor reduction over a (id, pos, term) position table —
    shared by ``phrase_matches`` (positions from tokenization) and
    ``phrase_query_index`` (positions decoded from the positional
    index artifact); both faces MUST rank identically, which is each
    one's oracle."""
    rows = [
        (q, t, i, len(terms))
        for q, terms in phrases.items()
        for i, t in enumerate(terms)
    ]
    qterms = tokpos.sparkSession.createDataFrame(
        rows, "query_id string, term string, off int, n_terms int"
    )
    j = tokpos.join(F.broadcast(qterms), "term")
    anchors = (
        j.groupBy(
            "query_id",
            id_col,
            (F.col("pos") - F.col("off")).alias("anchor"),
        )
        .agg(
            F.countDistinct("off").alias("k"),
            F.first("n_terms").alias("n_terms"),
        )
        .filter(F.col("k") == F.col("n_terms"))
    )
    return anchors.groupBy("query_id", id_col).agg(
        F.count("*").cast("bigint").alias("n_matches"),
        F.min("anchor").cast("bigint").alias("first_pos"),
    )


def dsir_logweights(
    df: DataFrame,
    target_col: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 1024,
    lam: float = 0.1,
) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every document
    by how much more likely its hashed-unigram bag is under the
    TARGET distribution (rows where ``target_col`` is true — the
    curated domain to match) than under the RAW corpus distribution.

    ``log w(x) = Σ_tokens [ln p_target(h(tok)) − ln p_raw(h(tok))]``
    with tokens hashed into ``n_buckets`` md5 buckets (portable across
    engines) and Jelinek-Mercer smoothing on both bucket LMs:
    ``p = (1−λ)·c/T + λ/B`` with the SAME λ — not add-1, whose
    smoothing mass scales with 1/T and therefore biases every weight
    negative whenever the target subcorpus is smaller than the raw
    corpus (measured: add-1 selected 0 of 500 docs on the fixture;
    JM centers identically-shaped distributions at exactly 0).
    Positive means "more target-like than the raw corpus" — the
    selection gate.

    Returns ``(id_col, is_target, n_tokens, dsir_logw, selected)``;
    zero-token documents drop out (no evidence either way).

    Scale shape: ONE doc×bucket aggregate (bounded at ``n_buckets``
    rows per doc, map-side combinable), PERSISTED via the bounded
    cache because it feeds three consumers (raw LM, target LM,
    scoring) and Catalyst has no cross-branch reuse. Both LM tables
    are ≤ ``n_buckets`` rows → the scoring join and the two totals
    are all broadcasts; nothing shuffles on a skewable key. The
    corpus is read ONCE regardless of size — this is what makes DSIR
    the cheap pre-filter it is at 100 TB."""
    from mongo2pq_spark.functions.hashing import token_hash32
    from mongo2pq_spark.functions.textfns import tokens
    from mongo2pq_spark.operators.cache import cache_stream

    toks = df.select(
        F.col(id_col),
        F.col(target_col).alias("is_target"),
        F.explode(tokens(F.col(text_col))).alias("__tok"),
    )
    dtb = cache_stream(
        toks.select(
            id_col,
            "is_target",
            (token_hash32(F.col("__tok")) % n_buckets).alias("bucket"),
        )
        .groupBy(id_col, "is_target", "bucket")
        .agg(F.count("*").alias("tf"))
    )
    raw = dtb.groupBy("bucket").agg(F.sum("tf").alias("cr"))
    tgt = (
        dtb.filter(F.col("is_target"))
        .groupBy("bucket")
        .agg(F.sum("tf").alias("ct"))
    )
    # both LM tables are bounded at n_buckets rows BY CONSTRUCTION
    # (not a data-dependent size guess), so the broadcast hint is the
    # bounded-aggregate exception to the no-hints policy
    lm = (
        raw.join(F.broadcast(tgt), "bucket", "left")
        .na.fill({"ct": 0})
        .crossJoin(
            F.broadcast(
                dtb.agg(
                    F.sum("tf").alias("tr"),
                    F.sum(
                        F.when(F.col("is_target"), F.col("tf")).otherwise(0)
                    ).alias("tt"),
                )
            )
        )
        .select(
            "bucket",
            # greatest(·, 1) guards the empty-subcorpus edge: with
            # tt = 0 every ct is 0 too, and 0/1 + λ/B is exactly the
            # uniform-LM limit (0/0 would poison every weight NaN)
            (
                F.log(
                    F.lit(1.0 - lam)
                    * F.col("ct").cast("double")
                    / F.greatest(F.col("tt"), F.lit(1)).cast("double")
                    + F.lit(lam / n_buckets)
                )
                - F.log(
                    F.lit(1.0 - lam)
                    * F.col("cr").cast("double")
                    / F.greatest(F.col("tr"), F.lit(1)).cast("double")
                    + F.lit(lam / n_buckets)
                )
            ).alias("lw"),
        )
    )
    scored = dtb.join(F.broadcast(lm), "bucket")
    logw = F.round(F.sum(F.col("tf") * F.col("lw")), 6) + F.lit(0.0)
    return scored.groupBy(id_col).agg(
        F.max("is_target").alias("is_target"),
        F.sum("tf").cast("bigint").alias("n_tokens"),
        logw.alias("dsir_logw"),
        (logw > 0).alias("selected"),
    )


def html_extract_text(
    df: DataFrame, html_col: str = "html", id_col: str = "doc_id"
) -> DataFrame:
    """Main-text extraction from raw HTML — the first transformation
    every web-crawl pipeline applies (the CommonCrawl WET step),
    upstream of all the text-quality/dedup machinery here.

    Chain (entirely built-in JVM ``regexp_replace`` — map-only, zero
    shuffle, whole-stage codegen; no parser library):
    1. drop <script>/<style> elements WITH their contents (backref
       match so a <script> never closes a <style>),
    2. drop HTML comments,
    3. block-level closers (</p>, </div>, </h1-6>, </li>, </tr>, <br>)
       become newlines — paragraph structure survives extraction,
    4. every remaining tag becomes a space,
    5. decode the common entities (&lt; &gt; &quot; &#39; &apos;
       &nbsp;), with &amp; decoded LAST so "&amp;lt;" yields the
       literal "&lt;" rather than double-decoding to "<",
    6. collapse runs of spaces/tabs, trim spaces around newlines,
       collapse newline runs, trim.

    Returns ``(id_col, text, n_chars)``. This is the honest regex
    tier: good for the structurally simple HTML that dominates crawl
    corpora; a DOM-accurate extractor (malformed-markup recovery,
    CDATA, conditional comments) is a library swap behind the same
    column contract."""
    h = F.col(html_col)
    h = F.regexp_replace(h, r"(?is)<(script|style)[^>]*>.*?</\1\s*>", " ")
    h = F.regexp_replace(h, r"(?s)<!--.*?-->", " ")
    h = F.regexp_replace(
        h, r"(?i)<(br|/p|/div|/h[1-6]|/li|/tr|/title)[^>]*>", "\n"
    )
    h = F.regexp_replace(h, r"<[^>]+>", " ")
    for ent, ch in (
        ("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
        ("&#39;", "'"), ("&apos;", "'"), ("&nbsp;", " "),
        ("&amp;", "&"),  # LAST: &amp;lt; must yield literal &lt;
    ):
        h = F.regexp_replace(h, ent, ch)
    h = F.regexp_replace(h, r"[ \t]+", " ")
    h = F.regexp_replace(h, r" ?\n ?", "\n")
    h = F.regexp_replace(h, r"\n+", "\n")
    text = F.regexp_replace(F.trim(h), r"^\n+|\n+$", "")
    return df.select(
        F.col(id_col),
        text.alias("text"),
        F.length(text).cast("bigint").alias("n_chars"),
    )


def canonicalize_urls(
    df: DataFrame, url_col: str = "url", id_col: str = "doc_id"
) -> DataFrame:
    """URL canonicalization — the crawl-frontier/dedup key rule that
    collapses the many spellings of one resource BEFORE any content
    hashing: lowercase the scheme and host (path case is significant,
    so it is preserved), drop the fragment, drop default ports
    (:80 for http, :443 for https), drop utm_* tracking parameters
    (rewiring the leading '?' when the first parameter goes), and
    drop one trailing slash on a non-root path. Map-only built-in
    regexp chain, zero shuffle. Returns ``(id_col, url_canon)``."""
    u = F.col(url_col)
    # lowercase scheme://host[:port] — the authority ends at the
    # FIRST of '/', '?' or '#' (ADVICE r11: substring_index on '/'
    # alone made the head the ENTIRE url when there was no path
    # segment, lowercasing case-significant query values); path and
    # query preserved. Scheme-less strings match nothing and pass
    # through unchanged.
    auth = F.regexp_extract(u, r"^([^/?#]*://[^/?#]*)", 1)
    u = F.concat(
        F.lower(auth), u.substr(F.length(auth) + 1, F.length(u))
    )
    u = F.regexp_replace(u, r"#.*$", "")                # fragment
    # default ports: the separator after :80/:443 may be '/', '?' or
    # end-of-string (fragment is already gone)
    u = F.regexp_replace(u, r"^(http://[^/:?]+):80([/?]|$)", r"$1$2")
    u = F.regexp_replace(u, r"^(https://[^/:?]+):443([/?]|$)", r"$1$2")
    # utm stripping via separator normalization: make every parameter
    # separator '&', drop &utm_* params globally, then restore the
    # FIRST remaining separator to '?' (regexp_replace is global-only,
    # so "replace first" is a substring_index split). Assumes the
    # first '?'/'&' starts the query — the RFC-legal-but-rare literal
    # '&' inside a path is the documented non-goal.
    u = F.regexp_replace(u, r"\?", "&")
    u = F.regexp_replace(u, r"&utm_[^&]*", "")
    base = F.substring_index(u, "&", 1)
    qs = u.substr(F.length(base) + 2, F.length(u))
    u = F.when(qs != "", F.concat(base, F.lit("?"), qs)).otherwise(base)
    u = F.regexp_replace(u, r"[?&]$", "")               # dangling sep
    # ALL trailing slashes in one pass ([^/] anchor): stripping just
    # one made 'http://h//' need two passes — hypothesis found the
    # idempotence break
    u = F.regexp_replace(u, r"([^/])/+$", r"$1")
    return df.select(F.col(id_col), u.alias("url_canon"))


def html_extract_links(
    df: DataFrame, html_col: str = "html", id_col: str = "doc_id"
) -> DataFrame:
    """Outlink + robots extraction from raw HTML — the crawl-graph
    edge source (what PageRank/host-reputation run on) and the
    noindex gate, both map-only built-in expressions.

    Returns one row per anchor href: ``(id_col, link_idx, href,
    noindex)`` with ``link_idx`` the anchor's 0-based document order
    and ``noindex`` the page-level ``<meta name="robots" …
    noindex …>`` flag (constant across a page's rows). Pages with no
    anchors emit nothing — the edge table is sparse by design; join
    back to the page table for isolated nodes."""
    hrefs = F.regexp_extract_all(
        F.col(html_col),
        F.lit(r"""(?i)<a\s[^>]*?href\s*=\s*["']([^"'<>]+)["']"""),
        1,
    )
    # both attribute orders occur in real HTML: name-then-content and
    # content-then-name
    noindex = F.col(html_col).rlike(
        r"""(?i)<meta\s[^>]*name\s*=\s*["']robots["'][^>]*noindex"""
    ) | F.col(html_col).rlike(
        r"""(?i)<meta\s[^>]*noindex[^>]*name\s*=\s*["']robots["']"""
    )
    return df.select(
        F.col(id_col),
        F.posexplode(hrefs).alias("link_idx", "href"),
        noindex.alias("noindex"),
    ).select(id_col, "link_idx", "href", "noindex")


def robots_allowed(
    df: DataFrame,
    robots_col: str = "robots_txt",
    url_col: str = "url",
    id_col: str = "doc_id",
    agent: str = "trainbot",
) -> DataFrame:
    """Crawl-politeness gate: evaluate each (robots.txt, URL) pair
    with the stdlib ``urllib.robotparser`` — per-agent groups with
    ``*`` fallback and FIRST-MATCH rule order (the stdlib's classic
    REP reading: an Allow must precede the Disallow it carves out of;
    Google's longest-match variant is the documented library swap) —
    emitting ``(id_col, allowed, crawl_delay)``. A pipeline that ingests
    crawled HTML is expected to prove it HONORED robots; this is the
    batch-audit form of that proof. Arrow-batched mapInPandas with a
    per-batch parser memo keyed by the robots body (hosts repeat
    heavily in a crawl); map-only."""
    from mongo2pq_spark.deploy import ensure_shipped

    ensure_shipped(df.sparkSession)

    def check_batches(batches):
        import urllib.robotparser

        import pandas as pd

        cache: dict[str, urllib.robotparser.RobotFileParser] = {}
        for pdf in batches:
            out = {"_id": [], "allowed": [], "crawl_delay": []}
            for doc_id, robots, url in zip(
                pdf[id_col], pdf[robots_col], pdf[url_col]
            ):
                rp = cache.get(robots)
                if rp is None:
                    rp = urllib.robotparser.RobotFileParser()
                    rp.parse((robots or "").splitlines())
                    cache[robots] = rp
                delay = rp.crawl_delay(agent)
                out["_id"].append(doc_id)
                out["allowed"].append(rp.can_fetch(agent, url))
                out["crawl_delay"].append(
                    int(delay) if delay is not None else None
                )
            yield pd.DataFrame(out).rename(columns={"_id": id_col})

    return df.mapInPandas(
        check_batches, f"{id_col} bigint, allowed boolean, crawl_delay int"
    )


SITEMAP_NS = "http://www.sitemaps.org/schemas/sitemap/0.9"


def parse_sitemap_index(payload: str) -> list[dict]:
    """Parse a sitemap.org ``<sitemapindex>`` (the 'sitemap of
    sitemaps' large sites ship, r17): one dict per ``<sitemap>`` with
    ``loc`` (required) and ``lastmod`` (optional → None) — the
    frontier rows a crawl scheduler feeds its FETCH layer (the
    fetching itself stays out of scope here; the parse is local).
    Malformed XML or a non-index root fails loud."""
    import xml.etree.ElementTree as ET

    try:
        root = ET.fromstring(payload)
    except ET.ParseError as err:
        raise ValueError(f"malformed sitemap XML: {err}") from err
    tag = root.tag.split("}")[-1]
    if tag != "sitemapindex":
        raise ValueError(f"not a sitemap index (root <{tag}>)")
    ns = {"s": SITEMAP_NS}
    out = []
    for i, sm in enumerate(root.findall("s:sitemap", ns)):
        loc = sm.find("s:loc", ns)
        if loc is None or not (loc.text or "").strip():
            raise ValueError(f"sitemap index entry #{i} has no <loc>")
        lastmod = sm.find("s:lastmod", ns)
        out.append(
            {
                "sitemap_idx": i,
                "loc": loc.text.strip(),
                "lastmod": lastmod.text.strip()
                if lastmod is not None and lastmod.text
                else None,
            }
        )
    return out


def parse_sitemap(payload: str) -> list[dict]:
    """Parse a sitemap.org ``<urlset>`` document (stdlib ElementTree,
    namespace-aware): one dict per ``<url>`` with ``loc`` (required —
    missing fails loud), ``lastmod`` and ``priority`` (optional →
    None). ``<sitemapindex>`` files raise ``NotImplementedError`` at
    this layer pointing at ``parse_sitemap_index`` (r17) — the INDEX
    enumerates child sitemaps to fetch, each of which parses here.
    Malformed XML fails loud."""
    import xml.etree.ElementTree as ET

    try:
        root = ET.fromstring(payload)
    except ET.ParseError as err:
        raise ValueError(f"malformed sitemap XML: {err}") from err
    tag = root.tag.split("}")[-1]
    if tag == "sitemapindex":
        raise NotImplementedError(
            "sitemap INDEX: parse it with parse_sitemap_index (child "
            "sitemap enumeration), fetch the children, parse each "
            "child here"
        )
    if tag != "urlset":
        raise ValueError(f"not a sitemap urlset (root <{tag}>)")
    ns = {"s": SITEMAP_NS}
    out = []
    for i, url in enumerate(root.findall("s:url", ns)):
        loc = url.find("s:loc", ns)
        if loc is None or not (loc.text or "").strip():
            raise ValueError(f"sitemap url #{i} has no <loc>")
        lastmod = url.find("s:lastmod", ns)
        prio = url.find("s:priority", ns)
        out.append(
            {
                "url_idx": i,
                "loc": loc.text.strip(),
                "lastmod": lastmod.text.strip()
                if lastmod is not None and lastmod.text
                else None,
                "priority": float(prio.text)
                if prio is not None and prio.text
                else None,
            }
        )
    return out


def sitemap_urls(
    df: DataFrame, xml_col: str = "xml", id_col: str = "doc_id"
) -> DataFrame:
    """Arrow-batched sitemap explode: one sitemap row → one row per
    ``<url>`` — the crawl-frontier seed source next to the outlink
    extractor. Map-only."""
    from mongo2pq_spark.deploy import ensure_shipped

    ensure_shipped(df.sparkSession)

    def parse_batches(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for doc_id, xml in zip(pdf[id_col], pdf[xml_col]):
                for rec in parse_sitemap(xml):
                    rec["doc_id"] = doc_id
                    rows.append(rec)
            yield pd.DataFrame(rows)

    return df.mapInPandas(
        parse_batches,
        f"{id_col} bigint, url_idx int, loc string, lastmod string, "
        "priority double",
    )


def sitemap_index_entries(
    df: DataFrame, xml_col: str = "xml", id_col: str = "doc_id"
) -> DataFrame:
    """Arrow-batched sitemap-INDEX explode (r17): one index row →
    one row per child ``<sitemap>`` — the frontier table a crawl
    scheduler joins against fetch state. Map-only."""
    from mongo2pq_spark.deploy import ensure_shipped

    ensure_shipped(df.sparkSession)

    def parse_batches(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for doc_id, xml in zip(pdf[id_col], pdf[xml_col]):
                for rec in parse_sitemap_index(xml):
                    rec["doc_id"] = doc_id
                    rows.append(rec)
            yield pd.DataFrame(rows)

    return df.mapInPandas(
        parse_batches,
        f"{id_col} bigint, sitemap_idx int, loc string, lastmod string",
    )


def parse_srt(payload: str) -> list[dict]:
    """Parse SubRip (.srt) timed text — the format subtitle/speech
    corpora ship in: blank-line-separated cues of ``index``,
    ``HH:MM:SS,mmm --> HH:MM:SS,mmm``, and one or more text lines.
    Returns ``[{cue_idx, start_ms, end_ms, text}]`` with multi-line
    cue text joined by ``\\n``. Fails loud on malformed timestamps,
    non-numeric indices, or end ≤ start (the corruption a timed-text
    aligner must not silently ingest)."""
    import re

    ts = re.compile(
        r"^(\d{2}):(\d{2}):(\d{2})[,.](\d{3})\s*-->\s*"
        r"(\d{2}):(\d{2}):(\d{2})[,.](\d{3})\s*$"
    )

    def ms(h, m, s, mms):
        return ((int(h) * 60 + int(m)) * 60 + int(s)) * 1000 + int(mms)

    out = []
    blocks = re.split(r"\n\s*\n", payload.strip())
    for block in blocks:
        lines = [ln.rstrip("\r") for ln in block.strip().splitlines()]
        if not lines:
            continue
        if not lines[0].strip().isdigit():
            raise ValueError(f"srt cue has a non-numeric index: {lines[0]!r}")
        if len(lines) < 2:
            raise ValueError(f"srt cue {lines[0]} has no timing line")
        m = ts.match(lines[1].strip())
        if not m:
            raise ValueError(f"srt cue {lines[0]} has a bad timing line: "
                             f"{lines[1]!r}")
        g = m.groups()
        start, end = ms(*g[:4]), ms(*g[4:])
        if end <= start:
            raise ValueError(
                f"srt cue {lines[0]} ends before it starts "
                f"({start} >= {end} ms)"
            )
        out.append(
            {
                "cue_idx": int(lines[0]),
                "start_ms": start,
                "end_ms": end,
                "text": "\n".join(lines[2:]),
            }
        )
    if not out:
        raise ValueError("srt payload contains no cues")
    return out


def srt_cues(
    df: DataFrame, srt_col: str = "srt", id_col: str = "doc_id"
) -> DataFrame:
    """Arrow-batched SRT explode: one subtitle file row → one row per
    cue — the ingestion step for timed-text (subtitle/ASR-alignment)
    corpora, upstream of the text-quality/dedup machinery. Map-only."""
    from mongo2pq_spark.deploy import ensure_shipped

    ensure_shipped(df.sparkSession)

    def parse_batches(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for doc_id, srt in zip(pdf[id_col], pdf[srt_col]):
                for rec in parse_srt(srt):
                    rec["doc_id"] = doc_id
                    rows.append(rec)
            yield pd.DataFrame(rows)

    return df.mapInPandas(
        parse_batches,
        f"{id_col} bigint, cue_idx int, start_ms bigint, "
        "end_ms bigint, text string",
    )


# -- encoding repair (mojibake) ----------------------------------------------

#: cp1252's 0x80-0x9F graphic characters (the 27 positions where
#: Windows-1252 disagrees with ISO-8859-1, which maps them to C1
#: controls). Mojibake produced by a cp1252 misdecode shows these
#: glyphs (â€™ for a right quote); folding them back to their byte
#: positions makes the text latin-1-encodable so the byte stream can
#: be re-decoded as UTF-8 — the ftfy repair, in two JVM translates.
_CP1252_GRAPHICS = {
    0x80: 0x20AC, 0x82: 0x201A, 0x83: 0x0192, 0x84: 0x201E,
    0x85: 0x2026, 0x86: 0x2020, 0x87: 0x2021, 0x88: 0x02C6,
    0x89: 0x2030, 0x8A: 0x0160, 0x8B: 0x2039, 0x8C: 0x0152,
    0x8E: 0x017D, 0x91: 0x2018, 0x92: 0x2019, 0x93: 0x201C,
    0x94: 0x201D, 0x95: 0x2022, 0x96: 0x2013, 0x97: 0x2014,
    0x98: 0x02DC, 0x99: 0x2122, 0x9A: 0x0161, 0x9B: 0x203A,
    0x9C: 0x0153, 0x9E: 0x017E, 0x9F: 0x0178,
}
_CP1252_GLYPHS = "".join(chr(u) for u in _CP1252_GRAPHICS.values())
_CP1252_BYTES = "".join(chr(b) for b in _CP1252_GRAPHICS)


def cp1252_fold(col: Column) -> Column:
    """Map cp1252's 0x80-0x9F glyphs to their byte positions (as C1
    chars) — the pre-step that makes cp1252 mojibake latin-1
    encodable."""
    return F.translate(col, _CP1252_GLYPHS, _CP1252_BYTES)


def cp1252_unfold(col: Column) -> Column:
    """Inverse of ``cp1252_fold`` — used by fixtures to BUILD
    faithful cp1252 mojibake from clean text."""
    return F.translate(col, _CP1252_BYTES, _CP1252_GLYPHS)


def fix_mojibake(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Repair UTF-8-as-cp1252/latin-1 mojibake ('Ã©' → 'é',
    'â€™' → '’') — the first normalization pass of every web-corpus
    pipeline (ftfy's core rule), as a map-only chain of built-in JVM
    expressions: translate + encode + decode, no Python worker.

    The repair rule is deterministic and self-gating: fold cp1252
    glyphs to their byte positions; if the folded text is then fully
    latin-1 encodable AND its byte stream forms STRUCTURALLY VALID
    UTF-8 with at least one multi-byte sequence (checked by the
    standard UTF-8 validation regex over the latin-1 chars — the
    real gate: genuine text misread as mojibake virtually never
    forms valid multi-byte UTF-8; Spark 4's ``decode`` THROWS on
    malformed input, so validity must be established before the
    decode branch evaluates), re-encode to bytes and decode as
    UTF-8. Everything else passes through untouched, including
    genuinely accented latin-1/UTF-8 text ('déjà vu': 0xE9 starts a
    3-byte sequence that the following ASCII can't continue →
    invalid → untouched). One pass repairs one mis-decode
    generation; doubly-encoded text converges under repeated
    application (idempotent once clean).

    Returns ``(id_col, was_mojibake, text)`` with ``text`` repaired
    or original. Scale shape: narrow projection, fully codegen'd,
    zero shuffle."""
    cand = F.col(text_col)
    folded = cp1252_fold(cand)
    # RFC 3629 well-formed UTF-8 over latin-1 chars-as-bytes, with
    # >=1 multi-byte sequence required (pure ASCII would "repair" to
    # itself); rejects overlongs, surrogates and >U+10FFFF
    valid_utf8 = folded.rlike(
        r"^(?:[\x00-\x7f]|[\xc2-\xdf][\x80-\xbf]"
        r"|\xe0[\xa0-\xbf][\x80-\xbf]|[\xe1-\xec][\x80-\xbf]{2}"
        r"|\xed[\x80-\x9f][\x80-\xbf]|[\xee-\xef][\x80-\xbf]{2}"
        r"|\xf0[\x90-\xbf][\x80-\xbf]{2}|[\xf1-\xf3][\x80-\xbf]{3}"
        r"|\xf4[\x80-\x8f][\x80-\xbf]{2})*$"
    ) & folded.rlike(r"[\x80-\xff]")
    # decode stays INSIDE the when-branch: CASE evaluates branches
    # lazily, so the throwing path never runs on invalid input
    fixed = F.when(
        valid_utf8, F.decode(F.encode(folded, "ISO-8859-1"), "UTF-8")
    ).otherwise(cand)
    return df.select(
        F.col(id_col),
        (valid_utf8 & (fixed != cand)).alias("was_mojibake"),
        fixed.alias("text"),
    )
